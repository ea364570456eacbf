"""Self-tests of the benchmark.

    python3 -m pytest hrbench -q     (from the repository root)

The last two tests start a small local Spark session (~15 s).
"""

from __future__ import annotations

import json
import os
import re
import time

import pytest

from hrbench import checks
from hrbench.measure import END_TO_END_UNITS, check_answers, footprint, per_layer_names
from hrbench.trace import Tracer, parse_metric_value
from hrbench.workloads import WORKLOADS, pass_order

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
SMALL_SF = "/root/testdata/sf0.001"


def registry():
    import hive_reflex_spark.operators  # noqa: F401 (registers queries)
    from hive_reflex_spark.registry import QUERIES

    return QUERIES


def test_metric_names_match_the_contract_and_the_runs():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = [m["name"] for m in bench["end_to_end"]]
    layers = [m["name"] for m in bench["per_layer"]]
    names = e2e + layers + [w["name"] for w in bench["workloads"]]
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert len(set(e2e + layers)) == len(e2e + layers)
    assert e2e == list(END_TO_END_UNITS)
    assert layers == per_layer_names(list(registry()))
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(WORKLOADS)


def test_same_seed_gives_the_same_order_and_odd_passes_reverse():
    qs = WORKLOADS["headline"].queries
    assert pass_order(qs, 7, 0) == pass_order(qs, 7, 0)
    assert pass_order(qs, 7, 1) == pass_order(qs, 7, 0)[::-1]
    assert pass_order(qs, 7, 2) == pass_order(qs, 7, 0)
    assert sorted(pass_order(qs, 7, 0)) == sorted(qs)
    assert any(pass_order(qs, s, 0) != pass_order(qs, 7, 0) for s in range(8))


def test_an_injected_wrong_answer_lowers_ok_share():
    cols = ["k", "v"]
    rows = [(1, 0.5), (2, 1.25)]
    expected = {"qa": checks.digest(cols, rows), "qb": checks.digest(cols, rows)}
    answers = {"qa": (cols, list(reversed(rows))), "qb": (cols, rows)}
    assert check_answers(answers, expected) == {"qa": True, "qb": True}
    answers["qb"] = (cols, [(1, 0.5), (2, 1.26)])
    ok = check_answers(answers, expected)
    assert ok == {"qa": True, "qb": False}
    assert sum(ok.values()) / len(ok) == 0.5


def test_digest_treats_numbers_as_check_oracle_does():
    assert checks.digest(["a"], [(1,)]) == checks.digest(["a"], [(1.0,)])
    assert checks.digest(["a"], [(True,)]) == checks.digest(["a"], [(1,)])
    assert checks.digest(["a"], [(0.1 + 0.2,)]) == checks.digest(["a"], [(0.3,)])
    assert checks.digest(["a"], [(1,)]) != checks.digest(["a"], [(2,)])


def test_python_node_metric_values_parse():
    assert parse_metric_value("2.1 s") == pytest.approx(2.1)
    assert parse_metric_value("898 ms") == pytest.approx(0.898)
    assert parse_metric_value("771.3 KiB") == pytest.approx(771.3 / 1024)
    total = "total (min, med, max (stageId: taskId))\\n1,024.0 MiB (1.0 MiB, 2.0 MiB)"
    assert parse_metric_value(total) == pytest.approx(1024.0)


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from hive_reflex_spark.session import get_spark

    session = get_spark("hrbench-selftest")
    yield session
    session.stop()


def test_footprint_counts_a_leaked_memory_sink_and_scratch_entry(spark, tmp_path):
    from hive_reflex_spark.streaming.ops import run_to_memory, stream_events

    before, seen, _ = footprint(spark, str(tmp_path))
    assert seen
    run_to_memory(stream_events(spark, SMALL_SF).groupBy("event_type").count())
    (tmp_path / "hrs_leaked").mkdir()
    after, seen, _ = footprint(spark, str(tmp_path))
    assert seen
    assert after["memory_tables_end"] == before["memory_tables_end"] + 1
    assert after["scratch_entries_end"] == before["scratch_entries_end"] + 1


def test_tracing_adds_no_spark_job(spark):
    query = registry()["q01_pricing_summary"]
    tracer = Tracer(spark)

    def one_pass(traced: bool) -> float:
        if traced:
            tracer.start()
        t0_ms = int(time.time() * 1000)
        query(spark, SMALL_SF).write.format("noop").mode("overwrite").save()
        if traced:
            return tracer.stop(1.0)["scheduler.jobs"]
        t1_ms = int(time.time() * 1000)
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        return tracer._scheduler(t0_ms, t1_ms, 1.0)["scheduler.jobs"]

    one_pass(False)  # first use: caches and code paths warm
    untraced = one_pass(False)
    assert untraced >= 1
    assert one_pass(True) == untraced
