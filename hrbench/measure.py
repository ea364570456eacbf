"""One benchmark run in one Spark process (started by ``run.py``).

Phases, in order:
1. host calibration and /proc/stat snapshot;
2. expected answer digests (DuckDB oracle, cached by fixture pins) —
   untimed, outside set-up;
3. set-up: the SparkSession (this launches the JVM), the workload's pinned
   confs and the fixture check (parquet row counts and content hashes);
   with the cache on, also a row count of every table read through
   ``io.read_table``, checked against its pin, which builds the cache;
4. the first pass: each query built and collected (timed), its answer
   digest compared (untimed);
5. a fixed number of steady passes through the ``noop`` sink: one per
   ``PASS_SECONDS`` of ``--seconds``, at least one, whatever the program's
   speed, so every count and median covers the same work; with
   ``--trace 1`` untraced and traced passes alternate, first and last
   untraced;
6. footprint after both garbage collectors ran, with one canary of each
   kind planted first so a count is never zero and proves the counter;
7. host calibration and /proc/stat again.

Prints one detail JSON line, then the result JSON as the last line.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import statistics
import sys
import time
import traceback

from hrbench import checks
from hrbench.trace import Tracer, layer_names
from hrbench.workloads import WORKLOADS, pass_order

PASS_SECONDS = 30  # --seconds per steady pass
CANARY = "hrbench_canary"
CALIB_N = 2_000_000

END_TO_END_UNITS = {
    "setup_s": "s",
    "first_pass_s": "s",
    "queries_per_s": "1/s",
    "query_gmean_s": "s",
    "query_p90_s": "s",
    "ok_share": "share",
    "persisted_rdds_end": "count",
    "memory_tables_end": "count",
    "scratch_entries_end": "count",
}


def calibrate() -> float:
    """Seconds for a fixed pure-Python loop: the host's speed right now."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(CALIB_N):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])  # user..steal; guest time is inside user
    return delta[7] / total if total > 0 else 0.0


def layer_modules(qnames: list[str], registry: dict) -> list[str]:
    """Short names of the modules defining every benchmarked query."""
    mods = set()
    for w in WORKLOADS.values():
        for prefix in w.queries:
            mods.add(registry_module(resolve(prefix, qnames), registry))
    return sorted(mods)


def registry_module(name: str, registry: dict) -> str:
    fn = registry[name]
    return getattr(fn, "__wrapped__", fn).__module__.rsplit(".", 1)[-1]


def resolve(prefix: str, qnames: list[str]) -> str:
    hits = [n for n in qnames if n.split("_", 1)[0] == prefix]
    if len(hits) != 1:
        raise LookupError(f"query prefix {prefix!r} matches {hits}")
    return hits[0]


def per_layer_names(qnames: list[str]) -> list[str]:
    """Every per-layer metric a traced run prints, in order."""
    import hive_reflex_spark.operators  # noqa: F401 (registers queries)
    from hive_reflex_spark.registry import QUERIES

    base = layer_names(layer_modules(qnames, QUERIES))
    return base + [f"first.{name}" for name in base] + [
        "scheduler.job_floor_s", "host.steal_share", "host.calib_s", "trace.overhead_s",
    ]


def check_answers(answers: dict, expected: dict) -> dict[str, bool]:
    """Per query: did it answer, and does the answer match its digest?"""
    return {
        q: q in answers and want is not None and checks.digest(*answers[q]) == want
        for q, want in expected.items()
    }


def footprint(spark, tmpdir: str) -> tuple[dict[str, float], bool, list[str]]:
    """What the session still holds, after both garbage collectors ran.

    One canary of each kind is planted first, so every count is at least
    one and the second value says whether the counters saw all three. The
    third names the persisted RDDs (first line of each plan).
    The JVM holds persisted RDDs weakly, so they go only once py4j has
    released the Python side's references. py4j sends those releases from
    a finalizer thread; collection waits for its queue to drain and
    repeats until the persisted-RDD count stops changing (one JVM
    collection alone left 5 to 9 on ``cold``)."""
    sc = spark.sparkContext
    rdds = sc._jsc.getPersistentRDDs
    pending = getattr(sc._gateway._gateway_client, "finalizer_deque", ())
    last = None
    for _ in range(8):
        gc.collect()
        deadline = time.monotonic() + 5.0
        while len(pending) and time.monotonic() < deadline:
            time.sleep(0.02)
        sc._jvm.java.lang.System.gc()
        time.sleep(0.1)
        n = rdds().size()
        if n == last:
            break
        last = n
    canary_rdd = sc.parallelize([0], 1).persist()
    spark.range(1).createOrReplaceTempView(CANARY)
    os.makedirs(os.path.join(tmpdir, f"hrs_{CANARY}"), exist_ok=True)
    persisted = rdds()
    views = [t.name for t in spark.catalog.listTables() if t.isTemporary]
    scratch = [e for e in os.listdir(tmpdir) if e.startswith("hrs_")]
    seen = (
        persisted.containsKey(canary_rdd.id())
        and CANARY in views
        and f"hrs_{CANARY}" in scratch
    )
    rdd_names = sorted(str(r.toString()).split("\n")[0][:120] for r in persisted.values())
    counts = {
        "persisted_rdds_end": float(persisted.size()),
        "memory_tables_end": float(len(views)),
        "scratch_entries_end": float(len(scratch)),
    }
    canary_rdd.unpersist()
    spark.catalog.dropTempView(CANARY)
    os.rmdir(os.path.join(tmpdir, f"hrs_{CANARY}"))
    return counts, seen, rdd_names


def steady_passes(seconds: float) -> int:
    """Steady passes of an untraced run: fixed by ``--seconds`` alone."""
    return max(1, int(seconds // PASS_SECONDS))


def p90(samples: list[float]) -> float:
    return statistics.quantiles(samples, n=10, method="inclusive")[-1]


class Run:
    def __init__(self, args):
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.tmpdir = os.environ["TMPDIR"]
        self.t_start = time.perf_counter()
        self.spark = None
        self.failures: list[str] = []
        self.attempted = 0

    # -- set-up ----------------------------------------------------------
    def setup(self, pins: dict) -> float:
        from hive_reflex_spark import io
        from hive_reflex_spark.session import get_spark

        wl = self.wl
        t0 = time.perf_counter()
        spark = get_spark(f"hrbench-{wl.name}")
        spark.conf.set("spark.sql.shuffle.partitions", str(wl.shuffle_partitions))
        spark.conf.set("spark.sql.adaptive.enabled", str(wl.aqe).lower())
        checks.check_fixture(wl.sf_dir, pins)
        if wl.cache:  # the cache build
            io.enable_df_cache(table_partitions=2 * wl.shuffle_partitions)
            for table, pin in sorted(pins.items()):
                n = io.read_table(spark, wl.sf_dir, table).count()
                if n != pin["rows"]:
                    raise checks.FixtureError(
                        f"{table}: Spark read {n} rows, pinned {pin['rows']}"
                    )
        self.spark = spark
        return time.perf_counter() - t0

    # -- passes ----------------------------------------------------------
    def run_query(self, name, fn, collect: bool, tracer, module: str):
        """Returns (seconds, rows, DataFrame); rows is None on failure."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            df = fn(self.spark, self.wl.sf_dir)
            t_built = time.perf_counter()
            if collect:
                rows = df.collect()
            else:
                df.write.format("noop").mode("overwrite").save()
                rows = []
            dt = time.perf_counter() - t0
        except Exception:  # noqa: BLE001 — a failing query is a result
            traceback.print_exc(file=sys.stderr)
            self.failures.append(f"{name}: raised")
            return time.perf_counter() - t0, None, None
        if tracer is not None:
            tracer.record_build(module, t_built - t0)
        return dt, rows, df

    def run_pass(self, index, names, registry, tracer, collect=False):
        order = pass_order(tuple(self.wl.queries), self.args.seed, index)
        if tracer is not None:
            tracer.start()
        times, answers, failed = {}, {}, set()
        t0 = time.perf_counter()
        for prefix in order:
            name = names[prefix]
            dt, rows, df = self.run_query(
                name, registry[name], collect, tracer,
                registry_module(name, registry),
            )
            times[prefix] = dt
            if rows is None:
                failed.add(prefix)
            elif collect:
                answers[prefix] = (df.columns, rows)
        wall = time.perf_counter() - t0
        layers = tracer.stop(wall) if tracer is not None else None
        return wall, times, answers, layers, failed

    def job_floor(self) -> float:
        """Median wall of a no-work single-stage action through the sink."""
        walls = []
        for _ in range(3):
            t0 = time.perf_counter()
            self.spark.range(self.wl.shuffle_partitions).write.format("noop").mode(
                "overwrite").save()
            walls.append(time.perf_counter() - t0)
        return statistics.median(walls)

    # -- the run ---------------------------------------------------------
    def execute(self) -> tuple[dict, dict]:
        args, wl = self.args, self.wl
        calib_before = calibrate()
        stat_before = cpu_times()

        import hive_reflex_spark.operators  # noqa: F401 (registers queries)
        from hive_reflex_spark.registry import ORACLES, QUERIES

        qnames = list(QUERIES)
        names = {p: resolve(p, qnames) for p in wl.queries}
        all_pins = checks.load_pins()
        pins = all_pins["fixtures"][wl.sf]
        fx_hash = checks.pins_hash(pins)
        oracle = checks.ExpectedDigests(
            os.path.join(os.environ["HRBENCH_WORK"], "oracle_digests.json")
        )
        expected_by_name = oracle.resolve(
            list(names.values()), ORACLES, wl.sf_dir, fx_hash,
            all_pins["rows_only"].get(wl.sf, {}),
        )
        expected = {p: expected_by_name[n] for p, n in names.items()}

        phases = {"start": time.perf_counter() - self.t_start}
        setup_s = self.setup(pins)
        oracle.save()  # only digests of a fixture that matched its pins
        tracer = Tracer(self.spark) if args.trace else None

        t_measure = time.perf_counter()
        first_wall, first, answers, first_layers, _ = self.run_pass(
            0, names, QUERIES, tracer, collect=True
        )
        ok = check_answers(answers, expected)
        for prefix, good in ok.items():
            if prefix in answers and not good:
                self.failures.append(f"{names[prefix]}: answer differs from its digest")
                print(f"MISMATCH {names[prefix]}", file=sys.stderr)
        del answers  # hundreds of thousands of rows; the footprint's gc walks them

        # Traced runs alternate untraced and traced passes and end on an
        # untraced one, so a warm-up trend cancels out of trace.overhead_s.
        n = steady_passes(args.seconds)
        steady: list[tuple[float, dict, dict]] = []
        traced: list[tuple[float, dict, dict]] = []
        for index in range(1, 2 * n + 2 if args.trace else n + 1):
            use_tracer = tracer if index % 2 == 0 else None
            wall, times, _, layers, failed = self.run_pass(
                index, names, QUERIES, use_tracer
            )
            for prefix in failed:
                ok[prefix] = False
            (traced if use_tracer else steady).append((wall, times, layers))

        phases["passes"] = time.perf_counter() - t_measure
        floor = self.job_floor() if args.trace else None
        t_foot = time.perf_counter()
        counts, canaries_seen, rdd_names = footprint(self.spark, self.tmpdir)
        phases["footprint"] = time.perf_counter() - t_foot
        if not canaries_seen:
            self.failures.append("footprint counter missed a canary")
        calib_after = calibrate()
        stat_after = cpu_times()

        # -- end-to-end metrics (untraced passes only) --------------------
        walls = [w for w, _, _ in steady]
        per_query = {
            p: statistics.median(times[p] for _, times, _ in steady) for p in wl.queries
        }
        pooled = [t for _, times, _ in steady for t in times.values()]
        ok_share = sum(ok.values()) / len(wl.queries)
        e2e = {
            "setup_s": setup_s,
            "first_pass_s": sum(first.values()),
            "queries_per_s": len(wl.queries) / statistics.median(walls),
            "query_gmean_s": math.exp(
                statistics.fmean(math.log(t) for t in per_query.values())
            ),
            "query_p90_s": p90(pooled),
            "ok_share": ok_share,
            **counts,
        }

        host = {
            "host.steal_share": steal_share(stat_before, stat_after),
            "host.calib_s": (calib_before + calib_after) / 2,
        }
        per_layer = None
        if args.trace:
            base = layer_names(layer_modules(qnames, QUERIES))
            values = {
                name: statistics.median(layers.get(name, 0.0) for _, _, layers in traced)
                for name in base
            }
            values.update({f"first.{name}": first_layers.get(name, 0.0) for name in base})
            values["scheduler.job_floor_s"] = floor
            values.update(host)
            values["trace.overhead_s"] = (
                statistics.median(w for w, _, _ in traced) - statistics.median(walls)
            )
            per_layer = {name: values[name] for name in per_layer_names(qnames)}

        detail = {
            "workload": wl.name,
            "seed": args.seed,
            "trace": args.trace,
            "config": {
                "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
                "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
                "PYSPARK_SUBMIT_ARGS": os.environ.get("PYSPARK_SUBMIT_ARGS"),
                "PYTHONHASHSEED": os.environ.get("PYTHONHASHSEED"),
                "TMPDIR": self.tmpdir,
                "SPARK_LOCAL_DIRS": os.environ.get("SPARK_LOCAL_DIRS"),
                "shuffle_partitions": wl.shuffle_partitions,
                "aqe": wl.aqe,
                "df_cache": wl.cache,
                "sf_dir": wl.sf_dir,
                "fixture_hash": fx_hash,
            },
            "samples": {
                "first_pass_s": len(first),
                "steady_passes": len(steady),
                "traced_passes": len(traced),
                "query_p90_s": len(pooled),
                "beyond_p90": sum(1 for t in pooled if t > e2e["query_p90_s"]),
            },
            "phases_s": phases,
            "first_pass_wall_s": first_wall,
            "first_s": first,
            "steady_median_s": per_query,
            "steady_pass_walls_s": walls,
            "host": {
                **host, "calib_before_s": calib_before, "calib_after_s": calib_after,
            },
            "failures": self.failures,
            "canaries_seen": canaries_seen,
            "persisted_rdds": rdd_names,
        }
        metrics = per_layer if args.trace else e2e
        result = {
            "correct": ok_share == 1.0 and canaries_seen,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "metrics": {
                n: {"value": v, "unit": END_TO_END_UNITS.get(n) or layer_unit(n)}
                for n, v in metrics.items()
            },
        }
        return detail, result

    def shutdown(self):
        """Stop Spark and wait until the JVM it launched has exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            proc.wait(timeout=60)


def layer_unit(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_mb"):
        return "MiB"
    if name.endswith("_share") or name.endswith("_ratio"):
        return "share"
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    run = Run(args)
    try:
        detail, result = run.execute()
    finally:
        run.shutdown()
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
