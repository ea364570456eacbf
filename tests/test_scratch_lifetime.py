"""Session side effects have one owner: every query that round-trips
through local files works under the process's scratch root
(``io.scratch``), and memory sinks drop their temp view as soon as the
returned frame holds the rows. A long-lived session that repeats queries
therefore returns to its starting footprint, and the root leaves with its
process."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

from tests.conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# one per side-effect kind: memory sink + stream staging (q62), streaming
# foreachBatch work dir (q104, q172), sink round-trip file (q161)
SIDE_EFFECT_QUERIES = (
    "q62_streaming_hourly",
    "q104_incremental_rollup",
    "q161_profile_csv_roundtrip",
    "q172_log_shipping_roundtrip",
)


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def _hrs_entries() -> set[str]:
    return {e for e in os.listdir(tempfile.gettempdir()) if e.startswith("hrs_")}


def test_repeated_queries_leave_no_view_and_one_root(spark):
    import hive_reflex_spark.operators  # noqa: F401 — registers queries
    from hive_reflex_spark.registry import QUERIES

    views0, entries0 = _temp_views(spark), _hrs_entries()
    first = {}
    for _ in range(2):
        for name in SIDE_EFFECT_QUERIES:
            rows = sorted(map(tuple, QUERIES[name](spark, SF_SMOKE).collect()))
            assert rows, name
            assert first.setdefault(name, rows) == rows, name
    assert _temp_views(spark) == views0
    root = f"hrs_{os.getpid()}"
    assert _hrs_entries() - entries0 <= {root}
    assert root in _hrs_entries()


def _run_scratch_in_subprocess(tmpdir: str) -> str:
    """Call scratch() in a fresh interpreter with TMPDIR=tmpdir; return
    the path it handed out."""
    out = subprocess.run(
        [sys.executable, "-c",
         "from hive_reflex_spark.io import scratch; print(scratch('x'))"],
        cwd=REPO, env={**os.environ, "TMPDIR": tmpdir},
        capture_output=True, text=True, check=True,
    )
    return out.stdout.strip()


def test_dead_roots_are_reaped_and_live_ones_kept(tmp_path):
    dead = subprocess.Popen([sys.executable, "-c", "pass"])
    dead.wait()
    for name in (f"hrs_{dead.pid}", f"hrs_{os.getpid()}", "hrs_other"):
        (tmp_path / name / "work").mkdir(parents=True)
    _run_scratch_in_subprocess(str(tmp_path))
    assert not (tmp_path / f"hrs_{dead.pid}").exists()
    assert (tmp_path / f"hrs_{os.getpid()}" / "work").is_dir()
    assert (tmp_path / "hrs_other" / "work").is_dir()


def test_subprocess_root_is_removed_at_exit(tmp_path):
    path = _run_scratch_in_subprocess(str(tmp_path))
    root = os.path.dirname(path)
    assert os.path.dirname(root) == str(tmp_path)
    assert os.path.basename(root).startswith("hrs_")
    assert not os.path.exists(root)
    assert os.listdir(tmp_path) == []
