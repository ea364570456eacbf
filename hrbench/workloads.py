"""The benchmark's workloads and the seeded order of their passes.

A workload names registry queries by their prefix (``q01`` for
``q01_pricing_summary``); the seed only shuffles the order of the first
pass, and every odd pass runs the previous pass in reverse.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

TESTDATA = "/root/testdata"


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    sf: str  # fixture directory name under TESTDATA
    queries: tuple[str, ...]
    cache: bool  # io.enable_df_cache on (bench.py's warm shape)
    shuffle_partitions: int
    aqe: bool

    @property
    def sf_dir(self) -> str:
        return f"{TESTDATA}/{self.sf}"


HEADLINE = Workload(
    name="headline",
    why="the 15 bench.py headline queries at sf0.1 with the DataFrame cache on: "
    "cached reads, execution-bound steady passes",
    sf="sf0.1",
    queries=(
        "q01", "q03", "q07", "q11", "q14", "q19", "q30", "q34",
        "q47", "q49", "q50", "q52", "q53", "q66", "q59a",
    ),
    cache=True,
    # what bench.py's configure_for picks for the 17 MB sf0.1 input
    shuffle_partitions=8,
    aqe=False,
)

COLD = Workload(
    name="cold",
    why="one query per materialization, scratch-dir, memory-sink and "
    "Python-worker mechanism at sf0.01 with the cache off: first use and "
    "side effects",
    sf="sf0.01",
    queries=(
        "q258",  # corpus_checkpoint
        "q285",  # chain_checkpoint
        "q236",  # maybe_local_checkpoint
        "q46",  # tracked_persist
        "q62",  # run_to_memory (file stream -> memory sink)
        "q161",  # hand-rolled scratch dir under tempfile.gettempdir()
        "q68",  # applyInPandas (rows-only: pinned digest)
        "q30b",  # mapInPandas
        "q100",  # Python UDTF
    ),
    cache=False,
    # the session defaults Tier-1 and check_oracle.py run with at 4 cores
    shuffle_partitions=4,
    aqe=True,
)

WORKLOADS = {w.name: w for w in (HEADLINE, COLD)}


def pass_order(queries: tuple[str, ...], seed: int, index: int) -> list[str]:
    """Query order of pass ``index``: a seeded shuffle, reversed on odd passes."""
    order = list(queries)
    random.Random(seed).shuffle(order)
    return order[::-1] if index % 2 else order
