"""Seeded inputs and the fixed operation sequence of each workload.

Everything here is a pure function of the seed and the sizes, so the
same seed always yields the same operation sequence and the same inputs
(checked by tests/test_opplan.py).  A cycle is one pass over a
workload's sequence; every cycle repeats it exactly, so the state a
cycle leaves behind is the state the next one starts from.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd

# rows per encoded block; every table and source file is block-aligned
BLOCK_ROWS = 4096
# rows per point lookup: half uniform over the table, half from the
# newest block (recently crawled pages are looked up most)
LOOKUP_K = 8


@dataclass(frozen=True)
class Op:
    """One operation of a cycle: its type and its (hashable) inputs."""

    kind: str
    params: tuple = field(default_factory=tuple)


def ingest_plan(blocks_per_append: int, appends: int = 3) -> list:
    """Append ``appends`` crawl segments of ``blocks_per_append`` source
    files each, then one full scan.  The first append creates the table
    and is its own operation type ("create"): it skips the resume scan of
    an existing table and costs about a third less.  The table is reset
    after the scan, so each cycle re-encodes the same segments.  The seed
    picks the webtext content, not the sequence."""
    ops = [
        Op("create" if i == 0 else "append",
           tuple(range(i * blocks_per_append, (i + 1) * blocks_per_append)))
        for i in range(appends)
    ]
    return ops + [Op("scan")]


def lookup_positions(rng: np.random.Generator, n_rows: int, block_rows: int,
                     k: int = LOOKUP_K) -> tuple:
    """Sorted distinct positions: k//2 uniform, the rest from the newest block."""
    newest = n_rows - block_rows
    picks: set = set()
    while len(picks) < k // 2:
        picks.add(int(rng.integers(0, n_rows)))
    while len(picks) < k:
        picks.add(int(rng.integers(newest, n_rows)))
    return tuple(sorted(picks))


def serve_plan(seed: int, n_rows: int, block_rows: int = BLOCK_ROWS) -> list:
    """Read-only mix on a table encoded once in set-up: a point lookup,
    a compressed-domain histogram (hot column), a compressed count of a
    value no block holds (every block bloom-pruned), a projected scan
    with an equality predicate, and one full scan."""
    rng = np.random.default_rng([seed, 1])
    return [
        Op("lookup", lookup_positions(rng, n_rows, block_rows)),
        Op("agg", ("lang",)),
        Op("count_eq", ("lang", "xx")),
        Op("select", ("lang", "ko")),
        Op("scan"),
    ]


def interval_frame(rng: np.random.Generator, n: int, n_keys: int, span: int,
                   zipf_a: float = 1.3, mean_len: int = 200) -> pd.DataFrame:
    """``n`` half-open intervals on ``n_keys`` Zipf-skewed keys
    (chr1 hottest), starts uniform in [0, span), exponential lengths."""
    ranks = np.arange(1, n_keys + 1, dtype=np.float64)
    p = ranks ** -zipf_a
    p /= p.sum()
    keys = rng.choice(n_keys, size=n, p=p)
    starts = rng.integers(0, span, size=n)
    lens = 1 + rng.exponential(mean_len, size=n).astype(np.int64)
    df = pd.DataFrame({
        "Chromosome": [f"chr{k + 1}" for k in keys],
        "Start": starts.astype(np.int64),
        "End": (starts + lens).astype(np.int64),
    })
    return df.sort_values(["Chromosome", "Start", "End"], kind="stable").reset_index(drop=True)


@dataclass(frozen=True)
class RleInputs:
    local_a: pd.DataFrame
    local_b: pd.DataFrame
    queries: pd.DataFrame
    frame_a: pd.DataFrame
    frame_b: pd.DataFrame


# sizes of the rle_algebra inputs: the driver-side pair is large enough
# that one rle_local call is well above timer resolution; the Spark pair
# is small because RleFrame cost is dominated by per-job overhead
RLE_KEYS = 16
RLE_SPAN = 200_000
RLE_LOCAL_N = 40_000
RLE_FRAME_N = 4_000
RLE_QUERIES = 2_000


def rle_inputs(seed: int) -> RleInputs:
    rng = np.random.default_rng([seed, 2])
    a = interval_frame(rng, RLE_LOCAL_N, RLE_KEYS, RLE_SPAN)
    b = interval_frame(rng, RLE_LOCAL_N, RLE_KEYS, RLE_SPAN)
    q = interval_frame(rng, RLE_QUERIES, RLE_KEYS, RLE_SPAN, mean_len=2_000)
    fa = interval_frame(rng, RLE_FRAME_N, RLE_KEYS, RLE_SPAN)
    fb = interval_frame(rng, RLE_FRAME_N, RLE_KEYS, RLE_SPAN)
    return RleInputs(a, b, q, fa, fb)


def rle_plan() -> list:
    """Driver-side RleDict work (coverage, add, mul, getitems) twice,
    then one distributed RleFrame coverage + add + to_ranges, twice.
    The inputs come from rle_inputs(seed); the sequence is fixed."""
    return [Op("rle_local"), Op("rle_local"), Op("rle_frame")] * 2
