import numpy as np
import pandas as pd

import opplan


def test_same_seed_same_sequence_and_inputs():
    assert opplan.serve_plan(7, 32768) == opplan.serve_plan(7, 32768)
    a, b = opplan.rle_inputs(7), opplan.rle_inputs(7)
    for f in ("local_a", "local_b", "queries", "frame_a", "frame_b"):
        pd.testing.assert_frame_equal(getattr(a, f), getattr(b, f))


def test_other_seed_other_inputs():
    assert opplan.serve_plan(7, 32768) != opplan.serve_plan(8, 32768)
    assert not opplan.rle_inputs(7).local_a.equals(opplan.rle_inputs(8).local_a)


def test_lookup_positions_half_from_newest_block():
    rng = np.random.default_rng(3)
    n_rows, br = 8 * 4096, 4096
    for _ in range(50):
        pos = opplan.lookup_positions(rng, n_rows, br)
        assert len(pos) == opplan.LOOKUP_K == len(set(pos))
        assert list(pos) == sorted(pos)
        assert all(0 <= p < n_rows for p in pos)
        assert sum(p >= n_rows - br for p in pos) >= opplan.LOOKUP_K // 2


def test_ingest_plan_covers_each_source_block_once():
    plan = opplan.ingest_plan(blocks_per_append=4, appends=3)
    assert [op.kind for op in plan] == ["create", "append", "append", "scan"]
    appends = plan[:3]
    assert [len(op.params) for op in appends] == [4, 4, 4]
    assert sorted(b for op in appends for b in op.params) == list(range(12))
    assert plan[-1].kind == "scan"


def test_serve_plan_has_every_read_type():
    kinds = [op.kind for op in opplan.serve_plan(1, 32768)]
    assert set(kinds) == {"lookup", "agg", "count_eq", "select", "scan"}
    assert kinds.count("scan") == 1


def test_interval_frame_shape_and_skew():
    rng = np.random.default_rng(5)
    df = opplan.interval_frame(rng, 20_000, 16, 100_000)
    assert list(df.columns) == ["Chromosome", "Start", "End"]
    assert (df["End"] > df["Start"]).all()
    counts = df["Chromosome"].value_counts()
    assert counts.index[0] == "chr1"  # Zipf: the first key is the hottest
    assert counts["chr1"] > 5 * counts.get("chr16", 0)
