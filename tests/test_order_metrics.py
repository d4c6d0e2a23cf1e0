"""rank_correlation semantics + the XY-cut agreement report it was built for
(the reference evaluates reading order with Spearman/Kendall —
train/train_main.py:34-37)."""

import random

import pytest

from ch_pdf_parse_spark import constants as C
from ch_pdf_parse_spark import core, native
from ch_pdf_parse_spark.operators.order_metrics import rank_correlation


def _corr(spark, rows):
    df = spark.createDataFrame(rows, ["g", "box", "x", "y"])
    return {r["g"]: (r["n"], r["spearman_rho"], r["kendall_tau"])
            for r in rank_correlation(df, "g", "x", "y", "box").collect()}


def test_rank_correlation_known_values(spark):
    rows = (
        # g=1: identical orderings → rho = tau = 1
        [(1, i, i, i) for i in range(4)]
        # g=2: reversed → rho = tau = -1
        + [(2, i, i, 3 - i) for i in range(4)]
        # g=3: one adjacent swap of 4: d² = 2 → rho = 1 - 12/60 = 0.8;
        # C=5, D=1 → tau = 2(5-1)/12 = 0.666667
        + [(3, 0, 1, 1), (3, 1, 2, 3), (3, 2, 3, 2), (3, 3, 4, 4)]
        # g=4: singleton → undefined (NULL)
        + [(4, 0, 7, 9)]
    )
    got = _corr(spark, rows)
    assert got[1] == (4, 1.0, 1.0)
    assert got[2] == (4, -1.0, -1.0)
    assert got[3] == (4, 0.8, 0.666667)
    assert got[4] == (1, None, None)


def test_rank_correlation_duplicate_rows_deterministic(spark):
    # two rows tied in x but not y (and vice versa): the shared-rid tiebreak
    # must pin Σd² — pairing ties x-sort-first gives the minimal d² here
    rows = [(1, 0, 5, 1), (1, 1, 5, 2), (1, 2, 3, 3), (1, 3, 3, 4)]
    got = _corr(spark, rows)
    # rid by (x,y): boxes 2,3,0,1 → rx=(3,4,1,2), ry=(1,2,3,4)
    # d²=4·4=16 → rho = 1 - 96/60 = -0.6; C=2, D=4 → tau = 2(-2)/12 = -0.333333
    assert got[1] == (4, -0.6, -0.333333)


def test_xycut_agreement_on_fuzz_corpus(spark):
    """The metric in anger: C XY-cut order vs the core oracle order over
    random dense layouts must correlate perfectly in every layout (they are
    asserted equal element-wise elsewhere; this pins the METRIC path)."""
    if not native.available():
        pytest.skip("no C toolchain: core.xy_cut is the only XY-cut")
    rng = random.Random(123)
    rows = []
    for layout in range(150):
        n = rng.randint(2, 15)
        boxes = []
        for _ in range(n):
            x1 = rng.randint(0, 400)
            y1 = rng.randint(0, 400)
            boxes.append((x1, y1, x1 + rng.randint(5, 120),
                          y1 + rng.choice([8, 12, 20, 40])))
        k = native.xy_cut([b[0] for b in boxes], [b[1] for b in boxes],
                          [b[2] for b in boxes], [b[3] for b in boxes],
                          C.XY_MIN_GAP_X, C.XY_MIN_GAP_Y)
        c = core.xy_cut(boxes)
        kpos = {idx: p for p, (idx, _) in enumerate(k)}
        cpos = {idx: p for p, (idx, _) in enumerate(c)}
        rows.extend((layout, i, kpos[i], cpos[i]) for i in range(n))
    got = _corr(spark, rows)
    assert len(got) == 150
    assert all(v[1] == 1.0 and v[2] == 1.0 for v in got.values())


def test_m3b_pairwise_rank_null_linenumber(spark, tmp_path):
    """A NULL l_linenumber must rank first (NULLS FIRST contract) and must not
    silently shrink every other row's win count through three-valued pair
    predicates (round-3 ADVICE: scores came out (298,297,297) instead of
    (299,298,297) for linenumbers (1,2,NULL) before the sentinel coalesce)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ch_pdf_parse_spark.operators.order_metrics import m3b_pairwise_rank

    pq.write_table(
        pa.table({
            "l_orderkey": pa.array([1, 1, 1, 2], pa.int64()),
            "l_linenumber": pa.array([1, 2, None, 5], pa.int32()),
        }),
        str(tmp_path / "lineitem.parquet"))
    got = {(r["l_orderkey"], r["l_linenumber"]): r["order_score"]
           for r in m3b_pairwise_rank(spark, str(tmp_path)).collect()}
    # order 1: NULL first (score 299), then 1, then 2; order 2: singleton
    assert got == {(1, None): 299, (1, 1): 298, (1, 2): 297, (2, 5): 299}
