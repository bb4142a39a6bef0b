"""Value tests for the two amplicon kernels with driver-side shortcuts:
the flat-array PWM fold (`calculate_pwm_seq`) and the one-job quality
histogram (`quality_dist`).

The PWM fold is checked with `==` against the retained join path, the
quality distribution against an independent numpy computation.
"""

import random

import numpy as np
import pytest

from seqtables_spark.constructors import from_list
from seqtables_spark.model import explode_chars
from seqtables_spark.operators.pwm import calculate_pwm, calculate_pwm_seq
from seqtables_spark.operators.quality import fastqc_bins, quality_dist

# ---------------------------------------------------------------- PWM


@pytest.fixture(scope="module")
def pwm_reads(spark):
    rng = random.Random(20)
    rows = [
        (
            f"r{i}",
            "".join(rng.choice("ACGTN") for _ in range(rng.randint(40, 60))),
            rng.randint(-3, 5),
        )
        for i in range(200)
    ]
    return spark.createDataFrame(rows, "read_id string, seq string, pos_start long")


@pytest.fixture(scope="module")
def pwm_entries_60():
    rng = random.Random(21)
    entries = [
        (p, c, rng.uniform(0.05, 3.0))
        for p in range(1, 61)
        for c in "ACGT"
        if rng.random() < 0.9  # some (position, letter) pairs absent
    ]
    entries[7] = (entries[7][0], entries[7][1], 0.0)
    return entries


@pytest.mark.parametrize(
    "use_log,null_score,positions",
    [
        (True, 1.0, None),
        (False, 0.0, None),
        # a gapped subset, with positions the PWM does not mention
        (True, 0.25, [2, 3, 7, 19, 20, 33, 58, 59, 60, 61, 70]),
        (False, 7.0, list(range(1, 61, 4))),
    ],
)
def test_pwm_seq_fold_equals_join_path(
    spark, pwm_reads, pwm_entries_60, use_log, null_score, positions
):
    """Bit-identical scores (`==`): the fold adds in position order,
    like the partial aggregate over the position-ordered cells. 'N' is
    outside the PWM alphabet and scores null_score in both paths."""
    pwm_df = spark.createDataFrame(
        pwm_entries_60, "position long, letter string, weight double"
    )
    want = {
        r["read_id"]: r["pwm_score"]
        for r in calculate_pwm(
            explode_chars(pwm_reads, qual_col=None), pwm_df,
            positions=positions, null_score=null_score,
            use_log_before_sum=use_log,
        ).collect()
    }
    got = {
        r["read_id"]: r["pwm_score"]
        for r in calculate_pwm_seq(
            pwm_reads, pwm_df, positions=positions,
            null_score=null_score, use_log_before_sum=use_log,
        ).collect()
    }
    assert len(want) > 150
    assert {rid: got[rid] for rid in want} == want
    # reads with no scored position keep the empty-fold score
    empty = 1.0 if use_log else 0.0
    assert all(got[rid] == empty for rid in set(got) - set(want))
    if use_log and positions is None:
        assert 0.0 in want.values()  # the 0.0 weight zeroes the product


def test_pwm_seq_rejects_duplicate_entries(spark, pwm_reads):
    pwm = [(1, "A", 0.5), (2, "C", 1.5), (1, "A", 2.0)]
    with pytest.raises(ValueError, match="duplicate PWM entry"):
        calculate_pwm_seq(pwm_reads, pwm)


# ---------------------------------------------------------- quality_dist


def _numpy_quality_dist(pos, qual, bin_list, pset):
    out = {}
    for lo, hi in bin_list:
        v = qual[(pos >= lo) & (pos <= hi)].astype(np.float64)
        if not len(v):
            continue
        name = f"{lo}-{hi}" if lo != hi else str(lo)
        pct = {p: float(np.percentile(v, p, method="linear")) for p in pset}
        out[name] = dict(
            bin_lo=lo, bin_hi=hi, mean=float(v.mean()), median=pct[50],
            min=float(v.min()), max=float(v.max()),
            **{f"p{p}": pct[p] for p in pset},
        )
    return out


@pytest.fixture(scope="module")
def qual_cells(spark):
    rng = np.random.default_rng(5)
    n = 6000
    pos = rng.integers(1, 96, n)
    qual = rng.integers(0, 42, n)
    rows = [
        (f"r{i % 97}", int(p), None if i % 50 == 0 else int(q))
        for i, (p, q) in enumerate(zip(pos, qual))
    ]
    df = spark.createDataFrame(rows, "read_id string, position long, qual int")
    kept = np.array([q is not None and q > 0 for _, _, q in rows])
    return df, pos[kept], qual[kept]


@pytest.mark.parametrize(
    "bins",
    ["even", "fastqc", [(1, 30), (20, 50), (45, 45), (90, 200)]],
    ids=["even", "fastqc", "overlapping"],
)
def test_quality_dist_matches_numpy(qual_cells, bins):
    df, pos, qual = qual_cells
    pset = [0, 5, 10, 25, 50, 75, 90, 100]
    if bins == "even":
        size = max(int((pos.max() - pos.min() + 1) / 10), 1)
        bin_list = [
            (lo, min(lo + size - 1, int(pos.max())))
            for lo in range(int(pos.min()), int(pos.max()) + 1, size)
        ]
    elif bins == "fastqc":
        bin_list = [
            b for b in fastqc_bins(int(pos.max())) if pos.min() <= b[0] <= pos.max()
        ]
    else:
        bin_list = bins
    want = _numpy_quality_dist(pos, qual, bin_list, pset)
    out = quality_dist(df, bins=bins, percentiles=(5, 50))
    assert out.columns == [
        "bin_name", "bin_lo", "bin_hi", "mean", "median", "min", "max",
    ] + [f"p{p}" for p in pset]
    got = {r["bin_name"]: r.asDict() for r in out.collect()}
    assert set(got) == set(want)
    for name, exp in want.items():
        for k, v in exp.items():
            assert got[name][k] == pytest.approx(v, rel=1e-12, abs=1e-12), (name, k)
    if bins == "fastqc":
        # the (75,79) gap: its cells land in no bin
        assert not any(r["bin_lo"] <= 77 <= r["bin_hi"] for r in got.values())


def test_quality_dist_types(qual_cells):
    df, _, _ = qual_cells
    types = dict(quality_dist(df, bins=[(1, 10)]).dtypes)
    assert types["bin_lo"] == types["bin_hi"] == "bigint"
    assert types["min"] == types["max"] == "int"  # the qual column's type
    assert types["mean"] == types["p50"] == "double"


@pytest.mark.parametrize("bins", ["even", "fastqc", [(1, 2)]])
def test_quality_dist_no_positive_quality_is_empty(spark, bins):
    """All-'!' quality (phred 0 everywhere): every preset returns the
    same empty frame as explicit bins."""
    st = from_list(spark, ["ACGT"] * 3, quals=["!!!!"] * 3)
    out = quality_dist(st.cells(), bins=bins)
    assert out.collect() == []
    assert out.columns[:7] == [
        "bin_name", "bin_lo", "bin_hi", "mean", "median", "min", "max",
    ]


def test_get_quality_dist_without_quality_raises(spark):
    st = from_list(spark, ["ACGT", "AAAA"])
    with pytest.raises(ValueError, match="table has no quality data"):
        st.get_quality_dist()
