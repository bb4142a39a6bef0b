"""Quality-score operators.

Parity targets (file:line in the reference seqtables package):
  - get_quality_dist:  seqtables/core/seqtables.py:1328-1377; kernel
    numpy_ops.py:137-371 (fastqc preset at :203-210 deliberately skips
    the (75,79) bin - replicated verbatim for parity)
  - quality_filter:    seqtables/core/seqtables.py:1223-1258
  - convert_low_bases_to_null: seqtables/core/seqtables.py:1260-1303

Scale notes. quality_dist is eager, like the reference: ONE Spark job
computes the (position, qual) histogram with a partial+final hash
aggregate and collects it. Phred is a small integer domain (~0..45),
so the histogram has at most |positions| x |phred| rows whatever the
number of reads. Bin assignment and the exact percentiles then run on
the driver over that tiny table, and the result comes back as a local
DataFrame (no Exchange, no Join). quality_filter computes the per-read
pass predicate with a single groupBy(read_id) and applies it with LEFT
SEMI joins; no data is collected to the driver.
"""

from __future__ import annotations

import math
from bisect import bisect_left, bisect_right
from collections import Counter
from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F, types as T

from ..model import SeqTable


def fastqc_bins(max_position: int) -> list[tuple[int, int]]:
    """The FASTQC-style preset bin table (numpy_ops.py:203-210),
    including its (75,79) gap."""
    bins: list[tuple[int, int]] = [(i, i) for i in range(1, 10)]
    bins += [(p, p + 4) for p in range(10, 75, 5)]
    bins += [(p, p + 4) for p in range(80, 300, 5)]  # note: no (75,79)
    bins += [(p, p + 9) for p in range(300, max_position, 10)]
    return bins


def even_bins(min_position: int, max_position: int, n: int = 10) -> list[tuple[int, int]]:
    width = max_position - min_position + 1
    binsize = max(int(width / n), 1)
    out = []
    lo = min_position
    while lo <= max_position:
        out.append((lo, min(lo + binsize - 1, max_position)))
        lo += binsize
    return out


def _percentile(hist: list[tuple[int, int]], n: int, p: int) -> float | None:
    """Exact linear-interpolated percentile of a sorted (qual, count)
    histogram: rank = p/100*(n-1), v = v[floor] + frac*(v[ceil] - v[floor]),
    the same double operations the numpy/Spark `percentile` performs."""
    rk = float(n - 1) * (p / 100.0)
    lo, hi = math.floor(rk), math.ceil(rk)
    if lo < 0 or hi >= n:
        return None
    v_lo = v_hi = None
    cum = 0
    for q, c in hist:
        if v_lo is None and lo < cum + c:
            v_lo = q
        if hi < cum + c:
            v_hi = q
            break
        cum += c
    return v_lo + (rk - lo) * (v_hi - v_lo)


def quality_dist(
    cells: DataFrame,
    bins: str | Sequence[tuple[int, int]] = "even",
    exclude_null_quality: bool = True,
    percentiles: Sequence[int] = (10, 25, 50, 75, 90),
    sample_fraction: float | None = None,
    seed: int = 42,
) -> DataFrame:
    """FASTQC-style binned quality distribution.

    Returns one row per bin holding data: (bin_name, bin_lo, bin_hi,
    mean, median, min, max, p0, p10, p25, p50, p75, p90, p100, ... user
    percentiles). The percentile set always includes
    {0,10,25,50,75,90,100} like the reference (numpy_ops.py:251-257).
    Percentiles are exact with linear interpolation (numpy/Spark
    `percentile` semantics), computed from the per-bin quality
    histogram. A position covered by several bins counts in each; a
    position covered by none (e.g. the fastqc (75,79) gap) is dropped.

    Eager: runs one job to collect the (position, qual) histogram - see
    module docstring - and returns a local DataFrame.
    """
    qcells = cells.filter(F.col("qual").isNotNull())
    if exclude_null_quality:
        qcells = qcells.filter(F.col("qual") > 0)
    if sample_fraction:
        qcells = qcells.sample(fraction=sample_fraction, seed=seed)
    qual_type = qcells.schema["qual"].dataType

    by_pos: dict[int, list[tuple[int, int]]] = {}
    for pos, q, c in (
        qcells.filter(F.col("position").isNotNull())
        .groupBy("position", "qual")
        .count()
        .collect()
    ):
        by_pos.setdefault(pos, []).append((q, c))

    if not isinstance(bins, str):
        bin_list = [(int(lo), int(hi)) for lo, hi in bins]
    elif by_pos:
        min_pos, max_pos = min(by_pos), max(by_pos)
        bin_list = fastqc_bins(max_pos) if bins == "fastqc" else even_bins(min_pos, max_pos)
        bin_list = [b for b in bin_list if min_pos <= b[0] <= max_pos]
    else:  # no cell has quality: a preset has no positions to bin
        bin_list = []
    pset = sorted(set(int(p) for p in percentiles) | {0, 10, 25, 50, 75, 90, 100})

    # a repeated bin accumulates its positions once per repetition, as
    # a range join would emit one row per match
    sorted_pos = sorted(by_pos)
    bin_hist: dict[tuple[int, int], Counter] = {}
    for lo, hi in bin_list:
        acc = bin_hist.setdefault((lo, hi), Counter())
        for pos in sorted_pos[bisect_left(sorted_pos, lo):bisect_right(sorted_pos, hi)]:
            for q, c in by_pos[pos]:
                acc[q] += c

    rows = []
    for (lo, hi), acc in bin_hist.items():
        if not acc:
            continue
        hist = sorted(acc.items())
        n = sum(acc.values())
        pct = {p: _percentile(hist, n, p) for p in pset}
        rows.append((
            f"{lo}-{hi}" if lo != hi else str(lo), lo, hi,
            float(sum(q * c for q, c in hist)) / n, pct[50],
            hist[0][0], hist[-1][0], *(pct[p] for p in pset),
        ))
    schema = T.StructType(
        [
            T.StructField("bin_name", T.StringType(), False),
            T.StructField("bin_lo", T.LongType(), False),
            T.StructField("bin_hi", T.LongType(), False),
            T.StructField("mean", T.DoubleType()),
            T.StructField("median", T.DoubleType()),
            T.StructField("min", qual_type),
            T.StructField("max", qual_type),
        ]
        + [T.StructField(f"p{p}", T.DoubleType()) for p in pset]
    )
    return cells.sparkSession.createDataFrame(rows, schema)


def quality_filter(
    st: SeqTable,
    q: int,
    p: float,
    ignore_null_qual: bool = True,
) -> SeqTable:
    """Keep reads where >= p% of (non-null-quality) bases have
    phred >= q; the insertion table is filtered to survivors too
    (reference seqtables.py:1223-1258)."""
    cells = st.cells()
    considered = cells.filter(F.col("qual") > 0) if ignore_null_qual else cells
    good = (
        considered.groupBy("read_id")
        .agg((F.avg((F.col("qual") >= q).cast("double")) * 100).alias("pct"))
        .filter(F.col("pct") >= p)
        .select("read_id")
    )
    reads = st.reads.join(good, "read_id", "left_semi")
    ins = st.insertions.join(good, "read_id", "left_semi") if st._insertions is not None else None
    return SeqTable(reads, ins, st.seq_type, st.phred_adjust, st.fillna_val)


def convert_low_bases_to_null(
    cells: DataFrame,
    q: int,
    replace_with: str = "N",
    ignore_null_qual: bool = True,
) -> DataFrame:
    """Masked update on the cells view: base -> fill letter where
    qual < q (and qual > 0 when ignoring null quality), mirroring
    reference seqtables.py:1260-1303. Pure projection - no shuffle."""
    low = F.col("qual") < q
    if ignore_null_qual:
        low = low & (F.col("qual") > 0)
    return cells.withColumn(
        "base", F.when(low, F.lit(replace_with)).otherwise(F.col("base"))
    )
