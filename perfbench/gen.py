"""Seeded, vectorised input generators for the three workloads.

Each generator draws everything from ``numpy.random.default_rng(seed)``
(same seed, same inputs), builds string columns zero-copy from byte
matrices, and returns the ground truth the output checks need next to
the files it writes. Nothing here imports ``seqtables_spark``: the
inputs and the truth must not depend on the code under test.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pcsv
import pyarrow.parquet as pq

ACGT = np.frombuffer(b"ACGT", np.uint8)
#: input files per parquet dataset: Spark packs small files into
#: partitions, and 8 files give every core of the session a task
PARQUET_PARTS = 8


def rows_to_strings(mat: np.ndarray) -> pa.Array:
    """(n, w) uint8 matrix -> Arrow string array of n w-char rows."""
    n, w = mat.shape
    offsets = np.arange(0, (n + 1) * w, w, dtype=np.int32)
    return pa.Array.from_buffers(
        pa.utf8(), n,
        [None, pa.py_buffer(offsets), pa.py_buffer(np.ascontiguousarray(mat).reshape(-1))],
    )


def ragged_to_strings(buf: np.ndarray, lengths: np.ndarray) -> pa.Array:
    """Concatenated uint8 buffer + per-row lengths -> Arrow strings."""
    offsets = np.zeros(lengths.size + 1, np.int64)
    np.cumsum(lengths, out=offsets[1:])
    return pa.Array.from_buffers(
        pa.large_utf8(), lengths.size,
        [None, pa.py_buffer(offsets), pa.py_buffer(np.ascontiguousarray(buf))],
    ).cast(pa.utf8())


def ids(prefix: str, n: int) -> pa.Array:
    return pc.binary_join_element_wise(
        pa.scalar(prefix),
        pc.utf8_lpad(pc.cast(pa.array(np.arange(n)), pa.utf8()), 7, "0"),
        "",
    )


def share(rng, n: int, frac: float) -> np.ndarray:
    """Boolean mask with exactly round(n * frac) randomly placed
    True values: planted proportions stay fixed across seeds, so the
    amount of work does too."""
    mask = np.zeros(n, bool)
    mask[rng.permutation(n)[: round(n * frac)]] = True
    return mask


def write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // PARQUET_PARTS)
    for i in range(PARQUET_PARTS):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))


# ------------------------------------------------------------------ amplicon

@dataclass
class Amplicon:
    path: str
    wt: np.ndarray            # (P,) uint8 wild-type sequence
    seq: np.ndarray           # (N, P) uint8 read bases
    qual: np.ndarray          # (N, P) uint8 phred scores (not +33)
    read_ids: list = field(repr=False)


def amplicon(seed: int, n_reads: int, width: int, path: str) -> Amplicon:
    """Site-saturation plus error-prone library, already aligned.

    Half the reads carry one NNK codon at a random codon slot; every
    read then takes Poisson(1) random substitutions. Quality falls
    log-wise along the read like an Illumina r1, and bases with
    phred < 5 are called 'N'."""
    rng = np.random.default_rng(seed)
    wt = ACGT[rng.integers(0, 4, width)]
    seq = np.tile(wt, (n_reads, 1))
    ss = rng.permutation(n_reads)[: n_reads // 2]
    codon = rng.integers(0, width // 3, ss.size)
    nnk = np.stack(
        [ACGT[rng.integers(0, 4, ss.size)], ACGT[rng.integers(0, 4, ss.size)],
         np.frombuffer(b"GT", np.uint8)[rng.integers(0, 2, ss.size)]], 1)
    seq[ss[:, None], codon[:, None] * 3 + np.arange(3)] = nnk
    mut = rng.random((n_reads, width)) < 1.0 / width
    seq[mut] = ACGT[rng.integers(0, 4, int(mut.sum()))]
    mean_q = 38.0 - 6.0 * np.log1p(np.arange(width) / 10.0)
    qual = np.clip(np.rint(mean_q + rng.normal(0.0, 4.0, (n_reads, width))), 2, 41).astype(np.uint8)
    seq[qual < 5] = ord("N")
    rid = ids("r", n_reads)
    write_parquet(
        pa.table({"read_id": rid, "seq": rows_to_strings(seq), "qual": rows_to_strings(qual + 33)}),
        path,
    )
    return Amplicon(path, wt, seq, qual, rid.to_pylist())


# ----------------------------------------------------------------------- SAM

@dataclass
class Sam:
    path: str
    ref_len: int
    read_ids: list = field(repr=False)
    pos: np.ndarray           # (N,) 1-based leftmost mapped position
    cigar: list = field(repr=False)
    read_seq: np.ndarray      # (N, L) uint8
    read_qual: np.ndarray     # (N, L) uint8 phred+33 chars
    min_pos: int
    aligned_seq: np.ndarray   # (N, W) uint8 gap-padded window
    aligned_qual: np.ndarray  # (N, W) uint8
    ins_read: np.ndarray      # insertion side table, one row per base
    ins_pos: np.ndarray
    ins_loc: np.ndarray
    ins_base: np.ndarray
    ins_qual: np.ndarray      # phred (not +33)
    n_bytes: int


#: read offsets where indels may start: real amplicons concentrate
#: indels in a few homopolymer hot spots, which also bounds the
#: insertion slots view_with_ins widens the matrix by
INDEL_HOTSPOTS = 8


def sam(seed: int, n_reads: int, read_len: int, path: str) -> Sam:
    """SAM text: soft clips at either end, one 1-3 bp insertion or
    deletion in half the reads (at hot spots), 0.5% substitutions,
    and per-base quality."""
    rng = np.random.default_rng(seed)
    n, L = n_reads, read_len
    ref_len = L + 20
    ref = ACGT[rng.integers(0, 4, ref_len)]
    pos = 1 + rng.integers(0, 10, n)
    a = np.where(share(rng, n, 0.3), rng.integers(1, 6, n), 0)
    b = np.where(share(rng, n, 0.3), rng.integers(1, 6, n), 0)
    event = rng.permutation(np.arange(n) % 4)  # 0,1: none, 2: I, 3: D
    k = np.where(event >= 2, rng.integers(1, 4, n), 0)
    k_i = np.where(event == 2, k, 0)
    k_d = np.where(event == 3, k, 0)
    hot = np.sort(rng.choice(np.arange(20, L - 40), INDEL_HOTSPOTS, replace=False))
    m1 = hot[rng.integers(0, INDEL_HOTSPOTS, n)]
    m2 = L - a - b - m1 - k_i

    # read bases: clip | ref[p .. p+m1) | inserted | ref[p+m1+kD ..) | clip
    j = np.arange(L)[None, :]
    a_, m1_, ki_, kd_, m2_, p0 = (x[:, None] for x in (a, m1, k_i, k_d, m2, pos - 1))
    seg1 = (j >= a_) & (j < a_ + m1_)
    seg2 = (j >= a_ + m1_ + ki_) & (j < a_ + m1_ + ki_ + m2_)
    ref_idx = np.where(seg1, p0 + j - a_, p0 + m1_ + kd_ + (j - a_ - m1_ - ki_))
    read = np.where(seg1 | seg2, ref[np.clip(ref_idx, 0, ref_len - 1)], ACGT[rng.integers(0, 4, (n, L))])
    sub = (rng.random((n, L)) < 0.005) & (seg1 | seg2)
    read[sub] = ACGT[rng.integers(0, 4, int(sub.sum()))]
    mean_q = 38.0 - 6.0 * np.log1p(np.arange(L) / 10.0)
    rqual = (np.clip(np.rint(mean_q + rng.normal(0.0, 4.0, (n, L))), 2, 41) + 33).astype(np.uint8)

    # the aligned window realignment must produce
    mn = int(pos.min())
    mx = int((pos + m1 + k_d + m2 - 1).max())
    w = mx - mn + 1
    o = np.arange(mn, mx + 1)[None, :] - pos[:, None]
    in1 = (o >= 0) & (o < m1_)
    in2 = (o >= m1_ + kd_) & (o < m1_ + kd_ + m2_)
    src = np.where(in1, a_ + o, a_ + m1_ + ki_ + (o - m1_ - kd_))
    src = np.clip(src, 0, L - 1)
    take = in1 | in2
    aseq = np.where(take, np.take_along_axis(read, src, 1), ord("-")).astype(np.uint8)
    aqual = np.where(take, np.take_along_axis(rqual, src, 1), ord("!")).astype(np.uint8)

    # insertion side table: bases at refP = p + m1, loc -k .. -1
    ir = np.repeat(np.flatnonzero(k_i), k_i[k_i > 0])
    t = np.arange(ir.size) - np.repeat(np.cumsum(k_i[k_i > 0]) - k_i[k_i > 0], k_i[k_i > 0])
    col = a[ir] + m1[ir] + t

    def num(x):
        return pc.cast(pa.array(x), pa.utf8())

    def opt(mask, *parts):
        return pc.if_else(pa.array(mask), pc.binary_join_element_wise(*parts, ""), "")

    cigar = pc.binary_join_element_wise(
        opt(a > 0, num(a), "S"),
        opt(event < 2, num(m1 + m2), "M"),
        opt(event >= 2, num(m1), "M", num(k), pc.if_else(pa.array(event == 2), "I", "D"), num(m2), "M"),
        opt(b > 0, num(b), "S"),
        "",
    )
    rid = ids("q", n)
    table = pa.table({
        "header": rid, "flag": np.zeros(n, np.int64), "rname": pa.array(["amplicon"] * n),
        "pos": pos, "mapq": np.full(n, 60), "cigar": cigar,
        "rnext": pa.array(["*"] * n), "pnext": np.zeros(n, np.int64), "tlen": np.zeros(n, np.int64),
        "seq": rows_to_strings(read), "qual": rows_to_strings(rqual),
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(f"@HD\tVN:1.6\tSO:unsorted\n@SQ\tSN:amplicon\tLN:{ref_len}\n".encode())
        pcsv.write_csv(table, f, pcsv.WriteOptions(include_header=False, delimiter="\t", quoting_style="none"))
    return Sam(
        path, ref_len, rid.to_pylist(), pos, cigar.to_pylist(), read, rqual, mn, aseq, aqual,
        ir, pos[ir] + m1[ir], t - k_i[ir], read[ir, col], rqual[ir, col] - 33,
        os.path.getsize(path),
    )


# -------------------------------------------------------------------- corpus

STOPWORDS = ["the", "and", "of", "to", "is"]
_STOP_CHARS = np.frombuffer(b"".join(w.encode().ljust(9) for w in STOPWORDS), np.uint8).reshape(-1, 9)
_STOP_LEN = np.array([len(w) for w in STOPWORDS])


@dataclass
class Corpus:
    path: str
    eval_path: str
    doc_id: np.ndarray
    text: list = field(repr=False)
    eval_text: list = field(repr=False)
    family: np.ndarray        # planted near-dup family per doc (-1: none)


def _docs(rng, n_docs: int, lo: int, hi: int, digit_share: np.ndarray,
          stop_share: np.ndarray) -> pa.Array:
    """Random pseudo-word documents of lo..hi tokens. Words
    are fresh random letters, so unrelated documents share almost no
    character shingles and LSH candidates are dominated by planted
    pairs; stopwords keep the language and Gopher rules satisfied."""
    n_tok = rng.integers(lo, hi + 1, n_docs)
    total = int(n_tok.sum())
    doc_of = np.repeat(np.arange(n_docs), n_tok)
    wl = rng.integers(4, 10, total)
    letters = rng.integers(97, 123, (total, 9)).astype(np.uint8)
    digits = rng.integers(48, 58, (total, 9)).astype(np.uint8)
    u = rng.random(total)
    is_digit = u < digit_share[doc_of]
    is_stop = (~is_digit) & (u > 1.0 - stop_share[doc_of])
    chars = np.where(is_digit[:, None], digits, letters)
    stop = rng.integers(0, len(STOPWORDS), total)
    chars = np.where(is_stop[:, None], _STOP_CHARS[stop], chars)
    wl = np.where(is_stop, _STOP_LEN[stop], wl)
    # a period closes roughly every twelfth word
    dot = rng.random(total) < 1.0 / 12
    tok_len = wl + dot + 1  # trailing separator
    chars = np.concatenate([chars, np.full((total, 2), 32, np.uint8)], 1)
    rows = np.arange(total)
    chars[rows, wl] = np.where(dot, 46, 32)
    chars[rows, wl + 1] = 32
    keep = np.arange(11)[None, :] < tok_len[:, None]
    buf = chars[keep]
    doc_len = np.bincount(doc_of, weights=tok_len, minlength=n_docs).astype(np.int64) - 1
    ends = np.cumsum(doc_len + 1)
    # drop each document's trailing separator
    mask = np.ones(buf.size, bool)
    mask[ends - 1] = False
    buf = buf[mask]
    return ragged_to_strings(buf, doc_len)


def corpus(seed: int, n_docs: int, n_eval: int, path: str, eval_path: str) -> Corpus:
    """Documents with planted quality failures, exact copies, case
    twins (identical after lower-casing, so LSH must pair them), word
    edits (near duplicates LSH may pair), passages copied from the
    held-out eval slice, and a held-out eval slice."""
    rng = np.random.default_rng(seed)
    n_src = int(n_docs * 0.88)
    digit_share = np.where(share(rng, n_src, 0.05), 0.7, 0.0)
    stop_share = np.where(share(rng, n_src, 0.05), 0.0, 0.06)
    short = share(rng, n_src, 0.08)
    long_arr = _docs(rng, n_src, 50, 80, digit_share, stop_share)
    short_arr = _docs(rng, n_src, 20, 45, digit_share, stop_share)
    src = pc.if_else(pa.array(short), short_arr, long_arr).to_pylist()
    eval_arr = _docs(rng, n_eval, 50, 80, np.zeros(n_eval), np.full(n_eval, 0.06))
    eval_text = eval_arr.to_pylist()

    # contamination: 3% of sources embed a 40-word eval passage
    text = list(src)
    for i in np.flatnonzero(share(rng, n_src, 0.03)):
        words = eval_text[int(rng.integers(0, n_eval))].split(" ")
        s = int(rng.integers(0, max(1, len(words) - 40)))
        text[i] = text[i] + " " + " ".join(words[s:s + 40])

    # near-duplicate families: copies of random plain sources
    n_copy = n_docs - n_src
    parent = rng.choice(np.flatnonzero(~short), n_copy, replace=True)
    kind = rng.permutation(np.arange(n_copy) % 3)  # 0 exact copy, 1 case twin, 2 word edit
    family = np.concatenate([np.full(n_src, -1), parent])
    family[parent] = parent
    for p, kd in zip(parent.tolist(), kind.tolist()):
        words = text[p].split(" ")
        if kd == 1:
            flip = rng.random(len(words)) < 0.3
            words = [w.upper() if f else w for w, f in zip(words, flip)]
        elif kd == 2:
            for wi in np.flatnonzero(rng.random(len(words)) < 0.05):
                words[wi] = "".join(chr(x) for x in rng.integers(97, 123, len(words[wi])))
        text.append(" ".join(words))

    # shuffle ids so copies are not always the larger id
    doc_id = rng.permutation(n_docs).astype(np.int64)
    write_parquet(pa.table({"doc_id": doc_id, "text": pa.array(text, pa.utf8())}), path)
    write_parquet(pa.table({"doc_id": np.arange(n_eval, dtype=np.int64) + 10_000_000,
                            "text": pa.array(eval_text, pa.utf8())}), eval_path)
    return Corpus(path, eval_path, doc_id, text, eval_text, family)
