"""Expected answers, computed from the generators' ground truth with
numpy and plain Python only, plus the comparisons the output checks
use. A check returns None when the output matches, else a short
description of the first mismatch."""

from __future__ import annotations

import itertools
import math
import re

import numpy as np

from probe import CRC_BYTE, crc, crc_const, crc_rows, dbl, digest_np


# ------------------------------------------------------------- comparisons

def same_digest(got, want):
    return None if tuple(got) == tuple(want) else f"digest {tuple(got)} != {tuple(want)}"


def same_table(pdf, want: dict, keys, val, tol=None):
    """pdf rows keyed by `keys` must carry exactly want's entries."""
    if len(pdf) != len(want):
        return f"{len(pdf)} rows, want {len(want)}"
    cols = [pdf[k].tolist() for k in keys]
    for key, v in zip(zip(*cols), pdf[val].tolist()):
        key = key if len(key) > 1 else key[0]
        if key not in want:
            return f"unexpected key {key}"
        w = want[key]
        if tol is None:
            if v != w:
                return f"{key}: {v} != {w}"
        elif not math.isclose(v, w, rel_tol=tol, abs_tol=tol):
            return f"{key}: {v} !~ {w}"
    return None


# ------------------------------------------------------------------ amplicon

def amplicon(truth, substr_positions, pwm, q, p):
    seq, qual, wt = truth.seq, truth.qual, truth.wt
    n, w = seq.shape
    pos = np.arange(1, w + 1)
    ex = {}
    rid = crc(truth.read_ids)
    ex["reads"] = digest_np([rid, crc_rows(seq), crc_rows(qual + 33), 1], n)

    counts = {}
    for j in range(w):
        for b, c in zip(*np.unique(seq[:, j], return_counts=True)):
            counts[(j + 1, chr(b))] = int(c)
    ex["seq_dist"] = counts
    cons, ent = {}, {}
    for j in range(w):
        col = {b: c for (pj, b), c in counts.items() if pj == j + 1}
        mode = min(col, key=lambda b: (-col[b], ord(b)))
        cons[j + 1] = "N" if col[mode] <= n * 0.5 else mode
        ent[j + 1] = -sum((c / n) * math.log(c / n) for c in col.values()) / math.log(2)
    ex["consensus"], ex["entropy"] = cons, ent

    mism = seq != wt[None, :]
    ex["hamming"] = dict(zip(truth.read_ids, mism.sum(1).tolist()))
    pairs = wt[None, :].repeat(n, 0)[mism].astype(np.int64) * 256 + seq[mism]
    ex["mutation"] = {(chr(k // 256), chr(k % 256)): int(c) for k, c in zip(*np.unique(pairs, return_counts=True))}

    size = max(int(w / 10), 1)
    qd = {}
    for lo in range(1, w + 1, size):
        hi = min(lo + size - 1, w)
        v = qual[:, lo - 1:hi].reshape(-1).astype(np.float64)
        name = f"{lo}-{hi}" if lo != hi else str(lo)
        pct = {f"p{k}": float(np.percentile(v, k)) for k in (0, 10, 25, 50, 75, 90, 100)}
        qd[name] = dict(bin_lo=lo, bin_hi=hi, mean=float(v.mean()), median=pct["p50"],
                        min=float(v.min()), max=float(v.max()), **pct)
    ex["quality_dist"] = qd

    keep = (qual >= q).mean(1) * 100 >= p
    ex["quality_filter"] = digest_np(
        [rid[keep], crc_rows(seq[keep]), crc_rows(qual[keep] + 33), 1], int(keep.sum()))

    sub = {}
    for i, j in itertools.combinations(sorted(substr_positions), 2):
        combo = f"p{i},p{j}"
        code = seq[:, i - 1].astype(np.int64) * 256 + seq[:, j - 1]
        for k, c in zip(*np.unique(code, return_counts=True)):
            sub[(combo, chr(k // 256) + chr(k % 256))] = int(c)
    ex["substrings"] = sub

    lut = np.ones((w, 256))  # letters absent from the PWM score 1.0
    for j, row in enumerate(pwm):
        for letter, wgt in zip("ACTG", row):
            lut[j, ord(letter)] = wgt
    logw = np.log(lut[np.arange(w)[None, :], seq])
    ex["pwm"] = dict(zip(truth.read_ids, np.exp(logw.sum(1)).tolist()))
    return ex


def check_quality_dist(pdf, want):
    if len(pdf) != len(want):
        return f"{len(pdf)} bins, want {len(want)}"
    for row in pdf.to_dict("records"):
        exp = want.get(row["bin_name"])
        if exp is None:
            return f"unexpected bin {row['bin_name']}"
        for k, v in exp.items():
            if not math.isclose(row[k], v, rel_tol=1e-9, abs_tol=1e-9):
                return f"bin {row['bin_name']} {k}: {row[k]} != {v}"
    return None


# ----------------------------------------------------------------------- SAM

def sam(truth):
    n, w = truth.aligned_seq.shape
    ex = {}
    hdr = crc(truth.read_ids)
    cig = crc(truth.cigar)
    seq_c, qual_c = crc_rows(truth.read_seq), crc_rows(truth.read_qual)
    amp, star, zero = crc_const("amplicon"), crc_const("*"), crc_const("0")
    ex["sam"] = digest_np([hdr, 0, amp, truth.pos, 60, cig, star, zero, zero, seq_c, qual_c], n)
    ex["bam"] = digest_np([hdr, 0, amp, truth.pos, 60, cig, seq_c, qual_c], n)
    ex["reads"] = digest_np([hdr, crc_rows(truth.aligned_seq), crc_rows(truth.aligned_qual), truth.min_pos], n)

    positions = np.arange(truth.min_pos, truth.min_pos + w)
    slots = sorted(set(zip(truth.ins_pos.tolist(), truth.ins_loc.tolist())))
    ins_counts = {}
    for (p_, l_, b_) in zip(truth.ins_pos.tolist(), truth.ins_loc.tolist(), truth.ins_base.tolist()):
        ins_counts[(p_, l_, chr(b_))] = ins_counts.get((p_, l_, chr(b_)), 0) + 1
    slot_tot = {}
    for (p_, l_, _), c in ins_counts.items():
        slot_tot[(p_, l_)] = slot_tot.get((p_, l_), 0) + c
    dist = dict(ins_counts)
    for s, t in slot_tot.items():
        dist[s + ("-",)] = n - t
    ex["ins_dist"] = dist

    mat = {}
    for j in range(w):
        for b, c in zip(*np.unique(truth.aligned_seq[:, j], return_counts=True)):
            mat[(int(positions[j]), chr(b))] = int(c)
    logo = {(p_, 0, b_): c / n for (p_, b_), c in mat.items()}
    logo.update({k: c / n for k, c in dist.items()})
    ex["logo"] = logo

    # view_with_ins: every matrix cell, plus every read at every
    # insertion slot (its lower-cased base, or the '-' gap)
    rc = hdr % 2_147_483_647
    part1 = digest_np([rc[:, None], positions[None, :], 0, CRC_BYTE[truth.aligned_seq]], n * w)
    slot_base = np.full((n, len(slots)), ord("-"), np.uint8)
    slot_ix = {s: i for i, s in enumerate(slots)}
    cols = np.array([slot_ix[s] for s in zip(truth.ins_pos.tolist(), truth.ins_loc.tolist())], np.int64)
    if cols.size:
        slot_base[truth.ins_read, cols] = truth.ins_base + 32  # lower case
    sp = np.array([s[0] for s in slots], np.int64)
    sl = np.array([s[1] for s in slots], np.int64)
    part2 = digest_np([rc[:, None], sp[None, :], sl[None, :], CRC_BYTE[slot_base]], n * len(slots))
    ex["view"] = (part1[0] + part2[0], part1[1] + part2[1])

    cons = {}
    for j in range(w):
        col = {b: c for (pj, b), c in mat.items() if pj == positions[j]}
        mode = min(col, key=lambda b: (-col[b], ord(b)))
        cons[(int(positions[j]), 0)] = "N" if col[mode] <= n * 0.5 else mode
    for s, t in slot_tot.items():
        col = {b: c for (p_, l_, b), c in ins_counts.items() if (p_, l_) == s}
        mode = min(col, key=lambda b: (-col[b], ord(b)))
        gap = n - t
        if gap >= col[mode]:
            mode_b, mode_c, tot = "-", gap, (n if gap > 0 else t)
        else:
            mode_b, mode_c, tot = mode, col[mode], (n if gap > 0 else t)
        c = "N" if mode_c <= tot * 0.5 else mode_b
        if c != "-":
            cons[s] = c
    ex["cons_ins"] = cons
    return ex


# -------------------------------------------------------------------- corpus

_STOP = re.compile(r"\b(the|and|of|to|is|in|a|that|it|for)\b")
_LANG = {  # pipeline.text.LANG_MARKERS, restated
    "de": ["der", "die", "und", "ist", "nicht"],
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "que", "de", "es"],
    "fr": ["le", "la", "et", "est", "les"],
}
_LANG_RE = {k: re.compile(r"\b(" + "|".join(v) + r")\b") for k, v in _LANG.items()}


def _shingles(text: str, k: int) -> set:
    t = text.lower()
    return {t[i:i + k] for i in range(len(t) - k + 1)}


def jaccard(a: str, b: str, k: int) -> float:
    sa, sb = _shingles(a, k), _shingles(b, k)
    common = len(sa & sb)
    return common / (len(sa) + len(sb) - common)


def gopher_features(text: str) -> dict:
    """pipeline.text.gopher_quality_filter's features and keep/reasons
    at its default thresholds, restated for ASCII text."""
    n_chars = len(text)
    n_tokens = len(text.split())
    n_alpha = sum(c.isascii() and c.isalpha() for c in text)
    n_digit = sum("0" <= c <= "9" for c in text)
    n_punct = sum(not (c.isascii() and (c.isalnum() or c.isspace())) for c in text)
    n_stop = len(_STOP.findall(text.lower()))
    f = dict(
        n_chars=n_chars, n_tokens=n_tokens,
        mean_word_len=n_alpha / n_tokens if n_tokens else 0.0,
        alpha_ratio=n_alpha / n_chars if n_chars else 0.0,
        punct_ratio=n_punct / n_chars if n_chars else 0.0,
        digit_ratio=n_digit / n_chars if n_chars else 0.0,
        stopword_ratio=n_stop / n_tokens if n_tokens else 0.0,
    )
    rules = [
        ("too_few_tokens", n_tokens < 50), ("too_many_tokens", n_tokens > 100_000),
        ("mean_word_len", f["mean_word_len"] < 3.0 or f["mean_word_len"] > 10.0),
        ("low_alpha", f["alpha_ratio"] < 0.8), ("low_stopword", f["stopword_ratio"] < 0.02),
        ("high_digit", f["digit_ratio"] > 0.2),
    ]
    f["reasons"] = ",".join(name for name, bad in rules if bad)
    f["keep"] = f["reasons"] == ""
    f["n_alpha"] = n_alpha
    return f


def language(text: str) -> tuple[str, int]:
    """pipeline.text.language_id's (pred_lang, lang_score): most marker
    words wins, ties go to the alphabetically first language."""
    t = text.lower()
    scores = {k: len(r.findall(t)) for k, r in _LANG_RE.items()}
    best = max(scores.values())
    if best == 0:
        return "und", 0
    return min(k for k, v in scores.items() if v == best), best


class UnionFind:
    def __init__(self):
        self.parent = {}

    def find(self, x):
        self.parent.setdefault(x, x)
        while self.parent[x] != x:
            self.parent[x] = self.parent[self.parent[x]]
            x = self.parent[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            self.parent[hi] = lo


def corpus(truth, eval_k: int, cur_k: int, max_contamination: float):
    ids = truth.doc_id.tolist()
    text = truth.text
    by_id = dict(zip(ids, text))
    ex = {"by_id": by_id}
    feats = [gopher_features(t) for t in text]
    text_crc = crc(text)
    ex["text_crc"] = dict(zip(ids, text_crc.tolist()))
    cols = {
        "doc_id": truth.doc_id, "text": text_crc,
        "n_chars": [f["n_chars"] for f in feats], "n_tokens": [f["n_tokens"] for f in feats],
        "reasons": crc([f["reasons"] for f in feats]), "keep": [int(f["keep"]) for f in feats],
    }
    for k in ("mean_word_len", "alpha_ratio", "punct_ratio", "digit_ratio", "stopword_ratio"):
        cols[k] = dbl([f[k] for f in feats])
    ex["gopher_cols"] = cols

    # exact-duplicate and case-twin groups: LSH cannot miss these
    groups = {}
    for i, t in zip(ids, text):
        groups.setdefault(t.lower(), []).append(i)
    ex["sure_pairs"] = {
        (a, b) for g in groups.values() for a, b in itertools.combinations(sorted(g), 2)
    }

    eval_grams = set()
    for t in truth.eval_text:
        eval_grams |= _shingles(t, eval_k)
    n_grams, n_cont = [], []
    for t in text:
        g = _shingles(t, eval_k)
        n_grams.append(len(g))
        n_cont.append(len(g & eval_grams))
    n_grams, n_cont = np.array(n_grams), np.array(n_cont)
    cont = np.where(n_grams > 0, n_cont / np.maximum(n_grams, 1), 0.0)
    long_enough = np.array([len(t) >= eval_k for t in text])
    ex["contamination"] = digest_np(
        [truth.doc_id[long_enough], n_grams[long_enough], n_cont[long_enough], dbl(cont[long_enough])],
        int(long_enough.sum()))

    # curate_documents_full: which documents must survive, which must
    # not, and which may go either way (word-edit near duplicates are
    # found only when MinHash-LSH makes them candidates)
    gate = {}
    for i, t, f in zip(ids, text, feats):
        gate[i] = 10 <= f["n_tokens"] <= 5000 and f["n_alpha"] / len(t) >= 0.4
    lang = {i: language(t) for i, t in zip(ids, text)}
    first = {}
    for i in sorted(ids):
        if gate[i]:
            first.setdefault(by_id[i], i)
    stage = {i for i in ids if gate[i] and first[by_id[i]] == i and lang[i][0] != "und"}
    fam = {}
    for idx, f in enumerate(truth.family.tolist()):
        if f >= 0:
            fam.setdefault(f, []).append(ids[idx])
    must_drop, may_drop = set(ids) - stage, set()
    low = {}
    for i in stage:
        low.setdefault(by_id[i].lower(), []).append(i)
    for g in low.values():
        must_drop |= set(sorted(g)[1:])
    for members in fam.values():
        live = sorted(m for m in members if m in stage)
        for a, b in itertools.combinations(live, 2):
            if by_id[a].lower() != by_id[b].lower() and jaccard(by_id[a], by_id[b], cur_k) >= 0.4:
                may_drop.add(b)
    id_pos = {i: n for n, i in enumerate(ids)}
    for i in stage:
        if cont[id_pos[i]] > max_contamination:
            must_drop.add(i)
    ex["curate_stage"] = stage
    ex["curate_must_drop"] = must_drop
    ex["curate_may_drop"] = may_drop - must_drop
    ex["lang"] = lang
    ex["n_tokens"] = {i: f["n_tokens"] for i, f in zip(ids, feats)}
    return ex

