"""The workload scripts: input sizes, one pass of public calls each,
and the check for every call. The benchmark runs `amplicon` (the
amplicon_stats and sam_ingest scripts in one pass) and `corpus_dedup`.

A pass is a fixed script. Every call goes through Recorder.call with
the module its public function lives in (the layer name), a build step
(the public call itself), a consume step that fully materialises the
result, and a check against answers computed without seqtables_spark.
Small results are collected; large long-form results are consumed as a
Spark-side digest of every column (probe.digest_df), never as a bare
count, so Catalyst cannot prune the work away.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

import expect
import gen
from probe import digest_df, digest_np


PAIRS = "id_a long, id_b long"


def collect(df):
    return df.toPandas(), df


def digest(df):
    d = digest_df(df)
    row = d.collect()[0]
    return (row["n"], row["h"]), d


def digest_named(df):
    """digest() plus the column order, for checks that build the
    expected digest from named columns."""
    got, d = digest(df)
    return (got, df.columns), d


def _reset(spark, tables=()):
    """Hermetic end of pass: release persisted stages, cached plans and
    temp views, and let the JVM reclaim checkpoint blocks."""
    for t in tables:
        t.unpersist()
    spark.catalog.clearCache()
    for t in spark.catalog.listTables():
        if t.isTemporary:
            spark.catalog.dropTempView(t.name)
    spark.sparkContext._jvm.System.gc()


class Workload:
    name: str
    calls_per_pass: int
    input_rows: int

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work

    def generate(self, path: str):
        raise NotImplementedError

    def prepare(self, truth) -> None:
        """Expected answers, computed once per run, off every clock."""
        raise NotImplementedError

    def run_pass(self, rec) -> None:
        raise NotImplementedError

    def end_pass(self) -> None:
        _reset(self.spark)

    def counters(self) -> dict:
        """Per-pass counts reported in traced runs."""
        return {}

    def probe(self, rec) -> dict:
        """One-off calls a traced run makes after its passes, for
        counts the pass script cannot see; returns those counts."""
        return {}


# ------------------------------------------------------------------ amplicon

class AmpliconStats(Workload):
    """Pre-aligned site-saturation + error-prone library in parquet;
    read-only analysis through the cells explode and the operators."""

    name = "amplicon_stats"
    N, P = 2_000, 100
    calls_per_pass = 10
    input_rows = N
    Q, PCT = 20, 90

    def generate(self, path):
        return gen.amplicon(self.seed, self.N, self.P, path)

    def prepare(self, truth):
        self.truth = truth
        rng = np.random.default_rng(self.seed + 1)
        self.wt = bytes(truth.wt).decode()
        self.pwm = rng.uniform(0.05, 1.0, (self.P, 4)).tolist()
        self.substr_positions = sorted(rng.choice(np.arange(1, self.P + 1), 10, replace=False).tolist())
        self.ex = expect.amplicon(truth, self.substr_positions, self.pwm, self.Q, self.PCT)

    def run_pass(self, rec):
        from seqtables_spark import from_df

        spark, ex = self.spark, self.ex
        st = rec.call(
            "from_df", "constructors",
            lambda: from_df(spark.read.parquet(self.truth.path), max_len=self.P),
            lambda t: digest(t.reads),
            lambda got: expect.same_digest(got, ex["reads"]))
        rec.call("get_seq_dist", "operators.distribution", lambda: st.get_seq_dist(), collect,
                 lambda pdf: expect.same_table(pdf, ex["seq_dist"], ["position", "base"], "cnt"))
        rec.call("get_consensus", "operators.distribution", lambda: st.get_consensus(), collect,
                 lambda pdf: expect.same_table(pdf, ex["consensus"], ["position"], "consensus_base"))
        rec.call("pos_entropy", "operators.distribution", lambda: st.pos_entropy(), collect,
                 lambda pdf: expect.same_table(pdf, ex["entropy"], ["position"], "entropy", 1e-9))
        rec.call("hamming_distance", "operators.compare", lambda: st.hamming_distance([self.wt]), collect,
                 lambda pdf: expect.same_table(pdf, ex["hamming"], ["read_id"], "dist")
                 or (None if set(pdf["ref_id"]) == {"1"} else "ref_id"))
        rec.call("mutation_profile", "operators.compare", lambda: st.mutation_profile([self.wt]), collect,
                 lambda pdf: expect.same_table(pdf, ex["mutation"], ["ref_base", "read_base"], "cnt"))
        rec.call("get_quality_dist", "operators.quality", lambda: st.get_quality_dist(), collect,
                 lambda pdf: expect.check_quality_dist(pdf, ex["quality_dist"]))
        rec.call("quality_filter", "operators.quality", lambda: st.quality_filter(self.Q, self.PCT),
                 lambda t: digest(t.reads),
                 lambda got: expect.same_digest(got, ex["quality_filter"]))
        rec.call("get_substrings", "operators.kmers",
                 lambda: st.get_substrings(2, positions=self.substr_positions), collect,
                 lambda pdf: expect.same_table(pdf, ex["substrings"], ["combo", "kmer"], "cnt"))
        rec.call("calculate_pwm", "operators.pwm", lambda: st.calculate_pwm(self.pwm), collect,
                 lambda pdf: expect.same_table(pdf, ex["pwm"], ["read_id"], "pwm_score", 1e-9))


# ----------------------------------------------------------------------- SAM

class SamIngest(Workload):
    """SAM text with clips, indels and quality: realigned through the
    mapInArrow kernel, analysed with insertions, written as BAM and
    read back."""

    name = "sam_ingest"
    N, L = 2_000, 100
    calls_per_pass = 8
    input_rows = N

    def generate(self, path):
        return gen.sam(self.seed, self.N, self.L, os.path.join(path, "reads.sam"))

    def prepare(self, truth):
        self.truth = truth
        self.ex = expect.sam(truth)
        self.bam_dir = os.path.join(self.work, f"bam-{os.getpid()}")

    def run_pass(self, rec):
        from seqtables_spark import SeqTable
        from seqtables_spark.operators.insertions import consensus_with_insertions
        from seqtables_spark.sources.bam import read_bam, write_bam
        from seqtables_spark.sources.sam import read_sam

        spark, ex, truth = self.spark, self.ex, self.truth
        bam = os.path.join(self.bam_dir, f"pass-{rec.pass_id}.bam")
        os.makedirs(self.bam_dir, exist_ok=True)
        sam_df = rec.call("read_sam", "sources.sam", lambda: read_sam(spark, truth.path), digest,
                          lambda got: expect.same_digest(got, ex["sam"]))
        # from_sam plans the realignment (constructors); consuming its
        # reads runs the sources.align mapInArrow kernel
        st = rec.call("from_sam", "constructors", lambda: SeqTable.from_sam(spark, truth.path),
                      lambda t: digest(t.reads),
                      lambda got: expect.same_digest(got, ex["reads"]), exec_module="sources.align")
        self._st = st
        rec.call("get_insertion_seq_dist", "operators.insertions", lambda: st.get_insertion_seq_dist(), collect,
                 lambda pdf: expect.same_table(pdf, ex["ins_dist"], ["position", "loc_ins", "base"], "cnt"))
        rec.call("seq_logo", "operators.insertions", lambda: st.seq_logo(), collect,
                 lambda pdf: expect.same_table(pdf, ex["logo"], ["position", "loc_ins", "base"], "freq", 1e-12))
        rec.call("view_with_ins", "operators.insertions", lambda: st.view_with_ins(), digest,
                 lambda got: expect.same_digest(got, ex["view"]))
        rec.call("consensus_with_insertions", "operators.insertions",
                 lambda: consensus_with_insertions(st.cells(with_qual=False), st.insertions), collect,
                 lambda pdf: expect.same_table(pdf, ex["cons_ins"], ["position", "loc_ins"], "consensus_base"))
        rec.call("write_bam", "sources.bam",
                 lambda: write_bam(sam_df, bam, refs=[("amplicon", truth.ref_len)]), collect,
                 lambda pdf: None if int(pdf["n_records"].sum()) == self.N and os.path.getsize(bam) > 0
                 else "records written")
        self.bam_bytes = os.path.getsize(bam)
        rec.call("read_bam", "sources.bam", lambda: read_bam(spark, bam), digest,
                 lambda got: expect.same_digest(got, ex["bam"]))

    def end_pass(self):
        st, self._st = getattr(self, "_st", None), None
        _reset(self.spark, [st] if st is not None else [])
        shutil.rmtree(self.bam_dir, ignore_errors=True)

    def counters(self):
        b = getattr(self, "bam_bytes", 0)
        return {"sources.bam.bytes_written": b,
                "sources.bam.write_amplification": b / self.truth.n_bytes}


# -------------------------------------------------------------------- corpus

class CorpusDedup(Workload):
    """Generated documents with planted duplicates, near duplicates,
    quality failures and eval-set contamination, run through the
    quality filter, MinHash-LSH dedup, decontamination and the full
    curation pipeline."""

    name = "corpus_dedup"
    N, N_EVAL = 300, 30
    calls_per_pass = 6
    input_rows = N
    K_VERIFY, MIN_JACCARD = 5, 0.8
    K_CONT = 13

    def generate(self, path):
        return gen.corpus(self.seed, self.N, self.N_EVAL, os.path.join(path, "docs"),
                          os.path.join(path, "eval"))

    def prepare(self, truth):
        self.truth = truth
        self.ex = expect.corpus(truth, self.K_CONT, 12, 0.05)

    def _check_candidates(self, pdf):
        pairs = list(zip(pdf["id_a"].tolist(), pdf["id_b"].tolist()))
        if any(a >= b for a, b in pairs) or len(set(pairs)) != len(pairs):
            return "candidate pairs not distinct id_a < id_b"
        missing = self.ex["sure_pairs"] - set(pairs)
        if missing:
            return f"{len(missing)} identical-shingle pairs missing, e.g. {next(iter(missing))}"
        by_id = self.ex["by_id"]
        self._verified = {
            (a, b) for a, b in pairs
            if expect.jaccard(by_id[a], by_id[b], self.K_VERIFY) >= self.MIN_JACCARD
        }
        self._n_candidates = len(pairs)
        return None

    def _check_verified(self, pdf):
        got = dict(zip(zip(pdf["id_a"].tolist(), pdf["id_b"].tolist()), pdf["jaccard"].tolist()))
        if set(got) != self._verified:
            return f"{len(got)} verified pairs, want {len(self._verified)}"
        by_id = self.ex["by_id"]
        for (a, b), j in got.items():
            if abs(j - expect.jaccard(by_id[a], by_id[b], self.K_VERIFY)) > 1e-12:
                return f"jaccard({a},{b})"
        return None

    def _clusters(self):
        uf = expect.UnionFind()
        for a, b in self._verified:
            uf.union(a, b)
        return {x: uf.find(x) for x in uf.parent}

    def _check_survivors(self, got):
        losers = {x for x, r in self._clusters().items() if x != r}
        ids = self.truth.doc_id
        keep = np.array([i not in losers for i in ids.tolist()])
        tc = np.array([self.ex["text_crc"][i] for i in ids.tolist()])
        return expect.same_digest(got, digest_np([ids[keep], tc[keep]], int(keep.sum())))

    def _check_components(self, pdf):
        want = self._clusters()
        got = dict(zip(pdf["doc_id"].tolist(), pdf["cluster_id"].tolist()))
        return None if got == want else f"{len(got)} labelled docs, want {len(want)}"

    def _check_gopher(self, got):
        d, names = got
        cols = self.ex["gopher_cols"]
        return expect.same_digest(d, digest_np([cols[c] for c in names], self.N))

    def _check_curated(self, pdf):
        ex = self.ex
        ids = set(pdf["doc_id"].tolist())
        if ids - ex["curate_stage"]:
            return "survivor that the gates or exact dedup remove"
        if ids & ex["curate_must_drop"]:
            return f"{len(ids & ex['curate_must_drop'])} documents that must be dropped"
        must_keep = ex["curate_stage"] - ex["curate_must_drop"] - ex["curate_may_drop"]
        if must_keep - ids:
            return f"{len(must_keep - ids)} documents that must survive are missing"
        for r in pdf.itertuples(index=False):
            if (r.text_crc != ex["text_crc"][r.doc_id] or r.n_tokens != ex["n_tokens"][r.doc_id]
                    or (r.pred_lang, r.lang_score) != ex["lang"][r.doc_id]):
                return f"columns of doc {r.doc_id}"
        return None

    def run_pass(self, rec):
        from pyspark.sql import functions as F
        from seqtables_spark.pipeline.curate import curate_documents_full
        from seqtables_spark.pipeline.dedup import (
            contamination_check, dedup_survivors, minhash_candidate_pairs, ngram_jaccard_pairs,
        )
        from seqtables_spark.pipeline.text import gopher_quality_filter

        spark, truth = self.spark, self.truth
        docs = spark.read.parquet(truth.path)
        evals = spark.read.parquet(truth.eval_path)
        rec.call("gopher_quality_filter", "pipeline.text", lambda: gopher_quality_filter(docs),
                 digest_named, self._check_gopher)
        # each stage takes the previous stage's collected pairs, as a
        # pipeline that has already materialised them would; handing
        # over the lazy frame instead re-runs MinHash inside every
        # later call
        rec.call("minhash_candidate_pairs", "pipeline.dedup",
                 lambda: minhash_candidate_pairs(docs), collect, self._check_candidates)
        cand = rec.last_value[["id_a", "id_b"]]
        rec.call("ngram_jaccard_pairs", "pipeline.dedup",
                 lambda: ngram_jaccard_pairs(docs, k=self.K_VERIFY, min_jaccard=self.MIN_JACCARD,
                                             candidates=spark.createDataFrame(cand, PAIRS)),
                 collect, self._check_verified)
        pairs = rec.last_value[["id_a", "id_b"]]
        rec.call("dedup_survivors", "pipeline.dedup",
                 lambda: dedup_survivors(docs, spark.createDataFrame(pairs, PAIRS)), digest,
                 self._check_survivors)
        rec.call("contamination_check", "pipeline.dedup", lambda: contamination_check(docs, evals), digest,
                 lambda got: expect.same_digest(got, self.ex["contamination"]))
        rec.call("curate_documents_full", "pipeline.curate",
                 lambda: curate_documents_full(docs, eval_set=evals, materialize_stages=True),
                 lambda df: collect(df.select("doc_id", F.crc32("text").alias("text_crc"),
                                              "n_tokens", "pred_lang", "lang_score")),
                 self._check_curated)

    def counters(self):
        n_c = getattr(self, "_n_candidates", 0)
        n_v = len(getattr(self, "_verified", ()))
        return {"pipeline.dedup.candidate_pairs": n_c, "pipeline.dedup.verified_pairs": n_v,
                "pipeline.dedup.lsh_precision": n_v / n_c if n_c else 0.0}

    def probe(self, rec):
        """Clusters the verified pairs on the distributed star path,
        whose convergence rounds on_round counts (dedup_survivors takes
        the driver union-find path at this size, which has no rounds).
        Kept out of the pass: each round fires several jobs."""
        from seqtables_spark.pipeline.dedup import connected_components

        pairs = self.spark.createDataFrame(sorted(self._verified), PAIRS)
        rounds = []
        rec.call("connected_components", "pipeline.dedup",
                 lambda: connected_components(pairs, driver_edge_limit=0, algorithm="star",
                                              on_round=lambda *a: rounds.append(a)),
                 collect, self._check_components)
        return {"pipeline.dedup.cc_rounds": len(rounds)}


# ------------------------------------------------------------- composite

class Amplicon(Workload):
    """One amplicon library reached both ways in one pass: the
    amplicon_stats script over pre-aligned parquet, then the sam_ingest
    script over SAM text. A run pays one session start and one cold
    warm-up for both scripts, about 30% less than two runs, and its
    timed pass is as long as both together."""

    name = "amplicon"
    PARTS = (AmpliconStats, SamIngest)
    calls_per_pass = sum(p.calls_per_pass for p in PARTS)
    input_rows = sum(p.input_rows for p in PARTS)

    def __init__(self, spark, seed: int, work: str):
        super().__init__(spark, seed, work)
        self.parts = [p(spark, seed, work) for p in self.PARTS]

    def generate(self, path):
        return [p.generate(os.path.join(path, p.name)) for p in self.parts]

    def prepare(self, truth):
        for p, t in zip(self.parts, truth):
            p.prepare(t)

    def run_pass(self, rec):
        for p in self.parts:
            p.run_pass(rec)

    def end_pass(self):
        # sam_ingest's reset also clears the session for amplicon_stats
        self.parts[-1].end_pass()

    def counters(self):
        return self.parts[-1].counters()


#: `amplicon` and `corpus_dedup` are the benchmark's workloads; the two
#: halves of `amplicon` stay runnable on their own
WORKLOADS = {w.name: w for w in (Amplicon, CorpusDedup, AmpliconStats, SamIngest)}
