"""Measurement plumbing: result digests, per-call clocks and job
groups, plan-metric harvest, spans, and process memory.

Everything here observes ``seqtables_spark`` from the outside: it
calls public functions, tags the jobs they fire with job groups, and
reads Spark's own status tracker and executed plans afterwards.
"""

from __future__ import annotations

import os
import time
import traceback
import zlib
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

# ------------------------------------------------------------------ digests
#
# A digest is (row count, sum over rows of a mixed per-row hash). Each
# column becomes an integer first: strings by CRC-32 of their UTF-8
# bytes (Spark's crc32 and zlib.crc32 agree), integers as themselves,
# doubles as floor(x * 1e9 + 0.5). The per-row mix is non-linear, so
# values swapped between rows change the sum. Every step stays below
# 2^63, which ANSI mode would otherwise reject as overflow.

_M = 2_147_483_647
_PRIMES = [1_000_003, 999_983, 999_979, 999_961, 999_959, 999_953, 999_931,
           999_917, 999_907, 999_883, 999_863, 999_853, 999_849, 999_809,
           999_773, 999_769]


def _spark_enc(field_: T.StructField):
    c = F.col(f"`{field_.name}`")
    t = field_.dataType
    if isinstance(t, T.StringType):
        v = F.crc32(c)
    elif isinstance(t, (T.DoubleType, T.FloatType)):
        v = F.floor(c * F.lit(1e9) + F.lit(0.5))
    elif isinstance(t, (T.BooleanType, T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        v = c.cast("long")
    else:
        raise TypeError(f"no digest encoding for {field_.name}: {t}")
    return F.pmod(F.coalesce(v, F.lit(0)), F.lit(_M))


def digest_df(df: DataFrame) -> DataFrame:
    """One-row frame (n, h) that reads every column of every row."""
    if len(df.schema.fields) > len(_PRIMES):
        raise ValueError("too many columns to digest")
    x = None
    for p, f in zip(_PRIMES, df.schema.fields):
        term = _spark_enc(f) * F.lit(p)
        x = term if x is None else x + term
    h = F.pmod(x, F.lit(_M))
    return df.select(F.pmod(h * h + h * F.lit(7), F.lit(_M)).alias("_h")).agg(
        F.count(F.lit(1)).alias("n"), F.coalesce(F.sum("_h"), F.lit(0)).alias("h")
    )


def crc(values) -> np.ndarray:
    """CRC-32 per string (or bytes) value, as int64."""
    return np.fromiter(
        (zlib.crc32(v.encode() if isinstance(v, str) else bytes(v)) for v in values),
        np.int64, len(values),
    )


def crc_rows(mat: np.ndarray) -> np.ndarray:
    """CRC-32 of each row of a uint8 matrix."""
    return np.fromiter((zlib.crc32(r) for r in np.ascontiguousarray(mat)), np.int64, mat.shape[0])


#: CRC-32 of every one-byte string, for per-cell lookups
CRC_BYTE = np.array([zlib.crc32(bytes([i])) for i in range(256)], np.int64)


def crc_const(s: str) -> int:
    return zlib.crc32(s.encode())


def dbl(x) -> np.ndarray:
    return np.floor(np.asarray(x, np.float64) * 1e9 + 0.5).astype(np.int64)


def digest_np(cols, n: int) -> tuple[int, int]:
    """The same digest over already-encoded integer columns; each item
    broadcasts against the others (e.g. an (N, 1) read column against
    a (1, W) position row)."""
    x = 0
    for p, c in zip(_PRIMES, cols):
        x = x + (np.asarray(c, np.int64) % _M) * p
    h = np.asarray(x, np.int64) % _M
    return n, int(((h * h + h * 7) % _M).sum())


# ------------------------------------------------------------- process info

def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def descendants(pid: int) -> list[int]:
    """Live descendant pids of `pid` (via /proc/<pid>/task/*/children)."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except FileNotFoundError:
            continue
        for t in tasks:
            try:
                with open(f"/proc/{p}/task/{t}/children") as f:
                    kids = [int(k) for k in f.read().split()]
            except FileNotFoundError:
                continue
            out += kids
            todo += kids
    return out


# ------------------------------------------------------------ plan harvest

#: metrics summed from the executed plan of each consumed result
PLAN_KEYS = ("shuffle_write_bytes", "scan_bytes", "spill_bytes", "planning_s",
             "align_python_s", "align_arrow_bytes", "cells_rows")


def harvest_plan(df: DataFrame, seen: set) -> dict:
    """Walk the final (post-AQE) plan of an executed DataFrame, cached
    relations included, and sum the metrics in PLAN_KEYS. Plan nodes in
    `seen` were counted by an earlier call of the same pass (a cached
    stage is shared by its consumers) and are skipped."""
    out = dict.fromkeys(PLAN_KEYS, 0.0)
    qe = df._jdf.queryExecution()
    phases = qe.tracker().phases().values().iterator()
    while phases.hasNext():
        out["planning_s"] += phases.next().durationMs() / 1000.0
    stack = [qe.executedPlan()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if name.startswith("Reused"):
            continue
        nid = node.id()
        if nid in seen:
            continue
        seen.add(nid)
        if name == "InMemoryTableScanExec":
            stack.append(node.relation().cachedPlan())
        m = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            m[kv._1()] = kv._2().value()
        out["spill_bytes"] += m.get("spillSize", 0)
        if name == "ShuffleExchangeExec":
            out["shuffle_write_bytes"] += m.get("shuffleBytesWritten", 0)
        elif name.startswith("FileSourceScanExec"):
            out["scan_bytes"] += m.get("filesSize", 0)
        elif name == "MapInArrowExec":
            out["align_python_s"] += m.get("pythonTotalTime", 0) / 1000.0
            out["align_arrow_bytes"] += m.get("pythonDataSent", 0) + m.get("pythonDataReceived", 0)
        elif name == "GenerateExec" and node.generator().prettyName() == "posexplode":
            out["cells_rows"] += m.get("numOutputRows", 0)
        ch = node.children()
        stack += [ch.apply(i) for i in range(ch.size())]
    return out


# --------------------------------------------------------- calls and spans

@dataclass
class Span:
    id: int
    parent: int | None
    pass_id: int
    kind: str          # pass | call | build | exec | job
    name: str
    module: str | None
    start: float       # epoch seconds
    end: float


@dataclass
class CallRecord:
    name: str
    build_module: str
    exec_module: str
    build_s: float
    exec_s: float
    ok: bool = True
    error: str | None = None
    # trace-only
    build_jobs: int = 0
    exec_jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    self_s: float = 0.0
    plan: dict = field(default_factory=dict)


class CallFailed(Exception):
    """A call raised; the rest of its pass cannot run."""


class Recorder:
    """Times each call from its start until its result is consumed, in
    two job groups (build, exec). With tracing on it also records spans
    and harvests jobs, stages, tasks and plan metrics after each call,
    outside the timed span."""

    def __init__(self, spark, trace: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.trace = trace
        self.spans: list[Span] = []
        self._next_id = 0
        self.calls: list[CallRecord] = []
        self.checks: list[tuple] = []
        self.pass_id = -1
        self.last_value = None
        self._pass_span: Span | None = None
        self._seen_nodes: set = set()
        self._seen_stages: set = set()

    def _span(self, parent, kind, name, module, start, end) -> Span:
        s = Span(self._next_id, parent, self.pass_id, kind, name, module, start, end)
        self._next_id += 1
        if self.trace:
            self.spans.append(s)
        return s

    def begin_pass(self, pass_id: int) -> None:
        self.pass_id = pass_id
        self.calls, self.checks = [], []
        self._seen_nodes, self._seen_stages = set(), set()
        self._pass_span = self._span(None, "pass", f"pass-{pass_id}", None, time.time(), 0.0)

    def end_pass(self) -> None:
        self._pass_span.end = time.time()
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def call(self, name, module, build, consume, check, exec_module=None):
        """Run build() (the public call), then consume(result) which
        must return (value, executed DataFrame or None). The check runs
        later, off the clock. Returns build()'s result; the consumed
        value stays in self.last_value."""
        exec_module = exec_module or module
        gb = f"pb-{self.pass_id}-{len(self.calls)}-build"
        ge = f"pb-{self.pass_id}-{len(self.calls)}-exec"
        sc = self.sc
        w0 = time.time()
        sc.setJobGroup(gb, name)
        t0 = time.perf_counter()
        try:
            res = build()
            t1 = time.perf_counter()
            sc.setJobGroup(ge, name)
            value, executed = consume(res)
            t2 = time.perf_counter()
        except Exception as e:  # the call itself failed: record, abort the pass
            rec = CallRecord(name, module, exec_module, time.perf_counter() - t0, 0.0, False,
                             traceback.format_exc())
            self.calls.append(rec)
            raise CallFailed(name) from e
        rec = CallRecord(name, module, exec_module, t1 - t0, t2 - t1)
        self.calls.append(rec)
        self.last_value = value
        self.checks.append((rec, check, value))
        if self.trace:
            self._harvest(rec, gb, ge, executed, w0, w0 + (t1 - t0), w0 + (t2 - t0))
        return res

    def run_checks(self) -> None:
        for rec, check, value in self.checks:
            try:
                problem = check(value)
            except Exception as e:  # a crashing check is a failed output
                problem = repr(e)
            if problem:
                rec.ok, rec.error = False, str(problem)

    # -- trace-only harvest, off the clock -------------------------------
    def _harvest(self, rec, gb, ge, executed, w0, w1, w2) -> None:
        call = self._span(self._pass_span.id, "call", rec.name, rec.build_module, w0, w2)
        b = self._span(call.id, "build", rec.name, rec.build_module, w0, w1)
        e = self._span(call.id, "exec", rec.name, rec.exec_module, w1, w2)
        job_iv = []
        for group, span in ((gb, b), (ge, e)):
            jids = list(self.sc.statusTracker().getJobIdsForGroup(group))
            if group == gb:
                rec.build_jobs = len(jids)
            else:
                rec.exec_jobs = len(jids)
            for jid in jids:
                st, en = self._job_times(jid)
                if st is not None:
                    self._span(span.id, "job", f"job-{jid}", None, st, en)
                    job_iv.append((max(st, w0), min(en, w2)))
                info = self.sc.statusTracker().getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    if sid in self._seen_stages:  # shared with an earlier job
                        continue
                    self._seen_stages.add(sid)
                    si = self.sc.statusTracker().getStageInfo(sid)
                    if si and si.numCompletedTasks + si.numFailedTasks > 0:
                        rec.stages += 1
                        rec.tasks += si.numCompletedTasks + si.numFailedTasks
                        rec.failed_tasks += si.numFailedTasks
        rec.self_s = (w2 - w0) - _union(job_iv)
        if executed is not None:
            rec.plan = harvest_plan(executed, self._seen_nodes)

    def _job_times(self, jid):
        jd = self.sc._jsc.sc().statusStore().job(jid)
        sub, comp = jd.submissionTime(), jd.completionTime()
        if not (sub.isDefined() and comp.isDefined()):
            return None, None
        return sub.get().getTime() / 1000.0, comp.get().getTime() / 1000.0


def _union(intervals) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, end = 0.0, float("-inf")
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total
