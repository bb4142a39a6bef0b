"""Benchmark entry point.

    python3 perfbench/run.py --workload amplicon --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout (the directory holding
``seqtables_spark/``). One process runs one workload in one Spark
session of at most 2 cores, driven by a closed loop from one thread:
each call starts when the previous one has returned and its result has
been consumed.

--trace 0 prints the end-to-end metrics. --trace 1 makes a second
warm-up pass, then alternates untraced and traced passes, prints the
per-layer metrics (the tracing overhead among them), and writes the
spans to
``.perfbench/traces/<workload>-<seed>-<pid>.json``. The last stdout
line is one JSON object: {"correct", "attempted", "failed", "metrics"}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: generation + writing is repeated this often per run; setup_s takes
#: the median, so one slow filesystem moment does not move it
SETUP_REPS = 3
#: Spark cores, and the CPUs the driver JVM sizes its GC and JIT
#: thread pools for. Half of a 4-core host: with all four, one pass's
#: time moved by up to 15% within a run, as the Spark driver's threads
#: (Python, py4j, GC, JIT) competed with the task threads.
CORES = 2
HEAP = "1g"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_spark(work: str):
    """The library's own session factory, with every scratch directory
    inside the work directory."""
    from seqtables_spark import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = min(CORES, len(os.sched_getaffinity(0)))
    return get_spark(
        app_name="perfbench", cores=cores,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # A fixed-size heap, so peak RSS does not follow the GC's
            # heap resizing. C1 only: with C2 the speed kept rising for
            # three or four passes after the warm-up, and the timed
            # passes landed on that ramp; C1 levels off within the
            # warm-up pass. No hsperfdata files in the system /tmp.
            "spark.driver.extraJavaOptions": (
                f"-Xms{HEAP} -XX:TieredStopAtLevel=1 -XX:-UsePerfData "
                f"-XX:ActiveProcessorCount={cores} "
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, end the JVM, and wait for every process this
    run started (the JVM and its Python workers) to exit."""
    from probe import descendants

    proc = spark.sparkContext._gateway.proc
    kids = descendants(os.getpid())
    try:
        spark.stop()
    except Exception:  # a broken gateway; the JVM is ended below all the same
        pass
    proc.stdin.close()  # the gateway JVM exits at end of its stdin
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and _state(pid) != "Z":
            if time.time() > deadline:
                os.kill(pid, 9)
                deadline = time.time() + 5
            time.sleep(0.05)


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except (FileNotFoundError, IndexError):
        return "Z"


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile of the sorted sample (numpy's
    default), q in [0, 1]."""
    v = sorted(values)
    pos = (len(v) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def timed_passes(wl, rec, seconds: float, trace: bool):
    """Closed loop of whole passes until `seconds` have elapsed. With
    trace, passes alternate untraced and traced, at least one of each.
    Returns per-pass records."""
    from probe import CallFailed

    out = []
    t_start = time.perf_counter()
    i = 0
    while True:
        rec.trace = trace and i % 2 == 1
        rec.begin_pass(i)
        t0 = time.perf_counter()
        try:
            wl.run_pass(rec)
        except CallFailed as e:
            print(f"pass {i}: {e} raised: {rec.calls[-1].error}", file=sys.stderr)
        wall = time.perf_counter() - t0
        rec.end_pass()
        rec.run_checks()
        calls = list(rec.calls)
        skipped = wl.calls_per_pass - len(calls)
        counters = wl.counters() if rec.trace else {}
        wl.end_pass()
        for c in calls:
            if not c.ok:
                print(f"pass {i}: {c.name} failed: {c.error}", file=sys.stderr)
        out.append({"pass": i, "traced": rec.trace, "wall_s": wall, "calls": calls,
                    "skipped": skipped, "counters": counters})
        i += 1
        if time.perf_counter() - t_start >= seconds and i % (2 if trace else 1) == 0:
            return out


MODULES = ["constructors", "sources.sam", "sources.align", "sources.bam",
           "operators.distribution", "operators.compare", "operators.quality",
           "operators.kmers", "operators.pwm", "operators.insertions",
           "pipeline.text", "pipeline.dedup", "pipeline.curate"]

COUNTERS = ["sources.bam.bytes_written", "sources.bam.write_amplification",
            "pipeline.dedup.candidate_pairs", "pipeline.dedup.verified_pairs",
            "pipeline.dedup.lsh_precision", "pipeline.dedup.cc_rounds"]


def layer_metrics(passes) -> dict:
    """Per-layer values of each traced pass, reduced to their median."""
    per_pass = []
    for p in passes:
        if not p["traced"]:
            continue
        m = {f"{mod}.{k}": 0.0 for mod in MODULES for k in ("build_s", "build_jobs", "exec_s", "exec_jobs", "self_s")}
        for k in ("planning_s", "jobs", "stages", "tasks", "failed_tasks",
                  "shuffle_write_bytes", "scan_bytes", "spill_bytes"):
            m[f"spark.{k}"] = 0.0
        m.update({"sources.align.python_s": 0.0, "sources.align.arrow_bytes": 0.0, "model.cells_rows": 0.0})
        m.update(dict.fromkeys(COUNTERS, 0.0))
        for c in p["calls"]:
            m[f"{c.build_module}.build_s"] += c.build_s
            m[f"{c.build_module}.build_jobs"] += c.build_jobs
            m[f"{c.exec_module}.exec_s"] += c.exec_s
            m[f"{c.exec_module}.exec_jobs"] += c.exec_jobs
            m[f"{c.build_module}.self_s"] += c.self_s
            m["spark.jobs"] += c.build_jobs + c.exec_jobs
            m["spark.stages"] += c.stages
            m["spark.tasks"] += c.tasks
            m["spark.failed_tasks"] += c.failed_tasks
            for k, v in c.plan.items():
                if k == "align_python_s":
                    m["sources.align.python_s"] += v
                elif k == "align_arrow_bytes":
                    m["sources.align.arrow_bytes"] += v
                elif k == "cells_rows":
                    m["model.cells_rows"] += v
                else:
                    m[f"spark.{k}"] += v
        for k, v in p["counters"].items():
            m[k] = float(v)
        per_pass.append(m)
    if not per_pass:
        return {}
    return {k: statistics.median(pp[k] for pp in per_pass) for k in per_pass[0]}


def write_trace(rec, workload: str, seed: int, passes, metrics) -> str:
    d = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{workload}-{seed}-{os.getpid()}.json")
    doc = {
        "workload": workload, "seed": seed, "metrics": metrics,
        "spans": [s.__dict__ for s in rec.spans],
        "passes": [{"pass": p["pass"], "traced": p["traced"], "wall_s": p["wall_s"],
                    "counters": p["counters"],
                    "calls": [c.__dict__ for c in p["calls"]]} for p in passes],
    }
    with open(path, "w") as f:
        json.dump(doc, f)
    return path


def main(argv=None) -> int:
    args = parse_args(argv)
    if os.environ.get("PYTHONHASHSEED") != "0":
        # a fixed string-hash seed, so set and dict order inside the
        # library (and with it the plans it builds) is the same in every
        # run; Spark's Python workers already run with seed 0
        args_ = sys.argv[1:] if argv is None else argv
        os.execve(sys.executable, [sys.executable, os.path.abspath(__file__), *args_],
                  {**os.environ, "PYTHONHASHSEED": "0"})
    # a TERM (a caller's timeout) unwinds through the finally below, so
    # the JVM and its Python workers are stopped and the work directory
    # removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "seqtables_spark")):
        print(f"perfbench: no seqtables_spark/ package under {ROOT}; run from a source checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    # Spark's Python workers import seqtables_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work)
        session_s = time.perf_counter() - t0

        from probe import CallFailed, Recorder, vm_hwm_mb

        wl = WORKLOADS[args.workload](spark, args.seed, work)
        gen_s = []
        for r in range(SETUP_REPS):
            path = os.path.join(work, f"inputs-{r}")
            t0 = time.perf_counter()
            truth = wl.generate(path)
            gen_s.append(time.perf_counter() - t0)
            if r < SETUP_REPS - 1:
                shutil.rmtree(path)
        wl.prepare(truth)

        rec = Recorder(spark, trace=False)
        t0 = time.perf_counter()
        warm = timed_passes(wl, rec, 0.0, trace=False)  # one untimed warm-up pass
        warm_s = time.perf_counter() - t0
        if args.trace:
            # the first pass after one warm-up is still a little slower
            # than later ones; a second warm-up keeps that drift out of
            # trace.overhead_s
            warm += timed_passes(wl, rec, 0.0, trace=False)
        setup_s = session_s + statistics.median(gen_s) + warm_s

        passes = timed_passes(wl, rec, args.seconds, trace=bool(args.trace))
        probe_calls, probe_counts = [], {}
        if args.trace:
            rec.trace = True
            rec.begin_pass(len(passes))
            try:
                probe_counts = wl.probe(rec)
            except CallFailed:
                pass
            rec.end_pass()
            rec.run_checks()
            probe_calls = list(rec.calls)
            wl.end_pass()
        rss = vm_hwm_mb(os.getpid()) + vm_hwm_mb(spark.sparkContext._gateway.proc.pid)

        lat = [c.build_s + c.exec_s for p in passes for c in p["calls"]]
        attempted = sum(len(p["calls"]) + p["skipped"] for p in passes) + len(probe_calls)
        failed = (sum(sum(not c.ok for c in p["calls"]) + p["skipped"] for p in passes)
                  + sum(not c.ok for c in probe_calls))
        for c in probe_calls:
            if not c.ok:
                print(f"probe: {c.name} failed: {c.error}", file=sys.stderr)
        warm_failed = sum(not c.ok for p in warm for c in p["calls"]) + sum(p["skipped"] for p in warm)
        if args.trace:
            untraced = [p["wall_s"] for p in passes if not p["traced"]]
            traced = [p["wall_s"] for p in passes if p["traced"]]
            metrics = layer_metrics(passes)
            metrics.update({k: float(v) for k, v in probe_counts.items()})
            t_med = statistics.median(traced) if traced else 0.0
            u_med = statistics.median(untraced) if untraced else 0.0
            metrics.update({"trace.traced_pass_s": t_med, "trace.untraced_pass_s": u_med,
                            "trace.overhead_s": t_med - u_med})
            units = {}
            print(f"trace: {write_trace(rec, args.workload, args.seed, passes, metrics)}", file=sys.stderr)
        else:
            pass_s = statistics.median(p["wall_s"] for p in passes)
            metrics = {
                "pass_s": pass_s,
                "rows_per_s": wl.input_rows / pass_s,
                "op_p50_s": quantile(lat, 0.5),
                "op_p90_s": quantile(lat, 0.9),
                "setup_s": setup_s,
                "peak_rss_mb": rss,
            }
            units = {"pass_s": "s", "rows_per_s": "rows/s", "op_p50_s": "s", "op_p90_s": "s",
                     "setup_s": "s", "peak_rss_mb": "MB"}
        above_p90 = sum(x > quantile(lat, 0.9) for x in lat)
        print(f"{args.workload} seed={args.seed}: {len(passes)} passes, {len(lat)} calls "
              f"({above_p90} above p90), op_fail_ratio={failed / max(attempted, 1):.4f} "
              f"({failed}/{attempted}), warm-up failures={warm_failed}, "
              f"session {session_s:.2f} s, generate {statistics.median(gen_s):.2f} s, warm-up {warm_s:.2f} s",
              file=sys.stderr)
        print("  pass walls: " + " ".join(f"{p['wall_s']:.3f}" for p in passes), file=sys.stderr)
        by_call = {}
        for p in passes:
            for c in p["calls"]:
                by_call.setdefault(c.name, []).append(c.build_s + c.exec_s)
        print("  call medians: " + " ".join(f"{k}={statistics.median(v):.3f}" for k, v in by_call.items()),
              file=sys.stderr)
        for k, v in metrics.items():
            print(f"  {k} = {v:.6g} {units.get(k, '')}", file=sys.stderr)
        result = {
            "correct": failed == 0 and warm_failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units.get(k) or unit_of(k)} for k, v in metrics.items()},
        }
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("lsh_precision", "write_amplification")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
