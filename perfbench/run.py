"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Runs from any working directory: the repository root is this file's
parent directory. One driver process, ``local[nproc]``, one job at a
time (a closed loop with one client). The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With ``--trace 0``
the metrics are the end-to-end metrics, with ``--trace 1`` the
per-layer metrics of a separate traced run. Scratch data lives under
perfbench/_work/ and is removed at exit; the run record (host, metrics,
spans) is written to perfbench/_out/.
"""
from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

# Timed jobs per run, at least: every job-level metric is a median.
MIN_JOBS = 2


def _prepare_env(work: Path) -> None:
    """Environment the driver, the JVM and the Python workers inherit:
    the repository on the import path, every scratch file in ``work``."""
    for sub in ("tmp", "local", "warehouse", "eventlog"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    paths = [str(ROOT)] + [p for p in os.environ.get(
        "PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(work / "warehouse")
    # every JVM (launcher and driver): temp files in ``work``, and no
    # hsperfdata file under the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={work / 'tmp'}"]))
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count())


def _start_session(name: str, work: Path, trace: bool):
    from document_ai_spark.session import get_spark
    nproc = os.cpu_count()
    conf = {
        "spark.local.dir": str(work / "local"),
        "spark.hadoop.hadoop.tmp.dir": str(work / "tmp"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "eventlog"),
            # zstandard is not installed: one plain JSON-lines file
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(f"perfbench-{name}", master=f"local[{nproc}]",
                      shuffle_partitions=nproc, extra_conf=conf)
    spark.sparkContext.setLogLevel("OFF")
    return spark


def _run_job(wl, ctx, tag: str, pid: int):
    from perfbench.proc import tree_cpu_s
    from perfbench.workloads import JobResult
    c0, t0 = tree_cpu_s(pid), time.monotonic()
    try:
        res = wl.job(ctx, tag)
    except Exception:                           # noqa: BLE001
        traceback.print_exc()
        res = JobResult(tag, time.monotonic() - t0,
                        {op: 0.0 for op in wl.op_names()})
        res.failed = set(res.ops)
    res.cpu_s = tree_cpu_s(pid) - c0
    return res


def _check(wl, ctx, res) -> None:
    if res.handle is None:
        return
    try:
        res.failed |= wl.check(ctx, res)
    except Exception:                           # noqa: BLE001
        traceback.print_exc()
        res.failed |= set(res.ops)
    res.failed &= set(res.ops)


def _counts(jobs) -> tuple:
    return (sum(len(r.ops) for r in jobs),
            sum(len(r.failed) for r in jobs))


def _untraced(wl, ctx, seconds: float, pid: int, setup_s: float):
    from perfbench.trace import tail_percentile
    jobs = []
    t0 = time.monotonic()
    # at least MIN_JOBS, then another only while a typical job still fits
    # the window
    while len(jobs) < MIN_JOBS or time.monotonic() - t0 + \
            statistics.median(r.wall_s for r in jobs) <= seconds:
        jobs.append(_run_job(wl, ctx, f"t{len(jobs)}", pid))
    for r in jobs:
        _check(wl, ctx, r)
    ok = [r for r in jobs if not r.failed] or jobs
    lat = [v for r in ok for v in r.ops.values()]
    job_s = statistics.median(r.wall_s for r in ok)
    metrics = {
        "docs_per_s": wl.n_docs / job_s,
        "job_s": job_s,
        "bucket_p50_s": statistics.median(lat),
        "cpu_s": statistics.median(r.cpu_s for r in ok),
        "setup_s": setup_s,
    }
    notes = {"job_walls_s": [round(r.wall_s, 3) for r in jobs],
             "bucket_samples": len(lat)}
    tail = tail_percentile(lat)
    if tail is not None:
        notes[f"bucket_p{tail[0] * 100:g}_s"] = tail[1]
    return jobs, metrics, notes


def _traced(wl, ctx, pid: int, work: Path):
    """Traced job between two untraced ones, then the layer runs.
    Returns the jobs, the layer metrics gathered before the session
    stops, and a callback that finishes them from the event log after
    it stops."""
    from perfbench.proc import RssSampler, jvm_heap_committed_mb
    from perfbench.trace import Tracer, self_times
    tracer = Tracer(f"{wl.name}-s{ctx.seed}", ctx.spark.sparkContext)
    with RssSampler(pid) as rss:
        before = _run_job(wl, ctx, "u0", pid)
        ctx.tracer = tracer
        with tracer.span("job") as root:
            traced = _run_job(wl, ctx, "tr0", pid)
        ctx.tracer = None
        after = _run_job(wl, ctx, "u1", pid)
    heap_mb = jvm_heap_committed_mb(ctx.spark)
    ctx.tracer = tracer
    layer = wl.layers(ctx, traced)
    for r in (before, traced, after):
        _check(wl, ctx, r)
    # the untraced jobs bracket the traced one, so a drift in job time
    # over the run (the JIT still settling) cancels out of the overhead
    untraced = (before.wall_s + after.wall_s) / 2
    st = self_times(tracer.spans)
    layer.update({
        "trace.job_s": traced.wall_s,
        "trace.untraced_job_s": untraced,
        "trace.overhead_s": traced.wall_s - untraced,
        "trace.layer_share": 1.0 - st[root.span_id] / root.duration,
        "mem.peak_rss_mb": rss.peak_mb,
        "mem.jvm_heap_committed_mb": heap_mb,
    })

    def finish() -> dict:
        from perfbench.trace import read_event_log
        logs = glob.glob(str(work / "eventlog" / "*"))
        if logs:
            layer.update(wl.finish_layers(read_event_log(logs[0]), ctx,
                                          traced))
        return layer

    return [before, traced, after], finish


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "document_ai_spark" / "__init__.py").is_file():
        print(f"perfbench: no document_ai_spark sources under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import catalog, workloads
    from perfbench.proc import host_record, stop_session
    if args.workload not in workloads.FACTORIES:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{', '.join(workloads.FACTORIES)}", file=sys.stderr)
        return 2
    work = HERE / "_work" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    _prepare_env(work)

    pid = os.getpid()
    host = host_record(args.seed)
    wl = workloads.make(args.workload)
    try:
        spark = None
        try:
            t0 = time.monotonic()
            spark = _start_session(args.workload, work, bool(args.trace))
            session_s = time.monotonic() - t0
            ctx = workloads.Ctx(spark, str(work), args.seed)
            t = time.monotonic()
            wl.generate(ctx)
            t_gen = time.monotonic()
            # warm-up passes pay the JVM, codegen and Python-worker
            # start-up, and let the JIT settle, before anything is timed
            wl.warm_up(ctx)
            t_end = time.monotonic()
            notes = {"session_s": session_s, "generate_s": t_gen - t,
                     "warmup_s": t_end - t_gen}
            setup_s = session_s + t_end - t
            if args.trace:
                jobs, finish = _traced(wl, ctx, pid, work)
                notes["setup_s"] = setup_s
            else:
                jobs, metrics, timed = _untraced(wl, ctx, args.seconds, pid,
                                                 setup_s)
                notes.update(timed)
        finally:
            if spark is not None:
                stop_session(spark)
        if args.trace:
            got = finish()
            metrics = {n: float(got.get(n, 0.0))
                       for n, *_ in catalog.PER_LAYER}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = _counts(jobs)
    record = {"workload": args.workload, "trace": args.trace, "host": host,
              "notes": notes, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    out_dir = HERE / "_out"
    out_dir.mkdir(exist_ok=True)
    stem = f"{args.workload}-s{args.seed}-t{args.trace}"
    (out_dir / f"{stem}.json").write_text(json.dumps(record, indent=1))
    if args.trace:
        ctx.tracer.dump(str(out_dir / f"{stem}-spans.json"))

    print("host " + json.dumps(host))
    print("notes " + json.dumps(notes))
    for name, value in metrics.items():
        print(f"{name} {value:.6g} {catalog.UNITS[name]}")
    print(f"fail_frac {failed / max(attempted, 1):.4g} "
          f"({failed} of {attempted} operations)")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": catalog.UNITS[n]}
                    for n, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
