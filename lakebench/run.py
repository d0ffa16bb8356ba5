"""Lakehouse benchmark: one workload, one seed, one closed-loop run.

    python3 lakebench/run.py --workload cdc_ingest --seed 1 --seconds 25 --trace 0

Run from the repository root. Builds the workload's tables from seeded
inputs under ``.lakebench_work/`` (removed at exit), runs operations back
to back for ``--seconds`` (finishing the current cycle), checks every
result against an engine-independent oracle, and prints one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics, and writes
the spans to ``.lakebench_work/spans-<workload>-<seed>.jsonl``. See
``lakebench/README.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

import probe

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

#: driver JVM heap, reserved and touched whole at start-up (``-Xms`` =
#: the limit, ``AlwaysPreTouch``): a heap left to grow reached its limit
#: in some runs and stopped ~230 MB short in others, so peak memory
#: would measure when the collector chose to expand
DRIVER_MEM = "1g"

#: end-to-end metrics (untraced run): name -> unit
END_TO_END = {
    "setup_s": "s",
    "commit_p50_ms": "ms",
    "commit_p90_ms": "ms",
    "maintenance_s": "s",
    "rows_per_s": "rows/s",
    "cpu_ms_per_commit": "ms",
    "peak_rss_mb": "MB",
}

#: per-layer metrics (traced run): name -> (unit, better). A layer idle
#: in a workload reports 0.
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "cdc_stream.normalize_ms": ("ms", "lower"),
    "cdc.precombine_ms": ("ms", "lower"),
    "cdc.keep_ratio": ("ratio", "lower"),
    "lakehouse.upsert_ms": ("ms", "lower"),
    "lakehouse.upsert_jobs": ("count", "lower"),
    "lakehouse.upsert_tasks": ("count", "lower"),
    "lakehouse.upsert_driver_cpu_ms": ("ms", "lower"),
    "lakehouse.upsert_jvm_cpu_ms": ("ms", "lower"),
    "lakehouse.rewritten_files": ("count", "lower"),
    "lakehouse.carried_over_files": ("count", "higher"),
    "lakehouse.key_range_skipped_files": ("count", "higher"),
    "lakehouse.written_files": ("count", "lower"),
    "lakehouse.rewrite_row_ratio": ("ratio", "lower"),
    "lakehouse.optimize_ms": ("ms", "lower"),
    "lakehouse.vacuum_ms": ("ms", "lower"),
    "lakehouse.compact_ms": ("ms", "lower"),
    "lakehouse.index_log_files": ("count", "lower"),
    "lakehouse.write_amp": ("ratio", "lower"),
    "lakehouse.space_amp": ("ratio", "lower"),
    "manifest.commit_bytes": ("bytes", "lower"),
    "manifest.checkpoint_bytes": ("bytes", "lower"),
    "manifest.live_files": ("count", "lower"),
    "manifest.resolve_ms": ("ms", "lower"),
    "manifest.travel_resolve_ms": ("ms", "lower"),
    "lakehouse.lookup_plan_ms": ("ms", "lower"),
    "lakehouse.range_plan_ms": ("ms", "lower"),
    "lakehouse.scan_plan_ms": ("ms", "lower"),
    "lakehouse.travel_plan_ms": ("ms", "lower"),
    "spark.lookup_exec_ms": ("ms", "lower"),
    "spark.range_exec_ms": ("ms", "lower"),
    "spark.scan_exec_ms": ("ms", "lower"),
    "spark.travel_exec_ms": ("ms", "lower"),
    "lakehouse.lookup_files_scanned": ("count", "lower"),
    "lakehouse.range_files_scanned": ("count", "lower"),
    "lakehouse.lookup_prune_ratio": ("ratio", "lower"),
    "lakehouse.range_prune_ratio": ("ratio", "lower"),
    "text.quality_ms": ("ms", "lower"),
    "dedup.sign_ms": ("ms", "lower"),
    "dedup.lsh_ms": ("ms", "lower"),
    "dedup.lsh_jobs": ("count", "lower"),
    "lakehouse.index_rt_read_ms": ("ms", "lower"),
    "lakehouse.corpus_append_ms": ("ms", "lower"),
    "lakehouse.corpus_rewritten_files": ("count", "lower"),
    "dedup.dup_recall": ("ratio", "higher"),
    "dedup.false_drop_ratio": ("ratio", "lower"),
    "spark.jobs_per_op": ("count", "lower"),
    "spark.tasks_per_op": ("count", "lower"),
    "spark.jvm_cpu_util": ("ratio", "lower"),
    "trace.overhead_pct": ("%", "lower"),
    "host.steal_pct": ("%", "lower"),
    "host.load1": ("count", "lower"),
    "bench.op_samples": ("count", "higher"),
}

#: Lazy stages re-run the stages upstream of them when materialized, so
#: such a span's layer time is its duration minus that of the upstream
#: span in the same operation: span -> upstream span
UPSTREAM = {
    "cdc.precombine": "cdc_stream.normalize",
    "lakehouse.upsert": "cdc_stream.normalize",
    "dedup.sign": "text.quality",
    "dedup.lsh": "dedup.sign",
}

#: per-layer metric -> the span whose layer time (median ms) it reports:
#: its self time, less its ``UPSTREAM`` span
SPAN_MS = {
    "cdc_stream.normalize_ms": "cdc_stream.normalize",
    "cdc.precombine_ms": "cdc.precombine",
    "lakehouse.upsert_ms": "lakehouse.upsert",
    "lakehouse.optimize_ms": "lakehouse.optimize",
    "lakehouse.vacuum_ms": "lakehouse.vacuum",
    "lakehouse.compact_ms": "lakehouse.compact",
    "manifest.resolve_ms": "manifest.resolve",
    "manifest.travel_resolve_ms": "manifest.travel_resolve",
    "text.quality_ms": "text.quality",
    "dedup.sign_ms": "dedup.sign",
    "dedup.lsh_ms": "dedup.lsh",
    "lakehouse.index_rt_read_ms": "lakehouse.index_rt_read",
    "lakehouse.corpus_append_ms": "lakehouse.corpus_append",
    **{
        f"{layer}.{kind}_{part}_ms": f"{layer}.{kind}_{part}"
        for kind in ("lookup", "range", "scan", "travel")
        for layer, part in (("lakehouse", "plan"), ("spark", "exec"))
    },
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_spark(work: str):
    """The engine session, sized to this host, with every temporary path
    inside ``work``."""
    from hudi_and_delta_showcase_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="lakebench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
            ),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def run(args, work: str) -> dict:
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}")
    t = time.perf_counter()
    spark = start_spark(work)
    session_s = time.perf_counter() - t
    try:
        jvm = probe.jvm_pid(spark)
        tracer = probe.Tracer(spark, jvm)
        wl = WORKLOADS[args.workload](spark, work, args.seed, tracer)

        t = time.perf_counter()
        wl.setup()
        setup_s = session_s + time.perf_counter() - t

        t_loop = time.perf_counter()
        steal0 = probe.host_cpu_times()
        cpu0, jvm0 = time.process_time(), probe.proc_cpu_s(jvm)
        lat, maint, traced_ops, failed = loop(
            wl, tracer, args.seconds, bool(args.trace)
        )
        busy_s = sum(lat) + sum(maint)
        cpu_s = time.process_time() - cpu0 + probe.proc_cpu_s(jvm) - jvm0
        # before the oracles run in this process and the checks collect
        # tables into the JVM
        peak_rss_mb = probe.proc_peak_rss_mb(jvm) + probe.self_peak_rss_mb()
        steal1 = probe.host_cpu_times()
        steal_pct = 100.0 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        load = probe.load1()

        t_check = time.perf_counter()
        checks, problems = wl.check()
        check_s = time.perf_counter() - t_check
        for p in problems:
            print(f"check failed: {p}", file=sys.stderr)
        failed += len(problems)

        untraced = [x for x, tr in zip(lat, traced_ops) if not tr]
        tail = probe.tail_percentile(untraced)
        print(
            f"# {args.workload} seed={args.seed} trace={args.trace}: "
            f"{len(lat)} commits ({len(untraced)} untraced), {len(maint)} "
            f"maintenance steps (median {probe.median(maint):.2f} s); p50 "
            f"{probe.median(untraced) * 1000:.1f} ms, p90 "
            f"{probe.percentile(untraced, 90) * 1000:.1f} ms, highest "
            "percentile with >= 10 samples beyond: "
            + (f"p{tail[0]:g} = {tail[1] * 1000:.1f} ms" if tail else "none")
            + f"; phases: session {session_s:.1f} s, setup "
            f"{setup_s - session_s:.1f} s, loop {t_check - t_loop:.1f} s, "
            f"checks {check_s:.1f} s; host steal {steal_pct:.2f}%, "
            f"load1 {load:.2f}"
        )
        if args.trace:
            metrics = layer_metrics(wl, tracer, lat, traced_ops, cpu_s, busy_s)
            metrics.update({
                "session.start_s": session_s,
                "host.steal_pct": steal_pct,
                "host.load1": load,
            })
            tracer.dump(
                os.path.join(
                    os.path.dirname(work),
                    f"spans-{args.workload}-{args.seed}.jsonl",
                )
            )
            units = {k: u for k, (u, _) in PER_LAYER.items()}
        else:
            metrics = {
                "setup_s": setup_s,
                "commit_p50_ms": probe.median(lat) * 1000.0,
                "commit_p90_ms": probe.percentile(lat, 90) * 1000.0,
                "maintenance_s": probe.median(maint),
                "rows_per_s": len(lat) * wl.rows_per_commit / busy_s,
                "cpu_ms_per_commit": cpu_s * 1000.0 / len(lat),
                "peak_rss_mb": peak_rss_mb,
            }
            units = END_TO_END
    finally:
        stop_spark(spark)
    return {
        "correct": failed == 0,
        "attempted": len(lat) + len(maint) + checks,
        "failed": failed,
        "metrics": {
            k: {"value": float(metrics.get(k, 0.0)), "unit": u}
            for k, u in units.items()
        },
    }


def loop(wl, tracer, seconds: float, trace: bool):
    """The closed loop: commits back to back, and the workload's
    maintenance after the last commit of each cycle, until ``seconds``
    have passed. It runs at least one whole cycle; a traced run alternates
    untraced and traced cycles and runs at least one of each. Returns the
    commit latencies (s), the maintenance latencies (s), which commits
    were traced, and how many commits and maintenance steps raised.

    Commits get cheaper through a run as the JVM keeps compiling, so a
    run that stopped only at cycle boundaries held a whole cycle of
    commits more or fewer from one run to the next, and its median moved by ~12% with
    that; stopping after any commit keeps the step to one."""
    lat, maint, traced_ops = [], [], []
    failed = i = 0
    start = time.perf_counter()
    while not (
        time.perf_counter() - start >= seconds
        and i >= (2 if trace else 1) * wl.cycle
    ):
        traced = trace and (i // wl.cycle) % 2 == 1
        tracer.enabled, tracer.op_id = traced, i
        wl.prepare(i)
        took, ok = _timed(tracer, "op", wl.op, i)
        lat.append(took)
        failed += not ok
        if i % wl.cycle == wl.cycle - 1:
            took, ok = _timed(tracer, "maintain", wl.maintain)
            maint.append(took)
            failed += not ok
        if traced:
            wl.observe(i)
        traced_ops.append(traced)
        i += 1
    tracer.enabled = False
    return lat, maint, traced_ops, failed


def _timed(tracer, span: str, fn, *args) -> tuple[float, bool]:
    """(seconds ``fn(*args)`` took inside ``span``, whether it returned);
    a failure is logged and still timed."""
    t = time.perf_counter()
    try:
        with tracer.span(span):
            fn(*args)
        ok = True
    except Exception:
        traceback.print_exc(file=sys.stderr)
        ok = False
    return time.perf_counter() - t, ok


def layer_metrics(wl, tracer, lat, traced_ops, cpu_s, busy_s) -> dict:
    """Per-layer numbers from the traced operations' spans and notes."""
    tracer.self_times()
    out = {}
    for metric, span in SPAN_MS.items():
        up = {s["op"]: s["ms"] for s in tracer.by_name(UPSTREAM.get(span, ""))}
        out[metric] = probe.median(
            [s["self_ms"] - up.get(s["op"], 0.0) for s in tracer.by_name(span)]
        )
    ups = tracer.by_name("lakehouse.upsert")
    if ups:
        n = len(ups)
        out["lakehouse.upsert_jobs"] = sum(s["jobs"] for s in ups) / n
        out["lakehouse.upsert_tasks"] = sum(s["tasks"] for s in ups) / n
        out["lakehouse.upsert_driver_cpu_ms"] = probe.median(
            [s["driver_cpu_ms"] for s in ups]
        )
        out["lakehouse.upsert_jvm_cpu_ms"] = probe.median(
            [s["jvm_cpu_ms"] for s in ups]
        )
    lsh = tracer.by_name("dedup.lsh")
    if lsh:
        out["dedup.lsh_jobs"] = sum(s["jobs"] for s in lsh) / len(lsh)
    ops = {s["op"] for s in tracer.by_name("op")}
    if ops:
        spans = [s for s in tracer.spans if s["op"] in ops]
        out["spark.jobs_per_op"] = sum(s["jobs"] for s in spans) / len(ops)
        out["spark.tasks_per_op"] = sum(s["tasks"] for s in spans) / len(ops)
    for metric, values in wl.layer.items():
        out[metric] = sum(values) / len(values)
    if wl.input_bytes:
        out["lakehouse.write_amp"] = wl.written_bytes / wl.input_bytes
    if wl.roots():
        out["lakehouse.space_amp"] = wl.space_amp()
    if hasattr(wl, "recall"):
        out["dedup.dup_recall"], out["dedup.false_drop_ratio"] = wl.recall()
    out["spark.jvm_cpu_util"] = cpu_s / (busy_s * len(os.sched_getaffinity(0)))
    plain = [x for x, tr in zip(lat, traced_ops) if not tr]
    traced = [x for x, tr in zip(lat, traced_ops) if tr]
    if plain and traced:
        out["trace.overhead_pct"] = 100.0 * (
            probe.median(traced) / probe.median(plain) - 1.0
        )
    out["bench.op_samples"] = len(lat)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [REPO, HERE]
    work = os.path.join(
        REPO, ".lakebench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    os.makedirs(os.path.join(work, "tmp"))
    # every temporary file of this process and its JVM stays under ``work``
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the JVM that spark-submit starts to assemble the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    )
    # Spark task slots: half the cores, leaving the rest to the JVM's
    # compiler and collector threads and the Python driver. On a shared
    # 4-core host a doc_dedup commit took 2.0-2.5 s at 1-6% steal with 2
    # slots and 2.1-2.9 s with 4, where one stolen core stalls every stage
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, len(os.sched_getaffinity(0)) // 2))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    tempfile.tempdir = None
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # kept while it holds spans
            os.rmdir(os.path.dirname(work))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
