"""Driver round trips and Spark jobs per lakebench commit, by engine caller.

    python scripts/py4j_profile.py doc_dedup --seed 1 --commits 9

Run from the repository root. Builds one lakebench workload
(``lakebench/workloads.py``, imported as is) in a fresh session sized
like ``lakebench/run.py``'s, warms it up, then runs ``--commits``
commits with the workload's maintenance at its cycle boundaries, as the
benchmark loop does. Maintenance is not counted.

For each commit it counts:

- py4j round trips: every ``GatewayClient.send_command`` call, which
  is one request to the JVM and one reply. Each is charged to the
  innermost engine frame (``hudi_and_delta_showcase_spark/...``) on the
  Python stack, or to the workload's own frame when no engine frame is
  on it. Releases of garbage-collected JVM references are counted
  apart: they run wherever Python's collector happens to run.
- Spark jobs: the commit runs under a job group of its own
  (``setJobGroup``), and ``statusTracker`` lists the group's jobs. Each
  job is charged to its first stage's call site.

It prints one line per commit (round trips, wall ms spent waiting on
them, jobs, and the MoR log files outstanding under the workload's
table roots before the commit), then the mean round trips and jobs per
commit for each caller.
"""

from __future__ import annotations

import argparse
import collections
import os
import re
import shutil
import sys
import tempfile
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(REPO, "lakebench")
ENGINE = os.path.join(REPO, "hudi_and_delta_showcase_spark") + os.sep
#: py4j's "delete object" command, sent when Python collects a proxy,
#: from whatever frame or thread the collector happens to run in
RELEASE = "m\nd\n"


class Py4jCounter:
    """Counts ``send_command`` calls and their wall time per caller
    while ``on`` is set."""

    def __init__(self) -> None:
        self.on = False
        self.calls: collections.Counter = collections.Counter()
        self.ms: collections.Counter = collections.Counter()

    def install(self) -> None:
        from py4j.java_gateway import GatewayClient

        send = GatewayClient.send_command
        counter = self

        def counted(client, command, *args, **kwargs):
            if not counter.on:
                return send(client, command, *args, **kwargs)
            t = time.perf_counter()
            try:
                return send(client, command, *args, **kwargs)
            finally:
                caller = (
                    "(release of a garbage-collected JVM reference)"
                    if command.startswith(RELEASE) else counter.caller()
                )
                counter.calls[caller] += 1
                counter.ms[caller] += (time.perf_counter() - t) * 1000.0

        GatewayClient.send_command = counted

    @staticmethod
    def caller() -> str:
        """``module.py:function`` of the innermost named engine function
        on the stack (lambdas and comprehensions count to the function
        around them), else of the innermost workload function."""
        f = sys._getframe(2)
        fallback = None
        while f is not None:
            path, name = f.f_code.co_filename, f.f_code.co_name
            if not name.startswith("<"):
                if path.startswith(ENGINE):
                    return f"{os.path.relpath(path, ENGINE)}:{name}"
                if fallback is None and path.startswith(BENCH):
                    fallback = f"lakebench/{os.path.basename(path)}:{name}"
            f = f.f_back
        return fallback or f"(thread {threading.current_thread().name})"

    def take(self) -> tuple[dict, dict]:
        calls, ms = dict(self.calls), dict(self.ms)
        self.calls.clear()
        self.ms.clear()
        return calls, ms


def job_sites(spark, group: str) -> list[str]:
    """The first stage's call site of each job in ``group``."""
    st = spark.sparkContext.statusTracker()
    sites = []
    for j in st.getJobIdsForGroup(group):
        info = st.getJobInfo(j)
        stage = (
            st.getStageInfo(min(info.stageIds))
            if info is not None and info.stageIds
            else None
        )
        name = stage.name if stage is not None else "(unknown)"
        sites.append(re.sub(r" at .*/", " at ", name))
    return sites


def outstanding_logs(wl) -> int:
    from hudi_and_delta_showcase_spark.tables import manifest as mf

    return sum(len(mf.latest_commit(r).log_files) for r in wl.roots())


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--commits", type=int, default=9)
    args = ap.parse_args(argv)

    sys.path[:0] = [REPO, BENCH]
    work = os.path.join(
        REPO, ".lakebench_work", f"py4j-{args.workload}-{os.getpid()}"
    )
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(
        max(1, len(os.sched_getaffinity(0)) // 2)
    )
    tempfile.tempdir = None

    import probe
    import run
    from workloads import WORKLOADS

    counter = Py4jCounter()
    counter.install()
    spark = run.start_spark(work)
    try:
        tracer = probe.Tracer(spark, probe.jvm_pid(spark))  # stays disabled
        wl = WORKLOADS[args.workload](spark, work, args.seed, tracer)
        wl.setup()
        sc = spark.sparkContext
        calls_by: collections.Counter = collections.Counter()
        ms_by: collections.Counter = collections.Counter()
        jobs_by: collections.Counter = collections.Counter()
        print(f"# {args.workload} seed={args.seed}: per commit")
        print("commit  logs_before  py4j_calls  py4j_ms  jobs")
        for i in range(args.commits):
            wl.prepare(i)
            logs = outstanding_logs(wl)
            group = f"py4j-profile-{i}"
            sc.setJobGroup(group, group)
            counter.on = True
            try:
                wl.op(i)
            finally:
                counter.on = False
                sc.setLocalProperty("spark.jobGroup.id", None)
            calls, ms = counter.take()
            sites = job_sites(spark, group)
            calls_by.update(calls)
            ms_by.update(ms)
            jobs_by.update(sites)
            print(
                f"{i:6d}  {logs:11d}  {sum(calls.values()):10d}  "
                f"{sum(ms.values()):7.0f}  {len(sites):4d}"
            )
            if i % wl.cycle == wl.cycle - 1:
                wl.maintain()
        n = args.commits
        print(f"\n# mean per commit over {n} commits, by engine caller")
        print(f"py4j round trips: {sum(calls_by.values()) / n:.0f}")
        for caller, c in calls_by.most_common():
            print(f"  {c / n:8.1f}  {ms_by[caller] / n:7.1f} ms  {caller}")
        print(f"Spark jobs: {sum(jobs_by.values()) / n:.2f}")
        for site, c in jobs_by.most_common():
            print(f"  {c / n:8.2f}  {site}")
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
