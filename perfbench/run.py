"""KG-construction benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload flagship_cold --seed 0 --seconds 15 --trace 0

Run from the repository root (any checkout of it). The run:

1. builds a hermetic environment under ``.perfbench_work/<pid>/``: working
   directory, Spark local dirs, temp dirs, warehouse dir and event log all
   live there, Python workers get the checkout on ``PYTHONPATH``, and the
   whole tree is deleted at exit;
2. starts ``local[N]`` Spark with N = the CPUs this process may use;
3. builds the workload's inputs ``SETUP_REPEATS`` times;
4. runs one cold iteration (``first_s``), then iterates for ``--seconds``
   seconds (``wall_s`` is the median), checking every iteration's triples
   against an independent oracle;
5. with ``--trace 1``, adds one traced iteration and prints the per-layer
   metrics instead of the end-to-end ones.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True  # leave the checkout as it was

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import tempfile  # noqa: E402
import time  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "web3_knowledge_graph_spark"
SETUP_REPEATS = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def hermetic_env(work: str) -> int:
    """Point every scratch location at ``work``; returns the core count."""
    cores = len(os.sched_getaffinity(0))
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    path = os.environ.get("PYTHONPATH")
    os.environ.update(
        {
            "PYTHONPATH": os.pathsep.join([ROOT, path] if path else [ROOT]),
            "PYTHONDONTWRITEBYTECODE": "1",
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "SPARK_LOCAL_DIRS": local,
            "SPARK_GRAFT_LOCAL_DIR": local,
            "SPARK_GRAFT_CPUS": str(cores),
            "TMPDIR": tmp,
            # no hsperfdata files in the system temp dir from either JVM
            "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        }
    )
    tempfile.tempdir = tmp
    os.chdir(work)
    return cores


def start_spark(cores: int, work: str, trace: bool):
    from web3_knowledge_graph_spark.session import gc_opts, get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"{gc_opts(cores)} -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark("perfbench", cores=cores, extra_conf=conf)
    spark.range(1000).selectExpr("sum(id)").collect()  # warm-up job
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then end the JVM and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
            raise


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def iteration(w, want) -> tuple[float, bool]:
    """One timed call and its output check. An exception counts as a
    failed iteration; its time is the time to the failure."""
    from perfbench.oracle import spark_digest

    w.prepare()
    t0 = time.perf_counter()
    dt = None
    try:
        trip = w.run()
        dt = time.perf_counter() - t0
        ok = spark_digest(trip) == want
    except Exception as exc:
        dt = time.perf_counter() - t0 if dt is None else dt
        ok = False
        print(f"perfbench: iteration failed: {exc!r}", file=sys.stderr)
    finally:
        w.cleanup()
    return dt, ok


def end_to_end_metrics(
    pages: int, setup_s: float, first_s: float, wall_s: float, rss_mb: float
) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "first_s": (first_s, "s"),
        "wall_s": (wall_s, "s"),
        "pages_per_s": (pages / wall_s, "pages/s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


def layer_metrics(tr, events, wall_s: float, t0: float, t1: float) -> dict:
    """Per-layer metrics of a traced iteration whose timed part ran in the
    wall-clock window ``[t0, t1]``."""
    from perfbench.eventlog import GroupTotals, fold
    from perfbench.workloads import SPANS

    groups = fold(events, untagged=tr.innermost)
    self_s = tr.self_seconds()
    out = {}
    for name, suffixes in SPANS.items():
        g = groups.get(name, GroupTotals())
        values = {"s": (self_s.get(name, 0.0), "s"), "jobs": (g.jobs, "count"),
                  "tasks": (g.tasks, "count"), "shuffle_mb": (g.shuffle_mb, "MB")}
        out.update({f"{name}.{x}": values[x] for x in suffixes})
    # the traced flagship runs its stages serially: this is the time its
    # helper threads hide (on the pipeline, trace overhead and noise only)
    out["driver_queries.overlap_s"] = (tr.covered(t0, t1) - wall_s, "s")
    for key in ("sources.checkpoint.marks_read", "sources.warehouse.commits"):
        out[key] = (tr.counts[key], "count")
    totals = groups.values()
    out["session.jobs"] = (sum(g.jobs for g in totals), "count")
    out["session.tasks"] = (sum(g.tasks for g in totals), "count")
    out["trace_overhead_s"] = (t1 - t0 - wall_s, "s")
    return out


def bench(args, work: str, cores: int) -> dict:
    from perfbench.eventlog import read_events
    from perfbench.oracle import spark_digest
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    t0 = time.perf_counter()
    spark = start_spark(cores, work, bool(args.trace))
    session_s = time.perf_counter() - t0
    try:
        w = WORKLOADS[args.workload](spark, args.seed, work)
        builds = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            w.setup()
            builds.append(time.perf_counter() - t0)
        want = w.expected()

        first_s, ok = iteration(w, want)
        failed = int(not ok)
        # a one-shot run's peak: later iterations would make it depend on
        # how many fit in --seconds
        rss_mb = vm_hwm_mb(os.getpid()) + vm_hwm_mb(
            spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        )
        walls: list[float] = []
        deadline = time.perf_counter() + args.seconds
        while not walls or time.perf_counter() < deadline:
            dt, ok = iteration(w, want)
            walls.append(dt)
            failed += not ok
        attempted = 1 + len(walls)
        wall_s = statistics.median(walls)
        print(f"perfbench {w.name} seed={args.seed}: first {first_s:.2f}s, "
              f"walls {[round(x, 2) for x in walls]}, failed {failed}",
              file=sys.stderr)

        if args.trace:
            tr = Tracer(spark.sparkContext)
            w.prepare()
            trip, t0, t1 = w.run_traced(tr)
            attempted += 1
            failed += spark_digest(trip) != want
            w.cleanup()
    finally:
        stop_spark(spark)

    if args.trace:
        (log,) = os.listdir(os.path.join(work, "eventlog"))
        events = read_events(os.path.join(work, "eventlog", log))
        metrics = layer_metrics(tr, events, wall_s, t0, t1)
    else:
        setup_s = session_s + statistics.median(builds)
        metrics = end_to_end_metrics(w.pages, setup_s, first_s, wall_s, rss_mb)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cwd = os.getcwd()
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    try:
        cores = hermetic_env(work)
        result = bench(args, work, cores)
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
