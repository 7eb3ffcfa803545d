"""Seeded benchmark of the crawl pipeline.

    python3 crawlbench/run.py --workload crawl_fresh --seed 1 --seconds 5 \
        --trace 0

Run from the repository root. ``--trace 0`` times the workload with
tracing off and prints the end-to-end metrics; ``--trace 1`` splits the
same time between an untraced and a traced loop and prints the per-layer
metrics (see crawlbench/METRICS.md). Either way the last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. Everything the run writes goes under ``.bench_build/`` in the
repository root; the recrawl history built there by the first run is
reused by later ones.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import multiprocessing
import multiprocessing.resource_tracker
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = (("setup_s", "s", "lower"),
              ("round_p50_s", "s", "lower"),
              ("urls_per_s", "1/s", "higher"),
              ("catalog_bytes_per_url", "bytes", "lower"))


class Context:
    def __init__(self, spark, work, build_dir, seed, trace):
        self.spark, self.work, self.build_dir = spark, work, build_dir
        self.seed, self.trace = seed, trace
        self.history = None  # recrawl history catalog root

    @staticmethod
    def log(msg: str) -> None:
        print(f"# {msg}", flush=True)


def start_spark(work: str, trace: bool, cpus: int):
    from chrono_scraper_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # keep the JVMs' scratch files (including spark-submit's launcher) and
    # Python's temp files inside the run directory
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    conf = {"spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false"}
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + events,
                     "spark.eventLog.compress": "false"})
    spark = get_spark(app_name="crawlbench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def build_history(build_dir: str, work: str) -> None:
    """Crawl the recrawl history in a JVM of its own, so that the run which
    builds it starts as cold as every later run."""
    from crawlbench.workloads import CPUS
    from crawlbench.workloads import build_history as build

    spark = start_spark(os.path.join(work, "build"), False, CPUS)
    try:
        build(spark, build_dir, Context.log)
    finally:
        stop_spark(spark)


def become_subreaper() -> None:
    """Have descendants whose parent exits re-parented to this process
    instead of init. Spark's python daemons put themselves in process
    groups of their own and outlive the JVM that forked them for a moment;
    this way ``reap_all`` still finds them."""
    pr_set_child_subreaper = 36
    try:
        ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1,
                                                 0, 0, 0)
    except (OSError, AttributeError):
        pass


def child_pids() -> list[int]:
    """This process's direct children, exited but unreaped ones too."""
    me, pids = str(os.getpid()), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces and parentheses
        if stat.rsplit(")", 1)[1].split()[1] == me:
            pids.append(int(name))
    return pids


def reap_all(grace: float = 10.0) -> None:
    """Stop every process this one started, directly or not, and wait for
    each to end: SIGTERM, then SIGKILL after ``grace`` seconds. Killing a
    child re-parents its own children here, so repeat until none is left."""
    while True:
        pids = child_pids()
        if not pids:
            return
        for sig in (signal.SIGTERM, signal.SIGKILL):
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + grace
            while pids and time.monotonic() < deadline:
                for pid in list(pids):
                    try:
                        done = os.waitpid(pid, os.WNOHANG)[0]
                    except ChildProcessError:
                        done = pid
                    if done:
                        pids.remove(pid)
                time.sleep(0.02)
            if not pids:
                break


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def run(ctx, workload_cls, seconds: float, started: float):
    from crawlbench import layers
    from crawlbench.stats import tail_percentile
    from crawlbench.tracing import Tracer
    from crawlbench.workloads import history_root, job_group, summarize

    t_run = time.perf_counter()
    spark = ctx.spark
    ctx.history = history_root(ctx.build_dir)
    wl = workload_cls(ctx)
    job_group(spark, "setup")
    wl.prepare()
    # the first repetition pays the JVM's first-use class loading and
    # compilation; the median leaves it out
    setup_times = wl.setup()
    job_group(spark, "warmup")
    t0 = time.perf_counter()
    wl.warmup()
    ctx.log(f"start-up {started:.1f} s, set-up "
            f"{', '.join(f'{t:.2f}' for t in setup_times)} s, "
            f"warm-up {time.perf_counter() - t0:.1f} s")
    extra_failed, extra_attempted, problems = 0, 0, []
    if not ctx.trace:
        job_group(spark, "measure")
        ops = wl.loop(seconds)
        job_group(spark, "check")
        t0 = time.perf_counter()
        problems += wl.check(ops)
        ctx.log(f"checks {time.perf_counter() - t0:.1f} s")
        values = summarize(ops, setup_times)
        spec = END_TO_END
    else:
        job_group(spark, "plain")
        plain = wl.loop(seconds / 2)
        tracer = Tracer()
        layers.install(tracer)
        job_group(spark, "traced")
        window = (time.time(), None)
        try:
            traced = wl.loop(seconds / 2)
        finally:
            tracer.unpatch()
        window = (window[0], time.time())
        values = layers.span_metrics(
            tracer, [r for op in traced for r in op.rounds])
        values["trace.overhead_ratio"] = (
            statistics.median(op.seconds for op in traced)
            / statistics.median(op.seconds for op in plain))
        values.update(layers.replays(spark, tracer))
        ops = plain + traced
        job_group(spark, "check")
        problems += wl.check(ops)
        hits = 0
        if wl.name == "crawl_fresh":
            found, bad, n = layers.search_probe(
                spark, ops[-1].ref["cat"], ctx.seed)
            hits = found.pop("_search_hits")
            values.update(found)
            problems += bad
            extra_attempted += n
            extra_failed += len(bad)
            sf_dir = os.path.join(ctx.work, "sf")
            layers.write_documents(spark, ops[-1].ref["corpus"], sf_dir)
            found, bad = layers.query_probe(spark, sf_dir)
            values.update(found)
            problems += bad
            extra_attempted += len(layers.QUERY_NAMES)
            extra_failed += len(bad)
        tracer.dump(os.path.join(
            ctx.build_dir, f"spans-{wl.name}-{ctx.seed}.json"))
        stop_spark(spark)
        ctx.spark = None
        engine, records = layers.engine_metrics(
            os.path.join(ctx.work, "events"), {"traced": window})
        values.update(engine)
        values["search.rows_examined_per_hit"] = (records / hits if hits
                                                  else 0.0)
        spec = layers.spec()
        for name, _, _ in spec:
            values.setdefault(name, 0.0)
    secs = sorted(op.seconds for op in ops)
    tail = tail_percentile(secs)
    ctx.log(f"{len(ops)} timed operations, median "
            f"{statistics.median(secs):.3f} s"
            + (f", p{tail[0]:g} {tail[1]:.3f} s" if tail else
               ", no percentile above the median has 10 samples above it"))
    for p in problems:
        ctx.log(f"CHECK FAILED: {p}")
    for name, unit, better in spec:
        ctx.log(f"{name} = {values[name]:.6g} {unit} ({better} is better)")
    ctx.log(f"run {time.perf_counter() - t_run + started:.1f} s before stop")
    failed = sum(op.failed for op in ops) + extra_failed
    return {"correct": failed == 0 and not problems,
            "attempted": len(ops) + extra_attempted,
            "failed": failed,
            "metrics": {name: {"value": float(values[name]), "unit": unit}
                        for name, unit, _ in spec}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()
    become_subreaper()
    # a TERM still runs the clean-up below
    signal.signal(signal.SIGTERM, _terminate)

    sys.path.insert(0, ROOT)
    try:
        import chrono_scraper_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"crawlbench: cannot import the crawl engine: {exc}",
              file=sys.stderr)
        return 2
    from crawlbench.workloads import CPUS, WORKLOADS, history_root

    if args.workload not in WORKLOADS:
        print(f"crawlbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    # Spark's python workers import the engine from the repository root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("CSS_DRIVER_MEM", "4g")
    build_dir = os.path.join(ROOT, ".bench_build", "crawlbench")
    work = os.path.join(build_dir,
                        f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    ctx = Context(None, work, build_dir, args.seed, bool(args.trace))
    try:
        # built by whichever run comes first in a checkout, then reused
        if not os.path.exists(os.path.join(history_root(build_dir),
                                           "DONE.json")):
            builder = multiprocessing.get_context("spawn").Process(
                target=build_history, args=(build_dir, work))
            builder.start()
            builder.join()
            # the spawn start method started a resource tracker process
            tracker = multiprocessing.resource_tracker._resource_tracker
            if hasattr(tracker, "_stop"):
                tracker._stop()
            if builder.exitcode != 0:
                raise RuntimeError("building the recrawl history failed")
        ctx.spark = start_spark(work, ctx.trace, CPUS)
        ctx.spark.range(1).count()
        result = run(ctx, WORKLOADS[args.workload], args.seconds,
                     time.perf_counter() - t_start)
    finally:
        try:
            if ctx.spark is not None:
                stop_spark(ctx.spark)
        finally:
            reap_all()
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
