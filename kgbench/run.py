"""Benchmark entry point: one workload, one seed, one result line.

    python3 kgbench/run.py --workload harvest_batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository.  The benchmark generates
its inputs from the seed under ``kgbench/.work``, starts the package's own
Spark session (``session.get_spark``, ``local[nproc]``, shipped config),
measures, checks the outputs, stops Spark and prints, as the last line of
standard output, ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
run patches spans around every layer's public functions and reports the
per-layer ones.  Host context and the generated sizes are printed on the
lines before the result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(HERE, ".work")
PAGE = os.sysconf("SC_PAGE_SIZE")
SIZES = {"turns", "conversations", "num_triples", "num_nodes", "triples_checked",
         "requests", "distinct_requests"}

END_TO_END = {"setup_s": "s", "op_p50_s": "s"}


def process_start() -> float:
    """Wall-clock time at which this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


class TreeRss:
    """Samples the resident memory of this process and all descendants
    (the JVM and its Python workers) and keeps the peak."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> int:
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
                with open(f"/proc/{name}/statm") as fh:
                    rss[int(name)] = int(fh.read().split()[1]) * PAGE
            except (OSError, ValueError, IndexError):
                continue  # exited while being read
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            total += rss.get(pid, 0)
            todo.extend(children.get(pid, []))
        self.peak = max(self.peak, total)
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()


def cpu_ticks() -> list[int]:
    """The machine's cumulative CPU ticks by state, from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def host(tag: str, since: list[int] | None = None) -> list[int]:
    """Prints host load; with ``since``, also the share of CPU time stolen
    by the hypervisor since then (other tenants of a shared host)."""
    ticks = cpu_ticks()
    steal = ""
    if since is not None:
        d = [b - a for a, b in zip(since, ticks)]
        steal = f" steal_share={d[7] / max(sum(d), 1):.4f}"
    print(f"host {tag}: nproc={len(os.sched_getaffinity(0))} "
          f"loadavg1={os.getloadavg()[0]:.2f}{steal}", flush=True)
    return ticks


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM (and its Python workers)
    has exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    t_start = process_start()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from kgbench import workloads  # imports the package under test

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")

    ticks0 = host("start")
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # everything Spark and the JVM write stays inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.chdir(work)

    from breg_dcat_harvester_spark.session import get_spark

    try:
        with TreeRss() as rss:
            t0, t0_wall = time.perf_counter(), time.time()
            spark = get_spark(app_name=f"kgbench-{args.workload}")
            session_s = time.perf_counter() - t0
            try:
                ctx = workloads.Context(spark, work, args.seed, args.seconds, bool(args.trace))
                run = workloads.WORKLOADS[args.workload](ctx)
                if ctx.tracer:
                    ctx.tracer.unpatch()
                    ctx.tracer.write(
                        os.path.join(WORK_ROOT, f"trace-{args.workload}-{args.seed}.jsonl")
                    )
            finally:
                stop_spark(spark)
    except workloads.check.CheckFailed as ex:
        print(f"correctness check failed: {ex}", flush=True)
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if not run.latencies:
        raise SystemExit(f"no {args.workload} operation succeeded")
    setup_s = (t0_wall - t_start) + (ctx.setup_end - t0) - ctx.setup_excluded
    host("end", since=ticks0)
    for key, value in run.info.items():
        print(f"size {key}={value}" if key in SIZES else f"info {key}={value}")
    print(f"info session_s={session_s:.3f} setup_s={setup_s:.3f} "
          f"peak_rss_mb={rss.peak / 2**20:.1f} "
          f"operations={[round(x, 3) for x in run.latencies]}")
    print(f"info operations={len(run.latencies)} attempted={run.attempted} "
          f"failed={run.failed} error_rate={run.failed / run.attempted:.4f}")
    if args.trace:
        metrics = workloads.per_layer(args.workload, run, ctx, session_s)
        metrics["session.peak_rss_mb"] = rss.peak / 2**20
        units = workloads.PER_LAYER
    else:
        metrics = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(run.latencies),
        }
        units = END_TO_END
    print(json.dumps({
        "correct": True,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
