"""Warm, seeded benchmark of conveyor-spark pipelines.

    python3 perfbench/run.py --workload etl_join_write --seed 1 --seconds 10 --trace 0

One workload runs in this process as a closed loop with one client:
each item is one pipeline run through the public path
(``session.get_spark`` -> ``config.spec.parse_spec`` ->
``compiler.run_pipeline``), the next item starts when the previous one
has finished and its output has been checked. Warm-up items run
before the timed pass and count in ``setup_s``.

With ``--trace 0`` the last line of stdout is a JSON object with the
end-to-end metrics. With ``--trace 1`` the pass is twice as long,
every second item is traced, and the JSON holds the per-layer metrics
(medians over the traced items) and ``trace.overhead_s``. Inputs,
outputs, Spark's local directories and the span dump live under
``perfbench/.work/<workload>``; ``perfbench/METRICS.md`` documents
every metric.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import contextmanager  # noqa: E402

from py4j.protocol import Py4JError  # noqa: E402

from tracing import DATAPIPE_FUNCTIONS, Tracer  # noqa: E402
from workloads import CONSOLE_LOG, WORKLOADS  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# warm-up items per workload: a fresh JVM runs the first items 1.5-3x
# slower while classes load and the JIT compiles
WARMUP = {"etl_join_write": 4, "ann_build": 4, "py_udf": 4,
          "stream_count_window": 3}

END_TO_END = {"setup_s": "s", "pass_s": "s", "item_p50_s": "s", "live_mb": "MiB",
              "batch_p50_s": "s"}
PER_LAYER = {
    "session.start_s": "s",
    "config.parse_s": "s",
    "compiler.build_s": "s",
    "compiler.build_jobs": "count",
    "compiler.self_s": "s",
    "compiler.persists_left": "count",
    **{f"datapipe.{fn}.{k}": u for fn in DATAPIPE_FUNCTIONS
       for k, u in (("s", "s"), ("jobs", "count"))},
    "sources.read_s": "s",
    "sources.read_jobs": "count",
    "sources.input_mb": "MiB",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "executor.task_failures": "count",
    "shuffle.write_mb": "MiB",
    "shuffle.read_mb": "MiB",
    "spill.mb": "MiB",
    "sinks.action_s": "s",
    "sinks.action_jobs": "count",
    "sinks.output_mb": "MiB",
    "python.run_s": "s",
    "python.init_s": "s",
    "python.sent_mb": "MiB",
    "python.returned_mb": "MiB",
    "streaming.batches": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MiB",
    "trace.overhead_s": "s",
}

_SPARK_ENV = ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_EXTRA_CONF", "SPARK_GRAFT_ARROW_BATCH",
              "SPARK_GRAFT_STATE_PARTITIONS", "SPARK_GRAFT_EXECUTOR_MEM",
              "SPARK_GRAFT_MAX_FILES_PER_TRIGGER")


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="length of the timed pass (whole items)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def spark_env(work: str) -> dict[str, str]:
    """Session settings: one local core per CPU and every Spark scratch
    path under the work directory. The JVMs keep their perf counters
    in memory; the shared-memory file would go to /tmp."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "TMPDIR": tmp,
        "SPARK_LAUNCHER_OPTS": "-XX:+PerfDisableSharedMem",
        "SPARK_GRAFT_EXTRA_CONF": ";".join([
            "spark.ui.showConsoleProgress=false",
            f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
            "-XX:+PerfDisableSharedMem",
        ]),
    }


@contextmanager
def stdout_to(path: str):
    """Point fd 1 at ``path``: a JVM launched inside inherits it, so the
    console sink's tables land in the file, not in the result stream."""
    sys.stdout.flush()
    saved = os.dup(1)
    fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
    os.dup2(fd, 1)
    os.close(fd)
    try:
        yield
    finally:
        sys.stdout.flush()
        os.dup2(saved, 1)
        os.close(saved)


def workers_pss_mb(root_pid: int) -> float:
    """Proportional set size of all descendants of a process, in MiB.
    Python workers are forked from one daemon and share most pages;
    PSS counts each shared page once in the sum."""
    parents: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    parents[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue  # the process ended while we looked
    tree, frontier = set(), [root_pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parents.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    kib = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                kib += next(int(line.split()[1]) for line in fh if line.startswith("Pss:"))
        except (OSError, StopIteration, ValueError):
            continue
    return kib / 1024


def live_mb(spark) -> float:
    """Memory the session still holds: the JVM's heap after a full GC
    plus its non-heap areas, plus the PSS of its Python workers.

    Peak RSS of the JVM is not used: G1 grows the committed heap at
    GC-timing-dependent moments, so it swings 1.3-2.7 GB between runs
    of the same items."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    return used / (1 << 20) + workers_pss_mb(spark.sparkContext._gateway.proc.pid)


class Bench:
    """The closed loop over one workload."""

    def __init__(self, wl, spark, tracer, streaming: bool):
        from conveyor_spark.compiler import run_pipeline
        from conveyor_spark.config.spec import parse_spec

        self.wl, self.spark, self.tracer = wl, spark, tracer
        self.streaming = streaming
        self._parse, self._run = parse_spec, run_pipeline
        self.attempted = self.failed = 0
        self.check_s = 0.0
        self._next = 0

    def item(self) -> tuple[int, float]:
        """Run, time and check one item; return its number and seconds."""
        i, self._next = self._next, self._next + 1
        data = self.wl.spec(i)
        self.attempted += 1
        ok = True
        with self.tracer.span("run_pipeline", "item", item=i):
            t0 = time.perf_counter()
            try:
                with self.tracer.span("config.parse", "config"):
                    spec = self._parse(data)
                self._run(self.spark, spec)
            except Exception:  # noqa: BLE001 — a failed item is counted, not fatal
                traceback.print_exc(file=sys.stderr)
                ok = False
            seconds = time.perf_counter() - t0
        if self.streaming:
            self.tracer.drain_events()
        t1 = time.perf_counter()
        problems = self.wl.check(i) if ok else ["raised"]
        self.check_s += time.perf_counter() - t1
        if problems:
            self.failed += 1
            print(f"perfbench: item {i} failed: {problems}", file=sys.stderr)
        return i, seconds

    def timed_pass(self, seconds: float, trace_odd: bool = False) -> dict[str, float]:
        """Whole items until ``seconds`` of pass time have elapsed.

        Pass time excludes output checks. With ``trace_odd`` every
        second item is traced, and its pass time includes the trace
        collection, so the two halves give the tracing overhead."""
        items, sinks, batches = [], [], []
        walls: dict[bool, list[float]] = {False: [], True: []}
        while sum(walls[False]) + sum(walls[True]) < seconds or not items:
            traced = trace_odd and len(items) % 2 == 1
            if traced:
                self.tracer.activate()
            progress_from = len(self.tracer.progress)
            checks_before = self.check_s
            t0 = time.perf_counter()
            i, item_s = self.item()
            if traced:
                self.tracer.collect(i, progress_from)
            walls[traced].append(
                time.perf_counter() - t0 - (self.check_s - checks_before))
            items.append(item_s)
            sinks += self.tracer.sink_seconds(i)
            batches += self.tracer.batch_seconds(progress_from)
        out = {
            "pass_s": statistics.mean(walls[False]),
            "item_p50_s": statistics.median(items),
            "live_mb": live_mb(self.spark),
            "batch_p50_s": statistics.median(batches if self.streaming else sinks),
        }
        if walls[True]:
            out["trace.overhead_s"] = statistics.mean(walls[True]) - out["pass_s"]
        return out


def bench(args: argparse.Namespace, wl, gen_s: float) -> dict:
    from conveyor_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    gateway = spark.sparkContext._gateway
    streaming = args.workload == "stream_count_window"
    tracer = Tracer(spark)
    try:
        tracer.install()
        if streaming:
            tracer.listen_streams()
        b = Bench(wl, spark, tracer, streaming)
        for _ in range(WARMUP[args.workload]):
            b.item()
        setup_s = time.perf_counter() - T_START - gen_s - b.check_s
        if args.trace:
            # untraced and traced items alternate, so JIT warm-up that is
            # still going on affects both halves alike
            timed = b.timed_pass(2 * args.seconds, trace_odd=True)
            tracer.dump(os.path.join(wl.work, "spans.json"))
            layers = dict(tracer.summary(), **{
                "session.start_s": session_s,
                "trace.overhead_s": timed["trace.overhead_s"]})
            metrics = {k: layers.get(k, 0.0) for k in PER_LAYER}
            units = PER_LAYER
        else:
            metrics = dict(b.timed_pass(args.seconds), setup_s=setup_s)
            units = END_TO_END
    finally:
        tracer.close()
        spark.stop()
        stop_gateway(gateway)
    return {
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def stop_gateway(gateway) -> None:
    """End the Spark JVM (and with it its Python workers) and wait."""
    proc = gateway.proc
    try:
        gateway.shutdown()
    except Py4JError:  # the JVM is already gone
        pass
    if proc.stdin:
        proc.stdin.close()  # the gateway server exits on end of input
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "conveyor_spark")):
        print(f"perfbench: no conveyor_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    for key in _SPARK_ENV:
        os.environ.pop(key, None)
    os.environ.update(spark_env(work))
    t0 = time.perf_counter()
    wl = WORKLOADS[args.workload](args.seed, work)
    gen_s = time.perf_counter() - t0
    with stdout_to(os.path.join(work, CONSOLE_LOG)):
        result = bench(args, wl, gen_s)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
