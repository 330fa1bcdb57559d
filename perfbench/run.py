#!/usr/bin/env python3
"""Benchmark of record for the DS-JedAI engine: file-to-output interlinking.

Run from the repository root:

    python3 perfbench/run.py --workload giant_de9im_mixed_wkt --seed 1 \\
        --seconds 20 --trace 0

One run, one workload, one closed-loop client issuing one operation at a
time on ``local[<half the cpus>]``:

1. set-up: write the seeded input files three times (the median counts)
   and start the Spark session the way the CLI does (``session.get_spark``);
2. the oracle (``oracle.py``) derives the expected output with DuckDB;
3. the first operation in the fresh session is measured as ``cold_cpu_s``
   (its wall time is logged); untimed ones follow for ``WARMUP_S`` while
   the JIT settles;
4. warm operations run back to back for ``--seconds``; each is
   ``api.run(cfg)`` plus the CLI's result consumption, each output is
   checked against the oracle outside the timed region, and each one's
   wall time, CPU time and peak RSS are logged (the host's load moves
   them too much from run to run to report them; see README.md);
5. with ``--trace 1`` one more, traced, operation splits the work over
   the engine's layers (``trace.py``), the per-layer metrics replace
   the end-to-end ones in the result, and the repository's box-speed
   canaries (``ds_jedai_spark.benchprobe``) are logged as metadata.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
Everything else (box-noise probes, spans) goes to standard error or
under ``.perfbench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPEATS = 3
JVM_HEAP = "3g"
# warm operations run untimed for at least this long after the cold one,
# while the JIT still speeds them up
WARMUP_S = 5.0


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def pin_cpus() -> int:
    """Keep this process, and the JVM, Python workers and threads it
    starts later, on the first half of the CPUs it may use; return their
    number. An operation hands work between threads many times (about
    once per small Spark job), and on a shared host a hand-off to an idle
    virtual CPU waits until the hypervisor runs it. On two of four CPUs
    the cold operation's wall time spread over ten runs by 0.08-0.23 of
    its median, against 0.2-0.5 on all four."""
    cpus = sorted(os.sched_getaffinity(0))
    keep = cpus[:max(1, len(cpus) // 2)]
    os.sched_setaffinity(0, keep)
    return len(keep)


def pin_environment(work: str, cpus: int) -> None:
    """Spark and the JVM's GC on ``cpus`` cores, a JVM heap that fits a
    small box, and every temporary file inside ``work``. Python workers
    import the engine from the repository root."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    java_opts = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                 f"-XX:ParallelGCThreads={cpus}")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": JVM_HEAP,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'wh')} "
            f"--driver-java-options '{java_opts}' pyspark-shell"),
    })
    tempfile.tempdir = tmp


def _proc_table() -> tuple[dict[int, list[int]], dict[int, list[int]]]:
    """Parent -> children, and pid -> its /proc stat fields from the
    parent field on (so field ``n`` of proc(5) is at index ``n - 4``)."""
    children: dict[int, list[int]] = defaultdict(list)
    stats: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children[int(fields[1])].append(int(d))
        stats[int(d)] = [int(x) for x in fields[1:]]
    return children, stats


def _tree(pid: int, children: dict[int, list[int]]) -> list[int]:
    out, todo = [], list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def descendants(pid: int) -> list[int]:
    return _tree(pid, _proc_table()[0])


CLOCK_TICKS = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) spent so far by this process and every
    descendant (the JVM and its Python workers), reaped children
    included. Time the hypervisor steals from the box is not in it."""
    children, stats = _proc_table()
    me = os.getpid()
    # fields 14-17: utime, stime, cutime, cstime
    ticks = sum(sum(stats[p][10:14]) for p in [me] + _tree(me, children)
                if p in stats)
    return ticks / CLOCK_TICKS


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the box so far; steal is time the
    hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return sum(ticks), ticks[7]


class RssSampler:
    """Peak resident memory of this process plus every descendant (the
    JVM and its Python workers), sampled every 0.2 s since the last
    ``reset``."""

    def __init__(self):
        self.peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _sample(self) -> None:
        children, stats = _proc_table()
        me = os.getpid()
        # field 24: rss in pages
        total = sum(stats[p][20] for p in [me] + _tree(me, children)
                    if p in stats)
        with self._lock:
            self.peak = max(self.peak, total * self._page)

    def reset(self) -> None:
        with self._lock:
            self.peak = 0
        self._sample()

    def _run(self) -> None:
        while not self._stop.wait(0.2):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


def setup(name: str, seed: int, work: str):
    """Write the inputs SETUP_REPEATS times, then start the session.
    Returns (spark, duckdb connection holding the derived tables,
    generated paths, setup seconds)."""
    import duckdb

    from perfbench import inputs
    from perfbench.workloads import WORKLOADS

    spec = WORKLOADS[name]
    gen_s, con = [], None
    for _ in range(SETUP_REPEATS):
        if con is not None:
            con.close()
        t0 = time.perf_counter()
        con = duckdb.connect()
        con.execute("SET threads = 2")
        gen = inputs.generate(con, os.path.join(work, "inputs"),
                              spec["sizes"], spec["fmt"], seed)
        gen_s.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    from ds_jedai_spark.session import get_spark

    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    log(f"setup: generate {[round(x, 3) for x in gen_s]} s, "
        f"session {session_s:.2f} s, rows {gen['rows']}")
    return spark, con, gen["paths"], statistics.median(gen_s) + session_s


def stop_spark(spark) -> None:
    """Stop the session, end the JVM (it exits when its stdin closes)
    and wait until no process this run started is left."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    left = descendants(os.getpid())
    if left:
        raise RuntimeError(f"processes still running after stop: {left}")


def box_noise(spark) -> dict:
    """The repository's box-speed canaries, recorded as metadata."""
    from ds_jedai_spark import benchprobe

    return {"probe_version": benchprobe.PROBE_VERSION,
            "jvm_probe_s": benchprobe.jvm_probe(spark),
            "py_probe_s": benchprobe.py_probe(spark)}


def run(args, work: str) -> dict:
    from ds_jedai_spark import api

    from perfbench import trace, workloads
    from perfbench.sparkstats import StatusReader

    spark, con, paths, setup_s = setup(args.workload, args.seed, work)
    try:
        cfg = workloads.config(args.workload, paths,
                               os.path.join(work, "out"))
        checker = workloads.Checker(con, cfg)
        attempted = failed = 0

        def op() -> tuple[float, float, dict | None]:
            """(wall seconds, CPU seconds, output) of one operation."""
            nonlocal attempted, failed
            attempted += 1
            c0, t0 = tree_cpu_s(), time.perf_counter()
            try:
                out = workloads.consume(cfg, api.run(spark, cfg))
            except Exception:  # an op that fails counts as failed
                log(f"op failed:\n{traceback.format_exc()}")
                failed += 1
                return time.perf_counter() - t0, tree_cpu_s() - c0, None
            dt, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
            problems = checker.problems(out)
            if problems:
                log(f"wrong output: {problems}")
                failed += 1
            return dt, cpu, out

        cold_s, cold_cpu, out = op()
        warmup = []
        t_end = time.perf_counter() + WARMUP_S
        while not warmup or time.perf_counter() < t_end:
            dt, _, out = op()
            warmup.append(dt)
        times, cpus, peaks = [], [], []
        ticks0 = cpu_ticks()
        with RssSampler() as rss:
            # no operation starts that the median so far says would end
            # past the window, so a run takes about --seconds
            t_end = time.perf_counter() + args.seconds
            while not times or (time.perf_counter()
                                + statistics.median(times) < t_end):
                rss.reset()
                dt, cpu, out = op()
                times.append(dt)
                cpus.append(cpu)
                peaks.append(rss.peak)
        ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]
        wall_s = statistics.median(times)
        log(f"cold {cold_s:.3f} s ({cold_cpu:.2f} cpu-s), warm-up "
            f"{[round(t, 3) for t in warmup]} s, warm "
            f"{[round(t, 3) for t in times]} s, cpu "
            f"{[round(c, 2) for c in cpus]} s, peak rss "
            f"{[round(p / 2**20) for p in peaks]} MB, "
            f"candidates {checker.candidates}, "
            f"cpu steal {100 * ticks[1] / max(ticks[0], 1):.1f}%")
        self_test_ok = out is not None and checker.self_test(out)
        if not self_test_ok:
            log("self-test: a corrupted output passed the check")

        if args.trace:
            tracer = trace.Tracer(spark, args.workload)
            reader = StatusReader(spark)
            reader.mark()
            attempted += 1
            with tracer.installed():
                t0 = time.perf_counter()
                result = api.run(spark, cfg)
                with tracer.span("consume", "api.consume", "consume"):
                    out = workloads.consume(cfg, result)
                op_wall = time.perf_counter() - t0
            if checker.problems(out):
                failed += 1
            layer = trace.layer_metrics(tracer, reader, op_wall, wall_s,
                                        out["qualifying"], cfg.export_path)
            save_spans(args, tracer)
            metrics = {k: {"value": v, "unit": u}
                       for k, (v, u) in layer.items()}
            # the canaries cost ~7 s on 4 cores, so only traced runs
            # (which already stretch the run) record them
            log(f"box noise: {json.dumps(box_noise(spark))}")
        else:
            metrics = {
                "cold_cpu_s": {"value": cold_cpu, "unit": "s"},
                "setup_s": {"value": setup_s, "unit": "s"},
            }
    finally:
        con.close()
        stop_spark(spark)
    return {"correct": failed == 0 and self_test_ok,
            "attempted": attempted, "failed": failed, "metrics": metrics}


def save_spans(args, tracer) -> None:
    out_dir = os.path.join(ROOT, ".perfbench_work", "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "spans": tracer.spans}, f, indent=1)
    log(f"spans written to {path}")


def main(argv=None) -> int:
    engine = os.path.join(ROOT, "ds_jedai_spark")
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    cpus = pin_cpus()  # before any thread starts, so that all inherit it
    if not os.path.isdir(engine):
        log(f"engine package not found at {engine}")
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        pin_environment(work, cpus)
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
