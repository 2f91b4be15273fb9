"""Benchmark entry point.

    python3 perfbench/run.py --workload search --seed 1 --seconds 5 --trace 0

Run from the root of a checkout of the repository. It generates the
workload's inputs from the seed, starts Spark on ``local[nproc]`` through
the engine's own session builder, builds the store, measures for
``--seconds`` (whole cycles, at least one), checks the answers and prints:

* one ``perfbench-report`` line with every metric the run measured, the
  run context and any errors;
* as the last line, the result: ``correct``, ``attempted``, ``failed``
  and ``metrics`` — the end-to-end metrics with ``--trace 0``, the
  per-layer metrics with ``--trace 1``.

Everything the run writes stays under ``.perfbench/`` in the checkout;
its scratch directory is removed at the end, while the span dump of a
traced run is kept in ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import dataclasses
import hashlib
import math
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import threading
import time

import pyspark

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from gen import Generator, Sizes  # noqa: E402
from tracing import Tracer  # noqa: E402
from workloads import WORKLOADS, Ctx  # noqa: E402

# name -> unit; the end-to-end metrics every workload reports
END_TO_END = {
    "setup_s": "s",
    "read_mean_s": "s",
    "cycle_s": "s",
}
_SPANS = (
    "session.get_spark",
    "segments.write_index",
    "bm25_segments.topk_segments.plan",
    "bm25_segments.topk_segments.exec",
    "boolean.boolean_topk_query.plan",
    "boolean.boolean_topk_query.exec",
    "bm25_segments.topk_segments_multi.plan",
    "bm25_segments.topk_segments_multi.exec",
    "phrase.positional_topk_indexed_multi.plan",
    "phrase.positional_topk_indexed_multi.exec",
    "multifield.bm25f_topk_multi.plan",
    "multifield.bm25f_topk_multi.exec",
    "percolate.percolate.plan",
    "percolate.percolate.exec",
    "ingest.apply_ingest_batch",
    "deletes.delete_docs",
)
_SPAN_METRICS = {
    "calls": "count", "wall_s": "s", "driver_s": "s", "jobs": "count", "tasks": "count",
    "executor_cpu_s": "s",
}
_EXCHANGE_SPANS = tuple(s for s in _SPANS if s.endswith("_multi.exec")) + (
    "percolate.percolate.exec", "segments.write_index", "ingest.apply_ingest_batch",
)
# name -> unit; the per-layer metrics a traced run reports (zero for a
# layer the workload does not call)
PER_LAYER = {
    **{f"{s}.{m}": u for s in _SPANS for m, u in _SPAN_METRICS.items()},
    **{f"{s}.{m}": u for s in _EXCHANGE_SPANS
       for m, u in (("gc_s", "s"), ("shuffle_bytes", "bytes"))},
    **{f"segments.write_index.{p}_s": "s" for p in ("meta", "sample", "slices", "dict_cat")},
    **{f"{c}.self_s": "s" for c in ("search.cycle", "index_write.epoch")},
    "store.bytes.segments": "bytes",
    "store.bytes.terms": "bytes",
    "store.bytes.doc_meta": "bytes",
    "store.segment_files": "count",
    "bm25_segments.short_circuit_ratio": "ratio",
    "trace.bookkeeping_s": "s",
}

TOY = Sizes(
    n_docs=300, vocab=2_000, idioms=40, median_units=40, interactive_queries=20,
    bm25_batch=6, phrase_batch=4, bm25f_batch=4,
    percolate_queries=5, ingest_docs=40, ingest_epochs=2,
)


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


class RssSampler:
    """Peak of the summed RSS of this process and its descendants (the
    driver JVM and the Python workers), sampled every ``period`` seconds
    on a daemon thread between ``start()`` and ``stop()``."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_kb = 0
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        total = 0
        for pid in _descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._done.wait(self.period):
            self._sample()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        """Stop sampling; the peak in MB."""
        self._done.set()
        self._thread.join(timeout=10)
        self._sample()
        return self.peak_kb / 1024


def _source_digest(root: str) -> str:
    h = hashlib.sha256()
    pkg = os.path.join(root, "contextinator_spark")
    for dirpath, dirs, files in os.walk(pkg):
        dirs.sort()
        for n in sorted(files):
            if n.endswith(".py"):
                p = os.path.join(dirpath, n)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def _git_commit(root: str) -> str | None:
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(root))
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True,
            env=env, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def _alive(pid: int) -> bool:
    try:
        if os.waitpid(pid, os.WNOHANG)[0] == pid:
            return False  # our child, now reaped
    except ChildProcessError:
        pass  # not our child: kill(0) below tells
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    return True


def _stop_descendants(timeout: float = 20.0) -> None:
    """Terminate and wait for every process this run started that is still
    alive — none after a clean ``_stop_spark``, but a run interrupted while
    the JVM was starting leaves it behind."""
    pids = _descendants(os.getpid())[1:]
    for pid in pids:
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + timeout
    for pid in pids:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.1)
        if _alive(pid):
            os.kill(pid, signal.SIGKILL)
            while _alive(pid):
                time.sleep(0.1)


def _stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(workload: str, seed: int, seconds: float, trace: bool, sizes: Sizes, root: str) -> dict:
    """One run; returns the report (every metric plus the run context)."""
    prepare, measure = WORKLOADS[workload]
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(root, ".perfbench", f"work-{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_DRIVER_MEM": "3g",
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        ),
    })
    for knob in ("SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_SLICE_IMPL"):
        os.environ.pop(knob, None)  # measure the engine's defaults
    load1 = os.getloadavg()[0]
    steal0, total0 = _cpu_ticks()
    try:
        gen = Generator(seed, sizes)
        t0 = time.perf_counter()
        inputs = prepare(gen, work)
        corpus_gen_s = time.perf_counter() - t0

        from contextinator_spark.session import get_spark

        tracer = Tracer(None, trace)
        rss = RssSampler()
        rss.start()
        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = get_spark(
                "perfbench",
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
                },
            )
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        tracer.spark = spark
        try:
            ctx = Ctx(spark, tracer, gen, work, seconds)
            m = measure(ctx, inputs)
            m["setup_s"] = session_s + m["build_s"]
            m["session_s"] = session_s
            tracer.collect_stage_metrics()
        finally:
            m_rss = rss.stop()
            _stop_spark(spark)
    finally:
        _stop_descendants()
        shutil.rmtree(work, ignore_errors=True)
    steal1, total1 = _cpu_ticks()
    ops = ctx.ops
    m.update({
        "peak_rss_mb": m_rss,
        "corpus_gen_s": corpus_gen_s,
        "failed_op_ratio": ops.failed / max(1, ops.attempted),
    })
    layers = tracer.layer_metrics()
    execs = [s for s in tracer.spans if s.name == "bm25_segments.topk_segments.exec"]
    if execs:
        # the driver short-circuit answers inside .plan; its .exec only
        # returns the rows and reads nothing from the store
        layers["bm25_segments.short_circuit_ratio"] = sum(
            1 for s in execs if s.stats.get("input_bytes", 0) == 0
        ) / len(execs)
    layers["trace.bookkeeping_s"] = tracer.bookkeeping_s
    for k in PER_LAYER:
        if k in m:
            layers[k] = m[k]
    return {
        "workload": workload,
        "metrics": m,
        "layers": layers if trace else {},
        "attempted": ops.attempted,
        "failed": ops.failed,
        "errors": ops.errors[:20],
        "spans": tracer.dump(),
        "context": {
            "seed": seed,
            "seconds": seconds,
            "trace": trace,
            "nproc": nproc,
            "loadavg_1m": load1,
            "cpu_steal_pct": 100.0 * (steal1 - steal0) / max(1, total1 - total0),
            "spark_version": pyspark.__version__,
            "python_version": platform.python_version(),
            "git_commit": _git_commit(root),
            "engine_sha256": _source_digest(root),
            "sizes": dataclasses.asdict(sizes),
        },
    }


def result_line(report: dict, trace: bool) -> dict:
    """The last stdout line: exactly the metrics BENCHMARK.json names."""
    if trace:
        names, src = PER_LAYER, report["layers"]
    else:
        names, src = END_TO_END, report["metrics"]
        bad = [k for k in names if not math.isfinite(src.get(k, math.nan))]
        if bad:
            raise RuntimeError(f"end-to-end metrics not measured: {bad}")
    return {
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {k: {"value": float(src.get(k, 0.0)), "unit": u} for k, u in names.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "toy"), default="full",
                    help="toy: tiny inputs for the benchmark's own tests")
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "contextinator_spark")):
        print(f"perfbench: no contextinator_spark package in {root}; run from the "
              "repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    report = run(args.workload, args.seed, args.seconds, bool(args.trace),
                 TOY if args.size == "toy" else Sizes(), root)
    spans = report.pop("spans")
    if args.trace:
        out = os.path.join(root, ".perfbench", "results")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, f"spans-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump(spans, f)
    print("perfbench-report " + json.dumps(report, default=str), flush=True)
    print(json.dumps(result_line(report, bool(args.trace))), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
