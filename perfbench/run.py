"""Benchmark of the KG-construction engine: four seeded workloads.

    python3 perfbench/run.py --workload kg_extract --seed 1 --seconds 8 --trace 0

Run it from the root of a checkout of the repository. Each run is one
process holding one Spark session at local[<cores available>]; it drives
the workload as a closed loop of one client, so the next operation starts
only when the previous one has returned and its output has been checked.

  kg_extract      plans.pipeline.extract_triples over a transcripts parquet
  kg_graph        plans.pipeline.KGPipeline.run (alias dict, full DAG) into a
                  fresh workdir, then a resume after a simulated kill during
                  resolution
  doc_dedup       operators.dedup: minhash, minhash_md5, simhash and
                  simhash_md5 clustering, then minhash_index on 90% of the
                  corpus and minhash_assign_new on the rest
  stream_neardup  streaming.neardup.stream_neardup_pairs (AvailableNow), then
                  a catch-up run on the same checkpoint over one new file

A run starts the session, generates and writes its input from --seed three
times (set-up; the median counts), computes the reference answers untimed,
and then measures for --seconds: the first operation is the cold one, the
rest are warm, and a workload's minimum of warm operations runs even when
that takes longer.

End-to-end metrics (--trace 0), on every workload:
  setup_s      session start + median input generation and writing
  cold_s       the first operation in the fresh process
  items_per_s  triples (kg_*) or documents (doc_dedup, stream_neardup) per
               second of the median warm operation
  resume_s     median time to complete the output from what the program
               persisted, as after a kill: kg_graph re-runs resolution,
               entities and edges from checkpointed stages; doc_dedup runs
               minhash_assign_new against the saved index; stream_neardup
               catches up on one new file from its checkpoint; kg_extract
               persists nothing, so there it is a whole operation

With --trace 1 the run is traced instead: spans around every call into a
package module, the Spark event log, a streaming listener and the executed
plans give the per-layer metrics, named after the package modules, plus
error_rate and peak_rss_mb. Spans are written to .perfbench_out/. The last
line of standard output is one JSON object with correct, attempted, failed
and metrics; failed / attempted is the error rate of either kind of run.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
SETUP_REPS = 3

END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "items_per_s": "1/s",
    "resume_s": "s",
}

# spans around the benchmark's own work inside an operation
HARNESS_SPANS = ("check", "listener_wait")

PER_LAYER = {
    "session.start_s": "s",
    "sources.scan_s": "s",
    "sources.scan_rows": "count",
    "mentions.s": "s",
    "mentions.rows_in": "count",
    "mentions.rows_out": "count",
    "mentions.python_task_s": "s",
    "mentions.task_skew": "ratio",
    "triples.s": "s",
    "triples.rows_out": "count",
    "triples.exchanges": "count",
    "triples.shuffle_bytes": "bytes",
    "linking.s": "s",
    "linking.surfaces": "count",
    "linking.exact_links": "count",
    "linking.lsh_attempts": "count",
    "linking.lsh_links": "count",
    "linking.lsh_hit_ratio": "ratio",
    "canonicalize.s": "s",
    "canonicalize.edges": "count",
    "canonicalize.jobs": "count",
    "graph.resolve_s": "s",
    "graph.entities_s": "s",
    "graph.edges_s": "s",
    "graph.entities_rows": "count",
    "graph.edges_rows": "count",
    "graph.broadcast_joins": "count",
    "pipeline.run_s": "s",
    "pipeline.resume_s": "s",
    "pipeline.resume_skip_s": "s",
    "pipeline.overhead_s": "s",
    "pipeline.extra_jobs": "count",
    "dedup.minhash_s": "s",
    "dedup.minhash_md5_s": "s",
    "dedup.simhash_s": "s",
    "dedup.simhash_md5_s": "s",
    "dedup.index_s": "s",
    "dedup.assign_s": "s",
    "dedup.minhash_candidates": "count",
    "dedup.minhash_pairs": "count",
    "dedup.minhash_verify_ratio": "ratio",
    "dedup.exchanges": "count",
    "dedup.raw_scans": "count",
    "dedup.cached_scans": "count",
    "dedup.cache_hit_ratio": "ratio",
    "dedup.smj_joins": "count",
    "dedup.shj_joins": "count",
    "dedup.shuffle_bytes": "bytes",
    "dedup.spill_bytes": "bytes",
    "streaming.neardup_s": "s",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.add_batch_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "streaming.state_commit_ms": "ms",
    "streaming.sink_rows": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.failed_tasks": "count",
    "spark.python_stage_s": "s",
    "spark.jvm_stage_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_fetch_wait_s": "s",
    "spark.driver_gap_s": "s",
    "trace.overhead_ratio": "ratio",
    "trace.span_coverage": "ratio",
    "error_rate": "ratio",
    "peak_rss_mb": "MB",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(work: Path) -> None:
    """Keep every file Spark, the JVMs and the Python workers write
    inside this run's work directory."""
    for sub in ("tmp", "local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path[:0] = [str(ROOT), str(Path(__file__).resolve().parent)]


def start_session(work: Path, cores: int, event_log: Path | None):
    from portuguese_pt_legal_ner_spark.session import build_session  # noqa: PLC0415

    conf = {
        "spark.driver.memory": "3g",
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        event_log.mkdir(parents=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file:{event_log}",
            "spark.eventLog.compress": "false",
        })
    spark = build_session(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the gateway JVM and its Python workers, and wait
    for every process this run started to exit."""
    from pyspark import SparkContext  # noqa: PLC0415

    from tracing import descendants  # noqa: PLC0415

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    # the context is stopped and its event log closed; the JVM's orderly
    # exit (1-4 s of shutdown hooks) would only delete files under the
    # run's work directory, which the run removes itself
    while pids := descendants():
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.wait()  # reap the JVM, a child of this process
        time.sleep(0.05)


def attempt(fn, *args):
    """Run one operation; an exception counts as a failed operation."""
    try:
        return fn(*args)
    except Exception:  # noqa: BLE001 — the loop must go on and count it
        traceback.print_exc(file=sys.stderr)
        return None


def set_up(w, work: Path) -> tuple[float, list]:
    """Generate and write the input SETUP_REPS times; keep the last copy."""
    times, rows = [], None
    for i in range(SETUP_REPS):
        path = str(work / f"input-{i}")
        t0 = time.perf_counter()
        rows = w.generate(path)
        times.append(time.perf_counter() - t0)
        if w.input:
            shutil.rmtree(w.input)
        w.input = path
    return statistics.median(times), rows


class Loop:
    """Closed loop of one client over the workload's operation."""

    def __init__(self, w):
        self.w = w
        self.attempted = 0
        self.failed = 0
        self.ops = []  # successful operations, in order

    def run(self, seconds: float, min_ops: int, tracer=None) -> list:
        done = []
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds or len(done) < min_ops:
            self.attempted += 1
            if tracer:
                with tracer.span("op"), self.w.instrumented(tracer):
                    res = attempt(self.w.op, tracer)
            else:
                res = attempt(self.w.op)
            self.w.ops_done += 1
            if res is None or not res.ok:
                self.failed += 1
                if self.failed > 3 * len(self.ops) + 3:
                    break  # broken program: stop early, report the failures
                continue
            done.append(res)
            self.ops.append(res)
        return done


def measure(args, work: Path) -> dict:
    from workloads import WORKLOADS  # noqa: PLC0415

    cores = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = start_session(work, cores, None)
    session_s = time.perf_counter() - t0
    try:
        w = WORKLOADS[args.workload](spark, str(work), args.seed, cores)
        gen_s, rows = set_up(w, work)
        t1 = time.perf_counter()
        w.prepare(rows)
        loop = Loop(w)
        t2 = time.perf_counter()
        cold = loop.run(0, 1)
        warm = loop.run(max(0.0, args.seconds - sum(o.seconds for o in cold)),
                        w.min_warm)
        t3 = time.perf_counter()
    finally:
        stop_session(spark)
    t4 = time.perf_counter()
    times = [o.seconds for o in warm]
    print(f"perfbench: {args.workload} seed {args.seed}: set-up {session_s:.2f} + "
          f"{gen_s:.2f} s, cold {[round(o.seconds, 2) for o in cold]} s, warm "
          f"{[round(t, 2) for t in times]} s, resume "
          f"{[round(o.resume_seconds, 2) for o in warm]} s; reference {t2 - t1:.2f} s, "
          f"loop {t3 - t2:.2f} s, stop {t4 - t3:.2f} s", file=sys.stderr)
    items = warm[-1].items if warm else 0
    resumes = [o.resume_seconds for o in warm if o.resume_seconds]
    metrics = {
        "setup_s": session_s + gen_s,
        "cold_s": cold[0].seconds if cold else 0.0,
        "items_per_s": items / statistics.median(times) if times else 0.0,
        "resume_s": statistics.median(resumes) if resumes else 0.0,
    }
    return result(loop, metrics, END_TO_END)


def measure_traced(args, work: Path) -> dict:
    from tracing import (  # noqa: PLC0415
        EventLog,
        RssSampler,
        StreamProgress,
        Tracer,
        span_union_s,
    )
    from workloads import WORKLOADS  # noqa: PLC0415

    cores = len(os.sched_getaffinity(0))
    tracer = Tracer(args.workload)
    log_dir = work / "eventlog"
    with RssSampler() as rss:
        with tracer.span("session.start"):
            spark = start_session(work, cores, log_dir)
        tracer.sc = spark.sparkContext
        try:
            w = WORKLOADS[args.workload](spark, str(work), args.seed, cores)
            _gen_s, rows = set_up(w, work)
            w.prepare(rows)
            loop = Loop(w)
            loop.run(0, 1)  # cold
            half = args.seconds / 2
            untraced = loop.run(half, 1)
            progress = StreamProgress()
            spark.streams.addListener(progress)
            w.progress = progress
            traced = loop.run(half, 1, tracer)
            spark.streams.removeListener(progress)
            with tracer.span("decompose"):
                w.decompose(tracer)
        finally:
            tracer.sc = None
            stop_session(spark)
    log = EventLog(str(log_dir), tracer)
    metrics = dict.fromkeys(PER_LAYER, 0.0)
    metrics["session.start_s"] = duration(tracer.named("session.start")[0])
    ops = tracer.named("op")
    if traced and untraced:
        metrics.update(w.layer_metrics(tracer, log, ops, progress))
        # output checks and listener waits are the benchmark's own work
        op_ids = {o["id"] for o in ops}
        children = [s for s in tracer.spans if s["parent"] in op_ids]
        layers = [s for s in children if s["name"] not in HARNESS_SPANS]
        harness = [s for s in children if s["name"] in HARNESS_SPANS]
        program = set().union(*(tracer.subtree(s) for s in layers))
        wall = sum(map(duration, ops)) - sum(map(duration, harness))
        s = log.summary(program, wall)
        n = len(ops)
        metrics.update({
            "spark.jobs": s["jobs"] / n,
            "spark.stages": s["stages"] / n,
            "spark.failed_tasks": s["failed_tasks"] / n,
            "spark.python_stage_s": s["python_stage_s"] / n,
            "spark.jvm_stage_s": s["jvm_stage_s"] / n,
            "spark.gc_s": s["gc_s"] / n,
            "spark.shuffle_fetch_wait_s": s["fetch_wait_s"] / n,
            "spark.driver_gap_s": (wall - s["stage_busy_s"]) / n,
            "trace.overhead_ratio": statistics.median(o.seconds for o in traced)
            / statistics.median(o.seconds for o in untraced),
            "trace.span_coverage": span_union_s(layers) / wall,
        })
    metrics["error_rate"] = loop.failed / max(loop.attempted, 1)
    metrics["peak_rss_mb"] = rss.peak_bytes / 2**20
    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    tracer.write(str(out_dir / f"{args.workload}-seed{args.seed}-spans.jsonl"))
    return result(loop, metrics, PER_LAYER)


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def result(loop, metrics: dict, units: dict) -> dict:
    return {
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    isolate(work)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            work.parent.rmdir()


def run(args, work: Path) -> int:
    try:
        import bench_scaling  # noqa: F401, PLC0415
        import portuguese_pt_legal_ner_spark  # noqa: F401, PLC0415
        from workloads import WORKLOADS  # noqa: PLC0415
    except ImportError as exc:
        print(f"perfbench: the repository is not here ({exc}); run from the root "
              "of a checkout", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{', '.join(WORKLOADS)}", file=sys.stderr)
        return 2
    out = measure_traced(args, work) if args.trace else measure(args, work)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
