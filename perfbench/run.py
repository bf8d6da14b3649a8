"""sparkfp streaming benchmark.

    python3 perfbench/run.py --workload audio_small_index --seed 1 \
        --seconds 20 --trace 0

Run from the repository root. Prints, as the last line of standard
output, one JSON object {"correct", "attempted", "failed", "metrics"}:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1 (spans then go to perfbench/.out/). See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = min(4, os.cpu_count() or 4)
SETUPS = 3  # set-up repeats; setup_s reports their median

END_TO_END = {
    "throughput_per_s": "1/s",
    "latency_s_p50": "s",
    "latency_s_p90": "s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}
PER_LAYER = {
    "codec.decode_ms_per_clip": "ms",
    "dsp.stft_ms_per_clip": "ms",
    "dsp.peaks_ms_per_clip": "ms",
    "dsp.hashes_ms_per_clip": "ms",
    "dsp.extract_ms_per_clip": "ms",
    "dsp.landmarks_per_clip": "count",
    "matching.boundary_ms_per_clip": "ms",
    "matching.probe_vote_ms_per_clip": "ms",
    "matching.candidates_per_clip": "count",
    "matching.match_ratio": "ratio",
    "matching.index_build_s": "s",
    "matching.index_arrays_s": "s",
    "matching.index_rows": "count",
    "streaming.trigger_ms_p50": "ms",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.fixed_ms_p50": "ms",
    "streaming.batches": "count",
    "streaming.backlog_files_end": "count",
    "state.rows_total": "count",
    "state.memory_bytes": "bytes",
    "state.commit_ms": "ms",
    "state.rows_dropped_by_watermark": "count",
    "sink.commit_ms_p50": "ms",
    "sink.rows_written": "count",
    "fingerprint.windows_emitted": "count",
    "loadgen.corpus_gen_s": "s",
    "loadgen.late_s_max": "s",
    "loadgen.probe_ratio": "ratio",
    "loadgen.steal_share": "ratio",
    "trace.overhead_ratio": "ratio",
    "trace.budget_ratio": "ratio",
}


def _environment(work: str) -> None:
    """Python workers import sparkfp from the checkout; Spark, RocksDB
    and Python temp files stay inside it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ["SPARKFP_DRIVER_MEM"] = "2g"
    # every JVM, spark-submit's launcher too: no /tmp/hsperfdata, no /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    for every descendant process to end."""
    import collect
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.terminate()
            proc.wait(30)
    deadline = time.perf_counter() + 30
    while True:
        rest = [p for p in collect.tree_pids(os.getpid()) if p != os.getpid()]
        if not rest:
            return
        if time.perf_counter() > deadline:
            for p in rest:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            return
        time.sleep(0.1)


def run(args, work: str) -> dict:
    import collect
    from audio import WORKLOADS as AUDIO
    from audio import AudioBench
    from sensor import SensorBench
    from sparkfp.session import get_spark

    tracer = collect.Tracer(bool(args.trace))
    sampler = collect.RssSampler()
    sampler.start()
    t_pre = time.perf_counter()
    probe = collect.ambient_probe(CORES)
    print(f"perfbench: window probe {json.dumps(probe)}", file=sys.stderr)
    bench_cls = AudioBench if args.workload in AUDIO else SensorBench
    bench = bench_cls(
        work, tracer, args.workload, args.seed,
        os.path.join(HERE, ".cache"), args.seconds,
    )
    pre_s = time.perf_counter() - t_pre  # probe and corpus, not set-up
    spark = None
    try:
        with tracer.span("session"):
            spark = get_spark(
                "perfbench",
                cores=CORES,
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    # a pre-touched fixed heap: peak memory then moves with
                    # off-heap and Python-worker memory, not with GC timing
                    "spark.driver.extraJavaOptions": "-Xms2g -XX:+AlwaysPreTouch",
                    "spark.sql.streaming.numRecentProgressUpdates": "1000",
                },
            )
        # process start to a live session, less probe and corpus generation
        session_s = time.perf_counter() - T_PROCESS - pre_s
        bench.spark = spark
        with tracer.span("setup"):
            units = [bench.setup_once() for _ in range(SETUPS)]
        with tracer.span("measure"):
            t0, ticks = time.perf_counter(), collect.cpu_ticks()
            result = bench.measure(args.seconds)
            window_s = time.perf_counter() - t0
            steal = collect.steal_share(ticks, collect.cpu_ticks())
        print(f"perfbench: steal share in the measured window {steal:.3f}",
              file=sys.stderr)
        attempted, failed = bench.check(result)
        if args.trace:
            with tracer.span("layers"):
                metrics = bench.per_layer(result, CORES)
            metrics["loadgen.corpus_gen_s"] = bench.corpus_gen_s
            metrics["loadgen.probe_ratio"] = probe["ratio"]
            metrics["loadgen.steal_share"] = steal
            metrics["trace.overhead_ratio"] = 1 + tracer.self_s / window_s
        else:
            metrics = bench.end_to_end(result)
            metrics["setup_s"] = session_s + collect.median(units)
    finally:
        if spark is not None:
            with tracer.span("shutdown"):
                _stop_spark(spark)
        peak = sampler.stop()
    if args.trace:
        tracer.dump(
            os.path.join(HERE, ".out", f"trace-{args.workload}-{args.seed}.json")
        )
        units_of = PER_LAYER
    else:
        metrics["peak_rss_mb"] = peak
        units_of = END_TO_END
    return {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": float(metrics.get(k, 0.0)), "unit": u}
            for k, u in units_of.items()
        },
    }


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=["audio_small_index", "audio_large_index",
                            "sensor_open_loop"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=20)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "sparkfp")):
        print("perfbench: no sparkfp package next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    _environment(work)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
