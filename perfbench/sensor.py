"""sensor_open_loop: the reference job, `streaming.fingerprint_stream`
(available_now=False), fed by an open-loop file dropper.

A window's latency runs from the scheduled drop time of the first file
holding an event at or past `window_end + watermark` (the file that
lets the watermark close the window) to the sink commit of the batch
that emits the window.
"""

from __future__ import annotations

import json
import math
import os
import time

import pyarrow.parquet as pq

import collect
import loadgen
from sparkfp import fingerprint, schema, streaming
from sparkfp.sink import ExactlyOnceParquetSink

N_EQUIP = 8
FILE_EVENT_S = 8  # event seconds per file, within the 10 s watermark
LATE_SHARE = 0.05  # events moved one file later: out of order, not late
RATE = 700  # events per second offered, see README for the choice
WATERMARK_MS = 10_000
WINDOW_MS = 60_000
TAIL_TIMEOUT_S = 60
MAX_FILES_PER_TRIGGER = 10_000  # each trigger takes every file dropped


def committed_windows(sink: ExactlyOnceParquetSink) -> dict[tuple, int]:
    """(equip_id, start_ms) -> batch id of every committed window row,
    read without Spark; a window seen twice maps to -1."""
    out: dict[tuple, int] = {}
    for name in os.listdir(sink.ledger_dir):
        if name.endswith(".done"):
            b = int(name[:-5])
            t = pq.read_table(
                os.path.join(sink.table_path, f"batch_id={b}"),
                columns=["equip_id", "start_ms"],
            )
            for e, s in zip(t["equip_id"].to_pylist(), t["start_ms"].to_pylist()):
                out[(e, s)] = -1 if (e, s) in out else b
    return out


def files_taken(ckpt: str) -> int:
    """Files the source has assigned to a batch, from its metadata log."""
    d = os.path.join(ckpt, "sources", "0")
    paths = set()
    if os.path.isdir(d):
        for name in os.listdir(d):
            if name.startswith("."):
                continue
            with open(os.path.join(d, name)) as f:
                for line in f:
                    if line.startswith("{"):
                        paths.add(json.loads(line)["path"])
    return len(paths)


class SensorBench:
    def __init__(self, work: str, tracer, name: str, seed: int,
                 cache_root: str, seconds: int):
        self.spark = None  # attached once the session is up
        self.work, self.tracer = work, tracer
        self.period_s = FILE_EVENT_S * N_EQUIP / RATE
        n_files = math.ceil(seconds / self.period_s)
        with tracer.span("loadgen.corpus"):
            corpus, gen_s = loadgen.sensor_corpus(
                cache_root, seed, N_EQUIP, n_files * FILE_EVENT_S,
                FILE_EVENT_S, LATE_SHARE,
            )
            # set-up drains about one open-loop batch, so the measured
            # triggers run warm code
            warm, warm_s = loadgen.sensor_corpus(
                cache_root, seed + 1_000_000, N_EQUIP, 12 * FILE_EVENT_S,
                FILE_EVENT_S, 0.0,
            )
        self.corpus_gen_s = gen_s + warm_s
        self.max_ts = loadgen.load_manifest(corpus)["max_ts"]
        self.staged = os.path.join(work, "staged")
        self.names = loadgen.copy_files(corpus, self.staged)
        self.warm, self.n_setups = warm, 0
        # every equipment reports every second, so every (equipment,
        # minute) window exists; closed ones end at or before the final
        # watermark
        final_wm = max(self.max_ts) - WATERMARK_MS
        first = loadgen.SENSOR_START_MS // WINDOW_MS * WINDOW_MS
        self.expected = {
            (f"E{i:03d}", s)
            for i in range(N_EQUIP)
            for s in range(first, final_wm - WINDOW_MS + 1, WINDOW_MS)
        }

    def _query(self, src: str, d: str, available_now: bool):
        sink = collect.TimedSink(ExactlyOnceParquetSink(os.path.join(d, "sink")))
        stream = streaming.read_sensor_stream(
            self.spark, src, max_files_per_trigger=MAX_FILES_PER_TRIGGER
        )
        q = streaming.fingerprint_stream(
            stream, sink, os.path.join(d, "ckpt"), available_now=available_now
        )
        return q, sink

    def setup_once(self) -> float:
        """A short availableNow fingerprint stream on a corpus of its own:
        query start, planning, code generation and state-store start-up."""
        t0 = time.perf_counter()
        self.n_setups += 1
        d = os.path.join(self.work, f"warm{self.n_setups}")
        loadgen.copy_files(self.warm, os.path.join(d, "src"))
        with self.tracer.span("streaming.warm_up"):
            q, _ = self._query(os.path.join(d, "src"), d, True)
            q.awaitTermination(TAIL_TIMEOUT_S)
        return time.perf_counter() - t0

    def measure(self, seconds: float) -> dict:
        d = os.path.join(self.work, "run")
        watched = os.path.join(d, "watched")
        os.makedirs(watched)
        q, sink = self._query(watched, d, False)
        q.processAllAvailable()  # query initialised before the first drop
        dropper = loadgen.Dropper(self.staged, watched, self.names, self.period_s)
        with self.tracer.span("loadgen.open_loop", files=len(self.names)):
            dropper.start()
            dropper.join()
        backlog = dropper.dropped - files_taken(os.path.join(d, "ckpt"))
        with self.tracer.span("streaming.tail"):
            deadline = time.perf_counter() + TAIL_TIMEOUT_S
            got = committed_windows(sink.sink)
            while not self.expected <= got.keys() and time.perf_counter() < deadline:
                if q.exception() is not None:
                    break
                time.sleep(0.2)
                got = committed_windows(sink.sink)
        q.stop()
        return {
            "dropper": dropper, "backlog": backlog, "got": got,
            "batches": collect.batches(q), "commits": sink.commits,
            "sink": sink.sink, "watched": watched,
        }

    def check(self, r: dict) -> tuple[int, int]:
        """(attempted, failed) against batch `fingerprint.pipeline` over the
        same events, for closed windows only; each window exactly once."""
        exp = {
            (x.equip_id, x.start_ms): x.data
            for x in fingerprint.pipeline(
                self.spark.read.schema(schema.SENSOR_EVENT).parquet(r["watched"])
            ).collect()
        }
        rows = r["sink"].read(self.spark).collect() if r["got"] else []
        seen, failed = set(), 0
        for x in rows:
            key = (x.equip_id, x.start_ms)
            failed += key in seen or exp.get(key) != x.data
            seen.add(key)
        failed += len(self.expected - seen)
        return len(self.expected), failed

    def end_to_end(self, r: dict) -> dict:
        lat = []
        for (_, start), b in r["got"].items():
            close = start + WINDOW_MS + WATERMARK_MS
            k = next((k for k, m in enumerate(self.max_ts) if m >= close), None)
            if k is not None and b in r["commits"]:
                lat.append(r["commits"][b][1] - r["dropper"].due(k))
        # events per second of trigger execution, leaving out the first
        # batch, which starts on a near-empty directory: the offered rate
        # while the engine keeps up, its capacity once it cannot
        data = [b for b in r["batches"] if b["rows"]][1:]
        return {
            "throughput_per_s": 1000 * sum(b["rows"] for b in data)
            / sum(b["ms.triggerExecution"] for b in data),
            "latency_s_p50": collect.percentile(lat, 50),
            "latency_s_p90": collect.percentile(lat, 90),
        }

    def per_layer(self, r: dict, cores: int) -> dict:
        bs = r["batches"]
        data = [b for b in bs if b["rows"]]
        return {
            "streaming.trigger_ms_p50": collect.median(
                b["ms.triggerExecution"] for b in data),
            "streaming.add_batch_ms_p50": collect.median(
                b["ms.addBatch"] for b in data),
            "streaming.fixed_ms_p50": collect.median(
                b["ms.triggerExecution"] - b["ms.addBatch"] for b in data),
            "streaming.batches": len(bs),
            "streaming.backlog_files_end": r["backlog"],
            "state.rows_total": bs[-1]["state.rows_total"] if bs else 0,
            "state.memory_bytes": max(
                (b["state.memory_bytes"] for b in bs), default=0),
            "state.commit_ms": collect.median(b["state.commit_ms"] for b in data),
            "state.rows_dropped_by_watermark": sum(
                b["state.rows_dropped_by_watermark"] for b in bs),
            "sink.commit_ms_p50": collect.median(
                1000 * (e - s) for s, e in r["commits"].values()),
            "sink.rows_written": len(r["got"]),
            "fingerprint.windows_emitted": len(r["got"]),
            "loadgen.late_s_max": r["dropper"].late_s_max,
        }
