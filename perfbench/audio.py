"""Audio workloads: availableNow drains of `streaming.match_stream_fused`
into `ExactlyOnceParquetSink`, against an 8-track or a 256-track index.

Each drain is a new query with a fresh checkpoint over the same copied
corpus, so every drain matches every clip again. A clip's latency runs
from query start to the sink commit of the batch that held it.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

import numpy as np
import pyarrow.parquet as pq

import collect
import loadgen
from sparkfp import codec, dsp, matching, schema, streaming, synth
from sparkfp.sink import ExactlyOnceParquetSink

FILES_PER_TRIGGER = 4  # one file is one task: a trigger fills the 4 cores
DRAIN_TIMEOUT_S = 60
LAYER_SAMPLE = 48  # clips replayed without Spark in the traced run
# The matcher reports the start of the 100 ms offset bin its votes fell
# in, and frame times move in 32 ms STFT hops, so a correct offset reads
# up to about 132 ms low; the repository's matching tests accept 200 ms.
OFFSET_TOL_MS = 200

WORKLOADS = {
    # clips per drain = FILES * CLIPS_PER_FILE, three triggers per drain
    "audio_small_index": {"n_tracks": 8, "files": 12, "clips_per_file": 64},
    "audio_large_index": {"n_tracks": 256, "files": 12, "clips_per_file": 20},
}


def read_sink(sink: ExactlyOnceParquetSink) -> list[dict]:
    """Committed rows, read without Spark."""
    rows = []
    for name in os.listdir(sink.ledger_dir):
        if name.endswith(".done"):
            d = os.path.join(sink.table_path, f"batch_id={name[:-5]}")
            rows += pq.read_table(d).to_pylist()
    return rows


def check(rows: list[dict], truth: dict) -> int:
    """Wrong or missing outputs: every track excerpt matched to its track
    within OFFSET_TOL_MS, every noise clip unmatched, one row per clip."""
    got: dict[str, dict] = {}
    failed = 0
    for r in rows:
        failed += r["clip_id"] in got
        got[r["clip_id"]] = r
    for cid, t in truth.items():
        r = got.pop(cid, None)
        if t is None:
            failed += r is not None
        else:
            failed += r is None or r["matched_track"] != t[0] or abs(
                r["offset_ms"] - t[1]
            ) > OFFSET_TOL_MS
    return failed + len(got)


class AudioBench:
    def __init__(self, work: str, tracer, name: str, seed: int,
                 cache_root: str, seconds: int):
        self.spark = None  # attached once the session is up
        self.work, self.tracer = work, tracer
        self.seed, self.cfg = seed, WORKLOADS[name]
        with tracer.span("loadgen.corpus"):
            corpus, gen_s = loadgen.clip_corpus(
                cache_root, name, seed, self.cfg["n_tracks"],
                self.cfg["files"], self.cfg["clips_per_file"],
            )
            warm, warm_s = loadgen.clip_corpus(
                cache_root, name + "_warm", seed + 1_000_000,
                self.cfg["n_tracks"], FILES_PER_TRIGGER, 2,
            )
        self.corpus_gen_s = gen_s + warm_s
        self.truth = loadgen.load_manifest(corpus)["truth"]
        self.src = os.path.join(work, "src")
        self.names = loadgen.copy_files(corpus, self.src)
        self.warm_src = os.path.join(work, "warm_src")
        loadgen.copy_files(warm, self.warm_src)
        self.index = None
        self.index_build_s, self.index_arrays_s = [], []
        self.n_drains = 0

    # ------------------------------------------------------------ set-up

    def setup_once(self) -> float:
        """Index build and cache, then the collect of the index into the
        arrays the fused matcher broadcasts."""
        t0 = time.perf_counter()
        with self.tracer.span("matching.build_index"):
            index = matching.build_index(
                synth.tracks(self.spark, n_tracks=self.cfg["n_tracks"],
                             seed=self.seed)
            ).cache()
            self.index_rows = index.count()
        t1 = time.perf_counter()
        with self.tracer.span("matching.index_arrays"):
            matching.index_arrays(index)
        t2 = time.perf_counter()
        if self.index is not None:
            self.index.unpersist()
        self.index = index
        self.index_build_s.append(t1 - t0)
        self.index_arrays_s.append(t2 - t1)
        return t2 - t0

    # ----------------------------------------------------------- measure

    def drain(self, src: str) -> dict:
        self.n_drains += 1
        d = os.path.join(self.work, f"drain{self.n_drains}")
        sink = collect.TimedSink(ExactlyOnceParquetSink(os.path.join(d, "sink")))
        stream = streaming.read_clip_stream(
            self.spark, src, max_files_per_trigger=FILES_PER_TRIGGER
        )
        with self.tracer.span("streaming.drain", src=os.path.basename(src)):
            with self.tracer.span("streaming.match_stream_fused"):
                q = streaming.match_stream_fused(
                    stream, self.index, sink, os.path.join(d, "ckpt")
                )
            t_start = time.perf_counter()
            try:
                done = q.awaitTermination(DRAIN_TIMEOUT_S)
            except Exception as e:  # a failed query fails all its clips
                print(f"drain failed: {e}", file=sys.stderr, flush=True)
                done = False
            t_end = time.perf_counter()
        if not done:
            q.stop()
        rows = read_sink(sink.sink) if done else []
        out = {
            "ok": done,
            "wall_s": t_end - t_start,
            "batches": collect.batches(q),
            "commits": sink.commits,
            "t_start": t_start,
            "rows": rows,
        }
        shutil.rmtree(d, ignore_errors=True)
        return out

    def measure(self, seconds: float) -> list[dict]:
        self.drain(self.warm_src)  # first query of the session, untimed
        drains, spent = [], 0.0
        while spent < seconds or len(drains) < 2:
            r = self.drain(self.src)
            r["failed"] = check(r["rows"], self.truth) if r["ok"] else len(self.truth)
            drains.append(r)
            spent += r["wall_s"]
        return drains

    def check(self, drains: list[dict]) -> tuple[int, int]:
        """(attempted, failed): every clip of every drain."""
        return len(self.truth) * len(drains), sum(r["failed"] for r in drains)

    def end_to_end(self, drains: list[dict]) -> dict:
        """Medians over the drains of each drain's throughput and clip
        latency percentiles: one drain slowed by a passing neighbour on
        the machine does not move the run's figures."""
        n = len(self.truth)
        p50, p90 = [], []
        for r in drains:
            lat = []
            for b in r["batches"]:
                if b["rows"] and b["batch_id"] in r["commits"]:
                    lat += [r["commits"][b["batch_id"]][1] - r["t_start"]] * b["rows"]
            p50.append(collect.percentile(lat, 50))
            p90.append(collect.percentile(lat, 90))
        return {
            "throughput_per_s": collect.median(n / r["wall_s"] for r in drains),
            "latency_s_p50": collect.median(p50),
            "latency_s_p90": collect.median(p90),
        }

    # ------------------------------------------------------ traced layers

    def per_layer(self, drains: list[dict], cores: int) -> dict:
        out = self._replay()
        out.update(self._core_ms(out["dsp.extract_ms_per_clip"]))
        bs = [b for r in drains for b in r["batches"] if b["rows"]]
        commits = [c for r in drains for c in r["commits"].values()]
        out.update(
            {
                "matching.match_ratio": collect.median(
                    len(r["rows"]) / len(self.truth) for r in drains
                ),
                "matching.index_build_s": collect.median(self.index_build_s),
                "matching.index_arrays_s": collect.median(self.index_arrays_s),
                "matching.index_rows": self.index_rows,
                "streaming.trigger_ms_p50": collect.median(
                    b["ms.triggerExecution"] for b in bs),
                "streaming.add_batch_ms_p50": collect.median(
                    b["ms.addBatch"] for b in bs),
                "streaming.fixed_ms_p50": collect.median(
                    b["ms.triggerExecution"] - b["ms.addBatch"] for b in bs),
                "streaming.batches": collect.median(
                    len(r["batches"]) for r in drains),
                "streaming.backlog_files_end": 0,  # availableNow drains all
                "sink.commit_ms_p50": collect.median(
                    1000 * (e - s) for s, e in commits),
                "sink.rows_written": collect.median(
                    len(r["rows"]) for r in drains),
            }
        )
        # per-clip layer budget: summed layer core-ms over the cores
        # against the summed addBatch time of the same drains
        layers = sum(
            out[k] for k in (
                "codec.decode_ms_per_clip", "dsp.stft_ms_per_clip",
                "dsp.peaks_ms_per_clip", "dsp.hashes_ms_per_clip",
                "matching.boundary_ms_per_clip",
                "matching.probe_vote_ms_per_clip",
            )
        )
        predicted_ms = layers * len(self.truth) * len(drains) / cores
        out["trace.budget_ratio"] = predicted_ms / sum(
            b["ms.addBatch"] for b in bs)
        return out

    def _replay(self) -> dict:
        """The DSP chain without Spark on a sample of the corpus: each
        public function timed on its own, then the fused chain."""
        sample = []
        for n in self.names:
            sample += pq.read_table(os.path.join(self.src, n)).to_pylist()
            if len(sample) >= LAYER_SAMPLE:
                break
        sample = sample[:LAYER_SAMPLE]
        sh = matching.index_arrays(self.index)[0]
        t = {k: 0.0 for k in ("decode", "stft", "peaks", "hashes", "extract")}
        n_lm = n_cand = 0
        for c in sample:
            raw, cname, sr = c["bytes"], c["codec"], c["sr_hz"]
            t0 = time.perf_counter()
            pcm = codec.decode(raw, cname)  # clips are at SR_REF: no resample
            t1 = time.perf_counter()
            mag = dsp.stft_mag(pcm)
            t2 = time.perf_counter()
            peaks = dsp.constellation_peaks(mag)
            t3 = time.perf_counter()
            h, _ = dsp.landmark_hashes(peaks, dsp.SR_REF)
            t4 = time.perf_counter()
            dsp.extract_clip_landmarks(raw, cname, sr)
            t5 = time.perf_counter()
            for k, dt in zip(t, (t1 - t0, t2 - t1, t3 - t2, t4 - t3, t5 - t4)):
                t[k] += dt
            n_lm += len(h)
            n_cand += int(
                (np.searchsorted(sh, h, "right") - np.searchsorted(sh, h)).sum()
            )
        n = len(sample)
        return {
            "codec.decode_ms_per_clip": 1000 * t["decode"] / n,
            "dsp.stft_ms_per_clip": 1000 * t["stft"] / n,
            "dsp.peaks_ms_per_clip": 1000 * t["peaks"] / n,
            "dsp.hashes_ms_per_clip": 1000 * t["hashes"] / n,
            "dsp.extract_ms_per_clip": 1000 * t["extract"] / n,
            "dsp.landmarks_per_clip": n_lm / n,
            "matching.candidates_per_clip": n_cand / n,
        }

    def _core_ms(self, extract_ms: float) -> dict:
        """Core-ms per clip of `match_clips_fused` over the corpus with an
        empty index (decode, DSP and the Arrow boundary) and with the
        real one (plus probe and vote), from the process tree's CPU time."""
        clips = self.spark.read.schema(schema.CLIP).parquet(self.src)
        per_clip = {}
        for name, index in (("empty", self.index.limit(0)), ("real", self.index)):
            df = matching.match_clips_fused(clips, index)
            with self.tracer.span(f"matching.match_clips_fused.{name}"):
                c0 = collect.tree_cpu_s(os.getpid())
                df.write.format("noop").mode("overwrite").save()
                c1 = collect.tree_cpu_s(os.getpid())
            per_clip[name] = 1000 * (c1 - c0) / len(self.truth)
        return {
            "matching.boundary_ms_per_clip": per_clip["empty"] - extract_ms,
            "matching.probe_vote_ms_per_clip": per_clip["real"] - per_clip["empty"],
        }
