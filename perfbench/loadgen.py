"""Seeded inputs for the workloads.

Corpora are generated without Spark, straight from `sparkfp.synth`, and
cached on disk keyed by workload, seed and size, so generation never
falls inside a timed window. A run copies its corpus into its own
directory with `shutil.copy2`: FileStreamSource replays files in mtime
order, so mtimes must survive the copy.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import shutil
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from sparkfp import synth

CLIP_SCHEMA = pa.schema(
    [
        ("clip_id", pa.string()),
        ("bytes", pa.binary()),
        ("sr_hz", pa.int32()),
        ("dur_ms", pa.int32()),
        ("codec", pa.string()),
        ("transcript", pa.string()),
        ("event_ms", pa.int64()),
    ]
)
SENSOR_SCHEMA = pa.schema(
    [
        ("equip_id", pa.string()),
        ("ts_ms", pa.int64()),
        ("data", pa.map_(pa.string(), pa.string())),
    ]
)
SENSOR_START_MS = 1_700_000_040_000  # 20 s before a minute boundary
KEEP_CACHED = 6  # corpora kept on disk; older ones are evicted


@contextlib.contextmanager
def _memo_tracks():
    """`synth.clip_row` re-synthesizes its 20 s source track for every
    clip (about 16 ms each). Memoizing the pure `synth.track_pcm` while
    generating makes a 1k-clip corpus take seconds, with identical bytes.
    Spark's Python workers are separate processes and never see this."""
    orig = synth.track_pcm
    synth.track_pcm = functools.lru_cache(maxsize=None)(orig)
    try:
        yield
    finally:
        synth.track_pcm = orig


def _cached(cache_root: str, key: str, build) -> tuple[str, float]:
    """Return (directory, seconds spent generating) for corpus `key`."""
    d = os.path.join(cache_root, key)
    if os.path.exists(os.path.join(d, "manifest.json")):
        os.utime(d)  # most recently used
        return d, 0.0
    t0 = time.perf_counter()
    tmp = f"{d}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "files"))
    manifest = build(os.path.join(tmp, "files"))
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    gen_s = time.perf_counter() - t0
    entries = sorted(
        (os.path.join(cache_root, e) for e in os.listdir(cache_root)),
        key=os.path.getmtime,
    )
    for old in entries[:-KEEP_CACHED]:
        shutil.rmtree(old, ignore_errors=True)
    return d, gen_s


def _write_ordered(path: str, table: pa.Table, k: int) -> None:
    pq.write_table(table, path)
    stamp = 1_600_000_000 + k  # strictly increasing mtimes = replay order
    os.utime(path, (stamp, stamp))


def clip_corpus(
    cache_root: str, workload: str, seed: int, n_tracks: int,
    n_files: int, clips_per_file: int,
) -> tuple[str, float]:
    """`n_files` parquet files of `synth.clip_row` clips (the rows
    `synth.clips(n_clips, n_tracks, seed)` holds), with each clip's
    ground truth in the manifest."""
    track_ids = synth.default_track_ids(n_tracks)

    def build(out: str) -> dict:
        truth = {}
        with _memo_tracks():
            for k in range(n_files):
                rows = []
                for i in range(k * clips_per_file, (k + 1) * clips_per_file):
                    cid = f"clip_{i:08d}"
                    rows.append(synth.clip_row(cid, track_ids, seed))
                    is_noise, tid, off, _ = synth.ground_truth_for(
                        cid, track_ids, seed
                    )
                    truth[cid] = None if is_noise else [tid, off]
                table = pa.Table.from_pylist(
                    [dict(zip(CLIP_SCHEMA.names, r)) for r in rows], CLIP_SCHEMA
                )
                _write_ordered(os.path.join(out, f"part-{k:05d}.parquet"), table, k)
        return {"truth": truth, "track_ids": track_ids}

    key = f"{workload}-s{seed}-t{n_tracks}-{n_files}x{clips_per_file}"
    return _cached(cache_root, key, build)


def sensor_corpus(
    cache_root: str, seed: int, n_equip: int, event_s: int,
    file_event_s: int, late_share: float,
) -> tuple[str, float]:
    """Sensor events for `n_equip` equipment over `event_s` seconds of
    event time, cut into files of `file_event_s` event seconds.

    A `late_share` of the events moves to the next file. Files span at
    most the 10 s watermark, so a moved event is out of order but never
    late enough to be dropped.
    """
    if file_event_s > 10:
        raise ValueError("files must span at most the 10 s watermark")
    equipment = [f"E{i:03d}" for i in range(n_equip)]
    n_files = event_s // file_event_s

    def build(out: str) -> dict:
        ids, ts, data = [], [], []
        for e in equipment:
            pdf = synth.sensor_events_pdf(
                seed, e, event_s, SENSOR_START_MS, synth.DEFAULT_SENSORS
            )
            ids += pdf["equip_id"].tolist()
            ts += pdf["ts_ms"].tolist()
            data += [list(d.items()) for d in pdf["data"]]
        ts_arr = np.asarray(ts, dtype=np.int64)
        rng = np.random.default_rng(seed)
        part = (ts_arr - SENSOR_START_MS) // (file_event_s * 1000)
        late = rng.random(len(part)) < late_share
        part = np.minimum(part + late, n_files - 1)
        max_ts = []
        for k in range(n_files):
            rows = rng.permutation(np.flatnonzero(part == k))
            table = pa.table(
                {
                    "equip_id": [ids[i] for i in rows],
                    "ts_ms": ts_arr[rows],
                    "data": [data[i] for i in rows],
                },
                schema=SENSOR_SCHEMA,
            )
            _write_ordered(os.path.join(out, f"part-{k:05d}.parquet"), table, k)
            max_ts.append(int(ts_arr[rows].max()))
        return {"max_ts": max_ts, "n_events": len(ts_arr)}

    key = f"sensor-s{seed}-e{n_equip}-t{event_s}-f{file_event_s}-l{late_share}"
    return _cached(cache_root, key, build)


def copy_files(corpus_dir: str, dst: str) -> list[str]:
    """Copy a corpus' files into `dst` with their mtimes; return names."""
    os.makedirs(dst, exist_ok=True)
    names = sorted(os.listdir(os.path.join(corpus_dir, "files")))
    for n in names:
        shutil.copy2(os.path.join(corpus_dir, "files", n), os.path.join(dst, n))
    return names


class Dropper(threading.Thread):
    """Open-loop load: renames pre-written files into the watched
    directory on a schedule fixed in advance, whatever the engine does.

    `late_s_max` records how far behind its schedule the dropper ran.
    """

    def __init__(self, staged: str, watched: str, names: list[str], period_s: float):
        super().__init__(daemon=True)
        self.staged, self.watched = staged, watched
        self.names, self.period_s = names, period_s
        self.t0 = 0.0
        self.late_s_max = 0.0
        self.dropped = 0

    def due(self, k: int) -> float:
        """Scheduled drop time of file k, on the perf_counter clock."""
        return self.t0 + k * self.period_s

    def start(self) -> None:
        self.t0 = time.perf_counter()
        super().start()

    def run(self) -> None:
        for k, name in enumerate(self.names):
            wait = self.due(k) - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            os.rename(
                os.path.join(self.staged, name), os.path.join(self.watched, name)
            )
            self.late_s_max = max(self.late_s_max, time.perf_counter() - self.due(k))
            self.dropped = k + 1


def load_manifest(corpus_dir: str) -> dict:
    with open(os.path.join(corpus_dir, "manifest.json")) as f:
        return json.load(f)
