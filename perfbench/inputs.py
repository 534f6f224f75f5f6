"""Seeded inputs for the benchmark, generated without importing the program.

Clips follow the program's clip schema (``clip_id string, bytes binary,
sr_hz int, dur_ms int, codec string, transcript string, event_ts
timestamp``) with explicit Arrow types: an int64 ``sr_hz`` column would fail
the stream with PARQUET_COLUMN_DATA_TYPE_MISMATCH.

Every value is a function of (seed, clip index). Audio is cut from one
seeded waveform bank per seed (three drifting tones plus noise) at a seeded
offset and gain, so a clip costs a slice and an encode rather than a
synthesis. One clip in 64 is a long clip of 8-30 s (the skew the program's
decode stage must absorb). About one clip in four has ``sr_hz = 8000``,
which the shipped window pipeline routes to its DLQ. Rates, codecs and
durations are stratified (see ``_shapes``) so that every 3,200 clips carry
the same payload for every seed.

Next to each clip file ``f<k>.parquet`` the generator writes
``r<k>.parquet``: per clip the sample count and RMS of the PCM a decoder
must recover from the encoded bytes. The output checks compare the
program's results against it.
"""

from __future__ import annotations

import io
import os
import shutil
import time
import wave

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CLIPS_PER_FILE = 200
EVENT_STEP_MS = 100
BASE_TS_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
SAMPLE_RATES = np.array([8000, 16000, 22050, 44100], dtype=np.int32)
CODECS = ("pcm_s16le", "wav", "pcm_f32le")
N_KEYS = 16
_BANK_LEN = 1 << 21  # longer than the longest clip (30 s at 44.1 kHz)
_WORDS = np.array(
    "the a of to and in clip audio stream spark window join state batch merge sink "
    "source watermark event time key value hash shuffle partition skew salt codec "
    "sample rate frame token".split()
)

CLIP_SCHEMA = pa.schema(
    [
        ("clip_id", pa.string()),
        ("bytes", pa.binary()),
        ("sr_hz", pa.int32()),
        ("dur_ms", pa.int32()),
        ("codec", pa.string()),
        ("transcript", pa.string()),
        ("event_ts", pa.timestamp("us", tz="UTC")),
    ]
)
REF_SCHEMA = pa.schema(
    [
        ("clip_id", pa.string()),
        ("key", pa.string()),
        ("codec", pa.string()),
        ("sr_hz", pa.int32()),
        ("event_ts_us", pa.int64()),
        ("n_samples", pa.int64()),
        ("rms", pa.float64()),
        ("payload_bytes", pa.int64()),
    ]
)


def _bank(seed: int) -> np.ndarray:
    """The per-seed waveform every clip is cut from, peak-normalised to 0.9."""
    rng = np.random.default_rng([seed, 0xB0A])
    t = np.arange(_BANK_LEN, dtype=np.float64) / 16000.0
    x = np.zeros(_BANK_LEN, dtype=np.float64)
    for _ in range(3):
        f0, f1 = rng.uniform(80.0, 3400.0, size=2)
        phase = rng.uniform(0.0, 2 * np.pi)
        drift = (f1 - f0) / (2 * t[-1])
        x += rng.uniform(0.15, 0.3) * np.sin(2 * np.pi * (f0 + drift * t) * t + phase)
    x += rng.standard_normal(_BANK_LEN) * 0.01
    return (x * (0.9 / np.abs(x).max())).astype(np.float32)


def _to_i16(pcm: np.ndarray) -> np.ndarray:
    return np.clip(np.round(pcm * 32767.0), -32768, 32767).astype("<i2")


def _encode(pcm: np.ndarray, sr_hz: int, codec: str) -> tuple[bytes, np.ndarray]:
    """Encoded bytes and the float32 PCM a decoder recovers from them."""
    if codec == "pcm_f32le":
        f = pcm.astype("<f4")
        return f.tobytes(), f
    i16 = _to_i16(pcm)
    decoded = i16.astype(np.float32) / 32768.0
    if codec == "pcm_s16le":
        return i16.tobytes(), decoded
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(int(sr_hz))
        w.writeframes(i16.tobytes())
    return buf.getvalue(), decoded


def _shapes(seed: int, idx: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(sr_hz, codec index, dur_ms) per clip. Each block of 64 clips holds the
    same 63 short-clip shapes and one long clip, in a seeded order; the long
    clip of block b takes combination (b + seed) % 50 of a fixed table of 50
    (duration 8-30 s, rate, codec). Any 50 consecutive blocks therefore carry
    the same payload whatever the seed, so seeds move content and order but
    not the amount of work."""
    j = np.arange(63)
    short = (SAMPLE_RATES[j % 4], j % 3, (250 + j * 1000 // 63).astype(np.int32))
    block, pos = idx // 64, idx % 64
    sr = np.empty(len(idx), np.int32)
    codec = np.empty(len(idx), np.int64)
    dur = np.empty(len(idx), np.int32)
    for b in np.unique(block):
        shape = np.random.default_rng([seed, int(b), 0x5A9]).permutation(64)[pos[block == b]]
        k = (int(b) + seed) % 50
        is_long = shape == 63
        s = np.minimum(shape, 62)
        sr[block == b] = np.where(is_long, SAMPLE_RATES[k % 4], short[0][s])
        codec[block == b] = np.where(is_long, k % 3, short[1][s])
        dur[block == b] = np.where(is_long, 8000 + 22000 * k // 49, short[2][s])
    return sr, codec, dur


def clip_file(seed: int, file_idx: int, bank: np.ndarray) -> tuple[pa.Table, pa.Table]:
    """(clips, reference) tables for one file of CLIPS_PER_FILE clips."""
    n = CLIPS_PER_FILE
    idx = np.arange(file_idx * n, (file_idx + 1) * n, dtype=np.int64)
    rng = np.random.default_rng([seed, file_idx, 0xC11])
    sr, codec_ix, dur = _shapes(seed, idx)
    keys = rng.integers(0, N_KEYS, n)
    gains = rng.uniform(0.3, 1.0, n).astype(np.float32)
    n_words = rng.integers(3, 15, n)
    words = rng.integers(0, len(_WORDS), (n, 15))
    ids, payloads, transcripts, n_samp, rms, sizes = [], [], [], [], [], []
    for j in range(n):
        ns = max(1, int(sr[j]) * int(dur[j]) // 1000)
        off = int(rng.integers(0, _BANK_LEN - ns))
        raw, decoded = _encode(bank[off : off + ns] * gains[j], int(sr[j]), CODECS[codec_ix[j]])
        # clip_id[10:12] is the window key the shipped YAML slices out
        ids.append(f"clip-{seed % 100000:05d}{keys[j]:02d}{idx[j]:09d}")
        payloads.append(raw)
        transcripts.append(" ".join(_WORDS[words[j, : n_words[j]]]))
        n_samp.append(decoded.size)
        rms.append(float(np.sqrt(np.mean(decoded.astype(np.float64) ** 2))))
        sizes.append(len(raw))
    ts = BASE_TS_US + idx * EVENT_STEP_MS * 1000
    codecs = [CODECS[c] for c in codec_ix]
    clips = pa.Table.from_arrays(
        [
            pa.array(ids, pa.string()),
            pa.array(payloads, pa.binary()),
            pa.array(sr, pa.int32()),
            pa.array(dur, pa.int32()),
            pa.array(codecs, pa.string()),
            pa.array(transcripts, pa.string()),
            pa.array(ts, pa.timestamp("us", tz="UTC")),
        ],
        schema=CLIP_SCHEMA,
    )
    ref = pa.Table.from_arrays(
        [
            pa.array(ids, pa.string()),
            pa.array([f"{k:02d}" for k in keys], pa.string()),
            pa.array(codecs, pa.string()),
            pa.array(sr, pa.int32()),
            pa.array(ts, pa.int64()),
            pa.array(n_samp, pa.int64()),
            pa.array(rms, pa.float64()),
            pa.array(sizes, pa.int64()),
        ],
        schema=REF_SCHEMA,
    )
    return clips, ref


def clip_cache(cache_root: str, seed: int, keep: int = 2) -> str:
    """The cache directory of `seed`'s clip files. Only the `keep` most
    recently used seeds are kept, so the cache stays within a few GB."""
    d = os.path.join(cache_root, f"clips-s{seed}")
    os.makedirs(d, exist_ok=True)
    os.utime(d)
    others = sorted(
        (os.path.join(cache_root, x) for x in os.listdir(cache_root) if x.startswith("clips-")),
        key=os.path.getmtime,
        reverse=True,
    )
    for old in others[keep:]:
        shutil.rmtree(old, ignore_errors=True)
    return d


def ensure_files(cache_dir: str, seed: int, n_files: int) -> int:
    """Generate clip files ``f<k>.parquet`` and their references
    ``r<k>.parquet`` for k < n_files, each written atomically. Returns how
    many were missing."""
    bank, made = None, 0
    for k in range(n_files):
        clip_path, ref_path = (os.path.join(cache_dir, f"{p}{k:05d}.parquet") for p in "fr")
        if os.path.exists(ref_path):
            continue
        if bank is None:
            bank = _bank(seed)
        clips, ref = clip_file(seed, k, bank)
        for table, path in ((clips, clip_path), (ref, ref_path)):
            pq.write_table(table, path + ".tmp", compression="none")
            os.replace(path + ".tmp", path)
        made += 1
    return made


def read_refs(cache_dir: str, first: int, count: int) -> pa.Table:
    return pa.concat_tables(
        pq.read_table(os.path.join(cache_dir, f"r{k:05d}.parquet")) for k in range(first, first + count)
    )


def stage_files(cache_dir: str, first: int, count: int, dest: str) -> list[str]:
    """Hard-link clip files [first, first+count) into ``dest`` with strictly
    increasing mtimes in event-time order (1 ms apart, after any file staged
    before), so the file source reads them in event-time order."""
    os.makedirs(dest, exist_ok=True)
    t_ns = time.time_ns()
    staged = []
    for k in range(first, first + count):
        src = os.path.join(cache_dir, f"f{k:05d}.parquet")
        dst = os.path.join(dest, f"f{k:05d}.parquet")
        os.link(src, dst)
        stamp = t_ns + (k - first) * 1_000_000
        os.utime(dst, ns=(stamp, stamp))
        staged.append(dst)
    return staged
