"""Vectorized pandas/Arrow UDFs for the audio lane.

The ONLY Python on any hot path in this engine, as mandated by the
north rule ("audio payloads are decoded to PCM exclusively inside
vectorized pandas/Arrow UDFs — no per-row Python"):

- arrives as Arrow batches (spark.sql.execution.arrow.pyspark.enabled)
- numpy-vectorized G.711/PCM decode per batch (sources/audio.py)
- returns either scalar features (rms/peak/duration — the cheap path
  that avoids shipping PCM back to the JVM) or the full PCM array
  (tests / downstream feature extraction)

Image/video-style decode (resize, frame-sample) would follow the same
``mapInPandas`` shape; the decoders for those modalities are stubbed
(NotImplementedError) because the libraries are not in this container —
the Spark-side plumbing (schema, batching, partitioning) is identical.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..sources import audio


@F.pandas_udf(ArrayType(FloatType()))
def decode_pcm(b: pd.Series, codec: pd.Series) -> pd.Series:
    """bytes(codec) → float32 PCM array, one Arrow batch at a time."""
    out = []
    for blob, c in zip(b, codec):
        out.append(audio.decode(blob, c))
    return pd.Series(out)


_STATS_SCHEMA = StructType(
    [
        StructField("rms", DoubleType()),
        StructField("peak", DoubleType()),
        StructField("n_samples", IntegerType()),
        StructField("clipping_ratio", DoubleType()),
    ]
)


_RAIL_CACHE: dict = {}


def _codec_rail(codec: str) -> float:
    """The decoded value a full-scale sample lands on for ``codec`` —
    companded codecs rail WELL below 1.0 (measured: ulaw 0.9803, alaw
    0.9844, pcm16 0.99997), so a fixed 0.999 clipping threshold can
    never fire for ulaw/alaw content.  Derived from the codec itself
    (decode(encode(1.0))) rather than a hand-typed table, so a new
    codec registration stays correct automatically."""
    if codec == "wav":
        raise ValueError(
            "'wav' is a container label, not a sample format — the rail "
            "belongs to the RIFF header's inner codec; decode via "
            "_decode_and_rail"
        )
    r = _RAIL_CACHE.get(codec)
    if r is None:
        r = float(
            audio.decode(
                audio.encode(np.array([1.0], dtype=np.float32), codec), codec
            )[0]
        )
        _RAIL_CACHE[codec] = r
    return r


def _decode_and_rail(blob, c: str) -> tuple:
    """Decode one blob and the clipping rail that applies to IT.  For
    raw codecs the rail is the codec's own (decode(encode(1.0))); for
    the 'wav' container label the sample format lives in the RIFF
    header, so the rail comes from the INNER codec — a ulaw payload
    inside a wav rails at 0.9803 exactly as a bare ulaw clip does."""
    if c == "wav":
        from jepl_spark.sources.containers import wav_decode

        x, _sr, inner = wav_decode(bytes(blob))
        return x.astype(np.float64), _codec_rail(inner)
    return audio.decode(blob, c).astype(np.float64), _codec_rail(c)


@F.pandas_udf(_STATS_SCHEMA)
def pcm_stats(b: pd.Series, codec: pd.Series) -> pd.DataFrame:
    """Decode + reduce to scalar features inside the Python worker —
    PCM never crosses back to the JVM (bandwidth-optimal path).
    clipping_ratio counts samples at >= 99.9% of the CODEC's rail
    value (_codec_rail), not a fixed 0.999 of full scale."""
    rms, peak, n, clip = [], [], [], []
    for blob, c in zip(b, codec):
        x, rail = _decode_and_rail(blob, c)
        if x.size == 0:
            rms.append(0.0); peak.append(0.0); n.append(0); clip.append(0.0)
            continue
        rms.append(float(np.sqrt(np.mean(x * x))))
        peak.append(float(np.max(np.abs(x))))
        n.append(int(x.size))
        clip.append(float(np.mean(np.abs(x) >= 0.999 * rail)))
    return pd.DataFrame(
        {"rms": rms, "peak": peak, "n_samples": n, "clipping_ratio": clip}
    )


def with_decoded_pcm(df: DataFrame, out_col: str = "pcm") -> DataFrame:
    return df.withColumn(out_col, decode_pcm(F.col("bytes"), F.col("codec")))


def with_pcm_stats(df: DataFrame, out_col: str = "stats") -> DataFrame:
    return df.withColumn(out_col, pcm_stats(F.col("bytes"), F.col("codec")))


def resample_to(x: "np.ndarray", sr: int, target_sr: int) -> "np.ndarray":
    """THE linear-resample core (one formula, shared by resample_pcm,
    canonical-rate fingerprinting, and test plants — output length is
    exactly ``max(1, round(n · target/sr))``, the SQL-replayable
    contract of the audio_resample gate)."""
    if int(sr) == int(target_sr) or x.size == 0:
        return x
    n_out = max(1, int(round(x.size * target_sr / int(sr))))
    t_out = np.linspace(0.0, x.size - 1, n_out)
    return np.interp(t_out, np.arange(x.size), x).astype(np.float32)


def resample_pcm(df: DataFrame, target_sr: int) -> DataFrame:
    """Decode + linear-resample to a common rate via mapInPandas —
    the shape a feature-extraction stage would use (PCM stays columnar
    through Arrow; per-batch numpy, no per-row Python)."""
    out_schema = StructType(
        list(df.schema.fields)
        + [
            StructField("pcm_rs", ArrayType(FloatType())),
            StructField("sr_rs", IntegerType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pcms = [
                resample_to(audio.decode(blob, c), int(sr), target_sr)
                for blob, c, sr in zip(pdf["bytes"], pdf["codec"], pdf["sr_hz"])
            ]
            pdf = pdf.copy()
            pdf["pcm_rs"] = pcms
            pdf["sr_rs"] = target_sr
            yield pdf

    return df.mapInPandas(gen, schema=out_schema)


_N_MEL = 16


def _band_edges(n_fft: int) -> "np.ndarray":
    """Log-spaced band edges over the rfft bins.  np.unique collapses
    duplicate low-frequency edges, so the ACTUAL band count may be below
    _N_MEL + 1 edges — n_bands(n) is the single source of truth."""
    return np.unique(
        np.round(np.logspace(0, np.log10(n_fft // 2), _N_MEL + 1)).astype(int)
    )


_EDGES = {n: _band_edges(n) for n in (256, 512, 1024)}
_WINDOWS = {n: np.hanning(n).astype(np.float32) for n in (256, 512, 1024)}


def n_bands(n_fft: int) -> int:
    return len(_EDGES[n_fft]) - 1


FEAT_DIM = 2 * n_bands(512)  # audio_features output


def _stats_of(x: "np.ndarray") -> tuple:
    if x.size == 0:
        return 0.0, 0.0, 0, 0.0
    xd = x.astype(np.float64)
    return (
        float(np.sqrt(np.mean(xd * xd))),
        float(np.max(np.abs(xd))),
        int(x.size),
        float(np.mean(np.abs(xd) > 0.999)),
    )


def _log_bands(x: "np.ndarray", n: int, hop: int) -> "np.ndarray":
    """Framed log-power band energies: (frames × n_bands(n)) matrix."""
    if x.size < n:
        x = np.pad(x, (0, n - x.size))
    n_frames = 1 + (x.size - n) // hop
    idx = np.arange(n)[None, :] + hop * np.arange(n_frames)[:, None]
    frames = x[idx] * _WINDOWS[n]
    power = np.abs(np.fft.rfft(frames, axis=1)) ** 2
    bands = np.add.reduceat(power, _EDGES[n][:-1], axis=1)
    return np.log1p(bands)


def _band_feat_vector(x: "np.ndarray", n: int = 512, hop: int = 256) -> "np.ndarray":
    if x.size == 0:
        return np.zeros(2 * n_bands(n), dtype=np.float32)
    logb = _log_bands(x, n, hop)
    return np.concatenate([logb.mean(axis=0), logb.std(axis=0)]).astype(np.float32)


_FULL_SCHEMA = StructType(
    [
        StructField("rms", DoubleType()),
        StructField("peak", DoubleType()),
        StructField("n_samples", IntegerType()),
        StructField("clipping_ratio", DoubleType()),
        StructField("feat", ArrayType(FloatType())),
    ]
)


@F.pandas_udf(_FULL_SCHEMA)
def audio_features(b: pd.Series, codec: pd.Series) -> pd.DataFrame:
    """One-pass decode → stats + FEAT_DIM spectral band features.  A
    single UDF so the audio bytes cross the JVM↔Arrow boundary exactly
    once; downstream operators (joins, windows) then carry only the
    small feature struct.  At scale: ALWAYS reduce heavy payloads before
    stateful operators — stream-stream join state otherwise checkpoints
    the raw blobs."""
    rms, peak, n, clip, feats = [], [], [], [], []
    for blob, c in zip(b, codec):
        x = audio.decode(blob, c)
        r, p, ns, cr = _stats_of(x)
        rms.append(r); peak.append(p); n.append(ns); clip.append(cr)
        feats.append(_band_feat_vector(x))
    return pd.DataFrame(
        {"rms": rms, "peak": peak, "n_samples": n, "clipping_ratio": clip,
         "feat": feats}
    )


def with_audio_features(df: DataFrame, out_col: str = "af") -> DataFrame:
    return df.withColumn(out_col, audio_features(F.col("bytes"), F.col("codec")))


_HEAVY_CONFIGS = ((256, 128), (512, 256), (1024, 512))
_N_MFCC = 13
# DCT-II basis sized to the ACTUAL 512-window band count
_DCT = np.cos(
    np.pi
    * np.arange(_N_MFCC)[:, None]
    * (2 * np.arange(len(_band_edges(512)) - 1)[None, :] + 1)
    / (2 * (len(_band_edges(512)) - 1))
).astype(np.float64)

HEAVY_FEAT_DIM = sum(2 * n_bands(n) for n, _ in _HEAVY_CONFIGS) + 2 * _N_MFCC


@F.pandas_udf(ArrayType(FloatType()))
def audio_features_heavy(b: pd.Series, codec: pd.Series) -> pd.Series:
    """Production-representative feature extraction: multi-resolution
    spectrograms (256/512/1024 windows) plus MFCC-like DCT coefficients
    over the 512-window bands — the class of per-clip work (VAD, MFCC,
    embedding prep) a real training pipeline runs.  Used by the
    compute-dominated scaling benchmark.  Output dim = HEAVY_FEAT_DIM."""
    feats_out = []
    for blob, c in zip(b, codec):
        x = audio.decode(blob, c)
        if x.size == 0:
            feats_out.append(np.zeros(HEAVY_FEAT_DIM, dtype=np.float32))
            continue
        parts = []
        mel512 = None
        for n, hop in _HEAVY_CONFIGS:
            logb = _log_bands(x, n, hop)
            parts.append(logb.mean(axis=0))
            parts.append(logb.std(axis=0))
            if n == 512:
                mel512 = logb
        mfcc = _DCT @ mel512.T.astype(np.float64)  # _N_MFCC × frames
        parts.append(mfcc.mean(axis=1))
        parts.append(mfcc.std(axis=1))
        feats_out.append(
            np.concatenate([p.astype(np.float32) for p in parts])
        )
    return pd.Series(feats_out)


def resample_clips(df: DataFrame, target_sr: int) -> DataFrame:
    """Clip-LEVEL resampling to a canonical rate: decode → linear
    resample (``resample_to``, the one shared core) → re-encode with
    the row's own codec, updating ``sr_hz`` (and ``dur_ms`` when
    present, recomputed from the output length) and adding
    ``n_samples``.  Rows already at ``target_sr`` pass their bytes
    BIT-IDENTICAL — no decode/re-encode drift on the no-op path (the
    speed_perturb identity rule).  WAV rows validate the header rate
    against the column, resample the inner payload, and rebuild the
    container at the target rate with the inner codec preserved.

    This is the canonicalization stage of a mixed-rate corpus prep
    pipeline: downstream fingerprints compare across original rates
    and ``logmel_clips`` needs no pinned fmax once rates are uniform.
    (``resample_pcm`` is the lighter sibling that ADDS a float PCM
    column for feature stages; this one rewrites the clip row.)

    Scale shape: one stateless Arrow pass, no shuffle, one decode +
    one interpolation + one encode per non-canonical clip."""
    for c in ("clip_id", "bytes", "codec", "sr_hz"):
        if c not in df.columns:
            raise ValueError(f"resample_clips needs column {c!r}")
    if "n_samples" in df.columns:
        raise ValueError("resample_clips would overwrite column 'n_samples'")
    if target_sr <= 0:
        raise ValueError(f"target_sr must be positive, got {target_sr}")
    tgt = int(target_sr)
    has_dur = "dur_ms" in df.columns

    out_schema = StructType(
        list(df.schema.fields) + [StructField("n_samples", LongType())]
    )

    def gen(batches):
        from jepl_spark.sources.containers import wav_wrap

        for pdf in batches:
            out = pdf.copy()
            n_col = []
            for ridx, (cid, blob, c, sr) in enumerate(zip(
                pdf["clip_id"], pdf["bytes"], pdf["codec"], pdf["sr_hz"]
            )):
                sr = int(sr)
                raw = bytes(blob)
                if sr == tgt:
                    # bit-identical no-op path (wav still validates
                    # the header rate against the column)
                    if c == "wav":
                        inner, off, plen = _wav_span_checked(raw, sr, cid)
                        n_col.append(plen // len(_zero_code(inner)))
                    else:
                        n_col.append(len(raw) // len(_zero_code(c)))
                    continue
                if c == "wav":
                    inner, off, plen = _wav_span_checked(raw, sr, cid)
                    x = audio.decode(raw[off:off + plen], inner)
                    y = resample_to(x, sr, tgt)
                    out.iat[ridx, out.columns.get_loc("bytes")] = wav_wrap(
                        bytes(audio.encode(y, inner)), tgt, inner
                    )
                else:
                    x = audio.decode(raw, c)
                    y = resample_to(x, sr, tgt)
                    out.iat[ridx, out.columns.get_loc("bytes")] = bytes(
                        audio.encode(y, c)
                    )
                out.iat[ridx, out.columns.get_loc("sr_hz")] = tgt
                n_col.append(int(y.size))
            out["n_samples"] = n_col
            if has_dur:
                # recompute ONLY for resampled rows: the no-op path
                # promises bit-identical bytes AND untouched metadata
                # (floor(n*1000/sr) could silently decrement dur_ms
                # on rows the operator never changed)
                out["dur_ms"] = [
                    d if int(s0) == tgt else int(n * 1000 // tgt)
                    for d, s0, n in
                    zip(pdf["dur_ms"], pdf["sr_hz"], n_col)
                ]
            yield out

    return df.mapInPandas(gen, schema=out_schema)


# --- per-frame log-mel filterbank features (ASR training input) ----------
#
# Distinct from the pooled _log_bands features above: those group rfft
# BINS on a log-spaced bin grid (sr-agnostic, so the same band index
# covers different frequencies at 8 kHz vs 44.1 kHz) and pool to one
# vector per clip.  logmel_clips is the training-input shape — an
# sr-AWARE HTK mel filterbank (filters placed in Hz, so features are
# frequency-comparable across sample rates when fmax is pinned),
# ms-based framing shared with the VAD/trim lanes, one row per frame.

_MEL_FB_CACHE: dict = {}


def _hz_to_mel(f):
    return 2595.0 * np.log10(1.0 + np.asarray(f, dtype=np.float64) / 700.0)


def _mel_to_hz(m):
    return 700.0 * (10.0 ** (np.asarray(m, dtype=np.float64) / 2595.0) - 1.0)


def mel_filterbank(
    sr: int, n_fft: int, n_mels: int, fmin: float, fmax: float
) -> "np.ndarray":
    """(n_mels × rfft-bins) triangular HTK-mel filterbank, cached per
    (sr, n_fft, n_mels, fmin, fmax) — one table per distinct sample
    rate in the corpus, built once per python worker."""
    key = (sr, n_fft, n_mels, fmin, fmax)
    fb = _MEL_FB_CACHE.get(key)
    if fb is None:
        pts = _mel_to_hz(
            np.linspace(_hz_to_mel(fmin), _hz_to_mel(fmax), n_mels + 2)
        )
        freqs = np.fft.rfftfreq(n_fft, 1.0 / sr)
        lo, ce, hi = pts[:-2, None], pts[1:-1, None], pts[2:, None]
        up = (freqs[None, :] - lo) / np.maximum(ce - lo, 1e-12)
        down = (hi - freqs[None, :]) / np.maximum(hi - ce, 1e-12)
        fb = np.maximum(0.0, np.minimum(up, down))
        _MEL_FB_CACHE[key] = fb
    return fb


def _next_pow2(n: int) -> int:
    return 1 << (int(n) - 1).bit_length()


_LOGMEL_EPS = 1e-10


def logmel_frames(
    x: "np.ndarray", sr: int, n_mels: int, win_ms: int, hop_ms: int,
    fmin: float, fmax: float,
) -> "np.ndarray":
    """(n_frames × n_mels) float64 log-mel matrix; 0 rows when the clip
    is shorter than one window (no padding — short clips are visible,
    the contract chunk_clips uses)."""
    win_n = sr * win_ms // 1000
    hop_n = sr * hop_ms // 1000
    if x.size < win_n:
        return np.zeros((0, n_mels), dtype=np.float64)
    n_frames = 1 + (x.size - win_n) // hop_n
    n_fft = _next_pow2(win_n)
    idx = np.arange(win_n)[None, :] + hop_n * np.arange(n_frames)[:, None]
    frames = x[idx].astype(np.float64) * np.hanning(win_n)
    power = np.abs(np.fft.rfft(frames, n=n_fft, axis=1)) ** 2
    fb = mel_filterbank(sr, n_fft, n_mels, fmin, fmax)
    return np.log(power @ fb.T + _LOGMEL_EPS)


def logmel_clips(
    df: DataFrame,
    n_mels: int = 40,
    win_ms: int = 25,
    hop_ms: int = 10,
    fmin: float = 0.0,
    fmax: float | None = None,
    cmvn: bool = False,
) -> DataFrame:
    """Per-frame log-mel filterbank features — the standard ASR
    training input (e.g. Kaldi/ESPnet fbank: 25 ms Hann window, 10 ms
    hop, HTK mel scale 2595·log10(1+f/700)).  One row per frame:
    (clip_id, sr_hz, frame_idx, feat array<float> of n_mels).

    ``fmax=None`` uses each row's Nyquist (sr/2) — fine for a
    single-rate corpus; for MIXED sample rates pin ``fmax`` (or
    resample to a canonical rate first, ``resample_pcm``) so mel bin
    k means the same frequency band on every row.  An explicit
    ``fmax`` above a row's Nyquist raises (the filters would be
    silently empty).

    ``cmvn=True`` applies per-utterance mean/variance normalization
    (mean 0 / unit variance over the clip's frames, var_pop + 1e-8 —
    the exact ``standardize_vectors(group_by=clip_id)`` semantics)
    INSIDE the same Arrow pass: zero shuffle, vs. the generic
    operator's one (group, dim) exchange.  tests pin the two paths
    equal.

    Scale shape: ONE decode+FFT pass per clip (mapInPandas, Arrow
    batches), filterbank tables cached per (sr, n_fft) per worker, no
    shuffle; the frames-per-clip fan-out (~100 rows/s of audio) is the
    representation, not overhead — downstream packing/CMVN operate on
    these rows.  Clips shorter than one window emit zero rows."""
    for c in ("clip_id", "bytes", "codec", "sr_hz"):
        if c not in df.columns:
            raise ValueError(f"logmel_clips needs column {c!r}")
    if not (0 < win_ms and 0 < hop_ms <= win_ms):
        raise ValueError("need 0 < hop_ms <= win_ms")
    if n_mels < 2:
        raise ValueError("n_mels must be >= 2")

    id_type = df.schema["clip_id"].dataType.simpleString()
    out_schema = (
        f"clip_id {id_type}, sr_hz int, frame_idx int, "
        "feat array<float>"
    )
    fmax_arg = None if fmax is None else float(fmax)
    fmin_arg, nm, wm, hm = float(fmin), int(n_mels), int(win_ms), int(hop_ms)
    do_cmvn = bool(cmvn)

    # flush the frame fan-out every ~this many output rows: an input
    # Arrow batch multiplies ~100x into frame rows, so buffering a
    # whole input batch before yielding would hold the entire blow-up
    # in Python lists (hundreds of MB at default batch sizes)
    flush_rows = 50_000

    def gen(batches):
        ids, srs_out, idxs, feats = [], [], [], []

        def flush():
            out = pd.DataFrame(
                {"clip_id": ids, "sr_hz": srs_out, "frame_idx": idxs,
                 "feat": feats}
            )
            ids.clear(); srs_out.clear(); idxs.clear(); feats.clear()
            return out

        for pdf in batches:
            for cid, blob, c, sr in zip(
                pdf["clip_id"], pdf["bytes"], pdf["codec"], pdf["sr_hz"]
            ):
                sr = int(sr)
                fx = sr / 2.0 if fmax_arg is None else fmax_arg
                if fx > sr / 2.0:
                    raise ValueError(
                        f"fmax {fx} above Nyquist {sr / 2.0} for {cid!r}"
                    )
                m = logmel_frames(
                    audio.decode(blob, c), sr, nm, wm, hm, fmin_arg, fx
                )
                if m.shape[0] == 0:
                    continue
                if do_cmvn:
                    # normalize the float32 values that WOULD be
                    # emitted, so the result is numerically the same
                    # frame set standardize_vectors(group_by=clip_id)
                    # produces downstream
                    m = m.astype(np.float32).astype(np.float64)
                    mu = m.mean(axis=0)
                    sd = np.sqrt(m.var(axis=0) + 1e-8)
                    m = (m - mu) / sd
                m32 = m.astype(np.float32)
                ids.extend([cid] * m32.shape[0])
                srs_out.extend([sr] * m32.shape[0])
                idxs.extend(range(m32.shape[0]))
                feats.extend(list(m32))
                if len(ids) >= flush_rows:
                    yield flush()
            if ids:
                yield flush()

    return df.mapInPandas(gen, schema=out_schema)


# The image / video-frame lane lives in functions/multimodal.py:
# deterministic RAWv1 fake codec, decode + stats, resize, frame
# sampling — real plumbing, tested, with real codec formats raising
# NotImplementedError at the same boundary a codec library would fill.


def chunk_clips(
    df: DataFrame,
    chunk_ms: int,
    hop_ms: int | None = None,
    min_tail_ms: int = 0,
) -> DataFrame:
    """Segment clips into fixed-duration training windows (the audio
    analog of text chunking): decode once per clip, slice the PCM at
    ``hop_ms`` strides into ``chunk_ms`` windows, re-encode each slice
    as pcm16.  A shorter final tail is kept iff it is at least
    ``min_tail_ms`` (0 drops tails entirely).

    Boundary math is pure integer arithmetic on (sr_hz, dur_ms) —
    n = sr·dur//1000, chunk_n = sr·chunk_ms//1000, hop_n likewise,
    full chunks = (n-chunk_n)//hop_n + 1 — so chunk counts, indexes,
    and start samples are exactly replayable by the SQL oracle; PCM
    content is pinned separately by reconstruction/SNR tests.

    Shape: one ``mapInPandas`` pass, numpy decode + zero-copy slices
    per Arrow batch (no per-row Python plan nodes), no shuffle — chunk
    rows inherit the input partitioning, output size ≈ input·overlap
    factor.  At 10^12 clips this is the map stage in front of the
    feature/training sink; cap Arrow batch sizes as in bench.py for
    wide-binary rows."""
    if chunk_ms <= 0:
        raise ValueError(f"chunk_ms must be positive, got {chunk_ms}")
    hop = chunk_ms if hop_ms is None else hop_ms
    if hop <= 0:
        raise ValueError(f"hop_ms must be positive, got {hop}")
    if min_tail_ms < 0:
        raise ValueError(f"min_tail_ms must be >= 0, got {min_tail_ms}")

    fields = [
        StructField("clip_id", StringType()),
        StructField("chunk_idx", IntegerType()),
        StructField("start_sample", LongType()),
        StructField("n_samples", IntegerType()),
        # the clip's full decoded length — free at decode time, and it
        # lets downstream per-chunk math (e.g. proportional transcript
        # alignment) run with NO join back to the clip table
        StructField("n_total", LongType()),
        StructField("sr_hz", IntegerType()),
        StructField("codec", StringType()),
        StructField("bytes", BinaryType()),
        StructField("transcript", StringType()),
    ]
    has_transcript = "transcript" in df.columns
    # event_time rides along when the input carries one, so chunk rows
    # stay joinable/watermarkable in a streaming pipeline
    has_ts = "event_time" in df.columns
    if has_ts:
        fields.append(df.schema["event_time"])
    out_schema = StructType(fields)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            transcripts = (
                pdf["transcript"] if has_transcript else [None] * len(pdf)
            )
            times = pdf["event_time"] if has_ts else [None] * len(pdf)
            for cid, blob, c, sr, tr, et in zip(
                pdf["clip_id"], pdf["bytes"], pdf["codec"],
                pdf["sr_hz"], transcripts, times,
            ):
                x = audio.decode(blob, c)
                sr = int(sr)
                n = x.size
                chunk_n = sr * chunk_ms // 1000
                hop_n = sr * hop // 1000
                tail_n = sr * min_tail_ms // 1000
                fulls = (n - chunk_n) // hop_n + 1 if n >= chunk_n else 0
                for idx in range(fulls):
                    s = idx * hop_n
                    row = (cid, idx, s, chunk_n, n, sr, "pcm16",
                           audio.pcm16_encode(x[s : s + chunk_n]), tr)
                    rows.append(row + (et,) if has_ts else row)
                ts = fulls * hop_n
                if min_tail_ms > 0 and ts < n and (n - ts) >= tail_n:
                    row = (cid, fulls, ts, n - ts, n, sr, "pcm16",
                           audio.pcm16_encode(x[ts:]), tr)
                    rows.append(row + (et,) if has_ts else row)
            yield pd.DataFrame(
                rows, columns=[f.name for f in out_schema.fields]
            )

    return df.mapInPandas(gen, schema=out_schema)


def _silent_frames(x: "np.ndarray", frame_n: int,
                   energy_thr: float) -> "np.ndarray | None":
    """Per-frame silence mask — the ONE dtype and arithmetic shared by
    detect_speech_segments and speech_rate, so the two can never
    disagree on a frame whose energy sits at the threshold (float32
    throughout, as decode emits).  None when no full frame fits."""
    nf = x.size // frame_n if frame_n > 0 else 0
    if nf == 0:
        return None
    frames = x[: nf * frame_n].reshape(nf, frame_n)
    return (frames * frames).mean(axis=1) < energy_thr


def _qualifying_runs(silent: "np.ndarray",
                     min_silence_frames: int) -> list:
    """(start, end) frame spans of silence runs long enough to split —
    vectorized edge extraction, shared with speech_rate."""
    edges = np.flatnonzero(
        np.diff(np.concatenate(([0], silent.view(np.int8), [0])))
    )
    return [
        (int(s0), int(s1))
        for s0, s1 in zip(edges[0::2], edges[1::2])
        if s1 - s0 >= min_silence_frames
    ]


def detect_speech_segments(
    df: DataFrame,
    frame_ms: int = 20,
    energy_thr: float = 1e-6,
    min_silence_frames: int = 3,
) -> DataFrame:
    """Energy-based voice-activity detection (the silence-trim stage of
    an audio training pipeline): decode each clip once, frame the PCM
    into ``frame_ms`` windows, mark frames with mean-square energy
    below ``energy_thr`` silent, and split the clip at every silence
    run of ≥ ``min_silence_frames`` frames.  Emits one row per SPEECH
    segment: (clip_id, seg_idx, start_frame, n_frames, start_ms,
    dur_ms).

    Boundary semantics (all integer arithmetic, replayable by the SQL
    oracle when silence positions are known): frame_n = sr·frame_ms
    //1000 samples; the trailing partial frame is ignored; a silence
    run shorter than ``min_silence_frames`` does NOT split (breaths /
    plosive gaps stay inside their segment); leading/trailing qualifying
    silence produces no empty segments.

    Scale shape: one ``mapInPandas`` pass — decode + a vectorized
    reshape/mean-square per clip, numpy run-length extraction, no
    shuffle, no per-row Python plan nodes; output carries no audio
    bytes (re-slice with chunk_clips-style windows downstream if the
    segment PCM is needed)."""
    if frame_ms <= 0:
        raise ValueError(f"frame_ms must be positive, got {frame_ms}")
    if min_silence_frames < 1:
        raise ValueError(
            f"min_silence_frames must be >= 1, got {min_silence_frames}"
        )
    out_schema = StructType(
        [
            StructField("clip_id", StringType()),
            StructField("seg_idx", IntegerType()),
            StructField("start_frame", IntegerType()),
            StructField("n_frames", IntegerType()),
            StructField("start_ms", IntegerType()),
            StructField("dur_ms", IntegerType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for cid, blob, c, sr in zip(
                pdf["clip_id"], pdf["bytes"], pdf["codec"], pdf["sr_hz"]
            ):
                x = audio.decode(blob, c)
                frame_n = int(sr) * frame_ms // 1000
                silent = _silent_frames(x, frame_n, energy_thr)
                if silent is None:
                    continue
                nf = silent.size
                # qualifying silence runs split the clip — vectorized
                # run extraction (edges of the silent mask), no
                # per-frame Python even on hour-long audio
                splits = _qualifying_runs(silent, min_silence_frames)
                seg_start, seg_idx = 0, 0
                for (s0, s1) in splits + [(nf, nf)]:
                    if s0 > seg_start:
                        rows.append((
                            cid, seg_idx, seg_start, s0 - seg_start,
                            seg_start * frame_ms,
                            (s0 - seg_start) * frame_ms,
                        ))
                        seg_idx += 1
                    seg_start = s1
            yield pd.DataFrame(
                rows, columns=[f.name for f in out_schema.fields]
            )

    return df.mapInPandas(gen, schema=out_schema)


# -- audio fingerprinting ------------------------------------------------------
#
# Haitsma & Kalker, "A Highly Robust Audio Fingerprint System" (ISMIR
# 2002, public): frame the clip, split each frame's power spectrum into
# log-spaced bands, one bit per (frame, band) = the sign of the band
# energy's time derivative.  Sign bits survive uniform gain change
# EXACTLY (monotone transform) and lossy-codec quantization noise with
# a small, measured bit-error rate (only near-zero derivatives flip).
# We use 16 duration-relative frames x 16 log bands = 240 bits, carried
# as array<bigint> of four 60-bit words: at 240 bits the law of large
# numbers separates the distributions even on this corpus's worst-case
# tonal content — measured on 2000 synth clips: lossless re-gain copies
# distance <= 1, G.711 transcode copies mean ~8.5 (p90 17, tail to ~42
# where a clip is almost all noise-bands), distinct same-(sr, duration)
# clips >= 25, expected ~120.  The reference engine has no audio
# surface (BASELINE.md: it publishes a grammar only); this lane is part
# of the mandated audio axis.

_FP_FRAMES = 16  # equal time frames per clip (duration-relative)
_FP_BANDS = 16   # log-spaced spectral bands per frame
FP_BITS = (_FP_FRAMES - 1) * _FP_BANDS   # 240
FP_WORDS = 4                             # 60 bits per BIGINT word
_FP_WORD_BITS = FP_BITS // FP_WORDS


def _fp_band_energies(x: "np.ndarray") -> "np.ndarray":
    """(_FP_FRAMES x _FP_BANDS) band-energy matrix over EQUAL time
    frames spanning the whole clip — duration-relative framing, so two
    copies of the same recording frame identically regardless of
    length, and the fingerprint never windows across a copy-invariant
    boundary.  Bands are log-spaced over the per-frame rfft bins from
    ~bin/64 to Nyquist (DC and ultra-low bins excluded as gain/offset
    noise); np.unique may collapse low edges for very short frames, in
    which case the matrix zero-pads to _FP_BANDS."""
    n = x.size // _FP_FRAMES
    frames = x[: n * _FP_FRAMES].astype(np.float64).reshape(_FP_FRAMES, n)
    power = np.abs(np.fft.rfft(frames, axis=1)) ** 2
    nb = power.shape[1]
    edges = np.unique(
        np.round(
            np.logspace(
                np.log10(max(1, nb // 64)), np.log10(max(2, nb // 2)),
                _FP_BANDS + 1,
            )
        ).astype(int)
    )
    e = np.add.reduceat(power, edges[:-1], axis=1)[:, :_FP_BANDS]
    if e.shape[1] < _FP_BANDS:
        e = np.pad(e, ((0, 0), (0, _FP_BANDS - e.shape[1])))
    return e


def fingerprint_of(x: "np.ndarray") -> list:
    """240-bit fingerprint of one PCM array as FP_WORDS 60-bit ints
    (pure function — shared by the UDF, tests, and golden builders).
    Clips shorter than 2·_FP_FRAMES samples fingerprint to all-zero:
    below that each frame has a single rfft bin, no band structure
    exists (and reduceat's edge list would walk past the one bin)."""
    if x.size < 2 * _FP_FRAMES:
        return [0] * FP_WORDS
    e = _fp_band_energies(x)
    bits = (np.diff(e, axis=0) > 0).ravel()  # (frames-1) x bands
    words = []
    for w in range(FP_WORDS):
        v = 0
        for bit in bits[w * _FP_WORD_BITS:(w + 1) * _FP_WORD_BITS]:
            v = (v << 1) | int(bit)
        words.append(v)
    return words


@F.pandas_udf(ArrayType(LongType()))
def audio_fingerprint(b: pd.Series, codec: pd.Series) -> pd.Series:
    """Decode + fingerprint inside the Python worker: only 32 bytes of
    signature cross back to the JVM, so the near-dup candidate join
    downstream never shuffles audio bytes."""
    return pd.Series(
        [fingerprint_of(audio.decode(blob, c)) for blob, c in zip(b, codec)]
    )


def with_audio_fingerprint(
    df: DataFrame, out_col: str = "fp", canonical_sr: int | None = None
) -> DataFrame:
    """Add the 240-bit fingerprint column.  With ``canonical_sr``, PCM
    is first linear-resampled to that rate (``resample_to``) so clips
    of DIFFERENT sample rates fingerprint comparably: the band edges
    are bin-relative, so without a canonical rate the same recording at
    8 kHz and 16 kHz lands in different absolute-frequency bands and
    never matches.  The resample stays inside the Arrow worker — still
    32 bytes per clip back to the JVM."""
    if canonical_sr is None:
        return df.withColumn(
            out_col, audio_fingerprint(F.col("bytes"), F.col("codec"))
        )
    if canonical_sr < 1:
        raise ValueError(f"canonical_sr must be >= 1, got {canonical_sr}")

    def _fp_canon(
        b: pd.Series, codec: pd.Series, sr: pd.Series
    ) -> pd.Series:
        return pd.Series(
            [
                fingerprint_of(
                    resample_to(audio.decode(blob, c), int(s), canonical_sr)
                )
                for blob, c, s in zip(b, codec, sr)
            ]
        )

    udf = F.pandas_udf(ArrayType(LongType()))(_fp_canon)
    return df.withColumn(
        out_col, udf(F.col("bytes"), F.col("codec"), F.col("sr_hz"))
    )


_OFFSET_FP_SCHEMA = StructType(
    [
        StructField("head", ArrayType(LongType())),
        StructField("tail", ArrayType(LongType())),
    ]
)


def with_offset_fingerprints(
    df: DataFrame,
    out_col: str = "ofp",
    canonical_sr: int = 8000,
    window_s: float = 2.0,
) -> DataFrame:
    """OFFSET-TOLERANT fingerprint pair: the 240-bit fingerprint of the
    clip's FIRST ``window_s`` seconds (``head``) and of its LAST
    ``window_s`` seconds (``tail``), both at ``canonical_sr``.

    The anchoring is the whole trick: a LEAD-trimmed re-upload keeps
    its last ``window_s`` seconds bit-identical in time, so its tail
    fingerprint matches the original's; a TAIL-trimmed copy matches on
    head.  No landmark detection, no sliding search — two fixed
    absolute-time windows, 64 bytes per clip back to the JVM.  Limits
    (documented, inherent): a copy trimmed at BOTH ends matches
    neither window; clips shorter than ``window_s + trim`` degrade to
    whole-clip fingerprints (duration-relative framing resumes, offset
    tolerance lost).  Designed for clips comfortably longer than the
    window — compose after trim_silence for corpora with silence
    padding."""
    if canonical_sr < 1:
        raise ValueError(f"canonical_sr must be >= 1, got {canonical_sr}")
    if window_s <= 0:
        raise ValueError(f"window_s must be positive, got {window_s}")
    w = int(window_s * canonical_sr)

    def _fp(b: pd.Series, codec: pd.Series, sr: pd.Series) -> pd.DataFrame:
        heads, tails = [], []
        for blob, c, s in zip(b, codec, sr):
            y = resample_to(audio.decode(blob, c), int(s), canonical_sr)
            heads.append(fingerprint_of(y[:w]))
            tails.append(fingerprint_of(y[-w:] if y.size > w else y))
        return pd.DataFrame({"head": heads, "tail": tails})

    udf = F.pandas_udf(_OFFSET_FP_SCHEMA)(_fp)
    return df.withColumn(
        out_col, udf(F.col("bytes"), F.col("codec"), F.col("sr_hz"))
    )


def fp_hamming(a: Column, b: Column) -> Column:
    """JVM-side Hamming distance between two array<bigint> fingerprints
    (zip_with + bit_count + aggregate — whole-stage-codegen, no Python),
    so candidate filtering after the blocking join stays on the fast
    path."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0),
        lambda acc, v: acc + v,
    )


# -- audio quality / admission -------------------------------------------------

_QUALITY_SCHEMA = StructType(
    [
        StructField("rms", DoubleType()),
        StructField("peak", DoubleType()),
        StructField("n_samples", IntegerType()),
        StructField("clipping_ratio", DoubleType()),
        StructField("silence_ratio", DoubleType()),
        StructField("crest_db", DoubleType()),
    ]
)

# -40 dBFS: the conventional "digital silence" floor for admission
# checks — comfortably above the quantization noise of all three
# codecs here and comfortably below any synthesized content
_SILENCE_AMP = 10.0 ** (-40.0 / 20.0)


@F.pandas_udf(_QUALITY_SCHEMA)
def pcm_quality(b: pd.Series, codec: pd.Series) -> pd.DataFrame:
    """Decode + reduce to admission-quality scalars inside the worker
    (pcm_stats plus silence ratio and crest factor; PCM never crosses
    back to the JVM).  crest_db = 20*log10(peak/rms) — NULL for
    digital-zero or empty clips."""
    rms, peak, n, clip, sil, crest = [], [], [], [], [], []
    for blob, c in zip(b, codec):
        x, rail = _decode_and_rail(blob, c)
        if x.size == 0:
            rms.append(0.0); peak.append(0.0); n.append(0)
            clip.append(0.0); sil.append(1.0); crest.append(None)
            continue
        ax = np.abs(x)
        r = float(np.sqrt(np.mean(x * x)))
        p = float(np.max(ax))
        rms.append(r); peak.append(p); n.append(int(x.size))
        clip.append(float(np.mean(ax >= 0.999 * rail)))
        sil.append(float(np.mean(ax < _SILENCE_AMP)))
        crest.append(
            float(20.0 * np.log10(p / r)) if r > 0.0 else None
        )
    return pd.DataFrame(
        {"rms": rms, "peak": peak, "n_samples": n,
         "clipping_ratio": clip, "silence_ratio": sil, "crest_db": crest}
    )


def with_audio_quality(df: DataFrame, out_col: str = "aq") -> DataFrame:
    return df.withColumn(out_col, pcm_quality(F.col("bytes"), F.col("codec")))


def admit_clips(
    df: DataFrame,
    max_clipping_ratio: float = 0.05,
    max_silence_ratio: float = 0.9,
    quality_col: str = "aq",
) -> DataFrame:
    """Admission decision for an audio-ingest pipeline: adds
    ``reject_reason`` ('empty' | 'clipped' | 'silent', first failing
    check in that order) — NULL means admitted.  The quality struct
    stays on the row for reporting; callers filter
    ``reject_reason IS NULL`` to admit.  One Arrow decode pass, then
    pure JVM CASE — no second look at the bytes."""
    out = df if quality_col in df.columns else with_audio_quality(
        df, quality_col
    )
    q = F.col(quality_col)
    reason = (
        F.when(q["n_samples"] == 0, F.lit("empty"))
        .when(q["clipping_ratio"] > max_clipping_ratio, F.lit("clipped"))
        .when(q["silence_ratio"] > max_silence_ratio, F.lit("silent"))
    )
    return out.withColumn("reject_reason", reason)


def speech_rate(
    df: DataFrame,
    frame_ms: int = 20,
    energy_thr: float = 1e-6,
    min_silence_frames: int = 3,
    transcript_col: str = "transcript",
) -> DataFrame:
    """Transcript↔audio consistency features for paired clip +
    transcript rows (the north-rule input shape): adds

    - ``voiced_ms``  — total speech duration under the SAME framing /
      qualification semantics as :func:`detect_speech_segments`
      (voiced_ms == SUM of that function's segment ``dur_ms``), so the
      two operators agree by construction;
    - ``n_tokens``   — whitespace token count of the transcript
      (0 for blank/NULL);
    - ``tokens_per_voiced_s`` — the speech rate, NULL when nothing is
      voiced.

    A grossly out-of-band rate is the classic signature of a
    misaligned or mis-paired transcript — the dominant defect class in
    paired speech corpora — and is what :func:`admit_paired_clips`
    gates on.

    Scale shape: ONE stateless Arrow pass per clip computes voiced_ms
    (decode + vectorized framing, like the VAD — no per-frame Python);
    token counting and the rate are pure JVM expressions on the same
    row, so there is NO shuffle and NO join — the transcript already
    rides the input row.  Statelessness means the operator runs
    unchanged on a Structured Streaming source (batching-invariant,
    like detect_speech_segments)."""
    if frame_ms <= 0:
        raise ValueError(f"frame_ms must be positive, got {frame_ms}")
    if min_silence_frames < 1:
        raise ValueError(
            f"min_silence_frames must be >= 1, got {min_silence_frames}"
        )

    def _voiced(b: pd.Series, codec: pd.Series, sr: pd.Series) -> pd.Series:
        out = []
        for blob, c, s in zip(b, codec, sr):
            x = audio.decode(blob, c)
            frame_n = int(s) * frame_ms // 1000
            silent = _silent_frames(x, frame_n, energy_thr)
            if silent is None:
                out.append(0)
                continue
            gap = sum(
                s1 - s0
                for s0, s1 in _qualifying_runs(silent, min_silence_frames)
            )
            out.append((silent.size - gap) * frame_ms)
        return pd.Series(out)

    from jepl_spark.operators.text import token_count

    voiced_udf = F.pandas_udf(LongType())(_voiced)
    return (
        df.withColumn(
            "voiced_ms",
            voiced_udf(F.col("bytes"), F.col("codec"), F.col("sr_hz")),
        )
        .withColumn(
            "n_tokens",
            # the ONE tokenizer (operators/text.py) — n_tokens here and
            # align_transcript_to_chunks' spans must never drift apart
            token_count(
                F.coalesce(F.col(transcript_col), F.lit(""))
            ).cast("long"),
        )
        .withColumn(
            "tokens_per_voiced_s",
            F.when(
                F.col("voiced_ms") > 0,
                F.col("n_tokens") / (F.col("voiced_ms") / F.lit(1000.0)),
            ),
        )
    )


def admit_paired_clips(
    df: DataFrame,
    min_tps: float = 1.0,
    max_tps: float = 8.0,
    **rate_kwargs,
) -> DataFrame:
    """Admission decision for (clip, transcript) PAIRS: adds
    ``reject_reason`` — first failing check of

    ``empty_pair`` (no speech AND no transcript) > ``empty_transcript``
    (speech but nothing transcribed) > ``no_speech`` (transcript but
    silent audio) > ``too_fast`` > ``too_slow`` (rate outside
    [min_tps, max_tps] tokens per voiced second) — NULL = admitted.

    Runs :func:`speech_rate` first unless its columns are already
    present; the decision itself is pure JVM CASE, so the whole lane
    stays one Arrow decode pass + codegen.  Passing ``rate_kwargs``
    alongside an input that ALREADY carries ``tokens_per_voiced_s`` is
    an error — the kwargs would be silently ignored (the rate was
    computed elsewhere, possibly with different parameters)."""
    if "tokens_per_voiced_s" in df.columns:
        if rate_kwargs:
            raise ValueError(
                "admit_paired_clips: input already carries "
                "tokens_per_voiced_s, so rate_kwargs "
                f"{sorted(rate_kwargs)} would have no effect — drop the "
                "kwargs or the precomputed rate columns"
            )
        out = df
    else:
        out = speech_rate(df, **rate_kwargs)
    rate = F.col("tokens_per_voiced_s")
    reason = (
        F.when(
            (F.col("voiced_ms") == 0) & (F.col("n_tokens") == 0),
            F.lit("empty_pair"),
        )
        .when(F.col("n_tokens") == 0, F.lit("empty_transcript"))
        .when(F.col("voiced_ms") == 0, F.lit("no_speech"))
        .when(rate > max_tps, F.lit("too_fast"))
        .when(rate < min_tps, F.lit("too_slow"))
    )
    return out.withColumn("reject_reason", reason)


def time_mask_clips(
    df: DataFrame,
    n_masks: int = 2,
    max_mask_ms: int = 100,
    seed: str = "mask",
) -> DataFrame:
    """SpecAugment-style time masking (Park et al. 2019's time-mask
    half, applied in the waveform domain): zero ``n_masks`` spans of
    at most ``max_mask_ms`` per clip — the standard robustness
    augmentation for speech training.

    Masks are DETERMINISTIC, derived from md5 of (seed, clip_id,
    mask_idx) exactly like the sampling/packing operators, so re-runs
    and different cluster sizes mask identically and an SQL oracle
    can replay the mask plan:

      ``len_ms   = 1 + h(seed:id:j:L) mod max_mask_ms``
      ``start_ms = h(seed:id:j:S) mod max(1, dur_eff - len_ms + 1)``

    with ``dur_eff`` the clip duration floored to ms.  The row keeps
    its schema and gains a ``masks`` array of (mask_idx, start_ms,
    len_ms) structs — the requested spans; a span is clipped to the
    clip's end in sample space if the integer math runs past it (only
    possible on sub-``max_mask_ms`` clips).  Masks may overlap, as in
    the paper.

    Masking is BYTE SURGERY in the encoded domain: every codec here
    (pcm16, G.711, and those inside a WAV container) is fixed
    bytes-per-sample, so the masked span's samples are overwritten
    with the codec's encoded-zero code and every other byte —
    including the container header — is BIT-IDENTICAL to the input.
    No decode, no transcode loss, and the pass is pure memory ops.

    Scale shape: one ``mapInPandas`` pass, no shuffle, no per-row
    Python plan nodes; change ``seed`` per epoch to draw fresh masks
    without materializing augmented copies."""
    if n_masks < 1:
        raise ValueError(f"n_masks must be >= 1, got {n_masks}")
    if max_mask_ms < 1:
        raise ValueError(f"max_mask_ms must be >= 1, got {max_mask_ms}")
    import hashlib

    in_schema = df.schema
    for col in ("clip_id", "bytes", "codec", "sr_hz"):
        if col not in df.columns:
            raise ValueError(f"time_mask_clips needs column {col!r}")
    out_schema = StructType(
        list(in_schema.fields)
        + [
            StructField(
                "masks",
                ArrayType(
                    StructType(
                        [
                            StructField("mask_idx", IntegerType()),
                            StructField("start_ms", LongType()),
                            StructField("len_ms", LongType()),
                        ]
                    )
                ),
            )
        ]
    )
    names = [f.name for f in in_schema.fields]

    def _h60(key: str) -> int:
        return int(hashlib.md5(key.encode()).hexdigest()[:15], 16)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_rows = []
            for row in zip(*(pdf[n] for n in names)):
                vals = dict(zip(names, row))
                cid, c, sr = vals["clip_id"], vals["codec"], int(vals["sr_hz"])
                raw = bytes(vals["bytes"])
                if c == "wav":
                    eff_codec, off, plen = _wav_span_checked(raw, sr, cid)
                else:
                    eff_codec, off, plen = c, 0, len(raw)
                zb = _zero_code(eff_codec)
                bps = len(zb)
                n_samp = plen // bps
                dur_eff = n_samp * 1000 // sr if sr > 0 else 0
                buf = bytearray(raw)
                masks = []
                for j in range(n_masks):
                    ln = 1 + _h60(f"{seed}:{cid}:{j}:L") % max_mask_ms
                    st = _h60(f"{seed}:{cid}:{j}:S") % max(
                        1, dur_eff - ln + 1
                    )
                    masks.append(
                        {"mask_idx": j, "start_ms": st, "len_ms": ln}
                    )
                    s0 = min(st * sr // 1000, n_samp)
                    s1 = min(s0 + ln * sr // 1000, n_samp)
                    buf[off + s0 * bps : off + s1 * bps] = zb * (s1 - s0)
                vals["bytes"] = bytes(buf)
                out_rows.append(tuple(vals[n] for n in names) + (masks,))
            yield pd.DataFrame(
                out_rows, columns=names + ["masks"]
            )

    return df.mapInPandas(gen, schema=out_schema)


_ZERO_CODE_CACHE: dict = {}


def _wav_span_checked(raw: bytes, sr_col: int, cid) -> tuple:
    """Locate a WAV row's payload (ONE container walk) and validate the
    row's ``sr_hz`` column against the RIFF header's rate → (inner
    codec, offset, payload length).

    The encoded-domain editors do all frame/mask/cut arithmetic in the
    COLUMN's rate and stamp it into any rebuilt header — a row whose
    header disagrees would silently get wrong spans and a changed
    playback speed.  Fail fast instead; the mismatch is a corpus
    metadata bug upstream, not something an editor can repair."""
    from jepl_spark.sources.containers import wav_payload_span

    inner, hdr_sr, off, plen = wav_payload_span(raw)
    if int(hdr_sr) != int(sr_col):
        raise ValueError(
            f"clip {cid!r}: sr_hz column says {int(sr_col)} but the WAV "
            f"header says {int(hdr_sr)} — refusing to edit with "
            f"inconsistent rates"
        )
    return inner, off, plen


def _zero_code(codec: str) -> bytes:
    """One sample's encoded digital zero — the splice filler for
    encoded-domain editors.  Cached per codec per worker (guarded get,
    not setdefault: the encode must not run on cache hits)."""
    zb = _ZERO_CODE_CACHE.get(codec)
    if zb is None:
        zb = bytes(audio.encode(np.zeros(1, dtype=np.float32), codec))
        _ZERO_CODE_CACHE[codec] = zb
    return zb


def trim_silence_clips(
    df: DataFrame,
    frame_ms: int = 20,
    energy_thr: float = 1e-6,
) -> DataFrame:
    """Leading/trailing silence trim (the classic pre-chunking stage):
    frame the clip with the SAME shared core as the VAD
    (:func:`_silent_frames` — one dtype, one threshold, the operators
    can never disagree), find the first and last voiced frame, and cut
    everything outside in SAMPLE space:

      keep ``[first_voiced·frame_n, last_voiced_end·frame_n)`` —
      the trailing partial frame (never classified) is kept iff the
      last FULL frame is voiced, dropped with the trailing silence
      otherwise; an all-silent clip trims to zero samples; a clip too
      short for one full frame passes through untouched.

    The cut is BYTE SURGERY in the encoded domain (fixed bytes per
    sample; WAV payloads re-wrap via ``wav_wrap`` with the header
    rebuilt around the sliced payload) — surviving samples are
    bit-identical to the input, no transcode.  Adds ``lead_samples``
    (cut from the front; the whole clip for all-silent),
    ``n_samples_out``, and ``n_total``.

    Scale shape: one ``mapInPandas`` decode-for-energy + slice pass,
    no shuffle; output bytes shrink by the silence fraction, which is
    the point — downstream chunking/training never pays for it."""
    if frame_ms <= 0:
        raise ValueError(f"frame_ms must be positive, got {frame_ms}")
    in_schema = df.schema
    for col in ("clip_id", "bytes", "codec", "sr_hz"):
        if col not in df.columns:
            raise ValueError(f"trim_silence_clips needs column {col!r}")
    out_schema = StructType(
        list(in_schema.fields)
        + [
            StructField("lead_samples", LongType()),
            StructField("n_samples_out", LongType()),
            StructField("n_total", LongType()),
        ]
    )
    names = [f.name for f in in_schema.fields]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from jepl_spark.sources.containers import wav_wrap

        for pdf in batches:
            out_rows = []
            for row in zip(*(pdf[n] for n in names)):
                vals = dict(zip(names, row))
                c, sr = vals["codec"], int(vals["sr_hz"])
                raw = bytes(vals["bytes"])
                if c == "wav":
                    inner, off, plen = _wav_span_checked(
                        raw, sr, vals["clip_id"]
                    )
                else:
                    inner, off, plen = c, 0, len(raw)
                bps = len(_zero_code(inner))
                # decode the payload slice directly — the container
                # was already walked once above
                x = audio.decode(raw[off : off + plen], inner)
                n = x.size
                frame_n = sr * frame_ms // 1000
                silent = _silent_frames(x, frame_n, energy_thr)
                if silent is None:
                    s0, s1 = 0, n
                elif silent.all():
                    s0, s1 = n, n
                else:
                    voiced = np.flatnonzero(~silent)
                    f0, f1 = int(voiced[0]), int(voiced[-1]) + 1
                    s0 = f0 * frame_n
                    s1 = n if f1 == silent.size else f1 * frame_n
                payload = raw[off + s0 * bps : off + s1 * bps]
                vals["bytes"] = (
                    wav_wrap(payload, sr, inner) if c == "wav" else payload
                )
                out_rows.append(
                    tuple(vals[nm] for nm in names)
                    + (int(s0), int(s1 - s0), int(n))
                )
            yield pd.DataFrame(
                out_rows,
                columns=names + ["lead_samples", "n_samples_out", "n_total"],
            )

    return df.mapInPandas(gen, schema=out_schema)


def normalize_gain_clips(
    df: DataFrame,
    target_dbfs: float = -20.0,
    peak_limit: float = 0.99,
) -> DataFrame:
    """Loudness normalization (the gain stage before feature
    extraction / training): scale each clip so its RMS hits
    ``target_dbfs``, capped so the post-gain peak never exceeds
    ``peak_limit`` (normalization must not clip what it normalizes):

      ``gain = min(10^(target_dbfs/20) / rms, peak_limit / peak)``

    Adds ``gain_db`` (the applied gain, 20·log10) and re-encodes the
    scaled PCM in the clip's own codec (WAV containers rebuild with
    the inner codec preserved).  Digital-silence and empty clips pass
    through BIT-IDENTICAL with ``gain_db`` NULL — there is nothing to
    normalize, and inventing +inf gain would be worse than honesty.

    Scale shape: one ``mapInPandas`` decode→scale→encode pass, no
    shuffle; rms/peak in float64 for stable gains regardless of clip
    length."""
    if not (0.0 < peak_limit <= 1.0):
        raise ValueError(f"peak_limit must be in (0, 1], got {peak_limit}")
    target_amp = 10.0 ** (target_dbfs / 20.0)
    in_schema = df.schema
    for col in ("clip_id", "bytes", "codec", "sr_hz"):
        if col not in df.columns:
            raise ValueError(f"normalize_gain_clips needs column {col!r}")
    out_schema = StructType(
        list(in_schema.fields) + [StructField("gain_db", DoubleType())]
    )
    names = [f.name for f in in_schema.fields]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from jepl_spark.sources.containers import wav_encode

        for pdf in batches:
            out_rows = []
            for row in zip(*(pdf[n] for n in names)):
                vals = dict(zip(names, row))
                c, sr = vals["codec"], int(vals["sr_hz"])
                raw = bytes(vals["bytes"])
                if c == "wav":
                    # one container walk: locate + rate-check, decode
                    # the payload slice, and reuse the inner codec for
                    # the rebuild below
                    inner, off, plen = _wav_span_checked(
                        raw, sr, vals["clip_id"]
                    )
                    x = audio.decode(
                        raw[off : off + plen], inner
                    ).astype(np.float64)
                else:
                    inner = c
                    x = audio.decode(raw, c).astype(np.float64)
                rms = float(np.sqrt(np.mean(x * x))) if x.size else 0.0
                if rms <= 0.0:
                    out_rows.append(
                        tuple(vals[nm] for nm in names) + (None,)
                    )
                    continue
                peak = float(np.max(np.abs(x)))
                gain = min(target_amp / rms, peak_limit / peak)
                y = (x * gain).astype(np.float32)
                if c == "wav":
                    out = wav_encode(y, sr, inner)
                else:
                    out = audio.encode(y, c)
                vals["bytes"] = out
                out_rows.append(
                    tuple(vals[nm] for nm in names)
                    + (float(20.0 * np.log10(gain)),)
                )
            yield pd.DataFrame(out_rows, columns=names + ["gain_db"])

    return df.mapInPandas(gen, schema=out_schema)


def speed_perturb_clips(
    df: DataFrame,
    factors: tuple = ((9, 10), (1, 1), (11, 10)),
) -> DataFrame:
    """Kaldi-style speed perturbation: explode each clip into one copy
    per factor, the waveform linearly resampled so a factor ``num/den``
    plays ``num/den``× as fast (duration scales by ``den/num``; pitch
    shifts with it, as in the standard sp augmentation).  Factors are
    RATIONALS, not floats, so the output length is exact integer math —
    ``n_out = n · den div num`` — and an SQL oracle replays every
    length; the canonical (9,10)/(1,1)/(11,10) triple is the
    0.9/1.0/1.1 recipe.  The identity factor passes the original bytes
    through BIT-IDENTICAL (no decode→encode roundtrip drift).

    Rows keep their schema plus (factor_num, factor_den, n_samples);
    bytes re-encode in the clip's own codec (WAV containers rebuild
    around the resampled payload with the inner codec preserved).

    Scale shape: one ``mapInPandas`` pass — decode once per clip,
    ``len(factors)`` interpolations, no shuffle; output rows ≈ input ×
    len(factors), which is the point (augmentation without
    materializing a copy of the corpus per epoch is the caller's
    choice of WHERE to run this — right before the trainer's sink)."""
    if not factors:
        raise ValueError("factors must be non-empty")
    for f in factors:
        if len(f) != 2 or f[0] <= 0 or f[1] <= 0:
            raise ValueError(f"factors must be (num, den) positive pairs, got {f!r}")
    in_schema = df.schema
    for col in ("clip_id", "bytes", "codec", "sr_hz"):
        if col not in df.columns:
            raise ValueError(f"speed_perturb_clips needs column {col!r}")
    out_schema = StructType(
        list(in_schema.fields)
        + [
            StructField("factor_num", IntegerType()),
            StructField("factor_den", IntegerType()),
            StructField("n_samples", LongType()),
        ]
    )
    names = [f.name for f in in_schema.fields]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from jepl_spark.sources.containers import wav_encode

        for pdf in batches:
            out_rows = []
            for row in zip(*(pdf[n] for n in names)):
                vals = dict(zip(names, row))
                c, sr = vals["codec"], int(vals["sr_hz"])
                raw = bytes(vals["bytes"])
                if c == "wav":
                    # one container walk: decode the located payload
                    inner, off, plen = _wav_span_checked(
                        raw, sr, vals["clip_id"]
                    )
                    x = audio.decode(raw[off : off + plen], inner)

                    def reenc(arr, _sr=sr, _inner=inner):
                        return wav_encode(arr, _sr, _inner)
                else:
                    x = audio.decode(raw, c)

                    def reenc(arr, _c=c):
                        return audio.encode(arr, _c)

                n = x.size
                for num, den in factors:
                    if num == den:
                        out = raw
                        n_out = n
                    else:
                        n_out = n * den // num
                        if n > 0 and n_out > 0:
                            t_out = np.linspace(0.0, n - 1, n_out)
                            y = np.interp(
                                t_out, np.arange(n), x
                            ).astype(np.float32)
                        else:
                            n_out = 0
                            y = np.zeros(0, dtype=np.float32)
                        out = reenc(y)
                    v = dict(vals)
                    v["bytes"] = out
                    out_rows.append(
                        tuple(v[nm] for nm in names)
                        + (int(num), int(den), int(n_out))
                    )
            yield pd.DataFrame(
                out_rows,
                columns=names + ["factor_num", "factor_den", "n_samples"],
            )

    return df.mapInPandas(gen, schema=out_schema)


def prepare_clips(
    df: DataFrame,
    max_clipping_ratio: float = 0.05,
    max_silence_ratio: float = 0.9,
    min_tps: float = 1.0,
    max_tps: float = 8.0,
    chunk_ms: int = 250,
    hop_ms: int | None = None,
    min_tail_ms: int = 0,
    frame_ms: int = 20,
    energy_thr: float = 1e-6,
    min_silence_frames: int = 3,
    transcript_col: str = "transcript",
) -> DataFrame:
    """The COMPOSED ingest→prep lane — quality admission
    (:func:`admit_clips` semantics) → transcript-rate pair admission
    (:func:`admit_paired_clips` semantics) → silence trim
    (:func:`trim_silence_clips` semantics) → fixed-window chunking
    (:func:`chunk_clips` semantics) — in ONE Arrow pass that decodes
    each clip exactly ONCE.

    Running the four stages separately decodes every clip four times
    (each stage is its own Arrow lane); at ingest scale the decode IS
    the cost, so the production pipeline wants the fused pass.  Fusion
    is exact, not approximate: every decision and every boundary uses
    the SAME shared cores as the standalone stages (``_decode_and_rail``
    arithmetic for quality, ``_silent_frames``/``_qualifying_runs`` for
    voiced-ms and trim, ``chunk_clips``'s integer boundary math, the
    ONE JVM tokenizer for ``n_tokens`` — computed as a column BEFORE
    the pass, so the tokenizer never forks into Python), and the
    parity test pins composed == staged bit-for-bit including chunk
    bytes.  The plan receipt: this operator is ONE MapInPandas node;
    the staged composition is four Python-exec nodes.

    Rejected clips (quality or rate) emit nothing; admitted clips emit
    their post-trim chunk rows in ``chunk_clips``'s schema (pcm16
    chunk bytes; ``n_total`` = the TRIMMED sample count, exactly what
    staged chunking of trimmed bytes reports).  Statelessness makes it
    batching-invariant: the same callable runs batch and Structured
    Streaming unchanged (the stream_audio_prep gate drives it through
    the exactly-once sink)."""
    if chunk_ms <= 0:
        raise ValueError(f"chunk_ms must be positive, got {chunk_ms}")
    hop = chunk_ms if hop_ms is None else hop_ms
    if hop <= 0:
        raise ValueError(f"hop_ms must be positive, got {hop}")
    if min_tail_ms < 0:
        raise ValueError(f"min_tail_ms must be >= 0, got {min_tail_ms}")
    if frame_ms <= 0:
        raise ValueError(f"frame_ms must be positive, got {frame_ms}")
    if min_silence_frames < 1:
        raise ValueError(
            f"min_silence_frames must be >= 1, got {min_silence_frames}"
        )
    for col in ("clip_id", "bytes", "codec", "sr_hz", transcript_col):
        if col not in df.columns:
            raise ValueError(f"prepare_clips needs column {col!r}")
    from jepl_spark.operators.text import token_count

    has_ts = "event_time" in df.columns
    fields = [
        StructField("clip_id", StringType()),
        StructField("chunk_idx", IntegerType()),
        StructField("start_sample", LongType()),
        StructField("n_samples", IntegerType()),
        StructField("n_total", LongType()),
        StructField("sr_hz", IntegerType()),
        StructField("codec", StringType()),
        StructField("bytes", BinaryType()),
        StructField("transcript", StringType()),
    ]
    if has_ts:
        fields.append(df.schema["event_time"])
    out_schema = StructType(fields)
    prepared = df.withColumn(
        "__ntok",
        token_count(F.coalesce(F.col(transcript_col), F.lit("")))
        .cast("long"),
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            times = pdf["event_time"] if has_ts else [None] * len(pdf)
            for cid, blob, c, sr, tr, ntok, et in zip(
                pdf["clip_id"], pdf["bytes"], pdf["codec"], pdf["sr_hz"],
                pdf[transcript_col], pdf["__ntok"], times,
            ):
                sr = int(sr)
                raw = bytes(blob)
                # THE one decode
                if c == "wav":
                    inner, off, plen = _wav_span_checked(raw, sr, cid)
                    x = audio.decode(raw[off : off + plen], inner)
                    rail = _codec_rail(inner)
                else:
                    x = audio.decode(raw, c)
                    rail = _codec_rail(c)
                n = x.size
                # quality admission (same float64 views as pcm_quality)
                if n == 0:
                    continue  # 'empty'
                ax = np.abs(x.astype(np.float64))
                if float(np.mean(ax >= 0.999 * rail)) > max_clipping_ratio:
                    continue  # 'clipped'
                if float(np.mean(ax < _SILENCE_AMP)) > max_silence_ratio:
                    continue  # 'silent'
                # pair-rate admission (same framing as speech_rate)
                frame_n = sr * frame_ms // 1000
                silent = _silent_frames(x, frame_n, energy_thr)
                if silent is None:
                    voiced_ms = 0
                else:
                    gap = sum(
                        s1 - s0
                        for s0, s1 in _qualifying_runs(
                            silent, min_silence_frames
                        )
                    )
                    voiced_ms = (silent.size - gap) * frame_ms
                ntok = int(ntok)
                if ntok == 0 or voiced_ms == 0:
                    continue  # empty_pair / empty_transcript / no_speech
                rate = ntok / (voiced_ms / 1000.0)
                if rate > max_tps or rate < min_tps:
                    continue  # too_fast / too_slow
                # silence trim (same cut rules as trim_silence_clips)
                if silent is None:
                    s0, s1 = 0, n
                elif silent.all():
                    s0, s1 = n, n
                else:
                    voiced_f = np.flatnonzero(~silent)
                    f0, f1 = int(voiced_f[0]), int(voiced_f[-1]) + 1
                    s0 = f0 * frame_n
                    s1 = n if f1 == silent.size else f1 * frame_n
                xt = x[s0:s1]
                nt = xt.size
                # chunking (same integer math as chunk_clips)
                chunk_n = sr * chunk_ms // 1000
                hop_n = sr * hop // 1000
                tail_n = sr * min_tail_ms // 1000
                fulls = (nt - chunk_n) // hop_n + 1 if nt >= chunk_n else 0
                for idx in range(fulls):
                    s = idx * hop_n
                    row = (cid, idx, s, chunk_n, nt, sr, "pcm16",
                           audio.pcm16_encode(xt[s : s + chunk_n]), tr)
                    rows.append(row + (et,) if has_ts else row)
                tstart = fulls * hop_n
                if min_tail_ms > 0 and tstart < nt and (nt - tstart) >= tail_n:
                    row = (cid, fulls, tstart, nt - tstart, nt, sr, "pcm16",
                           audio.pcm16_encode(xt[tstart:]), tr)
                    rows.append(row + (et,) if has_ts else row)
            yield pd.DataFrame(
                rows, columns=[f.name for f in out_schema.fields]
            )

    return prepared.mapInPandas(gen, schema=out_schema)


def align_transcript_to_chunks(
    chunks: DataFrame,
    transcript_col: str = "transcript",
) -> DataFrame:
    """Proportional transcript alignment for :func:`chunk_clips`
    output: each chunk gets the token span whose PROPORTIONAL time
    range it covers —

      ``tok_start = start_sample · n_tokens div n_total``
      ``tok_end   = (start_sample + n_samples) · n_tokens div n_total``

    — plus ``chunk_text``, the transcript's tokens
    [tok_start, tok_end) re-joined with single spaces.  This is the
    standard uniform-rate fallback when no forced alignment exists:
    deterministic, integer-exact, and monotone (a later chunk never
    gets an earlier token).  Semantics that follow from the formula,
    all intentional: overlapping chunks (hop < chunk) get overlapping
    token spans; tokens over audio past the last kept chunk (a dropped
    tail) are dropped with it; an empty transcript yields empty spans.

    Scale shape: NO shuffle and NO Python — chunk rows already carry
    the transcript and ``n_total`` (decode-time passthrough), so the
    whole operator is whole-stage-codegen expressions appended to the
    chunking map stage.  Token indexes use 64-bit integer division;
    the ``start_sample · n_tokens`` product stays far inside int64
    for any real clip (an hour at 48 kHz against a 10⁶-token
    transcript is ~1.7e14)."""
    from jepl_spark.operators.text import _tokens

    for col in ("start_sample", "n_samples", "n_total"):
        if col not in chunks.columns:
            raise ValueError(
                f"align_transcript_to_chunks needs chunk_clips output "
                f"(missing column {col!r})"
            )
    toks = _tokens(F.coalesce(F.col(transcript_col), F.lit("")))
    n_tok = F.size(toks).cast("long")
    out = (
        chunks.withColumn("__toks", toks)
        .withColumn("__ntok", n_tok)
        .withColumn(
            "tok_start",
            F.when(
                F.col("n_total") > 0,
                F.expr("(start_sample * __ntok) div n_total"),
            ).otherwise(F.lit(0)).cast("long"),
        )
        .withColumn(
            "tok_end",
            F.when(
                F.col("n_total") > 0,
                F.expr("((start_sample + n_samples) * __ntok) div n_total"),
            ).otherwise(F.lit(0)).cast("long"),
        )
        .withColumn(
            "chunk_text",
            F.concat_ws(
                " ",
                F.slice(
                    F.col("__toks"),
                    (F.col("tok_start") + 1).cast("int"),
                    (F.col("tok_end") - F.col("tok_start")).cast("int"),
                ),
            ),
        )
    )
    return out.drop("__toks", "__ntok")


def freq_mask_frames(
    df: DataFrame,
    n_masks: int = 2,
    max_mel_bins: int = 8,
    seed: str = "fmask",
    mask_value: float = 0.0,
    feat_col: str = "feat",
    id_col: str = "clip_id",
) -> DataFrame:
    """SpecAugment FREQUENCY masking (Park et al. 2019's other half —
    ``time_mask_clips`` covers the time axis in the waveform domain;
    frequency masks only exist in the feature domain): overwrite
    ``n_masks`` mel-bin bands of at most ``max_mel_bins`` with
    ``mask_value`` (default 0.0 — the per-utterance mean after CMVN)
    on every frame of a clip.

    The mask plan is the package's deterministic md5 recipe, derived
    per CLIP (every frame of a clip masks the same bands, per the
    paper), so it is a pure function of (seed, clip_id) — no join, no
    state, each frame row computes its own plan:

      ``len_bins  = 1 + h(seed:id:k:F) mod max_mel_bins``
      ``start_bin = h(seed:id:k:P) mod max(1, n_mels - len_bins + 1)``

    A band longer than the vector clips at the end (only possible when
    ``max_mel_bins`` > n_mels), matching time_mask's end-clip rule.
    Adds ``freq_masks`` (array of (mask_idx, start_bin, len_bins)) and
    rewrites ``feat_col`` in place; a NULL id or NULL vector passes
    through unmasked/NULL.  Change ``seed`` per epoch for fresh masks
    without materializing copies.

    Scale shape: pure JVM expressions, no Python, no shuffle; composes
    with ``logmel_clips`` output directly and the SQL oracle replays
    the plan and the CASE bit-for-bit.  The plan array materializes in
    its OWN projection and the masking lambda references it through
    ``F.exists`` on the column attribute: embedding the md5 span trees
    in the lambda body would re-evaluate them once per ARRAY ELEMENT
    (higher-order lambdas get no loop-invariant hoisting — measured
    23.0 s vs 1.66 s for 300k × 80-dim rows, a 14× difference;
    CollapseProject keeps the barrier because the non-cheap plan
    column is consumed twice)."""
    from jepl_spark.operators.sampling import _sample_hash

    for c in (feat_col, id_col):
        if c not in df.columns:
            raise ValueError(f"freq_mask_frames needs column {c!r}")
    if "freq_masks" in df.columns:
        raise ValueError("freq_mask_frames would overwrite 'freq_masks'")
    if n_masks < 1:
        raise ValueError(f"n_masks must be >= 1, got {n_masks}")
    if max_mel_bins < 1:
        raise ValueError(f"max_mel_bins must be >= 1, got {max_mel_bins}")

    cid = F.col(id_col).cast("string")
    nb = F.size(F.col(feat_col))
    structs = []
    for k in range(int(n_masks)):
        ln = F.lit(1) + F.pmod(
            _sample_hash(F.concat(cid, F.lit(f":{k}:F")), seed),
            F.lit(int(max_mel_bins)),
        )
        st = F.pmod(
            _sample_hash(F.concat(cid, F.lit(f":{k}:P")), seed),
            F.greatest(nb.cast("long") - ln + 1, F.lit(1).cast("long")),
        )
        structs.append(F.struct(
            F.lit(k).alias("mask_idx"),
            st.alias("start_bin"),
            ln.alias("len_bins"),
        ))

    with_masks = df.withColumn("freq_masks", F.array(*structs))
    mv = F.lit(float(mask_value))

    def masked_elem(x, i):
        hit = F.exists(
            F.col("freq_masks"),
            lambda m: (i.cast("long") >= m["start_bin"])
            & (i.cast("long") < m["start_bin"] + m["len_bins"]),
        )
        return F.when(hit, mv).otherwise(x)

    return with_masks.withColumn(
        feat_col, F.transform(F.col(feat_col), masked_elem)
    )
