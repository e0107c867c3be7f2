"""Audio near-duplicate detection and dedup — batch and streaming.

The audio twin of the text near-dup suite (dedup.py): re-encoded,
re-gained, or container-rewrapped copies of the same recording are the
dominant duplicate class in crawled audio corpora, and none of them
hash equal at the byte level, so ``exact_dedup`` never sees them.

Design (all public building blocks):

1. **Content signature** — the 240-bit Haitsma-Kalker band-energy
   fingerprint (functions/audio_udfs.py): computed once per clip inside
   an Arrow UDF; only 32 bytes cross back to the JVM.
2. **Candidate generation = blocking, not banding** — candidates must
   share ``sr_hz`` and sit within ``dur_tol_ms`` of each other's
   duration.  Transcode/regain copies preserve sample rate and duration
   to the millisecond, so blocking loses nothing for the duplicate
   class this lane targets, and it is the standard audio-dedup
   prefilter (AcoustID applies a length gate before fingerprint
   compare).  Duration buckets use the two-bucket band-join trick
   (bucket b joins b and b+1), so a pair can never straddle an
   unjoined boundary.
3. **Verification** — exact Hamming distance over the fingerprint
   arrays, pure JVM (zip_with + bit_count), on candidates only.

Decision thresholds, measured on 2000 synthetic clips (the corpus's
pure-tone content is the fingerprint's WORST case — real speech/music
has far richer band dynamics and correspondingly lower copy distances;
Haitsma & Kalker report ~2-10%% bit error under heavy degradation):

- lossless re-gain copies (pcm16, any gain): distance <= 1
- G.711 transcode copies: mean ~8.5, p90 ~17, rare tail to ~40+
  (clips whose bands are mostly quantization noise)
- distinct clips in the same (sr, duration) block: >= 25, mean ~120

The default ``max_hamming=10`` therefore catches every regain/lossless
copy with a >= 15-bit margin and ~75%% of G.711 transcodes on this
worst-case content; raise to ~20 for lossy-transcode recall at the
cost of the margin (documented, caller's dial).

Scale shape at 100 TB: fingerprints are 32 bytes/clip, the blocking
join shuffles (sr, dur_bucket, fp, id) only — audio bytes never leave
the scan stage.  Block sizes are bounded by real duration spread
(buckets of ``dur_tol_ms``); a pathological single-duration corpus
degrades to one block and should raise ``dur_tol_ms`` granularity or
add an upstream per-block cap, mirroring ``max_band_bucket`` in the
text lanes.  The streaming variant keeps ONE fingerprint row per
admitted clip in a (sr_hz, dur_bucket)-PARTITIONED signature side
table next to the sink, so each batch's vs-admitted check is a
directory-pruned read of the batch's own blocks — per-batch cost
tracks the batch, not committed history — with an optional
``horizon_s`` time bound on top (see stream_audio_near_dedup).

Reference parity: the reference engine (youfulife/jepl) has no audio
operators at all — this module is part of the mandated audio axis, not
a translation (BASELINE.md: the reference publishes a grammar only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.audio_udfs import (
    fp_hamming,
    with_audio_fingerprint,
    with_offset_fingerprints,
)
from .dedup import near_dup_components

__all__ = [
    "audio_near_dups",
    "audio_dedup",
    "audio_trim_near_dups",
    "audio_signature_table",
    "audio_dedup_against",
    "stream_audio_near_dedup",
    "stream_audio_trim_near_dedup",
]


def audio_signature_table(
    df: DataFrame,
    id_col: str = "clip_id",
    canonical_sr: int | None = None,
) -> DataFrame:
    """The persisted-snapshot side of incremental cross-corpus audio
    dedup: (id, sr_hz, dur_ms, fp) — 32 bytes of fingerprint per clip,
    hashed ONCE per corpus commit and parked in parquet, exactly like
    ``minhash_signature_table``/``simhash_signature_table`` for text.
    Later deltas band against this table and never re-decode the
    corpus's audio.  Pass the same ``canonical_sr`` the deltas will
    use — signatures at different canonical rates don't compare."""
    return with_audio_fingerprint(
        df, "fp", canonical_sr=canonical_sr
    ).select(id_col, "sr_hz", "dur_ms", "fp")


def audio_dedup_against(
    delta: DataFrame,
    corpus_sigs: DataFrame,
    id_col: str = "clip_id",
    max_hamming: int = 10,
    dur_tol_ms: int = 25,
    canonical_sr: int | None = None,
) -> DataFrame:
    """Incremental cross-corpus audio NEAR-dedup (the audio twin of
    ``dedup_against(policy="minhash")``): drop every ``delta`` clip
    whose fingerprint sits within ``max_hamming`` of ANY clip in the
    committed corpus, where the corpus side is the PERSISTED signature
    table from :func:`audio_signature_table` — the corpus is
    fingerprinted once per commit, each ingest delta pays only its own
    decode plus an ids+32-bytes blocking join.  Returns the surviving
    delta rows unchanged.

    Blocking matches :func:`audio_near_dups`: (sr, duration-bucket)
    cells via the two-bucket trick, sr dropped when ``canonical_sr``
    is set (the delta must then be fingerprinted at the SAME canonical
    rate as the snapshot).  In-delta duplicates are out of scope by
    contract (run ``audio_dedup`` on the delta first if needed) —
    identical to the text twin's documented semantics."""
    if max_hamming < 0:
        raise ValueError(f"max_hamming must be >= 0, got {max_hamming}")
    if dur_tol_ms < 1:
        raise ValueError(f"dur_tol_ms must be >= 1, got {dur_tol_ms}")
    for col in ("sr_hz", "dur_ms", "fp"):
        if col not in corpus_sigs.columns:
            raise ValueError(
                f"corpus_sigs must be audio_signature_table output "
                f"(missing column {col!r})"
            )
    with_sr = canonical_sr is None
    d_sigs = with_audio_fingerprint(
        delta, "__fp", canonical_sr=canonical_sr
    ).select(id_col, "sr_hz", "dur_ms", "__fp")
    c_sigs = corpus_sigs.select(
        id_col, "sr_hz", "dur_ms", F.col("fp").alias("__fp")
    )
    a = _blocked(c_sigs, id_col, dur_tol_ms, "a", with_sr=with_sr)
    b = _blocked(d_sigs, id_col, dur_tol_ms, "b", with_sr=with_sr)
    ham = fp_hamming(F.col("__fp_a"), F.col("__fp_b"))
    drops = (
        a.join(b, ["__sr", "__bucket"])
        .where(
            F.abs(F.col("__dur_a") - F.col("__dur_b")) <= F.lit(dur_tol_ms)
        )
        .where(ham <= max_hamming)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return delta.join(drops, on=id_col, how="left_anti")


def _blocked(
    fps: DataFrame,
    id_col: str,
    dur_tol_ms: int,
    side: str,
    with_sr: bool = True,
    fp_cols: tuple = ("__fp",),
) -> DataFrame:
    """(sr, bucket) blocking keys for one side: every row lands in its
    own duration bucket AND the next one, so any pair within
    ``dur_tol_ms`` shares at least one (sr, bucket) cell.
    ``with_sr=False`` (the canonical-rate cross-sr lane) collapses the
    sr key to a constant — duration is the only block key, since a
    resampled copy changes sr_hz but preserves wall-clock duration.
    Each fingerprint column ``c`` of ``fp_cols`` comes out as
    ``c_<side>``."""
    b = (F.col("dur_ms") / F.lit(dur_tol_ms)).cast("long")
    sr_key = F.col("sr_hz") if with_sr else F.lit(0)
    return fps.select(
        F.col(id_col).alias(f"id_{side}"),
        sr_key.alias("__sr"),
        F.col("dur_ms").alias(f"__dur_{side}"),
        *[F.col(c).alias(f"{c}_{side}") for c in fp_cols],
        F.explode(F.array(b, b + 1)).alias("__bucket"),
    )


def audio_near_dups(
    df: DataFrame,
    id_col: str = "clip_id",
    max_hamming: int = 10,
    dur_tol_ms: int = 25,
    fp_col: str | None = None,
    canonical_sr: int | None = None,
) -> DataFrame:
    """Audio near-duplicate PAIRS: (id_a, id_b, hamming) for every pair
    of clips with identical ``sr_hz``, duration within ``dur_tol_ms``
    milliseconds, and fingerprint Hamming distance <= ``max_hamming``
    (id_a < id_b; each qualifying pair exactly once).

    Input needs (id_col, bytes, codec, sr_hz, dur_ms) — or pass
    ``fp_col`` naming a precomputed array<bigint> fingerprint column to
    skip the decode (the streaming lane and any pipeline that already
    ran ``with_audio_fingerprint`` reuse signatures this way).

    Recall contract: EXACT for the blocked duplicate class — blocking
    keys are preserved by the targeted transformations (gain change,
    codec transcode, container rewrap), and within a block every pair
    is distance-checked (two-bucket trick, no boundary loss).  A copy
    that is also trimmed/padded beyond ``dur_tol_ms`` is out of scope
    by design — offset-tolerant matching requires landmark alignment,
    a different cost class.

    CROSS-SAMPLE-RATE copies (the 8 kHz ↔ 16 kHz transcode re-upload):
    pass ``canonical_sr`` — fingerprints are then computed at that
    rate (``with_audio_fingerprint(canonical_sr=...)``) and the
    blocking key drops sr_hz (duration alone blocks; a resample
    preserves wall-clock duration to the millisecond).  Raise
    ``max_hamming`` to ~25 for this class: measured on the tonal
    worst-case corpus, lossy cross-rate copies sit at mean ~14 / p90
    ~28 while distinct same-duration clips stay >= 55 — downsampling
    destroys bands above the canonical Nyquist, so copies whose energy
    lives there (pure tones; rare in speech) can escape.  Cost: blocks
    merge across rates, so candidate counts grow by the rate mix —
    still duration-bounded, never all-pairs.

    ``fp_col`` + ``canonical_sr`` together: the precomputed column
    wins for fingerprints (no re-decode), but ``canonical_sr`` STILL
    switches blocking to duration-only — so ``fp_col`` must have been
    computed via ``with_audio_fingerprint(canonical_sr=<same rate>)``.
    Native-rate fingerprints under duration-only blocking compare
    incomparable signatures and return garbage pairs."""
    if max_hamming < 0:
        raise ValueError(f"max_hamming must be >= 0, got {max_hamming}")
    if dur_tol_ms < 1:
        raise ValueError(f"dur_tol_ms must be >= 1, got {dur_tol_ms}")
    if fp_col is None:
        fps = with_audio_fingerprint(df, "__fp", canonical_sr=canonical_sr)
    else:
        fps = df.withColumn("__fp", F.col(fp_col))
    with_sr = canonical_sr is None
    fps = fps.select(id_col, "sr_hz", "dur_ms", "__fp")
    a = _blocked(fps, id_col, dur_tol_ms, "a", with_sr=with_sr)
    b = _blocked(fps, id_col, dur_tol_ms, "b", with_sr=with_sr)
    ham = fp_hamming(F.col("__fp_a"), F.col("__fp_b"))
    return (
        a.join(b, ["__sr", "__bucket"])
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (
                F.abs(F.col("__dur_a") - F.col("__dur_b"))
                <= F.lit(dur_tol_ms)
            )
        )
        .select(
            "id_a", "id_b", ham.alias("hamming"),
            "__dur_a", "__dur_b",
        )
        .where(F.col("hamming") <= max_hamming)
        # the two-bucket explode makes close pairs collide in 1-2 cells
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", "hamming")
    )


def audio_dedup(
    df: DataFrame,
    id_col: str = "clip_id",
    max_hamming: int = 10,
    dur_tol_ms: int = 25,
    policy: str = "pairs",
    canonical_sr: int | None = None,
) -> DataFrame:
    """Drop audio near-duplicates, keeping one representative per
    duplicate group.  ``policy="pairs"`` drops the higher id of every
    qualifying pair; ``policy="components"`` resolves connected
    components first and keeps exactly the minimum id per cluster
    (transitive-safe — see near_dup_components).  ``canonical_sr``
    extends the match to cross-sample-rate copies (see
    audio_near_dups)."""
    if policy not in ("pairs", "components"):
        raise ValueError(f"unknown policy {policy!r}")
    pairs = audio_near_dups(
        df, id_col=id_col, max_hamming=max_hamming, dur_tol_ms=dur_tol_ms,
        canonical_sr=canonical_sr,
    )
    if policy == "components":
        losers = (
            near_dup_components(pairs)
            .where(F.col("id") != F.col("component"))
            .select(F.col("id").alias(id_col))
        )
    else:
        losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


def audio_trim_near_dups(
    df: DataFrame,
    id_col: str = "clip_id",
    max_hamming: int = 10,
    max_trim_ms: int = 2000,
    canonical_sr: int = 8000,
    window_s: float = 2.0,
) -> DataFrame:
    """OFFSET-TOLERANT audio near-duplicate pairs: catches re-uploads
    with up to ``max_trim_ms`` of LEAD or TAIL trim (plus regain /
    transcode / resample), the escape class of the duration-exact
    lanes.  Returns (id_a, id_b, hamming) with id_a < id_b.

    Mechanism: head/tail-anchored fixed-window fingerprints at a
    canonical rate (:func:`with_offset_fingerprints`) — a lead-trimmed
    copy's LAST ``window_s`` seconds are bit-identical in time to the
    original's, so the tail fingerprints land within requantization
    distance; symmetric for tail trims via the head window.  A pair
    qualifies when ``least(hamming(head), hamming(tail)) <=
    max_hamming``.

    Blocking: duration buckets of ``max_trim_ms`` with the two-bucket
    trick (a trim changes duration by at most ``max_trim_ms``), no sr
    key (canonical-rate fps are rate-free).  Blocks are therefore
    ``max_trim_ms/dur_tol`` times coarser than the exact lane's — the
    price of trim tolerance; still duration-bounded, never all-pairs.

    Thresholds, measured on the tonal worst-case corpus (pinned by
    tests): same-rate trimmed copies distance <= 1; cross-rate trimmed
    copies max 18 but p90 = 3 (the tail is 44.1 kHz resample-grid
    shift); distinct duration-blocked clips bottom out at 13 at n=300
    (the ``max_trim_ms`` blocks admit far more candidate pairs than
    the exact lane's ±25 ms blocks, so the distinct floor is lower).
    The default 10 takes every same-rate and ~90%% of cross-rate
    trimmed copies with zero false pairs on the measured corpus; raise
    toward 18 for full cross-rate-trim recall at a measured precision
    risk.  Limits: copies trimmed at BOTH ends are out of scope —
    and measurably NOT reachable by a sliding-grid shortcut: the
    duration-relative fingerprint has zero shift tolerance (a 25 ms
    window misalignment already scores mean ~115 bits ≈ random, so
    coarse window grids can never land close enough on an arbitrary
    trim).  Dense Haitsma-Kalker sub-fingerprints (371 ms windows at
    4-16 ms hops, the published geometry) were ALSO prototyped and
    measured unusable on this corpus: copy-vs-original bit error rate
    0.39-0.42 against distinct-clip 0.50 — the fixture's stationary
    tones make the frame-to-frame band-energy derivatives near zero,
    so the sign bits are numerical noise (real speech/music has the
    transient structure the method needs).  No deterministic gate can
    be built on that margin here; the class is deliberately staged
    out with these receipts.  Clips
    shorter than ``window_s`` + trim lose the anchoring (window =
    whole clip)."""
    if max_hamming < 0:
        raise ValueError(f"max_hamming must be >= 0, got {max_hamming}")
    if max_trim_ms < 1:
        raise ValueError(f"max_trim_ms must be >= 1, got {max_trim_ms}")
    fps = with_offset_fingerprints(
        df, "__ofp", canonical_sr=canonical_sr, window_s=window_s
    ).select(
        id_col,
        "dur_ms",
        F.col("__ofp.head").alias("__h"),
        F.col("__ofp.tail").alias("__t"),
    )

    def _side(s: str) -> DataFrame:
        return _blocked(fps, id_col, max_trim_ms, s, with_sr=False,
                        fp_cols=("__h", "__t"))

    ham = F.least(
        fp_hamming(F.col("__h_a"), F.col("__h_b")),
        fp_hamming(F.col("__t_a"), F.col("__t_b")),
    )
    return (
        _side("a")
        .join(_side("b"), ["__sr", "__bucket"])
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (
                F.abs(F.col("__dur_a") - F.col("__dur_b"))
                <= F.lit(max_trim_ms)
            )
        )
        .select("id_a", "id_b", ham.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def stream_audio_near_dedup(
    stream: DataFrame,
    sink,
    id_col: str = "clip_id",
    max_hamming: int = 10,
    dur_tol_ms: int = 25,
    fp_col: str = "fp",
    ts_col: str | None = None,
    horizon_s: int | None = None,
    sig_bucket_ms: int = 1000,
    canonical_sr: int | None = None,
):
    """Streaming audio near-dedup at ingest: each micro-batch's clips
    are fingerprinted, checked against (a) each other and (b) the
    already-ADMITTED corpus in ``sink``, and only novel clips commit —
    the audio twin of ``stream_simhash_near_dedup``.

    ``canonical_sr`` extends the match to CROSS-SAMPLE-RATE copies
    exactly as in :func:`audio_near_dups`: fingerprints compute at the
    canonical rate and blocking drops the sr key (duration alone
    blocks).  The signature side table keeps its (sr_hz, dur_bucket)
    layout either way — the committed-side prune just skips the sr
    partition filter, so the read is dur-bucket-pruned only (the rate
    mix multiplies candidates, not history).  NOTE: signatures written
    under one ``canonical_sr`` are not comparable to another — pick it
    once per corpus.

    Returns ``(prepared_stream, foreach_batch)``; wire through
    ``writeStream.foreachBatch(foreach_batch)``.  The prepared stream
    carries ``fp_col`` (computed once, Arrow UDF) so later batches
    NEVER re-decode audio.

    In-batch semantics mirror the batch operator with pairs policy:
    the LOWEST id of an in-batch duplicate group is admitted (ids are
    compared as the column's natural ordering).  Vs-admitted semantics:
    any batch clip within ``max_hamming`` of ANY admitted clip in the
    same (sr, duration±tol) block is dropped.  State is the committed
    corpus itself — no separate state store, so a restart resumes
    exactly from what was durably admitted (exactly-once via the
    sink's batch-id ledger).

    Scale shape — the committed-side read is PARTITION-pruned, not a
    corpus scan (round-7 fix): alongside every committed batch, the
    survivors' signatures (id, sr_hz, dur_ms, fp[, ts_col]) land in a
    side table ``<sink.root>/_signatures/ingest_batch=<id>/`` written
    ``partitionBy(sr_hz, dur_bucket)`` with
    ``dur_bucket = dur_ms div sig_bucket_ms``.  A batch's vs-admitted
    check then reads ONLY the partitions intersecting the batch's own
    (sample rate, duration±tol) blocks — directory-level pruning, so
    per-batch cost tracks the batch's duration spread, NOT committed
    history.  The prune is an exact superset of the blocking join's
    candidates: zero recall consequence.  Idempotence: a batch's
    signature directory is overwritten whole on retry (its name is the
    batch id) BEFORE the sink commit, and reads consider only
    ``ingest_batch < current`` — a half-written directory from a
    crashed attempt of THIS batch is invisible.  Fallback scan: sinks
    without a filesystem ``root`` (e.g. a catalog-table sink), and any
    sink whose side table does not cover EVERY committed batch (a
    legacy sink upgraded mid-stream, an orphaned crash directory —
    detected by a per-batch directory-count vs ledger-count match),
    use a column-pruned ``read_committed`` scan with a dur_ms row
    filter instead — row-group-stats pruning only, never a silent
    skip; at corpus scale prefer a fresh filesystem-rooted sink.

    ``horizon_s`` (requires ``ts_col``) additionally bounds the
    admitted side IN TIME: only signatures with
    ``ts_col >= batch_min_ts - horizon_s`` are checked, mirroring
    ``stream_simhash_near_dedup``'s dial.  RECALL CONSEQUENCE: a copy
    of a clip admitted more than ``horizon_s`` before the batch's
    earliest event is RE-ADMITTED.  Default ``None`` = no time bound
    (full recall; the partition prune above already bounds the read,
    so unlike the simhash lane the unbounded-time default does not
    scan the corpus — simhash has no blocking key to partition on,
    this lane does)."""
    if max_hamming < 0:
        raise ValueError(f"max_hamming must be >= 0, got {max_hamming}")
    if dur_tol_ms < 1:
        raise ValueError(f"dur_tol_ms must be >= 1, got {dur_tol_ms}")
    if sig_bucket_ms < 1:
        raise ValueError(f"sig_bucket_ms must be >= 1, got {sig_bucket_ms}")
    if horizon_s is not None and ts_col is None:
        raise ValueError("horizon_s needs ts_col (the event-time column)")
    prepared = with_audio_fingerprint(
        stream, fp_col, canonical_sr=canonical_sr
    )
    with_sr = canonical_sr is None

    def _sides(fps: DataFrame, side: str) -> DataFrame:
        return _blocked(
            fps.withColumn("__fp", F.col(fp_col)), id_col, dur_tol_ms,
            side, with_sr=with_sr,
        )

    def _qualifying(a: DataFrame, b: DataFrame) -> DataFrame:
        ham = fp_hamming(F.col("__fp_a"), F.col("__fp_b"))
        return (
            a.join(b, ["__sr", "__bucket"])
            .where(
                F.abs(F.col("__dur_a") - F.col("__dur_b"))
                <= F.lit(dur_tol_ms)
            )
            .where(ham <= max_hamming)
        )

    sig_cols = [id_col, "sr_hz", "dur_ms", fp_col] + (
        [ts_col] if ts_col is not None else []
    )
    return prepared, _stream_sig_dedup_loop(
        prepared, sink, id_col, sig_cols, _sides, _qualifying,
        dur_tol_ms, sig_bucket_ms, "_signatures", ts_col, horizon_s,
        sr_prune=with_sr,
    )


def _stream_sig_dedup_loop(
    prepared: DataFrame,
    sink,
    id_col: str,
    sig_cols: list,
    sides_fn,
    qualify_fn,
    tol_ms: int,
    sig_bucket_ms: int,
    sig_subdir: str,
    ts_col: str | None,
    horizon_s: int | None,
    sr_prune: bool,
):
    """The shared streaming dedup-vs-committed engine: per micro-batch
    in-batch pair drops + vs-admitted drops against a (sr_hz,
    dur_bucket)-partitioned signature side table (``sig_subdir`` under
    the sink root), with the coverage check, explicit-schema read,
    horizon bound, legacy/rootless fallbacks, and exactly-once write
    ordering.  ``sides_fn(sigs, side)`` produces a blocked side with
    ``id_<side>``/``__dur_<side>``/``__sr``/``__bucket`` columns;
    ``qualify_fn(a, b)`` returns the qualifying candidate pairs.  Both
    the exact/cross-rate lane and the offset-tolerant lane are
    configurations of this loop — the protocol (ledger short-circuit,
    signature-first write, ingest_batch < current reads) is identical
    by construction."""
    root = getattr(sink, "root", None)
    sig_root = f"{root}/{sig_subdir}" if root is not None else None

    def _admitted_side(spark, batch_id, cols, lo, hi, srs):
        """Committed signatures overlapping [lo, hi] ms at the batch's
        sample rates — partition-pruned side table when available,
        read_committed row-filter fallback otherwise."""
        if sig_root is not None:
            from ..fsutil import hadoop_fs

            fs, jpath, _ = hadoop_fs(spark, sig_root)
            covered = False
            if fs.exists(jpath):
                # coverage check: the side table only prunes when it
                # has a signature directory for EVERY committed batch —
                # a LEGACY sink (history from before this table
                # existed) or an orphaned attempt directory fails the
                # count match and stays on the conservative scan path
                # below, so the vs-admitted check never silently skips
                # committed content.  One listing + the sink's own
                # ledger count per batch — same cost class as
                # is_committed.
                n_dirs = sum(
                    1
                    for st in fs.listStatus(jpath)
                    if st.isDirectory()
                    and st.getPath().getName().startswith("ingest_batch=")
                    and int(
                        st.getPath().getName().split("=", 1)[1]
                    ) < int(batch_id)
                )
                covered = n_dirs == sink.committed_count(spark)
            if covered:
                # EXPLICIT schema (cols as the prepared stream types
                # them + the two synthetic partition keys): inference
                # would read a data-file footer, and a history whose
                # committed batches were all EMPTY (idle-stream no-data
                # micro-batches) has none — inference then fails every
                # retry of the first real batch, wedging the stream
                from pyspark.sql.types import (
                    IntegerType,
                    LongType,
                    StructField,
                    StructType,
                )

                by_name = {f.name: f for f in prepared.schema.fields}
                sig_schema = StructType(
                    [by_name[c] for c in cols]
                    + [
                        StructField("dur_bucket", IntegerType()),
                        StructField("ingest_batch", LongType()),
                    ]
                )
                ad = spark.read.schema(sig_schema).option(
                    "basePath", sig_root
                ).parquet(sig_root)
                cond = (
                    (F.col("ingest_batch") < F.lit(int(batch_id)))
                    & F.col("dur_bucket").between(
                        lo // sig_bucket_ms, hi // sig_bucket_ms
                    )
                    & F.col("dur_ms").between(lo, hi)
                )
                if sr_prune:
                    cond = cond & F.col("sr_hz").isin(
                        [int(s) for s in srs]
                    )
                return ad.where(cond).select(*cols)
        try:
            admitted = sink.read_committed(spark)
        except ValueError:
            # no committed batches yet is the ONLY fall-through; any
            # real read failure must fail the batch so Spark retries
            # instead of permanently admitting dups
            return None
        missing = [c for c in cols if c not in admitted.columns]
        if missing:
            # committed history written by a DIFFERENT dedup lane (or
            # before any signature lane existed) carries the wrong
            # fingerprint columns — fail the batch with an actionable
            # error instead of an unresolved-column exception; a sink's
            # history must be written by ONE lane end to end
            raise ValueError(
                f"committed rows under {root!r} lack signature "
                f"column(s) {missing}: the vs-admitted fallback scan "
                f"needs history written by this dedup lane — use a "
                f"fresh sink when switching lanes (the {sig_subdir} "
                f"side table cannot cover the foreign history either)"
            )
        return admitted.select(*cols).where(
            F.col("dur_ms").between(lo, hi)
        )

    def foreach_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if sink.is_committed(batch_id):
            return
        batch = batch_df.persist()
        try:
            cols = list(sig_cols)
            sigs = batch.select(*cols)
            b_side = sides_fn(sigs, "b")
            # in-batch: drop the higher id of every qualifying pair
            drops = (
                qualify_fn(sides_fn(sigs, "a"), b_side)
                .where(F.col("id_a") < F.col("id_b"))
                .select(F.col("id_b").alias(id_col))
                .distinct()
            )
            # one bounded probe: duration range + the handful of
            # distinct sample rates (+ earliest event for the horizon)
            probe = sigs.agg(
                F.min("dur_ms").alias("lo"),
                F.max("dur_ms").alias("hi"),
                F.collect_set("sr_hz").alias("srs"),
                *([F.min(ts_col).alias("t0")] if ts_col is not None else []),
            ).first()
            admitted_pruned = None
            if probe["lo"] is not None:
                admitted_pruned = _admitted_side(
                    spark, batch_id, cols,
                    int(probe["lo"]) - tol_ms,
                    int(probe["hi"]) + tol_ms,
                    probe["srs"],
                )
            if (
                admitted_pruned is not None
                and horizon_s is not None
                and probe["t0"] is not None
            ):
                admitted_pruned = admitted_pruned.where(
                    F.col(ts_col)
                    >= F.lit(probe["t0"])
                    - F.expr(f"INTERVAL {int(horizon_s)} SECONDS")
                )
            if admitted_pruned is not None:
                ad = sides_fn(admitted_pruned, "a")
                vs_admitted = (
                    qualify_fn(ad, b_side)
                    .select(F.col("id_b").alias(id_col))
                    .distinct()
                )
                drops = drops.unionByName(vs_admitted).distinct()
            survivors = batch.join(drops, on=id_col, how="left_anti")
            if sig_root is None:
                sink.write_batch(survivors, batch_id)
                return
            # two actions consume survivors below (signature write,
            # then sink commit) — persist so the in-batch and
            # vs-admitted blocking joins execute once, not twice
            survivors = survivors.persist()
            try:
                # signatures FIRST, sink commit second: a crash between
                # the two replays the batch (not yet in the ledger) and
                # overwrites this directory; after the commit, replays
                # short-circuit at is_committed with the directory
                # already consistent
                (
                    survivors.select(*cols)
                    .withColumn(
                        "dur_bucket",
                        F.expr(f"dur_ms div {int(sig_bucket_ms)}")
                        .cast("int"),
                    )
                    .write.partitionBy("sr_hz", "dur_bucket")
                    .mode("overwrite")
                    .parquet(f"{sig_root}/ingest_batch={int(batch_id)}")
                )
                sink.write_batch(survivors, batch_id)
            finally:
                survivors.unpersist()
        finally:
            batch.unpersist()

    return foreach_batch


def stream_audio_trim_near_dedup(
    stream: DataFrame,
    sink,
    id_col: str = "clip_id",
    max_hamming: int = 10,
    max_trim_ms: int = 2000,
    canonical_sr: int = 8000,
    window_s: float = 2.0,
    ts_col: str | None = None,
    horizon_s: int | None = None,
    sig_bucket_ms: int = 1000,
):
    """Streaming OFFSET-TOLERANT audio near-dedup at ingest: the
    trimmed-re-upload twin of :func:`stream_audio_near_dedup` — a clip
    with up to ``max_trim_ms`` of lead or tail trim (plus regain /
    transcode / resample) relative to already-admitted content is
    dropped before it commits.  Same engine, different signature:
    head/tail-anchored fixed-window fingerprints at a canonical rate
    (:func:`with_offset_fingerprints` — thresholds and limits
    documented on :func:`audio_trim_near_dups`), blocking buckets of
    ``max_trim_ms`` (a trim changes duration by at most that), no sr
    key.  The side table lives at ``<sink.root>/_signatures_offset``
    with fp_head/fp_tail columns, so it never collides with the exact
    lane's ``_signatures`` under the same root — but a given sink's
    HISTORY must be written by one lane end to end: the commit ledger
    is shared (a second lane's foreach_batch short-circuits at
    is_committed), committed rows carry only the writing lane's
    fingerprint columns, and the vs-admitted fallback fails fast with
    an actionable error on history written by the other lane.  To
    switch lanes, start a fresh sink.  Exactly-once, coverage-checked,
    horizon-dialed and fallback semantics are otherwise the shared
    loop's (stream_audio_near_dedup docs)."""
    if max_hamming < 0:
        raise ValueError(f"max_hamming must be >= 0, got {max_hamming}")
    if max_trim_ms < 1:
        raise ValueError(f"max_trim_ms must be >= 1, got {max_trim_ms}")
    if sig_bucket_ms < 1:
        raise ValueError(f"sig_bucket_ms must be >= 1, got {sig_bucket_ms}")
    if horizon_s is not None and ts_col is None:
        raise ValueError("horizon_s needs ts_col (the event-time column)")
    prepared = (
        with_offset_fingerprints(
            stream, "__ofp", canonical_sr=canonical_sr, window_s=window_s
        )
        .withColumn("fp_head", F.col("__ofp.head"))
        .withColumn("fp_tail", F.col("__ofp.tail"))
        .drop("__ofp")
    )

    def _sides(fps: DataFrame, side: str) -> DataFrame:
        return _blocked(fps, id_col, max_trim_ms, side, with_sr=False,
                        fp_cols=("fp_head", "fp_tail"))

    def _qualifying(a: DataFrame, b: DataFrame) -> DataFrame:
        ham = F.least(
            fp_hamming(F.col("fp_head_a"), F.col("fp_head_b")),
            fp_hamming(F.col("fp_tail_a"), F.col("fp_tail_b")),
        )
        return (
            a.join(b, ["__sr", "__bucket"])
            .where(
                F.abs(F.col("__dur_a") - F.col("__dur_b"))
                <= F.lit(max_trim_ms)
            )
            .where(ham <= max_hamming)
        )

    sig_cols = [id_col, "sr_hz", "dur_ms", "fp_head", "fp_tail"] + (
        [ts_col] if ts_col is not None else []
    )
    return prepared, _stream_sig_dedup_loop(
        prepared, sink, id_col, sig_cols, _sides, _qualifying,
        max_trim_ms, sig_bucket_ms, "_signatures_offset", ts_col,
        horizon_s, sr_prune=False,
    )
