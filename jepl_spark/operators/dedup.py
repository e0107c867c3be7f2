"""Deduplication operators for training-data pipelines.

Exact, MinHash+LSH, SimHash, and n-gram-Jaccard variants, all expressed
with built-in Spark SQL functions (higher-order array lambdas,
``xxhash64``) — no Python UDFs, no driver-side loops.

Scale design:
- exact dedup: one shuffle keyed by content hash (not the full text —
  hash first, compare within hash buckets only if paranoid).
- MinHash LSH: signature computed per-row map-side; candidate
  generation explodes b band keys per doc (b≈8-16) and self-joins on
  the band key — only docs sharing a band collide, so the join is
  sparse.  Hot bands (boilerplate) are the skew risk: capped via
  ``max_band_bucket`` before the pair join.
- SimHash: per-row 64-bit signature; near-dup = same signature (or
  banded prefixes for Hamming>0 search).
- n-gram Jaccard: inverted index over shingle hashes with a document
  frequency cap to drop stop-shingles (the classic blowup control).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from jepl_spark.operators._guard import fits, plan_bytes


# -- exact ------------------------------------------------------------------


def content_hash(text: Column) -> Column:
    """128-bit content hash of normalized text (md5 hex)."""
    return F.md5(F.lower(F.trim(F.regexp_replace(text, r"\s+", " "))))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative per distinct content hash.
    One shuffle on the 128-bit hash; text itself never shuffles."""
    h = content_hash(F.col(text_col)).alias("__h")
    reps = (
        df.select(h, F.col(id_col))
        .groupBy("__h")
        .agg(F.min(id_col).alias(id_col))
        .drop("__h")
    )
    return df.join(reps, on=id_col, how="inner")


def exact_dedup_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-content-group stats (representative id + duplicate count)."""
    return (
        df.groupBy(content_hash(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .drop("content_hash")
    )


#: Column names the signature side-table builders emit — the contract
#: by which ``dedup_against`` recognizes a pre-hashed snapshot (and
#: therefore never re-reads the committed corpus's text).
MINHASH_SIG_COL = "minhash_sig"
SIMHASH_SIG_COL = "simhash_sig"


def minhash_signature_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """``(id_col, minhash_sig)`` snapshot side table: hash the
    committed corpus ONCE, write it to parquet next to the corpus, and
    pass it as ``existing`` to ``dedup_against(policy="minhash")`` for
    every subsequent delta — the corpus text is never re-shingled per
    ingest.  The signature parameters are baked into the table; deltas
    must dedup with the same (num_hashes, shingle_n)."""
    return df.select(
        F.col(id_col),
        minhash_signature_from_hashes(
            word_shingle_hashes(F.col(text_col), shingle_n), num_hashes
        ).alias(MINHASH_SIG_COL),
    )


def simhash_signature_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sig: Column | None = None,
) -> DataFrame:
    """``(id_col, simhash_sig)`` snapshot side table for
    ``dedup_against(policy="simhash")`` — one packed BIGINT per doc
    (8 bytes of state per committed document).  ``sig`` overrides the
    signature expression (any BIGINT column), the same escape hatch
    simhash_hamming_near_dups exposes for SQL-replayable gates."""
    s = sig if sig is not None else simhash64(F.col(text_col))
    return df.select(F.col(id_col), s.alias(SIMHASH_SIG_COL))


def _banded_cross_candidates(
    new_banded: DataFrame,
    old_banded: DataFrame,
    max_bucket: int | None,
) -> DataFrame:
    """``(__id_new, __id_old)`` pairs sharing ≥1 (band, key) ACROSS two
    banded ``(__id, __band, __key)`` frames — the cross-corpus sibling
    of ``banded_candidate_pairs`` (delta joined against a committed
    snapshot instead of a self-join).  Same scale rules: the hot-bucket
    cap applies per side BEFORE the join (a boilerplate bucket costs
    O(G_old·G_new) pairs), only (band, key, id) rides the shuffle —
    payloads re-attach in the caller — and cross-band duplicates of a
    pair collapse via distinct."""

    def capped(banded: DataFrame) -> DataFrame:
        if max_bucket is None:
            return banded
        from pyspark.sql.window import Window

        return (
            banded.withColumn(
                "__bucket_n",
                F.count(F.lit(1)).over(Window.partitionBy("__band", "__key")),
            )
            .where(F.col("__bucket_n") <= max_bucket)
            .drop("__bucket_n")
        )

    n = capped(new_banded).select(
        "__band", "__key", F.col("__id").alias("__id_new")
    )
    o = capped(old_banded).select(
        "__band", "__key", F.col("__id").alias("__id_old")
    )
    return (
        n.join(o, on=["__band", "__key"], how="inner")
        .select("__id_new", "__id_old")
        .distinct()
    )


def _minhash_against_losers_replicated(
    new_sigs: DataFrame,
    old_sigs: DataFrame,
    id_col: str,
    sig_col: str,
    bands: int,
    rows: int,
    cap: int | None,
    threshold: float,
    num_hashes: int,
) -> DataFrame:
    """Delta-vs-snapshot loser ids computed on the driver, for sides
    that fit the guard: both signature tables collect once, band keys
    come from ``_np_band_key_matrix``, per-side hot-bucket caps apply
    to exact bucket counts, candidates come from a binary search of
    the snapshot's per-band postings, and the matches/num_hashes ≥
    threshold test runs vectorized.  Replaces five exchanges of the
    banded join with two collects.  Semantics match the join path:
    candidates share ≥ 1 (band, key) surviving the caps, a doc loses
    if ANY candidate qualifies, and null signatures never band."""
    import numpy as np

    from pyspark.sql.types import StructType

    def collect_side(sigs: DataFrame, with_ids: bool):
        cols = [id_col, sig_col] if with_ids else [sig_col]
        tbl = sigs.select(*cols).toArrow()
        flat, _, valid = _ragged(tbl.column(sig_col))
        mat = flat.reshape(-1, num_hashes)
        ids = None
        if with_ids:
            ids = [v for v, ok in zip(tbl.column(id_col).to_pylist(), valid)
                   if ok]
        return mat, _np_band_key_matrix(mat, bands, rows), ids

    old_mat, old_keys, _ = collect_side(old_sigs, with_ids=False)
    new_mat, new_keys, new_ids = collect_side(new_sigs, with_ids=True)
    thr = float(threshold)
    nh = float(num_hashes)

    def capped_runs(sk):
        """keep-mask over a band's SORTED keys: bucket size ≤ cap."""
        if cap is None or not sk.size:
            return np.ones(sk.size, dtype=bool)
        starts = np.flatnonzero(np.r_[True, sk[1:] != sk[:-1]])
        counts = np.diff(np.r_[starts, sk.size])
        return np.repeat(counts <= cap, counts)

    n_new = new_mat.shape[0]
    cand_per_doc: list = [[] for _ in range(n_new)]
    if n_new and old_mat.shape[0]:
        for b in range(bands):
            order = np.argsort(old_keys[:, b], kind="stable")
            sk = old_keys[order, b]
            keep = capped_runs(sk)
            sk, order = sk[keep], order[keep]
            q = new_keys[:, b]
            # delta-side cap: exact global bucket counts of THIS band
            qorder = np.argsort(q, kind="stable")
            qkeep = np.empty(n_new, dtype=bool)
            qkeep[qorder] = capped_runs(q[qorder])
            lo = np.searchsorted(sk, q, "left")
            hi = np.searchsorted(sk, q, "right")
            for i in np.flatnonzero(qkeep & (lo < hi)):
                cand_per_doc[i].append(order[lo[i]:hi[i]])
    loser_ids = []
    seen: set = set()
    for i in range(n_new):
        if not cand_per_doc[i]:
            continue
        cand = np.unique(np.concatenate(cand_per_doc[i]))
        matches = (old_mat[cand] == new_mat[i]).sum(axis=1)
        if np.any(matches / nh >= thr):
            v = new_ids[i]
            if v not in seen:  # the join path's distinct
                seen.add(v)
                loser_ids.append((v,))

    spark = new_sigs.sparkSession
    return spark.createDataFrame(
        loser_ids, schema=StructType([new_sigs.schema[id_col]])
    )


def dedup_against(
    df: DataFrame,
    existing: DataFrame,
    text_col: str = "text",
    existing_text_col: str | None = None,
    id_col: str = "doc_id",
    policy: str = "exact",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_hamming: int = 3,
    sim_bands: int = 4,
    max_band_bucket: int | None | str = "auto",
    sig: Column | None = None,
) -> DataFrame:
    """Incremental-ingest dedup: drop rows of ``df`` whose content
    already exists in ``existing`` (the committed corpus) — the
    cross-run complement of the within-batch operators (exact_dedup /
    minhash_dedup), so a re-crawl or a daily delta dedups against
    yesterday's corpus without re-processing it.

    ``policy="exact"`` (default): normalized-content-hash membership.
    One LEFT-ANTI join on the 128-bit hash; the existing side projects
    only what the hash needs (column pruning — the old corpus's text
    never reads past the scan) and the new side's text never shuffles.

    ``policy="minhash"``: NEAR-duplicate membership — drop delta docs
    whose estimated Jaccard vs ANY committed doc is ≥ ``threshold``
    (re-crawls with trivial edits, the dominant duplicate class in
    incremental ingest).  MinHash signatures band exactly as
    minhash_candidates, but the banded join is delta-vs-snapshot, not
    a self-join: the snapshot side never pairs with itself, so cost is
    O(delta × collision rate), not O(corpus²).

    ``policy="simhash"``: NEAR-duplicate membership by packed-64-bit
    SimHash Hamming distance ≤ ``max_hamming``, banded as
    simhash_hamming_near_dups (lossless by pigeonhole while
    max_hamming < sim_bands).  ``sig`` overrides the delta side's
    signature expression; override the snapshot side by passing a
    ``simhash_signature_table(existing, sig=...)``.

    Snapshot side tables — hash the corpus ONCE, not per delta: if
    ``existing`` carries the ``minhash_sig`` / ``simhash_sig`` column
    (built by minhash_signature_table / simhash_signature_table and
    persisted to parquet), its text is never read; only the (id, sig)
    pairs are.  Passing the raw corpus works too but re-hashes it on
    every call.  For ``policy="exact"`` the same recipe is a persisted
    distinct-hash side table (pass it as ``existing`` with the hash in
    ``existing_text_col``'s place — or just anti-join it directly).

    Scale shape shared by both near-dup policies: only
    (band, key, id) rides the banded shuffle; signatures re-attach to
    the (tiny) candidate pair set by id; ``max_band_bucket`` caps hot
    buckets per side before the join ("auto" = 1000 for minhash,
    None for simhash — preserving simhash's lossless guarantee).
    Under ``policy="minhash"``, sides whose signatures and band keys
    fit the guard are probed on the driver instead.  The delta's
    losers materialize eagerly (ids only), so no cache outlives the
    call."""
    etc = existing_text_col or text_col
    if policy == "exact":
        hc = "__dedup_against_h"
        while hc in df.columns:  # never clobber a caller column
            hc += "_"
        old = existing.select(content_hash(F.col(etc)).alias(hc)).distinct()
        return (
            df.withColumn(hc, content_hash(F.col(text_col)))
            .join(old, hc, "left_anti")
            .drop(hc)
        )
    if policy not in ("minhash", "simhash"):
        raise ValueError(f"unknown policy {policy!r}")
    if id_col not in df.columns:
        raise ValueError(
            f"policy={policy!r} needs id column {id_col!r} in df "
            f"(signatures re-attach to candidate pairs by id)"
        )

    if policy == "minhash":
        if num_hashes % bands != 0:
            raise ValueError(
                f"num_hashes ({num_hashes}) must be divisible by bands "
                f"({bands})"
            )
        rows = num_hashes // bands
        cap = 1000 if max_band_bucket == "auto" else max_band_bucket
        sig_col = MINHASH_SIG_COL

        def build_sigs(frame: DataFrame, tcol: str) -> DataFrame:
            return minhash_signature_table(
                frame, tcol, id_col, num_hashes, shingle_n
            )

        def band_of(sigs: DataFrame) -> DataFrame:
            return sigs.select(
                F.col(id_col).alias("__id"),
                F.posexplode(
                    _minhash_bands_udf(bands, rows)(F.col(sig_col))
                ).alias("__band", "__key"),
            )

        def qualifies(sa: Column, sb: Column) -> Column:
            matches = F.size(
                F.filter(F.zip_with(sa, sb, lambda x, y: x == y),
                         lambda eq: eq)
            )
            return (
                matches.cast("double") / F.lit(float(num_hashes))
                >= F.lit(threshold)
            )

    else:  # simhash
        if 64 % sim_bands != 0:
            raise ValueError(f"sim_bands ({sim_bands}) must divide 64")
        if max_hamming >= sim_bands:
            raise ValueError(
                f"max_hamming ({max_hamming}) must be < sim_bands "
                f"({sim_bands}): the pigeonhole recall guarantee needs "
                f"one untouched band per qualifying pair"
            )
        width = 64 // sim_bands
        mask = (1 << width) - 1
        cap = None if max_band_bucket == "auto" else max_band_bucket
        sig_col = SIMHASH_SIG_COL

        def build_sigs(frame: DataFrame, tcol: str) -> DataFrame:
            s = sig if frame is df and sig is not None else None
            return simhash_signature_table(frame, tcol, id_col, sig=s)

        def band_of(sigs: DataFrame) -> DataFrame:
            return sigs.select(
                F.col(id_col).alias("__id"),
                F.posexplode(
                    F.array(*[
                        F.shiftrightunsigned(
                            F.col(sig_col), width * b
                        ).bitwiseAND(F.lit(mask))
                        for b in range(sim_bands)
                    ])
                ).alias("__band", "__key"),
            )

        def qualifies(sa: Column, sb: Column) -> Column:
            return hamming64(sa, sb) <= F.lit(max_hamming)

    # snapshot path: a pre-hashed side table is used as-is (its text,
    # if any, never reads); the raw-corpus path computes and caches
    old_is_table = sig_col in existing.columns
    if old_is_table:
        if id_col not in existing.columns:
            raise ValueError(
                f"signature table is missing id column {id_col!r}"
            )
        old_sigs = existing.select(id_col, sig_col)
    else:
        old_sigs = build_sigs(existing, etc).persist()
    new_sigs = build_sigs(df, text_col).persist()

    losers = None
    if policy == "minhash":
        # local probe when both sides' collected matrices fit the
        # guard: per row, num_hashes signature longs plus `bands` band
        # keys.  Counting the persisted delta materializes the cache
        # the collect (or the banded join) then reads.
        n_rows = new_sigs.count() + old_sigs.count()
        if fits("minhash_against", n_rows * (num_hashes + bands) * 8):
            losers = _minhash_against_losers_replicated(
                new_sigs, old_sigs, id_col, sig_col, bands, rows, cap,
                threshold, num_hashes,
            )
    if losers is None:
        cands = _banded_cross_candidates(
            band_of(new_sigs), band_of(old_sigs), cap
        )
        sa = new_sigs.select(
            F.col(id_col).alias("__id_new"), F.col(sig_col).alias("__sa")
        )
        sb = old_sigs.select(
            F.col(id_col).alias("__id_old"), F.col(sig_col).alias("__sb")
        )
        losers = (
            cands.join(sa, "__id_new").join(sb, "__id_old")
            .filter(qualifies(F.col("__sa"), F.col("__sb")))
            .select(F.col("__id_new").alias(id_col))
            .distinct()
            .localCheckpoint(eager=True)  # ids only, ≤ |delta| rows
        )
    new_sigs.unpersist()
    if not old_is_table:
        old_sigs.unpersist()
    return df.join(losers, on=id_col, how="left_anti")


def stream_exact_dedup(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup for training-data ingest: first occurrence
    of each normalized-content hash passes through, later copies are
    dropped.  Rows are emitted immediately (dedup state filters, it
    does not hold rows), so this composes in front of windowed
    aggregation / the exactly-once sink without adding latency.

    With ``ts_col``: ``dropDuplicatesWithinWatermark`` — state for a
    hash is evicted once the event-time watermark passes its timestamp
    + delay, so state is bounded by the stream's rate × delay (the only
    shape that survives an unbounded 10¹²-clip stream).  A duplicate
    arriving after its original's state was evicted is re-emitted —
    that is the documented contract of watermark-bounded dedup, not a
    bug; size ``watermark`` to the ingest pipeline's real dedup horizon.

    Without ``ts_col``: plain ``dropDuplicates`` on the hash —
    exact-forever dedup with state that grows with distinct content;
    only for bounded backfills."""
    out = stream.withColumn("content_hash", content_hash(F.col(text_col)))
    if ts_col is None:
        return out.dropDuplicates(["content_hash"])
    return out.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["content_hash"]
    )


# -- shingling ---------------------------------------------------------------
#
# numpy twin of Spark's XxHash64 on BIGINT inputs (validated bit-exact
# against `xxhash64(a)` and the chained-seed `xxhash64(a, b)` form):
# the shingle/window chain combines are k−1 levels of
# xxhash64(prefix_hash, token_hash), which as interpreted higher-order
# array lambdas cost ~0.8 µs/element — the dominant term of every
# shingle-hashing lane (measured 17.7 s for n=8 over 50k docs at
# sf1.0).  The hybrid keeps tokenization + per-token STRING hashing on
# the JVM (one cheap pass) and runs the chain levels vectorized over
# the whole Arrow batch (guide §4.2), where the same math is ~12 C
# ops/element: n=8 shingling drops to ~4 s.  Values are identical, so
# every downstream consumer (df counts, banding, oracles) is unchanged.

_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5


def _np_hash_long(l, seed):
    """Spark ``XxHash64.hashLong(l, seed)`` over uint64 numpy arrays
    (wraparound arithmetic; callers wrap in errstate(over='ignore'))."""
    import numpy as np

    p1, p2 = np.uint64(_XXH_P1), np.uint64(_XXH_P2)
    r31, r27, r33, r29, r32, r37 = (np.uint64(x) for x in
                                    (31, 27, 33, 29, 32, 37))
    h = seed + np.uint64(_XXH_P5) + np.uint64(8)
    k = l * p2
    k = ((k << r31) | (k >> r33)) * p1
    h = h ^ k
    h = ((h << r27) | (h >> r37)) * p1 + np.uint64(_XXH_P4)
    h ^= h >> r33
    h *= p2
    h ^= h >> r29
    h *= np.uint64(_XXH_P3)
    h ^= h >> r32
    return h


def _np_chain(H, levels: int):
    """The k−1 chain-combine levels over a CONCATENATED token-hash
    array: C[i] ← xxhash64(C[i], H[i+j]) per level j.  Row boundaries
    need no masking — positions whose window would cross into the next
    row are discarded by ``_np_windows`` (level j only reaches j ≤ k−1
    past a window start, which stays inside the row for every KEPT
    start; levels past the array's end have no kept start)."""
    import numpy as np

    C = H.copy()
    with np.errstate(over="ignore"):
        for j in range(1, min(levels, H.size)):
            s = _np_hash_long(C[: H.size - j], np.uint64(42))
            C[: H.size - j] = _np_hash_long(H[j:], s)
    return C


# -- the Arrow ragged-array kernel -------------------------------------------
#
# Every shingle-based operator crosses to Python with one per-document
# ``array<long>`` (token hashes or a signature).  ``_ragged`` unpacks
# an Arrow batch of those into one flat array plus per-row lengths,
# each kernel step below is one numpy function over (flat, lens), and
# ``_pack`` hands the result back as an Arrow list array: no per-row
# Python on either side of the boundary.


def _ragged(lists):
    """Arrow integer-list array (or chunked array) → ``(flat uint64,
    lens int64, valid bool)``: the concatenated values of the rows as
    64-bit words, each row's length (0 for a NULL row, whose values
    ``flatten`` skips) and its validity."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(lists, pa.ChunkedArray):
        lists = lists.combine_chunks()
    flat = lists.flatten().to_numpy(zero_copy_only=False)
    lens = pc.fill_null(pc.list_value_length(lists), 0)
    return (flat.astype(np.int64, copy=False).view(np.uint64),
            lens.to_numpy(zero_copy_only=False).astype(np.int64),
            lists.is_valid().to_numpy(zero_copy_only=False))


def _pack(values, lens, valid):
    """The inverse of ``_ragged``: an Arrow ``list<long>`` array whose
    row i holds the next ``lens[i]`` of ``values`` (raveled, any 64-bit
    integer dtype); rows with ``valid`` False are NULL and hold none."""
    import numpy as np
    import pyarrow as pa

    offsets = np.zeros(lens.size + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    return pa.ListArray.from_arrays(
        offsets, np.ravel(values).view(np.int64), mask=pa.array(~valid))


def _np_windows(C, lens, k: int):
    """Window slice of a chained ragged array: row i keeps its first
    max(lens[i] − k + 1, 0) positions, the starts whose chain stayed
    inside the row.  Returns (values, lens)."""
    import numpy as np

    out = np.maximum(lens - (k - 1), 0)
    pos = np.arange(C.size) - np.repeat(np.cumsum(lens) - lens, lens)
    return C[pos < np.repeat(out, lens)], out


def _np_distinct(vals, lens):
    """Per-row distinct values in first-occurrence order.  A lexsort by
    (row, value) is stable, so each run's head is the first occurrence;
    keeping the heads in array order keeps that order.  Returns
    (values, lens)."""
    import numpy as np

    row = np.repeat(np.arange(lens.size), lens)
    order = np.lexsort((vals, row))
    sv, sr = vals[order], row[order]
    head = np.ones(vals.size, dtype=bool)
    head[1:] = (sv[1:] != sv[:-1]) | (sr[1:] != sr[:-1])
    keep = np.zeros(vals.size, dtype=bool)
    keep[order[head]] = True
    return vals[keep], np.bincount(row[keep], minlength=lens.size)


def _np_shingles(th, fb, n: int):
    """Arrow token hashes + fallback hashes → ragged ``(values, lens,
    valid)`` distinct shingle hashes: chain, window slice, per-row
    distinct, and the one fallback hash for a row shorter than n."""
    import numpy as np

    H, lens, valid = _ragged(th)
    vals, cnt = _np_distinct(*_np_windows(_np_chain(H, n), lens, n))
    short = valid & (lens < n)  # no windows: cnt is 0
    fb = fb.to_numpy(zero_copy_only=False).view(np.uint64)
    vals = np.insert(vals, (np.cumsum(cnt) - cnt)[short], fb[short])
    return vals, cnt + short, valid


def _token_hashes(toks: Column) -> Column:
    """Per-token xxhash64 (JVM: variable-length string hashing has no
    cheap numpy twin; the chain levels do — see above)."""
    return F.transform(toks, lambda t: F.xxhash64(t))


def _shingle_chain_udf(n: int):
    """Arrow UDF: (token_hashes array<long>, fallback long) → distinct
    shingle hashes, first-occurrence order — the numpy half of
    ``word_shingle_hashes``."""
    from pyspark.sql.functions import arrow_udf

    def _f(th, fb):
        return _pack(*_np_shingles(th, fb, n))

    return arrow_udf(_f, "array<long>")


def _window_chain_udf(k: int):
    """Arrow UDF: token_hashes → positional window hashes (the numpy
    half of ``window_hash_positions``; no distinct, no fallback)."""
    from pyspark.sql.functions import arrow_udf

    def _f(th):
        H, lens, valid = _ragged(th)
        return _pack(*_np_windows(_np_chain(H, k), lens, k), valid)

    return arrow_udf(_f, "array<long>")


def _norm_tokens(text: Column) -> Column:
    """Lower-cased whitespace tokens, identical to the classic
    regexp_replace(\\s+ → ' ') + trim + split(' ') normalization:
    anchored edge-trim (Spark's trim() strips only ASCII spaces, so a
    plain trim silently keeps tab/newline edges — review r4) followed
    by a \\s+ split.  Measured as fast as the classic form and ~2.4×
    faster than a split-then-filter-empties wrapper; empty /
    all-whitespace text yields the [""] singleton in both forms."""
    return F.split(F.lower(F.regexp_replace(text, r"^\s+|\s+$", "")), r"\s+")


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of normalized text, as STRINGS.
    Human-readable form; the dedup operators use ``word_shingle_hashes``
    instead — building the strings costs ~6× the whole hashed pipeline
    (measured at sf0.1: 6.3 s strings+hash vs 1.0 s hash-combine)."""
    toks = _norm_tokens(text)
    return F.when(F.size(toks) < n, F.array_distinct(F.array(F.concat_ws(" ", toks)))).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
            )
        )
    )


def word_shingle_hashes(text: Column, n: int = 3) -> Column:
    """Distinct 64-bit hashes of word n-gram shingles, built WITHOUT
    materializing shingle strings: each token hashes once (xxhash64,
    JVM), then shingle hashes chain-combine the n token hashes via
    xxhash64(prefix_hash, next_token_hash) — order-sensitive.  The
    chain levels run as ONE vectorized Arrow stage over the
    concatenated batch (the numpy xxhash64 twin above): the
    interpreted zip_with form they replace cost 0.8 µs/element
    (17.7 s for n=8 at sf1.0, the dominant term of every shingling
    lane); values are bit-identical, so distinct-shingle-set semantics
    are unchanged.  Equal string shingles ⇔ equal token tuples ⇔ equal
    combined hashes (modulo 64-bit collisions — the same risk the
    operators already accepted when hashing shingle strings).

    Shorter-than-n texts hash their full token join (one shingle),
    matching word_shingles' short-text form; NULL text → NULL."""
    toks = _norm_tokens(text)
    return _shingle_chain_udf(n)(
        _token_hashes(toks), F.xxhash64(F.concat_ws(" ", toks))
    )


def banded_candidate_pairs(
    banded: DataFrame,
    max_bucket: int | None,
    dedup: bool = True,
) -> DataFrame:
    """Candidate id pairs from a banded ``(__id, __band, __key)`` frame —
    the shared core of the MinHash / embedding-LSH / SimHash-Hamming
    candidate generators, so the scale lessons live in ONE place:

    - the hot-bucket cap (``max_bucket``; ``None`` disables) is applied
      BEFORE the self-join — the explicit skew control that keeps a
      boilerplate bucket from turning into an O(bucket²) task;
    - only (band, key, id) rides the self-join shuffle — payloads
      (signatures / vectors) re-attach to the resulting pair set in the
      caller;
    - ``dedup`` removes cross-band duplicates of a pair (skip it only
      when each id provably emits one band, e.g. single-table LSH).

    Returns (id_a, id_b) with id_a < id_b."""
    from pyspark.sql.window import Window

    if max_bucket is not None:
        # bucket sizes via count() OVER (PARTITION BY band, key): one
        # exchange, no groupBy+join back, and the window's partitioning
        # is exactly the self-join key so the join below reuses it
        banded = (
            banded.withColumn(
                "__bucket_n",
                F.count(F.lit(1)).over(Window.partitionBy("__band", "__key")),
            )
            .where(F.col("__bucket_n") <= max_bucket)
            .drop("__bucket_n")
        )
    a = banded.select("__band", "__key", F.col("__id").alias("id_a"))
    b = banded.select("__band", "__key", F.col("__id").alias("id_b"))
    pairs = (
        a.join(b, on=["__band", "__key"], how="inner")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    return pairs.distinct() if dedup else pairs


# -- MinHash + LSH -------------------------------------------------------------


_MH_PRIME = (1 << 31) - 1  # Mersenne prime 2^31−1


def _minhash_coeffs(num_hashes: int, seed: int = 0x9E3779B9) -> tuple[list[int], list[int]]:
    """Deterministic universal-hash coefficients over GF(p), p = 2^31−1:
    a_i in [1, p), b_i in [0, p).  The mod-p step is what makes each
    h_i a (near-)random PERMUTATION of the base hash — without it,
    a_i·h + b_i is monotone in h and all num_hashes functions would
    pick the same minimum shingle.  Bounds keep a_i·h + b_i < 2^62, so
    no Java long overflow (Spark 4 runs ANSI mode: overflow raises)."""
    import random as _random

    rng = _random.Random(seed)
    a = [rng.randrange(1, _MH_PRIME) for _ in range(num_hashes)]
    b = [rng.randrange(0, _MH_PRIME) for _ in range(num_hashes)]
    return a, b


def _np_signature(H, lens, num_hashes: int):
    """(rows, num_hashes) uint64 MinHash signatures of ragged shingle
    hashes: h32 = fold(h) to 32 bits mod p, then sig_i = min over the
    row of (a_i·h32 + b_i) mod p; an empty row stays all zero.
    a_i·h32 + b_i < 2^62, so uint64 never wraps and ``% p`` equals the
    JVM ``pmod``."""
    import numpy as np

    P = np.uint64(_MH_PRIME)
    base = ((H >> np.uint64(32)) ^ (H & np.uint64(0xFFFFFFFF))) % P
    sig = np.zeros((lens.size, num_hashes), dtype=np.uint64)
    full = lens > 0
    if full.any():
        starts = (np.cumsum(lens) - lens)[full]
        sig[full] = np.stack([
            np.minimum.reduceat((np.uint64(a) * base + np.uint64(b)) % P,
                                starts)
            for a, b in zip(*_minhash_coeffs(num_hashes))
        ], axis=1)
    return sig


def minhash_signature_from_hashes(hashes: Column, num_hashes: int = 64) -> Column:
    """MinHash signature from per-shingle 64-bit hashes + a multiply-
    shift universal-hash family: h32 = fold(h) to 32 bits mod p
    (p = 2^31−1), then sig_i = min over shingles of (a_i·h32 + b_i)
    mod p.  Empty shingle sets → all-zero signature; NULL → NULL.

    Executed as ONE vectorized Arrow stage (``_np_signature``,
    bit-identical to the JVM form it replaces): the interpreted
    aggregate-of-zip_with form allocated a num_hashes-element array
    per shingle — measured ~30 s of the 49 s minhash lane at sf1.0
    (50k docs × ~52 shingles × 64 seeds); the numpy outer product +
    segmented min is ~1 s."""
    from pyspark.sql.functions import arrow_udf

    def _f(h):
        H, lens, valid = _ragged(h)
        sig = _np_signature(H, lens[valid], num_hashes)
        return _pack(sig, valid * num_hashes, valid)

    return arrow_udf(_f, "array<long>")(hashes)


def _np_band_key_matrix(sig_u, bands: int, rows: int):
    """(n, bands·rows) uint64 signature matrix → (n, bands) int64 band
    keys: the numpy xxhash64 twin chained over each r-slice + band
    index, i.e. Spark's ``xxhash64(slice…, CAST(b AS BIGINT))``.  The
    one band-key computation, shared by the banding UDF, the fused doc
    pass and the replicated dedup_against probe (equal slices ⇔ equal
    keys, the only property banding uses)."""
    import numpy as np

    keys = np.empty((sig_u.shape[0], bands), dtype=np.int64)
    with np.errstate(over="ignore"):
        for b_i in range(bands):
            acc = np.full(sig_u.shape[0], 42, dtype=np.uint64)
            for j in range(rows):
                acc = _np_hash_long(sig_u[:, b_i * rows + j], acc)
            acc = _np_hash_long(
                np.uint64(b_i) * np.ones(1, dtype=np.uint64), acc
            )
            keys[:, b_i] = acc.view(np.int64)
    return keys


def _minhash_bands_udf(bands: int, rows: int):
    """Arrow UDF: signature array<long> → band keys array<long> via
    ``_np_band_key_matrix`` (no long→string casts or concat per doc).
    Used by ``dedup_against`` where signatures come from a pre-built
    snapshot and must band at query time."""
    from pyspark.sql.functions import arrow_udf

    def _f(sig):
        flat, _, valid = _ragged(sig)
        keys = _np_band_key_matrix(flat.reshape(-1, bands * rows),
                                   bands, rows)
        return _pack(keys, valid * bands, valid)

    return arrow_udf(_f, "array<long>")


def _minhash_doc_udf(shingle_n: int, num_hashes: int, bands: int):
    """Fused per-document minhash pass: (token_hashes, fallback) →
    struct(sig array<long>, bands array<long>) in ONE Arrow crossing —
    ``_np_shingles``, ``_np_signature`` and ``_np_band_key_matrix``
    composed in a single vectorized stage (the split form paid two
    Python crossings plus JVM band-key STRING building: 16 bands × 4
    long→string casts + concat per doc).  The key VALUES are internal
    to the self-join and never reach operator output.  A NULL text
    gives a struct of NULLs."""
    import pyarrow as pa
    from pyspark.sql.functions import arrow_udf

    def _f(th, fb):
        S, lens, valid = _np_shingles(th, fb, shingle_n)
        sig = _np_signature(S, lens[valid], num_hashes)
        keys = _np_band_key_matrix(sig, bands, num_hashes // bands)
        return pa.StructArray.from_arrays(
            [_pack(sig, valid * num_hashes, valid),
             _pack(keys, valid * bands, valid)],
            names=["sig", "bands"],
        )

    return arrow_udf(_f, "struct<sig:array<long>,bands:array<long>>")


def minhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_band_bucket: int = 1000,
    materialize: bool = True,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) sharing ≥1 LSH band,
    annotated with estimated Jaccard = fraction of matching minhashes.

    ``max_band_bucket`` drops degenerate hot buckets (boilerplate
    collisions) before the self-join — the explicit skew control.
    ``materialize=False`` returns the fully LAZY plan with no persist /
    checkpoint side effects (signatures recompute per consumer) — for
    plan audits and composition into larger pipelines that manage their
    own caching."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands "
            f"({bands}): leftover hashes would be silently excluded "
            f"from banding while est_jaccard still averaged over all "
            f"of them — not the (b, r) scheme the caller computed"
        )
    # Cache the signature table: it feeds four consumers (banding,
    # bucket sizing, both sides of the pair join) and would otherwise
    # recompute the signatures per consumer.  persist(), not
    # localCheckpoint — a lazy localCheckpoint re-evaluates per consumer
    # within the first job (measured 20× slower).  The cache is
    # released before returning: the (small) candidate-pair result is
    # eagerly materialized below, then base.unpersist() runs — no cache
    # entry outlives the call (round-1 leak squatted on storage memory
    # through the next bench query).
    toks = _norm_tokens(F.col(text_col))
    base = df.select(
        F.col(id_col).alias("__id"),
        _minhash_doc_udf(shingle_n, num_hashes, bands)(
            _token_hashes(toks), F.xxhash64(F.concat_ws(" ", toks))
        ).alias("__sb"),
    ).select(
        "__id",
        F.col("__sb.sig").alias("__sig"),
        F.col("__sb.bands").alias("__bands"),
    )
    if materialize:
        base = base.persist()
    # banding carries ONLY (id, band, bandkey): the 64-long signature
    # array must not ride the ×bands explode and the skew-cap join —
    # it re-attaches to the (tiny) candidate pair set at the end
    banded = base.select(
        "__id",
        F.posexplode(F.col("__bands")).alias("__band", "__key"),
    )
    pairs = banded_candidate_pairs(banded, max_band_bucket)
    sig_a = base.select(F.col("__id").alias("id_a"), F.col("__sig").alias("__sig_a"))
    sig_b = base.select(F.col("__id").alias("id_b"), F.col("__sig").alias("__sig_b"))
    pairs = pairs.join(sig_a, "id_a").join(sig_b, "id_b")
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("__sig_a"), F.col("__sig_b"), lambda x, y: x == y),
                lambda eq: eq,
            )
        ).cast("double")
        / F.lit(float(num_hashes))
    )
    out = pairs.select("id_a", "id_b", est.alias("est_jaccard"))
    if materialize:
        # Materialize the candidate pairs (tiny vs the corpus: banded +
        # bucket-capped), then drop the signature cache.  Executor-local
        # checkpoint blocks hold only (id, id, double) rows, so this is
        # safe at cluster scale too, and the operator leaves no cache
        # entry behind.
        out = out.localCheckpoint(eager=True)
        base.unpersist()
    return out


def _long_ids(df: DataFrame, cols: tuple, lazy: bool = False):
    """Map the id columns ``cols`` of ``df`` to one ORDER-PRESERVING
    long surrogate, for pair operators whose id paths pack, compare and
    propagate longs.  Returns ``(df', back)``: ``df'`` carries the
    surrogates in place of the ids, and ``back(out, *out_cols)`` maps
    the named surrogate columns of a result back to the ids.  Integral
    ids (byte/short/int/long) return ``df`` as is, and ``back`` is the
    identity.

    The surrogate tags the distinct non-null ids, sorted, with
    ``monotonically_increasing_id``: a range-partitioned sort keeps id
    order across partitions (the partition index is the tag's high
    bits), so a smaller surrogate always means a smaller id and ``<``
    or ``min`` on surrogates answers for the ids.  An eager
    localCheckpoint freezes it, so every consumer joins ONE assignment.
    Ids map in by a LEFT join: a null id keeps a null surrogate and its
    row still counts (e.g. toward a shingle's document frequency).
    ``lazy=True`` (a side-effect-free plan) raises for non-integral
    ids, whose surrogate needs that eager checkpoint."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    integral = (ByteType, ShortType, IntegerType, LongType)
    if all(isinstance(df.schema[c].dataType, integral) for c in cols):
        return df, lambda out, *out_cols: out
    if lazy:
        raise ValueError(
            "materialize=False needs integral ids: non-integral ids map "
            "through a long surrogate frozen by an eager localCheckpoint"
        )
    oids = df.select(F.col(cols[0]).alias("__oid"))
    for c in cols[1:]:
        oids = oids.unionByName(df.select(F.col(c).alias("__oid")))
    mapping = (
        oids.where(F.col("__oid").isNotNull())
        .distinct()
        .orderBy("__oid")
        .withColumn("__sid", F.monotonically_increasing_id())
        .localCheckpoint(eager=True)
    )

    def _swap(frame: DataFrame, c: str, key: str, val: str, how: str):
        m = mapping.select(F.col(key).alias(c), F.col(val).alias("__v"))
        return frame.join(m, c, how).withColumn(c, F.col("__v")).drop("__v")

    for c in cols:
        df = _swap(df, c, "__oid", "__sid", "left")

    def back(out: DataFrame, *out_cols: str) -> DataFrame:
        names = out.columns
        for c in out_cols:
            out = _swap(out, c, "__sid", "__oid", "inner")
        return out.select(*names)

    return df, back


def near_dup_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 64,
    jumps: int = 2,
) -> DataFrame:
    """Connected components over a near-duplicate candidate-pair edge
    list: returns ``(id, component)`` for every id that appears in
    ``pairs``, where ``component`` is the SMALLEST id reachable through
    the (undirected) pair graph — the canonical representative of each
    fuzzy cluster.

    Why this exists: pair policies ("drop id_b of every qualifying
    pair") retain multiple representatives of one cluster when
    similarity is non-transitive — given edges (0,2) and (1,2) only,
    the pair policy keeps BOTH 0 and 1.  Resolving components first is
    the standard corpus-dedup shape (one canonical doc per cluster).

    Id types: integral ids (byte/short/int/long) propagate directly
    (labels ARE ids).  Any other id type — string/UUID, decimal,
    float — propagates on its order-preserving long surrogate
    (:func:`_long_ids`) and both ``id`` and ``component`` map back:
    the smallest surrogate IS the smallest original id (lexicographic
    for strings), so the "smallest reachable id" contract holds for
    every id type.

    Algorithm: iterative min-label propagation with pointer jumping
    (label(x) ← min over neighbors' labels, then ``jumps`` rounds of
    label(x) ← label(label(x))).  ``jumps=2`` (default) compresses
    reach ~4× per round (measured ~20% faster than one jump on 32-deep
    chains); ``jumps=1`` suits known-shallow graphs.  Every round's
    frames are ids-only (long, long) shuffles, each round's lineage is
    cut by ``localCheckpoint``, and the monotone fixpoint (no label
    changed) IS the component labeling; a miss within ``max_rounds``
    raises.  An edge set that fits the guard (16 bytes per edge) runs
    the same pointer jumping in one task instead (``_components_local``).
    """
    if jumps < 1:
        raise ValueError(f"jumps must be >= 1, got {jumps}")
    for c in (id_a, id_b):
        if c not in pairs.columns:
            raise ValueError(
                f"pair column {c!r} not in input columns {pairs.columns}"
            )
    pairs, back = _long_ids(pairs, (id_a, id_b))
    edges = (
        pairs.select(
            F.col(id_a).cast("long").alias("src"),
            F.col(id_b).cast("long").alias("dst"),
        )
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
    )
    edges = (
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Small-graph fast path: near-dup pair graphs are typically tiny
    # vs the corpus (thresholded pairs).  The edge set is already
    # materialized by the checkpoint above, so counting it is a
    # block-read; when the graph fits the guard's budget it collects
    # (exactly 16 B/edge: two longs), broadcasts, and ONE executor
    # task runs in-memory pointer jumping to the exact same min-label
    # fixpoint — the distributed loop's ~5 rounds of multi-stage joins
    # (measured ~1.1 s/round of pure scheduling at 200k edges)
    # collapse to one job.  Larger graphs keep the iterative ids-only
    # rounds below.
    if fits("near_dup_components", 16 * edges.count()):
        return back(_components_local(edges), "id", "component")
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("component"))
        .localCheckpoint(eager=True)
    )

    def _label_sum(df: DataFrame):
        return df.agg(
            F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
        ).first()["s"]

    prev_sum = _label_sum(labels)
    for _ in range(max_rounds):
        # min over the closed neighborhood in ONE exchange: neighbor
        # labels union self-labels, then a single groupBy-min (vs a
        # separate nbr-min aggregation re-joined onto labels)
        nbr = edges.join(
            labels.select(
                F.col("id").alias("dst"), F.col("component").alias("__c")
            ),
            "dst",
        ).select(F.col("src").alias("id"), "__c")
        prop = (
            nbr.unionByName(labels.select("id", F.col("component").alias("__c")))
            .groupBy("id")
            .agg(F.min("__c").alias("component"))
        )
        # pointer jumps THROUGH the freshly-propagated mapping: labels
        # are themselves node ids, so label(label(x)) is one self-join
        # and each jump composes the map with itself
        jumped = prop
        for _j in range(jumps):
            jumped = jumped.join(
                jumped.select(
                    F.col("id").alias("component"),
                    F.col("component").alias("__cc"),
                ),
                "component",
            ).select("id", F.col("__cc").alias("component"))
        # LAZY checkpoint: the label-sum action right below is the
        # frame's only consumer until it is materialized, so fusing
        # materialization into that job saves one full job round-trip
        # per iteration (eager + sum paid two); later consumers (the
        # next round's joins) read the already-materialized blocks.
        jumped = jumped.localCheckpoint(eager=False)
        # convergence via an exact label-sum: labels are MONOTONE
        # NON-INCREASING, so the sum is constant iff no label moved —
        # one aggregation over the checkpointed frame instead of a
        # 2×|V| change-detection join per round.  decimal(38,0) keeps
        # the sum exact far past any int64 corpus (10^12 ids × 10^12
        # max id = 10^24 < 10^38).
        new_sum = _label_sum(jumped)
        labels = jumped
        if new_sum == prev_sum:
            return back(labels.select("id", "component"), "id", "component")
        prev_sum = new_sum
    raise RuntimeError(
        f"near_dup_components did not converge in {max_rounds} rounds — "
        f"component diameter exceeds 2^{max_rounds}, which should be "
        f"impossible; refusing to return a partial clustering"
    )


def _components_local(edges: DataFrame) -> DataFrame:
    """Exact min-label connected components of an edge frame that fits
    the guard, by vectorized pointer jumping in one executor task over
    ids sorted ascending (min code ⇔ min id) — the distributed loop's
    monotone fixpoint, so the labeling is identical."""
    import numpy as np
    import pyarrow as pa

    from pyspark.sql.types import LongType, StructField, StructType

    spark = edges.sparkSession
    tbl = edges.toArrow().combine_chunks()
    if tbl.num_rows == 0:
        return spark.createDataFrame(
            [], "id long, component long"
        )
    src = tbl.column("src").to_numpy(zero_copy_only=False)
    dst = tbl.column("dst").to_numpy(zero_copy_only=False)
    bc = spark.sparkContext.broadcast((src, dst))

    out_schema = StructType([
        StructField("id", LongType()),
        StructField("component", LongType()),
    ])

    def _solve(batches):
        seen = False
        for _b in batches:
            seen = True
        if not seen:
            return
        s, d = bc.value
        ids = np.unique(np.concatenate([s, d]))  # ascending ⇒ id order
        u = np.searchsorted(ids, s)
        v = np.searchsorted(ids, d)
        lbl = np.arange(ids.size, dtype=np.int64)
        while True:
            prev = lbl.copy()
            nbr = lbl.copy()
            np.minimum.at(nbr, u, lbl[v])
            lbl = np.minimum(lbl, nbr)
            lbl = lbl[lbl]
            lbl = lbl[lbl]
            if np.array_equal(lbl, prev):
                break
        yield pa.RecordBatch.from_arrays(
            [pa.array(ids), pa.array(ids[lbl])],
            names=["id", "component"],
        )

    out = spark.range(0, 1, 1, 1).mapInArrow(
        _solve, out_schema
    ).localCheckpoint(eager=True)
    bc.unpersist()
    return out


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    policy: str = "pairs",
    **kw,
) -> DataFrame:
    """Near-dup dedup by estimated Jaccard ≥ ``threshold``.

    ``policy="pairs"`` (default): drop docs with a LOWER-id qualifying
    neighbor — one join, but non-transitive similarity can leave two
    representatives of one fuzzy cluster (see near_dup_components).

    ``policy="components"``: resolve connected components of the
    qualifying pair graph first and keep exactly the minimum id of
    each cluster — the standard corpus-dedup shape; costs O(log
    diameter) extra ids-only rounds over the (thresholded, tiny
    vs corpus) pair set."""
    if policy not in ("pairs", "components"):
        raise ValueError(f"unknown policy {policy!r}")
    cands = minhash_candidates(df, text_col, id_col, **kw).filter(
        F.col("est_jaccard") >= threshold
    )
    if policy == "components":
        losers = (
            near_dup_components(cands)
            .where(F.col("id") != F.col("component"))
            .select(F.col("id").alias(id_col))
        )
    else:
        losers = cands.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


# -- SimHash ------------------------------------------------------------------


_SIGNS_TABLE = None


def _byte_signs_table() -> Column:
    """Literal 256×8 lookup: byte value → its 8 bits as ±1 (MSB first).
    Folded into the plan once; avoids per-bit string ops entirely."""
    global _SIGNS_TABLE
    if _SIGNS_TABLE is None:
        _SIGNS_TABLE = F.lit(
            [
                [1 if (v >> (7 - i)) & 1 else -1 for i in range(8)]
                for v in range(256)
            ]
        )
    return _SIGNS_TABLE


def simhash64(text: Column) -> Column:
    """64-bit SimHash over whitespace tokens, packed into one BIGINT
    (bit p of the hash = bit 63−p of the long): bit p is 1 iff the sum
    over tokens of ±1 (by bit p of xxhash64(token)) ≥ 0.

    Implementation: one pass over tokens; each 64-bit hash splits into
    8 bytes, each byte maps to its ±1 octet through a literal 256-entry
    lookup, and an array accumulator adds them — ~10× faster than
    per-bit string extraction, still pure JVM-side SQL.  The final
    packing is a weighted sum over literal powers of two (the MSB's
    2^63 weight is applied as the two's-complement offset, since +2^63
    itself overflows a Java long under ANSI mode).  A packed long is
    8 bytes stored/shuffled per document vs 64 for the bit-string form
    it replaces, and feeds xor+bit_count Hamming search directly.
    Tokenization shares _norm_tokens (classic-normalization-identical)."""
    toks = _norm_tokens(text)
    table = _byte_signs_table()

    def signs_of(t: Column) -> Column:
        h = F.xxhash64(t)
        octets = [
            F.element_at(
                table,
                (F.shiftrightunsigned(h, 56 - 8 * k).bitwiseAND(F.lit(255)) + 1)
                .cast("int"),
            )
            for k in range(8)
        ]
        return F.concat(*octets)

    sums = F.aggregate(
        toks,
        F.array_repeat(F.lit(0), 64),
        lambda acc, t: F.zip_with(acc, signs_of(t), lambda a, s: a + s),
    )
    # weights[0] = 0: the MSB cannot carry +2^63 in a signed long, so it
    # is folded in afterwards as the two's-complement offset −2^63
    weights = F.lit([0] + [1 << (63 - i) for i in range(1, 64)]).cast("array<long>")
    body = F.aggregate(
        F.zip_with(
            sums, weights,
            lambda s, w: F.when(s >= 0, w).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, v: a + v,
    )
    return F.when(
        F.element_at(sums, 1) >= 0, body + F.lit(-(1 << 63)).cast("long")
    ).otherwise(body)


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two packed 64-bit signatures."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_hamming_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
    sig: Column | None = None,
    max_band_bucket: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance ≤ ``max_hamming``
    via banded search: the 64-bit signature splits into ``bands``
    equal-width slices, candidates share ≥1 slice, exact distance is
    xor+bit_count on the candidates only.

    Recall is EXACT by default, not probabilistic: by pigeonhole,
    ≤ max_hamming differing bits cannot touch all ``bands`` slices when
    max_hamming < bands, so every qualifying pair shares a slice —
    hence the constructor rejects max_hamming ≥ bands rather than
    silently losing pairs.

    Scale shape (the minhash_candidates pattern): only
    (id, band, 16-bit key) rides the explode and self-join; signatures
    re-attach to the deduplicated candidate pairs.  ``max_band_bucket``
    (default ``None`` = no cap, preserving the lossless guarantee) is
    the skew escape hatch for corpora with huge identical-signature
    boilerplate groups: a group of G identical signatures collides in
    every band and costs O(G²) pairs — capping drops those groups'
    pairs ENTIRELY (they share all four hot buckets), so setting it
    trades the exactness promise for bounded work; run exact_dedup
    first instead where possible, which removes identical content and
    usually the need for a cap.

    ``sig``: override the signature expression (any BIGINT column) —
    the correctness gate uses a length-derived surrogate
    (n_chars·2³² + n_tokens) a SQL oracle can replay, since no SQL twin
    of xxhash64 exists (and the corpus has no exact dups, which made a
    hash-derived surrogate a vacuous empty gate)."""
    if 64 % bands != 0:
        raise ValueError(f"bands ({bands}) must divide 64")
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming ({max_hamming}) must be < bands ({bands}): the "
            f"pigeonhole recall guarantee needs one untouched band per "
            f"qualifying pair — raise bands (narrower slices) instead"
        )
    width = 64 // bands
    mask = (1 << width) - 1
    sig_expr = sig if sig is not None else simhash64(F.col(text_col))
    base = df.select(F.col(id_col).alias("__id"), sig_expr.alias("__sig"))
    if materialize:
        base = base.persist()  # feeds banding + both re-attach sides
    banded = base.select(
        "__id",
        F.posexplode(
            F.array(*[
                F.shiftrightunsigned(F.col("__sig"), width * b).bitwiseAND(
                    F.lit(mask)
                )
                for b in range(bands)
            ])
        ).alias("__band", "__key"),
    )
    pairs = banded_candidate_pairs(banded, max_band_bucket)
    sig_a = base.select(F.col("__id").alias("id_a"), F.col("__sig").alias("__sa"))
    sig_b = base.select(F.col("__id").alias("id_b"), F.col("__sig").alias("__sb"))
    out = (
        pairs.join(sig_a, "id_a").join(sig_b, "id_b")
        .select(
            "id_a", "id_b",
            hamming64(F.col("__sa"), F.col("__sb")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    if materialize:
        out = out.localCheckpoint(eager=True)  # tiny: thresholded pairs
        base.unpersist()
    return out


_INTERVAL_UNIT_S = {
    "microsecond": 1e-6, "millisecond": 1e-3, "second": 1, "minute": 60,
    "hour": 3600, "day": 86400, "week": 604800,
}


def _interval_seconds(interval: str) -> int:
    """Total seconds of a Spark calendar-interval string like
    ``'1 hour'`` / ``'90 seconds'`` / ``'1 hour 30 minutes'`` (the
    subset watermark delays use — fixed-duration units only; sub-second
    parts round up so a horizon never undershoots the watermark)."""
    parts = interval.strip().lower().split()
    if not parts or len(parts) % 2 != 0:
        raise ValueError(f"cannot parse interval {interval!r}")
    total = 0.0
    for qty, unit in zip(parts[::2], parts[1::2]):
        unit = unit.rstrip("s")
        if unit not in _INTERVAL_UNIT_S:
            raise ValueError(
                f"cannot parse interval {interval!r}: unknown unit {unit!r}"
            )
        total += float(qty) * _INTERVAL_UNIT_S[unit]
    return int(math.ceil(total))


def stream_simhash_near_dedup(
    stream: DataFrame,
    sink,
    text_col: str = "text",
    ts_col: str | None = None,
    watermark: str = "1 hour",
    max_hamming: int = 3,
    bands: int = 4,
    sig: Column | None = None,
    horizon_s: int | None | str = "watermark",
    sig_col: str = "simhash",
):
    """Streaming NEAR-duplicate dedup at ingest: beyond exact-content
    drops (stream_exact_dedup), rows whose SimHash is within
    ``max_hamming`` bits of already-admitted content are filtered
    before they reach the corpus.

    .. BREAKING DEFAULT (round 5): ``horizon_s`` now defaults to
       ``"watermark"`` (scan only the last watermark-delay seconds of
       admitted history), where it previously defaulted to ``None``
       (scan ALL committed history).  Callers upgrading across that
       change silently trade recall for a bounded read: near-dups of
       content admitted more than the watermark delay earlier are
       RE-ADMITTED.  Pass ``horizon_s=None`` explicitly to restore the
       old full-recall behavior — and re-evaluate which bound your
       pipeline's dedup contract actually needs (details under "Scale
       shape" below).

    Returns ``(prepared_stream,
    foreach_batch)`` — wire the stream through
    ``writeStream.foreachBatch(foreach_batch)``; the callback commits
    survivors to ``sink`` exactly-once.

    Two stages:

    1. JVM-side stage on the stream: compute ``sig_col`` and drop
       exact-signature repeats — ``dropDuplicatesWithinWatermark`` when
       ``ts_col`` is given (state bounded by the watermark delay, the
       only shape that survives an unbounded stream), plain
       ``dropDuplicates`` otherwise (bounded backfills only).
    2. Per micro-batch (foreachBatch): banded Hamming search — the
       same pigeonhole-lossless banding as
       ``simhash_hamming_near_dups`` (max_hamming < bands enforced) —
       (a) among the batch's distinct signatures and (b) against the
       signatures already committed to ``sink``.

    DROP POLICY (deterministic, order-invariant within a batch): a
    signature is dropped iff it has a near-neighbor among admitted
    signatures, or a STRICTLY SMALLER near-neighbor signature within
    its own batch — the streaming analog of the batch convention
    "drop id_b of every qualifying pair".  The surviving set is a pure
    function of (batch signature set, admitted signature set), so a
    single-batch run is exactly SQL-replayable (the correctness gate)
    and replays are bit-stable.  Like all near-dup policies this can
    drop both ends of a chain a~b~c (b drops for a, c drops for b):
    transitive chains thin slightly harder than greedy admission — the
    price of an order-free, join-parallel rule.

    Scale shape: stage 2 shuffles (band, 16-bit key, 8-byte sig) only
    — never text; the admitted side reads ONLY ``sig_col`` from the
    committed store (parquet column pruning), bounded to ``horizon_s``
    seconds before the batch's earliest event when ``ts_col`` is given.
    ``horizon_s`` DEFAULTS to the dedup ``watermark`` delay — the same
    bound the exact-signature state already lives under — so the
    vs-admitted read does NOT grow with sink history forever.  RECALL
    CONSEQUENCE: a near-dup (within max_hamming bits, but not
    exact-signature-equal) of content admitted more than the horizon
    before the batch's earliest event is re-admitted — identical in
    kind to the exact-dedup watermark bound one stage earlier.  Pass
    ``horizon_s=None`` to scan ALL committed history (full recall; the
    read then grows with the sink — at 10¹²-row scale, time-partition
    the sink so the horizon filter prunes partitions, or maintain a
    signatures side-table), or an explicit number of seconds for any
    other trade.  A replayed (already-committed) batch short-circuits
    before any work.

    ``sig`` overrides the signature expression (any BIGINT column),
    e.g. the SQL-replayable length surrogate the gate uses — xxhash64
    has no SQL twin."""
    if 64 % bands != 0:
        raise ValueError(f"bands ({bands}) must divide 64")
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming ({max_hamming}) must be < bands ({bands}): the "
            f"pigeonhole recall guarantee needs one untouched band per "
            f"qualifying pair"
        )
    if horizon_s == "watermark":
        horizon_s = _interval_seconds(watermark) if ts_col is not None else None
    elif isinstance(horizon_s, str):
        raise ValueError(
            f"horizon_s must be an int, None, or the string 'watermark' "
            f"(got {horizon_s!r})"
        )
    width = 64 // bands
    mask = (1 << width) - 1
    sig_expr = sig if sig is not None else simhash64(F.col(text_col))
    prepared = stream.withColumn(sig_col, sig_expr)
    if ts_col is None:
        prepared = prepared.dropDuplicates([sig_col])
    else:
        prepared = prepared.withWatermark(ts_col, watermark)
        prepared = prepared.dropDuplicatesWithinWatermark([sig_col])

    def _banded(sigs: DataFrame, out: str) -> DataFrame:
        return sigs.select(
            F.col(sig_col).alias(out),
            F.posexplode(
                F.array(*[
                    F.shiftrightunsigned(F.col(sig_col), width * b)
                    .bitwiseAND(F.lit(mask))
                    for b in range(bands)
                ])
            ).alias("__band", "__key"),
        )

    def foreach_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # short-circuit replays BEFORE the banded search (write_batch
        # would also no-op, but only after the expensive plan ran);
        # every sink shares the (batch_id, spark=None) signature
        if sink.is_committed(batch_id):
            return
        batch = batch_df.persist()
        try:
            sigs = batch.select(sig_col).distinct()
            b_banded = _banded(sigs, "__sb")
            ham = F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb")))
            a_side = b_banded.select(
                "__band", "__key", F.col("__sb").alias("__sa")
            )
            drops = (
                a_side.join(b_banded, ["__band", "__key"])
                .where((F.col("__sa") < F.col("__sb")) & (ham <= max_hamming))
                .select(F.col("__sb").alias(sig_col))
                .distinct()
            )
            admitted = None
            try:
                admitted = sink.read_committed(spark)
            except ValueError:
                # both sinks raise ValueError for "no committed batches
                # yet" — the only condition that may fall through.  Any
                # OTHER failure (store 503, torn footer) must FAIL the
                # batch so Spark retries it: silently skipping the
                # vs-admitted filter would permanently admit near-dups
                # of committed content.
                pass
            if admitted is not None:
                if ts_col is not None and horizon_s is not None:
                    lo = batch.agg(F.min(ts_col).alias("lo")).first()["lo"]
                    if lo is not None:
                        admitted = admitted.where(
                            F.col(ts_col)
                            >= F.lit(lo) - F.expr(f"INTERVAL {int(horizon_s)} SECONDS")
                        )
                ad_banded = _banded(
                    admitted.select(sig_col).distinct(), "__sa"
                ).select("__band", "__key", "__sa")
                vs_admitted = (
                    ad_banded.join(b_banded, ["__band", "__key"])
                    .where(ham <= max_hamming)
                    .select(F.col("__sb").alias(sig_col))
                    .distinct()
                )
                drops = drops.unionByName(vs_admitted).distinct()
            survivors = batch.join(drops, sig_col, "left_anti")
            sink.write_batch(survivors, batch_id)
        finally:
            batch.unpersist()

    return prepared, foreach_batch


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str | None = None,
    n: int = 8,
    min_hits: int = 2,
    shingles=None,
    broadcast_bench: bool = True,
    return_clean: bool = False,
) -> DataFrame:
    """Benchmark decontamination: flag training documents that share
    ≥ ``min_hits`` distinct word ``n``-gram shingles with ANY row of
    ``benchmark`` (an eval/test set) — the standard n-gram-overlap
    contamination check run before training so test material cannot
    leak into the corpus.  Returns ``(id_col, contam_hits)`` for
    flagged documents, or the CLEAN remainder of ``docs`` when
    ``return_clean=True``.

    Scale shape: the benchmark side collapses to its distinct shingle
    set — eval sets are small (thousands of items), so it broadcasts
    (``broadcast_bench=False`` falls back to a shuffle join for
    atypically huge benchmarks) and the probe is a map-side hash join
    over the docs' exploded shingles; the only exchange carries
    (id, partial count) for the per-doc hit count.  Shingles default to
    ``word_shingle_hashes`` (8 bytes each, no shingle strings built —
    see its cost law); pass ``shingles=lambda t: word_shingles(t, n)``
    for the string form (the SQL-replayable gate path).

    ``min_hits`` > 1 absorbs incidental single-shingle collisions on
    boilerplate; with n=8 two independent 8-gram hits is already strong
    evidence of quotation.  Counted hits are DISTINCT contaminated
    shingles per document (shingle sets are distinct by construction).
    Caveat: empty/whitespace documents reduce to one empty-join shingle
    — drop empties first or they all match an empty benchmark row."""
    if min_hits < 1:
        raise ValueError(f"min_hits must be >= 1, got {min_hits}")
    sh_fn = shingles or (lambda t: word_shingle_hashes(t, n))
    btc = bench_text_col or text_col
    bench_sh = benchmark.select(
        F.explode(sh_fn(F.col(btc))).alias("__sh")
    ).distinct()
    if broadcast_bench:
        bench_sh = F.broadcast(bench_sh)
    doc_sh = docs.select(
        F.col(id_col), F.explode(sh_fn(F.col(text_col))).alias("__sh")
    )
    flagged = (
        doc_sh.join(bench_sh, "__sh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("contam_hits"))
        .where(F.col("contam_hits") >= min_hits)
    )
    if return_clean:
        return docs.join(flagged.select(id_col), id_col, "left_anti")
    return flagged


class DecontamFilter:
    """The Bloom word array built over a benchmark's shingles PLUS the
    four knobs that shaped it (n_bits, k, hasher, shingle n) — carried
    together so the probe side cannot be configured differently from
    the build side: a words-list API made a silent n_bits/hasher
    mismatch (= noise hit counts) a one-typo accident."""

    def __init__(self, words, n_bits: int, k: int, hasher: str,
                 n: int) -> None:
        self.words = [int(w) for w in words]
        self.n_bits = int(n_bits)
        self.k = int(k)
        self.hasher = hasher
        self.n = int(n)


def decontaminate_bloom_words(
    benchmark: DataFrame,
    text_col: str = "text",
    n: int = 8,
    n_bits: int = 1 << 20,
    k: int = 3,
    hasher: str = "xxhash64",
    shingles=None,
) -> DecontamFilter:
    """Build the broadcastable Bloom filter over the benchmark's
    distinct word ``n``-gram shingles — the driver-side prepare step
    for ``stream_decontaminate``.  Word-array size is ⌈n_bits/63⌉
    longs (a function of configuration, never of data); rebuild only
    when the eval set changes.  Returns a :class:`DecontamFilter`
    carrying the configuration alongside the words."""
    from jepl_spark.operators import bloom as B

    sh_fn = shingles or (lambda t: word_shingle_hashes(t, n))
    sh = benchmark.select(
        F.explode(sh_fn(F.col(text_col))).alias("__sh")
    ).distinct()
    words = B.collect_words(
        B.bloom_build(sh, "__sh", n_bits, k, hasher), n_bits
    )
    return DecontamFilter(words, n_bits, k, hasher, n)


def stream_decontaminate(
    stream: DataFrame,
    filt: DecontamFilter,
    text_col: str = "text",
    min_hits: int = 2,
    shingles=None,
    hits_col: str | None = None,
) -> DataFrame:
    """STREAMING benchmark decontamination: drop rows whose text shares
    ≥ ``min_hits`` distinct word n-gram shingles with the Bloom filter
    built by ``decontaminate_bloom_words`` — a STATELESS per-row
    projection+filter, the only decontamination shape that survives an
    unbounded stream (the exact batch operator needs a per-doc
    aggregation, i.e. state).

    Guarantee direction: Bloom filters have NO false negatives, so the
    streaming hit count ≥ the true count and the drop set is a
    SUPERSET of batch ``decontaminate``'s — contamination can never
    slip through that the batch op would have caught; the price is
    over-dropping at the filter's false-positive rate
    (``bloom.expected_fpr``; size n_bits to make it negligible).
    NULL/empty text has no shingle evidence and is kept.

    Scale shape: everything is whole-stage-codegen'd expression work —
    the per-shingle membership probe indexes the embedded word array
    (≤ 2048 words as ONE array Literal; larger filters ride a
    broadcast single-row stream-static cross join, which is stateless)
    — no shuffle, no state, no Python.  Works identically on batch
    frames (it is a plain projection), so the same filter can
    re-screen a backfill.

    ``hits_col`` keeps the per-row hit count in the output for audit;
    a ``shingles`` override must match the one the filter was built
    with (the gate runs string shingles + md5 so DuckDB replays every
    bit) — everything else (n_bits, k, hasher, n) rides inside
    ``filt`` and cannot diverge from the build."""
    from jepl_spark.operators import bloom as B

    if min_hits < 1:
        raise ValueError(f"min_hits must be >= 1, got {min_hits}")
    B._check_shape(filt.n_bits, filt.k)
    sh_fn = shingles or (lambda t: word_shingle_hashes(t, filt.n))
    frame, arr, drop_after = B.bind_word_array(stream, filt.words)
    hits = F.coalesce(
        F.size(
            F.filter(
                sh_fn(F.col(text_col)),
                lambda s: B._might_contain_on(
                    arr, s, filt.n_bits, filt.k, filt.hasher
                ),
            )
        ),
        F.lit(0),
    )
    hc = hits_col or "__hits"
    out = frame.withColumn(hc, hits).where(F.col(hc) < min_hits)
    if drop_after is not None:
        out = out.drop(drop_after)
    return out if hits_col else out.drop(hc)


# -- n-gram Jaccard ------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    min_jaccard: float = 0.1,
    max_shingle_df: int = 1000,
    materialize: bool = True,
) -> DataFrame:
    """Exact Jaccard over word n-gram shingle sets via an inverted
    index.  Stop-shingles (document frequency > ``max_shingle_df``)
    are dropped before pair generation — the standard blowup/skew
    control.  ``materialize=False`` returns the lazy, side-effect-free
    plan (see minhash_candidates).

    Shingles are 64-bit hashes from the start (word_shingle_hashes —
    shingle strings are never built: token hashes chain-combine, ~6×
    cheaper than concat_ws+hash at sf0.1), so everything downstream of
    the scan moves 8-byte longs instead of multi-word strings.  A
    64-bit collision would need ~2^32 distinct shingles per corpus to
    become likely; per-pair intersection counts are additionally
    oracle-checked by the ngram_jaccard_pairs gate.

    Shape: when the per-doc shingle table fits the guard, it is
    collected and broadcast once and each task counts the complete
    pairs of its slice of ids.  Otherwise TWO exchanges:
    postings ``(id, set_size, shingle)`` partition by shingle, where an
    Arrow stage applies the df cap and emits co-occurrence rows by
    numpy index arithmetic; those partition by pair, where a second
    Arrow stage counts each pair's rows (= the exact intersection),
    computes jaccard = c/(na+nb−c) in IEEE doubles (bit-identical to
    the JVM division) and emits ONLY the pairs ≥ ``min_jaccard`` —
    316 s → 21 s at sf1.0 against a join+groupBy formulation.
    Non-integral ids (string/UUID, decimal, float) run the same two
    paths on their order-preserving long surrogate
    (:func:`_long_ids`), and the thresholded pairs map back by two
    small joins; that surrogate is an eager checkpoint, so
    ``materialize=False`` raises ValueError for them."""
    # Replicated-index path (guide §3.1/§8: broadcast the small side,
    # never shuffle the heavy intermediate): when the per-doc shingle
    # table fits the guard, it collects, broadcasts once, and every
    # task computes COMPLETE pair counts for its hash-slice of
    # smaller-endpoint ids, emitting only the ≥ min_jaccard survivors.
    # The co-occurrence stream (114M distinct pairs at sf1.0 — 90%
    # sharing exactly one shingle) then never crosses an exchange or
    # the Arrow boundary at all: measured 46 s (exchange path) → 13 s.
    # Rows vary in width, so no row count gives the collected size;
    # the guard gets the bound 4 × the input's plan-size estimate: a
    # doc of B text bytes has at most ~B/2 whitespace tokens, so at
    # most ~B/2 shingles of 8 bytes each.  That bound is only as good
    # as the estimate, which for a file scan is the on-disk (possibly
    # compressed) size of the text; unknown stats keep the exchange
    # path, which streams any corpus size.  It measures the caller's
    # frame, before any id mapping.
    # (materialize=False keeps the lazy exchange plan: the replicated
    # path collects the index at call time, which the side-effect-free
    # plan-audit contract forbids.)
    replicated = materialize and fits(
        "ngram_jaccard_pairs", 4 * plan_bytes(df))
    df, back = _long_ids(df, (id_col,), lazy=not materialize)
    args = (df, text_col, id_col, shingle_n, float(min_jaccard),
            int(max_shingle_df))
    out = (_ngram_jaccard_pairs_replicated(*args) if replicated
           else _ngram_jaccard_pairs_arrow(*args, materialize))
    return back(out, "id_a", "id_b")


def _ngram_jaccard_pairs_arrow(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    thresh: float,
    cap: int,
    materialize: bool,
) -> DataFrame:
    """Exchange path of :func:`ngram_jaccard_pairs` over integral ids —
    see its docstring for the two-exchange shape and the measured
    numbers.  Boundary cases match the brute-force definition: the df
    cap counts ALL postings of a shingle (null-id rows inflate a
    shingle's df), while pair generation skips null ids and equal-id
    posting pairs (``id_a < id_b`` strictly)."""
    import numpy as np
    import pyarrow as pa

    from pyspark.sql.types import (
        DoubleType, StructField, StructType,
    )

    id_type = df.schema[id_col].dataType

    postings = df.select(
        F.col(id_col).alias("__id"),
        word_shingle_hashes(F.col(text_col), shingle_n).alias("__sh"),
    ).select(
        "__id",
        F.size("__sh").alias("__n"),
        F.explode("__sh").alias("__s"),
    ).repartition(F.col("__s"))

    pair_schema = StructType([
        StructField("id_a", id_type),
        StructField("id_b", id_type),
        StructField("__na", postings.schema["__n"].dataType),
        StructField("__nb", postings.schema["__n"].dataType),
    ])

    CHUNK_PAIRS = 4_000_000  # bounds per-task pair-buffer memory

    def _gen_pairs(batches):
        ids_l, n_l, s_l, ok_l = [], [], [], []
        for b in batches:
            c0, c1, c2 = b.column(0), b.column(1), b.column(2)
            ok_l.append(c0.is_valid().to_numpy(zero_copy_only=False))
            ids_l.append(
                pa.compute.fill_null(c0, 0).to_numpy(zero_copy_only=False)
            )
            n_l.append(
                pa.compute.fill_null(c1, 0).to_numpy(zero_copy_only=False)
            )
            s_l.append(c2.to_numpy(zero_copy_only=False))
        if not ids_l:
            return
        ids = np.concatenate(ids_l)
        if ids.size == 0:
            return
        ns = np.concatenate(n_l)
        sh = np.concatenate(s_l)
        ok = np.concatenate(ok_l)
        perm = np.argsort(sh, kind="stable")
        sh, ids, ns, ok = sh[perm], ids[perm], ns[perm], ok[perm]
        # group = run of equal shingle hashes (each shingle is wholly in
        # this partition: upstream repartition("__s"))
        new_grp = np.empty(sh.size, dtype=bool)
        new_grp[0] = True
        np.not_equal(sh[1:], sh[:-1], out=new_grp[1:])
        grp = np.cumsum(new_grp) - 1
        d_total = np.bincount(grp)  # df INCLUDING null-id postings
        keep = ok & (d_total[grp] <= cap)
        ids, ns, grp = ids[keep], ns[keep], grp[keep]
        if ids.size == 0:
            return
        d = np.bincount(grp)
        keep2 = d[grp] >= 2  # singleton groups emit no pairs
        ids, ns, grp = ids[keep2], ns[keep2], grp[keep2]
        if ids.size == 0:
            return
        # contiguous groups: within-group index + per-group size
        d = np.bincount(grp)
        d = d[d >= 2]
        starts = np.cumsum(d) - d
        within = np.arange(ids.size) - np.repeat(starts, d)
        d_of = np.repeat(d, d)
        rep = d_of - 1 - within  # pairs this posting opens as the left
        pc = (d * (d - 1)) // 2
        # chunk group ranges so one buffer never exceeds CHUNK_PAIRS
        cum = np.cumsum(pc)
        g_lo = 0
        while g_lo < d.size:
            base_pairs = cum[g_lo - 1] if g_lo else 0
            g_hi = int(
                np.searchsorted(cum, base_pairs + CHUNK_PAIRS, "left")
            ) + 1
            g_hi = min(g_hi, d.size)
            p_lo, p_hi = starts[g_lo], starts[g_hi - 1] + d[g_hi - 1]
            r = rep[p_lo:p_hi]
            m = int(r.sum())
            if m:
                left = np.repeat(np.arange(p_lo, p_hi), r)
                block = np.cumsum(r) - r
                offs = np.arange(m) - np.repeat(block, r)
                right = left + 1 + offs
                a, b = ids[left], ids[right]
                swap = a > b
                lo = np.where(swap, b, a)
                hi = np.where(swap, a, b)
                na = np.where(swap, ns[right], ns[left])
                nb = np.where(swap, ns[left], ns[right])
                mask = lo < hi  # duplicate-id rows: drop the (x, x) pairs
                if not mask.all():
                    lo, hi, na, nb = lo[mask], hi[mask], na[mask], nb[mask]
                yield pa.RecordBatch.from_arrays(
                    [pa.array(lo), pa.array(hi), pa.array(na),
                     pa.array(nb)],
                    names=["id_a", "id_b", "__na", "__nb"],
                )
            g_lo = g_hi

    out_schema = StructType([
        StructField("id_a", id_type),
        StructField("id_b", id_type),
        StructField("jaccard", DoubleType()),
    ])

    def _merge_pairs(batches):
        a_l, b_l, na_l, nb_l = [], [], [], []
        for b in batches:
            a_l.append(b.column(0).to_numpy(zero_copy_only=False))
            b_l.append(b.column(1).to_numpy(zero_copy_only=False))
            na_l.append(b.column(2).to_numpy(zero_copy_only=False))
            nb_l.append(b.column(3).to_numpy(zero_copy_only=False))
        if not a_l:
            return
        a = np.concatenate(a_l)
        if a.size == 0:
            return
        b = np.concatenate(b_l)
        na = np.concatenate(na_l)
        nb = np.concatenate(nb_l)
        perm = np.lexsort((b, a))
        a, b, na, nb = a[perm], b[perm], na[perm], nb[perm]
        head = np.empty(a.size, dtype=bool)
        head[0] = True
        np.logical_or(a[1:] != a[:-1], b[1:] != b[:-1], out=head[1:])
        first = np.flatnonzero(head)
        c = np.diff(np.append(first, a.size))  # rows per pair = |A∩B|
        a, b, na, nb = a[first], b[first], na[first], nb[first]
        jac = c / (na.astype(np.int64) + nb.astype(np.int64) - c)
        mask = jac >= thresh
        yield pa.RecordBatch.from_arrays(
            [pa.array(a[mask]), pa.array(b[mask]),
             pa.array(jac[mask])],
            names=["id_a", "id_b", "jaccard"],
        )

    cooc = postings.mapInArrow(_gen_pairs, pair_schema)
    out = cooc.repartition(F.col("id_a"), F.col("id_b")).mapInArrow(
        _merge_pairs, out_schema
    )
    if materialize:
        out = out.localCheckpoint(eager=True)  # tiny: thresholded pairs
    return out


def _ngram_jaccard_pairs_replicated(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    thresh: float,
    cap: int,
) -> DataFrame:
    """Replicated-index path of :func:`ngram_jaccard_pairs` over
    integral ids, for a shingle table that fits the guard: one collect
    of the per-doc shingle hashes, one broadcast, and P tasks each
    owning the slice ``H(id_a) % P`` of smaller-endpoint ids.  Postings
    sort by (shingle, id), so every co-occurrence of a pair is
    generated in its owner's task: local counts are complete and the
    threshold applies before anything leaves the task.  The math is
    the exchange path's."""
    import numpy as np
    import pyarrow as pa

    from pyspark.sql.types import DoubleType, StructField, StructType

    id_type = df.schema[id_col].dataType
    spark = df.sparkSession
    per_doc = df.select(
        F.col(id_col).alias("__id"),
        word_shingle_hashes(F.col(text_col), shingle_n).alias("__sh"),
    )
    tbl = per_doc.toArrow()
    idc = tbl.column("__id").combine_chunks()
    ok_doc = idc.is_valid().to_numpy(zero_copy_only=False)
    ids_doc = pa.compute.fill_null(idc, 0).to_numpy(zero_copy_only=False)
    # null shingle arrays (null text) contribute no postings: their
    # lengths are 0
    flat, lens_doc, _ = _ragged(tbl.column("__sh"))
    flat = flat.view(np.int64)
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))

    # ---- driver-side index prep (the broadcast-relation build, like
    # any BroadcastExchange): sort docs by id so doc INDEX order == id
    # order (pairs pack into one int64 key per co-occurrence), sort
    # postings by (shingle, doc index), apply the df cap / singleton
    # drop ONCE, and pre-tag every posting with its owner slice.
    # Tasks then do only their slice's pair generation + one
    # single-key sort — the per-task redundant group machinery of a
    # naive replicated join measured 3× this whole operator.
    order = np.argsort(ids_doc, kind="stable")
    ids_d = ids_doc[order]
    ok_d = ok_doc[order]
    lens_d = lens_doc[order]
    # each original posting follows its doc to the doc's id-sorted
    # position (argsort of a permutation is its inverse)
    if order.size:
        inv = np.argsort(order, kind="stable")
        doc_of = inv[np.repeat(np.arange(order.size), lens_doc)]
    else:
        doc_of = np.empty(0, dtype=np.int64)
    if flat.size:
        perm = np.lexsort((doc_of, flat))
        sh_s, doc_s = flat[perm], doc_of[perm]
        new_grp = np.empty(sh_s.size, dtype=bool)
        new_grp[0] = True
        np.not_equal(sh_s[1:], sh_s[:-1], out=new_grp[1:])
        grp = np.cumsum(new_grp) - 1
        d_total = np.bincount(grp)
        keep = ok_d[doc_s] & (d_total[grp] <= cap)
        doc_s, grp = doc_s[keep], grp[keep]
        d = np.bincount(grp) if doc_s.size else np.empty(0, np.int64)
        keep2 = d[grp] >= 2 if doc_s.size else np.empty(0, bool)
        doc_s, grp = doc_s[keep2], grp[keep2]
    else:
        doc_s = np.empty(0, dtype=np.int64)
    n_docs = ids_d.size
    if doc_s.size:
        d = np.bincount(grp)
        d = d[d >= 2]
        starts = (np.cumsum(d) - d).astype(np.int32)
        grp_run = np.repeat(np.arange(d.size, dtype=np.int64), d)
        grp_end = (starts + d.astype(np.int32))[grp_run]
        doc_s32 = doc_s.astype(np.int32)
        # doc-CSR over the group-sorted postings: positions of each
        # doc's postings, so a task can walk its owned docs and gather
        # each posting's group REMAINDER (the rights) as small slices
        pos_by_doc = np.argsort(doc_s32, kind="stable").astype(np.int32)
        doc_counts = np.bincount(doc_s32, minlength=n_docs)
        doc_offs = np.concatenate(
            ([0], np.cumsum(doc_counts))
        ).astype(np.int64)
    else:
        grp_end = np.empty(0, dtype=np.int32)
        doc_s32 = np.empty(0, dtype=np.int32)
        pos_by_doc = np.empty(0, dtype=np.int32)
        doc_offs = np.zeros(n_docs + 1, dtype=np.int64)
    K = np.uint64(0x9E3779B97F4A7C15)
    with np.errstate(over="ignore"):
        owner_doc = (
            (ids_d.astype(np.int64).view(np.uint64) * K) >> np.uint64(33)
        ) % np.uint64(n_parts)
    owner_doc = owner_doc.astype(np.int32)
    bc = spark.sparkContext.broadcast(
        (ids_d, lens_d, doc_s32, grp_end, pos_by_doc, doc_offs,
         owner_doc)
    )

    out_schema = StructType([
        StructField("id_a", id_type),
        StructField("id_b", id_type),
        StructField("jaccard", DoubleType()),
    ])

    def _slice_pairs(batches):
        my = set()
        for b in batches:
            my.update(b.column(0).to_numpy(zero_copy_only=False).tolist())
        if not my:
            return
        (ids_dv, lens_dv, doc_sv, grp_endv, pos_docv, doc_offv,
         owner_v) = bc.value
        if doc_sv.size == 0:
            return
        my_arr = np.fromiter((int(x) for x in my), dtype=np.int32)
        out_a, out_b, out_j = [], [], []
        # per owned doc: gather each of its postings' group remainder
        # (doc indices ABOVE it — ids ascend with index, so these are
        # exactly its larger-id partners), sort the small union, and
        # run-length count = the exact per-pair intersection.  Sorts
        # stay L1/L2-resident, so this path is compute- not
        # bandwidth-bound (the big-array formulation collapsed 5-25×
        # under 32-way memory contention on this box).
        for a in np.flatnonzero(np.isin(owner_v, my_arr)):
            lo, hi = doc_offv[a], doc_offv[a + 1]
            if hi == lo:
                continue
            ps = pos_docv[lo:hi]
            parts = [doc_sv[p + 1:grp_endv[p]] for p in ps]
            rights = np.concatenate(parts) if len(parts) > 1 else parts[0]
            if rights.size == 0:
                continue
            rights = np.sort(rights)
            head = np.empty(rights.size, dtype=bool)
            head[0] = True
            np.not_equal(rights[1:], rights[:-1], out=head[1:])
            first = np.flatnonzero(head)
            c = np.diff(np.append(first, rights.size))
            b_idx = rights[first]
            a_id = ids_dv[a]
            b_ids = ids_dv[b_idx]
            jac = c / (lens_dv[a] + lens_dv[b_idx] - c)
            sel = (jac >= thresh) & (a_id < b_ids)  # drop dup-id (x,x)
            if sel.any():
                k = int(sel.sum())
                out_a.append(np.full(k, a_id, dtype=ids_dv.dtype))
                out_b.append(b_ids[sel])
                out_j.append(jac[sel])
        if not out_a:
            return
        yield pa.RecordBatch.from_arrays(
            [pa.array(np.concatenate(out_a)),
             pa.array(np.concatenate(out_b)),
             pa.array(np.concatenate(out_j))],
            names=["id_a", "id_b", "jaccard"],
        )

    out = spark.range(0, n_parts, 1, n_parts).mapInArrow(
        _slice_pairs, out_schema
    ).localCheckpoint(eager=True)  # tiny: thresholded pairs
    bc.unpersist()  # checkpoint is eager — no task reads it again
    return out


# -- exact substring (repeated k-token window) dedup -------------------------
#
# Lee et al., "Deduplicating Training Data Makes Language Models
# Better" (ACL 2022, public): exact substrings repeated across a
# corpus (licenses, boilerplate, quoted spam) measurably hurt LMs, and
# removing ALL copies of any duplicated >=k-token span is the simple,
# effective policy.  Their suffix-array construction is a single-node
# design; the distributed re-expression here is the standard rolling
# window-hash formulation: every k-token window hashes once, one
# corpus-wide exchange counts window multiplicity, and only documents
# that actually contain a duplicated window ever re-shuffle tokens.
# The reference engine has no corpus surface (BASELINE.md: grammar
# only); this lane is part of the mandated training-data toolbox.


def _raw_tokens(text: Column) -> Column:
    """Case-preserving whitespace tokens with anchored edge trim (the
    _norm_tokens shape WITHOUT lower-casing — exact substring equality
    is case-sensitive).  Empty / all-whitespace text yields the [""]
    singleton, which k >= 2 windowing then ignores."""
    return F.split(F.regexp_replace(text, r"^\s+|\s+$", ""), r"\s+")


def window_hash_positions(text: Column, k: int) -> Column:
    """Per-start-position chained 64-bit hashes of every k-token
    window of ``_raw_tokens(text)`` — array index i (0-based via
    posexplode) is the hash of tokens[i .. i+k-1].  Same chain combine
    as ``word_shingle_hashes`` (equal windows <=> equal token tuples
    <=> equal chained hashes modulo 64-bit collisions) and the same
    vectorized-Arrow chain execution, but positional: no distinct, no
    short-text fallback — texts with fewer than k tokens have no
    windows and yield the empty array.  Cost is O(k * n_tokens) hash
    steps per row, map-side only."""
    toks = _raw_tokens(text)
    return _window_chain_udf(k)(_token_hashes(toks))


def _covered_positions(
    df: DataFrame,
    k: int,
    max_occurrences: int,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """(id, __pos) of every token covered by a duplicated window.

    Shape at scale: the posexplode emits (id, start, hash64) only —
    text never leaves the row.  The multiplicity count is ONE exchange
    on the window hash with ``count() OVER (PARTITION BY hash)`` — the
    window-hash pipeline evaluates ONCE and the count needs no join
    back (the earlier groupBy+broadcast-join form re-computed the
    whole window-hash explode for the probe side: measured 38 s → 21 s
    at sf1.0).  Token coverage explodes k rows per duplicated window
    START — k * (number of duplicated windows), proportional to the
    dup mass, not the corpus."""
    from pyspark.sql.window import Window

    win = df.select(
        F.col(id_col),
        F.posexplode(window_hash_positions(F.col(text_col), k)).alias(
            "__start", "__wh"
        ),
    )
    starts = (
        win.withColumn(
            "__occ", F.count(F.lit(1)).over(Window.partitionBy("__wh"))
        )
        .where(F.col("__occ") > max_occurrences)
        .select(id_col, "__start")
    )
    return starts.select(
        F.col(id_col),
        F.explode(
            F.sequence(F.col("__start"), F.col("__start") + F.lit(k - 1))
        ).alias("__pos"),
    ).distinct()


def duplicated_token_spans(
    df: DataFrame,
    k: int = 20,
    max_occurrences: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Merged spans of duplicated k-token windows: one row per maximal
    run of covered tokens, as ``(id_col, span_start, span_end)`` —
    0-based INCLUSIVE token positions.  A window is duplicated when
    its exact token sequence occurs more than ``max_occurrences``
    times corpus-wide (total multiplicity: within-document repetition
    counts, so a doc repeating its own k tokens flags itself).

    Span merging is per-document gaps-and-islands (pos - row_number
    over the doc's covered positions) — the window partitions by
    document, so no single task ever sees more than one document's
    positions."""
    from pyspark.sql.window import Window

    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    if max_occurrences < 1:
        raise ValueError(
            f"max_occurrences must be >= 1, got {max_occurrences}"
        )
    covered = _covered_positions(df, k, max_occurrences, text_col, id_col)
    w = Window.partitionBy(id_col).orderBy("__pos")
    isl = covered.withColumn(
        "__grp", F.col("__pos") - F.row_number().over(w)
    )
    return (
        isl.groupBy(id_col, "__grp")
        .agg(
            F.min("__pos").alias("span_start"),
            F.max("__pos").alias("span_end"),
        )
        .drop("__grp")
    )


def dedup_substrings(
    df: DataFrame,
    k: int = 20,
    max_occurrences: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Remove every token covered by a duplicated k-token window and
    rebuild each affected document from its surviving tokens (joined
    by single spaces — token-sequence semantics, like the suffix-array
    original).  UNAFFECTED documents pass through byte-identical
    (original whitespace preserved), and at real corpus scale they are
    the overwhelming majority: the rebuild explode/regroup only ever
    runs on the left-semi-filtered affected subset.  NULL text passes
    through NULL; a fully-duplicated document becomes ''.

    ``out_col`` writes the cleaned text to a new column instead of
    replacing ``text_col``.  ``materialize`` (default True) eagerly
    localCheckpoints the covered-position frame — it feeds THREE
    consumers (affected filter, anti-join, and the affected-doc
    marker), and without materialization each one re-runs the whole
    window-hash + count pipeline over the corpus.  The checkpointed
    frame is two longs per covered token: proportional to the dup
    mass, not the corpus."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    if max_occurrences < 1:
        raise ValueError(
            f"max_occurrences must be >= 1, got {max_occurrences}"
        )
    out_col = out_col or text_col
    covered = _covered_positions(df, k, max_occurrences, text_col, id_col)
    if materialize:
        covered = covered.localCheckpoint(eager=True)
    affected = covered.select(id_col).distinct()
    toks_e = (
        df.join(affected, id_col, "left_semi")
        .select(
            F.col(id_col),
            F.posexplode(_raw_tokens(F.col(text_col))).alias(
                "__pos", "__tok"
            ),
        )
    )
    kept = toks_e.join(covered, [id_col, "__pos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__tok"))),
                lambda s: s["__tok"],
            ),
        ).alias("__clean")
    )
    base = df.join(
        affected.withColumn("__aff", F.lit(True)), id_col, "left"
    ).join(rebuilt, id_col, "left")
    clean = (
        F.when(F.col(text_col).isNull(), F.lit(None).cast("string"))
        .when(F.col("__aff").isNull(), F.col(text_col))
        .otherwise(F.coalesce(F.col("__clean"), F.lit("")))
    )
    return base.withColumn(out_col, clean).drop("__aff", "__clean")
