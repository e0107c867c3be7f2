"""Focused tests for the round-8 optimization internals: every change
promised bit-identical results — these pin the promises directly.

- the numpy xxhash64 twin must equal Spark's xxhash64 (single and
  chained-seed two-arg forms) — the contract the vectorized shingle /
  window chains and minhash band keys rest on;
- ngram_jaccard_pairs' replicated-index and exchange paths must agree
  with each other and with a brute-force reference, boundary cases
  included, for long and string ids;
- Myers' bit-parallel WER distance must equal the quadratic DP;
- batch winnowing must equal the per-row formulation on every length
  class;
- the fused minhash doc pass's signatures and band keys must equal a
  reference built from Spark's xxhash64 and Python integers, and
  every Arrow hash kernel must give the same output at a 2-row batch
  size as at the default;
- lm_score's hashed-key path must score identically to the string
  path;
- the guarded operators must give the reference output under the
  default budget and under 0, and their guards must measure what
  they collect; strip_boilerplate_lines' output is pinned;
- near_dup_components and minhash_dedup(policy="components") stay
  within a Spark job budget per call.
"""

from __future__ import annotations

import logging
import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from jepl_spark.operators import _guard as G
from jepl_spark.operators import dedup as D
from jepl_spark.operators import text as T


def test_np_xxhash64_twin_matches_spark(spark):
    random.seed(11)
    vals = [
        (random.randrange(-2**63, 2**63), random.randrange(-2**63, 2**63))
        for _ in range(500)
    ] + [(0, 0), (1, -1), (2**63 - 1, -2**63), (42, 42)]
    df = spark.createDataFrame(vals, "a long, b long")
    rows = df.selectExpr("a", "b", "xxhash64(a) ha", "xxhash64(a,b) hab").collect()
    a = np.array([r.a for r in rows], dtype=np.int64).view(np.uint64)
    b = np.array([r.b for r in rows], dtype=np.int64).view(np.uint64)
    with np.errstate(over="ignore"):
        ha = D._np_hash_long(a, np.uint64(42))
        hab = D._np_hash_long(b, ha)
    assert np.array_equal(
        ha.view(np.int64), np.array([r.ha for r in rows], dtype=np.int64)
    )
    assert np.array_equal(
        hab.view(np.int64), np.array([r.hab for r in rows], dtype=np.int64)
    )


def _brute_jaccard_pairs(rows, n, min_j, cap):
    """Reference: per-doc distinct shingle TUPLES, df cap, exact
    jaccard with full-set-size union denominators."""
    import itertools

    docs = []
    for doc_id, text in rows:
        if text is None:
            continue
        toks = [t for t in
                __import__("re").split(r"\s+", text.strip()) or [""]]
        toks = [t.lower() for t in (toks if toks else [""])]
        if text.strip() == "":
            toks = [""]
        if len(toks) < n:
            sh = {tuple(toks)}
        else:
            sh = {tuple(toks[i:i + n]) for i in range(len(toks) - n + 1)}
        docs.append((doc_id, sh))
    df_count: dict = {}
    for _id, sh in docs:
        for s in sh:
            df_count[s] = df_count.get(s, 0) + 1
    out = []
    for (ia, sa), (ib, sb) in itertools.combinations(docs, 2):
        if ia is None or ib is None:
            continue
        a, b = (ia, ib) if ia < ib else (ib, ia)
        sha, shb = (sa, sb) if ia < ib else (sb, sa)
        common = sum(
            1 for s in sha & shb if df_count[s] <= cap
        )
        if common == 0:
            continue
        j = common / (len(sa) + len(sb) - common)
        if j >= min_j:
            out.append((a, b, pytest.approx(j)))
    return sorted(out)


NGRAM_ROWS = [
    (1, "a b c d e f g"),
    (2, "a b c d e f g"),
    (3, "a b c d x y z"),
    (None, "a b c d e f g"),   # null id: df counts yes, pairs no
    (4, "a b"),                # shorter than n
    (5, ""),                   # empty -> [""] singleton shingle
    (6, "q r s t u v w"),
    (7, None),                 # null text -> no postings
    (8, "A B c D e f g"),      # case folding
]


def _values_frame(spark, rows, id_type):
    """(doc_id, text) rows as an inline VALUES table: unlike a
    python-list frame it has plan stats, so the ngram guard can pick
    the replicated path."""
    vals = ", ".join(
        "(" + ", ".join("NULL" if v is None else repr(v) for v in r) + ")"
        for r in rows)
    return spark.sql(f"SELECT CAST(doc_id AS {id_type}) AS doc_id, text "
                     f"FROM VALUES {vals} AS t(doc_id, text)")


@pytest.mark.parametrize("cap,min_j", [(1000, 0.1), (2, 0.1), (1000, 0.0)])
def test_ngram_paths_agree_and_match_reference(spark, cap, min_j):
    tiny = _values_frame(spark, NGRAM_ROWS, "long")
    rep = sorted(
        tuple(r) for r in D.ngram_jaccard_pairs(
            tiny, min_jaccard=min_j, max_shingle_df=cap).collect()
    )
    exc = sorted(
        tuple(r) for r in D.ngram_jaccard_pairs(
            tiny, min_jaccard=min_j, max_shingle_df=cap,
            materialize=False).collect()
    )
    assert rep == exc
    ref = _brute_jaccard_pairs(NGRAM_ROWS, 3, min_j, cap)
    assert [(a, b) for a, b, _ in ref] == [(a, b) for a, b, _ in rep]
    for (_, _, jref), (_, _, jgot) in zip(ref, rep):
        assert jref == jgot


def test_ngram_string_ids_match_reference(spark, guard_path, caplog):
    """String ids whose order is not their numeric order ("13" < "6")
    give the reference pairs and log the guard path of the same rows'
    long ids; the null id still counts toward a shingle's df (at cap 3
    it drops the shingles docs 1, 2 and 8 share).  The lazy plan needs
    integral ids."""
    srows = [(None if i is None else str(i + 5), t) for i, t in NGRAM_ROWS]
    longs = _values_frame(spark, NGRAM_ROWS, "long")
    strs = _values_frame(spark, srows, "string")
    for cap, min_j in ((1000, 0.1), (3, 0.1), (1000, 0.0)):
        caplog.clear()
        D.ngram_jaccard_pairs(longs, min_jaccard=min_j, max_shingle_df=cap)
        got = sorted(tuple(r) for r in D.ngram_jaccard_pairs(
            strs, min_jaccard=min_j, max_shingle_df=cap).collect())
        assert _paths(caplog, "ngram_jaccard_pairs") == [guard_path] * 2
        assert got == _brute_jaccard_pairs(srows, 3, min_j, cap), cap
    with pytest.raises(ValueError, match="materialize=False"):
        D.ngram_jaccard_pairs(strs, materialize=False)


def test_myers_wer_matches_reference_dp(spark):
    def ref(a, b):
        n, m = len(a), len(b)
        prev = list(range(m + 1))
        for i in range(n):
            cur = [i + 1] + [0] * m
            for j in range(1, m + 1):
                cur[j] = min(prev[j] + 1, cur[j - 1] + 1,
                             prev[j - 1] + (a[i] != b[j - 1]))
            prev = cur
        return prev[m]

    random.seed(3)
    rows = []
    for _ in range(60):
        V = [f"t{i}" for i in range(random.choice([1, 2, 5, 20]))]
        rows.append((
            " ".join(random.choice(V)
                     for _ in range(random.randrange(0, 70))) or None,
            " ".join(random.choice(V)
                     for _ in range(random.randrange(0, 70))) or None,
        ))
    df = spark.createDataFrame(rows, "text string, hyp string")
    out = T.transcript_wer(df).collect()
    for (ref_t, hyp_t), r in zip(rows, out):
        if ref_t is None or hyp_t is None:
            assert r.edit_dist is None
        else:
            assert r.edit_dist == ref(ref_t.split(), hyp_t.split())


def test_batch_winnow_equals_per_row_reference(spark):
    import re as _re

    k, window = 8, 4
    weights = np.array(
        [31 ** (k - 1 - j) for j in range(k)], dtype=np.int64)

    def one(text_val):
        if text_val is None:
            return []
        s = _re.sub(r"[ \t\n\x0b\f\r]+", " ", text_val).strip(" ").lower()
        if not s:
            return []
        codes = np.frombuffer(
            s.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
        n = codes.shape[0]
        if n < k:
            h = 0
            for c in codes.tolist():
                h = h * 31 + c
            return [h]
        grams = np.zeros(n - k + 1, dtype=np.int64)
        for j in range(k):
            grams += codes[j:n - k + 1 + j] * weights[j]
        if grams.shape[0] < window:
            return [int(grams.min())]
        mins = np.lib.stride_tricks.sliding_window_view(
            grams, window).min(axis=1)
        return sorted(set(mins.tolist()))

    texts = [None, "", "   ", "ab", "abcdefg", "abcdefgh", "abcdefghij",
             "Héllo Wörld  x\t y\nz", "the quick brown fox " * 5]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string")
    got = {r.i: list(r.fp) for r in df.select(
        "i", T.winnow_fingerprints(F.col("text")).alias("fp")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == [int(x) for x in one(t)], f"row {i}: {t!r}"


def _jvm_shingle_hashes(text, n):
    """``word_shingle_hashes`` as one JVM expression, no numpy: token
    xxhash64s chained by xxhash64(prefix, next), array_distinct, and
    the hashed token join for texts shorter than n."""
    toks = D._norm_tokens(text)
    th = F.transform(toks, lambda t: F.xxhash64(t))
    chained = F.transform(
        F.sequence(F.lit(0), F.size(th) - n),
        lambda i: F.aggregate(F.slice(th, i + 2, n - 1),
                              F.element_at(th, i + 1),
                              lambda acc, x: F.xxhash64(acc, x)))
    return (F.when(toks.isNull(), F.lit(None))
            .when(F.size(toks) < n,
                  F.array(F.xxhash64(F.concat_ws(" ", toks))))
            .otherwise(F.array_distinct(chained)))


def _py_signature(hashes, num_hashes):
    """MinHash signature in Python integers from ``_minhash_coeffs``."""
    if hashes is None:
        return None
    a_co, b_co = D._minhash_coeffs(num_hashes)
    p = D._MH_PRIME
    us = [h % 2**64 for h in hashes]
    folds = [((u >> 32) ^ (u & 0xFFFFFFFF)) % p for u in us]
    return [min(((a * f + b) % p for f in folds), default=0)
            for a, b in zip(a_co, b_co)]


@pytest.mark.parametrize("n,num_hashes,bands", [(3, 64, 16), (5, 20, 4)])
def test_minhash_doc_pass_matches_jvm_reference(spark, n, num_hashes,
                                                bands):
    """The fused doc pass's ``sig`` and ``bands`` equal a reference
    built without the numpy kernels: shingles chained by Spark's own
    xxhash64, signatures in Python integers, and band key b =
    xxhash64(slice values, CAST(b AS BIGINT)) — over NULL, empty,
    whitespace-only, shorter-than-n and repeated-token texts."""
    random.seed(5)
    texts = [None, "", " \t\n ", "x y", "a a a a a a a a",
             "a b a b a b a b a b", "one two three four five",
             "The quick brown fox, the QUICK brown fox\tjumps"]
    texts += [" ".join(random.choice("pqrstu") for _ in range(
        random.randrange(1, 30))) for _ in range(30)]
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    toks = D._norm_tokens(F.col("text"))
    got = {r.doc_id: (r.sb.sig, r.sb.bands) for r in df.select(
        "doc_id",
        D._minhash_doc_udf(n, num_hashes, bands)(
            D._token_hashes(toks), F.xxhash64(F.concat_ws(" ", toks))
        ).alias("sb")).collect()}

    shingles = {r.doc_id: r.sh for r in df.select(
        "doc_id", _jvm_shingle_hashes(F.col("text"), n).alias("sh")
    ).collect()}
    # the shingle UDF itself, first-occurrence order included
    assert shingles == {r.doc_id: r.sh for r in df.select(
        "doc_id", D.word_shingle_hashes(F.col("text"), n).alias("sh")
    ).collect()}
    sigs = spark.createDataFrame(
        [(i, _py_signature(sh, num_hashes)) for i, sh in shingles.items()],
        "doc_id long, sig array<bigint>")
    r = num_hashes // bands
    keys = F.array(*[
        F.xxhash64(*[F.col("sig")[b * r + j] for j in range(r)],
                   F.lit(b).cast("bigint"))
        for b in range(bands)])
    ref = {row.doc_id: (row.sig, row.keys) for row in sigs.select(
        "doc_id", "sig",
        F.when(F.col("sig").isNotNull(), keys).alias("keys")).collect()}
    assert got[0] == (None, None)
    assert got == ref

    # the unfused signature UDF, including the all-zero signature of an
    # empty shingle set
    h = spark.createDataFrame(
        [(-1, []), (-2, None), (-3, [5, -7, 5])] + list(shingles.items()),
        "doc_id long, h array<bigint>")
    plain = {row.doc_id: row.sig for row in h.select(
        "doc_id",
        D.minhash_signature_from_hashes(F.col("h"), num_hashes).alias("sig"),
    ).collect()}
    assert plain == {row.doc_id: _py_signature(row.h, num_hashes)
                     for row in h.collect()}
    assert plain[-1] == [0] * num_hashes


def test_kernels_equal_across_arrow_batch_edges(spark, caplog):
    """2-row Arrow batches, with NULL texts on both sides of a batch
    edge, give the same shingle and window hashes, minhash candidates
    and replicated hashed lm_score as the default batch size: the
    kernels' offsets must restart with every batch."""
    caplog.set_level(logging.INFO, logger="jepl_spark.guard")
    texts = ["a b c d e f g h", None, None, "a b c d e f g x",
             "", "x y", "a b c d e f g h", "p q r s t u v w x y z",
             "  p q r s t u v w x y z  ", "one"]
    # one partition, so 2-row batches actually split the rows
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string").coalesce(1)
    lm = T.lm_train(df, hash_keys=True)

    def outputs():
        per_doc = df.select(
            "doc_id",
            D.word_shingle_hashes(F.col("text"), 3).alias("sh"),
            D.window_hash_positions(F.col("text"), 3).alias("win"),
        ).collect()
        return (
            {r.doc_id: (r.sh, r.win) for r in per_doc},
            sorted(tuple(r) for r in D.minhash_candidates(df).collect()),
            sorted(tuple(r) for r in T.lm_score(df, lm).collect()),
        )

    default = outputs()
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        small = outputs()
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    assert _paths(caplog, "lm_score") == ["local"]
    assert default[0][1] == (None, None) and default[1] and default[2]
    assert small == default


@pytest.fixture(params=["default", 0])
def guard_path(request, monkeypatch, caplog):
    """Budget default or 0 (any non-empty input goes distributed);
    returns the path the guard should log to ``caplog``."""
    caplog.set_level(logging.INFO, logger="jepl_spark.guard")
    if request.param == "default":
        return "local"
    monkeypatch.setattr(G, "BUDGET_BYTES", request.param)
    return "distributed"


def _paths(caplog, op):
    return [r.path for r in caplog.records
            if r.name == "jepl_spark.guard" and r.op == op]


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_components_paths_match_reference(spark, guard_path, caplog,
                                          id_type):
    """~680 distinct ids; as strings their order is not the numeric
    one ("10" < "9"), so the labels check that the surrogate keeps
    string order across the sort's range partitions.  Self-pairs
    (one of an id with no other edge) and pairs with a NULL end are
    no edges and name no id; a duplicated and a reversed pair change
    nothing."""
    random.seed(9)
    cast = int if id_type == "long" else str
    edges = [(cast(random.randrange(1000)), cast(random.randrange(1000)))
             for _ in range(600)]
    edges += [(cast(7), cast(7)), (cast(5000), cast(5000)), edges[0],
              edges[1][::-1], (None, cast(6000)), (cast(6001), None),
              (None, None)]
    df = spark.createDataFrame(edges, f"id_a {id_type}, id_b {id_type}")
    # AQE would coalesce the small sort into one partition
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        got = sorted(tuple(r) for r in D.near_dup_components(df).collect())
    finally:
        spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    assert _paths(caplog, "near_dup_components") == [guard_path]
    comp: dict = {}  # reference: union-find rooted at each smallest id

    def root(x):
        while comp.setdefault(x, x) != x:
            x = comp[x]
        return x

    real = [(a, b) for a, b in edges
            if a is not None and b is not None and a != b]
    for a, b in real:
        ra, rb = root(a), root(b)
        comp[max(ra, rb)] = min(ra, rb)
    assert got == sorted({(x, root(x)) for e in real for x in e})


def test_near_dup_job_budget(spark, caplog):
    """Spark jobs one call runs on the local components path, counted
    by job group around the call alone: ``near_dup_components`` runs
    the edge checkpoint, its count (two jobs under AQE) and the
    collect, 4 jobs, with no shuffle of the edges and no single-task
    labeling job; ``minhash_dedup(policy="components")`` adds the
    candidate pass, 15 jobs in all."""
    caplog.set_level(logging.INFO, logger="jepl_spark.guard")
    sc = spark.sparkContext

    def jobs(group, call):
        sc.setJobGroup(group, group)
        try:
            call()
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    ).localCheckpoint(eager=True)
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{(i * 7 + k) % 23}" for k in range(30)))
         for i in range(20)]
        + [(100 + i, " ".join(f"w{(21 + k) % 23}" for k in range(30)))
           for i in range(3)],
        "doc_id long, text string",
    ).localCheckpoint(eager=True)
    n_components = jobs("budget-components",
                        lambda: D.near_dup_components(pairs))
    n_dedup = jobs("budget-minhash-dedup",
                   lambda: D.minhash_dedup(docs, policy="components"))
    assert _paths(caplog, "near_dup_components") == ["local", "local"]
    assert n_components <= 4, n_components
    assert n_dedup <= 15, n_dedup


def test_lm_hashed_path_matches_string_path(spark):
    texts = ["the cat sat on the mat", "the dog sat on the log",
             "one", "", None, "the cat sat on the mat again"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    lm_h = T.lm_train(df, hash_keys=True)
    lm_s = T.lm_train(df, hash_keys=False)
    rh = {r.doc_id: (r.n_bigrams, r.avg_logp)
          for r in T.lm_score(df, lm_h).collect()}
    rs = {r.doc_id: (r.n_bigrams, r.avg_logp)
          for r in T.lm_score(df, lm_s).collect()}
    assert rh == rs


def test_lm_paths_match_string_path(spark, guard_path, caplog):
    """The hashed model scores as the string model on either path and
    is collected at most once for two scores — with zero-bigram docs
    (null/empty/one-token), a duplicated doc_id (occurrences aggregate
    across its rows) and min_count pruning the whole bigram table."""
    rows = [(1, "hello world hello"), (2, None), (3, ""), (4, "single"),
            (5, "a b c a b"), (5, "x y"), (6, "the cat sat the cat"),
            (7, "a a a a")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for kwargs in ({}, {"min_count": 10}, {"alpha": 2.0}):
        caplog.clear()
        lm = T.lm_train(df, hash_keys=True, **kwargs)
        got = {(r.doc_id, r.n_bigrams, r.avg_logp)
               for r in T.lm_score(df, lm).collect()}
        # a second score of the same model neither asks the guard nor
        # collects the model again
        assert got == {(r.doc_id, r.n_bigrams, r.avg_logp)
                       for r in T.lm_score(df, lm).collect()}, kwargs
        assert _paths(caplog, "lm_score") == [guard_path], kwargs
        ref = T.lm_score(df, T.lm_train(df, **kwargs))
        assert got == {(r.doc_id, r.n_bigrams, r.avg_logp)
                       for r in ref.collect()}, kwargs


def test_lm_guard_measures_model_not_scored_docs(spark, monkeypatch, caplog):
    """A model trained on a large corpus must stay distributed when it
    does not fit the budget, however small the frame it scores."""
    caplog.set_level(logging.INFO, logger="jepl_spark.guard")
    train = spark.createDataFrame(
        [(i, " ".join(f"w{(i * 31 + k) % 997} w{k}" for k in range(40)))
         for i in range(200)], "doc_id long, text string")
    # a frame with plan stats (a python-list frame has none), so a
    # guard on the scored frame's estimate would collect the model
    delta = spark.range(1).selectExpr("id + 1 AS doc_id", "'w1 w2 w3' AS text")
    lm = T.lm_train(train, hash_keys=True)
    budget = 64 << 10
    assert G.plan_bytes(delta) <= budget < 16 * (lm.table.count() + lm.vocab_size)
    monkeypatch.setattr(G, "BUDGET_BYTES", budget)
    got = {tuple(r) for r in T.lm_score(delta, lm).collect()}
    assert _paths(caplog, "lm_score") == ["distributed"]
    ref = T.lm_score(delta, T.lm_train(train))
    assert got == {tuple(r) for r in ref.collect()}


def _minhash_against_losers(delta, snap, threshold, cap, nh=64, bands=16):
    """Brute force: delta ids sharing a band's hash slice with a
    snapshot doc (buckets above ``cap`` on either side dropped) whose
    signatures agree on ≥ threshold of the hashes."""
    r = nh // bands

    def buckets(sigs):
        out: dict = {}
        for i, s in enumerate(sigs):
            for b in range(bands if s is not None else 0):
                out.setdefault((b, tuple(s[b * r:(b + 1) * r])), []).append(i)
        return {k: v for k, v in out.items() if cap is None or len(v) <= cap}

    new = D.minhash_signature_table(delta).collect()
    old = [row[1] for row in snap.collect()]
    old_b = buckets(old)
    return {new[i][0] for k, idx in buckets([row[1] for row in new]).items()
            for i in idx for j in old_b.get(k, ())
            if sum(x == y for x, y in zip(new[i][1], old[j])) / nh >= threshold}


def test_dedup_against_paths_match_reference(spark, guard_path, caplog):
    """minhash dedup_against drops what brute-force banding drops on
    either path — across thresholds, hot-bucket caps low enough to fire
    on both sides or disabled, and near-dup / exact-dup / unrelated /
    null / empty / short / duplicate-id delta docs."""
    base = [
        (i, " ".join(f"w{(i * 7 + k) % 23}" for k in range(30)))
        for i in range(40)
    ]
    # shared boilerplate block → hot buckets at tiny caps
    base += [(100 + i, "common block of words here " + f"tail{i}")
             for i in range(12)]
    snap_df = spark.createDataFrame(base, "doc_id long, text string")
    snap = D.minhash_signature_table(snap_df)
    delta_rows = [
        (200, base[3][1]),                      # exact dup
        (201, base[5][1].replace("w12", "zz")), # near dup
        (202, "totally different content phrase nothing shared"),
        (203, None), (204, ""), (205, "tiny"),
        (206, "common block of words here tail3"),
        (206, base[7][1])]                      # duplicate delta id
    delta = spark.createDataFrame(delta_rows, "doc_id long, text string")
    for kwargs in ({}, {"threshold": 0.5}, {"max_band_bucket": 2},
                   {"max_band_bucket": None}):
        caplog.clear()
        got = sorted((r.doc_id, r.text) for r in
                     D.dedup_against(delta, snap, policy="minhash",
                                     **kwargs).collect())
        assert _paths(caplog, "minhash_against") == [guard_path], kwargs
        losers = _minhash_against_losers(
            delta, snap, kwargs.get("threshold", 0.8),
            kwargs.get("max_band_bucket", 1000))
        assert losers, kwargs
        assert got == sorted(
            (i, t) for i, t in delta_rows if i not in losers), kwargs


def test_dedup_against_guard_measures_signatures(spark, monkeypatch, caplog):
    """A delta of many short docs whose raw bytes fit the budget but
    whose collected signatures (8 bytes per hash and band key per row)
    do not must stay distributed."""
    caplog.set_level(logging.INFO, logger="jepl_spark.guard")
    delta = spark.range(400).selectExpr(
        "id AS doc_id", "concat('d', id, ' x') AS text")
    # both sides carry plan stats, so a raw-bytes estimate would fit
    snap = D.minhash_signature_table(spark.sql(
        "SELECT * FROM VALUES (10000L, 'd1 x'), (10001L, 'other words here')"
        " AS t(doc_id, text)"))
    budget = 64 << 10
    assert G.plan_bytes(delta) <= budget < 400 * (64 + 16) * 8
    monkeypatch.setattr(G, "BUDGET_BYTES", budget)
    got = {r.doc_id for r in
           D.dedup_against(delta, snap, policy="minhash").collect()}
    assert _paths(caplog, "minhash_against") == ["distributed"]
    assert got == set(range(400)) - {1}


def test_boilerplate_strip_expected_output(spark):
    """Within-doc duplicate lines, padding, blank lines, NULL/empty
    text, min_line_chars, out_col and the nothing-to-strip identity;
    rows sharing a doc_id (NULL too) are one document, merged by line
    position."""
    rows = [(1, "keep\nSPAM\nkeep2"), (2, "SPAM\nSPAM\nother"),
            (3, None), (4, ""), (5, "\n\n"), (6, "  SPAM  \nx"),
            (7, "a\nSPAM"), (8, "z\nSPAM"), (9, "  \nq")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    stripped = [(1, "keep\nkeep2"), (2, "other"), (3, None), (4, ""),
                (5, "\n\n"), (6, "x"), (7, "a"), (8, "z"), (9, "  \nq")]
    for kwargs, want in (
        ({"max_df": 2}, stripped),
        # "SPAM" is shorter than 5 chars: never evidence, never stripped
        ({"max_df": 2, "min_line_chars": 5}, rows),
        ({"max_df": 2, "out_col": "clean"},
         [r + (c,) for r, (_, c) in zip(rows, stripped)]),
        ({"max_df": 100}, rows),
    ):
        got = sorted(tuple(r) for r in
                     T.strip_boilerplate_lines(df, **kwargs).collect())
        assert got == want, kwargs
    dup = spark.createDataFrame(
        [(10, "HDR\nshared"), (10, "shared\nSPAM"), (11, "shared"),
         (12, "SPAM"), (None, "SPAM\nend")], "doc_id long, text string")
    got = sorted((tuple(r) for r in
                  T.strip_boilerplate_lines(dup, max_df=2).collect()), key=repr)
    # "shared" is in two documents (10 counts once), "SPAM" in three
    assert got == [(10, "HDR\nshared\nshared"), (10, "HDR\nshared\nshared"),
                   (11, "shared"), (12, ""), (None, "end")]
