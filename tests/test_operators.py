"""Pipeline-operator tests: dedup (exact/minhash/simhash/jaccard),
similarity search, and text analysis on hand-constructed frames with
known answers."""

from __future__ import annotations

import math
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from jepl_spark.operators import dedup as D
from jepl_spark.operators import similarity as S
from jepl_spark.operators import text as T

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank"),
    (1, "the quick brown fox jumps over the lazy dog near the river bend"),  # near-dup of 0
    (2, "completely different content about spark streaming windows and joins"),
    (3, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 0
    (4, "COMPLETELY   different Content about spark streaming windows and joins"),  # 2 modulo case/ws
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_dedup(spark, docs_df):
    kept = sorted(r["doc_id"] for r in D.exact_dedup(docs_df).collect())
    # 3 is an exact dup of 0; 4 normalizes to 2 (case+whitespace fold)
    assert kept == [0, 1, 2]
    stats = {r["doc_id"]: r["dup_count"] for r in D.exact_dedup_stats(docs_df).collect()}
    assert stats == {0: 2, 1: 1, 2: 2}


def test_decontaminate_flags_quoters_only(spark):
    """Docs quoting a benchmark item (≥min_hits shared 8-grams) are
    flagged with the right hit counts; unrelated docs survive; the
    hashed production lane flags the same set as the string lane; and
    return_clean is the exact complement."""
    bench_text = "the quick brown fox jumps over the lazy dog every day"
    docs = spark.createDataFrame(
        [
            (0, f"intro words then {bench_text} and some trailing text"),
            (1, "a completely unrelated document about spark shuffles "
                "and partition pruning strategies for large joins"),
            (2, f"short quote: {' '.join(bench_text.split()[:8])} end"),
            (3, "another innocent row with enough tokens to form many "
                "shingles none of which overlap the benchmark at all"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame([(bench_text,)], ["text"])
    flagged = {
        r["doc_id"]: r["contam_hits"]
        for r in D.decontaminate(docs, bench, n=8, min_hits=2).collect()
    }
    # doc 0 embeds all 4 benchmark 8-grams (11 tokens → 11−8+1);
    # doc 2 shares only 1 (< min_hits)
    assert flagged == {0: 4}
    one_hit = {
        r["doc_id"]: r["contam_hits"]
        for r in D.decontaminate(docs, bench, n=8, min_hits=1).collect()
    }
    assert one_hit == {0: 4, 2: 1}
    # string-shingle lane (the gate path) flags the identical set
    s_flagged = {
        r["doc_id"]: r["contam_hits"]
        for r in D.decontaminate(
            docs, bench, n=8, min_hits=2,
            shingles=lambda t: D.word_shingles(t, 8),
        ).collect()
    }
    assert s_flagged == flagged
    clean = sorted(
        r["doc_id"]
        for r in D.decontaminate(
            docs, bench, n=8, min_hits=2, return_clean=True
        ).collect()
    )
    assert clean == [1, 2, 3]
    with pytest.raises(ValueError):
        D.decontaminate(docs, bench, min_hits=0)


def test_stream_decontaminate_superset_and_paths(spark):
    """The stateless bloom prescreen drops a SUPERSET of the exact
    batch operator's set (no false negatives); at a generous n_bits the
    sets coincide; literal and broadcast word-array paths agree; NULL
    text is kept; hits_col audits the count."""
    bench_text = "the quick brown fox jumps over the lazy dog every day"
    docs = spark.createDataFrame(
        [
            (0, f"intro words then {bench_text} and some trailing text"),
            (1, "a completely unrelated document about spark shuffles "
                "and partition pruning strategies for large joins"),
            (2, None),
            (3, "another innocent row with enough tokens to form many "
                "shingles none of which overlap the benchmark at all"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(bench_text,)], ["text"])
    exact_flagged = {
        r["doc_id"]
        for r in D.decontaminate(docs, bench, n=8, min_hits=2).collect()
    }
    filt = D.decontaminate_bloom_words(bench, n=8, n_bits=1 << 16)
    assert (filt.n_bits, filt.k, filt.hasher, filt.n) == (1 << 16, 3,
                                                          "xxhash64", 8)
    kept = D.stream_decontaminate(docs, filt, min_hits=2, hits_col="h")
    kept_ids = {r["doc_id"] for r in kept.collect()}
    # dropped ⊇ exact-flagged, and here (tiny shingle load) equal
    assert kept_ids == {0, 1, 2, 3} - exact_flagged
    assert 2 in kept_ids  # NULL text: no evidence, kept
    hits = {r["doc_id"]: r["h"] for r in kept.collect()}
    assert hits[1] == 0 and hits[2] == 0
    # broadcast binding (words > literal max) agrees
    big = D.decontaminate_bloom_words(bench, n=8, n_bits=1 << 18)
    assert len(big.words) > 2048
    kept_big = {
        r["doc_id"]
        for r in D.stream_decontaminate(docs, big, min_hits=2).collect()
    }
    assert kept_big == kept_ids
    with pytest.raises(ValueError):
        D.stream_decontaminate(docs, filt, min_hits=0)


def test_minhash_candidates(spark, docs_df):
    pairs = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in D.minhash_candidates(docs_df, bands=16, num_hashes=64).collect()
    }
    assert pairs[(0, 3)] == 1.0          # identical → all minhashes equal
    assert pairs.get((0, 1), 0) > 0.5    # near-dup → high estimate
    assert (0, 2) not in pairs           # unrelated → no shared band
    assert (1, 2) not in pairs


def test_minhash_dedup_removes_near_dups(spark, docs_df):
    kept = sorted(
        r["doc_id"]
        for r in D.minhash_dedup(docs_df, threshold=0.5, bands=16, num_hashes=64).collect()
    )
    assert 0 in kept and 2 in kept
    assert 3 not in kept and 1 not in kept


def test_simhash(spark, docs_df):
    sigs = {r["doc_id"]: r["sig"] for r in docs_df.select(
        "doc_id", D.simhash64(F.col("text")).alias("sig")).collect()}
    assert all(isinstance(s, int) for s in sigs.values())  # packed BIGINT
    assert sigs[0] == sigs[3]            # identical text → same signature
    assert sigs[2] == sigs[4]            # normalization folds case/ws

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert ham(sigs[0], sigs[1]) < ham(sigs[0], sigs[2])  # near-dup closer


def test_simhash_packing_matches_python_reference(spark):
    """The packed long must equal a from-first-principles Python SimHash
    built on Spark's own xxhash64 token hashes (bit p of the hash →
    bit 63−p of the long, MSB via two's complement)."""
    text = "the quick brown fox jumps over the lazy dog"
    toks = text.split()
    hashes = {
        r["t"]: r["h"]
        for r in spark.createDataFrame([(t,) for t in set(toks)], ["t"])
        .select("t", F.xxhash64(F.col("t")).alias("h")).collect()
    }
    sums = [0] * 64
    for t in toks:  # non-distinct tokens each contribute, as in the operator
        h = hashes[t] & ((1 << 64) - 1)
        for p in range(64):
            sums[p] += 1 if (h >> (63 - p)) & 1 else -1
    unsigned = 0
    for p in range(64):
        if sums[p] >= 0:
            unsigned |= 1 << (63 - p)
    expect = unsigned - (1 << 64) if unsigned >= (1 << 63) else unsigned

    got = (
        spark.createDataFrame([(text,)], ["text"])
        .select(D.simhash64(F.col("text")).alias("s")).collect()[0]["s"]
    )
    assert got == expect


def test_simhash_hamming_near_dups_planted(spark):
    """Banded Hamming search on planted signatures: pairs at distance
    0/1/3 found, distance 4 excluded at max_hamming=3; the pigeonhole
    guard rejects max_hamming >= bands."""
    base = 0x0123456789ABCDEF
    rows = [
        (0, base),
        (1, base),                       # hamming 0
        (2, base ^ 0x1),                 # hamming 1
        (3, base ^ (0x8000000000000001 - 2**64)),  # hamming 2, MSB touched
        (4, base ^ 0x0007000000000000), # hamming 3
        (5, base ^ 0x3300),              # hamming >= 4 from all — excluded
        (6, 0x7EDCBA9876543210),         # far away
    ]
    signed = [(i, v - 2**64 if v >= 2**63 else v) for i, v in rows]
    df = spark.createDataFrame(signed, ["doc_id", "sig"])
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in D.simhash_hamming_near_dups(
            df, id_col="doc_id", sig=F.col("sig"), max_hamming=3, bands=4
        ).collect()
    }
    assert got[(0, 1)] == 0
    assert got[(0, 2)] == 1 and got[(1, 2)] == 1
    assert got[(0, 3)] == 2
    assert got[(0, 4)] == 3
    assert not any(5 in p or 6 in p for p in got)

    with pytest.raises(ValueError, match="pigeonhole"):
        D.simhash_hamming_near_dups(df, sig=F.col("sig"), max_hamming=4, bands=4)


def test_simhash_hamming_near_dups_real_text(spark, docs_df):
    """Production path: real simhash64 signatures over the doc corpus —
    the exact/normalized dup pairs land at hamming 0."""
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in D.simhash_hamming_near_dups(docs_df, max_hamming=3).collect()
    }
    assert got[(0, 3)] == 0   # exact dup
    assert got[(2, 4)] == 0   # case/whitespace-normalized dup


def test_ngram_jaccard_exact_value(spark, docs_df):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs_df, shingle_n=3, min_jaccard=0.05).collect()
    }
    # compute expected jaccard for (0,1) in python
    def shingles(text, n=3):
        toks = text.lower().split()
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    s0, s1 = shingles(DOCS[0][1]), shingles(DOCS[1][1])
    expect = len(s0 & s1) / len(s0 | s1)
    assert math.isclose(pairs[(0, 1)], expect, rel_tol=1e-9)
    assert pairs[(0, 3)] == 1.0


def test_cosine_and_topk(spark):
    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
        (4, [0.0, 0.0, 0.0]),  # zero vector → cosine 0 by convention
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    q = [1.0, 0.0, 0.0]
    scores = {r["vec_id"]: r["cosine"] for r in S.cosine_scores(df, q).collect()}
    assert math.isclose(scores[0], 1.0)
    assert math.isclose(scores[1], 0.9 / math.sqrt(0.81 + 0.01), rel_tol=1e-9)
    assert math.isclose(scores[2], 0.0)
    assert math.isclose(scores[3], -1.0)
    assert scores[4] == 0.0
    top = [r["vec_id"] for r in S.brute_force_topk(df, q, k=3).collect()]
    assert top == [0, 1, 2]


def test_lsh_topk_contains_query_bucket(spark):
    rng = np.random.RandomState(7)
    vecs = [(i, rng.randn(16).astype(float).tolist()) for i in range(200)]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    q = vecs[5][1]
    exact = [r["vec_id"] for r in S.brute_force_topk(df, q, k=1).collect()]
    approx = S.lsh_topk(df, q, k=5, planes=4).collect()
    assert exact[0] == 5                    # self is nearest
    assert 5 in [r["vec_id"] for r in approx]  # LSH keeps the query's bucket
    assert math.isclose(approx[0]["cosine"], 1.0, rel_tol=1e-6)


def test_embedding_near_dups(spark):
    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),   # near-dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    pairs = {(r["id_a"], r["id_b"]) for r in S.embedding_near_dups(df, threshold=0.99).collect()}
    assert (0, 1) in pairs and (0, 2) not in pairs


def test_token_count_edges(spark):
    df = spark.createDataFrame(
        [(0, "a b  c"), (1, ""), (2, "   "), (3, "single")], ["i", "t"]
    )
    got = {r["i"]: r["n"] for r in df.select("i", T.token_count(F.col("t")).alias("n")).collect()}
    assert got == {0: 3, 1: 0, 2: 0, 3: 1}


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(0, "Hello   World"), (1, "hello world"), (2, " HELLO\tWORLD ")], ["i", "t"]
    )
    fps = [r["fp"] for r in df.select("i", T.fingerprint(F.col("t")).alias("fp")).collect()]
    assert fps[0] == fps[1] == fps[2]


def test_bpe_ish_token_count(spark):
    df = spark.createDataFrame([(0, "hi internationalization, ok!")], ["i", "t"])
    n = df.select(T.bpe_ish_token_count(F.col("t")).alias("n")).collect()[0]["n"]
    # hi=1, internationalization,(21 chars)=6, ok!=1 ; punct , and ! = 2
    assert n == 1 + 6 + 1 + 2


def test_lang_id_samples(spark):
    samples = [
        (0, "the cat sat on the mat and it is a good day for a walk"),
        (1, "le chat est sur la table et il est pour une bonne journee"),
        (2, "el gato es una mascota y es un buen dia por la manana"),
        (3, "der hund und die katze sind ein gutes team zu hause von den"),
        (4, "这是一个中文句子用于测试语言识别功能"),
        (5, "xyzzy plugh qwerty asdf"),
    ]
    df = spark.createDataFrame(samples, ["i", "t"])
    got = {r["i"]: r["lang"] for r in df.select("i", T.lang_id(F.col("t")).alias("lang")).collect()}
    assert got == {0: "en", 1: "fr", 2: "es", 3: "de", 4: "zh", 5: "und"}


def test_minhash_estimate_tracks_exact_jaccard(spark):
    """Quality regression for the universal-hash family: without the
    mod-p permutation step, a_i·h + b_i is monotone in h, every seed
    picks the same minimum shingle, and est_jaccard inflates ~40× (the
    sf0.1 candidate count jumped 256 → 10,843 when that bug was live).
    Pin |est − exact| on a known-overlap pair."""
    import random

    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(500)]
    base = [rng.choice(vocab) for _ in range(120)]
    mutated = list(base)
    for _ in range(12):
        mutated[rng.randrange(len(mutated))] = rng.choice(vocab)
    docs = [
        (0, " ".join(base)),
        (1, " ".join(mutated)),
        (2, " ".join(rng.choice(vocab) for _ in range(120))),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    def sh(t, n=3):
        toks = t.lower().split()
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    exact01 = len(sh(docs[0][1]) & sh(docs[1][1])) / len(sh(docs[0][1]) | sh(docs[1][1]))
    pairs = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in D.minhash_candidates(df, bands=16, num_hashes=64).collect()
    }
    assert (0, 1) in pairs
    assert abs(pairs[(0, 1)] - exact01) <= 0.15, (pairs[(0, 1)], exact01)
    # unrelated docs: absent, or present with a low estimate
    assert pairs.get((0, 2), 0.0) < 0.3 and pairs.get((1, 2), 0.0) < 0.3


def test_near_dup_components_graph_shapes(spark):
    """Min-label components over a hand-built edge list: chains longer
    than one pointer-jump round, a star through the largest id, two
    separate components, and an empty edge list."""
    edges = [
        # chain 10-11-12-13-14-15-16-17 (depth forces several rounds)
        *[(i, i + 1) for i in range(10, 17)],
        # star: 0-2 and 1-2 (the non-transitive fixture)
        (0, 2), (1, 2),
        # reversed order pair (edge direction must not matter)
        (31, 30),
    ]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r["id"]: r["component"]
           for r in D.near_dup_components(df).collect()}
    want = {i: 10 for i in range(10, 18)}
    want.update({0: 0, 1: 0, 2: 0, 30: 30, 31: 30})
    assert got == want
    assert D.near_dup_components(df.limit(0)).count() == 0


def test_minhash_dedup_components_vs_pairs_policy(spark):
    """The policy difference VERDICT r4 called out: with edges (0,2)
    and (1,2) only, the pair policy keeps docs 0 AND 1 (two
    representatives of one fuzzy cluster); components keeps exactly
    the cluster minimum."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(400)]
    mid = [vocab[rng.randrange(400)] for _ in range(120)]
    # doc0 and doc1 are both near doc2 but differ from each other in
    # DISJOINT head/tail runs drawn from a disjoint vocab: shingle
    # Jaccard ≈ 0.64 vs doc2 each, ≈ 0.39 vs each other
    a = list(mid); b = list(mid)
    for i in range(0, 24):
        a[i] = f"za{i}"
    for i in range(96, 120):
        b[i] = f"zb{i}"
    docs = [(0, " ".join(a)), (1, " ".join(b)), (2, " ".join(mid)),
            (9, " ".join(vocab[rng.randrange(400)] for _ in range(120)))]
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    kw = dict(threshold=0.5, bands=16, num_hashes=64)
    pairs_kept = {r["doc_id"]
                  for r in D.minhash_dedup(df, policy="pairs", **kw).collect()}
    comp_kept = {r["doc_id"]
                 for r in D.minhash_dedup(df, policy="components", **kw).collect()}
    # pair policy: 2 drops (lower-id neighbors 0 and 1), 0/1 survive
    assert pairs_kept == {0, 1, 9}
    # components: {0,1,2} is one cluster -> only its min survives
    assert comp_kept == {0, 9}
    import pytest as _pt
    with _pt.raises(ValueError):
        D.minhash_dedup(df, policy="bogus")


def test_lsh_index_build_query_recall(spark, tmp_path):
    """lsh_bucketize → LshIndex.topk: on clustered data (where LSH has
    signal) the OR-amplified index must reach recall@10 ≥ 0.9 vs brute
    force, the lookup plan must read only the query's (table, bucket)
    partitions, and a reloaded index must answer identically."""
    import numpy as np

    rng = np.random.RandomState(11)
    centers = rng.randn(40, 32) * 3.0
    vecs = []
    for i in range(400):
        c = centers[i % 40]
        vecs.append((i, (c + rng.randn(32) * 0.15).astype(float).tolist()))
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    q = vecs[7][1]

    path = str(tmp_path / "idx")
    idx = S.lsh_bucketize(df, path, planes=8, tables=6, seed=42)
    exact = [r["vec_id"] for r in S.brute_force_topk(df, q, k=10).collect()]
    approx_df = idx.topk(spark, q, k=10)
    approx = [r["vec_id"] for r in approx_df.collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.9, (recall, exact, approx)

    # partition pruning: the scan must carry PartitionFilters and no
    # data filters — only the query's buckets are read
    plan = approx_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan

    # persisted metadata: a fresh load answers identically (meta I/O
    # goes through the Hadoop FS API, so this works on cluster FSes)
    idx2 = S.LshIndex.load(spark, path)
    approx2 = [r["vec_id"] for r in idx2.topk(spark, q, k=10).collect()]
    assert approx2 == approx
    assert idx2.query_buckets(q) == idx.query_buckets(q)


def test_lsh_topk_batch_one_job_parity(spark, tmp_path):
    """LshIndex.topk_batch: the serving-shape batched lookup must (a)
    return exactly what N per-query topk calls return, (b) handle an
    empty query set with the same schema, and (c) issue a job count
    INDEPENDENT of N — one batched index-join job per micro-batch, not
    one job per query (the round-4 weak spot)."""
    import numpy as np

    rng = np.random.RandomState(23)
    centers = rng.randn(30, 24) * 3.0
    vecs = [
        (i, (centers[i % 30] + rng.randn(24) * 0.15).astype(float).tolist())
        for i in range(300)
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    path = str(tmp_path / "idx")
    idx = S.lsh_bucketize(df, path, planes=8, tables=4, seed=42)

    qids = [3, 7, 11, 19, 42, 101, 150, 222]
    queries = spark.createDataFrame(
        [(i, vecs[i][1]) for i in qids], ["query_id", "query_vec"]
    )

    # (a) parity vs the per-query path, bit-for-bit on (id, rank) and
    # close on cosine (identical arithmetic, but don't rely on it)
    want = {}
    for i in qids:
        for rank, r in enumerate(idx.topk(spark, vecs[i][1], k=5).collect(), 1):
            want[(i, rank)] = (r["vec_id"], r["cosine"])
    got_rows = idx.topk_batch(spark, queries, k=5).collect()
    got = {(r["query_id"], r["rank"]): (r["vec_id"], r["cosine"])
           for r in got_rows}
    assert set(got) == set(want)
    for key in want:
        assert got[key][0] == want[key][0], (key, got[key], want[key])
        assert abs(got[key][1] - want[key][1]) < 1e-9

    # (b) empty micro-batch → empty result, same columns
    empty = idx.topk_batch(spark, queries.limit(0), k=5)
    assert empty.columns == ["query_id", "vec_id", "cosine", "rank"]
    assert empty.count() == 0

    # (c) job count is constant in N: run the whole batched lookup for
    # 2 queries and for 8 queries under tagged job groups and compare.
    # (AQE/broadcast may add a couple of internal jobs — what matters
    # is that 4× the queries does NOT mean 4× the jobs.)
    sc = spark.sparkContext

    def count_jobs(group, qdf):
        sc.setJobGroup(group, group)
        try:
            idx.topk_batch(spark, qdf, k=5).collect()
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    jobs_small = count_jobs("lsh-batch-2", queries.limit(2))
    jobs_large = count_jobs("lsh-batch-8", queries)
    # AQE materializes each exchange stage as its own job, so the
    # absolute count is ~10 — the invariant is that it's CONSTANT:
    # 4× the queries adds at most one job, vs +6 for a per-query loop
    assert jobs_large <= jobs_small + 1, (jobs_small, jobs_large)


def test_ivf_topk_batch_parity(spark, tmp_path):
    """IvfIndex.topk_batch: the cell-pruned batched lookup returns what
    N per-query topk calls return, and an empty batch yields an empty
    frame with the result schema."""
    import numpy as np

    rng = np.random.RandomState(31)
    centers = rng.randn(12, 16) * 4.0
    vecs = [
        (i, (centers[i % 12] + rng.randn(16) * 0.2).astype(float).tolist())
        for i in range(240)
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    idx = S.ivf_build_fixed(
        df, str(tmp_path / "ivf"), [v for _, v in vecs[:12]]
    )
    qids = [2, 9, 77, 140]
    queries = spark.createDataFrame(
        [(i, vecs[i][1]) for i in qids], ["query_id", "query_vec"]
    )
    want = {}
    for i in qids:
        for rank, r in enumerate(
            idx.topk(spark, vecs[i][1], k=5, nprobe=3).collect(), 1
        ):
            want[(i, rank)] = r["vec_id"]
    got = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in idx.topk_batch(spark, queries, k=5, nprobe=3).collect()
    }
    assert got == want
    empty = idx.topk_batch(spark, queries.limit(0), k=5)
    assert empty.columns == ["query_id", "vec_id", "cosine", "rank"]
    assert empty.count() == 0


def test_ivf_index_build_query_recall(spark, tmp_path):
    """IVF coarse-quantizer index (the brief's 'IVF or LSH' second
    variant): on clustered data the nprobe-cell scan must reach
    recall@10 ≥ 0.9 vs brute force, read only the probed cell
    partitions, and reload identically from its persisted centroids."""
    import numpy as np

    rng = np.random.RandomState(5)
    centers = rng.randn(20, 16) * 4.0
    vecs = [
        (i, (centers[i % 20] + rng.randn(16) * 0.2).astype(float).tolist())
        for i in range(300)
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    q = vecs[9][1]

    path = str(tmp_path / "ivf")
    idx = S.ivf_build(df, path, n_cells=20, seed=42)
    exact = [r["vec_id"] for r in S.brute_force_topk(df, q, k=10).collect()]
    approx_df = idx.topk(spark, q, k=10, nprobe=3)
    approx = [r["vec_id"] for r in approx_df.collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.9, (recall, exact, approx)

    plan = approx_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan

    idx2 = S.IvfIndex.load(spark, path)
    assert [r["vec_id"] for r in idx2.topk(spark, q, k=10, nprobe=3).collect()] == approx


def test_lang_id_broadened(spark):
    """VERDICT r2 item 7: >= 8 stopword languages + script-ratio
    fallbacks beyond CJK (kana, Hangul, Cyrillic, Arabic, Greek,
    Devanagari, Hebrew), spec frozen in fixtures/lang_id.json."""
    from pyspark.sql import functions as F

    from jepl_spark.operators.text import lang_id

    cases = [
        ("the cat sat on the mat and it is for you", "en"),
        ("le chat est sur la table et il est pour toi", "fr"),
        ("el gato es de los grandes y por una causa", "es"),
        ("der hund und die katze ist ein tier von uns", "de"),
        ("il gatto che dorme per la casa e non di fuori", "it"),
        ("o gato que dorme para a casa com um amigo não está", "pt"),
        ("de kat het een dier en van dat is op te voor", "nl"),
        ("och att det som en katt är av för på med", "sv"),
        ("这是一个中文句子用于测试语言识别", "zh"),
        ("これはにほんごのぶんしょうです", "ja"),
        ("한국어 문장입니다 언어 감지 테스트", "ko"),
        ("это русское предложение для теста", "ru"),
        ("هذه جملة عربية للاختبار", "ar"),
        ("αυτή είναι μια ελληνική πρόταση", "el"),
        ("यह एक हिंदी वाक्य है", "hi"),
        ("זה משפט בעברית לבדיקה", "he"),
        # kanji-heavy Japanese with enough kana must be ja, not zh
        ("日本語の文章を書く時、漢字とかなを使います", "ja"),
        # ties / zero overlap -> und
        ("zzz qqq xxx", "und"),
        ("", "und"),
        # balanced en/fr stopword tie -> und (strict argmax)
        ("the le", "und"),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(cases)], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: r["g"]
        for r in df.select("doc_id", lang_id(F.col("text")).alias("g")).collect()
    }
    for i, (text, want) in enumerate(cases):
        assert got[i] == want, f"{text!r}: got {got[i]}, want {want}"


def test_embedding_near_dups_multi_table_recall(spark):
    """VERDICT r2 item 2: OR-amplification — tables=4 must recover
    strictly more of the true near-threshold pair set than tables=1
    (a pair is missed only if it hashes apart in EVERY table), and
    every returned pair must be a true pair (exact cosine rescoring
    means precision is 1.0 by construction)."""
    rng = np.random.RandomState(11)
    base = rng.randn(60, 16)
    rows, truth = [], set()
    for i, v in enumerate(base):
        rows.append((2 * i, (v / np.linalg.norm(v)).tolist()))
        # planted near-threshold partner: cosine ~0.85-0.95
        w = v + rng.randn(16) * 0.25
        rows.append((2 * i + 1, (w / np.linalg.norm(w)).tolist()))
    arr = {i: np.array(v) for i, v in rows}
    thr = 0.8
    ids = sorted(arr)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            if float(arr[a] @ arr[b]) >= thr:
                truth.add((a, b))
    assert len(truth) >= 40  # the fixture actually has near-threshold pairs

    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    def found(tables):
        got = {
            (r["id_a"], r["id_b"])
            for r in S.embedding_near_dups(
                df, threshold=thr, planes=8, tables=tables, seed=3
            ).collect()
        }
        assert got <= truth  # exact rescoring: no false positives
        return got

    r1, r4 = found(1), found(4)
    assert len(r4) > len(r1), (len(r1), len(r4))
    assert r1 <= r4  # tables=4 includes every table-0 collision


def test_gate_constants_frozen_fixture_drift():
    """VERDICT r2 item 5: the oracle twins read frozen fixtures; this
    test pins generator code == fixture so neither can silently drift
    (a generator change must consciously regenerate the fixture)."""
    import json
    import os

    root = os.path.join(os.path.dirname(__file__), "..")
    with open(os.path.join(root, "jepl_spark/fixtures/hyperplanes.json")) as f:
        fx = json.load(f)
    for t in range(4):
        seed = 42 + 1000 * t
        assert fx["entries"][f"planes4_seed{seed}"] == S.hyperplanes(64, 4, seed), (
            f"hyperplanes(64, 4, {seed}) diverged from the checked-in fixture; "
            "if the change is intentional, regenerate fixtures/hyperplanes.json"
        )
    from jepl_spark.operators.text import _SCRIPTS, _STOPWORDS

    with open(os.path.join(root, "jepl_spark/fixtures/lang_id.json")) as f:
        lf = json.load(f)
    assert _STOPWORDS == lf["stopwords"]
    assert [list(s) for s in _SCRIPTS] == lf["scripts"]


def test_ivf_reload_identical_and_fingerprint_guard(spark, tmp_path):
    """VERDICT r2 item 8: the meta sidecar carries training provenance
    + a centroid fingerprint; a reload must reproduce the build's
    assignment exactly, and a corrupted sidecar must refuse to load."""
    import json

    from jepl_spark import fsutil

    rng = np.random.RandomState(5)
    centers = rng.randn(4, 8) * 4
    rows = [
        (i, (centers[i % 4] + rng.randn(8) * 0.3).tolist()) for i in range(200)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    path = str(tmp_path / "ivf")
    idx = S.ivf_build(df, path, n_cells=4, seed=9, sample_fraction=0.8)

    meta = json.loads(fsutil.read_text(spark, f"{path}/{S.IvfIndex._META}"))
    assert meta["seed"] == 9 and meta["sample_fraction"] == 0.8
    assert meta["centroid_fingerprint"] == S.IvfIndex.centroid_fingerprint(
        meta["centroids"]
    )

    # reload in a "different session" and prove identical behavior
    re = S.IvfIndex.load(spark, path)
    assert re.centroids == idx.centroids
    q = rows[17][1]
    assert re.query_cells(q, 2) == idx.query_cells(q, 2)
    a = [(r["vec_id"], r["cosine"]) for r in idx.topk(spark, q, k=5).collect()]
    b = [(r["vec_id"], r["cosine"]) for r in re.topk(spark, q, k=5).collect()]
    assert a == b

    # corrupt one centroid value in the sidecar -> load refuses
    meta["centroids"][0][0] += 1.0
    fsutil.write_text(spark, f"{path}/{S.IvfIndex._META}", json.dumps(meta))
    with pytest.raises(ValueError, match="fingerprint"):
        S.IvfIndex.load(spark, path)


def test_ivf_nprobe_recall_monotone(spark, tmp_path):
    """Recall vs the exact top-k must be non-decreasing in nprobe and
    reach 1.0 when every cell is probed (the index degenerates to a
    full scan)."""
    rng = np.random.RandomState(6)
    centers = rng.randn(6, 8) * 3
    rows = [
        (i, (centers[i % 6] + rng.randn(8) * 0.5).tolist()) for i in range(300)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    idx = S.ivf_build(df, str(tmp_path / "ivf"), n_cells=6, seed=4)

    q = rows[42][1]
    exact = {r["vec_id"] for r in S.brute_force_topk(df, q, k=10).collect()}
    recalls = []
    for nprobe in (1, 2, 4, 6):
        got = {r["vec_id"] for r in idx.topk(spark, q, k=10, nprobe=nprobe).collect()}
        recalls.append(len(got & exact) / len(exact))
    assert all(a <= b + 1e-12 for a, b in zip(recalls, recalls[1:])), recalls
    assert recalls[-1] == 1.0


def test_word_shingle_hashes_equivalent_to_string_shingles(spark):
    """The hash-combined shingles must be set-isomorphic to the string
    shingles: same per-doc distinct counts AND same cross-doc equality
    structure (shared string shingles <=> shared hashes) — including
    short docs, empty text, and whitespace edges."""
    docs = [
        (0, "a b c d e"),
        (1, "b c d e f"),          # overlaps 0 on shingles 'b c d', 'c d e'
        (2, "a b"),                 # short: single full-join shingle
        (3, "a b"),                 # identical short doc
        (4, ""),
        (5, "\ta  b\nc d e "),      # whitespace edges: same tokens as 0's prefix
        (6, "x y z x y z x y z"),   # repeats → distinct folding
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    rows = df.select(
        "doc_id",
        D.word_shingles(F.col("text"), 3).alias("s"),
        D.word_shingle_hashes(F.col("text"), 3).alias("h"),
    ).collect()
    by_id = {r["doc_id"]: r for r in rows}
    # per-doc: same distinct cardinality, no null hashes
    for r in rows:
        assert len(set(r["s"])) == len(set(r["h"])), r["doc_id"]
        assert None not in r["h"]
    # cross-doc: the shared-shingle counts must agree between bases
    import itertools

    for a, b in itertools.combinations(by_id, 2):
        shared_s = len(set(by_id[a]["s"]) & set(by_id[b]["s"]))
        shared_h = len(set(by_id[a]["h"]) & set(by_id[b]["h"]))
        assert shared_s == shared_h, (a, b, shared_s, shared_h)


def test_simhash_hamming_banded_equals_bruteforce_randomized(spark):
    """Pigeonhole losslessness on 300 random signatures with planted
    near pairs: the banded search must return EXACTLY the brute-force
    Hamming<=3 pair set (seeded, deterministic)."""
    import random

    rng = random.Random(77)
    sigs = {}
    i = 0
    for _ in range(100):
        base = rng.getrandbits(64)
        sigs[i] = base
        # partner at a random distance 1..6 (some qualify, some don't)
        flipped = base
        for _ in range(rng.randint(1, 6)):
            flipped ^= 1 << rng.randrange(64)
        sigs[i + 1] = flipped
        sigs[i + 2] = rng.getrandbits(64)
        i += 3

    def signed(v):
        return v - 2**64 if v >= 2**63 else v

    expect = set()
    ids = sorted(sigs)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            if bin(sigs[a] ^ sigs[b]).count("1") <= 3:
                expect.add((a, b))

    df = spark.createDataFrame(
        [(k, signed(v)) for k, v in sigs.items()], ["doc_id", "sig"]
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in D.simhash_hamming_near_dups(
            df, sig=F.col("sig"), max_hamming=3, bands=4
        ).collect()
    }
    assert got == expect and len(expect) > 20


def test_brute_force_topk_batch_matches_single(spark):
    """Per-query batched results must equal the single-query operator
    (same values, same tie-break), and the plan must broadcast the
    query side (one corpus pass, no corpus shuffle)."""
    rng = np.random.RandomState(9)
    rows = [(i, rng.randn(8).tolist()) for i in range(300)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    qids = [3, 42, 250]
    queries = spark.createDataFrame(
        [(i, rows[i][1]) for i in qids], ["query_id", "query_vec"]
    )
    batch = S.brute_force_topk_batch(df, queries, k=7)
    got = {
        qid: [
            (r["vec_id"], round(r["cosine"], 9))
            for r in batch.filter(F.col("query_id") == qid)
            .orderBy("rank").collect()
        ]
        for qid in qids
    }
    for qid in qids:
        single = [
            (r["vec_id"], round(r["cosine"], 9))
            for r in S.brute_force_topk(df, rows[qid][1], k=7).collect()
        ]
        assert got[qid] == single, qid
        assert got[qid][0][0] == qid  # self is rank 1

    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def _winnow_ref(text, k=8, w=4):
    """From-first-principles Python winnowing (the operator's spec)."""
    import re

    s = re.sub(r"\s+", " ", text).strip().lower()
    if not s:
        return []
    codes = [ord(c) for c in s]
    if len(codes) < k:
        h = 0
        for c in codes:
            h = h * 31 + c
        return [h]
    grams = []
    for i in range(len(codes) - k + 1):
        h = 0
        for c in codes[i:i + k]:
            h = h * 31 + c
        grams.append(h)
    # fewer grams than the window -> one fingerprint (min of all),
    # matching the operator's least-with-null-padding behavior
    return sorted({min(grams[j:j + w]) for j in range(max(len(grams) - w + 1, 1))})


def test_winnow_fingerprints_reference_and_edges(spark):
    docs = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "THE  Quick brown\tfox jumps over the lazy dog"),  # normalization
        (2, "ab"), (3, ""), (4, "   "), (5, "exactly8"),  # short/empty edges
        (6, "unicode éàü 中文 test string here"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r["doc_id"]: r["fp"]
        for r in df.select(
            "doc_id", T.winnow_fingerprints(F.col("text")).alias("fp")
        ).collect()
    }
    for i, text in docs:
        assert got[i] == _winnow_ref(text), (i, text)
    assert got[0] == got[1]          # normalization folds case/ws
    assert got[3] == [] and got[4] == []

    with pytest.raises(ValueError, match="k must be"):
        T.winnow_fingerprints(F.col("text"), k=9)


def test_winnowing_shared_substring_guarantee(spark):
    """The winnowing theorem on random docs: ANY planted shared
    substring of length >= window + k - 1 (= 11 at k=8,w=4) yields at
    least one common fingerprint."""
    import random

    rng = random.Random(12)
    alphabet = "abcdefghij "
    chunk = "".join(rng.choice(alphabet) for _ in range(24)).replace("  ", " x")
    rows = []
    for i in range(20):
        pre = "".join(rng.choice(alphabet) for _ in range(rng.randint(5, 40)))
        post = "".join(rng.choice(alphabet) for _ in range(rng.randint(5, 40)))
        rows.append((i, f"{pre}{chunk}{post}"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fps = {
        r["doc_id"]: set(r["fp"])
        for r in df.select(
            "doc_id", T.winnow_fingerprints(F.col("text")).alias("fp")
        ).collect()
    }
    import itertools

    for a, b in itertools.combinations(fps, 2):
        assert fps[a] & fps[b], (a, b)

    pairs = {
        (r["id_a"], r["id_b"])
        for r in T.fingerprint_overlap_pairs(df, min_shared=1).collect()
    }
    assert len(pairs) == 20 * 19 // 2  # every pair shares the chunk


# ---------------------------------------------------------------------------
# PII scrubbing


def test_scrub_pii_all_categories(spark):
    raw = (
        "mail me at jane.doe+spam@sub.example.co.uk or visit "
        "https://example.com/a?b=c#d from 192.168.1.254, "
        "call +1 555-867-5309 today"
    )
    df = spark.createDataFrame([(raw,)], ["text"])
    out = df.select(T.scrub_pii(F.col("text")).alias("t")).collect()[0]["t"]
    assert "<EMAIL>" in out and "<URL>" in out and "<IP>" in out and "<PHONE>" in out
    assert "jane.doe" not in out and "example.com" not in out
    assert "192.168" not in out and "867-5309" not in out


def test_scrub_pii_leaves_dates_and_ids_alone(spark):
    raw = "released 2026-08-16 build 12345678 version 3.2.1 at 12:30"
    df = spark.createDataFrame([(raw,)], ["text"])
    out = df.select(T.scrub_pii(F.col("text")).alias("t")).collect()[0]["t"]
    assert out == raw  # no '+' prefix, no dots-in-quad, no scheme, no @


def test_scrub_pii_url_wins_over_parts(spark):
    raw = "see https://a.b/c@d.ef and 10.0.0.1 inside http://10.0.0.2/x"
    df = spark.createDataFrame([(raw,)], ["text"])
    out = df.select(T.scrub_pii(F.col("text")).alias("t")).collect()[0]["t"]
    # the email-ish and ip-ish substrings inside URLs were consumed by <URL>
    assert out == "see <URL> and <IP> inside <URL>"


def test_pii_counts(spark):
    df = spark.createDataFrame(
        [
            (0, "a@b.co and c@d.org plus https://x.y"),
            (1, "nothing here"),
            (2, "+49 30 1234567 and 8.8.8.8"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in T.pii_counts(df).collect()}
    assert rows[0]["n_email"] == 2 and rows[0]["n_url"] == 1
    assert rows[1]["n_email"] == rows[1]["n_url"] == rows[1]["n_ipv4"] == rows[1]["n_phone"] == 0
    assert rows[2]["n_phone"] == 1 and rows[2]["n_ipv4"] == 1


# ---------------------------------------------------------------------------
# Repetition features


def test_repetition_features_known_answers(spark):
    df = spark.createDataFrame(
        [
            (0, "a\nb\nc\nd"),               # all distinct
            (1, "x\nx\nx\nx"),               # one line repeated 4x
            (2, "u\nu\nv\nw"),               # half duplicated
            (3, "   \n\n  "),                # blank doc
            (4, "only"),                     # single line
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in T.repetition_features(df).collect()}
    assert rows[0]["n_lines"] == 4 and rows[0]["dup_line_frac"] == 0.0
    assert rows[0]["distinct_line_ratio"] == 1.0
    assert rows[1]["dup_line_frac"] == 1.0 and rows[1]["top_line_frac"] == 1.0
    assert rows[1]["distinct_line_ratio"] == 0.25
    assert rows[2]["dup_line_frac"] == 0.5 and rows[2]["top_line_frac"] == 0.5
    assert rows[3]["n_lines"] == 0 and rows[3]["dup_line_frac"] == 0.0
    assert rows[3]["distinct_line_ratio"] == 1.0
    assert rows[4]["n_lines"] == 1 and rows[4]["top_line_frac"] == 1.0


def test_repetition_trims_and_ignores_blank_lines(spark):
    df = spark.createDataFrame([(0, "  a  \n\na\n   \nb")], ["doc_id", "text"])
    r = T.repetition_features(df).collect()[0]
    # '  a  ' and 'a' are the same trimmed line; blanks dropped
    assert r["n_lines"] == 3 and r["dup_line_frac"] == 2 / 3


# ---------------------------------------------------------------------------
# Vocabulary


def test_top_tokens_counts_and_cutoff(spark):
    df = spark.createDataFrame(
        [(0, "the cat and The dog and the bird"), (1, "cat AND dog")],
        ["doc_id", "text"],
    )
    rows = [(r["token"], r["cnt"]) for r in T.top_tokens(df, k=3).collect()]
    # counts: the=3 and=3 cat=2 dog=2 bird=1; tiebreak token asc
    assert rows == [("and", 3), ("the", 3), ("cat", 2)]


def test_top_tokens_min_count_and_case(spark):
    df = spark.createDataFrame([(0, "A a b")], ["doc_id", "text"])
    low = [(r["token"], r["cnt"])
           for r in T.top_tokens(df, k=10, min_count=2).collect()]
    assert low == [("a", 2)]
    cased = [(r["token"], r["cnt"])
             for r in T.top_tokens(df, k=10, lowercase=False).collect()]
    assert ("A", 1) in cased and ("a", 1) in cased


def test_top_tokens_partitioning_invariant(spark):
    df = spark.createDataFrame(
        [(i, f"tok{i % 7} tok{i % 3} common") for i in range(100)],
        ["doc_id", "text"],
    )
    a = [tuple(r) for r in T.top_tokens(df, k=5).collect()]
    b = [tuple(r) for r in T.top_tokens(df.repartition(13), k=5).collect()]
    assert a == b and a[0] == ("common", 100)


def test_top_tokens_validation(spark):
    df = spark.createDataFrame([(0, "x")], ["doc_id", "text"])
    import pytest as _pt
    with _pt.raises(ValueError):
        T.top_tokens(df, k=0)
    with _pt.raises(ValueError):
        T.top_tokens(df, min_count=0)


# ---------------------------------------------------------------------------
# int8 quantization


def test_quantize_roundtrip_and_bounds(spark):
    rows = [
        (0, [0.5, -1.0, 0.25, 0.0]),
        (1, [0.001, 0.002, -0.003, 0.0005]),
        (2, [0.0, 0.0, 0.0, 0.0]),          # all-zero vector
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = S.quantize_embeddings(df)
    got = {r["vec_id"]: (r["q_scale"], r["q_vec"]) for r in q.collect()}
    assert got[0][0] == 1.0 and got[0][1] == [64, -127, 32, 0]
    assert got[2][0] == 0.0 and got[2][1] == [0, 0, 0, 0]
    assert all(-127 <= v <= 127 for _, qs in got.values() for v in qs)
    dq = {r["vec_id"]: r["embedding_dq"]
          for r in S.dequantize_embeddings(q).collect()}
    import numpy as np
    for vid, (_, _qv) in got.items():
        orig = np.array(rows[vid][1], dtype=np.float32)
        rec = np.array(dq[vid], dtype=np.float32)
        scale = got[vid][0]
        assert np.allclose(orig, rec, atol=scale / 127 / 2 + 1e-9), vid


def test_quantize_preserves_cosine_topk(spark):
    """Recall check on the real embedding fixture: exact brute-force
    top-10 vs top-10 over dequantized vectors — ≥ 9/10 overlap."""
    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = S.dequantize_embeddings(S.quantize_embeddings(df))
    qvec = df.where("vec_id = 0").collect()[0]["embedding"]
    exact = {r["vec_id"] for r in S.brute_force_topk(df, qvec, k=10).collect()}
    approx = {
        r["vec_id"]
        for r in S.brute_force_topk(
            q.select("vec_id", F.col("embedding_dq").alias("embedding")),
            qvec, k=10,
        ).collect()
    }
    assert len(exact & approx) >= 9


# ---------------------------------------------------------------------------
# Document chunking


def _py_doc_chunks(tokens, chunk, overlap, min_tail):
    stride = chunk - overlap
    n = len(tokens)
    fulls = (n - chunk) // stride + 1 if n >= chunk else 0
    out = [(i, i * stride, chunk, " ".join(tokens[i*stride:i*stride+chunk]))
           for i in range(fulls)]
    ts = fulls * stride
    if min_tail > 0 and ts < n and (n - ts) >= min_tail:
        out.append((fulls, ts, n - ts, " ".join(tokens[ts:])))
    return out


def test_chunk_documents_matches_reference(spark):
    texts = [
        (0, " ".join(f"t{i}" for i in range(23))),
        (1, " ".join(f"w{i}" for i in range(8))),   # exactly one chunk
        (2, "a b c"),                                # shorter than chunk
        (3, ""),                                     # empty
    ]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    out = T.chunk_documents(df, chunk_tokens=8, overlap_tokens=2,
                            min_tail_tokens=2)
    got = {}
    for r in out.collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["start_token"], r["n_tokens"], r["chunk_text"])
        )
    for did, text in texts:
        want = _py_doc_chunks(text.split(), 8, 2, 2)
        assert sorted(got.get(did, [])) == want, did


def test_chunk_documents_overlap_consistency(spark):
    """Consecutive chunks share exactly `overlap` tokens."""
    df = spark.createDataFrame(
        [(0, " ".join(f"t{i}" for i in range(40)))], ["doc_id", "text"]
    )
    rows = sorted(
        T.chunk_documents(df, chunk_tokens=10, overlap_tokens=4,
                          min_tail_tokens=0).collect(),
        key=lambda r: r["chunk_idx"],
    )
    for a, b in zip(rows, rows[1:]):
        assert a["chunk_text"].split()[-4:] == b["chunk_text"].split()[:4]


def test_chunk_documents_validation(spark):
    df = spark.createDataFrame([(0, "x")], ["doc_id", "text"])
    import pytest as _pt
    for kw in ({"chunk_tokens": 0}, {"overlap_tokens": 8, "chunk_tokens": 8},
               {"min_tail_tokens": -1}):
        with _pt.raises(ValueError):
            T.chunk_documents(df, **kw)


def test_pack_sequences_invariants(spark):
    """Reassembly invariants: every sequence but the last of each shard
    holds exactly `budget` tokens; each doc's spans are contiguous
    from 0 and sum to its token count; the packing is invariant to
    input partitioning."""
    df = spark.createDataFrame(
        [(i, 1 + (i * 7) % 23) for i in range(300)], ["doc_id", "tok"]
    )
    out = T.pack_sequences(df, "tok", budget=50, shards=4).collect()
    rows = sorted(out, key=lambda r: (r["shard"], r["seq_id"], r["seq_offset"]))
    # per-sequence fill
    by_seq = {}
    for r in rows:
        by_seq.setdefault((r["shard"], r["seq_id"]), []).append(r)
    last_seq = {}
    for (sh, sq) in by_seq:
        last_seq[sh] = max(last_seq.get(sh, -1), sq)
    for (sh, sq), spans in by_seq.items():
        total = sum(r["n_tokens"] for r in spans)
        offs = sorted((r["seq_offset"], r["n_tokens"]) for r in spans)
        # spans tile the sequence contiguously from 0
        pos = 0
        for o, n in offs:
            assert o == pos
            pos += n
        if sq < last_seq[sh]:
            assert total == 50, (sh, sq, total)
        else:
            assert 0 < total <= 50
    # per-doc reassembly
    toks = {i: 1 + (i * 7) % 23 for i in range(300)}
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append((r["doc_offset"], r["n_tokens"]))
    assert set(by_doc) == set(toks)
    for d, spans in by_doc.items():
        pos = 0
        for o, n in sorted(spans):
            assert o == pos
            pos += n
        assert pos == toks[d]
    # partitioning invariance + null/zero handling
    df2 = df.repartition(13).withColumn(
        "tok", F.when(F.col("doc_id") == 0, 0).otherwise(F.col("tok"))
    )
    out2 = T.pack_sequences(df2, "tok", budget=50, shards=4).collect()
    a = sorted(tuple(r) for r in out if r["doc_id"] != 0)
    # doc 0's removal shifts its shard's packing, so compare only the
    # three untouched shards for exact equality
    sh0 = {r["shard"] for r in out if r["doc_id"] == 0}
    b = sorted(tuple(r) for r in out2 if r[0] not in sh0)
    assert sorted(t for t in a if t[0] not in sh0) == b
    import pytest as _pt
    with _pt.raises(ValueError):
        T.pack_sequences(df, "tok", budget=0)


def test_pack_sequences_duplicate_ids_deterministic(spark):
    """Duplicate ids (the round-4 advice finding): rows tied on
    (hash, id) order by token count, so span boundaries are a pure
    function of the data — re-runs over different partitionings agree
    as multisets, and per-(id,tok-count) groups still reassemble."""
    rows = (
        [(1, 10), (1, 30), (1, 10), (2, 7), (2, 50)]
        + [(i, 5 + i % 11) for i in range(3, 100)]
    )
    df = spark.createDataFrame(rows, ["doc_id", "tok"])
    a = sorted(
        tuple(r)
        for r in T.pack_sequences(df, "tok", budget=40, shards=4).collect()
    )
    b = sorted(
        tuple(r)
        for r in T.pack_sequences(
            df.repartition(17), "tok", budget=40, shards=4
        ).collect()
    )
    assert a == b
    # total packed tokens conserve the input
    assert sum(t[-1] for t in a) == sum(t for _, t in rows)


def test_pii_counts_match_scrub_redactions(spark):
    """Counts are sequential (category i counted after categories < i
    are replaced): an email/IP inside a URL is one <URL> redaction."""
    df = spark.createDataFrame(
        [(0, "see https://a.b/c@d.ef and 10.0.0.1 inside http://10.0.0.2/x")],
        ["doc_id", "text"],
    )
    r = T.pii_counts(df).collect()[0]
    assert (r["n_url"], r["n_email"], r["n_ipv4"], r["n_phone"]) == (2, 0, 1, 0)


def test_bigram_lm_matches_python_reference(spark):
    """lm_train + lm_score vs a from-first-principles python
    computation of the smoothed average bigram log-probability; hashed
    and string key paths agree; <2-token docs get NULL scores."""
    import math

    corpus = [
        (0, "the cat sat on the mat"),
        (1, "the cat ran"),
        (2, "a dog sat"),
        (3, "single"),
        (4, "THE CAT SAT"),  # case-folds into the same counts
    ]
    df = spark.createDataFrame(corpus, ["doc_id", "text"])
    lm = T.lm_train(df, alpha=0.5)

    # python reference
    toks = {i: t.lower().split() for i, t in corpus}
    uni: dict = {}
    big: dict = {}
    for ws in toks.values():
        for w in ws:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(ws, ws[1:]):
            big[(a, b)] = big.get((a, b), 0) + 1
    V = len(uni)
    assert lm.vocab_size == V

    def score(ws):
        if len(ws) < 2:
            return (0, None)
        lps = [
            math.log(
                (big.get((a, b), 0) + 0.5) / (uni.get(a, 0) + 0.5 * V)
            )
            for a, b in zip(ws, ws[1:])
        ]
        return (len(lps), round(sum(lps) / len(lps), 6))

    want = {i: score(ws) for i, ws in toks.items()}
    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_logp"])
        for r in T.lm_score(df, lm).collect()
    }
    for i in want:
        assert got[i][0] == want[i][0]
        if want[i][1] is None:
            assert got[i][1] is None
        else:
            assert got[i][1] == pytest.approx(want[i][1], abs=2e-6)

    # hashed-key production path scores identically
    lm_h = T.lm_train(df, alpha=0.5, hash_keys=True)
    got_h = {
        r["doc_id"]: (r["n_bigrams"], r["avg_logp"])
        for r in T.lm_score(df, lm_h).collect()
    }
    assert got_h == got

    # REGRESSION (review finding): an UNSEEN bigram must use the true
    # c(w1) denominator — gibberish built from frequent words must not
    # outscore legitimate text ('the qzxv' denominator is c('the'),
    # not 0)
    new = spark.createDataFrame(
        [(10, "the cat sat"), (11, "the qzxv the wvkj")],
        ["doc_id", "text"],
    )
    got_new = {
        r["doc_id"]: (r["n_bigrams"], r["avg_logp"])
        for r in T.lm_score(new, lm).collect()
    }
    for i, txt in [(10, "the cat sat"), (11, "the qzxv the wvkj")]:
        n, want_lp = score(txt.lower().split())
        assert got_new[i][0] == n
        assert got_new[i][1] == pytest.approx(want_lp, abs=2e-6)
    assert got_new[11][1] < got_new[10][1]
    got_new_h = {
        r["doc_id"]: (r["n_bigrams"], r["avg_logp"])
        for r in T.lm_score(new, lm_h).collect()
    }
    assert got_new_h == got_new

    # min_count prunes: only 'the cat' (×3) and 'cat sat' (×2) repeat
    lm_mc = T.lm_train(df, alpha=0.5, min_count=2)
    assert lm_mc.table.count() == 2

    with pytest.raises(ValueError):
        T.lm_train(df, alpha=0.0)
    with pytest.raises(ValueError):
        T.lm_train(df, min_count=0)


def test_quality_stopword_ratio(spark):
    """The C4/Gopher-style stopword signal: case-folded membership in
    the frozen fixture's English list by default, overridable."""
    df = spark.createDataFrame(
        [(0, "The cat and the dog"), (1, "buy cheap widgets now"), (2, "")],
        ["doc_id", "text"],
    )
    q = {r["doc_id"]: r["q_stopword_ratio"]
         for r in T.quality_features(df).collect()}
    assert q[0] == pytest.approx(3 / 5)  # The, and, the
    assert q[1] == 0.0 and q[2] == 0.0
    q2 = {r["doc_id"]: r["q_stopword_ratio"]
          for r in T.quality_features(df, stopwords=["buy", "now"]).collect()}
    assert q2[1] == pytest.approx(0.5) and q2[0] == 0.0


def _ref_tokens(t):
    """Python twin of ``_tokens``: Spark's ``trim`` strips spaces only,
    then a Java ``\\s+`` split (ASCII whitespace, empty edge tokens
    kept)."""
    s = t.strip(" ")
    return re.split(r"[ \t\n\x0b\f\r]+", s) if s else []


def _ref_lang(t, spec):
    if t is None:
        return "und"
    for lang, lo, hi, thr in spec["scripts"]:
        if t and sum(lo <= c <= hi for c in t) / len(t) > thr:
            return lang
    toks = set(_ref_tokens(t.lower()))
    scores = {lang: len(toks & set(ws)) for lang, ws in spec["stopwords"].items()}
    best = max(scores.values())
    top = [lang for lang, s in scores.items() if s == best]
    return top[0] if best > 0 and len(top) == 1 else "und"


def _ref_quality(t, stop):
    if t is None:
        return (None,) * 7
    toks = _ref_tokens(t)
    safe = len(t) or 1
    n_tok = len(toks)
    return (
        len(t),
        n_tok,
        sum(c in ".,;:!?" for c in t) / safe,
        sum("0" <= c <= "9" for c in t) / safe,
        sum("A" <= c <= "Z" for c in t) / safe,
        sum(map(len, toks)) / n_tok if n_tok else 0.0,
        sum(w.lower() in stop for w in toks) / n_tok if n_tok else 0.0,
    )


def _ref_bpe(t):
    if t is None:
        return None
    pieces = sum(1 if len(w) <= 4 else (len(w) + 3) // 4 for w in _ref_tokens(t))
    return pieces + sum(c in ".,;:!?" for c in t)


def test_lang_quality_bpe_match_python_reference(spark):
    """lang_id, quality_features (default and custom stopwords) and
    bpe_ish_token_count against a pure-Python reference built from the
    frozen fixture, on the edge rows: blank text, ties, case, script
    ratios at and just above the threshold, mixed scripts, non-BMP
    characters and accented Latin text."""
    import json
    import os

    with open(os.path.join(os.path.dirname(__file__), "..",
                           "jepl_spark/fixtures/lang_id.json")) as f:
        spec = json.load(f)
    texts = [
        None, "", "   ", " \t\n ", "\tlead and trail\n",
        "the le",                                  # en/fr tie
        "zzz qqq xxx",                             # zero overlap
        "THE Cat AND the DOG is HERE",             # uppercase stopwords
        "the " + "x" * 15 + "あ",                  # kana ratio == 0.05
        "the " + "x" * 14 + "ああ",                # one kana above it
        "le " + "x" * 5 + "жж",                    # Cyrillic ratio == 0.2
        "le " + "x" * 4 + "жжж",                   # one Cyrillic above it
        "日本語の文章を書く",                        # kana + CJK: ja first
        "the cat 😀 sat, on the mat!",             # non-BMP emoji
        "жж xxxxx😀",                              # 2/9 > 0.2 only if 😀 is 1 char
        "le café est très bon pour la santé",      # accented, no script
        "o gato não está com um amigo",
        "hi internationalization, ok! 123 ABC",
        "Die Katze und der Hund; ist das ein Test?",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id int, text string")
    got = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            T.lang_id(F.col("text")).alias("lang"),
            T.bpe_ish_token_count(F.col("text")).alias("bpe"),
        ).collect()
    }
    cols = ["q_n_chars", "q_n_tokens", "q_punct_ratio", "q_digit_ratio",
            "q_upper_ratio", "q_mean_token_len", "q_stopword_ratio"]
    for stop in (None, ["cat", "der", "ok"]):
        q = T.quality_features(df, stopwords=stop)
        assert q.columns == ["doc_id", "text"] + cols
        want_stop = set(spec["stopwords"]["en"] if stop is None else stop)
        for r in q.collect():
            t = texts[r["doc_id"]]
            assert tuple(r[c] for c in cols) == _ref_quality(t, want_stop), repr(t)
    for i, t in enumerate(texts):
        assert got[i]["lang"] == _ref_lang(t, spec), repr(t)
        assert got[i]["bpe"] == _ref_bpe(t), repr(t)


def test_lang_id_plan_evaluates_scores_once(spark):
    """Each stopword score is built once: the optimized plan of one
    lang_id call holds a bounded number of intersections and splits
    (a CASE chain that re-inlines the eight scores holds hundreds)."""
    df = spark.range(2).select(F.col("id").cast("string").alias("t"))
    qe = df.select(T.lang_id(F.col("t")))._jdf.queryExecution()
    s = qe.optimizedPlan().toString()
    assert s.count("array_intersect") <= 16, s.count("array_intersect")
    assert s.count("split(") <= 2, s.count("split(")


def test_oov_rate(spark):
    vocab = spark.createDataFrame(
        [("the",), ("cat",), ("sat",)], ["token"]
    )
    docs = spark.createDataFrame(
        [
            (0, "the cat sat"),              # 0/3 oov
            (1, "the DOG sat"),              # 1/3 (lowercased 'dog' oov)
            (2, "zz qq zz qq"),              # 4/4 — multiplicity counts
            (3, ""),                         # blank -> NULL
            (4, "   "),                      # blank -> NULL
            (5, "the the the unknown"),      # 1/4
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["oov_rate"]
           for r in T.oov_rate(docs, vocab).collect()}
    assert got[0] == 0.0
    assert abs(got[1] - 1 / 3) < 1e-12
    assert got[2] == 1.0
    assert got[3] is None and got[4] is None
    assert got[5] == 0.25
    # vocab duplicates don't double-join
    vocab_dup = vocab.unionByName(vocab)
    got2 = {r["doc_id"]: r["oov_rate"]
            for r in T.oov_rate(docs, vocab_dup).collect()}
    assert got2 == got


def test_strip_boilerplate_lines(spark):
    footer = "(c) example corp all rights reserved"
    nav = "home | about | contact"
    docs = [
        (0, f"{nav}\nunique intro zero\n\n{footer}"),
        (1, f"{nav}\nunique body one\n{footer}"),
        (2, f"{nav}\nunique text two\n{footer}"),
        (3, "standalone doc with no boilerplate at all"),
        # footer repeated WITHIN one doc: in-doc repeats count once
        (4, f"solo content four\n{footer}\n{footer}"),
        (5, None),
        (6, ""),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r["text"]
           for r in T.strip_boilerplate_lines(df, max_df=2).collect()}
    # nav (df=3) and footer (df=4) exceed max_df=2 -> stripped; the
    # blank separator line survives (below min_line_chars)
    assert out[0] == "unique intro zero\n"
    assert out[1] == "unique body one"
    assert out[2] == "unique text two"
    assert out[3] == docs[3][1]
    assert out[4] == "solo content four"
    assert out[5] is None
    assert out[6] == ""
    # max_df=4: footer df=4 is NOT > 4 -> everything survives verbatim
    keep_all = {r["doc_id"]: r["text"]
                for r in T.strip_boilerplate_lines(df, max_df=4).collect()}
    assert keep_all == {i: t for i, t in docs}
    # out_col leaves the original intact; partitioning invariance
    both = T.strip_boilerplate_lines(
        df.repartition(5), max_df=2, out_col="clean"
    ).collect()
    assert {r["doc_id"]: r["clean"] for r in both} == out
    assert {r["doc_id"]: r["text"] for r in both} == {i: t for i, t in docs}
    import pytest as _pt
    with _pt.raises(ValueError):
        T.strip_boilerplate_lines(df, max_df=0)


def test_topk_batch_null_query_rows_skipped(spark, tmp_path):
    """Review finding: a NULL query_id or NULL query_vec row in a
    serving micro-batch must be SKIPPED, not crash the index scorers
    (one malformed row must not kill the stream)."""
    import numpy as np

    rng = np.random.RandomState(3)
    vecs = [(i, rng.randn(8).tolist()) for i in range(60)]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    lsh = S.lsh_bucketize(df, str(tmp_path / "l"), planes=4, tables=2)
    ivf = S.ivf_build_fixed(df, str(tmp_path / "i"),
                            [v for _, v in vecs[:4]])
    queries = spark.createDataFrame(
        [(5, vecs[5][1]), (None, vecs[6][1]), (7, None)],
        "query_id long, query_vec array<double>",
    )
    for idx, kw in ((lsh, {}), (ivf, {"nprobe": 2})):
        got = idx.topk_batch(spark, queries, k=3, **kw).collect()
        assert {r["query_id"] for r in got} == {5}
    # all-NULL batch → empty frame, right schema
    only_null = spark.createDataFrame(
        [(None, None)], "query_id long, query_vec array<double>")
    assert lsh.topk_batch(spark, only_null, k=3).count() == 0


def test_near_dup_components_non_integral_ids(spark):
    """ADVICE r5 (medium): string/UUID/float ids previously hit an
    opaque ANSI CAST_INVALID_INPUT (or, ANSI off, NULLed out and the
    dedup silently no-op'd).  Non-integral ids now remap through a
    collision-free long surrogate and the representative is the
    minimum ORIGINAL id (lexicographic for strings)."""
    edges = [
        # chain of 8 (forces several pointer-jump rounds)
        *[(f"doc-{i:04d}", f"doc-{i + 1:04d}") for i in range(10, 17)],
        # non-transitive star through the largest id
        ("aaa", "ccc"), ("bbb", "ccc"),
        # reversed pair + a component whose min arrives on the b side
        ("zz-2", "zz-1"),
    ]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r["id"]: r["component"]
           for r in D.near_dup_components(df).collect()}
    want = {f"doc-{i:04d}": "doc-0010" for i in range(10, 18)}
    want.update({"aaa": "aaa", "bbb": "aaa", "ccc": "aaa",
                 "zz-1": "zz-1", "zz-2": "zz-1"})
    assert got == want
    # empty edge list through the remap path
    assert D.near_dup_components(df.limit(0)).count() == 0
    # float ids work too (equality joins are exact on the same value)
    fdf = spark.createDataFrame(
        [(1.5, 2.5), (2.5, 3.5)], ["id_a", "id_b"]
    )
    fgot = {r["id"]: r["component"]
            for r in D.near_dup_components(fdf).collect()}
    assert fgot == {1.5: 1.5, 2.5: 1.5, 3.5: 1.5}
    # a missing pair column is a clear error, not a KeyError
    import pytest as _pt

    with _pt.raises(ValueError, match="not in input columns"):
        D.near_dup_components(df.withColumnRenamed("id_b", "other"))


def test_minhash_dedup_components_string_ids_end_to_end(spark):
    """The ADVICE scenario verbatim: minhash_dedup(policy='components')
    over STRING doc ids must behave exactly like the pairs policy's id
    handling — near-identical docs collapse to one lexicographic-min
    representative instead of raising (or silently keeping all)."""
    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep green forest tonight")
    rows = [
        ("u-b", base),
        ("u-a", base + " extra"),
        ("u-c", base + " extra token"),
        ("u-d", "a completely different document about spark plans "
                "and shuffle partitioning strategies at scale"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    kept = sorted(
        r["doc_id"]
        for r in D.minhash_dedup(
            df, threshold=0.5, policy="components",
            bands=16, num_hashes=64,
        ).collect()
    )
    assert kept == ["u-a", "u-d"]


# -- Unicode NFC normalization --------------------------------------------------


def test_nfc_normalize_cases(spark):
    from jepl_spark.operators.text import nfc_normalize

    cases = [
        ("Café menu", "Café menu"),          # combining acute
        ("Ångström", "Ångström"),      # ring + diaeresis
        ("Ω ohm", "Ω ohm"),              # singleton OHM SIGN
        ("already composed é", "already composed é"),
        ("plain ascii", "plain ascii"),
        (None, None),
    ]
    df = spark.createDataFrame(
        [(i, s) for i, (s, _) in enumerate(cases)], ["i", "t"]
    )
    got = {
        r["i"]: r["n"]
        for r in df.select(
            "i", nfc_normalize(F.col("t")).alias("n")
        ).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def test_nfc_normalize_idempotent_and_duckdb_parity(spark):
    import duckdb

    from jepl_spark.operators.text import nfc_normalize

    texts = ["Café", "Å", "Ω", "ﬁle réﬂex", "x" * 50]
    df = spark.createDataFrame([(t,) for t in texts], ["t"])
    once = df.select(nfc_normalize(F.col("t")).alias("n"))
    twice = once.select(nfc_normalize(F.col("n")).alias("n"))
    assert [r["n"] for r in once.collect()] == [
        r["n"] for r in twice.collect()
    ]
    con = duckdb.connect()
    for t, r in zip(texts, once.collect()):
        assert r["n"] == con.execute(
            "select nfc_normalize(?)", [t]
        ).fetchone()[0]


def test_standardize_vectors_known_answer(spark):
    """CMVN math vs numpy on a tiny grouped corpus: per-group per-dim
    population statistics, global mode, NULL passthrough, validation."""
    import numpy as np
    import pytest

    from jepl_spark.operators.similarity import standardize_vectors

    rows = [
        ("a", 0, [1.0, 10.0]),
        ("a", 1, [3.0, 30.0]),
        ("b", 2, [5.0, 5.0]),
        ("b", 3, [5.0, 7.0]),
        ("b", 4, None),
    ]
    df = spark.createDataFrame(
        rows, "grp string, id int, embedding array<double>")
    got = {r.id: r.embedding_norm
           for r in standardize_vectors(df, group_by="grp").collect()}
    # group a: mean [2,20], var_pop [1,100]
    assert np.allclose(got[0], [(1-2)/np.sqrt(1+1e-8),
                                (10-20)/np.sqrt(100+1e-8)])
    assert np.allclose(got[1], [1/np.sqrt(1+1e-8), 10/np.sqrt(100+1e-8)])
    # group b dim0: var 0 -> (x-mu)/sqrt(eps) = 0 exactly
    assert got[2][0] == 0.0 and got[3][0] == 0.0
    assert got[4] is None

    # global mode: one statistic across groups
    g = {r.id: r.embedding_norm
         for r in standardize_vectors(df).collect()}
    xs = np.array([r[2] for r in rows[:4]])
    mu, sd = xs.mean(0), np.sqrt(xs.var(0) + 1e-8)
    for i in range(4):
        assert np.allclose(g[i], (xs[i] - mu) / sd)

    with pytest.raises(ValueError):
        standardize_vectors(df, vec_col="nope")
    with pytest.raises(ValueError):
        standardize_vectors(df, group_by="nope")

    # NULL group keys form their own group (null-safe join) — the
    # vectors standardize against the NULL group's stats instead of
    # silently coming back NULL
    ndf = spark.createDataFrame(
        [(None, 0, [5.0, 5.0]), (None, 1, [7.0, 9.0]),
         ("a", 2, [1.0, 2.0])],
        "grp string, id int, embedding array<double>")
    ng = {r.id: r.embedding_norm
          for r in standardize_vectors(ndf, group_by="grp").collect()}
    # NULL group: mean [6,7], var_pop [1,4]
    assert np.allclose(ng[0], [-1 / np.sqrt(1 + 1e-8),
                               -2 / np.sqrt(4 + 1e-8)])
    assert ng[2] is not None
