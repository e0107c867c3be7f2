"""Exact-substring (repeated k-token window) dedup — duplicated_token_spans
and dedup_substrings (Lee et al. 2022 policy, rolling-window-hash
formulation; see operators/dedup.py)."""

import pytest
from pyspark.sql import functions as F

from jepl_spark.operators import dedup as D


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_planted_cross_doc_duplicate_spans(spark):
    # docs 1 and 2 share the exact 4-token run "a b c d"; k=3 windows
    # inside it ("a b c", "b c d") each occur twice -> positions of the
    # run are covered in BOTH docs, merged to one span each
    df = _docs(spark, [
        (1, "x a b c d y"),
        (2, "p q a b c d"),
        (3, "u v w z zz"),
    ])
    spans = {
        (r.doc_id, r.span_start, r.span_end)
        for r in D.duplicated_token_spans(df, k=3).collect()
    }
    assert spans == {(1, 1, 4), (2, 2, 5)}


def test_rewrite_removes_covered_tokens_and_passes_through_rest(spark):
    df = _docs(spark, [
        (1, "x a b c d y"),
        (2, "p q a b c d"),
        (3, "u  v   w z zz"),   # unaffected: original whitespace kept
    ])
    out = {r.doc_id: r.text for r in D.dedup_substrings(df, k=3).collect()}
    assert out[1] == "x y"
    assert out[2] == "p q"
    assert out[3] == "u  v   w z zz"


def test_within_doc_repetition_counts(spark):
    # one doc repeating its own 3 tokens twice: both copies' windows
    # share hashes, total multiplicity 2 > 1 -> the whole repeat zone
    # is covered
    df = _docs(spark, [(1, "a b c a b c"), (2, "d e f g h")])
    spans = D.duplicated_token_spans(df, k=3).collect()
    assert [(r.doc_id, r.span_start, r.span_end) for r in spans] == [(1, 0, 5)]
    out = {r.doc_id: r.text for r in D.dedup_substrings(df, k=3).collect()}
    assert out[1] == ""          # fully duplicated -> empty string
    assert out[2] == "d e f g h"


def test_max_occurrences_threshold(spark):
    # the run appears twice; with max_occurrences=2 that is allowed
    df = _docs(spark, [(1, "x a b c y"), (2, "z a b c w")])
    assert D.duplicated_token_spans(df, k=3, max_occurrences=2).count() == 0
    assert D.duplicated_token_spans(df, k=3, max_occurrences=1).count() == 2


def test_case_sensitive_exactness(spark):
    # "A b c" != "a b c" — exact substring dedup is case-sensitive
    df = _docs(spark, [(1, "x A b c y"), (2, "z a b c w")])
    assert D.duplicated_token_spans(df, k=3).count() == 0


def test_null_blank_and_short_texts(spark):
    df = _docs(spark, [
        (1, None),
        (2, "   "),
        (3, "a b"),            # fewer than k tokens: no windows
        (4, "a b c d"),
        (5, "q a b c d"),
    ])
    out = {r.doc_id: r.text for r in D.dedup_substrings(df, k=3).collect()}
    assert out[1] is None
    assert out[2] == "   "
    assert out[3] == "a b"
    assert out[4] == ""
    assert out[5] == "q"


def test_out_col_and_validation(spark):
    df = _docs(spark, [(1, "a b c"), (2, "a b c")])
    out = D.dedup_substrings(df, k=2, out_col="clean").collect()
    assert {r.text for r in out} == {"a b c"}
    assert {r.clean for r in out} == {""}
    with pytest.raises(ValueError, match="k must be >= 2"):
        D.dedup_substrings(df, k=1)
    with pytest.raises(ValueError, match="max_occurrences"):
        D.duplicated_token_spans(df, k=3, max_occurrences=0)


def test_string_ids(spark):
    df = spark.createDataFrame(
        [("u-1", "x a b c d y"), ("u-2", "p a b c d q")],
        "doc_id string, text string",
    )
    spans = {(r.doc_id, r.span_start, r.span_end)
             for r in D.duplicated_token_spans(df, k=4).collect()}
    assert spans == {("u-1", 1, 4), ("u-2", 1, 4)}


def test_window_hash_positions_shape(spark):
    df = _docs(spark, [(1, "a b c d e"), (2, "a b"), (3, ""), (4, None),
                       (5, "a b c")])
    got = {
        r.doc_id: None if r.w is None else len(r.w)
        for r in df.select(
            "doc_id",
            D.window_hash_positions(F.col("text"), 3).alias("w"),
        ).collect()
    }
    # 5 tokens -> 3 windows; 2 tokens -> 0; blank ([""] singleton) -> 0;
    # NULL -> NULL; exactly k tokens -> 1
    assert got == {1: 3, 2: 0, 3: 0, 4: None, 5: 1}


def test_matches_python_reference_on_random_corpus(spark):
    # brute-force python oracle over a small random-ish corpus
    import random

    rnd = random.Random(7)
    vocab = list("abcdefgh")
    rows = [
        (i, " ".join(rnd.choice(vocab) for _ in range(rnd.randint(0, 14))))
        for i in range(40)
    ]
    k = 3
    counts: dict = {}
    toks = {i: t.split() if t.strip() else [] for i, t in rows}
    for i, t in toks.items():
        for s in range(len(t) - k + 1):
            w = tuple(t[s:s + k])
            counts[w] = counts.get(w, 0) + 1
    expect = {}
    for i, t in toks.items():
        covered = set()
        for s in range(len(t) - k + 1):
            if counts[tuple(t[s:s + k])] > 1:
                covered.update(range(s, s + k))
        kept = [tok for p, tok in enumerate(t) if p not in covered]
        expect[i] = " ".join(kept) if covered else rows[i][1]
    df = _docs(spark, rows)
    got = {r.doc_id: r.text for r in D.dedup_substrings(df, k=k).collect()}
    assert got == expect
