"""Text-analysis operators for training-data pipelines.

Mostly JVM ``pyspark.sql.functions`` expressions: plain ones are
whole-stage-codegen'd, the lambdas (``transform``, ``filter``,
``aggregate``) are ``CodegenFallback`` and run interpreted.  The
char-level and DP kernels (``winnow_fingerprints``, ``fix_encoding``,
``nfc_normalize``, WER, the replicated LM score) are Arrow-batched
Python UDFs by measurement (see ``winnow_fingerprints``).  Per-row
operators are projections: linear with input splits, no shuffle.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from jepl_spark.operators._guard import fits

# whitespace tokenization shared by several operators
def _tokens(text: Column) -> Column:
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def _let(expr: Column, fn) -> Column:
    """``fn(expr)`` with ``expr`` evaluated once per row (Columns have
    no let-binding: each reference re-inlines the whole expression)."""
    return F.transform(F.array(expr), fn)[0]


def _count_chars(text: Column, cls: str) -> Column:
    """Characters of ``text`` in ``[cls]``, deleting only those."""
    return F.length(text) - F.length(F.regexp_replace(text, f"[{cls}]", ""))


def token_count(text: Column) -> Column:
    """Whitespace token count (0 for empty/blank text)."""
    return F.size(_tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """A BPE-like proxy token count: word pieces + punctuation marks,
    approximating subword tokenizers with length/4 for long words."""
    words = _tokens(text)
    pieces = F.aggregate(
        words,
        F.lit(0),
        lambda acc, w: acc
        + F.when(F.length(w) <= 4, F.lit(1)).otherwise(
            (F.length(w) + 3) / 4
        ).cast("int"),
    )
    return (pieces + _count_chars(text, ".,;:!?")).cast("long")


def quality_features(
    df: DataFrame,
    text_col: str = "text",
    stopwords=None,
) -> DataFrame:
    """Deterministic per-document quality scores: length, token stats,
    punctuation/digit/uppercase ratios, mean token length, and the
    stopword ratio (fraction of lowercased tokens in ``stopwords`` —
    default: the frozen lang_id fixture's English list; near-zero on
    keyword spam / non-linguistic text, the C4/Gopher-style signal).
    JVM projections fused with the scan: the text is tokenized once,
    into a column the token statistics share, and each character class
    is counted by deleting only its own characters."""
    text = F.col(text_col)
    toks = F.col("__toks")
    n_tok = F.size(toks)
    n_chars = F.length(text)
    safe_len = F.when(n_chars == 0, F.lit(1)).otherwise(n_chars)
    if stopwords is None:
        stopwords = _STOPWORDS["en"]
    stop_arr = F.lit(list(stopwords))

    def _per_token(count):
        return F.when(n_tok == 0, F.lit(0.0)).otherwise(count.cast("double") / n_tok)

    return df.select("*", _tokens(text).alias("__toks")).select(
        "*",
        n_chars.alias("q_n_chars"),
        n_tok.alias("q_n_tokens"),
        (_count_chars(text, ".,;:!?") / safe_len).alias("q_punct_ratio"),
        (_count_chars(text, "0-9") / safe_len).alias("q_digit_ratio"),
        (_count_chars(text, "A-Z") / safe_len).alias("q_upper_ratio"),
        _per_token(F.aggregate(toks, F.lit(0), lambda a, w: a + F.length(w)))
        .alias("q_mean_token_len"),
        _per_token(F.size(F.filter(
            toks, lambda w: F.array_contains(stop_arr, F.lower(w)))))
        .alias("q_stopword_ratio"),
    ).drop("__toks")


def winnow_fingerprints(text: Column, k: int = 8, window: int = 4) -> Column:
    """MOSS-style winnowing fingerprints (the brief's rolling-hash
    document fingerprinting): hash every k-char gram of the normalized
    text with a base-31 rolling polynomial over codepoints, slide a
    window of ``window`` consecutive gram hashes, keep each window's
    minimum, return the sorted distinct selection as ``array<long>``.

    The winnowing guarantee: any substring shared between two documents
    of length ≥ window + k − 1 contributes at least one COMMON
    fingerprint — the property that makes this the standard
    partial-overlap/containment detector (quotation and boilerplate
    reuse that whole-document MinHash misses).

    Implementation: an Arrow-batched pandas UDF over numpy — the ONE
    text operator here that is not pure JVM SQL, deliberately: the
    char-level rolling computation needs ~n·(k+window) element steps
    per document, and Spark's higher-order array lambdas execute
    interpreted with per-element allocation (a chained-zip_with JVM
    version measured 32 s at sf0.1; a substring-per-position version
    is O(n²) because UTF8String.substring seeks from the start).
    Vectorized numpy does the same math in C over Arrow batches.  The
    SEMANTICS stay SQL-replayable (the gate's DuckDB twin reruns the
    identical integer arithmetic):

    - normalization matches content_hash — Java-regex-equivalent ASCII
      whitespace collapse + lower, so fingerprint equality composes
      with the dedup operators';
    - k ≤ 8 is enforced: max codepoint (0x10FFFF) times Σ31^j for
      j<8 stays under 2^63 — the UNREDUCED polynomial cannot overflow
      int64, making the arithmetic portable to any SQL oracle;
    - texts shorter than k yield ONE fingerprint (Horner over the whole
      text); texts with fewer grams than the window also yield one
      (min of all grams); empty/whitespace-only text yields an empty
      array.  The oracle twin replays all three boundaries."""
    if not (1 <= k <= 8):
        raise ValueError(
            f"k must be in [1, 8]: codepoint·Σ31^j stays under 2^63 only "
            f"for k ≤ 8 (got {k}); larger grams need a modulus, which "
            f"would break exact SQL-oracle replay"
        )
    if window < 1:
        raise ValueError(f"window must be ≥ 1 (got {window})")

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    weights = np.array([31 ** (k - 1 - j) for j in range(k)], dtype=np.int64)
    norm_ws = _re.compile(r"[ \t\n\x0b\f\r]+")

    def _winnow(texts):
        # batch-vectorized: normalize per row (C regex — Java \s is
        # ASCII-only, hence the explicit class), then concatenate every
        # row's codepoints with a separator and run the gram polynomial
        # + sliding-window min ONCE over the whole batch; positions
        # whose gram/window would cross a row boundary are discarded by
        # the per-row slice, so per-row results are exactly the
        # one-row-at-a-time computation's (the per-row form paid ~15
        # small numpy calls per document — call overhead, not math)
        n_rows = len(texts)
        out = [None] * n_rows
        norms = []
        lens = np.zeros(n_rows, dtype=np.int64)
        empty: list = []
        for i in range(n_rows):
            t = texts.iloc[i]
            if t is None:
                out[i] = empty
                continue
            s = norm_ws.sub(" ", t).strip(" ").lower()
            if not s:
                out[i] = empty
                continue
            norms.append(s)
            lens[i] = len(s)
        if not norms:
            return pd.Series(out, dtype="object")
        codes = np.frombuffer(
            "\n".join(norms).encode("utf-32-le"), dtype=np.uint32
        ).astype(np.int64)
        n = codes.shape[0]
        n_grams = max(n - k + 1, 0)
        grams = np.zeros(n_grams, dtype=np.int64)
        for j in range(k):
            grams += codes[j:n_grams + j] * weights[j]
        if n_grams >= window:
            mins = np.lib.stride_tricks.sliding_window_view(
                grams, window
            ).min(axis=1)
        else:
            mins = grams[:0]
        o = 0
        for i in range(n_rows):
            L = lens[i]
            if L == 0:
                continue
            if L < k:
                h = 0
                for c in codes[o:o + L].tolist():
                    h = h * 31 + c
                out[i] = [h]
            else:
                ng = L - k + 1
                if ng < window:
                    out[i] = [int(grams[o:o + ng].min())]
                else:
                    out[i] = np.unique(mins[o:o + ng - window + 1])
            o += L + 1  # +1: the '\n' separator
        return pd.Series(out, dtype="object")

    # `from __future__ import annotations` stringifies hints module-wide
    # and pyspark's typehint resolver rejects the strings — attach the
    # real class objects instead
    _winnow.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return pandas_udf(_winnow, "array<long>")(text)


def fingerprint_overlap_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
    min_shared: int = 2,
    max_fp_df: int = 1000,
    materialize: bool = True,
) -> DataFrame:
    """Partial-overlap candidate pairs by shared winnowing fingerprints
    — containment/quotation detection (a doc embedding a ≥(window+k−1)-
    char chunk of another shares ≥1 fingerprint by the winnowing
    guarantee; ``min_shared`` filters incidental single collisions).

    Scale shape: the ngram_jaccard_pairs inverted-index pattern —
    (id, fingerprint) explodes, hot fingerprints (boilerplate) are
    df-capped, the self-join carries ids+longs only."""
    base = df.select(
        F.col(id_col).alias("__id"),
        F.explode(winnow_fingerprints(F.col(text_col), k, window)).alias("__fp"),
    )
    if materialize:
        base = base.persist()
    fp_df = base.groupBy("__fp").agg(F.count(F.lit(1)).alias("__df"))
    pruned = base.join(
        fp_df.filter(F.col("__df") <= max_fp_df), on="__fp", how="inner"
    )
    a = pruned.select("__fp", F.col("__id").alias("id_a"))
    b = pruned.select("__fp", F.col("__id").alias("id_b"))
    out = (
        a.join(b, on="__fp", how="inner")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )
    if materialize:
        out = out.localCheckpoint(eager=True)
        base.unpersist()
    return out


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of case-folded, whitespace-collapsed
    text — equal fingerprints ⇔ same normalized content.  Shares
    dedup.content_hash so the fingerprint/exact-dedup equivalence the
    gate oracles assume cannot drift."""
    from .dedup import content_hash

    return content_hash(text)


# Language-ID spec (script ranges + stopword lists) loaded from the
# checked-in fixture.  The DuckDB oracle twin in __spark_entry__.py
# reads the SAME file, so the two sides cannot drift (a generator-code
# bug would otherwise shift both sides identically — VERDICT r2 item 3).
def _load_lang_spec() -> dict:
    import json
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "fixtures", "lang_id.json",
    )
    with open(path, encoding="utf-8") as f:
        spec = json.load(f)
    # fail fast on a malformed fixture rather than misclassifying —
    # real raises, not asserts (python -O compiles asserts out)
    if len(spec["stopwords"]) < 8 or len(spec["scripts"]) < 8:
        raise ValueError(f"lang_id fixture {path} is malformed: too few entries")
    for lang, lo, hi, thr in spec["scripts"]:
        if not (len(lo) == 1 and len(hi) == 1 and ord(lo) < ord(hi) and 0 < thr < 1):
            raise ValueError(
                f"lang_id fixture {path}: bad script row {[lang, lo, hi, thr]}"
            )
    return spec


_LANG_SPEC = _load_lang_spec()
_STOPWORDS = _LANG_SPEC["stopwords"]
_SCRIPTS = [tuple(s) for s in _LANG_SPEC["scripts"]]


def lang_id(text: Column) -> Column:
    """Heuristic language ID, spec-driven (fixtures/lang_id.json):

    1. script-ratio checks in fixture order — Japanese kana first (kana
       is uniquely Japanese while kanji is shared, so its threshold is
       lower), then Hangul/CJK/Cyrillic/Arabic/Greek/Devanagari/Hebrew;
    2. otherwise the Latin-script language whose stopword list overlaps
       the distinct-token set strictly most (8 languages);
    3. ties and zero overlap → 'und' (undetermined).

    Evaluation shape: the lowercased text is tokenized once and the
    eight scores are built once, as one array (``_let``); the winner is
    the language holding the unique maximum score, when it is > 0 —
    the strict argmax.  The eight script-ratio regexes run only on rows
    where one ``rlike`` over the union of the script ranges matches: a
    row without script characters has every ratio 0, and the fixture
    loader enforces every threshold > 0.  JVM expressions, per-row
    projection, no shuffle; the two lambdas run interpreted."""
    langs = list(_STOPWORDS)

    def _vote(scores):
        top = F.array_max(scores)
        unique = F.size(F.array_remove(scores, top)) == len(langs) - 1
        return F.when((top > 0) & unique,
                      F.lit(langs)[F.array_position(scores, top) - 1])

    guess = _let(_tokens(F.lower(text)), lambda toks: _let(F.array(*[
        F.size(F.array_intersect(toks, F.lit(words)))
        for words in _STOPWORDS.values()
    ]), _vote))

    # script checks take precedence, applied in fixture order
    script = None
    for lang, lo, hi, thr in _SCRIPTS:
        hit = _count_chars(text, f"{lo}-{hi}") / F.length(text) > thr
        script = F.when(hit, lang) if script is None else script.when(hit, lang)
    any_script = "[" + "".join(f"{lo}-{hi}" for _, lo, hi, _ in _SCRIPTS) + "]"
    return F.coalesce(F.when(text.rlike(any_script), script), guess, F.lit("und"))


# ---------------------------------------------------------------------------
# PII scrubbing


# Order matters: URLs first (they may contain @ and digits), then
# emails, then IPv4, then international-format phones.  Every pattern
# stays inside the Java-regex ∩ RE2 common dialect (no lookaround, no
# backrefs, ASCII classes) so the DuckDB oracle replays the exact
# replacement chain; the '+'-prefix requirement on phones is what keeps
# dates and plain ids from being swallowed.
PII_PATTERNS: tuple = (
    ("url", r"https?://[^\s]+", "<URL>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d[\d\- ]{6,}\d", "<PHONE>"),
)


def scrub_pii(text: Column) -> Column:
    """Replace URLs, emails, IPv4 addresses, and international-format
    phone numbers with placeholder tokens — the redaction step of a
    training-corpus pipeline.  Pure chained ``regexp_replace``: JVM-side,
    codegen'd, per-row, no shuffle."""
    out = text
    for _, pat, token in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


def pii_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document count of each PII category, equal BY CONSTRUCTION
    to the number of replacements ``scrub_pii`` makes: category i is
    counted on the text with categories < i already replaced (an email
    inside a URL is one <URL>, not a URL and an email).  Occurrences
    are non-overlapping matches via split, replaying exactly in SQL."""
    text = F.col(text_col)
    cols = []
    for name, pat, token in PII_PATTERNS:
        cols.append(
            (F.size(F.split(text, pat, -1)) - 1).cast("long").alias(f"n_{name}")
        )
        text = F.regexp_replace(text, pat, token)
    return df.select("*", *cols)


# ---------------------------------------------------------------------------
# Encoding repair (mojibake)


def _cp1252_render(b: int) -> str:
    """How byte ``b`` renders when mis-read as cp1252: the cp1252 char,
    or (for the five unmapped bytes 81/8D/8F/90/9D) the C1 control at
    the same code point — the browser / WHATWG windows-1252 convention,
    which is what real mojibake in crawled text looks like."""
    try:
        return bytes([b]).decode("cp1252")
    except UnicodeDecodeError:
        return chr(b)


def _mojibake_pairs() -> tuple[tuple[str, str], ...]:
    """(mojibake, repaired) pairs for the classic UTF-8-read-as-cp1252
    corruption, covering the whole Latin-1 supplement (U+00A0–U+00FF:
    the accented letters of every western-European language), the
    cp1252-only letters (Œ œ Š š Ÿ Ž ž), and the common punctuation
    block (curly quotes, dashes, ellipsis, bullets, €, ™, ‰, ‹›).
    Each pair maps the char's UTF-8 bytes rendered per cp1252 back to
    the char.  Sorted longest-mojibake-first, then lexicographic — the
    frozen application order (3-byte sequences repair before any
    2-byte pair can consume their lead byte)."""
    chars = [chr(c) for c in range(0x00A0, 0x0100)]
    chars += list("ŒœŠšŸŽž")
    chars += [chr(c) for c in (
        0x2013, 0x2014, 0x2018, 0x2019, 0x201A, 0x201C, 0x201D, 0x201E,
        0x2020, 0x2021, 0x2022, 0x2026, 0x2030, 0x2039, 0x203A,
        0x20AC, 0x2122,
    )]
    pairs = [
        ("".join(_cp1252_render(b) for b in ch.encode("utf-8")), ch)
        for ch in chars
    ]
    pairs.sort(key=lambda p: (-len(p[0]), p[0]))
    return tuple(pairs)


#: The frozen repair spec — ONE list, two engines (``fix_encoding`` on
#: the JVM, ``fix_encoding_sql`` for the DuckDB oracle), same contract
#: as HTML_TO_TEXT_STEPS / PII_PATTERNS.  tests/test_operators.py pins
#: size, order, and a digest so an accidental change to the generator
#: cannot shift both engines identically unnoticed.
MOJIBAKE_PAIRS: tuple[tuple[str, str], ...] = _mojibake_pairs()

#: C0/C1 control chars minus tab/newline/CR — stripped AFTER the
#: replace chain (some mojibake renderings contain C1 controls from
#: the five cp1252-unmapped bytes; stripping first would destroy the
#: evidence the chain needs).  Hex escapes, not raw chars, so the same
#: pattern text is valid in both Java regex and RE2 with identical
#: code-point semantics.
CONTROL_CHARS_RE = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F-\x9F]"


def fix_encoding(text: Column) -> Column:
    """Repair the classic UTF-8-read-as-cp1252 mojibake (â€™ → ’,
    Ã© → é, â‚¬ → €, …) and strip stray C0/C1 control characters —
    the standard curation step between HTML extraction and quality
    scoring (unrepaired mojibake inflates punctuation ratios and OOV
    rates, and duplicate pages that differ only in corruption defeat
    exact dedup).  One pass removes exactly ONE corruption level
    (empirically pinned) — apply twice for double-encoded text.  Like
    all mojibake repair, a genuine 'Ã©' in clean text is rewritten —
    the false-positive rate is negligible on real corpora because the
    byte sequences are vanishingly rare as intentional text.

    Scale: an Arrow-batched pandas UDF applying the pair chain with
    C-level ``str.replace`` (identical non-overlapping left-to-right
    literal-replace semantics as the JVM ``replace``), guarded by a
    first-char screen — every mojibake rendering starts with one of
    {Â Ã Å â} (the cp1252 renderings of UTF-8 lead bytes C2/C3/C5/E2),
    so clean rows skip the 137-pair chain after one set-intersection
    test.  The JVM form it replaces (ONE literal pair array folded by
    ``aggregate``+``replace``) ran interpreted at ~137 full-string
    scans per row with per-element allocation — measured 8.1 s at
    sf1.0 vs ~1.5 s for this pass; outputs are identical (the chain,
    its order, and the control strip are unchanged — one spec, two
    engines, same as fix_encoding_sql).  Per-row projection, no
    shuffle; NULL propagates."""
    import re

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    pairs = MOJIBAKE_PAIRS
    markers = frozenset(p[0][0] for p in pairs)
    ctrl = re.compile(CONTROL_CHARS_RE)

    def _fix_one(s):
        if s is None:
            return None
        if not markers.isdisjoint(s):
            for m, r in pairs:
                s = s.replace(m, r)
        return ctrl.sub("", s)

    def _fix(series):
        return series.map(_fix_one)

    # `from __future__ import annotations` stringifies hints
    # module-wide and pyspark's resolver rejects the strings — attach
    # real class objects (the winnow_fingerprints workaround)
    _fix.__annotations__ = {"series": pd.Series, "return": pd.Series}
    return pandas_udf(_fix, "string")(text)


def fix_encoding_sql(expr: str) -> str:
    """DuckDB twin of ``fix_encoding``: the SAME pair list folded into
    nested ``replace()`` calls plus the control-char strip — exists so
    correctness gates replay the chain verbatim instead of
    hand-mirroring it (one spec, two engines)."""
    sql = expr
    for moji, fixed in MOJIBAKE_PAIRS:
        sql = f"replace({sql}, '{moji}', '{fixed}')"
    return f"regexp_replace({sql}, '{CONTROL_CHARS_RE}', '', 'g')"


def nfc_normalize(text: Column) -> Column:
    """Unicode canonical composition (NFC, UAX #15): the curation step
    that folds decomposed sequences (``e`` + COMBINING ACUTE) and
    compatibility singletons (OHM SIGN → GREEK CAPITAL OMEGA) onto
    their canonical forms — without it, visually identical documents
    hash differently (defeating exact dedup), tokenizers split café
    two ways, and vocab/OOV statistics double-count.

    NFC only (not NFKC): canonical equivalence is lossless; the
    compatibility foldings (ligatures, full-width forms) change
    content and belong to a separate, opt-in step — and NFC is what
    the DuckDB oracle (``nfc_normalize``, utf8proc) replays verbatim,
    so the gate pins byte-exact agreement between the two engines'
    UAX #15 implementations.

    Scale shape: Arrow-batched pandas UDF (no JVM normalize builtin in
    Spark 4.1) — a per-row string map with no shuffle; the ~flat cost
    rides the same scan that already crosses to Python for any
    adjacent UDF stage.  ASCII-only batches short-circuit inside
    unicodedata (quick-check property).  NULL in → NULL out."""
    import unicodedata

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _nfc(s):
        return s.map(
            lambda t: unicodedata.normalize("NFC", t)
            if t is not None else None
        )

    # `from __future__ import annotations` stringifies hints
    # module-wide and pyspark's resolver rejects the strings — attach
    # real class objects (the winnow_fingerprints workaround)
    _nfc.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(_nfc, "string")(text)


# ---------------------------------------------------------------------------
# Repetition features (Gopher-rule style quality signals)


def repetition_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document line-repetition signals (Rae et al. 2021, "Scaling
    Language Models" [Gopher], app. A — repetitious documents are
    low-quality): over non-blank trimmed lines,

      n_lines            total
      dup_line_frac      fraction of lines whose line occurs > once
      top_line_frac      share of the single most frequent line
      distinct_line_ratio distinct / total

    Shape: explode lines → one partial-aggregated exchange on
    (id, line) → one on id.  Line text leaves the executor only as
    grouped counts, never re-collected; documents with zero non-blank
    lines get 0-valued fractions (ratio 1.0) rather than nulls."""
    lines = F.filter(
        F.transform(F.split(F.col(text_col), "\n"), lambda s: F.trim(s)),
        lambda s: F.length(s) > 0,
    )
    per_line = (
        df.select(F.col(id_col), F.explode(lines).alias("__line"))
        .groupBy(id_col, "__line")
        .agg(F.count("*").alias("__c"))
    )
    agg = per_line.groupBy(id_col).agg(
        F.sum("__c").alias("n_lines"),
        F.sum(F.when(F.col("__c") > 1, F.col("__c")).otherwise(0)).alias("__dup"),
        F.max("__c").alias("__top"),
        F.count("*").alias("__distinct"),
    )
    out = agg.select(
        id_col,
        F.col("n_lines"),
        (F.col("__dup") / F.col("n_lines")).alias("dup_line_frac"),
        (F.col("__top") / F.col("n_lines")).alias("top_line_frac"),
        (F.col("__distinct") / F.col("n_lines")).alias("distinct_line_ratio"),
    )
    # blank documents drop out of the explode — restore them as zeros
    base = df.select(F.col(id_col))
    return base.join(out, on=id_col, how="left").select(
        id_col,
        F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
        F.coalesce("dup_line_frac", F.lit(0.0)).alias("dup_line_frac"),
        F.coalesce("top_line_frac", F.lit(0.0)).alias("top_line_frac"),
        F.coalesce("distinct_line_ratio", F.lit(1.0)).alias("distinct_line_ratio"),
    )


# ---------------------------------------------------------------------------
# Vocabulary building


def top_tokens(
    df: DataFrame,
    text_col: str = "text",
    k: int = 10_000,
    min_count: int = 1,
    lowercase: bool = True,
) -> DataFrame:
    """Corpus vocabulary: the k most frequent whitespace tokens with
    counts — the counting step of tokenizer/vocab construction.
    Deterministic total order (count desc, then token asc) so the
    k-boundary never depends on partitioning.

    Shape: explode → one partially-aggregated exchange on token →
    TakeOrderedAndProject (a k-heap per partition + k-merge on the
    driver, never a global sort).  Output bounded by k."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    text = F.col(text_col)
    if lowercase:
        text = F.lower(text)
    toks = _tokens(text)
    counts = (
        df.select(F.explode(toks).alias("token"))
        .where(F.length("token") > 0)
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") >= min_count)
    )
    return counts.orderBy(F.col("cnt").desc(), F.col("token").asc()).limit(k)


def strip_boilerplate_lines(
    df: DataFrame,
    max_df: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str | None = None,
    min_line_chars: int = 1,
) -> DataFrame:
    """Corpus-wide boilerplate line removal (the C4/RefinedWeb move
    against nav menus, cookie banners, copyright footers): a line
    whose trimmed form appears in MORE than ``max_df`` distinct
    documents is stripped from every document; each document's
    surviving lines rejoin in their original order.  Lines shorter
    than ``min_line_chars`` after trimming never count as evidence and
    are never stripped (blank separators survive).  Duplicate lines
    WITHIN one document count once toward that line's document
    frequency (df is per-doc, so a doc self-repeating its header does
    not globalize it).

    Rows that share a ``doc_id`` (NULL included) are ONE document: they
    count once toward a line's document frequency, and every one of
    them gets the same rebuilt text — the surviving lines of all those
    rows merged by line position (equal positions ordered by line
    text).

    Shape: posexplode lines (position kept for reassembly) → one
    exchange on the trimmed line for the document-frequency count
    (heavy boilerplate lines are exactly the hot keys — partial
    aggregation absorbs them map-side) → join back on the line →
    per-doc ordered re-concatenation (one (id) exchange).  Lines, not
    documents, shuffle — and only (line, df) pairs cross the first
    exchange.  Fully SQL-replayable (deterministic, order-preserving).

    ``out_col`` writes the cleaned text to a new column instead of
    replacing ``text_col``.  NULL text passes through unchanged."""
    if max_df < 1:
        raise ValueError(f"max_df must be >= 1, got {max_df}")
    out_col = out_col or text_col
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("__pos", "__line"),
    ).withColumn("__key", F.trim(F.col("__line")))
    countable = F.length("__key") >= min_line_chars
    dfreq = (
        lines.where(countable)
        .select("__key", id_col).distinct()
        .groupBy("__key")
        .agg(F.count(F.lit(1)).alias("__df"))
        .where(F.col("__df") > max_df)
    )
    # short lines can never appear in dfreq (it only counts countable
    # keys), so a plain null-check on the join marker suffices
    kept = lines.join(
        dfreq.select("__key", F.lit(True).alias("__drop")), "__key", "left"
    ).where(F.col("__drop").isNull())
    rebuilt = kept.groupBy(F.col(id_col).alias("__rid")).agg(
        F.concat_ws(
            "\n", F.transform(F.array_sort(
                F.collect_list(F.struct("__pos", "__line"))
            ), lambda s: s["__line"])
        ).alias("__clean")
    )
    # null-safe: the NULL-id rows are one document too, not dropped text
    base = df.join(rebuilt, df[id_col].eqNullSafe(rebuilt["__rid"]), "left")
    # docs whose every line was stripped (or NULL text) need care:
    # NULL text stays NULL; a fully-stripped doc becomes ''
    clean = F.when(
        F.col(text_col).isNull(), F.lit(None).cast("string")
    ).otherwise(F.coalesce(F.col("__clean"), F.lit("")))
    return base.withColumn(out_col, clean).drop("__rid", "__clean")


def oov_rate(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_col: str = "token",
    lowercase: bool = True,
    out_col: str = "oov_rate",
) -> DataFrame:
    """Out-of-vocabulary rate per document: the fraction of whitespace
    tokens absent from ``vocab`` — the tokenizer-coverage quality
    signal (a doc whose tokens mostly miss the trained vocabulary will
    fragment into long byte-level sequences and waste context window).
    Empty/blank docs have no token evidence and score NULL.

    Shape: explode tokens (WITH multiplicity — a repeated unknown word
    counts every time, matching how it would tokenize), left-join the
    vocabulary — a ~vocab-sized table: AQE broadcasts it when it fits,
    and falls back to a shuffle join when a giant vocab doesn't — then
    one (id) exchange re-aggregates counts.  Token order never
    matters, so the result is partitioning-invariant and exactly
    SQL-replayable."""
    text = F.col(text_col)
    if lowercase:
        text = F.lower(text)
    toks = (
        df.select(F.col(id_col), F.explode(_tokens(text)).alias("__t"))
        .where(F.length("__t") > 0)
    )
    v = vocab.select(
        F.col(vocab_col).alias("__t"), F.lit(1).alias("__in")
    ).dropDuplicates(["__t"])
    joined = toks.join(v, "__t", "left")
    rates = joined.groupBy(id_col).agg(
        (
            F.sum(F.when(F.col("__in").isNull(), 1).otherwise(0))
            / F.count(F.lit(1))
        ).alias(out_col)
    )
    # blank docs fell out at the explode: restore them with NULL
    return df.select(id_col).join(rates, id_col, "left")


# ---------------------------------------------------------------------------
# Document chunking


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 512,
    overlap_tokens: int = 0,
    min_tail_tokens: int = 1,
) -> DataFrame:
    """Token-window document chunking (the text analog of
    ``chunk_clips``, the context-window prep step of an LLM training
    pipeline): whitespace tokens sliced into ``chunk_tokens`` windows
    at a stride of ``chunk_tokens - overlap_tokens``; a shorter final
    tail is kept iff ≥ ``min_tail_tokens`` (0 drops tails).  Chunk
    text re-joins tokens with single spaces (original whitespace is
    not preserved — the standard token-level contract).

    Boundary math is pure integer arithmetic on the token count —
    identical to the audio chunker's, and exactly replayable by the
    SQL oracle.  Shape: pure JVM higher-order functions + one explode;
    per-row projection, no shuffle, no Python."""
    if chunk_tokens <= 0:
        raise ValueError(f"chunk_tokens must be positive, got {chunk_tokens}")
    if not (0 <= overlap_tokens < chunk_tokens):
        raise ValueError(
            f"overlap_tokens must be in [0, chunk_tokens), got {overlap_tokens}"
        )
    if min_tail_tokens < 0:
        raise ValueError(f"min_tail_tokens must be >= 0, got {min_tail_tokens}")
    stride = chunk_tokens - overlap_tokens

    toks = _tokens(F.col(text_col))
    n = F.size(toks)
    fulls = F.when(n >= chunk_tokens, (n - chunk_tokens) / stride + 1).otherwise(
        F.lit(0)
    ).cast("int")
    tail_start = fulls * stride
    has_tail = (
        (F.lit(min_tail_tokens) > 0)
        & (tail_start < n)
        & ((n - tail_start) >= min_tail_tokens)
    )
    n_chunks = fulls + has_tail.cast("int")
    # sequence(0, cnt-1) auto-steps BACKWARD for cnt=0 — guard with an
    # explicit empty array
    idxs = F.when(
        n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)
    ).otherwise(F.array().cast("array<int>"))
    chunks = F.transform(
        idxs,
        lambda i: F.struct(
            i.alias("chunk_idx"),
            (i * stride).alias("start_token"),
            F.least(n - i * stride, F.lit(chunk_tokens)).alias("n_tokens"),
            F.array_join(
                F.slice(toks, i * stride + 1,
                        F.least(n - i * stride, F.lit(chunk_tokens))),
                " ",
            ).alias("chunk_text"),
        ),
    )
    return df.select(
        F.col(id_col), F.explode(chunks).alias("__c")
    ).select(
        id_col,
        F.col("__c.chunk_idx").alias("chunk_idx"),
        F.col("__c.start_token").alias("start_token"),
        F.col("__c.n_tokens").alias("n_tokens"),
        F.col("__c.chunk_text").alias("chunk_text"),
    )


def pack_sequences(
    df: DataFrame,
    token_col: str,
    budget: int,
    id_col: str = "doc_id",
    shards: int = 64,
    seed: str = "pack",
) -> DataFrame:
    """GPT-style training-sequence packing: deterministically assign
    documents to ``shards``, order each shard by document hash,
    CONCATENATE the token streams, and cut every ``budget`` tokens —
    the standard packing that wastes no context-window tokens (a
    document may span consecutive sequences; sequences never span
    shards).  Emits one row per (document, sequence) span:

      (shard, seq_id, id, doc_offset, seq_offset, n_tokens)

    with ``doc_offset``/``seq_offset`` the span's start inside the
    document / the sequence.  Reassembly invariants (tested): every
    sequence of a shard except its last holds exactly ``budget``
    tokens; each document's spans are contiguous from offset 0 and sum
    to its token count.

    DETERMINISM: ordering is (hash(seed, id), id, token count) — a
    pure function of the data, invariant to partitioning and cluster
    size, so re-runs and the DuckDB oracle produce the identical
    packing.  Ids need NOT be unique: duplicate ids order by their
    token counts, and rows tied on the full (hash, id, tokens) triple
    are indistinguishable in this projection, so the output multiset
    is still deterministic (their spans are interchangeable).  NULL
    ids and rows with ≤ 0 tokens drop out (nothing to pack; a 0-token
    doc in the stream would also trip sequence()'s backward-step
    trap).

    Scale shape: rows carry (id, token count, hash) only — never text;
    ONE exchange on the shard for the per-shard running-sum window.
    The cumulative sum is sequential per shard, so ``shards`` is the
    parallelism knob: size it to ≥ the cluster's task slots (the
    64-shard default) — at 10¹² docs each shard's window is still a
    single linear pass over longs."""
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    if shards <= 0:
        raise ValueError(f"shards must be positive, got {shards}")
    from pyspark.sql.window import Window

    from jepl_spark.operators.sampling import _sample_hash

    h = _sample_hash(F.col(id_col), seed)
    base = (
        df.select(
            F.col(id_col),
            F.col(token_col).cast("long").alias("__tok"),
            h.alias("__h"),
        )
        .where(F.col("__h").isNotNull() & (F.col("__tok") > 0))
        .withColumn("shard", F.pmod(F.col("__h"), F.lit(shards)))
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("__h", id_col, "__tok")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = base.withColumn("__end", F.sum("__tok").over(w)).withColumn(
        "__start", F.col("__end") - F.col("__tok")
    )
    # integer `div`, not floor(double/budget): the double quotient
    # loses exactness near 2^53 cumulative tokens (same rule as
    # frames_df's video_id derivation); starts/ends are non-negative
    first = F.expr(f"__start div {int(budget)}")
    last = F.expr(f"(__end - 1) div {int(budget)}")
    spans = base.select(
        "shard", id_col, "__start", "__end",
        F.explode(F.sequence(first, last)).alias("seq_id"),
    )
    seq_lo = F.col("seq_id") * budget
    s = F.greatest(F.col("__start"), seq_lo)
    e = F.least(F.col("__end"), seq_lo + budget)
    return spans.select(
        F.col("shard").cast("long").alias("shard"),
        "seq_id",
        id_col,
        (s - F.col("__start")).alias("doc_offset"),
        (s - seq_lo).alias("seq_offset"),
        (e - s).alias("n_tokens"),
    )


# -- count-based bigram language-model quality scoring ------------------------


def _bigram_strings(text: Column) -> Column:
    """All bigram occurrences (with multiplicity, lowercased) as
    'w1 w2' strings; empty for texts with < 2 tokens.  zip_with pads
    the shifted array with NULLs — the padded tail is sliced off."""
    toks = _tokens(F.lower(text))
    nxt = F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))
    pairs = F.zip_with(toks, nxt, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.slice(pairs, 1, F.greatest(F.size(toks) - 1, F.lit(0)))


def _hashed_bigram_keys(text: Column) -> Column:
    """All bigram occurrences as chained 64-bit keys —
    xxhash64(xxhash64(w1) chained with xxhash64(w2)) via the
    vectorized window-hash core (k=2), aligned with ``_bigram_strings``
    occurrence-for-occurrence.  Only for ``hash_keys=True`` models:
    bigram strings are never built."""
    from jepl_spark.operators.dedup import _token_hashes, _window_chain_udf

    return _window_chain_udf(2)(_token_hashes(_tokens(F.lower(text))))


def _hashed_bigram_ukey_pairs(text: Column) -> Column:
    """Per-bigram-occurrence (key, ukey) structs for the hashed score
    path: key as in ``_hashed_bigram_keys``, ukey = xxhash64(w1) —
    the first-word token hash, matching the train side's
    ``xxhash64(w)`` unigram keys exactly."""
    from jepl_spark.operators.dedup import _token_hashes, _window_chain_udf

    th = _token_hashes(_tokens(F.lower(text)))
    keys = _window_chain_udf(2)(th)
    w1 = F.slice(th, 1, F.greatest(F.size(th) - 1, F.lit(0)))
    return F.zip_with(
        keys, w1,
        lambda k, u: F.struct(k.alias("key"), u.alias("ukey")),
    )


class BigramLM:
    """A trained count-based bigram model: ``table`` rows (key, c2) =
    (bigram, bigram count) and ``uni`` rows (ukey, c1) = (word,
    unigram count), plus the vocabulary size for smoothing.  The
    unigram table rides separately so a bigram UNSEEN at train time
    still gets its true c(w1) denominator at score time (a
    denormalized-only design silently scored unseen bigrams against a
    c(w1)=0 denominator, INFLATING them above legitimate rare text).
    Produced by ``lm_train``; consumed by ``lm_score``."""

    def __init__(self, table: DataFrame, uni: DataFrame,
                 vocab_size: int | None, alpha: float, hashed: bool) -> None:
        self.table = table
        self.uni = uni
        self._vocab_size = None if vocab_size is None else int(vocab_size)
        self.alpha = float(alpha)
        self.hashed = hashed
        # the guard's decision for the replicated score path and its
        # broadcast, both made once per model (see _model_broadcast)
        self._local: bool | None = None
        self._model_bc = None

    @property
    def vocab_size(self) -> int:
        """Distinct-word count, counted once from the persisted
        unigram table on first use."""
        if self._vocab_size is None:
            self._vocab_size = self.uni.count()
        return self._vocab_size


def lm_train(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
    alpha: float = 0.5,
    hash_keys: bool = False,
) -> BigramLM:
    """Train the CCNet-style quality filter's language model: bigram
    and unigram counts over the (reference/clean) corpus, smoothed at
    score time as  p(w2|w1) = (c(w1 w2) + α) / (c(w1) + α·V).

    Scale shape: two count aggregations — unigrams bounded by the
    vocabulary (persisted: the vocab-size count and every downstream
    score would otherwise re-scan the corpus), bigrams by the
    distinct-bigram count (Heaps-bounded; ``min_count`` prunes the
    hapax tail, which is most of it).  ``hash_keys=True`` replaces the
    string keys with xxhash64 on both train and score sides (8-byte
    shuffle keys; 64-bit collisions merge counts, odds ~n²/2⁶⁴ — the
    production choice at 100 TB; the string form is what the SQL
    oracle replays)."""
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    uni = (
        df.select(F.explode(_tokens(F.lower(F.col(text_col)))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
        .persist()
    )
    # vocab_size (= uni.count()) is deferred to BigramLM's lazy
    # property: the count job runs when the string score path builds
    # its plan, and not at all for the replicated hashed path (which
    # reads the same value off its collected unigram array)
    if hash_keys:
        # string-free bigram keys: hash each token once (JVM), chain
        # consecutive token hashes with the vectorized xxhash64 twin —
        # no 'w1 w2' strings are built or shuffled, and the count
        # groupBy moves 8-byte keys.  The key function differs from
        # the string form's xxhash64('w1 w2') but is applied
        # identically on the train and score sides, so the join
        # semantics (equal bigram ⇔ equal key, modulo 64-bit
        # collisions) are unchanged.
        big = (
            df.select(F.explode(_hashed_bigram_keys(F.col(text_col)))
                      .alias("key"))
            .groupBy("key")
            .agg(F.count(F.lit(1)).alias("c2"))
        )
    else:
        big = (
            df.select(F.explode(_bigram_strings(F.col(text_col))).alias("bg"))
            .groupBy("bg")
            .agg(F.count(F.lit(1)).alias("c2"))
        )
    if min_count > 1:
        big = big.where(F.col("c2") >= min_count)
    key = F.col("key") if hash_keys else F.col("bg")
    ukey = F.xxhash64("w") if hash_keys else F.col("w")
    # persisted like the unigrams: lm_score counts the bigram table for
    # the guard, then collects or joins it, off one training-corpus pass
    return BigramLM(
        big.select(key.alias("key"), "c2").persist(),
        uni.select(ukey.alias("ukey"), "c1"),
        None, alpha, hash_keys,
    )


def _model_broadcast(lm: BigramLM):
    """The hashed model's bigram and unigram tables as sorted key /
    count arrays, collected and broadcast once per model — or None
    when they do not fit the guard (16 bytes per row; both tables are
    persisted, so counting then collecting them reads the training
    corpus once).  The broadcast lives as long as the model, since
    lazy score frames read it whenever they run."""
    import numpy as np

    if lm._local is None:
        lm._local = fits("lm_score", 16 * (lm.table.count() + lm.vocab_size))
        if lm._local:
            arrays = []
            for frame, k, c in ((lm.table, "key", "c2"), (lm.uni, "ukey", "c1")):
                t = frame.toArrow()
                keys = t.column(k).to_numpy().astype(np.int64, copy=False)
                counts = t.column(c).to_numpy().astype(np.float64, copy=False)
                order = np.argsort(keys)
                arrays += [np.ascontiguousarray(keys[order]),
                           np.ascontiguousarray(counts[order])]
            lm._model_bc = lm.table.sparkSession.sparkContext.broadcast(
                tuple(arrays))
    return lm._model_bc


def _lm_score_replicated(
    df: DataFrame, lm: BigramLM, model_bc, text_col: str, id_col: str
) -> DataFrame:
    """Score against the broadcast hashed model of ``_model_broadcast``:
    each task scores its documents in one Arrow pass — bigram keys
    from the train side's xxhash64 chain, counts by binary search,
    per-doc (n, Σlogp) partials out — instead of exploding and
    shuffle-joining every bigram occurrence.  The final ``groupBy(id)``
    keeps the join path's duplicate-id semantics (occurrences
    aggregate across a doc's rows); avg_logp is rounded to 6 decimals
    exactly as the join path, whose summation order is shuffle-
    dependent (round(6) is the declared stability contract)."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.functions import arrow_udf

    from jepl_spark.operators.dedup import (
        _np_chain, _np_windows, _ragged, _token_hashes)

    alpha = float(lm.alpha)
    a_v = float(lm.alpha * lm.vocab_size)

    def _score(th):
        H, lens, _ = _ragged(th)
        C = _np_chain(H, 2).view(np.int64)
        H = H.view(np.int64)
        bkeys, bc2, bukeys, bc1 = model_bc.value
        # per-position smoothed logp over the concatenated array; the
        # window slice drops each row's last position, whose chain
        # crossed into the next row
        if bkeys.size:
            idx = np.searchsorted(bkeys, C)
            idx[idx == bkeys.size] = 0
            num = np.where(bkeys[idx] == C, bc2[idx], 0.0) + alpha
        else:  # min_count pruned every bigram: all-unseen
            num = np.full(C.size, alpha)
        if bukeys.size:
            uidx = np.searchsorted(bukeys, H)
            uidx[uidx == bukeys.size] = 0
            den = np.where(bukeys[uidx] == H, bc1[uidx], 0.0) + a_v
        else:
            den = np.full(H.size, a_v)
        logp, n = _np_windows(np.log(num / den), lens, 2)
        # one .sum() per row keeps numpy's pairwise summation (a
        # reduceat adds sequentially: different low bits)
        s = [seg.sum() for seg in np.split(logp, np.cumsum(n))[:-1]]
        return pa.StructArray.from_arrays(
            [pa.array(n), pa.array(np.array(s, dtype=np.float64))],
            names=["n", "s"],
        )

    score_udf = arrow_udf(_score, "struct<n:bigint,s:double>")

    th = _token_hashes(_tokens(F.lower(F.col(text_col))))
    partial = df.select(
        F.col(id_col), score_udf(th).alias("__ns")
    ).select(id_col, F.col("__ns.n").alias("__n"),
             F.col("__ns.s").alias("__s"))
    agg = partial.groupBy(id_col).agg(
        F.sum("__n").alias("n_bigrams"), F.sum("__s").alias("__s"))
    return agg.select(
        id_col,
        "n_bigrams",
        F.when(F.col("n_bigrams") > 0,
               F.round(F.col("__s") / F.col("n_bigrams"), 6))
        .alias("avg_logp"),
    )


def lm_score(
    df: DataFrame,
    lm: BigramLM,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score every document by its smoothed average bigram
    log-probability — the perplexity-proxy quality signal (CCNet:
    LM trained on a clean corpus ranks candidate documents; low
    ``avg_logp`` = unnatural text).  Output: (id, n_bigrams,
    avg_logp); documents with < 2 tokens carry n_bigrams = 0 and a
    NULL score (no evidence — do not confuse with a bad score).

    Scale shape: a hashed model that fits the guard is broadcast and
    each task scores its documents locally; otherwise two shuffle
    joins of the docs' exploded bigrams — against the bigram counts on
    the bigram key and the unigram counts on the first-word key (both
    8-byte hashes when the model was trained with ``hash_keys``; the
    unigram side is vocabulary-sized and broadcasts).  Then one (id)
    exchange for the per-doc average, rounded to 6 decimals so the
    result is stable under distributed summation order and
    replayable in SQL."""
    if lm.hashed:
        # replicated-model path (hashed models only — the string/SQL
        # path keeps its historical plan): when the trained model fits
        # the guard, score locally per task instead of shuffling the
        # exploded occurrence stream
        model_bc = _model_broadcast(lm)
        if model_bc is not None:
            return _lm_score_replicated(df, lm, model_bc, text_col, id_col)
        # string-free keys, mirroring the hashed train side (see
        # lm_train): no bigram strings, no per-occurrence string
        # hashing or substring_index re-extraction
        doc_big = df.select(
            F.col(id_col),
            F.explode(_hashed_bigram_ukey_pairs(F.col(text_col)))
            .alias("__kb"),
        ).select(
            id_col,
            F.col("__kb.key").alias("key"),
            F.col("__kb.ukey").alias("ukey"),
        )
    else:
        bg = _bigram_strings(F.col(text_col))
        doc_big = df.select(
            F.col(id_col),
            F.explode(bg).alias("__bg"),
        ).withColumn("__w1", F.substring_index(F.col("__bg"), " ", 1))
        doc_big = doc_big.select(
            id_col,
            F.col("__bg").alias("key"),
            F.col("__w1").alias("ukey"),
        )
    j = doc_big.join(lm.table, "key", "left").join(
        F.broadcast(lm.uni), "ukey", "left"
    )
    logp = F.log(
        (F.coalesce(F.col("c2"), F.lit(0)) + F.lit(lm.alpha))
        / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(lm.alpha * lm.vocab_size))
    )
    per = j.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg(logp), 6).alias("avg_logp"),
    )
    return (
        df.select(id_col).distinct()
        .join(per, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            "avg_logp",
        )
    )


# ---------------------------------------------------------------------------
# Transcript agreement (token-level edit distance / WER)


def _token_levenshtein_udf():
    """Arrow-batched token-level Levenshtein distance over two
    ``array<string>`` columns.  A 2D DP has no JVM builtin
    (``F.levenshtein`` is char-level), so this is the honest Pandas-UDF
    case; per row it runs Myers' bit-parallel algorithm (Myers 1999 /
    Hyyrö 2001, public): the shorter side becomes the pattern bit-mask
    table and each token of the longer side advances the whole DP
    column in ~12 integer ops on an m-bit Python int — O(longer side)
    steps per row regardless of width (arbitrary-precision ints lift
    the word-size limit), vs the previous formulation's len(hyp) numpy
    vector ops of len(ref) width (measured ~4× slower at sf1.0).
    Exactness is algorithm-independent — unit-cost Levenshtein has one
    value — and the swap is safe because the distance is symmetric.
    NULL on either side -> NULL."""
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    def _dist(a, b) -> int:
        if len(a) < len(b):
            a, b = b, a
        m = len(b)
        n = len(a)
        if n == 0 or m == 0:
            return n + m
        peq: dict = {}
        bit = 1
        for t in b:
            peq[t] = peq.get(t, 0) | bit
            bit <<= 1
        full = bit - 1
        high = bit >> 1
        pv, mv, score = full, 0, m
        get = peq.get
        for t in a:
            eq = get(t, 0)
            xv = eq | mv
            xh = ((((eq & pv) + pv) & full) ^ pv) | eq
            ph = mv | (full & ~(xh | pv))
            mh = pv & xh
            if ph & high:
                score += 1
            elif mh & high:
                score -= 1
            ph = ((ph << 1) | 1) & full
            pv = ((mh << 1) & full) | (full & ~(xv | ph))
            mv = ph & xv
        return score

    def _batch(ra, rb):
        out = [
            None if a is None or b is None else _dist(list(a), list(b))
            for a, b in zip(ra, rb)
        ]
        return pd.Series(out, dtype="object")

    return pandas_udf(_batch, "long")


def normalize_transcript(text: Column) -> Column:
    """Standard WER text normalization (the Kaldi/NIST-style fold
    applied before scoring so casing and punctuation do not count as
    word errors): lowercase, strip everything but letters, digits,
    whitespace, and word-internal apostrophes, then trim.  Pure JVM
    regexp chain in the Java∩RE2 common dialect (the scrub_pii
    contract), so a SQL twin replays it with
    ``lower`` + ``regexp_replace(..., 'g')``."""
    t = F.lower(text)
    t = F.regexp_replace(t, r"[^a-z0-9\s']", " ")
    return F.trim(t)


def transcript_wer(
    df: DataFrame,
    ref_col: str = "text",
    hyp_col: str = "hyp",
    max_wer: float | None = None,
    normalize: bool = False,
) -> DataFrame:
    """Token-level transcript agreement — the QA gate for paired
    (reference transcript, ASR/model draft) rows in a speech-training
    pipeline: tokenize both sides (shared whitespace semantics),
    compute the token-level Levenshtein distance, and

        ``wer = edit_dist / greatest(n_ref_tokens, 1)``

    (the standard word-error-rate denominator, guarded so an empty
    reference yields ``n_hyp_tokens`` per extra token instead of a
    division error).  Adds ``n_ref_tokens``, ``n_hyp_tokens``,
    ``edit_dist``, ``wer``; with ``max_wer`` set, also
    ``reject_reason`` (``'high_wer'`` / NULL) in the admission style of
    ``admit_paired_clips``.  NULL on either text column propagates NULL
    distance/wer and never rejects.

    Scale shape: tokenization and the rate arithmetic are JVM
    projections; the DP is one stateless Arrow pass over the two token
    arrays — no shuffle, linear in input splits, batching-invariant."""
    for c in (ref_col, hyp_col):
        if c not in df.columns:
            raise ValueError(f"transcript_wer needs column {c!r}")
    guarded = ["n_ref_tokens", "n_hyp_tokens", "edit_dist", "wer"]
    if max_wer is not None:
        # chaining after another admission gate must not silently
        # clobber its verdict — rejecting rows re-admitted here would
        # be invisible downstream
        guarded.append("reject_reason")
    for c in guarded:
        if c in df.columns:
            raise ValueError(f"transcript_wer would overwrite column {c!r}")
    ref_text, hyp_text = F.col(ref_col), F.col(hyp_col)
    if normalize:
        # fold case/punctuation BEFORE tokenizing, the standard WER
        # scoring convention — "Hello, world!" vs "hello world" is
        # zero errors
        ref_text = normalize_transcript(ref_text)
        hyp_text = normalize_transcript(hyp_text)
    ref_t = _tokens(ref_text)
    hyp_t = _tokens(hyp_text)
    dist = _token_levenshtein_udf()(ref_t, hyp_t)
    out = df.select(
        "*",
        F.size(ref_t).cast("long").alias("n_ref_tokens"),
        F.size(hyp_t).cast("long").alias("n_hyp_tokens"),
        dist.alias("edit_dist"),
    ).withColumn(
        "wer",
        F.col("edit_dist") / F.greatest(F.col("n_ref_tokens"), F.lit(1)),
    )
    if max_wer is not None:
        out = out.withColumn(
            "reject_reason",
            F.when(F.col("wer") > float(max_wer), F.lit("high_wer")),
        )
    return out
