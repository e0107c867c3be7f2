"""Seeded input generators for the benchmark workloads.

Every generator takes the seed as an argument and is a pure function of
it: the same seed gives byte-identical inputs.  Inputs are written to
disk before any timing starts; the program under test only ever sees
the written files.

Each generated item carries what the output check needs:

- rules: a structured spec rendered twice, once as JEPL text for the
  engine and once as DuckDB SQL with the reference's semantics (count
  counts matched rows, empty aggregates are 0.0, GROUP BY keys are
  enumerated before WHERE) for the independent twin;
- clips: a contiguous clip-index range whose per-(window, codec) counts
  and duration sums have a closed form (``clip_window_expect``);
- corpus: planted rows, each tagged with the stage that must drop it.
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- JEPL rules over events / lineitem slices ---------------------------------

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
N_USERS = 1500
EVENTS_PER_SLICE = 3000
LINEITEM_ROWS = 100_000
_DAY_US = 86_400_000_000
_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")

# JEPL field -> DuckDB expression.  Every numeric is float64 in JEPL.
_TWIN_FIELD = {
    "value": "value",
    "user_id": "CAST(user_id AS DOUBLE)",
    "props.k": "CAST(json_extract_string(props, '$.k') AS DOUBLE)",
    "event_type": "event_type",
    "l_quantity": "l_quantity",
    "l_extendedprice": "l_extendedprice",
    "l_discount": "l_discount",
    "l_tax": "l_tax",
    "l_returnflag": "l_returnflag",
    "l_linestatus": "l_linestatus",
    "l_suppkey": "CAST(l_suppkey AS DOUBLE)",
}

_TABLE_SHAPES = {
    # table: (numeric fields, string fields -> domain, dimension choices)
    "events": (
        ("value", "user_id", "props.k"),
        {"event_type": EVENT_TYPES},
        ((), ("event_type",), ("user_id",)),
    ),
    "lineitem": (
        ("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
        {"l_returnflag": ("A", "N", "R"), "l_linestatus": ("F", "O")},
        ((), ("l_returnflag", "l_linestatus"), ("l_suppkey",)),
    ),
}

_NUM_RANGES = {
    "value": (5.0, 120.0),
    "user_id": (100, 1400),
    "props.k": (10, 90),
    "l_quantity": (5, 45),
    "l_extendedprice": (10_000.0, 90_000.0),
    "l_discount": (0.02, 0.08),
    "l_tax": (0.01, 0.07),
}


@dataclass
class RuleSpec:
    """One generated rule: a predicate tree, aggregates and dimensions."""

    table: str
    dims: tuple
    aggs: list            # [(fn, field)]
    pred: tuple           # ("cmp", f, op, lit) | ("in", f, vals) | ("and"|"or", [..])
    shape: str            # "and" | "or" | "in" — the predicate family

    def jepl(self) -> str:
        sel = ", ".join(f"{fn}({f}) AS a{i}" for i, (fn, f) in enumerate(self.aggs))
        text = f"select {sel} from {self.table} where {_jepl_pred(self.pred)}"
        if self.dims:
            text += " group by " + ", ".join(self.dims)
        return text

    def twin_sql(self, path: str) -> str:
        """DuckDB SQL with the reference semantics, over one parquet file."""
        m = _twin_pred(self.pred)
        cnt = f"SUM(CASE WHEN {m} THEN 1 ELSE 0 END)"
        cols = []
        for i, (fn, f) in enumerate(self.aggs):
            x = _TWIN_FIELD[f]
            if fn == "count":
                e = f"CAST({cnt} AS DOUBLE)"
            elif fn == "sum":
                e = f"COALESCE(SUM(CASE WHEN {m} THEN {x} END), 0.0)"
            elif fn == "avg":
                e = (f"CASE WHEN {cnt} = 0 THEN 0.0 ELSE "
                     f"COALESCE(SUM(CASE WHEN {m} THEN {x} END), 0.0) / {cnt} END")
            else:  # max / min: extremum over matched rows, 0.0 when none
                e = f"COALESCE({fn.upper()}(CASE WHEN {m} THEN {x} END), 0.0)"
            cols.append(f"{e} AS a{i}")
        dims = [_TWIN_FIELD[d] for d in self.dims]
        sql = f"SELECT {', '.join(dims + cols)} FROM read_parquet('{path}')"
        if dims:
            sql += " GROUP BY " + ", ".join(dims)
        return sql


def _lit(v) -> str:
    if isinstance(v, str):
        return f"'{v}'"
    return repr(v)


def _jepl_pred(p) -> str:
    kind = p[0]
    if kind == "cmp":
        return f"{p[1]} {p[2]} {_lit(p[3])}"
    if kind == "in":
        return f"{p[1]} IN [{', '.join(_lit(v) for v in p[2])}]"
    joiner = " AND " if kind == "and" else " OR "
    return "(" + joiner.join(_jepl_pred(c) for c in p[1]) + ")"


def _twin_pred(p) -> str:
    kind = p[0]
    if kind == "cmp":
        op = "<>" if p[2] == "!=" else p[2]
        return f"({_TWIN_FIELD[p[1]]} {op} {_lit(p[3])})"
    if kind == "in":
        return f"({_TWIN_FIELD[p[1]]} IN ({', '.join(_lit(v) for v in p[2])}))"
    joiner = " AND " if kind == "and" else " OR "
    return "(" + joiner.join(_twin_pred(c) for c in p[1]) + ")"


def _cmp(rng, table: str, field: str):
    """A comparison on ``field``; the seed picks operator and literal."""
    _, strs, _ = _TABLE_SHAPES[table]
    if field in strs:
        return ("cmp", field, str(rng.choice(["=", "!="])), str(rng.choice(strs[field])))
    lo, hi = _NUM_RANGES[field]
    if isinstance(lo, int):
        lit = int(rng.integers(lo, hi))
    else:
        lit = round(float(rng.uniform(lo, hi)), 2)
    return ("cmp", field, str(rng.choice([">", ">=", "<", "<="])), lit)


def _pred(rng, table: str, shape: str, i: int):
    nums, strs, _ = _TABLE_SHAPES[table]
    fields = list(nums) + list(strs)
    f = [fields[(i + j) % len(fields)] for j in range(3)]
    if shape == "and":
        return ("and", [_cmp(rng, table, x) for x in f[:2 + i % 2]])
    if shape == "or":
        return ("and", [("or", [_cmp(rng, table, f[0]), _cmp(rng, table, f[1])]),
                        _cmp(rng, table, f[2])])
    sf = list(strs)[i % len(strs)]
    dom = strs[sf]
    vals = [str(v) for v in rng.choice(dom, size=1 + i % (len(dom) - 1), replace=False)]
    return ("and", [("in", sf, vals), _cmp(rng, table, nums[i % len(nums)])])


def make_rules(seed: int, n_events: int = 6, n_lineitem: int = 3) -> list[RuleSpec]:
    """A seeded rule set: grouped and dimension-free shapes, AND-only,
    OR-tree and IN-list predicates, the ``props.k`` JSON-path lane, and
    group cardinality from 5 (event_type) to ~1,300 (user_id).

    The structure of rule ``i`` (table, dimensions, predicate shape and
    fields, number of aggregates and their fields) depends only on
    ``i``, so the work per request does not depend on the seed; the seed
    picks operators, literals, IN-lists and aggregate functions."""
    rng = np.random.default_rng([seed, 1])
    shapes = ("and", "or", "in")
    fns = ("count", "sum", "avg", "max", "min")
    rules = []
    for i in range(n_events + n_lineitem):
        table = "events" if i < n_events else "lineitem"
        nums, _, dim_choices = _TABLE_SHAPES[table]
        # each (dimensions, predicate shape) pair at most once per table
        k = i if table == "events" else i - n_events
        dims = dim_choices[k % len(dim_choices)]
        shape = shapes[(k + k // len(dim_choices) + (table == "lineitem")) % len(shapes)]
        aggs = [(str(rng.choice(fns)), nums[(i + j) % len(nums)])
                for j in range(1 + i % 4)]
        if table == "events" and i % 4 == 1:   # force the JSON-path lane
            aggs[0] = (aggs[0][0], "props.k")
        rules.append(RuleSpec(table, dims, aggs, _pred(rng, table, shape, i), shape))
    return rules


def write_event_slices(seed: int, out_dir: str, n_slices: int) -> list[str]:
    """One parquet file per day of events; returns the paths in order."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    paths = []
    n = EVENTS_PER_SLICE
    for d in range(n_slices):
        offs = np.sort(rng.integers(0, _DAY_US, n))
        ts = _EPOCH_2024 + (d * _DAY_US + offs).astype("timedelta64[us]")
        k = rng.integers(0, 100, n)
        tbl = pa.table({
            "event_id": pa.array(np.arange(d * n, (d + 1) * n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_USERS, n), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n), pa.string()),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2), pa.float64()),
            "props": pa.array([f'{{"k": {int(v)}}}' for v in k], pa.string()),
        })
        path = os.path.join(out_dir, f"events_day{d:02d}.parquet")
        pq.write_table(tbl, path)
        paths.append(path)
    return paths


def write_lineitem_slices(seed: int, out_dir: str, n_slices: int,
                          rows: int = LINEITEM_ROWS) -> list[str]:
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    paths = []
    for s in range(n_slices):
        qty = rng.integers(1, 51, rows).astype(np.float64)
        tbl = pa.table({
            "l_orderkey": pa.array(rng.integers(0, rows // 4, rows), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 1000, rows), pa.int64()),
            "l_quantity": pa.array(qty, pa.float64()),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, rows), 2)),
            "l_discount": pa.array(rng.integers(0, 11, rows) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, rows) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], rows), pa.string()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], rows), pa.string()),
        })
        path = os.path.join(out_dir, f"lineitem_part{s}.parquet")
        pq.write_table(tbl, path)
        paths.append(path)
    return paths


# -- clips + transcripts --------------------------------------------------------

#: event-time spacing between consecutive clips, and the rule window.
CLIP_STEP_S = 0.05
WINDOW_S = 10
CLIPS_PER_WINDOW = int(round(WINDOW_S / CLIP_STEP_S))
TRANSCRIPT_DELAY_S = 0.5

_CLIP_ARROW = pa.schema([
    ("clip_id", pa.string()), ("bytes", pa.binary()), ("sr_hz", pa.int32()),
    ("dur_ms", pa.int32()), ("codec", pa.string()), ("transcript", pa.string()),
    ("event_time", pa.timestamp("us")), ("seq", pa.int64()),
])
_TRANSCRIPT_ARROW = pa.schema([
    ("clip_id", pa.string()), ("transcript", pa.string()),
    ("event_time", pa.timestamp("us")), ("seq", pa.int64()),
])


#: the library's clip generator cycles sample rate every 3 clips,
#: duration every 1801 and codec every 20; shifting the clip range by a
#: multiple of lcm(3, 1801, 20) = 108060 keeps every clip's size and
#: codec (so the work per run does not depend on the seed) while the
#: waveforms and ids change
_CLIP_PERIOD = 108_060


def clip_base(seed: int) -> int:
    """First clip index for a seed: a whole number of generator periods,
    and aligned to a window boundary so the closed-form window counts
    start at window 0."""
    step = _CLIP_PERIOD * CLIPS_PER_WINDOW // math.gcd(_CLIP_PERIOD, CLIPS_PER_WINDOW)
    return step * (seed % 100_000)


def clip_tables(first: int, n: int) -> tuple[pa.Table, pa.Table]:
    """(audio, transcript) Arrow tables for clips [first, first + n),
    from the library's closed-form clip generator."""
    from jepl_spark.sources.clips import clip_row

    rows = [clip_row(i, step_s=CLIP_STEP_S) for i in range(first, first + n)]
    cols = {k: [r[k] for r in rows] for k in _CLIP_ARROW.names}
    cols["event_time"] = np.array([r.to_datetime64() for r in cols["event_time"]],
                                  dtype="datetime64[us]")
    audio = pa.table(cols, schema=_CLIP_ARROW)
    delay = np.timedelta64(int(TRANSCRIPT_DELAY_S * 1e6), "us")
    trans = pa.table({
        "clip_id": audio["clip_id"],
        "transcript": audio["transcript"],
        "event_time": pa.array(
            audio["event_time"].to_numpy() + delay, pa.timestamp("us")),
        "seq": audio["seq"],
    }, schema=_TRANSCRIPT_ARROW)
    return audio, trans


def write_clip_files(first: int, n: int, per_file: int, audio_dir: str,
                     trans_dir: str, prefix: str = "part") -> list[str]:
    """Write clips [first, first + n) as paired files of ``per_file``
    clips.  Returns the file names (identical in both directories)."""
    os.makedirs(audio_dir, exist_ok=True)
    os.makedirs(trans_dir, exist_ok=True)
    names = []
    for j, lo in enumerate(range(first, first + n, per_file)):
        audio, trans = clip_tables(lo, min(per_file, first + n - lo))
        name = f"{prefix}-{j:05d}.parquet"
        pq.write_table(audio, os.path.join(audio_dir, name))
        pq.write_table(trans, os.path.join(trans_dir, name))
        names.append(name)
    return names


def clip_window_expect(first: int, n: int) -> dict:
    """Closed-form rule output for clips [first, first + n): for every
    window that holds clips, {(window index, codec): (count, sum dur_ms)}.
    Window index 0 starts at clip ``first`` (``first`` is window-aligned)."""
    i = np.arange(first, first + n, dtype=np.int64)
    win = (i - first) // CLIPS_PER_WINDOW
    m = i % 20
    codec = np.where(m < 16, 0, np.where(m < 19, 1, 2))
    dur = 200 + (i * 37) % 1801
    names = ("pcm16", "ulaw", "alaw")
    out = {}
    for w in np.unique(win):
        for c in range(3):
            sel = (win == w) & (codec == c)
            if sel.any():
                out[(int(w), names[c])] = (int(sel.sum()), int(dur[sel].sum()))
    return out


# -- corpus ----------------------------------------------------------------------

CORPUS_STAGES = (
    "boilerplate", "quality_lang", "oov", "exact_dedup",
    "minhash_components", "substring_dedup", "lm_filter", "decontam",
)

#: word counts and token-length counts of the sf0.1 documents table
#: (made by ``perfbench/sf_stats.py``)
SF_DOC_STATS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "sf01_documents.json")
_LANG_SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                          "jepl_spark", "fixtures", "lang_id.json")
_DE_STOP = ("der", "die", "das", "und", "ein", "eine", "ist", "zu", "den", "von")
#: boilerplate lines: nav/footer text planted across many documents
_BOILER = (
    "homepage aboutus contactus signin",
    "copyright allrights reserved sitemap",
    "privacy cookies settings accept",
    "subscribe newsletter follow social",
)
SUBSTRING_K = 20
DECONTAM_N = 8
BOILERPLATE_MAX_DF = 3
LM_MIN_LOGP = -4.0
MAX_OOV_RATE = 0.5
NEAR_DUP_THRESHOLD = 0.8


def lang_twin(text: str, stopwords: dict) -> str:
    """Python twin of ``operators.text.lang_id`` for Latin-script text:
    the language whose stopword list overlaps the distinct lower-case
    tokens strictly most, else 'und'."""
    toks = set(text.lower().split())
    scores = {lang: len(toks.intersection(ws)) for lang, ws in stopwords.items()}
    best = max(scores.values())
    top = [lang for lang, s in scores.items() if s == best]
    return top[0] if best > 0 and len(top) == 1 else "und"


def load_stopwords() -> dict:
    with open(_LANG_SPEC) as f:
        return json.load(f)["stopwords"]


@dataclass
class Corpus:
    docs: dict                     # doc_id -> text
    lm_ref: list                   # clean training texts for the LM
    bench: list                    # eval rows for decontamination
    drops: dict = field(default_factory=dict)   # stage -> set(doc_id)
    boiler_lines: tuple = _BOILER
    shared_passages: list = field(default_factory=list)
    vocab_size: int = 0


class _Resampler:
    """Documents drawn the way ``tools/make_profile_sf.py`` extends the
    sf0.1 corpus: a token length from the empirical length
    distribution, then that many tokens drawn independently from the
    empirical unigram distribution."""

    def __init__(self, rng) -> None:
        with open(SF_DOC_STATS) as f:
            st = json.load(f)
        self.rng = rng
        self.vocab = list(st["word_counts"])
        w = np.array(list(st["word_counts"].values()), dtype=np.float64)
        self.p_word = w / w.sum()
        self.lengths = np.array([int(n) for n in st["length_counts"]])
        c = np.array(list(st["length_counts"].values()), dtype=np.float64)
        self.p_len = c / c.sum()

    def words(self, n: int) -> list[str]:
        return [str(x) for x in self.rng.choice(self.vocab, size=n, p=self.p_word)]

    def doc(self) -> str:
        return " ".join(self.words(int(self.rng.choice(self.lengths, p=self.p_len))))


def _insert(rng, line: str, words: list[str]) -> str:
    """``words`` spliced into ``line`` at a random token position."""
    toks = line.split()
    at = int(rng.integers(0, len(toks) + 1))
    return " ".join(toks[:at] + words + toks[at:])


def make_corpus(seed: int, n_clean: int) -> Corpus:
    """``n_clean`` documents resampled from the sf0.1 distributions (one
    line each, like the fixtures) plus planted rows for every stage:

    - boilerplate: nav/footer lines added to many documents (stripped);
    - quality_lang: too-short, punctuation-heavy and German documents,
      and every resampled document that holds no English stopword (the
      sf0.1 vocabulary has two, 'the' and 'a', so short documents often
      read as undetermined);
    - oov: documents of unique non-vocabulary tokens;
    - exact_dedup: exact copies (higher id than the original);
    - minhash_components: one-token mutations of long documents;
    - substring_dedup: a 25-token passage shared by two documents
      (removed from both; the documents stay);
    - lm_filter: every third token a code the LM has never seen after a
      vocabulary word (the LM is trained on a separate resampled sample);
    - decontam: a 12-token excerpt of an eval row inserted in a document.
    """
    rng = np.random.default_rng([seed, 4])
    src = _Resampler(rng)
    stop = load_stopwords()
    all_stop = {w for ws in stop.values() for w in ws}
    content = [w for w in src.vocab if w not in all_stop]
    docs: dict[int, str] = {}
    drops = {s: set() for s in CORPUS_STAGES}

    def is_en(text: str) -> bool:
        return lang_twin(text, stop) == "en"

    bodies = [[src.doc()] for _ in range(n_clean)]
    # boilerplate rides on ~40% of the documents, as a line of its own
    for lines in bodies:
        if rng.random() < 0.4:
            lines.append(_BOILER[int(rng.integers(0, len(_BOILER)))])
    en_ids = [i for i in range(n_clean) if is_en(bodies[i][0])]
    # substring plants (pairs of documents sharing one passage) and
    # decontamination targets, among documents that reach those stages
    n_pairs = max(2, n_clean // 200)
    n_bench = max(4, n_clean // 100)
    picks = [int(x) for x in rng.choice(en_ids, size=2 * n_pairs + n_bench, replace=False)]
    passages = []
    for p in range(n_pairs):
        passage = src.words(25)
        passages.append(" ".join(passage))
        for d in picks[2 * p: 2 * p + 2]:
            bodies[d][0] = _insert(rng, bodies[d][0], passage)
    bench = [" ".join(src.words(30)) for _ in range(n_bench)]
    for b, d in zip(bench, picks[2 * n_pairs:]):
        words = b.split()
        lo = int(rng.integers(0, len(words) - 12))
        bodies[d][0] = _insert(rng, bodies[d][0], words[lo:lo + 12])
        drops["decontam"].add(d)
    for i, lines in enumerate(bodies):
        docs[i] = "\n".join(lines)
        if not is_en(lines[0]):
            drops["quality_lang"].add(i)

    next_id = n_clean
    n_plant = max(3, n_clean // 50)

    def plant(stage: str, text: str) -> None:
        nonlocal next_id
        docs[next_id] = text
        drops[stage].add(next_id)
        next_id += 1

    def pick(n: int) -> list[str]:
        return [content[int(x)] for x in rng.integers(0, len(content), n)]

    clean_ids = sorted(set(en_ids) - set(picks))
    for _ in range(n_plant):
        plant("quality_lang", "the " + " ".join(pick(2)))
        plant("quality_lang", " ".join(w + "!!!,;;" for w in ["the"] + pick(7)))
        plant("quality_lang", " ".join(
            str(rng.choice(_DE_STOP)) + " " + w for w in pick(12)))
        plant("oov", "the " + " ".join(
            f"zq{int(x):08x}" for x in rng.integers(0, 2**31, 30)))
        plant("lm_filter", " ".join(
            f"the {w} sku{int(x):06d}"
            for w, x in zip(pick(14), rng.integers(0, 10**6, 14))))
    for s in rng.choice(clean_ids, size=n_plant, replace=False):
        plant("exact_dedup", docs[int(s)])
    # ≥90 tokens: one mutated token leaves trigram Jaccard ≈ 0.93, far
    # enough above the 0.8 threshold for a 64-hash estimate
    long_ids = [i for i in clean_ids if len(bodies[i][0].split()) >= 90]
    for s in rng.choice(long_ids, size=min(n_plant, len(long_ids)), replace=False):
        lines = list(bodies[int(s)])
        words = lines[0].split()
        mid = len(words) // 2
        while words[mid] in all_stop:
            mid = (mid + 1) % len(words)
        words[mid] = content[(content.index(words[mid]) + 7) % len(content)]
        lines[0] = " ".join(words)
        plant("minhash_components", "\n".join(lines))

    lm_ref = [src.doc() for _ in range(max(300, n_clean // 4))]
    return Corpus(docs=docs, lm_ref=lm_ref, bench=bench, drops=drops,
                  shared_passages=passages, vocab_size=len(src.vocab))


def write_corpus(corpus: Corpus, out_dir: str) -> None:
    """documents / lm_ref / bench parquet files under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    ids = sorted(corpus.docs)
    pq.write_table(pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array([corpus.docs[i] for i in ids], pa.string()),
    }), os.path.join(out_dir, "documents.parquet"))
    pq.write_table(pa.table({
        "doc_id": pa.array(range(len(corpus.lm_ref)), pa.int64()),
        "text": pa.array(corpus.lm_ref, pa.string()),
    }), os.path.join(out_dir, "lm_ref.parquet"))
    pq.write_table(pa.table({
        "doc_id": pa.array(range(len(corpus.bench)), pa.int64()),
        "text": pa.array(corpus.bench, pa.string()),
    }), os.path.join(out_dir, "bench.parquet"))
