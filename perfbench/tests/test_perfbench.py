"""Tests for the benchmark's own machinery (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, harness, run  # noqa: E402


def _digest(c: gen.Corpus) -> str:
    h = hashlib.sha256()
    h.update(json.dumps(sorted(c.docs.items())).encode())
    h.update(json.dumps([c.lm_ref, c.bench]).encode())
    h.update(json.dumps({k: sorted(v) for k, v in c.drops.items()}).encode())
    return h.hexdigest()


def _files(d):
    return {f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))}


def test_rules_deterministic_and_seeded():
    a = [r.jepl() for r in gen.make_rules(5)]
    assert a == [r.jepl() for r in gen.make_rules(5)]
    assert a != [r.jepl() for r in gen.make_rules(6)]
    shapes = {r.shape for r in gen.make_rules(5)}
    assert shapes == {"and", "or", "in"}
    assert any("props.k" in t for t in a)
    assert any("group by" not in t for t in a)


def test_tables_deterministic(tmp_path):
    for seed in (1, 1, 2):
        d = tmp_path / f"s{seed}-{len(os.listdir(tmp_path))}"
        gen.write_event_slices(seed, str(d / "ev"), 2)
        gen.write_lineitem_slices(seed, str(d / "li"), 1, rows=1000)
    runs = sorted(os.listdir(tmp_path))
    ev = [_files(tmp_path / r / "ev") for r in runs]
    li = [_files(tmp_path / r / "li") for r in runs]
    assert ev[0] == ev[1] and li[0] == li[1]
    assert ev[0] != ev[2] and li[0] != li[2]


def test_corpus_deterministic_and_planted():
    c1, c2 = gen.make_corpus(3, 300), gen.make_corpus(3, 300)
    assert _digest(c1) == _digest(c2)
    assert _digest(c1) != _digest(gen.make_corpus(4, 300))
    for stage in gen.CORPUS_STAGES:
        if stage in ("boilerplate", "substring_dedup"):
            assert not c1.drops[stage]
        else:
            assert c1.drops[stage], stage
    dropped = [i for s in c1.drops.values() for i in s]
    assert len(dropped) == len(set(dropped))          # one stage per row
    assert all(sum(p in t for t in c1.docs.values()) == 2 for p in c1.shared_passages)


def test_corpus_resamples_sf_distributions():
    c = gen.make_corpus(2, 400)
    with open(gen.SF_DOC_STATS) as f:
        st = json.load(f)
    sf_mean = sum(int(n) * k for n, k in st["length_counts"].items()) / st["n_docs"]
    natural = [c.docs[i].split("\n")[0].split() for i in range(400)]
    assert {w for d in natural for w in d} <= set(st["word_counts"]) | {
        w for p in c.shared_passages for w in p.split()}
    mean = sum(map(len, natural)) / len(natural)
    assert abs(mean - sf_mean) < 0.1 * sf_mean
    stop = gen.load_stopwords()
    # a resampled document is dropped by the language filter exactly
    # when it holds no English stopword
    for i, d in enumerate(natural):
        assert (i in c.drops["quality_lang"]) == (not ({"the", "a"} & set(d)))
        assert (gen.lang_twin(" ".join(d), stop) == "en") == bool({"the", "a"} & set(d))


def test_lang_twin():
    stop = {"en": ["the", "a"], "de": ["der", "die"]}
    assert gen.lang_twin("The cat", stop) == "en"
    assert gen.lang_twin("der cat", stop) == "de"
    assert gen.lang_twin("the der", stop) == "und"
    assert gen.lang_twin("cat", stop) == "und"


def _sink(root, first, windows, drop=None):
    """A committed IdempotentParquetSink layout holding the closed-form
    rows of ``windows`` (all in batch 0), minus ``drop``."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from jepl_spark.sources.clips import BASE_TS

    t0 = BASE_TS.to_pydatetime() + dt.timedelta(seconds=first * gen.CLIP_STEP_S)
    rows = [{"window_start": t0 + dt.timedelta(seconds=w * gen.WINDOW_S), "codec": c,
             "n_clips": float(n), "sdur": float(s)}
            for (w, c), (n, s) in gen.clip_window_expect(first, gen.CLIPS_PER_WINDOW * windows).items()
            if (w, c) != drop]
    os.makedirs(os.path.join(root, "data", "batch=0"))
    os.makedirs(os.path.join(root, "_commits"))
    pq.write_table(pa.Table.from_pylist(rows),
                   os.path.join(root, "data", "batch=0", "part-0.parquet"))
    with open(os.path.join(root, "_commits", "0"), "w") as f:
        json.dump({"ts": 0.0}, f)


def test_check_windows(tmp_path):
    from perfbench import w_clips

    first, n = gen.clip_base(1), w_clips.N_BACKFILL
    # windows the backlog's newest event must close
    must = int(((n - 1) * gen.CLIP_STEP_S - w_clips._CLOSE_SLACK_S) // gen.WINDOW_S)
    assert must >= 3
    assert not w_clips.check_windows(str(tmp_path / "empty"), first, n)
    _sink(str(tmp_path / "full"), first, must)
    assert w_clips.check_windows(str(tmp_path / "full"), first, n)
    _sink(str(tmp_path / "short"), first, must - 1)
    assert not w_clips.check_windows(str(tmp_path / "short"), first, n)
    _sink(str(tmp_path / "hole"), first, must, drop=(2, "ulaw"))
    assert not w_clips.check_windows(str(tmp_path / "hole"), first, n)
    # too little event time to close any window: nothing can be checked
    assert not w_clips.check_windows(str(tmp_path / "full"), first, gen.CLIPS_PER_WINDOW)


def test_clip_window_expect_matches_generator_rows():
    from jepl_spark.sources.clips import clip_row

    first = gen.clip_base(7)
    n = gen.CLIPS_PER_WINDOW + 37
    want = {}
    for i in range(first, first + n):
        r = clip_row(i, step_s=gen.CLIP_STEP_S)
        w = (i - first) // gen.CLIPS_PER_WINDOW
        cnt, dur = want.get((w, r["codec"]), (0, 0))
        want[(w, r["codec"])] = (cnt + 1, dur + r["dur_ms"])
    assert gen.clip_window_expect(first, n) == want


def test_twin_sql_renders_reference_semantics():
    spec = gen.RuleSpec("events", ("event_type",), [("count", "value"), ("avg", "props.k")],
                        ("and", [("in", "event_type", ["click"]), ("cmp", "value", ">", 5.0)]),
                        "in")
    assert spec.jepl() == ("select count(value) AS a0, avg(props.k) AS a1 from events "
                           "where (event_type IN ['click'] AND value > 5.0) group by event_type")
    sql = spec.twin_sql("x.parquet")
    assert "GROUP BY event_type" in sql and "WHERE" not in sql   # groups pre-WHERE
    assert "json_extract_string(props, '$.k')" in sql


def _event_log(path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.job.description": "rules#1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"streaming.sql.batchId": "4", "sql.streaming.queryId": "q"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
    ]
    for stage, read in ((1, 100), (1, 300), (1, 200), (2, 50), (2, 50)):
        events.append({
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Accumulables": [
                {"Name": "data sent to Python workers", "Update": 7},
                {"Name": "number of output rows", "Update": 3}]},
            "Task Metrics": {
                "Result Size": 10, "Memory Bytes Spilled": 1, "Disk Bytes Spilled": 2,
                "Input Metrics": {"Bytes Read": 5},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 11},
                "Shuffle Read Metrics": {"Remote Bytes Read": read, "Local Bytes Read": 0},
            }})
    with open(path, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def test_read_event_log(tmp_path):
    _event_log(tmp_path / "local-1")
    s = harness.read_event_log(str(tmp_path))
    assert set(s) == {"rules#1", "stream:q:4"}
    r = s["rules#1"]
    assert (r["jobs"], r["stages"], r["tasks"]) == (1, 2, 3)
    assert r["shuffle_read_bytes"] == 600 and r["shuffle_write_bytes"] == 33
    assert r["py_bytes_sent"] == 21 and r["spill_bytes"] == 9 and r["result_bytes"] == 30
    tot = harness.merge_labels(s, lambda lab: lab.startswith("rules#"))
    assert tot["shuffle_skew"] == pytest.approx(300 / 200)
    assert harness.merge_labels(s, lambda lab: lab.startswith("stream:"))["tasks"] == 2


def test_read_event_log_rolling_dir(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    _event_log(d / "events_1_local-1")
    assert set(harness.read_event_log(str(tmp_path))) == {"rules#1", "stream:q:4"}


def test_tracer_parents_and_disabled():
    t = harness.Tracer(True)
    with t.span("outer", 1):
        with t.span("inner", 1):
            pass
    assert [s["parent"] for s in t.spans] == [None, 0]
    assert t.durations("inner")[0] <= t.durations("outer")[0]
    off = harness.Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_percentile():
    assert harness.percentile([1, 2, 3, 4, 5], 50) == 3
    assert harness.percentile(list(range(11)), 90) == pytest.approx(9.0)


def test_benchmark_json_matches_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    assert {w["name"] for w in b["workloads"]} <= set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.PER_LAYER
