"""clips_stream: the north-rule pipeline (Arrow decode UDF → watermarked
stream-stream join → windowed JEPL rule → IdempotentParquetSink), the
``clips_stream_run`` shape, driven in two phases from one session:

- backfill: a staged backlog of clip and transcript files drained with
  ``availableNow`` three times, each drain with a fresh checkpoint and
  sink (closed loop, one client).  Large batches: decode and join state
  dominate.  Reported as clips/s of the warm drains.
- live: an open loop.  A publisher thread renames staged files into the
  source directories at a fixed rate (80 clips/s, about half the warm
  backfill rate) and stamps each file's publish time; the query runs on
  the default processing-time trigger.  Small batches: per-batch fixed cost
  dominates.  Reported as per-file commit latency: publish time to the
  sink commit of the first batch that consumed the file (from the
  checkpoint's source logs and the sink's commit markers), which
  includes queue wait and excludes window length.

Files are written to a staging directory first and published by
rename, so Spark never sees a partial file.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
import traceback

import numpy as np

from . import gen, harness

N_BACKFILL = 800
BACKFILL_PER_FILE = 100
#: warm-up drain before the local[1] drain: one small file per core
WARMUP_FILES = 4
WARMUP_PER_FILE = 25
#: backfill drains per run.  The first streaming query of a SparkContext
#: starts the Python workers and the state stores and runs at less than
#: half the warm rate, so the first drain is left out of clips/s, which
#: is the median over the others.
BACKFILL_DRAINS = 3
LIVE_PER_FILE = 20
LIVE_FILES_PER_S = 4.0          # 80 clips/s
WATERMARK = "2 seconds"
MAX_DELAY = "2 seconds"
RULE = ("select count(clip_id) AS n_clips, sum(dur_ms) AS sdur, "
        "avg(rms) AS avg_rms from joined where rms > 0 group by codec")
#: a window must be emitted once the newest event is this far past its
#: end: audio watermark + join delay + transcript delay + 1 s of slack
_CLOSE_SLACK_S = 2 + 2 + gen.TRANSCRIPT_DELAY_S + 1


def _schemas():
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType, TimestampType)

    from jepl_spark.sources.clips import CLIP_SCHEMA

    trans = StructType([
        StructField("clip_id", StringType(), False),
        StructField("transcript", StringType(), False),
        StructField("event_time", TimestampType(), False),
        StructField("seq", LongType(), False),
    ])
    return CLIP_SCHEMA, trans


class _Sink:
    """IdempotentParquetSink plus the sink-layer counters the traced
    run reports: callback time, commits and no-op replays."""

    def __init__(self, root: str, tracer) -> None:
        from jepl_spark.streaming.sink import IdempotentParquetSink

        self.sink = IdempotentParquetSink(root)
        self.root = root
        self.tracer = tracer
        self.replays = 0
        self.write_s: list[float] = []

    def callback(self):
        if not self.tracer.enabled:
            return self.sink.foreach_batch()

        def write(df, batch_id):
            replay = self.sink.is_committed(batch_id, df.sparkSession)
            t0 = time.perf_counter()
            with self.tracer.span("sink.write_batch", batch_id):
                self.sink.write_batch(df, batch_id)
            self.write_s.append(time.perf_counter() - t0)
            self.replays += int(replay)
        return write


def _start(ctx, src: str, sink: _Sink, ckpt: str, available_now: bool, name: str):
    from pyspark.sql import functions as F

    from jepl_spark.functions.audio_udfs import with_audio_features
    from jepl_spark.streaming.engine import file_stream
    from jepl_spark.streaming.join import audio_transcript_join
    from jepl_spark.streaming.windows import windowed_select

    schema_a, schema_t = _schemas()
    a = file_stream(ctx.spark, os.path.join(src, "audio"), schema_a)
    t = file_stream(ctx.spark, os.path.join(src, "trans"), schema_t).drop("seq")
    slim = with_audio_features(a).select(
        "clip_id", "codec", "dur_ms", "event_time", F.col("af.rms").alias("rms"))
    joined = audio_transcript_join(
        slim, t, audio_watermark=WATERMARK, transcript_watermark=WATERMARK,
        max_delay=MAX_DELAY)
    result = windowed_select(RULE, joined, ts_col="event_time",
                             duration=f"{gen.WINDOW_S} seconds", watermark=None)
    w = (result.writeStream.outputMode("append").queryName(name)
         .option("checkpointLocation", ckpt).foreachBatch(sink.callback()))
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


# -- output checks -----------------------------------------------------------------

def committed_rows(sink_root: str) -> dict:
    """{batch id: rows} of every committed batch, read with pyarrow."""
    import pyarrow.parquet as pq

    cdir = os.path.join(sink_root, "_commits")
    out = {}
    if not os.path.isdir(cdir):
        return out
    for name in os.listdir(cdir):
        if name.isdigit():
            d = os.path.join(sink_root, "data", f"batch={name}")
            out[int(name)] = pq.read_table(d).to_pylist() if os.path.isdir(d) else []
    return out


def commit_times(sink_root: str) -> dict:
    cdir = os.path.join(sink_root, "_commits")
    out = {}
    for name in os.listdir(cdir):
        if name.isdigit():
            with open(os.path.join(cdir, name)) as f:
                out[int(name)] = json.load(f)["ts"]
    return out


def check_windows(sink_root: str, first: int, n: int) -> bool:
    """Committed rows equal the closed-form per-(window, codec) counts
    and duration sums; each (window, codec) is emitted once; only
    complete windows are emitted, and every window the watermark must
    have closed is emitted.  Input that cannot close a window fails the
    check: it would pass with nothing committed."""
    import datetime as dt

    from jepl_spark.sources.clips import BASE_TS

    t0 = BASE_TS.to_pydatetime() + dt.timedelta(seconds=first * gen.CLIP_STEP_S)
    expect = gen.clip_window_expect(first, n)
    seen = {}
    for rows in committed_rows(sink_root).values():
        for r in rows:
            w = int(round((r["window_start"] - t0).total_seconds() / gen.WINDOW_S))
            key = (w, r["codec"])
            if key in seen:
                return False
            seen[key] = (int(round(r["n_clips"])), int(round(r["sdur"])))
    if any(expect.get(k) != v for k, v in seen.items()):
        return False
    emitted = {w for w, _ in seen}
    if any((w, c) not in seen for (w, c) in expect if w in emitted):
        return False
    t_last = (n - 1) * gen.CLIP_STEP_S
    must = int(math.floor((t_last - _CLOSE_SLACK_S) / gen.WINDOW_S))
    return must >= 1 and all(w in emitted for w in range(must))


def source_batches(ckpt: str) -> dict:
    """{file name: first batch id that consumed it in every source},
    from the file-source metadata logs in the checkpoint."""
    per_source = []
    sdir = os.path.join(ckpt, "sources")
    for src in sorted(os.listdir(sdir)):
        m = {}
        for entry in os.listdir(os.path.join(sdir, src)):
            if entry.startswith("."):
                continue
            with open(os.path.join(sdir, src, entry)) as f:
                for line in f:
                    line = line.strip()
                    if not line.startswith("{"):
                        continue
                    e = json.loads(line)
                    name = os.path.basename(e["path"])
                    m[name] = min(m.get(name, e["batchId"]), e["batchId"])
        per_source.append(m)
    names = set.intersection(*(set(m) for m in per_source)) if per_source else set()
    return {nm: max(m[nm] for m in per_source) for nm in names}


# -- phases ----------------------------------------------------------------------------

class _Run:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.n = 0

    def path(self, kind: str) -> str:
        self.n += 1
        return os.path.join(self.ctx.work, f"{kind}{self.n}")


def drain(ctx, runs: _Run, src: str, name: str):
    """One availableNow drain with a fresh checkpoint and sink; returns
    (wall seconds, sink root, query id, progress list)."""
    sink = _Sink(runs.path("sink"), ctx.tracer)
    t0 = time.perf_counter()
    with ctx.tracer.span(name):
        q = _start(ctx, src, sink, runs.path("ckpt"), True, name)
        q.awaitTermination(120)
        if q.isActive:
            q.stop()
            raise TimeoutError("backfill drain did not finish")
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
    return time.perf_counter() - t0, sink.root, str(q.id), list(q.recentProgress)


def _wait_polling(q, timeout_s: float = 30) -> None:
    """Wait until a query on empty sources is up and polling them."""
    deadline = time.time() + timeout_s
    while (q.status["message"] != "Waiting for data to arrive"
           and time.time() < deadline and q.exception() is None):
        time.sleep(0.05)


def bring_up(ctx, runs: _Run) -> None:
    """Start the pipeline on empty source directories, wait until it
    polls them, stop it: the query's own set-up cost."""
    src = runs.path("empty")
    for side in ("audio", "trans"):
        os.makedirs(os.path.join(src, side))
    q = _start(ctx, src, _Sink(runs.path("sink"), ctx.tracer), runs.path("ckpt"),
               False, "bring_up")
    _wait_polling(q)
    q.stop()


def backfill_phase(ctx, runs: _Run, src: str, first: int, drains: int) -> dict:
    """``drains`` drains of the whole backlog."""
    out = {"walls": [], "ok": 0, "failed": 0, "qids": [], "progress": []}
    for _ in range(drains):
        try:
            wall, root, qid, prog = drain(ctx, runs, src, "backfill")
        except Exception:  # counted as a failed drain
            traceback.print_exc()
            out["failed"] += 1
            continue
        out["walls"].append(wall)
        out["ok"] += check_windows(root, first, N_BACKFILL)
        out["qids"].append(qid)
        out["progress"].extend(prog)
    return out


class _Publisher(threading.Thread):
    """Open-loop load generator: renames file pairs from the staging
    directory into the live source directories on a fixed schedule."""

    def __init__(self, stage: str, live: str, names: list[str], rate: float) -> None:
        super().__init__(daemon=True)
        self.stage, self.live, self.names, self.rate = stage, live, names, rate
        self.published: dict[str, float] = {}
        self.late_s: list[float] = []
        self.error = None

    def run(self) -> None:
        try:
            t0 = time.time()
            for j, name in enumerate(self.names):
                due = t0 + j / self.rate
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                for side in ("audio", "trans"):
                    os.rename(os.path.join(self.stage, side, name),
                              os.path.join(self.live, side, name))
                now = time.time()
                self.published[name] = now
                self.late_s.append(now - due)
        except Exception as e:  # reported as failed publishes
            self.error = repr(e)


def live_phase(ctx, runs: _Run, stage: str, names: list[str], first: int) -> dict:
    live = runs.path("live")
    for side in ("audio", "trans"):
        os.makedirs(os.path.join(live, side))
    sink = _Sink(runs.path("sink"), ctx.tracer)
    ckpt = runs.path("ckpt")
    q = _start(ctx, live, sink, ckpt, False, "live")
    _wait_polling(q)   # publish only once the query polls its sources
    pub = _Publisher(stage, live, names, LIVE_FILES_PER_S)
    backlog_max = 0
    rows_per_file = 2 * LIVE_PER_FILE
    with ctx.tracer.span("live"):
        pub.start()
        consumed = 0
        deadline = None
        while True:
            prog = q.recentProgress
            consumed = sum(p["numInputRows"] for p in prog) // rows_per_file
            backlog_max = max(backlog_max, len(pub.published) - consumed)
            if not pub.is_alive():
                deadline = deadline or time.time() + 30
                if consumed >= len(pub.published) or time.time() > deadline:
                    break
            if q.exception() is not None:
                break
            time.sleep(0.05)
        pub.join(timeout=30)
    # let the last data batch commit, then the no-data batch that
    # advances the watermark and closes windows
    q.processAllAvailable()
    deadline = time.time() + 10
    while time.time() < deadline and q.exception() is None:
        last = q.lastProgress
        if last is not None and last["numInputRows"] == 0:
            break
        time.sleep(0.05)
    progress = list(q.recentProgress)
    qid = str(q.id)
    q.stop()
    batches = source_batches(ckpt)
    commits = commit_times(sink.root)
    lat = [commits[batches[nm]] - t for nm, t in pub.published.items()
           if nm in batches and batches[nm] in commits]
    n_pub = len(pub.published)
    ok = pub.error is None and len(lat) == n_pub and check_windows(
        sink.root, first, n_pub * LIVE_PER_FILE)
    return {"lat": lat, "n_files": n_pub, "ok": ok,
            "late_ms_max": 1e3 * max(pub.late_s, default=0.0), "backlog_max": backlog_max, "progress": progress, "qid": qid,
            "sink": sink}


def _stage_files(gdir: str, dst: str, names: list[str]) -> str:
    """Publish the named file pairs under ``gdir`` as a source directory
    ``dst`` (``audio/`` and ``trans/``, each staged then renamed)."""
    os.makedirs(dst)
    for side in ("audio", "trans"):
        harness.stage([os.path.join(gdir, side, nm) for nm in names],
                      os.path.join(dst, side))
    return dst


def run(ctx) -> dict:
    base = gen.clip_base(ctx.seed)
    gdir = os.path.join(ctx.work, "gen")
    backlog = gen.write_clip_files(base, N_BACKFILL, BACKFILL_PER_FILE,
                                   os.path.join(gdir, "bf", "audio"),
                                   os.path.join(gdir, "bf", "trans"))
    # the run length is the live phase's publishing time; a traced run
    # splits it between an untraced and a traced phase
    phases = ["a", "b"] if ctx.trace else ["a"]
    budget = ctx.seconds / len(phases)
    n_live = int(math.ceil(budget * LIVE_FILES_PER_S))
    live_first = {}
    live_names = {}
    for k, ph in enumerate(phases):
        live_first[ph] = base + gen.CLIPS_PER_WINDOW * 100 * (k + 1)
        live_names[ph] = gen.write_clip_files(
            live_first[ph], n_live * LIVE_PER_FILE, LIVE_PER_FILE,
            os.path.join(gdir, f"live_{ph}", "audio"),
            os.path.join(gdir, f"live_{ph}", "trans"))
    wdir = os.path.join(gdir, "warm")
    warm = gen.write_clip_files(
        base + gen.CLIPS_PER_WINDOW * 100 * 3, WARMUP_FILES * WARMUP_PER_FILE,
        WARMUP_PER_FILE, os.path.join(wdir, "audio"), os.path.join(wdir, "trans")
    ) if ctx.trace else []
    runs = _Run(ctx)

    def setup(c: int) -> str:
        ctx.restart(audio_heavy=True)
        src = _stage_files(os.path.join(gdir, "bf"), os.path.join(ctx.work, f"bf{c}"), backlog)
        bring_up(ctx, runs)
        return src

    src = ctx.setup_cycles(setup)
    out = {}
    for ph in phases:
        if ph == "b":
            ctx.restart(event_log=True, audio_heavy=True)
            ctx.tracer.enabled = True
        # the traced phase's layer metrics cover one cold and one warm drain
        bf = backfill_phase(ctx, runs, src, base, 2 if ph == "b" else BACKFILL_DRAINS)
        lv = live_phase(ctx, runs, os.path.join(gdir, f"live_{ph}"), live_names[ph],
                        live_first[ph])
        out[ph] = (bf, lv)
    ctx.tracer.enabled = False

    bf, lv = out["a"]
    res = {"layer": {}}
    if ctx.trace:
        ev_sum = ctx.close_event_log()
        res["layer"] = _layers(ctx, out["b"], ev_sum, gdir, backlog)
        res["layer"]["trace.overhead_pct"] = ctx.overhead_pct(out["a"][1]["lat"],
                                                              out["b"][1]["lat"])
        res["layer"]["scale.speedup_1_to_4"] = _speedup(ctx, runs, src, bf, wdir, warm)
    attempted = failed = 0
    for bf_, lv_ in out.values():
        attempted += len(bf_["walls"]) + bf_["failed"] + lv_["n_files"]
        failed += (len(bf_["walls"]) - bf_["ok"]) + bf_["failed"]
        failed += 0 if lv_["ok"] else lv_["n_files"]
    lat = lv["lat"] or [float("nan")]
    rates = [N_BACKFILL / w for w in bf["walls"]]
    warm_rates = rates[1:] or rates
    res.update(
        attempted=attempted, failed=failed,
        throughput=harness.median(warm_rates),
        lat_p50=harness.percentile(lat, 50), lat_p90=harness.percentile(lat, 90),
        samples=len(lv["lat"]),
    )
    res["aliases"] = {"clips_per_s": res["throughput"],
                      "commit_latency_p50_s": res["lat_p50"],
                      "commit_latency_p90_s": res["lat_p90"],
                      "drain_clips_per_s": rates,
                      "live_files": lv["n_files"],
                      "live_batches": len(lv["progress"]),
                      "live_trigger_ms_p50": harness.median(
                          [p["durationMs"].get("triggerExecution", 0) for p in lv["progress"]])}
    return res


def _speedup(ctx, runs: _Run, src: str, bf4: dict, wdir: str, warm: list[str]) -> float:
    """clips/s at local[4] (untraced backfill phase) over clips/s at
    local[1] on the identical backlog."""
    ctx.restart(cores=1, audio_heavy=True)
    # the first streaming query of a SparkContext runs cold: drain the
    # small warm-up files first
    drain(ctx, runs, _stage_files(wdir, runs.path("warm"), warm), "warmup")
    wall1, root, _, _ = drain(ctx, runs, src, "backfill_local1")
    if not check_windows(root, gen.clip_base(ctx.seed), N_BACKFILL):
        raise RuntimeError("local[1] backfill output mismatch")
    rate4 = harness.median([N_BACKFILL / w for w in bf4["walls"][1:]])
    return rate4 / (N_BACKFILL / wall1)


def _state_ops(progress: list, kind: str) -> list[dict]:
    out = []
    for p in progress:
        for so in p.get("stateOperators") or []:
            if kind in so.get("operatorName", ""):
                out.append(so)
    return out


def _layers(ctx, phase_b, ev_sum: dict, gdir: str, backlog: list[str]) -> dict:
    bf, lv = phase_b
    prog = lv["progress"]
    dur = lambda k: harness.median([p["durationMs"].get(k, 0) for p in prog])  # noqa: E731
    join = _state_ops(prog, "Join")
    agg = [so for so in _state_ops(prog, "") if "Join" not in so.get("operatorName", "")]
    med = lambda xs, k: harness.median([x.get(k, 0) for x in xs])  # noqa: E731
    live_tot = harness.merge_labels(ev_sum, lambda lab: lab.startswith(f"stream:{lv['qid']}:"))
    bf_tot = harness.merge_labels(
        ev_sum, lambda lab: any(lab.startswith(f"stream:{q}:") for q in bf["qids"]))
    n_bf = max(1, len(bf["walls"]))
    n_live_batches = max(1, len(prog))
    bf_data = [p for p in bf["progress"] if p.get("numInputRows", 0) > 0]
    return {
        "streaming.batches": float(len(prog)),
        "streaming.trigger_ms": dur("triggerExecution"),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.query_planning_ms": dur("queryPlanning"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.commit_offsets_ms": dur("commitOffsets"),
        "streaming.latest_offset_ms": dur("latestOffset"),
        "streaming.backfill.add_batch_ms": harness.median(
            [p["durationMs"].get("addBatch", 0) for p in bf_data]),
        "streaming.join.state_rows": med(join, "numRowsTotal"),
        "streaming.join.state_bytes": med(join, "memoryUsedBytes"),
        "streaming.join.commit_ms": med(join, "commitTimeMs"),
        "streaming.join.update_ms": med(join, "allUpdatesTimeMs"),
        "streaming.agg.state_rows": med(agg, "numRowsTotal"),
        "streaming.agg.commit_ms": med(agg, "commitTimeMs"),
        "streaming.shuffle_bytes": live_tot["shuffle_write_bytes"] / n_live_batches,
        "streaming.shuffle_skew": live_tot["shuffle_skew"],
        "functions.decode_us_per_clip": _decode_us(gdir, backlog[0]),
        "functions.py_run_ms": bf_tot["py_run_ms"] / n_bf,
        "functions.py_init_ms": bf_tot["py_init_ms"] / n_bf,
        "functions.py_bytes_sent": bf_tot["py_bytes_sent"] / n_bf,
        "functions.py_bytes_returned": bf_tot["py_bytes_returned"] / n_bf,
        "sink.write_batch_ms": 1e3 * harness.median(lv["sink"].write_s),
        "sink.commits": float(len(commit_times(lv["sink"].root))),
        "sink.noop_replays": float(lv["sink"].replays),
        "loadgen.late_ms_max": lv["late_ms_max"],
        "loadgen.backlog_files_max": float(lv["backlog_max"]),
    }


def _decode_us(gdir: str, name: str) -> float:
    """µs per clip of a direct call to the ``audio_features`` pandas
    function on one staged file, outside Spark (median of 3 calls)."""
    import pyarrow.parquet as pq

    from jepl_spark.functions.audio_udfs import audio_features

    pdf = pq.read_table(os.path.join(gdir, "bf", "audio", name),
                        columns=["bytes", "codec"]).to_pandas()
    fn = audio_features.func
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        fn(pdf["bytes"], pdf["codec"])
        times.append(time.perf_counter() - t0)
    return 1e6 * float(np.median(times)) / len(pdf)
