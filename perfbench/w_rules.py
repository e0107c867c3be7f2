"""rules_batch: a seeded JEPL rule set evaluated over successive slices.

One request is one (rule, slice) evaluation, from parse to rows
collected, the way the reference's ``EvalSQL(sql, docs)`` runs each
batch.  Slices are event day-slices (small, so per-rule overhead
dominates) and, for a few rules, 100k-row lineitem parts (large scans).
Each slice is evaluated by every rule, so each rule text repeats once
per slice.  Closed loop, one client.
"""

from __future__ import annotations

import math
import os
import time
import traceback

from . import gen, harness

N_EVENT_SLICES = 12
N_LINEITEM_SLICES = 2
#: rows of the lineitem part the set-up warm-up runs on; the shape of a
#: rule's plan, not the data size, is what needs warming
WARMUP_LINEITEM_ROWS = 2000


class _Inputs:
    def __init__(self, events: list[str], lineitem: list[str]) -> None:
        self.events = events
        self.lineitem = lineitem

    def slice_paths(self, s: int) -> dict:
        return {"events": self.events[s % len(self.events)],
                "lineitem": self.lineitem[s % len(self.lineitem)]}


def _evaluate(ctx, rule: gen.RuleSpec, paths: dict, req: int):
    """One request through each layer's public entry point."""
    from jepl_spark.compiler.select import compile_select
    from jepl_spark.engine import JeplEngine
    from jepl_spark.lang.parser import parse_statement

    tr = ctx.tracer
    with tr.span("request", req):
        with tr.span("lang.parse", req):
            stmt = parse_statement(rule.jepl())
        eng = JeplEngine(ctx.spark, paths)
        with tr.span("engine.resolve", req):
            df = eng.table(stmt.sources[0].database)
        with tr.span("compiler.compile", req):
            out = compile_select(stmt, df)
        ctx.label(f"rules#{req}")
        with tr.span("engine.exec", req):
            rows = out.collect()
    return rows


def _rows_key(rows, n_dims: int) -> dict:
    out = {}
    for r in rows:
        vals = tuple(r)
        key = tuple(float(v) if isinstance(v, (int, float)) else v
                    for v in vals[:n_dims])
        out[key] = tuple(float(v) for v in vals[n_dims:])
    return out


def _close(a: float, b: float) -> bool:
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))


def check(rule: gen.RuleSpec, path: str, rows, con) -> bool:
    """Compare engine rows with the rule's DuckDB twin."""
    n = len(rule.dims)
    got = _rows_key(rows, n)
    want = _rows_key(con.sql(rule.twin_sql(path)).fetchall(), n)
    if got.keys() != want.keys():
        return False
    return all(len(got[k]) == len(want[k])
               and all(_close(x, y) for x, y in zip(got[k], want[k]))
               for k in want)


def _measure(ctx, rules, inputs: _Inputs, budget_s: float, first_req: int):
    """Closed loop over rounds (one slice, every rule) until the budget
    is spent.  Rounds always complete, so every run measures the same
    mix of rules."""
    done = []
    req = first_req
    t_end = time.perf_counter() + budget_s
    s = 1   # slice 0 is the warm-up slice
    while time.perf_counter() < t_end:
        for rule in rules:
            paths = inputs.slice_paths(s)
            t0 = time.perf_counter()
            try:
                rows = _evaluate(ctx, rule, paths, req)
                err = None
            except Exception as e:  # counted as a failed request
                traceback.print_exc()
                rows, err = None, repr(e)
            done.append((rule, paths[rule.table], rows, time.perf_counter() - t0, err))
            req += 1
        s += 1
    return done, req


def run(ctx) -> dict:
    import duckdb

    rules = gen.make_rules(ctx.seed)
    gdir = os.path.join(ctx.work, "gen")
    ev = gen.write_event_slices(ctx.seed, os.path.join(gdir, "events"), N_EVENT_SLICES)
    li = gen.write_lineitem_slices(ctx.seed, os.path.join(gdir, "lineitem"), N_LINEITEM_SLICES)
    li_warm = gen.write_lineitem_slices(ctx.seed, os.path.join(gdir, "lineitem-warm"), 1,
                                        rows=WARMUP_LINEITEM_ROWS)

    def setup(c: int) -> _Inputs:
        ctx.restart()
        d = os.path.join(ctx.work, f"in{c}")
        inputs = _Inputs(harness.stage(ev, d + "-events"),
                         harness.stage(li, d + "-lineitem"))
        warm = {"events": inputs.events[0],
                "lineitem": harness.stage(li_warm, d + "-lineitem-warm")[0]}
        # every rule once: a rule's first run in the JVM is about a third
        # slower, which with two or three measured rounds would weigh a
        # third to a half of the samples (slice 0 is not measured)
        for rule in rules:
            _evaluate(ctx, rule, warm, -1)
        return inputs

    inputs = ctx.setup_cycles(setup)
    con = duckdb.connect()
    res = {"layer": {}, "aliases": {}}
    if ctx.trace:
        base, req = _measure(ctx, rules, inputs, ctx.seconds / 2, 0)
        ctx.restart(event_log=True)
        ctx.tracer.enabled = True
        done, _ = _measure(ctx, rules, inputs, ctx.seconds / 2, req)
        ctx.tracer.enabled = False
        ev_sum = ctx.close_event_log()
        res["layer"] = _layers(ctx, done, ev_sum)
        res["layer"]["trace.overhead_pct"] = ctx.overhead_pct(
            [d[3] for d in base], [d[3] for d in done])
        done = base + done
    else:
        done, _ = _measure(ctx, rules, inputs, ctx.seconds, 0)

    failed = 0
    for rule, path, rows, _lat, err in done:
        if err is not None or not check(rule, path, rows, con):
            failed += 1
    lat = [d[3] for d in done]
    res.update(
        attempted=len(done), failed=failed,
        throughput=len(done) / sum(lat),
        lat_p50=harness.percentile(lat, 50), lat_p90=harness.percentile(lat, 90),
        samples=len(lat),
    )
    res["aliases"] = {"rules_per_s": res["throughput"],
                      "rule_latency_p50_s": res["lat_p50"],
                      "rule_latency_p90_s": res["lat_p90"],
                      "round_mean_latency_s": [
                          sum(lat[i:i + len(rules)]) / len(rules)
                          for i in range(0, len(lat), len(rules))]}
    return res


def _layers(ctx, done, ev_sum) -> dict:
    tr = ctx.tracer
    n = max(1, len(done))
    tot = harness.merge_labels(ev_sum, lambda lab: lab.startswith("rules#"))
    return {
        "lang.parse_ms": 1e3 * harness.median(tr.durations("lang.parse")),
        "compiler.compile_ms": 1e3 * harness.median(tr.durations("compiler.compile")),
        "engine.resolve_ms": 1e3 * harness.median(tr.durations("engine.resolve")),
        "engine.exec_ms": 1e3 * harness.median(tr.durations("engine.exec")),
        "engine.jobs_per_rule": tot["jobs"] / n,
        "engine.tasks_per_rule": tot["tasks"] / n,
        "engine.scan_bytes_per_rule": tot["input_bytes"] / n,
        "engine.shuffle_bytes_per_rule": tot["shuffle_write_bytes"] / n,
    }
