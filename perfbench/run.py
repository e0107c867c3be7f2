"""Benchmark entry point.

    python3 perfbench/run.py --workload rules_batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout (the directory holding ``jepl_spark/``).
Prints one JSON line last: ``{"correct", "attempted", "failed",
"metrics"}`` with the end-to-end metrics (``--trace 0``) or the
per-layer metrics (``--trace 1``).  The line before it carries the same
numbers under the workload-specific names (``rules_per_s``,
``clips_per_s``, ``commit_latency_p50_s``, ``docs_per_s``, ...).  Full
results, and in traced runs the span file, are written to
``.perfbench_out/``.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402

WORKLOADS = {
    "rules_batch": "w_rules",
    "clips_stream": "w_clips",
    "corpus_curate": "w_corpus",
}

END_TO_END = {
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "setup_s": "s",
    "mem_p95_mb": "MB",
}

PER_LAYER = {
    "lang.parse_ms": "ms",
    "compiler.compile_ms": "ms",
    "engine.resolve_ms": "ms",
    "engine.exec_ms": "ms",
    "engine.jobs_per_rule": "count",
    "engine.tasks_per_rule": "count",
    "engine.scan_bytes_per_rule": "bytes",
    "engine.shuffle_bytes_per_rule": "bytes",
    "streaming.batches": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.backfill.add_batch_ms": "ms",
    "streaming.join.state_rows": "count",
    "streaming.join.state_bytes": "bytes",
    "streaming.join.commit_ms": "ms",
    "streaming.join.update_ms": "ms",
    "streaming.agg.state_rows": "count",
    "streaming.agg.commit_ms": "ms",
    "streaming.shuffle_bytes": "bytes",
    "streaming.shuffle_skew": "ratio",
    "functions.decode_us_per_clip": "us",
    "functions.py_run_ms": "ms",
    "functions.py_init_ms": "ms",
    "functions.py_bytes_sent": "bytes",
    "functions.py_bytes_returned": "bytes",
    "sink.write_batch_ms": "ms",
    "sink.commits": "count",
    "sink.noop_replays": "count",
    "loadgen.late_ms_max": "ms",
    "loadgen.backlog_files_max": "count",
    "scale.speedup_1_to_4": "ratio",
    "sources.load_table_ms": "ms",
    **{k: u for st in gen.CORPUS_STAGES for k, u in (
        (f"operators.{st}_s", "s"),
        (f"operators.{st}.rows_out", "count"),
        (f"operators.{st}.shuffle_bytes", "bytes"),
        (f"operators.{st}.spill_bytes", "bytes"),
        (f"operators.{st}.python_bytes_sent", "bytes"),
        (f"operators.{st}.driver_result_bytes", "bytes"),
    )},
    "trace.overhead_pct": "%",
}


class Context:
    """What a workload needs from the harness: the seed and run length,
    the current SparkSession, the tracer and the set-up timer."""

    SETUP_CYCLES = 3

    def __init__(self, seed: int, seconds: float, trace: bool, work: str) -> None:
        from perfbench import harness

        self.h = harness
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.tracer = harness.Tracer(False)
        self.spark = None
        self.setup_times: list[float] = []
        self._event_logs = 0
        self._event_log = None

    def restart(self, cores: int = 4, event_log: bool = False,
                audio_heavy: bool = False) -> None:
        """Stop the current session (if any) and start a new one."""
        self.h.stop_session(self.spark)
        self.spark = None
        self._event_log = None
        if event_log:
            self._event_logs += 1
            self._event_log = os.path.join(self.work, f"eventlog{self._event_logs}")
        self.spark = self.h.start_session(self.work, cores, self._event_log, audio_heavy)

    def close_event_log(self) -> dict:
        """Stop the session, which finishes its event log, and reduce it."""
        self.h.stop_session(self.spark)
        self.spark = None
        return self.h.read_event_log(self._event_log)

    def label(self, desc: str) -> None:
        """Job description for the jobs that follow (traced runs only)."""
        if self.tracer.enabled:
            self.spark.sparkContext.setJobDescription(desc)

    def setup_cycles(self, setup):
        """Run ``setup(cycle)`` SETUP_CYCLES times; each cycle starts a
        new SparkContext (``restart``), stages the inputs and warms up.
        The JVM stays up between cycles, so only the first cycle pays
        its launch.  Returns the last cycle's result."""
        out = None
        for c in range(self.SETUP_CYCLES):
            t0 = time.perf_counter()
            out = setup(c)
            self.setup_times.append(time.perf_counter() - t0)
        return out

    @staticmethod
    def overhead_pct(untraced: list, traced: list) -> float:
        from perfbench.harness import median

        base = median(untraced)
        return 100.0 * (median(traced) - base) / base if base else 0.0


def _finite(x) -> float:
    x = float(x)
    return x if math.isfinite(x) else 0.0


def main(argv=None) -> int:
    t_start = time.perf_counter()
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "jepl_spark")):
        print(f"perfbench: no jepl_spark package next to perfbench/ in {ROOT}",
              file=sys.stderr)
        return 2
    from perfbench import harness

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(ROOT, ".perfbench_work", f"{run_id}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    try:
        harness.prepare_env(work)
        ctx = Context(args.seed, args.seconds, bool(args.trace), work)
        mod = importlib.import_module(f"perfbench.{WORKLOADS[args.workload]}")
        with harness.MemSampler() as mem:
            try:
                res = mod.run(ctx)
            finally:
                harness.stop_session(ctx.spark)
                harness.shutdown_jvm()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        layer = res["layer"]
        metrics = {k: {"value": _finite(layer.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
        ctx.tracer.write(os.path.join(out_dir, f"{run_id}.spans.jsonl"))
    else:
        e2e = {
            "throughput_per_s": res["throughput"],
            "latency_p50_s": res["lat_p50"],
            "latency_p90_s": res["lat_p90"],
            "setup_s": harness.median(ctx.setup_times),
            "mem_p95_mb": mem.p95_mb,
        }
        metrics = {k: {"value": _finite(e2e[k]), "unit": u}
                   for k, u in END_TO_END.items()}
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "aliases": res["aliases"], "latency_samples": res["samples"],
              "setup_cycles_s": ctx.setup_times,
              "run_wall_s": time.perf_counter() - t_start,
              "peak_mem_mb": mem.peak / (1 << 20),
              "peak_mem_parts_mb": {k: v / (1 << 20) for k, v in mem.peak_parts.items()}}
    result = {"correct": res["failed"] == 0, "attempted": int(res["attempted"]),
              "failed": int(res["failed"]), "metrics": metrics}
    with open(os.path.join(out_dir, f"{run_id}.json"), "w") as f:
        json.dump({**detail, **result}, f, indent=1)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
