"""Plan audit: dump the formatted physical plan of every batch gate
query so pushdown / shuffle / codegen properties can be reviewed.

Usage: PYTHONPATH=. python tools/explain_all.py [sf_dir] [name-filter]

Checks printed per query:
- scan ReadSchema width (column pruning)
- PushedFilters non-empty when the rule has an OR-free predicate
- number of Exchange (shuffle) nodes
- presence of WholeStageCodegen
- any row-at-a-time Python (BatchEvalPython) — should NEVER appear
  (ArrowEvalPython, MapInPandas and MapInArrow are the vectorized
  Python paths)
- plan_chars: the length of the optimized logical plan string, where
  an expression re-inlined many times into one projection shows up
- plan_sha: the first 12 hex digits of the SHA-1 of the optimized
  logical plan with the session's counters stripped: expression ids
  (#12, #12L), lambda-variable suffixes (lambda x_3) and plan ids
  (plan_id=9902); equal across two trees means the change left the
  plan alone
"""

from __future__ import annotations

import hashlib
import re
import sys


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    name_filter = sys.argv[2] if len(sys.argv) > 2 else ""
    sys.path.insert(0, ".")
    import __spark_entry__ as entrymod

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # live streaming queries cannot be planned-without-running here
    skip = {
        "stream_windowed_rule",
        "stream_join_windowed",
        "stream_session_rule",
        "stream_stateful_rule",
        "stream_dedup_rule",
        "stream_manifest_sink_rule",
        "stream_chunked_clips",
        "stream_rollup_cascade",
        "stream_cms_windowed",
    }
    # these gate fns materialize eagerly (checkpointed result would
    # audit as a trivial ExistingRDD scan) — rebuild their LAZY plans
    # via the operators' materialize=False escape hatch instead
    from pyspark.sql import functions as F

    from jepl_spark.operators import dedup as D
    from jepl_spark.sources.tables import load_table

    def _lazy_minhash(spark_, sf):
        return D.minhash_candidates(
            load_table(spark_, sf, "documents"), bands=16, num_hashes=64,
            materialize=False,
        ).filter(F.col("est_jaccard") >= 0.5)

    def _lazy_ngram(spark_, sf):
        return D.ngram_jaccard_pairs(
            load_table(spark_, sf, "documents"), shingle_n=3,
            min_jaccard=0.2, materialize=False,
        )

    from jepl_spark.operators import similarity as S

    def _lazy_embedding_near_dups(spark_, sf):
        return S.embedding_near_dups(
            load_table(spark_, sf, "embeddings"), threshold=0.3, planes=4,
            tables=2, seed=42, materialize=False,
        )

    def _lazy_hamming(spark_, sf):
        docs = load_table(spark_, sf, "documents")
        # the SAME surrogate expression the gate runs (shared function)
        return D.simhash_hamming_near_dups(
            docs, max_hamming=3, bands=4,
            sig=entrymod.hamming_surrogate_sig(), materialize=False,
        )

    lazy_overrides = {
        "minhash_near_dups": _lazy_minhash,
        "ngram_jaccard_pairs": _lazy_ngram,
        "embedding_near_dups": _lazy_embedding_near_dups,
        "simhash_hamming_near_dups": _lazy_hamming,
    }
    bad = 0
    for name, fn in entrymod.queries().items():
        if name in skip or (name_filter and name_filter not in name):
            continue
        fn = lazy_overrides.get(name, fn)
        try:
            df = fn(spark, sf_dir)
            mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
            qe = df._jdf.queryExecution()
            plan = qe.explainString(mode)
            optimized = qe.optimizedPlan().toString()
        except Exception as e:
            print(f"== {name}: ERROR {e}")
            bad += 1
            continue
        n_exchanges = plan.count("Exchange")
        n_wsc = len(set(re.findall(r"codegen id : (\d+)", plan))) or len(re.findall(r"WholeStageCodegen", plan))
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        batch_eval = "BatchEvalPython" in plan
        arrow_eval = any(node in plan for node in
                         ("ArrowEvalPython", "MapInPandas", "MapInArrow"))
        print(
            f"== {name}: exchanges={n_exchanges} codegen_spans={n_wsc} "
            f"pushed={[p for p in pushed if p][:2]} "
            f"python={'ARROW' if arrow_eval else ('ROW!!' if batch_eval else 'none')} "
            f"plan_chars={len(optimized)} plan_sha={_plan_sha(optimized)}"
        )
        if batch_eval:
            print(f"   !! row-at-a-time Python detected in {name}")
            bad += 1
    return 1 if bad else 0


def _plan_sha(plan: str) -> str:
    plan = re.sub(r"#\d+L?|(?<=lambda \w)_\d+|(?<=plan_id=)\d+", "", plan)
    return hashlib.sha1(plan.encode()).hexdigest()[:12]


if __name__ == "__main__":
    raise SystemExit(main())
