"""Measure the MaxScore prune's batch50 payoff on the scaled code indexes.

VERDICT r11 item 6's "done" criterion: batch50 keyword-leg growth < x1.5
for corpus x4 with the prune on (vs the x2.0 exhaustive growth SCALING
recorded). Reuses CodeIndex artifacts already built by tools/
probe_5x_build.py (pass their paths + replica counts); every saved BM25
store carries the ``max_sat`` bound the prune needs.

Usage:
  python tools/probe_prune_scale.py 5:/tmp/probe5x_bX/index 20:/tmp/...
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BASE = "/root/testdata/sf0.1"


def main() -> None:
    specs = [a.split(":", 1) for a in sys.argv[1:]]
    assert specs, __doc__

    from pyspark.sql import functions as F

    from next_plaid_spark import queries as q
    from next_plaid_spark.operators.code_index import CodeIndex
    from next_plaid_spark.plans.searcher import SearchParams
    from next_plaid_spark.session import get_spark

    spark = get_spark("probe-prune-scale")
    spark.sparkContext.setLogLevel("ERROR")

    base = spark.read.parquet(os.path.join(BASE, "documents.parquet"))
    n_base = base.count()
    serving = SearchParams(n_ivf_probe=8, centroid_score_threshold=0.4,
                           n_full_scores=256, keep_best_cell=True)

    def force(df):
        try:
            df.write.format("noop").mode("overwrite").save()
        except Exception:
            df.count()

    for rep_s, path in specs:
        replicas = int(rep_s)
        with open(os.path.join(path, "meta.json")) as f:
            meta = json.load(f)

        ci = CodeIndex(spark, path, meta)

        reps = spark.range(replicas).select(F.col("id").alias("rep"))
        docs = (
            base.crossJoin(F.broadcast(reps))
            .select(
                (F.col("doc_id") + F.col("rep") * n_base).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" rep"),
                         F.col("rep").cast("string")).alias("text"),
            )
        )
        n_q = 50
        queries = docs.filter(F.col("doc_id") < n_q).select(
            F.col("doc_id").alias("query_id"),
            F.substring("text", 1, 64).alias("text"))

        out = {"scale": f"{replicas}x",
               "units": int(ci.plaid.meta.num_documents)}
        for mode, env in (("exhaustive", "0"), ("pruned", "1")):
            os.environ["SPARK_GRAFT_BM25_PRUNE"] = env
            walls = []
            for _ in range(3):
                t0 = time.time()
                force(ci.search_batch(queries, top_k=10, params=serving))
                walls.append(round(time.time() - t0, 2))
            out[mode] = walls
        os.environ.pop("SPARK_GRAFT_BM25_PRUNE", None)

        # parity spot-check at this scale: identical top-k either way
        a = ci.search_batch(queries, top_k=10, params=serving)
        os.environ["SPARK_GRAFT_BM25_PRUNE"] = "1"
        b = ci.search_batch(queries, top_k=10, params=serving)
        os.environ.pop("SPARK_GRAFT_BM25_PRUNE", None)
        cols = sorted(a.columns)
        ra = sorted(map(tuple, a.select(*cols).collect()))
        rb = sorted(map(tuple, b.select(*cols).collect()))
        out["parity"] = "PASS" if ra == rb else "FAIL"
        print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
