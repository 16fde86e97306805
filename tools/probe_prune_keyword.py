"""Keyword-leg-isolated MaxScore payoff: BM25 batch50 over the scaled
code corpora, exhaustive vs pruned, warm-disciplined (3 runs each).

The full code_search batch50 wall mixes the funnel leg, fusion, and
ranking with the keyword leg; this probe times ONLY
``BM25Index.search`` — the surface the prune changes — so the scaling
row states the keyword top-k growth cleanly.

Usage: python tools/probe_prune_keyword.py 5:/path/to/index 20:/path...
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

    from next_plaid_spark.operators.bm25 import BM25Index
    from next_plaid_spark.session import get_spark

    spark = get_spark("probe-prune-keyword")
    spark.sparkContext.setLogLevel("ERROR")

    base = spark.read.parquet(os.path.join(BASE, "documents.parquet"))
    n_base = base.count()

    def force(df):
        try:
            df.write.format("noop").mode("overwrite").save()
        except Exception:
            df.count()

    for rep_s, path in specs:
        replicas = int(rep_s)
        bm = BM25Index.load(spark, os.path.join(path, "bm25"))

        reps = spark.range(replicas).select(F.col("id").alias("rep"))
        docs = (
            base.crossJoin(F.broadcast(reps))
            .select(
                (F.col("doc_id") + F.col("rep") * n_base).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" rep"),
                         F.col("rep").cast("string")).alias("text"),
            )
        )
        queries = docs.filter(F.col("doc_id") < 50).select(
            F.col("doc_id").alias("query_id"),
            F.substring("text", 1, 64).alias("text")).cache()
        queries.count()

        out = {"scale": f"{replicas}x", "n_docs": bm.n_docs}
        for mode, flag in (("exhaustive", False), ("pruned", True)):
            walls = []
            for _ in range(3):
                t0 = time.time()
                force(bm.search(queries, k=50, prune=flag))
                walls.append(round(time.time() - t0, 2))
            out[mode] = walls
        lp = getattr(bm, "_last_prune", None)
        if lp and lp.get("engaged"):
            out["candidates"] = lp.get("candidates")
            out["essential_frac"] = round(
                sum(lp["essential_terms"].values())
                / max(sum(lp["total_terms"].values()), 1), 3)
        # parity at this scale
        cols = ["query_id", "doc_id", "score", "rank"]
        a = sorted(map(tuple,
                       bm.search(queries, k=50, prune=False)
                       .select(*cols).collect()))
        b = sorted(map(tuple,
                       bm.search(queries, k=50, prune=True)
                       .select(*cols).collect()))
        out["parity"] = "PASS" if a == b else "FAIL"
        queries.unpersist()
        print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
