"""MaxSim scoring — the core late-interaction relevance kernel.

Semantics (next-plaid/src/maxsim.rs:270-328, search.rs:82-90): for each query
token, take the max dot-product over all of a document's token vectors, then
sum over query tokens:

    score(Q, D) = Σ_{q ∈ Q} max_{d ∈ D} q·d

Implementations, all bit-identical under one float discipline (float64
dots folded sequentially over dim; per-token maxima folded in ascending
order from 0.0):

1. ``maxsim_scores_relational`` — pure DataFrame ops (cross join → groupBy
   max → sorted-fold sum). Oracle-checkable in ANSI SQL, and the reference
   the kernels and the IVF funnel are tested against (SURVEY.md §7 phase 1).

2. ``maxsim_scores_by_token`` — the relational form with dots computed once
   per distinct (query-token, doc-token) text pair; the explicit-pair
   rerank (operators/rerank.py) runs on it.

3. ``maxsim_brute_kernel`` (``brute_force_search``) — exact top-k as one
   doc-parallel ``mapInPandas`` kernel with the query batch broadcast: one
   corpus scan, no pair shuffle. The funnel's exact rerank stage
   (plans/searcher.py Q9) is the same kernel over survivor docs.

Scale note: the relational forms shuffle |q_tokens × candidate_doc_tokens|
rows; they are intended for *post-candidate-generation* scoring (thousands
of candidate docs per query), never the full corpus at 100 TB — that is what
the IVF funnel (plans/searcher.py) is for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from next_plaid_spark.functions.vector import dot


def maxsim_scores_relational(query_tokens: DataFrame, doc_tokens: DataFrame) -> DataFrame:
    """Exact MaxSim for every (query_id, doc_id) pair present in the inputs.

    Returns ``(query_id, doc_id, score DOUBLE)``.

    ``doc_tokens`` may be pre-restricted to candidates (semi-joined) — the
    funnel does exactly that; passing the full corpus gives the brute-force
    oracle.
    """
    qt = query_tokens.select(
        "query_id", F.col("token_idx").alias("q_token_idx"), F.col("vec").alias("q_vec")
    )
    dt = doc_tokens.select("doc_id", F.col("vec").alias("d_vec"))
    pairs = qt.crossJoin(dt).select(
        "query_id",
        "doc_id",
        "q_token_idx",
        dot(F.col("q_vec"), F.col("d_vec")).alias("dp"),
    )
    per_qtoken = pairs.groupBy("query_id", "doc_id", "q_token_idx").agg(
        F.max("dp").alias("max_dp")
    )
    # Deterministic float sum: max is exact under reordering, but the final
    # Σ over query tokens is not — fold the per-token maxima in sorted order
    # so the score is bit-identical across partitionings (and to the DuckDB
    # oracle, which does the same `list_reduce(list_sort(list(...)))`).
    return per_qtoken.groupBy("query_id", "doc_id").agg(
        F.aggregate(
            F.array_sort(F.collect_list("max_dp")),
            F.lit(0.0).cast("double"),
            lambda acc, v: acc + v,
        ).alias("score")
    )


def maxsim_scores_by_token(query_tokens: DataFrame, doc_tokens: DataFrame) -> DataFrame:
    """Exact MaxSim exploiting encoder determinism: identical token text ⇒
    identical vector, so dot products are computed once per distinct
    (query-token, doc-token) *text* pair and per-doc maxima once per distinct
    (query-token, doc) pair — a common-subexpression elimination that cuts
    the sf0.1 brute-force pass ~10× while staying bit-identical (max over
    the same value set; the final sum folds the same multiset in the same
    sorted order).

    Requires a ``token`` column on both inputs (encoding.py provides it).
    At 100 TB this is the difference between |q_tokens × d_tokens| fold
    evaluations and |q_vocab × d_vocab| — Zipfian text makes the vocab side
    tiny relative to the corpus.
    """
    q_vocab = query_tokens.select("token", "vec").dropDuplicates(["token"])
    d_vocab = doc_tokens.select(
        F.col("token").alias("d_token"), F.col("vec").alias("d_vec")
    ).dropDuplicates(["d_token"])
    pair_scores = q_vocab.crossJoin(d_vocab).select(
        "token", "d_token", dot(F.col("vec"), F.col("d_vec")).alias("dp")
    )
    doc_token_set = doc_tokens.select("doc_id", F.col("token").alias("d_token")).distinct()
    # max over each doc's token set, per query-token text
    per_doc_max = (
        pair_scores.join(doc_token_set, "d_token")
        .groupBy("token", "doc_id")
        .agg(F.max("dp").alias("max_dp"))
    )
    qt = query_tokens.select("query_id", "token_idx", "token")
    return (
        qt.join(per_doc_max, "token")
        .groupBy("query_id", "doc_id")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list("max_dp")),
                F.lit(0.0).cast("double"),
                lambda acc, v: acc + v,
            ).alias("score")
        )
    )


def topk(scored: DataFrame, k: int, score_col: str = "score") -> DataFrame:
    """Per-query top-k: finite scores desc, NON-FINITE LAST, doc_id asc.

    Q13 parity with search.rs:110-117 (cmp_score_ascending): every
    non-finite score (NaN, ±inf, null) ranks below every finite score and
    non-finites are mutually equal (doc_id breaks their ties). Spark's
    native sort puts NaN ABOVE +inf, so a bare ``score desc`` would rank a
    NaN-corrupted row FIRST — the explicit finite-last key makes upstream
    numeric corruption degrade gracefully instead of silently winning."""
    c = F.col(score_col)
    finite = c.isNotNull() & ~F.isnan(c) & (c > F.lit(float("-inf"))) & (
        c < F.lit(float("inf"))
    )
    w = Window.partitionBy("query_id").orderBy(
        finite.desc(),                            # finite block first
        F.when(finite, c).desc_nulls_last(),      # value order within it
        F.col("doc_id").asc(),
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def query_side_arrays(qt_pdf):
    """float64 query-side arrays for broadcast MaxSim kernels.

    Input: a pandas frame of (query_id, token_idx, vec) SORTED by
    (query_id, token_idx). Returns ``(qv, qi, ok, qids)``: unique query
    vectors [V, dim] float64 (f64 straight from the source values — the
    relational ``dot`` casts the raw column to double, so routing through
    float32 would truncate), padded per-query vocab-row index matrix
    [n_q, T], its validity mask, and the sorted query ids."""
    import numpy as np

    q = np.asarray([np.asarray(v, dtype=np.float64) for v in qt_pdf["vec"]])
    qv, inverse = np.unique(q, axis=0, return_inverse=True)
    inverse = inverse.astype(np.int64).ravel()
    qids_per_row = qt_pdf["query_id"].to_numpy()
    qids, starts = np.unique(qids_per_row, return_index=True)
    bounds = np.append(starts, len(qids_per_row))
    counts = np.diff(bounds)
    t_max = int(counts.max())
    qi = np.zeros((len(qids), t_max), dtype=np.int64)
    ok = np.zeros((len(qids), t_max), dtype=bool)
    col = np.arange(len(inverse)) - np.repeat(bounds[:-1], counts)
    rows = np.repeat(np.arange(len(qids)), counts)
    qi[rows, col] = inverse
    ok[rows, col] = True
    return qv, qi, ok, qids


def maxsim_brute_kernel(query_tokens: DataFrame, doc_tokens: DataFrame,
                        k: int = 10) -> DataFrame:
    """Exact top-k MaxSim as ONE doc-parallel broadcast kernel.

    Same results as the relational forms, same float discipline as the
    searcher's Q9 kernel (plans/searcher.py::_rerank_broadcast): dots
    accumulate 0.0 + Σ x·y sequentially over dim in double; per-doc
    per-vocab-token maxima; per-(query, doc) scores sort the maxima
    ascending and fold sequentially with exact-identity 0.0 padding.
    Distinct doc vectors are deduped per chunk (np.unique row CSE — the
    kernel-local analog of maxsim_scores_by_token's vocab trick, but
    keyed on vector VALUES so no token column is required).

    The query batch is the broadcast side by contract; each executor
    scans its doc partitions once for the whole batch — no pair shuffle.
    Per-partition chunks pre-prune to the local top-k under topk()'s
    exact order (finite desc, score desc, doc asc), so the global rank
    window sees O(partitions · k) rows per query."""
    import pandas as pd

    spark = query_tokens.sparkSession
    schema = "query_id long, doc_id long, score double"
    qt_pdf = (
        query_tokens.select("query_id", "token_idx", "vec")
        .sort("query_id", "token_idx")
        .toPandas()
    )
    if not len(qt_pdf):
        empty = pd.DataFrame(
            {"query_id": [], "doc_id": [], "score": []}
        ).astype({"query_id": "int64", "doc_id": "int64", "score": "float64"})
        return topk(spark.createDataFrame(empty, schema=schema), k)
    b = spark.sparkContext.broadcast(query_side_arrays(qt_pdf))

    def kern(batches):
        import numpy as np

        qv, qi, ok, qids = b.value
        v_cnt, dim = qv.shape
        n_q, t_max = qi.shape
        # two chunk bounds: the [V, F] gather and the [nd, n_q, T] fold
        chunk_flat = max(256, (32 << 20) // max(1, v_cnt))
        max_docs = max(64, (64 << 20) // max(1, n_q * t_max * 8))
        for pdf in batches:
            if not len(pdf):
                continue
            doc_ids = pdf["doc_id"].to_numpy()
            vec_lists = pdf["vecs"]
            start = 0
            while start < len(doc_ids):
                end = start
                tot = 0
                while end < len(doc_ids) and (
                    tot == 0
                    or (tot + len(vec_lists.iloc[end]) <= chunk_flat
                        and end - start < max_docs)
                ):
                    tot += len(vec_lists.iloc[end])
                    end += 1
                lens = np.fromiter(
                    (len(vec_lists.iloc[i]) for i in range(start, end)),
                    dtype=np.int64, count=end - start,
                )
                keep = lens > 0
                if not keep.any():
                    start = end
                    continue
                arr = np.asarray(
                    [np.asarray(v, dtype=np.float64)
                     for i in range(start, end)
                     for v in vec_lists.iloc[i]]
                )
                uvecs, uids = np.unique(arr, axis=0, return_inverse=True)
                uids = uids.astype(np.int64).ravel()
                dots = np.zeros((v_cnt, len(uvecs)), dtype=np.float64)
                for j in range(dim):
                    dots += qv[:, j][:, None] * uvecs[:, j][None, :]
                offs = np.zeros(int(keep.sum()), dtype=np.int64)
                np.cumsum(lens[keep][:-1], out=offs[1:])
                m_t = np.maximum.reduceat(
                    dots[:, uids], offs, axis=1
                ).T.copy()  # [nd, V]
                d_chunk = doc_ids[start:end][keep]
                ordc = np.argsort(d_chunk)          # doc-asc for tie-break
                d_sorted = d_chunk[ordc]
                m_t = m_t[ordc]
                vals = m_t[:, qi]                   # [nd, n_q, T]
                vals = np.where(ok[None, :, :], vals, 0.0)
                vals.sort(axis=2)
                acc = np.zeros(vals.shape[:2], dtype=np.float64)
                for t in range(vals.shape[2]):
                    acc = acc + vals[:, :, t]
                scores = acc.T                      # [n_q, nd]
                if scores.shape[1] > k:
                    finite = np.isfinite(scores)
                    key = np.where(finite, scores, -np.inf)
                    sel = np.argsort(-key, axis=1, kind="stable")[:, :k]
                    sc = np.take_along_axis(scores, sel, axis=1).ravel()
                    d = d_sorted[sel].ravel()
                    qout = np.repeat(qids, k)
                else:
                    nd = scores.shape[1]
                    qout = np.repeat(qids, nd)
                    d = np.tile(d_sorted, n_q)
                    sc = scores.ravel()
                yield pd.DataFrame(
                    {"query_id": qout, "doc_id": d, "score": sc}
                )
                start = end

    docs_g = doc_tokens.select("doc_id", "vec").groupBy("doc_id").agg(
        F.collect_list("vec").alias("vecs")
    )
    return topk(docs_g.mapInPandas(kern, schema=schema), k)


def brute_force_search(
    query_tokens: DataFrame, doc_tokens: DataFrame, k: int = 10,
) -> DataFrame:
    """Exact top-k MaxSim over the full corpus — the funnel's recall oracle:
    the doc-parallel broadcast kernel (one corpus scan, no pair shuffle).
    ``topk(maxsim_scores_relational(...), k)`` returns the same rows."""
    return maxsim_brute_kernel(query_tokens, doc_tokens, k)
