"""Single-vector similarity search over an embedding column.

Not in the reference (its unit is the multi-vector doc), but a first-class
100 TB-pipeline operator (ANN over ``embeddings.embedding ARRAY<FLOAT>``).

- ``cosine_topk`` — brute-force exact baseline: broadcast the (small) query
  set, one shuffle for the per-query top-k window. At cluster scale the scan
  side stays fully parallel and the broadcast avoids shuffling the corpus.
- ``lsh_bucket_topk`` — scale path: random-hyperplane LSH (SimHash family)
  buckets both sides; only same-bucket pairs are scored. Recall is tunable
  via ``n_tables`` × ``n_bits``.
- ``ivf_topk`` — the other scale path: k-means coarse cells (the same
  IVF discipline as the PLAID funnel, next-plaid/src/kmeans.rs /
  search.rs:388-414, applied to single-vector rows). Corpus vectors are
  assigned to their nearest cell once; each query probes its ``n_probe``
  best cells and only those cells' vectors are scored. The probe join is
  a cell equi-join — partition-parallel, no crossJoin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from next_plaid_spark.functions.vector import cosine, l2_normalize


def mmr_rerank(
    results: DataFrame,
    embeddings: DataFrame,
    *,
    k: int = 10,
    lambda_: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_col: str = "cos_sim",
) -> DataFrame:
    """Maximal Marginal Relevance diversification (Carbonell & Goldstein
    1998) over a candidate list: greedily pick the candidate maximizing
    ``λ·relevance − (1−λ)·max_sim_to_already_picked``.

    ``results`` is a (query_id, vec_id, <score_col>) candidate table (e.g.
    the output of ``cosine_topk``/``ivf_topk`` with an over-fetched k);
    the candidate embeddings are joined in and each query's greedy loop
    runs vectorized inside one ``applyInPandas`` group — per-query
    candidate counts are top-N-bounded, so the stateful loop is tiny and
    driver-free. Deterministic: ties break by (score desc, vec_id asc) at
    every pick. Returns (query_id, vec_id, mmr_score, rank).
    """
    import numpy as np
    import pandas as pd

    cand = results.select(
        "query_id", F.col("vec_id"), F.col(score_col).alias("rel")
    ).join(
        embeddings.select(F.col(id_col).alias("vec_id"),
                          l2_normalize(F.col(vec_col)).alias("_nv")),
        "vec_id",
    )

    lam = float(lambda_)

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        # deterministic candidate order: (rel desc, vec_id asc)
        pdf = pdf.sort_values(["rel", "vec_id"], ascending=[False, True])
        ids = pdf["vec_id"].to_numpy()
        rel = pdf["rel"].to_numpy(dtype=np.float64)
        vecs = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["_nv"]])
        n = len(ids)
        kk = min(k, n)
        picked = np.zeros(n, dtype=bool)
        max_sim = np.full(n, -np.inf)
        out_ids, out_scores = [], []
        for step in range(kk):
            if step == 0:
                mmr = rel.copy()
            else:
                mmr = lam * rel - (1.0 - lam) * max_sim
            mmr[picked] = -np.inf
            # argmax with (score desc, vec_id asc) tie-break: ids are
            # sorted asc within equal rel by construction, and np.argmax
            # returns the FIRST maximum — but after reordering by mmr we
            # must re-derive: use lexsort on (-mmr, ids)
            order = np.lexsort((ids, -mmr))
            best = order[0]
            picked[best] = True
            out_ids.append(ids[best])
            out_scores.append(mmr[best])
            # sequential left-to-right fold (cumsum), NOT a BLAS dot: keeps
            # the pairwise sims bit-identical to the DuckDB oracle's
            # list_reduce fold (sql_mmr_topk), same discipline as
            # functions/vector.py
            sims = (vecs * vecs[best]).cumsum(axis=1)[:, -1]
            max_sim = np.maximum(max_sim, sims)
        return pd.DataFrame({
            "query_id": pdf["query_id"].iloc[0],
            "vec_id": np.asarray(out_ids, dtype=np.int64),
            "mmr_score": np.asarray(out_scores, dtype=np.float64),
            "rank": np.arange(1, len(out_ids) + 1, dtype=np.int32),
        })

    return cand.groupBy("query_id").applyInPandas(
        pick, schema="query_id long, vec_id long, mmr_score double, rank int"
    )


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    exclude_self: bool = False,
) -> DataFrame:
    """Exact cosine top-k: returns (query_id, vec_id, cos_sim, rank).

    ``queries`` is expected to be small (it is broadcast); the corpus side
    streams. Tie-break: cos desc, vec_id asc — deterministic.
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).alias("_qvec"),
        )
    )
    c = embeddings.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_cvec"))
    pairs = c.crossJoin(q)
    if exclude_self:
        pairs = pairs.filter(F.col("vec_id") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        "vec_id",
        cosine(F.col("_qvec"), F.col("_cvec")).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _planes(dim: int, n_bits: int, seed: int, table: int) -> list[list[float]]:
    import numpy as np

    rng = np.random.default_rng(seed + 7919 * table)
    return rng.standard_normal((n_bits, dim)).tolist()


def _seq_dot_matrix(x64, m64):
    """[rows, P] x·m in float64, accumulated sequentially over dim
    (x₀m₀ + x₁m₁ + …) — the exact fold order of functions/vector.py::dot,
    plans/searcher.py::_seq_centroid_scores, and the DuckDB oracles'
    ``list_reduce(list_prepend(0.0, list_transform(...)), (a,b)->a+b)``.
    This (not a BLAS GEMM) is what makes LSH bucket signs and IVF cell
    argmax bit-reproducible cross-engine, so the approximate ANN entries
    can be hash-checked, not just recall-gated."""
    out = x64[:, 0, None] * m64[None, :, 0]
    for j in range(1, x64.shape[1]):
        out = out + x64[:, j, None] * m64[None, :, j]
    return out


def _seq_sqnorm(x64):
    """Per-row Σ x² folded sequentially over dim — the norm fold of the
    cosine oracles (0.0 + x₀² + x₁² + …)."""
    out = x64[:, 0] * x64[:, 0]
    for j in range(1, x64.shape[1]):
        out = out + x64[:, j] * x64[:, j]
    return out


def lsh_bucket_assignments(
    df: DataFrame,
    *,
    dim: int,
    n_tables: int,
    n_bits: int,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hash each vector into ``n_tables`` hyperplane-LSH buckets.

    Returns an exploded DF ``(_id long, _vec array, _table int, _bucket
    long)`` — one row per (vector, table). All tables' planes are stacked
    into one ``[n_tables*n_bits, dim]`` matrix so a single GEMM per Arrow
    batch computes every signature bit (the unrolled column-expression
    variant spent more time in codegen than in compute). Shared by
    ``lsh_bucket_topk`` and ``dedup.embedding_near_dup_pairs``.
    """
    import numpy as np

    all_planes = np.concatenate(
        [np.asarray(_planes(dim, n_bits, seed, t), dtype=np.float64)
         for t in range(n_tables)]
    )
    pow2 = (1 << np.arange(n_bits)).astype(np.int64)

    def sig(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            # sequential-fold dots (not GEMM): bucket signs match the
            # DuckDB oracle's list_reduce fold bit-for-bit (_seq_dot_matrix)
            bits = _seq_dot_matrix(x, all_planes) >= 0
            bits = bits.reshape(len(x), n_tables, n_bits)
            buckets = (bits * pow2).sum(axis=2)  # [rows, n_tables]
            out = pd.DataFrame(
                {
                    "_id": pdf[id_col].to_numpy().repeat(n_tables),
                    "_vec": [v for v in pdf[vec_col] for _ in range(n_tables)],
                    "_table": np.tile(np.arange(n_tables), len(x)),
                    "_bucket": buckets.ravel(),
                }
            )
            yield out

    vec_type = df.schema[vec_col].dataType.simpleString()
    return df.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        sig, schema=f"_id long, _vec {vec_type}, _table int, _bucket long"
    )


def train_ivf_cells(
    embeddings: DataFrame,
    n_cells: int,
    *,
    seed: int = 42,
    train_cap: int = 65_536,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Train the IVF coarse quantizer on a bounded, seeded corpus sample.

    The sample is selected by hash order (deterministic under seed,
    independent of partitioning — the codec trainer's HELDOUT_CAP
    pattern), collected to the driver (≤ ``train_cap`` rows), normalized,
    and clustered with the same Lloyd's used for the PLAID index build.
    Returns a normalized ``[n_cells, dim]`` float32 matrix.
    """
    import numpy as np

    from next_plaid_spark.operators.kmeans import lloyds

    rows = (
        embeddings.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .orderBy(F.xxhash64(F.col("_id"), F.lit(seed)), F.col("_id"))
        .limit(train_cap)
        .collect()
    )
    if not rows:
        raise ValueError("train_ivf_cells: cannot train a coarse quantizer "
                         "on an empty corpus")
    pts = np.asarray([r._v for r in rows], dtype=np.float32)
    norms = np.linalg.norm(pts, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return lloyds(pts / norms, n_cells, seed=seed)


def ivf_cell_assignments(
    df: DataFrame,
    centroids,
    *,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its ``n_probe`` nearest cells (by cosine).

    Rows come back exploded as ``(_id, _vec, _cell)``. ``n_probe=1`` is
    corpus assignment; queries pass the probe width.

    Bit-determinism: cell scores are float64 sequential-fold dots of the
    explicitly-normalized vector (norm = √(sequential Σx²), zero-norm →
    divide by 1) against the float64 copies of the centroids, and the
    top-p selection is a stable sort on (score desc, cell asc) — exactly
    the DuckDB oracle's ``row_number() OVER (ORDER BY s DESC, cell ASC)``,
    so the candidate sets (and therefore the whole ANN result) hash-match
    cross-engine."""
    import numpy as np

    cmat = np.asarray(centroids, dtype=np.float64)
    k = cmat.shape[0]
    p = max(1, min(n_probe, k))

    def run(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            x = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            n = np.sqrt(_seq_sqnorm(x))
            n[n == 0] = 1.0
            scores = _seq_dot_matrix(x / n[:, None], cmat)  # [rows, k]
            # stable argsort on -scores: ties fall to the lower cell id,
            # the oracle's (s DESC, cell ASC) order
            cells = np.argsort(-scores, axis=1, kind="stable")[:, :p]
            yield pd.DataFrame(
                {
                    "_id": pdf[id_col].to_numpy().repeat(p),
                    "_vec": [v for v in pdf[vec_col] for _ in range(p)],
                    "_cell": cells.ravel().astype(np.int32),
                }
            )

    vec_type = df.schema[vec_col].dataType.simpleString()
    return df.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        run, schema=f"_id long, _vec {vec_type}, _cell int"
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    n_cells: int = 64,
    n_probe: int = 8,
    seed: int = 42,
    train_cap: int = 65_536,
    centroids=None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """ANN cosine top-k via IVF coarse cells (kmeans.rs / search.rs:388-414
    discipline on single-vector rows).

    Recall is tuned by ``n_probe / n_cells``; with ``n_probe == n_cells``
    the result equals the exact ``cosine_topk``. Pass ``centroids`` to
    reuse a trained quantizer (e.g. across batches of the same corpus).
    Tie-break: cos desc, vec_id asc — deterministic.
    """
    if centroids is None:
        centroids = train_ivf_cells(
            embeddings, n_cells, seed=seed, train_cap=train_cap,
            id_col=id_col, vec_col=vec_col)
    c = ivf_cell_assignments(
        embeddings, centroids, n_probe=1, id_col=id_col, vec_col=vec_col)
    q = ivf_cell_assignments(
        queries, centroids, n_probe=n_probe,
        id_col=query_id_col, vec_col=query_vec_col)
    cand = c.join(
        q.withColumnRenamed("_id", "query_id").withColumnRenamed("_vec", "_qvec"),
        on="_cell",
    ).select("query_id", F.col("_id").alias("vec_id"), "_qvec", "_vec")
    scored = cand.select(
        "query_id", "vec_id", cosine(F.col("_qvec"), F.col("_vec")).alias("cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def lsh_bucket_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    dim: int,
    n_tables: int = 4,
    n_bits: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """ANN cosine top-k via multi-table hyperplane LSH.

    Corpus and queries are hashed into ``n_tables`` independent bucket
    columns; candidates = union over tables of same-bucket pairs (dedup),
    then exact cosine + top-k. The bucket equi-join is an ordinary shuffle
    join on (table, bucket) — partition-parallel at any scale, no crossJoin.
    """
    c = lsh_bucket_assignments(
        embeddings, dim=dim, n_tables=n_tables, n_bits=n_bits, seed=seed,
        id_col=id_col, vec_col=vec_col)
    q = lsh_bucket_assignments(
        queries, dim=dim, n_tables=n_tables, n_bits=n_bits, seed=seed,
        id_col=query_id_col, vec_col=query_vec_col)
    cand = (
        c.join(
            q.withColumnRenamed("_id", "query_id")
            .withColumnRenamed("_vec", "_qvec"),
            on=["_table", "_bucket"],
        )
        .select("query_id", F.col("_id").alias("vec_id"), "_qvec", "_vec")
        .dropDuplicates(["query_id", "vec_id"])
    )
    scored = cand.select(
        "query_id", "vec_id", cosine(F.col("_qvec"), F.col("_vec")).alias("cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def mine_hard_negatives(
    embeddings: DataFrame,
    positives: DataFrame,
    *,
    k: int = 5,
    fetch_k: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hard-negative mining for retrieval-model training (the data job
    behind every ColBERT/bi-encoder fine-tune, e.g. Karpukhin et al. 2020
    DPR §3.2): for each query, the top-scoring corpus items that are NOT
    labeled positives — semantically close, label-wrong, maximally
    informative negatives.

    ``positives`` is (query_id, vec_id) gold pairs; queries are the
    positive-labeled vectors themselves. Exact cosine over-fetches
    ``fetch_k``, labeled positives and the self-vector are anti-joined
    out, and the top ``k`` survivors are re-ranked 1..k. Scale shape: one
    broadcast-query scan (cosine_topk) + one broadcast anti-join — the
    corpus shuffles only for the per-query top-k window.

    Returns (query_id, vec_id, cos_sim, rank).
    """
    queries = (
        positives.select("query_id").distinct()
        .join(embeddings.select(F.col(id_col).alias("query_id"),
                                F.col(vec_col).alias("query_vec")),
              "query_id")
    )
    cands = cosine_topk(
        embeddings, queries, k=fetch_k,
        id_col=id_col, vec_col=vec_col, exclude_self=True,
    )
    negs = cands.join(
        F.broadcast(positives.select("query_id", "vec_id")),
        ["query_id", "vec_id"], "left_anti",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        negs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos_sim", "rank")
    )
