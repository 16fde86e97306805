"""The engine's query surface as (spark, sf_dir) -> DataFrame callables,
paired with DuckDB oracle SQL — the correctness contract consumed by
``__spark_entry__.py``.

Every entry here exercises a SURVEY.md §2 operator (or a §"LLM-pipeline"
extension operator) end-to-end on the driver's tables. Column names are
aliased identically on both sides; float aggregates either fold in a
deterministic order (bit-identical) or are rounded on both sides.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from next_plaid_spark.session import local_df
from next_plaid_spark.encoding import (
    encode_documents,
    encode_queries,
    token_vector_sql,
)
from next_plaid_spark.functions.text import TOKEN_SPLIT_RE, tokenize_unicode61
from next_plaid_spark.functions.time import normalize_event_ts
from next_plaid_spark.operators.maxsim import brute_force_search
from next_plaid_spark.operators.similarity import cosine_topk


# lazy-frame memo for the static testdata tables (r14 opt): every
# `spark.read.parquet` call runs a small file-listing + footer-inference
# Spark job before the frame is even used — one per _t call, several per
# declared query. The inputs are immutable for a given sf_dir, so reuse
# the lazy DataFrame (plan reuse only — every action still scans the
# parquet files; nothing is cached/persisted). Keyed on the session object
# so a restarted session gets fresh frames.
_T_CACHE: dict = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.abspath(os.path.join(sf_dir, f"{name}.parquet"))
    # keyed on the path's mtime too (r15, ADVICE): the memoized frame froze
    # its file listing at first read, so a table regenerated IN PLACE within
    # one session would silently serve stale rows / vanished files; one
    # stat() per call makes in-place regeneration invalidate the memo
    try:
        mtime = os.path.getmtime(path)
    except OSError:
        mtime = None
    key = (spark, path, mtime)
    df = _T_CACHE.get(key)
    if df is None:
        # events.parquet carries TIMESTAMP(NANOS); the driver may hand us a
        # session without our defaults, and this conf is runtime-settable
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        _T_CACHE[key] = df
    return df


# ---------------------------------------------------------------------------
# Semantic search — brute-force exact MaxSim (SURVEY §2.4 Q9/Q10/Q11 oracle)
# ---------------------------------------------------------------------------

N_SELF_QUERIES = 10
MAXSIM_TOPK = 10


def q_maxsim_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    doc_tokens = _doc_tokens(spark, sf_dir)
    queries = docs.filter(F.col("doc_id") < N_SELF_QUERIES).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    query_tokens = encode_queries(queries)
    return brute_force_search(query_tokens, doc_tokens, k=MAXSIM_TOPK).select(
        "query_id", "doc_id", "score", "rank"
    )


def _sql_tokens_cte(dim: int, doc_max: int, q_max: int, n_queries: int) -> str:
    """Shared CTEs: tokenized docs/queries with per-token unit vectors."""
    return f"""
WITH doc_toks AS (
  SELECT doc_id,
         unnest(range(0, len(toks))) AS token_idx,
         unnest(toks) AS token
  FROM (
    SELECT doc_id,
           list_slice(list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT_RE}'), x -> x <> ''), 1, {doc_max}) AS toks
    FROM documents
  )
),
query_toks AS (
  SELECT doc_id AS query_id,
         unnest(range(0, len(toks))) AS token_idx,
         unnest(toks) AS token
  FROM (
    SELECT doc_id,
           list_slice(list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT_RE}'), x -> x <> ''), 1, {q_max}) AS toks
    FROM documents WHERE doc_id < {n_queries}
  )
),
dt AS (
  SELECT doc_id, token_idx, {token_vector_sql('token', dim)} AS vec FROM doc_toks
),
qt AS (
  SELECT query_id, token_idx, {token_vector_sql('token', dim)} AS vec FROM query_toks
)
""".strip()


def sql_maxsim_brute_topk(dim: int = 16, doc_max: int = 48, q_max: int = 8,
                          n_queries: int = N_SELF_QUERIES, k: int = MAXSIM_TOPK) -> str:
    return f"""
{_sql_tokens_cte(dim, doc_max, q_max, n_queries)},
dots AS (
  SELECT qt.query_id, dt.doc_id, qt.token_idx AS q_token_idx,
         list_reduce(list_transform(range(1, {dim + 1}), i -> qt.vec[i] * dt.vec[i]), (a, b) -> a + b) AS dp
  FROM qt CROSS JOIN dt
),
per_qtoken AS (
  SELECT query_id, doc_id, q_token_idx, max(dp) AS max_dp
  FROM dots GROUP BY 1, 2, 3
),
scores AS (
  SELECT query_id, doc_id,
         list_reduce(list_prepend(0.0, list_sort(list(max_dp))), (a, b) -> a + b) AS score
  FROM per_qtoken GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM scores
)
SELECT query_id, doc_id, score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k}
""".strip()


# ---------------------------------------------------------------------------
# PLAID ANN funnel over a built index (SURVEY §2.3 build + §2.4 search).
# No oracle SQL: the k-means coarse quantizer is iterative/non-SQL-expressible
# (driver records rows-only). Funnel correctness is gated in
# tests/test_index_build.py against the brute-force exact-MaxSim oracle.
# ---------------------------------------------------------------------------

_INDEX_CACHE: dict[str, object] = {}
_BM25_CACHE: dict[tuple, object] = {}
_TOKENS_CACHE: dict[str, DataFrame] = {}


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The encoded corpus tokens, cached once per sf_dir — the S7
    raw-embedding sidecar surface (next-plaid stores raw embeddings beside
    the index, index.rs:1203-1260): brute-force/rerank/hybrid entries read
    the SAME persisted token set instead of re-encoding the corpus per
    query, exactly like the reference reads its sidecar."""
    key = os.path.abspath(sf_dir)
    df = _TOKENS_CACHE.get(key)
    if df is None:
        # spread the single-file documents scan across cores BEFORE the
        # encode UDF and the cache: a 1-split input otherwise serializes
        # the encode pass AND every downstream consumer of the cached
        # tokens (the build's assign+quantize measured 11.2→9.2 s at
        # sf0.1). Harness-only: the engine takes whatever partitioning
        # the caller's doc_tokens carries.
        par = spark.sparkContext.defaultParallelism
        df = encode_documents(
            _t(spark, sf_dir, "documents").repartition(par)
        ).cache()
        _TOKENS_CACHE[key] = df
    return df


def _bm25_index(spark: SparkSession, sf_dir: str, tokenizer: str = "unicode61"):
    """Shared keyword index over the full documents table — built once per
    (sf_dir, tokenizer), like the reference's persistent FTS5 table
    (text_search.rs:41-50): every keyword/hybrid entry queries the same
    postings instead of re-tokenizing the corpus."""
    from next_plaid_spark.operators.bm25 import BM25Index

    key = (os.path.abspath(sf_dir), tokenizer)
    if key not in _BM25_CACHE:
        _BM25_CACHE[key] = BM25Index.build(
            _t(spark, sf_dir, "documents"), tokenizer=tokenizer
        )
    return _BM25_CACHE[key]


def _bm25_index_pos(spark: SparkSession, sf_dir: str):
    """Positional variant (phrase queries); cached separately because the
    positions table is corpus-token-sized."""
    from next_plaid_spark.operators.bm25 import BM25Index

    key = (os.path.abspath(sf_dir), "unicode61#pos")
    if key not in _BM25_CACHE:
        _BM25_CACHE[key] = BM25Index.build(
            _t(spark, sf_dir, "documents"), with_positions=True
        )
    return _BM25_CACHE[key]


def _plaid_index(spark: SparkSession, sf_dir: str):
    from next_plaid_spark.plans.builder import IndexBuilder
    from next_plaid_spark.sources.index_store import PlaidIndex

    key = os.path.abspath(sf_dir)
    if key not in _INDEX_CACHE:
        import tempfile

        path = os.path.join(tempfile.mkdtemp(prefix="plaid_idx_"), "index")
        docs = _t(spark, sf_dir, "documents")
        # doc_id-bucketed token storage (32 buckets): the bucket spec
        # satisfies every per-doc groupBy/join distribution in the funnel,
        # so no corpus-sized exchange sits above the tokens scan
        # (PLANS.md §A15)
        idx = IndexBuilder(spark, nbits=4, seed=42).build(
            _doc_tokens(spark, sf_dir), path
        )
        _INDEX_CACHE[key] = idx
    return _INDEX_CACHE[key]


def q_plaid_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DEFAULT approximate funnel (Q1-Q10 at n_probe=8, t_cs=0.4,
    n_full_scores=256). Hash-exact oracle since r7: every funnel stage is
    bit-deterministic (float64 sequential-fold centroid scores, tie-broken
    probe, sorted-fold approx scores — plans/searcher.py), so the oracle
    recomputes the WHOLE funnel — probe, prune, candidacy, codes-only
    approx MaxSim, survivor cuts, exact rerank, top-k — in DuckDB over the
    trained-artifact sidecars (centroids, per-doc codes, decompressed
    vectors)."""
    from next_plaid_spark.plans.searcher import BatchSearcher, SearchParams

    idx = _plaid_index(spark, sf_dir)
    _write_exact_oracle_sidecar(idx)
    _write_approx_oracle_sidecar(idx)
    docs = _t(spark, sf_dir, "documents")
    queries = docs.filter(F.col("doc_id") < N_SELF_QUERIES).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    qt = encode_queries(queries)
    searcher = BatchSearcher(idx, SearchParams(top_k=MAXSIM_TOPK, n_full_scores=256, keep_best_cell=True))
    return searcher.search(qt).select("query_id", "doc_id", "score", "rank")


# Oracle sidecars live under a root scoped to (repo checkout, uid): two
# users or two different checkouts never read each other's artifacts, while
# the path stays STABLE across processes of the same checkout — required
# because the driver may run a Spark query and its DuckDB oracle in
# different processes (the sidecar must survive the boundary; a pid-scoped
# path would not). Within-checkout staleness is prevented by the
# fingerprint memo below, not by the path; the one unguarded case — two
# simultaneous processes of the SAME checkout racing on DIFFERENT corpora —
# is a local-tooling discipline (don't overlap bench and check runs), or
# set SPARK_GRAFT_ORACLE_DIR to split them explicitly.
def _oracle_root() -> str:
    import hashlib

    env = os.environ.get("SPARK_GRAFT_ORACLE_DIR")
    if env:
        return env
    tag = hashlib.md5(
        f"{os.path.dirname(os.path.abspath(__file__))}:{os.getuid()}".encode()
    ).hexdigest()[:10]
    return f"/tmp/next_plaid_spark_oracle_{tag}"


_ORACLE_SIDECAR_ROOT = _oracle_root()

# what is CURRENTLY on disk at each sidecar path: kind -> (index path,
# index fingerprint). Keying on the fingerprint (a hash of the full meta
# JSON: counts, avg_doclen, codec quantiles) means an in-place index
# rebuild — or alternating between two indexes in one process — rewrites
# the sidecar instead of serving stale artifacts.
_SIDECAR_STATE: dict = {}


def _index_fingerprint(idx) -> str:
    import hashlib

    return hashlib.sha1(idx.meta.to_json().encode()).hexdigest()[:12]


# Trained-artifact sidecars for the approximate-funnel oracles: the coarse
# quantizer (centroids; float64-exact copies of the index's float32 values)
# and the per-doc distinct code sets — the SAME artifacts the funnel's
# Q1/Q5/Q6 stages consume. Only the k-means TRAINING is trusted (it is
# iterative, not SQL-expressible); everything downstream of the trained
# artifacts — probe, t_cs prune, candidate generation, codes-only approx
# scoring, rank cuts, decompression-fed rerank, final top-k — is recomputed
# independently by the oracle SQL.
APPROX_ORACLE_SIDECAR = _ORACLE_SIDECAR_ROOT + "/approx_funnel"


def _write_approx_oracle_sidecar(idx, *, path: str | None = None,
                                 state_key: str = "approx") -> None:
    import numpy as np

    path = path or APPROX_ORACLE_SIDECAR
    key = (idx.path, _index_fingerprint(idx))
    if _SIDECAR_STATE.get(state_key) == key:
        return
    c = idx.centroids_np().astype(np.float64)  # f32 → f64 exact
    cent = local_df(
        idx.spark,
        [(int(i), [float(x) for x in row]) for i, row in enumerate(c)],
        "code long, cvec array<double>",
    )
    cent.coalesce(1).write.mode("overwrite").parquet(path + "/centroids")
    codes = idx.doc_codes.select("doc_id", F.explode("codes").alias("code"))
    codes.write.mode("overwrite").parquet(path + "/doc_codes")
    # num_documents from the index META, not count(distinct doc_id) over
    # doc_codes: on an index with zero-token docs the two diverge, and the
    # searcher's Q4 probe scaling uses meta (searcher.py) — the oracle must
    # scale off the same N
    local_df(
        idx.spark, [(int(idx.meta.num_documents),)], "num_documents long"
    ).coalesce(1).write.mode("overwrite").parquet(path + "/meta")
    _SIDECAR_STATE[state_key] = key


def _sql_plaid_funnel_ctes(top_k: int, n_full: int = 256, n_probe: int = 8,
                           t_cs: float = 0.4, dim: int = 16,
                           max_probe_scale: int = 16,
                           pred: str | None = None,
                           subset_from: str | None = None,
                           approx_sidecar: str | None = None,
                           exact_sidecar: str | None = None) -> str:
    """CTE chain (no WITH, no tokens CTE — callers prepend
    ``_sql_tokens_cte``) recomputing the approximate PLAID funnel Q1-Q10 in
    DuckDB over the sidecar artifacts; terminal CTE ``f_ranked`` has
    (query_id, doc_id, score, rank). With ``pred`` set, mirrors the
    FILTERED funnel: Q4 probe scaling (⌊N/|subset|⌋ capped at
    max_probe_scale — search.rs:370-382), eligible-centroid restriction of
    the probe pool (search.rs:350-364), and subset-intersected candidacy.

    Bit-parity contract with plans/searcher.py: centroid scores are the
    same float64 sequential fold; the probe is row_number(score DESC,
    code ASC) ≤ n — the searcher's _topn_mask order; cell_max is taken
    over ALL the query's tokens; approx and exact scores fold sorted
    ascending; every rank cut ties on ascending doc_id."""
    cut = min(n_full, max(n_full // 4, top_k))
    approx_sidecar = approx_sidecar or APPROX_ORACLE_SIDECAR
    exact_sidecar = exact_sidecar or EXACT_ORACLE_SIDECAR
    # subset source: either a predicate over the documents view (pred) or
    # an arbitrary doc_id-producing SELECT (subset_from — e.g. the code
    # index's F10/F11 unit subset) — same funnel arithmetic either way
    filt = pred is not None or subset_from is not None
    subset_src = subset_from or f"SELECT doc_id FROM documents WHERE {pred}"
    subset_ctes = f"""
f_subset AS ({subset_src}),
f_elig AS (SELECT DISTINCT code FROM f_dcodes JOIN f_subset USING (doc_id)),
""".strip() + "\n" if filt else ""
    if filt:
        # scale = clamp(⌊N/|subset|⌋, 1, max_scale); n = clamp to K and to
        # the eligible-cell count — exactly BatchSearcher.search + the
        # broadcast strategy's caps
        # N comes from the index meta sidecar, NOT count(DISTINCT doc_id)
        # over doc_codes: with zero-token docs in the index the two counts
        # diverge, and BatchSearcher.search scales off meta.num_documents
        n_expr = (
            f"GREATEST(1, LEAST("
            f"{n_probe} * LEAST(GREATEST(1, CAST(FLOOR("
            f"CAST((SELECT num_documents FROM f_meta) AS DOUBLE)"
            f" / (SELECT count(*) FROM f_subset)) AS BIGINT)), {max_probe_scale}),"
            f" (SELECT count(*) FROM f_cent),"
            f" (SELECT count(*) FROM f_elig)))"
        )
        probe_src = "SELECT f_cs.* FROM f_cs JOIN f_elig USING (code)"
        cand_subset = "JOIN f_subset ON f_subset.doc_id = d.doc_id"
    else:
        n_expr = f"LEAST({n_probe}, (SELECT count(*) FROM f_cent))"
        probe_src = "SELECT * FROM f_cs"
        cand_subset = ""
    return f"""
f_cent AS (SELECT code, cvec FROM '{approx_sidecar}/centroids/*.parquet'),
f_dcodes AS (SELECT doc_id, code FROM '{approx_sidecar}/doc_codes/*.parquet'),
f_meta AS (SELECT num_documents FROM '{approx_sidecar}/meta/*.parquet'),
{subset_ctes}f_cs AS (
  SELECT qt.query_id, qt.token_idx, c.code,
         list_reduce(list_transform(range(1, {dim + 1}), i -> qt.vec[i] * c.cvec[i]), (a, b) -> a + b) AS score
  FROM qt CROSS JOIN f_cent c
),
f_probed AS (
  SELECT DISTINCT query_id, code FROM (
    SELECT query_id, code,
           row_number() OVER (PARTITION BY query_id, token_idx ORDER BY score DESC, code ASC) AS r
    FROM ({probe_src})
  ) WHERE r <= {n_expr}
),
f_cellbest AS (
  SELECT p.query_id, p.code, max(s.score) AS best
  FROM f_probed p JOIN f_cs s ON s.query_id = p.query_id AND s.code = p.code
  GROUP BY 1, 2
),
f_cells AS (
  SELECT query_id, code FROM (
    SELECT query_id, code, best,
           row_number() OVER (PARTITION BY query_id ORDER BY best DESC, code ASC) AS br
    FROM f_cellbest
  ) WHERE best >= {t_cs} OR br = 1
),
f_cand AS (
  SELECT DISTINCT cl.query_id, d.doc_id
  FROM f_cells cl JOIN f_dcodes d USING (code) {cand_subset}
),
f_amax AS (
  SELECT a.query_id, a.doc_id, s.token_idx, max(s.score) AS mx
  FROM f_cand a
  JOIN f_dcodes d ON d.doc_id = a.doc_id
  JOIN f_cs s ON s.query_id = a.query_id AND s.code = d.code
  GROUP BY 1, 2, 3
),
f_approx AS (
  SELECT query_id, doc_id,
         list_reduce(list_prepend(0.0, list_sort(list(mx))), (a, b) -> a + b) AS ascore
  FROM f_amax GROUP BY 1, 2
),
f_surv AS (
  SELECT query_id, doc_id FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id ORDER BY ascore DESC, doc_id ASC) AS ar
    FROM f_approx
  ) WHERE ar <= {cut}
),
f_dots AS (
  SELECT qt.query_id, q.doc_id, qt.token_idx AS q_token_idx,
         list_reduce(list_transform(range(1, {dim + 1}), i -> qt.vec[i] * q.vec[i]), (a, b) -> a + b) AS dp
  FROM qt
  JOIN f_surv sv ON sv.query_id = qt.query_id
  JOIN (SELECT doc_id, vec FROM '{exact_sidecar}/*.parquet') q ON q.doc_id = sv.doc_id
),
f_pqt AS (
  SELECT query_id, doc_id, q_token_idx, max(dp) AS max_dp
  FROM f_dots GROUP BY 1, 2, 3
),
f_scores AS (
  SELECT query_id, doc_id,
         list_reduce(list_prepend(0.0, list_sort(list(max_dp))), (a, b) -> a + b) AS score
  FROM f_pqt GROUP BY 1, 2
),
f_ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM f_scores
)
""".strip()


def sql_plaid_search_topk(k: int = MAXSIM_TOPK) -> str:
    return f"""
{_sql_tokens_cte(16, 48, 8, N_SELF_QUERIES)},
{_sql_plaid_funnel_ctes(top_k=k)}
SELECT query_id, doc_id, score, CAST(rank AS INT) AS rank
FROM f_ranked WHERE rank <= {k}
""".strip()


# Deterministic sidecar for the exact-funnel oracle: the decompressed
# quantized corpus (the B7 output the funnel's own rerank stage consumes),
# written where the DuckDB oracle SQL can read it. The path is
# process-scoped and the write is fingerprint-memoized (see
# _SIDECAR_STATE above); the Spark query runs before its oracle
# (per-query in the driver and in tools/check.py).
EXACT_ORACLE_SIDECAR = _ORACLE_SIDECAR_ROOT + "/quantized_tokens"
UPDATED_EXACT_SIDECAR = _ORACLE_SIDECAR_ROOT + "/updated_quantized_tokens"


def _write_exact_oracle_sidecar(idx, *, path: str | None = None,
                                state_key: str = "exact") -> None:
    """Sidecar for the exact-funnel oracles: the SAME decompressed vectors
    the funnel's rerank stage consumes (B7 output)."""
    from next_plaid_spark.operators.codec import decompress

    path = path or EXACT_ORACLE_SIDECAR
    key = (idx.path, _index_fingerprint(idx))
    if _SIDECAR_STATE.get(state_key) == key:
        return
    decompress(
        idx.tokens.select("doc_id", "code", "residual"),
        idx.centroids_np(), idx.meta.codec,
    ).select("doc_id", "vec").write.mode("overwrite").parquet(path)
    _SIDECAR_STATE[state_key] = key


def q_plaid_search_exact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PLAID funnel in its exact configuration — n_probe = K,
    t_cs = −∞, n_full_scores ≥ 4·N — so Q1–Q10 degenerate to exact MaxSim
    over the quantized index (search.rs:327-516 semantics: with every cell
    probed and every candidate surviving to full scores, the funnel's
    result must equal brute force over decompressed vectors). Unlike the
    default `plaid_search_topk` (rows-only: ANN loss is data-dependent),
    this entry IS SQL-expressible: the oracle recomputes exact MaxSim in
    DuckDB over the same decompressed vectors (sidecar parquet) and the
    same SQL-expressed query encoder — a hash-exact gate over the whole
    funnel machinery (probe, candidate gen, approx scoring, survivor cut,
    rerank CSE, top-k tie-breaks)."""
    from next_plaid_spark.plans.searcher import BatchSearcher, SearchParams

    idx = _plaid_index(spark, sf_dir)
    _write_exact_oracle_sidecar(idx)

    docs = _t(spark, sf_dir, "documents")
    queries = docs.filter(F.col("doc_id") < N_SELF_QUERIES).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    n_docs = idx.meta.num_documents
    searcher = BatchSearcher(idx, SearchParams(
        top_k=MAXSIM_TOPK,
        n_ivf_probe=idx.meta.k,            # probe every cell
        n_full_scores=4 * n_docs,          # survivor budget (N/4 cut) ≥ N
        centroid_score_threshold=float("-inf"),  # t_cs prune off
    ))
    return searcher.search(encode_queries(queries)).select(
        "query_id", "doc_id", "score", "rank"
    )


def sql_plaid_search_exact_topk(dim: int = 16, doc_max: int = 48, q_max: int = 8,
                                n_queries: int = N_SELF_QUERIES,
                                k: int = MAXSIM_TOPK,
                                sidecar: str = EXACT_ORACLE_SIDECAR) -> str:
    """Exact MaxSim in DuckDB over the decompressed quantized corpus the
    Spark query just wrote (same doubles, same sorted float64 fold, same
    (score DESC, doc_id ASC) tie-break as sql_maxsim_brute_topk)."""
    return f"""
{_sql_tokens_cte(dim, doc_max, q_max, n_queries)},
quant AS (
  SELECT doc_id, vec FROM '{sidecar}/*.parquet'
),
dots AS (
  SELECT qt.query_id, q.doc_id, qt.token_idx AS q_token_idx,
         list_reduce(list_transform(range(1, {dim + 1}), i -> qt.vec[i] * q.vec[i]), (a, b) -> a + b) AS dp
  FROM qt CROSS JOIN quant q
),
per_qtoken AS (
  SELECT query_id, doc_id, q_token_idx, max(dp) AS max_dp
  FROM dots GROUP BY 1, 2, 3
),
scores AS (
  SELECT query_id, doc_id,
         list_reduce(list_prepend(0.0, list_sort(list(max_dp))), (a, b) -> a + b) AS score
  FROM per_qtoken GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM scores
)
SELECT query_id, doc_id, score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k}
""".strip()


def q_plaid_filtered_exact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FILTERED funnel (F2/F9 subset semantics + Q4 probe scaling) in
    the exact configuration — n_probe = K, t_cs = −∞, survivor budget ≥ N —
    so the subset-restricted funnel must equal exact MaxSim over the
    filtered quantized corpus (search.rs:433-437 subset intersection +
    search.rs:327-516 funnel semantics). Hash-exact oracle: same sidecar as
    `plaid_search_exact_topk`, with the metadata predicate applied to the
    document side in DuckDB."""
    from next_plaid_spark.filtering import MetadataStore
    from next_plaid_spark.plans.searcher import BatchSearcher, SearchParams

    idx = _plaid_index(spark, sf_dir)
    _write_exact_oracle_sidecar(idx)

    docs = _t(spark, sf_dir, "documents")
    subset = MetadataStore(docs).where_condition(FILTER_COND, FILTER_PARAMS)
    queries = docs.filter(F.col("doc_id") < N_SELF_QUERIES).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    n_docs = idx.meta.num_documents
    searcher = BatchSearcher(idx, SearchParams(
        top_k=MAXSIM_TOPK,
        n_ivf_probe=idx.meta.k,
        n_full_scores=4 * n_docs,
        centroid_score_threshold=float("-inf"),
    ))
    return searcher.search(encode_queries(queries), subset=subset).select(
        "query_id", "doc_id", "score", "rank"
    )


def sql_plaid_filtered_exact_topk() -> str:
    from next_plaid_spark.filtering import bind_condition_duckdb

    pred = bind_condition_duckdb(FILTER_COND, FILTER_PARAMS)
    base = sql_plaid_search_exact_topk()
    return base.replace(
        f"SELECT doc_id, vec FROM '{EXACT_ORACLE_SIDECAR}/*.parquet'",
        f"SELECT doc_id, vec FROM '{EXACT_ORACLE_SIDECAR}/*.parquet' "
        f"WHERE doc_id IN (SELECT doc_id FROM documents WHERE {pred})",
        1,
    )


def sql_plaid_filtered_topk(k: int = MAXSIM_TOPK) -> str:
    from next_plaid_spark.filtering import bind_condition_duckdb

    pred = bind_condition_duckdb(FILTER_COND, FILTER_PARAMS)
    return f"""
{_sql_tokens_cte(16, 48, 8, N_SELF_QUERIES)},
{_sql_plaid_funnel_ctes(top_k=k, pred=pred)}
SELECT query_id, doc_id, score, CAST(rank AS INT) AS rank
FROM f_ranked WHERE rank <= {k}
""".strip()


def q_plaid_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The approximate funnel under a metadata filter (Q4 subset probe
    scaling + eligible-centroid pruning + subset candidacy). Hash-exact
    oracle since r7 — same bit-determinism as `plaid_search_topk`, with
    the filter's probe-scale arithmetic and eligibility restriction
    recomputed in SQL."""
    from next_plaid_spark.filtering import MetadataStore
    from next_plaid_spark.plans.searcher import BatchSearcher, SearchParams

    idx = _plaid_index(spark, sf_dir)
    _write_exact_oracle_sidecar(idx)
    _write_approx_oracle_sidecar(idx)
    docs = _t(spark, sf_dir, "documents")
    subset = MetadataStore(docs).where_condition(FILTER_COND, FILTER_PARAMS)
    queries = docs.filter(F.col("doc_id") < N_SELF_QUERIES).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    searcher = BatchSearcher(idx, SearchParams(top_k=MAXSIM_TOPK, n_full_scores=256, keep_best_cell=True))
    return searcher.search(encode_queries(queries), subset=subset).select(
        "query_id", "doc_id", "score", "rank"
    )


def q_hybrid_plaid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K8 orchestration with the real ANN funnel as the semantic side:
    PLAID funnel fetch 3·k + BM25 fetch 3·k → relative-score fusion → top-k
    (handlers/search.rs:124-400). Hash-exact oracle since r7: the funnel
    side is bit-deterministic, so the oracle recomputes funnel + BM25 +
    min-max fusion end-to-end."""
    from next_plaid_spark.operators.bm25 import BM25Index
    from next_plaid_spark.operators.fusion import fuse_relative_score
    from next_plaid_spark.plans.searcher import BatchSearcher, SearchParams

    idx = _plaid_index(spark, sf_dir)
    _write_exact_oracle_sidecar(idx)
    _write_approx_oracle_sidecar(idx)
    docs = _t(spark, sf_dir, "documents")
    queries = docs.filter(F.col("doc_id") < N_SELF_QUERIES).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    searcher = BatchSearcher(
        idx, SearchParams(top_k=3 * MAXSIM_TOPK, n_full_scores=256, keep_best_cell=True)
    )
    sem = searcher.search(encode_queries(queries)).select("query_id", "doc_id", "score")
    kw = _bm25_index(spark, sf_dir).search(queries, k=3 * MAXSIM_TOPK).select(
        "query_id", "doc_id", "score"
    )
    return fuse_relative_score(sem, kw, alpha=0.75, k=MAXSIM_TOPK).select(
        "query_id", "doc_id", "score", "rank"
    )


def q_hybrid_plaid_exact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K8 hybrid orchestration with the FUNNEL side in its exact
    configuration (n_probe = K, t_cs = −∞, survivor budget ≥ N): PLAID
    funnel fetch 3·k + BM25 fetch 3·k → relative-score fusion → top-k
    (handlers/search.rs:124-400). Unlike `hybrid_plaid_topk` (rows-only:
    the ANN side's loss is data-dependent), every stage here is
    deterministic and SQL-expressible — the oracle recomputes exact MaxSim
    over the sidecar quantized corpus, Okapi BM25, and min-max fusion, so
    the whole hybrid orchestration (over-fetch, per-list normalization,
    α-blend, tie-breaks) is hash-checked end-to-end."""
    from next_plaid_spark.operators.fusion import fuse_relative_score
    from next_plaid_spark.plans.searcher import BatchSearcher, SearchParams

    idx = _plaid_index(spark, sf_dir)
    _write_exact_oracle_sidecar(idx)

    docs = _t(spark, sf_dir, "documents")
    queries = docs.filter(F.col("doc_id") < N_SELF_QUERIES).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    n_docs = idx.meta.num_documents
    searcher = BatchSearcher(idx, SearchParams(
        top_k=3 * MAXSIM_TOPK,
        n_ivf_probe=idx.meta.k,
        n_full_scores=4 * n_docs,
        centroid_score_threshold=float("-inf"),
    ))
    sem = searcher.search(encode_queries(queries)).select("query_id", "doc_id", "score")
    kw = _bm25_index(spark, sf_dir).search(queries, k=3 * MAXSIM_TOPK).select(
        "query_id", "doc_id", "score"
    )
    return fuse_relative_score(sem, kw, alpha=0.75, k=MAXSIM_TOPK).select(
        "query_id", "doc_id", "score", "rank"
    )


def q_monthly_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-month rollup over lineitem (timestamp calendar-math parity;
    l_shipdate is a microsecond TIMESTAMP_NTZ — only events uses NANOS)."""
    li = _t(spark, sf_dir, "lineitem")
    month = F.to_date(F.date_trunc("month", F.col("l_shipdate"))).alias("ship_month")
    return li.groupBy(month).agg(
        F.count("*").alias("n_items"),
        F.round(F.sum("l_quantity"), 2).alias("total_qty"),
    )


SQL_MONTHLY_SHIPMENTS = """
SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
       count(*) AS n_items,
       round(sum(l_quantity), 2) AS total_qty
FROM lineitem GROUP BY 1
""".strip()


# ---------------------------------------------------------------------------
# Update/delete paths, oracle-checked through their post-state: the final
# doclens of a real append (build on a prefix, append the rest) and of a
# delete must equal trivially-SQL-computable token counts (U4/U5 end-to-end;
# the pipeline side-effects go to a temp dir).
# ---------------------------------------------------------------------------

UPDATE_SPLIT = 100
UPDATE_END = 130
DELETE_IDS = tuple(range(10))


def q_update_append_doclens(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from next_plaid_spark.operators.update import update_index
    from next_plaid_spark.plans.builder import IndexBuilder

    docs = _t(spark, sf_dir, "documents")
    base_tokens = encode_documents(docs.filter(F.col("doc_id") < UPDATE_SPLIT))
    new_tokens = encode_documents(
        docs.filter((F.col("doc_id") >= UPDATE_SPLIT) & (F.col("doc_id") < UPDATE_END))
    )
    root = tempfile.mkdtemp(prefix="plaid_upd_")
    idx = IndexBuilder(spark, nbits=4, seed=42).build(base_tokens, f"{root}/v0")
    idx2 = update_index(spark, idx, new_tokens, f"{root}/v1")
    return idx2.doclens.select("doc_id", "num_tokens")


def sql_update_append_doclens() -> str:
    return f"""
SELECT doc_id,
       least(len(list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT_RE}'), x -> x <> '')), 48) AS num_tokens
FROM documents WHERE doc_id < {UPDATE_END}
  AND len(list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT_RE}'), x -> x <> '')) > 0
""".strip()


def q_delete_survivor_doclens(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from next_plaid_spark.operators.update import delete_from_index
    from next_plaid_spark.plans.builder import IndexBuilder

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < UPDATE_SPLIT)
    root = tempfile.mkdtemp(prefix="plaid_del_")
    idx = IndexBuilder(spark, nbits=4, seed=42).build(encode_documents(docs), f"{root}/v0")
    idx2 = delete_from_index(spark, idx, list(DELETE_IDS), f"{root}/v1")
    return idx2.doclens.select("doc_id", "num_tokens")


def q_delta_update_doclens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused bucket-aware delete+append (``update_index_delta``): one
    snapshot hop drops DELETE_IDS and appends [UPDATE_SPLIT, UPDATE_END)
    on a doc_id-BUCKETED index, rewriting only the buckets that own a
    deleted/appended doc and hardlinking the clean ones. Value contract
    identical to delete_from_index + update_index (pytest pins the full
    tokens/doc_stats equivalence; this gate hash-checks the surviving
    doclens against the raw corpus)."""
    import tempfile

    from next_plaid_spark.operators.update import update_index_delta
    from next_plaid_spark.plans.builder import IndexBuilder

    docs = _t(spark, sf_dir, "documents")
    base_tokens = encode_documents(docs.filter(F.col("doc_id") < UPDATE_SPLIT))
    new_tokens = encode_documents(
        docs.filter((F.col("doc_id") >= UPDATE_SPLIT) & (F.col("doc_id") < UPDATE_END))
    )
    root = tempfile.mkdtemp(prefix="plaid_delta_")
    idx = IndexBuilder(spark, nbits=4, seed=42, bucket_tokens=32).build(
        base_tokens, f"{root}/v0")
    gone = local_df(spark, [(int(i),) for i in DELETE_IDS], "doc_id long")
    idx2 = update_index_delta(spark, idx, gone, new_tokens, f"{root}/v1")
    return idx2.doclens.select("doc_id", "num_tokens")


def sql_delta_update_doclens() -> str:
    ids = ", ".join(str(i) for i in DELETE_IDS)
    return f"""
SELECT doc_id,
       least(len(list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT_RE}'), x -> x <> '')), 48) AS num_tokens
FROM documents
WHERE ((doc_id < {UPDATE_SPLIT} AND doc_id NOT IN ({ids}))
       OR (doc_id >= {UPDATE_SPLIT} AND doc_id < {UPDATE_END}))
  AND len(list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT_RE}'), x -> x <> '')) > 0
""".strip()


def sql_delete_survivor_doclens() -> str:
    ids = ", ".join(str(i) for i in DELETE_IDS)
    return f"""
SELECT doc_id,
       least(len(list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT_RE}'), x -> x <> '')), 48) AS num_tokens
FROM documents WHERE doc_id < {UPDATE_SPLIT} AND doc_id NOT IN ({ids})
  AND len(list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT_RE}'), x -> x <> '')) > 0
""".strip()


# ---------------------------------------------------------------------------
# Set operations (§2.9): INTERSECT/EXCEPT over metadata values
# ---------------------------------------------------------------------------

def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    en = docs.filter(F.col("lang") == "en").select("source").distinct()
    fr = docs.filter(F.col("lang") == "fr").select("source").distinct()
    return en.intersect(fr).unionByName(
        en.exceptAll(fr).withColumn("source", F.concat(F.lit("only_en:"), "source"))
    )


SQL_SOURCE_OVERLAP = """
SELECT source FROM (
  SELECT DISTINCT source FROM documents WHERE lang = 'en'
  INTERSECT
  SELECT DISTINCT source FROM documents WHERE lang = 'fr'
)
UNION ALL
SELECT concat('only_en:', source) AS source FROM (
  SELECT DISTINCT source FROM documents WHERE lang = 'en'
  EXCEPT
  SELECT DISTINCT source FROM documents WHERE lang = 'fr'
)
""".strip()


# ---------------------------------------------------------------------------
# Single-vector similarity search — exact cosine top-k (extension operator)
# ---------------------------------------------------------------------------

COSINE_N_QUERIES = 10
COSINE_TOPK = 10


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < COSINE_N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return cosine_topk(emb, queries, k=COSINE_TOPK).select(
        "query_id", "vec_id", "cos_sim", "rank"
    )


def sql_cosine_topk(n_queries: int = COSINE_N_QUERIES, k: int = COSINE_TOPK) -> str:
    # Identical fold order to functions/vector.py: products left-to-right,
    # norms as Σ v*v left-to-right, cos = dot/(na*nb).
    dot = "list_reduce(list_prepend(0.0, list_transform(range(1, len(q.v) + 1), i -> CAST(q.v[i] AS DOUBLE) * CAST(c.v[i] AS DOUBLE))), (a,b) -> a+b)"
    norm = "sqrt(list_reduce(list_prepend(0.0, list_transform({arr}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a,b) -> a+b))"
    nq, nc = norm.format(arr="q.v"), norm.format(arr="c.v")
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS v FROM embeddings WHERE vec_id < {n_queries}
),
c AS (
  SELECT vec_id, embedding AS v FROM embeddings
),
scored AS (
  SELECT q.query_id, c.vec_id,
         CASE WHEN {nq} = 0.0 OR {nc} = 0.0 THEN 0.0
              ELSE {dot} / ({nq} * {nc}) END AS cos_sim
  FROM c CROSS JOIN q
),
ranked AS (
  SELECT query_id, vec_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cos_sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k}
""".strip()


# ---------------------------------------------------------------------------
# Filtered search (SURVEY §2.2 F1/F2/F9): metadata predicate → subset →
# subset-restricted semantic search. The predicate goes through the
# reference's WHERE-grammar validator before Catalyst sees it.
# ---------------------------------------------------------------------------

FILTER_COND = "lang = ? AND n_chars > ?"
FILTER_PARAMS = ["en", 250]


def q_filtered_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from next_plaid_spark.filtering import MetadataStore

    docs = _t(spark, sf_dir, "documents")
    subset = MetadataStore(docs).where_condition(FILTER_COND, FILTER_PARAMS)
    doc_tokens = _doc_tokens(spark, sf_dir).join(subset, "doc_id", "left_semi")
    queries = docs.filter(F.col("doc_id") < N_SELF_QUERIES).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    return brute_force_search(encode_queries(queries), doc_tokens, k=MAXSIM_TOPK).select(
        "query_id", "doc_id", "score", "rank"
    )


def sql_filtered_search_topk(dim: int = 16) -> str:
    from next_plaid_spark.filtering import bind_condition_duckdb

    pred = bind_condition_duckdb(FILTER_COND, FILTER_PARAMS)
    base = sql_maxsim_brute_topk(dim=dim)
    # restrict the document-token CTE to the metadata subset — same seam as
    # the Spark semi-join (search.rs:433-437 subset intersection)
    return base.replace(
        "    FROM documents\n  )\n),\nquery_toks",
        f"    FROM documents WHERE {pred}\n  )\n),\nquery_toks",
        1,
    )


def q_distinct_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 get_distinct_strings."""
    from next_plaid_spark.filtering import MetadataStore

    docs = _t(spark, sf_dir, "documents")
    return MetadataStore(docs).get_distinct_strings("lang")


SQL_DISTINCT_LANGS = "SELECT DISTINCT lang FROM documents WHERE lang IS NOT NULL"


# ---------------------------------------------------------------------------
# Keyword search (BM25) + hybrid fusion (SURVEY §2.5 K1/K3/K6/K7/K8)
# ---------------------------------------------------------------------------

BM25_TOPK = 10
FETCH_K = 3 * BM25_TOPK  # semantic/keyword over-fetch (handlers/search.rs:289-293)


def _doc_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.filter(F.col("doc_id") < N_SELF_QUERIES).select(
        F.col("doc_id").alias("query_id"), "text"
    )


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from next_plaid_spark.operators.bm25 import BM25Index

    docs = _t(spark, sf_dir, "documents")
    idx = _bm25_index(spark, sf_dir)
    return idx.search(_doc_queries(spark, sf_dir), k=BM25_TOPK).select(
        "query_id", "doc_id", "score", "rank"
    )


def sql_bm25_topk() -> str:
    from next_plaid_spark.operators.bm25 import bm25_oracle_sql

    return bm25_oracle_sql(
        n_queries=N_SELF_QUERIES, k=BM25_TOPK, split_re=TOKEN_SPLIT_RE
    )


def q_bm25_pruned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 with the r12 MaxScore prune ON (operators/bm25.py::search
    ``prune=True``): per-term upper bounds (stored term_stats.max_sat ×
    qtf·idf) certify docs matching only low-bound terms out of the top k
    before the per-doc aggregation. The prune is top-k-PRESERVING by
    construction, so the oracle is the IDENTICAL exhaustive BM25 SQL as
    ``bm25_topk`` — a hash-exact row here proves the cut changes nothing
    (scores, ranks, tie-breaks) while the common-term postings stay out
    of the shuffle. The FTS5/SQLite engine gets the same effect from its
    segment b-tree cursors skipping low-impact doclists; this is the
    block-max/max-score analog over parquet postings."""
    idx = _bm25_index(spark, sf_dir)
    return idx.search(
        _doc_queries(spark, sf_dir), k=BM25_TOPK, prune=True
    ).select("query_id", "doc_id", "score", "rank")


def q_bm25_fts5_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 in FTS5-parity mode: the exact bm25() SQLite computes (per-phrase
    idf with the 1e-6 floor, fts5_aux.c), positively oriented as the
    reference surfaces it (score = −bm25, text_search.rs:1246-1272), over
    the OR-joined query form colgrep sends (text_search.rs:982-1004)."""
    idx = _bm25_index(spark, sf_dir)
    return idx.search(
        _doc_queries(spark, sf_dir), k=BM25_TOPK, score_mode="fts5"
    ).select("query_id", "doc_id", "score", "rank")


def sql_bm25_fts5_topk() -> str:
    from next_plaid_spark.operators.bm25 import bm25_oracle_sql

    return bm25_oracle_sql(
        n_queries=N_SELF_QUERIES, k=BM25_TOPK, split_re=TOKEN_SPLIT_RE,
        score_mode="fts5",
    )


PHRASE_LEN = 3
PHRASE_EXTRAS = 2


def q_bm25_phrase_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3/K5 with FTS5 quoted-phrase semantics over positional postings:
    each query is its doc's first 3 tokens as ONE consecutive-token phrase
    plus 2 loose terms (`"t0 t1 t2" t3 t4`), parsed back through the
    quoted-phrase grammar and scored per FTS5 bm25 (phrase tf/df units,
    implicit AND between phrases — text_search.rs:1246-1272 runs raw MATCH
    strings FTS5-side; operators/bm25.py::search_phrases)."""
    from next_plaid_spark.functions.text import tokenize_unicode61

    idx = _bm25_index_pos(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    min_toks = PHRASE_LEN + PHRASE_EXTRAS
    qdf = (
        docs.filter(F.col("doc_id") < N_SELF_QUERIES)
        .select(
            F.col("doc_id").alias("query_id"),
            tokenize_unicode61(F.col("text")).alias("_toks"),
        )
        .filter(F.size("_toks") >= min_toks)
        .select(
            "query_id",
            F.concat(
                F.lit('"'),
                F.concat_ws(" ", F.slice("_toks", 1, PHRASE_LEN)),
                F.lit('" '),
                F.concat_ws(
                    " ", F.slice("_toks", PHRASE_LEN + 1, PHRASE_EXTRAS)
                ),
            ).alias("text"),
        )
    )
    return idx.search_phrases(qdf, k=BM25_TOPK).select(
        "query_id", "doc_id", "score", "rank"
    )


def _sql_bm25_phrase_topk() -> str:
    from next_plaid_spark.operators.bm25 import bm25_phrase_oracle_sql

    return bm25_phrase_oracle_sql(
        n_queries=N_SELF_QUERIES, k=BM25_TOPK, split_re=TOKEN_SPLIT_RE,
        phrase_len=PHRASE_LEN, n_extras=PHRASE_EXTRAS,
    )


def _hybrid_lists(spark: SparkSession, sf_dir: str):
    queries = _doc_queries(spark, sf_dir)
    sem = brute_force_search(
        encode_queries(queries), _doc_tokens(spark, sf_dir), k=FETCH_K
    ).select("query_id", "doc_id", "score")
    kw = _bm25_index(spark, sf_dir).search(queries, k=FETCH_K).select(
        "query_id", "doc_id", "score"
    )
    return sem, kw


def q_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from next_plaid_spark.operators.fusion import hybrid_search

    sem, kw = _hybrid_lists(spark, sf_dir)
    # hybrid_search adds K8 degradation routing; on this corpus every query
    # has both sides, so the result (and the oracle SQL) is pure fusion
    return hybrid_search(sem, kw, mode="rrf", alpha=0.75, k=BM25_TOPK).select(
        "query_id", "doc_id", "score", "rank"
    )


def q_hybrid_relative_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from next_plaid_spark.operators.fusion import hybrid_search

    sem, kw = _hybrid_lists(spark, sf_dir)
    return hybrid_search(sem, kw, mode="relative_score", alpha=0.75, k=BM25_TOPK).select(
        "query_id", "doc_id", "score", "rank"
    )


def _sql_hybrid_lists_cte(dim: int = 16, exact_sidecar: str | None = None,
                          sem_funnel: bool = False) -> str:
    """CTE prefix producing sem_list / kw_list (query_id, doc_id, score, r),
    both cut at FETCH_K — mirrors _hybrid_lists. With ``exact_sidecar``
    set, the semantic side scores the decompressed quantized corpus the
    exact-funnel Spark entries just wrote (aliased ``dt`` so the dots body
    is shared) — mirroring the exact-config funnel instead of brute force
    over the raw encoder output. With ``sem_funnel``, the semantic side is
    the full APPROXIMATE funnel (_sql_plaid_funnel_ctes) at fetch depth
    FETCH_K — mirroring q_hybrid_plaid_topk's searcher."""
    from next_plaid_spark.operators.bm25 import B, K1, SCORE_DECIMALS

    maxsim = _sql_tokens_cte(dim, 48, 8, N_SELF_QUERIES)
    if sem_funnel:
        sem_ctes = f"""
{_sql_plaid_funnel_ctes(top_k=FETCH_K, dim=dim)},
sem_list AS (
  SELECT query_id, doc_id, score, rank AS r
  FROM f_ranked WHERE rank <= {FETCH_K}
),
""".strip()
    else:
        if exact_sidecar is not None:
            sem_from = f"FROM qt CROSS JOIN (SELECT doc_id, vec FROM '{exact_sidecar}/*.parquet') dt"
        else:
            sem_from = "FROM qt CROSS JOIN dt"
        sem_ctes = f"""
dots AS (
  SELECT qt.query_id, dt.doc_id, qt.token_idx AS q_token_idx,
         list_reduce(list_transform(range(1, {dim + 1}), i -> qt.vec[i] * dt.vec[i]), (a, b) -> a + b) AS dp
  {sem_from}
),
per_qtoken AS (
  SELECT query_id, doc_id, q_token_idx, max(dp) AS max_dp FROM dots GROUP BY 1, 2, 3
),
sem_scored AS (
  SELECT query_id, doc_id,
         list_reduce(list_prepend(0.0, list_sort(list(max_dp))), (a, b) -> a + b) AS score
  FROM per_qtoken GROUP BY 1, 2
),
sem_list AS (
  SELECT * FROM (
    SELECT query_id, doc_id, score,
           row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS r
    FROM sem_scored
  ) WHERE r <= {FETCH_K}
),
""".strip()
    return f"""
{maxsim},
{sem_ctes}
kw_tok AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT_RE}'), x -> x <> '')) AS term
  FROM documents
),
kw_postings AS (SELECT term, doc_id, count(*) AS tf FROM kw_tok GROUP BY 1, 2),
kw_doclens AS (SELECT doc_id, count(*) AS dl FROM kw_tok GROUP BY 1),
kw_stats AS (SELECT count(*) AS n, sum(dl) / count(*) AS avgdl FROM kw_doclens),
kw_dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM kw_postings GROUP BY 1),
kw_qterms AS (
  SELECT query_id, term, count(*) AS qtf FROM (
    SELECT doc_id AS query_id, unnest(list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT_RE}'), x -> x <> '')) AS term
    FROM documents WHERE doc_id < {N_SELF_QUERIES}
  ) GROUP BY 1, 2
),
kw_contribs AS (
  SELECT q.query_id, p.doc_id,
         q.qtf * ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
               * (p.tf * {K1 + 1.0}) / (p.tf + {K1} * (1.0 - {B} + {B} * l.dl / s.avgdl)) AS contrib
  FROM kw_qterms q
  JOIN kw_postings p USING (term)
  JOIN kw_dfreq d USING (term)
  JOIN kw_doclens l ON p.doc_id = l.doc_id
  CROSS JOIN kw_stats s
),
kw_scored AS (
  SELECT query_id, doc_id,
         round(list_reduce(list_prepend(0.0, list_sort(list(contrib))), (a, b) -> a + b), {SCORE_DECIMALS}) AS score
  FROM kw_contribs GROUP BY 1, 2
),
kw_list AS (
  SELECT * FROM (
    SELECT query_id, doc_id, score,
           row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS r
    FROM kw_scored
  ) WHERE r <= {FETCH_K}
)
""".strip()


def sql_hybrid_rrf_topk(alpha: float = 0.75, k: int = BM25_TOPK) -> str:
    return f"""
{_sql_hybrid_lists_cte()},
fused AS (
  SELECT coalesce(s.query_id, w.query_id) AS query_id,
         coalesce(s.doc_id, w.doc_id) AS doc_id,
         coalesce({alpha} / (60.0 + s.r), 0.0) + coalesce({1.0 - alpha} / (60.0 + w.r), 0.0) AS score
  FROM sem_list s FULL OUTER JOIN kw_list w
    ON s.query_id = w.query_id AND s.doc_id = w.doc_id
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM fused
)
SELECT query_id, doc_id, score, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= {k}
""".strip()


def sql_hybrid_relative_topk(alpha: float = 0.75, k: int = BM25_TOPK,
                             exact_sidecar: str | None = None,
                             sem_funnel: bool = False) -> str:
    norm = """
  SELECT query_id, doc_id,
         CASE WHEN max(score) OVER (PARTITION BY query_id) = min(score) OVER (PARTITION BY query_id)
              THEN 1.0
              ELSE (score - min(score) OVER (PARTITION BY query_id))
                   / (max(score) OVER (PARTITION BY query_id) - min(score) OVER (PARTITION BY query_id))
         END AS n
  FROM {src}
"""
    return f"""
{_sql_hybrid_lists_cte(exact_sidecar=exact_sidecar, sem_funnel=sem_funnel)},
sem_norm AS ({norm.format(src="sem_list")}),
kw_norm AS ({norm.format(src="kw_list")}),
fused AS (
  SELECT coalesce(s.query_id, w.query_id) AS query_id,
         coalesce(s.doc_id, w.doc_id) AS doc_id,
         {alpha} * coalesce(s.n, 0.0) + {1.0 - alpha} * coalesce(w.n, 0.0) AS score
  FROM sem_norm s FULL OUTER JOIN kw_norm w
    ON s.query_id = w.query_id AND s.doc_id = w.doc_id
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM fused
)
SELECT query_id, doc_id, score, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= {k}
""".strip()


# ---------------------------------------------------------------------------
# Trigram (substring) BM25 — K1's trigram tokenizer end-to-end
# ---------------------------------------------------------------------------

def q_bm25_trigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from next_plaid_spark.operators.bm25 import BM25Index

    docs = _t(spark, sf_dir, "documents")
    idx = _bm25_index(spark, sf_dir, tokenizer="trigram")
    # short substring-ish queries: first 12 chars of each query doc's text
    queries = docs.filter(F.col("doc_id") < N_SELF_QUERIES).select(
        F.col("doc_id").alias("query_id"), F.substring("text", 1, 12).alias("text")
    )
    return idx.search(queries, k=BM25_TOPK).select("query_id", "doc_id", "score", "rank")


def sql_bm25_trigram_topk() -> str:
    from next_plaid_spark.operators.bm25 import B, K1, SCORE_DECIMALS

    trigram = """
  SELECT doc_id, substr(t, i, 3) AS term
  FROM (SELECT doc_id, lower({src}) AS t FROM documents {where}),
       unnest(range(1, greatest(length(t) - 2, 0) + 1)) AS r(i)
"""
    doc_tok = trigram.format(src="text", where="")
    q_tok = trigram.format(
        src="substr(text, 1, 12)", where=f"WHERE doc_id < {N_SELF_QUERIES}"
    ).replace("doc_id,", "doc_id AS query_id,", 1).replace(
        "SELECT doc_id AS query_id", "SELECT doc_id AS query_id", 1
    )
    return f"""
WITH tok AS (
{doc_tok}),
postings AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2),
doclens AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
stats AS (SELECT count(*) AS n, sum(dl) / count(*) AS avgdl FROM doclens),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM postings GROUP BY 1),
qtok AS (
{q_tok}),
qterms AS (SELECT query_id, term, count(*) AS qtf FROM qtok GROUP BY 1, 2),
contribs AS (
  SELECT q.query_id, p.doc_id,
         q.qtf * ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
               * (p.tf * {K1 + 1.0}) / (p.tf + {K1} * (1.0 - {B} + {B} * l.dl / s.avgdl)) AS contrib
  FROM qterms q
  JOIN postings p USING (term)
  JOIN dfreq d USING (term)
  JOIN doclens l ON p.doc_id = l.doc_id
  CROSS JOIN stats s
),
scored AS (
  SELECT query_id, doc_id,
         round(list_reduce(list_prepend(0.0, list_sort(list(contrib))), (a, b) -> a + b), {SCORE_DECIMALS}) AS score
  FROM contribs GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, doc_id, score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {BM25_TOPK}
""".strip()


# ---------------------------------------------------------------------------
# Standalone rerank (Q12): exact MaxSim re-scoring of BM25 candidates
# ---------------------------------------------------------------------------

def q_rerank_bm25_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from next_plaid_spark.operators.rerank import rerank

    queries = _doc_queries(spark, sf_dir)
    kw = _bm25_index(spark, sf_dir).search(queries, k=FETCH_K).select("query_id", "doc_id")
    out = rerank(
        encode_queries(queries), _doc_tokens(spark, sf_dir), pairs=kw, top_k=BM25_TOPK
    )
    return out.select("query_id", "doc_id", "score", "rank")


def sql_rerank_bm25_candidates(dim: int = 16) -> str:
    return f"""
{_sql_hybrid_lists_cte(dim)},
pair_scores AS (
  SELECT s.query_id, s.doc_id, s.score
  FROM sem_scored s
  JOIN kw_list w ON s.query_id = w.query_id AND s.doc_id = w.doc_id
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM pair_scores
)
SELECT query_id, doc_id, score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {BM25_TOPK}
""".strip()


# ---------------------------------------------------------------------------
# Relational join/window coverage (§2.9): broadcast-dim star join + per-group
# top-k window over the TPC-H-ish tables
# ---------------------------------------------------------------------------

def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


SQL_REVENUE_BY_NATION = """
SELECT n_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY 1
""".strip()


def q_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k through the shuffle-bounded operator (map-side
    bounded prune, then the rank window on the pruned remainder —
    operators/topk_agg.py); bit-identical to the plain window the oracle
    SQL runs."""
    from next_plaid_spark.operators.topk_agg import grouped_topk

    orders = _t(spark, sf_dir, "orders")
    return grouped_topk(
        orders.select("o_custkey", "o_orderkey", "o_totalprice"),
        ["o_custkey"], "o_totalprice", 3, tie_cols=["o_orderkey"],
    ).select("o_custkey", "o_orderkey", "o_totalprice", "rank")


SQL_TOP_ORDERS_PER_CUSTOMER = """
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rk AS INT) AS rank
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders
) WHERE rk <= 3
""".strip()


# ---------------------------------------------------------------------------
# Exact deduplication (extension operator: hash-groupBy)
# ---------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.md5(F.col("text")).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").alias("dup_count"),
        )
        .filter(F.col("dup_count") > 1)
    )


SQL_DEDUP_EXACT = """
SELECT md5(text) AS text_hash,
       min(doc_id) AS canonical_doc_id,
       count(*) AS dup_count
FROM documents
GROUP BY 1
HAVING count(*) > 1
""".strip()


# ---------------------------------------------------------------------------
# Near-duplicate detection suite (extension operators; corpus has planted
# ~0.99-Jaccard duplicate pairs). Thresholds: jaccard 0.8 for "same doc",
# cosine 0.45 tuned to the synthetic embedding distribution (max ≈ 0.51).
# ---------------------------------------------------------------------------

def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from next_plaid_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), n=3, threshold=0.8)


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from next_plaid_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_t(spark, sf_dir, "documents"), threshold=0.0)


def q_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from next_plaid_spark.operators.dedup import simhash_fingerprints

    return simhash_fingerprints(_t(spark, sf_dir, "documents"))


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from next_plaid_spark.operators.dedup import simhash_near_pairs

    return simhash_near_pairs(_t(spark, sf_dir, "documents"), max_hamming=3)


def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing fingerprints (k=4 grams, w=4 windows) — the
    position-robust local-similarity fingerprint set (SIGMOD'03)."""
    from next_plaid_spark.operators.dedup import winnowing_fingerprints

    return winnowing_fingerprints(_t(spark, sf_dir, "documents"))


def _sql_winnowing() -> str:
    from next_plaid_spark.operators.dedup import sql_winnowing_fingerprints

    return sql_winnowing_fingerprints()


def q_dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing near-dup pairs: docs sharing ≥2 selected fingerprints
    (fp equi-join — no all-pairs)."""
    from next_plaid_spark.operators.dedup import winnowing_near_pairs

    return winnowing_near_pairs(_t(spark, sf_dir, "documents"), min_shared=2)


def _sql_dedup_winnowing() -> str:
    from next_plaid_spark.operators.dedup import sql_winnowing_near_pairs

    return sql_winnowing_near_pairs(min_shared=2)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs → keep-one-per-cluster: connected components (alternating
    large-star/small-star) over the jaccard ≥ 0.8 MinHash pairs, each doc
    labeled (cluster_rep, kept). The step pair lists alone can't express:
    A~B, B~C must keep exactly one of {A,B,C}."""
    from next_plaid_spark.operators.cluster import dedup_keep_canonical
    from next_plaid_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, threshold=0.8)
    return dedup_keep_canonical(docs, pairs)


_SPLITS = [("train", 0.8), ("val", 0.1), ("test", 0.1)]


def q_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/val/test split: the coin hashes each doc's
    duplicate-CLUSTER representative (CC over jaccard ≥ 0.8 MinHash pairs),
    so near-duplicates can never straddle the eval boundary."""
    from next_plaid_spark.operators.cluster import leakage_free_split
    from next_plaid_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, threshold=0.8)
    return leakage_free_split(docs, pairs, _SPLITS)


def _sql_leakage_split() -> str:
    from next_plaid_spark.operators.cluster import sql_leakage_free_split
    from next_plaid_spark.operators.dedup import sql_minhash_lsh_pairs

    return sql_leakage_free_split(
        sql_minhash_lsh_pairs(threshold=0.8), _SPLITS
    )


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from next_plaid_spark.operators.dedup import embedding_near_dup_pairs

    return embedding_near_dup_pairs(_t(spark, sf_dir, "embeddings"), threshold=0.45, dim=64)


SPAN_K, SPAN_MIN_LEN = 8, 12


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-span extraction (Lee et al. 2021 substring-dedup
    signal): longest exactly-shared token run per doc pair, as a pure
    relational plan — positional k-gram equi-join + diagonal gap-islands.
    No suffix arrays, no UDFs, no all-pairs."""
    from next_plaid_spark.operators.dedup import duplicate_spans

    return duplicate_spans(_t(spark, sf_dir, "documents"),
                           k=SPAN_K, min_len=SPAN_MIN_LEN)


def _sql_duplicate_spans() -> str:
    from next_plaid_spark.operators.dedup import sql_duplicate_spans

    return sql_duplicate_spans(k=SPAN_K, min_len=SPAN_MIN_LEN)


SEMDEDUP_CELLS = 32
SEMDEDUP_THRESHOLD = 0.4  # synthetic 64-d embeddings are near-orthogonal


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus incremental dedup (the dump-N+1 problem): docs with
    doc_id % 5 == 0 are the NEW batch, the rest the EXISTING corpus; each
    new doc reports its best old near-duplicate at Jaccard ≥ 0.5 via the
    band-ledger equi-join — old–old pairs are never formed."""
    from next_plaid_spark.operators.dedup import dedup_against

    docs = _t(spark, sf_dir, "documents")
    return dedup_against(
        docs.filter(F.col("doc_id") % 5 == 0),
        docs.filter(F.col("doc_id") % 5 != 0),
        threshold=0.5,
    )


def _sql_dedup_incremental() -> str:
    from next_plaid_spark.operators.dedup import sql_dedup_against

    return sql_dedup_against(
        threshold=0.5,
        new_where="WHERE doc_id % 5 = 0",
        old_where="WHERE doc_id % 5 <> 0",
    )


def q_dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership screen (same dump-N+1 split as
    ``dedup_incremental``): each new doc's shingle hit-ratio against the
    old corpus's CONSTANT-SIZE (≤ 2^20 set-bit rows, broadcast) Bloom
    filter — the Dolma/CCNet-style approximate pre-screen whose state does
    not grow with |old|, run before the exact band-ledger pass. n=5 word
    shingles: on this corpus the planted near-dups sit at hit_ratio ≥ 0.96
    while everything else is ≤ 0.02 — crisp one-sided separation."""
    from next_plaid_spark.operators.dedup import bloom_dedup_against

    docs = _t(spark, sf_dir, "documents")
    return bloom_dedup_against(
        docs.filter(F.col("doc_id") % 5 == 0),
        docs.filter(F.col("doc_id") % 5 != 0),
        n=5,
        threshold=0.5,
    )


def _sql_dedup_bloom() -> str:
    from next_plaid_spark.operators.dedup import sql_bloom_dedup_against

    return sql_bloom_dedup_against(
        n=5,
        threshold=0.5,
        new_where="WHERE doc_id % 5 = 0",
        old_where="WHERE doc_id % 5 <> 0",
    )


def q_dedup_bloom_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming Bloom screen END-TO-END through the sink (U8/S8 +
    the Dolma-style cross-dump screen, documents.rs:249-282's ingestion
    queue re-expressed): three deterministic batches of ``documents``
    (doc_id % 3) flow through ``StreamingBloomDedup.process_batch`` with
    the r13 in-flight compaction ON (``vacuum_every=2`` — batch 2 folds
    the prior-committed kept dirs and ledger deltas mid-stream), and the
    result is the kept doc_id set read back through ``kept()``. The
    oracle folds the SAME screen in DuckDB (bits of kept-so-far, probe,
    threshold ≥ 0.5 over n=5 shingles), so the sink's versioned ledger,
    replay-exclusion reads, mid-stream fold, and kept-reader all sit on
    the hash path — not just under pytest."""
    import tempfile

    from next_plaid_spark.streaming.curation import StreamingBloomDedup

    docs = _t(spark, sf_dir, "documents")
    root = tempfile.mkdtemp(prefix="bloom_stream_gate_")
    dd = StreamingBloomDedup(spark, root, threshold=0.5, n=5,
                             vacuum_every=2)
    for i in range(3):
        dd.process_batch(docs.filter(F.col("doc_id") % 3 == i), i)
    return dd.kept().select("doc_id").orderBy("doc_id")


def _sql_dedup_bloom_stream() -> str:
    from next_plaid_spark.operators.dedup import sql_bloom_screen_fold

    return sql_bloom_screen_fold(
        n=5,
        threshold=0.5,
        batch_wheres=[f"WHERE doc_id % 3 = {i}" for i in range(3)],
    )


def q_dedup_bloom_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counting-mode retract END-TO-END through the sink (r14, the 94th
    gate entry): three batches flow through ``StreamingBloomDedup``
    (counting=True, with the counting-mode in-flight compaction firing
    at batch 2 via ``vacuum_every=2``), a takedown retracts the kept
    docs of a sub-corpus (``doc_id % 6 = 1``), and a fourth batch
    re-ingests the docs the stream had SCREENED OUT. Discriminative
    both ways: the retracted ids must leave the kept set, and a flagged
    doc re-enters iff the content covering its shingles was retracted —
    at sf0.01 that's 83 ids out and 4 back in; a no-op retract would
    return the unretracted 483. Retract must decrement the counting
    ledger (strict underflow validation) so the screen's bit set equals
    the SURVIVORS' — the quiescence-contract logic the r13 verdict
    asked to pin with a DuckDB fold oracle (index.rs:1823-1843's
    delete-vs-rebuild economy, in streaming form)."""
    import tempfile

    from next_plaid_spark.streaming.curation import StreamingBloomDedup

    docs = _t(spark, sf_dir, "documents")
    root = tempfile.mkdtemp(prefix="bloom_retract_gate_")
    dd = StreamingBloomDedup(spark, root, threshold=0.5, n=5,
                             counting=True, vacuum_every=2)
    for i in range(3):
        dd.process_batch(docs.filter(F.col("doc_id") % 3 == i), i)
    # the screened-out set, materialized BEFORE retract rewrites kept/
    # (bounded by the screen rate, never by corpus size)
    flagged_ids = [
        r.doc_id for r in docs.join(dd.kept().select("doc_id"),
                                    "doc_id", "left_anti")
        .select("doc_id").collect()
    ]
    dd.retract(docs.filter(F.col("doc_id") % 6 == 1))
    dd.process_batch(docs.filter(F.col("doc_id").isin(flagged_ids)), 3)
    return dd.kept().select("doc_id").orderBy("doc_id")


def _sql_dedup_bloom_retract() -> str:
    from next_plaid_spark.operators.dedup import sql_bloom_screen_retract_fold

    return sql_bloom_screen_retract_fold(
        n=5,
        threshold=0.5,
        batch_wheres=[f"WHERE doc_id % 3 = {i}" for i in range(3)],
        retract_where="WHERE doc_id % 6 = 1",
    )


def q_curate_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation intake gate END-TO-END through the streaming sink:
    the train split flows through ``StreamingCurator.process_batch`` in
    three doc_id-ORDERED range batches (exact fp dedup against the
    cross-batch ledger + decontamination vs the src0 benchmark shard),
    and the result is the kept doc_id set read back through ``kept()``.
    For id-ordered arrival the stream's first-arrival-wins dedup
    coincides with batch min-doc_id-wins (the stream≡batch theorem,
    tests/test_streaming_curation.py), so the oracle is simply the BATCH
    semantics in SQL — the sink's per-batch ledger state, replay-
    exclusion reads, and kept-reader all sit on the hash path."""
    import tempfile

    from next_plaid_spark.streaming.curation import StreamingCurator

    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(F.col("source") != EVAL_SOURCE)
    root = tempfile.mkdtemp(prefix="curate_stream_gate_")
    cur = StreamingCurator(
        spark, root,
        eval_docs=docs.filter(F.col("source") == EVAL_SOURCE),
        n=3, max_contamination=CURATE_C_MAX,
        vacuum_every=2,  # r14: the curator's mid-stream generational fold
    )                    # sits on the hash path, like dedup_bloom_stream's
    mx = train.agg(F.max("doc_id")).first()[0]
    step = mx // 3 + 1
    for i in range(3):
        cur.process_batch(
            train.filter((F.col("doc_id") >= i * step)
                         & (F.col("doc_id") < (i + 1) * step)), i)
    return cur.kept().select("doc_id").orderBy("doc_id")


def _sql_curate_stream() -> str:
    from next_plaid_spark.operators.corpus import sql_contamination
    from next_plaid_spark.operators.textstats import sql_fingerprint

    return f"""
WITH fp_all AS (
{sql_fingerprint()}
),
tr AS (
  SELECT f.doc_id, f.fp
  FROM fp_all f JOIN documents d USING (doc_id)
  WHERE d.source <> '{EVAL_SOURCE}'
),
first AS (
  SELECT doc_id FROM (
    SELECT doc_id, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM tr
  ) WHERE rn = 1
),
cont AS (
  SELECT doc_id FROM (
{sql_contamination(eval_source=EVAL_SOURCE, n=3)}
  ) WHERE contamination > {CURATE_C_MAX}
)
SELECT doc_id FROM first
WHERE doc_id NOT IN (SELECT doc_id FROM cont)
ORDER BY doc_id
""".strip()


def q_scrub_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup materialized (Lee et al. '21 keep-first):
    corpus rewritten with every non-first occurrence of a duplicated
    8-token span removed; reports rebuilt text + drop counts."""
    from next_plaid_spark.operators.dedup import scrub_duplicate_spans

    return scrub_duplicate_spans(_t(spark, sf_dir, "documents"), k=8)


def _sql_scrub_spans() -> str:
    from next_plaid_spark.operators.dedup import sql_scrub_duplicate_spans

    return sql_scrub_duplicate_spans(k=8)


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup removal set (Abbas et al. 2023): cluster-bounded semantic
    dedup — Voronoi cells from hash-seeded centers, within-cell cosine ≥
    threshold pairs, keep the member farther from the center. The
    oracle-exact cell strategy; production k-means cells are pytest-gated
    (tests/test_dedup.py)."""
    from next_plaid_spark.operators.dedup import semdedup_removals

    return semdedup_removals(
        _t(spark, sf_dir, "embeddings"),
        n_cells=SEMDEDUP_CELLS, threshold=SEMDEDUP_THRESHOLD,
    )


def _sql_semdedup() -> str:
    from next_plaid_spark.operators.dedup import sql_semdedup_removals

    return sql_semdedup_removals(
        n_cells=SEMDEDUP_CELLS, threshold=SEMDEDUP_THRESHOLD)


# ---------------------------------------------------------------------------
# Corpus curation: decontamination, repetition stats, mixture sampling
# ---------------------------------------------------------------------------

EVAL_SOURCE = "src0"  # the synthetic corpus' stand-in benchmark shard
SAMPLE_RATES = {"src1": 0.5, "src2": 0.25, "src3": 1.0, "src4": 0.1}


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination: flag training docs (source ≠ src0) by
    their 3-gram overlap with the benchmark shard (source = src0)."""
    from next_plaid_spark.operators.corpus import contamination

    docs = _t(spark, sf_dir, "documents")
    return contamination(
        docs.filter(F.col("source") != EVAL_SOURCE),
        docs.filter(F.col("source") == EVAL_SOURCE),
        n=3,
    )


MULTI_EVAL_SOURCES = ("src0", "src1")


def q_decontaminate_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Screen the train split against TWO named benchmark shards in one
    corpus pass (labeled broadcast shingle union)."""
    from next_plaid_spark.operators.corpus import contamination_multi

    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(~F.col("source").isin(*MULTI_EVAL_SOURCES))
    evals = docs.filter(F.col("source").isin(*MULTI_EVAL_SOURCES)).select(
        F.col("source").alias("eval_name"), "text"
    )
    return contamination_multi(train, evals, n=3)


def q_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus profile — the first job any curation run does:
    doc counts, volume, exact length quantiles (SURVEY §2.9: exact
    percentile, linear interpolation ≡ np.quantile ≡ DuckDB
    quantile_cont; one map-side-combinable agg per source)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.percentile("n_chars", F.lit(0.5)).alias("median_chars"),
        F.percentile("n_chars", F.lit(0.9)).alias("p90_chars"),
    )


SQL_CORPUS_PROFILE = """
SELECT source,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       quantile_cont(n_chars, 0.5) AS median_chars,
       quantile_cont(n_chars, 0.9) AS p90_chars
FROM documents
GROUP BY source
""".strip()


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from next_plaid_spark.operators.corpus import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"))


def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE round-0 merge candidates: top adjacent character pairs."""
    from next_plaid_spark.operators.corpus import bpe_pair_counts

    return bpe_pair_counts(_t(spark, sf_dir, "documents"), top_n=50)


def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal decode stage end-to-end over synthesized binary
    assets (payload = utf-8 text bytes → no magic bytes → the
    deterministic md5-derived fallback, codec='stub'), so this oracle can
    recompute the exact same values in DuckDB and hash-check the whole
    Arrow-batched mapInPandas plumbing (schema, batching, null handling).
    The REAL WAV/PNG/BMP/PPM decoders are pinned by golden-value pytest
    gates over constructed payloads (tests/test_colgrep_rerank_multimodal)."""
    from next_plaid_spark.operators.multimodal import decode_media, synthesize_assets

    docs = _t(spark, sf_dir, "documents")
    return decode_media(synthesize_assets(docs))


SQL_MEDIA_DECODE = """
SELECT doc_id AS asset_id,
       'image' AS media_type,
       'stub' AS codec,
       CAST(64 + CAST(concat('0x', substr(md5(text), 1, 2)) AS INT) % 192 AS INT) AS width,
       CAST(64 + CAST(concat('0x', substr(md5(text), 3, 2)) AS INT) % 192 AS INT) AS height,
       3 AS channels,
       CAST(NULL AS INT) AS sample_rate,
       CAST(NULL AS BIGINT) AS n_samples,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5
FROM documents
""".strip()


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal feature stage over the same synthesized assets
    (stub path: first 8 md5 digest bytes / 256 — recomputable in DuckDB,
    hash-checking the Arrow feature plumbing; the REAL image/audio
    statistics are pinned by the golden-payload pytest gates).

    Gate shape: the ARRAY<DOUBLE> feature column is posexploded to
    scalar `(asset_id, dim_idx, value)` rows — the driver's canonicalizer
    sorts columns with pandas and cannot hash list cells (the one red row
    in CORRECTNESS_r06); the array-returning API is `extract_features`
    itself, pinned by tests/test_multimodal.py."""
    from next_plaid_spark.operators.multimodal import (
        extract_features, synthesize_assets)

    docs = _t(spark, sf_dir, "documents")
    feats = extract_features(synthesize_assets(docs), dim=8)
    return feats.select(
        "asset_id",
        F.posexplode("feature").alias("dim_idx", "value"),
    )


SQL_MEDIA_FEATURES = """
SELECT doc_id AS asset_id,
       CAST(i AS INT) AS dim_idx,
       CAST(CAST(concat('0x', substr(md5(text), 2 * i + 1, 2)) AS INT) AS DOUBLE) / 256.0 AS value
FROM documents, range(0, 8) t(i)
""".strip()


BM25_AND_QUERY_TOKENS = 2


def q_bm25_and_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5's space-joined implicit-AND query form end-to-end: 2-token
    queries, docs must contain BOTH terms (sanitize_fts5_query semantics,
    text_search.rs:949-981), FTS5-parity scoring."""
    docs = _t(spark, sf_dir, "documents")
    idx = _bm25_index(spark, sf_dir)
    queries = docs.filter(F.col("doc_id") < N_SELF_QUERIES).select(
        F.col("doc_id").alias("query_id"),
        F.array_join(
            F.slice(tokenize_unicode61(F.col("text")), 1, BM25_AND_QUERY_TOKENS), " "
        ).alias("text"),
    )
    return idx.search(
        queries, k=BM25_TOPK, score_mode="fts5", conjunctive=True
    ).select("query_id", "doc_id", "score", "rank")


def sql_bm25_and_topk() -> str:
    from next_plaid_spark.operators.bm25 import bm25_oracle_sql

    return bm25_oracle_sql(
        n_queries=N_SELF_QUERIES, k=BM25_TOPK, split_re=TOKEN_SPLIT_RE,
        query_max_tokens=BM25_AND_QUERY_TOKENS, score_mode="fts5",
        conjunctive=True,
    )


BPE_SIDECAR = _ORACLE_SIDECAR_ROOT + "/bpe_pieces"
BPE_N_MERGES = 50


def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE tokenizer train + apply (Sennrich '16): learn 50 merges
    from the corpus word-frequency table (deterministic driver loop —
    iterative, non-SQL-expressible), then count BPE tokens per doc via a
    broadcast (word → n_pieces) join. The trained segmentation table is
    written as a sidecar so DuckDB hash-checks the DISTRIBUTED part (the
    explode + join + per-doc sum) exactly; the training loop itself is
    gated by an independent-reference pytest."""
    from next_plaid_spark.operators.corpus import (
        bpe_token_counts,
        bpe_word_pieces,
        train_bpe,
    )

    docs = _t(spark, sf_dir, "documents")
    merges = train_bpe(docs, n_merges=BPE_N_MERGES)
    local_df(
        spark, bpe_word_pieces(docs, merges), "term string, n_pieces int"
    ).write.mode("overwrite").parquet(BPE_SIDECAR)
    return bpe_token_counts(docs, merges)


SQL_BPE_TOKENIZE = f"""
WITH pieces AS (
  SELECT term, n_pieces FROM '{BPE_SIDECAR}/*.parquet'
),
tok AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT_RE}'), x -> x <> '')) AS term
  FROM documents
)
SELECT t.doc_id,
       CAST(sum(coalesce(p.n_pieces, length(t.term))) AS BIGINT) AS n_bpe_tokens,
       count(*) AS n_words
FROM tok t LEFT JOIN pieces p USING (term)
GROUP BY 1
""".strip()


def q_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher §A1.1 repetition cuts as a keep/drop verdict."""
    from next_plaid_spark.operators.corpus import gopher_quality_filter

    return gopher_quality_filter(_t(spark, sf_dir, "documents"))


def q_ngram_lm_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram count table with rare-gram pruning (the Brants et al.
    2007 MapReduce LM job)."""
    from next_plaid_spark.operators.corpus import ngram_counts

    return ngram_counts(_t(spark, sf_dir, "documents"), n=2, min_count=5)


CHUNK_TOKENS, CHUNK_STRIDE = 24, 16


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG/long-context chunking: overlapping token windows per doc
    (HF stride convention; final window reaches the tail). The split-side
    complement of pack_sequences' concat-and-chunk."""
    from next_plaid_spark.operators.corpus import chunk_documents

    return chunk_documents(_t(spark, sf_dir, "documents"),
                           chunk_tokens=CHUNK_TOKENS, stride=CHUNK_STRIDE)


def _sql_chunk_documents() -> str:
    from next_plaid_spark.operators.corpus import sql_chunk_documents

    return sql_chunk_documents(chunk_tokens=CHUNK_TOKENS, stride=CHUNK_STRIDE)


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk packing layout: global token offsets via
    a distributed two-phase prefix sum (no corpus-wide single-partition
    window)."""
    from next_plaid_spark.operators.packing import pack_sequences

    # gate-only determinism: final sort matches the oracle's ORDER BY
    # (the operator itself stays sort-free for scale)
    return pack_sequences(
        _t(spark, sf_dir, "documents"), capacity=256
    ).orderBy("doc_id")


def q_packed_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized packed sequences: every bin holds exactly 256
    consecutive stream tokens (last bin short) in exact order.

    Gate shape: the tokens ARRAY<STRING> is posexploded to scalar
    (bin_id, n_tokens, tok_idx, token) rows — array columns break the
    driver's canonicalizer (see tools/check.py's schema guard); the
    array-returning API is pack_bins itself, pinned by
    tests/test_packing.py."""
    from next_plaid_spark.operators.packing import pack_bins

    bins = pack_bins(_t(spark, sf_dir, "documents"), capacity=256)
    return bins.select(
        "bin_id", "n_tokens",
        F.posexplode("tokens").alias("tok_idx", "token"),
    )


CURATE_Q_MIN = 0.60      # quality gate (median quality ≈ 0.63 on this corpus)
CURATE_C_MAX = 0.5       # drop docs leaking ≥50% of their 3-grams from eval
CURATE_CAPACITY = 256    # packed context-window size (tokens)


def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pretraining-curation path as ONE DataFrame job:
    quality gate → transitive near-dup removal (keep one per cluster) →
    benchmark decontamination → sequence packing of the survivors.
    Output: the packed training layout (doc_id, n_tokens, start_off,
    bin_start, bin_end, quality). Every stage is one of the individually
    oracle-checked operators; this entry pins their COMPOSITION (the
    filters must commute with the packing offsets exactly).

    Scale shape = the union of its parts: one quality pass (column
    expressions), the CC rounds over the pair list, a broadcast
    decontamination join, and the two-phase packing prefix sum — the only
    corpus-wide shuffles are the dedup signature agg and the packing
    bucket agg."""
    from next_plaid_spark.operators.cluster import dedup_keep_canonical
    from next_plaid_spark.operators.corpus import contamination
    from next_plaid_spark.operators.dedup import minhash_lsh_pairs
    from next_plaid_spark.operators.packing import pack_sequences
    from next_plaid_spark.operators.textstats import quality_score

    docs = _t(spark, sf_dir, "documents")
    quality = quality_score(docs).select("doc_id", "quality")
    # clusters over the WHOLE corpus: a train doc near-duplicating an eval
    # doc is itself contamination, and dies here unless it's the canonical
    pairs = minhash_lsh_pairs(docs, threshold=0.8)
    kept = dedup_keep_canonical(docs, pairs).filter(F.col("kept")).select("doc_id")
    leaked = contamination(
        docs.filter(F.col("source") != EVAL_SOURCE),
        docs.filter(F.col("source") == EVAL_SOURCE),
        n=3,
    ).filter(F.col("contamination") >= CURATE_C_MAX).select("doc_id")

    survivors = (
        docs.filter(F.col("source") != EVAL_SOURCE)
        .join(quality, "doc_id")
        .filter(F.col("quality") >= CURATE_Q_MIN)
        .join(kept, "doc_id", "left_semi")
        .join(leaked, "doc_id", "left_anti")
    )
    packed = pack_sequences(survivors, capacity=CURATE_CAPACITY)
    return packed.join(quality, "doc_id").select(
        "doc_id", "n_tokens", "start_off", "bin_start", "bin_end", "quality"
    )


def _sql_curate_corpus() -> str:
    from next_plaid_spark.operators.cluster import sql_dedup_clusters
    from next_plaid_spark.operators.corpus import sql_contamination
    from next_plaid_spark.operators.dedup import sql_minhash_lsh_pairs
    from next_plaid_spark.operators.textstats import sql_quality_score

    return f"""
WITH q AS (
  SELECT doc_id, quality FROM ({sql_quality_score()})
),
clusters AS (
  SELECT * FROM ({sql_dedup_clusters(sql_minhash_lsh_pairs(threshold=0.8))})
),
contam AS (
  SELECT * FROM ({sql_contamination(eval_source=EVAL_SOURCE)})
),
surv AS (
  SELECT d.doc_id, d.text
  FROM documents d JOIN q USING (doc_id)
  WHERE d.source <> '{EVAL_SOURCE}'
    AND q.quality >= {CURATE_Q_MIN}
    AND d.doc_id IN (SELECT doc_id FROM clusters WHERE kept)
    AND d.doc_id NOT IN (SELECT doc_id FROM contam WHERE contamination >= {CURATE_C_MAX})
),
base AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT_RE}'), x -> x <> '')) AS BIGINT) AS n_tokens
  FROM surv
),
cum AS (
  -- CAST: DuckDB sum() widens to HUGEINT (arrow decimal128) — gate's
  -- value-hash would see a different type than Spark's BIGINT
  SELECT doc_id, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
  FROM base
)
SELECT c.doc_id, c.n_tokens, c.start_off,
       CAST(c.start_off // {CURATE_CAPACITY} AS BIGINT) AS bin_start,
       CAST((c.start_off + greatest(c.n_tokens - 1, 0)) // {CURATE_CAPACITY} AS BIGINT) AS bin_end,
       q.quality
FROM cum c JOIN q USING (doc_id)
""".strip()


def q_span_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 span corruption (inputs/targets with <extra_id_i> sentinels) via
    a deterministic block-hash coin — the denoising-pretraining data
    formatter (operators/corpus.py::span_corrupt)."""
    from next_plaid_spark.operators.corpus import span_corrupt

    # gate-only determinism: final sort matches the oracle's ORDER BY
    return span_corrupt(_t(spark, sf_dir, "documents")).orderBy("doc_id")


def _sql_span_corrupt() -> str:
    from next_plaid_spark.operators.corpus import sql_span_corrupt

    return sql_span_corrupt()


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from next_plaid_spark.operators.corpus import stratified_sample

    return stratified_sample(_t(spark, sf_dir, "documents"), SAMPLE_RATES).select(
        "doc_id", "source"
    )


TEMP_ALPHA = 0.3


def q_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-budget mixture sampling: exactly 5 docs per source via
    deterministic content-hash rank (map-side bounded heaps — see
    operators/topk_agg.py; the fixed-RATE sibling is stratified_sample)."""
    from next_plaid_spark.operators.corpus import sample_n_per_group

    docs = _t(spark, sf_dir, "documents")
    return sample_n_per_group(docs, ["source"], 5).select("doc_id", "source")


def _sql_sample_per_source() -> str:
    from next_plaid_spark.operators.corpus import sql_sample_n_per_group

    return sql_sample_n_per_group(n=5)


def q_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature mixture resampling (XLM/mC4 α-sampling): rates computed
    FROM per-source corpus shares (q_s ∝ n_s^α, budget pinned so the
    binding source keeps everything). The synthetic corpus is uniform
    across sources, so the entry first skews it deterministically
    (keep all of src0, every 4th doc elsewhere) — the resampler then
    flattens src0's dominance back toward the tail."""
    from next_plaid_spark.operators.corpus import temperature_resample

    docs = _t(spark, sf_dir, "documents").filter(
        (F.col("source") == "src0") | (F.col("doc_id") % 4 == 0)
    )
    return temperature_resample(docs, alpha=TEMP_ALPHA).select(
        "doc_id", "source", "rate"
    )


def _sql_temperature_resample() -> str:
    from next_plaid_spark.operators.corpus import sql_temperature_resample

    sql = sql_temperature_resample(alpha=TEMP_ALPHA)
    return sql.replace(
        "FROM documents GROUP BY source",
        "FROM documents WHERE source = 'src0' OR doc_id % 4 = 0 GROUP BY source",
    ).replace(
        "FROM documents d JOIN rates r",
        "FROM (SELECT * FROM documents WHERE source = 'src0' OR doc_id % 4 = 0) d JOIN rates r",
    )


DSIR_KEEP_N = 100


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): pick the raw-corpus docs
    whose unigram distribution best matches the `src0` target shard, via
    importance-weight Gumbel-top-N resampling."""
    from next_plaid_spark.operators.corpus import dsir_select

    docs = _t(spark, sf_dir, "documents")
    return dsir_select(
        docs.filter(F.col("source") != EVAL_SOURCE),
        docs.filter(F.col("source") == EVAL_SOURCE),
        keep_n=DSIR_KEEP_N,
    )


def _sql_dsir_select() -> str:
    from next_plaid_spark.operators.corpus import sql_dsir_select

    return sql_dsir_select(
        raw_pred=f"source <> '{EVAL_SOURCE}'",
        target_pred=f"source = '{EVAL_SOURCE}'",
        keep_n=DSIR_KEEP_N,
    )


def _corpus_sqls() -> list[str]:
    from next_plaid_spark.operators.corpus import (
        sql_contamination,
        sql_repetition_stats,
        sql_stratified_sample,
    )

    return [
        sql_contamination(eval_source=EVAL_SOURCE, n=3),
        sql_repetition_stats(),
        sql_stratified_sample(SAMPLE_RATES),
    ]


# ---------------------------------------------------------------------------
# Text analysis: token counting (extension operator)
# ---------------------------------------------------------------------------

def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (FineWeb-style email/IP/phone redaction) over the
    corpus with deterministic synthetic PII injected per doc — the
    synthetic word-soup corpus carries none, so each doc gets a derived
    email + IPv4 appended (identically on both engines) and the entry
    hash-checks the actual redaction path, not just the no-op."""
    from next_plaid_spark.operators.textstats import pii_scrub

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" contact u"), F.col("doc_id"),
            F.lit("@example.com at 10.0."), (F.col("doc_id") % 256).cast("string"),
            F.lit(".7"),
        ).alias("text"),
    )
    return pii_scrub(docs)


def _sql_pii_scrub() -> str:
    from next_plaid_spark.operators.textstats import sql_pii_scrub

    src = ("text || ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com "
           "at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'")
    return sql_pii_scrub(source_expr=f"({src})")


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode canonicalization (NFC + lowercase + whitespace collapse) —
    the pre-dedup normalization pass, as a vectorized pandas-UDF map stage
    (operators/textnorm.py; unicode parity pinned in tests)."""
    from next_plaid_spark.operators.textnorm import normalize_text

    return normalize_text(_t(spark, sf_dir, "documents"))


def _sql_text_normalize() -> str:
    from next_plaid_spark.operators.textnorm import sql_normalize_text

    return sql_normalize_text()


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(tokenize_unicode61(F.col("text"))).alias("n_tokens"),
        F.length("text").alias("n_chars_actual"),
    )


SQL_TOKEN_COUNT = f"""
SELECT doc_id,
       CAST(len(list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT_RE}'), x -> x <> '')) AS INT) AS n_tokens,
       CAST(length(text) AS INT) AS n_chars_actual
FROM documents
""".strip()


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from next_plaid_spark.operators.textstats import language_id

    return language_id(_t(spark, sf_dir, "documents"))


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from next_plaid_spark.operators.textstats import quality_score

    return quality_score(_t(spark, sf_dir, "documents"))


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from next_plaid_spark.operators.textstats import fingerprint

    return fingerprint(_t(spark, sf_dir, "documents"))


# CCNet/GPT-3 trained-quality filtering (operators/quality_model.py).
# Trusted-artifact oracle, the k-means discipline: only the distributed
# L-BFGS TRAINING is trusted — the fitted coefficients are exported as a
# (term → bucket weight) sidecar over the corpus vocabulary plus a one-row
# intercept — while tokenization, the margin sum, the sigmoid, and the
# Pareto content-hash acceptance are recomputed independently in DuckDB.
# Hash-bucket collisions need no special casing: by linearity the
# per-bucket tf·w sum equals the per-token w(bucket(term)) sum, which is
# what both sides compute. Probabilities are rounded on BOTH sides
# (sigmoid/pow cross-libm ulp — the suite's standard rounding bridge).
QUALITY_SIDECAR = _ORACLE_SIDECAR_ROOT + "/quality_weights"
QUALITY_ROUND = 6
QUALITY_ALPHA = 9.0
QUALITY_SEED = 42
QUALITY_FEATURES = 1 << 14
QUALITY_VOCAB_CAP = 200_000  # sidecar vocab guard (sf vocab ≈ thousands)


def q_url_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style URL gate (operators/webfilter.py) over URLs
    synthesized deterministically from (source, doc_id % 100) — mixed
    case + www. + scheme exercise normalization, the modulus plants
    canonical-URL duplicates, and the blocklist bans the lexicographically
    first source's domain (subdomain suffix semantics). The oracle
    recomputes the SPEC (domain ban ⇔ source match here; canon-URL
    first-id-wins dedup) rather than the suffix-explode plan."""
    from next_plaid_spark.operators.webfilter import (
        dedup_by_url,
        filter_by_domain_blocklist,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source",
        F.concat(
            F.lit("https://WWW."), F.col("source"),
            F.lit(".example.com/doc/"), (F.col("doc_id") % 100).cast("string"),
        ).alias("url"),
    )
    sources = [r[0] for r in docs.select("source").distinct().collect()]
    if not sources:  # empty corpus: typed empty result, no blocklist to pick
        return docs.select("doc_id", "url")
    kept = dedup_by_url(
        filter_by_domain_blocklist(docs, [f"{min(sources)}.example.com"])
    )
    return kept.select("doc_id", "url")


def sql_url_filter() -> str:
    return """
WITH d AS (
  SELECT doc_id, source,
         'https://WWW.' || source || '.example.com/doc/' ||
         CAST(doc_id % 100 AS VARCHAR) AS url,
         lower(source) || '.example.com/doc/' ||
         CAST(doc_id % 100 AS VARCHAR) AS canon
  FROM documents
),
kept AS (
  SELECT * FROM d WHERE source <> (SELECT min(source) FROM documents)
),
ranked AS (
  SELECT doc_id, url,
         row_number() OVER (PARTITION BY canon ORDER BY doc_id ASC) AS rn
  FROM kept
)
SELECT doc_id, url FROM ranked WHERE rn = 1
""".strip()


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.feature import HashingTF

    from next_plaid_spark.operators.quality_model import (
        pareto_quality_filter,
        train_quality_classifier,
    )

    docs = _t(spark, sf_dir, "documents")
    srcs = sorted(r[0] for r in docs.select("source").distinct().collect())
    model = train_quality_classifier(
        docs.filter(F.col("source") == srcs[0]),
        docs.filter(F.col("source") == srcs[-1]),
        n_features=QUALITY_FEATURES, max_iter=10,
    )
    # (term → weight) sidecar: index each distinct corpus token through
    # the SAME hasher the model was trained with, then look its bucket's
    # coefficient up driver-side (vocab-bounded collect; guarded)
    terms = [r[0] for r in docs.select(
        F.explode(tokenize_unicode61(F.col("text"))).alias("t")
    ).distinct().limit(QUALITY_VOCAB_CAP + 1).collect()]
    if len(terms) > QUALITY_VOCAB_CAP:
        raise ValueError("corpus vocabulary exceeds the sidecar guard")
    h = HashingTF(numFeatures=QUALITY_FEATURES)
    w = model.coefficients
    local_df(
        spark, [(t, float(w[h.indexOf(t)])) for t in terms],
        "term string, weight double",
    ).coalesce(1).write.mode("overwrite").parquet(QUALITY_SIDECAR + "/terms")
    local_df(
        spark, [(float(model.intercept),)], "intercept double"
    ).coalesce(1).write.mode("overwrite").parquet(QUALITY_SIDECAR + "/meta")

    out = pareto_quality_filter(
        model, docs.select("doc_id", "text"),
        alpha=QUALITY_ALPHA, seed=QUALITY_SEED, keep_col="keep",
        round_digits=QUALITY_ROUND,
    )
    return out.select(
        "doc_id",
        F.round(F.col("quality_prob"), QUALITY_ROUND).alias("quality_prob"),
        F.col("keep").cast("int").alias("keep"),
    )


def sql_quality_classifier() -> str:
    from next_plaid_spark.operators.quality_model import COIN_BITS

    # the same unicode61 tokenize the bm25 oracles use; per-token weight
    # sum (linearity — see the sidecar note above), sigmoid, then the
    # GPT-3 Pareto acceptance from the same md5 content-hash coin
    coin = (f"((CAST(concat('0x', substr(md5(concat('{QUALITY_SEED}', ':', "
            f"'quality_pareto', ':', d.text)), 1, 15)) AS BIGINT) + 0.5)"
            f" / {float(1 << COIN_BITS)})")
    return f"""
WITH w AS (SELECT term, weight FROM '{QUALITY_SIDECAR}/terms/*.parquet'),
m AS (SELECT intercept FROM '{QUALITY_SIDECAR}/meta/*.parquet'),
tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT_RE}'), x -> x <> '')) AS term
  FROM documents
),
tw AS (
  SELECT t.doc_id, sum(w.weight) AS sw
  FROM tok t LEFT JOIN w USING (term)
  GROUP BY t.doc_id
),
margin AS (
  SELECT d0.doc_id,
         (SELECT intercept FROM m) + coalesce(tw.sw, 0.0) AS mg
  FROM documents d0 LEFT JOIN tw USING (doc_id)
),
scored AS (
  SELECT d.doc_id,
         round(1.0 / (1.0 + exp(-mg)), {QUALITY_ROUND}) AS quality_prob,
         CASE WHEN round(1.0 / (1.0 + exp(-mg)), {QUALITY_ROUND}) >
                   round(1.0 - (pow(1.0 - {coin}, -1.0 / {QUALITY_ALPHA}) - 1.0),
                         {QUALITY_ROUND})
              THEN 1 ELSE 0 END AS keep
  FROM margin JOIN documents d USING (doc_id)
)
SELECT doc_id, quality_prob, keep FROM scored
""".strip()


def q_perplexity_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from next_plaid_spark.operators.textstats import unigram_logprob

    return unigram_logprob(_t(spark, sf_dir, "documents"))


def _textstats_sqls() -> tuple[str, str, str, str]:
    from next_plaid_spark.operators.textstats import (
        sql_fingerprint,
        sql_language_id,
        sql_quality_score,
        sql_unigram_logprob,
    )

    return (sql_language_id(), sql_quality_score(), sql_fingerprint(),
            sql_unigram_logprob())


# ---------------------------------------------------------------------------
# ANN via hyperplane LSH (scale path for similarity search) — rows-only
# (seeded random planes are Python constants; recall vs exact top-k is
# gated in tests/test_similarity.py)
# ---------------------------------------------------------------------------

def q_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated-bigram LM bits-per-token (Jelinek-Mercer λ=0.7 over the
    corpus bigram/unigram tables) — the next rung of the CCNet perplexity
    ladder above `perplexity_proxy`."""
    from next_plaid_spark.operators.textstats import bigram_logprob

    return bigram_logprob(_t(spark, sf_dir, "documents"))


def _sql_perplexity_bigram() -> str:
    from next_plaid_spark.operators.textstats import sql_bigram_logprob

    return sql_bigram_logprob()


# ANN oracle sidecars (same trusted-artifact discipline as the PLAID
# funnel's): the LSH hyperplanes are a pure function of (dim, n_tables,
# n_bits, seed); the IVF centroids are the trained coarse quantizer
# (iterative Lloyd's — the one non-SQL-expressible piece). Everything
# downstream — bucket signs / cell argmax, candidacy, exact cosine,
# top-k — is recomputed independently by the oracle SQL: the Spark side
# computes every score as a float64 sequential fold (similarity.py::
# _seq_dot_matrix) with deterministic tie-breaks, so the comparison is
# hash-exact, not recall-gated.
LSH_ORACLE_SIDECAR = _ORACLE_SIDECAR_ROOT + "/lsh_planes"
IVF_ORACLE_SIDECAR = _ORACLE_SIDECAR_ROOT + "/ivf_centroids"

ANN_LSH_TABLES, ANN_LSH_BITS, ANN_SEED = 16, 4, 42
ANN_IVF_CELLS, ANN_IVF_PROBE = 32, 8


def _write_lsh_oracle_sidecar(spark: SparkSession, *, dim: int) -> None:
    from next_plaid_spark.operators.similarity import _planes

    key = ("lsh", dim, ANN_LSH_TABLES, ANN_LSH_BITS, ANN_SEED)
    if _SIDECAR_STATE.get("lsh") == key:
        return
    rows = [
        (t, b, [float(x) for x in p])
        for t in range(ANN_LSH_TABLES)
        for b, p in enumerate(_planes(dim, ANN_LSH_BITS, ANN_SEED, t))
    ]
    local_df(
        spark, rows, "tbl int, bit int, pvec array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(LSH_ORACLE_SIDECAR)
    _SIDECAR_STATE["lsh"] = key


def _write_ann_ivf_oracle_sidecar(spark: SparkSession, cmat) -> None:
    import hashlib

    import numpy as np

    c = np.asarray(cmat, dtype=np.float64)  # f32 → f64 exact
    key = ("ann_ivf", hashlib.sha1(c.tobytes()).hexdigest()[:12])
    if _SIDECAR_STATE.get("ann_ivf") == key:
        return
    local_df(
        spark, [(int(i), [float(x) for x in row]) for i, row in enumerate(c)],
        "cell int, cvec array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(IVF_ORACLE_SIDECAR)
    _SIDECAR_STATE["ann_ivf"] = key


_SQL_SEQ_NORM = ("sqrt(list_reduce(list_prepend(0.0, list_transform({arr}, "
                 "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (p,q) -> p+q))")
_SQL_COS_QC = ("CASE WHEN {nq} = 0.0 OR {nc} = 0.0 THEN 0.0 ELSE "
               "list_reduce(list_prepend(0.0, list_transform(range(1, len(q.v) + 1), "
               "i -> CAST(q.v[i] AS DOUBLE) * CAST(c.v[i] AS DOUBLE))), (a,b) -> a+b)"
               " / ({nq} * {nc}) END")


def sql_ann_lsh_topk(n_queries: int = COSINE_N_QUERIES,
                     k: int = COSINE_TOPK) -> str:
    """Recomputes multi-table hyperplane LSH end to end: bucket = Σ 2^bit
    over sign(sequential-fold dot(vec, plane)) per table, candidacy = any
    shared (table, bucket), then the exact-cosine rank — the same folds
    and tie-breaks as similarity.py's kernels (bit-identical)."""
    seqdot = ("list_reduce(list_prepend(0.0, list_transform(range(1, len(s.v) + 1), "
              "i -> CAST(s.v[i] AS DOUBLE) * pl.pvec[i])), (a,b) -> a+b)")
    sig = (f"SELECT s.vec_id, pl.tbl, "
           f"sum(CASE WHEN {seqdot} >= 0 THEN (1::BIGINT << pl.bit) ELSE 0 END) AS bucket "
           f"FROM {{src}} s CROSS JOIN pl GROUP BY 1, 2")
    cos = _SQL_COS_QC.format(nq=_SQL_SEQ_NORM.format(arr="q.v"),
                             nc=_SQL_SEQ_NORM.format(arr="c.v"))
    return f"""
WITH pl AS (SELECT tbl, bit, pvec FROM '{LSH_ORACLE_SIDECAR}/*.parquet'),
c AS (SELECT vec_id, embedding AS v FROM embeddings),
q AS (SELECT vec_id, embedding AS v FROM embeddings WHERE vec_id < {n_queries}),
csig AS ({sig.format(src='c')}),
qsig AS ({sig.format(src='q')}),
cand AS (
  SELECT DISTINCT qs.vec_id AS query_id, cs.vec_id
  FROM qsig qs JOIN csig cs ON cs.tbl = qs.tbl AND cs.bucket = qs.bucket
),
scored AS (
  SELECT cand.query_id, cand.vec_id, {cos} AS cos_sim
  FROM cand
  JOIN q ON q.vec_id = cand.query_id
  JOIN c ON c.vec_id = cand.vec_id
),
ranked AS (
  SELECT query_id, vec_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cos_sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k}
""".strip()


def sql_ann_ivf_topk(n_queries: int = COSINE_N_QUERIES,
                     k: int = COSINE_TOPK,
                     n_probe: int = ANN_IVF_PROBE) -> str:
    """Recomputes IVF ANN over the trained-centroid sidecar: cell scores
    as sequential-fold dots of the explicitly-normalized vector (zero
    norm → /1), corpus assignment = rank-1 cell, query probe = top-n_probe
    cells, both under (score DESC, cell ASC) — then the exact-cosine rank
    on raw vectors. Mirrors similarity.py::ivf_cell_assignments bit for
    bit."""
    nrm = _SQL_SEQ_NORM.format(arr="s.v")
    cellscore = ("list_reduce(list_prepend(0.0, list_transform(range(1, len(s.v) + 1), "
                 "i -> (CAST(s.v[i] AS DOUBLE) / s.nv) * ct.cvec[i])), (a,b) -> a+b)")
    assign = (f"SELECT vec_id, cell FROM ("
              f"SELECT s.vec_id, ct.cell, "
              f"row_number() OVER (PARTITION BY s.vec_id ORDER BY {cellscore} DESC, ct.cell ASC) AS r "
              f"FROM (SELECT vec_id, v, CASE WHEN {nrm} = 0.0 THEN 1.0 ELSE {nrm} END AS nv "
              f"FROM {{src}} s) s CROSS JOIN ct) WHERE r <= {{rmax}}")
    cos = _SQL_COS_QC.format(nq=_SQL_SEQ_NORM.format(arr="q.v"),
                             nc=_SQL_SEQ_NORM.format(arr="c.v"))
    return f"""
WITH ct AS (SELECT cell, cvec FROM '{IVF_ORACLE_SIDECAR}/*.parquet'),
c AS (SELECT vec_id, embedding AS v FROM embeddings),
q AS (SELECT vec_id, embedding AS v FROM embeddings WHERE vec_id < {n_queries}),
cassign AS ({assign.format(src='c', rmax=1)}),
qprobe AS ({assign.format(src='q', rmax=n_probe)}),
scored AS (
  SELECT qp.vec_id AS query_id, ca.vec_id, {cos} AS cos_sim
  FROM qprobe qp
  JOIN cassign ca ON ca.cell = qp.cell
  JOIN q ON q.vec_id = qp.vec_id
  JOIN c ON c.vec_id = ca.vec_id
),
ranked AS (
  SELECT query_id, vec_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cos_sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k}
""".strip()


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table hyperplane-LSH ANN. Hash-exact oracle since r8: the
    planes are a deterministic artifact (sidecar), bucket signs come from
    float64 sequential-fold dots on BOTH engines, and candidacy/top-k are
    set-based/tie-broken — so the oracle recomputes the whole path, not
    just a recall gate (the r7 funnel treatment applied to ANN)."""
    from next_plaid_spark.operators.similarity import lsh_bucket_topk

    emb = _t(spark, sf_dir, "embeddings")
    first = emb.select("embedding").first()
    if first is None:  # empty corpus: typed empty result, nothing to hash
        return spark.createDataFrame(
            [], "query_id long, vec_id long, cos_sim double, rank int")
    dim = len(first[0])
    _write_lsh_oracle_sidecar(spark, dim=dim)
    queries = emb.filter(F.col("vec_id") < COSINE_N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # 16 tables × 4 bits measures ≈0.85 recall@10 on the near-isotropic
    # synthetic embeddings (tighter buckets drop recall fast at dim=64)
    return lsh_bucket_topk(
        emb, queries, k=COSINE_TOPK, dim=dim,
        n_tables=ANN_LSH_TABLES, n_bits=ANN_LSH_BITS, seed=ANN_SEED,
    ).select("query_id", "vec_id", "cos_sim", "rank")


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-cell ANN (the funnel's coarse-quantizer discipline on
    single-vector rows). Hash-exact oracle since r8: only the k-means
    TRAINING is trusted (centroid sidecar); assignment, probe, candidacy
    and the exact-cosine rank are recomputed by the oracle under the same
    float64 sequential folds and (score DESC, cell ASC) tie-breaks."""
    from next_plaid_spark.operators.similarity import ivf_topk, train_ivf_cells

    emb = _t(spark, sf_dir, "embeddings")
    if emb.isEmpty():  # empty corpus: typed empty result, no cells to train
        return spark.createDataFrame(
            [], "query_id long, vec_id long, cos_sim double, rank int")
    queries = emb.filter(F.col("vec_id") < COSINE_N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cmat = train_ivf_cells(emb, ANN_IVF_CELLS, seed=ANN_SEED)
    _write_ann_ivf_oracle_sidecar(spark, cmat)
    return ivf_topk(
        emb, queries, k=COSINE_TOPK, n_cells=ANN_IVF_CELLS,
        n_probe=ANN_IVF_PROBE, seed=ANN_SEED, centroids=cmat,
    ).select("query_id", "vec_id", "cos_sim", "rank")


def q_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-k over an over-fetched exact candidate list
    (Carbonell & Goldstein 1998). Hash-exact oracle: the greedy state loop
    IS SQL-expressible as a DuckDB recursive CTE carrying the picked
    (id, normalized-vec) lists per query — every pairwise sim uses the
    same left-to-right double fold as the Spark kernel, so scores match
    bitwise. Also gated against an independent plain-loop greedy
    reference in tests/test_similarity.py."""
    from next_plaid_spark.operators.similarity import cosine_topk, mmr_rerank

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < COSINE_N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cands = cosine_topk(emb, queries, k=3 * COSINE_TOPK)
    return mmr_rerank(cands, emb, k=COSINE_TOPK, lambda_=0.7)


def sql_mmr_topk(n_queries: int = COSINE_N_QUERIES, fetch_k: int = 3 * COSINE_TOPK,
                 k: int = COSINE_TOPK, lam: float = 0.7) -> str:
    """Greedy MMR as a recursive CTE: one state row per query per step,
    carrying the picked ids + picked normalized vectors; the next pick is
    the (mmr DESC, vec_id ASC) argmax over the unpicked candidates.
    ``1.0 - lam`` is emitted via repr() so the SQL literal is the exact
    double the Spark kernel multiplies by."""
    one_minus = repr(1.0 - lam)
    dot = "list_reduce(list_prepend(0.0, list_transform(range(1, len(q.v) + 1), i -> CAST(q.v[i] AS DOUBLE) * CAST(c.v[i] AS DOUBLE))), (a,b) -> a+b)"
    norm = "sqrt(list_reduce(list_prepend(0.0, list_transform({arr}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a,b) -> a+b))"
    nq, nc = norm.format(arr="q.v"), norm.format(arr="c.v")
    pair_dot = "list_reduce(list_prepend(0.0, list_transform(range(1, len(c.nv) + 1), i -> c.nv[i] * p[i])), (a,b) -> a+b)"
    return f"""
WITH RECURSIVE q AS (
  SELECT vec_id AS query_id, embedding AS v FROM embeddings WHERE vec_id < {n_queries}
),
c AS (SELECT vec_id, embedding AS v FROM embeddings),
scored AS (
  SELECT q.query_id, c.vec_id,
         CASE WHEN {nq} = 0.0 OR {nc} = 0.0 THEN 0.0
              ELSE {dot} / ({nq} * {nc}) END AS cos_sim
  FROM c CROSS JOIN q
),
ranked AS (
  SELECT query_id, vec_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM scored
),
normed AS (
  SELECT vec_id,
         CASE WHEN nrm = 0.0 THEN CAST(v AS DOUBLE[]) ELSE list_transform(v, x -> CAST(x AS DOUBLE) / nrm) END AS nv
  FROM (SELECT vec_id, embedding AS v, {norm.format(arr="embedding")} AS nrm FROM embeddings)
),
cand AS (
  SELECT r.query_id, r.vec_id, r.cos_sim AS rel, n.nv
  FROM ranked r JOIN normed n USING (vec_id)
  WHERE r.rank <= {fetch_k}
),
sel AS (
  SELECT 1 AS step, query_id, vec_id, rel AS mmr_score,
         [vec_id] AS picked, [nv] AS picked_vecs
  FROM (SELECT cand.*, row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, vec_id ASC) AS rn FROM cand)
  WHERE rn = 1
  UNION ALL
  SELECT step + 1, query_id, vec_id, mmr AS mmr_score,
         list_append(picked, vec_id), list_append(picked_vecs, nv)
  FROM (
    SELECT t.*, row_number() OVER (PARTITION BY t.query_id ORDER BY t.mmr DESC, t.vec_id ASC) AS rn
    FROM (
      SELECT s.step, c.query_id, c.vec_id, c.nv, s.picked, s.picked_vecs,
             {lam} * c.rel - {one_minus} * list_max(list_transform(s.picked_vecs, p -> {pair_dot})) AS mmr
      FROM sel s JOIN cand c ON c.query_id = s.query_id
      WHERE s.step < {k} AND NOT list_contains(s.picked, c.vec_id)
    ) t
  )
  WHERE rn = 1
)
SELECT query_id, vec_id, mmr_score, CAST(step AS INT) AS rank
FROM sel
""".strip()


HN_TOPK = 5
HN_FETCH_K = 20


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (DPR §3.2 / ColBERT training data): for each
    query vector, the top cosine neighbors that do NOT share its gold
    label — the same-label pairs are the positive set, anti-joined out of
    an over-fetched exact candidate list."""
    from next_plaid_spark.operators.similarity import mine_hard_negatives

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < COSINE_N_QUERIES)
    positives = (
        q.select(F.col("vec_id").alias("query_id"), "label")
        .join(emb.select("vec_id", "label"), "label")
        .select("query_id", "vec_id")
    )
    return mine_hard_negatives(emb, positives, k=HN_TOPK, fetch_k=HN_FETCH_K)


def sql_hard_negatives(n_queries: int = COSINE_N_QUERIES, k: int = HN_TOPK,
                       fetch_k: int = HN_FETCH_K) -> str:
    dot = "list_reduce(list_prepend(0.0, list_transform(range(1, len(q.v) + 1), i -> CAST(q.v[i] AS DOUBLE) * CAST(c.v[i] AS DOUBLE))), (a,b) -> a+b)"
    norm = "sqrt(list_reduce(list_prepend(0.0, list_transform({arr}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a,b) -> a+b))"
    nq, nc = norm.format(arr="q.v"), norm.format(arr="c.v")
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS v, label FROM embeddings WHERE vec_id < {n_queries}
),
c AS (SELECT vec_id, embedding AS v, label FROM embeddings),
scored AS (
  SELECT q.query_id, c.vec_id, q.label AS q_label, c.label AS c_label,
         CASE WHEN {nq} = 0.0 OR {nc} = 0.0 THEN 0.0
              ELSE {dot} / ({nq} * {nc}) END AS cos_sim
  FROM c CROSS JOIN q
  WHERE c.vec_id <> q.query_id
),
fetched AS (
  SELECT * FROM (
    SELECT scored.*, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS r
    FROM scored
  ) WHERE r <= {fetch_k}
),
negs AS (SELECT query_id, vec_id, cos_sim FROM fetched WHERE c_label <> q_label),
ranked AS (
  SELECT query_id, vec_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM negs
)
SELECT query_id, vec_id, cos_sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k}
""".strip()


def q_ann_ivf_exact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-probe IVF (n_probe = n_cells): the cell train/assign/probe
    machinery must reproduce exact cosine top-k bit-for-bit — so unlike
    `ann_ivf_topk` (rows-only: ANN loss is data-dependent) this entry is
    hash-gated against the SAME DuckDB oracle as `cosine_topk`."""
    from next_plaid_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < COSINE_N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ivf_topk(
        emb, queries, k=COSINE_TOPK, n_cells=32, n_probe=32, seed=42
    ).select("query_id", "vec_id", "cos_sim", "rank")


# ---------------------------------------------------------------------------
# Event-stream analytics (window functions, sessionization, JSON props —
# SURVEY §2.9 window/cumulative ops; streaming ingest uses the same logic
# via foreachBatch)
# ---------------------------------------------------------------------------

SESSION_GAP_MIN = 30


_US_PER_HOUR = 3_600_000_000


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ts is normalized at the read seam to BIGINT epoch-micros (the
    # testdata has shipped both TIMESTAMP(NANOS) and timestamp[us]/NTZ —
    # functions/time.py sniffs the resolved dtype); hour buckets via exact
    # integer division, cross-engine identical (DuckDB: epoch_us // same)
    ev = normalize_event_ts(_t(spark, sf_dir, "events"))
    return (
        ev.groupBy(
            # DIV = true integer division; '/' would round-trip through
            # double and lose precision
            F.expr(f"ts DIV {_US_PER_HOUR}").alias("hour_bucket"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


SQL_EVENTS_HOURLY = f"""
SELECT epoch_us(ts) // {_US_PER_HOUR} AS hour_bucket, event_type,
       count(*) AS n_events, round(sum(value), 2) AS total_value
FROM events GROUP BY 1, 2
""".strip()


_GAP_US_Q = SESSION_GAP_MIN * 60 * 1_000_000


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionize per user with a 30-min inactivity gap (lag window +
    cumulative sum), then count sessions + events per user. All arithmetic
    on BIGINT epoch-micros — exact."""
    from pyspark.sql.window import Window

    ev = normalize_event_ts(_t(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    with_gap = ev.withColumn(
        "new_session",
        F.when(F.lag("ts", 1).over(w).isNull(), 1)
        .when(F.col("ts") - F.lag("ts", 1).over(w) > _GAP_US_Q, 1)
        .otherwise(0),
    )
    sess = with_gap.withColumn(
        "session_id", F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        )
    )
    return (
        sess.groupBy("user_id")
        .agg(
            F.max("session_id").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


SQL_EVENTS_SESSIONS = f"""
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL THEN 1
              WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > {_GAP_US_Q} THEN 1
              ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id,
         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM g
)
SELECT user_id, max(session_id) AS n_sessions, count(*) AS n_events
FROM s GROUP BY 1
""".strip()


def q_events_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session rows via the built-in ``F.session_window`` (Catalyst
    session merge; streaming/windows.py::session_windows — the same code
    serves the watermarked stream). Boundary semantics: half-open
    ``[t, t+gap)`` windows, so an event exactly ``gap`` after the last
    starts a new session — hence ``>= gap`` in the island oracle SQL."""
    from next_plaid_spark.streaming.windows import session_windows

    return session_windows(_t(spark, sf_dir, "events"))


_GAP_US = SESSION_GAP_MIN * 60 * 1_000_000

SQL_EVENTS_SESSION_WINDOWS = f"""
WITH g AS (
  SELECT user_id, value, epoch_us(ts) AS us,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
              WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= {_GAP_US} THEN 1
              ELSE 0 END AS new_session
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, value, us,
         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY us
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
  FROM g
)
SELECT user_id, min(us) AS session_start, count(*) AS n_events,
       round(sum(value), 2) AS total_value
FROM s GROUP BY user_id, sid
""".strip()


SLIDE_MIN = 15
SLIDE_WINDOW_MIN = 60


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 1-hour windows sliding by 15 min per event_type
    (streaming/windows.py::sliding_windows — the same code serves the
    watermarked stream). Each event lands in exactly window/slide = 4
    windows; starts are slide-aligned epoch multiples, which is what makes
    the batch result SQL-expressible."""
    from next_plaid_spark.streaming.windows import sliding_windows

    return sliding_windows(_t(spark, sf_dir, "events"),
                           window_min=SLIDE_WINDOW_MIN, slide_min=SLIDE_MIN)


_SLIDE_US = SLIDE_MIN * 60 * 1_000_000
_N_SLIDES = SLIDE_WINDOW_MIN // SLIDE_MIN

SQL_EVENTS_SLIDING = f"""
WITH ev AS (SELECT epoch_us(ts) AS us, event_type, value FROM events),
exploded AS (
  SELECT (us // {_SLIDE_US} - t.k) * {_SLIDE_US} AS window_start,
         event_type, value
  FROM ev, (SELECT unnest(range({_N_SLIDES})) AS k) t
)
SELECT window_start, event_type, count(*) AS n_events,
       round(sum(value), 2) AS total_value
FROM exploded GROUP BY 1, 2
""".strip()


def q_events_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing-1-hour features (RANGE frame over event-time
    micros): how many events and how much value this user produced in the
    hour ending at each event — the online-feature-engineering window shape
    (rangeBetween, not rowsBetween; value summed in exact integer cents so
    the window fold is order-independent cross-engine)."""
    from pyspark.sql.window import Window

    ev = normalize_event_ts(_t(spark, sf_dir, "events"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rangeBetween(-_US_PER_HOUR, 0)
    )
    cents = F.round(F.col("value") * 100).cast("long")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.count("*").over(w).alias("n_1h"),
        F.sum(cents).over(w).alias("cents_1h"),
    )


SQL_EVENTS_ROLLING = f"""
SELECT event_id, user_id, epoch_us(ts) AS ts,
       count(*) OVER w AS n_1h,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT) AS cents_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN {_US_PER_HOUR} PRECEDING AND CURRENT ROW)
""".strip()


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: a user counts at
    a stage only if the stage event happens AT OR AFTER their previous
    stage's first event (strict sequence semantics, not mere co-presence).
    Three per-user min-aggregations chained by inequality — each one
    shuffle on user_id, no self-join explosion."""
    ev = normalize_event_ts(_t(spark, sf_dir, "events")).select(
        "user_id", "event_type", "ts"
    )
    v = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t_view")
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") >= F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    total = ev.agg(F.countDistinct("user_id").alias("n"))
    rows = [
        v.agg(F.count("*").alias("n_users")).select(
            F.lit("1_view").alias("stage"), "n_users"
        ),
        c.agg(F.count("*").alias("n_users")).select(
            F.lit("2_click").alias("stage"), "n_users"
        ),
        p.agg(F.count("*").alias("n_users")).select(
            F.lit("3_purchase").alias("stage"), "n_users"
        ),
    ]
    out = rows[0].unionByName(rows[1]).unionByName(rows[2])
    # 1-row total joined lazily — no driver action during plan construction.
    # n == 0 (empty events table) → NULL conversion instead of an ANSI
    # divide-by-zero; identical values whenever any event exists.
    return out.crossJoin(F.broadcast(total)).select(
        "stage", "n_users",
        F.when(F.col("n") > 0,
               F.round(F.col("n_users") / F.col("n"), 6)).alias("conversion"),
    )


SQL_EVENTS_FUNNEL = """
WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts FROM events),
v AS (SELECT user_id, min(ts) AS t_view FROM ev WHERE event_type = 'view' GROUP BY 1),
c AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM ev e JOIN v USING (user_id)
  WHERE e.event_type = 'click' AND e.ts >= v.t_view GROUP BY 1
),
p AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM ev e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts >= c.t_click GROUP BY 1
),
tot AS (SELECT count(DISTINCT user_id) AS n FROM ev)
SELECT stage, n_users, round(n_users * 1.0 / tot.n, 6) AS conversion
FROM (
  SELECT '1_view' AS stage, count(*) AS n_users FROM v
  UNION ALL SELECT '2_click', count(*) FROM c
  UNION ALL SELECT '3_purchase', count(*) FROM p
), tot
""".strip()


_US_PER_DAY = 86_400_000_000


def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity day, counted
    on each later day they return → (cohort_day, day_offset, n_users).
    The cohort day rides a user window over the distinct activity rows
    (running min over day-ascending order) — no groupBy+join-back
    diamond, so the event-log distinct is evaluated once."""
    from pyspark.sql.window import Window

    ev = normalize_event_ts(_t(spark, sf_dir, "events")).select(
        "user_id", F.expr(f"ts DIV {_US_PER_DAY}").alias("day")
    )
    w_user = Window.partitionBy("user_id").orderBy("day")
    return (
        ev.distinct()
        .withColumn("cohort_day", F.first("day").over(w_user))
        .groupBy(
            "cohort_day",
            (F.col("day") - F.col("cohort_day")).alias("day_offset"),
        )
        .agg(F.count("*").alias("n_users"))
    )


SQL_EVENTS_RETENTION = f"""
WITH active AS (
  SELECT DISTINCT user_id, epoch_us(ts) // {_US_PER_DAY} AS day FROM events
),
first AS (SELECT user_id, min(day) AS cohort_day FROM active GROUP BY 1)
SELECT f.cohort_day, a.day - f.cohort_day AS day_offset, count(*) AS n_users
FROM active a JOIN first f USING (user_id)
GROUP BY 1, 2
""".strip()


def q_events_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction + aggregation (the reference's dynamic JSON
    metadata semantics, filtering.rs:1178-1198, as plain Spark SQL)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


SQL_EVENTS_PROPS = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY 1
""".strip()


# ---------------------------------------------------------------------------
# Relational aggregation sanity (SURVEY §2.9 groupBy/agg cheat-sheet ops)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-flavored aggregation over lineitem (float sums rounded on
    both sides — groupBy-sum order is engine-dependent)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       count(*) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""".strip()


def _dedup_sqls() -> tuple[str, str, str, str, str]:
    from next_plaid_spark.operators.dedup import (
        sql_embedding_near_dup_pairs,
        sql_minhash_lsh_pairs,
        sql_ngram_jaccard_pairs,
        sql_simhash_fingerprints,
        sql_simhash_near_pairs,
    )

    return (
        sql_ngram_jaccard_pairs(n=3, threshold=0.8),
        sql_minhash_lsh_pairs(threshold=0.0),
        sql_simhash_fingerprints(),
        sql_simhash_near_pairs(max_hamming=3),
        sql_embedding_near_dup_pairs(threshold=0.45),
    )


def _sql_decontaminate_multi() -> str:
    from next_plaid_spark.operators.corpus import sql_contamination_multi

    return sql_contamination_multi(eval_sources=MULTI_EVAL_SOURCES, n=3)


def _sql_bpe_pair_counts() -> str:
    from next_plaid_spark.operators.corpus import sql_bpe_pair_counts

    return sql_bpe_pair_counts(top_n=50)


def _sql_gopher_filter() -> str:
    from next_plaid_spark.operators.corpus import sql_gopher_quality_filter

    return sql_gopher_quality_filter()


def _sql_ngram_lm_counts() -> str:
    from next_plaid_spark.operators.corpus import sql_ngram_counts

    return sql_ngram_counts(n=2, min_count=5)


def _sql_pack_sequences() -> str:
    from next_plaid_spark.operators.packing import sql_pack_sequences

    return sql_pack_sequences(capacity=256, split_re=TOKEN_SPLIT_RE)


def _sql_packed_bins() -> str:
    from next_plaid_spark.operators.packing import sql_pack_bins

    base = sql_pack_bins(capacity=256, split_re=TOKEN_SPLIT_RE)
    return f"""
SELECT bin_id, n_tokens, CAST(i - 1 AS INT) AS tok_idx, tokens[i] AS token
FROM ({base}) b, unnest(range(1, len(tokens) + 1)) AS r(i)
""".strip()


def _sql_dedup_clusters_oracle() -> str:
    from next_plaid_spark.operators.cluster import sql_dedup_clusters
    from next_plaid_spark.operators.dedup import sql_minhash_lsh_pairs

    return sql_dedup_clusters(sql_minhash_lsh_pairs(threshold=0.8))


def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase→view attribution: every purchase joined (as-of, inclusive
    backward) to the user's latest preceding view. One window pass over a
    side-tagged union — no range join, no nested loop (operators/asof.py)."""
    from next_plaid_spark.operators.asof import asof_join_backward

    ev = normalize_event_ts(_t(spark, sf_dir, "events"))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("value").alias("view_value"), "event_id"
    )
    out = asof_join_backward(
        purchases, views, keys=["user_id"], ts_col="ts",
        payload_cols=["view_value"], tie_col="event_id",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("asof_view_value").alias("view_value"),
        F.col("asof_ts").alias("view_ts"),
        (F.col("ts") - F.col("asof_ts")).alias("gap_us"),
    )


SQL_EVENTS_ASOF = """
WITH ev AS (
  SELECT event_id, user_id, event_type, value, epoch_us(ts) AS us FROM events
),
u AS (
  SELECT user_id, us, event_id, 1 AS side,
         CAST(NULL AS DOUBLE) AS r_value, CAST(NULL AS BIGINT) AS r_us, value
  FROM ev WHERE event_type = 'purchase'
  UNION ALL
  SELECT user_id, us, event_id, 0 AS side, value AS r_value, us AS r_us,
         CAST(NULL AS DOUBLE) AS value
  FROM ev WHERE event_type = 'view'
),
m AS (
  SELECT *,
         last_value(r_value IGNORE NULLS) OVER w AS view_value,
         last_value(r_us IGNORE NULLS) OVER w AS view_us
  FROM u
  WINDOW w AS (PARTITION BY user_id ORDER BY us, side, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, us AS ts, view_value, view_us AS view_ts,
       us - view_us AS gap_us
FROM m WHERE side = 1
""".strip()


def q_plaid_updated_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search over a DELTA-UPDATED bucketed snapshot (r14, 99th gate
    entry): a bucketed base index over docs < UPDATE_SPLIT gets a
    tiered-file append of [UPDATE_SPLIT, UPDATE_END) — the r14 LSM-style
    layout where the batch lands as additional bucket files and settled
    files hardlink forward (sources/tiered.py) — and the funnel then
    runs over the UPDATED snapshot in its exact configuration (n_probe =
    K, t_cs = −∞, survivor budget ≥ N), so the result must equal exact
    MaxSim over the updated corpus's decompressed vectors. This puts the
    multi-file bucket READ path (scan over hardlinked + fresh files,
    bucket-spec distribution) on the DuckDB hash path end-to-end; the
    doclens-only delta entries cannot see a search-path regression."""
    import tempfile

    from next_plaid_spark.operators.update import update_index
    from next_plaid_spark.plans.builder import IndexBuilder
    from next_plaid_spark.plans.searcher import BatchSearcher, SearchParams

    docs = _t(spark, sf_dir, "documents")
    base = encode_documents(docs.filter(F.col("doc_id") < UPDATE_SPLIT))
    new = encode_documents(docs.filter(
        (F.col("doc_id") >= UPDATE_SPLIT) & (F.col("doc_id") < UPDATE_END)))
    root = tempfile.mkdtemp(prefix="plaid_upd_search_")
    idx = IndexBuilder(spark, nbits=4, seed=42, bucket_tokens=8).build(
        base, f"{root}/v0")
    idx2 = update_index(spark, idx, new, f"{root}/v1")
    _write_exact_oracle_sidecar(idx2, path=UPDATED_EXACT_SIDECAR,
                                state_key="updated_exact")
    queries = docs.filter(F.col("doc_id") < N_SELF_QUERIES).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    n_docs = idx2.meta.num_documents
    searcher = BatchSearcher(idx2, SearchParams(
        top_k=MAXSIM_TOPK,
        n_ivf_probe=idx2.meta.k,
        n_full_scores=4 * n_docs,
        centroid_score_threshold=float("-inf"),
    ))
    return searcher.search(encode_queries(queries)).select(
        "query_id", "doc_id", "score", "rank"
    )


EVICT_CAP = 90


def q_evict_oldest_doclens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The eviction sink END-TO-END through the catalog surface (r14,
    98th gate entry; S9, handlers/documents.rs:500-560): an index is
    created over the base corpus via ``IndexCatalog.create``, a
    ``max_documents`` cap is persisted via ``update_config``, and the
    follow-up ``update()`` append enforces it by evicting the oldest
    (lowest-id) documents into a new snapshot. The oracle keeps the
    newest ``EVICT_CAP`` indexed docs by doc_id and recomputes their
    token counts from the raw corpus — independent of the index, so a
    miscount in eviction (wrong cutoff, metadata drift, double-delete)
    hash-mismatches."""
    import tempfile

    from next_plaid_spark.catalog import IndexCatalog

    docs = _t(spark, sf_dir, "documents")
    base = encode_documents(docs.filter(F.col("doc_id") < UPDATE_SPLIT))
    new = encode_documents(docs.filter(
        (F.col("doc_id") >= UPDATE_SPLIT) & (F.col("doc_id") < UPDATE_END)))
    cat = IndexCatalog(spark, tempfile.mkdtemp(prefix="evict_gate_"))
    cat.create("evict", base)
    cat.update_config("evict", max_documents=EVICT_CAP)
    li = cat.open("evict").update(new)
    return li.index.doclens.select("doc_id", "num_tokens")


def sql_evict_oldest_doclens() -> str:
    return f"""
WITH lens AS (
  SELECT doc_id,
         least(len(list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT_RE}'), x -> x <> '')), 48) AS num_tokens
  FROM documents
  WHERE doc_id < {UPDATE_END}
    AND len(list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT_RE}'), x -> x <> '')) > 0
), ranked AS (
  SELECT doc_id, num_tokens,
         row_number() OVER (ORDER BY doc_id DESC) AS rn
  FROM lens
)
SELECT doc_id, num_tokens FROM ranked WHERE rn <= {EVICT_CAP}
""".strip()


def q_search_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming searcher END-TO-END through the parquet sink (r14,
    97th gate entry; the online-serving surface of search.rs over a
    query STREAM): the self-query set flows through
    ``StreamingSearcher.process_batch`` in three query_id-range batches
    with the parquet sink bound and the generational fold firing
    MID-STREAM (``vacuum_every=2``), and results are read back through
    ``results_df()``. The funnel is per-query independent, so the
    streamed rows must equal the batch funnel's EXACTLY — the oracle is
    the full DuckDB funnel recompute of ``plaid_search_topk`` — putting
    the per-batch result dirs, the mid-stream fold, and the strict
    reader on the hash path."""
    import tempfile

    from next_plaid_spark.plans.searcher import SearchParams
    from next_plaid_spark.streaming.search import StreamingSearcher

    idx = _plaid_index(spark, sf_dir)
    _write_exact_oracle_sidecar(idx)
    _write_approx_oracle_sidecar(idx)
    docs = _t(spark, sf_dir, "documents")
    queries = docs.filter(F.col("doc_id") < N_SELF_QUERIES).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    sink = tempfile.mkdtemp(prefix="search_stream_gate_")
    srch = StreamingSearcher(
        spark, idx,
        params=SearchParams(top_k=MAXSIM_TOPK, n_full_scores=256,
                            keep_best_cell=True),
        vacuum_every=2, sink_path=sink)
    third = N_SELF_QUERIES // 3
    conds = [F.col("query_id") < third,
             (F.col("query_id") >= third) & (F.col("query_id") < 2 * third),
             F.col("query_id") >= 2 * third]
    for i, c in enumerate(conds):
        srch.process_batch(queries.filter(c), i)
    return srch.results_df().select("query_id", "doc_id", "score", "rank")


def q_enrich_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming as-of enricher END-TO-END through the sink (r14,
    95th gate entry): the event log flows through
    ``StreamingAsofEnricher.process_batch`` in three time-ordered
    ts-range batches with the r14 in-flight compaction ON
    (``vacuum_every=2`` folds the prior-committed enriched dirs
    mid-stream), and the result is read back through ``enriched()``.
    For time-ordered arrival the one-row-per-key ledger reproduces the
    batch as-of join EXACTLY (the stream≡batch theorem,
    tests/test_streaming_enrich.py), so the oracle is simply
    ``events_asof``'s batch SQL — putting the enricher's versioned
    ledger, replay-exclusion reads, per-batch output dirs, and
    generational fold on the hash path."""
    import tempfile

    from next_plaid_spark.streaming.enrich import StreamingAsofEnricher

    ev = normalize_event_ts(_t(spark, sf_dir, "events")).withColumn(
        "view_value", F.col("value"))
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    b1 = lo + (hi - lo) // 3
    b2 = lo + 2 * (hi - lo) // 3
    root = tempfile.mkdtemp(prefix="enrich_stream_gate_")
    enr = StreamingAsofEnricher(
        spark, root, keys=["user_id"], ts_col="ts",
        payload_cols=["view_value"],
        left_filter=F.col("event_type") == "purchase",
        right_filter=F.col("event_type") == "view",
        tie_col="event_id", vacuum_every=2)
    conds = [F.col("ts") < b1,
             (F.col("ts") >= b1) & (F.col("ts") < b2),
             F.col("ts") >= b2]
    for i, c in enumerate(conds):
        enr.process_batch(ev.filter(c), i)
    return enr.enriched().select(
        "event_id", "user_id", "ts",
        F.col("asof_view_value").alias("view_value"),
        F.col("asof_ts").alias("view_ts"),
        (F.col("ts") - F.col("asof_ts")).alias("gap_us"),
    )


def q_ingest_stream_doclens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming index writer END-TO-END through the sink (r14, 96th
    gate entry; S8/U8, documents.rs:223-430's ingestion queue): three
    doc_id-range batches flow through
    ``StreamingIndexWriter.process_batch`` with snapshot pruning ON
    (``retain=2`` — v0 is dropped while the stream runs), and the final
    snapshot's doclens are read back through ``latest_index``. The
    oracle recomputes every doc's token count from the raw corpus
    (INDEPENDENT of the index — unlike the funnel oracles, whose
    sidecars derive from the index itself), so a replay/self-ingest
    defect that dropped or duplicated any document would hash-mismatch;
    this is the ingestion-completeness axis the r13 self-ingest fix
    protects. Runs BUCKETED (r14), so each append flows through the
    tiered-file delta (sources/tiered.py): settled token files hardlink forward
    and retain-pruning rmtrees v0 mid-stream WHILE newer snapshots still
    hardlink its files — inode survival is on the hash path."""
    import tempfile

    from next_plaid_spark.streaming.ingest import (StreamingIndexWriter,
                                                   latest_index)

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < UPDATE_END)
    root = tempfile.mkdtemp(prefix="ingest_stream_gate_")
    w = StreamingIndexWriter(spark, root, dim=16, nbits=4, seed=42,
                             bucket_tokens=8, retain=2)
    step = UPDATE_END // 3 + 1
    for i in range(3):
        w.process_batch(
            docs.filter((F.col("doc_id") >= i * step)
                        & (F.col("doc_id") < (i + 1) * step)), i)
    idx = latest_index(spark, root)
    return idx.doclens.select("doc_id", "num_tokens")


# ---------------------------------------------------------------------------
# IR quality evaluation (SURVEY §5: the reference gates quality with ranx
# MAP/NDCG@k/Recall@k — benchmark_scifact_docker.py:1-60; here the
# evaluation itself is a distributed DataFrame job)
# ---------------------------------------------------------------------------

def _qrels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic graded judgments for the self-query protocol: the
    query's own document is rel=2, every other doc sharing its
    (source, lang) stratum is rel=1."""
    docs = _t(spark, sf_dir, "documents")
    qdocs = docs.filter(F.col("doc_id") < N_SELF_QUERIES).select(
        F.col("doc_id").alias("query_id"),
        F.col("source").alias("q_source"),
        F.col("lang").alias("q_lang"),
    )
    return qdocs.join(
        docs.select("doc_id", "source", "lang"),
        (F.col("source") == F.col("q_source"))
        & (F.col("lang") == F.col("q_lang")),
    ).select(
        "query_id",
        "doc_id",
        F.when(F.col("doc_id") == F.col("query_id"), 2).otherwise(1).alias("rel"),
    )


_QRELS_SQL = f"""
SELECT q.doc_id AS query_id, d.doc_id,
       CASE WHEN d.doc_id = q.doc_id THEN 2 ELSE 1 END AS rel
FROM documents q JOIN documents d ON d.source = q.source AND d.lang = q.lang
WHERE q.doc_id < {N_SELF_QUERIES}
""".strip()


def q_ir_eval_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query NDCG@10 / MAP / Recall / P / MRR of the BM25 ranking
    against the (source, lang)-stratum qrels — the reference's ranx
    evaluation re-expressed as one grouped aggregation per query."""
    from next_plaid_spark.operators.evaluation import ir_metrics

    return ir_metrics(
        q_bm25_topk(spark, sf_dir), _qrels(spark, sf_dir), k=BM25_TOPK
    )


def q_ir_eval_plaid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The evaluation surface composed over the flagship engine: per-query
    IR metrics of the exact-configuration PLAID funnel (Q1–Q10) against
    the stratum qrels — BEIR-style quality measurement of the index
    pipeline itself, hash-exact end to end."""
    from next_plaid_spark.operators.evaluation import ir_metrics

    return ir_metrics(
        q_plaid_search_exact_topk(spark, sf_dir),
        _qrels(spark, sf_dir),
        k=MAXSIM_TOPK,
    )


def sql_ir_eval_plaid() -> str:
    from next_plaid_spark.operators.evaluation import ir_metrics_oracle_sql

    return ir_metrics_oracle_sql(
        sql_plaid_search_exact_topk(), _QRELS_SQL, k=MAXSIM_TOPK
    )


def sql_ir_eval_bm25() -> str:
    from next_plaid_spark.operators.bm25 import bm25_oracle_sql
    from next_plaid_spark.operators.evaluation import ir_metrics_oracle_sql

    return ir_metrics_oracle_sql(
        bm25_oracle_sql(
            n_queries=N_SELF_QUERIES, k=BM25_TOPK, split_re=TOKEN_SPLIT_RE
        ),
        _QRELS_SQL,
        k=BM25_TOPK,
    )


# ---------------------------------------------------------------------------
# Composed colgrep code search (P1→P6 + K1/K3/K6-K8 + R1-R5 end-to-end) —
# the colgrep query lifecycle (colgrep/src/index/mod.rs:4093-4290) as ONE
# hash-gated entry. Corpus: a deterministic synthetic Python package derived
# from the documents table (one function per doc, ~4 per file, 1-in-7 file
# groups under tests/ for the R1 penalty, files named after their first
# doc's first token for the R3 stem boosts, every function calling its
# file's anchor for layer-2 called_by edges). Trusted artifact: the PARSED
# UNITS sidecar (the ast parser is the one non-SQL-expressible stage — same
# discipline as the quality classifier's term-weight sidecar); everything
# downstream — embed-text assembly, call-graph reverse edges, identifier
# tokenization, BM25, MaxSim, relative-score fusion, R1-R5 boosts, collapse,
# top-k — is recomputed in DuckDB.
# ---------------------------------------------------------------------------

CODE_UNITS_SIDECAR = _ORACLE_SIDECAR_ROOT + "/code_units"
CODE_TOPK = 25
CODE_ALPHA = 0.75


def _code_query_text(spark: SparkSession, sf_dir: str) -> str:
    """First two unicode61 tokens of the lowest-doc_id document — the
    deterministic self-query (driver-side 1-row collect; the oracle
    rebuilds the same string relationally)."""
    row = (
        _t(spark, sf_dir, "documents")
        .orderBy("doc_id")
        .select(tokenize_unicode61(F.col("text")).alias("t"))
        .first()
    )
    toks = (row.t or ["x", "y"])[:2]
    return " ".join(toks) if toks else "x y"


def _code_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → files(path, content): the synthetic Python package."""
    return _code_corpus_from_docs(_t(spark, sf_dir, "documents"))


def _code_corpus_from_docs(docs: DataFrame) -> DataFrame:
    """The same package generator over an arbitrary documents frame —
    function/anchor names carry doc_id/grp, so a replicated-with-offsets
    corpus keeps names unique (tools/scale_code.py uses this to measure
    the code index beyond sf0.1 without degenerate call-graph fan-in)."""
    from pyspark.sql.window import Window

    toks = tokenize_unicode61(F.col("text"))
    d = docs.select(
        "doc_id",
        F.coalesce(F.element_at(toks, 1), F.lit("x")).alias("t0"),
        F.coalesce(F.element_at(toks, 2), F.lit("y")).alias("t1"),
        F.concat_ws(" ", F.slice(toks, 1, 8)).alias("gist"),
    ).withColumn("grp", (F.col("doc_id") / 4).cast("long"))
    w = Window.partitionBy("grp").orderBy("doc_id")
    d = d.withColumn(
        "anchor",
        F.concat(F.lit("a_"), F.first("t0").over(w), F.lit("_"),
                 F.col("grp").cast("string")),
    )
    snippet = F.concat(
        F.lit("def fn_"), F.col("t0"), F.lit("_"), F.col("t1"), F.lit("_"),
        F.col("doc_id").cast("string"), F.lit('(value):\n    """'),
        F.col("gist"), F.lit('"""\n    return '), F.col("anchor"),
        F.lit("(value)\n"),
    )
    grouped = d.withColumn("snip", snippet).groupBy("grp").agg(
        F.min("anchor").alias("anchor"),
        F.expr("min_by(t0, doc_id)").alias("ft0"),
        F.array_sort(
            F.collect_list(F.struct("doc_id", "snip"))
        ).alias("snips"),
    )
    content = F.concat(
        F.lit("def "), F.col("anchor"), F.lit("(x):\n    return x\n\n"),
        F.concat_ws("\n", F.transform("snips", lambda s: s.snip)),
    )
    path = F.when(
        F.col("grp") % 7 == 0,
        F.concat(F.lit("tests/test_"), F.col("ft0"), F.lit("_"),
                 F.col("grp").cast("string"), F.lit(".py")),
    ).otherwise(
        F.concat(F.lit("src/pkg"), (F.col("grp") % 5).cast("string"),
                 F.lit("/"), F.col("ft0"), F.lit("_"),
                 F.col("grp").cast("string"), F.lit(".py")),
    )
    return grouped.select(path.alias("path"), content.alias("content"))


_CODE_UNITS_CACHE: dict[str, DataFrame] = {}

# the F10/F11 prefilter exercised by code_search_filtered_topk: glob keeps
# the src/ tree (drops the tests/ groups), regex keeps snippet functions
# (drops the anchor defs) — both reach the scan before any scoring
CODE_FILTER_REGEX = "def fn_"
CODE_FILTER_GLOB = "src/*"


def _code_units(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parsed + call-graphed units of the synthetic corpus, with the
    trusted-artifact sidecar written once per (process, sf_dir)."""
    from next_plaid_spark.operators.code_parse import (
        build_call_graph,
        parse_code_units,
        with_unit_ids,
    )

    key = os.path.abspath(sf_dir)
    # single-slot cache: the sidecar path is FIXED, so a second sf_dir must
    # rebuild (overwriting) rather than serve a handle whose underlying
    # parquet another corpus just replaced
    if _CODE_UNITS_CACHE.get("key") != key:
        # spread the grouped-files output across cores before the parse
        # mapInPandas (same serialization trap as _doc_tokens: a small
        # shuffle output otherwise lands on few partitions)
        files = _code_corpus(spark, sf_dir).repartition(
            spark.sparkContext.defaultParallelism)
        # cached: with_unit_ids makes two passes over its input (the
        # per-file counts + the id-attach join), and build_call_graph
        # already references the parse subtree three times — without the
        # cache each reference re-runs the mapInPandas parse (r15)
        units_cg = build_call_graph(parse_code_units(files)).cache()
        units = with_unit_ids(units_cg)
        units.coalesce(1).write.mode("overwrite").parquet(CODE_UNITS_SIDECAR)
        units_cg.unpersist()
        _CODE_UNITS_CACHE.update(
            key=key, df=spark.read.parquet(CODE_UNITS_SIDECAR))
    return _CODE_UNITS_CACHE["df"]


CODE_INDEX_PATH = _ORACLE_SIDECAR_ROOT + "/code_index"
CODE_EXACT_SIDECAR = _ORACLE_SIDECAR_ROOT + "/code_quantized_tokens"
CODE_APPROX_SIDECAR = _ORACLE_SIDECAR_ROOT + "/code_approx_funnel"
_CODE_INDEX_CACHE: dict = {}


def _code_index(spark: SparkSession, sf_dir: str):
    """Prebuilt CodeIndex over the synthetic corpus — built once per
    (process, sf_dir), the reference's persisted-index lifecycle
    (``colgrep index``, index/mod.rs:363-423): both code_search entries
    serve queries from the stored PLAID + BM25 artifacts instead of
    re-parsing/re-tokenizing/re-encoding the corpus per call. Also writes
    the decompressed-vector sidecar the oracle's semantic leg scores —
    the same B7-output recipe as EXACT_ORACLE_SIDECAR."""
    from next_plaid_spark.operators.code_index import (
        _RAW_COLS,
        CodeIndex,
        file_state,
    )

    key = os.path.abspath(sf_dir)
    # single-slot cache, like _code_units: CODE_INDEX_PATH and the oracle
    # sidecars are fixed paths — a second sf_dir rebuilds in place instead
    # of serving a handle over overwritten parquet
    if _CODE_INDEX_CACHE.get("key") != key:
        units = _code_units(spark, sf_dir)  # writes CODE_UNITS_SIDECAR
        idx = CodeIndex._build_from_units(
            spark, units.select(*_RAW_COLS),
            file_state(_code_corpus(spark, sf_dir)),
            CODE_INDEX_PATH, nbits=4, seed=42)
        _CODE_INDEX_CACHE.update(key=key, idx=idx)
    return _CODE_INDEX_CACHE["idx"]


def _write_code_oracle_sidecars(idx) -> None:
    """DuckDB-oracle artifacts for the code_search gates — decompressed
    vectors (exact leg / funnel rerank) + the trained-artifact funnel
    sidecar (centroids, per-doc codes, meta). Gate-support I/O, called by
    the gate entries so the index BUILD timing (bench code_index_build)
    measures only what a real `colgrep index` pays."""
    from next_plaid_spark.operators.codec import decompress

    plaid = idx.plaid
    key = (plaid.path, _index_fingerprint(plaid))
    if _SIDECAR_STATE.get("code_exact") != key:
        decompress(
            plaid.tokens.select("doc_id", "code", "residual"),
            plaid.centroids_np(), plaid.meta.codec,
        ).select("doc_id", "vec").write.mode("overwrite").parquet(
            CODE_EXACT_SIDECAR)
        _SIDECAR_STATE["code_exact"] = key
    _write_approx_oracle_sidecar(
        plaid, path=CODE_APPROX_SIDECAR, state_key="code_approx")


def q_code_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The colgrep query lifecycle over the PREBUILT index
    (index/mod.rs:4115-4124 — the CLI searches stored artifacts, never
    re-derives the corpus per query). The semantic leg runs the PLAID
    funnel in its exact configuration (every cell probed, t_cs off,
    survivor budget ≥ N — provably equal brute MaxSim over the
    decompressed index), so the oracle scores the same decompressed
    vectors from the sidecar; the keyword leg joins the stored postings."""
    idx = _code_index(spark, sf_dir)
    _write_code_oracle_sidecars(idx)
    res = idx.search(_code_query_text(spark, sf_dir),
                     top_k=CODE_TOPK, alpha=CODE_ALPHA,
                     params=idx.exact_search_params(CODE_TOPK))
    return res.select(
        "unit_id", "file", "name", "line", "end_line",
        F.round("score", 6).alias("score"), "rank",
    )


def q_code_search_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The code search at its SERVING operating point: the semantic leg
    runs the APPROXIMATE funnel (n_probe=8, t_cs=0.4, n_full_scores=256,
    keep_best_cell — the same configuration plaid_search_topk gates) over
    the prebuilt CodeIndex, then fusion + R1-R5 + collapse exactly as the
    exact-config twin. Hash-exact oracle via the plaid_search_topk recipe
    pointed at the code index's trained-artifact sidecars: the oracle
    recomputes probe, t_cs prune, candidacy, codes-only approx MaxSim,
    survivor cut, decompressed-vector rerank — then the identical
    BM25 + fusion + ranking tail."""
    from next_plaid_spark.plans.searcher import SearchParams

    idx = _code_index(spark, sf_dir)
    _write_code_oracle_sidecars(idx)
    _assert_funnel_oracle_scale(idx)
    res = idx.search(_code_query_text(spark, sf_dir),
                     top_k=CODE_TOPK, alpha=CODE_ALPHA,
                     params=SearchParams(n_ivf_probe=8,
                                         centroid_score_threshold=0.4,
                                         n_full_scores=256,
                                         keep_best_cell=True))
    return res.select(
        "unit_id", "file", "name", "line", "end_line",
        F.round("score", 6).alias("score"), "rank",
    )


def q_code_search_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10/F11 against the PREBUILT index: the regex/glob subset restricts
    the funnel's candidacy (F9) and the BM25 scoring, but — unlike the
    index-free ``search_code`` — corpus statistics and fetch_k stay
    full-index (the reference's indexed filter semantics,
    index/mod.rs:4104-4150: FTS5 stats are whole-table, fetch_k caps at
    the index's document count). The oracle applies the same subset to
    the sidecar vectors and the contribution join only."""
    idx = _code_index(spark, sf_dir)
    _write_code_oracle_sidecars(idx)
    res = idx.search(_code_query_text(spark, sf_dir),
                     regex=CODE_FILTER_REGEX, include_glob=CODE_FILTER_GLOB,
                     top_k=CODE_TOPK, alpha=CODE_ALPHA,
                     params=idx.exact_search_params(CODE_TOPK))
    return res.select(
        "unit_id", "file", "name", "line", "end_line",
        F.round("score", 6).alias("score"), "rank",
    )


def _assert_funnel_oracle_scale(idx) -> None:
    """The funnel-oracle code_search SQL fixes the survivor cut at
    min(256, max(64, 20·top_k)) with a PYTHON-int top_k, while the searcher
    computes it from the runtime fetch_k = min(max(20·k, 200), N). The two
    agree iff N > 256 (then both cuts are 256). Guard the assumption
    instead of leaving it to a comment — a sub-256-unit gate corpus must
    fail loudly, not hash-mismatch."""
    n = idx.plaid.meta.num_documents
    assert n > 256, (
        f"funnel-oracle code_search needs > 256 indexed units (have {n}): "
        "the DuckDB survivor-cut arithmetic assumes fetch_k >= 256")


def q_code_search_filtered_approx_topk(spark: SparkSession,
                                       sf_dir: str) -> DataFrame:
    """The FILTERED code search at its SERVING operating point — the last
    funnel path × configuration cell: F10/F11 regex+glob subset over the
    prebuilt CodeIndex with the approximate funnel (n_probe=8, t_cs=0.4,
    n_full_scores=256, keep_best_cell). Exercises Q4 probe scaling
    (n_probe · ⌊N/|subset|⌋ capped — search.rs:370-382) and the
    eligible-centroid probe restriction (search.rs:350-364) on the CODE
    index (colgrep/src/index/mod.rs:4104-4150 with restrictive -e/globs) —
    the exact twin deliberately short-circuits both. Oracle: the filtered
    funnel CTEs (subset semi-join + scaled-probe arithmetic) over the code
    sidecars, then the identical BM25 + fusion + R1-R5 tail."""
    from next_plaid_spark.plans.searcher import SearchParams

    idx = _code_index(spark, sf_dir)
    _write_code_oracle_sidecars(idx)
    _assert_funnel_oracle_scale(idx)
    res = idx.search(_code_query_text(spark, sf_dir),
                     regex=CODE_FILTER_REGEX, include_glob=CODE_FILTER_GLOB,
                     top_k=CODE_TOPK, alpha=CODE_ALPHA,
                     params=SearchParams(n_ivf_probe=8,
                                         centroid_score_threshold=0.4,
                                         n_full_scores=256,
                                         keep_best_cell=True))
    return res.select(
        "unit_id", "file", "name", "line", "end_line",
        F.round("score", 6).alias("score"), "rank",
    )


def _sql_ident_toks(expr: str) -> str:
    """DuckDB list expression mirroring ``tokenize_identifiers`` (K1): per
    word its lowered form, camel/underscore parts, compound, and adjacent
    bigrams. RE2 has no lookahead, so the camel classes become three
    boundary-insertion replaces (lower→Upper, ACRONYM→Word, ACRONYM→digit
    — the last because ``[A-Z]+`` never swallows a digit, so 'HTML5Parser'
    must split [html, 5, parser] in both engines)."""
    parts = (
        "list_filter(string_split(lower(regexp_replace(regexp_replace(regexp_replace("
        "replace(w, '_', ' '), '([a-z0-9])([A-Z])', '\\1 \\2', 'g'), "
        "'([A-Z]+)([A-Z][a-z])', '\\1 \\2', 'g'), "
        "'([A-Z]+)([0-9])', '\\1 \\2', 'g')), ' '), x -> x <> '')"
    )
    per_word = (
        f"(CASE WHEN len({parts}) > 1 THEN "
        f"[lower(w)] || {parts} || "
        f"(CASE WHEN array_to_string({parts}, '') <> lower(w) "
        f"THEN [array_to_string({parts}, '')] ELSE CAST([] AS VARCHAR[]) END) || "
        f"list_transform(range(1, len({parts})), i -> {parts}[i] || {parts}[i+1]) "
        f"ELSE [lower(w)] END)"
    )
    return (f"flatten(list_transform(regexp_extract_all({expr}, "
            f"'[A-Za-z0-9_]+'), w -> {per_word}))")


def sql_code_search_topk(top_k: int = CODE_TOPK,
                         alpha: float = CODE_ALPHA,
                         subset_where: str = "",
                         sem_funnel: bool = False) -> str:
    from next_plaid_spark.operators.bm25 import B, K1, SCORE_DECIMALS
    from next_plaid_spark.operators.colgrep import (
        _BARREL_PATH_RE,
        _COMPAT_PATH_RE,
        _QUERY_WANTS_TEST_RE,
        _STEM_STOPWORDS,
        _TEST_PATH_RE,
        COHERENCE_BOOST,
        DEF_BOOST,
        DEF_TYPES,
        PENALTY_BARREL,
        PENALTY_COMPAT,
        PENALTY_TEST,
        STEM_EXACT_BOOST,
        STEM_PREFIX_BOOST,
    )

    dim = 16
    stop = ", ".join(f"'{s}'" for s in _STEM_STOPWORDS)
    def_types = ", ".join(f"'{t}'" for t in DEF_TYPES)
    # the embed-text parts, straight from embed.rs order (colgrep.py
    # build_embedding_text is the Spark twin). The synthetic corpus is far
    # below the 8 KiB truncation cap, so the truncation branch is omitted.
    file_norm = (
        "lower(trim(regexp_replace(regexp_replace(regexp_replace("
        "regexp_replace(file, '\\.[^.]*$', ''), "
        "'([a-z])([A-Z])', '\\1 \\2', 'g'), "
        "'[/\\\\_.\\-]+', ' ', 'g'), '\\s+', ' ', 'g'))) "
        "|| ' ' || string_split(file, '/')[-1]"
    )
    embed = f"""
CASE WHEN unit_type IN ('RawCode', 'Constant') THEN code ELSE concat_ws(chr(10),
  (CASE WHEN unit_type = 'RawCode' THEN 'Code block' ELSE unit_type END) || ': ' || coalesce(name, ''),
  CASE WHEN signature IS NOT NULL AND signature <> '' THEN 'Signature: ' || signature END,
  CASE WHEN extends IS NOT NULL AND extends <> '' THEN 'Extends: ' || extends END,
  CASE WHEN parent_class IS NOT NULL AND parent_class <> '' THEN 'Class: ' || parent_class END,
  CASE WHEN docstring IS NOT NULL AND docstring <> '' THEN 'Description: ' || docstring END,
  CASE WHEN len(parameters) > 0 THEN 'Parameters: ' || array_to_string(parameters, ', ') END,
  CASE WHEN return_type IS NOT NULL AND return_type <> '' THEN 'Returns: ' || return_type END,
  CASE WHEN len(calls) > 0 THEN 'Calls: ' || array_to_string(calls, ', ') END,
  CASE WHEN len(called_by) > 0 THEN 'Called by: ' || array_to_string(called_by, ', ') END,
  CASE WHEN len(variables) > 0 THEN 'Variables: ' || array_to_string(variables, ', ') END,
  CASE WHEN len(imports) > 0 THEN 'Uses: ' || array_to_string(imports, ', ') END,
  'File: ' || {file_norm},
  CASE WHEN coalesce(code, '') <> '' THEN 'Code:' || chr(10) || code END
) END""".strip()
    u61 = (f"list_filter(string_split_regex(lower({{src}}), "
           f"'{TOKEN_SPLIT_RE}'), x -> x <> '')")
    # mirrors CodeIndex.search exactly: min(max(20·k, 200), max(n, k)) —
    # the top_k floor matters only when the corpus is smaller than top_k,
    # but the oracle must not silently diverge there
    fetch_k = (f"least(greatest({20 * top_k}, 200), "
               f"greatest((SELECT n FROM nu), {top_k}))")
    where_sql = f"WHERE {subset_where}" if subset_where else ""
    # precomputed fragments (f-string expressions cannot carry backslashes)
    stem_expr = ("regexp_replace(string_split(file, '/')[-1], "
                 "'\\.[A-Za-z0-9.]+$', '')")
    name_toks = _sql_ident_toks("name")
    qt_toks = _sql_ident_toks("qt")
    embed_toks = _sql_ident_toks("embed_text")
    stem_toks = _sql_ident_toks(stem_expr)
    if sem_funnel:
        # the APPROXIMATE-funnel semantic leg: the plaid_search_topk
        # recipe (trained-artifact sidecars + full funnel recompute)
        # pointed at the code index's centroids/doc_codes/decompressed
        # sidecars. The survivor-cut arithmetic needs a Python int for
        # top_k; 20·top_k equals the searcher's replace(p, top_k=fetch_k)
        # whenever the corpus has > n_full (256) units — true at the gate
        # (sf0.01 ≈ 750 units) and bench (sf0.1 = 6250) scales, where the
        # cut is min(256, max(64, fetch_k)) = 256 on both sides either way
        # (the Spark entries assert num_documents > 256 for exactly this).
        # With subset_where set this is the FILTERED funnel at the serving
        # point: Q4 probe scaling off the full-index N, eligible-cell probe
        # restriction, and subset-intersected candidacy — the subset feeds
        # in as a doc_id SELECT over subq (prebuilt-index semantics: stats
        # and fetch_k stay full-index)
        sem_sql = f"""qt AS (
  SELECT CAST(0 AS BIGINT) AS query_id, token_idx,
         {token_vector_sql('token', 16)} AS vec
  FROM q_sem
),
{_sql_plaid_funnel_ctes(top_k=max(20 * top_k, 200), n_full=256, n_probe=8,
                        t_cs=0.4, dim=dim,
                        subset_from=("SELECT unit_id AS doc_id FROM subq"
                                     if subset_where else None),
                        approx_sidecar=CODE_APPROX_SIDECAR,
                        exact_sidecar=CODE_EXACT_SIDECAR)},
sem_list AS (
  SELECT doc_id AS unit_id, score FROM f_ranked WHERE rank <= {fetch_k}
),"""
    else:
        # the EXACT-configuration semantic leg: brute MaxSim over the
        # decompressed index vectors (B7 output), straight off the sidecar
        sem_sql = f"""dt AS (
  SELECT doc_id AS unit_id, vec
  FROM '{CODE_EXACT_SIDECAR}/*.parquet'
  WHERE doc_id IN (SELECT unit_id FROM subq)
),
qv AS (SELECT token_idx, {token_vector_sql('token', 16)} AS vec FROM q_sem),
dots AS (
  SELECT dt.unit_id, qv.token_idx AS q_token_idx,
         list_reduce(list_transform(range(1, {dim + 1}), i -> qv.vec[i] * dt.vec[i]), (a, b) -> a + b) AS dp
  FROM qv CROSS JOIN dt
),
per_qtok AS (
  SELECT unit_id, q_token_idx, max(dp) AS max_dp FROM dots GROUP BY 1, 2
),
sem_scores AS (
  SELECT unit_id,
         list_reduce(list_prepend(0.0, list_sort(list(max_dp))), (a, b) -> a + b) AS score
  FROM per_qtok GROUP BY 1
),
sem_list AS (
  SELECT unit_id, score FROM (
    SELECT unit_id, score,
           row_number() OVER (ORDER BY score DESC, unit_id ASC) AS r
    FROM sem_scores
  ) WHERE r <= {fetch_k}
),"""
    return f"""
WITH raw_units AS (SELECT * FROM '{CODE_UNITS_SIDECAR}/*.parquet'),
edges AS (
  SELECT DISTINCT u.name AS caller_name, c.callee AS callee
  FROM raw_units u, unnest(u.calls) AS c(callee)
),
cb AS (
  SELECT e.callee AS name, list_sort(list(DISTINCT e.caller_name)) AS called_by
  FROM edges e WHERE e.callee IN (SELECT name FROM raw_units)
  GROUP BY 1
),
u2 AS (
  SELECT u.* EXCLUDE (called_by),
         coalesce(cb.called_by, CAST([] AS VARCHAR[])) AS called_by
  FROM raw_units u LEFT JOIN cb USING (name)
),
emb AS (
  SELECT unit_id, file, name, unit_type, line, end_line,
         {embed} AS embed_text
  FROM u2
),
-- prebuilt-index filter semantics (index/mod.rs:4104-4150): the subset
-- restricts candidacy and scoring; stats and fetch_k stay full-index
subq AS (SELECT unit_id FROM u2 {where_sql}),
-- fetch_k scales off the INDEX's document count (meta sidecar), exactly
-- as CodeIndex.search does — count(*) over emb would diverge if any unit
-- encoded to zero tokens (the same num_documents-from-meta rule as
-- _write_approx_oracle_sidecar)
nu AS (SELECT num_documents AS n FROM '{CODE_APPROX_SIDECAR}/meta/*.parquet'),
qtext AS (
  SELECT array_to_string(list_slice({u61.format(src='text')}, 1, 2), ' ') AS qt
  FROM documents WHERE doc_id = (SELECT min(doc_id) FROM documents)
),
q_sem AS (
  SELECT unnest(range(0, len(toks))) AS token_idx, unnest(toks) AS token
  FROM (SELECT list_slice({u61.format(src='qt')}, 1, 16) AS toks FROM qtext)
),
{sem_sql}
-- keyword side: identifier-aware BM25 over the embed text
unit_kw AS (
  SELECT unit_id, unnest({embed_toks}) AS term FROM emb
),
postings AS (SELECT term, unit_id, count(*) AS tf FROM unit_kw GROUP BY 1, 2),
doclens AS (SELECT unit_id, count(*) AS dl FROM unit_kw GROUP BY 1),
kstats AS (SELECT count(*) AS n, sum(dl) / count(*) AS avgdl FROM doclens),
dfreq AS (SELECT term, count(DISTINCT unit_id) AS df FROM postings GROUP BY 1),
qterms AS (
  SELECT term, count(*) AS qtf FROM (
    SELECT unnest({qt_toks}) AS term FROM qtext
  ) GROUP BY 1
),
contribs AS (
  SELECT p.unit_id,
         q.qtf * ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
               * (p.tf * {K1 + 1.0}) / (p.tf + {K1} * (1.0 - {B} + {B} * l.dl / s.avgdl)) AS contrib
  FROM qterms q
  JOIN postings p USING (term)
  JOIN dfreq d USING (term)
  JOIN doclens l ON p.unit_id = l.unit_id
  CROSS JOIN kstats s
  WHERE p.unit_id IN (SELECT unit_id FROM subq)
),
kw_scores AS (
  SELECT unit_id,
         round(list_reduce(list_prepend(0.0, list_sort(list(contrib))), (a, b) -> a + b), {SCORE_DECIMALS}) AS score
  FROM contribs GROUP BY 1
),
kw_list AS (
  SELECT unit_id, score FROM (
    SELECT unit_id, score,
           row_number() OVER (ORDER BY score DESC, unit_id ASC) AS r
    FROM kw_scores
  ) WHERE r <= {fetch_k}
),
-- K6-K8: relative-score fusion (both lists are non-empty by construction)
sem_norm AS (
  SELECT unit_id,
         CASE WHEN max(score) OVER () = min(score) OVER () THEN 1.0
              ELSE (score - min(score) OVER ()) / (max(score) OVER () - min(score) OVER ())
         END AS n
  FROM sem_list
),
kw_norm AS (
  SELECT unit_id,
         CASE WHEN max(score) OVER () = min(score) OVER () THEN 1.0
              ELSE (score - min(score) OVER ()) / (max(score) OVER () - min(score) OVER ())
         END AS n
  FROM kw_list
),
fused AS (
  SELECT unit_id, score FROM (
    SELECT coalesce(s.unit_id, w.unit_id) AS unit_id,
           {alpha} * coalesce(s.n, 0.0) + {1.0 - alpha} * coalesce(w.n, 0.0) AS score,
           row_number() OVER (
             ORDER BY {alpha} * coalesce(s.n, 0.0) + {1.0 - alpha} * coalesce(w.n, 0.0) DESC,
                      coalesce(s.unit_id, w.unit_id) ASC) AS r
    FROM sem_norm s FULL OUTER JOIN kw_norm w USING (unit_id)
  ) WHERE r <= {fetch_k}
),
-- R1-R4 boosts over the fetched list
r0 AS (
  SELECT f.unit_id, f.score, e.file, e.name, e.unit_type, e.line, e.end_line,
         (SELECT qt FROM qtext) AS qt
  FROM fused f JOIN emb e USING (unit_id)
),
mx AS (SELECT coalesce(max(score), 0.0) AS m FROM r0),
qtoks AS (SELECT {qt_toks} AS ts FROM qtext),
r3 AS (
  -- qtoks/mx are CROSS JOINed (1 row each): DuckDB forbids subqueries
  -- inside lambda expressions
  SELECT unit_id, file, name, line, end_line,
         -- R1 multiplicative path penalty (unless the query wants tests);
         -- classes COMPOUND like the reference's penalty *= (ranking.rs:133-157)
         (score * (CASE
            WHEN regexp_matches(lower(qt), '{_QUERY_WANTS_TEST_RE}') THEN 1.0
            ELSE (CASE WHEN regexp_matches(file, '{_TEST_PATH_RE}') THEN {PENALTY_TEST} ELSE 1.0 END)
               * (CASE WHEN regexp_matches(file, '{_COMPAT_PATH_RE}') THEN {PENALTY_COMPAT} ELSE 1.0 END)
               * (CASE WHEN regexp_matches(file, '{_BARREL_PATH_RE}') THEN {PENALTY_BARREL} ELSE 1.0 END)
            END))
         -- R2 definition boost
         + (CASE WHEN unit_type IN ({def_types})
                  AND len(list_intersect({name_toks}, qk.ts)) > 0
                 THEN {DEF_BOOST} * mx.m ELSE 0.0 END)
         -- R3 path-stem boost (exact > prefix>=3; stopword-filtered stems)
         + (CASE
            WHEN len(list_intersect(
                   list_filter({stem_toks},
                       s -> s NOT IN ({stop})),
                   qk.ts)) > 0
            THEN {STEM_EXACT_BOOST} * mx.m
            WHEN len(list_filter(
                   list_filter({stem_toks},
                       s -> s NOT IN ({stop})),
                   s -> len(list_filter(qk.ts,
                                        q -> len(q) >= 3 AND starts_with(s, q))) > 0)) > 0
            THEN {STEM_PREFIX_BOOST} * mx.m
            ELSE 0.0 END) AS score
  FROM r0 CROSS JOIN qtoks qk CROSS JOIN mx
),
-- R4 file coherence: sorted-fold file sums (cross-engine float discipline)
fsums AS (
  SELECT file,
         list_reduce(list_prepend(0.0, list_sort(list(score))), (a, b) -> a + b) AS fsum
  FROM r3 GROUP BY 1
),
r4 AS (
  SELECT r3.unit_id, r3.file, r3.name, r3.line, r3.end_line,
         r3.score
         + (CASE WHEN row_number() OVER (PARTITION BY r3.file
                                         ORDER BY r3.score DESC, r3.unit_id ASC) = 1
                  AND (SELECT max(fsum) FROM fsums) <> 0.0
                 THEN {COHERENCE_BOOST} * (SELECT m FROM mx)
                      * f.fsum / (SELECT max(fsum) FROM fsums)
                 ELSE 0.0 END) AS score
  FROM r3 JOIN fsums f USING (file)
),
-- R5 collapse-by-file (merged line ranges) + final top-k
flines AS (SELECT file, min(line) AS line, max(end_line) AS end_line FROM r4 GROUP BY 1),
best AS (
  SELECT r4.unit_id, r4.file, r4.name, r4.score,
         row_number() OVER (PARTITION BY r4.file ORDER BY r4.score DESC, r4.unit_id ASC) AS fr
  FROM r4
),
final AS (
  SELECT b.unit_id, b.file, b.name, fl.line, fl.end_line, b.score,
         row_number() OVER (ORDER BY b.score DESC, b.unit_id ASC) AS rank
  FROM best b JOIN flines fl USING (file)
  WHERE b.fr = 1
)
SELECT unit_id, file, name, line, end_line,
       round(score, 6) AS score, CAST(rank AS INT) AS rank
FROM final WHERE rank <= {top_k}
""".strip()


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "maxsim_brute_topk": q_maxsim_brute_topk,
        "plaid_search_topk": q_plaid_search_topk,
        "plaid_search_exact_topk": q_plaid_search_exact_topk,
        "plaid_filtered_exact_topk": q_plaid_filtered_exact_topk,
        "plaid_filtered_topk": q_plaid_filtered_topk,
        "hybrid_plaid_topk": q_hybrid_plaid_topk,
        "hybrid_plaid_exact_topk": q_hybrid_plaid_exact_topk,
        "monthly_shipments": q_monthly_shipments,
        "update_append_doclens": q_update_append_doclens,
        "delta_update_doclens": q_delta_update_doclens,
        "delete_survivor_doclens": q_delete_survivor_doclens,
        "source_overlap": q_source_overlap,
        "cosine_topk": q_cosine_topk,
        "filtered_search_topk": q_filtered_search_topk,
        "distinct_langs": q_distinct_langs,
        "bm25_topk": q_bm25_topk,
        "bm25_pruned_topk": q_bm25_pruned_topk,
        "bm25_fts5_topk": q_bm25_fts5_topk,
        "bm25_phrase_topk": q_bm25_phrase_topk,
        "bm25_and_topk": q_bm25_and_topk,
        "media_decode": q_media_decode,
        "media_features": q_media_features,
        "hybrid_rrf_topk": q_hybrid_rrf_topk,
        "hybrid_relative_topk": q_hybrid_relative_topk,
        "bm25_trigram_topk": q_bm25_trigram_topk,
        "rerank_bm25_candidates": q_rerank_bm25_candidates,
        "revenue_by_nation": q_revenue_by_nation,
        "top_orders_per_customer": q_top_orders_per_customer,
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_incremental": q_dedup_incremental,
        "dedup_bloom": q_dedup_bloom,
        "dedup_bloom_stream": q_dedup_bloom_stream,
        "dedup_bloom_retract": q_dedup_bloom_retract,
        "curate_stream": q_curate_stream,
        "simhash_fingerprints": q_simhash_fingerprints,
        "dedup_simhash": q_dedup_simhash,
        "dedup_embedding": q_dedup_embedding,
        "semdedup": q_semdedup,
        "duplicate_spans": q_duplicate_spans,
        "scrub_spans": q_scrub_spans,
        "dedup_clusters": q_dedup_clusters,
        "leakage_split": q_leakage_split,
        "winnowing_fingerprints": q_winnowing_fingerprints,
        "dedup_winnowing": q_dedup_winnowing,
        "decontaminate": q_decontaminate,
        "decontaminate_multi": q_decontaminate_multi,
        "corpus_profile": q_corpus_profile,
        "repetition_stats": q_repetition_stats,
        "stratified_sample": q_stratified_sample,
        "sample_per_source": q_sample_per_source,
        "temperature_resample": q_temperature_resample,
        "dsir_select": q_dsir_select,
        "ngram_lm_counts": q_ngram_lm_counts,
        "chunk_documents": q_chunk_documents,
        "pack_sequences": q_pack_sequences,
        "span_corrupt": q_span_corrupt,
        "packed_bins": q_packed_bins,
        "curate_corpus": q_curate_corpus,
        "bpe_pair_counts": q_bpe_pair_counts,
        "bpe_tokenize": q_bpe_tokenize,
        "gopher_filter": q_gopher_filter,
        "token_count": q_token_count,
        "text_normalize": q_text_normalize,
        "pii_scrub": q_pii_scrub,
        "language_id": q_language_id,
        "quality_score": q_quality_score,
        "quality_classifier": q_quality_classifier,
        "url_filter": q_url_filter,
        "doc_fingerprint": q_fingerprint,
        "perplexity_proxy": q_perplexity_proxy,
        "perplexity_bigram": q_perplexity_bigram,
        "pricing_summary": q_pricing_summary,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_ivf_exact_topk": q_ann_ivf_exact_topk,
        "mmr_topk": q_mmr_topk,
        "hard_negatives": q_hard_negatives,
        "events_hourly": q_events_hourly,
        "events_sessions": q_events_sessions,
        "events_session_windows": q_events_session_windows,
        "events_sliding": q_events_sliding,
        "events_props": q_events_props,
        "events_asof": q_events_asof,
        "search_stream": q_search_stream,
        "plaid_updated_search_topk": q_plaid_updated_search_topk,
        "evict_oldest_doclens": q_evict_oldest_doclens,
        "enrich_stream": q_enrich_stream,
        "ingest_stream_doclens": q_ingest_stream_doclens,
        "events_rolling": q_events_rolling,
        "events_funnel": q_events_funnel,
        "events_retention": q_events_retention,
        "ir_eval_bm25": q_ir_eval_bm25,
        "ir_eval_plaid": q_ir_eval_plaid,
        "code_search_topk": q_code_search_topk,
        "code_search_approx_topk": q_code_search_approx_topk,
        "code_search_filtered_topk": q_code_search_filtered_topk,
        "code_search_filtered_approx_topk": q_code_search_filtered_approx_topk,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "maxsim_brute_topk": sql_maxsim_brute_topk(),
        "plaid_search_exact_topk": sql_plaid_search_exact_topk(),
        "plaid_search_topk": sql_plaid_search_topk(),
        "plaid_filtered_topk": sql_plaid_filtered_topk(),
        "hybrid_plaid_topk": sql_hybrid_relative_topk(
            alpha=0.75, k=MAXSIM_TOPK, sem_funnel=True
        ),
        "plaid_filtered_exact_topk": sql_plaid_filtered_exact_topk(),
        "hybrid_plaid_exact_topk": sql_hybrid_relative_topk(
            alpha=0.75, k=MAXSIM_TOPK, exact_sidecar=EXACT_ORACLE_SIDECAR
        ),
        "monthly_shipments": SQL_MONTHLY_SHIPMENTS,
        "code_search_topk": sql_code_search_topk(),
        "code_search_approx_topk": sql_code_search_topk(sem_funnel=True),
        "code_search_filtered_topk": sql_code_search_topk(
            subset_where=("file LIKE 'src/%' AND "
                          f"regexp_matches(code, '{CODE_FILTER_REGEX}')")),
        "code_search_filtered_approx_topk": sql_code_search_topk(
            sem_funnel=True,
            subset_where=("file LIKE 'src/%' AND "
                          f"regexp_matches(code, '{CODE_FILTER_REGEX}')")),
        "update_append_doclens": sql_update_append_doclens(),
        "delta_update_doclens": sql_delta_update_doclens(),
        "delete_survivor_doclens": sql_delete_survivor_doclens(),
        "source_overlap": SQL_SOURCE_OVERLAP,
        "cosine_topk": sql_cosine_topk(),
        "ann_lsh_topk": sql_ann_lsh_topk(),
        "ann_ivf_topk": sql_ann_ivf_topk(),
        "ann_ivf_exact_topk": sql_cosine_topk(),
        "mmr_topk": sql_mmr_topk(),
        "hard_negatives": sql_hard_negatives(),
        "filtered_search_topk": sql_filtered_search_topk(),
        "distinct_langs": SQL_DISTINCT_LANGS,
        "bm25_topk": sql_bm25_topk(),
        # the prune is top-k-preserving: its oracle IS the exhaustive SQL
        "bm25_pruned_topk": sql_bm25_topk(),
        "bm25_fts5_topk": sql_bm25_fts5_topk(),
        "bm25_phrase_topk": _sql_bm25_phrase_topk(),
        "bm25_and_topk": sql_bm25_and_topk(),
        "media_decode": SQL_MEDIA_DECODE,
        "media_features": SQL_MEDIA_FEATURES,
        "ir_eval_bm25": sql_ir_eval_bm25(),
        "ir_eval_plaid": sql_ir_eval_plaid(),
        "events_asof": SQL_EVENTS_ASOF,
        "search_stream": sql_plaid_search_topk(),
        "plaid_updated_search_topk": sql_plaid_search_exact_topk(
            sidecar=UPDATED_EXACT_SIDECAR),
        "evict_oldest_doclens": sql_evict_oldest_doclens(),
        "enrich_stream": SQL_EVENTS_ASOF,
        "ingest_stream_doclens": sql_update_append_doclens(),
        "events_rolling": SQL_EVENTS_ROLLING,
        "events_funnel": SQL_EVENTS_FUNNEL,
        "events_retention": SQL_EVENTS_RETENTION,
        "text_normalize": _sql_text_normalize(),
        "perplexity_bigram": _sql_perplexity_bigram(),
        "hybrid_rrf_topk": sql_hybrid_rrf_topk(),
        "hybrid_relative_topk": sql_hybrid_relative_topk(),
        "bm25_trigram_topk": sql_bm25_trigram_topk(),
        "rerank_bm25_candidates": sql_rerank_bm25_candidates(),
        "revenue_by_nation": SQL_REVENUE_BY_NATION,
        "top_orders_per_customer": SQL_TOP_ORDERS_PER_CUSTOMER,
        "dedup_exact": SQL_DEDUP_EXACT,
        "dedup_ngram_jaccard": _dedup_sqls()[0],
        "dedup_minhash_lsh": _dedup_sqls()[1],
        "dedup_incremental": _sql_dedup_incremental(),
        "dedup_bloom": _sql_dedup_bloom(),
        "dedup_bloom_stream": _sql_dedup_bloom_stream(),
        "dedup_bloom_retract": _sql_dedup_bloom_retract(),
        "curate_stream": _sql_curate_stream(),
        "simhash_fingerprints": _dedup_sqls()[2],
        "dedup_simhash": _dedup_sqls()[3],
        "dedup_embedding": _dedup_sqls()[4],
        "semdedup": _sql_semdedup(),
        "duplicate_spans": _sql_duplicate_spans(),
        "scrub_spans": _sql_scrub_spans(),
        "dedup_clusters": _sql_dedup_clusters_oracle(),
        "leakage_split": _sql_leakage_split(),
        "winnowing_fingerprints": _sql_winnowing(),
        "dedup_winnowing": _sql_dedup_winnowing(),
        "decontaminate": _corpus_sqls()[0],
        "decontaminate_multi": _sql_decontaminate_multi(),
        "corpus_profile": SQL_CORPUS_PROFILE,
        "repetition_stats": _corpus_sqls()[1],
        "stratified_sample": _corpus_sqls()[2],
        "sample_per_source": _sql_sample_per_source(),
        "span_corrupt": _sql_span_corrupt(),
        "temperature_resample": _sql_temperature_resample(),
        "dsir_select": _sql_dsir_select(),
        "ngram_lm_counts": _sql_ngram_lm_counts(),
        "chunk_documents": _sql_chunk_documents(),
        "pack_sequences": _sql_pack_sequences(),
        "packed_bins": _sql_packed_bins(),
        "curate_corpus": _sql_curate_corpus(),
        "bpe_pair_counts": _sql_bpe_pair_counts(),
        "bpe_tokenize": SQL_BPE_TOKENIZE,
        "gopher_filter": _sql_gopher_filter(),
        "token_count": SQL_TOKEN_COUNT,
        "pii_scrub": _sql_pii_scrub(),
        "language_id": _textstats_sqls()[0],
        "quality_score": _textstats_sqls()[1],
        "quality_classifier": sql_quality_classifier(),
        "url_filter": sql_url_filter(),
        "doc_fingerprint": _textstats_sqls()[2],
        "perplexity_proxy": _textstats_sqls()[3],
        "pricing_summary": SQL_PRICING_SUMMARY,
        "events_hourly": SQL_EVENTS_HOURLY,
        "events_sessions": SQL_EVENTS_SESSIONS,
        "events_session_windows": SQL_EVENTS_SESSION_WINDOWS,
        "events_sliding": SQL_EVENTS_SLIDING,
        "events_props": SQL_EVENTS_PROPS,
    }
