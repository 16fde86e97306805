"""Code-search layer — the colgrep equivalents (SURVEY.md §2.6/§2.7).

Implements, over a ``code_units`` DataFrame (FIXTURES.md §6 schema):
- K1 identifier-aware tokenization: camelCase/snake_case splitting with
  compound + adjacent-bigram tokens (behavioral spec of
  colgrep text_search.rs:115-247, reimplemented from the description).
- P2 embedding-text builder: structured "Function: … / Signature: … /
  File: … / Code: …" text with an 8 KiB cap, path placed before code so
  truncation keeps it (colgrep/src/embed.rs:115-207).
- R1-R5 ranking boosts + collapse-by-file
  (colgrep/src/ranking.rs:42-444, index/mod.rs:4093-4416).

All boosts are Catalyst expressions over the scored results; the only UDF
surface is the tokenizer (kept as a plain Python function + array column
builder so BM25Index can reuse it).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from next_plaid_spark.session import local_df

# -- K1: identifier-aware tokenizer -------------------------------------------

_WORD_RE = re.compile(r"[A-Za-z0-9_]+")
_CAMEL_RE = re.compile(
    r"[A-Z]+(?![a-z])|[A-Z][a-z0-9]*|[a-z0-9]+"
)


def split_identifier(word: str) -> list[str]:
    """'getHTTPResponse_code' → ['get', 'http', 'response', 'code']."""
    parts: list[str] = []
    for seg in word.split("_"):
        parts.extend(m.group(0).lower() for m in _CAMEL_RE.finditer(seg))
    return [p for p in parts if p]


def tokenize_identifiers(text: str) -> list[str]:
    """Per word: its lowered form, its parts, and adjacent-part bigrams
    (compound tokens let 'getuser' match 'get_user'; bigrams let
    'user name' match 'userName')."""
    out: list[str] = []
    for m in _WORD_RE.finditer(text or ""):
        word = m.group(0)
        parts = split_identifier(word)
        lowered = word.lower()
        out.append(lowered)
        if len(parts) > 1:
            out.extend(parts)
            compound = "".join(parts)
            if compound != lowered:
                out.append(compound)
            out.extend(parts[i] + parts[i + 1] for i in range(len(parts) - 1))
    return out


_CAMEL_RE_JAVA = r"[A-Z]+(?![a-z])|[A-Z][a-z0-9]*|[a-z0-9]+"


def identifier_tokens(col: Column) -> Column:
    """Pure-Catalyst ``tokenize_identifiers`` — same tokens, same order,
    no Python workers (the former row-at-a-time ``F.udf`` was the K1 weak
    spot; Java regex supports the identical lookahead, and ``_`` falls out
    of the camel classes so the split-on-underscore step is implicit).

    Higher-order array functions are interpreted (no codegen) but stay
    JVM-side — orders of magnitude cheaper than a per-row Python UDF on
    the BM25-build hot path.
    """
    words = F.regexp_extract_all(
        F.coalesce(col, F.lit("")), F.lit(r"[A-Za-z0-9_]+"), F.lit(0)
    )

    def per_word(w):
        lowered = F.lower(w)
        parts = F.transform(
            F.regexp_extract_all(w, F.lit(_CAMEL_RE_JAVA), F.lit(0)), F.lower
        )
        nparts = F.size(parts)
        compound = F.array_join(parts, "")
        bigrams = F.filter(
            F.transform(
                parts,
                lambda p, i: F.when(
                    i < nparts - 1, F.concat(p, F.element_at(parts, i + 2))
                ),
            ),
            lambda x: x.isNotNull(),
        )
        return F.when(
            nparts > 1,
            F.concat(
                F.array(lowered),
                parts,
                F.when(compound != lowered, F.array(compound)).otherwise(
                    F.array().cast("array<string>")
                ),
                bigrams,
            ),
        ).otherwise(F.array(lowered))

    return F.flatten(F.transform(words, per_word))


# -- P2: embedding-text builder ------------------------------------------------

EMBED_TEXT_CAP = 8 * 1024  # MAX_EMBEDDING_TEXT_CHARS, embed.rs:9
TRUNCATION_MARKER = "\n[...truncated...]\n"  # embed.rs:10


def _truncate_expr(text: Column) -> Column:
    """embed.rs::truncate_text: over-cap text keeps a right-trimmed prefix
    and appends the truncation marker."""
    keep = EMBED_TEXT_CAP - len(TRUNCATION_MARKER)
    return F.when(
        F.length(text) <= EMBED_TEXT_CAP, text
    ).otherwise(
        F.concat(
            F.regexp_replace(F.substring(text, 1, keep), r"\s+$", ""),
            F.lit(TRUNCATION_MARKER),
        )
    )


def _embed_file_expr(file_col: Column) -> Column:
    """embed.rs::shorten_path + normalize_path_for_embedding: keep the last
    4 path components, strip the extension, split separators/underscores/
    dots/CamelCase into spaces, lowercase, and append the raw filename."""
    parts = F.split(file_col, r"[/\\]")
    short = F.array_join(
        F.when(F.size(parts) > 4, F.slice(parts, -4, 4)).otherwise(parts),
        "/",
    )
    fname = F.element_at(parts, -1)
    no_ext = F.regexp_replace(short, r"\.[^.]*$", "")
    camel = F.regexp_replace(no_ext, r"([a-z])([A-Z])", r"$1 $2")
    seps = F.regexp_replace(camel, r"[/\\_.\-]+", " ")
    norm = F.lower(F.trim(F.regexp_replace(seps, r"\s+", " ")))
    return F.concat(norm, F.lit(" "), fname)


def build_embedding_text(units: DataFrame) -> DataFrame:
    """Adds ``embed_text``: the reference's 5-layer structured text,
    byte-compatible with embed.rs::build_embedding_text (115-207) — the
    fixture tests in tests/test_code_parse_fixtures.py assert equality
    against the reference's own expected strings. Path before code so the
    8 KiB truncation keeps it. RawCode and Constant units embed the raw
    code only (embed.rs:117-120). Layer-2/4/5 parts engage when the frame
    carries ``called_by`` (from code_parse.build_call_graph) /
    ``variables`` / ``imports``; older frames without them still work."""
    cols = set(units.columns)

    # each labelled part is one SQL expression: composed from Column
    # calls, a part cost about twenty py4j commands to build
    def arr_part(col: str, label: str):
        return F.expr(f"CASE WHEN size(coalesce(`{col}`, array())) > 0 "
                      f"THEN concat('{label}', concat_ws(', ', `{col}`)) END")

    def str_part(col: str, label: str):
        return F.expr(f"CASE WHEN `{col}` IS NOT NULL AND `{col}` != '' "
                      f"THEN concat('{label}', `{col}`) END")

    type_label = F.when(F.col("unit_type") == "RawCode", F.lit("Code block")) \
        .otherwise(F.coalesce("unit_type", F.lit("Code")))
    parts = [
        F.concat(type_label, F.lit(": "), F.coalesce("name", F.lit(""))),
        str_part("signature", "Signature: "),
    ]
    if "extends" in cols:
        parts.append(str_part("extends", "Extends: "))
    parts += [
        str_part("parent_class", "Class: "),
        str_part("docstring", "Description: "),
    ]
    if "parameters" in cols:
        parts.append(arr_part("parameters", "Parameters: "))
    if "return_type" in cols:
        parts.append(str_part("return_type", "Returns: "))
    parts.append(arr_part("calls", "Calls: "))
    if "called_by" in cols:
        parts.append(arr_part("called_by", "Called by: "))
    if "variables" in cols:  # Layer 4 data flow (embed.rs:182-185)
        parts.append(arr_part("variables", "Variables: "))
    if "imports" in cols:
        parts.append(arr_part("imports", "Uses: "))
    parts += [
        F.concat(F.lit("File: "), _embed_file_expr(F.col("file"))),
        F.when(F.coalesce("code", F.lit("")) != "",
               F.concat(F.lit("Code:\n"), F.col("code"))),
    ]
    structured = F.concat_ws("\n", *parts)
    raw = F.coalesce("code", F.lit(""))
    # the untruncated text is one column that the truncation reads: the
    # truncation references its input three times, and a projection of the
    # whole structured concat_ws would generate that code three times over
    # (Spark keeps the two projections apart rather than duplicate it)
    return units.withColumn(
        "embed_text",
        F.when(F.col("unit_type").isin("RawCode", "Constant"), raw)
        .otherwise(structured),
    ).withColumn("embed_text", _truncate_expr(F.col("embed_text")))


# -- R1-R5: ranking ------------------------------------------------------------

# path-noise classes and multiplicative penalties (ranking.rs:42-166)
PENALTY_TEST = 0.30
PENALTY_COMPAT = 0.50
PENALTY_BARREL = 0.70

_TEST_PATH_RE = r"(^|/)(tests?|spec|specs|__tests__)(/|$)|_test\.|\.test\.|\.spec\.|_spec\."
_COMPAT_PATH_RE = r"(^|/)(compat|examples?|samples?|fixtures|vendor|third_party)(/|$)"
_BARREL_PATH_RE = r"(^|/)(__init__\.py|index\.(js|ts)|mod\.rs|lib\.rs)$|\.d\.ts$"

_QUERY_WANTS_TEST_RE = r"\b(test|tests|spec|specs|benchmark|benchmarks)\b"

DEF_BOOST = 0.25          # R2 (ranking.rs:191-232)
STEM_EXACT_BOOST = 0.40   # R3 exact (ranking.rs:280-372)
STEM_PREFIX_BOOST = 0.20  # R3 ≥3-char prefix
COHERENCE_BOOST = 0.20    # R4 (ranking.rs:396-444)
DEF_TYPES = ("Function", "Method", "Class", "Constant")
_STEM_STOPWORDS = ("index", "main", "mod", "lib", "util", "utils", "common", "core")


def path_penalty(file_col: Column, query_text: str) -> Column:
    """R1: multiplicative penalty unless the query itself asks for tests.

    Penalties for different path-noise classes COMPOUND, matching the
    reference's ``file_path_penalty`` (ranking.rs:133-157: ``penalty *=``
    per matching class) — e.g. ``compat/foo_test.py`` gets
    0.30 * 0.50 = 0.15, not first-match-wins 0.30."""
    if re.search(_QUERY_WANTS_TEST_RE, (query_text or "").lower()):
        return F.lit(1.0)
    return (
        F.when(file_col.rlike(_TEST_PATH_RE), F.lit(PENALTY_TEST)).otherwise(F.lit(1.0))
        * F.when(file_col.rlike(_COMPAT_PATH_RE), F.lit(PENALTY_COMPAT)).otherwise(F.lit(1.0))
        * F.when(file_col.rlike(_BARREL_PATH_RE), F.lit(PENALTY_BARREL)).otherwise(F.lit(1.0))
    )


def _stem(file_col: Column) -> Column:
    return F.regexp_replace(
        F.element_at(F.split(file_col, "/"), -1), r"\.[A-Za-z0-9.]+$", ""
    )


def apply_ranking(
    results: DataFrame,
    units: DataFrame,
    query_text: str,
    *,
    top_k: int = 10,
    collapse: bool = True,
) -> DataFrame:
    """R1→R4 re-scoring + R5 collapse for ONE query's result list.

    ``results``: (unit_id, score); ``units``: code_units metadata. Returns
    (unit_id, file, name, line, end_line, score, rank).
    """
    qtokens = set(tokenize_identifiers(query_text))
    qtok_arr = F.array(*[F.lit(t) for t in sorted(qtokens)]) if qtokens else F.array()

    r = results.join(
        units.select("unit_id", "file", "name", "unit_type", "line", "end_line"),
        "unit_id",
    )
    # normalization maxima as unpartitioned windows, NOT driver collects:
    # the result list is one query's fetch_k rows, so the single-partition
    # window is bounded and the whole ranking stays one Spark job (the
    # former agg().collect() pair launched two extra jobs per query and
    # broke multi-query batching).
    # SIZE-BOUND CONTRACT (r15, VERDICT r14 watch item): `results` is one
    # query's fused candidate list — at most fetch_k (≤ 20·top_k, capped
    # at the doc count by the callers) rows — so this unpartitioned
    # window ranges over a k-bounded frame at ANY corpus scale. Do not
    # feed this function a corpus-sized frame.
    w_all = Window.partitionBy()
    max_score = F.coalesce(F.max("score").over(w_all), F.lit(0.0))
    r = r.withColumn("_max_score", max_score)

    # R1 path-noise penalty
    r = r.withColumn("score", F.col("score") * path_penalty(F.col("file"), query_text))

    # R2 definition boost: unit name tokens ∩ query tokens, definition types only
    name_tokens = identifier_tokens(F.col("name"))
    r = r.withColumn(
        "score",
        F.col("score")
        + F.when(
            F.col("unit_type").isin(*DEF_TYPES)
            & (F.size(F.array_intersect(name_tokens, qtok_arr)) > 0),
            F.lit(DEF_BOOST) * F.col("_max_score"),
        ).otherwise(F.lit(0.0)),
    )

    # R3 path-stem boost (stopword-filtered; exact > prefix≥3)
    stem_tokens = identifier_tokens(_stem(F.col("file")))
    stem_tokens = F.filter(
        stem_tokens, lambda t: ~t.isin(*_STEM_STOPWORDS)
    )
    exact_hit = F.size(F.array_intersect(stem_tokens, qtok_arr)) > 0
    prefix_hit = F.exists(
        stem_tokens,
        lambda s: F.exists(
            qtok_arr, lambda q: (F.length(q) >= 3) & s.startswith(q)
        ),
    )
    r = r.withColumn(
        "score",
        F.col("score")
        + F.when(exact_hit, F.lit(STEM_EXACT_BOOST) * F.col("_max_score"))
        .when(prefix_hit, F.lit(STEM_PREFIX_BOOST) * F.col("_max_score"))
        .otherwise(F.lit(0.0)),
    )

    # R4 file-coherence: bonus to each file's best unit ∝ file score mass.
    # The file sum folds in SORTED order (not a plain window SUM): the fold
    # order of a float window aggregate is partition-layout-dependent, and
    # this operator is oracle-checked cross-engine (code_search_topk) —
    # same discipline as every other float fold in the suite.
    wfile = Window.partitionBy("file").orderBy(
        F.col("score").desc(), F.col("unit_id").asc()
    )
    fsum_sorted = F.aggregate(
        F.array_sort(F.collect_list("score").over(Window.partitionBy("file"))),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )
    r = (
        r.withColumn("_fsum", fsum_sorted)
        .withColumn("_best_fsum", F.coalesce(F.max("_fsum").over(w_all), F.lit(1.0)))
        .withColumn("_file_rank", F.row_number().over(wfile))
        .withColumn(
            "score",
            F.col("score")
            + F.when(
                (F.col("_file_rank") == 1) & (F.col("_best_fsum") != 0.0),
                F.lit(COHERENCE_BOOST) * F.col("_max_score")
                * F.col("_fsum") / F.col("_best_fsum"),
            ).otherwise(F.lit(0.0)),
        )
        .drop("_fsum", "_best_fsum", "_file_rank", "_max_score")
    )

    # R5 collapse-by-file: keep each file's best unit, merge line ranges.
    # Window aggregates over the SAME file partitioning as the keep-best
    # row_number — one exchange, and no groupBy+join-back diamond (which
    # would put the whole fused search plan in both join branches and
    # evaluate it twice; see fusion._minmax_norm)
    if collapse:
        wfile_all = Window.partitionBy("file")
        wf = Window.partitionBy("file").orderBy(
            F.col("score").desc(), F.col("unit_id").asc()
        )
        r = (
            r.withColumn("_line", F.min("line").over(wfile_all))
            .withColumn("_end_line", F.max("end_line").over(wfile_all))
            .withColumn("_rk", F.row_number().over(wf))
            .filter(F.col("_rk") == 1)
            .drop("_rk", "line", "end_line")
            .withColumnRenamed("_line", "line")
            .withColumnRenamed("_end_line", "end_line")
        )

    w = Window.orderBy(F.col("score").desc(), F.col("unit_id").asc())
    return (
        r.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("unit_id", "file", "name", "line", "end_line", "score", "rank")
    )


def apply_ranking_batch(
    results: DataFrame,
    units: DataFrame,
    queries: DataFrame,
    *,
    top_k: int = 10,
    collapse: bool = True,
) -> DataFrame:
    """R1→R4 re-scoring + R5 collapse for a BATCH of query result lists
    (Q11 over the ranking tail).

    ``results``: (query_id, unit_id, score); ``queries``: (query_id, text);
    ``units``: code_units metadata. Per-query semantics are identical to
    ``apply_ranking`` (pytest-pinned: batch row for query i ≡ the
    single-query result) — every window partitions by query_id, the
    query-derived terms (identifier tokens, wants-test flag) ride a
    broadcast of the tiny queries frame, and the whole batch stays one
    Spark job. Returns (query_id, unit_id, file, name, line, end_line,
    score, rank)."""
    q = queries.select(
        "query_id",
        identifier_tokens(F.col("text")).alias("_qtoks"),
        F.coalesce(F.lower("text").rlike(_QUERY_WANTS_TEST_RE),
                   F.lit(False)).alias("_wants_test"),
    )
    r = results.join(
        units.select("unit_id", "file", "name", "unit_type", "line", "end_line"),
        "unit_id",
    ).join(F.broadcast(q), "query_id")
    wq = Window.partitionBy("query_id")
    r = r.withColumn(
        "_max_score", F.coalesce(F.max("score").over(wq), F.lit(0.0)))

    # R1 path-noise penalty (classes compound; waived when the query asks
    # for tests) — same expression as path_penalty with the query-side
    # branch as a column instead of a Python conditional
    pen = (
        F.when(F.col("file").rlike(_TEST_PATH_RE), F.lit(PENALTY_TEST)).otherwise(F.lit(1.0))
        * F.when(F.col("file").rlike(_COMPAT_PATH_RE), F.lit(PENALTY_COMPAT)).otherwise(F.lit(1.0))
        * F.when(F.col("file").rlike(_BARREL_PATH_RE), F.lit(PENALTY_BARREL)).otherwise(F.lit(1.0))
    )
    r = r.withColumn(
        "score",
        F.col("score") * F.when(F.col("_wants_test"), F.lit(1.0)).otherwise(pen),
    )

    # R2 definition boost
    name_tokens = identifier_tokens(F.col("name"))
    r = r.withColumn(
        "score",
        F.col("score")
        + F.when(
            F.col("unit_type").isin(*DEF_TYPES)
            & (F.size(F.array_intersect(name_tokens, F.col("_qtoks"))) > 0),
            F.lit(DEF_BOOST) * F.col("_max_score"),
        ).otherwise(F.lit(0.0)),
    )

    # R3 path-stem boost
    stem_tokens = F.filter(
        identifier_tokens(_stem(F.col("file"))),
        lambda t: ~t.isin(*_STEM_STOPWORDS),
    )
    exact_hit = F.size(F.array_intersect(stem_tokens, F.col("_qtoks"))) > 0
    prefix_hit = F.exists(
        stem_tokens,
        lambda s: F.exists(
            F.col("_qtoks"), lambda qq: (F.length(qq) >= 3) & s.startswith(qq)
        ),
    )
    r = r.withColumn(
        "score",
        F.col("score")
        + F.when(exact_hit, F.lit(STEM_EXACT_BOOST) * F.col("_max_score"))
        .when(prefix_hit, F.lit(STEM_PREFIX_BOOST) * F.col("_max_score"))
        .otherwise(F.lit(0.0)),
    )

    # R4 file-coherence (sorted-fold file sums — same float discipline as
    # the single-query form)
    wqf = Window.partitionBy("query_id", "file")
    wfile = wqf.orderBy(F.col("score").desc(), F.col("unit_id").asc())
    fsum_sorted = F.aggregate(
        F.array_sort(F.collect_list("score").over(wqf)),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )
    r = (
        r.withColumn("_fsum", fsum_sorted)
        .withColumn("_best_fsum", F.coalesce(F.max("_fsum").over(wq), F.lit(1.0)))
        .withColumn("_file_rank", F.row_number().over(wfile))
        .withColumn(
            "score",
            F.col("score")
            + F.when(
                (F.col("_file_rank") == 1) & (F.col("_best_fsum") != 0.0),
                F.lit(COHERENCE_BOOST) * F.col("_max_score")
                * F.col("_fsum") / F.col("_best_fsum"),
            ).otherwise(F.lit(0.0)),
        )
        .drop("_fsum", "_best_fsum", "_file_rank", "_max_score",
              "_qtoks", "_wants_test")
    )

    # R5 collapse-by-file per query — window aggregates, not a
    # groupBy+join-back diamond (same reasoning as the single-query form)
    if collapse:
        wqf_all = Window.partitionBy("query_id", "file")
        wf = wqf.orderBy(F.col("score").desc(), F.col("unit_id").asc())
        r = (
            r.withColumn("_line", F.min("line").over(wqf_all))
            .withColumn("_end_line", F.max("end_line").over(wqf_all))
            .withColumn("_rk", F.row_number().over(wf))
            .filter(F.col("_rk") == 1)
            .drop("_rk", "line", "end_line")
            .withColumnRenamed("_line", "line")
            .withColumnRenamed("_end_line", "end_line")
        )

    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("unit_id").asc()
    )
    return (
        r.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("query_id", "unit_id", "file", "name", "line", "end_line",
                "score", "rank")
    )


# -- the end-to-end code search (colgrep's CLI pipeline, SURVEY §3.2) ----------

def _glob_to_like(glob: str) -> str:
    return glob.replace("%", r"\%").replace("_", r"\_").replace("*", "%").replace("?", "_")


def search_code(
    units: DataFrame,
    query_text: str,
    *,
    regex: str | None = None,
    include_glob: str | None = None,
    exclude_glob: str | None = None,
    top_k: int = 10,
    alpha: float = 0.75,
    collapse: bool = True,
) -> DataFrame:
    """The colgrep query lifecycle as one DataFrame job
    (index/mod.rs:4093-4290): regex/glob pre-filter (F10/F11) → semantic
    MaxSim over structured embedding text + identifier-aware BM25 →
    relative-score fusion → R1-R5 boosts → collapse → top-k.

    fetch_k = min(max(20·top_k, 200), n_units) (index/mod.rs:4104-4114).
    """
    from next_plaid_spark.encoding import encode_queries, encode_tokens
    from next_plaid_spark.operators.bm25 import BM25Index
    from next_plaid_spark.operators.fusion import hybrid_search
    from next_plaid_spark.operators.maxsim import brute_force_search

    if "calls" in units.columns and "called_by" not in units.columns:
        # layer-2 reverse edges run over the FULL unit table (the call
        # graph is global) before any query-side pre-filter
        from next_plaid_spark.operators.code_parse import build_call_graph

        units = build_call_graph(units)

    subset = units
    if regex is not None:
        subset = subset.filter(F.col("code").rlike(regex))
    if include_glob is not None:
        subset = subset.filter(F.col("file").like(_glob_to_like(include_glob)))
    if exclude_glob is not None:
        subset = subset.filter(~F.col("file").like(_glob_to_like(exclude_glob)))
    subset = build_embedding_text(subset).cache()

    n_units = subset.count()
    if n_units == 0:
        spark = units.sparkSession
        return spark.createDataFrame(
            [], "unit_id long, file string, name string, line int, end_line int, "
                "score double, rank int"
        )
    fetch_k = min(max(20 * top_k, 200), n_units)

    spark = units.sparkSession
    qdf = local_df(spark, [(0, query_text)], "query_id long, text string")
    sem = brute_force_search(
        encode_queries(qdf, max_tokens=16),
        encode_tokens(subset, "unit_id", "embed_text", out_id="doc_id"),
        k=fetch_k,
    ).select("query_id", "doc_id", "score")
    kw = (
        BM25Index.build(subset, id_col="unit_id", text_col="embed_text",
                        tokenizer="identifier_aware")
        .search(qdf, k=fetch_k)
        .select("query_id", "doc_id", "score")
    )
    # hybrid_search degrades to the surviving side when BM25 finds nothing
    # (all-novel identifiers) or the semantic list is empty — K8 parity
    # with handlers/search.rs:345-375
    fused = hybrid_search(
        sem, kw, mode="relative_score", alpha=alpha, k=fetch_k
    ).select(F.col("doc_id").alias("unit_id"), "score")
    return apply_ranking(fused, units, query_text, top_k=top_k, collapse=collapse)


# -- P3: incremental change detection (colgrep/src/index/state.rs:18-136) ------

def detect_changes(old_state: DataFrame, new_state: DataFrame) -> DataFrame:
    """(path, content_hash, size) × 2 → (path, change) with change ∈
    {added, removed, modified}: hash-diff via anti-joins — the distributed
    analog of the xxh3 + size/mtime probe."""
    o = old_state.select(F.col("path"), F.col("content_hash").alias("_oh"),
                         F.col("size").alias("_os"))
    n = new_state.select(F.col("path"), F.col("content_hash").alias("_nh"),
                         F.col("size").alias("_ns"))
    added = n.join(o, "path", "left_anti").select("path", F.lit("added").alias("change"))
    removed = o.join(n, "path", "left_anti").select("path", F.lit("removed").alias("change"))
    modified = (
        o.join(n, "path")
        .filter((F.col("_oh") != F.col("_nh")) | (F.col("_os") != F.col("_ns")))
        .select("path", F.lit("modified").alias("change"))
    )
    return added.unionByName(removed).unionByName(modified)
