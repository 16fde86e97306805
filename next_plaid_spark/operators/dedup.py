"""Deduplication operators for large-scale training-data pipelines.

Not part of the reference's surface — these are the LLM-pipeline extension
operators (BASELINE.json north star), built on the same token machinery as
the search engine. All hash derivations use md5 so the DuckDB oracle can
reproduce them bit-for-bit.

Scale discipline:
- exact: one groupBy on a 128-bit content hash — the only full shuffle.
- n-gram Jaccard: docs never pair all-vs-all; pairs materialize only through
  the shared-shingle equi-join (doc pairs with zero overlap never meet),
  counts are map-side combinable.
- MinHash+LSH: signature is a groupBy over (doc × n_hashes) rows; candidate
  pairs come from the banded bucket join — the classic
  shingle→minhash→band→bucket-join pipeline; exact Jaccard verifies
  candidates only.
- SimHash: fingerprint is one aggregation; near-pairs via band-exact match
  on fingerprint quarters (a Hamming-ball prefilter), then bit_count(xor).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from next_plaid_spark.session import local_df
from next_plaid_spark.functions.text import TOKEN_SPLIT_RE, tokenize_unicode61

# 60-bit hashes: 15 hex chars of md5 → fits BIGINT exactly in both engines.
HASH_HEX_LEN = 15
SIMHASH_BITS = 60


def _hash60(col) -> F.Column:
    return F.conv(F.substring(F.md5(col), 1, HASH_HEX_LEN), 16, 10).cast("long")


def shingles(docs: DataFrame, *, n: int = 3, id_col: str = "doc_id",
             text_col: str = "text") -> DataFrame:
    """Distinct word n-gram shingles per doc: (doc_id, shingle)."""
    from pyspark.sql.window import Window

    # posexplode + lead() windows instead of transform(sequence, slice(…)):
    # higher-order array functions are interpreted (no whole-stage codegen)
    # and cost ~50× more per shingle; the window formulation produces the
    # identical word n-grams inside codegen. Short docs (< n tokens) yield
    # no rows because lead(n−1) is null.
    toks = tokenize_unicode61(F.col(text_col))
    exploded = docs.select(
        F.col(id_col).cast("long").alias("doc_id"), F.posexplode(toks).alias("idx", "t0")
    )
    w = Window.partitionBy("doc_id").orderBy("idx")
    parts = [F.col("t0")] + [F.lead("t0", i).over(w) for i in range(1, n)]
    return (
        exploded.select(
            "doc_id",
            F.when(parts[-1].isNotNull(), F.concat_ws(" ", *parts)).alias("shingle"),
        )
        .filter(F.col("shingle").isNotNull())
        .distinct()
    )


def _sql_shingles_of(rel: str, n: int = 3) -> str:
    """DuckDB CTE body mirroring shingles() (1-based list indexing) over
    an arbitrary relation exposing (doc_id, text)."""
    return f"""
  SELECT DISTINCT doc_id, concat_ws(' ', {", ".join(f"toks[i + {j}]" for j in range(n))}) AS shingle
  FROM (
    SELECT doc_id, list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT_RE}'), x -> x <> '') AS toks
    FROM {rel}
  ), unnest(range(1, greatest(len(toks) - {n}, -1) + 2)) AS r(i)
""".strip()


def _sql_shingles(n: int = 3, where: str = "") -> str:
    """DuckDB CTE body mirroring shingles() over ``documents``."""
    return _sql_shingles_of(f"documents {where}", n)


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup: pairs meeting only through shared shingles
# ---------------------------------------------------------------------------

def cap_shingle_df(sh: DataFrame, max_df: int) -> DataFrame:
    """Drop shingles whose document frequency exceeds ``max_df``.

    The web-scale guard: a stop-shingle ("in the of") appearing in d docs
    fans the shared-shingle equi-join out d² — quadratic in corpus size.
    Capping DF bounds every shingle's join contribution at max_df², making
    total fan-out O(|shingles|·max_df). Near-dup pairs lose only their
    least-discriminative shingles (both sizes AND intersection shrink
    consistently — Jaccard over the capped shingle universe), so scores
    barely move for real duplicates. Off (None) in oracle mode.

    df is a count over a shingle window (sh is distinct per (doc_id,
    shingle), so row count per shingle IS document frequency) — one
    exchange, not a groupBy+semi-join-back diamond that would evaluate
    the shingle subtree twice."""
    from pyspark.sql.window import Window

    return (
        sh.withColumn("_df", F.count("*").over(Window.partitionBy("shingle")))
        .filter(F.col("_df") <= max_df)
        .drop("_df")
    )


def ngram_jaccard_pairs(docs: DataFrame, *, n: int = 3,
                        threshold: float = 0.8,
                        max_shingle_df: int | None = None) -> DataFrame:
    """(doc_a, doc_b, jaccard) for pairs with Jaccard(shingles) ≥ threshold.

    jaccard = |A∩B| / (|A|+|B|−|A∩B|) — exact integer ratio, bit-identical
    cross-engine. ``max_shingle_df`` engages the stop-shingle fan-out cap
    (see cap_shingle_df); at 100 TB leave it on (e.g. 10_000)."""
    sh = shingles(docs, n=n)
    if max_shingle_df is not None:
        sh = cap_shingle_df(sh, max_shingle_df)
    return _jaccard_from_shingles(sh, threshold)


def _jaccard_from_shingles(sh: DataFrame, threshold: float) -> DataFrame:
    from pyspark.sql.window import Window

    # per-doc shingle counts attached in-stream (count over a doc_id
    # window) instead of a groupBy+join-back diamond: the shingle subtree
    # (posexplode + lead windows + distinct over the whole corpus) would
    # otherwise be evaluated a third time for the sizes aggregate, and the
    # pair table would shuffle twice more through the joins. n_sh is
    # constant per doc, so the pair aggregate carries it with first().
    sh = sh.withColumn(
        "_n_sh", F.count("*").over(Window.partitionBy("doc_id")))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle",
                  F.col("_n_sh").alias("na"))
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle",
                  F.col("_n_sh").alias("nb"))
    return (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("shared"),
             F.first("na").alias("na"), F.first("nb").alias("nb"))
        .select(
            "doc_a", "doc_b",
            (F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def sql_ngram_jaccard_pairs(*, n: int = 3, threshold: float = 0.8) -> str:
    return f"""
WITH sh AS (
{_sql_shingles(n)}
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, shared * 1.0 / (sa.n_sh + sb.n_sh - shared) AS jaccard
FROM shared
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE shared * 1.0 / (sa.n_sh + sb.n_sh - shared) >= {threshold}
""".strip()


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------

N_HASHES = 16
N_BANDS = 4  # 4 rows per band


def _minhash_from_shingles(sh: DataFrame, n_hashes: int) -> DataFrame:
    # one wide aggregation instead of a 16× posexplode: each hash index is
    # its own min() column, so the signature costs a single shuffle of
    # |doc_shingles| rows. Each md5 digest yields TWO 60-bit hashes (15 hex
    # chars each) — half the digest work. The DuckDB oracle computes the
    # identical derivation.
    hashed = sh.select(
        "doc_id",
        *[
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{i // 2}:"), F.col("shingle"))),
                    1 + (i % 2) * HASH_HEX_LEN,
                    HASH_HEX_LEN,
                ),
                16, 10,
            ).cast("long").alias(f"_h{i}")
            for i in range(n_hashes)
        ],
    )
    mins = hashed.groupBy("doc_id").agg(
        *[F.min(f"_h{i}").alias(f"_m{i}") for i in range(n_hashes)]
    )
    return mins.select(
        "doc_id", F.array(*[F.col(f"_m{i}") for i in range(n_hashes)]).alias("sig")
    )


def _band_keys(sigs: DataFrame, n_bands: int, rows_per_band: int) -> DataFrame:
    """(doc_id, band, key): md5 over each band's signature slice."""
    return sigs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda b: F.md5(
                    F.concat_ws(",", F.transform(
                        F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                        lambda x: x.cast("string"),
                    ))
                ),
            )
        ).alias("band", "key"),
    )


def minhash_lsh_pairs(docs: DataFrame, *, n: int = 3, n_hashes: int = N_HASHES,
                      n_bands: int = N_BANDS, threshold: float = 0.0,
                      max_shingle_df: int | None = None) -> DataFrame:
    """Banded-LSH candidate pairs with exact-Jaccard verification:
    (doc_a, doc_b, jaccard ≥ threshold). Pairs collide when any band of the
    minhash signature matches exactly.

    ``max_shingle_df`` caps stop-shingle fan-out in BOTH the signature and
    the verify join (applied once, so signatures and Jaccard agree on the
    same capped shingle universe). Off (None) in oracle mode."""
    rows_per_band = n_hashes // n_bands
    sh = shingles(docs, n=n)
    if max_shingle_df is not None:
        sh = cap_shingle_df(sh, max_shingle_df)
    sh = sh.cache()
    sigs = _minhash_from_shingles(sh, n_hashes)
    banded = _band_keys(sigs, n_bands, rows_per_band)
    cand = (
        banded.alias("x")
        .join(banded.alias("y"),
              (F.col("x.band") == F.col("y.band")) & (F.col("x.key") == F.col("y.key"))
              & (F.col("x.doc_id") < F.col("y.doc_id")))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    # verify candidates with exact Jaccard computed for CANDIDATE PAIRS
    # ONLY: restrict both sides of the shared-shingle join through the
    # candidate list (an unrestricted self-join would count shared shingles
    # for every overlapping pair in the corpus)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    shared = (
        cand.join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("shared"))
    )
    return (
        shared.join(sizes.withColumnRenamed("doc_id", "doc_a")
                    .withColumnRenamed("n_sh", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("n_sh", "nb"), "doc_b")
        .select(
            "doc_a", "doc_b",
            (F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def sql_minhash_lsh_pairs(*, n: int = 3, n_hashes: int = N_HASHES,
                          n_bands: int = N_BANDS, threshold: float = 0.0) -> str:
    rpb = n_hashes // n_bands
    return f"""
WITH sh AS (
{_sql_shingles(n)}
),
hashed AS (
  SELECT doc_id, i AS h_idx,
         CAST(concat('0x', substr(md5(concat(CAST(i // 2 AS VARCHAR), ':', shingle)), 1 + (i % 2) * {HASH_HEX_LEN}, {HASH_HEX_LEN})) AS BIGINT) AS h
  FROM sh, unnest(range(0, {n_hashes})) AS r(i)
),
sig AS (
  SELECT doc_id, h_idx, min(h) AS mh FROM hashed GROUP BY 1, 2
),
banded AS (
  SELECT doc_id, h_idx // {rpb} AS band,
         md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY h_idx)) AS key
  FROM sig GROUP BY doc_id, h_idx // {rpb}
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM banded x JOIN banded y
    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
shared AS (
  SELECT c.doc_a, c.doc_b, count(*) AS shared
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT s.doc_a, s.doc_b, s.shared * 1.0 / (sa.n_sh + sb.n_sh - s.shared) AS jaccard
FROM shared s
JOIN sizes sa ON s.doc_a = sa.doc_id
JOIN sizes sb ON s.doc_b = sb.doc_id
WHERE s.shared * 1.0 / (sa.n_sh + sb.n_sh - s.shared) >= {threshold}
""".strip()


# ---------------------------------------------------------------------------
# Cross-corpus incremental dedup: a NEW batch against an EXISTING corpus
# (the dump-N+1 problem — never re-pair the old corpus with itself)
# ---------------------------------------------------------------------------

def minhash_band_ledger(docs: DataFrame, *, n: int = 3,
                        n_hashes: int = N_HASHES, n_bands: int = N_BANDS,
                        max_shingle_df: int | None = None) -> DataFrame:
    """(doc_id, band, key): a corpus's persisted LSH fingerprint ledger.

    The batch analog of ``streaming/curation.py``'s bucket ledger: build it
    once per corpus (at scale: write it as a parquet table bucketed by
    ``key`` so incremental joins are co-located), append each accepted
    batch's rows, and dedup every future batch against it WITHOUT
    re-scanning old text. |ledger| = n_bands rows per doc — 4 rows/doc at
    the defaults, trivially storable next to a 100 TB corpus."""
    sh = shingles(docs, n=n)
    if max_shingle_df is not None:
        sh = cap_shingle_df(sh, max_shingle_df)
    return _band_keys(
        _minhash_from_shingles(sh, n_hashes), n_bands, n_hashes // n_bands
    )


def dedup_against(new_docs: DataFrame, old_docs: DataFrame, *, n: int = 3,
                  n_hashes: int = N_HASHES, n_bands: int = N_BANDS,
                  threshold: float = 0.8,
                  max_shingle_df: int | None = None) -> DataFrame:
    """(doc_id, dup_of, jaccard): each NEW doc's best old-corpus
    near-duplicate (highest Jaccard, ties → lowest old doc_id) at
    ``jaccard ≥ threshold``. Old–old and new–new pairs are never formed —
    within-batch dedup is ``minhash_lsh_pairs``' job.

    Scale shape: candidates come from a (band, key) equi-join of the new
    batch's band table against the old ledger — the old corpus shuffles by
    band key once ever (persisted ledger), the new batch is typically small
    enough to broadcast. Exact-Jaccard verification touches old shingles
    only for candidate old docs (semi-join pushdown via the candidate
    list), so verification cost tracks the duplicate rate, not |old|."""
    from pyspark.sql.window import Window

    rpb = n_hashes // n_bands
    sh_new = shingles(new_docs, n=n)
    sh_old = shingles(old_docs, n=n)
    if max_shingle_df is not None:
        sh_new = cap_shingle_df(sh_new, max_shingle_df)
        sh_old = cap_shingle_df(sh_old, max_shingle_df)
    sh_new = sh_new.cache()
    bn = _band_keys(_minhash_from_shingles(sh_new, n_hashes), n_bands, rpb)
    bo = minhash_band_ledger(
        old_docs, n=n, n_hashes=n_hashes, n_bands=n_bands,
        max_shingle_df=max_shingle_df,
    )
    cand = (
        bn.alias("x")
        .join(bo.alias("y"), ["band", "key"])
        .select(
            F.col("x.doc_id").alias("doc_id"),
            F.col("y.doc_id").alias("dup_of"),
        )
        .distinct()
    )
    sizes_new = sh_new.groupBy("doc_id").agg(F.count("*").alias("na"))
    # verification touches old shingles only for candidate old docs; the
    # per-old-doc shingle count rides the same stream as a dup_of window
    # (sh_old_c is NOT cached — a groupBy+join-back sizes diamond would
    # build the full old-corpus shingle set a second time; sh_new's sizes
    # aggregate is fine as a join because sh_new IS cached)
    sh_old_c = (
        sh_old.select(F.col("doc_id").alias("dup_of"), "shingle")
        .join(cand.select("dup_of").distinct(), "dup_of", "left_semi")
        .withColumn("nb", F.count("*").over(Window.partitionBy("dup_of")))
    )
    shared = (
        cand.join(sh_new, "doc_id")
        .join(sh_old_c, ["dup_of", "shingle"])
        .groupBy("doc_id", "dup_of")
        .agg(F.count("*").alias("shared"), F.first("nb").alias("nb"))
    )
    jac = (
        shared.join(sizes_new, "doc_id")
        .select(
            "doc_id", "dup_of",
            (F.col("shared")
             / (F.col("na") + F.col("nb") - F.col("shared"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("jaccard"), F.asc("dup_of")
    )
    return (
        jac.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "dup_of", "jaccard")
    )


def sql_dedup_against(*, n: int = 3, n_hashes: int = N_HASHES,
                      n_bands: int = N_BANDS, threshold: float = 0.8,
                      new_where: str, old_where: str) -> str:
    """DuckDB mirror of ``dedup_against`` with new/old corpora defined by
    WHERE clauses over ``documents``."""
    rpb = n_hashes // n_bands

    def side(tag: str, where: str) -> str:
        return f"""
sh_{tag} AS (
{_sql_shingles(n, where)}
),
hashed_{tag} AS (
  SELECT doc_id, i AS h_idx,
         CAST(concat('0x', substr(md5(concat(CAST(i // 2 AS VARCHAR), ':', shingle)), 1 + (i % 2) * {HASH_HEX_LEN}, {HASH_HEX_LEN})) AS BIGINT) AS h
  FROM sh_{tag}, unnest(range(0, {n_hashes})) AS r(i)
),
sig_{tag} AS (
  SELECT doc_id, h_idx, min(h) AS mh FROM hashed_{tag} GROUP BY 1, 2
),
banded_{tag} AS (
  SELECT doc_id, h_idx // {rpb} AS band,
         md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY h_idx)) AS key
  FROM sig_{tag} GROUP BY doc_id, h_idx // {rpb}
)""".strip()

    return f"""
WITH {side("new", new_where)},
{side("old", old_where)},
cand AS (
  SELECT DISTINCT x.doc_id AS doc_id, y.doc_id AS dup_of
  FROM banded_new x JOIN banded_old y ON x.band = y.band AND x.key = y.key
),
sizes_new AS (SELECT doc_id, count(*) AS na FROM sh_new GROUP BY 1),
sizes_old AS (SELECT doc_id, count(*) AS nb FROM sh_old GROUP BY 1),
shared AS (
  SELECT c.doc_id, c.dup_of, count(*) AS shared
  FROM cand c
  JOIN sh_new a ON a.doc_id = c.doc_id
  JOIN sh_old b ON b.doc_id = c.dup_of AND b.shingle = a.shingle
  GROUP BY 1, 2
),
jac AS (
  SELECT s.doc_id, s.dup_of,
         s.shared * 1.0 / (sn.na + so.nb - s.shared) AS jaccard
  FROM shared s
  JOIN sizes_new sn ON s.doc_id = sn.doc_id
  JOIN sizes_old so ON s.dup_of = so.doc_id
  WHERE s.shared * 1.0 / (sn.na + so.nb - s.shared) >= {threshold}
)
SELECT doc_id, dup_of, jaccard FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY jaccard DESC, dup_of ASC) AS rn
  FROM jac
) WHERE rn = 1
""".strip()


# ---------------------------------------------------------------------------
# Bloom-filter membership dedup: constant-memory cross-corpus state
# ---------------------------------------------------------------------------

# 2^20 bits ≈ 8 MB as distinct-long rows — always broadcastable. k = 4
# disjoint 8-hex-digit windows of one md5 digest (32 bits each, exact in
# BIGINT in both engines), so the filter costs one digest per shingle.
BLOOM_BITS = 1 << 20
BLOOM_HASHES = 4


def _bloom_pos(col, i: int, m: int) -> F.Column:
    """Bit position i of a shingle: hex window i of md5, mod m."""
    return (
        F.conv(F.substring(F.md5(col), 1 + 8 * i, 8), 16, 10).cast("long") % m
    )


def _sql_bloom_pos(expr: str, m: int) -> str:
    """DuckDB mirror of ``_bloom_pos`` for hash index column ``i``."""
    return f"CAST(concat('0x', substr(md5({expr}), 1 + 8 * i, 8)) AS BIGINT) % {m}"


def bloom_bits(docs: DataFrame, *, n: int = 3, m: int = BLOOM_BITS,
               k: int = BLOOM_HASHES) -> DataFrame:
    """The Bloom filter of a corpus's word n-gram shingles, as its set-bit
    positions: one ``pos`` long column, ≤ m distinct rows NO MATTER HOW BIG
    the corpus — the constant-memory dedup/decontamination state (the
    Dolma/CCNet pattern), vs. the O(corpus) minhash band ledger.

    Persist this once per corpus snapshot; new batches test against it with
    a broadcast join (``bloom_dedup_against``)."""
    sh = shingles(docs, n=n).select("shingle").distinct()
    return (
        sh.select(
            F.explode(
                F.array(*[_bloom_pos(F.col("shingle"), i, m) for i in range(k)])
            ).alias("pos")
        )
        .distinct()
    )


def bloom_dedup_against(new_docs: DataFrame, old_docs: DataFrame, *,
                        n: int = 3, m: int = BLOOM_BITS,
                        k: int = BLOOM_HASHES,
                        threshold: float = 0.5) -> DataFrame:
    """(doc_id, n_shingles, bloom_hits, hit_ratio, maybe_dup): each NEW
    doc's shingles tested for membership in the OLD corpus's Bloom filter.
    A shingle "hits" iff ALL k of its bit positions are set; ``maybe_dup``
    iff the hit ratio reaches ``threshold``. One-sided error: a planted
    copy always hits 100% of its shared shingles; false positives are
    bounded by (set_bits/m)^k per shingle and are DETERMINISTIC (md5), so
    the DuckDB oracle reproduces them bit-for-bit.

    Scale shape: the old corpus contributes only its ≤ m-row bit set
    (broadcast — new batches never shuffle against old data). Because the
    bit set is DERIVED here (one pass over the old corpus), the probe uses
    the explode(k)+single-join form so that derivation is evaluated
    exactly once; ``bloom_probe`` instead uses k re-reads of an already-
    PERSISTED bits table (cheap) to avoid the k× row inflation. Old state
    is CONSTANT-SIZE in |old| — the property that makes this the 100 TB
    cross-dump screen before the exact band-ledger pass."""
    bits = bloom_bits(old_docs, n=n, m=m, k=k).withColumn("set", F.lit(1))
    probe = shingles(new_docs, n=n).select(
        "doc_id", "shingle",
        F.explode(
            F.array(*[_bloom_pos(F.col("shingle"), i, m) for i in range(k)])
        ).alias("pos"),
    )
    # all-k-bits-set per shingle, then per-doc hit ratio; min() handles the
    # (legal) case of a shingle's k positions colliding
    per_shingle = (
        probe.join(F.broadcast(bits), "pos", "left")
        .groupBy("doc_id", "shingle")
        .agg(F.min(F.coalesce(F.col("set"), F.lit(0))).alias("all_set"))
    )
    ratio = F.col("bloom_hits") / F.col("n_shingles")
    return (
        per_shingle.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum("all_set").alias("bloom_hits"),
        )
        .select(
            "doc_id", "n_shingles", "bloom_hits",
            ratio.alias("hit_ratio"),
            (ratio >= threshold).alias("maybe_dup"),
        )
    )


def bloom_counts(docs: DataFrame, *, n: int = 3, m: int = BLOOM_BITS,
                 k: int = BLOOM_HASHES) -> DataFrame:
    """Counting-Bloom state of a corpus: (pos, cnt) where cnt is the
    number of (distinct-shingle, hash-index) insertions landing on the
    bit — the standard deletable extension. Still ≤ m rows, but supports
    retraction: removing a sub-corpus decrements its counts, and a bit is
    "set" iff cnt > 0, so a retracted source stops blocking new ingests
    without rebuilding from the full kept corpus. ``bloom_counts_delta``
    maintains it; ``.filter(cnt > 0).select("pos")`` is the bit set
    ``bloom_probe`` consumes.

    Counts are per-DOC-distinct shingle insertions (no global shingle
    distinct, unlike ``bloom_bits``): that makes counts a plain sum over
    docs, so add/remove deltas are exactly additive and a shingle shared
    by two docs keeps its bit until BOTH are retracted."""
    sh = shingles(docs, n=n).select("shingle")
    return (
        sh.select(
            F.explode(
                F.array(*[_bloom_pos(F.col("shingle"), i, m) for i in range(k)])
            ).alias("pos")
        )
        .groupBy("pos")
        .agg(F.count("*").alias("cnt"))
    )


def bloom_counts_delta(counts: DataFrame, add_docs: DataFrame | None,
                       remove_docs: DataFrame | None, *, n: int = 3,
                       m: int = BLOOM_BITS,
                       k: int = BLOOM_HASHES,
                       strict: bool = False) -> DataFrame:
    """Counting-Bloom maintenance: ``counts`` plus the additions' counts
    minus the removals'. Exactly ≡ rebuilding from (corpus ∪ add ∖ remove)
    PROVIDED add/remove track the true corpus delta (removing docs never
    inserted underflows, like any counting Bloom). One bounded-size merge:
    every side is ≤ m rows after its own aggregation, so the combine is an
    outer join on pos — never a corpus-sized shuffle.

    ``strict=True`` eagerly validates the removal against the ledger and
    raises ``ValueError`` on underflow — a remove position absent from
    ``counts`` or driven below zero. Either ALWAYS indicates a tracking
    bug (retracting docs never inserted, or text that differs from what
    was inserted) that would otherwise silently break the
    counts ≡ bloom_counts(kept) invariant; the check is one aggregation
    over the ≤ m-row merge, so it is bounded, but it does force an eager
    action — leave it off on pure maintenance paths that revalidate
    downstream."""
    merged = counts
    if add_docs is not None:
        add = bloom_counts(add_docs, n=n, m=m, k=k)
        merged = (
            merged.withColumnRenamed("cnt", "a")
            .join(add.withColumnRenamed("cnt", "b"), "pos", "full_outer")
            .select(
                "pos",
                (F.coalesce("a", F.lit(0)) + F.coalesce("b", F.lit(0)))
                .alias("cnt"),
            )
        )
    if remove_docs is not None:
        rem = bloom_counts(remove_docs, n=n, m=m, k=k)
        merged = (
            merged.withColumnRenamed("cnt", "a")
            .join(rem.withColumnRenamed("cnt", "b"), "pos", "full_outer")
            .select(
                "pos",
                (F.coalesce("a", F.lit(0)) - F.coalesce("b", F.lit(0)))
                .alias("cnt"),
            )
        )
        if strict:
            bad = merged.filter(F.col("cnt") < 0).count()
            if bad:
                raise ValueError(
                    f"counting-Bloom underflow at {bad} position(s): the "
                    "removal does not match what was inserted (docs never "
                    "ingested, or text changed since insertion)")
    return merged.filter(F.col("cnt") > 0)


def bloom_probe(new_docs: DataFrame, bits: DataFrame, *, n: int = 3,
                m: int = BLOOM_BITS, k: int = BLOOM_HASHES,
                threshold: float = 0.5) -> DataFrame:
    """``bloom_dedup_against`` with the filter already materialized —
    ``bits`` is a (pos BIGINT) DataFrame of set positions (e.g. a persisted
    ledger built incrementally by ``StreamingBloomDedup``). Duplicate pos
    rows are tolerated (deduped once on the BOUNDED side, ≤ m rows).

    Plan shape: "all k bits set" is k BROADCAST LEFT JOINS of the shingle
    table against the ≤ m-row bit set, one null-flag per hash — a single
    pass over the shingles with no k× row explosion and ONE corpus-side
    shuffle (the per-doc aggregation). The bits subtree is read k times,
    which is the right trade ONLY for already-persisted bits (a ≤ 8 MB
    parquet ledger or cached table); for bits derived from a corpus use
    ``bloom_dedup_against``, whose explode form evaluates them once."""
    bits = bits.select("pos").distinct()  # bounded: ≤ m rows
    cur = shingles(new_docs, n=n)
    for i in range(k):
        cur = cur.join(
            F.broadcast(bits.select(F.col("pos").alias(f"_p{i}"))),
            _bloom_pos(F.col("shingle"), i, m) == F.col(f"_p{i}"),
            "left",
        )
    all_set = F.when(
        reduce(lambda a, b: a & b,
               [F.col(f"_p{i}").isNotNull() for i in range(k)]),
        F.lit(1),
    ).otherwise(F.lit(0))
    ratio = F.col("bloom_hits") / F.col("n_shingles")
    return (
        cur.select("doc_id", all_set.alias("_hit"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum("_hit").alias("bloom_hits"),
        )
        .select(
            "doc_id", "n_shingles", "bloom_hits",
            ratio.alias("hit_ratio"),
            (ratio >= threshold).alias("maybe_dup"),
        )
    )


def sql_bloom_dedup_against(*, n: int = 3, m: int = BLOOM_BITS,
                            k: int = BLOOM_HASHES, threshold: float = 0.5,
                            new_where: str, old_where: str) -> str:
    """DuckDB mirror of ``bloom_dedup_against`` with new/old corpora
    defined by WHERE clauses over ``documents``."""
    return f"""
WITH sh_old AS (
{_sql_shingles(n, old_where)}
),
bits AS (
  SELECT DISTINCT {_sql_bloom_pos("shingle", m)} AS pos
  FROM (SELECT DISTINCT shingle FROM sh_old), unnest(range(0, {k})) AS r(i)
),
sh_new AS (
{_sql_shingles(n, new_where)}
),
probe AS (
  SELECT doc_id, shingle, {_sql_bloom_pos("shingle", m)} AS pos
  FROM sh_new, unnest(range(0, {k})) AS r(i)
),
per_shingle AS (
  SELECT doc_id, shingle,
         min(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS all_set
  FROM probe p LEFT JOIN bits b ON p.pos = b.pos
  GROUP BY doc_id, shingle
)
SELECT doc_id,
       count(*) AS n_shingles,
       CAST(sum(all_set) AS BIGINT) AS bloom_hits,
       sum(all_set) * 1.0 / count(*) AS hit_ratio,
       sum(all_set) * 1.0 / count(*) >= {threshold} AS maybe_dup
FROM per_shingle
GROUP BY doc_id
""".strip()


def _bloom_fold_ctes(batch_wheres: list[str], *, n: int, m: int, k: int,
                     threshold: float) -> list[str]:
    """The shared CTE chain of the Bloom screen fold: ``k{i}`` = kept
    doc_ids of batch i, ``bits{i}`` = set-bit positions of kept batches
    ≤ i. Used by both fold oracles below."""
    assert batch_wheres, "need at least one batch"
    ctes = [
        f"k0 AS (SELECT doc_id FROM documents {batch_wheres[0]})",
        f"shk0 AS (\n{_sql_shingles_of(f'documents {batch_wheres[0]}', n)}\n)",
        (f"bits0 AS (\n  SELECT DISTINCT {_sql_bloom_pos('shingle', m)} AS pos"
         f"\n  FROM (SELECT DISTINCT shingle FROM shk0),"
         f" unnest(range(0, {k})) AS r(i)\n)"),
    ]
    for i in range(1, len(batch_wheres)):
        w, p = batch_wheres[i], i - 1
        ctes += [
            (f"probe{i} AS (\n  SELECT doc_id, shingle,"
             f" {_sql_bloom_pos('shingle', m)} AS pos"
             f"\n  FROM (\n{_sql_shingles_of(f'documents {w}', n)}\n  ),"
             f" unnest(range(0, {k})) AS r(i)\n)"),
            (f"flag{i} AS (\n  SELECT doc_id FROM ("
             f"\n    SELECT doc_id, shingle,"
             f" min(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS all_set"
             f"\n    FROM probe{i} p LEFT JOIN bits{p} b ON p.pos = b.pos"
             f"\n    GROUP BY doc_id, shingle\n  )"
             f"\n  GROUP BY doc_id"
             f"\n  HAVING sum(all_set) * 1.0 / count(*) >= {threshold}\n)"),
            # always the subquery form: splicing "AND doc_id NOT IN …"
            # onto a caller-supplied WHERE would bind wrong under OR
            (f"k{i} AS (\n  SELECT doc_id FROM (SELECT doc_id FROM documents {w})"
             f"\n  WHERE doc_id NOT IN (SELECT doc_id FROM flag{i})\n)"),
            (f"bits{i} AS (\n  SELECT pos FROM bits{p}"
             f"\n  UNION"
             f"\n  SELECT DISTINCT {_sql_bloom_pos('shingle', m)} AS pos"
             f"\n  FROM (SELECT DISTINCT shingle FROM (\n"
             f"{_sql_shingles_of(f'documents JOIN k{i} USING (doc_id)', n)}"
             f"\n  )), unnest(range(0, {k})) AS r(i)\n)"),
        ]
    return ctes


def sql_bloom_screen_fold(*, n: int = 3, m: int = BLOOM_BITS,
                          k: int = BLOOM_HASHES, threshold: float = 0.5,
                          batch_wheres: list[str]) -> str:
    """DuckDB mirror of the ``StreamingBloomDedup`` batch fold: batch i
    (a WHERE clause over ``documents``) is screened against the Bloom
    bits of the KEPT docs of batches < i — ``bloom_screen_batch`` folded
    in order, which is exactly the semantics the sink's versioned ledger
    reproduces (tests pin stream ≡ fold; the gate entry hash-checks the
    fold end-to-end THROUGH the sink, in-flight compaction included).
    Batch 0 is kept wholesale; a doc with no shingles is never flagged.
    Returns the kept doc_ids."""
    ctes = _bloom_fold_ctes(batch_wheres, n=n, m=m, k=k, threshold=threshold)
    union = "\nUNION ALL\n".join(
        f"SELECT doc_id FROM k{i}" for i in range(len(batch_wheres)))
    return "WITH " + ",\n".join(ctes) + f"\n{union}\nORDER BY doc_id"


def sql_bloom_screen_retract_fold(*, n: int = 3, m: int = BLOOM_BITS,
                                  k: int = BLOOM_HASHES,
                                  threshold: float = 0.5,
                                  batch_wheres: list[str],
                                  retract_where: str) -> str:
    """DuckDB mirror of the counting-mode retract round-trip (r14, puts
    ``StreamingBloomDedup.retract`` on the hash path): fold the batches
    as in ``sql_bloom_screen_fold``, then retract the kept docs matching
    ``retract_where``, and re-ingest the docs the stream had SCREENED
    OUT (the flagged set) as one more batch. This shape is
    discriminative both ways: the retracted ids must LEAVE the output
    (a no-op retract keeps them), and a flagged doc must RE-ENTER iff
    the content that covered its shingles was retracted (a no-op
    retract re-blocks every one — re-ingesting the retracted docs
    themselves would be vacuous, since without retract they are already
    kept and the re-ingest is blocked, converging to the same set).
    The counting ledger's post-retract ``cnt > 0`` positions are
    EXACTLY the shingle positions of the surviving kept corpus (counts
    are additive per doc-distinct shingle, ``bloom_counts``), so the
    oracle rebuilds the bit set from the survivors and screens the
    flagged docs against it. Returns the final kept doc_ids
    (survivors ∪ re-kept; disjoint since the flagged set was never
    kept)."""
    ctes = _bloom_fold_ctes(batch_wheres, n=n, m=m, k=k, threshold=threshold)
    nb = len(batch_wheres)
    kept_union = "\n    UNION ALL\n    ".join(
        f"SELECT doc_id FROM k{i}" for i in range(nb))
    batch_union = "\n    UNION\n    ".join(
        f"SELECT doc_id FROM documents {w}" for w in batch_wheres)
    ctes += [
        (f"keptall AS (\n    {kept_union}\n)"),
        # the subquery form, never WHERE-splicing (see k{i} above)
        (f"surv AS (\n  SELECT doc_id FROM keptall"
         f"\n  WHERE doc_id NOT IN"
         f" (SELECT doc_id FROM documents {retract_where})\n)"),
        (f"flagged AS (\n  SELECT doc_id FROM (\n    {batch_union}\n  )"
         f"\n  WHERE doc_id NOT IN (SELECT doc_id FROM keptall)\n)"),
        (f"bitsr AS (\n  SELECT DISTINCT {_sql_bloom_pos('shingle', m)} AS pos"
         f"\n  FROM (SELECT DISTINCT shingle FROM (\n"
         f"{_sql_shingles_of('documents JOIN surv USING (doc_id)', n)}"
         f"\n  )), unnest(range(0, {k})) AS r(i)\n)"),
        (f"prober AS (\n  SELECT doc_id, shingle,"
         f" {_sql_bloom_pos('shingle', m)} AS pos"
         f"\n  FROM (\n"
         f"{_sql_shingles_of('documents JOIN flagged USING (doc_id)', n)}"
         f"\n  ), unnest(range(0, {k})) AS r(i)\n)"),
        (f"flagr AS (\n  SELECT doc_id FROM ("
         f"\n    SELECT doc_id, shingle,"
         f" min(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS all_set"
         f"\n    FROM prober p LEFT JOIN bitsr b ON p.pos = b.pos"
         f"\n    GROUP BY doc_id, shingle\n  )"
         f"\n  GROUP BY doc_id"
         f"\n  HAVING sum(all_set) * 1.0 / count(*) >= {threshold}\n)"),
        ("kr AS (\n  SELECT doc_id FROM flagged"
         "\n  WHERE doc_id NOT IN (SELECT doc_id FROM flagr)\n)"),
    ]
    return ("WITH " + ",\n".join(ctes)
            + "\nSELECT doc_id FROM surv"
            + "\nUNION ALL\nSELECT doc_id FROM kr"
            + "\nORDER BY doc_id")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_fingerprints(docs: DataFrame, *, id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """(doc_id, simhash BIGINT): 60-bit simhash over word unigrams weighted
    by term frequency. Bit j is 1 iff Σ_t tf(t)·(2·bit_j(hash60(t))−1) ≥ 0."""
    # Σ_t tf(t)·(2·bit_j−1) ≡ Σ_occurrences (2·bit_j−1), so no per-(doc,
    # term) tf pre-aggregation is needed: hash each occurrence and fold the
    # ±1 contributions straight into 60 sum aggregates. The per-bit
    # expressions evaluate inside the partial (map-side) aggregation, so
    # the ONLY shuffle moves 60 partial longs per doc — not |doc_terms|
    # rows (the former tf groupBy was a second full-width shuffle; shift
    # amounts must be Python ints anyway, so the wide form beats a 60×
    # explode). All exact long arithmetic; values identical to the oracle's
    # tf-weighted exploded formulation.
    occ = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.explode(tokenize_unicode61(F.col(text_col))).alias("term"),
    ).withColumn("h", _hash60(F.col("term")))
    sums = occ.groupBy("doc_id").agg(
        *[
            F.sum(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) * 2 - 1)
            .alias(f"_s{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    fp = None
    for j in range(SIMHASH_BITS):
        bit = F.when(F.col(f"_s{j}") >= 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        fp = bit if fp is None else fp + bit
    return sums.select("doc_id", fp.alias("simhash"))


_SQL_SIMHASH_CTES = f"""
terms AS (
  SELECT doc_id, term, count(*) AS tf,
         CAST(concat('0x', substr(md5(term), 1, {HASH_HEX_LEN})) AS BIGINT) AS h
  FROM (
    SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT_RE}'), x -> x <> '')) AS term
    FROM documents
  ) GROUP BY doc_id, term
),
bits AS (
  SELECT doc_id, j AS bit_pos, sum(tf * (((h >> j) & 1) * 2 - 1)) AS s
  FROM terms, unnest(range(0, {SIMHASH_BITS})) AS r(j)
  GROUP BY 1, 2
),
fp AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << bit_pos) ELSE 0 END) AS BIGINT) AS simhash
  FROM bits GROUP BY 1
)
""".strip()


def sql_simhash_fingerprints() -> str:
    return f"WITH {_SQL_SIMHASH_CTES}\nSELECT doc_id, simhash FROM fp"


def simhash_near_pairs(docs: DataFrame, *, max_hamming: int = 3) -> DataFrame:
    """(doc_a, doc_b, hamming): pairs within a Hamming ball, prefiltered by
    exact match on one of 4 fingerprint bands (any pair with hamming ≤ 3
    must agree on ≥1 of 4 15-bit bands — pigeonhole)."""
    fp = simhash_fingerprints(docs)
    band_w = SIMHASH_BITS // 4
    banded = fp.select(
        "doc_id", "simhash",
        F.posexplode(
            F.array(*[
                F.shiftright(F.col("simhash"), b * band_w)
                .bitwiseAND(F.lit((1 << band_w) - 1))
                for b in range(4)
            ])
        ).alias("band", "key"),
    )
    cand = (
        banded.alias("x")
        .join(banded.alias("y"),
              (F.col("x.band") == F.col("y.band")) & (F.col("x.key") == F.col("y.key"))
              & (F.col("x.doc_id") < F.col("y.doc_id")))
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"),
            F.col("x.simhash").alias("ha"), F.col("y.simhash").alias("hb"),
        )
        .distinct()
    )
    return cand.select(
        "doc_a", "doc_b",
        F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


def sql_simhash_near_pairs(*, max_hamming: int = 3) -> str:
    band_w = SIMHASH_BITS // 4
    return f"""
WITH {_SQL_SIMHASH_CTES},
banded AS (
  SELECT doc_id, simhash, b AS band, (simhash >> (b * {band_w})) & {(1 << band_w) - 1} AS key
  FROM fp, unnest(range(0, 4)) AS r(b)
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
                  x.simhash AS ha, y.simhash AS hb
  FROM banded x JOIN banded y
    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= {max_hamming}
""".strip()


# ---------------------------------------------------------------------------
# Embedding near-dup (cosine over the embeddings table)
# ---------------------------------------------------------------------------

def _lsh_params_for_threshold(threshold: float) -> tuple[int, int]:
    """(n_tables, n_bits) sized so a pair exactly AT the cosine threshold
    collides in ≥1 table with probability ≥ 1 − 1e-4.

    Hyperplane LSH: P(one bit agrees) = 1 − θ/π with θ = arccos(τ).
    n_bits targets a per-table collision prob ≈ 0.3 (finer buckets → fewer
    candidates but more tables needed); n_tables then drives the miss
    probability below 1e-4. High thresholds (real near-dup, ≥0.9) get fine
    buckets and real pruning; low thresholds degrade gracefully toward
    coarse buckets (at τ≈0.45 LSH prunes little — but the plan stays an
    equi-join on (table, bucket), never a cartesian).
    """
    import math

    p = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    p = max(0.55, min(0.999, p))
    n_bits = max(1, min(16, round(math.log(0.3) / math.log(p))))
    p1 = p ** n_bits
    n_tables = max(4, min(32, math.ceil(math.log(1e-4) / math.log(1.0 - p1))))
    return n_tables, n_bits


def embedding_near_dup_pairs(embeddings: DataFrame, *, threshold: float = 0.99,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             dim: int | None = None,
                             n_tables: int | None = None,
                             n_bits: int | None = None,
                             seed: int = 42) -> DataFrame:
    """(id_a, id_b, cos_sim ≥ threshold) via hyperplane-LSH candidates +
    exact cosine verify — the 100 TB path.

    Both "sides" are the same corpus hashed once into ``n_tables`` bucket
    columns (shared machinery: ``similarity.lsh_bucket_assignments``);
    candidate pairs materialize only through the (table, bucket) self
    equi-join — an ordinary shuffle join, no crossJoin anywhere in the
    plan. Each candidate is then verified with exact cosine, so false
    positives never escape; recall is governed by the auto-derived
    (n_tables, n_bits) (miss prob ≤ 1e-4 per qualifying pair; verified
    exhaustively against the all-pairs oracle on the synthetic corpora).
    For tiny-N exact semantics see ``embedding_near_dup_pairs_exact``.
    """
    from next_plaid_spark.functions.vector import cosine
    from next_plaid_spark.operators.similarity import lsh_bucket_assignments

    if n_tables is None or n_bits is None:
        auto_t, auto_b = _lsh_params_for_threshold(threshold)
        n_tables = n_tables if n_tables is not None else auto_t
        n_bits = n_bits if n_bits is not None else auto_b
    if dim is None:
        first = embeddings.select(F.size(F.col(vec_col)).alias("d")).head()
        if first is None:
            return embeddings.sparkSession.createDataFrame(
                [], "id_a long, id_b long, cos_sim double")
        dim = first["d"]

    banded = lsh_bucket_assignments(
        embeddings, dim=dim, n_tables=n_tables, n_bits=n_bits, seed=seed,
        id_col=id_col, vec_col=vec_col)
    cand = (
        banded.alias("x")
        .join(banded.alias("y"),
              (F.col("x._table") == F.col("y._table"))
              & (F.col("x._bucket") == F.col("y._bucket"))
              & (F.col("x._id") < F.col("y._id")))
        .select(
            F.col("x._id").alias("id_a"), F.col("y._id").alias("id_b"),
            F.col("x._vec").alias("va"), F.col("y._vec").alias("vb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.select("id_a", "id_b", cosine(F.col("va"), F.col("vb")).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def embedding_near_dup_pairs_exact(embeddings: DataFrame, *,
                                   threshold: float = 0.99,
                                   id_col: str = "vec_id",
                                   vec_col: str = "embedding") -> DataFrame:
    """All-pairs exact variant — O(N²) cartesian, tiny-N oracle/debug use
    ONLY. The shipped operator is the LSH-candidate ``embedding_near_dup_pairs``."""
    from next_plaid_spark.functions.vector import cosine

    a = embeddings.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = embeddings.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine(F.col("va"), F.col("vb")).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def sql_embedding_near_dup_pairs(*, threshold: float = 0.99) -> str:
    dot = "list_reduce(list_prepend(0.0, list_transform(range(1, len(a.v) + 1), i -> CAST(a.v[i] AS DOUBLE) * CAST(b.v[i] AS DOUBLE))), (x,y) -> x+y)"
    norm = "sqrt(list_reduce(list_prepend(0.0, list_transform({arr}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (p,q) -> p+q))"
    na, nb = norm.format(arr="a.v"), norm.format(arr="b.v")
    return f"""
WITH e AS (SELECT vec_id, embedding AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       CASE WHEN {na} = 0.0 OR {nb} = 0.0 THEN 0.0 ELSE {dot} / ({na} * {nb}) END AS cos_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE CASE WHEN {na} = 0.0 OR {nb} = 0.0 THEN 0.0 ELSE {dot} / ({na} * {nb}) END >= {threshold}
""".strip()


def winnowing_fingerprints(docs: DataFrame, *, k: int = 4, w: int = 4,
                           id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """MOSS winnowing (Schleimer, Wilkerson & Aiken, SIGMOD 2003): hash
    every word k-gram, slide a w-gram window, keep each window's MINIMUM
    hash; the distinct kept hashes are the doc's fingerprint set. The
    guarantee: any shared run of k+w−1 tokens between two docs yields at
    least one shared fingerprint — position-robust local dedup evidence at
    a w-fold storage discount vs full shingle sets.

    Shape: posexplode + lead-window k-grams (same codegen formulation as
    ``shingles``), one hash expression, one per-doc ordered window min —
    partition-parallel by doc, no corpus-wide shuffle beyond the per-doc
    window. (doc_id, fp) distinct."""
    from pyspark.sql.window import Window

    toks = tokenize_unicode61(F.col(text_col))
    exploded = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.posexplode(toks).alias("idx", "t0"),
    )
    ow = Window.partitionBy("doc_id").orderBy("idx")
    parts = [F.col("t0")] + [F.lead("t0", i).over(ow) for i in range(1, k)]
    grams = exploded.select(
        "doc_id", "idx",
        F.when(parts[-1].isNotNull(),
               _hash60(F.concat_ws(" ", *parts))).alias("h"),
    ).filter(F.col("h").isNotNull())
    gw = Window.partitionBy("doc_id").orderBy("idx")
    full_window = F.lead("h", w - 1).over(gw).isNotNull()
    win_min = F.min("h").over(gw.rowsBetween(0, w - 1))
    return (
        grams.select("doc_id", win_min.alias("fp"), full_window.alias("_full"))
        .filter(F.col("_full"))
        .select("doc_id", "fp")
        .distinct()
    )


def sql_winnowing_fingerprints(*, k: int = 4, w: int = 4,
                               split_re: str | None = None) -> str:
    from next_plaid_spark.functions.text import TOKEN_SPLIT_RE

    sr = split_re or TOKEN_SPLIT_RE
    return f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '{sr}'), x -> x <> '') AS ts
  FROM documents
),
grams AS (
  SELECT doc_id,
         unnest(range(0, greatest(len(ts) - {k} + 1, 0))) AS idx,
         unnest(list_transform(range(0, greatest(len(ts) - {k} + 1, 0)),
                i -> array_to_string(list_slice(ts, i + 1, i + {k}), ' '))) AS gram
  FROM toks
),
hashed AS (
  SELECT doc_id, idx,
         CAST(concat('0x', substr(md5(gram), 1, {HASH_HEX_LEN})) AS BIGINT) AS h
  FROM grams
),
wins AS (
  SELECT doc_id,
         min(h) OVER (PARTITION BY doc_id ORDER BY idx
                      ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS fp,
         lead(h, {w - 1}) OVER (PARTITION BY doc_id ORDER BY idx) IS NOT NULL AS _full
  FROM hashed
)
SELECT DISTINCT doc_id, fp FROM wins WHERE _full
""".strip()


def winnowing_near_pairs(docs: DataFrame, *, k: int = 4, w: int = 4,
                         min_shared: int = 2, id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Near-dup candidate pairs from winnowing fingerprints: docs sharing
    ≥ ``min_shared`` fingerprints (each shared fp certifies a shared
    k..k+w−1 token run, so min_shared≥2 ≈ multiple shared local regions).
    Pairs exist only through the fp equi-join — same no-all-pairs
    discipline as the MinHash/SimHash paths. (doc_a < doc_b, n_shared)."""
    fps = winnowing_fingerprints(
        docs, k=k, w=w, id_col=id_col, text_col=text_col
    )
    a = fps.select(F.col("doc_id").alias("doc_a"), "fp")
    b = fps.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("int").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def sql_winnowing_near_pairs(*, k: int = 4, w: int = 4,
                             min_shared: int = 2) -> str:
    base = sql_winnowing_fingerprints(k=k, w=w)
    return f"""
WITH fps AS (
{base}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS INT) AS n_shared
FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= {min_shared}
""".strip()


# ---------------------------------------------------------------------------
# SemDeDup (Abbas et al. 2023): cluster-bounded semantic deduplication
# ---------------------------------------------------------------------------

def _semdedup_removals_from_cells(assigned: DataFrame,
                                  threshold: float) -> DataFrame:
    """Shared tail of both SemDeDup paths: given ``(vec_id, _vec, cell,
    centroid_sim)`` assignments, emit the removal set ``(vec_id, cell)``.

    Pairs materialize only through the cell equi-join (the paper's trick:
    the quadratic term is bounded by cell size, and cell count grows with
    the corpus). From each duplicate pair the member with the HIGHER
    centroid similarity is removed — SemDeDup keeps the example farthest
    from the cluster center (§3: "keep the point with the lowest cosine
    similarity to the centroid"), which preserves within-cluster diversity.
    Tie-break: higher vec_id removed. Set-based, so the result is
    independent of pair enumeration order, and no surviving within-cell
    pair can exceed the threshold (each such pair marks one member).
    """
    from next_plaid_spark.functions.vector import cosine

    a = assigned.select(
        F.col("vec_id").alias("id_a"), F.col("_vec").alias("va"),
        F.col("cell").alias("cell"), F.col("centroid_sim").alias("ca"))
    b = assigned.select(
        F.col("vec_id").alias("id_b"), F.col("_vec").alias("vb"),
        F.col("cell").alias("cell"), F.col("centroid_sim").alias("cb"))
    pairs = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cosine(F.col("va"), F.col("vb")) >= threshold)
    )
    removed = pairs.select(
        "cell",
        F.when(
            (F.col("ca") > F.col("cb"))
            | ((F.col("ca") == F.col("cb")) & (F.col("id_a") > F.col("id_b"))),
            F.col("id_a"),
        ).otherwise(F.col("id_b")).alias("vec_id"),
    )
    return removed.select("vec_id", "cell").distinct()


def semdedup_removals(embeddings: DataFrame, *, n_cells: int = 32,
                      threshold: float = 0.95, cells: str = "voronoi",
                      seed: int = 42, id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """SemDeDup: semantic dedup with the pairwise term bounded by clusters.

    Returns the removal set ``(vec_id, cell)``: embeddings whose cosine to
    another member of the same cluster is ≥ ``threshold``, keeping (per
    pair) the member farther from the cluster center.

    Two cell strategies:

    - ``cells="voronoi"`` (oracle-exact): cluster centers are the
      ``n_cells`` corpus vectors with the smallest ``md5(vec_id)`` —
      deterministic, partitioning-independent, and reproducible in ANY SQL
      engine, so the whole operator is hash-checkable against DuckDB
      (``sql_semdedup_removals``). Assignment = nearest center by the
      sequential-fold cosine (ties → lowest center id).
    - ``cells="kmeans"`` (production): real Lloyd's centroids via the IVF
      trainer (`similarity.train_ivf_cells`, bounded seeded collect) —
      tighter cells ⇒ better recall per pair-budget, but iterated float
      centroids aren't SQL-derivable, so this path is gated by the
      pytest recall/containment harness instead (tests/test_dedup.py).

    Scale: the center table is broadcast (``n_cells`` rows); the corpus is
    scanned once for assignment; the only join keyed on data volume is the
    within-cell self equi-join, bounded by cell size ~ N/n_cells (grow
    ``n_cells`` with the corpus — the paper uses K ∝ N). No all-pairs path.
    """
    from next_plaid_spark.functions.vector import cosine

    if cells == "voronoi":
        seeds = (
            embeddings
            .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
            .limit(n_cells)
            .select(F.col(id_col).alias("seed_id"),
                    F.col(vec_col).alias("sv"))
        )
        scored = (
            embeddings.select(F.col(id_col).alias("vec_id"),
                              F.col(vec_col).alias("_vec"))
            # broadcast nested-loop over a constant-size center table: the
            # documented bounded pattern (cost linear in N·n_cells)
            .crossJoin(F.broadcast(seeds))
            .withColumn("csim", cosine(F.col("_vec"), F.col("sv")))
        )
        assigned = (
            scored.groupBy("vec_id")
            .agg(
                F.max(F.struct(F.col("csim"), (-F.col("seed_id")).alias("ns")))
                .alias("m"),
                F.first("_vec").alias("_vec"),
            )
            .select(
                "vec_id", "_vec",
                (-F.col("m.ns")).alias("cell"),
                F.col("m.csim").alias("centroid_sim"),
            )
        )
    elif cells == "kmeans":
        from next_plaid_spark.operators.similarity import (
            ivf_cell_assignments, train_ivf_cells)

        cmat = train_ivf_cells(embeddings, n_cells, seed=seed,
                               id_col=id_col, vec_col=vec_col)
        spark = embeddings.sparkSession
        centers = F.broadcast(local_df(
            spark,
            [(i, [float(x) for x in row]) for i, row in enumerate(cmat)],
            "cell int, cv array<float>"))
        assigned = (
            ivf_cell_assignments(embeddings, cmat, n_probe=1,
                                 id_col=id_col, vec_col=vec_col)
            .select(F.col("_id").alias("vec_id"), "_vec",
                    F.col("_cell").cast("long").alias("cell"))
            .join(centers, "cell")
            .withColumn("centroid_sim", cosine(F.col("_vec"), F.col("cv")))
            .select("vec_id", "_vec", "cell", "centroid_sim")
        )
    else:
        raise ValueError(f"cells must be 'voronoi' or 'kmeans', got {cells!r}")

    return _semdedup_removals_from_cells(assigned, threshold)


def sql_semdedup_removals(*, n_cells: int = 32,
                          threshold: float = 0.95) -> str:
    """DuckDB mirror of the ``cells="voronoi"`` path (same md5 seed order,
    same sequential-fold cosine, same keep-farthest rule)."""
    dot = ("list_reduce(list_prepend(0.0, list_transform("
           "range(1, len({a}) + 1), i -> CAST({a}[i] AS DOUBLE) * "
           "CAST({b}[i] AS DOUBLE))), (x,y) -> x+y)")
    norm = ("sqrt(list_reduce(list_prepend(0.0, list_transform({arr}, "
            "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (p,q) -> p+q))")

    def cos(a: str, b: str) -> str:
        na, nb = norm.format(arr=a), norm.format(arr=b)
        d = dot.format(a=a, b=b)
        return (f"CASE WHEN {na} = 0.0 OR {nb} = 0.0 THEN 0.0 "
                f"ELSE {d} / ({na} * {nb}) END")

    return f"""
WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
seeds AS (
  SELECT vec_id AS seed_id, v AS sv FROM e
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {n_cells}
),
scored AS (
  SELECT e.vec_id, e.v, s.seed_id, {cos('e.v', 's.sv')} AS csim
  FROM e CROSS JOIN seeds s
),
assigned AS (
  SELECT vec_id, v, seed_id AS cell, csim AS centroid_sim FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY csim DESC, seed_id) AS rn
    FROM scored) WHERE rn = 1
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cell,
         a.centroid_sim AS ca, b.centroid_sim AS cb
  FROM assigned a JOIN assigned b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE {cos('a.v', 'b.v')} >= {threshold}
)
SELECT DISTINCT
  CASE WHEN ca > cb OR (ca = cb AND id_a > id_b) THEN id_a ELSE id_b
  END AS vec_id,
  cell
FROM pairs
""".strip()


# ---------------------------------------------------------------------------
# Exact duplicate-span extraction (Lee et al. 2021 "Deduplicating Training
# Data Makes Language Models Better" — the substring-dedup signal), as a
# pure relational plan: no suffix arrays, no UDFs.
# ---------------------------------------------------------------------------

def _positional_kgrams(docs: DataFrame, k: int, id_col: str,
                       text_col: str) -> DataFrame:
    """(doc_id, pos, gh): hash of the k-token gram starting at each
    position — the positional (non-distinct) sibling of ``shingles``,
    same codegen-friendly posexplode + lead() formulation."""
    from pyspark.sql.window import Window

    toks = tokenize_unicode61(F.col(text_col))
    exploded = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.posexplode(toks).alias("pos", "t0"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("t0")] + [F.lead("t0", i).over(w) for i in range(1, k)]
    return (
        exploded.select(
            "doc_id", "pos",
            F.when(parts[-1].isNotNull(),
                   _hash60(F.concat_ws(" ", *parts))).alias("gh"),
        )
        .filter(F.col("gh").isNotNull())
    )


def duplicate_spans(docs: DataFrame, *, k: int = 8, min_len: int = 12,
                    max_gram_df: int = 64, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """(doc_a, doc_b, span_len): the longest EXACTLY shared token run per
    document pair, reported when ≥ ``min_len`` tokens.

    Identity that makes this relational: a shared run of L ≥ k tokens is
    exactly L−k+1 consecutive shared k-grams on one ``pos_a − pos_b``
    diagonal. So: positional k-gram hashes → gram-hash equi-join (pairs
    with no shared gram never meet — the no-all-pairs discipline) →
    per (pair, diagonal) consecutive-run length via the pos−row_number
    gap-island key → span_len = max run + k − 1.

    ``max_gram_df`` drops corpus-stop-grams before the join (the shingle
    document-frequency cap pattern), bounding the quadratic fan-out of
    boilerplate runs at 100 TB; a duplicated span whose EVERY gram exceeds
    the cap is missed, which is the explicit trade (such spans are
    boilerplate by definition and are better handled by line-level dedup).
    """
    from pyspark.sql.window import Window

    grams = _positional_kgrams(docs, k, id_col, text_col)
    # stop-gram df cap computed in-stream on one exchange by gh (new-doc
    # boundary flags summed over the gh frame) instead of a
    # groupBy(gh)+join-back diamond that would evaluate the positional
    # k-gram subtree a second time
    w_ord = Window.partitionBy("gh").orderBy("doc_id", "pos")
    new_doc = (
        F.lag("doc_id", 1).over(w_ord).isNull()
        | (F.lag("doc_id", 1).over(w_ord) != F.col("doc_id"))
    ).cast("long")
    grams = (
        grams.withColumn("_df", F.sum(new_doc).over(Window.partitionBy("gh")))
        .filter(F.col("_df") <= max_gram_df)
        .select("doc_id", "pos", "gh")
    )
    a = grams.select(F.col("doc_id").alias("doc_a"), F.col("pos").alias("pa"), "gh")
    b = grams.select(F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb"), "gh")
    hits = (
        a.join(b, "gh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "pa", (F.col("pa") - F.col("pb")).alias("diag"))
        .distinct()
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    runs = (
        hits.withColumn("grp", F.col("pa") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "diag", "grp")
        .agg((F.count("*") + k - 1).alias("span"))
    )
    return (
        runs.groupBy("doc_a", "doc_b")
        .agg(F.max("span").cast("long").alias("span_len"))
        .filter(F.col("span_len") >= min_len)
    )


def scrub_duplicate_spans(docs: DataFrame, *, k: int = 8,
                          max_gram_df: int | None = None,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Exact-substring dedup MATERIALIZED (Lee et al. '21 §3, the
    keep-first-occurrence policy): every token covered by a k-gram whose
    occurrence is not that gram's global first occurrence (ordered by
    (doc_id, pos)) is dropped, and the document text is rebuilt from the
    surviving tokens → (doc_id, clean_text, n_tokens, n_dropped).

    ``duplicate_spans`` *reports* shared runs pair-wise; this operator
    *rewrites the corpus*. Output text is canonicalized (lowercased
    unicode61 tokens joined by single spaces) — the same token stream the
    dedup decision is made on, as in the reference pipeline's
    token-sequence formulation.

    Scale shape: ONE exchange of the gram stream by gh finds duplicate
    occurrences — an occurrence is a duplicate iff its row_number over
    (gh, ordered by doc_id, pos) exceeds 1, so no groupBy(gh)+join-back
    diamond (which would evaluate the positional-k-gram subtree — the
    posexplode + lead() window over the whole corpus — twice). The
    k-fold explode is bounded by the DUPLICATE rate, and the rebuild is a
    docs ⋈ per-doc-drop-array join on doc_id with the token filtering
    done row-locally as an array expression — the corpus text itself
    never explodes through a shuffle. ``max_gram_df`` (the stop-gram cap,
    see ``duplicate_spans``) optionally exempts boilerplate grams whose
    df exceeds the cap; None (oracle mode) scrubs everything. The df is
    computed on the same sorted (gh, doc_id, pos) run as the row_number
    (new-doc flag summed over the gh frame), not by a second pass."""
    from pyspark.sql.window import Window

    grams = _positional_kgrams(docs, k, id_col, text_col)
    w_ord = Window.partitionBy("gh").orderBy("doc_id", "pos")
    grams = grams.withColumn("_rn", F.row_number().over(w_ord))
    if max_gram_df is not None:
        # exact per-gh document frequency from the same sort: count
        # doc-change boundaries and total them over the whole gh frame
        w_gh = Window.partitionBy("gh")
        new_doc = (
            F.lag("doc_id", 1).over(w_ord).isNull()
            | (F.lag("doc_id", 1).over(w_ord) != F.col("doc_id"))
        ).cast("long")
        grams = grams.withColumn(
            "_df", F.sum(new_doc).over(w_gh)
        ).filter(F.col("_df") <= max_gram_df)
    dup_occ = grams.filter(F.col("_rn") > 1).select("doc_id", "pos")
    drop_sets = (
        dup_occ.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
            ).alias("dpos"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("dpos").alias("drops"))
    )
    base = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        tokenize_unicode61(F.col(text_col)).alias("_toks"),
    )
    out = base.join(drop_sets, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("drops"), F.array().cast("array<int>")).alias("drops"),
        "_toks",
    )
    kept = F.filter(
        F.col("_toks"),
        lambda t, i: ~F.array_contains(F.col("drops"), i.cast("int")),
    )
    return out.select(
        "doc_id",
        F.concat_ws(" ", kept).alias("clean_text"),
        F.size(kept).cast("long").alias("n_tokens"),
        (F.size("_toks") - F.size(kept)).cast("long").alias("n_dropped"),
    )


def sql_scrub_duplicate_spans(*, k: int = 8) -> str:
    """DuckDB mirror of ``scrub_duplicate_spans`` (oracle mode, no df cap):
    unnest-based token rebuild, ``string_agg ORDER BY pos``."""
    return f"""
WITH toks AS (
  SELECT doc_id, i - 1 AS pos, t[i] AS tok, len(t) AS n
  FROM (
    SELECT doc_id, list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT_RE}'), x -> x <> '') AS t
    FROM documents
  ), unnest(range(1, len(t) + 1)) AS r(i)
),
grams AS (
  SELECT a.doc_id, a.pos,
         CAST(concat('0x', substr(md5(string_agg(b.tok, ' ' ORDER BY b.pos)), 1, {HASH_HEX_LEN})) AS BIGINT) AS gh
  FROM toks a JOIN toks b
    ON b.doc_id = a.doc_id AND b.pos BETWEEN a.pos AND a.pos + {k - 1}
  GROUP BY a.doc_id, a.pos
  HAVING count(*) = {k}
),
ranked AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY gh ORDER BY doc_id, pos) AS rn
  FROM grams
),
drops AS (
  SELECT DISTINCT doc_id, pos + j AS dpos
  FROM ranked, unnest(range(0, {k})) AS u(j)
  WHERE rn > 1
),
kept AS (
  SELECT t.doc_id, t.pos, t.tok
  FROM toks t ANTI JOIN drops d ON d.doc_id = t.doc_id AND d.dpos = t.pos
),
rebuilt AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
         count(*) AS n_tokens
  FROM kept GROUP BY 1
),
orig AS (SELECT doc_id, max(n) AS n FROM toks GROUP BY 1)
SELECT d.doc_id,
       coalesce(r.clean_text, '') AS clean_text,
       coalesce(r.n_tokens, 0) AS n_tokens,
       coalesce(o.n, 0) - coalesce(r.n_tokens, 0) AS n_dropped
FROM documents d
LEFT JOIN rebuilt r USING (doc_id)
LEFT JOIN orig o USING (doc_id)
""".strip()


def sql_duplicate_spans(*, k: int = 8, min_len: int = 12,
                        max_gram_df: int = 64) -> str:
    gram = " || ' ' || ".join(f"toks[i + {j}]" for j in range(k))
    return f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT_RE}'),
                     x -> x <> '') AS toks
  FROM documents
),
grams AS (
  SELECT doc_id, r.i - 1 AS pos,
         CAST(concat('0x', substr(md5({gram}), 1, {HASH_HEX_LEN})) AS BIGINT) AS gh
  FROM t, unnest(range(1, greatest(len(toks) - {k}, -1) + 2)) AS r(i)
),
rare AS (
  SELECT gh FROM grams GROUP BY gh HAVING count(DISTINCT doc_id) <= {max_gram_df}
),
g AS (SELECT grams.* FROM grams JOIN rare USING (gh)),
hits AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa,
                  a.pos - b.pos AS diag
  FROM g a JOIN g b ON a.gh = b.gh AND a.doc_id < b.doc_id
),
keyed AS (
  SELECT doc_a, doc_b, diag,
         pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS grp
  FROM hits
),
runs AS (
  SELECT doc_a, doc_b, count(*) + {k} - 1 AS span
  FROM keyed GROUP BY doc_a, doc_b, diag, grp
)
SELECT doc_a, doc_b, CAST(max(span) AS BIGINT) AS span_len
FROM runs GROUP BY doc_a, doc_b
HAVING max(span) >= {min_len}
""".strip()
