"""Batch PLAID search — the retrieval funnel as one chained DataFrame job.

Reference lifecycle (next-plaid/src/search.rs:327-516, SURVEY.md §2.4):

  Q1  query·centroid scores            — small GEMM per query token
  Q2  IVF probe: top n_ivf_probe cells per token (default 8)
  Q3  prune cells with max score < t_cs (default 0.4)
  Q4  subset-aware probe scaling (filtered search)
  Q5  candidate docs = ∪ probed cells' IVF lists (∩ subset): the docs
      whose code list overlaps the surviving cells
  Q6  approximate MaxSim on codes only (no residual reads)
  Q7  keep top n_full_scores (default 4096) by approx score
  Q8  decompress budget: top max(n_full/4, k)
  Q9  exact MaxSim on decompressed survivors
  Q10 final top-k

Spark realization: batch search (Q11) is the natural mode, not a loop —
the query batch is the small side, collected once to the driver and
broadcast. Q1–Q3 run driver-side in NumPy over the batch's [q_tokens, K]
centroid-score matrix; Q5+Q6 are one doc-parallel ``mapInPandas`` kernel
over each candidate doc's code list; Q7/Q8 are a rank window; Q9 is a
second doc-parallel kernel over the survivors' (code, residual) lists;
Q10 is a rank window. Column pruning means Q6 never reads the ``residual``
column — the Parquet scan for the approx stage fetches (doc_id, code) only,
the analog of the reference's codes-only pass. A batch whose score matrix
is over budget runs as chunks of whole queries, one funnel each.

Skew note (SURVEY §7): natural-language IVF cells are Zipfian. Both kernels
scan each candidate doc once per batch, so a hot cell adds docs to scan,
not a per-cell serialization point.
"""

from __future__ import annotations

import functools
import math
import os
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from next_plaid_spark.operators.codec import decompress
from next_plaid_spark.operators.maxsim import maxsim_scores_relational, topk
from next_plaid_spark.sources.index_store import PlaidIndex


def _seq_centroid_scores(q64: np.ndarray, c64: np.ndarray,
                         threads: int = 1) -> np.ndarray:
    """[rows, K] query·centroid scores in float64, accumulated sequentially
    over dim (0.0 + q₀c₀ + q₁c₁ + …) — the exact fold order of
    functions/vector.py::dot and of the DuckDB oracle's
    ``list_reduce(list_transform(...), (a,b) -> a+b)``, so the probe, t_cs
    prune, and codes-only approx scores are bit-reproducible cross-engine
    (the reference's f32 GEMM at search.rs:388-409 is NOT reproduced: the
    funnel's contract is its own determinism, not the reference's bit
    pattern). Row-blocked; with ``threads`` > 1 disjoint row blocks run on
    a thread pool (numpy releases the GIL) — same per-element fold order,
    bit-identical output."""
    rows, dim = q64.shape
    k = c64.shape[0]
    if rows == 0:
        return np.zeros((0, k), dtype=np.float64)
    qt = np.ascontiguousarray(np.asarray(q64, dtype=np.float64).T)
    ct = np.ascontiguousarray(np.asarray(c64, dtype=np.float64).T)
    out = np.empty((rows, k), dtype=np.float64)
    block = 256

    def work(r0: int) -> None:
        r1 = min(r0 + block, rows)
        blk = out[r0:r1]
        np.multiply(qt[0, r0:r1][:, None], ct[0][None, :], out=blk)
        tmp = np.empty((r1 - r0, k), dtype=np.float64)
        for j in range(1, dim):
            np.multiply(qt[j, r0:r1][:, None], ct[j][None, :], out=tmp)
            blk += tmp

    starts = range(0, rows, block)
    if threads > 1 and rows > block:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(threads) as ex:
            list(ex.map(work, starts))
    else:
        for r0 in starts:
            work(r0)
    return out


def _topn_mask(scores: np.ndarray, n: int) -> np.ndarray:
    """Boolean mask of the top-``n`` columns per row under the total order
    (score desc, column-index asc) — deterministic under ties, unlike a raw
    ``argpartition`` (whose boundary-tie choice is undefined, the one thing
    that kept the approximate funnel un-oracle-able). Vectorized: nth-value
    threshold, strictly-greater always in, boundary ties admitted lowest
    index first via an in-row cumulative count. Matches the oracle's
    ``row_number() OVER (ORDER BY score DESC, code ASC) <= n``."""
    k = scores.shape[1]
    if n >= k:
        return np.ones(scores.shape, dtype=bool)
    thresh = np.partition(scores, k - n, axis=1)[:, k - n][:, None]
    strict = scores > thresh
    need = n - strict.sum(axis=1)
    tie = scores == thresh
    tie_rank = np.cumsum(tie, axis=1)
    return strict | (tie & (tie_rank <= need[:, None]))


@dataclass
class SearchParams:
    """Defaults mirror search.rs:54-69."""
    top_k: int = 10
    n_ivf_probe: int = 8
    n_full_scores: int = 4096
    centroid_score_threshold: float = 0.4
    # subset probe scaling cap (search.rs:370-382)
    max_probe_scale: int = 16
    # extension (off = reference parity): never let t_cs prune a query to
    # zero cells — keep its single best cell. With synthetic low-dim
    # vectors a diffuse cluster can push every probed score below 0.4,
    # which silently empties that query's results.
    keep_best_cell: bool = False


# query-side size budget for one funnel pass: the precomputed [q_tokens, K]
# float64 centroid-score matrix (built once driver-side, then broadcast)
# must stay comfortably broadcastable. 256 MB holds a 500-query × 8-token
# batch against K=4096 cells; bigger batches run as chunks of whole
# queries, which stays bit-identical.
BROADCAST_SCORES_BUDGET_BYTES = 256 << 20

_QT_COLS = ("query_id", "token_idx", "vec")
_RESULT_SCHEMA = "query_id long, doc_id long, score double, rank int"


def _collect_sorted(query_tokens: DataFrame):
    """The query tokens as a driver pdf sorted by (query_id, token_idx) —
    the form both funnel kernels read."""
    return query_tokens.select(*_QT_COLS).sort("query_id", "token_idx").toPandas()


class BatchSearcher:
    def __init__(self, index: PlaidIndex, params: SearchParams | None = None,
                 *, broadcast_budget_bytes: int | None = None):
        """Search is one funnel: the query side (token matrix + surviving
        cells) is collected and broadcast, and one doc-parallel kernel scans
        each candidate doc's code list exactly once for the whole batch —
        the query batch is the small side by construction, and the corpus
        never re-shuffles per query. ``broadcast_budget_bytes`` bounds the
        batch's [q_tokens, K] centroid-score matrix; a batch over it is
        split into chunks of whole queries, each running the same funnel,
        so driver memory stays bounded at any batch size."""
        self.index = index
        self.params = params or SearchParams()
        self.broadcast_budget_bytes = (
            BROADCAST_SCORES_BUDGET_BYTES if broadcast_budget_bytes is None
            else broadcast_budget_bytes
        )
        self._centroids = index.centroids_np()
        # float64 copy of the same values (f32 → f64 is exact): every
        # centroid-score fold runs in double from source values
        self._centroids64 = np.ascontiguousarray(self._centroids,
                                                 dtype=np.float64)
        # DataFrames cached by search() calls (the subset of a filtered
        # search; the query tokens of a batch past the broadcast budget).
        # They must stay cached while the returned lazy plan is being
        # consumed, so search() can't unpersist them itself; long-lived
        # sessions issuing many filtered searches should call release()
        # between batches to drop them.
        self._live_caches: list[DataFrame] = []

    def release(self) -> None:
        """Unpersist every DataFrame cached by prior search() calls.

        Call after the results of those searches have been fully consumed
        (collected/written); the next search() re-caches what it needs."""
        for df in self._live_caches:
            try:
                df.unpersist()
            except Exception:
                pass
        self._live_caches.clear()

    # -- funnel stages -----------------------------------------------------
    def _approx_broadcast(self, qt_pdf, n_probe: int, p: "SearchParams",
                          subset: DataFrame | None,
                          prune_to: int | None = None,
                          eligible_mask: np.ndarray | None = None,
                          spread: bool = True) -> DataFrame:
        """Q1–Q6 with the query side broadcast.

        Takes the batch's query tokens as a driver pdf (the small side of
        batch search by construction) and precomputes the [q_tokens, K]
        centroid-score matrix ONCE — which makes the probe (Q1/Q2: per-token
        argpartition) and the t_cs prune (Q3) pure driver-side NumPy instead
        of two extra Spark jobs. Candidacy — d ∈ ∪_{c∈cells(q)} ivf[c] — is
        equivalent to codes(d) ∩ cells(q) ≠ ∅ (a doc is in a cell's IVF list
        iff one of its tokens has that code, index.rs:479-508), so Q5 runs as
        a segment-max over a boolean cell mask inside a doc-parallel kernel
        that scans each candidate doc's code list exactly once per batch; no
        (query × doc) pair list is ever exploded or shuffled. The kernel's
        input is ``doc_codes`` filtered to docs holding a surviving cell of
        any query (⋉ ``subset`` when given).

        Bit-determinism (what makes the approximate funnel hash-checkable
        against a DuckDB oracle — see queries.py::sql_plaid_search_topk):
        centroid scores are float64 sequential-over-dim folds from the
        SOURCE vector values (_seq_centroid_scores, computed ONCE driver-side
        and broadcast — the executors consume, never recompute); the probe
        is deterministic under ties (_topn_mask: score desc, code asc); the
        approx score folds each pair's per-token maxima in ascending-value
        order (sorted fold with exact-identity 0.0 padding) — the same fold
        as the oracle's ``list_reduce(list_prepend(0.0, list_sort(...)))``,
        so the scores are bit-identical, not just value-close.
        """
        import pandas as pd

        spark = self.index.spark
        c64 = self._centroids64
        k_total = c64.shape[0]
        schema = "query_id long, doc_id long, approx_score double"

        # token-dedup (the vectors are a pure function of the token text for
        # a deterministic encoder; np.unique needs no token column): all
        # score-matrix work runs per distinct vector. float64 straight from
        # the source values + padded per-query row-index matrix — the same
        # query-side arrays the Q9 kernel uses.
        from next_plaid_spark.operators.maxsim import query_side_arrays

        qv, qi_mat, qi_ok, qids = query_side_arrays(qt_pdf)
        scores_v = _seq_centroid_scores(
            qv, c64, threads=min(16, os.cpu_count() or 1))  # [V, K] float64
        if eligible_mask is not None:
            # Q4 under filter (search.rs:350-364): the probe pool is
            # restricted to eligible centroids — cells holding subset docs —
            # so no probe slot is wasted on a cell that cannot contribute.
            # Candidate docs are subset docs, and every code of a subset doc
            # is by definition an eligible cell, so the kernel below never
            # gathers a masked column — masking before broadcast is safe.
            scores_v[:, ~eligible_mask] = -np.inf

        # Q2 probe + Q3 prune, driver-side (deterministic under ties:
        # score desc, code asc — the oracle's row_number order)
        n = min(n_probe, k_total)
        if eligible_mask is not None:
            # never let the probe select a masked -inf column even if a
            # caller skips the n_probe ≤ eligible-count cap
            n = max(1, min(n, int(eligible_mask.sum())))
        sel = _topn_mask(scores_v, n)
        cell_mask = np.zeros((len(qids), k_total), dtype=bool)
        for qx in range(len(qids)):
            rows = qi_mat[qx][qi_ok[qx]]
            probed_cells = np.nonzero(sel[rows].any(axis=0))[0]
            cell_best = scores_v[rows][:, probed_cells].max(axis=0)
            keep = cell_best >= p.centroid_score_threshold
            if p.keep_best_cell and not keep.all():
                # rank 1 by (cell_max desc, code asc) — always survives
                best = probed_cells[np.lexsort((probed_cells, -cell_best))[0]]
                keep |= probed_cells == best
            cell_mask[qx, probed_cells[keep]] = True

        # The broadcast carries the driver-built [V, K] float64 score matrix
        # itself (bounded by broadcast_budget_bytes via search()'s chunk
        # split): executors consume the exact driver bits instead of
        # rebuilding per partition, which keeps the sequential-fold scores
        # bit-identical everywhere without paying the (non-BLAS) fold cost
        # once per partition.
        b_S = spark.sparkContext.broadcast(scores_v)
        b_mask = spark.sparkContext.broadcast(cell_mask)
        b_meta = spark.sparkContext.broadcast((qids, qi_mat, qi_ok))

        def kern(batches):
            S = b_S.value  # [V, K] float64, the driver's exact bits
            Cm = b_mask.value
            kqids, kqi, kok = b_meta.value
            n_q = len(kqids)
            t_max = kqi.shape[1]
            # bound the [V, F] gather below ~32 MB per chunk, and the
            # [n_q, t_max, nd] per-token maxima tensor below ~32 MB too
            chunk_flat = max(1024, (32 << 20) // max(1, 8 * S.shape[0]))
            nd_cap = max(64, (32 << 20) // max(1, 8 * n_q * t_max))
            for pdf in batches:
                if not len(pdf):
                    continue
                code_lists = [np.asarray(cs, dtype=np.int64) for cs in pdf["codes"]]
                lens = np.fromiter((len(cs) for cs in code_lists), dtype=np.int64)
                keep = lens > 0
                if not keep.any():
                    continue
                doc_ids = np.asarray(pdf["doc_id"])[keep]
                kept = [cs for cs in code_lists if len(cs)]
                klens = lens[keep]
                # chunk docs so each flat-code gather stays bounded
                start = 0
                while start < len(kept):
                    end = start
                    tot = 0
                    while end < len(kept) and end - start < nd_cap and (
                        tot == 0 or tot + klens[end] <= chunk_flat
                    ):
                        tot += klens[end]
                        end += 1
                    flat = np.concatenate(kept[start:end])
                    offs = np.zeros(end - start, dtype=np.int64)
                    np.cumsum(klens[start:end][:-1], out=offs[1:])
                    seg_max = np.maximum.reduceat(S[:, flat], offs, axis=1)
                    is_cand = np.maximum.reduceat(Cm[:, flat], offs, axis=1)
                    # sort chunk columns by doc_id so a stable argsort on
                    # score alone realizes the (score desc, doc_id asc)
                    # tie-break row-parallel
                    ordc = np.argsort(doc_ids[start:end])
                    d_sorted = doc_ids[start:end][ordc]
                    seg_max = seg_max[:, ordc]
                    is_cand = is_cand[:, ordc]
                    # per-(query, doc) approx score: gather each query's
                    # per-token maxima (pads land on exact-identity 0.0),
                    # sort ascending, fold sequentially — bit-identical to
                    # the DuckDB oracle's
                    # list_reduce(list_prepend(0.0, list_sort(list(mx))))
                    T = seg_max[kqi]            # [n_q, t_max, nd]
                    T[~kok] = 0.0
                    T.sort(axis=1)
                    qs = np.zeros((n_q, T.shape[2]), dtype=np.float64)
                    for t in range(t_max):
                        qs += T[:, t, :]
                    if prune_to is not None and qs.shape[1] > prune_to:
                        # two-phase top-k (Q7 pre-prune): the global
                        # top-prune_to per query is contained in every
                        # chunk's local top-prune_to under the same
                        # (score desc, doc_id asc) order, so the rank
                        # window downstream shuffles O(chunks · prune_to)
                        # rows per query instead of the full candidate set
                        masked = np.where(is_cand, qs, -np.inf)
                        sel = np.argsort(-masked, axis=1, kind="stable")[:, :prune_to]
                        m = np.take_along_axis(is_cand, sel, axis=1)
                        if not m.any():
                            start = end
                            continue
                        sc = np.take_along_axis(qs, sel, axis=1)[m]
                        d = d_sorted[sel][m]
                        qout = np.broadcast_to(
                            kqids[:, None], sel.shape
                        )[m]
                    else:
                        qidx, didx = np.nonzero(is_cand)
                        if not len(qidx):
                            start = end
                            continue
                        qout = kqids[qidx]
                        d = d_sorted[didx]
                        sc = qs[qidx, didx]
                    yield pd.DataFrame(
                        {"query_id": qout,
                         "doc_id": d,
                         "approx_score": sc}
                    )
                    start = end

        # Q5's corpus pruning: only docs holding some surviving cell can be
        # candidates for anyone — one narrow filter of the per-doc code
        # lists (the codes.npy analog) against the union of surviving
        # cells, then the subset when filtered; no shuffle
        doc_lists = self.index.docs_in_cells(
            np.nonzero(cell_mask.any(axis=0))[0])
        if subset is not None:
            doc_lists = doc_lists.join(subset, "doc_id", "left_semi")
        if spread:
            doc_lists = self._spread_small(doc_lists)
        return doc_lists.mapInPandas(kern, schema=schema)

    def _rerank_broadcast(self, survivors: DataFrame, qt_pdf) -> DataFrame:
        """Q9 as ONE doc-parallel kernel over the survivor docs.

        The kernel keeps the Q8/Q9 IO discipline — residuals are read ONLY
        for survivor docs — and computes the dot table, per-token maxima,
        and the sorted sequential fold inside one ``mapInPandas`` over
        ``groupBy(doc_id)``-packed (code, residual) lists, with the (small,
        Q8-budget-bounded) survivor pair list and the query vocab broadcast.

        Bit-parity with ``maxsim_scores_relational`` over the decompressed
        survivors (and thus the DuckDB oracle): decompression calls the
        same :func:`decompress_np` the decompress() operator uses; dots
        accumulate 0.0 + Σ x·y sequentially over dim (the exact fold order
        of functions/vector.py::dot after both sides cast to double);
        per-(query,doc) scores sort the per-token maxima ascending and fold
        sequentially (array_sort + aggregate's order), with 0.0-padding for
        ragged token counts — IEEE addition of +0.0 is an exact identity, so
        the padded fold is bit-identical to the unpadded one.

        The survivor pair list never hits the driver: it rides the plan as
        a per-doc ``collect_list(query_id)``, broadcast ONCE and joined
        onto the token rows, whose per-doc packing then carries each
        doc's query list along (``first``: one list per doc). The
        survivors are thus read by one consumer, so nothing is cached, and
        the whole funnel stays ONE lazy Catalyst plan (approx scan stays
        codes-only, metadata filters stay pushed — plan-audit A1/A2 see
        the full lineage). The broadcast hash join keeps the token scan's
        doc_id bucketing, so the packing groupBy shuffles nothing (A15)."""
        surv_by_doc = survivors.groupBy("doc_id").agg(
            F.collect_list("query_id").alias("qids")
        )
        packed = (
            self.index.tokens.join(F.broadcast(surv_by_doc), "doc_id")
            .groupBy("doc_id")
            .agg(F.collect_list(F.struct("code", "residual")).alias("crs"),
                 F.first("qids").alias("qids"))
        )
        return self._rerank_kernel_over(packed, qt_pdf)

    def _rerank_kernel_over(self, packed: DataFrame, qt_pdf) -> DataFrame:
        """The Q9 kernel itself over ``packed(doc_id, crs, qids)`` rows —
        shared by the survivor-driven and all-pairs packings."""
        idx = self.index
        schema = "query_id long, doc_id long, score double"

        # query side, deduped by vector identity (np.unique needs no token
        # column) in float64 straight from the source values — shared with
        # the brute-force kernel (operators/maxsim.py::query_side_arrays)
        from next_plaid_spark.operators.maxsim import query_side_arrays

        qv, qi_mat, qi_ok, qids = query_side_arrays(qt_pdf)

        sc = packed.sparkSession.sparkContext
        b_qv = sc.broadcast(qv)
        b_qi = sc.broadcast((qi_mat, qi_ok, qids))
        b_cent = sc.broadcast(np.ascontiguousarray(self._centroids,
                                                   dtype=np.float32))
        codec = idx.meta.codec

        def kern(batches):
            import pandas as pd

            from next_plaid_spark.operators.codec import decompress_np

            qv64 = b_qv.value  # already float64 (see dot() parity note)
            v_cnt, dim = qv64.shape
            kqi, kok, kqids = b_qi.value
            # bound the [V, F] dot/gather work per chunk like the approx kernel
            chunk_flat = max(1024, (32 << 20) // max(1, v_cnt))
            for pdf in batches:
                if not len(pdf):
                    continue
                doc_ids = pdf["doc_id"].to_numpy()
                crs = pdf["crs"]
                doc_qids = pdf["qids"]
                start = 0
                while start < len(doc_ids):
                    end = start
                    tot = 0
                    while end < len(doc_ids) and (
                        tot == 0 or tot + len(crs.iloc[end]) <= chunk_flat
                    ):
                        tot += len(crs.iloc[end])
                        end += 1
                    # flatten + dedup (code, residual) within the chunk —
                    # each distinct quantized vector is decompressed and
                    # dotted once
                    table: dict = {}
                    uids = []
                    lens = []
                    for di in range(start, end):
                        cl = crs.iloc[di]
                        lens.append(len(cl))
                        for r in cl:
                            k = (r["code"], r["residual"])
                            u = table.get(k)
                            if u is None:
                                u = len(table)
                                table[k] = u
                            uids.append(u)
                    lens = np.asarray(lens, dtype=np.int64)
                    keep = lens > 0
                    if not keep.any():
                        start = end
                        continue
                    u_codes = np.fromiter((k[0] for k in table),
                                          dtype=np.int64, count=len(table))
                    u_res = [k[1] for k in table]
                    uvecs = decompress_np(u_codes, u_res, b_cent.value, codec)
                    # dot table [V, U]: 0.0 + Σ_j x_j·y_j sequentially —
                    # the exact fold of functions/vector.py::dot
                    dots = np.zeros((v_cnt, len(table)), dtype=np.float64)
                    for j in range(dim):
                        dots += qv64[:, j][:, None] * uvecs[:, j][None, :]
                    flat = np.asarray(uids, dtype=np.int64)
                    offs = np.zeros(int(keep.sum()), dtype=np.int64)
                    np.cumsum(lens[keep][:-1], out=offs[1:])
                    # per-doc per-vocab-token maxima [nd, V]
                    m_t = np.maximum.reduceat(
                        dots[:, flat], offs, axis=1
                    ).T.copy()
                    keep_idx = np.nonzero(keep)[0]
                    d_chunk = doc_ids[start:end][keep]
                    # survivor pairs, straight from each doc's qids list
                    qid_lists = [
                        np.asarray(doc_qids.iloc[start + i], dtype=np.int64)
                        for i in keep_idx
                    ]
                    pcnt = np.fromiter((len(x) for x in qid_lists),
                                       dtype=np.int64, count=len(qid_lists))
                    total = int(pcnt.sum())
                    if total == 0:
                        start = end
                        continue
                    p_qi = np.searchsorted(kqids, np.concatenate(qid_lists))
                    p_dcol = np.repeat(np.arange(len(d_chunk)), pcnt)
                    # [P, T] per-token maxima for each (query, doc) pair;
                    # pads → exact-identity 0.0 in the sorted fold
                    vals = m_t[p_dcol[:, None], kqi[p_qi]]
                    vals = np.where(kok[p_qi], vals, 0.0)
                    vals.sort(axis=1)
                    acc = np.zeros(total, dtype=np.float64)
                    for t in range(vals.shape[1]):
                        acc = acc + vals[:, t]
                    yield pd.DataFrame(
                        {"query_id": kqids[p_qi],
                         "doc_id": d_chunk[p_dcol],
                         "score": acc}
                    )
                    start = end

        return self._spread_small(packed).mapInPandas(kern, schema=schema)

    def _rerank_all_pairs(self, qt_pdf, subset: DataFrame | None) -> DataFrame:
        """Q9 for the exact configuration: every indexed doc (∩ subset) is a
        survivor of every query, so the survivor bookkeeping collapses —
        per-doc query lists are ONE literal array (the batch's query ids)
        instead of a cross-join + groupBy + two broadcasts, and the packed
        token lists come straight from the corpus. Values are identical to
        ``_rerank_broadcast`` over the all-pairs survivor set: the kernel
        receives the same (crs, qids) rows."""
        idx = self.index
        all_qids = sorted(int(x) for x in np.unique(qt_pdf["query_id"].to_numpy()))
        toks = idx.tokens
        if subset is not None:
            toks = toks.join(subset, "doc_id", "left_semi")
        packed = (
            toks.groupBy("doc_id")
            .agg(F.collect_list(F.struct("code", "residual")).alias("crs"))
            .withColumn(
                "qids",
                F.array(*[F.lit(q).cast("long") for q in all_qids]),
            )
        )
        return self._rerank_kernel_over(packed, qt_pdf)

    def _spread_small(self, df: DataFrame) -> DataFrame:
        """Round-robin a SMALL kernel input across the cluster's cores.

        Tiny corpora defeat both natural sources of kernel parallelism:
        the parquet reader bin-packs small files into one split, and AQE
        coalesces a sub-advisory-size shuffle down to one partition — so
        the doc-parallel numpy kernels end up serialized on a single
        worker, which at bench scale costs more wall than every exchange
        in the plan combined. The explicit repartition is an exchange of a
        few hundred KB (~free) and is skipped entirely once the index is
        big enough (64 MB of token cells) for scans to carry real
        parallelism — at cluster scale this is a no-op. Per-doc kernel
        outputs are partitioning-independent (doc-local folds, chunk-local
        CSE over identical per-pair inputs), so results are bit-identical
        either way."""
        meta = self.index.meta
        if meta.num_embeddings * 24 >= (64 << 20):
            return df
        sc = df.sparkSession.sparkContext
        return df.repartition(sc.defaultParallelism)

    def _chunk_funnel(self, qt_pdf, *, n_probe: int, p: "SearchParams",
                      subset: DataFrame | None,
                      eligible_mask: np.ndarray | None, probe_all: bool,
                      spread: bool = True) -> DataFrame:
        """Q1–Q10 for one chunk of whole queries: approx kernel → Q7/Q8
        cut → Q9 kernel → top-k. ``qt_pdf`` is the chunk's token pdf
        (query_id, token_idx, vec) sorted by (query_id, token_idx); both
        kernels read it driver-side, so the query side never re-plans."""
        idx = self.index
        if not len(qt_pdf):
            return idx.spark.createDataFrame([], schema=_RESULT_SCHEMA)
        cut = min(p.n_full_scores, max(p.n_full_scores // 4, p.top_k))
        if probe_all and cut >= idx.meta.num_documents:
            # Exact configuration shortcut (probe_all + survivor cut ≥
            # corpus): every candidate doc of every query survives the Q7/Q8
            # cut, so the whole approximate phase — the driver [V, K] score
            # matrix, the codes-only kernel, the rank window and the
            # survivor broadcast — is a no-op selector whose scores are
            # entirely discarded. Q9 runs directly over all (query,
            # candidate-doc) pairs: under probe_all the candidates are
            # exactly the indexed docs (∩ subset), and the per-doc query
            # lists are one literal array. Bit-identical results (the rerank
            # kernel receives the same rows); pinned by
            # test_exact_all_pairs_shortcut_matches_funnel.
            return topk(self._rerank_all_pairs(qt_pdf, subset), p.top_k)

        # Q1–Q6 in one shot: probe/prune driver-side, candidacy and approx
        # scoring in the doc-parallel kernel; chunk-local pre-prune to the
        # Q7/Q8 cut
        approx = self._approx_broadcast(
            qt_pdf, n_probe, p, subset, prune_to=cut,
            eligible_mask=eligible_mask, spread=spread,
        )
        # Q7 + Q8: approx top n_full_scores, then decompress budget n/4 —
        # at most n_queries · cut (query_id, doc_id) rows, whose per-doc
        # aggregate is the rerank's one broadcast. Not cached: the Q9
        # packing is their only consumer, so Q1-Q7 run once.
        w = Window.partitionBy("query_id").orderBy(
            F.col("approx_score").desc(), F.col("doc_id").asc()
        )
        survivors = (
            approx.withColumn("arank", F.row_number().over(w))
            .filter(F.col("arank") <= cut)
            .select("query_id", "doc_id")
        )
        # Q9 as one doc-parallel kernel, Q10 final top-k (deterministic
        # tie-break)
        return topk(self._rerank_broadcast(survivors, qt_pdf), p.top_k)

    def _query_chunks(self, query_tokens: DataFrame, qids: list, ntok: int,
                      qt_pdf=None):
        """Yield the sorted token pdf of each budget-sized chunk of whole
        queries. ``qids`` is the batch's sorted distinct query ids and
        ``ntok`` its token count; the chunk count is the batch's score
        matrix over ``broadcast_budget_bytes``, so each chunk's broadcast
        score matrix stays within the budget.

        When the caller holds the batch's whole token pdf (dim/K times
        smaller than the score matrix that forced chunking, so it usually
        fits the same budget) the chunks are slices of it: no per-chunk
        toPandas job. A sorted-pdf range slice is exactly the rows the
        range filter selects, in the same (query_id, token_idx) order."""
        n_chunks = math.ceil(ntok * self.index.meta.k * 8
                             / self.broadcast_budget_bytes)
        per = math.ceil(len(qids) / min(max(1, n_chunks), len(qids)))
        for i in range(0, len(qids), per):
            lo, hi = qids[i], qids[min(i + per, len(qids)) - 1]
            if qt_pdf is not None:
                q = qt_pdf["query_id"]
                yield qt_pdf[(q >= lo) & (q <= hi)].reset_index(drop=True)
            else:
                yield _collect_sorted(query_tokens.filter(
                    (F.col("query_id") >= lo) & (F.col("query_id") <= hi)))

    # -- the funnel ---------------------------------------------------------
    def search(
        self,
        query_tokens: DataFrame,
        *,
        subset: DataFrame | None = None,
        params: SearchParams | None = None,
    ) -> DataFrame:
        """query_tokens(query_id, token_idx, vec) [+ subset(doc_id)]
        → (query_id, doc_id, score, rank) top-k per query.

        One funnel (``_chunk_funnel``) runs over the whole batch while its
        [q_tokens, K] centroid-score matrix fits ``broadcast_budget_bytes``.
        A bigger batch is split into budget-sized chunks of whole queries,
        one funnel each, results unioned: every funnel stage (probe, t_cs
        prune, candidacy, approx score, cut, rerank, top-k) is per-query,
        so the union is bit-identical to one oversized funnel."""
        p = params or self.params
        idx = self.index

        n_probe = p.n_ivf_probe
        # exact configuration (every cell probed, t_cs off): Q4 probe
        # scaling and eligible-cell probe restriction cannot change which
        # cells are probed, so their two eager driver jobs (subset count +
        # eligible-code collect) are pure overhead — Q5's subset semi-join
        # already enforces the filter on the candidates alone
        probe_all = (p.n_ivf_probe >= idx.meta.k
                     and p.centroid_score_threshold == float("-inf"))
        if subset is not None:
            subset = subset.select(F.col("doc_id").cast("long")).distinct().cache()
            self._live_caches.append(subset)
            if not probe_all:
                # Q4: widen the probe when the filter is selective
                # (n_probe · n_docs/|subset|, capped — search.rs:370-382)
                subset_len = subset.count()
                if subset_len > 0:
                    scale = min(
                        max(1, int(idx.meta.num_documents / subset_len)),
                        p.max_probe_scale,
                    )
                    n_probe = min(p.n_ivf_probe * scale, idx.meta.k)

        eligible_mask = None
        if subset is not None and not probe_all:
            # eligible-centroid pruning under filter (search.rs:350-364):
            # only cells holding subset docs can contribute, so the probe
            # pool is restricted to them — rank probe slots among them
            # only, and cap the scaled n_probe at the eligible-cell count.
            # The collect is bounded by K — the same order as the centroid
            # matrix already held driver-side.
            eligible = np.fromiter(
                (r.code for r in idx.doc_codes.join(subset, "doc_id", "left_semi")
                 .select(F.explode("codes").alias("code")).distinct().collect()),
                dtype=np.int64,
            )
            if len(eligible) == 0:
                # filter excludes every indexed doc → empty result
                return query_tokens.sparkSession.createDataFrame(
                    [], schema=_RESULT_SCHEMA)
            eligible_mask = np.zeros(idx.meta.k, dtype=bool)
            eligible_mask[eligible] = True
            n_probe = min(n_probe, len(eligible))

        funnel = functools.partial(
            self._chunk_funnel, n_probe=n_probe, p=p, subset=subset,
            eligible_mask=eligible_mask, probe_all=probe_all,
        )
        # One funnel while the batch's score matrix fits. Decide WITHOUT a
        # separate count job: collect the token pdf under a limit of cap+1
        # rows — the pdf itself is [ntok, dim], dim ≪ K times smaller than
        # the score matrix the budget admits, so within-cap collection is
        # affordable by construction; cap+1 rows back means over budget.
        # Within the budget this collect is the query tokens' only read, so
        # they are not cached.
        cap = max(1, self.broadcast_budget_bytes // (idx.meta.k * 8))
        pdf = query_tokens.select(*_QT_COLS).limit(cap + 1).toPandas()
        if len(pdf) <= cap:
            return funnel(pdf.sort_values(
                ["query_id", "token_idx"], kind="stable"
            ).reset_index(drop=True))

        # Over budget: chunks of whole queries. The query tokens are read
        # again from here on (the split, then the whole or per-chunk
        # collects), so they are cached. One job sizes the split (n_queries
        # rows back); the whole token pdf is collected once when it fits
        # the budget, else each chunk collects its own slice.
        query_tokens = query_tokens.cache()
        self._live_caches.append(query_tokens)
        counts = query_tokens.groupBy("query_id").count().collect()
        qids = sorted(r["query_id"] for r in counts)
        ntok = sum(r["count"] for r in counts)
        whole = None
        if ntok * idx.meta.dim * 8 <= self.broadcast_budget_bytes:
            whole = _collect_sorted(query_tokens)
        # spread=False: per-chunk kernels are chunk-size, and paying the
        # round-robin exchange once per chunk measured net-NEGATIVE at sf0.1
        # (chunked4 8.3 s → 11.6 s with it; the union of chunk outputs
        # restores cross-chunk parallelism anyway)
        return functools.reduce(DataFrame.unionByName, (
            funnel(chunk, spread=False)
            for chunk in self._query_chunks(query_tokens, qids, ntok, whole)
        ))

    def search_brute(self, query_tokens: DataFrame, k: int | None = None) -> DataFrame:
        """Exact search via decompressed corpus — funnel-free oracle path
        over the *quantized* index (isolates funnel loss from codec loss)."""
        dec = decompress(self.index.tokens, self._centroids, self.index.meta.codec)
        return topk(
            maxsim_scores_relational(query_tokens, dec), k or self.params.top_k
        )
