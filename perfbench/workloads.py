"""The benchmark's workloads: closed-loop, single-client drivers of the
engine's public API over seeded inputs.

Each workload prepares its inputs and its warm state in setup, then
repeats one timed operation until the measured window has passed (at least
once). It returns its end-to-end metrics as ``{name: (value, unit,
samples)}``. ``Run`` counts operations and output checks, keeps the
human-readable notes, and records the timed windows that the trace
coverage is measured against.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import time
from dataclasses import dataclass, field

import inputs

# Sizes are fixed per workload: the seed picks the inputs, never their scale.
# Spark's per-job cost, not data volume, sets the wall here, so they are
# small: one run of either workload, JVM start included, stays under about
# a minute on a shared 4-core host.
SEARCH_MIX = {
    "n_docs": 600, "n_topics": 24, "topic_vocab": 600, "shared_vocab": 1500,
    "min_words": 20, "max_words": 90,
    "batch": 64, "self_queries": 8, "recall_queries": 8,
}
# a fixed function count per file keeps the unit count, and so the index's
# fixed overheads per token, the same for every seed
CODE_BUILD = {"n_files": 20, "fns_per_file": (5, 5), "n_packages": 4}
BUCKET_TOKENS = 32
GEN_REPEATS = 3
RECALL_FLOOR = 0.5
TOPK = 10


@dataclass
class Run:
    spark: object
    tracer: object
    tmp: str
    seed: int
    seconds: float
    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)
    windows: list[tuple[float, float]] = field(default_factory=list)
    _last: float = field(default_factory=time.perf_counter)

    def phase(self, name: str) -> None:
        """Note the wall since the previous phase mark."""
        now = time.perf_counter()
        self.notes.append(f"phase {name} {now - self._last:.2f} s")
        self._last = now

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        self.failed += not ok
        self.notes.append(f"check {name}: {'ok' if ok else 'FAILED'} {detail}".rstrip())

    def collect(self, name: str, df) -> list:
        """The benchmark's own action: run a lazy plan to completion."""
        with self.tracer.span("force", name):
            return df.collect()

    def frame(self, name: str, rows, schema: str):
        from next_plaid_spark.session import local_df

        with self.tracer.span("force", name):
            return local_df(self.spark, rows, schema)

    def path(self, name: str) -> str:
        return os.path.join(self.tmp, name)

    def window(self, kinds: dict) -> tuple[list, list, dict, dict]:
        """Closed loop: rounds of one operation per kind until ``seconds``
        have passed (at least one round). ``kinds`` maps a name to a
        callable returning its rows. Returns each round's wall and CPU
        seconds, each kind's walls and each kind's last rows."""
        round_walls, round_cpus, walls = [], [], {k: [] for k in kinds}
        rows: dict[str, list] = {}
        t0 = time.time()
        while True:
            t_round, cpu_round = time.perf_counter(), tree_cpu_s()
            for kind, fn in kinds.items():
                self.attempted += 1
                t = time.perf_counter()
                try:
                    rows[kind] = fn()
                except Exception as e:  # a failed operation counts; the loop goes on
                    self.failed += 1
                    self.notes.append(f"op {kind} FAILED: {e!r}"[:300])
                    continue
                walls[kind].append(time.perf_counter() - t)
            round_walls.append(time.perf_counter() - t_round)
            round_cpus.append(tree_cpu_s() - cpu_round)
            if time.time() - t0 >= self.seconds:
                break
        self.windows.append((t0, time.time()))
        return round_walls, round_cpus, walls, rows


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its live descendants (the
    JVM, its Python daemon and workers), each with its reaped children."""
    parent, ticks = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process has gone
            continue
        parent[int(pid)] = int(fields[1])
        ticks[int(pid)] = sum(int(x) for x in fields[11:15])  # u/s time, children's u/s
    me, total = os.getpid(), 0
    for pid, t in ticks.items():
        p = pid
        while p not in (me, 0) and p in parent:
            p = parent[p]
        total += t if p == me else 0
    return total / os.sysconf("SC_CLK_TCK")


def _timed(fn):
    t = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t


def _generate(make) -> tuple[object, float, set]:
    """Generate the inputs GEN_REPEATS times: the median wall, and the set of
    digests, which has one member when every repeat was byte-identical."""
    walls, digests = [], set()
    for _ in range(GEN_REPEATS):
        out, wall = _timed(make)
        walls.append(wall)
        digests.add(inputs.digest(out))
    return out, statistics.median(walls), digests


def _digest(rows) -> str:
    key = sorted((r["query_id"], r["doc_id"], round(r["score"], 9)) for r in rows)
    return hashlib.sha256(repr(key).encode()).hexdigest()[:16]


def _top(rows) -> dict[int, set]:
    out: dict[int, set] = {}
    for r in rows:
        out.setdefault(r["query_id"], set()).add(r["doc_id"])
    return out


def _bytes_per_token(plaid) -> float:
    """On-disk bytes of a PLAID snapshot per token, each inode counted once."""
    sizes = {}
    for root, _, names in os.walk(plaid.path):
        for name in names:
            st = os.lstat(os.path.join(root, name))
            sizes[(st.st_dev, st.st_ino)] = st.st_size
    return sum(sizes.values()) / plaid.meta.num_embeddings


# -- search_mix ----------------------------------------------------------------

def search_mix(run: Run, session_s: float) -> dict:
    """Read path. Setup builds a seeded topical corpus's PLAID index and its
    BM25 index (saved and reloaded); the timed operation is a round of one
    semantic, keyword, hybrid and filtered batch."""
    from next_plaid_spark.encoding import encode_documents, encode_queries
    from next_plaid_spark.filtering import MetadataStore
    from next_plaid_spark.operators.bm25 import BM25Index
    from next_plaid_spark.operators.fusion import hybrid_search
    from next_plaid_spark.plans.builder import IndexBuilder
    from next_plaid_spark.plans.searcher import BatchSearcher
    from next_plaid_spark.sources.index_store import PlaidIndex

    z = SEARCH_MIX

    def make():
        c = inputs.text_corpus(run.seed, n_docs=z["n_docs"], n_topics=z["n_topics"],
                               topic_vocab=z["topic_vocab"], shared_vocab=z["shared_vocab"],
                               min_words=z["min_words"], max_words=z["max_words"])
        qs = inputs.topic_queries(c, z["batch"] - z["self_queries"],
                                  topic=run.seed % z["n_topics"])
        # seeded docs' opening words, as queries that must find their doc
        picks = c.rng.choice(len(c.docs), size=z["self_queries"], replace=False)
        selves = [c.docs[int(i)] for i in picks]
        qs += [(len(qs) + i, " ".join(t.split()[:8])) for i, (_, t) in enumerate(selves)]
        return {"docs": c.docs, "meta": c.meta, "queries": qs,
                "self_docs": [d for d, _ in selves]}

    gen, gen_s, digests = _generate(make)
    run.phase("generate")
    t_setup = time.perf_counter()
    run.check("inputs_reproducible", len(digests) == 1)

    rows = [(d, t, s, y) for (d, t), (_, s, y) in zip(gen["docs"], gen["meta"])]
    corpus = run.frame("docs", rows, "doc_id long, text string, source string, year int")
    docs = corpus.select("doc_id", "text")
    meta = MetadataStore(corpus.select("doc_id", "source", "year"))
    qschema = "query_id long, text string"
    qdf = run.frame("queries", gen["queries"], qschema)
    rdf = qdf.filter(qdf.query_id < z["recall_queries"])
    run.phase("frames")

    def build():
        IndexBuilder(run.spark, bucket_tokens=BUCKET_TOKENS).build(
            encode_documents(docs), run.path("plaid"))
        BM25Index.build(docs).save(run.path("bm25"))
    _, build_s = _timed(build)
    run.phase("build")

    plaid = PlaidIndex.load(run.spark, run.path("plaid"))
    bm = BM25Index.load(run.spark, run.path("bm25"))
    searcher = BatchSearcher(plaid)
    source = inputs.SOURCES[run.seed % len(inputs.SOURCES)]
    cond = ("source = ? AND year >= ?", [source, 2015])
    setup_s = session_s + gen_s + time.perf_counter() - t_setup
    run.phase("load")

    legs: dict[str, list] = {}

    def search(name, plan, *searchers):
        rows = run.collect(name, plan)
        for s in searchers:
            s.release()
        return rows

    def semantic():
        legs["semantic"] = search("semantic", searcher.search(encode_queries(qdf)), searcher)
        return legs["semantic"]

    def keyword():
        legs["keyword"] = search("keyword", bm.search(qdf, k=TOPK))
        return legs["keyword"]

    def hybrid():
        # fuses this round's two legs
        cols = "query_id long, doc_id long, score double, rank int"
        sem = run.frame("semantic_rows", legs["semantic"], cols)
        kw = run.frame("keyword_rows", legs["keyword"], cols)
        return search("hybrid", hybrid_search(sem, kw, k=TOPK))

    def filtered():
        return search("filtered", searcher.search(
            encode_queries(qdf), subset=meta.where_condition(*cond)), searcher)

    # no untimed round first: on a shared 4-core host one cost 11-17 s a run
    # and the warm rounds spread wider than the first
    round_walls, round_cpus, walls, results = run.window({
        "semantic": semantic, "keyword": keyword, "hybrid": hybrid, "filtered": filtered})
    run.phase("timed")

    # -- output checks and input properties (untimed) -----------------------
    with run.tracer.paused():
        recall = _search_mix_checks(run, gen, plaid, bm, searcher, rdf, results, source)
    run.phase("checks")

    n = len(gen["queries"])
    for kind, ws in walls.items():
        if ws:
            run.notes.append(f"detail {kind}_qps {n * len(ws) / sum(ws):.3f} queries/s "
                             f"(n={len(ws)})")
    run.notes.append(f"detail recall_at10 {recall:.4f} fraction (n={z['recall_queries']} queries)")
    run.notes.append(f"detail build_docs_per_s {len(gen['docs']) / build_s:.3f} docs/s (n=1)")
    for kind in ("keyword", "hybrid"):
        if kind in results:
            run.notes.append(f"detail {kind}_digest {_digest(results[kind])}")
    return {
        "setup_s": (setup_s, "s", 1),
        "op_s": (statistics.median(round_walls), "s", len(round_walls)),
        "op_cpu_s": (statistics.median(round_cpus), "s", len(round_cpus)),
        "index_bytes_per_token": (_bytes_per_token(plaid), "bytes", 1),
    }


def _search_mix_checks(run: Run, gen: dict, plaid, bm, searcher, rdf, results: dict,
                       source: str) -> float:
    """Output checks of search_mix; returns recall@10."""
    from next_plaid_spark.encoding import DOC_MAX_TOKENS, encode_queries
    from next_plaid_spark.plans.searcher import SearchParams

    n_docs = len(gen["docs"])
    n_tok = sum(min(len(t.split()), DOC_MAX_TOKENS) for _, t in gen["docs"])
    run.check("snapshot_counts",
              plaid.meta.num_documents == n_docs == bm.n_docs
              and plaid.meta.num_embeddings == n_tok,
              f"docs={plaid.meta.num_documents}/{n_docs} bm25_docs={bm.n_docs} "
              f"tokens={plaid.meta.num_embeddings}/{n_tok}")
    sem_top = _top(results.get("semantic", []))
    first_self = len(gen["queries"]) - len(gen["self_docs"])
    found = sum(1 for i, d in enumerate(gen["self_docs"])
                if d in sem_top.get(first_self + i, set()))
    run.check("self_query", found == len(gen["self_docs"]),
              f"{found}/{len(gen['self_docs'])}")
    meta = {d: (s, y) for d, s, y in gen["meta"]}
    bad = [r["doc_id"] for r in results.get("filtered", [])
           if not (meta[r["doc_id"]][0] == source and meta[r["doc_id"]][1] >= 2015)]
    run.check("filtered_match_condition", "filtered" in results and not bad,
              f"{len(bad)} of {len(results.get('filtered', []))} rows outside the subset")
    legs = _top(results.get("semantic", []) + results.get("keyword", []))
    stray = [r for r in results.get("hybrid", [])
             if r["doc_id"] not in legs.get(r["query_id"], set())]
    run.check("hybrid_within_legs", "hybrid" in results and not stray,
              f"{len(stray)} fused rows in neither leg")
    exact = _top(run.collect("exact", searcher.search(
        encode_queries(rdf), params=SearchParams(
            top_k=TOPK, n_ivf_probe=plaid.meta.k, centroid_score_threshold=float("-inf"),
            n_full_scores=plaid.meta.num_documents))))
    recall = statistics.fmean(len(sem_top.get(q, set()) & ex) / len(ex)
                              for q, ex in exact.items())
    run.check("recall_floor", recall >= RECALL_FLOOR, f"recall_at10={recall:.3f}")
    run.notes.append(
        f"inputs: docs={n_docs} tokens={n_tok} expected_k={inputs.expected_k(n_tok)} "
        f"k={plaid.meta.k} query_doc_share={inputs.query_term_coverage(gen['docs'], gen['queries']):.4f}")
    return recall


# -- code_build ----------------------------------------------------------------

def code_build(run: Run, session_s: float) -> dict:
    """The colgrep index lifecycle's build: setup generates a seeded Python
    tree and its input frame; the timed operation is one ``CodeIndex.build``
    (parse, call graph, embed text, PLAID and BM25 builds) into a fresh
    directory. The first build of a process pays the JIT and the Python
    workers' start, as a user's first build does; a warm-up build cost more
    wall than it took out of the spread."""
    from next_plaid_spark.operators.code_index import CodeIndex

    z = CODE_BUILD

    def make():
        t = inputs.code_tree(run.seed, n_files=z["n_files"],
                             fns_per_file=z["fns_per_file"], n_packages=z["n_packages"])
        return {"files": t.snapshot(),
                "functions": sorted(s["name"] for specs in t.files.values() for s in specs)}

    gen, gen_s, digests = _generate(make)
    run.phase("generate")
    t_setup = time.perf_counter()
    run.check("inputs_reproducible", len(digests) == 1)
    files = run.frame("files", gen["files"], "path string, content string")
    setup_s = session_s + gen_s + time.perf_counter() - t_setup
    run.phase("frames")

    built: list = []

    def build():
        built.append(CodeIndex.build(files, run.path(f"code{len(built)}"),
                                     bucket_tokens=BUCKET_TOKENS))
    walls, cpus, _, _ = run.window({"build": build})
    run.phase("timed")

    # -- output checks (untimed) --------------------------------------------
    ci = built[-1]
    n_units = ci.plaid.meta.num_documents
    with run.tracer.paused():
        names = sorted(r["name"] for r in run.collect("unit_names", ci.units.select("name")))
    run.check("units_are_functions", names == gen["functions"],
              f"{len(names)} units, {len(gen['functions'])} functions")
    run.check("unit_count", n_units == len(names), f"plaid={n_units} units={len(names)}")
    run.notes.append(
        f"inputs: files={len(gen['files'])} functions={len(gen['functions'])} "
        f"tokens={ci.plaid.meta.num_embeddings} k={ci.plaid.meta.k} builds={len(built)}")
    run.phase("checks")

    run.notes.append(f"detail build_docs_per_s {n_units / statistics.median(walls):.3f} "
                     f"docs/s (n={len(walls)})")
    return {
        "setup_s": (setup_s, "s", 1),
        "op_s": (statistics.median(walls), "s", len(walls)),
        "op_cpu_s": (statistics.median(cpus), "s", len(cpus)),
        "index_bytes_per_token": (_bytes_per_token(ci.plaid), "bytes", 1),
    }


WORKLOADS = {"search_mix": search_mix, "code_build": code_build}
