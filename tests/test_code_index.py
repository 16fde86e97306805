"""Prebuilt CodeIndex: build/load, funnel + brute search, incremental update.

Covers the reference's persisted-index lifecycle (colgrep/src/index/mod.rs:
363-423 build, :4115-4124 search-from-index, :1615-1750 auto-update): build
once, serve many queries through the PLAID funnel, re-index only changed
files on update.
"""

from __future__ import annotations

import contextlib

import pytest
from pyspark.sql import functions as F

from next_plaid_spark.operators.code_index import CodeIndex, file_state

FILES_SCHEMA = "path string, content string"

_V1 = [
    ("src/config.py", '''\
import json

DEFAULT_PATH = "/etc/app.json"


def parse_config(path):
    """Parse the configuration file into a dict."""
    data = open(path).read()
    return json.loads(data)


def write_config(cfg, path):
    """Serialize configuration to disk."""
    text = json.dumps(cfg)
    open(path, "w").write(text)
'''),
    ("src/http/client.py", '''\
class HttpClient:
    """Async http client with retries."""

    def request(self, url):
        """Issue one request."""
        return self.transport.send(url)

    def close(self):
        self.transport.shutdown()
'''),
    ("src/http/retry.py", '''\
def retry_request(fn, attempts):
    """Retry helper with exponential backoff."""
    for i in range(attempts):
        fn()


def backoff_delay(attempt):
    """Delay in seconds before the next retry."""
    return 2 ** attempt
'''),
    ("src/cache.py", '''\
class LruCache:
    """Bounded LRU cache for parsed configs."""

    def get(self, key):
        return self.entries.get(key)

    def put(self, key, value):
        self.entries[key] = value
        self.evict_oldest()

    def evict_oldest(self):
        """Drop the least recently used entry."""
        self.entries.popitem(last=False)
'''),
    ("tests/test_config.py", '''\
def test_parse():
    parse_config("x")


def test_write():
    write_config({}, "y")
'''),
]

# v2: one file modified (config.py gains a unit), one added, one removed
_V2 = [
    ("src/config.py", '''\
import json

DEFAULT_PATH = "/etc/app.json"


def parse_config(path):
    """Parse the configuration file into a dict."""
    data = open(path).read()
    return json.loads(data)


def write_config(cfg, path):
    """Serialize configuration to disk."""
    text = json.dumps(cfg)
    open(path, "w").write(text)


def validate_config(cfg):
    """Check required keys are present."""
    return "host" in cfg
'''),
    ("src/http/client.py", _V1[1][1]),
    ("src/http/retry.py", _V1[2][1]),
    ("src/cache.py", _V1[3][1]),
    ("src/metrics.py", '''\
def emit_counter(name, value):
    """Emit one counter metric sample."""
    backend.write(name, value)
'''),
]


@pytest.fixture(scope="module")
def files_v1(spark):
    return spark.createDataFrame(_V1, FILES_SCHEMA).cache()


@pytest.fixture(scope="module")
def files_v2(spark):
    return spark.createDataFrame(_V2, FILES_SCHEMA).cache()


@pytest.fixture(scope="module")
def idx(spark, files_v1, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("code_index") / "v1")
    return CodeIndex.build(files_v1, path)


def test_build_persists_and_loads(spark, idx, files_v1):
    n_units = idx.units.count()
    assert n_units > 5
    re = CodeIndex.load(spark, idx.path)
    assert re.units.count() == n_units
    assert re.plaid.meta.num_documents == n_units
    assert re.bm25.n_docs == n_units
    # file state matches the build input
    assert re.files.count() == files_v1.count()


def test_brute_matches_search_code(spark, idx, files_v1):
    """The index-free pipeline and the prebuilt index agree exactly in
    brute mode on an unfiltered query (same ids, same scores)."""
    from next_plaid_spark.operators.code_parse import (
        build_call_graph,
        parse_code_units,
        with_unit_ids,
    )
    from next_plaid_spark.operators.colgrep import search_code

    units = with_unit_ids(build_call_graph(parse_code_units(files_v1)))
    q = "parse configuration file"
    a = sorted(search_code(units, q, top_k=5).collect())
    b = sorted(idx.search(q, top_k=5, semantic="brute").collect())
    assert a == b


def test_funnel_exact_equals_decompressed_brute(spark, idx):
    """Exact-funnel semantic leg ≡ brute MaxSim over the DECOMPRESSED
    index (B7 output) — the provable hash-gateable configuration."""
    from next_plaid_spark.encoding import encode_queries
    from next_plaid_spark.operators.codec import decompress
    from next_plaid_spark.operators.maxsim import brute_force_search
    from next_plaid_spark.plans.searcher import BatchSearcher

    qdf = spark.createDataFrame(
        [(0, "retry request with backoff")], "query_id long, text string")
    qt = encode_queries(qdf, dim=idx.meta["dim"],
                        max_tokens=idx.meta["query_max_tokens"]).cache()
    k = 8
    funnel = BatchSearcher(idx.plaid).search(
        qt, params=idx.exact_search_params(k)
    ).select("query_id", "doc_id", "score").collect()
    dec = decompress(
        idx.plaid.tokens.select("doc_id", "token_idx", "code", "residual"),
        idx.plaid.centroids_np(), idx.plaid.meta.codec,
    ).select("doc_id", "token_idx", "vec")
    brute = brute_force_search(qt, dec, k=k).select(
        "query_id", "doc_id", "score").collect()
    assert sorted(funnel) == sorted(brute)


def test_funnel_search_relevant_and_filtered(spark, idx):
    out = idx.search("parse configuration file", top_k=3,
                     params=idx.exact_search_params(200)).collect()
    assert out and out[0].file == "src/config.py"
    # F10 include glob keeps only the http tree
    out = idx.search("http retry", include_glob="src/http/*", top_k=5,
                     collapse=False,
                     params=idx.exact_search_params(200)).collect()
    assert out
    assert all(r.file.startswith("src/http/") for r in out)
    # F11 regex prefilter (matches only backoff_delay's body)
    out = idx.search("retry", regex=r"2 \*\* attempt", top_k=5,
                     collapse=False,
                     params=idx.exact_search_params(200)).collect()
    assert [r.name for r in out] == ["backoff_delay"]


def test_funnel_exact_all_excluding_subset_empty(spark, idx):
    """Subset that excludes every indexed doc under the exact
    configuration (probe_all skips the eligible-cell early return): the
    empty restricted IVF must drain to an empty result with the stable
    funnel schema — both at the searcher and through CodeIndex.search."""
    from next_plaid_spark.encoding import encode_queries
    from next_plaid_spark.plans.searcher import BatchSearcher

    qdf = spark.createDataFrame(
        [(0, "retry request")], "query_id long, text string")
    qt = encode_queries(qdf, dim=idx.meta["dim"],
                        max_tokens=idx.meta["query_max_tokens"])
    for subset in (
        spark.createDataFrame([], "doc_id long"),          # empty subset
        spark.createDataFrame([(-7,)], "doc_id long"),     # no indexed doc
    ):
        res = BatchSearcher(idx.plaid).search(
            qt, subset=subset, params=idx.exact_search_params(5))
        assert res.columns == ["query_id", "doc_id", "score", "rank"]
        assert res.count() == 0
    # end-to-end: an all-excluding F10 glob yields an empty ranked result
    out = idx.search("retry request", include_glob="no_such_dir/*",
                     top_k=5, params=idx.exact_search_params(200))
    assert out.count() == 0


def test_search_batch_equals_single(spark, idx):
    """Q11 over the code index: search_batch(queries) row-for-row equals
    the single-query search() for every query in the batch — including a
    wants-test query (R1 waiver branch) and a novel-identifier query
    (one-sided fusion degradation) — at the serving configuration, and
    under an F10 glob subset."""
    from next_plaid_spark.plans.searcher import SearchParams

    serving = SearchParams(n_ivf_probe=8, centroid_score_threshold=0.4,
                           n_full_scores=256, keep_best_cell=True)
    qtexts = ["parse configuration file",
              "http retry backoff",
              "test config parsing",          # R1 wants-test waiver
              "zqxgl frobnicate quux"]        # novel identifiers
    qdf = spark.createDataFrame(
        list(enumerate(qtexts)), "query_id long, text string")

    def rows(df, qid=None):
        return sorted(
            (r.unit_id, r.file, r.name, r.line, r.end_line, r.score, r.rank)
            for r in df if qid is None or r.query_id == qid)

    batch = idx.search_batch(qdf, top_k=5, params=serving).collect()
    for i, qt in enumerate(qtexts):
        single = idx.search(qt, top_k=5, params=serving).collect()
        assert rows(batch, i) == rows(single), f"query {i}: {qt!r}"

    # filtered batch ≡ filtered single
    fb = idx.search_batch(qdf.filter("query_id < 2"), top_k=5,
                          include_glob="src/http/*", params=serving).collect()
    for i in (0, 1):
        fs = idx.search(qtexts[i], top_k=5, include_glob="src/http/*",
                        params=serving).collect()
        assert rows(fb, i) == rows(fs)


def test_update_rebuild_equals_fresh_build(spark, idx, files_v2,
                                           tmp_path_factory):
    """Small corpus (≤ rebuild_threshold) update == fresh build on the new
    tree, bit-identical: same unit ids, same tokens, same search results."""
    base = tmp_path_factory.mktemp("code_index_upd")
    upd = idx.update(files_v2, str(base / "v2_upd"))
    fresh = CodeIndex.build(files_v2, str(base / "v2_fresh"))

    cols = ["unit_id", "file", "name", "line", "embed_text"]
    assert sorted(upd.units.select(*cols).collect()) == \
        sorted(fresh.units.select(*cols).collect())
    assert sorted(upd.plaid.tokens.select(
        "doc_id", "token_idx", "code", "residual").collect()) == \
        sorted(fresh.plaid.tokens.select(
            "doc_id", "token_idx", "code", "residual").collect())
    q = "validate required config keys"
    a = sorted(upd.search(q, top_k=5,
                          params=upd.exact_search_params(200)).collect())
    b = sorted(fresh.search(q, top_k=5,
                            params=fresh.exact_search_params(200)).collect())
    assert a == b
    # the new unit is findable
    assert any(r.name == "validate_config" for r in a)
    # the removed file is gone
    assert upd.units.filter(
        F.col("file") == "tests/test_config.py").count() == 0


def test_update_incremental_path(spark, idx, files_v2, tmp_path_factory):
    """rebuild_threshold=0 forces the incremental path: unchanged files'
    units keep their unit_id and their PLAID rows verbatim; changed + new
    units are re-encoded; removed units leave every store."""
    out = str(tmp_path_factory.mktemp("code_index_inc") / "v2_inc")
    upd = idx.update(files_v2, out, rebuild_threshold=0)

    old_units = idx.units
    unchanged_files = ["src/http/client.py", "src/http/retry.py",
                       "src/cache.py"]
    surv = old_units.filter(F.col("file").isin(unchanged_files))
    surv_new = upd.units.filter(F.col("file").isin(unchanged_files))
    key = ["unit_id", "file", "name", "line"]
    assert sorted(surv.select(*key).collect()) == \
        sorted(surv_new.select(*key).collect())

    # unchanged units' PLAID token rows are byte-identical (never re-encoded)
    surv_ids = [r.unit_id for r in surv.select("unit_id").collect()]
    tok_cols = ["doc_id", "token_idx", "code", "residual"]
    old_tok = idx.plaid.tokens.filter(
        F.col("doc_id").isin(surv_ids)).select(*tok_cols)
    new_tok = upd.plaid.tokens.filter(
        F.col("doc_id").isin(surv_ids)).select(*tok_cols)
    assert sorted(old_tok.collect()) == sorted(new_tok.collect())

    # removed file's units are gone from every store
    gone_ids = [r.unit_id for r in old_units.filter(
        F.col("file") == "tests/test_config.py").select("unit_id").collect()]
    assert gone_ids
    assert upd.plaid.doclens.filter(F.col("doc_id").isin(gone_ids)).count() == 0
    assert upd.bm25.doclens.filter(F.col("doc_id").isin(gone_ids)).count() == 0
    assert upd.units.filter(F.col("unit_id").isin(gone_ids)).count() == 0

    # consistency: every store agrees on the corpus
    n = upd.units.count()
    assert upd.plaid.meta.num_documents == n
    assert upd.bm25.n_docs == n

    # the new unit in the added file is searchable through the funnel
    res = upd.search("emit counter metric sample", top_k=3,
                     params=upd.exact_search_params(200)).collect()
    assert res and res[0].name == "emit_counter"


def test_update_rewrites_only_dirty_unit_buckets(spark, idx, files_v2,
                                                 tmp_path_factory):
    """units/ is file-hash-bucketed: an incremental update Spark-writes
    only the buckets owning changed files (+ call-graph ripple); every
    clean bucket's parquet files are HARDLINKED from the old snapshot —
    O(changed-buckets) write, verified by inode identity."""
    import os

    from next_plaid_spark.operators.code_index import (
        UNITS_BUCKETS,
        _units_bucket,
    )

    out = str(tmp_path_factory.mktemp("code_index_delta") / "v2_delta")
    upd = idx.update(files_v2, out, rebuild_threshold=0)

    # expected dirty: modified/added/removed files, plus config.py's
    # call-graph ripple (the removed test file called its functions)
    dirty_files = ["src/config.py", "src/metrics.py", "tests/test_config.py"]
    dirty = {r.ub for r in spark.createDataFrame(
        [(f,) for f in dirty_files], "f string").select(
        _units_bucket(F.col("f")).alias("ub")).collect()}

    old_dir = os.path.join(idx.path, "units")
    new_dir = os.path.join(upd.path, "units")
    clean_seen = 0
    for d in sorted(os.listdir(new_dir)):
        if not d.startswith("ub="):
            continue
        b = int(d.split("=", 1)[1])
        if b in dirty or not os.path.isdir(os.path.join(old_dir, d)):
            continue
        clean_seen += 1
        for fn in os.listdir(os.path.join(new_dir, d)):
            if fn.startswith("_"):
                continue
            assert os.path.samefile(os.path.join(new_dir, d, fn),
                                    os.path.join(old_dir, d, fn)), \
                f"clean bucket {d} was rewritten, not linked"
    # the 3 unchanged files must land in ≥1 clean (linked) bucket unless
    # every one hash-collides with a dirty file (32 buckets, 5 files —
    # sanity-check the fixture keeps at least one clean)
    assert clean_seen >= 1
    assert 0 < len(dirty) < UNITS_BUCKETS

    # and the delta-written table still equals a fresh parse of v2
    fresh = CodeIndex.build(files_v2, str(
        tmp_path_factory.mktemp("code_index_delta_f") / "v2_fresh"))
    cols = ["file", "name", "line", "embed_text", "called_by"]
    assert sorted(upd.units.select(*cols).collect()) == \
        sorted(fresh.units.select(*cols).collect())


def test_file_state_change_detection(spark, files_v1, files_v2):
    from next_plaid_spark.operators.colgrep import detect_changes

    ch = {r.path: r.change for r in detect_changes(
        file_state(files_v1), file_state(files_v2)).collect()}
    assert ch == {"src/config.py": "modified", "src/metrics.py": "added",
                  "tests/test_config.py": "removed"}


def test_update_rebuild_preserves_bucketed_layout(spark, files_v1, files_v2,
                                                  tmp_path_factory,
                                                  bucket_cap_binds):
    """An update()-triggered full rebuild keeps the bucket cap the code
    index was built with, and its search results equal a fresh build's
    at the default bucket cap (results do not depend on it)."""
    base = tmp_path_factory.mktemp("code_index_layout")
    idx_b = CodeIndex.build(files_v1, str(base / "v1"), bucket_tokens=8)
    assert idx_b.plaid.meta.n_buckets == 8
    assert idx_b.meta["bucket_tokens"] == 8

    upd = idx_b.update(files_v2, str(base / "v2"))
    assert upd.plaid.meta.n_buckets == 8, "rebuild changed the bucket count"
    assert upd.meta["bucket_tokens"] == 8

    fresh = CodeIndex.build(files_v2, str(base / "v2_fresh"))
    q = "validate required config keys"
    a = sorted(upd.search(q, top_k=5,
                          params=upd.exact_search_params(200)).collect())
    b = sorted(fresh.search(q, top_k=5,
                            params=fresh.exact_search_params(200)).collect())
    assert a == b


def test_no_writer_stores_an_inverted_file(spark, idx, files_v2,
                                           tmp_path_factory):
    """Candidacy filters doc_stats.codes, so no snapshot writer stores an
    ``ivf/`` table: not the build, an append, a delete, nor a code-index
    update."""
    import os

    from next_plaid_spark.encoding import clustered_token_corpus
    from next_plaid_spark.operators.update import (
        delete_from_index,
        update_index_delta,
    )
    from next_plaid_spark.plans.builder import IndexBuilder

    base = tmp_path_factory.mktemp("no_ivf")
    toks, _ = clustered_token_corpus(
        spark, n_docs=60, tokens_per_doc=3, dim=8, n_clusters=8, seed=5)
    built = IndexBuilder(spark, k=8, bucket_tokens=4).build(
        toks.filter(F.col("doc_id") < 50), str(base / "built"))
    appended = update_index_delta(
        spark, built, None, toks.filter(F.col("doc_id") >= 50),
        str(base / "appended"))
    deleted = delete_from_index(spark, appended, [0, 1], str(base / "deleted"))
    code = idx.update(files_v2, str(base / "code"), rebuild_threshold=0)

    for snap in (built.path, appended.path, deleted.path, code.path):
        dirs = [d for _, ds, _ in os.walk(snap) for d in ds]
        assert "ivf" not in dirs, snap
        assert "doc_stats" in dirs, snap


def test_update_rejects_flat_units_snapshot(spark, idx, files_v2,
                                            tmp_path_factory):
    """A snapshot whose units/ predates the file-hash-bucketed layout has
    one format no writer produces: an incremental update asks for a
    rebuild instead of upgrading it."""
    import shutil

    base = tmp_path_factory.mktemp("flat_units")
    old = str(base / "old")
    shutil.copytree(idx.path, old)
    shutil.rmtree(f"{old}/units")
    idx.units.write.parquet(f"{old}/units")
    flat = CodeIndex.load(spark, old)
    with pytest.raises(ValueError, match="rebuild"):
        flat.update(files_v2, str(base / "new"), rebuild_threshold=0)


@contextlib.contextmanager
def _session_state_kept(spark):
    """Assert the block leaves no RDD persisted that was not persisted
    before it, and the calling thread's job description as it found it (a
    caller's own description included). The check compares RDD ids, not
    the count: the context cleaner may drop an earlier test's unreachable
    RDD while the block runs."""
    sc = spark.sparkContext

    def persisted():
        return set(sc._jsc.getPersistentRDDs().keys())

    sc.setJobDescription("caller")
    try:
        before = persisted()
        yield
        assert persisted() - before == set()
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setJobDescription(None)


def test_update_rebuild_releases_caches(spark, idx, files_v2,
                                        tmp_path_factory):
    """The small-corpus rebuild branch of update releases what it cached
    (the new file state, the change set, the merged parse, and the
    build's own caches) and restores the caller's job description."""
    out = str(tmp_path_factory.mktemp("ci_rebuild_caches") / "v2")
    with _session_state_kept(spark):
        upd = idx.update(files_v2, out)
    assert upd.plaid.meta.num_documents == upd.units.count()


def test_build_writes_one_file_per_units_bucket(spark, idx):
    """Each ``units/ub=*`` dir of a build holds one file, and the PLAID
    snapshot's doc_stats is sized by its rows (one file below
    ``ROWS_PER_FILE`` docs), not by the token bucket count."""
    import glob
    import os

    from next_plaid_spark.sources import tiered

    def data_files(d):
        return [f for f in os.listdir(d) if not f.startswith(("_", "."))]

    ub_dirs = glob.glob(os.path.join(idx.path, "units", "ub=*"))
    assert ub_dirs
    assert all(len(data_files(d)) == 1 for d in ub_dirs)
    n_docs = idx.plaid.meta.num_documents
    assert len(data_files(os.path.join(idx.path, "plaid", "doc_stats"))) == \
        max(1, n_docs // tiered.ROWS_PER_FILE)


@pytest.fixture(scope="module")
def clean_v2(spark, idx, files_v2, tmp_path_factory):
    """An uncrashed incremental update of ``idx`` to the v2 tree."""
    out = str(tmp_path_factory.mktemp("ci_clean") / "v2")
    return idx.update(files_v2, out, rebuild_threshold=0)


@pytest.mark.parametrize("crash_at", ["units_write", "bm25_leg", "marker"])
def test_update_crash_keeps_old_snapshot(spark, idx, files_v2, clean_v2,
                                         tmp_path_factory, monkeypatch,
                                         crash_at):
    """A crash inside CodeIndex.update — in its ``units/`` write (after
    the dirty buckets are written, while the clean ones are being linked
    forward), in the BM25 leg, or at the code index's own commit marker
    after both legs finished — leaves no ``<out>/meta.json``; the old
    snapshot still loads and serves the same rows, and a retry into a
    fresh dir equals an uncrashed update. The failed call releases every
    frame it cached and restores the caller's job description."""
    import os

    from next_plaid_spark.operators.bm25 import BM25Index
    from next_plaid_spark.sources import tiered

    qdf = spark.createDataFrame(
        [(0, "parse configuration file"), (1, "http retry backoff")],
        "query_id long, text string")

    def rows(ci):
        return sorted(map(tuple, ci.search_batch(
            qdf, top_k=5, params=ci.exact_search_params(200)).collect()))

    want_old = rows(CodeIndex.load(spark, idx.path))
    base = tmp_path_factory.mktemp(f"ci_crash_{crash_at}")
    out = str(base / "crashed")

    def crash(*_a, **_k):
        raise RuntimeError("injected crash")

    if crash_at == "units_write":
        real_carry = tiered.carry

        def carry(paths, dst_dir):
            if dst_dir.startswith(os.path.join(out, "units")):
                crash()
            real_carry(paths, dst_dir)

        monkeypatch.setattr(tiered, "carry", carry)
    elif crash_at == "bm25_leg":
        monkeypatch.setattr(BM25Index, "save_delta", crash)
    else:
        real = tiered.write_marker

        def marker(path, text):
            if path == os.path.join(out, "meta.json"):
                crash()
            real(path, text)

        monkeypatch.setattr(tiered, "write_marker", marker)
    with _session_state_kept(spark):
        with pytest.raises(RuntimeError, match="injected crash"):
            idx.update(files_v2, out, rebuild_threshold=0)
    monkeypatch.undo()

    assert not os.path.exists(os.path.join(out, "meta.json"))
    if crash_at == "units_write":
        # the crash hit mid-write: dirty buckets written, clean ones not
        assert os.path.isdir(os.path.join(out, "units"))
        assert not os.path.exists(os.path.join(out, "plaid"))
    assert rows(CodeIndex.load(spark, idx.path)) == want_old

    got = idx.update(files_v2, str(base / "retry"), rebuild_threshold=0)
    assert sorted(got.units.collect()) == sorted(clean_v2.units.collect())
    assert rows(got) == rows(clean_v2)


def test_build_and_search_run_in_the_callers_job_group(spark, files_v1,
                                                       tmp_path_factory):
    """Every job of a ``CodeIndex.build`` and of a search on it — those of
    the concurrent PLAID/BM25 legs and of their nested writers included —
    carries the job group the caller set, so none lands ungrouped."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("ci-caller", "caller's group")
    try:
        ci = CodeIndex.build(files_v1, str(
            tmp_path_factory.mktemp("ci_group") / "v1"))
        ci.search("parse configuration file", top_k=3).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    assert set(tracker.getJobIdsForGroup(None)) - before == set()
    assert tracker.getJobIdsForGroup("ci-caller")
