"""Streaming corpus curation (streaming/curation.py): stream ≡ batch over
planted duplicates (within and across micro-batches), contamination against
a static eval set, and the quality gate."""

import os

import pytest
from pyspark.sql import functions as F

from next_plaid_spark.operators.corpus import eval_shingle_set
from next_plaid_spark.streaming.curation import StreamingCurator, curate_batch
from tests.conftest import spark  # noqa: F401

SCHEMA = "doc_id long, text string, source string"

EVAL = [(900, "leak alpha beta gamma delta", "eval")]
# doc 4 duplicates doc 1 (cross-batch); doc 3 duplicates doc 2 (in-batch);
# doc 5 is ≥50% contaminated by the eval text; doc 6 is clean.
BATCH1 = [
    (1, "the quick brown fox jumps over dogs", "web"),
    (2, "spark shuffles and broadcast joins win", "web"),
    (3, "spark shuffles and broadcast joins win", "web"),
]
BATCH2 = [
    (4, "the quick brown fox jumps over dogs", "web"),
    (5, "leak alpha beta gamma delta extra", "web"),
    (6, "completely unrelated clean document here", "web"),
]


def _run_stream(spark, tmp, batches, **kw):
    src = str(tmp / "in")
    os.makedirs(src)
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(
            f"{src}/part{i}"
        )
    cur = StreamingCurator(
        spark, str(tmp / "root"),
        eval_docs=spark.createDataFrame(EVAL, SCHEMA), **kw,
    )
    stream = (
        spark.readStream.schema(
            spark.createDataFrame(BATCH1, SCHEMA).schema
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/part*")
    )
    q = cur.attach(stream, str(tmp / "ck"))
    q.awaitTermination(300)
    return cur


def test_stream_matches_batch(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("cur1")
    cur = _run_stream(spark, tmp, [BATCH1, BATCH2], max_contamination=0.5)
    kept_stream = sorted(r.doc_id for r in cur.kept().collect())

    all_docs = spark.createDataFrame(BATCH1 + BATCH2, SCHEMA)
    ev = eval_shingle_set(spark.createDataFrame(EVAL, SCHEMA), n=3)
    kept_batch = sorted(
        r.doc_id
        for r in curate_batch(all_docs, ev, max_contamination=0.5).collect()
    )
    # dups 3 (in-batch) and 4 (cross-batch) dropped; 5 contaminated; 1,2,6 kept
    assert kept_stream == kept_batch == [1, 2, 6]


def test_ledger_dedups_across_batches(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("cur2")
    cur = _run_stream(spark, tmp, [BATCH1, BATCH2], max_contamination=0.5)
    from next_plaid_spark.streaming.curation import _read_batches
    ledger = _read_batches(spark, os.path.join(str(tmp / "root"), "fp_ledger"))
    # one fp per kept doc, all distinct even though doc 4's fp was attempted
    # again in batch 2
    fps = [r.fp for r in ledger.collect()]
    assert len(fps) == len(set(fps)) == 3


def test_quality_gate(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("cur3")
    # doc 7's quality (pure punctuation noise) is far below doc 6's prose
    noisy = [(7, "!!! ??? ;;; ::: ...", "web")]
    cur = _run_stream(
        spark, tmp, [BATCH2[2:] + noisy], max_contamination=0.5,
        min_quality=0.5,
    )
    assert sorted(r.doc_id for r in cur.kept().collect()) == [6]


def test_contamination_precomputed_equals_direct(spark):
    ev_docs = spark.createDataFrame(EVAL, SCHEMA)
    tr = spark.createDataFrame(BATCH2, SCHEMA)
    from next_plaid_spark.operators.corpus import contamination

    direct = contamination(tr, ev_docs, n=3)
    pre = contamination(tr, n=3, eval_shingles=eval_shingle_set(ev_docs, n=3))
    a = sorted(map(tuple, direct.collect()))
    b = sorted(map(tuple, pre.collect()))
    assert a == b


def test_second_curator_reuses_persisted_eval_set(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("cur4")
    _run_stream(spark, tmp, [BATCH1], max_contamination=0.5)
    # re-open over the same root WITHOUT eval_docs: shingle set is on disk
    cur2 = StreamingCurator(spark, str(tmp / "root"))
    assert cur2.kept().count() == 2  # docs 1, 2
    df = spark.createDataFrame([(5, "leak alpha beta gamma delta extra", "w")], SCHEMA)
    cur2.process_batch(df, 99)
    assert sorted(r.doc_id for r in cur2.kept().collect()) == [1, 2]


# ---------------------------------------------------------------------------
# StreamingSemanticDedup (embedding near-dup gate with LSH bucket ledger)
# ---------------------------------------------------------------------------

EMB_SCHEMA = "vec_id long, embedding array<float>"


def _unit(v):
    import math
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


def _emb_batches():
    import math
    a = _unit([1.0, 0.2, 0.0, 0.1])
    a_dup = _unit([1.0, 0.2, 0.001, 0.1])    # ~a (cos > 0.999)
    b = _unit([0.0, 1.0, 0.3, 0.0])
    b_dup = _unit([0.001, 1.0, 0.3, 0.0])    # ~b
    c = _unit([0.0, 0.0, 1.0, 0.0])          # isolated
    chain_mid = _unit([1.0, 0.21, 0.0, 0.1])  # ~a and ~a_dup (chain)
    return (
        [(1, a), (2, a_dup), (3, b)],         # in-batch dup: 2~1
        [(4, b_dup), (5, c), (6, chain_mid)], # cross-batch: 4~3, 6~1(kept)
    )


def test_semantic_dedup_stream_matches_batch(spark, tmp_path_factory):
    from next_plaid_spark.streaming.curation import (
        StreamingSemanticDedup, semantic_dedup_batch)

    tmp = tmp_path_factory.mktemp("semstream")
    b1, b2 = _emb_batches()
    src = str(tmp / "in")
    os.makedirs(src)
    for i, rows in enumerate((b1, b2)):
        spark.createDataFrame(rows, EMB_SCHEMA).coalesce(1).write.parquet(
            f"{src}/part{i}")
    dd = StreamingSemanticDedup(spark, str(tmp / "root"),
                                threshold=0.999, dim=4)
    stream = (
        spark.readStream.schema(spark.createDataFrame(b1, EMB_SCHEMA).schema)
        .option("maxFilesPerTrigger", "1").parquet(f"{src}/part*")
    )
    q = dd.attach(stream, str(tmp / "ck"))
    q.awaitTermination(300)
    kept_stream = sorted(r.vec_id for r in dd.kept().collect())

    all_emb = spark.createDataFrame(b1 + b2, EMB_SCHEMA)
    kept_batch = sorted(
        r.vec_id for r in semantic_dedup_batch(
            all_emb, threshold=0.999, dim=4,
            n_tables=dd.n_tables, n_bits=dd.n_bits).collect())
    # 2 dup of kept 1; 4 dup of kept 3; 6 dup of kept 1 (cross-batch);
    # 5 isolated
    assert kept_stream == kept_batch == [1, 3, 5]


def test_greedy_keep_chain_semantics(spark):
    """a~b, b~c, a≁c keeps {a, c} — per-pair marking would keep only {a}."""
    from next_plaid_spark.streaming.curation import _greedy_keep

    kept = _greedy_keep({1, 2, 3}, [(1, 2), (2, 3)], blocked=set())
    assert kept == {1, 3}
    # a blocked head un-blocks nothing downstream: 1 blocked → 2 kept → 3 dropped
    kept = _greedy_keep({1, 2, 3}, [(1, 2), (2, 3)], blocked={1})
    assert kept == {2}


DOC_SCHEMA = "doc_id long, text string"


def test_text_dedup_stream_matches_batch(spark, tmp_path_factory):
    from next_plaid_spark.streaming.curation import (
        StreamingTextDedup, text_dedup_batch)

    tmp = tmp_path_factory.mktemp("txtstream")
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    other = "one two three four five six seven eight nine ten eleven twelve"
    b1 = [(1, base),
          (2, base + " extra"),                 # near-dup of kept 1 (intra)
          (3, other)]
    b2 = [(4, base),                            # cross-batch dup of kept 1
          (5, "totally fresh words appear here nothing repeats at all"),
          (6, other + " more")]                 # cross-batch near-dup of 3
    src = str(tmp / "in")
    os.makedirs(src)
    for i, rows in enumerate((b1, b2)):
        spark.createDataFrame(rows, DOC_SCHEMA).coalesce(1).write.parquet(
            f"{src}/part{i}")
    dd = StreamingTextDedup(spark, str(tmp / "root"), threshold=0.5)
    stream = (
        spark.readStream.schema(spark.createDataFrame(b1, DOC_SCHEMA).schema)
        .option("maxFilesPerTrigger", "1").parquet(f"{src}/part*")
    )
    q = dd.attach(stream, str(tmp / "ck"))
    q.awaitTermination(300)
    kept_stream = sorted(r.doc_id for r in dd.kept().collect())

    all_docs = spark.createDataFrame(b1 + b2, DOC_SCHEMA)
    kept_batch = sorted(
        r.doc_id for r in text_dedup_batch(all_docs, threshold=0.5).collect())
    assert kept_stream == kept_batch == [1, 3, 5]


def test_trained_quality_model_gate_stream_matches_batch(spark,
                                                         tmp_path_factory):
    """The CCNet-style trained classifier as a curation gate: the Pareto
    keep decision is a pure function of (text, seed), so the streamed
    kept set must equal the batch kept set exactly."""
    from next_plaid_spark.operators.quality_model import (
        train_quality_classifier,
    )

    good = spark.createDataFrame(
        [(i, "clean prose about science history literature", "seed")
         for i in range(40)], SCHEMA)
    bad = spark.createDataFrame(
        [(i + 100, "click buy spam casino winner free jackpot", "crawl")
         for i in range(40)], SCHEMA)
    model = train_quality_classifier(good, bad, n_features=1 << 10,
                                     max_iter=10)

    mixed1 = [(1, "clean prose about science and history", "web"),
              (2, "spam casino click winner free now", "web")]
    mixed2 = [(6, "literature and science history prose", "web"),
              (7, "buy jackpot spam casino free", "web")]
    tmp = tmp_path_factory.mktemp("cur_qm")
    cur = _run_stream(spark, tmp, [mixed1, mixed2],
                      max_contamination=0.5, quality_model=model)
    kept_stream = sorted(r.doc_id for r in cur.kept().collect())

    all_docs = spark.createDataFrame(mixed1 + mixed2, SCHEMA)
    ev = eval_shingle_set(spark.createDataFrame(EVAL, SCHEMA), n=3)
    kept_batch = sorted(
        r.doc_id for r in curate_batch(
            all_docs, ev, max_contamination=0.5, quality_model=model
        ).collect())
    assert kept_stream == kept_batch
    # the gate actually separates: clean docs in, spammy docs out
    assert set(kept_stream) >= {1, 6}
    assert not {2, 7} & set(kept_stream)


def test_bloom_screen_stream_matches_batch_fold(spark, tmp_path_factory):
    from next_plaid_spark.streaming.curation import (
        StreamingBloomDedup, bloom_screen_batch)

    tmp = tmp_path_factory.mktemp("bloomstream")
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    other = "one two three four five six seven eight nine ten eleven twelve"
    fresh = "totally new words appear here nothing repeats at all today"
    b1 = [(1, base), (2, other)]
    b2 = [(3, base),                 # cross-batch copy of kept 1 -> screened
          (4, fresh)]
    b3 = [(5, other + " tail"),      # mostly old shingles of kept 2 -> screened
          (6, fresh),                # copy of a doc kept in BATCH 2 -> screened
          (7, "entirely distinct closing sentence with unique vocabulary")]
    src = str(tmp / "in")
    os.makedirs(src)
    for i, rows in enumerate((b1, b2, b3)):
        spark.createDataFrame(rows, DOC_SCHEMA).coalesce(1).write.parquet(
            f"{src}/part{i}")
    dd = StreamingBloomDedup(spark, str(tmp / "root"), threshold=0.5)
    stream = (
        spark.readStream.schema(spark.createDataFrame(b1, DOC_SCHEMA).schema)
        .option("maxFilesPerTrigger", "1").parquet(f"{src}/part*")
    )
    q = dd.attach(stream, str(tmp / "ck"))
    q.awaitTermination(300)
    kept_stream = sorted(r.doc_id for r in dd.kept().collect())

    # fold of the batch reference over the same batch sequence
    kept = spark.createDataFrame(b1, DOC_SCHEMA)
    for rows in (b2, b3):
        batch = spark.createDataFrame(rows, DOC_SCHEMA)
        kept = kept.unionByName(
            bloom_screen_batch(batch, kept, threshold=0.5))
    kept_fold = sorted(r.doc_id for r in kept.collect())
    assert kept_stream == kept_fold == [1, 2, 4, 7]


def test_bloom_ledger_bounded_and_write_once(spark, tmp_path_factory):
    from next_plaid_spark.operators.dedup import BLOOM_BITS, bloom_bits
    from next_plaid_spark.streaming.curation import StreamingBloomDedup

    tmp = tmp_path_factory.mktemp("bloomledger")
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    dd = StreamingBloomDedup(spark, str(tmp / "root"), threshold=0.5)
    dd.process_batch(spark.createDataFrame([(1, base)], DOC_SCHEMA), 0)
    ledger1 = dd.ledger_bits()
    n1 = ledger1.count()
    assert n1 == ledger1.distinct().count()  # write-once: no dup positions
    expected = bloom_bits(
        spark.createDataFrame([(1, base)], DOC_SCHEMA), n=3).count()
    assert 0 < n1 == expected <= BLOOM_BITS
    # a duplicate doc in a later batch: screened out, ledger unchanged
    dd.process_batch(spark.createDataFrame([(2, base)], DOC_SCHEMA), 1)
    assert dd.ledger_bits().count() == n1
    assert sorted(r.doc_id for r in dd.kept().collect()) == [1]


def test_bloom_screen_replayed_batch_is_noop(spark, tmp_path_factory):
    """foreachBatch may redeliver a batch after failure: the replay
    re-screens against prior-committed bits only (the batch's own paths
    are excluded) and overwrites its own kept/ledger paths, so a full
    replay leaves kept/ and the ledger byte-identical."""
    from next_plaid_spark.streaming.curation import StreamingBloomDedup

    tmp = tmp_path_factory.mktemp("bloomreplay")
    b = [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "one two three four five six seven eight nine")]
    dd = StreamingBloomDedup(spark, str(tmp / "root"), threshold=0.5)
    dd.process_batch(spark.createDataFrame(b, DOC_SCHEMA), 0)
    kept1 = sorted(r.doc_id for r in dd.kept().collect())
    n_bits1 = dd.ledger_bits().count()

    dd.process_batch(spark.createDataFrame(b, DOC_SCHEMA), 0)  # replay
    kept2 = sorted(r.doc_id for r in dd.kept().collect())
    n_bits2 = dd.ledger_bits().count()
    assert kept1 == kept2 == [1, 2]
    assert n_bits1 == n_bits2


def test_bloom_counting_mode_matches_bits_mode(spark, tmp_path_factory):
    """Screen decisions are identical in both ledger modes (cnt > 0
    positions ≡ the bit set)."""
    from next_plaid_spark.streaming.curation import StreamingBloomDedup

    tmp = tmp_path_factory.mktemp("bloommodes")
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    other = "one two three four five six seven eight nine ten eleven"
    batches = ([(1, base), (2, other)],
               [(3, base), (4, "fresh unrelated words land in this batch")])
    kept = {}
    for mode in (False, True):
        dd = StreamingBloomDedup(
            spark, str(tmp / f"root{mode}"), threshold=0.5, counting=mode)
        for i, rows in enumerate(batches):
            dd.process_batch(spark.createDataFrame(rows, DOC_SCHEMA), i)
        kept[mode] = sorted(r.doc_id for r in dd.kept().collect())
    assert kept[False] == kept[True] == [1, 2, 4]


def test_bloom_retract_unblocks_future_ingests(spark, tmp_path_factory):
    from next_plaid_spark.operators.dedup import bloom_counts
    from next_plaid_spark.streaming.curation import StreamingBloomDedup

    tmp = tmp_path_factory.mktemp("bloomretract")
    doomed = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    keeper = "one two three four five six seven eight nine ten eleven"
    dd = StreamingBloomDedup(spark, str(tmp / "root"), threshold=0.5,
                             counting=True)
    dd.process_batch(
        spark.createDataFrame([(1, doomed), (2, keeper)], DOC_SCHEMA), 0)
    # a re-ingest of the doomed text is blocked while doc 1 is kept
    dd.process_batch(spark.createDataFrame([(3, doomed)], DOC_SCHEMA), 1)
    assert sorted(r.doc_id for r in dd.kept().collect()) == [1, 2]

    dd.retract(spark.createDataFrame([(1, "")], DOC_SCHEMA))
    assert sorted(r.doc_id for r in dd.kept().collect()) == [2]
    # counts after retraction == rebuild from the surviving kept corpus
    cur = dd._versions()[-1][3]
    got = {(r.pos, r.cnt) for r in spark.read.parquet(cur).collect()}
    want = {(r.pos, r.cnt) for r in bloom_counts(
        spark.createDataFrame([(2, keeper)], DOC_SCHEMA), n=3).collect()}
    assert got == want
    # the retracted text now passes the screen again
    dd.process_batch(spark.createDataFrame([(4, doomed)], DOC_SCHEMA), 2)
    assert sorted(r.doc_id for r in dd.kept().collect()) == [2, 4]
    # the keeper is still blocked (its counts survived the retraction)
    dd.process_batch(spark.createDataFrame([(5, keeper)], DOC_SCHEMA), 3)
    assert sorted(r.doc_id for r in dd.kept().collect()) == [2, 4]


def test_bloom_retract_requires_counting_mode(spark, tmp_path_factory):
    import pytest as _pytest

    from next_plaid_spark.streaming.curation import StreamingBloomDedup

    tmp = tmp_path_factory.mktemp("bloomretracterr")
    dd = StreamingBloomDedup(spark, str(tmp / "root"))
    with _pytest.raises(ValueError, match="counting=True"):
        dd.retract(spark.createDataFrame([(1, "x")], DOC_SCHEMA))


def test_bloom_crash_window_replay_is_idempotent(spark, tmp_path_factory):
    """ADVICE r11: a crash BETWEEN the kept append and the ledger write
    used to double-append on redelivery (and short un-shingleable docs
    always did). With batch-derived idempotent paths, a replay after a
    crash at any point converges to the same end state."""
    import shutil

    from next_plaid_spark.streaming.curation import StreamingBloomDedup

    tmp = tmp_path_factory.mktemp("bloomcrash")
    b0 = [(1, "alpha beta gamma delta epsilon zeta eta theta")]
    b1 = [(2, "one two three four five six seven eight nine"),
          (3, "hi")]  # doc 3 is too short to shingle -> always kept
    dd = StreamingBloomDedup(spark, str(tmp / "root"), threshold=0.5)
    dd.process_batch(spark.createDataFrame(b0, DOC_SCHEMA), 0)

    # simulate the crash window for batch 1: kept written, ledger NOT
    root = tmp / "root"
    ver_dir = dd._versions()[-1][3]
    dd.process_batch(spark.createDataFrame(b1, DOC_SCHEMA), 1)
    shutil.rmtree(os.path.join(ver_dir, "b1"))  # rip out batch 1's delta

    # redelivery: same batch id, same data
    dd.process_batch(spark.createDataFrame(b1, DOC_SCHEMA), 1)
    assert sorted(r.doc_id for r in dd.kept().collect()) == [1, 2, 3]
    # the short doc did NOT double-append, the delta is back, and the
    # ledger equals the no-crash run bit-for-bit
    bits = dd.ledger_bits()
    assert bits.count() == bits.distinct().count()
    clean = StreamingBloomDedup(spark, str(tmp / "clean"), threshold=0.5)
    clean.process_batch(spark.createDataFrame(b0, DOC_SCHEMA), 0)
    clean.process_batch(spark.createDataFrame(b1, DOC_SCHEMA), 1)
    assert ({r.pos for r in bits.collect()}
            == {r.pos for r in clean.ledger_bits().collect()})


def test_bloom_completed_batch_replay_keeps_docs(spark, tmp_path_factory):
    """The inverse crash: BOTH writes landed but the checkpoint commit
    didn't. The replayed batch must not screen out its own docs (the
    screen excludes the batch's own delta), or a committed batch's
    content would vanish on restart."""
    from next_plaid_spark.streaming.curation import StreamingBloomDedup

    tmp = tmp_path_factory.mktemp("bloomcommit")
    b0 = [(1, "alpha beta gamma delta epsilon zeta eta theta")]
    b1 = [(2, "one two three four five six seven eight nine")]
    dd = StreamingBloomDedup(spark, str(tmp / "root"), threshold=0.5)
    dd.process_batch(spark.createDataFrame(b0, DOC_SCHEMA), 0)
    dd.process_batch(spark.createDataFrame(b1, DOC_SCHEMA), 1)
    dd.process_batch(spark.createDataFrame(b1, DOC_SCHEMA), 1)  # full replay
    assert sorted(r.doc_id for r in dd.kept().collect()) == [1, 2]


def _resize_docs(n_docs: int, start: int = 0) -> list[tuple[int, str]]:
    # disjoint vocabularies -> every doc contributes fresh shingles
    return [(i, " ".join(f"w{i}x{j}" for j in range(12)))
            for i in range(start, start + n_docs)]


def test_bloom_m_resize_bits_mode(spark, tmp_path_factory):
    """SCALING transparency note (b) closed: when fill crosses the bound
    the ledger is rebuilt at doubled m from the kept corpus; the next
    batch screens against the RESIZED ledger and true members screen
    identically (their shingles hit all k bits at any m)."""
    from next_plaid_spark.streaming.curation import StreamingBloomDedup

    tmp = tmp_path_factory.mktemp("bloomresize")
    dd = StreamingBloomDedup(spark, str(tmp / "root"), threshold=0.5,
                             m=64, fill_bound=0.5)
    dd.process_batch(
        spark.createDataFrame(_resize_docs(8), DOC_SCHEMA), 0)
    assert dd.current_m() == 64
    fill0 = dd.ledger_bits().count() / 64
    assert fill0 >= 0.5  # 8 docs x 10 shingles x k=4 saturates m=64

    # next batch triggers the resize BEFORE screening (from the
    # prior-committed state; the batch's own delta may overshoot the
    # bound again until the NEXT batch's check — bounded by one batch)
    dd.process_batch(
        spark.createDataFrame(_resize_docs(2, start=100), DOC_SCHEMA), 1)
    m1 = dd.current_m()
    assert m1 > 64
    # the resized version is a REBUILD from kept: versioned dir, base set
    vs = dd._versions()
    assert vs[-1][2] == m1 and vs[-1][0] > vs[0][0]

    # true members still screen out after the resize; batch 2's own
    # pre-check re-doubles if batch 1's delta overshot the bound
    dd.process_batch(
        spark.createDataFrame([(200, _resize_docs(1)[0][1]),
                               (201, _resize_docs(1, start=100)[0][1])],
                              DOC_SCHEMA), 2)
    kept = sorted(r.doc_id for r in dd.kept().collect())
    assert 200 not in kept and 201 not in kept
    m2 = dd.current_m()
    assert m2 >= m1
    # batch 2 added no docs, so its post-state fill is the checked one
    assert dd.ledger_bits().count() / m2 < 0.5


def test_bloom_m_resize_counting_mode_preserves_retract(spark,
                                                        tmp_path_factory):
    from next_plaid_spark.streaming.curation import StreamingBloomDedup

    tmp = tmp_path_factory.mktemp("bloomresizecnt")
    dd = StreamingBloomDedup(spark, str(tmp / "root"), threshold=0.5,
                             m=64, fill_bound=0.5, counting=True)
    dd.process_batch(
        spark.createDataFrame(_resize_docs(8), DOC_SCHEMA), 0)
    dd.process_batch(
        spark.createDataFrame(_resize_docs(2, start=100), DOC_SCHEMA), 1)
    m1 = dd.current_m()
    assert m1 > 64
    # the doubled-m counts still support retraction
    doomed_text = _resize_docs(1)[0][1]
    dd.retract(spark.createDataFrame([(0, "")], DOC_SCHEMA))
    dd.process_batch(
        spark.createDataFrame([(300, doomed_text)], DOC_SCHEMA), 2)
    assert 300 in {r.doc_id for r in dd.kept().collect()}


def test_bloom_resize_replay_is_deterministic(spark, tmp_path_factory):
    """A crash AFTER the resize rebuild but before the batch commits:
    the replay ignores the version built by its own prior attempt and
    rebuilds it deterministically."""
    from next_plaid_spark.streaming.curation import StreamingBloomDedup

    tmp = tmp_path_factory.mktemp("bloomresizereplay")
    dd = StreamingBloomDedup(spark, str(tmp / "root"), threshold=0.5,
                             m=64, fill_bound=0.5)
    dd.process_batch(
        spark.createDataFrame(_resize_docs(8), DOC_SCHEMA), 0)
    batch1 = spark.createDataFrame(_resize_docs(2, start=100), DOC_SCHEMA)
    dd.process_batch(batch1, 1)   # triggers resize, built by batch 1
    m_after = dd.current_m()
    bits_after = {r.pos for r in dd.ledger_bits().collect()}
    dd.process_batch(batch1, 1)   # full replay of the resizing batch
    assert dd.current_m() == m_after
    assert {r.pos for r in dd.ledger_bits().collect()} == bits_after
    assert sorted(r.doc_id for r in dd.kept().collect()) == sorted(
        [d for d, _ in _resize_docs(8)] + [100, 101])


def test_bloom_counts_delta_strict_underflow(spark):
    """ADVICE r11: retracting docs never inserted (or text that changed
    since insertion) used to clip silently; strict mode raises."""
    import pytest as _pytest

    from next_plaid_spark.operators.dedup import (bloom_counts,
                                                  bloom_counts_delta)

    ins = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")], DOC_SCHEMA)
    never = spark.createDataFrame(
        [(9, "totally different words that were never inserted")],
        DOC_SCHEMA)
    counts = bloom_counts(ins, n=3)
    with _pytest.raises(ValueError, match="underflow"):
        bloom_counts_delta(counts, None, never, n=3, strict=True)
    # a true retraction passes strict validation and empties the ledger
    assert bloom_counts_delta(counts, None, ins, n=3,
                              strict=True).count() == 0


def test_bloom_vacuum_bits_mode(spark, tmp_path_factory):
    """r13 VERDICT item: vacuum compacts the per-batch small dirs — all
    kept/b{id} into one generation kept/g0, the bit ledger's per-batch
    deltas into a single new version — without changing the kept corpus,
    the set-bit positions, or subsequent screen decisions."""
    from next_plaid_spark.streaming.curation import StreamingBloomDedup

    tmp = tmp_path_factory.mktemp("bloomvacbits")
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    other = "one two three four five six seven eight nine ten eleven"
    fresh = "totally new words appear here nothing repeats at all today"
    dd = StreamingBloomDedup(spark, str(tmp / "root"), threshold=0.5)
    for i, rows in enumerate(([(1, base)], [(2, other)], [(3, fresh)])):
        dd.process_batch(spark.createDataFrame(rows, DOC_SCHEMA), i)
    kept_before = sorted(r.doc_id for r in dd.kept().collect())
    bits_before = {r.pos for r in dd.ledger_bits().collect()}
    assert len(dd._kept_dirs()) == 3

    stats = dd.vacuum()
    assert stats["kept_dirs_merged"] == 3 and stats["deltas_folded"] == 3
    assert [os.path.basename(d) for d in dd._kept_dirs()] == ["g0"]
    assert len(dd._versions()) == 1
    assert sorted(r.doc_id for r in dd.kept().collect()) == kept_before
    assert {r.pos for r in dd.ledger_bits().collect()} == bits_before

    # screening continues identically on the compacted state
    dd.process_batch(spark.createDataFrame(
        [(4, base), (5, "yet another entirely distinct closing line")],
        DOC_SCHEMA), 3)
    kept = sorted(r.doc_id for r in dd.kept().collect())
    assert kept == kept_before + [5]

    # idempotent / nothing-to-do second pass (one kept dir was just
    # written by batch 3, so only the kept merge has work)
    stats2 = dd.vacuum()
    assert stats2["deltas_folded"] in (0, 2)


def test_bloom_vacuum_counting_mode_preserves_retract(spark,
                                                      tmp_path_factory):
    """Counting-mode vacuum drops all but the newest keep_versions
    snapshots (each IS the full state); retractability survives."""
    from next_plaid_spark.streaming.curation import StreamingBloomDedup

    tmp = tmp_path_factory.mktemp("bloomvaccnt")
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    other = "one two three four five six seven eight nine ten eleven"
    fresh = "totally new words appear here nothing repeats at all today"
    dd = StreamingBloomDedup(spark, str(tmp / "root"), threshold=0.5,
                             counting=True)
    for i, rows in enumerate(([(1, base)], [(2, other)], [(3, fresh)])):
        dd.process_batch(spark.createDataFrame(rows, DOC_SCHEMA), i)
    assert len(dd._versions()) == 3
    kept_before = sorted(r.doc_id for r in dd.kept().collect())

    stats = dd.vacuum(keep_versions=1)
    assert stats["versions_dropped"] == 2 and stats["kept_dirs_merged"] == 3
    assert len(dd._versions()) == 1
    assert sorted(r.doc_id for r in dd.kept().collect()) == kept_before

    # duplicates still screened, retraction still unblocks
    dd.process_batch(spark.createDataFrame([(4, base)], DOC_SCHEMA), 3)
    assert 4 not in {r.doc_id for r in dd.kept().collect()}
    dd.retract(spark.createDataFrame([(1, "")], DOC_SCHEMA))
    dd.process_batch(spark.createDataFrame([(5, base)], DOC_SCHEMA), 4)
    assert 5 in {r.doc_id for r in dd.kept().collect()}


def test_bloom_old_layout_rejected(spark, tmp_path_factory):
    """No writer produces flat parquet at kept/ or at the ledger root, nor
    a kept/b-1 dir; the readers would silently ignore such state and
    re-admit everything it holds, so construction raises instead."""
    from next_plaid_spark.operators.dedup import bloom_bits, bloom_counts
    from next_plaid_spark.streaming.curation import StreamingBloomDedup

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    for counting, state_name, builder in (
            (False, "bloom_ledger", bloom_bits),
            (True, "bloom_counts", bloom_counts)):
        tmp = tmp_path_factory.mktemp(f"bloomold{counting}")
        ldf = spark.createDataFrame([(1, base)], DOC_SCHEMA)
        flat_kept, flat_state, kept_b1 = (
            tmp / "flat_kept", tmp / "flat_state", tmp / "kept_b1")
        ldf.write.parquet(str(flat_kept / "kept"))
        builder(ldf, n=3).write.parquet(str(flat_state / state_name))
        ldf.write.parquet(str(kept_b1 / "kept" / "b-1"))
        for root in (flat_kept, flat_state, kept_b1):
            with pytest.raises(ValueError, match="rebuild"):
                StreamingBloomDedup(spark, str(root), threshold=0.5,
                                    counting=counting)


def test_bloom_replay_taint_truncates_below_stacked_b1(spark,
                                                       tmp_path_factory):
    """r12 ADVICE (low): _active_versions only popped a trailing same-bid
    suffix, so a b-1 version stacked above the replaying batch's own
    snapshot hid the taint and the batch saw its own committed bits.
    r13: truncate at the FIRST same-bid version instead."""
    import shutil

    from next_plaid_spark.streaming.curation import StreamingBloomDedup

    tmp = tmp_path_factory.mktemp("bloomtaint")
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    other = "one two three four five six seven eight nine ten eleven"
    dd = StreamingBloomDedup(spark, str(tmp / "root"), threshold=0.5,
                             counting=True)
    dd.process_batch(spark.createDataFrame([(1, base)], DOC_SCHEMA), 0)
    dd.process_batch(spark.createDataFrame([(2, other)], DOC_SCHEMA), 1)
    vs = dd._versions()
    assert [v[1] for v in vs] == [0, 1]
    # stack a b-1 version above batch 1's snapshot (what a contract-
    # violating retract/vacuum between write and commit would leave)
    v1_path = vs[-1][3]
    fake = os.path.join(os.path.dirname(v1_path),
                        f"v{vs[-1][0] + 1}_b-1_m{vs[-1][2]}")
    shutil.copytree(v1_path, fake)

    active = dd._active_versions(1)
    assert [v[1] for v in active] == [0]  # truncated below batch 1's taint


def _five_batches():
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    other = "one two three four five six seven eight nine ten eleven"
    fresh = "totally new words appear here nothing repeats at all today"
    return [
        [(1, base)],
        [(2, other), (3, base)],            # 3 = dup of kept 1
        [(4, fresh)],
        [(5, base), (6, "entirely distinct closing sentence with vocab")],
        [(7, fresh), (8, "final unique line of completely novel words")],
    ]


def test_bloom_auto_vacuum_matches_unvacuumed(spark, tmp_path_factory):
    """r13: vacuum_every=N compacts prior-committed state mid-stream
    (never the in-flight batch). The kept corpus and the set-bit
    positions are identical to an unvacuumed run, while the dir counts
    stay bounded instead of one-per-batch."""
    from next_plaid_spark.streaming.curation import StreamingBloomDedup

    tmp = tmp_path_factory.mktemp("bloomautovac")
    plain = StreamingBloomDedup(spark, str(tmp / "plain"), threshold=0.5)
    auto = StreamingBloomDedup(spark, str(tmp / "auto"), threshold=0.5,
                               vacuum_every=2)
    for i, rows in enumerate(_five_batches()):
        df = spark.createDataFrame(rows, DOC_SCHEMA)
        plain.process_batch(df, i)
        auto.process_batch(df, i)
    kp = sorted(r.doc_id for r in plain.kept().collect())
    ka = sorted(r.doc_id for r in auto.kept().collect())
    assert kp == ka
    assert ({r.pos for r in plain.ledger_bits().collect()}
            == {r.pos for r in auto.ledger_bits().collect()})
    # bounded: the fold target plus at most the batches since the last fold
    assert len(plain._kept_dirs()) == 5
    assert len(auto._kept_dirs()) <= 3
    assert len(auto._versions()) == 1  # folds replace, never stack


def test_bloom_auto_vacuum_replay_safe(spark, tmp_path_factory):
    """A replay of the batch that triggered the in-flight compaction
    must converge to the identical end state: the fold reads only
    prior-committed state (builder id -1), so the replaying batch still
    excludes its own contribution."""
    from next_plaid_spark.streaming.curation import StreamingBloomDedup

    tmp = tmp_path_factory.mktemp("bloomautovacreplay")
    dd = StreamingBloomDedup(spark, str(tmp / "root"), threshold=0.5,
                             vacuum_every=2)
    batches = _five_batches()[:3]
    for i, rows in enumerate(batches):
        dd.process_batch(spark.createDataFrame(rows, DOC_SCHEMA), i)
    kept_before = sorted(r.doc_id for r in dd.kept().collect())
    bits_before = {r.pos for r in dd.ledger_bits().collect()}

    # batch 2 ran the compaction; replay it wholesale
    dd.process_batch(spark.createDataFrame(batches[2], DOC_SCHEMA), 2)
    assert sorted(r.doc_id for r in dd.kept().collect()) == kept_before
    assert {r.pos for r in dd.ledger_bits().collect()} == bits_before


def test_bloom_auto_vacuum_counting_mode(spark, tmp_path_factory):
    """Counting mode: older snapshots are dropped mid-stream (the newest
    IS the full state); decisions and retractability unchanged."""
    from next_plaid_spark.streaming.curation import StreamingBloomDedup

    tmp = tmp_path_factory.mktemp("bloomautovaccnt")
    plain = StreamingBloomDedup(spark, str(tmp / "plain"), threshold=0.5,
                                counting=True)
    auto = StreamingBloomDedup(spark, str(tmp / "auto"), threshold=0.5,
                               counting=True, vacuum_every=2)
    for i, rows in enumerate(_five_batches()):
        df = spark.createDataFrame(rows, DOC_SCHEMA)
        plain.process_batch(df, i)
        auto.process_batch(df, i)
    assert (sorted(r.doc_id for r in plain.kept().collect())
            == sorted(r.doc_id for r in auto.kept().collect()))
    assert len(plain._versions()) == 5
    assert len(auto._versions()) <= 2
    auto.retract(spark.createDataFrame([(1, "")], DOC_SCHEMA))
    base = _five_batches()[0][0][1]
    auto.process_batch(spark.createDataFrame([(9, base)], DOC_SCHEMA), 5)
    assert 9 in {r.doc_id for r in auto.kept().collect()}


def test_bloom_kept_fold_crash_recovery(spark, tmp_path_factory):
    """The kept fold stages its union with a _FOLDED manifest naming the
    source dirs; a crash after a partial source drop is repaired at the
    next construction from the manifest (re-deriving the union from the
    surviving dirs alone would lose the already-dropped ones). A staging
    dir without the manifest is discarded — every source is intact."""
    import shutil

    from next_plaid_spark.streaming.curation import StreamingBloomDedup

    tmp = tmp_path_factory.mktemp("bloomfoldcrash")
    dd = StreamingBloomDedup(spark, str(tmp / "root"), threshold=0.5)
    for i, rows in enumerate(_five_batches()[:3]):
        dd.process_batch(spark.createDataFrame(rows, DOC_SCHEMA), i)
    kept_before = sorted(r.doc_id for r in dd.kept().collect())
    dirs = dd._kept_dirs()
    assert len(dirs) == 3

    # simulate the crash: union staged + manifest written + ONE source
    # dropped, then the process dies before the rename
    tmp_dir = dd._fold_tmp
    dd.kept().write.mode("overwrite").parquet(tmp_dir)
    with open(os.path.join(tmp_dir, "_FOLDED"), "w") as f:
        f.write("\n".join(["dest=g0"] + [os.path.basename(d) for d in dirs]))
    shutil.rmtree(dirs[0])

    dd2 = StreamingBloomDedup(spark, str(tmp / "root"), threshold=0.5)
    assert sorted(r.doc_id for r in dd2.kept().collect()) == kept_before
    assert [os.path.basename(d) for d in dd2._kept_dirs()] == ["g0"]
    assert not os.path.isdir(tmp_dir)

    # a manifest-less staging dir (crash before the manifest write) is
    # discarded: all sources are still intact
    os.makedirs(tmp_dir)
    with open(os.path.join(tmp_dir, "junk"), "w") as f:
        f.write("partial")
    dd3 = StreamingBloomDedup(spark, str(tmp / "root"), threshold=0.5)
    assert sorted(r.doc_id for r in dd3.kept().collect()) == kept_before
    assert not os.path.isdir(tmp_dir)


def test_curator_crash_between_writes_replay_exact(spark, tmp_path_factory):
    """r13: the curator previously append-wrote kept then ledger, so a
    crash BETWEEN them re-appended the batch's docs on replay (the r11
    Bloom-sink bug, still live in the other three sinks). With per-batch
    idempotent dirs + own-batch-excluding reads, a replay after a crash
    at any point converges to the crash-free state."""
    import shutil

    from next_plaid_spark.streaming.curation import StreamingCurator

    tmp = tmp_path_factory.mktemp("curcrash")
    cur = StreamingCurator(spark, str(tmp / "root"),
                           eval_docs=spark.createDataFrame(EVAL, SCHEMA),
                           max_contamination=0.5)
    cur.process_batch(spark.createDataFrame(BATCH1, SCHEMA), 0)
    cur.process_batch(spark.createDataFrame(BATCH2, SCHEMA), 1)
    clean = sorted(r.doc_id for r in cur.kept().collect())
    assert clean == [1, 2, 6]

    # crash window A: kept written, ledger ripped out -> replay
    shutil.rmtree(str(tmp / "root" / "fp_ledger" / "b1"))
    cur.process_batch(spark.createDataFrame(BATCH2, SCHEMA), 1)
    kept = [r.doc_id for r in cur.kept().collect()]
    assert sorted(kept) == clean and len(kept) == len(set(kept))

    # crash window B: ledger written, kept ripped out -> replay
    shutil.rmtree(str(tmp / "root" / "kept" / "b1"))
    cur.process_batch(spark.createDataFrame(BATCH2, SCHEMA), 1)
    kept = [r.doc_id for r in cur.kept().collect()]
    assert sorted(kept) == clean and len(kept) == len(set(kept))


def test_text_dedup_crash_between_writes_replay_exact(spark,
                                                      tmp_path_factory):
    import shutil

    from next_plaid_spark.streaming.curation import StreamingTextDedup

    tmp = tmp_path_factory.mktemp("txtcrash")
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    other = "one two three four five six seven eight nine ten eleven twelve"
    b1 = [(1, base), (2, base + " extra"), (3, other)]
    b2 = [(4, base), (5, "totally fresh words appear here nothing repeats"),
          (6, other + " more")]
    dd = StreamingTextDedup(spark, str(tmp / "root"), threshold=0.5)
    dd.process_batch(spark.createDataFrame(b1, DOC_SCHEMA), 0)
    dd.process_batch(spark.createDataFrame(b2, DOC_SCHEMA), 1)
    clean = sorted(r.doc_id for r in dd.kept().collect())
    assert clean == [1, 3, 5]

    shutil.rmtree(str(tmp / "root" / "band_ledger" / "b1"))
    dd.process_batch(spark.createDataFrame(b2, DOC_SCHEMA), 1)
    kept = [r.doc_id for r in dd.kept().collect()]
    assert sorted(kept) == clean and len(kept) == len(set(kept))


def test_semantic_dedup_crash_between_writes_replay_exact(spark,
                                                          tmp_path_factory):
    import shutil

    from next_plaid_spark.streaming.curation import StreamingSemanticDedup

    tmp = tmp_path_factory.mktemp("semcrash")
    b1, b2 = _emb_batches()
    sch = "vec_id long, embedding array<double>"
    dd = StreamingSemanticDedup(spark, str(tmp / "root"), threshold=0.99,
                                dim=4)
    dd.process_batch(spark.createDataFrame(b1, sch), 0)
    dd.process_batch(spark.createDataFrame(b2, sch), 1)
    clean = sorted(r.vec_id for r in dd.kept().collect())

    shutil.rmtree(str(tmp / "root" / "bucket_ledger" / "b1"))
    dd.process_batch(spark.createDataFrame(b2, sch), 1)
    kept = [r.vec_id for r in dd.kept().collect()]
    assert sorted(kept) == clean and len(kept) == len(set(kept))


def test_text_dedup_vacuum_and_old_layout_rejected(spark, tmp_path_factory):
    """The shared per-batch protocol's other two legs, on the text sink:
    a flat root (kept/ and band_ledger/ holding parquet directly) is
    rejected at construction, and vacuum() folds the per-batch dirs
    without changing the kept set or future decisions."""
    from next_plaid_spark.operators.dedup import minhash_band_ledger
    from next_plaid_spark.streaming.curation import StreamingTextDedup

    tmp = tmp_path_factory.mktemp("txtvac")
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    first = spark.createDataFrame([(1, base)], DOC_SCHEMA)
    flat = tmp / "flat"
    first.write.parquet(str(flat / "kept"))
    minhash_band_ledger(first, n=3).write.parquet(str(flat / "band_ledger"))
    with pytest.raises(ValueError, match="rebuild"):
        StreamingTextDedup(spark, str(flat), threshold=0.5)

    dd = StreamingTextDedup(spark, str(tmp / "root"), threshold=0.5)
    dd.process_batch(first, 0)
    # cross-batch near-dup of the first doc is screened; fresh doc kept
    dd.process_batch(spark.createDataFrame(
        [(2, base + " tail"),
         (3, "totally fresh words appear here nothing repeats")],
        DOC_SCHEMA), 1)
    assert sorted(r.doc_id for r in dd.kept().collect()) == [1, 3]

    stats = dd.vacuum()
    assert stats["kept_dirs_merged"] == 2
    assert stats["ledger_dirs_merged"] == 2
    assert sorted(r.doc_id for r in dd.kept().collect()) == [1, 3]
    # decisions unchanged on the folded state
    dd.process_batch(spark.createDataFrame(
        [(4, base), (5, "yet another entirely distinct closing line")],
        DOC_SCHEMA), 2)
    assert sorted(r.doc_id for r in dd.kept().collect()) == [1, 3, 5]


@pytest.fixture(scope="module")
def tiny_index(spark, tmp_path_factory):
    from next_plaid_spark.encoding import clustered_token_corpus
    from next_plaid_spark.plans.builder import IndexBuilder

    toks, _ = clustered_token_corpus(
        spark, n_docs=40, tokens_per_doc=3, dim=8, n_clusters=4, seed=3)
    return IndexBuilder(spark, k=4, bucket_tokens=2).build(
        toks, str(tmp_path_factory.mktemp("tinyidx") / "v0"))


def _open_sink(spark, request, name, root):
    """A thunk constructing one of the five b{id}/g{seq} sinks on
    ``root``."""
    from next_plaid_spark.streaming.curation import (
        StreamingSemanticDedup, StreamingTextDedup)
    from next_plaid_spark.streaming.enrich import StreamingAsofEnricher
    from next_plaid_spark.streaming.search import StreamingSearcher

    if name == "curator":
        return lambda: StreamingCurator(
            spark, root, eval_docs=spark.createDataFrame(EVAL, SCHEMA))
    if name == "semantic":
        return lambda: StreamingSemanticDedup(spark, root, dim=4)
    if name == "text":
        return lambda: StreamingTextDedup(spark, root)
    if name == "asof":
        return lambda: StreamingAsofEnricher(
            spark, root, keys=["k"], ts_col="ts", payload_cols=["v"],
            left_filter=F.lit(True), right_filter=F.lit(True))
    idx = request.getfixturevalue("tiny_index")
    return lambda: StreamingSearcher(spark, idx, sink_path=root)


_STATE_DIR = {"curator": "kept", "semantic": "kept", "text": "kept",
              "asof": "enriched", "search": ""}


@pytest.mark.parametrize("layout", ["flat", "b-1"])
@pytest.mark.parametrize("sink", sorted(_STATE_DIR))
def test_sink_rejects_old_state_layout(spark, tmp_path, request, sink,
                                       layout):
    """Every per-batch sink reads only b{id}/g{seq} dirs, so a state dir
    holding parquet files directly, or a b-1 dir, would be silently
    ignored; construction raises instead of adopting it."""
    root = str(tmp_path / "root")
    state = os.path.join(root, _STATE_DIR[sink])
    rows = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    rows.write.parquet(state if layout == "flat"
                       else os.path.join(state, "b-1"))
    with pytest.raises(ValueError, match="rebuild"):
        _open_sink(spark, request, sink, root)()


# ---------------------------------------------------------------------------
# r14: generational (size-tiered) folds — each byte rewritten O(log batches)
# times; a settled large generation is never touched by a fold of small
# newcomers (closes the r13 VERDICT O(corpus)-rewrite watch item)
# ---------------------------------------------------------------------------


def _write_ids(spark, path, lo, hi, files=1):
    (spark.range(lo, hi).withColumnRenamed("id", "doc_id")
     .coalesce(files).write.parquet(path))


def test_generational_fold_spares_large_generation(spark, tmp_path_factory):
    """A fold with only small per-batch dirs foldable must NOT rewrite a
    large settled generation: its files' inodes and mtimes are untouched
    and it stays listed alongside the new small generation."""
    from next_plaid_spark.streaming.curation import (_batch_dirs,
                                                     _fold_batch_dirs)

    root = str(tmp_path_factory.mktemp("genfold") / "state")
    g0 = os.path.join(root, "g0")
    _write_ids(spark, g0, 0, 50000, files=2)            # the big generation
    for i in range(3):                                  # three small batches
        _write_ids(spark, os.path.join(root, f"b{i}"),
                   100000 + 10 * i, 100000 + 10 * i + 5)

    stat_before = {
        f: (os.stat(os.path.join(g0, f)).st_ino,
            os.stat(os.path.join(g0, f)).st_mtime_ns)
        for f in os.listdir(g0)
    }
    merged = _fold_batch_dirs(spark, root)
    assert merged == 3                                  # only the b dirs
    names = sorted(os.path.basename(d) for d in _batch_dirs(root))
    assert names == ["g0", "g1"]
    stat_after = {
        f: (os.stat(os.path.join(g0, f)).st_ino,
            os.stat(os.path.join(g0, f)).st_mtime_ns)
        for f in os.listdir(g0)
    }
    assert stat_after == stat_before                    # byte-untouched
    assert spark.read.parquet(*_batch_dirs(root)).count() == 50000 + 15

    # idempotent: nothing new to fold (two stable generations)
    assert _fold_batch_dirs(spark, root) == 0

    # new small batches + the small g1 promote together into g2; the
    # big g0 is STILL untouched
    for i in range(3, 5):
        _write_ids(spark, os.path.join(root, f"b{i}"),
                   100000 + 10 * i, 100000 + 10 * i + 5)
    merged2 = _fold_batch_dirs(spark, root)
    assert merged2 == 3                                 # b3, b4, g1
    names = sorted(os.path.basename(d) for d in _batch_dirs(root))
    assert names == ["g0", "g2"]
    assert spark.read.parquet(*_batch_dirs(root)).count() == 50000 + 25


def test_generational_fold_crash_recovery_new_manifest(spark,
                                                       tmp_path_factory):
    """Crash repair with the r14 manifest (first line ``dest=g{seq}``):
    a staged fold that dropped one source is finished to the named
    generation; no rows lost."""
    import shutil

    from next_plaid_spark.streaming.curation import (_batch_dirs,
                                                     _fold_tmp_path,
                                                     _recover_fold)

    root = str(tmp_path_factory.mktemp("genfoldcrash") / "state")
    for i in range(2):
        _write_ids(spark, os.path.join(root, f"b{i}"), 10 * i, 10 * i + 5)
    tmp = _fold_tmp_path(root)
    spark.read.parquet(*_batch_dirs(root)).write.parquet(tmp)
    with open(os.path.join(tmp, "_FOLDED"), "w") as f:
        f.write("dest=g4\nb0\nb1")
    shutil.rmtree(os.path.join(root, "b0"))             # partial drop

    _recover_fold(root)
    names = sorted(os.path.basename(d) for d in _batch_dirs(root))
    assert names == ["g4"]
    assert not os.path.isdir(tmp)
    assert spark.read.parquet(*_batch_dirs(root)).count() == 10


def test_fold_recovery_rejects_manifest_without_dest(spark,
                                                     tmp_path_factory):
    """Every ``_stage_swap`` manifest names its destination first; a
    complete staging dir whose manifest lacks the ``dest=`` line was not
    written by it, so recovery raises rather than guess a target."""
    from next_plaid_spark.streaming.curation import (_batch_dirs,
                                                     _fold_tmp_path,
                                                     _recover_fold)

    root = str(tmp_path_factory.mktemp("foldnodest") / "state")
    for i in range(2):
        _write_ids(spark, os.path.join(root, f"b{i}"), 10 * i, 10 * i + 5)
    tmp = _fold_tmp_path(root)
    spark.read.parquet(*_batch_dirs(root)).write.parquet(tmp)
    with open(os.path.join(tmp, "_FOLDED"), "w") as f:
        f.write("b0\nb1")
    with pytest.raises(ValueError, match="dest="):
        _recover_fold(root)


def test_curator_auto_vacuum_matches_unvacuumed(spark, tmp_path_factory):
    """vacuum_every=N on the curator (r13 VERDICT item 2: extend the
    Bloom sink's in-flight compaction to the other sinks): identical
    kept set, bounded dir count, and a replay of the fold-triggering
    batch converges."""
    from next_plaid_spark.streaming.curation import StreamingCurator

    tmp = tmp_path_factory.mktemp("curautovac")
    b3 = [(7, "yet another novel document body", "web"),
          (8, "the quick brown fox jumps over dogs", "web")]   # dup of 1
    b4 = [(9, "final fresh unique line of words", "web")]
    batches = [BATCH1, BATCH2, b3, b4]
    ev = spark.createDataFrame(EVAL, SCHEMA)
    plain = StreamingCurator(spark, str(tmp / "plain"), eval_docs=ev,
                             max_contamination=0.5)
    auto = StreamingCurator(spark, str(tmp / "auto"), eval_docs=ev,
                            max_contamination=0.5, vacuum_every=2)
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, SCHEMA)
        plain.process_batch(df, i)
        auto.process_batch(df, i)
    kp = sorted(r.doc_id for r in plain.kept().collect())
    ka = sorted(r.doc_id for r in auto.kept().collect())
    assert kp == ka
    from next_plaid_spark.streaming.curation import _batch_dirs
    assert len(_batch_dirs(str(tmp / "plain" / "kept"))) == 4
    assert len(_batch_dirs(str(tmp / "auto" / "kept"))) <= 3

    # replay the fold-triggering batch wholesale — converges
    auto.process_batch(spark.createDataFrame(batches[2], SCHEMA), 2)
    assert sorted(r.doc_id for r in auto.kept().collect()) == kp
    kept_rows = [r.doc_id for r in auto.kept().collect()]
    assert len(kept_rows) == len(set(kept_rows))


def test_text_dedup_auto_vacuum_matches_unvacuumed(spark, tmp_path_factory):
    from next_plaid_spark.streaming.curation import (StreamingTextDedup,
                                                     _batch_dirs)

    tmp = tmp_path_factory.mktemp("txtautovac")
    plain = StreamingTextDedup(spark, str(tmp / "plain"), threshold=0.5)
    auto = StreamingTextDedup(spark, str(tmp / "auto"), threshold=0.5,
                              vacuum_every=2)
    for i, rows in enumerate(_five_batches()):
        df = spark.createDataFrame(rows, DOC_SCHEMA)
        plain.process_batch(df, i)
        auto.process_batch(df, i)
    kp = sorted(r.doc_id for r in plain.kept().collect())
    ka = sorted(r.doc_id for r in auto.kept().collect())
    assert kp == ka
    assert len(_batch_dirs(str(tmp / "plain" / "kept"))) == 5
    assert len(_batch_dirs(str(tmp / "auto" / "kept"))) <= 3

    # replay of the last fold-triggering batch converges
    auto.process_batch(
        spark.createDataFrame(_five_batches()[4], DOC_SCHEMA), 4)
    assert sorted(r.doc_id for r in auto.kept().collect()) == kp


def test_semantic_dedup_auto_vacuum_matches_unvacuumed(spark,
                                                       tmp_path_factory):
    from next_plaid_spark.streaming.curation import (StreamingSemanticDedup,
                                                     _batch_dirs)

    tmp = tmp_path_factory.mktemp("semautovac")
    b1, b2 = _emb_batches()
    b3 = [(7, _unit([0.0, 0.0, 0.0, 1.0])),            # isolated
          (8, _unit([1.0, 0.2, 0.0, 0.1001]))]         # ~1 (kept) → dropped
    b4 = [(9, _unit([0.5, 0.5, 0.5, 0.5]))]            # isolated
    batches = [b1, b2, b3, b4]
    plain = StreamingSemanticDedup(spark, str(tmp / "plain"),
                                   threshold=0.999, dim=4)
    auto = StreamingSemanticDedup(spark, str(tmp / "auto"),
                                  threshold=0.999, dim=4, vacuum_every=2)
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, EMB_SCHEMA)
        plain.process_batch(df, i)
        auto.process_batch(df, i)
    kp = sorted(r.vec_id for r in plain.kept().collect())
    ka = sorted(r.vec_id for r in auto.kept().collect())
    assert kp == ka
    assert len(_batch_dirs(str(tmp / "plain" / "kept"))) == 4
    assert len(_batch_dirs(str(tmp / "auto" / "kept"))) <= 3

    auto.process_batch(spark.createDataFrame(batches[2], EMB_SCHEMA), 2)
    assert sorted(r.vec_id for r in auto.kept().collect()) == kp


# ---------------------------------------------------------------------------
# r14: semantic-dedup ledger de-amplification (ids only; candidate
# embeddings re-read from the kept parquet with vec_id pushdown)
# ---------------------------------------------------------------------------


def test_semantic_ledger_stores_ids_only(spark, tmp_path_factory):
    """r13 VERDICT item 3: the bucket ledger must carry NO embedding
    column (state ≈ kept × n_tables IDS), and cross-batch near-dups must
    still be blocked through the kept-parquet id join."""
    from next_plaid_spark.streaming.curation import StreamingSemanticDedup

    tmp = tmp_path_factory.mktemp("semidsonly")
    b1, b2 = _emb_batches()
    dd = StreamingSemanticDedup(spark, str(tmp / "root"),
                                threshold=0.999, dim=4)
    dd.process_batch(spark.createDataFrame(b1, EMB_SCHEMA), 0)
    ledger = spark.read.parquet(str(tmp / "root" / "bucket_ledger" / "b0"))
    assert sorted(ledger.columns) == ["_bucket", "_table", "vec_id"]

    dd.process_batch(spark.createDataFrame(b2, EMB_SCHEMA), 1)
    kept = sorted(r.vec_id for r in dd.kept().collect())
    assert 4 not in kept and 6 not in kept   # cross-batch dups of 3 and 1
    assert {1, 3, 5} <= set(kept)


def test_semantic_legacy_ledger_with_embeddings_still_read(
        spark, tmp_path_factory):
    """A pre-r14 ledger (embedding column present) keeps working: the
    reads select the id columns only, so no migration is needed."""
    from next_plaid_spark.streaming.curation import StreamingSemanticDedup

    tmp = tmp_path_factory.mktemp("semlegacyledger")
    root = tmp / "root"
    b1, b2 = _emb_batches()
    legacy = spark.createDataFrame(b1, EMB_SCHEMA)
    dd = StreamingSemanticDedup(spark, str(root), threshold=0.999, dim=4)
    # write batch-0 state in the r13 shape: kept rows + a ledger that
    # STILL carries the embedding payload per (table, bucket)
    legacy.write.parquet(str(root / "kept" / "b0"))
    dd._assign(legacy).select(
        "_table", "_bucket", F.col("_id").alias("vec_id"),
        F.col("_vec").alias("embedding"),
    ).write.parquet(str(root / "bucket_ledger" / "b0"))

    dd.process_batch(spark.createDataFrame(b2, EMB_SCHEMA), 1)
    kept = sorted(r.vec_id for r in dd.kept().collect())
    assert 4 not in kept and 6 not in kept
    assert 5 in kept


# ---------------------------------------------------------------------------
# r14 ADVICE closures: strict kept()/results_df() reads and the _SUCCESS
# marker requirement enforced at construction
# ---------------------------------------------------------------------------


def test_kept_before_any_batch_raises_descriptive(spark, tmp_path_factory):
    import pytest as _pytest

    from next_plaid_spark.streaming.curation import StreamingBloomDedup

    tmp = tmp_path_factory.mktemp("keptempty")
    dd = StreamingBloomDedup(spark, str(tmp / "root"), threshold=0.5)
    with _pytest.raises(FileNotFoundError, match="no committed kept batches"):
        dd.kept()


def test_text_dedup_missing_kept_behind_ledger_raises(spark,
                                                      tmp_path_factory):
    """r13 ADVICE: a ledger that references kept batches which are gone
    must raise a descriptive error, not AttributeError on None."""
    import shutil

    import pytest as _pytest

    from next_plaid_spark.streaming.curation import StreamingTextDedup

    tmp = tmp_path_factory.mktemp("txtmissingkept")
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    dd = StreamingTextDedup(spark, str(tmp / "root"), threshold=0.5)
    dd.process_batch(spark.createDataFrame([(1, base)], DOC_SCHEMA), 0)
    shutil.rmtree(str(tmp / "root" / "kept"))           # corrupt the state
    with _pytest.raises(FileNotFoundError, match="corrupted sink state"):
        dd.process_batch(
            spark.createDataFrame([(2, base + " tail")], DOC_SCHEMA), 1)


def test_disabled_success_markers_fail_loudly(spark, tmp_path_factory):
    """r13 ADVICE: with marksuccessfuljobs=false the protocol would
    silently drop committed state — construction must fail instead."""
    import pytest as _pytest

    from next_plaid_spark.streaming.curation import StreamingBloomDedup

    tmp = tmp_path_factory.mktemp("nomarkers")
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    old = conf.get(key)
    conf.set(key, "false")
    try:
        with _pytest.raises(RuntimeError, match="_SUCCESS"):
            StreamingBloomDedup(spark, str(tmp / "root"), threshold=0.5)
    finally:
        if old is None:
            conf.unset(key)
        else:
            conf.set(key, old)


def test_retract_rewrites_only_affected_dirs(spark, tmp_path_factory):
    """r14: retract folds ONLY the kept dirs containing retracted docs
    into a new generation; untouched dirs keep their exact bytes — a
    takedown of a few docs must not rewrite the whole kept corpus."""
    from next_plaid_spark.streaming.curation import StreamingBloomDedup

    tmp = tmp_path_factory.mktemp("retractaffected")
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    other = "one two three four five six seven eight nine ten eleven"
    fresh = "totally new words appear here nothing repeats at all today"
    dd = StreamingBloomDedup(spark, str(tmp / "root"), threshold=0.5,
                             counting=True)
    for i, rows in enumerate(([(1, base)], [(2, other)], [(3, fresh)])):
        dd.process_batch(spark.createDataFrame(rows, DOC_SCHEMA), i)

    def _stats(d):
        return {f: (os.stat(os.path.join(d, f)).st_ino,
                    os.stat(os.path.join(d, f)).st_mtime_ns)
                for f in os.listdir(d)}

    b1 = str(tmp / "root" / "kept" / "b1")
    b2 = str(tmp / "root" / "kept" / "b2")
    before = (_stats(b1), _stats(b2))
    dd.retract(spark.createDataFrame([(1, "")], DOC_SCHEMA))  # doc 1 ∈ b0
    # doc 1's dir was folded away; the other two dirs are byte-untouched
    names = sorted(os.path.basename(d) for d in dd._kept_dirs())
    assert "b0" not in names and {"b1", "b2"} <= set(names)
    assert (_stats(b1), _stats(b2)) == before
    assert sorted(r.doc_id for r in dd.kept().collect()) == [2, 3]

    # the retracted text passes the screen again; the survivors' still
    # blocks its own dup
    dd.process_batch(spark.createDataFrame(
        [(4, base), (5, other)], DOC_SCHEMA), 3)
    assert sorted(r.doc_id for r in dd.kept().collect()) == [2, 3, 4]


def test_retract_all_docs_of_a_dir_leaves_readable_state(spark,
                                                         tmp_path_factory):
    """Retracting EVERY doc of an affected dir installs an empty (but
    schema-bearing) generation; kept() stays readable."""
    from next_plaid_spark.streaming.curation import StreamingBloomDedup

    tmp = tmp_path_factory.mktemp("retractall")
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    other = "one two three four five six seven eight nine ten eleven"
    dd = StreamingBloomDedup(spark, str(tmp / "root"), threshold=0.5,
                             counting=True)
    dd.process_batch(spark.createDataFrame(
        [(1, base), (2, other)], DOC_SCHEMA), 0)
    dd.retract(spark.createDataFrame([(1, ""), (2, "")], DOC_SCHEMA))
    assert dd.kept().count() == 0
    dd.process_batch(spark.createDataFrame([(3, base)], DOC_SCHEMA), 1)
    assert sorted(r.doc_id for r in dd.kept().collect()) == [3]
