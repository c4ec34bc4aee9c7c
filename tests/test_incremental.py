"""Snapshot-backed incremental dedup: first run == batch, second run
pays only for the new batch, parameters are a contract, commits are
crash-ordered (snapshot fully written before the pointer moves)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from devcontainers_etl_node_spark.incremental import run_incremental_dedup
from devcontainers_etl_node_spark.operators import dedup


BASE = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"


def _corpus_a(spark):
    rows = [(1, BASE), (2, BASE.replace("lazy", "sleepy"))] + [
        (10 + i, f"historical filler number {i} with distinct vocabulary items {i * 31}")
        for i in range(8)
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _corpus_b(spark):
    rows = [
        (101, BASE.replace("tonight", "today")),
        (102, "fresh arrival text that is almost a twin of the next document body here"),
        (103, "fresh arrival text that is almost a twin of the next document body there"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_first_run_equals_batch_then_incremental_pays_only_for_new(spark, tmp_path):
    wd = str(tmp_path / "dedup_snap")
    a, b = _corpus_a(spark), _corpus_b(spark)

    r1 = run_incremental_dedup(spark, a, wd)
    got1 = {(r.id_a, r.id_b) for r in r1["pairs"].collect()}
    batch_a = {(r.id_a, r.id_b) for r in dedup.minhash_lsh_pairs(a, threshold=0.5).collect()}
    assert got1 == batch_a and (1, 2) in got1
    assert r1["version"] == 1

    r2 = run_incremental_dedup(spark, b, wd, old_docs=a)
    got2 = {(r.id_a, r.id_b) for r in r2["pairs"].collect()}
    full = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(a.unionByName(b), threshold=0.5).collect()
    }
    new_ids = {101, 102, 103}
    assert got2 == {(x, y) for x, y in full if x in new_ids or y in new_ids}
    assert (1, 2) not in got2  # history never re-pays
    assert r2["version"] == 2

    # committed snapshot == from-scratch rebuild over the union
    snap = spark.read.parquet(os.path.join(wd, "sigs_v2"))
    rebuilt = dedup.minhash_signature_table(
        dedup.shingle_hash_rows(
            a.unionByName(b).selectExpr("doc_id as _id", "text as _text")
        )
    )
    assert {r._id: list(r._sig) for r in snap.collect()} == {
        r._id: list(r._sig) for r in rebuilt.collect()
    }
    # pair history = union of per-run outputs
    hist = spark.read.parquet(os.path.join(wd, "pairs", "run_1")).unionByName(
        spark.read.parquet(os.path.join(wd, "pairs", "run_2"))
    )
    assert {(r.id_a, r.id_b) for r in hist.collect()} == full
    # v1 snapshot still intact (versioned, not overwritten)
    assert os.path.exists(os.path.join(wd, "sigs_v1", "_SUCCESS"))


def test_parameter_mismatch_fails_loudly(spark, tmp_path):
    wd = str(tmp_path / "dedup_snap2")
    a = _corpus_a(spark)
    run_incremental_dedup(spark, a, wd, num_hashes=16, bands=4)
    with pytest.raises(ValueError, match="was built with"):
        run_incremental_dedup(spark, _corpus_b(spark), wd, old_docs=a, num_hashes=32, bands=8)


def test_old_docs_required_once_snapshot_exists(spark, tmp_path):
    wd = str(tmp_path / "dedup_snap3")
    a = _corpus_a(spark)
    run_incremental_dedup(spark, a, wd)
    with pytest.raises(ValueError, match="old_docs"):
        run_incremental_dedup(spark, _corpus_b(spark), wd)


def test_corrupt_current_pointer_fails_loudly(spark, tmp_path):
    """A CURRENT file that exists but doesn't parse is corruption, not
    'no snapshot' — silently restarting at v1 would overwrite sigs_v1 and
    dedup the batch against empty history (ADVICE r4)."""
    wd = str(tmp_path / "dedup_snap4")
    a = _corpus_a(spark)
    run_incremental_dedup(spark, a, wd)
    with open(os.path.join(wd, "CURRENT"), "w") as f:
        f.write("not-a-version")
    with pytest.raises(ValueError, match="corrupt"):
        run_incremental_dedup(spark, _corpus_b(spark), wd, old_docs=a)
    # sigs_v1 untouched by the failed run
    assert os.path.exists(os.path.join(wd, "sigs_v1", "_SUCCESS"))


def test_resubmitted_batch_rejected(spark, tmp_path):
    """Committing the same batch twice would merge duplicate _id signature
    rows into the snapshot and inflate every later run (ADVICE r4) — the
    overlap gate raises before any state is written."""
    wd = str(tmp_path / "dedup_snap5")
    a, b = _corpus_a(spark), _corpus_b(spark)
    run_incremental_dedup(spark, a, wd)
    run_incremental_dedup(spark, b, wd, old_docs=a)
    with pytest.raises(ValueError, match="already present"):
        run_incremental_dedup(spark, b, wd, old_docs=a.unionByName(b))
    # the failed run committed nothing: pointer still v2, no v3 snapshot
    with open(os.path.join(wd, "CURRENT")) as f:
        assert f.read().strip() == "2"
    assert not os.path.exists(os.path.join(wd, "sigs_v3"))


# ---------------------------------------------------------------------------
# Incremental ExactSubstr (substr_clean_batch / run_incremental_substr)
# ---------------------------------------------------------------------------


def test_substr_incremental_matches_full_batch_on_corpus(spark):
    """The parity that licenses the snapshot cadence: cleaning the new
    half against the old half's gram COUNT table must equal the
    full-batch substring_dedup_clean over the whole corpus, restricted
    to the new half's docs — same rule (total distinct-doc count >= 2),
    additive counts over disjoint batches."""
    from pyspark.sql import functions as F

    from devcontainers_etl_node_spark.queries.catalog import QUERIES
    from tests.conftest import SF_SMALL

    inc = {
        r.doc_id: (r.n_tokens, r.n_kept, r.clean_text)
        for r in QUERIES["substr_incremental"](spark, SF_SMALL).collect()
    }
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    mid = docs.agg(F.expr("percentile_approx(doc_id, 0.5)")).collect()[0][0]
    full = {
        r.doc_id: (r.n_tokens, r.n_kept, r.clean_text)
        for r in QUERIES["substring_dedup_clean"](spark, SF_SMALL)
        .filter(F.col("doc_id") > mid)
        .collect()
    }
    assert inc == full and len(inc) > 0


def test_substr_incremental_snapshot_protocol(spark, tmp_path):
    """run_incremental_substr: run1 == empty-history clean; run2 cleans
    only the batch yet sees CROSS-batch duplication through the merged
    count table; counts snapshot == from-scratch counts over both
    batches; re-submitted batch ids and parameter drift fail loudly
    before any state moves."""
    from devcontainers_etl_node_spark.incremental import run_incremental_substr

    wd = str(tmp_path / "substr_snap")
    span = "alpha beta gamma delta epsilon zeta eta theta"  # one 8-gram
    a = spark.createDataFrame(
        [(1, f"{span} unique first tail words here"),
         (2, "totally different historical content with no repeats at all today")],
        ["doc_id", "text"],
    )
    b = spark.createDataFrame(
        [(101, f"{span} brand new continuation of the arriving batch"),
         (102, "independent fresh document with its own vocabulary entirely")],
        ["doc_id", "text"],
    )
    r1 = run_incremental_substr(spark, a, wd, k=8)
    assert r1["version"] == 1
    # within-batch-1 nothing repeats -> everything kept verbatim
    c1 = {r.doc_id: r for r in r1["clean"].collect()}
    assert c1[1].n_kept == c1[1].n_tokens
    # empty-history audit: nothing to retro-duplicate
    a1 = r1["audit"].collect()[0]
    assert a1.n_hist_grams == 0
    assert a1.n_overlap_grams == 0
    assert a1.retro_dup_fraction == 0.0

    r2 = run_incremental_substr(spark, b, wd, k=8)
    assert r2["version"] == 2
    c2 = {r.doc_id: r for r in r2["clean"].collect()}
    # doc 101 shares the 8-token span with HISTORY doc 1 -> span cut
    assert c2[101].n_kept == c2[101].n_tokens - 8
    assert "alpha" not in c2[101].clean_text
    # doc 102 untouched
    assert c2[102].n_kept == c2[102].n_tokens
    # retro-dup audit: the planted cross-batch span is exactly ONE
    # 8-gram that was unique in committed history (h_nd == 1) and is
    # now duplicated by the batch — visible from counts alone
    a2 = r2["audit"].collect()[0]
    assert a2.n_overlap_grams == 1
    assert a2.n_newly_dup_hist_grams == 1
    assert a2.n_hist_grams > 0
    assert a2.retro_dup_fraction == pytest.approx(1 / a2.n_hist_grams)

    # merged snapshot == from-scratch gram counts over a ∪ b
    snap = {
        (r.g, r.nd)
        for r in spark.read.parquet(os.path.join(wd, "grams_v2")).collect()
    }
    scratch = {
        (r.g, r.nd)
        for r in dedup.substr_gram_doc_counts(
            dedup.substr_gram_rows(a.unionByName(b), k=8)
        ).collect()
    }
    assert snap == scratch

    # overlap gate: nothing committed by a failed re-submit
    with pytest.raises(ValueError, match="already-committed"):
        run_incremental_substr(spark, b, wd, k=8)
    with open(os.path.join(wd, "CURRENT")) as f:
        assert f.read().strip() == "2"
    assert not os.path.exists(os.path.join(wd, "grams_v3"))
    # parameter drift fails loudly
    c = spark.createDataFrame([(201, "late batch")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="was built with"):
        run_incremental_substr(spark, c, wd, k=4)


def test_cdf_feed_from_txlog_table(spark, tmp_path):
    """run_incremental_dedup_from_table: the ingest loop consumes the
    corpus table's change feed (tx_changes) and time-travel snapshots
    (tx_read) — no directory listing, no caller-supplied batches — and
    produces the exact pairs the hand-fed incremental run produces."""
    from devcontainers_etl_node_spark.incremental import (
        run_incremental_dedup_from_table,
    )
    from devcontainers_etl_node_spark.sinks import txlog

    corpus = str(tmp_path / "corpus")
    wd = str(tmp_path / "dedup_cdf")
    a, b = _corpus_a(spark), _corpus_b(spark)

    txlog.tx_write(a, corpus)  # v0
    r1 = run_incremental_dedup_from_table(spark, corpus, wd)
    got1 = {(r.id_a, r.id_b) for r in r1["pairs"].collect()}
    batch_a = {(r.id_a, r.id_b) for r in dedup.minhash_lsh_pairs(a, threshold=0.5).collect()}
    assert got1 == batch_a and r1["corpus_version"] == 0

    txlog.tx_write(b, corpus)  # v1 append
    r2 = run_incremental_dedup_from_table(spark, corpus, wd)
    got2 = {(r.id_a, r.id_b) for r in r2["pairs"].collect()}
    full = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(a.unionByName(b), threshold=0.5).collect()
    }
    new_ids = {101, 102, 103}
    assert got2 == {(x, y) for x, y in full if x in new_ids or y in new_ids}
    assert r2["corpus_version"] == 1 and r2["version"] == 2

    # nothing new committed -> a no-op that touches no state
    r3 = run_incremental_dedup_from_table(spark, corpus, wd)
    assert r3["no_new_data"] and r3["n_pairs"] == 0 and r3["version"] == 2


def test_cdf_feed_cursor_is_exactly_once_across_crashes(spark, tmp_path):
    """Write-ahead intent: a crash AFTER the dedup commit but before the
    cursor promotion must NOT reprocess the batch (promote on restart);
    a crash BEFORE the commit must reprocess it (discard on restart)."""
    import json as _json

    from devcontainers_etl_node_spark.incremental import (
        _CURSOR,
        _INTENT,
        run_incremental_dedup_from_table,
    )
    from devcontainers_etl_node_spark.sinks import txlog

    corpus = str(tmp_path / "corpus")
    wd = str(tmp_path / "dedup_cdf")
    txlog.tx_write(_corpus_a(spark), corpus)  # v0
    run_incremental_dedup_from_table(spark, corpus, wd)
    txlog.tx_write(_corpus_b(spark), corpus)  # v1
    run_incremental_dedup_from_table(spark, corpus, wd)

    # crash-after-commit: cursor promotion lost, intent still on disk
    cursor = _json.load(open(os.path.join(wd, _CURSOR)))
    os.rename(os.path.join(wd, _CURSOR), os.path.join(wd, _INTENT))
    r = run_incremental_dedup_from_table(spark, corpus, wd)
    assert r["no_new_data"]  # batch recognized as already processed
    assert _json.load(open(os.path.join(wd, _CURSOR))) == cursor

    # crash-before-commit: intent for a dedup version that never committed
    txlog.tx_write(_corpus_b(spark).withColumn("doc_id", F.col("doc_id") + 100), corpus)  # v2
    with open(os.path.join(wd, _INTENT), "w") as f:
        _json.dump({"dedup_version": 99, "corpus_version": 2}, f)
    r2 = run_incremental_dedup_from_table(spark, corpus, wd)
    assert not r2.get("no_new_data")  # the batch WAS (re)processed
    assert r2["corpus_version"] == 2 and r2["version"] == 3
    assert not os.path.exists(os.path.join(wd, _INTENT))


def test_cdf_feed_rejects_overwritten_corpus(spark, tmp_path):
    from devcontainers_etl_node_spark.incremental import (
        run_incremental_dedup_from_table,
    )
    from devcontainers_etl_node_spark.sinks import txlog

    corpus = str(tmp_path / "corpus")
    wd = str(tmp_path / "dedup_cdf")
    txlog.tx_write(_corpus_a(spark), corpus)  # v0
    run_incremental_dedup_from_table(spark, corpus, wd)
    txlog.tx_write(_corpus_b(spark), corpus, mode="overwrite")  # v1 rewrite
    with pytest.raises(ValueError, match="OVERWRITTEN"):
        run_incremental_dedup_from_table(spark, corpus, wd)


def test_cdf_feed_substr_twin(spark, tmp_path):
    """run_incremental_substr_from_table: the ExactSubstr runner rides
    the same cursor protocol — first run cleans the whole snapshot,
    appended batches pay only for themselves (gram counts additive, no
    historical text), unchanged corpus is a no-op."""
    from devcontainers_etl_node_spark.incremental import (
        run_incremental_substr_from_table,
    )
    from devcontainers_etl_node_spark.sinks import txlog

    corpus = str(tmp_path / "corpus")
    wd = str(tmp_path / "substr_cdf")
    span = " ".join(f"planted{j}" for j in range(16))
    mk = lambda i, extra: (i, (f"{span} " if extra else "") + " ".join(
        f"w{i}x{t}" for t in range(24)
    ))
    a = spark.createDataFrame([mk(1, True), mk(2, True), mk(3, False)], ["doc_id", "text"])
    b = spark.createDataFrame([mk(11, True), mk(12, False)], ["doc_id", "text"])

    txlog.tx_write(a, corpus)  # v0
    r1 = run_incremental_substr_from_table(spark, corpus, wd)
    assert r1["n_docs"] == 3 and r1["corpus_version"] == 0

    txlog.tx_write(b, corpus)  # v1 append
    r2 = run_incremental_substr_from_table(spark, corpus, wd)
    assert r2["corpus_version"] == 1 and r2["version"] == 2
    # only batch-b docs in this run's clean output
    assert {r.doc_id for r in r2["clean"].collect()} == {11, 12}
    # doc 11's planted span duplicates committed history -> it was cut
    got11 = {r.doc_id: r.clean_text for r in r2["clean"].collect()}[11]
    assert "planted0" not in got11

    r3 = run_incremental_substr_from_table(spark, corpus, wd)
    assert r3["no_new_data"] and r3["n_docs"] == 0


def test_incremental_wrapper_plumbs_blocking_and_budget(spark, tmp_path):
    """r13 (closing the r12 `weak` at the pipeline layer): the snapshot
    wrapper accepts block_cols + max_collisions_per_doc and threads them
    to the operator — first run with EMPTY history must work blocked
    (the empty history carries the full schema, so block values derive),
    pairs must respect the block contract, and a boilerplate batch must
    trip the budget BEFORE any snapshot state is written."""
    wd = str(tmp_path / "blk_snap")
    rows = [
        (1, BASE, "en"),
        (2, BASE.replace("lazy", "sleepy"), "en"),
        (3, BASE.replace("quick", "rapid"), "de"),  # near-dup but cross-block
        (10, "totally different historical filler text with its own words", "en"),
    ]
    a = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    r1 = run_incremental_dedup(spark, a, wd, block_cols=["lang"])
    got = {(r.id_a, r.id_b) for r in r1["pairs"].collect()}
    assert (1, 2) in got
    assert not any(3 in p for p in got)  # cross-block pair out of contract

    # second batch, still blocked: old_docs carries the block column
    b = spark.createDataFrame(
        [(101, BASE.replace("tonight", "today"), "en")], ["doc_id", "text", "lang"]
    )
    r2 = run_incremental_dedup(spark, b, wd, old_docs=a, block_cols=["lang"])
    got2 = {(r.id_a, r.id_b) for r in r2["pairs"].collect()}
    assert (1, 101) in got2 and (2, 101) in got2

    # budget gate: a boilerplate batch refuses before the band join and
    # commits NOTHING (pointer still at v2)
    template = "identical boilerplate body repeated across every doc here " * 4
    boiler = spark.createDataFrame(
        [(200 + i, template + f"tail {i}", "en") for i in range(30)],
        ["doc_id", "text", "lang"],
    )
    with pytest.raises(ValueError, match="pre-flight budget exceeded"):
        run_incremental_dedup(
            spark,
            boiler,
            wd,
            old_docs=a.unionByName(b),
            block_cols=["lang"],
            max_collisions_per_doc=2.0,
        )
    with open(os.path.join(wd, "CURRENT")) as f:
        assert f.read().strip() == "2"


def test_blocked_incremental_rejects_duplicate_batch_ids(spark):
    """r14 advice (dedup.py census denominator): with block_cols set the
    block join is keyed on new_docs ROWS, so a duplicate id in the batch
    would fan out the banded signatures and inflate the census, the
    budget denominator, and the band join. The gate must refuse loudly;
    the same duplicate batch UNBLOCKED keeps the historical collapse
    semantics (signature groupBy merges the rows)."""
    hist = spark.createDataFrame(
        [(1, "totally different historical filler text with its own words", "en")],
        ["doc_id", "text", "lang"],
    )
    hist_sigs = dedup.minhash_signature_table(
        dedup.shingle_hash_rows(
            hist.select(F.col("doc_id").alias("_id"), F.col("text").alias("_text"))
        )
    )
    dup_batch = spark.createDataFrame(
        [(7, BASE, "en"), (7, BASE, "en"), (8, BASE + " extra", "en")],
        ["doc_id", "text", "lang"],
    )
    with pytest.raises(ValueError, match="duplicate id rows"):
        dedup.minhash_incremental_pairs(
            hist, hist_sigs, dup_batch, block_cols=["lang"]
        )
    # unblocked: same batch is accepted (groupBy collapses the dup rows)
    pairs, _sigs = dedup.minhash_incremental_pairs(
        hist, hist_sigs, dup_batch
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (7, 8) in got


def test_blocked_incremental_committed_id_error_wins(spark):
    """A blocked batch that both repeats an id and re-submits a committed
    id always raises the committed-id error, whatever order the two
    checks' rows come back in."""
    hist = spark.createDataFrame(
        [(1, "totally different historical filler text with its own words", "en")],
        ["doc_id", "text", "lang"],
    )
    hist_sigs = dedup.minhash_signature_table(
        dedup.shingle_hash_rows(
            hist.select(F.col("doc_id").alias("_id"), F.col("text").alias("_text"))
        )
    )
    both_faults = spark.createDataFrame(
        [(7, BASE, "en"), (7, BASE, "en"), (1, BASE + " extra", "en")],
        ["doc_id", "text", "lang"],
    )
    with pytest.raises(ValueError, match="already present in the committed snapshot"):
        dedup.minhash_incremental_pairs(
            hist, hist_sigs, both_faults, block_cols=["lang"]
        )


def test_persist_shingles_parity_and_contract(spark, tmp_path):
    """r13 space-for-time option: a persist_shingles cadence emits pair
    sets IDENTICAL to the text-reshingle cadence, never needs old_docs
    (unblocked), writes per-batch shingle deltas in the same version as
    the sigs, and treats the flag as part of the snapshot contract
    (mismatch fails loudly; pre-r13 manifests read as False)."""
    import json

    a, b = _corpus_a(spark), _corpus_b(spark)

    wd_ps = str(tmp_path / "ps")
    r1 = run_incremental_dedup(spark, a, wd_ps, persist_shingles=True)
    # second batch: NO old_docs — the persisted shingles carry the verify
    r2 = run_incremental_dedup(spark, b, wd_ps, persist_shingles=True)
    wd_tx = str(tmp_path / "tx")
    t1 = run_incremental_dedup(spark, a, wd_tx)
    t2 = run_incremental_dedup(spark, b, wd_tx, old_docs=a)
    for r, t in ((r1, t1), (r2, t2)):
        assert {(p.id_a, p.id_b, round(p.jaccard_sim, 9)) for p in r["pairs"].collect()} == {
            (p.id_a, p.id_b, round(p.jaccard_sim, 9)) for p in t["pairs"].collect()
        }
    # delta dirs exist per version; their union covers every sig id
    assert os.path.exists(os.path.join(wd_ps, "shingles_b1", "_SUCCESS"))
    assert os.path.exists(os.path.join(wd_ps, "shingles_b2", "_SUCCESS"))
    sig_ids = {
        r._id for r in spark.read.parquet(os.path.join(wd_ps, "sigs_v2")).collect()
    }
    sh_ids = {
        r._id
        for r in spark.read.parquet(
            os.path.join(wd_ps, "shingles_b1"), os.path.join(wd_ps, "shingles_b2")
        )
        .select("_id")
        .distinct()
        .collect()
    }
    assert sig_ids == sh_ids

    # contract: flipping the flag on an existing workdir fails loudly
    with pytest.raises(ValueError, match="was built with"):
        run_incremental_dedup(spark, b, wd_tx, old_docs=a, persist_shingles=True)
    with pytest.raises(ValueError, match="was built with"):
        run_incremental_dedup(spark, _corpus_b(spark), wd_ps)
    # a text cadence still demands old_docs once a snapshot exists
    with pytest.raises(ValueError, match="old_docs is required"):
        run_incremental_dedup(spark, b, wd_tx)
    # pre-r13 manifest (no persist_shingles key) keeps reading as False
    mpath = os.path.join(wd_tx, "_MANIFEST.json")
    with open(mpath) as f:
        m = json.load(f)
    m.pop("persist_shingles")
    with open(mpath, "w") as f:
        json.dump(m, f)
    c = spark.createDataFrame(
        [(500, "a brand new unique document body with its very own words entirely")],
        ["doc_id", "text"],
    )
    out = run_incremental_dedup(spark, c, wd_tx, old_docs=a.unionByName(b))
    assert out["version"] == 3


def test_cdf_feed_production_cadence_blocked_gated_persisted(spark, tmp_path):
    """r13 composition gate: the full production cadence — a txlog corpus
    table's CHANGE FEED driving blocked + budget-gated + persist_shingles
    incremental dedup across three appends — produces exactly the
    blocked full-batch pair set restricted to new-id pairs, never touches
    state on a no-op, and keeps the shingle deltas covering every sig id
    at each version."""
    from devcontainers_etl_node_spark.incremental import (
        run_incremental_dedup_from_table,
    )
    from devcontainers_etl_node_spark.sinks import txlog

    corpus = str(tmp_path / "corpus")
    wd = str(tmp_path / "dedup_prod")
    kw = dict(
        block_cols=["lang"], max_collisions_per_doc=50.0, persist_shingles=True
    )

    def docs(rows):
        return spark.createDataFrame(rows, ["doc_id", "text", "lang"])

    a = docs(
        [(1, BASE, "en"), (2, BASE.replace("lazy", "sleepy"), "en"),
         (3, BASE.replace("quick", "rapid"), "de"),
         (10, "historical filler body with enough distinct words to stand alone", "en")]
    )
    b = docs([(101, BASE.replace("tonight", "today"), "en"),
              (102, BASE.replace("dog", "cat"), "de")])
    c = docs([(201, BASE.replace("woods", "hills"), "de")])

    txlog.tx_write(a, corpus)  # v0
    seen = set()
    for i, batch in enumerate((None, b, c)):  # None = first run consumes v0
        if batch is not None:
            txlog.tx_write(batch, corpus)
        out = run_incremental_dedup_from_table(spark, corpus, wd, **kw)
        seen |= {(r.id_a, r.id_b) for r in out["pairs"].collect()}
        assert out["version"] == i + 1

    whole = a.unionByName(b).unionByName(c)
    want = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(
            whole, threshold=0.5, block_cols=["lang"]
        ).collect()
    }
    # union of per-run outputs == blocked full-batch pair set (every pair
    # is new at exactly one cadence step)
    assert seen == want
    assert (1, 2) in want and (3, 102) in want  # en-en and de-de
    assert not any({p[0], p[1]} == {3, 101} for p in want)  # cross-block
    # shingle deltas cover the sig snapshot at the head version
    sig_ids = {
        r._id for r in spark.read.parquet(os.path.join(wd, "sigs_v3")).collect()
    }
    sh_ids = {
        r._id
        for r in spark.read.parquet(
            *[os.path.join(wd, f"shingles_b{v}") for v in (1, 2, 3)]
        ).select("_id").distinct().collect()
    }
    assert sig_ids == sh_ids == {1, 2, 3, 10, 101, 102, 201}
    # no-op run touches nothing
    out = run_incremental_dedup_from_table(spark, corpus, wd, **kw)
    assert out["no_new_data"] and out["version"] == 3


def test_incremental_applies_partition_plan_and_records_stats(spark, tmp_path, monkeypatch):
    """r14 (closing the r13 `weak`): run_incremental_dedup sizes its band
    join + verify with minhash_partition_plan — n = committed history
    (from the manifest's _stats, recorded at each commit: NO count job on
    later runs) + the batch, scan splits from the batch's on-disk bytes —
    scoped set-then-restore; and the _stats bookkeeping key never trips
    the LSH-parameter contract check."""
    import json

    from devcontainers_etl_node_spark.operators import dedup as dd

    monkeypatch.setattr(dd, "DOCS_PER_TASK", 2)
    seen: list[dict] = []
    real = dd.applied_partition_plan

    def spy(s, n_docs, avg_doc_bytes=None, open_cost_bytes=None):
        import contextlib

        @contextlib.contextmanager
        def run():
            with real(
                s, n_docs, avg_doc_bytes=avg_doc_bytes, open_cost_bytes=open_cost_bytes
            ) as plan:
                seen.append(
                    dict(
                        n=n_docs,
                        avg=avg_doc_bytes,
                        shuffle_inside=s.conf.get("spark.sql.shuffle.partitions"),
                    )
                )
                yield plan

        return run()

    monkeypatch.setattr(dd, "applied_partition_plan", spy)

    wd = str(tmp_path / "wd")
    # parquet-backed batches so the split sizing sees on-disk files
    a_path, b_path = str(tmp_path / "a"), str(tmp_path / "b")
    _corpus_a(spark).write.parquet(a_path)
    _corpus_b(spark).write.parquet(b_path)
    a, b = spark.read.parquet(a_path), spark.read.parquet(b_path)
    orig_shuffle = spark.conf.get("spark.sql.shuffle.partitions")

    r1 = run_incremental_dedup(spark, a, wd)
    assert seen[0]["n"] == 10 and seen[0]["avg"] > 0
    assert int(seen[0]["shuffle_inside"]) == 32  # floor at this size
    manifest = json.load(open(os.path.join(wd, "_MANIFEST.json")))
    assert manifest["_stats"] == {"n_docs": 10}
    assert spark.conf.get("spark.sql.shuffle.partitions") == orig_shuffle

    # second run: history size comes from the manifest (no sig count) and
    # the batch joins it
    r2 = run_incremental_dedup(spark, b, wd, old_docs=a)
    assert seen[1]["n"] == 13
    assert json.load(open(os.path.join(wd, "_MANIFEST.json")))["_stats"] == {
        "n_docs": 13
    }
    assert r1["version"] == 1 and r2["version"] == 2


def test_incremental_pre_r14_manifest_counts_sigs_fallback(spark, tmp_path):
    """A pre-r14 manifest (no _stats key) must neither fail the contract
    check nor break partition sizing — the history size falls back to one
    count over the committed signature table."""
    import json

    wd = str(tmp_path / "wd")
    a, b = _corpus_a(spark), _corpus_b(spark)
    run_incremental_dedup(spark, a, wd)
    mpath = os.path.join(wd, "_MANIFEST.json")
    m = json.load(open(mpath))
    del m["_stats"]  # simulate the r13 manifest
    json.dump(m, open(mpath, "w"))

    r2 = run_incremental_dedup(spark, b, wd, old_docs=a)
    assert r2["version"] == 2
    # and the new commit re-records the stats for the next run
    assert json.load(open(mpath))["_stats"] == {"n_docs": 13}


def test_incremental_auto_partition_opt_out(spark, tmp_path, monkeypatch):
    from devcontainers_etl_node_spark.operators import dedup as dd

    def boom(*a, **k):
        raise AssertionError("applied_partition_plan must not be called")

    monkeypatch.setattr(dd, "applied_partition_plan", boom)
    wd = str(tmp_path / "wd")
    out = run_incremental_dedup(spark, _corpus_a(spark), wd, auto_partition=False)
    assert out["version"] == 1


def test_manual_partition_batches_keep_stats_honest(spark, tmp_path, monkeypatch):
    """r14 review fix: a batch committed with ``auto_partition=False``
    must still advance the manifest's ``_stats.n_docs`` — otherwise every
    LATER auto_partition run sizes its plan from a count that silently
    excludes the manual batches, and the undercount never self-heals
    (reproducing at scale the geometry failure auto_partition prevents).
    When the history size is unknowable (pre-r14 manifest), the manual
    run must leave ``_stats`` ABSENT rather than commit a wrong number."""
    import json

    from devcontainers_etl_node_spark.operators import dedup as dd

    wd = str(tmp_path / "wd")
    a, b = _corpus_a(spark), _corpus_b(spark)
    run_incremental_dedup(spark, a, wd)  # auto run: _stats = 10
    mpath = os.path.join(wd, "_MANIFEST.json")
    assert json.load(open(mpath))["_stats"] == {"n_docs": 10}

    def boom(*args, **kw):
        raise AssertionError("applied_partition_plan must not be called")

    monkeypatch.setattr(dd, "applied_partition_plan", boom)
    run_incremental_dedup(spark, b, wd, old_docs=a, auto_partition=False)
    assert json.load(open(mpath))["_stats"] == {"n_docs": 13}

    # pre-r14 manifest (no _stats): the manual run leaves it absent —
    # the next auto run falls back to counting the store
    m = json.load(open(mpath))
    del m["_stats"]
    json.dump(m, open(mpath, "w"))
    c = spark.createDataFrame(
        [(201, "entirely new closing batch text one"), (202, "entirely new closing batch text two")],
        ["doc_id", "text"],
    )
    run_incremental_dedup(
        spark, c, wd, old_docs=a.unionByName(b), auto_partition=False
    )
    assert "_stats" not in json.load(open(mpath))


# ---------------------------------------------------------------------------
# Bucketed store layout (r14: store_buckets)
# ---------------------------------------------------------------------------


def test_bucketed_store_parity_and_layout(spark, tmp_path):
    """r14 bucketed layout: pair sets (jaccard included) identical to the
    legacy persist_shingles cadence, sig + shingle deltas land as
    _bkt-partitioned per-batch dirs (no sigs_v* rewrite ever), and the
    layout is part of the snapshot contract in BOTH directions."""
    a, b = _corpus_a(spark), _corpus_b(spark)

    wd = str(tmp_path / "v2")
    r1 = run_incremental_dedup(spark, a, wd, persist_shingles=True, store_buckets=8)
    r2 = run_incremental_dedup(spark, b, wd, persist_shingles=True, store_buckets=8)
    wd_ps = str(tmp_path / "legacy")
    t1 = run_incremental_dedup(spark, a, wd_ps, persist_shingles=True)
    t2 = run_incremental_dedup(spark, b, wd_ps, persist_shingles=True)
    for r, t in ((r1, t1), (r2, t2)):
        assert {(p.id_a, p.id_b, round(p.jaccard_sim, 9)) for p in r["pairs"].collect()} == {
            (p.id_a, p.id_b, round(p.jaccard_sim, 9)) for p in t["pairs"].collect()
        }

    # layout: per-batch PLAIN deltas carrying _bkt as a data column (dir
    # partitioning belongs to the compacted base); NO monolithic rewrites
    for v in (1, 2):
        for prefix in ("sigs_b", "shingles_b"):
            d = os.path.join(wd, f"{prefix}{v}")
            assert os.path.exists(os.path.join(d, "_SUCCESS"))
            assert "_bkt" in spark.read.parquet(d).columns
        assert not os.path.exists(os.path.join(wd, f"sigs_v{v}"))
    # the delta union == a from-scratch signature rebuild over the corpus
    # (per-dir reads: each delta is its own partitioned root, same as the
    # production reader — a single multi-path read would trip Spark's
    # CONFLICTING_DIRECTORY_STRUCTURES partition discovery)
    snap = spark.read.parquet(os.path.join(wd, "sigs_b1")).unionByName(
        spark.read.parquet(os.path.join(wd, "sigs_b2"))
    )
    rebuilt = dedup.minhash_signature_table(
        dedup.shingle_hash_rows(
            _corpus_a(spark).unionByName(_corpus_b(spark)).selectExpr(
                "doc_id as _id", "text as _text"
            )
        )
    )
    assert {r._id: list(r._sig) for r in snap.select("_id", "_sig").collect()} == {
        r._id: list(r._sig) for r in rebuilt.collect()
    }

    # contract: the layout flag (and bucket count) pin the workdir
    with pytest.raises(ValueError, match="was built with"):
        run_incremental_dedup(spark, b, wd, persist_shingles=True)  # drop buckets
    with pytest.raises(ValueError, match="was built with"):
        run_incremental_dedup(spark, b, wd, persist_shingles=True, store_buckets=16)
    with pytest.raises(ValueError, match="was built with"):
        run_incremental_dedup(spark, b, wd_ps, persist_shingles=True, store_buckets=8)
    # invalid combinations fail before any state is touched
    with pytest.raises(ValueError, match="requires persist_shingles"):
        run_incremental_dedup(spark, b, str(tmp_path / "x"), store_buckets=8)
    with pytest.raises(ValueError, match="must be positive"):
        run_incremental_dedup(
            spark, b, str(tmp_path / "x"), persist_shingles=True, store_buckets=0
        )


def test_bucketed_store_blocked_never_needs_old_docs(spark, tmp_path):
    """Blocked bucketed cadence: history block values come from the store
    (persisted with the sigs), so old_docs is never passed — pairs match
    the blocked full-batch set restricted to new ids, the block key joins
    the manifest pin (flip fails loudly), and a budget refusal commits
    nothing."""
    rows = [
        (1, BASE, "en"),
        (2, BASE.replace("lazy", "sleepy"), "en"),
        (3, BASE.replace("quick", "rapid"), "de"),  # near-dup but cross-block
        (10, "totally different historical filler text with its own words", "en"),
    ]
    a = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    b = spark.createDataFrame(
        [(101, BASE.replace("tonight", "today"), "en"),
         (102, BASE.replace("dog", "cat"), "de")],
        ["doc_id", "text", "lang"],
    )
    wd = str(tmp_path / "v2blk")
    kw = dict(
        block_cols=["lang"],
        persist_shingles=True,
        store_buckets=8,
        max_collisions_per_doc=50.0,
    )
    r1 = run_incremental_dedup(spark, a, wd, **kw)
    r2 = run_incremental_dedup(spark, b, wd, **kw)  # NO old_docs
    got = {(r.id_a, r.id_b) for r in r1["pairs"].collect()} | {
        (r.id_a, r.id_b) for r in r2["pairs"].collect()
    }
    want = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(
            a.unionByName(b), threshold=0.5, block_cols=["lang"]
        ).collect()
    }
    assert got == want
    assert (1, 101) in got and (3, 102) in got
    assert not any({p[0], p[1]} == {3, 101} for p in got)  # cross-block

    # the block key is part of the snapshot contract in this mode
    with pytest.raises(ValueError, match="was built with"):
        run_incremental_dedup(spark, b, wd, **{**kw, "block_cols": None})
    # budget refusal: nothing committed
    template = "identical boilerplate body repeated across every doc here " * 4
    boiler = spark.createDataFrame(
        [(200 + i, template + f"tail {i}", "en") for i in range(30)],
        ["doc_id", "text", "lang"],
    )
    with pytest.raises(ValueError, match="pre-flight budget exceeded"):
        run_incremental_dedup(spark, boiler, wd, **{**kw, "max_collisions_per_doc": 2.0})
    with open(os.path.join(wd, "CURRENT")) as f:
        assert f.read().strip() == "2"
    assert not os.path.exists(os.path.join(wd, "sigs_b3"))


def test_bucketed_store_cdf_cadence(spark, tmp_path):
    """Change-feed cadence on the bucketed layout: the corpus snapshot is
    never time-traveled (tx_read of history is skipped entirely), the
    union of per-run pair outputs equals the blocked full-batch set, and
    a no-op run touches nothing."""
    from unittest import mock

    from devcontainers_etl_node_spark.incremental import (
        run_incremental_dedup_from_table,
    )
    from devcontainers_etl_node_spark.sinks import txlog

    corpus = str(tmp_path / "corpus")
    wd = str(tmp_path / "wd")
    kw = dict(
        block_cols=["lang"],
        max_collisions_per_doc=50.0,
        persist_shingles=True,
        store_buckets=8,
    )

    def docs(rows):
        return spark.createDataFrame(rows, ["doc_id", "text", "lang"])

    a = docs(
        [(1, BASE, "en"), (2, BASE.replace("lazy", "sleepy"), "en"),
         (3, BASE.replace("quick", "rapid"), "de"),
         (10, "historical filler body with enough distinct words to stand alone", "en")]
    )
    b = docs([(101, BASE.replace("tonight", "today"), "en"),
              (102, BASE.replace("dog", "cat"), "de")])
    c = docs([(201, BASE.replace("woods", "hills"), "de")])

    txlog.tx_write(a, corpus)
    seen = set()
    real_tx_read = txlog.tx_read
    for i, batch in enumerate((None, b, c)):
        if batch is not None:
            txlog.tx_write(batch, corpus)
        # the bucketed cadence must not time-travel the corpus: tx_read
        # is only legitimate for the FIRST run (cursor bootstrap reads
        # the head version as the first batch)
        with mock.patch.object(txlog, "tx_read", side_effect=real_tx_read) as tr:
            out = run_incremental_dedup_from_table(spark, corpus, wd, **kw)
            if i > 0:
                assert not any(
                    kwargs.get("version") is not None and kwargs.get("version") < i
                    for _, kwargs in tr.call_args_list
                ), "history snapshot was time-traveled"
        seen |= {(r.id_a, r.id_b) for r in out["pairs"].collect()}
        assert out["version"] == i + 1

    whole = a.unionByName(b).unionByName(c)
    want = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(
            whole, threshold=0.5, block_cols=["lang"]
        ).collect()
    }
    assert seen == want
    out = run_incremental_dedup_from_table(spark, corpus, wd, **kw)
    assert out["no_new_data"] and out["version"] == 3


def test_bucketed_store_tolerates_empty_batch_delta(spark, tmp_path):
    """An empty batch writes a _SUCCESS-only delta (partitionBy emits no
    part files for zero rows); later runs must skip such dirs instead of
    failing schema inference — and the empty batch itself must commit a
    version (the change-feed cursor advances exactly once per batch, so
    swallowing it would desync cursor and CURRENT)."""
    a, b = _corpus_a(spark), _corpus_b(spark)
    wd = str(tmp_path / "v2empty")
    kw = dict(persist_shingles=True, store_buckets=8)
    run_incremental_dedup(spark, a, wd, **kw)
    empty = b.limit(0)
    r2 = run_incremental_dedup(spark, empty, wd, **kw)
    assert r2["version"] == 2 and r2["n_pairs"] == 0
    # the run after the empty delta still reads the union and finds pairs
    r3 = run_incremental_dedup(spark, b, wd, **kw)
    assert r3["version"] == 3
    got = {(r.id_a, r.id_b) for r in r3["pairs"].collect()}
    full = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(a.unionByName(b), threshold=0.5).collect()
    }
    new_ids = {101, 102, 103}
    assert got == {(x, y) for x, y in full if x in new_ids or y in new_ids}


def test_bucketed_store_compaction(spark, tmp_path):
    """compact_dedup_store folds the per-batch delta dirs into one
    compacted base: the manifest records _compacted_through (bookkeeping,
    not contract), folded deltas are deleted, later steps read base +
    post-compaction deltas and emit identical pairs, and a second
    compaction folds base + new delta again. Legacy workdirs refuse."""
    from devcontainers_etl_node_spark.incremental import compact_dedup_store

    a, b = _corpus_a(spark), _corpus_b(spark)
    c = spark.createDataFrame(
        [(301, BASE.replace("fox", "wolf")),
         (302, "entirely separate new arrival with unique content words")],
        ["doc_id", "text"],
    )
    kw = dict(persist_shingles=True, store_buckets=8)

    # twin workdir without compaction for pair parity
    wd_plain = str(tmp_path / "plain")
    run_incremental_dedup(spark, a, wd_plain, **kw)
    run_incremental_dedup(spark, b, wd_plain, **kw)
    want = {
        (r.id_a, r.id_b, round(r.jaccard_sim, 9))
        for r in run_incremental_dedup(spark, c, wd_plain, **kw)["pairs"].collect()
    }

    wd = str(tmp_path / "compacted")
    run_incremental_dedup(spark, a, wd, **kw)
    run_incremental_dedup(spark, b, wd, **kw)
    out = compact_dedup_store(spark, wd)
    assert out["compacted_through"] == 2 and out["folded_dirs"] == 4
    import json

    assert json.load(open(os.path.join(wd, "_MANIFEST.json")))[
        "_compacted_through"
    ] == 2
    assert os.path.exists(os.path.join(wd, "sigs_c2", "_SUCCESS"))
    assert any(
        e.startswith("_bkt=") for e in os.listdir(os.path.join(wd, "sigs_c2"))
    )  # the base IS dir-partitioned — this is where the listing prune lives
    assert not os.path.exists(os.path.join(wd, "sigs_b1"))
    assert not os.path.exists(os.path.join(wd, "shingles_b2"))

    # the next step reads base + its own delta and matches the twin
    r3 = run_incremental_dedup(spark, c, wd, **kw)
    got = {(r.id_a, r.id_b, round(r.jaccard_sim, 9)) for r in r3["pairs"].collect()}
    assert got == want
    # second compaction folds base (c2) + the new delta (b3)
    out2 = compact_dedup_store(spark, wd)
    assert out2["compacted_through"] == 3 and out2["folded_dirs"] == 4
    assert os.path.exists(os.path.join(wd, "sigs_c3", "_SUCCESS"))
    assert not os.path.exists(os.path.join(wd, "sigs_c2"))
    # nothing left to fold
    assert compact_dedup_store(spark, wd)["folded_dirs"] == 0
    # a batch AFTER compaction must carry _compacted_through through its
    # own manifest rewrite — dropping it would point the next reader at
    # the deleted per-batch deltas and silently lose all compacted history
    d4 = spark.createDataFrame(
        [(401, BASE.replace("dog", "hound"))], ["doc_id", "text"]
    )
    r4 = run_incremental_dedup(spark, d4, wd, **kw)
    got4 = {(r.id_a, r.id_b) for r in r4["pairs"].collect()}
    assert (1, 401) in got4  # doc 1 lives only in the compacted base

    # legacy layout refuses (its sig snapshot is already one dir)
    wd_legacy = str(tmp_path / "legacy")
    run_incremental_dedup(spark, a, wd_legacy)
    with pytest.raises(ValueError, match="legacy layout"):
        compact_dedup_store(spark, wd_legacy)
