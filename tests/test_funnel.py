"""Staged restartable funnel: parity with pretrain_prep + resume semantics."""

from __future__ import annotations

import os
import shutil

import pytest

from devcontainers_etl_node_spark import funnel
from devcontainers_etl_node_spark.queries.catalog import QUERIES, table
from tests.conftest import SF_SMALL


def _report_rows(df):
    return sorted(
        (r.stage_no, r.stage, r.docs, r.tokens) for r in df.collect()
    )


def _parquet_mtimes(path: str) -> dict[str, float]:
    # stages are txlog tables: committed data lives under <stage>/data/
    data = os.path.join(path, "data")
    return {
        f: os.path.getmtime(os.path.join(data, f))
        for f in os.listdir(data)
        if f.endswith(".parquet")
    }


@pytest.fixture(scope="module")
def funnel_reports(spark, tmp_path_factory):
    """One cold run_staged_funnel and one pretrain_prep at SF_SMALL,
    shared by the two parity tests below."""
    docs = table(spark, SF_SMALL, "documents")
    out = funnel.run_staged_funnel(
        spark, docs, str(tmp_path_factory.mktemp("staged"))
    )
    return {
        "computed": out["computed"],
        "staged": _report_rows(out["report"]),
        "single_dag": _report_rows(QUERIES["pretrain_prep"](spark, SF_SMALL)),
    }


def test_staged_funnel_matches_pretrain_prep(funnel_reports):
    # cold run computes all
    assert funnel_reports["computed"] == list(funnel.STAGES)
    assert funnel_reports["staged"] == funnel_reports["single_dag"]


def test_pretrain_prep_fused_boundary_metrics_exact(funnel_reports):
    """pretrain_prep fuses the near_dedup -> decontaminated boundary into
    one action, so both stage rows come from ``observe`` metrics of a
    single materialization job. Every metric must still be EXACT: an
    observe subtree referenced twice doubles its accumulators, and the
    %10 benchmark filter sliding below obs_near would exclude benchmark
    docs from the near_dedup row. Pin the fused report row-for-row
    against run_staged_funnel, which materializes each stage as its own
    txlog table, counts it there, and decontaminates the near-dedup
    survivors (not the exact-dedup table the fused gram branch reads),
    on a corpus where the stages actually differ (near-dup drops AND
    nonzero contamination at SF_SMALL)."""
    fused = funnel_reports["single_dag"]
    assert fused == funnel_reports["staged"]
    by_stage = {s: (d, t) for _, s, d, t in fused}
    # the stages the fused boundary touches must be non-degenerate here,
    # or this test pins nothing
    assert by_stage["near_dedup"][0] < by_stage["exact_dedup"][0]
    assert 0 < by_stage["decontaminated"][0] < by_stage["near_dedup"][0]


def test_staged_funnel_resumes_from_completed_stages(spark, tmp_path):
    docs = table(spark, SF_SMALL, "documents")
    first = funnel.run_staged_funnel(spark, docs, str(tmp_path))
    baseline = _report_rows(first["report"])

    stage1 = funnel._stage_dir(str(tmp_path), 1, "quality_gate")
    mtimes_before = _parquet_mtimes(stage1)

    # lose the last stage (simulated crash before it committed)
    shutil.rmtree(funnel._stage_dir(str(tmp_path), 5, "packed"))
    second = funnel.run_staged_funnel(spark, docs, str(tmp_path))
    assert second["computed"] == ["packed"]  # only the lost stage reran
    assert _parquet_mtimes(stage1) == mtimes_before  # stage 1 untouched
    assert _report_rows(second["report"]) == baseline


def test_staged_funnel_recomputes_downstream_of_stale_stage(spark, tmp_path):
    docs = table(spark, SF_SMALL, "documents")
    funnel.run_staged_funnel(spark, docs, str(tmp_path))

    # stage 2 lost its commit (manifest gone) → it AND everything after
    # must rerun, even though stages 3-5 still have committed outputs
    import glob as _glob

    stage2 = funnel._stage_dir(str(tmp_path), 2, "exact_dedup")
    for m in _glob.glob(os.path.join(stage2, "_txlog", "v*.json")):
        os.remove(m)
    rerun = funnel.run_staged_funnel(spark, docs, str(tmp_path))
    assert rerun["computed"] == ["exact_dedup", "near_dedup", "decontaminated", "packed"]


def test_staged_funnel_crash_between_write_and_commit_resumes_old_version(
    spark, tmp_path
):
    """The txlog wiring's whole point (r8 verdict task 5): a writer killed
    AFTER staging a stage's parquet but BEFORE the manifest commit must be
    invisible — the resumed run reads the previous committed version, not
    half a batch, and the orphaned files never surface."""
    from devcontainers_etl_node_spark.sinks import txlog

    docs = table(spark, SF_SMALL, "documents")
    first = funnel.run_staged_funnel(spark, docs, str(tmp_path))
    baseline = _report_rows(first["report"])

    # simulate the kill: a recompute of stage 3 that staged files (and a
    # torn manifest temp) but never committed
    stage3 = funnel._stage_dir(str(tmp_path), 3, "near_dedup")
    head_before = txlog.tx_head(stage3)
    orphans = txlog._stage_files(
        table(spark, SF_SMALL, "documents").limit(7), stage3
    )
    assert orphans
    torn = os.path.join(
        stage3, "_txlog", f"v{head_before + 1:012d}.json.inprogress.crashed"
    )
    with open(torn, "w") as f:
        f.write('{"version":')  # truncated mid-stream
    assert txlog.tx_head(stage3) == head_before  # commit never happened

    second = funnel.run_staged_funnel(spark, docs, str(tmp_path))
    assert second["computed"] == []  # every stage resumed from its commit
    assert _report_rows(second["report"]) == baseline
    # the orphaned files are not part of any snapshot a reader plans from
    snap_files = {
        e["path"] for e in txlog._read_manifest(stage3, txlog.tx_head(stage3))["files"]
    }
    assert snap_files.isdisjoint({e["path"] for e in orphans})


def test_staged_funnel_invalidates_on_changed_params(spark, tmp_path):
    """Changed max_tokens must invalidate the packed stage (its manifest
    records the parameter) instead of silently reusing stale output."""
    docs = table(spark, SF_SMALL, "documents")
    funnel.run_staged_funnel(spark, docs, str(tmp_path), max_tokens=512)
    rerun = funnel.run_staged_funnel(spark, docs, str(tmp_path), max_tokens=256)
    assert rerun["computed"] == ["packed"]  # only the parameter-bearing stage
    # and re-running with the original params again recomputes again (the
    # manifest now records 256)
    third = funnel.run_staged_funnel(spark, docs, str(tmp_path), max_tokens=512)
    assert third["computed"] == ["packed"]


def test_staged_funnel_invalidates_on_changed_input(spark, tmp_path):
    """A different input corpus (different fingerprint) invalidates every
    stage — a resumed run can never mix corpora."""
    docs = table(spark, SF_SMALL, "documents")
    funnel.run_staged_funnel(spark, docs, str(tmp_path))
    halved = docs.filter("doc_id % 2 = 0")
    rerun = funnel.run_staged_funnel(spark, halved, str(tmp_path))
    assert rerun["computed"] == list(funnel.STAGES)
    # explicit fingerprints drive the same mechanism (production snapshot ids)
    rerun2 = funnel.run_staged_funnel(
        spark, halved, str(tmp_path), input_fingerprint="snapshot-v2"
    )
    assert rerun2["computed"] == list(funnel.STAGES)
    rerun3 = funnel.run_staged_funnel(
        spark, halved, str(tmp_path), input_fingerprint="snapshot-v2"
    )
    assert rerun3["computed"] == []


def test_staged_funnel_block_key_is_part_of_stage_meta(spark, tmp_path):
    """r13: block_cols/budget are near_dedup stage parameters — 'auto'
    resolves to the composite (lang, source) key on this corpus, an
    explicit identical key reuses every stage, and changing the key
    invalidates near_dedup + everything downstream (never upstream)."""
    docs = table(spark, SF_SMALL, "documents")
    funnel.run_staged_funnel(spark, docs, str(tmp_path))  # auto
    explicit = funnel.run_staged_funnel(
        spark, docs, str(tmp_path), block_cols=["lang", "source"]
    )
    assert explicit["computed"] == []  # auto == explicit composite key
    rerun = funnel.run_staged_funnel(spark, docs, str(tmp_path), block_cols=["lang"])
    assert rerun["computed"] == ["near_dedup", "decontaminated", "packed"]
    # disabling the budget is also a parameter change
    rerun2 = funnel.run_staged_funnel(
        spark, docs, str(tmp_path), block_cols=["lang"], max_collisions_per_doc=None
    )
    assert rerun2["computed"] == ["near_dedup", "decontaminated", "packed"]


def test_staged_funnel_rejects_missing_block_column(spark, tmp_path):
    import pytest

    docs = table(spark, SF_SMALL, "documents")
    with pytest.raises(ValueError, match="block_cols.*not in the corpus"):
        funnel.run_staged_funnel(
            spark, docs, str(tmp_path), block_cols=["no_such_col"]
        )


def test_funnel_budget_gate_refuses_boilerplate_corpus(spark, tmp_path):
    """r12 verdict task 1 done-criterion: a planted boilerplate corpus
    (every doc shares a template -> the band census goes quadratic even
    under the composite block key) must be REFUSED by the funnel's
    default budget with the blocking recommendation — not silently paid.
    Nothing past the exact_dedup stage may commit."""
    import pytest

    template = (
        "terms of service apply to all content on this page without exception " * 4
    )
    rows = [
        (i, template + f"unique tail {i}", "en", "src0") for i in range(80)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])
    with pytest.raises(ValueError, match="pre-flight budget exceeded.*tighten block_cols"):
        funnel.run_staged_funnel(spark, docs, str(tmp_path))
    # upstream stages committed (resumable), the gated stage did not
    from devcontainers_etl_node_spark.sinks import txlog

    assert txlog.tx_head(funnel._stage_dir(str(tmp_path), 2, "exact_dedup")) is not None
    assert txlog.tx_head(funnel._stage_dir(str(tmp_path), 3, "near_dedup")) is None
    # the same corpus with the budget disabled runs to completion (the
    # caller's explicit, informed opt-out)
    out = funnel.run_staged_funnel(
        spark, docs, str(tmp_path), max_collisions_per_doc=None
    )
    assert {r.stage for r in out["report"].collect()} == {
        "raw", "quality_gate", "exact_dedup", "near_dedup", "decontaminated", "packed"
    }


def test_funnel_applies_partition_plan_scoped(spark, tmp_path, monkeypatch):
    """r14 (closing the r13 `weak`): run_staged_funnel sizes the
    near-dedup stage with minhash_partition_plan — n and avg bytes come
    from the exact_dedup stage's txlog manifest (zero extra jobs), the
    confs are live INSIDE the stage, and the session values are restored
    after. DOCS_PER_TASK is shrunk so the tiny test corpus crosses the
    32-partition floor and the conf change is observable end-to-end."""
    from devcontainers_etl_node_spark.operators import dedup as dd
    from devcontainers_etl_node_spark.sinks import txlog

    monkeypatch.setattr(dd, "DOCS_PER_TASK", 4)
    seen: dict = {}
    real = dd.applied_partition_plan

    def spy(s, n_docs, avg_doc_bytes=None):
        import contextlib

        @contextlib.contextmanager
        def run():
            with real(s, n_docs, avg_doc_bytes=avg_doc_bytes) as plan:
                seen.update(
                    n=n_docs,
                    avg=avg_doc_bytes,
                    plan=plan,
                    shuffle_inside=s.conf.get("spark.sql.shuffle.partitions"),
                    split_inside=s.conf.get("spark.sql.files.maxPartitionBytes"),
                )
                yield plan

        return run()

    monkeypatch.setattr(dd, "applied_partition_plan", spy)

    docs = table(spark, SF_SMALL, "documents")
    orig_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    orig_split = spark.conf.get("spark.sql.files.maxPartitionBytes")
    out = funnel.run_staged_funnel(spark, docs, str(tmp_path))
    assert out["computed"] == list(funnel.STAGES)

    # n/avg were read from the exact stage's committed manifest
    stats = txlog.tx_stats(funnel._stage_dir(str(tmp_path), 2, "exact_dedup"))
    assert seen["n"] == stats["rows"] > 0
    assert seen["avg"] == stats["bytes"] // stats["rows"] > 0
    # the conf actually moved inside the stage (n/4 docs-per-task > 32)
    assert int(seen["shuffle_inside"]) == max(32, stats["rows"] // 4) > 32
    assert int(seen["split_inside"].rstrip("b")) == max(seen["avg"] * 4, 4 << 20)
    # and restored after
    assert spark.conf.get("spark.sql.shuffle.partitions") == orig_shuffle
    assert spark.conf.get("spark.sql.files.maxPartitionBytes") == orig_split

    # auto_partition=False is the no-op opt-out; geometry is not stage
    # meta, so the r13-compatible workdir resumes with zero recompute
    seen.clear()
    again = funnel.run_staged_funnel(spark, docs, str(tmp_path), auto_partition=False)
    assert again["computed"] == []
    assert not seen


def test_funnel_cross_block_recovery_flag(spark, tmp_path):
    """r14 (verdict task 4): cross_block_recovery reaches the funnel —
    validated at entry (unblocked + recovery is a contradiction), part of
    the near_dedup stage meta (flipping it invalidates the stage and
    everything downstream), and the recovered run never keeps MORE docs
    than the blocked run (recovery only adds drop pairs)."""
    import pytest

    docs = table(spark, SF_SMALL, "documents")
    with pytest.raises(ValueError, match="cross_block_recovery.*block"):
        funnel.run_staged_funnel(
            spark, docs, str(tmp_path), block_cols=None, cross_block_recovery=True
        )

    base = funnel.run_staged_funnel(spark, docs, str(tmp_path))
    base_rows = {r.stage: r.docs for r in base["report"].collect()}
    rec = funnel.run_staged_funnel(
        spark, docs, str(tmp_path), cross_block_recovery=True
    )
    assert rec["computed"] == ["near_dedup", "decontaminated", "packed"]
    rec_rows = {r.stage: r.docs for r in rec["report"].collect()}
    assert rec_rows["near_dedup"] <= base_rows["near_dedup"]
    assert rec_rows["exact_dedup"] == base_rows["exact_dedup"]
    # recorded in stage meta: an identical re-run reuses every stage
    rerun = funnel.run_staged_funnel(
        spark, docs, str(tmp_path), cross_block_recovery=True
    )
    assert rerun["computed"] == []
    # and flipping back invalidates again
    back = funnel.run_staged_funnel(spark, docs, str(tmp_path))
    assert back["computed"] == ["near_dedup", "decontaminated", "packed"]


def test_pretrain_prep_budget_and_block_opt_out(spark, tmp_path):
    """r14 advice fix: pretrain_prep now mirrors run_staged_funnel's
    informed opt-out — a legitimately duplicate-heavy corpus raises
    under the default budget but runs to completion with
    max_collisions_per_doc=None, without editing the source."""
    import pytest

    template = (
        "terms of service apply to all content on this page without exception " * 4
    )
    rows = [(i, template + f"unique tail {i}", "en", "src0") for i in range(80)]
    sf = str(tmp_path / "sf")
    spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"]).write.parquet(
        f"{sf}/documents.parquet"
    )
    with pytest.raises(ValueError, match="pre-flight budget exceeded"):
        QUERIES["pretrain_prep"](spark, sf)
    out = QUERIES["pretrain_prep"](
        spark, sf, max_collisions_per_doc=None
    )
    assert {r.stage for r in out.collect()} == {
        "raw", "quality_gate", "exact_dedup", "near_dedup", "decontaminated", "packed"
    }
    # explicit block_cols override is plumbed too (lang-only key here)
    out2 = QUERIES["pretrain_prep"](
        spark, sf, block_cols=["lang"], max_collisions_per_doc=None
    )
    assert out2.count() == 6
