"""Tests of the benchmark's own output checks, at a tiny size.

Each check must pass on what the engine really wrote and fail on a
deliberately corrupted copy of it: a dropped fact row, a pair below
threshold, an over-budget packed sequence, a survivor that shares a
benchmark 3-gram, a catalog result missing a row.

    python3 -m pytest perfbench/test_checks.py -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import shutil
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]
os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))

import checks  # noqa: E402
import spans  # noqa: E402
import workloads as wl  # noqa: E402


class TinyCurate(wl.Curate):
    N_DOCS = 300


class TinyIngest(wl.Ingest):
    HISTORY = 300
    BATCH = 60


class TinyStar(wl.StarEtl):
    N_PRODUCTS, N_CUSTOMERS, N_EVENTS, N_CHANGES = 40, 100, 1000, 80
    N_REL_CUSTOMERS, N_ORDERS, N_REL_EVENTS = 100, 500, 600


@pytest.fixture(scope="module")
def spark():
    from devcontainers_etl_node_spark.session import get_spark

    s = get_spark()
    yield s
    s.stop()


def _ran(cls, spark, tmp_path):
    w = cls(spark, spans.Tracer(spark, False), 7, str(tmp_path))
    w.setup(warm=False)
    w.round()
    return w


def _rewrite(path: str, fn) -> None:
    pq.write_table(fn(pq.read_table(path)), path)


def _first_file(root: str, version: int) -> str:
    return checks.manifest_files(root, version)[0]


def test_curate_checks(spark, tmp_path):
    w = _ran(TinyCurate, spark, tmp_path)
    assert w.check() == []

    def corrupted(name):
        copy = str(tmp_path / name)
        shutil.copytree(w.workdir, copy)
        return {s: os.path.join(copy, os.path.basename(d)) for s, d in w._stage_dirs().items()}

    def run(dirs):
        return checks.check_curate(w.docs_path, w.report, w.corpus, dirs, w.MAX_TOKENS)

    # over-budget sequence: fold one full sequence into another of its group
    dirs = corrupted("over_budget")
    packed = _first_file(dirs["packed"], checks.head_version(dirs["packed"]))

    def merge_two(t):
        seqs = t.group_by(["group", "seq_id"]).aggregate([("n_tokens", "sum")]).sort_by(
            [("n_tokens_sum", "descending")])
        g, a = seqs["group"][0].as_py(), seqs["seq_id"][0].as_py()
        same = pc.and_(pc.equal(seqs["group"], g), pc.not_equal(seqs["seq_id"], a))
        b = seqs.filter(same)["seq_id"][0].as_py()
        in_ab = pc.and_(pc.equal(t["group"], g), pc.is_in(t["seq_id"], pa.array([a, b])))
        total = pc.sum(t.filter(in_ab)["n_tokens"]).as_py()
        t = t.set_column(t.schema.get_field_index("seq_id"), "seq_id",
                         pc.if_else(in_ab, pa.scalar(a, t["seq_id"].type), t["seq_id"]))
        return t.set_column(t.schema.get_field_index("seq_tokens"), "seq_tokens",
                            pc.if_else(in_ab, pa.scalar(total, t["seq_tokens"].type), t["seq_tokens"]))

    _rewrite(packed, merge_two)
    assert any("budget" in f for f in run(dirs))

    # a contaminated doc slipped past decontamination
    dirs = corrupted("contaminated")
    near = pa.concat_tables(pq.read_table(p) for p in checks.manifest_files(
        dirs["near_dedup"], checks.head_version(dirs["near_dedup"])))
    clean_path = _first_file(dirs["decontaminated"], checks.head_version(dirs["decontaminated"]))
    clean = pq.read_table(clean_path)
    kept = set(pa.concat_tables(pq.read_table(p) for p in checks.manifest_files(
        dirs["decontaminated"], checks.head_version(dirs["decontaminated"])))["doc_id"].to_pylist())
    dirty = [i for i, d in enumerate(near["doc_id"].to_pylist()) if d not in kept and d % 10]
    assert dirty, "the tiny corpus must have contaminated docs"
    _rewrite(clean_path, lambda t: pa.concat_tables([t, near.take([dirty[0]]).select(t.column_names).cast(t.schema)]))
    assert clean.num_rows + 1 == pq.read_metadata(clean_path).num_rows
    assert any("3-gram" in f for f in run(dirs))


def test_ingest_checks(spark, tmp_path):
    w = _ran(TinyIngest, spark, tmp_path)
    assert w.check() == []
    batch_ids, pair_dir = w.steps[0]
    a = min(batch_ids)
    low = pa.table({"id_a": pa.array([0], pa.int64()), "id_b": pa.array([a], pa.int64()),
                    "jaccard_sim": pa.array([0.3])})
    path = os.path.join(pair_dir, "part-corrupt.parquet")
    pq.write_table(low.cast(pq.read_schema(next(
        os.path.join(pair_dir, f) for f in os.listdir(pair_dir) if f.endswith(".parquet")))), path)
    try:
        assert any("jaccard_sim 0.3" in f for f in w.check())
    finally:
        os.remove(path)


def test_star_checks(spark, tmp_path):
    w = _ran(TinyStar, spark, tmp_path)
    assert w.check() == []
    root = str(tmp_path / "fact_copy")
    shutil.copytree(w._fact_root(), root)
    _rewrite(_first_file(root, w.versions["fact_sales"]), lambda t: t.slice(1))
    fails = checks.check_star(w.src, root, w.versions["fact_sales"], w.merge_version)
    assert any("fact_sales has" in f for f in fails)

    cols, rows = w.results["pricing_summary"]
    broken = {**w.results, "pricing_summary": (cols, rows[1:])}
    assert any(f.startswith("pricing_summary") for f in checks.check_catalog(broken, wl.ORACLE, w.rel))
