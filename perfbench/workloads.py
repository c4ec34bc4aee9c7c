"""The benchmark's three workloads, each a closed loop of one operation at
a time against one local Spark session.

- ``curate``: one ``funnel.run_staged_funnel`` into a fresh workdir, report
  collected. Exercises ``operators.text`` (gate), ``operators.dedup``
  (exact + blocked MinHash), decontamination, ``operators.packing`` and five
  ``sinks.txlog`` overwrites.
- ``ingest``: the incremental cadence on the bucketed store. The base is
  built and compacted once in set-up; each round restores that base and
  applies the same fixed series of batches, one ``run_incremental_dedup``
  step per operation (MinHash all x new, history read back per step).
- ``star_etl``: the reference pipeline: ``transform_star_schema`` loaded with
  four ``txlog.tx_write`` calls, a CDC changelog applied with ``tx_merge``,
  then a pass of eight relational catalog entries. Never touches dedup.

Each workload generates its inputs from the seed (``gen``), checks its
last round's outputs (``checks``) and reports its own per-layer metrics.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time
from contextlib import contextmanager

from pyspark.sql import functions as F

import checks
import gen
from spans import WARMUP
from devcontainers_etl_node_spark import funnel, incremental
from devcontainers_etl_node_spark.operators import dedup as dd
from devcontainers_etl_node_spark.pipeline import transform_star_schema
from devcontainers_etl_node_spark.queries.catalog import ORACLE, QUERIES
from devcontainers_etl_node_spark.sinks import txlog

FUNNEL_SPANS = (*funnel.STAGES, "report")
FUNNEL_COUNTERS = ("cpu_ms", "shuffle_write_bytes", "spill_bytes", "jobs")
STEP_COUNTERS = ("input_bytes", "cpu_ms", "shuffle_write_bytes", "spill_bytes", "jobs")
STAR_TABLES = ("dim_products", "dim_customers", "fact_sales", "fact_inventory")
CATALOG_ENTRIES = ("star_enrich", "pricing_summary", "revenue_by_nation", "window_running",
                   "sessionize", "events_hourly", "topk_per_group", "asof_join")


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def dir_bytes(paths) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for p in paths for d, _, fs in os.walk(p)
               for f in fs if f.endswith(".parquet"))


def per_rep(spans) -> list[list]:
    """Spans grouped by the rep they belong to, in rep order."""
    reps: dict[str, list] = {}
    for s in spans:
        reps.setdefault(s.rep, []).append(s)
    return list(reps.values())


@contextmanager
def patched(module, attr: str, wrapper):
    """Route ``module.attr`` through ``wrapper(original)`` for the block."""
    orig = getattr(module, attr)
    setattr(module, attr, wrapper(orig))
    try:
        yield
    finally:
        setattr(module, attr, orig)


class Workload:
    name = ""
    TINY_WARMUPS = 1

    def __init__(self, spark, tracer, seed: int, run_dir: str):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.dir = os.path.join(run_dir, self.name)
        self.gen_s = 0.0

    def setup(self, warm: bool) -> None:
        """Generate the inputs; with ``warm``, first run ``TINY_WARMUPS``
        rounds over inputs a twentieth of the size (plan compilation and
        JIT at a fraction of the executor work), then one round over the
        measured inputs. The first rounds in a JVM run 1.5-2x slower than
        later ones; the tiny rounds close most of that gap cheaply."""
        raise NotImplementedError

    def round(self) -> list[float]:
        """One round of operations; returns each operation's wall seconds."""
        raise NotImplementedError

    def check(self) -> list[str]:
        raise NotImplementedError

    def bytes_per_row(self) -> float:
        raise NotImplementedError

    def layers(self) -> dict[str, float]:
        raise NotImplementedError

    def _fresh(self, name: str) -> str:
        path = os.path.join(self.dir, name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def _timed_gen(self, fn):
        t = time.perf_counter()
        out = fn()
        self.gen_s += time.perf_counter() - t
        return out


class Curate(Workload):
    name = "curate"
    N_DOCS = 1500
    MAX_TOKENS = 512

    def setup(self, warm: bool) -> None:
        self.writes: list[list[dict]] = []
        self.census: dict = {}
        if warm:
            self._inputs("warm", self.N_DOCS // 20)
            for _ in range(self.TINY_WARMUPS):
                self.round()
        self._inputs("in", self.N_DOCS)
        if warm:
            self.round()

    def _inputs(self, name: str, n_docs: int) -> None:
        self.n_docs = n_docs
        self.corpus = self._timed_gen(lambda: gen.corpus(self.seed, n_docs))
        self.docs_path = self._timed_gen(lambda: gen.write({name: self.corpus.table}, self.dir))[name]

    def _stage_dirs(self) -> dict[str, str]:
        return {s: funnel._stage_dir(self.workdir, i, s) for i, s in enumerate(funnel.STAGES, 1)}

    def round(self) -> list[float]:
        self.workdir = self._fresh("wd")
        traced = self.tracer.enabled
        writes: list[dict] = []
        captured: list = []

        def write_wrapper(orig):
            def traced_write(df, root, *a, operation=None, **kw):
                stage = operation.split(":", 1)[1]
                t = time.perf_counter()
                with self.tracer.span(f"funnel.{stage}"):
                    v = orig(df, root, *a, operation=operation, **kw)
                added = _added_entries(root, v)
                writes.append({"s": time.perf_counter() - t, "bytes": sum(e["bytes"] for e in added),
                               "files": len(added)})
                return v
            return traced_write

        def pairs_wrapper(orig):
            # the funnel evaluates the stage's build (whose MinHash pins run
            # eagerly) before it enters tx_write: a second near_dedup span
            def capture(*a, **kw):
                with self.tracer.span("funnel.near_dedup"):
                    pairs = orig(*a, **kw)
                captured.append(pairs)
                return pairs
            return capture

        t = time.perf_counter()
        with self.tracer.span("curate.op"):
            if traced:
                with patched(txlog, "tx_write", write_wrapper), patched(dd, "minhash_lsh_pairs", pairs_wrapper):
                    out = funnel.run_staged_funnel(self.spark, self.spark.read.parquet(self.docs_path),
                                                   self.workdir, max_tokens=self.MAX_TOKENS)
            else:
                out = funnel.run_staged_funnel(self.spark, self.spark.read.parquet(self.docs_path),
                                               self.workdir, max_tokens=self.MAX_TOKENS)
            with self.tracer.span("funnel.report"):
                self.report = [(r["stage"], r["docs"], r["tokens"]) for r in out["report"].collect()]
        took = time.perf_counter() - t
        if traced and self.tracer.rep != WARMUP:
            self.writes.append(writes)
            with self.tracer.span("dedup.census"):
                self.census = self._census(captured[0])
        return [took]

    def _census(self, pairs) -> dict:
        """One extra candidate census over the exact stage (traced runs
        only): the band-collision volume the blocked self-join faced, and
        the verified pairs it kept."""
        exact = txlog.tx_read(self.spark, self._stage_dirs()["exact_dedup"])
        base = exact.select(F.col("doc_id").alias("_id"), F.col("text").alias("_text"), "lang", "source")
        sig = dd.minhash_signature_table(dd.shingle_hash_rows(base.select("_id", "_text"), 5), 32)
        banded = dd.banded_signatures(sig.join(base.select("_id", "lang", "source"), "_id"), 32, 8,
                                      key_cols=("lang", "source"))
        census = dd.minhash_candidate_census(banded, key_cols=("lang", "source"))
        n_docs = census["banded_rows"] // 8
        verified = pairs.count()
        return {"band_collisions_per_doc": census["raw_band_collisions"] / max(n_docs, 1),
                "verified_pairs": verified,
                "pairs_per_collision": verified / census["raw_band_collisions"]
                if census["raw_band_collisions"] else 0.0}

    def check(self) -> list[str]:
        return checks.check_curate(self.docs_path, self.report, self.corpus, self._stage_dirs(),
                                   self.MAX_TOKENS)

    def bytes_per_row(self) -> float:
        return sum(txlog.tx_stats(d)["bytes"] for d in self._stage_dirs().values()) / self.n_docs

    def layers(self) -> dict[str, float]:
        tr = self.tracer
        out = {}
        for stage in FUNNEL_SPANS:
            reps = per_rep(tr.find(f"funnel.{stage}"))
            out[f"funnel.{stage}_s"] = median(sum(s.seconds for s in r) for r in reps)
            for c in FUNNEL_COUNTERS:
                out[f"funnel.{stage}.{c}"] = median(sum(tr.total(s, c) for s in r) for r in reps)
        # the op's self time: spread, reads, manifests and plan work between stages
        out["funnel.self_s"] = median(s.seconds - sum(k.seconds for k in tr.spans if k.parent == s.id)
                                      for s in tr.find("curate.op"))
        out.update({f"dedup.{k}": float(v) for k, v in self.census.items()})
        packed = {r[0]: r for r in self.report}["packed"]
        out["packing.sequences"] = float(packed[1])
        out["packing.fill_ratio"] = packed[2] / (packed[1] * self.MAX_TOKENS) if packed[1] else 0.0
        out["txlog.write_s"] = median(sum(w["s"] for w in ws) for ws in self.writes)
        out["txlog.bytes_written"] = median(sum(w["bytes"] for w in ws) for ws in self.writes)
        out["txlog.files_written"] = median(sum(w["files"] for w in ws) for ws in self.writes)
        return out


def _added_entries(root: str, version: int) -> list[dict]:
    m = checks.manifest(root, version)
    added = set(m.get("added", []))
    return [e for e in m["files"] if e["path"] in added]


class Ingest(Workload):
    name = "ingest"
    HISTORY = 2000
    BATCH = 200
    STEPS = 3
    BUCKETS = 16

    def setup(self, warm: bool) -> None:
        # The base build runs the same step code with empty history, so it
        # doubles as the warm-up: no separate warm-up step.
        self.inputs = self._timed_gen(lambda: gen.ingest(self.seed, self.HISTORY, self.STEPS, self.BATCH))
        tables = {"history": self.inputs.history}
        tables.update({f"batch{k}": b for k, b in enumerate(self.inputs.batches)})
        self.paths = self._timed_gen(lambda: gen.write(tables, os.path.join(self.dir, "in")))
        self.base = self._fresh("base")
        t = time.perf_counter()
        with self.tracer.span("incremental.base"):
            self._step(self.base, "history")
        self.base_s = time.perf_counter() - t
        t = time.perf_counter()
        with self.tracer.span("incremental.compact"):
            incremental.compact_dedup_store(self.spark, self.base)
        self.compact_s = time.perf_counter() - t
        self.compact_bytes = dir_bytes(glob.glob(os.path.join(self.base, "*_c*")))
        self.steps: list[tuple[set[int], str]] = []
        self.step_pairs: list[int] = []

    def _step(self, workdir: str, table: str) -> dict:
        return incremental.run_incremental_dedup(
            self.spark, self.spark.read.parquet(self.paths[table]), workdir,
            persist_shingles=True, store_buckets=self.BUCKETS)

    def round(self) -> list[float]:
        self.workdir = self._fresh("wd")
        shutil.copytree(self.base, self.workdir)
        times, steps = [], []
        for k in range(self.STEPS):
            t = time.perf_counter()
            with self.tracer.span("ingest.step", step=k):
                out = self._step(self.workdir, f"batch{k}")
            times.append(time.perf_counter() - t)
            batch_ids = set(self.inputs.batches[k]["doc_id"].to_pylist())
            steps.append((batch_ids, os.path.join(self.workdir, "pairs", f"run_{out['version']}")))
            self.step_pairs.append(out["n_pairs"])
        self.steps = steps
        return times

    def check(self) -> list[str]:
        texts = {}
        for t in [self.inputs.history, *self.inputs.batches]:
            texts.update(zip(t["doc_id"].to_pylist(), t["text"].to_pylist()))
        round_ids = set().union(*(ids for ids, _ in self.steps))
        straddling = [p for p in self.inputs.straddling if p[1] in round_ids]
        sig_dirs = sorted(glob.glob(os.path.join(self.workdir, "sigs_*")))
        return checks.check_ingest(texts, self.steps, straddling, sig_dirs,
                                   self.HISTORY + self.STEPS * self.BATCH)

    def bytes_per_row(self) -> float:
        live = glob.glob(os.path.join(self.workdir, "sigs_*")) + glob.glob(os.path.join(self.workdir, "shingles_*"))
        return dir_bytes(live) / (self.HISTORY + self.STEPS * self.BATCH)

    def layers(self) -> dict[str, float]:
        steps = self.tracer.find("ingest.step")
        out = {"incremental.base_s": self.base_s, "incremental.compact_s": self.compact_s,
               "incremental.compact_bytes_rewritten": float(self.compact_bytes),
               "incremental.step_s": median(s.seconds for s in steps),
               "incremental.step_pairs": median(self.step_pairs)}
        for c in STEP_COUNTERS:
            out[f"incremental.step_{c}"] = median(self.tracer.total(s, c) for s in steps)
        return out


class StarEtl(Workload):
    name = "star_etl"
    N_PRODUCTS = 500
    N_CUSTOMERS = 2000
    N_EVENTS = 20_000
    N_CHANGES = 1500
    # relational tables for the catalog pass (about sf0.01)
    N_REL_CUSTOMERS = 1500
    N_ORDERS = 15_000
    N_REL_EVENTS = 10_000
    # its ~20 plans keep warming for longer than the funnel's
    TINY_WARMUPS = 2

    def setup(self, warm: bool) -> None:
        if warm:
            self._inputs("warm", 1 / 20)
            for _ in range(self.TINY_WARMUPS):
                self.round()
        self._inputs("in", 1.0)
        if warm:
            self.round()

    def _inputs(self, name: str, scale: float) -> None:
        n = lambda x: max(int(x * scale), 10)  # noqa: E731
        d = os.path.join(self.dir, name)
        star = self._timed_gen(lambda: gen.star(self.seed, n(self.N_PRODUCTS), n(self.N_CUSTOMERS),
                                                n(self.N_EVENTS), n_changes=n(self.N_CHANGES)))
        self.n_loaded_rows = sum(star[t].num_rows for t in ("products", "customers", "events", "inventory"))
        self.src = self._timed_gen(lambda: gen.write(star, os.path.join(d, "src")))
        self.rel_dir = os.path.join(d, "rel")
        self.rel = self._timed_gen(lambda: gen.write(
            gen.relational(self.seed, n(self.N_REL_CUSTOMERS), n(self.N_ORDERS), n(self.N_REL_EVENTS)),
            self.rel_dir))

    def round(self) -> list[float]:
        self.workdir = self._fresh("wd")
        rd = lambda n: self.spark.read.parquet(self.src[n])  # noqa: E731
        sp = self.tracer.span
        t = time.perf_counter()
        with sp("star_etl.op"):
            tables = transform_star_schema(rd("products"), rd("customers"), rd("events"), rd("inventory"))
            self.versions = {}
            for name in STAR_TABLES:
                with sp(f"load.{name}"):
                    self.versions[name] = txlog.tx_write(tables[name], os.path.join(self.workdir, name),
                                                         mode="overwrite")
            changes = transform_star_schema(rd("products"), rd("customers"), rd("changes"),
                                            rd("inventory"))["fact_sales"]
            with sp("txlog.merge"):
                self.merge_version = txlog.tx_merge(self.spark, changes, self._fact_root(), key="event_id",
                                                    delete_col="_deleted")
            self.results = {}
            with sp("query.pass"):
                for q in CATALOG_ENTRIES:
                    with sp(f"query.{q}"):
                        df = QUERIES[q](self.spark, self.rel_dir)
                        self.results[q] = (df.columns, [tuple(r) for r in df.collect()])
        return [time.perf_counter() - t]

    def _fact_root(self) -> str:
        return os.path.join(self.workdir, "fact_sales")

    def check(self) -> list[str]:
        return (checks.check_star(self.src, self._fact_root(), self.versions["fact_sales"], self.merge_version)
                + checks.check_catalog(self.results, ORACLE, self.rel))

    def bytes_per_row(self) -> float:
        stored = sum(txlog.tx_stats(os.path.join(self.workdir, n), self.versions[n])["bytes"] for n in STAR_TABLES)
        return stored / self.n_loaded_rows

    def layers(self) -> dict[str, float]:
        tr = self.tracer
        loads = {n: tr.find(f"load.{n}") for n in STAR_TABLES}
        out = {f"load.{n}_s": median(s.seconds for s in spans) for n, spans in loads.items()}
        out["load.shuffle_write_bytes"] = median(
            sum(tr.total(s, "shuffle_write_bytes") for s in op_spans) for op_spans in zip(*loads.values()))
        out["txlog.merge_s"] = median(s.seconds for s in tr.find("txlog.merge"))
        before = {e["path"]: e["bytes"] for e in checks.manifest(self._fact_root(), self.versions["fact_sales"])["files"]}
        after = {e["path"] for e in checks.manifest(self._fact_root(), self.merge_version)["files"]}
        gone = [p for p in before if p not in after]
        out["txlog.merge_files_rewritten"] = float(len(gone))
        out["txlog.merge_bytes_rewritten"] = float(sum(before[p] for p in gone))
        out["query.pass_s"] = median(s.seconds for s in tr.find("query.pass"))
        for q in CATALOG_ENTRIES:
            spans = tr.find(f"query.{q}")
            out[f"query.{q}_s"] = median(s.seconds for s in spans)
            out[f"query.{q}.cpu_ms"] = median(tr.total(s, "cpu_ms") for s in spans)
        return out


WORKLOADS = {w.name: w for w in (Curate, Ingest, StarEtl)}
