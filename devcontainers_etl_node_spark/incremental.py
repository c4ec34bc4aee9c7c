"""Snapshot-backed incremental dedup — the production wrapper around
``operators.dedup.minhash_incremental_pairs``.

A 100 TB corpus is deduped ONCE; after that, every ingest batch should
pay only for itself. The costly artifact is the MinHash signature table
(one full corpus scan + shingle pass to build); this module persists it
as a versioned parquet snapshot under a workdir and replays the
incremental contract across runs:

- ``<workdir>/sigs_v<N>/``   — immutable signature snapshots (parquet);
- ``<workdir>/CURRENT``      — pointer file naming the committed snapshot,
  swapped atomically (``os.replace``) AFTER the new snapshot is fully
  written, so a crash mid-run leaves the previous snapshot committed and
  intact (the same versioned-dir + pointer discipline as
  streaming/pipeline.py's fingerprint sink);
- ``<workdir>/_MANIFEST.json`` — the LSH parameters (shingle_k,
  num_hashes, bands, threshold) the snapshot was built with. Signatures
  from different parameters never collide correctly, so a run with
  mismatched parameters fails loudly instead of silently emitting
  garbage pairs (the funnel.py stage-manifest lesson applied to an
  index artifact);
- ``<workdir>/pairs/run_<N>/`` — each run's verified pair output, kept
  per-run so the full pair history is the union of committed runs.

The FIRST run is just the incremental run with empty history (new×new
band collisions cover the whole batch), so there is one code path.
"""

from __future__ import annotations

import json
import os
from contextlib import nullcontext as _nullcontext

from pyspark.sql import DataFrame, SparkSession, functions as F

from devcontainers_etl_node_spark.operators import dedup as dd

_MANIFEST = "_MANIFEST.json"
_CURRENT = "CURRENT"


def _read_current(workdir: str) -> int | None:
    # Only a MISSING pointer means "no snapshot". A CURRENT file that
    # exists but does not parse is corruption: treating it as absent would
    # silently restart at v1, overwrite sigs_v1, and dedup against empty
    # history — fail loudly instead (same contract as a corrupt manifest).
    path = os.path.join(workdir, _CURRENT)
    try:
        with open(path) as f:
            raw = f.read()
    except FileNotFoundError:
        return None
    try:
        return int(raw.strip())
    except ValueError:
        raise ValueError(
            f"{path} exists but is not a snapshot version ({raw!r}); the "
            "workdir is corrupt — restore the pointer or start a fresh workdir"
        )


def _write_manifest(mpath: str, params: dict) -> None:
    """Atomic manifest write (tmp + rename): a crash mid-``json.dump``
    would otherwise leave a truncated manifest that bricks the workdir
    (every later run reads it as corrupt)."""
    tmp = mpath + ".tmp"
    with open(tmp, "w") as f:
        json.dump(params, f)
    os.replace(tmp, mpath)


def _commit_current(workdir: str, version: int) -> None:
    tmp = os.path.join(workdir, _CURRENT + ".tmp")
    with open(tmp, "w") as f:
        f.write(str(version))
    os.replace(tmp, os.path.join(workdir, _CURRENT))


def run_incremental_dedup(
    spark: SparkSession,
    new_docs: DataFrame,
    workdir: str,
    old_docs: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    block_cols: list[str] | None = None,
    max_collisions_per_doc: float | None = None,
    persist_shingles: bool = False,
    store_buckets: int | None = None,
    auto_partition: bool = True,
) -> dict:
    """Dedup one ingest batch against the committed signature snapshot.

    ``store_buckets`` (r14, the bucketed-store layout — "v2"): store the
    snapshot as per-batch DELTAS plus a periodically COMPACTED base,
    bucketed by ``pmod(xxhash64(cast(id as string)), store_buckets)``:

    - ``<workdir>/sigs_b<N>/`` / ``shingles_b<N>/`` — plain batch-sized
      delta files carrying ``_bkt`` as a data column (each run writes
      only ITS batch — the O(history) snapshot rewrite of the legacy
      layout becomes an O(batch) append; a hive-partitioned delta would
      instead cost O(min(batch, buckets)) file commits per step,
      profiled at 3x the step's whole compute);
    - ``<workdir>/sigs_c<V>/_bkt=*/`` / ``shingles_c<V>/_bkt=*/`` — the
      compacted base (:func:`compact_dedup_store` folds deltas 1..V into
      one dir-partitioned rewrite), where the verify stage's
      candidate-bucket filter prunes at LISTING time, so the dominant
      old-side read is O(candidates' buckets) instead of a full scan of
      the largest store (~2 B per corpus char); the same filter
      row-skips the small post-compaction deltas;
    - blocked runs persist the batch's ``_blk`` block values IN the sig
      rows, so ``old_docs`` is NEVER required — blocked or not, history
      block values come from the store (cold text AND cold doc tables
      stay cold; the change-feed wrapper stops time-traveling the
      corpus).

    Requires ``persist_shingles=True`` (the store IS the verify source).
    Because block values are persisted, ``block_cols`` joins the
    manifest pin in this mode (exact list, order included — the hash is
    order-sensitive): a cadence structurally cannot flip the block key
    mid-history. What stays O(history) per step is banding + census CPU
    over the compact signature union (~76 B/doc) — the measured linear
    wall (α = 1.008, PERF.md r13), now the ONLY history-proportional
    term of the step. Compact after the first (corpus-sized) build and
    periodically thereafter: steps between compactions read base +
    recent deltas.

    ``auto_partition`` (r14, closing the r13 `weak`): run the band join +
    verify under :func:`~devcontainers_etl_node_spark.operators.dedup.applied_partition_plan`
    sized to history + batch — history row count comes FREE from the
    committed manifest's ``_stats`` (recorded at each commit; a pre-r14
    manifest falls back to one cheap count over the ~128 B/doc signature
    table), the batch is counted once (one batch-sized scan, ≪ the
    shingle pass it precedes), and on-disk batch bytes size the scan
    splits. Scoped set-then-restore; monotone toward finer tasks; a
    no-op at bench scale. The failure this prevents is measured: the 4M
    first run (the whole corpus as one batch) at session defaults is the
    exact ``UNABLE_TO_ACQUIRE_MEMORY`` configuration of PERF.md r12.
    Geometry never changes results — not part of the manifest contract.

    ``persist_shingles`` (r13, space-for-time): also persist the exploded
    ``(_id, _h)`` shingle rows as per-batch delta dirs
    ``<workdir>/shingles_b<N>/`` (each run writes only ITS batch — O(batch)
    I/O; the reader unions the committed deltas, whose ids are disjoint by
    the id gate), and feed the union back as the verify stage's old side
    on later runs — the old-side
    candidate re-shingle is the largest single term of the per-batch step
    (~2 s of the ~5.2 s sf0.1 step, PERF.md r12 cadence split). The cost
    is snapshot SIZE: ~8 bytes per character of corpus text (one long
    per shingle position) vs ~128 bytes per DOC for signatures alone —
    the option trades that storage for never touching historical text
    (with it on and unblocked, ``old_docs`` is not needed at all). Like
    the LSH parameters it is part of the snapshot contract (recorded in
    the manifest; a mismatched rerun fails loudly — flipping it would
    silently verify against a missing/stale table otherwise). Both
    shingle and signature tables commit in the same version, so the
    operator's coverage invariant (every sig id has shingle rows) holds
    by construction. The batch's shingles are re-derived once for the
    write (one batch-sized pass — the save is corpus-side, the cost is
    batch-side).

    ``old_docs`` must be the corpus the committed snapshot was built
    over (text is touched only for semi-joined verify candidates); it is
    required whenever a snapshot exists. Returns ``{"pairs": DataFrame,
    "version": int, "n_pairs": int}`` with the NEW snapshot committed.

    ``block_cols`` / ``max_collisions_per_doc`` (r13, closing the r12
    `weak` at the pipeline layer): blocked banding + the census budget
    gate, passed straight to
    :func:`~devcontainers_etl_node_spark.operators.dedup.minhash_incremental_pairs`.
    Blocking is a QUERY choice, not a snapshot property (the persisted
    signature table stays block-free; block values are read from the doc
    sides per run), so neither parameter joins the ``_MANIFEST`` pin —
    but a cadence that flips the block key mid-history emits pair sets
    under different contracts across runs; keep it stable per workdir.
    The budget gate protects the cadence case the r12 census measured: a
    snapshot quietly grown past the floor crossover makes EVERY later
    batch pay O(n·m) random collisions — the gate refuses with the
    measured volume before the band join runs. With ``block_cols`` set,
    ``old_docs`` must carry the block columns for every snapshot id (the
    coverage gate in the operator fails loudly otherwise).
    """
    os.makedirs(workdir, exist_ok=True)
    if store_buckets is not None:
        if store_buckets <= 0:
            raise ValueError(f"store_buckets must be positive (got {store_buckets})")
        if not persist_shingles:
            raise ValueError(
                "store_buckets requires persist_shingles=True — the bucketed "
                "store IS the verify stage's old side; without persisted "
                "shingles there is nothing to bucket"
            )
    params = {
        "shingle_k": shingle_k,
        "num_hashes": num_hashes,
        "bands": bands,
        "threshold": threshold,
        "persist_shingles": persist_shingles,
        "store_buckets": store_buckets,
    }
    if store_buckets:
        # block values are PERSISTED in the sig deltas, so the block key is
        # a snapshot property here (exact list, order included — the block
        # hash concatenates in order); legacy layout deliberately leaves it
        # a per-query choice
        params["block_cols"] = list(block_cols) if block_cols else None
    mpath = os.path.join(workdir, _MANIFEST)
    cur = _read_current(workdir)
    existing_shingles = None
    n_hist = 0
    if cur is not None:
        try:
            with open(mpath) as f:
                committed = json.load(f)
        except (OSError, ValueError):
            raise ValueError(f"snapshot v{cur} exists but {_MANIFEST} is unreadable")
        # pre-r13 manifests predate the persist_shingles key: they mean False
        committed.setdefault("persist_shingles", False)
        # pre-r14 manifests predate the bucketed layout: legacy layout
        committed.setdefault("store_buckets", None)
        # "_"-prefixed keys are bookkeeping (r14 _stats: committed doc
        # count for partition sizing), not part of the LSH contract
        committed_core = {k: v for k, v in committed.items() if not k.startswith("_")}
        if committed_core != params:
            raise ValueError(
                f"snapshot v{cur} was built with {committed_core}; rerun with "
                f"those parameters or a fresh workdir (got {params})"
            )
        n_hist = (committed.get("_stats") or {}).get("n_docs")
        # carry ALL bookkeeping keys through this step's manifest rewrite:
        # dropping _compacted_through here would point the NEXT run's
        # reader back at per-batch deltas the compaction already deleted —
        # history would silently vanish from the union
        params = {
            **{k: v for k, v in committed.items() if k.startswith("_")},
            **params,
        }
        if old_docs is None and not store_buckets and (block_cols or not persist_shingles):
            raise ValueError(
                "old_docs is required when a snapshot exists (candidate verify"
                + (", block values" if block_cols else "")
                + ") — only an unblocked persist_shingles=True cadence or a "
                "bucketed store (store_buckets) can omit it"
            )
        existing_docs = (
            old_docs if old_docs is not None else new_docs.limit(0)
        )
        if store_buckets:
            # bucketed layout: per-batch DELTA dirs for sigs AND shingles
            # (plus, after compact_dedup_store, one compacted base dir
            # covering versions 1.._compacted_through), read as per-dir
            # unions (each dir is _bkt-partitioned; the verify prune's
            # partition filter pushes through the union to every leg's
            # listing)
            base = committed.get("_compacted_through", 0)
            existing_sigs = _union_dirs(
                spark, _store_dirs(workdir, "sigs", base, cur), drop_bkt=True
            )
            existing_shingles = _union_dirs(
                spark, _store_dirs(workdir, "shingles", base, cur)
            )
            if existing_sigs is None:
                # degenerate: every committed batch was empty — behave as
                # empty history (the shingle union is then None too, and
                # the operator's no-store verify path covers it)
                existing_sigs = spark.createDataFrame(
                    [],
                    "_id LONG, _sig ARRAY<BIGINT>"
                    + (", _blk BIGINT" if block_cols else ""),
                )
        else:
            existing_sigs = spark.read.parquet(os.path.join(workdir, f"sigs_v{cur}"))
        if persist_shingles and not store_buckets:
            # per-BATCH delta dirs (shingles_b1..b<cur>), never a merged
            # rewrite: each run writes only ITS batch's rows (O(batch)
            # I/O), and the reader unions the committed deltas — ids are
            # disjoint across batches by the id-disjointness gate, so the
            # union IS the corpus shingle table
            existing_shingles = spark.read.parquet(
                *[
                    os.path.join(workdir, f"shingles_b{v}")
                    for v in range(1, cur + 1)
                ]
            )
    else:
        sig_schema = "_id LONG, _sig ARRAY<BIGINT>"
        if store_buckets and block_cols:
            # bucketed blocked history carries persisted block values
            sig_schema += ", _blk BIGINT"
        existing_sigs = spark.createDataFrame([], sig_schema)
        # full schema, not just (id, text): blocked runs derive block
        # values from BOTH doc sides, so the empty history must carry the
        # block columns too
        existing_docs = new_docs.limit(0)

    # the sig-store union is consulted ~5x per step (id gate, census,
    # band join, both est lookups): pin it once per step. r14: the pin is
    # an eager localCheckpoint taken INSIDE the geometry scope below —
    # (a) the store read then happens exactly once, under the tuned scan
    # splits (a persist deferred the read the same way, but lazily);
    # (b) a persisted InMemoryRelation canonicalizes per consumer, so the
    # verify action's repeated subtrees lose ReusedExchange and the band
    # join replicates (measured 2.6-2.9x, OPTIMIZATION_r14.md "minhash
    # gated/blocked batch path") — checkpoint blocks canonicalize
    # identically everywhere and are freed by GC when the step's frames drop.
    pin_store = store_buckets and cur is not None
    if auto_partition:
        if n_hist is None:  # pre-r14 manifest: one count over ~128 B/doc
            # rows (legacy stores only; the store is re-read once more by
            # the in-scope pin below — post-r14 manifests carry _stats
            # and never hit this)
            n_hist = existing_sigs.count()
        n_new = new_docs.count()
        geometry = dd.applied_partition_plan(
            spark,
            max(1, n_hist + n_new),
            avg_doc_bytes=_avg_file_bytes_per_row(new_docs, n_new),
            # bucketed stores are many small files; without a realistic
            # open cost the plan's shrunk splits degenerate to
            # one-task-per-file (measured 10x step blowup, PERF.md r14)
            open_cost_bytes=65536 if store_buckets else None,
        )
        n_total = n_hist + n_new
    else:
        geometry = _nullcontext()
        # keep the committed doc count honest even when the caller manages
        # partitioning: a batch committed without refreshing ``_stats``
        # would make every LATER auto_partition run size its plan from a
        # count that silently excludes this batch — the undercount never
        # self-heals and reproduces the geometry failure auto_partition
        # exists to prevent. One column-pruned count of the batch pays for
        # that; when n_hist itself is unknowable (pre-r14 manifest) leave
        # ``_stats`` absent rather than commit a wrong number — the next
        # auto run then falls back to counting the store.
        n_total = (n_hist + new_docs.count()) if n_hist is not None else None
    step_stats: dict = {}
    with geometry:
        if pin_store:
            existing_sigs = existing_sigs.localCheckpoint(eager=True)
        pairs, merged_sigs = dd.minhash_incremental_pairs(
            existing_docs,
            existing_sigs,
            new_docs,
            text_col=text_col,
            id_col=id_col,
            shingle_k=shingle_k,
            num_hashes=num_hashes,
            bands=bands,
            threshold=threshold,
            block_cols=block_cols,
            max_collisions_per_doc=max_collisions_per_doc,
            existing_shingles=existing_shingles,
            store_buckets=store_buckets,
            stats=step_stats,
        )
        version = (cur or 0) + 1
        # write the new snapshot fully, THEN commit the pointer — a crash
        # between the two leaves the previous snapshot current and intact.
        # The write reads the batch signatures the step checkpointed
        # (signed once, ever).
        if store_buckets:
            # bucketed layout: merged_sigs is the batch DELTA (the operator's
            # store_buckets contract) — an O(batch) append, never a rewrite.
            # Deltas are written PLAIN (batch-sized files with _bkt as a
            # data column): a hive-partitioned delta costs O(min(batch,
            # buckets)) file commits per step REGARDLESS of batch bytes —
            # profiled at 92 s of a 10k-doc step at 4096 buckets, 3x the
            # whole compute. Directory partitioning belongs to the
            # COMPACTED base (compact_dedup_store), where its one-time
            # cost is amortized over every later step's dir-level prune;
            # the verify filter row-skips the small recent deltas. The
            # bucket hash string-casts the id so the value is
            # id-type-stable across batches (the verify-sink lesson) —
            # writer and prune share dd.store_bucket_expr byte-for-byte.
            merged_sigs.withColumn(
                "_bkt", dd.store_bucket_expr("_id", store_buckets)
            ).write.mode("overwrite").parquet(
                os.path.join(workdir, f"sigs_b{version}")
            )
        else:
            merged_sigs.write.mode("overwrite").parquet(os.path.join(workdir, f"sigs_v{version}"))
        if store_buckets or persist_shingles:
            # same-version commit as the sigs (coverage invariant), O(batch)
            # write: only THIS batch's rows land, as the delta dir the next
            # run's union reads. The batch is re-shingled once here — a
            # batch-sized pass; the per-step save is corpus-side. Bucketed
            # layout stamps the shared bucket column (writer == prune,
            # byte-for-byte via dd.store_bucket_expr).
            shingle_delta = dd.shingle_hash_rows(
                new_docs.select(
                    F.col(id_col).alias("_id"), F.col(text_col).alias("_text")
                ),
                shingle_k,
            )
            if store_buckets:
                shingle_delta = shingle_delta.withColumn(
                    "_bkt", dd.store_bucket_expr("_id", store_buckets)
                )
            shingle_delta.write.mode("overwrite").parquet(
                os.path.join(workdir, f"shingles_b{version}")
            )
        pairs.write.mode("overwrite").parquet(os.path.join(workdir, "pairs", f"run_{version}"))
    if n_total is not None:
        # committed doc count: the NEXT run's history size, read back for
        # free (no count job) by its auto_partition sizing
        params = {**params, "_stats": {"n_docs": int(n_total)}}
    _write_manifest(mpath, params)
    _commit_current(workdir, version)
    out = {"pairs": pairs, "version": version, "n_pairs": pairs.count()}
    if step_stats:
        # verify-prune observability (bucketed layout): which store
        # buckets the candidate semi-join actually selected this step
        out["stats"] = step_stats
    return out


def _store_dirs(workdir: str, kind: str, base: int, cur: int) -> list[str]:
    """The live store dirs for ``kind`` ("sigs"/"shingles"): the compacted
    base (covers versions 1..base) plus the per-batch deltas after it."""
    dirs = []
    if base:
        dirs.append(os.path.join(workdir, f"{kind}_c{base}"))
    dirs += [os.path.join(workdir, f"{kind}_b{v}") for v in range(base + 1, cur + 1)]
    return dirs


def _has_parquet(d: str) -> bool:
    for dirpath, _dirs, files in os.walk(d):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def _union_dirs(
    spark: SparkSession, dirs: list[str], drop_bkt: bool = False
) -> DataFrame:
    """Union of store dirs as PER-DIR reads (each dir is its own
    ``_bkt``-partitioned root — multi-path partition discovery is not
    relied on; a partition filter pushes through the union into every
    leg's file listing). Ids are disjoint across deltas by the
    id-disjointness gate, so the union IS the table.

    A delta from an EMPTY batch is ``_SUCCESS``-only (partitionBy writes
    no part files for zero rows) and would fail schema inference — such
    dirs are skipped; they contribute zero rows by construction. An
    all-empty history returns None (caller keeps its empty-frame
    default)."""
    from functools import reduce

    parts = [spark.read.parquet(d) for d in dirs if _has_parquet(d)]
    if not parts:
        return None
    out = reduce(DataFrame.unionByName, parts)
    return out.drop("_bkt") if drop_bkt else out


def compact_dedup_store(spark: SparkSession, workdir: str) -> dict:
    """Fold a bucketed dedup store's per-batch delta dirs into one
    compacted base — the maintenance half of the r14 bucketed layout.

    Each ``run_incremental_dedup(store_buckets=...)`` step appends one
    ``sigs_b<N>`` + ``shingles_b<N>`` delta, so an uncompacted cadence of
    V batches makes every later step union V dirs (O(V x buckets) file
    listings and plan nodes — the O(batch)-append win would decay into an
    O(versions)-listing wall). Compaction rewrites the live store (the
    previous compacted base, if any, plus all deltas up to CURRENT) into
    ``sigs_c<V>`` / ``shingles_c<V>`` — one file per bucket — and records
    ``_compacted_through: V`` in the manifest (a ``_``-bookkeeping key,
    not part of the LSH contract), after which readers union 1 + (cur-V)
    dirs. The dedup-store twin of ``txlog.compact``.

    Crash-ordered like every commit here: the compacted dirs are written
    fully, THEN the manifest flips atomically; only after that are the
    folded deltas (and any older base) deleted. A crash before the flip
    leaves the old layout intact (orphan ``*_c<V>`` dirs are overwritten
    by the retry); a crash during cleanup leaves unreferenced dirs that
    readers never touch (delete-worthy garbage, never corruption).

    Returns ``{"compacted_through", "folded_dirs", "sig_files",
    "shingle_files"}``. No-ops (with a zero ``folded_dirs``) when there
    is nothing to fold."""
    import shutil

    mpath = os.path.join(workdir, _MANIFEST)
    cur = _read_current(workdir)
    if cur is None:
        raise FileNotFoundError(f"no committed dedup snapshot at {workdir}")
    try:
        with open(mpath) as f:
            committed = json.load(f)
    except (OSError, ValueError):
        raise ValueError(f"snapshot v{cur} exists but {_MANIFEST} is unreadable")
    store_buckets = committed.get("store_buckets")
    if not store_buckets:
        raise ValueError(
            f"dedup store at {workdir} uses the legacy layout (no "
            "store_buckets): its signature snapshot is already one dir per "
            "version — compaction only applies to the bucketed delta layout"
        )
    base = committed.get("_compacted_through", 0)
    if base >= cur:
        # nothing newer than the base — nothing to fold. (A SINGLE delta
        # is still worth folding: the corpus-sized build delta is plain,
        # and compaction is what gives it the dir-partitioned layout the
        # verify prune needs.)
        return {
            "compacted_through": base,
            "folded_dirs": 0,
            "sig_files": None,
            "shingle_files": None,
        }

    counts = {}
    for kind in ("sigs", "shingles"):
        live = _store_dirs(workdir, kind, base, cur)
        union = _union_dirs(spark, live)
        dst = os.path.join(workdir, f"{kind}_c{cur}")
        if union is None:  # degenerate: every batch was empty
            os.makedirs(dst, exist_ok=True)
            open(os.path.join(dst, "_SUCCESS"), "w").close()
            counts[kind] = 0
            continue
        # one file per bucket: rows already carry _bkt (partition column
        # of every source dir); repartition on it so each bucket lands in
        # exactly one task
        union.repartition("_bkt").write.partitionBy("_bkt").mode(
            "overwrite"
        ).parquet(dst)
        counts[kind] = sum(
            1
            for _dp, _dn, files in os.walk(dst)
            for fname in files
            if fname.endswith(".parquet")
        )
    folded = _store_dirs(workdir, "sigs", base, cur) + _store_dirs(
        workdir, "shingles", base, cur
    )
    _write_manifest(mpath, {**committed, "_compacted_through": cur})
    # post-commit cleanup: readers already resolve through the new base
    for d in folded:
        shutil.rmtree(d, ignore_errors=True)
    return {
        "compacted_through": cur,
        "folded_dirs": len(folded),
        "sig_files": counts["sigs"],
        "shingle_files": counts["shingles"],
    }


def _avg_file_bytes_per_row(df: DataFrame, n_rows: int) -> int | None:
    """Best-effort on-disk bytes per row of a file-backed DataFrame —
    exactly the unit scan-split sizing needs (Spark splits files by TOTAL
    file bytes, all columns included, so compressed-bytes-per-doc is the
    right divisor for docs-per-split). None for non-local/non-file plans;
    sizing then falls back to shuffle partitions alone."""
    if not n_rows:
        return None
    try:
        total = 0
        for uri in df.inputFiles():
            path = uri
            if path.startswith("file:"):
                path = path[len("file:"):]
                while path.startswith("//"):
                    path = path[1:]
            elif "://" in path:
                return None
            total += os.path.getsize(path)
        return max(1, total // n_rows) if total else None
    except Exception:
        return None


_CURSOR = "CORPUS_CURSOR.json"
_INTENT = "CORPUS_CURSOR.intent.json"


def _read_json(path: str) -> dict | None:
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def _run_from_cdf(
    spark: SparkSession,
    corpus_root: str,
    workdir: str,
    run_batch,
    needs_old_docs: bool,
    noop_result: dict,
) -> dict:
    """Shared change-feed cursor protocol for the incremental runners.

    - ``new_docs`` = ``tx_changes(corpus_root, since_version=cursor)`` —
      only the files appended since the last processed corpus version;
    - ``old_docs`` (when the runner needs history text) =
      ``tx_read(corpus_root, version=cursor)`` — the exact snapshot the
      committed state was built over (time travel gives the verify
      stage the right history even while writers keep appending).

    The corpus-version cursor advances EXACTLY ONCE per processed batch
    via a write-ahead intent: the intent (next state version + corpus
    head) is recorded before the runner commits; afterwards the intent
    is promoted to the cursor.  On startup a leftover intent is
    resolved by comparing its state version to the committed pointer —
    promoted if the batch actually committed (crash after commit),
    discarded otherwise (crash before), so a killed run neither loses a
    batch nor processes one twice.

    The feed requires an APPEND-ONLY corpus within the consumed window:
    an overwrite rewrites history, so state built over the old snapshot
    no longer describes the table — detected via the manifest history
    and rejected loudly."""
    from devcontainers_etl_node_spark.sinks import txlog

    os.makedirs(workdir, exist_ok=True)
    head = txlog.tx_head(corpus_root)
    if head is None:
        raise FileNotFoundError(f"no committed corpus versions at {corpus_root}")

    cursor_path = os.path.join(workdir, _CURSOR)
    intent_path = os.path.join(workdir, _INTENT)
    cur = _read_current(workdir)
    intent = _read_json(intent_path)
    if intent is not None:
        if cur is not None and cur >= intent["dedup_version"]:
            # crash AFTER the state commit: the batch is in the snapshot,
            # only the cursor promotion was lost — finish it
            os.replace(intent_path, cursor_path)
        else:
            # crash BEFORE the state commit: the batch never happened
            os.remove(intent_path)
    cursor = _read_json(cursor_path)

    if cursor is None:
        new_docs = txlog.tx_read(spark, corpus_root, version=head)
        old_docs = None
    else:
        since = cursor["corpus_version"]
        if since >= head:
            return {
                **noop_result,
                "version": cur,
                "corpus_version": since,
                "no_new_data": True,
            }
        modes = {h["mode"] for h in txlog.tx_history(corpus_root, since)}
        if modes & {"overwrite", "merge"}:
            raise ValueError(
                f"corpus at {corpus_root} was {'OVERWRITTEN' if 'overwrite' in modes else 'MERGED (rows replaced)'} "
                f"after v{since}: the committed incremental state no longer "
                "describes the table — start a fresh workdir from the new "
                "snapshot"
            )
        new_docs = txlog.tx_changes(spark, corpus_root, since_version=since)
        old_docs = (
            txlog.tx_read(spark, corpus_root, version=since)
            if needs_old_docs
            else None
        )

    next_intent = {"dedup_version": (cur or 0) + 1, "corpus_version": head}
    tmp = intent_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(next_intent, f)
    os.replace(tmp, intent_path)

    out = run_batch(new_docs, old_docs)
    os.replace(intent_path, cursor_path)  # promote: batch committed
    return {**out, "corpus_version": head}


def run_incremental_dedup_from_table(
    spark: SparkSession,
    corpus_root: str,
    workdir: str,
    **lsh_params,
) -> dict:
    """Feed :func:`run_incremental_dedup` from a transactional corpus
    table's CHANGE FEED (``sinks/txlog.py``) instead of caller-supplied
    batches — the ingest loop stops re-listing directories entirely.
    Cursor/crash semantics in :func:`_run_from_cdf`.  Returns
    ``run_incremental_dedup``'s dict plus ``corpus_version``; when no
    new corpus version exists, returns ``{"pairs": None, "n_pairs": 0,
    "no_new_data": True, ...}`` without touching state.

    With ``store_buckets`` (the r14 bucketed layout) the historical
    corpus snapshot is never time-traveled at all — block values and
    verify shingles both live in the store, so each step reads ONLY the
    change-feed files plus the candidate buckets."""
    return _run_from_cdf(
        spark,
        corpus_root,
        workdir,
        lambda new_docs, old_docs: run_incremental_dedup(
            spark, new_docs, workdir, old_docs=old_docs, **lsh_params
        ),
        needs_old_docs=not lsh_params.get("store_buckets"),
        noop_result={"pairs": None, "n_pairs": 0},
    )


def run_incremental_substr_from_table(
    spark: SparkSession,
    corpus_root: str,
    workdir: str,
    **substr_params,
) -> dict:
    """Feed :func:`run_incremental_substr` from a transactional corpus
    table's change feed — the ExactSubstr twin of
    :func:`run_incremental_dedup_from_table`.  ExactSubstr history is a
    gram-COUNT table (additive across disjoint batches), so no
    historical text is ever read: only ``tx_changes`` files are scanned
    per batch.  Cursor/crash semantics in :func:`_run_from_cdf`."""
    return _run_from_cdf(
        spark,
        corpus_root,
        workdir,
        lambda new_docs, _old: run_incremental_substr(
            spark, new_docs, workdir, **substr_params
        ),
        needs_old_docs=False,
        noop_result={"clean": None, "n_docs": 0, "audit": None},
    )


def run_incremental_substr(
    spark: SparkSession,
    new_docs: DataFrame,
    workdir: str,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """ExactSubstr dedup for one ingest batch against the committed
    gram-count snapshot — the substring twin of ``run_incremental_dedup``,
    same versioned-dir + pointer + manifest discipline:

    - ``<workdir>/grams_v<N>/`` — immutable (g, nd) distinct-doc-count
      snapshots (parquet; gram-cardinality, not corpus text);
    - ``<workdir>/ids_v<N>/``   — committed doc ids, the overlap gate's
      check set (re-submitting a batch would double every gram count,
      so overlapping ids fail loudly BEFORE any state is written);
    - ``<workdir>/CURRENT`` / ``_MANIFEST.json`` — pointer swapped
      atomically after both snapshots are fully written; manifest pins
      the gram width k (counts from different k never merge correctly);
    - ``<workdir>/clean/run_<N>/`` — each batch's cleaned output.

    Unlike MinHash (whose verify stage must re-shingle candidate
    historical TEXT), ExactSubstr needs only the history COUNT table —
    no old_docs parameter at all: distinct-doc counts are additive
    across the disjoint committed batches, so history ∪ batch is a
    sum-aggregate. The FIRST run is the incremental run with empty
    history. History docs are not retro-cleaned by later batches (the
    one-way ingest cadence; see operators/dedup.py) — the returned
    ``audit`` DataFrame (``dedup.substr_retro_audit``: one row of gram
    cardinalities + ``retro_dup_fraction``) quantifies per batch how
    much committed history that one-way rule leaves newly duplicated,
    from count tables alone.
    """
    os.makedirs(workdir, exist_ok=True)
    params = {"k": k}
    mpath = os.path.join(workdir, _MANIFEST)
    cur = _read_current(workdir)
    if cur is not None:
        try:
            with open(mpath) as f:
                committed = json.load(f)
        except (OSError, ValueError):
            raise ValueError(f"snapshot v{cur} exists but {_MANIFEST} is unreadable")
        if committed != params:
            raise ValueError(
                f"snapshot v{cur} was built with {committed}; rerun with those "
                f"parameters or a fresh workdir (got {params})"
            )
        history = spark.read.parquet(os.path.join(workdir, f"grams_v{cur}"))
        committed_ids = spark.read.parquet(os.path.join(workdir, f"ids_v{cur}"))
        overlap = (
            new_docs.select(F.col(id_col).alias("doc_id"))
            .join(committed_ids, "doc_id", "left_semi")
            .limit(1)
            .count()
        )
        if overlap:
            raise ValueError(
                "batch contains already-committed doc ids — re-submitting a "
                "batch would double its gram counts; dedupe the batch ids "
                "against the committed set first"
            )
    else:
        history = spark.createDataFrame([], "g LONG, nd LONG")
        committed_ids = spark.createDataFrame([], "doc_id LONG")

    clean, merged, batch_counts = dd.substr_clean_batch(
        history, new_docs, k=k, text_col=text_col, id_col=id_col
    )
    # retro-dup visibility: how much committed history this batch newly
    # duplicates (count-table arithmetic only — no text; see
    # dedup.substr_retro_audit). History stays one-way by design; the
    # audit makes the trade measurable per batch.
    audit = dd.substr_retro_audit(history, batch_counts)
    version = (cur or 0) + 1
    # write both snapshots fully, THEN commit the pointer — a crash
    # between the writes leaves the previous snapshot current and intact
    merged.write.mode("overwrite").parquet(os.path.join(workdir, f"grams_v{version}"))
    committed_ids.unionByName(
        new_docs.select(F.col(id_col).cast("long").alias("doc_id"))
    ).write.mode("overwrite").parquet(os.path.join(workdir, f"ids_v{version}"))
    clean.write.mode("overwrite").parquet(os.path.join(workdir, "clean", f"run_{version}"))
    _write_manifest(mpath, params)
    _commit_current(workdir, version)
    out = spark.read.parquet(os.path.join(workdir, "clean", f"run_{version}"))
    return {"clean": out, "version": version, "n_docs": out.count(), "audit": audit}
