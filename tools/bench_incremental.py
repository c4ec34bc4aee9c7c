"""Measure the incremental-dedup claim: an ingest batch should cost far
less than re-deduping the union, and the gap should WIDEN as history
grows (the whole point of persisting the signature snapshot).

Usage: python tools/bench_incremental.py [n_history ...]

Corpus: the designed synthetic from tools/bench_dedup_scale.py's lesson —
duplicate structure planted explicitly (1% of new docs are near-dups of
history, 1% near-dups within the batch), vocabulary wide enough that
unrelated docs don't collide. The timed comparison per history size N:

  batch       — minhash_lsh_pairs over history ∪ batch (what a
                snapshot-less pipeline must run every ingest)
  incremental — minhash_incremental_pairs reusing history signatures
                (signature build for history is EXCLUDED: it is the
                one-time cost the snapshot amortizes; the batch's own
                signing is INCLUDED)

Both paths produce the identical new-touching pair set (asserted).
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from devcontainers_etl_node_spark.operators import dedup  # noqa: E402
from devcontainers_etl_node_spark.session import get_spark  # noqa: E402

N_BATCH = 1000


def make_docs(spark, n, id_offset, dup_of_history_pct=0.0):
    """Deterministic docs with a wide vocabulary; a slice are near-dups
    of earlier ids (planted duplicate structure, not accidental)."""
    base = spark.range(n).select(
        (F.col("id") + id_offset).alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(F.lit(f"w{j}_"), ((F.col("id") * (j * 2 + 3) + j) % 50000).cast("string"))
                for j in range(30)
            ],
        ).alias("text"),
    )
    if dup_of_history_pct:
        k = int(n * dup_of_history_pct)
        dups = spark.range(k).select(
            (F.col("id") + id_offset + n).alias("doc_id"),
            F.concat_ws(
                " ",
                F.lit("dupmark"),
                *[
                    F.concat(F.lit(f"w{j}_"), ((F.col("id") * (j * 2 + 3) + j) % 50000).cast("string"))
                    for j in range(29)
                ],
            ).alias("text"),
        )
        base = base.unionByName(dups)
    return base.localCheckpoint(eager=True)


def main():
    sizes = [int(x) for x in sys.argv[1:]] or [5000, 20000]
    spark = get_spark()
    print("| history | batch-over-union (s) | incremental (s) | speedup | pairs |")
    print("|---|---|---|---|---|")
    for n_hist in sizes:
        history = make_docs(spark, n_hist, 0)
        batch = make_docs(spark, N_BATCH, 10_000_000, dup_of_history_pct=0.01)
        union = history.unionByName(batch)
        new_ids_min = 10_000_000

        t0 = time.perf_counter()
        full = dedup.minhash_lsh_pairs(union, threshold=0.5)
        full_new = {
            (r.id_a, r.id_b)
            for r in full.collect()
            if r.id_a >= new_ids_min or r.id_b >= new_ids_min
        }
        t_batch = time.perf_counter() - t0

        # the amortized one-time cost: history signatures (NOT timed)
        hist_sigs = dedup.minhash_signature_table(
            dedup.shingle_hash_rows(
                history.select(F.col("doc_id").alias("_id"), F.col("text").alias("_text"))
            )
        ).localCheckpoint(eager=True)

        t0 = time.perf_counter()
        pairs, _sigs = dedup.minhash_incremental_pairs(history, hist_sigs, batch)
        got = {(r.id_a, r.id_b) for r in pairs.collect()}
        t_inc = time.perf_counter() - t0

        assert got == full_new, f"pair mismatch at n_hist={n_hist}"
        print(
            f"| {n_hist} | {t_batch:.2f} | {t_inc:.2f} | "
            f"{t_batch / t_inc:.1f}x | {len(got)} |"
        )


if __name__ == "__main__":
    main()
