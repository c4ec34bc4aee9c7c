"""A/B of the r15 streaming verify-join fix (broadcast-deadline decoupling).

The r14 caveat: the inline slim-mode stream-static verify join broadcast
the small CANDIDATE side, nesting the whole stateful band aggregation
inside the broadcast build, so spark.sql.broadcastTimeout (default 300 s)
became a per-batch deadline on the stateful stage — a batch whose state
work exceeded it KILLED the query (measured at the r14 1M rung). r15
SHUFFLE_HASH-hints the join (build = candidates), removing the deadline.

This experiment makes the coupling visible without a 1M corpus or a
loaded box: run the same slim-mode stream with broadcastTimeout set LOW
(below the per-batch stateful wall at this rung) —

  A (pre-r15 join, no hint, loaded from /tmp/pipeline_old_r15.py):
      the micro-batch's broadcast build times out and the QUERY dies;
  B (r15 hinted join): completes, pairs identical to the reference run
      (same stream at a default timeout).

Usage:
  git show HEAD:devcontainers_etl_node_spark/streaming/pipeline.py > /tmp/pipeline_old_r15.py
  python tools/exp_stream_deadline_r15.py [n_docs] [timeout_s] [batches]
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from devcontainers_etl_node_spark.session import get_spark
from devcontainers_etl_node_spark.streaming import pipeline as pipe_new

spec = importlib.util.spec_from_file_location("pipeline_old_r15", "/tmp/pipeline_old_r15.py")
pipe_old = importlib.util.module_from_spec(spec)
spec.loader.exec_module(pipe_old)

ROOT = "/tmp/stream_deadline_r15"


def corpus(spark, n: int):
    # dup families of {x, x+n/2} (pairs straddle the midpoint), event
    # time spread over 30 min so the 10-min watermark holds ~n/3 in state
    mid = n // 2
    fam = F.concat_ws(
        " ",
        *[
            F.concat(F.lit(f"f{j}x"), F.pmod(F.col("id"), F.lit(mid)).cast("string"))
            for j in range(30)
        ],
    )
    uniq = F.concat_ws(
        " ",
        *[
            F.concat(F.lit("w"), F.pmod(F.xxhash64("id", F.lit(j)), F.lit(5000)).cast("string"))
            for j in range(40)
        ],
    )
    epoch = 1704067200
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 == 0, fam).otherwise(uniq).alias("text"),
        F.timestamp_seconds(F.lit(epoch) + (F.col("id") % 1800)).alias("ts"),
    )


def run(spark, mod, tag: str, src: str, store, timeout_s: int, batches: int):
    spark.conf.set("spark.sql.broadcastTimeout", str(timeout_s))
    stream = (
        spark.readStream.schema(store.schema)
        .option("maxFilesPerTrigger", "64")
        .parquet(os.path.join(src, "b*"))
    )
    out = mod.streaming_minhash_neardup_pairs(
        stream.select("doc_id", "text", "ts"), watermark="10 minutes", doc_store=store
    )
    ck = os.path.join(ROOT, f"ck_{tag}")
    shutil.rmtree(ck, ignore_errors=True)
    t0 = time.perf_counter()
    try:
        q = (
            out.writeStream.format("memory")
            .queryName(f"dl_{tag}")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        n_pairs = spark.sql(f"SELECT count(*) c FROM dl_{tag}").collect()[0].c
        status = "COMPLETED"
    except Exception as e:  # noqa: BLE001
        n_pairs = None
        msg = str(e)
        status = "TIMEOUT-KILLED" if "roadcast" in msg or "imeout" in msg else f"DIED: {msg[:160]}"
    wall = time.perf_counter() - t0
    print(
        f"{tag}: status={status} pairs={n_pairs} wall={wall:.1f}s "
        f"timeout={timeout_s}s load={os.getloadavg()[0]:.2f}",
        flush=True,
    )
    return n_pairs, status


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    timeout_s = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    batches = int(sys.argv[3]) if len(sys.argv) > 3 else 6
    spark = get_spark()
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    os.makedirs(ROOT, exist_ok=True)
    docs = corpus(spark, n).localCheckpoint(eager=True)
    src = os.path.join(ROOT, f"src_{n}")
    shutil.rmtree(src, ignore_errors=True)
    b = F.floor((F.col("doc_id") % 1800) / (1800 / batches)).cast("int")
    for i in range(batches):
        docs.filter(b == i).write.mode("overwrite").parquet(os.path.join(src, f"b{i:02d}"))
    store = spark.read.parquet(os.path.join(src, "b*"))

    # reference pair set: r15 join at the DEFAULT timeout
    ref, st = run(spark, pipe_new, "ref_default_timeout", src, store, 300, batches)
    assert st == "COMPLETED", "reference run must complete"
    # A: pre-r15 broadcast join under the low timeout — expected to die
    run(spark, pipe_old, "A_prer15_low_timeout", src, store, timeout_s, batches)
    # B: r15 hinted join under the SAME low timeout — expected to complete
    pb, stb = run(spark, pipe_new, "B_r15_low_timeout", src, store, timeout_s, batches)
    print(f"B parity vs reference: {pb == ref} ({pb} vs {ref})", flush=True)
    spark.conf.set("spark.sql.broadcastTimeout", "300")


if __name__ == "__main__":
    main()
