"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Designed for the 100 TB case:
- exact dedup is a hash-groupBy (one shuffle on a 64/256-bit content hash,
  never on the raw text);
- MinHash LSH is the classic shingle → minhash signature → band → bucket
  self-join: the only shuffle is on (band_id, band_hash), candidate pairs
  are verified with exact Jaccard before being reported. No O(n²) stage.
- SimHash buckets near-identical docs by a 64-bit sign fingerprint.

All signature computation is pure Column expressions (codegen'd, map-side,
no Python). No collect(), no driver-side loops.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame, Column, Window, functions as F

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per exact text value.

    Shuffles on sha2(text) (fixed 32-byte key) rather than the raw document,
    so shuffle volume is independent of document size. Deterministic winner
    (min id) — unlike dropDuplicates, whose survivor is partition-order
    dependent.
    """
    h = F.sha2(F.col(text_col), 256)
    w = Window.partitionBy(h).orderBy(F.col(id_col))
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


# ---------------------------------------------------------------------------
# The MinHash core
#
# Every MinHash decision is made once, in the helpers below: text
# normalization and the shingle hash, the seeded hash family, the band key,
# the block key, the est-prune cutoff and join, the band join and the exact
# Jaccard verify. The batch, cross-block, incremental and streaming paths
# all call them, so their signatures, buckets and pair sets agree by
# construction (tests/test_minhash_core.py pins that no copy comes back).
# ---------------------------------------------------------------------------


def word_shingles(col: Column | str, k: int = 3) -> Column:
    """Distinct k-word shingles (n-grams) of the text."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.lower(F.trim(c)), r"\s+")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two string-array columns."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def _normalized(text: Column) -> Column:
    """Lower-cased text with whitespace runs collapsed: the shingling input."""
    return F.lower(F.regexp_replace(F.trim(text), r"\s+", " "))


def _shingle_positions(norm: Column, k: int) -> Column:
    """1-based start of every k-char shingle; one for texts shorter than k."""
    return F.sequence(F.lit(1), F.greatest(F.length(norm) - (k - 1), F.lit(1)))


def _shingle_hash(norm: Column, pos: Column, k: int) -> Column:
    """xxhash64 of the k-char shingle at ``pos``: each shingle is string-
    hashed once, and the seeded family works on this long."""
    return F.xxhash64(norm.substr(pos, F.lit(k)))


def _shingle_hash_array(norm: Column, k: int) -> Column:
    """Per-row array form of :func:`shingle_hash_rows` (the streaming map
    side, where a doc row must carry its own shingles)."""
    return F.transform(_shingle_positions(norm, k), lambda p: _shingle_hash(norm, p, k))


def _seeded_hash(h: Column, seed: int) -> Column:
    """Member ``seed`` of the MinHash hash family over a shingle hash:
    ``xxhash64((seed+1)<<48 XOR h)``, the seed spread into the input bits.
    The seed-chained ``xxhash64(seed, h)`` form is degenerate (4x the band
    collisions, PERF.md). The literal is a 32-bit int, so the shift is
    taken mod 32: an effective 16-bit spread, still a sound distinct-seed
    family. FROZEN: incremental snapshots and streaming state persist
    signatures built with it, so do NOT "fix" the shift to a long literal
    without a snapshot migration."""
    return F.xxhash64(F.shiftleft(F.lit(seed + 1), 48).bitwiseXOR(h))


def _band_key(sig: Column, band: int, rows: int) -> Column:
    """Bucket key of one LSH band: xxhash64(band, its ``rows`` minhashes)."""
    return F.xxhash64(F.lit(band), *[sig[band * rows + i] for i in range(rows)])


def _block_key(block_cols: list[str]) -> Column:
    """One 8-byte ``_blk`` key over the blocking columns; NULL values
    coalesce into one shared block."""
    return F.xxhash64(
        *[F.coalesce(F.col(c).cast("string"), F.lit("\x00null")) for c in block_cols]
    ).alias("_blk")


def _est_cut(threshold: float, num_hashes: int, bands: int) -> float | None:
    """Cutoff of the signature-estimated Jaccard (the fraction of equal
    minhashes, σ ≈ sqrt(j(1-j)/num_hashes)), ~2.5σ below ``threshold`` so
    true pairs survive — or None when the prune cannot cut anything: a
    band collision already certifies est >= 1/bands."""
    cut = max(0.0, threshold - 2.5 * (threshold * (1 - threshold) / num_hashes) ** 0.5)
    return cut if cut > 1.0 / bands else None


def shingle_hash_rows(base: DataFrame, shingle_k: int = 5) -> DataFrame:
    """Exploded (`_id`, `_h`) rows: one hash per character shingle of the
    normalized text. `base` must carry (_id, _text). Whole-stage codegen
    end to end (position explode + substr + hash). MinHash over the
    shingle multiset equals MinHash over the set (min is idempotent), so
    no distinct is needed."""
    norm = F.col("_norm")
    return (
        base.withColumn("_norm", _normalized(F.col("_text")))
        .select("_id", "_norm", F.explode(_shingle_positions(norm, shingle_k)).alias("_pos"))
        .select("_id", _shingle_hash(norm, F.col("_pos"), shingle_k).alias("_h"))
    )


def minhash_signature_table(shingle_rows: DataFrame, num_hashes: int = 32) -> DataFrame:
    """(`_id`, `_sig`: array<long>[num_hashes]) from exploded shingle-hash
    rows: one groupBy computing every seeded min as a codegen'd aggregate
    (per-row array lambdas are interpreted and ~50x slower), packed into
    ONE array column so downstream joins stay 2 columns wide. This is the
    table an incremental dedup run PERSISTS between runs (~num_hashes
    longs per doc): re-signing the historical corpus is the cost
    ``minhash_incremental_pairs`` exists to avoid."""
    return (
        shingle_rows.groupBy("_id")
        .agg(*[F.min(_seeded_hash(F.col("_h"), i)).alias(f"h{i}") for i in range(num_hashes)])
        .select("_id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("_sig"))
    )


def banded_signatures(
    sig: DataFrame, num_hashes: int, bands: int, key_cols: tuple = ()
) -> DataFrame:
    """(_id, band, bh[, *key_cols]) rows: each signature cut into `bands`
    bands with their bucket keys — the join side of LSH.  ``key_cols``
    are carried through for blocked banding."""
    rows = num_hashes // bands
    return sig.select(
        "_id",
        *key_cols,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), _band_key(F.col("_sig"), b, rows).alias("bh"))
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(
        "_id", *key_cols, F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh")
    )


def _band_join(a: DataFrame, b: DataFrame, key_cols: tuple, self_join: bool) -> DataFrame:
    """Distinct (id_a < id_b) pairs of banded rows sharing a ``(band, bh[,
    *key_cols])`` bucket — buckets never span blocks.

    ``self_join``: ``a`` and ``b`` are the same table and each pair is
    kept once, as a < b. Otherwise ``b`` is the new side of an incremental
    step: a pair can meet in either orientation, so the ids are ordered
    with least/greatest and the repeat collapses in the dropDuplicates."""
    cond = (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh"))
    if self_join:
        cond = cond & (F.col("a._id") < F.col("b._id"))
        ids = [F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b")]
    else:
        cond = cond & (F.col("a._id") != F.col("b._id"))
        ids = [
            F.least(F.col("a._id"), F.col("b._id")).alias("id_a"),
            F.greatest(F.col("a._id"), F.col("b._id")).alias("id_b"),
        ]
    for k in key_cols:
        cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
    return a.alias("a").join(b.alias("b"), cond).select(*ids).dropDuplicates(["id_a", "id_b"])


def band_candidate_pairs(
    sig: DataFrame, num_hashes: int, bands: int, key_cols: tuple = ()
) -> DataFrame:
    """LSH banding + bucket self-join over a signature table (_id, _sig):
    the distinct (id_a < id_b) pairs colliding in at least one bucket.

    This is THE skew point of MinHash dedup at scale: a boilerplate-heavy
    shard puts thousands of docs into one (band, bh) bucket, and that
    single join key then produces a quadratic row count in one reducer.
    AQE skew-join handling (enabled in session.py) splits the oversized
    partition across tasks at runtime — tests/test_plans.py pins that the
    split actually fires on a skewed signature table, and PERF.md records
    the measured effect. Exposed as its own function so the skewed-input
    plan can be asserted without running the full text pipeline.
    """
    banded = banded_signatures(sig, num_hashes, bands, key_cols)
    return _band_join(banded, banded, key_cols, self_join=True)


def _est_prune_candidates(
    cand: DataFrame, sig: DataFrame, num_hashes: int, bands: int, threshold: float
) -> DataFrame:
    """Signature-estimated Jaccard prune over a candidate pair list.

    Banding can pass far more candidates than true near-dups. Before
    touching shingle sets, keep only pairs whose signatures agree on at
    least :func:`_est_cut` of their minhashes: a zip_with equality count,
    interpreted but over the candidate set only, and the join plan stays
    2 columns wide. Skipped when the cutoff cannot cut (its two signature
    joins measured 0.7 s of a ~5 s warm call at 16/4).
    """
    est_cut = _est_cut(threshold, num_hashes, bands)
    if est_cut is None:
        return cand
    est = (
        F.size(
            F.filter(F.zip_with(F.col("_sa"), F.col("_sb"), lambda a, b: a == b), lambda x: x)
        ).cast("double")
        / F.lit(float(num_hashes))
    )
    # no broadcast hint: AQE auto-broadcasts the signature table while it
    # fits, and falls back to a shuffle join at corpus scale.
    return (
        cand.join(sig.select(F.col("_id").alias("id_a"), F.col("_sig").alias("_sa")), "id_a")
        .join(sig.select(F.col("_id").alias("id_b"), F.col("_sig").alias("_sb")), "id_b")
        .filter(est >= est_cut)
        .select("id_a", "id_b")
    )


def _candidate_ids(cand: DataFrame) -> DataFrame:
    """Distinct ids of both pair sides: the semi-join key that keeps the
    verify's shingle work candidate-proportional."""
    return cand.select(F.col("id_a").alias("_id")).union(cand.select(F.col("id_b"))).distinct()


def _shingle_sets(shingle_rows: DataFrame) -> DataFrame:
    """(_id, _sh, _n) hash sets from exploded (_id, _h) shingle rows.
    Sets of longs, not strings: primitive-array intersects are ~2x string
    ones and the shuffle carries 8 B/shingle (exact up to 64-bit hash
    collisions)."""
    return (
        shingle_rows.groupBy("_id")
        .agg(F.collect_set("_h").alias("_sh"))
        .select("_id", "_sh", F.size("_sh").alias("_n"))
    )


def _jaccard_join(cand: DataFrame, sets: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard verify: each candidate (id_a, id_b) joined to both
    sides' sets in ``sets`` (_id, _sh: distinct hash array, _n: its size)
    and kept at >= ``threshold``. |A∪B| = |A|+|B|-|A∩B|, so one array op
    runs per pair."""
    n_int = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("double")
    return (
        cand.join(
            sets.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a"), F.col("_n").alias("na")),
            "id_a",
        )
        .join(
            sets.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b"), F.col("_n").alias("nb")),
            "id_b",
        )
        .withColumn("jaccard_sim", n_int / (F.col("na") + F.col("nb") - n_int))
        .filter(F.col("jaccard_sim") >= threshold)
        .select("id_a", "id_b", "jaccard_sim")
    )


def _verify_from_base(
    cand: DataFrame, base: DataFrame, shingle_k: int, threshold: float
) -> DataFrame:
    """Exact Jaccard over ``cand``, re-deriving shingles from the doc table
    ``base`` (_id, _text) below a semi-join on the candidate ids: the
    explode is candidate-proportional, and the corpus-wide shingle table
    (~2 B per corpus char, larger than the text) is never cached
    (OPTIMIZATION_r14.md, "minhash_neardup / pretrain_prep")."""
    rows = shingle_hash_rows(base.join(_candidate_ids(cand), "_id", "left_semi"), shingle_k)
    return _jaccard_join(cand, _shingle_sets(rows), threshold)


def minhash_candidate_census(
    banded: DataFrame, key_cols: tuple = (), new_flag_col: str | None = None
) -> dict:
    """EXACT pre-flight for banded LSH: the raw bucket-collision count the
    band self-join would have to process — ``Σ_buckets C(b, 2)`` over the
    ``(band, bh[, *key_cols])`` group keys — computed with ONE aggregation
    over the already-banded signature rows, none of the quadratic-risk
    join: the random-collision floor (exponent 1.97 on unblocked
    fixed-geometry banding at the r11 1M-doc rung, PERF.md), measured
    before paying it.

    ``new_flag_col``: incremental form — when set (a 0/1 column on
    ``banded``), the census counts the all×new join volume per bucket
    (``n_all·n_new − n_new``, self-matches excluded) instead of C(b,2).

    Returns ``{raw_band_collisions, n_buckets, max_bucket, banded_rows[,
    new_banded_rows]}``. ``banded_rows`` is Σ bucket sizes — exactly
    ``bands`` per signed doc, so a gated caller derives its doc count as
    ``banded_rows // bands`` from THIS aggregation instead of running a
    separate count action (``new_banded_rows`` is the same identity for
    the batch side). Cost: one shuffle on the (band, bh) keys the
    operator shuffles on anyway — measured ~15-20% of the unblocked
    operator wall at sf0.1 (PERF.md r12), and it bounds the stage that
    is O(n²) at scale.
    """
    grp = banded.groupBy(*key_cols, "band", "bh")
    extra: list = []
    if new_flag_col is None:
        buckets = grp.agg(F.count(F.lit(1)).alias("b"))
        coll = F.sum(F.col("b") * (F.col("b") - 1) / 2)
    else:
        buckets = grp.agg(
            F.count(F.lit(1)).alias("b"),
            F.sum(F.col(new_flag_col)).alias("bn"),
        )
        coll = F.sum(F.col("b") * F.col("bn") - F.col("bn"))
        extra = [F.coalesce(F.sum("bn"), F.lit(0)).cast("long").alias("new_banded_rows")]
    row = buckets.agg(
        F.coalesce(coll, F.lit(0)).cast("long").alias("raw_band_collisions"),
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.coalesce(F.max("b"), F.lit(0)).cast("long").alias("max_bucket"),
        F.coalesce(F.sum("b"), F.lit(0)).cast("long").alias("banded_rows"),
        *extra,
    ).collect()[0]
    out = {
        "raw_band_collisions": int(row["raw_band_collisions"]),
        "n_buckets": int(row["n_buckets"]),
        "max_bucket": int(row["max_bucket"]),
        "banded_rows": int(row["banded_rows"]),
    }
    if new_flag_col is not None:
        out["new_banded_rows"] = int(row["new_banded_rows"])
    return out


def _enforce_budget(
    census: dict,
    n_docs: int,
    budget: float,
    threshold: float,
    blocked: bool,
) -> None:
    """The minhash census gate: raise when the raw band collisions exceed
    ``budget`` per doc, naming the measured volume plus the two
    mitigations the r11 analysis proved out — blocking (floor becomes
    O(Σ n_b²)) and a deeper-r geometry from :func:`minhash_geometry`
    (floor ∝ kappa^r)."""
    if not n_docs or census["raw_band_collisions"] <= budget * n_docs:
        return
    geo = minhash_geometry(threshold, target_recall=0.9, n_docs=n_docs)
    per_doc = census["raw_band_collisions"] / n_docs
    hint = (
        "tighten block_cols (smaller blocks bound each n_b)"
        if blocked
        else "pass block_cols=[...] (lang/source/time-window) — buckets never "
        "span blocks, so the floor becomes O(Σ n_b²) (measured 4.0x wall at "
        "1M docs, PERF.md r11)"
    )
    raise ValueError(
        f"minhash pre-flight budget exceeded: {census['raw_band_collisions']} "
        f"raw band collisions over {n_docs} docs ({per_doc:.1f}/doc > "
        f"{budget}/doc; max bucket {census['max_bucket']}) — this corpus is "
        f"past the random-collision floor for this banding geometry at "
        f"threshold {threshold}; {hint}, or use a deeper-rows-per-band "
        f"geometry: minhash_geometry(threshold={threshold}, n_docs={n_docs}) "
        f"suggests num_hashes={geo['num_hashes']}, bands={geo['bands']} "
        f"(r={geo['rows_per_band']}, floor crossover "
        f"~{float(geo['floor_crossover_docs']):.2g} docs, detection "
        f"{geo['detection_at_threshold']}), or raise the budget"
    )


def minhash_geometry(
    threshold: float,
    target_recall: float = 0.9,
    n_docs: int | None = None,
    kappa: float = 0.047,
    max_rows_per_band: int = 16,
    max_hashes: int = 256,
) -> dict:
    """Pick a banded-LSH geometry ``(num_hashes, bands)`` for a Jaccard
    ``threshold`` and ``target_recall``, and PREDICT its random-collision
    floor — the measured O(n²) failure mode of fixed-geometry banding
    (PERF.md r11 1M-doc rung).

    Model, calibrated on the scale-ladder corpus:

    - detection: ``P(pair at j=threshold collides) = 1-(1-t^r)^b`` — for
      each rows-per-band ``r``, the minimal band count is
      ``b = ceil(ln(1-recall)/ln(1-t^r))``;
    - random floor: two UNRELATED docs agree on one minhash row with
      probability ``kappa`` (measured 0.047 on the Zipf ladder corpus —
      from 20.06 M floor candidates at 1 M docs / 32 hashes / 8 bands:
      ``(2·f/(b·n²))^(1/4)``), so the floor is
      ``f(n) = b · n(n-1)/2 · kappa^r``.  The SAME kappa predicts the
      r=8 geometry's floor at 1 M docs within noise (predicted ~1e2,
      measured ~1e2 against 85.8 k true pairs) — the model transfers
      across r;
    - cost proxy: floor candidates (each est-pruned ~O(1)) + signature
      work ``r·b·n``-ish; the floor term dominates scaling.

    Returns ``{num_hashes, bands, rows_per_band, detection_at_threshold,
    predicted_floor_candidates (None without n_docs), floor_crossover_docs
    (n where the floor ≈ 10·n — past it the floor IS the operator)}``.

    The honest caveat this function encodes: at ``threshold=0.5`` recall
    ≥0.9 forces r=4-5, whose floor crossover sits at ~10⁶-10⁷ docs — no
    geometry fixes that; past it, BLOCK the corpus (lang/source/length
    partitions bound n per block) or raise the threshold (t=0.8 admits
    r=8+, whose floor is negligible at any realistic n — measured).
    """
    import math
    import sys

    if not 0 < threshold < 1 or not 0 < target_recall < 1:
        raise ValueError("threshold and target_recall must be in (0, 1)")
    best = None
    for r in range(2, max_rows_per_band + 1):
        p_band = threshold**r
        if p_band >= 1.0:
            continue
        b = max(1, math.ceil(math.log(1 - target_recall) / math.log(1 - p_band)))
        if r * b > max_hashes:  # signature budget: sharper curves cost
            continue  # exponentially more bands at fixed recall
        detection = 1 - (1 - p_band) ** b
        floor_rate = b * kappa**r  # per unordered doc pair
        # n where floor candidates ≈ 10·n (floor becomes the operator).
        # kappa=0 (or a deep-r underflow) means "no measured floor":
        # clamp the crossover to sys.maxsize instead of overflowing
        # int(inf) — the geometry is then unbounded by the floor model.
        crossover = 20 / floor_rate if floor_rate > 0 else float("inf")
        cand = {
            "num_hashes": r * b,
            "bands": b,
            "rows_per_band": r,
            "detection_at_threshold": round(detection, 4),
            "floor_rate_per_pair": floor_rate,
            "floor_crossover_docs": int(min(crossover, sys.maxsize)),
        }
        if n_docs is not None:
            cand["predicted_floor_candidates"] = int(
                b * n_docs * (n_docs - 1) / 2 * kappa**r
            )
        # prefer the geometry whose floor crossover is furthest out,
        # breaking ties toward fewer hashes (cheaper signatures)
        key = (cand["floor_crossover_docs"], -cand["num_hashes"])
        if best is None or key > (best["floor_crossover_docs"], -best["num_hashes"]):
            best = cand
    return best


# per-task document budget: the 4M rung passed (starved AND healthy) at
# ~20k docs/task; the number is deliberately round — the point is the
# CONSTANT, not the precise value
DOCS_PER_TASK = 20_000


def minhash_partition_plan(n_docs: int, avg_doc_bytes: int | None = None) -> dict:
    """Partition-sizing rule for a MinHash dedup run — the knob the 4M
    ladder rung taught (PERF.md r12): PER-TASK DATA MUST STAY CONSTANT AS
    THE CORPUS GROWS. At 4M docs the lang-blocked candidate join carried
    ~1.5e8 rows, and the session-default 32 shuffle partitions put each
    task's hash/sort structures past the unified memory pool
    (``UNABLE_TO_ACQUIRE_MEMORY`` — a hard operator-page failure, which
    unlike shuffle spill has no graceful degradation); the same rung
    passes at n/20k partitions. The scan side obeys the same rule: a
    default 128 MB parquet split at 4M docs carried ~400k docs whose
    signature partial-agg hash map alone exceeded a starved pool before
    the sort-fallback could engage (``AGGREGATE_OUT_OF_MEMORY``, measured
    twice) — shrink ``spark.sql.files.maxPartitionBytes`` so splits carry
    ~:data:`DOCS_PER_TASK` docs.

    Returns ``{shuffle_partitions, docs_per_task, max_partition_bytes
    (None without avg_doc_bytes)}``. Blocking does not change the rule:
    partitions are sized by TOTAL rows (blocks share the shuffle), and
    AQE coalesces over-provisioned small runs for free — so the
    recommendation is safe to apply unconditionally.
    """
    if n_docs <= 0:
        raise ValueError("n_docs must be positive")
    plan = {
        "shuffle_partitions": max(32, n_docs // DOCS_PER_TASK),
        "docs_per_task": DOCS_PER_TASK,
        "max_partition_bytes": None,
    }
    if avg_doc_bytes:
        # clamp to [4 MB, 128 MB]: below 4 MB listing/task overhead
        # dominates; 128 MB is the Spark default (no need to grow it)
        plan["max_partition_bytes"] = int(
            min(max(avg_doc_bytes * DOCS_PER_TASK, 4 << 20), 128 << 20)
        )
    return plan


@contextlib.contextmanager
def applied_partition_plan(
    spark, n_docs: int, avg_doc_bytes: int | None = None,
    open_cost_bytes: int | None = None,
):
    """Scope-apply :func:`minhash_partition_plan` to the session, restoring
    the previous conf values on exit. ``funnel.run_staged_funnel``,
    ``queries.catalog:pretrain_prep`` and
    ``incremental.run_incremental_dedup`` run their dedup stage inside
    this context by default.

    The application is MONOTONE toward finer tasks, never coarser:
    shuffle partitions only ever rise above the session value, and
    ``maxPartitionBytes`` only ever shrinks below it — so a session
    deliberately tuned finer than the rule keeps its tuning, and at bench
    scale (n ≤ 20k·32) the context is an exact no-op. Over-provisioning on
    small corpora is free: AQE coalesces post-shuffle partitions at
    runtime (enabled in session.py). Restore is in ``finally`` so a
    budget-gate refusal or mid-stage failure never leaks geometry into
    the caller's session.
    """
    plan = minhash_partition_plan(n_docs, avg_doc_bytes=avg_doc_bytes)
    confs: dict[str, str] = {}
    cur_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if plan["shuffle_partitions"] > cur_shuffle:
        confs["spark.sql.shuffle.partitions"] = str(plan["shuffle_partitions"])
    if plan["max_partition_bytes"]:
        cur_split = spark.conf.get("spark.sql.files.maxPartitionBytes")
        # the conf accepts byte suffixes ("128m"); normalize for compare
        cur_bytes = _parse_byte_conf(cur_split)
        if plan["max_partition_bytes"] < cur_bytes:
            confs["spark.sql.files.maxPartitionBytes"] = str(
                plan["max_partition_bytes"]
            )
    if open_cost_bytes is not None:
        # small-file stores (the r14 bucketed delta layout): Spark charges
        # every file spark.sql.files.openCostInBytes (default 4 MB) when
        # packing scan splits, so a plan that also SHRINKS
        # maxPartitionBytes to ~4 MB degenerates to one-task-per-file over
        # a many-thousand-file bucketed store (measured 10x step blowup at
        # the 1M/100k rung). Scope-set a realistic open cost so small
        # files pack by their actual bytes — monotone like the other two
        # confs: a session already tuned to a SMALLER open cost keeps it.
        cur_cost = _parse_byte_conf(spark.conf.get("spark.sql.files.openCostInBytes"))
        if open_cost_bytes < cur_cost:
            confs["spark.sql.files.openCostInBytes"] = str(open_cost_bytes)
    saved = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def _parse_byte_conf(raw: str) -> int:
    """'134217728' / '128m' / '1g' → bytes (the subset of Spark's byte-
    string grammar its own defaults use)."""
    raw = raw.strip().lower()
    for suffix, mult in (
        ("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
        ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("b", 1),
    ):
        if raw.endswith(suffix):
            return int(float(raw[: -len(suffix)]) * mult)
    return int(raw)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    block_cols: list[str] | None = None,
    max_collisions_per_doc: float | None = None,
    cross_block_recovery: bool = False,
) -> DataFrame:
    """Near-duplicate pairs above `threshold` exact Jaccard.

    ``cross_block_recovery`` (opt-in, requires ``block_cols``): after the
    blocked pass, run :func:`minhash_crossblock_recovery` — re-band one
    representative per blocked dup cluster GLOBALLY and exact-verify the
    expanded cross-cluster candidates — and union the recovered
    cross-block pairs into the result. The default (False) keeps the
    blocked contract: cross-block near-dups out of scope. See the
    recovery function's docstring for the cost/recall contract (global
    floor O(n_reps²); rep-level LSH recall).

    ``max_collisions_per_doc``: an enforced pre-flight budget. When set,
    the EXACT band census (:func:`minhash_candidate_census`, one
    aggregation over the pinned signature table) runs first, and a corpus
    whose raw band collisions per doc exceed the budget raises
    ``ValueError`` naming the measured volume, the
    :func:`minhash_geometry` recommendation, and the blocking hint —
    INSTEAD of silently paying the O(n²) random-collision floor (r11
    1M-doc rung: candidates ×1.97 per decade past ~10^5.7 unblocked docs
    at t=0.5). Healthy corpora sit at O(1)-O(10) collisions/doc. None
    (default) skips the gate.

    ``block_cols``: BLOCKED banding — LSH buckets never span distinct
    values of these columns, so only same-block docs can pair. The random
    band-collision floor is O(Σ n_b²) over blocks instead of O(n²):
    partitioning a 100 TB corpus by (lang, source, time-window) bounds
    every n_b, while true near-dups (which overwhelmingly share those
    attributes) stay detectable. Cross-block near-dups are out of scope
    when blocking is on; NULL block values group together (one null
    block).

    Pipeline (each stage codegen'd, shuffle keys are fixed-width hashes):
      1. explode shingle hashes → (id, h) rows;
      2. one groupBy(id) computing all `num_hashes` seeded minhashes
         (:func:`minhash_signature_table`);
      3. band the signature, explode (id, band, band_hash);
      4. bucket self-join on (band, band_hash) → candidate pairs, pruned
         by the signature-estimated Jaccard;
      5. exact-Jaccard verify — shingle sets re-derived only for the
         (small) candidate set by joining back to the texts.

    Defaults are 32 hashes / 8 bands (r=4): detection probability at
    j=0.5 is ~0.40. 16/4 halves signature compute at the same per-band
    curve but halves the OR-amplification (~0.23 at j=0.5), a
    lower-recall setting; measured 3.9 s vs 4.6 s warm at sf0.1, so the
    recall choice, not latency, should pick the setting.

    Scale: only colliding docs ever meet (no O(n²) stage); AQE skew-join
    splits pathological buckets (boilerplate-heavy crawl shards).
    """
    # validate the flag combination BEFORE any DataFrame work
    if cross_block_recovery and not block_cols:
        raise ValueError(
            "cross_block_recovery=True only applies with block_cols — "
            "the unblocked operator already searches globally"
        )

    from devcontainers_etl_node_spark.operators.skew import spread

    # small single-file inputs arrive as ONE split: spread the CPU-heavy
    # signature compute (a no-op when the scan already has enough splits)
    base = spread(df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text")))

    # The ungated path is ONE lazy DAG ending at the localCheckpoint: within
    # one action, exchange reuse computes each repeated subtree once (the
    # sig exchange feeds band a/b + est a/b; the cand exchange feeds the
    # verify join + both candidate-id arms), and the verify re-derives its
    # shingles from the doc table, so no corpus-wide shingle table is ever
    # cached (OPTIMIZATION_r14.md, "minhash_neardup / pretrain_prep").
    sig = minhash_signature_table(shingle_hash_rows(base, shingle_k), num_hashes)
    key_cols: tuple = ()
    if block_cols:
        # one 8-byte block key joined onto the (tiny) signature table
        sig = sig.join(df.select(F.col(id_col).alias("_id"), _block_key(block_cols)), "_id")
        key_cols = ("_blk",)

    gated = max_collisions_per_doc is not None
    if gated or cross_block_recovery:
        # the census (and the recovery pass) are separate actions that
        # re-read the signatures, and shuffle stages are never reused
        # across actions — pin them. The pin is an EAGER localCheckpoint,
        # not persist+count: a persisted InMemoryRelation canonicalizes per
        # consumer, so the main action's repeated sig subtrees lose
        # ReusedExchange and the band join replicates (120k-doc gated rung:
        # 55 jobs vs 18, OPTIMIZATION_r14.md "minhash gated/blocked batch
        # path").
        sig = sig.localCheckpoint(eager=True)

    if gated:
        census = minhash_candidate_census(
            banded_signatures(sig, num_hashes, bands, key_cols), key_cols
        )
        # banding emits exactly `bands` rows per signed doc, so n_docs
        # needs no separate count action over the signature table
        _enforce_budget(
            census, census["banded_rows"] // bands, max_collisions_per_doc,
            threshold, bool(block_cols),
        )

    cand = band_candidate_pairs(sig, num_hashes=num_hashes, bands=bands, key_cols=key_cols)
    cand = _est_prune_candidates(cand, sig, num_hashes, bands, threshold)
    # Materialize the (small) verified pair list in ONE action.
    # localCheckpoint also truncates the lineage, so callers that embed
    # this result in a bigger DAG (pretrain_prep) don't drag the whole
    # LSH plan along.
    out = _verify_from_base(cand, base, shingle_k, threshold).localCheckpoint(eager=True)
    if cross_block_recovery:
        recovered = minhash_crossblock_recovery(
            df,
            out,
            text_col=text_col,
            id_col=id_col,
            shingle_k=shingle_k,
            num_hashes=num_hashes,
            bands=bands,
            threshold=threshold,
            max_collisions_per_doc=max_collisions_per_doc,
        )
        out = out.unionByName(recovered).localCheckpoint(eager=True)
    # checkpoint blocks are freed by GC once the local refs drop
    return out


def minhash_crossblock_recovery(
    df: DataFrame,
    blocked_pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_collisions_per_doc: float | None = None,
) -> DataFrame:
    """Bounded second pass recovering CROSS-BLOCK near-dup pairs after a
    blocked :func:`minhash_lsh_pairs` run.

    Blocked banding trades cross-block recall for the O(Σ n_b²) floor —
    the right default contract, but some corpora have dup families that
    genuinely span blocks (the r11 250k synthetic corpus measured
    35,792 → 16,627 pairs under lang blocking because its families draw
    lang independently). This pass recovers those pairs WITHOUT
    re-opening the full O(n²) floor:

      1. connected components over the blocked pair graph (O(log n)
         star contraction — :func:`..graph.connected_components_star`);
         every doc not in any blocked pair is its own singleton cluster;
      2. ONE representative per cluster (the component's min id) is
         re-banded GLOBALLY (no blocks) at the same geometry — the
         global floor is O(n_reps²). Measured (PERF.md r12): a
         mostly-unique corpus keeps n_reps ≈ n (95%), a 50%-dup corpus
         whose families fragment across the block key 77% — so
         ``max_collisions_per_doc`` gates THIS pass too;
      3. colliding rep pairs (est-pruned) expand to member candidate
         pairs via the cluster membership (Σ |A|·|B| over colliding
         cluster pairs — bounded by true family structure, since
         clusters ARE verified near-dup families);
      4. pairs the blocked pass already emitted are anti-joined away,
         and the remainder gets the standard exact shingle-Jaccard
         verify — every emitted pair is TRUE (≥ threshold), never an
         LSH guess.

    Rep signatures and verify shingles are both re-derived from the doc
    table below id semi-joins, so no corpus-wide shingle cache exists at
    any point of the pass.

    Recall contract: a cross-block pair is recoverable when the two
    docs' cluster REPS collide in some band — rep-level LSH recall, not
    member-level (a member that drifted far from its rep may be missed).
    Measured on the r11 250k corpus in PERF.md.

    Returns (id_a, id_b, jaccard_sim) for the RECOVERED pairs only —
    disjoint from ``blocked_pairs`` by construction; union for the full
    set (or pass ``cross_block_recovery=True`` to ``minhash_lsh_pairs``).
    """
    from devcontainers_etl_node_spark.operators.graph import connected_components_star
    from devcontainers_etl_node_spark.operators.skew import spread

    base = spread(df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text")))

    # cluster membership: rep = min id of the blocked dup cluster;
    # docs in no blocked pair are their own rep (they must stay
    # searchable — a cross-block family can be all-singletons under
    # blocking, e.g. a 2-member family split across two blocks)
    cc = connected_components_star(blocked_pairs.select("id_a", "id_b"))
    # cross-action pins are eager localCheckpoints (see minhash_lsh_pairs):
    # membership feeds reps here plus BOTH expansion arms of the candidate
    # action, sig feeds the band self-join + est-prune.
    membership = (
        base.select("_id")
        .join(cc.withColumnRenamed("node", "_id"), "_id", "left")
        .select("_id", F.coalesce("component", F.col("_id")).alias("_rep"))
        .localCheckpoint(eager=True)
    )
    reps = membership.select(F.col("_rep").alias("_id")).distinct()
    sig = minhash_signature_table(
        shingle_hash_rows(base.join(reps, "_id", "left_semi"), shingle_k), num_hashes
    ).localCheckpoint(eager=True)
    n_reps = sig.count()

    if max_collisions_per_doc is not None:
        census = minhash_candidate_census(banded_signatures(sig, num_hashes, bands))
        _enforce_budget(census, n_reps, max_collisions_per_doc, threshold, blocked=False)

    rep_cand = band_candidate_pairs(sig, num_hashes=num_hashes, bands=bands)
    rep_cand = _est_prune_candidates(rep_cand, sig, num_hashes, bands, threshold)

    # expand colliding rep pairs to member pairs, drop what the blocked
    # pass already emitted; within-cluster pairs (id_a == id_b after the
    # rep join only happens across clusters, but least/greatest guards
    # ordering) are already covered by the blocked pass's own clusters
    m_a = membership.select(F.col("_rep").alias("id_a"), F.col("_id").alias("_ma"))
    m_b = membership.select(F.col("_rep").alias("id_b"), F.col("_id").alias("_mb"))
    cand = (
        rep_cand.join(m_a, "id_a")
        .join(m_b, "id_b")
        .select(
            F.least("_ma", "_mb").alias("id_a"),
            F.greatest("_ma", "_mb").alias("id_b"),
        )
        .filter(F.col("id_a") != F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .join(blocked_pairs.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti")
        .localCheckpoint(eager=True)
    )
    return _verify_from_base(cand, base, shingle_k, threshold).localCheckpoint(eager=True)


def store_bucket_expr(col: str | Column, n_buckets: int) -> Column:
    """The bucketed-store partition key: ``pmod(xxhash64(cast(id as
    string)), n_buckets)``. The string cast makes the hash id-type-stable
    across batches (xxhash64(int) != xxhash64(long) for equal values —
    the r13 verify-sink lesson). The delta WRITER (incremental.py) and
    the verify PRUNE (below) must derive buckets from THIS one
    expression: any drift between them selects buckets the writer never
    used and silently drops old-side pairs."""
    c = F.col(col) if isinstance(col, str) else col
    return F.pmod(F.xxhash64(c.cast("string")), F.lit(n_buckets)).cast("int")


def minhash_incremental_pairs(
    existing_docs: DataFrame,
    existing_sigs: DataFrame,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    block_cols: list[str] | None = None,
    max_collisions_per_doc: float | None = None,
    existing_shingles: DataFrame | None = None,
    store_buckets: int | None = None,
    stats: dict | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Incremental MinHash dedup: near-dup pairs INVOLVING newly arrived
    docs, reusing the persisted signature table of the historical corpus.

    ``store_buckets`` (the bucketed-store layout): the snapshot is stored
    as BUCKETED delta dirs whose rows carry an ``_bkt`` partition column
    equal to :func:`store_bucket_expr`. Three behavior changes, each
    removing a per-step O(history) term:

    - **verify prune**: the old-side semi-join over ``existing_shingles``
      (the largest store, ~2 B per corpus char) is preceded by an ``_bkt
      IN (candidate buckets)`` partition filter, so the scan reads
      O(candidates) bytes; the bucket list (≤ ``store_buckets`` rows) is
      the one driver-side collect this adds.
    - **persisted block values**: in blocked mode ``existing_sigs``
      already carries ``_blk``, so ``existing_docs`` is not consulted at
      all; only NEW rows derive ``_blk`` from ``new_docs``.
    - **delta return**: the second element of the returned tuple is the
      NEW batch's signature rows (with ``_blk`` when blocked), the
      O(batch) delta the caller appends.

    Banding + census still run over the full compact signature union
    (~76 B/doc on-disk): a batch's band keys touch every hash bucket, so
    a bucket-level prune cannot help there.

    ``existing_shingles`` (the space-for-time option): the persisted
    exploded ``(_id, _h)`` shingle table of the historical corpus (same
    ``shingle_k``, same hash arithmetic — ``shingle_hash_rows`` output).
    When provided, the verify stage's old side reads candidate rows from
    it by semi-join instead of re-shingling ``old_docs`` text (~2 s of
    the ~5.2 s sf0.1 step, PERF.md r12). Coverage contract: it must
    contain rows for EVERY id in ``existing_sigs`` (``incremental.py``
    commits both tables in one version); a missing id would silently
    drop that doc's pairs.
    ``existing_docs`` is then only consulted for block values (blocked
    mode); unblocked callers may pass an empty frame.

    ``max_collisions_per_doc``: pre-flight budget, same contract as
    :func:`minhash_lsh_pairs` but counted per NEW doc — the exact
    all×new band-join volume (``Σ_buckets n_all·n_new − n_new``) must
    not exceed ``budget × |new_docs|``. It protects the cadence: a
    snapshot grown past the floor crossover makes every later batch pay
    O(n·m) random collisions, and the census reads that before the join.

    ``block_cols``: blocked banding, same contract as
    :func:`minhash_lsh_pairs` — buckets never span blocks, so the
    per-batch candidate floor is O(Σ n_b · m_b) (old×new within blocks)
    instead of O(n·m). Without ``store_buckets`` block values are read
    from BOTH doc sides (the legacy signature snapshot stays
    block-free — blocking is a query choice, not a snapshot property).

    The production cadence at 100 TB: signatures are computed once per
    document ever (the dominant cost) and persisted; each ingest batch
    only (a) signs ITS OWN docs, (b) band-joins new against old∪new, and
    (c) exact-verifies the candidates, touching OLD text only for the
    candidate set. Old×old pairs were reported by earlier runs and never
    form (the band join keeps pairs with ≥1 new side).

    Returns ``(pairs, merged_sigs)``: `pairs` is checkpointed; `merged_sigs`
    is the signature table for the NEXT run and reads the batch
    signatures checkpointed by this run — writing it as the new snapshot
    re-signs nothing (each doc is shingled+signed once, ever). The
    checkpoint blocks are freed by GC once the caller drops the frames.
    Parity is pinned in tests: pairs == the full-batch pair set
    restricted to pairs touching a new id, and merged_sigs == a
    from-scratch rebuild.

    ``new_docs`` ids must be disjoint from ``existing_sigs`` ids —
    re-submitting a committed batch would union duplicate signature rows
    into the snapshot and permanently inflate every later run's candidate
    set, so an overlap raises instead of proceeding.

    `existing_sigs` must have been built with the SAME (shingle_k,
    num_hashes) — signatures from different parameters never collide
    correctly; like every LSH index, parameters are part of the snapshot
    contract (callers should store them alongside the parquet).
    """

    from devcontainers_etl_node_spark.operators.skew import spread

    new_base = spread(
        new_docs.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text"))
    )
    # The batch pins are eager localCheckpoints, NOT persist+count: both
    # are read by several consumers across actions (id gate, band join,
    # verify, merged snapshot), and a persisted InMemoryRelation is
    # canonicalized per consumer, so the verify action's repeated cand/sh
    # subtrees would miss ReusedExchange and the band join would replicate
    # (120k-doc rung: 22 jobs vs 57, OPTIMIZATION_r14.md
    # "minhash_incremental"). localCheckpoint forfeits lineage-based
    # executor-loss recovery for these blocks; the production cadence
    # persists the signature snapshot as parquet, the durable equivalent.
    new_shingles = shingle_hash_rows(new_base, shingle_k).localCheckpoint(eager=True)
    new_sigs = minhash_signature_table(new_shingles, num_hashes).localCheckpoint(eager=True)

    # id-disjointness gate (one semi-join over the compact sig table —
    # ~num_hashes longs/doc, far cheaper than the corruption it prevents):
    # a re-submitted batch must fail loudly, not silently double-sign.
    # In the BLOCKED path the same action also checks new_docs for
    # duplicate id ROWS: the block join below is keyed on new_docs rows,
    # so a duplicate id would fan out the banded batch — inflating the
    # census, the budget denominator, and the band join — where the
    # unblocked path's signature groupBy collapses it. The union is
    # ordered ("committed" sorts before "dup_in_batch"), so a batch with
    # both faults always raises the committed-id error.
    bad = new_sigs.join(existing_sigs.select("_id"), "_id", "left_semi").select(
        "_id", F.lit("committed").alias("_why")
    )
    if block_cols:
        bad = bad.unionByName(
            new_docs.groupBy(F.col(id_col).alias("_id"))
            .agg(F.count(F.lit(1)).alias("_c"))
            .filter(F.col("_c") > 1)
            .select("_id", F.lit("dup_in_batch").alias("_why"))
        ).orderBy("_why")
    bad_rows = bad.limit(5).collect()
    dup_ids = [r._id for r in bad_rows if r._why == "committed"]
    batch_dups = [r._id for r in bad_rows if r._why == "dup_in_batch"]
    if dup_ids:
        raise ValueError(
            f"new_docs ids already present in the committed snapshot (e.g. {dup_ids}); "
            "re-submitting a committed batch would duplicate signature rows — "
            "dedup against a fresh id range or rebuild the snapshot"
        )
    if batch_dups:
        raise ValueError(
            f"new_docs contains duplicate id rows (e.g. {batch_dups}); with "
            "block_cols set, the block join is keyed on new_docs rows, so a "
            "duplicate id would fan out the banded batch and inflate the "
            "census/budget arithmetic — dedup the batch on the id first"
        )

    key_cols: tuple = ()
    if block_cols:
        blk_expr = _block_key(block_cols)
        if store_buckets:
            # bucketed store: history block values were PERSISTED with the
            # sigs at commit time (coverage by construction — same-version
            # write), so only the batch derives _blk and existing_docs is
            # never consulted.
            new_sigs_banding = new_sigs.join(
                new_docs.select(F.col(id_col).alias("_id"), blk_expr), "_id"
            )
            all_sigs = existing_sigs.select("_id", "_sig", "_blk").unionByName(
                new_sigs_banding.select("_id", "_sig", "_blk")
            )
        else:
            # block values come from the DOC sides (old ∪ new) — the
            # legacy signature snapshot stays block-free
            blk = (
                existing_docs.select(F.col(id_col).alias("_id"), blk_expr)
                .unionByName(new_docs.select(F.col(id_col).alias("_id"), blk_expr))
            )
            # coverage gate: the block join below is INNER on the doc
            # sides — a persisted signature id missing from existing_docs
            # would silently drop out of the band join, losing old-vs-new
            # coverage with no error. Fail loudly instead.
            uncovered = [
                r._id
                for r in existing_sigs.select("_id")
                .join(existing_docs.select(F.col(id_col).alias("_id")), "_id", "left_anti")
                .limit(5)
                .collect()
            ]
            if uncovered:
                raise ValueError(
                    f"blocked incremental dedup: existing_docs is missing ids present "
                    f"in existing_sigs (e.g. {uncovered}) — their block values cannot "
                    f"be derived, so those docs would silently drop out of the band "
                    f"join; pass the full historical doc table (id + block columns) "
                    f"or run unblocked (block_cols=None)"
                )
            all_sigs = (
                existing_sigs.select("_id", "_sig").unionByName(new_sigs).join(blk, "_id")
            )
            new_sigs_banding = new_sigs.join(blk, "_id")
        key_cols = ("_blk",)
    else:
        all_sigs = existing_sigs.select("_id", "_sig").unionByName(new_sigs)
        new_sigs_banding = new_sigs
    if max_collisions_per_doc is not None:
        # exact all×new census BEFORE the band join: flag the new rows,
        # band the flagged union (same explode the join runs), and sum
        # n_all·n_new − n_new per bucket — one aggregation, no join.
        if block_cols and store_buckets:
            flagged = (
                existing_sigs.select("_id", "_sig", "_blk")
                .withColumn("_is_new", F.lit(0))
                .unionByName(
                    new_sigs_banding.select("_id", "_sig", "_blk").withColumn(
                        "_is_new", F.lit(1)
                    )
                )
            )
        else:
            flagged = (
                existing_sigs.select("_id", "_sig")
                .withColumn("_is_new", F.lit(0))
                .unionByName(new_sigs.select("_id", "_sig").withColumn("_is_new", F.lit(1)))
            )
            if block_cols:
                flagged = flagged.join(blk, "_id")
        census = minhash_candidate_census(
            banded_signatures(flagged, num_hashes, bands, key_cols + ("_is_new",)),
            key_cols,
            new_flag_col="_is_new",
        )
        # the batch's doc count falls out of the same census aggregation
        # (bands rows per signed doc) — no separate count action
        _enforce_budget(
            census, census["new_banded_rows"] // bands, max_collisions_per_doc,
            threshold, bool(block_cols),
        )

    # band join: ALL (old∪new) against NEW only — old×old pairs never form
    cand = _band_join(
        banded_signatures(all_sigs, num_hashes, bands, key_cols),
        banded_signatures(new_sigs_banding, num_hashes, bands, key_cols),
        key_cols,
        self_join=False,
    )
    cand = _est_prune_candidates(cand, all_sigs, num_hashes, bands, threshold)
    # the candidate list needs an eager pin ONLY when a separate action
    # reads it before the verify (the bucketed-store path collects the
    # candidate bucket list below — shuffle stages are never reused across
    # actions). Otherwise the verify is ONE action and exchange reuse
    # computes the band join / est joins once.
    if store_buckets:
        cand = cand.localCheckpoint(eager=True)

    # exact verify: shingle sets for candidate docs only — new side from
    # the checkpointed new shingle rows, old side from the persisted
    # shingle store or re-shingled from existing_docs AFTER a semi-join
    # down to candidate members (proportional to candidates, not corpus).
    cand_ids = _candidate_ids(cand)
    if existing_shingles is not None:
        shingle_src = existing_shingles
        if store_buckets:
            # bucketed store: partition-prune the shingle scan to the
            # candidate ids' buckets BEFORE the row-level semi-join, so
            # selected bytes are O(candidates) not O(corpus). New-side ids
            # add a few never-matching buckets rather than an extra job.
            cand_buckets = [
                r._b
                for r in cand_ids.select(
                    store_bucket_expr("_id", store_buckets).alias("_b")
                )
                .distinct()
                .collect()
            ]
            if stats is not None:
                stats["cand_buckets"] = sorted(cand_buckets)
                stats["store_buckets"] = store_buckets
            shingle_src = existing_shingles.filter(F.col("_bkt").isin(cand_buckets))
        old_cand_shingles = shingle_src.select("_id", "_h").join(
            cand_ids, "_id", "left_semi"
        )
    else:
        old_base = existing_docs.select(
            F.col(id_col).alias("_id"), F.col(text_col).alias("_text")
        )
        old_cand_shingles = shingle_hash_rows(
            old_base.join(cand_ids, "_id", "left_semi"), shingle_k
        )
    # the sets feed BOTH sides of the verify join; their groupBy exchange
    # is reused within the single verify action
    sets = _shingle_sets(
        new_shingles.join(cand_ids, "_id", "left_semi").unionByName(old_cand_shingles)
    )
    pairs = _jaccard_join(cand, sets, threshold).localCheckpoint(eager=True)
    if store_buckets:
        # bucketed store: the caller appends DELTAS, never rewrites the
        # snapshot — return only the batch's rows (with _blk when blocked,
        # the persisted-block-value contract above)
        return pairs, new_sigs_banding if block_cols else new_sigs
    return pairs, existing_sigs.select("_id", "_sig").unionByName(new_sigs)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
    threshold: float = 0.2,
    block_col: str | None = None,
    prefix_filter: bool = False,
    max_collisions_per_doc: float | None = None,
) -> DataFrame:
    """Exact n-gram (word shingle) Jaccard pairs via an inverted index.

    Plan: explode each doc's distinct hashed shingles → self-join on
    (block, shingle_hash) with id_a < id_b → the per-(id_a, id_b) group
    COUNT is exactly |A∩B| (shingle sets are distinct), and
    |A∪B| = |A|+|B|-|A∩B|. Exact up to 64-bit hash collisions, identical
    output to a pairwise array-intersect — but the join key is a
    fine-grained (block, gram) hash instead of the handful of block
    values, so parallelism is posting-list-shaped rather than collapsing
    to one task per language, and no shingle ARRAY is ever shuffled or
    intersected. Cost is sum_g C(df_g, 2) joined rows (measured 10x below
    blocked all-pairs on the synthetic corpus, max posting list 14 docs).
    Pairs sharing zero shingles never appear (their Jaccard is 0 < t).

    The length filter from the set-similarity-join literature (J >= t
    forces t <= |A|/|B| <= 1/t) sits INSIDE the join condition, dropping
    size-incompatible pairs before they reach the aggregate. Lossless.

    Like ``minhash_lsh_pairs``, this is terminal: the (id, shingle-set,
    size) table is materialized with ``localCheckpoint(eager=True)``
    before the self-join. Without the barrier, Catalyst's inferred
    explode-filter (``size(_sh) > 0``) substitutes the whole shingle HOF
    chain and pushes it BELOW the repartition Exchange — evaluated on
    ONE core for single-split inputs — and both self-join sides recompute
    the chain again (measured 12-30 s -> ~2 s at 5k docs). The returned
    pair list is itself checkpointed so composing queries don't drag the
    join lineage along; checkpoint blocks are freed when the
    DataFrames are garbage-collected.

    ``prefix_filter=True`` adds AllPairs-style candidate pruning for
    boilerplate-heavy corpora (the 100 TB risk: a header shingle shared
    by 10^5 docs makes C(10^5, 2) joined rows). With shingles globally
    ordered rarest-first (doc-frequency, then hash), any pair with
    J >= t must share a shingle inside both docs' first
    |x| - ceil(t*|x|) + 1 shingles — so only PREFIX occurrences generate
    candidates (common shingles sort into the suffix and their posting
    lists never self-join), and the exact Jaccard is then verified by
    intersecting the two sorted hash arrays for the (small) candidate
    set only. Lossless (Bayardo et al., WWW'07); pair set is asserted
    identical to the inverted-index path in tests.

    ``max_collisions_per_doc`` (opt-in; None skips the gate): the census
    refusal ``minhash_lsh_pairs`` enforces, applied to the posting lists
    this operator self-joins (raw grams, or the rarest-first prefixes).
    Σ C(posting,2) is computed with one linear aggregation BEFORE the
    join; above ``max_collisions_per_doc × n_docs`` the operator raises
    with the measured volume and mitigations instead of launching a
    quadratic stage (one shared header gram in 10^5 docs = C(10^5,2)
    joined rows).
    """
    # shingle sets are xxhash64-compressed to sorted distinct long arrays
    # once per row: 8 B/shingle regardless of shingle text size.
    # Repartition FIRST: small single-file inputs arrive as one split, and
    # the shingle HOFs are the CPU-heavy stage — spread them across the
    # cluster (at real scale the scan already has many splits and this is
    # a cheap round-robin; measured 3.5 s -> 0.2 s on one 5k-doc file).
    from devcontainers_etl_node_spark.operators.skew import spread

    src = spread(df)
    sh = F.array_sort(F.array_distinct(F.transform(word_shingles(text_col, ngram), lambda s: F.xxhash64(s))))
    base = (
        src.select(
            F.col(id_col).alias("_id"),
            sh.alias("_sh"),
            *( [F.col(block_col).alias("_blk")] if block_col else [F.lit(1).alias("_blk")] ),
        )
        .withColumn("_n", F.size("_sh"))
        .localCheckpoint(eager=True)
    )

    ratio_ok = (F.col("a._n") >= F.col("b._n") * threshold) & (
        F.col("b._n") >= F.col("a._n") * threshold
    )

    def _gate(postings: DataFrame, joined_on: str) -> None:
        # census/budget refusal (the same self-protection
        # minhash_lsh_pairs has): Σ_buckets C(b,2) over the
        # (block, gram) posting lists IS the raw row count the self-join
        # below must process (the ratio filter prunes inside the join,
        # so this is the exact upper bound). One aggregation over rows
        # the join explodes anyway + one count over the checkpointed
        # base — both linear — before paying a possibly-quadratic join.
        row = (
            postings.groupBy("_blk", "_g")
            .agg(F.count(F.lit(1)).alias("b"))
            .agg(
                F.coalesce(F.sum(F.col("b") * (F.col("b") - 1) / 2), F.lit(0))
                .cast("long")
                .alias("coll"),
                F.coalesce(F.max("b"), F.lit(0)).cast("long").alias("max_b"),
            )
            .collect()[0]
        )
        n_docs = base.count()  # checkpoint scan — no recompute
        if n_docs and row["coll"] > max_collisions_per_doc * n_docs:
            per_doc = row["coll"] / n_docs
            hint = (
                "tighten block_col (smaller blocks bound every posting list)"
                if block_col
                else "pass block_col (lang/source/time-window)"
            )
            raise ValueError(
                f"ngram-jaccard pre-flight budget exceeded: {row['coll']} raw "
                f"{joined_on} collisions over {n_docs} docs ({per_doc:.1f}/doc > "
                f"{max_collisions_per_doc}/doc; max posting list {row['max_b']}) — "
                f"a boilerplate-heavy corpus makes the inverted-index self-join "
                f"quadratic in the hottest posting list; {hint}, "
                + (
                    "use minhash_lsh_pairs (banded LSH bounds the floor), "
                    "or raise the budget"
                    if prefix_filter
                    else "pass prefix_filter=True (rarest-first prefixes drop "
                    "common grams from the join), use minhash_lsh_pairs, or "
                    "raise the budget"
                )
            )

    if not prefix_filter:
        grams = base.select("_id", "_blk", "_n", F.explode("_sh").alias("_g"))
        if max_collisions_per_doc is not None:
            _gate(grams, "posting")
        a, b = grams.alias("a"), grams.alias("b")
        pair_counts = (
            a.join(
                b,
                (F.col("a._blk") == F.col("b._blk"))
                & (F.col("a._g") == F.col("b._g"))
                & (F.col("a._id") < F.col("b._id"))
                & ratio_ok,
            )
            .groupBy(
                F.col("a._id").alias("id_a"),
                F.col("b._id").alias("id_b"),
                F.col("a._n").alias("na"),
                F.col("b._n").alias("nb"),
            )
            .agg(F.count(F.lit(1)).cast("double").alias("n_int"))
        )
        return (
            pair_counts.select(
                "id_a",
                "id_b",
                (F.col("n_int") / (F.col("na") + F.col("nb") - F.col("n_int"))).alias("jaccard_sim"),
            )
            .filter(F.col("jaccard_sim") >= threshold)
            .localCheckpoint(eager=True)
        )

    # --- prefix-filtered path -------------------------------------------
    grams = base.select("_id", "_blk", "_n", F.explode("_sh").alias("_g"))
    dfreq = grams.groupBy("_blk", "_g").agg(F.count(F.lit(1)).alias("_df"))
    # global rarest-first total order; prefix length |x| - ceil(t|x|) + 1
    rank_w = Window.partitionBy("_id").orderBy("_df", "_g")
    prefix = (
        grams.join(dfreq, ["_blk", "_g"])
        .withColumn("_rk", F.row_number().over(rank_w))
        .filter(F.col("_rk") <= F.col("_n") - F.ceil(F.col("_n") * F.lit(threshold)) + 1)
        .select("_id", "_blk", "_n", "_g")
    )
    if max_collisions_per_doc is not None:
        # the gate and the self-join are two actions: pin the prefixes so
        # both read one rarest-first ranking instead of each re-running
        # the gram explode, the df aggregate and the window
        prefix = prefix.localCheckpoint(eager=True)
        _gate(prefix, "prefix")
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a._blk") == F.col("b._blk"))
            & (F.col("a._g") == F.col("b._g"))
            & (F.col("a._id") < F.col("b._id"))
            & ratio_ok,
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # exact verify: sorted hash arrays fetched for candidate docs only
    return _jaccard_join(cand, base, threshold).localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# Shared (session-memoized) candidate-pair graph
# ---------------------------------------------------------------------------

# Keyed by (applicationId, caller-supplied input token, params). Values are
# the localCheckpoint'ed pair DataFrames ngram_jaccard_pairs returns — tiny
# (2 longs + 1 double per near-dup pair), so holding them for the session is
# cheap, and the checkpoint blocks die with the SparkContext the appId names.
_PAIR_MEMO: dict = {}
_PAIR_MEMO_MAX = 64
# monotone hit counter — the sweep (tools/verify_oracle.py) snapshots it
# around each entry to label memo-warm timings in the audit trail
MEMO_HITS = 0


def shared_ngram_pairs(
    df: DataFrame,
    input_token: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
    threshold: float = 0.2,
    block_col: str | None = None,
    prefix_filter: bool = False,
) -> DataFrame:
    """``ngram_jaccard_pairs`` memoized per (session, input, params).

    The dup-graph query family (pairs → clusters → canonical → BFS →
    pagerank → edit-distance verify) all consume the SAME candidate-pair
    graph; rebuilding it per query triples the most expensive stage of a
    dedup pass. A production curation run stages the pair table once
    (parquet, like funnel.py); within one interactive session the
    equivalent is this memo — the pair build runs once and every
    downstream graph query reuses the materialized (checkpointed) result.

    ``input_token`` identifies the input corpus (e.g. the sf directory);
    callers MUST change it when the underlying data changes. Keyed also
    by applicationId so a new SparkSession never sees another session's
    checkpoint blocks.
    """
    key = (
        df.sparkSession.sparkContext.applicationId,
        input_token,
        text_col,
        id_col,
        ngram,
        threshold,
        block_col,
        prefix_filter,
    )
    hit = _PAIR_MEMO.get(key)
    if hit is not None:
        global MEMO_HITS
        MEMO_HITS += 1
        return hit
    out = ngram_jaccard_pairs(
        df,
        text_col=text_col,
        id_col=id_col,
        ngram=ngram,
        threshold=threshold,
        block_col=block_col,
        prefix_filter=prefix_filter,
    )
    if len(_PAIR_MEMO) >= _PAIR_MEMO_MAX:
        _PAIR_MEMO.clear()  # bounded: stale sessions' entries are dead weight
    _PAIR_MEMO[key] = out
    return out


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 63  # stay inside a signed 64-bit long


def simhash(col: Column | str) -> Column:
    """63-bit SimHash over whitespace tokens, pure expressions.

    Per token: xxhash64 → per-bit ±1 votes; fingerprint bit i is the sign
    of the summed vote. Near-identical docs land on nearby fingerprints.
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.lower(F.trim(c)), r"\s+")
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    zero = F.array(*[F.lit(0)] * _SIMHASH_BITS).cast("array<int>")
    votes = F.aggregate(
        hashes,
        zero,
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(_SIMHASH_BITS - 1)),
                lambda i: F.when(F.bit_get(h, i) == 1, F.lit(1)).otherwise(F.lit(-1)),
            ),
            lambda a, v: a + v,
        ),
    )
    # fold votes → integer fingerprint (acc*2 + sign bit, MSB-first)
    return F.aggregate(
        votes,
        F.lit(0).cast("long"),
        lambda acc, v: acc * 2 + F.when(v > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long")),
    )


def simhash_buckets(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Attach the simhash fingerprint; group/join on it for near-dup blocks."""
    return df.select(F.col(id_col), simhash(text_col).alias("simhash"))


# ---------------------------------------------------------------------------
# ExactSubstr, incremental (Lee et al. 2022 — the ingest-cadence half)
# ---------------------------------------------------------------------------
# The batch queries (`dup_span_merge`, `substring_dedup_clean`) re-gram
# the whole corpus per run. At 100 TB the production cadence is the same
# as MinHash's: gram each document ONCE ever, persist the per-gram
# distinct-doc COUNT table, and clean each ingest batch against
# history + batch. Because committed batches never share doc ids (the
# wrapper in incremental.py gates on that), distinct-doc counts are
# additive across batches: count(history ∪ batch) = count(history) +
# count(batch) — so the merged snapshot is a sum-aggregate, never a
# re-gram. A batch position is covered iff its k-gram reaches a total
# count >= 2 — the IDENTICAL rule the full-batch query applies, which is
# what makes incremental output == full-batch output restricted to the
# batch's docs (pinned in tests/test_incremental.py). History docs are
# NOT retro-cleaned when a later batch duplicates them — they were
# committed with the information available at their ingest (the
# documented one-way cadence every incremental curation run shares).


def substr_gram_rows(
    docs: DataFrame, k: int = 8, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, p, g): every k-token window's position (1-based) and
    64-bit gram hash — whitespace tokenization identical to the batch
    ExactSubstr queries (queries/catalog.py substring family). Docs with
    fewer than k tokens emit no rows (nothing to match on)."""
    t = F.split(F.lower(F.trim(text_col)), r"\s+")
    return (
        docs.filter(F.length(F.trim(text_col)) > 0)
        .select(F.col(id_col).alias("doc_id"), t.alias("t"))
        .withColumn("n", F.size("t"))
        .filter(F.col("n") >= k)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.col("n") - (k - 1))).alias("p"),
            "t",
        )
        .select(
            "doc_id",
            "p",
            F.xxhash64(F.concat_ws(" ", F.slice("t", F.col("p"), k))).alias("g"),
        )
    )


def substr_gram_doc_counts(gram_rows: DataFrame) -> DataFrame:
    """(g, nd): distinct-document count per gram hash — the persisted
    ExactSubstr index artifact. One shuffle on the 8-byte hash with
    map-side partial aggregation."""
    return gram_rows.groupBy("g").agg(
        F.countDistinct("doc_id").cast("long").alias("nd")
    )


def merge_gram_counts(history: DataFrame, batch: DataFrame) -> DataFrame:
    """history ∪ batch counts, summed per gram. Valid ONLY when the two
    count tables were built over disjoint doc-id sets (the wrapper's
    overlap gate guarantees it) — then distinct-doc counts are additive."""
    h = history.select(F.col("g").alias("hg"), F.col("nd").alias("h_nd"))
    return (
        batch.join(h, F.col("g") == F.col("hg"), "full_outer")
        .select(
            F.coalesce(F.col("g"), F.col("hg")).alias("g"),
            (F.coalesce(F.col("nd"), F.lit(0)) + F.coalesce(F.col("h_nd"), F.lit(0)))
            .cast("long")
            .alias("nd"),
        )
    )


def substr_clean_batch(
    history_counts: DataFrame,
    new_docs: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Clean ONE ingest batch against history ∪ batch gram counts,
    without touching historical text.

    Returns ``(clean, merged_counts, batch_counts)``:

    - ``clean``: (doc_id, n_tokens, n_kept, clean_text) for batch docs
      with at least one kept token — the same output contract as the
      full-batch `substring_dedup_clean`;
    - ``merged_counts``: (g, nd) over history ∪ batch, the next
      snapshot's content;
    - ``batch_counts``: (g, nd) over the batch alone — the input
      :func:`substr_retro_audit` pairs with the history table.

    Plan: the ONLY corpus-sized inputs are the batch's own gram rows
    (k ≈ 8 rows per token, map-side) and the history COUNT table (gram-
    cardinality, not corpus text). Coverage needs just the batch grams
    whose total count >= 2 — a left join of batch counts onto history on
    the 8-byte hash, then a semi-join back onto the batch's gram rows;
    everything shuffles on `g` or (doc_id, p). Reassembly is the batch-
    query shape: per-doc array_sort bounded by document length."""
    grams = substr_gram_rows(new_docs, k=k, text_col=text_col, id_col=id_col)
    batch_counts = substr_gram_doc_counts(grams)
    merged = merge_gram_counts(history_counts, batch_counts)
    # grams duplicated across history+batch that the BATCH contains
    hist = history_counts.select(F.col("g").alias("hg"), F.col("nd").alias("h_nd"))
    dup_g = (
        batch_counts.join(hist, F.col("g") == F.col("hg"), "left")
        .filter(F.col("nd") + F.coalesce(F.col("h_nd"), F.lit(0)) >= 2)
        .select("g")
    )
    covered = (
        grams.join(dup_g, "g", "left_semi")
        .select(
            F.col("doc_id").alias("c_doc"),
            F.explode(F.sequence(F.col("p"), F.col("p") + (k - 1))).alias("j"),
        )
        .distinct()
    )
    t = F.split(F.lower(F.trim(text_col)), r"\s+")
    toks = (
        new_docs.filter(F.length(F.trim(text_col)) > 0)
        .select(F.col(id_col).alias("doc_id"), t.alias("t"))
        .withColumn("n", F.size("t"))
        .select("doc_id", "n", F.posexplode("t").alias("p0", "tok"))
        .select("doc_id", "n", (F.col("p0") + 1).alias("p"), "tok")
    )
    kept = toks.join(
        covered,
        (F.col("doc_id") == F.col("c_doc")) & (F.col("p") == F.col("j")),
        "left_anti",
    )
    clean = kept.groupBy("doc_id").agg(
        F.max("n").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "tok"))), lambda x: x["tok"]
            ),
        ).alias("clean_text"),
    )
    return clean, merged, batch_counts


def substr_retro_audit(history_counts: DataFrame, batch_counts: DataFrame) -> DataFrame:
    """How much committed history this batch NEWLY duplicates — the
    visibility report for the one-way ingest trade (history text is
    never retro-cleaned; this quantifies what that forgoes, per batch).

    Pure count-table arithmetic — no text is read: a history gram with
    ``h_nd == 1`` was unique among all committed docs, so a batch doc
    carrying the same gram makes the HISTORY occurrence retroactively
    duplicated (it would have been cut had history been re-cleaned);
    ``h_nd >= 2`` grams were already duplicated within history and the
    batch changes nothing for them. One row:

    - ``n_hist_grams`` / ``n_batch_grams`` — distinct gram cardinalities;
    - ``n_overlap_grams`` — grams in both (any cross-batch duplication);
    - ``n_newly_dup_hist_grams`` — overlap grams with ``h_nd == 1``;
    - ``retro_dup_fraction`` — newly-dup / history grams (0 on empty
      history), the operator-facing "how stale is my committed clean
      corpus" dial.

    Cost: one join of two gram-CARDINALITY tables on the 8-byte hash →
    a single aggregate row. Safe at any corpus size."""
    h = history_counts.select(F.col("g").alias("hg"), F.col("nd").alias("h_nd"))
    joined = batch_counts.join(h, F.col("g") == F.col("hg"), "left")
    overlap = joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_batch_grams"),
        F.count("hg").cast("long").alias("n_overlap_grams"),
        F.sum(F.when(F.col("h_nd") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_newly_dup_hist_grams"),
    )
    hist_total = history_counts.agg(F.count(F.lit(1)).cast("long").alias("n_hist_grams"))
    return overlap.crossJoin(hist_total).select(
        "n_batch_grams",
        "n_hist_grams",
        "n_overlap_grams",
        "n_newly_dup_hist_grams",
        F.when(
            F.col("n_hist_grams") > 0,
            F.col("n_newly_dup_hist_grams").cast("double") / F.col("n_hist_grams"),
        )
        .otherwise(F.lit(0.0))
        .alias("retro_dup_fraction"),
    )
