"""LLM-data operator semantics: dedup, similarity, text, multimodal."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from devcontainers_etl_node_spark.operators import dedup, multimodal, similarity
from devcontainers_etl_node_spark.operators import text as textops


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(3, "same text"), (1, "same text"), (2, "other"), (5, "same text")],
        ["doc_id", "text"],
    )
    out = sorted(r.doc_id for r in dedup.exact_dedup(df).collect())
    assert out == [1, 2]


def test_minhash_finds_planted_neardup(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    near = base.replace("lazy", "sleepy")  # high-jaccard pair
    rows = [(1, base), (2, near)] + [
        (10 + i, f"completely unrelated document number {i} with its own distinct words {i * 7} galore")
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = dedup.minhash_lsh_pairs(df, threshold=0.5).collect()
    assert any(p.id_a == 1 and p.id_b == 2 for p in pairs)
    # unrelated docs may share a band by chance but must not pass exact verify
    assert all(p.jaccard_sim >= 0.5 for p in pairs)


def test_minhash_blocked_banding(spark):
    """block_cols (r11 floor mitigation): buckets never span blocks —
    a planted near-dup pair in DIFFERENT blocks is out of scope, the
    same pair within one block is found, NULL blocks group together,
    and the unblocked call still finds everything (default unchanged)."""
    base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    near = base.replace("lazy", "sleepy")
    other = base.replace("quick", "rapid")
    rows = [
        (1, base, "en"),
        (2, near, "de"),       # near-dup of 1, OTHER block
        (3, other, "en"),      # near-dup of 1, SAME block
        (4, base + " x", None),  # NULL block...
        (5, near + " x", None),  # ...pairs with the other NULL-block doc
    ] + [
        (10 + i, f"unrelated filler document {i} with words {i * 7} only", "en")
        for i in range(10)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])

    blocked = {
        (p.id_a, p.id_b)
        for p in dedup.minhash_lsh_pairs(df, threshold=0.5, block_cols=["lang"]).collect()
    }
    assert (1, 3) in blocked          # same block: found
    assert (1, 2) not in blocked      # cross block: out of scope
    assert (4, 5) in blocked          # null blocks group together

    unblocked = {
        (p.id_a, p.id_b)
        for p in dedup.minhash_lsh_pairs(df, threshold=0.5).collect()
    }
    assert {(1, 2), (1, 3), (4, 5)} <= unblocked
    # blocking only ever REMOVES cross-block pairs
    assert blocked <= unblocked


def test_minhash_crossblock_recovery(spark):
    """cross_block_recovery (r12 escape hatch, r11 verdict task 4): the
    planted cross-block pair lang blocking drops is RECOVERED by the
    rep re-banding pass; recovered pairs are disjoint from the blocked
    set and every one is exact-verified ≥ threshold; the opt-in flag
    unions the two sets and restores the unblocked recall on this
    corpus; the flag without block_cols refuses."""
    base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    near = base.replace("lazy", "sleepy")
    other = base.replace("quick", "rapid")
    rows = [
        (1, base, "en"),
        (2, near, "de"),       # near-dup of 1, OTHER block — the drop
        (3, other, "en"),      # near-dup of 1, same block
        (4, base + " x", "fr"),   # 2-member family fully split across...
        (5, near + " x", "pt"),   # ...blocks: BOTH singletons under blocking
    ] + [
        (10 + i, f"unrelated filler document {i} with words {i * 7} only", "en")
        for i in range(10)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])

    blocked_df = dedup.minhash_lsh_pairs(df, threshold=0.5, block_cols=["lang"])
    blocked = {(p.id_a, p.id_b) for p in blocked_df.collect()}
    assert (1, 2) not in blocked and (4, 5) not in blocked

    recovered_rows = dedup.minhash_crossblock_recovery(
        df, blocked_df, threshold=0.5
    ).collect()
    recovered = {(p.id_a, p.id_b) for p in recovered_rows}
    assert (1, 2) in recovered            # cross-block family pair: back
    assert (4, 5) in recovered            # all-singleton split family: back
    assert not recovered & blocked        # disjoint by construction
    assert all(p.jaccard_sim >= 0.5 for p in recovered_rows)  # true pairs only

    full = {
        (p.id_a, p.id_b)
        for p in dedup.minhash_lsh_pairs(
            df, threshold=0.5, block_cols=["lang"], cross_block_recovery=True
        ).collect()
    }
    assert full == blocked | recovered
    unblocked = {
        (p.id_a, p.id_b)
        for p in dedup.minhash_lsh_pairs(df, threshold=0.5).collect()
    }
    assert unblocked <= full              # recovery restores global recall here

    import pytest as _pytest

    with _pytest.raises(ValueError, match="cross_block_recovery"):
        dedup.minhash_lsh_pairs(df, threshold=0.5, cross_block_recovery=True)


def test_minhash_incremental_blocked_parity(spark):
    """Blocked incremental == blocked batch restricted to pairs touching
    a new id; cross-block near-dups stay out of scope on both paths."""
    base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    rows = [
        (1, base, "en"),
        (2, base.replace("lazy", "sleepy"), "en"),   # old, same block as 1
        (3, base.replace("lazy", "dozy"), "de"),     # old, other block
    ] + [(10 + i, f"old filler {i} words {i * 3} here", "en") for i in range(6)]
    new_rows = [
        (100, base.replace("quick", "rapid"), "en"),  # pairs with 1,2
        (101, base.replace("quick", "swift"), "de"),  # pairs with 3 only
    ]
    old_df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    new_df = spark.createDataFrame(new_rows, ["doc_id", "text", "lang"])
    full_df = old_df.unionByName(new_df)

    batch = {
        (p.id_a, p.id_b)
        for p in dedup.minhash_lsh_pairs(full_df, threshold=0.5, block_cols=["lang"]).collect()
        if p.id_a >= 100 or p.id_b >= 100
    }
    old_sigs = dedup.minhash_signature_table(
        dedup.shingle_hash_rows(
            old_df.select(F.col("doc_id").alias("_id"), F.col("text").alias("_text"))
        )
    )
    pairs, _merged = dedup.minhash_incremental_pairs(
        old_df, old_sigs, new_df, threshold=0.5, block_cols=["lang"]
    )
    got = {(p.id_a, p.id_b) for p in pairs.collect()}
    assert got == batch
    assert (1, 100) in got and (3, 101) in got
    assert (3, 100) not in got and (1, 101) not in got  # cross-block


def test_minhash_budget_gate(spark):
    """max_collisions_per_doc (r12, the setsim_join_prefix shape): a
    boilerplate corpus — every doc shares a template, so band buckets go
    quadratic — trips the exact band census with the measured volume,
    the blocking hint, and a minhash_geometry recommendation; a diverse
    corpus under the same budget runs; a blocked call that still trips
    recommends tightening the blocks."""
    import pytest as _pytest

    template = "terms of service apply to all content on this page always " * 4
    boiler = spark.createDataFrame(
        [(i, template + f"tail {i}", "en") for i in range(40)],
        ["doc_id", "text", "lang"],
    )
    with _pytest.raises(
        ValueError, match="pre-flight budget exceeded.*block_cols.*minhash_geometry"
    ):
        dedup.minhash_lsh_pairs(boiler, threshold=0.5, max_collisions_per_doc=2.0)
    # blocked call still over budget: the hint flips to tightening blocks
    with _pytest.raises(ValueError, match="tighten block_cols"):
        dedup.minhash_lsh_pairs(
            boiler, threshold=0.5, block_cols=["lang"], max_collisions_per_doc=2.0
        )
    # same corpus, no budget: still computable (the pre-r12 behavior)
    assert dedup.minhash_lsh_pairs(boiler, threshold=0.5).count() > 0

    import random

    rng = random.Random(7)
    vocab = [f"word{i}" for i in range(800)]
    diverse = spark.createDataFrame(
        [(i, " ".join(rng.choice(vocab) for _ in range(25))) for i in range(40)],
        ["doc_id", "text"],
    )
    # diverse corpus under the same budget: gate passes, operator runs
    dedup.minhash_lsh_pairs(diverse, threshold=0.5, max_collisions_per_doc=2.0).count()


def test_minhash_incremental_budget_gate(spark):
    """The incremental gate counts the all×new band-join volume per NEW
    doc: a boilerplate batch against a boilerplate snapshot trips it;
    the same batch with the budget off still runs and matches the
    unbudgeted pair set."""
    import pytest as _pytest

    template = "standard disclaimer text repeated across every page here " * 4
    old_df = spark.createDataFrame(
        [(i, template + f"old {i}") for i in range(30)], ["doc_id", "text"]
    )
    new_df = spark.createDataFrame(
        [(100 + i, template + f"new {i}") for i in range(5)], ["doc_id", "text"]
    )
    old_sigs = dedup.minhash_signature_table(
        dedup.shingle_hash_rows(
            old_df.select(F.col("doc_id").alias("_id"), F.col("text").alias("_text"))
        )
    )
    with _pytest.raises(ValueError, match="pre-flight budget exceeded"):
        dedup.minhash_incremental_pairs(
            old_df, old_sigs, new_df, threshold=0.5, max_collisions_per_doc=3.0
        )
    pairs, _m = dedup.minhash_incremental_pairs(
        old_df, old_sigs, new_df, threshold=0.5
    )
    assert pairs.count() > 0


def test_minhash_incremental_blocked_requires_doc_coverage(spark):
    """r12 advice: the blocked path derives block values from the doc
    sides, so a persisted signature id MISSING from existing_docs must
    raise (it would otherwise silently drop out of the band join and
    lose old-vs-new coverage). The unblocked path is unaffected — block
    values aren't needed there."""
    import pytest as _pytest

    base = "the quick brown fox jumps over the lazy dog and runs far away into the woods"
    old_df = spark.createDataFrame(
        [(1, base, "en")], ["doc_id", "text", "lang"]
    )
    # signatures cover ids {1, 2} but existing_docs only covers {1}
    both = spark.createDataFrame(
        [(1, base), (2, base.replace("lazy", "dozy"))], ["doc_id", "text"]
    )
    old_sigs = dedup.minhash_signature_table(
        dedup.shingle_hash_rows(
            both.select(F.col("doc_id").alias("_id"), F.col("text").alias("_text"))
        )
    )
    new_df = spark.createDataFrame(
        [(100, base.replace("quick", "rapid"), "en")], ["doc_id", "text", "lang"]
    )
    with _pytest.raises(ValueError, match="missing ids.*block"):
        dedup.minhash_incremental_pairs(
            old_df, old_sigs, new_df, threshold=0.5, block_cols=["lang"]
        )
    # unblocked: runs (verify-side coverage is a separate, documented
    # contract), and still finds the new-vs-covered-old pair
    pairs, _m = dedup.minhash_incremental_pairs(
        old_df, old_sigs, new_df, threshold=0.5
    )
    got = {(p.id_a, p.id_b) for p in pairs.collect()}
    assert (1, 100) in got


def test_minhash_geometry_zero_kappa_unbounded_crossover():
    """r12 advice: kappa=0 (no measured floor) must return a geometry
    with a clamped sentinel crossover, not raise OverflowError on
    int(inf)."""
    import sys

    from devcontainers_etl_node_spark.operators.dedup import minhash_geometry

    g = minhash_geometry(0.5, 0.9, kappa=0.0)
    assert g is not None
    assert g["floor_rate_per_pair"] == 0.0
    assert g["floor_crossover_docs"] == sys.maxsize
    assert 0 < g["detection_at_threshold"] <= 1


def test_jaccard_exact_values(spark):
    df = spark.createDataFrame([(1,)], ["x"]).select(
        dedup.jaccard(F.array(F.lit("a"), F.lit("b")), F.array(F.lit("b"), F.lit("c"))).alias("j")
    )
    assert abs(df.collect()[0].j - 1 / 3) < 1e-12


def test_simhash_similar_docs_close(spark):
    df = spark.createDataFrame(
        [
            (1, "spark is a distributed compute engine for large data"),
            (2, "spark is a distributed compute engine for large datasets"),
            (3, "völlig anderes dokument über ganz andere themen und wörter"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.simhash for r in dedup.simhash_buckets(df).collect()}

    def hamming(a: int, b: int) -> int:
        return bin((a ^ b) & ((1 << 63) - 1)).count("1")

    assert hamming(out[1], out[2]) < hamming(out[1], out[3])


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",)], ["text"]).select(
        dedup.word_shingles("text", 2).alias("sh")
    )
    assert sorted(df.collect()[0].sh) == ["a b", "b c", "c d"]


# ---------------------------------------------------------------------------
# similarity
# ---------------------------------------------------------------------------


def test_cosine_matches_numpy(spark):
    rng = np.random.default_rng(7)
    a, b = rng.normal(size=8).astype("float32"), rng.normal(size=8).astype("float32")
    df = spark.createDataFrame([(a.tolist(), b.tolist())], ["a", "b"]).select(
        similarity.cosine(F.col("a"), F.col("b")).alias("c")
    )
    expected = float(
        np.dot(a.astype("float64"), b.astype("float64"))
        / (np.linalg.norm(a.astype("float64")) * np.linalg.norm(b.astype("float64")))
    )
    assert abs(df.collect()[0].c - expected) < 1e-9


def test_brute_force_topk_matches_numpy(spark):
    rng = np.random.default_rng(42)
    vecs = rng.normal(size=(50, 16)).astype("float32")
    df = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(50)], ["vec_id", "embedding"]
    )
    q = df.filter(F.col("vec_id") == 0)
    got = [
        r.neighbor_id
        for r in similarity.brute_force_topk(df, q, k=3).orderBy("rn").collect()
    ]
    v64 = vecs.astype("float64")
    sims = v64 @ v64[0] / (np.linalg.norm(v64, axis=1) * np.linalg.norm(v64[0]))
    sims[0] = -np.inf
    expected = list(np.argsort(-sims)[:3])
    assert got == expected


def test_lsh_topk_subset_of_corpus(spark):
    rng = np.random.default_rng(1)
    vecs = rng.normal(size=(100, 16)).astype("float32")
    df = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(100)], ["vec_id", "embedding"]
    )
    q = df.filter(F.col("vec_id") < 2)
    rows = similarity.lsh_topk(df, q, k=3, dim=16).collect()
    assert all(r.query_id != r.neighbor_id for r in rows)
    assert all(1 <= r.rn <= 3 for r in rows)


def test_ivf_topk_recall_on_clustered_data(spark):
    rng = np.random.default_rng(2)
    # 4 well-separated clusters: IVF with n_probe=2 must recover the true
    # neighbors of in-cluster queries
    centers = rng.normal(size=(4, 16)) * 10
    vecs = np.concatenate(
        [centers[i % 4] + rng.normal(size=16) * 0.1 for i in range(80)]
    ).reshape(80, 16).astype("float32")
    df = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(80)], ["vec_id", "embedding"]
    )
    q = df.filter(F.col("vec_id") < 2)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(df, q, k=3).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_topk(df, q, k=3, n_centroids=4, n_probe=2).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9


def test_neardup_pairs_finds_duplicate_vector(spark):
    v = [1.0, 0.0, 0.0, 0.0]
    w = [0.99, 0.01, 0.0, 0.0]
    other = [0.0, 1.0, 0.0, 0.0]
    df = spark.createDataFrame(
        [(1, v, 0), (2, w, 0), (3, other, 0)], ["vec_id", "embedding", "label"]
    )
    pairs = similarity.neardup_pairs(df, threshold=0.95).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]


# ---------------------------------------------------------------------------
# text
# ---------------------------------------------------------------------------


def test_text_profile_counts(spark):
    df = spark.createDataFrame([(1, "The cat sat, on the mat!")], ["doc_id", "text"])
    r = textops.text_profile(df).collect()[0]
    assert r.n_tokens == 6
    assert r.n_chars_computed == 24
    assert r.lang_pred == "en"
    assert 0 < r.stopword_ratio < 1
    assert r.quality_score > 0


def test_lang_id_heuristic(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat is on the mat and it is happy"),
            (2, "el gato es de la casa y es feliz por los días"),
            (3, "der hund ist von dem haus und die katze"),
            (4, "xyzzy plugh qwerty"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.p for r in df.select("doc_id", textops.lang_id("text").alias("p")).collect()}
    assert out[1] == "en"
    assert out[2] == "es"
    assert out[3] == "de"
    assert out[4] == "und"


def test_fingerprint_normalizes_whitespace(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "goodbye world")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.f for r in df.select("doc_id", textops.fingerprint("text").alias("f")).collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]


def test_token_counts_empty_string(spark):
    df = spark.createDataFrame([(1, ""), (2, "  "), (3, "one two")], ["doc_id", "text"])
    out = {
        r.doc_id: (r.n, r.b)
        for r in df.select(
            "doc_id",
            textops.token_count("text").alias("n"),
            textops.bpe_ish_token_count("text").alias("b"),
        ).collect()
    }
    assert out[1] == (0, 0)
    assert out[2] == (0, 0)
    assert out[3] == (2, 2)


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------


def test_media_pipeline_schema_and_determinism(spark):
    df = spark.createDataFrame([(1, "abcdefgh"), (2, "")], ["doc_id", "text"])
    media = multimodal.attach_fake_media(df)
    assert [f.name for f in media.schema.fields] == ["media_id", "payload", "meta"]
    feats = multimodal.decode_image_features(media, feature_dim=4)
    rows = {r.media_id: r for r in feats.collect()}
    assert rows[1].n_bytes == 8
    assert len(rows[1].feature) == 4
    assert rows[2].n_bytes == 0
    # deterministic: re-running produces identical features
    rows2 = {r.media_id: r for r in multimodal.decode_image_features(media, feature_dim=4).collect()}
    assert rows[1].feature == rows2[1].feature
    assert not any(math.isnan(x) for x in rows[1].feature)


def test_decode_image_real_stdlib_fallback_decodes_real_pngs(spark):
    """Real decode with NO Pillow anywhere near the path: stdlib-encoded
    PNGs (operators/png.py) flow through decode_image_real and come back
    with true dimensions and exact pooled features; corrupt and NULL
    payloads yield NULL features instead of failing the job.  Runs
    un-skipped in this sandbox (no Pillow) — under Pillow the operator
    prefers PIL and this path is covered by the codec unit tests."""
    import numpy as np

    from devcontainers_etl_node_spark.operators import png

    rgb = np.zeros((6, 8, 3), dtype=np.uint8)
    rgb[:, :, 0] = 200  # uniform red: luma = 200*299/1000 = 59.8
    gray = np.full((4, 4), 128, dtype=np.uint8)
    media = spark.createDataFrame(
        [
            (1, bytearray(png.encode(rgb))),
            (2, bytearray(png.encode(gray))),
            (3, bytearray(b"not an image")),
            (4, None),
        ],
        "media_id long, payload binary",
    )
    rows = {r.media_id: r for r in multimodal.decode_image_real(media, grid=2).collect()}
    assert (rows[1].width, rows[1].height) == (8, 6)
    assert len(rows[1].feature) == 4
    for v in rows[1].feature:  # uniform image -> every pooled cell exact
        assert abs(v - 59.8 / 255.0) < 1e-6  # float32 feature column
    assert (rows[2].width, rows[2].height) == (4, 4)
    for v in rows[2].feature:
        assert abs(v - 128.0 / 255.0) < 1e-6
    assert rows[3].feature is None and rows[3].width is None
    assert rows[3].n_bytes == len(b"not an image")
    assert rows[4].feature is None and rows[4].n_bytes == 0


def test_decode_image_real_with_pil(spark):
    """End-to-end real decode when Pillow exists: a generated PNG comes
    back with its true dimensions and a grid of [0,1] features; a corrupt
    payload yields NULLs instead of failing the job. Skipped (not stubbed)
    when Pillow is absent."""
    PIL_Image = pytest.importorskip("PIL.Image")
    import io

    buf = io.BytesIO()
    PIL_Image.new("RGB", (5, 3), color=(255, 0, 0)).save(buf, format="PNG")
    png = buf.getvalue()
    media = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(b"not an image"))],
        "media_id long, payload binary",
    )
    rows = {r.media_id: r for r in multimodal.decode_image_real(media, grid=4).collect()}
    assert (rows[1].width, rows[1].height) == (5, 3)
    assert len(rows[1].feature) == 16
    assert all(0.0 <= v <= 1.0 for v in rows[1].feature)
    assert rows[2].feature is None and rows[2].width is None
    assert rows[2].n_bytes == len(b"not an image")


def test_frame_sample_stub(spark):
    df = multimodal.attach_fake_media(
        spark.createDataFrame([(1, "0123456789" * 3)], ["doc_id", "text"])
    )
    r = multimodal.frame_sample_stub(df, every_n=10).collect()[0]
    assert r.sampled_frames == 3


def test_salted_join_matches_plain_join(spark):
    from devcontainers_etl_node_spark.operators import skew

    big = spark.createDataFrame(
        [(1, i) for i in range(500)] + [(2, 0), (3, 1)], ["k", "v"]
    )
    small = spark.createDataFrame([(1, "a"), (2, "b"), (9, "z")], ["k", "name"])
    for how in ("inner", "left"):
        plain = {(r.k, r.v, r.name) for r in big.join(small, "k", how).collect()}
        salted = {
            (r.k, r.v, r.name)
            for r in skew.salted_join(big, small, "k", how, salt=8).collect()
        }
        assert salted == plain


def test_salted_agg_matches_plain_agg(spark):
    from devcontainers_etl_node_spark.operators import skew

    df = spark.createDataFrame([(i % 3, i) for i in range(1000)], ["k", "v"])
    plain = {(r.k, r.n, r.s) for r in df.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")).collect()}
    salted = {(r.k, r.n, r.s) for r in skew.salted_agg(
        df, "k",
        partial_aggs=[F.count(F.lit(1)).alias("pn"), F.sum("v").alias("ps")],
        final_aggs=[F.sum("pn").alias("n"), F.sum("ps").alias("s")],
        salt=8,
    ).collect()}
    assert salted == plain


def test_resize_stub_rewrites_payload_and_meta(spark):
    docs = spark.createDataFrame(
        [(1, "x" * 10000), (2, "short"), (3, None)], ["doc_id", "text"]
    )
    media = multimodal.attach_fake_media(docs)
    out = {r.media_id: r for r in multimodal.resize_stub(media, 16, 16).collect()}
    assert len(out[1].payload) == 256  # downsampled to target area
    assert out[1].meta.width == 16 and out[1].meta.height == 16
    assert out[2].payload == b"short"  # under budget: passthrough
    assert out[3].payload is None and out[3].meta.n_bytes == 0


def test_interval_join_matches_predicate_join(spark):
    from devcontainers_etl_node_spark.operators import rangejoin

    pts = spark.createDataFrame([(i, float(i)) for i in range(200)], ["pid", "v"])
    ivs = spark.createDataFrame(
        [(1, 10.0, 25.0), (2, 24.999, 25.0), (3, 99.5, 200.0), (4, 50.0, 50.0)],
        ["iid", "lo", "hi"],
    )
    expected = {
        (r.pid, r.iid)
        for r in pts.join(ivs, (F.col("v") >= F.col("lo")) & (F.col("v") < F.col("hi"))).collect()
    }
    for w in (1.0, 7.3, 100.0):
        got = {
            (r.pid, r.iid)
            for r in rangejoin.interval_join(pts, ivs, "v", "lo", "hi", w).collect()
        }
        assert got == expected, w
    # left join keeps unmatched points exactly once
    left = rangejoin.interval_join(pts, ivs, "v", "lo", "hi", 10.0, how="left")
    assert left.count() == len(expected) + (200 - len({p for p, _ in expected}))


def test_connected_components_labels_min_id(spark):
    from devcontainers_etl_node_spark.operators import graph

    # components: {1,2,3,4} (chain), {10,11}, {20,21,22} (triangle+tail)
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        ["id_a", "id_b"],
    )
    got = {r.node: r.component for r in graph.connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_long_chain_converges(spark):
    from devcontainers_etl_node_spark.operators import graph

    n = 12  # diameter 12 chain: needs multiple propagation rounds
    edges = spark.createDataFrame([(i, i + 1) for i in range(n)], ["id_a", "id_b"])
    got = {r.node: r.component for r in graph.connected_components(edges).collect()}
    assert got == {i: 0 for i in range(n + 1)}


def test_pack_sequences_invariants(spark):
    from devcontainers_etl_node_spark.operators import packing

    rows = [(i, "en" if i % 3 else "fr", 40 + (i * 37) % 200) for i in range(60)]
    rows.append((100, "en", 900))  # oversize doc: must get its own sequence
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_tokens long")
    out = packing.pack_sequences(
        df, token_col="n_tokens", group_col="lang", id_col="doc_id", max_tokens=512
    ).collect()

    # every doc placed exactly once
    assert sorted(r.id for r in out) == sorted(r[0] for r in rows)
    by_seq: dict = {}
    for r in out:
        by_seq.setdefault((r.group, r.seq_id), []).append(r)
    for (_, _), members in by_seq.items():
        total = sum(r.n_tokens for r in members)
        # budget respected unless a single oversize doc
        assert total <= 512 or len(members) == 1
        assert all(r.seq_tokens == total for r in members)
    # greedy fill is maximal: the doc that OPENED sequence s+1 (its min id)
    # would have overflowed sequence s
    for grp in ("en", "fr"):
        grp_rows = [r for r in out if r.group == grp]
        seqs = sorted({r.seq_id for r in grp_rows})
        assert seqs == list(range(len(seqs)))  # contiguous ids from 0
        for s_prev, s_next in zip(seqs, seqs[1:]):
            prev_total = sum(r.n_tokens for r in grp_rows if r.seq_id == s_prev)
            opener = min(
                (r for r in grp_rows if r.seq_id == s_next), key=lambda r: r.id
            )
            assert prev_total + opener.n_tokens > 512

    # determinism: second run identical
    out2 = packing.pack_sequences(
        df, token_col="n_tokens", group_col="lang", id_col="doc_id", max_tokens=512
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_star_contraction_matches_label_propagation(spark):
    import random

    from devcontainers_etl_node_spark.operators import graph

    random.seed(11)
    es = [(random.randrange(120), random.randrange(120)) for _ in range(150)]
    df = spark.createDataFrame(es, ["id_a", "id_b"]).filter("id_a != id_b")
    a = {r.node: r.component for r in graph.connected_components(df).collect()}
    b = {r.node: r.component for r in graph.connected_components_star(df).collect()}
    assert a == b


def test_star_contraction_long_chain_logarithmic(spark):
    from devcontainers_etl_node_spark.operators import graph

    # a 200-hop chain needs ~200 label-propagation rounds; star contraction
    # must finish within max_iter=10 (O(log n)) or the labels come out wrong
    n = 200
    edges = spark.createDataFrame([(i, i + 1) for i in range(n)], ["id_a", "id_b"])
    got = {
        r.node: r.component
        for r in graph.connected_components_star(edges, max_iter=10).collect()
    }
    assert got == {i: 0 for i in range(n + 1)}


def test_star_contraction_keeps_self_loop_singletons(spark):
    from devcontainers_etl_node_spark.operators import graph

    edges = spark.createDataFrame([(5, 5), (1, 2)], ["id_a", "id_b"])
    got = {r.node: r.component for r in graph.connected_components_star(edges).collect()}
    assert got == {5: 5, 1: 1, 2: 1}


def test_connected_components_raises_on_nonconvergence(spark):
    import pytest

    from devcontainers_etl_node_spark.operators import graph

    edges = spark.createDataFrame([(i, i + 1) for i in range(30)], ["id_a", "id_b"])
    with pytest.raises(RuntimeError, match="did not converge"):
        graph.connected_components(edges, max_iter=3)


def test_pack_sequences_rejects_null_tokens(spark):
    import pytest

    from devcontainers_etl_node_spark.operators import packing

    df = spark.createDataFrame(
        [(1, "en", 100), (2, "en", None), (3, "en", 400)],
        "doc_id long, lang string, n_tokens long",
    )
    with pytest.raises(Exception, match="NULL token counts"):
        packing.pack_sequences(
            df, token_col="n_tokens", group_col="lang", id_col="doc_id", max_tokens=512
        ).collect()


def test_pagerank_matches_hand_computation(spark):
    """PageRank on a 4-node graph (one dangling node) equals a pure-Python
    reference run of the same power iteration, and ranks sum to 1."""
    from devcontainers_etl_node_spark.operators.graph import pagerank

    edges = [(1, 2), (2, 1), (3, 1), (1, 4)]  # 4 has no out-links

    def ref_pagerank(es, iterations=10, d=0.85):
        nodes = sorted({u for e in es for u in e})
        n = len(nodes)
        out: dict[int, list[int]] = {}
        for s, t in sorted(set(es)):
            out.setdefault(s, []).append(t)
        rank = {v: 1.0 / n for v in nodes}
        for _ in range(iterations):
            dangling = sum(rank[v] for v in nodes if v not in out)
            new = {v: (1 - d) / n + d * dangling / n for v in nodes}
            for s, ts in out.items():
                for t in ts:
                    new[t] += d * rank[s] / len(ts)
            rank = new
        return rank

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.rank for r in pagerank(df, iterations=10).collect()}
    want = ref_pagerank(edges, iterations=10)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], rel=1e-9)
    assert sum(got.values()) == pytest.approx(1.0, rel=1e-9)


def test_arrow_decode_matches_pandas_decode(spark):
    """The mapInArrow media decode must be byte-identical to the
    mapInPandas path — same stub, two batch transports."""
    from devcontainers_etl_node_spark.catalog import table
    from devcontainers_etl_node_spark.operators import multimodal

    docs = table(spark, "/root/testdata/sf0.001", "documents").limit(50)
    media = multimodal.attach_fake_media(docs)
    a = {r.media_id: (r.n_bytes, r.feature) for r in multimodal.decode_image_features(media).collect()}
    b = {r.media_id: (r.n_bytes, r.feature) for r in multimodal.decode_image_features_arrow(media).collect()}
    assert a == b


def test_ngram_jaccard_prefix_filter_identical_pairs(spark):
    """AllPairs prefix filtering is lossless: the prefix-filtered path must
    emit exactly the inverted-index path's pair set (ids AND similarity
    values), including borderline pairs at the threshold."""
    rows = [
        (1, "a", "alpha beta gamma delta epsilon zeta"),
        (2, "a", "alpha beta gamma delta epsilon eta"),      # near-dup of 1
        (3, "a", "totally different words here indeed folks"),
        (4, "b", "alpha beta gamma delta epsilon zeta"),     # same text, other block
        (5, "b", "alpha beta gamma delta epsilon zeta"),     # exact dup of 4
        (6, "b", "one shared alpha beta gamma trigram only among many other unrelated words"),
        (7, "a", ""),                                        # empty text edge case
        (8, "a", ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    inv = dedup.ngram_jaccard_pairs(df, ngram=3, threshold=0.2, block_col="lang")
    pf = dedup.ngram_jaccard_pairs(df, ngram=3, threshold=0.2, block_col="lang", prefix_filter=True)
    si = {(r.id_a, r.id_b, round(r.jaccard_sim, 12)) for r in inv.collect()}
    sp = {(r.id_a, r.id_b, round(r.jaccard_sim, 12)) for r in pf.collect()}
    assert si == sp
    assert (4, 5, 1.0) in si            # exact dup found
    assert (7, 8, 1.0) in si            # empty docs share the single "" shingle
    assert all(a_id != 4 or b_id != 1 for a_id, b_id, _ in si)  # blocks respected


def test_ngram_jaccard_budget_gate_refuses_boilerplate(spark):
    """r14 verdict item 9: the inverted-index exact-Jaccard operator must
    self-protect on a planted-boilerplate corpus the same way the minhash
    family does. A shared template makes every gram's posting list ~n
    docs long, so the self-join volume is Σ C(n, 2)-ish — the opt-in
    census gate must REFUSE (both the raw-postings and the prefix path)
    before launching the quadratic stage, and the default (no budget)
    must keep today's behavior."""
    import pytest as _pytest

    template = "terms of service apply to all content without exception " * 4
    rows = [(i, "en", template + f"tail {i}") for i in range(80)]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    with _pytest.raises(ValueError, match="pre-flight budget exceeded.*block_col"):
        dedup.ngram_jaccard_pairs(df, threshold=0.2, max_collisions_per_doc=5.0)
    # the prefix path censuses its own (smaller) posting table — the
    # planted template still blows a tight budget there
    with _pytest.raises(ValueError, match="pre-flight budget exceeded"):
        dedup.ngram_jaccard_pairs(
            df, threshold=0.2, prefix_filter=True, max_collisions_per_doc=0.5
        )
    # informed opt-out (the default): same corpus runs to completion with
    # an identical pair set on both paths
    inv = dedup.ngram_jaccard_pairs(df, threshold=0.2)
    assert inv.count() > 0


def test_minhash_census_banded_rows_identity(spark):
    """r14 advice: the census-gated callers derive n_docs as
    banded_rows // bands (and n_new as new_banded_rows // bands) — pin
    the identity banded_rows == bands * n_sig_rows so a future change to
    banded_signatures (e.g. filtering low-entropy buckets) fails loudly
    instead of silently corrupting every budget denominator."""
    docs = spark.createDataFrame(
        [(i, f"some shared words plus unique token u{i} and more filler text here") for i in range(37)],
        ["doc_id", "text"],
    )
    base = docs.select(F.col("doc_id").alias("_id"), F.col("text").alias("_text"))
    sig = dedup.minhash_signature_table(dedup.shingle_hash_rows(base, 5), 32)
    n_sig = sig.count()
    census = dedup.minhash_candidate_census(dedup.banded_signatures(sig, 32, 8))
    assert census["banded_rows"] == 8 * n_sig
    # incremental form: flag half the docs as "new"
    flagged = sig.withColumn("_is_new", (F.col("_id") % 2).cast("int"))
    n_new = flagged.filter("_is_new = 1").count()
    census2 = dedup.minhash_candidate_census(
        dedup.banded_signatures(flagged, 32, 8, ("_is_new",)),
        (),
        new_flag_col="_is_new",
    )
    assert census2["banded_rows"] == 8 * n_sig
    assert census2["new_banded_rows"] == 8 * n_new


def test_ivfpq_rejects_indivisible_dim(spark):
    """m must divide the embedding dim — a remainder would silently drop
    trailing dimensions from PQ training AND ADC scoring (round-3
    advisory). The failure must be loud and immediate."""
    import pytest as _pytest

    from devcontainers_etl_node_spark.operators.similarity import ivfpq_topk

    rows = [(i, [float(i), 0.0, 1.0]) for i in range(4)]  # dim 3, m=2
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    with _pytest.raises(ValueError, match="not divisible"):
        ivfpq_topk(df, df, m=2)


def test_pca_whiten_empty_input_and_typed_id(spark):
    """Empty input returns an empty, correctly-typed frame (no
    IndexError), and a non-long id column flows through both Arrow
    passes with its real type (round-3 advisory)."""
    from devcontainers_etl_node_spark.operators.similarity import pca_whiten

    empty = spark.createDataFrame([], "vec_id string, embedding array<double>")
    out = pca_whiten(empty, k=2, id_col="vec_id")
    assert out.count() == 0
    assert dict(out.dtypes)["vec_id"] == "string"

    rows = [(f"id-{i}", [float(i), float(i % 3), 1.0, 0.5]) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    got = pca_whiten(df, k=2, id_col="vec_id")
    assert got.count() == 12
    assert dict(got.dtypes)["vec_id"] == "string"
    assert {len(r.whitened) for r in got.collect()} == {2}


def test_shared_ngram_pairs_memoized(spark):
    """The dup-graph family consumes ONE candidate-pair graph per
    (session, input, params): the second call must return the SAME
    materialized DataFrame (no rebuild), and a different input token or
    different params must rebuild."""
    rows = [
        (1, "a", "alpha beta gamma delta epsilon zeta"),
        (2, "a", "alpha beta gamma delta epsilon eta"),
        (3, "a", "totally different words here indeed folks"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    first = dedup.shared_ngram_pairs(df, "tok-A", ngram=3, threshold=0.2, block_col="lang")
    again = dedup.shared_ngram_pairs(df, "tok-A", ngram=3, threshold=0.2, block_col="lang")
    assert again is first  # memo hit — the checkpointed table is reused
    other_input = dedup.shared_ngram_pairs(df, "tok-B", ngram=3, threshold=0.2, block_col="lang")
    assert other_input is not first
    other_params = dedup.shared_ngram_pairs(df, "tok-A", ngram=2, threshold=0.2, block_col="lang")
    assert other_params is not first
    # and the memoized result is the real pair set
    assert {(r.id_a, r.id_b) for r in first.collect()} == {(1, 2)}


def test_shared_components_memoized(spark):
    """dup_clusters and dup_canonical consume ONE component labeling per
    (session, input): the second call returns the SAME materialized
    labels; a different input token rebuilds. Labels must equal a fresh
    connected_components run."""
    from devcontainers_etl_node_spark.operators import graph

    edges = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], ["id_a", "id_b"])
    first = graph.shared_components(edges, "cc-tok-A")
    again = graph.shared_components(edges, "cc-tok-A")
    assert again is first
    other = graph.shared_components(edges, "cc-tok-B")
    assert other is not first
    got = {(r.node, r.component) for r in first.collect()}
    want = {
        (r.node, r.component)
        for r in graph.connected_components(edges, src="id_a", dst="id_b").collect()
    }
    assert got == want == {(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)}


def test_funnel_drop_list_anti_joins_unhinted(spark):
    """100 TB guard: the funnel's near-dup and contamination drop lists
    are corpus-proportional, so their anti-joins must NOT carry a forced
    broadcast hint (AQE picks the strategy); the benchmark-gram semi-join
    keeps its hint (benchmark-bounded side). The anti-joins themselves
    must still be present and produce the expected survivors."""
    from devcontainers_etl_node_spark import funnel as fn

    rows = [
        (i, "a", t)
        for i, t in enumerate(
            [
                "the quick brown fox jumps over the lazy dog again and again " * 3,
                "the quick brown fox jumps over the lazy dog again and again " * 3 + "x",
                "completely different text about distributed query engines today " * 3,
                "yet another unrelated document discussing benchmark contamination " * 3,
            ],
            start=1,
        )
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    nd = fn._near_dedup(docs, ["lang"], None)
    nd_plan = nd._jdf.queryExecution().analyzed().toString()
    assert "LeftAnti" in nd_plan
    assert "ResolvedHint" not in nd_plan  # strategy unpinned → AQE decides
    dc = fn._decontaminate(docs, docs)
    dc_plan = dc._jdf.queryExecution().analyzed().toString()
    assert "LeftAnti" in dc_plan
    # exactly the bench-gram hint survives, nothing on the drop lists
    assert dc_plan.count("ResolvedHint") == 1


def test_bfs_distances_hand_computed(spark):
    """Chain + branch + cycle + disconnected node: distances must be the
    true minimum hop counts, the cycle must not inflate them, and the
    disconnected component must be absent."""
    from devcontainers_etl_node_spark.operators.graph import bfs_distances

    #   1-2-3-4 (chain), 2-5 (branch), 3-5 (cycle closing), 8-9 (separate)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (2, 5), (3, 5), (8, 9)], ["id_a", "id_b"]
    )
    src = spark.createDataFrame([(1,)], ["node"])
    got = {r.node: r.dist for r in bfs_distances(edges, src).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 5: 2}


def test_bfs_distances_multi_source_and_cap(spark):
    """Multi-source: distance is to the NEAREST source; the hop cap
    truncates deeper nodes rather than looping forever."""
    from devcontainers_etl_node_spark.operators.graph import bfs_distances

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], ["id_a", "id_b"]  # 1-2-...-8
    )
    src = spark.createDataFrame([(1,), (8,)], ["node"])
    got = {r.node: r.dist for r in bfs_distances(chain, src, max_hops=2).collect()}
    assert got == {1: 0, 8: 0, 2: 1, 7: 1, 3: 2, 6: 2}  # 4,5 beyond the cap


# ---------------------------------------------------------------------------
# phonetic blocking
# ---------------------------------------------------------------------------


def _py_levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_phonetic_blocking_planted_pair_and_invariants(spark):
    rows = [
        (1, "red widget"),
        (2, "red widgett"),     # planted near-dup: same soundex noun, dist 1
        (3, "blue widget"),     # same block, dist 3 vs id 1
        (4, "green sprocket"),  # different block entirely
        (5, "small ring"),
        (6, "small wring"),     # wring/ring share soundex R52 -> different? both R52
    ]
    df = spark.createDataFrame(rows, ["p_partkey", "p_name"])
    out = textops.phonetic_blocking(df, "p_name", "p_partkey", max_dist=3).collect()
    pairs = {(r.id_a, r.id_b): r for r in out}
    # the planted near-duplicate is found with the right distance
    assert (1, 2) in pairs and pairs[(1, 2)].lev_dist == 1
    # "red widget" -> "blue widget" is 4 edits: same block, over the bound
    assert (1, 3) not in pairs
    # cross-block pairs never appear
    assert all(4 not in (a, b) for a, b in pairs)
    # every reported distance matches a Python reference and the bound
    names = dict(rows)
    for (a, b), r in pairs.items():
        d = _py_levenshtein(names[a].lower(), names[b].lower())
        assert r.lev_dist == d and d <= 3
    # blocking invariant: both members share the soundex of their head noun
    sdx = {
        r.p_partkey: r.s
        for r in df.select(
            "p_partkey", F.soundex(F.element_at(F.split(F.lower("p_name"), r"\s+"), -1)).alias("s")
        ).collect()
    }
    for (a, b), r in pairs.items():
        assert sdx[a] == sdx[b] == r.block_key


def test_phonetic_blocking_block_cap_drops_megablocks(spark):
    # 30 members of one phonetic block with cap 10: the block is dropped
    # entirely (no quadratic blowup); a small block elsewhere survives.
    rows = [(i, f"{'x' * (i % 3)}red gear") for i in range(30)]
    rows += [(100, "tiny bolt"), (101, "tiny bolt")]
    df = spark.createDataFrame(rows, ["p_partkey", "p_name"])
    out = textops.phonetic_blocking(df, "p_name", "p_partkey", max_dist=4, max_block=10).collect()
    assert {(r.id_a, r.id_b) for r in out} == {(100, 101)}


# ---------------------------------------------------------------------------
# incremental minhash
# ---------------------------------------------------------------------------


def test_minhash_incremental_parity(spark):
    """Incremental run (reusing the historical signature table) must find
    exactly the full-batch pairs that touch a new doc — old×old pairs are
    earlier runs' output and must not reappear — and the merged signature
    snapshot must equal a from-scratch rebuild."""
    base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    old_rows = [
        (1, base),
        (2, base.replace("lazy", "sleepy")),  # old x old near-dup
        (3, "an old standalone document about completely different topics and themes"),
    ] + [(10 + i, f"historical filler number {i} with distinct vocabulary items {i * 31}") for i in range(10)]
    new_rows = [
        (101, base.replace("tonight", "today")),  # new x old near-dup (vs 1)
        (102, "fresh arrival text that is almost a twin of the next document body here"),
        (103, "fresh arrival text that is almost a twin of the next document body there"),  # new x new
        (110, "an unrelated brand-new document with nothing shared at all whatsoever"),
    ]
    old_df = spark.createDataFrame(old_rows, ["doc_id", "text"])
    new_df = spark.createDataFrame(new_rows, ["doc_id", "text"])
    full_df = old_df.unionByName(new_df)

    full_pairs = {
        (r.id_a, r.id_b) for r in dedup.minhash_lsh_pairs(full_df, threshold=0.5).collect()
    }
    new_ids = {r[0] for r in new_rows}
    expected = {(a, b) for a, b in full_pairs if a in new_ids or b in new_ids}
    assert any(a in new_ids and b in new_ids for a, b in expected)  # new x new planted
    assert any((a in new_ids) != (b in new_ids) for a, b in expected)  # new x old planted

    old_sigs = dedup.minhash_signature_table(
        dedup.shingle_hash_rows(
            old_df.select(F.col("doc_id").alias("_id"), F.col("text").alias("_text"))
        )
    )
    pairs, merged = dedup.minhash_incremental_pairs(old_df, old_sigs, new_df, threshold=0.5)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == expected
    assert (1, 2) not in got  # old x old excluded by construction

    rebuilt = dedup.minhash_signature_table(
        dedup.shingle_hash_rows(
            full_df.select(F.col("doc_id").alias("_id"), F.col("text").alias("_text"))
        )
    )
    m = {r._id: list(r._sig) for r in merged.collect()}
    r = {r._id: list(r._sig) for r in rebuilt.collect()}
    assert m == r

    # re-submitting a committed batch (overlapping ids) must fail loudly,
    # not silently double-sign the snapshot (ADVICE r4): `merged` is the
    # post-commit snapshot, which already contains new_df's ids
    with pytest.raises(ValueError, match="already present"):
        dedup.minhash_incremental_pairs(full_df, merged, new_df, threshold=0.5)


# ---------------------------------------------------------------------------
# incremental IVF assignment
# ---------------------------------------------------------------------------


def test_ivf_assign_matches_numpy_argmin(spark):
    """Frozen-quantizer assignment must equal the numpy argmin over the
    same centroid table — and assigning NEW vectors against centroids
    trained only on OLD data (the incremental cadence) still routes each
    planted vector to its own cluster's centroid."""
    rng = np.random.default_rng(5)
    centers = rng.normal(size=(4, 8)) * 10
    old = [(i, (centers[i % 4] + rng.normal(size=8) * 0.05).tolist()) for i in range(40)]
    new = [(100 + i, (centers[i % 4] + rng.normal(size=8) * 0.05).tolist()) for i in range(12)]
    old_df = spark.createDataFrame(old, ["vec_id", "embedding"])
    new_df = spark.createDataFrame(new, ["vec_id", "embedding"])

    cent = similarity.train_ivf_centroids(old_df, n_centroids=4, seed=7)
    ctr = {r.centroid: np.array(r.ctr_vec) for r in cent.collect()}
    got = {r.vec_id: r.centroid for r in similarity.ivf_assign(new_df, cent).collect()}
    assert set(got) == {100 + i for i in range(12)}
    for vid, emb in new:
        d2 = {c: float(((np.array(emb) - v) ** 2).sum()) for c, v in ctr.items()}
        assert got[vid] == min(d2, key=lambda c: (d2[c], c))
    # planted-cluster consistency: vectors from the same cluster agree
    by_cluster = {}
    for vid, _ in new:
        by_cluster.setdefault(vid % 4, set()).add(got[vid])
    assert all(len(v) == 1 for v in by_cluster.values())


def test_entity_resolution_composition(spark):
    """Blocking -> verify -> components -> survivorship: a planted
    three-spelling entity resolves to ONE cluster with the longest
    spelling as canonical, transitively (A~B~C even though A!~C)."""
    from devcontainers_etl_node_spark.operators import graph

    rows = [
        (1, "acme widget"),
        (2, "acme widgett"),    # dist 1 to #1
        (3, "acme widgettt"),   # dist 1 to #2, dist 2 to #1
        (4, "zenith sprocket"), # unrelated entity
        (5, "zenith sprocket"), # exact dup of #4
    ]
    df = spark.createDataFrame(rows, ["p_partkey", "p_name"])
    pairs = textops.phonetic_blocking(df, "p_name", "p_partkey", max_dist=2)
    labels = graph.connected_components(pairs.select("id_a", "id_b"), src="id_a", dst="id_b")
    comp = {r.node: r.component for r in labels.collect()}
    assert comp[1] == comp[2] == comp[3]
    assert comp[4] == comp[5] != comp[1]


# ---------------------------------------------------------------------------
# BPE tokenizer training
# ---------------------------------------------------------------------------


def _reference_bpe(word_freqs: dict[str, int], n_merges: int, eow: str = "</w>"):
    """Independent pure-Python BPE (Sennrich et al., ACL 2016 fig. 2
    shape): same tiebreak contract as the operator — freq desc, then
    (left, right) lexicographic; merges applied left-to-right greedy."""
    vocab = {}
    for w, n in word_freqs.items():
        syms = list(w)
        syms[-1] = syms[-1] + eow
        vocab[tuple(syms)] = vocab.get(tuple(syms), 0) + n
    merges = []
    for rank in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, n in vocab.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = counts.get((syms[i], syms[i + 1]), 0) + n
        if not counts:
            break
        (left, right), freq = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        new_vocab = {}
        for syms, n in vocab.items():
            merged, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    merged.append(left + right)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            new_vocab[tuple(merged)] = new_vocab.get(tuple(merged), 0) + n
        vocab = new_vocab
        merges.append((rank, left, right, freq))
    return merges


def test_bpe_train_matches_pure_python_reference(spark):
    """The distributed merge loop must reproduce an independently coded
    BPE exactly — ranks, pairs, AND frequencies — on the real corpus."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # reference word freqs computed the same way word_freq_table defines
    # them (lowered, whitespace-split, length >= 2)
    wf = {}
    for r in docs.collect():
        t = (r.text or "").strip().lower()
        if not t:
            continue
        for w in t.split():
            if len(w) >= 2:
                wf[w] = wf.get(w, 0) + 1
    expected = _reference_bpe(wf, n_merges=6)

    got = [
        (m[0], m[1], m[2], m[3])
        for m in textops.bpe_train_merges(docs, n_merges=6)
    ]
    assert got == expected
    # merge frequencies are monotone non-increasing ONLY within ties of
    # structure — not guaranteed globally; what IS guaranteed: positive
    # frequencies and distinct pairs
    assert all(f > 0 for *_, f in got)
    assert len({(l, r) for _, l, r, _ in got}) == len(got)


def test_bpe_encode_matches_reference_segmentation(spark):
    """Encoding with the trained merges must reproduce the reference
    encoder's per-word segmentation exactly — merges applied in rank
    order, same greedy left-to-right pass."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    merges = textops.bpe_train_merges(docs, n_merges=6)

    def ref_encode_word(w, ordered):
        s = list(w)
        s[-1] = s[-1] + "</w>"
        for left, right in ordered:
            merged, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == left and s[i + 1] == right:
                    merged.append(left + right)
                    i += 2
                else:
                    merged.append(s[i])
                    i += 1
            s = merged
        return s

    ordered = [(l, r) for _, l, r, _ in sorted(merges)]
    got = {r.doc_id: list(r.subwords) for r in textops.bpe_encode(docs, merges).collect()}
    for row in docs.collect():
        expected = []
        for w in (row.text or "").strip().lower().split():
            # every word is emitted, including single-char ones (which
            # encode as char+eow — no pair, so no merge can apply)
            expected.extend(ref_encode_word(w, ordered))
        assert got[row.doc_id] == expected
    # a trained merge actually fires somewhere: some doc has fewer
    # subwords than characters
    assert any(len("".join(s).replace("</w>", "")) > len(s) for s in got.values())


def test_bpe_edge_cases(spark):
    # empty corpus -> no merges; encode with no merges -> pure char+eow
    empty = spark.createDataFrame([], "doc_id LONG, text STRING")
    assert textops.bpe_train_merges(empty, n_merges=3) == []
    df = spark.createDataFrame([(1, "ab a  ")], ["doc_id", "text"])
    rows = textops.bpe_encode(df, []).collect()
    # single-char word 'a' is EMITTED as char+eow (training's vocab filter
    # skips it — no pair statistics — but encoding must stay lossless)
    assert rows[0].subwords == ["a", "b</w>", "a</w>"] and rows[0].n_subwords == 3
    # a corpus where every word fully merges within n_merges terminates
    tiny = spark.createDataFrame([(1, "aa aa aa")], ["doc_id", "text"])
    merges = textops.bpe_train_merges(tiny, n_merges=5)
    assert [(m[1], m[2]) for m in merges] == [("a", "a</w>")]  # then dry -> stop


def _reference_bpe_batched(
    word_freqs: dict[str, int],
    n_merges: int,
    batch_size: int,
    vocab_size: int | None = None,
    eow: str = "</w>",
):
    """Independent pure-Python batched BPE mirroring the documented
    contract: full pair counts per round, (freq desc, left, right) sort,
    batch_size*8 candidate window, the operator's exported disjoint
    selection rule, merges applied in rank order."""
    vocab: dict[tuple[str, ...], int] = {}
    for w, n in word_freqs.items():
        syms = list(w)
        syms[-1] = syms[-1] + eow
        vocab[tuple(syms)] = vocab.get(tuple(syms), 0) + n
    if vocab_size is not None:
        alphabet = {s for syms in vocab for s in syms}
        n_merges = min(n_merges, max(0, vocab_size - len(alphabet)))
    merges = []
    while len(merges) < n_merges:
        m = min(batch_size, n_merges - len(merges))
        counts: dict[tuple[str, str], int] = {}
        for syms, n in vocab.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = counts.get((syms[i], syms[i + 1]), 0) + n
        window = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[: batch_size * 8]
        selected = textops.select_disjoint_pairs(
            [(l, r, f) for (l, r), f in window], m
        )
        if not selected:
            break
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, n in vocab.items():
            s = list(syms)
            for left, right, _ in selected:
                merged, i = [], 0
                while i < len(s):
                    if i + 1 < len(s) and s[i] == left and s[i + 1] == right:
                        merged.append(left + right)
                        i += 2
                    else:
                        merged.append(s[i])
                        i += 1
                s = merged
            new_vocab[tuple(s)] = new_vocab.get(tuple(s), 0) + n
        vocab = new_vocab
        merges.extend(
            (len(merges) + j, l, r, f) for j, (l, r, f) in enumerate(selected)
        )
    return merges


def test_bpe_batched_matches_pure_python_reference(spark):
    """The batched trainer (one pair count + one merge pass per ROUND,
    not per merge) must reproduce an independently coded batched BPE
    exactly on the real corpus — including the vocab_size stopping rule."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    wf = {}
    for r in docs.collect():
        for w in (r.text or "").strip().lower().split():
            if len(w) >= 2:
                wf[w] = wf.get(w, 0) + 1

    got = textops.bpe_train_merges_batched(docs, n_merges=12, batch_size=4)
    assert [tuple(m) for m in got] == _reference_bpe_batched(wf, 12, 4)
    assert len(got) == 12
    # batch rank 0 must agree with sequential BPE's first merge (the
    # argmax is shared before any batch divergence can occur)
    seq = _reference_bpe(wf, n_merges=1)
    assert got[0][1:3] == seq[0][1:3]

    # vocab_size stopping: alphabet + merges is capped
    alphabet = {s for w in wf for s in list(w[:-1]) + [w[-1] + "</w>"]}
    capped = textops.bpe_train_merges_batched(
        docs, n_merges=12, batch_size=4, vocab_size=len(alphabet) + 5
    )
    assert len(capped) == 5
    assert [tuple(m) for m in capped] == _reference_bpe_batched(
        wf, 12, 4, vocab_size=len(alphabet) + 5
    )


def test_bpe_batched_size1_is_sequential(spark):
    """batch_size=1 degenerates the batched trainer to exact sequential
    BPE: each round's single disjoint selection IS the global argmax
    under the shared (freq desc, left, right) ordering — so the batched
    production path provably contains the sequential semantics."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    seq = textops.bpe_train_merges(docs, n_merges=6)
    b1 = textops.bpe_train_merges_batched(docs, n_merges=6, batch_size=1)
    assert [tuple(m) for m in b1] == [tuple(m) for m in seq]


def test_lsh_topk_empty_inputs(spark):
    """0-row sides must flow through the vectorized bucket UDF (a 0-row
    Arrow batch is 2-D via the reshape) and yield 0 candidates."""
    empty = spark.createDataFrame([], "vec_id LONG, embedding ARRAY<FLOAT>")
    some = spark.createDataFrame([(1, [0.1] * 16), (2, [0.2] * 16)], ["vec_id", "embedding"])
    assert similarity.lsh_topk(empty, some, k=3, dim=16, probe_hamming=1).count() == 0
    assert similarity.lsh_topk(some, empty, k=3, dim=16, probe_hamming=1).count() == 0


def test_schema_memo_invalidates_on_rewrite(spark, tmp_path):
    """A table regenerated in place with a DIFFERENT schema must re-infer
    (the memo key carries the file fingerprint) — not silently misread
    through the stale explicit schema."""
    from devcontainers_etl_node_spark import catalog as cat

    spark.createDataFrame([(1, "a")], ["id", "name"]).write.mode("overwrite").parquet(
        str(tmp_path / "t.parquet")
    )
    first = cat.table(spark, str(tmp_path), "t")
    assert set(first.columns) == {"id", "name"}
    spark.createDataFrame([(1, 2.5)], ["id", "score"]).write.mode("overwrite").parquet(
        str(tmp_path / "t.parquet")
    )
    second = cat.table(spark, str(tmp_path), "t")
    assert set(second.columns) == {"id", "score"}
    assert second.collect()[0].score == 2.5
    cat.clear_schema_memo()  # the explicit hook also exists for test flows


def test_lsh_topk_tolerates_malformed_embeddings(spark):
    """One null or wrong-dimension vector must NOT kill the stage: the
    bucket UDF emits a NULL bucket array for it (posexplode drops it) and
    every well-formed row still gets its neighbors."""
    corpus = spark.createDataFrame(
        [(1, [0.1] * 16), (2, [0.2] * 16), (3, None), (4, [0.3] * 7)],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    queries = spark.createDataFrame([(9, [0.1] * 16)], "vec_id LONG, embedding ARRAY<FLOAT>")
    got = similarity.lsh_topk(corpus, queries, k=3, dim=16, probe_hamming=1).collect()
    assert {r.neighbor_id for r in got} <= {1, 2}  # malformed rows unreachable
    # well-formed corpus rows are still found ([0.1]*16 and [0.2]*16 are
    # parallel -> identical SRP buckets as the query)
    assert {r.neighbor_id for r in got} == {1, 2}


def test_dup_span_merge_coverage_equals_substring_stats(spark):
    """The merged spans must cover EXACTLY the tokens substring_dup_stats
    counts (same grams, same k) — interval merging may not lose or
    double-count a position."""
    from devcontainers_etl_node_spark.queries.catalog import QUERIES

    sf = "/root/testdata/sf0.001"
    spans = {r.doc_id: r.covered_tokens for r in QUERIES["dup_span_merge"](spark, sf).collect()}
    stats = {
        r.doc_id: r.covered_tokens
        for r in QUERIES["substring_dup_stats"](spark, sf).collect()
        if r.covered_tokens > 0
    }
    assert spans == stats
    # and the merge is real: some doc has fewer spans than dup grams
    rows = QUERIES["dup_span_merge"](spark, sf).collect()
    assert rows and all(r.n_spans >= 1 and r.longest_span >= 8 for r in rows)


def test_substring_dedup_clean_consistent_with_spans(spark):
    """kept + covered must partition each doc's tokens, and the rebuilt
    text must contain exactly n_kept tokens in original order."""
    from devcontainers_etl_node_spark.queries.catalog import QUERIES

    sf = "/root/testdata/sf0.001"
    clean = {r.doc_id: r for r in QUERIES["substring_dedup_clean"](spark, sf).collect()}
    spans = {r.doc_id: r for r in QUERIES["dup_span_merge"](spark, sf).collect()}
    assert clean  # corpus has survivors
    for doc_id, r in clean.items():
        covered = spans[doc_id].covered_tokens if doc_id in spans else 0
        assert r.n_kept == r.n_tokens - covered
        assert len(r.clean_text.split()) == r.n_kept
    # a doc with spans really lost text; an untouched doc passed verbatim
    assert any(d in spans for d in clean)
    assert any(d not in spans and clean[d].n_kept == clean[d].n_tokens for d in clean)


def test_minhash_geometry_model_matches_measured_floor():
    """The geometry helper's calibrated floor model must reproduce the
    r11 1M-doc rung measurements (PERF.md): 32/8 predicted ~20M floor
    candidates (measured 20.06M), and an r=8 geometry's floor is
    negligible at 1M docs (measured ~1e2 against 85.8k true pairs).
    Sanity anchors: detection math reproduces the library default's
    recall at its own geometry; higher target recall never lowers the
    band count at fixed r."""
    from devcontainers_etl_node_spark.operators.dedup import minhash_geometry

    n = 1_000_000
    # the 32/8 default is r=4/b=8: its detection at j=0.5 is ~0.40
    g = minhash_geometry(0.5, 0.40, n_docs=n, max_hashes=32)
    assert (g["num_hashes"], g["bands"]) == (32, 8)
    assert abs(g["detection_at_threshold"] - 0.40) < 0.02
    measured = 20_061_738  # candidate census at 1M docs, 32/8
    assert abs(g["predicted_floor_candidates"] - measured) / measured < 0.10

    # r=8 geometry (the 64/8 census config): floor predicted ~1e2 at 1M
    kappa = 0.047
    floor_64_8 = 8 * n * (n - 1) / 2 * kappa**8
    assert floor_64_8 < 1_000  # measured: 85,902 cands ~= 85,806 true pairs

    # production threshold 0.8: a deep geometry's crossover clears 1e10
    g08 = minhash_geometry(0.8, 0.9)
    assert g08["rows_per_band"] >= 8
    assert g08["floor_crossover_docs"] > 10_000_000_000

    # errors and monotonicity
    import pytest as _pytest

    with _pytest.raises(ValueError):
        minhash_geometry(1.5)
    lo = minhash_geometry(0.5, 0.5, max_hashes=64)
    hi = minhash_geometry(0.5, 0.95, max_hashes=64)
    assert hi["bands"] >= lo["bands"]
