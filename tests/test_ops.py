"""Unit tests for the training-data ops: dedup family, similarity
search, text stats, multimodal plumbing. Correctness against
constructed corpora with known answers (the driver's DuckDB oracle
covers the SQL-expressible subset; these cover the rest)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def mini_docs(spark, tmp_path_factory):
    """documents.parquet-shaped table with planted duplicates."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tonight")
    far = "completely different content about spark shuffle partitions and joins"
    rows = []
    for i in range(40):
        rows.append((i, f"unique document number {i} with filler words " + " ".join(
            f"w{(i * 7 + j) % 50}" for j in range(20)), "en", "srcA", 0))
    rows += [
        (100, base, "en", "srcA", 0),
        (101, base, "en", "srcA", 0),        # exact dup of 100
        (102, near, "en", "srcA", 0),        # near dup of 100
        (103, far, "en", "srcA", 0),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    p = str(tmp_path_factory.mktemp("minidocs"))
    df.write.mode("overwrite").parquet(p + "/documents.parquet")
    return p


def test_exact_dedup_finds_planted_dup(spark, mini_docs):
    from goskyr_spark.ops.dedup import exact_dedup_groups

    docs = spark.read.parquet(mini_docs + "/documents.parquet")
    got = exact_dedup_groups(docs).collect()
    assert len(got) == 1
    assert got[0]["canonical_doc_id"] == 100
    assert got[0]["n_copies"] == 2


def test_exact_dedup_demo_is_nonvacuous(spark):
    """The driver-facing demo runs on the planted corpus: exactly
    PLANT_N duplicate groups, each a (doc, copy) pair."""
    from goskyr_spark.ops.dedup import PLANT_N, exact_dedup

    got = exact_dedup(spark, SF).collect()
    assert len(got) == PLANT_N
    assert all(r["n_copies"] == 2 for r in got)


def test_minhash_lsh_finds_near_dup(spark, mini_docs):
    """Candidates→verify form: output jaccard is the EXACT shingle
    Jaccard of the candidate residue."""
    from goskyr_spark.ops.dedup import minhash_lsh_pairs

    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
             minhash_lsh_pairs(spark, mini_docs, threshold=0.5).collect()}
    assert (100, 101) in pairs and pairs[(100, 101)] == 1.0  # exact dup
    assert pairs[(100, 102)] == round(10 / 12, 4)  # near dup, exact J
    assert all(not (a == 103 or b == 103) for a, b in pairs)  # far doc clean



def test_minhash_lsh_recalls_recrawls(spark, tmp_path):
    """Re-crawls with two new trailing tokens on a 40-token page sit at
    shingle Jaccard 38/40 = 0.95, where 16 bands x 4 rows of a proper
    MinHash miss a pair with P = (1 - 0.95^4)^16 < 1e-11: every one must
    come back. Permutations that never wrap their modulus all pick the
    same shingle and miss a few percent of these pairs."""
    import random

    from goskyr_spark.ops.dedup import minhash_lsh_pairs

    rnd = random.Random(7)
    rows = []
    for i in range(200):
        words = [f"t{rnd.randrange(100_000)}" for _ in range(40)]
        rows.append((i, " ".join(words)))
        rows.append((i + 1000, " ".join(words + [f"n{i}a", f"n{i}b"])))
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet"))
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
           minhash_lsh_pairs(spark, str(tmp_path), threshold=0.9).collect()}
    assert got == {(i, i + 1000): 0.95 for i in range(200)}


def test_ngram_jaccard_exact_values(spark, mini_docs):
    from goskyr_spark.ops.dedup import ngram_jaccard_pairs

    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
           ngram_jaccard_pairs(spark, mini_docs, n=3, threshold=0.5).collect()}
    assert got[(100, 101)] == 1.0
    # 13 words → 11 distinct trigrams; only the final trigram differs
    # ('and again today' vs 'and again tonight') → |∩|=10, |∪|=12
    assert got[(100, 102)] == round(10 / 12, 4)


def test_simhash_dup_invariance(spark, mini_docs):
    from goskyr_spark.ops.dedup import simhash_fingerprints

    fp = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(spark, mini_docs).collect()}
    assert fp[100] == fp[101]  # identical docs → identical fingerprint
    ham_near = bin(fp[100] ^ fp[102]).count("1")
    ham_far = bin(fp[100] ^ fp[103]).count("1")
    assert ham_near < ham_far  # near dup closer in Hamming space


def test_simhash_dup_pairs_banded(spark, mini_docs):
    """Combination-key simhash candidates + exact verification find the
    planted exact and near dup; the far doc never appears. The mini
    near-pair sits at Hamming 4 of the 60-bit md5 fingerprint, so the
    test widens the radius to blocks−key_blocks = 5 (key_blocks=1);
    the production default radius is 3 (Manku's choice)."""
    from goskyr_spark.ops.dedup import simhash_dup_pairs

    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
             simhash_dup_pairs(spark, mini_docs, key_blocks=1, threshold=0.5).collect()}
    assert pairs[(100, 101)] == 1.0
    assert pairs[(100, 102)] == round(10 / 12, 4)
    assert all(not (a == 103 or b == 103) for a, b in pairs)


def test_simhash_radius_contract(spark, mini_docs):
    """The Hamming radius is the operator contract: at the default
    radius (3) the Hamming-4 near pair is excluded by definition, the
    exact copy (Hamming 0) always survives, and an unsatisfiable
    radius raises."""
    import pytest as _pytest

    from goskyr_spark.ops.dedup import simhash_dup_pairs

    pairs = {(r["doc_a"], r["doc_b"]) for r in
             simhash_dup_pairs(spark, mini_docs, threshold=0.5).collect()}
    assert (100, 101) in pairs and (100, 102) not in pairs
    with _pytest.raises(ValueError):
        simhash_dup_pairs(spark, mini_docs, hamming_max=10)


def test_char_jaccard_lsh_matches_blocked_form(spark, mini_docs):
    """The scale path (LSH candidates → char-J verify) finds the planted
    dups that the source-blocked demo form finds."""
    from goskyr_spark.ops.dedup import char_jaccard_lsh_pairs

    got = {(r["doc_a"], r["doc_b"]) for r in
           char_jaccard_lsh_pairs(spark, mini_docs, char_threshold=0.9,
                                  jaccard_threshold=0.5).collect()}
    assert (100, 101) in got and (100, 102) in got


def test_banded_pairs_equals_brute_force(spark):
    """The shared LSH candidate core: banded_pairs must return exactly the
    pairs that share a non-null value at the same band position (and,
    with ``within``, the same cell) — null values never match, empty and
    null arrays contribute nothing, equal values at different positions
    or in different cells do not pair."""
    from itertools import combinations

    from goskyr_spark.ops.dedup import banded_pairs

    rows = [
        (1, 0, [5, 7, None]),
        (2, 0, [5, 8, 9]),
        (3, 0, []),
        (4, 0, None),
        (5, 1, [5, 7, 9]),       # equal values to 1 and 2, other cell
        (6, 0, [None, 7, 1]),    # shares only position 1 with 1
        (7, 0, [7, 5, 0]),       # 1's values, swapped positions
        (8, 1, [None, None, 3]),
        (9, 1, [None, None, 3]),
    ]
    sig = spark.createDataFrame(rows, "id long, cell int, bv array<int>")

    def brute(within):
        out = set()
        for (i, ci, bi), (j, cj, bj) in combinations(rows, 2):
            if within and ci != cj:
                continue
            if any(x is not None and x == y for x, y in zip(bi or [], bj or [])):
                out.add((ci, min(i, j), max(i, j)) if within else (min(i, j), max(i, j)))
        return out

    flat = {(r["a"], r["b"]) for r in banded_pairs(sig, "id", "bv", ("a", "b")).collect()}
    assert flat == brute(False)
    assert (1, 5) in flat and (1, 7) not in flat
    celled = {
        (r["cell"], r["a"], r["b"])
        for r in banded_pairs(sig, "id", "bv", ("a", "b"), within=("cell",)).collect()
    }
    assert celled == brute(True)
    assert (1, 8, 9) in celled and not any(5 in (a, b) for _, a, b in celled)


def test_verify_pairs_distinct_sides(spark):
    """The incremental shape: left and right are different tables with
    different id names; scores are rounded to 4 places and filtered."""
    from goskyr_spark.ops.dedup import _jaccard, verify_pairs

    batch = spark.createDataFrame(
        [(10, [1, 2, 3, 4]), (11, [9]), (12, [1, 2])], "new_id long, sh array<long>"
    )
    corpus = spark.createDataFrame(
        [(1, [1, 2, 3, 5, 6]), (2, [1, 2, 3, 4]), (3, [1, 2, 3])], "doc_id long, sh array<long>"
    )
    pairs = spark.createDataFrame(
        [(10, 1), (10, 2), (11, 1), (12, 3)], "new_doc_id long, dup_of long"
    )
    got = {
        (r["new_doc_id"], r["dup_of"]): r["j"]
        for r in verify_pairs(
            pairs, batch, corpus, _jaccard("sh_a", "sh_b"), "j", 0.5, "new_doc_id", "dup_of"
        ).collect()
    }
    assert got == {(10, 1): 0.5, (10, 2): 1.0, (12, 3): 0.6667}


def test_embedding_cosine_dups_planted(spark):
    """Planted exact-copy embeddings come back with cosine 1.0; the
    natural corpus contributes nothing at the 0.99 threshold."""
    from goskyr_spark.ops.dedup import PLANT_N, PLANT_OFFSET, embedding_cosine_dups

    rows = embedding_cosine_dups(spark, SF).collect()
    assert len(rows) == PLANT_N
    assert all(r["vec_b"] == r["vec_a"] + PLANT_OFFSET for r in rows)
    assert all(r["cosine"] == 1.0 for r in rows)


def test_semantic_dedup_planted(spark):
    """SemDeDup (within-cell cosine, keep-lowest-id): each planted
    exact copy lands in its original's cell (identical vector ⇒
    identical argmax) and drops with keeper = the original; the natural
    corpus contributes nothing at 0.97 (measured max cosine 0.513)."""
    from goskyr_spark.ops.dedup import PLANT_N, PLANT_OFFSET, semantic_dedup

    rows = semantic_dedup(spark, SF).collect()
    assert len(rows) == PLANT_N
    assert all(r["keeper"] == r["vec_id"] - PLANT_OFFSET for r in rows)
    assert all(0 <= r["cell"] < 8 for r in rows)


def test_semantic_dedup_transitive_keeps_lowest(spark, tmp_path):
    """Three mutually-similar vectors in one cell collapse onto the
    single lowest id (both higher ids report keeper = lowest, not a
    chain)."""
    import pandas as pd

    from goskyr_spark.ops.dedup import semantic_dedup

    def unit(i):
        v = [0.0] * 64
        v[i] = 1.0
        return v

    def near_base(i):
        v = [0.0] * 64
        v[0] = 1.0
        v[i] = 0.01
        return v

    # centroids (ids 0-3) are orthogonal units; ids 4-6 are slight
    # perturbations of centroid 0 (pairwise cos ≈ 0.9999); ids 7-9 are
    # orthogonal to everything (cos 0 — assigned somewhere, never dup)
    vecs = [unit(0), unit(16), unit(32), unit(48),
            near_base(1), near_base(2), near_base(3),
            unit(10), unit(20), unit(30)]
    pdf = pd.DataFrame({"vec_id": range(10), "embedding": vecs})
    d = tmp_path / "sf"
    d.mkdir()
    pdf.to_parquet(d / "embeddings.parquet")
    rows = {r["vec_id"]: r["keeper"]
            for r in semantic_dedup(spark, str(d), n_cells=4, plant=False).collect()}
    assert rows == {4: 0, 5: 0, 6: 0}


def test_hyperplane_bits_dim_safety(spark):
    """Regression (round-1 advice): a vector wider than the plane must
    NOT null out the dot product (zip_with pads to the LONGER array) —
    bits must still split vectors across buckets."""
    from goskyr_spark.ops.similarity import hyperplane_bucket

    rows = [(i, [float((i * 7 + j) % 13 - 6) for j in range(100)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    buckets = {r["b"] for r in
               df.select(hyperplane_bucket(F.col("embedding"), n_planes=4).alias("b")).collect()}
    assert len(buckets) > 1  # not all collapsed into one bucket


def test_ann_lsh_recall_vs_bruteforce(spark):
    from goskyr_spark.ops.similarity import ann_lsh_topk, cosine_topk

    exact = [r["vec_id"] for r in cosine_topk(spark, SF, k=10).collect()]
    approx = [r["vec_id"] for r in ann_lsh_topk(spark, SF, k=10, n_planes=2).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.5, f"LSH recall too low: {recall} (exact={exact}, approx={approx})"


def test_ann_ivf_recall_vs_bruteforce(spark):
    from goskyr_spark.ops.similarity import cosine_topk, ivf_trained_topk

    exact = [r["vec_id"] for r in cosine_topk(spark, SF, k=10).collect()]
    approx = [r["vec_id"] for r in
              ivf_trained_topk(spark, SF, k=10, n_cells=8, n_probe=4).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_ivf_trained_recall(spark):
    """Lloyd-trained IVF: training converges deterministically and the
    probed search keeps usable recall vs brute force."""
    from goskyr_spark.ops.similarity import (
        _emb,
        cosine_topk,
        ivf_trained_topk,
        train_ivf_centroids,
        with_norm,
    )

    emb = with_norm(_emb(spark, SF))
    c1 = train_ivf_centroids(emb, n_cells=4, n_iter=2)
    c2 = train_ivf_centroids(emb, n_cells=4, n_iter=2)
    assert c1 == c2  # deterministic
    assert len(c1) == 4 and len(c1[0]) == 64

    exact = [r["vec_id"] for r in cosine_topk(spark, SF, k=10).collect()]
    approx = [r["vec_id"] for r in
              ivf_trained_topk(spark, SF, k=10, n_cells=4, n_probe=2, n_iter=2).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.5, (recall, exact, approx)

    # the registered queries() configuration (defaults: 8 cells, 2
    # probes, 3 Lloyd iterations) must hold production-grade recall —
    # measured 0.9 at sf0.01 / 1.0 at sf0.001
    reg = [r["vec_id"] for r in ivf_trained_topk(spark, SF, k=10).collect()]
    reg_recall = len(set(exact) & set(reg)) / 10
    assert reg_recall >= 0.9, (reg_recall, exact, reg)


def test_doc_fingerprint_shape(spark, mini_docs):
    from goskyr_spark.ops.textstats import doc_fingerprint

    rows = {r["doc_id"]: r for r in doc_fingerprint(spark, mini_docs).collect()}
    assert rows[100]["n_grams"] == rows[101]["n_grams"]
    assert rows[100]["min_fingerprint"] == rows[101]["min_fingerprint"]
    assert rows[100]["n_fingerprints"] <= rows[100]["n_grams"]


def test_multimodal_feature_pipeline(spark):
    from goskyr_spark.ops.multimodal import (
        extract_features,
        fake_decode_features,
        frame_sample_plan,
        synthesize_assets,
    )

    assets = synthesize_assets(spark, n=30)
    feats = extract_features(assets).collect()
    assert len(feats) == 30
    by_id = {r["asset_id"]: r for r in feats}
    # deterministic: recompute one feature locally
    a0 = assets.filter(F.col("asset_id") == 0).first()
    assert by_id[0]["feature"] == pytest.approx(fake_decode_features(bytes(a0["payload"])), rel=1e-5)
    assert by_id[0]["n_bytes"] == len(bytes(a0["payload"]))
    # real decoder: optional-import boundary (raises without Pillow)
    from goskyr_spark.ops.multimodal import _pil, decode_image

    if _pil() is None:
        with pytest.raises(NotImplementedError):
            decode_image(b"xx")
    # frame sampling plan: one row per sampled ts; a zero or negative
    # duration samples zero frames instead of failing the job
    from goskyr_spark.ops.multimodal import ASSET_SCHEMA

    bad = spark.createDataFrame(
        [(900, "video", b"x", None, None, 0), (901, "video", b"y", None, None, -5000)],
        ASSET_SCHEMA,
    )
    plan = frame_sample_plan(assets.unionByName(bad), every_ms=10000)
    vids = assets.filter("media_type = 'video'").collect()
    want = sum(1 + (v["meta_duration_ms"] - 1) // 10000 for v in vids)
    assert plan.count() == want
    assert plan.filter(F.col("asset_id") >= 900).count() == 0


def test_multimodal_auto_mode_falls_back_without_pil(spark):
    """fake=None auto-selects: identical output to fake=True in a
    PIL-less environment (this sandbox); on a cluster with Pillow the
    image rows switch to the real decoder with the same schema."""
    from goskyr_spark.ops.multimodal import _pil, extract_features, synthesize_assets

    if _pil() is not None:
        pytest.skip("Pillow present — auto mode takes the real path")
    assets = synthesize_assets(spark, n=12)
    auto = extract_features(assets, fake=None).collect()
    fake = extract_features(assets, fake=True).collect()
    assert sorted(map(tuple, auto)) == sorted(map(tuple, fake))


def test_decode_image_real_path_with_pillow(spark):
    """Real decode gate — runs wherever Pillow is installed: a PNG
    round-trip decodes to a 16-dim standardized thumbnail feature, and
    a re-encode of the same pixels is an exact ANN dup (cosine 1)."""
    PIL = pytest.importorskip("PIL.Image")
    import io
    import math

    from goskyr_spark.ops.multimodal import decode_image

    img = PIL.new("L", (32, 32))
    img.putdata([(x * 7 + y * 13) % 256 for y in range(32) for x in range(32)])
    buf_png, buf_bmp = io.BytesIO(), io.BytesIO()
    img.save(buf_png, "PNG")
    img.save(buf_bmp, "BMP")
    fa = decode_image(buf_png.getvalue())
    fb = decode_image(buf_bmp.getvalue())  # different container, same pixels
    assert len(fa) == 16
    dot = sum(a * b for a, b in zip(fa, fb))
    na, nb = math.sqrt(sum(a * a for a in fa)), math.sqrt(sum(b * b for b in fb))
    assert dot / (na * nb) == pytest.approx(1.0, abs=1e-6)


def test_multimodal_embed_dedup_planted(spark):
    """The composed demo finds exactly the planted image re-uploads:
    10 pairs (i, i + PLANT_OFFSET_ASSETS) for image ids i < 30, cosine
    1.0 — banded candidates → exact verify, recall 1 on exact copies."""
    from goskyr_spark.ops.multimodal import (
        PLANT_N_ASSETS, PLANT_OFFSET_ASSETS, image_embed_dedup)

    rows = image_embed_dedup(spark, "unused").collect()
    got = {(r["asset_a"], r["asset_b"]): r["cosine"] for r in rows}
    want_keys = {
        (i, i + PLANT_OFFSET_ASSETS)
        for i in range(0, PLANT_N_ASSETS, 3)
    }
    assert set(got) == want_keys
    assert all(c == pytest.approx(1.0, abs=1e-4) for c in got.values())


def test_quality_signals_values(spark, mini_docs):
    from goskyr_spark.ops.textstats import quality_signals

    r = {x["doc_id"]: x for x in quality_signals(spark, mini_docs).collect()}
    row = r[100]
    text = "the quick brown fox jumps over the lazy dog again and again today"
    assert row["n_chars"] == len(text)
    assert row["n_words"] == len(text.split())
    assert row["n_stopwords"] == 3  # 'the' ×2 + 'and'
    assert row["n_punct"] == 0


def test_training_prep_pipeline(spark):
    """Composed training-prep pipeline (ops/trainprep.py): planted exact
    duplicates are removed (no doc_id >= PLANT_OFFSET survives — the
    canonical min-doc_id copy wins), every survivor passes the language
    and quality gates, and the plan carries exactly one dedup shuffle."""
    from goskyr_spark.ops.dedup import PLANT_OFFSET
    from goskyr_spark.ops.trainprep import training_prep

    df = training_prep(spark, SF)
    # one shuffle only (the md5 dedup window); the gates are narrow.
    # Read the plan BEFORE executing: the post-execution AQE string
    # repeats the shuffle in both its Final and Initial Plan sections.
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    rows = df.collect()
    assert rows, "pipeline must keep a non-empty survivor set"
    assert all(r["doc_id"] < PLANT_OFFSET for r in rows)
    assert all(r["lang_pred"] == "en" for r in rows)
    assert all(r["n_tokens"] >= 10 and r["n_stopwords"] >= 1 for r in rows)


def test_numpy_banding_matches_expression_form(spark):
    """hyperplane_band_values_np (Arrow-batched numpy matmul) packs the
    same band values as the Catalyst expression form on the real corpus
    (float64 summation-order differences would only matter for a dot
    product within ~1e-12 of zero, which does not occur here)."""
    from goskyr_spark.ops.similarity import (
        _emb, hyperplane_band_values, hyperplane_band_values_np)

    emb = _emb(spark, SF)
    expr_bands = emb.select(
        "vec_id",
        *[b.alias(f"b{i}") for i, b in enumerate(
            hyperplane_band_values(F.col("embedding"), n_planes=48, bands=6))],
    )
    np_bands = emb.select(
        "vec_id",
        hyperplane_band_values_np(n_planes=48, bands=6)(F.col("embedding")).alias("bv"),
    ).select("vec_id", *[F.col("bv")[i].alias(f"b{i}") for i in range(6)])
    a = {r["vec_id"]: tuple(r[f"b{i}"] for i in range(6)) for r in expr_bands.collect()}
    b = {r["vec_id"]: tuple(r[f"b{i}"] for i in range(6)) for r in np_bands.collect()}
    assert a == b


def test_materialized_intermediates_invalidate_on_corpus_rewrite(spark, tmp_path):
    """The write-once intermediate cache keys on (path, source mtime):
    same-path reuse is a cache hit (no rebuild), but REWRITING the
    corpus at the same path must invalidate and rebuild — a stale
    shingle table silently corrupts every dedup operator downstream."""
    from goskyr_spark.ops import dedup

    p = str(tmp_path)
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    spark.createDataFrame(
        [(1, "alpha beta gamma delta", "en", "s", 0)], schema
    ).write.mode("overwrite").parquet(p + "/documents.parquet")

    first = dedup.shingle_table(spark, p)
    assert first.count() == 1
    path_first = dedup._INTERMEDIATE_CACHE[
        ("shingles", dedup._corpus_token(p, "documents.parquet"), 3)]
    # same corpus, second call: cache hit, same materialized parquet
    again = dedup.shingle_table(spark, p)
    assert again.count() == 1
    assert dedup._INTERMEDIATE_CACHE[
        ("shingles", dedup._corpus_token(p, "documents.parquet"), 3)] == path_first

    # rewrite at the SAME path -> token changes -> rebuild reflects it
    import time as _t
    _t.sleep(0.05)  # ensure mtime_ns moves even on coarse filesystems
    spark.createDataFrame(
        [(1, "alpha beta gamma delta", "en", "s", 0),
         (2, "epsilon zeta eta theta", "en", "s", 0)], schema
    ).write.mode("overwrite").parquet(p + "/documents.parquet")
    rebuilt = dedup.shingle_table(spark, p)
    assert rebuilt.count() == 2


# ------------------------------------------------- cluster formation

def test_connected_components_chain_triangle_isolated(spark):
    """Adversarial shapes for star contraction: a 60-long chain (deep
    tree — label propagation would need 60 rounds, contraction ~6), a
    triangle, and an isolated edge."""
    from goskyr_spark.ops.dedup import connected_components

    chain = [(i, i + 1) for i in range(59)]
    edges = spark.createDataFrame(
        chain + [(200, 201), (201, 202), (200, 202), (500, 501)],
        "src long, dst long",
    )
    comp = {r.node: r.component for r in connected_components(edges).collect()}
    assert all(comp[i] == 0 for i in range(60))
    assert comp[200] == comp[201] == comp[202] == 200
    assert comp[500] == comp[501] == 500
    assert len(comp) == 60 + 3 + 2


def test_connected_components_empty_and_self_loop(spark):
    from goskyr_spark.ops.dedup import connected_components

    edges = spark.createDataFrame([(7, 7)], "src long, dst long")
    assert connected_components(edges).count() == 0


def test_dedup_clusters_transitive_chain(spark, tmp_path):
    """A~B and B~C above threshold but A~C BELOW it: pairwise dedup
    alone would keep A and C as 'unique'; cluster formation must group
    all three and keep only the min doc_id. Word-level construction:
    60 distinct tokens, 4-word head/tail edits => adjacent Jaccard
    (54/62 = 0.871) >= 0.8, end-to-end Jaccard (50/66 = 0.758) < 0.8."""
    from goskyr_spark.ops.dedup import dedup_clusters, minhash_lsh_pairs

    words = [f"tok{i}" for i in range(60)]
    x0 = " ".join(words)
    x1 = " ".join(words[:56] + [f"alt{i}" for i in range(4)])
    x2 = " ".join([f"zed{i}" for i in range(4)] + words[4:56] + [f"alt{i}" for i in range(4)])
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    rows = [(0, x0, "en", "s", 0), (1, x1, "en", "s", 0), (2, x2, "en", "s", 0)]
    rows += [(10 + i, f"noise doc {i} " + " ".join(f"n{i}_{j}" for j in range(30)), "en", "s", 0)
             for i in range(10)]
    p = str(tmp_path)
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        p + "/documents.parquet")

    pairs = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(spark, p).collect()}
    assert pairs == {(0, 1), (1, 2)}  # the A~C edge is genuinely absent

    got = {r.doc_id: (r.component, r.keep) for r in dedup_clusters(spark, p).collect()}
    assert got == {0: (0, True), 1: (0, False), 2: (0, False)}


# ------------------------------------------- training-mix construction

def test_normalize_text_planted(spark, tmp_path):
    """NFC composition, control-char strip, whitespace collapse, trim —
    and idempotence (normalizing the output changes nothing)."""
    from goskyr_spark.ops.textstats import normalize_text

    messy = "Cafe\u0301\x07ok\x00\r\n  twice\tdone  "
    clean = "already clean"
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    p = str(tmp_path)
    spark.createDataFrame(
        [(0, messy, "en", "s", 0), (1, clean, "en", "s", 0), (2, None, "en", "s", 0)], schema
    ).write.mode("overwrite").parquet(p + "/documents.parquet")

    got = {r.doc_id: r for r in normalize_text(spark, p, plant=False).collect()}
    assert got[0].norm_text == "Café ok twice done"
    assert (got[0].n_chars, got[0].changed) == (len("Café ok twice done"), 1)
    assert (got[1].norm_text, got[1].changed) == (clean, 0)
    assert (got[2].norm_text, got[2].n_chars, got[2].changed) == ("", 0, 0)

    # idempotence: run the op over its own output
    spark.createDataFrame(
        [(i, r.norm_text, "en", "s", 0) for i, r in got.items()], schema
    ).write.mode("overwrite").parquet(p + "/documents.parquet")
    again = {r.doc_id: r for r in normalize_text(spark, p, plant=False).collect()}
    assert all(r.changed == 0 for r in again.values())


def test_pii_redact_planted(spark, tmp_path):
    """Planted PII (the sf tables carry none): counts per category and
    byte-exact redacted text via its md5."""
    import hashlib
    from goskyr_spark.ops.textstats import pii_redact

    txt = "mail a@b.com or x.y+z@mail.co, call 555-123-4567, ip 10.0.0.1 end"
    want = "mail <EMAIL> or <EMAIL>, call <PHONE>, ip <IPV4> end"
    clean = "no pii here at all"
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    p = str(tmp_path)
    spark.createDataFrame(
        [(0, txt, "en", "s", 0), (1, clean, "en", "s", 0)], schema
    ).write.mode("overwrite").parquet(p + "/documents.parquet")

    got = {r.doc_id: r for r in pii_redact(spark, p).collect()}
    assert (got[0].n_email, got[0].n_phone, got[0].n_ipv4) == (2, 1, 1)
    assert got[0].redacted_md5 == hashlib.md5(want.encode()).hexdigest()
    assert (got[1].n_email, got[1].n_phone, got[1].n_ipv4) == (0, 0, 0)
    assert got[1].redacted_md5 == hashlib.md5(clean.encode()).hexdigest()


def test_stratified_sample_deterministic_and_rated(spark):
    """Same input → identical sample set (pure function of doc_id);
    head-language rate ~0.25, tail ~0.75; zero-shuffle plan."""
    from goskyr_spark.ops.sampling import stratified_sample

    sf = "/root/testdata/sf0.01"
    a = {r.doc_id for r in stratified_sample(spark, sf).collect()}
    b = {r.doc_id for r in stratified_sample(spark, sf).collect()}
    assert a == b and a
    rows = stratified_sample(spark, sf).groupBy("lang").count().collect()
    totals = {
        r.lang: r.n
        for r in spark.read.parquet(sf + "/documents.parquet")
        .groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    rates = {r.lang: r["count"] / totals[r.lang] for r in rows}
    assert 0.10 <= rates["en"] <= 0.40          # nominal 0.25, 218 docs
    assert all(0.55 <= rates[l] <= 0.95 for l in ("zh", "es", "de", "fr"))
    plan = stratified_sample(spark, sf)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_length_percentiles_exact(spark, tmp_path):
    """Known distribution: n_chars = 1..101 → p50 = 51 exactly, p90 =
    91, p99 = 100 (linear interpolation on 101 points)."""
    from goskyr_spark.ops.sampling import length_percentiles

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    rows = [(i, "x", "en", "s", i + 1) for i in range(101)]
    p = str(tmp_path)
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        p + "/documents.parquet")
    r = length_percentiles(spark, p).collect()[0]
    assert (r.lang, r.n_docs) == ("en", 101)
    assert (r.p50_chars, r.p90_chars, r.p99_chars) == (51.0, 91.0, 100.0)


# ------------------------------------------------ event-stream analytics

def _write_events(spark, tmp_path, rows):
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    p = str(tmp_path)
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        p + "/events.parquet")
    return p


def test_sessionize_gap_boundary(spark, tmp_path):
    """Exactly-30-min gap stays in-session (> , not >=); 30min + 1µs
    opens a new one; single-event users form singleton sessions."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    us = dt.timedelta(microseconds=1)
    rows = [
        (0, t0, 1, "view", 1.0, "{}"),
        (1, t0 + dt.timedelta(minutes=30), 1, "view", 2.0, "{}"),          # gap == 30min → same
        (2, t0 + dt.timedelta(minutes=60) + us, 1, "click", 4.0, "{}"),    # gap 30min+1µs → new
        (3, t0, 2, "view", 8.0, "{}"),
    ]
    p = _write_events(spark, tmp_path, rows)
    from goskyr_spark.ops.events import sessionize

    got = {(r.user_id, r.session_seq): r for r in sessionize(spark, p).collect()}
    assert set(got) == {(1, 1), (1, 2), (2, 1)}
    assert (got[(1, 1)].n_events, got[(1, 1)].total_value) == (2, 3.0)
    assert got[(1, 1)].session_end_us - got[(1, 1)].session_start_us == 30 * 60 * 1_000_000
    assert got[(1, 2)].n_events == 1
    assert got[(2, 1)].n_events == 1


def test_window_agg_epoch_aligned(spark, tmp_path):
    """Tumbling 60-min windows align to the epoch hour; distinct users
    exact; one-shuffle partial-agg plan."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 10, 59, 59)
    rows = [
        (0, t0, 1, "view", 1.0, "{}"),
        (1, t0 + dt.timedelta(seconds=2), 1, "view", 2.0, "{}"),   # next hour
        (2, t0 + dt.timedelta(seconds=3), 2, "view", 4.0, "{}"),
    ]
    p = _write_events(spark, tmp_path, rows)
    from goskyr_spark.ops.events import window_agg

    got = {r.window_start_us: r for r in window_agg(spark, p).collect()}
    h10 = int(dt.datetime(2024, 1, 1, 10, 0, tzinfo=dt.timezone.utc).timestamp() * 1e6)
    h11 = h10 + 3_600_000_000
    assert set(got) == {h10, h11}
    assert (got[h10].n_events, got[h10].n_users) == (1, 1)
    assert (got[h11].n_events, got[h11].n_users, got[h11].total_value) == (2, 2, 6.0)


def test_sessionize_randomized_vs_python_reference(spark, tmp_path):
    """Seeded random event streams (bursty gaps straddling the 30-min
    boundary) vs an independent pure-python sessionizer."""
    import datetime as dt

    import numpy as np

    rng = np.random.default_rng(7)
    t0 = dt.datetime(2024, 3, 1)
    rows = []
    eid = 0
    for user in range(20):
        t = t0 + dt.timedelta(seconds=int(rng.integers(0, 3600)))
        for _ in range(int(rng.integers(1, 40))):
            rows.append((eid, t, user, "e", float(eid % 7), "{}"))
            eid += 1
            # gaps cluster around the 30-min boundary on purpose
            gap_s = int(rng.choice([5, 60, 1799, 1800, 1801, 7200]))
            t = t + dt.timedelta(seconds=gap_s)
    p = _write_events(spark, tmp_path, rows)

    # pure-python reference
    GAP_US = 30 * 60 * 1_000_000
    by_user = {}
    for e, t, u, _, v, _ in rows:
        by_user.setdefault(u, []).append((int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6), e, v))
    want = {}
    for u, evs in by_user.items():
        evs.sort()
        seq, prev = 0, None
        for ts_us, e, v in evs:
            if prev is None or ts_us - prev > GAP_US:
                seq += 1
                want[(u, seq)] = [ts_us, ts_us, 0, 0.0]
            s = want[(u, seq)]
            s[0] = min(s[0], ts_us); s[1] = max(s[1], ts_us)
            s[2] += 1; s[3] += v
            prev = ts_us

    from goskyr_spark.ops.events import sessionize

    got = {
        (r.user_id, r.session_seq): [r.session_start_us, r.session_end_us,
                                     r.n_events, r.total_value]
        for r in sessionize(spark, p).collect()
    }
    assert got == want


def test_connected_components_nonconvergence_raises(spark):
    """Exhausting max_iter mid-contraction must refuse loudly (silently
    returning a non-star-forest would emit conflicting labels)."""
    from goskyr_spark.ops.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(59)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=1).collect()


def test_repetition_signals_values(spark, tmp_path):
    """Hand-computed repetition counts, including the single-token and
    max-run-at-end edge cases of the sorted-array mode fold."""
    from goskyr_spark.ops.textstats import repetition_signals

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    p = str(tmp_path)
    spark.createDataFrame(
        [
            (0, "the the the cat", "en", "s", 0),
            (1, "hello", "en", "s", 0),
            (2, "a b a b a", "en", "s", 0),
            (3, "  zz   zz  ", "en", "s", 0),  # whitespace runs + padding
        ],
        schema,
    ).write.mode("overwrite").parquet(p + "/documents.parquet")

    got = {r.doc_id: r for r in repetition_signals(spark, p).collect()}
    # doc 0: words [cat,the,the,the] -> top run 3; 2-grams {the the x2, the cat}
    assert (got[0].n_words, got[0].n_distinct_words, got[0].top_word_count) == (4, 2, 3)
    assert (got[0].n_2grams, got[0].n_distinct_2grams) == (3, 2)
    # doc 1: single token -> no 2-grams at all
    assert (got[1].n_words, got[1].top_word_count, got[1].n_2grams) == (1, 1, 0)
    # doc 2: run of 3 'a' ends the sorted array (fold must flush best)
    assert (got[2].n_distinct_words, got[2].top_word_count) == (2, 3)
    assert (got[2].n_2grams, got[2].n_distinct_2grams) == (4, 2)
    # doc 3: trim+split must not manufacture empty tokens
    assert (got[3].n_words, got[3].top_word_count) == (2, 2)


def test_token_budget_sample_maximal_and_deterministic(spark):
    """Every language's admitted token sum is within budget; admitting
    the NEXT doc in key order would exceed it (maximality); the set is
    identical across runs."""
    from goskyr_spark.ops.sampling import (
        DEFAULT_TOKEN_BUDGET,
        TOKEN_BUDGETS,
        token_budget_sample,
    )

    sf = "/root/testdata/sf0.01"
    rows = token_budget_sample(spark, sf).collect()
    rows2 = token_budget_sample(spark, sf).collect()
    assert {r.doc_id for r in rows} == {r.doc_id for r in rows2} != set()

    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    docs = spark.read.parquet(sf + "/documents.parquet")
    n_tok = F.size(F.split(F.trim("text"), "\\s+")).cast("long")
    key = F.conv(
        F.substring(F.md5(F.concat(F.lit("tb:"), F.col("doc_id").cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")
    universe = docs.select("doc_id", "lang", n_tok.alias("n"), key.alias("k")).collect()
    for lang, admitted in by_lang.items():
        budget = TOKEN_BUDGETS.get(lang, DEFAULT_TOKEN_BUDGET)
        total = sum(r.n_tokens for r in admitted)
        assert total <= budget, (lang, total)
        ordered = sorted((u for u in universe if u.lang == lang), key=lambda u: (u.k, u.doc_id))
        admitted_ids = {r.doc_id for r in admitted}
        # the first non-admitted doc in key order must overflow the budget
        for u in ordered:
            if u.doc_id not in admitted_ids:
                assert total + u.n > budget, (lang, total, u.n)
                break


def test_decontaminate_flags_planted_overlaps(spark):
    """Every planted doc (benchmark text embedded verbatim) is flagged
    with EXACTLY its benchmark doc's distinct 8-gram count — the filler
    words are novel vocab, so boundary grams must not match."""
    from goskyr_spark.ops.decontam import (
        BENCH_MOD,
        BENCH_REM,
        NGRAM,
        PLANT_BELOW,
        PLANT_OFFSET,
        decontaminate,
    )

    sf = "/root/testdata/sf0.01"
    got = {r.doc_id: r.n_contaminated_grams for r in decontaminate(spark, sf).collect()}
    bench = {
        r.doc_id: r.text
        for r in spark.read.parquet(sf + "/documents.parquet")
        .filter((F.col("doc_id") % BENCH_MOD == BENCH_REM) & (F.col("doc_id") < PLANT_BELOW))
        .collect()
    }
    assert bench, "fixture assumption: benchmark docs exist below PLANT_BELOW"
    for doc_id, text in bench.items():
        toks = text.strip().lower().split()
        want = len({" ".join(toks[i : i + NGRAM]) for i in range(len(toks) - NGRAM + 1)})
        assert got.get(doc_id + PLANT_OFFSET) == want, doc_id


def test_pack_shards_invariants_and_slice_invariance(spark):
    """Sequence packing: (a) the assignment is identical whether the
    exclusive prefix sum runs over 4 or 16 key-range slices (the
    distributed form equals the global window); (b) offsets stay inside
    the shard; (c) shards are gapless — sorting docs by (shard_id,
    shard_offset) reproduces an exact global prefix sum of n_tokens."""
    from goskyr_spark.ops.sampling import SHARD_CAPACITY, pack_shards

    sf = "/root/testdata/sf0.01"
    a = sorted(pack_shards(spark, sf, n_ranges=16).collect())
    b = sorted(pack_shards(spark, sf, n_ranges=4).collect())
    assert a == b and a

    cap = SHARD_CAPACITY
    total = 0
    for r in sorted(a, key=lambda r: (r.shard_id, r.shard_offset)):
        assert 0 <= r.shard_offset < cap
        assert r.shard_id * cap + r.shard_offset == total, r
        total += r.n_tokens
    assert total == sum(r.n_tokens for r in a)


def test_incremental_dedup_index_probe(spark):
    """Every batched near-dup re-crawl is flagged against its corpus
    source; novel batch docs are admitted (absent); the corpus index is
    built once — a second invocation reuses the materialized index
    (cache key present) and returns the identical set."""
    from goskyr_spark.ops.dedup import (
        INCR_DUP_MOD,
        INCR_DUP_REM,
        INCR_OFFSET,
        INCR_NOVEL_REM,
        _INTERMEDIATE_CACHE,
        incremental_dedup,
    )

    sf = "/root/testdata/sf0.01"
    rows = incremental_dedup(spark, sf).collect()
    flagged = {(r.new_doc_id, r.dup_of) for r in rows}
    docs = spark.read.parquet(sf + "/documents.parquet")
    dup_ids = [
        r.doc_id for r in docs.filter(F.col("doc_id") % INCR_DUP_MOD == INCR_DUP_REM).collect()
    ]
    novel_ids = [
        r.doc_id for r in docs.filter(F.col("doc_id") % INCR_DUP_MOD == INCR_NOVEL_REM).collect()
    ]
    assert dup_ids and novel_ids
    for d in dup_ids:
        assert (d + INCR_OFFSET, d) in flagged, d
    novel_flagged = {n for n, _ in flagged} & {n + INCR_OFFSET for n in novel_ids}
    assert not novel_flagged
    assert any(k[0] == "mh_band_index" for k in _INTERMEDIATE_CACHE)
    again = {(r.new_doc_id, r.dup_of) for r in incremental_dedup(spark, sf).collect()}
    assert again == flagged


def test_lm_perplexity_score_matches_python_reference(spark, tmp_path):
    """lmscore.lm_perplexity_score vs an exact pure-python add-one
    bigram LM on a constructed corpus: same slice split, same smoothing,
    same weighted-mean log2, same rounding. Docs with < 2 tokens must be
    absent (no bigrams)."""
    import math
    from collections import Counter

    from goskyr_spark.ops.lmscore import LM_MOD, LM_REM, lm_perplexity_score

    rows = [
        (3, "a b a c a b", "en", "s", 0),   # reference slice (3 % 10 == 3)
        (13, "b c b a", "en", "s", 0),      # reference slice
        (1, "a b c", "en", "s", 0),
        (2, "a zz a", "en", "s", 0),        # zz is OOV for the reference LM
        (4, "x", "en", "s", 0),             # single token: no bigrams
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    p = str(tmp_path / "lmdocs")
    df.write.mode("overwrite").parquet(p + "/documents.parquet")

    ref_tokens, uni, bi = [], Counter(), Counter()
    for doc_id, text, *_ in rows:
        toks = text.lower().split()
        if doc_id % LM_MOD == LM_REM:
            uni.update(toks)
            bi.update(zip(toks, toks[1:]))
            ref_tokens.extend(toks)
    v = len(set(ref_tokens))
    expected = {}
    for doc_id, text, *_ in rows:
        if doc_id % LM_MOD == LM_REM:
            continue
        toks = text.lower().split()
        pairs = list(zip(toks, toks[1:]))
        if not pairs:
            continue
        logps = [
            math.log2((bi[(w1, w2)] + 1) / (uni[w1] + v)) for w1, w2 in pairs
        ]
        expected[doc_id] = (len(pairs), round(sum(logps) / len(logps), 4))

    got = {
        r.doc_id: (r.n_bigrams, r.avg_logp)
        for r in lm_perplexity_score(spark, p).collect()
    }
    assert got == expected
    assert 4 not in got


def test_repeated_substring_spans_merge_and_edges(spark, tmp_path):
    """Hand-constructed corpus for the ExactSubstr span merge: two docs
    share a 12-token passage (one maximal span each, exact bounds); a
    doc repeats a k-gram INTERNALLY (two islands merging into one span
    when overlapping); sub-k docs emit nothing; unique docs emit
    nothing. doc_ids >= 25 so the op's own planting stays out of the
    way (k=4 here for short fixtures)."""
    from goskyr_spark.ops.substring import repeated_substring_spans

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    rows = [
        (30, f"aa bb {shared} cc dd", "en", "s", 0),      # span at pos 3..14
        (31, f"{shared} xx yy zz", "en", "s", 0),         # span at pos 1..12
        (32, "p q r s p q r s t", "en", "s", 0),          # internal repeat of 'p q r s'
        (33, "one two three", "en", "s", 0),              # shorter than k
        (34, "u1 u2 u3 u4 u5 u6 u7 u8", "en", "s", 0),    # unique, no dup grams
    ]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    p = str(tmp_path)
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        p + "/documents.parquet"
    )

    got = {
        (r.doc_id, r.span_start, r.span_end, r.n_tokens)
        for r in repeated_substring_spans(spark, p, k=4).collect()
    }
    assert (30, 3, 14, 12) in got
    assert (31, 1, 12, 12) in got
    # doc 32: 'p q r s' occurs at pos 1 and 5; both 4-gram positions are
    # hot, spans [1,4] and [5,8] are adjacent -> ONE merged span [1,8]
    assert (32, 1, 8, 8) in got
    docs_with_spans = {d for d, *_ in got}
    assert 33 not in docs_with_spans and 34 not in docs_with_spans
    assert docs_with_spans == {30, 31, 32}


def test_asof_join_tie_and_missing(spark, tmp_path):
    """As-of semantics, hand-computed: newest prior view wins; a view at
    the SAME timestamp counts as prior; purchases before any view carry
    nulls; other event types are ignored."""
    from datetime import datetime

    from goskyr_spark.ops.events import asof_join

    us = lambda s: datetime(2024, 1, 1, 0, 0, s)
    rows = [
        (1, us(10), 7, "view", 1.0, "{}"),
        (2, us(20), 7, "purchase", 2.0, "{}"),   # -> view 1
        (3, us(30), 7, "view", 3.0, "{}"),
        (4, us(30), 7, "purchase", 4.0, "{}"),   # same ts -> view 3
        (5, us(40), 7, "click", 5.0, "{}"),      # ignored
        (6, us(50), 7, "purchase", 6.0, "{}"),   # -> view 3 (click skipped)
        (7, us(5), 8, "purchase", 7.0, "{}"),    # no prior view -> nulls
        (8, us(6), 8, "view", 8.0, "{}"),
    ]
    schema = (
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string"
    )
    p = str(tmp_path)
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        p + "/events.parquet"
    )

    got = {r.event_id: r for r in asof_join(spark, p).collect()}
    assert set(got) == {2, 4, 6, 7}
    assert got[2].view_event_id == 1 and got[2].view_value == 1.0
    assert got[4].view_event_id == 3
    assert got[6].view_event_id == 3
    assert got[7].view_event_id is None and got[7].view_ts_us is None


def test_substring_spans_randomized_vs_python(spark, tmp_path):
    """Seeded random corpora from a tiny vocabulary (to force natural
    k-gram repeats) vs an independent pure-python ExactSubstr: same dup
    grams, same maximal-span merge."""
    import random

    from goskyr_spark.ops.substring import PLANT_N, repeated_substring_spans

    rng = random.Random(11)
    vocab = [f"v{i}" for i in range(12)]
    rows = []
    for doc_id in range(PLANT_N, PLANT_N + 60):  # above PLANT_N: no planting
        n = rng.randint(1, 30)
        rows.append(
            (doc_id, " ".join(rng.choice(vocab) for _ in range(n)), "en", "s", 0)
        )
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    p = str(tmp_path)
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        p + "/documents.parquet"
    )

    k = 4
    from collections import Counter

    grams = Counter()
    positions = {}
    for doc_id, text, *_ in rows:
        toks = text.split()
        pos = [(i + 1, " ".join(toks[i : i + k])) for i in range(len(toks) - k + 1)]
        positions[doc_id] = pos
        grams.update(g for _, g in pos)
    expected = set()
    for doc_id, pos in positions.items():
        hot = sorted(i for i, g in pos if grams[g] > 1)
        spans = []
        for i in hot:
            if spans and i <= spans[-1][1] + 1:
                spans[-1][1] = max(spans[-1][1], i + k - 1)
            else:
                spans.append([i, i + k - 1])
        for a, b in spans:
            expected.add((doc_id, a, b, b - a + 1))

    got = {
        (r.doc_id, r.span_start, r.span_end, r.n_tokens)
        for r in repeated_substring_spans(spark, p, k=k).collect()
    }
    assert got == expected
    assert expected  # tiny vocab must actually produce repeats


def test_asof_join_randomized_vs_python(spark, tmp_path):
    """Seeded random event streams with deliberate timestamp collisions
    vs an independent pure-python as-of scan (same total order and tie
    policy)."""
    import datetime as dt
    import random

    from goskyr_spark.ops.events import asof_join

    rng = random.Random(23)
    t0 = dt.datetime(2024, 3, 1)
    rows = []
    for eid in range(400):
        rows.append(
            (
                eid,
                t0 + dt.timedelta(seconds=rng.randint(0, 120)),  # many ties
                rng.randint(0, 9),
                rng.choice(["view", "purchase", "click"]),
                float(eid),
                "{}",
            )
        )
    schema = (
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string"
    )
    p = str(tmp_path)
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        p + "/events.parquet"
    )

    expected = {}
    by_user = {}
    for eid, ts, uid, et, val, _ in rows:
        if et in ("view", "purchase"):
            by_user.setdefault(uid, []).append((ts, 0 if et == "view" else 1, eid, et, val))
    for uid, evs in by_user.items():
        last_view = None
        for ts, _, eid, et, val in sorted(evs):
            if et == "view":
                last_view = (eid, ts, val)
            else:
                expected[eid] = last_view
    got = {
        r.event_id: (
            None
            if r.view_event_id is None
            else (r.view_event_id, r.view_ts_us, r.view_value)
        )
        for r in asof_join(spark, p).collect()
    }
    assert set(got) == set(expected)
    for eid, exp in expected.items():
        if exp is None:
            assert got[eid] is None
        else:
            v_eid, v_ts, v_val = exp
            g_eid, g_ts_us, g_val = got[eid]
            assert g_eid == v_eid and g_val == v_val
            assert g_ts_us == int(v_ts.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)


def test_paragraph_dedup_first_occurrence_wins(spark, mini_docs):
    """CCNet paragraph dedup: an exact-copy document loses every
    paragraph to its original; unique documents keep everything and
    reassemble to their whitespace-normalized text."""
    from goskyr_spark.ops.paragraphs import paragraph_dedup

    out = {r["doc_id"]: r for r in paragraph_dedup(spark, mini_docs).collect()}
    # doc 101 is an exact copy of 100 — every paragraph already seen
    assert out[101]["n_kept"] == 0 and out[101]["text"] == ""
    assert out[100]["n_kept"] == out[100]["n_paras"] > 0
    # the planted union's copy of doc 0 likewise loses everything
    assert out[1_000_000]["n_kept"] == 0
    # a unique doc reassembles to its normalized original text
    orig = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(mini_docs + "/documents.parquet").collect()
    }
    assert out[103]["text"] == " ".join(orig[103].split())
    assert out[103]["n_kept"] == out[103]["n_paras"]


def test_paragraph_dedup_within_doc_repeats(spark, tmp_path):
    """A paragraph repeated WITHIN one document survives only at its
    first position (width=2 chunks for a hand-checkable layout)."""
    from goskyr_spark.ops.paragraphs import paragraph_dedup

    df = spark.createDataFrame(
        [(0, "a b a b c d", "en", "s", 0), (1, "x y a b", "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    p = str(tmp_path / "pd")
    df.write.mode("overwrite").parquet(p + "/documents.parquet")
    out = {r["doc_id"]: r for r in paragraph_dedup(spark, p, width=2).collect()}
    # doc 0 chunks: [a b][a b][c d] → second 'a b' dropped
    assert out[0]["n_paras"] == 3 and out[0]["n_kept"] == 2
    assert out[0]["text"] == "a b c d"
    # doc 1 chunks: [x y][a b] → 'a b' already seen in doc 0
    assert out[1]["n_paras"] == 2 and out[1]["n_kept"] == 1
    assert out[1]["text"] == "x y"


def test_pagerank_matches_pure_python_power_iteration(spark):
    """Distributed fixed-iteration PageRank == the same recurrence run
    in plain python (damping, uniform dangling redistribution)."""
    from goskyr_spark.ops.linkrank import pagerank

    edge_list = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
        ("c", "d"), ("d", "e"),  # e is dangling
        ("a", "b"),  # duplicate edge must collapse
    ]
    edges = spark.createDataFrame(edge_list, "src string, dst string")
    got = {r["url"]: r["link_rank"] for r in pagerank(edges, iters=4).collect()}

    dedup_edges = sorted(set(edge_list))
    nodes = sorted({u for e in dedup_edges for u in e})
    outs: dict[str, list[str]] = {}
    for s, d in dedup_edges:
        outs.setdefault(s, []).append(d)
    n = float(len(nodes))
    r = {u: 1.0 / n for u in nodes}
    for _ in range(4):
        dang = sum(r[u] for u in nodes if u not in outs)
        contrib = {u: 0.0 for u in nodes}
        for s, ds in outs.items():
            for d in ds:
                contrib[d] += r[s] / len(ds)
        r = {u: 0.15 / n + 0.85 * (contrib[u] + dang / n) for u in nodes}
    for u in nodes:
        # the operator rounds to 6 decimals for cross-engine comparison
        assert abs(got[u] - r[u]) < 5.1e-7, (u, got[u], r[u])
    # total rank mass is invariant at 1
    assert abs(sum(got.values()) - 1.0) < 1e-5


def test_corpus_link_edges_match_enumeration(spark):
    """Parsed-anchor edge derivation == the pure-arithmetic enumeration
    the oracle embeds (list pages link items/next/sidebar/cross/private;
    item pages are dangling)."""
    import __spark_entry__ as entrymod
    from goskyr_spark.ops.linkrank import corpus_link_edges
    from goskyr_spark.spark.corpus import CorpusSpec

    spec = CorpusSpec(
        n_hosts=4, list_pages_per_host=2, items_per_page=4, mega_factor=2, seed=9
    )
    got = {(r["src"], r["dst"]) for r in corpus_link_edges(spark, spec).collect()}
    sql = entrymod._crawl_link_rank_oracle()
    import re

    want = set(re.findall(r"\('(\S+)', '(\S+)'\)", sql))
    assert got == want


def test_paragraph_dedup_randomized_vs_python(spark, tmp_path):
    """Seeded random corpora from a tiny vocabulary (forcing natural
    chunk collisions) vs an independent pure-python first-occurrence
    reference: same kept sets, counts, and reassembled text. doc_ids
    start above PLANT_N so the planted-union adds nothing."""
    import random

    from goskyr_spark.ops.dedup import PLANT_N
    from goskyr_spark.ops.paragraphs import paragraph_dedup

    rng = random.Random(23)
    vocab = [f"w{i}" for i in range(6)]
    width = 3
    rows = []
    for doc_id in range(PLANT_N, PLANT_N + 50):
        n = rng.randint(1, 25)
        rows.append(
            (doc_id, " ".join(rng.choice(vocab) for _ in range(n)), "en", "s", 0)
        )
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    p = str(tmp_path)
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        p + "/documents.parquet"
    )

    seen: set[str] = set()
    expected = {}
    for doc_id, text, *_ in rows:  # rows are in (doc_id, pos) order already
        toks = text.split()
        chunks = [
            " ".join(toks[i : i + width]) for i in range(0, len(toks), width)
        ]
        kept = []
        for c in chunks:
            if c not in seen:
                seen.add(c)
                kept.append(c)
        expected[doc_id] = (len(chunks), len(kept), " ".join(kept))

    got = {
        r.doc_id: (r.n_paras, r.n_kept, r.text)
        for r in paragraph_dedup(spark, p, width=width).collect()
    }
    assert got == expected
    # the tiny vocabulary must actually produce cross-doc collisions
    assert any(k < n for n, k, _ in expected.values())


def test_semantic_dedup_non_transitive_chain(spark):
    """Pins the documented keeper semantics (see dedup.semantic_dedup):
    under a non-transitive chain cos(a,b) >= t, cos(b,c) >= t,
    cos(a,c) < t, BOTH b and c drop — c's keeper is b even though b is
    itself dropped (keeper = nearest-lower WITNESS, not a guaranteed
    survivor). Canonical survivors come from connected_components over
    the (vec_id, keeper) edges."""
    import math

    from goskyr_spark.ops.dedup import connected_components, semantic_dedup_df
    from goskyr_spark.ops.similarity import with_norm

    def unit(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r)]

    # 0°,10°,20°: cos10° = 0.9848 >= 0.97, cos20° = 0.9397 < 0.97
    e = with_norm(
        spark.createDataFrame(
            [(0, unit(0)), (1, unit(10)), (2, unit(20))],
            "vec_id long, embedding array<double>",
        )
    )
    out = {
        r["vec_id"]: r["keeper"]
        for r in semantic_dedup_df(e, n_cells=1, threshold=0.97).collect()
    }
    assert out == {1: 0, 2: 1}  # keeper of 2 is the dropped row 1
    # survivor set = ids absent from the result
    assert {0, 1, 2} - set(out) == {0}
    # canonical mapping when needed: CC over the witness edges
    cc = {
        r["node"]: r["component"]
        for r in connected_components(
            spark.createDataFrame(
                [(k, v) for k, v in out.items()], "src long, dst long"
            )
        ).collect()
    }
    assert cc == {0: 0, 1: 0, 2: 0}


def test_semantic_dedup_oversized_cell_prefilter(spark):
    """Pins the cell_row_budget path (see dedup.semantic_dedup): a cell
    whose row count exceeds the budget is deduplicated through the
    banded sign-LSH prefilter (shared band value → exact verify), an
    under-budget cell through the full pairwise — both inside ONE plan,
    split by a data-dependent filter on the broadcast per-cell count.
    Exact copies share every band, so the prefilter path is recall-1 by
    construction here and the result must equal the unbudgeted run."""
    import math

    from goskyr_spark.ops.dedup import semantic_dedup_df
    from goskyr_spark.ops.similarity import with_norm

    def unit(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r)]

    cents = [[1.0, 0.0], [0.0, 1.0]]
    rows = [
        # cell 0: 5 members (> budget 3) — copies of v0 plus one loner
        (0, unit(0)), (1, unit(0)), (2, unit(0)), (3, unit(0)), (4, unit(40)),
        # cell 1: 2 members (≤ budget 3) — a 5°-apart NEAR pair (not a
        # copy): the exact pairwise path must catch it regardless of
        # banding behavior
        (10, unit(90)), (11, unit(85)),
    ]
    e = with_norm(
        spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    )
    kw = dict(cents=cents, threshold=0.97, dim=2)
    got = {
        r["vec_id"]: (r["keeper"], r["cell"])
        for r in semantic_dedup_df(e, cell_row_budget=3, **kw).collect()
    }
    assert got == {1: (0, 0), 2: (0, 0), 3: (0, 0), 11: (10, 1)}
    # budget=1 (every cell through the prefilter) and budget=None (full
    # pairwise everywhere) agree — candidates→exact-verify equivalence
    for budget in (1, None):
        alt = {
            r["vec_id"]: (r["keeper"], r["cell"])
            for r in semantic_dedup_df(e, cell_row_budget=budget, **kw).collect()
        }
        assert alt == got, budget
    # the prefilter branch is really in the budgeted plan: banded
    # candidate generation = an Arrow UDF + a posexplode generator
    plan = semantic_dedup_df(e, cell_row_budget=3, **kw)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan and "Generate" in plan, plan
    unbudgeted = semantic_dedup_df(e, cell_row_budget=None, **kw)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in unbudgeted
