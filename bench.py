"""Per-round benchmark. Prints ONE JSON line:
{"metric": ..., "value": N, "unit": ..., "queries": {name: sec}, "sf": ...}

Headline metric (BASELINE.json): frontier URLs processed/sec per
executor core, measured by running the full crawl engine (bloom
anti-join + robots + salted politeness + extraction UDF + checkpointed
merge) to completion over a deterministic synthetic corpus. Query
timings cover the operator families at $SPARK_GRAFT_SF_DIR (default
sf0.1). Scaling-efficiency evidence (local[8] vs local[32]) is produced
by tools/scaling_bench.py into BENCH_SCALING.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from goskyr_spark.spark.session import build_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
CORPUS_HOSTS = int(os.environ.get("SPARK_GRAFT_BENCH_HOSTS", "100"))

BENCH_QUERIES = [
    "merge_key_join",
    "politeness_topk",
    "squash_min_count",
    "guess_year_scan",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "dedup_simhash",
    "dedup_char_jaccard_lsh",
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "dedup_semantic",
    "dedup_incremental",
    "dedup_substring_spans",
    "ann_cosine_topk",
    "ann_lsh_topk",
    "ann_ivf_trained_topk",
    "pipeline_training_prep",
    "text_token_counts",
    "text_pii_redact",
    "text_normalize",
    "sample_stratified",
    "sample_token_budget",
    "sample_pack_shards",
    "decontaminate",
    "lm_perplexity_score",
    "quality_rollup",
    "length_percentiles",
    "events_sessionize",
    "events_window_agg",
    "events_asof_join",
    "text_quality_signals",
    "text_lang_id",
    "text_doc_fingerprint",
    "text_repetition_signals",
    "text_paragraph_dedup",
    "url_dedup",
    "quality_classifier",
    "multimodal_embed_dedup",
    "source_warc_read",
    "crawl_link_rank",
]


def force(df) -> None:
    """Materialize the full plan JVM-side (noop sink — no driver collect)."""
    df.write.format("noop").mode("overwrite").save()


def bench_queries(spark) -> tuple[dict[str, float], dict[str, list[float]]]:
    import __spark_entry__ as entrymod
    from goskyr_spark.ops.dedup import (
        embedding_tables, minhash_band_index, shingle_table,
        simhash_fingerprints, verified_pairs_table)

    qs = entrymod.queries()
    # session warmup (JVM/codegen/python-worker startup) so the first
    # timed query is not charged for it
    force(qs["politeness_topk"](spark, SF_DIR))
    out = {}
    # the corpus-adjacent intermediate tables (shingles, simhash
    # fingerprints) are write-once per corpus and shared by the whole
    # dedup suite — a 100-TB pipeline materializes them as real tables.
    # Build them here and REPORT the build as its own line item so the
    # per-query numbers mean steady-state operator cost, not
    # whichever-query-ran-first plus a hidden table build.
    t0 = time.time()
    shingle_table(spark, SF_DIR).count()
    simhash_fingerprints(spark, SF_DIR).count()
    minhash_band_index(spark, SF_DIR).count()
    verified_pairs_table(spark, SF_DIR).count()
    for t in embedding_tables(spark, SF_DIR):
        t.count()
    # Lloyd coarse centroids: trained once per corpus, shared by
    # ann_ivf_trained_topk + dedup_semantic (write-once artifact)
    from goskyr_spark.ops.similarity import trained_centroids

    trained_centroids(spark, SF_DIR)
    out["dedup_intermediates_build"] = round(time.time() - t0, 3)
    # Min-of-2 walls per query (the crawl leg goes further: up to 3
    # repeats with agreement-gated early exit) — CLAUDE.md: single-shot
    # walls vary 10-30% on this box; a long 40-query session adds its
    # own GC/codegen-cache churn — one full-bench pass measured
    # embedding-cosine at 9.3 s where an isolated session sustains
    # 1.2 s). The min is the steady-state operator cost; both walls go
    # into the JSON under query_walls.
    raw: dict[str, list[float]] = {}
    for _ in range(2):
        for name in BENCH_QUERIES:
            fn = qs[name]
            t0 = time.time()
            force(fn(spark, SF_DIR))
            raw.setdefault(name, []).append(round(time.time() - t0, 3))
    for name, walls in raw.items():
        out[name] = min(walls)
    return out, raw


def bench_crawl(spark, spec=None) -> tuple[float, int, float, list[float]]:
    """Full crawl to completion on a deterministic corpus; returns
    (urls_per_sec_per_core, urls, min_wall_s, all_wall_s)."""
    from goskyr_spark.crawl.bloom import BloomSpec
    from goskyr_spark.crawl.rounds import CrawlRun
    from goskyr_spark.spark.corpus import CorpusSpec, generate_pages, generate_robots

    if spec is None:
        spec = CorpusSpec(
            n_hosts=CORPUS_HOSTS, list_pages_per_host=6, items_per_page=10,
            mega_factor=20, seed=42,
        )
    pages = generate_pages(spark, spec).cache()
    pages.count()  # corpus build excluded from crawl timing
    robots = generate_robots(spark, spec)
    wh = tempfile.mkdtemp(prefix="goskyr_bench_wh_")
    try:
        cfg = spec.config_yaml().replace("id: n08a", "id: n08a\n  field: link")
        # Single-shot crawl walls vary 10-30% run-to-run on this box
        # (JIT/python-worker warmup dominates the first pass: measured
        # 117 s cold vs 65 s warm in one JVM), and a co-tenant can eat a
        # whole repeat (round 4's driver run recorded [65.0, 152.8] s
        # and under-reported the engine by ~31%). Up to THREE repeats
        # with an early exit once two walls agree within 10% — the MIN
        # is the steady-state number a long-running crawl sustains; all
        # walls go into the JSON so the headline self-describes.
        walls = []
        for i in range(3):
            wh_i = os.path.join(wh, f"run{i}")
            run = CrawlRun(
                spark, wh_i, pages, cfg, robots=robots,
                bloom_spec=BloomSpec(n_buckets=32, bits_per_bucket=1 << 18),
                default_budget=500, round_seconds=900.0, n_salts=8, follow_links=True,
            )
            run.init(spec.seed_urls())
            t0 = time.time()
            stats = run.run(max_rounds=200)
            walls.append(time.time() - t0)
            if len(walls) >= 2 and sorted(walls)[1] <= 1.10 * sorted(walls)[0]:
                break  # two agreeing walls — the min is trustworthy
        wall = min(walls)
        urls = sum(s.get("selected", 0) for s in stats)
        return round(urls / wall / CPUS, 3), urls, round(wall, 2), [round(w, 2) for w in walls]
    finally:
        shutil.rmtree(wh, ignore_errors=True)
        pages.unpersist()


def main():
    spark = build_session(app_name="goskyr-bench", master=f"local[{CPUS}]",
                          shuffle_partitions=CPUS)
    queries, query_walls = bench_queries(spark)
    ups_core, urls, crawl_wall, crawl_walls = bench_crawl(spark)
    queries["crawl_full"] = crawl_wall
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    # Driver contract: the FINAL stdout line is ONE compact JSON object
    # and must stay well under the driver's fixed-size tail capture
    # (~2 KB) — round 3 lost its headline metric because query_walls
    # pushed the line past the capture window. Raw per-repeat walls go
    # to a side file + a PRECEDING stdout line instead.
    walls_doc = {"query_walls": query_walls, "crawl_walls": crawl_walls}
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_WALLS.json"), "w") as f:
        json.dump(walls_doc, f, indent=1)
    print(json.dumps(walls_doc))
    doc = {
        "metric": "frontier URLs/sec per core (full crawl engine)",
        "value": ups_core,
        "unit": "urls/sec/core",
        "crawl_urls": urls,
        "crawl_wall_s": crawl_wall,
        "cores": CPUS,
        "queries": queries,
        "sf": float(sf),
    }
    # Interference self-description: the headline is trustworthy only
    # when a second wall corroborates the min within 10% — if even the
    # three repeats never agreed (a co-tenant ate the box), flag it so
    # the recorded number is never silently trusted.
    sw = sorted(crawl_walls)
    if len(sw) < 2 or sw[1] > 1.10 * sw[0]:
        doc["noisy"] = True
    line = json.dumps(doc, separators=(",", ":"))
    assert len(line) < 1900, f"final bench line too long ({len(line)} B)"
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
