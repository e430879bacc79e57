"""Physical-plan quality gates: the plans Catalyst actually produces for
the operator library must broadcast small sides, prune columns at the
parquet scan, and push filters down. These assertions are the 100-TB
discipline made executable — a regression here is a scale bug even when
results stay correct."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_merge_key_join_broadcasts_dimension(spark):
    from goskyr_spark.ops.relational import merge_key_join

    plan = plan_of(merge_key_join(spark, SF))
    assert "BroadcastHashJoin" in plan, plan


def test_detail_join_broadcasts_dimension(spark):
    from goskyr_spark.ops.relational import detail_page_join

    plan = plan_of(detail_page_join(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_token_counts_prunes_columns(spark):
    from goskyr_spark.ops.textstats import token_counts

    plan = plan_of(token_counts(spark, SF))
    # the scan must read only doc_id + text, not lang/source/n_chars
    scan = plan[plan.index("ReadSchema"):].splitlines()[0]
    assert "text" in scan and "doc_id" in scan
    assert "source" not in scan and "lang" not in scan, scan


def test_filter_pushdown_reaches_scan(spark):
    df = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .filter(F.col("o_totalprice") > 100000)
        .select("o_orderkey")
    )
    plan = plan_of(df)
    assert "PushedFilters: [" in plan
    assert "GreaterThan(o_totalprice" in plan, plan


def test_politeness_uses_two_window_phases(spark):
    from goskyr_spark.crawl.politeness import select_under_budget

    frontier = spark.createDataFrame(
        [("u%d" % i, i, "h1", "d1", float(i), 0, 0) for i in range(100)],
        "url string, url_hash long, host string, domain string, priority double, depth int, round_added int",
    )
    out = select_under_budget(frontier, default_budget=5, n_salts=4)
    plan = plan_of(out)
    # salted phase + exact phase = two Window operators
    assert plan.count("Window") >= 2, plan
    rows = out.collect()
    assert len(rows) == 5
    assert sorted(r["visit_rank"] for r in rows) == [1, 2, 3, 4, 5]


def test_whole_stage_codegen_covers_textstats(spark):
    from goskyr_spark.ops.textstats import quality_signals

    plan = plan_of(quality_signals(spark, SF))
    # '*' prefixes mark whole-stage-codegen nodes in formatted explain
    assert "* Project" in plan
    # no python UDF in the hot path
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_near_dup_plans_have_no_unblocked_self_join(spark):
    """Scale gate (round-1 verdict): the near-dup candidate joins must
    be keyed on banding columns — never a cartesian/nested-loop pair
    blowup, and never a self-join blocked on a low-cardinality column
    alone."""
    from goskyr_spark.ops.dedup import (
        char_jaccard_lsh_pairs,
        embedding_cosine_dups,
        incremental_dedup,
        simhash_dup_pairs,
    )
    from goskyr_spark.ops.multimodal import image_embed_dedup

    for df in (
        char_jaccard_lsh_pairs(spark, SF),
        embedding_cosine_dups(spark, SF),
        simhash_dup_pairs(spark, SF),
        image_embed_dedup(spark, SF),
        incremental_dedup(spark, SF),
    ):
        plan = plan_of(df)
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        # candidate generation joins on the band key (minhash bands,
        # Manku combination keys, hyperplane sign bands)
        assert "band_idx" in plan, plan


def test_semantic_dedup_joins_on_cell_only(spark):
    """SemDeDup's pairwise work must be confined to cells: the self-join
    keys on the cell assignment (equi-join, never cartesian), and the
    assignment itself is a projection — no shuffle between the scan and
    the cell-keyed join."""
    from goskyr_spark.ops.dedup import semantic_dedup

    plan = plan_of(semantic_dedup(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "cell" in plan, plan


def test_simhash_candidate_volume_bounded(spark):
    """VERDICT r2 #1: simhash candidate generation must not be
    quadratic-with-a-small-constant. The Manku combination keys (30-bit
    diversity) admit essentially only genuine near-Hamming pairs at
    sandbox scale: ≤ 2·N candidates at sf0.01, where the old 8-bit
    bands measured ~102·N (67k for 500 docs)."""
    from goskyr_spark.ops.dedup import (
        _parquet_rows,
        simhash_band_candidates,
        simhash_fingerprints,
    )

    sfd = "/root/testdata/sf0.01"
    n = _parquet_rows(f"{sfd}/documents.parquet")
    c = simhash_band_candidates(simhash_fingerprints(spark, sfd)).count()
    assert c <= 2 * n, f"candidate blowup: {c} pairs for {n} docs"


def test_embedding_band_collision_rate_bounded(spark):
    """VERDICT r2 #2: 8-bit sign-LSH bands must keep the random-pair
    band-collision rate near the analytic 6/256 ≈ 2.3 % (the old 4-bit
    bands admitted ≈ 37 % of all pairs). Gate at ≤ 5 % of all pairs on
    the natural sf0.01 embeddings (no planted copies), measured on the
    production band table through the production candidate generator."""
    from goskyr_spark.ops.dedup import banded_pairs, embedding_tables

    e, banded = embedding_tables(spark, "/root/testdata/sf0.01", plant=False)
    n = e.count()
    cands = banded_pairs(banded, "vec_id", "bv", ("vec_a", "vec_b")).count()
    all_pairs = n * (n - 1) / 2
    assert cands <= 0.05 * all_pairs, f"{cands} candidates = {cands/all_pairs:.1%} of all pairs"


def test_ann_bucket_partition_pruning(spark, tmp_path):
    """The ANN scale story: with the sign-LSH bucket as the embeddings
    table's partition key, the probe filter must PRUNE partitions at the
    scan (read only the probed buckets), not scan-then-filter."""
    from goskyr_spark.ops.similarity import hyperplane_bucket

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    path = str(tmp_path / "emb_by_bucket")
    (
        emb.withColumn("bucket", hyperplane_bucket(F.col("embedding"), n_planes=4))
        .write.partitionBy("bucket")
        .mode("overwrite")
        .parquet(path)
    )
    probed = spark.read.parquet(path).filter(F.col("bucket").isin([3, 5, 9]))
    plan = plan_of(probed)
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "bucket" in m.group(1), plan
    # pruned scan reads at most the 3 probed partition dirs
    assert probed.select("bucket").distinct().count() <= 3


def test_bucketed_pages_join_avoids_exchange(spark, tmp_path):
    """The production fetch join co-locates by bucketing the pages table
    on url: the bucketed side must join with NO Exchange (the frontier
    side alone shuffles into the bucket layout)."""
    from goskyr_spark.spark.corpus import CorpusSpec, generate_pages

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        spec = CorpusSpec(n_hosts=3, list_pages_per_host=2, items_per_page=3, mega_factor=1, seed=5)
        pages = generate_pages(spark, spec)
        spark.sql("DROP TABLE IF EXISTS pages_bucketed")
        (
            pages.write.mode("overwrite")
            .option("path", str(tmp_path / "pages_bucketed"))
            .bucketBy(8, "url")
            .sortBy("url")
            .saveAsTable("pages_bucketed")
        )
        import re

        def n_exchanges(df):
            return len(re.findall(r"\(\d+\) Exchange", plan_of(df)))

        bucketed = spark.table("pages_bucketed")
        frontier = pages.select("url").limit(10)
        joined = frontier.join(bucketed, "url")
        plan = plan_of(joined)
        assert "Bucketed: true" in plan, plan
        # the bucketed side joins without its own shuffle: one fewer
        # Exchange than the identical join against the plain table
        plain = frontier.join(spark.read.parquet(str(tmp_path / "pages_bucketed")), "url")
        assert n_exchanges(joined) == n_exchanges(plain) - 1, plan
        assert joined.count() == 10
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS pages_bucketed")


def test_stratified_sample_prunes_text_and_never_shuffles(spark):
    """The sampling key derives from doc_id alone, so the scan must NOT
    read the (dominant) text column and the plan must be shuffle-free —
    at 100 TB this is the difference between a metadata-light filter
    scan and moving the corpus."""
    from goskyr_spark.ops.sampling import stratified_sample

    plan = plan_of(stratified_sample(spark, "/root/testdata/sf0.001"))
    assert "Exchange" not in plan, plan
    import re

    read_schema = re.search(r"ReadSchema: struct<([^>]*)>", plan).group(1)
    assert "text" not in read_schema, read_schema
    assert "doc_id" in read_schema and "lang" in read_schema


def test_sessionize_single_shuffle(spark):
    """Window (partitionBy user_id) and the downstream groupBy(user_id,
    session_seq) must share ONE hash exchange — Catalyst reuses the
    child partitioning because user_id prefixes the grouping key."""
    from goskyr_spark.ops.events import sessionize

    import re

    plan = plan_of(sessionize(spark, "/root/testdata/sf0.001"))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "hashpartitioning(user_id" in plan, plan


def test_repetition_signals_zero_shuffle(spark):
    """The mode count is a sorted-array fold INSIDE the row — the plan
    must be scan → project with no Exchange and only doc_id+text read
    (the explode→groupBy formulation would shuffle every token twice)."""
    from goskyr_spark.ops.textstats import repetition_signals

    import re

    plan = plan_of(repetition_signals(spark, SF))
    assert "Exchange" not in plan, plan
    read_schema = re.search(r"ReadSchema: struct<([^>]*)>", plan).group(1)
    assert "text" in read_schema and "doc_id" in read_schema
    assert "lang" not in read_schema and "source" not in read_schema


def test_normalize_text_zero_shuffle(spark):
    """The NFC/control/whitespace pass is one Arrow stage over a pruned
    scan — no Exchange anywhere (the planted union is a second scan
    branch, also shuffle-free)."""
    import re

    from goskyr_spark.ops.textstats import normalize_text

    plan = plan_of(normalize_text(spark, SF))
    assert "Exchange" not in plan, plan
    read_schema = re.search(r"ReadSchema: struct<([^>]*)>", plan).group(1)
    assert "text" in read_schema and "doc_id" in read_schema
    assert "lang" not in read_schema and "source" not in read_schema


def test_decontaminate_broadcasts_benchmark_grams(spark):
    """The benchmark gram set (the small side, by construction) must be
    broadcast so the training scan is never shuffled on gram keys."""
    from goskyr_spark.ops.decontam import decontaminate

    plan = plan_of(decontaminate(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan, plan


def test_token_budget_sample_single_shuffle(spark):
    """One hash exchange total: the per-language cumulative-sum window
    is the only data movement (scan → project → window → filter)."""
    from goskyr_spark.ops.sampling import token_budget_sample

    import re

    plan = plan_of(token_budget_sample(spark, SF))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "hashpartitioning(lang" in plan, plan


def test_substring_spans_single_span_exchange(spark):
    """ExactSubstr span merge: the two windows (running-max break flag,
    island id) and the final span aggregate must all share ONE doc_id
    exchange + ONE sort; no cartesian product anywhere; the dup-gram
    probe is a semi join."""
    from goskyr_spark.ops.substring import repeated_substring_spans

    import re

    plan = plan_of(repeated_substring_spans(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "LeftSemi" in plan, plan
    assert len(re.findall(r"\(\d+\) Window", plan)) == 2, plan
    assert len(re.findall(r"\(\d+\) Sort\b", plan)) == 1, plan
    # exchanges: gram-key aggregate + doc_id window (+ sandbox-only
    # small-scan spreads and the semi-join's broadcast/shuffle) — the
    # span stages add NO exchange beyond the doc_id one
    after_sort = plan.split("Sort", 1)[0]
    assert len(re.findall(r"\(\d+\) Exchange", after_sort)) <= 1, plan


def test_paragraph_dedup_two_linear_shuffles(spark):
    """Paragraph dedup is exactly two linear exchanges — the paragraph-
    key window and the doc_id reassembly aggregate (the conditional
    collect_list folds totals + survivors into ONE groupBy; a totals
    join would be a third shuffle). No self-join, no python in the row
    path."""
    import re

    from goskyr_spark.ops.paragraphs import paragraph_dedup

    plan = plan_of(paragraph_dedup(spark, SF))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2, plan
    assert "xxhash64" in plan, plan  # window keys on the 64-bit digest
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pagerank_broadcasts_corpus_scalars(spark):
    """The per-iteration scalars (node count, dangling mass) must ride
    as broadcast one-row joins — never a collect — and the rank⋈edge
    join must not broadcast the unbounded rank/edge sides."""
    from goskyr_spark.ops.linkrank import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    plan = plan_of(pagerank(edges, iters=2))
    assert "BroadcastNestedLoopJoin" in plan, plan  # the 1-row crossJoins
    assert "CartesianProduct" not in plan, plan


def _executed_nodes(plan, jvm, into_caches: bool = True) -> list[tuple]:
    """(node, class name, output names, Python UDF names) for every node
    a job over ``plan`` executes. With ``into_caches`` it descends once
    into each cached relation whose buffers are not loaded yet (the job
    computes it); a loaded cache is a leaf, its plan does not run."""
    out, done, stack = [], set(), [plan]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        attrs = node.output()
        udfs = []
        if name in ("ArrowEvalPythonExec", "BatchEvalPythonExec"):
            udfs = [node.udfs().apply(i).name() for i in range(node.udfs().size())]
        out.append((node, name, {attrs.apply(i).name() for i in range(attrs.size())}, udfs))
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        if into_caches and name == "InMemoryTableScanExec":
            builder = node.relation().cacheBuilder()
            key = jvm.java.lang.System.identityHashCode(builder)
            if key not in done and not builder.isCachedColumnBuffersLoaded():
                done.add(key)
                stack.append(node.relation().cachedPlan())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return out


@pytest.fixture(scope="module")
def crawl_plans(spark, tmp_path_factory):
    """Executed plans of a two-round crawl with robots and the bloom on,
    keyed by the warehouse path each write goes to (``frontier/round=N``
    is round N-1's critical job; ``selected``/``records``/``blooms``
    ``/round=N`` are round N's sink flushes), relative to the warehouse."""
    import os

    from pyspark.sql.readwriter import DataFrameWriter

    from goskyr_spark.crawl.bloom import BloomSpec
    from goskyr_spark.crawl.rounds import CrawlRun
    from goskyr_spark.spark.corpus import CorpusSpec, generate_pages, generate_robots

    spec = CorpusSpec(n_hosts=4, list_pages_per_host=2, items_per_page=3, mega_factor=2, seed=7)
    pages = generate_pages(spark, spec).cache()
    pages.count()
    wh = str(tmp_path_factory.mktemp("crawl_plans") / "wh")
    run = CrawlRun(
        spark, wh, pages, spec.config_yaml().replace("id: n08a", "id: n08a\n  field: link"),
        robots=generate_robots(spark, spec),
        bloom_spec=BloomSpec(n_buckets=8, bits_per_bucket=1 << 14),
        default_budget=8, n_salts=4, follow_links=True,
    )
    captured = {}
    write = DataFrameWriter.parquet

    def capturing_write(self, path, *args, **kwargs):
        captured[os.path.relpath(path, wh)] = _executed_nodes(
            self._df._jdf.queryExecution().executedPlan(), spark._jvm)
        return write(self, path, *args, **kwargs)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(DataFrameWriter, "parquet", capturing_write)
        try:
            run.init(spec.seed_urls())
            run.run(max_rounds=2)
        finally:
            pages.unpersist()
    return captured


def test_crawl_round_runs_each_python_operator_once(spark, crawl_plans):
    """Round 1 of a crawl with robots and the bloom on: its critical job
    evaluates the robots ``allowed`` UDF and the ``split_by_bloom``
    cogroup exactly once (one cached admission relation feeds the
    selected set, the carryover and the exact anti-join), builds no
    bitset (the previous round's flush wrote it), and feeds
    ``to_frontier``'s mapInPandas from one generator, not a union."""
    nodes = crawl_plans["frontier/round=2"]  # round 1's critical write

    allowed = [n for n in nodes if "allowed" in n[3]]
    assert len(allowed) == 1, len(allowed)
    cogroups = [n for n in nodes if n[1] == "FlatMapCoGroupsInPandasExec"]
    assert [("maybe_seen" in n[2]) for n in cogroups] == [True], [n[2] for n in cogroups]
    # the only cogroup is the membership test: no merge_blooms, and no
    # empty_blooms mapInPandas either
    assert not [n for n in nodes if n[1] == "MapInPandasExec" and "bits" in n[2]]
    canon = [n for n in nodes
             if n[1] == "MapInPandasExec" and {"url", "host", "domain"} <= n[2]]
    assert len(canon) == 1
    below = _executed_nodes(canon[0][0], spark._jvm, into_caches=False)
    assert not [n for n in below if n[1] == "UnionExec"]


def _expression_classes(node) -> set[str]:
    """Class names of every expression node in one plan node."""
    out, stack = set(), []
    exprs = node.expressions()
    stack.extend(exprs.apply(i) for i in range(exprs.size()))
    while stack:
        e = stack.pop()
        out.add(e.getClass().getSimpleName())
        kids = e.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return out


def test_crawl_path_maps_no_case_through_icu(crawl_plans):
    """No write of a crawl (init's seed frontier, the round-0/1 critical
    jobs, the sink flushes) evaluates Catalyst's ``lower``/``upper``/
    ``initcap``: they map case through ICU4J, whose first use costs an
    executor JVM ~2 s, and the crawl is that first use.
    ``admission_filter`` matches its extensions with ``(?i)`` instead."""
    want = {"frontier/round=1", "frontier/round=2", "selected/round=0",
            "records/round=0", "blooms/round=0", "selected/round=1", "records/round=1"}
    assert want <= set(crawl_plans), sorted(crawl_plans)
    for path, nodes in crawl_plans.items():
        for node, name, _, _ in nodes:
            assert not _expression_classes(node) & {"Lower", "Upper", "InitCap"}, (path, name)
