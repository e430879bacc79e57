"""``crawl`` workload: full multi-round crawls of the seeded synthetic
corpus through ``CrawlRun`` (robots, a mega-host, ``follow_links`` and
the bloom pre-filter on), one crawl at a time.

End-to-end: URLs selected, fetched and parsed per second of crawl wall
(``init`` to the last committed manifest) and the median ``run_round``
wall. The traced run replays the widest committed round through each
layer's public function and times the HTML, extraction and generation
layers on the same corpus.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import time

from pyspark.sql import functions as F

from goskyr_spark.config.model import Config
from goskyr_spark.crawl.bloom import (
    BloomSpec, empty_blooms, filter_unseen, merge_blooms, split_by_bloom)
from goskyr_spark.crawl.politeness import carryover, select_under_budget
from goskyr_spark.crawl.robots import admit_robots
from goskyr_spark.crawl.rounds import CrawlRun, admission_filter, to_frontier
from goskyr_spark.extract.record import PageDoc
from goskyr_spark.generate.spark_jobs import (
    analyze_pages_df, generate_configs_df, squash_candidates_df)
from goskyr_spark.pipeline.run import run_config_spark
from goskyr_spark.spark.corpus import CorpusSpec, generate_pages, generate_robots
from goskyr_spark.spark.extract_udf import parse_one_page, parse_pages

from util import force, timed

CORPUS = {"n_hosts": 24, "list_pages_per_host": 1, "items_per_page": 10, "mega_factor": 6}
BLOOM = {"n_buckets": 8, "bits_per_bucket": 1 << 16}
# Each host's budget is round_seconds / Crawl-delay (1-3 s), so at least
# 300, and the mega-host has 66 pages: select_under_budget ranks every
# round but drops no row, and crawl.carryover_rows reads 0 by
# construction. A budget small enough to carry rows over adds one to three
# rounds, depending on the mega-host's seeded delay: too uneven a run
# length for a gate on the spread across seeds.
RUN = {"default_budget": 500, "round_seconds": 900.0, "n_salts": 8, "follow_links": True}
# heavier item pages for the 1 -> N core extraction leg
SCALING_BODY_WORDS = 400
SAMPLE_PAGES = 96


def page_url(spec: CorpusSpec, i: int) -> str:
    h, kind, p, it = spec.ordinal_to_page(i)
    tail = f"/list/{p}" if kind == "list" else f"/item/{p}-{it}"
    return spec.host_base(h) + tail


class Crawl:
    def __init__(self, spark, seed: int, work: str, cores: int):
        self.spark, self.work, self.cores = spark, work, cores
        self.spec = CorpusSpec(seed=seed, **CORPUS)
        self.bloom = BloomSpec(**BLOOM)
        self.cfg = self.spec.config_yaml().replace("id: n08a", "id: n08a\n  field: link")
        # every list page is a seed, so the crawl is two busy rounds (lists,
        # then their items); the mega-host's extra list pages make round 1
        # host-skewed
        sp = self.spec
        self.seeds = [f"{sp.host_base(h)}/list/{p}"
                      for h in range(sp.n_hosts) for p in range(sp.list_pages_of(h))]
        self.n_runs = 0
        self.last = None

    def sizes(self) -> dict:
        return {"pages": self.spec.total_pages, "list_pages": self.spec.total_list_pages,
                **CORPUS, **BLOOM}

    def setup(self) -> None:
        self.pages = generate_pages(self.spark, self.spec, partitions=2 * self.cores).cache()
        self.pages.count()
        self.robots = generate_robots(self.spark, self.spec).cache()
        self.robots.count()
        # warm the parse UDF's Python workers and codegen once
        force(parse_pages(self.pages.limit(4 * self.cores), self.cfg))

    def run_once(self) -> dict:
        if self.last is not None:
            shutil.rmtree(self.last[1], ignore_errors=True)
        wh = os.path.join(self.work, f"crawl-{self.n_runs}")
        self.n_runs += 1
        run = CrawlRun(self.spark, wh, self.pages, self.cfg, robots=self.robots,
                       bloom_spec=self.bloom, **RUN)
        t = time.perf_counter()
        run.init(self.seeds)
        stats = run.run(max_rounds=100)
        wall = time.perf_counter() - t
        self.last = (run, wh, stats)
        busy = [s for s in stats if s.get("selected")]
        return {"ops": len(stats), "wall_s": wall,
                "urls": sum(s["selected"] for s in busy),
                "round_walls": [s["wall_s"] for s in busy]}

    @staticmethod
    def e2e(units: list[dict]) -> dict:
        walls = [w for u in units for w in u["round_walls"]]
        rate = sum(u["urls"] for u in units) / sum(u["wall_s"] for u in units)
        p50 = statistics.median(walls)
        return {"items_per_s": rate, "step_p50_s": p50,
                "aliases": {"crawl_urls_per_s": rate, "crawl_round_p50_s": p50,
                            "crawl_rounds_sampled": len(walls)}}

    # ---- output checks (outside the timed window) ----

    def expected_records(self) -> list[tuple]:
        sp = self.spec
        out = []
        for h in range(sp.n_hosts):
            for p in range(sp.list_pages_of(h)):
                for i in range(sp.items_per_page):
                    out.append((f"{sp.host_base(h)}/list/{p}", sp.item_title(h, p, i),
                                f"/item/{p}-{i}", sp.item_date(h, p, i), sp.item_summary(h, p, i)))
        return sorted(out)

    def check(self) -> list[tuple[str, bool, str]]:
        run = self.last[0]
        visited = [r.url for r in run.visit_log().select("url").collect()]
        expected = {page_url(self.spec, i) for i in range(self.spec.total_pages)}
        dups = len(visited) - len(set(visited))
        missing, extra = len(expected - set(visited)), len(set(visited) - expected)
        recs = sorted(
            (d.get("Aurl"), d.get("title"), d.get("link"), d.get("date"), d.get("summary"))
            for d in (json.loads(r.record) for r in run.all_records().select("record").collect())
        )
        want = self.expected_records()
        return [
            ("crawl.visits_exactly_once", dups == 0 and not missing and not extra,
             f"visited={len(visited)} dup={dups} missing={missing} extra={extra}"),
            ("crawl.records_match_corpus", recs == want,
             f"records={len(recs)} expected={len(want)}"),
        ]

    # ---- traced-run layer probes ----

    def _seen_before(self, rnd: int):
        wh = self.last[1]
        paths = [os.path.join(wh, "selected", f"round={r}") for r in range(rnd)]
        return self.spark.read.parquet(*paths).select(
            "url", "url_hash", self.bloom.bucket_col(F.col("url_hash")).alias("bucket"),
            F.col("round_id").alias("round_added"))

    def _replay(self, rnd: int, n_frontier: int) -> dict:
        """Self time of each round layer: successive pipeline prefixes over
        the committed inputs of round ``rnd``, each into a noop sink, under
        the conf the engine uses for a round of this size."""
        spark, wh, run = self.spark, self.last[1], self.last[0]
        frontier = spark.read.parquet(os.path.join(wh, "frontier", f"round={rnd}"))
        seen = self._seen_before(rnd).cache()
        seen.count()
        bpath = os.path.join(wh, "blooms", f"round={rnd - 1}")
        blooms = (spark.read.parquet(bpath) if os.path.exists(bpath)
                  else merge_blooms(empty_blooms(spark, self.bloom), seen, self.bloom)).cache()
        blooms.count()
        admitted = admission_filter(frontier)
        robots_ok = admit_robots(admitted, self.robots, "goskyr")
        unseen = filter_unseen(robots_ok, blooms, seen, self.bloom)
        selected = select_under_budget(unseen, run.budgets, RUN["default_budget"],
                                       RUN["n_salts"], salted=n_frontier > run.salt_min_frontier)
        fetched = selected.join(self.pages.select("url", "html"), on="url", how="left")
        parsed = parse_pages(fetched.filter(F.col("html").isNotNull()), self.cfg)
        new_urls = parsed.select(
            F.explode_outer(F.concat(F.array("next_url"), "detail_urls", "link_urls")).alias("url"),
            F.lit(0.0).alias("priority"), F.lit(0).alias("depth"),
        ).filter(F.col("url").isNotNull())
        canon = to_frontier(new_urls, self.bloom, round_id=rnd + 1, dedup=False)
        chain = [("admission", admitted), ("robots", robots_ok), ("seen_antijoin", unseen),
                 ("politeness", selected), ("fetch_join", fetched), ("parse_udf", parsed),
                 ("canonicalize", canon)]
        prev_conf = (spark.conf.get("spark.sql.adaptive.enabled"),
                     spark.conf.get("spark.sql.shuffle.partitions"))
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(max(8, min(int(prev_conf[1]), (n_frontier + 1999) // 2000))))
        out, before = {}, 0.0
        try:
            for name, df in chain:
                t = timed(lambda: force(df))
                out[f"crawl.{name}_s"] = t - before
                before = t
            out["crawl.carryover_rows"] = carryover(unseen, selected).count()
            tagged = split_by_bloom(robots_ok, blooms, self.bloom).join(
                seen.select("url_hash", "url", F.lit(True).alias("in_seen")),
                ["url_hash", "url"], "left")
            c = tagged.agg(
                F.sum(F.when(F.col("in_seen").isNull(), 1).otherwise(0)).alias("new"),
                F.sum(F.when(F.col("in_seen").isNull() & F.col("maybe_seen"), 1)
                      .otherwise(0)).alias("fp"),
            ).first()
            out["crawl.bloom_fp_measured"] = (c.fp or 0) / c.new if c.new else 0.0
            n_seen = seen.count()
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", prev_conf[0])
            spark.conf.set("spark.sql.shuffle.partitions", prev_conf[1])
            seen.unpersist()
            blooms.unpersist()
        n = n_seen / self.bloom.n_buckets
        m, k = self.bloom.bits_per_bucket, self.bloom.k
        out["crawl.bloom_fp_design"] = (1.0 - math.exp(-k * n / m)) ** k
        return out

    def _spans(self, rnd: int) -> dict:
        names = {"selected_flush": "crawl.flush_selected_s",
                 "records_flush": "crawl.flush_records_s", "bloom_merge": "crawl.bloom_merge_s"}
        out = dict.fromkeys(names.values(), 0.0)
        with open(os.path.join(self.last[1], "metrics", "metrics.jsonl"), encoding="utf-8") as fh:
            for line in fh:
                row = json.loads(line)
                if row.get("metric") == "span" and row["round_id"] == rnd and row["stage"] in names:
                    out[names[row["stage"]]] += row["value"]
        return out

    def _driver_side(self) -> dict:
        """Single-threaded PageDoc / parse_one_page cost on a page sample."""
        sp = self.spec
        step = max(1, sp.total_pages // SAMPLE_PAGES)
        sample = []
        for i in range(0, sp.total_pages, step):
            url, _, html, _, _ = sp.page_for_ordinal(i)
            sample.append((url, html.decode("utf-8")))
        cfg = Config.from_yaml(self.cfg)
        t_doc = min(timed(lambda: [PageDoc(u, h) for u, h in sample]) for _ in range(3))
        t_all = min(timed(lambda: [parse_one_page(cfg, u, h) for u, h in sample]) for _ in range(3))
        return {"htmlx.parse_ms_per_page": 1000.0 * t_doc / len(sample),
                "extract.fields_ms_per_page": 1000.0 * (t_all - t_doc) / len(sample)}

    def _generate(self) -> tuple[dict, list]:
        lists = self.pages.filter(F.col("url").contains("/list/")).select("url", "html")
        t_an = timed(lambda: force(analyze_pages_df(lists)))
        t_sq = timed(lambda: force(squash_candidates_df(analyze_pages_df(lists), min_occ=5)))
        gen = generate_configs_df(lists)
        t_cf = timed(lambda: force(gen))
        # sample check against the sequential generation engine
        from goskyr_spark.generate.configs import GenOptions, configurations_for_gq_document
        from goskyr_spark.generate.yamlout import dump_config
        url = self.spec.host_base(1) + "/list/0"
        got = sorted(r.config_yaml for r in gen.filter(F.col("url") == url).collect())
        html = self.spec.list_html(1, 0)
        opts = GenOptions(url=url, min_occs=(5, 10, 20), min_records=0, render_js=False).init()
        want = sorted(dump_config(c) for c in
                      configurations_for_gq_document(PageDoc(url, html), opts).values())
        metrics = {"generate.analyze_s": t_an, "generate.squash_s": t_sq - t_an,
                   "generate.configs_s": t_cf}
        return metrics, [("generate.configs_match_sequential", got == want and bool(want),
                          f"configs={len(got)} expected={len(want)}")]

    def layers(self) -> tuple[dict, list]:
        stats = self.last[2]
        candidates = [s for s in stats if s["round"] >= 1 and s.get("selected")]
        widest = max(candidates, key=lambda s: s["selected"])
        rnd = widest["round"]
        out = self._replay(rnd, widest["frontier"])
        layer_sum = sum(out[f"crawl.{n}_s"] for n in (
            "admission", "robots", "seen_antijoin", "politeness", "fetch_join",
            "parse_udf", "canonicalize"))
        out["crawl.critical_job_s"] = widest["t_round_job"]
        out["crawl.round_overhead_s"] = widest["wall_s"] - widest["t_round_job"]
        out["crawl.layer_coverage"] = layer_sum / widest["t_round_job"]
        out["crawl.replayed_round"] = rnd
        out.update(self._spans(rnd))
        run, wh = self.last[0], self.last[1]
        vis = run.visit_log().join(self.pages.select("url", "html"), "url", "left").agg(
            F.count("html").alias("ok"), F.count(F.lit(1)).alias("n")).first()
        out["crawl.useful_fetch_ratio"] = vis.ok / vis.n
        fronts = self.spark.read.parquet(os.path.join(wh, "frontier"))
        adm = admission_filter(fronts)
        out["crawl.robots_denied"] = adm.count() - admit_robots(adm, self.robots, "goskyr").count()
        out.update(self._driver_side())
        gen, checks = self._generate()
        out.update(gen)
        return out, checks

    def scaling(self, session) -> tuple[dict, list]:
        """1 -> N core leg of ``run_config_spark`` into a parquet sink over
        heavier pages of the same corpus; ``session(n)`` builds local[n]."""
        spec = CorpusSpec(seed=self.spec.seed, body_words=SCALING_BODY_WORDS, **CORPUS)
        walls, checks = {}, []
        for n in (1, self.cores):
            spark = session(n)
            try:
                pages = generate_pages(spark, spec, partitions=2 * self.cores).cache()
                pages.count()
                force(run_config_spark(spark, self.cfg, pages.limit(2 * self.cores)))
                out = os.path.join(self.work, f"extract-{n}")
                walls[n] = timed(lambda: run_config_spark(spark, self.cfg, pages)
                                 .write.mode("overwrite").parquet(out))
                if n == self.cores:
                    checks.append(self._check_extract(spark, spec, out))
                pages.unpersist()
            finally:
                spark.stop()
        eff = walls[1] / (self.cores * walls[self.cores])
        return {"extract.scaling_eff_1to4": eff}, checks

    def _check_extract(self, spark, spec, out):
        """Records of a page sample against sequential ``parse_one_page``."""
        cfg = Config.from_yaml(self.cfg)
        sample = [spec.page_for_ordinal(i)[:3] for i in range(0, spec.total_pages, 23)]
        got: dict[str, list] = {}
        rows = spark.read.parquet(out).filter(F.col("url").isin([u for u, _, _ in sample]))
        for r in rows.collect():
            got.setdefault(r.url, []).append((r.record_idx, r.record))
        bad = sum([rec for _, rec in sorted(got.get(url, []))]
                  != parse_one_page(cfg, url, html.decode("utf-8"))[0]
                  for url, _, html in sample)
        return ("extract.records_match_sequential", bad == 0,
                f"pages={len(sample)} mismatched={bad}")
