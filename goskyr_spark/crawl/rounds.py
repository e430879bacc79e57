"""Checkpointed crawl rounds (the north_rule core).

Each round is ONE DataFrame job pipeline over warehouse tables:

    frontier ─ robots/scheme admission ─ bloom+exact anti-join vs seen
             ─ salted per-host budgeted top-k (politeness)
             ─ "fetch" (join against the pages table — the sandbox stand-in
                for the HTTP fetch stage; at production the same join keys
                a mapInPandas fetch per host partition)
             ─ parse_pages UDF (records + paginator/detail/link outlinks)
             ─ MERGE: records out, seen += selected, blooms |= selected,
               next frontier = budget-overflow carryover ∪ admitted new URLs

State layout (parquet snapshots; on a production cluster these are
Iceberg tables and each round is one Iceberg snapshot — the layout keeps
that discipline: append-only deltas + a manifest as the atomic commit):

    {warehouse}/frontier/round=N/   pending URLs entering round N
    {warehouse}/selected/round=N/   visit log (host, visit_rank) — ordering;
                                    doubles as the exact seen-set delta
    {warehouse}/records/round=N/    extracted records (goskyr Records)
    {warehouse}/blooms/round=N/     bloom bitsets after round N
    {warehouse}/metrics/metrics.jsonl  per-round per-stage metrics (driver-side)
    {warehouse}/manifest/round=N.json  commit marker (written LAST); embeds
                                    per-partition lineage from parquet footers

Per-round cost discipline: four Spark jobs total (selected, records,
blooms, next-frontier writes); all counts ride on those writes via
``Observation``; per-partition lineage is parquet-footer metadata
(``observability.parquet_lineage``) — see ``run_round`` docstring.

A killed job resumes from the last round whose manifest exists —
``CrawlRun.resume_round()`` — without re-fetching anything
(north_rule: "resumable from checkpoint with per-partition lineage +
metrics"). The reference gets resume implicitly from its page cache
(``/root/reference/docs/design/design_overview.md:1310-1315``); here it
is explicit and distributed.

goskyr visit-order equivalence: priorities are classed so that a
single-host, budget-limited crawl visits pages in exactly the order of
goskyr's sequential loop — pagination chain first in order
(``/root/reference/scrape/scrape.go:647-674``), then detail pages in
record order (``scrape/scrape.go:2327-2403``); verified in
tests/test_crawl_rounds.py against an instrumented reference-parity
sequential scrape."""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..extract.urlutil import frontier_triple
from ..observability import LINEAGE_SCHEMA, MetricsLog, Tracer, parquet_lineage
from ..spark import schemas
from ..spark.extract_udf import explode_records, parse_pages
from .bloom import BLOOMS_SCHEMA, BloomSpec, merge_blooms, split_by_bloom
from .politeness import carryover, select_under_budget
from .robots import admit_robots, host_budgets

# priority classes: pagination continues the seed's BFS chain; detail pages
# follow all list pages of their host (goskyr's order); generic links last;
# sitemap-discovered URLs (the passive discovery channel) after everything
# actively linked, freshest lastmod first within the class.
DETAIL_BASE = 1_000_000.0
LINK_BASE = 2_000_000.0
SITEMAP_BASE = 3_000_000.0

FRONTIER_B = T.StructType(
    list(schemas.FRONTIER.fields) + [T.StructField("bucket", T.IntegerType(), True)]
)

# Cross-window canonicalization memo bound (~300 B/entry -> <=150 MB per
# task at the cap) and the pandas re-batch window size; both
# overridable for tests exercising the overflow / multi-window paths.
_MEMO_MAX = 500_000
_WINDOW_ROWS = 131_072

_SKIP_EXT = (
    ".avif", ".gif", ".jfif", ".jpeg", ".jpg", ".mp3", ".mp4",
    ".pdf", ".png", ".webp", ".zip", ".css", ".js", ".ico", ".svg",
)


def to_frontier(urls: DataFrame, spec: BloomSpec, priority_col="priority",
                depth_col="depth", round_id: int = 0, dedup: bool = True) -> DataFrame:
    """urls(url, priority, depth) -> FRONTIER rows: canonicalize, hash,
    host/domain keys, per-URL dedup keeping the best (lowest) priority.
    ``dedup=False`` defers the dedup shuffle so the caller can fuse it
    with a downstream union (one shuffle instead of two).

    ONE mapInPandas pass does canonicalize + host + domain (three
    chained scalar pandas UDFs cost three Arrow round trips), with a
    MAP-SIDE COMBINE (duplicate raw (url, priority) rows collapse before
    any python string work) and per-unique-URL memoization of
    ``urlutil.frontier_triple`` -- whose regex fast path for the common
    URL shape costs ~1/4 of the old urlsplit pipeline. This was measured
    against two plan-level alternatives (a filter-branch Catalyst
    fast path, and a null-input scalar Arrow UDF fixup): both lose --
    the branch split evaluates the upstream frontier-expansion join
    twice, and any extra ArrowEvalPython node breaks whole-stage codegen
    for the entire row stream, costing more than the python it saves.
    Cheapening the python inside the single existing pass is the form
    that wins on both absolute throughput and core-count scaling."""
    src = urls.select(
        F.col("url"),
        F.col(priority_col).cast("double").alias("priority"),
        F.col(depth_col).cast("int").alias("depth"),
    )

    def _emit(pdf, memo):
        # Hash-based map-side combine only -- no sort (sorting url
        # strings costs more python than it saves). Identical
        # (url, priority) pairs are the dominant duplication (a host's
        # nav links repeat on every page at the same priority class);
        # the global dedup shuffle still picks the best row per
        # canonical url.
        pdf = pdf.drop_duplicates(["url", "priority"])
        # ``memo`` outlives this 128k-row window (held by ``gen`` for
        # the whole task): nav/archive links recur across windows of the
        # same partition, so the ~5 µs/URL ``frontier_triple`` cost is
        # paid once per task-unique URL, not once per window-unique. The
        # size bound caps worker memory (~300 B/entry → ≲150 MB/task);
        # a full reset on overflow keeps the common case branch-free.
        uniq = pd.unique(pdf["url"])
        # overflow check BEFORE computing misses: clearing after would
        # drop already-memoized URLs the current window still references
        # (KeyError in the lookup below). len(uniq) overestimates the
        # additions (hits included) -- safe direction.
        if len(memo) + len(uniq) > _MEMO_MAX:
            memo.clear()
        miss = [u for u in uniq if u not in memo]
        for u in miss:
            memo[u] = frontier_triple(u)
        # plain dict lookups — Series.map(dict) materializes the WHOLE
        # memo as a Series per call (O(|memo|), not O(|window|))
        triples = [memo[u] for u in pdf["url"].tolist()]
        return pd.DataFrame(
            {
                "url": [t[0] for t in triples],
                "host": [t[1] for t in triples],
                "domain": [t[2] for t in triples],
                "priority": pdf["priority"].to_numpy(),
                "depth": pdf["depth"].to_numpy(),
            }
        )

    def gen(batches):
        # The session's Arrow batch size is tuned for HEAVY page rows
        # (2048/batch); frontier rows are ~70 bytes, so honoring it here
        # would mean ~1500 pandas calls per 3M-URL round -- per-batch
        # overhead swamps the work. Re-batch the iterator to ~128k rows
        # before touching pandas (also makes the map-side dedup see a
        # partition-sized window instead of a 2048-row one).
        buf, n, memo = [], 0, {}
        for pdf in batches:
            if not len(pdf):
                continue
            buf.append(pdf)
            n += len(pdf)
            if n >= _WINDOW_ROWS:
                yield _emit(pd.concat(buf, ignore_index=True), memo)
                buf, n = [], 0
        if buf:
            yield _emit(pd.concat(buf, ignore_index=True), memo)

    df = (
        src.mapInPandas(gen, schema="url string, host string, domain string, "
                                    "priority double, depth int")
        .withColumn("url_hash", F.xxhash64("url"))
        .withColumn("round_added", F.lit(round_id).cast("int"))
        .select(*[f.name for f in schemas.FRONTIER.fields])
    )
    if not dedup:
        return df
    return dedup_frontier(df)


def dedup_frontier(df: DataFrame) -> DataFrame:
    """Per-URL dedup keeping the best (lowest) (priority, url).

    Grouped on (url_hash, url), NOT url_hash alone: at 10¹⁰ URLs the
    expected number of 64-bit collisions is ~n²/2⁶⁵ ≈ 2-3, and a
    hash-only group would silently merge two distinct URLs (one never
    crawled). The hash stays first in the key so the shuffle
    partitioning is still driven by the cheap 8-byte prefix; the url
    only breaks collision ties."""
    return df.groupBy("url_hash", "url").agg(
        F.min_by(F.struct(*df.columns), F.struct("priority", "url")).alias("s")
    ).select("s.*")


def expand_outlinks(par: DataFrame, follow_links: bool) -> DataFrame:
    """Parsed pages joined with their parent row (pprio, depth) → new
    URLs (url, priority, depth) from ONE posexplode over
    ``concat([next_url], detail_urls[, link_urls])``. The position picks
    the priority class: 0 is the pagination link (pprio + 1), 1..|detail|
    the detail pages in record order (DETAIL_BASE + pprio·1000 + i − 1),
    the rest generic links (LINK_BASE + depth + 1). Null arrays count as
    empty; null URLs are dropped (canonicalization cannot take them).

    One generator keeps ``to_frontier``'s mapInPandas on a single child
    — over a three-way union it ran one Python task per branch
    partition, three times the tasks for the same rows."""
    empty = F.array().cast("array<string>")
    details = F.coalesce(F.col("detail_urls"), empty)
    arrays = [F.array("next_url"), details]
    if follow_links:
        arrays.append(F.coalesce(F.col("link_urls"), empty))
    pos, url = F.col("pos"), F.col("url")
    return (
        par.select(
            F.posexplode_outer(F.concat(*arrays)).alias("pos", "url"),
            F.size(details).alias("n_detail"), "pprio", "depth",
        )
        .filter(url.isNotNull())
        .select(
            url,
            F.when(pos == 0, F.col("pprio") + F.lit(1.0))
            .when(pos <= F.col("n_detail"),
                  F.lit(DETAIL_BASE) + F.col("pprio") * 1000 + (pos - 1))
            .otherwise(F.lit(LINK_BASE) + F.col("depth") + 1)
            .alias("priority"),
            (F.col("depth") + 1).alias("depth"),
        )
    )


def admission_filter(frontier: DataFrame) -> DataFrame:
    """Scheme whitelist + media-extension blacklist
    (``/root/reference/scrape/scrape.go:2308-2323``) — pure Catalyst
    expressions so the filter pushes into the scan.

    try_parse_url (NOT parse_url): under Spark 4 ANSI mode parse_url
    throws INVALID_URL on any malformed frontier URL — one bad href on
    any crawled page would kill the whole round job. A null path (we
    could not parse the URL) counts as extension-pass; such URLs then
    simply miss in the fetch join.

    The extension match is case-insensitive through the regex's ``(?i)``
    flag, NOT ``lower(path)``: Catalyst's ``lower`` maps case through
    ICU4J (``spark.sql.icu.caseMappings.enabled``, on by default), whose
    first use in a JVM costs ~2 s (0.1-0.2 s warm) — and the crawl's
    first round is that first use. Java's ``(?i)`` folds ASCII letters
    only, which gives the same answer here: every listed extension is
    ASCII, and the only non-ASCII code points whose lowercase contains an
    ASCII letter (U+0130 → "i̇", U+212A → "k") cannot complete one."""
    path = F.try_parse_url(F.col("url"), F.lit("PATH"))
    ext_ok = path.isNull() | ~path.rlike(
        "(?i)\\.(" + "|".join(e[1:] for e in _SKIP_EXT) + ")$")
    scheme_ok = F.col("url").startswith("http://") | F.col("url").startswith("https://")
    return frontier.filter(scheme_ok & ext_ok)


def round_shuffle_partitions(n_frontier: int, session: int) -> int:
    """Shuffle partitions for a small round (below ``aqe_min_frontier``):
    one per 2000 frontier URLs, at least 8 so the parse stage stays
    parallel, and never more than the session's own count — a tail round
    at the full count pays per-task scheduling for mostly-empty
    partitions across the ~10 stages of the fused job (measured 6-9 s
    per job for 100-URL rounds at 32 partitions), and a floor above the
    session count (8 on a 4-core session) runs every stage in two waves
    over a few hundred rows. Plan-time only: results do not depend on
    the partition count (gated by the visit-order equivalence tests)."""
    return min(session, max(8, (n_frontier + 1999) // 2000))


class CrawlRun:
    """Driver for a checkpointed multi-round crawl over a pages table."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        pages: DataFrame,
        config_yaml: str,
        robots: DataFrame | None = None,
        bloom_spec: BloomSpec | None = None,
        default_budget: int = 32,
        round_seconds: float = 60.0,
        n_salts: int = 8,
        follow_links: bool = False,
        user_agent: str = "goskyr",
        bloom_min_seen: int = 0,
        transport=None,
        salt_min_frontier: int = 50_000,
        aqe_min_frontier: int = 500_000,
    ):
        self.spark = spark
        self.warehouse = warehouse
        self.pages = pages
        self.config_yaml = config_yaml
        self.robots = robots
        self.spec = bloom_spec or BloomSpec()
        self.default_budget = default_budget
        self.n_salts = n_salts
        self.follow_links = follow_links
        self.user_agent = user_agent
        # Engage the bloom pre-filter only once the seen set is at least
        # this large: below it, the exact anti-join alone is cheaper than
        # maintaining bitsets (at 10^10 URLs the bloom is mandatory; at
        # sandbox scale it is pure overhead). 0 = always on.
        self.bloom_min_seen = bloom_min_seen
        self.transport = transport
        # Below this frontier size the salted politeness phase is skipped
        # (output identical; see politeness.select_under_budget) — even a
        # worst-case single-host window over the whole frontier is a
        # trivial task, and the extra window costs a whole shuffle.
        self.salt_min_frontier = salt_min_frontier
        # Below this frontier size AQE is disabled for the round's jobs
        # (driver-side re-planning latency with no skew to handle); at
        # or above it AQE stays on — skew-join handling is load-bearing
        # at production round sizes. See run_round docstring.
        self.aqe_min_frontier = aqe_min_frontier
        self._cum_seen = 0
        # round-pipelining state: deferred finalize (sink flushes +
        # manifest commit) of the previous round, its in-flight bloom
        # write, the cached selected DataFrames whose parquet flush has
        # not landed yet (keyed by round — the seen-set reads these
        # instead of a mid-write dir), and the next round's frontier
        # count (driver-side)
        self._pending = None
        self._bloom_fut = None
        self._inflight_selected: dict[int, DataFrame] = {}
        # caches of the running round until its finalize takes them over
        self._round_caches: list[DataFrame] = []
        self._next_hint: tuple[int, int] | None = None
        self.metrics_log = MetricsLog(warehouse)
        # plan only: cached by the first round that reads it
        # (_round_budgets), released when run() returns
        self.budgets = (
            host_budgets(robots, user_agent, round_seconds, default_budget)
            if robots is not None
            else None
        )

    # ---- paths ----
    def _p(self, table: str, rnd: int) -> str:
        return os.path.join(self.warehouse, table, f"round={rnd}")

    def _manifest(self, rnd: int) -> str:
        return os.path.join(self.warehouse, "manifest", f"round={rnd}.json")

    def _has_seen(self, upto: int) -> bool:
        """True if any round ≤ upto produced a selected delta — written
        parquet OR still in flight as a cached DataFrame while its sink
        flush runs (driver-side checks only, no job)."""
        return any(
            r in self._inflight_selected or os.path.exists(self._p("selected", r))
            for r in range(upto + 1)
        )

    def resume_round(self) -> int:
        """First round that has NOT committed (manifest = atomic marker)."""
        rnd = 0
        while os.path.exists(self._manifest(rnd)):
            rnd += 1
        return rnd

    # ---- state io ----
    def _read(self, table: str, rnd: int, schema) -> DataFrame:
        p = self._p(table, rnd)
        if os.path.exists(p):
            return self.spark.read.schema(schema).parquet(p)
        return self.spark.createDataFrame([], schema)

    def _seen_all(self, upto: int) -> DataFrame:
        """Seen set = union of per-round visit logs (the ``selected``
        deltas double as the seen table — no separate write), minus any
        re-crawl requeues. The requeue subtraction happens on the EXACT
        side, so it composes with the bloom pre-filter (blooms cannot
        delete — a requeued URL is bloom-positive but survives the exact
        verification)."""
        # Rounds whose selected flush is still in flight (pipelined
        # sinks) contribute their CACHED DataFrame — never the parquet
        # dir, which may exist mid-write. The cache is materialized (the
        # round's fused job ran before any flush was submitted), so this
        # union costs a cache scan, not a recompute.
        inflight = [df for r, df in self._inflight_selected.items() if r <= upto]
        paths = [
            self._p("selected", r)
            for r in range(upto + 1)
            if r not in self._inflight_selected
            and os.path.exists(self._p("selected", r))
        ]
        if not paths and not inflight:
            return self.spark.createDataFrame([], schemas.SEEN)

        # url is carried alongside url_hash: every EXACT seen-check joins
        # on (url_hash, url) so a 64-bit collision (expected ~2-3 at the
        # north-rule's 10^10 URLs) can never silently mark an uncrawled
        # URL as seen. The bloom side stays hash-only (probabilistic
        # pre-filter; false positives are verified here anyway).
        def as_seen(df: DataFrame) -> DataFrame:
            return df.select(
                "url",
                "url_hash",
                self.spec.bucket_col(F.col("url_hash")).alias("bucket"),
                F.col("round_id").alias("round_added"),
            )

        # a fixed schema: inferring one launches a one-task job per read
        visits = self.spark.read.schema("url string, url_hash long, round_id int")
        parts = [as_seen(visits.parquet(*paths))] if paths else []
        parts += [as_seen(df) for df in inflight]
        seen = parts[0]
        for p in parts[1:]:
            seen = seen.unionByName(p)
        rq = os.path.join(self.warehouse, "requeued")
        if os.path.exists(rq):
            # forgive only visits made BEFORE the requeue — the re-fetch
            # itself (round_added >= requeue_round) counts as seen again.
            # Keyed on (url_hash, url) like every other exact seen join:
            # hash-only would forgive (re-crawl) an unrelated URL on a
            # 64-bit collision with a requeued one.
            requeued = (
                self.spark.read.schema("url string, url_hash long, requeue_round int")
                .parquet(rq)
                .groupBy("url_hash", "url")
                .agg(F.max("requeue_round").alias("requeue_round"))
            )
            seen = (
                seen.join(requeued, on=["url_hash", "url"], how="left")
                .filter(
                    F.col("requeue_round").isNull()
                    | (F.col("round_added") >= F.col("requeue_round"))
                )
                .drop("requeue_round")
            )
        return seen

    def requeue(self, urls: list[str]) -> None:
        """Re-crawl semantics: drop the given URLs from the seen set and
        put them back on the next round's frontier (highest priority).
        Call between rounds; the next ``run()`` fetches them again."""
        self._drain_pending()
        self._next_hint = None  # appended frontier rows invalidate the count
        rnd = self.resume_round()
        rows = [(u, -1.0 - i, 0) for i, u in enumerate(urls)]
        add = to_frontier(
            self.spark.createDataFrame(rows, "url string, priority double, depth int"),
            self.spec, round_id=rnd,
        ).withColumn("bucket", self.spec.bucket_col(F.col("url_hash")))
        add.select(
            "url", "url_hash", F.lit(rnd).cast("int").alias("requeue_round")
        ).write.mode("append").parquet(os.path.join(self.warehouse, "requeued"))
        add.write.mode("append").parquet(self._p("frontier", rnd))

    def init(self, seed_urls: list[str],
             sitemap_seeds: DataFrame | None = None) -> None:
        """Round-0 frontier from the seed list; seeds get priorities
        0..n-1 in list order (goskyr takes seeds in order).

        ``sitemap_seeds`` — a ``sitemaps.sitemap_frontier`` result
        (url, lastmod, host) — unions the standard passive discovery
        channel into round 0: every sitemap URL enters at the SITEMAP
        priority class (after everything actively linked), ranked
        freshest-``lastmod`` first within the class (priority =
        SITEMAP_BASE − epoch-day(lastmod); missing lastmod ⇒ worst).
        A URL that is both a seed and a sitemap entry keeps the seed
        priority (to_frontier dedups to the minimum); admission and
        robots filtering apply at round time exactly as for scraped
        URLs. At 10^8 hosts the union is plan-only — the sitemap side
        arrives host-partitioned from its own parse join."""
        rows = [(u, float(i), 0) for i, u in enumerate(seed_urls)]
        seeds = self.spark.createDataFrame(rows, "url string, priority double, depth int")
        if sitemap_seeds is not None:
            sm = sitemap_seeds.select(
                "url",
                (
                    F.lit(SITEMAP_BASE)
                    # try_to_date: lastmod is optional/free-form in the
                    # protocol — unparseable ⇒ NULL ⇒ worst-in-class
                    # (never an ANSI cast error inside the job)
                    - F.coalesce(
                        F.datediff(
                            F.try_to_date("lastmod"), F.to_date(F.lit("1970-01-01"))
                        ),
                        F.lit(0),
                    ).cast("double")
                ).alias("priority"),
                F.lit(0).alias("depth"),
            )
            seeds = seeds.unionByName(sm)
        obs = Observation()
        frontier = to_frontier(seeds, self.spec, round_id=0).withColumn(
            "bucket", self.spec.bucket_col(F.col("url_hash"))
        ).observe(obs, F.count(F.lit(1)).alias("n"))
        frontier.write.mode("overwrite").parquet(self._p("frontier", 0))
        # round 0's frontier size rides on the write: run_round(0) needs
        # no count job
        self._next_hint = (0, int(obs.get["n"]))
        os.makedirs(os.path.join(self.warehouse, "manifest"), exist_ok=True)

    def _frontier_count_hint(self, rnd: int) -> int | None:
        """The previous round's ``next_frontier`` count IS this round's
        frontier size — no job needed. In-memory first (the manifest may
        still be uncommitted while the previous round's sinks flush),
        then the committed manifest. Stale only if a requeue appended
        rows after the commit (then recount). Round 0's size is the one
        ``init`` observed on its frontier write; without it (a round 0
        resumed by a fresh driver) the caller counts."""
        if self._next_hint is not None and self._next_hint[0] == rnd:
            return self._next_hint[1]
        if rnd == 0:
            return None
        if os.path.exists(os.path.join(self.warehouse, "requeued")):
            return None
        m = self._manifest(rnd - 1)
        if not os.path.exists(m):
            return None
        try:
            with open(m) as fh:
                return json.load(fh)["stats"].get("next_frontier")
        except (OSError, KeyError, ValueError):
            return None

    def run_round(self, rnd: int, _defer: bool = False) -> dict:
        """One crawl round = ONE Spark job on the critical path (the
        fused schedule + fetch + parse + next-frontier write, which
        also materializes the selected/parsed caches) plus THREE
        asynchronous sink flushes (selected, records, bloom merge) that
        nothing on the next round's critical path reads from disk: the
        seen-set unions the still-cached selected DataFrame via
        ``_inflight_selected`` until its flush lands, and the bloom
        read waits explicitly. With ``_defer=True`` (how ``run()``
        drives rounds) the sink flushes and the manifest commit overlap
        the NEXT round's critical path — the commit still happens
        strictly before the next round's commit, and strictly after
        every write of its own round, so crash-resume semantics are
        unchanged (a crash mid-flush loses only uncommitted rounds,
        which re-run). Every row count rides on the job via
        ``Observation`` — the round-1 engine ran 5-6 additional
        count/counter jobs per round, which dominated wall-clock at
        small rounds. Per-partition lineage comes from the written
        parquet footers (driver-side metadata read, no job).

        Small rounds additionally disable AQE for the round's jobs
        (``aqe_min_frontier``, same adaptive philosophy as the salting
        and bloom thresholds): AQE's runtime re-planning is pure
        driver-side latency when every stage is tiny — measured ~1.7 s
        per round at 8 cores on the 600-host corpus — while its skew
        handling only matters at production round sizes, where the
        threshold leaves it on. Physical-plan-only: results identical
        either way (tests/test_crawl_rounds.py::test_aqe_toggle_equivalence).

        Cost model: at sandbox and tail-round sizes a round costs what
        its PYTHON TASKS cost, not what its rows cost. PySpark calls
        ``importlib.invalidate_caches()`` before every Python task, which
        made each task re-read the directories of pyspark.zip, the py4j
        zip and the spark-core jar (0.20-0.24 s of a ~0.3-0.4 s per-task
        cost on a 4-vCPU host). The session's Python daemon
        (``spark/pydaemon.py``) re-reads an archive only when its stat
        stamp changes: that call now takes 2-3 ms, a steady-state task
        ~65 ms run serially (was ~0.25 s), and a 16-partition identity
        mapInPandas on 4 slots 0.6-0.8 s (was 1.3-1.7 s; the same stage
        without Python 0.2 s). A freshly forked worker's first task
        still pays ~0.4 s for importing pandas and pyarrow. Python tasks
        remain the fixed cost, so every Python operator runs ONCE per
        round. The robots ``allowed`` UDF and the bloom
        ``split_by_bloom`` cogroup run inside one cached admission
        relation that the selected set, the carryover and the maybe-seen
        exact anti-join all read; ``host_budgets`` is cached once per
        ``run()``; outlinks reach ``to_frontier`` through one generator,
        not a union; and no critical job builds a bloom — the bitset a
        round reads was written by the previous round's async bloom
        flush (the first one from seen ∪ selected). The other fixed cost
        is a JVM's first use of an expression backed by a heavy library:
        Catalyst's ``lower``/``upper``/``initcap`` map case through ICU4J,
        which costs ~2 s the first time an executor JVM uses it (measured
        1.9-2.6 s cold vs 0.1-0.2 s warm on 4 vCPUs; under a Python
        operator the event log books it as Python run time), so no round
        job uses them — ``admission_filter`` matches its extensions with
        ``(?i)``. Round 0 runs no count job either: its frontier size is
        an ``Observation`` on ``init``'s frontier write.

        Every job carries the job group and description
        ``round=N/<name>``: ``critical`` on the driver thread,
        ``selected_flush``/``records_flush``/``bloom_merge`` on the
        flush threads (thread-local properties; no job, no conf)."""
        t0 = time.time()
        with self._job_tag(rnd, "critical"):
            return self._run_round(rnd, t0, _defer)

    def _run_round(self, rnd: int, t0: float, defer: bool) -> dict:
        spark = self.spark
        frontier = self._read("frontier", rnd, FRONTIER_B)
        n_frontier = self._frontier_count_hint(rnd)
        if n_frontier is None:
            n_frontier = frontier.count()
        if n_frontier == 0:
            # commit ordering: land the previous round's deferred
            # manifest before this empty round's
            self._drain_pending()
            stats = {"round": rnd, "frontier": 0, "selected": 0, "records": 0, "done": True,
                     "wall_s": time.time() - t0}
            self._commit(rnd, stats, [])
            return stats
        aqe_prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
        shp_prev = spark.conf.get("spark.sql.shuffle.partitions", "32")
        self._conf_prev = (aqe_prev, shp_prev)
        if n_frontier <= self.aqe_min_frontier:
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            spark.conf.set("spark.sql.shuffle.partitions",
                           str(round_shuffle_partitions(n_frontier, int(shp_prev))))
        try:
            return self._round_body(rnd, t0, frontier, n_frontier, defer=defer)
        except BaseException:
            self._abort_round(rnd)
            raise
        finally:
            self._restore_conf()  # idempotent -- body restores after its job

    def _abort_round(self, rnd: int) -> None:
        """A failed round commits nothing: release the caches it made
        (dependents first) and its in-flight seen delta, and land the
        previous round's deferred commit so a retry resumes here."""
        self._inflight_selected.pop(rnd, None)
        while self._round_caches:
            self._round_caches.pop().unpersist()
        self._drain_pending()

    @contextmanager
    def _job_tag(self, rnd: int, name: str):
        """Job group + description ``round=N/name`` on every job the
        calling thread submits inside the block; the thread's previous
        values come back afterwards."""
        sc = self.spark.sparkContext
        keys = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
        prev = [sc.getLocalProperty(k) for k in keys]
        tag = f"round={rnd}/{name}"
        sc.setJobGroup(tag, tag)
        try:
            yield
        finally:
            for k, v in zip(keys, prev):
                sc.setLocalProperty(k, v)

    def _round_budgets(self) -> DataFrame | None:
        """``host_budgets`` cached on first use: its pandas UDF runs in
        the first round's budget broadcast; later rounds broadcast the
        cached rows."""
        if self.budgets is not None and not self.budgets.is_cached:
            self.budgets.cache()
        return self.budgets

    def _restore_conf(self) -> None:
        """Restore the session conf captured by run_round. Called by
        _round_body IMMEDIATELY after the critical job (before the sink
        flushes are submitted) so the async flush threads -- which plan
        their writes whenever the pool schedules them -- always plan
        under the session defaults, never under whatever round happens
        to be overriding the conf at that moment; and again by
        run_round's finally as the error-path safety net."""
        prev = getattr(self, "_conf_prev", None)
        if prev is not None:
            self.spark.conf.set("spark.sql.adaptive.enabled", prev[0])
            self.spark.conf.set("spark.sql.shuffle.partitions", prev[1])
            self._conf_prev = None

    def _round_body(self, rnd: int, t0: float, frontier: DataFrame,
                    n_frontier: int, defer: bool = False) -> dict:
        spark, spec = self.spark, self.spec
        tracer = Tracer(self.metrics_log, rnd)
        round_span = tracer.span("round")
        round_sid = round_span.__enter__()

        admitted = admission_filter(frontier)
        if self.robots is not None:
            admitted = admit_robots(admitted, self.robots, self.user_agent)

        has_seen = self._has_seen(rnd - 1)
        seen = self._seen_all(rnd - 1) if has_seen else None
        blooms = None
        if has_seen and self._cum_seen >= self.bloom_min_seen:
            # the previous round's bloom flush runs asynchronously —
            # wait for it before READING the blooms table (the only
            # cross-round dependency the pipelined sinks introduce).
            # No bitset yet (the bloom engages this round, or a resumed
            # warehouse lacks it): exact check only, and this round's
            # flush writes the first bitset.
            with tracer.span("bloom_wait"):
                self._wait_bloom_flush()
            if os.path.exists(self._p("blooms", rnd - 1)):
                blooms = spark.read.schema(BLOOMS_SCHEMA).parquet(self._p("blooms", rnd - 1))

        # ADMISSION CACHE: robots-admitted candidates tagged maybe_seen
        # (bloom-positive; without a bitset, every row once a seen set
        # exists). The selected set, the carryover and the exact
        # anti-join all read it, so the robots UDF and the bloom cogroup
        # run once per round; released right after the critical job.
        if blooms is not None:
            cand = split_by_bloom(admitted, blooms, spec)
        else:
            cand = admitted.withColumn("maybe_seen", F.lit(has_seen))
        self._round_caches = [cand.cache()]
        unseen = cand.filter(~F.col("maybe_seen")).drop("maybe_seen")
        if has_seen:
            # seen grows without bound — it must NEVER be a driver
            # broadcast (at 10^10 URLs it is terabytes; in the sandbox a
            # few hundred k rows already OOMed an 8g driver when Catalyst
            # picked broadcast from parquet size stats). shuffle_hash
            # pins a shuffled hash join: co-partitioned, no sort, no
            # driver materialization.
            verified = cand.filter(F.col("maybe_seen")).drop("maybe_seen").join(
                seen.select("url_hash", "url").hint("shuffle_hash"),
                ["url_hash", "url"],
                "left_anti",
            )
            unseen = unseen.unionByName(verified)

        obs_sel = Observation()
        selected = (
            select_under_budget(
                unseen, self._round_budgets(), self.default_budget, self.n_salts,
                salted=n_frontier > self.salt_min_frontier,
            )
            .withColumn("round_id", F.lit(rnd).cast("int"))
            .observe(obs_sel, F.count(F.lit(1)).alias("n"))
        )
        self._round_caches.append(selected.cache())
        # The selected write is a PURE SINK too: the parse below reads
        # the cache, and the next round's seen-set reads the cached
        # DataFrame via _inflight_selected until the flush lands. It is
        # submitted (async) only AFTER the fused job has materialized
        # the cache — so the flush is plain IO and never races the job
        # for cache computation. Critical path per round = ONE job.
        self._inflight_selected[rnd] = selected

        carry = carryover(unseen, selected)

        # "fetch": resolve selected URLs against the pages store (or the
        # injected transport — see crawl/fetch.py)
        fetched = self._fetch(selected)
        got = fetched.filter(F.col("html").isNotNull())
        parsed = parse_pages(got, self.config_yaml)
        self._round_caches.append(parsed.cache())

        # FRONTIER EXPANSION is the round's ONE synchronous job: it
        # materializes the selected and parsed caches (schedule + fetch
        # + parse run inside it) and writes the single output the next
        # round depends on. The selected, records, and bloom writes are
        # pure sinks — they flush asynchronously below, off the
        # critical path.
        meta = selected.select(
            F.col("url").alias("parent_url"), F.col("priority").alias("pprio"), "depth"
        )
        # parsed and meta are both round-sized (~10^8 at scale): shuffle
        # hash, not broadcast
        par = parsed.join(meta.hint("shuffle_hash"), parsed["url"] == meta["parent_url"], "inner")

        # new URLs: canonicalize WITHOUT the intermediate dedup shuffle —
        # the dedup below over (carry ∪ new) subsumes it (carry rows are
        # unseen-by-construction, so the seen/selected anti-join applied
        # to the whole union is a no-op on them)
        new_frontier = to_frontier(
            expand_outlinks(par, self.follow_links), spec, round_id=rnd + 1, dedup=False
        ).withColumn("bucket", spec.bucket_col(F.col("url_hash")))
        new_frontier = admission_filter(new_frontier)
        # exclude contains the whole seen set — same no-broadcast rule
        exclude = selected.select("url_hash", "url")
        if has_seen:
            exclude = seen.select("url_hash", "url").unionByName(exclude)
        obs_next = Observation()
        next_frontier = (
            dedup_frontier(carry.select(*new_frontier.columns).unionByName(new_frontier))
            .join(exclude.hint("shuffle_hash"), on=["url_hash", "url"], how="left_anti")
            .observe(obs_next, F.count(F.lit(1)).alias("n"))
        )
        t_pf0 = time.time()
        with tracer.span("parse_frontier"):
            next_frontier.write.mode("overwrite").parquet(self._p("frontier", rnd + 1))
        # selected and parsed hold everything the admission cache fed
        cand.unpersist()
        self._round_caches = [selected, parsed]
        n_next = int(obs_next.get["n"])
        n_selected = int(obs_sel.get["n"])  # observed by the fused job
        t_parse_frontier = time.time() - t_pf0
        # the critical job -- the only consumer of the small-round conf
        # overrides -- is done; restore BEFORE submitting the flush
        # threads so their plans never depend on round interleaving
        self._restore_conf()

        stats = {
            "round": rnd,
            "frontier": n_frontier,
            "selected": n_selected,
            "records": None,  # filled by finalize (async flush)
            "next_frontier": n_next,
            "done": n_next == 0 and n_selected == 0,
            "wall_s": time.time() - t0,
            "t_round_job": round(t_parse_frontier, 2),
        }
        self._cum_seen += n_selected
        # next round's frontier count, driver-side (no job, no manifest
        # read — the manifest may still be uncommitted while pipelined)
        self._next_hint = (rnd + 1, n_next)
        # the round span covers the CRITICAL PATH; the flush spans are
        # parented to it and may outlive it (normal tracing semantics)
        round_span.__exit__(None, None, None)
        # commit ordering: the PREVIOUS round's deferred finalize (if
        # any) must land its manifest before this round's does. Its
        # flushes had this whole round to complete, so this is ~instant.
        # Draining before this round's flushes also leaves every earlier
        # visit log durable parquet for a first bitset's seen side —
        # never a cache finalize has just released.
        self._drain_pending()

        # SINK FLUSHES: selected + records + blooms read only the caches
        # the fused job just filled; nothing in round N+1's critical
        # path reads them (the seen-set reads the cached selected via
        # _inflight_selected; the bloom read waits explicitly, see
        # _wait_bloom_flush). They run in helper threads (Spark sessions
        # support concurrent actions) and the manifest commit — which
        # must stay LAST for crash consistency — is deferred into
        # ``finalize``, which a pipelined caller runs while the next
        # round is underway.
        pool = ThreadPoolExecutor(3)

        def flush(name: str, df: DataFrame, table: str):
            def write():
                with tracer.span(name, parent=round_sid), self._job_tag(rnd, name):
                    df.write.mode("overwrite").parquet(self._p(table, rnd))

            return pool.submit(write)

        futs = []
        # The bitset is written by the round whose successor reads it (a
        # non-empty next frontier at or past bloom_min_seen), so no
        # critical job ever builds one; submitted first because the next
        # round waits for it. Incremental from this round's bitset; when
        # the bloom first engages, built from seen ∪ selected.
        if n_next and self._cum_seen >= self.bloom_min_seen:
            delta = selected.select(
                "url_hash", spec.bucket_col(F.col("url_hash")).alias("bucket")
            )
            if blooms is None:
                blooms = spark.createDataFrame([], BLOOMS_SCHEMA)
                if has_seen:
                    delta = self._seen_all(rnd - 1).select(*delta.columns).unionByName(delta)
            self._bloom_fut = flush("bloom_merge", merge_blooms(blooms, delta, spec), "blooms")
            futs.append(self._bloom_fut)
        obs_rec = Observation()
        records = explode_records(parsed, rnd).observe(
            obs_rec, F.count(F.lit(1)).alias("n")
        )
        futs += [
            flush("selected_flush",
                  selected.drop("bucket").withColumn("part_id", F.spark_partition_id()),
                  "selected"),
            flush("records_flush",
                  records.withColumn("part_id", F.spark_partition_id()), "records"),
        ]

        def finalize():
            for f in futs:
                f.result()
            pool.shutdown(wait=False)
            # NOTE: self._bloom_fut is NOT cleared here — finalize(N-1)
            # runs after round N already submitted ITS flush into the
            # same slot; clearing would skip round N+1's wait (a done
            # future's .result() is free, stale handles are harmless)
            stats["records"] = int(obs_rec.get["n"])
            lineage = {
                stage: parquet_lineage(self._p(stage, r))
                for stage, r in (("selected", rnd), ("records", rnd), ("frontier", rnd + 1))
            }
            for stage, files in lineage.items():
                self.metrics_log.emit_stage(
                    rnd, stage,
                    n_rows=sum(f["rows"] for f in files),
                    n_bytes=sum(f["bytes"] for f in files),
                )
            self.metrics_log.emit_stage(rnd, "round_job", duration_s=t_parse_frontier)
            self.metrics_log.emit_stage(rnd, "round", duration_s=stats["wall_s"])
            self._commit(rnd, stats, ["frontier", "selected", "records", "blooms"], lineage)
            # the selected parquet is durable now — the next seen-set
            # read can use the files instead of the cache
            self._inflight_selected.pop(rnd, None)
            for df in (selected, parsed):
                df.unpersist()

        self._round_caches = []  # finalize owns selected and parsed now
        if defer:
            self._pending = finalize
            return stats
        finalize()
        return stats

    def _drain_pending(self) -> None:
        fin, self._pending = self._pending, None
        if fin is not None:
            fin()

    def _wait_bloom_flush(self) -> None:
        fut = self._bloom_fut
        if fut is not None:
            fut.result()

    def _fetch(self, selected: DataFrame) -> DataFrame:
        """Resolve selected URLs to HTML. Default: join against the
        pages table (the sandbox stand-in; at production scale the pages
        table is the WARC store and this join is bucketed on url). With
        an injected transport (``crawl/fetch.py``), run the per-host
        partitioned HTTP fetch stage with the reference client's
        semantics instead — tests assert both paths produce identical
        visit logs and records."""
        if self.transport is not None:
            from .fetch import fetch_stage

            return fetch_stage(selected, self.transport)
        return selected.join(self.pages.select("url", "html"), on="url", how="left")

    def _commit(self, rnd: int, stats: dict, tables: list[str],
                lineage: dict | None = None) -> None:
        os.makedirs(os.path.join(self.warehouse, "manifest"), exist_ok=True)
        tmp = self._manifest(rnd) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"stats": stats, "tables": tables, "lineage": lineage or {}}, fh)
        os.replace(tmp, self._manifest(rnd))

    def lineage_counters(self, rnd: int) -> DataFrame:
        """Per-partition lineage for one committed round, from parquet
        FOOTERS (one file == one writing task) — no data scan, no job.
        Columns: round_id, stage, file, part_index, rows, bytes."""
        rows = []
        for stage, r in (("selected", rnd), ("records", rnd), ("frontier", rnd + 1)):
            for f in parquet_lineage(self._p(stage, r)):
                rows.append((rnd, stage, f["file"], f["part_index"], f["rows"], f["bytes"]))
        return self.spark.createDataFrame(rows, LINEAGE_SCHEMA)

    def run(self, max_rounds: int = 100) -> list[dict]:
        out = []
        rnd = self.resume_round()
        # drop metrics rows from rounds that never committed — they are
        # about to re-run and would otherwise double-count (ADVICE r2)
        self.metrics_log.compact_from(rnd)
        # restore the cumulative seen count from committed manifests
        self._cum_seen = 0
        for r in range(rnd):
            try:
                with open(self._manifest(r)) as fh:
                    self._cum_seen += max(0, json.load(fh)["stats"].get("selected", 0))
            except (OSError, KeyError, ValueError):
                pass
        try:
            while rnd < max_rounds:
                stats = self.run_round(rnd, _defer=True)
                out.append(stats)
                if stats.get("done"):
                    break
                rnd += 1
            # land the last round's sink flushes + manifest
            self._drain_pending()
        finally:
            if self.budgets is not None:
                self.budgets.unpersist()
        return out

    # ---- result accessors ----
    def all_records(self) -> DataFrame:
        paths = []
        rnd = 0
        while os.path.exists(self._manifest(rnd)):
            if os.path.exists(self._p("records", rnd)):
                paths.append(self._p("records", rnd))
            rnd += 1
        if not paths:
            return self.spark.createDataFrame([], schemas.RECORDS)
        return self.spark.read.schema(schemas.RECORDS).parquet(*paths)

    def visit_log(self) -> DataFrame:
        """(round_id, host, visit_rank, url) — the crawl ordering."""
        paths = []
        rnd = 0
        while os.path.exists(self._manifest(rnd)):
            if os.path.exists(self._p("selected", rnd)):
                paths.append(self._p("selected", rnd))
            rnd += 1
        if not paths:
            return self.spark.createDataFrame(
                [], "url string, round_id int, host string, visit_rank int"
            )
        return self.spark.read.parquet(*paths).select("url", "round_id", "host", "visit_rank")

    def seen_set(self) -> DataFrame:
        return self._seen_all(self.resume_round() - 1)
