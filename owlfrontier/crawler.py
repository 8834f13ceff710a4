"""The crawl loop — owlcrawler's fetcher/extractor/NATS dataflow re-expressed
as checkpointed frontier generations over DataFrames (SURVEY.md §2.4, §3.4).

Reference steady state: NATS ``fetch_url``/``extract_url`` FIFO subjects with
competing consumers (``/root/reference/fetcher.go:86-104``,
``/root/reference/extractor.go:94-109``), CouchDB as both store and seen-set
(``/root/reference/couchdb/couchdb.go:143-179,254-280``). Here each
generation is one checkpointed step: a crawled write and a frontier
write, each several Spark jobs (AQE runs every shuffle stage as its own
job), plus a Bloom build or postings write when those are on:

    gen(g):  F_g = committed frontier snapshot           (clean: see enqueue)
      1. robots:     minus disallowed(host, path)        (north_rule addition)
      2. politeness: per-host row_number ≤ k split       (O4; rest deferred)
      3. fetch:      JOIN pages store ON url             (O5; simulated fetch)
      4. extract:    pandas UDF → text/links             (O10/O11)
      5. commit:     append crawled gen-g, write metrics (O6/O12/O15)
      6. expand:     enqueue(posexplode(links_candidate) ∪ deferred)   (O13)
    enqueue: the ONE frontier write (run seeds, add_seeds, expansion) —
      first-wins → ANTI-JOIN crawled ON url (O3; Bloom prefilter) → write;
      resume reads the committed frontier as is

Ordering: every frontier row carries ``path ARRAY<LONG>`` — seeds ``[i]``,
link j of a page with path P gets ``P || [j]``. FIFO order ==
``ORDER BY size(path), path`` with no global sequence assignment anywhere in
the hot loop (SURVEY.md §4.3.3); an explicit ``seq`` is materialized only by
:meth:`CrawlEngine.crawl_order` for equivalence tests.

Scale posture: the dedup join and expansion shuffle on url; the politeness
window shuffles on host behind Spark's partial ``WindowGroupLimit``, so at
most k rows per host per map partition cross that shuffle however hot the
host; the fetch join broadcasts the frontier side when small (AQE handles
the switch otherwise); every generation commits to the snapshot store, so
lineage never accumulates across iterations and any generation can resume
from disk.
"""

from __future__ import annotations

import time

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from owlfrontier import bloom as bloommod
from owlfrontier.extract import extraction_udf
from owlfrontier.politeness import budget_split, fifo_order
from owlfrontier.robots import robots_rules_udf
from owlfrontier.storage import resolve_store
from owlfrontier.urlutil import HOST_REGEX, PATH_REGEX, canonical_url_sql


@dataclass
class CrawlConfig:
    politeness_k: int | None = None  # None = unbounded (reference BFS)
    robots_enabled: bool = False  # reference-equivalence default: off
    max_generations: int = 100
    # salt of the frontier write partitioning: a hot host spreads over
    # this many buckets (the budget window's own skew defence is Spark's
    # partial WindowGroupLimit, see politeness.py)
    salt_buckets: int = 8
    frontier_partitions: int = 32
    # priority-queue policy for the per-host budget (north_rule: the
    # frontier is a partitioned priority queue). "fifo" = reference BFS
    # order (the equivalence target); "dfs" = deepest paths first;
    # "score" = drain by a (url, score) table passed to the engine as
    # ``priority_scores`` (e.g. the integer-exact pagerank query output
    # — crawl important pages first), highest first, unscored URLs last;
    # any other string = a SQL expression over the frontier columns (url,
    # host, path, discovered_from), ascending, FIFO tiebreak. Priority
    # changes WHICH generation a URL is fetched in, never WHETHER — the
    # seen-set is priority-invariant (deferral preserves membership).
    priority: str = "fifo"
    # "auto": on once crawled set is large; "sharded": host-sharded filter
    # (the 10^10-key deploy shape, bloom.py ShardedBloomFilter)
    use_bloom: bool | str = "auto"
    # Bloom pays off when the crawled set is large enough that the exact
    # anti-join's build side is expensive (10^8+ keys); below that the
    # probe stage + plan split cost more than they save (measured)
    bloom_auto_threshold: int = 5_000_000
    bloom_capacity: int = 2_000_000  # minimum geometry sizing
    # Geometry is FIXED at first activation (incremental unions need equal
    # geometry) but sized then as max(bloom_capacity, 2× the crawled count
    # at activation) so auto-activation never starts over capacity.
    bloom_shards: int = 16  # shard count for use_bloom="sharded"
    broadcast_frontier_rows: int = 100_000
    light_metrics: bool = False  # skip informational counts (bench mode)
    # fetch-join strategy: "auto" broadcasts small frontiers and lets AQE
    # pick otherwise; "bucketed" assumes the pages store is hash-bucketed
    # by url (Iceberg bucket(N, url) / Spark CLUSTERED BY) and uses a
    # shuffled-HASH join building from the frontier, so ONLY the frontier
    # side shuffles and the pages side is never sorted — the 100 TB path
    fetch_join: str = "auto"
    # per-partition write-spread histogram of each committed frontier
    # (north_rule lineage/metrics surface). Costs one extra read-back job
    # per generation, so it is opt-in; the capability is what the metric
    # contract exposes, the cadence is the operator's call.
    partition_hist: bool = False
    # maintain the inverted word index incrementally: each generation
    # appends its own (word, url) postings partition at the commit barrier
    # — the CouchDB-view-per-write analog (couchdb.go:87-109); the index
    # query then aggregates the postings table instead of re-tokenizing
    # every crawled page (see CrawlEngine.word_index)
    maintain_index: bool = False
    # key the URL-seen set / first-wins identity on CANONICALIZED urls
    # (north_rule: "URL-seen set keyed on canonicalized+hashed URLs").
    # Implemented as a frontier-INGRESS rewrite: seeds and freshly
    # discovered links are canonicalized (fragment, :80, www.,
    # utm_*/ref params, trailing slash — urlutil.canonical_url_sql)
    # BEFORE first-wins and the anti-join, so one canonical identity
    # flows through the whole pipeline: seen set, bloom hashes,
    # politeness host grouping and the fetch join all see it — no
    # key/value split, no extra column, zero plan change when off.
    # Default OFF: the reference never normalizes (parse.go:88-131) and
    # crawl-order equivalence is keyed on verbatim urls. When ON, the
    # pages store must itself be canonical-unique — build it once at
    # ingestion with CrawlEngine.canonicalize_pages.
    canonical_keys: bool = False
    # run SnapshotStore.compact()/IcebergStore.compact() at the generation
    # barrier whenever the committed crawled-generation count reaches this
    # many dirs/partitions. The per-generation expansion anti-join reads
    # every committed generation, so an uncompacted 1000-generation crawl
    # pays a 1000-dir listing + scan per generation; compaction bounds it.
    # None = manual (call store.compact() yourself).
    compact_every_n: int | None = None


# Crawl-delay → budget conversion unit: the reference's politeness is a
# fixed 5 s tick (fetcher.go:97-99) and the equivalence mapping is
# "k per host per generation ≈ k ticks", so a robots Crawl-delay of D
# seconds scales a host's budget to max(1, floor(k * 5 / D)), capped at
# k. Only applies when robots are enabled and a delay is declared.
CRAWL_DELAY_UNIT_SEC = 5.0
# false-positive rate the Bloom geometry is sized for
BLOOM_FPP = 0.01
# Arrow batch rows for the extraction UDF. Spark's 10,000-row default
# assumes narrow rows; with ~15 KB html BINARY payloads one batch is
# ~150 MB *before* the several-fold pandas decode blow-up, and N
# concurrent Python workers each hold one — measured memory-thrash
# collapse at 32 workers (gen wall 43 s → 492 s). rows × row-bytes
# should stay ~10-20 MB per batch.
ARROW_BATCH_ROWS = 1024


def _minus(a: int | None, b: int | None) -> int | None:
    """a − b for derived gate counts; None when either was not counted."""
    return None if a is None or b is None else a - b


def first_wins_pool(pool: DataFrame) -> DataFrame:
    """First-wins per url over an expansion pool as a MIN_BY AGGREGATION,
    not a window: the pool is dup-heavy (every page has ~fanout parents),
    and a declarative min_by gets map-side partial aggregation — the
    shuffle carries at most one row per (url, map partition) instead of
    the whole pool. Module-level so the plan-regression test can assert
    the partial-aggregate-before-exchange shape the scale posture
    depends on."""
    order_key = F.struct(
        F.size("path").alias("l"), F.col("path").alias("p")
    )
    return pool.groupBy("url").agg(
        F.min_by(
            F.struct("host", "path", "discovered_from"), order_key
        ).alias("r")
    ).select("url", "r.host", "r.path", "r.discovered_from")


class CrawlEngine:
    def __init__(
        self,
        spark,
        pages_df: DataFrame,
        store_root: str,
        robots_df: DataFrame | None = None,
        config: CrawlConfig | None = None,
        priority_scores: DataFrame | None = None,
    ):
        self.spark = spark
        self.pages = pages_df
        # (url, score) for priority="score" — url-keyed like the pages
        # store, so at scale it buckets by url and the budget join
        # co-locates; a LEFT join keeps unscored URLs crawlable (they
        # drain after all scored ones)
        self._scores = (
            priority_scores.select(
                "url", F.col("score").cast("double").alias("_score")
            )
            if priority_scores is not None
            else None
        )
        # TableIO seam: a path → SnapshotStore, "iceberg:<ns>" →
        # IcebergStore, or any pre-built object implementing the contract
        self.store = (
            resolve_store(spark, store_root)
            if isinstance(store_root, str)
            else store_root
        )
        self.config = config or CrawlConfig()
        if self.config.priority == "score" and self._scores is None:
            raise ValueError(
                'priority="score" needs a priority_scores DataFrame '
                "(url, score) — e.g. the pagerank query output"
            )
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_BATCH_ROWS),
        )
        # Spark infers the budget window's partial top-k only for k up to
        # this threshold (default 1000)
        k = self.config.politeness_k
        limit_conf = "spark.sql.optimizer.windowGroupLimitThreshold"
        if k is not None and k > int(spark.conf.get(limit_conf)):
            spark.conf.set(limit_conf, str(k))
        self._extract = extraction_udf()
        self._bloom = None  # BloomFilter | ShardedBloomFilter
        self._bloom_expected: int | None = None  # geometry, fixed at activation
        self._crawled_count = 0
        self._rules = self._build_rules(robots_df) if (
            robots_df is not None and self.config.robots_enabled
        ) else None

    # -- public surface -----------------------------------------------------

    def run(
        self,
        seeds: list[str] | DataFrame | None = None,
        resume: bool = False,
    ) -> dict:
        """Run the crawl to frontier exhaustion or max_generations.

        Either ``seeds`` (fresh crawl) or ``resume=True`` (continue from the
        last committed snapshot — SURVEY.md §5.2.4). ``seeds`` is a Python
        list only for tests/small runs; the at-scale path is a DataFrame of
        ``(url STRING, seq BIGINT)`` — a 10^8-row Common-Crawl generation-0
        frontier must never round-trip through driver memory."""
        cfg = self.config
        if resume:
            manifest = self.store.read_manifest()
            if manifest is None:
                raise ValueError("resume=True but no committed manifest")
            g = manifest["generation"] + 1
            crawled_gens = list(manifest["crawled_generations"])
            metrics = self.store.read_metrics()
            if manifest["frontier_empty"]:
                return self._summary(crawled_gens, metrics)
            self.store.drop_uncommitted("crawled", crawled_gens)
            self.store.drop_uncommitted("frontier", list(range(g + 1)))
            # unconditional: a crash after a postings write with the flag
            # later toggled off would otherwise leave an orphan dir that a
            # re-run at the same generation could read as committed index
            self.store.drop_uncommitted("postings", crawled_gens)
            if self.config.maintain_index:
                self._backfill_postings(crawled_gens)
            self._rebuild_bloom(crawled_gens, metrics)
            # committed as is: every frontier was written through _enqueue
            frontier = self.store.read_gen("frontier", g)
            frontier_size = frontier.count()
        else:
            if seeds is None:
                raise ValueError("need seeds for a fresh crawl")
            g = 0
            crawled_gens = []
            metrics = []
            frontier_size = self._enqueue(self._seed_frontier(seeds), [], 0)
            frontier = self.store.read_gen("frontier", 0)

        # the (url, score) priority table is static across generations but
        # was re-derived from its source plan (e.g. a pages-table
        # projection) by every generation's budget join — persist it for
        # the duration of the run (r6; materializes lazily inside the
        # first generation's job, freed at run end)
        scores_pinned = False
        if self._scores is not None and cfg.priority == "score":
            self._scores = self._scores.persist()
            scores_pinned = True
        try:
            return self._run_generations(
                frontier, frontier_size, g, crawled_gens, metrics
            )
        finally:
            if scores_pinned:
                self._scores.unpersist()

    def _run_generations(self, frontier, frontier_size, g, crawled_gens,
                         metrics) -> dict:
        cfg = self.config
        while g < cfg.max_generations:
            t_gen = time.perf_counter()
            m = self._generation(frontier, g, crawled_gens, frontier_size)
            m["wall_sec"] = round(time.perf_counter() - t_gen, 2)
            metrics.append(m)
            if m["fetched"] > 0:
                crawled_gens.append(g)
            empty = m["next_frontier"] == 0
            self.store.commit(g, metrics, empty, crawled_gens)
            if empty:
                break
            # auto-compaction at the generation barrier: bounds the dir /
            # partition count the expansion anti-join re-reads every
            # generation (a 10^10-URL crawl runs thousands of generations)
            if (
                cfg.compact_every_n
                and len(crawled_gens) >= cfg.compact_every_n
                and hasattr(self.store, "compact")
            ):
                res = self.store.compact()
                if res.get("compacted"):
                    crawled_gens = list(
                        self.store.read_manifest()["crawled_generations"]
                    )
            frontier = self.store.read_gen("frontier", g + 1)
            frontier_size = m["next_frontier"]
            g += 1
        return self._summary(crawled_gens, metrics)

    def add_seeds(self, seeds: list[str] | DataFrame) -> int:
        """Inject newly submitted seeds into the pending frontier — the
        reference's live seeding surface (``/add-site`` stores the site doc
        and publishes the URL onto the running fetch queue,
        webapp/main.go:157-196). Called between ``run()`` calls (the
        generation barrier is the deterministic injection point): the
        pending frontier plus the new URLs is re-enqueued through the one
        frontier gate (first-wins, dedup against everything crawled), and
        the manifest is re-committed — a finished crawl (empty frontier)
        wakes back up if the seeds bring new URLs. Returns the pending
        frontier size; continue with ``run(resume=True)``.
        """
        manifest = self.store.read_manifest()
        if manifest is None:
            raise ValueError(
                "add_seeds needs a committed crawl; start with run(seeds=…)"
            )
        g = manifest["generation"]
        crawled_gens = list(manifest["crawled_generations"])
        # namespace injected seq by generation: paths stay globally unique
        # (deterministic crawl_order) and later submissions sort after
        # earlier ones among the size-1 paths — the FIFO-append analogue
        offset = (g + 1) * (1 << 40)
        pool = self._seed_frontier(seeds).withColumn(
            "path",
            F.expr(f"array(element_at(path, 1) + cast({offset} as bigint))"),
        )
        if not manifest["frontier_empty"]:
            pool = self.store.read_gen("frontier", g + 1).unionByName(pool)
        n = self._enqueue(pool, crawled_gens, g + 1)
        self.store.commit(g, self.store.read_metrics(), n == 0, crawled_gens)
        return n

    def crawled(self) -> DataFrame | None:
        manifest = self.store.read_manifest()
        gens = manifest["crawled_generations"] if manifest else []
        return self.store.read_crawled(gens)

    def crawl_order(self) -> DataFrame:
        """(seq, generation, url) in exact reference FIFO order — test/export
        surface only (materializes a global sort, SURVEY.md §4.3.3)."""
        df = self.crawled()
        if df is None:
            return self.spark.createDataFrame(
                [], "seq bigint, generation int, url string"
            )
        w = Window.orderBy(F.col("gen_fetched"), F.size("path"), F.col("path"))
        return df.select(
            (F.row_number().over(w) - 1).alias("seq"),
            F.col("gen_fetched").alias("generation"),
            "url",
        )

    def metrics(self) -> list[dict]:
        return self.store.read_metrics()

    def word_index(self, posting_cap: int = 1000,
                   salt_buckets: int = 16) -> DataFrame:
        """O14 over the store: aggregates the incrementally maintained
        postings table when ``maintain_index`` wrote one (each generation
        contributed only its own documents — the reference's per-write
        CouchDB view, couchdb.go:87-109), falling back to a full
        recompute from the crawled pages otherwise. Both paths return
        identical rows (tested).

        The postings path is taken only when EVERY committed crawled
        generation has a postings partition — a crawl resumed with
        ``maintain_index`` newly enabled has postings for later
        generations only (resume backfills, but a hand-built store may
        not), and aggregating a partial table would silently drop the
        earlier documents' counts."""
        from owlfrontier.search import (
            word_index as full_recompute,
        )
        from owlfrontier.search import (
            word_index_from_postings,
        )

        manifest = self.store.read_manifest()
        gens = manifest["crawled_generations"] if manifest else []
        posts = (
            self.store.read_gens("postings", gens)
            if gens and not self.store.missing_gens("postings", gens)
            else None
        )
        if posts is not None:
            return word_index_from_postings(posts, posting_cap, salt_buckets)
        crawled = self.crawled()
        if crawled is None:
            return self.spark.createDataFrame(
                [], "word string, doc_count bigint, urls array<string>"
            )
        return full_recompute(crawled, posting_cap, salt_buckets)

    # -- internals ------------------------------------------------------------

    def _backfill_postings(self, crawled_gens: list[int]) -> None:
        """Write postings partitions for committed generations that lack
        one — the natural adoption path is enabling ``maintain_index`` on
        a RESUMED crawl, which would otherwise leave the postings table
        permanently partial (earlier generations' documents missing).
        One tokenize+write per missing generation, once ever; generations
        are disjoint by url so each backfill is independent."""
        from owlfrontier.search import postings_from_crawled

        for g in self.store.missing_gens("postings", crawled_gens):
            self.store.write_gen(
                postings_from_crawled(self.store.read_gen("crawled", g)),
                "postings", g,
            )

    def _seed_frontier(self, seeds: list[str] | DataFrame) -> DataFrame:
        if isinstance(seeds, DataFrame):
            # table input (url, seq): seq is any order-preserving unique
            # BIGINT (submission order) — no driver round-trip, no global
            # sort; FIFO ordering only needs path-lexicographic comparability
            df = seeds.select("url", F.col("seq").cast("bigint").alias("seq"))
        else:
            rows = [(u, i) for i, u in enumerate(seeds)]
            df = self.spark.createDataFrame(rows, "url string, seq bigint")
        df = df.select(
            "url",
            F.regexp_extract("url", HOST_REGEX, 1).alias("host"),
            F.array(F.col("seq")).alias("path"),
            F.lit(None).cast("string").alias("discovered_from"),
        )
        # duplicate submissions collapse (first-wins) in _enqueue
        return self._canonical_ingress(df)

    def _canonical_ingress(self, df: DataFrame) -> DataFrame:
        """``canonical_keys``: rewrite url (and its derived host) at the
        frontier's ingress points, BEFORE first-wins/dedup — variant
        spellings of a page collapse to one frontier identity. Identity
        transform (the SAME DataFrame object) when the knob is off, so
        the reference-equivalence path's plan is untouched."""
        if not self.config.canonical_keys:
            return df
        return df.withColumn(
            "url", F.expr(canonical_url_sql("url", "spark"))
        ).withColumn("host", F.regexp_extract("url", HOST_REGEX, 1))

    @staticmethod
    def canonicalize_pages(pages: DataFrame) -> DataFrame:
        """Ingestion-time companion of ``canonical_keys=True``: rewrite
        the pages store's url column to canonical form and keep exactly
        ONE row per canonical url (first-wins by ``warc_ts`` with the
        raw url as the deterministic tiebreak — the earliest capture).
        Run ONCE when building/refreshing the store (and re-bucket the
        result if using ``fetch_join="bucketed"``) — it is a full
        groupBy of the store, not a per-generation cost; the engine's
        fetch join then matches the canonical frontier keys, and
        duplicate captures can never fan the fetch join out."""
        others = [c for c in pages.columns if c != "url"]
        return (
            pages.withColumn("_raw", F.col("url"))
            .withColumn("url", F.expr(canonical_url_sql("url", "spark")))
            .groupBy("url")
            .agg(
                F.min_by(
                    F.struct(*others), F.struct("warc_ts", "_raw")
                ).alias("r")
            )
            .select("url", *[F.col(f"r.{c}").alias(c) for c in others])
        )

    def _priority_order(self) -> list:
        p = self.config.priority
        if p == "fifo":
            return fifo_order()
        if p == "dfs":
            return [F.size("path").desc(), F.col("path")]
        if p == "score":
            # highest score first, unscored last, FIFO tiebreak keeps the
            # schedule deterministic
            return [F.col("_score").desc_nulls_last(), *fifo_order()]
        # custom SQL expression, ascending; FIFO key breaks ties so the
        # schedule stays deterministic
        return [F.expr(p), *fifo_order()]

    def _partition_frontier(self, df: DataFrame) -> DataFrame:
        cfg = self.config
        # salted repartition on host-hash: hot domains spread over salt
        # buckets while politeness still sees per-host globals (north_rule)
        return df.repartition(
            cfg.frontier_partitions,
            F.col("host"),
            F.pmod(F.xxhash64("url"), F.lit(max(1, cfg.salt_buckets))),
        )

    def _build_rules(self, robots_df: DataFrame) -> DataFrame:
        parsed = robots_df.select(
            "host", robots_rules_udf()(F.col("robots_txt")).alias("r")
        ).select("host", "r.rules", "r.crawl_delay")
        # per-host rows, broadcast-joined every generation (gate + budget):
        # persist so the robots parse runs once, not once per action
        return parsed.where(
            (F.size("rules") > 0) | F.col("crawl_delay").isNotNull()
        ).persist()

    def _host_budgets(self) -> DataFrame | None:
        """(host, _k_host) for hosts whose robots Crawl-delay shrinks their
        per-generation budget below politeness_k (broadcast side of the
        budget window; hosts without a delay keep the global k)."""
        cfg = self.config
        if self._rules is None or cfg.politeness_k is None:
            return None
        k = cfg.politeness_k
        kh = F.least(
            F.lit(k),
            F.greatest(
                F.lit(1),
                F.floor(
                    F.lit(float(k) * CRAWL_DELAY_UNIT_SEC)
                    / F.col("crawl_delay")
                ),
            ),
        ).cast("int")
        return (
            self._rules.where(F.col("crawl_delay").isNotNull())
            .select("host", kh.alias("_k_host"))
            .where(F.col("_k_host") < k)
        )

    def _bloom_enabled(self) -> bool:
        cfg = self.config
        if cfg.use_bloom == "auto":
            return self._crawled_count >= cfg.bloom_auto_threshold
        return bool(cfg.use_bloom)

    def _bloom_sizing(self) -> int:
        """Geometry is fixed at first activation (unions require equal
        geometry) but sized THEN from the live crawled count, so
        auto-activation never starts over capacity (the filter would
        otherwise activate at bloom_auto_threshold keys with
        bloom_capacity-sized geometry — 2.5× over capacity by default)."""
        if self._bloom_expected is None:
            self._bloom_expected = max(
                self.config.bloom_capacity, 2 * self._crawled_count
            )
        return self._bloom_expected

    def _build_bloom(self, df: DataFrame):
        cfg = self.config
        if cfg.use_bloom == "sharded":
            return bloommod.build_sharded_from_df(
                df, "url", "host", cfg.bloom_shards,
                expected_n=self._bloom_sizing(), fpp=BLOOM_FPP,
            )
        return bloommod.build_from_df(
            df, "url", expected_n=self._bloom_sizing(), fpp=BLOOM_FPP
        )

    def _rebuild_bloom(self, crawled_gens: list[int],
                       metrics: list[dict]) -> None:
        # every url is crawled exactly once, so the committed fetched
        # counts ARE the crawled-set size — no count job over the history
        self._crawled_count = sum(m["fetched"] for m in metrics)
        crawled = self.store.read_crawled(crawled_gens)
        if crawled is not None and self._bloom_enabled():
            self._bloom = self._build_bloom(crawled)

    def _enqueue(self, pool: DataFrame, crawled_gens: list[int],
                 gen: int) -> int:
        """Write frontier ``gen`` through the one URL-seen gate (O1/O3 at
        enqueue, couchdb.go:258-280) → its row count, observed on the
        write job. ``pool`` may read frontier ``gen`` (store guarantee)."""
        # first-wins BEFORE the anti-join: the join probes only unique
        # urls AND reuses the groupBy's hash-partitioning on url (no
        # second pool exchange); filter-by-crawled commutes with per-url
        # min, so the result equals dedup-then-first-wins
        fresh, probed = self._dedup(first_wins_pool(pool), crawled_gens)
        obs = Observation()
        self.store.write_gen(
            self._partition_frontier(fresh).observe(
                obs, F.count(F.lit(1)).alias("n")
            ),
            "frontier",
            gen,
        )
        if probed is not None:
            probed.unpersist()
        return obs.get["n"]

    def _dedup(self, frontier: DataFrame, crawled_gens: list[int]):
        """O3 — the three reference gates collapsed into one exact anti-join
        with an optional broadcast-Bloom prefilter (SURVEY.md §4.3.1)
        → (deduped, the persisted Bloom probe output or None).

        Applied only by _enqueue, so every committed frontier snapshot is
        already clean and the hot loop scans the crawled store once per
        generation, not twice — the dequeue-gate re-check the reference
        needs (fetcher.go:96) is structurally unnecessary here because
        nothing is crawled between a frontier's write and its read."""
        crawled = self.store.read_crawled(crawled_gens)
        if crawled is None:
            return frontier, None
        crawled_urls = crawled.select("url")
        if self._bloom is not None:
            if isinstance(self._bloom, bloommod.ShardedBloomFilter):
                probe = bloommod.sharded_might_contain_udf(
                    self.spark, self._bloom
                )
                maybe = probe(
                    F.pmod(
                        F.xxhash64("host"), F.lit(self._bloom.n_shards)
                    ).cast("int"),
                    F.xxhash64("url"),
                )
            else:
                probe = bloommod.might_contain_udf(self.spark, self._bloom)
                maybe = probe(F.xxhash64("url"))
            # persist the probe output: both union branches read it, and
            # without caching the python probe stage would run twice
            tagged = frontier.withColumn("_maybe", maybe).persist()
            definitely_new = tagged.where(~F.col("_maybe")).drop("_maybe")
            suspects = tagged.where(F.col("_maybe")).drop("_maybe")
            survivors = suspects.join(crawled_urls, "url", "left_anti")
            return definitely_new.unionByName(survivors), tagged
        return frontier.join(crawled_urls, "url", "left_anti"), None

    def _robots_gate(self, df: DataFrame) -> DataFrame:
        """→ the allowed rows. RFC 9309 longest-match evaluation, fully
        JVM-side via higher-order ``filter``/``transform``: keep the rules
        whose pattern matches the path (plain ``startswith`` for the
        common wildcard-free case, per-rule anchored regex otherwise),
        then ``array_max`` over (pattern_len, allow_flag) structs picks
        the longest match with Allow winning ties; blocked iff the winner
        is a Disallow. Rules join broadcasts (host-level, small)."""
        if self._rules is None:
            return df
        joined = df.join(F.broadcast(self._rules), "host", "left")
        path_part = F.regexp_extract("url", PATH_REGEX, 1)
        path_col = F.when(path_part == "", "/").otherwise(path_part)
        matched = F.filter(
            "rules",
            lambda r: F.when(
                r["w"] == 1, F.regexp_like(path_col, r["rx"])
            ).otherwise(path_col.startswith(r["pfx"])),
        )
        best = F.array_max(
            F.transform(
                matched,
                lambda r: F.struct(r["l"].alias("l"), r["a"].alias("a")),
            )
        )
        blocked = (
            F.col("rules").isNotNull()
            & (F.size(matched) > 0)
            & (best["a"] == 0)
        )
        return joined.where(~blocked).drop("rules", "crawl_delay")

    def _generation(
        self, frontier: DataFrame, g: int, crawled_gens: list[int],
        frontier_size: int,
    ) -> dict:
        cfg = self.config
        budgeted = cfg.politeness_k is not None
        # the frontier is already deduped against every crawled generation
        # (every frontier is written through _enqueue), so every row is
        # eligible and the generation goes straight to the robots gate
        allowed = self._robots_gate(frontier)
        # only a robots gate makes |allowed| differ from frontier_size;
        # light mode skips that count like every other informational one
        # (each is a job: ~1 s fixed floor per generation at 32 threads)
        count_allowed = self._rules is not None and not cfg.light_metrics
        # persist what two jobs read: the count and the fetch, or the
        # budget window and the deferred anti-join
        held = []
        if count_allowed or budgeted:
            allowed = allowed.persist()
            held.append(allowed)
        if self._rules is None:
            allowed_count = frontier_size
        else:
            allowed_count = allowed.count() if count_allowed else None

        if budgeted:
            budget_in = allowed
            if cfg.priority == "score" and self._scores is not None:
                budget_in = allowed.join(self._scores, "url", "left")
            selected, deferred = budget_split(
                budget_in, cfg.politeness_k,
                order=self._priority_order(),
                host_budgets=self._host_budgets(),
            )
            # persisted before the score column is dropped: the deferred
            # anti-join reads this exact plan, so it reuses the cached rows
            selected = selected.persist()
            held.append(selected)
            selected_count = None if cfg.light_metrics else selected.count()
            # the score column exists only for the budget window; both
            # outputs must carry the exact frontier schema downstream
            selected = selected.drop("_score")
            deferred = deferred.drop("_score")
        else:
            selected, deferred, selected_count = allowed, None, allowed_count

        # O5: simulated fetch — inner join against the pages store.
        # Frontier side is usually tiny vs a 100 TB pages table → broadcast
        # it (selected ⊆ frontier, so frontier_size is a safe upper bound
        # when the selected count was skipped in light mode).
        known = selected_count if selected_count is not None else frontier_size
        pages_side = self.pages.withColumnRenamed("text", "stored_text")
        if known <= cfg.broadcast_frontier_rows:
            fetched = F.broadcast(selected).join(pages_side, "url", "inner")
        elif cfg.fetch_join == "bucketed":
            # bucketed store: shuffled-HASH join with the frontier as the
            # build side — the pages side reads its buckets with NO exchange
            # and NO sort (an SMJ would per-bucket sort the multi-file,
            # HTML-heavy pages partitions: measured 9× anti-scaling at 32
            # threads from sort spill when per-task memory shrank); the
            # frontier shuffles into the bucket layout and builds tiny
            # per-partition hash maps (bounded by frontier_rows / buckets)
            fetched = selected.hint("shuffle_hash").join(
                pages_side, "url", "inner"
            )
        else:
            fetched = selected.join(pages_side, "url", "inner")

        # O10/O11: one Arrow-vectorized extraction pass
        extracted = fetched.withColumn(
            "ex", self._extract(F.col("html"), F.col("url"))
        )
        crawled_g = extracted.select(
            "url",
            "host",
            "path",
            "discovered_from",  # per-row lineage (north_rule)
            F.lit(g).alias("gen_fetched"),
            F.col("warc_ts").alias("fetched_on"),
            # deterministic stamp (reference used wall clock,
            # extractor.go:52; determinism is required for resume identity)
            F.when(F.size("ex.text") > 0, F.col("warc_ts")).alias("parsed_on"),
            F.col("ex.title").alias("title"),
            F.col("ex.h1").alias("h1"),
            F.col("ex.h2").alias("h2"),
            F.col("ex.h3").alias("h3"),
            F.col("ex.h4").alias("h4"),
            F.col("ex.text").alias("text"),
            F.col("ex.text_json").alias("text_json"),
            F.col("ex.links_all").alias("links_all"),
            F.col("ex.links_candidate").alias("links_candidate"),
            F.col("ex.doc_id").alias("doc_id"),
            "lang",
        )
        # O6/O12: commit the generation (also breaks lineage for the loop).
        # The fetched/parsed counts ride the write job as observed metrics
        # — no separate count job, and the parsed count costs nothing extra
        # because the rows are already materialized in the write tasks.
        obs_c = Observation()
        crawled_g = crawled_g.observe(
            obs_c,
            F.count(F.lit(1)).alias("fetched"),
            F.count("parsed_on").alias("parsed"),
        )
        t = time.perf_counter()
        self.store.write_gen(crawled_g, "crawled", g)
        counts = obs_c.get
        fetched_count, parsed_count = counts["fetched"], counts["parsed"]
        timings = {"crawled_write": round(time.perf_counter() - t, 2)}
        crawled_g = self.store.read_gen("crawled", g)

        # O14 incremental index maintenance: tokenize ONLY this
        # generation's new documents and append their postings partition
        # (urls are crawled exactly once, so generations are disjoint by
        # url and the postings union is conflict-free)
        if cfg.maintain_index and fetched_count:
            from owlfrontier.search import postings_from_crawled

            t = time.perf_counter()
            self.store.write_gen(
                postings_from_crawled(crawled_g), "postings", g
            )
            timings["postings_write"] = round(time.perf_counter() - t, 2)

        # incremental Bloom maintenance — BEFORE expansion, so the
        # expansion prefilter already covers generation g's URLs. Fixed
        # geometry (sized at activation) makes every per-generation filter
        # union-compatible — Bloom union is bitwise OR (SURVEY.md §4.3.1)
        t = time.perf_counter()
        self._crawled_count += fetched_count
        if self._bloom_enabled() and fetched_count:
            if self._bloom is None and crawled_gens:
                # first activation mid-crawl: fold in everything crawled so
                # far (geometry fixed now, sized from the live count)
                add = self._build_bloom(
                    self.store.read_crawled(crawled_gens + [g])
                )
            else:
                add = self._build_bloom(crawled_g)
            self._bloom = add if self._bloom is None else self._bloom.union(add)
        timings["bloom"] = round(time.perf_counter() - t, 2)

        # O13: frontier expansion — posexplode preserves document order
        candidates = crawled_g.select(
            F.col("url").alias("parent_url"),
            "path",
            F.posexplode("links_candidate").alias("pos", "child"),
        ).select(
            F.col("child").alias("url"),
            F.regexp_extract("child", HOST_REGEX, 1).alias("host"),
            F.concat("path", F.array(F.col("pos").cast("bigint"))).alias("path"),
            F.col("parent_url").alias("discovered_from"),
        )
        # Deferred rows were canonicalized when first enqueued, so only
        # fresh candidates go through ingress.
        pool = self._canonical_ingress(candidates)
        if deferred is not None:
            pool = deferred.unionByName(pool)
        t = time.perf_counter()
        next_count = self._enqueue(
            pool, crawled_gens + ([g] if fetched_count else []), g + 1
        )
        timings["frontier_write"] = round(time.perf_counter() - t, 2)
        partition_hist = None
        if cfg.partition_hist and not cfg.light_metrics:
            # per-partition lineage/metrics (north_rule): row spread of the
            # committed frontier across the WRITE-side salted partitions.
            # Each write task emits one file, so counting rows per file
            # measures what was actually written — read-side
            # spark_partition_id() would reflect input-split packing, not
            # the salted write partitioning.
            hist = (
                self.store.read_gen("frontier", g + 1)
                .groupBy(F.input_file_name().alias("f"))
                .count()
                .collect()
            )
            partition_hist = [
                (i, c)
                for i, (_f, c) in enumerate(
                    sorted((r["f"], r["count"]) for r in hist)
                )
            ]

        for df in held:
            df.unpersist()
        m = {
            "generation": g,
            "timings": timings,
            "frontier_size": frontier_size,
            "eligible": frontier_size,
            "robots_blocked": _minus(frontier_size, allowed_count),
            "selected": selected_count,
            "deferred": _minus(allowed_count, selected_count),
            "fetched": fetched_count,
            "failed": _minus(selected_count, fetched_count),
            "parsed": parsed_count,
            "next_frontier": next_count,
            "frontier_partition_hist": partition_hist,
        }
        return m

    def _summary(self, crawled_gens: list[int], metrics: list[dict]) -> dict:
        return {
            "generations": len(metrics),
            "crawled": sum(m["fetched"] for m in metrics),
            "failed": sum(m["failed"] or 0 for m in metrics),
            "crawled_generations": crawled_gens,
        }
