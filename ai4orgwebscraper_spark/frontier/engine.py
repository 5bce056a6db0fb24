"""The crawl engine: iterative batch rounds over a distributed frontier.

Replaces the reference's single-threaded FIFO loop + global rate gate
(reference app_wrapper.py:165-168 + web_scraper.py:14-20) with a
data-parallel design whose observable behavior is defined by EXPLICIT
keys only (SURVEY.md §3.4):

- ``reference_mode=True`` reproduces the reference exactly: depth 0,
  no dedup (duplicate seeds fetched twice — the reference has no
  visited set, SURVEY.md C4), crawl order == normalized seed order,
  global 1/rps spacing on a simulated clock.
- ``reference_mode=False`` is the scale design: multi-round frontier
  with per-host token budgets (politeness), robots_disallow
  filtering, canonical-URL dedup (partitioned incremental Bloom
  prefilter + exact anti-join authority — SURVEY.md C4,
  frontier/bloom.py), and outlink enqueue with deterministic
  discovery ranks. Its executable spec is
  ``frontier.oracle.bfs_crawl``.

Scale notes (the 1000-executor view):
- the fetch stage repartitions by SALTED host-hash so a hot host
  (40% of the synthetic corpus) spreads over many tasks while
  admission stays per-host-exact (admission happens before salting);
- per-round global sequence numbers use plans.with_global_seq
  (partition offsets), never a single-partition window;
- the seen set is APPEND-ONLY delta parts; the cumulative
  multiplicity aggregation runs once at the end, so no round ever
  reshuffles the full seen table;
- iterative-state lineage is truncated per round (plans.state.RunState,
  run-lifetime retention): states the engine can bound with a
  deterministic history proxy use localCheckpoint (one job, no file
  commit); large/unbounded states keep the durable parquet round-trip
  on tmpfs — the Iceberg-snapshot shape;
- every round commits the frontier snapshot + output increments with
  an atomic manifest (checkpoint.py) → kill/resume is bit-identical
  (north rule).
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ai4orgwebscraper_spark import schemas
from ai4orgwebscraper_spark.frontier import bloom
from ai4orgwebscraper_spark.frontier import checkpoint as ckpt
from ai4orgwebscraper_spark.frontier.fetch import fetch_arrow_fn
from ai4orgwebscraper_spark.functions import urls as U
from ai4orgwebscraper_spark.plans import with_global_seq
from ai4orgwebscraper_spark.plans.state import RunState
from ai4orgwebscraper_spark.sources.corpus import default_hosts

FETCH_LOG_COLS = [f.name for f in schemas.FETCH_LOG.fields]


@dataclass
class CrawlOutputs:
    fetch_log: DataFrame
    documents: DataFrame
    seen: DataFrame
    metrics: dict = field(default_factory=dict)
    # the link graph: (url_hash, host, href) per 200-fetched page —
    # feeds the A3/A4 analytics (operators/crawl_analytics.py). Derived
    # from the run's own fetch results; NOT part of the checkpoint
    # contract (a resumed run carries only its own rounds' outlinks).
    outlinks: DataFrame | None = None
    # incrementally maintained best-depth state: (url_hash, best_depth,
    # node_seq) per fetched URL. A carry-continuation reuses this table
    # directly instead of re-aggregating the full cumulative fetch_log
    # — the continuation's state cost becomes O(distinct urls) read +
    # O(this run's delta) agg, never O(cumulative log rows) per wave.
    fetch_depths: DataFrame | None = None


def frontier_telemetry(frontier: DataFrame, seen: DataFrame) -> dict:
    """Cardinality + skew telemetry (SURVEY.md §2.4 note): HLL distinct
    estimates for frontier/seen (exact counts are a full shuffle at
    10^10 rows; approx_count_distinct is one pass, mergeable), the
    per-host histogram used to size salting, and a count-min sketch of
    the host column (the §2.4 skew detector: one mergeable pass, no
    groupBy shuffle — probe any host's approximate frontier share
    without materializing the histogram)."""
    # ONE aggregation pass over the frontier (ADVICE r04): the HLL
    # distincts, the row count, and the count-min sketch are all
    # mergeable partial aggregates, so they share a single scan.
    # Sketch params: eps=0.1% of rows, 99.9% confidence; seed fixed
    # for determinism. estimateCount over-counts only, never under.
    f = frontier.agg(
        F.approx_count_distinct("url_hash").alias("approx_urls"),
        F.approx_count_distinct("host").alias("approx_hosts"),
        F.count("*").alias("rows"),
        F.expr(
            "count_min_sketch(host, cast(0.001 as double),"
            " cast(0.999 as double), 42)"
        ).alias("host_sketch"),
    ).collect()[0]
    top_hosts = [
        (r["host"], r["n"])
        for r in frontier.groupBy("host")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "host")
        .limit(10)
        .collect()
    ]
    # Driver-side point probes need the JVM bridge, which Spark
    # Connect sessions don't expose (_jvm is None there) — skip the
    # probe dict in that case; the serialized sketch itself is still
    # computed and mergeable.
    sketch_counts: dict = {}
    jvm = getattr(frontier.sparkSession, "_jvm", None)
    if jvm is not None:
        sketch = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
            jvm.java.io.ByteArrayInputStream(bytes(f["host_sketch"]))
        )
        sketch_counts = {h: sketch.estimateCount(h) for h, _ in top_hosts}
    s = seen.agg(F.approx_count_distinct("url_hash").alias("approx_seen")).collect()[0]
    return {
        "frontier_rows": f["rows"],
        "frontier_approx_urls": f["approx_urls"],
        "frontier_approx_hosts": f["approx_hosts"],
        "seen_approx_urls": s["approx_seen"],
        "top_hosts": top_hosts,
        "host_sketch_counts": sketch_counts,
    }


def fetch_metrics(results: DataFrame) -> dict:
    """Per-partition lineage + per-host fetch/parse metrics for one
    round (north rule: 'per-partition lineage and fetch/parse metrics
    logged'). One small aggregation job over the materialized round."""
    per_host = {
        r["host"]: {
            "fetched": r["fetched"],
            "ok": r["ok"],
            "errors": r["errors"],
            "avg_latency_ms": round(r["avg_latency_ms"], 2),
            "spans": r["spans"],
        }
        for r in results.groupBy("host")
        .agg(
            F.count("*").alias("fetched"),
            F.count(F.when(F.col("status") == 200, 1)).alias("ok"),
            F.count(F.when(F.col("status") != 200, 1)).alias("errors"),
            F.avg("latency_ms").alias("avg_latency_ms"),
            F.sum(F.coalesce(F.size("spans"), F.lit(0))).alias("spans"),
        )
        .collect()
    }
    partitions = {
        str(r["pid"]): r["rows"]
        for r in results.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count("*").alias("rows"))
        .collect()
    }
    return {"per_host": per_host, "partitions": partitions}


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        hosts: list[dict] | None = None,
        default_rps: float = 3.0,
        round_seconds: float = 10.0,
        max_depth: int = 0,
        max_rounds: int = 50,
        reference_mode: bool = False,
        checkpoint_dir: str | None = None,
        salt_buckets: int | None = None,
        collect_metrics: bool = False,
        use_bloom_prefilter: bool | str = "auto",
        rank_scores: DataFrame | None = None,
        rank_scores_tag: str = "",
        refresh_seeds: bool = False,
        trap_guard: bool = False,
    ):
        self.spark = spark
        self.hosts_rows = hosts if hosts is not None else default_hosts()
        self.default_rps = default_rps
        self.round_seconds = round_seconds
        self.max_depth = max_depth
        self.max_rounds = max_rounds
        self.reference_mode = reference_mode
        self.checkpoint_dir = checkpoint_dir
        self.salt_buckets = salt_buckets
        self.collect_metrics = collect_metrics
        self.use_bloom_prefilter = use_bloom_prefilter
        # rank-weighted frontier priority (north rule: "priority queue
        # (depth + host-budget score)"; graph.py's PageRank is the
        # canonical producer): (url_hash, score) joined into each
        # round's frontier; within a depth, higher-scored URLs admit
        # first. Semantics-bearing — resume validation hashes the
        # caller-supplied tag (the score TABLE can be 10^10 rows; its
        # content can't be fingerprinted by collecting).
        self.rank_scores = rank_scores
        self.rank_scores_tag = rank_scores_tag or (
            "scored" if rank_scores is not None else ""
        )
        # recrawl policy (carry mode only — without carry nothing is
        # stale): True = a seed already in the carried seen set is
        # REFETCHED at depth 0 (new fetch_log row, normal politeness
        # clock and seq), and its LIVE outlinks re-offered — genuinely
        # new children enqueue through the usual anti-join, while depth
        # improvements on previously fetched children cascade through
        # the carry relaxation hook. Cached-outlink replay is skipped
        # for refreshed seeds (the live fetch supersedes the cache).
        # The cumulative fetch_log keeps BOTH rows (it is a log);
        # `documents` dedups on doc_id without recency ordering — with
        # the deterministic corpus both rows carry identical spans, and
        # a changed-content deployment would add a latest-round
        # preference there.
        self.refresh_seeds = refresh_seeds
        # spider-trap guard (urls.is_trap_col): when on, trap-shaped
        # URLs are rejected at EVERY frontier entry point — seed
        # intake, in-loop offers, carry-replayed offers — before seen
        # counting, in lockstep with oracle.bfs_crawl(trap_guard=True)
        self.trap_guard = trap_guard
        # run-scoped state: truncated rounds, pinned fetch results and
        # global-seq bases, all kept for the run (lineage-bearing) and
        # released by close()
        self.state = RunState("crawl_state_")
        # semantics-bearing config only (bloom/salting are result-
        # transparent, max_rounds is a stop condition — extending it to
        # continue a crawl is a legitimate resume)
        fp_src = json.dumps(
            {
                "default_rps": self.default_rps,
                "round_seconds": self.round_seconds,
                "max_depth": self.max_depth,
                "rank_scores_tag": self.rank_scores_tag,
                # trap_guard changes which URLs may EVER enter the
                # frontier, so a resume under a different setting
                # would silently diverge — fingerprint it (unlike
                # bloom/salting, which are result-transparent)
                "trap_guard": self.trap_guard,
                "hosts": sorted(
                    (json.dumps(h, sort_keys=True, default=str) for h in self.hosts_rows)
                ),
            },
            sort_keys=True,
        )
        self.config_fingerprint = hashlib.md5(fp_src.encode()).hexdigest()
        self.hosts_df = spark.createDataFrame(self.hosts_rows, schema=schemas.HOSTS)

    # ------------------------------------------------------------------
    def seeds_from_list(self, raw_seeds: list[str]) -> DataFrame:
        rows = [(i, u) for i, u in enumerate(raw_seeds)]
        return self.spark.createDataFrame(rows, schema=schemas.SEEDS)

    def _canonical_seeds(self, seeds: DataFrame) -> DataFrame:
        """normalize (reference app_wrapper.py:13-22) + key + host —
        pure column expressions, fully codegen'd. URLs whose host the
        JVM parser rejects (e.g. a %-encoded byte in the authority —
        possible since the canonicalizer percent-encodes non-ASCII)
        are DROPPED here, the P2 validity predicate applied for real;
        the oracle twin drops exactly when host_py() is falsy, so both
        engines agree instead of diverging on NULL-vs-'' hosts."""
        canon = U.canonicalize_col(F.col("url"))
        out = (
            seeds.select("seed_rank", canon.alias("url"))
            .filter(F.col("url").isNotNull())
            .select(
                U.url_hash_col(F.col("url")).alias("url_hash"),
                "url",
                U.host_col(F.col("url")).alias("host"),
                F.lit(0).alias("depth"),
                F.col("seed_rank"),
            )
            .filter(F.col("host").isNotNull() & (F.col("host") != ""))
        )
        if self.trap_guard:
            out = out.filter(~U.is_trap_col(U.path_col(F.col("url"))))
        return out

    def close(self) -> None:
        """Release run-scoped state: unpersist every cached DataFrame
        the run pinned (per-round fetch results + global-seq bases —
        without this the cache grows linearly with round count, ADVICE
        r01) and delete the spill directory. Call after the
        CrawlOutputs DataFrames have been fully consumed (collected or
        written out) — they read from these caches/files."""
        self.state.close()

    # target rows per fetch task: python-worker spawn is ~0.3-0.5s with
    # reuse off (session.py), so a near-empty late-round batch must not
    # fan out to 2x-parallelism near-empty python workers
    FETCH_ROWS_PER_TASK = 2000

    def _salted_fetch(self, admitted: DataFrame, n_rows: int | None = None) -> DataFrame:
        """Distribute the admitted batch for fetching: salt the host
        hash so one hot host fans out across tasks (SURVEY.md §4.2#1),
        then run the vectorized fetch UDF.

        The salt must SCALE WITH PARALLELISM: a fixed salt caps the hot
        host (40% of the synthetic corpus) at salt_buckets tasks and
        flattens the 8->32-core speedup. Default: 8x parallelism, so
        the hottest (host, salt) cell is ~0.4%/8 of the batch.

        ``n_rows`` (known for free from the global-seq offset pass)
        bounds the fan-out: a 600-row retry round runs 1 python worker,
        not 64 spawns of pandas-import tax."""
        n_parts = 2 * self.spark.sparkContext.defaultParallelism
        if n_rows is not None:
            n_parts = max(
                1,
                min(n_parts, -(-n_rows // self.FETCH_ROWS_PER_TASK)),
            )
        buckets = self.salt_buckets or 8 * self.spark.sparkContext.defaultParallelism
        salted = admitted.withColumn(
            "__salt",
            F.pmod(F.xxhash64("url_hash"), F.lit(buckets)),
        ).repartition(n_parts, F.col("host"), F.col("__salt")).drop("__salt")
        # r6: mapInArrow + numpy page synthesis (fetch_arrow_fn) — the
        # former mapInPandas body looped Python per URL and paid a
        # pandas→Arrow conversion of list-of-dict span cells on the way
        # out; the Arrow path builds the span/outlink buffers directly
        # (exact page parity pinned in tests/test_fetch_vectorized.py)
        return salted.mapInArrow(fetch_arrow_fn, schema=schemas.FETCH_RESULT)

    # ------------------------------------------------------------------
    def run(
        self, seeds: DataFrame, seq_offset: int = 0, carry: CrawlOutputs | None = None
    ) -> CrawlOutputs:
        """``seq_offset`` continues the global sequence (and therefore
        the simulated politeness clock, a pure function of seq) from a
        previous round — the streaming-ingestion handoff runs one
        reference round per admitted micro-batch and passes the
        cumulative admitted count, so stream-fed rounds concatenate
        into EXACTLY the fetch_log of one batch run
        (streaming/seed_stream.py).

        ``carry`` continues a previous BFS crawl with NEW seeds (the
        streaming-BFS handoff, streaming/bfs_stream.py): the previous
        run's CrawlOutputs IS the state — seen set, per-url fetch
        depths (fetch_log), cached outlinks, host clock and the seq
        counter are all derived from it. Seeds already fetched are not
        refetched; instead, depth improvements RELAX through the
        carried link cache: a seed (or any node later re-offered by a
        newly fetched page) that the carried run reached DEEPER gets
        its cached outlinks re-offered at the improved depth + 1,
        cascading through previously fetched nodes up to ``max_depth``
        (``_carry_relax``) — the subtree the old run cut at its depth
        horizon is explored without refetching its interior. The
        cumulative fetched set then equals a single batch BFS over the
        concatenated seed lists (VERDICT r04 next #4), with two
        documented deviations: (1) a relaxed node's fetch_log row
        keeps its ORIGINAL (deeper) fetch depth — the batch run
        records the shallower first-offer depth; (2) like the batch
        engine itself, first-offer-wins: when per-host budget deferral
        reorders depth fronts, batch and incremental first-offer
        depths can differ at the horizon — under ample budgets
        (no cross-round deferral) the sets are equal, which the
        depth-1 and depth-2 equivalence tests pin
        (tests/test_bfs_stream.py). The carried run must have DRAINED
        its frontier (the stream twin's continuations always do):
        seen == fetched + seeds is assumed by the relaxation."""
        if self.reference_mode:
            if carry is not None:
                raise ValueError("carry is a BFS-mode knob (reference mode is depth 0)")
            return self._run_reference(seeds, seq_offset)
        if seq_offset:
            raise ValueError("seq_offset is a reference-mode (single-round) knob")
        return self._run_bfs(seeds, carry=carry)

    # --- reference-parity path ----------------------------------------
    def _run_reference(self, seeds: DataFrame, seq_offset: int = 0) -> CrawlOutputs:
        # seq + simulated clock are pure functions of seed order, so
        # they're assigned on the SLIM frontier and carried through the
        # fetch — no global op ever touches fat span rows. Every seed
        # source (file zipWithIndex, createDataFrame, spark.range) emits
        # rows already in seed_rank order, so the range shuffle is
        # skipped (assume_sorted).
        gap_ms = 1000.0 / self.default_rps
        seq_stats: dict = {}
        frontier = with_global_seq(
            self._canonical_seeds(seeds), ["seed_rank"], seq_col="seq",
            offset=seq_offset, assume_sorted=True, pin_registry=self.state.pinned,
            stats=seq_stats,
        )
        frontier = frontier.withColumn(
            "fetched_at_ms", F.floor(F.col("seq") * F.lit(gap_ms)).cast("long")
        )
        results = self._salted_fetch(
            frontier, n_rows=seq_stats.get("rows")
        ).withColumn("round", F.lit(0))
        fetch_log = results.select(*FETCH_LOG_COLS)
        documents = (
            results.filter(F.col("status") == 200)
            .select(F.col("url_hash").alias("doc_id"), "spans")
            .dropDuplicates(["doc_id"])
        )
        seen = (
            frontier.groupBy("url_hash", "url")
            .agg(F.count("*").alias("multiplicity"))
            .select("url_hash", "url", F.lit(0).alias("first_seen_round"), "multiplicity")
        )
        outlinks = (
            results.filter(F.col("status") == 200)
            .dropDuplicates(["url_hash"])  # reference mode refetches dups
            .select("url_hash", "host", F.explode("outlinks").alias("href"))
        )
        return CrawlOutputs(fetch_log, documents, seen, {"rounds": 1}, outlinks=outlinks)

    # --- scale path: multi-round BFS with politeness --------------------
    # quantization of the rank-weighted priority (oracle lockstep:
    # frontier/oracle.py uses the same constants): within a depth,
    # priority = depth * DEPTH_SCALE - floor(score * SCORE_QUANTUM),
    # so higher-scored URLs run first and depth stays the major key.
    PRIORITY_DEPTH_SCALE = 10**10
    PRIORITY_SCORE_QUANTUM = 1e9

    @staticmethod
    def priority_col():
        """Frontier priority score (north rule: 'priority queue (depth +
        host-budget score)'): lower runs first. Default = depth — pure
        BFS, which is what the normative oracle specifies. With
        ``rank_scores`` the engine uses ``_ranked_priority`` instead
        (deterministic quantized score fold; oracle in lockstep via
        bfs_crawl(rank_scores=...))."""
        return F.col("depth").cast("long")

    def _ranked_priority(self, planned: DataFrame) -> DataFrame:
        """Join (url_hash, score) and fold it under depth. The join is
        keyed on url_hash — co-partitioned with the frontier's own
        layout at scale; AQE broadcasts when the score table is small.
        Missing URLs score 0 (crawled last within their depth).

        rank_scores is deduplicated on url_hash (max score wins,
        deterministic): a caller-supplied score table with duplicate
        keys would otherwise MULTIPLY frontier rows through this left
        join — duplicate fetches, diverging from the oracle whose
        dict keys are inherently unique (ADVICE r04)."""
        uniq = self.rank_scores.groupBy("url_hash").agg(
            F.max("score").alias("score")
        )
        scored = planned.join(uniq, "url_hash", "left")
        prio = F.col("depth").cast("long") * F.lit(
            self.PRIORITY_DEPTH_SCALE
        ) - F.floor(
            F.coalesce(F.col("score"), F.lit(0.0))
            * F.lit(self.PRIORITY_SCORE_QUANTUM)
        ).cast("long")
        return scored.withColumn("priority", prio).drop("score")

    def _host_plan(self, frontier: DataFrame) -> DataFrame:
        """Join per-host politeness config (broadcast — hosts is a small
        dim) and compute admission budget + inter-fetch gap."""
        rs = self.round_seconds
        joined = frontier.join(F.broadcast(self.hosts_df), "host", "left")
        rate = F.coalesce(F.col("rate_limit_rps"), F.lit(self.default_rps))
        budget = F.floor(rate * F.lit(rs))
        budget = F.when(
            F.col("crawl_delay_s").isNotNull(),
            F.least(budget, F.floor(F.lit(rs) / F.col("crawl_delay_s"))),
        ).otherwise(budget)
        gap = F.greatest(F.lit(1000.0) / rate, F.coalesce(F.col("crawl_delay_s"), F.lit(0.0)) * 1000.0)
        return joined.withColumn("__budget", budget).withColumn("__gap_ms", gap)

    def _cached_offers(
        self, parents: DataFrame, carry_links: DataFrame
    ) -> DataFrame:
        """Offers replayed from the carried run's CACHED outlinks —
        the same resolve/validate/robots pipeline as the in-loop offer
        stage, with the parent never refetched. ``parents`` is
        (url_hash, depth, node_seq): carry-fetched nodes whose
        effective depth just improved to ``depth`` (< max_depth).
        Cached outlinks lost their in-page position (outlinks_cum
        explodes without posexplode), so intra-parent order falls back
        to the resolved URL — deterministic, and order only affects
        intra-depth scheduling, never set membership. seed_rank =
        node_seq * 1000 + rank: carry seqs are < this run's seq
        offset, so replayed offers sort ahead of (and disjoint from)
        the run's own offers within a depth."""
        links = parents.join(carry_links, "url_hash").select(
            "node_seq", (F.col("depth") + 1).alias("depth"), "host", "href"
        )
        resolved = links.select(
            "node_seq",
            "depth",
            U.canonicalize_col(
                U.resolve_outlink_col(F.col("host"), F.col("href"))
            ).alias("url"),
        ).filter(F.col("url").isNotNull())
        w = Window.partitionBy("node_seq").orderBy("url")
        offers = (
            resolved.withColumn("__pos", F.row_number().over(w) - 1)
            .select(
                U.url_hash_col(F.col("url")).alias("url_hash"),
                "url",
                U.host_col(F.col("url")).alias("child_host"),
                U.path_col(F.col("url")).alias("__path"),
                "depth",
                (F.col("node_seq") * 1000 + F.col("__pos")).alias("seed_rank"),
            )
            .filter(F.col("child_host").isNotNull() & (F.col("child_host") != ""))
        )
        if self.trap_guard:  # same guard as the in-loop offer stage
            offers = offers.filter(~U.is_trap_col(F.col("__path")))
        offers = (
            offers.join(
                F.broadcast(self.hosts_df.select("host", "robots_disallow")),
                offers.child_host == F.col("host"),
                "left",
            )
            .filter(
                ~F.coalesce(
                    F.exists(
                        "robots_disallow", lambda p: F.col("__path").startswith(p)
                    ),
                    F.lit(False),
                )
            )
            .select(
                "url_hash", "url", F.col("child_host").alias("host"),
                "depth", "seed_rank",
            )
        )
        return offers.groupBy("url_hash", "url", "host").agg(
            F.count("*").alias("multiplicity"),
            F.min("depth").alias("depth"),
            F.min("seed_rank").alias("seed_rank"),
        )

    def _carry_relax(
        self,
        improvements: DataFrame,
        carry_links: DataFrame,
        carry_best: DataFrame,
        excluded_keys: DataFrame,
        first_seen_round: int,
    ):
        """Shortest-depth relaxation through the carried link cache
        (see run()): starting from carry-fetched nodes whose effective
        depth just improved, re-offer cached outlinks at improved
        depth + 1, cascading while improvements keep landing on
        carry-fetched nodes, at most ``max_depth`` steps. Unseen
        children become frontier entries (real fetches at their
        relaxed depth); every replayed offer counts toward seen
        multiplicity, as it would in the equivalent batch run.

        Scale shape: every join is keyed on url_hash (co-partitioned
        with the carry tables' own layout); the improvement set shrinks
        monotonically per step and is bounded by the carried fetch
        count, never the corpus; per-step state is parquet-spilled so
        lineage stays flat. Returns
        (frontier_parts, seen_delta_parts, carry_best)."""
        frontier_parts: list[DataFrame] = []
        deltas: list[DataFrame] = []
        cur = improvements
        for step in range(self.max_depth):
            # apply the improvements to the best-known depth table
            carry_best = self.state.truncate(
                carry_best.unionByName(
                    cur.select(
                        "url_hash",
                        F.col("depth").alias("best_depth"),
                        "node_seq",
                    )
                )
                .groupBy("url_hash")
                .agg(
                    F.min("best_depth").alias("best_depth"),
                    F.min("node_seq").alias("node_seq"),
                ),
                f"carry_best_s{step}", first_seen_round,
            )
            parents = cur.filter(F.col("depth") < F.lit(self.max_depth))
            offers = self.state.truncate(
                self._cached_offers(parents, carry_links),
                f"relax_offers_s{step}", first_seen_round,
            )
            if offers.isEmpty():
                break
            unseen = offers.join(excluded_keys, "url_hash", "left_anti")
            frontier_parts.append(
                unseen.select(
                    "url_hash", "url", "host", "depth", "seed_rank",
                    F.lit(0).alias("attempts"),
                )
            )
            deltas.append(
                offers.select(
                    "url_hash", "url",
                    F.lit(first_seen_round).alias("first_seen_round"),
                    "multiplicity",
                )
            )
            excluded_keys = excluded_keys.unionByName(offers.select("url_hash"))
            cur = self.state.truncate(
                offers.join(carry_best, "url_hash")
                .filter(F.col("depth") < F.col("best_depth"))
                .select("url_hash", "depth", "node_seq"),
                f"relax_improved_s{step}", first_seen_round,
            )
            if cur.isEmpty():
                break
        return frontier_parts, deltas, carry_best

    def _run_bfs(
        self, seeds: DataFrame, carry: CrawlOutputs | None = None
    ) -> CrawlOutputs:
        spark = self.spark
        if carry is not None and self.checkpoint_dir:
            raise ValueError(
                "carry and checkpoint_dir are alternative resume channels;"
                " pass exactly one (carry IS the state)"
            )
        start_round, seq_counter = 0, 0
        fetch_log_cum = spark.createDataFrame([], schemas.FETCH_LOG)
        documents_cum = spark.createDataFrame([], schemas.DOCUMENTS)
        outlinks_cum = spark.createDataFrame(
            [], "url_hash string, host string, href string"
        )
        # The seen set is APPEND-ONLY delta parts (one per round, spilled
        # to parquet): re-aggregating the cumulative table every round is
        # O(rounds x total) shuffle; deltas make each round O(delta) and
        # the multiplicity/first-round aggregation runs ONCE at the end.
        # (Iceberg shape: each delta is an append snapshot.)
        state = (
            ckpt.load_latest(spark, self.checkpoint_dir, self.config_fingerprint)
            if self.checkpoint_dir
            else None
        )
        if state is not None:
            # pre-C6/pre-fingerprint checkpoints can't reach here: their
            # manifests carry config_fingerprint=None and load_latest
            # raises CheckpointMismatch — old dirs are recrawled, never
            # shimmed
            frontier, seen_loaded, fetch_log_cum, documents_cum, start_round, seq_counter = state
            seen_parts = [seen_loaded]
        else:
            canon = self._canonical_seeds(seeds)
            if carry is not None:
                # the previous run's outputs ARE the resume state: the
                # new run's rounds/clock/seq continue after them, and
                # its cumulative tables start from them.
                start_round = int(carry.metrics.get("rounds", 0))
                seq_counter = int(
                    carry.metrics.get("fetched", carry.fetch_log.count())
                )
                fetch_log_cum = carry.fetch_log.select(*FETCH_LOG_COLS)
                documents_cum = carry.documents.select("doc_id", "spans")
                if carry.outlinks is not None:
                    outlinks_cum = carry.outlinks.select("url_hash", "host", "href")
            # dedup seeds: first occurrence (min seed_rank) wins; every
            # occurrence counts toward multiplicity (oracle semantics)
            seed_delta = (
                canon.groupBy("url_hash", "url")
                .agg(F.count("*").alias("multiplicity"))
                .select(
                    "url_hash", "url",
                    F.lit(start_round).alias("first_seen_round"),
                    "multiplicity",
                )
            )
            seen_parts = [self.state.truncate(seed_delta, "seen_delta", -1)]
            frontier = (
                canon.groupBy("url_hash", "url", "host")
                .agg(F.min("seed_rank").alias("seed_rank"), F.min("depth").alias("depth"))
                .select(
                    "url_hash", "url", "host", "depth", "seed_rank",
                    F.lit(0).alias("attempts"),
                )
            )
            if carry is not None:
                prev_seen = self.state.truncate(
                    carry.seen.select(
                        "url_hash", "url", "first_seen_round", "multiplicity"
                    ),
                    "seen_carry", start_round - 1,
                )
                # already-seen seeds are never refetched (batch-BFS
                # equivalence: one fetch per URL) — unless the recrawl
                # policy is on, in which case stale seeds re-enter the
                # frontier at depth 0 and fetch LIVE
                if not self.refresh_seeds:
                    frontier = frontier.join(
                        prev_seen.select("url_hash"), "url_hash", "left_anti"
                    )
                # carry state for depth relaxation (run() docstring):
                # the cached link graph and the best-known fetch depth
                # (+ carry seq, the deterministic seed_rank base) of
                # every carry-fetched node
                carry_links = self.state.truncate(
                    carry.outlinks.select("url_hash", "host", "href")
                    if carry.outlinks is not None
                    else spark.createDataFrame(
                        [], "url_hash string, host string, href string"
                    ),
                    "carry_links", start_round - 1,
                )
                if carry.fetch_depths is not None:
                    # incrementally maintained by the previous run —
                    # no re-aggregation of the cumulative log
                    carry_best = self.state.truncate(
                        carry.fetch_depths.select(
                            "url_hash", "best_depth", "node_seq"
                        ),
                        "carry_best", start_round - 1,
                    )
                else:
                    carry_best = self.state.truncate(
                        carry.fetch_log.groupBy("url_hash").agg(
                            F.min("depth").alias("best_depth"),
                            F.min("seq").alias("node_seq"),
                        ),
                        "carry_best", start_round - 1,
                    )
                # seeds the carried run reached DEEPER improve to depth
                # 0 and relax their cached subtrees
                seeds_improved = (
                    canon.select("url_hash").distinct()
                    .join(carry_best, "url_hash")
                    .filter(F.col("best_depth") > 0)
                    .select("url_hash", F.lit(0).alias("depth"), "node_seq")
                )
                if self.refresh_seeds:
                    # refreshed seeds fetch LIVE (they're back in the
                    # frontier), which re-offers their current
                    # outlinks; only record the depth-0 improvement so
                    # later offers can't spuriously replay the stale
                    # cache over the fresh fetch
                    carry_best = self.state.truncate(
                        carry_best.unionByName(
                            seeds_improved.select(
                                "url_hash",
                                F.col("depth").alias("best_depth"),
                                "node_seq",
                            )
                        )
                        .groupBy("url_hash")
                        .agg(
                            F.min("best_depth").alias("best_depth"),
                            F.min("node_seq").alias("node_seq"),
                        ),
                        "carry_best_refresh", start_round - 1,
                    )
                    seen_parts = [prev_seen, *seen_parts]
                else:
                    excluded = prev_seen.select("url_hash").unionByName(
                        seed_delta.select("url_hash")
                    )
                    fparts, deltas, carry_best = self._carry_relax(
                        seeds_improved, carry_links, carry_best, excluded,
                        start_round,
                    )
                    for p in fparts:
                        frontier = frontier.unionByName(p)
                    seen_parts = [prev_seen, *seen_parts, *deltas]

        # seq floor of THIS run's fetches (carry rows sit below it) —
        # the pruning key for the incremental fetch_depths maintenance
        # at the end of the run. Checkpoint resumes aggregate the whole
        # loaded log (0): same one-time cost as the seen aggregation.
        run_seq0 = seq_counter if carry is not None else 0

        # deterministic crawl-history size proxy (fetches x max
        # fan-out): routes truncation between localCheckpoint and
        # parquet (r6) and drives the bloom auto-threshold below
        seen_est = seq_counter * 5

        # cross-round politeness clock (VERDICT r01 item 8): per-host
        # last fetched_at_ms, carried across rounds so an inter-round
        # gap can never undercut crawl_delay. On resume this rebuilds
        # from the loaded cumulative log (one tiny agg); fresh starts
        # get the same agg over the empty log — identical code path.
        host_clock = self.state.truncate(
            fetch_log_cum.groupBy("host").agg(F.max("fetched_at_ms").alias("__last_ms")),
            "host_clock", start_round - 1, est_rows=max(seen_est, 1),
        )

        def _seen_keys() -> DataFrame:
            out = seen_parts[0].select("url_hash")
            for p in seen_parts[1:]:
                out = out.unionByName(p.select("url_hash"))
            return out

        # incremental bloom shard DataFrames: one per delta part, built
        # from the small delta — never a full-seen rebuild, never
        # collected to the driver (shard-co-partitioned membership,
        # frontier/bloom.py). Each part is parquet-spilled so its
        # lineage doesn't chain across rounds.
        #
        # "auto" is a real threshold policy: the prefilter only pays for
        # itself once the seen set is large enough that the exact
        # anti-join's build side hurts — below the threshold the two
        # extra Python stages per round (shard build + cogroup test)
        # cost more than they save. The estimate is a deterministic
        # upper bound (fetches x max fan-out), so activation — like
        # everything else here — is a pure function of crawl history;
        # and the prefilter is result-transparent either way.
        bloom_parts: list = []
        bloom_threshold = int(
            os.environ.get("SPARK_GRAFT_BLOOM_AUTO_THRESHOLD", "1000000")
        )
        bloom_active = self.use_bloom_prefilter is True

        def _bloom_catchup() -> None:
            for i, p in enumerate(seen_parts):
                if i >= len(bloom_parts):
                    bloom_parts.append(
                        self.state.truncate(
                            bloom.build_bloom_shards(p), f"bloom_init{i}", 0
                        )
                    )

        if bloom_active:
            _bloom_catchup()

        rounds_done = start_round
        round_metrics: dict[str, dict] = {}
        fresh_start = state is None
        debug_timing = os.environ.get("SPARK_GRAFT_DEBUG_TIMING") == "1"

        def _tick(label, t0_box):
            if debug_timing:
                now = time.time()
                print(f"    [round timing] {label}: {now - t0_box[0]:.2f}s", flush=True)
                t0_box[0] = now

        # checkpoint resume shares max_rounds with the original run (a
        # global stop condition); carry-continuation gets its own budget
        # — each admitted seed wave is a fresh crawl over new work
        end_round = (
            start_round + self.max_rounds if carry is not None else self.max_rounds
        )
        for rnd in range(start_round, end_round):
            _t = [time.time()]
            # SLIM iterative state (frontier/seen) is localCheckpointed
            # every round: it truncates lineage, which plain persist does
            # not — persisted-only state makes plan analysis and stage
            # counts grow superlinearly with round number. The FAT
            # tables (fetch results) use columnar persist instead (~10x
            # faster materialization) since their lineage is flat.
            frontier = self.state.truncate(
                frontier, "frontier", rnd,
                # round 0 of a fresh crawl has no history proxy yet —
                # unbounded seed lists keep the durable parquet path
                est_rows=seen_est if seen_est > 0 else None,
            )
            _tick("frontier ckpt", _t)
            if frontier.isEmpty():
                break
            _tick("isEmpty", _t)
            planned = self._host_plan(frontier)
            if self.rank_scores is not None:
                planned = self._ranked_priority(planned)
            else:
                planned = planned.withColumn("priority", self.priority_col())
            w = Window.partitionBy("host").orderBy("priority", "seed_rank")
            planned = planned.withColumn("__rn", F.row_number().over(w))
            admitted = planned.filter(F.col("__rn") <= F.col("__budget"))
            rest = planned.filter(F.col("__rn") > F.col("__budget")).select(
                "url_hash", "url", "host", "depth", "seed_rank", "attempts"
            )
            round_base = int(rnd * self.round_seconds * 1000)
            # per-host round start = max(round_base, last + ceil(gap)):
            # the cross-round politeness clock (host_clock is tiny —
            # one row per host ever fetched)
            start_col = F.greatest(
                F.lit(round_base).cast("long"),
                F.coalesce(
                    F.col("__last_ms") + F.ceil(F.col("__gap_ms")).cast("long"),
                    F.lit(round_base).cast("long"),
                ),
            )
            admitted = (
                admitted.join(host_clock, "host", "left")
                .withColumn(
                    "fetched_at_ms",
                    (start_col + F.floor((F.col("__rn") - 1) * F.col("__gap_ms"))).cast("long"),
                )
                .select(
                    "url_hash", "url", "host", "depth", "priority", "seed_rank",
                    "attempts", "fetched_at_ms",
                    # C7 session state rides the admitted row into the
                    # fetch (hosts absent from the table need no auth)
                    F.coalesce(F.col("auth_required"), F.lit(False)).alias("auth_required"),
                    F.col("session_token"),
                )
            )
            # global seq on the slim admitted rows, pre-fetch; the
            # offset pass hands back the exact admitted count for free
            seq_stats: dict = {}
            admitted = with_global_seq(
                admitted, ["priority", "seed_rank"], seq_col="seq",
                offset=seq_counter, pin_registry=self.state.pinned, stats=seq_stats,
            )
            _tick("admission+seq", _t)

            # results stay persisted for the whole run: every later
            # consumer (cum unions, final collects) reads the cache, and
            # memory is bounded by the crawl's own output size (at true
            # 10^10 scale checkpoint mode streams each round to parquet
            # instead)
            results = self.state.pin(
                self._salted_fetch(admitted, n_rows=seq_stats.get("rows"))
                .withColumn("round", F.lit(rnd))
            )
            n_fetched = results.count()
            _tick(f"fetch ({n_fetched})", _t)
            if n_fetched == 0 and rest.isEmpty():
                break
            seq_counter += n_fetched
            rounds_done = rnd + 1
            if self.collect_metrics:
                round_metrics[str(rnd)] = fetch_metrics(results)

            fetch_log_cum = fetch_log_cum.unionByName(results.select(*FETCH_LOG_COLS))
            documents_cum = documents_cum.unionByName(
                results.filter(F.col("status") == 200).select(
                    F.col("url_hash").alias("doc_id"), "spans"
                )
            )
            outlinks_cum = outlinks_cum.unionByName(
                results.filter(F.col("status") == 200).select(
                    "url_hash", "host", F.explode("outlinks").alias("href")
                )
            )

            # --- discover outlinks (only below max_depth) ---------------
            parents = results.filter(
                (F.col("status") == 200) & (F.col("depth") < F.lit(self.max_depth))
            )
            links = parents.select(
                "seq", "host", "depth", F.posexplode_outer("outlinks").alias("pos", "href")
            ).filter(F.col("href").isNotNull())
            resolved = links.select(
                "seq",
                "depth",
                "pos",
                U.canonicalize_col(U.resolve_outlink_col(F.col("host"), F.col("href"))).alias("url"),
            ).filter(F.col("url").isNotNull())
            offers = resolved.select(
                U.url_hash_col(F.col("url")).alias("url_hash"),
                "url",
                U.host_col(F.col("url")).alias("child_host"),
                U.path_col(F.col("url")).alias("__path"),
                (F.col("depth") + 1).alias("depth"),
                (F.col("seq") * 1000 + F.col("pos")).alias("seed_rank"),
            ).filter(  # P2 validity: drop host-less outlinks (oracle twin:
                # host_py() falsy) so NULL hosts never enter the frontier
                F.col("child_host").isNotNull() & (F.col("child_host") != "")
            )
            if self.trap_guard:  # trap-shaped offers never reach seen
                offers = offers.filter(~U.is_trap_col(F.col("__path")))
            # robots filter BEFORE seen counting (oracle semantics)
            offers = (
                offers.join(
                    F.broadcast(self.hosts_df.select("host", "robots_disallow")),
                    offers.child_host == F.col("host"),
                    "left",
                )
                .filter(
                    ~F.coalesce(
                        F.exists(
                            "robots_disallow", lambda p: F.col("__path").startswith(p)
                        ),
                        F.lit(False),
                    )
                )
                .select("url_hash", "url", F.col("child_host").alias("host"), "depth", "seed_rank")
            )

            # ONE spill serves both roles: the dedup candidate set and
            # the round's seen delta (projection)
            offer_counts = self.state.truncate(
                offers.groupBy("url_hash", "url", "host")
                .agg(F.count("*").alias("multiplicity"), F.min("depth").alias("depth"),
                     F.min("seed_rank").alias("seed_rank"))
                .withColumn("first_seen_round", F.lit(rnd)),
                "offer_counts", rnd, est_rows=n_fetched * 5,
            )
            _tick("offers", _t)

            # enqueue first discoveries only. The partitioned bloom
            # prefilter (frontier/bloom.py) splits candidates: bloom-
            # absent rows are PROVABLY new (no false negatives) and skip
            # the join entirely; only bloom-positive rows hit the exact
            # anti-join against the delta keys (the authority).
            # Result-transparent by construction — golden tests pass
            # with it on or off.
            if self.use_bloom_prefilter == "auto" and not bloom_active and seen_est > bloom_threshold:
                bloom_active = True
                _bloom_catchup()  # backfill shard parts for prior deltas
            if bloom_active:
                flagged = bloom.prefilter_new(offer_counts, bloom_parts)
                definitely_new = flagged.filter(~F.col("__maybe_seen")).drop("__maybe_seen")
                maybe_seen_rows = flagged.filter(F.col("__maybe_seen")).drop("__maybe_seen")
                new_urls = definitely_new.unionByName(
                    maybe_seen_rows.join(_seen_keys(), "url_hash", "left_anti")
                )
            else:
                new_urls = offer_counts.join(_seen_keys(), "url_hash", "left_anti")
            # C6 retry/fallback (reference web_scraper.py:46-48): a 403
            # from the plain fetcher re-enqueues ONCE with attempts=1 —
            # fetched through the JS fetcher in a later round (round-
            # delayed backoff), original order keys kept so replay is
            # exact. Bypasses the seen anti-join deliberately: the URL
            # is already seen, this is a refetch.
            retry = results.filter(
                (F.col("status") == 403) & (F.col("attempts") == 0)
            ).select(
                "url_hash", "url", "host", "depth", "seed_rank",
                (F.col("attempts") + 1).alias("attempts"),
            )
            frontier = rest.unionByName(
                new_urls.select(
                    "url_hash", "url", "host", "depth", "seed_rank",
                    F.lit(0).alias("attempts"),
                )
            ).unionByName(retry)
            # carry-mode depth relaxation (run() docstring): this
            # round's offers that landed on a carry-fetched node at an
            # IMPROVED depth re-open that node's cached subtree — the
            # children the carried run cut at its depth horizon enter
            # the frontier without refetching the node itself. Keys
            # already offered this round are excluded so a child is
            # fetched through exactly one path.
            if carry is not None:
                imp = self.state.truncate(
                    offer_counts.join(carry_best, "url_hash")
                    .filter(F.col("depth") < F.col("best_depth"))
                    .select("url_hash", "depth", "node_seq"),
                    "carry_imp", rnd,
                )
                if not imp.isEmpty():
                    excl = _seen_keys().unionByName(
                        offer_counts.select("url_hash")
                    )
                    fparts, rdeltas, carry_best = self._carry_relax(
                        imp, carry_links, carry_best, excl, rnd
                    )
                    for p in fparts:
                        frontier = frontier.unionByName(p)
                    for d in rdeltas:
                        # keep seen_parts and bloom shard parts in
                        # lockstep — a seen part without a shard would
                        # make the prefilter claim its keys are
                        # provably new (false negatives break dedup)
                        seen_parts.append(d)
                        if bloom_active:
                            bloom_parts.append(
                                self.state.truncate(
                                    bloom.build_bloom_shards(d),
                                    f"bloom_relax{len(seen_parts)}", rnd,
                                )
                            )
            # advance the cross-round clock with this round's fetches
            host_clock = self.state.truncate(
                host_clock.unionByName(
                    results.groupBy("host").agg(
                        F.max("fetched_at_ms").alias("__last_ms")
                    )
                )
                .groupBy("host")
                .agg(F.max("__last_ms").alias("__last_ms")),
                "host_clock", rnd, est_rows=max(seen_est, 1),
            )
            seen_delta = offer_counts.select(
                "url_hash", "url", "first_seen_round", "multiplicity"
            )
            seen_parts.append(seen_delta)
            seen_est += n_fetched * 5
            if bloom_active:
                # expected cardinality from this round's fetch volume
                # (outlink fan-out <= 5) — skips a count() job
                bloom_parts.append(
                    self.state.truncate(
                        bloom.build_bloom_shards(
                            seen_delta,
                            expected_per_shard=max(
                                64, n_fetched * 5 // bloom.DEFAULT_SHARDS
                            ),
                        ),
                        "bloom", rnd,
                    )
                )
            _tick("seen delta", _t)

            if self.checkpoint_dir:
                # round 0 of a fresh run folds the seed delta into the
                # saved increment so a resume reconstructs the full seen
                # key set (deltas are unioned on load)
                seen_inc = (
                    seen_parts[0].unionByName(seen_delta)
                    if (fresh_start and rnd == 0)
                    else seen_delta
                )
                ckpt.save_round(
                    self.checkpoint_dir, rnd, seq_counter, frontier, seen_inc,
                    results.select(*FETCH_LOG_COLS),
                    results.filter(F.col("status") == 200).select(
                        F.col("url_hash").alias("doc_id"), "spans"
                    ),
                    extra_manifest={"metrics": round_metrics.get(str(rnd))},
                    config_fingerprint=self.config_fingerprint,
                )

        # the ONLY cumulative seen aggregation — once, at the end
        seen_all = seen_parts[0]
        for p in seen_parts[1:]:
            seen_all = seen_all.unionByName(p)
        seen = (
            seen_all.groupBy("url_hash", "url")
            .agg(
                F.min("first_seen_round").alias("first_seen_round"),
                F.sum("multiplicity").alias("multiplicity"),
            )
            .select("url_hash", "url", "first_seen_round", "multiplicity")
        )
        documents = documents_cum.dropDuplicates(["doc_id"])
        # incrementally maintain the best-depth state: this run's rows
        # (seq >= the carried offset — the filter prunes the carried
        # parquet leg) min-agged and folded into the carried table, so
        # the NEXT continuation never re-aggregates the cumulative log
        new_depths = (
            fetch_log_cum.filter(F.col("seq") >= F.lit(run_seq0))
            .groupBy("url_hash")
            .agg(
                F.min("depth").alias("best_depth"),
                F.min("seq").alias("node_seq"),
            )
        )
        if carry is not None:
            fetch_depths = (
                carry_best.unionByName(new_depths)
                .groupBy("url_hash")
                .agg(
                    F.min("best_depth").alias("best_depth"),
                    F.min("node_seq").alias("node_seq"),
                )
            )
        else:
            fetch_depths = new_depths
        return CrawlOutputs(
            fetch_log_cum, documents, seen,
            {"rounds": rounds_done, "fetched": seq_counter, "round_metrics": round_metrics},
            outlinks=outlinks_cum,
            fetch_depths=fetch_depths,
        )


def throughput_urls_per_sec(n_urls: int, wall_seconds: float) -> float:
    if wall_seconds <= 0:
        return math.inf
    return n_urls / wall_seconds
