"""The benchmark workloads, driven through the package's public entry points.

``crawl_bulk``: a reference-mode crawl (canonicalize -> global seq ->
salted host repartition -> Arrow fetch) of 60k generated seeds, 40% on
one hot host. One pass = one ``CrawlEngine.run`` and its fetch_log.

``query_suite``: 8 headline operator queries over freshly generated
tables, in an order shuffled by the run seed. One pass = every leg once.

Each workload offers ``measure`` (untraced passes, returns their wall
times) and ``trace`` (one pass with per-leg or per-phase job
descriptions, plus replays of single layers). Outputs are checked after
every pass, outside the timed region, against the repo's own oracles:
the page generator behind ``frontier.oracle.reference_crawl`` and
``oracle_check.compare_one``.
"""

from __future__ import annotations

import inspect
import os
import random
import time

import datagen

now = time.perf_counter

# the legs of one pass, each with the end-to-end family it belongs to:
# 8 of bench.py's 18 headline legs, picked so that a warm-up pass and a
# timed pass fit a run's budget on 4 shared cores. Left out for time:
# q6_forecast_revenue, q_top_customers, q_events_by_type,
# q_dedup_ngram_jaccard, q_dedup_segments, q_embedding_neardup,
# q_bpe_merges, kmeans_embeddings and the iterative legs
# q_dedup_clusters and q_pagerank (so the tokenizer, clustering and
# graph modules and plans.iterate go unmeasured).
LEGS = {
    "q1_pricing_summary": "relational",
    "q_supplier_part_join": "relational",
    "q_events_sessionized": "relational",
    "q_word_topk": "text",
    "q_dedup_minhash_lsh": "text",
    "q_bm25_search": "text",
    "q_knn_bruteforce": "vector",
    "q_knn_ivf": "vector",
}
OPERATOR_MODULES = ("relational", "analytics", "text", "dedup", "similarity", "retrieval")
SCAN_TABLES = ("lineitem", "events", "documents", "embeddings")

SIZES = {
    "full": {"bulk_seeds": 60_000, "replay_seeds": 20_000, "query_sf": 0.001},
    "tiny": {"bulk_seeds": 3_000, "replay_seeds": 2_000, "query_sf": 0.001},
}

# fetch_log rows whose seq is a multiple of this are collected in the
# timed job and checked one by one against the page generator
SAMPLE_EVERY = 1009
LOG_COLS = (
    "seq", "round", "depth", "url_hash", "url", "host", "status", "error",
    "title", "fetched_at_ms", "attempts", "fetcher",
)


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_s() -> float:
    """CPU seconds used so far by this process and every process under
    it (the JVM, the Python worker daemon and its workers). Finished
    processes count through their parent's cutime/cstime."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(pid)] = int(fields[1])
        ticks[int(pid)] = sum(int(x) for x in fields[11:15])
    me = os.getpid()
    mine = {me}
    grew = True
    while grew:
        kids = {p for p, pp in parent.items() if pp in mine and p not in mine}
        grew = bool(kids)
        mine |= kids
    t = os.times()
    return t.user + t.system + sum(ticks[p] for p in mine if p != me) / _TICK


def tree_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Tally:
    """Counts operations and remembers which failed. An operation fails
    if it raises or if its output check fails."""

    def __init__(self, plant_bad_output: bool = False):
        self.attempted = 0
        self.bad: dict[str, str] = {}
        self.plant = plant_bad_output

    def op(self, name: str, fn):
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # counted, reported, and the run goes on
            self.bad[name] = f"raised {type(e).__name__}: {e}"[:300]
            return None

    def check(self, name: str, ok: bool, why: str) -> None:
        if not ok:
            self.bad.setdefault(name, why[:300])

    def planted(self, rows: list) -> list:
        """With --plant-bad-output, corrupt the first checked output once."""
        if self.plant and rows:
            self.plant = False
            return rows[:-1]
        return rows


class Workload:
    def warm_up(self) -> None:
        """Untimed work run once before the first pass: the first run of
        a plan in a JVM pays for code generation and JIT, which a timed
        pass should not."""

    def measure(self, tally: Tally, seconds: float) -> list[dict]:
        """About ``seconds`` of untraced passes. The count follows from
        ``seconds`` and the workload's nominal ``PASS_S`` alone, not from
        how fast the passes run: pass CPU still falls over the first
        passes of a JVM, so runs with different pass counts would report
        medians of different passes."""
        n = max(1, round(seconds / self.PASS_S))
        return [self._pass(tally, k, traced=False) for k in range(n)]


class CrawlBulk(Workload):
    name = "crawl_bulk"
    PASS_S = 5.0

    def __init__(self, bench):
        from ai4orgwebscraper_spark.frontier.engine import CrawlEngine
        from ai4orgwebscraper_spark.functions.urls import canonicalize_py, host_py

        self.bench = bench
        rps = inspect.signature(CrawlEngine).parameters["default_rps"].default
        self.gap_ms = 1000.0 / rps
        raw = datagen.seed_urls(bench.sizes["bulk_seeds"], bench.seed)
        self.seeds_path = bench.path("seeds.parquet")
        datagen.write_seeds(self.seeds_path, raw)
        # the reference oracle's seed filter (frontier.oracle.reference_crawl)
        self.canonical = [c for c in map(canonicalize_py, raw) if c and host_py(c)]

    def warm_up(self) -> None:
        """One unchecked crawl of the seeds."""
        from ai4orgwebscraper_spark.frontier.engine import CrawlEngine

        eng = CrawlEngine(self.bench.spark, reference_mode=True)
        eng.run(self.bench.spark.read.parquet(self.seeds_path)).fetch_log.count()
        eng.close()

    def expected_row(self, seq: int) -> tuple:
        """``frontier.oracle.reference_crawl``'s fetch_log row ``seq``,
        built for that row alone."""
        from ai4orgwebscraper_spark.sources.corpus import page_for

        canon = self.canonical[seq]
        page = page_for(canon)
        return (seq, 0, 0, page.url_hash, canon, page.host, page.status, page.error,
                page.title, int(seq * self.gap_ms), 0, "plain")

    def _pass(self, tally: Tally, k: int, traced: bool) -> dict:
        from pyspark.sql import functions as F

        from ai4orgwebscraper_spark.frontier.engine import CrawlEngine

        spark = self.bench.spark
        seeds = spark.read.parquet(self.seeds_path)
        res: dict = {}
        if traced:
            spark.sparkContext.setJobDescription("engine")

        def crawl():
            cpu0 = cpu_s()
            t0 = now()
            eng = CrawlEngine(spark, reference_mode=True)
            out = eng.run(seeds)
            sample = F.when(F.col("seq") % SAMPLE_EVERY == 0, F.struct(*LOG_COLS))
            got = out.fetch_log.agg(
                F.count("*").alias("n"), F.collect_list(sample).alias("sample")
            ).collect()[0]
            res["pass_s"] = now() - t0
            res["pass_cpu_s"] = cpu_s() - cpu0
            spark.sparkContext.setJobDescription(None)
            eng.close()
            return got["n"], [tuple(r) for r in got["sample"]]

        got = tally.op(f"bulk#{k}", crawl)
        spark.sparkContext.setJobDescription(None)
        if got is not None:
            n, sample = got
            res["fetched"] = n
            tally.check(f"bulk#{k}", n == len(self.canonical),
                        f"fetched {n} rows, oracle {len(self.canonical)}")
            want = [self.expected_row(i) for i in range(0, len(self.canonical), SAMPLE_EVERY)]
            got_rows = tally.planted(sorted(sample))
            bad = [w for w, g in zip(want, got_rows) if w != g]
            tally.check(f"bulk#{k}", len(got_rows) == len(want) and not bad,
                        f"{len(got_rows)} sampled rows, oracle {len(want)};"
                        f" first mismatch: {bad[:1]}")
        return res

    @staticmethod
    def detail(passes: list[dict]) -> dict:
        done = [p for p in passes if "pass_s" in p and "fetched" in p]
        if not done:
            return {}
        p = sorted(done, key=lambda p: p["pass_s"])[len(done) // 2]
        return {"bulk_urls_per_s": p["fetched"] / p["pass_s"], "bulk_fetched": p["fetched"]}

    def trace(self, tally: Tally) -> dict:
        p = self._pass(tally, 99, traced=True)
        layers = {}
        if "pass_s" in p and "fetched" in p:
            layers["trace.pass_s"] = p["pass_s"]
            layers["engine.urls_per_s"] = p["fetched"] / p["pass_s"]
        layers.update(self._replay_frontier_layers(tally))
        return layers

    def _replay_bloom(self, keys) -> dict:
        """Bloom build over ``keys`` (a seen set), and a probe of those
        keys plus as many unseen ones."""
        from pyspark.sql import functions as F

        from ai4orgwebscraper_spark.frontier.bloom import build_bloom_shards, prefilter_new

        spark = self.bench.spark
        sc = spark.sparkContext
        n_seen = keys.count()
        r: dict = {"bloom.build_keys": n_seen}

        sc.setJobDescription("bloom.build")
        t0 = now()
        shards = build_bloom_shards(keys).persist()
        shards.count()
        r["bloom.build_s"] = now() - t0

        unseen = spark.range(n_seen).select(
            F.md5(F.concat(F.lit(f"unseen|{self.bench.seed}|"), F.col("id"))).alias("url_hash")
        )
        sc.setJobDescription("bloom.probe")
        t0 = now()
        agg = prefilter_new(keys.unionByName(unseen), shards).agg(
            F.count("*").alias("n"), F.sum(F.col("__maybe_seen").cast("long")).alias("maybe")
        ).collect()[0]
        r["bloom.probe_s"] = now() - t0
        r["bloom.probe_keys"] = agg["n"]
        r["bloom.maybe_seen_ratio"] = (agg["maybe"] or 0) / max(agg["n"], 1)
        sc.setJobDescription(None)
        shards.unpersist()
        return r

    def _replay_frontier_layers(self, tally: Tally) -> dict:
        """canonicalize -> with_global_seq -> fetch on a smaller seed
        list, each step timed into a noop sink; then the fetched round
        saved as a checkpoint and loaded back, and its keys put through
        the bloom seen filter."""
        from pyspark.sql import functions as F

        from ai4orgwebscraper_spark import schemas
        from ai4orgwebscraper_spark.frontier import checkpoint
        from ai4orgwebscraper_spark.frontier.fetch import fetch_arrow_fn
        from ai4orgwebscraper_spark.functions import urls as U
        from ai4orgwebscraper_spark.plans import with_global_seq

        spark = self.bench.spark
        sc = spark.sparkContext
        path = self.bench.path("replay_seeds.parquet")
        datagen.write_seeds(path, datagen.seed_urls(self.bench.sizes["replay_seeds"], self.bench.seed))
        r: dict = {}

        def replay():
            canon = (
                spark.read.parquet(path)
                .select("seed_rank", U.canonicalize_col(F.col("url")).alias("url"))
                .filter(F.col("url").isNotNull())
                .select(
                    U.url_hash_col(F.col("url")).alias("url_hash"), "url",
                    U.host_col(F.col("url")).alias("host"), F.lit(0).alias("depth"), "seed_rank",
                )
            )
            sc.setJobDescription("urls")
            t0 = now()
            _noop(canon)
            r["urls.canonicalize_s"] = now() - t0

            pins: list = []
            stats: dict = {}
            sc.setJobDescription("global_seq")
            t0 = now()
            seq = with_global_seq(
                canon, ["seed_rank"], seq_col="seq", assume_sorted=True,
                pin_registry=pins, stats=stats,
            ).withColumn("fetched_at_ms", F.col("seq") * F.lit(10))
            _noop(seq)
            r["global_seq.s"] = now() - t0
            r["global_seq.rows"] = r["urls.rows"] = stats.get("rows", 0)

            # the engine's fetch distribution: host hash salted so the
            # hot host spreads over many tasks
            sc.setJobDescription("fetch")
            par = sc.defaultParallelism
            salt = F.pmod(F.xxhash64("url_hash"), F.lit(8 * par))
            fetched = (
                seq.withColumn("__salt", salt)
                .repartition(2 * par, "host", "__salt")
                .drop("__salt")
                .mapInArrow(fetch_arrow_fn, schema=schemas.FETCH_RESULT)
            )
            t0 = now()
            _noop(fetched)
            r["fetch.s"] = now() - t0
            sc.setJobDescription(None)
            r["fetch.rows"] = r["global_seq.rows"]

            # the round's state, materialised once so that the timed
            # save and load do checkpoint I/O only
            staged = self.bench.path("staged")
            fetched.write.parquet(os.path.join(staged, "fetched"))
            fetched = spark.read.parquet(os.path.join(staged, "fetched"))
            frames = (
                fetched.filter(F.col("status") != 200).select("url_hash", "url", "host", "depth"),
                fetched.select("url_hash", "url", F.lit(0).alias("first_seen_round")),
                fetched.withColumn("round", F.lit(0)).select(*LOG_COLS),
                fetched.filter(F.col("status") == 200)
                .select(F.col("url_hash").alias("doc_id"), "spans"),
            )
            ckpt = self.bench.path("checkpoint_replay")
            sc.setJobDescription("checkpoint.save")
            t0 = now()
            checkpoint.save_round(ckpt, 0, r["global_seq.rows"], *frames)
            r["checkpoint.save_s"] = now() - t0
            r["checkpoint.bytes"] = tree_bytes(ckpt)
            sc.setJobDescription("checkpoint.load")
            t0 = now()
            for df in checkpoint.load_latest(spark, ckpt)[:4]:
                df.count()
            r["checkpoint.load_s"] = now() - t0
            sc.setJobDescription(None)
            r.update(self._replay_bloom(frames[1].select("url_hash")))
            for p in pins:
                p.unpersist()

        tally.op("frontier_replay", replay)
        sc.setJobDescription(None)
        return r

    @staticmethod
    def fold_layers(folded: dict) -> dict:
        import eventlog

        r: dict = {}
        eng = folded.get("engine", {})
        for k in ("jobs", "tasks", "task_s", "jvm_cpu_s", "gc_s", "shuffle_bytes",
                  "python_init_s", "python_run_s", "python_bytes", "result_bytes"):
            r[f"engine.{k}"] = eng.get(k, 0)
        r["global_seq.jobs"] = folded.get("global_seq", {}).get("jobs", 0)
        fetch = eventlog.combine(folded, ["fetch"])
        for k in ("python_bytes", "python_init_s", "python_run_s"):
            r[f"fetch.{k}"] = fetch.get(k, 0)
        return r


class _Collected:
    """The already-collected output of a leg, in the shape
    ``oracle_check.compare_one`` consumes (``columns`` + ``collect()``)."""

    def __init__(self, columns, rows):
        self.columns, self._rows = columns, rows

    def collect(self):
        return self._rows


class QuerySuite(Workload):
    name = "query_suite"
    PASS_S = 8.0

    def __init__(self, bench):
        import __spark_entry__ as entry

        self.bench = bench
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.order = list(LEGS)
        random.Random(bench.seed).shuffle(self.order)

    def warm_up(self) -> None:
        """One pass over its own tables; its outputs are checked but not
        counted."""
        self._pass(Tally(), "warm", traced=False)

    def _pass(self, tally: Tally, k, traced: bool) -> dict:
        from ai4orgwebscraper_spark.oracle_check import compare_one, duckdb_conn

        spark = self.bench.spark
        # a fresh directory per pass: no cached state keyed by the input
        # path can carry over from an earlier pass
        sf_dir = self.bench.path(f"tables_{k}")
        datagen.write_tables(sf_dir, self.bench.sizes["query_sf"])
        legs: dict[str, float] = {}
        outputs: dict[str, tuple] = {}
        cpu0 = cpu_s()
        for leg in self.order:
            if traced:
                spark.sparkContext.setJobDescription(leg)

            def run_leg(leg=leg):
                t0 = now()
                df = self.queries[leg](spark, sf_dir)
                rows = df.collect()
                return df.columns, rows, now() - t0

            got = tally.op(f"{leg}#{k}", run_leg)
            if got is not None:
                outputs[leg] = (got[0], got[1])
                legs[leg] = got[2]
        cpu = cpu_s() - cpu0
        spark.sparkContext.setJobDescription(None)

        conn = duckdb_conn(sf_dir)
        for leg, (cols, rows) in outputs.items():
            shown = _Collected(cols, tally.planted(rows))
            res = compare_one(spark, conn, leg, lambda s, d, shown=shown: shown,
                              self.oracles[leg], sf_dir)
            tally.check(f"{leg}#{k}", res["ok"], f"differs from the DuckDB oracle: {res}")
        conn.close()
        res = {"legs": legs, "sf_dir": sf_dir, "outputs": outputs}
        if len(legs) == len(self.order):
            res["pass_s"] = sum(legs.values())
            res["pass_cpu_s"] = cpu
        return res


    @staticmethod
    def detail(passes: list[dict]) -> dict:
        done = [p for p in passes if "pass_s" in p]
        if not done:
            return {}
        p = sorted(done, key=lambda p: p["pass_s"])[len(done) // 2]
        out = {f"query_{fam}_s": 0.0 for fam in set(LEGS.values())}
        for leg, s in p["legs"].items():
            out[f"query_{LEGS[leg]}_s"] += s
        out["legs"] = p["legs"]
        return out

    def trace(self, tally: Tally) -> dict:
        from ai4orgwebscraper_spark.sources.readers import load_table

        spark = self.bench.spark
        sc = spark.sparkContext
        p = self._pass(tally, 99, traced=True)
        layers: dict = {f"{leg}.s": s for leg, s in p["legs"].items()}
        if "pass_s" in p:
            layers["trace.pass_s"] = p["pass_s"]
        sf_dir = p["sf_dir"]

        def scan():
            sc.setJobDescription("readers")
            t0 = now()
            for t in SCAN_TABLES:
                _noop(load_table(spark, sf_dir, t))
            layers["readers.scan_s"] = now() - t0
            layers["readers.input_bytes"] = sum(
                os.path.getsize(os.path.join(sf_dir, f"{t}.parquet")) for t in SCAN_TABLES
            )

        tally.op("readers_replay", scan)

        out = p["outputs"]
        if "q_knn_bruteforce" in out and "q_knn_ivf" in out:
            truth = {r["vec_id"] for r in out["q_knn_bruteforce"][1]}
            got = {r["vec_id"] for r in out["q_knn_ivf"][1]}
            layers["q_knn_ivf.recall"] = len(got & truth) / max(len(truth), 1)
        sc.setJobDescription(None)
        self._module = {leg: self.queries[leg].__module__.rsplit(".", 1)[-1] for leg in LEGS}
        return layers

    def fold_layers(self, folded: dict) -> dict:
        import eventlog

        r: dict = {}
        for m in OPERATOR_MODULES:
            agg = eventlog.combine(folded, [leg for leg, mod in self._module.items() if mod == m])
            r[f"operators.{m}.jobs"] = agg.get("jobs", 0)
            r[f"operators.{m}.task_s"] = agg.get("task_s", 0)
            r[f"operators.{m}.jvm_cpu_s"] = agg.get("jvm_cpu_s", 0)
            r[f"operators.{m}.shuffle_bytes"] = agg.get("shuffle_bytes", 0)
        return r


WORKLOADS = {w.name: w for w in (CrawlBulk, QuerySuite)}
