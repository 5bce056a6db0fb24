"""Deduplication suite over `documents` — exact, MinHash+LSH, SimHash,
n-gram Jaccard (the training-data-pipeline operators; absent in the
reference, which refetches duplicates — SURVEY.md C4).

Cross-engine determinism trick: every hash in these operators is
md5-hex (identical in Spark, DuckDB and hashlib), and MinHash minima
are taken over hex STRINGS (lexicographic min of a uniform hex hash
is a valid minhash), so the DuckDB oracle reproduces Spark's results
bit-for-bit — no floating point, no engine-specific hash.

Scale notes:
- exact dedup: one hash-groupBy, map-side combined.
- MinHash: explode(distinct tokens) x K seeds → groupBy(doc, seed)
  min → band keys → groupBy(band). All shuffles are on doc_id or
  band key; band buckets are the LSH candidate generator, so the
  quadratic pair join only ever runs inside a bucket.
- SimHash: bit-majority as a (doc, bitpos) aggregation — linear.
- n-gram Jaccard: blocked by `source` so the pair join is bounded
  per block (the classic blocking strategy for near-dup at scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ai4orgwebscraper_spark.operators.text import _tokens
from ai4orgwebscraper_spark.sources.readers import load_table, load_wide

N_SEEDS = 8
SEEDS_PER_BAND = 2  # -> 4 bands

# junk-band suppression (standard LSH practice): a bucket with more
# members than this carries no discriminative signal and would emit
# O(size^2) pairs — at 10^10 docs a single degenerate band bucket
# otherwise explodes the candidate join
MAX_BUCKET = 64


def _distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_wide(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.explode(F.array_distinct(_tokens(F.col("text")))).alias("token")
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content fingerprint: groups with >1 doc are
    duplicates; keeper = min doc_id."""
    docs = load_wide(spark, sf_dir, "documents")
    fp = F.md5(F.array_join(_tokens(F.col("text")), " "))
    return (
        docs.select("doc_id", fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper_doc_id"))
        .filter(F.col("n_docs") > 1)
        .orderBy("fingerprint")
    )


def minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, band, band_key) — the LSH bucketing table.

    One pass, no row blowup: instead of cross-joining tokens with the
    K seeds (Kx shuffle volume), the K minhashes are K min() aggregates
    over the same exploded token stream — map-side partial mins shrink
    the shuffle to |docs| x K values. Band keys then stack K/r columns
    per doc (a tiny |docs|-row explode)."""
    toks = _distinct_tokens(spark, sf_dir)
    mins = toks.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat_ws("#", F.col("token"), F.lit(s)))).alias(f"mh{s}")
            for s in range(N_SEEDS)
        ]
    )
    band_cols = []
    for band in range(N_SEEDS // SEEDS_PER_BAND):
        members = [
            F.col(f"mh{band * SEEDS_PER_BAND + j}") for j in range(SEEDS_PER_BAND)
        ]
        band_cols.append(
            F.struct(
                F.lit(band).alias("band"),
                F.md5(
                    F.concat_ws("|", F.lit(str(band)), F.concat_ws(",", *members))
                ).alias("band_key"),
            )
        )
    return mins.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("b")
    ).select("doc_id", F.col("b.band").alias("band"), F.col("b.band_key").alias("band_key"))


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs: docs sharing any band bucket.

    shingle→minhash→band→bucket-join; output is the deduped candidate
    pair list (doc_a < doc_b) — downstream exact Jaccard verification
    runs only on these pairs."""
    pairs = lsh_pairs(spark, sf_dir)
    # pair lists are quadratic-ish; the stable driver-facing contract is
    # the per-doc candidate profile (row count bounded by |documents|)
    return (
        pairs.groupBy("doc_a")
        .agg(
            F.count("*").alias("n_candidates"),
            F.min("doc_b").alias("min_doc_b"),
            F.max("doc_b").alias("max_doc_b"),
        )
        .orderBy("doc_a")
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document via bit-majority over token hashes.

    Each token contributes ±1 to 16 bit positions (bits = first 4 hex
    chars of md5(token)); the doc's bit is the sign of the sum. Encoded
    as an integer; equal simhash16 = near-dup bucket.

    One pass, no row blowup (VERDICT r01 item 10): instead of
    crossJoining tokens with the 16 bit positions (16x shuffle volume),
    the 16 vote tallies are 16 conditional sums over the same token
    stream — the one-pass pattern of minhash_bands. Map-side partial
    sums shrink the shuffle to |docs| x 16 longs."""
    docs = load_wide(spark, sf_dir, "documents")
    hexmap = "0123456789abcdef"
    hashed = docs.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("token")
    ).select("doc_id", F.md5("token").alias("h"))

    def vote(p: int):
        # bit p of the 16-bit hash = bit (p%4) of hex char (p//4);
        # vote is ±1
        return F.expr(
            f"2 * (CAST(floor((instr('{hexmap}', substring(h, {p // 4 + 1}, 1)) - 1)"
            f" / {2 ** (p % 4)}) AS BIGINT) % 2) - 1"
        )

    votes = hashed.groupBy("doc_id").agg(
        *[F.sum(vote(p)).alias(f"v{p}") for p in range(16)]
    )
    simhash = None
    for p in range(16):
        term = F.when(F.col(f"v{p}") > 0, F.lit(1 << p).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        simhash = term if simhash is None else simhash + term
    return votes.select("doc_id", simhash.alias("simhash16")).orderBy("doc_id")


# hot-shingle suppression (VERDICT r01 item 5 — same degenerate-bucket
# rationale as MAX_BUCKET): a shingle shared by df docs inside a source
# block emits O(df^2) candidate pairs; boilerplate shingles ("all
# rights reserved ...") make that unbounded at 10^10 docs. Shingles with
# in-block document frequency above this cap are dropped from the index
# AND from the per-doc size, i.e. Jaccard is computed over the pruned
# shingle universe (mirrored exactly in the oracle).
MAX_SHINGLE_DF = 64


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard near-dup stats, blocked by `source`.

    Inverted-index join (pairs share >=1 shingle) inside each block;
    jaccard = |shared| / (|A| + |B| - |shared|) over the pruned
    shingle universe (hot shingles with df > MAX_SHINGLE_DF dropped —
    bounds per-shingle fan-out to MAX_SHINGLE_DF^2). Output is
    per-block aggregate (pair lists explode at scale; stats are the
    stable contract)."""
    docs = load_wide(spark, sf_dir, "documents")
    d = docs.select("doc_id", "source", _tokens(F.col("text")).alias("toks"))
    shingle_expr = F.expr(
        "CASE WHEN size(toks) >= 3 THEN "
        "transform(sequence(1, size(toks) - 2), "
        "  i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2))) "
        "ELSE slice(toks, 1, 0) END"
    )
    # the PRUNED shingle stream feeds three consumers (sizes, both
    # self-join sides); the two self-join sides are identical subtrees
    # and share one exchange (ReusedExchange) inside the plan
    shingles = d.select(
        "doc_id", "source", F.explode(F.array_distinct(shingle_expr)).alias("shingle")
    )
    # df computed as a hash agg + left_anti against the (small) hot
    # set, NOT a count-over-window: the window forces a full sort of
    # the shingle stream, the agg is map-side-combined and the hot list
    # broadcast-able (2.0s vs 5.6s cold at sf0.1, same rows)
    hot = (
        shingles.groupBy("source", "shingle")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") > MAX_SHINGLE_DF)
        .select("source", "shingle")
    )
    shingles = shingles.join(hot, ["source", "shingle"], "left_anti")
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    a = shingles.alias("a")
    b = shingles.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.source").alias("source"),
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    pairs = (
        shared.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "source",
            "doc_a",
            "doc_b",
            (
                F.col("n_shared")
                / (F.col("sa.n_shingles") + F.col("sb.n_shingles") - F.col("n_shared"))
            ).alias("jaccard"),
        )
    )
    return (
        pairs.groupBy("source")
        .agg(
            F.count("*").alias("n_candidate_pairs"),
            F.count(F.when(F.col("jaccard") >= 0.5, 1)).alias("n_dup_pairs"),
            F.round(F.max("jaccard"), 6).alias("max_jaccard"),
        )
        .orderBy("source")
    )


N_BENCH_DOCS = 16  # docs 0..15 stand in for the held-out benchmark suite


def q_doc_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: which training docs share a word-
    3-gram with the held-out benchmark set (docs 0..N_BENCH_DOCS-1 as
    the stand-in suite) — the standard pre-training leakage check
    (n-gram overlap against eval benchmarks).

    Scale shape: the probe side is the benchmark suite's distinct
    shingles — thousands of rows however big the corpus is — so the
    check is ONE broadcast semi-join over the training shingle stream;
    the corpus never shuffles. Per-source counts out (bounded)."""
    docs = load_wide(spark, sf_dir, "documents")
    d = docs.select("doc_id", "source", _tokens(F.col("text")).alias("toks"))
    shingle_expr = F.expr(
        "CASE WHEN size(toks) >= 3 THEN "
        "transform(sequence(1, size(toks) - 2), "
        "  i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2))) "
        "ELSE slice(toks, 1, 0) END"
    )
    sh = d.select(
        "doc_id", "source", F.explode(F.array_distinct(shingle_expr)).alias("shingle")
    )
    probe = (
        sh.filter(F.col("doc_id") < N_BENCH_DOCS).select("shingle").distinct()
    )
    contaminated = (
        sh.filter(F.col("doc_id") >= N_BENCH_DOCS)
        .join(F.broadcast(probe), "shingle")
        .select("doc_id")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    base = docs.filter(F.col("doc_id") >= N_BENCH_DOCS).select("doc_id", "source")
    return (
        base.join(contaminated, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count("__hit").alias("n_contaminated"),
            F.round(F.count("__hit") / F.count("*"), 6).alias("contaminated_frac"),
        )
        .orderBy("source")
    )


def lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw MinHash-LSH candidate pairs (doc_a < doc_b), deduped;
    over-dense buckets suppressed (MAX_BUCKET)."""
    # bands feed four consumers (bucket-size agg, anti-join left, both
    # self-join sides), which share the K-min minhash exchange
    # (ReusedExchange) inside the plan. The doc_id filter is a no-op on
    # the key column; the self-join infers it on its sides only, and
    # stating it here keeps the bucket-size branch an identical subtree.
    bands = minhash_bands(spark, sf_dir).filter(F.col("doc_id").isNotNull())
    # same agg+anti-join shape as the hot-shingle cap (no sort-window)
    hot = (
        bands.groupBy("band_key")
        .agg(F.count("*").alias("__bsize"))
        .filter(F.col("__bsize") > MAX_BUCKET)
        .select("band_key")
    )
    bands = bands.join(hot, ["band_key"], "left_anti")
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(b, (F.col("a.band_key") == F.col("b.band_key")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


class ConvergenceError(RuntimeError):
    """connected_components hit its iteration cap while labels were
    still changing — returning the partial labels would be a silent
    wrong answer (VERDICT r02 item 2)."""


def connected_components(
    spark: SparkSession,
    nodes: DataFrame,
    edges: DataFrame,
    max_iter: int = 32,
) -> DataFrame:
    """Connected components: nodes(doc_id), undirected edges
    (doc_a, doc_b) → (doc_id, label) with label = min doc_id in the
    component.

    Each iteration alternates (a) min-label propagation over edges with
    (b) a POINTER-DOUBLING jump (label := label-of-label) — the
    large-star/small-star idea — so convergence is O(log diameter)
    rounds, not O(diameter): a 10^6-long boilerplate chain converges in
    ~20 rounds instead of 10^6 (VERDICT r02 item 2). The jump is sound
    because every label value is itself a node id in the same component
    and labels are monotonically non-increasing.

    Each step's lineage is truncated (``plans.state.RunState``, NOT
    merely persisted — persist caches partitions but leaves the
    logical plan growing, and Catalyst analysis time doubles per
    iteration: the sf0.1 loop went 1.2s -> 42s per iteration before
    lineage truncation); superseded steps are released two iterations
    back, so retained state is O(2 x |nodes|). A changed-count of zero
    stops the loop; hitting ``max_iter`` with labels still moving
    raises ConvergenceError — never a silent partial answer."""
    from ai4orgwebscraper_spark.plans.iterate import loop_width, spill_loop

    fwd = edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    rev = edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    n_nodes = nodes.count()
    # pre-partition the adjacency ON THE JOIN KEY at loop width: the
    # per-iteration join then reuses this partitioning (no Exchange of
    # the edge table per round — it shuffles once here instead of once
    # per iteration, the classic iterate-over-static-graph layout).
    # spill_loop persists + materializes it at SESSION width before
    # narrowing, so the heavy LSH lineage upstream of `edges` never
    # runs under-parallelized inside the loop.
    adj = fwd.unionByName(rev).repartition(loop_width(spark, n_nodes), "src")
    with spill_loop(spark, n_nodes, statics=[adj], prefix="cc_state_") as ctx:
        labels = _run_cc_loop(
            spark, adj, nodes, max_iter,
            lambda df, i: ctx.truncate(df, "step", i, n_nodes),
        )
    return labels


def _run_cc_loop(spark, adj, nodes, max_iter, _step_spill) -> DataFrame:
    labels = _step_spill(nodes.select("doc_id", F.col("doc_id").alias("label")), 0)
    changed = -1
    for it in range(1, max_iter + 1):
        # (a) min-label propagation across edges
        neighbor_min = (
            adj.join(labels, adj.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        propagated = labels.withColumnRenamed("label", "__old").join(
            neighbor_min, "doc_id", "left"
        ).select(
            "doc_id",
            "__old",
            F.least(
                F.col("__old"), F.coalesce(F.col("nbr_label"), F.col("__old"))
            ).alias("label"),
        )
        # (b) pointer doubling: label := label(label) — halves the
        # pointer-chain depth every iteration
        lut = propagated.select(
            F.col("doc_id").alias("__l_id"), F.col("label").alias("__l_lab")
        )
        jumped = propagated.join(
            lut, propagated.label == F.col("__l_id"), "left"
        ).select(
            "doc_id",
            F.coalesce(F.col("__l_lab"), F.col("label")).alias("label"),
            # change flag computed IN the step (old label is still in
            # hand) so the convergence check below is a cheap filter-
            # count over the freshly spilled parquet, not a |nodes|-row
            # self-join per iteration
            (F.coalesce(F.col("__l_lab"), F.col("label")) != F.col("__old")).alias(
                "__changed"
            ),
        )
        new_labels = _step_spill(jumped, it)
        changed = new_labels.filter(F.col("__changed")).count()
        labels = new_labels.select("doc_id", "label")
        if changed == 0:
            break
    if changed != 0:
        raise ConvergenceError(
            f"connected components did not converge within {max_iter} "
            f"iterations ({changed} labels still changing)"
        )
    return labels


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the LSH candidate
    pairs; cluster id = min doc_id in the component (the keeper).

    Spark has no recursive SQL, so components run via
    ``connected_components`` (pointer-doubled min-label propagation,
    O(log diameter) rounds, loud non-convergence). The DuckDB oracle
    computes the identical fixpoint with a recursive CTE.

    Output: per-cluster stats (bounded by |documents|)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    labels = connected_components(spark, docs, lsh_pairs(spark, sf_dir))
    return (
        labels.groupBy(F.col("label").alias("cluster_id"))
        .agg(F.count("*").alias("n_docs"), F.max("doc_id").alias("max_doc_id"))
        .orderBy("cluster_id")
    )


def q_dedup_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's LAST stage: materialize the deduplicated
    corpus — keep exactly one document per near-dup cluster (the
    min-doc_id keeper, i.e. the doc that IS its own component label);
    singletons keep themselves. Reports the kept/dropped volume per
    source — the number a training-data pipeline actually acts on.

    Scale: cluster labels come from the pointer-doubled components run
    (O(log diameter)); the materialization itself is one |docs|-row
    join + aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    labels = connected_components(
        spark, docs.select("doc_id"), lsh_pairs(spark, sf_dir)
    )
    keep = F.col("doc_id") == F.col("label")
    return (
        docs.join(labels, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(keep, 1)).alias("n_kept"),
            F.coalesce(F.sum(F.when(keep, F.col("n_chars"))), F.lit(0))
            .cast("long")
            .alias("chars_kept"),
            F.coalesce(F.sum(F.when(~keep, F.col("n_chars"))), F.lit(0))
            .cast("long")
            .alias("chars_dropped"),
        )
        .orderBy("source")
    )


def q_dedup_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete two-stage dedup pipeline: MinHash-LSH candidate
    generation, then EXACT Jaccard verification on candidates only —
    the production shape (approximate recall stage bounds the work,
    exact precision stage bounds the false positives).

    Scale: pairs are LSH-capped (MAX_BUCKET); verification joins the
    per-doc distinct-token arrays to the pair list (two key joins) and
    computes intersection/union JVM-side (array_intersect) — exact
    Jaccard is only ever computed on O(|candidates|) rows, never
    all-pairs."""
    pairs = lsh_pairs(spark, sf_dir)
    docs = load_wide(spark, sf_dir, "documents").select(
        "doc_id", F.array_distinct(_tokens(F.col("text"))).alias("toks")
    )
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b"))
    inter = F.size(F.array_intersect(F.col("toks_a"), F.col("toks_b")))
    jac = inter / (F.size("toks_a") + F.size("toks_b") - inter)
    verified = (
        pairs.join(a, "doc_a").join(b, "doc_b").select("doc_a", "doc_b", jac.alias("jaccard"))
    )
    return (
        verified.groupBy("doc_a")
        .agg(
            F.count("*").alias("n_candidates"),
            F.count(F.when(F.col("jaccard") >= 0.5, 1)).alias("n_verified"),
            F.round(F.max("jaccard"), 6).alias("max_jaccard"),
        )
        .orderBy("doc_a")
    )


SEG_TOKENS = 10


def q_dedup_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact SEGMENT dedup — the C4 "repeated span"
    rule (Raffel et al. 2020 dedupe repeated 3-sentence lines; Lee et
    al. 2021 "Deduplicating Training Data Makes Language Models
    Better" drop exact duplicate substrings, keep one occurrence),
    re-expressed at fixed 10-token segment granularity because the
    synthetic corpus has no newlines.

    Rule: tokenize each doc, cut into consecutive 10-token segments
    (trailing partial kept), md5 each; every segment keeps only its
    globally-FIRST occurrence (min (doc_id, seg_idx)) — all other
    occurrences are dropped, docs are reassembled from their kept
    segments in order.

    Output is a per-source audit row: doc/segment/token drop counts
    plus an ORDER-INSENSITIVE digest of the reassembled corpus
    (count-distinct/min/max of per-doc md5s + total cleaned chars).
    Deliberately NOT a per-source string_agg corpus hash: that would
    hold a source's entire cleaned text in one aggregation buffer —
    width-unbounded at 100 TB. Per-doc cleaned-text equality against
    a pure-Python twin is pinned in tests/test_dedup.py.

    Scale shape: one corpus-scale explode (segments), one groupBy
    seg_hash (map-side combined min+nothing-else) for the keeper
    table, one shuffle join back on seg_hash, one groupBy doc_id
    bounded by doc size, and a 20-row source rollup. The keeper
    join-back deliberately uses groupBy+join (two segment passes)
    rather than a single-pass row_number window over seg_hash: a
    boilerplate segment duplicated 10^6 times is a HOT key, and AQE
    skew-join can split the join's straggler partition (pinned for
    this plan family in tests/test_skew.py) while a window's hot
    partition cannot be split — the second scan is the price of the
    skew-safe shape.
    """
    docs = load_wide(spark, sf_dir, "documents")
    base = docs.select("doc_id", "source", _tokens(F.col("text")).alias("toks"))
    n_segs = F.greatest(
        F.ceil(F.size("toks") / F.lit(SEG_TOKENS)).cast("int"), F.lit(1)
    )
    segs = (
        base.select(
            "doc_id",
            "source",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_segs - 1),
                    lambda i: F.slice(
                        F.col("toks"), i * SEG_TOKENS + 1, SEG_TOKENS
                    ),
                )
            ).alias("seg_idx", "seg"),
        )
        .select(
            "doc_id",
            "source",
            "seg_idx",
            F.concat_ws(" ", "seg").alias("seg_text"),
            F.size("seg").alias("seg_len"),
        )
        .withColumn("seg_hash", F.md5("seg_text"))
    )
    keepers = segs.groupBy("seg_hash").agg(
        F.min(F.struct("doc_id", "seg_idx")).alias("keeper")
    )
    marked = segs.join(keepers, "seg_hash").withColumn(
        "dropped",
        (F.col("doc_id") != F.col("keeper.doc_id"))
        | (F.col("seg_idx") != F.col("keeper.seg_idx")),
    )
    per_doc = marked.groupBy("doc_id", "source").agg(
        F.count("*").alias("n_segs"),
        F.sum(F.when(F.col("dropped"), 1).otherwise(0)).alias("n_dropped"),
        F.sum(F.when(F.col("dropped"), F.col("seg_len")).otherwise(0)).alias(
            "toks_dropped"
        ),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(~F.col("dropped"), F.struct("seg_idx", "seg_text"))
                    )
                ),
                lambda s: s["seg_text"],
            ),
        ).alias("cleaned"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("n_dropped") > 0, 1).otherwise(0)).alias(
                "n_docs_affected"
            ),
            F.sum("n_segs").alias("n_segments"),
            F.sum("n_dropped").alias("n_segments_dropped"),
            F.sum("toks_dropped").alias("n_tokens_dropped"),
            F.count_distinct(F.md5("cleaned")).alias("n_distinct_cleaned"),
            F.min(F.md5("cleaned")).alias("cleaned_md5_min"),
            F.max(F.md5("cleaned")).alias("cleaned_md5_max"),
            F.sum(F.length("cleaned")).alias("n_cleaned_chars"),
        )
        .orderBy("source")
    )


# Incremental-dedup fingerprint granularity: md5 of the first
# FP_PREFIX_TOKENS tokens. A lead-prefix key (vs the full-content
# fingerprint of q_dedup_exact) models the duplicate class an
# incremental crawl actually meets — re-crawled pages whose lead
# paragraph/boilerplate is byte-stable while the tail churns (ads,
# timestamps) — and it is the granularity at which the synthetic
# fixtures carry real cross-batch duplicates at every SF.
FP_PREFIX_TOKENS = 20


def fingerprint_col(text_col):
    """The incremental-dedup fingerprint: md5 of the first
    FP_PREFIX_TOKENS tokens. SINGLE definition — q_dedup_incremental,
    its DuckDB oracle, and streaming/dedup_stream.py all derive from
    it, so the stream==batch equality contract cannot drift."""
    from ai4orgwebscraper_spark.operators.text import _tokens

    return F.md5(
        F.array_join(F.slice(_tokens(text_col), 1, FP_PREFIX_TOKENS), " ")
    )


def incremental_dedup(history_fp: DataFrame, delta: DataFrame) -> DataFrame:
    """Classify each doc of a new crawl batch against a historical
    fingerprint store WITHOUT reprocessing history — the production
    incremental-ingest pattern: the store is the persisted output of
    all prior batches; each new batch only joins INTO it.

    ``history_fp``: one column ``fingerprint``, UNIQUE by construction
    (a fingerprint store appends only fingerprints it has never seen —
    the 'new' rows of each batch), so the left join below cannot
    fan out delta rows. ``delta``: (doc_id, source, fingerprint).

    Status per delta doc:
      - ``dup_of_history``  — fingerprint already in the store,
      - ``dup_in_delta``    — first seen in THIS batch, but a smaller
                              doc_id in the same batch claims it,
      - ``new``             — the batch's keeper; its fingerprint is
                              what gets appended to the store.

    Scale (the whole point): the history side is the 100 TB store and
    must NEVER reshuffle per batch. Persist it bucketed on
    ``fingerprint`` (sources/warehouse.write_bucketed) and the join
    compiles to bare bucketed scans on the history side with only the
    delta shuffling into the store's layout — tests/test_incremental_and_quality.py
    pins that plan property (zero Exchange above the history scan).
    The in-batch window partitions by fingerprint (delta-sized, no
    SinglePartition)."""
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("fingerprint").orderBy("doc_id")
    )
    in_hist = F.col("h_fp").isNotNull()
    return (
        delta.withColumn("rn", rn)
        .join(
            history_fp.select(F.col("fingerprint").alias("h_fp")),
            F.col("fingerprint") == F.col("h_fp"),
            "left",
        )
        .select(
            "doc_id",
            "source",
            "fingerprint",
            F.when(in_hist, F.lit("dup_of_history"))
            .when(F.col("rn") > 1, F.lit("dup_in_delta"))
            .otherwise(F.lit("new"))
            .alias("status"),
        )
    )


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of a crawl delta against the historical
    fingerprint store, rolled up per (source, status).

    The fixture split is deterministic: history = docs with
    doc_id % 10 < 8 (the store holds their DISTINCT lead-prefix
    fingerprints — a real store is unique by construction, see
    incremental_dedup), delta = the remaining 20%."""
    docs = load_table(spark, sf_dir, "documents")
    with_fp = docs.select(
        "doc_id", "source", fingerprint_col(F.col("text")).alias("fingerprint")
    )
    history_fp = (
        with_fp.filter(F.pmod("doc_id", F.lit(10)) < 8)
        .select("fingerprint")
        .distinct()
    )
    delta = with_fp.filter(F.pmod("doc_id", F.lit(10)) >= 8)
    return (
        incremental_dedup(history_fp, delta)
        .groupBy("source", "status")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("source", "status")
    )


# Any-offset duplicate-span window width. 10 tokens keeps the
# fingerprint stream ~= the token stream (n-9 windows per n-token doc)
# while staying above the synthetic corpus's trivially-colliding short
# n-grams.
DUPSPAN_TOKENS = 10


def q_dedup_dupspans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANY-OFFSET duplicated-span detection — the stride-1 complement
    of q_dedup_segments' fixed 10-token grid (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better": mark
    every >=k-token substring that occurs anywhere else in the corpus;
    their suffix-array pass is re-expressed as the Spark-friendly
    k-gram-fingerprint equivalent, exact for spans of exactly k tokens
    and a superset mask for longer ones).

    Rule: every 10-token window (stride 1) is md5-fingerprinted; a
    window is DUP if its fingerprint occurs anywhere else (another doc
    or another offset) and it is not the globally-first occurrence
    (min (doc_id, pos)). Each doc's dup windows are merged into
    maximal contiguous masked token runs ("islands": intervals
    [pos, pos+9] coalesced while the next start <= current end + 1).

    Output: per-source audit — doc/window/masked-token/island counts.

    Scale shape: one corpus-scale explode (the window fingerprints —
    ~1 row per token, the irreducible price of offset-free detection).
    The fingerprints are built with k-1 codegen'd lead() columns over
    a doc_id-partitioned window rather than an in-row transform()
    lambda: HOF lambda bodies evaluate interpreted, measured 3x
    slower than the lead pass at sf1 even counting the window's
    doc_id shuffle (the shuffled rows are (doc_id, pos, token) —
    narrow — and only the 32-char fp survives the projection). The
    keeper table is a map-side-combined groupBy(fp).agg(min, count) —
    a boilerplate span duplicated 10^6 times partial-aggregates on
    every map task, so the hot key never concentrates raw rows; the
    join back on fp is AQE-skew-splittable (same shape family as
    q_dedup_segments, pinned in tests/test_skew.py). Interval merge
    runs under a doc_id-partitioned window (per-doc bounded state,
    no SinglePartition); the final rollup is a 20-row source agg.
    """
    from pyspark.sql import Window

    k = DUPSPAN_TOKENS
    docs = load_wide(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", "source", _tokens(F.col("text")).alias("toks")
    )
    meta = base.select(
        "doc_id",
        "source",
        F.greatest(F.size("toks") - F.lit(k - 1), F.lit(0)).alias("n_windows"),
    )
    # window fingerprints via posexplode + k-1 lead() columns, NOT a
    # transform() lambda over start indices: higher-order-function
    # lambda bodies are evaluated interpreted (outside whole-stage
    # codegen), and at ~1 md5 per corpus token that interpretation tax
    # measured 3x slower than this codegen'd lead-window formulation
    # at sf1 (22s vs 6.4s cold) EVEN counting the extra doc_id
    # shuffle the window needs. The shuffle is exchanged once and
    # reused by both consumers below (ReusedExchange); the doc_id
    # filter is a no-op on the key column, stated here so both
    # branches carry it — the outer join at the end infers it on the
    # probe branch only, and two differing subtrees share nothing. A
    # doc shorter than k tokens simply produces no row with lead(k-1)
    # non-null — the empty-window guard the index-array form needed
    # comes free.
    toks_rows = base.filter(F.col("doc_id").isNotNull()).select(
        "doc_id", F.posexplode("toks").alias("pos0", "tok")
    )
    w_pos = Window.partitionBy("doc_id").orderBy("pos0")
    window_text = F.concat_ws(
        " ", F.col("tok"), *[F.lead("tok", i).over(w_pos) for i in range(1, k)]
    )
    wins = (
        toks_rows.select(
            "doc_id",
            (F.col("pos0") + 1).alias("pos"),
            F.when(
                F.lead("tok", k - 1).over(w_pos).isNotNull(), F.md5(window_text)
            ).alias("fp"),
        )
        .filter(F.col("fp").isNotNull())
    )
    keepers = wins.groupBy("fp").agg(
        F.min(F.struct("doc_id", "pos")).alias("keeper"),
        F.count("*").alias("cnt"),
    )
    dups = (
        wins.join(keepers, "fp")
        .filter(
            (F.col("cnt") > 1)
            & (
                (F.col("doc_id") != F.col("keeper.doc_id"))
                | (F.col("pos") != F.col("keeper.pos"))
            )
        )
        .select("doc_id", "pos", (F.col("pos") + F.lit(k - 1)).alias("end"))
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max("end").over(
        w_doc.rowsBetween(Window.unboundedPreceding, -1)
    )
    brk = F.when(
        F.col("pos") > F.coalesce(prev_end, F.lit(-1)) + 1, 1
    ).otherwise(0)
    islands = (
        dups.withColumn("brk", brk)
        .withColumn(
            "island",
            F.sum("brk").over(
                w_doc.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("doc_id", "island")
        .agg(
            (F.max("end") - F.min("pos") + 1).alias("masked"),
            F.count("*").alias("n_wins"),
        )
    )
    per_doc = islands.groupBy("doc_id").agg(
        F.sum("n_wins").alias("dup_windows"),
        F.sum("masked").alias("masked_tokens"),
        F.count("*").alias("n_islands"),
    )
    return (
        meta.join(per_doc, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                F.when(F.col("dup_windows").isNotNull(), 1).otherwise(0)
            ).alias("n_docs_affected"),
            F.sum("n_windows").alias("n_windows"),
            F.sum(F.coalesce(F.col("dup_windows"), F.lit(0))).alias(
                "n_dup_windows"
            ),
            F.sum(F.coalesce(F.col("masked_tokens"), F.lit(0))).alias(
                "n_masked_tokens"
            ),
            F.sum(F.coalesce(F.col("n_islands"), F.lit(0))).alias(
                "n_masked_islands"
            ),
        )
        .orderBy("source")
    )


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination MATRIX — the pairwise generalization
    of q_doc_contamination (GPT-3 App. C / PaLM measure n-gram overlap
    between each training source and each eval set; here every source
    pair is measured symmetrically, the audit a data-mixing recipe
    needs BEFORE assigning per-source epoch weights: two sources that
    are 30% the same corpus would silently double their effective
    epochs under q_corpus_mix).

    Rule: each doc is cut into the SAME fixed 10-token md5 grid as
    q_dedup_segments (empty segments excluded); a source's profile is
    its DISTINCT segment-fingerprint set; for every source pair with
    any overlap, emit the shared-fingerprint count and
    overlap_ppm = shared * 1e6 div min(|A|, |B|) (exact bigint floor
    division — the containment coefficient in parts-per-million).

    Scale shape: the corpus-scale work is one explode + one DISTINCT
    (source, fp) — map-side combined, output bounded by distinct
    segments x sources. The self-join on fp is then inherently
    skew-free: after the DISTINCT, a fingerprint's group is bounded
    by |sources| (a constant ~20), so even a boilerplate segment
    duplicated 10^8 times joins as <= S rows producing <= S^2 pairs.
    Per-source totals are an S-row broadcast. Compare
    q_dedup_ngram_jaccard, whose DOC-level self-join needs hot-key
    caps — source-level granularity makes the cap unnecessary."""
    docs = load_wide(spark, sf_dir, "documents")
    base = docs.select("source", _tokens(F.col("text")).alias("toks"))
    n_segs = F.greatest(
        F.ceil(F.size("toks") / F.lit(SEG_TOKENS)).cast("int"), F.lit(1)
    )
    segs = base.select(
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_segs - 1),
                lambda i: F.slice(F.col("toks"), i * SEG_TOKENS + 1, SEG_TOKENS),
            )
        ).alias("seg"),
    ).filter(F.size("seg") > 0)
    profile = segs.select(
        "source", F.md5(F.concat_ws(" ", "seg")).alias("fp")
    ).distinct()
    # the corpus-scale explode+DISTINCT feeds THREE consumers (totals
    # and both self-join sides); all three read the DISTINCT's one
    # exchange (ReusedExchange)
    totals = profile.groupBy("source").agg(F.count("*").alias("n_fps"))
    a, b = profile.alias("a"), profile.alias("b")
    shared = (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        shared.join(
            F.broadcast(totals.select(F.col("source").alias("source_a"), F.col("n_fps").alias("n_a"))),
            "source_a",
        )
        .join(
            F.broadcast(totals.select(F.col("source").alias("source_b"), F.col("n_fps").alias("n_b"))),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_shared",
            F.expr("(n_shared * 1000000) div least(n_a, n_b)").alias("overlap_ppm"),
        )
        .orderBy("source_a", "source_b")
    )


QUERIES = {
    "q_dedup_clusters": q_dedup_clusters,
    "q_dedup_lsh_verified": q_dedup_lsh_verified,
    "q_dedup_exact": q_dedup_exact,
    "q_dedup_minhash_lsh": q_dedup_minhash_lsh,
    "q_dedup_simhash": q_dedup_simhash,
    "q_dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "q_doc_contamination": q_doc_contamination,
    "q_dedup_materialize": q_dedup_materialize,
    "q_dedup_segments": q_dedup_segments,
    "q_dedup_incremental": q_dedup_incremental,
    "q_dedup_dupspans": q_dedup_dupspans,
    "q_source_overlap": q_source_overlap,
}

_TOKS = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> w <> '')"

# shared CTE chain: distinct tokens -> K minhashes -> bands -> junk-cap
# -> deduped candidate pairs (the SQL twin of minhash_bands + lsh_pairs)
_LSH_PAIRS_CTES = f"""
        toks AS (
            SELECT DISTINCT doc_id, unnest({_TOKS}) AS token FROM documents
        ),
        mh AS (
            SELECT doc_id, s.seed, min(md5(token || '#' || CAST(s.seed AS VARCHAR))) AS mh
            FROM toks, generate_series(0, {N_SEEDS - 1}) s(seed)
            GROUP BY doc_id, s.seed
        ),
        bands AS (
            SELECT doc_id, seed // {SEEDS_PER_BAND} AS band,
                   md5(CAST(seed // {SEEDS_PER_BAND} AS VARCHAR) || '|' ||
                       string_agg(mh, ',' ORDER BY seed)) AS band_key
            FROM mh GROUP BY doc_id, seed // {SEEDS_PER_BAND}
        ),
        kept AS (
            SELECT doc_id, band, band_key FROM (
                SELECT doc_id, band, band_key,
                       count(*) OVER (PARTITION BY band_key) AS bsize
                FROM bands
            ) WHERE bsize <= {MAX_BUCKET}
        ),
        pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM kept a JOIN kept b
              ON a.band_key = b.band_key AND a.doc_id < b.doc_id
        )
"""

ORACLES = {
    # q_dedup_segments: keep each segment's globally-first occurrence
    # ((doc_id, seg_idx) min == row_number 1 over that order),
    # reassemble, roll up per source — the literal SQL of the Spark
    # plan above (bounded-state digest, no corpus concat)
    "q_dedup_segments": f"""
        WITH d AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
        segs AS (
            SELECT doc_id, source, i AS seg_idx,
                   array_to_string(toks[i * {SEG_TOKENS} + 1 : i * {SEG_TOKENS} + {SEG_TOKENS}], ' ') AS seg_text,
                   len(toks[i * {SEG_TOKENS} + 1 : i * {SEG_TOKENS} + {SEG_TOKENS}]) AS seg_len
            FROM d, UNNEST(range(0, greatest(CAST(ceil(len(toks) / {SEG_TOKENS}.0) AS INT), 1))) g(i)
        ),
        marked AS (
            SELECT *, row_number() OVER (
                       PARTITION BY md5(seg_text) ORDER BY doc_id, seg_idx
                   ) > 1 AS dropped
            FROM segs
        ),
        per_doc AS (
            SELECT doc_id, source,
                   count(*) AS n_segs,
                   CAST(count(*) FILTER (dropped) AS BIGINT) AS n_dropped,
                   CAST(coalesce(sum(seg_len) FILTER (dropped), 0) AS BIGINT) AS toks_dropped,
                   coalesce(string_agg(seg_text, ' ' ORDER BY seg_idx) FILTER (NOT dropped), '') AS cleaned
            FROM marked GROUP BY doc_id, source
        )
        SELECT source,
               count(*) AS n_docs,
               CAST(count(*) FILTER (n_dropped > 0) AS BIGINT) AS n_docs_affected,
               CAST(sum(n_segs) AS BIGINT) AS n_segments,
               CAST(sum(n_dropped) AS BIGINT) AS n_segments_dropped,
               CAST(sum(toks_dropped) AS BIGINT) AS n_tokens_dropped,
               CAST(count(DISTINCT md5(cleaned)) AS BIGINT) AS n_distinct_cleaned,
               min(md5(cleaned)) AS cleaned_md5_min,
               max(md5(cleaned)) AS cleaned_md5_max,
               CAST(sum(length(cleaned)) AS BIGINT) AS n_cleaned_chars
        FROM per_doc GROUP BY source ORDER BY source
    """,
    "q_dedup_lsh_verified": f"""
        WITH {_LSH_PAIRS_CTES},
        sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
        shared AS (
            SELECT p.doc_a, p.doc_b, count(*) AS n_shared
            FROM pairs p
            JOIN toks ta ON ta.doc_id = p.doc_a
            JOIN toks tb ON tb.doc_id = p.doc_b AND tb.token = ta.token
            GROUP BY p.doc_a, p.doc_b
        ),
        verified AS (
            SELECT p.doc_a, p.doc_b,
                   coalesce(s.n_shared, 0) / (sa.n + sb.n - coalesce(s.n_shared, 0)) AS jaccard
            FROM pairs p
            LEFT JOIN shared s ON s.doc_a = p.doc_a AND s.doc_b = p.doc_b
            JOIN sizes sa ON p.doc_a = sa.doc_id
            JOIN sizes sb ON p.doc_b = sb.doc_id
        )
        SELECT doc_a, count(*) AS n_candidates,
               count(CASE WHEN jaccard >= 0.5 THEN 1 END) AS n_verified,
               round(max(jaccard), 6) AS max_jaccard
        FROM verified GROUP BY doc_a ORDER BY doc_a
    """,
    # q_dedup_clusters / q_dedup_materialize assigned below (shared
    # recursive-CTE chain _CC_LABELS_CTES)
    "q_dedup_exact": f"""
        SELECT md5(array_to_string({_TOKS}, ' ')) AS fingerprint,
               count(*) AS n_docs, min(doc_id) AS keeper_doc_id
        FROM documents
        GROUP BY 1 HAVING count(*) > 1
        ORDER BY fingerprint
    """,
    "q_dedup_minhash_lsh": f"""
        WITH toks AS (
            SELECT DISTINCT doc_id, unnest({_TOKS}) AS token FROM documents
        ),
        mh AS (
            SELECT doc_id, s.seed, min(md5(token || '#' || CAST(s.seed AS VARCHAR))) AS mh
            FROM toks, generate_series(0, {N_SEEDS - 1}) s(seed)
            GROUP BY doc_id, s.seed
        ),
        bands AS (
            -- NB: integer division must truncate (Spark cast semantics);
            -- DuckDB CAST(double AS INT) rounds, so use // here
            SELECT doc_id, seed // {SEEDS_PER_BAND} AS band,
                   md5(CAST(seed // {SEEDS_PER_BAND} AS VARCHAR) || '|' ||
                       string_agg(mh, ',' ORDER BY seed)) AS band_key
            FROM mh GROUP BY doc_id, seed // {SEEDS_PER_BAND}
        )
        , kept AS (
            SELECT doc_id, band, band_key FROM (
                SELECT doc_id, band, band_key,
                       count(*) OVER (PARTITION BY band_key) AS bsize
                FROM bands
            ) WHERE bsize <= 64
        ), pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM kept a JOIN kept b
              ON a.band_key = b.band_key AND a.doc_id < b.doc_id
        )
        SELECT doc_a, count(*) AS n_candidates,
               min(doc_b) AS min_doc_b, max(doc_b) AS max_doc_b
        FROM pairs GROUP BY doc_a ORDER BY doc_a
    """,
    "q_dedup_simhash": f"""
        WITH toks AS (
            SELECT doc_id, unnest({_TOKS}) AS token FROM documents
        ),
        contrib AS (
            SELECT doc_id, bp.bitpos,
                   2 * (CAST(floor((strpos('0123456789abcdef',
                            substr(md5(token), bp.bitpos // 4 + 1, 1)) - 1)
                        / power(2, bp.bitpos % 4)) AS BIGINT) % 2) - 1 AS vote
            FROM toks, generate_series(0, 15) bp(bitpos)
        )
        SELECT doc_id,
               CAST(sum(CASE WHEN votes > 0 THEN CAST(power(2, bitpos) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash16
        FROM (
            SELECT doc_id, bitpos, sum(vote) AS votes
            FROM contrib GROUP BY doc_id, bitpos
        )
        GROUP BY doc_id ORDER BY doc_id
    """,
    "q_doc_contamination": f"""
        WITH d AS (
            SELECT doc_id, source, {_TOKS} AS toks FROM documents
        ),
        sh AS (
            SELECT DISTINCT doc_id, source,
                   unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                          i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS shingle
            FROM d
        ),
        probe AS (
            SELECT DISTINCT shingle FROM sh WHERE doc_id < {N_BENCH_DOCS}
        ),
        contaminated AS (
            SELECT DISTINCT s.doc_id FROM sh s JOIN probe p ON s.shingle = p.shingle
            WHERE s.doc_id >= {N_BENCH_DOCS}
        )
        SELECT d.source, count(*) AS n_docs,
               count(c.doc_id) AS n_contaminated,
               round(count(c.doc_id) / count(*), 6) AS contaminated_frac
        FROM d LEFT JOIN contaminated c ON d.doc_id = c.doc_id
        WHERE d.doc_id >= {N_BENCH_DOCS}
        GROUP BY d.source ORDER BY d.source
    """,
    "q_dedup_ngram_jaccard": f"""
        WITH d AS (
            SELECT doc_id, source, {_TOKS} AS toks FROM documents
        ),
        raw_shingles AS (
            SELECT DISTINCT doc_id, source,
                   unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                          i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS shingle
            FROM d
        ),
        shingles AS (
            SELECT * FROM raw_shingles
            QUALIFY count(*) OVER (PARTITION BY source, shingle) <= {MAX_SHINGLE_DF}
        ),
        sizes AS (
            SELECT doc_id, count(*) AS n_shingles FROM shingles GROUP BY doc_id
        ),
        shared AS (
            SELECT a.source, a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
            FROM shingles a JOIN shingles b
              ON a.shingle = b.shingle AND a.source = b.source AND a.doc_id < b.doc_id
            GROUP BY a.source, a.doc_id, b.doc_id
        ),
        pairs AS (
            SELECT source, doc_a, doc_b,
                   n_shared / (sa.n_shingles + sb.n_shingles - n_shared) AS jaccard
            FROM shared
            JOIN sizes sa ON doc_a = sa.doc_id
            JOIN sizes sb ON doc_b = sb.doc_id
        )
        SELECT source, count(*) AS n_candidate_pairs,
               count(CASE WHEN jaccard >= 0.5 THEN 1 END) AS n_dup_pairs,
               round(max(jaccard), 6) AS max_jaccard
        FROM pairs GROUP BY source ORDER BY source
    """,
}

# shared recursive-CTE chain computing the connected-component label of
# every document (the DuckDB twin of lsh_pairs + connected_components)
# — used by both the cluster-stats and materializer oracles
_CC_LABELS_CTES = f"""
    WITH RECURSIVE toks AS (
        SELECT DISTINCT doc_id, unnest({_TOKS}) AS token FROM documents
    ),
    mh AS (
        SELECT doc_id, s.seed, min(md5(token || '#' || CAST(s.seed AS VARCHAR))) AS mh
        FROM toks, generate_series(0, {N_SEEDS - 1}) s(seed)
        GROUP BY doc_id, s.seed
    ),
    bands AS (
        SELECT doc_id, seed // {SEEDS_PER_BAND} AS band,
               md5(CAST(seed // {SEEDS_PER_BAND} AS VARCHAR) || '|' ||
                   string_agg(mh, ',' ORDER BY seed)) AS band_key
        FROM mh GROUP BY doc_id, seed // {SEEDS_PER_BAND}
    ),
    kept AS (
        SELECT doc_id, band, band_key FROM (
            SELECT doc_id, band, band_key,
                   count(*) OVER (PARTITION BY band_key) AS bsize
            FROM bands
        ) WHERE bsize <= {MAX_BUCKET}
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM kept a JOIN kept b
          ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(doc_id, label) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, r.label FROM reach r JOIN edges e ON r.doc_id = e.src
    ),
    labels AS (
        SELECT doc_id, min(label) AS label FROM reach GROUP BY doc_id
    )
"""

ORACLES["q_dedup_clusters"] = f"""
    {_CC_LABELS_CTES}
    SELECT label AS cluster_id, count(*) AS n_docs, max(doc_id) AS max_doc_id
    FROM labels GROUP BY label ORDER BY cluster_id
"""

ORACLES["q_dedup_materialize"] = f"""
    {_CC_LABELS_CTES}
    SELECT d.source, count(*) AS n_docs,
           count(CASE WHEN l.doc_id = l.label THEN 1 END) AS n_kept,
           CAST(coalesce(sum(CASE WHEN l.doc_id = l.label THEN d.n_chars END), 0) AS BIGINT) AS chars_kept,
           CAST(coalesce(sum(CASE WHEN l.doc_id <> l.label THEN d.n_chars END), 0) AS BIGINT) AS chars_dropped
    FROM documents d JOIN labels l ON d.doc_id = l.doc_id
    GROUP BY d.source ORDER BY d.source
"""

# q_dedup_incremental: the literal SQL of incremental_dedup — history
# store = DISTINCT lead-prefix fingerprints of the 80% split, delta
# row_number over the SAME window (all delta rows of a fingerprint,
# history-member or not), status precedence history > in-delta > new.
ORACLES["q_dedup_incremental"] = f"""
    WITH fp AS (
        SELECT doc_id, source,
               md5(array_to_string(({_TOKS})[1:{FP_PREFIX_TOKENS}], ' ')) AS fingerprint
        FROM documents
    ),
    hist AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 10 < 8),
    delta AS (SELECT * FROM fp WHERE doc_id % 10 >= 8),
    marked AS (
        SELECT d.source,
               CASE WHEN h.fingerprint IS NOT NULL THEN 'dup_of_history'
                    WHEN row_number() OVER (
                             PARTITION BY d.fingerprint ORDER BY d.doc_id
                         ) > 1 THEN 'dup_in_delta'
                    ELSE 'new' END AS status
        FROM delta d LEFT JOIN hist h USING (fingerprint)
    )
    SELECT source, status, count(*) AS n_docs
    FROM marked GROUP BY source, status ORDER BY source, status
"""

# q_dedup_dupspans: the literal SQL of the stride-1 k-gram plan —
# window fingerprints via a correlated UNNEST(range(...)), first
# occurrence as row_number over (doc_id, pos) (the window twin of the
# engine's skew-safe groupBy-min keeper), contiguous-run interval
# merge via the running-max-end window.
ORACLES["q_dedup_dupspans"] = f"""
    WITH d AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
    meta AS (
        SELECT doc_id, source,
               greatest(len(toks) - {DUPSPAN_TOKENS} + 1, 0) AS n_windows
        FROM d
    ),
    wins AS (
        SELECT doc_id, i AS pos,
               md5(array_to_string(
                   toks[i : i + {DUPSPAN_TOKENS} - 1], ' ')) AS fp
        FROM d, UNNEST(range(1, greatest(len(toks) - {DUPSPAN_TOKENS} + 2, 1))) g(i)
    ),
    dups AS (
        SELECT doc_id, pos, pos + {DUPSPAN_TOKENS} - 1 AS e
        FROM (
            SELECT doc_id, pos,
                   count(*) OVER (PARTITION BY fp) AS cnt,
                   row_number() OVER (
                       PARTITION BY fp ORDER BY doc_id, pos
                   ) AS rn
            FROM wins
        ) WHERE cnt > 1 AND rn > 1
    ),
    isl AS (
        SELECT doc_id, pos, e,
               CASE WHEN pos > coalesce(max(e) OVER (
                        PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ), -1) + 1 THEN 1 ELSE 0 END AS brk
        FROM dups
    ),
    isl2 AS (
        SELECT doc_id, pos, e,
               sum(brk) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS island
        FROM isl
    ),
    per_island AS (
        SELECT doc_id, island,
               max(e) - min(pos) + 1 AS masked, count(*) AS n_wins
        FROM isl2 GROUP BY doc_id, island
    ),
    per_doc AS (
        SELECT doc_id, sum(n_wins) AS dup_windows,
               sum(masked) AS masked_tokens, count(*) AS n_islands
        FROM per_island GROUP BY doc_id
    )
    SELECT m.source,
           count(*) AS n_docs,
           CAST(count(p.doc_id) AS BIGINT) AS n_docs_affected,
           CAST(sum(m.n_windows) AS BIGINT) AS n_windows,
           CAST(coalesce(sum(p.dup_windows), 0) AS BIGINT) AS n_dup_windows,
           CAST(coalesce(sum(p.masked_tokens), 0) AS BIGINT) AS n_masked_tokens,
           CAST(coalesce(sum(p.n_islands), 0) AS BIGINT) AS n_masked_islands
    FROM meta m LEFT JOIN per_doc p ON m.doc_id = p.doc_id
    GROUP BY m.source ORDER BY m.source
"""

# q_source_overlap: the literal SQL of the contamination matrix —
# same 10-token grid as q_dedup_segments (empty segments excluded),
# DISTINCT (source, fp) profiles, self-join on fp with source_a <
# source_b, containment in exact ppm against the smaller profile.
ORACLES["q_source_overlap"] = f"""
    WITH d AS (SELECT source, {_TOKS} AS toks FROM documents),
    segs AS (
        SELECT source,
               array_to_string(toks[i * {SEG_TOKENS} + 1 : i * {SEG_TOKENS} + {SEG_TOKENS}], ' ') AS seg_text,
               len(toks[i * {SEG_TOKENS} + 1 : i * {SEG_TOKENS} + {SEG_TOKENS}]) AS seg_len
        FROM d, UNNEST(range(0, greatest(CAST(ceil(len(toks) / {SEG_TOKENS}.0) AS INT), 1))) g(i)
    ),
    profile AS (
        SELECT DISTINCT source, md5(seg_text) AS fp FROM segs WHERE seg_len > 0
    ),
    totals AS (SELECT source, count(*) AS n_fps FROM profile GROUP BY source),
    shared AS (
        SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
        FROM profile a JOIN profile b ON a.fp = b.fp AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT s.source_a, s.source_b, s.n_shared,
           (s.n_shared * 1000000) // least(ta.n_fps, tb.n_fps) AS overlap_ppm
    FROM shared s
    JOIN totals ta ON ta.source = s.source_a
    JOIN totals tb ON tb.source = s.source_b
    ORDER BY s.source_a, s.source_b
"""
