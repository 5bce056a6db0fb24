#!/usr/bin/env python
"""Generate BENCH/PLANS.md: executed physical plans of the headline
queries at sf0.01, annotated with what to look for (PushedFilters,
ReadSchema pruning, BroadcastHashJoin, whole-stage codegen spans).
Evidence artifact for the scale review — regenerate after plan changes.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"

PICKS = {
    "q6_forecast_revenue": "scan+filter+agg: every predicate in PushedFilters; ReadSchema is 4 of 11 lineitem columns; single-stage codegen",
    "q1_pricing_summary": "partial+final hash agg (map-side combine before the 6-group shuffle)",
    "q_region_rollup": "both dimension joins are BroadcastHashJoin — the fact side never shuffles for a join",
    "q_top_customers": "join + agg + TakeOrderedAndProject top-k (no full sort)",
    "q_top_parts_per_brand": "ranking window partitioned by brand (never a single-partition window)",
    "q_dedup_minhash_lsh": "one-pass K-min aggregation, band self-join on band_key",
    "q_knn_bruteforce": "broadcast single-row query vector; corpus scan embarrassingly parallel; top-k via TakeOrderedAndProject",
    "q_orders_paged": "offset pagination: TakeOrderedAndProject(limit=start+count) feeds the rank window — the whole-table SinglePartition window exchange never exists (r02 fix)",
    "q_embedding_neardup": "candidate generation by (label, sign-LSH bucket): pair join keyed on both — no all-pairs-within-label blowup (r02 fix)",
    "q_dedup_ngram_jaccard": "inverted-index self-join with hot-shingle suppression (df cap) before the join (r02 fix)",
    "q_dedup_simhash": "one-pass 16-conditional-sum tally — no 16x crossJoin Generate (r02 fix)",
    "q_part_nested_detail": "struct pack/extract + array_contains as pure codegen'd exprs over one scan",
    "q_events_asof_join": "AS-OF join via union+window: no join operator at all, one shuffle per key — never an inequality nested loop",
    "q_events_interval_join": "bounded range join via bucket equi-join (2-bin probe explode); the inequality is a post-join filter, not a join condition",
    "q_events_session_windows": "native session-window aggregation (streaming-capable operator, batch-verified)",
    "q_knn_lsh_multiprobe": "full-mix hyperplane signature is a pure column expr; probe ring = codegen'd bit_count(XOR) <= 2 against the 1-row broadcast query signature — no bucket enumeration, no corpus shuffle (r5)",
    "q_doc_repetition": "bigrams via in-row transform(sequence) — no self-join; explode + partial agg shrinks to per-doc vocab before the doc_id-keyed shuffle; all group keys doc-/source-scoped (r5)",
    "q_knn_ivf": "IVF assignment as an in-row array_sort argmin over broadcast centroids — no Exchange on vec_id, no window (r03 fix); probe join is a tiny broadcast; the fixture scan is round-robin-widened (r6 load_wide, no-op on multi-split tables)",
    "q_knn_ivf_multiprobe": "same shuffle-free assignment; nprobe=2 probe set explodes ONE row's top-2 ranked centroids",
    "q_knn_ivf_learned": "learned-centroid IVF: k-means training ran at build time (separate jobs); the query plan itself is the same shuffle-free in-row argmin assign + broadcast probe join",
    "kmeans_embeddings": "final Lloyd assignment + per-row distance in ONE vectorized Arrow pass (r6: numpy argmin against closure-shipped centroids — no broadcast join, no interpreted fold), then one partial+final hash agg on cluster — the corpus never shuffles for assignment",
    "q_pagerank": "iterative state spilled per step: the final plan is a parquet scan of the last spill + round + sort — the 10 iteration joins ran at loop width with the adjacency pre-partitioned once",
    "q_bm25_search": "corpus stats as driver-side literals (no 1-row crossJoin BNLJ); term-df broadcast; the only data-scale shuffle is the per-doc agg; top-20 via TakeOrderedAndProject (r5)",
    "q_inverted_index": "explode -> two partial-agg'd groupBys; posting-head via rank-filtered window over (term, doc_id) — sort-based/spillable, never a per-term in-memory array; no SinglePartition exchange (r5)",
    "q_tfidf_lang_terms": "vocab-sized df table broadcast into the per-lang tf join; ranking window over tiny post-agg per-lang partitions (r5)",
    "q_dedup_segments": "corpus-scale segment posexplode, computed by each of its two consumers; keeper = map-side combined groupBy(min) on seg_hash; join-back is a shuffle join (AQE skew-join can split a hot boilerplate key — a window could not); doc reassembly groupBy bounded by doc size (r5)",
    "q_doc_selection": "DSIR-lite: trained vocab folded back as an in-row literal array filter — the corpus scoring pass has NO explode and NO shuffle; top-3 window runs on source-partitioned post-agg rows (r5)",
    "q_semantic_dedup": "SemDeDup: kmeans assignment stays the broadcast-centroid in-row argmin (no corpus shuffle); the exact cosine pass is a self-join keyed on cluster restricted to sub-cap blocks (small-cluster list broadcast), so the quadratic never sees a junk block (r5); the pairs fold to one max-cosine row per vector, and both consumers read that aggregate's one exchange",
    "crawl_spans_dedup": "interleave-preserving span dedup over the flagship payload: keeper = map-side combined groupBy(min) on md5(text); join-back shuffle join (AQE-skew-splittable boilerplate key); per-doc reassembly groupBy bounded by doc size (r5)",
    "q_dedup_incremental": "history fingerprint store joins as a bare scan (bucketed layout: zero Exchange above it); only the delta shuffles; in-batch window partitioned by fingerprint — delta-sized (r5)",
    "q_dedup_dupspans": "stride-1 window fps via k-1 codegen'd lead() columns over the doc_id window (3x faster than the interpreted transform() lambda at sf1), both consumers reading one doc_id exchange (ReusedExchange); keeper = map-side combined groupBy(min,count); interval merge under doc_id-partitioned window (r5)",
    "q_doc_quality_buckets": "vocab-sized reference LM broadcast onto the exploded token stream; per-doc score one partial-agg'd groupBy; ntile window partitioned by source (r5)",
    "q_source_overlap": "DISTINCT (source, fp) before the fp self-join bounds every fp group by |sources| — the pair join is skew-free by construction; totals an S-row broadcast (r5)",
    "q_doc_shuffle_shards": "md5 permutation as one column expr; the only shuffle is hash-partitioning by the 256-way shard key; position window partitioned by shard — no global sort anywhere (r5)",
    "q_bpe_encode": "encode runs on the DISTINCT word table (vocab-sized), merges folded as literal replace nodes; the corpus-scale pass is one explode + map-side-combined groupBy(source, word) before the vocab join (r5)",
    "q_doc_chunks": "strided-overlap chunk explode bounded by ~n/80 rows per doc (transform lambda per CHUNK, not per token); per-source partial-agg stats + one map-side-combined distinct on chunk md5 (r5)",
    "q_user_retention": "map-side-combined DISTINCT (user, day) before anything else; retention = next-active-day lead() window per user over the reduced table — ONE events scan, no self-join (r6); rollup groups by day",
    "q_events_funnel": "one conditional-min agg per stage keyed by user_id, each stage joined to the previous stage's (user, ts) table — no windows, no events self-join (r5)",
}


def main() -> None:
    from ai4orgwebscraper_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark(app_name="dump_plans", cpus=8, shuffle_partitions=8)
    qs = entrymod.queries()
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/PLANS.md", "w") as f:
        f.write(
            "# PLANS — executed physical plans of headline queries (sf0.01)\n\n"
            "Generated by scripts/dump_plans.py. AQE final plans after one\n"
            "execution; `*(n)` prefixes mark whole-stage-codegen spans.\n"
        )
        for name, note in PICKS.items():
            df = qs[name](spark, SF_DIR)
            df.collect()  # AQE finalizes on execution
            plan = df._jdf.queryExecution().executedPlan().toString()
            plan = plan.split("+- == Initial Plan ==")[0].rstrip()
            f.write(f"\n## {name}\n\n*{note}*\n\n```\n{plan}\n```\n")
    print("BENCH/PLANS.md written")
    spark.stop()


if __name__ == "__main__":
    main()
