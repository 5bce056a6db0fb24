"""Similarity-search semantics on planted vectors."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def planted_sf(spark, tmp_path_factory):
    """Embeddings where vec 1 is nearly identical to the query (vec 0),
    vec 2 is its exact opposite, the rest quasi-random."""
    import math

    dim = 8
    def unit(seed):
        vals = [math.sin(seed * 13.7 + i * 2.9) for i in range(dim)]
        n = math.sqrt(sum(v * v for v in vals))
        return [v / n for v in vals]

    q = unit(1)
    near = [v * 0.999 + 0.001 for v in q]
    opposite = [-v for v in q]
    rows = [(0, q, 0), (1, near, 0), (2, opposite, 0)]
    rows += [(i, unit(i * 7 + 3), i % 3) for i in range(3, 40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    d = tmp_path_factory.mktemp("planted_emb")
    df.coalesce(1).write.mode("overwrite").parquet(str(d / "embeddings.parquet"))
    return str(d)


def test_bruteforce_topk_finds_planted(spark, planted_sf):
    from ai4orgwebscraper_spark.operators.similarity import q_knn_bruteforce

    rows = q_knn_bruteforce(spark, planted_sf).collect()
    assert rows[0]["vec_id"] == 1  # the planted near-identical vector
    assert rows[0]["cosine"] > 0.99
    assert rows[-1]["cosine"] >= min(r["cosine"] for r in rows)  # sorted desc
    assert all(r["vec_id"] != 0 for r in rows)  # query excluded


def test_lsh_bucket_contains_near_vector(spark, planted_sf):
    from ai4orgwebscraper_spark.operators.similarity import q_knn_lsh

    rows = q_knn_lsh(spark, planted_sf).collect()
    # sign-bucket of the near-identical vector equals the query's
    assert rows and rows[0]["vec_id"] == 1
    # the opposite vector lands in the complementary bucket
    assert all(r["vec_id"] != 2 for r in rows)


def test_lsh_subset_of_bruteforce_candidates(spark, planted_sf):
    from ai4orgwebscraper_spark.operators.similarity import (
        q_knn_bruteforce,
        q_knn_lsh,
    )

    bf = {r["vec_id"]: r["cosine"] for r in q_knn_bruteforce(spark, planted_sf).collect()}
    for r in q_knn_lsh(spark, planted_sf).collect():
        if r["vec_id"] in bf:
            assert abs(bf[r["vec_id"]] - r["cosine"]) < 1e-9


def test_ivf_learned_probe_is_exact_within_cluster(spark, planted_sf):
    """IVF over k-means-learned centroids: every returned neighbor's
    cosine must equal the brute-force value (the probe prunes, never
    perturbs), and the near-identical vector 1 — which shares the
    query's cluster by construction — must rank first."""
    from ai4orgwebscraper_spark.operators.similarity import (
        q_knn_bruteforce,
        q_knn_ivf_learned,
    )

    bf = {r["vec_id"]: r["cosine"] for r in q_knn_bruteforce(spark, planted_sf).collect()}
    rows = q_knn_ivf_learned(spark, planted_sf).collect()
    assert rows and rows[0]["vec_id"] == 1  # nearest neighbor recalled
    for r in rows:
        if r["vec_id"] in bf:
            assert abs(bf[r["vec_id"]] - r["cosine"]) < 1e-9


def test_lsh_multiprobe_finds_planted_and_is_exact(spark, planted_sf):
    """Multiprobe sign-LSH: pruning only — every returned cosine equals
    the brute-force value, and the planted near-identical vector (same
    signature as the query by construction) ranks first."""
    from ai4orgwebscraper_spark.operators.similarity import (
        q_knn_bruteforce,
        q_knn_lsh_multiprobe,
    )

    bf = {r["vec_id"]: r["cosine"] for r in q_knn_bruteforce(spark, planted_sf).collect()}
    rows = q_knn_lsh_multiprobe(spark, planted_sf).collect()
    assert rows and rows[0]["vec_id"] == 1
    for r in rows:
        if r["vec_id"] in bf:
            assert abs(bf[r["vec_id"]] - r["cosine"]) < 1e-9


def test_lsh_multiprobe_recall_beats_single_bucket(spark):
    """r5 regression pin for the bench's ann_recall tracking: on the
    real sf0.01 fixture the 2-flip probe ring over full-mix hyperplanes
    must recover recall@10 the single axis-bucket variant loses (the
    corpus's true top-10 sit at cosine ~0.3-0.4, where Hamming-0
    probing floors at 0)."""
    from ai4orgwebscraper_spark.operators.similarity import (
        q_knn_bruteforce,
        q_knn_lsh,
        q_knn_lsh_multiprobe,
    )

    sf = "/root/testdata/sf0.01"
    truth = {r["vec_id"] for r in q_knn_bruteforce(spark, sf).collect()}
    single = {r["vec_id"] for r in q_knn_lsh(spark, sf).collect()}
    multi = {r["vec_id"] for r in q_knn_lsh_multiprobe(spark, sf).collect()}
    r_single = len(single & truth) / len(truth)
    r_multi = len(multi & truth) / len(truth)
    assert r_multi >= 0.4  # deterministic fixture: measured 0.4
    assert r_multi > r_single


def _semantic_dedup_vs_twin(spark, sf_dir):
    """Asserts q_semantic_dedup's per-cluster audit equals the twin's
    (kmeans_py clusters + python cosine) on `sf_dir`'s embeddings as
    they are now; returns (twin audit, operator rows)."""
    import math
    from collections import defaultdict

    from ai4orgwebscraper_spark.operators.clustering import ITERATIONS, K, kmeans_py
    from ai4orgwebscraper_spark.operators.similarity import (
        SEMDEDUP_TAU,
        q_semantic_dedup,
    )

    emb = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in spark.read.parquet(sf_dir + "/embeddings.parquet").collect()
    }
    assign, _ = kmeans_py(emb, K, ITERATIONS)

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(y * y for y in b))
        return dot / (na * nb)

    clusters = defaultdict(list)
    for vid, c in assign.items():
        clusters[c].append(vid)
    exp = {}
    for c, vids in clusters.items():
        vids = sorted(vids)
        dropped, maxc = set(), None
        for i, vb in enumerate(vids):
            for va in vids[:i]:
                cv = cos(emb[va], emb[vb])
                maxc = cv if maxc is None else max(maxc, cv)
                if cv >= SEMDEDUP_TAU:
                    dropped.add(vb)
        exp[c] = (len(vids), len(dropped), len(vids) - len(dropped),
                  None if maxc is None else round(maxc, 3))
    got = {r["cluster"]: r for r in q_semantic_dedup(spark, sf_dir).collect()}
    assert set(got) == set(exp)
    for c, (nv, nd, nk, mc) in exp.items():
        g = got[c]
        assert (g["n_vectors"], g["n_dropped"], g["n_kept"]) == (nv, nd, nk), c
        if mc is None:
            assert g["max_cos"] is None
        else:
            assert abs(g["max_cos"] - mc) <= 0.0011
    return exp, got


def test_semantic_dedup_matches_twin_and_drops_planted(spark, planted_sf, tmp_path):
    """SemDeDup twin: kmeans_py clusters + python cosine reproduce the
    operator's per-cluster audit exactly; the planted near-identical
    pair (vec 0 / vec 1) must produce at least one drop. Then the
    embeddings are rewritten in place in the same session and the
    operator must follow the new vectors, not an earlier call's."""
    import math
    import shutil

    sf_dir = str(tmp_path / "semdedup")
    shutil.copytree(planted_sf, sf_dir)
    exp, got = _semantic_dedup_vs_twin(spark, sf_dir)
    # the planted near-identical pair is a semantic duplicate: exactly
    # the case SemDeDup exists for — somebody must get dropped
    assert sum(nd for _, nd, _, _ in exp.values()) >= 1
    assert sum(r["n_dropped"] for r in got.values()) >= 1
    # 40-vector fixture: no cluster near SEMDEDUP_MAX_BLOCK
    assert not any(r["capped"] for r in got.values())

    def unit(seed):
        vals = [math.cos(seed * 5.3 + i * 1.7) for i in range(8)]
        n = math.sqrt(sum(v * v for v in vals))
        return [v / n for v in vals]

    rows = [(i, unit(i), 0) for i in range(30)]
    rows += [(30 + i, [v * 0.99 for v in unit(i)], 0) for i in range(0, 30, 3)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(sf_dir + "/embeddings.parquet")
    exp2, got2 = _semantic_dedup_vs_twin(spark, sf_dir)
    assert exp2 != exp
    assert sum(r["n_vectors"] for r in got2.values()) == 40


def test_semantic_materialize_matches_twin_and_audit_totals(spark):
    """q_semantic_materialize == a pure-Python twin (kmeans_py +
    cosine + per-source rollup over the sf0.001 documents), and its
    total drop count equals the q_semantic_dedup audit's."""
    import math
    from collections import defaultdict

    from ai4orgwebscraper_spark.operators.clustering import ITERATIONS, K, kmeans_py
    from ai4orgwebscraper_spark.operators.similarity import (
        SEMDEDUP_MAX_BLOCK,
        SEMDEDUP_TAU,
        q_semantic_dedup,
        q_semantic_materialize,
    )

    sf = "/root/testdata/sf0.001"
    emb = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in spark.read.parquet(sf + "/embeddings.parquet").collect()
    }
    docs = {
        r["doc_id"]: (r["source"], r["n_chars"])
        for r in spark.read.parquet(sf + "/documents.parquet").collect()
    }
    assign, _ = kmeans_py(emb, K, ITERATIONS)
    clusters = defaultdict(list)
    for vid, c in assign.items():
        clusters[c].append(vid)

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        return dot / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        )

    dropped = set()
    for vids in clusters.values():
        vids = sorted(vids)
        if len(vids) > SEMDEDUP_MAX_BLOCK:
            continue  # capped cluster: drops nothing
        for i, vb in enumerate(vids):
            if any(cos(emb[va], emb[vb]) >= SEMDEDUP_TAU for va in vids[:i]):
                dropped.add(vb)
    exp = defaultdict(lambda: [0, 0, 0, 0])  # n_docs, n_kept, ck, cd
    for doc_id, (source, n_chars) in docs.items():
        e = exp[source]
        e[0] += 1
        if doc_id in dropped:
            e[3] += n_chars
        else:
            e[1] += 1
            e[2] += n_chars
    got = {r["source"]: r for r in q_semantic_materialize(spark, sf).collect()}
    assert set(got) == set(exp)
    for s, (nd, nk, ck, cd) in exp.items():
        g = got[s]
        assert (g["n_docs"], g["n_kept"], g["chars_kept"], g["chars_dropped"]) == (
            nd, nk, ck, cd,
        ), s
    audit_drops = sum(
        r["n_dropped"] for r in q_semantic_dedup(spark, sf).collect()
    )
    assert audit_drops == len(dropped) == sum(
        e[0] - e[1] for e in exp.values()
    )
