"""Semantic dedup tests on planted duplicates (beyond oracle parity:
these check the operators actually FIND duplicates)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ai4orgwebscraper_spark.operators import dedup, text


@pytest.fixture(scope="module")
def planted_sf(spark, tmp_path_factory):
    """A documents table with exact dups, near-dups, and unrelated docs."""
    base = "spark frontier crawl fetch parse span media queue host token"
    near = "spark frontier crawl fetch parse span media queue host bucket"  # 1 word off
    rows = [
        (0, base, "en", "srcA", len(base)),
        (1, base, "en", "srcA", len(base)),  # exact dup of 0
        (2, near, "en", "srcA", len(near)),  # near dup of 0
        (3, "completely different words entirely unrelated content here", "en", "srcA", 55),
        (4, base.upper(), "en", "srcA", len(base)),  # case-normalized dup of 0
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = tmp_path_factory.mktemp("planted")
    df.coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


def test_exact_dedup_finds_planted(spark, planted_sf):
    out = dedup.q_dedup_exact(spark, planted_sf).collect()
    assert len(out) == 1
    assert out[0]["n_docs"] == 3  # 0, 1, and the case-variant 4
    assert out[0]["keeper_doc_id"] == 0


def test_minhash_lsh_finds_near_dup(spark, planted_sf):
    out = dedup.q_dedup_minhash_lsh(spark, planted_sf).collect()
    cands = {(r["doc_a"], r["min_doc_b"], r["max_doc_b"], r["n_candidates"]) for r in out}
    by_a = {r["doc_a"]: r for r in out}
    # doc 0 must be a candidate with its near-dup 2 (9/11 shared tokens)
    assert 0 in by_a, cands
    assert by_a[0]["max_doc_b"] >= 2
    # the unrelated doc 3 must NOT collide with anything
    assert 3 not in by_a
    assert all(r["max_doc_b"] != 3 for r in out)


def test_simhash_near_dups_close(spark, planted_sf):
    rows = {r["doc_id"]: r["simhash16"] for r in dedup.q_dedup_simhash(spark, planted_sf).collect()}
    def hamming(a, b):
        return bin(a ^ b).count("1")
    assert rows[0] == rows[1] == rows[4]  # exact dups -> identical simhash
    assert hamming(rows[0], rows[2]) <= 6  # near dup -> close
    assert hamming(rows[0], rows[3]) >= hamming(rows[0], rows[2])


def test_ngram_jaccard_stats(spark, planted_sf):
    out = dedup.q_dedup_ngram_jaccard(spark, planted_sf).collect()
    assert len(out) == 1
    row = out[0]
    assert row["source"] == "srcA"
    assert row["n_dup_pairs"] >= 3  # (0,1), (0,4), (1,4) are identical
    assert row["max_jaccard"] == 1.0


def test_clusters_separate_unrelated_docs(spark, planted_sf):
    rows = {r["cluster_id"]: (r["n_docs"], r["max_doc_id"])
            for r in dedup.q_dedup_clusters(spark, planted_sf).collect()}
    # docs 0,1,2,4 are (near-)dups -> one cluster keyed by min doc 0;
    # doc 3 is unrelated -> its own singleton cluster
    assert rows[0] == (4, 4)
    assert rows[3] == (1, 3)


def test_cc_path_graph_converges_in_log_rounds(spark):
    """A 100-node path (diameter 99 — the boilerplate-ladder shape that
    breaks plain min-label propagation's O(diameter) rounds) must
    converge well under the old 32-iteration cap thanks to pointer
    doubling (VERDICT r02 item 2): log2(99) ≈ 7, allow 12."""
    n = 100
    nodes = spark.range(n).select(F.col("id").alias("doc_id"))
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    labels = dedup.connected_components(spark, nodes, edges, max_iter=12)
    got = {r["doc_id"]: r["label"] for r in labels.collect()}
    assert got == {i: 0 for i in range(n)}


def test_cc_nonconvergence_raises_loudly(spark):
    """Hitting the iteration cap while labels still move must RAISE,
    never return partial labels (the silent-wrong-answer hole)."""
    n = 64
    nodes = spark.range(n).select(F.col("id").alias("doc_id"))
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    with pytest.raises(dedup.ConvergenceError):
        dedup.connected_components(spark, nodes, edges, max_iter=2)


def test_repeated_dedup_calls_do_not_accumulate_cached_dfs(spark, planted_sf, tmp_path):
    """No dedup operator keeps state between calls: running the shingle
    and LSH queries on two data directories, one of them twice, leaves
    no persisted RDD behind in the session."""
    import shutil

    copy = str(tmp_path / "planted_copy")
    shutil.copytree(planted_sf, copy)
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    for sf_dir in (planted_sf, copy, planted_sf):
        dedup.q_dedup_ngram_jaccard(spark, sf_dir).collect()
        dedup.q_dedup_minhash_lsh(spark, sf_dir).collect()
    grown = jsc.getPersistentRDDs().size() - before
    assert grown <= 0, f"{grown} net-new cached RDDs after repeated dedup calls"


@pytest.mark.parametrize("query", ["q_dedup_minhash_lsh", "q_dedup_dupspans"])
def test_multi_consumer_map_side_shuffled_once(spark, query):
    """The heavy map side that several consumers read (the K-min
    minhash table, the dupspans token stream) is shuffled ONCE on
    doc_id inside the plan and reused, with no cache scan: the shared
    work a per-call persist used to buy. Run on the sf0.001 fixture,
    whose consumers all survive AQE (a 5-doc table prunes the empty
    bucket-size branch)."""
    from conftest import SF_SMALL

    df = getattr(dedup, query)(spark, SF_SMALL)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0].splitlines()
    by_doc = [ln for ln in final if "Exchange hashpartitioning(doc_id" in ln]
    reused = [ln for ln in by_doc if "ReusedExchange" in ln]
    assert len(by_doc) - len(reused) == 1 and reused, "\n".join(final)
    assert not any("InMemoryTableScan" in ln for ln in final)


def test_fingerprint_matches_text_module(spark, planted_sf):
    fp = text.q_doc_fingerprint(spark, planted_sf)
    dups = fp.filter(F.col("n_docs") > 1).collect()
    assert len(dups) == 1 and dups[0]["n_docs"] == 3


# ---------------------------------------------------------------------------
# cross-document segment dedup (q_dedup_segments)
# ---------------------------------------------------------------------------

def _seg_twin(docs):
    """Pure-Python twin: docs = [(doc_id, text, source)] -> per-doc
    cleaned text + the operator's per-source audit rows."""
    import hashlib
    import re
    from collections import defaultdict

    def md5(s):
        return hashlib.md5(s.encode()).hexdigest()

    segs = []  # (doc_id, seg_idx, seg_tokens)
    per_doc_meta = {}
    for doc_id, txt, source in docs:
        toks = [w for w in re.split(r"[^a-z0-9]+", txt.lower()) if w]
        n = max(-(-len(toks) // dedup.SEG_TOKENS), 1)
        per_doc_meta[doc_id] = source
        for i in range(n):
            segs.append((doc_id, i, toks[i * dedup.SEG_TOKENS:(i + 1) * dedup.SEG_TOKENS]))
    first = {}
    for doc_id, i, seg in sorted(segs):
        first.setdefault(" ".join(seg), (doc_id, i))
    cleaned = defaultdict(list)
    stats = defaultdict(lambda: [0, 0, 0])  # per doc: n_segs, n_dropped, toks_dropped
    for doc_id, i, seg in sorted(segs):
        txt = " ".join(seg)
        stats[doc_id][0] += 1
        if first[txt] != (doc_id, i):
            stats[doc_id][1] += 1
            stats[doc_id][2] += len(seg)
        else:
            cleaned[doc_id].append(txt)
    cleaned_txt = {d: " ".join(cleaned.get(d, [])) for d in per_doc_meta}
    rows = {}
    for src in sorted(set(per_doc_meta.values())):
        ds = sorted(d for d, s in per_doc_meta.items() if s == src)
        md5s = [md5(cleaned_txt[d]) for d in ds]
        rows[src] = {
            "n_docs": len(ds),
            "n_docs_affected": sum(1 for d in ds if stats[d][1] > 0),
            "n_segments": sum(stats[d][0] for d in ds),
            "n_segments_dropped": sum(stats[d][1] for d in ds),
            "n_tokens_dropped": sum(stats[d][2] for d in ds),
            "n_distinct_cleaned": len(set(md5s)),
            "cleaned_md5_min": min(md5s),
            "cleaned_md5_max": max(md5s),
            "n_cleaned_chars": sum(len(cleaned_txt[d]) for d in ds),
        }
    return cleaned_txt, rows


@pytest.fixture(scope="module")
def seg_sf(spark, tmp_path_factory):
    """Planted segment-level duplication: S1 shared by three docs
    (kept only in doc 0), a within-doc repeat (doc 3), a doc whose
    ENTIRE content is a duplicate (doc 2 -> cleaned '')."""
    s1 = " ".join("w%02d" % i for i in range(10))
    s2 = " ".join("x%02d" % i for i in range(10))
    s3 = " ".join("y%02d" % i for i in range(10))
    u = " ".join("u%02d" % i for i in range(10))
    rows = [
        (0, f"{s1} {s2} tail1 tail2 tail3", "srcA"),
        (1, f"{s1} {u}", "srcA"),
        (2, s1, "srcB"),
        (3, f"{s3} {s3}", "srcB"),
    ]
    df = spark.createDataFrame(
        [(d, t, "en", s, len(t)) for d, t, s in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = tmp_path_factory.mktemp("segs")
    df.coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d), rows


def test_segment_dedup_matches_twin(spark, seg_sf):
    sf_dir, rows = seg_sf
    cleaned, exp = _seg_twin([(d, t, s) for d, t, s in rows])
    got = {r["source"]: r.asDict() for r in dedup.q_dedup_segments(spark, sf_dir).collect()}
    assert set(got) == set(exp)
    for src in exp:
        assert {k: got[src][k] for k in exp[src]} == exp[src], src


def test_segment_dedup_semantics(spark, seg_sf):
    sf_dir, rows = seg_sf
    cleaned, _ = _seg_twin([(d, t, s) for d, t, s in rows])
    # doc 1 keeps only its unique segment; doc 2 is dropped entirely;
    # doc 3's within-doc repeat keeps the first occurrence
    assert cleaned[1] == " ".join("u%02d" % i for i in range(10))
    assert cleaned[2] == ""
    assert cleaned[3] == " ".join("y%02d" % i for i in range(10))
    got = {r["source"]: r for r in dedup.q_dedup_segments(spark, sf_dir).collect()}
    assert got["srcB"]["n_docs_affected"] == 2
    assert got["srcB"]["n_tokens_dropped"] == 20


# ---------------------------------------------------------------------------
# any-offset duplicated spans (q_dedup_dupspans)
# ---------------------------------------------------------------------------

def _dupspan_twin(docs, k):
    """Brute force: docs = [(doc_id, text, source)] -> per-source
    audit rows matching q_dedup_dupspans' schema."""
    import re
    from collections import defaultdict

    wins = []  # (doc_id, pos, key)
    meta = {}  # doc_id -> (source, n_windows)
    for doc_id, txt, source in docs:
        toks = [w for w in re.split(r"[^a-z0-9]+", txt.lower()) if w]
        n = max(len(toks) - k + 1, 0)
        meta[doc_id] = (source, n)
        for i in range(n):
            wins.append((doc_id, i + 1, " ".join(toks[i:i + k])))
    by_key = defaultdict(list)
    for doc_id, pos, key in wins:
        by_key[key].append((doc_id, pos))
    masked_pos = defaultdict(set)
    dup_wins = defaultdict(int)
    for key, occ in by_key.items():
        if len(occ) < 2:
            continue
        for doc_id, pos in sorted(occ)[1:]:
            dup_wins[doc_id] += 1
            masked_pos[doc_id].update(range(pos, pos + k))
    rows = {}
    for src in sorted({s for s, _ in meta.values()}):
        ds = sorted(d for d, (s, _) in meta.items() if s == src)
        islands = 0
        for d in ds:
            ps = sorted(masked_pos.get(d, ()))
            islands += sum(
                1 for j, p in enumerate(ps) if j == 0 or p > ps[j - 1] + 1
            )
        rows[src] = {
            "n_docs": len(ds),
            "n_docs_affected": sum(1 for d in ds if dup_wins.get(d)),
            "n_windows": sum(meta[d][1] for d in ds),
            "n_dup_windows": sum(dup_wins.get(d, 0) for d in ds),
            "n_masked_tokens": sum(len(masked_pos.get(d, ())) for d in ds),
            "n_masked_islands": islands,
        }
    return rows


@pytest.fixture(scope="module")
def dupspan_sf(spark, tmp_path_factory):
    """Planted any-offset duplication: docB embeds a 10-token run of
    docA at a DIFFERENT offset (invisible to the fixed segment grid),
    docC is a full copy of docA, docD is too short for any window,
    docE repeats its own first 10 tokens at offset 11."""
    a = ["a%02d" % i for i in range(20)]
    rows = [
        (0, " ".join(a), "srcA"),
        (1, " ".join(["b0", "b1", "b2"] + a[5:15] + ["b3", "b4", "b5"]), "srcA"),
        (2, " ".join(a), "srcB"),
        (3, "short doc only five tokens", "srcB"),
        (4, " ".join(["r%d" % i for i in range(10)] * 2), "srcB"),
    ]
    df = spark.createDataFrame(
        [(d, t, "en", s, len(t)) for d, t, s in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = tmp_path_factory.mktemp("dupspans")
    df.coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d), rows


def test_dupspans_matches_twin(spark, dupspan_sf):
    sf_dir, rows = dupspan_sf
    exp = _dupspan_twin(rows, dedup.DUPSPAN_TOKENS)
    got = {
        r["source"]: r.asDict()
        for r in dedup.q_dedup_dupspans(spark, sf_dir).collect()
    }
    assert set(got) == set(exp)
    for src in exp:
        assert {k: got[src][k] for k in exp[src]} == exp[src], src


def test_dupspans_semantics(spark, dupspan_sf):
    """Hand-checked: B's embedded run is ONE dup window / 10 masked
    tokens (offset-shifted — the case the fixed segment grid misses);
    C duplicates all 11 of A's windows into one 20-token island; D has
    no window at all; E's self-repeat dups exactly its pos-11 window."""
    sf_dir, _ = dupspan_sf
    got = {
        r["source"]: r for r in dedup.q_dedup_dupspans(spark, sf_dir).collect()
    }
    assert got["srcA"].asDict() == {
        "source": "srcA", "n_docs": 2, "n_docs_affected": 1,
        "n_windows": 11 + 7, "n_dup_windows": 1,
        "n_masked_tokens": 10, "n_masked_islands": 1,
    }
    assert got["srcB"].asDict() == {
        "source": "srcB", "n_docs": 3, "n_docs_affected": 2,
        "n_windows": 11 + 0 + 11, "n_dup_windows": 11 + 1,
        "n_masked_tokens": 20 + 10, "n_masked_islands": 2,
    }


# ---------------------------------------------------------------------------
# cross-source overlap matrix (q_source_overlap)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def overlap_sf(spark, tmp_path_factory):
    """Three sources built from 10-token segments with known sharing:
    srcA = segments {s1, s2}, srcB = {s1, s3}, srcC = {s4} (disjoint).
    Planted as one 20-token doc per source pair member so the fixed
    grid cuts exactly on the segment boundaries."""
    def seg(tag):
        return " ".join(f"{tag}w{i}" for i in range(10))

    s1, s2, s3, s4 = seg("a"), seg("b"), seg("c"), seg("d")
    rows = [
        (0, f"{s1} {s2}", "en", "srcA", 0),
        (1, f"{s1} {s3}", "en", "srcB", 0),
        (2, s4, "en", "srcC", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = tmp_path_factory.mktemp("overlap")
    df.coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


def test_source_overlap_matrix(spark, overlap_sf):
    out = {(r["source_a"], r["source_b"]): r for r in dedup.q_source_overlap(spark, overlap_sf).collect()}
    # only the A-B pair shares anything; C is disjoint -> absent
    assert set(out) == {("srcA", "srcB")}
    r = out[("srcA", "srcB")]
    # 1 shared fp out of min(|A|, |B|) = min(2, 2) = 2 -> 500000 ppm
    assert r["n_shared"] == 1
    assert r["overlap_ppm"] == 500000


def test_source_overlap_empty_segments_excluded(spark, tmp_path_factory):
    # an empty doc contributes NO fingerprint: md5('') must not create
    # phantom overlap between sources that both have empty docs
    rows = [
        (0, "", "en", "srcX", 0),
        (1, "", "en", "srcY", 0),
        (2, "alpha beta", "en", "srcX", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = tmp_path_factory.mktemp("overlap_empty")
    df.coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    assert dedup.q_source_overlap(spark, str(d)).collect() == []
