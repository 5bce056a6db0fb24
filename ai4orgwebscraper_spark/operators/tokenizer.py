"""Distributed BPE tokenizer training over `documents` — the
vocabulary-construction step of an LLM training-data pipeline
(Sennrich et al. 2016, "Neural Machine Translation of Rare Words with
Subword Units"). Absent in the reference (which never tokenizes below
the word level — app.py:22 stops at `\\b\\w+\\b`); first-class here
because a 100 TB corpus engine that feeds a tokenizer trainer must be
able to BE the tokenizer trainer.

Algorithm (classic corpus-weighted BPE):
  1. Pre-aggregate the corpus to (word, count) — the standard BPE
     trick that makes every later step O(|vocab|), not O(|corpus|).
     At 100 TB this is the only data-scale pass: one explode +
     map-side-combined groupBy.
  2. Each word becomes a symbol sequence (its characters). Per merge
     step: count adjacent symbol pairs weighted by word count, take
     the argmax (ties: lexicographically smallest pair — RNG-free),
     fuse every occurrence of that pair, repeat.
  3. The learned model is the ordered merge list — k rows of driver
     state per step (exactly the kmeans/PageRank model-state shape,
     clustering.py:77).

Cross-engine determinism: symbol sequences are encoded as strings
with TWO spaces between symbols and ONE leading/trailing space
(`' a  b  c '`). Fusing pair (a, b) is then the literal
`replace(seq, ' a  b ', ' ab ')`: because each boundary contributes
its own space, non-overlapping left-to-right `replace` — the
semantics of BOTH Spark's `F.replace` and DuckDB's `replace` —
reproduces canonical greedy BPE exactly (with single-space
separators, `'a a a'` would mis-fuse; with double spaces the second
occurrence keeps its own leading space). `tests/test_tokenizer.py`
pins this against a from-scratch pure-Python BPE on tuple lists, and
the DuckDB oracle unrolls the loop as CTEs (graph.py:175 pattern).

Scale shape: the iteration state is the vocab-sized (word, n, seq)
table; pair counting is an in-row transform + explode whose output is
|vocab| x avg-word-length rows, shuffled once per step on the pair
key with map-side combine; the merge rule is a 1-row broadcast-as-
literal. No data-scale shuffle after step 1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ai4orgwebscraper_spark.operators.text import _tokens
from ai4orgwebscraper_spark.sources.readers import load_table, load_wide

N_MERGES = 5
SEP = "\x1f"  # below every corpus symbol char => pair-string order == (a, b) tuple order


def _char_seq(word_col):
    """' a  b  c ' encoding of a word's characters (module docstring).
    array_remove == the former filter(c != '') lambda, minus the
    interpreted lambda dispatch (see text._tokens)."""
    chars = F.array_remove(F.split(word_col, ""), "")
    return F.concat(F.lit(" "), F.array_join(chars, "  "), F.lit(" "))


def bpe_merges(words: DataFrame, n_merges: int = N_MERGES) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merge rules from a (word, n) vocabulary.

    Returns [(sym_a, sym_b, pair_count), ...] in merge order. The
    vocab table is persisted for the loop (scanned once per step);
    the shuffle width is narrowed to the model-state scale exactly as
    in kmeans (clustering.py:100) — pair counts are |vocab|-sized,
    not corpus-sized.
    """
    spark = words.sparkSession
    words = words.select("word", "n", _char_seq(F.col("word")).alias("seq")).persist()
    n_vocab = words.count()  # materialize before narrowing the width
    sess_parts = spark.conf.get("spark.sql.shuffle.partitions", "200")
    from ai4orgwebscraper_spark.plans.iterate import loop_width

    spark.conf.set(
        "spark.sql.shuffle.partitions", str(loop_width(spark, n_vocab))
    )
    merges: list[tuple[str, str, int]] = []
    try:
        seq = F.col("seq")
        for _ in range(n_merges):
            # fold learned merges into the seq expression: k literal
            # replace nodes over the PERSISTED vocab — constant-depth
            # lineage, no per-step spill needed
            syms = F.split(F.trim(seq), "  ")
            pairs = F.transform(
                F.sequence(F.lit(1), F.size(syms) - 1),
                lambda i: F.concat(
                    F.element_at(syms, i), F.lit(SEP), F.element_at(syms, i + 1)
                ),
            )
            best = (
                words.filter(F.size(syms) >= 2)
                .select("n", F.explode(pairs).alias("pair"))
                .groupBy("pair")
                .agg(F.sum("n").alias("cnt"))
                .orderBy(F.desc("cnt"), "pair")
                .limit(1)
                .collect()
            )
            if not best:
                break  # every word fused to a single symbol
            a, b = best[0]["pair"].split(SEP)
            merges.append((a, b, int(best[0]["cnt"])))
            seq = F.replace(
                seq, F.lit(f" {a}  {b} "), F.lit(f" {a}{b} ")
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", sess_parts)
        words.unpersist(blocking=False)
    return merges


def trained_bpe(spark: SparkSession, sf_dir: str) -> list[tuple[str, str, int]]:
    """Train the merge list from the corpus. Every call recomputes from
    the parquet inputs; no merge list is kept between calls. Each
    q_bpe_encode call pays one vocab-sized training — N_MERGES tiny
    aggregation jobs, well under a second warm."""
    docs = load_wide(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(_tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    return bpe_merges(words)


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry: the first 5 corpus-weighted BPE merge rules over
    `documents` tokens. Oracle = the loop unrolled as DuckDB CTEs;
    canonical-BPE semantics pinned by the pure-Python twin in
    tests/test_tokenizer.py."""
    merges = trained_bpe(spark, sf_dir)
    rows = [(i + 1, a, b, cnt) for i, (a, b, cnt) in enumerate(merges)]
    return spark.createDataFrame(
        rows, "merge_idx int, sym_a string, sym_b string, pair_count bigint"
    ).orderBy("merge_idx")


def _bpe_oracle_sql(n_merges: int = N_MERGES) -> str:
    """The BPE loop unrolled: s{k} = vocab after k merges, p{k+1} =
    pair counts over s{k}, b{k+1} = the argmax rule — the literal SQL
    of each bpe_merges() step (pattern: graph.py:_pagerank_oracle_sql)."""
    from ai4orgwebscraper_spark.operators.text import _TOKS_SQL

    parts = [
        f"""words AS MATERIALIZED (
            SELECT word, count(*) AS n
            FROM (SELECT unnest({_TOKS_SQL}) AS word FROM documents)
            GROUP BY word
        )""",
        """s0 AS MATERIALIZED (
            SELECT word, n,
                   ' ' || array_to_string(string_split(word, ''), '  ') || ' ' AS seq
            FROM words
        )""",
    ]
    finals = []
    for k in range(1, n_merges + 1):
        parts.append(f"""p{k} AS MATERIALIZED (
            SELECT syms[i] AS a, syms[i + 1] AS b, CAST(sum(n) AS BIGINT) AS cnt
            FROM (SELECT n, string_split(trim(seq), '  ') AS syms FROM s{k - 1}),
                 UNNEST(range(1, greatest(len(syms), 1))) g(i)
            GROUP BY 1, 2
        )""")
        parts.append(f"""b{k} AS MATERIALIZED (
            SELECT a, b, cnt FROM p{k} ORDER BY cnt DESC, a, b LIMIT 1
        )""")
        parts.append(f"""s{k} AS MATERIALIZED (
            SELECT word, n,
                   replace(seq,
                           ' ' || (SELECT a FROM b{k}) || '  ' || (SELECT b FROM b{k}) || ' ',
                           ' ' || (SELECT a FROM b{k}) || (SELECT b FROM b{k}) || ' ') AS seq
            FROM s{k - 1}
        )""")
        finals.append(
            f"SELECT {k} AS merge_idx, a AS sym_a, b AS sym_b, cnt AS pair_count FROM b{k}"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + "\n"
        + "\nUNION ALL\n".join(finals)
        + "\nORDER BY merge_idx"
    )


def encode_seq_col(word_col, merges: list[tuple[str, str, int]]):
    """Apply learned merge rules to a word column — the ENCODE side of
    BPE: the same ' a  b ' -> ' ab ' literal replaces the trainer
    folds, as one constant-depth column expression (k replace nodes,
    no loop at run time)."""
    seq = _char_seq(word_col)
    for a, b, _cnt in merges:
        seq = F.replace(seq, F.lit(f" {a}  {b} "), F.lit(f" {a}{b} "))
    return seq


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODING of the corpus with the trained merges — the apply
    half of the tokenizer (train emits the merge list; every actual
    pipeline then runs it over the full corpus to produce the subword
    stream a trainer consumes). Emits the per-source subword audit:
    word/subword occurrence totals, exact mean subwords-per-word in
    ppm, and the distinct-subword vocabulary size.

    Scale shape: the corpus-scale pass is one explode +
    map-side-combined groupBy(source, word) — after it everything is
    (vocab x sources)-sized. Encoding itself runs on the DISTINCT
    word table (encode each word once, not once per occurrence — the
    same pre-aggregation trick training uses), then joins back on
    word. The merge rules are driver-collected model state (N_MERGES
    rows — the kmeans k x dim shape) folded into the plan as literal
    replace nodes.

    Oracle: the training CTE prefix is shared verbatim with
    q_bpe_merges (s{N} IS the encoded vocabulary), so train and
    encode can never drift apart."""
    docs = load_wide(spark, sf_dir, "documents")
    occ = (
        docs.select("source", F.explode(_tokens(F.col("text"))).alias("word"))
        .groupBy("source", "word")
        .agg(F.count("*").alias("cnt"))
    )
    vocab = occ.groupBy("word").agg(F.sum("cnt").alias("n"))
    merges = trained_bpe(spark, sf_dir)
    enc = vocab.select(
        "word",
        F.split(F.trim(encode_seq_col(F.col("word"), merges)), "  ").alias("syms"),
    )
    joined = occ.join(enc, "word").select(
        "source", "cnt", "syms", F.size("syms").alias("n_syms")
    )
    stats = joined.groupBy("source").agg(
        F.sum("cnt").alias("n_words"),
        F.sum(F.col("cnt") * F.col("n_syms")).alias("n_subwords"),
    )
    distincts = (
        joined.select("source", F.explode("syms").alias("sym"))
        .groupBy("source")
        .agg(F.count_distinct("sym").alias("n_distinct_subwords"))
    )
    return (
        stats.join(distincts, "source")
        .select(
            "source",
            "n_words",
            "n_subwords",
            F.expr("(n_subwords * 1000000) div n_words").alias("subwords_per_word_ppm"),
            "n_distinct_subwords",
        )
        .orderBy("source")
    )


def _bpe_encode_oracle_sql(n_merges: int = N_MERGES) -> str:
    """Training prefix (shared with _bpe_oracle_sql) + the encode
    CTEs: s{N}.seq split into symbols, joined back onto per-source
    word occurrences."""
    from ai4orgwebscraper_spark.operators.text import _TOKS_SQL

    train = _bpe_oracle_sql(n_merges)
    # the training SQL is "WITH <ctes>\nSELECT 1 AS merge_idx ..." —
    # keep the CTE block, replace its final SELECT with the encode CTEs
    parts_sql = train.split("\nSELECT 1 AS merge_idx")[0]
    return f"""{parts_sql},
    enc AS MATERIALIZED (
        SELECT word, string_split(trim(seq), '  ') AS syms FROM s{n_merges}
    ),
    occ AS (
        SELECT source, word, count(*) AS cnt
        FROM (SELECT source, unnest({_TOKS_SQL}) AS word FROM documents)
        GROUP BY source, word
    ),
    joined AS (
        SELECT o.source, o.cnt, e.syms, len(e.syms) AS n_syms
        FROM occ o JOIN enc e USING (word)
    ),
    stats AS (
        SELECT source,
               CAST(sum(cnt) AS BIGINT) AS n_words,
               CAST(sum(cnt * n_syms) AS BIGINT) AS n_subwords
        FROM joined GROUP BY source
    ),
    distincts AS (
        SELECT source, CAST(count(DISTINCT sym) AS BIGINT) AS n_distinct_subwords
        FROM (SELECT source, unnest(syms) AS sym FROM joined)
        GROUP BY source
    )
    SELECT s.source, s.n_words, s.n_subwords,
           (s.n_subwords * 1000000) // s.n_words AS subwords_per_word_ppm,
           d.n_distinct_subwords
    FROM stats s JOIN distincts d USING (source)
    ORDER BY s.source
"""


QUERIES = {"q_bpe_merges": q_bpe_merges, "q_bpe_encode": q_bpe_encode}
ORACLES = {
    "q_bpe_merges": _bpe_oracle_sql(),
    "q_bpe_encode": _bpe_encode_oracle_sql(),
}
