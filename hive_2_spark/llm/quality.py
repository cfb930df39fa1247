"""Repetition-based quality filters over `documents` (SURVEY.md §2B).

The standard LLM-corpus quality gates beyond `llm/text.py`'s surface
ratios: intra-document repetition (top-word fraction, duplicate-bigram
fraction — the Gopher repetition rules) and corpus-level duplicated
n-gram fraction (the FineWeb-style "how much of this doc exists
elsewhere" signal). No reference counterpart (the reference is an ORM,
`classes/hive/model.php`); these extend the driver-mandated LLM
pipeline surface.

Scale notes:
- `quality_repetition`: duplicate-bigram fraction is computed entirely
  inside per-row higher-order functions (zero shuffle); the top-word
  fraction is an explode + two hash aggregations keyed by doc_id —
  linear in token count, partial-aggregated map-side, no skew (doc_id
  is unique).
- `quality_dup_ngram_corpus`: one shingle explode, one gram-keyed
  aggregation (the only wide exchange — same shape as shuffle dedup),
  then a doc_id-keyed rollup. Identical to how contamination /
  MinHash candidate generation shuffles, so it rides e.g. AQE skew
  splitting the same way at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_2_spark.catalog import load_table
from hive_2_spark.llm.curation import _shingles
from hive_2_spark.llm.dedup import _DK_NORM

# Gopher-style thresholds: docs whose single most frequent word exceeds
# 20% of tokens, or with >40% duplicated bigrams, are flagged.
_TOP_WORD_MAX = 0.20
_DUP_BIGRAM_MAX = 0.40


def quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc repetition metrics + keep/flag decision.

    Output: doc_id, n_words, top_word_frac, dup_bigram_frac, repetitive.
    """
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    # bigrams via HOF — per-row, no shuffle. Docs with <2 words must be
    # guarded: sequence(1, 0) is the DESCENDING array [1, 0] in Spark, so
    # the transform would call slice(ws, 0, 2) and throw
    # INVALID_PARAMETER_VALUE.START instead of yielding no bigrams.
    bigrams = F.when(
        F.size(words) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - 1),
            lambda i: F.array_join(F.slice(words, i, 2), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    per_doc = d.select(
        "doc_id",
        F.size(words).alias("n_words"),
        F.size(bigrams).alias("n_bigrams"),
        F.size(F.array_distinct(bigrams)).alias("n_bigrams_distinct"),
    )
    top = (
        d.select("doc_id", F.explode(words).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_word_count"))
    )
    dup_bi = F.when(
        F.col("n_bigrams") > 0,
        1.0 - F.col("n_bigrams_distinct") / F.col("n_bigrams"),
    ).otherwise(F.lit(0.0))
    return (
        per_doc.join(top, "doc_id")
        .select(
            "doc_id",
            F.col("n_words").cast("bigint").alias("n_words"),
            F.round(F.col("top_word_count") / F.col("n_words"), 6).alias(
                "top_word_frac"
            ),
            F.round(dup_bi, 6).alias("dup_bigram_frac"),
            (
                (F.col("top_word_count") / F.col("n_words") > _TOP_WORD_MAX)
                | (dup_bi > _DUP_BIGRAM_MAX)
            ).alias("repetitive"),
        )
    )


def quality_dup_ngram_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fraction of each doc's distinct 5-gram shingles that also occur
    in at least one OTHER doc — the corpus-duplication quality signal.

    Output: doc_id, n_grams, n_dup_grams, dup_frac (docs <5 words are
    excluded identically by both engines).
    """
    d = load_table(spark, sf_dir, "documents")
    grams = _shingles(d).select("doc_id", "gram").distinct()
    # docs per gram; >1 means the gram is shared with another doc
    gram_docs = grams.groupBy("gram").agg(
        F.count(F.lit(1)).alias("n_docs_with_gram")
    )
    return (
        grams.join(gram_docs, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                (F.col("n_docs_with_gram") > 1).cast("bigint")
            ).alias("n_dup_grams"),
        )
        .select(
            "doc_id",
            F.col("n_grams").cast("bigint").alias("n_grams"),
            F.col("n_dup_grams").cast("bigint").alias("n_dup_grams"),
            F.round(F.col("n_dup_grams") / F.col("n_grams"), 6).alias(
                "dup_frac"
            ),
        )
    )


def quality_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM surprisal per doc — the perplexity-proxy quality
    filter (CCNet-style, with the corpus itself as the LM): score =
    avg over tokens of -ln p(w), p(w) = corpus count / corpus total.
    High = rare-word-heavy (gibberish or very technical); low =
    stopword soup. Shuffles: token->count (word-keyed), token x vocab
    join (word-keyed; broadcastable when the vocab fits), doc rollup —
    all linear, partial-aggregated.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    ).filter(F.col("w") != "")
    wc = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    tot = toks.select(F.count(F.lit(1)).alias("n"))
    return (
        toks.join(wc, "w")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.round(
                F.avg(-F.log(F.col("c").cast("double") / F.col("n"))), 6
            ).alias("surprisal"),
        )
    )


# Blocklist filter (the C4-style badword gate, here with fixture-vocab
# words so the gate is non-vacuous). All-integer outputs: the blocked
# share is per-mille via integer division, so no float rounding can
# sit on a cross-engine boundary.
_BLOCK_WORDS = ("spark", "hash", "stream")
_BLOCK_SQL_LIST = ", ".join(f"'{w}'" for w in _BLOCK_WORDS)
_BLOCK_PM_MAX = 50  # flag docs with >= 5% blocked tokens


def quality_blocklist_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc blocked-word census + flag decision.

    Token membership runs as a per-row higher-order ``filter`` against
    the literal blocklist (zero shuffle; small per-doc arrays — the
    regime where interpreted HOFs are fine). A giant blocklist would
    instead broadcast-join exploded tokens; the decision math is
    identical."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    blocked = F.size(F.filter(toks, lambda x: x.isin(*_BLOCK_WORDS)))
    return (
        d.select(
            "doc_id",
            F.size(toks).cast("bigint").alias("n_tokens"),
            blocked.cast("bigint").alias("n_blocked"),
        )
        .withColumn(
            "blocked_pm",
            F.expr("CAST(n_blocked * 1000 DIV n_tokens AS BIGINT)"),
        )
        .withColumn("flagged", F.col("blocked_pm") >= _BLOCK_PM_MAX)
    )


# Heavy-hitter census knobs: top-K grams reported; gram space split
# into 256 hash shards (2 hex chars of md5) so every rank window sees
# ~1/256 of the grams and the merge never exceeds 256*K rows.
_CENSUS_K = 20


def quality_ngram_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-K repeated 5-gram census with mergeable partial
    state — the repeated-boilerplate detector that complements the
    per-doc `quality_dup_ngram_corpus` signal.

    Two-phase heavy hitter: grams are counted once (map-side partial
    agg + one gram-keyed exchange — the standard dedup/contamination
    shuffle), then sharded by md5(gram) prefix so the per-shard top-K
    rank window sees ~1/256 of the gram space, and the global top-K
    merges at most 256*K survivor rows (TakeOrdered). Because the
    shard is a FUNCTION OF THE GRAM, each gram's count is complete
    within its shard, so per-shard top-K provably contains the global
    top-K — no probabilistic recount pass is needed (a doc-sharded
    census would need one; this shape is exact by construction). The
    oracle is the naive global count + top-K this plan must equal.

    Output: rk, gram, cnt (total occurrences), n_docs (distinct docs) —
    (cnt DESC, gram ASC) makes the cut deterministic across engines.
    """
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    grams = _shingles(d).select("doc_id", "gram")
    counts = grams.groupBy("gram").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    sharded = counts.withColumn("shard", F.substring(F.md5("gram"), 1, 2))
    wsh = Window.partitionBy("shard").orderBy(
        F.col("cnt").desc(), F.col("gram").asc()
    )
    survivors = (
        sharded.withColumn("srk", F.row_number().over(wsh))
        .filter(F.col("srk") <= _CENSUS_K)
        .select("gram", "cnt", "n_docs")
    )
    topk = survivors.orderBy(
        F.col("cnt").desc(), F.col("gram").asc()
    ).limit(_CENSUS_K)
    wg = Window.orderBy(F.col("cnt").desc(), F.col("gram").asc())
    return topk.select(
        F.row_number().over(wg).cast("bigint").alias("rk"),
        "gram",
        F.col("cnt").cast("bigint").alias("cnt"),
        F.col("n_docs").cast("bigint").alias("n_docs"),
    )


_PMI_MIN_PAIR = 20  # collocation support floor
_PMI_TOP = 20


def quality_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by PMI lift — the phrase-mining signal behind
    tokenizer-vocabulary and stop-phrase decisions.

    lift(a,b) = p(ab) / (p(a) p(b)) as one deterministic double
    expression: (n_pair * N_u * N_u) / (N_b * c_a * c_b), every
    operand cast to double FIRST and multiplied left-to-right in the
    same order in both engines (no transcendental log — lift orders
    identically to PMI and stays rational, so cross-engine doubles
    are bit-identical). Unigram/bigram counts are mergeable map-side
    aggs over vocabulary-sized key spaces; the two corpus totals ride
    ONE 1-row broadcast (scalar-subquery shape); top-K is
    TakeOrderedAndProject on (rounded lift desc, w1, w2) — no global
    rank window ever sees the pair space.
    """
    d = load_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    # localCheckpoint: uni is VOCAB-sized and feeds THREE consumers
    # (u1, u2, and the corpus-total derivation below); un-materialized,
    # each consumer re-ran the corpus explode+aggregate (guide §5:
    # cache only what is reused AND expensive to recompute — this is).
    uni = (
        d.select(F.explode(ws).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    # <2-word docs must be guarded: sequence(1, 0) is the DESCENDING
    # [1, 0] in Spark and element_at(ws, 2) would throw (the
    # quality_repetition guard, line ~45) — yield no bigrams instead
    grams = F.when(
        F.size(ws) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - 1),
            lambda i: F.struct(
                F.element_at(ws, i).alias("w1"),
                F.element_at(ws, (i + 1).cast("int")).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bi = (
        d.select(F.explode(grams).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= _PMI_MIN_PAIR)
    )
    # BOTH corpus totals WITHOUT re-scanning the text: n_u = SUM over
    # the (checkpointed, vocab-sized) unigram counts — identical to
    # sum(len) by construction — and, because split() never returns an
    # empty array (size(ws) >= 1 for every non-NULL text), n_b =
    # sum(size-1) = n_u - n_docs exactly, where n_docs counts non-NULL
    # texts only (a NULL text adds no words, so no bigram slot either).
    # This removes the third full text scan the previous shape paid.
    tots = (
        uni.agg(F.sum("c").alias("su"))
        .crossJoin(d.agg(F.count("text").alias("ndocs")))
        .select(
            F.col("su").cast("double").alias("n_u"),
            (F.col("su") - F.col("ndocs")).cast("double").alias("n_b"),
        )
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    lift = (
        F.col("n_pair").cast("double") * F.col("n_u") * F.col("n_u")
    ) / (
        F.col("n_b") * F.col("c1").cast("double") * F.col("c2").cast("double")
    )
    # unigram joins stay un-hinted: vocab is broadcastable here, but at
    # web scale (heaps-law tens of millions of types) AQE should decide
    return (
        bi.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tots))
        .select(
            "w1",
            "w2",
            "n_pair",
            F.round(lift, 6).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "w1", "w2")
        .limit(_PMI_TOP)
    )


# Benford's-law leading-digit audit. Expected per-mille shares are
# FIXED integer literals (floor(1000*log10(1+1/d)+0.5)) interpolated
# into BOTH engines — no transcendental evaluated at query time.
_BENFORD_PM = {1: 301, 2: 176, 3: 125, 4: 97, 5: 79, 6: 67, 7: 58, 8: 51, 9: 46}
_BENFORD_CASE = "CASE d " + " ".join(
    f"WHEN {d} THEN {pm}" for d, pm in _BENFORD_PM.items()
) + " END"


def quality_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading-significant-digit distribution of order totals vs the
    Benford expectation — the classic synthetic-/fabricated-numbers
    audit for ingested tabular data.

    One map-side pass extracts the digit (FLOOR before the string cast:
    DuckDB's double->BIGINT cast ROUNDS while Spark truncates — the
    `win_median_rolling` lesson), then a 9-key hash agg. The corpus
    total rides a partition-less window over the 9-row aggregated
    frame — bounded by the digit DOMAIN, never the data, so the
    single-partition sort is constant-size at any scale. All outputs
    integer per-mille (integer division — no float boundary).

    Output: d (leading digit), n, share_pm, benford_pm, dev_pm.
    """
    o = load_table(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
    ).cast("bigint")
    counts = (
        o.select(digit.alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        counts.withColumn("share_pm", F.expr("n * 1000 DIV SUM(n) OVER ()"))
        .select(
            "d",
            F.col("n").cast("bigint").alias("n"),
            F.col("share_pm").cast("bigint").alias("share_pm"),
            F.expr(_BENFORD_CASE).cast("bigint").alias("benford_pm"),
            (F.col("share_pm") - F.expr(_BENFORD_CASE))
            .cast("bigint")
            .alias("dev_pm"),
        )
    )


_ZIPF_TOP_COVER = 10  # head size for the coverage share


def quality_vocab_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language vocabulary ZIPF-SHAPE audit — the distributional
    health check a tokenizer/corpus pipeline runs beside the surface
    gates: natural language has f(r) ~ 1/r (f1/f10 ~= 10, the head covering a
    large token share); boilerplate or templated spam flattens the
    head (ratios collapse toward 1), and random/gibberish text starves
    it (coverage collapses). BOTH rank probes are ADAPTIVE — the head
    ratio probes rank LEAST(10, n_terms) and the deep probe the
    median rank ceil(n_terms/2) — so the audit stays defined on any
    vocabulary size (a fixed rank 100 is NULL on this fixture's
    31-term synthetic vocab, and a fixed rank 10 would be NULL on a
    sub-10-term vocabulary — round-12 ADVICE). Reported as
    EXACT integer ratios instead of a fitted log-log slope: ln() is
    the one place the two engines' libm can disagree by an ulp, and
    per-mille-scaled integer divisions carry the same decision signal
    with zero cross-engine drift (the `quality_benford` discipline).

    Scale: one token explode into a (lang, term)-keyed count (the
    dedup/contamination shuffle, partial-aggregated map-side), a
    lang-partitioned rank window over the vocab-sized count frame, and
    a lang-sized final aggregate. The fact table never shuffles twice.

    Output per lang: n_terms, n_tokens, f1 (top-term count),
    f1_f10_e3 = 1000*f1 DIV f10, f1_fmid_e3 (mid = ceil(n_terms/2)),
    top10_cover_pm (per-mille of all tokens in the top 10 terms).
    """
    from pyspark.sql.window import Window

    from hive_2_spark.llm.dedup import _NORM

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "lang",
        F.explode(F.split(_NORM(F.col("text")), " ")).alias("w"),
    ).filter(F.col("w") != "")
    tf = toks.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("c"))
    wr = Window.partitionBy("lang").orderBy(
        F.col("c").desc(), F.col("w").asc()
    )
    from pyspark.sql.window import Window as _W

    ranked = tf.withColumn("rk", F.row_number().over(wr)).withColumn(
        "nt", F.count(F.lit(1)).over(_W.partitionBy("lang"))
    )
    return ranked.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.max(F.when(F.col("rk") == 1, F.col("c"))).cast("bigint")
        .alias("f1"),
        F.expr(
            "CAST(1000 * MAX(CASE WHEN rk = 1 THEN c END)"
            " DIV MAX(CASE WHEN rk = LEAST(10, nt) THEN c END)"
            " AS BIGINT)"
        ).alias("f1_f10_e3"),
        F.expr(
            "CAST(1000 * MAX(CASE WHEN rk = 1 THEN c END)"
            " DIV MAX(CASE WHEN rk = (nt + 1) DIV 2 THEN c END)"
            " AS BIGINT)"
        ).alias("f1_fmid_e3"),
        F.expr(
            f"CAST(1000 * SUM(CASE WHEN rk <= {_ZIPF_TOP_COVER} THEN c"
            " ELSE 0 END) DIV SUM(c) AS BIGINT)"
        ).alias("top10_cover_pm"),
    )


QUERIES = {
    "quality_vocab_zipf": quality_vocab_zipf,
    "quality_benford": quality_benford,
    "quality_pmi_bigrams": quality_pmi_bigrams,
    "quality_repetition": quality_repetition,
    "quality_dup_ngram_corpus": quality_dup_ngram_corpus,
    "quality_lm_score": quality_lm_score,
    "quality_blocklist_words": quality_blocklist_words,
    "quality_ngram_census": quality_ngram_census,
}

# DuckDB notes: list indexing is 1-based like Spark's slice/element_at;
# range(a, b) is stop-exclusive so range(1, len) yields 1..len-1 — one
# start per bigram. list_distinct mirrors array_distinct.
ORACLES = {
    # same normalizer as the dedup family; rank ties broken (c DESC,
    # w ASC) on both sides so the rk=10/rk=100 picks are deterministic
    "quality_vocab_zipf": f"""
WITH toks AS (
  SELECT lang, unnest(string_split({_DK_NORM.format(c='text')}, ' ')) AS w
  FROM documents
), tf AS (
  SELECT lang, w, COUNT(*) AS c FROM toks WHERE w <> '' GROUP BY lang, w
), ranked AS (
  SELECT lang, w, c,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY c DESC, w ASC) AS rk,
         COUNT(*) OVER (PARTITION BY lang) AS nt
  FROM tf
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_terms,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(MAX(CASE WHEN rk = 1 THEN c END) AS BIGINT) AS f1,
       CAST(1000 * MAX(CASE WHEN rk = 1 THEN c END)
            // MAX(CASE WHEN rk = LEAST(10, nt) THEN c END)
            AS BIGINT) AS f1_f10_e3,
       CAST(1000 * MAX(CASE WHEN rk = 1 THEN c END)
            // MAX(CASE WHEN rk = (nt + 1) // 2 THEN c END) AS BIGINT)
         AS f1_fmid_e3,
       CAST(1000 * SUM(CASE WHEN rk <= {_ZIPF_TOP_COVER} THEN c ELSE 0 END)
            // SUM(c) AS BIGINT) AS top10_cover_pm
FROM ranked GROUP BY lang
""",
    # FLOOR before the bigint cast (DuckDB's double->int cast rounds);
    # the Benford expectation is the same interpolated literal CASE
    "quality_benford": f"""
WITH counts AS (
  SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR),
              1, 1) AS BIGINT) AS d,
         COUNT(*) AS n
  FROM orders GROUP BY 1
)
SELECT d, CAST(n AS BIGINT) AS n,
       CAST(n * 1000 // SUM(n) OVER () AS BIGINT) AS share_pm,
       CAST({_BENFORD_CASE} AS BIGINT) AS benford_pm,
       CAST(n * 1000 // SUM(n) OVER () - ({_BENFORD_CASE}) AS BIGINT)
         AS dev_pm
FROM counts
""",
    # every operand cast to DOUBLE first, multiplied in the same order
    # as the Spark lift expression — rational arithmetic, no log
    "quality_pmi_bigrams": (
        "WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents), "
        "uni AS (SELECT w, COUNT(*) AS c FROM "
        "(SELECT unnest(ws) AS w FROM w) GROUP BY 1), "
        "bi AS (SELECT p.w1 AS w1, p.w2 AS w2, COUNT(*) AS n_pair FROM "
        "(SELECT unnest(list_transform(range(1, len(ws)), "
        "i -> {'w1': ws[i], 'w2': ws[i+1]})) AS p FROM w) "
        f"GROUP BY 1, 2 HAVING COUNT(*) >= {_PMI_MIN_PAIR}), "
        "tots AS (SELECT CAST(SUM(len(ws)) AS DOUBLE) AS n_u, "
        "CAST(SUM(GREATEST(len(ws) - 1, 0)) AS DOUBLE) AS n_b FROM w) "
        "SELECT b.w1, b.w2, b.n_pair, "
        "ROUND((CAST(b.n_pair AS DOUBLE) * n_u * n_u) / "
        "(n_b * CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE)), 6) AS lift "
        "FROM bi b JOIN uni u1 ON b.w1 = u1.w JOIN uni u2 ON b.w2 = u2.w "
        "CROSS JOIN tots "
        f"ORDER BY lift DESC, b.w1, b.w2 LIMIT {_PMI_TOP}"
    ),
    "quality_blocklist_words": f"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(len(list_filter(string_split(text, ' '),
                x -> x IN ({_BLOCK_SQL_LIST}))) AS BIGINT)
         AS n_blocked,
       CAST(len(list_filter(string_split(text, ' '),
                x -> x IN ({_BLOCK_SQL_LIST}))) * 1000
            // len(string_split(text, ' ')) AS BIGINT) AS blocked_pm,
       (len(list_filter(string_split(text, ' '),
                x -> x IN ({_BLOCK_SQL_LIST}))) * 1000
            // len(string_split(text, ' '))) >= {_BLOCK_PM_MAX} AS flagged
FROM documents
""",
    "quality_repetition": f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), per_doc AS (
  SELECT doc_id,
         len(ws) AS n_words,
         list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
           AS grams
  FROM w
), bi AS (
  SELECT doc_id, n_words, len(grams) AS n_bigrams,
         len(list_distinct(grams)) AS n_bigrams_distinct
  FROM per_doc
), top AS (
  SELECT doc_id, MAX(c) AS top_word_count FROM (
    SELECT doc_id, COUNT(*) AS c
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS wrd
          FROM documents)
    GROUP BY doc_id, wrd
  ) GROUP BY doc_id
)
SELECT bi.doc_id,
       CAST(bi.n_words AS BIGINT) AS n_words,
       ROUND(top.top_word_count / CAST(bi.n_words AS DOUBLE), 6)
         AS top_word_frac,
       ROUND(CASE WHEN bi.n_bigrams > 0
             THEN 1.0 - bi.n_bigrams_distinct / CAST(bi.n_bigrams AS DOUBLE)
             ELSE 0.0 END, 6) AS dup_bigram_frac,
       (top.top_word_count / CAST(bi.n_words AS DOUBLE) > {_TOP_WORD_MAX}
        OR CASE WHEN bi.n_bigrams > 0
           THEN 1.0 - bi.n_bigrams_distinct / CAST(bi.n_bigrams AS DOUBLE)
           ELSE 0.0 END > {_DUP_BIGRAM_MAX}) AS repetitive
FROM bi JOIN top USING (doc_id)
""",
    "quality_dup_ngram_corpus": """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
  WHERE len(string_split(text, ' ')) >= 5
), grams AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(ws) - 3),
                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
                     || ws[i+3] || ' ' || ws[i+4])) AS gram
  FROM w
), gram_docs AS (
  SELECT gram, COUNT(*) AS n_docs_with_gram FROM grams GROUP BY gram
)
SELECT g.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN gd.n_docs_with_gram > 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dup_grams,
       ROUND(SUM(CASE WHEN gd.n_docs_with_gram > 1 THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS dup_frac
FROM grams g JOIN gram_docs gd USING (gram)
GROUP BY g.doc_id
""",
    # Naive global census the sharded heavy-hitter plan must equal:
    # one count over all grams, one global top-K.
    "quality_ngram_census": f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
  WHERE len(string_split(text, ' ')) >= 5
), grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ws) - 3),
                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
                     || ws[i+3] || ' ' || ws[i+4])) AS gram
  FROM w
), counts AS (
  SELECT gram, COUNT(*) AS cnt, COUNT(DISTINCT doc_id) AS n_docs
  FROM grams GROUP BY gram
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, gram ASC) AS BIGINT)
         AS rk,
       gram, CAST(cnt AS BIGINT) AS cnt, CAST(n_docs AS BIGINT) AS n_docs
FROM counts
ORDER BY cnt DESC, gram ASC
LIMIT {_CENSUS_K}
""",
    "quality_lm_score": """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), toks_ne AS (
  SELECT doc_id, w FROM toks WHERE w <> ''
), wc AS (
  SELECT w, COUNT(*) AS c FROM toks_ne GROUP BY w
), tot AS (
  SELECT COUNT(*) AS n FROM toks_ne
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(AVG(-ln(CAST(wc.c AS DOUBLE) / tot.n)), 6) AS surprisal
FROM toks_ne JOIN wc USING (w) CROSS JOIN tot
GROUP BY doc_id
""",
}
