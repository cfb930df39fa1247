"""Corpus-curation operators for a training-data pipeline (driver
mandate, BASELINE.json north star; no reference counterpart — the
reference is a PHP ORM).

The steps between "raw crawl" and "training set" that aren't dedup or
similarity (those live in ``dedup.py``/``similarity.py``/``advanced.py``):

- ``pii_redact`` — regex PII scrub (emails), reported per source. The
  fixture text has no PII, so a deterministic synthetic email is
  injected into every 5th doc first — the redaction math is then
  non-vacuous and DuckDB-mirrorable.
- ``doc_split`` — deterministic train/val/test assignment from a
  CONTENT hash (first hex char of md5(text): 1/16 test, 1/16 val, 14/16
  train). Content-hashed splits survive re-crawls and re-sharding,
  unlike row-number splits; identical docs land in the same split, so
  near-dup leakage across splits is visible, not hidden.
- ``contamination_ngram`` — eval-set contamination: corpus docs sharing
  any 5-word shingle with a held-out benchmark set (every 97th doc).
  The shingle join is a semi-join against a broadcast-sized gram set —
  the standard decontamination pass before training.
- ``tfidf_top_terms`` — top-3 characteristic terms per source by
  tf-idf; token explode -> two hash aggs -> windowed top-k.
- ``sample_weighted_mix`` — per-language differential-rate downsampling
  from a content hash (the data-mixing step); reproducible across
  shards/engines, no RNG state. (``llm.advanced.sample_stratified`` is
  the simpler systematic 1-in-k cousin.)
- ``shuffle_train_order`` — deterministic global shuffle into training
  shards: sort key = md5(seed, doc_id), shard = first two hex chars
  (256 shards), position = rank within shard. Seed-keyed hashing gives
  a different but reproducible permutation per epoch with no RNG state
  to coordinate across executors.

Scale: every op is one explode/scan + hash aggregation (shuffles on
token/gram/source keys only — never on full text); the eval-gram side
of the contamination join is tiny by construction (benchmark sets are
KB-to-MB) and broadcasts.

All math that feeds comparisons is integer or string; the single
double (tf-idf score) is rounded away from decision boundaries and
tie-broken by term, so cross-engine hash parity is stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hive_2_spark.catalog import load_table
from hive_2_spark.core.aggregates import _dk_hex_int
from hive_2_spark.core.windows import bucketed_running_sum

_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"


def _with_injected_pii(d: DataFrame) -> DataFrame:
    """Every 5th doc gets a deterministic synthetic email appended."""
    return d.withColumn(
        "text2",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        ).otherwise(F.col("text")),
    )


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PII scrub report: docs touched, emails removed, and
    the redacted corpus size. Single scan, codegen regex, one agg."""
    d = _with_injected_pii(load_table(spark, sf_dir, "documents"))
    d = d.withColumn(
        "n_emails", F.size(F.regexp_extract_all("text2", F.lit(_EMAIL_RE), F.lit(0)))
    ).withColumn(
        "clean", F.regexp_replace("text2", _EMAIL_RE, "[EMAIL]")
    )
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("n_emails") > 0).cast("bigint")).alias("n_docs_pii"),
        F.sum("n_emails").cast("bigint").alias("n_emails_redacted"),
        F.sum(F.length("clean")).cast("bigint").alias("clean_chars"),
    )


def doc_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash split: first md5 hex char 0 -> test,
    1 -> val, else train; per-(split, lang) doc counts + char volume."""
    d = load_table(spark, sf_dir, "documents")
    first = F.substring(F.md5("text"), 1, 1)
    split = (
        F.when(first == "0", "test").when(first == "1", "val").otherwise("train")
    )
    return (
        d.withColumn("split", split)
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


_GRAM_N = 5


def _shingles(d: DataFrame) -> DataFrame:
    """(doc_id, source, gram) for every 5-word shingle; docs shorter
    than 5 words contribute nothing (both engines filter identically)."""
    words = F.split(F.col("text"), " ")
    starts = F.sequence(F.lit(1), F.size(words) - (_GRAM_N - 1))
    grams = F.transform(
        starts, lambda i: F.array_join(F.slice(words, i, _GRAM_N), " ")
    )
    return (
        d.filter(F.size(words) >= _GRAM_N)
        .select("doc_id", "source", F.explode(grams).alias("gram"))
    )


def contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: every 97th doc is the held-out
    eval set; a corpus doc is contaminated if it shares ANY 5-word
    shingle with it. Per-source: docs checked, docs contaminated."""
    d = load_table(spark, sf_dir, "documents")
    grams = _shingles(d)
    eval_grams = (
        grams.filter(F.col("doc_id") % 97 == 0).select("gram").distinct()
    )
    corpus_hits = (
        grams.filter(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(eval_grams), "gram", "left_semi")
        .select("doc_id", "source")
        .distinct()
    )
    per_source_hits = corpus_hits.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_contaminated")
    )
    return (
        d.filter(F.col("doc_id") % 97 != 0)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs_checked"))
        .join(per_source_hits, "source", "left")
        .select(
            "source",
            "n_docs_checked",
            F.coalesce("n_contaminated", F.lit(0)).cast("bigint").alias(
                "n_contaminated"
            ),
        )
    )


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per source by tf-idf (idf over the
    source corpus). Ties broken lexicographically so top-k is a total
    order. The scalar n_sources rides a broadcast 1-row aggregate, not
    a driver collect."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_sources = tf.select(
        F.count_distinct("source").alias("n_sources")
    )
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_sources))
        .withColumn(
            "score",
            F.round(
                F.col("tf") * F.log(F.col("n_sources") / F.col("df")), 6
            ),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("source", "term", "score", F.col("rn").cast("bigint").alias("rank"))
    )


# Per-language sampling rates in 1/256 granularity (two md5 hex chars
# compare lexicographically): rebalance a source-skewed corpus by
# keeping high-resource languages at a lower rate.
_STRATA_RATES = {"en": "40", "de": "80", "fr": "80"}  # hex /0x100
_DEFAULT_RATE = "c0"


def sample_weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified (per-language) downsampling from a
    CONTENT hash — the corpus-rebalancing step of a data mix. A doc is
    kept iff its first two md5 hex chars sort below the language's rate
    threshold, so the sample is reproducible across runs, shards, and
    engines (no RNG state), and identical docs sample identically.
    Reports per-language totals vs kept."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5("text"), 1, 2)
    rate = F.lit(_DEFAULT_RATE)
    for lang, r in _STRATA_RATES.items():
        rate = F.when(F.col("lang") == lang, r).otherwise(rate)
    return (
        d.withColumn("kept", (bucket < rate).cast("bigint"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("kept").cast("bigint").alias("n_kept"),
        )
    )


_SHUFFLE_SEED = "epoch0:"


def shuffle_train_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle into 256 shards.

    At 100 TB: the sort key is uniform by construction, so
    ``repartitionByRange(sort_key)`` + ``sortWithinPartitions`` writes
    the shuffled corpus with perfectly balanced output files; the
    window below ranks within each of 256 hash-prefix shards (one
    shuffle keyed by shard, parallelism 256, no skew — each shard is
    ~1/256 of the corpus). A new epoch is a new seed string, not a new
    RNG protocol.
    """
    d = load_table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit(_SHUFFLE_SEED), F.col("doc_id").cast("string")))
    w = Window.partitionBy("shard").orderBy("sort_key")
    return (
        d.select(
            "doc_id",
            key.alias("sort_key"),
            F.substring(key, 1, 2).alias("shard"),
        )
        .withColumn("pos", F.row_number().over(w).cast("bigint"))
        .select("doc_id", "shard", "pos")
    )


def curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-bucketed curriculum order: high-quality buckets first,
    deterministic shuffle within each bucket.

    The global training order is (bucket DESC, shard ASC, pos ASC).
    Bucket = quality score (``llm.text.quality_score``) scaled to an
    int 0..10 — a fixed-edge bucketing, NOT ntile, so no global-order
    window ever runs: the only window is partitioned by
    (bucket, shard) — ~11x16 independent groups, each ~1/176 of the
    corpus. Within a bucket the order is the same seed-keyed md5
    shuffle as ``shuffle_train_order`` (new epoch = new seed string,
    no RNG state to coordinate across 1000 executors).
    """
    from hive_2_spark.llm.text import quality_score

    q = quality_score(spark, sf_dir).select("doc_id", "quality")
    key = F.md5(
        F.concat(F.lit(_SHUFFLE_SEED), F.col("doc_id").cast("string"))
    )
    w = Window.partitionBy("bucket", "shard").orderBy("sort_key")
    return (
        q.select(
            "doc_id",
            F.round(F.col("quality") * 10).cast("int").alias("bucket"),
            key.alias("sort_key"),
            F.substring(key, 1, 1).alias("shard"),
        )
        .withColumn("pos", F.row_number().over(w).cast("bigint"))
        .select("doc_id", "bucket", "shard", "pos")
    )


# Per-source token budget: "take the best docs first until the source's
# token cap is hit" — the per-source mixing cap used when rebalancing a
# corpus. Window partitions by source, so the cumsum parallelizes across
# sources (contrast win_global_cumsum's two-phase global variant).
_SOURCE_TOKEN_CAP = 3000


def sample_source_token_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-first per-source sampling under a token budget: order each
    source's docs by a quality proxy (n_chars desc, id-tiebroken), keep
    the prefix whose cumulative whitespace-token count fits the cap."""
    d = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.withColumn(
            "toks", F.size(F.split(F.col("text"), " ")).cast("bigint")
        )
        .withColumn("cum_toks", F.sum("toks").over(w))
        .filter(F.col("cum_toks") <= _SOURCE_TOKEN_CAP)
        .select("source", "doc_id", "toks", "cum_toks")
    )


# Temperature-scaled source mixing (the multilingual alpha-sampling
# rule: sampled share of language l ~ p_l^alpha). With ALPHA = 0.5 the
# per-language weight is p^(alpha-1) = 1/sqrt(p) — division and sqrt
# are CORRECTLY-ROUNDED IEEE ops, so the derived thresholds are
# bit-identical across engines (a general alpha would use pow(), whose
# last-ULP drift across libms would need threshold quantization).
_TEMP_HEX_SPACE = 16 ** 5  # keep-decision space: first 5 md5 hex chars


def sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass temperature sampling: (1) per-language corpus counts ->
    keep-rates proportional to 1/sqrt(p), normalized so the rarest
    language keeps everything; (2) deterministic content-hash keep
    decision (first 5 md5 hex chars as an integer below the language's
    threshold). Reports per-language totals vs kept.

    Scale: pass 1 aggregates to one row per language (the two windows
    below run over that LANGUAGE-COUNT-sized table, not the corpus);
    pass 2 is a broadcast join of the thresholds + a codegen hash
    compare. Reproducible across runs, shards, and engines — no RNG
    state, identical docs sample identically."""
    d = load_table(spark, sf_dir, "documents")
    wall = Window.partitionBy()  # whole-frame over the tiny counts table
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    p = F.col("n_docs").cast("double") / F.sum("n_docs").over(wall)
    rates = counts.withColumn("w", F.lit(1.0) / F.sqrt(p)).withColumn(
        "th",
        F.floor(
            F.least(F.lit(1.0), F.col("w") / F.max("w").over(wall))
            * F.lit(float(_TEMP_HEX_SPACE))
        ).cast("bigint"),
    )
    hashint = F.conv(F.substring(F.md5("text"), 1, 5), 16, 10).cast("bigint")
    return (
        d.join(F.broadcast(rates.select("lang", "th")), "lang")
        .withColumn("kept", (hashint < F.col("th")).cast("bigint"))
        .groupBy("lang", "th")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("kept").cast("bigint").alias("n_kept"),
        )
    )


# target language mixture (percent) for curation_mixture_balance
_MIX_PCT = {"en": 40, "de": 15, "fr": 15, "es": 15, "zh": 15}


def curation_mixture_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic data-mixture balancer: select the LARGEST corpus
    subset whose language shares hit the target percentages exactly
    (en 40 / de 15 / fr 15 / es 15 / zh 15). The selection budget is
    B = min over langs of (n_lang * 100 div pct) and each lang keeps
    its first (pct * B div 100) docs in md5 order — all INTEGER
    arithmetic, so no float quota boundary exists on either engine.
    A target language with ZERO corpus docs caps the budget at 0 (empty
    selection): exact shares are unsatisfiable without it, so the
    targets left-join the counts rather than silently dropping the
    absent language from the MIN.

    Scale: per-lang selection ranks are the running count of
    ``bucketed_running_sum`` over 2-hex md5 buckets — NOT a per-lang
    global sort (5 corpus-sized hot partitions at 100 TB, the
    single-partition-window trap). Per-lang counts and the global
    budget are scalar state broadcast back onto the scan. The oracle
    is the naive single-window plan this must equal.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.md5(F.col("doc_id").cast("string")).alias("h")
    )
    wdf = spark.createDataFrame(
        list(_MIX_PCT.items()), "lang string, pct long"
    )
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_l"))
    caps = (
        wdf.join(F.broadcast(counts), "lang", "left")
        .withColumn("n_l", F.coalesce("n_l", F.lit(0)))
        .select("lang", "pct", F.expr("n_l * 100 div pct").alias("cap"))
    )
    budget = caps.agg(F.min("cap").alias("budget"))  # 1-row scalar
    quota = (
        caps.crossJoin(F.broadcast(budget))
        .select("lang", F.expr("pct * budget div 100").alias("quota"))
    )
    # per-lang selection rank: a running count bucketed by md5 prefix
    b = d.withColumn("bk", F.substring("h", 1, 2))
    ranked = bucketed_running_sum(
        b, F.lit(1), ["h", "doc_id"], "bk", part=["lang"]
    ).select("doc_id", "lang", F.col("run").alias("sel_rank"))
    return (
        ranked.join(F.broadcast(quota), "lang")
        .filter(F.col("sel_rank") <= F.col("quota"))
        .select("doc_id", "lang", F.col("sel_rank").cast("bigint").alias("sel_rank"))
    )


def curation_repeat_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-based domain upsampling: per-source token budgets are met
    by REPEATING the source — m full epochs plus a partial epoch of
    the first docs (md5 order) until the remainder budget is spent.
    This is how under-represented domains (code, math, wiki) are
    upweighted in a training mixture without changing the sampler.

    Budgets are source-DERIVED so the op is non-vacuous at every
    scale: source srcN gets (N % 3 + 1/2) x its own token count — i.e.
    m = N % 3 full epochs and a half-token-count partial epoch. All
    integer arithmetic (token counts, DIV) — no float quota boundary.

    The partial-epoch cutoff needs a per-source cumulative token sum;
    that is ``bucketed_running_sum`` over 2-hex md5 buckets, never a
    per-source global window — at 100 TB a single source is itself
    petabytes.

    Output: doc_id, source, n_toks, n_epochs.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_toks"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    m = F.expr("CAST(substring(source, 4) AS BIGINT) % 3")
    totals = d.groupBy("source").agg(F.sum("n_toks").alias("t_s"))
    rem = totals.select(
        "source", F.expr("t_s DIV 2").alias("r_s")
    )
    b = d.withColumn("bk", F.substring("h", 1, 2))
    cum = bucketed_running_sum(
        b, "n_toks", ["h", "doc_id"], "bk", part=["source"]
    ).withColumnRenamed("run", "cum_toks")
    return (
        cum.join(F.broadcast(rem), "source")
        .select(
            "doc_id",
            "source",
            "n_toks",
            (m + (F.col("cum_toks") <= F.col("r_s")).cast("bigint"))
            .cast("bigint")
            .alias("n_epochs"),
        )
    )


# ---------------------------------------------------------------------
# Deterministic train/validation split + cross-split near-dup leakage
# audit (round 9). The split every training pipeline needs, plus the
# decontamination report run BEFORE trusting a held-out set: a val doc
# with a near-duplicate twin in train leaks the eval. Bucket is a pure
# function of doc_id (first 4 md5 hex chars of its decimal string, mod
# 10; <8 = train), so split assignment costs ZERO joins and ZERO state —
# any engine, any time, same split. The leakage audit reuses the
# near-dup pair set of ``dedup_ngram_jaccard`` (same corpus incl.
# planted twins, so the audit is non-vacuous: twins whose hash buckets
# straddle the split show up as train-val pairs) and classifies each
# pair by its endpoints' splits — pure column math on the pair ids, no
# join back to the corpus. Scale: the audit's input is the PAIR set
# (orders of magnitude below the corpus); the per-class distinct-doc
# count shuffles (class, doc_id) with map-side partials.
_SPLIT_MOD = 10
_SPLIT_TRAIN_BUCKETS = 8  # buckets 0-7 train, 8-9 val (80/20)


def _split_bucket(doc_id_col):
    return (
        F.conv(
            F.substring(F.md5(doc_id_col.cast("string")), 1, 4), 16, 10
        ).cast("bigint")
        % _SPLIT_MOD
    )


def _split_name(doc_id_col):
    return F.when(
        _split_bucket(doc_id_col) < _SPLIT_TRAIN_BUCKETS, F.lit("train")
    ).otherwise(F.lit("val"))


def curation_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document split assignment: (doc_id, bucket, split)."""
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        _split_bucket(F.col("doc_id")).alias("bucket"),
        _split_name(F.col("doc_id")).alias("split"),
    )


def curation_split_by_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-FREE train/val split — the FIX that
    `curation_split_leakage`'s train-val headline motivates: hash the
    near-dup FAMILY representative (fixpoint-CC min doc_id over the
    near-dup pair graph; singletons represent themselves), not the
    document, so every near-dup family lands WHOLE on one side and
    cross-split near-dup leakage is zero BY CONSTRUCTION — the
    GroupShuffleSplit discipline eval-set builders use (re-audited to
    exactly zero pairs in pytest, while the doc-hash split's audit
    shows a non-empty train-val row on the same corpus).

    Scale: one convergence-stopped CC over the SHARED persisted pair
    index (node-sized state) + a left join back onto the corpus ids;
    the split decision stays a pure hash function of the family id —
    reproducible on any engine, join-free at lookup time, and stable
    under corpus growth except where families merge (which is exactly
    when a re-split is semantically required).

    Output: (doc_id, family, bucket, split) over the corpus the pair
    graph is defined on.
    """
    from hive_2_spark.llm.advanced import dedup_clusters
    from hive_2_spark.llm.dedup import corpus_with_dups

    cl = dedup_clusters(spark, sf_dir)
    fam = (
        corpus_with_dups(spark, sf_dir)
        .select("doc_id")
        .join(cl, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster", F.col("doc_id")).alias("family"),
        )
    )
    return fam.select(
        "doc_id",
        "family",
        _split_bucket(F.col("family")).alias("bucket"),
        _split_name(F.col("family")).alias("split"),
    )


def curation_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs classified by split: (pair_class, n_pairs,
    n_docs). The train-val row is the leakage headline — every such
    pair means a val doc whose near-twin is trained on."""
    from hive_2_spark.llm.dedup import neardup_pair_index

    pairs = neardup_pair_index(spark, sf_dir)
    sa, sb = _split_name(F.col("a_id")), _split_name(F.col("b_id"))
    p = pairs.withColumn(
        "pair_class", F.concat_ws("-", F.least(sa, sb), F.greatest(sa, sb))
    )
    stats = p.groupBy("pair_class").agg(F.count(F.lit(1)).alias("n_pairs"))
    docs_in = (
        p.select("pair_class", F.col("a_id").alias("doc_id"))
        .unionAll(p.select("pair_class", F.col("b_id").alias("doc_id")))
        .groupBy("pair_class")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
    )
    return stats.join(docs_in, "pair_class")


_RESERVOIR_K = 25
_RESERVOIR_SEED = "rsv0:"


def sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size-k uniform corpus sample via deterministic hash
    priority — the distributed equivalent of reservoir sampling: each
    row's priority is md5(seed || doc_id) and the sample is the k
    smallest priorities. Classic reservoir sampling keeps mutable
    per-scanner state (useless across 1000 executors); priority top-k
    is its exact stateless replacement (Efraimidis-Spiliotopoulos with
    a hash in place of the RNG): same uniform marginal, mergeable by
    construction, and a new draw is a new seed string.

    Scale: Spark executes orderBy+limit as TakeOrderedAndProject —
    per-partition top-k then a k-row merge on the driver; the corpus is
    scanned once and never shuffled. Fully deterministic -> full
    oracle.

    Output: k rows (doc_id, lang, priority).
    """
    d = load_table(spark, sf_dir, "documents")
    pr = F.md5(
        F.concat(F.lit(_RESERVOIR_SEED), F.col("doc_id").cast("string"))
    )
    return (
        d.select("doc_id", "lang", pr.alias("priority"))
        .orderBy("priority")
        .limit(_RESERVOIR_K)
    )


def curation_soft_dedup_weights(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SOFT dedup: training weight 1e6 DIV near-dup-cluster-size per
    document — the downweight-instead-of-drop alternative to
    `dedup_keep_best` (the SemDeDup-style treatment): every near-dup
    FAMILY contributes ~one document of total weight, so duplicated
    boilerplate stops dominating the loss while intra-family variation
    (the reason not to hard-drop) is preserved. Docs outside the pair
    graph are their own singleton cluster at full weight.

    Scale: cluster labels come from the convergence-stopped fixpoint
    CC over the SHARED persisted pair index (built once per session);
    sizes are one cluster-keyed count over the node-sized label frame;
    the full-corpus singleton fill is one left-anti join on doc_id.
    Exact integers end to end (weights per-million via DIV).

    Output: (doc_id, cluster, csize, weight_e6), one row per corpus
    document.
    """
    from hive_2_spark.llm.advanced import dedup_clusters
    from hive_2_spark.llm.dedup import corpus_with_dups

    cl = dedup_clusters(spark, sf_dir)
    sizes = cl.groupBy("cluster").agg(F.count(F.lit(1)).alias("csize"))
    clustered = cl.join(sizes, "cluster").select("doc_id", "cluster", "csize")
    singles = (
        corpus_with_dups(spark, sf_dir)
        .select("doc_id")
        .join(cl, "doc_id", "left_anti")
        .select(
            "doc_id",
            F.col("doc_id").alias("cluster"),
            F.lit(1).alias("csize"),
        )
    )
    return (
        clustered.unionByName(singles)
        .select(
            "doc_id",
            "cluster",
            F.col("csize").cast("bigint").alias("csize"),
            F.expr("CAST(1000000 DIV csize AS BIGINT)").alias("weight_e6"),
        )
    )


QUERIES = {
    "curation_soft_dedup_weights": curation_soft_dedup_weights,
    "curation_split_assign": curation_split_assign,
    "curation_split_by_family": curation_split_by_family,
    "sample_reservoir": sample_reservoir,
    "curation_split_leakage": curation_split_leakage,
    "curation_repeat_upsample": curation_repeat_upsample,
    "pii_redact": pii_redact,
    "doc_split": doc_split,
    "contamination_ngram": contamination_ngram,
    "tfidf_top_terms": tfidf_top_terms,
    "sample_weighted_mix": sample_weighted_mix,
    "shuffle_train_order": shuffle_train_order,
    "curriculum_order": curriculum_order,
    "sample_source_token_cap": sample_source_token_cap,
    "sample_temperature": sample_temperature,
    "curation_mixture_balance": curation_mixture_balance,
}

_MIX_VALUES = ", ".join(f"('{k}', {v})" for k, v in _MIX_PCT.items())

# DuckDB twin of _split_bucket: the first 4 md5 hex chars of the
# doc_id's decimal string as an exact integer.
_SPLIT_SQL_BUCKET = (
    f"({_dk_hex_int('md5(CAST({c} AS VARCHAR))', 4)} % {_SPLIT_MOD})"
)


def _split_leakage_sql() -> str:
    from hive_2_spark.llm.dedup import ORACLES as _DEDUP_ORACLES

    pairs = _DEDUP_ORACLES["dedup_ngram_jaccard"]
    ba = _SPLIT_SQL_BUCKET.format(c="a_id")
    bb = _SPLIT_SQL_BUCKET.format(c="b_id")
    t = _SPLIT_TRAIN_BUCKETS
    return (
        f"WITH pairs AS ({pairs}), "
        "cls AS (SELECT a_id, b_id, "
        f"  CASE WHEN {ba} < {t} THEN 'train' ELSE 'val' END AS sa, "
        f"  CASE WHEN {bb} < {t} THEN 'train' ELSE 'val' END AS sb "
        "  FROM pairs), "
        "p AS (SELECT a_id, b_id, "
        "  LEAST(sa, sb) || '-' || GREATEST(sa, sb) AS pair_class "
        "  FROM cls), "
        "stats AS (SELECT pair_class, COUNT(*) AS n_pairs "
        "  FROM p GROUP BY 1), "
        "docs_in AS (SELECT pair_class, "
        "  COUNT(DISTINCT doc_id) AS n_docs FROM ("
        "    SELECT pair_class, a_id AS doc_id FROM p "
        "    UNION ALL SELECT pair_class, b_id FROM p) GROUP BY 1) "
        "SELECT stats.pair_class, n_pairs, n_docs "
        "FROM stats JOIN docs_in USING (pair_class)"
    )


def _family_split_sql() -> str:
    """The components of the near-dup pairs (the dedup_clusters
    oracle's CTEs), singleton families filled from the corpus, then the
    identical md5 bucket applied to the FAMILY id."""
    from hive_2_spark.llm.advanced import _DK_COMPONENTS
    from hive_2_spark.llm.dedup import _DK_CORPUS, _dk_neardup_pairs

    b = _SPLIT_SQL_BUCKET.format(c="family")
    return (
        f"WITH RECURSIVE {_dk_neardup_pairs()}, {_DK_COMPONENTS}, "
        f"corpus AS (SELECT doc_id FROM ({_DK_CORPUS})), "
        "fam AS (SELECT c.doc_id, COALESCE(cl.cluster, c.doc_id) AS family "
        "        FROM corpus c LEFT JOIN cl ON c.doc_id = cl.doc_id) "
        f"SELECT doc_id, family, {b} AS bucket, "
        f"CASE WHEN {b} < {_SPLIT_TRAIN_BUCKETS} THEN 'train' ELSE 'val' "
        "END AS split FROM fam"
    )


def _soft_dedup_sql() -> str:
    """The components of the near-dup pairs (the dedup_clusters
    oracle's CTEs), singletons filled from the corpus."""
    from hive_2_spark.llm.advanced import _DK_COMPONENTS
    from hive_2_spark.llm.dedup import _DK_CORPUS, _dk_neardup_pairs

    return (
        f"WITH RECURSIVE {_dk_neardup_pairs()}, {_DK_COMPONENTS}, "
        f"corpus AS (SELECT doc_id FROM ({_DK_CORPUS})), "
        "sz AS (SELECT cluster, COUNT(*) AS csize FROM cl GROUP BY cluster), "
        "m AS (SELECT cl.doc_id, cl.cluster, sz.csize "
        "      FROM cl JOIN sz USING (cluster) "
        "      UNION ALL "
        "      SELECT c.doc_id, c.doc_id, 1 FROM corpus c "
        "      LEFT JOIN cl ON c.doc_id = cl.doc_id "
        "      WHERE cl.doc_id IS NULL) "
        "SELECT doc_id, cluster, CAST(csize AS BIGINT) AS csize, "
        "CAST(1000000 // csize AS BIGINT) AS weight_e6 FROM m"
    )


def _dk_curriculum() -> str:
    """SQL twin of ``curriculum_order`` — quality expr imported from
    ``llm.text`` so the two oracles can never drift apart."""
    from hive_2_spark.llm.text import _DK_STOP_HITS

    quality = (
        "ROUND("
        "(CASE WHEN n_chars BETWEEN 100 AND 1000 THEN 0.4 ELSE 0.0 END) + "
        f"(CASE WHEN CAST({_DK_STOP_HITS} AS DOUBLE) / "
        "GREATEST(len(regexp_split_to_array(TRIM(text), '\\s+')), 1) > 0.05 "
        "THEN 0.3 ELSE 0.0 END) + "
        "(CASE WHEN CAST(LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) "
        "AS DOUBLE) / GREATEST(LENGTH(text), 1) > 0.6 "
        "THEN 0.3 ELSE 0.0 END), 1)"
    )
    return f"""
WITH q AS (
  SELECT doc_id, {quality} AS quality FROM documents
), keyed AS (
  SELECT doc_id,
         CAST(ROUND(quality * 10) AS INT) AS bucket,
         md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS sort_key
  FROM q
)
SELECT doc_id, bucket,
       substr(sort_key, 1, 1) AS shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY bucket, substr(sort_key, 1, 1)
                               ORDER BY sort_key) AS BIGINT) AS pos
FROM keyed
"""


ORACLES = {
    "curation_soft_dedup_weights": _soft_dedup_sql(),
    "sample_reservoir": (
        f"SELECT doc_id, lang, md5('{_RESERVOIR_SEED}'"
        " || CAST(doc_id AS VARCHAR)) AS priority "
        "FROM documents ORDER BY priority LIMIT "
        f"{_RESERVOIR_K}"
    ),
    "curation_split_assign": (
        f"SELECT doc_id, {_SPLIT_SQL_BUCKET.format(c='doc_id')} AS bucket, "
        f"CASE WHEN {_SPLIT_SQL_BUCKET.format(c='doc_id')} "
        f"< {_SPLIT_TRAIN_BUCKETS} THEN 'train' ELSE 'val' END AS split "
        "FROM documents"
    ),
    "curation_split_leakage": _split_leakage_sql(),
    "curation_split_by_family": _family_split_sql(),
    # Naive per-source single-window cumsum the bucketed two-phase
    # plan must equal (the win_global_rank oracle relationship).
    "curation_repeat_upsample": """
WITH d AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
), t AS (
  SELECT source, SUM(n_toks) // 2 AS r_s FROM d GROUP BY source
), c AS (
  SELECT doc_id, source, n_toks,
         SUM(n_toks) OVER (PARTITION BY source ORDER BY h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_toks
  FROM d
)
SELECT c.doc_id, c.source, c.n_toks,
       CAST(CAST(substr(c.source, 4) AS BIGINT) % 3
            + CASE WHEN c.cum_toks <= t.r_s THEN 1 ELSE 0 END
            AS BIGINT) AS n_epochs
FROM c JOIN t USING (source)
""",
    # Naive single-window plan the bucketed-prefix implementation must
    # equal (same relationship as win_global_rank and its oracle).
    "curation_mixture_balance": f"""
WITH w(lang, pct) AS (VALUES {_MIX_VALUES}),
d AS (
  SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents
),
counts AS (SELECT lang, COUNT(*) AS n_l FROM d GROUP BY lang),
caps AS (
  SELECT w.lang, w.pct, COALESCE(c.n_l, 0) * 100 // w.pct AS cap
  FROM w LEFT JOIN counts c USING (lang)
),
budget AS (SELECT MIN(cap) AS budget FROM caps),
quota AS (
  SELECT lang, pct * b.budget // 100 AS quota FROM caps, budget b
),
ranked AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id)
           AS sel_rank
  FROM d
)
SELECT r.doc_id, r.lang, CAST(r.sel_rank AS BIGINT) AS sel_rank
FROM ranked r JOIN quota q USING (lang)
WHERE r.sel_rank <= q.quota
""",
    # Thresholds replay the 1/sqrt(p) derivation (correctly-rounded IEEE
    # ops — bit-identical to Spark); the md5-prefix integer is the
    # exact _dk_hex_int decode.
    "sample_temperature": f"""
WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
r AS (
  SELECT lang, n,
         1.0 / sqrt(n * 1.0 / (SUM(n * 1.0) OVER ())) AS w
  FROM c
),
s AS (
  SELECT lang,
         CAST(FLOOR(LEAST(1.0, w / (MAX(w) OVER ())) * 1048576.0)
              AS BIGINT) AS th
  FROM r
),
h AS (
  SELECT d.lang, s.th,
         {_dk_hex_int("md5(d.text)", 5)} AS hi
  FROM documents d JOIN s USING (lang)
)
SELECT lang, th, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN hi < th THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM h GROUP BY lang, th
""",
    # DuckDB SUM(BIGINT) in a window is HUGEINT — cast back to BIGINT;
    # ROWS frame explicit on both sides (ordering is total, but be
    # boundary-proof).
    "sample_source_token_cap": (
        "WITH t AS (SELECT source, doc_id, n_chars, "
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS toks "
        "FROM documents), "
        "c AS (SELECT source, doc_id, toks, "
        "CAST(SUM(toks) OVER (PARTITION BY source "
        "ORDER BY n_chars DESC, doc_id ASC "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) "
        "AS cum_toks FROM t) "
        "SELECT source, doc_id, toks, cum_toks FROM c "
        f"WHERE cum_toks <= {_SOURCE_TOKEN_CAP}"
    ),
    # DuckDB regexp_replace needs the 'g' flag (Spark replaces all by
    # default); regexp_extract_all exists in both.
    "pii_redact": f"""
WITH injected AS (
  SELECT source,
         CASE WHEN doc_id % 5 = 0
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.com now'
              ELSE text END AS text2
  FROM documents
), scrubbed AS (
  SELECT source,
         length(regexp_extract_all(text2, '{_EMAIL_RE}')) AS n_emails,
         regexp_replace(text2, '{_EMAIL_RE}', '[EMAIL]', 'g') AS clean
  FROM injected
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_emails > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_pii,
       CAST(SUM(n_emails) AS BIGINT) AS n_emails_redacted,
       CAST(SUM(length(clean)) AS BIGINT) AS clean_chars
FROM scrubbed GROUP BY source
""",
    "doc_split": """
SELECT CASE substr(md5(text), 1, 1)
         WHEN '0' THEN 'test' WHEN '1' THEN 'val' ELSE 'train' END AS split,
       lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY 1, 2
""",
    # DuckDB list slicing l[a:b] is INCLUSIVE on both ends and range()
    # is exclusive on the stop — ws[i:i+4] is the same 5 words as
    # Spark's slice(ws, i, 5).
    "contamination_ngram": """
WITH w AS (
  SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents
), g AS (
  SELECT doc_id, source,
         unnest(list_transform(range(1, len(ws) - 3),
                               i -> array_to_string(ws[i:i+4], ' '))) AS gram
  FROM w WHERE len(ws) >= 5
), eval_grams AS (
  SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0
), hits AS (
  SELECT DISTINCT g.doc_id, g.source
  FROM g SEMI JOIN eval_grams ON g.gram = eval_grams.gram
  WHERE g.doc_id % 97 <> 0
), per_source AS (
  SELECT source, COUNT(*) AS n_contaminated FROM hits GROUP BY source
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs_checked,
       CAST(COALESCE(MAX(p.n_contaminated), 0) AS BIGINT) AS n_contaminated
FROM documents d LEFT JOIN per_source p ON d.source = p.source
WHERE d.doc_id % 97 <> 0
GROUP BY d.source
""",
    "sample_weighted_mix": """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN substr(md5(text), 1, 2) <
                     (CASE lang WHEN 'en' THEN '40'
                                WHEN 'de' THEN '80'
                                WHEN 'fr' THEN '80'
                                ELSE 'c0' END)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM documents GROUP BY lang
""",
    "tfidf_top_terms": """
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
  SELECT source, term, COUNT(*) AS tf FROM toks
  WHERE term <> '' GROUP BY source, term
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), ns AS (
  SELECT COUNT(DISTINCT source) AS n_sources FROM tf
), scored AS (
  SELECT tf.source, tf.term,
         ROUND(tf.tf * ln(ns.n_sources / dfreq.df), 6) AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN ns
), ranked AS (
  SELECT source, term, score,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY score DESC, term ASC) AS rank
  FROM scored
)
SELECT source, term, score, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 3
""",
    "shuffle_train_order": """
WITH keyed AS (
  SELECT doc_id,
         md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS sort_key
  FROM documents
)
SELECT doc_id,
       substr(sort_key, 1, 2) AS shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY substr(sort_key, 1, 2)
                               ORDER BY sort_key) AS BIGINT) AS pos
FROM keyed
""",
    "curriculum_order": _dk_curriculum(),
}
