"""Text-analysis operators over `documents` (SURVEY.md §2B op 44).

Language ID (stopword-hit heuristic), quality scoring (length/punct/
stopword ratios), token counting (whitespace + BPE-ish regex), and
document fingerprinting — all as JVM-side column expressions: one
codegen'd scan, no Python in the row path. At 100 TB each of these is a
single-pass map with zero shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_2_spark.catalog import load_table
from hive_2_spark.core.aggregates import _dk_hex_int
from hive_2_spark.llm.dedup import _DK_NORM, _NORM

# stopword marker sets per language for the n-gram/stopword heuristic
LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "de": ("der", "und", "die"),
    "fr": ("le", "la", "et"),
    "es": ("el", "los", "y"),
    "zh": ("de0", "le0", "he0"),  # placeholder latinized markers
}

_EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")

# BPE-ish tokenizer: word pieces = runs of letters, digits, or single
# non-space symbols (the GPT-2 pre-tokenizer shape, regex-only).
_BPE_RE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def _count_word(col, word: str):
    """Occurrences of a whole word — size(split)-1, portable to DuckDB."""
    return F.size(F.split(F.concat(F.lit(" "), col, F.lit(" ")), f" {word} ")) - 1


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document surface statistics."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), r"\s+")
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars_actual"),
        F.size(words).alias("n_words"),
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))))
        .alias("n_spaces"),
        F.length(F.regexp_replace("text", r"[^.!?]", "")).alias("n_sentences_approx"),
    )


def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokens + BPE-ish regex tokens per document."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(_BPE_RE), 0)).alias("bpe_tokens"),
    )


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality: length band + stopword ratio + alpha ratio.

    The exact formula is arbitrary (as in any real pipeline); what matters
    is that it is deterministic, columnar, and filterable.
    """
    d = load_table(spark, sf_dir, "documents")
    n_words = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    stop_hits = None
    for wd in _EN_STOPWORDS:
        c = _count_word(F.col("text"), wd)
        stop_hits = c if stop_hits is None else (stop_hits + c)
    alpha_ratio = F.length(F.regexp_replace("text", r"[^A-Za-z]", "")) / F.greatest(
        F.length("text"), F.lit(1)
    )
    score = (
        F.when(F.col("n_chars").between(100, 1000), 0.4).otherwise(0.0)
        + F.when(stop_hits / F.greatest(n_words, F.lit(1)) > 0.05, 0.3).otherwise(0.0)
        + F.when(alpha_ratio > 0.6, 0.3).otherwise(0.0)
    )
    return d.select(
        "doc_id",
        stop_hits.alias("stop_hits"),
        F.round(score, 1).alias("quality"),
        (score >= 0.7).alias("keep"),
    )


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language scoring; argmax across languages.

    The synthetic corpus is English-ish word salad, so scores mostly pick
    'en' — the *operator* (portable marker counting + argmax) is what is
    under test; real marker tables drop in unchanged.
    """
    d = load_table(spark, sf_dir, "documents")
    scores = {
        lang: sum(
            (_count_word(F.lower(F.col("text")), w) for w in words),
            F.lit(0),
        )
        for lang, words in LANG_MARKERS.items()
    }
    # argmax via chained CASE (deterministic tie-break by language order)
    langs = list(scores)
    best = F.lit(langs[0])
    best_score = scores[langs[0]]
    for lang in langs[1:]:
        cond = scores[lang] > best_score
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_score = F.when(cond, scores[lang]).otherwise(best_score)
    return d.select(
        "doc_id",
        "lang",
        best.alias("lang_pred"),
        best_score.cast("int").alias("marker_hits"),
    )


def fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint: md5 of the normalized text (lowercase,
    punctuation stripped, whitespace collapsed)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", F.md5(_NORM(F.col("text"))).alias("fp"))


def fingerprint_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling hash (Rabin-Karp shape) over normalized words:
    h = (h * 31 + wordhash) mod 1e9+7, folded left-to-right with
    ``aggregate`` — all JVM-side. Each step stays < 2^63 (pmod keeps the
    accumulator < 1e9+7), so it is safe under ANSI overflow checking.

    The per-word hash is the first 15 hex chars of md5(word) read as an
    integer (< 2^60) — PORTABLE, so since round 5 the whole polynomial
    replays in DuckDB (list_reduce + '0x'-cast) and this key is fully
    oracle-checked; the previous xxhash64 word hash was Spark-internal
    (the reason the key was rows-only).
    """
    M = 1_000_000_007
    d = load_table(spark, sf_dir, "documents")
    words = F.split(_NORM(F.col("text")), " ")

    def word_hash(w):
        return F.pmod(
            F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("long"),
            F.lit(M),
        )

    rolling = F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda acc, w: F.pmod(acc * 31 + word_hash(w), F.lit(M)),
    )
    return d.select("doc_id", rolling.alias("rfp"))


_CHUNK_W = 50   # tokens per chunk
_CHUNK_S = 40   # stride (10-token overlap)


def text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking for training pipelines: each doc
    becomes overlapping ``_CHUNK_W``-token chunks at stride ``_CHUNK_S``.
    Pure codegen (sequence + transform + explode) — one narrow pass, no
    shuffle, no Python: exactly the shape that streams 100 TB of text
    through chunking at scan speed."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    starts = F.sequence(
        F.lit(0), F.greatest(n - _CHUNK_W, F.lit(0)), F.lit(_CHUNK_S)
    )
    chunked = d.select(
        "doc_id",
        "lang",
        F.explode(starts).alias("chunk_start"),
        words.alias("_w"),
    )
    piece = F.slice(F.col("_w"), F.col("chunk_start") + 1, _CHUNK_W)
    return chunked.select(
        "doc_id",
        "lang",
        F.col("chunk_start").cast("long").alias("chunk_start"),
        F.size(piece).cast("long").alias("n_chunk_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


_PACK_CAP = 2048  # token capacity per pack


def token_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing for training batches: docs are laid into
    fixed-capacity token packs in doc_id order within each language —
    pack_id = floor(running_token_offset / capacity). Deterministic and
    window-expressible, so the oracle hash-matches. At scale the window
    partitions by lang (bounded state per partition); packing across a
    whole corpus would instead salt by a coarse doc_id range first."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.col("text"), " ")).cast("long")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_pack = d.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        F.floor((F.sum(n_tokens).over(w) - n_tokens) / _PACK_CAP).alias(
            "pack_id"
        ),
    )
    return with_pack.groupBy("lang", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("pack_tokens"),
    )


# Salt width for the scaled packing plan: packs never cross a salt
# boundary, so per-window state is bounded by the salt width instead of
# the corpus. A layout knob like bucket counts: size it so the per-lang
# offsets frame (one row per salt) stays metadata-sized — ~sqrt(n_docs)
# in production; 64 on the fixtures so every lang exercises >1 salt.
_PACK_SALT_RANGE = 64


def token_pack_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capacity-bounded sequence packing, salted for scale (the
    executable form of SCALING.md §Packing's documented rewrite of
    ``token_pack``).

    ``token_pack`` runs ONE running-sum window per language — fine for
    tens of languages, but each window partition is corpus-sized, the
    single-hot-partition trap at 100 TB. Packs do not need global
    contiguity, only capacity-bounding, so this plan salts by coarse
    doc_id range first:

    1. window per (lang, salt): local pack index off the running token
       sum — state bounded by the salt width, thousands of parallel
       partitions instead of one per lang;
    2. per-(lang, salt) pack counts (metadata-sized: one row per salt)
       prefix-summed per lang into pack-id offsets — the offset step
       of ``core.windows.bucketed_running_sum``, but over pack counts,
       not over the token sums the local window runs;
    3. offset + local index = a pack id unique within the lang, then
       the same (lang, pack_id) rollup as token_pack.

    Pack ids are dense per lang and every pack obeys the same capacity
    rule; only pack *membership near salt boundaries* differs from the
    contiguous plan. The oracle re-derives the salted semantics
    independently in SQL.
    """
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.col("text"), " ")).cast("long")
    s = d.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        F.expr(f"doc_id div {_PACK_SALT_RANGE}").alias("salt"),
    )
    w1 = (
        Window.partitionBy("lang", "salt")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = s.withColumn(
        "local_pack",
        F.floor(
            (F.sum("n_tokens").over(w1) - F.col("n_tokens")) / _PACK_CAP
        ),
    )
    counts = local.groupBy("lang", "salt").agg(
        (F.max("local_pack") + 1).alias("n_packs")
    )
    w2 = (
        Window.partitionBy("lang")
        .orderBy("salt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = counts.withColumn(
        "off", F.coalesce(F.sum("n_packs").over(w2), F.lit(0))
    ).select("lang", "salt", "off")
    packed = local.join(F.broadcast(offs), ["lang", "salt"]).select(
        "lang",
        (F.col("off") + F.col("local_pack")).cast("long").alias("pack_id"),
        "n_tokens",
    )
    return packed.groupBy("lang", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("pack_tokens"),
    )


_VOCAB_TOP_K = 20  # fixture has ~31 distinct words; K=20 keeps OOV non-vacuous


def token_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage report: per-doc out-of-vocabulary token count
    against the corpus's own top-``_VOCAB_TOP_K`` words — the
    first-order check before committing to a tokenizer/vocab budget.

    Two passes: (1) vocab = top-K words by corpus frequency via
    sort+limit — TakeOrderedAndProject, i.e. per-partition top-K then a
    K-row merge, NOT a single-partition rank window over the whole
    (vocabulary-sized) word-count table; word-asc tie-break makes the
    cut deterministic across engines; (2) exploded tokens LEFT-join the
    vocab — the vocab side is K rows and broadcasts; OOV share is
    per-mille by integer division (no float boundaries). The only
    corpus-sized exchange is the doc_id rollup, the same shape every
    text op here pays."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    )
    vocab = (
        toks.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("word").asc())
        .limit(_VOCAB_TOP_K)
        .select("word", F.lit(True).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "word", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
        )
        .withColumn(
            "oov_pm", F.expr("CAST(n_oov * 1000 DIV n_tokens AS BIGINT)")
        )
    )


_BPE_MERGES = 10  # learned merge-table depth (fixed unroll, both engines)


def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-pair learning (Sennrich ACL'16) — the tokenizer-
    TRAINING primitive the text family was missing beside its apply
    faces (chunking, packing, OOV, vocab audits): ``_BPE_MERGES``
    greedy rounds of {census adjacent symbol pairs over the word-
    frequency vocabulary, merge the argmax pair}, yielding the ordered
    merge table a byte-pair tokenizer is.

    Symbol state is a DOUBLE-SPACED string (``'  h  e  y  '``): one
    ``replace(' a  b ', ' ab ')`` per round then performs the textbook
    leftmost non-overlapping merge sweep — the two-space separator
    leaves a spare delimiter on each side, so back-to-back pair
    occurrences all merge in one pass while overlapping ones
    ('a a a' under (a,a)) correctly merge left-first. Spark `replace`,
    DuckDB `replace`, and Python ``str.replace`` share these exact
    semantics (pinned by the pure-Python replay gate). Argmax
    tie-break: pair-count desc, then the ``'a b'`` pair string asc —
    symbols are ``[a-z0-9]+`` so the space separator (0x20, below all
    alphanumerics) makes string order equal (left, right) tuple order
    on both engines.

    Scale: the corpus is touched ONCE (the word-frequency census —
    the same exchange every text op pays); all ``k`` merge rounds run
    over the localCheckpoint'd VOCABULARY (distinct words), orders of
    magnitude smaller, with map-side partial aggs on the pair census.
    Each round's winner is a 1-row bounded collect — the merge table
    is driver-sized by definition (it IS the learned artifact), the
    markov/kmeans scalar-seed discipline. The oracle replays the
    identical unroll in nested CTEs with scalar-subquery winners.

    Output: (merge_round, left_sym, right_sym, merged, pair_count).
    """
    _, merges = _bpe_learn(spark, sf_dir)
    return spark.createDataFrame(
        merges,
        "merge_round bigint, left_sym string, right_sym string, "
        "merged string, pair_count bigint",
    )


def _bpe_learn(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[tuple[int, str, str, str, int]]]:
    """The shared BPE training loop: returns (final vocabulary frame
    (word, s, freq) with all merges applied to the double-spaced
    symbol string ``s``, ordered merge list) — :func:`text_bpe_merges`
    emits the list, :func:`text_bpe_apply` tokenizes with the frame,
    so the two faces cannot drift."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        F.explode(F.split(_NORM(F.col("text")), " ")).alias("word")
    ).filter(F.col("word") != "")
    vocab = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .select(
            "word",
            F.concat(
                F.lit("  "),
                F.array_join(
                    F.transform(
                        F.sequence(F.lit(1), F.length("word")),
                        lambda i: F.substring(F.col("word"), i, F.lit(1)),
                    ),
                    "  ",
                ),
                F.lit("  "),
            ).alias("s"),
            "freq",
        )
        .localCheckpoint()
    )
    merges: list[tuple[int, str, str, str, int]] = []
    cur = vocab
    for r in range(1, _BPE_MERGES + 1):
        syms = F.split(F.trim(F.col("s")), "  ")
        pairs = (
            cur.select("freq", syms.alias("sy"))
            .filter(F.size("sy") >= 2)
            .select(
                "freq",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("sy") - 1),
                        lambda i: F.concat(
                            F.element_at("sy", i),
                            F.lit(" "),
                            F.element_at("sy", i + 1),
                        ),
                    )
                ).alias("pair"),
            )
            .groupBy("pair")
            .agg(F.sum("freq").alias("cnt"))
        )
        win = pairs.orderBy(
            F.col("cnt").desc(), F.col("pair").asc()
        ).limit(1).collect()
        if not win:
            break  # vocabulary exhausted (every word one symbol)
        pair, cnt = win[0]["pair"], win[0]["cnt"]
        a, b = pair.split(" ")
        merges.append((r, a, b, a + b, cnt))
        cur = cur.select(
            "word",
            F.replace(
                F.col("s"),
                F.lit(f" {a}  {b} "),
                F.lit(f" {a}{b} "),
            ).alias("s"),
            "freq",
        )
    return cur, merges


def text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with the merge table
    :func:`text_bpe_merges` just learned — the APPLY half of the
    tokenizer-training pair, and the number a vocab-budget decision
    actually consumes: tokens per document and the chars-per-token
    compression the merges bought.

    The merges are applied once per DISTINCT word (the same
    ``_bpe_learn`` replace chain — train and apply share one code
    path, so the faces cannot drift), then documents join the
    tokenized vocabulary on the word key and roll up. That order —
    vocab-sized merge application, corpus-sized join-aggregate — is
    the production tokenizer shape: the per-word symbol count is the
    dictionary, the corpus only ever exchanges (word, doc_id) pairs.

    All-integer output (the DIV-not-divide discipline): per document,
    word occurrences, BPE tokens, normalized chars, and
    chars-per-token in per-mille (``n_chars * 1000 DIV n_tokens``).
    Documents whose normalized text is empty have no words and no
    row — same as the inner-join oracle.

    Output: (doc_id, n_words, n_tokens, n_chars, cpt_pm).
    """
    vocab, _ = _bpe_learn(spark, sf_dir)
    wtok = vocab.select(
        "word",
        F.size(F.split(F.trim(F.col("s")), "  ")).cast("bigint").alias("ntw"),
        F.length("word").cast("bigint").alias("lw"),
    )
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(_NORM(F.col("text")), " ")).alias("word"),
    ).filter(F.col("word") != "")
    return (
        toks.join(wtok, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("ntw").cast("bigint").alias("n_tokens"),
            F.sum("lw").cast("bigint").alias("n_chars"),
        )
        .withColumn(
            "cpt_pm",
            F.expr("CAST(n_chars * 1000 DIV n_tokens AS BIGINT)"),
        )
    )


_LANGID_TOP_K = 15  # profile size per language (Cavnar-Trenkle K)


def text_langid_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-TRAINED language identification (Cavnar-Trenkle n-gram
    profiles) — the data-driven sibling of the static-marker `lang_id`:
    learn each language's top-K word-bigram profile from the labeled
    corpus, classify every document by profile overlap, and report the
    confusion matrix. This is the production shape: profiles fit on a
    labeled subset, then broadcast-applied to the unlabeled stream.

    Semantics (all integer, engine-portable):
    - doc bigrams = adjacent single-space token pairs;
    - profile(lang) = top-K bigrams by corpus count, ties by bigram asc;
    - score(doc, lang) = |distinct doc bigrams ∩ profile(lang)|;
    - prediction = argmax score (ties by language asc); docs with zero
      overlap against every profile predict 'und'.

    Scale: the bigram explode is the standard text-op fan-out; profile
    training partial-aggregates to the (lang x bigram-vocab) table and
    keeps only 5*K rows, which BROADCAST to the scoring join — the
    corpus is scanned twice and shuffled only by doc_id for the score
    rollup. Nothing grows with corpus size except the two scans. (On
    this synthetic word-salad fixture the languages share one
    vocabulary, so the confusion matrix is near-uniform — the operator
    under test is the train/broadcast/score/argmax machinery; real
    per-language text drops in unchanged.)

    Output: lang_true, lang_pred, n_docs.
    """
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    docs = d.select("doc_id", "lang", toks.alias("t"))
    bigrams = F.when(
        F.size("t") >= 2,
        F.expr(
            "transform(sequence(1, size(t) - 1),"
            " i -> concat(t[i - 1], ' ', t[i]))"
        ),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))
    bi = docs.select("doc_id", "lang", F.explode(bigrams).alias("bg"))
    prof_w = Window.partitionBy("lang").orderBy(
        F.col("c").desc(), F.col("bg").asc()
    )
    profiles = (
        bi.groupBy("lang", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("rn", F.row_number().over(prof_w))
        .filter(F.col("rn") <= _LANGID_TOP_K)
        .select(F.col("lang").alias("plang"), "bg")
    )
    scores = (
        bi.select("doc_id", "bg")
        .distinct()
        .join(F.broadcast(profiles), "bg")
        .groupBy("doc_id", "plang")
        .agg(F.count(F.lit(1)).alias("s"))
    )
    pred_w = Window.partitionBy("doc_id").orderBy(
        F.col("s").desc(), F.col("plang").asc()
    )
    pred = (
        scores.withColumn("rn", F.row_number().over(pred_w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "plang")
    )
    return (
        d.select("doc_id", "lang")
        .join(pred, "doc_id", "left")
        .groupBy(
            F.col("lang").alias("lang_true"),
            F.coalesce("plang", F.lit("und")).alias("lang_pred"),
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


QUERIES = {
    "text_stats": text_stats,
    "text_bpe_merges": text_bpe_merges,
    "text_bpe_apply": text_bpe_apply,
    "text_langid_profile": text_langid_profile,
    "token_count": token_count,
    "quality_score": quality_score,
    "lang_id": lang_id,
    "fingerprint": fingerprint,
    "fingerprint_rolling": fingerprint_rolling,
    "text_chunk": text_chunk,
    "token_pack": token_pack,
    "token_pack_salted": token_pack_salted,
    "token_oov_rate": token_oov_rate,
}


def _dk_count_word(expr: str, word: str) -> str:
    return f"(len(string_split(' ' || {expr} || ' ', ' {word} ')) - 1)"


_DK_STOP_HITS = " + ".join(_dk_count_word("text", w) for w in _EN_STOPWORDS)

_DK_LANG_SCORES = {
    lang: "(" + " + ".join(_dk_count_word("lower(text)", w) for w in words) + ")"
    for lang, words in LANG_MARKERS.items()
}


def _dk_argmax_lang() -> str:
    langs = list(_DK_LANG_SCORES)
    best = f"'{langs[0]}'"
    best_score = _DK_LANG_SCORES[langs[0]]
    for lang in langs[1:]:
        cond = f"{_DK_LANG_SCORES[lang]} > {best_score}"
        best = f"CASE WHEN {cond} THEN '{lang}' ELSE {best} END"
        best_score = f"CASE WHEN {cond} THEN {_DK_LANG_SCORES[lang]} ELSE {best_score} END"
    return best, best_score


_DK_BEST, _DK_BEST_SCORE = _dk_argmax_lang()


def _dk_bpe_parts() -> str:
    """Shared WITH-clause replaying the ``_BPE_MERGES`` greedy rounds:
    each round's winner is a scalar subquery over the previous state's
    pair census; the replace literal is identical to the Spark side's.
    Both BPE oracles (merge table, apply) build on this chain."""
    # AS MATERIALIZED is load-bearing: v{r-1} is referenced twice per
    # round (pair census + replace), so inlined CTEs would double the
    # scan tree each round — 2^k opens of the parquet by round k
    parts = [
        "WITH v0 AS MATERIALIZED (SELECT word, "
        "'  ' || array_to_string(list_transform("
        "range(1, len(word) + 1), i -> substr(word, i, 1)), '  ') || "
        "'  ' AS s, CAST(COUNT(*) AS BIGINT) AS freq FROM "
        "(SELECT unnest(string_split("
        f"{_DK_NORM.format(c='text')}, ' ')) AS word "
        "FROM documents) WHERE word <> '' GROUP BY word)"
    ]
    for r in range(1, _BPE_MERGES + 1):
        prev = f"v{r - 1}"
        parts.append(
            f"p{r} AS MATERIALIZED (SELECT pair, SUM(freq) AS cnt FROM "
            "(SELECT freq, unnest(list_transform(range(1, len(sy)), "
            "i -> sy[i] || ' ' || sy[i + 1])) AS pair FROM "
            f"(SELECT freq, string_split(trim(s), '  ') AS sy "
            f"FROM {prev}) WHERE len(sy) >= 2) GROUP BY pair)"
        )
        parts.append(
            f"w{r} AS MATERIALIZED (SELECT pair, cnt FROM p{r} "
            "ORDER BY cnt DESC, pair ASC LIMIT 1)"
        )
        parts.append(
            f"v{r} AS MATERIALIZED (SELECT word, replace(s, "
            f"' ' || replace((SELECT pair FROM w{r}), ' ', '  ') || ' ', "
            f"' ' || replace((SELECT pair FROM w{r}), ' ', '') || ' ') "
            f"AS s, freq FROM {prev})"
        )
    return ", ".join(parts)


def _dk_bpe_oracle() -> str:
    rows = " UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS merge_round, "
        "string_split(pair, ' ')[1] AS left_sym, "
        "string_split(pair, ' ')[2] AS right_sym, "
        "replace(pair, ' ', '') AS merged, "
        "CAST(cnt AS BIGINT) AS pair_count "
        f"FROM w{r}"
        for r in range(1, _BPE_MERGES + 1)
    )
    return _dk_bpe_parts() + " " + rows


def _dk_bpe_apply_oracle() -> str:
    return (
        _dk_bpe_parts()
        + ", wtok AS (SELECT word, "
        "CAST(len(string_split(trim(s), '  ')) AS BIGINT) AS ntw, "
        f"CAST(len(word) AS BIGINT) AS lw FROM v{_BPE_MERGES}), "
        "dtoks AS (SELECT doc_id, "
        f"unnest(string_split({_DK_NORM.format(c='text')}, ' ')) AS word "
        "FROM documents) "
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words, "
        "CAST(SUM(ntw) AS BIGINT) AS n_tokens, "
        "CAST(SUM(lw) AS BIGINT) AS n_chars, "
        "CAST(SUM(lw) * 1000 // SUM(ntw) AS BIGINT) AS cpt_pm "
        "FROM dtoks JOIN wtok USING (word) WHERE word <> '' "
        "GROUP BY doc_id"
    )


ORACLES = {
    "text_bpe_merges": _dk_bpe_oracle(),
    "text_bpe_apply": _dk_bpe_apply_oracle(),
    # bigrams: DuckDB lists are 1-based (t[i] || ' ' || t[i+1] over
    # i in range(1, len) — end-exclusive) = Spark's 0-based
    # t[i-1]||' '||t[i] over sequence(1, size-1); all-integer scoring
    "text_langid_profile": f"""
WITH toks AS (
  SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
), bi AS (
  SELECT doc_id, lang, t[i] || ' ' || t[i + 1] AS bg
  FROM toks, UNNEST(range(1, len(t))) AS r(i)
), prof AS (
  SELECT lang AS plang, bg FROM (
    SELECT lang, bg,
           ROW_NUMBER() OVER (PARTITION BY lang
                              ORDER BY COUNT(*) DESC, bg ASC) AS rn
    FROM bi GROUP BY lang, bg
  ) WHERE rn <= {_LANGID_TOP_K}
), db AS (
  SELECT DISTINCT doc_id, bg FROM bi
), scores AS (
  SELECT db.doc_id, prof.plang, COUNT(*) AS s
  FROM db JOIN prof USING (bg) GROUP BY 1, 2
), pred AS (
  SELECT doc_id, plang FROM (
    SELECT doc_id, plang,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY s DESC, plang ASC) AS rn
    FROM scores
  ) WHERE rn = 1
)
SELECT d.lang AS lang_true,
       COALESCE(p.plang, 'und') AS lang_pred,
       COUNT(*) AS n_docs
FROM documents d LEFT JOIN pred p USING (doc_id)
GROUP BY 1, 2
""",
    "token_oov_rate": f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
vocab AS (
  SELECT word FROM (
    SELECT word, COUNT(*) AS n FROM toks GROUP BY word
    ORDER BY n DESC, word ASC LIMIT {_VOCAB_TOP_K}
  )
),
j AS (
  SELECT t.doc_id, CASE WHEN v.word IS NULL THEN 1 ELSE 0 END AS oov
  FROM toks t LEFT JOIN vocab v USING (word)
)
SELECT doc_id, COUNT(*) AS n_tokens,
       CAST(SUM(oov) AS BIGINT) AS n_oov,
       CAST(SUM(oov) * 1000 // COUNT(*) AS BIGINT) AS oov_pm
FROM j GROUP BY doc_id
""",
    "text_chunk": (
        "SELECT doc_id, lang, CAST(s AS BIGINT) AS chunk_start, "
        "CAST(len(list_slice(string_split(text, ' '), s + 1, s + 50)) "
        "  AS BIGINT) AS n_chunk_tokens, "
        "array_to_string(list_slice(string_split(text, ' '), s + 1, s + 50), "
        "  ' ') AS chunk_text "
        "FROM documents, LATERAL (SELECT unnest(range(0, "
        "greatest(len(string_split(text, ' ')) - 50, 0) + 1, 40)) AS s)"
    ),
    "token_pack": (
        "SELECT lang, pack_id, COUNT(*) AS n_docs, "
        "CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens FROM ("
        "SELECT lang, len(string_split(text, ' ')) AS n_tokens, "
        "CAST(FLOOR((SUM(len(string_split(text, ' '))) OVER ("
        "PARTITION BY lang ORDER BY doc_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
        "- len(string_split(text, ' '))) / 2048.0) AS BIGINT) AS pack_id "
        "FROM documents) GROUP BY lang, pack_id"
    ),
    # Independent SQL re-derivation of the salted-window semantics:
    # per-(lang, salt) local pack index + prefix-summed per-salt pack
    # counts. Integer token sums, so the /2048.0 divide is exact in
    # double on both engines.
    "token_pack_salted": f"""
WITH d AS (
  SELECT doc_id, lang, doc_id // {_PACK_SALT_RANGE} AS salt,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
local AS (
  SELECT lang, salt, n_tokens,
         CAST(FLOOR((SUM(n_tokens) OVER (
             PARTITION BY lang, salt ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tokens) / {_PACK_CAP}.0) AS BIGINT) AS local_pack
  FROM d
),
counts AS (
  SELECT lang, salt, MAX(local_pack) + 1 AS n_packs
  FROM local GROUP BY lang, salt
),
offs AS (
  SELECT lang, salt,
         COALESCE(SUM(n_packs) OVER (
             PARTITION BY lang ORDER BY salt
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM counts
)
SELECT l.lang, CAST(o.off + l.local_pack AS BIGINT) AS pack_id,
       COUNT(*) AS n_docs, CAST(SUM(l.n_tokens) AS BIGINT) AS pack_tokens
FROM local l JOIN offs o USING (lang, salt)
GROUP BY 1, 2
""",
    "text_stats": (
        "SELECT doc_id, "
        "CAST(LENGTH(text) AS INT) AS n_chars_actual, "
        "CAST(len(regexp_split_to_array(TRIM(text), '\\s+')) AS INT) AS n_words, "
        "CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) AS INT) AS n_spaces, "
        "CAST(LENGTH(regexp_replace(text, '[^.!?]', '', 'g')) AS INT) "
        "  AS n_sentences_approx "
        "FROM documents"
    ),
    "token_count": (
        "SELECT doc_id, "
        "CAST(len(regexp_split_to_array(TRIM(text), '\\s+')) AS INT) AS ws_tokens, "
        "CAST(len(regexp_extract_all(text, "
        "'[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS INT) AS bpe_tokens "
        "FROM documents"
    ),
    "quality_score": (
        "SELECT doc_id, "
        f"CAST({_DK_STOP_HITS} AS INT) AS stop_hits, "
        "ROUND("
        "  (CASE WHEN n_chars BETWEEN 100 AND 1000 THEN 0.4 ELSE 0.0 END) + "
        f" (CASE WHEN CAST({_DK_STOP_HITS} AS DOUBLE) / "
        "   GREATEST(len(regexp_split_to_array(TRIM(text), '\\s+')), 1) > 0.05 "
        "   THEN 0.3 ELSE 0.0 END) + "
        "  (CASE WHEN CAST(LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) "
        "   AS DOUBLE) / GREATEST(LENGTH(text), 1) > 0.6 "
        "   THEN 0.3 ELSE 0.0 END), 1) AS quality, "
        "  (CASE WHEN n_chars BETWEEN 100 AND 1000 THEN 0.4 ELSE 0.0 END) + "
        f" (CASE WHEN CAST({_DK_STOP_HITS} AS DOUBLE) / "
        "   GREATEST(len(regexp_split_to_array(TRIM(text), '\\s+')), 1) > 0.05 "
        "   THEN 0.3 ELSE 0.0 END) + "
        "  (CASE WHEN CAST(LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) "
        "   AS DOUBLE) / GREATEST(LENGTH(text), 1) > 0.6 "
        "   THEN 0.3 ELSE 0.0 END) >= 0.7 AS keep "
        "FROM documents"
    ),
    "lang_id": (
        f"SELECT doc_id, lang, {_DK_BEST} AS lang_pred, "
        f"CAST({_DK_BEST_SCORE} AS INT) AS marker_hits FROM documents"
    ),
    "fingerprint": (
        f"SELECT doc_id, md5({_DK_NORM.format(c='text')}) AS fp FROM documents"
    ),
    # Exact replay of the Rabin-Karp fold: per-word hash = first 15 hex
    # chars of md5 as int, pre-modded so DuckDB's init-less list_reduce
    # (acc starts at element 1) equals Spark's acc=0 left fold.
    "fingerprint_rolling": (
        "SELECT doc_id, list_reduce(list_transform("
        f"string_split({_DK_NORM.format(c='text')}, ' '), "
        f"w -> {_dk_hex_int('md5(w)', 15)} "
        "% 1000000007), "
        "(acc, x) -> (acc * 31 + x) % 1000000007) AS rfp FROM documents"
    ),
}
