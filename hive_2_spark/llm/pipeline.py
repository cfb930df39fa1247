"""Composed training-data pipeline operators.

The individual curation/dedup/quality ops (llm/curation.py, llm/dedup.py,
llm/text.py, llm/advanced.py) are the stages a real corpus pipeline
chains; these keys exercise the CHAINING itself:

- ``curation_funnel``: the end-to-end raw-crawl -> training-set funnel
  with per-stage survivor counts — language filter, quality gate, exact
  dedup, near-dup cluster dedup, benchmark decontamination, train
  split. Every stage reuses the exact semantics of its standalone
  operator (same normalizers, same hash rules), so the funnel is also a
  consistency check across the ops it composes. The output is the
  shape every pipeline report starts from: stage, docs surviving.
- ``dedup_clusters_semantic``: connected components over the
  EMBEDDING-cosine near-dup pairs (``llm.advanced.dedup_embedding``) —
  the vector-space analogue of ``dedup_clusters_lsh``: sign-LSH banded
  candidates, exact cosine verification, then fixpoint label
  propagation (``_cc_converge``). This is semantic dedup: near-dup
  GROUPS whose members aren't textual twins at all.

Scale: the funnel adds nothing beyond its constituent stages — each is
one scan + hash-keyed shuffle (fingerprints, grams, cluster labels; the
document text never crosses the wire after its local explode). The
per-stage counts union six 1-row aggregates into one plan. Semantic
clusters inherit the banded-candidate bound from dedup_embedding and
the O(diameter)-round convergence loop from _cc_converge.

No reference counterpart (the reference is the Kohana "Hive" PHP ORM —
classes/hive/model.php); this is driver-mandated Layer-B breadth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_2_spark.catalog import load_table
from hive_2_spark.llm.advanced import ORACLES as _ADV_ORACLES
from hive_2_spark.llm.advanced import (
    _DK_COMPONENTS,
    _cc_converge,
    dedup_clusters,
)
from hive_2_spark.llm.curation import _GRAM_N
from hive_2_spark.llm.dedup import (
    _DK_CORPUS,
    _DK_NORM,
    _NORM,
    _dk_neardup_pairs,
    _dk_pairs,
    corpus_with_dups,
)
from hive_2_spark.llm.text import quality_score

# twin ids are seed + 10M/20M (llm/dedup.corpus_with_dups); seed_id
# recovers the original doc for decisions made on the base table
_TWIN_MOD = 10_000_000


def _grams(df: DataFrame) -> DataFrame:
    """(doc_id, gram) for every 5-word shingle (curation._shingles
    semantics, minus the source column the synthesized corpus lacks)."""
    words = F.split(F.col("text"), " ")
    starts = F.sequence(F.lit(1), F.size(words) - (_GRAM_N - 1))
    grams = F.transform(
        starts, lambda i: F.array_join(F.slice(words, i, _GRAM_N), " ")
    )
    return df.filter(F.size(words) >= _GRAM_N).select(
        "doc_id", F.explode(grams).alias("gram")
    )


def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage survivor counts for the full curation pipeline.

    Stages (each applied to the previous stage's survivors; the dedup /
    contamination SETS are computed corpus-wide, as the standalone ops
    do, then subtracted in sequence):

    1. ingest        — corpus_with_dups (documents + synthesized twins)
    2. lang_en       — keep lang = 'en'
    3. quality       — keep docs whose SEED doc passes quality_score
                       (twins inherit their seed's decision)
    4. exact_dedup   — keep the min doc_id per normalized-content md5
    5. near_dedup    — keep each dedup_clusters component's min doc_id
    6. decontaminated— drop eval-seeded docs (seed % 97 = 0) and any doc
                       sharing a 5-gram with the eval set
    7. train         — content-hash split: md5(text) first hex not 0/1

    Output: stage_idx, stage, n_docs (7 rows).
    """
    corpus = corpus_with_dups(spark, sf_dir)
    seed_id = F.col("doc_id") % _TWIN_MOD

    # Stage SETS are monotone (each stage filters the previous), so the
    # seven counts are computed in ONE pass: left-join each decision set
    # once (every right side is unique per key — quality_score is one
    # row per doc, exact_keep is one min per fp group, dedup_clusters is
    # one row per doc, contaminated is DISTINCT — so no join fan-out),
    # then a single aggregate over conjunctions of membership flags.
    # The previous shape unioned 7 count branches whose plans each
    # recomputed the full stage prefix — quality_score 5x, the corpus
    # scan 7x, contamination 2x (guide §1.2: remove redundant passes).
    q_keep = quality_score(spark, sf_dir).filter(F.col("keep")).select(
        F.col("doc_id").alias("qid")
    )
    fp = F.md5(_NORM(F.col("text")))
    exact_keep = (
        corpus.select("doc_id", fp.alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", F.lit(True).alias("ek"))
    )
    nd_losers = (
        dedup_clusters(spark, sf_dir)
        .filter(F.col("doc_id") != F.col("cluster"))
        .select("doc_id", F.lit(True).alias("nl"))
    )
    d = load_table(spark, sf_dir, "documents")
    eval_grams = (
        _grams(d.filter(F.col("doc_id") % 97 == 0)).select("gram").distinct()
    )
    contaminated = (
        _grams(corpus)
        .join(F.broadcast(eval_grams), "gram", "left_semi")
        .select("doc_id")
        .distinct()
        .select("doc_id", F.lit(True).alias("cm"))
    )
    flagged = (
        corpus.join(q_keep, seed_id == F.col("qid"), "left")
        .join(exact_keep, "doc_id", "left")
        .join(nd_losers, "doc_id", "left")
        .join(contaminated, "doc_id", "left")
    )
    s2 = F.col("lang") == "en"
    s3 = s2 & F.col("qid").isNotNull()
    s4 = s3 & F.col("ek").isNotNull()
    s5 = s4 & F.col("nl").isNull()
    s6 = s5 & (seed_id % 97 != 0) & F.col("cm").isNull()
    s7 = s6 & ~F.substring(F.md5("text"), 1, 1).isin("0", "1")

    def cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    one = flagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n1"),
        cnt(s2).alias("n2"),
        cnt(s3).alias("n3"),
        cnt(s4).alias("n4"),
        cnt(s5).alias("n5"),
        cnt(s6).alias("n6"),
        cnt(s7).alias("n7"),
    )
    names = [
        "01_ingest",
        "02_lang_en",
        "03_quality",
        "04_exact_dedup",
        "05_near_dedup",
        "06_decontaminated",
        "07_train",
    ]
    return one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i + 1).alias("stage_idx"),
                        F.lit(name).alias("stage"),
                        F.col(f"n{i + 1}").alias("n_docs"),
                    )
                    for i, name in enumerate(names)
                ]
            )
        ).alias("r")
    ).select("r.stage_idx", "r.stage", "r.n_docs")


def dedup_clusters_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over embedding-cosine near-dup pairs.

    Composes ``dedup_embedding`` (sign-LSH banded candidates + exact
    cosine >= 0.95) with fixpoint min-label propagation. Output:
    (vec_id, cluster) — cluster = min vec_id of the component.
    """
    from hive_2_spark.llm.advanced import dedup_embedding

    pairs = (
        dedup_embedding(spark, sf_dir).select("a_id", "b_id").localCheckpoint()
    )
    edges = pairs.unionByName(
        pairs.select(F.col("b_id").alias("a_id"), F.col("a_id").alias("b_id"))
    ).localCheckpoint()
    labels, _ = _cc_converge(edges)
    return labels.select(
        F.col("node").alias("vec_id"), F.col("label").alias("cluster")
    )


QUERIES = {
    "curation_funnel": curation_funnel,
    "dedup_clusters_semantic": dedup_clusters_semantic,
}


def _semantic_clusters_sql() -> str:
    """Exact components over dedup_embedding's own pair oracle."""
    return (
        f"WITH RECURSIVE {_dk_pairs(_ADV_ORACLES['dedup_embedding'])}, "
        f"{_DK_COMPONENTS} SELECT doc_id AS vec_id, cluster FROM cl"
    )


# quality keep, mirrored from llm/text.py's quality_score oracle (same
# thresholds, same IEEE double adds — that oracle hash-matches, so this
# fragment is cross-engine safe); the stop-hit counter is IMPORTED so
# the two can never drift
from hive_2_spark.llm.text import _DK_STOP_HITS  # noqa: E402

_DK_QKEEP = (
    "(CASE WHEN n_chars BETWEEN 100 AND 1000 THEN 0.4 ELSE 0.0 END) + "
    f"(CASE WHEN CAST({_DK_STOP_HITS} AS DOUBLE) / "
    "GREATEST(len(regexp_split_to_array(TRIM(text), '\\s+')), 1) > 0.05 "
    "THEN 0.3 ELSE 0.0 END) + "
    "(CASE WHEN CAST(LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) "
    "AS DOUBLE) / GREATEST(LENGTH(text), 1) > 0.6 "
    "THEN 0.3 ELSE 0.0 END) >= 0.7"
)

_DK_GRAMS = (
    "SELECT doc_id, unnest(list_transform(range(1, len(ws) - 3), "
    "i -> array_to_string(ws[i:i+4], ' '))) AS gram "
    "FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM {src}) "
    "WHERE len(ws) >= 5"
)


def _funnel_sql() -> str:
    # the corpus, near-dup components and normalizer are the dedup
    # family's own oracle definitions
    return (
        f"WITH RECURSIVE {_dk_neardup_pairs()}, {_DK_COMPONENTS}, "
        f"corpus AS ({_DK_CORPUS}), "
        "nd_losers AS (SELECT doc_id FROM cl WHERE doc_id != cluster), "
        f"qk AS (SELECT doc_id FROM documents WHERE {_DK_QKEEP}), "
        "s2 AS (SELECT * FROM corpus WHERE lang = 'en'), "
        f"s3 AS (SELECT * FROM s2 WHERE doc_id % {_TWIN_MOD} IN "
        "(SELECT doc_id FROM qk)), "
        "exact_keep AS (SELECT MIN(doc_id) AS doc_id FROM corpus "
        f"GROUP BY md5({_DK_NORM.format(c='text')})), "
        "s4 AS (SELECT * FROM s3 WHERE doc_id IN "
        "(SELECT doc_id FROM exact_keep)), "
        "s5 AS (SELECT * FROM s4 WHERE doc_id NOT IN "
        "(SELECT doc_id FROM nd_losers)), "
        "evalg AS (SELECT DISTINCT gram FROM ("
        + _DK_GRAMS.format(src="documents WHERE doc_id % 97 = 0")
        + ")), "
        "contam AS (SELECT DISTINCT doc_id FROM ("
        + _DK_GRAMS.format(src="corpus")
        + ") g JOIN evalg USING (gram)), "
        f"s6 AS (SELECT * FROM s5 WHERE doc_id % {_TWIN_MOD} % 97 != 0 "
        "AND doc_id NOT IN (SELECT doc_id FROM contam)), "
        "s7 AS (SELECT * FROM s6 WHERE substr(md5(text), 1, 1) "
        "NOT IN ('0', '1')) "
        "SELECT * FROM ("
        "SELECT 1 AS stage_idx, '01_ingest' AS stage, "
        "CAST(COUNT(*) AS BIGINT) AS n_docs FROM corpus "
        "UNION ALL SELECT 2, '02_lang_en', COUNT(*) FROM s2 "
        "UNION ALL SELECT 3, '03_quality', COUNT(*) FROM s3 "
        "UNION ALL SELECT 4, '04_exact_dedup', COUNT(*) FROM s4 "
        "UNION ALL SELECT 5, '05_near_dedup', COUNT(*) FROM s5 "
        "UNION ALL SELECT 6, '06_decontaminated', COUNT(*) FROM s6 "
        "UNION ALL SELECT 7, '07_train', COUNT(*) FROM s7)"
    )


ORACLES = {
    "curation_funnel": _funnel_sql(),
    "dedup_clusters_semantic": _semantic_clusters_sql(),
}
