"""Benchmark decontamination: flag training documents that share word
n-grams with an evaluation/benchmark set.

The standard LLM-corpus hygiene pass (n-gram overlap decontamination):
before training, any document containing an n-gram that also appears in a
held-out benchmark is flagged (and typically dropped) so benchmark scores
measure generalization, not memorization.

Scale notes (the 100-TB plan):
- The eval side is always tiny relative to the training corpus (10^5 eval
  docs vs 10^12 train docs), so its distinct-gram table broadcasts and the
  train side never shuffles: explode grams -> broadcast hash join ->
  partial-agg count per doc.  ``broadcast_eval=False`` falls back to a
  shuffled equi-join on the 32-byte gram hash for oversized eval sets.
- The shuffle/broadcast payload carries md5 hashes + ids, never gram text.
- Per-doc gram sets are distinct (array_distinct inside word_ngrams_spark),
  so one train doc matching G eval grams emits exactly G join rows —
  no quadratic blowup on repeated grams.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from s2_geometry_library_java_spark.operators.dedup import (
    spread,
    word_ngrams_duck,
    word_ngrams_spark,
)


def ngram_contamination(
    train: DataFrame,
    evalset: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    broadcast_eval: bool = True,
) -> DataFrame:
    """One row per CONTAMINATED training doc: ``doc_id`` plus the distinct
    contaminated-gram count, total gram count, their ratio, and how many
    distinct eval docs it collides with.  Clean docs emit nothing, so the
    output is eval-set-sized work, not corpus-sized."""
    # n_grams rides along the explode so the per-doc size needs neither a
    # second scan of the training table nor a re-join at the end.
    tg = spread(train).select(
        F.col(id_col), F.expr(word_ngrams_spark(content_col)).alias("grams")
    )
    tposts = tg.select(
        F.col(id_col), F.size("grams").alias("n_grams"), F.explode("grams").alias("gram")
    ).select(F.col(id_col), "n_grams", F.md5("gram").alias("gh"))
    eposts = (
        evalset.select(F.col(id_col).alias("eval_id"), F.explode(F.expr(word_ngrams_spark(content_col))).alias("gram"))
        .select("eval_id", F.md5("gram").alias("gh"))
        .distinct()
    )
    if broadcast_eval:
        eposts = F.broadcast(eposts)
    hits = (
        tposts.join(eposts, "gh")
        .groupBy(id_col)
        .agg(
            F.countDistinct("gh").alias("n_hit_grams"),
            F.max("n_grams").alias("n_grams"),
            F.countDistinct("eval_id").alias("n_eval_docs"),
        )
    )
    return hits.withColumn(
        "contamination",
        F.round(F.col("n_hit_grams").cast("double") / F.col("n_grams").cast("double"), 9),
    ).select(id_col, "n_hit_grams", "n_grams", "contamination", "n_eval_docs")


def ngram_contamination_sql(
    train_where: str,
    eval_where: str,
    content_col: str = "text",
    id_col: str = "doc_id",
    table: str = "documents",
) -> str:
    """DuckDB twin of :func:`ngram_contamination` for a train/eval split of
    one table (``train_where`` / ``eval_where`` pick the halves)."""
    grams = word_ngrams_duck(content_col)
    return f"""
WITH tg AS (SELECT {id_col}, {grams} AS grams FROM {table} WHERE {train_where}),
 sizes AS (SELECT {id_col}, len(grams) AS n_grams FROM tg),
 tposts AS (SELECT {id_col}, md5(unnest(grams)) AS gh FROM tg),
 eposts AS (SELECT DISTINCT {id_col} AS eval_id, md5(unnest({grams})) AS gh
            FROM {table} WHERE {eval_where}),
 hits AS (SELECT t.{id_col},
                 count(DISTINCT t.gh) AS n_hit_grams,
                 count(DISTINCT e.eval_id) AS n_eval_docs
          FROM tposts t JOIN eposts e ON t.gh = e.gh GROUP BY t.{id_col})
SELECT h.{id_col}, h.n_hit_grams, s.n_grams,
       round(CAST(h.n_hit_grams AS DOUBLE) / CAST(s.n_grams AS DOUBLE), 9) AS contamination,
       h.n_eval_docs
FROM hits h JOIN sizes s USING ({id_col})
"""
