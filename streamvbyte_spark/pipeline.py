"""End-to-end training-data curation + encode pipeline.

The composed job a 100 TB corpus actually runs, in one declarative plan:

    raw documents
      -> exact dedup           (md5 hash-groupBy, keep min doc_id)
      -> quality gate          (length / stopword-ratio heuristics)
      -> tokenize              (JVM-side SQL, no Python)
      -> encode (auto codec)   (Arrow-batched, salted against source skew)
      -> write + lineage       (checkpoint-resumable commit log)

Everything before the encoder is built-in Catalyst operators (dedup is one
shuffle, the gate is a pushed filter); the encoder is the map-only
mapInArrow stage; the write is the bucketed lineage layout of
operators.lineage — so the whole pipeline is: scan -> shuffle(dedup) ->
filter -> UDF -> write, with AQE free to re-plan the one shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.sqlpair import spark_tokens_expr
from .operators.lineage import encode_with_checkpoint, lineage_metrics


def curate_documents(docs: DataFrame, min_words: int = 8,
                     max_stop_ratio: float = 0.9) -> DataFrame:
    """Dedup + quality-gate raw documents; returns the token table."""
    deduped = (docs
               .withColumn("_h", F.md5("text"))
               .withColumn("_rn", F.row_number().over(
                   Window.partitionBy("_h").orderBy("doc_id")))
               .where(F.col("_rn") == 1)
               .drop("_h", "_rn"))
    words = F.split(F.col("text"), " ")
    n_words = F.size(words)
    stop_ratio = F.size(F.filter(words, lambda w: w.isin(
        "the", "a", "of", "and", "to", "in", "is", "on", "for", "with"))) / n_words
    gated = deduped.where((n_words >= min_words) & (stop_ratio <= max_stop_ratio))
    # the token map is length-preserving: n_words IS the token count, so
    # the interpreted tokenizer lambda runs once per row, not twice
    return gated.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.expr(spark_tokens_expr("text")).alias("tokens"),
        n_words.alias("n_tok"),
        "source")


def curate_and_encode(spark: SparkSession, sf_dir: str, out_path: str,
                      n_buckets: int = 32) -> dict:
    """Full pipeline over the testdata documents table; resumable."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tok = curate_documents(docs)
    result = encode_with_checkpoint(tok, out_path, n_buckets=n_buckets)
    if not result.get("skipped"):
        m = lineage_metrics(spark, out_path).agg(
            F.sum("docs").alias("docs"),
            F.sum("in_bytes").alias("in_bytes"),
            F.sum("out_bytes").alias("out_bytes")).collect()[0]
        result.update(docs=m.docs, in_bytes=m.in_bytes, out_bytes=m.out_bytes,
                      ratio=round(m.out_bytes / m.in_bytes, 4))
    return result
