"""Token-table sources (the input_hint shape: doc_id, tokens, n_tok, source).

Three ways to obtain the canonical table:

* ``tokens_from_documents`` — derive token ids from the driver testdata
  ``documents`` table with the dialect-paired SQL tokenizer (exact DuckDB
  oracle possible).
* ``posting_lists`` — sorted posting lists from ``lineitem`` (delta-codec
  showcase; also exactly oracle-able).
* ``synthetic_tokens`` — deterministic distributed generator following
  FIXTURES.md (skewed sources, FIXTURES fixture families); used by bench and
  scale tests.  Generation happens inside ``mapInArrow`` partitions seeded by
  row id, so no driver-side materialization: the same code shape works at
  10^12 rows.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..arrow_rows import kernel_schema, list_array
from ..functions.sqlpair import spark_tokens_expr
from ..session import fanout_scan, fanout_width

# the token table's schema as a reader declares it (encode_stream's file
# source): elements nullable; synthetic_tokens declares its own output
# through arrow_rows.kernel_schema
TOKENS_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"


def tokens_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> canonical token table, tokens as a JVM-side SQL column.

    THE input for codec pipelines and JVM consumers, on measurement: at
    sf0.1 the SQL tokenizer feeding the encode kernel ran 0.27s vs 0.35s
    for the numpy tokenizer fused inside the encode kernel and ~0.52s for a
    standalone tokenize mapInArrow stage (two extra Arrow crossings of the
    4 B/token column), so the fused tokenize+encode path was removed.
    Spark's codegen'd string ops beat tokenize_rows' ~25 gather-heavy numpy
    passes at this corpus shape, and for JVM consumers (vocab explode,
    JSONL write) the tokens never cross a Python boundary at all — Catalyst
    even prunes the transform() away when only n_tok is read.  The fused
    tokenizer stays only where the OTHER work already lives Python-side
    (doc_simhash_text/doc_fingerprint_text).

    Plan rules:
    * n_tok = size(split(text)) — the token map is length-preserving, so
      the word count IS the token count; size(transform(...)) would
      evaluate the interpreted tokenizer lambda a SECOND time per row (no
      subexpression elimination fires for CodegenFallback lambdas).
    * the raw text rows fan out (session.fanout_scan) before the
      tokenizer projection, so the interpreted lambda and the codec kernels
      downstream run wide on a single-row-group scan."""
    docs = fanout_scan(spark.read.parquet(f"{sf_dir}/documents.parquet"),
                       "doc_id")
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.expr(spark_tokens_expr("text")).alias("tokens"),
        F.size(F.split(F.col("text"), " ", -1)).alias("n_tok"),
        F.col("source").alias("source"),
    )


def posting_lists(spark: SparkSession, sf_dir: str,
                  string_key: bool = False) -> DataFrame:
    """Sorted l_orderkey posting list per part — ascending ints, the classic
    delta-codec input (reference README.md:54 documents delta for sorted
    data).

    string_key=True groups directly on the STRING-cast key: downstream
    operators of the CHUNKED pipelines (the chunk-prev window, the fused
    reassembly) partition on ``doc_id``, and grouping on the bigint then
    casting breaks Catalyst's partitioning equivalence —
    hashpartitioning(cast(l_partkey)) is not hashpartitioning(doc_id) to the
    planner, which re-shuffled those pipelines (3 exchanges; this form plans
    2, plan-tested).

    The default groups on the native BIGINT key and casts AFTER the agg:
    the string-key groupBy costs ~1.8x more (A/B at sf0.1: 0.53 s bigint vs
    0.97 s string — string hashing + comparison on the shuffle key), and
    FLAT consumers (encode/size tables are map-only) never reuse the
    partitioning, so they shouldn't pay for it."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    key = F.col("l_partkey").cast("string") if string_key else F.col("l_partkey")
    # explicit numbered repartition on the GROUP key before the aggregate:
    # the groupBy reuses this partitioning (one exchange either way,
    # plan-verified), but the heavy collect_list now runs wide
    # on the reduce side instead of as a map-side partial over however few
    # tasks the scan yields (6 row groups here) — partial aggregation wins
    # nothing for collect_list (lists don't combine smaller), so skipping
    # the narrow partial stage is pure gain: 0.88 -> 0.65 s (bigint) /
    # 1.44 -> 1.21 s (string) measured at sf1.0.
    grouped = (
        li.select(key.alias("doc_id"), "l_orderkey")
        .repartition(fanout_width(spark), "doc_id")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("l_orderkey")).alias("tokens"))
    )
    doc_id = F.col("doc_id") if string_key else F.col("doc_id").cast("string")
    return grouped.select(
        doc_id.alias("doc_id"),
        F.col("tokens").cast("array<int>").alias("tokens"),
        F.size("tokens").alias("n_tok"),
        F.lit("lineitem").alias("source"),
    )


# ------------------------------------------------------- synthetic generator

def _gen_rows(doc_ids: np.ndarray, seed: int, avg_len: int):
    """Deterministic per-doc token arrays; family round-robin per FIXTURES.md."""
    arrays = []
    sources = []
    for i in doc_ids:
        rng = np.random.default_rng((seed, int(i)))
        fam = int(i) % 5
        n = int(rng.integers(avg_len // 2, avg_len * 2))
        if fam == 0:  # token_zipf: realistic LLM token ids
            a = (rng.zipf(1.1, size=n) % 50257).astype(np.uint32)
        elif fam == 1:  # rand_shifted: perf.c distribution (1-4 byte mix)
            r = rng.integers(0, 2**31, size=n, dtype=np.uint64)
            a = (r >> (rng.integers(0, 32, size=n, dtype=np.uint64))).astype(np.uint32)
        elif fam == 2:  # near_sorted_gap
            gap = 3 ** int(rng.integers(0, 12))
            a = np.cumsum(rng.integers(0, 8, size=n, dtype=np.uint64) + gap - 1).astype(np.uint32)
        elif fam == 3:  # zero_heavy
            a = np.where(rng.random(n) < 0.7, 0, rng.integers(0, 50257, n)).astype(np.uint32)
        else:  # small domain / runs
            a = np.repeat(rng.integers(0, 30, size=max(n // 6, 1)), 6)[:n].astype(np.uint32)
        arrays.append(a.astype(np.int32))
        u = rng.random()
        sources.append("web" if u < 0.8 else ("code" if u < 0.95 else "rare"))
    return arrays, sources


def synthetic_tokens(spark: SparkSession, n_docs: int, avg_len: int = 256,
                     seed: int = 42, partitions: int | None = None) -> DataFrame:
    """Distributed deterministic token table: web 80% / code 15% / rare 5%."""
    base = spark.range(0, n_docs, numPartitions=partitions)

    def gen(batches):
        for batch in batches:
            ids = batch.column("id").to_numpy()
            arrays, sources = _gen_rows(ids, seed, avg_len)
            lens = np.array([a.size for a in arrays], dtype=np.int64)
            offsets = np.concatenate([[0], np.cumsum(lens)])
            flat = (np.concatenate(arrays) if arrays else np.zeros(0, np.int32))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([f"doc{int(i):010d}" for i in ids], pa.string()),
                    list_array(flat, offsets),
                    pa.array(lens, pa.int32()),
                    pa.array(sources, pa.string()),
                ],
                names=["doc_id", "tokens", "n_tok", "source"],
            )

    return base.mapInArrow(gen, kernel_schema(TOKENS_SCHEMA))


def tokens_from_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Canonical token table from JSON-Lines files with the input_hint shape
    (``{"doc_id": ..., "tokens": [...], "source": ...}`` per line) — the
    interchange format training-data pipelines commonly stage in.  An
    explicit schema keeps the reader single-pass (no sampling inference
    job) and makes malformed rows fail loudly via columnNameOfCorruptRecord
    being absent (FAILFAST)."""
    schema = "doc_id string, tokens array<int>, source string"
    df = spark.read.schema(schema).option("mode", "FAILFAST").json(path)
    # FAILFAST only rejects syntactically bad JSON; a valid line MISSING the
    # tokens key would otherwise flow through as tokens=NULL with n_tok=-1
    # (size(NULL)) and poison downstream aggregates — reject it here
    checked = F.when(
        F.col("tokens").isNull(),
        F.raise_error(F.concat(F.lit("jsonl row missing tokens: doc_id="),
                               F.col("doc_id")))
    ).otherwise(F.col("tokens"))
    return df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        checked.alias("tokens"),
        F.size(checked).alias("n_tok"),
        F.coalesce(F.col("source"), F.lit("unknown")).alias("source"),
    )


def write_tokens_jsonl(df: DataFrame, path: str) -> None:
    """Inverse of tokens_from_jsonl (n_tok is derived, not stored)."""
    df.select("doc_id", "tokens", "source").write.mode("overwrite").json(path)


def tokens_from_orc(spark: SparkSession, path: str) -> DataFrame:
    """Canonical token table from ORC files — the columnar staging sibling
    of the JSONL reader (ORC ships in Spark: schema stored in the file,
    column pruning and predicate pushdown as with parquet).  NULL token
    arrays are rejected like everywhere else in the engine (no defined
    round trip)."""
    df = spark.read.orc(path)
    checked = F.when(
        F.col("tokens").isNull(),
        F.raise_error(F.concat(F.lit("orc row missing tokens: doc_id="),
                               F.col("doc_id")))
    ).otherwise(F.col("tokens"))
    return df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        checked.cast("array<int>").alias("tokens"),
        F.size(checked).alias("n_tok"),
        F.coalesce(F.col("source"), F.lit("unknown")).alias("source"),
    )


def write_tokens_orc(df: DataFrame, path: str) -> None:
    """Inverse of tokens_from_orc (n_tok is derived, not stored)."""
    df.select("doc_id", "tokens", "source").write.mode("overwrite").orc(path)


def tokens_from_csv(spark: SparkSession, path: str) -> DataFrame:
    """Canonical token table from header'd CSV with the token ids as ONE
    space-delimited column — the delimited-text staging sibling of the
    JSONL reader (CSV cannot carry arrays natively; the space join is the
    same representation the tokenizer's word stream uses).  Explicit
    schema + FAILFAST keeps the read single-pass and loud; a NULL token
    string (CSV's empty-field ambiguity — the writer never emits one,
    since documents-derived docs always hold >= 1 token) is rejected like
    every other staging reader: no defined round trip."""
    schema = "doc_id string, toks string, source string"
    df = (spark.read.schema(schema).option("header", True)
          .option("mode", "FAILFAST").csv(path))
    checked = F.when(
        F.col("toks").isNull(),
        F.raise_error(F.concat(F.lit("csv row missing tokens: doc_id="),
                               F.col("doc_id")))
    ).otherwise(F.col("toks"))
    staged = df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        checked.alias("toks"),
        F.coalesce(F.col("source"), F.lit("unknown")).alias("source"))
    # FAILFAST only covers the CSV layer (the column is READ as a string);
    # the element cast decides what a non-numeric token does — silent NULL
    # element under non-ANSI mode (corrupting downstream folds far from the
    # read), a generic CAST_INVALID_INPUT without the row under ANSI.  The
    # exists(try_cast) guard keeps the reader's loud-failure contract in
    # BOTH modes: any malformed token raises WITH the offending row.
    # exists() is an interpreted HOF, but this is a staging reader (one
    # pass per corpus), not a codec hot path.
    guard = "exists(split(toks, ' '), x -> try_cast(x as int) is null)"
    err = ("cast(raise_error(concat('csv non-integer token: doc_id=', "
           "doc_id, ' toks=', toks)) as {t})")
    tokens = F.expr(
        f"case when {guard} then {err.format(t='array<int>')} "
        "else cast(split(toks, ' ') as array<int>) end")
    # n_tok carries the SAME guard: Catalyst column-prunes, so a plan that
    # reads only n_tok (a manifest/totals branch) never evaluates the
    # tokens expression — an unguarded size(split()) would silently COUNT
    # malformed tokens there, voiding the reader's loud-failure contract
    # under pruning.  When both columns are read the
    # interpreted exists() runs twice; this is a one-pass staging reader,
    # not a codec hot path.
    n_tok = F.expr(
        f"case when {guard} then {err.format(t='int')} "
        "else size(split(toks, ' ')) end")
    return staged.select(
        "doc_id",
        tokens.alias("tokens"),
        n_tok.alias("n_tok"),
        "source",
    )


def write_tokens_csv(df: DataFrame, path: str) -> None:
    """Inverse of tokens_from_csv: token ids space-joined into one column
    (n_tok derived, not stored)."""
    (df.select("doc_id",
               F.concat_ws(" ", F.col("tokens").cast("array<string>"))
               .alias("toks"),
               "source")
     .write.mode("overwrite").option("header", True).csv(path))
