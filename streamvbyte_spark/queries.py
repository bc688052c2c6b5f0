"""Driver-contract query registry: Spark queries + exact DuckDB oracles.

Every implemented operator from SURVEY.md §2 gets a ``(spark, sf_dir) ->
DataFrame`` callable here and (where SQL-expressible) a DuckDB oracle string.
Round-trip queries have identity oracles (decode(encode(x)) == x makes the
oracle an exact ``SELECT``); size queries use the reference size formulas
(/root/reference/src/streamvbyte_encode.c:74,85,91-108) rendered as DuckDB
list lambdas; the auto-selector oracle is ``least()`` over every candidate's
formula.  Column names are aliased identically on both sides (the driver's
compare hashes values under sorted column names).
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .arrow_rows import binary_flat, kernel_schema, list_array, list_flat
from .codec import batched
from .functions import pipeline_sql
from .functions.sqlpair import (
    duckdb_size_svb,
    duckdb_size_svb0124,
    duckdb_tokens_expr,
    spark_tokens_expr,
)
from .operators import decode_table, encode_table, size_table
# release_stage is re-exported: harnesses tear a query's stages down here
from .operators.staging import (release_stage,  # noqa: F401
                                stage_generation, stage_views)
from .session import fanout_scan
from .sources import posting_lists, tokens_from_documents

# ---------------------------------------------------------------------------
# DuckDB SQL fragments (oracle side)
# ---------------------------------------------------------------------------

# documents-derived token table as a DuckDB subquery (identical to
# sources.tokens_from_documents on the Spark side)
DOC_TOKENS_SQL = (
    "select cast(doc_id as varchar) as doc_id, "
    f"{duckdb_tokens_expr('text')} as tokens, "
    f"cast(len({duckdb_tokens_expr('text')}) as int) as n_tok, "
    "source from documents"
)

# sorted posting lists per part (delta showcase)
POSTING_SQL = (
    "select cast(l_partkey as varchar) as doc_id, "
    "list(l_orderkey order by l_orderkey) as tokens, "
    "cast(count(*) as int) as n_tok, 'lineitem' as source "
    "from lineitem group by l_partkey"
)

# the LOGICAL inverted index over documents: term -> sorted distinct doc-id
# posting list (operators/index.term_postings is the Spark twin; tokenizer
# parity with pipeline_sql.Dialect.split — single-space split, empties
# dropped).  The oracle for every index_* query: the chunked scale build
# must reproduce exactly these lists.
TERM_POSTING_SQL = (
    "select term as doc_id, list(did order by did) as tokens, "
    "cast(count(*) as int) as n_tok, 'documents' as source from "
    "(select distinct term, did from "
    "(select unnest(string_split(text, ' ')) as term, "
    "cast(doc_id as int) as did from documents)) w "
    "where term != '' group by term"
)


def _bits(expr: str) -> str:
    """Exact bit_length in DuckDB (length of the binary string, no padding)."""
    return f"(case when {expr} = 0 then 0 else length(bin(({expr})::uint32)) end)"


def duckdb_size_bitpack(t: str, n: str) -> str:
    w = _bits(f"list_max({t})")
    return f"(case when {n} = 0 then 0 else 1 + ({n} * {w} + 7) // 8 end)::bigint"


def duckdb_size_for(t: str, n: str) -> str:
    w = _bits(f"list_max({t}) - list_min({t})")
    return f"(case when {n} = 0 then 0 else 5 + ({n} * {w} + 7) // 8 end)::bigint"


def duckdb_size_dict(t: str, n: str) -> str:
    k = f"len(list_distinct({t}))"
    w = _bits(f"({k} - 1)")
    return (f"(case when {n} = 0 then 0 else "
            f"4 + 4 * {k} + ({n} * {w} + 7) // 8 end)::bigint")


def duckdb_size_svb_delta_wrap(t: str, n: str) -> str:
    """Exact svb_delta (prev=0) size with uint32 wraparound differences:
    d_i = (t[i] - t[i-1] + 2^32) % 2^32 in BIGINT (|diff| < 2^32 so one
    modulus suffices) — matches src/streamvbytedelta_encode.c:54-55 for any
    input, sorted or not."""
    d = f"((cast({t}[i] as bigint) - cast(coalesce({t}[i-1], 0) as bigint) + 4294967296) % 4294967296)"
    return (
        f"case when {n} = 0 then 0 else "
        f"cast(({n} + 3) // 4 as bigint) + "
        f"cast(list_sum(list_transform(range(1, {n} + 1), i -> "
        f"1 + ({d} > 255)::int + ({d} > 65535)::int + ({d} > 16777215)::int)) as bigint) end"
    )


def duckdb_size_ef(t: str, n: str) -> str:
    """Exact Elias-Fano size (batched.ef_encode_rows layout: 1B L +
    ceil(n*L/8) low bytes + ceil((n + (u >> L))/8) unary bytes, with
    u = last value of the SORTED list and L = floor(log2(u // n))
    clamped at 0 — the integer-division form batched._ef_params_rows
    uses)."""
    u = f"cast({t}[{n}] as bigint)"
    q = f"({u} // {n})"
    lb = f"(case when {q} >= 1 then length(bin({q})) - 1 else 0 end)"
    return (f"case when {n} = 0 then 0 else "
            f"cast(1 + ({n} * {lb} + 7) // 8 "
            f"+ ({n} + ({u} >> {lb}) + 7) // 8 as bigint) end")


def duckdb_size_rle(t: str, n: str) -> str:
    """RLE layout cost: 8 + svb(run values) + svb(run lengths); runs via
    list_filter on change points."""
    starts = f"list_filter(range(1, {n} + 1), i -> i = 1 or {t}[i] != {t}[i-1])"
    rv = f"list_transform({starts}, i -> {t}[i])"
    nruns = f"len({starts})"
    rl = (f"list_transform(range(1, {nruns} + 1), "
          f"j -> coalesce(({starts})[j+1], {n} + 1) - ({starts})[j])")
    return (f"case when {n} = 0 then 0 else "
            f"8 + {duckdb_size_svb(rv, nruns)} + {duckdb_size_svb(rl, nruns)} end")


def duckdb_size_auto(t: str, n: str) -> str:
    """Auto-selector oracle: least over every vectorized candidate's exact
    size formula (= argmin the batched selector computes)."""
    return "least({})".format(", ".join([
        duckdb_size_svb(t, n),
        duckdb_size_svb0124(t, n),
        duckdb_size_svb_delta_wrap(t, n),
        duckdb_size_bitpack(t, n),
        duckdb_size_for(t, n),
        duckdb_size_dict(t, n),
        duckdb_size_rle(t, n),
    ]))


def duckdb_size_auto_sorted(t: str, n: str) -> str:
    """auto_sorted selector oracle: least over the 7 standard formulas plus
    Elias-Fano GATED on per-row sortedness (EF is only defined on
    non-decreasing rows) — the exact mirror of batched.size_rows'
    auto_sorted mode, whose ef candidate competes only on sorted rows.
    Unsorted rows see int64-max for the EF term, so the least() ignores
    it."""
    gated_ef = (f"(case when {t} = list_sort({t}) then {duckdb_size_ef(t, n)} "
                f"else 9223372036854775807 end)")
    return f"least({duckdb_size_auto(t, n)}, {gated_ef})"


def duckdb_size_fsst_nocap(t: str, n: str) -> str:
    """Exact fsst cost (batched.py FSST layout: 1B k + 2k B table +
    ceil(m/8)B escape bitmap + 1B/hit + 2B/escape over m = 2n byte pairs)
    VALID when no row has more than 255 distinct pairs with count >= 3 —
    guaranteed by the auto_full queries' 64-pair-alphabet token mapping
    (FSST_MIX below), where the 255 cap never binds and hit volume is just
    the total count of pairs appearing >= 3 times."""
    p = (f"flatten(list_transform({t}, v -> "
         f"[cast(v as bigint) % 65536, cast(v as bigint) // 65536]))")
    cnts = (f"list_transform(list_distinct({p}), "
            f"u -> len(list_filter({p}, x -> x = u)))")
    elig = f"list_filter({cnts}, c -> c >= 3)"
    return (f"(case when {n} = 0 then 0 else "
            f"1 + 2 * len({elig}) + (2 * {n} + 7) // 8 "
            f"+ coalesce(list_sum({elig}), 0) "
            f"+ 2 * (2 * {n} - coalesce(list_sum({elig}), 0)) end)::bigint")


def duckdb_size_auto_full(t: str, n: str) -> str:
    """least over all 8 candidates including fsst (the auto_full mode)."""
    return (f"least({duckdb_size_auto(t, n)}, "
            f"{duckdb_size_fsst_nocap(t, n)})")


# fsst-favorable deterministic token mapping (both dialects): values are
# mostly DISTINCT (32x32 high/low combinations kill dict) and >= 2^30 (kill
# svb/bitpack/for), but each 16-bit byte PAIR comes from a 64-value alphabet
# with per-row counts >= 3 — the regime where a symbol table on byte pairs
# beats every positional codec.  Short rows still pick 'for', so the
# auto_full selection is genuinely mixed and the least() oracle checks the
# whole argmin, not one winner.
FSST_MIX_SPARK = ("transform(tokens, t -> (16384 + (t % 32) * 256) * 65536 "
                  "+ ((t div 97) % 32) * 33 + 1)")
FSST_MIX_DUCK = ("list_transform(tokens, t -> (16384 + (t % 32) * 256) * 65536 "
                 "+ ((t // 97) % 32) * 33 + 1)")


# quantized-embedding signed token list (zigzag showcase); floor() semantics
# match between Spark and DuckDB
EMB_TOKENS_DUCK = "list_transform(embedding, x -> cast(floor(cast(x as double) * 10000) as int))"
EMB_TOKENS_SPARK = "transform(embedding, x -> cast(floor(cast(x as double) * 10000) as int))"


# ---------------------------------------------------------------------------
# round-trip fingerprint (both dialects)
#
# The driver canonicalizes result rows with pandas sort/hash, so result
# columns must be scalar (array<int> dies on `unhashable type: list`).
# Round-trip identity is therefore proven through an exact BIGINT polynomial
# fold over the token values — computed from the DECODED tokens on the Spark
# side and the ORIGINAL tokens on the DuckDB side, alongside n_tok.  The fold
# is normalized to [0, p) so signed (zigzag) token values hash identically in
# both engines' remainder semantics.
#
# Spark-side evaluation: the decode kernels fold the decoded flat vector
# in-kernel (codec.batched.fingerprint_rows — fingerprint=True modes of
# decode_table / decode_table_prefix / decode_reassemble_fused /
# _signed_roundtrip), and JVM-produced token columns go through the
# doc_fingerprint pandas UDF.  The spark_fingerprint() SQL text below is the
# REFERENCE form the kernel must match (tests assert parity); the DuckDB
# oracle renders the same fold via duckdb_fingerprint().
# ---------------------------------------------------------------------------

_FP_BODY = "((acc * 31 + t) % 1000000007 + 1000000007) % 1000000007"

# truncation cut shared by the chunked_truncate_decode query AND its oracle
# (chunk_size 8 -> the cut falls mid-chunk, exercising the delta prefix path)
TRUNCATE_MAX_LEN = 20


def spark_fingerprint(col: str = "tokens") -> str:
    return f"aggregate({col}, cast(0 as bigint), (acc, t) -> {_FP_BODY})"


def duckdb_fingerprint(col: str = "tokens") -> str:
    return (f"list_reduce(list_prepend(cast(0 as bigint), "
            f"list_transform({col}, t -> cast(t as bigint))), "
            f"(acc, t) -> {_FP_BODY})")


# ---------------------------------------------------------------------------
# Spark-side helpers
# ---------------------------------------------------------------------------

def _signed_roundtrip(df: DataFrame, id_col: str, delta: bool,
                      fingerprint: bool = False) -> DataFrame:
    """Encode int32 arrays as svb_zigzag / svb_zz_delta streams, decode back.

    fingerprint=True folds the decoded SIGNED values to the driver-gate
    scalar in-kernel (batched.fingerprint_rows) — no interpreted
    aggregate() pass, no token column crossing back to the JVM."""
    codec = "svb_zz_delta" if delta else "svb_zigzag"

    def run(batches):
        for batch in batches:
            flat, offsets = list_flat(
                batch.column(batch.schema.get_field_index("tokens")))
            enc, eoff = batched.encode_signed_rows(flat, offsets, delta=delta)
            n_toks = offsets[1:] - offsets[:-1]
            dec_flat, dec_off = batched.decode_signed_rows(enc, eoff, n_toks, delta=delta)
            ident = batch.column(batch.schema.get_field_index(id_col))
            if fingerprint:
                fp = batched.fingerprint_rows(dec_flat, dec_off)
                nr = (dec_off[1:] - dec_off[:-1]).astype(np.int32)
                yield pa.RecordBatch.from_arrays(
                    [ident, pa.array(nr, pa.int32()),
                     pa.array(fp, pa.int64())],
                    names=[id_col, "n_tok", "fingerprint"])
                continue
            yield pa.RecordBatch.from_arrays(
                [ident, list_array(dec_flat, dec_off)],
                names=[id_col, "tokens"])

    return df.mapInArrow(run, kernel_schema(
        f"{id_col} string, n_tok int, fingerprint bigint" if fingerprint
        else f"{id_col} string, tokens array<int>"))


def _encoded(spark: SparkSession, sf_dir: str, codec: str,
             source: str = "documents") -> DataFrame:
    # JVM-side SQL tokenizer feeding the encode kernel: measured FASTER
    # than fusing the numpy tokenizer into the kernel at this corpus shape
    # (0.27s vs 0.35s encode at sf0.1 — Spark's codegen'd string ops beat
    # the kernel's ~25 gather-heavy passes; see text_udfs.tokenize_rows)
    base = _token_source(spark, sf_dir, source)
    return encode_table(base, codec=codec)


def _token_source(spark: SparkSession, sf_dir: str, source: str) -> DataFrame:
    if source == "documents":
        return tokens_from_documents(spark, sf_dir)
    if source == "terms":
        from .operators.index import term_postings
        return term_postings(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    return posting_lists(spark, sf_dir)


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

def _string_bucket_expr(spark) -> str:
    """Monotone string-prefix bucket for NON-NUMERIC doc_ids, prefix length
    derived from the data: longest common prefix of the min and max doc_id
    (== the common prefix of ALL ids under the lexicographic order both
    engines use) + 2 characters.  A FIXED 2-char prefix silently collapses
    uniform-prefix corpora (``doc0000001``, ...) into ONE bucket,
    degenerating the two-level prefix sum back into the single-task funnel
    it exists to avoid — and correctness is unaffected,
    so no gate would ever catch it.  LCP+1 already guarantees >= 2 distinct
    buckets whenever two distinct ids exist (the ids differ at position
    LCP+1); +2 adds fan-out.  Cost: one column-pruned min/max scan of doc_id
    at build time (map-side partial agg, two strings back to the driver).
    Reads the registered ``documents`` temp view.  The prefix-length policy
    itself is shared with the encoded pack operator
    (pipeline_sql.lcp_prefix_len)."""
    from .functions.pipeline_sql import lcp_prefix_len
    row = spark.sql("select min(cast(doc_id as string)) as lo, "
                    "max(cast(doc_id as string)) as hi from documents").first()
    n = lcp_prefix_len(row["lo"], row["hi"])
    return f"substring(cast(doc_id as string), 1, {n})"


# the scan fan-out key of each table the SQL queries read; the TPC-H tables
# register plain
_FANOUT_KEYS = {"documents": "doc_id", "events": "user_id",
                "embeddings": "vec_id"}


def _register_tables(spark, sf_dir, *tables):
    """Register each parquet table of sf_dir as a temp view, fanned out by
    its _FANOUT_KEYS key (session.fanout_scan).  With the exchange inside
    the view, every projection a query puts over it — a UDF, the tokenizer,
    a window's sort key — plans above the exchange and runs wide."""
    for t in tables:
        df = spark.read.parquet(f"{sf_dir}/{t}.parquet")
        if t in _FANOUT_KEYS:
            df = fanout_scan(df, _FANOUT_KEYS[t])
        df.createOrReplaceTempView(t)


def _build_curation_stages(spark, sf_dir, qname, with_manifest=True):
    """Materialize the curation stage set (shingles, eval source,
    contaminated ids, narrow curated manifest) under QNAME's OWN view
    registry slot — each consumer query owns a disjoint set, so the
    driver may build several of these queries' DataFrames before
    executing any of them without one build dropping another's views.
    Returns (hits_view, msrc_scalar_sql, manifest_view).

    The manifest is pipeline_sql.curated_tok_select projected to
    (doc_id, source, n_tok).  with_manifest=False skips it (an extra
    corpus scan + md5 rank window at build time): only
    curated_pack_sequences' totals side reads it.

    A plan-identical re-invocation (same sf_dir/flags/stage SQL) reuses
    the live checkpointed generation — parquet inputs are immutable for
    a session, so the cached stages are value-identical and repeated
    runs of the consuming composites neither re-scan the corpus nor
    stack checkpoint blocks."""
    from .functions.text_udfs import register_text_udfs
    register_text_udfs(spark)
    _register_tables(spark, sf_dir, "documents")
    d = pipeline_sql.Dialect("spark")
    fp = (sf_dir, with_manifest, pipeline_sql._shingle_rows(d, "source"),
          pipeline_sql.CURATE_MIN_TOK)

    def msrc(ms):
        return f"(select s from {ms})"

    def hits(sh, ms):
        return spark.sql(
            f"select /*+ BROADCAST(ev) */ e.doc_id from {sh} e "
            f"join (select distinct shingle from {sh} "
            f"      where source = {msrc(ms)}) ev on e.shingle = ev.shingle "
            f"where e.source != {msrc(ms)} group by e.doc_id")

    def manifest(_sh, ms, hv):
        return spark.sql("select doc_id, source, n_tok from ("
                         f"{pipeline_sql.curated_tok_select(d, hv, msrc(ms))})")
    base = f"svb_stage_{qname[-12:]}_"
    stages = [
        (base + "sh",
         lambda: spark.sql(pipeline_sql._shingle_rows(d, "source"))),
        (base + "msrc",
         lambda _sh: spark.sql("select min(source) as s from documents")),
        (base + "hits", hits),
    ] + ([(base + "man", manifest)] if with_manifest else [])
    views = stage_views(spark, qname, fp, stages)
    return views[2], msrc(views[1]), views[3] if with_manifest else None


def _ranked_curation_scan(spark, msrc, kernel):
    """The curation keep-policy's one corpus scan and exact-dup rank: the
    non-eval docs as (doc_id string, source, md5, tokens, n_tok) run
    through KERNEL, a map-side stage that keeps doc_id and md5, then
    ranked rn = row_number() per md5 ordered by the string doc_id — the
    rank of pipeline_sql.curated_tok_select.  The md5 + tokenize + kernel
    run above the documents view's fan-out exchange, so the rank window
    shuffles the kernel's narrow rows, never tokens.  msrc: scalar SQL
    for the eval-source name (_build_curation_stages)."""
    from pyspark.sql import Window
    d = pipeline_sql.Dialect("spark")
    scan = spark.sql(
        "select cast(doc_id as string) as doc_id, source, md5(text) as md5, "
        f"{d.tokens()} as tokens, {d.alen(d.split('text'))} as n_tok "
        f"from documents where source != {msrc}")
    w = Window.partitionBy("md5").orderBy("doc_id")
    return kernel(scan).withColumn("rn", F.row_number().over(w))


def curated_encoded_rows(spark, sf_dir, qname="curated_pack_encoded"):
    """The curation keep-policy over ENCODED rows: tokenize+auto-encode
    map-side AT THE SCAN (_ranked_curation_scan), then run the md5
    dedup rank window and the contamination anti-join over
    (doc_id, source, n_tok, codec, encoded, md5) — no shuffle in the
    composite ever carries a raw token array (the SQL
    form's rank window shipped raw tokens, ~40 TB at 10^13 tokens; encoded
    it is ~1.5-2.3 B/token).  Returns (winners_df, original doc_id dtype).

    Policy parity with pipeline_sql.curated_tok_select (the oracle's form):

    * the rank window runs over all non-eval docs BEFORE the contamination
      filter — a contaminated rn=1 keeper must still shadow its duplicates;
    * the LENGTH gate, by contrast, is safely pushed BELOW the window and
      the encode: the window partitions by md5(text), so every row of a
      partition has identical text and hence identical n_tok — the gate
      keeps or drops whole partitions and cannot change which row is rn=1.
      Pushing it skips encoding the short docs entirely;
    * the window orders by the STRING-cast doc_id (the oracle's order);
      pack ordering downstream still follows the ORIGINAL dtype via the
      returned dtype (numeric corpora order by numeric value).

    The contaminated-id set is small by construction (eval-overlap docs):
    broadcast the anti-join, corpus never reshuffles for it."""
    from .operators.packing import _encode_docs

    # with_manifest=False: the raw-token manifest stage is only read by
    # curated_pack_sequences' totals side; building it here would add an
    # eagerly-materialized corpus scan + rank window this composite never
    # consumes
    hits, msrc, _man = _build_curation_stages(spark, sf_dir, qname,
                                              with_manifest=False)
    dtype = spark.table("documents").schema["doc_id"].dataType
    ranked = _ranked_curation_scan(spark, msrc, lambda scan: _encode_docs(
        scan.where(F.col("n_tok") >= pipeline_sql.CURATE_MIN_TOK), "auto",
        carry=("md5",)))
    winners = (ranked.where(F.col("rn") == 1)
               .join(F.broadcast(spark.table(hits)), "doc_id", "left_anti")
               .select("doc_id", "source", "n_tok", "codec", "encoded"))
    return winners, dtype


def build_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable] = {}

    # -- round-trips (operators 1-6 + zigzag 12 of SURVEY.md §2.1) -----------
    # decode(encode(x)) == x proven via (n_tok, polynomial fingerprint) of the
    # decoded tokens vs the oracle's fold over the ORIGINAL tokens; the
    # full-array bitwise check lives in tests (verify_roundtrip), the driver
    # gate needs scalar columns (see spark_fingerprint above).
    def make_roundtrip(codec, src):
        def run(spark, sf_dir):
            dec = decode_table(_encoded(spark, sf_dir, codec, src),
                               fingerprint=True)
            return dec.select("doc_id", "n_tok", "source", "fingerprint")
        return run

    q["svb_roundtrip"] = make_roundtrip("svb", "documents")
    q["svb0124_roundtrip"] = make_roundtrip("svb0124", "documents")
    q["delta_roundtrip_postings"] = make_roundtrip("svb_delta", "postings")
    # Elias-Fano: the sorted-postings specialist (quasi-succinct monotone
    # lists, ~2 + L bits/value vs svb_delta's 1-byte floor; not an auto
    # candidate — defined only on non-decreasing rows, loud otherwise)
    q["ef_roundtrip_postings"] = make_roundtrip("ef", "postings")
    q["auto_roundtrip"] = make_roundtrip("auto", "documents")
    # auto_sorted: EF joins the per-row argmin on rows that are
    # non-decreasing (vectorized eligibility mask) — the selector form that
    # makes the 24%-under-svb_delta postings win reachable as stored bytes
    # instead of a standalone demo.  Mixed codec ids
    # (ef + standard winners) exercise the grouped decode dispatch.
    q["auto_sorted_roundtrip"] = make_roundtrip("auto_sorted", "postings")
    # FSST-style symbol-table codec: per-row symbol table is not
    # SQL-expressible, but decode(encode(x)) == x gives an exact identity
    # oracle, so fsst gets full value-level verification anyway
    q["fsst_roundtrip"] = make_roundtrip("fsst", "documents")

    def zigzag_roundtrip(spark, sf_dir, delta=False):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            F.col("vec_id").cast("string").alias("vec_id"),
            F.expr(EMB_TOKENS_SPARK).alias("tokens"))
        rt = _signed_roundtrip(emb, "vec_id", delta, fingerprint=True)
        return rt.select("vec_id", "n_tok", "fingerprint")

    q["zigzag_roundtrip_embeddings"] = lambda s, d: zigzag_roundtrip(s, d, False)
    q["zzdelta_roundtrip_embeddings"] = lambda s, d: zigzag_roundtrip(s, d, True)

    # -- exact sizes (operators 7-9 + companion cost models) -----------------
    def make_size(codec, src):
        # cost-only path (operators.size_table = the reference's
        # compressedbytes): exact sizes with no encode pass, no encoded
        # bytes in the plan; cost==len(encode) is invariant-tested and the
        # auto_size least() oracle checks the full formula set
        def run(spark, sf_dir):
            return size_table(_token_source(spark, sf_dir, src), codec=codec)
        return run

    q["svb_size"] = make_size("svb", "documents")
    q["svb0124_size"] = make_size("svb0124", "documents")
    q["delta_size_postings"] = make_size("svb_delta", "postings")
    q["ef_size_postings"] = make_size("ef", "postings")
    q["bitpack_size"] = make_size("bitpack", "documents")
    q["for_size"] = make_size("for", "documents")
    q["dict_size"] = make_size("dict", "documents")
    q["rle_size"] = make_size("rle", "documents")
    q["auto_size"] = make_size("auto", "documents")
    # the sortedness gate both ways: postings rows are all non-decreasing
    # (EF broadly wins, least() must include its formula) while documents
    # rows are mostly unsorted (the mask must EXCLUDE ef there or sizes
    # diverge from the oracle's gated least())
    q["auto_sorted_size_postings"] = make_size("auto_sorted", "postings")
    q["auto_sorted_size"] = make_size("auto_sorted", "documents")

    # -- validate (operators 10-11) ------------------------------------------
    def validate_query(spark, sf_dir, codec="svb", corrupt=False):
        enc = _encoded(spark, sf_dir, codec)
        scheme0124 = codec == "svb0124"

        def run(batches):
            for batch in batches:
                ebuf, eoff = binary_flat(
                    batch.column(batch.schema.get_field_index("encoded")))
                n_toks = np.asarray(batch.column(batch.schema.get_field_index("n_tok")),
                                    dtype=np.int64)
                if corrupt:
                    # truncate every nonempty stream by one byte in-flight:
                    # validate must reject all of them (negative-path check —
                    # the valid-input queries alone can never prove rejection)
                    ebuf, eoff = batched.truncate_rows(ebuf, eoff)
                ok = batched.validate_rows(ebuf, eoff, n_toks,
                                           scheme0124=scheme0124)
                yield pa.RecordBatch.from_arrays(
                    [batch.column(batch.schema.get_field_index("doc_id")),
                     pa.array(ok, pa.bool_())],
                    names=["doc_id", "is_valid"])

        return enc.mapInArrow(
            run, kernel_schema("doc_id string, is_valid boolean"))

    q["validate_stream"] = validate_query
    # operator 11 of SURVEY.md 2.1: the 0124 length map (len = (1<<code)>>1)
    q["validate_stream_0124"] = lambda s, d: validate_query(s, d, "svb0124")
    # negative path: truncated streams must validate false (reference
    # contract: src/streamvbyte_decode.c:89-136 length-consistency check)
    q["validate_stream_truncated"] = lambda s, d: validate_query(
        s, d, "svb", corrupt=True)

    # -- max_compressedbytes (operator 7): per-row worst-case bound, plus the
    # proof that every actual svb encode respects it
    def max_compressed_bound(spark, sf_dir):
        enc = _encoded(spark, sf_dir, "svb")

        def run(batches):
            for batch in batches:
                n_toks = np.asarray(
                    batch.column(batch.schema.get_field_index("n_tok")),
                    dtype=np.int64)
                out_b = np.asarray(
                    batch.column(batch.schema.get_field_index("out_bytes")),
                    dtype=np.int64)
                bound = batched.max_compressed_bytes_rows(n_toks)
                yield pa.RecordBatch.from_arrays(
                    [batch.column(batch.schema.get_field_index("doc_id")),
                     pa.array(bound, pa.int64()),
                     pa.array(out_b <= bound, pa.bool_())],
                    names=["doc_id", "max_bytes", "within_bound"])

        return enc.mapInArrow(run, kernel_schema(
            "doc_id string, max_bytes bigint, within_bound boolean"))

    q["max_compressed_bound"] = max_compressed_bound

    # -- auto_full: the 8-codec selector including fsst (vectorized
    # _fsst_costs feeds the argmin; winning rows encode via the whole-batch
    # fsst kernel).  Run over the FSST_MIX-mapped token table so fsst
    # genuinely wins most rows while short rows pick 'for' — the size oracle
    # (least over all 8 formulas) checks the complete cost model.  The
    # mapping itself runs as a numpy flat_transform INSIDE the encode
    # kernel: the FSST_MIX_SPARK transform() HOF form was a CodegenFallback
    # pass interpreted per token (38M interpreted lambda evals at sf0.1);
    # the DuckDB oracle keeps the list_transform text.
    def _fsst_mix_flat(flat):
        # identical arithmetic to FSST_MIX_SPARK/_DUCK for the NON-NEGATIVE
        # int32 token ids the tokenizer produces (Spark `div` truncates,
        # numpy // floors — equal on non-negatives)
        t = flat.astype(np.int64)
        return ((16384 + (t % 32) * 256) * 65536
                + ((t // 97) % 32) * 33 + 1).astype(np.uint32)

    def auto_full_size(spark, sf_dir):
        return size_table(tokens_from_documents(spark, sf_dir),
                          codec="auto_full", flat_transform=_fsst_mix_flat)

    def auto_full_roundtrip(spark, sf_dir):
        enc = encode_table(tokens_from_documents(spark, sf_dir),
                           codec="auto_full", flat_transform=_fsst_mix_flat)
        dec = decode_table(enc, fingerprint=True)
        return dec.select("doc_id", "n_tok", "source", "fingerprint")

    q["auto_full_size"] = auto_full_size
    q["auto_full_roundtrip"] = auto_full_roundtrip

    # format-aware truncation: decode only the first 32 tokens per doc via
    # the svb control bytes (O(prefix) work/output; non-prefix-addressable
    # codecs decode-and-truncate) — the max-seq-len gate of a training
    # pipeline, verified against the oracle's slice of the original tokens
    def truncate_decode(spark, sf_dir, max_len=32):
        from .operators import decode_table_prefix
        dec = decode_table_prefix(_encoded(spark, sf_dir, "auto"), max_len,
                                  fingerprint=True)
        return dec.select("doc_id", "n_tok", "source", "fingerprint")

    q["truncate_decode"] = truncate_decode

    # zone-map pruning: find every doc whose token range intersects
    # [1000, 20000] using ONLY the encoded table's tok_min/tok_max lineage
    # columns — no decode touches the payload; the oracle recomputes the
    # ranges from the raw tokens
    def zone_map_prune(spark, sf_dir, lo=1000, hi=20000):
        enc = _encoded(spark, sf_dir, "auto")
        return (enc.where((F.col("tok_max") >= lo) & (F.col("tok_min") <= hi))
                .select("doc_id", "tok_min", "tok_max"))

    q["zone_map_prune"] = zone_map_prune

    # -- compression metrics aggregation (SURVEY.md §2.2 aggregations) -------
    def metrics_by_source(spark, sf_dir):
        enc = _encoded(spark, sf_dir, "auto")
        return (enc.groupBy("source")
                .agg(F.count("*").alias("docs"),
                     F.sum("in_bytes").alias("sum_in_bytes"),
                     F.sum("out_bytes").alias("sum_out_bytes"))
                )

    q["metrics_by_source"] = metrics_by_source

    # pure-Catalyst size computation (no Python worker in the plan): the
    # reference size formula (src/streamvbyte_encode.c:74,91-101) as
    # JVM-side SQL.  Note: the aggregate() lambda is CodegenFallback
    # (interpreted), so this is the zero-Python *composability* path; the
    # Arrow-batched svb_size UDF / encode_table remain the throughput path
    def svb_size_sql(spark, sf_dir):
        # fanned-out scan + codegen'd word count: the interpreted
        # aggregate() fold is the only tokenizer pass and runs wide; the
        # fold itself stays — this query IS the zero-Python
        # composability demo
        docs = fanout_scan(
            spark.read.parquet(f"{sf_dir}/documents.parquet"), "doc_id")
        t = spark_tokens_expr("text")
        return docs.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.expr(
                "cast((size(split(text, ' ')) + 3) div 4 as bigint) + "
                f"aggregate({t}, cast(0 as bigint), (acc, x) -> acc + 1 + "
                f"(case when x > 255 then 1 else 0 end) + "
                f"(case when x > 65535 then 1 else 0 end) + "
                f"(case when x > 16777215 then 1 else 0 end))"
            ).alias("size_bytes"))

    q["svb_size_sql"] = svb_size_sql

    # per-codec aggregated metrics (who won how often, at what ratio)
    def metrics_by_codec(spark, sf_dir):
        enc = _encoded(spark, sf_dir, "auto")
        return (enc.groupBy("codec")
                .agg(F.count("*").alias("docs"),
                     F.sum("in_bytes").alias("sum_in_bytes"),
                     F.sum("out_bytes").alias("sum_out_bytes")))

    q["metrics_by_codec"] = metrics_by_codec

    # -- time-windowed aggregation over events (batch analog of the
    # streaming window; SURVEY.md §2.2 grouping/windows) ---------------------
    def events_hourly(spark, sf_dir):
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        # integer cents: exact cross-engine sums (double-sum order differs)
        cents = F.expr("cast(round(value * 100) as bigint)")
        return (ev.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
                .agg(F.count("*").alias("events"),
                     F.sum(cents).alias("sum_value_cents")))

    q["events_hourly"] = events_hourly

    # top-k with deterministic total order (SURVEY.md §2.2 sorts/limits)
    def top_users_by_value(spark, sf_dir):
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        cents = F.expr("cast(round(value * 100) as bigint)")
        agg = ev.groupBy("user_id").agg(F.sum(cents).alias("total_cents"),
                                        F.count("*").alias("events"))
        return (agg.orderBy(F.desc("total_cents"), F.asc("user_id")).limit(10))

    q["top_users_by_value"] = top_users_by_value

    # rollup over (source, codec): grouping-sets coverage with subtotal rows
    def metrics_rollup(spark, sf_dir):
        enc = _encoded(spark, sf_dir, "auto")
        return (enc.rollup("source", "codec")
                .agg(F.count("*").alias("docs"),
                     F.sum("out_bytes").alias("sum_out_bytes")))

    q["metrics_rollup"] = metrics_rollup

    # set operation: users seen in BOTH event types (INTERSECT)
    def users_intersect(spark, sf_dir):
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        clicks = ev.where(F.col("event_type") == "click").select("user_id")
        errors = ev.where(F.col("event_type") == "error").select("user_id")
        return clicks.intersect(errors)

    q["users_intersect"] = users_intersect

    # -- multimodal columns (binary payload + typed metadata) ----------------
    # Deterministic fake media (payload = utf-8 bytes of text) exercises the
    # REAL Spark plumbing — binary columns, Arrow batch shapes, 1:N frame
    # explode — while the actual PIL/ffmpeg decode stays stubbed (operators/
    # multimodal.py).  top_bin is the argmax of the 16-bin byte histogram,
    # reconstructed to exact integers on both sides so no float crosses
    # engines.
    from .operators.multimodal import (extract_features, sample_frames,
                                       synth_media_table)

    def multimodal_features(spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        feats = extract_features(synth_media_table(docs))
        hist = ("transform(feature, x -> cast(round(cast(x as double) * "
                "cast(greatest(n_bytes, 1) as double)) as bigint))")
        return (feats
                .withColumn("hist", F.expr(hist))
                .select("doc_id", "n_bytes", "byte_sum",
                        (F.expr("array_position(hist, array_max(hist))")
                         .cast("int") - F.lit(1)).alias("top_bin")))

    q["multimodal_features"] = multimodal_features

    def multimodal_frames(spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        frames = sample_frames(synth_media_table(docs),
                               frame_bytes=64, every=2)
        return frames.select("doc_id", "frame_id", "frame_len", "frame_sum")

    q["multimodal_frames"] = multimodal_frames

    # REAL image decode through the driver gate: valid PPM payloads are
    # synthesized from each document's utf-8 bytes, parsed by the actual
    # image decoder, and checked as shape + exact channel sums
    # against a pure byte-math oracle
    def image_decode_stats(spark, sf_dir):
        from .operators.multimodal import image_stats_table, synth_ppm_table
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return image_stats_table(synth_ppm_table(docs, width=4))

    q["image_decode_stats"] = image_decode_stats

    # REAL COMPRESSED image decode: the same documents-derived pixel bytes
    # wrapped in valid zlib-deflated PNGs whose rows cycle all five PNG
    # filters; the PNG batch kernel (stdlib inflate + row-lockstep NumPy
    # unfilter, behind multimodal._decode_image_batch) must reverse
    # the whole pipeline to satisfy the SAME byte-math oracle as the PPM
    # query — the oracle never touches PNG code, so a matched
    # encoder/decoder bug cannot cancel (filters are additionally pinned
    # by spec-vector unit tests)
    def png_decode_stats(spark, sf_dir):
        from .operators.multimodal import image_stats_table, synth_png_table
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return image_stats_table(synth_png_table(docs, width=4))

    q["png_decode_stats"] = png_decode_stats

    # REAL JPEG decode: each document's bytes become the constant 8x8
    # block values of a grayscale BASELINE JPEG (all-ones quant table ->
    # constant blocks are lossless: DC = 8*(c-128) exactly, zero AC), and
    # the pure-NumPy JPEG batch kernel (marker walk + lockstep canonical
    # Huffman + batched IDCT, operators/jpeg.py — no PIL) must reproduce
    # every pixel bit-exactly to satisfy a byte-math oracle that never
    # touches JPEG code.  Each byte appears in 64 pixels, so channel sums
    # = 64 * byte sums.  AC/subsampling/restart paths are pinned by unit
    # tests against an in-test reference IDCT (tests/test_jpeg.py).
    def jpeg_decode_stats(spark, sf_dir):
        from .operators.multimodal import image_stats_table, synth_jpeg_table
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return image_stats_table(synth_jpeg_table(docs, width_blocks=2))

    q["jpeg_decode_stats"] = jpeg_decode_stats

    # REAL audio decode: valid RIFF PCM WAVs from the same document bytes,
    # parsed by decode_audio's chunk walker, checked as exact sample sums
    def audio_decode_stats(spark, sf_dir):
        from .operators.multimodal import audio_stats_table, synth_wav_table
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return audio_stats_table(synth_wav_table(docs))

    q["audio_decode_stats"] = audio_decode_stats

    # REAL COMPRESSED audio decode: pairs of document bytes become the
    # int16 header predictors of all-zero-nibble IMA ADPCM blocks — a
    # LOSSLESS fixture shape (nibble 0 at step index 0 moves the predictor
    # by step>>3 = 0), so decode_audio's block-vectorized ADPCM state
    # machine must reproduce exactly 9 copies of each header value and the
    # byte-math oracle never touches ADPCM code.  Nontrivial nibble paths
    # are pinned by a random-payload parity test against an in-test scalar
    # reference decoder (tests/test_multimodal_decode.py).
    def adpcm_decode_stats(spark, sf_dir):
        from .operators.multimodal import (audio_stats_table,
                                           synth_adpcm_table)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return audio_stats_table(synth_adpcm_table(docs))

    q["adpcm_decode_stats"] = adpcm_decode_stats

    # JSONL staging format round-trip: the canonical token table written as
    # JSON-Lines and read back through tokens_from_jsonl must carry the
    # exact same token arrays (fingerprint vs the documents-derived oracle)
    def _staging_dir(sf_dir, fmt):
        """Per-(sf_dir, format, pid) staging path under /tmp: stable within
        a process so repeated gate runs overwrite instead of leaking a
        corpus-sized copy per round, and two CONCURRENT gate processes on
        the same sf dir can't clobber each other's staging mid-read.  Each
        invocation reaps siblings whose owning process is gone (or whose
        mtime is over a WEEK old — a recycled pid can look alive forever),
        so dead pids don't accumulate copies in /tmp across rounds.  Our own
        dir's mtime is touched on every use, so a genuinely long-lived live
        owner is never age-reaped by a sibling."""
        import glob
        import hashlib
        import os
        import shutil
        import tempfile
        import time
        tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
        # uid-scoped prefix: on a shared /tmp another uid's pids are not
        # liveness-checkable (os.kill raises PermissionError), which made
        # the age reap the only guard; scoping the glob to our own uid's
        # dirs removes cross-user reaping entirely
        prefix = (f"{tempfile.gettempdir()}/svb_q_{fmt}_{tag}_"
                  f"u{os.getuid()}_")
        # legacy pre-uid-scheme dirs (bare-pid suffix) would otherwise sit
        # in /tmp forever — reap them under the same liveness/age policy
        legacy = glob.glob(f"{tempfile.gettempdir()}/svb_q_{fmt}_{tag}_"
                           "[0-9]*")
        for stale in glob.glob(prefix + "*") + legacy:
            pid_s = stale.rsplit("_", 1)[-1]
            if pid_s == str(os.getpid()) or not pid_s.isdigit():
                continue
            try:
                os.kill(int(pid_s), 0)  # raises if the owner is gone
            except ProcessLookupError:
                shutil.rmtree(stale, ignore_errors=True)
                continue
            except PermissionError:
                pass  # can't verify liveness: fall through to the age check
            try:
                age = time.time() - os.path.getmtime(stale)
            except OSError:
                age = 0.0
            if age > 7 * 86400:
                # an apparently-alive pid can be a recycled pid holding the
                # slot forever; a week-old staging dir is reclaimed even
                # then (liveness is checked FIRST — reaping a provably-live
                # owner's dir on age alone would break its lazy reads)
                shutil.rmtree(stale, ignore_errors=True)
        mine = prefix + str(os.getpid())
        try:
            os.utime(mine)  # keep a long-lived live owner past the age reap
        except OSError:
            pass  # first use: the writer creates it
        return mine

    def _staged_format_roundtrip(spark, sf_dir, fmt, writer, reader):
        """Write the canonical token table through a staging format, read it
        back, fingerprint — the identity oracle proves the format carries
        the exact token arrays."""
        tmp = _staging_dir(sf_dir, fmt)
        writer(tokens_from_documents(spark, sf_dir), f"{tmp}/s")
        back = reader(spark, f"{tmp}/s")
        from .functions.text_udfs import doc_fingerprint
        return back.select(
            "doc_id", F.col("n_tok").cast("int").alias("n_tok"), "source",
            doc_fingerprint("tokens").alias("fingerprint"))

    def jsonl_roundtrip(spark, sf_dir):
        from .sources import tokens_from_jsonl, write_tokens_jsonl
        return _staged_format_roundtrip(spark, sf_dir, "jsonl",
                                        write_tokens_jsonl, tokens_from_jsonl)

    q["jsonl_roundtrip"] = jsonl_roundtrip

    # ORC staging sibling: Spark-native columnar interchange (schema stored,
    # column pruning + predicate pushdown like parquet) — the other format
    # large pipelines stage token tables in
    def orc_roundtrip(spark, sf_dir):
        from .sources import tokens_from_orc, write_tokens_orc
        return _staged_format_roundtrip(spark, sf_dir, "orc",
                                        write_tokens_orc, tokens_from_orc)

    q["orc_roundtrip"] = orc_roundtrip

    # delimited-text staging sibling (CSV carries the token ids as one
    # space-joined column — arrays aren't native to CSV)
    def csv_roundtrip(spark, sf_dir):
        from .sources import tokens_from_csv, write_tokens_csv
        return _staged_format_roundtrip(spark, sf_dir, "csv",
                                        write_tokens_csv, tokens_from_csv)

    q["csv_roundtrip"] = csv_roundtrip

    # corpus-wide vocabulary remap: frequency-ranked ids shrink the encoded
    # bytes; compare per-source auto-codec output before vs after.
    # the token table is MATERIALIZED once per invocation (stage_views) —
    # it feeds THREE consumers (before-encode, the vocab build's explode,
    # the remap input), which otherwise each re-run scan+tokenize: Catalyst
    # inlines a shared subtree into every consumer (the SPARK_STAGES
    # rationale)
    def _vocab_remap_metrics(spark, sf_dir, remap_fn, qname):
        (view,) = stage_views(
            spark, qname, (sf_dir, "tok-stage-v1"),
            [("svb_stage_vmtok",
              lambda: tokens_from_documents(spark, sf_dir))])
        tok = spark.table(view)
        remapped = remap_fn(tok)
        before = (encode_table(tok, codec="auto").groupBy("source")
                  .agg(F.sum("out_bytes").alias("bytes_before")))
        after = (encode_table(remapped, codec="auto").groupBy("source")
                 .agg(F.sum("out_bytes").alias("bytes_after")))
        return before.join(after, "source").select(
            "source", "bytes_before", "bytes_after")

    def vocab_remap_metrics(spark, sf_dir):
        from .operators.vocab import build_vocab, remap_tokens
        return _vocab_remap_metrics(
            spark, sf_dir, lambda tok: remap_tokens(tok, build_vocab(tok)),
            "vocab_remap_metrics")

    q["vocab_remap_metrics"] = vocab_remap_metrics

    # the SHUFFLE-JOIN remap path (open/hashed vocabularies too large to
    # broadcast): posexplode -> join -> positional rebuild must produce the
    # identical remapped corpus — proven by sharing vocab_remap_metrics'
    # oracle, which recomputes the rank relationally
    def vocab_remap_join_metrics(spark, sf_dir):
        from .operators.vocab import build_vocab, remap_tokens_join
        return _vocab_remap_metrics(
            spark, sf_dir,
            lambda tok: remap_tokens_join(tok, build_vocab(tok)),
            "vocab_remap_join_metrics")

    q["vocab_remap_join_metrics"] = vocab_remap_join_metrics

    # -- chunked long-sequence path: slice -> window-lag prev -> delta encode
    # per chunk -> decode (chunks parallel, each seeded from stored prev) ->
    # reassemble; identity oracle proves the prev chain threads chunk seams
    # exactly (reference delta contract, include/streamvbytedelta.h:17-29)
    def chunked_roundtrip(spark, sf_dir):
        from .functions.text_udfs import doc_fingerprint
        from .operators.chunking import (chunk_tokens, decode_chunked_delta,
                                         encode_chunked_delta, reassemble)
        # string_key: the chunk-prev window + reassembly reuse the groupBy
        # partitioning (2 exchanges, plan-tested) — worth the slower groupBy
        # HERE, unlike the flat delta queries (sources.posting_lists)
        post = posting_lists(spark, sf_dir, string_key=True)
        re = reassemble(decode_chunked_delta(
            encode_chunked_delta(chunk_tokens(post, chunk_size=8))))
        return re.select("doc_id",
                         F.col("n_tok").cast("int").alias("n_tok"),
                         doc_fingerprint("tokens").alias("fingerprint"))

    q["chunked_roundtrip_postings"] = chunked_roundtrip

    # fused variant: decode AFTER the reassembly shuffle, so the wire carries
    # encoded bytes (~1.5 B/tok) instead of decoded tokens (4 B/tok) — the
    # scale-correct plan
    def chunked_fused_roundtrip(spark, sf_dir):
        from .operators.chunking import (chunk_tokens, decode_reassemble_fused,
                                         encode_chunked_delta)
        post = posting_lists(spark, sf_dir, string_key=True)
        re = decode_reassemble_fused(
            encode_chunked_delta(chunk_tokens(post, chunk_size=8)),
            fingerprint=True)
        return re.select("doc_id", "n_tok", "fingerprint")

    q["chunked_fused_roundtrip"] = chunked_fused_roundtrip

    # Elias-Fano chunked postings: a sorted list's chunks are themselves
    # non-decreasing, and EF stores ABSOLUTE values — no prev seed, chunks
    # self-contained — so the same chunk/shuffle/fused-decode machinery
    # stores the 24%-smaller EF wire.  Same identity
    # oracle as the delta-chained form.
    def chunked_ef_roundtrip(spark, sf_dir):
        from .operators.chunking import (chunk_tokens, decode_reassemble_fused,
                                         encode_chunked_delta)
        post = posting_lists(spark, sf_dir, string_key=True)
        re = decode_reassemble_fused(
            encode_chunked_delta(chunk_tokens(post, chunk_size=8), codec="ef"),
            fingerprint=True, codec="ef")
        return re.select("doc_id", "n_tok", "fingerprint")

    q["chunked_ef_roundtrip"] = chunked_ef_roundtrip

    # truncation over the CHUNKED layout (the realistic shape for documents
    # too long for one row): chunks past max_len are dropped by a plain
    # tok_start filter BEFORE the shuffle — the wire and decoder never see
    # the tail — and the straddling chunk prefix-decodes (delta prefix path)
    def chunked_truncate_decode(spark, sf_dir, max_len=TRUNCATE_MAX_LEN):
        from .operators.chunking import (chunk_tokens, decode_reassemble_fused,
                                         encode_chunked_delta)
        post = posting_lists(spark, sf_dir, string_key=True)
        re = decode_reassemble_fused(
            encode_chunked_delta(chunk_tokens(post, chunk_size=8)),
            max_len=max_len, fingerprint=True)
        return re.select("doc_id", "n_tok", "fingerprint")

    q["chunked_truncate_decode"] = chunked_truncate_decode

    # -- inverted index over documents: the codec family's canonical
    # application (reference README.md:54-59 names differential coding for
    # sorted values; README.md:253 points at "compress and intersect sorted
    # lists of integers").  Logical index = term -> sorted doc-id postings;
    # the flat pair below showcases per-row codec selection + the cost
    # model over the postings distribution, the chunked build is the
    # skew-proof 100 TB shape, and index_intersect serves a boolean AND
    # from the encoded wire.  See operators/index.py.
    q["index_postings_roundtrip"] = make_roundtrip("auto_sorted", "terms")
    q["index_postings_size"] = make_size("auto_sorted", "terms")

    def index_build_chunked(spark, sf_dir):
        # the SCALE build: groupBy (term, did div span) bounds every chunk
        # to <= span postings — a df~0.8 stopword spreads over n_docs/span
        # reducers instead of one collect_set cell — then EF-encodes each
        # chunk (absolute values, independently decodable).  The identity
        # oracle proves the distributed build reassembles to EXACTLY the
        # logical full-list index.
        from .operators.chunking import decode_reassemble_fused
        from .operators.index import build_index_chunked as _build
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        re = decode_reassemble_fused(_build(docs), fingerprint=True,
                                     codec="ef")
        return re.select("doc_id", "n_tok", "fingerprint")

    q["index_build_chunked"] = index_build_chunked

    def _staged_index_probe(spark, sf_dir, key, builder, k=2):
        """Materialize the encoded index ONCE per (session, sf_dir) — all
        serving sides read the checkpointed stage, not k rebuilds
        (SPARK_STAGES policy) — and return it with the deterministic probe
        terms: the k lexicographically smallest terms with
        df >= INDEX_MIN_DF (df = sum of the wire's per-chunk did count,
        the count column of its did stream in the wire table).  The terms
        are the stage generation's derived value: computed once when the
        generation is built and dropped with its views, so a hit runs no
        Spark job and a rebuilt generation re-derives them."""
        from .operators.index import (INDEX_CHUNK_SPAN, INDEX_MIN_DF,
                                      _did_stream)

        def probe_terms(v):
            enc = spark.table(v)
            _, _, df_col = _did_stream(enc, key)
            return [r["doc_id"] for r in
                    enc.groupBy("doc_id").agg(F.sum(df_col).alias("df"))
                    .where(F.col("df") >= INDEX_MIN_DF)
                    .orderBy("doc_id").limit(k).collect()]
        gen = stage_generation(
            spark, key, (sf_dir, INDEX_CHUNK_SPAN, INDEX_MIN_DF, key, k),
            [(f"svb_stage_{key[-10:]}", lambda: builder(
                spark.read.parquet(f"{sf_dir}/documents.parquet")))],
            derive=probe_terms)
        terms = gen.derived
        if len(terms) < k:
            raise ValueError(
                f"{key} needs {k} probe terms with df >= {INDEX_MIN_DF}; "
                f"corpus has {len(terms)}")
        return spark.table(gen.names[0]), terms

    def index_intersect(spark, sf_dir):
        # serving: one scan of the probed terms' encoded chunk rows, one
        # task that aligns them by chunk_id and decodes ONLY the
        # co-occupied chunks (operators/index.py _gate_scalar)
        from .operators.index import build_index_chunked, intersect_terms
        enc, (a, b) = _staged_index_probe(spark, sf_dir, "index_intersect",
                                          build_index_chunked)
        return intersect_terms(enc, a, b)

    q["index_intersect"] = index_intersect

    def index_and_multi(spark, sf_dir):
        # K-WAY boolean AND serving (real queries have > 2 terms and
        # k-way sorted-list intersection is the reference's named workload,
        # README.md:253): the three lexicographically smallest terms with
        # df >= 5, served by the one-scan plan: the kernel keeps the chunks
        # all three terms occupy and folds the in-lane lane_doc_keys
        # intersection — the RAREST term bounds the decode work and no
        # posting row ever shuffles (operators/index.py
        # intersect_terms_multi).
        from .operators.index import (build_index_chunked,
                                      intersect_terms_multi)
        enc, terms = _staged_index_probe(spark, sf_dir, "index_and_multi",
                                         build_index_chunked, k=3)
        return intersect_terms_multi(enc, terms)

    q["index_and_multi"] = index_and_multi

    def index_topk_and(spark, sf_dir):
        # integer-relevance serving from the TF-weighted index wire: the
        # same probe rule, score = tf_a + tf_b (exact integers both
        # engines), deterministic (score desc, did asc) top-10.  The TF
        # build stores each chunk as an EF did stream + an svb tf stream,
        # collected in ONE posting-level shuffle (the encode kernel
        # run-lengths the sorted duplicated dids into (did, tf) — a
        # separate counting aggregate would shuffle the postings twice).
        # topk_and_terms is the one-scan co-grouped plan (chunks aligned
        # by chunk_id in the kernel's task + in-lane score + local
        # top-k); this gate row runs it.
        from .operators.index import build_index_tf_chunked, topk_and_terms
        enc, (a, b) = _staged_index_probe(spark, sf_dir, "index_topk_and",
                                          build_index_tf_chunked)
        return topk_and_terms(enc, a, b)

    q["index_topk_and"] = index_topk_and

    def index_phrase_match(spark, sf_dir):
        # phrase serving from the POSITIONAL wire: the same deterministic
        # probe rule (two lexicographically smallest terms, df >= 5, df =
        # sum of the wire's per-chunk doc counts), served as the ADJACENT
        # IN-ORDER phrase "term_a term_b" — co-grouped: one scan of the
        # two terms' encoded chunk rows, aligned by chunk_id in ONE kernel
        # that intersects the did lists in-lane and probes pos_a + 1
        # against pos_b per common doc; no occurrence row ever shuffles.
        # Positions are raw-split offsets (empties occupy slots) on both
        # engines.
        from .operators.index import (build_index_pos_chunked,
                                      phrase_match_terms)
        enc, (a, b) = _staged_index_probe(spark, sf_dir,
                                          "index_phrase_match",
                                          build_index_pos_chunked)
        return phrase_match_terms(enc, a, b)

    q["index_phrase_match"] = index_phrase_match

    def index_union(spark, sf_dir):
        # OR serving from the encoded set wire, co-grouped by chunk id
        # like intersect: one scan, every chunk either term occupies
        # aligned in the kernel, the sorted lists unioned in-lane —
        # disjoint chunk did-ranges make the in-lane dedup global, so the
        # exploded-did distinct shuffle of the naive form disappears
        from .operators.index import build_index_chunked, union_terms
        enc, (a, b) = _staged_index_probe(spark, sf_dir, "index_union",
                                          build_index_chunked)
        return union_terms(enc, a, b)

    q["index_union"] = index_union

    def _merge_equivalence(spark, sf_dir, build):
        """The batch-expressible equivalence of the continuous-maintenance
        lifecycle (stream drain -> merge into the stored chunk table):
        stored = ``build`` over the EVEN-doc-id half of the corpus,
        updates = the full build's chunks restricted to the (term, chunk)
        groups an odd ("new") doc touches — exactly the generations a
        stream that consumed the stored corpus before the new documents
        emits.  Every updates chunk covers its stored twin and holds
        strictly more content, so the merge's max-count-wins rule must
        reassemble to EXACTLY the full-corpus build; untouched stored
        chunks pass through.  Returns the merged chunk table."""
        from .operators.index import (INDEX_CHUNK_SPAN, merge_index_updates,
                                      term_doc_pairs)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        old = docs.where(F.expr("cast(doc_id as int) % 2 = 0"))
        new = docs.where(F.expr("cast(doc_id as int) % 2 = 1"))
        touched = (term_doc_pairs(new)
                   .select(F.col("term").alias("doc_id"),
                           F.expr(f"did div {INDEX_CHUNK_SPAN}")
                           .cast("int").alias("chunk_id"))
                   .distinct())
        updates = build(docs).join(
            touched, ["doc_id", "chunk_id"], "left_semi")
        return merge_index_updates(build(old), updates)

    def index_merge_updates(spark, sf_dir):
        # the set-wire drain equivalence (_merge_equivalence); oracle: the
        # batch build's (TERM_POSTING_SQL identity)
        from .operators.chunking import decode_reassemble_fused
        from .operators.index import build_index_chunked
        merged = _merge_equivalence(spark, sf_dir, build_index_chunked)
        re = decode_reassemble_fused(merged, fingerprint=True, codec="ef")
        return re.select("doc_id", "n_tok", "fingerprint")

    q["index_merge_updates"] = index_merge_updates

    def index_merge_updates_pos(spark, sf_dir):
        # the POSITIONAL-wire drain equivalence (_merge_equivalence over
        # build_index_pos_chunked: the merge's pos branch, max n_pos wins —
        # an update chunk that a new doc touched holds strictly more
        # occurrences).  The merged index decodes to flat (term, did, pos)
        # occurrence rows, folded per term into the gate scalar (sorted
        # (did, pos) struct order = doc-major, ascending-within-doc —
        # exactly the wire layout); oracle = the positional build identity
        # straight off documents.  Scale consumers take decode_index_pos's
        # occurrence rows (or the chunks themselves) — the per-term fold
        # is gate-only, like the serving scalars.
        from .operators.index import build_index_pos_chunked, decode_index_pos
        merged = _merge_equivalence(spark, sf_dir, build_index_pos_chunked)
        occ = decode_index_pos(merged)
        return (occ.groupBy("term")
                .agg(F.sort_array(F.collect_list(F.struct("did", "pos")))
                     .alias("occ"))
                .select(F.col("term").alias("doc_id"),
                        F.size("occ").alias("n_occ"),
                        F.expr(spark_fingerprint("occ.did")).alias("fp_did"),
                        F.expr(spark_fingerprint("occ.pos"))
                        .alias("fp_pos")))

    q["index_merge_updates_pos"] = index_merge_updates_pos

    # -- composed curation: exact dedup -> quality gate -> tokenize, priced
    # in auto-codec bytes.  Its own rule, checked by its own oracle: the
    # dedup rank orders by the NATIVE doc_id (numeric ids numerically) and
    # a stopword-ratio gate joins the word-count gate.
    def _curate_documents(docs):
        from pyspark.sql import Window
        rank = Window.partitionBy(F.md5("text")).orderBy("doc_id")
        deduped = (docs.withColumn("_rn", F.row_number().over(rank))
                   .where(F.col("_rn") == 1).drop("_rn"))
        words = F.split(F.col("text"), " ")
        n_words = F.size(words)
        stop_ratio = F.size(F.filter(words, lambda w: w.isin(
            "the", "a", "of", "and", "to", "in", "is", "on", "for",
            "with"))) / n_words
        # the token map is length-preserving: n_words IS the token count,
        # so the interpreted tokenizer lambda runs once per row, not twice
        return deduped.where((n_words >= 8) & (stop_ratio <= 0.9)).select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.expr(spark_tokens_expr("text")).alias("tokens"),
            n_words.alias("n_tok"), "source")

    def curate_metrics(spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        sized = size_table(_curate_documents(docs), codec="auto",
                           carry=("source", "n_tok"))
        return (sized.groupBy("source")
                .agg(F.count("*").alias("docs"),
                     F.sum("n_tok").alias("sum_tok"),
                     F.sum("size_bytes").alias("sum_out_bytes")))

    q["curate_metrics"] = curate_metrics

    # -- training-pipeline ops (dedup / similarity / text analysis) ----------
    from .functions import pipeline_sql

    # only the tables a query actually references get registered: a
    # document-only query must not pay 5 extra parquet footer reads per run
    # nor hard-fail on an sf dir lacking the TPC-H tables
    _pipeline_tables = {
        "event_sessions": ("events",),
        "nation_revenue": ("lineitem", "orders", "customer", "nation"),
        "ann_topk": ("embeddings",),
        "ann_cosine_topk": ("embeddings",),
        "ann_lsh": ("embeddings",),
        "ann_ivf": ("embeddings",),
        "ann_recall": ("embeddings",),
        "ann_recall_ivf": ("embeddings",),
        "embedding_neardup": ("embeddings",),
    }

    # queries built on the two-level distributed prefix sum: their sql_fn
    # takes a bucket_expr MONOTONE in the doc_id order (schema known only
    # at run time: numeric range bucket for numeric ids, derived
    # lexicographic string prefix otherwise)
    _bucketed_pack_queries = ("sequence_pack", "pack_sequences")

    def make_pipeline(name, owner=None):
        # owner: the REGISTRY key whose stage views this invocation owns —
        # composites that embed a MinHash pipeline (dedup_components,
        # dedup_components_verified, curate_neardup_metrics) pass their own
        # name so building composite B does not drop the views a
        # previously-BUILT-but-not-yet-executed query A still references
        # (the driver may build several DataFrames before running any)
        key = owner or name

        def run(spark, sf_dir):
            from .functions.embedding_udfs import register_embedding_udfs
            from .functions.text_udfs import register_text_udfs
            register_embedding_udfs(spark, pipeline_sql.NEARDUP_BANDS,
                                    pipeline_sql.NEARDUP_PLANES_PER_BAND)
            register_text_udfs(spark)
            _register_tables(spark, sf_dir,
                             *_pipeline_tables.get(name, ("documents",)))
            staged = pipeline_sql.SPARK_STAGES.get(name)
            if staged is None:
                if name in _bucketed_pack_queries:
                    from pyspark.sql.types import NumericType
                    dtype = spark.table("documents").schema["doc_id"].dataType
                    bucket = None if isinstance(dtype, NumericType) else \
                        _string_bucket_expr(spark)
                    # MATERIALIZE the narrow (doc_id, source, n_tok) table
                    # once: Catalyst inlines the two-level cum's `t` into
                    # BOTH its sides, re-scanning the text corpus to count
                    # words
                    (nview,) = stage_views(
                        spark, key, (sf_dir, name, bucket),
                        [("svb_stage_pack_n", lambda: spark.sql(
                            "select doc_id, source, size(split(text, ' ')) "
                            "as n_tok from documents"))])
                    d = pipeline_sql.Dialect("spark")
                    if name == "sequence_pack":
                        return spark.sql(pipeline_sql.q_sequence_pack(
                            d, bucket_expr=bucket, base_table=nview))
                    return spark.sql(pipeline_sql.q_pack_sequences(
                        d, bucket_expr=bucket, ntok_table=nview))
                return spark.sql(pipeline_sql.spark_sql(name))
            # self-join queries: materialize the signature/bands pipeline
            # ONCE (stage_views — localCheckpoint, or a durable
            # checkpoint() when spark.svb.stageCheckpointDir is set), then
            # self-join the materialized view — otherwise Catalyst inlines
            # the CTE and executes the whole scan->signature subtree on
            # BOTH join sides (see pipeline_sql.SPARK_STAGES).  The
            # uuid-suffixed view names keep two staged queries built and
            # run in one session from clobbering each other's tables.
            d = pipeline_sql.Dialect("spark")
            stages, final = staged
            bases = [view for view, _ in stages]
            raw_sqls = tuple(sql_fn(d) for _, sql_fn in stages)
            raw_final = final(d)

            def rename(sql, names):
                # token-boundary substitution of each base view name by its
                # staged name: a view name that is a PREFIX of another (or
                # echoed inside a longer identifier) must not be rewritten
                # mid-identifier — plain str.replace silently corrupts the
                # SQL in that case
                import re as _re
                if not names:
                    return sql
                mapping = dict(zip(bases, names))
                return _re.sub(
                    r"\b(" + "|".join(map(_re.escape, mapping)) + r")\b",
                    lambda m: mapping[m.group(1)], sql)
            names = stage_views(
                spark, key, (sf_dir, raw_sqls, raw_final),
                [(base, lambda *prev, raw=raw: spark.sql(rename(raw, prev)))
                 for base, raw in zip(bases, raw_sqls)])
            return spark.sql(rename(raw_final, names))
        return run

    for name in pipeline_sql.PIPELINE_QUERIES:
        q[name] = make_pipeline(name)

    # embedding_neardup, restructured (optimization guide §2.3/§8 —
    # shuffle lightweight keys, not payloads): the generic SPARK_STAGES form
    # self-joined the band table and then joined every candidate PAIR back
    # to the embedding table twice, so ~n^2/256-per-band pair rows each
    # carried 2 x 64 floats through two join exchanges and an Arrow
    # crossing (measured 12.4 s isolated at sf1.0, ~3M pairs — the round's
    # biggest headliner).  Now the materialized stage is the BANDED table
    # (vec_id, band_id, bucket, embedding — the bucket UDF and explode run
    # once, at stage build), each embedding crosses ONE numbered exchange
    # per band, the per-bucket gram-matrix kernel (neardup_local_topk)
    # computes all co-bucketed dots AND both norms in-kernel, and only
    # per-task top-50 survivor rows (<= width * 50) leave Python for the
    # global distinct + rank — no norm join, one Python node, zero scans in
    # the final plan (test_lsh_self_joins_materialize_signatures).  The
    # DuckDB oracle keeps the single-text CTE join form, so the driver gate
    # proves the kernel's dots value-identical to the SQL algorithm.
    def embedding_neardup(spark, sf_dir):
        from pyspark.sql import Window as _W
        from .functions.embedding_udfs import (neardup_local_topk,
                                               register_embedding_udfs)
        register_embedding_udfs(spark, pipeline_sql.NEARDUP_BANDS,
                                pipeline_sql.NEARDUP_PLANES_PER_BAND)
        # the bucket UDF runs above the embeddings view's fan-out exchange
        _register_tables(spark, sf_dir, "embeddings")
        raw_bands = (
            "select vec_id, band_id, bucket, embedding from "
            "(select vec_id, embedding, emb_band_buckets(embedding) as bks "
            "from embeddings) "
            "lateral view posexplode(bks) _t as band_id, bucket")
        (bands_view,) = stage_views(
            spark, "embedding_neardup", (sf_dir, raw_bands, "local-topk-v2"),
            [("svb_stage_nd_bands", lambda: spark.sql(raw_bands))])
        lt = neardup_local_topk(spark.table(bands_view), k=50)
        top = (lt.distinct()
               .orderBy(F.desc("dot"), "id_a", "id_b").limit(50))
        ranked = (top
                  .select("id_a", "id_b", "dot", F.expr(
                      "case when na = 0 or nb = 0 then cast(0.0 as double) "
                      "else round(cast(dot as double) / "
                      "(sqrt(cast(na as double)) * sqrt(cast(nb as double))"
                      "), 4) end").alias("cos_sim"))
                  .withColumn("rnk", F.row_number().over(
                      _W.orderBy(F.desc("dot"), "id_a", "id_b"))))
        return (ranked.where("rnk <= 50")
                .select(F.col("id_a").cast("string").alias("id_a"),
                        F.col("id_b").cast("string").alias("id_b"),
                        "cos_sim",
                        F.col("rnk").cast("int").alias("rank")))

    q["embedding_neardup"] = embedding_neardup

    # exact-ANN family, restructured (same guide §8 rationale as
    # embedding_neardup): the SQL form planned a BroadcastNestedLoopJoin
    # (qid != cid) whose every (query, candidate) pair carried BOTH
    # 64-float embeddings into a per-pair pandas-UDF dot (~200 MB Arrow
    # traffic, 4.2-4.8 s isolated at sf1.0).  The <= 10 query vectors are
    # a BOUNDED driver collect (fixed vec_id < 10 predicate — the same
    # class as the index probe pick), quantized once and closed over by
    # the kernel; all dots come from one exact matmul per batch and only
    # per-task top-5 survivors reach the global rank window.  The DuckDB
    # oracles keep the join + list-lambda form, proving the kernel's
    # integers (and the cosine's rounded doubles) value-identical.
    def _ann_query_vectors(spark, sf_dir):
        from .functions.embedding_udfs import EMB_DIM, QSCALE
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        rows = emb.where(F.col("vec_id") < 10) \
            .select("vec_id", "embedding").collect()
        rows.sort(key=lambda r: r.vec_id)
        q_ids = np.array([r.vec_id for r in rows], dtype=np.int64)
        if rows:
            q_mat = np.floor(np.array([r.embedding for r in rows],
                                      dtype=np.float64) * QSCALE) \
                .astype(np.int64)
            if q_mat.shape[1] != EMB_DIM:
                raise ValueError(f"query embedding dim != {EMB_DIM}")
        else:
            q_mat = np.zeros((0, EMB_DIM), np.int64)
        return emb, q_ids, q_mat

    def ann_topk(spark, sf_dir):
        from pyspark.sql import Window as _W
        from .functions.embedding_udfs import ann_exact_local_topk
        emb, q_ids, q_mat = _ann_query_vectors(spark, sf_dir)
        lt = ann_exact_local_topk(emb, q_ids, q_mat, k=5, cosine=False)
        w = _W.partitionBy("qid").orderBy(F.desc("dot"), "cid")
        return (lt.withColumn("rnk", F.row_number().over(w))
                .where("rnk <= 5")
                .select(F.col("qid").cast("string").alias("query_id"),
                        F.col("cid").cast("string").alias("neighbor_id"),
                        F.col("dot").alias("dot_sim"),
                        F.col("rnk").cast("int").alias("rank")))

    q["ann_topk"] = ann_topk

    def ann_cosine_topk(spark, sf_dir):
        from pyspark.sql import Window as _W
        from .functions.embedding_udfs import ann_exact_local_topk
        emb, q_ids, q_mat = _ann_query_vectors(spark, sf_dir)
        lt = ann_exact_local_topk(emb, q_ids, q_mat, k=5, cosine=True)
        # the exact ROUNDED cosine + final rank run in SQL over the
        # kernel's provable superset (identical expression text to
        # q_ann_cosine — the cross-engine float rule)
        cosed = lt.select("qid", "cid", F.expr(
            "case when na = 0 or nb = 0 then cast(0 as double) "
            "else round(cast(dot as double) / "
            "sqrt(cast(na as double) * cast(nb as double)), 6) end")
            .alias("cos"))
        w = _W.partitionBy("qid").orderBy(F.desc("cos"), "cid")
        return (cosed.withColumn("rnk", F.row_number().over(w))
                .where("rnk <= 5")
                .select(F.col("qid").cast("string").alias("query_id"),
                        F.col("cid").cast("string").alias("neighbor_id"),
                        F.col("cos").alias("cos_sim"),
                        F.col("rnk").cast("int").alias("rank")))

    q["ann_cosine_topk"] = ann_cosine_topk

    def _recall_join_df(ex, ap):
        """DataFrame mirror of pipeline_sql._ann_recall_join (identical
        aggregate expressions and the in-query round)."""
        ap2 = ap.select("query_id",
                        F.col("neighbor_id").alias("ap_nid"))
        exj = ex.select("query_id", "neighbor_id")
        j = exj.join(
            ap2,
            (exj["query_id"] == ap2["query_id"])
            & (exj["neighbor_id"] == ap2["ap_nid"]),
            "left").drop(ap2["query_id"])
        return (j.groupBy("query_id")
                .agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"),
                     F.count("ap_nid").cast("bigint").alias("n_hit"))
                .select("query_id", "n_exact", "n_hit",
                        F.expr("round(cast(n_hit as double) / n_exact, 4)")
                        .alias("recall")))

    def ann_recall(spark, sf_dir):
        from .functions.embedding_udfs import register_embedding_udfs
        register_embedding_udfs(spark, pipeline_sql.NEARDUP_BANDS,
                                pipeline_sql.NEARDUP_PLANES_PER_BAND)
        _register_tables(spark, sf_dir, "embeddings")
        # the approximate side is built exactly like its SPARK_STAGES form
        # but composes with the DataFrame exact side
        d = pipeline_sql.Dialect("spark")
        stages = [("svb_stage_rec_b",
                   lambda: spark.sql(pipeline_sql._ann_lsh_spark_b(d)))]
        (b,) = stage_views(
            spark, "ann_recall",
            (sf_dir, tuple(f.__qualname__ for _, f in stages), "df-v1"),
            stages)
        ap = spark.sql("with " + pipeline_sql._ann_lsh_final(d, b))
        return _recall_join_df(ann_topk(spark, sf_dir), ap)

    q["ann_recall"] = ann_recall

    def ann_recall_ivf(spark, sf_dir):
        from .functions.embedding_udfs import register_embedding_udfs
        register_embedding_udfs(spark, pipeline_sql.NEARDUP_BANDS,
                                pipeline_sql.NEARDUP_PLANES_PER_BAND)
        _register_tables(spark, sf_dir, "embeddings")
        d = pipeline_sql.Dialect("spark")
        stages = [("svb_stage_recivf_e",
                   lambda: spark.sql(pipeline_sql._ivf_spark_e(d))),
                  ("svb_stage_recivf_cells",
                   lambda e: spark.sql(pipeline_sql._ivf_cells(d, e)))]
        e, c = stage_views(
            spark, "ann_recall_ivf",
            (sf_dir, tuple(f.__qualname__ for _, f in stages), "df-v1"),
            stages)
        ap = spark.sql("with " + pipeline_sql._ivf_final(d, e, c))
        return _recall_join_df(ann_topk(spark, sf_dir), ap)

    q["ann_recall_ivf"] = ann_recall_ivf

    # near-dup clustering: transitive closure of the MinHash candidate pairs
    # via iterative min-label propagation (operators/components.py); the
    # oracle recomputes the identical components with a recursive CTE
    def dedup_components(spark, sf_dir):
        from .operators.components import connected_components
        pairs = make_pipeline("dedup_minhash_pairs",
                              owner="dedup_components")(spark, sf_dir)
        return connected_components(pairs)

    q["dedup_components"] = dedup_components

    # clustering over the VERIFIED pairs:
    # banding false-positives can chain unrelated docs into mega-components
    # at corpus scale; clustering the est-Jaccard-filtered edges instead
    # bounds that failure mode.  Oracle: the same recursive CTE over the
    # verified edge set.
    def dedup_components_verified(spark, sf_dir):
        from .operators.components import connected_components
        pairs = make_pipeline("dedup_minhash_verified",
                              owner="dedup_components_verified")(spark, sf_dir)
        return connected_components(pairs.select("doc_a", "doc_b"))

    q["dedup_components_verified"] = dedup_components_verified

    # composed curation with near-dup awareness: drop exact duplicates
    # (md5, min doc_id survives), then drop near-dup cluster members whose
    # component representative (min doc_id) is another document; report
    # per-source keep/drop counts and kept token volume
    def curate_neardup_metrics(spark, sf_dir):
        from .operators.components import connected_components
        from pyspark.sql import Window
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            F.col("doc_id").cast("string").alias("doc_id"), "source", "text")
        w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
        flagged = docs.withColumn("exact_keep",
                                  F.row_number().over(w) == 1)
        comps = connected_components(
            make_pipeline("dedup_minhash_pairs",
                          owner="curate_neardup_metrics")(spark, sf_dir))
        j = flagged.join(comps, "doc_id", "left")
        j = j.withColumn(
            "nd_drop",
            F.col("exact_keep") & F.col("component_id").isNotNull()
            & (F.col("component_id") != F.col("doc_id")))
        kept = F.col("exact_keep") & ~F.col("nd_drop")
        # token count == word count (the token map is length-preserving):
        # size(split()) is fully codegen'd, no tokenizer lambda
        n_tok = F.size(F.split("text", " ", -1))
        return (j.groupBy("source").agg(
            F.sum(kept.cast("long")).alias("docs_kept"),
            F.sum((~F.col("exact_keep")).cast("long")).alias("dropped_exact"),
            F.sum(F.col("nd_drop").cast("long")).alias("dropped_neardup"),
            F.sum(F.when(kept, n_tok).otherwise(0)).alias("sum_tok_kept")))

    q["curate_neardup_metrics"] = curate_neardup_metrics

    # -- the full pretraining-curation composite: every stage a 100 TB job
    # runs between raw documents and the dataloader, in ONE oracle-checked
    # query.  Policy order (documented, applied on both sides): exact-dup
    # losers drop first, then contaminated docs, then too-short docs; the
    # survivors are priced in packs (PACK_CAP) and auto-codec bytes.
    def curation_pipeline(spark, sf_dir):
        """scan -> exact dedup (md5 window) -> eval-set decontamination
        (broadcast left join of the staged contaminated-id set) -> length
        gate -> per-source pack count + encoded-byte budget (cost-only
        size_table).  Shares the curated pack writers' stage set
        (_build_curation_stages, without the manifest) and their one
        corpus scan and dedup rank (_ranked_curation_scan): the size
        kernel runs map-side in the scan that computes md5/n_tok, the md5
        window shuffles only narrow rows, and the contaminated-id set is
        small by construction, so the corpus never reshuffles for it."""
        hits, msrc, _man = _build_curation_stages(
            spark, sf_dir, "curation_pipeline", with_manifest=False)
        ranked = _ranked_curation_scan(spark, msrc, lambda scan: size_table(
            scan, codec="auto", carry=("source", "md5", "n_tok")))
        flags = spark.table(hits).withColumn("contaminated", F.lit(True))
        j = (ranked.join(F.broadcast(flags), "doc_id", "left")
             .withColumn("contaminated", F.col("contaminated").isNotNull()))
        keep = ((F.col("rn") == 1) & ~F.col("contaminated")
                & (F.col("n_tok") >= pipeline_sql.CURATE_MIN_TOK))
        agg = j.groupBy("source").agg(
            F.count("*").alias("docs_in"),
            F.sum((F.col("rn") > 1).cast("long")).alias("dropped_dup"),
            F.sum(((F.col("rn") == 1) & F.col("contaminated"))
                  .cast("long")).alias("dropped_contaminated"),
            F.sum(((F.col("rn") == 1) & ~F.col("contaminated")
                   & (F.col("n_tok") < pipeline_sql.CURATE_MIN_TOK))
                  .cast("long")).alias("dropped_short"),
            F.sum(keep.cast("long")).alias("docs_kept"),
            F.sum(F.when(keep, F.col("n_tok")).otherwise(0))
            .alias("sum_tok_kept"),
            F.sum(F.when(keep, F.col("size_bytes")).otherwise(0))
            .alias("sum_auto_bytes"))
        return agg.withColumn(
            "n_packs",
            F.expr(f"cast((sum_tok_kept + {pipeline_sql.PACK_CAP} - 1) "
                   f"div {pipeline_sql.PACK_CAP} as bigint)"))

    q["curation_pipeline"] = curation_pipeline

    # THE end-to-end flagship: curation policy -> pack writer in ONE
    # oracle-checked query.  curation_pipeline PRICES the curated corpus;
    # this emits the actual fixed-length training sequences of the kept
    # documents (exact-dup rn=1, not contaminated, length-gated), i.e. the
    # complete raw-corpus -> dataloader pipeline.  Stages: the shingle
    # pipeline + eval source + contaminated-id set + a NARROW curated
    # manifest (doc_id, source, n_tok — the two-level cum's totals side)
    # all materialize once; the final pack SQL scans text once, ranks the
    # md5 window, anti-joins the small hits set, and runs the standard
    # two-level pack machinery.  Oracle: same composition as single-text
    # CTEs over the one-window DuckDB form.
    def curated_pack_sequences(spark, sf_dir):
        from pyspark.sql.types import NumericType
        hits, msrc, man = _build_curation_stages(
            spark, sf_dir, "curated_pack_sequences")
        d = pipeline_sql.Dialect("spark")
        dtype = spark.table("documents").schema["doc_id"].dataType
        bucket = None if isinstance(dtype, NumericType) \
            else _string_bucket_expr(spark)
        sql = pipeline_sql.q_pack_sequences(
            d, bucket_expr=bucket, ntok_table=man,
            tok_select=pipeline_sql.curated_tok_select(d, hits, msrc))
        return spark.sql(sql)

    q["curated_pack_sequences"] = curated_pack_sequences

    # the PRODUCTION form of the same composite: encode AT THE SCAN, run
    # the curation keep-policy (md5 rank window + contamination anti-join)
    # over the encoded rows, pack the winners — NO shuffle in the whole
    # composite carries a raw token array (was: the
    # rank window shipped raw tokens, ~40 TB at 10^13).  Shares
    # curated_pack_sequences' oracle — the gate proves the all-encoded
    # plan value-identical to the raw-token SQL algorithm.
    def curated_pack_encoded(spark, sf_dir):
        from pyspark.sql.types import NumericType
        from .operators.packing import (default_numeric_order,
                                        derived_string_order,
                                        pack_encoded_rows)
        # builds this query's OWN stage set (disjoint from
        # curated_pack_sequences' — see _build_curation_stages)
        winners, dtype = curated_encoded_rows(
            spark, sf_dir, "curated_pack_encoded")
        # order_bucket follows the ORIGINAL dtype so numeric corpora order
        # by numeric value (the oracle's native order), parsed back from
        # the operator's string key
        ob = default_numeric_order(winners) \
            if isinstance(dtype, NumericType) \
            else derived_string_order(winners)
        return pack_encoded_rows(winners, order_bucket=ob)

    q["curated_pack_encoded"] = curated_pack_encoded

    # encoded-wire pack writer: identical packs to `pack_sequences`, but
    # both token-bearing shuffles (prefix-sum window + reassembly) carry
    # svb-ENCODED bytes (~1.49 B/token) instead of raw ids (4 B/token) —
    # the 30 TB-vs-80 TB line of SCALE.md.  Shares pack_sequences' DuckDB
    # oracle, so the gate proves the encoded plan value-identical to the
    # raw-token SQL algorithm.
    def pack_sequences_encoded(spark, sf_dir):
        from pyspark.sql.types import NumericType
        from .operators.packing import (derived_string_order,
                                        pack_tokens_encoded)
        tok = tokens_from_documents(spark, sf_dir)
        dtype = spark.read.parquet(f"{sf_dir}/documents.parquet") \
            .schema["doc_id"].dataType
        ob = None if isinstance(dtype, NumericType) \
            else derived_string_order(tok)
        return pack_tokens_encoded(tok, order_bucket=ob)

    q["pack_sequences_encoded"] = pack_sequences_encoded

    # the pack SINK round trip: write the auto-codec pack table to parquet
    # (the storage format a dataloader serves from: source, pack_id, n_tok,
    # codec, checksum, encoded), read it back, decode + checksum-verify +
    # fingerprint — shares pack_sequences' oracle, so the gate proves
    # STORED packs identical to the SQL algorithm's packs
    def pack_store_roundtrip(spark, sf_dir):
        from pyspark.sql.types import NumericType
        from .operators.packing import (decode_packs, derived_string_order,
                                        pack_tokens_encoded)
        tok = tokens_from_documents(spark, sf_dir)
        dtype = spark.read.parquet(f"{sf_dir}/documents.parquet") \
            .schema["doc_id"].dataType
        ob = None if isinstance(dtype, NumericType) \
            else derived_string_order(tok)
        packs = pack_tokens_encoded(tok, order_bucket=ob, emit="encoded")
        tmp = _staging_dir(sf_dir, "packs")
        packs.write.mode("overwrite").parquet(f"{tmp}/p")
        return decode_packs(spark.read.parquet(f"{tmp}/p"))

    q["pack_store_roundtrip"] = pack_store_roundtrip
    return q


def build_oracles() -> dict[str, str]:
    t, n = "tokens", "n_tok"
    doc = DOC_TOKENS_SQL
    post = POSTING_SQL
    fp = duckdb_fingerprint("tokens")
    identity_doc = (f"select doc_id, n_tok, source, {fp} as fingerprint "
                    f"from ({doc})")
    emb_rt = (f"select cast(vec_id as varchar) as vec_id, "
              f"cast(len(tokens) as int) as n_tok, {fp} as fingerprint from "
              f"(select vec_id, {EMB_TOKENS_DUCK} as tokens from embeddings)")
    o = {
        "svb_roundtrip": identity_doc,
        "svb0124_roundtrip": identity_doc,
        "delta_roundtrip_postings":
            f"select doc_id, cast(n_tok as int) as n_tok, source, {fp} as fingerprint from ({post})",
        "ef_roundtrip_postings":
            f"select doc_id, cast(n_tok as int) as n_tok, source, {fp} as fingerprint from ({post})",
        "auto_roundtrip": identity_doc,
        "fsst_roundtrip": identity_doc,
        "jsonl_roundtrip": identity_doc,
        "orc_roundtrip": identity_doc,
        "csv_roundtrip": identity_doc,
        "zigzag_roundtrip_embeddings": emb_rt,
        "zzdelta_roundtrip_embeddings": emb_rt,
        "svb_size":
            f"select doc_id, {duckdb_size_svb(t, n)} as size_bytes from ({doc})",
        "svb0124_size":
            f"select doc_id, {duckdb_size_svb0124(t, n)} as size_bytes from ({doc})",
        "delta_size_postings":
            f"select doc_id, {duckdb_size_svb_delta_wrap(t, n)} as size_bytes from ({post})",
        "ef_size_postings":
            f"select doc_id, {duckdb_size_ef(t, n)} as size_bytes from ({post})",
        "bitpack_size":
            f"select doc_id, {duckdb_size_bitpack(t, n)} as size_bytes from ({doc})",
        "for_size":
            f"select doc_id, {duckdb_size_for(t, n)} as size_bytes from ({doc})",
        "dict_size":
            f"select doc_id, {duckdb_size_dict(t, n)} as size_bytes from ({doc})",
        "rle_size":
            f"select doc_id, {duckdb_size_rle(t, n)} as size_bytes from ({doc})",
        "auto_size":
            f"select doc_id, {duckdb_size_auto(t, n)} as size_bytes from ({doc})",
        "auto_sorted_size_postings":
            f"select doc_id, {duckdb_size_auto_sorted(t, n)} as size_bytes from ({post})",
        "auto_sorted_size":
            f"select doc_id, {duckdb_size_auto_sorted(t, n)} as size_bytes from ({doc})",
        "auto_full_size":
            f"select doc_id, {duckdb_size_auto_full(t, n)} as size_bytes "
            f"from (select doc_id, {FSST_MIX_DUCK} as tokens, n_tok, source "
            f"from ({doc}))",
        "auto_full_roundtrip":
            f"select doc_id, n_tok, source, {fp} as fingerprint "
            f"from (select doc_id, {FSST_MIX_DUCK} as tokens, n_tok, source "
            f"from ({doc}))",
        "truncate_decode":
            f"select doc_id, least(n_tok, 32) as n_tok, source, "
            f"{duckdb_fingerprint('tokens[1:32]')} as fingerprint from ({doc})",
        "validate_stream":
            f"select doc_id, true as is_valid from ({doc})",
        "validate_stream_0124":
            f"select doc_id, true as is_valid from ({doc})",
        # truncating a nonempty stream always breaks the length consistency
        # the validator checks; only the empty stream (n_tok = 0) survives
        "validate_stream_truncated":
            f"select doc_id, (n_tok = 0) as is_valid from ({doc})",
        "zone_map_prune":
            f"select doc_id, cast(list_min(tokens) as bigint) as tok_min, "
            f"cast(list_max(tokens) as bigint) as tok_max from ({doc}) "
            "where n_tok > 0 and list_max(tokens) >= 1000 "
            "and list_min(tokens) <= 20000",
        # reference bound formula, include/streamvbyte.h:33-39
        "max_compressed_bound":
            f"select doc_id, ((n_tok + 3) // 4 + 4 * n_tok + 16)::bigint "
            f"as max_bytes, true as within_bound from ({doc})",
        "metrics_by_source":
            f"select source, count(*) as docs, sum(4 * n_tok)::bigint as sum_in_bytes, "
            f"sum({duckdb_size_auto(t, n)})::bigint as sum_out_bytes from ({doc}) group by source",
    }
    o["svb_size_sql"] = o["svb_size"]
    # identity round-trip on postings, mixed ef/standard codec ids
    o["auto_sorted_roundtrip"] = o["delta_roundtrip_postings"]
    # winning codec per row: first minimum in candidate priority order
    _formulas = [
        ("svb", duckdb_size_svb(t, n)),
        ("svb0124", duckdb_size_svb0124(t, n)),
        ("svb_delta", duckdb_size_svb_delta_wrap(t, n)),
        ("bitpack", duckdb_size_bitpack(t, n)),
        ("for", duckdb_size_for(t, n)),
        ("dict", duckdb_size_dict(t, n)),
        ("rle", duckdb_size_rle(t, n)),
    ]
    _least = duckdb_size_auto(t, n)
    _winner = "case " + " ".join(
        f"when ({f}) <= ({_least}) then '{name}'" for name, f in _formulas
    ) + " end"
    o["metrics_by_codec"] = (
        f"select {_winner} as codec, count(*) as docs, "
        f"sum(4 * n_tok)::bigint as sum_in_bytes, "
        f"sum({_least})::bigint as sum_out_bytes "
        f"from ({doc}) group by 1")
    o["metrics_rollup"] = (
        f"select source, codec, count(*) as docs, "
        f"sum(sz)::bigint as sum_out_bytes from "
        f"(select source, {_winner} as codec, {_least} as sz from ({doc})) "
        f"group by rollup(source, codec)")
    o["users_intersect"] = (
        "select user_id from events where event_type = 'click' "
        "intersect "
        "select user_id from events where event_type = 'error'")
    o["top_users_by_value"] = (
        "select user_id, sum(cast(round(value * 100) as bigint))::bigint as total_cents, "
        "count(*) as events from events group by user_id "
        "order by total_cents desc, user_id asc limit 10")
    o["events_hourly"] = (
        "select date_trunc('hour', ts) as hour, event_type, "
        "count(*) as events, "
        "sum(cast(round(value * 100) as bigint))::bigint as sum_value_cents "
        "from events group by 1, 2")
    # chunked roundtrip: decode(encode(chunks)) reassembled == the original
    # posting lists (identity; chunking must be lossless)
    o["chunked_roundtrip_postings"] = (
        f"select doc_id, cast(n_tok as int) as n_tok, {fp} as fingerprint "
        f"from ({post})")
    o["chunked_fused_roundtrip"] = o["chunked_roundtrip_postings"]
    o["chunked_ef_roundtrip"] = o["chunked_roundtrip_postings"]
    # inverted index: every index_* oracle derives from the LOGICAL
    # full-list index (TERM_POSTING_SQL) — the chunked scale build and the
    # encoded-wire serving path must reproduce it exactly
    tp = TERM_POSTING_SQL
    o["index_postings_roundtrip"] = (
        f"select doc_id, n_tok, source, {fp} as fingerprint from ({tp})")
    o["index_postings_size"] = (
        f"select doc_id, {duckdb_size_auto_sorted(t, n)} as size_bytes "
        f"from ({tp})")
    o["index_build_chunked"] = (
        f"select doc_id, n_tok, {fp} as fingerprint from ({tp})")
    # probe terms: the two lexicographically smallest with df >= 5 (the
    # Spark query derives the same pair from the encoded chunk table);
    # intersect of distinct posting sets, folded over ascending ids
    o["index_intersect"] = (
        f"with tp as ({tp}), "
        "q as (select doc_id as term from tp where n_tok >= 5 "
        "      order by doc_id limit 2), "
        "c as (select unnest(tokens) as did from tp "
        "      where doc_id = (select min(term) from q) "
        "      intersect "
        "      select unnest(tokens) as did from tp "
        "      where doc_id = (select max(term) from q)), "
        "ids as (select coalesce(list(did order by did), "
        "        cast([] as int[])) as ids from c) "
        "select (select min(term) from q) as term_a, "
        "(select max(term) from q) as term_b, "
        "cast(len(ids) as int) as n_common, "
        f"{duckdb_fingerprint('ids')} as fingerprint from ids")
    # k-way AND (k=3): the intersect oracle with a third subquery — the
    # three lexicographically smallest terms with df >= 5, chained set
    # INTERSECT, folded over ascending common ids
    o["index_and_multi"] = (
        f"with tp as ({tp}), "
        "q as (select doc_id as term, "
        "      row_number() over (order by doc_id) as rn "
        "      from tp where n_tok >= 5 order by doc_id limit 3), "
        "c as (select unnest(tokens) as did from tp "
        "      where doc_id = (select term from q where rn = 1) "
        "      intersect "
        "      select unnest(tokens) as did from tp "
        "      where doc_id = (select term from q where rn = 2) "
        "      intersect "
        "      select unnest(tokens) as did from tp "
        "      where doc_id = (select term from q where rn = 3)), "
        "ids as (select coalesce(list(did order by did), "
        "        cast([] as int[])) as ids from c) "
        "select (select term from q where rn = 1) as term_a, "
        "(select term from q where rn = 2) as term_b, "
        "(select term from q where rn = 3) as term_c, "
        "cast(len(ids) as int) as n_common, "
        f"{duckdb_fingerprint('ids')} as fingerprint from ids")
    # TF-weighted AND top-k: per-(term, doc) counts joined on doc id,
    # integer score, deterministic (score desc, did asc) cut — the set of
    # k rows is total-ordered, so the driver's sorted compare is exact
    o["index_topk_and"] = (
        "with p as (select term, did, cast(count(*) as int) as tf from "
        "(select unnest(string_split(text, ' ')) as term, "
        "cast(doc_id as int) as did from documents) w "
        "where term != '' group by term, did), "
        "q as (select term from (select term, count(*) as df from p "
        "      group by term) t where df >= 5 order by term limit 2) "
        "select a.did, a.tf as tf_a, b.tf as tf_b, "
        "a.tf + b.tf as score "
        "from (select did, tf from p "
        "      where term = (select min(term) from q)) a "
        "join (select did, tf from p "
        "      where term = (select max(term) from q)) b using (did) "
        "order by score desc, a.did asc limit 10")
    # OR serving: the intersect oracle with UNION (distinct by construction)
    # over the same probe pair; the count column is the union size n_docs
    o["index_union"] = (
        f"with tp as ({tp}), "
        "q as (select doc_id as term from tp where n_tok >= 5 "
        "      order by doc_id limit 2), "
        "c as (select unnest(tokens) as did from tp "
        "      where doc_id = (select min(term) from q) "
        "      union "
        "      select unnest(tokens) as did from tp "
        "      where doc_id = (select max(term) from q)), "
        "ids as (select coalesce(list(did order by did), "
        "        cast([] as int[])) as ids from c) "
        "select (select min(term) from q) as term_a, "
        "(select max(term) from q) as term_b, "
        "cast(len(ids) as int) as n_docs, "
        f"{duckdb_fingerprint('ids')} as fingerprint from ids")
    # phrase serving: positional parity — positions are RAW-SPLIT offsets
    # (pos = list index - 1; empty tokens occupy a slot and are filtered
    # AFTER position assignment, exactly the Spark posexplode semantics),
    # probe df counts distinct docs, adjacency = pos_a + 1 = pos_b
    o["index_phrase_match"] = (
        "with occ as (select u.term as term, did, u.pos as pos from "
        "(select did, unnest(list_transform(range(1, len(w) + 1), "
        "i -> {'pos': i - 1, 'term': w[i]})) as u from "
        "(select cast(doc_id as int) as did, "
        "string_split(text, ' ') as w from documents) s) x "
        "where u.term != ''), "
        "q as (select term from (select term, "
        "      count(distinct did) as df from occ group by term) t "
        "      where df >= 5 order by term limit 2), "
        "a as (select did, pos + 1 as next_pos from occ "
        "      where term = (select min(term) from q)), "
        "b as (select did, pos as next_pos from occ "
        "      where term = (select max(term) from q)), "
        "h as (select distinct did from a join b using (did, next_pos)), "
        "ids as (select coalesce(list(did order by did), "
        "        cast([] as int[])) as ids from h) "
        "select (select min(term) from q) as term_a, "
        "(select max(term) from q) as term_b, "
        "cast(len(ids) as int) as n_docs, "
        f"{duckdb_fingerprint('ids')} as fingerprint from ids")
    # stored+updates merged == the batch build over the union corpus: the
    # SQL-side equality of the streaming-maintenance lifecycle (the stream
    # itself cannot run under the batch gate; this is its oracle-grade twin)
    o["index_merge_updates"] = o["index_build_chunked"]
    # positional-wire drain equivalence: stored+updates merged on the POS
    # wire must decode to exactly the full corpus's (term, did, pos)
    # occurrences — per term, doc-major (did asc, pos asc) order, both
    # streams fingerprinted.  Positions are raw-split offsets (same occ
    # construction as the phrase oracle: pos assigned BEFORE the empty
    # filter, matching posexplode-then-filter on the Spark side).
    o["index_merge_updates_pos"] = (
        "with occ as (select u.term as term, did, u.pos as pos from "
        "(select did, unnest(list_transform(range(1, len(w) + 1), "
        "i -> {'pos': i - 1, 'term': w[i]})) as u from "
        "(select cast(doc_id as int) as did, "
        "string_split(text, ' ') as w from documents) s) x "
        "where u.term != ''), "
        "g as (select term, list(did order by did, pos) as dids, "
        "      list(pos order by did, pos) as poss, "
        "      count(*) as n_occ from occ group by term) "
        "select term as doc_id, cast(n_occ as int) as n_occ, "
        f"{duckdb_fingerprint('dids')} as fp_did, "
        f"{duckdb_fingerprint('poss')} as fp_pos from g")
    # chunked truncation: first min(20, n_tok) tokens of each posting list
    # (chunk_size 8 -> the limit falls mid-chunk-2, exercising the delta
    # prefix path; chunks 3+ never survive the tok_start filter)
    o["chunked_truncate_decode"] = (
        f"select doc_id, cast(least(n_tok, {TRUNCATE_MAX_LEN}) as int) as n_tok, "
        f"{duckdb_fingerprint(f'tokens[1:{TRUNCATE_MAX_LEN}]')} as fingerprint "
        f"from ({post})")
    # composed curation pipeline: md5 dedup (min doc_id wins), word-count +
    # stopword-ratio gate (int/int double division with the same 0.9 literal
    # on both engines -> identical IEEE outcome), tokenize, auto-codec size
    _stops = "('the','a','of','and','to','in','is','on','for','with')"
    _w = "string_split(text, ' ')"
    o["curate_metrics"] = (
        "with dd as (select doc_id, text, source from ("
        "select doc_id, text, source, row_number() over "
        "(partition by md5(text) order by doc_id) as rn from documents) "
        "where rn = 1), "
        f"gated as (select doc_id, text, source from dd "
        f"where len({_w}) >= 8 and "
        f"len(list_filter({_w}, w -> w in {_stops})) / len({_w}) <= 0.9), "
        f"tok as (select {duckdb_tokens_expr('text')} as tokens, "
        f"cast(len({duckdb_tokens_expr('text')}) as int) as n_tok, source "
        "from gated) "
        f"select source, count(*) as docs, sum(n_tok)::bigint as sum_tok, "
        f"sum({duckdb_size_auto('tokens', 'n_tok')})::bigint as sum_out_bytes "
        "from tok group by source")
    # multimodal: byte-exact recompute of the fake-media features in DuckDB
    # (hex(encode(text)) -> per-byte list; histogram argmax is integer-exact)
    _mm_bytes = (
        "with b as (select cast(doc_id as varchar) as doc_id, "
        "hex(encode(text)) as h, octet_length(encode(text))::bigint as n "
        "from documents), "
        "e as (select doc_id, n, list_transform(range(0, n), "
        "i -> ('0x' || substring(h, (2*i+1)::int, 2))::bigint) as bytes from b)")
    o["multimodal_features"] = (
        f"{_mm_bytes}, "
        "f as (select doc_id, n, coalesce(list_sum(bytes), 0)::bigint as byte_sum, "
        "list_transform(range(0, 16), g -> "
        "len(list_filter(bytes, x -> x // 16 = g))) as hist from e) "
        "select doc_id, n as n_bytes, byte_sum, "
        "cast(list_position(hist, list_max(hist)) - 1 as int) as top_bin from f")
    # image decode oracle: the PPM pixel data IS the doc's utf-8 bytes
    # truncated to h*12 (width 4, 3 channels), so channel sums are sums of
    # bytes at positions == channel (mod 3)
    o["image_decode_stats"] = (
        f"{_mm_bytes}, "
        "img as (select doc_id, (n // 12)::int as h, bytes from e where n >= 12) "
        "select doc_id, h as height, 4 as width, "
        "cast(list_sum(list_transform(range(0, h * 4), i -> bytes[3*i + 1])) as bigint) as sum_r, "
        "cast(list_sum(list_transform(range(0, h * 4), i -> bytes[3*i + 2])) as bigint) as sum_g, "
        "cast(list_sum(list_transform(range(0, h * 4), i -> bytes[3*i + 3])) as bigint) as sum_b "
        "from img")
    # PNG decode shares the PPM oracle verbatim: both synth tables carry the
    # identical pixel bytes (utf-8 doc bytes, width 4), only the container
    # differs — which is exactly the point: the compressed decode must
    # reproduce what the byte-math recomputes
    o["png_decode_stats"] = o["image_decode_stats"]
    # JPEG decode oracle: one doc byte per constant 8x8 block, 2 blocks per
    # row -> height 8*(n//2), width 16, grayscale replicated to RGB, so
    # every channel sum is 64 * the sum of the first 2*(n//2) bytes —
    # byte math only, no JPEG code on the oracle side
    o["jpeg_decode_stats"] = (
        f"{_mm_bytes}, "
        "img as (select doc_id, (n // 2)::int as hb, bytes from e "
        "where n >= 2) "
        "select doc_id, (8 * hb)::int as height, 16 as width, "
        "cast(64 * list_sum(list_transform(range(0, 2 * hb), "
        "i -> bytes[i + 1])) as bigint) as sum_r, "
        "cast(64 * list_sum(list_transform(range(0, 2 * hb), "
        "i -> bytes[i + 1])) as bigint) as sum_g, "
        "cast(64 * list_sum(list_transform(range(0, 2 * hb), "
        "i -> bytes[i + 1])) as bigint) as sum_b "
        "from img")
    # audio decode oracle: WAV data is the doc's utf-8 bytes as little-endian
    # int16 mono samples (trailing odd byte dropped); signed conversion is
    # (lo + 256*hi) - 65536 when the high bit is set
    o["audio_decode_stats"] = (
        f"{_mm_bytes}, "
        "wav as (select doc_id, (n // 2)::int as frames, bytes from e where n >= 2) "
        "select doc_id, frames, 1 as channels, 16000 as sample_rate, "
        "cast(list_sum(list_transform(range(0, frames), i -> "
        "case when bytes[2*i + 1] + 256 * bytes[2*i + 2] >= 32768 "
        "then bytes[2*i + 1] + 256 * bytes[2*i + 2] - 65536 "
        "else bytes[2*i + 1] + 256 * bytes[2*i + 2] end)) as bigint) as sum_samples "
        "from wav")
    # ADPCM decode oracle: one int16 (little-endian byte pair) per
    # constant block, 9 samples per block (block_align 8) — sum_samples is
    # 9x the signed pair sum; byte math only, no ADPCM code
    o["adpcm_decode_stats"] = (
        f"{_mm_bytes}, "
        "wav as (select doc_id, (n // 2)::int as nb, bytes from e "
        "where n >= 2) "
        "select doc_id, (9 * nb)::int as frames, 1 as channels, "
        "16000 as sample_rate, "
        "cast(9 * list_sum(list_transform(range(0, nb), i -> "
        "case when bytes[2*i + 1] + 256 * bytes[2*i + 2] >= 32768 "
        "then bytes[2*i + 1] + 256 * bytes[2*i + 2] - 65536 "
        "else bytes[2*i + 1] + 256 * bytes[2*i + 2] end)) as bigint) "
        "as sum_samples from wav")
    o["multimodal_frames"] = (
        f"{_mm_bytes}, "
        "fr as (select doc_id, n, bytes, unnest(list_filter(range(0, (n + 63) // 64), "
        "i -> i % 2 = 0)) as frame_id from e where n > 0) "
        "select doc_id, cast(frame_id as int) as frame_id, "
        "cast(least(64, n - frame_id * 64) as int) as frame_len, "
        "cast(list_sum(bytes[(frame_id * 64 + 1):"
        "(frame_id * 64 + least(64, n - frame_id * 64))]) as bigint) as frame_sum "
        "from fr")
    # vocab remap oracle: the identical rank assignment (count desc, token)
    # done relationally — explode with position, join the ranked vocab,
    # rebuild arrays ordered by position, size both sides with the auto
    # formula (empty docs contribute 0 to both sums)
    o["vocab_remap_metrics"] = (
        f"with tok as ({doc}), "
        "tcnt as (select t as token, count(*) as cnt from "
        " (select unnest(tokens) as t from tok) group by token), "
        "vocab as (select token, (row_number() over "
        " (order by cnt desc, token) - 1)::int as new_id from tcnt), "
        "e as (select doc_id, source, n_tok, u.pos as pos, u.tok as t from "
        " (select doc_id, source, n_tok, unnest(list_transform("
        "   range(1, n_tok + 1), i -> {'pos': i, 'tok': tokens[i]})) as u "
        "  from tok) s), "
        "r as (select doc_id, source, n_tok, "
        " list(v.new_id order by e.pos) as tokens "
        " from e join vocab v on e.t = v.token "
        " group by doc_id, source, n_tok), "
        f"aft as (select source, sum({duckdb_size_auto(t, n)})::bigint "
        " as bytes_after from r group by source), "
        f"bef as (select source, sum({duckdb_size_auto(t, n)})::bigint "
        " as bytes_before from tok group by source) "
        "select bef.source as source, bytes_before, bytes_after "
        "from bef join aft on bef.source = aft.source")
    # the shuffle-join remap must land on the identical remapped corpus
    o["vocab_remap_join_metrics"] = o["vocab_remap_metrics"]
    from .functions import pipeline_sql
    for name in pipeline_sql.PIPELINE_QUERIES:
        o[name] = pipeline_sql.duckdb_sql(name)
    # the encoded-wire pack writer computes the SAME packs as the SQL form
    # — one oracle proves both plans
    o["pack_sequences_encoded"] = o["pack_sequences"]
    # curation -> packs composite: the pack rebuild over the CURATED token
    # table (nested WITH carries the decontamination CTEs into tok_select)
    _dd = pipeline_sql.Dialect("duckdb")
    _msrc_d = "(select min(source) from documents)"
    _cur_tok_duck = (
        f"with sh as ({pipeline_sql._shingle_rows(_dd, 'source')}), "
        f"ev as (select distinct shingle from sh where source = {_msrc_d}), "
        "hits as (select sh.doc_id from sh join ev "
        " on sh.shingle = ev.shingle "
        f" where sh.source != {_msrc_d} group by sh.doc_id) "
        + pipeline_sql.curated_tok_select(_dd, "hits", _msrc_d))
    o["curated_pack_sequences"] = pipeline_sql.q_pack_sequences(
        _dd, tok_select=_cur_tok_duck)
    # encoded-wire curated packs: same packs, proven by the same rebuild
    o["curated_pack_encoded"] = o["curated_pack_sequences"]
    # the stored-and-served packs must be the same packs
    o["pack_store_roundtrip"] = o["pack_sequences"]
    # exact connected components via recursive CTE: propagate every
    # reachable label (UNION dedups, so the fixpoint terminates), then
    # min per node = lexicographic min doc_id of its component
    _pairs_duck = pipeline_sql.duckdb_sql("dedup_minhash_pairs")

    def _components_oracle(pairs_sql: str) -> str:
        return (
            f"with recursive pairs as (select doc_a, doc_b "
            f"from ({pairs_sql}) t), "
            "edges as (select doc_a as a, doc_b as b from pairs "
            " union all select doc_b, doc_a from pairs), "
            "cc(node, lab) as ("
            " select a, a from edges "
            " union "
            " select e.b, cc.lab from cc join edges e on e.a = cc.node) "
            "select node as doc_id, min(lab) as component_id "
            "from cc group by node")

    o["dedup_components"] = _components_oracle(_pairs_duck)
    o["dedup_components_verified"] = _components_oracle(
        pipeline_sql.duckdb_sql("dedup_minhash_verified"))
    # composed near-dup curation: same recursive components + md5 exact-dedup
    # window + token volume of the kept docs (policy: exact-dup losers drop
    # first; among exact keepers, near-dup cluster members whose component
    # representative is another doc drop too)
    o["curate_neardup_metrics"] = (
        f"with recursive pairs as (select * from ({_pairs_duck}) t), "
        "edges as (select doc_a as a, doc_b as b from pairs "
        " union all select doc_b, doc_a from pairs), "
        "cc(node, lab) as ("
        " select a, a from edges "
        " union "
        " select e.b, cc.lab from cc join edges e on e.a = cc.node), "
        "comp as (select node as doc_id, min(lab) as component_id "
        " from cc group by node), "
        # the window must order by the VARCHAR id like the Spark side
        # (which casts doc_id to string before its md5 window): a bare
        # `order by doc_id` binds the BASE numeric column in DuckDB, not
        # the select-list alias, and numeric-vs-string order diverges
        # whenever an exact-dup group straddles a digit-length boundary
        # (latent until an sf0.1 cross-engine sweep: ONE md5 twin
        # pair flipped a doc between dropped_exact and dropped_neardup)
        "d as (select cast(doc_id as varchar) as doc_id, source, text, "
        " row_number() over (partition by md5(text) "
        "  order by cast(doc_id as varchar)) as rn "
        " from documents), "
        "j as (select d.doc_id, d.source, d.text, (d.rn = 1) as exact_keep, "
        " ((d.rn = 1) and comp.component_id is not null "
        "  and comp.component_id != d.doc_id) as nd_drop "
        " from d left join comp on d.doc_id = comp.doc_id) "
        "select source, "
        "sum(case when exact_keep and not nd_drop then 1 else 0 end)::bigint as docs_kept, "
        "sum(case when not exact_keep then 1 else 0 end)::bigint as dropped_exact, "
        "sum(case when nd_drop then 1 else 0 end)::bigint as dropped_neardup, "
        "sum(case when exact_keep and not nd_drop then "
        f"cast(len({duckdb_tokens_expr('text')}) as int) else 0 end)::bigint as sum_tok_kept "
        "from j group by source")

    # end-to-end curation composite: dedup -> decontaminate -> length gate
    # -> pack/byte budget, one SQL (policy order matches the Spark side:
    # dup losers drop first, then contaminated, then short)
    _mt = pipeline_sql.CURATE_MIN_TOK
    _cap = pipeline_sql.PACK_CAP
    _sh_duck = pipeline_sql._shingle_rows(
        pipeline_sql.Dialect("duckdb"), "source")
    _keep = f"(rn = 1 and not contaminated and n_tok >= {_mt})"
    o["curation_pipeline"] = (
        f"with sh as ({_sh_duck}), "
        "ev as (select distinct shingle from sh "
        " where source = (select min(source) from documents)), "
        "hits as (select sh.doc_id from sh join ev on sh.shingle = ev.shingle "
        " where sh.source != (select min(source) from documents) "
        " group by sh.doc_id), "
        "base as (select cast(doc_id as varchar) as doc_id, source, "
        " cast(len(string_split(text, ' ')) as int) as n_tok, "
        f" {duckdb_tokens_expr('text')} as tokens, "
        " row_number() over (partition by md5(text) "
        "  order by cast(doc_id as varchar)) as rn "
        " from documents "
        " where source != (select min(source) from documents)), "
        "f as (select base.*, (hits.doc_id is not null) as contaminated "
        " from base left join hits on base.doc_id = hits.doc_id) "
        "select source, "
        "count(*)::bigint as docs_in, "
        "sum(case when rn > 1 then 1 else 0 end)::bigint as dropped_dup, "
        "sum(case when rn = 1 and contaminated then 1 else 0 end)::bigint "
        " as dropped_contaminated, "
        f"sum(case when rn = 1 and not contaminated and n_tok < {_mt} "
        " then 1 else 0 end)::bigint as dropped_short, "
        f"sum(case when {_keep} then 1 else 0 end)::bigint as docs_kept, "
        f"sum(case when {_keep} then n_tok else 0 end)::bigint "
        " as sum_tok_kept, "
        f"sum(case when {_keep} then {duckdb_size_auto('tokens', 'n_tok')} "
        " else 0 end)::bigint as sum_auto_bytes, "
        f"((sum(case when {_keep} then n_tok else 0 end)::bigint "
        f" + {_cap} - 1) // {_cap})::bigint as n_packs "
        "from f group by source")
    return o
