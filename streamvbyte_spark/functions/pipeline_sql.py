"""Training-data-pipeline queries as dialect-paired SQL (Spark SQL + DuckDB).

Deduplication (exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding
near-dup), similarity search (integer-exact dot-product top-k), and text
analysis (language-ID heuristic, quality scoring, token counting, rolling-hash
fingerprinting) — each written once against a tiny dialect table so the Spark
query and its DuckDB oracle are the same algorithm by construction.

Numeric discipline for cross-engine equality: similarity math uses integer
token / quantized-embedding values and BIGINT arithmetic (exact in both
engines); doubles appear only in final rounded outputs or thresholds computed
from identical integer inputs.

The SQL carries no partitioning hints: on Spark it reads the views that
queries._register_tables registers, already fanned out by their key
(session.fanout_scan), so every projection plans above that exchange.
"""

from __future__ import annotations

from .sqlpair import duckdb_tokens_expr, spark_tokens_expr

# deterministic MinHash parameters (textbook scheme: h(x) = (a*x + b) mod p)
# over word-3-gram SHINGLE hashes: shingle sets are near-disjoint between
# unrelated documents, so 4-row bands are selective (raw token ids over a
# shared vocabulary make bands collide at 61% of all-pairs — effectively
# a cross join at scale).
MINHASH_P = 2147483647
N_HASHES = 16
N_BANDS = 4  # -> 4 rows per band; collision prob per band = jaccard^4
_A = [709, 1049, 2707, 3733, 4391, 5519, 6229, 7177,
      8521, 9473, 10627, 11699, 12763, 13829, 14897, 15973]
_B = [12345, 23456, 34567, 45678, 56789, 67890, 78901, 89012,
      90123, 13579, 24680, 35791, 46802, 57913, 68024, 79135]

SIMHASH_A = 2654435761
SIMHASH_B = 104729
SIMHASH_BITS = 32

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")
LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "es": ("el", "la", "de"),
    "de": ("der", "und", "die"),
    "fr": ("le", "et", "les"),
}


class Dialect:
    """The handful of function-name/syntax differences between the engines."""

    def __init__(self, kind: str):
        assert kind in ("spark", "duckdb")
        self.kind = kind

    def split(self, s: str) -> str:
        return f"split({s}, ' ')" if self.kind == "spark" else f"string_split({s}, ' ')"

    def alen(self, x: str) -> str:
        # cast: DuckDB len() is BIGINT, Spark size() is INT — align schemas
        return f"size({x})" if self.kind == "spark" else f"cast(len({x}) as int)"

    def transform(self, x: str, lam: str) -> str:
        fn = "transform" if self.kind == "spark" else "list_transform"
        return f"{fn}({x}, {lam})"

    def afilter(self, x: str, lam: str) -> str:
        fn = "filter" if self.kind == "spark" else "list_filter"
        return f"{fn}({x}, {lam})"

    def amin(self, x: str) -> str:
        return f"array_min({x})" if self.kind == "spark" else f"list_min({x})"

    def adistinct(self, x: str) -> str:
        return f"array_distinct({x})" if self.kind == "spark" else f"list_distinct({x})"

    def idiv(self, a: str, b: str) -> str:
        return f"({a} div {b})" if self.kind == "spark" else f"({a} // {b})"

    def fold0(self, x: str, acc_t: str) -> str:
        """Left fold with BIGINT 0 seed: acc, t -> expression in acc_t."""
        if self.kind == "spark":
            return f"aggregate({x}, cast(0 as bigint), (acc, t) -> {acc_t})"
        return (f"list_reduce(list_prepend(cast(0 as bigint), "
                f"{self.transform(x, 't -> cast(t as bigint)')}), (acc, t) -> {acc_t})")

    def explode(self, inner_select: str, arr_alias: str, out_alias: str,
                other_cols: str) -> str:
        if self.kind == "spark":
            return (f"select {other_cols}, {out_alias} from ({inner_select}) "
                    f"lateral view explode({arr_alias}) _t as {out_alias}")
        return (f"select {other_cols}, unnest({arr_alias}) as {out_alias} "
                f"from ({inner_select})")

    def tokens(self, text: str = "text") -> str:
        return spark_tokens_expr(text) if self.kind == "spark" else duckdb_tokens_expr(text)

    def elem(self, arr: str, i: str) -> str:
        """1-based list element."""
        return f"element_at({arr}, {i})" if self.kind == "spark" else f"{arr}[{i}]"

    def seq1(self, n: str) -> str:
        """[1..n] as a list; empty when n < 1."""
        if self.kind == "spark":
            return f"(case when {n} < 1 then array() else sequence(1, {n}) end)"
        return f"(case when {n} < 1 then [] else range(1, {n} + 1) end)"

    def strhash(self, s: str) -> str:
        """Deterministic 60-bit BIGINT hash of a string: first 15 hex digits
        of md5 — identical output in both engines (verified parity)."""
        if self.kind == "spark":
            return f"cast(conv(substring(md5({s}), 1, 15), 16, 10) as bigint)"
        return f"('0x' || substring(md5({s}), 1, 15))::bigint"


def _words(d: Dialect) -> str:
    return d.split("text")


# ---------------------------------------------------------------------------


def q_dedup_exact(d: Dialect) -> str:
    """Exact dedup by content hash (hash-groupBy — the 100 TB shape: group on
    md5(text), keep min doc_id). md5 is identical in both engines."""
    return (
        "select md5(text) as text_hash, "
        "min(cast(doc_id as string)) as keeper_doc_id, "
        "count(*) as dup_count "
        "from documents group by md5(text)"
    )


def _shingle_rows(d: Dialect, extra_cols: str = "",
                  distinct: bool = True) -> str:
    """SQL producing one row per DISTINCT word-3-gram shingle per document:
    ``(doc_id[, extra_cols], shingle)`` — shared by MinHash and the n-gram
    Jaccard query.  distinct=False keeps one row per OCCURRENCE (the
    repetition-quality signal measures exactly the duplicates the
    distinct would erase).

    Shape: posexplode words -> window lead(1)/lead(2) builds the 3-gram ->
    distinct.  Spark's array higher-order functions (transform/element_at
    lambdas) are CodegenFallback — interpreted per element — so building
    shingles from per-row arrays costs ~10x this fully-codegen'd
    explode+window form (and an inline split(text) per element access is
    O(n_words^2) on top).  On Spark the registered ``documents`` view is
    already fanned out by doc_id (queries._register_tables), which also
    pre-clusters the window + distinct."""
    ec = f", {extra_cols}" if extra_cols else ""
    raw = f"select cast(doc_id as string) as doc_id{ec}, text from documents"
    if d.kind == "spark":
        word_rows = (f"select doc_id{ec}, pos + 1 as pos, word from ({raw}) "
                     f"lateral view posexplode({_words(d)}) _t as pos, word")
    else:
        word_rows = (
            f"select doc_id{ec}, u.pos as pos, u.word as word from "
            f"(select doc_id{ec}, unnest(list_transform(range(1, len(w) + 1), "
            f"i -> {{'pos': i, 'word': w[i]}})) as u from "
            f"(select doc_id{ec}, {_words(d)} as w from ({raw})))")
    shingled = (
        f"select doc_id{ec}, concat_ws(' ', word, "
        "lead(word, 1) over win, lead(word, 2) over win) as shingle, "
        "pos, count(*) over (partition by doc_id) as n "
        f"from ({word_rows}) window win as (partition by doc_id order by pos)")
    dedup = "distinct " if distinct else ""
    return (f"select {dedup}doc_id{ec}, shingle from ({shingled}) "
            "where pos + 2 <= n")


def _minhash_sig(d: Dialect) -> str:
    """Standalone SELECT producing the MinHash signature table
    ``(doc_id, mh0..mh{N_HASHES-1})``.

    Shape: shingle rows (_shingle_rows, codegen'd explode+window) -> md5
    hash once per shingle -> ONE groupBy(doc_id) computing all N_HASHES mins
    as aggregates (a projected-CTE formulation gets inlined by both
    optimizers and recomputes the hash list per hash function, 16x; a
    per-band UNION ALL re-runs the whole pipeline per band).  At 10^12 docs
    this is partial map-side min-agg + a single shuffle on doc_id.
    Docs with < 3 words have no shingles and drop out naturally (an
    empty-shingle band key would otherwise bucket ALL short docs together —
    a skew bomb)."""
    tok = (f"select doc_id, {d.strhash('shingle')} % {MINHASH_P} as h "
           f"from ({_shingle_rows(d)})")
    mins = ", ".join(
        f"min((cast({a} as bigint) * h + {b}) % {MINHASH_P}) as mh{j}"
        for j, (a, b) in enumerate(zip(_A, _B)))
    return (f"with e as ({tok}) "
            f"select doc_id, {mins} from e group by doc_id")


def _bands_from_sig(d: Dialect, sig_src: str) -> str:
    """LSH band keys (N_BANDS bands x N_HASHES/N_BANDS hashes) read from a
    signature table.  ONE pass over the signatures, bands exploded from an
    inline struct array: a per-band ``select ... UNION ALL ...`` gets its
    CTE inlined by Catalyst and recomputes the whole scan+shingle+agg
    pipeline once PER BAND (4 scans, 8 aggregates in the executed plan)."""
    rows_per = N_HASHES // N_BANDS
    keys = [(b, ", ".join(f"mh{b * rows_per + r}" for r in range(rows_per)))
            for b in range(N_BANDS)]
    if d.kind == "spark":
        structs = ", ".join(
            f"struct({b} as band_id, concat_ws('_', {cols}) as band_key)"
            for b, cols in keys)
        return (f"select doc_id, band.band_id as band_id, "
                f"band.band_key as band_key from "
                f"(select doc_id, explode(array({structs})) as band "
                f"from {sig_src})")
    structs = ", ".join(
        f"{{'band_id': {b}, 'band_key': concat_ws('_', {cols})}}"
        for b, cols in keys)
    return (f"select doc_id, u.band_id as band_id, "
            f"u.band_key as band_key from "
            f"(select doc_id, unnest([{structs}]) as u from {sig_src})")


def q_minhash_bands(d: Dialect) -> str:
    """MinHash signatures -> LSH band keys (see _minhash_sig /
    _bands_from_sig); the bucket join downstream shuffles once on
    (band_id, band_key)."""
    return (f"with sig as ({_minhash_sig(d)}) "
            + _bands_from_sig(d, "sig"))


def _minhash_pairs_final(bands_src: str) -> str:
    """Band self-join -> candidate pairs, reading bands from `bands_src`
    (a CTE name for the oracle, a MATERIALIZED temp view on the Spark side —
    see SPARK_STAGES)."""
    return (
        "select a.doc_id as doc_a, b.doc_id as doc_b "
        f"from {bands_src} a join {bands_src} b "
        "on a.band_id = b.band_id and a.band_key = b.band_key "
        "and a.doc_id < b.doc_id "
        "group by a.doc_id, b.doc_id"
    )


def q_dedup_minhash_pairs(d: Dialect) -> str:
    """LSH candidate pairs: docs sharing any band bucket."""
    return (f"with bands as ({q_minhash_bands(d)}) "
            + _minhash_pairs_final("bands"))


# signature-agreement verification threshold: estimated Jaccard (fraction of
# agreeing minhashes) >= MIN_AGREE/N_HASHES — the standard filter between LSH
# banding (which admits any single-band collision) and clustering
MINHASH_VERIFY_MIN_AGREE = 8  # of N_HASHES=16 -> est. Jaccard >= 0.5


def _minhash_verified_select(d: Dialect, sig_src: str,
                             pairs_src: str) -> str:
    """Verification join: each candidate pair pulls both docs' signatures
    and keeps the pair only if enough of the N_HASHES minhashes agree.
    Integer agreement count on both engines; the est_jaccard ratio is
    computed from those identical integers and rounded inside the query
    (the cross-engine float rule)."""
    agree = " + ".join(
        f"(case when a.mh{j} = b.mh{j} then 1 else 0 end)"
        for j in range(N_HASHES))
    return (
        f"select p.doc_a, p.doc_b, cast(({agree}) as int) as n_agree, "
        f"round(cast(({agree}) as double) / {N_HASHES}, 4) as est_jaccard "
        f"from {pairs_src} p join {sig_src} a on p.doc_a = a.doc_id "
        f"join {sig_src} b on p.doc_b = b.doc_id "
        f"where ({agree}) >= {MINHASH_VERIFY_MIN_AGREE}")


def q_dedup_minhash_verified(d: Dialect) -> str:
    """LSH candidates + the standard signature-verification stage: banding
    admits any pair colliding in ONE band (P = 1-(1-j^4)^4 — a j=0.2 pair
    still slips through ~0.6% of the time, and at corpus scale those false
    positives balloon connected components into mega-clusters).  The
    estimated Jaccard from the full 16-hash signatures filters them with
    NO second pass over the text: the signatures already exist, the
    verification join touches only candidate rows.

    Scale shape: pairs come from the banding equi-join (no all-pairs); the
    two signature joins are equi-joins on doc_id against the (small,
    one-row-per-doc) signature table, which on Spark is MATERIALIZED once
    and feeds banding AND verification (SPARK_STAGES)."""
    return (f"with sig as ({_minhash_sig(d)}), "
            f"bands as ({_bands_from_sig(d, 'sig')}), "
            f"pairs as ({_minhash_pairs_final('bands')}) "
            + _minhash_verified_select(d, "sig", "pairs"))


def q_dedup_simhash(d: Dialect) -> str:
    """32-bit SimHash over hashed token ids; near-dups share the value.

    bit_k(doc) = 1 iff sum over tokens of (2*bit_k(h(t)) - 1) > 0, with
    h(t) = (A*t + B) mod p. All BIGINT; identical in both engines.

    Spark side: ONE Arrow-vectorized pandas UDF (functions/text_udfs.
    doc_simhash_text) computing tokenizer AND the whole 32-bit value per
    batch from the raw text — the prior SQL form evaluated an interpreted
    transform() tokenizer per word plus 32 separate ``aggregate()`` HOF
    lambdas per document (each a CodegenFallback interpreted pass over the
    full token array, the worst hot-path plan of the family).  The
    DuckDB oracle keeps the tokenizer + 32-term fold, so the equality check
    still proves the fused UDF bit-for-bit."""
    if d.kind == "spark":
        return ("select cast(doc_id as string) as doc_id, "
                "doc_simhash_text(text) as simhash from documents")
    tok = f"select cast(doc_id as string) as doc_id, {d.tokens()} as tokens from documents"
    h = f"(cast({SIMHASH_A} as bigint) * t + {SIMHASH_B}) % {MINHASH_P}"
    bit_terms = []
    for k in range(SIMHASH_BITS):
        bit = f"({d.idiv(f'({h})', str(1 << k))} % 2)"
        lam_sum = d.fold0("tokens", f"acc + 2 * ({bit}) - 1")
        bit_terms.append(f"(case when {lam_sum} > 0 then cast({1 << k} as bigint) else 0 end)")
    simhash = " + ".join(bit_terms)
    return f"with tok as ({tok}) select doc_id, ({simhash}) as simhash from tok"


NGRAM_MAX_DF = 100  # drop shingles shared by more than this many docs


def q_dedup_ngram_jaccard(d: Dialect) -> str:
    """3-gram (word) shingle Jaccard for candidate pairs >= 0.5 within the
    same source. Explode -> equi-join on shingle -> count ratio: the
    shuffle-once shape that scales (vs O(n^2) pairwise).

    Skew guard: shingles appearing in more than NGRAM_MAX_DF documents are
    excluded from the JOIN side (a ubiquitous shingle — boilerplate, format
    headers — would produce df^2 join rows on one key at 10^12 docs).  The
    per-doc shingle count for the Jaccard denominator still counts ALL
    shingles, so a capped pair's jaccard is a lower bound that cannot
    create false positives."""
    return (f"with e as ({_shingle_rows(d, 'source')}), "
            + _ngram_jaccard_final("e"))


def _ngram_jaccard_final(e_src: str) -> str:
    """CTE-list body (no leading WITH): prefix `with ` when standalone."""
    return (
        f"cnt as (select doc_id, count(*) as n from {e_src} group by doc_id), "
        f"df as (select shingle, count(*) as df from {e_src} group by shingle), "
        f"j as (select e.doc_id, e.source, e.shingle from {e_src} e "
        f" join df on e.shingle = df.shingle where df.df <= {NGRAM_MAX_DF}), "
        "common as (select a.doc_id as doc_a, b.doc_id as doc_b, count(*) as c "
        " from j a join j b on a.shingle = b.shingle and a.source = b.source "
        " and a.doc_id < b.doc_id group by a.doc_id, b.doc_id) "
        "select doc_a, doc_b, "
        "round(cast(c as double) / (ca.n + cb.n - c), 4) as jaccard "
        "from common join cnt ca on common.doc_a = ca.doc_id "
        "join cnt cb on common.doc_b = cb.doc_id "
        "where cast(c as double) / (ca.n + cb.n - c) >= 0.5"
    )


QEMB = "list_transform(embedding, x -> cast(floor(cast(x as double) * 10000) as int))"
QEMB_SPARK = "transform(embedding, x -> cast(floor(cast(x as double) * 10000) as int))"


def _qemb(d: Dialect) -> str:
    return QEMB_SPARK if d.kind == "spark" else QEMB


def _dot(d: Dialect, a: str, b: str, dim: int = 64) -> str:
    """Exact BIGINT dot product of two int lists."""
    if d.kind == "spark":
        return (f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as bigint) * y), "
                f"cast(0 as bigint), (acc, v) -> acc + v)")
    return (f"list_sum(list_transform(range(1, {dim} + 1), "
            f"i -> cast({a}[i] as bigint) * {b}[i]))::bigint")


def q_ann_topk(d: Dialect) -> str:
    """Brute-force exact top-5 neighbors (integer dot product) for the first
    10 vectors. Scale path: broadcast the small query side; candidates stay
    partitioned — O(Q x N) map-side, no shuffle of the big side.

    Spark side computes the dots with the Arrow-vectorized emb_dot_q pandas
    UDF (functions/embedding_udfs.py) — identical BIGINT results to the
    DuckDB list-lambda oracle; Spark's own array HOFs are interpreted."""
    if d.kind == "spark":
        q = "select vec_id as qid, embedding as qe from embeddings where vec_id < 10"
        c = "select vec_id as cid, embedding as ce from embeddings"
        dot = "emb_dot_q(qe, ce)"
    else:
        q = f"select vec_id as qid, {_qemb(d)} as qe from embeddings where vec_id < 10"
        c = f"select vec_id as cid, {_qemb(d)} as ce from embeddings"
        dot = _dot(d, "qe", "ce")
    return (
        f"with q as ({q}), c as ({c}), "
        f"scored as (select qid, cid, {dot} as dot from q join c on qid != cid), "
        "ranked as (select qid, cid, dot, "
        " row_number() over (partition by qid order by dot desc, cid) as rnk from scored) "
        "select cast(qid as string) as query_id, cast(cid as string) as neighbor_id, "
        "dot as dot_sim, cast(rnk as int) as rank from ranked where rnk <= 5"
    )


def q_ann_cosine(d: Dialect) -> str:
    """Brute-force exact COSINE top-5 (the magnitude-invariant baseline a
    text-embedding pipeline actually ranks by; q_ann_topk is its raw-dot
    sibling).  Cross-engine float rule: dot and both squared norms are
    identical BIGINTs in both engines, so cos = dot / sqrt(na*nb) is the
    same IEEE double on both sides; it is rounded IN-QUERY and ranked with
    a cid tiebreak, so rounding-induced ties order identically.  Zero-norm
    vectors (padding rows) define cos := 0 — the embedding_neardup
    convention, exercised by the edge corpus.

    Scale shape: same as q_ann_topk — broadcast the 10-query side, one
    map-side pass over the candidates, per-query top-k windows over Q x N
    scored rows (TakeOrderedAndProject after AQE)."""
    if d.kind == "spark":
        q = ("select vec_id as qid, embedding as qe, "
             "emb_norm_q(embedding) as na from embeddings where vec_id < 10")
        c = ("select vec_id as cid, embedding as ce, "
             "emb_norm_q(embedding) as nb from embeddings")
        dot = "emb_dot_q(qe, ce)"
    else:
        q = (f"select vec_id as qid, {_qemb(d)} as qe, "
             f"{_dot(d, _qemb(d), _qemb(d))} as na "
             "from embeddings where vec_id < 10")
        c = (f"select vec_id as cid, {_qemb(d)} as ce, "
             f"{_dot(d, _qemb(d), _qemb(d))} as nb from embeddings")
        dot = _dot(d, "qe", "ce")
    cos = ("case when na = 0 or nb = 0 then cast(0 as double) "
           "else round(cast(dot as double) / "
           "sqrt(cast(na as double) * cast(nb as double)), 6) end")
    return (
        f"with q as ({q}), c as ({c}), "
        f"scored as (select qid, cid, na, nb, {dot} as dot "
        "from q join c on qid != cid), "
        f"cosed as (select qid, cid, {cos} as cos from scored), "
        "ranked as (select qid, cid, cos, "
        " row_number() over (partition by qid order by cos desc, cid) as rnk "
        " from cosed) "
        "select cast(qid as string) as query_id, "
        "cast(cid as string) as neighbor_id, "
        "cos as cos_sim, cast(rnk as int) as rank from ranked where rnk <= 5"
    )


def _hyperplane_bucket(d: Dialect, planes: list[tuple[int, int]]) -> str:
    """Sign-bit bucket of vector `v` under deterministic integer hyperplanes:
    plane (a, b) component i = ((a*(i+1) + b) mod 7) - 3; exact BIGINT dots."""
    bits = []
    for k, (a, b) in enumerate(planes):
        if d.kind == "spark":
            dot = (f"aggregate(zip_with(v, sequence(1, 64), (x, i) -> "
                   f"cast(x as bigint) * ((({a} * (i + 1) + {b}) % 7) - 3)), "
                   f"cast(0 as bigint), (acc, y) -> acc + y)")
        else:
            dot = (f"list_sum(list_transform(range(1, 65), i -> "
                   f"cast(v[i] as bigint) * ((({a} * (i + 1) + {b}) % 7) - 3)))")
        bits.append(f"(case when ({dot}) >= 0 then {1 << k} else 0 end)")
    return " + ".join(bits)


NEARDUP_BANDS = 4
NEARDUP_PLANES_PER_BAND = 8


def q_embedding_neardup(d: Dialect) -> str:
    """Top-50 most-similar embedding pairs by cosine over exact-int dots,
    candidates restricted to LSH co-bucketed pairs (deterministic total
    order: dot desc, then ids).

    Scale path: NEARDUP_BANDS band tables of sign-bit buckets (8 planes per
    band -> 256 buckets, candidate volume ~ n^2/256 per band instead of the
    O(n^2) cross join); candidate pairs come from an EQUI-join on
    (band_id, bucket) — one shuffle on a small key, never a cartesian.
    Recall is the standard banding trade-off: a near-dup pair collides in
    at least one band unless it disagrees on some plane of EVERY band.

    Spark side computes buckets/norms/dots with Arrow-vectorized pandas
    UDFs (functions/embedding_udfs.py) producing BIGINT values identical to
    the DuckDB list-lambda oracle; per-pair norms are precomputed once per
    vector, not per pair."""
    # the CTE form and the SPARK_STAGES form share one source of truth for
    # the e/bands subqueries (a divergence between them would make the
    # explain/report path and the staged execution path compute differently)
    e = _neardup_e(d)
    bands = _neardup_bands(d)
    return (f"with e as ({e}), bands as ({bands}), "
            + _neardup_final(d, "e", "bands"))


def _neardup_e(d: Dialect) -> str:
    if d.kind == "spark":
        return ("select vec_id, embedding, emb_norm_q(embedding) as nq "
                "from embeddings")
    return (f"select vec_id, v2 as v, {_dot(d, 'v2', 'v2')} as nq "
            f"from (select vec_id, {_qemb(d)} as v2 from embeddings)")


def _neardup_bands(d: Dialect) -> str:
    if d.kind == "spark":
        return ("select vec_id, band_id, bucket from "
                "(select vec_id, emb_band_buckets(embedding) as bks "
                "from embeddings) "
                "lateral view posexplode(bks) _t as band_id, bucket")
    band_sqls = []
    for bnd in range(NEARDUP_BANDS):
        planes = [(13 + 6 * (NEARDUP_PLANES_PER_BAND * bnd + k),
                   5 + 11 * (NEARDUP_PLANES_PER_BAND * bnd + k))
                  for k in range(NEARDUP_PLANES_PER_BAND)]
        band_sqls.append(
            f"select vec_id, {bnd} as band_id, "
            f"({_hyperplane_bucket(d, planes)}) as bucket "
            f"from (select vec_id, {_qemb(d)} as v from embeddings)")
    return " union all ".join(band_sqls)


def _neardup_final(d: Dialect, e_src: str, bands_src: str) -> str:
    """CTE-list body (no leading WITH): prefix `with ` when standalone.

    Spark side pre-limits with ``order by ... limit 50`` BEFORE the global
    row_number window: Catalyst plans the limit as TakeOrderedAndProject —
    per-partition top-50 then a 50-row merge — so the single-partition
    window sees 50 rows instead of every candidate pair.
    The ordering key (dot desc, id_a, id_b) is a total order, so the limit
    keeps exactly the rows the oracle's unlimited window ranks <= 50."""
    if d.kind == "spark":
        dot, na, nb = "emb_dot_q(ea.embedding, eb.embedding)", "ea.nq", "eb.nq"
    else:
        dot, na, nb = _dot(d, "ea.v", "eb.v"), "ea.nq", "eb.nq"
    pre_topk = (
        "top as (select id_a, id_b, dot, na, nb from pairs "
        " order by dot desc, id_a, id_b limit 50), "
        if d.kind == "spark" else "top as (select * from pairs), ")
    return (
        "cand as (select a.vec_id as id_a, b.vec_id as id_b "
        f" from {bands_src} a join {bands_src} b on a.band_id = b.band_id "
        " and a.bucket = b.bucket and a.vec_id < b.vec_id "
        " group by a.vec_id, b.vec_id), "
        f"pairs as (select id_a, id_b, {dot} as dot, {na} as na, {nb} as nb "
        f" from cand join {e_src} ea on cand.id_a = ea.vec_id "
        f" join {e_src} eb on cand.id_b = eb.vec_id), "
        + pre_topk +
        # zero-norm guard: zero vectors (padding / failed encodes) co-bucket
        # trivially and would divide by zero under ANSI; define their cosine
        # as 0 (identical CASE text evaluates in both engines)
        "ranked as (select id_a, id_b, dot, "
        " case when na = 0 or nb = 0 then cast(0.0 as double) else "
        " round(cast(dot as double) / (sqrt(cast(na as double)) * sqrt(cast(nb as double))), 4) end as cos_sim, "
        " row_number() over (order by dot desc, id_a, id_b) as rnk from top) "
        "select cast(id_a as string) as id_a, cast(id_b as string) as id_b, "
        "cos_sim, cast(rnk as int) as rank from ranked where rnk <= 50"
    )


def q_ann_lsh(d: Dialect) -> str:
    """LSH-bucketed ANN — the scale path for similarity search: random-
    hyperplane signs bucket the vectors; candidates are same-bucket only, so
    at 10^12 vectors the join shuffles each side once on a small bucket key
    instead of a cross join.  Hyperplane k component i = ((a_k*(i+1)+b_k) mod 7)
    - 3 (deterministic integers -> exact BIGINT dots -> exact oracle).
    Spark side: Arrow-vectorized emb_lsh_bucket / emb_dot_q pandas UDFs
    (same planes, same integers as the DuckDB lambdas)."""
    if d.kind == "spark":
        b = _ann_lsh_spark_b(d)
    else:
        planes = [(13 + 6 * k, 5 + 11 * k) for k in range(4)]
        b = (f"select vec_id, v, ({_hyperplane_bucket(d, planes)}) as bucket "
             f"from (select vec_id, {_qemb(d)} as v from embeddings)")
    return f"with b as ({b}), " + _ann_lsh_final(d, "b")


def _ann_lsh_spark_b(d: Dialect) -> str:
    return ("select vec_id, embedding as v, emb_lsh_bucket(embedding) as bucket "
            "from embeddings")


def _ann_lsh_final(d: Dialect, b_src: str) -> str:
    """CTE-list body (no leading WITH): prefix `with ` when standalone."""
    dot_qc = "emb_dot_q(q.v, c.v)" if d.kind == "spark" else _dot(d, "q.v", "c.v")
    return (
        f"q as (select * from {b_src} where vec_id < 10), "
        f"scored as (select q.vec_id as qid, c.vec_id as cid, {dot_qc} as dot "
        f" from q join {b_src} c on q.bucket = c.bucket and q.vec_id != c.vec_id), "
        "ranked as (select qid, cid, dot, row_number() over "
        " (partition by qid order by dot desc, cid) as rnk from scored) "
        "select cast(qid as string) as query_id, cast(cid as string) as neighbor_id, "
        "dot as dot_sim, cast(rnk as int) as rank from ranked where rnk <= 5"
    )


def _ann_recall_join(ex_sql: str, ap_sql: str) -> str:
    """recall@k join over two (query_id, neighbor_id, ...) result sets:
    per query, n_hit = approximate neighbors that appear in the exact
    top-k; recall = n_hit / n_exact (a ratio of identical integers,
    rounded inside the query on both engines — the cross-engine float
    rule)."""
    return (
        "select ex.query_id, cast(count(*) as bigint) as n_exact, "
        "cast(count(ap.neighbor_id) as bigint) as n_hit, "
        "round(cast(count(ap.neighbor_id) as double) / count(*), 4) as recall "
        f"from ({ex_sql}) ex left join ({ap_sql}) ap "
        "on ex.query_id = ap.query_id and ex.neighbor_id = ap.neighbor_id "
        "group by ex.query_id")


def q_ann_recall(d: Dialect) -> str:
    """ANN QUALITY EVALUATION: per-query recall@5 of the LSH-bucketed ANN
    (q_ann_lsh) against the exact brute-force baseline (q_ann_topk) — the
    acceptance metric an approximate-index rollout actually needs, computed
    inside the engine by composing the two existing pipelines verbatim
    (both dialect-paired, so the DuckDB oracle is the same composition).

    Scale shape: inherits the components' shapes — the exact side
    broadcasts the small query set (O(Q x N) map-side), the approximate
    side equi-joins on the bucket key, and the recall join itself touches
    only Q x k result rows.  On Spark the LSH bucket table is materialized
    once via SPARK_STAGES, exactly as in ann_lsh."""
    return _ann_recall_join(q_ann_topk(d), q_ann_lsh(d))


def q_ann_recall_ivf(d: Dialect) -> str:
    """recall@5 of the IVF index (q_ann_ivf) vs the exact baseline — the
    NPROBE/NLIST quality-vs-cost knob's acceptance metric, same composition
    pattern as q_ann_recall; the Spark side materializes the e/cells
    tables via SPARK_STAGES exactly as ann_ivf does."""
    return _ann_recall_join(q_ann_topk(d), q_ann_ivf(d))


IVF_NLIST = 16   # coarse cells (k-means codebook seeded by the first NLIST)
IVF_NPROBE = 2   # cells probed per query
IVF_KMEANS_ITERS = 2  # fixed Lloyd iterations (determinism: no convergence
# test, identical integer arithmetic in both engines)


def q_ann_ivf(d: Dialect) -> str:
    """IVF-style ANN — the inverted-file counterpart to q_ann_lsh: vectors
    are assigned to the nearest of IVF_NLIST coarse cells; a query probes
    its IVF_NPROBE nearest cells and ranks only those cells' vectors.

    The coarse codebook here is the first NLIST vectors (deterministic; in
    production it comes from an offline k-means and is broadcast exactly the
    same way).  Distance ranking is exact integer math on quantized
    embeddings: argmin over ||x-c||^2 = argmin over (||c||^2 - 2<x,c>)
    since ||x||^2 is constant per x — so assignment needs only the dot/norm
    primitives (Arrow-vectorized UDFs on Spark, list lambdas in DuckDB).

    Scale shape: the codebook join is NLIST-wide (broadcast-sized dimension
    table); assignment is one map-side join + a per-vector top-1 window; the
    probe join hits only NPROBE cells' inverted lists (~NPROBE/NLIST of the
    corpus) instead of a full scan — the IVF trade.  The e/cells tables are
    materialized once via SPARK_STAGES."""
    if d.kind == "spark":
        e = _ivf_spark_e(d)
        cells = _ivf_cells(d, "e")
    else:
        e = (f"select vec_id, v2 as v, {_dot(d, 'v2', 'v2')} as nq "
             f"from (select vec_id, {_qemb(d)} as v2 from embeddings)")
        cells = _ivf_cells(d, "e")
    return (f"with e as ({e}), cells as ({cells}), "
            + _ivf_final(d, "e", "cells"))


def _ivf_spark_e(d: Dialect) -> str:
    return ("select vec_id, embedding, emb_norm_q(embedding) as nq "
            "from embeddings")


def _ivf_cells(d: Dialect, e_src: str) -> str:
    """(vec_id, cell, rn) for each vector's IVF_NPROBE nearest cells under
    an IN-ENGINE K-MEANS codebook — rn = 1 is the inverted-file assignment;
    rn <= NPROBE serves the query probes.  Metric m = ||c||^2 - 2<x,c>
    (exact BIGINT; argmin-equivalent to L2 since ||x||^2 is constant per x).

    Codebook: seeded with the first IVF_NLIST vectors, refined by
    IVF_KMEANS_ITERS fixed Lloyd iterations expressed dialect-paired in
    SQL, so the DuckDB oracle computes the IDENTICAL codebook:

    * assignment — explode each vector to (vec_id, pos, qv) integer rows
      (codegen'd scalar quantization, no interpreted array lambda), join
      the NLIST*DIM-row codebook on pos (broadcast-sized), aggregate
      dot/||c||^2 per (vec_id, cell) with map-side partial agg, pick
      argmin by row_number;
    * update — new centroid component = truncated integer mean
      sum(qv) div count(*) of the assigned vectors (both engines truncate
      integer division toward zero; DuckDB's sum is cast back from HUGEINT
      before dividing), with a LEFT join back onto the previous codebook so
      an emptied cell keeps its old centroid instead of vanishing.

    Scale shape per iteration: one broadcast join against the 1024-row
    codebook + one shuffle of (vec_id, cell) assignments joined back to the
    exploded vectors; iteration count is fixed, so the plan is a static
    DAG.  In production the refined codebook would be materialized once and
    reused across queries — exactly what SPARK_STAGES does with this whole
    stage."""
    if d.kind == "spark":
        x = (f"select vec_id, pos, "
             "cast(floor(cast(val as double) * 10000) as bigint) as qv "
             f"from {e_src} lateral view posexplode(embedding) _t as pos, val")
        hint = "/*+ BROADCAST(c) */ "
    else:
        x = ("select vec_id, u.pos as pos, cast(u.qv as bigint) as qv from "
             "(select vec_id, unnest(list_transform(range(1, len(v) + 1), "
             f"i -> {{'pos': i, 'qv': v[i]}})) as u from {e_src})")
        hint = ""
    parts = [
        f"x as ({x})",
        f"cb0 as (select vec_id as cell, pos, qv from x "
        f"where vec_id < {IVF_NLIST})",
    ]
    prev = "cb0"
    mean = d.idiv("cast(sum(x.qv) as bigint)", "count(*)")
    for it in range(1, IVF_KMEANS_ITERS + 1):
        parts.append(
            f"d{it} as (select {hint}x.vec_id, c.cell, "
            "sum(x.qv * c.qv) as dot, sum(c.qv * c.qv) as nc "
            f"from x join {prev} c on x.pos = c.pos "
            "group by x.vec_id, c.cell)")
        parts.append(
            f"a{it} as (select vec_id, cell from (select vec_id, cell, "
            "row_number() over (partition by vec_id "
            f"order by nc - 2 * dot, cell) as rn from d{it}) where rn = 1)")
        parts.append(
            f"u{it} as (select a.cell, x.pos, {mean} as qv "
            f"from a{it} a join x on a.vec_id = x.vec_id "
            "group by a.cell, x.pos)")
        parts.append(
            f"cb{it} as (select cp.cell, cp.pos, coalesce(u.qv, cp.qv) as qv "
            f"from {prev} cp left join u{it} u "
            "on cp.cell = u.cell and cp.pos = u.pos)")
        prev = f"cb{it}"
    parts.append(
        f"dn as (select {hint}x.vec_id, c.cell, "
        "sum(x.qv * c.qv) as dot, sum(c.qv * c.qv) as nc "
        f"from x join {prev} c on x.pos = c.pos "
        "group by x.vec_id, c.cell)")
    return (
        "with " + ", ".join(parts) + " "
        "select vec_id, cell, rn from (select vec_id, cell, "
        "row_number() over (partition by vec_id "
        f"order by nc - 2 * dot, cell) as rn from dn) "
        f"where rn <= {IVF_NPROBE}")


def _ivf_final(d: Dialect, e_src: str, cells_src: str) -> str:
    """CTE-list body (no leading WITH): prefix `with ` when standalone."""
    dot = ("emb_dot_q(qe.embedding, ce.embedding)" if d.kind == "spark"
           else _dot(d, "qe.v", "ce.v"))
    return (
        f"assign as (select vec_id, cell from {cells_src} where rn = 1), "
        f"probes as (select vec_id as qid, cell from {cells_src} "
        f" where vec_id < 10), "
        "cand as (select distinct p.qid, a.vec_id as cid "
        " from probes p join assign a on a.cell = p.cell "
        " and a.vec_id != p.qid), "
        f"scored as (select cand.qid, cand.cid, {dot} as dot "
        f" from cand join {e_src} qe on cand.qid = qe.vec_id "
        f" join {e_src} ce on cand.cid = ce.vec_id), "
        "ranked as (select qid, cid, dot, row_number() over "
        " (partition by qid order by dot desc, cid) as rnk from scored) "
        "select cast(qid as string) as query_id, cast(cid as string) as neighbor_id, "
        "dot as dot_sim, cast(rnk as int) as rank from ranked where rnk <= 5"
    )


# ------------------------------------------------------------- text analysis

def q_token_count(d: Dialect) -> str:
    w = _words(d)
    return (
        f"select cast(doc_id as string) as doc_id, "
        f"{d.alen(w)} as n_words, "
        f"{d.alen(d.adistinct(w))} as n_distinct_words, "
        f"length(text) as n_chars "
        "from documents"
    )


def q_quality_score(d: Dialect) -> str:
    """Length/stopword/diversity heuristics (the classic pre-training quality
    gates), all integer-ratio math rounded at the end.

    Spark side: the three per-word counts come from ONE fused Arrow word-
    stats UDF (text_udfs.quality_counts — split/dictionary-encode/is_in in
    Arrow C++), not interpreted filter()/array_distinct HOF lambdas per
    word; the ratio division + round stays SQL on identical integers, so
    both engines do the same IEEE ops.  The DuckDB oracle keeps the HOF
    form, proving the kernel's counts exact."""
    w = _words(d)
    n = d.alen(w)
    if d.kind == "spark":
        n, stops, distinct = "s.n_words", "s.stops", "s.n_distinct"
        return (
            "select doc_id, "
            f"{n} as n_words, "
            f"round(cast(length(text) - {n} + 1 as double) / {n}, 4) as avg_word_len, "
            f"round(cast({stops} as double) / {n}, 4) as stopword_ratio, "
            f"round(cast({distinct} as double) / {n}, 4) as distinct_ratio "
            "from (select cast(doc_id as string) as doc_id, text, "
            "quality_counts(text) as s from documents)"
        )
    stop_in = ", ".join(f"'{s}'" for s in STOPWORDS)
    stops = d.alen(d.afilter(w, f"x -> x in ({stop_in})"))
    distinct = d.alen(d.adistinct(w))
    return (
        f"select cast(doc_id as string) as doc_id, "
        f"{n} as n_words, "
        f"round(cast(length(text) - {n} + 1 as double) / {n}, 4) as avg_word_len, "
        f"round(cast({stops} as double) / {n}, 4) as stopword_ratio, "
        f"round(cast({distinct} as double) / {n}, 4) as distinct_ratio "
        "from documents"
    )


def q_lang_id(d: Dialect) -> str:
    """N-gram/stopword language-ID heuristic: argmax of per-language marker
    hits with a fixed tie order (en > es > de > fr > unknown).  Spark side:
    marker hits from one fused Arrow word-stats UDF (text_udfs.lang_counts,
    no distinct pass); the argmax cases stay SQL."""
    if d.kind == "spark":
        hits = {lang: f"s.l_{lang}" for lang in LANG_MARKERS}
    else:
        w = _words(d)
        hits = {}
        for lang, markers in LANG_MARKERS.items():
            marker_in = ", ".join(f"'{m}'" for m in markers)
            hits[lang] = d.alen(d.afilter(w, f"x -> x in ({marker_in})"))
    cases = (
        f"case when {hits['en']} >= {hits['es']} and {hits['en']} >= {hits['de']} "
        f" and {hits['en']} >= {hits['fr']} and {hits['en']} > 0 then 'en' "
        f"when {hits['es']} >= {hits['de']} and {hits['es']} >= {hits['fr']} "
        f" and {hits['es']} > 0 then 'es' "
        f"when {hits['de']} >= {hits['fr']} and {hits['de']} > 0 then 'de' "
        f"when {hits['fr']} > 0 then 'fr' else 'unknown' end"
    )
    if d.kind == "spark":
        return (f"select doc_id, {cases} as lang_pred, lang as lang_true "
                "from (select cast(doc_id as string) as doc_id, lang, "
                "lang_counts(text) as s from documents)")
    return (f"select cast(doc_id as string) as doc_id, {cases} as lang_pred, "
            "lang as lang_true from documents")


def q_fingerprint(d: Dialect) -> str:
    """Rolling polynomial hash over token ids (document fingerprint):
    fold acc = (acc * 31 + t) mod 1e9+7 — exact BIGINT in both engines.
    Spark side: fused text -> fingerprint pandas UDF (doc_fingerprint_text;
    same rationale as q_dedup_simhash); the oracle keeps the SQL fold."""
    if d.kind == "spark":
        return ("select cast(doc_id as string) as doc_id, "
                "doc_fingerprint_text(text) as fingerprint from documents")
    fp = d.fold0("tokens", "(acc * 31 + t) % 1000000007")
    tok = f"select cast(doc_id as string) as doc_id, {d.tokens()} as tokens from documents"
    return f"with tok as ({tok}) select doc_id, {fp} as fingerprint from tok"


def q_dedup_simhash_pairs(d: Dialect) -> str:
    """SimHash near-dup candidates: the 32-bit simhash split into 2 x 16-bit
    bands; docs sharing any (band_id, band_value) are candidates — pairs
    within Hamming distance <= 1 are guaranteed to collide in >= 1 band
    (pigeonhole).  Same equi-join-on-small-key shape as MinHash banding."""
    return (f"with s as ({q_dedup_simhash(d)}), "
            + _simhash_pairs_final(d, "s"))


def _simhash_pairs_final(d: Dialect, s_src: str) -> str:
    """CTE-list body (no leading WITH): prefix `with ` when standalone."""
    # 2 bands x 16 bits: Hamming distance <= 1 guarantees a band collision
    # (pigeonhole); 8-bit bands over-collide on same-vocabulary corpora
    # because simhash bits are correlated across documents (measured 14.8%
    # of all-pairs vs 0.7% with 16-bit bands on the sf0.01 corpus)
    bands = " union all ".join(
        f"select doc_id, {k} as band_id, "
        f"{d.idiv('simhash', str(1 << (16 * k)))} % 65536 as band_val from {s_src}"
        for k in range(2))
    return (
        f"bands as ({bands}) "
        "select a.doc_id as doc_a, b.doc_id as doc_b "
        "from bands a join bands b on a.band_id = b.band_id "
        "and a.band_val = b.band_val and a.doc_id < b.doc_id "
        "group by a.doc_id, b.doc_id"
    )


def q_event_sessions(d: Dialect) -> str:
    """Sessionization: a session breaks after a >30-minute gap per user
    (lag + windowed running sum — the classic event-analytics shape; one
    shuffle on user_id covers both windows).  Integer epoch math keeps the
    gap comparison exact in both engines."""
    # tz-free exact epoch MICROseconds: events.ts is timestamp_ntz, and a
    # session-timezone-dependent conversion (unix_timestamp) diverges from
    # DuckDB's UTC epoch() across DST transitions; wall-clock calendar math
    # is identical in both engines (verified value-exact on the corpus)
    if d.kind == "spark":
        ep = ("(cast(datediff(cast(ts as date), date'1970-01-01') as bigint)"
              " * 86400000000 + (cast(date_format(ts, 'HH') as bigint) * 3600"
              " + cast(date_format(ts, 'mm') as bigint) * 60"
              " + cast(date_format(ts, 'ss') as bigint)) * 1000000"
              " + cast(date_format(ts, 'SSSSSS') as bigint))")
    else:
        ep = "epoch_us(ts)"
    # the Spark events view is fanned out on the WINDOW key
    # (queries._register_tables), so the 4x date_format epoch math runs
    # wide AND the session windows reuse that exchange
    return (
        f"with e as (select user_id, event_id, {ep} as ep from events), "
        "m as (select user_id, event_id, ep, "
        " case when ep - lag(ep) over w > 1800000000 or lag(ep) over w is null "
        " then 1 else 0 end as brk from e window w as "
        " (partition by user_id order by ep, event_id)), "
        "s as (select user_id, event_id, ep, sum(brk) over "
        " (partition by user_id order by ep, event_id "
        "  rows between unbounded preceding and current row) as session_no "
        " from m) "
        "select user_id, cast(session_no as int) as session_no, "
        "count(*) as events, "
        f"{d.idiv('cast(max(ep) - min(ep) as bigint)', '1000000')} as duration_sec "
        "from s group by user_id, session_no"
    )


def q_nation_revenue(d: Dialect) -> str:
    """Multi-way join breadth: lineitem -> orders -> customer -> nation,
    revenue in exact integer cents, top-5 nations (deterministic order).
    Scale shape: the two big fact tables join on their keys; the dimension
    joins are broadcast-sized."""
    # l_discount is a 2dp ratio: l_extendedprice * (1 - l_discount) * 100 ==
    # l_extendedprice * (100 - 100*l_discount).  round() BEFORE the integer
    # cast: a bare float->bigint cast truncates in Spark but rounds in
    # DuckDB, so 0.29*100 = 28.999... would diverge (CLAUDE.md float rule)
    rev = ("cast(round(l_extendedprice * "
           "(100 - cast(round(l_discount * 100) as bigint))) as bigint)")
    return (
        "with j as (select n.n_name as nation, "
        f"{rev} as cents "
        "from lineitem l join orders o on l.l_orderkey = o.o_orderkey "
        "join customer c on o.o_custkey = c.c_custkey "
        "join nation n on c.c_nationkey = n.n_nationkey), "
        # cast: DuckDB widens sum(BIGINT) to HUGEINT; Spark stays bigint
        "agg as (select nation, cast(sum(cents) as bigint) as revenue_cents, "
        " count(*) as items from j group by nation), "
        "r as (select nation, revenue_cents, items, row_number() over "
        " (order by revenue_cents desc, nation) as rnk from agg) "
        "select nation, revenue_cents, items, cast(rnk as int) as rank "
        "from r where rnk <= 5"
    )


def q_token_quantiles(d: Dialect) -> str:
    """Exact DISCRETE quantiles (value at rank ceil(p*n)) of per-document
    word counts by source — written as rank math because Spark's
    percentile() is continuous-interpolated while DuckDB's quantile_disc
    ranks differently; this form is identical integer arithmetic in both
    engines.

    Scale shape (Spark side): exact rank SELECTION over the VALUE-COUNT
    table.  A per-document ``row_number() over (partition by source order by
    n, doc_id)`` ranks every document of a source in ONE window task — with
    80% of a 2x10^10-doc corpus in one source that task sees ~1.6x10^10 rows
    (a scale flaw).  Instead: ``group by source, n`` first
    (map-side partial agg; the distinct word-count domain is tiny), then a
    cumulative-count window over that small table, then pick the FIRST value
    whose cumulative count reaches rank r = greatest(1, ceil(p*cnt)).  The
    value at global rank r under (n, doc_id) order is min{n : cum(n) >= r}
    — the doc_id tiebreak only permutes docs with EQUAL n, never the value
    at a rank — so the decomposition is exact.  The DuckDB oracle keeps the
    single-window row_number form, so the driver gate proves equivalence
    (the sequence_pack playbook)."""
    w = _words(d)
    if d.kind == "spark":
        picks = ", ".join(
            f"min(case when cum_c >= greatest(1, cast(ceil({p} * cnt) as "
            f"bigint)) then n end) as p{int(p * 100)}"
            for p in (0.25, 0.5, 0.75, 0.95))
        return (
            f"with b as (select source, {d.alen(w)} as n from documents), "
            "vc as (select source, n, count(*) as c from b group by source, n), "
            "cum as (select source, n, "
            " sum(c) over (partition by source order by n "
            "  rows between unbounded preceding and current row) as cum_c, "
            " sum(c) over (partition by source) as cnt from vc) "
            f"select source, {picks} from cum group by source"
        )
    base = (f"select source, cast(doc_id as string) as doc_id, "
            f"{d.alen(w)} as n from documents")
    picks = ", ".join(
        f"max(case when rn = greatest(1, cast(ceil({p} * cnt) as bigint)) "
        f"then n end) as p{int(p * 100)}"
        for p in (0.25, 0.5, 0.75, 0.95))
    return (
        f"with b as ({base}), "
        "c as (select source, n, "
        " row_number() over (partition by source order by n, doc_id) as rn, "
        " count(*) over (partition by source) as cnt from b) "
        f"select source, {picks} from c group by source"
    )


def q_top_terms(d: Dialect) -> str:
    """Top-5 most frequent words per source (ties broken alphabetically) —
    the vocabulary-profile query of a corpus pipeline.  explode -> count ->
    per-source window top-k: two shuffles, both on small keys."""
    w = _words(d)
    base = f"select source, {w} as ws from documents"
    exploded = d.explode(base, "ws", "word", "source")
    return (
        f"with e as ({exploded}), "
        "cnt as (select source, word, count(*) as n from e group by source, word), "
        "ranked as (select source, word, n, row_number() over "
        " (partition by source order by n desc, word) as rnk from cnt) "
        "select source, word, n, cast(rnk as int) as rank "
        "from ranked where rnk <= 5"
    )


def q_decontaminate(d: Dialect) -> str:
    """Training-data DECONTAMINATION: flag every training document sharing
    any word-3-gram with the held-out evaluation set (here: the
    lexicographically first source plays the eval set — deterministic in
    both engines).  Output per non-eval doc: distinct shared shingles and
    the contamination flag; docs too short to shingle report 0.

    Scale shape: the eval shingle set is tiny next to the corpus, so the
    overlap join BROADCASTs it (hinted on the Spark side) — the corpus side
    never shuffles; one groupBy(doc_id) aggregates hit counts.  The shingle
    pipeline is materialized once via SPARK_STAGES (it feeds both the eval
    set and the corpus side)."""
    return (f"with e as ({_shingle_rows(d, 'source')}), "
            + _decontaminate_final(d, "e"))


def _decontaminate_final(d: Dialect, e_src: str,
                         msrc: str = "(select min(source) from documents)") -> str:
    """CTE-list body (no leading WITH): prefix `with ` when standalone.
    msrc: scalar SQL for the eval-source name — the staged Spark path passes
    a materialized 1-row view so the three references cost three reads of
    one row, not three corpus scans."""
    hint = "/*+ BROADCAST(ev) */ " if d.kind == "spark" else ""
    return (
        f"ev as (select distinct shingle from {e_src} e "
        f" where e.source = {msrc}), "
        f"hits as (select {hint}e.doc_id, "
        " count(distinct e.shingle) as n_overlap "
        f" from {e_src} e join ev on e.shingle = ev.shingle "
        f" where e.source != {msrc} group by e.doc_id), "
        "base as (select cast(doc_id as string) as doc_id from documents "
        f" where source != {msrc}) "
        "select base.doc_id, "
        "cast(coalesce(n_overlap, 0) as bigint) as n_overlap, "
        "(coalesce(n_overlap, 0) > 0) as contaminated "
        "from base left join hits on base.doc_id = hits.doc_id"
    )


def curated_tok_select(d: Dialect, hits_src: str, msrc: str) -> str:
    """(doc_id, source, tokens, n_tok) of the CURATED corpus — the
    curation_pipeline keep-policy (exact-dup rn=1, not contaminated,
    n_tok >= CURATE_MIN_TOK) applied to the token table, shared by
    queries.curated_pack_sequences and its oracle.  The md5 rank window
    runs over ALL non-eval docs BEFORE the contamination/length filters —
    filtering first would let a contaminated keeper's duplicate slide into
    rn=1 and survive, diverging from curation_pipeline's policy.

    hits_src: relation of contaminated doc_ids (the staged decontaminate
    output on Spark, a CTE in the oracle).  msrc: scalar SQL for the eval
    source name.

    Scale shape: the rank window's shuffle carries the token arrays (they
    must reach the pack stage and text is gone after the scan) — one extra
    token-bearing shuffle over plain pack_sequences; the hits anti-join is
    against the SMALL contaminated set (broadcastable).  The encoded-wire
    production form (queries.curated_encoded_rows) encodes at the scan
    and runs this same gate over the encoded rows instead — this raw-token
    SQL form remains as curated_pack_sequences' algorithm and both
    composites' oracle.

    doc_id keeps its NATIVE type: the downstream pack cum orders by doc_id
    and the caller's bucket expression is chosen from the table's dtype —
    casting to string here would make Spark's numeric-bucket decomposition
    disagree with the oracle's single-window string order (caught by the
    gate: same pack volumes, different concatenation order).  Only the
    hits comparison casts (hits ids come from the string-keyed shingle
    pipeline)."""
    inner = (f"select doc_id, source, "
             f"{d.tokens()} as tokens, {d.alen(d.split('text'))} as n_tok, "
             "row_number() over (partition by md5(text) "
             "order by cast(doc_id as string)) as rn "
             f"from documents where source != {msrc}")
    return (f"select doc_id, source, tokens, n_tok from ({inner}) base "
            f"where rn = 1 and n_tok >= {CURATE_MIN_TOK} "
            f"and not exists (select 1 from {hits_src} h "
            "where h.doc_id = cast(base.doc_id as string))")


PACK_CAP = 256  # tokens per training sequence (small so sf0.01 yields many packs)
CURATE_MIN_TOK = 5  # curation_pipeline length gate (shared with its oracle)
# doc_id-range bucket width for the two-level prefix sum: bucket = doc_id div
# WIDTH is monotone in doc_id, so per-bucket local sums + broadcast bucket
# offsets reproduce the per-source running sum exactly.  Small enough that
# sf0.01 (500 docs) spans ~8 buckets (the test asserts multi-bucket); at
# 100 TB the width would be raised so the bucket-totals table stays tiny.
PACK_BUCKET_WIDTH = 64


def monotone_numeric_key_sql(label: str, remedy: str) -> str:
    """THE numeric doc_id key policy, shared by every two-level-prefix-sum
    consumer (the SQL pack queries and operators/packing.py): bigint value
    order, failing LOUDLY on a non-numeric id — a NULL key would silently
    misplace docs (empty broadcast equi-join / wrong window order) — with
    the caller-specific remedy named."""
    return ("coalesce(try_cast(doc_id as bigint), cast(raise_error(concat("
            f"'{label}: non-numeric doc_id ', doc_id, "
            f"' needs {remedy}')) as bigint))")


def lcp_prefix_len(lo: str, hi: str) -> int:
    """THE string-bucket prefix-length policy (shared by
    queries._string_bucket_expr and packing.derived_string_order): longest
    common prefix of the min/max id (== the LCP of ALL ids under
    lexicographic order) + 2 — LCP+1 already guarantees >= 2 distinct
    buckets whenever two distinct ids exist; +2 adds fan-out.  A FIXED
    prefix length silently collapses uniform-prefix corpora to one
    bucket."""
    import os.path as _osp
    return len(_osp.commonprefix([lo or "", hi or ""])) + 2


def _default_pack_bucket(d: Dialect) -> str:
    """Spark-side default doc_id-range bucket for the two-level prefix sum
    (queries.make_pipeline passes a derived string-prefix bucket_expr when
    the schema says doc_id is not numeric)."""
    return d.idiv(monotone_numeric_key_sql(
        "sequence_pack", "an explicit monotone bucket_expr"),
        str(PACK_BUCKET_WIDTH))


def _two_level_cum_sql(d: Dialect, bkt: str, carry: str = "",
                       tot_src: str = "t") -> str:
    """SELECT text computing the exact per-source running token sum ``cum``
    over the docs of table ``t`` (columns doc_id, source, n_tok{carry})
    ordered by doc_id — the TWO-LEVEL distributed prefix sum on the Spark
    side (level 1 windows within (source, bucket); level 2 broadcast-joins
    per-bucket prefix offsets computed over the tiny bucket-totals table),
    the plain single per-source window on DuckDB (the oracle form the gate
    proves equivalent).  Exact for any ``bkt`` monotone non-decreasing in
    the doc_id order.  ``carry``: comma-prefixed extra columns of t
    threaded through the level-1 side (e.g. ``", tokens"``).  ``tot_src``:
    the table the bucket-totals side reads (needs doc_id, source, n_tok) —
    Catalyst inlines ``t`` into both sides, so when ``t`` scans the text
    corpus the caller should pass a MATERIALIZED narrow word-count view
    here instead of paying a second corpus scan (queries.make_pipeline
    does; the operators/packing.py writer materializes its level-1 output
    for the same reason)."""
    if d.kind == "spark":
        return (
            f"select /*+ BROADCAST(b) */ doc_id, source, n_tok{carry}, "
            "cum_local + boff as cum from ("
            f"select doc_id, source, n_tok{carry}, {bkt} as bkt, "
            "cast(sum(cast(n_tok as bigint)) over (partition by source, "
            f"{bkt} order by doc_id rows between unbounded preceding and "
            "current row) as bigint) as cum_local from t where n_tok > 0"
            ") w join (select bsrc, bbkt, "
            "cast(sum(btot) over (partition by bsrc order by bbkt rows "
            "between unbounded preceding and current row) - btot as bigint) "
            "as boff from (select source as bsrc, "
            f"{bkt} as bbkt, sum(cast(n_tok as bigint)) as btot "
            f"from {tot_src} where n_tok > 0 group by source, {bkt})"
            ") b on w.source = b.bsrc and w.bkt = b.bbkt")
    # outer cast: DuckDB widens sum(BIGINT) to HUGEINT; Spark keeps bigint
    return (f"select doc_id, source, n_tok{carry}, "
            "cast(sum(cast(n_tok as bigint)) over (partition by source "
            "order by doc_id rows between unbounded preceding and current row)"
            " as bigint) as cum from t where n_tok > 0")


def q_sequence_pack(d: Dialect, bucket_expr: str | None = None,
                    base_table: str | None = None) -> str:
    """Fixed-length training-sequence packing metrics: each source's token
    stream (docs concatenated in doc_id order) is cut every PACK_CAP tokens;
    a doc spans packs floor(start/CAP)..floor(end/CAP).  Output per
    (source, pack): docs touching it, its exact token fill, and the doc-id
    range — the pack-manifest a pretraining dataloader consumes.

    Scale shape: packing is PER SOURCE (the shard-local packing real
    pipelines use), and the per-source running sum is a TWO-LEVEL distributed
    prefix sum on the Spark side — sources are few and skewed (80% ``web``),
    so a plain ``sum() over (partition by source order by doc_id)`` funnels
    most of the corpus through ONE window task (a scale flaw).
    Level 1 windows within (source, bucket) where bucket = doc_id div
    PACK_BUCKET_WIDTH (monotone in doc_id); level 2 computes per-bucket token
    totals (one tiny row per bucket), turns them into per-bucket prefix
    offsets with a window over that tiny table, and BROADCAST-joins the
    offsets back: cum = cum_local + bucket_offset, identical to the
    single-window value.  The DuckDB oracle keeps the one-window form, so the
    gate proves the decomposition exact.

    The decomposition is exact for ANY bucket expression MONOTONE
    NON-DECREASING in the doc_id order.  Default: the numeric range bucket
    doc_id div PACK_BUCKET_WIDTH.  For non-numeric doc_id columns the caller
    (queries.make_pipeline, which sees the table schema) passes a string-
    prefix bucket instead — a prefix is monotone under the lexicographic
    order both engines use for strings."""
    # n_tok == word count, so len(split) suffices — no tokenizer lambda
    # (the transform() token mapping is length-preserving in both engines).
    # base_table (Spark staged path): a MATERIALIZED narrow (doc_id,
    # source, n_tok) view — Catalyst inlines `t` into BOTH cum sides, so
    # the inline form reads the text corpus twice; the staged form scans
    # it once at stage build (queries.make_pipeline passes the view)
    tok = (f"select doc_id, n_tok, source from {base_table}" if base_table
           else f"select doc_id, {d.alen(d.split('text'))} as n_tok, source "
                "from documents")
    bkt = (bucket_expr or _default_pack_bucket(d)) if d.kind == "spark" else ""
    cum = _two_level_cum_sql(d, bkt)
    spans = ("select doc_id, source, n_tok, cum - n_tok as st, cum - 1 as en "
             "from c")
    p0 = d.idiv("st", str(PACK_CAP))
    p1 = d.idiv("en", str(PACK_CAP))
    if d.kind == "spark":
        packs = (f"select doc_id, source, st, en, pack_id from s "
                 f"lateral view explode(sequence({p0}, {p1})) _t as pack_id")
    else:
        packs = (f"select doc_id, source, st, en, "
                 f"unnest(range({p0}, {p1} + 1)) as pack_id from s")
    return (
        f"with t as ({tok}), c as ({cum}), s as ({spans}), p as ({packs}) "
        "select source, cast(pack_id as bigint) as pack_id, "
        "count(*) as docs, "
        # cast: DuckDB sum(BIGINT) is HUGEINT (pandas-canonicalizes to
        # float64 and hash-mismatches Spark's int64 at the driver)
        f"cast(sum(least(en, (pack_id + 1) * {PACK_CAP} - 1) "
        f"  - greatest(st, pack_id * {PACK_CAP}) + 1) as bigint) as pack_tokens, "
        "min(doc_id) as first_doc, max(doc_id) as last_doc "
        "from p group by source, pack_id"
    )


def q_pack_sequences(d: Dialect, bucket_expr: str | None = None,
                     ntok_table: str | None = None,
                     tok_select: str | None = None) -> str:
    """The MATERIALIZED pack writer: emit the actual fixed-length training
    sequences that ``sequence_pack``'s manifest only prices — per (source,
    pack_id), the pack's token payload, reported through the driver gate as
    (n_tok, polynomial fingerprint) because array columns cannot cross it
    (the round-trip queries' convention).  This is the last step between
    the engine and a dataloader: pack p of a source holds tokens
    [p*PACK_CAP, (p+1)*PACK_CAP) of the source's documents concatenated in
    doc_id order; a document spanning a cut continues into the next pack
    (no padding in this accounting), so every pack but a source's last
    holds exactly PACK_CAP tokens.

    Scale shape: per-doc pack spans come from the same TWO-LEVEL distributed
    prefix sum as sequence_pack (_two_level_cum_sql — no per-source
    single-task window); each doc then explodes into only the packs it
    touches, its per-pack segment cut by a codegen'd slice() (no
    interpreted lambda over token arrays); one groupBy(source, pack_id)
    reassembles segments in stream order — keys are fine-grained (one per
    PACK_CAP tokens), so no skew, and cells stay <= PACK_CAP tokens, so the
    fused-reassembly 2 GiB Arrow concerns don't apply.  The reassembly
    shuffle carries raw token ids (4 B/token) once; a byte-budgeted
    production writer would ship svb-encoded segments over the wire instead
    (operators/chunking's measured 1.49 B/token).  The fingerprint fold
    runs in the vectorized doc_fingerprint kernel (one Arrow crossing of
    the packed tokens), not an interpreted aggregate() HOF.  The DuckDB
    oracle rebuilds the identical packs from the single-window form, so the
    driver gate proves the whole decomposition (prefix sum + spanning +
    reassembly order) exact."""
    # n_tok from len(split), NOT len(tokens): the token map is
    # length-preserving, and the bucket-totals side of the two-level cum
    # (which Catalyst inlines as a second scan of t, pruned to n_tok) must
    # not pay the tokenizer transform() just to count words.  ntok_table
    # (Spark staged path): a MATERIALIZED narrow word-count view the
    # totals side reads instead of re-scanning the text corpus — the
    # window side must still scan text (the tokenizer needs it), so this
    # takes the query from two corpus scans to one.  tok_select: override
    # the whole corpus SELECT (must yield doc_id, source, tokens, n_tok) —
    # queries.curated_pack_sequences packs a curated subset this way.
    tok = tok_select or (
        f"select doc_id, source, {d.tokens()} as tokens, "
        f"{d.alen(d.split('text'))} as n_tok from documents")
    bkt = (bucket_expr or _default_pack_bucket(d)) if d.kind == "spark" else ""
    cum = _two_level_cum_sql(d, bkt, carry=", tokens",
                             tot_src=ntok_table or "t")
    spans = ("select doc_id, source, tokens, cum - n_tok as st, cum - 1 as en "
             "from c")
    cap = str(PACK_CAP)
    p0, p1 = d.idiv("st", cap), d.idiv("en", cap)
    seg_st = f"greatest(st, pack_id * {cap})"
    seg_en = f"least(en, (pack_id + 1) * {cap} - 1)"
    if d.kind == "spark":
        packs = (
            f"select source, pack_id, {seg_st} as seg_st, "
            f"slice(tokens, cast({seg_st} - st + 1 as int), "
            f"cast({seg_en} - {seg_st} + 1 as int)) as seg "
            f"from s lateral view explode(sequence({p0}, {p1})) _t as pack_id")
        # array_sort on (st, seg) structs orders by the distinct st field;
        # the .seg extraction is GetArrayStructFields (codegen'd, no lambda)
        asm = ("select source, pack_id, "
               "flatten(array_sort(collect_list("
               "named_struct('st', seg_st, 'seg', seg))).seg) as toks "
               "from p group by source, pack_id")
        return (
            f"with t as ({tok}), c as ({cum}), s as ({spans}), "
            f"p as ({packs}), g as ({asm}) "
            "select source, cast(pack_id as bigint) as pack_id, "
            "size(toks) as n_tok, doc_fingerprint(toks) as fingerprint "
            "from g")
    packs_u = (f"select source, st, en, tokens, "
               f"unnest(range({p0}, {p1} + 1)) as pack_id from s")
    segs = (f"select source, pack_id, {seg_st} as seg_st, "
            f"tokens[({seg_st} - st + 1):({seg_en} - st + 1)] as seg "
            "from pu")
    asm = ("select source, pack_id, "
           "flatten(list(seg order by seg_st)) as toks "
           "from p group by source, pack_id")
    fp = d.fold0("toks", "(acc * 31 + t) % 1000000007")
    return (
        f"with t as ({tok}), c as ({cum}), s as ({spans}), "
        f"pu as ({packs_u}), p as ({segs}), g as ({asm}) "
        "select source, cast(pack_id as bigint) as pack_id, "
        f"cast(len(toks) as int) as n_tok, {fp} as fingerprint from g")


def q_quality_repetition(d: Dialect) -> str:
    """Within-document repetition signal (the Gopher/C4-family quality
    rule): fraction of word-3-grams that are DUPLICATE occurrences,
    1 - distinct/total per doc.  Pure SQL on both engines over the same
    shingle construction the dedup family uses (_shingle_rows without the
    distinct), so the driver gate proves the duplicate counting exact;
    the rounded double divides the same two integers on both sides.
    Docs with fewer than 3 words have no 3-grams and emit no row (both
    engines).  Scale shape: the codegen'd explode+window shingle build +
    one hash aggregate on doc_id — no HOF lambdas, no self-join."""
    rows = _shingle_rows(d, distinct=False)
    return (
        "select doc_id, count(*) as n_grams, "
        "count(distinct shingle) as n_distinct, "
        "round(1 - cast(count(distinct shingle) as double) / count(*), 4) "
        "as dup_frac "
        f"from ({rows}) group by doc_id")


def q_domain_mix_sample(d: Dialect) -> str:
    """Deterministic domain-mix sampler (training-data mixture balancing):
    compute each source's token total, target the SMALLEST source's total
    (balance down), and keep each doc iff
    ``hash16(doc_id) * tok_source < target * 65536`` — i.e. keep fraction
    target/tok_source per source, decided per doc by a cross-engine-exact
    16-bit hash (first 4 hex chars of md5(doc_id), decoded with instr
    arithmetic — both engines share md5 and instr, so the SAME docs are
    kept everywhere; no engine-specific hash(), no floats in the keep
    rule).  Returns the per-source audit: docs/tokens total vs kept.

    Scale shape: one corpus scan + one tiny per-source aggregate; the
    target is a ``min() over ()`` window ON that aggregate (rows = number
    of sources), so no 1-row cross join ever enters the plan — the
    registry-wide plan test forbids BroadcastNestedLoopJoin, and the
    windowed form keeps the per-source table the only broadcast side.
    The kept-doc manifest is the same select without the final group-by."""
    n_tok = d.alen(d.split("text"))
    h = "md5(cast(doc_id as string))"
    hv = " + ".join(
        f"cast((instr('0123456789abcdef', substr({h}, {i + 1}, 1)) - 1) "
        f"* {16 ** (3 - i)} as bigint)" for i in range(4))
    big = (lambda x: f"cast({x} as bigint)")
    # the keep rule ``hv * tok_s < target * 65536`` decomposed so every
    # intermediate stays < max(tok_s, 2^32): with tok_s = th*65536 + tl,
    #   hv*tok_s < target*65536  <=>  hv*th + (hv*tl) div 65536 < target
    # (divide both sides by 65536; the 0 <= remainder < 65536 term cannot
    # flip a strict integer inequality).  The direct products overflow
    # bigint once one source exceeds ~1.4e14 tokens (hv < 65536), which
    # under ANSI mode aborts the query at exactly the corpus sizes this
    # sampler targets; here hv*th < tok_s and
    # hv*tl < 2^32, exact at any int64-countable corpus.  Both engines
    # truncate integer division toward zero on these non-negatives.
    keep = (f"t.hv * s.th + {d.idiv('(t.hv * s.tl)', '65536')} < s.target")
    return (
        f"with t as (select cast(doc_id as string) as doc_id, source, "
        f"{n_tok} as n_tok, {hv} as hv from documents), "
        f"s as (select source, tok_s, {d.idiv('tok_s', '65536')} as th, "
        f"tok_s % 65536 as tl, min(tok_s) over () as target from "
        f"(select source, {big('sum(n_tok)')} as tok_s "
        "from t group by source)) "
        "select t.source, count(*) as n_docs, "
        f"{big(f'sum(case when {keep} then 1 else 0 end)')} as n_kept, "
        f"{big('sum(t.n_tok)')} as tok_total, "
        f"{big(f'sum(case when {keep} then t.n_tok else 0 end)')} as tok_kept "
        "from t join s on t.source = s.source "
        "group by t.source")


PIPELINE_QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dedup_minhash_pairs": q_dedup_minhash_pairs,
    "dedup_minhash_verified": q_dedup_minhash_verified,
    "dedup_simhash": q_dedup_simhash,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "ann_topk": q_ann_topk,
    "ann_cosine_topk": q_ann_cosine,
    "ann_lsh": q_ann_lsh,
    "ann_ivf": q_ann_ivf,
    "ann_recall": q_ann_recall,
    "ann_recall_ivf": q_ann_recall_ivf,
    "embedding_neardup": q_embedding_neardup,
    "token_count": q_token_count,
    "quality_score": q_quality_score,
    "lang_id": q_lang_id,
    "fingerprint": q_fingerprint,
    "token_quantiles": q_token_quantiles,
    "top_terms": q_top_terms,
    "dedup_simhash_pairs": q_dedup_simhash_pairs,
    "event_sessions": q_event_sessions,
    "nation_revenue": q_nation_revenue,
    "sequence_pack": q_sequence_pack,
    "pack_sequences": q_pack_sequences,
    "decontaminate": q_decontaminate,
    "quality_repetition": q_quality_repetition,
    "domain_mix_sample": q_domain_mix_sample,
}


def spark_sql(name: str) -> str:
    return PIPELINE_QUERIES[name](Dialect("spark"))


def duckdb_sql(name: str) -> str:
    return PIPELINE_QUERIES[name](Dialect("duckdb"))


# ---------------------------------------------------------------------------
# staged Spark execution for the self-join queries
#
# Catalyst inlines a WITH-CTE into every consumer, so `bands a join bands b`
# executes the whole scan->shingle->hash->signature pipeline TWICE (once per
# join side) — invisible at sf0.01, but at 100 TB the signature build is the
# dominant cost and the inlining doubles it.  For each such query this table
# lists the expensive subplans to MATERIALIZE (localCheckpoint -> temp view)
# before running the final join, so the signature pipeline executes exactly
# once per query.  The DuckDB oracle keeps the single-text CTE form (DuckDB
# materializes CTEs referenced more than once itself), so both sides compute
# the identical algorithm.
#
# Each entry: (stages, final) where stages = ((view_name, sql_fn), ...) in
# dependency order and final = sql_fn reading from those views; all sql_fns
# take the SPARK Dialect.  View names are namespaced to avoid colliding with
# user tables.

SPARK_STAGES = {
    "dedup_minhash_pairs": (
        (("svb_stage_mh_bands", q_minhash_bands),),
        lambda d: _minhash_pairs_final("svb_stage_mh_bands"),
    ),
    "dedup_minhash_verified": (
        # signatures materialize ONCE and feed both banding and the
        # verification joins; bands materialize too (self-joined for pairs)
        (("svb_stage_mhv_sig", _minhash_sig),
         ("svb_stage_mhv_bands",
          lambda d: _bands_from_sig(d, "svb_stage_mhv_sig"))),
        lambda d: ("with pairs as ("
                   + _minhash_pairs_final("svb_stage_mhv_bands") + ") "
                   + _minhash_verified_select(d, "svb_stage_mhv_sig",
                                              "pairs")),
    ),
    "dedup_simhash_pairs": (
        (("svb_stage_sh_sim", q_dedup_simhash),),
        lambda d: "with " + _simhash_pairs_final(d, "svb_stage_sh_sim"),
    ),
    "dedup_ngram_jaccard": (
        (("svb_stage_ng_shingles", lambda d: _shingle_rows(d, "source")),),
        lambda d: "with " + _ngram_jaccard_final("svb_stage_ng_shingles"),
    ),
    "embedding_neardup": (
        (("svb_stage_nd_e", _neardup_e),
         ("svb_stage_nd_bands", _neardup_bands)),
        lambda d: "with " + _neardup_final(d, "svb_stage_nd_e", "svb_stage_nd_bands"),
    ),
    "ann_lsh": (
        (("svb_stage_lsh_b", _ann_lsh_spark_b),),
        lambda d: "with " + _ann_lsh_final(d, "svb_stage_lsh_b"),
    ),
    "ann_recall": (
        (("svb_stage_rec_b", _ann_lsh_spark_b),),
        lambda d: _ann_recall_join(
            q_ann_topk(d), "with " + _ann_lsh_final(d, "svb_stage_rec_b")),
    ),
    "ann_recall_ivf": (
        (("svb_stage_recivf_e", _ivf_spark_e),
         ("svb_stage_recivf_cells",
          lambda d: _ivf_cells(d, "svb_stage_recivf_e"))),
        lambda d: _ann_recall_join(
            q_ann_topk(d), "with " + _ivf_final(d, "svb_stage_recivf_e",
                                                "svb_stage_recivf_cells")),
    ),
    "decontaminate": (
        (("svb_stage_decon_shingles", lambda d: _shingle_rows(d, "source")),
         ("svb_stage_decon_msrc",
          lambda d: "select min(source) as s from documents")),
        lambda d: "with " + _decontaminate_final(
            d, "svb_stage_decon_shingles",
            msrc="(select s from svb_stage_decon_msrc)"),
    ),
    "ann_ivf": (
        (("svb_stage_ivf_e", _ivf_spark_e),
         ("svb_stage_ivf_cells", lambda d: _ivf_cells(d, "svb_stage_ivf_e"))),
        lambda d: "with " + _ivf_final(d, "svb_stage_ivf_e",
                                       "svb_stage_ivf_cells"),
    ),
}
