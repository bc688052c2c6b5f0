"""Dump .explain('formatted') for the headline queries into PLANS.md so the
plan shapes are reviewable (and diffable round over round).

Run: python tools/explain_report.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from streamvbyte_spark.plans.explain import count_exchanges, plan_string
from streamvbyte_spark.session import get_spark

HEADLINE = [
    "auto_roundtrip", "auto_size", "delta_roundtrip_postings",
    "metrics_by_source", "dedup_minhash_pairs", "embedding_neardup",
    "ann_topk", "events_hourly",
    "curate_metrics", "multimodal_frames", "chunked_roundtrip_postings",
    "chunked_fused_roundtrip", "truncate_decode", "sequence_pack",
    "ann_ivf", "dedup_simhash", "auto_full_roundtrip",
    "pack_sequences", "token_quantiles", "pack_sequences_encoded",
    "ann_recall", "dedup_minhash_verified", "pack_store_roundtrip",
    "png_decode_stats", "curation_pipeline", "curated_pack_sequences",
    "curated_pack_encoded", "chunked_ef_roundtrip", "auto_sorted_size",
    "jpeg_decode_stats", "adpcm_decode_stats",
    "quality_repetition", "domain_mix_sample",
    "index_build_chunked", "index_intersect", "index_topk_and",
    "index_phrase_match", "index_union", "index_merge_updates",
    "index_and_multi", "index_merge_updates_pos",
]

# queries whose plans must never contain an all-pairs join (the 100 TB
# scale contract): fail loudly if Catalyst planned one
NO_CARTESIAN = {"embedding_neardup", "dedup_minhash_pairs"}

NOTES = {
    "curation_pipeline": "ONE corpus scan: the auto-codec size kernel "
        "runs map-side in the same scan that computes md5/n_tok "
        "(size_table carry columns); the md5 rank window shuffles narrow "
        "rows only; the staged decontaminate flags join back per doc.",
    "curated_pack_sequences": "curation keep-policy feeding the pack "
        "writer: staged shingles/hits/manifest materialized once; the rank "
        "window's shuffle carries tokens (text is gone after the scan), "
        "the hits anti-join broadcasts, then the standard two-level pack "
        "machinery.",
    "dedup_minhash_verified": "LSH candidates + signature-verification "
        "join: the 16-hash signature table MATERIALIZES once and feeds "
        "banding AND both verification joins (zero parquet scans in the "
        "final plan); agreement count is a codegen'd 16-term case sum, no "
        "second text pass.",
    "pack_store_roundtrip": "Pack SINK: auto-codec packs written to "
        "parquet (source, pack_id, n_tok, codec, checksum, encoded), read "
        "back and decoded with checksum verification; the read side is one "
        "MapInArrow over the parquet scan — a dataloader-shaped plan.",
    "png_decode_stats": "Real compressed decode: one MapInArrow "
        "synthesizes the PNG containers, one decodes (zlib inflate + "
        "row-lockstep filter reversal over the whole batch); map-only "
        "after the derived single-row-group fanout exchange.",
    "auto_roundtrip": "Expected: scan -> derived single-row-group fanout "
                      "Exchange of the RAW TEXT rows (absent on a "
                      "multi-file corpus) -> JVM tokenizer -> "
                      "MapInArrow(encode) -> MapInArrow(decode+fingerprint "
                      "fused); the decoded token column never crosses back "
                      "(no aggregate() fold, no extra ArrowEvalPython).",
    "auto_size": "Expected: map-only, ONE MapInArrow running the COST-ONLY "
                 "kernel (size_table = the reference compressedbytes: no "
                 "encode pass, no encoded bytes in the plan).",
    "delta_roundtrip_postings": "One Exchange for the posting-list build "
                                "(an explicit group-key repartition "
                                "the groupBy reuses, so the heavy "
                                "collect_list runs wide on the reduce "
                                "side); encode/decode add none.",
    "metrics_by_source": "Partial (map-side) HashAggregate before the "
                         "Exchange, final after — sums combine map-side.",
    "dedup_minhash_pairs": "Bands MATERIALIZED (localCheckpoint) before the "
                           "self-join: the scan->shingle->hash->16-min-agg "
                           "signature pipeline runs ONCE; the join plan reads "
                           "Scan ExistingRDD on both sides (zero parquet "
                           "scans — asserted in tests). ONE shuffle on the "
                           "band-key equi-join + one for the group-by. "
                           "Asserted: no cartesian in plan.",
    "embedding_neardup": "Gram-matrix form: the BANDED table "
                         "(vec_id, band_id, bucket, embedding) is "
                         "MATERIALIZED once (bucket UDF + explode at stage "
                         "build); ONE numbered exchange on (band_id, "
                         "bucket) feeds ONE MapInArrow computing each "
                         "co-bucketed group's dots as a gram matrix with "
                         "both norms in-kernel and emitting only per-task "
                         "top-50 survivors; global distinct -> "
                         "TakeOrderedAndProject(50) -> rank window over "
                         "<= fanout*50 rows.  No pair join, no norm join. "
                         "Asserted: no CartesianProduct / "
                         "BroadcastNestedLoopJoin, zero parquet scans.",
    "ann_topk": "Kernel form: the <= 10 query vectors are a bounded "
                "driver collect closed over by ONE MapInArrow that "
                "computes all dots per batch with one exact matmul and "
                "emits per-task top-5 per query; the rank window sees "
                "<= fanout*Q*5 rows.  No BroadcastNestedLoopJoin anywhere "
                "in the registry anymore.",
    "events_hourly": "Partial agg + single Exchange on (hour, event_type).",
    "curate_metrics": "Composed pipeline: one Exchange for the md5-dedup "
                      "window, gate filter map-side, encode map-only, one "
                      "Exchange for the final groupBy(source).",
    "multimodal_frames": "Map-only 1:N frame explode inside a single "
                         "MapInArrow; ZERO shuffles.",
    "chunked_roundtrip_postings": "TWO exchanges: the string-key postings "
                                  "groupBy (whose partitioning the "
                                  "chunk-prev window reuses — "
                                  "posting_lists(string_key=True)) and the "
                                  "reassembly groupBy (mapInArrow drops "
                                  "the partitioning guarantee, so Catalyst "
                                  "re-shuffles; the fused variant below "
                                  "moves decode AFTER that shuffle so it "
                                  "carries encoded bytes).",
    "ann_ivf": "Inverted-file ANN: the e/cells tables are MATERIALIZED "
               "(SPARK_STAGES) so the codebook assignment runs once; the "
               "final plan joins probes to inverted lists on the cell key "
               "and ranks only probed cells — no full-corpus scoring, no "
               "cartesian, one Arrow stage for the exact per-pair dot.",
    "truncate_decode": "scan -> derived fanout exchange -> encode "
                       "-> PREFIX decode (one MapInArrow reading only each "
                       "stream's first ceil(n/4) control bytes + 32 tokens "
                       "of data bytes, folding the fingerprint in-kernel) "
                       "— truncation never touches the tail.",
    "sequence_pack": "Two-level distributed prefix sum: the running-sum "
                     "window partitions on (source, doc_id-range bucket) — "
                     "NOT source alone, which would funnel the 80% web "
                     "source through one task — with per-bucket offsets "
                     "from a tiny aggregate BROADCAST-joined back; n_tok "
                     "comes from size(split()), no tokenizer lambda.  Both "
                     "cum sides read a MATERIALIZED narrow word-count view "
                     "(zero parquet scans in this plan — the inline form "
                     "re-scanned the text corpus once per side).",
    "dedup_simhash": "ONE fused pandas UDF (text -> tokenize -> simhash): "
                     "only the text column crosses to Python, no HOF "
                     "lambda, no tokens column; the UDF plans above the "
                     "documents view's derived single-row-group fanout "
                     "exchange (absent on a multi-file corpus).",
    "auto_full_roundtrip": "8-codec selector incl. fsst: fsst-mix token "
                           "mapping as a numpy flat_transform INSIDE the "
                           "encode MapInArrow (was a per-token transform() "
                           "HOF), decode+fingerprint fused in a second; "
                           "zero per-row Python (whole-batch fsst "
                           "kernels); only the derived fanout exchange.",
    "pack_sequences": "Materialized pack writer: the same two-level prefix "
                      "sum as sequence_pack (window on (source, bucket), "
                      "broadcast offsets), then a codegen'd slice() span "
                      "explode and a fine-grained groupBy(source, pack_id) "
                      "reassembly.  4 exchanges, of which TWO carry tokens "
                      "(the level-1 window + the reassembly — SCALE.md "
                      "prices both legs); ONE text scan — the "
                      "bucket-totals side reads the materialized narrow "
                      "word-count view, only the tokenizer side scans the "
                      "corpus; the fingerprint fold is one ArrowEvalPython "
                      "over the packed arrays, no interpreted HOF.",
    "pack_sequences_encoded": "The byte-budgeted pack writer "
                              "(operators/packing.py): the level-1 "
                              "scan->tokenize->svb-encode->prefix-sum "
                              "window is MATERIALIZED once (zero parquet "
                              "scans in this plan; bucket totals read "
                              "max(cum_local) from it instead of "
                              "re-scanning the text corpus), then "
                              "decode+slice+re-encode map-side and a "
                              "segmented pack decode after the pinned "
                              "reassembly repartition — every token-"
                              "bearing exchange carries the ENCODED "
                              "column (~1.5 B/token).  Same oracle as "
                              "pack_sequences proves value-identity.",
    "ann_recall": "Recall@5 of the LSH index vs the exact baseline: the "
                  "exact side is the broadcast-queries matmul kernel "
                  "(see ann_topk); the approximate side reads the "
                  "MATERIALIZED bucket table (ann_lsh's stage); the "
                  "recall join itself is over Q x k rows.",
    "token_quantiles": "Exact rank selection over the VALUE-COUNT table: "
                       "partial-agg groupBy(source, n) reduces per-doc rows "
                       "map-side; both windows run over that tiny table — "
                       "no per-document window task anywhere.",
    "chunked_fused_roundtrip": "The mitigation, in the plan: the final "
                               "Exchange (repartition doc_id) + in-partition "
                               "Sort feed ONE PythonMapInArrow running the "
                               "segmented whole-batch decode — the shuffle "
                               "carries the ENCODED column (~1.5 B/token "
                               "instead of 4 B/token) and there is no "
                               "per-group Python stage.",
    "curated_pack_encoded": "The ALL-ENCODED curated composite: "
        "encode at the scan (md5/n_tok computed there, length gate pushed "
        "below the md5 window — partitions are text-homogeneous), the "
        "dedup rank window + broadcast contamination anti-join run over "
        "encoded rows (WindowGroupLimit pushes partial top-1 below the "
        "rank exchange), winners feed pack_encoded_rows.  NO shuffle in "
        "the composite carries raw tokens; the final plan is the "
        "materialized pack shape (zero parquet scans).",
    "chunked_ef_roundtrip": "Elias-Fano chunked postings: same "
        "chunk/shuffle/fused-decode machinery as chunked_fused_roundtrip "
        "but the wire carries EF streams (absolute values, no prev seed — "
        "24% under svb_delta on sorted postings).",
    "auto_sorted_size": "Sortedness-gated selector: map-only "
        "cost-only kernel; EF joins the per-row argmin only where the "
        "row is non-decreasing (vectorized mask) — no extra scan, no "
        "shuffle.",
    "jpeg_decode_stats": "Real baseline JPEG decode (no PIL): one "
        "MapInArrow synthesizes lossless constant-block JPEGs, one runs "
        "the marker walk + lockstep canonical Huffman over the whole batch "
        "+ one batched einsum IDCT; map-only after the derived "
        "single-row-group fanout exchange.",
    "adpcm_decode_stats": "Real compressed-audio decode (no soundfile): "
        "block-vectorized IMA ADPCM — state arrays across blocks, the "
        "loop is over samples-in-block; map-only after the derived "
        "single-row-group fanout exchange.",
    "index_intersect": "AND serving from the encoded set wire, "
        "co-grouped: common dids can only live in co-occupied chunks "
        "(chunking is by did div span, term-independent).  ONE job, one "
        "task: a Filter doc_id IN (a, b) over the staged index, narrow "
        "Coalesce 1, then ONE MapInArrow that aligns the two terms' "
        "ENCODED chunk rows by chunk_id BEFORE any decode, intersects "
        "each co-occupied pair in-lane and folds the gate row (sort, "
        "count, fingerprint in NumPy) — stopword AND rare decodes "
        "~df_rare/span pairs.  No Join, no Exchange.",
    "index_and_multi": "3-way AND, the same one-job plan as "
        "index_intersect: one doc_id IN scan of the three terms, "
        "Coalesce 1, ONE MapInArrow that keeps the chunks all three "
        "terms occupy and folds the in-lane intersection — the rarest "
        "term bounds the decode work.  No Join, no Exchange.",
    "index_topk_and": "TF top-k from the TF wire, the same one-job plan: "
        "one doc_id IN scan, Coalesce 1, ONE MapInArrow that aligns the "
        "co-occupied chunks, scores tf_a + tf_b in-lane and keeps each "
        "batch's local top-k, then TakeOrderedAndProject over the one "
        "partition.  No Join, no Exchange.",
    "index_phrase_match": "Phrase serving from the POSITIONAL wire, the "
        "same one-job plan as intersect: one doc_id IN scan, Coalesce 1, "
        "ONE MapInArrow that aligns the two terms' chunks by chunk_id, "
        "decodes all three streams (EF dids, svb tfs, svb positions), "
        "intersects the did lists in-lane and probes pos_a+1 against "
        "pos_b per common doc — no occurrence row ever shuffles — then "
        "folds the gate row from the matched dids.  No Join, no Exchange.",
    "index_union": "OR serving from the encoded set wire, the same "
        "one-job plan: one doc_id IN scan, Coalesce 1, ONE MapInArrow "
        "that aligns every chunk either term occupies (the missing side "
        "reads count 0 and an empty stream) and unions in-lane — chunk "
        "did-ranges are disjoint, so the in-lane dedup IS the global "
        "dedup and the exploded-did distinct shuffle disappears.  No "
        "Join, no Exchange.",
    "index_merge_updates": "Store maintenance: ONE hash shuffle on "
        "(term, chunk_id) over CHUNK rows (never postings) ranks "
        "generations by content count — byte-level replacement, no "
        "decode in the merge; the gated query then proves the merged "
        "table reassembles to the full batch build (the streamed-drain "
        "equivalence).",
}


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    out = ["# PLANS — physical plans of headline queries (auto-generated)\n",
           f"`python tools/explain_report.py {sf_dir}`\n"]
    for name in HEADLINE:
        df = qs[name](spark, sf_dir)
        n_ex = count_exchanges(df)
        plan = plan_string(df, "formatted")
        if name in NO_CARTESIAN:
            for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
                assert bad not in plan, f"{name}: {bad} in physical plan"
        # keep reports readable: formatted header section only
        head = plan.split("\n\n")[0]
        out.append(f"\n## {name}\n\n{NOTES.get(name, '')}\n"
                   f"\nShuffle exchanges: **{n_ex}**\n\n```\n{head}\n```\n")
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
