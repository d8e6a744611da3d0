"""Generate EXPLAIN.md: formatted physical plans for the flagship
queries with the scale-relevant properties called out. Evidence that
filters reach the scan, projections prune, joins broadcast, and the
custom operators compile to the intended shapes.

    python scripts/explain_report.py [sf_dir]
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from hustle_spark.session import get_session  # noqa: E402
from hustle_spark import registry  # noqa: E402
from hustle_spark.plans import explain_str  # noqa: E402

SHOWCASE = {
    "q1_pricing_summary": "filter pushed to parquet; 6-of-11 column read; partial+final HashAggregate",
    "join_equi_revenue": "both sides filter-pushed; AQE broadcast hash join",
    "q5_local_supplier_volume": "6-table join; dims broadcast; fact scanned once",
    "asof_join_signup": "as-of join compiles to union + window: ZERO join nodes",
    "range_join_purchase_errors": "interval join as bucketized equi-join (no nested loop)",
    "similarity_topk_exact": "query side broadcast; corpus streamed once",
    "time_tumbling_hour": "partial+final aggregate over event-time buckets",
    "sessionize_users": "two window passes over one shuffle",
    "q16_supplier_part_counts": "semi/anti dims broadcast; distinct at output granularity so the only wide shuffle moves qualifying rows",
    "q21_waiting_orders": "per-order stats via window over the join's own partitioning key: one lineitem shuffle total",
    "q10_returned_items": "revenue pre-aggregated to custkey before the customer join; top-20 via TakeOrderedAndProject",
    "q15_top_supplier": "revenue view cached (InMemoryRelation feeds both join and scalar max): lineitem scanned once",
    "q17_small_quantity_revenue": "brand filter broadcast into the fact; per-part threshold as window on ONE filtered scan",
    "contamination_ngram_scan": "corpus grams explode map-only; eval gram set broadcast; corpus never shuffled",
    "dedup_cluster_cc": "bounded audit-sample edges; CC iterations are equi-joins + groupBy-min only",
    "repetition_top_bigram": "per-doc top-bigram via nested HOFs: corpus never shuffled, only the (lang) rollup moves",
    "sequence_packing": "one window cumsum per (lang); integer bin arithmetic, no second shuffle",
    "tfidf_top_terms": "explode absorbed by map-side partial agg; top-k window runs on the vocabulary-sized term table",
    "doc_chunking": "chunking is map-only (split/sequence/explode/slice); chunk text never materialized; only the lang rollup shuffles",
    "embedding_quantize_int8": "quantization via HOFs map-only; single label aggregate",
    "dedup_incremental": "digest-only index broadcast into batch-sized left join; keep-min window on the same key",
    "mixture_token_budget": "one window shuffle on source; hash-rank cumsum then threshold",
    "skew_profile": "total re-aggregated from per-key counts (no second corpus scan); top-10 via TakeOrderedAndProject",
    "table_profile": "four columns profiled in ONE scan + ONE aggregate (multi-distinct Expand)",
    "funnel_stages": "stage anchors are chained whole-partition window MINs: one user_id shuffle, zero self-joins",
    "cohort_retention": "cohort join reuses the user_id aggregation key; integer epoch-day buckets",
    "top_customer_share": "spend pre-aggregated to custkey; customer broadcast; rank + national-total windows share ONE exchange+sort",
    "ntile_customer_quartiles": "NTILE window and quartile aggregate off one segment shuffle; bounded re-agg",
    "markov_transitions": "lag window is the only corpus shuffle; transition matrix re-agg is 5x5-bounded",
    "stratified_sample_stats": "content-addressed md5 keep-filter map-only; 3-column pruned scan; one aggregate",
    "bigram_vocab_stats": "bigram shingles explode map-side; only the lang rollup shuffles",
    "skew_salted_join_requery": "hot key spread over 8 salt sub-keys; small side exploded per salt; result == plain join",
    "bucketed_join_requery": "both sides bucketed by join key: SortMergeJoin with ZERO Exchange before the agg",
    "multimodal_pixel_probe": "complete BMPs synthesized in codegen (nested HOFs); one Arrow-batched MapInPandas decode stage, no shuffle before it",
    "similarity_ann_lsh": "bucket candidates scored map-side; dedup shuffles (query_id, id, cosine) scalars, never vectors",
    "embedding_near_dup": "bucket self-join via ReusedExchange (signatures shuffled once, read twice); scalar distinct after the threshold filter",
    "dedup_containment_pairs": "winnowed fingerprints map-only (shifted-least passes); 16-byte (id, fp) equi-join; integer-permille scoring",
    "text_unigram_quality": "vocab fppm broadcast; per-doc explode partial-aggregates before its one shuffle (~1 row/doc moves)",
    "boilerplate_removal": "paragraphs explode map-side; hot-digest set is a broadcast anti-join; paragraph TEXT crosses one shuffle total (the reassembly groupBy)",
    "dedup_pipeline_keepers": "composed pipeline: map-only signatures, banded equi-join, pointer-jump CC, ONE keeper window on cluster_id; document text never shuffles",
    "multimodal_resize_probe": "BMPs synthesized in codegen; decode + NN resample fused in one Arrow-batched MapInPandas stage, no shuffle",
    "multimodal_audio_samples": "complete PCM WAVs in codegen (per-sample LE hex via transform); one MapInPandas sample-decode stage, no shuffle",
    "multimodal_frame_sample": "mdat frame bytes in codegen; frame explode happens executor-side INSIDE the Arrow batch — no Spark-level explode, no shuffle",
    "corpus_diff": "both corpus versions reduce map-side to (id, md5) before the one full-outer shuffle; text never moves",
    "padding_waste_buckets": "exact CDF on the bounded length histogram (constant-cost single-partition window); bucket map broadcast back; one bounded final shuffle",
    "embedding_random_projection": "JL +-1 coefficients as literal arrays; 8 codegen folds per row, map-only, zero shuffle",
    "compact_requery": "four-small-file pathology -> staged-swap compact -> aggregate-identical requery; scan reads the rewritten files",
    "embedding_contamination_scan": "benchmark side broadcast (BroadcastNestedLoop by design: scored filterless); per-row max collapses in the map-side partial aggregate — corpus never shuffles",
    "vocab_drift_top": "two vocabulary-sized count tables full-outer join; 1-row totals broadcast; corpus text crosses no shuffle",
    "text_bigram_quality": "bigram model broadcast into the per-doc join; per-doc re-agg map-side-combines before its one shuffle",
    "sharded_export_requery": "shard id computed map-side; partitionBy splits the write with no forced repartition; manifest is a 16-row aggregate",
    "rollup_view_requery": "partials re-merge: hour-partitioned batch dirs pruned at read; final agg runs on the rollup, never raw events",
    "multimodal_jpeg_probe": "Huffman entropy stream assembled bit-by-bit in codegen (nested HOFs); one Arrow-batched MapInPandas decode stage kept wide by an 8-byte-id repartition (the only exchange)",
    "dedup_repeated_spans": "input spread by id repartition (single-split testdata would run the digest explode on one core; 2x+ measured); window digests cached once (InMemoryRelation feeds frequency agg AND flag join); only (id, pos, md5) shuffles after; rebuild is a map-only gap-slice flatten, O(tokens + intervals)/doc",
    "warc_ingest_records": "WARC bytes synthesized in codegen; ONE Arrow-batched record-parse stage (explode inside the batch, zero shuffle; gzip members gunzipped in the same batch); html_text is a JVM regex chain",
    "dedup_containment_guarded": "max_df window cut drops ubiquitous fingerprints BEFORE the self-join (the hot-bucket guard the 100x A/B proved mandatory); sizes computed pre-cut",
    "multimodal_jpeg_color_probe": "3-component entropy stream (interleaved MCUs, 3 DC chains) assembled bit-by-bit in codegen; one wide Arrow-batched MapInPandas decode stage (id repartition is the only exchange)",
    "url_canonicalize_stats": "parse + canonicalize + domain entirely codegen regexp/HOFs: map-only, zero shuffle, zero UDF",
    "url_domain_quota": "ONE shuffle total (window rank on the domain key); quota filter and aggregates ride the same exchange",
    "multimodal_jpeg_subsampled_probe": "4:2:0 entropy stream (6 blocks per 16x16 MCU, 3 DC chains) staged through array columns in codegen; one wide Arrow-batched MapInPandas decode at native per-plane resolution (id repartition is the only exchange)",
    "multimodal_jpeg_restart_probe": "per-interval entropy streams (own DC chain, byte pad, cycling RSTn) built via staged array columns; one wide Arrow-batched MapInPandas decode (id repartition is the only exchange)",
    "dedup_repeated_spans_withindoc": "frequency + first-occurrence as window functions over (doc, digest): ONE wide shuffle, no corpus-sized duplicate set, no join back; map-only gap-slice rebuild",
    "text_lang_id_trigram": "doc frame spread once up front (3.1x measured: the explode ran single-threaded on single-split testdata); trigram explodes map-only with map-side partial aggs; 320-row profile broadcast; every later exchange is scalar-width",
    "html_block_extract": "block split + per-block WSDM'10 features entirely codegen regexp/HOFs, zero UDF; the id repartition input spread is the only exchange (3.2x measured on single-split testdata)",
    "dedup_semantic": "within-cluster cosine domination via cluster-key equi-join (pairs per task bounded by cluster size); dominated-id set joins back on the id; sign-quantizer assignment map-only",
    # r8 wave-1 flips (resolved via the registry since the flip)
    "graph_pagerank": "3 PageRank iterations: each a src equi-join + map-side DIV + dst hash-agg + left join back to nodes; zero cartesians, zero Python",
    "retrieval_tfidf_topk": "query-term broadcast semi-join prunes tokens BEFORE the tf shuffle; idf broadcast; per-query top-k window on scored docs only",
    "bpe_encode_corpus": "four greedy merge folds entirely map-only codegen: the only exchange is the single-split input spread",
    "corpus_build_pipeline": "five-stage gate checkpointed thin (the projection-collapse trap), scalar-id semi-join, one lang rollup",
    "url_robots_filter": "rules side broadcast on the domain key; RFC 9309 longest-match precedence as filter()+aggregate() HOFs in codegen; corpus scanned once, never shuffled",
    "dedup_substring_removal": "cap-order SA = ONE global range sort (the r8 change that retired six doubling rounds); LCP self-join on the scalar rank key; r9 width cut: everything after the LCP stage moves (id, pos, rank, lcp_prev) scalars only",
    "bpe_tokenizer_roundtrip": "learn = one map-side-combined pair-count shuffle + 1-row collect per round (loop control); encode = map-only fold chain over the exported merges",
    # r9 wave-2 flips (resolved via the registry since the flip)
    "events_rolling_actives": "WAU via bounded 7-day fan-out explode + countDistinct — wide work is 7x the daily-active table, never a range join on raw events",
    "sketch_rollup_actives": "per-day HLL sketches materialized once; weekly actives MERGE seven sketches (hll_union_agg) — the O(days) incremental rollup, never a re-scan",
    "retrieval_bm25_topk": "same broadcast-prune-before-tf-shuffle shape as tfidf; per-doc length rides the tf aggregate (max of a per-doc constant) — no second corpus join",
    "retrieval_bm25_rank_agreement": "both curves share one tokenized scan; float side folds per-term weights in sorted order; agreement join is 25x25 rows",
    "dedup_exact_substr_combined": "token-window cut localCheckpointed, then the cap-order SA runs over SURVIVORS only — stage 2's one-row-per-char cost is paid on the deduped corpus",
    "text_lexical_diversity": "exact Simpson via one sorted-run fold per doc: map-only, zero explode, zero shuffle before the rollup",
    "multimodal_png_probe": "spec-valid PNGs (stored-deflate IDAT, aggregate adler32, crc32 chunks) synthesized in codegen; one Arrow-batched inflate+unfilter stage (id repartition is the only exchange)",
    # r10 wave-2b flips
    "multimodal_video_scenes": "mdat synthesis + Arrow scene detection: one id repartition, one MapInPandas, no shuffle after decode",
    "data_selection_dsir": "gram explode map-only (input spread); 1024-key profile agg map-side-combines; weight table broadcast; ONE doc-keyed shuffle + the range-partitioned rank",
    "multimodal_image_phash": "codegen BMP synthesis + one Arrow pHash stage; the integer DCT rides the same MapInPandas — no per-coefficient shuffle",
    "dedup_image_phash_groups": "group key = map-side md5 digest of the 63 AC bits; ONE groupBy shuffle moves 16-byte digests, never payloads",
    "dedup_semantic_centroid": "cluster-key equi-join (lists ~n/32) + one (cluster, dim) aggregation for centroid directions — no all-pairs stage anywhere",
    # r11 flips
    "ann_ivf_pq_search": "PQ codes ride the corpus frame as one array column; probe join broadcast on the query side bounds the scanned fraction; ADC via broadcast LUT; refine shortlist is a plan-guaranteed-small broadcast; the listed frame is tracked-cached so downstream actions share one quantize pass",
    "dedup_jaccard_ngram": "digest self-join with the max_df hot-shingle guard applied BEFORE the join — candidate pairs bounded, never a cross product; jaccard as integer micro-units",
    "dedup_jaccard_minhash_agreement": "broadcast semi-join restricts the exact-jaccard replay to the sketch's audited pairs — the expensive digest join is bounded by sketch output, not corpus size",
    "dedup_jaccard_clusters": "exact pairs -> pointer-jumping closure (localCheckpoint per round, 1-row convergence scalar) -> one keeper window per cluster",
    "events_heavy_hitters_cms": "sketch frame bounded at depth x width cells regardless of stream size; map-side-combined cell SUM; estimate join broadcasts the query keys",
    "dedup_minhash_incremental": "batch band signatures equi-join the STORED index on (band, sig) — the corpus is never re-shingled; index side broadcast when small",
    "embedding_hard_negatives": "anchors broadcast with the label-inequality predicate declared; corpus streamed ONCE; micro-unit quantize before the rank window",
    "multimodal_gif_probe": "codegen GIF89a synthesis + one Arrow LZW-decode stage; id repartition is the only exchange",
    "text_unicode_repair": "cascade-safe replace chain folds into one map-only projection — zero shuffle, zero Python",
    "streaming_curation_requery": "stateless gate -> plain append sink; the curation verdict is ONE map-only scan per micro-batch, no state store",
    # r12 flips
    "text_token_fertility": "whitespace + BPE token counts are map-only folds over one documents scan; ONE rollup shuffle on the grouping key",
    "streaming_sketch_requery": "CMS cells are mergeable by SUM, so each micro-batch map-side-combines into the d x w cell frame — state bounded by sketch geometry, not stream size",
    "mixture_temperature_budget": "per-source totals -> 1-row scalar broadcast -> temperature weights as plan literals; allocation is floor arithmetic, one shuffle on source",
    "events_rate_anomalies": "hourly counts in one partial+final aggregate; the anomaly test is ONE window over the bounded hourly frame, not the raw events",
    "events_last_touch_attribution": "type-pruned as-of join: conversions and touches split from one scan, union + window — zero join nodes",
    "multimodal_tiff_probe": "codegen TIFF (IFD walk, strip offsets) synthesis + one Arrow decode stage; id repartition is the only exchange",
    "classifier_calibration_bins": "margin scores map-only; floor-bucketed into fixed bins; ONE groupBy over the bounded bin key",
    "audio_mp3_frames_probe": "codegen MPEG-1 Layer III frame synthesis + one Arrow header-walk stage (bitrate/samplerate tables as plan data)",
    "tar_webdataset_probe": "codegen ustar members + one Arrow parse stage; 512-byte block math stays in the executor, payloads never on the driver",
    "zip_archive_probe": "codegen ZIP central directory + one Arrow EOCD/CD walk; stored and deflate entries inflated executor-side, bounded by declared usize",
    # r13 flips
    "tar_streaming_pack_requery": "derived shard count from a 1-row byte-estimate agg; repartition(shard) + sorted groups feed the streaming mapInPandas writer; re-read is a distributed binaryFile scan + one Arrow parse stage",
    "dedup_minhash_incremental_grow": "both sides grow with the corpus: index build is one signature groupBy over the 1/3 slice, batch joins on (band, sig) equality — still no all-pairs stage",
    "ann_ivf_pq_batched": "ONE build_ivf_pq_index (two cached frames) answers BOTH query batches — the second search's plan reads InMemoryTableScan, not a fresh quantize pass; the FAISS build/search amortization as a plan property",
    # r13 flips, remainder
    "mixture_epoch_upsampling": "bounded <=3x repeat explode from integer epoch arithmetic; the interleave audit is a window over the already-small upsampled frame",
    "retrieval_rrf_fusion": "two pruned ranker scans feed a rank-only full-outer fusion — 10 rows per query cross the final join, never postings",
    "tar_webdataset_samples": "the streaming packer's shards re-read as one binaryFile scan + one sample-grouping Arrow stage; {key}.{ext} grouping happens inside the member walk, no per-sample shuffle",
    "bpe_merges_file_roundtrip": "merges.txt parsed driver-side into plan literals — the encode plan is IDENTICAL to the inline row's per-merge codegen folds; zero extra stages for the file seam",
    # r13 at-birth seam rows
    "lang_profiles_file_roundtrip": "the loaded (lang, tri, weight) TSV broadcasts exactly like the fit profile — explode map-only, doc-keyed score shuffle, per-doc argmax window; the file seam adds zero plan nodes",
    "audio_vad_table_probe": "the loaded step table ships in the mapInPandas closure — same single Arrow decode stage as audio_segments_probe, no join for the model",
    # the r14 flip
    "dedup_soft_weights": "map-only fingerprint; ONE digest-keyed groupBy; the join back on the same key reuses the groupBy's exchange — text never crosses a shuffle",
    "dedup_soft_weights_fuzzy": "guarded jaccard pair stage (max_df bounds the digest join) -> edge-bounded pointer-jumping CC -> one label-keyed groupBy for sizes/weights; text never enters the weighting operator",
    "data_selection_moore_lewis": "ONE bigram explode feeds BOTH vocabulary-sized broadcast models; wide work is the doc-keyed re-aggregation and one range sort of the 1-row-per-doc score frame",
    # r14 at-birth seam rows
    "hf_tokenizer_file_roundtrip": "vocab.json + merges.txt parsed driver-side into plan literals (merge folds + one create_map lookup) — the id mapping is a map-only transform, zero extra stages for the two-file seam",
    "audio_mp3_sideinfo_probe": "codegen bit-string side-info packing + one Arrow bit-reader stage — same single mapInPandas shape as the frame walk, payloads never leave executors",
}


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_session(app_name="explain-report", extra_conf={"spark.ui.enabled": "false"})
    out = ["# EXPLAIN — physical plans of flagship queries",
           "", f"Generated by `scripts/explain_report.py` at `{sf_dir}`.", ""]
    for name, why in SHOWCASE.items():
        df = registry.QUERIES[name].fn(spark, sf_dir)
        plan = explain_str(df)
        # keep the operator tree + the scan details, drop codegen noise
        tree = plan.split("\n\n")[0]
        scans = "\n".join(
            m.group(0)
            for m in re.finditer(r"(PushedFilters: \[[^\]]*\]|ReadSchema: [^\n]+|PartitionFilters: \[[^\]]*\])", plan)
        )
        out += [f"## {name}", "", f"*{why}*", "", "```", tree.strip(), "", scans, "```", ""]
    Path("EXPLAIN.md").write_text("\n".join(out))
    print(f"wrote EXPLAIN.md ({len(SHOWCASE)} plans)")


if __name__ == "__main__":
    main()
