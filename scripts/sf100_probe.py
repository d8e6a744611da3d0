"""100x scale probe for the LLM-pipeline operators: synthesize a
FACTOR=100 key-shifted copy of documents+embeddings (~50x the sf1
study's text volume), run each probed query warm at sf0.1 and at the
100x copy in fresh JVMs, and record the ratio table
(BENCH_SCALE100_r{N}.json). This is the direct instrument for the
"would this plan survive 100x?" question — measured, not argued.

Corpus construction: every replica's text gets a UNIQUE id token
injected every 10 tokens ("... z<new_doc_id> ..."). That keeps the
probe honest for dedup-family ops: plain text replication would
manufacture 100-copy near-duplicate cliques whose candidate-pair
stages grow QUADRATICALLY by construction (the sf1 study's
PAIR_OUTPUT caveat) — no real corpus grows new 100-deep duplicate
groups when it grows 100x. With unique injections the dedup ops scan
and shuffle 100x the data while finding ~nothing, which is exactly
the cost curve a clean corpus pays. Quality/vocab/BPE ops see the
injected tokens as rare singletons (count 1 — they never win merges
or vocab slots). Embeddings replicate unchanged; the probed embedding
ops are map-only or capped-benchmark scans, so no pair blowup there
either.

    python scripts/sf100_probe.py [--regen] [--out BENCH_SCALE100_rNN.json] [query ...]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SRC = "/root/testdata/sf0.1"
DST = Path("/root/repo/.scratch/sf100")
FACTOR = 100

# relational/TPC-H family probed with --relational against a FULL
# join-consistent 100x table set (key-shifted replicas via the
# sf1_bench stride map, factor 100 — ~60M lineitem rows)
REL_PROBES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q9_product_profit",
    "q18_large_volume_customer",
    "q21_waiting_orders",
    "join_equi_revenue",
    "agg_stats_by_status",
    "window_topk_per_group",
    "topk_orders",
    "skew_salted_join_requery",
]
REL_DST = Path("/root/repo/.scratch/sf100rel")

# event-time operator family probed with --events (events replicate
# 100x under key-shifted event_id/user_id with the SAME time range —
# 100x denser traffic, which is what a scaled-up deployment sees;
# hour/window/session counts stay realistic instead of stretching)
EVENTS_PROBES = [
    "sessionize_users",
    "asof_join_signup",
    "time_tumbling_hour",
    "time_sliding_2h",
    "funnel_stages",
    "cohort_retention",
    "markov_transitions",
    "json_props_extract",
    "streaming_tumbling_hour",
    "rollup_view_requery",
    # round-7 rows
    "events_rolling_actives",
    "sketch_rollup_actives",
    # staged r10-cont: count-min heavy hitters — the probe pins that
    # the sketch stays cell-bounded (depth x width) while the exact
    # twin's groupBy carries the 100x stream
    "events_heavy_hitters_cms",
    # staged r10-cont: 3-sigma hourly anomalies (grouped count + one
    # window — the time_tumbling_hour class) and last-touch
    # attribution (type-pruned as-of join — the asof_join_signup
    # class)
    "events_rate_anomalies",
    "events_last_touch_attribution",
]

# ops probed at 100x — LLM-pipeline surface (the headline/relational
# surface has its own 10x instrument in sf1_bench.py)
DEFAULT_PROBES = [
    "dedup_repeated_spans",
    "dedup_containment_pairs",
    "dedup_pipeline_keepers",
    "boilerplate_removal",
    "text_unigram_quality",
    "text_bigram_quality",
    "bpe_merge_rounds",
    "padding_waste_buckets",
    "corpus_diff",
    "vocab_drift_top",
    "embedding_contamination_scan",
    "embedding_random_projection",
    "sharded_export_requery",
    "multimodal_pixel_probe",
    "multimodal_frame_sample",
    "warc_ingest_records",
    # appended round 6
    "dedup_containment_guarded",
    "multimodal_jpeg_color_probe",
    "url_canonicalize_stats",
    "url_domain_quota",
    "multimodal_jpeg_subsampled_probe",
    # appended round 7
    "multimodal_jpeg_restart_probe",
    "dedup_repeated_spans_withindoc",
    "text_lang_id_trigram",
    "html_block_extract",
    "dedup_semantic",
    # round-7 rows
    "text_gopher_quality",
    "text_gopher_repetition",
    "text_quality_classifier",
    "warc_meta_noindex",
    "dedup_lines_corpus",
    "multimodal_image_ahash",
    "multimodal_png_probe",
    "bpe_encode_corpus",
    "text_curation_verdict",
    "multimodal_image_phash",
    "audio_pitch_probe",
    "multimodal_exif_probe",
    "multimodal_video_scenes",
    "graph_pagerank",
    "retrieval_tfidf_topk",
    "dedup_image_phash_groups",
    "audio_segments_probe",
    "text_lexical_diversity",
    "text_code_detect",
    "embedding_matryoshka_audit",
    "embedding_pq_audit",
    "corpus_build_pipeline",
    # appended round 8 (the flipped rows not yet probed at 100x)
    "text_unicode_hygiene",
    "text_blocklist",
    "text_lm_perplexity",
    "url_robots_filter",
    "multimodal_jpeg_progressive_probe",
    "bpe_tokenizer_roundtrip",
    # appended round 9: BM25 (fixed-point + the float agreement audit —
    # both are query-term-broadcast-pruned, so the probe pins that the
    # pre-tf-shuffle prune holds at 100x); dedup_exact_substr_combined
    # deliberately absent for the same SA row-per-character reason as
    # dedup_substring_* below (its stage 2 IS that machinery)
    "retrieval_bm25_topk",
    "retrieval_bm25_rank_agreement",
    # staged r10-cont: RRF fusion — two pruned ranker scans + a
    # rank-only full-outer fusion (10 rows/query)
    "retrieval_rrf_fusion",
    # staged wave-3 (r9): DSIR — explode + 1024-key profile + broadcast
    # weights + doc-sum; the probe pins the profile agg stays bounded
    "data_selection_dsir",
    # staged wave-3 (r9): IVF+PQ ANN — probes pin the bounded scanned
    # fraction + broadcast LUT shape (queries fixed at 5 by contract)
    "ann_ivf_pq_search",
    # staged wave-3 (r9): mojibake repair — a pure map-only replace
    # chain, the cheapest possible scaling class
    "text_unicode_repair",
    # appended round 10: the centroid-keeper SemDeDup variant (same
    # cluster-key equi-join cost model as dedup_semantic plus one
    # (cluster, dim) aggregation — the probe pins that the reduction
    # stays cluster-bounded; registered in the r10 wave-2b flip)
    "dedup_semantic_centroid",
    # staged r10 for the r11 window: exact n-gram Jaccard — the probe
    # pins that the max_df hot-shingle guard keeps the digest
    # self-join sub-quadratic on the 100x corpus (sub-10-token grams
    # partially collide across replicas by construction, which is
    # exactly the boilerplate-shaped load the guard exists for)
    "dedup_jaccard_ngram",
    # re-admitted r12 (VERDICT r11 directive #2): the former
    # PAIR_OUTPUT OOM exclusion, now guarded — minhash_lsh_pairs
    # grew a hot-bucket cap (max_bucket=50, mirrored in the DuckDB
    # oracle) that drops band buckets deeper than 50 members whole
    # BEFORE the self-join, so the ~100-deep replica groups this
    # corpus manufactures (replicas sit at ~0.5 shingle-Jaccard even
    # with unique-token injection) are exactly the cliques the guard
    # silences: worst-case pair output is C(50,2) per bucket instead
    # of quadratic in clique depth, and the exact replay stays
    # bounded by the (now bounded) sketch output.
    "dedup_jaccard_minhash_agreement",
    # staged r10: the exact-Jaccard clusters+keepers composition —
    # probes that CC over the guarded pair graph stays edge-bounded
    "dedup_jaccard_clusters",
    # staged r10-cont: hard-negative mining (broadcast anchors, one
    # corpus stream — the cosine_topk scaling class) and tokenizer
    # fertility (map-only scan + one combined agg)
    "embedding_hard_negatives",
    "text_token_fertility",
    # staged r10-cont: temperature mixture budgeting (token scan +
    # source agg + window — the mixture_token_budget scaling class
    # plus a 1-row scalar broadcast) and epoch upsampling (bounded
    # <=3x explode + windowed lag)
    "mixture_temperature_budget",
    "mixture_epoch_upsampling",
    # staged r10-cont: GIF/LZW and TIFF decodes — the
    # multimodal_pixel_probe scaling class (map-only synth + Arrow
    # decode, zero shuffle)
    "multimodal_gif_probe",
    "multimodal_tiff_probe",
    # staged r10-cont: incremental fuzzy dedup — the probe pins that
    # a batch joining the stored band index scales with the BATCH
    # (the fixture's index is PINNED at doc_id < 250 — 250 docs at
    # every scale — so only the batch side grows)
    "dedup_minhash_incremental",
    # staged r11 (VERDICT r10 directive #7): the BOTH-SIDES-GROW
    # regime the row above never exercises — index = doc_id % 3 == 0
    # (~1/3 of the corpus), so index build AND batch join both carry
    # 100x rows here; replaces the ad-hoc proportional-split scratch
    # probe whose reading was 3.2
    "dedup_minhash_incremental_grow",
    # staged r10-cont: calibration bins (two map-only scans + one
    # doc-keyed join) and the VBR MP3 frame walk (map-only synth +
    # Arrow walk)
    "classifier_calibration_bins",
    "audio_mp3_frames_probe",
    # staged r11 (VERDICT r10 directive #3): the PRODUCTION streaming
    # container packers — derived shard count, bounded shard size,
    # per-shard streaming file writers. These rows REPLACE the two
    # former OOM exclusions: the x100 corpus packs into ~100x MORE
    # shards of the SAME 256KiB/128KiB size instead of 16 unbounded
    # collect_list rows, which is exactly the scale contract the
    # exclusions documented as prose.
    "tar_streaming_pack_requery",
    "zip_streaming_pack_requery",
    # appended r13 with the flip: the WebDataset SAMPLE reader rides
    # the streaming tar packer's shards (derived shard count — the
    # x100 corpus packs ~100x more bounded shards, then one
    # sample-grouped Arrow decode; the probe pins the reader stays
    # map-only over shard files)
    "tar_webdataset_samples",
    # appended r13 with the flip: index REUSE across query batches —
    # the probe pins that ONE build answers both batches at 100x
    # (the build is the corpus pass; batch cost stays bounded by
    # probes + ADC + refine, queries fixed at 10 by contract)
    "ann_ivf_pq_batched",
    # appended r13 (registered at birth): the profile file roundtrip
    # rides the text_lang_id_trigram plan (already probed) plus a
    # KB-scale driver-side TSV round-trip — probed to pin that the
    # loader seam adds NO scale-dependent cost
    "lang_profiles_file_roundtrip",
    # appended r13 (registered at birth): the VAD decision-table row
    # — the audio_segments_probe map-only Arrow class with a loaded
    # step table in the closure
    "audio_vad_table_probe",
    # flipped r14: SoftDedup
    # down-weighting — map-only fingerprint + ONE digest groupBy +
    # exchange-reusing join back; the probe pins the join never
    # re-shuffles the corpus
    "dedup_soft_weights",
    # flipped r14: fuzzy SoftDedup — the guarded jaccard pair stage +
    # edge-bounded CC + one label groupBy; the probe pins the
    # composition stays bounded by the max_df guard at 100x
    "dedup_soft_weights_fuzzy",
    # flipped r14: Moore-Lewis selection — one bigram explode, two
    # vocabulary-sized broadcast models, doc-keyed re-agg + one range
    # sort; the probe pins both models stay broadcast at 100x
    "data_selection_moore_lewis",
    # appended r14 (registered at birth): the MP3 side-info +
    # bit-reservoir decode — the audio_mp3_frames_probe map-only
    # synth + Arrow walk class, one bit-reader level deeper; probed
    # to pin the content stage stays payload-local at 100x
    "audio_mp3_sideinfo_probe",
    # hf_tokenizer_file_roundtrip deliberately ABSENT — NOT silently:
    # its Spark side is bpe_encode_corpus (already probed) plus one
    # map-only create_map id lookup; the two files are KB-scale
    # driver-side config, scale-independent by construction — the
    # same contract as bpe_merges_file_roundtrip directly below.
    # bpe_merges_file_roundtrip deliberately ABSENT — NOT silently:
    # its Spark side is bpe_encode_corpus (already probed via
    # bpe_encode_corpus itself) plus a driver-side KB file write; the
    # only new machinery is scale-independent by construction.
    # the CODEGEN FIXTURE rows tar_webdataset_probe /
    # zip_archive_probe stay absent — NOT silently: each pins
    # n_shards=16 (oracle-bound), so the x100 corpus (500k docs)
    # would pack ~31MB per collect_list row and OOM the probe JVM —
    # a FIXTURE limit by design; their scale path is the two
    # streaming rows above (same bytes, unit-pinned byte identity).
    # streaming_sketch_requery deliberately absent — NOT silently: its
    # wide work is byte-identical to events_heavy_hitters_cms (same
    # cells, same merge); the probe would mostly time three x100
    # corpus re-writes into scratch slices, which measures the disk,
    # not the operator.
    # csv_roundtrip_agg deliberately absent: customer is a symlinked
    # (non-replicated) table in the 100x corpus, so its ratio reads
    # ~1.0 and proves nothing.
    # appended r14: the substring-repeat trio, PROBEABLE for the first
    # time — the r13 exclusion ("O(log) global range sorts over one
    # row per character — hours, not a probe") described the
    # suffix-array shape the r14 gram-class rewrite removed; the cost
    # model is now one gram-keyed hash pass (removal) / one
    # distinct-gram range scan (groups), still one row per character
    # but no sort rounds. Isolated single-row chunks (the heavy
    # corpus-sized class; see ISOLATED_PROBES).
    "dedup_substring_removal",
    "dedup_substring_groups",
    "dedup_exact_substr_combined",
]

# linear on 100x data would be ~100; the job floor and constant stages
# push real readings far below. Anything above this line gets a plan
# audit before the round closes.
FLAG_RATIO = 130.0


def gen(regen: bool = False) -> None:
    from pyspark.sql import functions as F

    from hustle_spark.catalog import Catalog
    from hustle_spark.session import get_session

    if DST.exists() and not regen:
        print(f"100x data already at {DST} (use --regen to rebuild)")
        return
    spark = get_session(
        app_name="sf100-gen",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
        },
    )
    cat = Catalog(spark, SRC, scratch="/root/repo/.scratch/sf100_gen")
    DST.mkdir(parents=True, exist_ok=True)

    docs = cat.table("documents").df
    stride = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    reps = []
    for i in range(FACTOR):
        rep = docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * stride))
        # unique token every 10 tokens — breaks cross-replica shingle
        # identity (see module docstring) without changing length class
        rep = rep.withColumn(
            "text",
            F.expr(
                "array_join(transform(split(text, '\\\\s+'), (t, i) -> "
                "if(i % 10 = 9, concat(t, ' z', cast(doc_id as string)), t)"
                "), ' ')"
            ),
        )
        reps.append(rep)
    out = reps[0]
    for r in reps[1:]:
        out = out.unionByName(r)
    out.repartition(32).write.mode("overwrite").parquet(
        str(DST / "documents.parquet")
    )
    print(f"  documents: x{FACTOR} with unique-token injection")

    emb = cat.table("embeddings").df
    estride = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    eparts = [
        emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * estride))
        for i in range(FACTOR)
    ]
    eout = eparts[0]
    for p in eparts[1:]:
        eout = eout.unionByName(p)
    eout.repartition(32).write.mode("overwrite").parquet(
        str(DST / "embeddings.parquet")
    )
    print(f"  embeddings: x{FACTOR}")

    ev = cat.table("events").df
    ev_stride = ev.agg(F.max("event_id")).collect()[0][0] + 1
    u_stride = ev.agg(F.max("user_id")).collect()[0][0] + 1
    evparts = [
        ev.withColumn("event_id", F.col("event_id") + F.lit(i * ev_stride))
        .withColumn("user_id", F.col("user_id") + F.lit(i * u_stride))
        for i in range(FACTOR)
    ]
    evout = evparts[0]
    for p in evparts[1:]:
        evout = evout.unionByName(p)
    evout.repartition(32).write.mode("overwrite").parquet(
        str(DST / "events.parquet")
    )
    print(f"  events: x{FACTOR} (same time range — 100x denser traffic)")

    # remaining tables: symlink the sf0.1 originals so the catalog dir
    # is complete (no probed query reads them at scale)
    for t in "region nation customer supplier part orders lineitem".split():
        link = DST / f"{t}.parquet"
        if not link.exists():
            link.symlink_to(f"{SRC}/{t}.parquet")
    spark.stop()


def gen_relational(regen: bool = False) -> None:
    """Join-consistent 100x replication of the FULL relational table
    set, reusing sf1_bench's key-stride map at FACTOR=100."""
    from pyspark.sql import functions as F

    from hustle_spark.catalog import Catalog
    from hustle_spark.session import get_session
    from scripts.sf1_bench import COPY, HOME_KEY, SHIFT

    if REL_DST.exists() and not regen:
        print(f"100x relational data already at {REL_DST}")
        return
    spark = get_session(
        app_name="sf100rel-gen",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
        },
    )
    cat = Catalog(spark, SRC, scratch="/root/repo/.scratch/sf100rel_gen")
    REL_DST.mkdir(parents=True, exist_ok=True)
    strides = {}
    for tbl, col in set(HOME_KEY.values()):
        strides[(tbl, col)] = cat.table(tbl).df.agg(F.max(col)).collect()[0][0] + 1
    for tbl in COPY:
        cat.table(tbl).df.write.mode("overwrite").parquet(
            str(REL_DST / f"{tbl}.parquet")
        )
        print(f"  {tbl}: copied")
    for tbl, cols in SHIFT.items():
        df = cat.table(tbl).df
        parts = []
        for i in range(FACTOR):
            rep = df
            for c in cols:
                rep = rep.withColumn(
                    c, F.col(c) + F.lit(i * strides[HOME_KEY[c]])
                )
            parts.append(rep)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.repartition(64).write.mode("overwrite").parquet(
            str(REL_DST / f"{tbl}.parquet")
        )
        print(f"  {tbl}: x{FACTOR}")
    spark.stop()


# Max probes per scale_probe subprocess (one JVM). Found in r11: a
# ~70-probe leg in ONE shared JVM contaminates late Arrow-heavy rows —
# Python-worker/allocator bloat read multimodal_gif_probe at 174x while
# the SAME row probed in isolation reads 10.5 (r10-family). Chunking
# bounds cross-query contamination at ~15s JVM startup per chunk; the
# per-query protocol inside scale_probe (warm best-of-2, full-column
# hash action, release_all_persistent) is unchanged.
PROBE_CHUNK = 12

# Rows pinned into SINGLE-ROW chunks by default (VERDICT r13 directive
# #5): every row whose in-chunk reading diverged from a fresh-JVM A/B
# by more than 2x in a past round — the measured contamination class
# above, re-litigated three rounds running (gif 174 vs 10.5 r11,
# fertility 52 vs ~14 r12, vad 44.3 vs ~1.0 r13). Isolating them costs
# one ~15s JVM start each and removes the manual attribution note the
# artifact otherwise needs.
ISOLATED_PROBES = {
    "audio_vad_table_probe",
    "text_token_fertility",
    "multimodal_gif_probe",
    # r14: the substring trio shuffles one row per corpus character —
    # isolated so their GB-scale gram shuffles never share a JVM with
    # (or contaminate) the bounded rows
    "dedup_substring_removal",
    "dedup_substring_groups",
    "dedup_exact_substr_combined",
}


def run_probe(sf_dir: str, names: list[str]) -> dict[str, float]:
    env = dict(os.environ)
    merged: dict[str, float] = {}
    shared = [n for n in names if n not in ISOLATED_PROBES]
    solo = [n for n in names if n in ISOLATED_PROBES]
    chunks = [
        shared[at : at + PROBE_CHUNK]
        for at in range(0, len(shared), PROBE_CHUNK)
    ] + [[n] for n in solo]
    for chunk in chunks:
        out = subprocess.run(
            [sys.executable, "/root/repo/scripts/scale_probe.py",
             "--dir", sf_dir, *chunk],
            env=env, capture_output=True, text=True, timeout=7200,
        )
        got = None
        for line in reversed(out.stdout.strip().splitlines()):
            line = line.strip()
            if line.startswith("{"):
                got = json.loads(line)
                break
        if got is None:
            raise RuntimeError(
                f"probe at {sf_dir} produced no JSON:\n"
                f"{out.stdout[-1500:]}\n{out.stderr[-1500:]}"
            )
        merged.update(got)
    return merged


def main() -> None:
    args = sys.argv[1:]
    flag_values = set()
    if "--out" in args:
        flag_values.add(args[args.index("--out") + 1])
    names = [a for a in args if not a.startswith("-") and a not in flag_values]
    relational = "--relational" in args
    if not names:
        if relational:
            names = REL_PROBES
        elif "--events" in args:
            names = EVENTS_PROBES
        else:
            names = DEFAULT_PROBES
    if relational:
        gen_relational(regen="--regen" in sys.argv)
        dst = REL_DST
    else:
        gen(regen="--regen" in sys.argv)
        dst = DST
    # session-drift sentinels (VERDICT r7 directive #5): the RATIO
    # table is intra-session (drift cancels), but the absolute seconds
    # are compared across rounds — record the same bench.py sentinel
    # instrument so those comparisons can be normalized
    from bench import SENTINEL_CALIBRATION_TOTAL, SENTINELS
    sentinel = run_probe(SRC, SENTINELS)
    sentinel_total = round(sum(sentinel.values()), 4)
    print(f"sentinels: {sentinel_total:.2f}s "
          f"(calibration {SENTINEL_CALIBRATION_TOTAL})")
    base = run_probe(SRC, names)
    print(f"sf0.1 done: {sum(base.values()):.1f}s")
    scaled = run_probe(str(dst), names)
    print(f"100x done: {sum(scaled.values()):.1f}s")

    print("\n| query | sf0.1 s | 100x s | ratio (100x data) |")
    print("|---|---|---|---|")
    ratios, flagged = {}, []
    for name in names:
        t0, t1 = base.get(name, -1.0), scaled.get(name, -1.0)
        ratio = round(t1 / t0, 1) if t0 > 0 and t1 > 0 else float("nan")
        if ratio == ratio:
            ratios[name] = ratio
            if ratio > FLAG_RATIO:
                flagged.append(name)
        note = " **super-linear**" if name in flagged else ""
        print(f"| {name} | {t0} | {t1} | {ratio}{note} |")
    total_ratio = round(
        sum(scaled.values()) / max(sum(base.values()), 1e-9), 1
    )
    print(f"\ntotal ratio: {total_ratio} on {FACTOR}x data "
          f"(<= ~{FACTOR} is at-most-linear)")
    if flagged:
        print(f"plan-audit these (> {FLAG_RATIO}): {', '.join(flagged)}")

    # dead-reading guard (VERDICT r8 directive #3): negative readings
    # poison the artifact; ratios over survivors are withheld
    from bench import validate_artifact
    dead = validate_artifact({}, [base, scaled, sentinel])
    if not dead["valid"]:
        print(
            "INVALID RUN: dead per-query readings "
            f"{dead['invalid_queries']} — ratios withheld",
            file=sys.stderr,
        )

    out_path = None
    if "--out" in sys.argv:
        out_path = sys.argv[sys.argv.index("--out") + 1]
    if out_path:
        Path(out_path).write_text(json.dumps({
            "metric": "sf100_scaling_probe",
            "factor": FACTOR,
            "corpus": "unique-token-injected replicas (no synthetic dup cliques)",
            "sf01_sec": base,
            "sf100_sec": scaled,
            "ratios": ratios if dead["valid"] else {},
            "total_ratio": total_ratio if dead["valid"] else None,
            "flagged_super_linear": flagged,
            "valid": dead["valid"],
            **(
                {"invalid_queries": dead["invalid_queries"]}
                if not dead["valid"] else {}
            ),
            "sentinel": {
                "queries": sentinel,
                "total": sentinel_total,
                "calibration_total": SENTINEL_CALIBRATION_TOTAL,
                # PROTOCOL-MIXED (ADVICE r8 #2): this ratio divides a
                # scale_probe measurement (fresh subprocess, best-of-N)
                # by bench.py's in-process warm-median calibration
                # anchor, so it conflates protocol bias with session
                # drift — use it only to compare sf100 artifacts to
                # EACH OTHER, never to normalize absolute seconds
                # against bench.py numbers
                "ratio_protocol_mixed": round(
                    sentinel_total / SENTINEL_CALIBRATION_TOTAL, 4
                ),
            },
        }, indent=1) + "\n")
        print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
