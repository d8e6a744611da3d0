"""Registry-wide physical-plan audit: the scale invariants hold for
every non-streaming query — no accidental cartesian joins and no
Python evaluation outside the three declared UDF queries."""

import pytest

from hustle_spark import registry
from hustle_spark.plans import explain_str

# queries whose plans legitimately contain these nodes
ALLOWED_NESTED_LOOP = {
    "similarity_topk_exact",   # broadcast tiny query set, by design
    "similarity_ann_lsh",      # broadcast bucketed query set
    "similarity_ivf",          # broadcast probed query set
    "embedding_near_dup",      # bounded 200-row audit sample (constant
                               # cost at any corpus size); the operator
                               # itself is bucketed equi-joins only
    "dedup_cluster_cc",        # same bounded audit sample as its edge
                               # source; the CC iteration is equi-joins
    "cross_join_pairs",        # the cartesian operator itself
    "q22_global_sales_opportunity",  # 1-row scalar-average broadcast (scalar subquery)
    "q11_important_stock",     # 1-row fraction-of-total broadcast (scalar subquery)
    "q15_top_supplier",        # 1-row max-revenue broadcast (scalar subquery)
    "skew_profile",            # 1-row grand-total broadcast (scalar subquery)
    "dedup_minhash_audit",     # 1-row claim aggregates cross-joined
    "dedup_simhash_audit",     # 1-row claim aggregates cross-joined
    "text_unigram_quality",    # 1-row corpus-total broadcast (vocab fppm)
    "embedding_contamination_scan",  # benchmark set broadcast, scored
                               # filterless by design (eval suites are
                               # thousands of rows, never corpus-scale)
    "vocab_drift_top",         # two 1-row corpus-total broadcasts
                               # (the unigram fppm pattern, per side)
    "text_lm_perplexity",      # 1-row reference-LM total broadcast
                               # (the unigram fppm pattern) — flipped
                               # from the candidate pool in r8
    # the r11 flip:
    "ann_ivf_pq_search",       # broadcast tiny fixed query set:
                               # per-query LUT + the exact-topk audit
                               # brute force, by design
    "embedding_hard_negatives",  # 5-row broadcast anchor set with a
                               # label-inequality predicate — the
                               # declared cosine_topk shape
    # the r12 flip:
    "mixture_temperature_budget",  # 1-row weight-sum broadcast (the
                               # unigram-fppm scalar pattern)
    # the r13 flip:
    "ann_ivf_pq_batched",      # same declared shapes as
                               # ann_ivf_pq_search: broadcast tiny
                               # query batches + the exact-topk audit
                               # brute force
}
ALLOWED_PYTHON = {
    "udf_token_count",         # U2 demo: Arrow scalar UDF
    "udaf_regression_slope",   # U3 demo: applyInPandas
    "udtf_shingle_stats",      # U4 demo: mapInPandas
    "multimodal_decode",       # media decode is inherently Python
    "multimodal_audio_probe",  # audio header decode, same mapInPandas path
    "multimodal_video_probe",  # mp4 box walk, same mapInPandas path
    "multimodal_pixel_probe",  # full BMP/PNG pixel decode, same path
    "multimodal_resize_probe",   # NN resize over pixel decode, same path
    "multimodal_audio_samples",  # PCM sample-level decode, same path
    "multimodal_frame_sample",   # mdat frame sampling, same path
    "multimodal_jpeg_probe",     # baseline JPEG entropy decode, same path
    "multimodal_jpeg_color_probe",  # 4:4:4 color JPEG decode, same path
    "multimodal_jpeg_subsampled_probe",  # 4:2:0 decode, same path
    "multimodal_jpeg_restart_probe",  # DRI/RSTn decode, same path
    "multimodal_jpeg_progressive_probe",  # Annex G progressive decode,
                                 # same path — flipped in r8
    "warc_ingest_records",       # WARC record parse + gzip member
                                 # decode, same mapInPandas path
    "multimodal_png_probe",      # zlib inflate + un-filtering, same
                                 # path — flipped from the candidate
                                 # pool in r9
    # the r10 wave-2b flip (moved here from CANDIDATE_ALLOWED_PYTHON,
    # the r8/r9 flip precedent):
    "multimodal_image_ahash",    # pixel decode + aHash, same path
    "multimodal_image_phash",    # pixel decode + integer DCT
    "multimodal_exif_probe",     # TIFF IFD walk
    "multimodal_video_scenes",   # mdat walk + numpy frame diffs
    "audio_pitch_probe",         # PCM autocorrelation
    "audio_segments_probe",      # PCM energy windows
    "dedup_image_phash_groups",  # pixel decode + integer DCT
    # the r11 flip:
    "multimodal_gif_probe",      # LZW pixel decode, same path
    # the r12 flip:
    "multimodal_tiff_probe",     # IFD walk + strip assembly, same path
    "audio_mp3_frames_probe",    # VBR frame walk, same path
    "tar_webdataset_probe",      # ustar shard walk, same path
    "zip_archive_probe",         # ZIP central-directory walk, same path
    # registered at birth r13 (directive #2): the VAD decision-table
    # seam gate — the audio_segments_probe mapInPandas decode path
    # with a loaded classifier table in the closure
    "audio_vad_table_probe",
    # registered at birth r14 (directive #7b): side-info bit reader —
    # the audio_mp3_frames_probe mapInPandas walk path, one level
    # deeper into the frame
    "audio_mp3_sideinfo_probe",
    # the r13 flip:
    "tar_streaming_pack_requery",  # the PRODUCTION packer's declared
                                 # mapInPandas streaming writer + the
                                 # binaryFile re-read's Arrow ustar walk
    "tar_webdataset_samples",    # same pack+re-read path, sample-grouped
                                 # Arrow decode
    "zip_streaming_pack_requery",  # same: streaming writer + Arrow
                                 # EOCD/CD/CRC re-verifying parse
}
STREAMING = {name for name in registry.QUERIES if name.startswith("streaming_")}


# Rows whose registered fn returns an eagerly-localCheckpointed frame
# (the scoped-cache-release pattern): their physical plan collapses to
# Scan ExistingRDD, which would make the audit VACUOUS (review finding
# r12 — a future cartesian or Python-stage regression in the pipeline
# would be invisible). For these, the audit rebuilds the SAME pipeline
# via the public split API with every checkpoint replaced by identity
# (_without_checkpoints), and inspects THAT plan.
def _without_checkpoints(build):
    """Run ``build(spark, sf_dir)`` with ``DataFrame.localCheckpoint``
    and ``util.own`` as identity, so the index frames stay lazy and
    the audited plan carries the full build subtree."""
    from hustle_spark import util

    def lazy(spark, sf_dir):
        with pytest.MonkeyPatch.context() as mp:
            # the session's concrete DataFrame class, which overrides
            # the pyspark.sql.DataFrame base method
            frame_cls = type(spark.range(0))
            mp.setattr(frame_cls, "localCheckpoint", lambda self, *a, **k: self)
            mp.setattr(util, "own", lambda df: df)
            return build(spark, sf_dir)

    return lazy


def _lazy_ann_ivf_pq_search(spark, sf_dir):
    from hustle_spark.operators.similarity import (
        build_ivf_pq_index, ivf_pq_search,
    )
    from hustle_spark.registry import _cat

    e = _cat(spark, sf_dir).table("embeddings").df.select(
        "vec_id", "embedding"
    )
    idx = build_ivf_pq_index(e)
    return ivf_pq_search(idx, e.filter("vec_id < 5"), k=5)


def _lazy_ann_ivf_pq_batched(spark, sf_dir):
    from pyspark.sql import functions as F

    from hustle_spark.operators.similarity import (
        build_ivf_pq_index, ivf_pq_search,
    )
    from hustle_spark.registry import _cat

    e = _cat(spark, sf_dir).table("embeddings").df.select(
        "vec_id", "embedding"
    )
    idx = build_ivf_pq_index(e)
    return (
        ivf_pq_search(idx, e.filter("vec_id < 5"), k=5)
        .withColumn("batch", F.lit(1).cast("bigint"))
        .unionByName(
            ivf_pq_search(
                idx,
                e.filter("vec_id >= 5 AND vec_id < 10"),
                k=5,
            ).withColumn("batch", F.lit(2).cast("bigint"))
        )
    )


LAZY_PLAN_VARIANTS = {
    "ann_ivf_pq_search": _without_checkpoints(_lazy_ann_ivf_pq_search),
    "ann_ivf_pq_batched": _without_checkpoints(_lazy_ann_ivf_pq_batched),
}


# ADVICE r12 #4: the lazy variants rebuild their pipelines
# independently of the registered fns, so parameter drift in a
# registered row (k, batch predicates) would silently make the audit
# inspect a DIFFERENT plan than the one the correctness window runs.
# Pin the variants' literals to the registered sources: every
# parameter the variant hard-codes must appear verbatim in the
# registered fn's source, or this fails and the variant gets updated
# in the same edit.
def test_lazy_variants_match_registered_parameters():
    import inspect

    pins = {
        # variant: e.filter("vec_id < 5"), ivf_pq_search(idx, ..., k=5)
        "ann_ivf_pq_search": ['F.col("vec_id") < 5', "k=5"],
        # variant: the two batch predicates + the split API, k=5
        "ann_ivf_pq_batched": [
            'F.col("vec_id") < 5',
            '(F.col("vec_id") >= 5) & (F.col("vec_id") < 10)',
            "k=5", "build_ivf_pq_index", "ivf_pq_search",
        ],
    }
    for name, literals in pins.items():
        src = inspect.getsource(registry.QUERIES[name].fn)
        for lit in literals:
            assert lit in src, (
                f"{name}: registered fn no longer contains {lit!r} — "
                "its lazy plan-audit variant in this file audits a "
                "stale pipeline; update the variant to match"
            )


def _audited_frame(name, fn, spark, sf_dir, variants):
    from hustle_spark.util import release

    df = variants.get(name, fn)(spark, sf_dir)
    plan = explain_str(df)
    if name in variants:
        assert "Scan ExistingRDD" not in plan, (
            f"{name}: the lazy audit variant itself checkpoints — "
            "the audit is vacuous again"
        )
    release()
    return plan


@pytest.mark.parametrize("name", sorted(set(registry.QUERIES) - STREAMING))
def test_plan_invariants(name, spark, catalog):
    plan = _audited_frame(
        name, registry.QUERIES[name].fn, spark,
        "/root/testdata/sf0.001", LAZY_PLAN_VARIANTS,
    )
    if name not in ALLOWED_NESTED_LOOP:
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"
        assert "BroadcastNestedLoopJoin" not in plan, f"{name}: nested loop join"
    if name not in ALLOWED_PYTHON:
        for node in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas", "MapInPandas"):
            assert node not in plan, f"{name}: unexpected Python stage {node}"
