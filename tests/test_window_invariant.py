"""Driver-window invariants.

The correctness driver verifies only the FIRST 50 entries of
``queries()``. ``registry._ordered()`` derives that order:

* changed rows first, in registration order: a row is changed when its
  content hash (the sources of its function's hustle_spark closure plus
  its oracle SQL) differs from docs/query_hashes.json or is missing;
* then oracle-bound rows, stalest first, by the newest
  CORRECTNESS_r*.json holding the row green (ties by key order there);
* rows without an oracle last.

scripts/update_query_hashes.py regenerates the manifest after a green
full oracle sweep. These tests pin what the order guarantees and what
the content hash sees.
"""

import json
from pathlib import Path

from hustle_spark import registry

MANIFEST = Path(__file__).resolve().parents[1] / "docs" / "query_hashes.json"
WINDOW = 50


def _changed(stored):
    current = registry.query_content_hashes()
    return [n for n in registry.QUERIES if stored.get(n) != current[n]]


def test_manifest_exists_and_covers_registry():
    stored = json.loads(MANIFEST.read_text())
    current = registry.query_content_hashes()
    # Every stored name must still exist (no silent deletions leaving a
    # stale manifest), modulo deliberate removals which must regenerate.
    gone = set(stored) - set(current)
    assert not gone, f"manifest names no longer registered: {sorted(gone)}"


def test_changed_or_new_queries_sit_in_driver_window():
    window = set(registry._ordered()[:WINDOW])
    out_of_window = [
        n for n in _changed(json.loads(MANIFEST.read_text()))
        if n not in window
    ]
    assert not out_of_window, (
        "more rows changed (or added) since docs/query_hashes.json was "
        f"regenerated than the first-{WINDOW} driver window holds: "
        f"{sorted(out_of_window)} — split the change so each round "
        "re-proves at most the window"
    )


def test_window_is_exactly_fifty_and_all_priority_present():
    ordered = registry._ordered()
    assert len(ordered) == len(set(ordered)), "duplicate names in ordering"
    assert set(ordered) == set(registry.QUERIES)
    assert len(set(ordered[:WINDOW])) == WINDOW
    changed = _changed(registry._manifest())
    assert ordered[: len(changed)] == changed, (
        "changed rows must lead the order, in registration order"
    )


def test_proven_rows_stalest_first_then_rows_only():
    ordered = registry._ordered()
    rest = ordered[len(_changed(registry._manifest())):]
    oracle = [n for n in rest if registry.QUERIES[n].oracle is not None]
    assert rest[: len(oracle)] == oracle, "a rows-only row precedes a proven row"
    green = registry._last_green()
    keys = [green.get(n, (0, 0)) for n in oracle]
    assert keys == sorted(keys), "proven rows are not stalest-first"


def test_modified_hash_moves_row_to_window_head(monkeypatch):
    current = dict(registry.query_content_hashes())
    assert "dedup_cluster_cc" in registry._last_green()
    monkeypatch.setattr(registry, "_manifest", lambda: current)
    assert list(registry.queries())[0] != "dedup_cluster_cc"
    stale = {**current, "dedup_cluster_cc": "0" * 32}
    monkeypatch.setattr(registry, "_manifest", lambda: stale)
    assert list(registry.queries())[0] == "dedup_cluster_cc"
    assert list(registry.oracle_sql())[0] == "dedup_cluster_cc"


def _consumers(helper):
    return {
        name
        for name, q in registry.QUERIES.items()
        if helper in {registry._key(n) for n in registry._closure(q.fn)}
    }


def test_hash_sees_operator_helpers():
    """Helper edits reach every consuming row's hash: module-attribute
    calls, function-local imports and module-level constants all count."""
    assert _consumers("hustle_spark.operators.dedup.connected_components") == {
        "dedup_cluster_cc",
        "dedup_jaccard_clusters",
        "dedup_pipeline_keepers",
        "dedup_soft_weights_fuzzy",
    }
    assert _consumers("hustle_spark.util.stat_partitions") == {
        "multimodal_jpeg_probe",
        "multimodal_jpeg_color_probe",
        "multimodal_jpeg_subsampled_probe",
        "multimodal_jpeg_restart_probe",
        "multimodal_jpeg_progressive_probe",
        "multimodal_png_probe",
        "multimodal_gif_probe",
        "multimodal_tiff_probe",
        "multimodal_image_ahash",
        "multimodal_image_phash",
        "multimodal_exif_probe",
        "multimodal_video_scenes",
        "audio_pitch_probe",
        "audio_segments_probe",
        "audio_vad_table_probe",
        "audio_mp3_frames_probe",
        "audio_mp3_sideinfo_probe",
        "dedup_image_phash_groups",
    }
    assert _consumers(
        "hustle_spark.operators.suffixes.repeated_substring_removal"
    ) == {"dedup_substring_removal", "dedup_exact_substr_combined"}
    # reached only through `from .operators import retrieval as R`
    bm25 = _consumers("hustle_spark.operators.retrieval.bm25_tf_frame")
    assert {"retrieval_rrf_fusion", "retrieval_bm25_rank_agreement"} <= bm25
    assert "retrieval_tfidf_topk" in _consumers(
        "hustle_spark.candidates._TFIDF_QUERIES"
    )


def test_doc_query_counts_match_registry():
    """Count-drift guard (VERDICT r3 "What's wrong" #2 hit this twice):
    the registry count stated in README.md and SURVEY.md must equal the
    actual registry. One number, three places, structurally enforced."""
    import re

    root = Path(__file__).resolve().parents[1]
    total = len(registry.QUERIES)
    oracle_bound = sum(1 for q in registry.QUERIES.values() if q.oracle)

    readme = (root / "README.md").read_text()
    m = re.search(r"registry\.py\s+(\d+) named queries", readme)
    assert m and int(m.group(1)) == total, (
        f"README.md says {m and m.group(1)} queries, registry has {total}"
    )
    m = re.search(r"\((\d+) oracle-checked", readme)
    assert m and int(m.group(1)) == oracle_bound, (
        f"README.md says {m and m.group(1)} oracle-checked, "
        f"registry has {oracle_bound}"
    )

    survey = (root / "SURVEY.md").read_text()
    m = re.search(r"(\d+) registry queries after round", survey)
    assert m and int(m.group(1)) == total, (
        f"SURVEY.md says {m and m.group(1)} queries, registry has {total}"
    )
