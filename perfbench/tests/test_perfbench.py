"""The benchmark's own tests. Slow (each run starts a JVM), so they are
not part of the repository's tier-1 suite. Run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(HERE))

import datagen  # noqa: E402
import run  # noqa: E402
from harness import QUERY, Mismatch, PassResult, pass_summary, query_op, slowest  # noqa: E402
from workloads import EventIngest, OlapHeadline  # noqa: E402

BENCHMARK = json.loads((HERE.parent / "BENCHMARK.json").read_text())
SMOKE_ROWS = ["q1_pricing_summary", "dedup_minhash_lsh", "q8_national_market_share"]


@pytest.fixture(scope="module")
def work(tmp_path_factory):
    run._prepare_environment()
    return tmp_path_factory.mktemp("perfbench")


def _digest(path: Path) -> dict:
    return {p.name: hashlib.md5(p.read_bytes()).hexdigest()
            for p in sorted(path.iterdir()) if p.name != "_GENERATED.json"}


def test_generators_are_byte_identical_per_seed(tmp_path):
    a, _ = datagen.olap_tables(tmp_path / "a", 7, 0.001)
    b, _ = datagen.olap_tables(tmp_path / "b", 7, 0.001)
    c, _ = datagen.olap_tables(tmp_path / "c", 8, 0.001)
    assert _digest(a) == _digest(b) != _digest(c)
    e1, _ = datagen.event_batches(tmp_path / "a", 7, 2, 1, 100, 20)
    e2, _ = datagen.event_batches(tmp_path / "b", 7, 2, 1, 100, 20)
    assert _digest(e1) == _digest(e2)
    _, meta = datagen.event_batches(tmp_path / "a", 7, 2, 1, 100, 20)
    assert meta["cache_hit"] and meta["generate_s"] > 0


def test_declared_metrics_match_benchmark_json():
    e2e = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
    assert e2e == run.END_TO_END
    assert layers == run.PER_LAYER
    assert {w["name"] for w in BENCHMARK["workloads"]} == {"olap_headline", "event_ingest"}


def test_slowest_query_is_by_median_latency():
    recs = [
        {"op": "a", "kind": QUERY, "ok": True, "latency_s": x} for x in (1.0, 5.0, 2.0)
    ] + [
        {"op": "b", "kind": QUERY, "ok": True, "latency_s": x} for x in (3.0, 3.0, 3.0)
    ] + [{"op": "c", "kind": "insert", "ok": True, "latency_s": 9.0}]
    assert slowest(recs) == ("b", 3.0)


def test_end_to_end_numbers_take_the_fastest_timed_run():
    def rec(op, x, kind=QUERY):
        return {"op": op, "kind": kind, "ok": True, "latency_s": x}

    passes = [
        PassResult("timed", 10.0, [rec("a", 1.0), rec("b", 4.0), rec("c", 9.0, "insert")]),
        PassResult("timed", 12.0, [rec("a", 1.0), rec("b", 4.0), rec("c", 9.0, "insert")]),
        PassResult("timed", 11.0, [rec("a", 7.0), rec("b", 5.0), rec("c", 9.0, "insert")]),
    ]
    summary = pass_summary(passes)
    assert summary["suite_s"] == 10.0 and summary["suite_median_s"] == 11.0
    assert summary["query_mean_s"] == pytest.approx(2.5)  # (min(a) + min(b)) / 2


def _printed(capsys) -> dict[str, str]:
    out = capsys.readouterr().out
    units = {}
    for line in out.splitlines():
        parts = line.split()
        if len(parts) == 4 and parts[1] == "=":
            units[parts[0]] = parts[3]
    return units


def test_smoke_olap_prints_every_end_to_end_metric(work, capsys):
    wl = OlapHeadline(work, seed=3, sf=0.001, rows=SMOKE_ROWS)
    result = run.run(wl, seconds=0.1, trace=False, artifact_stem=str(work / "olap"))
    assert result["correct"], result
    # the cold pass and at least two timed passes
    assert result["failed"] == 0 and result["attempted"] >= 3 * len(SMOKE_ROWS)
    assert {k: v["unit"] for k, v in result["metrics"].items()} == run.END_TO_END
    printed = _printed(capsys)
    for name, unit in run.END_TO_END.items():
        assert printed[name] == unit


def test_smoke_ingest_traced_prints_every_layer_metric(work, capsys):
    wl = EventIngest(work, seed=3, batches=2, dates_per_batch=1, impressions=200, pixels=50)
    result = run.run(wl, seconds=0.1, trace=True, artifact_stem=str(work / "ingest"))
    assert result["correct"], result
    assert {k: v["unit"] for k, v in result["metrics"].items()} == run.PER_LAYER
    printed = _printed(capsys)
    for name, unit in {**run.END_TO_END, **run.PER_LAYER}.items():
        assert printed[name] == unit
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["trace.count_mismatches"] == 0
    assert m["util.blocks_left"] == 0
    assert m["insert.jobs"] > 0 and m["python.udf_s"] > 0 and m["scheduler.tasks"] > 0
    artifact = json.loads((work / "ingest.json").read_text())
    traced = [p for p in artifact["passes"] if p["mode"] == "traced"]
    assert len(traced) == 2
    spans = json.loads((work / "ingest.spans.json").read_text())
    assert {s["kind"] for s in spans} >= {"pass", "op", "build", "action", "layer", "job", "stage"}


class _WrongOlap(OlapHeadline):
    """Adds one operation whose result disagrees with its check."""

    def ops(self, spark, tracer, tag):
        def wrong(res):
            if len(res[1]) != 4:
                raise Mismatch(f"expected 4 rows, got {len(res[1])}")

        return super().ops(spark, tracer, tag) + [
            query_op("fake.wrong_row_count", lambda: spark.range(3), wrong)
        ]


def test_wrong_operation_raises_error_rate(work, capsys):
    # another seed: the registry memoises catalogs by session id and data dir
    wl = _WrongOlap(work, seed=4, sf=0.001, rows=SMOKE_ROWS[:1])
    result = run.run(wl, seconds=0.1, trace=False, artifact_stem=str(work / "wrong"))
    assert not result["correct"]
    # only the cold pass checks outputs: one failure in (1 + 1) * passes
    artifact = json.loads((work / "wrong.json").read_text())
    assert result["failed"] == 1 and result["attempted"] == 2 * len(artifact["passes"])
    assert artifact["error_rate"] == pytest.approx(1 / result["attempted"])
    assert artifact["failures"][0][1] == "fake.wrong_row_count"
    assert "FAILED [cold] fake.wrong_row_count" in capsys.readouterr().out
