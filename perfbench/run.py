"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload olap_headline --seed 1 --seconds 5 --trace 0

Run from the repository root. One process, one Spark session on
``local[<cores>]`` (cores = the CPUs this process may run on), one
client in a closed loop: each operation starts when the previous one
has finished.

A run sets up the session three times (``setup_s`` is the median), runs
an untimed cold pass that checks every output, then:

* timed passes with tracing off until ``--seconds`` have elapsed, and
  at least two, so that a run times several seconds of work after the
  cold pass; ``--trace 0`` reports the end-to-end metrics from them;
* ``--trace 1`` adds two traced passes, reporting the per-layer metrics
  of the first traced pass and checking that job, stage and task counts
  repeat exactly in the second.

Human-readable lines come first; the last line of standard output is
one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``. Inputs, Spark's scratch space, the artifact (per-operation
detail) and the spans file all live under ``.bench_work/`` in the
repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from pathlib import Path

import harness

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_work"
SETUP_CYCLES = 3
MIN_TIMED_PASSES = 2

END_TO_END = {
    "setup_s": "s",
    "suite_s": "s",
    "query_mean_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "registry.cold_build_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "scheduler.tasks_per_stage": "ratio",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "executor.input_rows": "count",
    "executor.input_bytes": "bytes",
    "executor.busy_ratio": "ratio",
    "shuffle.read_bytes": "bytes",
    "shuffle.write_bytes": "bytes",
    "shuffle.fetch_wait_s": "s",
    "shuffle.spill_bytes": "bytes",
    "python.udf_s": "s",
    "util.release_s": "s",
    "util.blocks_released": "count",
    "util.blocks_left": "count",
    "util.storage_peak_bytes": "bytes",
    "insert.s": "s",
    "insert.jobs": "count",
    "insert.files_written": "count",
    "insert.bytes_written": "bytes",
    "insert.rows_per_s": "1/s",
    "catalog.connect_s": "s",
    "catalog.table_s": "s",
    "catalog.compact_s": "s",
    "catalog.delete_s": "s",
    "catalog.files": "count",
    "catalog.stored_bytes_per_input_byte": "ratio",
    "dsl.select_s": "s",
    "trace.overhead_s": "s",
    "trace.count_mismatches": "count",
}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_environment() -> None:
    """Point Python workers, Spark and the JVM at the checkout only."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    sys.path[:0] = [str(ROOT), str(ROOT / "scripts"), str(HERE)]
    # Python workers import hustle_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(tmp)


def _session(n_cores: int):
    from hustle_spark.session import get_session

    return get_session(
        app_name="perfbench",
        master=f"local[{n_cores}]",
        shuffle_partitions=n_cores,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData",
        },
    )


def _sum(records, key, sub=None) -> float:
    total = 0.0
    for r in records:
        v = r.get(key)
        if sub is not None:
            v = (v or {}).get(sub)
        total += v or 0
    return total


def _jobs(records, field: str, phases=("build_jobs", "action_jobs")) -> int:
    """Sum of one status-store counter over the given job groups."""
    return sum((r.get(p) or {}).get(field, 0) for r in records for p in phases)


def layer_metrics(cold, traced, traced_again, timed, setup: dict, wl_pass: dict,
                  n_cores: int, rss: float) -> dict:
    """Per-layer metrics from the first traced pass's records; the cold
    pass adds its first-call build job count."""
    recs = traced.records
    inserts = [r for r in recs if r["kind"] == "insert"]
    stages = _jobs(recs, "stages")
    action_wall = _sum(recs, "action_s")
    timed_inserts = [r for p in timed for r in p.records if r["kind"] == "insert" and r["ok"]]
    insert_wall = _sum(timed_inserts, "latency_s")

    def layer(key):
        return _sum(recs, "layers", key)

    def counts(p):
        return [
            (r["op"], *((r.get(k) or {}).get(f) for k in ("build_jobs", "action_jobs")
                        for f in ("jobs", "stages", "tasks")))
            for r in p.records
        ]

    return {
        "session.start_s": setup["session_start_s"],
        "session.peak_rss_mb": rss,
        "registry.build_s": layer("registry.build_s"),
        "registry.build_jobs": _jobs(recs, "jobs", ("build_jobs",)),
        "registry.cold_build_jobs": _sum(cold.records, "cold_build_jobs"),
        "catalyst.analysis_ms": _sum(recs, "catalyst_ms", "analysis"),
        "catalyst.optimization_ms": _sum(recs, "catalyst_ms", "optimization"),
        "catalyst.planning_ms": _sum(recs, "catalyst_ms", "planning"),
        "scheduler.jobs": _jobs(recs, "jobs"),
        "scheduler.stages": stages,
        "scheduler.tasks": _jobs(recs, "tasks"),
        "scheduler.tasks_per_stage": _jobs(recs, "tasks") / stages if stages else 0.0,
        "executor.run_s": _jobs(recs, "run_ms") / 1e3,
        "executor.cpu_s": _jobs(recs, "cpu_ns") / 1e9,
        "executor.gc_s": _jobs(recs, "gc_ms") / 1e3,
        "executor.input_rows": _jobs(recs, "input_rows"),
        "executor.input_bytes": _jobs(recs, "input_bytes"),
        "executor.busy_ratio": (
            _jobs(recs, "run_ms", ("action_jobs",)) / 1e3 / (action_wall * n_cores)
            if action_wall else 0.0
        ),
        "shuffle.read_bytes": _jobs(recs, "shuffle_read_bytes"),
        "shuffle.write_bytes": _jobs(recs, "shuffle_write_bytes"),
        "shuffle.fetch_wait_s": _jobs(recs, "fetch_wait_ms") / 1e3,
        "shuffle.spill_bytes": _jobs(recs, "spill_bytes"),
        "python.udf_s": _sum(recs, "udf_s"),
        "util.release_s": _sum(recs, "release_s"),
        "util.blocks_released": _sum(recs, "blocks_released"),
        "util.blocks_left": _sum(recs, "blocks_left"),
        "util.storage_peak_bytes": max((r.get("storage_bytes", 0) for r in recs), default=0),
        "insert.s": layer("insert.s"),
        "insert.jobs": _jobs(inserts, "jobs", ("action_jobs",)),
        "insert.files_written": _sum(inserts, "files_written"),
        "insert.bytes_written": _jobs(inserts, "output_bytes", ("action_jobs",)),
        "insert.rows_per_s": _sum(timed_inserts, "result") / insert_wall if insert_wall else 0.0,
        "catalog.connect_s": layer("catalog.connect_s"),
        "catalog.table_s": layer("catalog.table_s"),
        "catalog.compact_s": layer("catalog.compact_s"),
        "catalog.delete_s": layer("catalog.delete_s"),
        "catalog.files": wl_pass.get("files", 0),
        "catalog.stored_bytes_per_input_byte": wl_pass.get("stored_bytes_per_input_byte", 0.0),
        "dsl.select_s": layer("dsl.select_s"),
        "trace.overhead_s": traced.wall_s - statistics.median(p.wall_s for p in timed),
        "trace.count_mismatches": sum(
            a != b for a, b in zip(counts(traced), counts(traced_again))
        ) + abs(len(traced.records) - len(traced_again.records)),
    }


def run(wl, seconds: float, trace: bool, artifact_stem: str) -> dict:
    """Run one workload object; returns the result line as a dict. The
    JVM and its Python workers are stopped before this returns."""
    from pyspark import SparkContext

    try:
        return _run(wl, seconds, trace, artifact_stem)
    finally:
        gateway = SparkContext._gateway
        if gateway is not None:
            pids = [gateway.proc.pid, *harness.descendants(gateway.proc.pid)]
            if SparkContext._active_spark_context is not None:
                SparkContext._active_spark_context.stop()
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
            _wait_gone(pids, timeout=30)


def _run(wl, seconds: float, trace: bool, artifact_stem: str) -> dict:
    import check_oracle
    from hustle_spark.util import release_all_persistent

    n_cores = cores()
    tracer = harness.Tracer()
    sessions, starts, setups = [], [], []
    for _ in range(SETUP_CYCLES):
        if sessions:
            # the old session object is kept alive so the registry's
            # catalog memo (keyed by id(spark)) cannot alias a new one
            sessions[-1].stop()
        t0 = time.perf_counter()
        spark = _session(n_cores)
        starts.append(time.perf_counter() - t0)
        wl.connect(spark, tracer)
        wl.warmup(spark)
        release_all_persistent(spark)
        setups.append(time.perf_counter() - t0)
        sessions.append(spark)
    setup = {"setup_s": statistics.median(setups), "session_start_s": statistics.median(starts),
             "cycles_s": setups, "session_starts_s": starts}
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()

    runner = harness.Runner(spark, release_all_persistent, tracer)
    wl.start_checks(check_oracle)
    passes = [runner.run_pass(wl.ops(spark, tracer, "cold"), "cold", "cold")]
    wl.end_pass("cold")
    wl.stop_checks()

    timed, pass_info = [], {}
    t_start = time.perf_counter()
    while not runner.dead and (
        len(timed) < MIN_TIMED_PASSES or time.perf_counter() - t_start < seconds
    ):
        tag = f"timed{len(timed)}"
        timed.append(runner.run_pass(wl.ops(spark, tracer, tag), "timed", tag))
        pass_info[tag] = wl.end_pass(tag)
    traced = []
    for tag in ("traced0", "traced1") if trace else ():
        if runner.dead:
            break
        traced.append(runner.run_pass(wl.ops(spark, tracer, tag), "traced", tag))
        pass_info[tag] = wl.end_pass(tag)
    passes += timed + traced

    rss = harness.peak_rss_mb(jvm_pid)
    attempted = sum(len(p.records) for p in passes)
    failures = [(p.mode, r["op"], r.get("error")) for p in passes for r in p.records if not r["ok"]]
    summary = harness.pass_summary(timed) if timed else {}
    e2e = {
        "setup_s": setup["setup_s"],
        "suite_s": summary.get("suite_s", float("nan")),
        "query_mean_s": summary.get("query_mean_s", float("nan")),
    }
    layers = {}
    if len(traced) == 2:
        layers = layer_metrics(passes[0], traced[0], traced[1], timed, setup,
                               pass_info["traced0"], n_cores, rss)

    shown, units = (layers, PER_LAYER) if trace else (e2e, END_TO_END)
    result = {
        "correct": not failures and not runner.dead and set(shown) >= set(units),
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": shown.get(k, float("nan")), "unit": u} for k, u in units.items()},
    }

    Path(artifact_stem).parent.mkdir(parents=True, exist_ok=True)
    artifact = {
        "workload": wl.name, "why": wl.why, "cores": n_cores, "master": f"local[{n_cores}]",
        "seconds": seconds, "trace": trace, "workload_detail": wl.describe(),
        "setup": setup, "end_to_end": e2e, "per_layer": layers, "summary": summary,
        "error_rate": len(failures) / attempted if attempted else 1.0,
        "failures": failures, "pass_info": pass_info,
        "passes": [{"mode": p.mode, "wall_s": p.wall_s, "records": p.records} for p in passes],
        "result": result,
    }
    Path(f"{artifact_stem}.json").write_text(json.dumps(artifact, indent=1, default=str))
    if trace:
        Path(f"{artifact_stem}.spans.json").write_text(json.dumps(tracer.spans, default=str))

    for mode, op, err in failures[:20]:
        print(f"FAILED [{mode}] {op}: {err}")
    print(f"workload {wl.name}: {len(timed)} timed pass(es), {summary.get('query_samples', 0)} "
          f"query samples, on local[{n_cores}]; slowest query {summary.get('slowest_query')} "
          f"took {summary.get('slowest_query_s', float('nan')):.4g} s (not a benchmark metric)")
    for name, value in {**e2e, **layers}.items():
        print(f"{name} = {value:.6g} {END_TO_END.get(name) or PER_LAYER.get(name)}")
    print(f"error_rate = {artifact['error_rate']:.6g} ({len(failures)}/{attempted})")
    return result


def _wait_gone(pids: list[int], timeout: float) -> None:
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if not any(os.path.exists(f"/proc/{p}") for p in pids):
            return
        time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _prepare_environment()
    try:
        import check_oracle  # noqa: F401
        import hustle_spark  # noqa: F401
        from hustle_spark import registry  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload](WORK, args.seed)
    stem = WORK / "artifacts" / f"{args.workload}-seed{args.seed}-trace{args.trace}"
    try:
        result = run(wl, args.seconds, bool(args.trace), str(stem))
    except Exception:
        traceback.print_exc()
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
