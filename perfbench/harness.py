"""Workload-independent machinery: operations, passes, timing, tracing.

An operation is one user-visible call, split in two phases that each run
under their own Spark job group:

* ``build`` makes the result object (a DataFrame for queries; eager
  driver actions it runs, such as checkpoints, land in the build group);
* ``act`` materialises it — through the ``noop`` sink in timed and
  traced passes, through ``collect`` in the cold pass so the rows can be
  checked.

A run has three kinds of pass over the workload's operation list:

* ``cold``: untimed; checks every output and warms the JVM;
* ``timed``: tracing off; repeated until ``--seconds`` have elapsed, and
  at least twice;
* ``traced``: reads Spark's status store per operation after the fact,
  records spans, and profiles Python workers. Traced passes never feed
  the end-to-end metrics.
"""

from __future__ import annotations

import os
import statistics
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable

from py4j.protocol import Py4JJavaError

QUERY = "query"


class Mismatch(Exception):
    """An operation returned a result that disagrees with its check."""


@dataclass
class Op:
    name: str
    kind: str  # query | insert | compact | delete | catalog
    build: Callable[[], Any]
    act: Callable[[Any, bool], Any]  # (built, collect) -> result
    check: Callable[[Any], None] | None = None  # raises Mismatch


class Tracer:
    """In-memory spans plus per-operation layer timers.

    ``layer(name)`` times a call into one engine layer from the
    benchmark's side and adds it to the current operation's record; in
    traced passes it also records a span. Spans are written out once, at
    the end of the run."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.record: dict | None = None

    def open(self, name: str, **attrs) -> int | None:
        if not self.enabled:
            return None
        sid = len(self.spans)
        self.spans.append({
            "id": sid, "name": name, "start": time.time(), "end": None,
            "parent": self._stack[-1] if self._stack else None, **attrs,
        })
        self._stack.append(sid)
        return sid

    def close(self, sid: int | None) -> None:
        if sid is None:
            return
        self.spans[sid]["end"] = time.time()
        self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({
            "id": sid, "name": name, "start": start, "end": end, "parent": parent, **attrs,
        })
        return sid

    @contextmanager
    def layer(self, key: str):
        sid = self.open(key, kind="layer")
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            self.close(sid)
            if self.record is not None:
                layers = self.record.setdefault("layers", {})
                layers[key] = layers.get(key, 0.0) + dt


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def query_op(name: str, build: Callable[[], Any], check=None) -> Op:
    """A DataFrame-returning operation: noop sink when timed, collect
    when checked."""

    def act(df, collect: bool):
        if collect:
            return df.columns, [tuple(r) for r in df.collect()], df
        noop_write(df)
        return None

    return Op(name, QUERY, build, act, check)


def slowest(records: list[dict]) -> tuple[str | None, float]:
    """The query operation with the largest median latency over the
    passes given, and that median."""
    by_op: dict[str, list[float]] = {}
    for r in records:
        if r["kind"] == QUERY and r["ok"]:
            by_op.setdefault(r["op"], []).append(r["latency_s"])
    if not by_op:
        return None, float("nan")
    name = max(by_op, key=lambda k: statistics.median(by_op[k]))
    return name, statistics.median(by_op[name])


class SparkProbe:
    """Reads what the engine did from outside: the status store by job
    group, Catalyst phase timings, storage blocks and the Python UDF
    profiler. All reads happen after an operation has finished."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()

    def set_group(self, group: str | None) -> None:
        if group is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(group, group)

    def alive(self) -> bool:
        try:
            return not self.jsc.isStopped()
        except Exception:
            return False

    def storage(self) -> tuple[int, int]:
        """(cached RDD blocks, bytes in memory and on disk)."""
        blocks = size = 0
        for info in self.jsc.getRDDStorageInfo():
            blocks += info.numCachedPartitions()
            size += info.memSize() + info.diskSize()
        return blocks, size

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def jobs(self, group: str, parent: int | None, tracer: Tracer) -> dict:
        """Sum of scheduler/executor/shuffle counters over the jobs of
        one job group, with a span per job and per executed stage."""
        store = self.jsc.statusStore()
        out = dict.fromkeys(
            "jobs stages tasks run_ms cpu_ns gc_ms input_rows input_bytes "
            "shuffle_read_bytes shuffle_write_bytes fetch_wait_ms spill_bytes "
            "output_bytes".split(), 0)
        seen: set[int] = set()
        for jid in sorted(self.sc.statusTracker().getJobIdsForGroup(group)):
            job = store.job(jid)
            out["jobs"] += 1
            jspan = tracer.add(
                f"job {jid}", _ms(job.submissionTime()), _ms(job.completionTime()),
                parent, kind="job",
            )
            ids = job.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue  # never submitted
                if str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["run_ms"] += st.executorRunTime()
                out["cpu_ns"] += st.executorCpuTime()
                out["gc_ms"] += st.jvmGcTime()
                out["input_rows"] += st.inputRecords()
                out["input_bytes"] += st.inputBytes()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["fetch_wait_ms"] += st.shuffleFetchWaitTime()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out["output_bytes"] += st.outputBytes()
                tracer.add(
                    f"stage {sid}", _ms(st.submissionTime()), _ms(st.completionTime()),
                    jspan, kind="stage", tasks=st.numTasks(),
                )
        return out

    @staticmethod
    def catalyst_ms(df) -> dict:
        """Phase durations of the DataFrame's own QueryExecution. The
        noop write plans the same logical plan again, so these stand for
        the phases the action paid."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = {}
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            phases[kv._1()] = kv._2().durationMs()
        return phases

    def udf_seconds(self) -> float:
        results = self.spark._profiler_collector._perf_profile_results
        total = sum(stats.total_tt for stats in results.values())
        self.spark.profile.clear()
        return total


def _ms(opt_date) -> float | None:
    return opt_date.get().getTime() / 1000.0 if opt_date.isDefined() else None


@dataclass
class PassResult:
    mode: str
    wall_s: float
    records: list[dict] = field(default_factory=list)


class Runner:
    """Runs passes of one workload in one Spark session."""

    def __init__(self, spark, release: Callable[[Any], int], tracer: Tracer) -> None:
        self.spark = spark
        self.release = release
        self.tracer = tracer
        self.probe = SparkProbe(spark)
        self.dead = False

    def run_pass(self, ops: list[Op], mode: str, tag: str) -> PassResult:
        traced = mode == "traced"
        self.tracer.enabled = traced
        if traced:
            self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
            self.spark.profile.clear()
        # every pass starts from a collected heap, outside its wall time
        self.spark._jvm.System.gc()
        pspan = self.tracer.open(f"pass {tag}", kind="pass")
        t0 = time.perf_counter()
        res = PassResult(mode, 0.0)
        for i, op in enumerate(ops):
            rec = {"op": op.name, "kind": op.kind, "ok": False}
            res.records.append(rec)
            if self.dead:
                rec["error"] = "JVM died earlier in the run"
                continue
            self._run_op(op, rec, mode, f"{tag}.{i}.{op.name}")
        res.wall_s = time.perf_counter() - t0
        self.tracer.close(pspan)
        if traced:
            self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
        self.tracer.enabled = False
        return res

    def _run_op(self, op: Op, rec: dict, mode: str, gid: str) -> None:
        collect = mode == "cold"
        tr, probe = self.tracer, self.probe
        tr.record = rec
        ospan = tr.open(op.name, kind="op")
        phase_span: dict[str, int | None] = {}
        built = None
        try:
            t0 = time.perf_counter()
            phase_span["build"] = tr.open("build", kind="build")
            probe.set_group(f"{gid}.build")
            built = op.build()
            tr.close(phase_span["build"])
            t1 = time.perf_counter()
            phase_span["action"] = tr.open("action", kind="action")
            probe.set_group(f"{gid}.action")
            result = op.act(built, collect)
            tr.close(phase_span["action"])
            t2 = time.perf_counter()
            rec.update(build_s=t1 - t0, action_s=t2 - t1, latency_s=t2 - t0, ok=True)
            if isinstance(result, (int, list)):  # rows acknowledged, files, partitions
                rec["result"] = result
            if collect:
                self._check(op, result, rec)
        except Exception as exc:  # the run goes on and counts the failure
            rec["error"] = f"{type(exc).__name__}: {str(exc)[:400]}"
            rec["traceback"] = traceback.format_exc(limit=6)[-2000:]
            while tr._stack and tr._stack[-1] != ospan:
                tr.close(tr._stack[-1])
            self.dead = not probe.alive()
        finally:
            probe.set_group(None)
        try:
            if not self.dead:
                self._after_op(op, built, rec, mode, gid, phase_span)
        except Exception as exc:
            rec["ok"] = False
            rec.setdefault("error", f"after op: {type(exc).__name__}: {str(exc)[:400]}")
            self.dead = not probe.alive()
        tr.close(ospan)
        tr.record = None

    @staticmethod
    def _check(op: Op, result, rec: dict) -> None:
        if isinstance(result, tuple):  # (columns, rows, df) from query_op
            rec["rows"] = len(result[1])
        if op.check is None:
            return
        try:
            op.check(result)
        except Mismatch as exc:
            rec["ok"] = False
            rec["error"] = f"wrong result: {exc}"

    def _after_op(self, op: Op, built, rec: dict, mode: str, gid: str, phase_span: dict) -> None:
        """Per-operation reads (traced), the storage check (cold and
        traced) and the between-operation release (always)."""
        probe = self.probe
        if mode == "traced":
            probe.drain()
            for phase in ("build", "action"):
                rec[f"{phase}_jobs"] = probe.jobs(
                    f"{gid}.{phase}", phase_span.get(phase), self.tracer
                )
            rec["udf_s"] = probe.udf_seconds()
            if op.kind == QUERY and hasattr(built, "_jdf"):
                rec["catalyst_ms"] = probe.catalyst_ms(built)
        elif mode == "cold":
            # first-call job counts: eager work that memoised state skips later
            probe.drain()
            for phase in ("build", "action"):
                rec[f"cold_{phase}_jobs"] = len(
                    probe.sc.statusTracker().getJobIdsForGroup(f"{gid}.{phase}"))
        if mode != "timed":
            rec["storage_bytes"] = probe.storage()[1]
        t0 = time.perf_counter()
        rec["blocks_released"] = self.release(self.spark)
        rec["release_s"] = time.perf_counter() - t0
        if mode != "timed":
            rec["blocks_left"] = probe.storage()[0]


def pass_summary(passes: list[PassResult]) -> dict:
    """End-to-end numbers over timed passes.

    On a shared VM, interference from other tenants only ever adds time,
    and it comes in bursts of seconds to minutes. So the end-to-end
    numbers take the fastest timed run, the least disturbed one:
    ``suite_s`` is the fastest pass's wall time, and ``query_mean_s`` the
    mean, over query operations, of each operation's fastest latency. A
    mean does not jump from one operation's latency to its neighbour's
    when two operations trade ranks, as a pooled median does. Medians are
    kept for the artifact."""
    records = [r for p in passes for r in p.records]
    by_op: dict[str, list[float]] = {}
    for r in records:
        if r["kind"] == QUERY and r["ok"]:
            by_op.setdefault(r["op"], []).append(r["latency_s"])
    lat = [x for v in by_op.values() for x in v]
    name, slowest_s = slowest(records)
    return {
        "suite_s": min(p.wall_s for p in passes),
        "query_mean_s": (
            statistics.mean(min(v) for v in by_op.values()) if by_op else float("nan")
        ),
        "suite_median_s": statistics.median(p.wall_s for p in passes),
        "query_p50_s": statistics.median(lat) if lat else float("nan"),
        "slowest_query": name,
        "slowest_query_s": slowest_s,
        "query_samples": len(lat),
        "passes": len(passes),
    }


def peak_rss_mb(jvm_pid: int) -> float:
    """VmHWM of the driver JVM plus every process below it (the Python
    worker daemon and its workers), in MiB."""
    total_kb = 0
    for pid in [jvm_pid, *descendants(jvm_pid)]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out
