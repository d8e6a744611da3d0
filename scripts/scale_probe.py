"""Scaling probe for individual registry queries: run each named query
at sf0.1 and at the 10x key-shifted copy (built by scripts/sf1_bench.py
gen()), warm (2nd of two runs) in one JVM per scale, print the ratio
table for BASELINE.md.

    python scripts/scale_probe.py doc_chunking skew_profile ...
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from scripts.sf1_bench import DST, SRC, gen  # noqa: E402


def time_queries(sf_dir: str, names: list[str]) -> dict[str, float]:
    # fresh session per scale, matching bench.py's config path
    from pyspark.sql import functions as F
    from hustle_spark.session import get_session
    from hustle_spark import registry
    from hustle_spark.util import release_all_persistent

    spark = get_session(app_name=f"scale-probe", extra_conf={"spark.ui.enabled": "false"})
    out: dict[str, float] = {}
    for name in names:
        fn = registry.QUERIES[name].fn
        best = float("inf")
        try:
            for _ in range(2):
                t0 = time.monotonic()
                # force FULL evaluation of every output column — .count()
                # lets Catalyst prune aggregate expressions the count never
                # reads (e.g. countDistinct in a final groupBy), which
                # under-measures the real query cost (ADVICE r2); hashing
                # all columns matches what check_oracle.py/the driver pay
                df = fn(spark, sf_dir)
                try:
                    # decimal accumulation: a raw long sum of xxhash64
                    # values overflows under ANSI mode within ~1e10 rows
                    action = df.agg(
                        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))
                    )
                    action.schema  # analysis check before timing the run
                except Exception:  # un-hashable output type: collect instead
                    action = None
                (action.collect() if action is not None else df.collect())
                best = min(best, time.monotonic() - t0)
                # free the query's caches and checkpoints (the r8 sf1
                # OOM: back-to-back SA queries in one 8g JVM)
                release_all_persistent(spark)
            out[name] = round(best, 3)
        except Exception as exc:
            # a broken query records the -1.0 dead-reading signature so
            # the artifact's validate_artifact guard fires (VERDICT r8
            # directive #3 — without this, any failure killed the whole
            # probe and the guard could never see a negative) and the
            # remaining probes still run; a JVM death still aborts the
            # subprocess, which run_probe surfaces as "produced no JSON".
            # A failure on the SECOND iteration keeps the first
            # iteration's genuine reading — only a query that never
            # completed is a dead reading (review r9)
            print(f"scale_probe: {name} failed: {exc}", file=sys.stderr)
            out[name] = round(best, 3) if best != float("inf") else -1.0
            try:
                release_all_persistent(spark)
            except Exception:
                pass
    spark.stop()
    return out


def main() -> None:
    import json

    from hustle_spark import registry

    # --dir MODE (used by sf100_probe.py): time the named queries at ONE
    # directory in this JVM and emit a single JSON line {name: sec}
    if "--dir" in sys.argv:
        sf_dir = sys.argv[sys.argv.index("--dir") + 1]
        names = [a for a in sys.argv[1:] if not a.startswith("-") and a != sf_dir]
        print(json.dumps(time_queries(sf_dir, names)))
        return

    names = [a for a in sys.argv[1:] if not a.startswith("-")]
    valid = set(registry.QUERIES)
    unknown = [n for n in names if n not in valid]
    if unknown or not names:
        sys.exit(
            f"unknown queries: {unknown or '(none given)'}\n"
            f"valid names: {', '.join(sorted(valid))}"
        )
    gen(regen=False)
    base = time_queries(SRC, names)
    scaled = time_queries(str(DST), names)
    print(f"{'query':32s} {'sf0.1':>8s} {'sf1':>8s} {'ratio':>6s}")
    for n in names:
        r = scaled[n] / base[n] if base[n] else float("nan")
        print(f"{n:32s} {base[n]:8.3f} {scaled[n]:8.3f} {r:6.2f}")


if __name__ == "__main__":
    main()
