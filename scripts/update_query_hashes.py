"""Regenerate docs/query_hashes.json, the per-query content manifest
that orders the driver window (hustle_spark/registry.py) and backs
tests/test_window_invariant.py.

Each entry is the md5 of the sources of every hustle_spark function,
class and module constant the query's function reaches, plus its
oracle SQL. A row whose hash differs from the manifest, or is missing
from it, is "changed" and leads queries(), so the driver re-proves it.

Regenerate ONLY after a green full oracle sweep on the final tree:

    python scripts/check_oracle.py     # sf0.01 by default: 0 FAILED
    python scripts/update_query_hashes.py

Running this script declares every current row proven; regenerating
before the sweep (or before the last code change) would hide changed
rows from the window.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from hustle_spark.registry import query_content_hashes  # noqa: E402

OUT = Path(__file__).resolve().parents[1] / "docs" / "query_hashes.json"


def main():
    hashes = query_content_hashes()
    OUT.write_text(json.dumps(hashes, indent=1, sort_keys=True) + "\n")
    print(f"wrote {len(hashes)} hashes to {OUT}")


if __name__ == "__main__":
    main()
