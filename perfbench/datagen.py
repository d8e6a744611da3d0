"""Seeded input generators for the benchmark workloads.

Everything the benchmark feeds the engine is made here from ``--seed``:

* ``olap_tables`` writes the ten TPC-H-ish parquet tables the registry
  queries read (``region nation customer supplier part orders lineitem
  events documents embeddings``), with the column types and value
  domains of the fixture tables described in FIXTURES.md section A.
* ``event_batches`` writes newline-JSON ``impressions``/``pixels``
  batches in the shape of FIXTURES.md section B, for ``insert``.

Both are pure functions of their arguments: the same seed and size give
byte-identical files. Outputs are cached by seed and size under the
benchmark's work directory, so generation never runs inside a timed
region; the generation time is stored next to the files and reported.
"""

from __future__ import annotations

import datetime as dt
import json
import shutil
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

OLAP_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_ADJ = ["small", "red", "new", "hot", "large", "blue", "cold", "old"]
_NOUN = ["ring", "widget", "bolt", "rod", "plate", "anvil", "gear", "gizmo"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "fr", "es", "zh", "de"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
_UAS = [
    "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) Safari/605.1.15",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) Gecko/20100101 Firefox/128.0",
    "curl/7.88.1",
    "Googlebot/2.1 (+http://www.google.com/bot.html)",
    "python-requests/2.31",
]

_EPOCH = dt.datetime(1970, 1, 1)


def _micros(day: dt.datetime) -> int:
    return int((day - _EPOCH).total_seconds()) * 1_000_000


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.array(np.asarray(values, dtype=object)[idx], type=pa.string())


def _days(rng: np.random.Generator, first: dt.datetime, last: dt.datetime, n: int) -> np.ndarray:
    span = (last - first).days
    return _micros(first) + rng.integers(0, span + 1, n) * 86_400_000_000


def _olap_arrays(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 20)
    n_li = max(int(6_000_000 * sf), 50)
    n_ev = max(int(1_000_000 * sf), 50)
    n_user = max(int(15_000 * sf), 5)
    n_doc = max(int(50_000 * sf), 40)
    n_vec = max(int(20_000 * sf), 20)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(_REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    adj = rng.integers(0, len(_ADJ), n_part)
    noun = rng.integers(0, len(_NOUN), n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, _PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 1)),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _ts(_days(rng, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), n_ord)),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(_days(rng, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), n_li)),
    })
    ev_ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)) + _micros(dt.datetime(2024, 1, 1))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, n_user, n_ev, dtype=np.int64)),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": pa.array(np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    texts: list[str] = []
    dup = rng.random(n_doc) < 0.05
    for i in range(n_doc):
        if dup[i] and i > 0:
            # a near-duplicate: an earlier document plus a marker token;
            # two copies of one source are exact duplicates of each other
            texts.append(texts[int(rng.integers(0, i))].removesuffix(" dup") + " dup")
        else:
            words = rng.integers(0, len(_VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(_VOCAB[w] for w in words))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, _LANGS, n_doc, p=_LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    vecs = rng.standard_normal((n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec).astype(np.int32)),
    })
    return out


def _cached(dst: Path, build) -> dict:
    """Run ``build(tmp_dir)`` once per ``dst``; return its metadata.

    The build writes into a sibling temp dir that is renamed into place
    only when complete, so an interrupted run never leaves a half-written
    input set that a later run would trust."""
    meta_file = dst / "_GENERATED.json"
    if meta_file.exists():
        meta = json.loads(meta_file.read_text())
        meta["cache_hit"] = True
        return meta
    tmp = dst.with_name(dst.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    t0 = time.perf_counter()
    meta = build(tmp)
    meta["generate_s"] = time.perf_counter() - t0
    (tmp / "_GENERATED.json").write_text(json.dumps(meta, indent=1, sort_keys=True))
    shutil.rmtree(dst, ignore_errors=True)
    tmp.rename(dst)
    meta["cache_hit"] = False
    return meta


def olap_tables(root: Path, seed: int, sf: float) -> tuple[Path, dict]:
    """Write (or reuse) the seeded parquet tables; returns (dir, meta)."""
    dst = Path(root) / f"olap-sf{sf:g}-seed{seed}"

    def build(tmp: Path) -> dict:
        rows = {}
        for name, table in _olap_arrays(seed, sf).items():
            pq.write_table(table, tmp / f"{name}.parquet", compression="snappy")
            rows[name] = table.num_rows
        return {"seed": seed, "sf": sf, "rows": rows}

    return dst, _cached(dst, build)


def _event_rows(rng: np.random.Generator, batch: int, dates: list[str], n_imp: int, n_pix: int):
    n_sites, n_ads = 40, 800
    imps, pixs = [], []
    for d_i, date in enumerate(dates):
        day0 = int((dt.datetime.fromisoformat(date) - _EPOCH).total_seconds())
        n = n_imp // len(dates)
        secs = np.sort(rng.integers(0, 86_400, n))
        sites = rng.integers(0, n_sites, n)
        ads = rng.integers(0, n_ads, n)
        cpm = rng.integers(100, 5_000, n)
        paths = rng.integers(0, 200, n)
        uas = rng.integers(0, len(_UAS), n)
        extra = rng.random(n) < 0.1
        for i in range(n):
            row = {
                "token": f"b{batch}d{d_i}-{i:06d}",
                "date": date,
                "time": day0 + int(secs[i]),
                "url": f"http://site{sites[i]}.example.com/p/{paths[i]}",
                "site_id": f"s{sites[i]}",
                "ad_id": 30_000 + int(ads[i]),
                "cpm_millis": int(cpm[i]),
                "ua": _UAS[uas[i]],
            }
            if extra[i]:
                row["campaign_note"] = "undeclared field, dropped on insert"
            imps.append(row)
        m = n_pix // len(dates)
        p_sites = rng.integers(0, n_sites, m)
        p_ads = rng.integers(0, n_ads, m)
        amounts = rng.integers(1, 10_000, m)
        for i in range(m):
            pixs.append({
                "date": date,
                "site_id": f"s{p_sites[i]}",
                "amount": int(amounts[i]),
                "ad_id": 30_000 + int(p_ads[i]),
            })
    return imps, pixs


def event_batches(
    root: Path, seed: int, batches: int, dates_per_batch: int, n_imp: int, n_pix: int
) -> tuple[Path, dict]:
    """Write (or reuse) seeded newline-JSON batches; returns (dir, meta).

    Batch ``b`` holds ``dates_per_batch`` consecutive new dates, so every
    insert opens new ``date`` partitions and the retention delete at the
    end of a pass can drop the oldest ones."""
    dst = Path(root) / f"events-b{batches}x{dates_per_batch}-{n_imp}-{n_pix}-seed{seed}"

    def build(tmp: Path) -> dict:
        rng = np.random.default_rng(seed)
        start = dt.date(2014, 1, 20)
        info = []
        for b in range(batches):
            dates = [
                (start + dt.timedelta(days=b * dates_per_batch + k)).isoformat()
                for k in range(dates_per_batch)
            ]
            imps, pixs = _event_rows(rng, b, dates, n_imp, n_pix)
            for table, rows in (("impressions", imps), ("pixels", pixs)):
                text = "".join(json.dumps(r, separators=(",", ":")) + "\n" for r in rows)
                (tmp / f"{table}-{b}.json").write_text(text)
            info.append({"dates": dates, "impressions": len(imps), "pixels": len(pixs)})
        return {"seed": seed, "batches": info}

    return dst, _cached(dst, build)
