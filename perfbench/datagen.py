"""Seeded input generators for the workloads.

Every generator is a function of its arguments (for the CSVs, the run
date is one of them): the same seed gives the same inputs. Outputs are cached under
the work directory, keyed by kind, size, seed and date, so a repeated seed
pays generation once. Each
cache directory holds an ``inputs.json`` with the row and byte counts the
run record reports beside the metrics.

- ``tables``: the ten query tables (``registry.TABLES``) with the shapes
  and value ranges of the synthetic TPC-H-style + events / documents /
  embeddings test data (TESTDATA.md), scaled by ``sf``.
- ``xetra_csvs``: Xetra-style daily CSV prefixes (one directory per date,
  one file per trading hour) in ``etl.CSV_SCHEMA_XETRA`` column order,
  ending on the run date.
"""

from __future__ import annotations

import json
import os
import shutil
from datetime import date, datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small big customer query "
    "order stream group filter vector"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("small", "red", "blue", "hot", "cold", "large", "green", "shiny")
PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "nut", "panel", "valve")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EMB_DIM = 64


def _cached(out_dir: str, build) -> dict:
    """Run ``build(tmp_dir)`` once per ``out_dir``; return the inputs record.

    The build writes into a sibling temp dir that is renamed into place, so
    an interrupted run never leaves a half-written cache entry behind.
    """
    marker = os.path.join(out_dir, "inputs.json")
    if os.path.exists(marker):
        with open(marker) as fh:
            return json.load(fh)
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    record = build(tmp)
    with open(os.path.join(tmp, "inputs.json"), "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)
    return record


def _table_sizes(root: str, names) -> dict:
    out = {}
    for t in names:
        p = os.path.join(root, f"{t}.parquet")
        out[t] = {"rows": pq.ParquetFile(p).metadata.num_rows, "bytes": os.path.getsize(p)}
    return out


def _ts_us(start: datetime, offsets_us: np.ndarray) -> pa.Array:
    base = int((start - datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(base + offsets_us.astype(np.int64), pa.timestamp("us"))


def _dates_us(rng, n, first: date, last: date) -> pa.Array:
    days = rng.integers(0, (last - first).days + 1, n).astype(np.int64)
    return _ts_us(datetime(first.year, first.month, first.day), days * 86_400_000_000)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(root: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(root, f"{name}.parquet"))


def _documents(rng, n: int) -> dict:
    n_words = rng.integers(10, 101, n)
    word_ix = rng.integers(0, len(WORDS), int(n_words.sum()))
    vocab = np.array(WORDS, dtype=object)
    cuts = np.cumsum(n_words)[:-1]
    texts = [" ".join(ws) for ws in np.split(vocab[word_ix], cuts)]
    # one doc in twenty is a near-duplicate: another doc's text plus " dup"
    pairs = rng.permutation(n)[: 2 * (n // 20)].reshape(-1, 2)
    for src, dst in pairs:
        texts[dst] = texts[src] + " dup"
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def write_tables(root: str, sf: float, seed: int) -> None:
    """The ten query tables at scale ``sf`` (sf0.01 = 60,000 lineitem rows)."""
    rng = np.random.default_rng([seed, int(sf * 1_000_000)])
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users, n_docs = int(1_000_000 * sf), max(int(15_000 * sf), 10), int(50_000 * sf)

    _write(root, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    _write(root, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(root, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust).tolist(), pa.string()),
    })
    _write(root, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    adj = rng.choice(PART_ADJ, n_part)
    noun = rng.choice(PART_NOUN, n_part)
    _write(root, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(adj, noun)], pa.string()),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part).tolist(), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)),
    })
    _write(root, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(("F", "O", "P"), n_ord).tolist(), pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _dates_us(rng, n_ord, date(1995, 1, 1), date(2001, 8, 1)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord).tolist(), pa.string()),
    })
    _write(root, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(("A", "N", "R"), n_line).tolist(), pa.string()),
        "l_linestatus": pa.array(rng.choice(("F", "O"), n_line).tolist(), pa.string()),
        "l_shipdate": _dates_us(rng, n_line, date(1995, 1, 2), date(2001, 11, 4)),
    })
    span_us = 30 * 86_400 * 1_000_000
    _write(root, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts_us(datetime(2024, 1, 1), np.sort(rng.integers(0, span_us, n_ev))),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev).tolist(), pa.string()),
        "value": pa.array(np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string()),
    })
    _write(root, "documents", _documents(rng, n_docs))
    emb = rng.normal(0.0, 1.0, (n_docs, EMB_DIM))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(root, "embeddings", {
        "vec_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.ravel()), EMB_DIM).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, n_docs).astype(np.int32)),
    })


def tables(work: str, sf: float, seed: int) -> tuple[str, dict]:
    """(table dir, inputs record) for the query tables at ``sf``."""
    from trading_data_pipeline_spark.registry import TABLES

    out = os.path.join(work, "data", f"tables-sf{sf}-s{seed}")

    def build(tmp):
        write_tables(tmp, sf, seed)
        return {"sf": sf, "seed": seed, "tables": _table_sizes(tmp, TABLES)}

    return out, _cached(out, build)


XETRA_HOURS = tuple(range(8, 17))  # one file per trading hour, 08:00-16:59
MINUTES_PER_HOUR = 10  # trading minutes per (ISIN, hour)


def write_xetra_csvs(root: str, days: list[str], n_isin: int, seed: int) -> dict:
    """One directory per date, one CSV per trading hour.

    Each (ISIN, hour) draws ``MINUTES_PER_HOUR`` distinct trading minutes,
    so the report's FIRST/LAST-by-Time order has no ties. One row in 500
    leaves TradedVolume empty to exercise the report's null drop.
    """
    rng = np.random.default_rng([seed, len(days), n_isin])
    isins = np.array([f"DE{seed % 1000:03d}{i:07d}" for i in range(n_isin)])
    mnems = np.array([f"M{i:04d}" for i in range(n_isin)])
    base_price = rng.uniform(5.0, 400.0, n_isin)
    per_day = {}
    for d in days:
        os.makedirs(os.path.join(root, d))
        rows = 0
        size = 0
        for h in XETRA_HOURS:
            minutes = np.argsort(rng.random((n_isin, 60)), axis=1)[:, :MINUTES_PER_HOUR]
            minutes.sort(axis=1)
            n = n_isin * MINUTES_PER_HOUR
            isin_ix = np.repeat(np.arange(n_isin), MINUTES_PER_HOUR)
            start = np.round(base_price[isin_ix] * rng.uniform(0.97, 1.03, n), 2)
            end = np.round(start * rng.uniform(0.99, 1.01, n), 2)
            frame = pa.table({
                "ISIN": isins[isin_ix], "Mnemonic": mnems[isin_ix],
                "Currency": np.full(n, "EUR"), "SecurityType": np.full(n, "Common stock"),
                "Date": np.full(n, d),
                "Time": np.array([f"{h:02d}:{m:02d}" for m in range(60)])[minutes.ravel()],
                "StartPrice": start,
                "MaxPrice": np.round(np.maximum(start, end) * rng.uniform(1.0, 1.01, n), 2),
                "MinPrice": np.round(np.minimum(start, end) * rng.uniform(0.99, 1.0, n), 2),
                "EndPrice": end,
                "TradedVolume": pa.array(rng.integers(1, 20_000, n), mask=rng.random(n) < 0.002),
                "NumberOfTrades": rng.integers(1, 60, n),
            })
            path = os.path.join(root, d, f"{d}_BINS_XETR{h:02d}.csv")
            with open(path, "wb") as fh:
                fh.write((",".join(frame.column_names) + "\n").encode())
                pacsv.write_csv(
                    frame, fh, pacsv.WriteOptions(include_header=False, quoting_style="none")
                )
            rows += n
            size += os.path.getsize(path)
        per_day[d] = {"rows": rows, "bytes": size, "files": len(XETRA_HOURS)}
    return per_day


def xetra_csvs(work: str, n_days: int, n_isin: int, seed: int, today: date) -> tuple[str, dict]:
    """(source root, inputs record). The last day is ``today``, the run
    date, so the meta date spine (which runs to ``date.today()``) has
    ``n_days + 1`` dates."""
    days = [(today - timedelta(days=n_days - 1 - i)).isoformat() for i in range(n_days)]
    out = os.path.join(work, "data", f"xetra-{days[-1]}-d{n_days}-i{n_isin}-s{seed}")

    def build(tmp):
        per_day = write_xetra_csvs(tmp, days, n_isin, seed)
        return {
            "seed": seed, "days": days, "per_day": per_day,
            "rows": sum(v["rows"] for v in per_day.values()),
            "bytes": sum(v["bytes"] for v in per_day.values()),
        }

    return out, _cached(out, build)
