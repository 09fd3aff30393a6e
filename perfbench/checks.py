"""Output checks, run untimed next to the timed operations.

- Oracle-backed queries: Spark result vs the registry's DuckDB oracle SQL,
  with ``tools/parity.py``'s ``duckdb_con`` / ``compare`` (order-insensitive,
  dtype-strict).
- Queries without an oracle: an order-insensitive digest of the result,
  which must be identical across passes of a run and across runs that use
  the same seed (the digests are kept beside the seed's cached inputs).
- report1 ETL: the written report and the meta file vs a DuckDB
  recomputation of report1 over the same CSVs.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os


class QueryChecker:
    def __init__(self, table_dir: str):
        self.table_dir = table_dir
        self._con = None
        self._digest_path = os.path.join(table_dir, "digests.json")
        self.digests: dict[str, str] = {}

    def _duck(self):
        if self._con is None:
            from tools.parity import duckdb_con

            self._con = duckdb_con(self.table_dir)
        return self._con

    def check(self, name: str, spec, pdf) -> list[str]:
        """Errors for one query's collected output (empty list = correct)."""
        if spec.oracle is not None:
            return compare(pdf, self._duck().execute(spec.oracle).fetchdf())
        d = digest(pdf)
        prev = self.digests.setdefault(name, d)
        if prev != d:
            return [f"digest {d} differs from an earlier pass ({prev})"]
        return []

    def settle_digests(self) -> list[str]:
        """Compare this run's digests with earlier runs on the same inputs,
        then record them. Returns one error per mismatching query."""
        stored = {}
        if os.path.exists(self._digest_path):
            with open(self._digest_path) as fh:
                stored = json.load(fh)
        errs = [
            f"{q}: digest {d} differs from an earlier run on this seed ({stored[q]})"
            for q, d in self.digests.items() if q in stored and stored[q] != d
        ]
        stored.update({q: d for q, d in self.digests.items() if q not in stored})
        with open(self._digest_path, "w") as fh:
            json.dump(stored, fh, indent=1, sort_keys=True)
        return errs

    def close(self) -> None:
        if self._con is not None:
            self._con.close()


def compare(got, want) -> list[str]:
    """``tools/parity.compare``, with a vectorised fast path: frames that are
    identical after ``normalize`` (same columns, dtype classes, rows) pass
    without the per-cell loop, which takes minutes on 10^5-row results."""
    from tools.parity import canon_dtype, normalize
    from tools.parity import compare as parity_compare

    if (
        sorted(got.columns) == sorted(want.columns)
        and len(got) == len(want)
        and all(canon_dtype(got[c]) == canon_dtype(want[c]) for c in got.columns)
        and normalize(got).equals(normalize(want))
    ):
        return []
    return parity_compare(got, want)


def digest(pdf) -> str:
    """Order-insensitive SHA-256 of a result frame (columns by name, rows
    sorted on every column, as ``tools/parity.normalize`` orders them)."""
    from tools.parity import normalize

    text = normalize(pdf).to_csv(index=False)
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def report1_oracle_sql(files: list[str], extract_date: str) -> str:
    """DuckDB report1 over the given CSV files (see operators/report1.py
    for the step-by-step reference semantics)."""
    file_list = ", ".join(f"'{f}'" for f in files)
    return f"""
    WITH src AS (
      SELECT * FROM read_csv([{file_list}], header = true, auto_detect = false, delim = ',', columns = {{
        'ISIN': 'VARCHAR', 'Mnemonic': 'VARCHAR', 'Currency': 'VARCHAR',
        'SecurityType': 'VARCHAR', 'Date': 'VARCHAR', 'Time': 'VARCHAR',
        'StartPrice': 'DOUBLE', 'MaxPrice': 'DOUBLE', 'MinPrice': 'DOUBLE',
        'EndPrice': 'DOUBLE', 'TradedVolume': 'BIGINT', 'NumberOfTrades': 'BIGINT'}})
      WHERE ISIN IS NOT NULL AND Mnemonic IS NOT NULL AND Date IS NOT NULL
        AND Time IS NOT NULL AND StartPrice IS NOT NULL AND EndPrice IS NOT NULL
        AND MinPrice IS NOT NULL AND MaxPrice IS NOT NULL AND TradedVolume IS NOT NULL
    ),
    oc AS (
      SELECT ISIN, Date, MinPrice, MaxPrice, TradedVolume,
             first_value(StartPrice) OVER w AS op, last_value(StartPrice) OVER w AS cl
      FROM src
      WINDOW w AS (PARTITION BY ISIN, Date ORDER BY Time
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ),
    agg AS (
      SELECT ISIN, Date, min(op) AS op, min(cl) AS cl, min(MinPrice) AS mn,
             max(MaxPrice) AS mx, CAST(sum(TradedVolume) AS BIGINT) AS vol
      FROM oc GROUP BY ISIN, Date
    ),
    lagged AS (SELECT *, lag(op) OVER (PARTITION BY ISIN ORDER BY Date) AS prev FROM agg)
    SELECT ISIN, Date,
           round(op, 2) AS opening_price_eur, round(cl, 2) AS closing_price_eur,
           round(mn, 2) AS minimum_price_eur, round(mx, 2) AS maximum_price_eur,
           vol AS daily_traded_volume,
           round(CASE WHEN prev <> 0 THEN (op - prev) / prev * 100 END, 2)
             AS "change_prev_closing_%"
    FROM lagged WHERE Date >= '{extract_date}'
    """


def check_report1(src_root: str, trg_root: str, scan_days: list[str], extract_date: str,
                  meta_key: str, expect_meta_days: list[str]) -> list[str]:
    """Errors in one ETL run's outputs: the single report object under
    ``trg_root/report1/`` and the meta file's processed-date set."""
    import duckdb
    import pandas as pd

    reports = glob.glob(os.path.join(trg_root, "report1", "*.parquet"))
    if len(reports) != 1:
        return [f"expected one report object, found {len(reports)}"]
    got = pd.read_parquet(reports[0])
    files = sorted(f for d in scan_days for f in glob.glob(os.path.join(src_root, d, "*.csv")))
    con = duckdb.connect()
    try:
        want = con.execute(report1_oracle_sql(files, extract_date)).fetchdf()
        errs = compare(got, want)
        meta = con.execute(
            f"SELECT * FROM read_csv('{os.path.join(trg_root, meta_key)}', header = true, all_varchar = true)"
        ).fetchdf()
    finally:
        con.close()
    if list(meta.columns) != ["source_date", "datetime_of_processing"]:
        errs.append(f"meta columns {list(meta.columns)}")
    elif sorted(meta["source_date"]) != sorted(expect_meta_days):
        errs.append(
            f"meta dates {sorted(meta['source_date'])[:3]}... ({len(meta)}) != "
            f"expected {len(expect_meta_days)} days"
        )
    return errs
