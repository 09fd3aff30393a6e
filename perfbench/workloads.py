"""The workloads: what one pass runs, how each operation is timed, and how
its output is checked.

An operation is one call into the package's public surface:

- ``catalog-sf0.01``: ``registry.all_queries()[q].fn(spark, table_dir)``
  (the *build*), then ``.write.format("noop").mode("overwrite").save()``
  (the *materialise*), as ``bench.py`` runs them;
- ``report1-etl``: one ``etl.run_job(config_path, spark)`` call.

A warm-up pass runs every operation once before the timed passes: it
pays the first-execution cost (class loading, JIT, codegen), which makes a
first pass slower and far less steady than later ones.

Untimed work (output checks, ETL target preparation, and cache clearing,
GC and a listener-bus drain before each operation) happens outside the
timed region.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from datetime import date

import pandas as pd

import datagen

# Beside bench.HEADLINE: an oracle-backed query whose plan crosses the
# Arrow/Python boundary (mapInArrow), which no headline query does.
CATALOG_EXTRA = ("q_char_entropy",)
CATALOG_SF = 0.01
META_KEY = "meta/report1_meta.csv"
# 1,200 ISINs x 10 minutes x 9 hourly files = 108,000 rows a day, the
# daily volume of the 2.27 M-row / 21-day Xetra probe; the number of days
# fits a pass (one backfill and one incremental run) to the time budget.
ETL_ISINS = 1200
ETL_DAYS = 3


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def isolate(spark) -> None:
    """Right before each timed operation: drop cached plans and force a
    JVM GC, as bench.py does between queries, then wait until Spark's
    listener bus is empty. Earlier work (the previous operation, its
    check, the untimed preparation) then charges neither its heap debt
    nor its pending status events to the operation."""
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


class DateChanged(Exception):
    """The calendar date changed during the run (see EtlWorkload.guard)."""


class Workload:
    kind = ""
    nominal_pass_s = 0.0  # sets the number of timed passes (run.Run.n_passes)

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.spark = self.specs = None

    def start(self, spark, specs) -> None:
        self.spark, self.specs = spark, specs

    def warm_up_ops(self) -> list[str]:
        return self.pass_ops()

    def prime(self) -> None:
        """Untimed, after the warm-up pass: warm code paths the timed
        passes use but the warm-up pass does not."""

    def guard(self) -> None:
        """Raise DateChanged if the run can no longer check its outputs."""

    def prepare(self, op: str, warm: bool) -> None:
        """Untimed preparation before one operation."""

    def needs_check(self, op: str, pass_no: int) -> bool:
        """Whether to check the output of ``op`` in pass ``pass_no`` (-1 is
        the warm-up pass)."""
        return pass_no >= 0

    def finish(self) -> list[str]:
        return []


class CatalogWorkload(Workload):
    """All bench.HEADLINE queries plus CATALOG_EXTRA, in seeded order, on
    seeded sf0.01 tables."""

    kind = "query"
    nominal_pass_s = 10.0  # a warm pass on 4 cores

    def __init__(self, work: str, seed: int):
        super().__init__(work, seed)
        self.table_dir, self.inputs = datagen.tables(work, CATALOG_SF, seed)
        self.last = None

    def start(self, spark, specs) -> None:
        import checks

        super().start(spark, specs)
        self.checker = checks.QueryChecker(self.table_dir)

    def prime(self) -> None:
        """The warm-up pass collects its results; the timed passes write
        them to the noop sink. Run the first query of a pass once more
        through the noop sink, untimed: without it, the first timed query
        ran at 1.3-2x its warm time."""
        q = self.pass_ops()[0]
        isolate(self.spark)
        _noop(self.specs[q].fn(self.spark, self.table_dir))

    def pass_ops(self) -> list[str]:
        from bench import HEADLINE

        names = list(HEADLINE) + list(CATALOG_EXTRA)
        random.Random(self.seed).shuffle(names)
        return names

    def run_op(self, q: str, tracer=None, warm: bool = False) -> dict:
        """Build + materialise through the noop sink. The warm-up pass
        collects the result instead, for its output check: one execution
        both warms the query up and yields the rows to check."""
        spark, spec = self.spark, self.specs[q]
        if tracer is None:
            t0 = time.perf_counter()
            df = spec.fn(spark, self.table_dir)
            t1 = time.perf_counter()
            if warm:
                self.last = df.toPandas()
            else:
                _noop(df)
                self.last = df
            t2 = time.perf_counter()
            return {"build_s": t1 - t0, "materialize_s": t2 - t1, "total_s": t2 - t0}
        sql0 = tracer.sql_count()
        t0 = time.perf_counter()
        with tracer.span("operators.build"):
            df = spec.fn(spark, self.table_dir)
        t1 = time.perf_counter()
        build_sql = tracer.sql_count() - sql0
        plan_s = _plan_phases_s(df)
        t2 = time.perf_counter()
        with tracer.span("spark.materialize"):
            _noop(df)
        t3 = time.perf_counter()
        self.last = df
        return {
            "build_s": t1 - t0, "materialize_s": t3 - t2, "total_s": (t1 - t0) + (t3 - t2),
            "build_sql_executions": build_sql, "plan_s": plan_s,
        }

    def needs_check(self, q: str, pass_no: int) -> bool:
        # every query in the warm-up pass; a digest on every timed pass too,
        # since digests must match across passes
        return pass_no < 0 or self.specs[q].oracle is None

    def check(self, q: str) -> list[str]:
        """Check the result of the operation that just ran (collected rows
        from the warm-up pass, else the DataFrame, collected again)."""
        last, self.last = self.last, None
        pdf = last if isinstance(last, pd.DataFrame) else last.toPandas()
        return self.checker.check(q, self.specs[q], pdf)

    def finish(self) -> list[str]:
        errs = self.checker.settle_digests()
        self.checker.close()
        return errs


def _plan_phases_s(df) -> float:
    """Analysis + optimisation + planning of the built DataFrame's own
    QueryExecution, from its phase tracker (traced run only: forcing the
    executed plan here repeats planning that the noop write does again)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total_ms = 0
    for ph in ("analysis", "optimization", "planning"):
        opt = phases.get(ph)
        if opt.isDefined():
            total_ms += int(opt.get().durationMs())
    return total_ms / 1000.0


class _EtlSource:
    """One seeded CSV source and the job config that reads it."""

    def __init__(self, work: str, isins: int, seed: int, today: date, trg_root: str):
        self.root, self.inputs = datagen.xetra_csvs(work, ETL_DAYS, isins, seed, today)
        self.days = self.inputs["days"]
        self.config = os.path.join(work, f"report1-{os.path.basename(self.root)}.yaml")
        self.trg_root = trg_root

    def write_config(self) -> None:
        import yaml

        with open(self.config, "w") as fh:
            yaml.safe_dump({
                "app_name": "perfbench-report1",
                "paths": {"source_root": self.root, "target_root": self.trg_root},
                "meta": {"meta_key": META_KEY},
                "source": {"src_first_extract_date": self.days[0]},
            }, fh)


class EtlWorkload(Workload):
    """report1 ETL: one backfill into an empty target, then one incremental
    run that processes today on top of a meta file marking every earlier
    day processed.

    The package reads the clock (``date.today()``) in every run, so the
    inputs end on the date the run starts, and ``guard`` stops the run if
    the date changes: after midnight the date spine has one more day and
    the outputs no longer match the checks."""

    kind = "etl"
    nominal_pass_s = 15.0  # a pass on 4 cores

    def __init__(self, work: str, seed: int):
        super().__init__(work, seed)
        self.today = date.today()
        self.trg_root = os.path.join(work, "etl-target")
        self.src = _EtlSource(work, ETL_ISINS, seed, self.today, self.trg_root)
        # warm-up: the same shape, a hundredth of the rows
        self.warm = _EtlSource(work, ETL_ISINS // 100, seed, self.today, self.trg_root)
        self.inputs = {"timed": self.src.inputs, "warm_up": self.warm.inputs}
        days = self.src.days
        # first_date - 1 day .. today
        self.spine_len = (date.fromisoformat(days[-1]) - date.fromisoformat(days[0])).days + 2
        self.template = None

    def _meta_template(self) -> str:
        """A target holding only the meta file, written once per run with
        ``meta.update_meta_file``; incremental runs start from a copy."""
        from trading_data_pipeline_spark import meta
        from trading_data_pipeline_spark.sources.connector import FileSystemConnector

        if self.template is None:
            self.template = self.src.root + "-meta"
            shutil.rmtree(self.template, ignore_errors=True)
            os.makedirs(self.template)
            meta.update_meta_file(
                FileSystemConnector(self.spark, self.template), META_KEY, self.src.days[:-1]
            )
        return self.template

    def start(self, spark, specs) -> None:
        super().start(spark, specs)
        self.src.write_config()
        self.warm.write_config()

    def pass_ops(self) -> list[str]:
        return ["backfill", "incremental"]

    def guard(self) -> None:
        if date.today() != self.today:
            raise DateChanged(f"the date changed from {self.today} during the run")

    def warm_up_ops(self) -> list[str]:
        # The backfill runs every code path of the incremental run but the
        # meta read, so it warms both; warming the incremental run too
        # would add about 5 s to every run.
        return ["backfill"]

    def prepare(self, op: str, warm: bool) -> None:
        """An empty target for the backfill; for an incremental run, a meta
        file marking every day before today processed."""
        shutil.rmtree(self.trg_root, ignore_errors=True)
        if op == "backfill":
            os.makedirs(self.trg_root)
        else:
            shutil.copytree(self._meta_template(), self.trg_root)

    def run_op(self, op: str, tracer=None, warm: bool = False) -> dict:
        from trading_data_pipeline_spark import etl

        t0 = time.perf_counter()
        etl.run_job((self.warm if warm else self.src).config, self.spark)
        return {"total_s": time.perf_counter() - t0}

    def check(self, op: str) -> list[str]:
        import checks

        days = self.src.days
        scan, cutoff = (days, days[0]) if op == "backfill" else (days[-2:], days[-1])
        return checks.check_report1(self.src.root, self.trg_root, scan, cutoff, META_KEY, days)


WORKLOADS = {
    "catalog-sf0.01": CatalogWorkload,
    "report1-etl": EtlWorkload,
}
