"""Repo benchmark: workloads through the package's public surface.

Usage (from the repository root):

    python3 perfbench/run.py --workload catalog-sf0.01 --seed 1 --seconds 20 --trace 0

Workloads: ``catalog-sf0.01`` and ``report1-etl`` (see workloads.py and
README.md). One process, one client in a closed loop on
``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this process may use).

A run: generate the seeded inputs (cached per seed, untimed) -> start the
JVM -> ``SETUPS`` timed set-ups, each a session start, a fresh import of
the package and a registry build -> one warm-up pass of the workload's
operations -> timed passes, as many as fill ``--seconds`` at the
workload's nominal pass length, each operation's output checked right
after it, untimed.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced passes and prints the per-layer metrics. The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed``, ``metrics``. All
files go under ``.perfbench_work/`` in the repository.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
T_START = time.perf_counter()
PKG = "trading_data_pipeline_spark"
SETUPS = 3  # timed set-ups in a run; setup_s is their median


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _environment() -> None:
    """Keep every file the run makes inside the work directory."""
    for need in ("trading_data_pipeline_spark/registry.py", "tools/parity.py", "bench.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            _fail(f"{need} not found under {ROOT}; run from a full checkout")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # every JVM the launcher starts: temp files here, no /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"])
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def _set_up():
    """(spark, specs, timings): session start, then registry import."""
    t0 = time.perf_counter()
    from trading_data_pipeline_spark.session import build_session

    spark = build_session("perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    })
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    from trading_data_pipeline_spark import registry

    specs = registry.all_queries()
    t2 = time.perf_counter()
    return spark, specs, {"session_start_s": t1 - t0, "registry_import_s": t2 - t1}


def _set_up_repeatedly() -> tuple:
    """(spark, specs, setup record).

    The first set-up launches the JVM, whose start time (5-11 s on 4
    cores, varying with the machine's load) is recorded as
    ``jvm_start_s``. Then ``SETUPS`` timed set-ups each stop the session,
    drop the package from ``sys.modules`` and set up again in the same
    JVM, so every one pays the session start, the package import and the
    registry build; the last one stays up for the run. The dropped
    modules are collected before the next set-up, not at a random point
    within it.
    """
    spark, _, first = _set_up()
    reps = []
    for _ in range(SETUPS):
        spark.stop()
        for m in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
            del sys.modules[m]
        gc.collect()
        spark, specs, t = _set_up()
        reps.append(t)
    setup = {
        "jvm_start_s": first["session_start_s"] + first["registry_import_s"],
        "setups": reps,
    }
    for k in ("session_start_s", "registry_import_s"):
        setup[k] = statistics.median(t[k] for t in reps)
    setup["setup_s"] = statistics.median(t["session_start_s"] + t["registry_import_s"] for t in reps)
    return spark, specs, setup


def _stop(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def _cpu_s(spark) -> float:
    """CPU time used so far by this process and the JVM (user + system)."""
    with open(f"/proc/{_jvm_pid(spark)}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    t = os.times()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK") + t.user + t.system


def _reset_peak_rss(spark) -> None:
    """Reset the JVM's peak RSS to its current RSS (Linux >= 4.0), so the
    peak read at the end covers the timed passes only."""
    with open(f"/proc/{_jvm_pid(spark)}/clear_refs", "w") as fh:
        fh.write("5")


def _jvm_peak_rss_mb(spark) -> float:
    with open(f"/proc/{_jvm_pid(spark)}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


class Run:
    """One warm-up pass, then timed passes over one workload, with the
    output checks.

    ``--trace 0``: ``n_passes()`` timed passes. ``--trace 1``: the same
    first pass, then untraced and traced passes alternate, untraced last,
    at least four passes in all. An operation runs faster on each of its
    first three or four executions (JIT), so the tracing overhead compares
    traced passes only with the untraced ones after the first, on both
    sides of each traced pass.
    """

    def __init__(self, workload, seconds: float, trace: bool):
        self.w, self.seconds, self.trace = workload, seconds, trace
        self.ops: list[dict] = []  # one record per timed operation
        self.passes: list[dict] = []
        self.warm_ops: list[dict] = []
        self.warm_up_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.check_s = 0.0
        self.tracer = None

    def _fail(self, where: str, errs: list[str]) -> None:
        self.failed += 1
        self.errors.append(f"{where}: {'; '.join(errs[:3])}")

    def _check(self, where: str, op: str) -> None:
        t0 = time.perf_counter()
        try:
            errs = self.w.check(op)
        except Exception as exc:  # noqa: BLE001 - a failing check is a result
            errs = [f"check raised {type(exc).__name__}: {str(exc)[:300]}"]
        self.check_s += time.perf_counter() - t0
        if errs:
            self._fail(where, errs)

    def _one_op(self, name: str, pass_no: int, traced: bool = False) -> dict:
        """Prepare, time and check one operation (``pass_no`` -1: the
        warm-up pass)."""
        import workloads

        warm = pass_no < 0
        run_id = f"p{pass_no}-{name}"
        rec = {"op": name, "pass": pass_no, "traced": traced, "run_id": run_id}
        self.w.guard()
        try:
            self.w.prepare(name, warm)
            if not warm:  # the warm-up pass is untimed
                workloads.isolate(self.w.spark)
            if traced:
                with self.tracer.operation(run_id) as delta:
                    rec.update(self.w.run_op(name, self.tracer))
                rec["spark"] = delta
            else:
                cpu0 = _cpu_s(self.w.spark)
                rec.update(self.w.run_op(name, warm=warm))
                rec["cpu_s"] = _cpu_s(self.w.spark) - cpu0
        except Exception as exc:  # noqa: BLE001 - a failing operation is a result
            traceback.print_exc(file=sys.stderr)
            rec.update(total_s=0.0, error=f"{type(exc).__name__}: {str(exc)[:300]}")
            self.w.guard()
            self.attempted += 1
            self._fail(run_id, [rec["error"]])
        else:
            # an operation that ran across a date change is void
            self.w.guard()
            self.attempted += 1
            if self.w.needs_check(name, pass_no):
                self._check(run_id, name)
        return rec

    def warm_up(self, spark, specs) -> None:
        self.w.start(spark, specs)
        self.warm_ops = [self._one_op(n, -1) for n in self.w.warm_up_ops()]
        self.warm_up_s = sum(r["total_s"] for r in self.warm_ops)
        t0 = time.perf_counter()
        self.w.prime()
        self.prime_s = time.perf_counter() - t0

    def go(self) -> None:
        """Timed passes. A date change (``workloads.DateChanged``) voids the
        pass it happens in and ends the timed passes."""
        import workloads

        names = self.w.pass_ops()
        for pass_no in range(self.n_passes()):
            traced = self.trace and pass_no % 2 == 0 and pass_no > 0
            if traced and self.tracer is None:
                from tracer import Tracer

                self.tracer = Tracer(self.w.spark)
            if traced:
                self.tracer.install()
            try:
                recs = [self._one_op(n, pass_no, traced) for n in names]
            except workloads.DateChanged as exc:
                self.errors.append(f"pass {pass_no} void: {exc}")
                break
            finally:
                if traced:
                    self.tracer.uninstall()
            self.ops.extend(recs)
            self.passes.append(
                {"pass": pass_no, "traced": traced, "pass_s": sum(r["total_s"] for r in recs),
                 "pass_cpu_s": sum(r.get("cpu_s", 0.0) for r in recs)}
            )
        for e in self.w.finish():
            self._fail("finish", [e])
        if not self.passes or (self.trace and not any(p["traced"] for p in self.passes)):
            raise workloads.DateChanged("; ".join(self.errors[-1:]))

    def n_passes(self) -> int:
        """Timed passes: as many as fill ``seconds`` at the workload's
        nominal pass length, at least one; with tracing, untraced and
        traced passes alternate, untraced first and last, at least four
        (odd counts round up). A count fixed by ``seconds`` rather than by
        the clock keeps every run of a workload on the same passes, so a
        slow host does not change which passes the median covers."""
        n = max(1, round(self.seconds / self.w.nominal_pass_s))
        return max(4, n + n % 2) if self.trace else n


def end_to_end(run: Run, setup: dict, rss_mb: float) -> dict:
    """Every end-to-end figure of the run; the BENCHMARK.json metrics are
    among them."""
    passes = [p["pass_s"] for p in run.passes]
    op_times = [r["total_s"] for r in run.ops if "error" not in r]
    named = {
        "setup_s": setup["setup_s"],
        "pass_s": statistics.median(passes),
        "op_p50_s": statistics.median(op_times) if op_times else float("nan"),
        "jvm_peak_rss_mb": rss_mb,
        "passes": len(passes),
        "failed_ratio": run.failed / run.attempted,
    }
    if run.w.kind == "query":
        named["query_p50_s"] = named["op_p50_s"]
        named["query_samples"] = len(op_times)
        # a p90 needs ten samples beyond it
        named["query_p90_s"] = sorted(op_times)[int(0.9 * len(op_times))] if len(op_times) >= 100 else None
    else:
        bf = [r["total_s"] for r in run.ops if r["op"] == "backfill"]
        inc = [r["total_s"] for r in run.ops if r["op"] != "backfill"]
        named["backfill_s"] = statistics.median(bf)
        named["incremental_p50_s"] = statistics.median(inc)
        named["incremental_samples"] = len(inc)
    return named


def per_layer(run: Run, setup: dict) -> tuple[dict, dict]:
    """(per-layer metrics per traced pass, baseline observations)."""
    tr = run.tracer
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    traced = [p for p in run.passes if p["traced"]]
    plain = [p["pass_s"] for p in run.passes if not p["traced"] and p["pass"] > 0]
    per_pass = []
    for p in traced:
        recs = [r for r in run.ops if r["pass"] == p["pass"]]
        ids = {r["run_id"] for r in recs}
        sp = [r.get("spark", {}) for r in recs]

        def tot(key, _sp=sp):
            return sum(d.get(key, 0) for d in _sp)

        build = sum(r.get("build_s", 0.0) for r in recs)
        mat = sum(r.get("materialize_s", 0.0) for r in recs)
        load_s = tr.total("registry.load", ids)
        exec_wall = mat if run.w.kind == "query" else p["pass_s"]
        writes = [s for s in tr.spans if s.name == "sources.write" and s.run_id in ids]
        per_pass.append({
            "registry.load_calls": tr.calls("registry.load", ids),
            "registry.load_s": load_s,
            "operators.build_s": build,
            "operators.build_self_s": build - load_s,
            "operators.build_share": build / p["pass_s"],
            "operators.build_sql_executions": sum(r.get("build_sql_executions", 0) for r in recs),
            "spark.plan_s": sum(r.get("plan_s", 0.0) for r in recs),
            "spark.materialize_s": mat,
            "spark.sql_executions": tot("sql_executions"),
            "spark.jobs": tot("jobs"),
            "spark.stages": tot("stages"),
            "spark.tasks": tot("tasks"),
            "spark.executor_run_s": tot("executor_run_ms") / 1e3,
            "spark.executor_cpu_s": tot("executor_cpu_ns") / 1e9,
            "spark.gc_s": tot("gc_ms") / 1e3,
            "spark.core_busy_ratio": tot("executor_run_ms") / 1e3 / (exec_wall * cores),
            "spark.shuffle_write_bytes": tot("shuffle_write_bytes"),
            "spark.shuffle_read_bytes": tot("shuffle_read_bytes"),
            "spark.spill_bytes": tot("spill_bytes"),
            "spark.input_bytes": tot("input_bytes"),
            "spark.python_rows": tot("python_rows"),
            "spark.python_bytes": tot("python_bytes"),
            "sources.list_calls": tr.calls("sources.list", ids),
            "sources.list_s": tr.total("sources.list", ids),
            "sources.read_csv_s": tr.total("sources.read_csv", ids),
            "sources.write_s": tr.total("sources.write", ids),
            "sources.bytes_written": sum(s.attrs.get("bytes", 0) for s in writes),
            "meta.date_list_s": tr.total("meta.date_list", ids),
            "meta.update_s": tr.total("meta.update", ids),
            "etl.extract_s": tr.total("etl.extract", ids),
            "etl.transform_s": tr.total("etl.transform", ids),
            "etl.load_s": tr.total("etl.load", ids),
            "etl.sql_executions": tot("sql_executions") if run.w.kind == "etl" else 0,
        })
    metrics = {k: statistics.median(pp[k] for pp in per_pass) for k in per_pass[0]}
    metrics["session.start_s"] = setup["session_start_s"]
    metrics["registry.import_s"] = setup["registry_import_s"]
    metrics["bench.trace_overhead_ratio"] = (
        statistics.median(p["pass_s"] for p in traced) / statistics.median(plain) - 1.0
    )
    # Counter checks against known facts: recorded, not enforced.
    obs = {}
    for r in run.ops:
        if r["traced"] and r["op"] == "q_join_multi":
            obs["q_join_multi.registry.load_calls"] = tr.calls("registry.load", {r["run_id"]})
        if r["traced"] and r["op"] == "backfill":
            obs["backfill.sources.list_calls"] = tr.calls("sources.list", {r["run_id"]})
            obs["backfill.meta_spine_len"] = run.w.spine_len
    report_writes = [
        s.attrs["sql_executions"] for s in tr.spans
        if s.name == "sources.write" and s.attrs.get("format") == "parquet" and s.run_id
    ]
    if report_writes:
        obs["report_write.sql_executions"] = sorted(set(report_writes))
    metrics["registry.load_calls_q_join_multi"] = obs.get("q_join_multi.registry.load_calls", 0)
    metrics["sources.backfill_list_calls"] = obs.get("backfill.sources.list_calls", 0)
    metrics["meta.spine_len"] = obs.get("backfill.meta_spine_len", 0)
    metrics["etl.report_write_sql_executions"] = max(report_writes, default=0)
    return metrics, obs


# units of the record's end-to-end figures that BENCHMARK.json does not gate
RECORD_UNITS = {"jvm_peak_rss_mb": "MB", "failed_ratio": "ratio"}


def declared_metrics(trace: bool) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    _environment()

    import workloads
    from bench import _co_load_sentinel

    if args.workload not in workloads.WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    t_gen = time.perf_counter()
    w = workloads.WORKLOADS[args.workload](WORK, args.seed)
    gen_s = time.perf_counter() - t_gen

    spark, specs, setup = _set_up_repeatedly()
    try:
        run = Run(w, args.seconds, bool(args.trace))
        try:
            run.warm_up(spark, specs)
            setup["warm_up_s"] = run.warm_up_s
            setup["prime_s"] = run.prime_s
            _reset_peak_rss(spark)
            run.go()
        except workloads.DateChanged as exc:
            _fail(f"{exc}; the outputs of this run cannot be checked, run it again")
        rss = _jvm_peak_rss_mb(spark)
        import pyspark

        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "spark_version": spark.version, "pyspark_version": pyspark.__version__,
            "python_version": platform.python_version(),
            "co_load": _co_load_sentinel(),
            "inputs": w.inputs, "input_gen_s": round(gen_s, 3),
            "setup": setup, "warm_up_ops": run.warm_ops, "passes": run.passes,
            "ops": [{k: v for k, v in r.items() if k != "spark"} for r in run.ops],
            "errors": run.errors[:20],
            "check_s": run.check_s,
        }
        if args.trace:
            metrics, obs = per_layer(run, setup)
            record["observations"] = obs
            os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
            spans = os.path.join(
                WORK, "runs", f"{args.workload}-s{args.seed}-{time.strftime('%Y%m%dT%H%M%S')}.spans.jsonl"
            )
            run.tracer.dump(spans)
            record["spans_file"] = os.path.relpath(spans, ROOT)
        else:
            record["end_to_end"] = end_to_end(run, setup, rss)
    finally:
        _stop(spark)
    record["wall_s"] = time.perf_counter() - T_START

    units = declared_metrics(bool(args.trace))
    if not args.trace:
        metrics = {k: v for k, v in record["end_to_end"].items() if k in units}
    if set(units) != set(metrics):
        _fail(f"computed metrics differ from BENCHMARK.json: {sorted(set(units) ^ set(metrics))}")
    print("perfbench record " + json.dumps(record, default=str))
    for k, v in record.get("end_to_end", metrics).items():
        unit = units.get(k) or RECORD_UNITS.get(k) or ("s" if k.endswith("_s") else "count")
        print(f"perfbench metric {args.workload} {k} = {v} {unit}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
