"""The benchmark workloads.

Each is a closed loop with one client: the next operation starts only
when the previous one has returned, because a dashboard viewer and a
batch scheduler both wait for their reply.

- ``aq_etl``: the reference pipeline (extract >> transform >> load >>
  validate) as a ``plans.orchestrator.Dag``; one pass is one DAG run
  and one operation is one DAG task.
- ``dash_refresh``: one pass is one refresh of the six dashboard panels
  from ``plans.dashboard.chart_relations``, each panel collected to the
  driver; the construction of the six relations is an operation of its
  own, followed by one operation per panel, in a seeded order.

Outputs are kept and checked after the measured loop, outside every
timed region (see ``check``).
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from inputs import Shape, rng_for, station_names

AQ_TASKS = ["extract", "transform", "load", "validate"]

# The reference DAG's thresholds (dags/airflow_dag_calidad_aire.py:396-401).
MIN_ROWS = 1000
MAX_NULL_PCT = 5.0

# DuckDB recomputation of ``air_quality.daily_summary`` from the written
# hourly parquet. The means stay unrounded: Spark and DuckDB accumulate a
# mean in different orders, so a value that lands on a rounding midpoint
# can round either way; the check asks instead that each written mean is
# a correct 4-decimal rounding of the recomputed one.
DAILY_SQL = """
SELECT CAST(date AS VARCHAR) AS date, station,
       AVG(pm25) AS pm25_mean, MAX(pm25) AS pm25_max, MIN(pm25) AS pm25_min,
       AVG(pm10) AS pm10_mean, MAX(pm10) AS pm10_max, AVG(no2) AS no2_mean,
       AVG(aqi_pm25) AS aqi_pm25_mean, AVG(pollution_index) AS pollution_index_mean,
       CAST(SUM(is_rush_hour) AS BIGINT) AS is_rush_hour_sum
FROM read_parquet('{hourly}/*/*.parquet', hive_partitioning = true)
GROUP BY date, station
"""
HALF_UNIT = 0.5e-4 + 1e-9


@dataclass
class Op:
    """One operation of a pass: its latency, and its error if it failed."""

    name: str
    seconds: float = 0.0
    error: str | None = None
    span: dict | None = None


@dataclass
class Pass:
    pass_id: str
    seconds: float
    ops: list[Op]
    extras: dict = field(default_factory=dict)


class _Frozen:
    """A collected result in the shape ``oracle.compare_query`` expects
    from a query (``.toPandas()``), so the oracle compares the outputs
    the measured loop produced instead of running the query again."""

    def __init__(self, frame):
        self._frame = frame

    def toPandas(self):
        return self._frame.copy()


class Workload:
    name = ""
    # (table, spread) pairs the workload's queries load: generated in set-up,
    # and timed through registry.load in traced passes
    loads: tuple[tuple[str, bool], ...] = ()

    def __init__(self, spark, tracer, shape: Shape, seed: int, input_dir: str, work_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.shape = shape
        self.seed = seed
        self.input_dir = input_dir
        self.work_dir = work_dir
        self.order_rng = rng_for(seed, f"{self.name}.order")
        self.outputs: dict[tuple[str, str], object] = {}

    @contextmanager
    def operation(self, ops: list[Op], name: str):
        """Time one operation under its own job group and span. An
        exception fails the operation, not the run."""
        sc = self.spark.sparkContext
        sc.setJobGroup(f"{self.name}:{self.tracer.pass_id}:{name}", name)
        op = Op(name)
        with self.tracer.span("op", op=name) as sp:
            t0 = time.perf_counter()
            try:
                yield op
            except Exception as e:  # noqa: BLE001 — counted in failed_frac
                op.error = f"{type(e).__name__}: {e}"
            finally:
                op.seconds = time.perf_counter() - t0
        op.span = sp
        sc.setJobGroup(f"{self.name}:idle", "idle")
        ops.append(op)

    def collect(self, df, key: tuple[str, str]):
        """Plan (traced run only) and collect ``df`` to the driver."""
        if self.tracer.enabled:
            with self.tracer.span("plan"):
                df._jdf.queryExecution().executedPlan()
        with self.tracer.span("execute"):
            self.outputs[key] = df.toPandas()

    def time_loads(self) -> None:
        """Traced run: time ``registry.load`` of each table read."""
        from calidad_del_aire_etl_spark import registry

        for table, spread in self.loads:
            with self.tracer.span("registry.load", table=table):
                registry.load(self.spark, self.input_dir, table, spread=spread)

    def run_pass(self, pass_id: str) -> tuple[list[Op], dict]:
        raise NotImplementedError

    def check(self, pass_ids: list[str]) -> dict[tuple[str, str], str]:
        """Problems found in the kept outputs, by (pass id, operation).

        Every query output of the first measured pass is checked against
        its DuckDB twin with ``oracle.compare_query``; every other pass's
        output of the same query must equal that one."""
        from calidad_del_aire_etl_spark import oracle, registry

        oracles = registry.oracle_sql()
        problems: dict[tuple[str, str], str] = {}
        names = sorted({op for (_, op) in self.outputs})
        ref_pass = pass_ids[1]  # the first measured pass
        con = oracle.duck_connection(self.input_dir)
        try:
            for name in names:
                ref = self.outputs.get((ref_pass, name))
                if ref is None:
                    continue
                _, found = oracle.compare_query(
                    self.spark, con, lambda *_: _Frozen(ref), oracles.get(name),
                    self.input_dir,
                )
                if found:
                    problems[(ref_pass, name)] = "; ".join(found)
                ref_sorted = _canonical(ref)
                for pid in pass_ids:
                    out = self.outputs.get((pid, name))
                    if pid == ref_pass or out is None:
                        continue
                    if not _canonical(out).equals(ref_sorted):
                        problems[(pid, name)] = f"output differs from pass {ref_pass}"
        finally:
            con.close()
        return problems


def _canonical(frame):
    from calidad_del_aire_etl_spark import oracle

    out = oracle.norm_frame(frame.copy())
    return out.sort_values(list(out.columns)).reset_index(drop=True) if len(out) else out


class DashRefresh(Workload):
    name = "dash_refresh"
    loads = (("events", False),)

    def run_pass(self, pass_id):
        from calidad_del_aire_etl_spark.plans import dashboard

        ops: list[Op] = []
        rels = {}
        with self.operation(ops, "chart_relations"):
            with self.tracer.span("construct"):
                rels = dashboard.chart_relations(self.spark, self.input_dir)
        for name in self.order_rng.permutation(sorted(rels)):
            with self.operation(ops, str(name)):
                self.collect(rels[name], (pass_id, str(name)))
        return ops, {}


class AqEtl(Workload):
    name = "aq_etl"

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.stations = station_names(self.seed, self.shape.stations)
        self.reports: dict[str, dict] = {}
        self.out_dirs: dict[str, str] = {}

    def _dag(self, out_dir: str):
        from calidad_del_aire_etl_spark.plans import air_quality as aq
        from calidad_del_aire_etl_spark.plans.orchestrator import Dag
        from calidad_del_aire_etl_spark.sources.generator import generate_air_quality

        spark, stations, days = self.spark, self.stations, self.shape.days
        spans: dict[str, list] = {}

        def traced(name, fn):
            # Every attempt runs under the task's job group and span; the
            # task's latency is the Dag's own TaskResult.seconds.
            def run(*args, **kwargs):
                self.spark.sparkContext.setJobGroup(
                    f"{self.name}:{self.tracer.pass_id}:{name}", name)
                with self.tracer.span("op", op=name) as sp:
                    try:
                        return fn(*args, **kwargs)
                    finally:
                        spans.setdefault(name, []).append(sp)
            return run

        dag = Dag("calidad_del_aire")

        def extract(**_):
            return generate_air_quality(spark, num_days=days, stations=stations)

        def load(clean):
            aq.load(clean, aq.daily_summary(clean), out_dir)
            return out_dir

        def validate(clean):
            df = aq.validate(clean)
            if self.tracer.enabled:
                with self.tracer.span("plan"):
                    df._jdf.queryExecution().executedPlan()
            report = df.collect()[0].asDict()
            if report["total_records"] < MIN_ROWS:
                raise ValueError("insufficient data for analysis")
            report["null_warning"] = bool(report["null_percentage"] > MAX_NULL_PCT)
            return report

        # The reference's 3-retry policy applies to every task (dag:417).
        dag.task("extract", retries=3)(traced("extract", extract))
        dag.task("transform", upstream=["extract"], retries=3)(traced("transform", aq.transform))
        dag.task("load", upstream=["transform"], retries=3)(traced("load", load))
        dag.task("validate", upstream=["transform"], retries=3)(traced("validate", validate))
        return dag, spans

    def run_pass(self, pass_id):
        out_dir = os.path.join(self.work_dir, "out", pass_id)
        shutil.rmtree(out_dir, ignore_errors=True)
        ops: list[Op] = []
        dag, spans = self._dag(out_dir)
        t0 = time.perf_counter()
        results = dag.run()
        dag_wall = time.perf_counter() - t0
        self.spark.sparkContext.setJobGroup(f"{self.name}:idle", "idle")
        for name in AQ_TASKS:
            res = results[name]
            op = Op(name, seconds=res.seconds,
                    error=None if res.state == "success" else f"{res.state}: {res.error}")
            task_spans = spans.get(name) or [None]
            op.span = task_spans[-1]
            if self.tracer.enabled and len(task_spans) > 1:
                # retried: attribute every attempt's jobs to the task
                op.span["first_job"] = task_spans[0]["first_job"]
                op.span["start"] = task_spans[0]["start"]
            ops.append(op)
        if results["validate"].state == "success":
            self.reports[pass_id] = results["validate"].value
        self.out_dirs[pass_id] = out_dir
        n_files, n_bytes = 0, 0
        for base, _, files in os.walk(out_dir):
            for f in files:
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(base, f))
        extras = {
            "orchestrator.overhead_s": dag_wall - sum(r.seconds for r in results.values()),
            "orchestrator.retries": sum(max(0, r.attempts - 1) for r in results.values()),
            "sinks.bytes_written": n_bytes,
            "sinks.files_written": n_files,
        }
        return ops, extras

    def check(self, pass_ids):
        """The reference's validate invariants on each pass's report, and
        the written daily rollup against a DuckDB recomputation from the
        written hourly parquet."""
        import duckdb

        expected_rows = self.shape.stations * self.shape.days * 24
        problems: dict[tuple[str, str], str] = {}
        for pid in pass_ids:
            rep = self.reports.get(pid)
            if rep is not None:
                found = []
                if rep["total_records"] != expected_rows:
                    found.append(f"rows {rep['total_records']} != {expected_rows}")
                if rep["unique_groups"] != len(self.stations):
                    found.append(f"stations {rep['unique_groups']} != {len(self.stations)}")
                if rep["total_records"] < MIN_ROWS or rep["null_warning"]:
                    found.append(f"reference thresholds: {rep}")
                if found:
                    problems[(pid, "validate")] = "; ".join(found)
            out_dir = self.out_dirs.get(pid)
            if out_dir is None or not os.path.isdir(os.path.join(out_dir, "daily")):
                continue
            con = duckdb.connect()
            try:
                want = con.execute(DAILY_SQL.format(hourly=f"{out_dir}/hourly")).df()
                got = con.execute(
                    f"SELECT * REPLACE (CAST(date AS VARCHAR) AS date) "
                    f"FROM read_parquet('{out_dir}/daily/*.parquet')"
                ).df()
            finally:
                con.close()
            found = _daily_mismatch(got, want, self.shape.stations * self.shape.days)
            if found:
                problems[(pid, "load")] = found
        return problems


def _daily_mismatch(got, want, expected_rows: int) -> str | None:
    """Written daily rollup against its recomputation: keys, maxima,
    minima and sums exact; each mean within half a unit of its 4th
    decimal."""
    if len(got) != expected_rows or len(want) != expected_rows:
        return f"daily rows {len(got)} written, {len(want)} recomputed, {expected_rows} expected"
    both = got.merge(want, on=["date", "station"], suffixes=("", "_want"))
    if len(both) != expected_rows:
        return "daily (date, station) keys differ from the recomputation"
    for col in got.columns:
        if col in ("date", "station"):
            continue
        a, b = both[col], both[f"{col}_want"]
        diff = (a - b).abs()
        off = diff > HALF_UNIT if col.endswith("_mean") else diff != 0
        bad = (a.isna() != b.isna()) | (~(a.isna() | b.isna()) & off)
        if bad.any():
            row = both[bad].iloc[0]
            return f"{col}: {int(bad.sum())} rows differ, e.g. {row[col]} vs {row[col + '_want']}"
    return None


WORKLOADS = {w.name: w for w in (AqEtl, DashRefresh)}
