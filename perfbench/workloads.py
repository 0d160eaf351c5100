"""The three benchmark workloads.

Each drives the package only through its public functions and wraps
every call into a layer in a span named after that layer's module.

A workload is made with the run's work directory and has five steps:
``generate`` its inputs from the seed (in the phase's JVM, not part of
set-up), ``setup`` (timed, repeated), ``warm`` (``WARM_OPS`` operations),
``measure`` (timed for the run's seconds, and at least ``MIN_OPS``
operations) and ``check`` (untimed, against a reference). An operation
is the workload's unit of work: a pipeline cycle, a round of dashboard
requests or a pass over the query list. ``measure`` probes each operation
(``clock.Probe``) for its wall and CPU time. ``layers`` turns a traced
run's span reports into its per-layer metrics.
"""

from __future__ import annotations

import glob
import os
import random
import statistics
import time

import pandas as pd

import checks
import inputs
from clock import Probe
from jvm import jvm_pid
from spans import SpanReport, Tracer, under
from stats import FailureCount

from supplier_performance_data_pipeline_spark import api
from supplier_performance_data_pipeline_spark.operators import kpis as kpis_op
from supplier_performance_data_pipeline_spark.operators import quality, serving
from supplier_performance_data_pipeline_spark.operators import risk as risk_op
from supplier_performance_data_pipeline_spark.plans.registry import load_all
from supplier_performance_data_pipeline_spark.plans.tpch_domain import CATEGORIES
from supplier_performance_data_pipeline_spark.schemas import SUPPLIER_DOMAIN
from supplier_performance_data_pipeline_spark.sources import readers, writers

# Warehouse scale of dashboard_serving and registry_mix (sf=1: 6 M lineitems).
WAREHOUSE_SF = 0.01


class Measured:
    """What the timed phase produced."""

    def __init__(self) -> None:
        self.op_ms: list[float] = []  # latency of each pipeline step, request or query
        self.items = 0  # work items completed: PO rows, requests or queries
        self.elapsed_s = 0.0
        self.units: list[str] = []  # span ids that per-unit Spark totals divide by
        self.samples: list = []  # clock.Sample of each operation, in order
        # per operation, the clock.Sample of each of its parts (pipeline
        # steps or requests) by name
        self.parts: list[dict] = []
        self.info: dict[str, object] = {}


def spark_runtime(reports: dict[str, SpanReport], units: list[str]) -> dict[str, float]:
    """Spark work per unit of the measured phase."""
    rs = [reports[u] for u in units]
    n = max(1, len(rs))

    def per_unit(attr: str) -> float:
        return sum(r.total(attr) for r in rs) / n

    return {
        "spark.jobs": sum(len(r.jobs) for r in rs) / n,
        "spark.tasks": per_unit("tasks"),
        "spark.executor_run_s": per_unit("run_s"),
        "spark.scheduler_delay_s": per_unit("scheduler_delay_s"),
        "spark.shuffle_write_bytes": per_unit("shuffle_write_bytes"),
        "spark.spill_bytes": per_unit("spill_bytes"),
        "spark.gc_s": per_unit("gc_s"),
    }


def _layer_sum(reports, units, layer, value) -> float:
    """Sum of ``value(report)`` over spans of ``layer`` below ``units``, per unit."""
    return sum(value(r) for r in under(reports, units) if r.span.layer == layer) / max(
        1, len(units)
    )


def _dur(r: SpanReport) -> float:
    return r.span.end - r.span.start


def _timed_loop(seconds: float, min_ops: int, step) -> tuple[float, list]:
    """Call ``step()`` until ``seconds`` have passed and it has run at least
    ``min_ops`` times, each under a probe; returns the elapsed seconds and
    the probes' samples."""
    samples = []
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds or len(samples) < min_ops:
        probe = Probe(jvm_pid())
        step()
        samples.append(probe.stop())
    return time.perf_counter() - t0, samples


# --- nightly_pipeline --------------------------------------------------------


class NightlyPipeline:
    """Load with integrity checks -> supplier_kpis -> supplier_risk_summary, in
    ``plans/pipeline.run_pipeline`` order, on the same CSV inputs each cycle."""

    name = "nightly_pipeline"
    N_POS = 50_000
    N_SUPPLIERS = 1_000
    WARM_OPS = 1
    MIN_OPS = 4

    def __init__(self, work: str) -> None:
        self.work = work

    def generate(self, spark, seed: int) -> dict[str, str]:
        self.csv = inputs.write_supplier_domain_csvs(
            spark, os.path.join(self.work, "inputs"), self.N_POS, self.N_SUPPLIERS, seed
        )
        stats = inputs.input_stats(self.csv)
        self.input_bytes = sum(s["bytes"] for s in stats.values())
        self.rows_loaded = sum(s["rows"] for s in stats.values())
        self.po_rows = stats["purchase_orders"]["rows"]
        self.n_cycles = 0
        return self.csv

    def setup(self, spark, tracer: Tracer) -> None:
        with tracer.span("register_sources", "sources"):
            srcs = {
                n: readers.read_csv(spark, p, SUPPLIER_DOMAIN[n]) for n, p in self.csv.items()
            }
            quality.row_counts(srcs)

    def _cycle(self, spark, tracer: Tracer):
        out = os.path.join(self.work, f"cycle{self.n_cycles}")
        self.n_cycles += 1
        calls = []

        def call(name, layer, fn):
            with tracer.span(name, layer) as s:
                calls.append(s)
                probe = Probe(jvm_pid())
                try:
                    return fn()
                except Exception as e:  # counted as a failed operation; the cycle goes on
                    s.ok = False
                    s.error = repr(e)[:200]
                finally:
                    s.sample = probe.stop()

        with tracer.span("cycle", "pipeline") as cyc:
            loaded = {}
            for n, p in self.csv.items():
                dst = os.path.join(out, n)

                def load(n=n, p=p, dst=dst):
                    writers.write_parquet(readers.read_csv(spark, p, SUPPLIER_DOMAIN[n]), dst)
                    return readers.read_parquet(spark, dst)

                loaded[n] = call(f"load.{n}", "sources", load)
            call("row_counts", "quality", lambda: quality.row_counts(loaded))
            for n, key in (
                ("suppliers", "supplier_id"),
                ("purchase_orders", "po_id"),
                ("deliveries", "po_id"),
            ):
                call(f"unique.{n}", "quality",
                     lambda n=n, key=key: quality.assert_unique_key(loaded[n], key))
            po, dl = loaded["purchase_orders"], loaded["deliveries"]
            call("integrity.po_delivery", "quality",
                 lambda: quality.assert_referential_integrity(po, dl, "po_id", "po->delivery"))
            call("integrity.delivery_po", "quality",
                 lambda: quality.assert_referential_integrity(dl, po, "po_id", "delivery->po"))

            def kpis():
                k = kpis_op.compute_supplier_kpis(
                    loaded["suppliers"], loaded["purchase_orders"], loaded["deliveries"]
                )
                writers.write_parquet(k, os.path.join(out, "supplier_kpis"))
                return readers.read_parquet(spark, os.path.join(out, "supplier_kpis"))

            k = call("kpis", "kpis", kpis)
            call("risk", "risk", lambda: writers.write_parquet(
                risk_op.supplier_risk_summary(k), os.path.join(out, "supplier_risk_summary")))
        return cyc, out, calls

    def warm(self, spark, tracer: Tracer) -> None:
        for _ in range(self.WARM_OPS):
            self._cycle(spark, tracer)

    def measure(self, spark, tracer, seconds, failures: FailureCount) -> Measured:
        m = Measured()
        m.info["cycle_ms"] = []
        self.outputs = []

        def step():
            cyc, out, calls = self._cycle(spark, tracer)
            for s in calls:
                failures.attempt(s.ok, f"{s.name}: {getattr(s, 'error', '')}")
            m.op_ms += [s.ms for s in calls]
            m.parts.append({s.name: s.sample for s in calls})
            m.info["cycle_ms"].append(round(cyc.ms, 1))
            m.units.append(cyc.id)
            self.outputs.append(out)
            if all(s.ok for s in calls):
                m.items += self.po_rows

        m.elapsed_s, m.samples = _timed_loop(seconds, self.MIN_OPS, step)
        m.info["cycles"] = len(m.units)
        m.info["po_rows_per_cycle"] = self.po_rows
        return m

    def check(self, failures: FailureCount, spark) -> None:
        """Each measured cycle's KPI and risk tables against DuckDB's."""
        ref = checks.pipeline_reference(self.csv)
        files = glob.glob(os.path.join(self.outputs[0], "*", "*.parquet"))
        self.files_per_cycle = len(files)
        self.bytes_per_cycle = sum(
            os.path.getsize(f) for f in files if os.path.basename(os.path.dirname(f)) in self.csv
        )
        for i, out in enumerate(self.outputs):
            for table in ("supplier_kpis", "supplier_risk_summary"):
                try:
                    got = pd.read_parquet(os.path.join(out, table))
                    why = checks.frames_agree_6dp(got, ref[table], "supplier_id")
                except (OSError, ValueError) as e:
                    why = repr(e)
                if why:
                    failures.fail_attempted(1, f"cycle {i} {table}: {why}")

    def layers(self, reports, m: Measured) -> dict[str, float]:
        u = m.units
        return {
            "sources.load_s": _layer_sum(reports, u, "sources", _dur),
            "sources.bytes_written_per_input_byte": self.bytes_per_cycle / self.input_bytes,
            "sources.files_written": float(self.files_per_cycle),
            "quality.check_s": _layer_sum(reports, u, "quality", _dur),
            "quality.jobs": _layer_sum(reports, u, "quality", lambda r: len(r.jobs)),
            "quality.rows_read_per_row_loaded": _layer_sum(
                reports, u, "quality", lambda r: r.total("input_records")
            ) / self.rows_loaded,
            "kpis.s": _layer_sum(reports, u, "kpis", _dur),
            "kpis.shuffle_bytes": _layer_sum(
                reports, u, "kpis", lambda r: r.total("shuffle_write_bytes")
            ),
            "risk.s": _layer_sum(reports, u, "risk", _dur),
            "risk.jobs": _layer_sum(reports, u, "risk", lambda r: len(r.jobs)),
        }


# --- dashboard_serving -------------------------------------------------------

KINDS = (
    "filtered_table",
    "top_k",
    "kpi_tiles",
    "column_bounds",
    "distinct_values",
    "preview",
    "drilldown",
)


def request_rounds(seed: int, n: int, n_suppliers: int) -> list[list[dict]]:
    """The seeded requests the dashboard client sends: ``n`` rounds, each
    one request of every kind in ``KINDS``, in a seeded order and with
    seeded parameters."""
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        kinds = list(KINDS)
        rng.shuffle(kinds)
        out.append([_request_params(rng, kind, n_suppliers) for kind in kinds])
    return out


def _request_params(rng: random.Random, kind: str, n_suppliers: int) -> dict:
    req: dict = {"kind": kind}
    if kind in ("filtered_table", "kpi_tiles"):
        lo = round(rng.uniform(0.0, 0.6), 2)
        if rng.random() < 0.5:
            req["equals"] = {"category": rng.choice(CATEGORIES)}
        else:
            req["equals"] = {"country": f"NATION_{rng.randrange(25)}"}
        req["between"] = {"risk_score": (lo, round(lo + rng.uniform(0.1, 0.5), 2))}
    if kind in ("filtered_table", "top_k"):
        req["k"] = rng.choice([5, 10, 20, 50])
    if kind == "column_bounds":
        req["col"] = rng.choice(checks.NUMERIC_COLS)
    if kind == "distinct_values":
        req["col"] = rng.choice(["category", "country"])
    if kind == "preview":
        req["n"] = rng.choice([10, 25, 50])
    if kind == "drilldown":
        req["supplier_id"] = rng.randrange(n_suppliers)
    return req


def build_request(spark, req: dict):
    """The DataFrame a request asks for (lazy)."""
    from pyspark.sql import functions as F

    kind = req["kind"]
    if kind == "drilldown":
        return api.sql(
            spark,
            "SELECT l_returnflag, COUNT(*) AS n_lines, SUM(l_quantity) AS qty, "
            "SUM(l_extendedprice) AS revenue FROM lineitem "
            f"WHERE l_suppkey = {int(req['supplier_id'])} GROUP BY l_returnflag",
        )
    df = spark.table("supplier_risk_summary")
    by_risk = [F.col("risk_score").desc(), F.col("supplier_id")]
    if kind == "filtered_table":
        df = serving.apply_filters(df, req["equals"], req["between"])
        return serving.display_projection(serving.top_k(df, by_risk, req["k"]))
    if kind == "top_k":
        return serving.top_k(df, by_risk, req["k"])
    if kind == "kpi_tiles":
        df = serving.apply_filters(df, req["equals"], req["between"])
        return serving.kpi_tiles(df, checks.TILE_COLS)
    if kind == "column_bounds":
        return serving.column_bounds(df, req["col"])
    if kind == "distinct_values":
        return serving.distinct_values(df, req["col"])
    if kind == "preview":
        return serving.preview(df, "supplier_id", req["n"])
    raise ValueError(f"unknown request kind {kind!r}")


class DashboardServing:
    """Closed loop, one client: it sends its next request when the previous
    one has returned. One operation is a round of one request per kind."""

    name = "dashboard_serving"
    WARM_OPS = 3
    MIN_OPS = 8

    def __init__(self, work: str) -> None:
        self.wh = os.path.join(work, "warehouse")

    def generate(self, spark, seed: int) -> dict[str, str]:
        paths = inputs.write_warehouse(self.wh, WAREHOUSE_SF, seed)
        self.n_suppliers = inputs.input_stats({"s": paths["supplier"]})["s"]["rows"]
        self.rounds = request_rounds(seed, 3_000, self.n_suppliers)
        self.warm_rounds = request_rounds(seed + 1, self.WARM_OPS, self.n_suppliers)
        return paths

    def setup(self, spark, tracer: Tracer) -> None:
        with tracer.span("create_views", "api"):
            api.create_views(spark, self.wh)

    def _request(self, spark, tracer: Tracer, req: dict):
        """Returns the request's span and its response, None if it failed."""
        layer = "api" if req["kind"] == "drilldown" else "serving"
        with tracer.span(req["kind"], "request") as s:
            probe = Probe(jvm_pid())
            try:
                with tracer.span("build", layer):
                    df = build_request(spark, req)
                with tracer.span("exec", layer):
                    return s, df.toPandas()
            except Exception as e:  # a failed request is counted; the client goes on
                s.error = repr(e)[:200]
                return s, None
            finally:
                s.sample = probe.stop()

    def warm(self, spark, tracer: Tracer) -> None:
        for rnd in self.warm_rounds:
            for req in rnd:
                self._request(spark, tracer, req)

    def measure(self, spark, tracer, seconds, failures: FailureCount) -> Measured:
        m = Measured()
        self.results = []
        rounds = iter(self.rounds)

        def step():
            parts = {}
            m.parts.append(parts)
            for req in next(rounds):
                s, pdf = self._request(spark, tracer, req)
                parts[req["kind"]] = s.sample
                self.results.append((req, s, pdf))
                failures.attempt(pdf is not None, f"{req}: {getattr(s, 'error', '')}")
                m.op_ms.append(s.ms)
                m.units.append(s.id)
                m.items += pdf is not None

        m.elapsed_s, m.samples = _timed_loop(seconds, self.MIN_OPS, step)
        m.info["clients"] = 1
        m.info["rounds"] = len(m.samples)
        return m

    def check(self, failures: FailureCount, spark) -> None:
        """Every response against the dashboard's pandas logic over the
        collected summary."""
        summary = spark.table("supplier_risk_summary").toPandas()
        lineitem = pd.read_parquet(os.path.join(self.wh, "lineitem.parquet"))
        for req, _, pdf in self.results:
            if pdf is None:
                continue
            why = checks.responses_agree(pdf, checks.dashboard_reference(req, summary, lineitem))
            if why:
                failures.fail_attempted(1, f"{req}: {why}")

    def layers(self, reports, m: Measured) -> dict[str, float]:
        reqs = [reports[u] for u in m.units]
        serve = [r for r in reqs if r.span.name != "drilldown"]
        below = under(reports, [r.span.id for r in serve])

        def mean_ms(rs) -> float:
            return 1000.0 * sum(_dur(r) for r in rs) / max(1, len(rs))

        return {
            "api.create_views_s": statistics.median(
                _dur(r) for r in reports.values() if r.span.name == "create_views"
            ),
            "api.sql_exec_ms": mean_ms(
                [r for r in under(reports, m.units) if r.span.layer == "api" and r.span.name == "exec"]
            ),
            "serving.build_ms": mean_ms([r for r in below if r.span.name == "build"]),
            "serving.exec_ms": mean_ms([r for r in below if r.span.name == "exec"]),
            "serving.jobs_per_request": sum(len(r.jobs) for r in serve) / max(1, len(serve)),
            "serving.tasks_per_request": sum(r.total("tasks") for r in serve) / max(1, len(serve)),
            "serving.driver_gap_ms": 1000.0 * sum(r.job_gap_s for r in serve) / max(1, len(serve)),
            "serving.job_wait_ms": 1000.0 * sum(r.job_wait_s for r in serve) / max(1, len(serve)),
        }


# --- registry_mix ------------------------------------------------------------

# Two halves that exercise different operator families: the relational
# half ranking, windows, as-of joins and graph iteration; the corpus
# half dedup, similarity joins, clustering and ANN search.
RELATIONAL = (
    "order_status_priority_pivot",
    "top3_suppliers_per_nation",
    "window_function_surface",
    "events_sessionize",
    "events_asof_purchase_view",
    "monthly_revenue_growth",
)
CORPUS = (
    "dedup_exact",
    "lsh_near_dup_pairs",
    "ann_ivf_topk",
    "embedding_label_centroids",
    "document_chunks",
    "decontamination_report",
    "multimodal_features",
)


class RegistryMix:
    """One driver runs the fixed query list, both halves per pass, passes
    back to back."""

    name = "registry_mix"
    WARM_OPS = 1
    MIN_OPS = 1

    def __init__(self, work: str) -> None:
        self.wh = os.path.join(work, "warehouse")

    def generate(self, spark, seed: int) -> dict[str, str]:
        return inputs.write_warehouse(self.wh, WAREHOUSE_SF, seed)

    def setup(self, spark, tracer: Tracer) -> None:
        with tracer.span("load_registry", "plans"):
            self.specs = load_all()
            for name in ("orders", "lineitem", "events", "documents", "embeddings"):
                readers.read_parquet(spark, os.path.join(self.wh, f"{name}.parquet")).schema

    def _pass(self, spark, tracer: Tracer, results: list, parts: dict):
        """One pass over both halves; each query's clock.Sample goes into
        ``parts`` by name."""
        with tracer.span("pass", "plans") as p:
            for half, names in (("relational", RELATIONAL), ("corpus", CORPUS)):
                with tracer.span(half, "plans"):
                    for name in names:
                        spec = self.specs[name]
                        module = spec.build.__module__.rsplit(".", 1)[-1]
                        with tracer.span(name, f"plans.{module}") as q:
                            probe = Probe(jvm_pid())
                            try:
                                with tracer.span("build", "plans.build"):
                                    df = spec.build(spark, self.wh)
                                with tracer.span("exec", "plans.exec"):
                                    pdf = df.toPandas()
                            except Exception as e:  # counted as a failed query
                                pdf = None
                                q.error = repr(e)[:200]
                            parts[name] = probe.stop()
                        results.append((name, q, pdf))
        return p

    def warm(self, spark, tracer: Tracer) -> None:
        for _ in range(self.WARM_OPS):
            self._pass(spark, tracer, [], {})

    def measure(self, spark, tracer, seconds, failures: FailureCount) -> Measured:
        m = Measured()
        self.results: list = []

        def step():
            m.parts.append({})
            m.units.append(self._pass(spark, tracer, self.results, m.parts[-1]).id)

        m.elapsed_s, m.samples = _timed_loop(seconds, self.MIN_OPS, step)
        for name, q, pdf in self.results:
            failures.attempt(pdf is not None, f"{name}: {getattr(q, 'error', '')}")
            m.op_ms.append(q.ms)
            m.items += pdf is not None
        halves = {s.id: s for s in tracer.spans if s.parent in set(m.units)}
        for half in ("relational", "corpus"):
            m.info[f"mix_{half}_s"] = statistics.median(
                s.end - s.start for s in halves.values() if s.name == half
            )
        m.info["passes"] = len(m.units)
        return m

    def check(self, failures: FailureCount, spark) -> None:
        """Every measured result against its registered oracle, compared as
        ``tests/oracle_utils`` does."""
        from tests.oracle_utils import assert_frames_match, run_oracle

        expected = {}
        for name, _, pdf in self.results:
            spec = self.specs[name]
            if pdf is None or spec.oracle is None:
                continue
            if name not in expected:
                expected[name] = run_oracle(self.wh, spec.oracle)
            try:
                assert_frames_match(pdf, expected[name], name, spec.approx_cols)
            except AssertionError as e:
                failures.fail_attempted(1, str(e)[:200])

    def layers(self, reports, m: Measured) -> dict[str, float]:
        u = m.units
        below = under(reports, u)
        out = {}
        for module in (
            "queries_core", "queries_analytics", "queries_joins", "queries_events",
            "queries_text", "queries_sim", "queries_corpus", "queries_curation",
            "queries_multimodal",
        ):
            out[f"plans.{module}.s"] = _layer_sum(reports, u, f"plans.{module}", _dur)
        out["plans.build_s"] = _layer_sum(reports, u, "plans.build", _dur)
        out["plans.driver_gap_s"] = sum(
            r.job_gap_s for r in below if r.span.layer.startswith("plans.queries_")
        ) / max(1, len(u))
        passes = set(u)
        for half in ("relational", "corpus"):
            out[f"plans.{half}_s"] = statistics.median(
                _dur(r) for r in reports.values() if r.span.parent in passes and r.span.name == half
            )
        return out


WORKLOADS = {
    "nightly_pipeline": NightlyPipeline,
    "dashboard_serving": DashboardServing,
    "registry_mix": RegistryMix,
}
