"""The two workloads: inputs, operations, oracles and checks.

Each workload drives the package only through its public functions
(``queries.queries()``/``oracle_sql()``, ``plans.pipeline.Pipeline`` stage
methods, ``testing.compare_frames``) and times every call from outside.
A pass runs every operation once; ``run_pass`` returns one record per
operation with its latency and whether its output was correct.
Correctness is decided outside the timed calls.

Why these workloads: each layer does most of its work in one of them and
none in the other.

- ``etl_cycle``: the reference job (fetch -> select -> sync -> load ->
  compress), twice per pass into a fresh warehouse; the only workload
  that decodes raw files and writes and merges warehouse tables. It runs
  no declared query and no stream.
- ``query_mix``: declared queries over seeded star-schema parquet whose
  fact tables are replicated into multi-file directories — relational
  (TPC-H adaptations, catalog), LLM-curation operators (Arrow-batched
  Python stages, candidate-pair shuffles) and streaming availableNow
  drains (checkpoint commits, state store, micro-batch planning). It
  decodes no raw file and writes no warehouse table.
"""

from __future__ import annotations

import os
import re
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import duckdb

import gen

# The query mix: fixed subsets of the relational, LLM-curation and
# streaming declared-query families; the seed only permutes the order.
# The subsets are sized so that one run (a fresh JVM set-up, a cold pass
# and two warm passes) stays near 60 s on 4 cores; everything else is
# left out for that budget, not because its oracle does not apply. Five
# operations take under 0.35 s warm (tpch_q6, catalog, compress,
# text_quality_score, dedup_exact_documents) and four over 0.8 s
# (tpch_q21, bm25, both drains), so the median latency falls inside the
# 0.4-0.7 s cluster of tpch_q1/q3/q5/q13 and the exact cosine top-k.
SQL_OPS = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier",
    "tpch_q6_forecast_revenue",
    "tpch_q13_customer_distribution",
    "tpch_q21_waiting_supplier",
    "catalog_include_keys",
    "compress_component_union",
]
CURATION_OPS = [
    "text_quality_score",
    "dedup_exact_documents",
    "text_bm25_search",
    "sim_topk_cosine_exact",
]
STREAM_OPS = [
    "stream_tumbling_available_now",
    "stream_anomaly_zscore",
]
QUERY_OPS = SQL_OPS + CURATION_OPS + STREAM_OPS
QUERY_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
]  # fmt: skip
QUERY_SCALE = gen.StarScale(replicas=2)
ETL_SCALE = gen.EtlScale()


@dataclass
class OpResult:
    name: str
    latency_s: float
    ok: bool
    detail: str = ""
    start: float = 0.0  # epoch seconds, for event-log windows
    end: float = 0.0
    parts: dict[str, float] = field(default_factory=dict)  # seconds per stage call


@dataclass
class PassResult:
    ops: list[OpResult] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)  # counts taken in trace mode

    @property
    def seconds(self) -> float:
        return sum(o.latency_s for o in self.ops)


def _fail(name: str, t0: float, w0: float, exc: BaseException) -> OpResult:
    traceback.print_exception(exc, file=sys.stderr)
    return OpResult(name, time.perf_counter() - t0, False, repr(exc)[:200], w0, time.time())


def _dir_bytes(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def _all_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, n)) for r, _d, ns in os.walk(path) for n in ns)


class QueryWorkload:
    """Declared queries over one seeded star schema, in the seed's order.
    An operation is ``fn(spark, dir)`` (build) then ``toPandas()``
    (execute and fetch); its rows are compared with the DuckDB oracle
    right after the operation, outside its timing, and then dropped."""

    name = "query_mix"
    warm_passes = 2

    def __init__(self, work: str, seed: int):
        self.data = os.path.join(work, "data")
        self.tables = gen.star_schema(self.data, seed, QUERY_SCALE, QUERY_TABLES)
        self.ops = gen.permuted(QUERY_OPS, seed, self.name)
        self.inputs = {
            "rows_in": sum(t["rows"] for t in self.tables.values()),
            "bytes_in": sum(t["bytes"] for t in self.tables.values()),
            "decoded_bytes_in": sum(t["decoded_bytes"] for t in self.tables.values()),
            "ops_per_pass": len(self.ops),
            "replication_factor": QUERY_SCALE.replicas,
            "tables": {k: v["rows"] for k, v in self.tables.items()},
        }
        self.expected = self._oracles()

    def _oracles(self) -> dict:
        from k8e_fetch_spark.queries import oracle_sql

        sql = oracle_sql()
        con = duckdb.connect()
        try:
            for t in self.tables:
                path = os.path.join(self.data, f"{t}.parquet")
                src = f"{path}/*.parquet" if os.path.isdir(path) else path
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
            return {op: con.execute(sql[op]).df() for op in self.ops}
        finally:
            con.close()

    def run_pass(self, spark, tracer, aside) -> PassResult:
        """One pass; ``aside()`` brackets the benchmark's own work (the
        result checks) so the memory sampler skips it."""
        from k8e_fetch_spark.queries import queries
        from k8e_fetch_spark.testing import compare_frames

        fns = queries()
        out = PassResult()
        for name in self.ops:
            w0, t0 = time.time(), time.perf_counter()
            try:
                with tracer.span("queries.op", op=name):
                    with tracer.span("queries.build"):
                        df = fns[name](spark, self.data)
                    with tracer.span("queries.execute"):
                        got = df.toPandas()
            except Exception as exc:  # one failing op must not hide the rest
                out.ops.append(_fail(name, t0, w0, exc))
                spark.catalog.clearCache()
                continue
            rec = OpResult(name, time.perf_counter() - t0, True, "", w0, time.time())
            out.ops.append(rec)
            spark.catalog.clearCache()
            with aside():
                diffs = compare_frames(got, self.expected[name])
                if diffs:
                    rec.ok, rec.detail = False, diffs[0][:200]
                del got, df
        return out


class EtlWorkload:
    """Two fetch cycles of the reference job per pass into a fresh
    warehouse: the first lands the statewide file and one snapshot
    vintage, the second adds a new vintage that is merged into the
    existing components. One operation is one cycle, the five stage
    calls in order; each stage call is a span of its own."""

    name = "etl_cycle"
    group = "current_cycle"
    warm_passes = 1  # one warm pass is ~15 s; a second would not fit the run budget

    def __init__(self, work: str, seed: int):
        self.work = work
        self.raw = gen.ncsbe_cycles(os.path.join(work, "raw"), seed, ETL_SCALE)
        files = self.raw["files"]
        self.inputs = {
            "rows_in": sum(f["rows"] for f in files.values()),
            "bytes_in": sum(f["bytes"] for f in files.values()),
            "decoded_bytes_in": sum(f["decoded_bytes"] for f in files.values()),
            "raw_rows_per_pass": sum(
                files[n]["rows"] for c in self.raw["cycles"] for n in c["files"]
            ),
            "ops_per_pass": len(self.raw["cycles"]),
            "stage_calls_per_pass": 5 * len(self.raw["cycles"]),
            "replication_factor": 1,
            "voters": ETL_SCALE.voters,
        }

    def run_pass(self, spark, tracer, aside) -> PassResult:
        """One pass; ``aside()`` brackets the benchmark's own work (the
        cycle checks) so the memory sampler skips it."""
        from k8e_fetch_spark.plans.pipeline import Pipeline
        from k8e_fetch_spark.plans.spec import DEFAULT_SPEC

        wh = os.path.join(self.work, "warehouse")
        shutil.rmtree(wh, ignore_errors=True)
        pipe = Pipeline(spark, DEFAULT_SPEC, wh)
        out = PassResult()
        for c, cycle in enumerate(self.raw["cycles"], start=1):
            state: dict = {}
            parts: dict[str, float] = {}
            steps = [
                ("fetch_versions", lambda: pipe.fetch_versions(os.path.join(cycle["dir"], "manifest.json"))),
                ("select_keys", lambda: pipe.select_keys(state["fetch_versions"], self.group)),
                ("sync", lambda: pipe.sync(state["select_keys"], cycle["dir"])),
                ("load", lambda: pipe.load(state["sync"])),
                ("compress", lambda: pipe.compress(state["load"])),
            ]
            w0, t0 = time.time(), time.perf_counter()
            try:
                with tracer.span("pipeline.cycle", cycle=c):
                    for step, call in steps:
                        s0 = time.perf_counter()
                        with tracer.span(f"pipeline.{step}"):
                            state[step] = call()
                        parts[step] = time.perf_counter() - s0
            except Exception as exc:
                out.ops.append(_fail(f"cycle{c}", t0, w0, exc))
                break  # the next cycle merges into this one's components
            rec = OpResult(f"cycle{c}", time.perf_counter() - t0, True, "", w0, time.time(), parts)
            out.ops.append(rec)
            with aside():
                self._check(cycle, state, rec, out.layer if tracer.enabled else None)
        out.layer["stored_bytes"] = float(_all_bytes(wh))
        return out

    def _check(self, cycle: dict, state: dict, rec: OpResult, layer: dict | None) -> None:
        """The synced paths against the cycle's files, landed row counts
        against the generator, every component against a DuckDB rebuild
        from the landed tables; a mismatch fails the cycle."""
        from k8e_fetch_spark.plans.spec import DEFAULT_SPEC
        from k8e_fetch_spark.testing import compare_frames

        problems = []
        files = self.raw["files"]
        want_paths = sorted(os.path.join(cycle["dir"], n) for n in cycle["files"] + ["layout_ncvoter.txt"])
        if state["sync"] != want_paths:
            problems.append(f"synced {state['sync']}")
        wh = os.path.join(self.work, "warehouse")
        landed = {}
        con = duckdb.connect()
        rows_in = rows_out = 0
        try:
            for n in cycle["files"]:
                t = files[n]["table"]
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{wh}/{t}/*.parquet')")
                landed[t] = con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
                if landed[t] != files[n]["rows"]:
                    problems.append(f"{t}: landed {landed[t]} rows, generated {files[n]['rows']}")
            for comp, cols in DEFAULT_SPEC.components.items():
                selects = []
                for c in DEFAULT_SPEC.compressors:
                    for b in c.bindings:
                        if b.component != comp:
                            continue
                        for t in (t for t in landed if any(re.search(p, t) for p in c.table_include)):
                            exprs = ", ".join(f"{b.subst.get(col, col)} AS {col}" for col in cols)
                            selects.append(f"SELECT {exprs} FROM {t}")
                            rows_in += landed[t]
                want = con.execute(" UNION ".join(selects)).df()
                got = con.execute(f"SELECT * FROM read_parquet('{wh}/{comp}/*.parquet')").df()
                rows_out += len(got)
                diffs = compare_frames(got, want)
                if diffs:
                    problems.append(f"{comp}: {diffs[0][:160]}")
        finally:
            con.close()
        if problems:
            rec.ok, rec.detail = False, "; ".join(problems)[:200]
        if layer is not None:
            files_w, bytes_w = 0, 0
            for comp in DEFAULT_SPEC.components:
                f, b = _dir_bytes(os.path.join(wh, comp))
                files_w, bytes_w = files_w + f, bytes_w + b
            for k, v in {
                "keys_selected": float(len(state["sync"])),
                "rows_landed": float(sum(landed.values())),
                "compress_rows_in": float(rows_in),
                "compress_rows_out": float(rows_out),
                "compress_files_written": float(files_w),
                "compress_bytes_written": float(bytes_w),
            }.items():
                layer[k] = layer.get(k, 0.0) + v


WORKLOADS = {"etl_cycle": EtlWorkload, "query_mix": QueryWorkload}


def make(name: str, work: str, seed: int):
    return WORKLOADS[name](work, seed)
