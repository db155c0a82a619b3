"""``batch_mix``: a read-only batch query mix, closed loop, one client.

A fixed list of registered non-streaming queries runs back to back in
a seeded order over seeded engine tables.  Each query is timed as
three steps: build (``Query.spark``), plan (force ``executedPlan``) and
exec (collect to pandas, so every pass's output is verified without
running the query twice).  The cache is cleared between queries,
outside the timed steps (``bench.cleanup_s``)."""

from __future__ import annotations

import gc
import hashlib
import re
import time

import numpy as np
import pandas as pd

import gen
from stats import PassResult

# Registered non-streaming queries, none of them a consumer of a
# session-pinned build.  Each touches a different part of the engine:
# windowed aggregation, event-time sessions, grouped aggregates, a
# join tree, a correlated subquery, text, and an Arrow / pandas
# Python-worker kernel.
QUERIES = [
    "windowed_count",
    "session_windows",
    "pricing_summary",
    "multi_join_revenue",
    "nation_market_share",
    "tfidf_top_terms",
    "ivf_ann_topk",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive canonical form (columns sorted by name, rows
    sorted), with Spark's and DuckDB's dtypes made comparable."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None).astype("datetime64[ns]")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_object_dtype(df[c]):
            df[c] = df[c].map(lambda v: str(list(v)) if isinstance(v, (list, np.ndarray)) else str(v))
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def digest(df: pd.DataFrame) -> tuple[int, tuple, str]:
    """(row count, column names, hash of the normalized rows)."""
    n = normalize(df)
    h = hashlib.sha256(pd.util.hash_pandas_object(n, index=False).values.tobytes()).hexdigest()
    return len(n), tuple(n.columns), h


def query_order(seed: int) -> list[str]:
    return [QUERIES[k] for k in np.random.default_rng(seed).permutation(len(QUERIES))]


class BatchMix:
    name = "batch_mix"
    # Query times still fall over the first passes of a fresh JVM (JIT):
    # a single measured pass after two warm-up passes spread 0.22 over
    # ten seeds, so the median of three passes is kept.
    warmup_passes = 2
    min_passes = 3

    def stage(self, h, root: str) -> None:
        from flink_repartition_watermark_example_spark.queries import EXTRA_QUERIES, QUERIES as PRIMARY

        tables = gen.engine_tables(h.seed)
        gen.write_tables(root, tables)
        self.sf_dir = root
        self.registry = {n: PRIMARY.get(n) or EXTRA_QUERIES[n] for n in QUERIES}
        self.order = query_order(h.seed)
        self.tables = list(tables)
        self.oracle = None
        # Input rows of a query: rows of every table its oracle reads.
        self.input_rows = {
            n: sum(tables[t].num_rows for t in tables if re.search(rf"\b{t}\b", q.oracle))
            for n, q in self.registry.items()
        }
        self.rows = sum(self.input_rows.values())

    def _oracle(self) -> dict:
        """Each query's DuckDB oracle digest over the same parquet files,
        computed once per run (the way tests/oracle.py runs it)."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in self.tables:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            return {n: digest(con.sql(q.oracle).df()) for n, q in self.registry.items()}
        finally:
            con.close()

    def run_pass(self, h, i: int) -> PassResult:
        spark = h.spark
        layers = {"queries.build_s": 0.0, "plans.plan_s": 0.0, "bench.cleanup_s": 0.0, "exec.step_s": 0.0}
        lat, outputs = [], {}
        t_pass = time.perf_counter()
        for name in self.order:
            q = self.registry[name]
            op = f"p{i}:{name}"
            try:
                with h.tracer.span("queries.query", op):
                    with h.job_group(f"pb|build|{i}|{name}"), h.tracer.span("queries.build", op):
                        t0 = time.perf_counter()
                        df = q.spark(spark, self.sf_dir)
                        t1 = time.perf_counter()
                    with h.job_group(f"pb|plan|{i}|{name}"), h.tracer.span("plans.plan", op):
                        df._jdf.queryExecution().executedPlan()
                        t2 = time.perf_counter()
                    with h.job_group(f"pb|exec|{i}|{name}"), h.tracer.span("exec.collect", op):
                        pdf = df.toPandas()
                        t3 = time.perf_counter()
            except Exception as e:  # a failed query counts, the mix goes on
                h.checks.op(False, f"batch_mix: {name} raised {type(e).__name__}: {e}"[:300])
                continue
            h.checks.ops(1)
            outputs[name] = pdf
            lat.append(t3 - t0)
            layers["queries.build_s"] += t1 - t0
            layers["plans.plan_s"] += t2 - t1
            layers["exec.step_s"] += t3 - t2
            with h.tracer.span("bench.cleanup", op):
                t4 = time.perf_counter()
                spark.catalog.clearCache()
                gc.collect()
                layers["bench.cleanup_s"] += time.perf_counter() - t4
        # The pass on its own clock, less the between-query cleanup.
        wall = time.perf_counter() - t_pass - layers["bench.cleanup_s"]
        return PassResult(wall, self.rows, lat, layers, outputs, index=i)

    @staticmethod
    def trace_details(traced: list) -> dict:
        """Share of ``wall_s`` covered by the build, plan and exec steps."""
        steps = sum(p.layers[k] for p in traced for k in ("queries.build_s", "plans.plan_s", "exec.step_s"))
        return {"build_plan_exec_over_wall": steps / sum(p.wall_s for p in traced)}

    def verify(self, h, r: PassResult) -> None:
        if self.oracle is None:
            self.oracle = self._oracle()
        for name, pdf in r.output.items():
            got, want = digest(pdf), self.oracle[name]
            h.checks.op(got == want, f"batch_mix: {name} differs from its DuckDB oracle ({got[:2]} vs {want[:2]})")
