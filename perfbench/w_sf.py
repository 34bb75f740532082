"""Workload ``sf_queries``: the declared MG, sketch and streaming queries.

The queries come from ``__spark_entry__.queries()`` and run on one fixed
set of generated TPC-H-ish tables; the workload seed shuffles their
order.  Distinct keys are <= k and the tables are small, so fixed costs
dominate: Spark jobs, Python-worker waves, merge rounds, the driver fold
and small releases.

Timed runs measure ``TIMED`` -- one query per code path -- and the traced run measures all 25 queries
once, for per-query wall time, jobs and boundary metrics.  Every result
is checked against ``oracle_sql()`` through DuckDB, normalised as the
entry-contract test does; randomised releases get a schema and row check.
"""

from __future__ import annotations

import os
import random
import statistics

import pandas as pd

import data
from common import Tracer, spark_setup

MG_QUERIES = [
    "mg_topk_user_id", "mg_topk_returnflag", "mg_topk_event_type", "mg_topk_doc_lang",
    "mg_topk_orderpriority", "mg_topk_mktsegment", "mg_topk_doc_tokens_exact",
    "mg_sketch_doc_tokens_k8", "mg_sketch_bound_doc_tokens", "mg_private_topk_event_type",
    "mg_grouped_lang_by_source", "mg_user_level_event_type", "mg_pure_dp_doc_lang",
    "mg_topk_weighted", "streaming_mg_event_type",
]
SKETCH_QUERIES = [
    "hll_distinct_user_id", "hll_grouped_event_type", "hll_vs_exact_user_id",
    "cms_returnflag", "bloom_orders_custkey", "tdigest_price_quantiles",
    "tdigest_grouped_price_by_flag", "kll_value_quantiles", "quantile_rank_bounds",
    "streaming_hll_distinct_user_id",
]
ALL_QUERIES = MG_QUERIES + SKETCH_QUERIES

# Timed runs: one query per path -- combiner top-k, sketch plus approx-DP
# release, the salted grouped path and the generic mergeable-sketch
# skeleton -- few enough that a priming pass and three timed passes fit in
# a run.  The traced run times every query.
TIMED = ["mg_topk_event_type", "mg_private_topk_event_type", "mg_grouped_lang_by_source",
         "hll_distinct_user_id"]

# Queries without an oracle: (expected columns, row-count check).
TOKEN_EST = ["est", "token"]
ROWS_ONLY = {
    "mg_sketch_doc_tokens_k8": (TOKEN_EST, lambda n: 1 <= n <= 8),
    "mg_private_topk_event_type": (TOKEN_EST, lambda n: 0 <= n <= 10),
    "mg_user_level_event_type": (TOKEN_EST, lambda n: 0 <= n <= 10),
    "mg_pure_dp_doc_lang": (TOKEN_EST, lambda n: 0 <= n <= 3),
    "hll_distinct_user_id": (["estimate"], lambda n: n == 1),
    "tdigest_price_quantiles": (["q", "value"], lambda n: n == 3),
    "kll_value_quantiles": (["q", "value"], lambda n: n == 3),
}
TABLES = ["customer", "orders", "lineitem", "events", "documents"]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(list(df.columns)).reset_index(drop=True)


class SfWorkload:
    name = "sf_queries"
    mg_names = MG_QUERIES
    traced_passes = 1

    def __init__(self, root: str, work: str, seed: int, cores: int):
        import duckdb

        import __spark_entry__ as entry

        self.root, self.work, self.seed, self.cores = root, work, seed, cores
        self.sf_dir = data.sf_tables(root)
        self.queries = entry.queries()
        self.rng = random.Random(seed)
        oracles = entry.oracle_sql()
        con = duckdb.connect()
        for table in TABLES:
            path = os.path.join(self.sf_dir, f"{table}.parquet")
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        self.expected = {name: normalize(con.execute(oracles[name]).df())
                         for name in ALL_QUERIES if name in oracles}
        self.distinct_users = con.execute("SELECT COUNT(DISTINCT user_id) FROM events").fetchone()[0]
        con.close()
        missing = [n for n in ALL_QUERIES if n not in self.expected and n not in ROWS_ONLY]
        if missing:
            raise RuntimeError(f"no check for {missing}")
        self.spark = None

    def start(self, event_log_dir: str | None = None) -> tuple[float, float]:
        self.spark, get_spark_s, warmup_s = spark_setup(
            "perfbench-sf", self.work, self.cores, event_log_dir)
        return get_spark_s, warmup_s

    def problems(self, name: str, got: pd.DataFrame) -> list[str]:
        if name in self.expected:
            want = self.expected[name]
            if sorted(got.columns) != sorted(want.columns):
                return [f"columns {sorted(got.columns)} != {sorted(want.columns)}"]
            if len(got) != len(want):
                return [f"{len(got)} rows != {len(want)}"]
            got = normalize(got)
            return [f"column {col} differs" for col in got.columns
                    if got[col].astype(str).tolist() != want[col].astype(str).tolist()]
        columns, rows_ok = ROWS_ONLY[name]
        if sorted(got.columns) != columns:
            return [f"columns {sorted(got.columns)} != {columns}"]
        if not rows_ok(len(got)):
            return [f"{len(got)} rows"]
        if name == "hll_distinct_user_id":
            est = float(got["estimate"].iloc[0])
            if abs(est - self.distinct_users) > 0.025 * self.distinct_users:
                return [f"estimate {est} vs exact {self.distinct_users}"]
        return []

    def run_query(self, name: str, ops, tracer: Tracer, clear) -> float | None:
        clear()
        query = self.queries[name]

        def call():
            with tracer.span(f"q.{name}"):
                df = query(self.spark, self.sf_dir)
                return df.columns, df.collect()

        result, secs = ops.run(name, call)
        if result is None:
            return None
        columns, rows = result
        got = pd.DataFrame.from_records([tuple(r) for r in rows], columns=columns)
        ops.check(name, self.problems(name, got))
        return secs

    def run_pass(self, ops, tracer: Tracer, clear) -> dict[str, float]:
        names = list(TIMED)
        self.rng.shuffle(names)
        if tracer.enabled:
            rest = [n for n in ALL_QUERIES if n not in TIMED]
            self.rng.shuffle(rest)
            names += rest
        walls = {}
        for name in names:
            secs = self.run_query(name, ops, tracer, clear)
            if secs is not None:
                walls[name] = secs
        out = {f"q.{name}.wall_s": secs for name, secs in walls.items()}
        if len(walls) == len(names):
            out["mg_suite_s"] = sum(walls[n] for n in names if n in MG_QUERIES)
            out["sketch_suite_s"] = sum(walls[n] for n in names if n in SKETCH_QUERIES)
            out["pass_s"] = out["mg_suite_s"] + out["sketch_suite_s"]
        return out

    def timed_wall(self, result: dict[str, float]) -> float | None:
        """Wall of the timed queries within a (traced, all-query) pass."""
        walls = [result.get(f"q.{name}.wall_s") for name in TIMED]
        return None if None in walls else sum(walls)

    def traced_summary(self, samples: dict[str, list[float]]) -> dict[str, float]:
        """Suite walls over all 25 queries of the traced pass."""
        return {f"q.{name}": statistics.median(samples[name])
                for name in ("mg_suite_s", "sketch_suite_s") if samples.get(name)}

    def report(self, samples: dict[str, list[float]]) -> list[tuple[str, str, list[float]]]:
        return [("mg_suite_s", "s", samples.get("mg_suite_s", [])),
                ("sketch_suite_s", "s", samples.get("sketch_suite_s", []))]

    def describe(self) -> str:
        return (f"fixed tables {data.SF_ROWS}, timed: {', '.join(TIMED)}; "
                f"traced: all {len(ALL_QUERIES)} declared queries, local[{self.cores}]")
