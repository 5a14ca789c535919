"""lake_analytics: one operation is one query over a seeded lake,
builder call plus execution to completion, round-robin over a fixed mix.

The mix is four relational catalog builders (the ``plans`` layer) and
one operation per engine layer that only the LLM-data workloads reach:
three catalog builders that run through ``streaming``, ``io`` and
``functions``, and the near-duplicate stage of the training-corpus
build (``pipelines`` over ``operators.dedup`` and ``operators.graph``).

The tables are a seeded TPC-H-ish star schema at SCALE x sf0.1's row
counts plus a generated document corpus with planted near-duplicate
clusters, low-quality and contaminated documents. Each catalog query's
rows are compared with its own DuckDB oracle SQL over the same files,
normalized the way ``tools/oracle_check.py`` normalizes them: columns
by name, rows sorted, floats exact. The near-duplicate stage is checked
against the planted clusters.
"""

from __future__ import annotations

import os
import statistics

import numpy as np
import pandas as pd

import gen
from harness import SPAN_COUNTERS

SCALE = 0.5
CORPUS = gen.CorpusShape()
# one relational builder per plan shape: a lineitem scan and aggregate, a
# six-table join, a window over orders, an hourly roll-up of events. The
# other joins of the same shape (shipping_priority_top10,
# returned_items_top_customers, local_supplier_volume, promo_revenue_pct)
# are left out so that a run with two samples of every operation fits
# the benchmark's time budget
MIX = (
    "pricing_summary",
    "volume_between_nations",
    "totalprice_percent_rank",
    "events_hourly_by_type",
)
# catalog builders that reach a layer the relational mix does not
LAYER_QUERIES = {
    "events_tumbling_windows": "streaming",  # streaming.windows.tumbling_event_stats
    "webdataset_roundtrip": "io",  # io.webdataset tar shards, written and read back
    "events_trimmed_mean_udaf": "functions",  # functions.pandas_fns grouped-agg pandas UDF
}
NEAR_DUP = "near_dup_drop_list"  # pipelines.training.duplicate_drop_list
PLAN_COUNTERS = {c: u for c, u in SPAN_COUNTERS.items() if c not in ("s_p50", "gc_s")} | {
    "input_bytes": "bytes"
}
LAYER_COUNTERS = ("s_p50", "driver_s", "jobs", "executor_run_s")

LAYER = (
    {f"plans.{q}.s_p50": "s" for q in MIX}
    | {"plans.plan_s_p50": "s"}
    | {f"plans.{c}": u for c, u in PLAN_COUNTERS.items()}
    | {"sources.load_table.hit_rate": "ratio"}
    | {f"{layer}.{q}.{c}": SPAN_COUNTERS[c] for q, layer in LAYER_QUERIES.items() for c in LAYER_COUNTERS}
    | {
        "io.write_webdataset_shards.s_p50": "s",
        "io.write_webdataset_shards.jobs": "count",
        "io.read_webdataset_shards.s_p50": "s",
    }
    | {f"pipelines.duplicate_drop_list.{c}": u for c, u in SPAN_COUNTERS.items()}
    | {
        "operators.connected_components.s_p50": "s",
        "operators.connected_components.jobs": "count",
        "operators.connected_components.executor_run_s": "s",
        "operators.dup_recall": "ratio",
        "operators.dup_false_drops": "count",
    }
)


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    """Columns in name order, integers widened, text with NULL marked,
    rows sorted: two engines' results compare with ``same``."""
    cols = {}
    for c in sorted(df.columns):
        s = df[c]
        if pd.api.types.is_bool_dtype(s) or pd.api.types.is_integer_dtype(s):
            cols[c] = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            cols[c] = s.astype("float64")
        else:
            cols[c] = s.map(lambda v: "<NULL>" if v is None or v is pd.NA or v != v else str(v))
    out = pd.DataFrame(cols)
    return out.sort_values(list(out.columns), kind="mergesort").reset_index(drop=True)


def same(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    for c in a.columns:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        if x.dtype.kind == "f" and y.dtype.kind == "f":
            if not np.array_equal(x, y, equal_nan=True):
                return False
        elif x.dtype.kind != y.dtype.kind or not np.array_equal(x, y):
            return False
    return True


class Workload:
    LAYER = LAYER
    WARMUP_CYCLES = 1  # every operation of the mix compiled once
    # two samples of each operation: one wall per query moved the mix's
    # figure by about 20% between runs on a shared 4-core host
    MIN_CYCLES = 2

    def __init__(self, work: str, seed: int):
        self.dir = os.path.join(work, "tables")
        self.seed = seed
        self.expected: dict[str, pd.DataFrame] = {}
        self.dup_found = self.dup_false = 0

    def generate(self) -> None:
        import duckdb

        from reactionetl_etl_spark.plans.catalog import all_queries

        gen.write_lake_tables(self.dir, self.seed, SCALE)
        corpus = gen.write_corpus(self.dir, self.seed, CORPUS)
        # doc_id -> the cluster member the build keeps in its place
        self.near_dups = {
            d: keep
            for members in corpus.clusters
            for keep in [next(m for m in members if m not in corpus.drops)]
            for d in members
            if d != keep
        }
        specs = all_queries()
        con = duckdb.connect()
        try:
            for t in os.listdir(self.dir):
                name = t.removesuffix(".parquet")
                con.execute(
                    f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{self.dir}/{t}/*.parquet')"
                )
            for q in (*MIX, *LAYER_QUERIES):
                self.expected[q] = canonical(con.execute(specs[q].oracle).fetchdf())
        finally:
            con.close()
        self.specs = {q: specs[q] for q in (*MIX, *LAYER_QUERIES)}

    def start(self, spark, tracer) -> None:
        self.spark, self.tracer = spark, tracer
        if not tracer.tracing:
            return
        from reactionetl_etl_spark.io import webdataset
        from reactionetl_etl_spark.pipelines import training
        from reactionetl_etl_spark.plans import catalog
        from reactionetl_etl_spark.sources import tables

        def counted(original, table=None):
            # load_table(spark, dir, name) and load_events(spark, dir)
            # share one handle cache, keyed as below
            def load(spark, sf_dir, *name):
                key = (spark.sparkContext.applicationId, sf_dir.rstrip("/"), table or name[0])
                tracer.count("sources.load_table.calls", 1)
                tracer.count("sources.load_table.hits", key in tables._HANDLES)
                return original(spark, sf_dir, *name)

            return load

        # the names as the callers look them up: the catalog's builders
        # through their module globals, webdataset_roundtrip by importing
        # from io.webdataset at call time, the training build through its
        # module globals
        tracer.replace(catalog, "load_table", counted)
        tracer.replace(catalog, "load_events", lambda original: counted(original, "events"))
        for name in ("write_webdataset_shards", "read_webdataset_shards"):
            tracer.wrap(webdataset, name, f"io.{name}")
        tracer.wrap(training, "connected_components", "operators.connected_components")

    def cycle(self):
        return [(q, self._query(q)) for q in (*MIX, *LAYER_QUERIES)] + [(NEAR_DUP, self._near_dups)]

    def _query(self, q: str):
        span = f"{LAYER_QUERIES[q]}.{q}" if q in LAYER_QUERIES else f"plans.{q}"

        def op():
            with self.tracer.span(span):
                with self.tracer.span("plans.plan"):
                    df = self.specs[q].builder(self.spark, self.dir)
                got = df.toPandas()
            return lambda: same(canonical(got), self.expected[q])

        return op

    def _near_dups(self):
        """The training build's first two stages: the quality filter,
        then near-duplicate clustering of the documents it keeps."""
        from pyspark.sql import functions as F

        from reactionetl_etl_spark.pipelines import training
        from reactionetl_etl_spark.sources.tables import load_table

        with self.tracer.span("pipelines.duplicate_drop_list"):
            docs = load_table(self.spark, self.dir, "documents")
            verdicts = training.quality_verdicts(docs)
            kept = docs.join(verdicts.filter(F.col("keep")).select("doc_id"), "doc_id", "left_semi")
            got = training.duplicate_drop_list(kept).toPandas()
        dropped = dict(zip(got["doc_id"].astype(int), got["kept_doc"].astype(int)))
        found = sum(dropped.get(d) == keep for d, keep in self.near_dups.items())
        false = sum(d not in self.near_dups for d in dropped)
        if self.tracer.enabled:
            self.dup_found += found
            self.dup_false += false
            self.tracer.count("operators.near_dups_planted", len(self.near_dups))
        return lambda: found == len(self.near_dups) and false == 0

    def layer_metrics(self, tracer) -> dict[str, float]:
        out = {f"plans.{q}.s_p50": tracer.median(f"plans.{q}", "s") for q in MIX}
        out["plans.plan_s_p50"] = statistics.fmean(
            tracer.median("plans.plan", "s", within=f"plans.{q}") for q in MIX
        )
        for c in PLAN_COUNTERS:
            # each query's median, averaged over the mix: one median over
            # the round-robin would jump between neighbouring queries
            out[f"plans.{c}"] = statistics.fmean(tracer.median(f"plans.{q}", c) for q in MIX)
        calls = tracer.total_count("sources.load_table.calls")
        out["sources.load_table.hit_rate"] = (
            tracer.total_count("sources.load_table.hits") / calls if calls else 0.0
        )
        for q, layer in LAYER_QUERIES.items():
            for c in LAYER_COUNTERS:
                out[f"{layer}.{q}.{c}"] = tracer.median(f"{layer}.{q}", "s" if c == "s_p50" else c)
        for c in ("s_p50", "jobs"):
            out[f"io.write_webdataset_shards.{c}"] = tracer.median(
                "io.write_webdataset_shards", "s" if c == "s_p50" else c
            )
        out["io.read_webdataset_shards.s_p50"] = tracer.median("io.read_webdataset_shards", "s")
        for c in SPAN_COUNTERS:
            out[f"pipelines.duplicate_drop_list.{c}"] = tracer.median(
                "pipelines.duplicate_drop_list", "s" if c == "s_p50" else c
            )
        for c in ("s_p50", "jobs", "executor_run_s"):
            out[f"operators.connected_components.{c}"] = tracer.median(
                "operators.connected_components", "s" if c == "s_p50" else c
            )
        planted = tracer.total_count("operators.near_dups_planted")
        out["operators.dup_recall"] = self.dup_found / planted if planted else 0.0
        out["operators.dup_false_drops"] = float(self.dup_false)
        return out
