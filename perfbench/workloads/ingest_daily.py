"""ingest_daily: one operation is one day's drop landing in ``incoming/``,
then ``ReactionLake.run_once``, ``materialize_enrichment`` and a
freshness read of that day from ``fact_enriched``.

Drops accumulate on one lake for the whole run, so listing and the
manifest anti-join grow with every file ever landed. Set-up's run finds
the first drop waiting with all its files new: the only run that takes
run_once's directory-read arm. Each drop plants malformed rows, from
the second drop on every third drop one CSV with a bad header, and a
share of metadata that lands a drop late, so materialize_enrichment
rewrites partitions.
"""

from __future__ import annotations

import os
import sys

import gen
from harness import SPAN_COUNTERS

SHAPE = gen.DropShape()
BACKLOG = SHAPE.bad_header_from  # clean drops set-up's run finds waiting
PHASES = ("listing", "dims", "fact_cleanse_write", "fact_status", "audit_manifest")

LAYER = (
    {"sources.list_raw_files.s_p50": "s", "sources.files_listed": "count"}
    | {f"etl.run_once.{c}": u for c, u in SPAN_COUNTERS.items()}
    | {"etl.run_once.output_bytes": "bytes"}
    | {f"etl.phase.{p}_s": "s" for p in PHASES}
    | {f"etl.materialize_enrichment.{c}": u for c, u in SPAN_COUNTERS.items()}
    | {
        "etl.materialize_enrichment.output_bytes": "bytes",
        "etl.rows_enriched": "count",
        "etl.fact_enriched.s_p50": "s",
        "etl.fact_enriched.driver_s": "s",
        "etl.fact_enriched.jobs": "count",
        "etl.quarantine_recall": "ratio",
        "etl.ingest_mb_per_s": "MB/s",
        "etl.lake_bytes_per_input_byte": "ratio",
    }
)


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


class Workload:
    LAYER = LAYER
    # set-up's run only: the timed drops then start with the first one
    # against a non-empty manifest, which takes run_once's per-path and
    # anti-join arms for the first time; every run times the same drops
    # of the same growth schedule
    WARMUP_CYCLES = 1
    MIN_CYCLES = 1

    def __init__(self, work: str, seed: int):
        self.incoming = os.path.join(work, "incoming")
        self.lake_root = os.path.join(work, "lake")
        self.log_dir = os.path.join(work, "logs")  # outside the lake, so not in its bytes
        self.seed = seed
        self.index = 0
        self.late: list[tuple[str, str]] = []
        self.prev = None  # truth of the previous drop
        self.landed_bytes = 0
        self.phases: list[dict[str, float]] = []  # run_once phase timings of traced drops
        self.malformed_planted = self.malformed_quarantined = 0

    def generate(self) -> None:
        """Drops are written as the run reaches them (see `cycle`)."""

    def start(self, spark, tracer) -> None:
        from reactionetl_etl_spark.etl import pipeline

        self.spark, self.tracer = spark, tracer
        self.lake = pipeline.ReactionLake(self.lake_root, log_dir=self.log_dir)
        if not tracer.tracing:
            return

        def listed(t, args, result):
            t.count("sources.files_listed", len(result))

        # the names as run_once looks them up
        tracer.wrap(pipeline, "list_raw_files", "sources.list_raw_files", on_result=listed)
        tracer.wrap(pipeline.ReactionLake, "run_once", "etl.run_once")
        tracer.wrap(pipeline.ReactionLake, "materialize_enrichment", "etl.materialize_enrichment")

    def cycle(self):
        # the first run finds only new files: run_once's directory-read arm
        batch = []
        for _ in range(BACKLOG if self.index == 0 else 1):
            truth, self.late = gen.write_drop(self.incoming, self.seed, self.index, SHAPE, self.late)
            self.index += 1
            self.landed_bytes += truth.bytes_landed
            batch.append(truth)
        prev, self.prev = self.prev, batch[-1]
        return [("drop", lambda: self._op(batch, prev))]

    def _op(self, batch: list[gen.DropTruth], prev: gen.DropTruth | None):
        from pyspark.sql import functions as F

        spark, lake = self.spark, self.lake
        run = lake.run_once(spark, self.incoming)
        enriched = lake.materialize_enrichment(spark)
        with self.tracer.span("etl.fact_enriched"):
            rows = (
                lake.fact_enriched(spark)
                .where(F.col("day").isin([d.day for d in batch]))
                .groupBy("simulation_id")
                .agg(
                    F.max(F.col("simulation_num").isNotNull()).alias("enriched"),
                    F.max("temperature").alias("max_t"),
                    F.count("*").alias("n"),
                )
                .collect()
            )
        if self.tracer.enabled:
            self.phases.append(dict(lake.last_phase_timings))
            self.tracer.count("etl.rows_enriched", enriched)
            self.tracer.count("etl.bytes_landed", sum(d.bytes_landed for d in batch))
        return lambda: self._check(batch, prev, run, enriched, rows)

    def _check(self, batch, prev, run, enriched, rows) -> bool:
        from functools import reduce

        from pyspark.sql import DataFrame
        from pyspark.sql import functions as F

        spark, lake = self.spark, self.lake
        days = [d.day for d in batch]
        got = {r["simulation_id"]: (bool(r["enriched"]), r["max_t"], r["n"]) for r in rows}
        want: dict[str, tuple[bool, float, int]] = {}
        for i, d in enumerate(batch):
            for sid, (on_time, max_t, n) in d.freshness().items():
                # late metadata that landed with a later drop of the batch
                want[sid] = (on_time or i < len(batch) - 1, max_t, n)

        def rows_of(df, table: str, key=None):
            return df.select(
                F.lit(table).alias("table"),
                "day",
                (F.lit(None).cast("boolean") if key is None else key).alias("key"),
            )

        # every row count the check needs, in one Spark job
        fact = lake.fact(spark)
        parts = [
            rows_of(fact, "fact"),
            rows_of(lake.quarantine(spark), "quarantine", F.col("payload").isNotNull()),
            rows_of(lake.audit(spark), "audit"),
            rows_of(lake.manifest(spark), "manifest"),
        ]
        counted = reduce(DataFrame.unionByName, parts).where(F.col("day").isin(days))
        if prev is not None:
            unenriched = fact.where((F.col("day") == prev.day) & F.col("simulation_num").isNull())
            counted = counted.unionByName(rows_of(unenriched, "unenriched"))
        counts = {
            (r["table"], r["day"], r["key"]): r["count"]
            for r in counted.groupBy("table", "day", "key").count().collect()
        }

        def by_day(table: str, key=None) -> dict:
            return {d: counts.get((table, d, key), 0) for d in days}

        malformed, rejected = by_day("quarantine", True), by_day("quarantine", False)
        self.malformed_planted += sum(d.malformed_rows for d in batch)
        self.malformed_quarantined += sum(malformed.values())
        landed = sum(d.files_landed for d in batch)
        ok = {
            "freshness": got == want,
            "fact rows": by_day("fact") == {d.day: d.fact_rows for d in batch},
            "rows loaded": run.fact_rows_loaded == sum(d.fact_rows for d in batch),
            "rows enriched": enriched == (prev.late_fact_rows if prev is not None else 0),
            "quarantined rows": malformed == {d.day: d.malformed_rows for d in batch},
            "rejected files": rejected == {d.day: d.rejected_files for d in batch},
            "files quarantined": run.files_quarantined == sum(d.rejected_files for d in batch),
            "audit events": by_day("audit") == {d.day: 2 * d.files_landed for d in batch},
            "manifest rows": by_day("manifest") == {d.day: d.files_landed for d in batch},
            "files processed": run.files_processed == landed,
        }
        if prev is not None:
            ok["previous day enriched"] = counts.get(("unenriched", prev.day, None), 0) == 0
        bad = [k for k, v in ok.items() if not v]
        if bad:
            print(f"perfbench: ingest_daily drop {days[-1]}: wrong {bad}", file=sys.stderr)
        return not bad

    def layer_metrics(self, tracer) -> dict[str, float]:
        import statistics

        out = {
            "sources.list_raw_files.s_p50": tracer.median("sources.list_raw_files", "s"),
            "sources.files_listed": tracer.median_count("sources.files_listed"),
        }
        for span in ("etl.run_once", "etl.materialize_enrichment"):
            for c in SPAN_COUNTERS:
                out[f"{span}.{c}"] = tracer.median(span, "s" if c == "s_p50" else c)
            out[f"{span}.output_bytes"] = tracer.median(span, "output_bytes")
        for p in PHASES:
            out[f"etl.phase.{p}_s"] = statistics.median(d.get(p, 0.0) for d in self.phases) if self.phases else 0.0
        out["etl.rows_enriched"] = tracer.median_count("etl.rows_enriched")
        for c, key in (("s_p50", "s"), ("driver_s", "driver_s"), ("jobs", "jobs")):
            out[f"etl.fact_enriched.{c}"] = tracer.median("etl.fact_enriched", key)
        out["etl.quarantine_recall"] = self.malformed_quarantined / self.malformed_planted
        op_s = sum(d["s"] for d in tracer.per_op("op"))
        out["etl.ingest_mb_per_s"] = tracer.total_count("etl.bytes_landed") / 1e6 / op_s if op_s else 0.0
        out["etl.lake_bytes_per_input_byte"] = dir_bytes(self.lake_root) / self.landed_bytes
        return out
