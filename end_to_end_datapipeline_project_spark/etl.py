"""End-to-end batch orchestrator: the engine's equivalent of the
reference's ``main.py --mode transform`` (reference main.py:48-116), as a
library function instead of a script, and incremental instead of
full-rewrite.

Per processing date: Bronze (raw JSON landing zone, Hive date partitions)
→ Silver (typed, cleansed, deduped parquet, partitioned by date) → Gold
(per-line daily report parquet, partitioned by date).  Each run statically
overwrites exactly its date's partition DIRECTORY, so re-running a date
replaces that date's data even when the re-run yields zero rows (dynamic
partition overwrite would no-op there and leave stale data) — idempotent
backfills, no full-table rewrites (the reference overwrites the entire
Silver/Gold tier every run, gtfstransformerSilver.py:59-60).

The returned report DataFrame is the drill-down entry point.  ``run_batch``
collects no drop-rate telemetry; ``cleanse.bronze_to_silver_observed``
offers it through ``observe()`` without extra passes, but is not wired in
here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .cleanse import bronze_to_silver
from .reports import daily_report
from .sources import read_bronze
from .trajectory import TrajectoryConfig, enrich


def run_batch(
    spark: SparkSession,
    bronze_dir: str,
    silver_dir: str,
    gold_dir: str,
    process_date: str,
    year: int | None = None,
    month: int | None = None,
    day: int | None = None,
) -> DataFrame:
    """Run Bronze → Silver → Gold for one date; returns the Gold report.

    Partition pruning: when year/month/day are given, only that landing
    partition is listed and scanned (reference S5 done Spark-side).
    """
    bronze = read_bronze(spark, bronze_dir, year=year, month=month, day=day)
    silver = bronze_to_silver(bronze, process_date)

    # static overwrite of the DATE-SCOPED partition path, not dynamic
    # partition overwrite on the parent: dynamic overwrite only replaces
    # partitions the new frame actually writes, so a re-run that yields
    # ZERO rows (corrected bronze where every row now fails cleanse)
    # would silently leave the previous run's stale date=D data in
    # place.  Writing the partition directory directly replaces it even
    # when empty (only _SUCCESS lands), keeping the idempotency
    # contract unconditional.  Other dates' partitions are untouched by
    # construction — the write never lists the parent.
    silver_part = f"{silver_dir}/date={process_date}"
    silver.drop("date").write.mode("overwrite").parquet(silver_part)

    # explicit schema: an all-filtered (empty) date writes only
    # _SUCCESS, and schema inference on a file-less dir raises —
    # a no-data day must yield an empty Gold partition, not abort
    # the backfill
    silver_back = (
        spark.read.schema(silver.drop("date").schema)
        .parquet(silver_part)
        .withColumn("date", F.lit(process_date).cast("date"))
    )
    enriched = enrich(silver_back, TrajectoryConfig())
    report = daily_report(enriched)
    gold_part = f"{gold_dir}/date={process_date}"
    report.write.mode("overwrite").parquet(gold_part)
    return (
        spark.read.schema(report.schema)
        .parquet(gold_part)
        .withColumn("date", F.lit(process_date).cast("date"))
    )
