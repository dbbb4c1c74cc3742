"""Silver-tier cleansing operators (reference P1-P6, D1, O1).

Reference semantics (gtfstransformerSilver.py:27-56): explode the JSON
envelope, trim strings, cast types, drop null rows, keep only rows inside a
geo bounding box, on the target date, with a non-empty line id, dedup on
(VehicleNumber, Time), then sort.

Deviations from the reference, on purpose (SURVEY.md §4 anti-patterns):

- dedup survivor is **deterministic** (``row_number() == 1`` under a total
  tiebreak order) instead of ``dropDuplicates``'s arbitrary survivor —
  required for oracle parity and for reproducible pipelines at scale;
- the mid-pipeline global ``orderBy`` (reference :46) is NOT part of the
  engine pipeline: a full range-partitioned sort of 100 TB that no
  downstream operator consumes is pure waste.  Sorting lives at
  presentation edges only (``reports`` / ``sinks``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .geo import in_bounding_box


def explode_envelope(bronze: DataFrame) -> DataFrame:
    """One row per vehicle record (reference P1/P2).

    ``inline(result)`` explodes the array and flattens the struct in one
    generator.  The declared read schema already projected away unused
    raw fields at parse time, so the columns are BUS_SCHEMA's five.
    """
    return bronze.select(F.inline("result"))


def typed_projection(df: DataFrame) -> DataFrame:
    """Trim strings, cast Lat/Lon to double, Time to timestamp, derive date
    (reference gtfstransformerSilver.py:33-39).

    try_to_timestamp, not to_timestamp: under the session's ANSI mode a
    single malformed Time string would otherwise abort the whole batch
    with CANNOT_PARSE_TIMESTAMP — the cleanse contract is "cast, then
    DROP null rows", so a bad timestamp must become NULL and fall to
    cleanse_filters' null check, exactly what the reference's lax-mode
    cast did.  (Lat/Lon need no try_: BRONZE_SCHEMA already declares them
    double, so the cast is a no-op.)
    """
    time = F.try_to_timestamp(F.col("Time"), F.lit("yyyy-MM-dd HH:mm:ss"))
    return df.select(
        F.trim(F.col("Lines")).alias("Lines"),
        F.trim(F.col("VehicleNumber")).alias("VehicleNumber"),
        F.col("Lat").cast("double").alias("Lat"),
        F.col("Lon").cast("double").alias("Lon"),
        time.alias("Time"),
        F.to_date(time).alias("date"),
    )


def cleanse_filters(df: DataFrame, current_date: str) -> DataFrame:
    """No NULL in any column + geo box + date equality + non-empty Lines
    (reference gtfstransformerSilver.py:41-44), as one filter.  A NaN
    Lat/Lon, which ``dropna`` would also drop, fails the box: Spark
    orders NaN above every double."""
    keep = in_bounding_box(F.col("Lat"), F.col("Lon"))
    for c in df.columns:
        keep &= F.col(c).isNotNull()
    keep &= F.col("date") == F.lit(current_date).cast("date")
    return df.filter(keep & (F.col("Lines") != ""))


def dedup_deterministic(
    df: DataFrame,
    keys: list[str],
    tiebreak: list[str] | None = None,
    cluster_by: str | None = None,
) -> DataFrame:
    """Keep exactly one row per key, with a *deterministic* survivor.

    The reference's ``dropDuplicates([...])`` (gtfstransformerSilver.py:45)
    keeps an arbitrary row — fine for its data (duplicates are exact
    copies), wrong for a reproducible engine.  We rank by the remaining
    columns and keep rank 1.  Physically this is one hash shuffle on the
    key + an in-partition sort: same cost class as dropDuplicates, but
    stable under retries, AQE re-plans, and 1000-way parallelism.

    ``cluster_by``: optionally pre-partition by a *prefix* of the key
    (e.g. the trajectory key alone).  Hash-partitioning by the prefix
    satisfies the clustering requirement of this dedup window AND of any
    downstream window/agg on the same prefix — one shuffle instead of
    two.  (Catalyst: HashPartitioning(k) satisfies
    ClusteredDistribution([k, t]).)
    """
    if cluster_by is not None:
        df = df.repartition(F.col(cluster_by))
    others = tiebreak or [c for c in df.columns if c not in keys]
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).asc_nulls_last() for c in others])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def bronze_to_silver(bronze: DataFrame, current_date: str) -> DataFrame:
    """Full Silver pipeline: explode → type → cleanse → dedup."""
    return bronze_to_silver_from_exploded(explode_envelope(bronze), current_date)


def null_probe(df: DataFrame, cols: list[str]) -> int:
    """DQ probe: count rows where any of ``cols`` is NULL (reference P9,
    gtfsGold.py:17-21).  One job, predicate pushed to the scan."""
    if not cols:
        return 0  # no columns to probe — not a py4j error from filter(None)
    pred = None
    for c in cols:
        p = F.col(c).isNull()
        pred = p if pred is None else (pred | p)
    return df.filter(pred).count()


def bronze_to_silver_observed(
    bronze: DataFrame, current_date: str
) -> tuple[DataFrame, str]:
    """Silver pipeline with one-pass drop-rate telemetry via ``observe``.

    The reference computes its drop rate with two ``count()`` actions that
    re-execute the whole uncached cleanse pipeline (SURVEY.md §4
    anti-pattern, reference gtfstransformerSilver.py:29,49).  ``observe``
    attaches CollectMetrics nodes instead: the counts ride along with
    whatever action materializes the frame — zero extra passes, exact
    values, and they work identically under streaming.

    Returns (df, observation_name); read the metrics after an action via
    ``spark.listenerManager``-delivered QueryExecution or, simplest, the
    ``Observation`` helper (see tests).
    """
    exploded = explode_envelope(bronze).observe(
        "bronze_rows", F.count(F.lit(1)).alias("n_raw")
    )
    silver = bronze_to_silver_from_exploded(exploded, current_date)
    return (
        silver.observe("silver_rows", F.count(F.lit(1)).alias("n_kept")),
        "bronze_rows/silver_rows",
    )


def bronze_to_silver_from_exploded(df: DataFrame, current_date: str) -> DataFrame:
    df = typed_projection(df)
    df = cleanse_filters(df, current_date)
    # cluster by the trajectory key so downstream lag windows reuse the
    # same partitioning (no second shuffle)
    return dedup_deterministic(
        df, keys=["VehicleNumber", "Time"], cluster_by="VehicleNumber"
    )
