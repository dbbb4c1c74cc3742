"""Gold-tier reports: per-group aggregate report + top-k drilldowns
(reference A1-A3, O2-O4, P8).

Scale notes (100 TB):

- The 8-output aggregate has one distinct aggregate, so Catalyst plans
  it as a two-level aggregate with no Expand: per (group, vehicle) first,
  then per group, counting the first level's non-null vehicles.  Input
  hash-partitioned by the vehicle (the trajectory window's shuffle)
  already satisfies the first level, so the report costs one shuffle, by
  group, with map-side partial aggregation.  ``approx=True`` swaps in
  HLL++ (one level, bounded memory): the choice when input is not
  vehicle-partitioned and a ±2% vehicle count is fine.
- The report is unordered: a global sort is a range-partition sampling
  job plus a shuffle, and sorting belongs at presentation edges
  (``top_k``, the CLI's top-N).
- Top-k is sort+limit, which Catalyst rewrites to TakeOrderedAndProject —
  O(k) memory per partition, never a global sort.
- The reference's drill-down collects the top-1 key to the driver and
  re-filters (gtfsGold.py:112-133).  We re-express it as a broadcast
  left-semi join against a 1-row top-k DataFrame: no driver round-trip,
  stays in one DAG, and works when "top-1" becomes "top-10000".
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def daily_report(
    enriched: DataFrame,
    group_col: str = "Lines",
    vehicle_col: str = "VehicleNumber",
    approx: bool = False,
    round_to: int | None = None,
) -> DataFrame:
    """Per-group fleet report (reference gtfsGold.py:89-108).

    8 aggregates + post-agg cost_of_1km; both divisions by an aggregate are
    nullif-guarded, so a group with no distance or no non-null vehicle
    yields NULL instead of DIVIDE_BY_ZERO under ANSI.
    """
    distinct = (
        F.approx_count_distinct(vehicle_col)
        if approx
        else F.count_distinct(vehicle_col)
    )
    agg = enriched.groupBy(group_col).agg(
        F.sum("dist_km").alias("total_distance_km"),
        F.sum("cost_pln").alias("total_cost_pln"),
        F.max("dist_km").alias("max_segment_km"),
        F.count(vehicle_col).alias("data_points_count"),
        F.avg("speed_kmh").alias("avg_speed"),
        F.max("speed_kmh").alias("max_recorded_speed"),
        distinct.alias("unique_vehicles_count"),
        (F.sum("dist_km") / F.nullif(distinct, F.lit(0))).alias(
            "avg_dist_per_vehicle"
        ),
    )
    report = agg.withColumn(
        "cost_of_1km",
        F.col("total_cost_pln") / F.nullif(F.col("total_distance_km"), F.lit(0.0)),
    )
    if round_to is not None:
        doubles = [
            "total_distance_km",
            "total_cost_pln",
            "max_segment_km",
            "avg_speed",
            "max_recorded_speed",
            "avg_dist_per_vehicle",
            "cost_of_1km",
        ]
        for c in doubles:
            report = report.withColumn(c, F.round(F.col(c), round_to))
    return report


def top_k(
    df: DataFrame,
    order_col: str,
    k: int,
    ascending: bool = False,
    tiebreak: str | None = None,
) -> DataFrame:
    """sort+limit → TakeOrderedAndProject (reference O3/O4).

    Pass ``tiebreak`` (ascending) to make ties deterministic — without
    it, equal-metric rows surface in executor order and repeated runs
    can return different survivors.
    """
    order = [F.asc(order_col) if ascending else F.desc(order_col)]
    if tiebreak is not None:
        order.append(F.asc(tiebreak))
    return df.orderBy(*order).limit(k)


def top_group_rows(
    df: DataFrame,
    report: DataFrame,
    group_col: str = "Lines",
    metric: str = "total_cost_pln",
) -> DataFrame:
    """All rows of ``df`` belonging to the top-1 group of ``report``
    (reference drill-down gtfsGold.py:110-119), as a broadcast semi-join
    instead of a driver-side ``.first()`` hand-off."""
    top1 = top_k(
        report.select(group_col, metric), metric, 1, tiebreak=group_col
    ).select(group_col)
    return df.join(F.broadcast(top1), on=group_col, how="left_semi")


def top_vehicle_rows(
    enriched: DataFrame,
    vehicle_col: str = "VehicleNumber",
) -> DataFrame:
    """Rows of the single vehicle with the largest total distance
    (reference gtfsGold.py:120-133), again via broadcast semi-join."""
    per_vehicle = enriched.groupBy(vehicle_col).agg(
        F.sum("dist_km").alias("total_v_dist")
    )
    top1 = top_k(
        per_vehicle, "total_v_dist", 1, tiebreak=vehicle_col
    ).select(vehicle_col)
    return enriched.join(F.broadcast(top1), on=vehicle_col, how="left_semi")
