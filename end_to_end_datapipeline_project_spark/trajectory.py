"""Trajectory enrichment: the reference's core analytical move
("self-join a trajectory to its predecessor" via lag windows).

Reference semantics (gtfsGold.py:36-85): per-vehicle window ordered by
time → lag(lat/lon/time) → haversine distance (first row → 0.0 via
coalesce) → fuel litres → cost → time delta seconds → speed km/h
(0.0 when delta ≤ 0 or NULL) → drop GPS-glitch rows (speed > cutoff).

Generic over column names so the same operator serves the GTFS domain
(VehicleNumber/Time/Lat/Lon) and the driver's ``events`` table
(user_id/ts + derived coordinates).

Scale notes (100 TB):

- The window shuffles once by key and sorts within partitions by time.
  AQE skew-join/partition splitting handles hot keys; for pathological
  single-key skew, re-window by (key, day) and stitch boundaries.
- Everything below is built-in Column expressions — zero Python UDFs —
  so the whole enrichment compiles into one WholeStageCodegen span over
  the shuffled data.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .geo import haversine_km


@dataclass(frozen=True)
class TrajectoryConfig:
    key: str = "VehicleNumber"
    time: str = "Time"
    lat: str = "Lat"
    lon: str = "Lon"
    fuel_consumption_l_per_100km: float = 30.0  # reference .env.example:7
    fuel_price_per_l: float = 6.5  # reference .env.example:8
    speed_cutoff_kmh: float | None = 70.0  # reference gtfsGold.py:83
    #: extra orderBy tiebreakers after ``time`` for deterministic lag when
    #: timestamps can collide (oracle parity; the reference dedups on
    #: (key, time) first so ties cannot occur there)
    order_tiebreak: tuple[str, ...] = field(default=())


def enrich(df: DataFrame, cfg: TrajectoryConfig = TrajectoryConfig()) -> DataFrame:
    """Add prev_lat/prev_lon/prev_time, dist_km, fuel_l, cost_pln,
    diff_time_sec, speed_kmh; then apply the anomaly speed filter."""
    order = [F.col(cfg.time)] + [F.col(c) for c in cfg.order_tiebreak]
    w = Window.partitionBy(cfg.key).orderBy(*order)

    lat, lon, time = F.col(cfg.lat), F.col(cfg.lon), F.col(cfg.time)
    # two projections, each built in one driver round trip: the lags
    # first, because Catalyst does not merge repeated window expressions
    # (composing lag() into every derived column plans 22 lags, not 3)
    lagged = df.select(
        "*",
        F.lag(lat).over(w).alias("prev_lat"),
        F.lag(lon).over(w).alias("prev_lon"),
        F.lag(time).over(w).alias("prev_time"),
    )
    dist_km = F.coalesce(
        haversine_km(F.col("prev_lat"), F.col("prev_lon"), lat, lon),
        F.lit(0.0),
    )
    fuel_l = dist_km / 100.0 * cfg.fuel_consumption_l_per_100km
    diff_time_sec = F.unix_timestamp(time) - F.unix_timestamp(F.col("prev_time"))
    out = lagged.select(
        "*",
        dist_km.alias("dist_km"),
        fuel_l.alias("fuel_l"),
        (fuel_l * cfg.fuel_price_per_l).alias("cost_pln"),
        diff_time_sec.alias("diff_time_sec"),
        F.when(diff_time_sec > 0, dist_km / diff_time_sec * 3600.0)
        .otherwise(F.lit(0.0))
        .alias("speed_kmh"),
    )
    if cfg.speed_cutoff_kmh is not None:
        out = out.filter(F.col("speed_kmh") <= cfg.speed_cutoff_kmh)
    return out
