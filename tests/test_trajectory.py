"""Gold-tier invariants (model: reference tests/test_gold.py, SURVEY §5)."""

import pytest
from conftest import make_silver_df
from pyspark.sql import functions as F

from end_to_end_datapipeline_project_spark.geo import haversine_km
from end_to_end_datapipeline_project_spark.reports import (
    daily_report,
    top_group_rows,
    top_k,
    top_vehicle_rows,
)
from end_to_end_datapipeline_project_spark.schemas import GOLD_REPORT_COLUMNS
from end_to_end_datapipeline_project_spark.trajectory import (
    TrajectoryConfig,
    enrich,
)

DAY = "2026-02-23"


def sample_silver(spark):
    return make_silver_df(
        spark,
        [
            # vehicle 1000 on line 180: two pings 15 min apart, ~2.2 km
            ("180", "1000", 52.2297, 21.0122, f"{DAY} 12:00:00"),
            ("180", "1000", 52.2488, 21.0440, f"{DAY} 12:15:00"),
            # single-ping vehicle (NULL lag → dist 0, speed 0)
            ("180", "1001", 52.2100, 21.0000, f"{DAY} 12:00:00"),
            # vehicle implying speed > 70 (≈2.9 km in 60 s) — filtered
            ("219", "2000", 52.2000, 21.0000, f"{DAY} 12:00:00"),
            ("219", "2000", 52.2260, 21.0000, f"{DAY} 12:01:00"),
        ],
    )


def test_haversine_sanity(spark):
    df = spark.range(1).select(
        haversine_km(
            F.lit(52.2297), F.lit(21.0122), F.lit(52.2488), F.lit(21.0440)
        ).alias("d")
    )
    d = df.collect()[0].d
    assert 1.0 < d < 10.0  # Centrum → Praga is ~3 km


def test_enrich_first_row_defaults(spark):
    out = enrich(sample_silver(spark)).filter(F.col("VehicleNumber") == "1001")
    row = out.collect()[0]
    assert row.dist_km == 0.0 and row.speed_kmh == 0.0
    assert row.prev_time is None


def test_speed_nonnegative_and_cutoff(spark):
    rows = enrich(sample_silver(spark)).collect()
    assert all(r.speed_kmh >= 0 for r in rows)
    assert all(r.speed_kmh <= 70 for r in rows)
    # the >70 km/h second ping of vehicle 2000 was rejected
    assert sum(1 for r in rows if r.VehicleNumber == "2000") == 1


def test_fuel_cost_derivation(spark):
    cfg = TrajectoryConfig(fuel_consumption_l_per_100km=30.0, fuel_price_per_l=6.5)
    out = enrich(sample_silver(spark), cfg).filter(
        (F.col("VehicleNumber") == "1000") & F.col("prev_time").isNotNull()
    )
    row = out.collect()[0]
    assert abs(row.fuel_l - row.dist_km / 100 * 30.0) < 1e-9
    assert abs(row.cost_pln - row.fuel_l * 6.5) < 1e-9
    assert row.diff_time_sec == 900


def test_report_contract_and_values(spark):
    # line 7's only ping has no vehicle: no vehicle to average over
    null_vehicle = make_silver_df(
        spark, [("7", None, 52.2, 21.0, f"{DAY} 12:00:00")]
    )
    rep = daily_report(enrich(sample_silver(spark).unionByName(null_vehicle)))
    assert set(rep.columns) == set(GOLD_REPORT_COLUMNS)
    by_line = {r.Lines: r for r in rep.collect()}
    assert by_line["180"].unique_vehicles_count == 2
    assert by_line["180"].data_points_count == 3
    # cost_of_1km is total_cost/total_dist = 30/100*6.5 = 1.95 when dist>0
    assert abs(by_line["180"].cost_of_1km - 1.95) < 1e-9
    # zero-distance group → NULL via nullif guard
    assert by_line["219"].cost_of_1km is None
    # vehicle-less group → NULL per-vehicle average, not DIVIDE_BY_ZERO
    assert by_line["7"].unique_vehicles_count == 0
    assert by_line["7"].data_points_count == 0
    assert by_line["7"].avg_dist_per_vehicle is None


def test_topk_and_drilldowns(spark):
    enriched = enrich(sample_silver(spark))
    rep = daily_report(enriched)
    top1 = top_k(rep, "total_cost_pln", 1).collect()
    assert top1[0].Lines == "180"
    line_rows = top_group_rows(enriched, rep)
    assert set(r.Lines for r in line_rows.collect()) == {"180"}
    veh_rows = top_vehicle_rows(enriched)
    assert set(r.VehicleNumber for r in veh_rows.collect()) == {"1000"}


def test_report_approx_mode(spark):
    rep = daily_report(enrich(sample_silver(spark)), approx=True)
    by_line = {r.Lines: r for r in rep.collect()}
    # HLL++ is exact at this cardinality
    assert by_line["180"].unique_vehicles_count == 2


def test_stay_points_are_slow_runs(spark, sf_dir):
    from end_to_end_datapipeline_project_spark.pipeline_queries import (
        _STAY_MIN_PINGS,
        q_stay_points,
    )

    rows = q_stay_points(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_pings >= _STAY_MIN_PINGS
        assert r.dwell_sec >= 0
        # centroid must sit inside the cleanse bounding box
        assert 52.0 <= r.centroid_lat <= 52.4
        assert 20.5 <= r.centroid_lon <= 21.5


def test_trip_segments_complement_stays(spark, sf_dir):
    from end_to_end_datapipeline_project_spark.pipeline_queries import (
        q_trip_segments,
    )

    rows = q_trip_segments(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_pings >= 2
        assert r.duration_sec >= 0
        assert r.trip_km >= 0
        # avg of per-ping speeds in a moving run stays in (5, 70]
        assert 5.0 <= r.avg_speed_kmh <= 70.0 + 1e-9


def test_geofence_transitions_alternate(spark, sf_dir):
    from end_to_end_datapipeline_project_spark.pipeline_queries import (
        q_geofence_transitions,
    )

    rows = q_geofence_transitions(spark, sf_dir).collect()
    assert rows
    by_user = {}
    for r in sorted(rows, key=lambda r: (r.user_id, r.ts)):
        by_user.setdefault(r.user_id, []).append(r.transition)
    for seq in by_user.values():
        # transitions must strictly alternate enter/exit per vehicle
        for a, b in zip(seq, seq[1:]):
            assert a != b


def test_stays_and_trips_cost_one_exchange(spark, sf_dir):
    import re

    from end_to_end_datapipeline_project_spark.pipeline_queries import (
        q_stay_points,
        q_trip_segments,
    )

    for q in (q_stay_points, q_trip_segments):
        plan = q(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        # the (user_id, ts) sort is shared by every window AND the final
        # (user, island) aggregate — the whole chain shuffles once
        assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
