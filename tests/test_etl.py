"""End-to-end orchestrator: Bronze JSON landing zone → Silver → Gold with
dynamic-partition-overwrite idempotency (reference main.py --mode
transform as a library, incremental instead of full-rewrite)."""

import json
import os

from pyspark.sql import functions as F

from end_to_end_datapipeline_project_spark.etl import run_batch

DAY = "2026-02-23"


def _land(base, year, month, day, name, records):
    d = f"{base}/year={year}/month={month:02d}/day={day:02d}"
    os.makedirs(d, exist_ok=True)
    with open(f"{d}/{name}.json", "w") as f:
        json.dump({"result": records}, f)


def rec(line, veh, time, lat=52.2, lon=21.0):
    return {
        "Lines": line,
        "VehicleNumber": veh,
        "Lat": lat,
        "Lon": lon,
        "Time": time,
    }


def test_run_batch_end_to_end_and_idempotent(spark, tmp_path):
    bronze = str(tmp_path / "bronze")
    silver = str(tmp_path / "silver")
    gold = str(tmp_path / "gold")
    # two pings for one vehicle (a real segment), one dup, one other-day row
    _land(
        bronze, 2026, 2, 23, "s1",
        [
            rec("180", "1000", f"{DAY} 12:00:00"),
            rec("180", "1000", f"{DAY} 12:00:15", lat=52.2001),
            rec("180", "1000", f"{DAY} 12:00:15", lat=52.2001),  # dup
            rec("7", "2000", "2026-02-22 09:00:00"),  # other day: filtered
        ],
    )
    report = run_batch(
        spark, bronze, silver, gold, DAY, year=2026, month=2, day=23
    )
    rows = report.collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.Lines == "180"
    assert r.data_points_count == 2
    assert r.unique_vehicles_count == 1
    assert r.total_distance_km > 0

    silver_rows = spark.read.parquet(silver).count()
    assert silver_rows == 2  # dup collapsed, other-day row filtered

    # re-run the same date: dynamic overwrite replaces, never duplicates
    report2 = run_batch(
        spark, bronze, silver, gold, DAY, year=2026, month=2, day=23
    )
    assert spark.read.parquet(silver).count() == 2
    assert report2.count() == 1

    # a second date lands and processes WITHOUT touching day 23's outputs
    _land(bronze, 2026, 2, 24, "s2", [rec("9", "3000", "2026-02-24 08:00:00")])
    run_batch(spark, bronze, silver, gold, "2026-02-24", 2026, 2, 24)
    all_silver = spark.read.parquet(silver)
    assert all_silver.count() == 3
    assert {str(r.date) for r in all_silver.select("date").distinct().collect()} == {
        "2026-02-23",
        "2026-02-24",
    }
    assert spark.read.parquet(gold).count() == 2


def test_rerun_with_zero_rows_replaces_stale_partition(spark, tmp_path):
    """A corrected landing file that cleanses to ZERO rows must still
    replace the previous run's partition — dynamic partition overwrite
    no-ops on empty frames and would leave stale Silver/Gold data."""
    bronze = str(tmp_path / "bronze")
    silver = str(tmp_path / "silver")
    gold = str(tmp_path / "gold")
    _land(
        bronze, 2026, 2, 23, "s1",
        [rec("180", "1000", f"{DAY} 12:00:00"),
         rec("180", "1000", f"{DAY} 12:00:15", lat=52.2001)],
    )
    report = run_batch(
        spark, bronze, silver, gold, DAY, year=2026, month=2, day=23
    )
    assert report.count() == 1
    assert spark.read.parquet(silver).count() == 2

    # "correct" the landing data: every row now fails the bounding-box
    # cleanse -> the re-run's silver frame is EMPTY
    _land(
        bronze, 2026, 2, 23, "s1",
        [rec("180", "1000", f"{DAY} 12:00:00", lat=0.0, lon=0.0),
         rec("180", "1000", f"{DAY} 12:00:15", lat=0.0, lon=0.0)],
    )
    report2 = run_batch(
        spark, bronze, silver, gold, DAY, year=2026, month=2, day=23
    )
    assert report2.count() == 0  # stale Gold must NOT resurface
    assert spark.read.parquet(silver).count() == 0


def test_medallion_pass_job_floor(spark, tmp_path):
    """The job count of one fixed-shape medallion pass: a landing day of
    34 snapshots (above Spark's 32-path parallel-listing threshold)
    through ``run_transform``, then an availableNow Silver drain.  The
    transform is Silver 2 jobs (parse, dedup + write), Gold 3 (read-back
    shuffle, window + per-vehicle aggregate, per-line aggregate + write)
    and the top-N pandas edge 1; the drain is its data batch plus the
    watermark's no-data batch; no file listing runs as a job."""
    from end_to_end_datapipeline_project_spark import __main__ as cli
    from end_to_end_datapipeline_project_spark import streaming

    bronze = str(tmp_path / "bronze")
    for i in range(34):
        t = f"{DAY} 12:{i // 4:02d}:{i % 4 * 15:02d}"
        _land(
            bronze, 2026, 2, 23, f"poll{i:02d}",
            [
                rec(str(v % 3), str(1000 + v), t, lat=52.2 + i * 1e-4 * v)
                for v in range(6)
            ],
        )
    sc = spark.sparkContext
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    args = cli.build_parser().parse_args(
        [
            "--mode", "transform", "--bronze-dir", bronze,
            "--silver-dir", str(tmp_path / "silver"),
            "--gold-dir", str(tmp_path / "gold"), "--date", DAY,
        ]
    )
    sc.setJobGroup("floor-transform", "transform")
    try:
        cli.run_transform(args, spark=spark, out=lambda s: None)
        sc.setJobGroup("floor-stream", "stream")
        q = streaming.write_silver_stream(
            streaming.bronze_to_silver_stream(
                streaming.read_bronze_stream(
                    spark, f"{bronze}/year=2026/month=02/day=23/*.json"
                ),
                DAY,
            ),
            str(tmp_path / "stream"),
            str(tmp_path / "ckpt"),
        )
        q.awaitTermination()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()

    def jobs(group):
        return list(tracker.getJobIdsForGroup(group))

    stream_jobs = jobs("floor-stream") + jobs(str(q.runId))
    descriptions = [
        store.job(j).description()
        for j in jobs("floor-transform") + stream_jobs
    ]
    listing = [
        d.get() for d in descriptions
        if d.isDefined() and d.get().startswith("Listing leaf files")
    ]
    assert listing == []
    assert len(jobs("floor-transform")) == 6
    assert [p["numInputRows"] > 0 for p in q.recentProgress] == [True, False]
    assert len(stream_jobs) == 2
