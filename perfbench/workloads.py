"""The benchmark's workloads: inputs, operations and correctness checks.

A workload stages one pass's inputs from a seed (:meth:`stage`), then
yields that pass's operations (:meth:`ops`).  An operation's
``run`` is the timed call into the program; its ``check`` runs after
the timer stopped and returns a problem string, or None when the output
is right.

The operation lists are pinned here, not read from ``bench.py``, so an
edit elsewhere cannot change what a workload measures.
"""

from __future__ import annotations

import glob
import math
import os
import random
from dataclasses import dataclass
from typing import Callable

import bronze_gen
import tables_gen

MB = 1024 * 1024
PKG = "end_to_end_datapipeline_project_spark"

#: the largest of the reference's real days, with its snapshot count
MEDALLION_PLAN = [("2026-02-23", 49)]
#: vehicles per snapshot: the reference's traffic (~1,400 per poll, so
#: the day holds ~68.6k records)
MEDALLION_VEHICLES = 1400

#: headline queries, one or more from each module that registers them:
#: PageRank (graph), revenue by nation (a 5-row TPC-H shape paying 11
#: Spark jobs), the flagship report, the Arrow pandas edge, exact
#: dedup, PII scrub, ANN top-k, token count, correlation matrix,
#: z-score anomalies, radius join and bloom join
HEADLINE = (
    "q_pagerank",
    "q_revenue_by_nation",
    "q_daily_report",
    "q_user_sequences",
    "q_dedup_exact",
    "q_pii_scrub",
    "q_ann_topk",
    "q_token_count",
    "q_correlation_matrix",
    "q_zscore_anomaly",
    "q_radius_join",
    "q_bloom_join",
)
#: table scale for the headline queries (lineitem = 6,000 rows;
#: documents and embeddings are 500 rows at every scale)
TABLES_SF = 0.001

#: the maintained-state family the traced run measures once: its batch
#: kernel, then its streaming twin, which commits and reads its state
#: through ``state.StateStore`` once per micro-batch
FAMILY = "pagerank"
FAMILY_BATCH = "q_incremental_pagerank"
FAMILY_TWIN = "q_stream_incremental_pagerank"


@dataclass
class Op:
    name: str
    layer: str
    run: Callable[[], object]
    check: Callable[[object], str | None]


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total


def _close(a, b) -> bool:
    """Equal, with doubles to 1e-9: the JVM and libm may differ in the
    last ulp of a trig result, and sums run in another order."""
    if a is None or b is None:
        return a is b
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


class Medallion:
    """Bronze JSON → Silver → Gold for each date, plus an availableNow
    streaming drain of the same date into fresh output dirs."""

    #: measured passes per run (the run budget allows two: a pass is short)
    measured_passes = 2
    #: per-layer metric prefixes of layers this workload never calls
    not_called = (
        "graph.", "relational.", "pipeline_queries.", "llm_ops.", "stats.",
        "timeseries.", "spatial.", "physical.", "state.", f"{FAMILY}.",
    )

    def stage(self, spark, root: str, seed: int) -> dict:
        from end_to_end_datapipeline_project_spark.landing import LandingClient

        self.spark, self.root = spark, root
        self.bronze = f"{root}/bronze"
        self._gold_ref: dict[str, dict] = {}
        self.silver_rows: dict[str, int] = {}
        client = LandingClient("WAW", "http://localhost.invalid", self.bronze)
        paths, self.bronze_rows, save_s = bronze_gen.land(
            client, seed, MEDALLION_PLAN, MEDALLION_VEHICLES
        )
        return {
            "landing.files": len(paths),
            "landing.mb": sum(os.path.getsize(p) for p in paths) / MB,
            "landing.save_raw_s": save_s,
        }

    def _day_dir(self, day: str) -> str:
        y, m, d = day.split("-")
        return f"{self.bronze}/WAW/year={y}/month={m}/day={d}"

    def ops(self, rng: random.Random, span) -> list[Op]:
        from end_to_end_datapipeline_project_spark import __main__ as cli

        out = []
        for day, _ in MEDALLION_PLAN:
            args = cli.build_parser().parse_args(
                [
                    "--mode", "transform",
                    "--bronze-dir", f"{self.bronze}/WAW",
                    "--silver-dir", f"{self.root}/silver",
                    "--gold-dir", f"{self.root}/gold",
                    "--date", day,
                ]
            )
            out.append(
                Op(
                    f"transform:{day}",
                    "etl",
                    lambda a=args: cli.run_transform(
                        a, spark=self.spark, out=lambda s: None
                    ),
                    lambda rep, d=day: self._check_gold(d, rep),
                )
            )
            sdir = f"{self.root}/stream/{day}"
            out.append(
                Op(
                    f"stream:{day}",
                    "streaming",
                    lambda d=day, s=sdir: self._stream(d, s, span),
                    lambda s, d=day: self._check_stream(d, s),
                )
            )
        return out

    def _stream(self, day: str, sdir: str, span) -> str:
        from end_to_end_datapipeline_project_spark import streaming

        with span("streaming.read_bronze_stream"):
            bronze = streaming.read_bronze_stream(
                self.spark, f"{self._day_dir(day)}/*.json"
            )
        with span("streaming.bronze_to_silver_stream"):
            silver = streaming.bronze_to_silver_stream(bronze, day)
        with span("streaming.write_silver_stream"):
            q = streaming.write_silver_stream(
                silver, f"{sdir}/out", f"{sdir}/ckpt"
            )
        with span("streaming.drain"):
            q.awaitTermination()
        return f"{sdir}/out"

    def _check_stream(self, day: str, out_dir: str) -> str | None:
        got = self.spark.read.parquet(out_dir).count()
        want = self.silver_rows.get(day)
        if got != want:
            return f"stream silver rows {got} != batch silver rows {want}"
        return None

    def _check_gold(self, day: str, report) -> str | None:
        self.silver_rows[day] = self.spark.read.parquet(
            f"{self.root}/silver/date={day}"
        ).count()
        got = {r["Lines"]: tuple(r)[1:10] for r in report.drop("date").collect()}
        want = self._gold_ref.get(day)
        if want is None:
            want = self._gold_ref[day] = duck_gold(self._day_dir(day), day)
        if set(got) != set(want):
            return f"gold lines differ: {len(got)} vs {len(want)} in DuckDB"
        for line, row in got.items():
            if not all(_close(a, b) for a, b in zip(row, want[line])):
                return f"gold row for line {line!r}: {row} != {want[line]}"
        return None

    def written_bytes(self) -> int:
        """Silver, Gold, stream sink and checkpoint bytes on disk."""
        return sum(
            dir_bytes(f"{self.root}/{d}") for d in ("silver", "gold", "stream")
        )


def duck_gold(day_dir: str, day: str) -> dict[str, tuple]:
    """Independent DuckDB cleanse → lag → haversine → per-line report
    over one date's raw snapshot files; returns {Lines: metrics}."""
    import duckdb

    files = sorted(glob.glob(f"{day_dir}/*.json"))
    listing = ", ".join(f"'{f}'" for f in files)
    hav = "2 * 6371.0 * atan2(sqrt(h), sqrt(greatest(0.0, 1 - h)))"
    sql = f"""
    WITH raw AS (
      SELECT unnest(result) AS r FROM read_json([{listing}], columns = {{
        'result': 'STRUCT(Lines VARCHAR, Lon DOUBLE, VehicleNumber VARCHAR,
                   "Time" VARCHAR, Lat DOUBLE, Brigade VARCHAR)[]'}})
    ), typed AS (
      SELECT trim(r.Lines) AS line, trim(r.VehicleNumber) AS veh,
             r.Lat AS lat, r.Lon AS lon,
             try_strptime(r."Time", '%Y-%m-%d %H:%M:%S') AS t
      FROM raw
    ), kept AS (
      SELECT DISTINCT ON (veh, t) line, veh, lat, lon, t FROM typed
      WHERE line IS NOT NULL AND veh IS NOT NULL AND lat IS NOT NULL
        AND lon IS NOT NULL AND t IS NOT NULL
        AND lat BETWEEN 52.0 AND 52.4 AND lon BETWEEN 20.5 AND 21.5
        AND CAST(t AS DATE) = DATE '{day}' AND line <> ''
      ORDER BY veh, t, line, lat, lon
    ), lagged AS (
      SELECT *, lag(lat) OVER w AS plat, lag(lon) OVER w AS plon,
             lag(t) OVER w AS pt
      FROM kept WINDOW w AS (PARTITION BY veh ORDER BY t)
    ), hv AS (
      SELECT *, pow(sin(radians(lat - plat) / 2), 2)
                + cos(radians(plat)) * cos(radians(lat))
                  * pow(sin(radians(lon - plon) / 2), 2) AS h,
             epoch(t) - epoch(pt) AS dt
      FROM lagged
    ), seg AS (
      SELECT line, veh, coalesce({hav}, 0.0) AS km, dt FROM hv
    ), fast AS (
      SELECT line, veh, km, km / 100.0 * 30.0 * 6.5 AS pln,
             CASE WHEN dt > 0 THEN km / dt * 3600.0 ELSE 0.0 END AS kmh
      FROM seg
    )
    SELECT line, sum(km), sum(pln), max(km), count(veh), avg(kmh),
           max(kmh), count(DISTINCT veh), sum(km) / count(DISTINCT veh),
           sum(pln) / nullif(sum(km), 0.0)
    FROM fast WHERE kmh <= 70.0 GROUP BY line
    """
    con = duckdb.connect()
    try:
        return {r[0]: r[1:] for r in con.sql(sql).fetchall()}
    finally:
        con.close()


class Headline:
    """The headline queries over seeded tables, in a seed-permuted order
    each pass, each checked against its registered DuckDB oracle SQL."""

    #: measured passes per run (the run budget allows one: the cold
    #: warm-up pass of twelve queries costs three warm passes; a second
    #: measured pass cost 12 s a run and did not lower the spread, as
    #: how far the JVM warms between passes varies from run to run)
    measured_passes = 1
    not_called = ("landing.", "etl.", "cleanse.", "sinks.")

    def __init__(self, canon) -> None:
        self._canon = canon

    def stage(self, spark, root: str, seed: int) -> dict:
        from end_to_end_datapipeline_project_spark.registry import REGISTRY, _load

        _load()
        self.spark, self.tables = spark, f"{root}/tables"
        self._oracle: dict[str, tuple] = {}
        tables_gen.generate(self.tables, seed, TABLES_SF)
        # the twin's stream source: a directory holding the lineitem file
        self.stream_dir = f"{root}/stream/lineitem"
        os.makedirs(self.stream_dir)
        os.link(f"{self.tables}/lineitem.parquet",
                f"{self.stream_dir}/lineitem.parquet")
        self.registry = REGISTRY
        return {}

    def layer(self, name: str) -> str:
        return self.registry[name].spark_fn.__module__.removeprefix(PKG + ".")

    def ops(self, rng: random.Random, span) -> list[Op]:
        order = list(HEADLINE)
        rng.shuffle(order)
        return [
            Op(n, self.layer(n), lambda n=n: self._run(n),
               lambda got, n=n: self._check(n, got))
            for n in order
        ]

    def family_ops(self) -> list[Op]:
        """The maintained-state family: batch kernel, then streaming twin."""
        return [
            Op(FAMILY_BATCH, f"{FAMILY}.batch", lambda: self._run(FAMILY_BATCH),
               lambda got: self._check(FAMILY_BATCH, got)),
            Op(FAMILY_TWIN, f"{FAMILY}.twin", self._twin,
               lambda got: self._check(FAMILY_TWIN, got)),
        ]

    def _run(self, name: str):
        df = self.registry[name].spark_fn(self.spark, self.tables)
        return df.columns, [tuple(r) for r in df.collect()]

    def _twin(self):
        """``q_stream_incremental_pagerank`` with its stream read from
        this pass's inputs: the registered query stages its stream
        source outside the working directory.  Same split: orders with
        ``l_orderkey % 10 == 7`` arrive as the stream, the rest seed
        the stored state."""
        from pyspark.sql import functions as F

        from end_to_end_datapipeline_project_spark.sources import read_parquet_table
        from end_to_end_datapipeline_project_spark.streaming_queries import (
            incremental_pagerank_stream,
        )

        spark = self.spark
        li = read_parquet_table(spark, self.tables, "lineitem")
        delta = F.col("l_orderkey") % 10 == 7
        stream = (
            spark.readStream.schema(spark.read.parquet(self.stream_dir).schema)
            .parquet(self.stream_dir)
            .filter(delta)
            .select("l_partkey", "l_suppkey")
        )
        df = incremental_pagerank_stream(spark, stream, li.filter(~delta))
        return df.columns, [tuple(r) for r in df.collect()]

    def _check(self, name: str, got) -> str | None:
        cols, rows = got
        if name not in self._oracle:
            import duckdb
            from end_to_end_datapipeline_project_spark.schemas import TESTDATA_TABLES

            con = duckdb.connect()
            for t in TESTDATA_TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{self.tables}/{t}.parquet'"
                )
            res = con.execute(self.registry[name].oracle).arrow()
            self._oracle[name] = (
                res.column_names,
                [tuple(c[i].as_py() for c in res.columns) for i in range(res.num_rows)],
            )
            con.close()
        ocols, orows = self._oracle[name]
        if sorted(cols) != sorted(ocols):
            return f"columns {sorted(cols)} != oracle {sorted(ocols)}"
        if len(rows) != len(orows):
            return f"{len(rows)} rows != oracle {len(orows)}"
        if self._canon.rowset(cols, rows) != self._canon.rowset(ocols, orows):
            return "values differ from the oracle"
        return None

    def written_bytes(self) -> int:
        return 0


def make(name: str, canon):
    if name == "medallion":
        return Medallion()
    if name == "headline":
        return Headline(canon)
    raise ValueError(f"unknown workload {name!r}")
