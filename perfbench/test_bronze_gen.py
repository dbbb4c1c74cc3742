"""The Bronze generator is a pure function of its arguments.

Run from the repository root: ``python -m pytest perfbench -q``.
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bronze_gen  # noqa: E402
import tables_gen  # noqa: E402
from end_to_end_datapipeline_project_spark.landing import LandingClient  # noqa: E402

PLAN = [("2026-02-10", 4), ("2026-02-11", 3)]


def _land(root, seed):
    client = LandingClient("WAW", "http://localhost.invalid", str(root))
    paths, _, _ = bronze_gen.land(client, seed, PLAN, n_vehicles=300)
    return {os.path.relpath(p, root): open(p, "rb").read() for p in paths}


def test_same_seed_gives_byte_identical_files(tmp_path):
    a = _land(tmp_path / "a", seed=7)
    b = _land(tmp_path / "b", seed=7)
    assert len(a) == 7
    assert a == b
    assert _land(tmp_path / "c", seed=8) != a


def test_layout_envelope_and_edge_records(tmp_path):
    files = _land(tmp_path, seed=3)
    assert sorted(files)[0] == "WAW/year=2026/month=02/day=10/WAW_20260210_060000.json"
    recs = [r for raw in files.values() for r in json.loads(raw)["result"]]
    assert all(set(r) == {"Lines", "VehicleNumber", "Lat", "Lon", "Time", "Brigade"}
               for r in recs)
    assert any(r["Lines"].strip() == "" for r in recs)
    assert any(not r["Time"][:4].isdigit() or "T" in r["Time"] for r in recs)
    assert any(r["Lat"] < 52.0 for r in recs)
    keys = [(r["VehicleNumber"], r["Time"]) for r in recs]
    assert len(set(keys)) < len(keys)  # re-polled duplicates


def test_tables_are_deterministic(tmp_path):
    tables_gen.generate(str(tmp_path / "a"), seed=5, sf=0.0002)
    tables_gen.generate(str(tmp_path / "b"), seed=5, sf=0.0002)
    for name in os.listdir(tmp_path / "a"):
        assert (tmp_path / "a" / name).read_bytes() == (tmp_path / "b" / name).read_bytes()
