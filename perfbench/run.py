"""Repository benchmark: one workload per run, closed loop, one client.

Usage, from the repository root::

    python3 perfbench/run.py --workload medallion --seed 1 --seconds 15 --trace 0

Workloads (``BENCHMARK.json`` records why each was chosen):

- ``medallion``: the paper's pipeline on one landed date: one
  ``__main__.run_transform`` (Bronze JSON → Silver → Gold, then the
  top-10 pandas edge), then one availableNow streaming drain of the same
  landing partition into fresh output and checkpoint dirs.
- ``headline``: registered headline queries, each collected, in a
  seed-permuted order every pass.

Every pass runs on inputs of its own, generated from ``seed * 1000 +
pass``, so nothing a pass computes can be reused by the next.

Set-up, timed from process start: start the session, warm up the JVM
with a small aggregate, window and broadcast join, stage pass 0's
inputs and run ``WARM_PASSES`` passes that compile the code paths and
are not measured.  ``setup_s`` is that whole span, JVM launch and
package imports included.  Then the run measures whole passes, one
operation at a time, until the timed operations add up to ``--seconds``
and at least the workload's ``measured_passes`` passes ran.  Latencies
are each operation's fastest measured execution (a slow host phase
inflates some passes, not the operation's floor): ``wall_s`` sums them
and ``op_p50_s`` is their median.  Ledger counts are medians over
passes.  ``peak_rss_mb`` is the driver JVM plus Python driver peak seen
during an operation, both peaks reset before each one, so the generators
and oracle checks between operations are left out; like latency it is
each operation's lowest over the measured passes (when the collector
runs moves a peak from one execution to the next), and the run reports
the highest of these.
After each operation, outside the timer, the run reads Spark's job
ledger for it and checks its output; a wrong output counts as a failed
operation.

``--trace 1`` adds one traced pass after the measured ones: layer entry
points are wrapped in spans for it, the per-layer metrics come from it,
and ``trace_overhead_s`` is its wall minus the last measured pass's.  On ``headline`` it then runs the maintained-state
family once, traced, with ``state.StateStore`` wrapped.  Spans and
per-operation ledger rows go to ``.perfbench/traces/``.  A per-layer
metric is 0 only where the workload never calls its layer; any other
declared metric the run did not produce fails the run.

The last stdout line is the result JSON; the line before it carries the
environment block and the metrics that have no bound.  Everything the
run writes stays under ``.perfbench/`` in the working directory.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import importlib  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from collections import defaultdict  # noqa: E402
from contextlib import nullcontext  # noqa: E402

PKG = "end_to_end_datapipeline_project_spark"
WORKLOADS = ("medallion", "headline")
WARM_PASSES = 1
DRIVER_MEMORY = "1g"
MB = 1024 * 1024


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(root: str, work: str) -> dict:
    """Pin cores, memory and every scratch path before the JVM starts;
    returns the extra session conf."""
    cpus = len(os.sched_getaffinity(0))
    tmp = f"{work}/tmp"
    os.makedirs(tmp)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "SPARK_LOCAL_DIRS": f"{work}/spark-local",
            "TMPDIR": tmp,
            # every JVM, the spark-submit launcher included
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "TZ": "UTC",
            "PYTHONPATH": os.pathsep.join(
                [root] + [p for p in [os.environ.get("PYTHONPATH")] if p]
            ),
        }
    )
    time.tzset()
    import tempfile

    tempfile.tempdir = None
    sys.path[:0] = [root, os.path.dirname(os.path.abspath(__file__))]
    return {
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }


def warm_up(spark) -> None:
    """Compile the aggregate, window and broadcast-join code paths once."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    r = spark.range(4096).withColumn("g", F.col("id") % 16)
    r.withColumn(
        "rn", F.row_number().over(Window.partitionBy("g").orderBy("id"))
    ).join(F.broadcast(r.groupBy("g").count()), "g").write.format(
        "noop"
    ).mode("overwrite").save()


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def reset_hwm(pid: int | str) -> None:
    """Restart the process's peak-RSS count at its current RSS."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def python_canary_s() -> float:
    """Host speed, read beside the metrics: the fastest of three fixed
    one-core loops.  Shared hosts drift; a slow run on a slow host shows
    here."""

    def once() -> float:
        t = time.perf_counter()
        sum(i * i for i in range(2 * 10**6))
        return time.perf_counter() - t

    return min(once() for _ in range(3))


def load_canon(root: str):
    """``tools/check_oracle.py`` (its ``canon``/``rowset`` comparison).
    It puts a fixed checkout path first on ``sys.path``; import the
    package from this checkout before it, and undo the change after."""
    importlib.import_module(PKG)
    path = list(sys.path)
    spec = importlib.util.spec_from_file_location(
        "check_oracle", f"{root}/tools/check_oracle.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    sys.path[:] = path
    return mod


class Run:
    def __init__(self, args, root: str, work: str, conf: dict) -> None:
        import workloads

        self.args, self.root, self.work, self.conf = args, root, work, conf
        self.wl = workloads.make(args.workload, load_canon(root))
        self.tracer = None
        self.traced = self.family = None

    def pass_dir(self, n: int) -> str:
        return f"{self.work}/p{n}"

    def pass_seed(self, n: int) -> int:
        return self.args.seed * 1000 + n

    # --- setup -----------------------------------------------------------

    def setup(self) -> None:
        from end_to_end_datapipeline_project_spark.session import get_spark
        from ledger import Ledger

        spark = get_spark("perfbench", extra_conf=self.conf)
        t1 = time.time()
        warm_up(spark)
        t2 = time.time()
        layer = self.wl.stage(spark, self.pass_dir(0), self.pass_seed(0))
        t3 = time.time()
        self.spark = spark
        self.jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        self.ledger = Ledger(spark)
        for n in range(WARM_PASSES):
            if n:
                self.wl.stage(spark, self.pass_dir(n), self.pass_seed(n))
            for op in self.wl.ops(random.Random(self.pass_seed(n)), nullcontext):
                try:
                    op.run()
                except Exception:  # reported when the measured passes hit it
                    pass
            shutil.rmtree(self.pass_dir(n), ignore_errors=True)
        t4 = time.time()
        self.setup_m = {
            "setup_s": t4 - T_PROCESS,
            "session.start_s": t1 - T_PROCESS,
            "session.warmup_s": (t2 - t1) + (t4 - t3),
            **layer,
        }

    # --- passes ----------------------------------------------------------

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else nullcontext()

    def run_pass(self, n: int) -> dict:
        """Stage pass ``n``'s inputs, then run its operations."""
        self.wl.stage(self.spark, self.pass_dir(n), self.pass_seed(n))
        return self.run_ops(self.wl.ops(random.Random(self.pass_seed(n)), self.span))

    def run_ops(self, ops) -> dict:
        """Time, cost and check each operation, one at a time."""
        from ledger import Cost

        streams = self.ledger.streams
        n_batches = len(streams.batch_ms)
        first_run = len(streams.run_ids)
        rows = []
        for op in ops:
            reset_hwm(self.jvm_pid)
            reset_hwm("self")
            self.ledger.start_op(op.name)
            t0 = time.time()
            err = None
            with self.span(op.name, layer=op.layer):
                try:
                    out = op.run()
                except Exception as e:  # an operation failure is a result
                    err = f"{type(e).__name__}: {str(e)[:300]}"
            t1 = time.time()
            rss_mb = vm_hwm_mb(self.jvm_pid) + vm_hwm_mb("self")
            self.ledger.end()
            costs = self.ledger.collect()
            if err is None:
                try:
                    err = op.check(out)
                except Exception as e:  # a failed check is a wrong result
                    err = f"check {type(e).__name__}: {str(e)[:300]}"
            total = sum(costs.values(), Cost())
            rows.append(
                {"op": op.name, "layer": op.layer, "start": t0, "end": t1,
                 "wall_s": t1 - t0, "error": err, "rss_mb": rss_mb,
                 "driver_gap_s": (t1 - t0) - total.busy_s(t0, t1),
                 "ledger": {k: c.as_dict() for k, c in costs.items()},
                 "total": total}
            )
        self.ledger.drain()
        p = {
            "ops": rows,
            "wall_s": sum(r["wall_s"] for r in rows),
            "written_bytes": self.wl.written_bytes(),
            "batch_ms": streams.batch_ms[n_batches:],
            "run_ids": streams.run_ids[first_run:],
        }
        for k in ("jobs", "input_bytes", "shuffle_write_bytes", "cpu_ns"):
            p[k] = sum(getattr(r["total"], k) for r in rows)
        return p

    def measure(self) -> None:
        self.passes = []
        n = WARM_PASSES
        while len(self.passes) < self.wl.measured_passes or sum(
            p["wall_s"] for p in self.passes
        ) < self.args.seconds:
            self.passes.append(self.run_pass(n))
            shutil.rmtree(self.pass_dir(n), ignore_errors=True)
            n += 1
        self.canary_s = python_canary_s()
        if self.args.trace:
            from spans import Tracer

            self.tracer = Tracer()
            self.wl_trace_hooks()
            try:
                self.traced = self.run_pass(n)
            finally:
                self.tracer.unwrap()
            self.trace, self.tracer = self.tracer, None
            self.traced_layers = self.trace_layers()
            shutil.rmtree(self.pass_dir(n), ignore_errors=True)
            if hasattr(self.wl, "family_ops"):
                self.family = self.run_family(n + 1)

    def run_family(self, n: int) -> dict:
        """The maintained-state family, once, traced, with the state
        store's commit, read and compact wrapped."""
        from spans import Tracer

        self.wl.stage(self.spark, self.pass_dir(n), self.pass_seed(n))
        self.tracer = Tracer()
        self.state_bytes = 0
        self.wrap_state()
        try:
            return self.run_ops(self.wl.family_ops())
        finally:
            self.tracer.unwrap()
            self.family_trace, self.tracer = self.tracer, None
            shutil.rmtree(self.pass_dir(n), ignore_errors=True)

    def wrap_state(self) -> None:
        import workloads

        store = importlib.import_module(f"{PKG}.state").StateStore

        def written(st, batch_id, replace=None, append=None, partition_by=None):
            """Bytes of the directories this commit wrote."""
            ends = (f"/b{batch_id}", f"/seg{batch_id}")
            for name in [*(replace or {}), *(append or {})]:
                for d in st.dirs(name):
                    if d.endswith(ends):
                        self.state_bytes += workloads.dir_bytes(d)

        def compacted(st, spark, name, partition_by=None):
            self.state_bytes += sum(workloads.dir_bytes(d) for d in st.dirs(name))

        self.tracer.wrap(store, "commit", "state.commit", after=written)
        self.tracer.wrap(store, "read", "state.read")
        self.tracer.wrap(store, "compact", "state.compact", after=compacted)

    def wl_trace_hooks(self) -> None:
        """Wrap the medallion tier entry points: each switches the
        ledger's job group, so tiers are split by the group their jobs
        ran under (Spark records JVM call sites for these jobs)."""
        if self.args.workload != "medallion":
            return
        etl = importlib.import_module(f"{PKG}.etl")
        sinks = importlib.import_module(f"{PKG}.sinks")
        tr, led = self.tracer, self.ledger
        self.tier_marks: list[tuple[str, float]] = []

        def mark(tier):
            def switch():
                self.tier_marks.append((tier, time.time()))
                led.switch(tier)
            return switch

        tr.wrap(etl, "read_bronze", "sources.read_bronze", mark("etl.silver"))
        tr.wrap(etl, "bronze_to_silver", "cleanse.bronze_to_silver")
        tr.wrap(etl, "enrich", "trajectory.enrich", mark("etl.gold"))
        tr.wrap(etl, "daily_report", "reports.daily_report")
        tr.wrap(etl, "run_batch", "etl.run_batch",
                after=lambda *a, **k: self.tier_marks.append(("end", time.time())))
        tr.wrap(sinks, "to_pandas_edge", "sinks.to_pandas_edge",
                mark("sinks.pandas_edge"))

    def trace_layers(self) -> dict:
        """Medallion numbers that must be read before the traced pass's
        directory goes: rows kept and bytes written."""
        if self.args.workload != "medallion":
            return {}
        import workloads

        wl = self.wl
        return {
            "cleanse.kept_ratio": sum(wl.silver_rows.values())
            / sum(wl.bronze_rows.values()),
            "etl.written_mb": sum(
                workloads.dir_bytes(f"{wl.root}/{d}") for d in ("silver", "gold")
            ) / MB,
        }

    # --- results ---------------------------------------------------------

    def env(self) -> dict:
        sc = self.spark.sparkContext
        return {
            "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
            "master": sc.master,
            "defaultParallelism": sc.defaultParallelism,
            "spark.sql.shuffle.partitions": self.spark.conf.get(
                "spark.sql.shuffle.partitions"
            ),
            "driver_memory": DRIVER_MEMORY,
            "spark_version": self.spark.version,
            "python": sys.version.split()[0],
            "python_canary_s": self.canary_s,
        }

    def op_floors(self, key: str = "wall_s") -> dict[str, float]:
        """Each operation's lowest ``key`` over its measured executions."""
        best: dict[str, float] = {}
        for p in self.passes:
            for r in p["ops"]:
                best[r["op"]] = min(best.get(r["op"], r[key]), r[key])
        return best

    def end_to_end(self) -> dict:
        med = statistics.median
        ps = self.passes
        floors = self.op_floors().values()
        return {
            "setup_s": self.setup_m["setup_s"],
            "wall_s": sum(floors),
            "op_p50_s": med(floors),
            "spark_jobs": med(p["jobs"] for p in ps),
            "input_mb": med(p["input_bytes"] for p in ps) / MB,
            "shuffle_mb": med(p["shuffle_write_bytes"] for p in ps) / MB,
            "peak_rss_mb": max(self.op_floors("rss_mb").values()),
        }

    def unbounded(self) -> dict:
        ops = [r for p in self.passes for r in p["ops"]]
        n = len(ops)
        lat = sorted(r["wall_s"] for r in ops)
        med = statistics.median
        return {
            "written_mb": med(p["written_bytes"] for p in self.passes) / MB,
            # executor CPU swings with JIT state at these input sizes
            "executor_cpu_s": med(p["cpu_ns"] for p in self.passes) / 1e9,
            "failed_op_ratio": self.failed() / len(self.all_ops()),
            # a p90 needs ten samples beyond it
            "op_p90_s": lat[int(0.9 * n)] if n >= 100 else None,
            "op_samples": n,
            "passes": len(self.passes),
            "pass_walls_s": [p["wall_s"] for p in self.passes],
            "setup": self.setup_m,
            "op_walls_s": {
                name: [r["wall_s"] for r in ops if r["op"] == name]
                for name in dict.fromkeys(r["op"] for r in ops)
            },
        }

    def all_ops(self) -> list[dict]:
        extra = [p for p in (self.traced, self.family) if p]
        return [r for p in self.passes + extra for r in p["ops"]]

    def failed(self) -> int:
        return sum(1 for r in self.all_ops() if r["error"])

    def per_layer(self) -> dict:
        tp = self.traced
        m: dict[str, float] = defaultdict(float, self.traced_layers)
        med = statistics.median
        for k in ("session.start_s", "session.warmup_s", "landing.files",
                  "landing.mb", "landing.save_raw_s"):
            if k in self.setup_m:
                m[k] = self.setup_m[k]
        spans = self.trace.spans
        m["trace.op_spans_s"] = sum(s.dur for s in spans if s.parent is None)
        m["trace_overhead_s"] = tp["wall_s"] - self.passes[-1]["wall_s"]
        for r in tp["ops"]:
            if self.args.workload == "medallion":
                for short in ("silver", "gold"):
                    c = r["ledger"].get(f"etl.{short}")
                    if c is None:
                        continue
                    m[f"etl.{short}_jobs"] += c["jobs"]
                    m[f"etl.{short}_shuffle_mb"] += c["shuffle_mb"]
                    m[f"etl.{short}_cpu_s"] += c["executor_cpu_s"]
                    if short == "silver":
                        m["etl.silver_input_mb"] += c["input_mb"]
            else:
                mod, t = r["layer"], r["total"]
                m[f"{mod}.wall_s"] += r["wall_s"]
                m[f"{mod}.jobs"] += t.jobs
                m[f"{mod}.input_mb"] += t.input_bytes / MB
                m[f"{mod}.shuffle_mb"] += t.shuffle_write_bytes / MB
                m[f"{mod}.driver_gap_s"] += r["driver_gap_s"]
        if self.args.workload == "medallion":
            edge = [s.dur for s in spans if s.name == "sinks.to_pandas_edge"]
            if edge:
                m["sinks.pandas_edge_s"] = sum(edge)
            marks = self.tier_marks
            for (tier, a), (_, b) in zip(marks, marks[1:]):
                if tier in ("etl.silver", "etl.gold"):
                    m[f"{tier}_s"] += b - a
        streamed = [p for p in (tp, self.family) if p]
        batch_ms = [b for p in streamed for b in p["batch_ms"]]
        if batch_ms:
            m["streaming.microbatches"] = len(batch_ms)
            m["streaming.batch_p50_s"] = med(batch_ms) / 1e3
            m["streaming.state_rows"] = sum(
                self.ledger.streams.last_state_rows.get(rid, 0)
                for p in streamed for rid in p["run_ids"]
            )
        if self.family:
            from workloads import FAMILY

            for r in self.family["ops"]:
                kind = r["layer"].rsplit(".", 1)[1]
                m[f"{FAMILY}.{kind}_s"] = r["wall_s"]
                m[f"{FAMILY}.{kind}_jobs"] = r["total"].jobs
            fs = self.family_trace.spans
            m["state.commits"] = sum(1 for s in fs if s.name == "state.commit")
            m["state.commit_s"] = sum(s.dur for s in fs if s.name == "state.commit")
            m["state.read_s"] = sum(s.dur for s in fs if s.name == "state.read")
            m["state.mb_written"] = self.state_bytes / MB
        return m

    def dump_trace(self) -> None:
        out = f"{self.root}/.perfbench/traces"
        os.makedirs(out, exist_ok=True)
        name = f"{out}/{self.args.workload}-seed{self.args.seed}"
        runs = [(self.trace, self.traced, "")]
        if self.family:
            runs.append((self.family_trace, self.family, "-family"))
        for tracer, p, suffix in runs:
            rows = [{k: v for k, v in r.items() if k != "total"} for r in p["ops"]]
            tracer.dump(
                f"{name}{suffix}.json",
                {"workload": self.args.workload, "seed": self.args.seed,
                 "env": self.env(), "ops": rows},
            )


def descendants(pid: int) -> list[int]:
    """Every process below ``pid``, read from ``/proc``."""
    children: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children[ppid].append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children[todo.pop()]:
            out.append(c)
            todo.append(c)
    return out


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_processes(timeout_s: float = 30.0) -> None:
    """Stop Spark, then the gateway JVM it runs in, and wait until every
    process this run started has ended.  ``SparkSession.stop`` leaves the
    JVM to exit on its own once the Python driver is gone, seconds after
    the result is printed; closing its stdin ends it now."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    if SparkContext._active_spark_context is not None:
        try:
            SparkContext._active_spark_context.stop()
        except Exception:  # the JVM is stopped below either way
            pass
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway exits on EOF
            proc.wait(timeout=timeout_s)
        except Exception:
            proc.kill()
            proc.wait()
    started += descendants(os.getpid())
    deadline = time.time() + timeout_s
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in started:
            if alive(pid):
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
        while any(alive(p) for p in started) and time.time() < deadline:
            try:  # reap the ones that are ours
                os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pass
            time.sleep(0.05)
        if not any(alive(p) for p in started):
            return
        deadline = time.time() + timeout_s


def declared_metrics(root: str, key: str) -> list[dict]:
    with open(f"{root}/BENCHMARK.json") as f:
        return json.load(f)[key]


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM: SystemExit runs the finally below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    missing = [
        p for p in (f"{PKG}/__init__.py", "tools/check_oracle.py", "BENCHMARK.json")
        if not os.path.isfile(os.path.join(root, p))
    ]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}",
              file=sys.stderr)
        return 2
    work = f"{root}/.perfbench/run-{os.getpid()}"
    conf = prepare_env(root, work)
    run = Run(args, root, work, conf)
    try:
        run.setup()
        run.measure()
        key = "per_layer" if args.trace else "end_to_end"
        produced = run.per_layer() if args.trace else run.end_to_end()
        declared = declared_metrics(root, key)
        stray = set(produced) - {d["name"] for d in declared}
        if stray:
            raise KeyError(f"metrics not declared in BENCHMARK.json: {sorted(stray)}")
        values, missing = {}, []
        for d in declared:
            if d["name"] in produced:
                values[d["name"]] = float(produced[d["name"]])
            elif d["name"].startswith(run.wl.not_called):
                values[d["name"]] = 0.0  # the workload never calls this layer
            else:
                missing.append(d["name"])
        if missing:
            raise KeyError(f"declared metrics the run did not produce: {missing}")
        info = {
            "workload": args.workload,
            "seed": args.seed,
            "env": run.env(),
            **run.unbounded(),
            "end_to_end": run.end_to_end(),
            "failures": [
                {"op": r["op"], "error": r["error"]}
                for r in run.all_ops() if r["error"]
            ],
        }
        if args.trace:
            info["trace_overhead_s"] = values["trace_overhead_s"]
            run.dump_trace()
        failed = run.failed()
        result = {
            "correct": failed == 0,
            "attempted": len(run.all_ops()),
            "failed": failed,
            "metrics": {
                d["name"]: {"value": values[d["name"]], "unit": d["unit"]}
                for d in declared
            },
        }
    finally:
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(info, default=str))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
