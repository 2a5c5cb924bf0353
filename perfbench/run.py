"""Benchmark of the production verbs, end to end and per layer.

    python3 perfbench/run.py --workload daily_narrow --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  One closed loop per run: one Python
process, one Spark session at ``local[<nproc>]``, one op at a time.
Inputs are generated from ``--seed`` (``gen.py``); outputs are checked
against DuckDB after the timed window (``check.py``).  The last stdout
line is the result: end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1`` (``layers.py``).  The line before it holds
the run context.  See ``README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(1, ROOT)

import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

NPROC = len(os.sched_getaffinity(0))

# Both workloads have the sf0.1 shape of ``tools/gen_testdata.py``: its
# events table holds 1M events per unit of scale factor over a 30-day
# window and 15k users per unit, so 3 333 events a day from 1 500 users.
# ``daily_narrow`` runs the daily job on such days; ``ingest_stream``
# replays them in event-time order as Kafka messages, the density the
# repo's replay producer (``sources.replay.as_kafka_messages`` over the
# events table) emits.
SF01_EVENTS_PER_DAY = 1_000_000 // 10 // 30
SF01_USERS = 15_000 // 10

# ``warmup`` ops run before the measured window (the first of them, cold,
# is reported as ``session.first_op_s``); ``max_measured`` caps the ops
# (and so the generated days) a run may measure.
WORKLOADS = {
    "daily_narrow": {
        "kind": "daily", "events_per_day": SF01_EVENTS_PER_DAY, "users": SF01_USERS,
        "warmup": 3, "max_measured": 6,
    },
    "ingest_stream": {
        "kind": "ingest", "files_per_op": 4, "per_file": 64_000, "users": SF01_USERS,
        "events_per_day": SF01_EVENTS_PER_DAY, "warmup": 6, "max_measured": 40,
    },
}

# Per-layer metric names and units, as BENCHMARK.json declares them.
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    PER_LAYER = {m["name"]: m["unit"] for m in json.load(_f)["per_layer"]}


def cpu_probe() -> float:
    """Fixed-size matmul timing (the probe ``bench.py`` uses): host-speed
    context only, never used to adjust a measured number."""
    import numpy as np

    a = np.random.RandomState(0).randn(1500, 1500)
    t0 = time.perf_counter()
    for _ in range(6):
        a @ a
    return time.perf_counter() - t0


def data_files(root: str) -> dict[str, int]:
    """Data files under ``root`` (path -> bytes), skipping Spark's
    ``_``/``.`` metadata, checkpoint and staging entries."""
    found = {}
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        for f in files:
            if not f.startswith(("_", ".")):
                p = os.path.join(d, f)
                found[p] = os.path.getsize(p)
    return found


def tree_peak_rss_mb() -> float:
    """Sum of peak RSS (``VmHWM``) over this process and its descendants
    (the Spark JVM)."""
    children = defaultdict(list)
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                children[int(f.read().rsplit(")", 1)[1].split()[1])].append(int(pid))
        except OSError:
            continue
    todo, kb = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        todo.extend(children[pid])
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next((int(line.split()[1]) for line in f if line.startswith("VmHWM:")), 0)
        except OSError:
            continue
    return kb / 1024


class Daily:
    """``job daily <ds>`` day after day: ``run_daily_pipeline`` on a lake
    loaded through ``build_lake``."""

    def __init__(self, cfg: dict, work: str, seed: int):
        self.cfg = cfg
        self.input = os.path.join(work, "input")
        self.lake = os.path.join(work, "lake")
        self.out = os.path.join(work, "serving")
        self.days = gen.write_days(
            self.input, seed, cfg["warmup"] + cfg["max_measured"], cfg["events_per_day"], cfg["users"]
        )

    def load(self, spark) -> None:
        from data_engineering_user_session_analysis_spark.jobs import batch_job

        self.batch_job = batch_job
        batch_job.build_lake(spark, self.input, self.lake)

    def trace(self, spans: layers.Spans) -> None:
        from data_engineering_user_session_analysis_spark.operators import incremental_sessions

        bj = self.batch_job
        for attr in ("run_daily_pipeline", "run_incremental_sessions", "run_daily_job", "compact_closed_partition"):
            spans.wrap(bj, attr, f"jobs.{attr}")
        for attr in ("sessionize", "session_rollup", "session_rollup_full"):
            spans.wrap(bj, attr, f"operators.{attr}")
        spans.wrap(incremental_sessions, "advance_sessions", "operators.advance_sessions")

    def prepare(self, i: int) -> dict:
        return {"ds": self.days[i], "items": self.cfg["events_per_day"]}

    def op(self, spark, op: dict) -> None:
        op["report"] = self.batch_job.run_daily_pipeline(spark, self.lake, op["ds"], self.out)

    def after(self, op: dict) -> None:
        written = {}
        for table in os.listdir(self.out):
            written.update(data_files(os.path.join(self.out, table, f"ds={op['ds']}")))
        op["output_files"], op["output_bytes"] = len(written), sum(written.values())

    def check(self, op: dict) -> list[str]:
        return check.check_daily_day(
            os.path.join(self.input, "events.parquet"), self.out, op["ds"], op["report"]
        )


class Ingest:
    """Kafka-shaped JSON messages through ``read_file_stream`` ->
    ``decode_json_messages`` -> ``enrich_events`` -> ``write_lake_stream``
    (availableNow): each op releases ``files_per_op`` new message files
    and runs the query to completion, one micro-batch."""

    def __init__(self, cfg: dict, work: str, seed: int):
        self.cfg, self.seed = cfg, seed
        self.staging = os.path.join(work, "staging")
        self.inbox = os.path.join(work, "inbox")
        self.lake = os.path.join(work, "lake")
        self.checkpoint = os.path.join(work, "checkpoint")
        os.makedirs(self.inbox)

    def load(self, spark) -> None:
        from data_engineering_user_session_analysis_spark.streaming import ingest_stream

        self.ingest = ingest_stream

    def trace(self, spans: layers.Spans) -> None:
        pass

    def prepare(self, i: int) -> dict:
        k = self.cfg["files_per_op"]
        files = range(i * k, (i + 1) * k)
        expected = gen.write_messages(
            self.staging, self.seed, files, self.cfg["per_file"], self.cfg["users"], self.cfg["events_per_day"]
        )
        for f in os.listdir(self.staging):
            os.replace(os.path.join(self.staging, f), os.path.join(self.inbox, f))
        return {"items": expected["rows"], "expected": expected, "before": data_files(self.lake)}

    def op(self, spark, op: dict) -> None:
        ist = self.ingest
        raw = ist.read_file_stream(spark, self.inbox, max_files_per_trigger=self.cfg["files_per_op"])
        query = ist.write_lake_stream(
            ist.enrich_events(ist.decode_json_messages(raw)), self.lake, self.checkpoint,
            trigger_available_now=True,
        )
        query.awaitTermination()
        if query.exception() is not None:
            raise RuntimeError(f"streaming query failed: {query.exception()}")
        op["query"] = query

    def after(self, op: dict) -> None:
        query = op.pop("query")
        op["groups"].add(str(query.runId))
        op["progress"] = list(query.recentProgress)
        before = op.pop("before")
        added = {p: b for p, b in data_files(self.lake).items() if p not in before}
        op["new_files"] = sorted(added)
        op["output_files"], op["output_bytes"] = len(added), sum(added.values())

    def check(self, op: dict) -> list[str]:
        return check.check_ingest_op(op["new_files"], op["expected"])


def _isolate(work: str) -> str:
    """Keep every file the run writes inside ``work`` and pin the
    program to its own defaults at ``local[<nproc>]``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(NPROC)
    for var in ("SPARK_MASTER", "SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_DRIVER_MEM"):
        os.environ.pop(var, None)
    return tmp


def _stop_jvm(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(name: str, seed: int, seconds: float, trace: bool, work: str) -> tuple[dict, dict]:
    cfg = WORKLOADS[name]
    tmp = _isolate(work)
    cpu_probe()  # first-touch warm-up, discarded
    probe_before = cpu_probe()

    t0 = time.perf_counter()
    workload = (Daily if cfg["kind"] == "daily" else Ingest)(cfg, work, seed)
    gen_s = time.perf_counter() - t0

    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    event_log = os.path.join(work, "eventlog")
    if trace:
        os.makedirs(event_log)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
        })
    spark = None
    try:
        t_setup = time.perf_counter()
        from data_engineering_user_session_analysis_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench", **conf)
        get_spark_s = time.perf_counter() - t0
        workload.load(spark)
        setup_s = time.perf_counter() - t_setup

        spans = layers.Spans()
        if trace:
            workload.trace(spans)
        ops, measured_s, crashed = [], 0.0, 0
        for i in range(cfg["warmup"] + cfg["max_measured"]):
            if i >= cfg["warmup"] and measured_s >= seconds:
                break
            op = workload.prepare(i)
            op["groups"] = {f"perfbench-op-{i}"}
            if trace:
                spark.sparkContext.setJobGroup(f"perfbench-op-{i}", f"perfbench {name} op {i}")
            first_span = len(spans.spans)
            op["start"] = time.time()
            t0 = time.perf_counter()
            try:
                workload.op(spark, op)
            except Exception:
                traceback.print_exc()
                crashed = 1
                break
            op["wall"] = time.perf_counter() - t0
            op["end"] = time.time()
            op["spans"] = spans.fold(first_span, len(spans.spans))
            workload.after(op)
            ops.append(op)
            if i >= cfg["warmup"]:
                measured_s += op["wall"]
        peak_rss_mb = tree_peak_rss_mb()
        conf_resolved = dict(spark.sparkContext.getConf().getAll())
        conf_resolved.update(spark.conf.getAll)
        context = {
            "workload": name, "seed": seed, "seconds": seconds, "trace": int(trace),
            "nproc": NPROC, "master": spark.sparkContext.master, "spark_version": spark.version,
            "spark_conf": conf_resolved, "gen_s": gen_s, "peak_rss_mb": peak_rss_mb, "warmup_ops": cfg["warmup"],
            "op_wall_s": [op["wall"] for op in ops], "items_per_op": [op["items"] for op in ops],
        }
    finally:
        _stop_jvm(spark)

    problems, failed = [], crashed
    for op in ops:
        found = workload.check(op)
        problems += found
        failed += bool(found)
    for p in problems:
        print(f"check failed: {p}", file=sys.stderr)
    context["problems"] = problems
    context["cpu_probe_s"] = {"before": probe_before, "after": cpu_probe()}

    measured = ops[cfg["warmup"]:]
    if not measured:
        if not failed:
            raise SystemExit(f"{name}: no op measured after the {cfg['warmup']} warm-up ops")
        # An op failed before the measured window: report the failure, with no metrics.
        return {"correct": False, "attempted": len(ops) + crashed, "failed": failed, "metrics": {}}, context
    op_p50_s = statistics.median(op["wall"] for op in measured)
    if trace:
        spark_ops = layers.fold_event_log(event_log, ops)
        for op, folded in zip(ops, spark_ops):
            op["layers"] = {
                **op["spans"], **folded,
                **(layers.fold_progress(op["progress"]) if "progress" in op else {}),
                "sources.output_files": op["output_files"], "sources.output_bytes": op["output_bytes"],
            }
        values = {n: statistics.median(op["layers"].get(n, 0.0) for op in measured) for n in PER_LAYER}
        values.update({
            "session.get_spark_s": get_spark_s, "session.peak_rss_mb": peak_rss_mb,
            "session.first_op_s": ops[0]["wall"], "trace.op_p50_s": op_p50_s,
        })
        context["layers_per_op"] = [op["layers"] for op in ops]
        metrics = {n: {"value": values[n], "unit": unit} for n, unit in PER_LAYER.items()}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "op_p50_s": {"value": op_p50_s, "unit": "s"},
            "items_per_s": {
                "value": sum(op["items"] for op in measured) / sum(op["wall"] for op in measured),
                "unit": "1/s",
            },
        }
    result = {"correct": failed == 0, "attempted": len(ops) + crashed, "failed": failed, "metrics": metrics}
    return result, context


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        result, context = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print(json.dumps({"context": context}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
