#!/usr/bin/env python3
"""Benchmark of onetl_spark: one workload, one seed, one Spark driver.

    python3 perfbench/run.py --workload jdbc_incremental --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run starts Spark ``local[2]``,
generates the workload's inputs from the seed, warms every op shape up,
times ops through the public API of ``onetl_spark`` for ``--seconds``, checks
the outputs, and prints one JSON object as the last line of stdout:

- ``--trace 0``: the end-to-end metrics (see BENCHMARK.json);
- ``--trace 1``: the per-layer metrics, from wrappers around public calls
  (``tracer.py``); ops alternate traced and untraced so the run also reports
  its own tracing overhead.

Every run writes a run record (and, when traced, its spans) under
``.perfbench/runs/`` in the checkout. See NOTES.md for the design.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from statistics import median  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

MASTER = "local[2]"
SETUP_REPS = 3
RUN_CAP_S = 150  # stop timing ops past this, whatever --seconds says

# bench.py's session, with half the cores, a fixed heap and no console
# progress output
SESSION_CONF = {
    "spark.sql.shuffle.partitions": "8",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.memory": "2g",
}

UNITS = {"setup_s": "s", "ok_ratio": "ratio", "op_p50_s": "s", "op_tail_s": "s", "rows_per_s": "rows/s", "query_geomean_s": "s"}

# per-layer metrics: timings are medians per traced op, in seconds
SPAN_METRICS = {
    "connections.minmax_s": "connections.minmax",
    "connections.read_plan_s": "connections.read_plan",
    "db.reader_run_s": "db.reader_run",
    "db.writer_run_s": "db.writer_run",
    "metrics.recorder_s": "metrics.recorder",
    "hwm.store_get_s": "hwm.store_get",
    "hwm.store_set_s": "hwm.store_set",
    "strategy.exit_s": "strategy.exit",
    "file.transfer.view_files_s": "file.transfer.view_files",
    "file.transfer.run_s": "file.transfer.run",
    "file.transfer.copy_s": "self.file.transfer.run",
    "file.reader_build_s": "file.reader_build",
    "operators.build_s": "operators.build",
    "operators.exec_s": "operators.exec",
    "self.db.reader_run_s": "self.db.reader_run",
    "self.db.writer_run_s": "self.db.writer_run",
    "self.strategy.exit_s": "self.strategy.exit",
    "self.file.transfer.view_files_s": "self.file.transfer.view_files",
    "self.operators.build_s": "self.operators.build",
    "self.operators.exec_s": "self.operators.exec",
}
# counts: means over the leading traced ops, which repeat exactly per seed
COUNT_METRICS = [
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.build_jobs",
    "hwm.store_calls",
    "hwm.store_bytes",
    "hwm.tracked_files",
    "file.transfer.files_examined",
    "file.transfer.files_selected",
    "metrics.executions_retained",
    "rows.per_op",
]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def loadavg() -> str:
    with open("/proc/loadavg") as f:
        return f.read().strip()


def build_spark(work: str):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.master(MASTER).appName("perfbench")
    for key, value in session_conf(work).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def session_conf(work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    return {
        **SESSION_CONF,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.stream.error.file={os.path.join(work, 'derby.log')}"
        ),
    }


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM it started has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)


def tail(times: list[float]) -> tuple[float, int]:
    """The highest percentile with at least 10 samples beyond it: the 11th
    largest value, and that percentile (floored)."""
    ordered = sorted(times)
    n = len(ordered)
    if n <= 10:
        return ordered[-1], 100
    return ordered[n - 11], (100 * (n - 10)) // n


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def end_to_end(ops, setup_s, failed_ops) -> tuple[dict, dict]:
    times = [o["s"] for o in ops]
    ok = [o for o in ops if o["ok"] and o["i"] not in failed_ops]
    by_kind: dict[str, list[float]] = {}
    for o in ops:
        by_kind.setdefault(o["kind"], []).append(o["s"])
    tail_s, tail_pct = tail(times)
    values = {
        "setup_s": setup_s,
        "ok_ratio": len(ok) / len(ops),
        "op_p50_s": median(times),
        "op_tail_s": tail_s,
        "rows_per_s": sum(o["rows"] for o in ok) / sum(times),
        "query_geomean_s": geomean([median(v) for v in by_kind.values()]),
    }
    notes = {"op_tail_percentile": tail_pct, "op_count": len(times), "kinds": len(by_kind)}
    return values, notes


def per_layer(ops, tracer, wl) -> dict:
    from tracer import median_of

    traced = [o for o in ops if o["traced"]]
    untraced = [o for o in ops if not o["traced"]]
    spans = tracer.per_op_times()
    values = {}
    for metric, key in SPAN_METRICS.items():
        values[metric] = median_of(spans[o["i"]].get(key, 0.0) for o in traced)
    leading = traced[: wl.count_ops]
    for metric in COUNT_METRICS:
        values[metric] = sum(tracer.counts[o["i"]].get(metric, 0) for o in leading) / len(leading)
    examined = sum(tracer.counts[o["i"]].get("file.transfer.files_examined", 0) for o in traced)
    selected = sum(tracer.counts[o["i"]].get("file.transfer.files_selected", 0) for o in traced)
    values["file.transfer.select_ratio"] = selected / examined if examined else 0.0
    values["trace.op_p50_s"] = median_of(o["s"] for o in traced)
    # per op kind, traced minus untraced median; then the median over kinds
    kinds = {o["kind"] for o in ops}
    values["trace.overhead_s"] = median_of(
        median_of(o["s"] for o in traced if o["kind"] == k) - median_of(o["s"] for o in untraced if o["kind"] == k)
        for k in kinds
    )
    values["trace.unattributed_s"] = median_of(o["s"] - spans[o["i"]].get("top_level", 0.0) for o in traced)
    values["trace.attributed_share"] = median_of(spans[o["i"]].get("top_level", 0.0) / o["s"] for o in traced)
    return values


def main(argv) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "onetl_spark", "__init__.py")):
        print(f"perfbench: no onetl_spark package under {ROOT}; run from a checkout root", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    from tracer import Tracer

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "work", args.workload)
    runs = os.path.join(base, "runs")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(runs, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "master": MASTER,
        "session": session_conf(work),
        "loadavg_start": loadavg(),
    }

    spark = build_spark(work)
    tracer = Tracer(spark)
    wl = None
    try:
        record["jvm_s"] = time.perf_counter() - T0
        if args.trace:
            tracer.install()
        wl = WORKLOADS[args.workload](spark, work, args.seed, ROOT, tracer)
        gen_times = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            wl.generate(rep)
            gen_times.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warm_up()
        record["generate_s"] = gen_times
        record["warm_up_s"] = time.perf_counter() - t
        setup_s = record["jvm_s"] + median(gen_times) + record["warm_up_s"]

        sc = spark.sparkContext
        status = spark._jsparkSession.sharedState().statusStore()
        ops = []
        deadline = time.perf_counter() + args.seconds
        i = 0
        while True:
            wl.prepare(i)
            if i == 0:
                record["input_first"] = wl.input_size()
                record["executions_retained_first"] = status.executionsList().size()
            group = f"perfbench-op-{i}"
            sc.setJobGroup(group, f"perfbench op {i}")
            traced = bool(args.trace) and wl.traced(i)
            if traced:
                tracer.begin_op(i, group)
            kind = wl.kind(i)
            t = time.perf_counter()
            try:
                rows, ok = wl.op(i), True
            except Exception:
                traceback.print_exc()
                rows, ok = 0, False
            elapsed = time.perf_counter() - t
            if traced:
                tracer.end_op()
                tracer.counts[i].update(wl.layer_counts())
                tracer.counts[i]["rows.per_op"] = rows
            sc.setJobGroup("perfbench-idle", "between ops")
            wl.after_op(i)
            ops.append({"i": i, "kind": kind, "s": elapsed, "ok": ok, "rows": rows, "traced": traced})
            i += 1
            now = time.perf_counter()
            if now - T0 > RUN_CAP_S or not wl.more(i, now >= deadline):
                break
        record["input_last"] = wl.input_size()
        record["executions_retained_last"] = status.executionsList().size()

        failed_ops, record["check"] = wl.check(len(ops))
        values, record["end_to_end_notes"] = end_to_end(ops, setup_s, failed_ops)
        record["end_to_end"] = values
        if args.trace:
            tracer.uninstall()
            values = per_layer(ops, tracer, wl)
            record["per_layer"] = values
        record["ops"] = ops
    finally:
        if wl is not None:
            wl.close()
        tracer.uninstall()
        stop_spark(spark)
        record["loadavg_end"] = loadavg()
        stem = os.path.join(runs, f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}")
        with open(stem + ".json", "w") as f:
            json.dump(record, f, indent=1, default=str)
        if args.trace:
            tracer.dump(stem + "-spans.jsonl")
        print(f"perfbench: run record {stem}.json", file=sys.stderr)

    ok_count = sum(1 for o in ops if o["ok"] and o["i"] not in failed_ops)
    result = {
        "correct": ok_count == len(ops),
        "attempted": len(ops),
        "failed": len(ops) - ok_count,
        "metrics": {
            name: {"value": value, "unit": UNITS.get(name) or unit_of(name)}
            for name, value in values.items()
        },
    }
    print(json.dumps(result))
    return 0


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_ratio", "_share")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
