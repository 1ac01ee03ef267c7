"""Benchmark entry point.

    python3 perfbench/run.py --workload <dashboard|ingest> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. One JVM per run on local[k]
(k = min(4, nproc)); every file the run writes lives under
``.perfbench_work/`` in the checkout and is removed at exit. The last line
of stdout is the result JSON; the line before it holds the run's detail
(host state, input hashes, op count and per-kind timings).

``--trace 0`` measures the end-to-end metrics. ``--trace 1`` runs the same
ops twice in one JVM: first untraced, then with the event log on and one
span per public call, and prints the per-layer metrics plus the tracing
overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import numpy as np

CORES = 4            # local[k], capped at nproc
DRIVER_MEM = "2g"    # fits a 15 GB host next to 4 Python workers
# input size factor (default 1); the benchmark's own tests run at 0.25
SCALE_ENV = "PERFBENCH_SCALE"

END_TO_END = {  # name → unit
    "setup_s": "s", "op_p50_ms": "ms", "rows_per_s": "1/s", "mb_per_s": "MB/s",
    "bytes_per_point": "B/point", "batch_p50_ms": "ms",
}
PER_LAYER = {
    "session.get_spark_ms": "ms",
    "rollup_tiers.rollup_base_ms": "ms", "rollup_tiers.rollup_next_ms": "ms",
    "rollup_tiers.rows_1m": "count", "rollup_tiers.rows_1h": "count",
    "rollup_tiers.rows_1d": "count",
    "rollup_tiers.write_1m_ms": "ms", "rollup_tiers.write_1h_ms": "ms",
    "rollup_tiers.write_1d_ms": "ms", "rollup_tiers.commit_1m_ms": "ms",
    "rollup_tiers.commit_1h_ms": "ms", "rollup_tiers.commit_1d_ms": "ms",
    "rollup_tiers.buckets_written": "count", "rollup_tiers.files_written": "count",
    "rollup_tiers.bytes_written": "B", "rollup_tiers.lineage_files": "count",
    "rollup_tiers.read_tier_ms": "ms", "rollup_tiers.read_exec_ms": "ms",
    "rollup_tiers.files_read": "count", "rollup_tiers.rows_scanned_per_row_returned": "ratio",
    "compression.gorilla_compress_ms": "ms", "compression.points": "count",
    "compression.verified_points": "count", "compression.gorilla_decode_ms": "ms",
    "ewma.ewma_ms": "ms",
    "python.boot_ms": "ms", "python.init_ms": "ms", "python.total_ms": "ms",
    "python.data_sent_bytes": "B", "python.data_received_bytes": "B",
    "exchange.shuffle_write_bytes": "B", "exchange.shuffle_read_bytes": "B",
    "exchange.fetch_wait_ms": "ms",
    "executor.run_ms": "ms", "executor.cpu_ms": "ms", "executor.gc_ms": "ms",
    "executor.tasks": "count", "executor.task_skew": "ratio",
    "ingest.dedup_batch_ms": "ms", "ingest.first_seen_partitions_read": "count",
    "ingest.dups": "count", "ingest.rollup_batch_ms": "ms", "ingest.state_rows": "count",
    "ingest.add_batch_ms": "ms", "ingest.query_planning_ms": "ms",
    "ingest.wal_commit_ms": "ms",
    "multimodal.jpeg_mb_per_s": "MB/s", "multimodal.gif_mb_per_s": "MB/s",
    "multimodal.png_mb_per_s": "MB/s", "multimodal.bmp_mb_per_s": "MB/s",
    "multimodal.wav_mb_per_s": "MB/s", "multimodal.null_outputs": "count",
    "native_build.load_ms": "ms",
    "dashboard.read_1m_p50_ms": "ms", "dashboard.read_2h_p50_ms": "ms",
    "dashboard.read_1d_p50_ms": "ms", "dashboard.decode_p50_ms": "ms",
    "dashboard.smooth_p50_ms": "ms", "dashboard.thumbs_p50_ms": "ms",
    "backfill.op_ms": "ms", "backfill.executor_run_ms": "ms",
    "backfill.executor_cpu_ms": "ms", "backfill.shuffle_write_bytes": "B",
    "backfill.python_total_ms": "ms", "backfill.python_data_sent_bytes": "B",
    "trace.untraced_op_p50_ms": "ms", "trace.traced_op_p50_ms": "ms",
    "trace.overhead_ms": "ms", "trace.layer_sum_ms": "ms", "trace.gap_ms": "ms",
}
BACKFILL_OP = -1  # op id of the traced store backfill
# span name → per-layer self-time metric
SPAN_METRIC = {
    "rollup_tiers.rollup_base": "rollup_tiers.rollup_base_ms",
    "rollup_tiers.rollup_next": "rollup_tiers.rollup_next_ms",
    "rollup_tiers.read_tier": "rollup_tiers.read_tier_ms",
    "rollup_tiers.read_exec": "rollup_tiers.read_exec_ms",
    "compression.gorilla_compress": "compression.gorilla_compress_ms",
    "compression.gorilla_decode": "compression.gorilla_decode_ms",
    "ewma.ewma": "ewma.ewma_ms",
}
EVENT_COUNTERS = ("python.boot_ms", "python.init_ms", "python.total_ms",
                  "python.data_sent_bytes", "python.data_received_bytes",
                  "exchange.shuffle_write_bytes", "exchange.shuffle_read_bytes",
                  "exchange.fetch_wait_ms", "executor.run_ms", "executor.cpu_ms",
                  "executor.gc_ms")


def host_state() -> dict:
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            mem[k] = v.strip()
    return {"nproc": os.cpu_count(), "loadavg": os.getloadavg(),
            "mem_available": mem.get("MemAvailable")}


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=np.float64), q))


def median_present(values) -> float:
    """Median over the ops that touched a layer; 0 when none did."""
    v = [x for x in values if x]
    return float(statistics.median(v)) if v else 0.0


def start_spark(root: str, event_log: str | None = None):
    """A SparkSession whose temporary and warehouse files stay under
    ``root``; with ``event_log``, Spark's event log is written there."""
    from ezmsg_sigproc_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
        "spark.local.dir": os.path.join(root, "local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={root}/tmp",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_log,
                     "spark.eventLog.compress": "false"})
    cores = min(CORES, os.cpu_count() or 1)
    return get_spark(app_name="perfbench", cores=cores, extra_conf=conf)


def measure(wl, seconds: float, ops_log: list, progress, first_op: int) -> int:
    """Closed loop, one client: ops back to back until ``seconds`` of op
    time have been spent (at least one op). Each op is checked after its
    timer stops. Returns the next op index."""
    i = first_op
    spent = 0.0
    n0 = len(ops_log)
    while spent < seconds or len(ops_log) == n0:
        wl.tr.op = i
        n_events = len(progress.events) if progress else 0
        t0 = time.time()
        op = wl.op(i)
        t1 = time.time()
        batches = progress.since(n_events) if progress else []
        spent += t1 - t0
        err = wl.check(op)
        rec = {"i": i, "start": t0, "end": t1, "ms": (t1 - t0) * 1e3,
               "rows": op.rows, "in_bytes": op.in_bytes, "error": err,
               "bytes_per_point": wl.bytes_per_point(op) if err is None else 0.0,
               "batches": batches, "kinds": op.kinds,
               "layers": wl.layer_counts(op) if err is None else {}}
        wl.release(op)
        ops_log.append(rec)
        i += 1
    return i


def batch_ms(ops: list, workload: str) -> list:
    """Micro-batch triggerExecution times; a batch job drains its input in
    one batch, the op."""
    if workload == "ingest":
        return [b["duration"]["triggerExecution"] for o in ops for b in o["batches"]]
    return [o["ms"] for o in ops]


def end_to_end(ops: list, setup_s: float, workload: str) -> dict:
    ms = [o["ms"] for o in ops]
    secs = sum(ms) / 1e3
    vals = {
        "setup_s": setup_s,
        "op_p50_ms": pct(ms, 50),
        "rows_per_s": sum(o["rows"] for o in ops) / secs,
        "mb_per_s": sum(o["in_bytes"] for o in ops) / 1e6 / secs,
        "bytes_per_point": median_present(o["bytes_per_point"] for o in ops),
        "batch_p50_ms": pct(batch_ms(ops, workload), 50),
    }
    return {k: {"value": float(v), "unit": END_TO_END[k]} for k, v in vals.items()}


def kind_p50(ops: list) -> dict:
    """Median time per widget kind of the dashboard's page loads."""
    kinds = {k for o in ops for k in o["kinds"]}
    return {k: statistics.median(o["kinds"][k] for o in ops if k in o["kinds"])
            for k in sorted(kinds)}


def layer_table(tracer, folded: dict) -> dict:
    """Per layer (summed over the traced ops): self time, ops and every
    event-log counter — the table behind the per-layer metrics."""
    table: dict = {}
    for (name, op), ms in tracer.self_ms().items():
        row = table.setdefault(name, {"self_ms": 0.0, "ops": 0})
        row["self_ms"] += ms
        row["ops"] += 1
    for (layer, op), c in folded.items():
        row = table.setdefault(layer, {"self_ms": 0.0, "ops": 0})
        for k, v in c.items():
            row[k] = max(row.get(k, 0), v) if k == "executor.task_skew" else row.get(k, 0) + v
    return table


def per_layer(wl, ops: list, untraced: list, tracer, folded: dict, setup: dict,
              backfill: dict) -> dict:
    """Per-layer metrics of the traced ops: a self time is the median over
    the ops that called the layer; an event-log counter is the median over
    the ops that touched it of its per-op total."""
    from perfbench.workloads import MEDIA_FORMATS

    vals = {k: 0.0 for k in PER_LAYER}
    vals["session.get_spark_ms"] = setup["get_spark_ms"]
    vals["native_build.load_ms"] = setup.get("native_build_ms", 0.0)
    op_ids = [o["i"] for o in ops]
    self_ms = tracer.self_ms()
    for span, metric in SPAN_METRIC.items():
        vals[metric] = median_present(self_ms.get((span, i), 0.0)
                                      for i in op_ids + [BACKFILL_OP])
    for key in PER_LAYER:
        if key in backfill:
            vals[key] = backfill[key]
    for key in ("ingest.first_seen_partitions_read", "ingest.dups",
                "multimodal.null_outputs"):
        vals[key] = median_present(o["layers"].get(key, 0) for o in ops)

    def per_op(counter: str, op: int, layer_prefix: str = "") -> float:
        return sum(c.get(counter, 0.0) for (layer, o), c in folded.items()
                   if o == op and layer.startswith(layer_prefix))

    for k in EVENT_COUNTERS + ("executor.tasks",):
        vals[k] = median_present(per_op("tasks" if k == "executor.tasks" else k, i)
                                 for i in op_ids)
    vals["executor.task_skew"] = median_present(
        max([c.get("executor.task_skew", 0.0) for (layer, o), c in folded.items() if o == i]
            or [0.0]) for i in op_ids)
    rows = {o["i"]: o["rows"] for o in ops}
    vals["rollup_tiers.files_read"] = median_present(
        per_op("scan.files_read", i, "rollup_tiers.read") for i in op_ids)
    vals["rollup_tiers.rows_scanned_per_row_returned"] = median_present(
        per_op("scan.rows", i, "rollup_tiers.read") / max(rows[i], 1) for i in op_ids)
    if backfill:
        vals["backfill.op_ms"] = backfill["wall_ms"]
        for k in ("executor.run_ms", "executor.cpu_ms", "python.total_ms",
                  "python.data_sent_bytes"):
            vals["backfill." + k.replace(".", "_")] = per_op(k, BACKFILL_OP)
        vals["backfill.shuffle_write_bytes"] = per_op("exchange.shuffle_write_bytes",
                                                      BACKFILL_OP)
    batches = [b for o in ops for b in o["batches"]]
    if batches:
        vals["ingest.dedup_batch_ms"] = median_present(
            b["duration"].get("triggerExecution", 0) for b in batches if not b["stateful"])
        vals["ingest.rollup_batch_ms"] = median_present(
            b["duration"].get("triggerExecution", 0) for b in batches if b["stateful"])
        vals["ingest.state_rows"] = max(b["state_rows"] for b in batches)
        for key, name in (("addBatch", "ingest.add_batch_ms"),
                          ("queryPlanning", "ingest.query_planning_ms"),
                          ("walCommit", "ingest.wal_commit_ms")):
            vals[name] = median_present(b["duration"].get(key, 0) for b in batches)
    if wl.name == "dashboard":
        for fmt in MEDIA_FORMATS:
            ms = median_present(self_ms.get((f"multimodal.decode_{fmt}", i), 0.0)
                                for i in op_ids)
            vals[f"multimodal.{fmt}_mb_per_s"] = wl.fmt_bytes[fmt] / 1e3 / ms if ms else 0.0
        for kind, v in kind_p50(untraced).items():
            vals[f"dashboard.{kind}_p50_ms"] = v
    untraced_p50 = pct([o["ms"] for o in untraced], 50)
    traced_p50 = pct([o["ms"] for o in ops], 50)
    layer_sum = statistics.median(
        sum(v for (name, op), v in self_ms.items() if op == i) for i in op_ids)
    vals["trace.untraced_op_p50_ms"] = untraced_p50
    vals["trace.traced_op_p50_ms"] = traced_p50
    vals["trace.overhead_ms"] = traced_p50 - untraced_p50
    vals["trace.layer_sum_ms"] = layer_sum
    vals["trace.gap_ms"] = untraced_p50 - layer_sum
    return {k: {"value": float(v), "unit": PER_LAYER[k]} for k, v in vals.items()}


def run(workload: str, seed: int, seconds: float, trace: bool, root: str) -> tuple[dict, dict]:
    from perfbench.trace import Progress, Tracer, fold_event_log
    from perfbench.workloads import WORKLOADS

    scale = float(os.environ.get(SCALE_ENV, "1"))
    t_setup = time.time()
    spark = start_spark(root)
    setup = {"get_spark_ms": (time.time() - t_setup) * 1e3}
    wl = WORKLOADS[workload](spark, os.path.join(root, "data"), seed,
                             Tracer(spark.sparkContext, False), scale)
    t0 = time.time()
    wl.setup()
    setup["inputs_and_prebuild_s"] = time.time() - t0
    setup.update(getattr(wl, "setup_info", {}))
    progress = Progress(spark) if workload == "ingest" else None
    t0 = time.time()
    nxt = wl.warmup(0)
    setup["warmup_s"] = time.time() - t0
    setup_s = time.time() - t_setup
    untraced: list = []
    # the traced run spends half its time untraced: the overhead baseline
    budget = seconds / 2 if trace else seconds
    nxt = measure(wl, budget, untraced, progress, nxt)
    detail = {"workload": workload, "seed": seed, "trace": trace, "host": host_state(),
              "cores": min(CORES, os.cpu_count() or 1), "setup": setup,
              "input_sha256": wl.hashes, "ops": len(untraced),
              "batches": len(batch_ms(untraced, workload)),
              # too few samples per run for a bounded p90: informational
              "op_p90_ms": pct([o["ms"] for o in untraced], 90),
              "batch_p90_ms": pct(batch_ms(untraced, workload), 90),
              "kind_p50_ms": kind_p50(untraced)}
    ops = untraced
    if not trace:
        metrics = end_to_end(untraced, setup_s, workload)
    else:
        if progress:
            progress.close()
        spark.stop()
        log_dir = os.path.join(root, "eventlog")
        spark = start_spark(root, event_log=log_dir)
        tracer = Tracer(spark.sparkContext, True)
        wl.rebind(spark, tracer)
        progress = Progress(spark) if workload == "ingest" else None
        nxt = wl.warmup(nxt)
        backfill = {}
        if workload == "dashboard":  # the write path runs once, traced
            tracer.op = BACKFILL_OP
            t0 = time.time()
            bf = wl.traced_backfill()
            backfill = {"wall_ms": (time.time() - t0) * 1e3,
                        "error": wl.check_store(*bf.out)}
            if backfill["error"] is None:
                backfill.update(wl.backfill_layers(bf))
        traced: list = []
        measure(wl, budget, traced, progress, nxt)
        query_layer = {}
        for o in traced:
            for b in o["batches"]:
                query_layer[b["id"]] = "ingest.rollup" if b["stateful"] else "ingest.dedup"
        if progress:
            progress.close()
        spark.stop()
        windows = [(o["start"] * 1e3, o["end"] * 1e3, o["i"]) for o in traced]
        folded = fold_event_log(log_dir, query_layer, windows)
        ops = untraced + traced
        detail["traced_ops"] = len(traced)
        detail["spans"] = tracer.spans
        detail["layer_table"] = layer_table(tracer, folded)
        metrics = per_layer(wl, traced, untraced, tracer, folded, setup, backfill)
        if backfill.get("error"):
            ops = ops + [{"error": "traced backfill: " + backfill["error"]}]
    detail["errors"] = [o["error"] for o in ops if o["error"]][:5]
    result = {"correct": not detail["errors"], "attempted": len(ops),
              "failed": sum(1 for o in ops if o["error"]), "metrics": metrics}
    return result, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("dashboard", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    checkout = os.getcwd()
    for need in ("ezmsg_sigproc_spark", "jobs"):
        if not os.path.isdir(os.path.join(checkout, need)):
            print(f"perfbench: no {need}/ here; run from a source checkout",
                  file=sys.stderr)
            return 2
    root = os.path.join(checkout, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(root, "tmp"))
    # every temp file of this process, the JVM and the Python workers
    # (including the compiled media kernels) stays under root
    os.environ["TMPDIR"] = os.path.join(root, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # no JVM perf-data files in the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    sys.path.insert(0, checkout)
    import tempfile
    tempfile.tempdir = None
    try:
        result, detail = run(args.workload, args.seed, args.seconds,
                             bool(args.trace), root)
    finally:
        try:
            from pyspark import SparkContext
            if SparkContext._active_spark_context is not None:
                SparkContext._active_spark_context.stop()
            gw = SparkContext._gateway
            proc = getattr(gw, "proc", None)
            if gw is not None:  # close py4j (and its callback server) first
                gw.shutdown()
                SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:  # the JVM exits when its stdin closes
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        finally:
            shutil.rmtree(root, ignore_errors=True)
            parent = os.path.dirname(root)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
