"""Run one benchmark workload with one closed-loop client.

Run from the repository root:

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

The runner sets the deployment environment itself (Spark on every core
of the box, a driver heap that fits it, Spark scratch space and working
directory under ``.perfbench_work/`` in the checkout), sets the workload
up four times, runs an untimed warm-up that also establishes the correctness
references, then times at least one whole cycle of the workload's ops and
goes on op by op until ``--seconds`` have passed.  End-to-end latencies
are medians (Harrell-Davis) of per-op medians.  The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``).  The line before it, ``{"detail": ...}``, records the
environment, every failed op with its error, and the metrics that apply
only to some workloads.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np

from tracer import Tracer, stage_metrics
from workloads import WORKLOADS, Ctx, tree_state

SETUP_REPS = 4  # set-up is repeated and its median reported
DRIVER_MEM = "2g"  # the session default (48g) does not fit a 15 GB box
HARD_STOP_S = 120.0  # start no new op after this much wall time


def _vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def deployment_env(work: str) -> dict:
    """Set the environment the engine reads, and describe the box."""
    cpus = len(os.sched_getaffinity(0))
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {
        "nproc": cpus,
        "mem_total_mb": round(mem_kb / 1024),
        "driver_mem": DRIVER_MEM,
        "spark_master": f"local[{cpus}]",
        "loadavg_start": os.getloadavg(),
    }


class Runner:
    """Runs ops, times them, checks them and records the outcome."""

    def __init__(self, ctx, workload) -> None:
        self.ctx, self.tracer, self.workload = ctx, ctx.tracer, workload
        self.records: list[dict] = []
        self.failures: list[dict] = []

    def run(self, op, phase: str, cycle: int = 0) -> None:
        op_id = len(self.records)
        sc = self.ctx.spark.sparkContext
        group = f"perfbench-{op_id}"
        if self.tracer:
            self.tracer.op_id = op_id
            sc.setJobGroup(group, op.name)
        state = tree_state(self.workload.table_root) if op.kind == "write" else None
        error = None
        t0 = time.perf_counter()
        try:
            with self.ctx.span("op." + op.name):
                result = op.run()
            latency = time.perf_counter() - t0
            error = op.check(result)
        except Exception as exc:  # an op that raises is a failed op; keep running
            latency = time.perf_counter() - t0
            error = f"{type(exc).__name__}: {exc}".splitlines()[0][:500]
            traceback.print_exc(file=sys.stderr)
        written = _bytes_written(self.workload.table_root, state) if state is not None else 0
        if self.tracer:
            with self.tracer.span("trace.stages"):
                for key, value in stage_metrics(sc, group).items():
                    self.tracer.count("exec." + key, value)
            self.tracer.op_id = None
        rec = {"op_id": op_id, "name": op.name, "kind": op.kind, "phase": phase,
               "latency_s": latency, "error": error, "bytes_written": written,
               "user_bytes": op.user_bytes, "cycle": cycle}
        self.records.append(rec)
        if error:
            self.failures.append({"op": op.name, "phase": phase, "error": error})


def _bytes_written(root: str, before: dict) -> int:
    """Bytes of the files under ``root`` that are new or changed since
    the ``before`` snapshot."""
    return sum(size for path, (size, mtime) in tree_state(root).items() if before.get(path) != (size, mtime))


def op_medians(records) -> dict[str, float]:
    """Op name -> median latency of that op over the timed window."""
    by_op: dict[str, list[float]] = {}
    for r in records:
        by_op.setdefault(r["name"], []).append(r["latency_s"])
    return {k: statistics.median(v) for k, v in sorted(by_op.items())}


def hd_median(values) -> float:
    """Harrell-Davis estimate of the median: the mean of the sorted
    values weighted by a Beta((n+1)/2, (n+1)/2) distribution.  Over a
    mix of unlike ops the sample median jumps between the two middle
    ops; this estimate moves smoothly with every one of them."""
    x = np.sort(np.asarray(list(values), dtype=float))
    n = len(x)
    t = np.linspace(0.0, 1.0, 10_001)
    density = (t * (1.0 - t)) ** ((n - 1) / 2)
    cdf = np.concatenate(([0.0], np.cumsum(density[1:] + density[:-1])))
    weights = np.diff(np.interp(np.arange(n + 1) / n, t, cdf / cdf[-1]))
    return float(weights @ x)


def mix_p50(records) -> float:
    """Median latency of the op mix: each op's median first, so every op
    weighs the same however often it ran, then their median."""
    return hd_median(op_medians(records).values())


def end_to_end(setup_s, timed) -> dict[str, float]:
    ops = op_medians(timed)
    return {
        "setup_s": setup_s,
        "ops_per_s": len(ops) / sum(ops.values()),
        "latency_p50_s": mix_p50(timed),
        "read_p50_s": mix_p50(r for r in timed if r["kind"] == "read"),
    }


def workload_detail(workload, timed, attempted, failed) -> dict:
    """Metrics that apply only to some workloads, and the per-op view."""
    lat = [r["latency_s"] for r in timed]
    out = {"failed_op_frac": failed / attempted, "timed_ops": len(timed)}
    if len(lat) >= 100:
        out["latency_p90_s"] = float(np.percentile(lat, 90))
    writes = [r for r in timed if r["kind"] == "write"]
    if writes:
        out["write_p50_s"] = mix_p50(writes)
    if workload.storage_metrics:
        user = sum(r["user_bytes"] for r in timed)
        out["bytes_written_per_user_byte"] = sum(r["bytes_written"] for r in timed) / user
        st = workload.storage()
        out["bytes_stored_per_user_byte"] = st["stored_bytes"] / st["live_user_bytes"]
    out["op_p50_s"] = op_medians(timed)
    out["op_s"] = {}
    for r in timed:
        out["op_s"].setdefault(r["name"], []).append(r["latency_s"])
    cycle_s: dict[int, float] = {}
    for r in timed:
        cycle_s[r["cycle"]] = cycle_s.get(r["cycle"], 0.0) + r["latency_s"]
    out["cycle_s"] = [cycle_s[c] for c in sorted(cycle_s)]
    return out


def layer_metrics(tracer, timed, session_s, cores) -> dict[str, float]:
    """Per-layer metrics of the timed ops, from spans and counters."""
    ids = {r["op_id"] for r in timed}
    spans = [s for s in tracer.spans if s.op_id in ids]

    def total(key):
        return sum(tracer.counters[i].get(key, 0.0) for i in ids)

    def durations(name):
        return [s.end - s.start for s in spans if s.name == name]

    def mean(values):
        return sum(values) / len(values) if values else 0.0

    def ratio(a, b):
        return a / b if b else 0.0

    n = len(timed)
    constructs = durations("queries.construct")
    planned = total("plans.planned")
    action = sum(durations("exec.action"))
    rewrites = durations("layout.merge_upsert_files") + durations("layout.cluster_compact")
    rewrite_bytes = [r["bytes_written"] for r in timed if r["name"] in ("merge_upsert_files", "cluster_compact")]
    scan_ids = {s.op_id for s in spans if s.name == "colfile.scan"}
    out = {
        "session.start_s": session_s,
        "queries.construct_s": mean(constructs),
        "queries.py4j_calls": ratio(total("queries.construct.py4j_calls"), len(constructs)),
        "io.read_table_calls": total("io.read_table_calls") / n,
        "io.read_table_hit_frac": ratio(total("io.read_table_hits"), total("io.read_table_calls")),
        "plans.plan_s": ratio(total("plans.plan_s"), planned),
        "plans.exchanges": ratio(total("plans.exchanges"), planned),
        "plans.scans": ratio(total("plans.scans"), planned),
        "plans.python_evals": ratio(total("plans.python_evals"), planned),
        "exec.action_s": action / n,
        "exec.idle_core_frac": 1.0 - ratio(total("exec.run_s"), action * cores),
        "caching.persist_calls": total("caching.persist_calls") / n,
        "caching.persist_new_frac": ratio(total("caching.persist_new"), total("caching.persist_calls")),
        "skipping.plan_s": mean(durations("skipping.plan_skipping")),
        "skipping.files_kept_frac": ratio(total("skipping.files_kept"), total("skipping.files_total")),
        "skipping.index_update_s": mean(durations("skipping.update_stats_index")),
        "deletes.delete_s": mean(durations("deletes.delete_where")),
        "deletes.compact_s": mean(durations("deletes.compact_deletes")),
        "deletes.tombstones": ratio(total("deletes.tombstones"), len(durations("deletes.delete_where"))),
        "layout.merge_s": mean(durations("layout.merge_upsert_files")),
        "layout.cluster_s": mean(durations("layout.cluster_compact")),
        "layout.files_rewritten": ratio(total("layout.files_rewritten"), len(rewrites)),
        "layout.bytes_rewritten": mean(rewrite_bytes),
        "colfile.write_s": mean(durations("io.write_colfile")),
        "colfile.scan_s": mean(durations("colfile.scan")),
        "colfile.row_groups_read_frac": ratio(
            sum(tracer.counters[i].get("exec.first_stage_tasks", 0.0) for i in scan_ids),
            sum(tracer.counters[i].get("colfile.row_groups", 0.0) for i in scan_ids),
        ),
        "trace.latency_p50_s": mix_p50(timed),
        "trace.overhead_s": (sum(durations("trace.plan")) + sum(durations("trace.stages"))) / n,
    }
    for key in ("jobs", "stages", "tasks", "run_s", "cpu_s", "input_bytes",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        out["exec." + key] = total("exec." + key) / n
    return out


def endless_cycles(workload, ctx, rng):
    """(cycle number, op) for cycle after cycle of the workload's ops."""
    cycle = 0
    while True:
        for op in workload.cycle(ctx, rng):
            yield cycle, op
        cycle += 1


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc.stdin:
        proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("interactive", "curation", "maintenance", "colfile"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: sf0.001 / 10k-row inputs, for the benchmark's own tests")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = time.perf_counter()
    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401

        from columnar_analytics_engine_spark import session
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {root}: {exc}", file=sys.stderr)
        return 2
    if not os.path.abspath(session.__file__).startswith(os.path.join(root, "")):
        print(f"perfbench: the engine was imported from {session.__file__}, not {root}", file=sys.stderr)
        return 2

    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)  # metric names and units

    factory = WORKLOADS[args.workload][args.size == "tiny"]
    workload = factory(args.seed)
    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    env = deployment_env(work)
    env["seed"] = args.seed
    os.chdir(work)  # spark-warehouse/, derby.log and the like land here

    tracer = Tracer() if args.trace else None
    if tracer:
        tracer.install()
    ctx = Ctx(tracer)
    runner = Runner(ctx, workload)

    # set-up: one JVM launch, then the workload's set-up through the
    # engine, repeated so its median is steady.  A workload whose set-up
    # includes a session start (``restarts_session``) stops the
    # SparkContext and starts a new one in the same JVM before each
    # repetition after the first.
    t0 = time.perf_counter()
    spark = ctx.spark = session.get_spark()
    session_s = time.perf_counter() - t0
    setup_times: list[float] = []
    try:
        if tracer:
            tracer.count_py4j(spark.sparkContext._gateway._gateway_client)
        for rep in range(SETUP_REPS):
            if rep:
                shutil.rmtree(os.path.join(work, f"setup{rep - 1}"), ignore_errors=True)
            t0 = time.perf_counter()
            if workload.restarts_session and rep:
                spark.stop()
                spark = ctx.spark = session.get_spark()
            workload.setup(ctx, os.path.join(work, f"setup{rep}"))
            setup_times.append(time.perf_counter() - t0)
        setup_s = statistics.median(setup_times)

        # warm-up: untimed, establishes the references the timed ops are checked against
        rng = np.random.default_rng(args.seed)
        t0 = time.perf_counter()
        workload.prepare(ctx)
        for op in workload.warmup(ctx, rng):
            runner.run(op, "warmup")
        for _ in range(workload.warm_cycles):
            for op in workload.cycle(ctx, rng):
                runner.run(op, "warmup")
        warmup_s = time.perf_counter() - t0

        # timed window: at least one whole cycle, so every op of the mix
        # has a latency, then ops until ``--seconds`` have passed
        t0 = time.perf_counter()
        for cycle, op in endless_cycles(workload, ctx, rng):
            runner.run(op, "timed", cycle)
            now = time.perf_counter()
            if cycle and now - t0 >= args.seconds or now - t_start >= HARD_STOP_S:
                break
        window_s = time.perf_counter() - t0

        final_error = None
        try:
            final_error = workload.final_check(ctx)
        except Exception as exc:
            final_error = f"{type(exc).__name__}: {exc}".splitlines()[0][:500]
        if final_error:
            runner.failures.append({"op": "final_contents", "phase": "final", "error": final_error})

        rss_mb = _vm_hwm_mb("self") + _vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
        timed = [r for r in runner.records if r["phase"] == "timed"]
        attempted = len(runner.records) + 1  # every op, plus the final contents check
        failed = len(runner.failures)
        detail = workload_detail(workload, timed, attempted, failed)
        detail["peak_rss_mb"] = rss_mb
        if tracer:
            metrics = layer_metrics(tracer, timed, session_s, env["nproc"])
            declared = spec["per_layer"]
        else:
            metrics = end_to_end(setup_s, timed)
            declared = spec["end_to_end"]
    finally:
        stop_spark(spark)
    env["loadavg_end"] = os.getloadavg()

    detail.update({
        "workload": args.workload, "size": args.size, "trace": args.trace, "env": env,
        "cycles": cycle + 1, "window_s": window_s, "warmup_s": warmup_s,
        "session_start_s": session_s, "setup_reps_s": setup_times, "failures": runner.failures, "work_dir": work,
    })
    if tracer:
        tracer.write(os.path.join(work, "spans.json"))
        detail["spans"] = os.path.join(work, "spans.json")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in declared},
    }
    with open(os.path.join(work, "result.json"), "w") as fh:
        json.dump({"detail": detail, "result": result}, fh, indent=1)
    for entry in os.listdir(work):
        if entry not in ("result.json", "spans.json"):
            path = os.path.join(work, entry)
            shutil.rmtree(path) if os.path.isdir(path) else os.remove(path)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
