"""Benchmark harness for the log-pipeline engine.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload flagship_bulk --seed 1 \\
        --seconds 4 --trace 0

One process, one client, closed loop: each op starts when the previous
one has finished. The run measures whole units (one flagship op, one
pass over the query mix) until at least ``--seconds`` have passed. The
session is ``local[4]``. The workloads are ``flagship_bulk`` and
``query_mix``. The inputs are generated from ``--seed`` inside the
repository (under ``.bench_work/``, removed at exit); a per-run record,
with spans when ``--trace 1``, is written to ``.bench_out/``. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``. See DESIGN.md beside this file.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: set-up repeats per run; ``setup_s`` uses their median
SETUP_REPS = 3
#: the whole run must end well inside the caller's 180 s limit
DEADLINE_S = 170
#: single-thread probe loop; about 0.25 s on an idle 4-core host
CPU_PROBE_ITERS = 3_000_000
DISK_PROBE_MB = 16

END_TO_END_UNITS = {
    "setup_s": "s",
    "first_run_s": "s",
    "op_latency_s.p50": "s",
    "throughput_turns_per_s": "1/s",
    "throughput_ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}

PER_LAYER_UNITS = {
    "construct.s": "s",
    "construct.py4j_calls": "count",
    "entry.to_entries_s": "s",
    "parsers.apply_s": "s",
    "parsers.py4j_calls": "count",
    "enrich.apply_s": "s",
    "router.tag_s": "s",
    "recombine.apply_s": "s",
    "catalyst.plan_s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.scan_tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.input_bytes": "bytes",
    "exec.task_skew": "ratio",
    "flagship.write_sinks_s": "s",
    "write.files": "count",
    "write.bytes": "bytes",
    "checkpoint.bucket_s": "s",
    "checkpoint.jobs_per_bucket": "count",
    "checkpoint.commit_s": "s",
    "checkpoint.resume_s": "s",
    "cache.persisted_rdds_after": "count",
    "trace.overhead_s": "s",
}


def cpu_probe() -> float:
    t0 = time.perf_counter()
    x = 0
    for i in range(CPU_PROBE_ITERS):
        x += i ^ (i >> 3)
    return time.perf_counter() - t0


def disk_probe(work: str) -> dict:
    """Write+fsync, then read back with the page cache dropped."""
    blob = os.urandom(1 << 20)
    path = os.path.join(work, "diskprobe")
    t0 = time.perf_counter()
    with open(path, "wb") as f:
        for _ in range(DISK_PROBE_MB):
            f.write(blob)
        f.flush()
        os.fsync(f.fileno())
    w = time.perf_counter() - t0
    fd = os.open(path, os.O_RDONLY)
    os.posix_fadvise(fd, 0, 0, os.POSIX_FADV_DONTNEED)
    os.close(fd)
    t0 = time.perf_counter()
    with open(path, "rb") as f:
        while f.read(1 << 22):
            pass
    r = time.perf_counter() - t0
    os.remove(path)
    return {"write_mb_s": DISK_PROBE_MB / w, "read_mb_s": DISK_PROBE_MB / r}


def probes(work: str) -> dict:
    return {"cpu_s": cpu_probe(), **disk_probe(work)}


def contaminated(start: dict, end: dict) -> bool:
    """The host was busy if the CPU probe slowed by more than 30%
    between the start and the end of the run, or disk reads slowed by
    more than half."""
    return (
        end["cpu_s"] > 1.3 * start["cpu_s"]
        or start["cpu_s"] > 1.3 * end["cpu_s"]
        or min(start["read_mb_s"], end["read_mb_s"])
        < 0.5 * max(start["read_mb_s"], end["read_mb_s"])
    )


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def tail(walls: list[float]) -> tuple[float | None, str]:
    """The highest percentile with at least ten samples beyond it: the
    11th-largest wall. Below 21 samples that percentile would not lie
    above the median, so there is no tail to report."""
    n = len(walls)
    if n < 21:
        return None, f"n/a (n={n}, a tail needs at least 21 samples)"
    return sorted(walls)[n - 11], f"p{math.floor(100 * (n - 10) / n)} (n={n})"


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM the session launched and wait for
    it: the JVM exits when its standard input closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    if gateway.proc is not None:
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


class Bench:
    """Shared state for one run: session, tracer, work dir, seed."""

    def __init__(self, spark, seed: int, work: str, trace: bool):
        from tracing import StageMetrics, Tracer

        self.spark = spark
        self.seed = seed
        self.work = work
        self.trace = trace
        self.tracer = Tracer()
        self.stage_metrics = StageMetrics(spark) if trace else None
        if trace:
            self.tracer.count_py4j(spark.sparkContext._gateway._gateway_client)

    def begin_op(self, group: str) -> str:
        self.spark.sparkContext.setJobGroup(group, group, False)
        self.tracer.op = group
        return group

    def end_op(self, op, group: str) -> None:
        if op.traced:
            op.exec = self.stage_metrics.read(group)
            op.extra["cache.persisted_rdds_after"] = len(
                self.spark.sparkContext._jsc.getPersistentRDDs()
            )

    def plan(self, df, traced: bool) -> None:
        if traced:
            with self.tracer.span("catalyst.plan"):
                df._jdf.queryExecution().executedPlan()


def per_layer(bench: Bench, ops: list, probe_ops: list, n_loop_spans: int,
              wl) -> tuple[dict[str, float], dict]:
    """Per-op means over the traced units (spans' self time, counts
    and status-store metrics), plus the tracing overhead; the
    checkpoint metrics come from the workload's layer probe, whose
    spans follow the first ``n_loop_spans``. Also returns the py4j
    round-trips of each traced construction, by op."""
    traced = [o for o in ops if o.traced]
    plain = [o for o in ops if not o.traced]
    n = max(len(traced), 1)
    bench.tracer.finish()
    spans = bench.tracer.spans[:n_loop_spans]
    probe_spans = bench.tracer.spans[n_loop_spans:]

    def self_s(name):
        return sum(s.self_s for s in spans if s.name == name) / n

    def total_s(name):
        return sum(s.end - s.start for s in spans if s.name == name) / n

    def mean(values):
        values = list(values)
        return sum(values) / len(values) if values else 0.0

    construct = [s for s in spans if s.name == "construct"]
    out = {
        "construct.s": total_s("construct"),
        "construct.py4j_calls": sum(s.py4j for s in construct) / n,
        "entry.to_entries_s": self_s("entry.to_entries"),
        "parsers.apply_s": self_s("parsers.apply"),
        "parsers.py4j_calls": sum(
            s.self_py4j for s in spans if s.name == "parsers.apply") / n,
        "enrich.apply_s": self_s("enrich.apply"),
        "router.tag_s": self_s("router.tag"),
        "recombine.apply_s": self_s("recombine.apply"),
        "catalyst.plan_s": self_s("catalyst.plan"),
        "exec.s": total_s("exec"),
        "flagship.write_sinks_s": self_s("flagship.write_sinks"),
    }
    for key in ("jobs", "stages", "tasks", "scan_tasks", "executor_run_s",
                "executor_cpu_s", "gc_s", "shuffle_write_bytes",
                "shuffle_read_bytes", "spill_bytes", "input_bytes",
                "task_skew"):
        out[f"exec.{key}"] = mean(o.exec[key] for o in traced)
    for key in ("write.files", "write.bytes", "cache.persisted_rdds_after"):
        out[key] = mean(o.extra.get(key, 0) for o in traced)
    out["checkpoint.bucket_s"] = mean(o.wall for o in probe_ops)
    out["checkpoint.jobs_per_bucket"] = mean(o.exec["jobs"] for o in probe_ops)
    out["checkpoint.commit_s"] = sum(
        s.self_s for s in probe_spans if s.name == "checkpoint.commit"
    ) / max(len(probe_ops), 1)
    out["checkpoint.resume_s"] = wl.checkpoint.resume_s
    out["trace.overhead_s"] = mean(o.wall for o in traced) - mean(o.wall for o in plain)
    py4j_by_op: dict[str, list[int]] = {}
    for s in construct:
        py4j_by_op.setdefault(s.op, []).append(s.py4j)
    return out, py4j_by_op


def run(args, work: str, out_dir: str) -> dict:
    from opentelemetry_log_collection_spark.session import get_spark
    from workloads import LAYER_TARGETS, WORKLOADS

    local = os.path.join(work, "local")
    t0 = time.perf_counter()
    spark = get_spark(
        "local[4]",
        app_name="perfbench",
        shuffle_partitions=4,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-XX:+UseParallelGC -Djava.io.tmpdir={local}",
        },
    )
    try:
        session_s = time.perf_counter() - t0
        bench = Bench(spark, args.seed, work, bool(args.trace))
        wl = WORKLOADS[args.workload](bench, args.tiny)

        # the harness writes the inputs before any timer starts; each
        # set-up repeat materialises its own copy of them
        inputs = [os.path.join(work, f"input-{r}") for r in range(SETUP_REPS)]
        wl.generate(inputs[0])
        for d in inputs[1:]:
            shutil.copytree(inputs[0], d)
        reps = []
        for d in inputs:
            t0 = time.perf_counter()
            wl.materialise(d)
            reps.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        first_run_s, cold_ops = wl.cold()
        warmup_s = time.perf_counter() - t0 - first_run_s
        setup_s = session_s + statistics.median(reps) + prepare_s + warmup_s

        # a traced run alternates untraced and traced units, so it
        # needs at least one of each for the overhead
        min_units = 2 if bench.trace else 1
        probe_start = probes(work)
        ops = []
        i = 0
        t0 = time.perf_counter()
        while i < min_units or time.perf_counter() - t0 < args.seconds:
            traced = bench.trace and i % 2 == 1
            bench.tracer.enabled = traced
            if traced:
                with bench.tracer.patched(LAYER_TARGETS):
                    ops += wl.unit(i, traced)
            else:
                ops += wl.unit(i, traced)
            bench.tracer.enabled = False
            i += 1
        measured_s = time.perf_counter() - t0
        probe_end = probes(work)
        n_loop_spans = len(bench.tracer.spans)
        probe_ops = []
        if bench.trace:
            bench.tracer.enabled = True
            with bench.tracer.patched(LAYER_TARGETS):
                probe_ops = wl.layer_probe()
            bench.tracer.enabled = False
        peak_rss = jvm_peak_rss_mb(spark)
    finally:
        stop_session(spark)

    all_ops = cold_ops + ops + probe_ops
    attempted = len(all_ops)
    failed = sum(not o.ok for o in all_ops)
    untraced = [o for o in ops if not o.traced]
    walls = [o.wall for o in untraced]
    tail_s, tail_label = tail(walls)
    end_to_end = {
        "setup_s": setup_s,
        "first_run_s": first_run_s,
        "op_latency_s.p50": statistics.median(walls),
        "throughput_turns_per_s": sum(o.rows for o in ops) / measured_s,
        "throughput_ops_per_s": len(ops) / measured_s,
        "peak_rss_mb": peak_rss,
    }
    py4j_by_op = {}
    if args.trace:
        layers, py4j_by_op = per_layer(bench, ops, probe_ops, n_loop_spans, wl)
        metrics = {k: (v, PER_LAYER_UNITS[k]) for k, v in layers.items()}
    else:
        metrics = {k: (v, END_TO_END_UNITS[k]) for k, v in end_to_end.items()}

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "tiny": args.tiny,
        "attempted": attempted, "failed": failed,
        "failed_ops_ratio": failed / attempted,
        "op_latency_s.tail": tail_s, "tail_percentile": tail_label,
        "units": i, "measured_s": measured_s,
        "samples": {"setup_s": SETUP_REPS, "first_run_s": len(cold_ops),
                    "op_latency_s.p50": len(walls)},
        "resume_s": wl.checkpoint.resume_s if probe_ops else None,
        "setup_reps_s": reps, "session_s": session_s, "prepare_s": prepare_s,
        "warmup_s": warmup_s,
        "probes": {"start": probe_start, "end": probe_end},
        "contaminated": contaminated(probe_start, probe_end),
        "end_to_end": end_to_end,
        "metrics": {k: v for k, (v, _) in metrics.items()},
        "construct_py4j_by_op": py4j_by_op,
        "ops": [
            {"name": o.name, "unit": o.unit, "wall": o.wall, "ok": o.ok,
             "traced": o.traced, "exec": o.exec, "extra": o.extra}
            for o in all_ops
        ],
    }
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, stem + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        bench.tracer.dump(os.path.join(out_dir, stem + ".spans.json"))
    return {"record": record, "metrics": metrics}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["flagship_bulk", "query_mix"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--tiny", action="store_true",
                   help="sf0.001 inputs, for the smoke test")
    args = p.parse_args(argv)

    # Everything the run writes stays inside the repository checkout.
    work_root = os.path.join(ROOT, ".bench_work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    for d in (work, os.path.join(work, "tmp"), os.path.join(work, "local"), out_dir):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_TCACHE"] = os.path.join(work, "tcache")
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    sys.path.insert(0, ROOT)

    def on_deadline(signum, frame):
        raise TimeoutError(f"benchmark run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, on_deadline)
    signal.alarm(DEADLINE_S)
    try:
        result = run(args, work, out_dir)
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(work_root)
        except OSError:
            pass  # another run still uses it

    rec = result["record"]
    for name, (value, unit) in result["metrics"].items():
        print(f"{name}: {value:.6g} {unit}")
    if rec["op_latency_s.tail"] is None:
        print(f"op_latency_s.tail: {rec['tail_percentile']}")
    else:
        print(f"op_latency_s.tail: {rec['op_latency_s.tail']:.6g} s "
              f"({rec['tail_percentile']})")
    print("samples: " + ", ".join(f"{k} n={n}" for k, n in rec["samples"].items()))
    print(f"failed_ops_ratio: {rec['failed_ops_ratio']:.6g} "
          f"({rec['failed']}/{rec['attempted']})")
    if rec["resume_s"] is not None:
        print(f"resume_s: {rec['resume_s']:.6g} s (traced checkpoint resume)")
    for op, calls in rec["construct_py4j_by_op"].items():
        print(f"construct.py4j_calls[{op}]: {calls}")
    print(f"host contaminated: {str(rec['contaminated']).lower()} "
          f"(probes {json.dumps(rec['probes'])})")
    print(json.dumps({
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in result["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
