"""Feature-store pipeline benchmark: one workload, one client, closed loop.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --seed N --seconds S --trace 0|1

NAME is one of batch_etl, training_set, online_serving, aliccp_batch,
corpus_curation (``all`` runs each in its own process and prints a table).
The inputs are generated from the seed into a fresh scratch directory under
``.perfbench_run/`` at the root of the checkout, removed at the end.
Then the run starts a local Spark session on every core, registers the
sources and runs the initial fit three times (the median counts), warms up
once, releases cached blocks and streams, and runs the workload's step
until ``--seconds`` of operation time have passed (batch_etl: one cold job,
however long). Every operation's output is checked; a wrong answer is a
failed operation.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` puts a span
around every layer call, with Spark's counters attached, in set-up and in
the timed phase, and prints the per-layer metrics, including the tracing
overhead: the time the span recorder itself spent per operation.
The spans are written to ``.perfbench_out/``. The last line of standard
output is always one JSON object: correct, attempted, failed, metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAMES = ["batch_etl", "training_set", "online_serving", "aliccp_batch", "corpus_curation"]
SETUP_REPS = 3
DRIVER_MEMORY = "2g"  # fits a 15 GiB host next to other work

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "freshness_p50_ms": "ms",
    "peak_rss_mb": "MB",
}
SPAN_LAYERS = [
    "aliccp.bronze_to_silver",
    "dictionary.fit_dictionaries",
    "aliccp.silver_to_gold",
    "feature_views.get_historical_features",
    "feature_views.get_online_features",
    "streaming.run_stream_upsert",
    "text.gates",
    "dedup.exact_dedup",
    "dedup.minhash_lsh",
]
SPAN_FIELDS = {
    "build_ms": "ms", "exec_s": "s", "self_s": "s", "jobs": "count", "stages": "count",
    "tasks": "count", "executor_cpu_s": "s", "executor_run_s": "s", "gc_s": "s",
    "shuffle_write_mb": "MB",
}  # spans also carry spill_mb; nothing spills at these input sizes
LAYER_EXTRAS = {
    "aliccp.bronze_to_silver.keep_ratio": "ratio",
    "dictionary.fit_dictionaries.vocab_rows": "count",
    "writers.bytes_written_mb": "MB",
    "joins.asof.candidate_rows_per_entity": "ratio",
    "streaming.upsert.add_batch_ms": "ms",
    "streaming.upsert.wal_commit_ms": "ms",
    "streaming.upsert.commit_offsets_ms": "ms",
    "streaming.upsert.input_rows": "count",
    "streaming.online_store.bytes_written_per_event": "bytes",
    "streaming.online_store.leftover_tmp_dirs": "count",
    "dedup.minhash_lsh.candidate_pairs_per_doc": "ratio",
    "dedup.minhash_lsh.verified_ratio": "ratio",
    "dedup.minhash_lsh.planted_recall": "ratio",
    "session.tasks_per_stage": "ratio",
    "bench.op.self_s": "s",
    "tracing.overhead_ms": "ms",
    "tracing.overhead_pct": "%",
}


def per_layer_units() -> dict[str, str]:
    units = {f"{layer}.{f}": u for layer in SPAN_LAYERS for f, u in SPAN_FIELDS.items()}
    units.update(LAYER_EXTRAS)
    return units


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[*NAMES, "all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", type=float, default=1.0, help="input size factor (tests use a small one)")
    return p.parse_args(argv)


def percentile(values: list[float], q: float) -> float:
    vals = sorted(values)
    pos = (len(vals) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(vals) - 1)
    return vals[lo] + (vals[hi] - vals[lo]) * (pos - lo)


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far, from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def host_probe_ms() -> float:
    """Median time of a fixed single-threaded Python loop."""
    times = []
    for _ in range(5):
        t = time.perf_counter()
        sum(i * i for i in range(200_000))
        times.append((time.perf_counter() - t) * 1e3)
    return statistics.median(times)


class Session:
    """The run's Spark session and everything it owns: scratch directory,
    driver JVM. ``close`` stops the session, ends the JVM and waits for it,
    then removes the scratch directory."""

    def __init__(self, scratch: str):
        self.scratch = scratch
        tmp = os.path.join(scratch, "tmp")
        for d in ("tmp", "spark-local", "warehouse"):
            os.makedirs(os.path.join(scratch, d), exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
        import tempfile

        tempfile.tempdir = None
        from alibaba_cppfeaturestore_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                # The heap is reserved at its full size but its pages become
                # resident only when the JVM touches them, so the resident
                # size follows use, not when G1 decides to grow the heap.
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY}",
                "spark.sql.streaming.checkpointLocation": os.path.join(scratch, "checkpoints"),
            },
        )
        from pyspark import SparkContext

        self.gateway = SparkContext._gateway
        self.jvm_proc = getattr(self.gateway, "proc", None)

    def info(self) -> dict:
        sc = self.spark.sparkContext
        return {
            "cores": os.cpu_count(),
            "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
            "master": sc.master,
            "driver_memory": sc.getConf().get("spark.driver.memory"),
            "spark": self.spark.version,
            "java": sc._jvm.java.lang.System.getProperty("java.version"),
            "python": sys.version.split()[0],
        }

    def peak_rss_mb(self) -> float:
        rss = _hwm_mb("self")
        if self.jvm_proc is not None and self.jvm_proc.poll() is None:
            rss += _hwm_mb(self.jvm_proc.pid)
        return rss

    def release(self) -> dict:
        """Drop cached blocks and stop streams left by the warm-up."""
        from alibaba_cppfeaturestore_spark.operators.ranks import release_persisted

        released = release_persisted(blocking=True)
        self.spark.catalog.clearCache()
        streams = self.spark.streams.active
        for q in streams:
            q.stop()
        return {"released_persisted": released, "stopped_streams": len(streams)}

    def close(self) -> None:
        try:
            self.spark.stop()
            self.gateway.shutdown()
        finally:
            if self.jvm_proc is not None:
                self.jvm_proc.stdin.close()  # the gateway JVM exits on EOF
                try:
                    self.jvm_proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    self.jvm_proc.kill()
                    self.jvm_proc.wait()


def end_to_end(phase, setup_s: float, rss_mb: float) -> dict:
    return {
        "setup_s": setup_s,
        "rows_per_s": phase.rows / phase.row_seconds,
        "latency_p50_ms": statistics.median(phase.latencies_ms),
        "latency_p90_ms": percentile(phase.latencies_ms, 90),
        "freshness_p50_ms": statistics.median(phase.freshness_ms),
        "peak_rss_mb": rss_mb,
    }


def layer_metrics(tracer, wl, traced) -> dict:
    units = per_layer_units()
    out = dict.fromkeys(units, 0.0)
    by_name: dict[str, list] = {}
    for sp in tracer.spans:
        by_name.setdefault(sp.name, []).append(sp)
    for layer in SPAN_LAYERS:
        spans = by_name.get(layer, [])
        if not spans:
            continue
        for f in SPAN_FIELDS:
            vals = [getattr(sp, f) if f in ("build_ms", "exec_s", "self_s") else sp.counters.get(f, 0.0)
                    for sp in spans]
            out[f"{layer}.{f}"] = statistics.median(vals)
    ops = by_name.get("bench.op", [])
    if ops:
        out["bench.op.self_s"] = statistics.median(sp.self_s for sp in ops)
    upserts = by_name.get("streaming.run_stream_upsert", [])
    if upserts:
        for key, name in (("addBatch", "add_batch_ms"), ("walCommit", "wal_commit_ms"),
                          ("commitOffsets", "commit_offsets_ms")):
            out[f"streaming.upsert.{name}"] = statistics.median(
                sum(p["durationMs"].get(key, 0) for p in sp.attrs.get("progress", [])) for sp in upserts
            )
        out["streaming.upsert.input_rows"] = statistics.median(
            sum(p["numInputRows"] for p in sp.attrs.get("progress", [])) for sp in upserts
        )
    stages = sum(sp.counters.get("stages", 0) for sp in tracer.spans if sp.name in SPAN_LAYERS)
    tasks = sum(sp.counters.get("tasks", 0) for sp in tracer.spans if sp.name in SPAN_LAYERS)
    out["session.tasks_per_stage"] = tasks / max(stages, 1)
    out.update({k: v for k, v in wl.layer_attrs().items() if k in units})
    # the recorder's own time in the timed phase: setting job groups and
    # reading the counters back, per operation and as a share of the phase
    out["tracing.overhead_ms"] = 1e3 * tracer.own_s / len(traced.latencies_ms)
    out["tracing.overhead_pct"] = 100 * tracer.own_s / traced.seconds
    return {k: {"value": v, "unit": units[k]} for k, v in out.items()}


def run_one(args) -> int:
    try:
        import alibaba_cppfeaturestore_spark  # noqa: F401 — the program under test
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    steal_at_start = cpu_steal()
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    scratch = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    session = None
    try:
        from perfbench.spans import Tracer
        from perfbench.workloads import WORKLOADS, Step

        t_gen = time.perf_counter()
        wl = WORKLOADS[args.workload](
            None, Tracer(), os.path.join(scratch, "inputs"), os.path.join(scratch, "work"), args.seed, args.scale
        )
        wl.generate()
        gen_s = time.perf_counter() - t_gen

        session = Session(scratch)
        wl.spark = session.spark
        session_s = time.perf_counter() - START - gen_s
        # a traced run also records the set-up's layer calls
        tracer = Tracer(session.spark, counters=True) if args.trace else Tracer()
        wl.tr = tracer
        reps = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            wl.setup()
            reps.append(time.perf_counter() - t)
        wl.tr = Tracer()
        t = time.perf_counter()
        warm = wl.warmup()
        warmup_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(reps) + warmup_s
        hygiene = session.release()

        if args.trace:
            wl.tr = tracer
            tracer.own_s = 0.0
        phase = wl.measure(args.seconds)
        tracer.close()
        checked = Step().add(warm).add(phase)
        if args.trace:
            metrics = layer_metrics(tracer, wl, phase)
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.json"))
        else:
            values = end_to_end(phase, setup_s, session.peak_rss_mb())
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
        run = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "generate_s": gen_s, "session_s": session_s,
            "setup_reps_s": reps, "warmup_s": warmup_s,
            "latencies_ms": [round(x, 1) for x in phase.latencies_ms], **hygiene, **session.info(),
        }
    finally:
        if session is not None:
            session.close()
        shutil.rmtree(scratch, ignore_errors=True)
        parent = os.path.dirname(scratch)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    # The host's own speed, outside the metrics, so a change between runs
    # can be told apart from a change of the host: CPU time the hypervisor
    # gave to other guests during the run, and a fixed Python loop after it.
    steal, total = cpu_steal()
    run["cpu_steal_pct"] = 100 * (steal - steal_at_start[0]) / max(total - steal_at_start[1], 1)
    run["host_probe_ms"] = host_probe_ms()
    print(json.dumps({"run": run}))
    for name, m in metrics.items():
        if not args.trace or m["value"]:
            print(f"  {name:55s} {m['value']:14.4f} {m['unit']}")
    for err in checked.errors[:5]:
        print(f"  FAILED: {err}")
    print(f"  attempted {checked.attempted}, failed {checked.failed}, "
          f"verdict {'correct' if not checked.failed else 'WRONG'}")
    correct = checked.failed == 0 and checked.attempted > 0
    print(json.dumps({
        "correct": correct,
        "attempted": checked.attempted,
        "failed": checked.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


def run_all(args) -> int:
    """Each workload in its own process, one after another."""
    results = {}
    for name in NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace), "--scale", str(args.scale)]
        proc = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT, check=False)
        lines = proc.stdout.strip().splitlines()
        if not lines or not lines[-1].startswith('{"correct"'):
            print(f"{name}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return proc.returncode or 1
        results[name] = json.loads(lines[-1])
        print(f"== {name}")
        print("\n".join(lines[:-1]))
    print(json.dumps(results))
    return 0 if all(r["correct"] for r in results.values()) else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
