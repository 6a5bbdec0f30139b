"""Validation-engine benchmark: one workload per invocation.

Usage (from the repository root):

    python3 perfbench/run.py --workload cold-validate --seed 1 --seconds 20 --trace 0

Set-up starts a local Spark session on every core, generates a seeded clip
corpus, and runs the workload's prerequisite run (which also warms the
JVM).  Operations then repeat until ``--seconds`` have passed and the
workload's ``min_ops`` have run, each checked against the corpus's planted
truth.  The
last stdout line is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` -- the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``.  ``--trace 1`` also turns on the
Spark event log, attributes every job to the benchmark's spans, runs the
layer probes and writes the spans to ``perfbench/.work/``.

Everything the benchmark writes stays under ``perfbench/.work/`` in the
checkout.  See perfbench/README.md for the metric map.
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
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(HERE, ".work")

SHUFFLE_PARTITIONS = 8
# Task time of jobs whose innermost span is one of these catch-alls is not
# attributed to a layer.
CATCH_ALL_SPANS = ("op", "setup.prereq", "probes")
PHASES = (
    "discovery",
    "wave_facts_and_row_rules",
    "wave_partition_aggs",
    "wave_ledger_digests",
    "uniqueness_and_ndv",
    "final_writes",
    "report_aggs",
)


def _isolate(work: str) -> None:
    """Keep the JVM, the Python workers and every temp file inside *work*,
    and let the workers import the engine from this checkout."""
    for sub in ("tmp", "local", "eventlog", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.driver.memory": "2g",
    }
    if trace:
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    return conf


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for every child
    process to end."""
    from pyspark import SparkContext

    from perfbench.tracing import alive, descendants

    # listed before the JVM exits: its Python workers are re-parented then
    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    for pid in kids:
        if alive(pid):
            try:
                os.kill(pid, signal.SIGTERM)
            except ProcessLookupError:
                pass
    deadline = time.monotonic() + 30
    while any(alive(p) for p in kids) and time.monotonic() < deadline:
        time.sleep(0.1)


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_pct(before: list[int], after: list[int]) -> float:
    """Share of host CPU time taken by the hypervisor between two
    /proc/stat samples (steal is the 8th field)."""
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / max(sum(d), 1)


def _runner_metrics(spans, jobs, owner, cores: int, decode_clip_s: float) -> dict[str, float]:
    """Per-operation Spark work of the runner calls in each timed op,
    with jobs and tasks split by the runner's phase windows; medians over
    the ops.  *decode_clip_s* is the decode kernel's one-thread time per
    clip, which estimates the share of the op's task time spent in it."""
    from perfbench.tracing import in_window, phase_windows

    per_op: dict[int, dict[str, float]] = {}
    runner_idx = [
        i for i, s in enumerate(spans) if s.name == "runner.run" and s.attrs["kind"] != "prereq"
    ]
    for i in runner_idx:
        s = spans[i]
        m = per_op.setdefault(s.op, {"wall": 0.0, "parts": 0, "resumed": 0, "decoded_clips": 0})
        m["wall"] += s.dur
        m["parts"] += s.attrs["partitions"]
        m["resumed"] += s.attrs["resumed"]
        m["decoded_clips"] += s.attrs["decoded_clips"]
        for p in PHASES:
            m[f"runner.phase.{p}_s"] = m.get(f"runner.phase.{p}_s", 0.0) + s.attrs[
                "phases"
            ].get(p, 0.0)
        windows = phase_windows(s, s.attrs["phases"])
        for j in jobs:
            if not _within(owner.get(j.job_id), i, spans):
                continue
            ph = in_window(j.submit, windows)
            for key, val in (
                ("runner.jobs", 1),
                ("runner.tasks", j.tasks),
                ("runner.task_failures", j.failures),
                ("runner.task_run_s", j.run_s),
                ("runner.shuffle_write_mb", j.shuffle_write / 2**20),
                ("runner.spill_mb", j.spill / 2**20),
                (f"runner.phase.{ph}.jobs", 1),
                (f"runner.phase.{ph}.tasks", j.tasks),
            ):
                m[key] = m.get(key, 0) + val
    for m in per_op.values():
        m["runner.slot_util"] = m.get("runner.task_run_s", 0.0) / (m["wall"] * cores)
        m["ledger.skipped_share"] = m["resumed"] / max(m["parts"], 1)
        m["audio.decode_task_share"] = (
            decode_clip_s * m["decoded_clips"] / max(m.get("runner.task_run_s", 0.0), 1e-9)
        )
    keys = ["runner.jobs", "runner.tasks", "runner.task_failures", "runner.task_run_s",
            "runner.slot_util", "runner.shuffle_write_mb", "runner.spill_mb",
            "ledger.skipped_share", "audio.decode_task_share"]
    keys += [f"runner.phase.{p}_s" for p in PHASES]
    keys += [f"runner.phase.{p}.{k}" for p in PHASES for k in ("jobs", "tasks")]
    return {k: statistics.median(m.get(k, 0) for m in per_op.values()) for k in keys}


def _within(idx: int | None, ancestor: int, spans) -> bool:
    while idx is not None:
        if idx == ancestor:
            return True
        idx = spans[idx].parent
    return False


def bench(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    work = os.path.join(WORK_ROOT, f"{workload}-{seed}-{os.getpid()}")
    try:
        _isolate(work)
        return _bench(work, workload, seed, seconds, trace)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _bench(work: str, workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from codeclone_spark.session import get_spark

    from perfbench import inputs
    from perfbench.tracing import RssSampler, Tracer
    from perfbench.workloads import WORKLOADS, Context

    wl = WORKLOADS[workload]()
    cores = len(os.sched_getaffinity(0))
    tracer = Tracer()
    ops = []
    probe_metrics: dict[str, float] = {}
    probe_errors: list[str] = []
    errors: list[str] = []
    with RssSampler() as rss:
        with tracer.span("session.start") as s_sess:
            spark = get_spark(
                app_name=f"perfbench-{workload}",
                cores=cores,
                shuffle_partitions=SHUFFLE_PARTITIONS,
                extra_conf=_spark_conf(work, trace),
            )
            spark.sparkContext.setLogLevel("ERROR")
        try:
            data_dir = os.path.join(work, "data")
            with tracer.span("synth.generate") as s_gen:
                manifest = inputs.generate_corpus(data_dir, seed)
            ctx = Context(spark, tracer, work, data_dir, manifest, seed)
            with tracer.span("setup.prereq") as s_pre:
                wl.prepare(ctx)
            setup_s = s_sess.dur + s_gen.dur + s_pre.dur

            deadline = time.monotonic() + seconds
            while len(ops) < wl.min_ops or time.monotonic() < deadline:
                cpu0 = _cpu_times()
                op = wl.op(ctx, len(ops))
                op.steal_pct = _steal_pct(cpu0, _cpu_times())
                ops.append(op)
                errors += op.errors
                shutil.rmtree(os.path.join(work, "ops", f"op{len(ops) - 1}"))
            ops_peak_rss = rss.peak
            if trace:
                from perfbench.probes import run_probes

                with tracer.span("probes"):
                    probe_metrics, probe_errors = run_probes(ctx, os.path.join(work, "probes"))
                errors += probe_errors
        finally:
            _stop_spark(spark)
    failed_ops = sum(1 for op in ops if op.errors)
    detail = {
        "workload": workload,
        "seed": seed,
        "clips": ctx.clips,
        "cpus": cores,
        "run_digest": ctx.ref_digest[:16],
        "setup": {
            "session_s": round(s_sess.dur, 3),
            "generate_s": round(s_gen.dur, 3),
            "prereq_s": round(s_pre.dur, 3),
        },
        "ops": len(ops),
        "op_s": [round(op.wall_s, 3) for op in ops],
        "steal_pct": [round(op.steal_pct, 1) for op in ops],
        "peak_rss_mb": round(ops_peak_rss / 2**20, 1),
    }
    for key in ops[0].parts_s:
        detail[f"{key} (median)"] = statistics.median(op.parts_s[key] for op in ops)
    if errors:
        detail["errors"] = errors[:20]
    print(json.dumps(detail), flush=True)

    op_s = statistics.median(op.wall_s for op in ops)
    if not trace:
        values = {
            "setup_s": setup_s,
            "op_s": op_s,
            "out_bytes_per_clip": statistics.median(op.out_bytes for op in ops) / ctx.clips,
        }
    else:
        probe_metrics["process.peak_rss_mb"] = ops_peak_rss / 2**20
        values = _layer_metrics(tracer, work, cores, probe_metrics, s_sess.dur, s_gen.dur, op_s)
    units = declared_units(trace)
    if set(values) != set(units):
        raise RuntimeError(
            f"metrics differ from BENCHMARK.json: missing {sorted(set(units) - set(values))},"
            f" undeclared {sorted(set(values) - set(units))}"
        )
    return {
        "correct": not errors,
        "attempted": len(ops) + int(trace),
        "failed": failed_ops + int(bool(probe_errors)),
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }


def declared_units(trace: bool) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def _layer_metrics(tracer, work, cores, probe_metrics, session_s, gen_s, op_s):
    from perfbench.tracing import attribute, parse_event_log

    logs = [
        os.path.join(work, "eventlog", f) for f in os.listdir(os.path.join(work, "eventlog"))
    ]
    jobs = parse_event_log(logs[0])
    owner = attribute(jobs, tracer.spans)
    total = sum(j.run_s for j in jobs)
    named = sum(
        j.run_s
        for j in jobs
        if owner[j.job_id] is not None and tracer.spans[owner[j.job_id]].name not in CATCH_ALL_SPANS
    )
    tracer.write(os.path.join(WORK_ROOT, f"spans-{os.path.basename(work)}.json"))
    return {
        "session.start_s": session_s,
        "synth.generate_s": gen_s,
        **probe_metrics,
        **_runner_metrics(
            tracer.spans, jobs, owner, cores, probe_metrics["audio.decode_ms_per_clip"] / 1000.0
        ),
        "trace.op_s": op_s,
        "trace.attributed_share": named / total if total else 1.0,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    try:
        import codeclone_spark  # noqa: F401  (the engine must be in the checkout)
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    try:
        result = bench(args.workload, args.seed, args.seconds, bool(args.trace))
    except Exception:
        traceback.print_exc()
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
