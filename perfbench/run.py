#!/usr/bin/env python3
"""Layered benchmark of the Cassandra log analyzer.

Usage (from the repository root):

    python3 perfbench/run.py --workload paste_session --seed 1 \\
        --seconds 24 --trace 0
    python3 perfbench/run.py --survey     # registry build-time survey
    python3 perfbench/run.py --defects    # known defects of the MCP path

Workloads (see ``workloads.py``):

- ``paste_session``: an operator's MCP session over a small pasted
  store; per-call fixed overhead dominates.
- ``registry_slate``: passes over a fixed slate of registry log
  queries and streaming bridges on a generated events table.

One process, one closed-loop client, ``local[<cores>]``. Inputs are
generated from ``--seed`` before Spark starts. The run sets up (session
start plus a warm-up pass), then runs the passes that fill
``--seconds`` at the workload's nominal pass time and checks every
operation's output. With ``--trace 1`` the run measures three passes
of the same plan, the middle one traced, and reports per-layer metrics
instead of the end-to-end ones, with the tracing overhead.

Human-readable lines go to standard output first; the last line is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. All
files the run writes stay under ``perfbench/.work`` in the checkout.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "cassandra_log_analyzer_mcp_spark"
sys.path.insert(0, HERE)

#: end-to-end metrics: name -> (unit, better)
E2E = {
    "setup_s": ("s", "lower"),
    "op_p50_ms": ("ms", "lower"),
    "pass_s": ("s", "lower"),
    "cached_mb": ("MB", "lower"),
}
#: tool name -> the api function whose span times it
_TOOL_SPANS = {
    "analyze_cluster": "api.analyze_cluster_report",
    "search_logs": "api.search_report",
    "get_errors": "api.errors_report",
    "compare_nodes": "api.compare_report",
    "detect_issues": "api.issues_report",
    "cluster_health": "api.health_report",
    "nodes": "api.LogStore.nodes",
}
#: per-layer metrics: name -> (unit, better)
PER_LAYER = {
    "session.get_spark_s": ("s", "lower"),
    "api.add_pasted_ms": ("ms", "lower"),
    "api.flagged_ms": ("ms", "lower"),
    "api.flagged_cache_hit_frac": ("ratio", "higher"),
    **{f"api.{t}_ms": ("ms", "lower") for t in _TOOL_SPANS},
    "sources.logfiles.read_log_dir_ms": ("ms", "lower"),
    "sources.tables.logs_flagged_ms": ("ms", "lower"),
    "sources.tables.silver_hit_frac": ("ratio", "higher"),
    "functions.parsing.build_ms": ("ms", "lower"),
    "functions.parsing.lines_in": ("count", "higher"),
    "functions.parsing.lines_parsed": ("count", "higher"),
    "functions.parsing.lines_rejected": ("count", "lower"),
    "operators.analysis.build_ms": ("ms", "lower"),
    "plans.registry.build_s": ("s", "lower"),
    "spark.catalyst.analysis_ms": ("ms", "lower"),
    "spark.catalyst.optimization_ms": ("ms", "lower"),
    "spark.catalyst.planning_ms": ("ms", "lower"),
    "spark.exec.action_s": ("s", "lower"),
    "spark.exec.task_run_s": ("s", "lower"),
    "spark.exec.task_cpu_s": ("s", "lower"),
    "spark.exec.driver_gap_s": ("s", "lower"),
    "spark.exec.jobs": ("count", "lower"),
    "spark.exec.stages": ("count", "lower"),
    "spark.exec.tasks": ("count", "lower"),
    "spark.exec.input_bytes": ("B", "lower"),
    "spark.exec.shuffle_write_bytes": ("B", "lower"),
    "spark.exec.spill_bytes": ("B", "lower"),
    "py4j.calls": ("count", "lower"),
    "streaming.batch_bridge.wall_s": ("s", "lower"),
    "streaming.batch_bridge.batches": ("count", "lower"),
    "streaming.batch_bridge.batch_s": ("s", "lower"),
    "streaming.batch_bridge.outside_batch_s": ("s", "lower"),
    "streaming.batch_bridge.input_rows": ("count", "higher"),
    "streaming.batch_bridge.state_rows": ("count", "lower"),
    "spark.storage.cached_mb": ("MB", "lower"),
    "spark.storage.cached_blocks": ("count", "lower"),
    "trace.overhead_frac": ("ratio", "lower"),
}
#: a run whose spin calibration drifts more than this is flagged
SPIN_DRIFT = 1.5
#: a run in which the hypervisor held the CPUs for other guests more
#: than this share of the time is flagged
STEAL_MAX = 0.05


# ---------------------------------------------------------------------------
# Host-contention sentinel and statistics.
# ---------------------------------------------------------------------------

def spin_s() -> float:
    """Fixed pure-Python integer loop, timed: a loaded host stretches
    it as it stretches the measured work. Five rounds of 400,000
    steps, scaled to 2,000,000; the fastest round counts, so one
    preemption does not read as drift while a slower host still does."""
    best = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        x = 1
        for _ in range(400_000):
            x = (x * 1103515245 + 12345) & 0xFFFFFFFF
        if not x:
            raise RuntimeError("unreachable")
        best = min(best, time.perf_counter() - t0)
    return 5 * best


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot. Steal is time a virtual CPU
    had work but the hypervisor ran another guest; a contention burst
    shorter than a run shows here and can miss both spin timings."""
    with open("/proc/stat") as fh:
        ticks = [int(v) for v in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def sentinel() -> dict:
    with open("/proc/loadavg") as fh:
        load = [float(v) for v in fh.read().split()[:3]]
    return {"loadavg": load, "spin_s": spin_s(), "ticks": cpu_ticks()}


def tail(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value): the highest percentile with at least ten
    samples beyond it, or None with ten samples or fewer."""
    n = len(values)
    if n <= 10:
        return None
    return 100.0 * (n - 10) / n, sorted(values)[n - 11]


def mean(values) -> float:
    values = list(values)
    return statistics.fmean(values) if values else 0.0


# ---------------------------------------------------------------------------
# Metrics.
# ---------------------------------------------------------------------------

def e2e_metrics(wl, setup_s: float) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "op_p50_ms": statistics.median(op.ms for op in wl.ops),
        "pass_s": statistics.median(wl.pass_s),
        "cached_mb": statistics.median(mb for mb, _ in wl.cached),
    }


def layer_metrics(tracer, wl, get_spark_s: float, counts: dict,
                  overhead: float) -> tuple[dict, list[str]]:
    """Per-layer metrics of the traced window, and the per-operation
    build / plan / execute table."""
    from tracing import union_length

    spans, ops = tracer.spans, tracer.ops
    n_ops = len(ops)
    stage = tracer.stage_metrics()

    def span_ms(name):
        return 1e3 * mean(s.dur for s in spans if s.name == name)

    def self_s(layer, op=None):
        return sum(s.dur - s.children_s for s in spans
                   if s.layer == layer and (op is None or s.op == op))

    def per_op(key):
        return mean(stage[o.sid][key] for o in ops)

    def hit_frac(name):
        hits = [h for n, h in tracer.cache_hits if n == name]
        return sum(hits) / len(hits) if hits else 0.0

    def phase(op, key):
        return sum(p[key] for p in tracer.phases.get(op.sid, {}).values())

    action = {o.sid: self_s("spark.exec", o.sid) for o in ops}
    gap = [max(0.0, action[o.sid] - union_length(stage[o.sid]["intervals"]))
           for o in ops]
    bridges = [o for o in ops if o.name.startswith("streaming_")]

    def bridge(fn):
        return mean(fn(o, tracer.progress.get(o.sid, [])) for o in bridges)

    def state_rows(events):
        last = {}
        for e in events:
            last[e["run"]] = e["state_rows"]
        return sum(last.values())

    m = {
        "session.get_spark_s": get_spark_s,
        "api.add_pasted_ms": span_ms("api.LogStore.add_pasted"),
        "api.flagged_ms": span_ms("api.LogStore.flagged"),
        "api.flagged_cache_hit_frac": hit_frac("api.LogStore.flagged"),
        **{f"api.{t}_ms": span_ms(s) for t, s in _TOOL_SPANS.items()},
        "sources.logfiles.read_log_dir_ms":
            span_ms("sources.logfiles.read_log_dir"),
        "sources.tables.logs_flagged_ms":
            span_ms("sources.tables.logs_flagged"),
        "sources.tables.silver_hit_frac":
            hit_frac("sources.tables.logs_flagged"),
        "functions.parsing.build_ms":
            1e3 * self_s("functions.parsing") / n_ops,
        **{f"functions.parsing.{k}": v for k, v in counts.items()},
        "operators.analysis.build_ms":
            1e3 * self_s("operators.analysis") / n_ops,
        "plans.registry.build_s":
            mean(s.dur for s in spans if s.layer == "plans.registry"),
        "spark.catalyst.analysis_ms": mean(phase(o, "analysis") for o in ops),
        "spark.catalyst.optimization_ms":
            mean(phase(o, "optimization") for o in ops),
        "spark.catalyst.planning_ms": mean(phase(o, "planning") for o in ops),
        "spark.exec.action_s": mean(action.values()),
        "spark.exec.task_run_s": per_op("task_run_s"),
        "spark.exec.task_cpu_s": per_op("task_cpu_s"),
        "spark.exec.driver_gap_s": mean(gap),
        "spark.exec.jobs": per_op("jobs"),
        "spark.exec.stages": per_op("stages"),
        "spark.exec.tasks": per_op("tasks"),
        "spark.exec.input_bytes": per_op("input_bytes"),
        "spark.exec.shuffle_write_bytes": per_op("shuffle_write_bytes"),
        "spark.exec.spill_bytes": per_op("spill_bytes"),
        "py4j.calls": mean(o.py4j for o in ops),
        "streaming.batch_bridge.wall_s": bridge(lambda o, ev: o.dur),
        "streaming.batch_bridge.batches": bridge(lambda o, ev: len(ev)),
        "streaming.batch_bridge.batch_s":
            bridge(lambda o, ev: sum(e["batch_ms"] for e in ev) / 1e3),
        "streaming.batch_bridge.outside_batch_s": bridge(
            lambda o, ev: o.dur - sum(e["batch_ms"] for e in ev) / 1e3),
        "streaming.batch_bridge.input_rows":
            bridge(lambda o, ev: sum(e["input_rows"] for e in ev)),
        "streaming.batch_bridge.state_rows":
            bridge(lambda o, ev: state_rows(ev)),
        "spark.storage.cached_mb": wl.cached[-1][0],
        "spark.storage.cached_blocks": wl.cached[-1][1],
        "trace.overhead_frac": overhead,
    }

    # per-operation build / plan / execute, by operation name
    rows: dict[str, list] = {}
    for o in ops:
        act = action[o.sid]
        opt_plan = (phase(o, "optimization") + phase(o, "planning")) / 1e3
        rows.setdefault(o.name, []).append((
            o.dur, o.dur - act,
            (phase(o, "analysis") / 1e3) + opt_plan,
            max(0.0, act - opt_plan), o.py4j, stage[o.sid]["jobs"]))
    table = ["per operation (medians): wall_ms build_ms plan_ms exec_ms "
             "py4j_calls jobs  [build = wall minus Spark actions; plan = "
             "Catalyst analysis+optimization+planning; exec = actions minus "
             "optimization+planning]"]
    for name, rs in sorted(rows.items(), key=lambda kv: -sum(r[0] for r in kv[1])):
        med = [statistics.median(r[i] for r in rs) for i in range(6)]
        table.append(
            f"  {name:32s} n={len(rs):3d} {1e3 * med[0]:9.1f} "
            f"{1e3 * med[1]:9.1f} {1e3 * med[2]:8.1f} {1e3 * med[3]:8.1f} "
            f"{med[4]:8.0f} {med[5]:5.0f}")
    return m, table


# ---------------------------------------------------------------------------
# Run.
# ---------------------------------------------------------------------------

def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Keep every file the run (and the JVM and Python workers it
    starts) writes inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
        "-XX:-UsePerfData")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark():
    from cassandra_log_analyzer_mcp_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{cores()}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, work: str, emit) -> dict:
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](args.seed, work)
    s0 = sentinel()
    wl.prepare()

    t0 = time.perf_counter()
    spark = start_spark()
    get_spark_s = time.perf_counter() - t0
    try:
        wl.setup(spark)
        setup_s = time.perf_counter() - t0
        if args.trace:
            metrics, table = traced_window(spark, wl, args, work,
                                           get_spark_s)
        else:
            wl.run(spark, args.seconds)
            table = []
        untraced = e2e_metrics(wl, setup_s)
        if not args.trace:
            metrics = untraced
        ops, passes = wl.ops, wl.pass_s
    finally:
        stop_spark(spark)
    s1 = sentinel()

    failed = [op for op in ops if op.fail]
    by_kind: dict[str, int] = {}
    for op in failed:
        by_kind[op.fail[0]] = by_kind.get(op.fail[0], 0) + 1
    drift = max(s1["spin_s"], s0["spin_s"]) / min(s1["spin_s"], s0["spin_s"])
    steal = ((s1["ticks"][0] - s0["ticks"][0])
             / max(1, s1["ticks"][1] - s0["ticks"][1]))

    emit(f"perfbench workload={args.workload} seed={args.seed} "
         f"seconds={args.seconds} trace={args.trace} cores={cores()}")
    emit(f"setup_s={untraced['setup_s']:.3f} (session start "
         f"{get_spark_s:.3f} s) pass_s={untraced['pass_s']:.3f} (passes: "
         + " ".join(f"{p:.3f}" for p in passes)
         + f") cached_mb={untraced['cached_mb']:.3f}")
    names = sorted({op.name for op in ops})
    for name in names:
        ms = [op.ms for op in ops if op.name == name]
        nf = sum(1 for op in ops if op.name == name and op.fail)
        emit(f"  op {name:32s} n={len(ms):3d} p50_ms="
             f"{statistics.median(ms):9.2f} min_ms={min(ms):9.2f} "
             f"max_ms={max(ms):9.2f} failed={nf}")
    t = tail([op.ms for op in ops])
    emit("op tail: " + (f"p{t[0]:.1f} = {t[1]:.2f} ms over "
                        f"{len(ops)} operations" if t else
                        f"n/a ({len(ops)} operations, need more than 10)"))
    emit(f"failed_frac={len(failed) / len(ops):.4f} "
         f"({len(failed)} of {len(ops)}; "
         + ", ".join(f"{k} {v}" for k, v in sorted(by_kind.items()))
         + ")")
    for op in failed[:5]:
        emit(f"  failed {op.name}: {op.fail[0]}: {op.fail[1]}")
    emit(f"sentinel start={json.dumps(s0)} end={json.dumps(s1)} "
         f"spin_drift={drift:.3f} steal={steal:.3f} "
         f"flagged={drift > SPIN_DRIFT or steal > STEAL_MAX}")
    for line in table:
        emit(line)
    declared = PER_LAYER if args.trace else E2E
    return {
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": metrics[k], "unit": declared[k][0]}
                    for k in declared},
    }


def traced_window(spark, wl, args, work, get_spark_s):
    """The measured window with the middle of its three passes traced;
    per-layer metrics from the traced pass, and the tracing overhead."""
    from tracing import Tracer

    tracer = Tracer(spark)
    tracer.install()
    traced = wl.run(spark, args.seconds, tracer)
    counts = parse_counts(spark, wl)
    overhead = statistics.median(traced) / statistics.median(wl.pass_s) - 1
    metrics, table = layer_metrics(tracer, wl, get_spark_s, counts,
                                   overhead)
    tracer.dump(os.path.join(work, "trace.json"))
    tracer.uninstall()
    return metrics, table


def parse_counts(spark, wl) -> dict:
    """Raw lines in, lines parsed, lines rejected, for the last store
    (or the events table), checked against the generator; a mismatch
    is a failed operation."""
    from workloads import Op

    t0 = time.perf_counter()
    if getattr(wl, "store", None) is not None:
        from cassandra_log_analyzer_mcp_spark.session import clear_caches

        clear_caches(spark)  # read the source, not a cached copy
        lines_in = wl.store.lines().count()
        parsed = wl.store.flagged().count()
        want = (wl.last_truth.lines_in, wl.last_truth.lines_parsed)
        clear_caches(spark)
    else:
        from cassandra_log_analyzer_mcp_spark.sources.tables import (
            logs_flagged,
            table,
        )

        lines_in = table(spark, wl.sf_dir, "events").count()
        parsed = logs_flagged(spark, wl.sf_dir).count()
        want = (wl.EVENTS, wl.EVENTS)
    fail = None if (lines_in, parsed) == want else (
        "wrong", f"lines in/parsed {lines_in}/{parsed}, expected {want}")
    wl.ops.append(Op("parse_counts", (time.perf_counter() - t0) * 1e3, fail))
    return {"lines_in": lines_in, "lines_parsed": parsed,
            "lines_rejected": lines_in - parsed}


def survey(work: str, emit) -> None:
    """Build time of every log query and streaming bridge of the
    registry on the generated events table, largest first."""
    from cassandra_log_analyzer_mcp_spark.plans import registry
    from workloads import RegistrySlate

    wl = RegistrySlate(0, work)
    wl.prepare()
    spark = start_spark()
    try:
        qs = registry.queries()
        names = [n for n, f in qs.items()
                 if f.__qualname__.startswith("_on_logs")
                 or n.startswith("streaming_")]
        builds, skipped = {}, {}
        for rep in range(2):  # the first round warms code paths
            for n in names:
                if n in skipped:
                    continue
                t0 = time.perf_counter()
                try:
                    df = qs[n](spark, wl.sf_dir)
                    builds[n] = time.perf_counter() - t0
                    df.write.format("noop").mode("overwrite").save()
                except Exception as e:  # needs a table not generated here
                    skipped[n] = f"{type(e).__name__}: {str(e)[:80]}"
                    builds.pop(n, None)
    finally:
        stop_spark(spark)
    emit(f"registry build_s survey: {len(builds)} of {len(names)} log "
         f"queries and bridges, {RegistrySlate.EVENTS} events, "
         f"local[{cores()}]")
    for n, b in sorted(builds.items(), key=lambda kv: -kv[1])[:30]:
        emit(f"  {n:40s} {b:.3f}")
    for n, why in sorted(skipped.items()):
        emit(f"  skipped {n}: {why}")


def defects(work: str, emit) -> None:
    """One checked, untimed session pass on the schedule that shows the
    known defects of the interactive path (``gen.paste_schedule``):
    appends to nodes already read, and junk and continuation lines
    between entries. The measured workloads keep clear of both, so
    their outputs have one right answer; this mode shows the defects
    are still there."""
    from workloads import PasteSession

    wl = PasteSession(0, work, defects=True)
    spark = start_spark()
    try:
        wl.one_pass(spark, 0)
    finally:
        stop_spark(spark)
    failed = [op for op in wl.ops if op.fail]
    emit(f"defect probe: {len(failed)} of {len(wl.ops)} session "
         "operations failed")
    for op in failed:
        emit(f"  {op.name}: {op.fail[0]}: {op.fail[1]}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=["paste_session",
                                           "registry_slate"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--survey", action="store_true")
    ap.add_argument("--defects", action="store_true")
    args = ap.parse_args(argv)
    if not (args.survey or args.defects or args.workload):
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"{PKG} not found next to perfbench/; run from a checkout "
              "of the repository", file=sys.stderr)
        return 2

    name = ("survey" if args.survey else "defects" if args.defects
            else f"{args.workload}-{args.seed}")
    work = os.path.join(HERE, ".work", f"{name}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    prepare_env(work)

    # The JVM and Python workers write to fds 1 and 2; send both to a
    # log file and keep the real stdout for the report.
    real_out = os.dup(1)
    noise = os.open(os.path.join(work, "spark.log"),
                    os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(noise, 1)
    os.dup2(noise, 2)
    os.close(noise)
    sys.stdout = sys.stderr

    def emit(line: str) -> None:
        os.write(real_out, (line + "\n").encode())

    try:
        if args.survey:
            survey(work, emit)
        elif args.defects:
            defects(work, emit)
        else:
            emit(json.dumps(run(args, work, emit)))
        return 0
    except Exception as e:  # report where the log is, then fail
        import traceback

        traceback.print_exc()
        emit(f"perfbench failed: {type(e).__name__}: {str(e)[:300]} "
             f"(log: {work}/spark.log)")
        return 1
    finally:
        for d in ("tmp", "spark-local", "sf"):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
