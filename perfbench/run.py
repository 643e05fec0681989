#!/usr/bin/env python3
"""Benchmark of hpctoolkit_dataframe_spark: one workload, one process.

Usage (from the repository root):

    python3 perfbench/run.py --workload fleet_ingest_merge --seed 1 \\
        --seconds 5 --trace 0

A run starts a Spark session on ``local[nproc]``, generates its inputs
from the seed, runs passes of the workload until ``--seconds`` of
operation time have gone by (at least one pass), checks every
operation's output, stops the session and waits until its JVM and
Python workers have exited.  It prints a report (each check with
PASS/FAIL, each metric with its unit, the pinned environment and the
1-minute load average) on stderr and, as the last line of stdout, one
JSON object: ``correct``, ``attempted`` and ``failed`` operations, and
the metrics — the end-to-end ones with ``--trace 0``, the per-layer ones
with ``--trace 1``.  Metric names and units are read from
``BENCHMARK.json`` at the checkout root.

End-to-end metrics:
  setup_s      process start to session ready (imports, ``get_spark``,
               one warm-up action that starts the Python workers)
  wall_s       duration of the first pass, the first in a fresh session:
               the sum of its operations' times (further passes only
               fill ``--seconds``)
  rows_per_s   input rows one pass processes, over ``wall_s``: CCT rows
               ingested (fleet), profile rows times operations
               (interactive), lineitem rows (registry)
The share of operations that raised or failed their check is
``failed / attempted``.  Per-operation latency (median and 90th
percentile over the run's operations; ``attempted`` is the sample count)
is in the report and among the per-layer metrics.

A traced run (``--trace 1``) turns on Spark's event log through the
launch environment, wraps the package's layer calls, runs at least four
passes alternating untraced and traced (the first, cold pass is left
out of the comparison that gives the tracing overhead), reports
per-layer metrics per traced pass and the driver JVM's memory (peak
resident set beyond the fixed, pre-touched heap; heap retained after a
full collection), read before teardown, and writes its spans to
``.perfbench/traces/<workload>-seed<seed>-<run>.json``.

``--fail-check`` makes the first output check fail, to exercise the
failure path and its teardown.  Exit codes: 0 with a result line; 2 for
bad usage or a checkout without the package; 3 when a Spark process
outlived the teardown; 1 for any other error.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.getcwd()
PACKAGE = "hpctoolkit_dataframe_spark"


def log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=list(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--fail-check", action="store_true")
    return p.parse_args(argv)


def import_package():
    import importlib

    pkg = importlib.import_module(PACKAGE)
    where = os.path.realpath(os.path.dirname(pkg.__file__))
    if not where.startswith(os.path.realpath(ROOT) + os.sep):
        raise RuntimeError(f"{PACKAGE} imported from {where}, not the checkout")
    for sub in ("sources.hpctoolkit_xml", "sources.sinks", "functions.formulas",
                "operators.cct", "operators.flame", "queries",
                "queries.cct_tpch", "oracle_hash"):
        importlib.import_module(f"{PACKAGE}.{sub}")
    return pkg


def memo_entries() -> int:
    """Live entries across the package's module-level ``*_CACHE`` dicts."""
    n = 0
    for name, mod in list(sys.modules.items()):
        if name.startswith(PACKAGE) and mod is not None:
            for attr, value in vars(mod).items():
                if attr.endswith("_CACHE") and isinstance(value, dict):
                    n += len(value)
    return n


def quantile(values: list[float], q: int) -> float:
    """q-th percentile (inclusive interpolation)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def op_latency(run) -> dict:
    lat = [op.seconds * 1e3 for op in run.ops]
    return {"bench.op_p50_ms": quantile(lat, 50),
            "bench.op_p90_ms": quantile(lat, 90)}


def end_to_end(run, workload, setup_s: float) -> dict:
    wall = run.passes[0][0]
    return {"setup_s": setup_s, "wall_s": wall,
            "rows_per_s": workload.rows_per_pass() / wall}


def per_layer(names, tracer, run, timings: dict, spark: dict,
              memory: dict, memo: int) -> dict:
    traced = [dt for dt, t in run.passes if t]
    plain = [dt for dt, t in run.passes if not t]
    raw = tracer.layer_metrics(len(traced))
    n = max(len(traced), 1)

    def g(key):
        return float(raw.get(key, 0.0))

    out = {}
    for name in names:
        base, _, stat = name.rpartition(".")
        if name.startswith("session."):
            out[name] = timings[name[len("session."):]]
        elif name.startswith("spark."):
            out[name] = spark[stat] / n
        elif name.startswith("jvm."):
            out[name] = memory[stat]
        elif stat == "exec_s":
            out[name] = g(f"{base}.exec.s")
        elif stat in ("call_s", "busy_s", "init_s"):
            out[name] = g(f"{base}.s")
        else:
            out[name] = g(name)
    x = "sources.hpctoolkit_xml.load_experiments"
    secs = out[f"{x}.call_s"] + out[f"{x}.exec_s"]
    out["sources.hpctoolkit_xml.xml_mb_per_s"] = (
        g("sources.hpctoolkit_xml.xml_bytes") / 1e6 / secs if secs else 0.0)
    out["queries.memo.entries_pinned"] = float(memo)
    out.update(op_latency(run))
    # the first pass is cold; compare traced passes with warm ones
    ref = statistics.median(plain[1:] if len(plain) > 1 else plain)
    out["trace.wall_s"] = statistics.median(traced)
    out["trace.untraced_wall_s"] = ref
    out["trace.overhead_s"] = out["trace.wall_s"] - ref
    return out


def report(args, env_record, run, metrics, units, untimed) -> None:
    log(f"perfbench workload={args.workload} seed={args.seed} "
        f"trace={args.trace} " + " ".join(f"{k}={v}" for k, v in env_record.items()))
    for op in run.ops:
        status = ("FAIL" if op.failed else "PASS" if op.ok else "UNCHECKED")
        log(f"  check {status:9s} {op.name:28s} {op.seconds * 1e3:9.1f} ms  "
            f"{op.error or op.detail}")
    failed = sum(op.failed for op in run.ops)
    log("  untimed " + ", ".join(f"{k} {v:.2f}s" for k, v in untimed.items()))
    log(f"  passes {len(run.passes)}: "
        + ", ".join(f"{dt:.2f}s{'*' if t else ''}" for dt, t in run.passes))
    lat = op_latency(run)
    log(f"  ops attempted {len(run.ops)}, failed {failed}, "
        f"ops_failed_frac {failed / max(len(run.ops), 1):.4f}, "
        f"op_p50 {lat['bench.op_p50_ms']:.1f} ms, "
        f"op_p90 {lat['bench.op_p90_ms']:.1f} ms")
    for name, value in metrics.items():
        log(f"  metric {name:48s} {value:16.6f} {units[name]}")


def main(argv=None) -> int:
    # import the benchmark as the ``perfbench`` package from the checkout
    # root; its own directory would shadow modules such as ``trace``
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p) != here]
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        log(f"perfbench: no {PACKAGE}/ in {ROOT}; run from a checkout root")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    from perfbench import harness, trace, workloads

    # stdout carries only the result line: the JVM, Python workers and
    # library output all go to stderr
    result_fd = os.dup(1)
    os.dup2(2, 1)

    def on_signal(signum, _frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    env = harness.Environment(ROOT, bool(args.trace))
    run_id = f"{args.workload}-seed{args.seed}-{env.token[:8]}"
    tracer = trace.Tracer(run_id, bool(args.trace))
    session = harness.Session(env)
    try:
        try:
            pkg = import_package()
            session.start(pkg.get_spark)
            setup_s = time.perf_counter() - T_START
            untimed = {}
            t0 = time.perf_counter()
            workload = workloads.WORKLOADS[args.workload](env.inputs, args.seed)
            untimed["generate_s"] = time.perf_counter() - t0
            if args.trace:
                tracer.install(pkg)
            run = workloads.Run(session.spark, tracer, pkg, args.seconds,
                                args.fail_check)
            t0 = time.perf_counter()
            workload.setup(run)
            untimed["prepare_s"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            run.loop(workload, 4 if args.trace else 1)
            untimed["checks_s"] = (time.perf_counter() - t0
                                   - sum(dt for dt, _ in run.passes))
            memory = session.memory() if args.trace else {}
            memo = memo_entries()
        finally:
            survivors = shutdown(session, env.token)
        if survivors:
            return 3
        untimed["stop_s"] = session.timings["stop_s"]
        env.record["cpu_steal_pct"] = round(env.steal_pct(), 1)
        if args.trace:
            windows = [(tracer.epoch_ms(a), tracer.epoch_ms(b))
                       for a, b in tracer.windows("bench.pass")]
            counters = trace.spark_counters(env.event_log(), windows)
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            metrics = per_layer(units, tracer, run, session.timings,
                                counters, memory, memo)
            tracer.dump(os.path.join(ROOT, ".perfbench", "traces",
                                     f"{run_id}.json"), {
                "workload": args.workload, "seed": args.seed,
                "environment": env.record, "metrics": metrics,
                "setup": {"setup_s": setup_s, **session.timings, **untimed},
                "passes": [{"seconds": dt, "traced": t} for dt, t in run.passes],
                "ops": [vars(op) for op in run.ops]})
        else:
            metrics = end_to_end(run, workload, setup_s)
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        # exactly the metrics BENCHMARK.json names, in its order
        metrics = {k: metrics[k] for k in units}
        report(args, env.record, run, metrics, units, untimed)
    finally:
        env.remove()
    failed = sum(op.failed for op in run.ops)
    result = {"correct": failed == 0, "attempted": len(run.ops),
              "failed": failed,
              "metrics": {k: {"value": v, "unit": units[k]}
                          for k, v in metrics.items()}}
    os.write(result_fd, (json.dumps(result) + "\n").encode())
    return 0


def shutdown(session, token: str) -> list[str]:
    """Stop the session, then confirm its processes are gone."""
    from perfbench import harness

    try:
        session.stop()
    finally:
        survivors = harness.audit_processes(token)
        if survivors:
            log("perfbench: FAIL: Spark processes outlived the teardown "
                "(killed):\n  " + "\n  ".join(survivors))
    return survivors


if __name__ == "__main__":
    sys.exit(main())
