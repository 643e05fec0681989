"""Spans, counters and the per-layer summary of a traced run.

A span is (name, start, end, parent span, run id).  Spans are kept in
memory and written as one JSON file per run.  Layer calls are wrapped by
patching module attributes of the package at run time, and only in a
traced run: an untraced run installs nothing, and its ``Tracer`` hands
out a null context.

Span names are ``<module>.<function>`` for a layer call, with ``.exec``
appended for the first action on what the call returned; the layer of a
span is its module part (``operators.cct``, ``queries``, ...).  Spans the
benchmark opens for itself belong to the ``bench`` layer.

Most spans are recorded in traced passes only and reported per traced
pass.  Work the package does once per session (compiling a metric
formula, which it then memoizes) happens in set-up or in the first
pass; its spans are recorded whenever the run is traced and reported
per run.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time

LAYERS = ("session", "sources.hpctoolkit_xml", "functions.formulas", "frame",
          "operators.cct", "operators.flame", "sources.sinks", "queries",
          "bench")
CCT_OPS = ("at_paths", "at_depths", "with_ratio_of_total",
           "with_ratio_of_parent", "hot_path", "hot_paths", "merge_profiles",
           "compact")
# package functions wrapped in a traced run: (module, attribute)
WRAPPED = [("operators.cct", fn) for fn in CCT_OPS] + [
    ("sources.hpctoolkit_xml", "load_experiments"),
    ("functions.formulas", "compile_formula"),
    ("operators.flame", "flame_layout"),
    ("sources.sinks", "write_profiles"),
    ("sources.sinks", "read_profiles"),
    ("queries.cct_tpch", "build_cct"),
]
# spans recorded in every part of a traced run, and reported per run
PER_RUN = ("functions.formulas.compile_formula",)
# layers whose self time is reported (the session is timed whole)
SELF_LAYERS = LAYERS[1:]
SPARK_COUNTERS = ("jobs", "tasks", "executor_run_s", "executor_cpu_s",
                  "jvm_gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
                  "spill_bytes", "input_bytes", "output_bytes",
                  "driver_only_s")


def layer_of(name: str) -> str:
    for layer in sorted(LAYERS, key=len, reverse=True):
        if name == layer or name.startswith(layer + "."):
            return layer
    return "bench"


class Tracer:
    """Span recorder.  ``active`` is switched per pass, so a traced run
    can alternate traced and untraced passes to measure its own cost."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.active = False  # switched on for traced passes
        self.spans: list[dict] = []
        self.counters: dict[str, float] = {}
        self._stack: list[int] = []
        self._t0 = time.perf_counter()
        self._epoch0 = time.time()

    def now(self) -> float:
        return time.perf_counter() - self._t0

    def epoch_ms(self, t: float) -> float:
        """Tracer time -> wall-clock epoch ms, to line up with Spark's
        event log."""
        return (self._epoch0 + t) * 1000.0

    def span(self, name: str):
        if not (self.active or self.enabled and name in PER_RUN):
            return contextlib.nullcontext()
        return self._span(name)

    @contextlib.contextmanager
    def _span(self, name: str):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, "start": self.now(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = self.now()
            self._stack.pop()

    def count(self, name: str, value: float) -> None:
        if self.active:
            self.counters[name] = self.counters.get(name, 0) + value

    def install(self, package) -> None:
        """Wrap the package's layer calls (traced runs only)."""
        import importlib

        for module, attr in WRAPPED:
            mod = importlib.import_module(f"{package.__name__}.{module}")
            setattr(mod, attr, self._wrap(getattr(mod, attr),
                                          f"{module}.{attr}"))
        frame = importlib.import_module(f"{package.__name__}.frame")
        cls = frame.HPCtoolkitDataFrame
        cls.__init__ = self._wrap(cls.__init__, "frame.HPCtoolkitDataFrame")

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    # -- summaries ---------------------------------------------------------
    def windows(self, name: str) -> list[tuple[float, float]]:
        return [(s["start"], s["end"]) for s in self.spans if s["name"] == name]

    def layer_metrics(self, n_passes: int) -> dict[str, float]:
        """Calls and seconds per span name, self time per layer (span
        time not covered by its child spans); per traced pass, except
        for ``PER_RUN`` spans."""
        n = max(n_passes, 1)
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = (child.get(s["parent"], 0.0)
                                      + s["end"] - s["start"])
        out: dict[str, float] = dict.fromkeys(
            [f"{layer}.self_s" for layer in SELF_LAYERS], 0.0)
        for s in self.spans:
            name, d = s["name"], s["end"] - s["start"]
            share = 1.0 if name in PER_RUN else 1.0 / n
            for key, v in ((f"{name}.calls", 1.0), (f"{name}.s", d),
                           (f"{layer_of(name)}.self_s",
                            d - child.get(s["id"], 0.0))):
                out[key] = out.get(key, 0.0) + v * share
        out.update({k: v / n for k, v in self.counters.items()})
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans, **extra}, f,
                      indent=1, sort_keys=True)


def spark_counters(event_log: str, windows_ms: list[tuple[float, float]],
                   ) -> dict[str, float]:
    """Fold an uncompressed, non-rolling Spark event log into the
    ``spark.*`` counters, over jobs and tasks that start inside the given
    wall-clock windows.  ``driver_only_s`` is window time with no job
    running."""
    def inside(t: float) -> bool:
        return any(a <= t <= b for a, b in windows_ms)

    c = dict.fromkeys(SPARK_COUNTERS, 0.0)
    jobs: dict[int, list[float]] = {}
    with open(event_log) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                if inside(ev["Submission Time"]):
                    jobs[ev["Job ID"]] = [ev["Submission Time"], None]
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]][1] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                info = ev.get("Task Info", {})
                m = ev.get("Task Metrics")
                if m is None or not inside(info.get("Launch Time", -1)):
                    continue
                c["tasks"] += 1
                c["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                c["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sw = m.get("Shuffle Write Metrics", {})
                c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics", {})
                c["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                            + sr.get("Local Bytes Read", 0))
                c["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                     + m.get("Disk Bytes Spilled", 0))
                c["input_bytes"] += m.get("Input Metrics", {}).get(
                    "Bytes Read", 0)
                c["output_bytes"] += m.get("Output Metrics", {}).get(
                    "Bytes Written", 0)
    c["jobs"] = float(len(jobs))
    busy = 0.0
    for a, b in windows_ms:
        spans = sorted((max(s, a), min(e if e is not None else b, b))
                       for s, e in jobs.values())
        cur_s = cur_e = None
        for s, e in spans:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
    total = sum(b - a for a, b in windows_ms)
    c["driver_only_s"] = max(total - busy, 0.0) / 1e3
    return c
