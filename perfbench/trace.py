"""Spans around the calls into each layer's public functions.

A traced repetition calls the same stage functions as an untraced one, but
through wrappers that open a span, run the call, then force each DataFrame
output with ``localCheckpoint(eager=True)`` inside a span of its own, so the
lazy work is charged to the layer that produced it. Each span runs under its
own Spark job group; its task metrics are read from the status store right
after it closes. Spans stay in memory until the run writes them out.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from . import probes

# DataFrame outputs of the stage functions, by position
OUTPUT_NAMES = {
    "extract_stage": ("mentions", "triples_raw"),
    "materialize_stage": ("nodes", "edges"),
    "distinct_terms": ("terms",),
    "link_stage": ("candidates",),
    "canonicalize_stage": ("assignments",),
}


class NoTrace:
    """Untraced runs: stage functions are called as they are."""

    enabled = False

    def wrap(self, layer, fn):
        return fn


class Tracer:
    enabled = True

    def __init__(self, spark, jvm_pid: int):
        self.spark = spark
        self.jvm_pid = jvm_pid
        self.spans: list[dict] = []
        self.outputs: dict = {}  # last forced output of each stage function
        self.unforced: dict = {}  # ... and the DataFrame it was forced from
        self._stack: list[dict] = []

    @contextmanager
    def span(self, layer: str, name: str):
        sc = self.spark.sparkContext
        rec = {"id": len(self.spans), "layer": layer, "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "job_group": f"perfbench-span-{len(self.spans)}"}
        self.spans.append(rec)
        self._stack.append(rec)
        sc.setJobGroup(rec["job_group"], name)
        cpu0, t0 = probes.process_tree_cpu(self.jvm_pid), time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["cpu_s"] = probes.process_tree_cpu(self.jvm_pid) - cpu0
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(self._stack[-1]["job_group"], self._stack[-1]["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            rec.update(probes.stage_metrics(self.spark, rec["job_group"]))

    def wrap(self, layer: str, fn):
        names = OUTPUT_NAMES[fn.__name__]

        def traced(*args, **kwargs):
            with self.span(layer, fn.__name__):
                out = fn(*args, **kwargs)
            outs = out if isinstance(out, tuple) else (out,)
            forced = []
            for name, df in zip(names, outs):
                with self.span(layer, name):
                    forced.append(df.localCheckpoint(eager=True))
                self.outputs[name], self.unforced[name] = forced[-1], df
            return tuple(forced) if isinstance(out, tuple) else forced[0]

        traced.__name__ = fn.__name__
        return traced

    def layer_totals(self) -> dict:
        """Per layer: summed wall, CPU and task metrics of its spans. A span
        with children (the pipeline span) counts only its self time; its task
        metrics are already its own, since each span has its own job group."""
        totals: dict[str, dict] = {}
        for rec in self.spans:
            child = [c for c in self.spans if c["parent"] == rec["id"]]
            t = totals.setdefault(rec["layer"], {})
            for key in ("wall_s", "cpu_s"):
                t[key] = t.get(key, 0.0) + rec[key] - sum(c[key] for c in child)
            for key in ("tasks", "input_mb", "shuffle_read_mb", "shuffle_write_mb",
                        "spill_mb", "gc_s"):
                t[key] = t.get(key, 0.0) + rec[key]
            t["peak_exec_mem_mb"] = max(t.get("peak_exec_mem_mb", 0.0),
                                        rec["peak_exec_mem_mb"])
        return totals
