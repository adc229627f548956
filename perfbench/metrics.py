"""Reduce one run's cycles, operations and spans to reported metrics.

End-to-end metrics come from untraced runs; their times are normalised
to a reference host speed (``hostspeed.py``). Per-layer metrics come
from a ``--trace 1`` run, whose cycles are all traced, and are given
per cycle (totals divided by the number of cycles), so a count repeats
exactly between runs of the same seed.

``trace.overhead_pct`` is the tracer's own time over the duration of
the traced operations: the ``trace.bookkeeping`` spans plus
the number of recorded spans times the cost of one span, calibrated in
the run. Comparing whole traced and untraced cycles would bound nothing,
because cycles of one run differ by more than the tracer costs.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

import hostspeed

END_TO_END_UNITS = {
    "setup_s": "s",
    "cycle_norm_s": "s",
    "peak_rss_mb": "MB",
    "stored_bytes_per_input_byte": "ratio",
}

# span layers whose self time is reported, in report order
LAYERS = ("op", "queries", "store", "io", "pins", "pipeline", "quality", "versioned",
          "bench", "trace")

PER_LAYER_UNITS = {
    "session.build_s": "s",
    "session.warmup_s": "s",
    "queries.plan_s": "s",
    "queries.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "store.requests": "count",
    "store.builds": "count",
    "store.hit_ratio": "ratio",
    "store.build_s": "s",
    "store.bytes": "bytes",
    "io.write_bucketed_s": "s",
    "pins.released": "count",
    "pins.cached_mb": "MB",
    "pins.release_s": "s",
    "pipeline.bronze_s": "s",
    "pipeline.silver_s": "s",
    "pipeline.gold_s": "s",
    "io.write_table_s": "s",
    "io.write_table_calls": "count",
    "io.bytes_written": "bytes",
    "io.read_table_s": "s",
    "quality.gate_s": "s",
    "quality.gate_calls": "count",
    "versioned.commit_s": "s",
    "versioned.upsert_s": "s",
    "versioned.read_s": "s",
    "versioned.bytes_rewritten_per_updated_byte": "ratio",
    "trace.overhead_pct": "%",
    **{f"self.{layer}_s": "s" for layer in LAYERS},
}


def _with_units(values: dict, units: dict) -> dict:
    return {k: {"value": values[k], "unit": units[k]} for k in units}


def end_to_end(ctx, cycles, setup_s: float, peak_rss_mb: float,
               probe_times: list[float]) -> dict:
    cycle_s = statistics.median(c["seconds"] for c in cycles)
    return _with_units({
        "setup_s": hostspeed.normalise(setup_s, probe_times),
        "cycle_norm_s": hostspeed.normalise(cycle_s, probe_times),
        "peak_rss_mb": peak_rss_mb,
        "stored_bytes_per_input_byte": statistics.median(
            c["stored_bytes"] for c in cycles) / ctx.input_bytes,
    }, END_TO_END_UNITS)


def per_layer(ctx, cycles, setup_phases: dict) -> dict:
    tracer = ctx.tracer
    n = len(cycles)
    spans = tracer.spans
    span_ids = {s.id: s for s in spans}

    def total(name: str) -> float:
        return sum(s.duration for s in spans if s.name == name) / n

    def count(key: str) -> float:
        return tracer.counts.get(key, 0) / n

    def outermost_build(s) -> bool:
        if s.name != "store.request" or not s.attrs.get("built"):
            return False
        p = s.parent
        while p is not None:
            if span_ids[p].name == "store.request":
                return False
            p = span_ids[p].parent
        return True

    traced_ops = [o for o in ctx.ops if o["traced"]]
    requests = count("store.requests")
    update_bytes = tracer.counts.get("versioned.update_bytes", 0)
    op_s = sum(o["seconds"] for o in traced_ops)
    tracer_s = (sum(s.duration for s in spans if s.name == "trace.bookkeeping")
                + len(spans) * tracer.span_cost())
    self_by_layer = defaultdict(float)
    for name, secs in tracer.self_times(spans).items():
        self_by_layer[name.split(".")[0]] += secs / n
    values = {
        "session.build_s": setup_phases["build_s"],
        "session.warmup_s": setup_phases["warmup_s"],
        "queries.plan_s": total("queries.plan"),
        "queries.exec_s": total("queries.exec"),
        "spark.jobs": sum(o["jobs"] for o in traced_ops) / n,
        "spark.stages": sum(o["stages"] for o in traced_ops) / n,
        "spark.tasks": sum(o["tasks"] for o in traced_ops) / n,
        "store.requests": requests,
        "store.builds": count("store.builds"),
        "store.hit_ratio": 1 - count("store.builds") / requests if requests else 0.0,
        "store.build_s": sum(s.duration for s in spans if outermost_build(s)) / n,
        "store.bytes": statistics.mean(c["store_bytes"] for c in cycles),
        "io.write_bucketed_s": total("io.write_bucketed"),
        "pins.released": sum(o.get("pinned", 0) for o in traced_ops) / n,
        "pins.cached_mb": sum(o.get("cached_bytes", 0) for o in traced_ops) / n / 2**20,
        "pins.release_s": total("pins.release"),
        "pipeline.bronze_s": total("pipeline.bronze"),
        "pipeline.silver_s": total("pipeline.silver"),
        "pipeline.gold_s": total("pipeline.gold"),
        "io.write_table_s": total("io.write_table"),
        "io.write_table_calls": count("io.write_table.calls"),
        "io.bytes_written": count("io.bytes_written"),
        "io.read_table_s": total("io.read_table"),
        "quality.gate_s": total("quality.gate"),
        "quality.gate_calls": count("quality.gate.calls"),
        "versioned.commit_s": total("versioned.commit"),
        "versioned.upsert_s": total("versioned.upsert"),
        "versioned.read_s": total("versioned.read"),
        "versioned.bytes_rewritten_per_updated_byte": (
            tracer.counts.get("versioned.rewritten_bytes", 0) / update_bytes
            if update_bytes else 0.0
        ),
        "trace.overhead_pct": 100 * tracer_s / op_s,
        **{f"self.{layer}_s": self_by_layer.get(layer, 0.0) for layer in LAYERS},
    }
    return _with_units(values, PER_LAYER_UNITS)
