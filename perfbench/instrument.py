"""Spans around the engine's layer boundaries, installed from outside.

Layers and the public functions whose calls are spanned:

- ``pipeline``: ``run_bronze``, ``run_silver``, ``run_gold``
- ``io``: ``write_table`` (plus the bytes it leaves on disk), ``read_table``,
  ``write_bucketed``
- ``quality``: the gates ``check_duplicate_rate``,
  ``check_referential_integrity``, ``reconcile_row_counts``,
  ``assert_row_count_nonzero``
- ``versioned``: ``write_versioned`` (commit), ``upsert_versioned`` (plus
  the bytes the MERGE rewrote), ``read_versioned``
- ``store``: ``queries.shared_table`` / ``queries.shared_bucketed_table``;
  the ``builder`` each receives is wrapped too, so a request that had
  to build its asset is told apart from a hit.

The registry call, the materialization and the pin release are spanned
by the workloads themselves (``queries.plan``, ``queries.exec``,
``pins.release``).
"""

from __future__ import annotations

import os

from spans import Tracer, dir_bytes

QUALITY_GATES = (
    "check_duplicate_rate",
    "check_referential_integrity",
    "reconcile_row_counts",
    "assert_row_count_nonzero",
)


def install(tracer: Tracer) -> None:
    from instacart_medallion_lakehouse_spark import io, pipeline, quality, versioned
    from instacart_medallion_lakehouse_spark import queries as q

    for layer in ("bronze", "silver", "gold"):
        tracer.spanned(pipeline, f"run_{layer}", f"pipeline.{layer}")

    def written(rec, out, args, kwargs):
        tracer.count("io.bytes_written", dir_bytes(kwargs["path"] if "path" in kwargs else args[1]))

    tracer.spanned(io, "write_table", "io.write_table", after=written)
    tracer.spanned(io, "read_table", "io.read_table")
    tracer.spanned(io, "write_bucketed", "io.write_bucketed")
    for gate in QUALITY_GATES:
        tracer.spanned(quality, gate, "quality.gate")

    tracer.spanned(versioned, "write_versioned", "versioned.commit")
    tracer.spanned(versioned, "read_versioned", "versioned.read")

    def upsert(orig):
        def wrapper(spark, root, updates, *args, **kwargs):
            if not tracer.enabled:
                return orig(spark, root, updates, *args, **kwargs)
            data = os.path.join(root, "_data")
            with tracer.span("trace.bookkeeping"):
                before = dir_bytes(data)
                batch = sum(os.path.getsize(f.removeprefix("file:")) for f in updates.inputFiles())
            with tracer.span("versioned.upsert"):
                out = orig(spark, root, updates, *args, **kwargs)
            with tracer.span("trace.bookkeeping"):
                tracer.count("versioned.rewritten_bytes", dir_bytes(data) - before)
                tracer.count("versioned.update_bytes", batch)
            return out

        return wrapper

    tracer.patch(versioned, "upsert_versioned", upsert)

    def store(orig):
        def wrapper(spark, sf_dir, name, builder, *args, **kwargs):
            if not tracer.enabled:
                return orig(spark, sf_dir, name, builder, *args, **kwargs)
            built = []

            def counted_builder():
                built.append(name)
                return builder()

            with tracer.span("store.request") as rec:
                out = orig(spark, sf_dir, name, counted_builder, *args, **kwargs)
            rec.attrs["built"] = bool(built)
            rec.attrs["asset"] = name
            tracer.count("store.requests")
            tracer.count("store.builds", bool(built))
            return out

        return wrapper

    tracer.patch(q, "shared_table", store)
    tracer.patch(q, "shared_bucketed_table", store)
