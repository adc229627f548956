"""The benchmark (perfbench/) attaches its per-layer spans by replacing
package functions by name. A rename or removal of one of them would
silently drop its spans and counters, so install the instrumentation
against the package here. It runs in a subprocess: the wrappers it
installs must not leak into this test session. The wrappers also read
arguments by position, and perfbench/run.py reads
``session._JVM_OPTS`` by name; those are checked in-process."""

from __future__ import annotations

import inspect
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = """
import sys
sys.path[:0] = [{root!r}, {perfbench!r}]
import instrument
from spans import Tracer
from instacart_medallion_lakehouse_spark import io, pipeline, quality, versioned
from instacart_medallion_lakehouse_spark import queries as q

instrument.install(Tracer())
spanned = [
    pipeline.run_bronze, pipeline.run_silver, pipeline.run_gold,
    io.write_table, io.read_table, io.write_bucketed,
    *[getattr(quality, g) for g in instrument.QUALITY_GATES],
    versioned.write_versioned, versioned.read_versioned,
    versioned.upsert_versioned, q.shared_table, q.shared_bucketed_table,
    # the gated write's read-back reaches versioned through this alias
    quality.read_versioned,
]
missing = [f.__name__ for f in spanned if not hasattr(f, "__wrapped__")]
assert not missing, f"not spanned: {{missing}}"
print("installed", len(spanned))
"""


def test_instrument_installs_against_package():
    script = SCRIPT.format(root=ROOT, perfbench=os.path.join(ROOT, "perfbench"))
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert proc.stdout.startswith("installed")


def _leading(fn, n: int) -> list[tuple[str, object]]:
    params = list(inspect.signature(fn).parameters.values())[:n]
    return [(p.name, p.kind) for p in params]


POS_OR_KW = inspect.Parameter.POSITIONAL_OR_KEYWORD


def test_wrapped_argument_positions():
    from instacart_medallion_lakehouse_spark import io, session, versioned
    from instacart_medallion_lakehouse_spark import queries as q

    # io.write_table's byte counter reads ``path`` as args[1] or kwargs["path"]
    assert _leading(io.write_table, 2)[1] == ("path", POS_OR_KW)
    # the MERGE wrapper and the store wrapper pass these through positionally
    assert _leading(versioned.upsert_versioned, 3) == [
        (n, POS_OR_KW) for n in ("spark", "root", "updates")
    ]
    for fn in (q.shared_table, q.shared_bucketed_table):
        assert _leading(fn, 4) == [
            (n, POS_OR_KW) for n in ("spark", "sf_dir", "name", "builder")
        ], fn.__name__
    assert isinstance(session._JVM_OPTS, str)
