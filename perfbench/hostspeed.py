"""How fast the host runs a cold JVM right now.

The engine's time on a shared host is dominated by cold JVM work
(interpreting, JIT-compiling and class loading for each new plan), and
the speed the host gives that work drifts by up to a half within minutes
with the load of other tenants. ``jvm_probe`` times a fixed program of
the same kind that does not touch the package: a fresh ``java`` process
compiles ``probe/Probe.java`` in memory (the JDK's compiler, run cold)
and runs it. Dividing a run's times by the probe's time cancels that
drift. The probe runs between the engine's operations, never beside one.
"""

from __future__ import annotations

import os
import statistics
import subprocess
import tempfile
import time

SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "probe", "Probe.java")
# Probe seconds that define the reference speed of normalised times: about
# what the probe takes on an idle 4-vCPU host.
REFERENCE_PROBE_S = 1.2


def jvm_probe(samples: int) -> list[float]:
    """Wall seconds of ``samples`` successive probe processes."""
    times = []
    for _ in range(samples):
        t0 = time.perf_counter()
        subprocess.run(
            ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tempfile.gettempdir()}", SOURCE],
            check=True, capture_output=True, timeout=60,
        )
        times.append(time.perf_counter() - t0)
    return times


def normalise(seconds: float, probe_times: list[float]) -> float:
    """``seconds`` rescaled to the reference speed: a host on which the
    probe takes ``REFERENCE_PROBE_S``."""
    return seconds * REFERENCE_PROBE_S / statistics.median(probe_times)
