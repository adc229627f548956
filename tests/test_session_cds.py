"""The session JVM's class-data-sharing archive (``session.py`` module
docstring): recorded when a JVM exits, verified before it is promoted,
loaded by later launches. Every case runs in subprocesses with
``XDG_CACHE_HOME`` pointed at its own temporary directory, so neither
this test session's JVM nor the host's cache takes part."""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Builds a session, runs a tiny query and exits. Its stdout must carry
# exactly what the script prints, also while the JVM records an archive.
SESSION = f"""
import os, sys
sys.path.insert(0, {ROOT!r})
from instacart_medallion_lakehouse_spark import session
log = os.environ.get("CLASS_LOAD_LOG")
if log:  # the way perfbench/run.py launches, plus a class-load log
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "{{session._JVM_OPTS}} -Xlog:class+load=info:file={{log}}" '
        "pyspark-shell")
spark = session.build_session("cds-test", master="local[1]", shuffle_partitions=1)
print("rows", spark.range(3).count())
"""

# Resolves the launch settings without launching a JVM.
RESOLVE = f"""
import json, os, sys
sys.path.insert(0, {ROOT!r})
from instacart_medallion_lakehouse_spark import session
session._ensure_jvm_opts()
print(json.dumps({{"opts": session._JVM_OPTS,
                  "base": session._BASE_JVM_OPTS + " " + session._JVM_LOG_OPTS,
                  "conf_dir": os.environ.get("SPARK_CONF_DIR")}}))
"""


def _env(cache: str, **extra: str) -> dict:
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYSPARK_SUBMIT_ARGS", "SPARK_CONF_DIR")}
    env["XDG_CACHE_HOME"] = cache
    env.update(extra)
    return env


def _run(script: str, env: dict, cwd: str) -> subprocess.CompletedProcess:
    proc = subprocess.run([sys.executable, "-c", script], env=env, cwd=cwd,
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    return proc


def _resolve(env: dict, cwd: str) -> dict:
    return json.loads(_run(RESOLVE, env, cwd).stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def recorded():
    """One recording run in a fresh cache; its temp archive and class
    path file are moved aside, so each case starts from a clean cache."""
    base = tempfile.mkdtemp(prefix="cds-test-")
    cache, cwd, saved = (os.path.join(base, d) for d in ("cache", "cwd", "saved"))
    os.makedirs(cwd)
    os.makedirs(saved)
    env = _env(cache)
    proc = _run(SESSION, env, cwd)
    cds = os.path.join(cache, "instacart_medallion_lakehouse_spark", "cds")
    recorded_files = sorted(os.listdir(cds))
    for name in recorded_files:
        shutil.move(os.path.join(cds, name), saved)
    yield {"env": env, "cwd": cwd, "cds": cds, "saved": saved,
           "stdout": proc.stdout, "files": recorded_files}
    shutil.rmtree(base, ignore_errors=True)


def _restore(rec: dict) -> str:
    """Empty the cache's archive directory and put the recorded temp
    archive back; returns its path."""
    for name in os.listdir(rec["cds"]):
        os.remove(os.path.join(rec["cds"], name))
    for name in rec["files"]:
        shutil.copy(os.path.join(rec["saved"], name), rec["cds"])
    return next(os.path.join(rec["cds"], n) for n in rec["files"] if n.endswith(".tmp"))


def test_stdout_carries_only_the_script_output(recorded):
    assert recorded["stdout"] == "rows 3\n"


def test_first_launch_records(recorded):
    exts = sorted(n.rsplit(".", 1)[1] for n in recorded["files"])
    assert exts == ["cp", "tmp"], recorded["files"]
    key, pid, _ = recorded["files"][0].split(".")
    assert len(key) == 16 and pid.isdigit()


def test_second_resolution_promotes_and_launch_loads(recorded):
    tmp = _restore(recorded)
    key = os.path.basename(tmp).split(".")[0]
    archive = os.path.join(recorded["cds"], key + ".jsa")
    got = _resolve(recorded["env"], recorded["cwd"])
    assert f"-XX:SharedArchiveFile={archive}" in got["opts"]
    assert "ArchiveClassesAtExit" not in got["opts"]
    assert os.listdir(recorded["cds"]) == [key + ".jsa"]

    log = os.path.join(recorded["cwd"], "class-load.log")
    env = dict(recorded["env"], CLASS_LOAD_LOG=log)
    proc = _run(SESSION, env, recorded["cwd"])
    assert proc.stdout == "rows 3\n"
    with open(log) as f:
        shared = [ln for ln in f if "org.apache.spark.SparkContext " in ln]
    assert shared and "source: shared objects file (top)" in shared[0], shared


def _truncate(path: str) -> None:
    os.truncate(path, os.path.getsize(path) * 2 // 3)


def _flip_byte(path: str) -> None:
    with open(path, "r+b") as f:
        f.seek(os.path.getsize(path) // 2)
        b = f.read(1)
        f.seek(-1, os.SEEK_CUR)
        f.write(bytes([b[0] ^ 0xFF]))


@pytest.mark.parametrize("damage", [_truncate, _flip_byte], ids=["truncated", "byte-flipped"])
def test_damaged_archive_is_deleted_never_promoted(recorded, damage):
    tmp = _restore(recorded)
    os.chmod(tmp, 0o644)
    damage(tmp)
    got = _resolve(recorded["env"], recorded["cwd"])
    assert "SharedArchiveFile" not in got["opts"]
    assert "-XX:ArchiveClassesAtExit=" in got["opts"]  # records afresh
    assert os.listdir(recorded["cds"]) == []
    assert glob.glob(os.path.join(recorded["cwd"], "hs_err_pid*.log")) == []


def test_unwritable_cache_gives_plain_flags(tmp_path):
    blocker = tmp_path / "not-a-dir"
    blocker.write_text("")
    got = _resolve(_env(str(blocker)), str(tmp_path))
    assert got["opts"] == got["base"]
    assert got["conf_dir"] is None


def test_real_conf_dir_gives_no_archive_and_is_kept(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.sql.shuffle.partitions 7\n")
    got = _resolve(_env(str(tmp_path / "cache"), SPARK_CONF_DIR=str(conf)), str(tmp_path))
    assert got["opts"] == got["base"]
    assert got["conf_dir"] == str(conf)
