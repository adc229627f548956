"""Dump .explain("formatted") output for named registry queries.

Usage: python tools/dump_plans.py OUTDIR TAG [sf_dir] name1 name2 ...

Writes OUTDIR/<name>_<TAG>.txt per query — the before/after plan
evidence an optimization round commits under plans/r<N>/ (the judge
cannot run Spark and checks plan claims against these files).
Streaming-drain queries are planned via their drained result where
possible; queries whose function executes eagerly (drains, stores)
still produce the final batch-side plan, which is the part a plan diff
can meaningfully compare.

The plans are written reproducibly, so that a ``diff`` of two dumps of
one commit is empty: expression ids (``#N``) and exchange ids
(``plan_id=N``) are renumbered in order of first appearance, codegen
and adaptive query stage ids become ``#``, and the run-private store
dir, snapshot data dir tokens and bucketed table names become
placeholders.
"""

from __future__ import annotations

import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# run-private store so plan dumps reflect the store-backed (bucketed)
# consumer shape, as in the bench
os.environ.setdefault(
    "SPARK_GRAFT_SHARED_DIR",
    tempfile.mkdtemp(prefix="spark_graft_plans_store_"),
)

from instacart_medallion_lakehouse_spark import queries as q  # noqa: E402
from instacart_medallion_lakehouse_spark.session import build_session  # noqa: E402

_FIXED = [
    (re.compile(r"\[codegen id : \d+\]"), "[codegen id : #]"),
    # an adaptive query stage's or codegen stage's id (its node's
    # first ``Arguments:`` line)
    (
        re.compile(r"((?:\w+QueryStage|WholeStageCodegen \(\d+\))\n(?:[^\n]+\n)*?Arguments: )\d+"),
        r"\g<1>#",
    ),
    (re.compile(r"(_data/v\d{8}(?:cdf)?)_[0-9a-f]{8}"), r"\1_<token>"),
    (re.compile(r"bucketed_[0-9a-f]{16}"), "bucketed_<dir>"),
]


def _renumber(pattern: str, plan: str) -> str:
    """Each distinct number captured by ``pattern`` replaced by its rank
    of first appearance."""
    ranks: dict[str, str] = {}

    def sub(m: re.Match) -> str:
        n = ranks.setdefault(m.group(2), str(len(ranks) + 1))
        return m.group(1) + n

    return re.sub(pattern, sub, plan)


def normalize(plan: str, store: str) -> str:
    """``plan`` with everything that varies between runs of one commit
    replaced (see the module docstring)."""
    plan = plan.replace(os.path.abspath(store), "<store>")
    for pattern, repl in _FIXED:
        plan = pattern.sub(repl, plan)
    plan = _renumber(r"(#)(\d+)", plan)
    return _renumber(r"(plan_id=)(\d+)", plan)


def main() -> None:
    outdir, tag = sys.argv[1], sys.argv[2]
    rest = sys.argv[3:]
    if rest and os.path.isdir(rest[0]):
        sf_dir, names = rest[0], rest[1:]
    else:
        sf_dir, names = "/root/testdata/sf0.1", rest
    os.makedirs(outdir, exist_ok=True)
    spark = build_session("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    reg = q.queries()
    unknown = [n for n in names if n not in reg]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    for n in names:
        df = reg[n](spark, sf_dir)
        plan = normalize(
            df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            ),
            os.environ["SPARK_GRAFT_SHARED_DIR"],
        )
        path = os.path.join(outdir, f"{n}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        q.release_pins()
        print(f"wrote {path} ({len(plan)} chars)")
    q.clear_shared_store()  # drop the run-private store directory
    spark.stop()


if __name__ == "__main__":
    main()
