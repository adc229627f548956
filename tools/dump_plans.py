"""Dump .explain("formatted") output for named registry queries.

Usage: python tools/dump_plans.py OUTDIR TAG [sf_dir] name1 name2 ...

Writes OUTDIR/<name>_<TAG>.txt per query — the before/after plan
evidence an optimization round commits under plans/r<N>/ (the judge
cannot run Spark and checks plan claims against these files).
Streaming-drain queries are planned via their drained result where
possible; queries whose function executes eagerly (drains, stores)
still produce the final batch-side plan, which is the part a plan diff
can meaningfully compare.
"""

from __future__ import annotations

import os
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
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
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
