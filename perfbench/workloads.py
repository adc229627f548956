"""The benchmark's workloads: one closed-loop client, one operation at a
time, repeated in cycles until the measuring window ends.

``medallion_refresh``
    One cycle runs ``pipeline.run_medallion`` (bronze -> silver -> gold,
    gold committed as versions) into a fresh root, then commits
    ``MERGES_PER_CYCLE`` seed-generated ``upsert_versioned`` MERGE
    batches into gold ``dim_customers``, reading each new version back.
``dedup_store``
    One cycle clears the derived-table store, runs its two build
    entries, then the store consumers plus ``simhash_dedup`` (which
    bypasses the store) in a seed-shuffled order, each pulled to the
    client as Arrow.

Inputs are generated from a fixed data seed, so the expected results
can be recorded once; the run seed orders the consumers and generates
the MERGE batches.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
import oracle
from spans import Tracer, dir_bytes

DATA_SEED = 42
# the smallest scale of the engine's test data (FIXTURES.md, section B)
STAR_SF = 0.001
N_DOCS = 500
MERGES_PER_CYCLE = 2
MERGE_CHANGED_SHARE = 0.01
MERGE_NEW_KEYS = 3

DEDUP_BUILDS = ["shingle_index_table", "minhash_signature_table"]
DEDUP_STORE_CONSUMERS = [
    "ngram_jaccard_dedup",
    "ngram_jaccard_dedup_capped",
    "containment_pairs",
    "minhash_lsh_dedup",
    "lsh_bucket_profile",
    "dedup_clusters",
    "cluster_canonicals",
]
DEDUP_BYPASS = ["simhash_dedup"]
DEDUP_ORACLED = DEDUP_BUILDS + DEDUP_STORE_CONSUMERS + DEDUP_BYPASS
DEDUP_CORPUS = {"data_seed": DATA_SEED, "n_docs": N_DOCS}

# gold mart -> registry query whose oracle it must equal
GOLD_TWINS = {
    "mart_region_performance": "region_performance",
    "mart_return_velocity": "return_velocity",
    "dim_parts": "dim_parts_rollup",
    "dim_customers": "dim_customers_rollup",
}
DIM_KEY = "o_custkey"
DIM_SCHEMA = pa.schema([
    ("o_custkey", pa.int64()),
    ("total_orders", pa.int64()),
    ("total_items", pa.int64()),
    ("max_basket_size", pa.int64()),
    ("avg_basket_size", pa.float64()),
    ("avg_return_rate", pa.float64()),
    ("lifetime_value", pa.float64()),
    ("customer_segment", pa.string()),
])


class Context:
    """State one benchmark process shares between set-up and cycles."""

    def __init__(self, work: str, seed: int, tracer: Tracer) -> None:
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.data_dir = os.path.join(work, "data")
        self.spark = None
        self.input_bytes = 0
        self.ops: list[dict] = []
        self.mismatches: list[str] = []

    def run_op(self, kind: str, cycle: int, fn):
        """Time one operation; a raised exception counts it as failed."""
        op_id = f"c{cycle}:{kind}:{len(self.ops)}"
        tracer = self.tracer
        tracer.op = op_id
        if tracer.enabled:
            self.spark.sparkContext.setJobGroup(op_id, kind)
        out, ok = None, True
        t0 = time.perf_counter()
        try:
            with tracer.span("op"):
                out = fn()
        except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            ok = False
        seconds = time.perf_counter() - t0
        rec = {"kind": kind, "cycle": cycle, "seconds": seconds, "ok": ok,
               "traced": tracer.enabled, "op": op_id}
        if tracer.enabled:
            with tracer.span("trace.bookkeeping"):
                rec.update(spark_counts(self.spark, op_id))
        tracer.op = None
        self.ops.append(rec)
        return out, rec


def spark_counts(spark, group: str) -> dict:
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            stage = st.getStageInfo(s)
            if stage is not None:
                stages += 1
                tasks += stage.numTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def store_bytes(ctx: Context) -> int:
    """Bytes of the derived-table store: its directory plus the
    warehouse that holds its bucketed tables."""
    return dir_bytes(os.environ["SPARK_GRAFT_SHARED_DIR"]) + dir_bytes(
        os.path.join(ctx.work, "warehouse")
    )


def warm_up(spark, work: str) -> None:
    """Warm the JVM, the parquet reader and writer, and the Python
    worker path on throwaway data."""
    spark.range(200_000).selectExpr("sum(id)").collect()
    tmp = os.path.join(work, "warmup")
    tiny = spark.range(1000).selectExpr("id", "id % 7 AS k", "cast(id AS string) AS s")
    tiny.write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp).groupBy("k").count().toArrow()
    shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# medallion_refresh
# ---------------------------------------------------------------------------


class MedallionRefresh:
    name = "medallion_refresh"

    def prepare(self, ctx: Context) -> None:
        rng = np.random.default_rng(DATA_SEED)
        tables = datagen.star_tables(STAR_SF, rng)
        ctx.input_bytes = datagen.write_tables(ctx.data_dir, tables)
        self.row_counts = {t: tables[t].num_rows for t in datagen.STAR_TABLES}
        self.gold_counts = None  # of the first refresh; later ones must match
        self.last_root = None  # output root of the newest complete cycle
        keys = np.unique(tables["orders"]["o_custkey"].to_numpy())
        self.batches = self._merge_batches(ctx, keys, tables["customer"].num_rows)

    def _merge_batches(self, ctx: Context, keys: np.ndarray, n_cust: int) -> list[dict]:
        rng = np.random.default_rng(ctx.seed)
        n_changed = max(1, int(len(keys) * MERGE_CHANGED_SHARE))
        batches = []
        for i in range(MERGES_PER_CYCLE):
            changed = rng.choice(keys, n_changed, replace=False)
            new = n_cust + 1000 * i + np.arange(MERGE_NEW_KEYS)
            k = np.concatenate([changed, new]).astype(np.int64)
            n = len(k)
            orders = rng.integers(1, 40, n)
            table = pa.table({
                "o_custkey": k,
                "total_orders": orders,
                "total_items": orders * rng.integers(1, 8, n),
                "max_basket_size": rng.integers(1, 8, n),
                "avg_basket_size": np.round(rng.uniform(1, 7, n), 2),
                "avg_return_rate": np.round(rng.uniform(0, 1, n), 4),
                "lifetime_value": np.round(rng.uniform(1000, 9e6, n), 2),
                "customer_segment": pa.array(
                    np.asarray(["new", "regular", "loyal"], dtype=object)[rng.integers(0, 3, n)]
                ),
            }, schema=DIM_SCHEMA)
            path = os.path.join(ctx.work, "batches", f"merge_{i}.parquet")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            pq.write_table(table, path)
            batches.append({"path": path, "table": table, "bytes": os.path.getsize(path)})
        return batches

    def cycle(self, ctx: Context, k: int) -> None:
        from instacart_medallion_lakehouse_spark import pipeline, versioned

        spark = ctx.spark
        root = os.path.join(ctx.work, "out", f"cycle{k}")
        result, rec = ctx.run_op(
            "refresh", k,
            lambda: pipeline.run_medallion(spark, ctx.data_dir, root, versioned_gold=True),
        )
        if not rec["ok"]:
            return
        self._check_counts(ctx, k, result)
        dim_root = os.path.join(root, "gold", "dim_customers")
        base_rows = result.gold_counts["dim_customers"]
        new_total = 0
        for i, batch in enumerate(self.batches):
            def merge(batch=batch):
                updates = spark.read.parquet(batch["path"])
                versioned.upsert_versioned(spark, dim_root, updates, key=[DIM_KEY])
                with ctx.tracer.span("bench.readback"):
                    return versioned.read_versioned(spark, dim_root).count()

            n, rec = ctx.run_op("merge", k, merge)
            if not rec["ok"]:
                return
            new_total += MERGE_NEW_KEYS
            if n != base_rows + new_total:
                ctx.mismatches.append(
                    f"cycle {k} merge {i}: {n} rows read back, expected {base_rows + new_total}"
                )
        self.last_root = root

    def end_cycle(self, ctx: Context, k: int) -> None:
        """Keep only the newest complete cycle's root on disk."""
        out = os.path.join(ctx.work, "out")
        for d in os.listdir(out):
            if os.path.join(out, d) != self.last_root:
                shutil.rmtree(os.path.join(out, d), ignore_errors=True)

    def stored_bytes(self, ctx: Context) -> int:
        return dir_bytes(self.last_root) if self.last_root else 0

    def _check_counts(self, ctx: Context, k: int, result) -> None:
        for layer in ("bronze_counts", "silver_counts"):
            got = getattr(result, layer)
            if got != self.row_counts:
                ctx.mismatches.append(f"cycle {k} {layer}: {got} != {self.row_counts}")
        if self.gold_counts is None:
            self.gold_counts = result.gold_counts
        elif result.gold_counts != self.gold_counts:
            ctx.mismatches.append(f"cycle {k} gold_counts changed: {result.gold_counts}")

    def check(self, ctx: Context) -> None:
        """Gold marts against their oracle twins and the MERGEd
        dimension against the seed's batches, on the last cycle."""
        from instacart_medallion_lakehouse_spark import versioned

        if self.last_root is None:
            return
        con = oracle.duckdb_views(ctx.data_dir, list(datagen.STAR_TABLES))
        gold = os.path.join(self.last_root, "gold")
        expected_counts = {"fct_lineitem": self.row_counts["lineitem"]}
        for mart, twin in GOLD_TWINS.items():
            want = oracle.oracle_table(con, twin)
            expected_counts[mart] = want.num_rows
            got = versioned.read_versioned(ctx.spark, os.path.join(gold, mart), version=1)
            self._compare(ctx, f"gold {mart} vs {twin}", got.toArrow(), want)
        if self.gold_counts != expected_counts:
            ctx.mismatches.append(f"gold_counts {self.gold_counts} != {expected_counts}")
        dim = {r[DIM_KEY]: r for r in oracle.oracle_table(con, "dim_customers_rollup").to_pylist()}
        for batch in self.batches:
            for r in batch["table"].to_pylist():
                dim[r[DIM_KEY]] = r
        want = pa.Table.from_pylist(list(dim.values()), schema=DIM_SCHEMA)
        got = versioned.read_versioned(ctx.spark, os.path.join(gold, "dim_customers"))
        self._compare(ctx, "dim_customers after MERGE", got.toArrow(), want)

    @staticmethod
    def _compare(ctx: Context, what: str, got, want) -> None:
        g, w = oracle.arrow_digest(got), oracle.arrow_digest(want)
        if g != w:
            ctx.mismatches.append(f"{what}: {g} != {w}")


# ---------------------------------------------------------------------------
# dedup_store
# ---------------------------------------------------------------------------


def dedup_corpus() -> dict:
    return {"documents": datagen.documents_table(N_DOCS, np.random.default_rng(DATA_SEED))}


class DedupStore:
    name = "dedup_store"

    def prepare(self, ctx: Context) -> None:
        ctx.input_bytes = datagen.write_tables(ctx.data_dir, dedup_corpus())
        self.order_rng = random.Random(ctx.seed)
        self.results: list[tuple[str, object]] = []

    def cycle(self, ctx: Context, k: int) -> None:
        from instacart_medallion_lakehouse_spark import pins
        from instacart_medallion_lakehouse_spark import queries as q

        spark, tracer = ctx.spark, ctx.tracer
        with tracer.span("store.clear"):
            q.clear_shared_store()
        consumers = DEDUP_STORE_CONSUMERS + DEDUP_BYPASS
        self.order_rng.shuffle(consumers)
        registry = q.queries()
        for name in DEDUP_BUILDS + consumers:
            def op(fn=registry[name]):
                with tracer.span("queries.plan"):
                    df = fn(spark, ctx.data_dir)
                with tracer.span("queries.exec"):
                    return df.toArrow()

            table, rec = ctx.run_op(name, k, op)
            if tracer.enabled:
                with tracer.span("trace.bookkeeping"):
                    rec["pinned"] = pins.pinned_count()
                    rec["cached_bytes"] = sum(
                        i.memSize() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
                    )
            with tracer.span("pins.release"):
                pins.release_pins()
            if rec["ok"]:
                self.results.append((name, table))

    def end_cycle(self, ctx: Context, k: int) -> None:
        pass

    def stored_bytes(self, ctx: Context) -> int:
        return store_bytes(ctx)

    def check(self, ctx: Context) -> None:
        expected = oracle.load_expected()
        if {k: expected[k] for k in DEDUP_CORPUS} != DEDUP_CORPUS:
            ctx.mismatches.append("expected.json was recorded for another corpus")
            return
        for name, table in self.results:
            got = oracle.arrow_digest(table)
            if got != expected["queries"][name]:
                ctx.mismatches.append(f"{name}: {got} != {expected['queries'][name]}")


WORKLOADS = {w.name: w for w in (MedallionRefresh, DedupStore)}
