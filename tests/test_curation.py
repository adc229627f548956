"""End-to-end training-data curation: scoring, filtering, exact and
near dedup, attrition accounting, idempotence.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from instacart_medallion_lakehouse_spark import curation
from instacart_medallion_lakehouse_spark.versioned import read_versioned


@pytest.fixture(scope="module")
def result(spark, sf_dir, tmp_path_factory):
    out = tmp_path_factory.mktemp("curation")
    return out, curation.run_curation(spark, sf_dir, str(out))


class TestCuration:
    def test_attrition_is_monotone(self, result):
        _, res = result
        assert (
            res.n_raw
            == res.n_scored
            >= res.n_quality_pass
            >= res.n_after_exact_dedup
            >= res.n_after_near_dedup
            > 0
        )

    def test_curated_meets_quality_floor(self, spark, result):
        out, _ = result
        curated = read_versioned(spark, str(out / "gold" / "documents_curated"))
        assert curated.filter(F.col("quality_score") < 0.5).count() == 0

    def test_no_exact_duplicates_survive(self, spark, result):
        out, _ = result
        curated = read_versioned(spark, str(out / "gold" / "documents_curated"))
        assert (
            curated.count()
            == curated.select("fingerprint").distinct().count()
        )

    def test_no_near_duplicates_survive(self, spark, result):
        out, _ = result
        from instacart_medallion_lakehouse_spark.operators.dedup import (
            minhash_lsh_pairs,
        )

        curated = read_versioned(spark, str(out / "gold" / "documents_curated"))
        assert minhash_lsh_pairs(curated, threshold=0.8).count() == 0

    def test_rerun_is_idempotent(self, spark, sf_dir, result):
        out, first = result
        second = curation.run_curation(spark, sf_dir, str(out))
        assert second.stage_counts == first.stage_counts

    def test_synthetic_near_dups_are_dropped(self, spark):
        base = "the quick brown fox jumps over the lazy dog and runs far away today again"
        fillers = [
            "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu",
            "one two three four five six seven eight nine ten eleven twelve",
            "red orange yellow green blue indigo violet crimson amber teal navy plum",
            "north south east west upward downward inward outward forward backward sideways around",
        ]
        rows = [(0, base), (1, base.replace("dog", "cat"))] + [
            (i + 2, text) for i, text in enumerate(fillers)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        kept = curation.drop_near_duplicates(docs, threshold=0.5)
        ids = {r["doc_id"] for r in kept.collect()}
        assert 0 in ids and 1 not in ids  # near-dup loses, canonical survives
        assert {2, 3, 4, 5} <= ids


class TestTrainingAssembly:
    def test_end_to_end_commit_and_determinism(self, spark, sf_dir, tmp_path):
        from instacart_medallion_lakehouse_spark import versioned as V
        from instacart_medallion_lakehouse_spark.curation import (
            run_training_assembly,
        )

        out = str(tmp_path / "assembly")
        res = run_training_assembly(spark, sf_dir, out)
        assert res.version == 1
        assert res.n_curated <= res.n_raw
        assert set(res.split_counts) <= {"train", "val", "test"}
        assert res.n_train > 0 and res.n_packs > 0
        snap = V.read_versioned(spark, f"{out}/training_set")
        assert snap.count() == sum(res.split_counts.values())
        # partition layout on disk (pruned reads per split)
        import glob

        assert glob.glob(f"{out}/training_set/_data/v00000001_*/split=*")

        # rerun commits version 2 with an IDENTICAL training set
        res2 = run_training_assembly(spark, sf_dir, out)
        assert res2.version == 2
        diff = V.diff_versions(
            spark, f"{out}/training_set", 1, 2, key=["doc_id"]
        )
        assert diff.count() == 0
