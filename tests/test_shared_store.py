"""queries.shared_table returns a stored scan when the store can key a
request, else the pinned fresh build. The text-dedup consumers read
either form as returned, so each must give the same rows with the store
off (SPARK_GRAFT_SHARED_DIR='') as with it on. The corpus comes from
the benchmark's generator, so these run without the driver testdata."""

from __future__ import annotations

import importlib.util
import os

import numpy as np
import pytest

from instacart_medallion_lakehouse_spark import queries as q

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CONSUMERS = [
    "ngram_jaccard_dedup",
    "ngram_jaccard_dedup_capped",
    "containment_pairs",
    "minhash_lsh_dedup",
    "dedup_clusters",
    "long_run_overlap",
    "span_dup_clusters",
    "incremental_minhash_dedup",
    "curated_docs_v2",
]


@pytest.fixture(scope="module")
def corpus(tmp_path_factory) -> str:
    spec = importlib.util.spec_from_file_location(
        "perfbench_datagen", os.path.join(ROOT, "perfbench", "datagen.py")
    )
    datagen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(datagen)
    out = tmp_path_factory.mktemp("store_corpus")
    docs = datagen.documents_table(200, np.random.default_rng(0))
    datagen.write_tables(str(out), {"documents": docs})
    return str(out)


@pytest.fixture(scope="module")
def store(tmp_path_factory) -> str:
    return str(tmp_path_factory.mktemp("store_on"))


@pytest.mark.parametrize("name", CONSUMERS)
def test_store_off_matches_store_on(spark, corpus, store, monkeypatch, name):
    fn = q.queries()[name]

    def rows() -> list[tuple]:
        out = sorted(map(tuple, fn(spark, corpus).collect()), key=repr)
        q.release_pins()
        return out

    monkeypatch.setenv("SPARK_GRAFT_SHARED_DIR", store)
    stored = rows()
    monkeypatch.setenv("SPARK_GRAFT_SHARED_DIR", "")
    fresh = rows()
    assert stored, f"{name}: empty on the generated corpus"
    assert fresh == stored
