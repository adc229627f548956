"""Known-answer tests for the text-analysis and dedup operators on a
tiny hand-built corpus (planted exact dup, near dup, and distinct docs).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from instacart_medallion_lakehouse_spark.functions import text as T
from instacart_medallion_lakehouse_spark.operators import dedup

BASE = "the quick brown fox jumps over the lazy dog near the river bank today"
NEAR = "the quick brown fox jumps over the lazy cat near the river bank today"
OTHER = "completely different words appear here without any overlap at all whatsoever now"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact duplicate of 0 (modulo case/whitespace below)
        (2, "  " + BASE.upper() + "  "),  # normalizes to same fingerprint
        (3, NEAR),  # one-token-off near duplicate
        (4, OTHER),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestTextFunctions:
    def test_tokens_trim_and_split(self, spark):
        df = spark.createDataFrame([("  a  b   c ",)], "text string")
        assert df.select(T.tokens(F.col("text")).alias("t")).first()["t"] == [
            "a",
            "b",
            "c",
        ]

    def test_shingles_short_doc_empty(self, spark):
        df = spark.createDataFrame(
            [(0, "a b"), (1, "a b c")], "doc_id long, text string"
        )
        out = [tuple(r) for r in dedup.shingle_table(df, 3, "doc_id").collect()]
        assert out == [(1, "a b c")]

    def test_fingerprint_normalizes(self, spark, docs):
        fps = {
            r["doc_id"]: r["fp"]
            for r in docs.select(
                "doc_id", T.fingerprint(F.col("text")).alias("fp")
            ).collect()
        }
        assert fps[0] == fps[1] == fps[2]
        assert fps[0] != fps[3]

    def test_predicted_lang(self, spark):
        rows = [
            ("the cat is in the house and it is warm",),
            ("el gato es de la casa y es bueno",),
            ("le chat est de la maison et est bon",),
            ("der hund und die katze das ist gut",),
            ("xyzzy plugh qwerty",),
        ]
        df = spark.createDataFrame(rows, "text string")
        out = [
            r["p"]
            for r in df.select(
                T.predicted_lang(F.col("text"), T.tokens(F.col("text"))).alias("p")
            ).collect()
        ]
        assert out == ["en", "es", "fr", "de", "und"]

    def test_bpe_ish_tokens(self, spark):
        df = spark.createDataFrame([("Hello world42 foo-bar!",)], "text string")
        toks = df.select(T.bpe_ish_tokens(F.col("text")).alias("t")).first()["t"]
        assert toks == ["hello", "world", "42", "foo", "-", "bar", "!"]


class TestExactDedup:
    def test_flags_duplicates_keeps_canonical(self, docs):
        out = {
            r["doc_id"]: (r["canonical_doc_id"], r["is_duplicate"])
            for r in dedup.exact_duplicates(docs).collect()
        }
        assert out[0] == (0, False)
        assert out[1] == (0, True)
        assert out[2] == (0, True)
        assert out[3] == (3, False)
        assert out[4] == (4, False)


class TestNearDup:
    def test_ngram_jaccard_finds_planted_pair(self, docs):
        pairs = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in dedup.ngram_jaccard_pairs(docs, threshold=0.3).collect()
        }
        assert (0, 3) in pairs
        assert 0.3 <= pairs[(0, 3)] < 1.0
        assert (0, 4) not in pairs
        # exact dups have jaccard 1.0
        assert pairs[(0, 1)] == 1.0

    def test_minhash_lsh_finds_planted_pair(self, docs):
        pairs = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in dedup.minhash_lsh_pairs(docs, threshold=0.3).collect()
        }
        assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
        assert (0, 3) in pairs
        assert (0, 4) not in pairs

    def test_minhash_signature_seeds_differ(self, spark, docs):
        # seeds must produce DIFFERENT hash families (a seed bug makes
        # all k signatures of a document identical)
        row = dedup.minhash_signatures(
            dedup.shingle_table(docs, 3, "doc_id"), 4
        ).first()
        sigs = [row[f"sig_{i}"] for i in range(4)]
        assert len(set(sigs)) > 1

    def test_simhash_identical_docs_hamming_zero(self, docs):
        pairs = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in dedup.simhash_pairs(docs, max_hamming=3).collect()
        }
        assert pairs[(0, 1)] == 0
        # near-dup differs by one token → small but possibly >3 hamming;
        # just assert the unrelated doc is not a 0-distance collision
        assert pairs.get((0, 4), 99) != 0

    def test_simhash_band_sides_share_one_signature_shuffle(self, docs):
        # simhash_pairs is not pinned because both band sides reuse one
        # exchange. Check it at runtime, on AQE's final plan.
        out = dedup.simhash_pairs(docs, max_hamming=3)
        assert (0, 1) in {(r["id_a"], r["id_b"]) for r in out.collect()}
        plan = out._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert "isFinalPlan=true" in final
        reused = [ln for ln in final.splitlines() if "ReusedExchange" in ln]
        # the per-document partial sums' shuffle is computed once ...
        assert len(reused) == 1 and "hashpartitioning(doc_id" in reused[0], reused
        # ... so the text is tokenized once for the token stream and once
        # for the md5 dictionary, not again for the second side
        assert final.count("explode(split(") == 2

    def test_simhash_is_order_invariant(self, spark):
        df = spark.createDataFrame(
            [(0, "alpha beta gamma delta"), (1, "delta gamma beta alpha")],
            "doc_id long, text string",
        )
        sigs = {r["doc_id"]: r["simhash"] for r in dedup.simhash_table(df).collect()}
        assert sigs[0] == sigs[1]


class TestPrefixFilter:
    def test_prefix_filtered_output_identical_to_naive(self, spark, sf_dir):
        # real corpus slice: the prefix filter must be EXACT (recall 1)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        naive = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
        }
        filtered = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in dedup.ngram_jaccard_pairs(
                docs, threshold=0.5, prefix_filter=True
            ).collect()
        }
        assert naive == filtered
        assert len(naive) > 0

    def test_prefix_filter_low_threshold(self, docs):
        naive = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in dedup.ngram_jaccard_pairs(docs, threshold=0.3).collect()
        }
        filtered = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in dedup.ngram_jaccard_pairs(
                docs, threshold=0.3, prefix_filter=True
            ).collect()
        }
        assert naive == filtered


class TestWinnowing:
    def test_guarantee_shared_run_implies_shared_fingerprint(self, spark):
        # two docs sharing a run of k+w-1 = 7 tokens MUST share >= 1
        # fingerprint (the winnowing guarantee)
        from pyspark.sql import functions as F
        import unittest.mock as mock

        from instacart_medallion_lakehouse_spark import queries_text as qt

        shared = "alpha beta gamma delta epsilon zeta eta"
        df = spark.createDataFrame(
            [
                (1, f"unique1 xx {shared} yy zz"),
                (2, f"other prefix words {shared} tail"),
                (3, "completely different content with no overlap at all ok"),
            ],
            "doc_id long, text string",
        )
        with mock.patch.object(qt, "_t", lambda s, d, n: df):
            out = qt.winnowing_fingerprints(spark, "ignored")
        rows = {r.doc_id: r for r in out.collect()}
        assert rows[1].n_fingerprints >= 1
        # density ~ 2/(w+1): selected set far smaller than full k-grams
        for r in rows.values():
            assert r.n_fingerprints <= r.n_kgrams
        # recompute fingerprint SETS to check the overlap guarantee
        from instacart_medallion_lakehouse_spark.functions.text import tokens

        def fps(doc_text):
            toks = doc_text.split()
            import hashlib

            ks = [
                hashlib.md5(" ".join(toks[i : i + 4]).encode()).hexdigest()[:16]
                for i in range(len(toks) - 3)
            ]
            return {min(ks[i : i + 4]) for i in range(len(ks) - 3)}

        s1, s2, s3 = (fps(t) for _, t in [
            (1, f"unique1 xx {shared} yy zz"),
            (2, f"other prefix words {shared} tail"),
            (3, "completely different content with no overlap at all ok"),
        ])
        assert s1 & s2, "7-token shared run must share a fingerprint"
        assert not (s1 & s3)


class TestLongRunOverlap:
    def test_planted_verbatim_passage_detected(self, spark):
        import unittest.mock as mock

        from instacart_medallion_lakehouse_spark import queries_text as qt

        passage = " ".join(f"w{i}" for i in range(25))  # 25-token run
        df = spark.createDataFrame(
            [
                (1, f"intro {passage} outro"),
                (2, f"different beginning here {passage}"),
                (3, " ".join(f"x{i}" for i in range(40))),
            ],
            "doc_id long, text string",
        )
        with mock.patch.object(qt, "_t", lambda s, d, n: df):
            pairs = {(r.id_a, r.id_b): r.n_shared_runs
                     for r in qt.long_run_overlap(spark, "ignored").collect()}
        assert (1, 2) in pairs  # the verbatim passage is caught
        assert pairs[(1, 2)] >= 25 - 20 + 1  # every window inside it
        assert not any(3 in k for k in pairs)


class TestDupSpanCoverage:
    def test_coverage_counts_cross_doc_runs_only(self, spark):
        from instacart_medallion_lakehouse_spark.queries import _QUERIES

        # 25-token docs: doc 1 and 2 share their first 22 tokens (runs
        # at starts 0,1,2 duplicated -> positions 0..21 covered); doc 3
        # is disjoint; doc 4 repeats a run WITHIN itself only (not
        # cross-doc -> not counted)
        shared = " ".join(f"w{i}" for i in range(22))
        rows = [
            (1, shared + " a1 a2 a3"),
            (2, shared + " b1 b2 b3"),
            (3, " ".join(f"z{i}" for i in range(25))),
            (4, " ".join(f"r{i % 20}" for i in range(40))),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        import instacart_medallion_lakehouse_spark.queries_text  # noqa: F401
        fn = _QUERIES["dup_span_coverage"]
        import os
        import tempfile
        with tempfile.TemporaryDirectory() as d:
            docs.write.parquet(os.path.join(d, "documents.parquet"))
            out = {r["doc_id"]: r for r in fn(spark, d).collect()}
        assert out[1]["n_tokens"] == 25 and out[1]["n_dup_tokens"] == 22
        assert out[2]["n_dup_tokens"] == 22
        assert out[1]["dup_ratio"] == 0.88
        assert out[3]["n_dup_tokens"] == 0 and out[3]["dup_ratio"] == 0.0
        # within-doc repetition alone is NOT cross-doc duplication
        assert out[4]["n_dup_tokens"] == 0


class TestDedupSpansText:
    def test_canonical_keeps_text_duplicate_loses_span(self, spark):
        import hashlib
        import os
        import tempfile

        from instacart_medallion_lakehouse_spark.queries import _QUERIES

        shared = " ".join(f"w{i}" for i in range(22))
        rows = [
            (1, shared + " a1 a2 a3"),  # canonical (min doc id): untouched
            (2, shared + " b1 b2 b3"),  # loses positions 0..21
            (3, " ".join(f"z{i}" for i in range(25))),  # disjoint: untouched
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        import instacart_medallion_lakehouse_spark.queries_text  # noqa: F401
        fn = _QUERIES["dedup_spans_text"]
        with tempfile.TemporaryDirectory() as d:
            docs.write.parquet(os.path.join(d, "documents.parquet"))
            out = {r["doc_id"]: r for r in fn(spark, d).collect()}

        def h(text):
            return hashlib.md5(text.encode()).hexdigest()

        assert out[1]["n_kept"] == 25
        assert out[1]["kept_md5"] == h(rows[0][1])  # canonical untouched
        assert out[2]["n_kept"] == 3
        assert out[2]["kept_md5"] == h("b1 b2 b3")  # span removed, tail kept
        assert out[3]["n_kept"] == 25 and out[3]["kept_md5"] == h(rows[2][1])


class TestIncrementalSpanDedup:
    """Invariants for incremental_span_dedup (cross-engine equality is
    the oracle gate's job; these pin the semantics the oracle can't)."""

    def test_batch_scope_and_bounds(self, spark, sf_dir):
        from instacart_medallion_lakehouse_spark.queries import _QUERIES

        rows = _QUERIES["incremental_span_dedup"](spark, sf_dir).collect()
        assert rows, "batch side must be non-empty at this sf"
        for r in rows:
            # batch membership: md5 split >= 'cd'
            import hashlib

            assert (
                hashlib.md5(str(r.doc_id).encode()).hexdigest()[:2] >= "cd"
            ), r.doc_id
            assert r.n_tokens == r.n_runs + 19
            assert 0 <= r.n_hit_runs <= r.n_runs
            assert 0 <= r.n_covered_tokens <= r.n_tokens
            # a hit run covers 20 positions, so coverage and hit count
            # must agree on zero-ness
            assert (r.n_hit_runs == 0) == (r.n_covered_tokens == 0)
            ratio = r.n_covered_tokens / r.n_tokens
            want = (
                "quarantine"
                if ratio >= 0.5
                else ("flag" if ratio >= 0.2 else "keep")
            )
            assert r.action == want, (r.doc_id, ratio, r.action)

    def test_planted_index_duplicate_is_quarantined(self, spark):
        import unittest.mock as mock

        from instacart_medallion_lakehouse_spark import queries_text as qx

        # find one doc_id on each side of the md5 split
        import hashlib

        idx_id = next(
            i for i in range(1000)
            if hashlib.md5(str(i).encode()).hexdigest()[:2] < "cd"
        )
        new_id = next(
            i for i in range(1000)
            if hashlib.md5(str(i).encode()).hexdigest()[:2] >= "cd"
        )
        body = " ".join(f"w{k}" for k in range(25))
        docs = spark.createDataFrame(
            [(idx_id, body), (new_id, body + " fresh tail " + "x " * 5)],
            "doc_id long, text string",
        )
        with mock.patch.object(qx, "shared_positioned_runs") as sr:
            from instacart_medallion_lakehouse_spark.functions.text import (
                tokens,
            )
            from pyspark.sql import Window

            ex = docs.select(
                "doc_id",
                F.posexplode(tokens(F.col("text"))).alias("_pos", "_tok"),
            )
            w = Window.partitionBy("doc_id").orderBy("_pos")
            parts = [F.col("_tok")] + [
                F.lead("_tok", i).over(w) for i in range(1, 20)
            ]
            sr.return_value = (
                ex.select(
                    "doc_id",
                    "_pos",
                    F.md5(F.concat_ws(" ", *parts)).alias("h"),
                    parts[-1].alias("_last"),
                )
                .filter(F.col("_last").isNotNull())
                .drop("_last")
            )
            out = {
                r.doc_id: r
                for r in qx.incremental_span_dedup(spark, "ignored").collect()
            }
        # only the NEW doc reports; its 25 planted tokens are covered
        assert set(out) == {new_id}
        r = out[new_id]
        assert r.n_covered_tokens == 25
        assert r.action in ("quarantine", "flag")
        # 25 covered of 32 tokens -> 78% -> quarantine
        assert r.action == "quarantine"


class TestStopShingleCap:
    def test_capped_equals_uncapped_when_cap_exceeds_all_df(
        self, spark, sf_dir
    ):
        # a cap above every shingle's document frequency must change
        # NOTHING: same pairs, same exact jaccard values
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        ex = dedup.shingle_table(docs, 3, "doc_id")
        uncapped = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
        }
        capped = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in dedup.ngram_jaccard_pairs_capped(
                ex, threshold=0.5, max_df=10**9
            ).collect()
        }
        assert capped == uncapped
        assert len(capped) > 0

    def test_hot_shingles_excluded_from_candidates_only(self, spark):
        # corpus: every doc shares the hot boilerplate phrase
        # "all rights reserved worldwide" (df = n_docs); docs 0 and 1
        # additionally share unique content. With max_df=3 the hot
        # shingles drop out of the similarity universe; the (0,1) pair
        # is found via its rare content shingles and scores jaccard
        # over the CAPPED sets (identical docs -> identical capped
        # sets -> 1.0).
        boiler = "all rights reserved worldwide forever"
        rows = [
            (0, f"alpha beta gamma delta epsilon {boiler}"),
            (1, f"alpha beta gamma delta epsilon {boiler}"),
            (2, f"one two three four five six {boiler}"),
            (3, f"seven eight nine ten eleven twelve {boiler}"),
            (4, f"red orange yellow green blue indigo {boiler}"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        ex = dedup.shingle_table(docs, 3, "doc_id")
        capped = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in dedup.ngram_jaccard_pairs_capped(
                ex, threshold=0.5, max_df=3
            ).collect()
        }
        assert (0, 1) in capped
        assert capped[(0, 1)] == 1.0  # identical docs: capped-set jaccard
        # pairs whose entire overlap is the hot boilerplate are the
        # documented recall loss: (2,3) share ONLY boilerplate shingles
        # and fall below threshold anyway, but must also produce no
        # candidate at all
        assert all(p == (0, 1) for p in capped)


class TestHashBandTableExtras:
    def test_extra_cols_ride_the_explode_and_project_back(self, spark):
        """r12 single-asset fingerprint stores: _hash_band_table's
        extra_cols carries signature-level metadata (n_frames) through
        the band explode, so the idx=0 projection reproduces the
        signature table exactly — the contract audio_fp_table /
        video_fp_table rely on when the bucketed band store is the
        family's only persisted asset."""
        from pyspark.sql import functions as F

        sig = spark.createDataFrame(
            [(1, 0b1010_0001, 32), (2, 0b0110_1111, 7)],
            "doc_id long, fp long, n_frames int",
        )
        bands = dedup._hash_band_table(
            sig, "fp", n_bands=4, band_bits=2, id_col="doc_id",
            extra_cols=("n_frames",),
        )
        rows = bands.collect()
        # 4 band rows per doc, each carrying the doc's metadata + full hash
        assert len(rows) == 8
        per_doc = {}
        for r in rows:
            per_doc.setdefault(r["_id"], set()).add(
                (r["idx"], r["val"], r["_sh"], r["n_frames"])
            )
        assert {i for i, *_ in per_doc[1]} == {0, 1, 2, 3}
        assert all(nf == 32 for *_, nf in per_doc[1])
        assert all(sh == 0b1010_0001 for _, _, sh, _ in per_doc[1])
        # band values are the band_bits-wide slices of the hash
        assert {(i, v) for i, v, *_ in per_doc[2]} == {
            (0, 0b11), (1, 0b11), (2, 0b10), (3, 0b01)
        }
        # the signature face projects back out of the band table
        face = (
            bands.filter(F.col("idx") == 0)
            .select(
                F.col("_id").alias("doc_id"),
                "n_frames",
                F.col("_sh").alias("fp"),
            )
        )
        assert sorted(map(tuple, face.collect())) == sorted(
            map(tuple, sig.select("doc_id", "n_frames", "fp").collect())
        )
