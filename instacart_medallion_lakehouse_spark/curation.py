"""Training-data curation pipeline over the documents corpus.

The medallion pattern applied to LLM training data — the composition
that makes the dedup/text operators a PIPELINE rather than a toolbox:

  bronze   raw documents + lineage metadata
  silver   quality-scored, language-tagged, fingerprinted documents
  gold     curated corpus: quality-filtered, exact-deduped, near-dup
           clustered (MinHash-LSH) keeping one canonical doc per
           cluster, plus a per-stage attrition report

Every stage is DataFrame-native, and each persisted table commits as a
new version through quality.write_with_observed_gates, mirroring
pipeline.py's bronze→silver→gold contract. At 100 TB each stage is an
embarrassingly-parallel scan plus the LSH candidate join; nothing here
collects documents to the driver.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import quality
from .functions.scalar import dround
from .functions.text import (
    STOPWORDS,
    alpha_ratio,
    fingerprint,
    predicted_lang_from_hits,
    stopword_hits,
    tokens,
)
from .operators.dedup import minhash_lsh_pairs
from .pins import pin


@dataclass
class CurationResult:
    """Per-stage attrition accounting — the curation audit trail."""

    n_raw: int = 0
    n_scored: int = 0
    n_quality_pass: int = 0
    n_after_exact_dedup: int = 0
    n_after_near_dedup: int = 0
    stage_counts: dict = field(default_factory=dict)


def score_documents(docs: DataFrame) -> DataFrame:
    """Silver scoring pass: one narrow projection adds quality signals,
    predicted language, and the exact-dup fingerprint. Zero shuffles."""
    t = tokens(F.col("text"))
    hits = {lang: stopword_hits(t, ws) for lang, ws in STOPWORDS.items()}
    n_tokens = F.size(t)
    stop_ratio = hits["en"] * F.lit(1.0) / n_tokens
    distinct_ratio = F.size(F.array_distinct(t)) * F.lit(1.0) / n_tokens
    avg_tok = (
        F.aggregate(F.transform(t, F.length), F.lit(0), lambda a, x: a + x)
        * F.lit(1.0)
        / n_tokens
    )
    score = (
        F.when(n_tokens.between(10, 1000), 0.25).otherwise(0.0)
        + F.when((avg_tok >= 3) & (avg_tok <= 12), 0.25).otherwise(0.0)
        + F.when(stop_ratio >= 0.03, 0.25).otherwise(0.0)
        + F.when(distinct_ratio >= 0.3, 0.25).otherwise(0.0)
    )
    scored = docs.select(
        "*",
        n_tokens.alias("n_tokens"),
        *[h.alias(f"_h_{lang}") for lang, h in hits.items()],
        dround(alpha_ratio(F.col("text")), 4).alias("alpha_ratio"),
        dround(score, 2).alias("quality_score"),
        fingerprint(F.col("text")).alias("fingerprint"),
    )
    return scored.withColumn(
        "predicted_lang",
        predicted_lang_from_hits(
            F.col("text"),
            F.col("_h_en"),
            F.col("_h_es"),
            F.col("_h_fr"),
            F.col("_h_de"),
        ),
    ).drop(*[f"_h_{lang}" for lang in STOPWORDS])


def repetition_table(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, rep_ratio) per document: the share of its bigrams taken by
    the single most frequent bigram (Gopher-style repetition signal).
    Docs with fewer than two tokens emit no row — join with a left and
    coalesce to 0 when filtering. Shared by the repetition_ratio query
    and curated_docs_v2 (one definition, no engine-side drift)."""
    tok = docs.select(
        id_col,
        F.posexplode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("pos", "term"),
    ).filter(F.col("term") != "")
    w = Window.partitionBy(id_col).orderBy("pos")
    big = tok.select(
        id_col, F.col("term").alias("t1"), F.lead("term").over(w).alias("t2")
    ).filter(F.col("t2").isNotNull())
    return (
        big.groupBy(id_col, "t1", "t2")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy(id_col)
        .agg((F.max("n") * F.lit(1.0) / F.sum("n")).alias("rep_ratio"))
    )


def contamination_flags(
    docs: DataFrame,
    bench_max_id: int = 10,
    overlap_threshold: float = 0.2,
    id_col: str = "doc_id",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Distinct ids of corpus docs (id >= bench_max_id) sharing at least
    ``overlap_threshold`` of some benchmark doc's (id < bench_max_id)
    3-token shingles. The benchmark side is tiny and broadcasts; the
    corpus never shuffles for candidate generation. Shared by the
    benchmark_contamination query and curated_docs_v2.

    ``shingles``: an already-materialized (id, _sh) table (the persisted
    shingle store asset) — when provided it is consumed as-is; when
    None the explosion is built from ``docs`` and pinned, because it
    feeds THREE consumers (bench side, bench sizes, corpus side) and an
    unpinned fresh build would run the tokenize/posexplode/window/
    distinct chain once per consumer."""
    from .operators.dedup import shingle_table

    if shingles is not None:
        ex = shingles
    else:
        ex = pin(shingle_table(docs, 3, id_col))
        ex.count()
    bench = ex.filter(F.col(id_col) < bench_max_id).select(
        F.col(id_col).alias("bench_id"), "_sh"
    )
    bsize = bench.groupBy("bench_id").agg(F.count(F.lit(1)).alias("bench_size"))
    return (
        ex.filter(F.col(id_col) >= bench_max_id)
        .join(F.broadcast(bench), "_sh")
        .groupBy(id_col, "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .join(F.broadcast(bsize), "bench_id")
        .filter(
            F.col("n_shared") * F.lit(1.0) / F.col("bench_size")
            >= overlap_threshold
        )
        .select(id_col)
        .distinct()
    )


def drop_exact_duplicates(scored: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id document per fingerprint group (one shuffle)."""
    w = Window.partitionBy("fingerprint")
    return (
        scored.withColumn("_canon", F.min(id_col).over(w))
        .filter(F.col(id_col) == F.col("_canon"))
        .drop("_canon")
    )


def drop_near_duplicates(
    docs: DataFrame, threshold: float = 0.8, id_col: str = "doc_id"
) -> DataFrame:
    """Drop MinHash-LSH near-duplicates, keeping one doc per cluster.

    Pair set → connected-ish clustering by canonical-min propagation:
    every doc that appears as the GREATER id of a qualifying pair is
    dropped, the smallest id of each cluster survives. (Single-pass
    min-propagation, not full transitive closure — for dedup the
    difference only matters for chains A~B~C where A≁C, where dropping
    both B and C is the conservative, standard choice.)
    """
    # NOTE: ``docs`` feeds BOTH the minhash shingle pipeline and the
    # left side of the anti-join — when the input is an expensive chain
    # (curated_docs_v2's score->repetition->decontaminate->exact-dedup),
    # the CALLER should cache()+count() it first; a cheap projection
    # input (curated_docs' score pass) is cheaper to recompute than to
    # materialize, so no unconditional pin here.
    pairs = minhash_lsh_pairs(docs, threshold=threshold, id_col=id_col)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return docs.join(losers, id_col, "left_anti")


def run_curation(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    min_quality: float = 0.5,
    near_dup_threshold: float = 0.8,
) -> CurationResult:
    """Full corpus curation: score → filter → dedup → write + report."""
    res = CurationResult()
    raw = spark.read.parquet(f"{sf_dir}/documents.parquet")
    res.n_raw = raw.count()
    quality.assert_row_count_nonzero(res.n_raw, "curation.raw")

    w = quality.write_with_observed_gates(
        score_documents(raw),
        f"{out_dir}/silver/documents_scored",
        require_nonzero=False,
        layer="curation.scored",
        reconcile=(res.n_raw, 0.0),
    )
    res.n_scored, scored = w["n_rows"], w["table"]

    passed = scored.filter(F.col("quality_score") >= min_quality)
    res.n_quality_pass = passed.count()

    exact = drop_exact_duplicates(passed)
    res.n_after_exact_dedup = exact.count()

    # the non-empty gate runs before publish: an empty corpus never
    # becomes the latest curated version
    w = quality.write_with_observed_gates(
        drop_near_duplicates(exact, threshold=near_dup_threshold),
        f"{out_dir}/gold/documents_curated",
        layer="curation.curated",
    )
    res.n_after_near_dedup = w["n_rows"]

    res.stage_counts = {
        "raw": res.n_raw,
        "scored": res.n_scored,
        "quality_pass": res.n_quality_pass,
        "after_exact_dedup": res.n_after_exact_dedup,
        "after_near_dedup": res.n_after_near_dedup,
    }
    quality.log_layer_stats("gold", "documents_curated", res.n_after_near_dedup)
    return res


@dataclass
class AssemblyResult:
    """Attrition + commit record for run_training_assembly."""

    n_raw: int = 0
    n_curated: int = 0
    n_train: int = 0
    n_train_kept: int = 0
    n_packs: int = 0
    split_counts: dict = field(default_factory=dict)
    version: int = 0


def run_training_assembly(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    pack_budget: int = 2048,
    pack_shards: int = 8,
) -> AssemblyResult:
    """Corpus → training-set assembly, end to end: the curated corpus
    (curated_docs_v2's oracle-verified recipe) is split
    train/val/test by md5 bucket, the train split is reweighted by the
    per-language mixture gate, packed into fixed token budgets per
    shard, and committed atomically to the versioned store with the
    reference's gate discipline (non-empty, reconciled counts).

    Everything is ONE lazy composition until the single versioned
    write; the only materializations are the near-dedup hand-off pin
    inside curated_docs_v2, the id-only curated-set pin, and the commit
    itself. Deterministic end to
    end: reruns produce byte-identical snapshots (asserted in tests),
    so version N+1 of the training set diffs cleanly against N via
    diff_versions.
    """
    from .queries_train import _MIX, _MIX_DEFAULT, tokens
    from .queries_text import curated_docs_v2

    res = AssemblyResult()
    raw = spark.read.parquet(f"{sf_dir}/documents.parquet")
    res.n_raw = raw.count()
    quality.assert_row_count_nonzero(res.n_raw, "assembly.raw")

    # id-only pin: one run of the curated_docs_v2 chain serves both the
    # attrition count and the corpus join (ids are tiny — the cacheable
    # asset at 100 TB; the text never materializes twice)
    curated_ids = curated_docs_v2(spark, sf_dir).select("doc_id").cache()
    try:
        res.n_curated = curated_ids.count()
        corpus = raw.join(curated_ids, "doc_id")

        bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
        split = (
            F.when(bucket < "cd", "train")
            .when(bucket < "e6", "val")
            .otherwise("test")
        )
        mix_thr = F.coalesce(
            *[F.when(F.col("lang") == s, F.lit(t)) for s, t in _MIX.items()],
            F.lit(_MIX_DEFAULT),
        )
        # the mixture gate hashes INDEPENDENTLY of the split bucket: reusing
        # ``bucket`` would condition the keep decision on bucket < 'cd'
        # (train), inflating every _MIX keep rate by ~1/0.80 and making any
        # threshold >= 'cd' indistinguishable from keep-all — the _MIX
        # thresholds are calibrated over the FULL md5 space (queries_train)
        mix_bucket = F.substring(
            F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))), 1, 2
        )
        kept = (split != "train") | (mix_bucket <= mix_thr)

        assembled = corpus.select(
            "doc_id",
            "lang",
            "source",
            split.alias("split"),
            F.size(tokens(F.col("text"))).alias("n_tok"),
        ).filter(kept)

        w = (
            Window.partitionBy("split", F.col("doc_id") % pack_shards)
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        packed = assembled.withColumn(
            "pack_id",
            F.floor(
                (F.sum("n_tok").over(w) - F.col("n_tok"))
                * F.lit(1.0)
                / F.lit(pack_budget)
            ),
        )

        # row count observed on the commit's own write pass; the non-empty
        # gate runs INSIDE the commit protocol (post-write, pre-publish), so
        # a 0-row assembly never becomes the latest version
        w = quality.write_with_observed_gates(
            packed,
            f"{out_dir}/training_set",
            layer="assembly.training_set",
            partition_by=["split"],
        )
        res.version, n_assembled, committed = w["version"], w["n_rows"], w["table"]
        res.split_counts = {
            r["split"]: r["n"]
            for r in committed.groupBy("split")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        res.n_train = res.split_counts.get("train", 0)
        res.n_train_kept = res.n_train  # train rows in the snapshot passed the gate
        res.n_packs = (
            committed.filter(F.col("split") == "train")
            .select("pack_id", (F.col("doc_id") % pack_shards).alias("shard"))
            .distinct()
            .count()
        )
    finally:
        # released on a gate failure too
        curated_ids.unpersist()
    # reconcile what the commit pass WROTE against what the snapshot
    # actually SERVES — a partial/duplicated snapshot fails here
    quality.reconcile_row_counts(
        n_assembled,
        sum(res.split_counts.values()),
        0.0,
        "training_set",
    )
    quality.log_layer_stats(
        "gold", "training_set", sum(res.split_counts.values())
    )
    return res
