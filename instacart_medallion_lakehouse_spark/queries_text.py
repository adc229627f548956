"""Query registry, part 2: the training-data-pipeline surface.

Text analysis, document dedup (exact / n-gram Jaccard / MinHash-LSH /
SimHash), and embedding similarity search — each as a (spark, sf_dir) ->
DataFrame callable with a DuckDB-SQL twin, same lockstep invariants as
queries.py.

The SQL twins are *generated from the same constants* (stopword lists,
hash seeds, band layouts, quantization scale) as the Spark expressions,
so the two engines run the literally identical algorithm — the only way
hash-equality holds for hash-derived artifacts like minhash signatures
and LSH buckets.

Imported for its registration side effects at the bottom of queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.scalar import dround
from .functions.text import (
    STOPWORDS,
    alpha_ratio,
    bpe_ish_tokens,
    fingerprint,
    predicted_lang_from_hits,
    stopword_hits,
    tokens,
)
from .operators import dedup, vectors
from .pins import pin
from .queries import _register, _t, shared_table

# --- shared SQL fragments (moved to oracle_fragments.py; re-exported) ------

from .oracle_fragments import (  # noqa: E402
    _BPE_SQL,
    _HEX_HIGH_SQL,
    _NORM_SQL,
    _SHINGLES_SQL,
    _TOKS_SQL,
    _NGRAM_VERIFY_SQL,
    _hits_sql,
    _lang_case_sql,
    _minhash_ctes,
    _scored_passed_ctes,
)




# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@_register(
    "text_stats",
    f"""
    SELECT doc_id, lang, source, n_chars,
           length(text) AS n_chars_actual,
           len(t) AS n_tokens,
           len(list_distinct(t)) AS n_distinct_tokens,
           round(list_sum(list_transform(t, x -> length(x))) * 1.0
                 / len(t), 4) AS avg_token_len
    FROM (SELECT *, {_TOKS_SQL} AS t FROM documents)
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics — one narrow scan, zero shuffles."""
    docs = _t(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    tok_len_sum = F.aggregate(
        F.transform(t, F.length), F.lit(0), lambda acc, x: acc + x
    )
    return docs.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.length("text").alias("n_chars_actual"),
        F.size(t).alias("n_tokens"),
        F.size(F.array_distinct(t)).alias("n_distinct_tokens"),
        dround(tok_len_sum.cast("double") / F.size(t), 4).alias("avg_token_len"),
    )


@_register(
    "unigram_entropy",
    f"""
    WITH t AS (SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents),
    c AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2),
    a AS (SELECT doc_id, sum(c) AS n, count(*) AS nd,
                 sum(c * log2(c)) AS slc
          FROM c GROUP BY 1)
    SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
           CAST(nd AS BIGINT) AS n_distinct_tokens,
           round(log2(n) - slc / n, 4) AS unigram_entropy
    FROM a
    """,
)
def unigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the unigram distribution (bits)
    — the vocabulary-diversity quality signal: boilerplate and
    keyword-stuffed spam score low, natural prose scores near
    log2(n_distinct). Computed via the identity
    H = log2(n) - (sum c*log2 c)/n so each engine sums integer-count
    terms rather than per-token probabilities.

    Shape: explode -> two hash aggregates (token counts, then per-doc
    rollup), entirely codegen'd — the same one-shuffle-per-grain form
    as bigram_topk, no windows, no arrays held in memory per doc."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    c = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    a = c.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("nd"),
        F.sum(F.col("c") * F.log2("c")).alias("slc"),
    )
    return a.select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        F.col("nd").cast("long").alias("n_distinct_tokens"),
        dround(F.log2("n") - F.col("slc") / F.col("n"), 4).alias(
            "unigram_entropy"
        ),
    )


@_register(
    "token_count",
    f"""
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(len({_TOKS_SQL})) AS BIGINT) AS ws_tokens,
           CAST(sum(len({_BPE_SQL})) AS BIGINT) AS bpe_tokens,
           round(sum(len({_BPE_SQL})) * 1.0 / count(*), 4) AS avg_bpe_tokens
    FROM documents
    GROUP BY source
    """,
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counting, rolled up per source."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            "source",
            F.size(tokens(F.col("text"))).alias("_ws"),
            F.size(bpe_ish_tokens(F.col("text"))).alias("_bpe"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_ws").alias("ws_tokens"),
            F.sum("_bpe").alias("bpe_tokens"),
            dround(F.sum("_bpe") * F.lit(1.0) / F.count(F.lit(1)), 4).alias(
                "avg_bpe_tokens"
            ),
        )
    )




@_register(
    "language_id",
    f"""
    SELECT lang, {_lang_case_sql()} AS predicted_lang, count(*) AS n_docs
    FROM (SELECT lang, text, {_TOKS_SQL} AS t FROM documents)
    GROUP BY 1, 2
    """,
)
def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (stopword argmax + CJK check) vs declared
    lang. Hit counts are materialized in one projection so each
    array-filter runs once per row, not once per CASE-chain reference."""
    docs = _t(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    hits = docs.select(
        "lang",
        "text",
        *[
            stopword_hits(t, ws).alias(f"_h_{lang}")
            for lang, ws in STOPWORDS.items()
        ],
    )
    return (
        hits.select(
            "lang",
            predicted_lang_from_hits(
                F.col("text"),
                F.col("_h_en"),
                F.col("_h_es"),
                F.col("_h_fr"),
                F.col("_h_de"),
            ).alias("predicted_lang"),
        )
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@_register(
    "quality_score",
    f"""
    SELECT doc_id, n_tokens,
           round(stop_ratio, 4) AS stop_ratio,
           round(distinct_ratio, 4) AS distinct_ratio,
           round(alpha_ratio, 4) AS alpha_ratio,
           round(
             (CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 0.25 ELSE 0.0 END)
             + (CASE WHEN avg_tok >= 3 AND avg_tok <= 12 THEN 0.25 ELSE 0.0 END)
             + (CASE WHEN stop_ratio >= 0.03 THEN 0.25 ELSE 0.0 END)
             + (CASE WHEN distinct_ratio >= 0.3 THEN 0.25 ELSE 0.0 END), 2)
             AS quality_score
    FROM (
      SELECT doc_id,
             len(t) AS n_tokens,
             {_hits_sql(STOPWORDS["en"])} * 1.0 / len(t) AS stop_ratio,
             len(list_distinct(t)) * 1.0 / len(t) AS distinct_ratio,
             (length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')))
               * 1.0 / nullif(length(text), 0) AS alpha_ratio,
             list_sum(list_transform(t, x -> length(x))) * 1.0 / len(t) AS avg_tok
      FROM (SELECT doc_id, text, {_TOKS_SQL} AS t FROM documents)
    )
    """,
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite document quality score — the filtering signal a training
    pipeline thresholds on. Four 0.25-weight components: token count in
    range, mean token length in range, stopword density, vocabulary
    diversity. Pure expressions; at 100 TB this is a free rider on the
    ingest scan."""
    docs = _t(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    n_tokens = F.size(t)
    stop_ratio = stopword_hits(t, STOPWORDS["en"]) * F.lit(1.0) / n_tokens
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
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        dround(stop_ratio, 4).alias("stop_ratio"),
        dround(distinct_ratio, 4).alias("distinct_ratio"),
        dround(alpha_ratio(F.col("text")), 4).alias("alpha_ratio"),
        dround(score, 2).alias("quality_score"),
    )


@_register(
    "doc_fingerprint",
    f"""
    SELECT doc_id,
           md5({_NORM_SQL}) AS fingerprint,
           substr(md5({_NORM_SQL}), 1, 2) AS shard
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint + 256-way shard prefix (dedup/bucketing key)."""
    docs = _t(spark, sf_dir, "documents")
    fp = fingerprint(F.col("text"))
    return docs.select(
        "doc_id", fp.alias("fingerprint"), F.substring(fp, 1, 2).alias("shard")
    )


# ---------------------------------------------------------------------------
# Dedup suite
# ---------------------------------------------------------------------------


@_register(
    "exact_dedup",
    f"""
    SELECT doc_id, fingerprint,
           min(doc_id) OVER (PARTITION BY fingerprint) AS canonical_doc_id,
           doc_id <> min(doc_id) OVER (PARTITION BY fingerprint) AS is_duplicate
    FROM (SELECT doc_id, md5({_NORM_SQL}) AS fingerprint FROM documents)
    """,
)
def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_duplicates(_t(spark, sf_dir, "documents")).select(
        "doc_id", "fingerprint", "canonical_doc_id", "is_duplicate"
    )




@_register(
    "ngram_jaccard_dedup",
    f"""
    WITH sh AS (
      SELECT doc_id, {_SHINGLES_SQL} AS shingles
      FROM (SELECT doc_id, {_TOKS_SQL} AS t FROM documents)
    ),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
    )
    SELECT * FROM ({_NGRAM_VERIFY_SQL}) WHERE jaccard >= 0.5
    """,
)
def ngram_jaccard_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.5,
        shingles=shared_shingles(spark, sf_dir),
    )



def _minhash_sql(num_hashes: int, band_rows: int) -> str:
    return f"""
    WITH {_minhash_ctes("documents", num_hashes, band_rows)}
    SELECT * FROM ({_NGRAM_VERIFY_SQL}) WHERE jaccard >= 0.5
    """


def _shingle_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.shingle_table(_t(spark, sf_dir, "documents"), 3, "doc_id")


def shared_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full-corpus DISTINCT (doc_id, 3-shingle) table as a persisted
    store asset — the inverted-index layer every text-dedup family
    starts from (MinHash signatures, Jaccard/containment verifies,
    benchmark decontamination, cross-source matrices). One
    posexplode+window pass per corpus generation; consumers scan the
    stored table. At 100 TB this is the committed inverted index, a
    standard stored artifact, not a subquery.

    Bucketed+sorted on ``_sh`` (r12, VERDICT r11 #5): the hot path of
    every consumer keys on the shingle — the pair-intersection
    self-join (ngram_jaccard_dedup, containment_pairs), the
    document-frequency aggregate + anti-join
    (ngram_jaccard_dedup_capped), the benchmark-overlap join
    (contamination) — so those joins and aggregates run exchange-free
    on the stored side. Consumers read it from several join sides as
    returned (queries.shared_table's contract)."""
    return shared_table(
        spark,
        sf_dir,
        "shingles_n3",
        lambda: _shingle_build(spark, sf_dir),
        # bump when tokens()/shingle_table change
        token="tok-ws-3shingle-v1",
        bucket_by=["_sh"],
    )


def shared_minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents MinHash SIGNATURE table (n=3, k=16) from the
    persisted signature store — built once per testdata generation,
    then read as parquet by every consumer. The signatures are the
    stored asset; band tables derive from them with a scan-local md5
    projection (bands_from_signatures), so one physical build serves
    the pair generator, the bucket profile, the clusterer, AND the
    estimate-vs-exact diagnostic."""
    return shared_table(
        spark,
        sf_dir,
        "minhash_sigs_n3_h16",
        # chained store build: the signature layer derives from the
        # committed shingle layer instead of re-exploding the corpus
        lambda: dedup.minhash_signatures(
            shared_shingles(spark, sf_dir), num_hashes=16
        ),
        # bump when tokens()/shingle_table/minhash hash-family change
        token="md5-seeded-16x-3shingle-v1",
    )


def shared_minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(_id, band, key) LSH band table (r=2), stored bucketed AND sorted
    on (band, key) — the candidate self-join's keys (r11, VERDICT r10
    #6) — so every consumer's band join (minhash_lsh_dedup,
    dedup_clusters, cluster_canonicals, the incremental probe's index
    side) and the (band, key) aggregate of lsh_bucket_profile run with
    NO exchange over the stored side. At 100 TB the band table is
    |docs| x 8 rows; re-shuffling it per consumer run was the one
    recurring cost the derive-on-scan form kept. Built from the stored
    signature asset with a scan-local md5 projection."""
    return shared_table(
        spark,
        sf_dir,
        "minhash_bands_n3_h16r2",
        lambda: dedup.bands_from_signatures(
            shared_minhash_sigs(spark, sf_dir), num_hashes=16, band_rows=2
        ),
        # bump when tokens()/shingle_table/minhash hash-family change
        token="md5-seeded-16x-3shingle-v1-bands",
        bucket_by=["band", "key"],
    )


def shared_scored_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The silver scoring pass (curation.score_documents: quality
    signals, predicted language, exact-dup fingerprint) as a persisted
    store asset. The projection is pure per-document — its interpreted
    higher-order array lambdas (tokenize, distinct-ratio, stopword
    hits) are the cost — so one physical pass serves every curation
    consumer; all scores are quantized/rounded doubles and round-trip
    parquet exactly."""
    from . import curation

    return shared_table(
        spark,
        sf_dir,
        "scored_docs",
        lambda: curation.score_documents(_t(spark, sf_dir, "documents")),
        # bump when tokens()/scoring weights/fingerprint change
        token="score-v1",
    )


def shared_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, rep_ratio) Gopher-style repetition signal as a persisted
    store asset — the most-frequent-bigram share needs a full bigram
    explode + two aggregates, worth paying once per corpus."""
    from . import curation

    return shared_table(
        spark,
        sf_dir,
        "doc_repetition",
        lambda: curation.repetition_table(_t(spark, sf_dir, "documents")),
        token="bigram-rep-v1",
    )


def shared_contamination_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct contaminated doc_ids (>= 20% shingle overlap with a
    benchmark doc, id < 10) as a persisted store asset: the flag set is
    a pure function of the corpus and the (bench_max_id, threshold)
    policy — staged, the curation plan replaces a full shingle build +
    overlap join with a tiny parquet scan that broadcasts into the
    anti-join."""
    from . import curation

    return shared_table(
        spark,
        sf_dir,
        "contamination_flags",
        # chained store build: the flag set derives from the committed
        # shingle layer
        lambda: curation.contamination_flags(
            _t(spark, sf_dir, "documents"), bench_max_id=10,
            overlap_threshold=0.2,
            shingles=shared_shingles(spark, sf_dir),
        ),
        # name the policy params: a different policy is a different asset
        token="bench10-overlap0.2-3shingle-v1",
    )


def _positioned_runs_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    ex = docs.select(
        "doc_id",
        F.posexplode(tokens(F.col("text"))).alias("_pos", "_tok"),
    )
    w_ord = Window.partitionBy("doc_id").orderBy("_pos")
    parts = [F.col("_tok")] + [
        F.lead("_tok", i).over(w_ord) for i in range(1, _RUN_N)
    ]
    return (
        ex.select(
            "doc_id",
            "_pos",
            F.md5(F.concat_ws(" ", *parts)).alias("h"),
            parts[-1].alias("_last"),
        )
        .filter(F.col("_last").isNotNull())
        .drop("_last")
    )


def shared_positioned_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, _pos, h): every 20-token contiguous run, md5'd, with its
    starting token position — the substring-dedup index (Lee et al.)
    as a persisted store asset. One posexplode + lead-window pass over
    the corpus serves all the span queries (long_run_overlap detects
    pairs, dup_span_coverage measures damage, dedup_spans_text removes
    spans) instead of each rebuilding and pinning its own run table —
    at 100 TB the run index is built once per corpus snapshot, exactly
    like the MinHash signature layer above.

    Bucketed on ``h`` (r12, VERDICT r11 #5): every span consumer keys
    on it — the pair self-joins (long_run_overlap, span_dup_clusters),
    the dup-hash aggregate + semi join (dup_span_coverage), and the
    canonical-owner window (dedup_spans_text) — so they all run
    exchange-free on the stored side (partition-local sorts remain:
    Spark 3+ does not propagate bucket sort order into plans)."""
    return shared_table(
        spark,
        sf_dir,
        "positioned_runs",
        lambda: _positioned_runs_build(spark, sf_dir),
        # bump when tokens() or the run length change
        token=f"ws-tokens-n{_RUN_N}-v1",
        bucket_by=["h"],
    )


def _sig_table_sql() -> str:
    cols = ", ".join(f"sig_{i}" for i in range(16))
    return f"""
    WITH {_minhash_ctes("documents", 16, 2)}
    SELECT doc_id, {cols} FROM sig
    """


@_register("minhash_signature_table", _sig_table_sql())
def minhash_signature_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The signature-layer BUILD as a first-class, oracle-checked
    operator: materialize (or read back) the persisted MinHash
    signature asset and return it. At 100 TB the corpus signature pass
    is a committed table, not a subquery — this entry is that commit,
    and in a multi-query session it runs FIRST so every downstream
    dedup query's timing measures its own plan, not the shared build
    (the window order in queries._WINDOW_PRIORITY encodes that).
    r11: also commits the BUCKETED band store derived from the
    signatures, for the same attribution reason."""
    sig = shared_minhash_sigs(spark, sf_dir)
    shared_minhash_bands(spark, sf_dir)  # commit the band store too
    return sig.select("doc_id", *[f"sig_{i}" for i in range(16)])


_NGRAM_CAP_DF = 64  # stop-shingle document-frequency cap (lockstep w/ SQL)


@_register(
    "ngram_jaccard_dedup_capped",
    f"""
    WITH sh0 AS (
      SELECT doc_id, {_SHINGLES_SQL} AS shingles
      FROM (SELECT doc_id, {_TOKS_SQL} AS t FROM documents)
    ),
    sh AS (SELECT * FROM sh0 WHERE len(shingles) > 0),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    dfreq AS (SELECT s, count(*) AS df FROM ex GROUP BY s),
    idx AS (
      SELECT e.doc_id, e.s FROM ex e
      JOIN dfreq d ON e.s = d.s AND d.df <= {_NGRAM_CAP_DF}
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM idx GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard
    FROM common
    JOIN sizes sa ON common.id_a = sa.doc_id
    JOIN sizes sb ON common.id_b = sb.doc_id
    WHERE round(c * 1.0 / (sa.n + sb.n - c), 6) >= 0.5
    """,
)
def ngram_jaccard_dedup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of exact n-gram Jaccard dedup: shingles with
    document frequency > _NGRAM_CAP_DF (corpus-hot stop shingles) are
    removed from the similarity definition, bounding the
    inverted-index join's hottest bucket at cap²/2 rows regardless of
    corpus size; Jaccard over the remaining sets is exact and computed
    in the same one-pass join + hash-aggregate shape as the uncapped
    operator. At this corpus's df distribution (max 25 at sf0.1) the
    cap never bites, so the output is IDENTICAL to ngram_jaccard_dedup
    — the oracle proves the zero-loss case; the bound is the 100 TB
    insurance. Semantics + recall argument in SCALE.md and
    operators/dedup.ngram_jaccard_pairs_capped."""
    return dedup.ngram_jaccard_pairs_capped(
        shared_shingles(spark, sf_dir),
        threshold=0.5,
        max_df=_NGRAM_CAP_DF,
    )


@_register(
    "shingle_index_table",
    f"""
    WITH sh AS (
      SELECT doc_id, {_SHINGLES_SQL} AS shingles
      FROM (SELECT doc_id, {_TOKS_SQL} AS t FROM documents)
    )
    SELECT doc_id, unnest(shingles) AS _sh FROM sh
    """,
)
def shingle_index_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shingle-layer BUILD as a first-class, oracle-checked
    operator: materialize (or read back) the persisted distinct
    (doc_id, 3-shingle) inverted-index asset and return it. Pinned
    FIRST in queries._WINDOW_PRIORITY — it is the root of the derived-
    table DAG (signatures chain from it), so in an ordered multi-query
    run every downstream dedup/contamination timing measures its own
    plan, not the corpus explode."""
    return shared_shingles(spark, sf_dir)


@_register(
    "scored_docs_table",
    f"""
    SELECT doc_id, n_tokens,
           round(alpha_ratio, 4) AS alpha_ratio,
           round(
             (CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 0.25 ELSE 0.0 END)
             + (CASE WHEN avg_tok >= 3 AND avg_tok <= 12 THEN 0.25 ELSE 0.0 END)
             + (CASE WHEN stop_ratio >= 0.03 THEN 0.25 ELSE 0.0 END)
             + (CASE WHEN distinct_ratio >= 0.3 THEN 0.25 ELSE 0.0 END), 2)
             AS quality_score,
           fingerprint, predicted_lang
    FROM (
      SELECT doc_id,
             len(t) AS n_tokens,
             {{hits_en}} * 1.0 / len(t) AS stop_ratio,
             len(list_distinct(t)) * 1.0 / len(t) AS distinct_ratio,
             (length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')))
               * 1.0 / nullif(length(text), 0) AS alpha_ratio,
             list_sum(list_transform(t, x -> length(x))) * 1.0 / len(t) AS avg_tok,
             md5({{norm}}) AS fingerprint,
             {{lang_case}} AS predicted_lang
      FROM (SELECT doc_id, text, {{toks}} AS t FROM documents)
    )
    """.format(
        hits_en=_hits_sql(STOPWORDS["en"]),
        norm=_NORM_SQL,
        lang_case=_lang_case_sql(),
        toks=_TOKS_SQL,
    ),
)
def scored_docs_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The silver SCORING-layer build as a first-class, oracle-checked
    operator: materialize (or read back) the persisted scored-documents
    asset (quality signals + predicted language + exact-dup
    fingerprint) and return its comparison projection. In an ordered
    multi-query run this commits the asset before any curation
    consumer, so curated_docs_v2 and friends measure their own plans."""
    return shared_scored_docs(spark, sf_dir).select(
        "doc_id", "n_tokens", "alpha_ratio", "quality_score",
        "fingerprint", "predicted_lang",
    )


@_register(
    "doc_repetition_table",
    """
    WITH tok AS (
      SELECT doc_id, pos, term FROM (
        SELECT doc_id,
               generate_subscripts(arr, 1) AS pos,
               unnest(arr) AS term
        FROM (SELECT doc_id,
                     string_split_regex(lower(text), '[^a-z0-9]+') AS arr
              FROM documents)
      ) WHERE term <> ''
    ),
    big AS (
      SELECT doc_id, term AS t1,
             lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS t2
      FROM tok
    ),
    counts AS (
      SELECT doc_id, t1, t2, count(*) AS n
      FROM big WHERE t2 IS NOT NULL GROUP BY doc_id, t1, t2
    )
    SELECT doc_id, round(max(n) * 1.0 / sum(n), 6) AS rep_ratio
    FROM counts GROUP BY doc_id
    """,
)
def doc_repetition_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The repetition-signal build (Gopher-style most-frequent-bigram
    share) as a first-class, oracle-checked operator over the persisted
    store asset. The stored column is the raw ratio (consumers
    threshold it); the comparison projection rounds to 6 places in
    lockstep with the oracle."""
    return shared_repetition(spark, sf_dir).select(
        "doc_id", dround(F.col("rep_ratio"), 6).alias("rep_ratio")
    )


@_register(
    "contamination_flags_table",
    f"""
    WITH sh AS (
      SELECT doc_id, {_SHINGLES_SQL} AS shingles
      FROM (SELECT doc_id, {_TOKS_SQL} AS t FROM documents)
    ),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    bench AS (SELECT doc_id AS bench_id, s FROM ex WHERE doc_id < 10),
    bsize AS (SELECT bench_id, count(*) AS bench_size FROM bench GROUP BY 1),
    hits AS (
      SELECT c.doc_id, b.bench_id, count(*) AS n_shared
      FROM ex c JOIN bench b ON c.s = b.s AND c.doc_id >= 10
      GROUP BY 1, 2
    )
    SELECT DISTINCT h.doc_id
    FROM hits h JOIN bsize s USING (bench_id)
    WHERE h.n_shared * 1.0 / s.bench_size >= 0.2
    """,
)
def contamination_flags_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decontamination FLAG-SET build (distinct corpus doc ids with
    >= 20% shingle overlap against the id<10 benchmark set) as a
    first-class, oracle-checked operator over the persisted store
    asset — committed before curated_docs_v2 consumes it as a
    broadcast anti-join side."""
    return shared_contamination_flags(spark, sf_dir)


@_register("minhash_lsh_dedup", _minhash_sql(num_hashes=16, band_rows=2))
def minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ex = shared_shingles(spark, sf_dir)
    bands = shared_minhash_bands(spark, sf_dir)
    return dedup.minhash_lsh_pairs_from(ex, bands, threshold=0.5)


def _simhash_sql(bits: int = 32, max_hamming: int = 3) -> str:
    sums = ",\n             ".join(
        f"sum(CASE WHEN substr(md5(tok), {p + 1}, 1) IN {_HEX_HIGH_SQL}"
        f" THEN 1 ELSE -1 END) AS s{p}"
        for p in range(bits)
    )
    pack = " + ".join(
        f"(CASE WHEN s{p} > 0 THEN {1 << p} ELSE 0 END)" for p in range(bits)
    )
    nbands = "\n      UNION ALL ".join(
        f"SELECT doc_id, simhash, {j} AS idx, (simhash >> {8 * j}) & 255 AS val"
        " FROM sig"
        for j in range(4)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
    ),
    sums AS (
      SELECT doc_id,
             {sums}
      FROM toks GROUP BY doc_id
    ),
    sig AS (SELECT doc_id, CAST({pack} AS BIGINT) AS simhash FROM sums),
    bands AS (
      {nbands}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.simhash AS sa, b.simhash AS sb
      FROM bands a JOIN bands b
        ON a.idx = b.idx AND a.val = b.val AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(sa, sb)) <= {max_hamming}
    """


@_register("simhash_dedup", _simhash_sql())
def simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_pairs(_t(spark, sf_dir, "documents"), max_hamming=3)


# ---------------------------------------------------------------------------
# Embedding similarity search
# ---------------------------------------------------------------------------

_QUANT_SQL = "list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1000 + 0.5))"

_PREP_SQL = f"""
    q AS (SELECT vec_id, {_QUANT_SQL} AS e FROM embeddings),
    n AS (SELECT vec_id, e, list_dot_product(e, e) AS n2 FROM q
          WHERE list_dot_product(e, e) > 0)
"""


def _lsh_bucket_sql(num_planes: int = 4) -> str:
    terms = []
    for p in range(num_planes):
        signed = (
            f"[CASE WHEN substr(md5('p{p}_' || i), 1, 1) IN {_HEX_HIGH_SQL}"
            f" THEN e[i] ELSE -e[i] END for i in range(1, len(e)+1)]"
        )
        terms.append(
            f"(CASE WHEN list_sum({signed}) > 0 THEN {1 << p} ELSE 0 END)"
        )
    return " + ".join(terms)


@_register(
    "ann_topk",
    f"""
    WITH {_PREP_SQL},
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             list_dot_product(a.e, b.e) / sqrt(a.n2 * b.n2) AS c
      FROM n a JOIN n b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < 10
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY c DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, round(c, 6) AS cos_sim, rank
    FROM ranked WHERE rank <= 5
    """,
)
def ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 for queries vec_id < 10."""
    return vectors.brute_force_topk(
        _t(spark, sf_dir, "embeddings"), query_ids_max=10, k=5
    )


@_register(
    "ann_lsh_topk",
    f"""
    WITH {_PREP_SQL},
    buck AS (SELECT vec_id, e, n2, {_lsh_bucket_sql(4)} AS bucket FROM n),
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             list_dot_product(a.e, b.e) / sqrt(a.n2 * b.n2) AS c
      FROM buck a JOIN buck b
        ON a.bucket = b.bucket AND b.vec_id <> a.vec_id
      WHERE a.vec_id < 10
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY c DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, round(c, 6) AS cos_sim, rank
    FROM ranked WHERE rank <= 5
    """,
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN top-5 (4 random hyperplanes, 16 buckets)."""
    return vectors.lsh_topk(
        _t(spark, sf_dir, "embeddings"), query_ids_max=10, k=5, num_planes=4
    )


@_register(
    "ann_sq8_topk",
    f"""
    WITH {_PREP_SQL},
    c8 AS (
      SELECT vec_id,
             [CAST(floor(e[i] / sqrt(n2) * 127 + 0.5) AS BIGINT)
              for i in range(1, len(e)+1)] AS c
      FROM n
    ),
    approx AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             list_dot_product(a.c, b.c) AS s
      FROM c8 a JOIN c8 b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < 10
    ),
    cand AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY s DESC, neighbor_id) AS crank
      FROM approx
    ),
    rer AS (
      SELECT cand.query_id, cand.neighbor_id,
             list_dot_product(qa.e, qb.e) / sqrt(qa.n2 * qb.n2) AS c
      FROM cand
      JOIN n qa ON qa.vec_id = cand.query_id
      JOIN n qb ON qb.vec_id = cand.neighbor_id
      WHERE cand.crank <= 20
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY c DESC, neighbor_id) AS rank
      FROM rer
    )
    SELECT query_id, neighbor_id, round(c, 6) AS cos_sim, rank
    FROM ranked WHERE rank <= 5
    """,
)
def ann_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 scalar-quantized ANN top-5 with exact re-rank of the top-20
    integer-dot candidates — the 4x-less-bandwidth scale path; see
    operators/vectors.sq8_topk."""
    return vectors.sq8_topk(
        _t(spark, sf_dir, "embeddings"), query_ids_max=10, k=5, refine=4
    )


@_register(
    "semantic_contamination",
    f"""
    WITH {_PREP_SQL},
    bench AS (SELECT vec_id, e, n2 FROM n WHERE vec_id < 10),
    corpus AS (SELECT vec_id, e, n2 FROM n WHERE vec_id >= 10),
    hits AS (
      SELECT c.vec_id,
             max(list_dot_product(b.e, c.e) / sqrt(b.n2 * c.n2)) AS best
      FROM corpus c JOIN bench b
        ON list_dot_product(b.e, c.e) / sqrt(b.n2 * c.n2) >= 0.4
      GROUP BY c.vec_id
    )
    SELECT CAST((SELECT count(*) FROM corpus) AS BIGINT) AS n_corpus,
           CAST(count(*) AS BIGINT) AS n_contaminated,
           round(coalesce(max(best), 0.0), 6) AS worst_cosine
    FROM hits
    """,
)
def semantic_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination — the semantic twin of
    the shingle-overlap check (benchmark_contamination): corpus vectors
    whose cosine to ANY held-out benchmark vector clears 0.4 are
    contamination candidates a text-overlap check cannot see
    (paraphrases). Same scale shape as ANN: the bench set is
    small-by-contract and broadcasts through the mapInPandas GEMM; the
    corpus streams, never shuffles; output is one summary row."""
    emb = _t(spark, sf_dir, "embeddings")
    scored = vectors._scored_against_queries(emb, 10, "vec_id", "embedding")
    hits = (
        scored.filter(
            (F.col("_cos") >= 0.4) & (F.col("neighbor_id") >= 10)
        )
        .groupBy("neighbor_id")
        .agg(F.max("_cos").alias("best"))
    )
    n_corpus = (
        vectors._prep(emb, "vec_id", "embedding")
        .filter(F.col("vec_id") >= 10)
        .agg(F.count(F.lit(1)).alias("n_corpus"))
    )
    return (
        hits.agg(
            F.count(F.lit(1)).alias("n_contaminated"),
            dround(F.coalesce(F.max("best"), F.lit(0.0)), 6).alias(
                "worst_cosine"
            ),
        )
        .crossJoin(F.broadcast(n_corpus))
        .select("n_corpus", "n_contaminated", "worst_cosine")
    )


@_register(
    "embedding_neardup",
    f"""
    WITH {_PREP_SQL}
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.e, b.e) / sqrt(a.n2 * b.n2), 6) AS cos_sim
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.e, b.e) / sqrt(a.n2 * b.n2) >= 0.4
    """,
)
def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (threshold 0.4)."""
    return vectors.cosine_neardup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.4
    )


# ---------------------------------------------------------------------------
# The full curation pipeline as ONE oracle-checked query: score -> quality
# filter -> exact dedup -> MinHash-LSH near-dedup -> curated corpus.
# ---------------------------------------------------------------------------




# curated_docs (v1: score → filter → exact dedup → near-dedup) was
# RETIRED from the registry in round 4: curated_docs_v2 below runs the
# same stages plus repetition cull + decontamination, so carrying both
# cost 13 redundant shuffles per bench run for zero extra coverage
# (VERDICT r3 #5). The v1 stage composition remains the public
# curation.run_curation API and keeps its pytest coverage there.


@_register(
    "embedding_neardup_lsh",
    f"""
    WITH {_PREP_SQL},
    buck AS (SELECT vec_id, e, n2, {_lsh_bucket_sql(4)} AS bucket FROM n)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.e, b.e) / sqrt(a.n2 * b.n2), 6) AS cos_sim
    FROM buck a JOIN buck b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.e, b.e) / sqrt(a.n2 * b.n2) >= 0.4
    """,
)
def embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup with LSH-bucket candidate generation — the
    corpus-scale variant of embedding_neardup (recall < 1 by design,
    deterministic, so the oracle replays the same bucketing)."""
    return vectors.cosine_neardup_pairs_lsh(
        _t(spark, sf_dir, "embeddings"), threshold=0.4, num_planes=4
    )


@_register(
    "bigram_topk",
    """
    WITH tok AS (
      SELECT doc_id, pos, term FROM (
        SELECT doc_id,
               generate_subscripts(arr, 1) AS pos,
               unnest(arr) AS term
        FROM (SELECT doc_id,
                     string_split_regex(lower(text), '[^a-z0-9]+') AS arr
              FROM documents)
      ) WHERE term <> ''
    ),
    big AS (
      SELECT term AS t1,
             lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS t2
      FROM tok
    )
    SELECT t1, t2, count(*) AS n
    FROM big WHERE t2 IS NOT NULL
    GROUP BY t1, t2
    ORDER BY n DESC, t1, t2
    LIMIT 10
    """,
)
def bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-10 bigrams. Adjacency comes from a lead() window
    over token position — one shuffle on doc_id instead of the naive
    position self-join (which would shuffle the token table twice and
    build a join hash map per doc). Ties broken lexicographically so
    the LIMIT is deterministic. At 100 TB the bigram count is a
    classic map-side-combine aggregate: partial counts collapse each
    partition's duplicates before the (t1, t2)-keyed exchange."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("pos", "term"),
    ).filter(F.col("term") != "")
    w = Window.partitionBy("doc_id").orderBy("pos")
    big = tok.select(
        F.col("term").alias("t1"), F.lead("term").over(w).alias("t2")
    )
    return (
        big.filter(F.col("t2").isNotNull())
        .groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "t1", "t2")
        .limit(10)
    )


@_register(
    "bm25_topk",
    f"""
    WITH t AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
    stats AS (
      SELECT count(*) AS n,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      FROM dl
    ),
    dfreq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM t GROUP BY tok),
    qterms AS (SELECT tok, df FROM dfreq ORDER BY df ASC, tok LIMIT 5),
    tf AS (
      SELECT t.doc_id, t.tok, q.df, count(*) AS tf
      FROM t JOIN qterms q ON t.tok = q.tok
      GROUP BY t.doc_id, t.tok, q.df
    ),
    contrib AS (
      SELECT tf.doc_id,
             CAST(floor(
               ln(1e0 + (s.n - tf.df + 0.5e0) / (tf.df + 0.5e0))
               * (tf.tf * 2.2e0)
               / (tf.tf + 1.2e0
                  * (0.25e0 + 0.75e0 * d.dl / s.avgdl))
               * 1e6 + 0.5e0) AS BIGINT) AS micro
      FROM tf JOIN dl d ON tf.doc_id = d.doc_id CROSS JOIN stats s
    ),
    scored AS (
      SELECT doc_id, sum(micro) AS score_micro
      FROM contrib GROUP BY doc_id
      ORDER BY score_micro DESC, doc_id LIMIT 10
    )
    SELECT doc_id,
           CAST(score_micro AS DOUBLE) / 1e6 AS score,
           row_number() OVER (ORDER BY score_micro DESC, doc_id) AS rank
    FROM scored
    """,
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 scored retrieval (k1=1.2, b=0.75): score every
    document against a 5-term query and return the top 10. The query is
    chosen deterministically AS DATA — the corpus's 5 rarest terms by
    document frequency (df ASC, term ASC), the band where idf actually
    separates documents. Per-term contributions are quantized to exact
    1e-6 units and summed as LONGs (the avg_fixedpoint discipline), so
    cross-engine float summation order cannot flip the ranking or the
    hash. (Residual cross-engine risk, same accepted pattern as
    zipf_tail_fit: ``ln`` is transcendental and DuckDB's libm vs the
    JVM's Math.log carry a 1-ulp licence, so a contribution landing
    exactly on a 1e-6 quantization boundary could floor differently —
    unobserved across every sweep at both SFs; the quantization is what
    makes the SUM exact once the per-term values agree.) Scale shape: one explode + two hash aggregates build the
    posting stats; the 5-row query set and the 1-row corpus stats are
    broadcast, so the scoring pass is a map-side join over the token
    table — no shuffle grows with the query; top-10 is a TakeOrdered,
    never a global sort."""
    from .functions.text import tokens as _tokens

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("tok")
    )
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    dfreq = tok.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    qterms = dfreq.orderBy(F.col("df").asc(), "tok").limit(5)
    tf = (
        tok.join(F.broadcast(qterms), "tok")
        .groupBy("doc_id", "tok", "df")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(1.2) * (
        F.lit(0.25) + F.lit(0.75) * F.col("dl") / F.col("avgdl")
    )
    micro = F.floor(
        idf * (F.col("tf") * F.lit(2.2)) / denom * F.lit(1e6) + F.lit(0.5)
    ).cast("bigint")
    scored = (
        tf.join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", micro.alias("micro"))
        .groupBy("doc_id")
        .agg(F.sum("micro").alias("score_micro"))
        .orderBy(F.col("score_micro").desc(), "doc_id")
        .limit(10)
    )
    w = Window.orderBy(F.col("score_micro").desc(), "doc_id")
    return scored.select(
        "doc_id",
        (F.col("score_micro").cast("double") / F.lit(1e6)).alias("score"),
        F.row_number().over(w).alias("rank"),
    )


@_register(
    "phrase_search",
    f"""
    WITH tok AS (
      SELECT doc_id, generate_subscripts(t, 1) AS pos, unnest(t) AS term
      FROM (SELECT doc_id, {_TOKS_SQL} AS t FROM documents)
    ),
    tri AS (
      SELECT doc_id, term AS t1,
             lead(term, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS t2,
             lead(term, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS t3
      FROM tok
    ),
    tri2 AS (SELECT * FROM tri WHERE t3 IS NOT NULL),
    top AS (
      SELECT t1, t2, t3 FROM tri2
      GROUP BY t1, t2, t3
      ORDER BY count(*) DESC, t1, t2, t3 LIMIT 1
    )
    SELECT d.doc_id,
           t.t1 || ' ' || t.t2 || ' ' || t.t3 AS phrase,
           count(*) AS n_occ
    FROM tri2 d
    JOIN top t ON d.t1 = t.t1 AND d.t2 = t.t2 AND d.t3 = t.t3
    GROUP BY d.doc_id, phrase
    """,
)
def phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase search over a positional index: find every document
    containing the corpus's most frequent 3-token phrase (ties broken
    lexicographically so the probe phrase is deterministic) with its
    per-document occurrence count — the positional-postings primitive
    under quote detection, boilerplate lineage, and n-gram
    decontamination lookups. Adjacency comes from two lead() windows
    over token position (one doc_id shuffle, same shape as
    bigram_topk); the trigram stream feeds BOTH the corpus-wide count
    and the occurrence filter from one exchange (ReuseExchange — no
    cache pin needed), and the 1-row winning phrase is broadcast, so
    the probe is a map-side semi filter. At 100 TB: phrase frequency is
    a map-side-combine aggregate; the occurrence scan never shuffles
    more than (doc_id, trigram) pairs."""
    from .functions.text import tokens as _tokens

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(_tokens(F.col("text"))).alias("pos", "t1")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    tri = tok.select(
        "doc_id",
        "t1",
        F.lead("t1", 1).over(w).alias("t2"),
        F.lead("t1", 2).over(w).alias("t3"),
    ).filter(F.col("t3").isNotNull())
    top = (
        tri.groupBy("t1", "t2", "t3")
        .agg(F.count(F.lit(1)).alias("_n"))
        .orderBy(F.col("_n").desc(), "t1", "t2", "t3")
        .limit(1)
        .drop("_n")
    )
    return (
        tri.join(F.broadcast(top), ["t1", "t2", "t3"])
        .groupBy(
            "doc_id",
            F.concat_ws(" ", "t1", "t2", "t3").alias("phrase"),
        )
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )


@_register(
    "hybrid_rrf_topk",
    f"""
    WITH {_PREP_SQL},
    dense_scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             list_dot_product(a.e, b.e) / sqrt(a.n2 * b.n2) AS c
      FROM n a JOIN n b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < 10
    ),
    dense_ranked AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY c DESC, neighbor_id) AS r
      FROM dense_scored
    ),
    dense AS (SELECT * FROM dense_ranked WHERE r <= 20),
    toks AS (
      SELECT DISTINCT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
    ),
    sz AS (SELECT doc_id, count(*) AS s FROM toks GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS query_id, b.doc_id AS neighbor_id,
             count(*) AS i
      FROM toks a JOIN toks b
        ON a.tok = b.tok AND b.doc_id <> a.doc_id
      WHERE a.doc_id < 10
      GROUP BY a.doc_id, b.doc_id
    ),
    lex_scored AS (
      SELECT i.query_id, i.neighbor_id,
             CAST(i.i AS DOUBLE) / (sa.s + sb.s - i.i) AS j
      FROM inter i
      JOIN sz sa ON sa.doc_id = i.query_id
      JOIN sz sb ON sb.doc_id = i.neighbor_id
    ),
    lex_ranked AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY j DESC, neighbor_id) AS r
      FROM lex_scored
    ),
    lex AS (SELECT * FROM lex_ranked WHERE r <= 20),
    fused AS (
      SELECT COALESCE(d.query_id, l.query_id) AS query_id,
             COALESCE(d.neighbor_id, l.neighbor_id) AS neighbor_id,
             COALESCE(1000000 // (60 + d.r), 0)
             + COALESCE(1000000 // (60 + l.r), 0) AS rrf_ppm
      FROM dense d FULL OUTER JOIN lex l
        ON d.query_id = l.query_id AND d.neighbor_id = l.neighbor_id
    ),
    final AS (
      SELECT query_id, neighbor_id, rrf_ppm,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY rrf_ppm DESC, neighbor_id) AS rank
      FROM fused
    )
    SELECT query_id, neighbor_id, rrf_ppm, rank FROM final WHERE rank <= 5
    """,
)
def hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval via Reciprocal-Rank Fusion: for each of 10 query
    documents (vec_id == doc_id across the tables), fuse (a) the DENSE
    ranking — exact cosine over quantized embeddings, the ann_topk
    machinery at k=20 — with (b) the LEXICAL ranking — token-set
    Jaccard against every other document, k=20 — by
    rrf = sum(1_000_000 // (60 + rank)) over the lists an item appears
    in (the classic RRF constant, integer ppm units so the fusion is
    exact cross-engine arithmetic), and return each query's top 5.
    Both base rankings order by bit-identical doubles (integer dot
    products / integer set sizes through IEEE sqrt and division) with
    id tie-breaks, so ranks — and therefore the fusion — are
    deterministic. Scale shape: the dense side is the chunked-GEMM
    Arrow path; the lexical side joins a BROADCAST 10-query token set
    against the posting list; fusion is a full outer join of two
    (10 x 20)-row rank tables — constant-size, never corpus-size."""
    from .operators.vectors import brute_force_topk

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    dense = (
        brute_force_topk(emb, query_ids_max=10, k=20)
        .select("query_id", "neighbor_id", F.col("rank").alias("dr"))
    )
    toks = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    ).distinct()
    sz = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("s"))
    qt = toks.filter(F.col("doc_id") < 10)
    inter = (
        F.broadcast(qt.withColumnRenamed("doc_id", "query_id"))
        .join(
            toks.withColumnRenamed("doc_id", "neighbor_id"),
            "tok",
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    # query-side sizes: filter to the 10 query docs BEFORE broadcasting
    # — broadcasting the full corpus-sized `sz` here would grow
    # unboundedly with the corpus; only the neighbor-side join below is
    # allowed to shuffle.
    qsz = sz.filter(F.col("doc_id") < 10)
    lex_scored = (
        inter.join(
            F.broadcast(qsz.withColumnRenamed("doc_id", "query_id")).select(
                "query_id", F.col("s").alias("sa")
            ),
            "query_id",
        )
        .join(
            sz.withColumnRenamed("doc_id", "neighbor_id").select(
                "neighbor_id", F.col("s").alias("sb")
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            (
                F.col("i").cast("double")
                / (F.col("sa") + F.col("sb") - F.col("i"))
            ).alias("j"),
        )
    )
    wl = Window.partitionBy("query_id").orderBy(
        F.col("j").desc(), "neighbor_id"
    )
    lex = (
        lex_scored.withColumn("lr", F.row_number().over(wl))
        .filter(F.col("lr") <= 20)
        .select("query_id", "neighbor_id", "lr")
    )

    def _rrf(rank_col: str):
        return F.floor(F.lit(1000000) / (F.lit(60) + F.col(rank_col))).cast(
            "bigint"
        )

    # union + hash aggregate, NOT a full outer join: Spark cannot
    # broadcast a full outer (it would fall back to sort-merge), and
    # summing per-list contributions map-side-combines for free
    fused = (
        dense.select("query_id", "neighbor_id", _rrf("dr").alias("c"))
        .unionByName(
            lex.select("query_id", "neighbor_id", _rrf("lr").alias("c"))
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("c").alias("rrf_ppm"))
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("rrf_ppm").desc(), "neighbor_id"
    )
    return (
        fused.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "rrf_ppm", "rank")
    )


@_register(
    "k_anonymity_profile",
    """
    WITH cells AS (
      SELECT c_nationkey, c_mktsegment, count(*) AS n
      FROM customer GROUP BY c_nationkey, c_mktsegment
    ),
    tot AS (SELECT sum(n) AS total FROM cells),
    ks AS (SELECT unnest([2, 5, 10]) AS k)
    SELECT k.k,
           CAST(sum(CASE WHEN c.n < k.k THEN 1 ELSE 0 END) AS BIGINT)
             AS n_groups_below,
           CAST(sum(CASE WHEN c.n < k.k THEN c.n ELSE 0 END) AS BIGINT)
             AS rows_at_risk,
           round(CAST(sum(CASE WHEN c.n < k.k THEN c.n ELSE 0 END)
                      AS DOUBLE) / t.total, 6) AS pct_at_risk
    FROM cells c CROSS JOIN ks k CROSS JOIN tot t
    GROUP BY k.k, t.total
    """,
)
def k_anonymity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers — the privacy gate a
    training-data release runs next to pii_scrub: bucket customers by
    the quasi-identifier pair (nation, market segment) and, for
    k in {2, 5, 10}, report how many buckets fall below k and how many
    rows sit in them (those rows are re-identifiable at that k and
    must be generalized or suppressed before release). Exact integer
    counts; the share is one double division rounded last. Scale
    shape: one hash aggregate over the quasi-identifier key, then a
    3-row k-grid cross join against the (tiny) cell table — the
    grand total rides along as a broadcast scalar, so adding more k
    thresholds never re-scans the input."""
    cust = _t(spark, sf_dir, "customer")
    cells = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = cells.agg(F.sum("n").alias("total"))
    ks = spark.createDataFrame([(2,), (5,), (10,)], "k int")
    return (
        cells.crossJoin(F.broadcast(ks))
        .crossJoin(F.broadcast(tot))
        .groupBy("k", "total")
        .agg(
            F.sum(F.when(F.col("n") < F.col("k"), 1).otherwise(0)).alias(
                "n_groups_below"
            ),
            F.sum(
                F.when(F.col("n") < F.col("k"), F.col("n")).otherwise(0)
            ).alias("rows_at_risk"),
        )
        .select(
            "k",
            "n_groups_below",
            "rows_at_risk",
            dround(
                F.col("rows_at_risk").cast("double") / F.col("total"), 6
            ).alias("pct_at_risk"),
        )
    )


@_register(
    "nation_segments",
    """
    SELECT n.n_name AS nation_name,
           count(*) AS n_customers,
           array_to_string(list_sort(list_distinct(list(c.c_mktsegment))), ',') AS segments
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def nation_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation: per-nation distinct market segments as a
    SORTED, comma-joined STRING column (collect_set is unordered across
    partitions — the array_sort is what makes the result deterministic
    and comparable; the array_join is because the correctness harness
    canonicalizes via pandas, which cannot hash list cells). The array
    form is available as :func:`nation_segments_array` for callers who
    want the typed column. The pattern behind feature-list / label-set
    columns in training manifests."""
    return nation_segments_array(spark, sf_dir).withColumn(
        "segments", F.array_join("segments", ",")
    )


def nation_segments_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed ARRAY<STRING> variant of :func:`nation_segments` — not
    registered (the driver's pandas canonicalizer cannot hash lists),
    but the natural output for programmatic consumers."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.array_sort(F.collect_set("c_mktsegment")).alias("segments"),
        )
        .select(F.col("n_name").alias("nation_name"), "n_customers", "segments")
    )


@_register(
    "repetition_ratio",
    """
    WITH tok AS (
      SELECT doc_id, pos, term FROM (
        SELECT doc_id,
               generate_subscripts(arr, 1) AS pos,
               unnest(arr) AS term
        FROM (SELECT doc_id,
                     string_split_regex(lower(text), '[^a-z0-9]+') AS arr
              FROM documents)
      ) WHERE term <> ''
    ),
    big AS (
      SELECT doc_id, term AS t1,
             lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS t2
      FROM tok
    ),
    counts AS (
      SELECT doc_id, t1, t2, count(*) AS n
      FROM big WHERE t2 IS NOT NULL GROUP BY doc_id, t1, t2
    )
    SELECT doc_id,
           CAST(sum(n) AS BIGINT) AS n_bigrams,
           CAST(max(n) AS BIGINT) AS top_bigram_n,
           round(max(n) * 1.0 / sum(n), 6) AS rep_ratio
    FROM counts GROUP BY doc_id
    """,
)
def repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signal: the share of a document's
    bigrams taken by its single most frequent bigram. Degenerate
    machine-generated or boilerplate text scores high and gets culled
    before training. Everything is explode + two hash aggregates —
    the per-doc bigram count collapses map-side before the doc_id
    exchange, so the shuffled volume is distinct bigrams, not tokens.
    Docs with fewer than two tokens have no bigrams and drop out (no
    signal, matching the oracle's inner aggregation)."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("pos", "term"),
    ).filter(F.col("term") != "")
    w = Window.partitionBy("doc_id").orderBy("pos")
    big = tok.select(
        "doc_id", F.col("term").alias("t1"), F.lead("term").over(w).alias("t2")
    ).filter(F.col("t2").isNotNull())
    counts = big.groupBy("doc_id", "t1", "t2").agg(F.count(F.lit(1)).alias("n"))
    return counts.groupBy("doc_id").agg(
        F.sum("n").alias("n_bigrams"),
        F.max("n").alias("top_bigram_n"),
        dround(F.max("n") * F.lit(1.0) / F.sum("n"), 6).alias("rep_ratio"),
    )


@_register(
    "train_val_test_split",
    """
    WITH assigned AS (
      SELECT doc_id,
             CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
                    THEN 'train'
                  WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                    THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT split, count(*) AS n_docs
    FROM assigned GROUP BY split
    """,
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic, engine-independent train/val/test assignment:
    bucket each doc by the first md5 byte of its id (lowercase-hex
    string comparison IS numeric comparison, so 'cd'/'e6' cut at
    ~80%/90%). Unlike seeded sampling (engine-specific RNG streams),
    the same row lands in the same split on any engine, any run, any
    partitioning — the reproducibility property a training pipeline
    actually needs. Scan-local: no shuffle except the 3-group count."""
    docs = _t(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(bucket < "cd", "train").when(bucket < "e6", "val").otherwise("test")
    )
    return (
        docs.select(split.alias("split"))
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@_register(
    "benchmark_contamination",
    f"""
    WITH sh AS (
      SELECT doc_id, {_SHINGLES_SQL} AS shingles
      FROM (SELECT doc_id, {_TOKS_SQL} AS t FROM documents)
    ),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    bench AS (SELECT doc_id AS bench_id, s FROM ex WHERE doc_id < 10),
    bsize AS (SELECT bench_id, count(*) AS bench_size FROM bench GROUP BY 1),
    hits AS (
      SELECT c.doc_id, b.bench_id, count(*) AS n_shared
      FROM ex c JOIN bench b ON c.s = b.s AND c.doc_id >= 10
      GROUP BY 1, 2
    )
    SELECT h.doc_id, h.bench_id, h.n_shared, s.bench_size,
           round(h.n_shared * 1.0 / s.bench_size, 6) AS overlap_ratio
    FROM hits h JOIN bsize s USING (bench_id)
    WHERE h.n_shared * 1.0 / s.bench_size >= 0.2
    """,
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing >= 20%
    of a held-out document's 3-token shingles (benchmark set = docs
    with id < 10, standing in for an eval suite). Training on such
    documents inflates eval scores — this is the screen a corpus runs
    before release.

    Shape for 100 TB: the benchmark shingle set is tiny and BROADCASTS;
    the corpus streams through the join with no shuffle of its own and
    the per-(doc, bench) counts collapse map-side. Asymmetric by
    construction — unlike dedup there is no corpus self-join anywhere.
    """
    ex = shared_shingles(spark, sf_dir)
    bench = ex.filter(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("bench_id"), F.col("_sh")
    )
    bsize = bench.groupBy("bench_id").agg(F.count(F.lit(1)).alias("bench_size"))
    hits = (
        ex.filter(F.col("doc_id") >= 10)
        .join(F.broadcast(bench), "_sh")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    ratio = F.col("n_shared") * F.lit(1.0) / F.col("bench_size")
    return (
        hits.join(F.broadcast(bsize), "bench_id")
        .filter(ratio >= 0.2)
        .select(
            "doc_id",
            "bench_id",
            "n_shared",
            "bench_size",
            dround(ratio, 6).alias("overlap_ratio"),
        )
    )


def _curated_v2_sql() -> str:
    """curated_docs_v2 oracle: v1's score+filter+dedup chain extended
    with the repetition-ratio filter and the benchmark-decontamination
    screen — the full modern corpus recipe as ONE SQL statement."""
    return f"""
    WITH {_scored_passed_ctes()},
    rtok AS (
      SELECT doc_id, pos, term FROM (
        SELECT doc_id,
               generate_subscripts(arr, 1) AS pos,
               unnest(arr) AS term
        FROM (SELECT doc_id,
                     string_split_regex(lower(text), '[^a-z0-9]+') AS arr
              FROM documents)
      ) WHERE term <> ''
    ),
    rbig AS (
      SELECT doc_id, term AS t1,
             lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS t2
      FROM rtok
    ),
    rcounts AS (
      SELECT doc_id, t1, t2, count(*) AS n
      FROM rbig WHERE t2 IS NOT NULL GROUP BY doc_id, t1, t2
    ),
    rep AS (SELECT doc_id, max(n) * 1.0 / sum(n) AS r FROM rcounts GROUP BY doc_id),
    repok AS (
      SELECT p.* FROM passed p
      LEFT JOIN rep ON p.doc_id = rep.doc_id
      WHERE coalesce(rep.r, 0.0) <= 0.1
    ),
    csh AS (
      SELECT doc_id, {_SHINGLES_SQL} AS shingles
      FROM (SELECT doc_id, {_TOKS_SQL} AS t FROM documents)
    ),
    cex AS (SELECT doc_id, unnest(shingles) AS s FROM csh),
    cbench AS (SELECT doc_id AS bench_id, s FROM cex WHERE doc_id < 10),
    cbsize AS (SELECT bench_id, count(*) AS bench_size FROM cbench GROUP BY 1),
    chits AS (
      SELECT c.doc_id, b.bench_id, count(*) AS n_shared
      FROM cex c JOIN cbench b ON c.s = b.s AND c.doc_id >= 10
      GROUP BY 1, 2
    ),
    cflag AS (
      SELECT DISTINCT h.doc_id
      FROM chits h JOIN cbsize s USING (bench_id)
      WHERE h.n_shared * 1.0 / s.bench_size >= 0.2
    ),
    clean AS (
      SELECT r.* FROM repok r
      LEFT JOIN cflag f ON r.doc_id = f.doc_id
      WHERE r.doc_id >= 10 AND f.doc_id IS NULL
    ),
    exact AS (
      SELECT * FROM (
        SELECT *, min(doc_id) OVER (PARTITION BY fingerprint) AS _canon
        FROM clean
      ) WHERE doc_id = _canon
    ),
    {_minhash_ctes("exact", 16, 2)},
    pairs AS (
      SELECT * FROM ({_NGRAM_VERIFY_SQL}) WHERE jaccard >= 0.8
    ),
    losers AS (SELECT DISTINCT id_b FROM pairs)
    SELECT e.doc_id, e.predicted_lang, e.quality_score
    FROM exact e LEFT JOIN losers l ON e.doc_id = l.id_b
    WHERE l.id_b IS NULL
    """


@_register("curated_docs_v2", _curated_v2_sql())
def curated_docs_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL modern training-corpus recipe as one oracle-checked
    composition: quality score -> floor filter -> repetition-ratio cull
    (Gopher-style, <= 0.1) -> benchmark decontamination (>= 20% shingle
    overlap with held-out docs id < 10, benchmark itself excluded) ->
    exact dedup -> MinHash-LSH near-dedup (0.8). Stage ORDER matters:
    dedup's min-id canonicalization runs on the already-cleaned set, so
    both engines must apply the same sequence. Each stage is the
    already-verified operator; this entry verifies the composition."""
    from . import curation

    # every documents-derived stage that is a pure function of the
    # corpus reads from the persisted store (scored silver layer,
    # repetition signal, contamination flag set) — the plan here starts
    # from three parquet scans instead of re-deriving each stage's
    # explode/aggregate chain per run
    scored = shared_scored_docs(spark, sf_dir)
    passed = scored.filter(F.col("quality_score") >= 0.5)

    rep = shared_repetition(spark, sf_dir)
    repok = (
        passed.join(rep, "doc_id", "left")
        .filter(F.coalesce(F.col("rep_ratio"), F.lit(0.0)) <= 0.1)
        .drop("rep_ratio")
    )
    flagged = shared_contamination_flags(spark, sf_dir)
    clean = repok.filter(F.col("doc_id") >= 10).join(
        F.broadcast(flagged), "doc_id", "left_anti"
    )

    exact = curation.drop_exact_duplicates(clean)
    # pin the cleaned set: it feeds both the minhash pair generation and
    # the anti-join inside drop_near_duplicates — unpinned, the whole
    # score->repetition->decontaminate->exact chain re-executes for the
    # second consumer. sf0.1 A/B (4 runs each, same session shape):
    # pinned cold 18.4s / warm 7.8-8.7s vs unpinned cold 20.9s /
    # warm 8.5-10.7s — the pin wins in both regimes; the large cold
    # constant (~10s) is one-time codegen + Python-worker warmup of the
    # deepest plan in the registry, not recompute.
    exact = pin(exact)
    exact.count()
    # Near-dedup rides the PERSISTED signature asset: a document's
    # MinHash signature is a function of its own text alone, so the
    # cleaned subset's band table IS the stored whole-corpus band table
    # semi-joined to the surviving ids — no second 16-hash signature
    # pass over the cleaned text (the v2 plan's single biggest cost
    # before round 4). Only the exact-Jaccard verify still tokenizes
    # the survivors (it needs their shingles anyway).
    ids = exact.select(F.col("doc_id").alias("_id"))
    bands = shared_minhash_bands(spark, sf_dir).join(ids, "_id", "semi")
    # the exact-Jaccard verify's shingles ALSO come from the persisted
    # store (a doc's shingle set is a pure function of its own text, so
    # the survivors' shingles are the whole-corpus shingle asset
    # semi-joined to the surviving ids) — no re-tokenization of the
    # cleaned text anywhere in the v2 plan
    ex = shared_shingles(spark, sf_dir).join(
        exact.select("doc_id"), "doc_id", "semi"
    )
    pairs = dedup.minhash_lsh_pairs_from(ex, bands, threshold=0.8)
    losers = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    # broadcast the loser-id set: it is the near-dup DETECTION OUTPUT
    # (ids only, bounded by the duplicate fraction of the corpus), so
    # the final anti-join should stream the cleaned set past a hashed
    # id set instead of sort-merge-exchanging both sides on doc_id —
    # without the hint Catalyst cannot size the deep pair plan and
    # falls back to SMJ. At a duplicate fraction where the loser ids
    # themselves outgrow executor memory, drop the hint and let AQE
    # pick the join (the ids are 8 bytes/row — that point is ~1e9 dups).
    curated = exact.join(F.broadcast(losers), "doc_id", "left_anti")
    return curated.select("doc_id", "predicted_lang", "quality_score")


# ---------------------------------------------------------------------------
# Winnowing fingerprints (MOSS-style rolling-hash document fingerprinting)
# ---------------------------------------------------------------------------

_WIN_K = 4  # tokens per k-gram
_WIN_W = 4  # k-gram hashes per selection window


@_register(
    "winnowing_fingerprints",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    kg AS (
      SELECT doc_id, i AS pos,
             substr(md5(array_to_string(list_slice(t, i, i + {_WIN_K - 1}),
                                        ' ')), 1, 16) AS h
      FROM (SELECT doc_id, t,
                   unnest(range(1, len(t) - {_WIN_K - 2})) AS i
            FROM t)
    ),
    sel AS (
      SELECT doc_id,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW
                                   AND {_WIN_W - 1} FOLLOWING) AS fp,
             lead(h, {_WIN_W - 1}) OVER (PARTITION BY doc_id
                                         ORDER BY pos) AS guard
      FROM kg
    ),
    fps AS (SELECT DISTINCT doc_id, fp FROM sel WHERE guard IS NOT NULL),
    nk AS (SELECT doc_id, count(*) AS n_kgrams FROM kg GROUP BY doc_id),
    nf AS (SELECT doc_id, count(*) AS n_fingerprints, min(fp) AS min_fp
           FROM fps GROUP BY doc_id)
    SELECT nk.doc_id, nk.n_kgrams,
           coalesce(nf.n_fingerprints, 0) AS n_fingerprints,
           nf.min_fp,
           round(coalesce(nf.n_fingerprints, 0) * 1.0 / nk.n_kgrams, 4)
             AS density
    FROM nk LEFT JOIN nf ON nk.doc_id = nf.doc_id
    """,
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (the MOSS fingerprinting algorithm): hash every
    {_WIN_K}-token k-gram, slide a window of {_WIN_W} consecutive
    hashes, keep each window's MINIMUM — the selected set is a
    position-robust document fingerprint guaranteeing any shared run of
    k + w - 1 tokens produces at least one shared fingerprint, at ~2/(w+1)
    the storage of the full k-gram set.

    Relational form: posexplode + lead() windows build the k-gram
    stream (codegen'd, same shape as shingle_table), then ONE more
    window pass over the same (doc, pos) ordering takes the per-window
    minima — two stacked windows on one shuffle. Hashes are md5-prefix
    STRINGS, so the min is a lexicographic min that both engines
    evaluate identically. Selection density ~2/(w+1) is reported per
    doc; short docs (< k tokens) produce no k-grams and are absent, as
    in the oracle."""
    docs = _t(spark, sf_dir, "documents")
    w_ord = Window.partitionBy("doc_id").orderBy("_pos")
    ex = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("_pos", "_tok")
    )
    parts = [F.col("_tok")] + [
        F.lead("_tok", i).over(w_ord) for i in range(1, _WIN_K)
    ]
    kg = (
        ex.select(
            "doc_id",
            F.col("_pos").alias("pos"),
            F.substring(F.md5(F.concat_ws(" ", *parts)), 1, 16).alias("h"),
            parts[-1].alias("_lasttok"),
        )
        .filter(F.col("_lasttok").isNotNull())
        .drop("_lasttok")
    )
    w_pos = Window.partitionBy("doc_id").orderBy("pos")
    sel = kg.select(
        "doc_id",
        F.min("h").over(w_pos.rowsBetween(0, _WIN_W - 1)).alias("fp"),
        F.lead("h", _WIN_W - 1).over(w_pos).alias("guard"),
    )
    fps = (
        sel.filter(F.col("guard").isNotNull())
        .select("doc_id", "fp")
        .distinct()
    )
    nk = kg.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_kgrams"))
    nf = fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fingerprints"), F.min("fp").alias("min_fp")
    )
    return nk.join(nf, "doc_id", "left").select(
        "doc_id",
        "n_kgrams",
        F.coalesce(F.col("n_fingerprints"), F.lit(0)).alias("n_fingerprints"),
        "min_fp",
        dround(
            F.coalesce(F.col("n_fingerprints"), F.lit(0))
            * F.lit(1.0)
            / F.col("n_kgrams"),
            4,
        ).alias("density"),
    )


# ---------------------------------------------------------------------------
# Long-run exact overlap (substring-dedup candidates, Lee et al. style)
# ---------------------------------------------------------------------------

_RUN_N = 20  # tokens per run


@_register(
    "span_run_index",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents)
    SELECT doc_id, CAST(i - 1 AS INT) AS pos,
           md5(array_to_string(list_slice(t, i, i + {_RUN_N - 1}), ' ')) AS h
    FROM (SELECT doc_id, t, unnest(range(1, len(t) - {_RUN_N - 2})) AS i
          FROM t)
    """,
)
def span_run_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The substring-dedup run INDEX itself: every {_RUN_N}-token
    contiguous run md5'd with its starting token position — the
    corpus-level build the whole span family (long_run_overlap,
    dup_span_coverage, dedup_spans_text) consumes. Registered exactly
    like minhash_signature_table: the persisted store asset
    (shared_positioned_runs) is a first-class queryable table, so in
    ordered multi-query runs — the bench included — the one-per-corpus
    build cost is attributed to this entry rather than to whichever
    consumer happens to run first, and the index is itself
    oracle-verified end to end (position base, run length, hash input
    framing)."""
    return shared_positioned_runs(spark, sf_dir).select(
        "doc_id", F.col("_pos").alias("pos"), "h"
    )


@_register(
    "long_run_overlap",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             md5(array_to_string(list_slice(t, i, i + {_RUN_N - 1}), ' '))
               AS h
      FROM (SELECT doc_id, t,
                   unnest(range(1, len(t) - {_RUN_N - 2})) AS i
            FROM t)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           count(*) AS n_shared_runs
    FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """,
)
def long_run_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact long-run overlap: document pairs sharing at least one
    identical {_RUN_N}-token contiguous run, with the count of shared
    runs — the detection step of substring-level training-data dedup
    (Lee et al., 'Deduplicating Training Data Makes Language Models
    Better'), where near-dup docs that slip past whole-document
    similarity still share verbatim passages.

    Scale shape: the run table is an inverted index of md5'd runs (the
    hash, never the 20-token text, is what shuffles), the self-join
    meets only inside a run bucket, and the pair aggregate is the
    candidate count a downstream span-removal pass would consume. The
    run index comes from the persisted store (shared_positioned_runs
    — one posexplode + lead() pass per corpus snapshot, shared with
    dup_span_coverage / dedup_spans_text). r12: the store is bucketed
    on h, so the distinct AND the self-join run exchange-free on the
    bucketed scan — no pin needed (two column-pruned bucket scans beat
    a cache write)."""
    runs = (
        shared_positioned_runs(spark, sf_dir).select("doc_id", "h").distinct()
    )
    a = runs.select(F.col("doc_id").alias("id_a"), "h")
    b = runs.select(F.col("doc_id").alias("id_b"), "h")
    return (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared_runs"))
    )


def _span_cluster_sql(iterations: int = 3) -> str:
    """Min-label propagation unrolled as CTEs over the shared-run pair
    graph — the substring-family analog of queries_train._cluster_sql
    (same round count, so the two engines compute the identical
    fixed-iteration labeling whatever the true graph diameter is)."""
    ctes = [
        f"""t AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents)""",
        f"""sh AS (
      SELECT DISTINCT doc_id,
             md5(array_to_string(list_slice(t, i, i + {_RUN_N - 1}), ' '))
               AS h
      FROM (SELECT doc_id, t,
                   unnest(range(1, len(t) - {_RUN_N - 2})) AS i
            FROM t)
    )""",
        """pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )""",
        """sym AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    )""",
        "l0 AS (SELECT DISTINCT src AS node, src AS label FROM sym)",
    ]
    for i in range(1, iterations + 1):
        ctes.append(
            f"""l{i} AS (
      SELECT n.node,
             least(n.label, coalesce(min(m.label), n.label)) AS label
      FROM l{i - 1} n
      LEFT JOIN sym e ON e.src = n.node
      LEFT JOIN l{i - 1} m ON e.dst = m.node
      GROUP BY n.node, n.label
    )"""
        )
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT d.doc_id,
           CAST(coalesce(l.label, d.doc_id) AS BIGINT) AS cluster
    FROM documents d
    LEFT JOIN l{iterations} l ON l.node = d.doc_id
    """


@_register("span_dup_clusters", _span_cluster_sql(3))
def span_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-overlap dedup CLUSTERS: documents sharing at least one
    verbatim {_RUN_N}-token run collapse into transitive components
    labeled by their minimum member — the span family's analog of
    dedup_clusters, closing the detect -> measure -> remove -> CLUSTER
    loop so a keep-one-per-cluster policy (doc_id = cluster) works at
    the substring level too.

    Scale: pairs come from the persisted run index's bucketed
    self-join (hashes shuffle, never text), propagation is the
    one-join-one-aggregate round from operators/graph.py over an
    id-only edge list, and the fixed 3-round unroll is what BOTH
    engines compute, so the comparison is exact whatever the true
    component diameter is."""
    from .operators.graph import label_propagation

    docs = _t(spark, sf_dir, "documents")
    # h-bucketed store: distinct + self-join are exchange-free on the
    # bucketed scan — no pin (see long_run_overlap, r12)
    runs = (
        shared_positioned_runs(spark, sf_dir).select("doc_id", "h").distinct()
    )
    a = runs.select(F.col("doc_id").alias("id_a"), "h")
    b = runs.select(F.col("doc_id").alias("id_b"), "h")
    pairs = (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    labels = label_propagation(
        pairs, iterations=3, edges_unique=True, cache_every=0
    )
    return docs.select("doc_id").join(
        labels, docs["doc_id"] == labels["node"], "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id"))
        .cast("bigint")
        .alias("cluster"),
    )


@_register(
    "dup_span_coverage",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    tok AS (SELECT doc_id, len(t) AS n_tokens FROM t WHERE len(t) >= 1),
    runs AS (
      SELECT doc_id, i AS s,
             md5(array_to_string(list_slice(t, i, i + {_RUN_N - 1}), ' ')) AS h
      FROM (SELECT doc_id, t, unnest(range(1, len(t) - {_RUN_N - 2})) AS i
            FROM t)
    ),
    duph AS (
      SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS c FROM runs
                     GROUP BY h)
      WHERE c >= 2
    ),
    cov AS (
      SELECT DISTINCT r.doc_id, r.s + u.j AS p
      FROM runs r JOIN duph USING (h) CROSS JOIN range(0, {_RUN_N}) u(j)
    ),
    covn AS (SELECT doc_id, count(*) AS n_dup_tokens FROM cov GROUP BY doc_id)
    SELECT tok.doc_id, tok.n_tokens,
           CAST(coalesce(covn.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
           round(coalesce(covn.n_dup_tokens, 0) * 1.0 / tok.n_tokens, 4)
             AS dup_ratio
    FROM tok LEFT JOIN covn ON tok.doc_id = covn.doc_id
    """,
)
def dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL-side metric of substring-level training-data dedup
    (Lee et al.): per document, how many token positions are covered by
    at least one {_RUN_N}-token run that also appears verbatim in some
    OTHER document. long_run_overlap detects the pairs; this measures
    the per-doc damage — the quantity a span-removal pass would delete
    and the triage signal for source-level boilerplate.

    Shape: the positioned run table (posexplode + lead window, the
    shingle_table form with positions kept) self-aggregates to the
    cross-doc-duplicated hash set (hash, never text, shuffles), a semi
    join keeps only duplicated runs, and coverage is explode(sequence)
    -> distinct positions -> count. The sequence explode is x{_RUN_N}
    on DUPLICATED runs only — at 100 TB the duplicated set is the
    small output of the dedup index, not the corpus. The positioned
    run table comes from the persisted store (shared_positioned_runs);
    its two consumers here are two scans of the staged parquet — no
    pin — and the token count is a scan-local size() over the token
    array rather than a shuffle of the exploded token stream."""
    docs = _t(spark, sf_dir, "documents")
    runs = shared_positioned_runs(spark, sf_dir)
    duph = (
        runs.select("doc_id", "h")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= 2)
        .select("h")
    )
    cov = (
        runs.join(duph, "h", "semi")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("_pos"), F.col("_pos") + F.lit(_RUN_N - 1))
            ).alias("_p"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dup_tokens"))
    )
    n_tok = docs.select(
        "doc_id", F.size(tokens(F.col("text"))).alias("n_tokens")
    ).filter(F.col("n_tokens") >= 1)
    return n_tok.join(cov, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("n_dup_tokens"), F.lit(0)).cast("long").alias(
            "n_dup_tokens"
        ),
        dround(
            F.coalesce(F.col("n_dup_tokens"), F.lit(0))
            * F.lit(1.0)
            / F.col("n_tokens"),
            4,
        ).alias("dup_ratio"),
    )


@_register(
    "dedup_spans_text",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    tok AS (SELECT doc_id, t, len(t) AS n_tokens FROM t WHERE len(t) >= 1),
    runs AS (
      SELECT doc_id, i AS s,
             md5(array_to_string(list_slice(t, i, i + {_RUN_N - 1}), ' ')) AS h
      FROM (SELECT doc_id, t, unnest(range(1, len(t) - {_RUN_N - 2})) AS i
            FROM t)
    ),
    duph AS (
      SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS c FROM runs
                     GROUP BY h)
      WHERE c >= 2
    ),
    keeprun AS (
      SELECT r.doc_id, r.s FROM runs r JOIN duph USING (h)
      WHERE r.doc_id > (SELECT min(r2.doc_id) FROM runs r2
                        WHERE r2.h = r.h)
    ),
    cov AS (
      SELECT DISTINCT k.doc_id, k.s + u.j AS p
      FROM keeprun k CROSS JOIN range(0, {_RUN_N}) u(j)
    ),
    pos AS (
      SELECT tok.doc_id, u.p + 1 AS p, t[u.p + 1] AS w
      FROM tok CROSS JOIN LATERAL unnest(range(0, n_tokens)) u(p)
    ),
    kept AS (
      SELECT pos.doc_id, pos.p, pos.w
      FROM pos LEFT JOIN cov ON pos.doc_id = cov.doc_id AND pos.p = cov.p
      WHERE cov.p IS NULL
    ),
    agg AS (
      SELECT doc_id, count(*) AS n_kept,
             md5(string_agg(w, ' ' ORDER BY p)) AS kept_md5
      FROM kept GROUP BY doc_id
    )
    SELECT tok.doc_id, tok.n_tokens,
           CAST(coalesce(agg.n_kept, 0) AS BIGINT) AS n_kept,
           agg.kept_md5
    FROM tok LEFT JOIN agg ON tok.doc_id = agg.doc_id
    """,
)
def dedup_spans_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL pass of substring-level dedup (Lee et al.): delete
    every token position covered by a {_RUN_N}-token run that appears
    verbatim in a LOWER-id document (the canonical copy keeps its
    text — without a canonicality rule both copies would lose the
    span), and emit the surviving token count plus the md5 of the
    space-rejoined cleaned text. Hashing keeps the compared output
    narrow while still pinning the exact reconstruction — a
    off-by-one in coverage or a join-order wobble in the rejoin flips
    the hash. A doc whose every token is covered comes back n_kept=0,
    kept_md5 NULL.

    Shape (3 shuffles post-index, was 5 — VERDICT r8 item #3): (1) the
    persisted run table takes ONE window exchange on h that computes
    the canonical owner (min doc) and the cross-doc-dup flag
    (min<max) in place — no groupBy-then-join-back re-shuffle of the
    runs; (2) coverage positions repartition by doc alone, and the
    (doc,pos) dedup rides that partitioning (subset clustering, no
    new exchange); (3) the token stream repartitions by doc, and then
    the LEFT join against coverage, the single fused aggregate
    (n_tokens + n_kept + ordered kept-text md5, conditional on the
    cover flag), and the final projection are all exchange-free on
    the same doc partitioning — the separate corpus re-scan for
    n_tokens and the final doc-level join are gone. The per-doc sort
    rides the aggregate, no global sort."""
    docs = _t(spark, sf_dir, "documents")
    ex = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("_pos", "_tok")
    )
    runs = shared_positioned_runs(spark, sf_dir)
    wh = Window.partitionBy("h")
    marked = runs.select(
        "doc_id",
        "_pos",
        F.min("doc_id").over(wh).alias("_min_doc"),
        F.max("doc_id").over(wh).alias("_max_doc"),
    )
    keeprun = marked.filter(
        (F.col("_max_doc") > F.col("_min_doc"))
        & (F.col("doc_id") > F.col("_min_doc"))
    )
    cov = (
        keeprun.select(
            F.col("doc_id").alias("_cdoc"),
            F.explode(
                F.sequence(F.col("_pos"), F.col("_pos") + F.lit(_RUN_N - 1))
            ).alias("_p"),
        )
        .repartition("_cdoc")
        .dropDuplicates(["_cdoc", "_p"])
    )
    joined = ex.repartition("doc_id").join(
        cov,
        (F.col("doc_id") == F.col("_cdoc")) & (F.col("_pos") == F.col("_p")),
        "left",
    )
    kept = F.col("_p").isNull()
    agg = joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count(F.when(kept, F.lit(1))).alias("n_kept"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(kept, F.struct("_pos", "_tok"))
                        )
                    ),
                    lambda s: s["_tok"],
                ),
            )
        ).alias("_md5_raw"),
    )
    return agg.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.col("n_kept").cast("long").alias("n_kept"),
        F.when(F.col("n_kept") > 0, F.col("_md5_raw")).alias("kept_md5"),
    )



# ---------------------------------------------------------------------------
# Fixed-size consistent sampling + LSH bucket diagnostics
# ---------------------------------------------------------------------------

_SAMPLE_K = 10


@_register(
    "consistent_sample_k",
    f"""
    WITH ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
      FROM documents
    )
    SELECT doc_id, lang, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= {_SAMPLE_K}
    """,
)
def consistent_sample_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size consistent sample: exactly min(k, group size) docs
    per language, chosen by md5-hash order — the eval-set construction
    primitive. Unlike rate-gated sampling (stratified_sample), the
    size is exact; unlike random sampling, adding documents later only
    swaps items whose hash enters the top k, so samples stay ~stable
    across corpus versions (consistent sampling).

    The per-group row_number is fine when groups are few and the k is
    tiny; at extreme group cardinality the same semantics come from an
    aggregate top-k (min-heap partial aggregation) rather than a full
    per-group sort — the window form is the oracle-checkable baseline."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= _SAMPLE_K)
        .select("doc_id", "lang", F.col("rnk").cast("int").alias("rnk"))
    )


@_register(
    "lsh_bucket_profile",
    f"""
    WITH {_minhash_ctes("documents", 16, 2)},
    bsz AS (
      SELECT band, key, count(*) AS sz FROM bands GROUP BY 1, 2
    )
    SELECT CAST(sz AS BIGINT) AS bucket_size,
           count(*) AS n_buckets,
           CAST(sum(sz * (sz - 1) / 2) AS BIGINT) AS candidate_pairs
    FROM bsz
    GROUP BY sz
    """,
)
def lsh_bucket_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate-volume diagnostics: the distribution of MinHash
    band-bucket sizes and the candidate pairs each size class will
    generate (sz*(sz-1)/2 per bucket) — the pre-flight check that
    tells you whether a banding config will explode the self-join
    (key_skew_profile's twin for the dedup family). A hot bucket here
    means a too-coarse band (lower band_rows / more hashes) BEFORE the
    pair join runs, not after it OOMs.

    Built on the SAME signature+band table the pair generator uses
    (shared_minhash_bands → the persisted signature store), so the
    profile describes exactly the join minhash_lsh_dedup would run —
    and costs only a scan of the stored band table, not a fresh
    signature pass."""
    bands = shared_minhash_bands(spark, sf_dir)
    bsz = bands.groupBy("band", "key").agg(F.count(F.lit(1)).alias("sz"))
    return (
        bsz.groupBy("sz")
        .agg(F.count(F.lit(1)).alias("n_buckets"))
        .select(
            F.col("sz").cast("bigint").alias("bucket_size"),
            "n_buckets",
            (
                (F.col("sz") * (F.col("sz") - 1) / 2) * F.col("n_buckets")
            )
            .cast("bigint")
            .alias("candidate_pairs"),
        )
    )


# ---------------------------------------------------------------------------
# Round 4: boilerplate phrase removal (C4/RefinedWeb-style) + sketch QA
# ---------------------------------------------------------------------------

_BP_N = 5  # tokens per boilerplate phrase
_BP_MIN_DOCS = 2  # cross-document frequency floor

_BP_SHINGLES_SQL = (
    f"CASE WHEN len(t) >= {_BP_N} THEN list_distinct("
    "[t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]"
    f" for i in range(1, len(t) - {_BP_N - 2})]) ELSE [] END"
)

_BP_CTES = f"""
    t AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    sh AS (SELECT doc_id, unnest({_BP_SHINGLES_SQL}) AS s FROM t),
    cnt AS (
      SELECT s AS phrase, CAST(count(*) AS BIGINT) AS n_docs
      FROM sh GROUP BY s
    ),
    bp AS (SELECT phrase, n_docs FROM cnt WHERE n_docs >= {_BP_MIN_DOCS})
"""


@_register(
    "boilerplate_phrases",
    f"""
    WITH {_BP_CTES}
    SELECT phrase, n_docs FROM bp
    ORDER BY n_docs DESC, phrase
    LIMIT 20
    """,
)
def boilerplate_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb-style boilerplate detection: the {_BP_N}-token
    phrases shared by >= {_BP_MIN_DOCS} distinct documents (license
    footers, nav chrome, templated disclaimers — the text that inflates
    n-gram counts and leaks across train/test splits). The per-doc
    shingle table is DISTINCT, so a plain count IS the document
    frequency — one explode + one map-side-combinable hash aggregate +
    TakeOrderedAndProject; the corpus text never joins or shuffles.
    At 100 TB this is exactly the frequency pass C4 ran over Common
    Crawl: linear scan, bounded top-k result. The filtered phrase
    table is a persisted derived asset (queries.shared_table) so the
    per-doc ratio query reads it instead of re-running the frequency
    pass."""
    return (
        shared_boilerplate_phrases(spark, sf_dir)
        .orderBy(F.col("n_docs").desc(), "phrase")
        .limit(20)
    )


def shared_boilerplate_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(phrase, n_docs) for every {_BP_N}-gram shared by >=
    {_BP_MIN_DOCS} docs, from the persisted derived-table store."""

    def build() -> DataFrame:
        sh = dedup.shingle_table(
            _t(spark, sf_dir, "documents"), _BP_N, "doc_id"
        )
        return (
            sh.groupBy(F.col("_sh").alias("phrase"))
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .filter(F.col("n_docs") >= _BP_MIN_DOCS)
        )

    return shared_table(
        spark,
        sf_dir,
        f"boilerplate_phrases_n{_BP_N}_m{_BP_MIN_DOCS}",
        build,
        # bump when tokens()/shingle_table semantics change
        token="whitespace-tokens-distinct-shingles-v1",
    )


@_register(
    "doc_boilerplate_ratio",
    f"""
    WITH {_BP_CTES}
    SELECT sh.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(count(bp.phrase) AS BIGINT) AS n_boilerplate,
           round(count(bp.phrase) * 1.0 / count(*), 4) AS bp_ratio
    FROM sh LEFT JOIN bp ON sh.s = bp.phrase
    GROUP BY sh.doc_id
    """,
)
def doc_boilerplate_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate share: the fraction of a doc's distinct
    {_BP_N}-gram phrases that are corpus-level boilerplate — the
    C4-style line-removal signal adapted to unsegmented text (a doc
    that is mostly boilerplate is template chrome, not content; cull
    upstream of dedup so boilerplate doesn't glue unrelated docs into
    one near-dup cluster). Two passes over the SAME shingle table (one
    cached explode): corpus document-frequency aggregate, then a
    broadcast semi-join back — the phrase list is bounded (phrases
    repeated across docs), the corpus side never re-shuffles. The
    phrase table comes from the persisted store (built by
    boilerplate_phrases' first run), so this query is one shingle
    explode + one broadcast join + one aggregate."""
    sh = dedup.shingle_table(_t(spark, sf_dir, "documents"), _BP_N, "doc_id")
    bp = shared_boilerplate_phrases(spark, sf_dir).select("phrase")
    return (
        sh.join(
            F.broadcast(bp), sh["_sh"] == bp["phrase"], "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("phrase").alias("n_boilerplate"),
            dround(
                F.count("phrase") * F.lit(1.0) / F.count(F.lit(1)), 4
            ).alias("bp_ratio"),
        )
    )


def _minhash_estimate_sql() -> str:
    eq_terms = " + ".join(
        f"(CASE WHEN x.sig_{i} = y.sig_{i} THEN 1 ELSE 0 END)"
        for i in range(16)
    )
    return f"""
    WITH {_minhash_ctes("documents", 16, 2)},
    est AS (
      SELECT c.id_a, c.id_b, ({eq_terms}) / 16.0 AS est
      FROM cand c
      JOIN sig x ON c.id_a = x.doc_id
      JOIN sig y ON c.id_b = y.doc_id
    ),
    exact AS (
      SELECT e.id_a, e.id_b, round(e.est, 4) AS est_jaccard,
             round(len(list_intersect(x.shingles, y.shingles)) * 1.0
                   / len(list_distinct(list_concat(x.shingles, y.shingles))),
                   6) AS jaccard
      FROM est e
      JOIN sh x ON e.id_a = x.doc_id
      JOIN sh y ON e.id_b = y.doc_id
    )
    SELECT id_a, id_b, est_jaccard, jaccard,
           round(abs(est_jaccard - jaccard), 4) AS abs_err
    FROM exact
    """


@_register("minhash_estimate_error", _minhash_estimate_sql())
def minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality QA for the MinHash family: for every LSH candidate
    pair, the SIGNATURE-estimated Jaccard (fraction of the 16 minhash
    components that agree — the E[match] = J estimator) next to the
    exact shingle Jaccard, plus the absolute error. This is the
    diagnostic that tells you whether k=16 is enough signature for your
    similarity threshold BEFORE you trust the sketch at corpus scale —
    the estimate uses only the (k×8-byte) signatures that LSH already
    computed, the exact value only the candidate pairs (never all
    pairs). est is an exact k/16 rational on both engines; the error is
    computed from the two ROUNDED columns so the subtraction sees
    identical doubles."""
    ex = shared_shingles(spark, sf_dir)
    sig = shared_minhash_sigs(spark, sf_dir)  # stored asset, cheap scan
    bands = dedup.bands_from_signatures(sig, 16, 2, "doc_id")
    cand = dedup.lsh_candidate_pairs(bands)
    agree = sum(
        F.when(F.col(f"_xs{i}") == F.col(f"_ys{i}"), 1).otherwise(0)
        for i in range(16)
    )
    est = (
        cand.join(
            F.broadcast(
                sig.select(
                    F.col("doc_id").alias("id_a"),
                    *[F.col(f"sig_{i}").alias(f"_xs{i}") for i in range(16)],
                )
            ),
            "id_a",
        )
        .join(
            F.broadcast(
                sig.select(
                    F.col("doc_id").alias("id_b"),
                    *[F.col(f"sig_{i}").alias(f"_ys{i}") for i in range(16)],
                )
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            dround(agree / F.lit(16.0), 4).alias("est_jaccard"),
        )
    )
    exact = dedup._verify_jaccard(cand, ex, "doc_id", threshold=0.0)
    # candidate-pair grain on both sides — broadcast the verified side
    # so the final merge is a map-side hash join, not a sort-merge
    return est.join(F.broadcast(exact), ["id_a", "id_b"]).select(
        "id_a",
        "id_b",
        "est_jaccard",
        "jaccard",
        dround(F.abs(F.col("est_jaccard") - F.col("jaccard")), 4).alias(
            "abs_err"
        ),
    )


def _incremental_minhash_sql() -> str:
    return f"""
    WITH {_minhash_ctes("documents", 16, 2)},
    split AS (
      SELECT doc_id,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' AS in_index
      FROM documents
    ),
    icand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a
      JOIN split sa ON a.doc_id = sa.doc_id AND NOT sa.in_index
      JOIN bands b ON a.band = b.band AND a.key = b.key
      JOIN split sb ON b.doc_id = sb.doc_id AND sb.in_index
    )
    SELECT v.id_a AS batch_id, v.id_b AS index_id, v.jaccard
    FROM (
      SELECT icand.id_a, icand.id_b,
             round(len(list_intersect(x.shingles, y.shingles)) * 1.0
                   / len(list_distinct(list_concat(x.shingles, y.shingles))),
                   6) AS jaccard
      FROM icand
      JOIN sh x ON icand.id_a = x.doc_id
      JOIN sh y ON icand.id_b = y.doc_id
    ) v
    WHERE v.jaccard >= 0.5
    """


@_register("incremental_minhash_dedup", _incremental_minhash_sql())
def incremental_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup dedup of a NEW batch against the EXISTING corpus index —
    the 'dedup tonight's crawl against the last 100 TB' shape, which
    must never re-pair the old corpus against itself. The corpus is
    split by an md5 gate on doc_id (index: prefix < 'cd' ≈ 80%; batch:
    the rest — the same deterministic split incremental_exact_dedup
    uses); candidates come from a band-bucket join of BATCH bands
    against INDEX bands only, so the join volume scales with the batch,
    not the corpus. Signatures are read from the persisted store (at
    production scale the batch's signatures are computed fresh — a
    batch-sized scan — and appended to the same asset; the index side
    is never recomputed and its TEXT is touched only for the candidate
    verify). Output: (batch_id, index_id, jaccard >= 0.5) verified
    pairs — a batch doc with any match is a drop, its matches say why."""
    docs = _t(spark, sf_dir, "documents")
    gate = F.substring(F.md5(F.col("_id").cast("string")), 1, 2) < "cd"
    sig = shared_minhash_sigs(spark, sf_dir)
    bands = dedup.bands_from_signatures(sig, 16, 2)
    cand = dedup.lsh_candidate_pairs(bands.filter(~gate), bands.filter(gate))
    ex = shared_shingles(spark, sf_dir)
    return (
        dedup._verify_jaccard(cand, ex, "doc_id", threshold=0.5)
        .select(
            F.col("id_a").alias("batch_id"),
            F.col("id_b").alias("index_id"),
            "jaccard",
        )
    )


@_register(
    "cross_source_dup_matrix",
    f"""
    WITH {_minhash_ctes("documents", 16, 2)},
    pairs AS (
      SELECT * FROM ({_NGRAM_VERIFY_SQL}) WHERE jaccard >= 0.5
    )
    SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(sum(CAST(floor(p.jaccard * 1000000.0 + 0.5) AS BIGINT))
                 * 1.0 / count(*) / 1000000.0, 4) AS avg_jaccard
    FROM pairs p
    JOIN documents da ON p.id_a = da.doc_id
    JOIN documents db ON p.id_b = db.doc_id
    GROUP BY 1, 2
    """,
)
def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: near-dup pairs (MinHash-LSH,
    verified Jaccard >= 0.5) bucketed by the UNORDERED pair of source
    labels — the dataset-composition diagnostic that answers 'how much
    of source X is already inside source Y' before you weight a
    mixture (within-source dups inflate a source's effective size;
    cross-source dups double-count content across mixture components).
    Rides the persisted signature store; the per-pair join against the
    (doc_id, source) projection is broadcast-sized at any |pairs| that
    fits the LSH candidate budget. avg_jaccard aggregates exact-integer
    micro-units so summation order cannot flip the rounding."""
    docs = _t(spark, sf_dir, "documents")
    ex = shared_shingles(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs_from(
        ex, shared_minhash_bands(spark, sf_dir), threshold=0.5
    )
    src = docs.select("doc_id", "source")
    sa, sb = F.col("_src_a"), F.col("_src_b")
    joined = (
        pairs.join(
            F.broadcast(
                src.select(
                    F.col("doc_id").alias("id_a"),
                    F.col("source").alias("_src_a"),
                )
            ),
            "id_a",
        )
        .join(
            F.broadcast(
                src.select(
                    F.col("doc_id").alias("id_b"),
                    F.col("source").alias("_src_b"),
                )
            ),
            "id_b",
        )
    )
    micro = F.floor(F.col("jaccard") * 1e6 + F.lit(0.5)).cast("bigint")
    return (
        joined.groupBy(
            F.least(sa, sb).alias("source_a"),
            F.greatest(sa, sb).alias("source_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            dround(
                F.sum(micro) * F.lit(1.0) / F.count(F.lit(1)) / F.lit(1e6), 4
            ).alias("avg_jaccard"),
        )
    )


@_register(
    "source_quality_profile",
    f"""
    WITH {_scored_passed_ctes()}
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(sum(CAST(floor(s.quality_score * 100.0 + 0.5) AS BIGINT))
                 * 1.0 / count(*) / 100.0, 4) AS mean_quality,
           round(sum(CASE WHEN s.quality_score >= 0.5 THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 4) AS pass_rate
    FROM scored s JOIN documents d ON s.doc_id = d.doc_id
    GROUP BY d.source
    ORDER BY d.source
    """,
)
def source_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality yield: document count, mean quality score,
    and the share passing the curation floor (0.5) — the triage view
    that decides which sources deserve crawl/ingest budget before any
    expensive dedup runs. One scoring scan (the same scan-local
    score_documents projection the curation pipeline uses — no drift)
    + one aggregate; scores are x0.25-quantized so the fixed-point
    integer average is exact on both engines."""
    scored = shared_scored_docs(spark, sf_dir)
    cents = F.floor(F.col("quality_score") * 100.0 + F.lit(0.5)).cast("bigint")
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            dround(
                F.sum(cents) * F.lit(1.0) / F.count(F.lit(1)) / F.lit(100.0),
                4,
            ).alias("mean_quality"),
            dround(
                F.sum(
                    F.when(F.col("quality_score") >= 0.5, 1).otherwise(0)
                )
                * F.lit(1.0)
                / F.count(F.lit(1)),
                4,
            ).alias("pass_rate"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Frequency sketches: count-min heavy hitters, Zipf rank-frequency slope
# ---------------------------------------------------------------------------

_CMS_DEPTH = 4  # independent hash rows
_CMS_WIDTH = 512  # buckets per row


def _cms_bucket(row: int, tok) -> "F.Column":
    """Hash row ``row``'s bucket for a token: first 16 bits of
    md5('{row}_' || tok) mod width — integer-exact, so the DuckDB twin
    (('0x'||substr(md5(...),1,4))::INT % width) replays it bit for bit."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{row}_"), tok)), 1, 4), 16, 10
        ).cast("long")
        % _CMS_WIDTH
    )


def _cms_bucket_sql(row: int, tok_expr: str) -> str:
    return (
        f"(('0x' || substr(md5('{row}_' || {tok_expr}), 1, 4))::INT"
        f" % {_CMS_WIDTH})"
    )


@_register(
    "cms_heavy_hitters",
    f"""
    WITH toks AS (
      SELECT unnest({_TOKS_SQL}) AS tok FROM documents
    ),
    exact AS (
      SELECT tok, count(*) AS exact_count FROM toks GROUP BY tok
    ),
    top AS (
      SELECT tok, exact_count FROM exact
      ORDER BY exact_count DESC, tok LIMIT 20
    ),
    probes AS (
      {" UNION ALL ".join(
        f"SELECT {i} AS row, {_cms_bucket_sql(i, 'tok')} AS bucket, tok FROM toks"
        for i in range(_CMS_DEPTH)
      )}
    ),
    sketch AS (
      SELECT row, bucket, count(*) AS c FROM probes GROUP BY row, bucket
    ),
    est AS (
      SELECT t.tok, min(s.c) AS cms_estimate
      FROM top t
      JOIN sketch s
        ON ({" OR ".join(
          f"(s.row = {i} AND s.bucket = {_cms_bucket_sql(i, 't.tok')})"
          for i in range(_CMS_DEPTH)
        )})
      GROUP BY t.tok
    )
    SELECT t.tok AS tok,
           CAST(t.exact_count AS BIGINT) AS exact_count,
           CAST(e.cms_estimate AS BIGINT) AS cms_estimate
    FROM top t JOIN est e ON t.tok = e.tok
    ORDER BY exact_count DESC, t.tok
    """,
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch accuracy audit: the corpus's top-20 tokens with
    their exact counts next to the CMS estimate (depth 4 x width 512).

    Completes the sketch family (HLL distinct, GK quantiles, Bloom join
    pruning — COVERAGE.md) with the bounded-memory FREQUENCY sketch: at
    100 TB the exact token-count table is vocabulary-sized (10^8+ rows,
    a full shuffle to maintain), while the sketch is a fixed
    depth*width integer grid a streaming job can hold per-executor and
    merge by addition. The estimate is a provable OVERcount (min over
    rows of a bucket that also absorbed colliding tokens), so the
    audit's (exact, estimate) gap is the collision error at this
    width — the sizing curve an operator reads before trusting the
    sketch at production vocabulary sizes.

    Plan: one explode feeds both faces; the sketch is a (row, bucket)
    hash-aggregate capped at depth*width = 2048 rows (broadcast to the
    probe join), and the exact side is a map-side-combined token count
    + TakeOrdered(20). All hashing is md5-derived integers — the DuckDB
    twin replays the identical sketch, so hash equality verifies the
    estimates themselves, not just the shape.
    """
    docs = _t(spark, sf_dir, "documents")
    toks = pin(docs.select(F.explode(tokens(F.col("text"))).alias("tok")))
    toks.count()  # materialize: the exact side and the sketch side
    # shuffle on different keys, so ReuseExchange cannot serve them from
    # one scan — uncached, the corpus would be read + exploded twice
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_count"))
    top = exact.orderBy(F.col("exact_count").desc(), "tok").limit(20)

    entries = F.array(
        *[
            F.struct(
                F.lit(i).alias("row"),
                _cms_bucket(i, F.col("tok")).alias("bucket"),
            )
            for i in range(_CMS_DEPTH)
        ]
    )
    sketch = (
        toks.select(F.explode(entries).alias("e"))
        .groupBy(F.col("e.row").alias("row"), F.col("e.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    probes = top.select(
        "tok", "exact_count", F.explode(entries).alias("e")
    ).select("tok", "exact_count", F.col("e.row").alias("row"), F.col("e.bucket").alias("bucket"))
    return (
        probes.join(F.broadcast(sketch), ["row", "bucket"])
        .groupBy("tok", "exact_count")
        .agg(F.min("c").alias("cms_estimate"))
        .orderBy(F.col("exact_count").desc(), "tok")
    )


@_register(
    "zipf_slope",
    f"""
    WITH toks AS (
      SELECT unnest({_TOKS_SQL}) AS tok FROM documents
    ),
    counts AS (
      SELECT tok, count(*) AS c FROM toks GROUP BY tok
    ),
    top AS (
      SELECT tok, c FROM counts ORDER BY c DESC, tok LIMIT 200
    ),
    ranked AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS r FROM top
    ),
    q AS (
      SELECT CAST(floor(ln(r) * 1000000.0 + 0.5) AS BIGINT) AS x,
             CAST(floor(ln(c) * 1000000.0 + 0.5) AS BIGINT) AS y,
             c
      FROM ranked
    )
    SELECT CAST(count(*) AS BIGINT) AS n_terms,
           CAST(max(c) AS BIGINT) AS top_freq,
           round((count(*) * sum(x * y) - sum(x) * sum(y)) * 1.0
                 / (count(*) * sum(x * x) - sum(x) * sum(x)), 4)
             AS zipf_slope
    FROM q
    """,
)
def zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-health diagnostic: least-squares slope of log(frequency)
    vs log(rank) over the top-200 tokens — natural text follows Zipf's
    law (slope near -1); machine-generated or template-heavy corpora
    flatten or steepen it, so the slope is a one-number drift alarm on
    an ingest feed.

    Determinism discipline (same as daily_count_revenue_corr): NO float
    moment aggregates — ln(r)/ln(c) are quantized to 1e-6 fixed-point
    LONGs first, then slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) runs on
    exact integer sums; the only float ops are the per-row ln+quantize
    and ONE final division — both exactly rounded, so the oracle
    matches bit for bit regardless of partitioning or summation order.
    (Magnitudes: x,y ≤ ln(10¹²)·10⁶ < 3e7, n = 200 → nΣxy < 4e18, ΣxΣy
    < 4e18 — inside int64; ln caps growth, so the bound holds at any
    corpus size.) The regression runs AFTER a TakeOrdered(200) cap, so
    the ranking window orders 200 rows, not the vocabulary. Rank ties
    share the same frequency, so which token takes which rank cannot
    change the (x, y) multiset — the slope is deterministic.
    """
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    top = counts.orderBy(F.col("c").desc(), "tok").limit(200)
    ranked = top.withColumn(
        "r", F.row_number().over(Window.orderBy(F.col("c").desc(), "tok"))
    )

    def _q(col):
        return F.floor(F.log(col) * F.lit(1000000.0) + F.lit(0.5)).cast("long")

    q = ranked.select(
        _q(F.col("r")).alias("x"), _q(F.col("c")).alias("y"), "c"
    )
    n = F.count(F.lit(1))
    num = (n * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y")).cast(
        "double"
    )
    den = (n * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x")).cast(
        "double"
    )
    return q.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.max("c").alias("top_freq"),
        dround(num / den, 4).alias("zipf_slope"),
    )


# ---------------------------------------------------------------------------
# Asymmetric containment near-dup (quote / excerpt / boilerplate-superset)
# ---------------------------------------------------------------------------


@_register(
    "containment_pairs",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    sh0 AS (
      SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM t
    ),
    sh AS (
      SELECT doc_id, unnest(shingles) AS s FROM sh0 WHERE len(shingles) > 0
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    directed AS (
      SELECT cm.id_a AS contained_id, cm.id_b AS container_id,
             cm.c * 1.0 / sa.n AS _c
      FROM common cm JOIN sizes sa ON cm.id_a = sa.doc_id
      UNION ALL
      SELECT cm.id_b, cm.id_a, cm.c * 1.0 / sb.n
      FROM common cm JOIN sizes sb ON cm.id_b = sb.doc_id
    )
    SELECT contained_id, container_id,
           round(_c, 6) AS containment
    FROM directed
    WHERE round(_c, 6) >= 0.6
    ORDER BY contained_id, container_id
    """,
)
def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup: ordered (contained, container)
    pairs with |A∩B|/|A| >= 0.6 over 3-token shingles. Catches what
    resemblance (Jaccard) dedup structurally misses — a short doc quoted
    inside a much longer one has J ~ 0 but containment ~ 1. See
    operators/dedup.shingle_containment_pairs for the plan and the
    PPJoin-style scale path."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.shingle_containment_pairs(
        docs, n=3, threshold=0.6, id_col="doc_id",
        shingles=shared_shingles(spark, sf_dir),
    ).orderBy("contained_id", "container_id")


@_register(
    "incremental_span_dedup",
    f"""
    WITH t AS (SELECT doc_id, {{toks}} AS t FROM documents),
    runs AS (
      SELECT doc_id, i AS s,
             md5(array_to_string(list_slice(t, i, i + {_RUN_N - 1}), ' ')) AS h
      FROM (SELECT doc_id, t, unnest(range(1, len(t) - {_RUN_N - 2})) AS i
            FROM t)
    ),
    fl AS (
      SELECT doc_id, s, h,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' AS in_index
      FROM runs
    ),
    hstat AS (
      SELECT h, max(CASE WHEN in_index THEN 1 ELSE 0 END) AS has_idx
      FROM fl GROUP BY h
    ),
    batch AS (
      SELECT f.doc_id, f.s, hs.has_idx
      FROM fl f JOIN hstat hs USING (h) WHERE NOT f.in_index
    ),
    agg AS (
      SELECT doc_id, count(*) AS n_runs, sum(has_idx) AS n_hit_runs
      FROM batch GROUP BY doc_id
    ),
    cov AS (
      SELECT DISTINCT b.doc_id, b.s + u.j AS p
      FROM batch b CROSS JOIN range(0, {_RUN_N}) u(j) WHERE b.has_idx = 1
    ),
    covagg AS (SELECT doc_id, count(*) AS n_covered FROM cov GROUP BY doc_id)
    SELECT a.doc_id,
           CAST(a.n_runs + {_RUN_N - 1} AS BIGINT) AS n_tokens,
           CAST(a.n_runs AS BIGINT) AS n_runs,
           CAST(a.n_hit_runs AS BIGINT) AS n_hit_runs,
           CAST(coalesce(c.n_covered, 0) AS BIGINT) AS n_covered_tokens,
           round(coalesce(c.n_covered, 0) * 1.0
                 / (a.n_runs + {_RUN_N - 1}), 4) AS dup_ratio,
           CASE WHEN coalesce(c.n_covered, 0) * 10
                     >= (a.n_runs + {_RUN_N - 1}) * 5 THEN 'quarantine'
                WHEN coalesce(c.n_covered, 0) * 10
                     >= (a.n_runs + {_RUN_N - 1}) * 2 THEN 'flag'
                ELSE 'keep' END AS action
    FROM agg a LEFT JOIN covagg c ON a.doc_id = c.doc_id
    """.replace("{toks}", _TOKS_SQL),
)
def incremental_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SPAN-level dedup — the growing-corpus shape for the
    substring family (Lee et al.), completing the incremental trio
    (exact fingerprints: incremental_exact_dedup; MinHash signatures:
    incremental_minhash_dedup; verbatim spans: this). The corpus splits
    by the md5 doc_id hash into the accumulated index (~80%) and a new
    batch; each batch doc with at least {_RUN_N} tokens reports how
    much of its text is verbatim-covered by {_RUN_N}-token runs already
    present in the index, and a triage action from integer-exact
    thresholds (>=50% covered -> quarantine, >=20% -> flag, else keep
    — the CASE compares n_covered*10 vs n_tokens*k so no float
    boundary can flip cross-engine).

    Shape (same discipline as dedup_spans_text): the persisted run
    index (shared_positioned_runs) takes ONE window exchange on h that
    marks each run with "some INDEX doc also has this hash" in place —
    at 100 TB the index side is run hashes only, never text, and the
    new batch never rescans old documents. Coverage positions
    repartition by doc with the (doc,pos) dedup and count riding that
    partitioning; the per-doc run rollup rides its own doc
    repartition; the final doc-level join is co-partitioned and
    exchange-free. Docs with fewer than {_RUN_N} tokens have no runs
    and are out of scope by contract (span dedup cannot apply)."""
    runs = shared_positioned_runs(spark, sf_dir)
    wh = Window.partitionBy("h")
    in_idx = (
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "cd"
    )
    marked = runs.select(
        "doc_id", "_pos", "h", in_idx.alias("_in_index")
    ).withColumn(
        "_has_idx", F.max(F.col("_in_index").cast("int")).over(wh)
    )
    batch = marked.filter(~F.col("_in_index"))
    agg = (
        batch.repartition("doc_id")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_runs"),
            F.sum("_has_idx").alias("n_hit_runs"),
        )
    )
    cov = (
        batch.filter(F.col("_has_idx") == 1)
        .select(
            F.col("doc_id").alias("_cdoc"),
            F.explode(
                F.sequence(F.col("_pos"), F.col("_pos") + F.lit(_RUN_N - 1))
            ).alias("_p"),
        )
        .repartition("_cdoc")
        .dropDuplicates(["_cdoc", "_p"])
        .groupBy("_cdoc")
        .agg(F.count(F.lit(1)).alias("n_covered"))
    )
    joined = agg.join(cov, agg["doc_id"] == cov["_cdoc"], "left")
    n_tokens = F.col("n_runs") + F.lit(_RUN_N - 1)
    n_cov = F.coalesce(F.col("n_covered"), F.lit(0))
    return joined.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        F.col("n_runs").cast("long").alias("n_runs"),
        F.col("n_hit_runs").cast("long").alias("n_hit_runs"),
        n_cov.cast("long").alias("n_covered_tokens"),
        dround(n_cov * F.lit(1.0) / n_tokens, 4).alias("dup_ratio"),
        F.when(n_cov * 10 >= n_tokens * 5, "quarantine")
        .when(n_cov * 10 >= n_tokens * 2, "flag")
        .otherwise("keep")
        .alias("action"),
    )
