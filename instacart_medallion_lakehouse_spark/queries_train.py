"""Query registry, part 4 (round 3): training-data assembly operators.

The steps between "curated corpus" and "training run" that a 100 TB
pipeline needs on top of scoring/dedup (queries_text.py) and curation
(curation.py):

- deterministic stratified sampling (hash-gated, no RNG state),
- corpus mixture reweighting with token-budget accounting,
- concat-and-chunk sequence packing into fixed token budgets,
- LSH-pair -> cluster-id assignment over the whole corpus,
- multi-grain aggregation via GROUPING SETS (the reporting face).

Same lockstep invariants as queries.py: every entry has a DuckDB twin
generated from the same constants, md5 is the only hash (identical hex
on both engines), and sampling decisions are hex-string comparisons on
md5 prefixes — the mechanism train_val_test_split (queries_text.py)
established. Registration order puts these PAST the curated 50-entry
driver window (queries._WINDOW_PRIORITY); they are gated by
tools/check_oracle.py locally and eligible for a future round's window.

Reference parity note: the reference has no sampling/packing surface
(its pipeline ends at gold marts, 03_gold_metrics.py); these extend the
north-star scope like queries_text.py does, reusing reference-shaped
gates (counts per layer, README.md:69 fail-fast philosophy).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.scalar import dround
from .functions.text import tokens
from .operators import dedup
from .operators.graph import label_propagation
from .queries import _register, _t
from .oracle_fragments import _NGRAM_VERIFY_SQL, _TOKS_SQL, _minhash_ctes

# ---------------------------------------------------------------------------
# Deterministic stratified sampling
# ---------------------------------------------------------------------------

# per-stratum keep thresholds on the first two hex chars of
# md5(o_orderkey): bucket space is 256, so '1a'=26/256~10%, '40'=25%,
# '80'=50%. Hex-string comparison (not int conversion) keeps the gate a
# single codegen'd predicate and is engine-identical by construction.
_STRATA = {"O": "1a", "F": "40", "P": "80"}


def _strata_case_sql() -> str:
    arms = "\n             ".join(
        f"WHEN o_orderstatus = '{s}' THEN '{t}'" for s, t in _STRATA.items()
    )
    return f"CASE {arms} END"


@_register(
    "stratified_sample",
    f"""
    WITH gated AS (
      SELECT o_orderstatus,
             CASE WHEN substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 2)
                       < {_strata_case_sql()}
                  THEN 1 ELSE 0 END AS kept
      FROM orders
    )
    SELECT o_orderstatus,
           count(*) AS n_total,
           CAST(sum(kept) AS BIGINT) AS n_sampled,
           round(sum(kept) * 1.0 / count(*), 4) AS achieved_rate
    FROM gated
    GROUP BY o_orderstatus
    """,
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum downsampling: each order's fate is a
    pure function of its key (md5 prefix vs a per-status threshold), so
    the sample is reproducible across runs, engines, and cluster sizes —
    no RNG seeds to thread through executors, no sampleBy() whose result
    depends on partitioning. The gate is one codegen'd CASE over a
    narrow scan: zero extra shuffles beyond the reporting aggregate, and
    at 100 TB the sampled WRITE is the same scan with `kept = 1` pushed
    into the filter. Thresholds live in _STRATA; both engines read them
    from the same dict."""
    thr = F.coalesce(
        *[
            F.when(F.col("o_orderstatus") == s, F.lit(t))
            for s, t in _STRATA.items()
        ]
    )
    kept = (
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 2) < thr
    ).cast("int")
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderstatus", kept.alias("kept"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("kept").cast("bigint").alias("n_sampled"),
            dround(F.sum("kept") * F.lit(1.0) / F.count(F.lit(1)), 4).alias(
                "achieved_rate"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Corpus mixture reweighting with token accounting
# ---------------------------------------------------------------------------

# language -> md5-prefix keep threshold: downweight the dominant
# language, keep the tail whole ('ff' is above every 2-hex prefix
# except itself; exact-'ff' prefixes (~0.4%) are kept by <=).
_MIX = {"en": "55", "zh": "aa"}
_MIX_DEFAULT = "ff"


def _mix_case_sql() -> str:
    arms = "\n             ".join(
        f"WHEN lang = '{lang}' THEN '{t}'" for lang, t in _MIX.items()
    )
    return f"CASE {arms} ELSE '{_MIX_DEFAULT}' END"


@_register(
    "corpus_mixture",
    f"""
    WITH gated AS (
      SELECT lang,
             len({_TOKS_SQL}) AS n_tok,
             CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                       <= {_mix_case_sql()}
                  THEN 1 ELSE 0 END AS kept
      FROM documents
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(kept) AS BIGINT) AS kept_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           CAST(sum(kept * n_tok) AS BIGINT) AS kept_tokens,
           round(sum(kept * n_tok) * 1.0 / sum(n_tok), 4) AS token_keep_rate
    FROM gated
    GROUP BY lang
    """,
)
def corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture reweighting: per-language keep rates (downsample the
    dominant languages toward a target mix) with token-budget
    accounting — kept tokens per language is the number that actually
    drives a training mixture, not document counts. Same deterministic
    md5-gate mechanism as stratified_sample, keyed on the lang column;
    one narrow scan, one aggregate, no shuffle beyond it."""
    thr = F.coalesce(
        *[F.when(F.col("lang") == s, F.lit(t)) for s, t in _MIX.items()],
        F.lit(_MIX_DEFAULT),
    )
    docs = _t(spark, sf_dir, "documents")
    kept = (
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) <= thr
    ).cast("int")
    gated = docs.select(
        "lang",
        F.size(tokens(F.col("text"))).alias("n_tok"),
        kept.alias("kept"),
    )
    return gated.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("kept").cast("bigint").alias("kept_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.sum(F.col("kept") * F.col("n_tok")).cast("bigint").alias("kept_tokens"),
        dround(
            F.sum(F.col("kept") * F.col("n_tok"))
            * F.lit(1.0)
            / F.sum("n_tok"),
            4,
        ).alias("token_keep_rate"),
    )


_TEMP_ALPHA = 0.3  # mT5/XLM-R style mixture temperature exponent


@_register(
    "mixture_temperature_weights",
    f"""
    WITH c AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY lang
    ),
    tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n FROM c),
    pw AS (
      SELECT lang, n_docs,
             n_docs * 1.0 / n AS p,
             CAST(floor(pow(n_docs * 1.0 / n, {_TEMP_ALPHA}) * 1000000.0
                        + 0.5) AS BIGINT) AS w
      FROM c CROSS JOIN tot
    ),
    z AS (SELECT CAST(sum(w) AS BIGINT) AS z FROM pw)
    SELECT lang, n_docs,
           round(p, 6) AS p_raw,
           round(w * 1.0 / z, 6) AS p_temp,
           round((w * 1.0 / z) / p, 4) AS boost
    FROM pw CROSS JOIN z
    ORDER BY lang
    """,
)
def mixture_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language sampling weights (the mT5/XLM-R
    recipe): q_l ∝ p_l^α with α={_TEMP_ALPHA} flattens the language
    distribution so low-resource languages are upsampled — the standard
    knob for multilingual pretraining mixtures. `boost` = q/p is the
    effective over/under-sampling factor per language.

    Cross-engine float discipline: pow() is the one transcendental, so
    each p^α is quantized to exact micro-units (floor(·1e6 + .5) as
    BIGINT) BEFORE the normalizing sum — the partition function z is
    then an exact integer sum (order-independent), and every published
    ratio divides two integers both engines agree on. Three tiny
    aggregates over a |langs|-row table; the only fact-scale work is
    the lang count scan."""
    docs = _t(spark, sf_dir, "documents")
    c = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = c.agg(F.sum("n_docs").alias("n"))
    p = F.col("n_docs") * F.lit(1.0) / F.col("n")
    pw = c.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        p.alias("p"),
        F.floor(F.pow(p, F.lit(_TEMP_ALPHA)) * 1e6 + F.lit(0.5))
        .cast("bigint")
        .alias("w"),
    )
    z = pw.agg(F.sum("w").cast("bigint").alias("z"))
    q = F.col("w") * F.lit(1.0) / F.col("z")
    return (
        pw.crossJoin(F.broadcast(z))
        .select(
            "lang",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            dround(F.col("p"), 6).alias("p_raw"),
            dround(q, 6).alias("p_temp"),
            dround(q / F.col("p"), 4).alias("boost"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Concat-and-chunk sequence packing
# ---------------------------------------------------------------------------

_PACK_BUDGET = 2048
_PACK_SHARDS = 8


@_register(
    "sequence_packing",
    f"""
    WITH sized AS (
      SELECT doc_id,
             doc_id % {_PACK_SHARDS} AS shard,
             len({_TOKS_SQL}) AS n_tok
      FROM documents
    ),
    placed AS (
      SELECT shard, doc_id, n_tok,
             sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) - n_tok
               AS start_tok
      FROM sized
    )
    SELECT shard,
           CAST(floor(start_tok * 1.0 / {_PACK_BUDGET}) AS BIGINT) AS pack_id,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS pack_tokens,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM placed
    GROUP BY shard, pack_id
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing: documents are concatenated in doc_id
    order within a shard and cut into fixed token budgets — a doc's
    pack is floor(its cumulative start offset / budget), exactly the
    'concatenate everything, slice every N tokens' scheme LLM
    pretraining uses (docs straddling a boundary belong to the pack
    they start in).

    Scale shape: the shard is the unit of parallelism — packing is a
    per-shard running sum (one window over PARTITION BY shard), never a
    global cumulative sum through a single reducer. Real pipelines pack
    per input shard for exactly this reason; shard count scales with
    the cluster, the window stays partition-local."""
    docs = _t(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        F.size(tokens(F.col("text"))).alias("n_tok"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    placed = sized.withColumn(
        "start_tok", F.sum("n_tok").over(w) - F.col("n_tok")
    )
    pack_id = F.floor(F.col("start_tok") * F.lit(1.0) / F.lit(_PACK_BUDGET))
    return (
        placed.groupBy("shard", pack_id.alias("pack_id"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("pack_tokens"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
        )
    )


# ---------------------------------------------------------------------------
# LSH pairs -> whole-corpus cluster assignment
# ---------------------------------------------------------------------------


def _cluster_ctes(iterations: int = 3) -> str:
    """Min-label propagation over the MinHash-LSH pair graph, unrolled
    as CTEs around the (nested) minhash oracle, then left-joined back
    to the corpus so every doc gets a cluster id (its own id when
    unpaired)."""
    ctes = [
        f"""pairs AS (
      SELECT id_a, id_b FROM (
        WITH {_minhash_ctes("documents", 16, 2)}
        SELECT * FROM ({_NGRAM_VERIFY_SQL}) WHERE jaccard >= 0.5
      )
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
    cluster_cte = f"""{joined},
    clusters AS (
      SELECT d.doc_id,
             CAST(coalesce(l.label, d.doc_id) AS BIGINT) AS cluster
      FROM documents d
      LEFT JOIN l{iterations} l ON l.node = d.doc_id
    )"""
    return cluster_cte


def _cluster_sql(iterations: int = 3) -> str:
    return f"""
    WITH {_cluster_ctes(iterations)}
    SELECT doc_id, cluster FROM clusters
    """


@_register("dedup_clusters", _cluster_sql(3))
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composition every near-dup pipeline ends with: LSH candidate
    PAIRS (minhash_lsh_dedup's output) collapsed into CLUSTER IDS for
    the whole corpus — transitive matches (A~B, B~C) share one cluster
    labeled by its minimum member, and unpaired docs are their own
    cluster. Downstream keep-one-per-cluster is then a trivial
    `doc_id = cluster` filter (the deterministic survivor rule
    curated_docs uses).

    Scale: pairs come from the banded LSH join (no all-pairs step),
    propagation is the self-looped one-join-one-aggregate round from
    operators/graph.py, and the final assignment is one left join of
    the corpus against a label table bounded by the paired-node count
    (ids only — text never shuffles). 3 rounds bound the diameter;
    convergence is asserted in tests."""
    from .queries_text import shared_minhash_bands, shared_shingles

    docs = _t(spark, sf_dir, "documents")
    # the verify reads the shingle store from three sides as returned:
    # three column-pruned scans beat writing it into executor cache
    ex = shared_shingles(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs_from(
        ex, shared_minhash_bands(spark, sf_dir), threshold=0.5
    ).select("id_a", "id_b")
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


# ---------------------------------------------------------------------------
# GROUPING SETS multi-grain rollup
# ---------------------------------------------------------------------------


@_register(
    "grouping_sets_revenue",
    """
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INT)
             AS grain,
           count(*) AS n_items,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-grain aggregation in ONE pass: detail (flag, status),
    subtotal per flag, and grand total via GROUPING SETS — rollup_revenue
    and cube_revenue's generalization to an arbitrary grain list. The
    grain column is the grouping_id bitmask, which distinguishes a
    rolled-up NULL from a data NULL (here also COALESCEd to 'ALL' for
    readability). One shuffle: Spark expands the input once per set and
    aggregates them together, so at 100 TB this beats three separate
    aggregate jobs by two full scans."""
    li = _t(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    grouped = li.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        (F.grouping("l_returnflag") * 2 + F.grouping("l_linestatus"))
        .cast("int")
        .alias("grain"),
        F.count(F.lit(1)).alias("n_items"),
        dround(F.sum(revenue), 2).alias("revenue"),
    )
    return grouped.select(
        F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
        F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("linestatus"),
        "grain",
        "n_items",
        "revenue",
    )


def _canonical_sql() -> str:
    from .oracle_fragments import _scored_passed_ctes

    return f"""
    WITH {_cluster_ctes(3)},
    {_scored_passed_ctes()}
    SELECT c.doc_id, c.cluster, s.quality_score,
           (row_number() OVER (PARTITION BY c.cluster
                               ORDER BY s.quality_score DESC, c.doc_id) = 1)
             AS is_canonical
    FROM clusters c JOIN scored s ON s.doc_id = c.doc_id
    """


@_register("cluster_canonicals", _canonical_sql())
def cluster_canonicals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection: within each near-dup cluster
    (dedup_clusters' LSH-pair propagation), keep the HIGHEST-QUALITY
    member — not the minimum id. min-id survival (curated_docs) is the
    cheap deterministic default, but a production corpus wants the
    best-written duplicate; the tie-break (quality DESC, doc_id) keeps
    it deterministic. One window over the cluster assignment joined
    with the scan-local quality score — the text itself never joins or
    shuffles. Reference parity: composes dedup_clusters x
    quality_score, both individually oracle-green, into the
    keep-best-per-group shape (reference dedup keeps first by
    order_id, 02_silver_transform.py)."""
    from .queries_text import quality_score

    clusters = dedup_clusters(spark, sf_dir)
    scores = quality_score(spark, sf_dir).select("doc_id", "quality_score")
    joined = clusters.join(scores, "doc_id")
    w = Window.partitionBy("cluster").orderBy(
        F.col("quality_score").desc(), F.col("doc_id")
    )
    return joined.select(
        "doc_id",
        "cluster",
        "quality_score",
        (F.row_number().over(w) == 1).alias("is_canonical"),
    )


@_register(
    "hash_shuffled_export",
    """
    WITH keyed AS (
      SELECT doc_id,
             ('0x' || substr(md5('shuf_' || CAST(doc_id AS VARCHAR)), 1, 15))
               ::BIGINT AS k
      FROM documents
    )
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY k, doc_id) AS BIGINT) AS pos,
           CAST((row_number() OVER (ORDER BY k, doc_id) - 1) % 8 AS BIGINT)
             AS shard
    FROM keyed
    ORDER BY pos
    """,
)
def hash_shuffled_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: every document gets
    a pseudo-random position from the md5 of its id (60-bit key, salted
    'shuf_' so this hash stream is independent of the split/resample
    streams) and a round-robin shard assignment — the export step that
    randomizes training order WITHOUT RNG state, so any re-run, task
    retry, or different cluster size reproduces byte-identical shards.

    Spark-first: the global ordering uses operators/windows.
    global_row_number (cutpoint-bucketed two-pass rank) — NOT a
    partitionless row_number window, which would funnel the corpus
    through one task; at 100 TB the same plan writes
    partitionBy(shard) with sortWithinPartitions(pos). The md5 hex →
    bigint conversion (conv base 16) is exact at 15 hex chars and
    identical in DuckDB ('0x…'::BIGINT)."""
    from .operators.windows import global_row_number

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("shuf_"), F.col("doc_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("k"),
    )
    ranked = global_row_number(docs, ["k", "doc_id"], "pos")
    return (
        ranked.select(
            "doc_id",
            F.col("pos").cast("bigint").alias("pos"),
            ((F.col("pos") - F.lit(1)) % F.lit(8)).cast("bigint").alias("shard"),
        )
        .orderBy("pos")
    )
