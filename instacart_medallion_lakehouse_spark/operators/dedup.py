"""Document deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard.

The training-data-pipeline extension surface (engine north star; the
reference's only dedup is the row-level PK dedup of SURVEY.md §2.5 W1).
Every operator here is built from Catalyst expressions + at most one
candidate-generation join — no Python UDFs, no driver-side loops.

Scale architecture (the part that matters at 100 TB):
- Signatures (minhash, simhash, fingerprints) are computed as ARRAY
  expressions inside the document scan — zero shuffles, linear work,
  whole-stage codegen. A 100 TB corpus signature pass is
  embarrassingly parallel.
- Candidate generation is an equi-join on hash-derived band/bucket
  keys — the ONLY shuffle, and it moves (key, doc_id, small signature)
  pairs, never document text. This is the canonical MinHash-LSH band
  trick: pair candidates meet in a bucket, everything else never
  meets, so the O(n²) pair space is never materialized.
- Verification (exact Jaccard / Hamming) runs only on candidate pairs.

Determinism: all hashes derive from md5 (identical lowercase hex on
Spark and DuckDB), so signatures, buckets, candidates, and verified
pair sets are engine-independent — the DuckDB oracle reproduces them
exactly (see queries.py for the SQL twins).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalar import dround
from ..functions.text import fingerprint, tokens
from ..pins import pin

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via content fingerprint (md5 of normalized text).

    Adds ``fingerprint``, ``canonical_doc_id`` (min id in the group) and
    ``is_duplicate``. One shuffle on the fingerprint (high cardinality →
    no skew). The min-id window is a groupBy-min in disguise; we keep
    the window so callers retain every row (flagging, not dropping —
    dropping is a .filter away).
    """
    w = Window.partitionBy("fingerprint")
    return (
        docs.withColumn("fingerprint", fingerprint(F.col("text")))
        .withColumn("canonical_doc_id", F.min(id_col).over(w))
        # NULL-text docs share a NULL fingerprint and land in one window
        # partition — they share no content, so each is its own
        # canonical, never a duplicate of the others
        .withColumn(
            "canonical_doc_id",
            F.when(F.col("fingerprint").isNull(), F.col(id_col)).otherwise(
                F.col("canonical_doc_id")
            ),
        )
        .withColumn("is_duplicate", F.col(id_col) != F.col("canonical_doc_id"))
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact near-dup, inverted-index candidate join)
# ---------------------------------------------------------------------------


def shingle_table(docs: DataFrame, n: int, id_col: str) -> DataFrame:
    """DISTINCT (id, shingle) pairs in relational (exploded) form.

    posexplode the tokens ONCE, then build each n-shingle with lead()
    windows over (doc, position) — entirely codegen'd projections plus
    one small window shuffle. This deliberately avoids the array route
    (token_shingles inside transform): Catalyst's projection collapse
    inlines the split() into every element_at reference of the
    interpreted lambda, re-tokenizing the document once per shingle per
    position — quadratic work that the relational form structurally
    cannot do. The distinct matches the list_distinct of the SQL twin.
    """
    w = Window.partitionBy(id_col).orderBy("_pos")
    ex = docs.select(
        F.col(id_col), F.posexplode(tokens(F.col("text"))).alias("_pos", "_tok")
    )
    parts = [F.col("_tok")] + [F.lead("_tok", i).over(w) for i in range(1, n)]
    last = parts[-1]
    return (
        ex.select(F.col(id_col), F.concat_ws(" ", *parts).alias("_sh"), last.alias("_last"))
        .filter(F.col("_last").isNotNull())
        .select(id_col, "_sh")
        .distinct()
    )


# auto-switch point for PPJoin prefix filtering: below this many
# exploded (doc, shingle) rows the all-pairs inverted index wins (the
# prefix path's document-frequency ranking adds a window pass + two
# joins of fixed overhead — measured 3x slower at sf0.1's 260k rows);
# above it, hot-shingle blowup dominates and the prefix prune is the
# only exact shape that survives (at 100 TB corpora this is always on)
_PREFIX_AUTO_THRESHOLD = 5_000_000


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    prefix_filter: bool | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """All pairs with n-token-shingle Jaccard >= threshold (exact).

    Candidate generation AND intersection counting in one pass: explode
    distinct shingles, self-join on the shingle (inverted index), then
    hash-aggregate the join output per pair — each shared shingle
    contributes exactly one row, so ``count(*)`` IS ``|A ∩ B|``. Union
    size comes free from per-doc set sizes: |A ∪ B| = |A|+|B|−|A ∩ B|.

    This shape matters: the naive verify (re-join shingle arrays, run
    array_intersect per pair) moves every array twice and evaluates
    interpreted per-pair array expressions — Spark's higher-order array
    functions are NOT whole-stage-codegen'd. The groupBy form stays in
    codegen'd HashAggregate with map-side partial counts, shuffles only
    (id, id, partial count), and needs no distinct. The per-doc size
    table (one row per doc) broadcasts.

    Scale: a shingle shared by k docs still yields k·(k−1)/2 aggregate
    inputs. ``prefix_filter`` defaults to AUTO (None): the materialized
    shingle count — free, it is the pin-materializing action — picks
    the all-pairs inverted index below _PREFIX_AUTO_THRESHOLD rows and
    PPJoin prefix filtering above it, so toy/test corpora keep the
    cheap shape while anything at real scale gets the O(n²)-safe one.
    Both shapes are EXACT; pass True/False to force. ``True`` switches
    candidate generation to PPJoin-style prefix filtering: order each
    doc's shingles by global rarity (document frequency asc, shingle),
    index only the first L = |S| − ⌈t·|S|⌉ + 1 of them, and self-join
    those prefixes. Any pair with J ≥ t must share a prefix shingle (if
    the prefixes were disjoint, the intersection would fit in the
    suffixes, bounding |A∩B| ≤ min(|A|,|B|) − L < t·|A∪B|), so recall is
    1 and the hot head of the shingle distribution mostly drops out of
    the join. This is the 100 TB form of the exact algorithm;
    minhash_lsh_pairs is the cheaper approximate alternative.
    """
    if shingles is not None:
        # caller-provided (store-backed) shingle table: consumed as-is;
        # the auto-switch count is a metadata-cheap scan of the asset
        ex = shingles
        if prefix_filter is None:
            prefix_filter = ex.count() > _PREFIX_AUTO_THRESHOLD
    else:
        ex = pin(shingle_table(docs, n, id_col))
        n_shingles = ex.count()  # materialize BEFORE the self-join: a
        # lazily-filled cache races — both join sides would concurrently
        # recompute the pipeline; the count doubles as the auto-switch
        if prefix_filter is None:
            prefix_filter = n_shingles > _PREFIX_AUTO_THRESHOLD
    sizes = ex.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"))

    if prefix_filter:
        dfreq = ex.groupBy("_sh").agg(F.count(F.lit(1)).alias("_df"))
        w = Window.partitionBy(id_col).orderBy("_df", "_sh")
        ranked = (
            ex.join(dfreq, "_sh")
            .withColumn("_rank", F.row_number().over(w))
            .join(F.broadcast(sizes), id_col)
            # recall-safe ceil(t*n): the raw double product can land
            # ABOVE the true integer (0.55*100 = 55.000000000000007 →
            # ceil 56), silently shortening the prefix below the
            # theoretical minimum and breaking the recall=1 guarantee.
            # Subtracting an epsilon larger than any possible product
            # ulp (n < 2^31 → ulp < 5e-7) can only LOWER the ceil, i.e.
            # lengthen the prefix — extra candidates that the exact
            # verify step removes, never a lost pair
            .filter(
                F.col("_rank")
                <= F.col("_n")
                - F.ceil(F.lit(threshold) * F.col("_n") - F.lit(1e-6))
                + 1
            )
            .select(id_col, "_sh")
        )
        cand = (
            ranked.select(F.col(id_col).alias("id_a"), "_sh")
            .join(ranked.select(F.col(id_col).alias("id_b"), "_sh"), "_sh")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        return _verify_jaccard(cand, ex, id_col, threshold)

    return _jaccard_from_common(
        _pair_intersections(ex, id_col), sizes, id_col, threshold
    )


def ngram_jaccard_pairs_capped(
    ex: DataFrame,
    threshold: float = 0.5,
    max_df: int = 64,
    id_col: str = "doc_id",
) -> DataFrame:
    """Stop-shingle-capped exact near-dup over an existing (id, _sh)
    shingle table: shingles with document frequency > ``max_df`` (the
    corpus-hot "stop shingles") are removed from the similarity
    definition itself — Jaccard is computed EXACTLY over each
    document's remaining shingle set, in the same single
    inverted-index-join + hash-aggregate pass as the uncapped
    operator.

    This is the standard cure for the inverted-index join's quadratic
    hot bucket: a shingle shared by k documents contributes k(k-1)/2
    join rows, so one corpus-wide boilerplate phrase ("all rights
    reserved …") turns the join cartesian. Capping df bounds every
    bucket's contribution at max_df(max_df-1)/2 regardless of corpus
    size — the join becomes O(|shingles| · max_df) worst case.

    Semantics: removing corpus-frequency-capped shingles from BOTH the
    intersection and the union is stopword removal lifted to shingles
    — two documents are near-dups when their NON-boilerplate content
    overlaps, which is the signal a curation pipeline actually wants
    (boilerplate chrome gluing unrelated docs into one cluster is the
    classic failure). A pair is lost relative to the uncapped operator
    only when its overlap is dominated by corpus-hot shingles; a pair
    can be GAINED when shared content was diluted by differing
    boilerplate. When no shingle exceeds the cap the output is
    IDENTICAL to the uncapped operator (provably so on this corpus at
    the default cap — max df at sf0.1 is 25). See SCALE.md.

    The hot-shingle set (at most |shingles|/max_df rows) is pinned —
    its parent is a full document-frequency aggregate that would
    otherwise re-execute under every consumer — and broadcasts into
    the anti-join; the capped index then feeds the one-pass
    intersection count and the per-doc size table exactly like the
    uncapped plan.
    """
    dfreq = ex.groupBy("_sh").agg(F.count(F.lit(1)).alias("_df"))
    hot = pin(dfreq.filter(F.col("_df") > max_df).select("_sh"))
    hot.count()
    idx = ex.join(F.broadcast(hot), "_sh", "left_anti")
    sizes = idx.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"))
    return _jaccard_from_common(
        _pair_intersections(idx, id_col), sizes, id_col, threshold
    )


def _pair_intersections(ex: DataFrame, id_col: str) -> DataFrame:
    """Unordered (id_a < id_b) shared-shingle counts via the inverted-
    index self-join — each shared shingle contributes exactly one row,
    so count(*) IS |A ∩ B|. The single source of the candidate-
    intersection machinery (Jaccard and containment both build on it)."""
    return (
        ex.select(F.col(id_col).alias("_ida"), F.col("_sh"))
        .join(ex.select(F.col(id_col).alias("_idb"), F.col("_sh")), "_sh")
        .filter(F.col("_ida") < F.col("_idb"))
        .groupBy(F.col("_ida").alias("id_a"), F.col("_idb").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("_common"))
    )


def _attach_sizes(common: DataFrame, sizes: DataFrame, id_col: str) -> DataFrame:
    """Broadcast-join each side's shingle-set size onto the pair table
    as _na / _nb (the size table is one row per doc — always the small
    side)."""
    return common.join(
        F.broadcast(
            sizes.select(F.col(id_col).alias("id_a"), F.col("_n").alias("_na"))
        ),
        "id_a",
    ).join(
        F.broadcast(
            sizes.select(F.col(id_col).alias("id_b"), F.col("_n").alias("_nb"))
        ),
        "id_b",
    )


def shingle_containment_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.6,
    id_col: str = "doc_id",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup: ordered pairs where containment
    C(A in B) = |A ∩ B| / |A| >= threshold — "most of A's shingles also
    appear in B". Jaccard misses these when the container is much
    larger (a doc quoted inside a 100x longer doc has J ~ |A|/|B| ~ 0
    but containment ~ 1), so this is the quote / boilerplate-superset /
    excerpt detector a curation pipeline runs NEXT TO resemblance
    dedup, not instead of it.

    Same one-pass inverted-index shape as ngram_jaccard_pairs: the
    shingle self-join's per-pair row count IS the intersection, and the
    two directed containments come from dividing by each side's set
    size (broadcast) — the unordered intersection table is computed
    once and emitted in both directions, so asymmetry costs no second
    join. Scale path mirrors the Jaccard operator's prefix filter:
    for C(A in B) >= t, A must share one of its first
    |A| - ceil(t*|A|) + 1 rarity-ordered shingles with B, so the same
    PPJoin-style pruning applies (on the contained side only).

    ``shingles``: a precomputed (id, _sh) table (e.g. the persisted
    shingle-layer asset) — skips the explode entirely and is consumed
    AS-IS (the caller owns its materialization: queries.shared_table
    returns either a stored scan, which needs no pin, or a pinned,
    materialized build).
    """
    if shingles is not None:
        ex = shingles
    else:
        ex = pin(shingle_table(docs, n, id_col))
        ex.count()  # materialize before the self-join (ngram note)
    sizes = ex.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"))
    common = _attach_sizes(_pair_intersections(ex, id_col), sizes, id_col)
    directed = common.select(
        F.col("id_a").alias("contained_id"),
        F.col("id_b").alias("container_id"),
        (F.col("_common").cast("double") / F.col("_na").cast("double")).alias(
            "_c"
        ),
    ).unionByName(
        common.select(
            F.col("id_b").alias("contained_id"),
            F.col("id_a").alias("container_id"),
            (
                F.col("_common").cast("double") / F.col("_nb").cast("double")
            ).alias("_c"),
        )
    )
    return directed.select(
        "contained_id", "container_id", dround(F.col("_c"), 6).alias("containment")
    ).filter(F.col("containment") >= threshold)


def _jaccard_from_common(
    common: DataFrame, sizes: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """jaccard = common / (|A|+|B|-common) via two broadcast size joins."""
    jacc = F.col("_common").cast("double") / (
        F.col("_na") + F.col("_nb") - F.col("_common")
    ).cast("double")
    return (
        _attach_sizes(common, sizes, id_col)
        .select("id_a", "id_b", dround(jacc, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------


def minhash_signature(shingles: Column, num_hashes: int = 16) -> list[Column]:
    """k seeded minhashes of a shingle array, zero shuffles.

    Hash family: md5(seed || '_' || shingle), min taken LEXICOGRAPHICALLY
    over the hex strings — uniform over shingles, identical on both
    engines, and needs no hex→int conversion (string min is the min of
    the underlying 128-bit value for fixed-width hex).

    NB: the seed is captured via a closure FACTORY, never a lambda
    default arg — PySpark derives the higher-order-function arity from
    the lambda's parameter count, so ``lambda s, i=i`` would silently
    become the 2-arg (element, index) form and bind i to the array index.
    """

    def hash_with_seed(i: int):
        return lambda s: F.md5(F.concat(F.lit(f"{i}_"), s))

    return [
        F.array_min(F.transform(shingles, hash_with_seed(i))).alias(f"sig_{i}")
        for i in range(num_hashes)
    ]


def _verify_jaccard(
    cand: DataFrame, ex: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs via intersection
    COUNTING (codegen'd joins + hash aggregate), not per-pair array ops.

    cand: (id_a, id_b) distinct pairs; ex: (id_col, _sh) distinct
    exploded shingles. |A ∩ B| = count of shingles reachable from both
    sides; |A ∪ B| = |A| + |B| − |A ∩ B| from the size table.
    """
    common = (
        cand.join(
            ex.select(F.col(id_col).alias("id_a"), F.col("_sh")), "id_a"
        )
        .join(
            ex.select(F.col(id_col).alias("id_b"), F.col("_sh")),
            ["id_b", "_sh"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_common"))
    )
    sizes = ex.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"))
    return _jaccard_from_common(common, sizes, id_col, threshold)


def minhash_lsh_pairs(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 16,
    band_rows: int = 2,
    threshold: float = 0.5,
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs via MinHash signatures + LSH banding + exact verify.

    Pipeline (shuffle count in brackets):
      1. explode shingles, k seeded md5 columns per row  [0 — scan-local]
      2. k-way min hash-aggregate per doc → signature    [1 — partial agg]
      3. band keys md5(sig_i..sig_{i+r-1}); explode bands,
         self-join on (band_idx, key)                    [2 — the LSH trick]
      4. exact Jaccard verify on candidate pairs only    [3 — small joins]

    Signatures are computed in explode + groupBy-min form rather than
    array_min(transform(...)): the per-row md5 columns and the min
    aggregate are whole-stage-codegen'd with map-side partial mins,
    whereas higher-order array functions are interpreted.

    With k=16, r=2, b=8: P(candidate | j) = 1-(1-j²)⁸ → 0.9997 at j=0.8,
    0.90 at j=0.5, ~0.003 at j=0.02 — planted near-dups are found with
    near-certainty while the candidate volume stays linear-ish.

    threshold filters the VERIFIED Jaccard, so false-positive candidates
    cost only a verify, never a wrong answer; false negatives are the
    documented LSH recall (tunable via k, r).
    """
    ex, bands = minhash_bands(docs, n, num_hashes, band_rows, id_col)
    return minhash_lsh_pairs_from(ex, bands, threshold, id_col)


def minhash_lsh_pairs_from(
    ex: DataFrame,
    bands: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
) -> DataFrame:
    """Candidate self-join + exact-Jaccard verify over an EXISTING
    (shingles, bands) pair — the consumer half of minhash_lsh_pairs,
    split out so the band table can come from the persisted signature
    store (queries.shared_table) instead of being recomputed per query.
    """
    return _verify_jaccard(
        lsh_candidate_pairs(bands), ex, id_col, threshold
    )


def lsh_candidate_pairs(
    bands_a: DataFrame, bands_b: DataFrame | None = None
) -> DataFrame:
    """Distinct (id_a, id_b) candidate pairs meeting in an LSH band
    bucket — THE candidate generator every MinHash consumer shares
    (pair dedup, bucket profile, estimate-vs-exact QA, incremental
    batch-vs-index), kept in one place so a join tweak cannot drift
    between the generator and the diagnostics describing it.

    One-sided (``bands_b`` None): self-join with ``a._id < b._id`` —
    each unordered pair once. Two-sided: a-side ids joined against
    b-side ids (the incremental batch-vs-index shape; caller
    guarantees the two id sets are disjoint).
    """
    if bands_b is None:
        cond_ids = F.col("a._id") < F.col("b._id")
        bands_b = bands_a
    else:
        cond_ids = F.lit(True)
    return (
        bands_a.alias("a")
        .join(
            bands_b.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & cond_ids,
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )


def minhash_bands(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 16,
    band_rows: int = 2,
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """(shingles, bands): the MinHash signature + LSH band pipeline,
    shared by minhash_lsh_pairs (which self-joins the bands) and the
    lsh_bucket_profile diagnostic (which aggregates them). One
    definition — the candidate generator an operator runs and the
    profile an operator inspects can never drift apart.

    Both returned tables are cached AND materialized: the shingle
    table feeds hashing + verification, the band table feeds both
    self-join sides (or the profile aggregate); a lazily-filled cache
    would race and recompute the 16-hash signature chain per consumer.
    """
    ex = pin(shingle_table(docs, n, id_col))
    ex.count()  # materialize before multi-consumer reuse (see ngram note)
    bands = pin(band_table_from_shingles(ex, num_hashes, band_rows, id_col))
    bands.count()  # materialize before the self-join (see ngram note)
    return ex, bands


def minhash_signatures(
    ex: DataFrame, num_hashes: int = 16, id_col: str = "doc_id"
) -> DataFrame:
    """(id, sig_0..sig_{k-1}) MinHash signature table from an exploded
    shingle table: k seeded md5 columns per shingle row (scan-local),
    one groupBy-min hash aggregate with map-side partial mins. The
    explode + groupBy-min form is deliberate — array_min(transform(..))
    is interpreted, this is whole-stage codegen (see module docstring).
    """
    hashed = ex.select(
        F.col(id_col),
        *[
            F.md5(F.concat(F.lit(f"{i}_"), F.col("_sh"))).alias(f"h_{i}")
            for i in range(num_hashes)
        ],
    )
    return hashed.groupBy(id_col).agg(
        *[F.min(f"h_{i}").alias(f"sig_{i}") for i in range(num_hashes)]
    )


def band_table_from_shingles(
    ex: DataFrame,
    num_hashes: int = 16,
    band_rows: int = 2,
    id_col: str = "doc_id",
) -> DataFrame:
    """(_id, band, key) LSH band table from an exploded shingle table —
    the signature pipeline alone, with NO caching: the build half of
    minhash_bands, also used as the builder for the persisted signature
    store (a 100 TB corpus computes signatures once and persists them
    as a table asset; per-query recompute is the sf0.1 anti-pattern).
    """
    sig = minhash_signatures(ex, num_hashes, id_col)
    return bands_from_signatures(sig, num_hashes, band_rows, id_col)


def bands_from_signatures(
    sig: DataFrame,
    num_hashes: int = 16,
    band_rows: int = 2,
    id_col: str = "doc_id",
) -> DataFrame:
    """(_id, band, key) LSH band table from a signature table — the
    banding half alone, for callers that also consume the signatures
    directly (e.g. the estimate-vs-exact diagnostic)."""
    assert num_hashes % band_rows == 0
    n_bands = num_hashes // band_rows
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "|", *[f"sig_{b * band_rows + r}" for r in range(band_rows)]
                )
            ).alias("key"),
        )
        for b in range(n_bands)
    ]
    return (
        sig.select(
            F.col(id_col).alias("_id"), F.explode(F.array(*band_cols)).alias("bk")
        )
        .select("_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

_HIGH_NIBBLE = list("89abcdef")
# membership in the high-nibble set is a single lexicographic compare
# for LOWERCASE hex ('0'<..<'9'<'a'<..<'f' in ASCII): digit >= '8'
# <=> digit in 89abcdef. The 32-sum SimHash aggregate evaluates this
# predicate 32x per token row — one compare beats an 8-way IN list
# (measured ~15% off simhash_dedup's aggregate stage at sf0.1). The
# SQL twin keeps the explicit IN form; both compute the same boolean.
SIMHASH_BITS = 32


def simhash32(toks: Column) -> Column:
    """32-bit SimHash of a token array, zero shuffles.

    Bit p of the fingerprint is the sign of Σ_tokens (+1 if hex digit
    p+1 of md5(token) has its top bit set, else −1) — the classic
    Charikar construction at 32-bit width (one md5 hex digit per bit
    position; each digit's membership in [8..f] is one pseudo-random
    bit per (token, position)). Duplicate tokens weigh in as often as
    they appear, matching term-frequency weighting. 32 bits keeps the
    random-pair collision rate at Hamming<=3 around 2e-7, so verified
    output is essentially all true near-dups.

    Computed as: per-token ±1 contribution vectors (transform), summed
    element-wise into a 32-long vector (aggregate+zip_with), then packed
    into a long. All array expressions — scan-local at any scale.
    """
    contribs = F.transform(
        toks,
        lambda t: F.transform(
            F.sequence(F.lit(1), F.lit(SIMHASH_BITS)),
            lambda p: F.when(
                F.md5(t).substr(p.cast("int"), F.lit(1)) >= "8", 1
            ).otherwise(-1),
        ),
    )
    sums = F.aggregate(
        contribs,
        F.array_repeat(F.lit(0), SIMHASH_BITS),
        lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
    )
    # 2^p via pow (exact in double up to 2^52; shiftleft needs an int
    # literal bit count, so it can't take the lambda-bound position column)
    packed = F.aggregate(
        F.zip_with(
            sums,
            F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1)),
            lambda s, p: F.when(
                s > 0, F.pow(F.lit(2.0), p.cast("double")).cast("long")
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return packed


def simhash_table(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, simhash) via dictionary-encoded hashing + hash aggregate.

    Identical fingerprints to simhash32 (same per-(token, position)
    bits, and sign-sum order cannot matter), computed the scale way:
    md5 runs ONCE PER DISTINCT TOKEN (the dictionary — Zipf makes the
    vocabulary orders of magnitude smaller than the token stream), the
    per-token ±1 bit pattern broadcast-joins back onto the exploded
    stream, and 32 plain-integer sums collapse in one codegen'd
    HashAggregate with map-side partials, then pack. Hashing the
    instance stream instead (the naive form) recomputes md5 per token
    occurrence — A/B at sf0.1: 2.0-2.2s naive vs 1.5s dictionary, with
    identical outputs; the gap grows with corpus/vocabulary ratio. The
    array-expression form is worse still (interpreted lambdas, md5 per
    bit position). Shuffles: one distinct over tokens (tiny), one
    (id, 32 ints) aggregate exchange.

    Broadcast bound: the explicit hint on the dictionary is safe while
    the DISTINCT vocabulary (33 ints/row, ~300 B serialized) stays
    under the broadcast limit — roughly 10 M distinct tokens at a
    default driver. Corpora with unbounded vocab (URLs, hex blobs)
    should cap the dictionary (hash-mod the long tail) or drop the
    hint and let AQE decide at runtime; A/B at sf0.1: the hint is
    worth 30% (2.40s vs 3.12s hint-less, identical output), so it
    stays under the Zipf-vocabulary contract above.
    """
    ex = docs.select(
        F.col(id_col), F.explode(tokens(F.col("text"))).alias("_tok")
    )
    dictionary = (
        ex.select("_tok")
        .distinct()
        .select("_tok", F.md5("_tok").alias("_h"))
        .select(
            "_tok",
            *[
                F.when(F.substring("_h", p + 1, 1) >= "8", 1)
                .otherwise(-1)
                .alias(f"_b{p}")
                for p in range(SIMHASH_BITS)
            ],
        )
    )
    sums = (
        ex.join(F.broadcast(dictionary), "_tok")
        .groupBy(id_col)
        .agg(
            *[
                F.sum(F.col(f"_b{p}")).alias(f"_s{p}")
                for p in range(SIMHASH_BITS)
            ]
        )
    )
    packed = None
    for p in range(SIMHASH_BITS):
        term = F.when(F.col(f"_s{p}") > 0, F.lit(1 << p).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        packed = term if packed is None else packed + term
    return sums.select(F.col(id_col), packed.alias("simhash"))


def simhash_pairs(
    docs: DataFrame, max_hamming: int = 3, id_col: str = "doc_id"
) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance <= max_hamming (< 4).

    Candidate generation uses the pigeonhole band trick: the 32-bit
    fingerprint splits into 4 bytes; <= 3 differing bits can touch at
    most 3 bytes, so every qualifying pair shares at least one intact
    byte → equi-join on (byte_idx, byte_value) finds all of them with
    zero recall loss. Verification is bit_count(xor) on the candidates.
    """
    assert max_hamming <= 3, "4-byte banding guarantees recall only for <= 3"
    # NOT pinned (r12): the two band self-join sides are byte-identical
    # subtrees, and at runtime AQE's final plan serves the second side's
    # shuffle of per-document partial sums (the Exchange on id_col
    # inside simhash_table) as a ReusedExchange of the first. Tokenize,
    # md5 dictionary and partial sums execute ONCE; each side re-runs
    # only the final sum, pack and band explode on that shuffle output
    # (tests/test_text_dedup.py checks this). The old pin+count added a
    # full blocking action (compute + cache write) on top of that shared
    # exchange (the r4 cache-vs-ReuseExchange lesson: lm_perplexity A/B
    # cached 1.9-2.6s vs uncached 1.1-1.4s).
    sig = simhash_table(docs, id_col)
    bands = sig.select(
        F.col(id_col).alias("_id"),
        F.col("simhash").alias("_sh"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("idx"),
                        F.shiftright("simhash", 8 * i)
                        .bitwiseAND(F.lit(255))
                        .alias("val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("nb"),
    ).select("_id", "_sh", F.col("nb.idx").alias("idx"), F.col("nb.val").alias("val"))

    hamming = F.bit_count(F.col("a._sh").bitwiseXOR(F.col("b._sh")))
    return (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.idx") == F.col("b.idx"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a._id") < F.col("b._id")),
        )
        # verify BEFORE dedup: the hamming predicate is a codegen'd filter
        # on the join output, so non-qualifying candidates never reach the
        # distinct's shuffle (on dense corpora that's most of them)
        .filter(hamming <= max_hamming)
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            hamming.cast("int").alias("hamming"),
        )
        .distinct()
    )


def _hash_band_table(
    sig: DataFrame,
    hash_col: str,
    n_bands: int,
    band_bits: int,
    id_col: str,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(_id, _sh, idx, val[, extras]) band rows for a packed-bits
    signature — band i is bits [band_bits*i, band_bits*(i+1)).

    ``extra_cols`` (r12) rides signature-level metadata (e.g. a frame
    count) through the explode so a persisted band store can be the
    SINGLE stored asset for a fingerprint family: the signature face
    projects back out of it (idx = 0) instead of keeping a second
    store. Consumers that don't name the extras prune them at scan."""
    mask = (1 << band_bits) - 1
    return sig.select(
        F.col(id_col).alias("_id"),
        F.col(hash_col).alias("_sh"),
        *extra_cols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("idx"),
                        F.shiftright(F.col(hash_col), band_bits * i)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("nb"),
    ).select(
        "_id",
        "_sh",
        *extra_cols,
        F.col("nb.idx").alias("idx"),
        F.col("nb.val").alias("val"),
    )


def hamming_band_pairs(
    sig: DataFrame | None,
    hash_col: str,
    n_bands: int,
    band_bits: int,
    max_hamming: int,
    id_col: str = "doc_id",
    bands: DataFrame | None = None,
    bands_b: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs with Hamming distance <= ``max_hamming`` over an
    arbitrary packed-bits column — the pigeonhole band trick of
    simhash_pairs generalized to any (n_bands x band_bits) layout:
    <= max_hamming differing bits can touch at most max_hamming bands,
    so with ``n_bands > max_hamming`` every qualifying pair shares at
    least one intact band -> equi-join on (band_idx, band_value) finds
    all of them with zero recall loss; bit_count(xor) verifies
    candidates.

    One-sided (``bands_b`` None): self-join with ``a._id < b._id`` —
    each unordered pair once. Two-sided: ``sig`` (or ``bands``) is the
    BATCH side and ``bands_b`` the INDEX side (the incremental
    batch-vs-index shape of lsh_candidate_pairs; caller guarantees
    disjoint id sets), emitting (id_a=batch, id_b=index) ordered pairs.

    Used by the multimodal perceptual-hash dedup (image dHash, audio
    and video fingerprints). The signature tables are pinned — one row
    per item, feeding both sides of the band join.

    ``bands``/``bands_b`` (r11): a PREBUILT band table (the
    ``_hash_band_table`` schema ``(_id, _sh, idx, val)``) for the batch
    side (in place of ``sig``) or the index side — the band-store path
    (queries.shared_table with ``bucket_by=["idx", "val"]``): a store
    bucketed+sorted on ``(idx, val)`` makes this join
    exchange-AND-sort-free on that side, so the only remaining shuffle
    is the output-sized distinct. It is consumed as returned: a stored
    scan is cheaper to re-read than to write into executor cache, and
    the store's fallback build comes pinned already.
    """
    assert n_bands > max_hamming, "pigeonhole recall needs bands > hamming"
    if bands is not None:
        bands_a = bands
    else:
        sig = pin(sig)
        sig.count()  # materialize before the band join (ngram note)
        bands_a = _hash_band_table(sig, hash_col, n_bands, band_bits, id_col)
    if bands_b is not None:
        cond_ids = F.lit(True)
    else:
        # one-sided self-join: with a prebuilt (bucketed) band table
        # both scans come from the store, bucket-wise co-located
        bands_b = bands_a
        cond_ids = F.col("a._id") < F.col("b._id")
    hamming = F.bit_count(F.col("a._sh").bitwiseXOR(F.col("b._sh")))
    return (
        bands_a.alias("a")
        .join(
            bands_b.alias("b"),
            (F.col("a.idx") == F.col("b.idx"))
            & (F.col("a.val") == F.col("b.val"))
            & cond_ids,
        )
        .filter(hamming <= max_hamming)
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            hamming.cast("int").alias("hamming"),
        )
        .distinct()
    )
