"""Streaming maintenance of the persisted MinHash signature index.

The batch side builds the signature layer once per corpus generation
(queries.shared_table / queries_text.shared_minhash_sigs). In a live
pipeline, new documents arrive continuously — recomputing the whole
asset per batch is the anti-pattern this module exists to avoid: each
micro-batch computes signatures for ITS documents only (a batch-sized
scan — signatures are per-document functions of text) and MERGEs them
into a versioned signature table keyed by doc_id, so the index is
always current and the old corpus is never rescanned.

This is the streaming half of incremental_minhash_dedup
(queries_text): the batch query reads a signature index; this sink is
what keeps that index fresh. Crash-replay semantics follow
stream_upsert_to_versioned: at-least-once per micro-batch, and
re-applying a batch's signatures is IDEMPOTENT on content (same keys,
same deterministic signatures — the cost is an extra snapshot version,
never divergent data).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the documents parquet (directory source with a
    glob filter, like events). Schema is probed from the batch footer —
    file streams require an explicit schema."""
    probe = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        spark.readStream.schema(probe.schema)
        .format("parquet")
        .option("pathGlobFilter", "documents.parquet")
        .load(sf_dir)
    )


def stream_signatures_to_index(
    docs_stream: DataFrame,
    root: str,
    checkpoint: str,
    num_hashes: int = 16,
    timeout_sec: int = 120,
) -> None:
    """Drain a documents stream into the versioned signature index:
    per micro-batch, compute signatures for the batch's documents and
    MERGE by doc_id (first batch bootstraps the table).

    Inside ``foreachBatch`` a micro-batch is a static frame, so the
    signatures come from the batch builder of the persisted index
    (``shingle_table`` → ``minhash_signatures``): the index and its
    maintenance share one signature definition. A document with fewer
    than three tokens has no shingle and gets no row; a batch of only
    such documents commits nothing."""
    from ..operators.dedup import minhash_signatures, shingle_table
    from ..versioned import list_versions, upsert_versioned, write_versioned
    from .events import await_drain

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        sigs = minhash_signatures(
            shingle_table(batch_df, 3, "doc_id"), num_hashes
        )
        if not sigs.take(1):
            return
        if list_versions(root):
            upsert_versioned(batch_df.sparkSession, root, sigs, ["doc_id"])
        else:
            write_versioned(sigs, root)

    q = (
        docs_stream.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    await_drain(
        q,
        timeout_sec,
        f"signature-index drain into {root} did not finish within "
        f"{timeout_sec}s; committed batches are a prefix — re-run "
        "with the same checkpoint to resume",
    )
