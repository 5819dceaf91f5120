"""Streaming content near-dup dedup over a persistent signature store.

The batch tier detects near-duplicates with MinHash+LSH
(`operators/dedup.py`); its incremental form
(:func:`~data_pipelines_spark.operators.dedup.incremental_near_duplicates`)
compares ONE new batch against the stored corpus signatures without
re-hashing history. This module lifts that into Structured Streaming
via ``foreachBatch``: every micro-batch is near-dup-checked against
everything ingested before it (and against itself), survivors append to
the output dataset, and their signatures append to the store — the
continuous-ingest shape of corpus curation, where "the corpus" is all
prior stream history.

Delivery semantics, stated honestly: ``foreachBatch`` is at-least-once
— a replayed batch re-appends its survivors and signatures. Replays
CONVERGE (the replayed docs now near-dup-match their own first-run
signatures in the store, so re-emission is suppressed for near-dup
content; byte-identical docs always match themselves), but exact
once-only output requires an idempotent downstream (MERGE on doc id —
compose with ``stream_upsert_sink``) or a transactional table format.
The store is read with ``dropDuplicates(id)`` so replayed signature
rows never double-count.

Scale shape per batch: the corpus side contributes only signature rows
(num_hashes longs per doc) and only the LSH buckets a new doc touches
produce join work; the store read is a parquet scan of signature-sized
data — at 1e9 docs × 64 hashes ≈ 0.5 TB, large but linear, and
bucketing the store by band keys (see incremental_near_duplicates
docs) removes its reshuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_near_dup_dedup_sink(
    stream_docs: DataFrame,
    out_path: str,
    store_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    num_bands: int = 16,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.8,
    checkpoint: str | None = None,
    available_now: bool = True,
):
    """foreachBatch sink: near-dup-dedup each micro-batch against the
    signature store, append survivors to ``out_path`` (parquet) and
    their signatures to ``store_path``.

    Within a batch, the lower-id doc of a near-dup pair survives (the
    same keep-first rule as :func:`dedup_survivors`); a doc whose only
    near-dup was itself dropped is still dropped — greedy, matching the
    batch pipeline. Docs near-duplicating ANY stored corpus doc are
    dropped. Document ids must be globally unique across the stream
    (the store's contract).

    Returns the un-started ``DataStreamWriter``.
    """
    from data_pipelines_spark.operators.dedup import (
        incremental_near_duplicates,
        minhash_signatures,
    )
    from data_pipelines_spark.session import persisted
    from data_pipelines_spark.sources.materialize import dataset_exists

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        # The batch feeds the emptiness check, the signatures, both drop
        # joins and the survivors: read the source once per batch. The
        # signatures are the subtree incremental_near_duplicates derives
        # in every branch of its plans; cached, Spark serves each branch
        # from this one entry.
        sigs = minhash_signatures(batch_df, text_col, id_col, num_hashes, shingle_k)
        with persisted(batch_df, sigs):
            spark = batch_df.sparkSession
            if batch_df.isEmpty():
                return
            if dataset_exists(spark, store_path):
                store = spark.read.parquet(store_path).dropDuplicates([id_col])
            else:
                # first batch: an empty store with the right schema
                store = minhash_signatures(
                    batch_df.limit(0), text_col, id_col, num_hashes, shingle_k
                )
            pairs, new_sigs = incremental_near_duplicates(
                batch_df,
                store,
                text_col,
                id_col,
                num_hashes,
                num_bands,
                shingle_k,
                jaccard_threshold,
            )
            batch_ids = batch_df.select(F.col(id_col))
            # intra-batch pair (a < b): b drops; cross pair (b in corpus):
            # a (the new doc) drops.
            intra_drops = pairs.join(
                batch_ids.withColumnRenamed(id_col, "doc_b"), "doc_b", "left_semi"
            ).select(F.col("doc_b").alias(id_col))
            cross_drops = pairs.join(
                batch_ids.withColumnRenamed(id_col, "doc_b"), "doc_b", "left_anti"
            ).select(F.col("doc_a").alias(id_col))
            drops = intra_drops.unionByName(cross_drops).distinct()

            survivors = batch_df.join(drops, id_col, "left_anti")
            with persisted(survivors):
                survivors.write.mode("append").parquet(out_path)
                new_sigs.join(
                    survivors.select(id_col), id_col, "left_semi"
                ).write.mode("append").parquet(store_path)

    writer = stream_docs.writeStream.foreachBatch(_apply).outputMode("append")
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer
