"""Streaming corpus ingestion: classify ARRIVING documents against the
persisted corpus dedup index, continuously.

This is the streaming face of ``operators.dedup.incremental_dedup`` —
the steady-state shape of a training-data pipeline where documents
arrive as files (crawl drops, upload batches) and each must be admitted
or rejected against a corpus that is orders of magnitude larger.

Design: ``foreachBatch`` running the BATCH classifier per micro-batch.
The alternative — expressing the verdict joins stream-natively — would
need a streaming aggregation for the "any band hit" fold (watermark +
append-mode latency for a computation that has no event-time meaning),
while ``foreachBatch`` gives every micro-batch the full batch planner
(broadcast of the small arriving side, AQE, the same equi-join-only
plan shape) plus exactly-once via the checkpoint, and is the documented
Spark pattern for incremental-merge logic.  The corpus index is static
within a run: band signatures parquet partitioned by band
(``minhash_index_build``), loaded once, re-read per batch only as
cheap parquet scans of the probed partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from spark_sql_on_hbase_spark.operators.dedup import incremental_dedup


def incremental_dedup_stream(
    stream_docs: DataFrame,
    corpus_index: tuple[DataFrame, DataFrame],
    sink_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
):
    """Wire a document stream through the incremental classifier into a
    parquet verdict log.  Returns the (unstarted) DataStreamWriter —
    callers pick the trigger (``availableNow`` for catch-up runs,
    processing-time for continuous ingestion).

    Each micro-batch emits (id, verdict) rows under
    ``sink_path/epoch=<id>/``.  Exactly-once delivery: foreachBatch is
    inherently at-least-once (a batch can re-run if the driver dies
    after the write but before the checkpoint commit), so the write is
    made IDEMPOTENT — each epoch overwrites only its own partition
    directory, and a replayed epoch replaces identical rows instead of
    appending duplicates.
    """

    def _classify(batch_df: DataFrame, epoch_id: int) -> None:
        # the classifier references the batch ~5× (text-hash side twice,
        # band-signature side twice, id spine); persist so the arriving
        # files are read and shingled once per epoch
        batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            out = incremental_dedup(
                None,
                batch_df,
                text_col=text_col,
                id_col=id_col,
                num_perm=num_perm,
                bands=bands,
                shingle_n=shingle_n,
                corpus_index=corpus_index,
            )
            out.write.mode("overwrite").parquet(f"{sink_path}/epoch={int(epoch_id)}")
        finally:
            batch_df.unpersist()

    return (
        stream_docs.writeStream.foreachBatch(_classify)
        .option("checkpointLocation", checkpoint)
    )


def astro_table_sink(
    stream_df: DataFrame,
    astro,
    table: str,
    checkpoint: str,
    namespace: str = "default",
    auto_compact_fragments: int | str | None = "auto",
):
    """Continuous ingestion into an Astro table: each micro-batch lands
    through ``AstroRelation.insert`` (the LSM upsert append; the first
    batch into a table without history bulk-loads) — the streaming face
    of ``INSERT INTO``, bridging the engine's storage
    half and its streaming half (the reference has no streaming at all;
    its closest analog is batched Puts, HBaseRelation.scala:657-708).

    Returns the unstarted ``DataStreamWriter`` — callers pick the
    trigger (``availableNow`` for catch-up, processing-time for
    continuous).

    Delivery semantics: foreachBatch is at-least-once (a batch re-runs
    if the driver dies after the write but before the checkpoint
    commit).  Two layers make that safe here:

    - a per-batch marker file under the CHECKPOINT dir skips a batch id
      that already landed, so the COMMON replay (restart after a
      committed write) appends nothing twice.  The markers live beside
      the checkpoint — NOT inside the table's data dir, which COMPACT /
      INSERT OVERWRITE / DELETE atomically swap away (r6 review: a
      marker lost to a rewrite would resurrect rows on replay) — and
      share the checkpoint's lifetime; markers more than 100 epochs old
      are pruned (only the uncommitted tail can ever replay);
    - the storage layout itself is keyed upsert (newest generation wins
      per column), so even the narrow crash window between append and
      marker only re-upserts the SAME rows — by-key reads are unchanged,
      and the duplicate fragment folds away at the next COMPACT.  This
      is the property that makes the sink exactly-once *by key* without
      a transaction log.

    The stream's columns must match the table's declared columns
    (same order as ``CREATE TABLE``); casts apply per the table schema.

    Auto-compaction (r6 verdict #6): continuous ingest accumulates one
    LSM fragment per non-empty micro-batch — unbounded, every scan pays
    the newest-cell-wins merge shuffle, and the fragment-stats listing
    grows O(#epochs).  ``auto_compact_fragments`` bounds it: when the
    fragment count exceeds the threshold after an append, the batch path
    runs ``COMPACT`` inline (crash-safe write-new-then-swap; a replayed
    epoch is already screened out by the marker, so compaction never
    races a duplicate append).  ``"auto"`` (default) = 4× the table's
    declared region count — steady state alternates between num_regions
    and ~4×num_regions files, amortizing each row into O(log) rewrites;
    an int sets the threshold explicitly; None/0 disables (pre-r7
    behavior: compact manually).
    """
    import os

    from spark_sql_on_hbase_spark.relation import table_schema

    marker_dir = os.path.join(checkpoint, "astro_batches")

    def _ingest(batch_df: DataFrame, epoch_id: int) -> None:
        marker = os.path.join(marker_dir, f"{int(epoch_id)}.done")
        if os.path.exists(marker):
            return  # committed replay: this batch already landed
        # count prices the flush below; persist the batch so the count
        # and the append read the (possibly expensive) upstream transform
        # once, not twice (r9 advice: count() alone re-evaluates the source)
        batch_df.persist()
        try:
            cnt = batch_df.count()
            if cnt == 0:
                return
            rel = astro.relation(table, namespace)
            schema = table_schema(rel.meta)
            cols = [n for n, _ in rel.meta.all_columns]
            cast = batch_df.select(
                *[batch_df[n].cast(schema[n].dataType) for n in cols]
            )
            # flush-size the fragment count (r9): a small micro-batch
            # must land as ~1 fragment, not num_regions slivers — every
            # sliver later joins the island closure of any DELETE
            # touching its key range
            regs = rel.meta.regions
            hint = None
            if regs:
                target = max(1, sum(r.num_rows for r in regs) // len(regs))
                hint = max(1, -(-cnt // target))
            rel.insert(cast, fragments=hint)
        finally:
            batch_df.unpersist()
        os.makedirs(marker_dir, exist_ok=True)
        with open(marker, "w") as f:
            f.write("ok")
        # bounded marker set: replays only reach the uncommitted tail
        for old in os.listdir(marker_dir):
            try:
                if int(old.split(".")[0]) < int(epoch_id) - 100:
                    os.unlink(os.path.join(marker_dir, old))
            except (ValueError, OSError):
                continue
        limit = (
            4 * max(1, rel.meta.num_regions)
            if auto_compact_fragments == "auto"
            else auto_compact_fragments
        )
        if limit and len(rel.meta.regions) > limit:
            rel.compact()
        rel.register_view()

    return stream_df.writeStream.foreachBatch(_ingest).option(
        "checkpointLocation", checkpoint
    )
