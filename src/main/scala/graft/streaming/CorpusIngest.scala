package graft.streaming

import graft.operators.DedupOps
import graft.sources.ParquetUpsertSink
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** 94. Streaming corpus ingestion with near-dup admission: the
  * composition a training-data pipeline actually runs — documents
  * arrive continuously, each micro-batch is deduped against the
  * PERSISTED corpus (and within itself) via
  * [[DedupOps.incrementalDedup]], and only admitted docs append
  * (insert-new-only: their files are added to the snapshot).
  *
  * Scale shape: per batch, the bucket join is bounded by the BATCH
  * size, not the corpus; the corpus contributes only its banded
  * signature rows. Here those are recomputed from the snapshot each
  * batch (testdata scale); a production deployment persists the
  * signature index alongside the corpus table and appends to it on
  * admission — the join shape is identical, the recompute disappears.
  * Exactly-once: foreachBatch + insert-new-only make batch replays
  * idempotent (a replayed batch's docs are near-dups of their
  * already-admitted selves and are rejected, and a replay after a
  * partial commit inserts only the doc_ids still missing).
  */
object CorpusIngest {

  def dedupedIngest(docs: DataFrame, tableDir: String,
      threshold: Double = 0.5): StreamingQuery =
    docs.writeStream.foreachBatch {
      (batch: DataFrame, _: Long) => {
        // foreachBatch hands a DataFrame bound to the streaming query's
        // CLONED session (isolated session state) — native-function
        // registration and reads must target that session, not the
        // outer one, or the clone's analyzer can't resolve them
        val bs = batch.sparkSession
        val in = batch.select("doc_id", "text")
        val existing =
          if (ParquetUpsertSink.exists(bs, tableDir))
            ParquetUpsertSink.read(bs, tableDir).select("doc_id", "text")
          else in.limit(0)
        val admitted = DedupOps.incrementalDedup(existing, in, threshold)
        ParquetUpsertSink.insertNewOnly(bs, tableDir, admitted, Seq("doc_id"))
        ()
      }
    }.trigger(Trigger.AvailableNow()).start()
}
