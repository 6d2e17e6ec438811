package graft.streaming

import graft.operators.StatsOps
import graft.sources.ParquetUpsertSink
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** 111. Streaming data-quality monitoring: every micro-batch is scored
  * against the same declarative expectation suite batch tables use
  * ([[StatsOps.dqReport]] — completeness / uniqueness / predicate /
  * referential, integer-ppm metrics) and the per-batch report rows
  * append to a persistent quality log — continuous-ingestion
  * observability, the streaming sibling of the reference's per-run ETL
  * log (etl_pipeline_script.py:25-29, `logs/etl_logs/`).
  *
  * Exactly-once: report rows are keyed (batch_id, check_name) and
  * appended insert-new-only, so a replayed micro-batch adds only the
  * report rows still missing (none after a full commit). Empty batches
  * produce no report rows (nothing to measure — and the ppm floor
  * division would divide by zero). Note the per-batch scope:
  * `Uniqueness` here asserts within-batch uniqueness; cross-corpus key
  * checks belong to the sink's insert-new-only contract (q08 /
  * SinkSpec).
  */
object DqMonitor {

  def monitored(facts: DataFrame, checks: Seq[StatsOps.DqCheck],
      reportDir: String): StreamingQuery =
    facts.writeStream.foreachBatch {
      (batch: DataFrame, id: Long) => {
        // bind everything to the streaming clone's session (see
        // CorpusIngest: the clone's analyzer owns the batch plan)
        val bs = batch.sparkSession
        if (!batch.isEmpty) {
          val report = StatsOps.dqReport(batch, checks)
            .withColumn("batch_id", lit(id))
          ParquetUpsertSink.insertNewOnly(bs, reportDir, report,
            Seq("batch_id", "check_name"))
        }
        ()
      }
    }.trigger(Trigger.AvailableNow()).start()
}
