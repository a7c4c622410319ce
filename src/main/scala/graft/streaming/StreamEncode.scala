package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.engine.{Chunker, Pipeline, TokenRow}

/** Streaming ingest → encode: the capability the reference lists as
  * "Planned: Streaming query capabilities" (reference: README.md:253-254),
  * delivered Spark-natively as Structured Streaming + foreachBatch.
  *
  * Each micro-batch runs the SAME resumable batch pipeline
  * ([[graft.engine.Pipeline.run]]) with the batch id as the input
  * split tag; chunk ids are deterministic functions of the data, so a
  * replayed micro-batch (at-least-once source semantics) finds its
  * chunk ids already under its split in the chunks table and re-encodes
  * nothing — end-to-end idempotence from the same mechanism that gives
  * batch resume. Checkpointing of source
  * offsets is Spark's own (checkpointLocation).
  *
  * At scale this is the continuous-ingest topology: a file/Kafka source
  * of token rows, foreachBatch boundaries every few minutes, the chunks
  * table as the exactly-once ledger.
  */
object StreamEncode {

  /** Start encoding a streaming Dataset[TokenRow] into outDir.
    *
    * @param tokensPerChunk chunk budget (per micro-batch; chunk ids stay
    *        globally deterministic because they hash source/doc_id)
    */
  def start(
      stream: Dataset[TokenRow],
      outDir: String,
      checkpointDir: String,
      tokensPerChunk: Long = Chunker.DefaultTokensPerChunk,
      waves: Int = 1,
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery = {
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[TokenRow], batchId: Long) =>
        val spark = batch.sparkSession
        Pipeline.run(spark, batch, outDir, tokensPerChunk, waves,
          inputSplit = s"stream-batch-$batchId")
        ()
      }
      .start()
  }
}
