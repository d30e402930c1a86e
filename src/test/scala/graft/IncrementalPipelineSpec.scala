package graft

import java.nio.file.Files

import graft.sources.Maintenance
import graft.streaming.StreamOps
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end incremental pipeline: a file-source stream maintains a
  * per-user aggregate table across micro-batches with foreachBatch —
  * merge the batch delta into the running state, publish each snapshot
  * through the versioned pointer flip — and the final published table
  * must equal the one-shot batch aggregate over all input. This is the
  * "incremental materialized view" composition of the engine's pieces:
  * streaming source + aggregation + versioned publish + pointer reads.
  */
class IncrementalPipelineSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private def aggDelta(df: DataFrame): DataFrame =
    df.groupBy("user_id").agg(
      count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Additive merge of two (user_id, n, sum_value) states. */
  private def merge(state: DataFrame, delta: DataFrame): DataFrame =
    state.unionByName(delta)
      .groupBy("user_id").agg(
        sum(col("n")).as("n"), sum(col("sum_value")).as("sum_value"))

  test("foreachBatch maintains a versioned per-user aggregate equal to the batch answer") {
    val in = Files.createTempDirectory("graft_inc_in").toString
    val ck = Files.createTempDirectory("graft_inc_ck").toString
    val store = Files.createTempDirectory("graft_inc_store").toString + "/user_stats"
    def write(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)]): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(in)
    def ts(h: Int): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")

    // three micro-batches with overlapping users
    write(Seq((1L, ts(1), 1L, "click", 1.0, "{}"), (2L, ts(1), 2L, "view", 2.0, "{}")))
    write(Seq((3L, ts(2), 1L, "click", 3.0, "{}")))
    write(Seq((4L, ts(3), 3L, "view", 4.0, "{}"), (5L, ts(3), 1L, "click", 5.0, "{}")))

    val schema = spark.read.parquet(in).schema
    val q = StreamOps.parquetStream(spark, in, schema, maxFilesPerTrigger = 1)
      .writeStream
      .option("checkpointLocation", ck)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        val delta = aggDelta(batch)
        val next =
          try merge(Maintenance.readCurrent(batch.sparkSession, store), delta)
          catch { case _: IllegalArgumentException => delta } // first publish
        Maintenance.publishVersioned(next, store)
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()

    val got = Maintenance.readCurrent(spark, store)
      .orderBy("user_id").as[(Long, Long, Double)].collect().toSeq
    val want = aggDelta(spark.read.parquet(in))
      .orderBy("user_id").as[(Long, Long, Double)].collect().toSeq
    assert(got == want, s"incremental state must equal the batch aggregate: $got vs $want")
    assert(got == Seq((1L, 3L, 9.0), (2L, 1L, 2.0), (3L, 1L, 4.0)))
  }
}
