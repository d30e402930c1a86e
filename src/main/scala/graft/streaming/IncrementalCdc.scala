package graft.streaming

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental CDC apply — q_cdc_apply's current-state materialization
  * maintained across micro-batches (SURVEY.md §2b q_cdc_inc): the
  * changelog arrives as a stream, each batch's rows land in a
  * batch_id-partitioned store, and the snapshot runs the IDENTICAL
  * last-writer-wins aggregation (queries.Versioning.cdcStateOf) over
  * the accumulated rows — so the declared query reuses q_cdc_apply's
  * DuckDB oracle verbatim, the q_substr_inc contract.
  *
  * Idempotence ladder (the StreamingDedup conventions):
  *  - same-batchId replay: dynamic partition overwrite rewrites exactly
  *    this batch's partition with byte-identical recomputed rows.
  *  - cross-batch redelivery (an at-least-once source re-sending an
  *    event under a NEW batch id): deduped on the changelog's own
  *    event_id at snapshot. The max_by state is redelivery-proof by
  *    itself (a re-seen last writer wins identically); the n_ops COUNT
  *    is not — the dedup is what keeps it exact.
  *
  * Scale shape: per-batch work is one projection of the batch (no
  * shuffle at commit); the snapshot aggregation is partially
  * aggregatable (max_by + count), so the map side reduces each key to
  * one candidate row before the single user-keyed exchange. A 100-TB
  * deployment compacts old batches into per-key partials with the same
  * aggregation — the merge is associative by construction.
  */
object IncrementalCdc {

  val RowSchema: StructType = StructType(Seq(
    StructField("user_id", LongType),
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** Idempotent micro-batch commit: land the batch's changelog rows as
    * this batch's partition.
    */
  def commitBatch(batch: DataFrame, batchId: Long, storeDir: String): Unit = {
    // cut the streaming-source lineage before the write (the
    // StreamingDedup convention)
    val rows = graft.Materialize.frame(
      batch.select(RowSchema.fieldNames.map(col).toSeq: _*))
    StreamingDedup.writeBatchPartition(rows, batchId, storeDir)
  }

  /** Accumulated changelog rows; absent store reads as zero rows. */
  def readRows(spark: SparkSession, storeDir: String): DataFrame =
    graft.sources.Maintenance.readBatchStoreOr(spark, storeDir)
      .map(_.select(RowSchema.fieldNames.map(col).toSeq: _*)
        .dropDuplicates(Seq("event_id")))
      .getOrElse(
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], RowSchema))

  /** Offline store maintenance: one user-sorted zstd file per batch
    * partition ([[graft.sources.Maintenance.compactBatchStore]]);
    * snapshot- and replay-preserving (MaintenanceSpec).
    */
  def maintain(spark: SparkSession, storeDir: String): Boolean =
    graft.sources.Maintenance.compactBatchStore(spark, storeDir,
      Seq("user_id", "event_id"))

  /** Current state over everything ingested so far — identical
    * (spec-proven) to cdcStateOf over the union of all batches.
    */
  def snapshot(spark: SparkSession, storeDir: String): DataFrame =
    graft.queries.Versioning.cdcStateOf(readRows(spark, storeDir))

  /** Declared-query body (q_cdc_inc): land the fixture events as
    * `nFiles` parquet files, drain them as real micro-batches through
    * foreachBatch, snapshot, clean up the temp state.
    */
  def fixtureRun(spark: SparkSession, sfDir: String, nFiles: Int = 3): DataFrame =
    StreamFixture.run(graft.Tables.events(spark, sfDir)
      .select(RowSchema.fieldNames.map(col).toSeq: _*), nFiles)(
      commitBatch, snapshot(spark, _))
}
