package graft.streaming

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental active-user rollup — q_active_users' bitmap DAU/WAU/MAU
  * maintained across micro-batches (SURVEY.md §2b q_dau_inc): each
  * batch lands its DISTINCT (user_id, absolute-epoch-day) pairs in a
  * batch_id-partitioned store (the batch-local dedup IS the mergeable
  * partial — a user active 500× in one batch commits one row), and the
  * snapshot runs the IDENTICAL activeUsersOf aggregation over the
  * accumulated rows, so the declared query reuses q_active_users'
  * DuckDB oracle verbatim (the q_substr_inc contract).
  *
  * Absolute epoch days are the load-bearing choice: the batch query's
  * day axis is anchored at the corpus min date, which a late BACKFILL
  * batch can shift backwards. A store keyed on relative days would
  * silently corrupt every previously-committed mask; absolute days
  * re-anchor at snapshot time for free (IncrementalDauSpec proves the
  * backfill case).
  *
  * Idempotence ladder (the StreamingDedup conventions):
  *  - same-batchId replay: dynamic partition overwrite rewrites exactly
  *    this batch's partition with byte-identical recomputed rows.
  *  - cross-batch redelivery: the SAME (user, day) re-sent under a NEW
  *    batch id is deduped at snapshot — set-semantics state (a bit is a
  *    bit) makes the masks redelivery-proof by construction, and the
  *    dropDuplicates is what keeps the day-axis bounds exact too.
  *
  * Scale shape: per-batch work is one batch-sized distinct (map-side
  * combined); the snapshot re-aggregation is the batch query's own
  * user-keyed bit_or — partially aggregatable, so a 100-TB deployment
  * compacts old batches into per-(user, word) mask partials with the
  * same associative merge.
  */
object IncrementalDau {

  val RowSchema: StructType = StructType(Seq(
    StructField("user_id", LongType),
    StructField("day_abs", IntegerType)))

  /** Idempotent micro-batch commit: the batch's distinct user-day
    * pairs become this batch's partition.
    */
  def commitBatch(batch: DataFrame, batchId: Long, storeDir: String): Unit = {
    val rows = graft.Materialize.frame(batch
      .select(col("user_id"),
        datediff(to_date(col("ts")), to_date(lit("1970-01-01"))).as("day_abs"))
      .distinct())
    StreamingDedup.writeBatchPartition(rows, batchId, storeDir)
  }

  /** Accumulated activity pairs; absent store reads as zero rows.
    * Crash-window-safe: resolves a mid-maintenance `__prev` tree.
    */
  def readRows(spark: SparkSession, storeDir: String): DataFrame =
    graft.sources.Maintenance.readBatchStoreOr(spark, storeDir)
      .map(_.select(RowSchema.fieldNames.map(col).toSeq: _*)
        .dropDuplicates(Seq("user_id", "day_abs")))
      .getOrElse(
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], RowSchema))

  /** Offline store maintenance: one user-sorted zstd file per batch
    * partition ([[graft.sources.Maintenance.compactBatchStore]]);
    * snapshot- and replay-preserving (MaintenanceSpec).
    */
  def maintain(spark: SparkSession, storeDir: String): Boolean =
    graft.sources.Maintenance.compactBatchStore(spark, storeDir,
      Seq("user_id", "day_abs"))

  /** DAU/WAU/MAU over everything ingested so far — identical
    * (spec-proven) to activeUsersOf on the one-shot frame.
    */
  def snapshot(spark: SparkSession, storeDir: String): DataFrame =
    graft.queries.TimeWindows.activeUsersOf(readRows(spark, storeDir))

  /** Declared-query body (q_dau_inc): land the fixture events as
    * `nFiles` parquet files, drain them as real micro-batches through
    * foreachBatch, snapshot, clean up the temp state.
    */
  def fixtureRun(spark: SparkSession, sfDir: String, nFiles: Int = 3): DataFrame =
    StreamFixture.run(graft.Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts")), nFiles)(commitBatch, snapshot(spark, _))
}
