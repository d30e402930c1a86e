package graft.streaming

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.TextOps

/** Incremental inverted-index maintenance — q_inverted_index kept
  * current across micro-batches, joining the incremental family
  * (doc/near dedup: StreamingDedup; corpus: IncrementalCorpus;
  * ANN: IvfIndex/PqIndex.append; substring: IncrementalSubstr).
  *
  * Per-batch work is the TEXT pass of the batch only: arriving docs are
  * tokenized once (TextOps.docTermsOf — the O(batch tokens) explode)
  * and their distinct (doc_id, term) pairs land in a
  * batch_id-partitioned store via dynamic partition overwrite, so a
  * replayed micro-batch rewrites exactly its own partition (the
  * StreamingDedup idempotence mechanism). The snapshot runs the
  * df + GroupedTopK posting-head aggregation over the ACCUMULATED
  * pairs — ids and terms only, never text.
  *
  * Index maintenance is RETROACTIVE in document frequency: a term
  * below the df floor when its docs arrived crosses it the moment
  * later docs repeat it, and its posting head must then include the
  * EARLIER doc ids. Aggregating at snapshot over the accumulated store
  * makes that exact by construction — IncrementalIndexSpec proves
  * snapshot ≡ one-shot invertedIndexOf(union of batches), which is why
  * the declared query (q_index_inc) reuses q_inverted_index's DuckDB
  * oracle verbatim: the incremental machinery must reproduce the
  * one-shot answer to the hash.
  */
object IncrementalIndex {

  val MinDf = 5
  val HeadK = 16

  val TermSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("term", StringType)))

  /** Idempotent micro-batch commit: tokenize the batch docs, land the
    * distinct (doc_id, term) pairs as this batch's partition. Replay
    * rewrites only its own partition with identical recomputed rows.
    */
  def commitBatch(batch: DataFrame, batchId: Long, storeDir: String): Unit = {
    // cut the streaming-source lineage before the batch write (the
    // StreamingDedup convention)
    val pairs = graft.Materialize.frame(TextOps.docTermsOf(batch))
    StreamingDedup.writeBatchPartition(pairs, batchId, storeDir)
  }

  /** All accumulated pairs; an absent store reads as zero rows. Deduped
    * on (doc_id, term): same-batchId replay is already a byte-identical
    * partition overwrite, but an at-least-once source can redeliver a
    * doc under a DIFFERENT batchId — without the dedup its terms would
    * double-count df and duplicate posting entries.
    */
  def readTerms(spark: SparkSession, storeDir: String): DataFrame =
    graft.sources.Maintenance.readBatchStoreOr(spark, storeDir)
      .map(_.select(TermSchema.fieldNames.map(col).toSeq: _*)
        .dropDuplicates(Seq("doc_id", "term")))
      .getOrElse(
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], TermSchema))

  /** Offline store maintenance: one term-sorted zstd file per batch
    * partition ([[graft.sources.Maintenance.compactBatchStore]]);
    * snapshot- and replay-preserving (MaintenanceSpec).
    */
  def maintain(spark: SparkSession, storeDir: String): Boolean =
    graft.sources.Maintenance.compactBatchStore(spark, storeDir, Seq("term"))

  /** The current index over everything ingested so far — identical
    * (spec-proven) to invertedIndexOf over the union of all batches.
    */
  def snapshot(spark: SparkSession, storeDir: String): DataFrame =
    TextOps.indexFromTerms(readTerms(spark, storeDir), MinDf, HeadK)

  /** Declared-query body (q_index_inc): land the fixture docs as
    * `nFiles` parquet files, drain them as real micro-batches through
    * foreachBatch, snapshot, clean up the temp state. Deterministic:
    * the snapshot is a pure function of the ingested set.
    */
  def fixtureRun(spark: SparkSession, sfDir: String, nFiles: Int = 3): DataFrame =
    StreamFixture.run(graft.Tables.documents(spark, sfDir), nFiles)(
      commitBatch, snapshot(spark, _))
}
