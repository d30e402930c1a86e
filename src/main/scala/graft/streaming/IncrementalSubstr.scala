package graft.streaming

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.TextOps

/** Incremental exact-substring dedup — q_dedup_substr maintained across
  * micro-batches, completing the incremental story for the last dedup
  * family member (doc/near: StreamingDedup; corpus: IncrementalCorpus;
  * ANN: IvfIndex/PqIndex.append).
  *
  * Per-batch work is the TEXT pass of the batch only: arriving docs are
  * k-grammed once (TextOps.gramsOf — the O(batch tokens) explode) and
  * their digest rows land in a batch_id-partitioned store via dynamic
  * partition overwrite, so a replayed micro-batch rewrites exactly its
  * own partition (the StreamingDedup idempotence mechanism). The
  * snapshot then runs dup-detection + span merge over the ACCUMULATED
  * digest rows (spansFromGrams) — ids, positions, and 16-byte digests
  * only, never text — which is the same "heavy pass per batch, compact
  * state at snapshot" split IncrementalCorpus uses for components.
  *
  * Substring dedup is inherently RETROACTIVE: a gram that was unique
  * when its doc arrived becomes duplicated the moment any later doc
  * repeats it, changing the OLD doc's span report. Running detection at
  * snapshot over the accumulated store makes that retroactivity exact
  * by construction — IncrementalSubstrSpec proves snapshot ≡ one-shot
  * substrSpansOf(union of batches), which is also why the declared
  * query (q_substr_inc) can reuse q_dedup_substr's DuckDB oracle
  * verbatim: the incremental machinery must reproduce the one-shot
  * answer to the hash.
  */
object IncrementalSubstr {

  val K = 8

  val GramSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_toks", IntegerType),
    StructField("pos", IntegerType),
    StructField("g", BinaryType)))

  /** Idempotent micro-batch commit: k-gram the batch docs, land the
    * digest rows as this batch's partition. Replay rewrites only its
    * own partition with identical recomputed rows.
    */
  def commitBatch(batch: DataFrame, batchId: Long, storeDir: String): Unit = {
    // cut the streaming-source lineage before the batch write (the
    // StreamingDedup convention — a foreachBatch frame cannot be
    // re-scanned by the parquet writer's retry path otherwise)
    val grams = graft.Materialize.frame(TextOps.gramsOf(batch, K))
    StreamingDedup.writeBatchPartition(grams, batchId, storeDir)
  }

  /** All accumulated gram rows; an absent store reads as zero rows.
    * Deduped on (doc_id, pos, g): same-batchId replay is already a
    * byte-identical partition overwrite, but an at-least-once source
    * can redeliver a doc under a DIFFERENT batchId — without the dedup
    * its grams would count twice and the whole doc would read as one
    * giant dup span. (A REVISED doc re-ingested under a new id is out
    * of scope here, as for StreamingDedup's signature store: revision
    * handling needs a displacement contract — see IncrementalCorpus —
    * not a dedup.)
    */
  def readGrams(spark: SparkSession, storeDir: String): DataFrame =
    graft.sources.Maintenance.readBatchStoreOr(spark, storeDir)
      .map(_.select(GramSchema.fieldNames.map(col).toSeq: _*)
        .dropDuplicates(Seq("doc_id", "pos", "g")))
      .getOrElse(
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], GramSchema))

  /** Offline store maintenance: one gram-sorted zstd file per batch
    * partition ([[graft.sources.Maintenance.compactBatchStore]]);
    * snapshot- and replay-preserving (MaintenanceSpec).
    */
  def maintain(spark: SparkSession, storeDir: String): Boolean =
    graft.sources.Maintenance.compactBatchStore(spark, storeDir, Seq("g"))

  /** The current span report over everything ingested so far —
    * identical (spec-proven) to substrSpansOf over the union of all
    * batches.
    */
  def snapshot(spark: SparkSession, storeDir: String): DataFrame =
    TextOps.spansFromGrams(readGrams(spark, storeDir), K)

  /** Declared-query body (q_substr_inc): land the fixture docs as
    * `nFiles` parquet files, drain them as real micro-batches through
    * foreachBatch, snapshot, clean up the temp state. Deterministic:
    * the snapshot is a pure function of the ingested set.
    */
  def fixtureRun(spark: SparkSession, sfDir: String, nFiles: Int = 3): DataFrame =
    StreamFixture.run(graft.Tables.documents(spark, sfDir), nFiles)(
      commitBatch, snapshot(spark, _))
}
