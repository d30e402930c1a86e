package graft.streaming

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** The one harness behind every self-contained incremental query
  * (q_stream_dedup_near and the q_*_inc family): land the input as a
  * multi-file parquet dir, drain it one file per micro-batch through a
  * foreachBatch commit, snapshot the accumulated state, and clean up.
  *
  * Failure contract: whatever throws — the input write, a micro-batch
  * commit, or the snapshot — the streaming query is stopped and the
  * temp dir (input copy, checkpoint, state) is deleted before the
  * exception propagates. On success the result is materialized before
  * the delete, so it no longer reads from the dir.
  */
object StreamFixture {

  /** Land `input` as `nFiles` parquet files in a fresh temp dir, stream
    * them through `commit(batch, batchId, stateDir)` one file per
    * micro-batch, and return `snapshot(stateDir)` eagerly materialized.
    */
  def run(input: DataFrame, nFiles: Int)(commit: (DataFrame, Long, String) => Unit,
      snapshot: String => DataFrame): DataFrame = {
    val spark = input.sparkSession
    val tmp = Files.createTempDirectory("graft_stream_fixture")
    val state = s"$tmp/state"
    try {
      input.repartition(nFiles).write.parquet(s"$tmp/in")
      val schema = spark.read.parquet(s"$tmp/in").schema
      drain(StreamOps.parquetStream(spark, s"$tmp/in", schema), s"$tmp/ck") {
        (batch, batchId) => commit(batch, batchId, state)
      }.stop()
      graft.Materialize.frame(snapshot(state))
    } finally deleteTree(tmp)
  }

  /** Start `stream` into `commit` via foreachBatch and block until all
    * currently-available input is committed. Returns the still-running
    * query; a failed drain stops it before rethrowing, so an abandoned
    * query never keeps polling its source for the life of the session.
    */
  def drain(stream: DataFrame, checkpoint: String)(
      commit: (DataFrame, Long) => Unit): StreamingQuery = {
    val q = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(commit)
      .start()
    try q.processAllAvailable()
    catch { case t: Throwable => q.stop(); throw t }
    q
  }

  /** Best-effort recursive delete of a local directory tree. */
  private[graft] def deleteTree(root: Path): Unit = {
    val walk = Files.walk(root)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => { scala.util.Try(Files.deleteIfExists(p)); () })
    finally walk.close()
  }
}
