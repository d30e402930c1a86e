package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory of the mains (Bench, Verify, RunQ, TenX,
  * ExplainAll, RelScale, StoreScale, ScaleSlope, ReportPipeline): local
  * mode on [[cpus]] threads with as many shuffle partitions, UTC session
  * time, legacy nanosecond parquet timestamps read as longs (older
  * events fixtures), no UI, WARN logging. The test suite keeps its own
  * fixed `local[4]` session (SharedSpark).
  */
object LocalSession {

  /** Worker threads and shuffle partitions: `SPARK_GRAFT_CPUS`, else
    * every available core.
    */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def get(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drop every persisted block. `localCheckpoint(true)` frames (the
    * iterative loops, the incremental fixtures, the rewrite scopes)
    * register MEMORY_AND_DISK blocks that are reclaimed only when the
    * driver GC's the RDD reference; across hundreds of queries they
    * pile into the shared local-mode storage pool until a late query
    * hits eviction/spill stalls (or, at the 100× tier, an OOM). A
    * harness calls this between queries, outside the timed span, once
    * the previous frame is dead.
    */
  def drainStorage(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
}
