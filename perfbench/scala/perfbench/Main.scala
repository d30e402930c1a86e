package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM: start the session, warm up
  * (untimed), run the workload's closed loop for its fixed number of
  * calls, take the untimed correctness evidence, and write every
  * record to the `out` file named in the config. `run.py` generates
  * the inputs before this starts and turns the records into metrics.
  *
  * Usage: `perfbench.Main <config.json>...` (several configs run one
  * after another in the same JVM; the build uses that for its
  * class-data-sharing training run).
  */
object Main {
  final case class Op(name: String, seconds: Double, ok: Boolean,
      error: String = null, rows: Long = -1L, items: Long = 1L)

  /** What a workload needs from the run. */
  final class Ctx(val spark: SparkSession, val cfg: JsonNode, val trace: Trace) {
    val work: String = cfg.get("work").asText()
    val seed: Long = cfg.get("seed").asLong()
    val tmp: Path = Paths.get(System.getProperty("java.io.tmpdir"))
    private var tmpBaseline: Set[String] = Set.empty

    /** Persisted blocks of the op just finished are dead: drop them
      * outside the timed span, as `graft.Bench` does. */
    def drainStorage(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

    private def tmpEntries(): Set[String] =
      Files.list(tmp).iterator().asScala.map(_.getFileName.toString).toSet

    def markTmpBaseline(): Unit = tmpBaseline = tmpEntries()

    /** Temp entries an op created and did not delete. Removes them, so
      * the next op starts clean, and returns their names. */
    def tmpLeftovers(): Seq[String] = {
      val extra = (tmpEntries() -- tmpBaseline).toSeq.sorted
      extra.foreach(n => Util.deleteTree(tmp.resolve(n)))
      extra
    }
  }

  trait Workload {
    /** Untimed: first executions, so caches fill and code is generated. */
    def warm(): Unit
    /** One timed call; `i` counts calls from 0. A call is one op, or
      * several when the workload times parts of it (one per micro-batch
      * of a stream drain). */
    def op(i: Int): Seq[Op]
    /** Timed calls per run. A fixed count, which `run.py` derives from
      * the requested seconds at the workload's nominal call time, so a
      * faster or slower machine does the same work in a run. */
    def calls: Int
    /** Untimed correctness evidence and extra records. */
    def finish(): java.util.Map[String, Any]
    /** Releases what the workload started; runs on every exit path. */
    def close(): Unit = ()
  }

  def main(args: Array[String]): Unit = args.foreach(runOne)

  private def runOne(cfgPath: String): Unit = {
    val mapper = new ObjectMapper()
    val cfg = mapper.readTree(new File(cfgPath))
    val out = new java.util.LinkedHashMap[String, Any]()
    val trace = new Trace(cfg.get("trace").asInt() == 1)
    val cpus = cfg.get("cpus").asInt()
    val work = cfg.get("work").asText()
    var spark: SparkSession = null
    var w: Workload = null
    try {
      val t0 = System.nanoTime()
      spark = SparkSession.builder()
        .master(s"local[$cpus]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      trace.attach(spark.sparkContext)
      val ctx = new Ctx(spark, cfg, trace)
      w = cfg.get("workload").asText() match {
        case "alert_etl" => new AlertEtl(ctx)
        case "query_mix" => new Queries(ctx)
        case "stream_dedup" => new StreamDedup(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val t1 = System.nanoTime()
      trace.span("setup.warm")(w.warm())
      ctx.drainStorage()
      val t2 = System.nanoTime()
      out.put("session_s", (t1 - t0) / 1e9)
      out.put("warm_s", (t2 - t1) / 1e9)
      ctx.markTmpBaseline()
      System.gc()
      val b = Seq.newBuilder[Op]
      for (i <- 0 until w.calls) {
        trace.op = i
        val rs = trace.span("op")(w.op(i))
        ctx.drainStorage()
        val left = ctx.tmpLeftovers()
        b ++= rs.init
        val r = rs.last
        b += (if (left.isEmpty || !r.ok) r
              else r.copy(ok = false, error = s"temp entries left behind: ${left.mkString(",")}"))
      }
      val ops = b.result()
      out.put("ops", ops.map(o => Map[String, Any]("name" -> o.name, "s" -> o.seconds,
        "ok" -> o.ok, "error" -> o.error, "rows" -> o.rows, "items" -> o.items).asJava).asJava)
      trace.op = -1
      out.put("finish", w.finish())
      out.put("leftover_tmp", ctx.tmpLeftovers().asJava)
      if (trace.on) out.put("trace", trace.dump())
    } catch {
      case e: Throwable =>
        out.put("fatal", s"${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    } finally {
      out.put("rss_hwm_kb", Util.vmHwmKb())
      out.put("heap_max_mb", Runtime.getRuntime.maxMemory() / (1 << 20))
      if (w != null) w.close()
      if (spark != null) spark.stop()
      Files.writeString(Paths.get(cfg.get("out").asText()), mapper.writeValueAsString(out))
    }
  }
}

object Util {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.deleteIfExists(x))
      finally s.close()
    }

  def vmHwmKb(): Long =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    catch { case _: Exception => -1L }

  def reason(e: Throwable): String = {
    val m = Option(e.getMessage).getOrElse("").linesIterator.toSeq.headOption.getOrElse("")
    s"${e.getClass.getSimpleName}: ${m.take(300)}"
  }

  /** (bytes, files) under a directory tree; 0 when it does not exist. */
  def treeSize(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val files = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        (files.map(Files.size).sum, files.size.toLong)
      } finally s.close()
    }
  }
}
