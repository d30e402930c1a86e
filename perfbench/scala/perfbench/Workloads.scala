package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import graft.sources.{HttpIngest, HttpIngestConfig, PrismaConnector}
import Main.{Ctx, Op, Workload}

/** query_mix: declared queries through `graft.queries`.
  * An op is one query: construct the frame, plan it, execute its own
  * physical plan (`toRdd.count()`, the `graft.Bench` contract). Queries
  * run in a seed-permuted order, re-drawn every pass; a run is a fixed
  * number of whole passes, so every query weighs the same.
  *
  * Correctness: the warm-up collects every query once and digests its
  * rows ([[RowHash]]); `run.py` compares the digest with the cached
  * oracle answer. Every timed op must return the warm-up's row count.
  * Queries without an oracle are digested again after the loop, and the
  * two digests must agree.
  */
final class Queries(ctx: Ctx) extends Workload {
  import ctx._
  private val names: IndexedSeq[String] =
    cfg.get("queries").elements().asScala.map(_.asText()).toIndexedSeq
  private val defs = graft.SparkEntry.defs.map(d => d.name -> d).toMap
  private val noOracle: Set[String] = names.filter(n => defs(n).oracle.isEmpty).toSet
  private val packs: Map[String, String] = {
    import graft.{queries => Q}
    Seq("Relational" -> Q.Relational.defs, "Scalars" -> Q.Scalars.defs,
      "Windows" -> Q.Windows.defs, "TimeWindows" -> Q.TimeWindows.defs,
      "TextOps" -> Q.TextOps.defs, "Similarity" -> Q.Similarity.defs, "Udx" -> Q.Udx.defs,
      "Multimodal" -> Q.Multimodal.defs, "Extras" -> Q.Extras.defs,
      "Pipeline" -> Q.Pipeline.defs, "Corpus" -> Q.Corpus.defs,
      "Curation" -> Q.Curation.defs, "Graph" -> Q.Graph.defs, "Vocab" -> Q.Vocab.defs,
      "Layout" -> Q.Layout.defs, "Geo" -> Q.Geo.defs, "Versioning" -> Q.Versioning.defs,
      "Privacy" -> Q.Privacy.defs)
      .flatMap { case (p, ds) => ds.map(_.name -> p) }.toMap
  }
  private val data = cfg.get("data").asText()
  private val first = scala.collection.mutable.Map.empty[String, Any]
  private val rows = scala.collection.mutable.Map.empty[String, Long]
  private val phases = new java.util.ArrayList[java.util.Map[String, Any]]()
  private val storage = new java.util.ArrayList[java.util.Map[String, Any]]()
  private var order: IndexedSeq[String] = names

  private def digest(name: String): Any =
    try {
      val t0 = System.nanoTime()
      val d = RowHash.of(defs(name).fn(spark, data))
      rows(name) = d.rows
      Map("hash" -> d.hash, "rows" -> d.rows, "s" -> (System.nanoTime() - t0) / 1e9).asJava
    } catch { case e: Exception => Map("error" -> Util.reason(e)).asJava }
    finally drainStorage()

  def warm(): Unit = names.foreach(n => first(n) = digest(n))

  def calls: Int = cfg.get("passes").asInt() * names.size

  private def sampleStorage(i: Int, at: String): Unit = if (trace.on) {
    val infos = spark.sparkContext.getRDDStorageInfo
    storage.add(Map[String, Any]("op" -> i, "at" -> at,
      "blocks" -> infos.map(_.numCachedPartitions.toLong).sum,
      "bytes" -> infos.map(r => r.memSize + r.diskSize).sum).asJava)
  }

  def op(i: Int): Seq[Op] = {
    if (i % names.size == 0) {
      val rng = new scala.util.Random(seed * 1000003L + i / names.size)
      order = rng.shuffle(names)
    }
    val name = order(i % names.size)
    val t0 = System.nanoTime()
    try {
      val df = trace.span("queries.construct")(defs(name).fn(spark, data))
      sampleStorage(i, "construct")
      trace.span("queries.plan")(df.queryExecution.executedPlan)
      val n = trace.span("queries.exec")(df.queryExecution.toRdd.count())
      val s = (System.nanoTime() - t0) / 1e9
      if (trace.on) {
        sampleStorage(i, "exec")
        val ph = df.queryExecution.tracker.phases
        phases.add((Map[String, Any]("op" -> i, "name" -> name) ++
          ph.map { case (k, v) => k -> v.durationMs }).asJava)
      }
      rows.get(name) match {
        case Some(want) if want != n =>
          Seq(Op(name, s, ok = false, s"row count $n, warm-up returned $want", n))
        case None => Seq(Op(name, s, ok = false, "no warm-up result to check against", n))
        case _ => Seq(Op(name, s, ok = true, rows = n))
      }
    } catch {
      case e: Exception =>
        Seq(Op(name, (System.nanoTime() - t0) / 1e9, ok = false, Util.reason(e)))
    }
  }

  def finish(): java.util.Map[String, Any] = {
    val last = names.filter(noOracle).map(n => n -> digest(n)).toMap
    Map[String, Any]("first" -> first.toMap.asJava, "last" -> last.asJava,
      "oracle_sql" -> names.flatMap(n => defs(n).oracle.map(n -> _)).toMap.asJava,
      "packs" -> names.map(n => n -> packs.getOrElse(n, "")).toMap.asJava,
      "phases" -> phases, "storage" -> storage).asJava
  }
}

/** alert_etl: the paper's pipeline through `graft.sources`. An op is one
  * full handler run against the loopback fixture server: login, fetch
  * inventory, per-service resource types, policies and every policy's
  * alert page chain, land the payloads, and publish the three reports
  * into the same literal date-folder tree (stage-and-swap).
  *
  * Correctness: every op's published tree must digest the same as the
  * first op's; `run.py` checks the tree left after the last op against
  * the report the generator derived from its ground truth.
  */
final class AlertEtl(ctx: Ctx) extends Workload {
  import ctx._
  private val mapper = new ObjectMapper()
  private val script = mapper.readTree(Paths.get(cfg.get("prisma_script").asText()).toFile)
  private val outRoot = cfg.get("out_root").asText()
  private val server = new FixtureServer(script, seed, cfg.get("rate429").asDouble())
  private val ing = new HttpIngest(HttpIngestConfig(server.baseUrl,
    script.get("username").asText(), script.get("password").asText(),
    script.get("prismaId").asText(), pageSize = script.get("page_size").asInt(),
    maxRetries = 5, backoffBaseMs = 1L))
  private val services = script.get("services").size()
  private var treeDigest: String = null
  private val treeDigests = new java.util.ArrayList[String]()

  private def json(s: Option[String], what: String): String =
    s.getOrElse(throw new IllegalStateException(s"GET $what failed"))

  private def handler(): Long = {
    import spark.implicits._
    val token = trace.span("sources.login")(ing.login())
    val (inv, rts, pol, pages) = trace.span("sources.fetch") {
      val inv = json(ing.getJson("/v2/inventory", token), "inventory")
      val rts = (0 until services).map(i =>
        i -> json(ing.getJson(s"/v2/resource-types/$i", token), s"resource types $i"))
      val pol = json(ing.getJson("/policy", token), "policy")
      val pids = mapper.readTree(pol).get("policies").elements().asScala
        .map(_.get("policyId").asText()).toSeq
      (inv, rts, pol, pids.flatMap(p => ing.fetchPages(s"/alerts/$p", token)))
    }
    val names = script.get("services")
    val (invDf, rtDf, polDf, pagesDf) = trace.span("sources.land") {
      (Seq(inv).toDF("json"),
        rts.map { case (i, j) => (names.get(i).asText(), j) }.toDF("service", "json"),
        Seq(pol).toDF("json"), ing.land(spark, pages))
    }
    trace.span("sources.publish")(PrismaConnector.runReportPipelineLiteral(
      spark, invDf, rtDf, polDf, pagesDf, outRoot))
    pages.map(p => mapper.readTree(p).path("items").size().toLong).sum
  }

  /** Several handler runs: op times keep falling for the first five or
    * six runs as the JIT catches up. */
  def warm(): Unit = (1 to cfg.get("warm_ops").asInt()).foreach { _ =>
    handler(); drainStorage()
  }

  /** Order-insensitive digest of the published tree (file names and
    * each file's sorted lines), hidden checksum files excluded. */
  private def digestTree(): String = {
    val root = Paths.get(outRoot)
    val s = Files.walk(root)
    try {
      val files = s.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(_.getFileName.toString.startsWith(".")).toSeq
        .map(p => root.relativize(p).toString).sorted
      val md = java.security.MessageDigest.getInstance("SHA-256")
      files.foreach { f =>
        md.update(f.getBytes("UTF-8"))
        Files.readAllLines(root.resolve(f)).asScala.sorted.foreach(l => md.update(l.getBytes("UTF-8")))
      }
      md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
    } finally s.close()
  }

  def calls: Int = cfg.get("ops").asInt()

  def op(i: Int): Seq[Op] = Seq {
    val t0 = System.nanoTime()
    try {
      val alerts = handler()
      val s = (System.nanoTime() - t0) / 1e9
      val d = digestTree()
      treeDigests.add(d)
      if (treeDigest == null) treeDigest = d
      if (d != treeDigest) Op("handler", s, ok = false, s"published tree $d differs from op 0's $treeDigest", items = alerts)
      else Op("handler", s, ok = true, items = alerts)
    } catch {
      case e: Exception => Op("handler", (System.nanoTime() - t0) / 1e9, ok = false, Util.reason(e))
    }
  }

  override def close(): Unit = server.stop()

  def finish(): java.util.Map[String, Any] = {
    val (bytes, files) = Util.treeSize(outRoot)
    Map[String, Any]("http_requests" -> server.requests.get(), "http_retries" -> server.retries.get(),
      "http_bytes" -> server.bytesOut.get(), "server_s" -> server.busyNanos.get() / 1e9,
      "out_bytes" -> bytes, "out_files" -> files, "tree_digests" -> treeDigests).asJava
  }
}

/** stream_dedup: the streaming near-dedup store through `graft.streaming`.
  * The generator lands a backlog of parquet files, one per micro-batch;
  * the single timed call is `StreamingDedup.nearDedupStream` draining it
  * at one file per trigger with the configured compaction cadence, so
  * the band store's appends, pruned reads and compactions all run. Each
  * micro-batch is one op, timed by the query's own progress report
  * (`triggerExecution`), read after the drain: no listener runs in the
  * untraced run.
  *
  * Correctness (after the drain): the emitted pair set must equal
  * `Similarity.uncappedMinhashPairsOf` over the whole corpus, and the
  * store's compaction watermark must be the one the cadence implies;
  * `run.py` compares both.
  */
final class StreamDedup(ctx: Ctx) extends Workload {
  import ctx._
  import graft.streaming.{StreamingDedup, TieredStore}
  import org.apache.spark.sql.streaming.StreamingQueryProgress
  private val docs = cfg.get("docs").asText()
  private val every = cfg.get("compact_every").asInt()
  private val threshold = cfg.get("threshold").asDouble()
  private val runDir = s"$work/stream"
  private val warmDir = s"$work/stream-warm"
  private var batches = Seq.empty[StreamingQueryProgress]

  /** Drain every file under `in` into stores under `out`; returns the
    * progress of each micro-batch that read input. */
  private def drain(in: String, out: String): Seq[StreamingQueryProgress] = {
    val files = new java.io.File(in).list().count(_.endsWith(".parquet"))
    val schema = spark.read.parquet(in).schema
    val q = StreamingDedup.nearDedupStream(spark, in, schema, s"$out/store",
      s"$out/pairs", s"$out/ck", threshold, compactEvery = every)
    try {
      // the last batch's progress is recorded just after its commit
      val until = System.nanoTime() + 10000000000L
      def seen = q.recentProgress.count(_.numInputRows > 0)
      while (seen < files && System.nanoTime() < until) Thread.sleep(5)
      q.recentProgress.filter(_.numInputRows > 0).toSeq
    } finally q.stop()
  }

  /** A short stream of its own (one compaction), then deleted. */
  def warm(): Unit =
    try drain(cfg.get("warm_docs").asText(), warmDir)
    finally Util.deleteTree(Paths.get(warmDir))

  def calls: Int = 1

  def op(i: Int): Seq[Op] = {
    val t0 = System.nanoTime()
    try {
      batches = drain(docs, runDir)
      batches.map(p => Op("batch", p.durationMs.get("triggerExecution") / 1e3, ok = true,
        items = p.numInputRows))
    } catch {
      case e: Exception =>
        Seq(Op("batch", (System.nanoTime() - t0) / 1e9, ok = false, Util.reason(e)))
    }
  }

  override def close(): Unit = {
    Util.deleteTree(Paths.get(runDir))
    Util.deleteTree(Paths.get(warmDir))
  }

  private def pairRows(df: org.apache.spark.sql.DataFrame): java.util.List[java.util.List[Any]] =
    df.select("doc_a", "doc_b", "est_jaccard").collect().toSeq
      .map(r => Seq[Any](r.getLong(0), r.getLong(1), r.getDouble(2)).asJava).asJava

  def finish(): java.util.Map[String, Any] = {
    val store = s"$runDir/store"
    val band = TieredStore.longKeyed(store, StreamingDedup.StoreSchema.fieldNames.toSeq,
      "band_hash", StreamingDedup.StoreBuckets)
    val (appendBytes, appendFiles) = Util.treeSize(store)
    val (bucketBytes, bucketFiles) = Util.treeSize(band.bucketedDir)
    val (pairBytes, _) = Util.treeSize(s"$runDir/pairs")
    val got = pairRows(StreamingDedup.readPairs(spark, s"$runDir/pairs"))
    val want = pairRows(graft.queries.Similarity.uncappedMinhashPairsOf(
      spark.read.parquet(docs), threshold))
    val out = Map[String, Any](
      "pairs" -> got, "expected_pairs" -> want, "watermark" -> band.watermark(spark),
      "compact_every" -> every,
      "store_bytes" -> (appendBytes + bucketBytes), "store_files" -> (appendFiles + bucketFiles),
      "pairs_bytes" -> pairBytes,
      "progress" -> batches.map { p =>
        (Map[String, Any]("batch" -> p.batchId, "rows" -> p.numInputRows) ++
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }).asJava
      }.asJava).asJava
    Util.deleteTree(Paths.get(runDir))
    out
  }
}
