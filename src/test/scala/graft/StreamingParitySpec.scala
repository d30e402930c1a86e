package graft

import java.nio.file.Files

import graft.queries.TimeWindows
import graft.streaming.{StreamOps, StreamingDedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Batch ≡ stream parity (SURVEY.md §5.2.4): each windowed aggregation
  * runs once as a batch plan and once as a file-source Structured Stream
  * over the same rows; results must be identical. Also exercises
  * watermark semantics: dropDuplicatesWithinWatermark drops late rows.
  */
class StreamingParitySpec extends AnyFunSuite with SharedSpark with BeforeAndAfterAll {

  private var eventsDir: String = _
  private var ckBase: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    // Re-land events as Spark-written (µs) parquet so the file stream
    // reads the exact same rows as the batch side.
    eventsDir = Files.createTempDirectory("graft_stream_events").toString
    ckBase = Files.createTempDirectory("graft_stream_ck").toString
    Tables.events(spark, sf).coalesce(1).write.mode("overwrite").parquet(eventsDir)
  }

  private def batchEvents: DataFrame = spark.read.parquet(eventsDir)

  private def parity(name: String, agg: DataFrame => DataFrame): Unit = {
    val batch = agg(batchEvents)
    val stream = agg(StreamOps.parquetStream(
      spark, eventsDir, batchEvents.schema, maxFilesPerTrigger = 10))
    val q = StreamOps.runToMemory(stream, name, "complete", s"$ckBase/$name")
    try {
      val got = spark.table(name)
      assert(got.count() == batch.count(), s"$name row count batch≠stream")
      assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty,
        s"$name rows differ batch vs stream")
    } finally q.stop()
  }

  test("tumbling window: batch == stream")(parity("p_tumble", TimeWindows.tumbleAgg))
  test("enriched window (q_stream_enrich core): batch == stream")(
    parity("p_enrich", ev => TimeWindows.enrichAgg(ev, Tables.customer(spark, sf))))
  test("sliding window: batch == stream")(parity("p_slide", TimeWindows.slideAgg))
  // the mergeable SpaceSaving buffer must encode/decode through the
  // streaming state store and merge across micro-batches; event_type's
  // 5-value domain never saturates M=64, so the sketch is exact counting
  // and batch ≡ stream holds to the counter value (the eviction path is
  // SketchTopKSpec's job). The map column explodes to rows because set
  // comparison doesn't support MapType.
  test("mergeable SpaceSaving sketch: batch == stream through the state store") {
    val ss = udaf(graft.functions.SpaceSaving)
    parity("p_sketch", ev => ev
      .groupBy(window(col("ts"), "12 hours"))
      .agg(ss(col("event_type")).as("sk"))
      .select(col("window.start").as("ws"), explode(col("sk"))))
  }
  test("session window: batch == stream")(parity("p_session", TimeWindows.sessionAgg))

  test("stream-static join enriches the stream against a batch dimension") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dim = Seq(("click", "engagement"), ("view", "engagement"),
      ("purchase", "revenue"), ("signup", "growth"), ("error", "ops"))
      .toDF("event_type", "category")
    val stream = StreamOps.parquetStream(spark, eventsDir, batchEvents.schema,
        maxFilesPerTrigger = 10)
      .join(broadcast(dim), Seq("event_type")) // static side broadcast per batch
      .groupBy("category").agg(count(lit(1)).as("n"))
    val q = StreamOps.runToMemory(stream, "p_ssdim", "complete", s"$ckBase/ssdim")
    try {
      val got = spark.table("p_ssdim")
      val expect = batchEvents.join(dim, Seq("event_type"))
        .groupBy("category").agg(count(lit(1)).as("n"))
      assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty)
      assert(got.count() > 0)
    } finally q.stop()
  }

  test("streaming MinHash near-dedup emits exactly the uncapped batch pair set") {
    // 4 input files, 1 per micro-batch → signatures accumulate across 4
    // genuinely-incremental batches; the emitted pair set (incl. the
    // estimates) must equal the one-shot batch path on the same rows
    val got = StreamingDedup.nearDedupFixtureRun(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // uncapped form: the stream's declared batch-equivalent (round 13 —
    // the declared q_dedup_near additionally df-caps; see StreamingDedup doc)
    val want = graft.queries.Similarity
      .uncappedMinhashPairsOf(graft.Tables.documents(spark, sf), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(want.nonEmpty, "fixture must contain near-dup pairs")
    assert(got == want,
      s"stream≠batch: missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("streaming near-dedup signature store survives operational compaction") {
    // the 100-TB composition: append-tier band store → compactStore
    // rewrites it into the sb-bucketed tier IN PLACE → further
    // micro-batches join against the two-tier store; the final pair
    // set must still equal the one-shot batch path over all docs, and
    // replaying a COMPACTED batch must stay a no-op
    val tmp = Files.createTempDirectory("graft_sd_compact").toString
    val docs = Tables.documents(spark, sf)
    docs.filter(col("doc_id") % 2 === 0).repartition(2).write.parquet(s"$tmp/in")
    val schema = spark.read.parquet(s"$tmp/in").schema
    StreamingDedup.nearDedupStream(spark, s"$tmp/in", schema,
      s"$tmp/store", s"$tmp/pairs", s"$tmp/ck").stop()
    val nBatches = spark.read.parquet(s"$tmp/store")
      .select(max(col("batch_id")).cast("long")).head().getLong(0) + 1
    StreamingDedup.compactStore(spark, s"$tmp/store", upTo = nBatches - 1)
    // the append tier's rewritten batch dirs are gone; the bucketed
    // tier holds every row, watermark recorded
    assert(!new java.io.File(s"$tmp/store/batch_id=0").exists(),
      "compacted batch dirs must leave the append tier")
    assert(new java.io.File(
      s"${StreamingDedup.bucketedDirOf(s"$tmp/store")}/_watermark").isFile)
    docs.filter(col("doc_id") % 2 =!= 0).repartition(2)
      .write.mode("append").parquet(s"$tmp/in")
    StreamingDedup.nearDedupStream(spark, s"$tmp/in", schema,
      s"$tmp/store", s"$tmp/pairs", s"$tmp/ck").stop()
    def pairRows = StreamingDedup.readPairs(spark, s"$tmp/pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val got = pairRows.toSet
    val want = graft.queries.Similarity.uncappedMinhashPairsOf(docs, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(want.nonEmpty && got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    // replay a batch that was COMPACTED: its store prefix now comes
    // from the bucketed tier; the recomputed pairs must be identical
    // and the recreated append dir must stay invisible (watermark
    // filter) — the at-least-once contract across the maintenance cycle
    val before = pairRows.sorted
    // re-commit batch 0 (a COMPACTED batch) with the rows the stream
    // gave it, recovered from the bucketed tier's own doc ids
    val batch0Docs = docs.join(
      spark.read.parquet(StreamingDedup.bucketedDirOf(s"$tmp/store"))
        .filter(col("batch_id") === 0).select(col("doc_id")).distinct(),
      Seq("doc_id"), "left_semi")
    StreamingDedup.commitBatch(batch0Docs, 0L, s"$tmp/store", s"$tmp/pairs", 0.5)
    assert(pairRows.sorted.toSeq == before.toSeq,
      "replaying a compacted batch must not change the pair rows")
  }

  test("compacted store read opens ONLY the sb buckets the batch touches (round 14)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val tmp = Files.createTempDirectory("graft_sd_prune").toString
    val docs = Tables.documents(spark, sf)
    // accumulate two append batches, then compact them into the
    // bucketed tier — the layout the store converges to under the
    // LSM maintenance cycle
    StreamingDedup.commitBatch(docs.filter(col("doc_id") < 400), 0L,
      s"$tmp/store", s"$tmp/pairs", 0.5)
    StreamingDedup.commitBatch(
      docs.filter(col("doc_id") >= 400 && col("doc_id") < 450), 1L,
      s"$tmp/store", s"$tmp/pairs", 0.5)
    // tiny targetBucketBytes forces the fixture store (a few KB) to
    // fan out to the full StoreBuckets ceiling — the directory-pruning
    // IO assertions below need many directories to skip; the default
    // size-scaled policy would rightly compact this store to ONE
    // (TieredStoreSpec covers that regime)
    StreamingDedup.bandStoreOf(s"$tmp/store", targetBucketBytes = 1L)
      .compact(spark, 1L)
    // a SMALL probe batch: 2 docs → ≤ 16 distinct band hashes → a
    // handful of touched buckets out of StoreBuckets
    val probe = docs.filter(col("doc_id") >= 450 && col("doc_id") < 452)
    val probeBands = graft.queries.Similarity.bandedSignaturesOf(probe)
      .localCheckpoint(true)
    val hashes = probeBands.select(col("band_hash")).distinct()
      .collect().map(_.getLong(0))
    val touched = hashes.map(h =>
      java.lang.Math.floorMod(h, StreamingDedup.StoreBuckets.toLong).toInt).toSet
    assert(touched.size < StreamingDedup.StoreBuckets / 4,
      s"probe batch must touch few buckets, touched ${touched.size}")
    val pruned = StreamingDedup.readStorePruned(spark, s"$tmp/store", 2L,
      probeBands).get
    val scans = pruned.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f }
    // every batch is compacted, so the plan reads the bucketed tier
    // only, with the sb partition filter reaching the scan…
    val bucketScan = scans.find(_.metadata("Location")
      .contains("store_bucketed")).getOrElse(
      fail(s"no bucketed-tier scan in:\n${pruned.queryExecution.executedPlan}"))
    assert(bucketScan.metadata("PartitionFilters").contains("sb"),
      s"sb partition filter missing: ${bucketScan.metadata("PartitionFilters")}")
    // …and only touched-bucket directories were selected for IO
    val readDirs = bucketScan.inputRDDs().head.partitions.toSeq.flatMap {
      case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
        fp.files.toSeq.map(f => f.filePath.toPath.getParent.getName)
      case _ => Seq.empty[String]
    }.toSet
    assert(readDirs.nonEmpty &&
      readDirs.forall(d => touched.contains(d.stripPrefix("sb=").toInt)),
      s"scan must open only touched buckets, opened $readDirs for $touched")
    val allDirs = spark.read
      .parquet(StreamingDedup.bucketedDirOf(s"$tmp/store")).inputFiles
      .map(f => new org.apache.hadoop.fs.Path(f).getParent.getName).toSet
    assert(readDirs.size < allDirs.size,
      s"pruning must skip untouched buckets (${readDirs.size} vs ${allDirs.size})")
    // the small probe's hash predicates are PUSHED (row-group skipping
    // on the band_hash-sorted compacted files)
    assert(bucketScan.metadata("PushedFilters").contains("band_hash"),
      s"band-hash predicates must push: ${bucketScan.metadata("PushedFilters")}")
    // losslessness at the row level: pruned ≡ full read ∩ probe hashes
    val want = StreamingDedup.readStore(spark,
      StreamingDedup.bucketedDirOf(s"$tmp/store"), 2L).get
      .filter(col("band_hash").isin(hashes.map(java.lang.Long.valueOf).toSeq: _*))
    assert(pruned.exceptAll(want).isEmpty && want.exceptAll(pruned).isEmpty)
  }

  test("band-store compaction: crash window restores __prev, watermark never passes landed batches") {
    val tmp = Files.createTempDirectory("graft_sd_crash").toString
    val docs = Tables.documents(spark, sf)
    StreamingDedup.commitBatch(docs.filter(col("doc_id") < 200), 0L,
      s"$tmp/store", s"$tmp/pairs", 0.5)
    StreamingDedup.commitBatch(
      docs.filter(col("doc_id") >= 200 && col("doc_id") < 300), 1L,
      s"$tmp/store", s"$tmp/pairs", 0.5)
    StreamingDedup.compactStore(spark, s"$tmp/store", upTo = 0L)
    val rowsBefore = StreamingDedup.readStore(spark, s"$tmp/store", 2L).get.count()
    // simulate a compaction that died between its two publish renames:
    // the committed tier is gone, the last good tree sits at __prev
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val bucketed = new org.apache.hadoop.fs.Path(
      StreamingDedup.bucketedDirOf(s"$tmp/store"))
    val prev = new org.apache.hadoop.fs.Path(
      StreamingDedup.bucketedDirOf(s"$tmp/store") + "__prev")
    assert(fs.rename(bucketed, prev))
    // readers resolve the surviving prev — no compacted rows are lost
    assert(StreamingDedup.readStore(spark, s"$tmp/store", 2L).get.count()
      == rowsBefore, "readers must resolve the __prev tree in the crash window")
    // the next compaction run restores it and proceeds
    StreamingDedup.compactStore(spark, s"$tmp/store", upTo = 1L)
    assert(fs.exists(bucketed) && !fs.exists(prev))
    assert(StreamingDedup.readStore(spark, s"$tmp/store", 2L).get.count()
      == rowsBefore)
    // the watermark clamp: compacting past the newest LANDED batch would
    // hide a later-committing batch's rows forever — refused loudly
    val ex = intercept[IllegalArgumentException](
      StreamingDedup.compactStore(spark, s"$tmp/store", upTo = 99L))
    assert(ex.getMessage.contains("landed"), ex.getMessage)
  }

  test("automatic compaction cadence: the stream reaches the bucketed regime mid-run and stays exact (round 15)") {
    // compactEvery=2 over 5 micro-batches → the cadence fires at least
    // twice INSIDE the stream (batches keep committing against a store
    // that flips tiers under them); the emitted pair set must still
    // equal the one-shot batch path, the append tier must stay bounded
    // by the cadence, and the watermark must have advanced — i.e. a
    // production stream converges to the measured flat-probe regime
    // without operator intervention.
    val tmp = Files.createTempDirectory("graft_sd_cadence").toString
    val docs = Tables.documents(spark, sf)
    docs.repartition(5).write.parquet(s"$tmp/in")
    val schema = spark.read.parquet(s"$tmp/in").schema
    StreamingDedup.nearDedupStream(spark, s"$tmp/in", schema,
      s"$tmp/store", s"$tmp/pairs", s"$tmp/ck", compactEvery = 2).stop()
    val got = StreamingDedup.readPairs(spark, s"$tmp/pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = graft.queries.Similarity.uncappedMinhashPairsOf(docs, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(want.nonEmpty && got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    val bandStore = StreamingDedup.bandStoreOf(s"$tmp/store")
    assert(bandStore.watermark(spark) >= 3L,
      s"cadence must have compacted mid-stream, watermark=${bandStore.watermark(spark)}")
    assert(bandStore.landedBatchIds(spark).size < 2,
      s"append tier must stay bounded by the cadence: ${bandStore.landedBatchIds(spark)}")
    // the store still holds every band row (both tiers union)
    assert(bandStore.readAll(spark, Long.MaxValue).get.count() ==
      graft.queries.Similarity.bandedSignaturesOf(docs).count())
  }

  test("streaming near-dedup pair set is independent of the batch split AND the compaction cadence") {
    val oneShot = StreamingDedup.nearDedupFixtureRun(spark, sf, nFiles = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val manyBatches = StreamingDedup.nearDedupFixtureRun(spark, sf, nFiles = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(oneShot == manyBatches)
    // a different compaction cadence changes WHERE rows live
    // mid-stream (7 batches, compact every 3), never what pairs emit
    val cadenced = StreamingDedup.nearDedupFixtureRun(spark, sf, nFiles = 7,
      compactEvery = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(cadenced == oneShot)
  }

  test("streaming near-dedup commit is idempotent under micro-batch replay") {
    val tmp = Files.createTempDirectory("graft_sd_replay").toString
    val docs = Tables.documents(spark, sf)
    val b0 = docs.filter(col("doc_id") % 2 === 0)
    val b1 = docs.filter(col("doc_id") % 2 =!= 0)
    StreamingDedup.commitBatch(b0, 0L, s"$tmp/store", s"$tmp/pairs", 0.5)
    StreamingDedup.commitBatch(b1, 1L, s"$tmp/store", s"$tmp/pairs", 0.5)
    def pairRows = StreamingDedup.readPairs(spark, s"$tmp/pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    def storeCount = spark.read.parquet(s"$tmp/store").count()
    val before = pairRows.sorted
    val storeBefore = storeCount
    assert(before.nonEmpty)
    // at-least-once replay: foreachBatch re-delivers batch 1 (a crash
    // after the writes but before the checkpoint commit) — the commit
    // must leave both sinks unchanged, rows included (not just the set)
    StreamingDedup.commitBatch(b1, 1L, s"$tmp/store", s"$tmp/pairs", 0.5)
    assert(pairRows.sorted == before, "replayed batch must not change the pair rows")
    assert(storeCount == storeBefore, "replayed batch must not grow the store")
    // and the accumulated set still equals the one-shot batch path
    val want = graft.queries.Similarity.uncappedMinhashPairsOf(docs, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairRows.toSet == want)
  }

  test("foreachBatch sink with Trigger.AvailableNow drains all input then stops") {
    import org.apache.spark.sql.streaming.Trigger
    val outDir = Files.createTempDirectory("graft_feb_out").toString
    val ck = Files.createTempDirectory("graft_feb_ck").toString
    val stream = StreamOps.parquetStream(spark, eventsDir, batchEvents.schema,
      maxFilesPerTrigger = 10)
    val q = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ck)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batch.write.mode("append").parquet(s"$outDir/batch_$id")
      }
      .start()
    try {
      assert(q.awaitTermination(120000), "AvailableNow query did not finish in time")
      val landed = new java.io.File(outDir).listFiles().map(d =>
        spark.read.parquet(d.toString).count()).sum
      assert(landed == batchEvents.count(), "foreachBatch must land every input row")
    } finally q.stop()
  }

  test("stream-stream join matches the batch join over the same rows") {
    val agg = (df: DataFrame) => StreamOps.purchaseSignupJoin(df)
    // batch side: same join shape without watermarks
    val batch = {
      import org.apache.spark.sql.functions._
      val p = batchEvents.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
      val sg = batchEvents.filter(col("event_type") === "signup")
        .select(col("user_id").as("s_user"), col("ts").as("s_ts"))
      p.join(sg, col("user_id") === col("s_user") &&
        col("s_ts") <= col("p_ts") &&
        col("s_ts") >= col("p_ts") - expr("INTERVAL 24 hours"))
    }
    val stream = agg(StreamOps.parquetStream(
      spark, eventsDir, batchEvents.schema, maxFilesPerTrigger = 10))
    val q = stream.writeStream.format("memory").queryName("p_ssjoin")
      .outputMode("append").option("checkpointLocation", s"$ckBase/ssjoin").start()
    try {
      q.processAllAvailable()
      val got = spark.table("p_ssjoin")
      assert(got.count() == batch.count(), "stream-stream join row count differs")
      assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
      assert(batch.count() > 0, "fixture should produce purchase-signup pairs")
    } finally q.stop()
  }

  test("flatMapGroupsWithState maintains per-user running stats across micro-batches") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_state_in").toString
    val ck = Files.createTempDirectory("graft_state_ck").toString
    def write(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)]): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(dir)
    def ts(h: Int): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")

    write(Seq((1L, ts(1), 7L, "click", 10.0, "{}"), (2L, ts(2), 7L, "view", 20.0, "{}")))
    val stream = StreamOps.userRunningStats(
      StreamOps.parquetStream(spark, dir, batchEvents.schema, maxFilesPerTrigger = 10)
        .as[Schemas.Event])
    val q = stream.toDF().writeStream.format("memory").queryName("p_state")
      .outputMode("update").option("checkpointLocation", ck).start()
    try {
      q.processAllAvailable()
      val b1 = spark.table("p_state").as[Schemas.UserStats].collect()
        .filter(_.user_id == 7L).maxBy(_.n)
      assert(b1.n == 2 && math.abs(b1.mean - 15.0) < 1e-9 && b1.max == 20.0)
      // second micro-batch: state must carry over, not reset
      write(Seq((3L, ts(3), 7L, "click", 60.0, "{}")))
      q.processAllAvailable()
      val b2 = spark.table("p_state").as[Schemas.UserStats].collect()
        .filter(_.user_id == 7L).maxBy(_.n)
      assert(b2.n == 3 && math.abs(b2.mean - 30.0) < 1e-9 && b2.max == 60.0)
    } finally q.stop()
  }

  test("rate-micro-batch source: deterministic batches compose with transforms and checkpoints") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val ck = Files.createTempDirectory("graft_rate_ck").toString
    val out = Files.createTempDirectory("graft_rate_out").toString
    def runOneBatch(): Unit = {
      val q = spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", "100").option("numPartitions", "2")
        .option("startTimestamp", "0").option("advanceMillisPerBatch", "1000")
        .load()
        .select(col("value"), (col("value") % 10).as("bucket"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(Trigger.Once()).start()
      q.awaitTermination(60000)
      q.stop()
    }
    runOneBatch() // values 0-99
    runOneBatch() // checkpoint advances the offset: values 100-199
    val landed = spark.read.parquet(out)
    val vals = landed.select("value").as[Long].collect().sorted.toSeq
    assert(vals == (0L until 200L).toSeq,
      s"rate-micro-batch must produce deterministic consecutive ids, got ${vals.take(5)}...")
    val buckets = landed.groupBy("bucket").count()
      .as[(Long, Long)].collect().toMap
    assert(buckets.values.forall(_ == 20L))
  }

  test("checkpoint recovery: parquet sink resumes exactly-once after a restart") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_ck_in").toString
    val ck = Files.createTempDirectory("graft_ck_ck").toString
    val out = Files.createTempDirectory("graft_ck_out").toString
    def write(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)]): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(in)
    def ts(h: Int): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    def start() = StreamOps.parquetStream(spark, in, batchEvents.schema, maxFilesPerTrigger = 1)
      .select("event_id", "user_id", "value")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ck)
      .outputMode("append").start()

    write((1L to 3L).map(i => (i, ts(i.toInt), i, "click", i.toDouble, "{}")))
    write((4L to 6L).map(i => (i, ts(i.toInt), i, "click", i.toDouble, "{}")))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // new input lands while the query is DOWN; the restart must pick it
    // up from the source checkpoint without re-emitting files 1-2.
    write((7L to 9L).map(i => (i, ts(i.toInt), i, "click", i.toDouble, "{}")))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val ids = spark.read.parquet(out).select("event_id").as[Long].collect().sorted.toSeq
    assert(ids == (1L to 9L).toSeq,
      s"restart must be exactly-once (no loss, no duplicates), got $ids")
  }

  test("checkpoint recovery: windowed aggregation state survives a restart") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_ckagg_in").toString
    val ck = Files.createTempDirectory("graft_ckagg_ck").toString
    val out = Files.createTempDirectory("graft_ckagg_out").toString
    def write(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)]): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(in)
    def ts(h: Int, m: Int): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    def start() = TimeWindows.tumbleAgg(
        StreamOps.parquetStream(spark, in, batchEvents.schema, maxFilesPerTrigger = 1)
          .withWatermark("ts", "1 hour"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"), col("sum_value"))
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ck)
      .outputMode("append").start()

    // Before the restart: two open windows, nothing emitted yet (append
    // mode holds windows until the watermark closes them).
    write(Seq((1L, ts(1, 10), 1L, "click", 1.0, "{}"),
      (2L, ts(1, 20), 1L, "click", 2.0, "{}"),
      (3L, ts(2, 10), 1L, "click", 4.0, "{}")))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(out).isEmpty, "windows must still be open pre-restart")
    // After the restart: one late-hour event advances the watermark past
    // both windows. Their counts include the PRE-restart rows — only
    // possible if the aggregation state was recovered from the
    // checkpoint (the source log marks file 1 done; it is not replayed).
    write(Seq((4L, ts(5, 0), 1L, "click", 8.0, "{}")))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(out)
      .select(date_format(col("w_start"), "HH:mm").as("w"), col("n"), col("sum_value"))
      .as[(String, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq(("01:00", 2L, 3.0), ("02:00", 1L, 4.0)),
      s"aggregation state must survive the restart, got $got")
  }

  test("EventTimeTimeout retires idle users and restarts their stats from zero") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_exp_in").toString
    val ck = Files.createTempDirectory("graft_exp_ck").toString
    def write(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)]): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(dir)
    def ts(h: Int, m: Int = 0): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")

    write(Seq((1L, ts(1), 7L, "click", 10.0, "{}"), (2L, ts(2), 7L, "view", 20.0, "{}")))
    val stream = StreamOps.userRunningStatsExpiring(
      StreamOps.parquetStream(spark, dir, batchEvents.schema, maxFilesPerTrigger = 10)
        .as[Schemas.Event])
    val q = stream.toDF().writeStream.format("memory").queryName("p_expire")
      .outputMode("update").option("checkpointLocation", ck).start()
    try {
      q.processAllAvailable() // u7: n=2, deadline = 02:00 + 2h = 04:00
      // batch 2 advances the watermark (post-batch) to 08:00 - 1h = 07:00
      write(Seq((3L, ts(8), 9L, "click", 1.0, "{}")))
      q.processAllAvailable()
      // batch 3: u7 has no data and 07:00 > 04:00 → timeout fires
      write(Seq((4L, ts(8, 10), 9L, "click", 2.0, "{}")))
      q.processAllAvailable()
      val afterExpiry = spark.table("p_expire").as[Schemas.UserStats].collect()
        .filter(_.user_id == 7L).map(_.n).toSet
      assert(afterExpiry == Set(2L, 0L),
        s"expected running stats then a tombstone for u7, got $afterExpiry")
      // u7 returns: state must have been REMOVED, so stats restart at 1
      write(Seq((5L, ts(8, 30), 7L, "click", 5.0, "{}")))
      q.processAllAvailable()
      val back = spark.table("p_expire").as[Schemas.UserStats].collect()
        .filter(r => r.user_id == 7L).map(_.n).toSet
      assert(back == Set(2L, 0L, 1L),
        s"returning user must restart from zero, got $back")
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join null-pads only once the watermark closes the window") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_louter_in").toString
    val ck = Files.createTempDirectory("graft_louter_ck").toString
    def write(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)]): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(dir)
    def ts(h: Int): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")

    // u1: signup then purchase (match); u2: purchase with NO signup
    write(Seq(
      (1L, ts(1), 1L, "signup", 0.0, "{}"),
      (2L, ts(2), 1L, "purchase", 10.0, "{}"),
      (3L, ts(2), 2L, "purchase", 20.0, "{}")))
    val stream = StreamOps.purchaseSignupLeftJoin(
      StreamOps.parquetStream(spark, dir, batchEvents.schema, maxFilesPerTrigger = 10))
    val q = stream.writeStream.format("memory").queryName("p_louter")
      .outputMode("append").option("checkpointLocation", ck).start()
    try {
      q.processAllAvailable()
      // matched row flows; the unmatched one is WITHHELD — the watermark
      // cannot yet rule out a matching signup arriving
      val early = spark.table("p_louter").select("p_id").as[Long].collect().toSet
      assert(early == Set(2L), s"unmatched purchase must be withheld, got $early")
      // Advance the watermark far past the purchase + horizon. NOTE: the
      // event_type filters are pushed BELOW the watermark operators, so
      // each side's watermark advances only on its OWN event type —
      // clicks would not move it (observed: 6 click-only batches evicted
      // nothing). Feed late signup+purchase rows for fresh users; their
      // own rows stay withheld (no eviction that far out), so they don't
      // pollute the asserted output. Eviction lands in a batch after the
      // watermark update, hence two rounds.
      for (i <- 0 until 2) {
        write(Seq(
          (10L + i, java.sql.Timestamp.valueOf(s"2024-01-03 0${7 + i}:00:00"),
            8L, "signup", 0.0, "{}"),
          (20L + i, java.sql.Timestamp.valueOf(s"2024-01-03 0${7 + i}:30:00"),
            9L, "purchase", 0.0, "{}")))
        q.processAllAvailable()
      }
      val rows = spark.table("p_louter")
        .select(col("p_id"), col("s_ts").isNull.as("unmatched"))
        .as[(Long, Boolean)].collect().toMap
      assert(rows == Map(2L -> false, 3L -> true),
        s"expected u2's purchase null-padded after watermark close, got $rows")
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedups in-horizon and drops late rows") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_dedup_in").toString
    val ck = Files.createTempDirectory("graft_dedup_ck").toString
    def write(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)]): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(dir)
    def ts(h: Int): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")

    // batch 1: two distinct events + one in-horizon duplicate of id 1
    write(Seq(
      (1L, ts(10), 1L, "click", 1.0, "{}"),
      (1L, ts(10), 1L, "click", 1.0, "{}"),
      (2L, ts(12), 1L, "view", 2.0, "{}")))
    val stream = StreamOps.dedupWithinWatermark(
      StreamOps.parquetStream(spark, dir, batchEvents.schema, maxFilesPerTrigger = 10),
      watermark = "1 hour")
    val q = stream.writeStream.format("memory").queryName("p_dedup")
      .outputMode("append").option("checkpointLocation", ck).start()
    try {
      q.processAllAvailable()
      // watermark is now 12:00 - 1h = 11:00
      // batch 2: id 3 fresh (ok), id 1 again at 10:00 — older than the
      // watermark → dropped as late, NOT re-emitted or deduped state hit
      write(Seq(
        (3L, ts(12), 2L, "click", 3.0, "{}"),
        (1L, ts(10), 1L, "click", 1.0, "{}")))
      q.processAllAvailable()
      val ids = spark.table("p_dedup").select("event_id").as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L), s"expected late+dup rows dropped, got $ids")
    } finally q.stop()
  }
}
