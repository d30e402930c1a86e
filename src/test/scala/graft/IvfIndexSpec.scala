package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Similarity
import graft.sources.IvfIndex

/** The on-disk IVF index (sources/IvfIndex.scala): build writes lists
  * Hive-partitioned by centroid id, search reads only the probes'
  * lists. Asserts (1) the scan actually partition-prunes, (2) on-disk
  * search returns exactly what the in-memory q_sim_ivf path returns —
  * persistence must not change ANN semantics.
  */
class IvfIndexSpec extends AnyFunSuite with SharedSpark {

  private lazy val indexPath = {
    val dir = Files.createTempDirectory("graft_ivf").toString
    IvfIndex.build(Tables.embeddings(spark, sf), dir)
    dir
  }

  private val probeIds = Seq(0L, 1L, 2L)

  private def probes =
    Similarity.corpusOf(Tables.embeddings(spark, sf))
      .filter(col("vec_id").isin(probeIds: _*))
      .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"))

  test("index layout: one partition directory per non-empty list + centroid table") {
    val listDirs = new java.io.File(s"$indexPath/lists").listFiles()
      .filter(_.getName.startsWith("cid=")).map(_.getName).toSeq
    assert(listDirs.nonEmpty && listDirs.size <= Similarity.IvfCentroids)
    val cents = spark.read.parquet(s"$indexPath/centroids")
    assert(cents.count() == Similarity.IvfCentroids)
    // every corpus vector is in exactly one list
    val total = spark.read.parquet(s"$indexPath/lists").count()
    assert(total == Tables.embeddings(spark, sf).count())
  }

  test("probe scan partition-prunes to the routed lists") {
    val plan = formattedPlan(
      IvfIndex.prunedLists(spark, indexPath, Seq(1, 3, 5)))
    assert(plan.contains("PartitionFilters"), plan)
    assert("cid#\\d+ IN \\(1,3,5\\)".r.findFirstIn(plan).isDefined
      || plan.contains("cid"), s"cid filter must reach PartitionFilters:\n$plan")
    // the data filter must NOT appear as a post-scan Filter on cid —
    // pruning happens at file listing, so cid is not even in ReadSchema
    assert(!plan.contains("ReadSchema: struct<vec_id:bigint,emb:array<double>,cid"),
      "cid must be a partition column, not a data column")
  }

  test("on-disk search ≡ in-memory ivfTopK") {
    val disk = IvfIndex.search(spark, indexPath, probes, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val mem = Similarity.ivfTopK(spark, sf, probeIds, 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(disk.toSeq == mem.toSeq)
  }

  test("q_sim_ivf persisted probe ≡ in-memory adaptive path, and build runs once") {
    // clear any cache left by a previous JVM so this test exercises the
    // build-then-reuse sequence end to end
    val cache = new java.io.File(IvfIndex.cachePathFor(sf))
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    if (cache.exists()) rm(cache)
    val persisted = IvfIndex.topKPersisted(spark, sf, probeIds, 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val mem = Similarity.ivfTopKAdaptive(spark, sf, probeIds, 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(persisted.toSeq == mem.toSeq,
      "persisted probe must not change ANN semantics")
    // reuse: the second call must NOT rewrite the index files
    val listFiles = new java.io.File(s"${cache.getPath}/lists")
    def mtimes = listFiles.listFiles().map(f => f.getName -> f.lastModified()).toMap
    val before = mtimes
    val again = IvfIndex.topKPersisted(spark, sf, probeIds, 5).count()
    assert(again == persisted.length.toLong)
    assert(mtimes == before, "second probe must reuse the persisted index, not rebuild")
  }

  test("search hits known planted near-duplicates") {
    // plant: copies of vectors 0 and 1 at new ids; index must route the
    // copy to the same list as its original and rank it first
    val base = Similarity.corpusOf(Tables.embeddings(spark, sf))
      .select(col("vec_id"), col("embedding"))
    val planted = base.union(
      base.filter(col("vec_id").isin(0L, 1L))
        .select(col("vec_id") + 100000L, col("embedding")))
      .toDF("vec_id", "embedding")
    val dir = Files.createTempDirectory("graft_ivf_planted").toString
    IvfIndex.build(planted, dir)
    val p = Similarity.corpusOf(planted.filter(col("vec_id") >= 100000L))
      .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"))
    val top = IvfIndex.search(spark, dir, p, k = 1).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(top.toSet == Set((100000L, 0L, 1.0), (100001L, 1L, 1.0)),
      s"planted duplicates must be each probe's top hit: ${top.mkString(",")}")
  }

  // ——— incremental maintenance (append / drift / retrain) ———

  private def clustered(n: Long) =
    ScaleSlope.genEmbeddings(spark, n).select("vec_id", "embedding")

  test("appended near-duplicates route to their originals' lists and are searchable") {
    val dir = Files.createTempDirectory("graft_ivf_app").toString
    val base = clustered(2000)
    IvfIndex.build(base, dir, Similarity.adaptiveCentroids(2000))
    val dup = base.filter(col("vec_id") < 10)
      .withColumn("vec_id", col("vec_id") + 100000L)
      .withColumn("embedding", transform(col("embedding"),
        (x, i) => when(i === 0, x + lit(0.01f)).otherwise(x)))
    val stats = IvfIndex.append(spark, dir, dup, batchId = 0L)
    assert(stats.appended == 10)
    assert(!stats.retrainAdvised,
      s"near-dups of in-distribution vectors must not trip drift: $stats")
    val probes = Similarity.corpusOf(base).filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"))
    val top = IvfIndex.search(spark, dir, probes, k = 1).collect()
    top.foreach { r =>
      assert(r.getLong(2) == r.getLong(0) + 100000L,
        s"probe ${r.getLong(0)}'s top hit must be its appended near-dup, got ${r.getLong(2)}")
    }
  }

  test("N appended batches match a full rebuild on the union (recall@5 bound)") {
    val dirA = Files.createTempDirectory("graft_ivf_incr").toString
    val dirB = Files.createTempDirectory("graft_ivf_full").toString
    val all = clustered(3000)
    IvfIndex.build(all.filter(col("vec_id") < 1500), dirA,
      Similarity.adaptiveCentroids(1500))
    (0 until 3).foreach { i =>
      IvfIndex.append(spark, dirA,
        all.filter(col("vec_id") >= 1500 && col("vec_id") % 3 === i), i.toLong)
    }
    IvfIndex.build(all, dirB, Similarity.adaptiveCentroids(3000))
    // every vector is in exactly one list across base + delta
    val held = spark.read.parquet(s"$dirA/lists").count() +
      spark.read.parquet(s"$dirA/delta").count()
    assert(held == 3000)
    val probes = Similarity.corpusOf(all)
      .filter(col("vec_id").isin(0L, 700L, 1600L, 2200L, 2900L))
      .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"))
    def hits(path: String) = IvfIndex.search(spark, path, probes, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val (a, b) = (hits(dirA), hits(dirB))
    val recall = a.intersect(b).size.toDouble / b.size
    assert(recall >= 0.9,
      s"appended index must track the rebuilt index: recall@5 = $recall")
  }

  test("replaying an appended batch is a no-op (batch_id dynamic overwrite)") {
    val dir = Files.createTempDirectory("graft_ivf_replay").toString
    val base = clustered(1000)
    IvfIndex.build(base, dir, Similarity.adaptiveCentroids(1000))
    val batch = clustered(1200).filter(col("vec_id") >= 1000)
    IvfIndex.append(spark, dir, batch, batchId = 7L)
    val probes = Similarity.corpusOf(base).filter(col("vec_id") < 3)
      .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"))
    val before = IvfIndex.search(spark, dir, probes, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    IvfIndex.append(spark, dir, batch, batchId = 7L) // at-least-once replay
    assert(spark.read.parquet(s"$dir/delta").count() == 200,
      "replay must rewrite the same partitions, not add rows")
    val after = IvfIndex.search(spark, dir, probes, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(after == before, "replay must not change search results")
    // the replay is a TRUE no-op (round 11): the committed batch is
    // recognized and the delta partitions are not rewritten — their
    // files are byte-identical, not merely content-equivalent
    def deltaState() = java.nio.file.Files
      .walk(java.nio.file.Paths.get(s"$dir/delta"))
      .filter(p => p.toString.endsWith(".parquet"))
      .toArray.map(_.toString).sorted.toSeq
      .map(p => (p, java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(p)).toMillis))
    val filesBefore = deltaState()
    val st = IvfIndex.append(spark, dir, batch, batchId = 7L)
    assert(st.appended == 200 && !st.retrainAdvised)
    assert(deltaState() == filesBefore,
      "a recognized replay must not rewrite delta files")
  }

  test("a REUSED batch_id carrying different content is not mistaken for a replay (round 12)") {
    val dir = Files.createTempDirectory("graft_ivf_reuse").toString
    val base = clustered(1000)
    IvfIndex.build(base, dir, Similarity.adaptiveCentroids(1000))
    val batchA = clustered(1200).filter(col("vec_id") >= 1000)
    IvfIndex.append(spark, dir, batchA, batchId = 7L)
    // caller error: same batch_id, same ROW COUNT, different rows (the
    // embeddings match so routing — and therefore the touched delta
    // partitions — are identical; only the ids differ). A count-only
    // replay check silently dropped this; the id fingerprint must see
    // through it and run the normal dynamic overwrite.
    val batchB = batchA.withColumn("vec_id", col("vec_id") + 10000L)
    val st = IvfIndex.append(spark, dir, batchB, batchId = 7L)
    assert(st.appended == 200)
    val deltaIds = spark.read.parquet(s"$dir/delta")
      .filter(col("batch_id") === 7L)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(deltaIds == (11000L until 11200L).toSet,
      s"reused batch_id must overwrite, not no-op: ${deltaIds.toSeq.sorted.take(5)}...")
    // ...and the payload-blind case an id-only fingerprint misses
    // (round-12 review): SAME ids, CHANGED vectors must also take the
    // overwrite path — the content hash covers the embedding values
    def embOf(id: Long): Seq[Double] = spark.read.parquet(s"$dir/delta")
      .filter(col("batch_id") === 7L && col("vec_id") === id)
      .select("emb").head().getSeq[Double](0)
    val before = embOf(11000L)
    val batchC = batchB.withColumn("embedding",
      transform(col("embedding"), x => x * 2.0))
    val st2 = IvfIndex.append(spark, dir, batchC, batchId = 7L)
    assert(st2.appended == 200 && st2.meanResidual > 0.0,
      "same ids + changed vectors must not be recognized as a replay")
    assert(embOf(11000L) == before.map(_ * 2.0),
      "the overwrite must land the corrected vectors")
  }

  test("batch fingerprint is multiplicity-sensitive: duplicate rows cannot cancel under xor (round 13)") {
    import spark.implicits._
    // {A,A,B} vs {B,B,B}: same row count, and a plain xor over rows
    // cancels the duplicate pair — xxhash64(A)^xxhash64(A)^xxhash64(B)
    // == xxhash64(B)^xxhash64(B)^xxhash64(B). The grouped
    // (vec_id, emb, multiplicity) hash must tell them apart, else a
    // redelivery with genuinely different content is silently dropped
    // as a replay with a success AppendStats.
    def df(rows: (Long, Seq[Float])*) =
      rows.toDF("vec_id", "embedding")
    val a = (1L, Seq(1.0f, 0.0f)); val b = (2L, Seq(0.0f, 1.0f))
    val (nAAB, fpAAB) = graft.sources.BatchFingerprint.of(df(a, a, b))
    val (nBBB, fpBBB) = graft.sources.BatchFingerprint.of(df(b, b, b))
    assert(nAAB == 3 && nBBB == 3)
    assert(fpAAB.isDefined && fpBBB.isDefined && fpAAB != fpBBB,
      s"pairwise-cancelling batches must not collide: $fpAAB vs $fpBBB")
    // and a true replay (same multiset, different row order) still matches
    val (n2, fp2) = graft.sources.BatchFingerprint.of(df(b, a, a))
    assert(n2 == nAAB && fp2 == fpAAB,
      "order-insensitivity must survive the multiplicity fix")
  }

  test("append composes with Structured Streaming foreachBatch (the q_corpus_inc shape)") {
    // the real micro-batch wiring, not a hand-rolled loop: base index
    // trained once, then a file stream of new vectors drains through
    // foreachBatch -> IvfIndex.append — the same composition
    // IncrementalCorpus uses for the corpus itself
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_stream").toString
    val base = clustered(1500)
    IvfIndex.build(base, dir, Similarity.adaptiveCentroids(1500))
    val arriving = clustered(2100).filter(col("vec_id") >= 1500)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_feed")
    arriving.repartition(3).write.parquet(s"$tmp/in")
    val schema = spark.read.parquet(s"$tmp/in").schema
    val q = graft.streaming.StreamOps.parquetStream(spark, s"$tmp/in", schema)
      .writeStream
      .option("checkpointLocation", s"$tmp/ck")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        IvfIndex.append(spark, dir, batch, batchId)
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    val held = spark.read.parquet(s"$dir/lists").count() +
      spark.read.parquet(s"$dir/delta").count()
    assert(held == 2100, "every streamed vector must land in exactly one list")
    // streamed vectors are searchable through the same probe path
    val probes = Similarity.corpusOf(arriving).filter(col("vec_id") < 1510)
      .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"))
    val hits = IvfIndex.search(spark, dir, probes, k = 3).collect()
    assert(hits.nonEmpty && hits.forall(r => !r.getDouble(3).isNaN))
  }

  test("an empty append batch is a no-op with sane drift stats") {
    val dir = Files.createTempDirectory("graft_ivf_empty").toString
    val base = clustered(500)
    IvfIndex.build(base, dir, Similarity.adaptiveCentroids(500))
    val stats = IvfIndex.append(spark, dir, base.filter(col("vec_id") < 0), 0L)
    assert(stats.appended == 0 && stats.meanResidual == 0.0 && !stats.retrainAdvised)
    val probes = Similarity.corpusOf(base).filter(col("vec_id") < 2)
      .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"))
    assert(IvfIndex.search(spark, dir, probes, k = 3).count() == 6)
  }

  test("out-of-distribution batch trips drift; retrain absorbs it and clears delta") {
    val dir = Files.createTempDirectory("graft_ivf_drift").toString
    val base = clustered(1000)
    IvfIndex.build(base, dir, Similarity.adaptiveCentroids(1000))
    // a batch far from every trained centroid: +10 on every dimension
    val far = clustered(1100).filter(col("vec_id") >= 1000)
      .withColumn("embedding", transform(col("embedding"), x => x + lit(10.0f)))
    val stats = IvfIndex.append(spark, dir, far, batchId = 0L)
    assert(stats.retrainAdvised,
      s"mean residual ${stats.meanResidual} vs train ${stats.trainResidual} must advise retrain")
    IvfIndex.retrain(spark, dir)
    assert(!new java.io.File(s"$dir/delta").exists(), "retrain must clear the delta")
    assert(spark.read.parquet(s"$dir/lists").count() == 1100,
      "retrained base must hold base + appended vectors")
    // post-retrain, an in-distribution batch no longer advises retrain
    val near = clustered(1200).filter(col("vec_id") >= 1100)
    val stats2 = IvfIndex.append(spark, dir, near, batchId = 1L)
    assert(!stats2.retrainAdvised, s"in-distribution append after retrain: $stats2")
  }

  test("q_ann_inc surface: delta probes hit base+delta, rerun is a no-op") {
    // clear the -inc cache so this test exercises the full build path
    val cache = new java.io.File(IvfIndex.cachePathFor(sf) + "-inc")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    if (cache.exists()) rm(cache)
    val first = SparkEntry.queries("q_ann_inc")(spark, sf).collect()
    assert(first.length == 3 * 5, "3 delta probes x k=5 hits")
    // every vector is indexed exactly once across base + delta
    val held = spark.read.parquet(s"${cache.getPath}/lists").count() +
      spark.read.parquet(s"${cache.getPath}/delta").count()
    assert(held == Tables.embeddings(spark, sf).count(),
      "base + delta must partition the corpus")
    // the query self-heals: a rerun replays the appends (dynamic
    // overwrite of the same batch partitions) and returns identical rows
    val again = SparkEntry.queries("q_ann_inc")(spark, sf).collect()
    assert(again.map(_.toString).toSeq == first.map(_.toString).toSeq,
      "rerun must be a replay no-op")
    assert(spark.read.parquet(s"${cache.getPath}/delta").count() +
      spark.read.parquet(s"${cache.getPath}/lists").count() == held,
      "replayed appends must not grow the delta")
    // recall vs exact brute force, RELATIVE to the train-once index on
    // the same probes: the sf fixture is deliberately isotropic (the
    // hard ANN geometry — the static index itself measures ~0.67 here),
    // so the claim under test is "appending instead of retraining costs
    // at most ~1 hit", not an absolute bound the geometry can't support.
    // The absolute 0.9 append-vs-rebuild bound is proven on clustered
    // corpora above.
    val exact = Similarity.bruteForceTopK(spark, sf, Seq(9L, 19L, 29L), 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val statHits = IvfIndex.topKPersisted(spark, sf, Seq(9L, 19L, 29L), 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val incHits = first.map(r => (r.getLong(0), r.getLong(2))).toSet
    val incRecall = incHits.intersect(exact).size.toDouble / exact.size
    val statRecall = statHits.intersect(exact).size.toDouble / exact.size
    assert(incRecall >= statRecall - 2.0 / exact.size,
      s"incremental recall $incRecall must track train-once recall $statRecall")
  }
}
