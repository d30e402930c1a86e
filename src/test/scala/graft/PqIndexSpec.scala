package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Similarity
import graft.sources.PqIndex

/** Product-quantization index (sources/PqIndex.scala): codebook/code
  * layout, the 64× compression claim, ADC recall vs brute force,
  * planted-duplicate retrieval, and the train-once cache contract.
  */
class PqIndexSpec extends AnyFunSuite with SharedSpark {

  private val probeIds = Seq(0L, 1L, 2L)

  private lazy val indexPath = {
    val dir = Files.createTempDirectory("graft_pq").toString
    PqIndex.build(Tables.embeddings(spark, sf), dir)
    dir
  }

  test("index layout: one 4-bit code per subspace per vector, M*K codebook rows") {
    val codes = spark.read.parquet(s"$indexPath/codes")
    assert(codes.count() == Tables.embeddings(spark, sf).count())
    val bad = codes.select(explode(col("codes")).as("c"))
      .filter(col("c") < 0 || col("c") >= PqIndex.Codebook).count()
    assert(bad == 0, "every code must index into its codebook")
    assert(codes.select(size(col("codes"))).distinct().collect()
      .map(_.getInt(0)).toSeq == Seq(PqIndex.Subspaces))
    assert(spark.read.parquet(s"$indexPath/books").count() ==
      PqIndex.Subspaces.toLong * PqIndex.Codebook)
  }

  test("ADC search overlaps brute-force top-k and finds planted duplicates") {
    val corpus = Similarity.corpusOf(Tables.embeddings(spark, sf))
    val probes = corpus.filter(col("vec_id").isin(probeIds: _*))
      .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"))
    val pq = PqIndex.search(spark, indexPath, probes, corpus, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val bf = Similarity.bruteForceTopK(spark, sf, probeIds, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val overlap = pq.intersect(bf).size.toDouble / bf.size
    assert(overlap >= 0.6, s"PQ recall@5 vs brute force = $overlap")
  }

  test("a planted exact duplicate is its probe's top hit through the code path") {
    val base = Similarity.corpusOf(Tables.embeddings(spark, sf))
      .select(col("vec_id"), col("embedding"))
    val planted = base.union(
      base.filter(col("vec_id").isin(0L, 1L))
        .select(col("vec_id") + 100000L, col("embedding")))
      .toDF("vec_id", "embedding")
    val dir = Files.createTempDirectory("graft_pq_planted").toString
    PqIndex.build(planted, dir)
    val corpus = Similarity.corpusOf(planted)
    val p = corpus.filter(col("vec_id") >= 100000L)
      .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"))
    val top = PqIndex.search(spark, dir, p, corpus, 1).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(top.toSet == Set((100000L, 0L, 1.0), (100001L, 1L, 1.0)),
      s"identical vectors share codes, ADC distance 0 → top hit: ${top.mkString(",")}")
  }

  test("adaptive re-rank depth matches an explicitly deep re-rank on a skewed corpus") {
    // heavy-tailed cluster sizes (one cluster ~ half the corpus): the
    // probed candidate stream is much larger than n·nprobe/lists, which
    // is exactly where a fixed-depth window under-ranks (the measured
    // 0.87-recall defect at the heavy 100× tier, SCALING.md round 9).
    // The default (adaptive, candidates/8) search must return what an
    // explicitly exhaustive re-rank returns, and planted duplicates
    // must surface through the code path.
    val heavy = ScaleSlope.genEmbeddingsHeavy(spark, 4000).select("vec_id", "embedding")
    val planted = heavy.union(
      heavy.filter(col("vec_id").isin(0L, 1L))
        .select(col("vec_id") + 100000L, col("embedding")))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_skew").toString
    PqIndex.build(planted, dir)
    val corpus = graft.queries.Similarity.corpusOf(planted)
    val p = corpus.filter(col("vec_id") >= 100000L)
      .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"))
    def hits(rerank: Int) = PqIndex.search(spark, dir, p, corpus, 5, rerank)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(hits(rerank = -1) == hits(rerank = 4002),
      "adaptive depth must not lose candidates an exhaustive re-rank keeps")
    val top = PqIndex.search(spark, dir, p, corpus, 1).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(top.toSet == Set((100000L, 0L, 1.0), (100001L, 1L, 1.0)),
      s"planted duplicates must be each probe's top hit: ${top.mkString(",")}")
  }

  test("q_sim_pq persisted surface works and the second probe reuses the index") {
    val cache = new java.io.File(PqIndex.cachePathFor(sf))
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    if (cache.exists()) rm(cache)
    val first = PqIndex.topKPersisted(spark, sf, probeIds, 5).collect()
    assert(first.length == probeIds.size * 5)
    def mtimes = new java.io.File(s"${cache.getPath}/codes").listFiles()
      .map(f => f.getName -> f.lastModified()).toMap
    val before = mtimes
    val again = PqIndex.topKPersisted(spark, sf, probeIds, 5).collect()
    assert(again.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq ==
      first.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq)
    assert(mtimes == before, "second probe must reuse the persisted index")
  }

  // ——— incremental maintenance (append / drift / retrain) ———

  private def clustered(n: Long) =
    ScaleSlope.genEmbeddings(spark, n).select("vec_id", "embedding")

  test("appended exact duplicates surface through the delta code scan") {
    val dir = Files.createTempDirectory("graft_pq_app").toString
    val base = clustered(2000)
    PqIndex.build(base, dir)
    val dup = base.filter(col("vec_id") < 2)
      .withColumn("vec_id", col("vec_id") + 100000L)
    val stats = PqIndex.append(spark, dir, dup, batchId = 0L)
    assert(stats.appended == 2)
    assert(!stats.retrainAdvised,
      s"duplicates of in-distribution vectors must not trip drift: $stats")
    // probe with the ORIGINALS: the only cosine-1.0 hit for each lives in
    // codes_delta, so a top hit of probe+100000 proves the delta rows flow
    // through routing, ADC, and re-rank exactly like base rows
    val corpus = Similarity.corpusOf(base.union(dup).toDF("vec_id", "embedding"))
    val probes = corpus.filter(col("vec_id") < 2)
      .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"))
    val top = PqIndex.search(spark, dir, probes, corpus, 1).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(top.toSet == Set((0L, 100000L, 1.0), (1L, 100001L, 1.0)),
      s"each probe's top hit must be its appended duplicate: ${top.mkString(",")}")
  }

  test("replaying an appended batch is a no-op (batch_id dynamic overwrite)") {
    val dir = Files.createTempDirectory("graft_pq_replay").toString
    val base = clustered(1000)
    PqIndex.build(base, dir)
    val batch = clustered(1200).filter(col("vec_id") >= 1000)
    PqIndex.append(spark, dir, batch, batchId = 7L)
    val corpus = Similarity.corpusOf(
      base.union(batch).toDF("vec_id", "embedding"))
    val probes = corpus.filter(col("vec_id") < 3)
      .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"))
    val before = PqIndex.search(spark, dir, probes, corpus, 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    PqIndex.append(spark, dir, batch, batchId = 7L) // at-least-once replay
    assert(spark.read.parquet(s"$dir/codes_delta").count() == 200,
      "replay must rewrite the same partitions, not add rows")
    val after = PqIndex.search(spark, dir, probes, corpus, 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(after == before, "replay must not change search results")
    // the replay is a TRUE no-op (round 11, the IvfIndex contract):
    // the committed batch is recognized and codes_delta files stay
    // byte-identical, not merely content-equivalent
    def deltaState() = java.nio.file.Files
      .walk(java.nio.file.Paths.get(s"$dir/codes_delta"))
      .filter(p => p.toString.endsWith(".parquet"))
      .toArray.map(_.toString).sorted.toSeq
      .map(p => (p, java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(p)).toMillis))
    val filesBefore = deltaState()
    val st = PqIndex.append(spark, dir, batch, batchId = 7L)
    assert(st.appended == 200 && !st.retrainAdvised)
    assert(deltaState() == filesBefore,
      "a recognized replay must not rewrite codes_delta files")
  }

  test("a REUSED batch_id carrying different content is not mistaken for a replay (round 12)") {
    val dir = Files.createTempDirectory("graft_pq_reuse").toString
    val base = clustered(1000)
    PqIndex.build(base, dir)
    val batchA = clustered(1200).filter(col("vec_id") >= 1000)
    PqIndex.append(spark, dir, batchA, batchId = 7L)
    // same batch_id + same row count, different ids (same embeddings ⇒
    // identical routing, so the touched partitions fully overwrite) —
    // must take the encode+overwrite path, not the replay fast-path
    val batchB = batchA.withColumn("vec_id", col("vec_id") + 10000L)
    val st = PqIndex.append(spark, dir, batchB, batchId = 7L)
    assert(st.appended == 200)
    val deltaIds = spark.read.parquet(s"$dir/codes_delta")
      .filter(col("batch_id") === 7L)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(deltaIds == (11000L until 11200L).toSet,
      s"reused batch_id must overwrite, not no-op: ${deltaIds.toSeq.sorted.take(5)}...")
    // payload-blind case (round-12 review): same ids, changed vectors —
    // the codes store is lossy so only the batch-side content hash can
    // see the difference; a recognized replay reports residual 0.0
    val batchC = batchB.withColumn("embedding",
      transform(col("embedding"), x => x * 2.0))
    val st2 = PqIndex.append(spark, dir, batchC, batchId = 7L)
    assert(st2.appended == 200 && st2.meanResidual > 0.0,
      "same ids + changed vectors must not be recognized as a replay")
  }

  test("an empty append batch is a no-op with sane drift stats") {
    val dir = Files.createTempDirectory("graft_pq_empty").toString
    val base = clustered(500)
    PqIndex.build(base, dir)
    val stats = PqIndex.append(spark, dir, base.filter(col("vec_id") < 0), 0L)
    assert(stats.appended == 0 && stats.meanResidual == 0.0 && !stats.retrainAdvised)
  }

  test("out-of-distribution batch trips drift; retrain absorbs it and clears delta") {
    val dir = Files.createTempDirectory("graft_pq_drift").toString
    val base = clustered(1000)
    PqIndex.build(base, dir)
    // far from every trained coarse centroid: +10 on every dimension
    val far = clustered(1100).filter(col("vec_id") >= 1000)
      .withColumn("embedding", transform(col("embedding"), x => x + lit(10.0f)))
    val stats = PqIndex.append(spark, dir, far, batchId = 0L)
    assert(stats.retrainAdvised,
      s"mean residual ${stats.meanResidual} vs train ${stats.trainResidual} must advise retrain")
    // PQ codes are lossy, so the caller supplies the grown float corpus
    val grown = base.union(far).toDF("vec_id", "embedding")
    PqIndex.retrain(spark, dir, grown)
    assert(!new java.io.File(s"$dir/codes_delta").exists(),
      "retrain must clear the delta")
    assert(spark.read.parquet(s"$dir/codes").count() == 1100,
      "retrained base must encode base + appended vectors")
    val near = clustered(1200).filter(col("vec_id") >= 1100)
    val stats2 = PqIndex.append(spark, dir, near, batchId = 1L)
    assert(!stats2.retrainAdvised, s"in-distribution append after retrain: $stats2")
  }

  test("append composes with Structured Streaming foreachBatch (the q_corpus_inc shape)") {
    // the real micro-batch wiring: base codebooks trained once, then a
    // file stream of new vectors drains through foreachBatch ->
    // PqIndex.append — same composition as the IvfIndex/IncrementalCorpus
    // streaming tests
    val dir = Files.createTempDirectory("graft_pq_stream").toString
    val base = clustered(1500)
    PqIndex.build(base, dir)
    val arriving = clustered(2100).filter(col("vec_id") >= 1500)
    val tmp = Files.createTempDirectory("graft_pq_feed")
    arriving.repartition(3).write.parquet(s"$tmp/in")
    val schema = spark.read.parquet(s"$tmp/in").schema
    val q = graft.streaming.StreamOps.parquetStream(spark, s"$tmp/in", schema)
      .writeStream
      .option("checkpointLocation", s"$tmp/ck")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        PqIndex.append(spark, dir, batch, batchId)
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    val held = spark.read.parquet(s"$dir/codes").count() +
      spark.read.parquet(s"$dir/codes_delta").count()
    assert(held == 2100, "every streamed vector must be encoded exactly once")
    // streamed vectors are searchable through the same ADC probe path
    val corpus = Similarity.corpusOf(
      base.union(arriving).toDF("vec_id", "embedding"))
    val probes = corpus.filter(col("vec_id").isin(1500L, 1501L))
      .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"))
    val hits = PqIndex.search(spark, dir, probes, corpus, 3).collect()
    assert(hits.length == 6 && hits.forall(r => !r.getDouble(3).isNaN))
  }

  test("ensureBuilt refreshes a pre-append cache layout (missing meta/)") {
    PqIndex.topKPersisted(spark, sf, probeIds, 5).collect()
    val meta = new java.io.File(s"${PqIndex.cachePathFor(sf)}/meta")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    rm(meta) // simulate a cache built before the drift baseline existed
    PqIndex.topKPersisted(spark, sf, probeIds, 5).collect()
    assert(meta.exists(),
      "a cache without a drift baseline must rebuild, not fail later in append")
  }
}
