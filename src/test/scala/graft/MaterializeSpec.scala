package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import graft.ml.StarComponents
import graft.queries.Graph
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The storage-level knob only moves WHERE materialized rows live —
  * results must be byte-identical at any level, and the default path
  * must stay the plain eager localCheckpoint the bench has always
  * timed.
  */
class MaterializeSpec extends AnyFunSuite with SharedSpark {

  test("frame() results identical across storage levels; knob round-trips") {
    import spark.implicits._
    val df = (1 to 1000).map(i => (i.toLong, s"w$i", i % 7))
      .toDF("id", "w", "g")
      .groupBy(col("g")).agg(count(lit(1)).as("c"), max(col("w")).as("mw"))
    val base = Materialize.frame(df).orderBy(col("g")).collect().toSeq
    for (lvl <- Seq("DISK_ONLY", "MEMORY_AND_DISK_SER")) {
      spark.conf.set(Materialize.StorageLevelConf, lvl)
      try {
        val got = Materialize.frame(df).orderBy(col("g")).collect().toSeq
        assert(got == base, s"results drifted at storage level $lvl")
      } finally spark.conf.unset(Materialize.StorageLevelConf)
    }
  }

  test("unknown storage level fails loud, not silently-default") {
    import spark.implicits._
    val df = Seq((1L, "a")).toDF("id", "w")
    spark.conf.set(Materialize.StorageLevelConf, "NOT_A_LEVEL")
    try intercept[IllegalArgumentException] { Materialize.frame(df) }
    finally spark.conf.unset(Materialize.StorageLevelConf)
  }

  test("the storage-level knob reaches every boundary of the iterative engines") {
    import spark.implicits._
    val sc = spark.sparkContext
    val nodes = (1L to 6L).toDF("node")
    val edges = Seq((1L, 2L, 3L), (2L, 3L, 1L), (3L, 1L, 2L), (4L, 5L, 1L),
      (5L, 4L, 2L), (6L, 1L, 1L)).toDF("src", "dst", "w")
    val ccEdges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (6L, 5L), (7L, 7L))
      .toDF("src", "dst")
    // results of both engines + the storage level of every RDD the two
    // calls persisted (ids above the pre-call maximum). Every boundary
    // of both engines is eager, so the levels are read right after
    // construction, while the result frames (and with them their
    // checkpoints) are still in use
    def run(): (Seq[Row], Seq[Row], Seq[StorageLevel]) = {
      val before = (sc.getPersistentRDDs.keys ++ Seq(-1)).max
      val prDf = Graph.pagerankOf(nodes, edges, 3)
      val ccDf = StarComponents.connectedComponents(ccEdges, driverEdgeLimit = 0)
      val levels = sc.getPersistentRDDs.toSeq
        .collect { case (id, rdd) if id > before => rdd.getStorageLevel }
      (prDf.orderBy(col("node")).collect().toSeq,
        ccDf.orderBy(col("id")).collect().toSeq, levels)
    }
    val (basePr, baseCc, baseLevels) = run()
    assert(baseLevels.nonEmpty, "the engines persisted nothing")
    spark.conf.set(Materialize.StorageLevelConf, "DISK_ONLY")
    try {
      val (pr, cc, levels) = run()
      assert(levels.nonEmpty && levels.forall(_ == StorageLevel.DISK_ONLY),
        s"boundaries outside the policy: ${levels.filterNot(_ == StorageLevel.DISK_ONLY)}")
      assert(pr == basePr, "pagerank drifted at DISK_ONLY")
      assert(cc == baseCc, "components drifted at DISK_ONLY")
    } finally spark.conf.unset(Materialize.StorageLevelConf)
  }

  test("no localCheckpoint in src/main outside Materialize.scala") {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root)
    val raw = try files.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Materialize.scala")
      .toList
      .flatMap { p: Path =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if codeOf(line).contains("localCheckpoint") => s"$p:${i + 1}"
        }
      }
    finally files.close()
    assert(raw.isEmpty, s"raw boundaries bypass graft.Materialize: ${raw.mkString(", ")}")
  }

  /** The code part of a source line: empty for a comment line, else the
    * text before a trailing `//` comment.
    */
  private def codeOf(line: String): String = {
    val t = line.trim
    if (t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) ""
    else t.indexOf("//") match { case -1 => t; case i => t.substring(0, i) }
  }
}
