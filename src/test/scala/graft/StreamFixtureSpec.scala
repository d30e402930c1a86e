package graft

import java.io.File
import java.nio.file.{Files, Paths}

import graft.streaming._
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The stream-fixture failure contract: whatever throws inside a
  * self-contained incremental query, the streaming query is stopped and
  * its temp dir (input copy, checkpoint, state) is gone.
  */
class StreamFixtureSpec extends AnyFunSuite with SharedSpark {

  private def graftTmpDirs(): Set[String] =
    Option(new File(sys.props("java.io.tmpdir")).list()).getOrElse(Array.empty[String])
      .filter(_.startsWith("graft_")).toSet

  test("every fixture entry point fails clean on a missing input: no temp dir, no live stream") {
    spark // the shared session's own temp dir predates the snapshot
    val missing = new File(sys.props("java.io.tmpdir"),
      s"no_such_sf_${java.util.UUID.randomUUID()}").toString
    val entries: Seq[(String, () => DataFrame)] = Seq(
      "IncrementalDau" -> (() => IncrementalDau.fixtureRun(spark, missing)),
      "IncrementalCdc" -> (() => IncrementalCdc.fixtureRun(spark, missing)),
      "IncrementalIndex" -> (() => IncrementalIndex.fixtureRun(spark, missing)),
      "IncrementalSubstr" -> (() => IncrementalSubstr.fixtureRun(spark, missing)),
      "IncrementalCorpus" -> (() => IncrementalCorpus.fixtureRun(spark, missing)),
      "StreamingDedup" -> (() => StreamingDedup.nearDedupFixtureRun(spark, missing)))
    entries.foreach { case (name, run) =>
      val before = graftTmpDirs()
      intercept[Exception](run())
      val leaked = graftTmpDirs() -- before
      assert(leaked.isEmpty, s"$name leaked ${leaked.mkString(", ")}")
      assert(spark.streams.active.isEmpty, s"$name left a stream running")
    }
  }

  test("a commit that throws on its second batch propagates, stops the stream, deletes the dir") {
    var stateDir: Option[String] = None
    var committed = Seq.empty[Long]
    val e = intercept[Exception] {
      StreamFixture.run(spark.range(30).toDF("doc_id"), nFiles = 3)(
        (_, batchId, state) => {
          stateDir = Some(state)
          committed :+= batchId
          if (batchId == 1) throw new IllegalStateException("boom on batch 1")
        },
        state => spark.read.parquet(state))
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(chain.exists(t => Option(t.getMessage).exists(_.contains("boom on batch 1"))), e)
    assert(committed == Seq(0L, 1L))
    assert(spark.streams.active.isEmpty)
    val root = Paths.get(stateDir.get).getParent
    assert(!Files.exists(root), s"$root survived the failed run")
  }
}
