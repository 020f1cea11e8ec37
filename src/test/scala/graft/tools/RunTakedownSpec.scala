package graft.tools

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.ops.FullText
import graft.queries.SimilarityQueries

/** The takedown CLI's contract: a ruling FILE (or literal list)
  * masks both index families through the DataFrame delete faces,
  * compaction reclaims, and re-running the same ruling is a no-op. */
class RunTakedownSpec extends SparkSpecBase {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("ruling file masks text + vector, --compact reclaims, rerun is a no-op") {
    val docs = graft.io.Tables.documents(spark, dir)
    val tIdx = java.nio.file.Files.createTempDirectory("takedown-t")
      .toFile.getAbsolutePath
    val vIdx = java.nio.file.Files.createTempDirectory("takedown-v")
      .toFile.getAbsolutePath
    FullText.writeTextIndex(docs, "doc_id", "text", tIdx,
      storeTermVectors = true)
    SimilarityQueries.writeIvfPqIndex(spark, dir, vIdx)
    def tPage() = FullText
      .bm25SearchStored(spark, tIdx, Seq("fast", "vector", "query"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def vPage() = SimilarityQueries.ivfPqSearchStored(spark, vIdx, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // the ruling: served ids from both faces, shipped as a parquet
    // file exactly like a legal-hold feed would land
    val dead = (tPage().take(2).map(_._1) ++ vPage().take(2).map(_._1))
      .distinct
    val ruling = java.nio.file.Files.createTempDirectory("ruling")
      .toFile.getAbsolutePath + "/ids"
    dead.toDF("ruled_id").repartition(3).write.parquet(ruling)
    val (n, t, v) = RunTakedown.run(spark, ruling,
      Some(tIdx), Some(vIdx), compact = false)
    assert(n == dead.size && t && v)
    assert(tPage().map(_._1).toSet.intersect(dead.toSet).isEmpty,
      "ruled ids must vanish from the text page")
    assert(vPage().map(_._1).toSet.intersect(dead.toSet).isEmpty,
      "ruled ids must vanish from the vector page")
    // rerun of the same ruling file: anti-join idempotence
    val before = (tPage(), vPage())
    RunTakedown.run(spark, ruling, Some(tIdx), Some(vIdx),
      compact = false)
    assert((tPage(), vPage()) == before, "rerun must be a no-op")
    // literal list + --compact reclaims the tombstones physically
    val more = tPage().head._1
    RunTakedown.run(spark, more.toString, Some(tIdx), None,
      compact = true)
    assert(!graft.io.Layout.pathExists(spark,
      s"${graft.io.Layout.liveArtifactDir(spark, tIdx)}/tombstones"),
      "--compact must reclaim the tombstone artifact")
    assert(!tPage().exists(_._1 == more))
  }

  test("--wait retries a held lease until release; without it, today's fail-fast") {
    val docs = graft.io.Tables.documents(spark, dir).limit(60)
    val idx = java.nio.file.Files.createTempDirectory("takedown-wait")
      .toFile.getAbsolutePath
    FullText.writeTextIndex(docs, "doc_id", "text", idx,
      storeTermVectors = true)
    val fs = new org.apache.hadoop.fs.Path("/tmp")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(s"$idx/_mutation.lock")
    val out = fs.create(lock, true)
    out.write("2 foreign-token otherhost:pid=7".getBytes("UTF-8"))
    out.close()
    val id = docs.limit(1).select($"doc_id").head().getLong(0)
    // no --wait: the lease's fail-fast error surfaces unchanged
    val e = intercept[IllegalStateException] {
      RunTakedown.run(spark, id.toString, Some(idx), None,
        compact = false)
    }
    assert(e.getMessage.contains("being mutated"))
    // --wait: acquisition polls with backoff; the holder releases
    // mid-poll and the ruling lands
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val releaser = Future { Thread.sleep(1500); fs.delete(lock, false) }
    val (n, t, v) = RunTakedown.run(spark, id.toString, Some(idx), None,
      compact = false, waitSec = Some(60))
    Await.result(releaser, 2.minutes)
    assert(n == 1 && t && !v)
    assert(spark.read
      .parquet(s"${graft.io.Layout.liveArtifactDir(spark, idx)}/stats")
      .head().getAs[Long]("n_docs") == docs.count() - 1)
    assert(spark.conf.getOption("graft.index.leaseWaitMs").isEmpty,
      "the CLI must not leak the wait knob into the session")
  }
}
