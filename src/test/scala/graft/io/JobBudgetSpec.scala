package graft.io

import graft.SparkSpecBase
import graft.ops.FullText
import graft.queries.SimilarityQueries

/** Spark-job budgets of the stored-index mutation and search phases.
  * Each phase runs in its own job group on a small fixture, and its
  * job count must not grow past the count measured before the segment
  * manifest moved into [[Layout]] (the same count in each of three
  * runs on a 4-vCPU host). A phase that needs more jobs must raise
  * its budget here, with the reason. */
class JobBudgetSpec extends SparkSpecBase {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix)
      .toFile.getAbsolutePath

  /** Jobs `body` runs, counted in a dedicated (thread-local) group. */
  private def jobs(body: => Any): Int = {
    val group = s"budget-${System.nanoTime()}"
    spark.sparkContext.setJobGroup(group, "job budget")
    try body
    finally spark.sparkContext.clearJobGroup()
    spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
  }

  private def within(phase: String, n: Int, budget: Int): Unit = {
    println(s"job budget: $phase ran $n jobs (budget $budget)")
    assert(n <= budget, s"$phase ran $n Spark jobs, budget $budget")
  }

  test("text append, search, delete and compact stay within their job budgets") {
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    val idx = tmp("budget-t")
    FullText.writeTextIndex(docs.filter($"doc_id" % 5 =!= 0),
      "doc_id", "text", idx)
    within("text append", jobs(FullText.appendToTextIndex(spark,
      docs.filter($"doc_id" % 5 === 0), "doc_id", "text", idx,
      segmentId = Some("s1"))), 13)
    within("text bm25SearchStored", jobs(FullText.bm25SearchStored(
      spark, idx, Seq("fast", "vector", "query")).collect()), 7)
    val gone = docs.limit(2).collect().map(_.getLong(0)).toSeq
    within("text delete",
      jobs(FullText.deleteFromTextIndex(spark, idx, gone)), 12)
    within("text compact",
      jobs(FullText.compactTextIndex(spark, idx)), 16)
  }

  test("vector append, delete and compact stay within their job budgets") {
    val e = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val idx = tmp("budget-v")
    SimilarityQueries.writeIvfPqIndexFrames(e, e.filter($"vec_id" % 5 =!= 0),
      idx)
    within("vector append", jobs(SimilarityQueries.appendToIvfPqIndex(
      spark, idx, e.filter($"vec_id" % 5 === 0),
      segmentId = Some("s1"))), 5)
    within("vector delete",
      jobs(SimilarityQueries.deleteFromIvfPqIndex(spark, idx, Seq(1L, 2L))),
      9)
    within("vector compact",
      jobs(SimilarityQueries.compactIvfPqIndex(spark, idx)), 10)
  }
}
