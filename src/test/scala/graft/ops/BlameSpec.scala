package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.SparkSpecBase

/** Mirrors reference tests/test_collectors.py:48-63 (blame accumulation)
  * and tests/test_indexer.py:60-71 (re-chunk fan-out).
  */
class BlameSpec extends SparkSpecBase {

  private val authorT = StructType(Seq(
    StructField("name", StringType),
    StructField("email", StringType),
    StructField("user", StructType(Seq(StructField("login", StringType))))))
  private val commitT = StructType(Seq(
    StructField("oid", StringType),
    StructField("committedDate", StringType),
    StructField("message", StringType),
    StructField("author", authorT)))
  private val rangeT = StructType(Seq(
    StructField("path", StringType),
    StructField("startingLine", IntegerType),
    StructField("endingLine", IntegerType),
    StructField("age", IntegerType),
    StructField("commit", commitT)))
  private val detailT = StructType(Seq(
    StructField("sha", StringType),
    StructField("repo_name", StringType),
    StructField("html_url", StringType),
    StructField("author_login", StringType),
    StructField("commit_author", StringType),
    StructField("files_changed", ArrayType(StringType)),
    StructField("files_changed_count", IntegerType)))

  private def df(schema: StructType, rows: Row*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  private def rangeRow(path: String, s: Int, e: Int, sha: String,
      login: String, name: String = null, email: String = null): Row =
    Row(path, s, e, 1,
      Row(sha, "2020-01-01T00:00:00Z", s"msg for $sha\nbody", Row(name, email,
        Row(login))))

  test("per-author line accumulation, authors sorted by lines desc") {
    val ranges = df(rangeT,
      rangeRow("f.txt", 1, 10, "s1", "alice"),   // 10 lines
      rangeRow("f.txt", 11, 12, "s2", "bob"),    // 2 lines
      rangeRow("f.txt", 13, 20, "s3", "alice"))  // 8 lines → alice 18
    val out = Blame.summarizeBlame("o/r", ranges, df(detailT)).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("path") == "f.txt")
    assert(r.getAs[Long]("total_lines") == 20L)
    assert(r.getAs[Long]("ranges_count") == 3L)
    val authors = r.getAs[scala.collection.Seq[Row]]("authors")
    assert(authors.map(a => (a.getAs[String]("author"),
      a.getAs[Long]("total_lines"))) == Seq(("alice", 18L), ("bob", 2L)))
    assert(authors.head.getAs[scala.collection.Seq[Row]]("ranges").length == 2)
  }

  test("author identity precedence login > name > email > unknown") {
    val ranges = df(rangeT,
      rangeRow("a", 1, 1, "s1", "lg", "nm", "em"),
      rangeRow("b", 1, 1, "s2", null, "nm", "em"),
      rangeRow("c", 1, 1, "s3", null, null, "em"),
      rangeRow("d", 1, 1, "s4", null, null, null),
      rangeRow("e", 1, 1, "s5", "", "", ""))
    val out = Blame.summarizeBlame("o/r", ranges, df(detailT))
      .collect().map(r => r.getAs[String]("path") ->
        r.getAs[scala.collection.Seq[Row]]("authors").head.getAs[String]("author")).toMap
    assert(out == Map("a" -> "lg", "b" -> "nm", "c" -> "em",
      "d" -> "unknown", "e" -> "unknown"))
  }

  test("commit-detail enrichment joins matching_commit into ranges") {
    val ranges = df(rangeT, rangeRow("f", 1, 2, "sha9", "al"))
    val details = df(detailT,
      Row("sha9", "o/r", "http://c/sha9", "al", "Al N",
        Seq("f1", "f2"), 2))
    val out = Blame.summarizeBlame("o/r", ranges, details).collect().head
    val ex = out.getAs[scala.collection.Seq[Row]]("examples").head
    val mc = ex.getAs[Row]("matching_commit")
    assert(mc.getAs[String]("html_url") == "http://c/sha9")
    assert(mc.getAs[Int]("files_changed_count") == 2)
    assert(ex.getAs[String]("message") == "msg for sha9")
  }

  test("example list capped at exampleLimit") {
    val ranges = df(rangeT,
      (1 to 8).map(i => rangeRow("f", i, i, s"s$i", "a")): _*)
    val out = Blame.summarizeBlame("o/r", ranges, df(detailT), exampleLimit = 3)
      .collect().head
    assert(out.getAs[scala.collection.Seq[Row]]("examples").length == 3)
    assert(out.getAs[Long]("ranges_count") == 8L)
  }

  test("rechunk fans one repo_blame doc out to one row per file") {
    val fileT = StructType(Seq(
      StructField("path", StringType), StructField("total_lines", LongType)))
    val blameT = StructType(Seq(
      StructField("repo_name", StringType),
      StructField("ref", StringType),
      StructField("files", ArrayType(fileT))))
    val doc = df(blameT,
      Row("o/r", "main", Seq(Row("a.txt", 5L), Row("b.txt", 7L))))
    val out = Blame.rechunk(doc).collect()
    assert(out.length == 2)
    assert(out.forall(_.getAs[String]("repo_name") == "o/r"))
    assert(out.map(_.getAs[scala.collection.Seq[Row]]("files").length).toSeq == Seq(1, 1))
    assert(out.flatMap(_.getAs[scala.collection.Seq[Row]]("files"))
      .map(_.getAs[String]("path")).toSet == Set("a.txt", "b.txt"))
  }

  test("planRefresh: reusable = cached ∩ desired − changed; refresh = rest") {
    val pathT = StructType(Seq(StructField("path", StringType)))
    val chT = StructType(Seq(StructField("path", StringType),
      StructField("previous", StringType),
      StructField("status", StringType)))
    // "capped" is cached and unchanged but no longer desired (e.g. past
    // the file cap): it is neither reused nor refreshed
    val cached = df(pathT, Row("a"), Row("b"), Row("c"), Row("gone"),
      Row("capped"))
    val desired = df(pathT, Row("a"), Row("b"), Row("c"), Row("new"))
    val changed = df(chT, Row("b", null, "modified"),
      Row("gone", null, "removed"))
    val plan = Blame.planRefresh(Some("h1"), Some("h2"), cached, desired,
      Some(changed))
    assert(!plan.reuseWholeSnapshot)
    assert(plan.reusable.collect().map(_.getString(0)).toSet == Set("a", "c"))
    assert(plan.refresh.collect().map(_.getString(0)).toSet == Set("b", "new"))
  }

  test("summarizeBlameAll keys on (repo_name, path): same path, two repos") {
    val rangeAllT = StructType(StructField("repo_name", StringType) +:
      rangeT.fields.toIndexedSeq)
    def r(repo: String, path: String, s: Int, e: Int, sha: String,
        login: String): Row =
      Row(repo, path, s, e, 1,
        Row(sha, "2020-01-01T00:00:00Z", s"msg for $sha", Row(null, null,
          Row(login))))
    val detailAllT = StructType(detailT.fields.toIndexedSeq)
    // both repos blame the SAME path — a path-only key would merge them
    val ranges = df(rangeAllT,
      r("o/a", "src/f.txt", 1, 10, "sa", "alice"),
      r("o/b", "src/f.txt", 1, 4, "sb", "bob"))
    val out = Blame.summarizeBlameAll(ranges, df(detailAllT)).collect()
    assert(out.length == 2)
    val byRepo = out.map(x => x.getAs[String]("repo_name") -> x).toMap
    assert(byRepo("o/a").getAs[Long]("total_lines") == 10L)
    assert(byRepo("o/b").getAs[Long]("total_lines") == 4L)
    assert(byRepo("o/a").getAs[scala.collection.Seq[Row]]("authors")
      .head.getAs[String]("author") == "alice")
    assert(byRepo("o/b").getAs[scala.collection.Seq[Row]]("authors")
      .head.getAs[String]("author") == "bob")
  }

  test("planRefresh: equal head SHAs reuse the whole snapshot") {
    val pathT = StructType(Seq(StructField("path", StringType)))
    val cached = df(pathT, Row("a"), Row("b"))
    val desired = df(pathT, Row("a"), Row("b"), Row("new"))
    val plan = Blame.planRefresh(Some("h1"), Some("h1"), cached, desired,
      changed = None)
    assert(plan.reuseWholeSnapshot)
    assert(plan.refresh.count() == 0)
    assert(plan.reusable.collect().map(_.getString(0)).toSet == Set("a", "b"))
  }

  test("planRefresh: compare-API changes drive the refresh set") {
    val pathT = StructType(Seq(StructField("path", StringType)))
    val chT = StructType(Seq(StructField("path", StringType),
      StructField("previous", StringType),
      StructField("status", StringType)))
    val cached = df(pathT, Row("a"), Row("b"), Row("old_name"), Row("gone"))
    val desired = df(pathT, Row("a"), Row("b"), Row("new_name"), Row("brand"))
    val changed = df(chT,
      Row("b", null, "modified"),             // refresh in place
      Row("new_name", "old_name", "renamed"), // drops old, refreshes new
      Row("gone", null, "removed"))           // cache entry dropped
    val plan = Blame.planRefresh(Some("h1"), Some("h2"), cached, desired,
      Some(changed))
    assert(!plan.reuseWholeSnapshot)
    assert(plan.reusable.collect().map(_.getString(0)).toSet == Set("a"))
    assert(plan.refresh.collect().map(_.getString(0)).toSet ==
      Set("b", "new_name", "brand"))
  }

  test("planRefresh: compare failure or missing cache refreshes all") {
    val pathT = StructType(Seq(StructField("path", StringType)))
    val cached = df(pathT, Row("a"))
    val desired = df(pathT, Row("a"), Row("b"))
    // heads differ, compare API failed -> everything refreshes
    val failed = Blame.planRefresh(Some("h1"), Some("h2"), cached, desired,
      changed = None)
    assert(!failed.reuseWholeSnapshot)
    assert(failed.refresh.collect().map(_.getString(0)).toSet == Set("a", "b"))
    // no cached head (fresh repo) -> desired minus nothing cached
    val fresh = Blame.planRefresh(None, Some("h2"), cached.limit(0), desired,
      changed = None)
    assert(fresh.refresh.collect().map(_.getString(0)).toSet == Set("a", "b"))
  }

  test("rechunk emits placeholder row for empty files") {
    val fileT = StructType(Seq(StructField("path", StringType)))
    val blameT = StructType(Seq(
      StructField("repo_name", StringType),
      StructField("files", ArrayType(fileT))))
    val doc = df(blameT, Row("o/r", Seq.empty[Row]))
    val out = Blame.rechunk(doc).collect()
    assert(out.length == 1)
    assert(out.head.getAs[scala.collection.Seq[Row]]("files").isEmpty)
  }
}
