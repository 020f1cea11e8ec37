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

  test("repoBlameDoc over a 2-file refresh runs within its job budget") {
    // the live refresh's shape: the one or two re-blamed files, each
    // range stamped with its file's root commit
    val rootT = StructType(StructField("root_commit_oid", StringType) +:
      rangeT.fields.toIndexedSeq)
    val ranges = df(rootT,
      Row.fromSeq("r1" +: rangeRow("b.txt", 1, 5, "s1", "alice").toSeq),
      Row.fromSeq("r1" +: rangeRow("b.txt", 6, 7, "s2", "bob").toSeq),
      Row.fromSeq("r2" +: rangeRow("a.txt", 1, 3, "s3", "bob").toSeq))
    val group = s"blame-doc-${System.nanoTime()}"
    spark.sparkContext.setJobGroup(group, "repoBlameDoc job count")
    val doc =
      try Blame.repoBlameDoc("o/r", "main", Some("h"), "2026-01-01T00:00:00Z",
        ranges, df(detailT)).collect()
      finally spark.sparkContext.clearJobGroup()
    val files = doc.head.getAs[scala.collection.Seq[Row]]("files")
    assert(files.map(f => (f.getAs[String]("path"),
      f.getAs[String]("root_commit_oid"), f.getAs[Long]("total_lines"))) ==
      Seq(("a.txt", "r2", 3L), ("b.txt", "r1", 7L)))
    val jobs = spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
    // budget = the measured 9 jobs; the root commit rides the per-file
    // aggregation instead of a groupBy + join of its own
    assert(jobs <= 9, s"repoBlameDoc ran $jobs Spark jobs")
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
    // "capped" is cached and unchanged but no longer desired (e.g. past
    // the file cap): it is neither reused nor refreshed
    val cached = Seq("a", "b", "c", "gone", "capped")
    val desired = Seq("a", "b", "c", "new")
    val changed = Seq(Blame.Change("b", null, "modified"),
      Blame.Change("gone", null, "removed"))
    val plan = Blame.planRefresh(Some("h1"), Some("h2"), cached, desired,
      Some(changed))
    assert(!plan.reuseWholeSnapshot)
    assert(plan.reusable == Seq("a", "c"))
    assert(plan.refresh == Seq("b", "new"))
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
    val plan = Blame.planRefresh(Some("h1"), Some("h1"), Seq("a", "b"),
      Seq("a", "b", "new"), changed = None)
    assert(plan.reuseWholeSnapshot)
    assert(plan.refresh.isEmpty)
    assert(plan.reusable == Seq("a", "b"))
  }

  test("planRefresh: compare-API changes drive the refresh set") {
    val cached = Seq("a", "b", "old_name", "gone")
    val desired = Seq("a", "b", "new_name", "brand")
    val changed = Seq(
      Blame.Change("b", null, "modified"),             // refresh in place
      Blame.Change("new_name", "old_name", "renamed"), // drops old, refreshes new
      Blame.Change("gone", null, "removed"))           // cache entry dropped
    val plan = Blame.planRefresh(Some("h1"), Some("h2"), cached, desired,
      Some(changed))
    assert(!plan.reuseWholeSnapshot)
    assert(plan.reusable == Seq("a"))
    assert(plan.refresh == Seq("b", "brand", "new_name"))
  }

  test("planRefresh: compare failure or missing cache refreshes all") {
    // heads differ, compare API failed -> everything refreshes
    val failed = Blame.planRefresh(Some("h1"), Some("h2"), Seq("a"),
      Seq("a", "b"), changed = None)
    assert(!failed.reuseWholeSnapshot)
    assert(failed.refresh == Seq("a", "b"))
    assert(failed.reusable.isEmpty)
    // no cached head (fresh repo) -> desired minus nothing cached
    val fresh = Blame.planRefresh(None, Some("h2"), Nil, Seq("a", "b"),
      changed = None)
    assert(fresh.refresh == Seq("a", "b"))
    // a cached head with no current head never runs the compare: a
    // change set passed anyway is ignored, refresh = desired − cached
    val noHead = Blame.planRefresh(Some("h1"), None, Seq("a"),
      Seq("a", "b"), Some(Seq(Blame.Change("a", null, "modified"))))
    assert(noHead.reusable == Seq("a"))
    assert(noHead.refresh == Seq("b"))
  }

  test("planRefresh: a null-status change neither drops nor refreshes its path") {
    // SQL semantics the plan keeps: lower(null) is neither "removed"
    // nor anything else, so the entry is ignored; a status match is
    // case-insensitive
    val plan = Blame.planRefresh(Some("h1"), Some("h2"), Seq("a", "b", "c"),
      Seq("a", "b", "c"), Some(Seq(
        Blame.Change("a", null, null),
        Blame.Change("b", null, "MODIFIED"),
        Blame.Change("c", null, "Removed"))))
    assert(plan.reusable == Seq("a"))
    // "c" is still in the tree, so although its cache entry is dropped
    // it is re-blamed as a desired path the cache lacks
    assert(plan.refresh == Seq("b", "c"))
  }

  test("planRefresh: a rename reuses nothing of the source, re-blames the target") {
    // the renamed target was never cached; the source is still desired
    // (copied, not moved, say) but its cache entry is dropped, so both
    // are re-blamed; an unrelated cached path survives
    val plan = Blame.planRefresh(Some("h1"), Some("h2"),
      cachedPaths = Seq("src/old.scala", "keep.txt"),
      desiredPaths = Seq("src/new.scala", "src/old.scala", "keep.txt"),
      changed = Some(Seq(Blame.Change("src/new.scala", "src/old.scala", "renamed"))))
    assert(plan.reusable == Seq("keep.txt"))
    assert(plan.refresh == Seq("src/new.scala", "src/old.scala"))
  }

  test("pathOrder is Spark's binary UTF-8 string order") {
    // U+FFFD sorts before U+1F600 in UTF-8 bytes, after it in UTF-16
    val paths = Seq("b", "\uFFFD", "a/\uD83D\uDE00", "\uD83D\uDE00", "A", "a", "a/z")
    import spark.implicits._
    val bySpark = paths.toDF("path").orderBy("path").as[String].collect().toSeq
    assert(paths.sorted(Blame.pathOrder) == bySpark)
    assert(paths.sorted != bySpark, "fixture must tell UTF-16 order apart")
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
