package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._
import graft.SparkSpecBase

/** Golden fixtures mirroring reference tests/test_linkers.py: newest-N
  * cap picks newest (42-68), auto-close derivation (71-81), cross-repo
  * target typing with 404-null targets kept (84-100,
  * docs/project_analytics.md:18).
  */
class LinkersSpec extends SparkSpecBase {

  private def df(schema: StructType, rows: Row*): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)

  private val userT = StructType(Seq(StructField("login", StringType)))
  private val prSchema = StructType(Seq(
    StructField("number", IntegerType),
    StructField("title", StringType),
    StructField("body", StringType),
    StructField("state", StringType),
    StructField("merged_at", StringType),
    StructField("merge_commit_sha", StringType),
    StructField("html_url", StringType),
    StructField("created_at", StringType),
    StructField("user", userT)))
  private val issueSchema = StructType(Seq(
    StructField("number", IntegerType),
    StructField("user", userT)))
  private val emptyExt = StructType(Seq(
    StructField("repo_name", StringType),
    StructField("number", IntegerType),
    StructField("author", StringType)))
  private val prCommitsT = StructType(Seq(
    StructField("pr_number", IntegerType),
    StructField("message", StringType)))
  private val commitDetailT = StructType(Seq(
    StructField("sha", StringType),
    StructField("message", StringType)))

  private def pr(n: Int, title: String, body: String, created: String,
      merged: String = null, mergeSha: String = null): Row =
    Row(n, title, body, "closed", merged, mergeSha,
      s"https://x/pr/$n", created, Row(s"author$n"))

  test("prsWithLinkedIssues: text ref resolves local author, auto-close on merged") {
    val prs = df(prSchema,
      pr(156, "Fix parse", "Fixes #155", "2020-01-02T00:00:00Z",
        merged = "2020-01-03T00:00:00Z"))
    val issues = df(issueSchema, Row(155, Row("reporter")))
    val out = Linkers.prsWithLinkedIssues("owner/repo", prs, issues,
      df(prCommitsT), df(commitDetailT), df(emptyExt)).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Int]("pr_number") == 156)
    assert(r.getAs[Boolean]("merged"))
    val links = r.getAs[scala.collection.Seq[Row]]("links")
    assert(links.length == 1)
    val l = links.head
    assert(l.getAs[String]("referenced_repo") == "owner/repo")
    assert(l.getAs[Long]("issue_number") == 155L)
    assert(l.getAs[String]("reference_type") == "pr_text")
    assert(l.getAs[Boolean]("has_closing_kw"))
    assert(l.getAs[Boolean]("would_auto_close"))
    assert(l.getAs[String]("issue_author") == "reporter")
  }

  test("unmerged PR with closing kw does not auto-close") {
    val prs = df(prSchema, pr(1, "t", "closes #2", "2020-01-01T00:00:00Z"))
    val issues = df(issueSchema, Row(2, Row("a")))
    val out = Linkers.prsWithLinkedIssues("o/r", prs, issues,
      df(prCommitsT), df(commitDetailT), df(emptyExt)).collect()
    val l = out.head.getAs[scala.collection.Seq[Row]]("links").head
    assert(l.getAs[Boolean]("has_closing_kw"))
    assert(!l.getAs[Boolean]("would_auto_close"))
  }

  test("invalid_sha merge commit drops the WHOLE PR (linkers.py:115-117)") {
    val detailT = StructType(Seq(
      StructField("sha", StringType),
      StructField("message", StringType),
      StructField("error", StringType)))
    val prs = df(prSchema,
      // PR 1: pr_text ref AND a bad merge sha -> the reference
      // `continue`s before persisting, so even the pr_text ref is gone
      pr(1, "t", "Fixes #10", "2020-01-01T00:00:00Z",
        mergeSha = "badsha"),
      // PR 2: good merge sha -> merge-commit refs plus pr_text survive
      pr(2, "t", "Fixes #11", "2020-01-02T00:00:00Z",
        mergeSha = "goodsha"))
    val details = df(detailT,
      Row("badsha", null, "invalid_sha"),
      Row("goodsha", "closes #12", null))
    val issues = df(issueSchema,
      Row(10, Row("a")), Row(11, Row("b")), Row(12, Row("c")))
    val out = Linkers.prsWithLinkedIssues("o/r", prs, issues,
      df(prCommitsT), details, df(emptyExt)).collect()
    assert(out.map(_.getAs[Int]("pr_number")).toSeq == Seq(2))
    val types = out.head.getAs[scala.collection.Seq[Row]]("links")
      .map(_.getAs[String]("reference_type"))
    assert(types == Seq("pr_text", "merge_commit_message"))
  }

  test("linker composition is pure plan construction — zero Spark jobs") {
    val prs = df(prSchema, pr(1, "t", "body", "2020-01-01T00:00:00Z"))
    val issues = df(issueSchema, Row(2, Row("a")))
    // job submission is synchronous (runJob blocks), so the tracker
    // reflects every triggered job by the time composition returns
    val tracker = spark.sparkContext.statusTracker
    val before = tracker.getJobIdsForGroup(null).length
    val stamped = prs.withColumn("repo_name", lit("o/r"))
    Linkers.newestPrsAll(stamped, 5)
    Linkers.newestPrsAll(stamped, 0)
    Linkers.prsWithLinkedIssues("o/r", prs, issues,
      df(prCommitsT), df(commitDetailT), df(emptyExt))
    assert(tracker.getJobIdsForGroup(null).length == before,
      "plan construction must not run Spark jobs")
  }

  test("newestPrs caps to newest N by created_at") {
    val prs = df(prSchema,
      pr(1, "old", "", "2019-01-01T00:00:00Z"),
      pr(2, "mid", "", "2020-01-01T00:00:00Z"),
      pr(3, "new", "", "2021-01-01T00:00:00Z"))
    val kept = Linkers.newestPrsAll(prs.withColumn("repo_name", lit("o/r")), 2)
      .select("number").collect()
      .map(_.getInt(0)).toSet
    assert(kept == Set(2, 3))
  }

  test("commit-message refs flow through prCommits join") {
    val prs = df(prSchema, pr(10, "t", "", "2020-01-01T00:00:00Z"))
    val issues = df(issueSchema, Row(9, Row("iz")))
    val prCommits = df(prCommitsT, Row(10, "fixed #9 in refactor"))
    val out = Linkers.prsWithLinkedIssues("o/r", prs, issues,
      prCommits, df(commitDetailT), df(emptyExt)).collect()
    val l = out.head.getAs[scala.collection.Seq[Row]]("links").head
    assert(l.getAs[String]("reference_type") == "commit_message")
    assert(l.getAs[Long]("issue_number") == 9L)
    assert(l.getAs[String]("issue_author") == "iz")
  }

  test("squash guard skips merge-commit scan when body mentions squash") {
    val commitDetails = df(commitDetailT, Row("sha1", "merge fixes #5"))
    val issues = df(issueSchema, Row(5, Row("a5")))
    def run(body: String) = {
      val prs = df(prSchema, pr(1, "t", body, "2020-01-01T00:00:00Z",
        mergeSha = "sha1"))
      Linkers.prsWithLinkedIssues("o/r", prs, issues,
        df(prCommitsT), commitDetails, df(emptyExt)).collect()
        .headOption.map(_.getAs[scala.collection.Seq[Row]]("links").length).getOrElse(0)
    }
    // body long enough + mentions squash → merge commit NOT scanned
    assert(run("this was a squash merge!!") == 0)
    // short body → scanned
    assert(run("squash") == 1)
  }

  test("issuesClosedByCommits keeps only closing refs and joins authors") {
    val commitT = StructType(Seq(
      StructField("sha", StringType),
      StructField("html_url", StringType),
      StructField("author", userT),
      StructField("commit", StructType(Seq(
        StructField("message", StringType),
        StructField("author", StructType(Seq(
          StructField("name", StringType)))))))))
    val commits = df(commitT,
      Row("s1", "u1", Row("alice"), Row("fixes #133", Row("Alice N"))),
      Row("s2", "u2", Row("bob"), Row("mention #7 only", Row("Bob N"))))
    val issueT = StructType(StructField("repo_name", StringType) +:
      issueSchema.fields.toIndexedSeq)
    val issues = df(issueT, Row("o/r", 133, Row("reporter")))
    val out = Linkers.issuesClosedByCommits("o/r", commits, issues,
      df(emptyExt)).collect()
    assert(out.length == 1)
    assert(out.head.getAs[String]("commit_sha") == "s1")
    assert(out.head.getAs[Long]("issue_number") == 133L)
    assert(out.head.getAs[String]("issue_author") == "reporter")
    assert(out.head.getAs[String]("commit_author") == "alice")
  }

  test("issuesClosedByCommits: a local issue also looked up externally yields one row, local wins") {
    // a live run fetches a null-login local issue as external too; the
    // closing ref must still resolve once, with the local (null)
    // author, as the PR linker's author lookup does
    val commitT = StructType(Seq(
      StructField("sha", StringType),
      StructField("author", userT),
      StructField("commit", StructType(Seq(
        StructField("message", StringType),
        StructField("author", StructType(Seq(
          StructField("name", StringType)))))))))
    val commits = df(commitT,
      Row("s1", Row("a"), Row("closes #2", Row("A"))),
      Row("s2", Row("b"), Row("fixes #4", Row("B"))),
      Row("s3", Row("c"), Row("resolves x/y#9", Row("C"))))
    val issueT = StructType(StructField("repo_name", StringType) +:
      issueSchema.fields.toIndexedSeq)
    val issues = df(issueT, Row("o/r", 2, Row(null)), Row("o/r", 4, Row("dana")))
    val ext = df(emptyExt, Row("o/r", 2, "bob"), Row("O/R", 4, "other"),
      Row("x/y", 9, "xy"))
    val out = Linkers.issuesClosedByCommits("o/r", commits, issues, ext)
      .collect().map(r => (r.getAs[String]("commit_sha"),
        r.getAs[Long]("issue_number"), r.getAs[String]("issue_author")))
      .sorted.toSeq
    assert(out == Seq(("s1", 2L, null), ("s2", 4L, "dana"), ("s3", 9L, "xy")),
      out)
  }

  test("crossRepoLinks: typed targets, 404 misses kept with null target fields") {
    val srcT = StructType(Seq(
      StructField("number", IntegerType),
      StructField("title", StringType),
      StructField("body", StringType),
      StructField("html_url", StringType),
      StructField("created_at", StringType)))
    val issues = df(srcT,
      Row(1, "dep on foo/bar#12", "", "u1", "2020-01-01T00:00:00Z"),
      Row(2, "", "see https://github.com/baz/qux/pull/3", "u2",
        "2020-02-01T00:00:00Z"))
    val prsEmpty = df(srcT)
    val tgtT = StructType(Seq(
      StructField("repo_name", StringType),
      StructField("number", IntegerType),
      StructField("is_pr", BooleanType),
      StructField("created_at", StringType),
      StructField("url", StringType),
      StructField("author", StringType)))
    // only foo/bar#12 resolves; baz/qux#3 is a 404 → null target kept
    val targets = df(tgtT, Row("foo/bar", 12, false,
      "2019-06-01T00:00:00Z", "tu", "tauthor"))
    val out = Linkers.crossRepoLinks("o/r", issues, prsEmpty, targets)
      .collect().sortBy(_.getAs[Row]("source").getAs[Int]("number"))
    assert(out.length == 2)
    val hit = out(0).getAs[Row]("target")
    assert(hit.getAs[String]("repo_name") == "foo/bar")
    assert(hit.getAs[String]("type") == "issue")
    assert(hit.getAs[String]("author") == "tauthor")
    val miss = out(1).getAs[Row]("target")
    assert(miss.getAs[String]("repo_name") == "baz/qux")
    assert(miss.getAs[String]("type") == "issue") // classify({}) fallback
    assert(miss.getAs[String]("author") == null)
    assert(out(0).getAs[Row]("reference").getAs[String]("found_in") ==
      "issue_title")
  }

  test("same-repo refs are excluded from cross links") {
    val srcT = StructType(Seq(
      StructField("number", IntegerType),
      StructField("title", StringType),
      StructField("body", StringType),
      StructField("html_url", StringType),
      StructField("created_at", StringType)))
    val issues = df(srcT, Row(1, "self O/R#5", "", "u", "2020-01-01T00:00:00Z"))
    val tgtT = StructType(Seq(
      StructField("repo_name", StringType), StructField("number", IntegerType),
      StructField("is_pr", BooleanType), StructField("created_at", StringType),
      StructField("url", StringType), StructField("author", StringType)))
    val out = Linkers.crossRepoLinks("o/r", issues, df(srcT), df(tgtT))
    assert(out.count() == 0)
  }
}
