package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.SparkSpecBase

/** The multi-repo (one partitioned job) linker forms must produce
  * exactly the union of the per-repo runs — the scale path cannot
  * change semantics. Fixtures deliberately cross the repos: repo A's
  * PR references repo B's issue, commit messages auto-close across
  * repos, and cross-links point at each other (so the per-repo key
  * scoping is actually exercised, not just partitioned). */
class MultiRepoLinkersSpec extends SparkSpecBase {

  private def df(schema: StructType, rows: Row*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  private val userT = StructType(Seq(StructField("login", StringType)))
  private val prT = StructType(Seq(
    StructField("repo_name", StringType),
    StructField("number", IntegerType),
    StructField("title", StringType),
    StructField("body", StringType),
    StructField("state", StringType),
    StructField("merged_at", StringType),
    StructField("merge_commit_sha", StringType),
    StructField("html_url", StringType),
    StructField("created_at", StringType),
    StructField("user", userT)))
  private val issueT = StructType(Seq(
    StructField("repo_name", StringType),
    StructField("number", IntegerType),
    StructField("title", StringType),
    StructField("body", StringType),
    StructField("created_at", StringType),
    StructField("html_url", StringType),
    StructField("user", userT)))
  private val prCommitsT = StructType(Seq(
    StructField("repo_name", StringType),
    StructField("pr_number", IntegerType),
    StructField("message", StringType)))
  private val detailT = StructType(Seq(
    StructField("sha", StringType),
    StructField("message", StringType),
    StructField("error", StringType)))
  private val extT = StructType(Seq(
    StructField("repo_name", StringType),
    StructField("number", IntegerType),
    StructField("author", StringType)))
  private val commitT = StructType(Seq(
    StructField("repo_name", StringType),
    StructField("sha", StringType),
    StructField("html_url", StringType),
    StructField("author", userT),
    StructField("commit", StructType(Seq(
      StructField("message", StringType),
      StructField("author", StructType(Seq(
        StructField("name", StringType)))))))))
  private val targetT = StructType(Seq(
    StructField("repo_name", StringType),
    StructField("number", IntegerType),
    StructField("is_pr", BooleanType),
    StructField("created_at", StringType),
    StructField("url", StringType),
    StructField("author", StringType)))

  private val repoA = "org/alpha"
  private val repoB = "org/beta"

  private val issues = df(issueT,
    Row(repoA, 1, "a-one", "see org/beta#5", "2024-01-01T00:00:00Z", "ia1",
      Row("alice")),
    Row(repoA, 2, "a-two", "", "2024-01-02T00:00:00Z", "ia2", Row("amy")),
    Row(repoB, 5, "b-five", "back-ref org/alpha#1", "2024-01-03T00:00:00Z",
      "ib5", Row("bob")),
    Row(repoB, 6, "b-six", "", "2024-01-04T00:00:00Z", "ib6", Row("bea")))

  private val prs = df(prT,
    Row(repoA, 10, "Fix one", "Fixes #1 and closes org/beta#5", "open",
      "2024-02-01T00:00:00Z", "sha-a", "pa10", "2024-01-10T00:00:00Z",
      Row("adev")),
    Row(repoA, 11, "Poisoned", "Fixes #2", "open", null, "sha-bad", "pa11",
      "2024-01-11T00:00:00Z", Row("adev")),
    Row(repoB, 10, "B ten", "resolves #6", "closed", null, null, "pb10",
      "2024-01-12T00:00:00Z", Row("bdev")))

  private val prCommits = df(prCommitsT,
    Row(repoA, 10, "commit closes #2"),
    Row(repoB, 10, "commit fixes org/alpha#2"))

  private val details = df(detailT,
    Row("sha-a", "merge resolves #2", null),
    Row("sha-bad", null, "invalid_sha"))

  private val ext = df(extT, Row("other/ext", 99, "xavier"))

  private val commits = df(commitT,
    Row(repoA, "ca1", "ua1", Row("alice"),
      Row("fixes #1", Row("Alice"))),
    Row(repoA, "ca2", "ua2", Row("amy"),
      Row("closes org/beta#6 too", Row("Amy"))),
    Row(repoB, "cb1", "ub1", Row("bob"),
      Row("resolve #5", Row("Bob"))),
    Row(repoB, "cb2", "ub2", Row("bea"),
      Row("no refs here", Row("Bea"))))

  private val targets = df(targetT,
    Row(repoB, 5, false, "2024-01-03T00:00:00Z", "ib5", "bob"),
    Row(repoA, 1, false, "2024-01-01T00:00:00Z", "ia1", "alice"))

  private def perRepo(r: String, d: DataFrame): DataFrame =
    d.filter(org.apache.spark.sql.functions.col("repo_name") === r)

  private def sortedJson(d: DataFrame): Seq[String] =
    d.toJSON.collect().sorted.toSeq

  test("prsWithLinkedIssuesAll == union of per-repo runs (incl. cap)") {
    // In the per-repo loop a cross-repo ref's author arrives via the
    // REMOTE lookup (linkers.py get_issue_or_pr_details) — modeled by
    // supplying the other repos' issues as external details. The
    // corpus job resolves the same refs from its own local issues, so
    // the two must agree exactly.
    val corpusExt = issues.select(
      org.apache.spark.sql.functions.col("repo_name"),
      org.apache.spark.sql.functions.col("number"),
      org.apache.spark.sql.functions.col("user.login").as("author"))
      .unionByName(ext)
    for (cap <- Seq(0, 1)) {
      val all = Linkers.prsWithLinkedIssuesAll(prs, issues, prCommits,
        details, ext, maxPrs = cap)
      val looped = Seq(repoA, repoB).map { r =>
        Linkers.prsWithLinkedIssues(r, perRepo(r, prs), perRepo(r, issues),
          perRepo(r, prCommits), details, corpusExt, maxPrs = cap)
      }.reduce(_ unionByName _)
      assert(sortedJson(all) == sortedJson(looped), s"cap=$cap")
      if (cap == 0) {
        // the poisoned PR (invalid merge sha) vanished entirely; the
        // cross-repo author resolved from the OTHER repo's issues
        val rows = all.collect()
        assert(!rows.exists(r => r.getAs[String]("repo_name") == repoA &&
          r.getAs[Int]("pr_number") == 11))
        val links = rows.find(r => r.getAs[String]("repo_name") == repoA &&
          r.getAs[Int]("pr_number") == 10).get
          .getAs[scala.collection.Seq[Row]]("links")
        assert(links.exists(l =>
          l.getAs[String]("referenced_repo") == "org/beta" &&
            l.getAs[String]("issue_author") == "bob"))
      }
    }
  }

  test("issuesClosedByCommitsAll == union of per-repo runs") {
    val noExt = df(extT)
    val all = Linkers.issuesClosedByCommitsAll(commits, issues, noExt)
    val looped = Seq(repoA, repoB).map { r =>
      Linkers.issuesClosedByCommits(r, perRepo(r, commits), issues, noExt)
    }.reduce(_ unionByName _)
    assert(sortedJson(all) == sortedJson(looped))
    // bare #1 resolved against the commit's own repo; the explicit
    // org/beta#6 ref from repo A resolved against repo B's issue
    val bySha = all.collect()
      .map(r => r.getAs[String]("commit_sha") -> r).toMap
    assert(bySha("ca1").getAs[String]("referenced_repo") == repoA)
    assert(bySha("ca1").getAs[String]("issue_author") == "alice")
    assert(bySha("ca2").getAs[String]("referenced_repo") == "org/beta")
    assert(bySha("ca2").getAs[String]("issue_author") == "bea")
  }

  test("crossRepoLinksAll == union of per-repo runs; self-refs scoped per row") {
    val all = Linkers.crossRepoLinksAll(issues, prs, targets)
    val looped = Seq(repoA, repoB).map { r =>
      Linkers.crossRepoLinks(r, perRepo(r, issues), perRepo(r, prs), targets)
    }.reduce(_ unionByName _)
    assert(sortedJson(all) == sortedJson(looped))
    // A→B and B→A links both present, each dropping only its OWN repo
    val pairs = all.collect().map(r =>
      (r.getAs[Row]("source").getAs[String]("repo_name"),
        r.getAs[Row]("target").getAs[String]("repo_name"))).toSet
    assert(pairs.contains((repoA, "org/beta")))
    assert(pairs.contains((repoB, "org/alpha")))
  }
}
