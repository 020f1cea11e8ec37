package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.SparkSpecBase
import graft.ingest.GithubClient
import graft.model.Entities

/** The live run and the replay derive share one linker implementation:
  * `LivePipeline.processRepoLive` extracts the linker refs once, takes
  * its fetch sets from them and resolves them with the fetched details,
  * and `Pipeline.deriveAll` given the same details must produce the
  * same three linker outputs, row for row.
  *
  * The fixture repo `Org/Repo` exercises every lookup rule at once:
  * a mixed-case self reference (`ORG/REPO#3`), a local issue with a
  * null login that the live run also fetches as external (#2), an
  * external issue found (#5) and one that 404s (#6), a PR target and
  * an issue target, 404 targets, and a poisoned merge SHA (PR 11).
  */
class LinkerEquivalenceSpec extends SparkSpecBase {

  private val api = "https://api.test"
  private val base = s"$api/repos/Org/Repo"
  private val eps = LivePipeline.Endpoints(api, s"$api/graphql")

  private def ok(body: String) = GithubClient.Response(200, Map.empty, body)

  private final class Scripted(rest: Map[String, GithubClient.Response])
      extends GithubClient.Transport {
    @volatile var gets: List[String] = Nil
    def get(url: String, headers: Map[String, String]): GithubClient.Response =
      synchronized {
        gets = gets :+ url
        rest.getOrElse(url, GithubClient.Response(404, body = s"miss: $url"))
      }
    override def post(url: String, headers: Map[String, String],
        body: String): GithubClient.Response =
      GithubClient.Response(200, body = """{"errors":[{"message":"none"}]}""")
  }

  private val issues =
    """[{"number":1,"state":"open","title":"one","body":"needs other/Lib#5",
      |"user":{"login":"alice"},"created_at":"2024-01-01T00:00:00Z"},
      |{"number":2,"state":"open","title":"two","body":"","user":null,
      |"created_at":"2024-01-02T00:00:00Z"},
      |{"number":3,"state":"open","title":"three",
      |"body":"dup of Other/Lib#7 and gone/away#9",
      |"user":{"login":"carol"},"created_at":"2024-01-03T00:00:00Z"}]"""
      .stripMargin.replaceAll("\n", "")

  private val prs =
    """[{"number":10,"title":"Fix one",
      |"body":"Fixes #1. See #2. Also ORG/REPO#3 and other/lib#5 and gone/away#6.",
      |"state":"closed","user":{"login":"dev"},
      |"merged_at":"2024-02-01T00:00:00Z","merge_commit_sha":"good",
      |"html_url":"pr10","created_at":"2024-01-10T00:00:00Z"},
      |{"number":11,"title":"Poisoned","body":"Fixes #1","state":"closed",
      |"user":{"login":"dev"},"merged_at":"2024-02-02T00:00:00Z",
      |"merge_commit_sha":"bad","html_url":"pr11",
      |"created_at":"2024-01-11T00:00:00Z"},
      |{"number":12,"title":"Open","body":"refs #3","state":"open",
      |"user":{"login":"dev2"},"html_url":"pr12",
      |"created_at":"2024-01-12T00:00:00Z"}]"""
      .stripMargin.replaceAll("\n", "")

  private val commits =
    """[{"sha":"c2","html_url":"c2u","author":{"login":"dev"},
      |"commit":{"message":"Closes #2.",
      |"author":{"name":"Dev","date":"2024-02-02T00:00:00Z"}}},
      |{"sha":"c1","html_url":"c1u","author":null,
      |"commit":{"message":"fixes other/lib#5 and #1",
      |"author":{"name":"Dev","date":"2024-02-01T00:00:00Z"}}}]"""
      .stripMargin.replaceAll("\n", "")

  private val corpus: Map[String, GithubClient.Response] = Map(
    s"$base?per_page=100" -> ok(
      """{"full_name":"Org/Repo","default_branch":"main"}"""),
    s"$base/issues?state=all&per_page=100" -> ok(issues),
    s"$base/pulls?state=all&per_page=100" -> ok(prs),
    s"$base/contributors?per_page=100" -> ok("[]"),
    s"$base/commits?per_page=100" -> ok(commits),
    s"$base/pulls/10/commits?per_page=100" -> ok(
      """[{"sha":"p1","commit":{"message":"fix #2 properly"}}]"""),
    s"$base/pulls/11/commits?per_page=100" -> ok("[]"),
    s"$base/pulls/12/commits?per_page=100" -> ok("[]"),
    s"$base/commits/good" -> ok(
      """{"sha":"good","commit":{"message":"Merge: resolves other/lib#8"}}"""),
    s"$base/commits/bad" -> GithubClient.Response(422, body = "bad sha"),
    s"$api/repos/org/repo/issues/2" -> ok(
      """{"user":{"login":"bob2"},"html_url":"i2",
        |"created_at":"2024-01-02T00:00:00Z"}""".stripMargin),
    s"$api/repos/other/lib/issues/5" -> ok(
      """{"user":{"login":"xavier"},"html_url":"l5",
        |"created_at":"2023-01-01T00:00:00Z"}""".stripMargin),
    s"$api/repos/other/lib/issues/7" -> ok(
      """{"user":{"login":"zed"},"html_url":"l7",
        |"created_at":"2023-02-01T00:00:00Z","pull_request":{"url":"x"}}"""
        .stripMargin),
    s"$api/repos/other/lib/issues/8" -> ok(
      """{"user":{"login":"yara"},"html_url":"l8",
        |"created_at":"2023-03-01T00:00:00Z"}""".stripMargin))

  private def rows(df: DataFrame): Seq[String] = df.toJSON.collect().toSeq.sorted

  private def local(schema: StructType, rs: Row*): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rs: _*), schema)

  test("live resolve == deriveAll with the same details, row for row") {
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-linker-eq").toString
    val t = new Scripted(corpus)
    val live = LivePipeline.processRepoLive(spark, t, GithubClient.Config(),
      "Org/Repo", outDir, eps, generatedAt = "2026-01-01T00:00:00Z")

    // the fetch sets the live run took from its extracts: every ref the
    // local issues leave without an author (including the null-login
    // local #2), every cross-repo target, lowercased, each once
    val issueGets = t.gets.filter(_.contains("/issues/")).map(_.stripPrefix(s"$api/repos/"))
    assert(issueGets.sorted == Seq("gone/away/issues/6", "gone/away/issues/9",
      "org/repo/issues/2", "other/lib/issues/5", "other/lib/issues/7",
      "other/lib/issues/8"), issueGets)

    // deriveAll over the persisted raw entities and the details those
    // fetches returned
    def lake(name: String, schema: StructType): DataFrame =
      spark.read.schema(schema).json(s"$outDir/Org_Repo/$name")
    val in = Pipeline.RepoInputs(
      repoMeta = lake("repo_meta", Entities.repoMeta),
      issues = lake("issues", Entities.issue),
      pullRequests = lake("pull_requests", Entities.pullRequest),
      contributors = lake("contributors", Entities.contributor),
      commits = lake("commits", Entities.commit),
      prCommits = local(Pipeline.prCommitsSchema, Row(10L, "fix #2 properly")),
      commitDetails = local(StructType(Pipeline.commitDetailsSchema.fields :+
        StructField("error", StringType)),
        Row("good", "Merge: resolves other/lib#8", null),
        Row("bad", null, "invalid_sha")),
      externalIssueDetails = local(Pipeline.issueDetailsSchema,
        Row("org/repo", 2L, "bob2"), Row("other/lib", 5L, "xavier"),
        Row("gone/away", 6L, null), Row("other/lib", 8L, "yara")),
      targetDetails = local(Pipeline.targetDetailsSchema,
        Row("other/lib", 5L, false, "2023-01-01T00:00:00Z", "l5", "xavier"),
        Row("other/lib", 7L, true, "2023-02-01T00:00:00Z", "l7", "zed")),
      blameRanges = local(Pipeline.blameRangesSchema))
    val derived = Pipeline.deriveAll("Org/Repo", in,
      generatedAt = "2026-01-01T00:00:00Z")

    assert(rows(live.prsWithLinkedIssues) == rows(derived.prsWithLinkedIssues))
    assert(rows(live.issuesClosedByCommits) == rows(derived.issuesClosedByCommits))
    assert(rows(live.crossRepoLinks) == rows(derived.crossRepoLinks))

    // and the rules themselves, on the live output
    val prLinks = live.prsWithLinkedIssues.collect()
    assert(prLinks.map(_.getAs[Long]("pr_number")).toSeq == Seq(10L, 12L),
      "the poisoned PR 11 drops whole")
    val authors = prLinks.head.getAs[scala.collection.Seq[Row]]("links")
      .map(l => (l.getAs[String]("referenced_repo"),
        l.getAs[Long]("issue_number"), l.getAs[String]("issue_author")))
    assert(authors == Seq(
      ("Org/Repo", 1L, "alice"),
      ("Org/Repo", 2L, null), // local null login wins over the lookup
      ("ORG/REPO", 3L, "carol"), // mixed-case self ref resolves locally
      ("other/lib", 5L, "xavier"),
      ("gone/away", 6L, null), // external 404
      ("Org/Repo", 2L, null), // PR commit message
      ("other/lib", 8L, "yara")), // merge commit message
      authors)

    val closed = live.issuesClosedByCommits.collect()
      .map(r => (r.getAs[String]("commit_sha"), r.getAs[Long]("issue_number"),
        Option(r.getAs[String]("issue_author")))).sorted.toSeq
    // one row per closing ref: #2 is local (null login) AND was looked
    // up externally, and the local author wins
    assert(closed == Seq(("c1", 1L, Some("alice")), ("c1", 5L, Some("xavier")),
      ("c2", 2L, None)), closed)

    val targets = live.crossRepoLinks.collect()
      .map { r =>
        val tg = r.getAs[Row]("target")
        (r.getAs[Row]("source").getAs[Long]("number"),
          tg.getAs[String]("repo_name"), tg.getAs[Long]("number"),
          tg.getAs[String]("type"), Option(tg.getAs[String]("author")))
      }.sorted.toSeq
    assert(targets == Seq(
      (1L, "other/Lib", 5L, "issue", Some("xavier")),
      (3L, "Other/Lib", 7L, "pull_request", Some("zed")),
      (3L, "gone/away", 9L, "issue", None),
      (10L, "gone/away", 6L, "issue", None),
      (10L, "other/lib", 5L, "issue", Some("xavier"))), targets)
  }
}
