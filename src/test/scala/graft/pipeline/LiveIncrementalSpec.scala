package graft.pipeline

import org.apache.spark.sql.Row
import graft.SparkSpecBase
import graft.ingest.GithubClient

/** Incremental live mode (reference collectors.py:572-657 issues /
  * commits `?since=` + merge, 505-518 selective file-metadata
  * enrichment, 280-430 blame head short-circuit and compare-diff
  * partial refresh) — three scripted runs over one output dir:
  *
  *  1. cold: full fetch, commit detail enrichment for every SHA,
  *     full blame.
  *  2. warm, head unchanged: only the `?since=` delta is requested,
  *     no commit re-enrichment, NO tree listing and NO GraphQL (the
  *     head-SHA short-circuit), cached blame re-stamped.
  *  3. warm, head moved: delta commit fetched and selectively
  *     enriched, compare API consulted, ONLY the changed path
  *     re-blamed, unchanged path's cached summary reused.
  *
  * Plus the batching invariant: Spark job count does not grow with
  * the number of fetched detail items (merge SHAs / external refs).
  */
class LiveIncrementalSpec extends SparkSpecBase {

  private val api = "https://api.test"
  private val base = s"$api/repos/o/r"
  private val eps = LivePipeline.Endpoints(api, s"$api/graphql")

  private def page(body: String): GithubClient.Response =
    GithubClient.Response(200, Map.empty, body)

  private class ScriptedGithub(
      rest: Map[String, GithubClient.Response],
      blameByPath: Map[String, String] = Map.empty)
      extends GithubClient.Transport {
    var gets: List[String] = Nil
    var posts: List[String] = Nil
    def get(url: String, headers: Map[String, String]): GithubClient.Response = {
      gets = gets :+ url
      rest.getOrElse(url, GithubClient.Response(404, body = s"miss: $url"))
    }
    override def post(url: String, headers: Map[String, String],
        body: String): GithubClient.Response = {
      posts = posts :+ body
      blameByPath.collectFirst {
        case (p, resp) if body.contains("\"path\":\"" + p + "\"") =>
          GithubClient.Response(200, body = resp)
      }.getOrElse(GithubClient.Response(200,
        body = """{"errors":[{"message":"no blame scripted"}]}"""))
    }
  }

  private def blameBody(root: String, sha: String, endLine: Int,
      date: String): String =
    s"""{"data":{"repository":{"ref":{"target":{
       |  "__typename":"Commit","oid":"$root",
       |  "blame":{"ranges":[
       |    {"startingLine":1,"endingLine":$endLine,"age":1,
       |     "commit":{"oid":"$sha","committedDate":"$date",
       |       "message":"m","author":{"name":"Dev Seven",
       |       "email":null,"user":{"login":"dev7"}}}}]}}}}}}""".stripMargin

  private val issue5v1 =
    """{"number":5,"state":"open","title":"crash","body":"boom",
      |"user":{"login":"reporter5"},"created_at":"2024-01-01T00:00:00Z"}"""
      .stripMargin.replaceAll("\n", "")
  private val issue9 =
    """{"number":9,"state":"open","title":"dep","body":"",
      |"user":{"login":"reporter9"},"created_at":"2024-01-03T00:00:00Z"}"""
      .stripMargin.replaceAll("\n", "")
  private val issue5v2 =
    """{"number":5,"state":"closed","title":"crash (fixed)","body":"boom",
      |"user":{"login":"reporter5"},"created_at":"2024-01-01T00:00:00Z",
      |"updated_at":"2024-03-05T00:10:00Z","closed_at":"2024-03-05T00:10:00Z"}"""
      .stripMargin.replaceAll("\n", "")

  private val pr7 =
    """[{"number":7,"title":"Fix crash","body":"Fixes #5","state":"closed",
      |"user":{"login":"dev7"},"merged_at":"2024-03-01T00:00:00Z",
      |"merge_commit_sha":"msha","html_url":"pr7-url",
      |"created_at":"2024-02-01T00:00:00Z"}]""".stripMargin.replaceAll("\n", "")

  private val c1 =
    """{"sha":"c1","html_url":"c1-url","author":{"login":"dev7"},
      |"commit":{"message":"closes #5",
      |"author":{"name":"Dev Seven","date":"2024-02-01T00:00:00Z"}}}"""
      .stripMargin.replaceAll("\n", "")
  private val c2 =
    """{"sha":"c2","html_url":"c2-url","author":{"login":"dev7"},
      |"commit":{"message":"more work",
      |"author":{"name":"Dev Seven","date":"2024-03-01T00:00:00Z"}}}"""
      .stripMargin.replaceAll("\n", "")

  private val common: Map[String, GithubClient.Response] = Map(
    s"$base?per_page=100" -> page(
      """{"full_name":"o/r","default_branch":"trunk"}"""),
    s"$base/pulls?state=all&per_page=100" -> page(pr7),
    s"$base/contributors?per_page=100" -> page(
      """[{"login":"dev7","contributions":10}]"""),
    s"$base/pulls/7/commits?per_page=100" -> page("[]"),
    s"$base/commits/msha" -> page(
      """{"sha":"msha","commit":{"message":"merge fixes"}}"""))

  private def run(t: ScriptedGithub, outDir: String): Pipeline.RepoOutputs =
    LivePipeline.processRepoLive(spark, t, GithubClient.Config(), "o/r",
      outDir, eps, generatedAt = "2026-01-01T00:00:00Z")

  test("incremental refresh: delta fetch, selective enrich, blame reuse") {
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-live-incr").toString

    // ---- run 1: cold, full fetch ----
    val t1 = new ScriptedGithub(common ++ Map(
      s"$base/issues?state=all&per_page=100" -> page(s"[$issue5v1,$issue9]"),
      s"$base/commits?per_page=100" -> page(s"[$c1]"),
      s"$base/commits/c1" -> page(
        """{"sha":"c1","files":[{"filename":"src/a.js"}],
          |"stats":{"additions":5,"deletions":1,"total":6}}"""
          .stripMargin.replaceAll("\n", "")),
      s"$base/git/trees/trunk?recursive=1" -> page(
        """{"tree":[{"path":"src/a.js","type":"blob"}]}""")),
      Map("src/a.js" ->
        blameBody("root1", "c1", 12, "2024-02-01T00:00:00Z")))
    val out1 = run(t1, outDir)

    // full mode enriches every commit SHA with file metadata
    assert(t1.gets.contains(s"$base/commits/c1"))
    val c1Row = out1.commits.collect().head
    assert(c1Row.getAs[scala.collection.Seq[String]]("files_changed")
      == Seq("src/a.js"))
    assert(c1Row.getAs[Long]("files_changed_count") == 1L)
    assert(c1Row.getAs[Row]("stats").getAs[Long]("total") == 6L)
    val blame1 = out1.repoBlame.collect().head
    assert(blame1.getAs[String]("head_commit_sha") == "c1")
    assert(blame1.getAs[scala.collection.Seq[Row]]("files")
      .map(_.getAs[String]("path")) == Seq("src/a.js"))

    // ---- run 2: warm, head unchanged ----
    // issues watermark: max created 2024-01-03 − 300 s lookback;
    // commits watermark: c1 author date 2024-02-01 − 300 s.
    val issuesSince =
      s"$base/issues?state=all&since=2024-01-02T23%3A55%3A00Z&per_page=100"
    val commitsSince =
      s"$base/commits?since=2024-01-31T23%3A55%3A00Z&per_page=100"
    val t2 = new ScriptedGithub(common ++ Map(
      issuesSince -> page(s"[$issue5v2]"),
      commitsSince -> page("[]")))
    val out2 = run(t2, outDir)

    // the delta URLs were requested, the full listings were not
    assert(t2.gets.contains(issuesSince))
    assert(t2.gets.contains(commitsSince))
    assert(!t2.gets.contains(s"$base/issues?state=all&per_page=100"))
    assert(!t2.gets.contains(s"$base/commits?per_page=100"))
    // head unchanged: no tree listing, no GraphQL, no re-enrichment
    assert(!t2.gets.exists(_.contains("/git/trees/")), t2.gets.toString)
    assert(t2.posts.isEmpty)
    assert(!t2.gets.contains(s"$base/commits/c1"))

    // fetched-wins merge: issue 5 updated, issue 9 retained
    val issues2 = out2.issues.collect()
      .map(r => r.getAs[Long]("number") -> r).toMap
    assert(issues2.keySet == Set(5L, 9L))
    assert(issues2(5L).getAs[String]("title") == "crash (fixed)")
    assert(issues2(5L).getAs[String]("state") == "closed")
    assert(issues2(9L).getAs[Row]("user").getAs[String]("login")
      == "reporter9")
    // cached enrichment survives the merge
    val commits2 = out2.commits.collect()
    assert(commits2.length == 1)
    assert(commits2.head.getAs[scala.collection.Seq[String]]("files_changed")
      == Seq("src/a.js"))
    // blame doc reused wholesale, stamp refreshed
    val blame2 = out2.repoBlame.collect().head
    assert(blame2.getAs[String]("head_commit_sha") == "c1")
    val files2 = blame2.getAs[scala.collection.Seq[Row]]("files")
    assert(files2.map(_.getAs[String]("path")) == Seq("src/a.js"))
    assert(files2.head.getAs[Long]("total_lines") == 12L)

    // ---- run 3: warm, head moved c1 → c2 ----
    // issues watermark now from issue5v2's updated_at 2024-03-05T00:10.
    val issuesSince3 =
      s"$base/issues?state=all&since=2024-03-05T00%3A05%3A00Z&per_page=100"
    val t3 = new ScriptedGithub(common ++ Map(
      issuesSince3 -> page("[]"),
      commitsSince -> page(s"[$c2]"),
      s"$base/commits/c2" -> page(
        """{"sha":"c2","files":[{"filename":"src/b.js"}],
          |"stats":{"additions":3,"deletions":0,"total":3}}"""
          .stripMargin.replaceAll("\n", "")),
      s"$base/git/trees/trunk?recursive=1" -> page(
        """{"tree":[{"path":"src/a.js","type":"blob"},
          |{"path":"src/b.js","type":"blob"}]}"""
          .stripMargin.replaceAll("\n", "")),
      s"$base/compare/c1...c2" -> page(
        """{"files":[{"filename":"src/b.js","status":"added"}]}""")),
      Map("src/b.js" ->
        blameBody("root2", "c2", 5, "2024-03-01T00:00:00Z")))
    val out3 = run(t3, outDir)

    // compare API consulted; only the NEW sha enriched
    assert(t3.gets.contains(s"$base/compare/c1...c2"))
    assert(t3.gets.contains(s"$base/commits/c2"))
    assert(!t3.gets.contains(s"$base/commits/c1"))
    // only the changed path re-blamed
    assert(t3.posts.length == 1, t3.posts.toString)
    assert(t3.posts.head.contains("src/b.js"))

    val commits3 = out3.commits.collect()
      .map(r => r.getAs[String]("sha") -> r).toMap
    assert(commits3.keySet == Set("c1", "c2"))
    assert(commits3("c2").getAs[scala.collection.Seq[String]]("files_changed")
      == Seq("src/b.js"))
    assert(commits3("c1").getAs[scala.collection.Seq[String]]("files_changed")
      == Seq("src/a.js"))

    // merged blame doc: cached a.js entry + fresh b.js entry, by path
    val blame3 = out3.repoBlame.collect().head
    assert(blame3.getAs[String]("head_commit_sha") == "c2")
    val files3 = blame3.getAs[scala.collection.Seq[Row]]("files")
    assert(files3.map(_.getAs[String]("path"))
      == Seq("src/a.js", "src/b.js"))
    assert(files3(0).getAs[Long]("total_lines") == 12L)
    assert(files3(0).getAs[String]("root_commit_oid") == "root1")
    assert(files3(1).getAs[Long]("total_lines") == 5L)
    assert(files3(1).getAs[String]("root_commit_oid") == "root2")

    // ---- run 4: TWO cached commits {c1, c2}, empty delta ----
    // The persisted commits artifact is sorted by sha, so the head
    // fallback must pick by git DATE (c2), not by row order (c1) —
    // the short-circuit depends on it.
    val issuesSince4 =
      s"$base/issues?state=all&since=2024-03-05T00%3A05%3A00Z&per_page=100"
    val commitsSince4 = // 2024 is a leap year: 03-01 − 300 s = 02-29
      s"$base/commits?since=2024-02-29T23%3A55%3A00Z&per_page=100"
    val t4 = new ScriptedGithub(common ++ Map(
      issuesSince4 -> page("[]"),
      commitsSince4 -> page("[]")))
    val out4 = run(t4, outDir)
    assert(t4.gets.contains(commitsSince4), t4.gets.toString)
    assert(!t4.gets.exists(_.contains("/git/trees/")),
      "head-SHA short-circuit must fire with a multi-commit cache")
    assert(t4.posts.isEmpty)
    assert(out4.repoBlame.collect().head
      .getAs[String]("head_commit_sha") == "c2")
  }

  test("failed compare API falls back to refreshing every desired path") {
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-live-cmpfail").toString
    // run 1: cold, one blamed file
    val t1 = new ScriptedGithub(common ++ Map(
      s"$base/issues?state=all&per_page=100" -> page(s"[$issue5v1]"),
      s"$base/commits?per_page=100" -> page(s"[$c1]"),
      s"$base/git/trees/trunk?recursive=1" -> page(
        """{"tree":[{"path":"src/a.js","type":"blob"}]}""")),
      Map("src/a.js" ->
        blameBody("root1", "c1", 12, "2024-02-01T00:00:00Z")))
    run(t1, outDir)

    // run 2: head moved, compare 500s → planRefresh refreshes ALL
    // desired paths (collectors.py:346-347), cached entries dropped
    val commitsSince =
      s"$base/commits?since=2024-01-31T23%3A55%3A00Z&per_page=100"
    // issue 5 created 2024-01-01 is the only timestamp → watermark
    // minus the 300 s lookback
    val issuesSince1 =
      s"$base/issues?state=all&since=2023-12-31T23%3A55%3A00Z&per_page=100"
    val t2 = new ScriptedGithub(common ++ Map(
      issuesSince1 -> page("[]"),
      commitsSince -> page(s"[$c2]"),
      s"$base/git/trees/trunk?recursive=1" -> page(
        """{"tree":[{"path":"src/a.js","type":"blob"},
          |{"path":"src/b.js","type":"blob"}]}"""
          .stripMargin.replaceAll("\n", "")),
      s"$base/compare/c1...c2" -> GithubClient.Response(500)),
      Map(
        "src/a.js" -> blameBody("root1b", "c2", 11, "2024-03-01T00:00:00Z"),
        "src/b.js" -> blameBody("root2", "c2", 5, "2024-03-01T00:00:00Z")))
    val out2 = run(t2, outDir)
    assert(t2.gets.contains(issuesSince1), t2.gets.filter(_.contains("issues")))
    assert(t2.gets.contains(s"$base/compare/c1...c2"))
    // BOTH paths re-blamed: the cached a.js summary was not trusted
    assert(t2.posts.length == 2, t2.posts.map(_.take(80)).toString)
    val files = out2.repoBlame.collect().head
      .getAs[scala.collection.Seq[Row]]("files")
    assert(files.map(_.getAs[String]("path"))
      == Seq("src/a.js", "src/b.js"))
    // a.js carries the FRESH blame (11 lines, new root), not the cache
    assert(files(0).getAs[Long]("total_lines") == 11L)
    assert(files(0).getAs[String]("root_commit_oid") == "root1b")
  }

  test("empty cached artifacts fall back to a full fetch") {
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-live-emptycache").toString
    // run 1: repo with zero issues/commits — artifacts persist empty
    val t1 = new ScriptedGithub(common ++ Map(
      s"$base/issues?state=all&per_page=100" -> page("[]"),
      s"$base/commits?per_page=100" -> page("[]"),
      s"$base/git/trees/trunk?recursive=1" -> page(
        """{"tree":[]}""")))
    run(t1, outDir)
    assert(new java.io.File(s"$outDir/o_r/issues").isDirectory)

    // run 2: no watermark is derivable from an empty cache, so the
    // FULL listing is fetched (collectors.py:583 `incremental = bool(
    // cached_map and latest_ts)`), never a ?since= URL
    val t2 = new ScriptedGithub(common ++ Map(
      s"$base/issues?state=all&per_page=100" -> page(s"[$issue5v1]"),
      s"$base/commits?per_page=100" -> page(s"[$c1]"),
      s"$base/commits/c1" -> page(
        """{"sha":"c1","files":[{"filename":"src/a.js"}],
          |"stats":{"additions":1,"deletions":0,"total":1}}"""
          .stripMargin.replaceAll("\n", "")),
      s"$base/git/trees/trunk?recursive=1" -> page(
        """{"tree":[{"path":"src/a.js","type":"blob"}]}""")),
      Map("src/a.js" ->
        blameBody("root1", "c1", 12, "2024-02-01T00:00:00Z")))
    val out2 = run(t2, outDir)
    assert(t2.gets.contains(s"$base/issues?state=all&per_page=100"))
    assert(t2.gets.contains(s"$base/commits?per_page=100"))
    assert(!t2.gets.exists(_.contains("since=")), t2.gets.toString)
    assert(out2.issues.count() == 1)
    assert(out2.commits.count() == 1)
  }

  test("partial ?since= delta is discarded, not merged") {
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-live-partial").toString
    val t1 = new ScriptedGithub(common ++ Map(
      s"$base/issues?state=all&per_page=100" -> page(s"[$issue5v1,$issue9]"),
      s"$base/commits?per_page=100" -> page(s"[$c1]"),
      s"$base/git/trees/trunk?recursive=1" -> page(
        """{"tree":[{"path":"src/a.js","type":"blob"}]}""")),
      Map("src/a.js" ->
        blameBody("root1", "c1", 12, "2024-02-01T00:00:00Z")))
    run(t1, outDir)

    // run 2: the issues delta's page 1 succeeds but its rel=next page
    // terminally 500s — merging the partial page would advance the
    // next watermark past the lost updates forever, so the cache must
    // be kept as-is.
    val issuesSince =
      s"$base/issues?state=all&since=2024-01-02T23%3A55%3A00Z&per_page=100"
    val commitsSince =
      s"$base/commits?since=2024-01-31T23%3A55%3A00Z&per_page=100"
    val t2 = new ScriptedGithub(common ++ Map(
      issuesSince -> GithubClient.Response(200,
        Map("Link" -> s"""<$base/issues?state=all&page=2>; rel="next""""),
        s"[$issue5v2]"),
      s"$base/issues?state=all&page=2&per_page=100" ->
        GithubClient.Response(500),
      commitsSince -> page("[]")))
    val out2 = LivePipeline.processRepoLive(spark, t2,
      GithubClient.Config(maxRetries = 0), "o/r", outDir, eps,
      generatedAt = "2026-01-01T00:00:00Z")
    val issues2 = out2.issues.collect()
      .map(r => r.getAs[Long]("number") -> r.getAs[String]("title")).toMap
    // the v2 update from the partial page was NOT applied
    assert(issues2 == Map(5L -> "crash", 9L -> "dep"), issues2)
  }

  test("overlapping external-ref and target lookups fetch once (memo)") {
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-live-memo").toString
    val t = new ScriptedGithub(fleetFixture(2),
      Map("src/a.js" -> blameBody("root1", "c1", 12, "2024-02-01T00:00:00Z")))
    run(t, outDir)
    // each PR body "Fixes ext/libN#1" creates BOTH an external linked
    // issue and a cross-repo-link target for the same (repo, number)
    for (i <- 1 to 2) {
      val url = s"$api/repos/ext/lib$i/issues/1"
      assert(t.gets.count(_ == url) == 1,
        s"$url fetched ${t.gets.count(_ == url)} times")
    }
  }

  // ---- batching invariant (Task: one parse per detail class) ----

  private def fleetFixture(n: Int): Map[String, GithubClient.Response] = {
    val prsJson = (1 to n).map(i =>
      s"""{"number":${100 + i},"title":"t$i","body":"Fixes ext/lib$i#1",
         |"state":"closed","user":{"login":"dev"},"merge_commit_sha":"m$i",
         |"created_at":"2024-02-01T00:00:00Z"}"""
        .stripMargin.replaceAll("\n", "")).mkString("[", ",", "]")
    Map(
      s"$base?per_page=100" -> page(
        """{"full_name":"o/r","default_branch":"trunk"}"""),
      s"$base/issues?state=all&per_page=100" -> page(s"[$issue5v1]"),
      s"$base/pulls?state=all&per_page=100" -> page(prsJson),
      s"$base/contributors?per_page=100" -> page("[]"),
      s"$base/commits?per_page=100" -> page(s"[$c1]"),
      s"$base/git/trees/trunk?recursive=1" -> page(
        """{"tree":[{"path":"src/a.js","type":"blob"}]}""")) ++
      (1 to n).flatMap(i => Seq(
        s"$base/pulls/${100 + i}/commits?per_page=100" -> page("[]"),
        s"$base/commits/m$i" -> page(
          s"""{"sha":"m$i","commit":{"message":"merge $i"}}"""),
        s"$api/repos/ext/lib$i/issues/1" -> page(
          s"""{"number":1,"user":{"login":"ext$i"},
             |"html_url":"u$i","created_at":"2024-01-01T00:00:00Z"}"""
            .stripMargin.replaceAll("\n", "")))).toMap
  }

  private def countJobs(n: Int): Int = {
    val outDir = java.nio.file.Files
      .createTempDirectory(s"graft-live-jobs$n").toString
    val t = new ScriptedGithub(fleetFixture(n),
      Map("src/a.js" -> blameBody("root1", "c1", 12, "2024-02-01T00:00:00Z")))
    // Jobs are counted inside a dedicated (thread-local) job group so
    // suites running in parallel in the same session don't pollute the
    // count.
    val group = s"live-jobs-$n-${System.nanoTime()}"
    spark.sparkContext.setJobGroup(group, "live job-count probe")
    try run(t, outDir)
    finally spark.sparkContext.clearJobGroup()
    spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
  }

  test("driver job count is constant in the number of detail items") {
    // 2 vs 10 merge SHAs / external refs / targets: every detail class
    // parses in ONE batched read, so the per-item HTTP loop adds zero
    // Spark jobs — a job-per-response storm (the regressed shape: ≥2
    // jobs per extra item, +16 here) cannot slip back in. Tolerance ±2
    // absorbs AQE's run-to-run job-count jitter on tiny frames.
    val jobsSmall = countJobs(2)
    val jobsBig = countJobs(10)
    assert(jobsBig <= jobsSmall + 2,
      s"job count grew with item count: $jobsSmall -> $jobsBig")
  }

  // ---- refresh vs cold crawl over one evolving corpus ----
  // cold: issues 5 (v1) and 9, commit c1 touching src/a.js. The delta
  // updates issue 5 and adds commit c2, which adds src/b.js; the blame
  // of src/a.js does not change.

  private val c1Detail = page(
    """{"sha":"c1","files":[{"filename":"src/a.js"}],
      |"stats":{"additions":5,"deletions":1,"total":6}}"""
      .stripMargin.replaceAll("\n", ""))
  private val c2Detail = page(
    """{"sha":"c2","files":[{"filename":"src/b.js"}],
      |"stats":{"additions":3,"deletions":0,"total":3}}"""
      .stripMargin.replaceAll("\n", ""))
  private val treeA = page("""{"tree":[{"path":"src/a.js","type":"blob"}]}""")
  private val treeAB = page(
    """{"tree":[{"path":"src/a.js","type":"blob"},
      |{"path":"src/b.js","type":"blob"}]}""".stripMargin.replaceAll("\n", ""))
  private val blames = Map(
    "src/a.js" -> blameBody("root1", "c1", 12, "2024-02-01T00:00:00Z"),
    "src/b.js" -> blameBody("root2", "c2", 5, "2024-03-01T00:00:00Z"))
  private val coldCorpus = common ++ Map(
    s"$base/issues?state=all&per_page=100" -> page(s"[$issue5v1,$issue9]"),
    s"$base/commits?per_page=100" -> page(s"[$c1]"),
    s"$base/commits/c1" -> c1Detail,
    s"$base/git/trees/trunk?recursive=1" -> treeA)
  private val deltaCorpus = common ++ Map(
    s"$base/issues?state=all&since=2024-01-02T23%3A55%3A00Z&per_page=100" ->
      page(s"[$issue5v2]"),
    s"$base/commits?since=2024-01-31T23%3A55%3A00Z&per_page=100" ->
      page(s"[$c2]"),
    s"$base/commits/c2" -> c2Detail,
    s"$base/git/trees/trunk?recursive=1" -> treeAB,
    s"$base/compare/c1...c2" -> page(
      """{"files":[{"filename":"src/b.js","status":"added"}]}"""))
  private val finalCorpus = common ++ Map(
    s"$base/issues?state=all&per_page=100" -> page(s"[$issue5v2,$issue9]"),
    s"$base/commits?per_page=100" -> page(s"[$c2,$c1]"),
    s"$base/commits/c1" -> c1Detail,
    s"$base/commits/c2" -> c2Detail,
    s"$base/git/trees/trunk?recursive=1" -> treeAB)

  private val artifacts = Seq("repo_meta", "issues", "pull_requests",
    "contributors", "commits", "prs_with_linked_issues",
    "issues_closed_by_commits", "cross_repo_links", "repo_blame")

  test("a refresh writes the same nine artifacts as a cold crawl") {
    val refreshed = java.nio.file.Files
      .createTempDirectory("graft-live-refreshed").toString
    run(new ScriptedGithub(coldCorpus, blames), refreshed)
    val t = new ScriptedGithub(deltaCorpus, blames)
    run(t, refreshed)
    // it really was the incremental path: only b.js was re-blamed
    assert(t.posts.length == 1 && t.posts.head.contains("src/b.js"),
      t.posts.toString)
    val cold = java.nio.file.Files
      .createTempDirectory("graft-live-cold").toString
    run(new ScriptedGithub(finalCorpus, blames), cold)
    def part(root: String, name: String): String = {
      val parts = new java.io.File(s"$root/o_r/$name").listFiles()
        .filter(_.getName.startsWith("part-"))
      assert(parts.length == 1, s"$root/$name")
      new String(java.nio.file.Files.readAllBytes(parts.head.toPath), "UTF-8")
    }
    for (name <- artifacts)
      assert(part(refreshed, name) == part(cold, name), name)
    assert(part(cold, "issues").contains("crash (fixed)"))
    assert(part(cold, "repo_blame").contains("src/b.js"))
  }

  test("refresh job budget: head-moving delta on the fixture repo") {
    // A refresh snapshots its inputs once, so the nine writes, the
    // linker resolve and the blame assembly do not re-run the JSON
    // parse, merge window and enrichment joins; the linker scans run
    // once; each artifact sorts in one stage; the blame response check,
    // refresh plan and doc assembly run on the driver. Budget = the
    // measured 59 jobs plus the same ±2 AQE slack as the job-count test
    // above; raising it needs a reason.
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-live-budget").toString
    run(new ScriptedGithub(coldCorpus, blames), outDir)
    val group = s"live-refresh-${System.nanoTime()}"
    spark.sparkContext.setJobGroup(group, "live refresh budget")
    try run(new ScriptedGithub(deltaCorpus, blames), outDir)
    finally spark.sparkContext.clearJobGroup()
    val jobs = spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
    assert(jobs <= 59 + 2, s"refresh ran $jobs Spark jobs")
  }

  test("full pipeline: retrieval completes, then the lake indexes") {
    // pipeline/runner.py:11-14 — one call fetches the corpus live and
    // bulk-indexes every produced artifact.
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-full-out").toString
    val sink = java.nio.file.Files
      .createTempDirectory("graft-full-sink").toString
    val t = new ScriptedGithub(fleetFixture(2),
      Map("src/a.js" -> blameBody("root1", "c1", 12, "2024-02-01T00:00:00Z")))
    var ensured: List[String] = Nil
    val res = FullPipeline.run(spark, t, GithubClient.Config(),
      Seq("o/r"), outDir, new graft.io.BulkSink.FileTransport(sink),
      eps, indexPrefix = "gh_", generatedAt = "2026-01-01T00:00:00Z",
      ensureIndex = (n, m) => { assert(m.isDefined, n); ensured = ensured :+ n })
    assert(res.fetched("o/r").isSuccess)
    assert(ensured.length == 9)
    // the fetched lake landed in the store: issues + commits keyed
    assert(res.indexed("issues").ok == 1L)
    assert(res.indexed("commits").ok == 1L)
    assert(res.indexed("repo_blame").ok >= 1L)
    assert(res.indexed.values.forall(_.failed == 0L))
  }

  test("per-endpoint caps: MAX_PAGES_PRS and MAX_PRS_WITH_LINKED_ISSUES") {
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-live-caps").toString
    // pulls paginates to a second page that the cap must never request
    val page2 = s"$base/pulls?state=all&page=2&per_page=100"
    val fixture = fleetFixture(2) +
      (s"$base/pulls?state=all&per_page=100" -> GithubClient.Response(200,
        Map("Link" -> s"""<$base/pulls?state=all&page=2>; rel="next""""),
        """[{"number":101,"title":"t1","body":"Fixes #5","state":"closed",
          |"user":{"login":"dev"},"merge_commit_sha":"m1",
          |"created_at":"2024-02-01T00:00:00Z"},
          |{"number":102,"title":"t2","body":"Fixes #5","state":"closed",
          |"user":{"login":"dev"},"merge_commit_sha":"m2",
          |"created_at":"2024-03-01T00:00:00Z"}]"""
          .stripMargin.replaceAll("\n", "")))
    val t = new ScriptedGithub(fixture,
      Map("src/a.js" -> blameBody("root1", "c1", 12, "2024-02-01T00:00:00Z")))
    val out = LivePipeline.processRepoLive(spark, t,
      GithubClient.Config(), "o/r", outDir, eps,
      generatedAt = "2026-01-01T00:00:00Z",
      limits = Pipeline.Limits(
        maxPrsWithLinkedIssues = 1, maxPagesPrs = 1))
    // page cap: the rel=next page was never fetched
    assert(!t.gets.contains(page2), t.gets.filter(_.contains("pulls")))
    // derive cap (W1): only the newest PR carries links
    val links = out.prsWithLinkedIssues.collect()
    assert(links.map(_.getAs[Long]("pr_number")).toSeq == Seq(102L))
    // the raw pull_requests artifact itself stays uncapped
    assert(out.pullRequests.count() == 2)
  }

  test("parallel multi-repo run overlaps repos and matches serial results") {
    // HTTP-latency-bound fetches: a transport that sleeps per GET and
    // counts in-flight requests proves two repos actually overlap.
    val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxInFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    val t = new GithubClient.Transport {
      def get(url: String,
          headers: Map[String, String]): GithubClient.Response = {
        val n = inFlight.incrementAndGet()
        maxInFlight.updateAndGet(m => math.max(m, n))
        try { Thread.sleep(30); GithubClient.Response(404) }
        finally inFlight.decrementAndGet()
      }
    }
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-live-par").toString
    val res = LivePipeline.processReposLive(spark, t,
      GithubClient.Config(maxRetries = 0), Seq("p/one", "p/two"), outDir,
      eps, generatedAt = "2026-01-01T00:00:00Z", parallelism = 2)
    // all-404 fetches still derive (empty) artifacts per repo
    assert(res.values.forall(_.isSuccess))
    assert(res.keySet == Set("p/one", "p/two"))
    assert(maxInFlight.get() >= 2,
      s"repos never overlapped (max in-flight ${maxInFlight.get()})")
    for (r <- Seq("p_one", "p_two"))
      assert(new java.io.File(s"$outDir/$r/issues").isDirectory, r)
  }

  test("multi-repo live run isolates per-repo failures") {
    // runner.py:88-92 — the first repo's transport explodes mid-fetch;
    // the second repo still produces all nine artifacts.
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-live-multi").toString
    val t = new ScriptedGithub(fleetFixture(2),
      Map("src/a.js" ->
        blameBody("root1", "c1", 12, "2024-02-01T00:00:00Z"))) {
      override def get(url: String,
          headers: Map[String, String]): GithubClient.Response =
        if (url.contains("/repos/bad/"))
          throw new RuntimeException("scripted transport crash")
        else super.get(url, headers)
    }
    val res = LivePipeline.processReposLive(spark, t,
      GithubClient.Config(), Seq("bad/crash", "o/r"), outDir, eps,
      generatedAt = "2026-01-01T00:00:00Z")
    assert(res("bad/crash").isFailure)
    assert(res("o/r").isSuccess)
    for (name <- Seq("repo_meta", "issues", "pull_requests", "contributors",
        "commits", "prs_with_linked_issues", "issues_closed_by_commits",
        "cross_repo_links", "repo_blame"))
      assert(new java.io.File(s"$outDir/o_r/$name").isDirectory, name)
  }
}
