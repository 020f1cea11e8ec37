package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructField, StructType}

import graft.io.JsonEntities
import graft.model.Entities
import graft.ops.{Blame, Jobs, Linkers}

/** End-to-end per-repo derivation DAG (reference
  * src/retrieval/runner.py:27-77 process_repo): from the raw entity
  * artifacts (repo_meta, issues, pull_requests, contributors,
  * commits — fetched by `ingest.GithubClient` or replayed from disk)
  * derive the three linker datasets plus the repo_blame document, and
  * persist all NINE artifacts deterministically (the reference's
  * tests/test_runner.py:17-34 asserts save_json is called 9×; the
  * Scala twin is PipelineSpec's nine-artifact check).
  *
  * The reference runs repos serially with per-repo crash isolation;
  * here each stage is a DataFrame job, so one repo's artifacts are a
  * partition of a multi-repo lake and repos parallelize as ordinary
  * partitions — the per-repo loop becomes `repos.foreach` on the
  * driver or one job over a repo_name-partitioned input.
  */
object Pipeline {

  /** The raw inputs process_repo consumes (already shaped per
    * model.Entities; point-lookup tables may be empty when no remote
    * fetches are replayed). */
  final case class RepoInputs(
      repoMeta: DataFrame,
      issues: DataFrame,
      pullRequests: DataFrame,
      contributors: DataFrame,
      commits: DataFrame,
      prCommits: DataFrame,
      commitDetails: DataFrame,
      externalIssueDetails: DataFrame,
      targetDetails: DataFrame,
      blameRanges: DataFrame)

  /** The reference's tunable fetch/derive caps (config.py:20-29), all
    * 0 = uncapped like the reference defaults. Page caps apply to the
    * live fetch; the PR cap applies to the linker derivation (W1). */
  final case class Limits(
      maxPrsWithLinkedIssues: Int = 0, // MAX_PRS_WITH_LINKED_ISSUES
      maxPagesPrs: Int = 0, // MAX_PAGES_PRS
      maxPagesCommits: Int = 0) // MAX_PAGES_COMMITS

  /** The nine persisted artifacts (runner.py:36-75 order). */
  final case class RepoOutputs(
      repoMeta: DataFrame,
      issues: DataFrame,
      pullRequests: DataFrame,
      contributors: DataFrame,
      commits: DataFrame,
      prsWithLinkedIssues: DataFrame,
      issuesClosedByCommits: DataFrame,
      crossRepoLinks: DataFrame,
      repoBlame: DataFrame)

  val prCommitsSchema: StructType = StructType(Seq(
    StructField("pr_number", LongType),
    StructField("message", StringType)))
  val commitDetailsSchema: StructType = StructType(Seq(
    StructField("sha", StringType),
    StructField("message", StringType)))
  val issueDetailsSchema: StructType = StructType(Seq(
    StructField("repo_name", StringType),
    StructField("number", LongType),
    StructField("author", StringType)))
  val targetDetailsSchema: StructType = StructType(Seq(
    StructField("repo_name", StringType),
    StructField("number", LongType),
    StructField("is_pr", BooleanType),
    StructField("created_at", StringType),
    StructField("url", StringType),
    StructField("author", StringType)))

  /** Replay shape for raw GraphQL blame ranges: one row per range,
    * with the per-file root commit oid (collectors.py blame payload
    * flattened — in live mode ingest.GithubClient.graphql fills this). */
  val blameRangesSchema: StructType = StructType(Seq(
    StructField("path", StringType),
    StructField("root_commit_oid", StringType),
    StructField("startingLine", LongType),
    StructField("endingLine", LongType),
    StructField("age", LongType),
    StructField("commit", StructType(Seq(
      StructField("oid", StringType),
      StructField("committedDate", StringType),
      StructField("message", StringType),
      StructField("author", StructType(Seq(
        StructField("name", StringType),
        StructField("email", StringType),
        StructField("user", StructType(Seq(
          StructField("login", StringType))))))))))))

  /** P1 — GitHub mixes PRs into /issues; the issues artifact drops
    * them (collectors.py:590). */
  def filterRealIssues(issues: DataFrame): DataFrame =
    if (issues.columns.contains("pull_request"))
      issues.filter(col("pull_request").isNull)
    else issues

  /** A6 — head commit selection: first commit with a SHA in input
    * order (GitHub returns newest-first; collectors.py:312). ONLY
    * valid on frames that preserve API order — a persisted commits
    * artifact is sorted by sha and must use
    * [[headCommitShaByDate]] instead. */
  def headCommitSha(commits: DataFrame): Option[String] = {
    val withSeq = commits
      .withColumn("_seq", monotonically_increasing_id())
      .filter(col("sha").isNotNull)
    withSeq.orderBy(col("_seq")).select(col("sha")).limit(1)
      .collect().headOption.map(_.getString(0))
  }

  /** Head of an order-lost commits frame (the persisted artifact is
    * sorted by sha, so "first row" is the lexicographically smallest
    * sha, not the branch head): newest git date wins, sha-desc
    * tiebreak for determinism. Git dates are client-set and can be
    * skewed — prefer [[headCommitShaOfSnapshot]], which this backs. */
  def headCommitShaByDate(commits: DataFrame): Option[String] = {
    val ts = greatest(col("commit.author.date").cast("timestamp"),
      col("commit.committer.date").cast("timestamp"))
    commits.filter(col("sha").isNotNull)
      .orderBy(ts.desc_nulls_last, col("sha").desc)
      .select(col("sha")).limit(1)
      .collect().headOption.map(_.getString(0))
  }

  /** Head of an order-lost commits snapshot by the commit GRAPH: the
    * branch tip is the one sha never referenced as a parent — robust
    * to client-set date skew, which a newest-date pick is not. Falls
    * back to [[headCommitShaByDate]] when the graph doesn't identify
    * exactly one tip (parents absent from the payload, or a snapshot
    * mixing branch histories). */
  def headCommitShaOfSnapshot(commits: DataFrame): Option[String] = {
    val withSha = commits.filter(col("sha").isNotNull)
    val tips = withSha.select(col("sha"))
      .join(withSha.select(
        explode(coalesce(col("parents.sha"),
          array().cast("array<string>"))).as("sha")),
        Seq("sha"), "left_anti")
      .select(col("sha")).limit(2).collect().map(_.getString(0))
    if (tips.length == 1) Some(tips.head)
    else headCommitShaByDate(commits)
  }

  /** The derivation DAG. Stages mirror runner.py:36-75; fan-ins:
    * (prs, issues) → pr_links, commits → closed_by,
    * (issues, prs) → cross_links, (repo_meta, commits, blame ranges)
    * → repo_blame. */
  def deriveAll(repoName: String, in: RepoInputs,
      generatedAt: String = "",
      limits: Limits = Limits()): RepoOutputs = {
    val repoMeta = JsonEntities.ensureRepoName(in.repoMeta, repoName)
    val issues = filterRealIssues(
      JsonEntities.ensureRepoName(in.issues, repoName))
    val prs = JsonEntities.ensureRepoName(in.pullRequests, repoName)
    val contributors = JsonEntities.ensureRepoName(in.contributors, repoName)
    val commits = JsonEntities.ensureRepoName(in.commits, repoName)

    val prLinks = Linkers.prsWithLinkedIssues(repoName, prs, issues,
      in.prCommits, in.commitDetails, in.externalIssueDetails,
      limits.maxPrsWithLinkedIssues)

    // J2's author lookup feeds from the local issues (plus any
    // replayed remote details, same shape).
    val issueAuthors = issues.select(
      col("repo_name"), col("number"), col("user.login").as("author"))
      .unionByName(in.externalIssueDetails
        .select(col("repo_name"), col("number"), col("author")))
    val closedBy = Linkers.issuesClosedByCommits(repoName, commits,
      issueAuthors)

    val crossLinks = Linkers.crossRepoLinks(repoName, issues, prs,
      in.targetDetails)

    // repo_blame (runner.py:73-75): default branch from repo_meta,
    // head SHA from the commit history (A6), matching-commit detail
    // joined from the commits table (J3's dict-lookup as a broadcast
    // dimension, collectors.py:122-142).
    val defaultBranch = repoMeta.select(col("default_branch"))
      .collect().headOption.flatMap(r => Option(r.getString(0)))
      .getOrElse("main")
    // commit_author is the full git-actor struct (collectors.py:136:
    // matching_commit carries commit["commit"]["author"] verbatim),
    // matching Entities.matchingCommit so persisted docs round-trip
    // through readEntity("repo_blame", ...).
    val blameCommitDetails = commits.select(
      col("sha"),
      col("repo_name"),
      col("html_url"),
      col("author.login").as("author_login"),
      col("commit.author").as("commit_author"),
      col("files_changed"),
      col("files_changed_count"))
    val repoBlame = Blame.repoBlameDoc(repoName, defaultBranch,
      headCommitSha(commits), generatedAt, in.blameRanges,
      blameCommitDetails)

    RepoOutputs(repoMeta, issues, prs, contributors, commits, prLinks,
      closedBy, crossLinks, repoBlame)
  }

  /** Persist all nine artifacts under `outDir/{owner_repo}/` as
    * deterministic sorted JSON (K1 contract; runner.py save_json ×9).
    * The nine writes target independent directories, so they run
    * concurrently (`Jobs.par`); each is still one sorted part file.
    * No output frame may read `outDir/{owner_repo}/` itself — a write
    * would race the reads of its own target. */
  def persist(repoName: String, out: RepoOutputs, outDir: String): Unit = {
    val dir = s"$outDir/${repoName.replace("/", "_")}"
    val writes = Seq(
      (out.repoMeta, "repo_meta", Seq("repo_name")),
      (out.issues, "issues", Seq("number")),
      (out.pullRequests, "pull_requests", Seq("number")),
      (out.contributors, "contributors", Seq("login")),
      (out.commits, "commits", Seq("sha")),
      (out.prsWithLinkedIssues, "prs_with_linked_issues", Seq("pr_number")),
      (out.issuesClosedByCommits, "issues_closed_by_commits",
        Seq("commit_sha", "issue_number")),
      (out.crossRepoLinks, "cross_repo_links",
        Seq("source.number", "target.number")),
      (out.repoBlame, "repo_blame", Seq("repo_name"))
    ).map { case (df, name, keys) =>
      () => JsonEntities.writeDeterministic(df, s"$dir/$name", keys)
    }
    Jobs.par(writes, parallelism = writes.size)
  }

  /** Multi-repo run (runner.py:80-94 main): process each repo with
    * per-repo crash isolation — one repo's failure is recorded and the
    * loop continues, exactly the reference's try/except-per-repo. The
    * serial driver loop is the faithful shape for the reference's
    * 15-repo corpus; at a 10⁵-repo scale the per-repo jobs submit
    * concurrently from a driver thread pool or the inputs union into
    * one repo_name-partitioned job (SURVEY §3.1). */
  def processRepos(spark: SparkSession, repoNames: Seq[String],
      inDir: String, outDir: String,
      generatedAt: String = ""): Map[String, scala.util.Try[RepoOutputs]] =
    repoNames.map { r =>
      r -> scala.util.Try(processRepo(spark, r, inDir, outDir, generatedAt))
    }.toMap

  /** File-replay form of process_repo: read the raw per-entity JSON
    * artifacts under `inDir/{owner_repo}/`, derive, persist all nine
    * outputs.
    * Point-lookup and blame-range inputs default to empty when no
    * replay file exists. */
  def processRepo(spark: SparkSession, repoName: String, inDir: String,
      outDir: String, generatedAt: String = ""): RepoOutputs = {
    val dir = s"$inDir/${repoName.replace("/", "_")}"
    def empty(s: StructType): DataFrame =
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s)
    def readOrEmpty(entity: String, schema: StructType,
        file: String): DataFrame = {
      val p = new java.io.File(s"$dir/$file.json")
      if (p.exists()) JsonEntities.readEntity(spark, entity, p.getAbsolutePath)
      else empty(schema)
    }
    def readRawOrEmpty(schema: StructType, file: String): DataFrame = {
      val p = new java.io.File(s"$dir/$file.json")
      if (p.exists())
        spark.read.schema(schema).option("multiLine", value = true)
          .json(p.getAbsolutePath)
      else empty(schema)
    }
    val in = RepoInputs(
      repoMeta = readOrEmpty("repo_meta", Entities.repoMeta, "repo_meta"),
      issues = readOrEmpty("issues", Entities.issue, "issues"),
      pullRequests =
        readOrEmpty("pull_requests", Entities.pullRequest, "pull_requests"),
      contributors =
        readOrEmpty("contributors", Entities.contributor, "contributors"),
      commits = readOrEmpty("commits", Entities.commit, "commits"),
      prCommits = empty(prCommitsSchema),
      commitDetails = empty(commitDetailsSchema),
      externalIssueDetails = empty(issueDetailsSchema),
      targetDetails = empty(targetDetailsSchema),
      blameRanges = readRawOrEmpty(blameRangesSchema, "blame_ranges"))
    val out = deriveAll(repoName, in, generatedAt)
    persist(repoName, out, outDir)
    out
  }
}
