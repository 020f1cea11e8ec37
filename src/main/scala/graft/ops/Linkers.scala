package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.TextRefs.{extract_issue_refs, extract_cross_repo_refs}

/** The three derived-entity pipelines (reference linkers.py), re-expressed
  * as distributed DataFrame transforms.
  *
  * The reference's per-PR loops with dict caches become: dedup → (broadcast)
  * left joins. The remote point-lookups (get_issue_or_pr_details,
  * get_pr_commits, get_commit_detail) become *input DataFrames* supplied by
  * the ingestion layer — batch fetch of the deduplicated key set replaces
  * the memo dict (SURVEY §2.1 S4/S5), so the linkers themselves are pure
  * and shuffle only on small, already-aggregated keys.
  *
  * Each linker is two halves: *extract* (the regex scans and the
  * PR/commit joins; no lookup input) and *resolve* (the author or
  * target lookup joined onto the extracted refs). The composed form
  * is resolve ∘ extract. A live run extracts once, takes its fetch
  * sets from the extracted refs, and resolves them with the fetched
  * details — so every author and target rule has one implementation.
  *
  * Each pipeline's PRIMARY form is multi-repo (`*All`): every input
  * carries a `repo_name` column and every key includes it, so a whole
  * corpus of repositories derives in ONE repo_name-partitioned job —
  * the 100 TB shape, where a driver loop of per-repo jobs would
  * serialize on scheduling. The single-repo API (the reference's
  * process_repo granularity) is a thin wrapper that stamps the literal
  * repo_name and delegates.
  */
object Linkers {

  private def lowerRepo(c: Column): Column = lower(c)

  private def colOr(df: DataFrame, name: String, default: Column): Column =
    if (df.columns.contains(name)) col(name) else default

  /** merged flag: bool(merged_at) when the column exists, else the bare
    * `merged` boolean (linkers.py:82). */
  private def mergedFlag(prs: DataFrame): Column =
    if (prs.columns.contains("merged_at")) col("merged_at").isNotNull
    else coalesce(colOr(prs, "merged", lit(false)), lit(false))

  /** Stamp (overwrite) the repo_name literal for the single-repo
    * wrappers — the per-repo form treats every row as this repo,
    * exactly like the reference's per-repo loop. */
  private def stamped(df: DataFrame, repoName: String): DataFrame =
    df.withColumn("repo_name", lit(repoName))

  /** Input-order sequence column for Python-stable-sort tiebreaks:
    * respected if the reader attached `_seq`, else derived from
    * `monotonically_increasing_id` (input-order-faithful within each
    * split; exact cross-split parity holds on single-split replay
    * input — multi-split readers that need it supply `_seq`). */
  private def withSeq(df: DataFrame): DataFrame =
    if (df.columns.contains("_seq")) df
    else df.withColumn("_seq", monotonically_increasing_id())

  /** Per-repo newest-N cap on the PR scan (linkers.py:66-72), applied
    * within each repo_name partition as the reference caps per repo:
    * sort key is created_at, falling back to updated_at then "".
    * `_seq` (input order) breaks ties exactly like Python's stable
    * sort. Pure plan construction — no Spark job runs here. */
  def newestPrsAll(prs: DataFrame, maxPrs: Int): DataFrame = {
    val seqd = withSeq(prs)
    if (maxPrs <= 0) seqd
    else {
      val w = Window.partitionBy(col("repo_name")).orderBy(
        coalesce(col("created_at"), colOr(prs, "updated_at", lit(null)),
          lit("")).desc,
        col("_seq").asc)
      seqd.withColumn("_cap_rn", row_number().over(w))
        .filter(col("_cap_rn") <= maxPrs)
        .drop("_cap_rn")
    }
  }

  /** Squash-guard (linkers.py:112-119): scan the merge commit unless the
    * body is present, ≥10 chars, and mentions "squash". */
  def mergeScanAllowed(body: Column): Column =
    body.isNull || length(body) < 10 || !lower(body).contains("squash")

  /** The extract half of find_prs_with_linked_issues: the (capped,
    * poison-filtered) PR rows and one row per issue ref found in them.
    * Both frames carry `repo_name` and `pr_number`; `refs` holds the
    * ref's (src_rank, pos) order, target and flags but no author —
    * the author lookup is [[resolvePrLinks]]'s. */
  final case class PrRefs(prs: DataFrame, refs: DataFrame)

  /** Extract half of [[prsWithLinkedIssuesAll]]: newest-N cap, whole-PR
    * drop on a bad merge SHA, and the regex scans of PR text, PR
    * commit messages and the squash-guarded merge commit.
    *
    * @param prs            pull_requests rows (repo_name, number, …)
    * @param prCommits      (repo_name, pr_number, message) PR-commit rows
    * @param commitDetails  (sha, message[, error]) commit-detail lookups
    *                       for merge commits, keyed by SHA alone (commit
    *                       SHAs are globally unique); error="invalid_sha"
    *                       drops the WHOLE PR, replicating the
    *                       reference's `continue` (linkers.py:115-117)
    */
  def extractPrRefsAll(
      prs: DataFrame,
      prCommits: DataFrame,
      commitDetails: DataFrame,
      maxPrs: Int = 0): PrRefs = {

    val base0 = newestPrsAll(prs, maxPrs)
      .select(
        col("repo_name"),
        col("_seq"),
        col("number").as("pr_number"),
        coalesce(col("title"), lit("")).as("title"),
        coalesce(col("body"), lit("")).as("body"),
        col("state"),
        mergedFlag(prs).as("merged"),
        col("user.login").as("pr_author"),
        colOr(prs, "merge_commit_sha", lit(null)).as("merge_commit_sha"),
        colOr(prs, "html_url", lit(null)).as("url"),
        coalesce(col("created_at"), colOr(prs, "updated_at", lit(null)))
          .as("created_at"))

    // Whole-PR drop on a bad merge SHA (linkers.py:115-117): when the
    // merge-commit detail was looked up (sha present AND the squash
    // guard allowed the scan) and came back error="invalid_sha", the
    // reference `continue`s the PR loop — every ref already collected
    // for that PR (pr_text, commit_message) is discarded, not just the
    // merge-commit refs. Anti-join those PRs out of the base set.
    val prKey = Seq("repo_name", "pr_number")
    val base =
      if (!commitDetails.columns.contains("error")) base0
      else {
        val poisoned = base0
          .filter(col("merge_commit_sha").isNotNull && mergeScanAllowed(
            when(length(col("body")) > 0, col("body"))))
          .join(commitDetails.select(col("sha").as("merge_commit_sha"),
            col("error")), Seq("merge_commit_sha"))
          .filter(col("error") === "invalid_sha")
          .select(prKey.map(col): _*)
        base0.join(broadcast(poisoned), prKey, "left_anti")
      }

    // Source 0: PR title+body ("pr_text", linkers.py:104-105)
    val textRefs = base.select(col("repo_name"), col("pr_number"),
      lit(0).as("src_rank"),
      posexplode(extract_issue_refs(concat_ws("\n", col("title"), col("body"))))
        .as(Seq("pos", "ref")))
      .withColumn("reference_type", lit("pr_text"))

    // Source 1: PR commit messages ("commit_message", linkers.py:107-115)
    val commitRefs = base.select(col("repo_name"), col("pr_number"))
      .join(prCommits.withColumnRenamed("number", "pr_number"), prKey)
      .select(col("repo_name"), col("pr_number"), lit(1).as("src_rank"),
        posexplode(extract_issue_refs(col("message"))).as(Seq("pos", "ref")))
      .withColumn("reference_type", lit("commit_message"))

    // Source 2: merge commit message behind the squash guard
    // ("merge_commit_message", linkers.py:117-126)
    val mergeRefs = base
      .filter(col("merge_commit_sha").isNotNull && mergeScanAllowed(
        when(length(col("body")) > 0, col("body"))))
      .join(commitDetails.withColumnRenamed("sha", "merge_commit_sha"),
        Seq("merge_commit_sha"))
      .filter(if (commitDetails.columns.contains("error"))
        col("error").isNull || col("error") =!= "invalid_sha" else lit(true))
      .select(col("repo_name"), col("pr_number"), lit(2).as("src_rank"),
        posexplode(extract_issue_refs(col("message"))).as(Seq("pos", "ref")))
      .withColumn("reference_type", lit("merge_commit_message"))

    val merged = base.select(col("repo_name"), col("pr_number"), col("merged"))
    val refs = textRefs.unionByName(commitRefs).unionByName(mergeRefs)
      .join(merged, prKey)
      .select(
        col("repo_name"), col("pr_number"), col("src_rank"), col("pos"),
        coalesce(col("ref.full_repo"), col("repo_name")).as("referenced_repo"),
        col("ref.number").as("issue_number"),
        col("reference_type"),
        col("ref.has_closing_kw").as("has_closing_kw"),
        (col("merged") && col("ref.has_closing_kw")).as("would_auto_close"))

    PrRefs(
      base.select(col("repo_name"), col("pr_number"), col("title"),
        col("pr_author").as("author"), col("state"), col("merged"),
        col("url"), col("created_at")),
      refs)
  }

  /** Single-repo [[extractPrRefsAll]]: stamps the literal repo. */
  def extractPrRefs(
      repoName: String,
      prs: DataFrame,
      prCommits: DataFrame,
      commitDetails: DataFrame,
      maxPrs: Int = 0): PrRefs =
    extractPrRefsAll(stamped(prs, repoName), stamped(prCommits, repoName),
      commitDetails, maxPrs)

  /** The issue-author dimension both issue linkers resolve against
    * (linkers.py:74-76,132-150): local issues pre-seed, external
    * details fill misses, and a key present in both keeps the LOCAL
    * author — even a null one — like the reference's pre-seeded dict
    * cache. One row per (lower(repo), number): `repo_l`,
    * `issue_number`, `issue_author`. Join strategy is left to
    * Catalyst/AQE — auto-broadcast for a per-repo run, shuffle join
    * when the corpus of issues is itself huge.
    *
    * @param localIssues          issues rows (repo_name, number, user.login)
    * @param externalIssueDetails (repo_name, number, author) details for
    *                             refs outside the corpus
    */
  private def issueAuthors(localIssues: DataFrame,
      externalIssueDetails: DataFrame): DataFrame = {
    val localAuthors = localIssues.select(
      lowerRepo(col("repo_name")).as("repo_l"),
      col("number").as("issue_number"),
      col("user.login").as("issue_author"),
      lit(0).as("prio"))
    val extAuthors = externalIssueDetails.select(
      lowerRepo(col("repo_name")).as("repo_l"),
      col("number").as("issue_number"),
      col("author").as("issue_author"),
      lit(1).as("prio"))
    localAuthors.unionByName(extAuthors)
      .groupBy(col("repo_l"), col("issue_number"))
      .agg(min_by(col("issue_author"), col("prio")).as("issue_author"))
  }

  /** Left-join an `issueAuthors` dimension onto ref rows keyed by
    * (referenced_repo, issue_number); misses keep a null author. */
  private def withIssueAuthor(refs: DataFrame, authors: DataFrame): DataFrame =
    refs
      .join(authors,
        lowerRepo(refs("referenced_repo")) === authors("repo_l") &&
          refs("issue_number") === authors("issue_number"),
        "left")
      .drop(authors("issue_number")).drop("repo_l")

  /** The refs of [[PrRefs]] that the local issues leave without an
    * author: the distinct (lower(repo_name), number) keys a live run
    * looks up as external issue details. A local issue with a null
    * login counts as unresolved here, although [[issueAuthors]] keeps
    * its null author. */
  def unresolvedIssueRefs(refs: DataFrame, localIssues: DataFrame): DataFrame = {
    val noExternal = localIssues.select(col("repo_name"), col("number"),
      lit(null).cast("string").as("author")).limit(0)
    withIssueAuthor(refs, issueAuthors(localIssues, noExternal))
      .filter(col("issue_author").isNull)
      .select(lowerRepo(col("referenced_repo")).as("repo_name"),
        col("issue_number").as("number"))
      .distinct()
  }

  /** Resolve half of [[prsWithLinkedIssuesAll]]: attach issue authors
    * and re-assemble each PR's links array in (source, position)
    * order; PRs without a ref drop out. */
  def resolvePrLinks(
      x: PrRefs,
      localIssues: DataFrame,
      externalIssueDetails: DataFrame): DataFrame = {
    val linked = withIssueAuthor(x.refs,
      issueAuthors(localIssues, externalIssueDetails))
    val links = linked
      .groupBy(col("repo_name"), col("pr_number"))
      .agg(transform(
        array_sort(collect_list(struct(
          col("src_rank"), col("pos"),
          struct(
            col("referenced_repo"), col("issue_number"), col("reference_type"),
            col("has_closing_kw"), col("would_auto_close"), col("issue_author"))
            .as("link")))),
        x => x.getField("link")).as("links"))

    x.prs.join(links, Seq("repo_name", "pr_number"))
      .select(
        col("repo_name"),
        col("pr_number"), col("title"), col("author"),
        col("state"), col("merged"), col("links"), col("url"), col("created_at"))
      .orderBy(col("repo_name"), col("pr_number"))
  }

  /** find_prs_with_linked_issues (linkers.py:55-163) over a multi-repo
    * corpus: every input frame carries `repo_name` and every join /
    * aggregation key includes it, so the whole corpus derives as one
    * partitioned job. [[resolvePrLinks]] ∘ [[extractPrRefsAll]].
    *
    * @param localIssues    issues rows (repo_name, number, user.login) —
    *                       pre-seed the author lookup per repo
    * @param externalIssueDetails (repo_name, number, author) details for
    *                       refs outside the corpus; misses → null author
    */
  def prsWithLinkedIssuesAll(
      prs: DataFrame,
      localIssues: DataFrame,
      prCommits: DataFrame,
      commitDetails: DataFrame,
      externalIssueDetails: DataFrame,
      maxPrs: Int = 0): DataFrame =
    resolvePrLinks(extractPrRefsAll(prs, prCommits, commitDetails, maxPrs),
      localIssues, externalIssueDetails)

  /** Single-repo find_prs_with_linked_issues (the reference's
    * process_repo granularity): stamps the literal repo and delegates
    * to the partitioned form. */
  def prsWithLinkedIssues(
      repoName: String,
      prs: DataFrame,
      localIssues: DataFrame,
      prCommits: DataFrame,
      commitDetails: DataFrame,
      externalIssueDetails: DataFrame,
      maxPrs: Int = 0): DataFrame =
    prsWithLinkedIssuesAll(
      stamped(prs, repoName),
      stamped(localIssues, repoName),
      stamped(prCommits, repoName),
      commitDetails,
      externalIssueDetails,
      maxPrs)

  /** Extract half of [[issuesClosedByCommitsAll]]: one row per closing
    * ref in a commit message; a bare `#N` resolves against the
    * commit's own repo. */
  def extractClosingRefsAll(commits: DataFrame): DataFrame =
    commits
      .select(
        col("repo_name"),
        col("sha").as("commit_sha"),
        colOr(commits, "html_url", lit(null)).as("commit_url"),
        coalesce(col("author.login"), col("commit.author.name"))
          .as("commit_author"),
        explode(extract_issue_refs(col("commit.message"))).as("ref"))
      .filter(col("ref.has_closing_kw"))
      .select(
        col("repo_name"), col("commit_sha"), col("commit_url"),
        col("commit_author"),
        coalesce(col("ref.full_repo"), col("repo_name"))
          .as("referenced_repo"),
        col("ref.number").as("issue_number"))

  /** Single-repo [[extractClosingRefsAll]]: stamps the literal repo. */
  def extractClosingRefs(repoName: String, commits: DataFrame): DataFrame =
    extractClosingRefsAll(stamped(commits, repoName))

  /** Resolve half of [[issuesClosedByCommitsAll]]: the same
    * [[issueAuthors]] dimension as the PR linker, so a closing ref
    * yields exactly one row even when its issue is both local and
    * looked up externally. */
  def resolveClosingRefs(
      refs: DataFrame,
      localIssues: DataFrame,
      externalIssueDetails: DataFrame): DataFrame =
    withIssueAuthor(refs, issueAuthors(localIssues, externalIssueDetails))
      .select(
        col("repo_name"),
        col("commit_sha"), col("commit_url"), col("commit_author"),
        col("referenced_repo"), col("issue_number"), col("issue_author"),
        lit("commit_message").as("reference_type"),
        lit(true).as("has_closing_kw"),
        lit(true).as("would_auto_close"))

  /** find_issues_closed_by_repo_commits (linkers.py:166-211) over a
    * multi-repo corpus: explode closing refs out of commit messages,
    * enrich with issue authors. [[resolveClosingRefs]] ∘
    * [[extractClosingRefsAll]]. */
  def issuesClosedByCommitsAll(
      commits: DataFrame,
      localIssues: DataFrame,
      externalIssueDetails: DataFrame): DataFrame =
    resolveClosingRefs(extractClosingRefsAll(commits), localIssues,
      externalIssueDetails)

  /** Single-repo form: stamps the literal repo onto the commits and
    * delegates. The issues keep their own repo_name: a closing ref may
    * name another repo's issue. */
  def issuesClosedByCommits(
      repoName: String,
      commits: DataFrame,
      localIssues: DataFrame,
      externalIssueDetails: DataFrame): DataFrame =
    issuesClosedByCommitsAll(stamped(commits, repoName), localIssues,
      externalIssueDetails)

  /** Extract half of [[crossRepoLinksAll]]: issues ∪ PRs →
    * per-text-bucket regex scan, self-references dropped per SOURCE
    * repo (each row's own repo_name). One row per (source, found_in,
    * target_repo, target_number) hit. */
  def extractCrossRefsAll(issues: DataFrame, prs: DataFrame): DataFrame = {
    def proj(df: DataFrame, tpe: String): DataFrame = df.select(
      col("repo_name"),
      lit(tpe).as("source_type"),
      col("number").as("source_number"),
      colOr(df, "html_url", lit(null)).as("source_url"),
      coalesce(col("created_at"), colOr(df, "updated_at", lit(null)))
        .as("source_created_at"),
      coalesce(col("title"), lit("")).as("title"),
      coalesce(col("body"), lit("")).as("body"))

    // M4: title/body become (found_in, text) bucket rows.
    val buckets = proj(issues, "issue").unionByName(proj(prs, "pull_request"))
      .select(col("repo_name"), col("source_type"), col("source_number"),
        col("source_url"), col("source_created_at"),
        explode(array(
          struct(lit("issue_title").as("found_in"), col("title").as("text")),
          struct(lit("issue_body").as("found_in"), col("body").as("text"))))
          .as("bucket"))
      .select(col("repo_name"), col("source_type"), col("source_number"),
        col("source_url"), col("source_created_at"),
        col("bucket.found_in").as("found_in"), col("bucket.text").as("text"))
      .filter(length(col("text")) > 0)

    buckets
      .select(col("repo_name"), col("source_type"), col("source_number"),
        col("source_url"), col("source_created_at"), col("found_in"),
        explode(extract_cross_repo_refs(col("text"))).as("ref"))
      .filter(lowerRepo(col("ref.full_repo")) =!= lowerRepo(col("repo_name")))
      .select(col("repo_name"), col("source_type"), col("source_number"),
        col("source_url"), col("source_created_at"), col("found_in"),
        col("ref.full_repo").as("target_repo"),
        col("ref.number").as("target_number"))
  }

  /** Single-repo [[extractCrossRefsAll]]: stamps the literal repo. */
  def extractCrossRefs(repoName: String, issues: DataFrame,
      prs: DataFrame): DataFrame =
    extractCrossRefsAll(stamped(issues, repoName), stamped(prs, repoName))

  /** Resolve half of [[crossRepoLinksAll]]: left join to target details
    * (404 ⇒ null target fields kept, docs/project_analytics.md:18).
    *
    * @param targetDetails (repo_name, number, is_pr, created_at, url,
    *                      author) for fetched targets; join misses
    *                      classify as "issue" like classify_issue_or_pr({}).
    */
  def resolveCrossRefs(refs: DataFrame, targetDetails: DataFrame): DataFrame = {
    val targets = targetDetails.select(
      lowerRepo(col("repo_name")).as("repo_l"),
      col("number").as("t_number"),
      col("is_pr").as("t_is_pr"),
      col("created_at").as("t_created_at"),
      col("url").as("t_url"),
      col("author").as("t_author"))

    refs
      .join(targets,
        lowerRepo(refs("target_repo")) === targets("repo_l") &&
          refs("target_number") === targets("t_number"),
        "left")
      .select(
        struct(
          col("repo_name"),
          col("source_type").as("type"),
          col("source_number").as("number"),
          col("source_url").as("url"),
          col("source_created_at").as("created_at")).as("source"),
        struct(
          col("found_in"),
          col("source_created_at").as("seen_at"),
          col("source_created_at").as("cross_ref_timestamp")).as("reference"),
        struct(
          col("target_repo").as("repo_name"),
          when(col("t_is_pr") === true, lit("pull_request"))
            .otherwise(lit("issue")).as("type"),
          col("target_number").as("number"),
          col("t_url").as("url"),
          col("t_created_at").as("created_at"),
          col("t_author").as("author")).as("target"))
  }

  /** find_cross_project_links_issues_and_prs (linkers.py:245-320) over
    * a multi-repo corpus: [[resolveCrossRefs]] ∘ [[extractCrossRefsAll]]. */
  def crossRepoLinksAll(
      issues: DataFrame,
      prs: DataFrame,
      targetDetails: DataFrame): DataFrame =
    resolveCrossRefs(extractCrossRefsAll(issues, prs), targetDetails)

  /** Single-repo form: stamps the literal repo and delegates. */
  def crossRepoLinks(
      repoName: String,
      issues: DataFrame,
      prs: DataFrame,
      targetDetails: DataFrame): DataFrame =
    crossRepoLinksAll(stamped(issues, repoName), stamped(prs, repoName),
      targetDetails)
}
