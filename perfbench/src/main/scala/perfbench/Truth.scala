package perfbench

import Corpus._

/** Expected pipeline outputs for one repository version, derived from
  * the generator's structured mentions (never from the program). */
final case class Truth(
    /** rows per persisted artifact */
    rows: Map[String, Long],
    /** NDJSON documents per sink index (repo_blame is one per file) */
    docs: Map[String, Long],
    /** distinct document ids per sink index */
    ids: Map[String, Long],
    prLinkEntries: Long,
    crossNullTargets: Long,
    blameLines: Long,
    blameRanges: Long,
    issueKeys: Set[(Long, String, String)],
    commitShas: Set[String],
    scenarios: Map[String, Any],
    /** scenario parameters: an issue number, an issue some PR links,
      * an issue some commit closes */
    firstIssue: Long, linkedIssue: Long, closedIssue: Long)

object Truth {

  val blameFileLimit = 25 // LivePipeline.processReposLive's default

  def apply(r: Repo): Truth = {
    val real = r.realIssues
    val bySha = r.commitBySha
    val prRefs: Seq[(Pr, Seq[Mention])] = r.prs.map { p =>
      val merge =
        if (p.merged && !p.squash) p.mergeSha.toSeq.flatMap(bySha(_).mentions) else Nil
      p -> (p.mentions ++ p.commits.flatMap(_.mentions) ++ merge).filter(_.isIssueRef)
    }.filter(_._2.nonEmpty)
    val closing: Seq[(Commit, Mention)] = r.commits.flatMap(c =>
      c.mentions.filter(m => m.isIssueRef && m.closing).map(c -> _))
    val cross: Seq[(String, Mention)] =
      real.flatMap(_.mentions.filter(_.isCrossRef).map("issue" -> _)) ++
        r.prs.flatMap(_.mentions.filter(_.isCrossRef).map("pull_request" -> _))
    val blamed = r.blobs.take(blameFileLimit)
    val rows = Map(
      "repo_meta" -> 1L, "issues" -> real.size.toLong, "pull_requests" -> r.prs.size.toLong,
      "contributors" -> r.contributors.size.toLong, "commits" -> r.commits.size.toLong,
      "prs_with_linked_issues" -> prRefs.size.toLong,
      "issues_closed_by_commits" -> closing.size.toLong,
      "cross_repo_links" -> cross.size.toLong, "repo_blame" -> 1L)

    // Scenario parameters: the first issue number a PR links and the
    // first issue a commit closes, so both lookups return rows.
    val linkedIssue = prRefs.headOption.map(_._2.head.number).getOrElse(1L)
    val closedIssue = closing.headOption.map(_._2.number).getOrElse(1L)
    val firstIssue = real.head
    def byTarget(xs: Seq[(String, Mention)]) =
      xs.groupBy(_._2.repo).map { case (t, ms) =>
        t -> (ms.size.toLong, ms.count(_._1 == "issue").toLong,
          ms.count(_._1 == "pull_request").toLong)
      }
    val dates = r.commits.map(_.date)
    val scenarios: Map[String, Any] = Map(
      "1_issue_counts" -> (real.size.toLong, real.count(_.state == "open").toLong,
        real.count(_.state == "closed").toLong),
      "2_issue_comments" -> (firstIssue.number, firstIssue.title, firstIssue.comments.toLong),
      "3_distinct_authors" -> real.map(_.author).distinct.size.toLong,
      "4_prs_linking_issue" -> prRefs.flatMap { case (p, ms) =>
        ms.filter(_.number == linkedIssue).map(_ => p.number) }.sorted,
      "5_commits_closing_issue" -> closing.filter(_._2.number == closedIssue)
        .map(_._1.sha).sorted,
      "6_cross_repo_hotspots" -> byTarget(cross).map { case (t, v) => t -> v._1 },
      "7_commit_history_range" -> (Json.ts(dates.min).drop(1).dropRight(1),
        Json.ts(dates.max).drop(1).dropRight(1), r.commits.size.toLong),
      "8_cross_repo_health" -> byTarget(cross),
      "9a_pr_linked_issue_count" ->
        prRefs.flatMap(_._2.map(_.number)).distinct.size.toLong,
      "9b_commit_closed_issue_count" -> closing.map(_._2.number).distinct.size.toLong)

    val docs = rows + ("repo_blame" -> blamed.size.toLong)
    Truth(rows, docs,
      // the closed-by id is {repo}#closedby#{issue_number}#{sha}: it omits
      // the referenced repository, so one commit closing #n in two
      // repositories yields two documents under one id
      ids = docs + ("issues_closed_by_commits" ->
        closing.map { case (c, m) => (c.sha, m.number) }.distinct.size.toLong),
      prLinkEntries = prRefs.map(_._2.size.toLong).sum,
      crossNullTargets = cross.count(_._2.repo.startsWith(Corpus.MissingOwner)).toLong,
      blameLines = blamed.flatMap(r.blame(_)).map(b => (b.end - b.start + 1).toLong).sum,
      blameRanges = blamed.map(r.blame(_).size.toLong).sum,
      issueKeys = real.map(i => (i.number, Json.ts(i.updatedAt).drop(1).dropRight(1), i.title)).toSet,
      commitShas = r.commits.map(_.sha).toSet,
      scenarios, firstIssue.number, linkedIssue, closedIssue)
  }
}
