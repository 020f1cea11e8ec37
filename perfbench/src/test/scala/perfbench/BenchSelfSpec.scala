package perfbench

import graft.ingest.GithubClient
import graft.ops.TextRefs

import Corpus._

/** Checks of the benchmark's own machinery: generator determinism, the
  * fake server's list semantics through the pipeline's client, and the
  * truth table on a hand-checked corpus. No Spark session is needed.
  * Run with `python3 perfbench/run.py --self-test`; exits non-zero when
  * a check fails. */
object BenchSelfSpec {

  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private val shapes = Seq(Shape(12, 6, 20), Shape(8, 4, 15))

  /** Every response body the fake server can serve for a corpus. */
  private def bodies(seed: Long): Seq[String] = {
    val c = Corpus.generate(seed, shapes)
    c.repos.flatMap { r =>
      val x = new Rendered(r)
      Seq(x.meta, x.tree) ++ x.issues.map(_._2) ++ x.pulls ++ x.contributors ++
        x.commits.map(_._2) ++ x.commitDetail.toSeq.sorted.map(_._2) ++
        x.prCommits.toSeq.sortBy(_._1).flatMap(_._2) ++
        x.blame.toSeq.sortBy(_._1).map(_._2._1)
    }
  }

  test("the same seed renders byte-identical responses; a new seed different ones") {
    val a = bodies(7)
    assert(a == bodies(7))
    assert(a != bodies(8))
    val evolvedA = Corpus.evolve(7, Corpus.generate(7, shapes), 2)
    val evolvedB = Corpus.evolve(7, Corpus.generate(7, shapes), 2)
    assert(evolvedA == evolvedB)
  }

  test("pagination and since= round-trip through GithubClient.paginateChecked") {
    val c = Corpus.generate(3, Seq(Shape(230, 20, 250)))
    val repo = c.repos.head
    val srv = new FakeGithub(Vector(c), 3, faultShare = 0.0)
    val cfg = GithubClient.Config()
    val base = s"https://api.github.com/repos/${repo.name}"
    val all = GithubClient.paginateChecked(srv, cfg, s"$base/issues?state=all", repo.name)
    assert(all.complete && !all.truncated)
    assert(all.records.size == repo.issues.size) // real issues plus PR markers
    assert(srv.counters.byKind("issues") == 3) // 250 items at 100 per page
    assert(all.records.forall(_.startsWith(s"""{"repo_name":"${repo.name}",""")))

    val cut = repo.issues.map(_.updatedAt).sorted.apply(repo.issues.size - 40)
    val since = java.net.URLEncoder.encode(java.time.Instant.ofEpochSecond(cut).toString, "UTF-8")
    val delta = GithubClient.paginateChecked(srv, cfg, s"$base/issues?state=all&since=$since", repo.name)
    assert(delta.records.size == repo.issues.count(_.updatedAt >= cut))

    val commits = GithubClient.paginateChecked(srv, cfg, s"$base/commits", repo.name)
    assert(commits.records.size == 250)
    assert(commits.records.head.contains(repo.head)) // newest first
  }

  test("planted faults retry to success and record the requested backoff") {
    val c = Corpus.generate(5, Seq(Shape(30, 10, 40)))
    val repo = c.repos.head
    val srv = new FakeGithub(Vector(c), 5, faultShare = 1.0) // every URL faults once
    var slept = 0L
    val cfg = GithubClient.Config(tokens = Seq("a", "b"), sleeper = ms => slept += ms)
    val base = s"https://api.github.com/repos/${repo.name}"
    repo.commits.take(20).foreach { cm =>
      assert(GithubClient.getWithRetry(srv, cfg, s"$base/commits/${cm.sha}").status == 200)
    }
    assert(srv.counters.faults502 + srv.counters.faults403 >= 20)
    assert(slept > 0)
    val missing = GithubClient.getWithRetry(srv, cfg,
      s"https://api.github.com/repos/${c.missing.head}/issues/1")
    assert(missing.status == 404)
  }

  test("generated text carries exactly the planted references") {
    val c = Corpus.generate(11, shapes)
    for (r <- c.repos; p <- r.prs) {
      val refs = TextRefs.extractIssueRefs(s"${p.title}\n${p.body}")
      val want = p.mentions.filter(_.isIssueRef)
      // mentions sit at random sentence positions: compare as multisets
      assert(refs.map(x => (Option(x.full_repo).getOrElse(r.name), x.number, x.has_closing_kw)).sorted ==
        want.map(m => (m.repo, m.number, m.closing)).sorted)
      assert(TextRefs.extractCrossRepoRefs(p.body).map(x => (x.full_repo, x.number)).sorted ==
        p.mentions.filter(_.isCrossRef).map(m => (m.repo, m.number)).sorted)
    }
    for (r <- c.repos; cm <- r.commits)
      assert(TextRefs.extractIssueRefs(cm.message).count(_.has_closing_kw) ==
        cm.mentions.count(m => m.isIssueRef && m.closing))
  }

  test("truth table agrees with a hand-checked corpus") {
    def commit(sha: String, msg: String, ms: Seq[Mention], date: Long, parent: Option[String]) =
      Commit(sha, msg, ms, "user1", date, parent, Seq("src/a.scala"), 1, 1)
    val fix1 = Mention(Bare, "o/r", 1, closing = true)
    val c1 = commit("c1", "first.", Nil, T0, None)
    val c2 = commit("c2", "Fixes #1.", Seq(fix1), T0 + 60, Some("c1"))
    val issue1 = Issue(1, isPr = false, "bug", "Refs x/y#3. Refs https://github.com/gone0/void0/issues/2.",
      Seq(Mention(Qualified, "x/y", 3, closing = false), Mention(Url, "gone0/void0", 2, closing = false)),
      "open", "user1", T0, T0 + 10, None, 4)
    val prBody = "Fixes #1."
    val pr2 = Pr(2, "change", prBody, Seq(fix1), squash = false, "closed", merged = true,
      Some("c2"), "user2", T0 + 5, T0 + 20, Some(T0 + 20),
      Seq(PrCommit("p1", "Refs #1.", Seq(Mention(Bare, "o/r", 1, closing = false)))))
    val repo = Repo("o/r", 1, Vector(issue1, issue1.copy(number = 2, isPr = true, body = prBody,
      mentions = Nil)), Vector(pr2), Vector(c2, c1), Vector("user1" -> 3),
      Vector("src" -> "tree", "src/a.scala" -> "blob", "src/b.scala" -> "blob"),
      Map("src/a.scala" -> Vector(BlameRange(1, 10, 2, "c1"), BlameRange(11, 12, 1, "c2")),
        "src/b.scala" -> Vector(BlameRange(1, 3, 1, "c2"))))
    val t = Truth(repo)
    assert(t.rows == Map("repo_meta" -> 1L, "issues" -> 1L, "pull_requests" -> 1L,
      "contributors" -> 1L, "commits" -> 2L, "prs_with_linked_issues" -> 1L,
      "issues_closed_by_commits" -> 1L, "cross_repo_links" -> 2L, "repo_blame" -> 1L))
    assert(t.docs("repo_blame") == 2) // one document per blamed file
    assert(t.ids == t.docs)
    assert(t.prLinkEntries == 3) // PR text, PR commit, merge commit
    assert(t.crossNullTargets == 1) // the planted missing repository
    assert(t.blameLines == 15 && t.blameRanges == 3)
    assert(t.scenarios("1_issue_counts") == ((1L, 1L, 0L)))
    assert(t.scenarios("4_prs_linking_issue") == Seq(2L, 2L, 2L))
    assert(t.scenarios("5_commits_closing_issue") == Seq("c2"))
    assert(t.scenarios("6_cross_repo_hotspots") == Map("x/y" -> 1L, "gone0/void0" -> 1L))
    assert(t.scenarios("7_commit_history_range") ==
      (("2024-01-01T00:00:00Z", "2024-01-01T00:01:00Z", 2L)))
    assert(t.scenarios("9a_pr_linked_issue_count") == 1L)
    assert(t.scenarios("9b_commit_closed_issue_count") == 1L)
    // closing #1 here and in x/y is two documents under one closed-by id
    val twice = c2.copy(message = "Fixes #1. Fixes x/y#1.",
      mentions = Seq(fix1, Mention(Qualified, "x/y", 1, closing = true)))
    val t2 = Truth(repo.copy(commits = Vector(twice, c1)))
    assert(t2.docs("issues_closed_by_commits") == 2 && t2.ids("issues_closed_by_commits") == 1)
    // a squash-merged PR's merge message is not scanned
    assert(Truth(repo.copy(prs = Vector(pr2.copy(squash = true)))).prLinkEntries == 2)
  }

  def main(args: Array[String]): Unit = {
    println(s"${if (failures == 0) "all passed" else s"$failures failed"}")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
