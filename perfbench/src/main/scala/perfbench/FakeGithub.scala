package perfbench

import java.net.URLDecoder
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Instant

import scala.collection.mutable

import graft.ingest.GithubClient.{Response, Transport}

import Corpus._

/** Minimal JSON writing for the fake server's responses. */
object Json {
  def str(s: String): String =
    if (s == null) "null"
    else {
      val b = new StringBuilder(s.length + 2).append('"')
      s.foreach {
        case '"' => b.append("\\\"")
        case '\\' => b.append("\\\\")
        case '\n' => b.append("\\n")
        case '\r' => b.append("\\r")
        case '\t' => b.append("\\t")
        case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
        case c => b.append(c)
      }
      b.append('"').toString
    }
  def opt(s: Option[String]): String = s.map(str).getOrElse("null")
  def ts(epochSecond: Long): String = str(Instant.ofEpochSecond(epochSecond).toString)
  def tsOpt(e: Option[Long]): String = e.map(ts).getOrElse("null")
  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
  def arr(items: Iterable[String]): String = items.mkString("[", ",", "]")
}

/** One repository version rendered to response bodies, built once in
  * set-up so serving a request is a lookup plus a page slice. */
final class Rendered(val repo: Repo) {
  import Json._
  private val api = s"https://api.github.com/repos/${repo.name}"
  private val web = s"https://github.com/${repo.name}"

  private def user(login: String): String = obj("login" -> str(login),
    "id" -> login.filter(_.isDigit).mkString.toLongOption.getOrElse(0L).toString,
    "type" -> str("User"), "site_admin" -> "false")

  val meta: String = obj("id" -> repo.id.toString, "node_id" -> str(s"R_${repo.id}"),
    "name" -> str(repo.short), "full_name" -> str(repo.name),
    "description" -> str(s"Generated repository ${repo.name}"),
    "homepage" -> "null", "topics" -> arr(Seq(str("etl"), str("github"))),
    "private" -> "false", "fork" -> "false", "default_branch" -> str("main"),
    "owner" -> user(repo.owner), "license" -> obj("key" -> str("mit"),
      "name" -> str("MIT License"), "spdx_id" -> str("MIT"), "url" -> "null"),
    "language" -> str("Scala"), "created_at" -> ts(T0 - 86400),
    "updated_at" -> ts(repo.commits.head.date), "pushed_at" -> ts(repo.commits.head.date),
    "stargazers_count" -> (repo.issues.size * 7).toString,
    "watchers_count" -> (repo.issues.size * 7).toString,
    "forks_count" -> repo.prs.size.toString,
    "open_issues_count" -> repo.issues.count(_.state == "open").toString,
    "size" -> repo.blobs.size.toString)

  private def issueJson(i: Issue): String = {
    val fields = Seq("id" -> (repo.id * 100000 + i.number).toString,
      "node_id" -> str(s"I_${repo.id}_${i.number}"), "number" -> i.number.toString,
      "state" -> str(i.state), "title" -> str(i.title), "body" -> str(i.body),
      "created_at" -> ts(i.createdAt), "updated_at" -> ts(i.updatedAt),
      "closed_at" -> tsOpt(i.closedAt), "user" -> user(i.author),
      "labels" -> arr(if (i.number % 3 == 0) Seq(obj("name" -> str("bug"),
        "color" -> str("d73a4a"), "description" -> "null")) else Nil),
      "comments" -> i.comments.toString, "author_association" -> str("CONTRIBUTOR"),
      "state_reason" -> "null",
      "html_url" -> str(s"$web/${if (i.isPr) "pull" else "issues"}/${i.number}"))
    obj(fields ++ (if (i.isPr) Seq("pull_request" ->
      obj("url" -> str(s"$api/pulls/${i.number}"))) else Nil): _*)
  }

  /** (updated_at, record) sorted newest-updated first. */
  val issues: Vector[(Long, String)] =
    repo.issues.sortBy(i => (-i.updatedAt, -i.number)).map(i => i.updatedAt -> issueJson(i))
  val issueDetail: Map[Long, String] = repo.issues.map(i => i.number -> issueJson(i)).toMap

  val pulls: Vector[String] = repo.prs.sortBy(-_.number).map { p =>
    obj("id" -> (repo.id * 100000 + p.number).toString,
      "node_id" -> str(s"PR_${repo.id}_${p.number}"), "number" -> p.number.toString,
      "title" -> str(p.title), "body" -> str(p.body), "state" -> str(p.state),
      "locked" -> "false", "draft" -> "false", "merge_commit_sha" -> opt(p.mergeSha),
      "created_at" -> ts(p.createdAt), "updated_at" -> ts(p.updatedAt),
      "closed_at" -> tsOpt(p.closedAt),
      "merged_at" -> (if (p.merged) tsOpt(p.closedAt) else "null"),
      "user" -> user(p.author), "requested_reviewers" -> "[]", "labels" -> "[]",
      "author_association" -> str("MEMBER"), "html_url" -> str(s"$web/pull/${p.number}"))
  }

  val contributors: Vector[String] = repo.contributors.sortBy(-_._2).map { case (l, n) =>
    obj("login" -> str(l), "id" -> l.filter(_.isDigit).mkString, "html_url" ->
      str(s"https://github.com/$l"), "type" -> str("User"), "site_admin" -> "false",
      "contributions" -> n.toString)
  }

  private def actor(login: String, date: Long): String =
    obj("name" -> str(s"$login name"), "email" -> str(s"$login@example.org"),
      "date" -> ts(date))

  private def commitFields(sha: String, message: String, author: String,
      date: Long, parent: Option[String]): Seq[(String, String)] = Seq(
    "sha" -> str(sha), "node_id" -> str(s"C_$sha"),
    "commit" -> obj("author" -> actor(author, date), "committer" -> actor(author, date),
      "message" -> str(message), "comment_count" -> "0"),
    "author" -> user(author), "committer" -> user(author),
    "url" -> str(s"$api/commits/$sha"), "html_url" -> str(s"$web/commit/$sha"),
    "parents" -> arr(parent.map(p => obj("sha" -> str(p), "url" -> str(s"$api/commits/$p")))))

  /** (commit date, record), newest first. */
  val commits: Vector[(Long, String)] = repo.commits.map(c =>
    c.date -> obj(commitFields(c.sha, c.message, c.author, c.date, c.parent): _*))

  val commitDetail: Map[String, String] = repo.commits.map { c =>
    c.sha -> obj(commitFields(c.sha, c.message, c.author, c.date, c.parent) ++ Seq(
      "stats" -> obj("additions" -> c.additions.toString, "deletions" -> c.deletions.toString,
        "total" -> (c.additions + c.deletions).toString),
      "files" -> arr(c.files.map(f => obj("filename" -> str(f), "status" -> str("modified"))))): _*)
  }.toMap

  val prCommits: Map[Long, Vector[String]] = repo.prs.map { p =>
    p.number -> p.commits.map(c =>
      obj(commitFields(c.sha, c.message, p.author, p.createdAt, None): _*)).toVector
  }.toMap

  val tree: String = obj("sha" -> str(repo.head), "truncated" -> "false",
    "tree" -> arr(repo.tree.map { case (p, t) =>
      obj("path" -> str(p), "mode" -> str(if (t == "blob") "100644" else "040000"),
        "type" -> str(t), "sha" -> str(repo.head.take(12) + p.length))
    }))

  private val commitBySha = repo.commitBySha
  /** GraphQL blame body per path, in both query shapes. */
  val blame: Map[String, (String, String)] = repo.blame.map { case (path, ranges) =>
    val target = obj("__typename" -> str("Commit"), "oid" -> str(repo.head),
      "blame" -> obj("ranges" -> arr(ranges.map { r =>
        val c = commitBySha(r.sha)
        obj("startingLine" -> r.start.toString, "endingLine" -> r.end.toString,
          "age" -> r.age.toString, "commit" -> obj("oid" -> str(c.sha),
            "committedDate" -> ts(c.date), "message" -> str(c.message),
            "author" -> obj("name" -> str(s"${c.author} name"),
              "email" -> str(s"${c.author}@example.org"),
              "user" -> obj("login" -> str(c.author)))))
      })))
    path -> (
      obj("data" -> obj("repository" -> obj("ref" -> obj("target" -> target)))),
      obj("data" -> obj("repository" -> obj("object" -> target))))
  }
}

/** In-process GitHub served through the pipeline's public
  * `GithubClient.Transport` seam. Lists paginate at the requested
  * `per_page` with `Link: rel="next"` headers and honour `since=`;
  * detail, PR-commit, tree, compare and GraphQL blame endpoints serve
  * the pre-rendered bodies. Cross-repository lookups resolve against
  * the corpus, the external repositories, or 404 for planted missing
  * targets.
  *
  * A seeded share of URLs answers with a transient 502, a rate-limit
  * 403 (`X-RateLimit-Remaining: 0`) once, or 403 twice so that both
  * tokens are spent and the client backs off. Each faulty URL cycles
  * through its fault then success, so every retrying request succeeds
  * and repeated crawls see the same faults.
  */
final class FakeGithub(versions: Vector[Corpus.Universe], seed: Long,
    faultShare: Double = 0.03) extends Transport {

  private val rendered: Vector[Map[String, Rendered]] =
    versions.map(_.repos.map(r => r.name -> new Rendered(r)).toMap)
  private val externalDetail: Map[(String, Long), String] = {
    val c = versions.head
    c.externals.flatMap { e =>
      (1 to e.numbers).map { n =>
        val isPr = n % 5 == 0
        (e.name, n.toLong) -> Json.obj("number" -> n.toString,
          "title" -> Json.str(s"external ${e.name} $n"), "state" -> Json.str("open"),
          "user" -> Json.obj("login" -> Json.str(s"ext${n % 7}")),
          "html_url" -> Json.str(s"https://github.com/${e.name}/${if (isPr) "pull" else "issues"}/$n"),
          "created_at" -> Json.ts(T0 + n * 3600L),
          "pull_request" -> (if (isPr) Json.obj("url" -> Json.str("x")) else "null"))
      }
    }.toMap
  }
  private var version = 0

  /** Serve version `v` of every repository from now on. */
  def setVersion(v: Int): Unit = synchronized { version = v }

  // ---- counters ----------------------------------------------------------

  final class Counters {
    var requests, bytes, serverNanos, faults502, faults403, notFound, posts = 0L
    val byKind: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
    def snapshot: Map[String, Long] = Map("requests" -> requests, "bytes" -> bytes,
      "server_ns" -> serverNanos, "faults502" -> faults502, "faults403" -> faults403,
      "not_found" -> notFound, "posts" -> posts) ++ byKind.map { case (k, v) => s"kind.$k" -> v }
  }
  val counters = new Counters
  private val attempts = mutable.Map.empty[String, Int].withDefaultValue(0)

  /** Fault cycle of a URL: statuses served on successive requests. */
  private def cycle(key: String): Array[Int] = {
    val h = (scala.util.hashing.MurmurHash3.stringHash(key, seed.toInt) & 0x7fffffff) / 2147483648.0
    if (h < faultShare * 0.5) Array(502, 200)
    else if (h < faultShare * 0.8) Array(403, 200)
    else if (h < faultShare) Array(403, 403, 200)
    else Array(200)
  }

  private def fault(key: String): Option[Response] = {
    val c = cycle(key)
    if (c.length == 1) None
    else {
      val n = attempts(key)
      attempts(key) = n + 1
      c(n % c.length) match {
        case 502 => counters.faults502 += 1
          Some(Response(502, body = """{"message":"Bad Gateway"}"""))
        case 403 => counters.faults403 += 1
          Some(Response(403, Map("X-RateLimit-Remaining" -> "0"),
            """{"message":"API rate limit exceeded"}"""))
        case _ => None
      }
    }
  }

  private def timed(kind: String, key: String)(body: => Response): Response = synchronized {
    val t0 = System.nanoTime()
    val r = fault(key).getOrElse(body)
    counters.requests += 1
    counters.byKind(kind) += 1
    counters.bytes += r.body.length
    if (r.status == 404) counters.notFound += 1
    counters.serverNanos += System.nanoTime() - t0
    r
  }

  private val notFound = Response(404, body = """{"message":"Not Found"}""")
  private def ok(body: String) = Response(200, Map("Content-Type" -> "application/json"), body)

  private def page(kind: String, path: String, params: Map[String, String],
      items: IndexedSeq[String]): Response = {
    val per = params.get("per_page").flatMap(_.toIntOption).getOrElse(30)
    val p = params.get("page").flatMap(_.toIntOption).getOrElse(1)
    val slice = items.slice((p - 1) * per, p * per)
    counters.byKind(s"items.$kind") += slice.size
    val headers =
      if (p * per >= items.size) Map.empty[String, String]
      else {
        val q = (params - "page").toSeq.sorted.map { case (k, v) =>
          s"$k=${java.net.URLEncoder.encode(v, UTF_8)}" }.mkString("&")
        val last = (items.size + per - 1) / per
        Map("Link" -> (s"""<$path?$q&page=${p + 1}>; rel="next", """ +
          s"""<$path?$q&page=$last>; rel="last""""))
      }
    Response(200, headers + ("Content-Type" -> "application/json"), Json.arr(slice))
  }

  private def since(params: Map[String, String]): Long =
    params.get("since").map(s => Instant.parse(s).getEpochSecond).getOrElse(Long.MinValue)

  private val RepoPath = "https://api.github.com/repos/([^/]+/[^/]+)(/.*)?".r

  override def get(url: String, headers: Map[String, String]): Response = {
    val (path, query) = url.indexOf('?') match {
      case -1 => (url, "")
      case i => (url.take(i), url.drop(i + 1))
    }
    val params = query.split("&").filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      if (i < 0) kv -> "" else kv.take(i) -> URLDecoder.decode(kv.drop(i + 1), UTF_8)
    }.toMap
    path match {
      case RepoPath(name, rest) =>
        val r = rendered(version).get(name)
        val tail = Option(rest).getOrElse("").stripPrefix("/").split("/").toSeq.filter(_.nonEmpty)
        (r, tail) match {
          case (Some(r), Seq()) => timed("meta", url)(ok(r.meta))
          case (Some(r), Seq("issues")) => timed("issues", url) {
            val s = since(params)
            page("issues", path, params, r.issues.collect { case (u, j) if u >= s => j })
          }
          case (_, Seq("issues", n)) => timed("issue_detail", url) {
            n.toLongOption.flatMap(num => r match {
              case Some(r) => r.issueDetail.get(num)
              case None => externalDetail.get(name -> num)
            }).map(ok).getOrElse(notFound)
          }
          case (Some(r), Seq("pulls")) => timed("pulls", url)(page("pulls", path, params, r.pulls))
          case (Some(r), Seq("pulls", n, "commits")) => timed("pr_commits", url) {
            r.prCommits.get(n.toLong).map(page("pr_commits", path, params, _)).getOrElse(notFound)
          }
          case (Some(r), Seq("contributors")) =>
            timed("contributors", url)(page("contributors", path, params, r.contributors))
          case (Some(r), Seq("commits")) => timed("commits", url) {
            val s = since(params)
            page("commits", path, params, r.commits.collect { case (d, j) if d >= s => j })
          }
          case (Some(r), Seq("commits", sha)) =>
            timed("commit_detail", url)(r.commitDetail.get(sha).map(ok).getOrElse(notFound))
          case (Some(r), Seq("git", "trees", _)) => timed("tree", url)(ok(r.tree))
          case (Some(_), Seq("compare", range)) => timed("compare", url)(compare(name, range))
          case _ => timed("unknown", url)(notFound)
        }
      case _ => timed("unknown", url)(notFound)
    }
  }

  /** Changed paths between two heads of one repository's versions. */
  private def compare(name: String, range: String): Response = {
    val Array(from, to) = range.split("\\.\\.\\.", 2)
    val heads = versions.map(_.repo(name).head)
    (heads.indexOf(from), heads.lastIndexOf(to)) match {
      case (a, b) if a >= 0 && b >= a =>
        val files = (a + 1 to b).flatMap(i => versions(i).repo(name).changed).distinct
        ok(Json.obj("files" -> Json.arr(files.map(f =>
          Json.obj("filename" -> Json.str(f), "status" -> Json.str("modified"))))))
      case _ => notFound
    }
  }

  private val VarRe = "\"(owner|name|path)\":\"((?:[^\"\\\\]|\\\\.)*)\"".r

  override def post(url: String, headers: Map[String, String], body: String): Response = {
    val vars = VarRe.findAllMatchIn(body).map(m => m.group(1) -> m.group(2)).toMap
    val path = vars.getOrElse("path", "")
    timed("graphql", s"$url#${vars.getOrElse("owner", "")}/${vars.getOrElse("name", "")}:$path") {
      counters.posts += 1
      val byObject = body.contains("BlameByObject")
      rendered(version).get(s"${vars.getOrElse("owner", "")}/${vars.getOrElse("name", "")}")
        .flatMap(_.blame.get(path))
        .map { case (byRef, byObj) => ok(if (byObject) byObj else byRef) }
        .getOrElse(ok("""{"data":null,"errors":[{"message":"Could not resolve to a Blob"}]}"""))
    }
  }
}
