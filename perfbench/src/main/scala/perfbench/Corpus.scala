package perfbench

import scala.util.Random

/** Seeded generator of a GitHub corpus: repositories with issues, pull
  * requests (whose markers also appear in the issue list), commits with
  * a linear parent chain, contributors, a file tree larger than the
  * pipeline's default blame limit, and GraphQL blame ranges per file.
  *
  * Bodies and commit messages are filler sentences over a Zipf-weighted
  * pseudo-word vocabulary with mention sentences planted at controlled
  * rates. Every planted mention is also kept as a structured [[Mention]],
  * so [[Truth]] derives the expected pipeline outputs from the generator
  * and never from the program under test.
  *
  * The vocabulary is made of consonant–vowel syllables without c, q, x,
  * h, j, w or y, so no filler word is an English stopword, a closing
  * keyword (close/fix/resolve), or the squash-guard word.
  */
object Corpus {

  /** Epoch second of 2024-01-01T00:00:00Z, the generator's clock origin. */
  val T0: Long = 1704067200L

  sealed trait Form
  case object Bare extends Form // `#N`
  case object Qualified extends Form // `owner/repo#N`
  case object Url extends Form // `https://github.com/owner/repo/issues/N`

  /** One planted reference. `repo` is the referenced repository (the
    * source repository itself for a bare mention). */
  final case class Mention(form: Form, repo: String, number: Long,
      closing: Boolean) {
    def isIssueRef: Boolean = form != Url // issue-ref regex sees #N forms
    def isCrossRef: Boolean = form != Bare // cross-repo regex needs owner/repo
  }

  final case class Issue(number: Long, isPr: Boolean, title: String,
      body: String, mentions: Seq[Mention], state: String, author: String,
      createdAt: Long, updatedAt: Long, closedAt: Option[Long],
      comments: Int)

  final case class PrCommit(sha: String, message: String,
      mentions: Seq[Mention])

  final case class Pr(number: Long, title: String, body: String,
      mentions: Seq[Mention], squash: Boolean, state: String,
      merged: Boolean, mergeSha: Option[String], author: String,
      createdAt: Long, updatedAt: Long, closedAt: Option[Long],
      commits: Seq[PrCommit])

  final case class Commit(sha: String, message: String,
      mentions: Seq[Mention], author: String, date: Long,
      parent: Option[String], files: Seq[String], additions: Int,
      deletions: Int)

  final case class BlameRange(start: Int, end: Int, age: Int, sha: String)

  /** One version of a repository. `commits` is newest first. `changed`
    * lists the paths modified since the previous version's head. */
  final case class Repo(name: String, id: Long, issues: Vector[Issue],
      prs: Vector[Pr], commits: Vector[Commit],
      contributors: Vector[(String, Int)], tree: Vector[(String, String)],
      blame: Map[String, Vector[BlameRange]], changed: Seq[String] = Nil) {
    def owner: String = name.split("/", 2)(0)
    def short: String = name.split("/", 2)(1)
    def realIssues: Vector[Issue] = issues.filterNot(_.isPr)
    def head: String = commits.head.sha
    def commitBySha: Map[String, Commit] = commits.map(c => c.sha -> c).toMap
    def blobs: Vector[String] = tree.collect { case (p, "blob") => p }
  }

  /** A referenced repository outside the corpus whose issues exist. */
  final case class External(name: String, numbers: Int)

  final case class Universe(repos: Vector[Repo], externals: Vector[External],
      missing: Vector[String]) {
    def repo(name: String): Repo = repos.find(_.name == name).get
  }

  /** Shape of one generated repository. */
  final case class Shape(issues: Int, prs: Int, commits: Int,
      contributors: Int = 8, blobs: Int = 40, ranges: Int = 4)

  /** Planted mention rates: mean mention sentences per body and per
    * commit message (Poisson), the closing share, the share that names
    * another repository and, of those, the share aimed at a missing
    * repository; and the share of PR bodies asking for a squash. */
  private object Rates {
    val perBody = 1.2
    val perCommit = 0.35
    val closingShare = 0.4
    val crossShare = 0.45
    val missingShare = 0.15
    val squashShare = 0.1
  }

  // ---- vocabulary -------------------------------------------------------

  private val consonants = "bdfgklmnprstvz"
  private val vowels = "aeiou"

  final class Vocab(rng: Random, size: Int) {
    val words: Vector[String] = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      while (seen.size < size) {
        val syl = 2 + rng.nextInt(2)
        seen += (0 until syl).map(_ =>
          s"${consonants(rng.nextInt(consonants.length))}${vowels(rng.nextInt(vowels.length))}")
          .mkString
      }
      seen.toVector
    }
    private val cum: Array[Double] = {
      val w = words.indices.map(r => 1.0 / (r + 1))
      w.scanLeft(0.0)(_ + _).tail.toArray
    }
    /** Zipf(1) draw: rank 0 is the hottest word. */
    def rank(r: Random): Int = {
      val x = r.nextDouble() * cum.last
      val i = java.util.Arrays.binarySearch(cum, x)
      math.min(if (i >= 0) i else -i - 1, words.size - 1)
    }
    def word(r: Random): String = words(rank(r))
    def sentence(r: Random, min: Int = 5, max: Int = 12): String =
      (0 until (min + r.nextInt(max - min + 1))).map(_ => word(r))
        .mkString(" ") + "."
  }

  def vocab(seed: Long): Vocab = new Vocab(new Random(seed ^ 0x5eedL), 3000)

  // ---- text -------------------------------------------------------------

  def renderMention(m: Mention): String = {
    val ref = m.form match {
      case Bare => s"#${m.number}"
      case Qualified => s"${m.repo}#${m.number}"
      case Url => s"https://github.com/${m.repo}/issues/${m.number}"
    }
    (if (m.closing) "Fixes " else "Refs ") + ref + "."
  }

  /** Filler sentences with each mention as its own sentence at a random
    * position, so the sentence-scoped closing flag is the mention's own. */
  def text(r: Random, v: Vocab, mentions: Seq[Mention],
      fillers: Int): String = {
    val parts = scala.collection.mutable.ArrayBuffer.fill(fillers)(v.sentence(r))
    mentions.foreach(m => parts.insert(r.nextInt(parts.size + 1), renderMention(m)))
    parts.mkString(" ")
  }

  private def sha(r: Random): String =
    (0 until 40).map(_ => "0123456789abcdef"(r.nextInt(16))).mkString

  private def poisson(r: Random, mean: Double): Int = {
    val l = math.exp(-mean)
    var k = 0
    var p = r.nextDouble()
    while (p > l) { k += 1; p *= r.nextDouble() }
    k
  }

  // ---- generation -------------------------------------------------------

  final class Gen(seed: Long) {
    val rng = new Random(seed)
    val v: Vocab = vocab(seed)
    val users: Vector[String] = (1 to 200).map(i => s"user$i").toVector
    def user(): String = users(math.min(poisson(rng, 1.0) * 20 +
      rng.nextInt(20), users.size - 1))

    /** Mentions of `self`'s issue numbers, other corpus repos, external
      * repos, or planted missing targets. */
    def mentions(self: String, selfNumbers: Long, others: IndexedSeq[(String, Long)],
        externals: IndexedSeq[External], missing: IndexedSeq[String],
        mean: Double, allowUrl: Boolean): Seq[Mention] = {
      val n = poisson(rng, mean)
      val seen = scala.collection.mutable.Set.empty[(String, Long)]
      (0 until n).flatMap { _ =>
        val closing = rng.nextDouble() < Rates.closingShare
        val m =
          if (rng.nextDouble() >= Rates.crossShare)
            Mention(Bare, self, 1 + rng.nextInt(math.max(selfNumbers, 1L).toInt), closing)
          else {
            val form = if (allowUrl && rng.nextDouble() < 0.3) Url else Qualified
            val x = rng.nextDouble()
            val (repo, num) =
              if (x < Rates.missingShare) missing(rng.nextInt(missing.size)) -> (1L + rng.nextInt(50))
              else if (x < 0.55 || others.isEmpty) {
                val e = externals(rng.nextInt(externals.size))
                e.name -> (1L + rng.nextInt(e.numbers))
              } else {
                val (o, on) = others(rng.nextInt(others.size))
                o -> (1L + rng.nextInt(math.max(on, 1L).toInt))
              }
            Mention(form, repo, num, closing && form == Qualified)
          }
        // one mention per (target) per text: duplicate refs would share
        // a document id in the sink
        if (seen.add(m.repo -> m.number)) Some(m) else None
      }
    }

    def repo(name: String, id: Long, shape: Shape,
        others: IndexedSeq[(String, Long)], externals: IndexedSeq[External],
        missing: IndexedSeq[String]): Repo = {
      val numbers = shape.issues + shape.prs
      val prNumbers = rng.shuffle((1L to numbers).toVector).take(shape.prs).toSet
      val span = 300L * 86400
      // commits: oldest first, then reversed to API order
      val blobs = (0 until shape.blobs).map(i =>
        s"${Seq("src", "lib", "docs", "test")(i % 4)}/${v.words(i % v.words.size)}$i.${Seq("scala", "py", "md")(i % 3)}")
      var parent: Option[String] = None
      val oldest = (0 until shape.commits).map { i =>
        val ms = mentions(name, numbers, others, externals, missing,
          Rates.perCommit, allowUrl = false)
        val s = sha(rng)
        val c = Commit(s, text(rng, v, ms, 1 + rng.nextInt(2)), ms, user(),
          T0 + i * (span / math.max(shape.commits, 1)) + rng.nextInt(60),
          parent, (0 until 1 + rng.nextInt(3)).map(_ => blobs(rng.nextInt(blobs.size))).distinct,
          rng.nextInt(200), rng.nextInt(100))
        parent = Some(s)
        c
      }.toVector
      val commits = oldest.reverse
      val issues = (1L to numbers).map { n =>
        val isPr = prNumbers(n)
        val created = T0 + (n * span) / (numbers + 1)
        val updated = created + rng.nextInt(5 * 86400)
        val closed = rng.nextDouble() < 0.7
        val ms = if (isPr) Nil else
          mentions(name, numbers, others, externals, missing, Rates.perBody, allowUrl = true)
        Issue(n, isPr, v.sentence(rng, 3, 8).dropRight(1),
          text(rng, v, ms, 2 + rng.nextInt(4)), ms,
          if (closed) "closed" else "open", user(), created, updated,
          if (closed) Some(updated) else None, rng.nextInt(12))
      }.toVector
      val prs = issues.filter(_.isPr).map { iss =>
        val ms = mentions(name, numbers, others, externals, missing,
          Rates.perBody, allowUrl = true)
        val squash = rng.nextDouble() < Rates.squashShare
        val body = text(rng, v, ms, 2 + rng.nextInt(3)) +
          (if (squash) " Please squash before landing." else "")
        val merged = iss.state == "closed" && rng.nextDouble() < 0.8
        val prCommits = (0 until 1 + rng.nextInt(3)).map { _ =>
          val cm = mentions(name, numbers, others, externals, missing,
            Rates.perCommit, allowUrl = false)
          PrCommit(sha(rng), text(rng, v, cm, 1), cm)
        }
        Pr(iss.number, iss.title, body, ms, squash, iss.state, merged,
          if (merged) Some(commits(rng.nextInt(commits.size)).sha) else None,
          iss.author, iss.createdAt, iss.updatedAt, iss.closedAt, prCommits)
      }
      // PR markers in /issues carry the PR's own text
      val issuesWithPrText = issues.map { i =>
        if (!i.isPr) i else {
          val p = prs.find(_.number == i.number).get
          i.copy(body = p.body)
        }
      }
      val contrib = rng.shuffle(users.take(60)).take(shape.contributors)
        .map(u => u -> (1 + rng.nextInt(500))).toVector
      val dirs = Seq("src", "lib", "docs", "test").map(_ -> "tree")
      val tree = (dirs ++ blobs.map(_ -> "blob")).toVector
      val blame = blobs.map { p =>
        var line = 1
        p -> (0 until shape.ranges).map { _ =>
          val len = 1 + rng.nextInt(40)
          val c = commits(rng.nextInt(commits.size))
          val r = BlameRange(line, line + len - 1, 1 + rng.nextInt(9), c.sha)
          line += len
          r
        }.toVector
      }.toMap
      Repo(name, id, issuesWithPrText, prs, commits, contrib, tree, blame)
    }

    /** Next version of `r` at epoch second `at`: about 1% of issues are
      * updated and 1% are new, and the head advances by ~2% new commits
      * that modify one or two blamed files. */
    def delta(r: Repo, at: Long, others: IndexedSeq[(String, Long)],
        externals: IndexedSeq[External], missing: IndexedSeq[String]): Repo = {
      val real = r.realIssues
      val nUpd = math.max(1, real.size / 100)
      val nNew = math.max(1, real.size / 100)
      val upd = rng.shuffle(real.map(_.number)).take(nUpd).toSet
      val maxN = r.issues.map(_.number).max
      val updated = r.issues.map { i =>
        if (!upd(i.number)) i
        else i.copy(title = v.sentence(rng, 3, 8).dropRight(1),
          state = "closed", updatedAt = at + rng.nextInt(3600),
          closedAt = Some(at), comments = i.comments + 1)
      }
      val fresh = (1 to nNew).map { k =>
        val ms = mentions(r.name, maxN, others, externals, missing,
          Rates.perBody, allowUrl = true)
        Issue(maxN + k, isPr = false, v.sentence(rng, 3, 8).dropRight(1),
          text(rng, v, ms, 3), ms, "open", user(), at + k, at + k, None, 0)
      }
      val blamed = r.blobs.take(Truth.blameFileLimit)
      val nCommits = math.max(1, r.commits.size / 50)
      var parent = Some(r.head)
      val touched = rng.shuffle(blamed).take(1 + rng.nextInt(2))
      val newest = (1 to nCommits).map { k =>
        val ms = mentions(r.name, maxN, others, externals, missing,
          Rates.perCommit, allowUrl = false)
        val s = sha(rng)
        val c = Commit(s, text(rng, v, ms, 1), ms, user(), at + 60 * k,
          parent, touched, rng.nextInt(50), rng.nextInt(20))
        parent = Some(s)
        c
      }.reverse.toVector
      val head = newest.head.sha
      val blame = r.blame.map { case (p, rs) =>
        if (!touched.contains(p)) p -> rs
        else {
          val next = rs.last.end + 1
          p -> (rs :+ BlameRange(next, next + 4, 0, head))
        }
      }
      r.copy(issues = updated ++ fresh, commits = newest ++ r.commits, blame = blame,
        changed = touched)
    }
  }

  /** Owner prefix of the planted missing repositories: every lookup of
    * one answers 404. */
  val MissingOwner = "gone"

  /** A corpus of `shapes.size` repositories named `org{i}/proj{i}`. */
  def generate(seed: Long, shapes: Seq[Shape]): Universe = {
    val g = new Gen(seed)
    val names = shapes.indices.map(i => s"org$i/proj$i")
    val sizes = names.zip(shapes.map(s => (s.issues + s.prs).toLong))
    val externals = (0 until 12).map(j => External(s"extlib$j/core$j", 40)).toVector
    val missing = (0 until 4).map(j => s"$MissingOwner$j/void$j").toVector
    val repos = names.zip(shapes).zipWithIndex.map { case ((n, s), i) =>
      g.repo(n, 1000L + i, s, sizes.filter(_._1 != n), externals, missing)
    }.toVector
    Universe(repos, externals, missing)
  }

  /** `versions` successive deltas of every repository: version 0 is the
    * corpus itself; each version is one day after the previous one. */
  def evolve(seed: Long, c: Universe, versions: Int): Vector[Universe] = {
    val g = new Gen(seed * 31 + 7)
    val sizes = c.repos.map(r => r.name -> r.issues.size.toLong)
    (1 to versions).scanLeft(c) { (prev, k) =>
      val at = T0 + 400L * 86400 + k * 86400L
      prev.copy(repos = prev.repos.map(r =>
        g.delta(r, at, sizes.filter(_._1 != r.name), c.externals, c.missing)))
    }.toVector
  }
}
