package perfbench

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{BulkSink, JsonEntities}
import graft.queries.Scenarios

/** Reading the pipeline's outputs back for the correctness gates and
  * the Scenarios loop. */
object Lake {

  val artifacts: Seq[String] = Seq("repo_meta", "issues", "pull_requests",
    "contributors", "commits", "prs_with_linked_issues",
    "issues_closed_by_commits", "cross_repo_links", "repo_blame")

  def repoDir(lake: String, repo: String): File =
    new File(lake, repo.replace("/", "_"))

  private def lines(f: File): Iterator[String] =
    Files.readAllLines(f.toPath).asScala.iterator.filter(_.nonEmpty)

  /** Rows of one persisted artifact (line-JSON part files). */
  def rows(lake: String, repo: String, artifact: String): Long = {
    val d = new File(repoDir(lake, repo), artifact)
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".json"))
      .map(f => lines(f).size.toLong).sum
  }

  def sizeAndFiles(dir: File): (Long, Long) =
    if (!dir.exists()) (0L, 0L)
    else Files.walk(dir.toPath).iterator().asScala.filter(Files.isRegularFile(_))
      .foldLeft((0L, 0L)) { case ((b, n), p) => (b + Files.size(p), n + 1) }

  def read(spark: SparkSession, lake: String, entity: String): DataFrame =
    JsonEntities.readEntity(spark, entity, s"$lake/*/$entity", multiLine = false)

  /** Per-repository linker and blame checks in one query per entity. */
  final case class Linked(links: Long, crossNull: Long, blameFiles: Long,
      blameLines: Long, blameRanges: Long)

  def linked(spark: SparkSession, lake: String): Map[String, Linked] = {
    val links = read(spark, lake, "prs_with_linked_issues").groupBy("repo_name")
      .agg(sum(size(col("links"))).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val cross = read(spark, lake, "cross_repo_links").groupBy(col("source.repo_name"))
      .agg(sum(when(col("target.author").isNull, 1).otherwise(0)).cast("long")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val blame = read(spark, lake, "repo_blame")
      .select(col("repo_name"), explode(col("files")).as("f"))
      .groupBy("repo_name").agg(count(lit(1)), sum(col("f.total_lines")),
        sum(col("f.ranges_count"))).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    blame.map { case (repo, (f, l, rg)) =>
      repo -> Linked(links.getOrElse(repo, 0L), cross.getOrElse(repo, 0L), f, l, rg)
    }
  }

  /** Gate one repository's persisted lake against its truth. */
  def check(lake: String, repo: String, t: Truth,
      linkedByRepo: Map[String, Linked], gate: (Boolean, String) => Unit): Unit = {
    artifacts.foreach { a =>
      val n = rows(lake, repo, a)
      gate(n == t.rows(a), s"$repo/$a: $n rows, expected ${t.rows(a)}")
    }
    val l = linkedByRepo.get(repo)
    gate(l.contains(Linked(t.prLinkEntries, t.crossNullTargets, t.docs("repo_blame"),
      t.blameLines, t.blameRanges)),
      s"$repo: linker/blame ${l.orNull} != expected links=${t.prLinkEntries} " +
        s"crossNull=${t.crossNullTargets} files=${t.docs("repo_blame")} " +
        s"lines=${t.blameLines} ranges=${t.blameRanges}")
  }

  // ---- sink ---------------------------------------------------------------

  /** Timing wrapper around the bulk transport. Counters are JVM-global:
    * in local mode the executors that flush run in this JVM. */
  object SinkStats {
    val batches = new java.util.concurrent.atomic.AtomicLong
    val docs = new java.util.concurrent.atomic.AtomicLong
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val nanos = new java.util.concurrent.atomic.AtomicLong
    def snapshot: Seq[Long] = Seq(batches.get, docs.get, bytes.get, nanos.get)
  }

  final class TimedSink(inner: BulkSink.BulkTransport) extends BulkSink.BulkTransport {
    override def flush(index: String, ndjsonLines: Seq[String]): Int = {
      val t0 = System.nanoTime()
      val failed = inner.flush(index, ndjsonLines)
      SinkStats.nanos.addAndGet(System.nanoTime() - t0)
      SinkStats.batches.incrementAndGet()
      SinkStats.docs.addAndGet(ndjsonLines.size / 2)
      SinkStats.bytes.addAndGet(ndjsonLines.iterator.map(_.length.toLong + 1).sum)
      failed
    }
  }

  private val IdRe = "\"_id\":\"((?:[^\"\\\\]|\\\\.)*)\"".r

  /** index → (documents, distinct _ids) over the NDJSON files. */
  def sinkDocs(sinkDir: String): Map[String, (Long, Long)] =
    Option(new File(sinkDir).listFiles()).getOrElse(Array.empty).filter(_.isDirectory).map { d =>
      val ids = Option(d.listFiles()).getOrElse(Array.empty).toSeq
        .flatMap(f => lines(f).grouped(2).map(pair => IdRe.findFirstMatchIn(pair.head)
          .map(_.group(1)).getOrElse("")))
      d.getName -> (ids.size.toLong, ids.distinct.size.toLong)
    }.toMap

  // ---- scenarios ---------------------------------------------------------

  final class Tables(spark: SparkSession, lake: String) {
    val issues: DataFrame = read(spark, lake, "issues")
    val commits: DataFrame = read(spark, lake, "commits")
    val prLinks: DataFrame = read(spark, lake, "prs_with_linked_issues")
    val closedBy: DataFrame = read(spark, lake, "issues_closed_by_commits")
    val crossLinks: DataFrame = read(spark, lake, "cross_repo_links")
  }

  /** The nine Scenarios (9a and 9b apart) for one repository: name,
    * query, and the answer decoded from its rows in [[Truth]]'s shape. */
  def scenarios(t: Tables, repo: String, truth: Truth): Seq[(String, () => DataFrame, Array[Row] => Any)] = {
    def one(rows: Array[Row]): Row = rows.head
    Seq(
      ("1_issue_counts", () => Scenarios.issueCounts(t.issues, repo),
        (rs: Array[Row]) => { val r = one(rs); (r.getLong(0), r.getLong(1), r.getLong(2)) }),
      ("2_issue_comments", () => Scenarios.issueComments(t.issues, repo, truth.firstIssue),
        (rs: Array[Row]) => { val r = one(rs); (r.getLong(0), r.getString(1), r.getLong(2)) }),
      ("3_distinct_authors", () => Scenarios.distinctAuthors(t.issues, repo),
        (rs: Array[Row]) => one(rs).getLong(0)),
      ("4_prs_linking_issue", () => Scenarios.prsLinkingIssue(t.prLinks, repo, truth.linkedIssue),
        (rs: Array[Row]) => rs.map(_.getLong(0)).toSeq.sorted),
      ("5_commits_closing_issue", () => Scenarios.commitsClosingIssue(t.closedBy, repo, truth.closedIssue),
        (rs: Array[Row]) => rs.map(_.getString(1)).toSeq.sorted),
      ("6_cross_repo_hotspots", () => Scenarios.crossRepoHotspots(t.crossLinks, repo),
        (rs: Array[Row]) => rs.map(r => r.getString(0) -> r.getLong(1)).toMap),
      ("7_commit_history_range", () => Scenarios.commitHistoryRange(t.commits, repo),
        (rs: Array[Row]) => { val r = one(rs); (r.getString(0), r.getString(1), r.getLong(2)) }),
      ("8_cross_repo_health", () => Scenarios.crossRepoHealth(t.crossLinks, repo),
        (rs: Array[Row]) => rs.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap),
      ("9a_pr_linked_issue_count", () => Scenarios.prLinkedIssueCount(t.prLinks, repo),
        (rs: Array[Row]) => one(rs).getLong(0)),
      ("9b_commit_closed_issue_count", () => Scenarios.commitClosedIssueCount(t.closedBy, repo),
        (rs: Array[Row]) => one(rs).getLong(0)))
  }
}
