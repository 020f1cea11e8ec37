package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.FullText
import graft.queries.SimilarityQueries

/** Takedown CLI — the operational face of the distributed delete
  * path (a PII/DMCA ruling arrives as a FILE of ids, not a Seq in
  * someone's REPL): load the ruling ids as a DataFrame (a parquet
  * path — first column, cast to long — or an inline comma list),
  * tombstone them from a stored TEXT index and/or a stored VECTOR
  * index through the DataFrame delete faces (anti-join idempotence,
  * distributed tombstone rewrite — a million-id ruling file never
  * touches the driver), and optionally compact immediately to
  * reclaim the rows physically. Single- and multi-field text
  * layouts take the same delete face, which reads the layout from
  * the index's stats artifact.
  *
  * Usage: RunTakedown <ids: parquet path | comma list>
  *          [--text <indexDir>] [--vector <indexDir>] [--compact]
  *          [--wait <sec>]
  *
  * `--wait <sec>`: the index mutation lease fails FAST by default
  * (the right library behavior) — rough for a CLI racing a
  * ten-second refresh batch. With `--wait`, acquisition polls with
  * backoff (`graft.index.leaseWaitMs`) until the holder releases or
  * the deadline passes; without it, a held lease surfaces the
  * fail-fast error unchanged.
  *
  * Prints one JSON summary line (ids loaded, faces touched). Rerun
  * safety is the delete contract's: already-tombstoned ids drop in
  * the anti-join, so re-running a half-applied ruling file is a
  * no-op for the applied part. */
object RunTakedown {

  /** The ruling ids as a 1-column frame: an existing path reads as
    * parquet (first column → long, the DataFrame-face convention);
    * anything else parses as a comma-separated literal list. */
  def idsFrame(spark: SparkSession, spec: String): DataFrame = {
    import spark.implicits._
    if (graft.io.Layout.pathExists(spark, spec)) {
      val raw = spark.read.parquet(spec)
      raw.select(col(raw.columns.head).cast("long").as("doc_id"))
        .filter(col("doc_id").isNotNull)
    } else
      spec.split(',').map(_.trim).filter(_.nonEmpty)
        .map(_.toLong).toSeq.toDF("doc_id")
  }

  /** Separated from main for RunTakedownSpec: applies the ruling to
    * the given faces and returns (nIds, textDeleted, vectorDeleted)
    * where the deleted flags report which faces ran. */
  def run(spark: SparkSession, idsSpec: String,
      textIdx: Option[String], vectorIdx: Option[String],
      compact: Boolean, waitSec: Option[Long] = None):
      (Long, Boolean, Boolean) =
    graft.io.Layout.withLeaseWait(spark, waitSec) {
      runInner(spark, idsSpec, textIdx, vectorIdx, compact)
    }

  private def runInner(spark: SparkSession, idsSpec: String,
      textIdx: Option[String], vectorIdx: Option[String],
      compact: Boolean): (Long, Boolean, Boolean) = {
    val ids = idsFrame(spark, idsSpec)
    val n = ids.count()
    textIdx.foreach { t =>
      FullText.deleteFromTextIndex(spark, t, ids, 16)
      if (compact) { FullText.compactTextIndex(spark, t); () }
    }
    vectorIdx.foreach { v =>
      SimilarityQueries.deleteFromIvfPqIndex(spark, v,
        ids.select(col("doc_id").as("vec_id")))
      if (compact) { SimilarityQueries.compactIvfPqIndex(spark, v); () }
    }
    (n, textIdx.nonEmpty, vectorIdx.nonEmpty)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: RunTakedown <ids: parquet path | comma list> " +
        "[--text <indexDir>] [--vector <indexDir>] [--compact] " +
        "[--wait <sec>]")
    def opt(flag: String): Option[String] =
      args.indexOf(flag) match {
        case i if i >= 0 && i + 1 < args.length => Some(args(i + 1))
        case i if i >= 0 => throw new IllegalArgumentException(
          s"$flag requires a value — a silently dropped flag would " +
            "run the takedown without the requested semantics")
        case _ => None
      }
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[32]"))
      .appName("graft-takedown")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val (n, t, v) = run(spark, args(0), opt("--text"), opt("--vector"),
      args.contains("--compact"), opt("--wait").map(_.toLong))
    println(s"""{"tool":"takedown","ids":$n,"text":$t,"vector":$v,""" +
      s""""compacted":${args.contains("--compact")}}""")
    spark.stop()
  }
}
