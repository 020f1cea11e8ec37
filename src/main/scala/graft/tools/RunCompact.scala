package graft.tools

import org.apache.spark.sql.SparkSession

import graft.ops.FullText
import graft.queries.SimilarityQueries

/** Compaction CLI — the maintenance-window face of the stored
  * layouts (the knob every segment-cost measurement points at:
  * ~75-80 ms of manifest-union overhead per committed streaming
  * segment until a fold reclaims it): detect the index family at
  * the given path and run its compactor under the mutation lease —
  * base + segments fold minus tombstones into fresh one-file-per-
  * partition dirs, one marker cuts the generation over, tombstones
  * and superseded dirs reclaim.
  *
  * Family detection mirrors the layouts' own self-description: a
  * `meta` artifact marks the VECTOR layout; a live bands directory
  * the near-dup BAND index (the admission stream's artifacts — its
  * fold dedups replay-appended rows into a new generation, under the
  * same mutation lease and commit as the text fold); a
  * stats artifact with a `field` column the MULTI-FIELD text layout;
  * otherwise single-field text.
  * `--family text|multifield|vector|band` overrides.
  *
  * Usage: RunCompact <indexDir> [--family <f>] [--wait <sec>]
  *          [--buckets <n>] [--pin-layout]
  *
  * `--wait <sec>` polls the mutation-lease acquisition with backoff
  * (`graft.index.leaseWaitMs`) instead of the library's fail-fast —
  * the right mode for a maintenance job queued behind a short-lived
  * refresh batch.
  *
  * `--buckets <n>` RESIZES a text layout's term-bucket partitioning
  * during the fold (the operational face of
  * [[graft.ops.FullText.compactTextIndex]]'s `rebucket` — a bucket
  * count sized for a small corpus concentrates a grown index's
  * postings into a few huge partitions). Text families only; the
  * vector layout's physical re-resolution is automatic. To make the
  * manual call INFORMED, every text fold prints a `bucket_skew`
  * advisory line (per-bucket postings-row max vs median) — high skew
  * or a max far above a row-group's worth of rows is the signal that
  * a resize pays; the tool deliberately never resizes on its own (a
  * bucket count is a durable layout property).
  *
  * `--pin-layout` stamps `pgroups_forced` onto a VECTOR index's meta
  * without compacting ([[graft.queries.SimilarityQueries.pinVectorLayout]])
  * — the migration flag for pre-forced-flag metas whose per-cell
  * layout was a deliberate choice: unpinned, the next compaction's
  * auto-resolution would fold a grown per-cell baseline into pgroups.
  *
  * Prints one JSON line: data files before/after and surviving
  * rows. Safe to re-run (idempotent fold; a crash leaves the old
  * generation live and the next run's GC clears orphans). */
object RunCompact {

  /** Detect which compactor owns the path. The band family (the
    * near-dup admission stream's `bands` + `shingles` artifacts) is
    * recognized by its live bands directory
    * ([[graft.ops.Dedup.liveBandDirs]]) BEFORE the text fallback — a
    * band index stores no stats artifact, and the text probe would
    * fail unreadably on it. */
  def detectFamily(spark: SparkSession, indexDir: String): String =
    if (graft.io.Layout.pathExists(spark, s"$indexDir/meta")) "vector"
    else if (graft.io.Layout.pathExists(spark,
        graft.ops.Dedup.liveBandDirs(spark, indexDir)._1)) "band"
    else {
      // the stats artifact is metadata-class: read on the driver
      val art = graft.io.Layout.liveArtifactDir(spark, indexDir)
      if (graft.io.TinyParquet.readFrame(spark, s"$art/stats")
          .schema.fieldNames.contains("field")) "multifield"
      else "text"
    }

  /** Separated from main for RunCompactSpec: returns
    * (family, filesBefore, filesAfter, rows). */
  def run(spark: SparkSession, indexDir: String,
      family: Option[String] = None,
      waitSec: Option[Long] = None,
      rebucket: Option[Int] = None): (String, Long, Long, Long) =
    graft.io.Layout.withLeaseWait(spark, waitSec) {
      val res = runInner(spark, indexDir, family, rebucket)
      if (res._1 == "text" || res._1 == "multifield")
        println(bucketSkewLine(spark, indexDir))
      res
    }

  /** The `--pin-layout` face, separated for RunCompactSpec /
    * VectorIndexLayoutSpec: stamp `pgroups_forced` onto the vector
    * meta without compacting. Returns the pinned pgroup count. */
  def pin(spark: SparkSession, indexDir: String,
      waitSec: Option[Long] = None): Int =
    graft.io.Layout.withLeaseWait(spark, waitSec) {
      SimilarityQueries.pinVectorLayout(spark, indexDir)
    }

  /** Per-bucket postings-row skew of a text layout, measured over the
    * OCCUPIED buckets: (buckets, maxRows, medianRows). One bounded
    * collect of |buckets| counts — the fold just rewrote the postings,
    * so the groupBy rides warm data. A fully-purged index (every doc
    * deleted, then folded — a plausible maintenance flow) has ZERO
    * occupied buckets; report (0, 0, 0) instead of crashing the CLI
    * AFTER the fold already committed. */
  def bucketSkew(spark: SparkSession,
      indexDir: String): (Int, Long, Long) = {
    val counts = FullText.postingsFrame(spark, indexDir)
      .groupBy("bucket").count()
      .collect().map(_.getAs[Long]("count")).sorted
    if (counts.isEmpty) (0, 0L, 0L)
    else (counts.length, counts.last, counts(counts.length / 2))
  }

  /** The post-fold advisory line: tells the operator WHEN `--buckets`
    * is worth passing, without the tool ever resizing on its own (a
    * bucket count is a durable layout property; an auto-resize during
    * routine maintenance would silently change every later scan's
    * pruning shape). `skew` = max/median over occupied buckets. */
  def bucketSkewLine(spark: SparkSession, indexDir: String): String = {
    val (nb, mx, md) = bucketSkew(spark, indexDir)
    val skew = if (md > 0) mx.toDouble / md else 0.0
    val hint =
      if (nb == 0)
        "no postings survive the fold — nothing to rebalance"
      else if (skew >= 4.0)
        "postings skewed across buckets — consider --buckets to rebalance"
      else "bucket balance healthy"
    s"""{"advisory":"bucket_skew","buckets":$nb,"max_rows":$mx,""" +
      s""""median_rows":$md,"skew":${math.round(skew * 100) / 100.0},""" +
      s""""hint":"$hint"}"""
  }

  private def runInner(spark: SparkSession, indexDir: String,
      family: Option[String],
      rebucket: Option[Int]): (String, Long, Long, Long) = {
    val fam = family.getOrElse(detectFamily(spark, indexDir))
    if (fam != "text" && fam != "multifield" && rebucket.isDefined)
      throw new IllegalArgumentException(
        "--buckets applies to text layouts only; the vector layout " +
          "re-resolves its physical grouping automatically at the fold")
    val (b, a, r) = fam match {
      case "vector" => SimilarityQueries.compactIvfPqIndex(spark, indexDir)
      // one compactor for both text layouts: it reads the layout's
      // key columns from the stats artifact
      case "text" | "multifield" => FullText.compactTextIndex(spark,
        indexDir, rebucket = rebucket)
      case "band" =>
        // the near-dup admission index: the compactor's observable is
        // ROW counts (its fold dedups replay-appended rows), reported
        // through the same (before, after, surviving) slots
        val ((bB, bA), (sB, sA)) =
          graft.ops.Dedup.compactBandIndex(spark, indexDir)
        (bB + sB, bA + sA, bA + sA)
      case other => throw new IllegalArgumentException(
        s"unknown family '$other' (text | multifield | vector | band)")
    }
    (fam, b, a, r)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: RunCompact <indexDir> [--family text|multifield|vector|band] " +
        "[--wait <sec>] [--buckets <n>] [--pin-layout]")
    def opt(flag: String): Option[String] =
      args.indexOf(flag) match {
        case i if i >= 0 && i + 1 < args.length => Some(args(i + 1))
        case i if i >= 0 => throw new IllegalArgumentException(
          s"$flag requires a value — a silently dropped flag would " +
            "skip a durable layout change without a trace")
        case _ => None
      }
    val fam = opt("--family")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[32]"))
      .appName("graft-compact")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rebucket = opt("--buckets").map(_.toInt)
    if (args.contains("--pin-layout")) {
      require(rebucket.isEmpty && fam.forall(_ == "vector"),
        "--pin-layout stamps a vector meta and composes with no " +
          "other mutation flag")
      val pg = pin(spark, args(0), opt("--wait").map(_.toLong))
      println(s"""{"tool":"compact","action":"pin_layout",""" +
        s""""pgroups":$pg,"pgroups_forced":true}""")
      spark.stop()
      return
    }
    val (f, b, a, r) = run(spark, args(0), fam,
      opt("--wait").map(_.toLong), rebucket)
    val bk = rebucket.map(n => s""","buckets":$n""").getOrElse("")
    println(s"""{"tool":"compact","family":"$f","files_before":$b,""" +
      s""""files_after":$a,"rows":$r$bk}""")
    spark.stop()
  }
}
