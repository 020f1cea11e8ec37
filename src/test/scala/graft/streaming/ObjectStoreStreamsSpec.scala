package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkSpecBase
import graft.io.{CopyRenameFileSystem, Layout, NoSetTimesFileSystem}
import graft.ops.FullText

/** The streaming lifecycle on OBJECT-STORE filesystems — the last
  * scheme-untested surface after round 15 pinned every BATCH mutation
  * path on `nost://` and `cprn://`: the refresh/takedown streams
  * commit through the same staged-segment protocol, but they add the
  * Spark streaming CHECKPOINT (offset WAL + commits log, itself a
  * rename-using artifact) and the in-stream auto-compaction to the
  * interplay. A scheme assumption in any of those would surface only
  * in deployment — these fixtures surface it here instead.
  *
  * Leg 1 (`nost://`, setTimes-blind): a refresh stream whose
  * `compactEvery` triggers an IN-STREAM fold, running concurrently
  * with a takedown stream, checkpoint ALSO on the blind store —
  * final state page-equal to an identically-fed local twin AND to a
  * batch rebuild over the surviving docs.
  *
  * Leg 2 (`cprn://`, copy+delete renames): a micro-batch KILLED
  * mid-commit — after its segment postings are fully staged, during
  * the staged→final copy-rename, before the manifest+marker publish
  * (the "between segment write and registry append" crash) — then
  * the stream RESTARTS from the same checkpoint and replays the
  * batch id. Exactly-once must hold: the replay re-stages over the
  * partial, commits once, and the page equals the rebuild. */
class ObjectStoreStreamsSpec extends SparkSpecBase {
  import spark.implicits._

  private val terms = Seq("fast", "vector", "query")

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix)
      .toFile.getAbsolutePath

  private def page(i: String) = FullText
    .bm25SearchStored(spark, i, terms)
    .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private val baseDocs = Seq(
    (1L, "fast vector engines win races"),
    (2L, "fast vector query engines"),
    (3L, "slow scalar fallback path"),
    (4L, "fast query planners everywhere"))
  private val b0 = Seq((10L, "vector query fast fast"))
  private val b1 = Seq((11L, "fast planners beat slow scans"),
    (12L, "query the vector store"))
  private val b2 = Seq((13L, "fast fast vector vector query"))

  test("nost://: refresh (with in-stream fold) + takedown streams, checkpoint on the blind store, page-equal to the local twin and a rebuild") {
    spark.sparkContext.hadoopConfiguration.set("fs.nost.impl",
      classOf[NoSetTimesFileSystem].getName)
    implicit val sqlCtx = spark.sqlContext
    val nIdx = "nost://" + tmp("ostream-n")
    val lIdx = tmp("ostream-l")
    Seq(nIdx, lIdx).foreach { idx =>
      FullText.writeTextIndex(baseDocs.toDF("doc_id", "text"),
        "doc_id", "text", idx, storeTermVectors = true)
    }
    // identical twin feeds (a MemoryStream trims on commit, so one
    // per query); the nost checkpoint ALSO lives on the blind store
    def drive(idx: String, ckpt: String): Unit = {
      val rSrc = MemoryStream[(Long, String)]
      val tSrc = MemoryStream[Long]
      val rq = Streams.indexRefreshStream(
        rSrc.toDF().toDF("doc_id", "text"), "doc_id", "text", idx,
        s"$ckpt/refresh", compactEvery = 2)
      val tq = Streams.takedownStream(
        tSrc.toDF().toDF("doc_id"), "doc_id", idx, s"$ckpt/takedown")
      try {
        rSrc.addData(b0: _*)
        rq.processAllAvailable()
        tSrc.addData(1L)
        tq.processAllAvailable()
        // b1 pushes the manifest to compactEvery segments — the fold
        // runs INSIDE the stream's serialization, on this scheme
        rSrc.addData(b1: _*)
        rq.processAllAvailable()
        rSrc.addData(b2: _*)
        rq.processAllAvailable()
        tSrc.addData(3L, 1L) // replayed id 1 rides along: idempotent
        tq.processAllAvailable()
      } finally { rq.stop(); tq.stop() }
    }
    drive(nIdx, "nost://" + tmp("ostream-nck"))
    drive(lIdx, tmp("ostream-lck"))
    assert(page(nIdx).nonEmpty &&
      page(nIdx).exists(_._1 == 13L),
      "the blind-store index must serve the streamed appends")
    assert(page(nIdx) == page(lIdx),
      "the streamed lifecycle must be page-equal across schemes")
    assert(graft.io.Layout.segmentCount(spark, nIdx) ==
      graft.io.Layout.segmentCount(spark, lIdx),
      "the in-stream fold must have run identically on both schemes")
    assert(Layout.liveGeneration(spark, nIdx) ==
      Layout.liveGeneration(spark, lIdx),
      "generation history must match the local twin")
    // ... and both equal a batch rebuild over the surviving corpus
    val rIdx = tmp("ostream-r")
    FullText.writeTextIndex(
      (baseDocs ++ b0 ++ b1 ++ b2).toDF("doc_id", "text")
        .filter(!$"doc_id".isin(1L, 3L)),
      "doc_id", "text", rIdx, storeTermVectors = true)
    assert(page(nIdx) == page(rIdx),
      "streams + in-stream fold on the blind store must equal the " +
        "batch rebuild bit-for-bit")
  }

  test("cprn://: a micro-batch killed mid-commit replays exactly-once from the stream checkpoint") {
    spark.sparkContext.hadoopConfiguration.set("fs.cprn.impl",
      classOf[CopyRenameFileSystem].getName)
    implicit val sqlCtx = spark.sqlContext
    val idx = "cprn://" + tmp("ostream-c")
    FullText.writeTextIndex(baseDocs.toDF("doc_id", "text"),
      "doc_id", "text", idx, storeTermVectors = true)
    val ckpt = tmp("ostream-cck")
    val src = MemoryStream[(Long, String)]
    def startQuery(): StreamingQuery = Streams.indexRefreshStream(
      src.toDF().toDF("doc_id", "text"), "doc_id", "text", idx, ckpt)
    val q = startQuery()
    try {
      src.addData(b0: _*)
      q.processAllAvailable()
    } finally q.stop()
    val afterB0 = page(idx)
    // arm the kill: batch 1's append stages its segment fully, then
    // dies DURING the staged→final copy-rename — segment written,
    // registry (manifest+marker) never published
    CopyRenameFileSystem.crashStagedRenameAfterFiles = 1
    val q2 = startQuery()
    val failed =
      try {
        src.addData(b1: _*)
        try { q2.processAllAvailable(); false }
        catch { case _: Exception => true }
      } finally {
        CopyRenameFileSystem.crashStagedRenameAfterFiles = -1
        q2.stop()
      }
    assert(failed, "the injected mid-copy crash must fail the batch")
    assert(page(idx) == afterB0,
      "the killed batch must be invisible — no partial segment serves")
    // restart from the SAME checkpoint: the offset WAL holds batch 1
    // uncommitted, so the engine re-delivers it with the same batch
    // id; the append re-stages over the partial and commits ONCE
    val q3 = startQuery()
    try q3.processAllAvailable() finally q3.stop()
    val rIdx = tmp("ostream-cr")
    FullText.writeTextIndex(
      (baseDocs ++ b0 ++ b1).toDF("doc_id", "text"),
      "doc_id", "text", rIdx, storeTermVectors = true)
    assert(page(idx) == page(rIdx),
      "the replayed batch must land exactly once — postings " +
        "un-duplicated, statistics un-doubled, page equal to rebuild")
    // belt and braces: a SECOND replay of the same segment id is a
    // manifest no-op even outside the stream
    FullText.appendToTextIndex(spark, b1.toDF("doc_id", "text"),
      "doc_id", "text", idx, segmentId = Some("b1"))
    assert(page(idx) == page(rIdx),
      "a re-delivered segment id must stay a no-op after the crash")
  }

  test("nost://: vector refresh (with in-stream fold) + vector takedown streams, page-equal to the local twin and a rebuild at fixed artifacts") {
    import graft.queries.SimilarityQueries
    spark.sparkContext.hadoopConfiguration.set("fs.nost.impl",
      classOf[NoSetTimesFileSystem].getName)
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val e = graft.io.Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding")
    val maxId = e.agg(max($"vec_id")).head().getLong(0)
    val w = maxId * 4 / 5
    val base = e.filter($"vec_id" <= w)
    val freshRows = e.filter($"vec_id" > w)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val (f0, rest) = freshRows.splitAt(freshRows.size / 3)
    val (f1, f2) = rest.splitAt(rest.size / 2)
    val dead = Seq(1L, 3L)
    val nIdx = "nost://" + tmp("ovstream-n")
    val lIdx = tmp("ovstream-l")
    Seq(nIdx, lIdx).foreach(
      SimilarityQueries.writeIvfPqIndexFrames(base, base, _))
    def drive(idx: String, ckpt: String): Unit = {
      val rSrc = MemoryStream[(Long, Seq[Float])]
      val tSrc = MemoryStream[Long]
      // compactEvery = 2: the third append crosses the threshold and
      // the VECTOR fold (codes-v<gen> rewrite + manifest cutover)
      // runs inside the stream's serialization, on this scheme
      val rq = Streams.vectorRefreshStream(
        rSrc.toDF().toDF("vec_id", "embedding"), idx,
        s"$ckpt/refresh", compactEvery = 2)
      val tq = Streams.vectorTakedownStream(
        tSrc.toDF().toDF("vec_id"), "vec_id", idx, s"$ckpt/takedown")
      try {
        rSrc.addData(f0: _*)
        rq.processAllAvailable()
        tSrc.addData(dead.head)
        tq.processAllAvailable()
        rSrc.addData(f1: _*)
        rq.processAllAvailable()
        rSrc.addData(f2: _*)
        rq.processAllAvailable()
        tSrc.addData(dead(1), dead.head) // replayed id rides along
        tq.processAllAvailable()
      } finally { rq.stop(); tq.stop() }
    }
    drive(nIdx, "nost://" + tmp("ovstream-nck"))
    drive(lIdx, tmp("ovstream-lck"))
    def vpage(i: String) = SimilarityQueries
      .ivfPqSearchStored(spark, i, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(vpage(nIdx).nonEmpty && vpage(nIdx) == vpage(lIdx),
      "the streamed vector lifecycle must be page-equal across schemes")
    assert(graft.io.Layout.segmentCount(spark, nIdx) ==
      graft.io.Layout.segmentCount(spark, lIdx),
      "the in-stream vector fold must have run identically")
    // rebuild at FIXED artifacts (base-trained cells/codebooks) over
    // the surviving corpus — the append ≡ rebuild contract, now with
    // the fold and both streams on the blind store in the chain
    val rIdx = tmp("ovstream-r")
    SimilarityQueries.writeIvfPqIndexFrames(base,
      e.filter(!$"vec_id".isInCollection(dead)), rIdx)
    assert(vpage(nIdx) == vpage(rIdx),
      "streams + in-stream vector fold on the blind store must equal " +
        "the batch rebuild at fixed artifacts")
  }

  test("cprn://: the admission stream probes, appends and folds the band index on a copy-rename store, verdict-equal to the local twin") {
    spark.sparkContext.hadoopConfiguration.set("fs.cprn.impl",
      classOf[CopyRenameFileSystem].getName)
    implicit val sqlCtx = spark.sqlContext
    // the band fold commits a generation like the other families —
    // on a copy-rename store each of its side renames is a recursive
    // copy+delete; this pins the admission stream's probe → append →
    // in-stream fold chain verdict- and artifact-equal to the local
    // twin
    val feed = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight!!"),
      (3L, "an entirely different document about spark engines"),
      (4L, "the quick brown fox jumps over the lazy cat tonight"),
      (5L, "vector engines rank documents by cosine similarity"),
      (6L, "an entirely different document about spark engines..."))
    val batches = Seq(feed.take(2), feed.slice(2, 4), feed.drop(4))
    def drive(idx: String, ckpt: String): Seq[(Long, Boolean)] = {
      val verdicts = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Boolean)]
      val src = MemoryStream[(Long, String)]
      val q = Streams.nearDupAdmissionStream(
        src.toDF().toDF("doc_id", "text"), "doc_id", "text", idx,
        ckpt, annotated => verdicts ++= annotated
          .select(col("doc_id"), col("admitted"))
          .collect().map(r => (r.getLong(0), r.getBoolean(1))),
        compactEvery = 2)
      try batches.foreach { b =>
        src.addData(b: _*); q.processAllAvailable()
      } finally q.stop()
      verdicts.sortBy(_._1).toSeq
    }
    val cIdx = "cprn://" + tmp("oband-c")
    val lIdx = tmp("oband-l")
    val cV = drive(cIdx, tmp("oband-cck"))
    val lV = drive(lIdx, tmp("oband-lck"))
    assert(cV == lV,
      s"admission verdicts must match across schemes (got $cV vs $lV)")
    assert(cV.count(!_._2) >= 1,
      "the fixture must actually flag a near-duplicate")
    // the in-stream fold committed on the copy-rename store: the
    // admitted index state must equal the local twin's row-for-row
    assert(graft.io.Layout.liveGeneration(spark, cIdx).contains(1L),
      "the in-stream fold must have committed a generation")
    def rows(i: String) = {
      val (bands, shingles) = graft.ops.Dedup.liveBandDirs(spark, i)
      Seq(bands, shingles).map(p =>
        spark.read.parquet(p).collect().map(_.toSeq).toSet)
    }
    assert(rows(cIdx) == rows(lIdx),
      "band artifacts must be row-equal across schemes after the fold")
    // no staging leftovers linger on the copy-rename store
    val leftovers = graft.io.Layout.orphanedStaging(spark, cIdx)
    assert(leftovers.isEmpty,
      s"a clean fold must leave no orphaned staging (got $leftovers)")
  }
}
