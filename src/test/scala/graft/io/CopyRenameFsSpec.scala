package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.ops.FullText

/** The bare-S3A posture, PINNED instead of assumed: on a store whose
  * rename is copy+delete, [[Layout.commitGeneration]]'s scaladoc
  * claims a crash mid-"rename" leaves a partially-copied finally-named
  * dir that (a) stays invisible — no `_COMMITTED` marker — and (b) is
  * reclaimed, with the previous generation serving unchanged. This
  * spec runs the lifecycle on [[CopyRenameFileSystem]] (`cprn://`,
  * also setTimes-blind) and injects the mid-copy crash the way
  * NoSetTimesFileSystem pinned the heartbeat claim. */
class CopyRenameFsSpec extends SparkSpecBase {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private val terms = Seq("fast", "vector", "query")

  test("generation commits survive a copy+delete rename store; a crash mid-copy stays invisible and is reclaimed") {
    spark.sparkContext.hadoopConfiguration.set("fs.cprn.impl",
      classOf[CopyRenameFileSystem].getName)
    val docs = graft.io.Tables.documents(spark, dir).limit(60)
    val idx = "cprn://" + java.nio.file.Files
      .createTempDirectory("cprn-idx").toFile.getAbsolutePath
    val lIdx = java.nio.file.Files
      .createTempDirectory("cprn-twin").toFile.getAbsolutePath
    val allDead = docs.limit(3).select($"doc_id")
      .collect().map(_.getLong(0)).toSeq
    // the clean lifecycle first: every staged->final rename of the
    // commit protocol runs as copy+delete, page-equal to local
    FullText.writeTextIndex(docs, "doc_id", "text", idx,
      storeTermVectors = true)
    FullText.writeTextIndex(docs, "doc_id", "text", lIdx,
      storeTermVectors = true)
    FullText.deleteFromTextIndex(spark, idx, Seq(allDead.head))
    FullText.deleteFromTextIndex(spark, lIdx, Seq(allDead.head))
    def page(i: String) = FullText.bm25SearchStored(spark, i, terms)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(page(idx) == page(lIdx),
      "the commit protocol must be exact on a copy-rename store")
    assert(Layout.liveGeneration(spark, idx).contains(1L))
    // CRASH mid-copy of the gen-2 staged->final rename: one file
    // lands under the finally-named dir, then the "rename" dies —
    // the widened window the scaladoc documents
    val before = page(idx)
    CopyRenameFileSystem.crashStagedRenameAfterFiles = 1
    try {
      val e = intercept[Exception] {
        FullText.deleteFromTextIndex(spark, idx, Seq(allDead(1)))
      }
      assert(e.getMessage != null &&
        e.getMessage.contains("simulated crash mid-copy-rename"),
        s"the injected crash must surface (got $e)")
    } finally CopyRenameFileSystem.crashStagedRenameAfterFiles = -1
    // (a) the partial is INVISIBLE: no marker, the live generation
    // and every page unchanged
    val hfs = new Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(hfs.exists(new Path(s"$idx/gen-2")),
      "the crash must have left a partially-copied finally-named dir " +
        "(otherwise this pin is vacuous)")
    assert(!hfs.exists(new Path(s"$idx/gen-2/_COMMITTED")))
    assert(Layout.liveGeneration(spark, idx).contains(1L),
      "a partially-copied generation must never resolve as live")
    assert(page(idx) == before,
      "the previous generation must serve unchanged")
    // the leak is visible to the status face (partial final dir +
    // the intact token-suffixed staging the crashed rename left)
    assert(Layout.orphanedStaging(spark, idx).size == 2,
      "both crash leftovers must report as orphans")
    // (b) RECLAIMED: the replayed delete clears the partial, commits
    // gen-2 for real, and equals the local twin's same delete
    FullText.deleteFromTextIndex(spark, idx, Seq(allDead(1)))
    FullText.deleteFromTextIndex(spark, lIdx, Seq(allDead(1)))
    assert(Layout.liveGeneration(spark, idx).contains(2L))
    assert(page(idx) == page(lIdx),
      "the replayed commit over crash leftovers must equal the twin")
    assert(Layout.orphanedStaging(spark, idx).isEmpty,
      "the retire sweep must have reclaimed the crash leftovers")
    // the SIDE-DIR rename is a distinct crash state: compaction's
    // commit renames the staged folded dirs (postings-v<gen>.<token>
    // -> postings-v<gen>) BEFORE the gen dir — crash there leaves a
    // partially-copied finally-named side dir that no committed
    // manifest references
    val preFold = page(idx)
    val genBefore = Layout.liveGeneration(spark, idx)
    CopyRenameFileSystem.crashStagedRenameAfterFiles = 1
    try {
      val e = intercept[Exception] {
        FullText.compactTextIndex(spark, idx)
      }
      assert(e.getMessage != null &&
        e.getMessage.contains("simulated crash mid-copy-rename"))
    } finally CopyRenameFileSystem.crashStagedRenameAfterFiles = -1
    assert(Layout.liveGeneration(spark, idx) == genBefore,
      "a crashed side rename must not move the live generation")
    assert(page(idx) == preFold,
      "the unreferenced partial side dir must be invisible to search")
    // the replayed fold clears the partial (commitGeneration deletes
    // the final name before its rename) and both folds land exact
    FullText.compactTextIndex(spark, idx)
    FullText.compactTextIndex(spark, lIdx)
    assert(page(idx) == page(lIdx),
      "compaction must be exact on a copy-rename store")
    assert(!Layout.pathExists(spark, s"$idx/_mutation.lock") &&
      !Layout.pathExists(spark, s"$idx/_mutation.lock.hb"),
      "no lease artifact may outlive the mutations")
  }

  /** A band fold crashed at each point of its generation commit:
    * before the side renames (a lease takeover fences it out), mid-
    * copy of the first staged side rename (copy-rename stores only —
    * a local rename is atomic), and after the renames but before the
    * marker. Each crash must leave the previous generation serving
    * the same collision verdicts; RunGc then reclaims every leftover
    * and the re-run fold equals an uncrashed twin's fold row for
    * row. */
  private def bandFoldCrashes(scheme: String,
      crashes: Seq[String]): Unit = {
    import graft.ops.Dedup
    spark.sparkContext.hadoopConfiguration.set("fs.cprn.impl",
      classOf[CopyRenameFileSystem].getName)
    def tmp(prefix: String) = java.nio.file.Files
      .createTempDirectory(prefix).toFile.getAbsolutePath
    val idx = scheme + tmp("band-crash")
    val twin = tmp("band-twin")
    val docs = graft.io.Tables.documents(spark, dir).limit(40)
    val prepped = docs.select($"doc_id".as("id"),
      Dedup.shingles(Dedup.tokens($"text")).as("sh"))
      .filter($"sh".isNotNull)
    // the admission stream's append, replayed: byte-identical rows
    // into the live band dirs, which each fold reclaims
    def append(i: String): Unit = {
      val (bands, shingles) = Dedup.liveBandDirs(spark, i)
      prepped.withColumn("bandh", Dedup.bandHashesDirect($"sh", 16, 4))
        .select($"id",
          posexplode_outer($"bandh").as(Seq("band", "band_hash")))
        .write.mode("append").parquet(bands)
      prepped.select($"id", $"sh").write.mode("append").parquet(shingles)
    }
    val batch = docs.limit(5)
      .select(($"doc_id" + 9000000L).as("id"), $"text")
      .select($"id", Dedup.shingles(Dedup.tokens($"text")).as("sh"))
    def verdict(i: String) = {
      val (bands, shingles) = Dedup.liveBandDirs(spark, i)
      Dedup.minhashLshPairsAgainstIndex(spark.read.parquet(bands),
        spark.read.parquet(shingles), batch, "id", "sh")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    def rows(i: String) = {
      val (bands, shingles) = Dedup.liveBandDirs(spark, i)
      Seq(bands, shingles).map(p => spark.read.parquet(p).collect()
        .map(_.toSeq.map {
          case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
          case v => String.valueOf(v)
        }.mkString("|")).toSeq.sorted)
    }
    val fs = new Path(idx).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def names() = fs.listStatus(new Path(idx)).map(_.getPath.getName).toSet
    Seq(idx, twin).foreach { i => append(i); append(i) }
    Seq(idx, twin).foreach(Dedup.compactBandIndex(spark, _))
    assert(Layout.liveGeneration(spark, idx).contains(1L))
    crashes.foreach { crash =>
      Seq(idx, twin).foreach(append)
      val gen = Layout.liveGeneration(spark, idx).get
      val served = names()
      val before = verdict(idx)
      assert(before.nonEmpty, "the fixture batch must collide")
      crash match {
        case "before renames" =>
          // a takeover fences the fold out before its first rename
          val e = intercept[IllegalStateException] {
            Layout.withMutationLease(spark, idx) {
              val out = fs.create(new Path(s"$idx/_mutation.lock"), true)
              out.write("9 intruder-token otherhost:pid=31".getBytes("UTF-8"))
              out.close()
              Dedup.compactBandIndex(spark, idx)
            }
          }
          assert(e.getMessage.contains("taken over"), e.getMessage)
          fs.delete(new Path(s"$idx/_mutation.lock"), false)
        case "mid-copy" =>
          CopyRenameFileSystem.crashStagedRenameAfterFiles = 1
          try {
            val e = intercept[Exception] {
              Dedup.compactBandIndex(spark, idx)
            }
            assert(e.getMessage != null &&
              e.getMessage.contains("simulated crash mid-copy-rename"),
              s"the injected crash must surface (got $e)")
          } finally CopyRenameFileSystem.crashStagedRenameAfterFiles = -1
          assert(names().contains(s"bands-v${gen + 1}"),
            "the crash must leave a partially-copied final dir")
        case "after renames" =>
          Layout.beforeMarkerHook = () => {
            Layout.beforeMarkerHook = () => ()
            throw new IllegalStateException("simulated crash before marker")
          }
          try {
            val e = intercept[IllegalStateException] {
              Dedup.compactBandIndex(spark, idx)
            }
            assert(e.getMessage.contains("simulated crash before marker"))
          } finally Layout.beforeMarkerHook = () => ()
          assert(Set(s"gen-${gen + 1}", s"bands-v${gen + 1}",
            s"shingles-v${gen + 1}").subsetOf(names()),
            s"the renames must have landed (got ${names()})")
      }
      assert(Layout.liveGeneration(spark, idx).contains(gen),
        s"$crash: a crashed fold must not move the live generation")
      assert(verdict(idx) == before,
        s"$crash: the previous generation must serve the same verdicts")
      assert(Layout.orphanedStaging(spark, idx).nonEmpty,
        s"$crash: the leftovers must report as orphans")
      val (reclaimed, _) = graft.tools.RunGc.run(spark, idx)
      assert(reclaimed > 0 && names() == served,
        s"$crash: RunGc must reclaim exactly the leftovers " +
          s"(got ${names()} vs $served)")
      Dedup.compactBandIndex(spark, idx)
      Dedup.compactBandIndex(spark, twin)
      assert(Layout.liveGeneration(spark, idx).contains(gen + 1))
      assert(rows(idx) == rows(twin),
        s"$crash: the re-run fold must equal an uncrashed fold")
      assert(verdict(idx) == before,
        s"$crash: the re-run fold must keep the verdicts")
      assert(names() == Set(s"gen-${gen + 1}", s"bands-v${gen + 1}",
        s"shingles-v${gen + 1}"),
        s"$crash: the fold must reclaim the superseded generation " +
          s"(got ${names()})")
    }
  }

  test("band fold crashes before and after its side renames leave the previous generation serving; RunGc reclaims; the re-run fold equals an uncrashed fold") {
    bandFoldCrashes("", Seq("before renames", "after renames"))
  }

  test("cprn://: band fold crashes before, mid-copy of and after its side renames leave the previous generation serving; RunGc reclaims; the re-run fold equals an uncrashed fold") {
    bandFoldCrashes("cprn://",
      Seq("before renames", "mid-copy", "after renames"))
  }
}
