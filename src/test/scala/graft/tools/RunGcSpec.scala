package graft.tools

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.io.Layout
import graft.ops.FullText
import graft.queries.SimilarityQueries

/** The staging-GC contract: a writer that crashes mid-stage on an
  * index that then goes IDLE leaks its token-suffixed staging dirs
  * forever (the retire sweep rides only the next committed mutation)
  * — RunStatus must surface the leak and RunGc must reclaim it under
  * the lease WITHOUT folding, leaving the committed state and every
  * search page bit-identical. */
class RunGcSpec extends SparkSpecBase {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private val terms = Seq("fast", "vector", "query")

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix)
      .toFile.getAbsolutePath

  /** Crash a mutation mid-stage the deterministic way: run a real
    * lease-holding body that stages a generation dir and a side dir
    * (the exact names a compaction stages), then throws before any
    * commit — the shape of a killed writer, minus the stale lease a
    * kill -9 would also leave (LeaseSpec covers takeover). */
  private def crashMidStage(idx: String): Unit = {
    intercept[RuntimeException] {
      Layout.withMutationLease(spark, idx) {
        val gen = Layout.liveGeneration(spark, idx).getOrElse(0L) + 1
        val stage = Layout.stageGenerationDir(spark, idx, gen)
        Seq(Tuple1(1L)).toDF("doc_id").write
          .parquet(s"$stage/tombstones")
        val side = Layout.stagedSideName(spark, idx, s"postings-v$gen")
        Seq(("t", 1L)).toDF("term", "df").write
          .parquet(s"$idx/$side")
        throw new RuntimeException("simulated writer crash")
      }
    }
  }

  test("text index: a crashed stage is flagged by RunStatus, reclaimed by RunGc, search unchanged") {
    val docs = graft.io.Tables.documents(spark, dir).limit(60)
    val idx = tmp("gc-t")
    FullText.writeTextIndex(docs, "doc_id", "text", idx,
      storeTermVectors = true)
    // one committed mutation so a live generation exists
    val dead = docs.limit(1).select($"doc_id")
      .collect().map(_.getLong(0)).toSeq
    FullText.deleteFromTextIndex(spark, idx, dead)
    def page() = FullText.bm25SearchStored(spark, idx, terms)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = page()
    assert(RunStatus.describe(spark, idx)
      .contains("\"orphaned_staging\":{\"count\":0,\"bytes\":0}"),
      "a clean index must report zero orphans")
    crashMidStage(idx)
    // ... and a pre-token-staging crash (a finally-named gen dir
    // above live, no marker) — the legacy crash shape
    val legacyGen = Layout.liveGeneration(spark, idx).get + 7
    Seq(Tuple1(2L)).toDF("doc_id").write
      .parquet(s"${Layout.generationDir(idx, legacyGen)}/tombstones")
    val st = RunStatus.describe(spark, idx)
    val m = """"orphaned_staging":\{"count":(\d+),"bytes":(\d+)\}""".r
      .findFirstMatchIn(st)
    assert(m.exists(g => g.group(1).toInt == 3 && g.group(2).toLong > 0),
      s"the status face must count all three orphan dirs (got $st)")
    assert(page() == before,
      "orphans are invisible to search by construction")
    // RunGc reclaims under the lease, WITHOUT folding: the live
    // generation number and the search page must not move
    val genBefore = Layout.liveGeneration(spark, idx)
    val (nDirs, nBytes) = RunGc.run(spark, idx)
    assert(nDirs == 3 && nBytes > 0,
      s"the sweep must reclaim all three orphans (got $nDirs)")
    assert(Layout.liveGeneration(spark, idx) == genBefore,
      "GC must not cut a generation — it reclaims, never folds")
    assert(page() == before, "search must be GC-invariant")
    assert(RunStatus.describe(spark, idx)
      .contains("\"orphaned_staging\":{\"count\":0,\"bytes\":0}"))
    assert(!Layout.pathExists(spark, s"$idx/_mutation.lock"),
      "the GC's own lease must release")
    // idempotent: an empty re-sweep reclaims nothing
    assert(RunGc.run(spark, idx) == ((0, 0L)))
  }

  test("an ACTIVE writer's in-flight staging is never reported or reclaimed") {
    val docs = graft.io.Tables.documents(spark, dir).limit(40)
    val idx = tmp("gc-active")
    FullText.writeTextIndex(docs, "doc_id", "text", idx)
    Layout.withMutationLease(spark, idx) {
      val stage = Layout.stageGenerationDir(spark, idx, 1L)
      Seq(Tuple1(5L)).toDF("doc_id").write
        .parquet(s"$stage/tombstones")
      // from OUTSIDE the holder's thread this would be RunStatus
      // polling a busy index: the holder's token-suffixed staging is
      // in-flight work, not a leak
      val st = RunStatus.describe(spark, idx)
      assert(st.contains("\"orphaned_staging\":{\"count\":0,\"bytes\":0}"),
        s"in-flight staging must not read as orphaned (got $st)")
      assert(st.contains("\"lease\""),
        "the held lease must surface alongside")
    }
    // after the (uncommitted) holder releases, the same dir IS a leak
    val st2 = RunStatus.describe(spark, idx)
    assert(st2.contains("\"orphaned_staging\":{\"count\":1"),
      s"released-without-commit staging must read as orphaned (got $st2)")
    val (n, _) = RunGc.run(spark, idx)
    assert(n == 1)
  }

  test("vector index: manifest-referenced segment dirs survive the sweep; orphans don't") {
    val idx = tmp("gc-v")
    SimilarityQueries.writeIvfPqIndex(spark, dir, idx)
    val delta = graft.io.Tables.embeddings(spark, dir)
      .filter($"vec_id" % 13 === 4)
      .select(($"vec_id" + 910000L).as("vec_id"), $"embedding")
    SimilarityQueries.appendToIvfPqIndex(spark, idx, delta,
      segmentId = Some("keepme"))
    def page() = SimilarityQueries.ivfPqSearchStored(spark, idx, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = page()
    crashMidStage(idx)
    val (n, b) = RunGc.run(spark, idx)
    assert(n == 2 && b > 0,
      s"the sweep must reclaim exactly the crashed stage's two dirs (got $n)")
    assert(Layout.pathExists(spark, s"$idx/seg-keepme"),
      "a manifest-referenced segment dir must survive the sweep")
    assert(page() == before, "vector search must be GC-invariant")
    assert(Layout.segmentCount(spark, idx) == 1,
      "the committed segment must still be live after GC")
  }

  /** Run `append` with a crash injected between the commit's renames
    * and its `_COMMITTED` marker: the segment dir and the generation
    * dir are left under their final names, and no manifest names
    * either. */
  private def crashBeforeMarker(append: => Unit): Unit = {
    Layout.beforeMarkerHook = () => {
      Layout.beforeMarkerHook = () => ()
      throw new IllegalStateException("simulated crash before marker")
    }
    try {
      val e = intercept[IllegalStateException](append)
      assert(e.getMessage.contains("simulated crash before marker"))
    } finally Layout.beforeMarkerHook = () => ()
  }

  /** The finally-named leftovers of an append that died before its
    * marker: RunStatus counts both, RunGc reclaims both, and the
    * replay of the same segment id then commits. */
  private def assertRenamedAppendReclaimed(idx: String, seg: String,
      replay: => Unit): Unit = {
    val live = Layout.liveGeneration(spark, idx)
    val unmarked = s"gen-${live.getOrElse(0L) + 1}"
    assert(Layout.pathExists(spark, s"$idx/$seg") &&
      Layout.pathExists(spark, s"$idx/$unmarked"),
      "the crash must leave the renamed segment and generation dirs")
    val st = RunStatus.describe(spark, idx)
    assert(st.contains("\"orphaned_staging\":{\"count\":2,"),
      s"the status face must count the unreferenced $seg (got $st)")
    val (n, b) = RunGc.run(spark, idx)
    assert(n == 2 && b > 0,
      s"the sweep must reclaim $seg and $unmarked (got $n)")
    assert(!Layout.pathExists(spark, s"$idx/$seg"))
    assert(Layout.liveGeneration(spark, idx) == live,
      "GC must not cut a generation")
    replay
    assert(Layout.segmentCount(spark, idx) == 1,
      "the replayed append must commit its segment")
  }

  test("text append that died after its renames: the finally-named seg dir is reported and reclaimed") {
    val docs = graft.io.Tables.documents(spark, dir).limit(40)
    val idx = tmp("gc-tseg")
    FullText.writeTextIndex(docs, "doc_id", "text", idx)
    def append() = FullText.appendToTextIndex(spark,
      Seq((9400001L, "fast vector crash probe")).toDF("doc_id", "text"),
      "doc_id", "text", idx, segmentId = Some("x1"))
    crashBeforeMarker(append())
    assertRenamedAppendReclaimed(idx, "seg-x1", append())
  }

  test("vector append that died after its renames: the finally-named seg dir is reported and reclaimed") {
    val idx = tmp("gc-vseg")
    SimilarityQueries.writeIvfPqIndex(spark, dir, idx)
    val delta = graft.io.Tables.embeddings(spark, dir)
      .filter($"vec_id" % 13 === 4)
      .select(($"vec_id" + 910000L).as("vec_id"), $"embedding")
    def append() = SimilarityQueries.appendToIvfPqIndex(spark, idx, delta,
      segmentId = Some("x1"))
    crashBeforeMarker(append())
    assertRenamedAppendReclaimed(idx, "seg-x1", append())
  }

  test("the GC faces run on a URI-schemed object-store filesystem") {
    // RunGc and orphanedStaging are NEW filesystem-walking code — the
    // exact class the nost:// pins exist for (a java.io.File slip
    // would silently report nothing / reclaim nothing on a real
    // object store, with no error)
    spark.sparkContext.hadoopConfiguration.set("fs.nost.impl",
      classOf[graft.io.NoSetTimesFileSystem].getName)
    val docs = graft.io.Tables.documents(spark, dir).limit(40)
    val idx = "nost://" + tmp("gc-nost")
    FullText.writeTextIndex(docs, "doc_id", "text", idx,
      storeTermVectors = true)
    FullText.deleteFromTextIndex(spark, idx,
      docs.limit(1).select($"doc_id").collect().map(_.getLong(0)).toSeq)
    def page() = FullText.bm25SearchStored(spark, idx, terms)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = page()
    crashMidStage(idx)
    val st = RunStatus.describe(spark, idx)
    assert(st.contains("\"orphaned_staging\":{\"count\":2"),
      s"the blind store's orphans must be visible (got $st)")
    val (n, b) = RunGc.run(spark, idx)
    assert(n == 2 && b > 0,
      s"the sweep must reclaim both orphan dirs on nost:// (got $n)")
    assert(page() == before, "search must be GC-invariant on nost://")
    assert(RunStatus.describe(spark, idx)
      .contains("\"orphaned_staging\":{\"count\":0,\"bytes\":0}"))
    assert(!Layout.pathExists(spark, s"$idx/_mutation.lock"))
  }
}
