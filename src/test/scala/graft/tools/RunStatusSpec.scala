package graft.tools

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.ops.FullText
import graft.queries.SimilarityQueries

/** The status CLI's contract: one metadata-only JSON line per index,
  * accurate across the mutation lifecycle, never scanning a corpus
  * artifact (safe to poll against a 100 TB index), and surfacing the
  * lease's staleness clock while a mutation runs. */
class RunStatusSpec extends SparkSpecBase {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix)
      .toFile.getAbsolutePath

  test("text index: statistics, segments, tombstones and generation track the lifecycle") {
    val docs = graft.io.Tables.documents(spark, dir)
    val idx = tmp("status-t")
    // term vectors on: deletes take the exact-stats path, so n_docs
    // must track the evictions (the Lucene-stale path would carry
    // the stale count until compaction, by design)
    FullText.writeTextIndex(docs, "doc_id", "text", idx,
      storeTermVectors = true)
    val s0 = RunStatus.describe(spark, idx)
    assert(s0.contains("\"family\":\"text\""))
    assert(s0.contains(s""""n_docs":${docs.count()}"""))
    assert(s0.contains("\"generation\":-1") &&
      s0.contains("\"segments\":0") &&
      s0.contains("\"tombstone_rows\":0"),
      s"a fresh write is the legacy root layout (got $s0)")
    assert(!s0.contains("\"lease\""),
      "an unheld index must report no lease")
    // append a segment + delete two docs: the status must follow the
    // committed generation's recorded state
    FullText.appendToTextIndex(spark,
      Seq((9100001L, "fast vector status probe")).toDF("doc_id", "text"),
      "doc_id", "text", idx, segmentId = Some("s1"))
    val dead = docs.limit(2).select($"doc_id")
      .collect().map(_.getLong(0)).toSeq
    FullText.deleteFromTextIndex(spark, idx, dead)
    val s1 = RunStatus.describe(spark, idx)
    assert(s1.contains(s""""n_docs":${docs.count() + 1 - dead.size}"""))
    assert(s1.contains("\"segments\":1") &&
      s1.contains("\"tombstone_rows\":2"))
    assert(!s1.contains("\"generation\":-1"))
    // compaction applies the tombstones physically
    FullText.compactTextIndex(spark, idx)
    val s2 = RunStatus.describe(spark, idx)
    assert(s2.contains("\"segments\":0") &&
      s2.contains("\"tombstone_rows\":0"))
  }

  test("vector index: the meta row surfaces; band index reports its artifacts; lease silence surfaces while held") {
    val vIdx = tmp("status-v")
    SimilarityQueries.writeIvfPqIndex(spark, dir, vIdx)
    val sv = RunStatus.describe(spark, vIdx)
    assert(sv.contains("\"family\":\"vector\"") &&
      sv.contains("\"codec\":\"pq\"") &&
      sv.contains("\"coarse\":\"flat\"") &&
      sv.contains("\"pgroups\":0") &&
      sv.contains("\"pgroups_forced\":false"), s"got $sv")
    // band artifacts
    import graft.ops.Dedup
    val bIdx = tmp("status-b")
    val prepped = graft.io.Tables.documents(spark, dir).limit(20)
      .select($"doc_id".as("id"),
        Dedup.shingles(Dedup.tokens($"text")).as("sh"))
      .filter($"sh".isNotNull)
    prepped.withColumn("bandh", Dedup.bandHashesDirect($"sh", 16, 4))
      .select($"id", posexplode_outer($"bandh").as(Seq("band", "band_hash")))
      .write.mode("append").parquet(s"$bIdx/bands")
    prepped.select($"id", $"sh")
      .write.mode("append").parquet(s"$bIdx/shingles")
    val sb0 = RunStatus.describe(spark, bIdx)
    assert(sb0.contains("\"family\":\"band\"") &&
      sb0.contains("\"artifacts\":[\"bands\",\"shingles\"]"))
    // a fold moves the band index onto its first generation; the
    // family still detects through the live band dirs
    Dedup.compactBandIndex(spark, bIdx)
    val sb1 = RunStatus.describe(spark, bIdx)
    assert(sb1.contains("\"family\":\"band\"") &&
      sb1.contains("\"generation\":1") &&
      sb1.contains("\"orphaned_staging\":{\"count\":0,\"bytes\":0}"),
      s"got $sb1")
    // a held lease surfaces with the staleness clock (the same read
    // the takeover check uses) — simulate the foreign holder the
    // established way and age it a little
    val lock = new Path(s"$vIdx/_mutation.lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(lock, true)
    out.write("3 some-token otherhost:pid=777".getBytes("UTF-8"))
    out.close()
    fs.setTimes(lock, System.currentTimeMillis() - 5000, -1)
    val sl = RunStatus.describe(spark, vIdx)
    assert(sl.contains("\"lease\":{\"epoch\":3,\"owner\":\"otherhost:pid=777\""),
      s"a held lease must surface its holder (got $sl)")
    assert("\"silent_s\":([0-9]+)".r.findFirstMatchIn(sl)
      .exists(_.group(1).toLong >= 5),
      s"the silence clock must reflect the aged mtime (got $sl)")
    fs.delete(lock, false)
  }

  test("vector describe reads its meta and segment manifest on the driver: no Spark job") {
    val idx = tmp("status-vjobs")
    SimilarityQueries.writeIvfPqIndex(spark, dir, idx)
    // a committed segment, so describe reads the manifest as well as
    // the meta
    SimilarityQueries.appendToIvfPqIndex(spark, idx,
      graft.io.Tables.embeddings(spark, dir)
        .filter($"vec_id" % 13 === 4)
        .select(($"vec_id" + 910000L).as("vec_id"), $"embedding"),
      segmentId = Some("s1"))
    // count jobs in a dedicated (thread-local) job group
    val group = s"status-jobs-${System.nanoTime()}"
    spark.sparkContext.setJobGroup(group, "vector describe job count")
    val st =
      try RunStatus.describe(spark, idx)
      finally spark.sparkContext.clearJobGroup()
    assert(st.contains("\"family\":\"vector\"") &&
      st.contains("\"segments\":1"), s"got $st")
    val jobs = spark.sparkContext.statusTracker.getJobIdsForGroup(group)
    assert(jobs.isEmpty, s"describe ran ${jobs.length} Spark jobs")
  }

  test("n_docs_live: Lucene-stale layouts subtract tombstones, exact layouts don't double-subtract") {
    val docs = graft.io.Tables.documents(spark, dir)
    val n = docs.count()
    // positions-only (no term vectors): deletes leave the recorded
    // n_docs Lucene-stale until the fold — n_docs_live must hand the
    // operator the servable count instead of making them subtract
    val idx = tmp("status-live")
    FullText.writeTextIndex(docs, "doc_id", "text", idx,
      storePositions = false)
    FullText.appendToTextIndex(spark,
      Seq((9300001L, "fast vector live count probe"))
        .toDF("doc_id", "text"),
      "doc_id", "text", idx, segmentId = Some("s1"))
    val s0 = RunStatus.describe(spark, idx)
    assert(s0.contains(s""""n_docs":${n + 1}""") &&
      s0.contains(s""""n_docs_live":${n + 1}"""),
      s"no tombstones: live equals recorded (got $s0)")
    val dead = docs.limit(3).select($"doc_id")
      .collect().map(_.getLong(0)).toSeq
    FullText.deleteFromTextIndex(spark, idx, dead)
    val s1 = RunStatus.describe(spark, idx)
    assert(s1.contains(s""""n_docs":${n + 1}"""),
      s"the recorded count stays Lucene-stale by design (got $s1)")
    assert(s1.contains(s""""n_docs_live":${n + 1 - dead.size}""") &&
      s1.contains(s""""tombstone_rows":${dead.size}"""),
      s"live must subtract the tombstoned docs (got $s1)")
    // the fold trues the recorded count; live converges to it
    FullText.compactTextIndex(spark, idx)
    val s2 = RunStatus.describe(spark, idx)
    assert(s2.contains(s""""n_docs":${n + 1 - dead.size}""") &&
      s2.contains(s""""n_docs_live":${n + 1 - dead.size}""") &&
      s2.contains("\"tombstone_rows\":0"), s"got $s2")
    // CROSS-FOLD REPLAY on the stale layout (the text twin of the
    // vector present-only discipline): the fold physically dropped
    // the docs AND cleared the tombstone set, so a replayed takedown
    // id used to land as a GHOST tombstone — masking nothing, but
    // making n_docs_live = n_docs − tombstone_rows UNDER-report. The
    // present-only postings semi-join must record nothing for it
    FullText.deleteFromTextIndex(spark, idx, dead)
    val s2r = RunStatus.describe(spark, idx)
    assert(s2r.contains(s""""n_docs_live":${n + 1 - dead.size}""") &&
      s2r.contains("\"tombstone_rows\":0"),
      s"a cross-fold replayed takedown must not ghost-tombstone (got $s2r)")
    // ... and a NEVER-INDEXED id is equally ignored
    FullText.deleteFromTextIndex(spark, idx, Seq(987654321098L))
    assert(RunStatus.describe(spark, idx)
      .contains("\"tombstone_rows\":0"),
      "a never-indexed takedown id must tombstone nothing")
    // exact-mode twin (term vectors): the delete already decremented
    // n_docs, so live must NOT subtract the tombstones again
    val idxTv = tmp("status-live-tv")
    FullText.writeTextIndex(docs, "doc_id", "text", idxTv,
      storeTermVectors = true)
    FullText.deleteFromTextIndex(spark, idxTv, dead)
    val sTv = RunStatus.describe(spark, idxTv)
    assert(sTv.contains(s""""n_docs":${n - dead.size}""") &&
      sTv.contains(s""""n_docs_live":${n - dead.size}""") &&
      sTv.contains(s""""tombstone_rows":${dead.size}"""),
      s"exact stats must not double-subtract (got $sTv)")
    // multi-field: Lucene-stale like positions-only, per-field n_docs
    val mf = docs.select($"doc_id",
      substring($"text", 1, 24).as("title"), $"text".as("body"))
    val idxMf = tmp("status-live-mf")
    FullText.writeMultiFieldTextIndex(mf, "doc_id",
      Seq("title", "body"), idxMf)
    FullText.deleteFromTextIndex(spark, idxMf, dead)
    val sMf = RunStatus.describe(spark, idxMf)
    assert(sMf.contains("\"family\":\"multifield\"") &&
      sMf.contains(s""""n_docs":$n""") &&
      sMf.contains(s""""n_docs_live":${n - dead.size}"""),
      s"multi-field live must subtract tombstones (got $sMf)")
    // multi-field WITH term vectors: the delete dispatch takes the
    // exact path (per-field n_docs decremented at delete time while
    // tombstones still record), so live must NOT subtract again
    val idxMfTv = tmp("status-live-mf-tv")
    FullText.writeMultiFieldTextIndex(mf, "doc_id",
      Seq("title", "body"), idxMfTv, storeTermVectors = true)
    FullText.deleteFromTextIndex(spark, idxMfTv, dead)
    val sMfTv = RunStatus.describe(spark, idxMfTv)
    assert(sMfTv.contains(s""""n_docs":${n - dead.size}""") &&
      sMfTv.contains(s""""n_docs_live":${n - dead.size}""") &&
      sMfTv.contains(s""""tombstone_rows":${dead.size}"""),
      s"multi-field exact stats must not double-subtract (got $sMfTv)")
  }

  test("n_vecs / n_vecs_live: the vector twin across write → append → delete → fold") {
    val emb = graft.io.Tables.embeddings(spark, dir)
    val n = emb.count()
    val idx = tmp("status-nvecs")
    SimilarityQueries.writeIvfPqIndex(spark, dir, idx)
    val s0 = RunStatus.describe(spark, idx)
    assert(s0.contains(s""""n_vecs":$n""") &&
      s0.contains(s""""n_vecs_live":$n"""),
      s"write must record the corpus count (got $s0)")
    // append a delta: recorded count shifts by the admitted rows
    val delta = emb.filter($"vec_id" % 17 === 3)
      .select(($"vec_id" + 920000L).as("vec_id"), $"embedding")
    val dn = delta.count()
    SimilarityQueries.appendToIvfPqIndex(spark, idx, delta,
      segmentId = Some("nv1"))
    val s1 = RunStatus.describe(spark, idx)
    assert(s1.contains(s""""n_vecs":${n + dn}""") &&
      s1.contains(s""""n_vecs_live":${n + dn}"""),
      s"append must shift the recorded count (got $s1)")
    // a REPLAYED batch must not double-count (the applied-segments
    // no-op path carries meta unchanged)
    SimilarityQueries.appendToIvfPqIndex(spark, idx, delta,
      segmentId = Some("nv1"))
    assert(RunStatus.describe(spark, idx)
      .contains(s""""n_vecs":${n + dn}"""),
      "a replayed append must be count-invariant")
    // delete: recorded stays (FAISS remove_ids economy), live derives
    val dead = emb.limit(7).select($"vec_id")
      .collect().map(_.getLong(0)).toSeq
    SimilarityQueries.deleteFromIvfPqIndex(spark, idx, dead)
    val s2 = RunStatus.describe(spark, idx)
    assert(s2.contains(s""""n_vecs":${n + dn}""") &&
      s2.contains(s""""n_vecs_live":${n + dn - dead.size}""") &&
      s2.contains(s""""tombstone_rows":${dead.size}"""),
      s"delete must derive live through tombstones (got $s2)")
    // the fold applies tombstones physically and trues the record
    SimilarityQueries.compactIvfPqIndex(spark, idx)
    val s3 = RunStatus.describe(spark, idx)
    assert(s3.contains(s""""n_vecs":${n + dn - dead.size}""") &&
      s3.contains(s""""n_vecs_live":${n + dn - dead.size}""") &&
      s3.contains("\"tombstone_rows\":0"),
      s"the fold must true the recorded count (got $s3)")
    // CROSS-FOLD REPLAY (the text family's discipline, now
    // symmetric): the fold physically dropped the dead rows AND
    // cleared the tombstone set the idempotence anti-join checks, so
    // a takedown id replayed across the compaction boundary (an
    // at-least-once ruling feed) used to land as a GHOST tombstone —
    // harmless to search but under-reporting n_vecs_live until the
    // next fold. The present-only semi-join against the live codes
    // must tombstone NOTHING for it
    SimilarityQueries.deleteFromIvfPqIndex(spark, idx, dead)
    val s4 = RunStatus.describe(spark, idx)
    assert(s4.contains(s""""n_vecs_live":${n + dn - dead.size}""") &&
      s4.contains("\"tombstone_rows\":0"),
      s"a cross-fold replayed takedown must not ghost-tombstone (got $s4)")
    // ... and a NEVER-INDEXED id is equally ignored
    SimilarityQueries.deleteFromIvfPqIndex(spark, idx,
      Seq(987654321098L))
    assert(RunStatus.describe(spark, idx)
      .contains("\"tombstone_rows\":0"),
      "a never-indexed takedown id must tombstone nothing")
  }

  test("committed_generations lists every retained pinnable snapshot ascending") {
    val docs = graft.io.Tables.documents(spark, dir).limit(50)
    val idx = tmp("status-gens")
    spark.conf.set("graft.index.retainGenerations", "4")
    try {
      FullText.writeTextIndex(docs, "doc_id", "text", idx)
      assert(RunStatus.describe(spark, idx)
        .contains("\"committed_generations\":[]"),
        "the legacy root layout has no pinnable generations")
      FullText.appendToTextIndex(spark,
        Seq((9400001L, "first committed generation"))
          .toDF("doc_id", "text"),
        "doc_id", "text", idx, segmentId = Some("g1"))
      FullText.appendToTextIndex(spark,
        Seq((9400002L, "second committed generation"))
          .toDF("doc_id", "text"),
        "doc_id", "text", idx, segmentId = Some("g2"))
      val st = RunStatus.describe(spark, idx)
      assert(st.contains("\"committed_generations\":[1,2]") &&
        st.contains("\"generation\":2"),
        s"both retained snapshots must list ascending (got $st)")
    } finally spark.conf.unset("graft.index.retainGenerations")
  }
}
