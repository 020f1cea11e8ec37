package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.ops.FullText

/** The mutation lease exercised against a REAL second JVM — every
  * other lease fixture simulates a foreign holder by pre-creating
  * the lock file; this one spawns `graft.tools.HoldLease` as a live
  * competitor process (inheriting the forked test JVM's classpath)
  * and pins the three cross-process behaviors that simulation cannot
  * reach: a live foreign holder's acquire actually excludes this
  * JVM's mutators; a kill -9'd holder leaves the lease on disk; and
  * the stale-takeover path then recovers it. */
class CrossJvmLeaseSpec extends SparkSpecBase {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def fs = new Path("/tmp")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  // the JDK-17 module opens Spark 4 needs outside spark-submit —
  // the same list build.sbt forks tests with
  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** Spawn `mainClass` as a real second JVM on the forked test JVM's
    * own classpath, stdout+stderr to a temp log. */
  private def spawnJvm(mainClass: String,
      mainArgs: Seq[String]): Process = {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cp = System.getProperty("java.class.path")
    val cmd = (Seq(javaBin) ++ addOpens ++ Seq("-Xmx1g", "-cp", cp,
      "-Dspark.ui.enabled=false", mainClass) ++ mainArgs).toArray
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    pb.redirectOutput(java.io.File.createTempFile(
      mainClass.split('.').last.toLowerCase, ".log"))
    pb.start()
  }

  test("cross-JVM mutation storm: real processes race appends/deletes/compactions through a kill -9 takeover and equal the serial rebuild") {
    // LeaseSpec's storms race THREADS in one JVM (they serialize on
    // the per-index lock and never touch the filesystem lease);
    // CrossJvmLeaseSpec's first fixture runs ONE competitor. This
    // composes them: three REAL JVMs race an append, a delete and a
    // compaction on one index with the bounded-wait knob set, against
    // a holder that is kill -9'd MID-MUTATION — the workers must wait
    // out the live holder (its heartbeat keeps the lease fresh), take
    // over its crashed lease once stale, serialize among themselves
    // on lease contention, and land a final index bit-identical to
    // the serial rebuild. This is the only harness that exercises
    // token-unique staging + epoch fencing under genuine multi-
    // process pressure.
    val docs = graft.io.Tables.documents(spark, dir).limit(80)
    val idx = java.nio.file.Files.createTempDirectory("lease-xstorm")
      .toFile.getAbsolutePath
    FullText.writeTextIndex(docs, "doc_id", "text", idx,
      storeTermVectors = true)
    val lock = new Path(s"$idx/_mutation.lock")
    // the kill -9 victim: holds the lease mid-"mutation" with a 4 s
    // stale window (heartbeating every ~1.3 s while alive)
    val holder = spawnJvm("graft.tools.HoldLease",
      Seq(idx, "120000", "4000"))
    val workers = scala.collection.mutable.ArrayBuffer[Process]()
    try {
      val deadline = System.currentTimeMillis() + 120000
      while (!fs.exists(lock) && holder.isAlive &&
          System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      assert(fs.exists(lock), "the holder JVM must acquire the lease")
      // three real competing mutators, all polling (--waitMs) with
      // the same 4 s stale window
      val dead = docs.select($"doc_id").collect().map(_.getLong(0))
        .sorted.take(4)
      val stormArgs = Seq("--waitMs", "150000", "--staleMs", "4000")
      workers += spawnJvm("graft.tools.StormWorker",
        Seq(idx, "append", "xjvm1", "7790000", "3") ++ stormArgs)
      workers += spawnJvm("graft.tools.StormWorker",
        Seq(idx, "delete", dead.mkString(",")) ++ stormArgs)
      workers += spawnJvm("graft.tools.StormWorker",
        Seq(idx, "compact") ++ stormArgs)
      // let the workers reach their polling loops against the LIVE
      // holder, then crash it without release — the takeover is the
      // only road to their mutations landing
      Thread.sleep(3000)
      holder.destroyForcibly()
      holder.waitFor()
      assert(fs.exists(lock) || workers.exists(_.isAlive),
        "a killed holder's lease must remain until a worker takes over")
      workers.foreach { w =>
        assert(w.waitFor(150, java.util.concurrent.TimeUnit.SECONDS),
          "every storm worker must finish inside its wait window")
        assert(w.exitValue() == 0,
          s"a storm worker failed (exit ${w.exitValue()}) — see its log")
      }
      // serial rebuild over the equivalent final corpus: base minus
      // the deletes, plus the worker's deterministic appended docs
      val appended = (0 until 3)
        .map(i => (7790000L + i,
          graft.tools.StormWorker.stormDocText(7790000L + i)))
        .toDF("doc_id", "text")
      val idxR = java.nio.file.Files
        .createTempDirectory("lease-xstorm-r").toFile.getAbsolutePath
      FullText.writeTextIndex(
        docs.filter(!$"doc_id".isInCollection(dead.toSeq))
          .select($"doc_id", $"text").unionByName(appended),
        "doc_id", "text", idxR, storeTermVectors = true)
      def page(i: String) = FullText
        .bm25SearchStored(spark, i, Seq("fast", "vector", "query"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(page(idx) == page(idxR),
        "the cross-JVM storm must equal the serial rebuild")
      assert(!Layout.pathExists(spark, s"$idx/_mutation.lock"),
        "the last worker's clean release must reclaim the lease")
    } finally {
      holder.destroyForcibly()
      workers.foreach(_.destroyForcibly())
      ()
    }
  }

  test("cross-JVM VECTOR storm: real processes race append/delete/compact through a kill -9 takeover and equal the rebuild at fixed artifacts") {
    // the text storm's vector twin across REAL processes: appends
    // encode against the PERSISTED artifacts (the q106 stability
    // contract), so any interleaving must equal a batch rebuild over
    // (survivors ∪ appended) at the SAME artifacts — here with the
    // lease contention, takeover, meta carry and codes-segment
    // staging all exercised by separate JVMs instead of threads.
    import graft.queries.SimilarityQueries
    val vecs = graft.io.Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding")
    val idx = java.nio.file.Files.createTempDirectory("lease-xvstorm")
      .toFile.getAbsolutePath
    SimilarityQueries.writeIvfPqIndexFrames(vecs, vecs, idx)
    val lock = new Path(s"$idx/_mutation.lock")
    val holder = spawnJvm("graft.tools.HoldLease",
      Seq(idx, "120000", "4000"))
    val workers = scala.collection.mutable.ArrayBuffer[Process]()
    try {
      val deadline = System.currentTimeMillis() + 120000
      while (!fs.exists(lock) && holder.isAlive &&
          System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      assert(fs.exists(lock), "the holder JVM must acquire the lease")
      val dead = vecs.select($"vec_id").collect().map(_.getLong(0))
        .sorted.take(5)
      val stormArgs = Seq("--waitMs", "150000", "--staleMs", "4000")
      workers += spawnJvm("graft.tools.StormWorker",
        Seq(idx, "vappend", dir, "xv1", "11", "2", "880000") ++ stormArgs)
      workers += spawnJvm("graft.tools.StormWorker",
        Seq(idx, "vdelete", dead.mkString(",")) ++ stormArgs)
      workers += spawnJvm("graft.tools.StormWorker",
        Seq(idx, "vcompact") ++ stormArgs)
      Thread.sleep(3000)
      holder.destroyForcibly()
      holder.waitFor()
      workers.foreach { w =>
        assert(w.waitFor(150, java.util.concurrent.TimeUnit.SECONDS),
          "every vector storm worker must finish inside its window")
        assert(w.exitValue() == 0,
          s"a vector storm worker failed (exit ${w.exitValue()})")
      }
      // rebuild over the equivalent final corpus at the SAME artifacts
      val appended = vecs.filter($"vec_id" % 11 === 2)
        .select(($"vec_id" + 880000L).as("vec_id"), $"embedding")
      val finalCorpus = vecs
        .filter(!$"vec_id".isInCollection(dead.toSeq))
        .unionByName(appended)
      val idxR = java.nio.file.Files
        .createTempDirectory("lease-xvstorm-r").toFile.getAbsolutePath
      SimilarityQueries.writeIvfPqIndexFrames(vecs, finalCorpus, idxR)
      def page(i: String) = SimilarityQueries
        .ivfPqSearchStored(spark, i, dir)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(page(idx) == page(idxR),
        "the cross-JVM vector storm must equal the rebuild at fixed " +
          "artifacts")
      assert(!Layout.pathExists(spark, s"$idx/_mutation.lock"),
        "the last worker's clean release must reclaim the lease")
    } finally {
      holder.destroyForcibly()
      workers.foreach(_.destroyForcibly())
      ()
    }
  }

  test("a live second JVM excludes this one; kill -9 leaves a stale lease the takeover recovers") {
    val docs = graft.io.Tables.documents(spark, dir).limit(80)
    val idx = java.nio.file.Files.createTempDirectory("lease-xjvm")
      .toFile.getAbsolutePath
    FullText.writeTextIndex(docs, "doc_id", "text", idx,
      storeTermVectors = true)
    val lock = new Path(s"$idx/_mutation.lock")
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cp = System.getProperty("java.class.path")
    val cmd = (Seq(javaBin) ++ addOpens ++ Seq("-Xmx1g", "-cp", cp,
      "-Dspark.ui.enabled=false", "graft.tools.HoldLease", idx,
      "180000")).toArray
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    pb.redirectOutput(java.io.File.createTempFile("holdlease", ".log"))
    val proc = pb.start()
    try {
      // synchronize on the LOCK FILE: its creation IS the acquire
      val deadline = System.currentTimeMillis() + 120000
      while (!fs.exists(lock) && proc.isAlive &&
          System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      assert(fs.exists(lock),
        "the child JVM must acquire the lease (did it start?)")
      // a LIVE foreign holder: this JVM's mutation fails fast, and
      // the error names the actual competing process
      val dead = docs.limit(2).select($"doc_id")
        .collect().map(_.getLong(0)).toSeq
      val e = intercept[IllegalStateException] {
        FullText.deleteFromTextIndex(spark, idx, dead)
      }
      assert(e.getMessage.contains("being mutated"))
      assert(e.getMessage.contains(s"pid=${proc.pid()}"),
        s"the refusal must name the live holder (got: ${e.getMessage})")
      // kill -9: the holder crashes WITHOUT releasing — the lease
      // file must survive its death (that is the crashed-holder
      // state the stale window exists to measure)
      proc.destroyForcibly()
      proc.waitFor()
      assert(fs.exists(lock),
        "a killed holder's lease must remain on disk")
      // stale takeover recovers the index: age the lease past the
      // window and the next mutation takes over with epoch+1
      fs.setTimes(lock, System.currentTimeMillis() - 3600L * 1000, -1)
      spark.conf.set("graft.index.leaseStaleMs", "1000")
      try {
        FullText.deleteFromTextIndex(spark, idx, dead)
        assert(spark.read
          .parquet(s"${graft.io.Layout.liveArtifactDir(spark, idx)}/stats")
          .head().getAs[Long]("n_docs") == docs.count() - dead.size,
          "the takeover mutation must land exactly")
      } finally spark.conf.unset("graft.index.leaseStaleMs")
      assert(!Layout.pathExists(spark, s"$idx/_mutation.lock"),
        "the takeover's clean release must reclaim the lease")
    } finally {
      proc.destroyForcibly()
      ()
    }
  }
}
