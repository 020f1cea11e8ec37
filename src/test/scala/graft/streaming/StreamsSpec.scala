package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpecBase
import graft.queries.SimilarityQueries

case class Ev(event_id: Long, ts: Timestamp, event_type: String,
    value: Double)

class StreamsSpec extends SparkSpecBase {

  private def t(s: String): Timestamp = Timestamp.valueOf(s)

  private def runBatches[A](query: org.apache.spark.sql.DataFrame,
      name: String)(feed: => Unit): Unit = {
    val q = query.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try { feed; q.processAllAvailable() } finally q.stop()
  }

  test("windowedRollup emits closed windows after watermark passes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Ev]
    val out = Streams.windowedRollup(
      src.toDF().select($"ts", $"event_type", $"value"),
      windowLen = "10 minutes", lateness = "5 minutes")
    runBatches(out, "rollup") {
      src.addData(
        Ev(1, t("2020-01-01 00:01:00"), "click", 1.0),
        Ev(2, t("2020-01-01 00:04:00"), "click", 2.0),
        Ev(3, t("2020-01-01 00:11:00"), "view", 5.0))
      // advance event time far enough to close the first two windows
      src.addData(Ev(4, t("2020-01-01 01:00:00"), "view", 1.0))
    }
    val rows = spark.table("rollup")
      .select($"window_start".cast("string"), $"event_type", $"n_events",
        $"sum_value")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(rows.contains(("2020-01-01 00:00:00", "click", 2L, 3.0)))
    assert(rows.contains(("2020-01-01 00:10:00", "view", 1L, 5.0)))
  }

  test("sessionizeStream: gap splits sessions, cross-batch events merge") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(Long, Timestamp, Double)]
    val out = Streams.sessionizeStream(
      src.toDF().toDF("user_id", "ts", "value"),
      gap = "10 minutes", lateness = "1 minute")
    runBatches(out, "sessions") {
      // burst 1 for user 1, split across two micro-batches INSIDE the
      // gap — the native session window must merge them
      src.addData((1L, t("2020-01-01 00:00:00"), 1.0),
        (1L, t("2020-01-01 00:05:00"), 2.0))
      src.addData((1L, t("2020-01-01 00:12:00"), 3.0))
      // burst 2 for user 1 after the gap; user 2 independent
      src.addData((1L, t("2020-01-01 01:00:00"), 4.0),
        (2L, t("2020-01-01 01:01:00"), 5.0))
      // advance the watermark far enough to close everything
      src.addData((9L, t("2020-01-01 09:00:00"), 0.0))
    }
    val rows = spark.table("sessions")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getDouble(4))).toSet
    // user 1, session 1: three events merged across micro-batches
    assert(rows.contains(
      (1L, "2020-01-01 00:00:00", "2020-01-01 00:12:00", 3L, 6.0)))
    // user 1, session 2 after the gap
    assert(rows.contains(
      (1L, "2020-01-01 01:00:00", "2020-01-01 01:00:00", 1L, 4.0)))
    // user 2 never merges with user 1 despite overlapping times
    assert(rows.contains(
      (2L, "2020-01-01 01:01:00", "2020-01-01 01:01:00", 1L, 5.0)))
  }

  test("sessionizeStream agrees with batch q33 on a replayed slice") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // replay a small deterministic event log through both paths
    val evs = Seq(
      (7L, t("2020-06-01 10:00:00"), 1.0),
      (7L, t("2020-06-01 10:20:00"), 2.0),
      (7L, t("2020-06-01 12:00:00"), 4.0),
      (8L, t("2020-06-01 10:01:00"), 8.0))
    val src = MemoryStream[(Long, Timestamp, Double)]
    val out = Streams.sessionizeStream(
      src.toDF().toDF("user_id", "ts", "value"),
      gap = "30 minutes", lateness = "1 minute")
    runBatches(out, "sessbatch") {
      src.addData(evs: _*)
      src.addData((99L, t("2020-06-02 00:00:00"), 0.0))
    }
    val streamed = spark.table("sessbatch")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getDouble(4))).toSet
    // batch twin: q33's window chain on the same in-memory frame
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts")
    val batch = evs.toDF("user_id", "ts", "value")
      .withColumn("prev_us", lag(unix_micros($"ts"), 1).over(w))
      .withColumn("new_sess",
        when($"prev_us".isNull ||
          unix_micros($"ts") - $"prev_us" > 1800L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum($"new_sess").over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)))
      .groupBy($"user_id", $"session_id")
      .agg(date_format(min($"ts"), "yyyy-MM-dd HH:mm:ss").as("start_ts"),
        date_format(max($"ts"), "yyyy-MM-dd HH:mm:ss").as("end_ts"),
        count(lit(1)).as("n_events"), sum($"value").as("sum_value"))
      .select($"user_id", $"start_ts", $"end_ts", $"n_events",
        $"sum_value")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(streamed.filterNot(_._1 == 99L) == batch,
      s"stream $streamed vs batch $batch")
  }

  test("attributionStream joins clicks to impressions within the horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[(Long, String, Timestamp)]
    val clks = MemoryStream[(Long, String, Timestamp)]
    val out = Streams.attributionStream(
      imps.toDF().toDF("imp_id", "key", "ts"),
      clks.toDF().toDF("click_id", "key", "ts"),
      horizon = "10 minutes", lateness = "1 minute")
    runBatches(out, "attrib") {
      imps.addData((100L, "adA", t("2020-01-01 00:00:00")),
        (101L, "adB", t("2020-01-01 00:00:00")))
      // inside horizon, matching key → attributed; wrong key → not
      clks.addData((1L, "adA", t("2020-01-01 00:05:00")),
        (2L, "adC", t("2020-01-01 00:05:00")))
      // beyond the 10-minute horizon for imp 101 → not attributed
      clks.addData((3L, "adB", t("2020-01-01 00:20:00")))
      // advance both watermarks
      imps.addData((199L, "zz", t("2020-01-01 02:00:00")))
      clks.addData((99L, "zz", t("2020-01-01 02:00:01")))
    }
    val rows = spark.table("attrib")
      .select($"key", $"imp_id", $"click_id", $"latency_s")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(rows.contains(("adA", 100L, 1L, 300L)))
    assert(!rows.exists(_._3 == 2L), "unmatched key must not attribute")
    assert(!rows.exists(_._3 == 3L), "beyond-horizon click must not attribute")
    // the zz pair lands inside the horizon and attributes too
    assert(rows.contains(("zz", 199L, 99L, 1L)))
  }

  test("attributionStream left_outer emits unmatched impressions nulled after expiry") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[(Long, String, Timestamp)]
    val clks = MemoryStream[(Long, String, Timestamp)]
    val out = Streams.attributionStream(
      imps.toDF().toDF("imp_id", "key", "ts"),
      clks.toDF().toDF("click_id", "key", "ts"),
      horizon = "10 minutes", lateness = "1 minute",
      joinType = "left_outer")
    runBatches(out, "attrib_lo") {
      imps.addData((100L, "adA", t("2020-01-01 00:00:00")),
        (101L, "adB", t("2020-01-01 00:00:00")))
      clks.addData((1L, "adA", t("2020-01-01 00:05:00")))
      // push both watermarks far past imp 101's horizon so its
      // unmatched state expires and emits nulled
      imps.addData((199L, "zz", t("2020-01-01 03:00:00")))
      clks.addData((99L, "zz", t("2020-01-01 03:00:01")))
    }
    val rows = spark.table("attrib_lo")
      .select($"imp_id", $"click_id")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(rows(100L) == Some(1L), "matched impression attributes")
    assert(rows.contains(101L) && rows(101L).isEmpty,
      "expired unmatched impression must emit with null click")
  }

  test("dedupStream drops key replays within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Ev]
    val out = Streams.dedupStream(src.toDF(), "event_id")
    runBatches(out, "dedup") {
      src.addData(
        Ev(1, t("2020-01-01 00:00:00"), "click", 1.0),
        Ev(1, t("2020-01-01 00:00:30"), "click", 1.0), // replay
        Ev(2, t("2020-01-01 00:01:00"), "view", 2.0))
      src.addData(Ev(1, t("2020-01-01 00:02:00"), "click", 9.0)) // replay
    }
    val ids = spark.table("dedup").select("event_id").collect()
      .map(_.getLong(0)).toSeq.sorted
    assert(ids == Seq(1L, 2L))
  }

  test("nearDupDropStream suppresses near-identical docs via band keys") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    case class Doc(doc_id: Long, ts: Timestamp, text: String) // local shape
    val src = MemoryStream[(Long, Timestamp, String)]
    val out = Streams.nearDupDropStream(
      src.toDF().toDF("doc_id", "ts", "text"), "text")
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    runBatches(out, "neardup") {
      src.addData(
        (1L, t("2020-01-01 00:00:00"), base),
        (2L, t("2020-01-01 00:00:10"), base), // exact dup -> dropped
        (3L, t("2020-01-01 00:00:20"),
          "one two three four five six seven eight nine ten"))
      src.addData((4L, t("2020-01-01 00:01:00"), base)) // replayed dup
    }
    val ids = spark.table("neardup").select("doc_id").collect()
      .map(_.getLong(0)).toSeq.sorted
    assert(ids == Seq(1L, 3L))
  }

  test("simhashNearDupStream flags clones across batches, bounded state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(Long, Timestamp, String)]
    val out = Streams.simhashNearDupStream(
      src.toDF().toDF("doc_id", "ts", "text"), "doc_id", "text")
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val far = "uno dos tres cuatro cinco seis siete ocho nueve diez " +
      "once doce trece catorce quince"
    runBatches(out.toDF(), "shstream") {
      src.addData(
        (1L, t("2020-01-01 00:00:00"), base),
        (3L, t("2020-01-01 00:00:20"), far))
      // clone arrives in a LATER batch → must hit batch-1 state
      src.addData((7L, t("2020-01-01 00:01:00"), base))
      // clone of the far doc, same-batch as an unrelated doc, plus a
      // null-text row — must be tolerated (filtered), not crash the
      // query (round-6 review finding)
      src.addData((9L, t("2020-01-01 00:02:00"), far),
        (10L, t("2020-01-01 00:02:10"), "completely different words here"),
        (11L, t("2020-01-01 00:02:20"), null))
    }
    val hits = spark.table("shstream")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // exact clones → hamming 0 in EVERY band (4 per-band verdicts each)
    assert(hits.count(_ == (7L, 1L, 0)) == 1) // set → 1, but all 4 agree
    assert(hits == Set((7L, 1L, 0), (9L, 3L, 0)),
      s"unexpected hit set: $hits")
    assert(spark.table("shstream").count() == 8) // 4 bands × 2 clones
  }

  test("simhashNearDupStream FIFO state cap forgets oldest entries") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(Long, Timestamp, String)]
    // cap 1: each bucket remembers ONLY its latest doc. A clone chain
    // makes the eviction observable through the match target: the
    // tie-break prefers the LOWEST id, so doc 3 reporting dup_of=2
    // (not 1) proves doc 1 left the bucket when doc 2 arrived.
    val out = Streams.simhashNearDupStream(
      src.toDF().toDF("doc_id", "ts", "text"), "doc_id", "text",
      maxBucketEntries = 1)
    val a = "red orange yellow green blue indigo violet white black grey"
    runBatches(out.toDF(), "shcap") {
      src.addData((1L, t("2020-01-01 00:00:00"), a))
      src.addData((2L, t("2020-01-01 00:00:10"), a)) // hits 1, evicts 1
      src.addData((3L, t("2020-01-01 00:00:20"), a)) // must hit 2, not 1
    }
    val hits = spark.table("shcap")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits == Set((2L, 1L), (3L, 2L)), s"unexpected: $hits")
  }

  test("file-source stream: JSON drops roll up through the same transform") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    def drop(name: String, lines: String*): Unit = {
      val w = new java.io.PrintWriter(s"$dir/$name", "UTF-8")
      lines.foreach(w.println); w.close()
    }
    drop("batch1.json",
      """{"ts":"2020-01-01T00:01:00Z","event_type":"click","value":1.0}""",
      """{"ts":"2020-01-01T00:04:00Z","event_type":"click","value":2.0}""")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.DoubleType)))
    val stream = spark.readStream.schema(schema).json(dir)
    val out = Streams.windowedRollup(stream, "10 minutes", "5 minutes")
    val q = out.writeStream.format("memory").queryName("filerollup")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // watermark hasn't passed the window yet → nothing emitted
      assert(spark.table("filerollup").count() == 0)
      drop("batch2.json",
        """{"ts":"2020-01-01T01:00:00Z","event_type":"view","value":5.0}""")
      q.processAllAvailable()
      q.processAllAvailable() // second microbatch finalizes the watermark
      val rows = spark.table("filerollup")
        .select($"window_start".cast("string"), $"event_type", $"n_events")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      assert(rows.contains(("2020-01-01 00:00:00", "click", 2L)))
    } finally q.stop()
  }

  test("nearDupAdmissionStream: probes + appends the persisted band index batch-wise") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val indexDir = java.nio.file.Files
      .createTempDirectory("graft-ndidx").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-ndckpt").toString
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val other = "one two three four five six seven eight nine ten eleven"
    val colors = "red green blue cyan magenta yellow black white silver gold"
    val verdicts = scala.collection.mutable.Map[Long, (Boolean, Option[Long])]()
    val src = MemoryStream[(Long, String)]
    val q = Streams.nearDupAdmissionStream(
      src.toDF().toDF("doc_id", "text"), "doc_id", "text",
      indexDir, ckpt,
      sink = b => b.collect().foreach { r =>
        verdicts.synchronized {
          verdicts(r.getAs[Long]("doc_id")) =
            (r.getAs[Boolean]("admitted"),
              Option(r.getAs[java.lang.Long]("dup_of")).map(_.longValue))
        }
      })
    try {
      // batch 1: within-batch collision (2 dups 1); 3 is unique
      src.addData((1L, base), (2L, base + " phi"), (3L, other))
      q.processAllAvailable()
      // batch 2: 10 dups admitted 1 via the index; 11 dups 3; 12 dups
      // both 1 (index) and 10 (within batch) — smallest partner wins;
      // 13 is genuinely new and must be APPENDED
      src.addData((10L, base + " chi"), (11L, other + " twelve"),
        (12L, base + " chi psi"), (13L, colors))
      q.processAllAvailable()
      // batch 3: 20 collides with batch-2-admitted 13 — proves batch
      // 2's append is probed; 21 is unique
      src.addData((20L, colors + " bronze"),
        (21L, "uno dos tres quatro cinco seis siete ocho nueve diez"))
      q.processAllAvailable()
    } finally q.stop()
    val got = verdicts.synchronized(verdicts.toMap)
    assert(got == Map(
      1L -> ((true, None)), 2L -> ((false, Some(1L))),
      3L -> ((true, None)),
      10L -> ((false, Some(1L))), 11L -> ((false, Some(3L))),
      12L -> ((false, Some(1L))), 13L -> ((true, None)),
      20L -> ((false, Some(13L))), 21L -> ((true, None))),
      s"verdicts: $got")
    // the persisted artifacts hold exactly the admitted survivors
    val indexedIds = spark.read.parquet(s"$indexDir/shingles")
      .select($"id").collect().map(_.getLong(0)).toSet
    assert(indexedIds == Set(1L, 3L, 13L, 21L))
    // a null-text doc admits trivially (no shingles = cannot be a
    // near-dup) but must NOT land in the index artifacts
    val src2 = MemoryStream[(Long, String)]
    val verdicts2 = scala.collection.mutable.Map[Long, Boolean]()
    val q2 = Streams.nearDupAdmissionStream(
      src2.toDF().toDF("doc_id", "text"), "doc_id", "text",
      indexDir, java.nio.file.Files
        .createTempDirectory("graft-ndckpt2").toString,
      sink = b => b.collect().foreach { r =>
        verdicts2.synchronized {
          verdicts2(r.getAs[Long]("doc_id")) = r.getAs[Boolean]("admitted")
        }
      })
    try {
      src2.addData((30L, null.asInstanceOf[String]))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(verdicts2.synchronized(verdicts2.toMap) == Map(30L -> true))
    val indexedAfter = spark.read.parquet(s"$indexDir/shingles")
      .select($"id").collect().map(_.getLong(0)).toSet
    assert(indexedAfter == Set(1L, 3L, 13L, 21L),
      "null-text rows never pollute the index")
    // equivalence with the batch-wise incremental operator under the
    // same admission policy (old side = admitted survivors so far)
    def shingled(rows: (Long, String)*) =
      rows.toDF("doc_id", "text").select($"doc_id",
        graft.ops.Dedup.shingles(graft.ops.Dedup.tokens($"text"))
          .as("shingles"))
    val admitted1 = shingled(1L -> base, 3L -> other)
    val batch2 = shingled(10L -> (base + " chi"),
      11L -> (other + " twelve"), 12L -> (base + " chi psi"),
      13L -> colors)
    val batchWise = graft.ops.Dedup.minhashLshPairsIncremental(
      admitted1, batch2, "doc_id", "shingles")
      .groupBy($"doc_b").agg(org.apache.spark.sql.functions.min($"doc_a"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(batchWise ==
      Map(10L -> 1L, 11L -> 3L, 12L -> 1L),
      s"batch-wise twin disagrees: $batchWise")
  }

  test("nearDupAdmissionStream compactEvery: same verdicts, compacted artifacts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val feeds = Seq(
      Seq((1L, "alpha beta gamma delta epsilon zeta eta theta iota")),
      Seq((2L, "one two three four five six seven eight nine")),
      Seq((3L, "red green blue cyan magenta yellow black white")))
    def run(compactEvery: Int): (Map[Long, Boolean], Long) = {
      val indexDir = java.nio.file.Files
        .createTempDirectory(s"graft-ce$compactEvery").toString
      val verdicts = scala.collection.mutable.Map[Long, Boolean]()
      val src = MemoryStream[(Long, String)]
      val q = Streams.nearDupAdmissionStream(
        src.toDF().toDF("doc_id", "text"), "doc_id", "text",
        indexDir, java.nio.file.Files
          .createTempDirectory(s"graft-ceck$compactEvery").toString,
        sink = b => b.collect().foreach { r =>
          verdicts.synchronized {
            verdicts(r.getAs[Long]("doc_id")) = r.getAs[Boolean]("admitted")
          }
        },
        compactEvery = compactEvery)
      try feeds.foreach { f => src.addData(f: _*); q.processAllAvailable() }
      finally q.stop()
      def files(p: java.io.File): Long =
        if (!p.exists()) 0L
        else if (p.isDirectory) p.listFiles().map(files).sum
        else if (p.getName.endsWith(".parquet")) 1L else 0L
      (verdicts.synchronized(verdicts.toMap), files(new java.io.File(
        graft.ops.Dedup.liveBandDirs(spark, indexDir)._1)))
    }
    val (vPlain, fPlain) = run(0)
    val (vCompact, fCompact) = run(1)
    assert(vCompact == vPlain, "compaction must not change admissions")
    assert(fCompact < fPlain,
      s"per-batch compaction must shrink the append log: " +
        s"$fPlain -> $fCompact files")
  }

  test("nearDupAdmissionStream on a flat band index: it probes and appends at the root, and the first fold migrates it to gen-1") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val indexDir = java.nio.file.Files
      .createTempDirectory("graft-ndflat").toString
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val colors = "red green blue cyan magenta yellow black white silver gold"
    // the flat layout an index gets before any fold: bands/shingles
    // appended at the root
    val stored = Seq((1L, base)).toDF("id", "text")
      .select($"id",
        graft.ops.Dedup.shingles(graft.ops.Dedup.tokens($"text")).as("sh"))
    stored.withColumn("bandh", graft.ops.Dedup.bandHashesDirect($"sh", 16, 4))
      .select($"id", posexplode_outer($"bandh").as(Seq("band", "band_hash")))
      .write.parquet(s"$indexDir/bands")
    stored.select($"id", $"sh").write.parquet(s"$indexDir/shingles")
    def feed(rows: (Long, String)*): Map[Long, Boolean] = {
      val verdicts = scala.collection.mutable.Map[Long, Boolean]()
      val src = MemoryStream[(Long, String)]
      val q = Streams.nearDupAdmissionStream(
        src.toDF().toDF("doc_id", "text"), "doc_id", "text", indexDir,
        java.nio.file.Files.createTempDirectory("graft-ndflatck").toString,
        sink = b => b.collect().foreach { r =>
          verdicts.synchronized {
            verdicts(r.getAs[Long]("doc_id")) = r.getAs[Boolean]("admitted")
          }
        })
      try { src.addData(rows: _*); q.processAllAvailable() }
      finally q.stop()
      verdicts.synchronized(verdicts.toMap)
    }
    def ids(artifact: String) = spark.read.parquet(artifact)
      .select($"id").collect().map(_.getLong(0)).toSet
    // the probe reads the flat index, the append lands at the root
    assert(feed((10L, base + " chi"), (13L, colors)) ==
      Map(10L -> false, 13L -> true))
    assert(graft.io.Layout.liveGeneration(spark, indexDir).isEmpty)
    assert(ids(s"$indexDir/shingles") == Set(1L, 13L))
    val ((b0, b1), (s0, s1)) =
      graft.ops.Dedup.compactBandIndex(spark, indexDir)
    assert(b0 == b1 && s0 == 2 && s1 == 2, "nothing to dedup here")
    assert(graft.io.Layout.liveGeneration(spark, indexDir).contains(1L))
    assert(graft.ops.Dedup.liveBandDirs(spark, indexDir) ==
      ((s"$indexDir/bands-v1", s"$indexDir/shingles-v1")))
    assert(!graft.io.Layout.pathExists(spark, s"$indexDir/bands") &&
      !graft.io.Layout.pathExists(spark, s"$indexDir/shingles"),
      "the migrated flat dirs must be reclaimed")
    // the next batch probes and appends the migrated generation
    assert(feed((20L, colors + " bronze"),
      (21L, "uno dos tres quatro cinco seis siete ocho nueve diez")) ==
      Map(20L -> false, 21L -> true))
    assert(ids(s"$indexDir/shingles-v1") == Set(1L, 13L, 21L))
  }

  test("chunkStream: streaming chunks equal the batch chunker row-for-row") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, (1 to 90).map(i => s"w$i").mkString(" ")),
      (2L, "short doc here"),
      (3L, (1 to 45).map(i => s"v$i").mkString(" ")))
    val src = MemoryStream[(Long, String)]
    val out = Streams.chunkStream(
      src.toDF().toDF("doc_id", "text"), "doc_id", "text")
    runBatches(out, "chunkstream") {
      src.addData(rows.take(2): _*)
      src.addData(rows.drop(2): _*)
    }
    def keyed(rs: Array[org.apache.spark.sql.Row]) = rs.map(r =>
      (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    val streamed = keyed(spark.table("chunkstream").collect())
    val batch = keyed(graft.queries.PipelineQueries
      .chunkFrame(rows.toDF("doc_id", "text"), "doc_id", "text")
      .collect())
    assert(streamed == batch, "batch/stream chunk parity")
    assert(streamed.keys.count(_._1 == 1L) == 3, "90 tokens → 3 chunks")
  }

  test("shardStream: stateless stable assignment, replay- and batch-identical") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = (1L to 40L).map(i => (i, s"doc $i body"))
    val src = MemoryStream[(Long, String)]
    val out = Streams.shardStream(
      src.toDF().toDF("doc_id", "text"), "doc_id")
    runBatches(out, "shardstream") {
      src.addData(rows.take(25): _*)
      // at-least-once replay: rows 20-25 arrive again with the tail
      src.addData(rows.drop(19): _*)
    }
    val streamed = spark.table("shardstream")
      .select($"doc_id", $"shard").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    // replayed ids get the SAME shard every time (groupBy → one value)
    val perDoc = streamed.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    assert(perDoc.values.forall(_.size == 1),
      "replayed rows must assign identically")
    // and the assignment is exactly the batch-side stable bucket
    val batch = rows.toDF("doc_id", "text")
      .select($"doc_id", graft.ops.Sampling
        .stableBucket($"doc_id", "shard", 16).as("shard"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perDoc.toMap.map { case (k, v) => k -> v.head } == batch,
      "stream ≡ batch hash assignment")
  }

  test("takedownStream: streamed deletes mask the index; replayed ids cannot double-decrement") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, "fast vector engines win races"),
      (2L, "fast vector query engines"),
      (3L, "slow scalar fallback path"),
      (4L, "fast query planners everywhere"),
      (5L, "vector query fast fast")).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("takedown-idx")
      .toFile.getAbsolutePath
    graft.ops.FullText.writeTextIndex(docs, "doc_id", "text", idx,
      storeTermVectors = true)
    val ckpt = java.nio.file.Files.createTempDirectory("takedown-ck")
      .toFile.getAbsolutePath
    val src = MemoryStream[Long]
    val q = Streams.takedownStream(
      src.toDF().toDF("doc_id"), "doc_id", idx, ckpt)
    try {
      src.addData(2L)
      q.processAllAvailable()
      // batch 2 REPLAYS id 2 alongside a new takedown — at-least-once
      // delivery; the idempotent delete must not decrement twice
      src.addData(2L, 4L)
      q.processAllAvailable()
    } finally q.stop()
    val idxR = java.nio.file.Files.createTempDirectory("takedown-r")
      .toFile.getAbsolutePath
    graft.ops.FullText.writeTextIndex(
      docs.filter(!$"doc_id".isin(2L, 4L)), "doc_id", "text", idxR,
      storeTermVectors = true)
    def search(i: String) = graft.ops.FullText
      .bm25SearchStored(spark, i, Seq("fast", "vector", "query"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(search(idx) == search(idxR),
      "streamed takedowns must equal a rebuild without the deleted " +
        "docs — bit-for-bit, replays included")
  }

  test("indexRefreshStream: streamed appends build the index; a re-delivered batch id is a no-op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val old = Seq(
      (1L, "fast vector engines win races"),
      (2L, "fast vector query engines"),
      (3L, "slow scalar fallback path")).toDF("doc_id", "text")
    val b0 = Seq((4L, "fast query planners everywhere"))
    val b1 = Seq((5L, "vector query fast fast"))
    val idx = java.nio.file.Files.createTempDirectory("refresh-idx")
      .toFile.getAbsolutePath
    graft.ops.FullText.writeTextIndex(old, "doc_id", "text", idx)
    val ckpt = java.nio.file.Files.createTempDirectory("refresh-ck")
      .toFile.getAbsolutePath
    val src = MemoryStream[(Long, String)]
    val q = Streams.indexRefreshStream(
      src.toDF().toDF("doc_id", "text"), "doc_id", "text", idx, ckpt)
    try {
      src.addData(b0: _*)
      q.processAllAvailable()
      src.addData(b1: _*)
      q.processAllAvailable()
    } finally q.stop()
    def search(i: String) = graft.ops.FullText
      .bm25SearchStored(spark, i, Seq("fast", "vector", "query"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val idxR = java.nio.file.Files.createTempDirectory("refresh-r")
      .toFile.getAbsolutePath
    graft.ops.FullText.writeTextIndex(
      old.unionByName((b0 ++ b1).toDF("doc_id", "text")),
      "doc_id", "text", idxR)
    assert(search(idx) == search(idxR),
      "streamed refresh must equal a rebuild over all docs")
    // at-least-once replay: batch 0's segment is in the live
    // manifest, so re-running its append (exactly what the restarted
    // stream would do) is a no-op — postings un-duplicated,
    // statistics un-doubled
    graft.ops.FullText.appendToTextIndex(spark,
      b0.toDF("doc_id", "text"), "doc_id", "text", idx,
      segmentId = Some("b0"))
    assert(search(idx) == search(idxR),
      "replayed append batch must leave the index bit-identical")
  }

  test("concurrent refresh + takedown streams on one index serialize safely") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the round-11 ADVICE race: two foreachBatch mutators live on
    // ONE index at the same time. Since round 12 they serialize on
    // the per-index mutation lease, so appends (new ids) and deletes
    // (existing ids) commute to the rebuild regardless of which
    // micro-batch wins each turn — and no append can ever commit
    // over a takedown's tombstones.
    val old = Seq(
      (1L, "fast vector engines win races"),
      (2L, "fast vector query engines"),
      (3L, "slow scalar fallback path"),
      (4L, "fast query fallback vector")).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("conc-streams")
      .toFile.getAbsolutePath
    graft.ops.FullText.writeTextIndex(old, "doc_id", "text", idx,
      storeTermVectors = true)
    val rCk = java.nio.file.Files.createTempDirectory("conc-rck")
      .toFile.getAbsolutePath
    val tCk = java.nio.file.Files.createTempDirectory("conc-tck")
      .toFile.getAbsolutePath
    val rSrc = MemoryStream[(Long, String)]
    val tSrc = MemoryStream[Long]
    val rq = Streams.indexRefreshStream(
      rSrc.toDF().toDF("doc_id", "text"), "doc_id", "text", idx, rCk)
    val tq = Streams.takedownStream(
      tSrc.toDF().toDF("doc_id"), "doc_id", idx, tCk)
    try {
      // interleaved feeds, both streams live: each processAll pair
      // overlaps the two mutators in wall time
      rSrc.addData((10L, "fast vector planners everywhere"))
      tSrc.addData(1L)
      rq.processAllAvailable(); tq.processAllAvailable()
      rSrc.addData((11L, "vector query fast fast"))
      tSrc.addData(3L)
      tq.processAllAvailable(); rq.processAllAvailable()
    } finally { rq.stop(); tq.stop() }
    val idxR = java.nio.file.Files.createTempDirectory("conc-r")
      .toFile.getAbsolutePath
    graft.ops.FullText.writeTextIndex(
      old.filter(!$"doc_id".isInCollection(Seq(1L, 3L)))
        .unionByName(Seq(
          (10L, "fast vector planners everywhere"),
          (11L, "vector query fast fast")).toDF("doc_id", "text")),
      "doc_id", "text", idxR, storeTermVectors = true)
    def search(i: String) = graft.ops.FullText
      .bm25SearchStored(spark, i, Seq("fast", "vector", "query"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(search(idx) == search(idxR),
      "two live mutator streams must serialize to the rebuild state")
  }

  test("indexRefreshStream compactEvery: segment count stays bounded, search equals rebuild") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val old = Seq(
      (1L, "fast vector engines win races"),
      (2L, "fast vector query engines"),
      (3L, "slow scalar fallback path")).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("autocompact-idx")
      .toFile.getAbsolutePath
    graft.ops.FullText.writeTextIndex(old, "doc_id", "text", idx)
    val ckpt = java.nio.file.Files.createTempDirectory("autocompact-ck")
      .toFile.getAbsolutePath
    val src = MemoryStream[(Long, String)]
    // 3N batches against compactEvery = N: without the hook the
    // manifest would union 6 segments (ProbeSegments' linear cost);
    // with it the count must never exceed N after a trigger
    val q = Streams.indexRefreshStream(
      src.toDF().toDF("doc_id", "text"), "doc_id", "text", idx, ckpt,
      compactEvery = 2)
    val batches = (0 until 6).map(i =>
      Seq((10L + i, s"fast vector query batch$i")))
    try {
      batches.foreach { b =>
        src.addData(b: _*)
        q.processAllAvailable()
        assert(graft.io.Layout.segmentCount(spark, idx) <= 2,
          "auto-compaction must bound the live segment count")
      }
    } finally q.stop()
    assert(graft.io.Layout.segmentCount(spark, idx) == 0,
      "the 6th batch hits the threshold: the index ends compacted")
    def search(i: String) = graft.ops.FullText
      .bm25SearchStored(spark, i, Seq("fast", "vector", "query"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val idxR = java.nio.file.Files.createTempDirectory("autocompact-r")
      .toFile.getAbsolutePath
    graft.ops.FullText.writeTextIndex(
      old.unionByName(batches.flatten.toDF("doc_id", "text")),
      "doc_id", "text", idxR)
    assert(search(idx) == search(idxR),
      "auto-compacted stream must equal a rebuild over all docs")
    // vector twin: same contract on the codes manifest
    val vecs = graft.io.Tables
      .embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", $"embedding")
    val vIdx = java.nio.file.Files.createTempDirectory("autocompact-v")
      .toFile.getAbsolutePath
    graft.queries.SimilarityQueries.writeIvfPqIndexFrames(
      vecs, vecs, vIdx)
    val vCkpt = java.nio.file.Files.createTempDirectory("autocompact-vc")
      .toFile.getAbsolutePath
    val vSrc = MemoryStream[Long]
    val vBase = vecs.limit(4).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val vq = Streams.vectorRefreshStream(
      vSrc.toDF().toDF("k").join(
        vecs.withColumnRenamed("vec_id", "k"), Seq("k"))
        .select(($"k" + 880000L).as("vec_id"), $"embedding"),
      vIdx, vCkpt, compactEvery = 2)
    try {
      (0 until 4).foreach { i =>
        vSrc.addData(vBase(i)._1)
        vq.processAllAvailable()
        assert(graft.io.Layout.segmentCount(spark, vIdx) <= 2,
          "vector auto-compaction must bound the segment count")
      }
    } finally vq.stop()
    assert(graft.io.Layout.segmentCount(spark, vIdx) == 0)
  }

  test("multiFieldRefreshStream: streamed appends equal a rebuild; committed batch ids skip") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val old = Seq(
      (1L, "fast engines", "fast vector engines win races"),
      (2L, "vector query", "fast vector query engines"),
      (3L, "fallback", "slow scalar fallback path"))
      .toDF("doc_id", "title", "body")
    val b0 = Seq((4L, "planners", "fast query planners everywhere"))
    val b1 = Seq((5L, "vectors", "vector query fast fast"))
    val idx = java.nio.file.Files.createTempDirectory("mfrefresh-idx")
      .toFile.getAbsolutePath
    graft.ops.FullText.writeMultiFieldTextIndex(old, "doc_id",
      Seq("title", "body"), idx)
    val ckpt = java.nio.file.Files.createTempDirectory("mfrefresh-ck")
      .toFile.getAbsolutePath
    val src = MemoryStream[(Long, String, String)]
    val q = Streams.multiFieldRefreshStream(
      src.toDF().toDF("doc_id", "title", "body"), "doc_id",
      Seq("title", "body"), idx, ckpt)
    try {
      src.addData(b0: _*)
      q.processAllAvailable()
      src.addData(b1: _*)
      q.processAllAvailable()
    } finally q.stop()
    val idxR = java.nio.file.Files.createTempDirectory("mfrefresh-r")
      .toFile.getAbsolutePath
    graft.ops.FullText.writeMultiFieldTextIndex(
      old.unionByName((b0 ++ b1).toDF("doc_id", "title", "body")),
      "doc_id", Seq("title", "body"), idxR)
    def search(i: String) = graft.ops.FullText
      .multiMatchSearchStored(spark, i,
        Seq("fast", "vector", "query"),
        Seq("title" -> 2.0, "body" -> 1.0))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(search(idx) == search(idxR),
      "streamed multi-field refresh must equal a rebuild")
    graft.ops.FullText.appendToMultiFieldTextIndex(spark,
      b0.toDF("doc_id", "title", "body"), "doc_id",
      Seq("title", "body"), idx, segmentId = Some("b0"))
    assert(search(idx) == search(idxR),
      "replayed append batch must leave the index bit-identical")
  }

  test("refresh replay has no residual window: a crashed half-append re-stages, a committed one no-ops") {
    import spark.implicits._
    val old = Seq(
      (1L, "fast vector engines win races"),
      (2L, "fast vector query engines"),
      (3L, "slow scalar fallback path")).toDF("doc_id", "text")
    val b0 = Seq((4L, "fast query planners everywhere"))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("crashwin-idx")
      .toFile.getAbsolutePath
    graft.ops.FullText.writeTextIndex(old, "doc_id", "text", idx)
    def search(i: String) = graft.ops.FullText
      .bm25SearchStored(spark, i, Seq("fast", "vector", "query"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val pre = search(idx)
    // simulate the CRASH WINDOW the old _batch_commits guard could
    // not close: the append's body completed its data writes (the
    // segment exists, even a staged generation exists) but the
    // commit marker never landed — everything must be invisible
    b0.withColumn("bucket", org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.hash($"text"), lit(16)))
      .write.partitionBy("bucket").parquet(s"$idx/seg-b0/postings")
    val stage = graft.io.Layout.generationDir(idx, 1L)
    Seq(("garbage", "garbage")).toDF("kind", "dir")
      .write.parquet(s"$stage/segments")
    assert(search(idx) == pre,
      "a crashed half-append must be invisible to every search face")
    // the REPLAYED batch re-stages cleanly and commits exactly once
    graft.ops.FullText.appendToTextIndex(spark, b0, "doc_id", "text",
      idx, segmentId = Some("b0"))
    val idxR = java.nio.file.Files.createTempDirectory("crashwin-r")
      .toFile.getAbsolutePath
    graft.ops.FullText.writeTextIndex(old.unionByName(b0), "doc_id",
      "text", idxR)
    assert(search(idx) == search(idxR),
      "replay over the crash window must equal a rebuild")
    // and a SECOND replay (the committed side of the window) no-ops
    graft.ops.FullText.appendToTextIndex(spark, b0, "doc_id", "text",
      idx, segmentId = Some("b0"))
    assert(search(idx) == search(idxR),
      "a committed segment id must be a strict no-op on replay")
  }

  test("vectorRefreshStream: streamed appends equal a rebuild at fixed artifacts; replay is a no-op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val e = graft.io.Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding")
    val maxId = e.agg(max($"vec_id")).head().getLong(0)
    val w = maxId * 4 / 5
    val base = e.filter($"vec_id" <= w)
    val freshRows = e.filter($"vec_id" > w)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val (f0, f1) = freshRows.splitAt(freshRows.size / 2)
    val idx = java.nio.file.Files.createTempDirectory("vrefresh-idx")
      .toFile.getAbsolutePath
    SimilarityQueries.writeIvfPqIndexFrames(base, base, idx)
    val ckpt = java.nio.file.Files.createTempDirectory("vrefresh-ck")
      .toFile.getAbsolutePath
    val src = MemoryStream[(Long, Seq[Float])]
    val q = Streams.vectorRefreshStream(
      src.toDF().toDF("vec_id", "embedding"), idx, ckpt)
    try {
      src.addData(f0: _*)
      q.processAllAvailable()
      src.addData(f1: _*)
      q.processAllAvailable()
    } finally q.stop()
    // rebuild over the full corpus at the SAME base-trained artifacts
    val idxR = java.nio.file.Files.createTempDirectory("vrefresh-r")
      .toFile.getAbsolutePath
    SimilarityQueries.writeIvfPqIndexFrames(base, e, idxR)
    def search(i: String) = SimilarityQueries
      .ivfPqSearchStored(spark, i, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(search(idx) == search(idxR),
      "streamed vector refresh must equal a batch rebuild at fixed " +
        "artifacts")
    // every vector encoded exactly once — and a replayed batch id
    // (its segment already in the live manifest) cannot change that
    def codeIds(i: String) = SimilarityQueries.codesFrame(spark, i)
      .select($"vec_id").distinct().count()
    assert(codeIds(idx) == maxId + 1)
    SimilarityQueries.appendToIvfPqIndex(spark, idx,
      f0.toDF("vec_id", "embedding"), segmentId = Some("b0"))
    assert(codeIds(idx) == maxId + 1,
      "replayed append batch must not duplicate code rows")
    // the crash-window side: a half-appended segment (data landed,
    // no commit marker) is invisible, and the batch's replay — same
    // batch id, same rows, what a restarted stream delivers —
    // re-stages it exactly once
    val b9 = Seq((maxId + 100, f0.head._2), (maxId + 101, f1.head._2))
      .toDF("vec_id", "embedding")
    val preSearch = search(idx)
    b9.write.parquet(s"$idx/seg-b9/codes/cell_id=0")
    assert(search(idx) == preSearch,
      "an uncommitted vector segment must be invisible")
    SimilarityQueries.appendToIvfPqIndex(spark, idx, b9,
      segmentId = Some("b9"))
    SimilarityQueries.appendToIvfPqIndex(spark, idx, b9,
      segmentId = Some("b9")) // and the committed-side replay
    assert(codeIds(idx) == maxId + 1 + 2,
      "replay over a crashed half-append must land each vector once")
  }

  test("vectorTakedownStream: streamed deletes mask the vector index; replays are safe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val idx = java.nio.file.Files.createTempDirectory("vtakedown-idx")
      .toFile.getAbsolutePath
    SimilarityQueries.writeIvfPqIndex(spark, dir, idx)
    // delete the undeleted search's top two hits — the page MUST
    // change, so a silent delete failure cannot pass
    val top = SimilarityQueries.ivfPqSearchStored(spark, idx, dir)
      .collect().map(_.getLong(0)).take(2)
    val ckpt = java.nio.file.Files.createTempDirectory("vtakedown-ck")
      .toFile.getAbsolutePath
    val src = MemoryStream[Long]
    val q = Streams.vectorTakedownStream(
      src.toDF().toDF("vec_id"), "vec_id", idx, ckpt)
    try {
      src.addData(top(0))
      q.processAllAvailable()
      // replay top(0) beside the new ruling — at-least-once delivery
      src.addData(top(0), top(1))
      q.processAllAvailable()
    } finally q.stop()
    val after = SimilarityQueries.ivfPqSearchStored(spark, idx, dir)
      .collect().map(_.getLong(0)).toSeq
    assert(!after.exists(top.contains),
      "tombstoned vectors must vanish from the stored search")
    // the tombstone artifact holds each id once (idempotent delete)
    // tombstones resolve through the committed generation now
    val tombs = spark.read.parquet(
        s"${graft.io.Layout.liveArtifactDir(spark, idx)}/tombstones")
      .collect().map(_.getLong(0)).toSeq
    assert(tombs.sorted == top.toSeq.sorted,
      "replayed takedown ids must not bloat the tombstone artifact")
  }

  test("percolateStream: AND coverage per arriving doc, stateless") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val queries = Seq(
      (0L, Seq("fast", "vector")),
      (1L, Seq("slow")),
      (2L, Seq("fast", "missing")),
      // registered terms normalize through the field analyzer (ES
      // behavior): "The" is a stopword (dropped), "Vector" lowers
      (3L, Seq("The", "Vector")))
    val rows = Seq(
      (1L, "a fast vector engine"), // q0 (both), not q1/q2
      (2L, "slow and fast"), // q1 only (q0 needs vector too)
      (3L, "nothing relevant here"), // none
      (4L, "Fast, vector; slow!")) // q0 and q1 (analyzer lowercases)
    val src = MemoryStream[(Long, String)]
    val out = Streams.percolateStream(
      src.toDF().toDF("doc_id", "text"), "text", queries)
      .select($"doc_id", $"matched_qids")
    runBatches(out, "percstream") {
      src.addData(rows.take(2): _*)
      src.addData(rows.drop(2): _*)
    }
    val got = spark.table("percstream").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).sorted).toMap
    assert(got == Map(
      1L -> Seq(0L, 3L), 2L -> Seq(1L), 3L -> Seq(),
      4L -> Seq(0L, 1L, 3L)),
      s"got $got")
    // an empty-term-set query is rejected (it would match everything)
    intercept[IllegalArgumentException] {
      Streams.percolateStream(rows.toDF("doc_id", "text"), "text",
        Seq((9L, Seq())))
    }
    // ...and so is one whose every term analyzes away (all-stopword
    // queries can never match an analyzed document)
    intercept[IllegalArgumentException] {
      Streams.percolateStream(rows.toDF("doc_id", "text"), "text",
        Seq((9L, Seq("the", "of"))))
    }
  }

  test("decontaminateStream flags gram overlap against batch-derived set") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // benchmark artifact built with the BATCH operator (same k)
    val bench = Seq((100L, "what is the capital of france"))
      .toDF("doc_id", "text")
      .select($"doc_id",
        graft.ops.Decontaminate.gramHashes(
          graft.ops.Dedup.tokens($"text"), 5).as("grams"))
    val set = graft.ops.Decontaminate.benchGramList(bench, "grams")
    assert(set.size == 2) // 6 tokens → 2 positional 5-grams
    case class Doc(doc_id: Long, text: String)
    val src = MemoryStream[(Long, String)]
    val out = Streams.decontaminateStream(
      src.toDF().toDF("doc_id", "text"), "text", set, k = 5)
      .select($"doc_id", $"is_contaminated")
    runBatches(out, "decon") {
      src.addData(
        (1L, "quiz what is the capital of france here"),
        (2L, "completely unrelated text about shuffle plans today"))
      // null text: flag must be FALSE (not NULL — a tri-state flag
      // silently drops the row from both branches of a boolean filter)
      src.addData((3L, "what is the capital of france"),
        (4L, null.asInstanceOf[String]))
    }
    val flags = spark.table("decon").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(flags == Map(1L -> true, 2L -> false, 3L -> true, 4L -> false))
  }

  test("bloomDecontaminateStream: exact flags subset of bloom flags, null false") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq((100L, "what is the capital of france"))
      .toDF("doc_id", "text")
      .select($"doc_id",
        graft.ops.Decontaminate.gramHashes(
          graft.ops.Dedup.tokens($"text"), 5).as("grams"))
    val set = graft.ops.Decontaminate.benchGramList(bench, "grams")
    val bits = graft.ops.BloomFilter.build(set)
    val src = MemoryStream[(Long, String)]
    val out = Streams.bloomDecontaminateStream(
      src.toDF().toDF("doc_id", "text"), "text", bits, k = 5)
      .select($"doc_id", $"is_flagged")
    runBatches(out, "bloomdecon") {
      src.addData(
        (1L, "quiz what is the capital of france here"),
        (2L, "completely unrelated text about shuffle plans today"),
        (3L, null.asInstanceOf[String]))
    }
    val flags = spark.table("bloomdecon").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // a contaminated doc MUST flag (no false negatives); the clean doc
    // should not at this fill; null text flags false, never NULL
    assert(flags(1L), "bloom cannot miss an inserted gram")
    assert(!flags(2L))
    assert(!flags(3L))
  }

  test("admissionStream: each gate flags independently, booleans never NULL") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val good = "the quick brown fox jumps over the lazy dog and then " +
      "the dog sleeps in the sun while the fox runs away tonight"
    // benchmark = the 5-grams of a known eval prompt
    val bench = Seq((9L, "what is the capital of france"))
      .toDF("doc_id", "text")
      .select($"doc_id", graft.ops.Decontaminate.gramHashes(
        graft.ops.Dedup.tokens($"text"), 5).as("grams"))
    val set = graft.ops.Decontaminate.benchGramList(bench, "grams")
    val src = MemoryStream[(Long, String, String)]
    val out = Streams.admissionStream(
      src.toDF().toDF("doc_id", "text", "lang"), "text", "lang", set, k = 5)
      .select($"doc_id", $"q_ok", $"rep_ok", $"is_contaminated",
        $"n_pii", $"admitted", $"redacted")
    runBatches(out, "admission") {
      src.addData(
        (1L, good, "en"), // passes every gate
        (2L, "too short", "en"), // fails quality (length)
        (3L, ("spam ham " * 20).trim + " " + good, "en"), // repetitive
        (4L, s"$good what is the capital of france", "en"), // contaminated
        (5L, s"$good mail me a.b@example.org", "en"), // PII: redact, admit
        (6L, null.asInstanceOf[String], "en")) // null text: all false
    }
    val rows = spark.table("admission").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).getBoolean(5), "clean doc admitted")
    assert(!rows(2L).getBoolean(1) && !rows(2L).getBoolean(5))
    assert(!rows(3L).getBoolean(2), "repetition gate fires")
    assert(rows(4L).getBoolean(3) && !rows(4L).getBoolean(5))
    assert(rows(5L).getLong(4) == 1L && rows(5L).getBoolean(5),
      "PII redacts, does not drop")
    assert(rows(5L).getString(6).contains("<EMAIL>"))
    val nullRow = rows(6L)
    // booleans are FALSE, not NULL (the tri-state-filter contract)
    assert(!nullRow.isNullAt(1) && !nullRow.isNullAt(2) &&
      !nullRow.isNullAt(3) && !nullRow.isNullAt(5))
    assert(!nullRow.getBoolean(5))
  }

  test("lmScoreStream matches the batch scorer in-vocab, floors OOV and null") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.LangModel
    val trainDocs = Seq((1L, "a b a c")).toDF("doc_id", "text")
    val bg = LangModel.bigrams(trainDocs, "doc_id", "text")
    val model = LangModel.modelMap(LangModel.train(bg))
    val batchNll = LangModel.score(bg, LangModel.train(bg))
      .collect().head.getDouble(2)
    val oov = math.round(math.log(1.0 / 16) * 16777216.0)
    val src = MemoryStream[(Long, String)]
    val out = Streams.lmScoreStream(
      src.toDF().toDF("doc_id", "text"), "text", model, oov)
      .select($"doc_id", $"n_bigrams", $"n_oov", $"avg_nll")
    runBatches(out, "lmscore") {
      src.addData(
        (1L, "a b a c"), // fully in-vocab: must equal the batch score
        (2L, "z q"), // one bigram, OOV
        (3L, null.asInstanceOf[String])) // no bigrams: the floor
    }
    val rows = spark.table("lmscore").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).getLong(1) == 3L && rows(1L).getLong(2) == 0L)
    assert(rows(1L).getDouble(3) == batchNll,
      "stream and batch scorer disagree in-vocab")
    val floor = BigDecimal(-(oov / 16777216.0))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rows(2L).getLong(2) == 1L && rows(2L).getDouble(3) == floor)
    assert(rows(3L).getLong(1) == 0L && !rows(3L).isNullAt(3),
      "no-bigram doc must score non-null")
    assert(rows(3L).getDouble(3) == floor)
  }

  test("nbScoreStream matches the batch scorer in-vocab, floors OOV and null") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Classifier
    val docs = Seq((1L, "wiki wiki facts", 1), (2L, "spam buy now", 0))
      .toDF("doc_id", "text", "cls")
    val tk = Classifier.tokenFrame(docs, "doc_id", "text", $"cls")
    val modelDf = Classifier.trainNaiveBayes(tk)
    val (m1, m0) = Classifier.modelMaps(modelDf)
    val batch = Classifier
      .scoreNaiveBayes(tk, modelDf, Seq((1L, 1L)).toDF("n1", "n0"))
      .collect().map(r => r.getLong(0) -> r).toMap
    val fp = 16777216.0
    val pFp = math.round(math.log(0.5) * fp)
    // Laplace OOV floor ln(1/(tot_c + V)): 3 tokens per class, V=5
    val oov = math.round(math.log(1.0 / 8) * fp)
    val src = MemoryStream[(Long, String)]
    val out = Streams.nbScoreStream(
      src.toDF().toDF("doc_id", "text"), "text", m1, m0, oov, oov, pFp, pFp)
      .select($"doc_id", $"n_tokens", $"ll_target", $"ll_other", $"pred")
    runBatches(out, "nbscore") {
      src.addData(
        (1L, "wiki wiki facts"), // fully in-vocab: must equal batch
        (3L, "zzz"), // OOV token: both classes take the floor
        (4L, null.asInstanceOf[String])) // null: priors alone
    }
    val rows = spark.table("nbscore").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).getLong(1) == 3L)
    assert(rows(1L).getDouble(2) == batch(1L).getDouble(2) &&
      rows(1L).getDouble(3) == batch(1L).getDouble(3) &&
      rows(1L).getLong(4) == batch(1L).getLong(4),
      "stream and batch NB scorer disagree in-vocab")
    // symmetric OOV floors: class scores tie, pred falls to 0 (strict >)
    assert(rows(3L).getDouble(2) == rows(3L).getDouble(3) &&
      rows(3L).getLong(4) == 0L)
    assert(rows(4L).getLong(1) == 0L && !rows(4L).isNullAt(2) &&
      !rows(4L).isNullAt(4), "null doc must score non-null from priors")
    val prior4dp = BigDecimal(pFp / fp)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rows(4L).getDouble(2) == prior4dp)
  }

  test("latestPerKey keeps newest value per key across triggers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Streams.KeyedValue]
    val out = Streams.latestPerKey(src.toDS())
    runBatches(out.toDF(), "latest") {
      src.addData(
        Streams.KeyedValue(1L, t("2020-01-01 00:00:00"), 10.0),
        Streams.KeyedValue(1L, t("2020-01-01 00:05:00"), 20.0))
      src.addData(Streams.KeyedValue(1L, t("2020-01-01 00:03:00"), 15.0))
    }
    // per-trigger emissions: batch1 newest=20.0; batch2 newest still
    // 20.0 (the 00:03 record is older than the held state)
    val vals = spark.table("latest").as[Streams.KeyedValue].collect()
      .map(_.value).toSeq
    assert(vals.nonEmpty && vals.forall(_ == 20.0))
  }

  test("bulkSinkStream flushes micro-batches with deterministic ids") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(Long, String)]
    val sink = java.nio.file.Files
      .createTempDirectory("graft-stream-bulk").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-stream-ckpt").toString
    val docs = src.toDF().toDF("doc_id", "text")
    val q = Streams.bulkSinkStream(docs, "docs",
      concat_ws("#", lit("doc"), col("doc_id")),
      new graft.io.BulkSink.FileTransport(sink), ckpt)
    try {
      src.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      src.addData((3L, "c"))
      q.processAllAvailable()
    } finally q.stop()
    val lines = new java.io.File(sink, "docs").listFiles().toSeq
      .flatMap { f =>
        val s = scala.io.Source.fromFile(f, "UTF-8")
        try s.getLines().toList finally s.close()
      }
    val ids = lines.grouped(2).map(_.head).toSeq
    // one action/doc pair per record across the two micro-batches,
    // each keyed by the deterministic id (replays would upsert, not
    // duplicate, at the store)
    assert(ids.length == 3)
    for (i <- 1 to 3)
      assert(ids.exists(_.contains(s""""_id":"doc#$i"""")), ids)
    assert(lines.exists(_.contains(""""text":"c"""")))
  }
}
