package graft.tools

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.ops.FullText
import graft.queries.SimilarityQueries

/** The compaction CLI's contract: family auto-detection picks the
  * right compactor, files fold, search pages are invariant. */
class RunCompactSpec extends SparkSpecBase {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("auto-detected compaction folds segments, pages invariant, both families") {
    val docs = graft.io.Tables.documents(spark, dir)
    // text index with an appended segment
    val tIdx = java.nio.file.Files.createTempDirectory("compact-t")
      .toFile.getAbsolutePath
    FullText.writeTextIndex(docs, "doc_id", "text", tIdx)
    FullText.appendToTextIndex(spark,
      Seq((880011L, "fast vector query extra doc")).toDF("doc_id", "text"),
      "doc_id", "text", tIdx, segmentId = Some("b1"))
    def tPage() = FullText
      .bm25SearchStored(spark, tIdx, Seq("fast", "vector", "query"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val tBefore = tPage()
    assert(graft.io.Layout.segmentCount(spark, tIdx) == 1)
    val (tf, tb, ta, _) = RunCompact.run(spark, tIdx)
    assert(tf == "text" && ta < tb,
      s"text compaction must shrink files ($tb -> $ta)")
    assert(graft.io.Layout.segmentCount(spark, tIdx) == 0)
    assert(tPage() == tBefore, "text page must be fold-invariant")
    // vector index with an appended segment
    val vIdx = java.nio.file.Files.createTempDirectory("compact-v")
      .toFile.getAbsolutePath
    SimilarityQueries.writeIvfPqIndex(spark, dir, vIdx)
    SimilarityQueries.appendToIvfPqIndex(spark, vIdx,
      graft.io.Tables.embeddings(spark, dir)
        .filter($"vec_id" % 17 === 2)
        .select(($"vec_id" + 880000L).as("vec_id"), $"embedding"),
      segmentId = Some("b1"))
    def vPage() = SimilarityQueries.ivfPqSearchStored(spark, vIdx, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val vBefore = vPage()
    val (vf, vb, va, _) = RunCompact.run(spark, vIdx)
    assert(vf == "vector" && va < vb,
      s"vector compaction must shrink files ($vb -> $va)")
    assert(vPage() == vBefore, "vector page must be fold-invariant")
    // unknown family override fails actionably
    intercept[IllegalArgumentException] {
      RunCompact.run(spark, tIdx, Some("bogus"))
    }
    // --buckets resizes the text layout through the CLI face and the
    // recorded count drives later searches; the vector family
    // rejects it actionably
    val (rf, _, _, _) = RunCompact.run(spark, tIdx, rebucket = Some(9))
    assert(rf == "text")
    assert(spark.read
      .parquet(s"${graft.io.Layout.liveArtifactDir(spark, tIdx)}/stats")
      .head().getAs[Int]("buckets") == 9)
    assert(tPage() == tBefore,
      "a CLI rebucket must keep the page invariant")
    val eV = intercept[IllegalArgumentException] {
      RunCompact.run(spark, vIdx, rebucket = Some(9))
    }
    assert(eV.getMessage.contains("text layouts only"))
    // non-positive counts refuse at the LIBRARY face — a committed
    // zero/negative count would corrupt every later search's pruning
    val eZ = intercept[IllegalArgumentException] {
      FullText.compactTextIndex(spark, tIdx, rebucket = Some(0))
    }
    assert(eZ.getMessage.contains("must be positive"))
    intercept[IllegalArgumentException] {
      FullText.compactTextIndex(spark, tIdx,
        rebucket = Some(-3))
    }
  }

  test("band family auto-detects: the fold reclaims replayed rows, keeps collision verdicts, and rejects --buckets") {
    import graft.ops.Dedup
    val docs = graft.io.Tables.documents(spark, dir).limit(80)
    val idx = java.nio.file.Files.createTempDirectory("compact-band")
      .toFile.getAbsolutePath
    val prepped = docs.select($"doc_id".as("id"),
      Dedup.shingles(Dedup.tokens($"text")).as("sh"))
      .filter($"sh".isNotNull)
    def appendOnce(): Unit = {
      prepped
        .withColumn("bandh", Dedup.bandHashesDirect($"sh", 16, 4))
        .select($"id",
          posexplode_outer($"bandh").as(Seq("band", "band_hash")))
        .write.mode("append").parquet(s"$idx/bands")
      prepped.select($"id", $"sh")
        .write.mode("append").parquet(s"$idx/shingles")
    }
    appendOnce()
    appendOnce() // an at-least-once replay
    // the collision verdict a probing batch gets must be fold-invariant
    val newDocs = docs.limit(5)
      .select(($"doc_id" + 9000000L).as("id"), $"text")
      .select($"id", Dedup.shingles(Dedup.tokens($"text")).as("sh"))
    // the pair SET is what admission consumes (its dup_of aggregate is
    // multiplicity-insensitive); replayed shingle rows fan the verify
    // join out to duplicate ROWS pre-fold, which the fold reclaims
    def verdict() = {
      val (bands, shingles) = Dedup.liveBandDirs(spark, idx)
      Dedup.minhashLshPairsAgainstIndex(spark.read.parquet(bands),
        spark.read.parquet(shingles), newDocs, "id", "sh")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val before = verdict()
    val (f, b, a, r) = RunCompact.run(spark, idx)
    assert(f == "band", s"bands+shingles dirs must detect as band (got $f)")
    assert(a == b / 2 && r == a,
      s"the fold must reclaim exactly the replayed rows ($b -> $a)")
    assert(verdict() == before,
      "collision verdicts must be fold-invariant")
    // --buckets is a text-layout knob
    val eB = intercept[IllegalArgumentException] {
      RunCompact.run(spark, idx, rebucket = Some(8))
    }
    assert(eB.getMessage.contains("text layouts only"))
  }

  test("text folds print the bucket-skew advisory; the numbers are real and vector folds stay silent") {
    val docs = graft.io.Tables.documents(spark, dir)
    val tIdx = java.nio.file.Files.createTempDirectory("compact-adv")
      .toFile.getAbsolutePath
    FullText.writeTextIndex(docs, "doc_id", "text", tIdx)
    // the fold's stdout carries the advisory line — the operator's
    // signal for WHEN --buckets is worth passing (the tool itself
    // never resizes: a bucket count is a durable layout property)
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      RunCompact.run(spark, tIdx)
    }
    val out = buf.toString("UTF-8")
    assert(out.contains("\"advisory\":\"bucket_skew\""),
      s"a text fold must print the skew advisory (got: $out)")
    assert(out.contains("\"max_rows\"") && out.contains("\"hint\""))
    // the measured numbers agree with a direct postings aggregation
    val (nb, mx, md) = RunCompact.bucketSkew(spark, tIdx)
    val counts = FullText.postingsFrame(spark, tIdx)
      .groupBy("bucket").count()
      .collect().map(_.getAs[Long]("count")).sorted
    assert(nb == counts.length && mx == counts.last &&
      md == counts(counts.length / 2))
    assert(out.contains(s""""buckets":$nb""") &&
      out.contains(s""""max_rows":$mx"""))
    // vector folds have no term buckets and print no advisory
    val vIdx = java.nio.file.Files.createTempDirectory("compact-adv-v")
      .toFile.getAbsolutePath
    SimilarityQueries.writeIvfPqIndex(spark, dir, vIdx)
    val vBuf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(vBuf, true, "UTF-8")) {
      RunCompact.run(spark, vIdx)
    }
    assert(!vBuf.toString("UTF-8").contains("bucket_skew"))
  }

  test("full purge: a fold over zero surviving postings reports 'no postings' instead of crashing after the commit") {
    // delete EVERY doc, then RunCompact — a plausible maintenance
    // flow (a takedown of a whole corpus slice) whose fold commits an
    // empty postings set; the skew advisory must degrade to a
    // zero-bucket line, not throw on an empty per-bucket count array
    // and report failure for a mutation that already succeeded
    val docs = graft.io.Tables.documents(spark, dir).limit(25)
    val idx = java.nio.file.Files.createTempDirectory("compact-purge")
      .toFile.getAbsolutePath
    FullText.writeTextIndex(docs, "doc_id", "text", idx)
    FullText.deleteFromTextIndex(spark, idx,
      docs.select($"doc_id").collect().map(_.getLong(0)).toSeq)
    val buf = new java.io.ByteArrayOutputStream()
    val (f, _, _, rows) = Console.withOut(
      new java.io.PrintStream(buf, true, "UTF-8")) {
      RunCompact.run(spark, idx)
    }
    assert(f == "text" && rows == 0,
      s"the purge fold must commit zero surviving rows (got $rows)")
    val out = buf.toString("UTF-8")
    assert(out.contains("\"buckets\":0") &&
      out.contains("no postings"),
      s"the advisory must report the empty layout (got: $out)")
    assert(FullText.bm25SearchStored(spark, idx,
      Seq("fast", "vector", "query")).count() == 0,
      "a fully-purged index must serve empty pages, not errors")
  }

  test("full purge, multi-field: the fold keeps zeroed per-field stats rows and serves empty pages") {
    val docs = graft.io.Tables.documents(spark, dir).limit(25)
      .select($"doc_id",
        substring($"text", 1, 24).as("title"), $"text".as("body"))
    val idx = java.nio.file.Files.createTempDirectory("compact-purge-mf")
      .toFile.getAbsolutePath
    FullText.writeMultiFieldTextIndex(docs, "doc_id",
      Seq("title", "body"), idx)
    FullText.deleteFromTextIndex(spark, idx,
      docs.select($"doc_id").collect().map(_.getLong(0)).toSeq)
    val (f, _, _, rows) = RunCompact.run(spark, idx)
    assert(f == "multifield" && rows == 0)
    // the field list is a durable layout property: both fields keep a
    // zeroed stats row (an empty stats artifact would crash every
    // later stats read, including family detection)
    val stats = spark.read
      .parquet(s"${graft.io.Layout.liveArtifactDir(spark, idx)}/stats")
      .collect().map(r => (r.getAs[String]("field"),
        r.getAs[Long]("n_docs"), r.getAs[Double]("avgdl"))).sortBy(_._1)
    assert(stats.toSeq == Seq(("body", 0L, 0.0), ("title", 0L, 0.0)),
      s"purged multi-field stats must zero, not vanish (got ${stats.toSeq})")
    assert(RunCompact.detectFamily(spark, idx) == "multifield",
      "family detection must survive the purge")
    assert(FullText.multiMatchSearchStored(spark, idx,
      Seq("fast", "vector"), Seq("title" -> 2.0, "body" -> 1.0),
      tieBreaker = 0.3).count() == 0)
  }

  test("full purge, vector: both physical layouts fold to a readable empty codes table") {
    val e = graft.io.Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding")
    val allIds = e.select($"vec_id").collect().map(_.getLong(0)).toSeq
    for (pg <- Seq(-1, 4)) {
      val idx = java.nio.file.Files
        .createTempDirectory(s"compact-purge-v$pg")
        .toFile.getAbsolutePath
      SimilarityQueries.writeIvfPqIndexFrames(e, e, idx,
        numCells = 16, pgroups = pg)
      SimilarityQueries.deleteFromIvfPqIndex(spark, idx, allIds)
      val (f, _, _, rows) = RunCompact.run(spark, idx)
      assert(f == "vector" && rows == 0,
        s"pgroups=$pg purge fold must commit zero rows (got $rows)")
      assert(SimilarityQueries.codesFrame(spark, idx).count() == 0,
        s"pgroups=$pg purged codes must read back empty, not crash")
      assert(SimilarityQueries.ivfPqSearchStored(spark, idx, dir)
        .count() == 0,
        s"pgroups=$pg purged search must serve an empty page")
    }
  }
}
