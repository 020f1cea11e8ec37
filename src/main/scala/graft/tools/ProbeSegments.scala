package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.FullText

/** Measures the SEGMENT-COUNT cost of the manifest read path (SURVEY
  * §9 item: between compactions a stored-index search pays one extra
  * scan node per committed streaming batch): build a text index over
  * a synthetic corpus, stream-append K batches (each a committed
  * segment), time `bm25SearchStored` at K = 0 / mid / max segments,
  * then compact and time again — the fold should return the query to
  * its K = 0 cost. Usage:
  * `runMain graft.tools.ProbeSegments [baseN] [batches] [batchN]`
  * (default 100000 docs, 32 appended batches of 1000). Prints one
  * JSON line per measurement; PLANS.md records the curve. */
object ProbeSegments {

  private def timeMin3(body: => Unit): Double = {
    body
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }.min
  }

  private def docsOf(spark: SparkSession, from: Long,
      n: Long): DataFrame = {
    import spark.implicits._
    val vocab = 20000
    spark.range(from, from + n).select($"id".as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(29)), i => {
        val h = xxhash64($"id" * 31 + i)
        val hot = concat(lit("h"), pmod(h, lit(64)).cast("string"))
        val cold = concat(lit("w"),
          pmod(xxhash64($"id" * 131 + i * 7), lit(vocab)).cast("string"))
        when(pmod(h, lit(5)) === 0, hot).otherwise(cold)
      })).as("text"))
  }

  def main(args: Array[String]): Unit = {
    val baseN = args.headOption.map(_.toLong).getOrElse(100000L)
    val batches = args.lift(1).map(_.toInt).getOrElse(32)
    val batchN = args.lift(2).map(_.toLong).getOrElse(1000L)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val idx = java.nio.file.Files.createTempDirectory("seg-curve")
      .toFile.getAbsolutePath
    FullText.writeTextIndex(docsOf(spark, 0, baseN), "doc_id", "text",
      idx)
    val terms = Seq("h1", "h7", "w42")
    def probe(label: String): Unit = {
      val t = timeMin3 {
        FullText.bm25SearchStored(spark, idx, terms).collect()
      }
      println(s"""{"probe":"segments","at":"$label",""" +
        s""""query_s":${f"$t%.3f"}}""")
    }
    probe("segments=0")
    var b = 0
    while (b < batches) {
      FullText.appendToTextIndex(spark,
        docsOf(spark, baseN + b * batchN, batchN), "doc_id", "text",
        idx, segmentId = Some(s"b$b"))
      b += 1
      if (b == batches / 4 || b == batches)
        probe(s"segments=$b")
    }
    val (fb, fa, _) = FullText.compactTextIndex(spark, idx)
    probe(s"compacted(files $fb -> $fa)")

    // ---- compactEvery cadence (round 12): the same 32 batches
    // through the refresh streams' auto-compaction rule — fold once
    // the manifest unions 8 segments. Search cost after the full
    // stream should sit at the ~compacted cost, not the 32-segment
    // peak: the knob bounds the curve over an unbounded stream.
    val idxA = java.nio.file.Files.createTempDirectory("seg-auto")
      .toFile.getAbsolutePath
    FullText.writeTextIndex(docsOf(spark, 0, baseN), "doc_id", "text",
      idxA)
    var b2 = 0
    while (b2 < batches) {
      FullText.appendToTextIndex(spark,
        docsOf(spark, baseN + b2 * batchN, batchN), "doc_id", "text",
        idxA, segmentId = Some(s"b$b2"))
      if (graft.io.Layout.segmentCount(spark, idxA) >= 8)
        FullText.compactTextIndex(spark, idxA)
      b2 += 1
    }
    val tAuto = timeMin3 {
      FullText.bm25SearchStored(spark, idxA, terms).collect()
    }
    println(s"""{"probe":"segments","at":"compactEvery=8 after """ +
      s"""$batches batches (live=${
        graft.io.Layout.segmentCount(spark, idxA)})",""" +
      s""""query_s":${f"$tAuto%.3f"}}""")

    // ---- the vector face's segment curve -----------------------------
    import spark.implicits._
    def vecsOf(from: Long, n: Long) =
      spark.range(from, from + n).select($"id".as("vec_id"),
        transform(sequence(lit(0), lit(63)), d =>
          (pmod(xxhash64($"id" * 67 + d), lit(1000)).cast("double")
            / 1000d - lit(0.5d)).cast("float")).as("embedding"))
    val vidx = java.nio.file.Files.createTempDirectory("seg-curve-vec")
      .toFile.getAbsolutePath
    val vBase = math.max(baseN / 5, 10000L)
    val base = vecsOf(0, vBase).localCheckpoint()
    graft.queries.SimilarityQueries
      .writeIvfPqIndexFrames(base, base, vidx)
    val eDir = java.nio.file.Files.createTempDirectory("seg-curve-emb")
      .toFile.getAbsolutePath
    base.write.mode("overwrite").parquet(s"$eDir/embeddings.parquet")
    def vprobe(label: String): Unit = {
      val t = timeMin3 {
        graft.queries.SimilarityQueries
          .ivfPqSearchStored(spark, vidx, eDir).collect()
      }
      println(s"""{"probe":"vec_segments","at":"$label",""" +
        s""""query_s":${f"$t%.3f"}}""")
    }
    vprobe("segments=0")
    b = 0
    while (b < batches) {
      graft.queries.SimilarityQueries.appendToIvfPqIndex(spark, vidx,
        vecsOf(vBase + b * batchN, batchN), segmentId = Some(s"b$b"))
      b += 1
      if (b == batches / 4 || b == batches)
        vprobe(s"segments=$b")
    }
    val (vfb, vfa, _) = graft.queries.SimilarityQueries
      .compactIvfPqIndex(spark, vidx)
    vprobe(s"compacted(files $vfb -> $vfa)")
    graft.ops.Checkpoints.unpersist(base)
    spark.stop()
  }
}
