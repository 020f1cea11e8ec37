package graft.ops

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpecBase

class DedupSpec extends SparkSpecBase {

  private val docT = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private def docs(rows: (Long, String)*) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 2), docT)
      .select(col("doc_id"), Dedup.shingles(Dedup.tokens(col("text")))
        .as("shingles"))

  test("shingles: distinct 3-grams; short docs collapse to one shingle") {
    val out = docs((1L, "a b c d"), (2L, "x y"), (3L, "a b c d"))
      .collect().map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[String]]("shingles")).toMap
    assert(out(1L) == Seq("a b c", "b c d"))
    assert(out(2L) == Seq("x y"))
    assert(out(1L) == out(3L))
  }

  test("identical docs have identical minhash signatures and band keys") {
    val sig = docs((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different words entirely here now today ok"))
      .withColumn("sig", Dedup.minhashSignature(col("shingles")))
      .withColumn("bands", Dedup.bandHashes(col("sig")))
      .collect().map(r => r.getLong(0) ->
        (r.getAs[scala.collection.Seq[String]]("sig"),
          r.getAs[scala.collection.Seq[String]]("bands"))).toMap
    assert(sig(1L) == sig(2L))
    assert(sig(1L) != sig(3L))
    assert(sig(1L)._1.length == 16 && sig(1L)._2.length == 4)
  }

  test("minhashLshPairs finds a near-dup pair and skips unrelated docs") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val d = docs((1L, base), (2L, base + " phi"),
      (3L, "one two three four five six seven eight nine ten"))
    val pairs = Dedup.minhashLshPairs(d, "doc_id", "shingles",
      threshold = 0.5).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    val j = pairs.head.getAs[Double]("jaccard")
    assert(j > 0.8 && j < 1.0)
  }

  test("containmentPairs: a short doc inside a long one maxes containment") {
    val short = "alpha beta gamma delta epsilon zeta eta theta"
    val long = short + " iota kappa lambda mu nu xi omicron pi rho sigma " +
      "tau upsilon phi chi psi omega aleph bet gimel dalet he"
    val d = docs((1L, short), (2L, long),
      (3L, "one two three four five six seven eight nine ten"))
    val out = Dedup.containmentPairs(d, "doc_id", "shingles")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    // the (short, long) pair must be reported, with A fully contained
    assert(out.keySet == Set((1L, 2L)))
    val r = out((1L, 2L))
    assert(r.getAs[Double]("containment_a") == 1.0,
      "every shingle of the short doc appears in the long one")
    assert(r.getAs[Double]("containment_b") < 1.0)
    val j = r.getAs[Double]("jaccard")
    assert(j < 0.5, "diluted Jaccard is exactly what q21 would miss")
    // containment always dominates jaccard
    assert(r.getAs[Double]("containment_a") >= j &&
      r.getAs[Double]("containment_b") >= j)
  }

  test("containmentPairs dfCap drops hot shingles from both sides") {
    // doc 3 shares ONLY the ubiquitous shingle run with docs 1 and 2;
    // capping df at 2 removes shingles present in all three docs, so
    // pairs surviving purely on hot overlap disappear while the
    // rare-shingle pair (1,2) keeps its private overlap
    val common = "the quick brown fox jumps over lazy dogs"
    val d = docs(
      (1L, common + " alpha beta gamma delta"),
      (2L, common + " alpha beta gamma epsilon"),
      (3L, common + " zeta eta theta iota"))
    // the default carries its own df ≤ 1000 guard (inert here: max df
    // is 3), so "uncapped" means "cap not reached", not "no cap"
    val uncapped = Dedup.containmentPairs(d, "doc_id", "shingles")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.contains((1L, 2L)) && uncapped.size == 3,
      s"all three pairs overlap on the common run: $uncapped")
    // capping undercounts inter by the hot overlap (the documented
    // recall trade), so the capped pass runs at a threshold the
    // remaining COLD overlap of (1,2) still clears — (1,3)/(2,3)
    // share nothing cold and vanish entirely
    val capped = Dedup.containmentPairs(d, "doc_id", "shingles",
      threshold = 0.3, dfCap = Some(2))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1L, 2L)),
      s"hot-shingle-only pairs must drop under the cap: $capped")
  }

  test("minhashLshPairsIncremental = batch pairs restricted to new-batch doc_b") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val other = "one two three four five six seven eight nine ten eleven"
    val all = docs(
      (1L, base), (2L, base + " phi"), // old near-dup pair (prior delta)
      (3L, other),
      (10L, base + " chi"), // new: dups old 1, 2
      (11L, other + " twelve"), // new: dups old 3
      (12L, base + " chi psi")) // new: dups new 10 (and old 1, 2)
    val watermark = 10L
    val old = all.filter(col("doc_id") < watermark)
    val fresh = all.filter(col("doc_id") >= watermark)
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val inc = keyed(Dedup.minhashLshPairsIncremental(
      old, fresh, "doc_id", "shingles", threshold = 0.5))
    val full = keyed(Dedup.minhashLshPairs(
      all, "doc_id", "shingles", threshold = 0.5))
    assert(inc == full.filter { case ((_, b), _) => b >= watermark },
      s"inc=$inc full=$full")
    // the delta flags both old→new and new→new duplication
    assert(inc.contains((1L, 10L)) && inc.contains((10L, 12L)) &&
      inc.contains((3L, 11L)))
    // and never re-reports the prior batches' old↔old pair
    assert(!inc.contains((1L, 2L)))
  }

  test("minhashLshPairsAgainstIndex(persisted artifacts) = self-contained incremental") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val other = "one two three four five six seven eight nine ten eleven"
    val all = docs(
      (1L, base), (2L, base + " phi"), (3L, other),
      (10L, base + " chi"), (11L, other + " twelve"),
      (12L, base + " chi psi"))
    val old = all.filter(col("doc_id") < 10L)
    val fresh = all.filter(col("doc_id") >= 10L)
    // the artifacts a deployment persists at index time
    val bandIdx = old
      .withColumn("bandh", Dedup.bandHashesDirect(col("shingles")))
      .select(col("doc_id").as("id"),
        posexplode(col("bandh")).as(Seq("band", "band_hash")))
    val shStore = old.select(col("doc_id").as("id"),
      col("shingles").as("sh"))
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val viaIndex = keyed(Dedup.minhashLshPairsAgainstIndex(
      bandIdx, shStore, fresh, "doc_id", "shingles", threshold = 0.5))
    val selfContained = keyed(Dedup.minhashLshPairsIncremental(
      old, fresh, "doc_id", "shingles", threshold = 0.5))
    assert(viaIndex == selfContained,
      s"index=$viaIndex selfContained=$selfContained")
    assert(viaIndex.nonEmpty)
  }

  test("substring dedup: all-but-first spans union per doc, internal repeats count") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("substr")
      .toFile.getAbsolutePath
    Seq(
      (1L, "a b c d e f g h"), // first occurrence of "c d e" etc: clean
      (2L, "x x c d e f g y"), // repeats doc 1's runs c-d-e, d-e-f, e-f-g
      (3L, "p q r p q r p q r")) // internal repetition only
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val rows = graft.queries.DedupQueries.substringDedup(spark, d, k = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // doc 1 holds every first occurrence → absent from the report
    assert(rows.keySet == Set(2L, 3L))
    // doc 2: repeated 3-gram positions 2,3,4 (cde, def, efg) →
    // union = 1 + 1 + 3 = 5 of 8 tokens
    assert(rows(2L) == ((8L, 3L, 5L, round4(5.0 / 8))))
    // doc 3: grams pqr,qrp,rpq,pqr,qrp,rpq,pqr at 0..6; repeats at
    // 3,4,5,6 → union = 1 + 1 + 1 + 3 = 6 of 9 tokens
    assert(rows(3L) == ((9L, 4L, 6L, round4(6.0 / 9))))
  }

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("invertedIndexJaccard matches direct array jaccard") {
    val d = docs((1L, "a b c d e f"), (2L, "a b c d e g"),
      (3L, "z z z z z z"))
    val viaIndex = Dedup.invertedIndexJaccard(d, "doc_id", "shingles",
      threshold = 0.1).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard"))
      .toMap
    // doc1: shingles {abc,bcd,cde,def}; doc2: {abc,bcd,cde,deg}
    // intersection 3, union 5 → 0.6
    assert(viaIndex((1L, 2L)) == 0.6)
    assert(!viaIndex.contains((1L, 3L)))
  }

  test("prefixFilterJaccard returns exactly invertedIndexJaccard's pairs") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h", "i", "j")
    val base = (1 to 30).map(_ => vocab(rnd.nextInt(vocab.size)))
    val rows = (1L to 40L).map { id =>
      // clusters of near-dups: perturb a shared base a little
      val words = base.map(wd =>
        if (rnd.nextInt(10) < 2) vocab(rnd.nextInt(vocab.size)) else wd)
      (id, words.mkString(" "))
    }
    val d = docs(rows: _*)
    def collectPairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard"))).toSet
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val exact = collectPairs(
        Dedup.invertedIndexJaccard(d, "doc_id", "shingles", t))
      val filtered = collectPairs(
        Dedup.prefixFilterJaccard(d, "doc_id", "shingles", t))
      assert(filtered == exact, s"threshold $t")
    }
  }

  test("connectedComponents: chains collapse to min-id clusters") {
    import org.apache.spark.sql.functions.col
    val pairT = StructType(Seq(
      StructField("doc_a", LongType), StructField("doc_b", LongType)))
    // components: {1,2,3,4} (a chain), {10,11}, pair order mixed
    val pairs = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(3L, 4L), Row(1L, 2L), Row(2L, 3L), Row(10L, 11L)), 2), pairT)
    val out = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents: high-diameter chain converges (checkpointed)") {
    val pairT = StructType(Seq(
      StructField("doc_a", LongType), StructField("doc_b", LongType)))
    // One adversarial 17-node chain (diameter 16 → 16 label-prop
    // rounds) plus a separate triangle. Without per-round lineage
    // truncation the plan depth would explode here.
    val chain = (1L to 16L).map(i => Row(i, i + 1))
    val tri = Seq(Row(100L, 101L), Row(101L, 102L), Row(100L, 102L))
    val pairs = spark.createDataFrame(
      spark.sparkContext.parallelize(chain ++ tri, 4), pairT)
    val out = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 17L).forall(out(_) == 1L))
    assert(Seq(100L, 101L, 102L).forall(out(_) == 100L))
    assert(out.size == 20)
  }

  test("simhash: identical docs equal, near docs close in hamming") {
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val out = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"),
      Row(2L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"),
      Row(3L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 zz")), 2), docT)
      .select(col("doc_id"), Dedup.simhash32(Dedup.tokens(col("text")))
        .as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == out(2L))
    assert(out(1L) >= 0 && out(1L) < (1L << 32))
    assert(hamming(out(1L), out(3L)) < 16) // near dup → small distance
  }

  test("simhashNearDupPairs equals the all-pairs Hamming scan") {
    // Synthetic fingerprints exercising every band position: pairs at
    // distance 0..3 (within the 4-band pigeonhole guarantee), a pair
    // whose 3 differing bits straddle 3 bands, and far-apart noise.
    val fpT = StructType(Seq(
      StructField("doc_id", LongType), StructField("simhash", LongType)))
    val base = 0x5a5a5a5aL
    val fps = Seq(
      1L -> base,
      2L -> base,                                  // d(1,2)=0
      3L -> (base ^ 0x1L),                         // d(1,3)=1 (band 0)
      4L -> (base ^ 0x80000000L),                  // d(1,4)=1 (band 3)
      5L -> (base ^ 0x00010100L),                  // d(1,5)=2 (bands 1,2)
      6L -> (base ^ 0x01010100L),                  // d(1,6)=3 (3 bands)
      7L -> 0x00000000L,                           // far from everything
      8L -> 0xffffffffL)
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      fps.map { case (id, h) => Row(id, h) }, 2), fpT)

    def naive(maxHam: Int): Set[(Long, Long, Long)] = (for {
      (ia, ha) <- fps; (ib, hb) <- fps if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= maxHam
    } yield (ia, ib, d.toLong)).toSet

    for (maxHam <- Seq(1, 2, 3)) { // exact up to bands-1 = 3
      val got = Dedup.simhashNearDupPairs(df, "doc_id", "simhash",
        maxHamming = maxHam).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == naive(maxHam), s"maxHamming=$maxHam")
    }
    // Beyond the pigeonhole bound the banding would lose pairs — the
    // operator refuses rather than silently under-recalling.
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDupPairs(df, "doc_id", "simhash", maxHamming = 4)
    }
  }

  private val fpT = StructType(Seq(
    StructField("doc_id", LongType), StructField("simhash", LongType)))

  private def fpDf(fps: Seq[(Long, Long)]) =
    spark.createDataFrame(spark.sparkContext.parallelize(
      fps.map { case (id, h) => Row(id, h) }, 2), fpT)

  test("simhashNearDupPairs64 equals the all-pairs scan incl. sign band") {
    // 64-bit fingerprints with the top bit set on the base so the Long
    // is negative: an arithmetic shift would corrupt band 3's slice
    // value for every doc — the cross-sign pairs below catch that.
    val base = 0xa5a5a5a5_5a5a5a5aL
    assert(base < 0L)
    val fps = Seq(
      1L -> base,
      2L -> base,                                  // d(1,2)=0
      3L -> (base ^ 0x1L),                         // d(1,3)=1 (band 0)
      4L -> (base ^ 0x8000000000000000L),          // d(1,4)=1 (sign bit,
      //                        flips the Long's sign: band-3 collision
      //                        with doc 1 must still happen on bands 0-2)
      5L -> (base ^ 0x0001000100000000L),          // d(1,5)=2 (bands 2,3)
      6L -> (base ^ 0x0100010000010000L),          // d(1,6)=3 (3 bands)
      7L -> 0L, 8L -> -1L)                         // far noise
    val df = fpDf(fps)
    def naive(maxHam: Int): Set[(Long, Long, Long)] = (for {
      (ia, ha) <- fps; (ib, hb) <- fps if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= maxHam
    } yield (ia, ib, d.toLong)).toSet
    for (maxHam <- Seq(1, 2, 3)) {
      val got = Dedup.simhashNearDupPairs64(df, "doc_id", "simhash",
        maxHamming = maxHam).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == naive(maxHam), s"maxHamming=$maxHam")
    }
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDupPairs64(df, "doc_id", "simhash", maxHamming = 4)
    }
  }

  test("16-bit bands keep scaling where 8-bit bands saturate at 256") {
    // The q44→q50 scale argument, measured through the real banding
    // path: on the same corpus of distinct fingerprints, the 32-bit
    // form's buckets are capped at 256 per band (so bucket occupancy —
    // and candidate volume — grows linearly with corpus size), while
    // the 64-bit form keeps ~one bucket per doc per band.
    val rnd = new scala.util.Random(42)
    def buckets(n: Int, bits: Int): Long = {
      val fps = (1 to n).map(i => i.toLong ->
        (if (bits == 32) rnd.nextInt().toLong & 0xffffffffL else rnd.nextLong()))
      Dedup.simhashBands(fpDf(fps), "doc_id", "simhash", bits, bands = 4)
        .select("band", "band_val").distinct().count()
    }
    val small32 = buckets(600, 32)
    val large32 = buckets(3000, 32)
    val small64 = buckets(600, 64)
    val large64 = buckets(3000, 64)
    assert(large32 <= 4 * 256) // saturated: more docs, same buckets
    assert(small64 > 4 * 256) // already past the 32-bit ceiling at 600
    // 64-bit buckets track corpus size (collisions are rare at 65k
    // values per band: expect ≈ 4N distinct, allow generous slack).
    assert(large64 > small64 * 3)
    assert(large64 > 4L * 3000 * 9 / 10)
  }

  test("banded pairs evaluate the fingerprint kernel once per side") {
    // Round-6 plan-audit regression pin: the join's null-intolerant
    // predicates used to make constraint inference push an
    // isnotnull(simhash(tokens(text))) filter below the repartition —
    // a second kernel evaluation per row on the scan side. The
    // optimized plan must contain the kernel exactly twice (one
    // projection per join side), never in a Filter.
    import graft.io.Tables
    val docs = Tables.documentsDistributed(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"),
        Dedup.simhash64(Dedup.tokens(col("text"))).as("simhash"))
    val plan = Dedup.simhashNearDupPairs64(docs, "doc_id", "simhash")
      .queryExecution.optimizedPlan
    val kernelCount = "simhash64\\(".r
      .findAllMatchIn(plan.toString).length
    assert(kernelCount == 2, s"expected 2 kernel sites, got $kernelCount:\n$plan")
    val inFilters = plan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.condition.toString.contains("simhash64") => f
    }
    assert(inFilters.isEmpty, s"kernel leaked into filters: $inFilters")
  }

  test("minhashLshPairs dfCap prunes a boilerplate cluster, keeps others") {
    // 40 identical docs (every band bucket holds all 40) + one
    // distinct near-dup pair: uncapped finds all pairs; capped at 10
    // drops the boilerplate cluster's pairs and keeps the cold pair.
    val docT = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val boiler = (1L to 40L).map(i =>
      Row(i, "the quick brown fox jumps over the lazy dog again"))
    val cold = Seq(
      Row(100L, "alpha beta gamma delta epsilon zeta eta theta"),
      Row(101L, "alpha beta gamma delta epsilon zeta eta iota"))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(boiler ++ cold, 2), docT)
      .select(col("doc_id"),
        Dedup.shingles(Dedup.tokens(col("text"))).as("sh"))
    assert(Dedup.minhashLshPairs(df, "doc_id", "sh").count() ==
      40L * 39 / 2 + 1)
    val capped = Dedup.minhashLshPairs(df, "doc_id", "sh",
      dfCap = Some(10)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((100L, 101L)))
  }

  test("compactBandIndex halves a double-appended index and changes no verdict") {
    // file:-schemed URI (the IndexerSpec precedent): a java.io.File
    // probe reports this path absent, so the test proves the compactor
    // resolves through Hadoop's FileSystem, not the local-FS API
    val localDir = java.nio.file.Files
      .createTempDirectory("graft-compact").toString
    val indexDir = s"file:$localDir"
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val other = "one two three four five six seven eight nine ten eleven"
    val old = docs((1L, base), (2L, other))
    val bands = old
      .withColumn("bandh", Dedup.bandHashesDirect(col("shingles"), 16, 4))
      .select(col("doc_id").as("id"),
        posexplode(col("bandh")).as(Seq("band", "band_hash")))
    val sh = old.select(col("doc_id").as("id"), col("shingles").as("sh"))
    // an at-least-once replay re-appends byte-identical rows
    for (_ <- 1 to 2) {
      bands.write.mode("append").parquet(s"$indexDir/bands")
      sh.write.mode("append").parquet(s"$indexDir/shingles")
    }
    val batch = docs((10L, base + " chi"),
      (11L, "unrelated words entirely different from everything here"))
      .select(col("doc_id").as("id"), col("shingles").as("sh"))
    def probe() = {
      val (liveBands, liveShingles) = Dedup.liveBandDirs(spark, indexDir)
      Dedup.minhashLshPairsAgainstIndex(
        spark.read.parquet(liveBands), spark.read.parquet(liveShingles),
        batch, "id", "sh")
        .orderBy(col("doc_a"), col("doc_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    }
    val pre = probe()
    assert(pre.distinct == Seq((1L, 10L, 0.9474)),
      s"fixture must collide 10 with stored 1: $pre")
    // replayed shingle-store rows DUPLICATE raw verify pairs (the
    // admission stream's groupBy collapses them, so verdicts hold) —
    // the very redundancy the compactor reclaims
    assert(pre.length == 2, s"double-appended store doubles pairs: $pre")
    val ((b0, b1), (s0, s1)) = Dedup.compactBandIndex(spark, indexDir)
    assert(b0 == 2 * b1 && b1 == 8, s"bands $b0 -> $b1")
    assert(s0 == 2 * s1 && s1 == 2, s"shingles $s0 -> $s1")
    assert(probe() == pre.distinct,
      "post-compaction: identical verdicts, replay duplicates gone")
    // the fold committed generation 1 and reclaimed the flat dirs
    val hfs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def names() = hfs.listStatus(new org.apache.hadoop.fs.Path(indexDir))
      .map(_.getPath.getName).toSet
    assert(graft.io.Layout.liveGeneration(spark, indexDir).contains(1L))
    assert(names() == Set("gen-1", "bands-v1", "shingles-v1"),
      "the fold leaves only the committed generation")
    // a second compaction is a no-op rewrite into the next generation
    val ((b2, b3), _) = Dedup.compactBandIndex(spark, indexDir)
    assert(b2 == b1 && b3 == b1)
    assert(probe() == pre.distinct)
    assert(names() == Set("gen-2", "bands-v2", "shingles-v2"))
  }

  test("retentionPolicy: quality beats length; singletons always survive") {
    val spark2 = spark
    import spark2.implicits._
    // cluster 1: doc 2 is LONGER but junk (keep=0); doc 5 is a
    // shorter quality member — the policy must retain 5, not 2 and
    // not min-id 1. cluster 10: all-junk — longest junk (11) wins.
    // doc 20: singleton (absent from clusters) — always retained.
    val docs = Seq(
      (1L, 30L, 0L), (2L, 900L, 0L), (5L, 40L, 1L),
      (10L, 25L, 0L), (11L, 50L, 0L),
      (20L, 5L, 0L)).toDF("doc_id", "n_tokens", "keep")
    val clusters = Seq(
      (1L, 1L), (2L, 1L), (5L, 1L),
      (10L, 10L), (11L, 10L)).toDF("doc_id", "cluster_id")
    val out = graft.queries.DedupQueries.retentionPolicy(docs, clusters)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(4)))).toMap
    assert(out(5L) == ((1L, 1L)), "quality member survives its cluster")
    assert(out(1L)._2 == 0L && out(2L)._2 == 0L,
      "longer junk and min-id lose to quality")
    assert(out(11L) == ((10L, 1L)) && out(10L)._2 == 0L,
      "all-junk cluster: longest member survives")
    assert(out(20L) == ((20L, 1L)), "singletons are their own cluster")
    assert(out.values.groupBy(_._1).forall(_._2.count(_._2 == 1L) == 1),
      "exactly one survivor per cluster")
  }

  test("dfCap drops degenerate buckets, keeps cold ones") {
    // 50 identical fingerprints (a boilerplate cluster: every band
    // bucket holds all 50) plus one true near-dup pair elsewhere.
    val hot = (1L to 50L).map(_ -> 0x0123456789abcdefL)
    val cold = Seq(100L -> 0x7edcba9876543210L,
      101L -> (0x7edcba9876543210L ^ 0x4L)) // d=1
    val df = fpDf(hot ++ cold)
    // Uncapped: all C(50,2) boilerplate pairs + the cold pair.
    assert(Dedup.simhashNearDupPairs64(df, "doc_id", "simhash")
      .count() == 50L * 49 / 2 + 1)
    // Capped at 10: every hot bucket (50 > 10) is pruned from BOTH
    // join sides, so the boilerplate contributes nothing; the cold
    // pair's buckets (occupancy ≤ 2) survive untouched.
    val capped = Dedup.simhashNearDupPairs64(df, "doc_id", "simhash",
      dfCap = Some(10)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(capped == Set((100L, 101L, 1L)))
  }
}
