package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.FullText
import graft.queries.SimilarityQueries

/** Measures the STORED faces' scale claims as query-time-vs-corpus-size
  * CURVES on synthetic corpora the driver's testdata cannot reach
  * (10× / 100× the base size):
  *
  *  - `bm25SearchStored`: the claim is "query cost tracks dictionary +
  *    matched postings" — the query terms' bucket-pruned postings scan
  *    plus a Heaps-law dictionary probe, NOT the corpus. The curve
  *    should grow far sublinearly in corpus size (matched postings
  *    grow with df; the scan prunes to |query-term buckets| of the
  *    term-bucket partitions).
  *  - `ivfPqSearchStored`: the claim is "probed cells' FILES only" —
  *    at fixed probes/cells the candidate volume is ≈ probes/cells of
  *    the corpus, so the curve should track N/cells, not N, and stay
  *    far under the brute-force scan it replaces.
  *
  * Index BUILD time is excluded (index-time cost, paid once); each
  * query times min-of-3 after a warm-up evaluation. Corpora are
  * deterministic (seeded xxhash64 token soup / hash-derived float
  * embeddings — the ProbeSimhash convention), so runs are
  * reproducible. Usage:
  * `runMain graft.tools.ProbeScaleCurve [baseN] [factors]` (default
  * 20000 and "1,10,100"). Prints one JSON line per (face, N); PLANS.md
  * records the measured curves. */
object ProbeScaleCurve {

  private def timeMin3(body: => Unit): Double = {
    body // warm-up (plans compile, codegen caches fill)
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }.min
  }

  /** Mutations change the index they run on, so they time ONCE — the
    * curve SHAPE across 1×/10×/100× is the signal, not the absolute. */
  private def timeOnce(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** ~30-token docs over a Heaps-ish vocabulary: vocab grows with
    * sqrt(N) so the dictionary behaves like real text (bigger corpora
    * add types sublinearly); 20% of slots draw from 64 hot terms (a
    * Zipf head), the rest from the cold tail. */
  private def syntheticDocs(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    val vocab = math.max(2048, math.sqrt(n.toDouble).toInt * 24)
    spark.range(n).select($"id".as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(29)), i => {
        val h = xxhash64($"id" * 31 + i)
        val hot = concat(lit("h"), pmod(h, lit(64)).cast("string"))
        val cold = concat(lit("w"),
          pmod(xxhash64($"id" * 131 + i * 7), lit(vocab)).cast("string"))
        when(pmod(h, lit(5)) === 0, hot).otherwise(cold)
      })).as("text"))
  }

  /** Deterministic 64-d float embeddings in [-0.5, 0.5). */
  private def syntheticEmbeddings(spark: SparkSession,
      n: Long): DataFrame = {
    import spark.implicits._
    spark.range(n).select($"id".as("vec_id"),
      transform(sequence(lit(0), lit(63)), d =>
        (pmod(xxhash64($"id" * 67 + d), lit(1000)).cast("double") / 1000d
          - lit(0.5d)).cast("float")).as("embedding"))
  }

  def main(args: Array[String]): Unit = {
    val baseN = args.headOption.map(_.toLong).getOrElse(20000L)
    val factors = args.lift(1).getOrElse("1,10,100")
      .split(",").map(_.trim.toInt).toSeq
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    factors.foreach { f =>
      val n = baseN * f
      // ---- text face -------------------------------------------------
      val idx = java.nio.file.Files.createTempDirectory(s"curve-txt-$n")
        .toFile.getAbsolutePath
      val docs = syntheticDocs(spark, n).localCheckpoint()
      FullText.writeTextIndex(docs, "doc_id", "text", idx)
      val terms = Seq("h1", "h7", "w42") // two hot heads + one tail term
      val tSearch = timeMin3 {
        FullText.bm25SearchStored(spark, idx, terms).collect()
      }
      // the claim's denominators: dictionary size and matched postings
      val art = graft.io.Layout.liveArtifactDir(spark, idx)
      val dict = spark.read.parquet(s"$art/df").count()
      val matched = FullText.postingsFrame(spark, idx)
        .filter($"term".isInCollection(terms)).count()
      println(s"""{"face":"bm25SearchStored","n_docs":$n,""" +
        s""""query_s":${f"$tSearch%.3f"},"dict_terms":$dict,""" +
        s""""matched_postings":$matched}""")
      // ---- text MUTATION curve: the maintenance story, measured ----
      // The claims: append cost tracks the DELTA (fixed 1k docs →
      // flat-ish curve), delete cost tracks the batch + dictionary
      // carry (fixed 200 ids → flat-to-dictionary-sublinear), fold
      // cost is the one deliberate corpus-sized rewrite (≈ linear —
      // superlinear bend = bug). Runs AFTER the search timings so
      // the query curve measures the pristine write.
      val tAppend = timeOnce {
        FullText.appendToTextIndex(spark,
          syntheticDocs(spark, 1000L)
            .select(($"doc_id" + n + 1).as("doc_id"), $"text"),
          "doc_id", "text", idx, segmentId = Some("curve-delta"))
      }
      val tDelete = timeOnce {
        FullText.deleteFromTextIndex(spark, idx, (0L until 200L).toSeq)
      }
      val tFold = timeOnce { FullText.compactTextIndex(spark, idx) }
      println(s"""{"face":"mutation","family":"text","n_docs":$n,""" +
        s""""append1k_s":${f"$tAppend%.3f"},""" +
        s""""delete200_s":${f"$tDelete%.3f"},""" +
        s""""fold_s":${f"$tFold%.3f"}}""")
      graft.ops.Checkpoints.unpersist(docs)

      // ---- vector face -----------------------------------------------
      // cells scale with sqrt(N) (the FAISS sizing convention), so the
      // probed fraction — probes/cells — SHRINKS as the corpus grows,
      // which is the deployment shape the claim is about
      val vidx = java.nio.file.Files.createTempDirectory(s"curve-vec-$n")
        .toFile.getAbsolutePath
      val cells = math.max(16, math.sqrt(n.toDouble).toInt)
      val e = syntheticEmbeddings(spark, n).localCheckpoint()
      // pgroups = -1: force the per-cell baseline layout (auto
      // selection would switch past the ~1k-cell knee and hide the
      // curve this leg exists to measure)
      SimilarityQueries.writeIvfPqIndexFrames(e, e, vidx,
        numCells = cells, pgroups = -1)
      val eDir = java.nio.file.Files.createTempDirectory(s"curve-emb-$n")
        .toFile.getAbsolutePath
      e.write.mode("overwrite").parquet(s"$eDir/embeddings.parquet")
      val tVec = timeMin3 {
        SimilarityQueries.ivfPqSearchStored(spark, vidx, eDir).collect()
      }
      val probedRows = spark.read.parquet(s"$vidx/codes")
        .filter($"cell_id".isin(0L, 1L)).count() / 8 // 8 sub-rows/vec
      val tBrute = timeMin3 {
        SimilarityQueries.knnBruteForce(spark, eDir).collect()
      }
      println(s"""{"face":"ivfPqSearchStored","n_vecs":$n,""" +
        s""""cells":$cells,"query_s":${f"$tVec%.3f"},""" +
        s""""probed_vecs":$probedRows,""" +
        s""""brute_force_s":${f"$tBrute%.3f"}}""")
      // ---- vector MUTATION curve (pq codec): same claims as the
      // text leg — delta-bounded append (encode 1k vecs against the
      // FIXED artifacts), batch-bounded delete (the present-only
      // semi-join reads one codes pass), corpus-sized fold
      val tVAppend = timeOnce {
        SimilarityQueries.appendToIvfPqIndex(spark, vidx,
          syntheticEmbeddings(spark, 1000L)
            .select(($"vec_id" + n + 1).as("vec_id"), $"embedding"),
          segmentId = Some("curve-delta"))
      }
      val tVDelete = timeOnce {
        SimilarityQueries.deleteFromIvfPqIndex(spark, vidx,
          (0L until 200L).toSeq)
      }
      val tVFold = timeOnce {
        SimilarityQueries.compactIvfPqIndex(spark, vidx)
      }
      println(s"""{"face":"mutation","family":"vector-pq",""" +
        s""""n_vecs":$n,"append1k_s":${f"$tVAppend%.3f"},""" +
        s""""delete200_s":${f"$tVDelete%.3f"},""" +
        s""""fold_s":${f"$tVFold%.3f"}}""")
      // the round-11 finding: at ~1.4k cells the stored face is
      // LISTING-bound (one directory per cell), not data-bound. The
      // pgroup'd twin groups cells into 64 physical partitions with
      // cell_id sorted inside files — same page, directory count
      // independent of the cell count
      if (cells > 256) {
        val pidx = java.nio.file.Files
          .createTempDirectory(s"curve-vec-pg-$n").toFile.getAbsolutePath
        SimilarityQueries.writeIvfPqIndexFrames(e, e, pidx,
          numCells = cells, pgroups = 64)
        val tPg = timeMin3 {
          SimilarityQueries.ivfPqSearchStored(spark, pidx, eDir)
            .collect()
        }
        println(s"""{"face":"ivfPqSearchStored","n_vecs":$n,""" +
          s""""cells":$cells,"pgroups":64,""" +
          s""""query_s":${f"$tPg%.3f"}}""")
      }
      // ---- compaction-time re-grouping: a per-cell index that sits
      // past the listing knee (written AUTO under a raised knee —
      // the state a deployment reaches by growing after its write)
      // must fold into the pgroup'd layout at its next compaction,
      // flattening the listing-bound curve WITHOUT a manual rewrite
      if (cells > 1024) {
        val gidx = java.nio.file.Files
          .createTempDirectory(s"curve-regroup-$n").toFile.getAbsolutePath
        spark.conf.set("graft.index.codesAutoPgroupCells", "1000000")
        try SimilarityQueries.writeIvfPqIndexFrames(e, e, gidx,
          numCells = cells)
        finally spark.conf.unset("graft.index.codesAutoPgroupCells")
        val tCell = timeMin3 {
          SimilarityQueries.ivfPqSearchStored(spark, gidx, eDir)
            .collect()
        }
        SimilarityQueries.compactIvfPqIndex(spark, gidx)
        val regrouped = new java.io.File(gidx).listFiles()
          .filter(f2 => f2.isDirectory && f2.getName.startsWith("codes-v"))
          .headOption.exists(_.listFiles().filter(_.isDirectory)
            .map(_.getName).forall(_.startsWith("pgroup=")))
        val tRegroup = timeMin3 {
          SimilarityQueries.ivfPqSearchStored(spark, gidx, eDir)
            .collect()
        }
        println(s"""{"face":"compactRegroup","n_vecs":$n,""" +
          s""""cells":$cells,"regrouped":$regrouped,""" +
          s""""query_s_before":${f"$tCell%.3f"},""" +
          s""""query_s_after":${f"$tRegroup%.3f"}}""")
      }
      // ---- imi coarse × pgroup'd codes — the composition a
      // billion-vector deployment runs: cGrid = 2⁶ → 4096 logical
      // cells from 128 persisted half-centroids, codes auto-pgroup'd
      // past the listing knee (nothing forced — the DEFAULT write
      // resolves the layout). Measured end-to-end on the STORED
      // index: the single-query face (executor-independent walk) and
      // the batched msearch face (executor-side multi-sequence walk,
      // ~100 queries, ONE codes pass).
      if (cells > 256) {
        val iidx = java.nio.file.Files
          .createTempDirectory(s"curve-imi-pg-$n").toFile.getAbsolutePath
        SimilarityQueries.writeIvfPqIndexFrames(e, e, iidx,
          coarse = "imi", cGrid = 64)
        val iDirs = new java.io.File(s"$iidx/codes").listFiles()
          .filter(_.isDirectory).map(_.getName)
        val tImi = timeMin3 {
          SimilarityQueries.ivfPqSearchStored(spark, iidx, eDir,
            probes = 8).collect()
        }
        val stride = math.max(1L, n / 100) // |Q| ≈ 100
        val tMs = timeMin3 {
          SimilarityQueries.ivfPqMsearchStored(spark, iidx, eDir,
            queryStride = stride.toInt, probes = 4).collect()
        }
        println(s"""{"face":"ivfPqSearchStored","coarse":"imi",""" +
          s""""n_vecs":$n,"cgrid":64,"cells":4096,""" +
          s""""pgrouped":${iDirs.forall(_.startsWith("pgroup="))},""" +
          s""""query_s":${f"$tImi%.3f"},""" +
          s""""msearch100_s":${f"$tMs%.3f"}}""")
      }
      graft.ops.Checkpoints.unpersist(e)
    }
    spark.stop()
  }
}
