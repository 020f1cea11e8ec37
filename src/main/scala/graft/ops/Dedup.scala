package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Document-deduplication primitives for large-corpus pipelines: exact
  * content-hash, MinHash signatures + banded LSH, inverted-index exact
  * n-gram Jaccard, and SimHash — the standard near-dup toolchain for
  * training-data curation.
  *
  * Everything is built from deterministic, engine-portable primitives
  * (lowercase md5 hex, left-to-right array folds) so results are
  * bit-identical between Spark and the DuckDB oracle:
  *   - a MinHash value is the STRING minimum of fixed-width hex md5
  *     digests (same ordering as unsigned numeric, no int conversions);
  *   - band keys are md5 over the comma-joined signature slice;
  *   - SimHash uses the first 8 hex chars of md5 per token as a uint32.
  *
  * Scale notes (100 TB):
  *   - signatures are embarrassingly parallel per document — no shuffle;
  *   - LSH candidate generation shuffles on (band, band_hash) — bucket
  *     sizes are the skew knob: more bands/rows → smaller buckets;
  *   - the exact inverted-index Jaccard join shuffles one row per
  *     (shingle, doc) and explodes quadratically in shingle document
  *     frequency — use it to VERIFY candidate pairs (post-LSH) or on
  *     df-capped shingles; banded MinHash is the scan-scale path.
  */
object Dedup {

  /** Whitespace tokens of lowercased text, empties dropped. Codegen'd
    * kernel expression; `tokensHof` is the builtin-composed twin. */
  def tokens(text: Column): Column =
    graft.expressions.TextHashes.whitespaceTokens(text)

  /** Interpreted-HOF twin of `tokens` (parity pinned by
    * HashExpressionsSpec). */
  def tokensHof(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => length(t) > 0)

  /** Aggressive exact-match normalization (the Lee et al. 2022 /
    * Gopher convention for "near-exact" duplicate detection):
    * lowercase, strip everything but letters and whitespace (digits
    * AND punctuation go — a timestamped or re-punctuated reprint of a
    * page should collide), collapse whitespace runs, trim. Both
    * regexes are in the Java∩RE2 class form, so the q76 oracle
    * interpolates [[normStripPattern]]/[[normSpacePattern]] verbatim
    * (the Pii convention — engines cannot drift). Pure per-row map:
    * the dedup over md5(normalizeText) keeps q16's one-shuffle
    * shape. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), normStripPattern, ""),
      normSpacePattern, " "))

  val normStripPattern = "[^\\p{L}\\s]+"
  val normSpacePattern = "\\s+"

  /** Distinct k-token shingles joined by single spaces. Documents
    * shorter than k tokens collapse to one shingle of all tokens, so
    * every document has a non-empty shingle set. */
  def shingles(toks: Column, k: Int = 3): Column =
    graft.expressions.TextHashes.tokenShingles(toks, k)

  /** Interpreted-HOF twin of `shingles`. */
  def shinglesHof(toks: Column, k: Int = 3): Column =
    when(size(toks) >= k,
      array_distinct(transform(sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(k))))))
      .otherwise(array(concat_ws(" ", slice(toks, 1, k))))

  /** One MinHash signature element: min over shingles of
    * md5("s|" + shingle), compared as a fixed-width hex string —
    * interpreted-HOF reference form of the kernel's math. */
  def minhashElem(shingleCol: Column, s: Int): Column =
    array_min(transform(shingleCol, sh => md5(concat(lit(s"$s|"), sh))))

  /** MinHash signature: element s is min over shingles of
    * md5("s|" + shingle), compared as fixed-width hex strings. One
    * codegen'd pass over the shingles computes all elements. */
  def minhashSignature(shingleCol: Column, numHashes: Int = 16): Column =
    graft.expressions.TextHashes.minhashSignature(shingleCol, numHashes)

  /** Interpreted-HOF twin of `minhashSignature`: numHashes separate
    * array traversals with no common-subexpression elimination — kept
    * as the semantic reference the kernel is pinned against. */
  def minhashSignatureHof(shingleCol: Column, numHashes: Int = 16): Column =
    array((0 until numHashes).map(s => minhashElem(shingleCol, s)): _*)

  /** LSH band keys: md5 of the comma-joined r-element signature slice,
    * one per band. numHashes = bands * rowsPerBand. */
  def bandHashes(sig: Column, bands: Int = 4, rowsPerBand: Int = 4): Column =
    array((0 until bands).map(b =>
      md5(concat_ws(",", slice(sig, b * rowsPerBand + 1, rowsPerBand)))): _*)

  /** Band keys computed directly from the shingle set: one codegen'd
    * pass computes the signature minima and the band digests, so the
    * shingles are hashed exactly once however many bands there are. */
  def bandHashesDirect(shingleCol: Column, numHashes: Int = 16,
      bands: Int = 4): Column =
    graft.expressions.TextHashes.minhashBands(shingleCol, numHashes, bands)

  /** Interpreted-HOF twin of `bandHashesDirect` (each signature
    * element appears in exactly one band expression — already the
    * best shape available to builtins, still numHashes interpreted
    * traversals per row). */
  def bandHashesDirectHof(shingleCol: Column, numHashes: Int = 16,
      bands: Int = 4): Column = {
    val r = numHashes / bands
    array((0 until bands).map(b =>
      md5(concat_ws(",",
        (0 until r).map(i => minhashElem(shingleCol, b * r + i)): _*))): _*)
  }

  /** Exact Jaccard of two distinct-element arrays (compiled kernel;
    * `jaccardHof` is the builtin twin). */
  def jaccard(a: Column, b: Column): Column =
    graft.expressions.TextHashes.arrayJaccard(a, b)

  /** Builtin twin of `jaccard` (parity pinned by HashExpressionsSpec). */
  def jaccardHof(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** (id, shingles) → candidate near-dup pairs from banded-LSH bucket
    * collisions, verified with exact Jaccard >= threshold.
    *
    * The only shuffles are on (band, band_hash) for candidates and on
    * the id for the signature re-join; the corpus is never self-joined.
    */
  def minhashLshPairs(
      docs: DataFrame, idCol: String, shingleCol: String,
      numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.7,
      dfCap: Option[Int] = None): DataFrame = {
    val base = docs.select(col(idCol).as("id"), col(shingleCol).as("sh"))
    // Candidate generation carries ONLY (band, band_hash, id) through
    // the collision join — never the shingle arrays — and dedups pairs
    // BEFORE the (expensive) exact-Jaccard verify, so each unique pair
    // is verified once no matter how many bands it collides in.
    // posexplode_OUTER, not posexplode: the band array is never empty,
    // but plain posexplode makes InferFiltersFromGenerate add a
    // `size(bandh) > 0` filter that embeds the whole minhash tree and
    // gets pushed below the repartition — re-evaluating every hash on
    // the (single-split) scan side. outer generators get no such filter.
    val allBanded = base
      .withColumn("bandh", bandHashesDirect(col("sh"), numHashes, bands))
      .select(col("id"),
        posexplode_outer(col("bandh")).as(Seq("band", "band_hash")))
    // Optional hot-bucket guard, same contract as
    // simhashNearDupPairs64's dfCap: buckets whose occupancy exceeds
    // the cap (boilerplate/empty-doc signatures) are DROPPED from
    // candidate generation on BOTH sides, bounding any bucket's join
    // fan-out at dfCap². Trades recall for a hard cost ceiling — a
    // true pair is lost only when EVERY band it collides in is hot.
    // The gated q21/q35 run uncapped; DedupSpec pins the semantics.
    val banded = dfCap match {
      case None => allBanded
      case Some(cap) =>
        val cold = allBanded.groupBy("band", "band_hash")
          .agg(count(lit(1)).as("bucket_df"))
          .filter(col("bucket_df") <= cap)
          .select(col("band"), col("band_hash"))
        allBanded.join(cold, Seq("band", "band_hash"), "left_semi")
    }
    val candA = banded.select(col("band"), col("band_hash"),
      col("id").as("doc_a"))
    val candB = banded.select(col("band"), col("band_hash"),
      col("id").as("doc_b"))
    val pairs = candA.join(candB, Seq("band", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    val shA = base.select(col("id").as("doc_a"), col("sh").as("sh_a"))
    val shB = base.select(col("id").as("doc_b"), col("sh").as("sh_b"))
    pairs
      .join(shA, Seq("doc_a"))
      .join(shB, Seq("doc_b"))
      .withColumn("j", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("j") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("j"), 4).as("jaccard"))
  }

  /** q82 — MinHash sketch calibration: over the banded candidate
    * pairs, compare the SKETCH's similarity estimate (fraction of
    * agreeing signature elements — the unbiased MinHash estimator of
    * Jaccard) against the exact shingle Jaccard, bucketed by exact-J
    * decile — the "measure your sketch" card that tells an operator
    * whether 16 hashes are enough for their corpus before they trust
    * q21's threshold at scale (estimator stdev is √(J(1−J)/k), so
    * thin sketches blur exactly the J≈threshold buckets that decide
    * keeps). Same candidate generation as [[minhashLshPairs]] (band
    * collision join, pair-dedup before the expensive verify);
    * per-pair est/J are exact doubles (k/16 and an integer ratio),
    * their means aggregate via fixed-point sums. */
  def minhashCalibration(docs: DataFrame, idCol: String, shingleCol: String,
      numHashes: Int = 16, bands: Int = 4): DataFrame = {
    val fp = ProductQuant.fixedPointScale
    val base = docs.select(col(idCol).as("id"), col(shingleCol).as("sh"))
      .withColumn("sig", minhashSignature(col("sh"), numHashes))
    val banded = base.select(col("id"),
      posexplode_outer(bandHashesDirect(col("sh"), numHashes, bands))
        .as(Seq("band", "band_hash")))
    val pairs = banded
      .select(col("band"), col("band_hash"), col("id").as("doc_a"))
      .join(banded.select(col("band"), col("band_hash"),
        col("id").as("doc_b")), Seq("band", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    pairs
      .join(base.select(col("id").as("doc_a"), col("sh").as("sh_a"),
        col("sig").as("sig_a")), Seq("doc_a"))
      .join(base.select(col("id").as("doc_b"), col("sh").as("sh_b"),
        col("sig").as("sig_b")), Seq("doc_b"))
      .withColumn("est",
        size(filter(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => x === y), z => z)).cast("double") / numHashes)
      .withColumn("j", jaccard(col("sh_a"), col("sh_b")))
      .withColumn("bucket", least(floor(col("j") * 10), lit(9L)))
      .withColumn("est_fp", round(col("est") * fp).cast("long"))
      .withColumn("err_fp", round(abs(col("est") - col("j")) * fp)
        .cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        round((sum(col("est_fp")).cast("double") / fp) / count(lit(1)), 4)
          .as("mean_est"),
        round((sum(col("err_fp")).cast("double") / fp) / count(lit(1)), 4)
          .as("mean_abs_err"))
      .orderBy(col("bucket"))
  }

  /** q89 — containment near-dup: ONE-SIDED overlap |A∩B|/|A|
    * alongside Jaccard — the asymmetric statistic that catches a
    * short document embedded in a longer one (quote farms,
    * boilerplate-wrapped reposts), where Jaccard is diluted by the
    * big document's extra shingles and q21's threshold never fires.
    * Full-document MinHash bands under-recall exactly these
    * extreme-skew pairs (band collision probability decays with the
    * DILUTED Jaccard — the known weakness that motivates containment
    * sketches), so the operator is EXACT: an inverted-index
    * co-occurrence count (the all-pairs-similarity-search shape,
    * Bayardo et al. WWW'07 §2's baseline). The exploded (shingle, id,
    * n) index self-joins on the shingle and the per-pair match count
    * IS |A∩B| (shingle arrays are distinct by construction) — from
    * which every output statistic derives arithmetically:
    * ca = inter/n_a, cb = inter/n_b, jaccard = inter/(n_a+n_b−inter).
    * No verify join, no shingle arrays riding any shuffle: the widest
    * thing in flight is a (shingle, id, n) row, and the only shuffles
    * are the index self-join and the (doc_a, doc_b) count. (An earlier
    * prefix-filtered variant carried both documents' FULL shingle
    * arrays through two joins per surviving candidate and re-computed
    * array_intersect per pair — measured 8× slower at sf0.1 despite
    * touching fewer pairs, because the candidate set was barely
    * smaller than the co-occurrence set while each row was ~30×
    * wider.)
    *
    * Scale shape: join volume is Σ_shingle df² — bounded for real
    * corpora by dedup upstream, and by `dfCap` where boilerplate
    * shingles would otherwise explode it (drop shingles with df >
    * cap from BOTH sides: the q21/q50 hot-bucket guard; a true pair
    * is lost only if ≥ t·min(n_a,n_b) of its overlap is hot, so the
    * cap trades bounded recall for a hard df² ceiling). The guard is
    * ON BY DEFAULT (df ≤ 1000 → ≤10⁶ join rows per shingle): an
    * UNguarded inverted-index self-join is the one shape in this file
    * a boilerplate-heavy corpus can blow up quadratically, so
    * disabling the ceiling is the explicit opt-in (`dfCap = None`),
    * not the default a 100 TB run silently inherits. The gated q89
    * oracle applies the SAME df filter, so the guard can never drift
    * out of the parity check. There is deliberately NO length filter
    * — skewed sizes are the point. All ratios are exact small-integer
    * divisions; output rounds at 4dp. */
  def containmentPairs(docs: DataFrame, idCol: String, shingleCol: String,
      threshold: Double = 0.5,
      dfCap: Option[Int] = Some(1000)): DataFrame = {
    val base = docs.select(col(idCol).as("id"), col(shingleCol).as("sh"))
    val ex0 = base.select(col("id"), size(col("sh")).as("n"),
      explode_outer(col("sh")).as("shingle"))
      .filter(col("shingle").isNotNull)
    val ex = dfCap match {
      case None => ex0
      case Some(cap) =>
        val cold = ex0.groupBy(col("shingle"))
          .agg(count(lit(1)).as("_df"))
          .filter(col("_df") <= cap)
          .select(col("shingle"))
        ex0.join(cold, Seq("shingle"), "left_semi")
    }
    ex.select(col("shingle"), col("id").as("doc_a"), col("n").as("n_a"))
      .join(ex.select(col("shingle"), col("id").as("doc_b"),
        col("n").as("n_b")), Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("ca", col("inter").cast("double") / col("n_a"))
      .withColumn("cb", col("inter").cast("double") / col("n_b"))
      .filter(greatest(col("ca"), col("cb")) >= threshold)
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")), 4).as("jaccard"),
        round(col("ca"), 4).as("containment_a"),
        round(col("cb"), 4).as("containment_b"))
  }

  /** INCREMENTAL near-dup: a NEW batch's documents collide against
    * the existing corpus's band index plus the batch itself — the
    * dedup face of the engine's incremental-merge contract (J5/J6's
    * "0.1% delta pays 0.1%"): per batch, only new documents are
    * hashed and exploded; the old side is the (band, band_hash, id)
    * index a deployment PERSISTS at index time (derived here from
    * `oldDocs` so the operator is self-contained — the q32
    * prior-output-as-cache convention) and is touched only by the
    * collision join. Running batches through this operator reproduces
    * EXACTLY the full-batch pair set restricted to doc_b in the new
    * batch (old↔old pairs were prior batches' outputs), which
    * DedupSpec pins. Ids should be append-ordered (new ids > old ids,
    * the A5 watermark convention): with interleaved ids a new↔old
    * pair whose LARGER id is old belongs to no batch's doc_b side and
    * is reported by no batch — append-only ids make that case
    * impossible.
    *
    * Output matches [[minhashLshPairs]]: (doc_a, doc_b, jaccard) with
    * doc_b always a new-batch document. */
  def minhashLshPairsIncremental(
      oldDocs: DataFrame, newDocs: DataFrame,
      idCol: String, shingleCol: String,
      numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.7): DataFrame = {
    def prep(d: DataFrame) =
      d.select(col(idCol).as("id"), col(shingleCol).as("sh"))
    val oldBase = prep(oldDocs)
    // the stored-index stand-in: derived here from oldDocs so the
    // operator is self-contained; the against-index form below takes
    // the PERSISTED artifacts and never re-hashes the old side
    val oldBands = oldBase
      .withColumn("bandh", bandHashesDirect(col("sh"), numHashes, bands))
      .select(col("id"),
        posexplode_outer(col("bandh")).as(Seq("band", "band_hash")))
    minhashLshPairsAgainstIndex(oldBands, oldBase, prep(newDocs),
      "id", "sh", numHashes, bands, threshold)
  }

  /** The deploy/streaming face of [[minhashLshPairsIncremental]]: the
    * old side arrives as its PERSISTED artifacts — the (id, band,
    * band_hash) band index plus the (id, sh) shingle store — so a
    * batch pays hashing/exploding ONLY for its own rows; the stored
    * corpus is touched by the collision join (on its index) and the
    * verify join (fetching shingles for colliding pairs), never by
    * the hash kernels. Semantics are identical to the self-contained
    * form (DedupSpec pins frame equality), and the new batch's
    * admitted rows' bands/shingles are exactly what a caller appends
    * back to the two artifacts (streaming.Streams.nearDupAdmission
    * does). `bandIndex` columns: (id, band, band_hash); `oldShingles`
    * columns: (id, sh). */
  def minhashLshPairsAgainstIndex(
      bandIndex: DataFrame, oldShingles: DataFrame, newDocs: DataFrame,
      idCol: String, shingleCol: String,
      numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.7): DataFrame = {
    val newBase = newDocs.select(col(idCol).as("id"),
      col(shingleCol).as("sh"))
    def banded(base: DataFrame) = base
      .withColumn("bandh", bandHashesDirect(col("sh"), numHashes, bands))
      .select(col("id"),
        posexplode_outer(col("bandh")).as(Seq("band", "band_hash")))
    val newBanded = banded(newBase)
    // stored index ∪ the new batch's bands
    val index = bandIndex.select(col("id"), col("band"), col("band_hash"))
      .unionByName(newBanded)
    val pairs = index
      .select(col("band"), col("band_hash"), col("id").as("doc_a"))
      .join(newBanded.select(col("band"), col("band_hash"),
        col("id").as("doc_b")), Seq("band", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    val shA = oldShingles.select(col("id"), col("sh")).unionByName(newBase)
      .select(col("id").as("doc_a"), col("sh").as("sh_a"))
    val shB = newBase.select(col("id").as("doc_b"), col("sh").as("sh_b"))
    pairs
      .join(shA, Seq("doc_a"))
      .join(shB, Seq("doc_b"))
      .withColumn("j", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("j") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("j"), 4).as("jaccard"))
  }

  /** The live (bands, shingles) directories of a persisted near-dup
    * index ([[minhashLshPairsAgainstIndex]]'s artifacts): the live
    * generation's `bands-v<gen>`/`shingles-v<gen>`, or the root
    * `bands`/`shingles` of an index no fold has committed yet (the
    * flat layout the admission stream starts with). Every reader and
    * appender resolves through here — the admission stream's probe
    * and in-place append, [[compactBandIndex]], RunStatus and
    * RunCompact's family detection. */
  def liveBandDirs(spark: SparkSession,
      indexDir: String): (String, String) =
    graft.io.Layout.liveGeneration(spark, indexDir) match {
      case Some(g) => (s"$indexDir/bands-v$g", s"$indexDir/shingles-v$g")
      case None => (s"$indexDir/bands", s"$indexDir/shingles")
    }

  /** Maintenance compactor for the persisted near-dup index artifacts
    * (the ones streaming.Streams.nearDupAdmissionStream appends to):
    * an at-least-once replayed batch re-appends byte-identical (id,
    * band, band_hash) and (id, sh) rows — verdict-neutral (pairs are
    * distinct-ed before the verify) but dead weight in every future
    * collision scan, so like any append-only log the artifacts want a
    * scheduled rewrite. Dedups bands on the full (id, band, band_hash)
    * key and shingles to one row per id (replays are identical by
    * construction — there is nothing to merge, only to drop).
    *
    * Commits like the text fold ([[FullText.compactTextIndex]]): the
    * deduped artifacts stage into token-unique `bands-v<gen>` /
    * `shingles-v<gen>` dirs and ONE `_COMMITTED` marker on `gen-<gen>`
    * makes them live ([[graft.io.Layout.commitGenerationAndRetire]] —
    * lease fence, side renames, marker). A crash anywhere before the
    * marker leaves the previous generation (or the flat root dirs)
    * serving; the leftovers are invisible and reclaimed by the next
    * fold or RunGc. Superseded band dirs are reclaimed after the
    * commit, keeping those of generations `graft.index
    * .retainGenerations` retains. The fold runs under [[graft.io
    * .Layout.withMutationLease]], the lease the admission stream's
    * batch body also holds.
    *
    * Returns ((bandsBefore, bandsAfter), (shinglesBefore,
    * shinglesAfter)) row counts — the reclaimed-volume observable
    * DedupSpec pins. */
  def compactBandIndex(spark: SparkSession,
      indexDir: String): ((Long, Long), (Long, Long)) =
    graft.io.Layout.withMutationLease(spark, indexDir) {
      compactBandIndexImpl(spark, indexDir)
    }

  private def compactBandIndexImpl(spark: SparkSession,
      indexDir: String): ((Long, Long), (Long, Long)) = {
    gcBandDirs(spark, indexDir) // crashed predecessors' leftovers
    val (liveBands, liveShingles) = liveBandDirs(spark, indexDir)
    if (!graft.io.Layout.pathExists(spark, liveBands))
      return ((0L, 0L), (0L, 0L))
    val next = graft.io.Layout.openGeneration(spark, indexDir,
      gen => Seq(s"bands-v$gen", s"shingles-v$gen"))
    // fold one artifact into its staged side dir; the (staged, final)
    // rename and the row counts, or None when the artifact is absent
    def foldInto(src: String, side: (String, String),
        dedup: DataFrame => DataFrame): Option[((String, String), (Long, Long))] =
      if (!graft.io.Layout.pathExists(spark, src)) None
      else {
        val before = spark.read.parquet(src)
        val nBefore = before.count()
        dedup(before).write.parquet(s"$indexDir/${side._1}")
        Some(side -> (nBefore,
          spark.read.parquet(s"$indexDir/${side._1}").count()))
      }
    val Seq(bandsSide, shinglesSide) = next.sides
    val bandsFold = foldInto(liveBands, bandsSide, _.distinct())
    val shinglesFold =
      foldInto(liveShingles, shinglesSide, _.dropDuplicates("id"))
    // the generation dir carries only the marker: the band dirs are
    // named by their generation, so no manifest is needed
    new org.apache.hadoop.fs.Path(next.dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .mkdirs(new org.apache.hadoop.fs.Path(next.dir))
    graft.io.Layout.commitGenerationAndRetire(spark, indexDir, next.dir,
      next.gen, graft.io.Layout.liveArtifactDir(spark, indexDir),
      sideRenames = Seq(bandsFold, shinglesFold).flatten.map(_._1))
    gcBandDirs(spark, indexDir)
    (bandsFold.fold((0L, 0L))(_._2), shinglesFold.fold((0L, 0L))(_._2))
  }

  /** Reclaim band dirs no retained committed generation serves:
    * superseded `bands-v<g>`/`shingles-v<g>` folds, a crashed fold's
    * staged or renamed leftovers, and the root flat dirs once a fold
    * has committed. Idempotent; called around every fold. */
  private def gcBandDirs(spark: SparkSession, indexDir: String): Unit = {
    val gens = graft.io.Layout.committedGenerations(spark, indexDir)
    val live =
      if (gens.isEmpty) Set("bands", "shingles")
      else gens.flatMap(g => Seq(s"bands-v$g", s"shingles-v$g")).toSet
    val p = new org.apache.hadoop.fs.Path(indexDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return
    fs.listStatus(p).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && !live.contains(n) &&
          Seq("bands", "shingles")
            .exists(k => n == k || n.startsWith(s"$k-v")))
        fs.delete(st.getPath, true)
    }
  }

  /** Exact all-pairs n-gram Jaccard via an inverted shingle index:
    * |A∩B| from the per-shingle self-join, |A∪B| = |A|+|B|-|A∩B|.
    * Exact but fan-out is quadratic in shingle document frequency —
    * see scaladoc above for when to prefer LSH. */
  def invertedIndexJaccard(
      docs: DataFrame, idCol: String, shingleCol: String,
      threshold: Double = 0.5): DataFrame = {
    // The per-shingle self-join rows carry only (shingle, id) — set
    // sizes join back in afterwards from a per-doc dimension (tiny,
    // broadcast) instead of riding every fan-out row through the agg.
    // explode_outer for the same InferFiltersFromGenerate reason as in
    // minhashLshPairs; shingle sets are non-empty by construction and
    // a null shingle row cannot survive the equi-join anyway.
    val ex = docs.select(col(idCol).as("id"),
      explode_outer(col(shingleCol)).as("shingle"))
    val sizes = docs.select(col(idCol).as("id"),
      size(col(shingleCol)).as("n"))
    val a = ex.select(col("shingle"), col("id").as("doc_a"))
    val b = ex.select(col("shingle"), col("id").as("doc_b"))
    a.join(b, Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(broadcast(sizes.select(col("id").as("doc_a"),
        col("n").as("n_a"))), Seq("doc_a"))
      .join(broadcast(sizes.select(col("id").as("doc_b"),
        col("n").as("n_b"))), Seq("doc_b"))
      .withColumn("j", col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .filter(col("j") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("j"), 4).as("jaccard"))
  }

  /** Exact all-pairs Jaccard with PREFIX FILTERING (the PPJoin-family
    * optimization): under a global shingle order (ascending document
    * frequency, then value), two sets with J ≥ t must share at least
    * one shingle among each one's first |A| − ⌈t·|A|⌉ + 1 — so only
    * those prefixes are indexed. Rare shingles lead the order, so the
    * candidate join fans out on low-df keys instead of every
    * co-occurrence; results are identical to invertedIndexJaccard.
    *
    * Shuffles: df-count (map-side combined), the rank window on id,
    * the prefix self-join, and the verify joins — all on keys that
    * partition evenly; the quadratic-in-df blowup is confined to the
    * rarest shingles. */
  def prefixFilterJaccard(
      docs: DataFrame, idCol: String, shingleCol: String,
      threshold: Double = 0.5): DataFrame = {
    val base = docs.select(col(idCol).as("id"), col(shingleCol).as("sh"))
    // drop null shingle entries before ranking — the inverted-index
    // form's equi-join discards them implicitly, and a null would rank
    // first in the prefix window and displace a real shingle.
    // The prefix phase keys on xxhash64(shingle), NOT the shingle
    // string (guide §2.3 — shuffle keys, never payloads): the df
    // window, the rank window and the candidate self-join all shuffle
    // the exploded (corpus × shingles) rows, and an 8-byte long
    // replaces a multi-word k-gram string in every one of them. The
    // prefix-filter theorem is LOSSLESS under ANY consistent global
    // order — (df, hash) ascending is one — and a 64-bit collision
    // can only MERGE two shingles' identities (higher df, earlier
    // join match): a candidate superset, never a miss; the exact
    // array-jaccard verify below decides every pair either way, so
    // the output is unchanged (DedupSpec pins equality with the
    // naive join).
    val ex = base.select(col("id"), size(col("sh")).as("n"),
      explode_outer(col("sh")).as("shingle"))
      .filter(col("shingle").isNotNull)
      .select(col("id"), col("n"), xxhash64(col("shingle")).as("shingle"))
    // Document frequency via an unordered window over (shingle): one
    // shuffle of the exploded rows, versus the groupBy+join form's
    // separate aggregate shuffle plus a re-shuffle of the same rows
    // for the join — identical counts, one fewer pass over the
    // (corpus × shingles) row set.
    val wDf = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shingle"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("_df").asc, col("shingle").asc)
    val prefix = ex.withColumn("_df", count(lit(1)).over(wDf))
      .withColumn("_rank", row_number().over(w))
      .filter(col("_rank") <=
        col("n") - ceil(lit(threshold) * col("n")) + 1)
      .select(col("shingle"), col("id"), col("n"))
    // PPJoin length filter: J(A,B) ≤ min(|A|,|B|) / max(|A|,|B|), so a
    // pair with min < t·max can never verify — prune it BEFORE the
    // pair-distinct and the shingle-array verify join. Lossless by the
    // inequality; DedupSpec proves output equality with the naive join.
    val candidates = prefix.as("a")
      .join(prefix.as("b"), Seq("shingle"))
      .filter(col("a.id") < col("b.id") &&
        least(col("a.n"), col("b.n")).cast("double") >=
          lit(threshold) * greatest(col("a.n"), col("b.n")).cast("double"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .distinct()
    val shA = base.select(col("id").as("doc_a"), col("sh").as("sh_a"))
    val shB = base.select(col("id").as("doc_b"), col("sh").as("sh_b"))
    candidates
      .join(shA, Seq("doc_a"))
      .join(shB, Seq("doc_b"))
      .withColumn("j", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("j") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("j"), 4).as("jaccard"))
  }

  /** Connected components over a near-dup pair graph — the cluster
    * step of dedup canonicalization (pairs say "these two match";
    * clusters say "keep one of these N"). Iterative min-label
    * propagation: each round every node takes the minimum label among
    * itself and its neighbors, until no label changes; rounds needed =
    * graph diameter, which for near-dup clusters is tiny. Each round
    * is one join + aggregate on the edge list — the standard
    * large-scale CC shape (label exchange only, never payloads).
    *
    * @param pairs (doc_a, doc_b) edges
    * @return (doc_id, cluster_id) for every endpoint, cluster_id =
    *         min doc id reachable; singletons (docs with no pair) are
    *         not emitted — callers treat absence as its own cluster.
    */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    val edges = pairs
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
      .unionByName(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
      .distinct()
      // localCheckpoint (eager) materializes AND truncates lineage, so
      // every round's plan starts from a materialized RDD instead of
      // replaying an ever-deeper join DAG — without it the driver
      // re-plans (and the convergence count re-executes) the whole
      // history each round, which melts down on high-diameter graphs.
      // Blocks live in executor storage only: on a cluster with
      // executor churn, swap in reliable `checkpoint()` (HDFS-backed)
      // every k rounds — the standard iterative-graph tradeoff; local
      // is right for the common 2-4-round near-dup diameters.
      .localCheckpoint()
    var labels = edges.select(col("u").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint()
    var changed = 1L
    while (changed > 0) {
      val nbrMin = edges
        .join(labels.select(col("id").as("v"), col("label").as("vl")),
          Seq("v"))
        .groupBy(col("u"))
        .agg(min(col("vl")).as("nbr_min"))
      // Carry (label, old) through one checkpointed materialization:
      // the convergence count then reads the materialized rows instead
      // of re-running the join — exactly one shuffle job per round.
      val next = labels
        .select(col("id"), col("label"))
        .join(nbrMin.select(col("u").as("id"), col("nbr_min")), Seq("id"),
          "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbr_min"), col("label")))
            .as("label"),
          col("label").as("old"))
        .localCheckpoint()
      changed = next.filter(col("label") < col("old")).count()
      // `next` is already materialized (eager checkpoint), so the
      // previous round's blocks are dead — free them now instead of
      // letting every round's full label frame pile up in executor
      // storage for the rest of the session (O(diameter) copies of
      // the vertex set; the retention that OOMs long sessions).
      Checkpoints.unpersist(labels)
      labels = next
    }
    // Converged: nothing reads the edge list again.
    Checkpoints.unpersist(edges)
    // The final round's frame stays materialized — it IS the result
    // the (lazy) caller will scan; freeing it here would discard
    // non-recomputable rows. Callers done with the frame can release
    // this last copy via Checkpoints.unpersist.
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** 32-bit SimHash over (repeated) tokens: per bit, tokens vote
    * +1/-1 by their md5-uint32 bit; the bit is set when the vote is
    * positive. Bit-identical to the DuckDB formulation (same md5
    * prefix, same integer division). Codegen'd kernel. */
  def simhash32(toks: Column): Column =
    graft.expressions.TextHashes.simhash32(toks)

  /** 64-bit SimHash (first 16 md5 hex chars as a big-endian uint64 per
    * token; bit 63 set renders the Long negative — treat as raw bits).
    * High 32 bits coincide with [[simhash32]] by construction.
    * Codegen'd kernel. */
  def simhash64(toks: Column): Column =
    graft.expressions.TextHashes.simhash64(toks)

  /** (id, simhash) → near-dup pairs with Hamming distance <= maxHamming,
    * via Hamming-band LSH: the 32-bit fingerprint is split into `bands`
    * equal bit slices and pairs collide on ANY identical slice. By
    * pigeonhole, a pair within Hamming distance d has at least one
    * untouched slice whenever d < bands, so for maxHamming <= bands - 1
    * the banded join returns EXACTLY the pairs an all-pairs Hamming
    * scan would (the DuckDB oracle runs that scan) — without ever
    * self-joining the corpus.
    *
    * Shuffles: one on (band, band_val) for candidates, one pair-dedup.
    * Unlike `minhashLshPairs` there is no verify re-join: the
    * fingerprint is 4 bytes, so it rides through the collision join
    * and the exact Hamming check is a bit_count on the spot.
    *
    * Scale: with a 32-bit fingerprint, 8-bit slices give only 256
    * buckets per band — fine per-partition, but a corpus-scale
    * candidate set grows ~N²/256 per band. Use
    * [[simhashNearDupPairs64]] (64-bit fingerprint, 16-bit slices =
    * 65k buckets, optional df-cap) for anything beyond a partition;
    * this 32-bit form is kept for its cheaper fingerprint and its
    * oracle (q44).
    */
  def simhashNearDupPairs(
      docs: DataFrame, idCol: String, simhashCol: String,
      maxHamming: Int = 2, bands: Int = 4): DataFrame =
    simhashBandedPairs(docs, idCol, simhashCol, bits = 32,
      maxHamming = maxHamming, bands = bands, dfCap = None)

  /** 64-bit twin of `simhashNearDupPairs` — the corpus-scale default.
    * With bands = 4 the slices are 16 bits wide, so each band hashes
    * into 65,536 buckets instead of the 32-bit form's 256: candidate
    * volume per band is ~N²/65k rather than ~N²/256, which is the
    * difference between a bucketed join and a disguised cross join as
    * the corpus grows. Exactness is the same pigeonhole argument
    * (maxHamming < bands ⇒ every qualifying pair shares at least one
    * untouched slice).
    *
    * `dfCap`: optional per-bucket document-frequency cap. Buckets
    * whose occupancy exceeds the cap (degenerate slices — e.g. the
    * all-zeros slice of boilerplate-heavy corpora) are DROPPED from
    * candidate generation, bounding any bucket's join contribution at
    * dfCap². This deliberately trades exactness for a hard cost
    * ceiling: a true pair is lost only if EVERY band with an untouched
    * slice lands in a hot bucket. The gated query runs uncapped;
    * DedupSpec pins the capped semantics. */
  def simhashNearDupPairs64(
      docs: DataFrame, idCol: String, simhashCol: String,
      maxHamming: Int = 3, bands: Int = 4,
      dfCap: Option[Int] = None): DataFrame =
    simhashBandedPairs(docs, idCol, simhashCol, bits = 64,
      maxHamming = maxHamming, bands = bands, dfCap = dfCap)

  /** (id, sh, band, band_val) — one row per fingerprint slice, the
    * Hamming-band LSH bucketing both pair variants join on. Public so
    * bucket-cardinality behavior is testable through the real code
    * path (DedupSpec pins that 16-bit slices keep scaling where 8-bit
    * slices saturate at 256 values per band). */
  def simhashBands(
      docs: DataFrame, idCol: String, simhashCol: String,
      bits: Int, bands: Int): DataFrame = {
    require(bits == 32 || bits == 64, s"bits must be 32 or 64: $bits")
    require(bands > 0 && bits % bands == 0,
      s"bands must divide $bits: $bands")
    val width = bits / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val base = docs.select(col(idCol).as("id"),
      col(simhashCol).cast("long").as("sh"))
    // posexplode_outer for the same reason as minhashLshPairs: outer
    // generators get no InferFiltersFromGenerate size()-filter pushed
    // below the upstream repartition.
    // shiftrightunsigned: bit 63 of a 64-bit fingerprint sets the
    // Long's sign, and an arithmetic shift would smear it across the
    // top band's slice value.
    // coalesce(-1): makes the slice NON-NULLABLE so the candidate
    // join's constraint inference has no isnotnull(band_val) to
    // derive — without it, InferFiltersFromConstraints rewrites that
    // into isnotnull(simhash(tokens(text))) and predicate pushdown
    // carries it below the upstream repartition, where the fingerprint
    // kernel is then evaluated a SECOND time per row on the scan side
    // (caught in the round-6 plan audit, PLANS.md). −1 is outside the
    // masked slice range so it cannot collide with a real value; a
    // null fingerprint (null text) puts −1 in every band on both
    // sides, and any resulting self-pairs die in the Hamming filter
    // (null xor → null ≤ d → dropped), so output is unchanged.
    base.select(col("id"), col("sh"),
      posexplode_outer(array((0 until bands).map(b =>
        coalesce(shiftrightunsigned(col("sh"), b * width)
          .bitwiseAND(lit(mask)), lit(-1L))): _*))
        .as(Seq("band", "band_val")))
  }

  private def simhashBandedPairs(
      docs: DataFrame, idCol: String, simhashCol: String,
      bits: Int, maxHamming: Int, bands: Int,
      dfCap: Option[Int]): DataFrame = {
    require(maxHamming < bands,
      s"banding is only exact for maxHamming < bands " +
        s"(got maxHamming=$maxHamming, bands=$bands)")
    val banded = simhashBands(docs, idCol, simhashCol, bits, bands)
    // df-cap: one extra aggregation on the SAME (band, band_val) key
    // the candidate join shuffles on, so AQE colocates it; hot-bucket
    // pruning must happen on both join sides to keep pairs symmetric.
    val kept = dfCap match {
      case None => banded
      case Some(cap) =>
        val df = banded.groupBy("band", "band_val")
          .agg(count(lit(1)).as("bucket_df"))
          .filter(col("bucket_df") <= cap)
          .select(col("band"), col("band_val"))
        banded.join(df, Seq("band", "band_val"), "left_semi")
    }
    val candA = kept.select(col("band"), col("band_val"),
      col("id").as("doc_a"), col("sh").as("sh_a"))
    val candB = kept.select(col("band"), col("band_val"),
      col("id").as("doc_b"), col("sh").as("sh_b"))
    candA.join(candB, Seq("band", "band_val"))
      .filter(col("doc_a") < col("doc_b"))
      // sh_a/sh_b are functions of the ids, so this is pair-dedup.
      .select(col("doc_a"), col("doc_b"), col("sh_a"), col("sh_b"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long"))
      // Null-TOLERANT threshold guard (null hamming → MaxValue →
      // dropped, same result as a plain <=): a bare `hamming <=
      // maxHamming` is null-intolerant, so constraint inference
      // derives isnotnull(sh_a/sh_b), substitutes the fingerprint
      // expression, and pushes `isnotnull(simhash(tokens(text)))`
      // below the repartition — evaluating the kernel twice per row
      // (round-6 plan audit). Catalyst still folds this predicate
      // into the collision join's condition for early pruning.
      .filter(coalesce(col("hamming"), lit(Long.MaxValue)) <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** Interpreted-HOF twin of `simhash32` (single-fold 32-wide vote
    * accumulator — the best builtin shape, still interpreted).
    * `hexOffset` selects which 8 md5 hex chars feed the per-token
    * uint32 (1 = simhash32's; 9 = the LOW half of simhash64, whose
    * high half is simhash32 itself — together the two offsets pin the
    * 64-bit kernel against this interpreted form). */
  def simhash32Hof(toks: Column, hexOffset: Int = 1): Column = {
    val hashes = transform(toks, t =>
      conv(substring(md5(t), hexOffset, 8), 16, 10).cast("long"))
    // bit i of h: floor(h / 2^i) % 2 — division by a power of two is
    // exact in doubles for h < 2^32, and identical in DuckDB.
    def bitOf(h: Column, i: Column): Column =
      pmod(floor(h.cast("double") / pow(lit(2.0), i.cast("double")))
        .cast("long"), lit(2L))
    // Single pass over tokens with a 32-wide vote accumulator: the
    // naive bit-outer/token-inner nesting re-evaluates the md5 hash
    // array once per bit (HOF subtrees get no common-subexpression
    // elimination) — 32× the hashing work for identical votes.
    val votes = aggregate(
      hashes,
      array_repeat(lit(0L), 32),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(31)),
        (a, i) => a + when(bitOf(h, i) === 1L, 1L).otherwise(-1L)))
    aggregate(
      zip_with(votes, sequence(lit(0), lit(31)),
        (v, i) => when(v > 0L,
          floor(pow(lit(2.0), i.cast("double"))).cast("long"))
          .otherwise(0L)),
      lit(0L), (acc, x) => acc + x)
  }
}
