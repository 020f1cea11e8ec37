package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{Layout, Tables}
import graft.io.Layout.liveArtifactDir
import graft.ops.{Ann, ProductQuant}

/** Similarity search over the `embeddings` table (`Array[Float]`, 64-d).
  *
  * Brute-force cosine top-k is the correctness baseline: the query
  * vector is broadcast, the scan is embarrassingly parallel, and the
  * top-k is a TakeOrdered (no full sort, no shuffle of the fact table).
  * At 100 TB the same plan holds — broadcast the (small) query set,
  * scan the corpus once; the LSH-bucketed variant in Dedup/ANN cuts the
  * candidate set when the query side is itself large.
  *
  * All arithmetic is double-precision, accumulated in array order with
  * the same `dot / (sqrt(nx) * sqrt(ny))` shape DuckDB's
  * `list_cosine_similarity` uses, so the oracle comparison is exact.
  */
object SimilarityQueries {

  /** Σ aᵢ·bᵢ accumulated left-to-right in doubles: the codegen'd
    * native expression (bit-identical to the interpreted
    * aggregate(zip_with(...)) form, see FloatVectorDot scaladoc). */
  private def dot(a: Column, b: Column): Column =
    graft.expressions.FloatVectorDot.dot(a, b)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** The norm factor sqrt(Σx²) — precompute it once per vector before
    * a pair join; `cosine(a,b)` ≡ `dot(a,b) / (norm(a) * norm(b))`
    * bit-for-bit (identical operations, hoisted out of the O(n²)
    * loop). */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Brute-force cosine top-k neighbors of one query vector. */
  def knnBruteForce(spark: SparkSession, dir: String, queryId: Long = 0L,
      k: Int = 10): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
    val q = e.filter($"vec_id" === queryId)
      .select($"embedding".as("q_embedding"))
    e.filter($"vec_id" =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("cos_full", cosine($"embedding", $"q_embedding"))
      .orderBy($"cos_full".desc, $"vec_id".asc)
      .limit(k)
      .select($"vec_id", round($"cos_full", 4).as("cosine"))
  }

  /** Embedding near-dup baseline: brute-force all-pairs cosine, top-k
    * most-similar pairs. The quadratic pair scan is the recall oracle
    * for the LSH-bucketed variant below — at corpus scale run THAT; at
    * verification scale run this. */
  def topKPairs(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    import spark.implicits._
    // the streamed join side must be split across cores — the test
    // table is a single input split (conditional, see Tables scaladoc)
    val e = Tables.embeddingsDistributed(spark, dir)
      .select($"vec_id", $"embedding", norm($"embedding").as("nrm"))
    val a = e
      .select($"vec_id".as("vec_a"), $"embedding".as("emb_a"),
        $"nrm".as("nrm_a"))
    val b = e.select($"vec_id".as("vec_b"), $"embedding".as("emb_b"),
      $"nrm".as("nrm_b"))
    a.join(b, $"vec_a" < $"vec_b")
      .withColumn("cos_full", dot($"emb_a", $"emb_b") / ($"nrm_a" * $"nrm_b"))
      .orderBy($"cos_full".desc, $"vec_a".asc, $"vec_b".asc)
      .limit(k)
      .select($"vec_a", $"vec_b", round($"cos_full", 4).as("cosine"))
  }

  /** ANN top-k via deterministic random-hyperplane LSH: only vectors
    * in the query's bucket are scored (candidate set ~ N/2^planes). */
  def annLshKnn(spark: SparkSession, dir: String, queryId: Long = 0L,
      k: Int = 10, numPlanes: Int = 4): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
      .withColumn("bucket", Ann.bucket($"embedding", numPlanes))
    val q = e.filter($"vec_id" === queryId)
      .select($"embedding".as("q_embedding"), $"bucket".as("q_bucket"))
    e.join(broadcast(q), $"bucket" === $"q_bucket")
      .filter($"vec_id" =!= queryId)
      .withColumn("cos_full", cosine($"embedding", $"q_embedding"))
      .orderBy($"cos_full".desc, $"vec_id".asc)
      .limit(k)
      .select($"vec_id", round($"cos_full", 4).as("cosine"))
  }

  /** Multi-probe ANN top-k (the classic recall lift for hyperplane
    * LSH): the query scores its own bucket PLUS the `numPlanes`
    * buckets at Hamming distance 1 — one hyperplane flip each — so a
    * neighbor on the wrong side of a single plane is still found.
    * Candidate set ≈ (planes+1)/2^planes of the corpus instead of
    * 1/2^planes, still with zero corpus-side shuffle: the probe list
    * is planes+1 broadcast rows and each vector joins at most one
    * probe (probe buckets are distinct). Recall oracle is exact q19. */
  def annMultiProbeKnn(spark: SparkSession, dir: String,
      queryId: Long = 0L, k: Int = 10, numPlanes: Int = 4): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
      .withColumn("bucket", Ann.bucket($"embedding", numPlanes))
    val q = e.filter($"vec_id" === queryId)
      .select($"embedding".as("q_embedding"), $"bucket".as("q_bucket"))
    // flip 0 = the home bucket itself, then one bit per plane
    val flips = typedLit(0L +: (0 until numPlanes).map(p => 1L << p))
    val probes = q
      .select($"q_embedding", $"q_bucket", explode(flips).as("flip"))
      .select($"q_embedding",
        $"q_bucket".bitwiseXOR($"flip").as("q_probe"))
    e.join(broadcast(probes), $"bucket" === $"q_probe")
      .filter($"vec_id" =!= queryId)
      .withColumn("cos_full", cosine($"embedding", $"q_embedding"))
      .orderBy($"cos_full".desc, $"vec_id".asc)
      .limit(k)
      .select($"vec_id", round($"cos_full", 4).as("cosine"))
  }

  /** IVF-style ANN: vectors are assigned to their nearest of
    * `numCentroids` coarse centroids (deterministic seed vectors so
    * both engines derive identical cells — a k-means refinement would
    * slot in unchanged); a query probes only the `probes` nearest
    * cells. Assignment is one broadcast pass over the corpus; the
    * search scans ~probes/numCentroids of the data. */
  def ivfKnn(spark: SparkSession, dir: String, queryId: Long = 0L,
      k: Int = 10, numCentroids: Int = 16, probes: Int = 2): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val cents = seedCells(e, numCentroids)
    val assigned = assignToCells(e, cents)
    val q = e.filter($"vec_id" === queryId)
      .select($"embedding".as("qemb"))
    val probe = probeTop(cents, q, probes)
    e.join(assigned.join(broadcast(probe), Seq("cent_id")), Seq("vec_id"))
      .filter($"vec_id" =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("cos_full", cosine($"embedding", $"qemb"))
      .orderBy($"cos_full".desc, $"vec_id".asc)
      .limit(k)
      .select($"vec_id", round($"cos_full", 4).as("cosine"))
  }

  /** The IVF building blocks, shared by q34/q39/q55 so the three
    * cells/assignment/probe stanzas cannot drift apart. */
  /** Static IVF cells: the `n` smallest vec_ids' embeddings, ranked
    * 0..n-1 (the trainCodebooks seeding convention — `vec_id < n`
    * would silently yield fewer cells on id spaces not covering
    * 0..n-1; for the 0-based dense ids of the driver tables the rank
    * IS the id, so oracles are unchanged). */
  private def seedCells(e: DataFrame, n: Int): DataFrame = {
    import e.sparkSession.implicits._
    e.select($"vec_id", $"embedding").orderBy($"vec_id").limit(n)
      .select(
        (row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy($"vec_id")) - 1).cast("long").as("cent_id"),
        $"embedding".as("cemb"))
  }

  /** The per-row cell-assignment COLUMN over a collected cells table
    * (guide §2.4): the cells table is bounded by config, so it
    * collects once into the compiled argmax kernel and callers append
    * `cent_id` to the corpus frame IN PLACE instead of joining a
    * (vec_id → cent_id) frame back on — the former
    * crossJoin(broadcast) + groupBy shape paid a full corpus-keyed
    * exchange per assignment just to collapse the ×cells fan-out.
    * Scoring is the same bare cosine (NaN on a zero norm, ranked
    * NaN-greatest — Spark's double ordering); tie-break stays best
    * cosine, then SMALLEST cent_id. Null only when the cells table is
    * empty. */
  private def cellAssignmentCol(cells: DataFrame): Column = {
    val books: ProductQuant.Books = IndexedSeq(
      cells.select(col("cent_id"), col("cemb")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1)))
        .sortBy(_._1).toSeq)
    graft.expressions.ArgMaxCosine.argmax(
      col("embedding"), lit(0), books, guardZero = false)
  }

  private def assignToCells(e: DataFrame, cells: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    e.select($"vec_id", cellAssignmentCol(cells).as("cent_id"))
      // an EMPTY cells table assigned nothing under the old crossJoin
      // shape (no rows, not null cells) — keep that contract
      .filter($"cent_id".isNotNull)
  }

  private def probeTop(cells: DataFrame, qemb: DataFrame,
      probes: Int): DataFrame = {
    import cells.sparkSession.implicits._
    cells.crossJoin(broadcast(qemb))
      .withColumn("qcos", cosine($"cemb", $"qemb"))
      .orderBy($"qcos".desc, $"cent_id".asc)
      .limit(probes)
      .select($"cent_id")
  }

  /** The ADC shortlist shared by q52/q55: fixed-point order-
    * independent sum of table lookups, optional cell restriction,
    * zero-norm-safe cosine, deterministic rounded-score boundary. */
  private def adcShortlist(codes: DataFrame, adc: DataFrame,
      norms: DataFrame, qn: DataFrame, queryId: Long, shortlist: Int,
      restrictTo: Option[DataFrame] = None): DataFrame = {
    import codes.sparkSession.implicits._
    val base = restrictTo.fold(codes)(ids =>
      codes.join(ids, Seq("vec_id"), "left_semi"))
    base.join(broadcast(adc), Seq("sub_id", "cent_id"))
      .groupBy($"vec_id")
      .agg((sum(round($"pdot" * ProductQuant.fixedPointScale)
        .cast("long")).cast("double") / ProductQuant.fixedPointScale)
        .as("adot"))
      .join(norms, Seq("vec_id"))
      .crossJoin(broadcast(qn))
      .filter($"vec_id" =!= queryId)
      .select($"vec_id",
        when($"nrm" === 0d || $"qnrm" === 0d, lit(0d))
          .otherwise(round($"adot" / ($"nrm" * $"qnrm"), 4))
          .as("approx_cosine"))
      .orderBy($"approx_cosine".desc, $"vec_id".asc)
      .limit(shortlist)
  }

  /** Exact-cosine re-rank of a shortlist (q52/q55 tail). */
  private def exactRerank(e: DataFrame, cand: DataFrame,
      qemb: DataFrame, k: Int): DataFrame = {
    import e.sparkSession.implicits._
    e.join(broadcast(cand.select($"vec_id")), Seq("vec_id"))
      .crossJoin(broadcast(qemb))
      .withColumn("cos_full", cosine($"embedding", $"qemb"))
      .orderBy($"cos_full".desc, $"vec_id".asc)
      .limit(k)
      .select($"vec_id", round($"cos_full", 4).as("cosine"))
  }

  /** Embedding-cosine near-duplicate pairs at corpus scale: vectors
    * sharing a deterministic hyperplane-LSH bucket are verified with
    * exact cosine ≥ threshold. The self-join key is the bucket (one
    * bucket per vector — unlike banded MinHash there is no
    * multi-probe duplication, so the embedding payload rides the one
    * collision join it is needed in and the verify is inline); norms
    * are precomputed once per vector, not per pair. Bucket count
    * scales with `numPlanes` — more planes, smaller buckets, cheaper
    * join, lower recall; the all-pairs q24 is the recall oracle. */
  def embeddingNearDupPairs(spark: SparkSession, dir: String,
      threshold: Double = 0.35, numPlanes: Int = 4): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddingsDistributed(spark, dir)
      .select($"vec_id", $"embedding",
        Ann.bucket($"embedding", numPlanes).as("bucket"),
        norm($"embedding").as("nrm"))
    val a = e.select($"bucket", $"vec_id".as("vec_a"),
      $"embedding".as("emb_a"), $"nrm".as("nrm_a"))
    val b = e.select($"bucket", $"vec_id".as("vec_b"),
      $"embedding".as("emb_b"), $"nrm".as("nrm_b"))
    a.join(b, Seq("bucket"))
      .filter($"vec_a" < $"vec_b")
      .withColumn("cos_full", dot($"emb_a", $"emb_b") / ($"nrm_a" * $"nrm_b"))
      // Null-tolerant threshold (null cosine → -∞ → dropped, same
      // result as a bare >=): the bare form is null-intolerant, so
      // constraint inference derives isnotnull(nrm) and pushes a
      // second sqrt(dot(emb,emb)) evaluation below the repartition
      // (round-6 plan audit, same mechanism as the simhash fix).
      .filter(coalesce($"cos_full", lit(Double.NegativeInfinity))
        >= threshold)
      .select($"vec_a", $"vec_b", round($"cos_full", 4).as("cosine"))
      .orderBy($"vec_a", $"vec_b")
  }

  /** Multi-probe embedding near-dup pairs: q40's one-bucket collision
    * join widened to Hamming-distance-1 — each vector additionally
    * probes the `numPlanes` one-bit-flip buckets, so a near-dup pair
    * split by a single hyperplane is still caught. Join volume is
    * (planes+1)× the home-bucket join, far below banded-MinHash-style
    * replication; each qualifying pair matches EXACTLY ONE (probe,
    * home) combination (hamming 0 ⇒ flip 0, hamming 1 ⇒ the one
    * differing plane), so no pair-dedup pass is needed before the
    * inline verify. Recall oracle is the all-pairs q24. */
  def embeddingNearDupPairsMultiProbe(spark: SparkSession, dir: String,
      threshold: Double = 0.35, numPlanes: Int = 4): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddingsDistributed(spark, dir)
      .select($"vec_id", $"embedding",
        Ann.bucket($"embedding", numPlanes).as("bucket"),
        norm($"embedding").as("nrm"))
    val flips = typedLit(0L +: (0 until numPlanes).map(p => 1L << p))
    val a = e
      .select($"vec_id".as("vec_a"), $"embedding".as("emb_a"),
        $"nrm".as("nrm_a"), $"bucket", explode(flips).as("flip"))
      .select($"vec_a", $"emb_a", $"nrm_a",
        $"bucket".bitwiseXOR($"flip").as("probe"))
    val b = e.select($"vec_id".as("vec_b"), $"embedding".as("emb_b"),
      $"nrm".as("nrm_b"), $"bucket".as("probe"))
    a.join(b, Seq("probe"))
      .filter($"vec_a" < $"vec_b")
      .withColumn("cos_full", dot($"emb_a", $"emb_b") / ($"nrm_a" * $"nrm_b"))
      // null-tolerant for the same reason as embeddingNearDupPairs
      .filter(coalesce($"cos_full", lit(Double.NegativeInfinity))
        >= threshold)
      .select($"vec_a", $"vec_b", round($"cos_full", 4).as("cosine"))
      .orderBy($"vec_a", $"vec_b")
  }

  /** Lloyd-refined IVF centroids (deterministic, engine-portable):
    * seeds are the first `numCentroids` vectors; each round reassigns
    * every vector to its max-cosine centroid and recomputes
    * element-wise means. The mean goes through a 2^24 fixed-point
    * quantization — round(x·2²⁴) is exact in doubles and its integer
    * sum is order-independent, so Spark and the SQL oracle derive
    * bit-identical centroids regardless of partitioning; the final
    * ranking still scores full-precision floats. At corpus scale each
    * round is one broadcast assignment pass plus one (centroid, dim)
    * aggregation — no quadratic work, no driver-side math. */
  def kmeansCentroids(e: DataFrame, numCentroids: Int,
      iters: Int): DataFrame = {
    import e.sparkSession.implicits._
    // Single-subspace case of the grouped Lloyd in
    // ProductQuant.trainCodebooks (ONE shared implementation of the
    // fixed-point mean, checkpoint rotation, and seed init — q39 and
    // q52 cannot silently diverge): the whole vector is subspace 0.
    val subs = e.select($"vec_id", lit(0).as("sub_id"),
      $"embedding".as("subvec"))
    // deliberately NOT the one-pass seed (rowsPerVec): with no
    // generator in this frame, the seed-id TakeOrdered column-prunes
    // to a bare vec_id scan — the cheapest possible pass — and the
    // one-pass variant would trade that for a full embedding decode
    // (wrong at corpus scale; the multi-subspace callers' seed scans
    // already paid the decode inside the generator, so only they
    // benefit)
    ProductQuant.trainCodebooks(subs, numCentroids, iters)
      .select($"cent_id", $"cvec".as("cemb"))
  }

  /** q60 — semantic deduplication (SemDeDup, Abbas et al. 2023): the
    * embedding-space twin of the text near-dup pass. Cluster the
    * corpus with k-means (the shared fixed-point Lloyd — identical
    * centroids in both engines), then prune ONLY within clusters: of
    * any within-cluster pair with cosine ≥ `threshold`, the larger
    * vec_id drops (the q53 funnel's keep-the-smaller convention).
    *
    * Scale shape: the cluster id is the LSH-style bucket — the pair
    * join shuffles on cent_id, so candidate volume is Σ|bucket|², not
    * N². Clusters larger than `maxClusterSize` are sub-bucketed by a
    * stable md5 hash of vec_id into ⌈|cluster|/cap⌉ groups (the df-cap
    * guard minhashLshPairs/simhashNearDupPairs already have: a
    * degenerate k-means — or a too-small default k at a grown corpus —
    * overflows into bounded sub-buckets instead of planning an N²/k
    * join), so candidate volume is ≤ N·cap BY CONSTRUCTION
    * (SemDedupSpec pins it); pairs split across sub-buckets are the
    * accepted recall loss, same as a df-capped hot LSH bucket. Raising
    * k remains the quality knob (SemDeDup runs k≈10⁵ at billion-doc
    * scale); the cap is the safety net. Cluster sizes are one
    * aggregate over the checkpointed assigned frame — k rows,
    * broadcast back. The assigned frame feeds both join sides and the
    * final report, so it is localCheckpoint'd (never re-derives the
    * Lloyd rounds); callers free it via Checkpoints.consume like the
    * other checkpointed results. */
  def semanticDedup(spark: SparkSession, dir: String,
      threshold: Double = 0.35, numCentroids: Int = 16,
      iters: Int = 1, maxClusterSize: Int = 256): DataFrame = {
    import spark.implicits._
    semanticDedupFrame(
      Tables.embeddingsDistributed(spark, dir)
        .select($"vec_id", $"embedding"),
      threshold, numCentroids, iters, maxClusterSize)
      .orderBy($"vec_id")
  }

  /** Frame-level SemDeDup over any `e(vec_id, embedding)` — the piece
    * the q63 curation sweep composes over a survivor subset (its
    * seeds are then the subset's k smallest ids, the rank-seeding
    * contract). Returns (vec_id, cent_id, kept), unordered. */
  def semanticDedupFrame(e: DataFrame,
      threshold: Double = 0.35, numCentroids: Int = 16,
      iters: Int = 1, maxClusterSize: Int = 256): DataFrame = {
    import e.sparkSession.implicits._
    val (x, drops) = semanticDedupParts(e, threshold, numCentroids,
      iters, maxClusterSize)
    x.join(drops.withColumn("__dropped", lit(1L)), Seq("vec_id"), "left")
      .select($"vec_id", $"cent_id",
        when($"__dropped".isNull, 1L).otherwise(0L).as("kept"))
  }

  /** Only the DROPPED vec_ids — the q63 sweep's consumer shape: the
    * funnel anti-joins the drop set and never reads the kept flags,
    * so deriving `kept` for every vector (a corpus-wide x ⟗ drops
    * join) is waste at that call site (guide §1.2). Identical drop
    * set by construction: kept == 0 ⟺ vec_id ∈ drops, and drops ⊆ x
    * (SemDedupSpec pins equality with the frame face). The plan
    * reaches the checkpointed assigned frame, so the caller's
    * Checkpoints hygiene is unchanged. */
  def semanticDedupDrops(e: DataFrame,
      threshold: Double = 0.35, numCentroids: Int = 16,
      iters: Int = 1, maxClusterSize: Int = 256): DataFrame =
    semanticDedupParts(e, threshold, numCentroids, iters,
      maxClusterSize)._2

  private def semanticDedupParts(e: DataFrame, threshold: Double,
      numCentroids: Int, iters: Int, maxClusterSize: Int)
      : (DataFrame, DataFrame) = {
    import e.sparkSession.implicits._
    val cents = kmeansCentroids(e, numCentroids, iters)
    // assignment is a per-row column now — append it in place instead
    // of the former e ⟗ assignment self-join (guide §2.4; one full
    // corpus exchange removed before the checkpoint)
    val x = e.select($"vec_id", $"embedding",
        cellAssignmentCol(cents).as("cent_id"))
      .filter($"cent_id".isNotNull)
      .withColumn("nrm", norm($"embedding"))
      .localCheckpoint()
    // x's eager checkpoint truncated lineage above it, so the Lloyd
    // result's blocks are no longer reachable from the returned plan —
    // free them here or they outlive the query (the q39-style path
    // keeps cents IN the final plan and lets the caller's consume free
    // it; the checkpoint boundary changes the ownership).
    graft.ops.Checkpoints.unpersist(cents)
    val xb = capBuckets(x, maxClusterSize)
    val a = xb.select($"cent_id", $"sub_id", $"vec_id".as("vec_a"),
      $"embedding".as("emb_a"), $"nrm".as("nrm_a"))
    val b = xb.select($"cent_id", $"sub_id", $"vec_id".as("vec_b"),
      $"embedding".as("emb_b"), $"nrm".as("nrm_b"))
    val drops = a.join(b, Seq("cent_id", "sub_id"))
      .filter($"vec_a" < $"vec_b")
      .withColumn("cos_full", dot($"emb_a", $"emb_b") / ($"nrm_a" * $"nrm_b"))
      // null-tolerant threshold — same constraint-inference mechanism
      // as embeddingNearDupPairs (round-6 plan audit)
      .filter(coalesce($"cos_full", lit(Double.NegativeInfinity))
        >= threshold)
      .select($"vec_b".as("vec_id")).distinct()
    (x, drops)
  }

  /** Cluster-size guard for bucketed pair joins: split every cluster
    * of `x(cent_id, vec_id, …)` larger than `maxClusterSize` into
    * ⌈|cluster|/cap⌉ md5-stable sub-buckets (adds a `sub_id` column;
    * in-cap clusters get the single sub-bucket 0, so the guard is the
    * identity wherever it doesn't engage). One tiny aggregate over the
    * input (k rows, broadcast back) — candidate volume of a
    * (cent_id, sub_id) self-join is then ≤ ~N·cap regardless of how
    * degenerate the clustering is (SemDedupSpec pins the bound). */
  private[queries] def capBuckets(x: DataFrame,
      maxClusterSize: Int): DataFrame = {
    import x.sparkSession.implicits._
    val sizes = x.groupBy($"cent_id").agg(count(lit(1)).as("csize"))
    x.join(broadcast(sizes), Seq("cent_id"))
      .withColumn("n_sub",
        ceil($"csize".cast("double") / maxClusterSize).cast("long"))
      .withColumn("sub_id",
        graft.ops.Sampling.stableBucket($"vec_id", "semdedup", $"n_sub"))
      .drop("csize", "n_sub")
  }

  /** Shared SemDeDup oracle fragment (DuckDB SQL mirroring
    * [[semanticDedupFrame]] at the default parameters: 16 centroids,
    * 1 Lloyd round, threshold 0.35, cluster cap 256) over any source
    * CTE `src(vec_id, embedding)`. Defines `x(vec_id, cent_id,
    * embedding)` and `sem_drops(vec_id)`. Seeding is rank-based (the
    * k smallest vec_ids, ranks 0..k-1 — identical to `vec_id < k` on
    * dense 0-based ids); the cluster-size cap sub-buckets with the
    * same md5('semdedup|id') hash as Sampling.stableBucket. q60 and
    * the q63 sweep compose this one fragment, so a scheme change
    * reaches both oracles from one place. */
  private[queries] def semDedupCtes(src: String): String =
    s"""cents0 AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cent_id,
       |    embedding AS cemb
       |  FROM $src ORDER BY vec_id LIMIT 16),
       |a1 AS (
       |  SELECT e.vec_id, arg_max(c.cent_id,
       |    list_cosine_similarity(e.embedding::DOUBLE[], c.cemb::DOUBLE[]))
       |    AS cent_id
       |  FROM $src e, cents0 c GROUP BY e.vec_id),
       |m1 AS (
       |  SELECT a.cent_id, t.i AS i,
       |    CAST(CAST(SUM(CAST(round(e.embedding[t.i]::DOUBLE * 16777216.0)
       |      AS BIGINT)) AS DOUBLE) / 16777216.0 / COUNT(*) AS FLOAT) AS m
       |  FROM a1 a JOIN $src e USING (vec_id),
       |    unnest(generate_series(1, 64)) t(i)
       |  GROUP BY a.cent_id, t.i),
       |cents1 AS (
       |  SELECT cent_id, list(m ORDER BY i) AS cemb FROM m1
       |  GROUP BY cent_id),
       |a2 AS (
       |  SELECT e.vec_id, arg_max(c.cent_id,
       |    list_cosine_similarity(e.embedding::DOUBLE[], c.cemb::DOUBLE[]))
       |    AS cent_id
       |  FROM $src e, cents1 c GROUP BY e.vec_id),
       |x AS (SELECT a2.vec_id, a2.cent_id, e.embedding
       |      FROM a2 JOIN $src e USING (vec_id)),
       |xsz AS (SELECT cent_id, COUNT(*) AS csize FROM x GROUP BY cent_id),
       |xb AS (SELECT x.vec_id, x.cent_id, x.embedding,
       |    CAST(('0x' || substr(md5('semdedup|' || x.vec_id::VARCHAR), 1, 8))
       |      AS BIGINT) % CAST(ceil(csize / 256.0) AS BIGINT) AS sub_id
       |  FROM x JOIN xsz USING (cent_id)),
       |sem_drops AS (
       |  SELECT DISTINCT b.vec_id FROM xb a JOIN xb b
       |    ON a.cent_id = b.cent_id AND a.sub_id = b.sub_id
       |      AND a.vec_id < b.vec_id
       |  WHERE list_cosine_similarity(a.embedding::DOUBLE[],
       |    b.embedding::DOUBLE[]) >= 0.35)""".stripMargin

  /** q78 — per-label embedding outlier filter: each vector's cosine
    * to its OWN label's centroid, flagging vectors anti-correlated
    * with their class (cos < `threshold`) — the embedding-space
    * quality pass of a curation pipeline (mislabeled / misembedded
    * samples; the centroid-distance analog of CLIP-score filtering
    * for image-text data, and SemDeDup's outlier complement: q60
    * drops the too-similar, this flags the too-different).
    *
    * Scale shape: centroids use the SHARED fixed-point mean
    * convention (round(x·2²⁴) per dimension, exact long sums —
    * order-independent across partitionings and engines): one
    * (label, dim) aggregation over the posexploded corpus, then a
    * labels-count-sized centroid table that AQE broadcasts back for
    * the scoring join (hint-free). Scoring is a per-row codegen'd
    * dot kernel; the outlier boundary compares the 4dp-ROUNDED
    * cosine in both engines, so the flag is exact. */
  def embeddingOutliers(spark: SparkSession, dir: String,
      threshold: Double = 0.0): DataFrame = {
    import spark.implicits._
    val fp = ProductQuant.fixedPointScale
    val e = Tables.embeddingsDistributed(spark, dir)
      .select($"vec_id", $"label", $"embedding")
    val cents = e
      .select($"label", posexplode($"embedding").as(Seq("i", "v")))
      .groupBy($"label", $"i")
      .agg(sum(round($"v".cast("double") * fp).cast("long")).as("s"),
        count(lit(1)).as("n"))
      .withColumn("m", ($"s".cast("double") / fp / $"n").cast("float"))
      .groupBy($"label")
      .agg(array_sort(collect_list(struct($"i", $"m"))).as("sm"))
      .select($"label", transform($"sm", x => x.getField("m")).as("cemb"))
    e.join(cents, Seq("label"))
      .withColumn("cos_centroid", round(cosine($"embedding", $"cemb"), 4))
      .select($"vec_id", $"label", $"cos_centroid",
        ($"cos_centroid" < threshold).cast("long").as("is_outlier"))
      .orderBy($"vec_id")
  }

  /** q90 — SQ8 scalar-quantized ANN: each dimension is linearly
    * quantized to an 8-bit code against per-dimension corpus min/max
    * (the FAISS `SQ8` / Milvus `SQ` storage tier — 4× smaller than
    * float32 with near-lossless recall), then search scores the query
    * against the RECONSTRUCTED vectors and reranks the top-k exactly.
    * Reported as (approx cosine, exact cosine) side by side — the
    * calibration view that tells an operator what the 8-bit tier
    * costs in ranking fidelity before committing a 100 TB index to
    * it. Plan shape: the per-dimension min/max pass is ONE
    * 64-row aggregation of the posexploded corpus; the stats travel
    * as a one-row broadcast of two 64-length arrays; quantize +
    * reconstruct + score are per-row array transforms inside the scan
    * (no per-dim corpus explode survives into the scoring plan); the
    * exact rerank joins full embeddings for the k survivors only.
    * Constant dimensions (hi = lo) quantize to code 0 and reconstruct
    * to lo exactly in both engines. */
  def sqAnnKnn(spark: SparkSession, dir: String, queryId: Long = 0L,
      k: Int = 10, dims: Int = 64): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddingsDistributed(spark, dir)
      .select($"vec_id", $"embedding")
    val stats = e.select(posexplode($"embedding").as(Seq("i", "v")))
      .groupBy($"i").agg(min($"v").as("lo"), max($"v").as("hi"))
      .agg(array_sort(collect_list(struct($"i", $"lo"))).as("slo"),
        array_sort(collect_list(struct($"i", $"hi"))).as("shi"))
      .select(transform($"slo", x => x.getField("lo")).as("lo"),
        transform($"shi", x => x.getField("hi")).as("hi"))
    val q = e.filter($"vec_id" === queryId)
      .select($"embedding".as("qemb"))
    val recon = e.filter($"vec_id" =!= queryId)
      .crossJoin(broadcast(stats))
      .withColumn("recon", transform(sequence(lit(1), lit(dims)), i => {
        val v = element_at($"embedding", i).cast("double")
        val lo = element_at($"lo", i).cast("double")
        val hi = element_at($"hi", i).cast("double")
        val code = least(greatest(
          floor((v - lo) / (hi - lo) * 256d), lit(0d)), lit(255d))
        when(hi === lo, lo).otherwise(lo + (code + 0.5d) * (hi - lo) / 256d)
          .cast("float")
      }))
    recon.crossJoin(broadcast(q))
      .withColumn("cos_sq", cosine($"recon", $"qemb"))
      .orderBy($"cos_sq".desc, $"vec_id".asc)
      .limit(k)
      .select($"vec_id", $"cos_sq")
      .join(e.select($"vec_id", $"embedding".as("fullemb")), Seq("vec_id"))
      .crossJoin(broadcast(q))
      .select($"vec_id", round($"cos_sq", 4).as("cos_sq"),
        round(cosine($"fullemb", $"qemb"), 4).as("cos_full"))
      .orderBy($"cos_sq".desc, $"vec_id".asc)
  }

  /** IVF with k-means-refined cells: the q34 pipeline with
    * `kmeansCentroids` slotted in (2 Lloyd rounds), then the same
    * 2-probe search. */
  def kmeansIvfKnn(spark: SparkSession, dir: String, queryId: Long = 0L,
      k: Int = 10, numCentroids: Int = 16, iters: Int = 2,
      probes: Int = 2): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val cents = kmeansCentroids(e, numCentroids, iters)
    val assigned = assignToCells(e, cents)
    val q = e.filter($"vec_id" === queryId).select($"embedding".as("qemb"))
    val probe = probeTop(cents, q, probes)
    e.join(assigned.join(broadcast(probe), Seq("cent_id")), Seq("vec_id"))
      .filter($"vec_id" =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("cos_full", cosine($"embedding", $"qemb"))
      .orderBy($"cos_full".desc, $"vec_id".asc)
      .limit(k)
      .select($"vec_id", round($"cos_full", 4).as("cosine"))
  }

  /** Product-quantization ANN kNN (q52): train per-subspace codebooks
    * (8 subspaces × 8 dims, 16 centroids, one fixed-point Lloyd
    * round), encode the corpus to 8 codes/vector, score by ADC —
    * approx cosine = Σ table-lookup partial dots / (‖x‖·‖q‖). See
    * [[graft.ops.ProductQuant]] for the 32×-smaller-scan story. The
    * result intentionally reports the APPROX score (rounded 4dp): the
    * oracle derives the identical codebooks/codes in SQL, so parity
    * checks the whole train→encode→ADC path, not just the ranking. */
  def pqAnnKnn(spark: SparkSession, dir: String, queryId: Long = 0L,
      k: Int = 10, m: Int = 8, subdim: Int = 8, c: Int = 16,
      iters: Int = 1, shortlist: Int = 50): DataFrame = {
    import spark.implicits._
    pqAnnKnnFrame(
      Tables.embeddings(spark, dir).select($"vec_id", $"embedding"),
      queryId, k, m, subdim, c, iters, shortlist)
  }

  /** Frame-level PQ ANN over any `e(vec_id, embedding)` — the piece
    * [[pqOpqKnn]] composes after rotating the space. */
  def pqAnnKnnFrame(e: DataFrame, queryId: Long = 0L,
      k: Int = 10, m: Int = 8, subdim: Int = 8, c: Int = 16,
      iters: Int = 1, shortlist: Int = 50): DataFrame = {
    import e.sparkSession.implicits._
    val subs = ProductQuant.subVectors(e, m, subdim)
    val cb = ProductQuant.trainCodebooks(subs, c, iters,
      rowsPerVec = m)
    val codes = ProductQuant.encode(subs, cb)
    val q = e.filter($"vec_id" === queryId)
    val qsubs = ProductQuant.subVectors(q, m, subdim)
      .select($"sub_id", $"subvec".as("qsub"))
    val adc = ProductQuant.adcTable(cb, qsubs)
    val norms = e.select($"vec_id", norm($"embedding").as("nrm"))
    val qn = q.select(norm($"embedding").as("qnrm"))
    // ADC shortlist (adcShortlist: fixed-point order-independent sum,
    // zero-norm-safe, deterministic rounded boundary), then exact
    // re-rank of `shortlist` candidates — the FAISS ADC-prune +
    // exact-verify flow.
    val cand = adcShortlist(codes, adc, norms, qn, queryId, shortlist)
    exactRerank(e, cand, q.select($"embedding".as("qemb")), k)
  }

  /** IVF+PQ ANN kNN (q55) — the production ANN layout (FAISS
    * IndexIVFPQ): IVF cells prune WHICH vectors are scanned
    * (probes/cells of the corpus), PQ codes shrink WHAT is read per
    * scanned vector (m bytes vs 4·d) — combined here 2/16 of the
    * corpus at 1/32 the bytes ≈ 1/256 of the brute-force scan. Cells
    * are q34's static-seed cells; codebooks/codes are q52's; ADC
    * scores the probed cells' codes (fixed-point sum), a 50-candidate
    * shortlist re-ranks exact. At deployment, codes live
    * cell-partitioned on disk so probing prunes files, not rows. */
  def ivfPqAnnKnn(spark: SparkSession, dir: String, queryId: Long = 0L,
      k: Int = 10, m: Int = 8, subdim: Int = 8, c: Int = 16,
      iters: Int = 1, numCells: Int = 16, probes: Int = 2,
      shortlist: Int = 50): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    // IVF side: q34's building blocks (seedCells/assignToCells/
    // probeTop) — the cells frame uses cent_id naming like q34; it
    // never meets the PQ codebook's cent_id in one frame (the probed
    // ids are projected to vec_id before touching codes).
    val cells = seedCells(e, numCells)
    val assign = assignToCells(e, cells)
    val q = e.filter($"vec_id" === queryId)
    val qemb = q.select($"embedding".as("qemb"))
    val probe = probeTop(cells, qemb, probes)
    // PQ side (q52's codebooks/codes — index-time artifacts)
    val subs = ProductQuant.subVectors(e, m, subdim)
    val cb = ProductQuant.trainCodebooks(subs, c, iters,
      rowsPerVec = m)
    val codes = ProductQuant.encode(subs, cb)
    val qsubs = ProductQuant.subVectors(q, m, subdim)
      .select($"sub_id", $"subvec".as("qsub"))
    val adc = ProductQuant.adcTable(cb, qsubs)
    val norms = e.select($"vec_id", norm($"embedding").as("nrm"))
    val qn = q.select(norm($"embedding").as("qnrm"))
    // ADC shortlist over the probed cells' codes only, then exact
    // re-rank — the shared q52 machinery with a cell restriction.
    val probedIds = assign.join(broadcast(probe), Seq("cent_id"))
      .select($"vec_id")
    val cand = adcShortlist(codes, adc, norms, qn, queryId, shortlist,
      restrictTo = Some(probedIds))
    exactRerank(e, cand, qemb, k)
  }

  /** OPQ-rotated PQ ANN: eigenvalue-allocation rotation
    * ([[graft.ops.OpqRotation]], the parametric OPQ of Ge et al.
    * 2013) applied at index time to corpus and query, then the plain
    * q52 PQ pipeline over the rotated space. The rotation is
    * orthonormal — dots and norms (hence cosine) are preserved — so
    * only the QUANTIZER's error changes: each subspace now carries a
    * balanced share of the spectrum instead of whatever the natural
    * dimension order happened to put there. Spec-gated
    * (OpqRotationSpec pins the recall win on a correlated-variance
    * corpus); not oracle-gated because the eigendecomposition is not
    * DuckDB-expressible — the in-plan part (covariance pass, literal
    * rotation rows, the whole PQ chain) reuses oracle-proven pieces. */
  def pqOpqKnn(spark: SparkSession, dir: String, queryId: Long = 0L,
      k: Int = 10, m: Int = 8, subdim: Int = 8, c: Int = 16,
      iters: Int = 1, shortlist: Int = 50): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val r = graft.ops.OpqRotation.allocationRotation(
      graft.ops.OpqRotation.covariance(e, "embedding"), m, subdim)
    pqAnnKnnFrame(
      e.select($"vec_id",
        graft.ops.OpqRotation.rotate($"embedding", r).as("embedding")),
      queryId, k, m, subdim, c, iters, shortlist)
  }

  /** Residual-encoded IVF+PQ ANN kNN (q64) — the FAISS IndexIVFPQ
    * `by_residual` refinement of q55: PQ codes quantize the RESIDUAL
    * x − c(x) against the vector's coarse cell centroid instead of x
    * itself. The cell id is stored by the IVF layout anyway, so code
    * size is UNCHANGED (m codes + the cell id both schemes already
    * pay), while the quantizer only has to span within-cell offsets —
    * a far smaller ball than the whole corpus — so quantization error
    * drops and shortlist recall rises (ResidualPqSpec pins strictly
    * better recall@10 than the plain-coded scheme on a clustered
    * fixture at equal parameters).
    *
    * Query-side ADC stays RAW-q (inner-product identity:
    * ⟨q, c + r̂⟩ = ⟨q, c⟩ + ⟨q, r̂⟩): one m·c table from q against the
    * residual codebook, plus one ⟨q, c⟩ constant per probed cell —
    * both broadcast; the fixed-point sum adds the quantized cell term
    * so the score stays order-independent. Two residual wrinkles,
    * both deterministic by construction: codebook TRAINING excludes
    * exactly-zero residuals (the cell-seed vectors' own rows — they
    * carry no information and their all-tie assignments would be
    * partitioning-dependent), and ENCODING uses the
    * smallest-cent-id tie-break ([[graft.ops.ProductQuant.encodeDet]])
    * so those zero rows still code deterministically. */
  def ivfPqResidualKnn(spark: SparkSession, dir: String, queryId: Long = 0L,
      k: Int = 10, m: Int = 8, subdim: Int = 8, c: Int = 16,
      iters: Int = 1, numCells: Int = 16, probes: Int = 2,
      shortlist: Int = 50): DataFrame = {
    import spark.implicits._
    val fp = ProductQuant.fixedPointScale
    val e = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val cells = seedCells(e, numCells)
    val assign = assignToCells(e, cells)
    // residual = x − cell centroid: float IEEE subtraction,
    // bit-identical across engines
    val resid = e.join(assign, Seq("vec_id"))
      .join(broadcast(cells), Seq("cent_id"))
      .select($"vec_id", $"cent_id".as("cell_id"),
        zip_with($"embedding", $"cemb", (a, b) => a - b).as("embedding"))
    val subs = ProductQuant.subVectors(resid, m, subdim)
    val subsNz = ProductQuant.subVectors(
      resid.filter(norm($"embedding") =!= 0d), m, subdim)
    val cb = ProductQuant.trainCodebooks(subsNz, c, iters,
      rowsPerVec = m)
    val codes = ProductQuant.encodeDet(subs, cb)
    val q = e.filter($"vec_id" === queryId)
    val qemb = q.select($"embedding".as("qemb"))
    val probe = probeTop(cells, qemb, probes)
    val qsubs = ProductQuant.subVectors(q, m, subdim)
      .select($"sub_id", $"subvec".as("qsub"))
    val adc = ProductQuant.adcTable(cb, qsubs)
    val qc = cells.join(broadcast(probe), Seq("cent_id"))
      .crossJoin(broadcast(qemb))
      .select($"cent_id".as("cell_id"), dot($"cemb", $"qemb").as("qcdot"))
    val norms = e.select($"vec_id", norm($"embedding").as("nrm"))
    val qn = q.select(norm($"embedding").as("qnrm"))
    val probedCells = assign.join(broadcast(probe), Seq("cent_id"))
      .select($"vec_id", $"cent_id".as("cell_id"))
    val cand = codes.join(probedCells, Seq("vec_id"))
      .join(broadcast(adc), Seq("sub_id", "cent_id"))
      .groupBy($"vec_id", $"cell_id")
      .agg(sum(round($"pdot" * fp).cast("long")).as("rsum"))
      .join(broadcast(qc), Seq("cell_id"))
      .withColumn("adot",
        ($"rsum" + round($"qcdot" * fp).cast("long")).cast("double") / fp)
      .join(norms, Seq("vec_id"))
      .crossJoin(broadcast(qn))
      .filter($"vec_id" =!= queryId)
      .select($"vec_id",
        when($"nrm" === 0d || $"qnrm" === 0d, lit(0d))
          .otherwise(round($"adot" / ($"nrm" * $"qnrm"), 4))
          .as("approx_cosine"))
      .orderBy($"approx_cosine".desc, $"vec_id".asc)
      .limit(shortlist)
    exactRerank(e, cand, qemb, k)
  }

  /** q104 — IMI-style two-level coarse quantizer for IVF (the
    * inverted multi-index of Babenko & Lempitsky, CVPR 2012): the
    * coarse quantizer is itself a PRODUCT codebook — the vector
    * splits into two halves, each half gets its own `c`-centroid
    * codebook (the shared grouped Lloyd,
    * [[graft.ops.ProductQuant.trainCodebooks]] with m=2), and the
    * cell id is the COMPOSITION `c·code₀ + code₁` — c² cells (256
    * here) from 2·c centroids (32). That composition is the whole
    * point at billion-vector scale: a flat 256-cell IVF pays 256
    * full-vector comparisons per assignment, the IMI layout pays
    * 2×16 HALF-vector comparisons — 16 full-vector equivalents, a
    * 16× assignment-cost cut that grows quadratically with the cell
    * count (65536 cells: 256× cheaper). The recall trade: IMI cells
    * are a grid, not a Voronoi partition — a query probes the
    * `probesPerHalf²` cells crossing its top half-matches, which
    * under-recalls neighbors whose halves rank unevenly
    * (ImiIvfSpec quantifies parity against flat IVF at equal cell
    * count on a clustered fixture).
    *
    * Scale shape: training/encoding are ProductQuant's audited shapes
    * (one grouped Lloyd job per round, broadcast codebook join); the
    * cell table is one aggregation of the 2-row-per-vector codes; the
    * probe list is `probesPerHalf²` broadcast rows; the search scans
    * only probed cells then TakeOrdered — q34's tail. At deployment
    * cells are index-time artifacts and the per-query cost is the
    * 2·c half-vector rankings plus the probed-cell scan. */
  def imiIvfKnn(spark: SparkSession, dir: String, queryId: Long = 0L,
      k: Int = 10, subdim: Int = 32, c: Int = 16, iters: Int = 1,
      probesPerHalf: Int = 2): DataFrame = {
    import spark.implicits._
    imiIvfKnnFrames(
      Tables.embeddings(spark, dir).select($"vec_id", $"embedding"),
      queryId, k, subdim, c, iters, probesPerHalf)
  }

  /** The frame-level core of [[imiIvfKnn]] — ImiIvfSpec drives it
    * directly on constructed fixtures (iters=0 keeps the seed rows AS
    * the half-codebooks, giving the spec exact centroid control). */
  def imiIvfKnnFrames(e: DataFrame, queryId: Long = 0L,
      k: Int = 10, subdim: Int = 32, c: Int = 16, iters: Int = 1,
      probesPerHalf: Int = 2): DataFrame = {
    import e.sparkSession.implicits._
    val win = org.apache.spark.sql.expressions.Window
    val subs = ProductQuant.subVectors(e, 2, subdim)
    val cb = ProductQuant.trainCodebooks(subs, c, iters,
      rowsPerVec = 2)
    val codes = ProductQuant.encode(subs, cb)
    val cellOf = codes.groupBy($"vec_id")
      .agg((max(when($"sub_id" === 0, $"cent_id")) * c +
        max(when($"sub_id" === 1, $"cent_id"))).as("cell_id"))
    val q = e.filter($"vec_id" === queryId)
    val qemb = q.select($"embedding".as("qemb"))
    val qsubs = ProductQuant.subVectors(q, 2, subdim)
      .select($"sub_id", $"subvec".as("qsub"))
    val ranked = cb.join(broadcast(qsubs), Seq("sub_id"))
      .withColumn("qcos", cosine($"cvec", $"qsub"))
      .withColumn("rn", row_number().over(
        win.partitionBy($"sub_id").orderBy($"qcos".desc, $"cent_id".asc)))
      .filter($"rn" <= probesPerHalf)
      .select($"sub_id", $"cent_id")
    val probeCells = ranked.filter($"sub_id" === 0)
      .select($"cent_id".as("c0"))
      .crossJoin(ranked.filter($"sub_id" === 1).select($"cent_id".as("c1")))
      .select(($"c0" * c + $"c1").as("cell_id"))
    val cand = cellOf.join(broadcast(probeCells), Seq("cell_id"))
      .filter($"vec_id" =!= queryId).select($"vec_id")
    e.join(cand, Seq("vec_id"))
      .crossJoin(broadcast(qemb))
      .withColumn("cos_full", cosine($"embedding", $"qemb"))
      .orderBy($"cos_full".desc, $"vec_id".asc)
      .limit(k)
      .select($"vec_id", round($"cos_full", 4).as("cosine"))
  }

  /** q116 — IMI with MULTI-SEQUENCE probe ordering (the original
    * paper's cell-visit order, Babenko & Lempitsky 2012 §3.2):
    * [[imiIvfKnn]] probes the CROSS PRODUCT of its top-`p` matches
    * per half — which under-recalls neighbors whose halves rank
    * unevenly (a cell pairing the 1st-ranked half-0 centroid with the
    * 3rd-ranked half-1 centroid is unreachable at p=2 even when its
    * BLENDED affinity beats every probed cell). The paper instead
    * visits cells in increasing blended distance. Inner products
    * decompose additively over the halves — `dot(q, x) =
    * dot(q₀, x₀) + dot(q₁, x₁)` (the dot-product analogue of the
    * paper's `d² = d₀² + d₁²` for L2) — so the blended cell affinity
    * is `dot(q₀, c₀) + dot(q₁, c₁)` and this operator probes the
    * top-`probes` cells of THAT order, a budget of exactly `probes`
    * cells (the cross form probes p² with no per-cell ordering).
    *
    * Scale shape: identical to q104 except probe selection — the
    * blend frame is the c² (256-row) cross of two c-row broadcast
    * rank frames, TakeOrdered to `probes` rows, then broadcast into
    * the cell-pruned scan. At the paper's c = 2¹⁴ the c² frame is
    * 2²⁸ rows and a deployment walks it lazily with the paper's
    * two-pointer priority queue on the driver instead — the frame
    * form here is the Spark-declarative equivalent for moderate c,
    * and the PROBED-CELL contract (top-`probes` by blended affinity)
    * is what ImiIvfSpec pins, not the enumeration strategy. */
  def imiIvfKnnMultiSeq(spark: SparkSession, dir: String,
      queryId: Long = 0L, k: Int = 10, subdim: Int = 32, c: Int = 16,
      iters: Int = 1, probes: Int = 4): DataFrame = {
    import spark.implicits._
    imiIvfKnnMultiSeqFrames(
      Tables.embeddings(spark, dir).select($"vec_id", $"embedding"),
      queryId, k, subdim, c, iters, probes)
  }

  /** The paper's LAZY multi-sequence walk (Babenko & Lempitsky 2012
    * §3.2, the two-pointer priority-queue traversal): emits the
    * top-`probes` cells of the blended order WITHOUT enumerating the
    * c² grid — pops ~probes + frontier cells. `d0`/`d1` are per-
    * centroid query affinities indexed by centroid id. The ranked
    * grid is monotone (rank r+1 never beats rank r in its half), so
    * seeding (0,0) and pushing (r0+1, r1) always / (r0, r1+1) only at
    * r0 = 0 enumerates each cell once in non-increasing blend order;
    * the final sort applies the frame form's exact tie-break
    * (blend DESC, c0 ASC, c1 ASC) after draining every cell tied with
    * the boundary, so the result is IDENTICAL to sorting all c² cells
    * (ImiIvfSpec pins equality on random affinity sets). At c = 2¹⁴
    * this is the difference between walking ~probes cells and
    * materializing 2²⁸. */
  def multiSequenceWalk(d0: Array[Double], d1: Array[Double],
      probes: Int): Seq[(Int, Int)] = {
    if (probes <= 0 || d0.isEmpty || d1.isEmpty) return Seq.empty
    val o0 = d0.indices.sortBy(i => (-d0(i), i)).toArray
    val o1 = d1.indices.sortBy(i => (-d1(i), i)).toArray
    def blend(r0: Int, r1: Int): Double = d0(o0(r0)) + d1(o1(r1))
    // max-heap: blend desc, then the frame's (c0 asc, c1 asc)
    val pq = scala.collection.mutable.PriorityQueue.empty[
      (Double, Int, Int)](
      Ordering.by { case (bl, r0, r1) => (bl, -o0(r0), -o1(r1)) })
    pq.enqueue((blend(0, 0), 0, 0))
    val out = scala.collection.mutable.ArrayBuffer.empty[
      (Double, Int, Int)]
    // drain past the boundary so every cell TIED with the probes-th
    // blend is collected before the global tie-break sort
    while (pq.nonEmpty &&
        (out.length < probes || pq.head._1 >= out(probes - 1)._1)) {
      val (bl, r0, r1) = pq.dequeue()
      out += ((bl, o0(r0), o1(r1)))
      if (r0 + 1 < d0.length) pq.enqueue((blend(r0 + 1, r1), r0 + 1, r1))
      if (r0 == 0 && r1 + 1 < d1.length)
        pq.enqueue((blend(r0, r1 + 1), r0, r1 + 1))
    }
    out.sortBy { case (bl, c0, c1) => (-bl, c0, c1) }
      .take(probes).map { case (_, c0, c1) => (c0, c1) }.toSeq
  }

  /** The frame-level core of [[imiIvfKnnMultiSeq]] — ImiIvfSpec pins
    * the uneven-half-rank recall win over the cross-product prober on
    * a constructed fixture. Probe selection: the c²-row blended frame
    * at moderate c (the gated default, oracle-matched); beyond c² >
    * 1024 the per-half affinities (2·c rows — a bounded driver
    * artifact, the probe-list convention) feed [[multiSequenceWalk]]
    * instead, which emits the IDENTICAL cell set without the c²
    * enumeration. */
  def imiIvfKnnMultiSeqFrames(e: DataFrame, queryId: Long = 0L,
      k: Int = 10, subdim: Int = 32, c: Int = 16,
      iters: Int = 1, probes: Int = 4): DataFrame = {
    import e.sparkSession.implicits._
    val subs = ProductQuant.subVectors(e, 2, subdim)
    val cb = ProductQuant.trainCodebooks(subs, c, iters,
      rowsPerVec = 2)
    val codes = ProductQuant.encode(subs, cb)
    val cellOf = codes.groupBy($"vec_id")
      .agg((max(when($"sub_id" === 0, $"cent_id")) * c +
        max(when($"sub_id" === 1, $"cent_id"))).as("cell_id"))
    val q = e.filter($"vec_id" === queryId)
    val qemb = q.select($"embedding".as("qemb"))
    val qsubs = ProductQuant.subVectors(q, 2, subdim)
      .select($"sub_id", $"subvec".as("qsub"))
    // per-half centroid affinities (2·c rows), then the c² blended
    // cell order: dot decomposes additively over the halves
    val half = cb.join(broadcast(qsubs), Seq("sub_id"))
      .withColumn("qdot", dot($"cvec", $"qsub"))
      .select($"sub_id", $"cent_id", $"qdot")
    val probeCells =
      if (c.toLong * c <= 1024)
        half.filter($"sub_id" === 0)
          .select($"cent_id".as("c0"), $"qdot".as("d0"))
          .crossJoin(half.filter($"sub_id" === 1)
            .select($"cent_id".as("c1"), $"qdot".as("d1")))
          .orderBy(($"d0" + $"d1").desc, $"c0".asc, $"c1".asc)
          .limit(probes)
          .select(($"c0" * c + $"c1").as("cell_id"))
      else {
        // large c: the 2·c affinities are a bounded driver artifact
        // (probe-list convention); the lazy walk replaces the c² frame
        val d0a = Array.fill(c)(Double.NegativeInfinity)
        val d1a = Array.fill(c)(Double.NegativeInfinity)
        half.collect().foreach { r =>
          val s = r.getAs[Number]("sub_id").intValue
          val ci = r.getAs[Number]("cent_id").intValue
          val q = r.getAs[Number]("qdot").doubleValue
          if (s == 0) d0a(ci) = q else d1a(ci) = q
        }
        multiSequenceWalk(d0a, d1a, probes)
          .map { case (c0, c1) => c0.toLong * c + c1 }
          .toDF("cell_id")
      }
    val cand = cellOf.join(broadcast(probeCells), Seq("cell_id"))
      .filter($"vec_id" =!= queryId).select($"vec_id")
    e.join(cand, Seq("vec_id"))
      .crossJoin(broadcast(qemb))
      .withColumn("cos_full", cosine($"embedding", $"qemb"))
      .orderBy($"cos_full".desc, $"vec_id".asc)
      .limit(k)
      .select($"vec_id", round($"cos_full", 4).as("cosine"))
  }

  /** q106 — incremental ANN index refresh (the q68 "0.1% delta pays
    * 0.1%" contract for the vector index): IVF cells and PQ codebooks
    * are INDEX-TIME artifacts trained once over the existing corpus;
    * when a batch of new vectors arrives, the refresh pays exactly
    * one coarse assignment + one PQ encode over ITS OWN rows — two
    * broadcast passes against the stored artifacts (cells: 16 rows;
    * codebooks: m·c rows), no retraining, no old-row touch. Because
    * the artifacts stay FIXED, previously-indexed vectors' codes
    * never change — the stability invariant that makes PQ code
    * storage append-only and lets q55's cell-partitioned layout
    * append delta files per cell instead of rewriting (the
    * io/Layout partition-pruned-MERGE discipline). Quantization
    * drift from a shifting distribution is handled by a periodic
    * full retrain + re-encode, the same cadence FAISS deployments
    * use — never by the per-batch path.
    *
    * Self-contained form (the q68 convention): the "existing corpus"
    * is vec_id ≤ ⌊4·max_id/5⌋ (watermark derived from the data in
    * both engines — no constant to collide with any SF), the batch
    * is everything above. Emits the delta's index rows:
    * (vec_id, cell_id, comma-joined PQ codes). IncrementalAnnSpec
    * pins batch-independence (delta rows ≡ full-corpus encode
    * restricted to the delta) and artifact stability (old codes
    * unchanged by the batch's arrival). */
  def incrementalAnnIndex(spark: SparkSession, dir: String,
      numCells: Int = 16, m: Int = 8, subdim: Int = 8, c: Int = 16,
      iters: Int = 1): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val wm = e.agg(floor(max($"vec_id") * 4 / lit(5.0)).cast("long")
      .as("w"))
    val old = e.crossJoin(broadcast(wm)).filter($"vec_id" <= $"w")
      .select($"vec_id", $"embedding")
    val fresh = e.crossJoin(broadcast(wm)).filter($"vec_id" > $"w")
      .select($"vec_id", $"embedding")
    incrementalAnnIndexFrames(old, fresh, numCells, m, subdim, c, iters)
      .orderBy($"vec_id")
  }

  /** The frame-level core of [[incrementalAnnIndex]]: artifacts from
    * `old`, one assignment + one encode over `fresh` alone —
    * IncrementalAnnSpec drives it batch-wise to pin that splitting
    * the delta changes nothing (per-row independence = append-only
    * refresh). */
  def incrementalAnnIndexFrames(old: DataFrame, fresh: DataFrame,
      numCells: Int = 16, m: Int = 8, subdim: Int = 8, c: Int = 16,
      iters: Int = 1): DataFrame = {
    import old.sparkSession.implicits._
    // index-time artifacts — trained over the EXISTING corpus only
    val cells = seedCells(old, numCells)
    val cb = ProductQuant.trainCodebooks(
      ProductQuant.subVectors(old, m, subdim), c, iters,
      rowsPerVec = m)
    // the delta pays: one broadcast assignment + one broadcast encode
    val assignNew = assignToCells(fresh, cells)
    val packed = ProductQuant.packCodes(
      ProductQuant.encode(ProductQuant.subVectors(fresh, m, subdim), cb))
    assignNew.join(packed, Seq("vec_id"))
      .select($"vec_id", $"cent_id".as("cell_id"),
        array_join(transform($"codes", _.cast("string")), ",")
          .as("codes"))
  }

  /** Index-time writer for the IVF+PQ DEPLOYMENT layout — the
    * artifact set q55/q106's scaladocs promise ("codes live
    * cell-partitioned on disk so probing prunes files, not rows"),
    * now as tested code:
    *
    *   <indexDir>/cells/      (cent_id, cemb) — numCells rows
    *   <indexDir>/codebooks/  (sub_id, cent_id, cvec) — m·c rows
    *   <indexDir>/codes/      cell_id=<n>/ (vec_id, sub_id, cent_id,
    *                          nrm) — PARTITIONED BY the coarse cell,
    *                          so a probed search reads only its
    *                          cells' files (VectorIndexLayoutSpec
    *                          pins the inputFiles pruning)
    *
    * Training/encoding are the audited ProductQuant shapes; the
    * writer is write-once at index time, refreshed per batch via
    * q106's delta path appending into the same cell partitions. */
  def writeIvfPqIndex(spark: SparkSession, dir: String, indexDir: String,
      numCells: Int = 16, m: Int = 8, subdim: Int = 8, c: Int = 16,
      iters: Int = 1, codec: String = "pq",
      coarse: String = "flat", pgroups: Int = 0): Unit = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    writeIvfPqIndexFrames(e, e, indexDir, numCells, m, subdim, c, iters,
      codec, coarse, pgroups = pgroups)
  }

  /** Frame-level [[writeIvfPqIndex]] with the artifact/corpus split
    * made explicit: cells and codebooks TRAIN on `artifactsFrom`,
    * every `corpus` row is assigned+encoded against them — which is
    * how IncrementalAnnSpec/VectorIndexLayoutSpec prove the append
    * path equals a batch rebuild at fixed artifacts.
    *
    * `codec` picks the fine quantizer the layout persists — the
    * calibration card (q103) compares the tiers; this is where the
    * chosen tier becomes DEPLOYABLE instead of a per-query retrain:
    *  - `"pq"` — plain product codes over the raw vectors (q55).
    *  - `"residual"` — FAISS `by_residual`: codes quantize x − c(x)
    *    against the vector's cell centroid (q64's audited scheme —
    *    same code size, within-cell quantizer ball, strictly better
    *    recall on clustered data; zero-residual training exclusion
    *    and smallest-cent-id encode tie-break as in q64).
    *  - `"opq"` — eigenvalue-allocation rotation (Ge et al. 2013,
    *    [[graft.ops.OpqRotation]]) applied before plain PQ; the
    *    orthonormal rotation artifact persists beside the codebooks
    *    and is re-applied to queries at search time. Cells stay in
    *    RAW space — rotation preserves cosine, so the IVF partition
    *    is unchanged and only the quantizer's view rotates.
    *  - `"sq8"` — q90's scalar tier (FAISS IndexIVFScalarQuantizer):
    *    per-dimension 8-bit linear codes against persisted lo/hi
    *    ranges; search scores the RECONSTRUCTION (no ADC table).
    * A one-row `meta` artifact records (codec, m, subdim, num_cells,
    * c, coarse, c_grid); search/append/msearch read it and dispatch —
    * an index is self-describing, a meta-less dir reads as legacy
    * `"pq"`/`"flat"`.
    *
    * `coarse` picks the COARSE quantizer the layout persists,
    * orthogonally to the fine codec:
    *  - `"flat"` — one numCells-row centroid table (`cells/`), q34's
    *    Voronoi IVF; assignment pays numCells full-vector
    *    comparisons per vector.
    *  - `"imi"` — q104's inverted multi-index: TWO cGrid-centroid
    *    HALF-vector codebooks persist (`imi_codebooks/`, the q104
    *    artifacts, 2·cGrid rows total), cell_id = cGrid·c0 + c1,
    *    cGrid² cells for 2·cGrid half-comparisons of assignment cost
    *    — the layout a billion-vector deployment needs, where a flat
    *    coarse table with the same cell count would pay quadratically
    *    growing assignment cost. Probing follows q116's blended
    *    multi-sequence order ([[multiSequenceWalk]] — `probes` means
    *    CELLS in blended-affinity order, not a per-half budget). The
    *    codes layout, tombstones, compaction, and every fine codec
    *    compose unchanged — cell_id is just a finer-grained
    *    partition column.
    *
    * `pgroups` picks the PHYSICAL partitioning of the codes table
    * (see `writeCodes`): 0 (default) resolves automatically —
    * per-cell directories up to `graft.index.codesAutoPgroupCells`
    * (1024), grouped into `graft.index.codesPgroups` (64) physical
    * partitions beyond it; > 0 forces that group count; -1 forces
    * per-cell dirs. The RESOLVED value is recorded in `meta` and
    * inherited by appends, compactions, and the probed scans. */
  def writeIvfPqIndexFrames(artifactsFrom: DataFrame, corpus: DataFrame,
      indexDir: String, numCells: Int = 16, m: Int = 8, subdim: Int = 8,
      c: Int = 16, iters: Int = 1, codec: String = "pq",
      coarse: String = "flat", cGrid: Int = 16,
      pgroups: Int = 0): Unit =
    graft.io.Layout.withMutationLease(artifactsFrom.sparkSession,
        indexDir) {
      writeIvfPqIndexFramesImpl(artifactsFrom, corpus, indexDir,
        numCells, m, subdim, c, iters, codec, coarse, cGrid, pgroups)
    }

  private def writeIvfPqIndexFramesImpl(artifactsFrom: DataFrame,
      corpus: DataFrame, indexDir: String, numCells: Int, m: Int,
      subdim: Int, c: Int, iters: Int, codec: String,
      coarse: String, cGrid: Int, pgroups0: Int): Unit = {
    import artifactsFrom.sparkSession.implicits._
    // physical-layout resolution: pgroups0 > 0 = explicit pgroup
    // count; 0 (the default) = AUTO — per-cell directories up to
    // `graft.index.codesAutoPgroupCells` cells (1024; the measured
    // listing knee sits around ~1k dirs), pgroup'd at
    // `graft.index.codesPgroups` (64) beyond it, which is what keeps
    // an IMI grid (cGrid² cells) listable without the caller
    // remembering the knob; -1 = force per-cell dirs (the probe
    // tools' baseline leg). The RESOLVED value lands in meta, so
    // appends/compactions/search never re-derive it.
    val pgroups = {
      val sess = artifactsFrom.sparkSession
      if (pgroups0 > 0) pgroups0
      else if (pgroups0 < 0) 0
      else {
        val cellCount =
          if (coarse == "imi") cGrid.toLong * cGrid else numCells.toLong
        val knee = sess.conf
          .get("graft.index.codesAutoPgroupCells", "1024").toLong
        if (knee > 0 && cellCount > knee)
          sess.conf.get("graft.index.codesPgroups", "64").toInt
        else 0
      }
    }
    require(Set("pq", "residual", "opq", "sq8")(codec),
      s"unknown codec '$codec' (pq | residual | opq | sq8)")
    require(Set("flat", "imi")(coarse),
      s"unknown coarse quantizer '$coarse' (flat | imi)")
    val spark = artifactsFrom.sparkSession
    Layout.clearLayout(spark, indexDir, Seq("codes"))
    val halfDim = m * subdim / 2
    // ---- ONE-PASS WRITE (guide §2.4 + §8: decide per row, move the
    // payload once). The coarse assignment, the vector norm and the
    // codec codes are all DETERMINISTIC per-row functions of the
    // embedding against config-bounded artifacts (cells, half/PQ
    // codebooks, rotation, SQ ranges) — so they ride the single codes
    // pass as compiled columns against literal books. The former flow
    // materialized a checkpointed (vec_id → cell) frame (a full
    // corpus exchange), encoded via a broadcast join + corpus-keyed
    // groupBy (another), and JOINED assignment + norms back onto the
    // codes; all of that is now zero exchanges — the one shuffle left
    // is writeCodes' repartition into the cell layout, which IS the
    // artifact. The residual invariant strengthens: the stored
    // cell_id and the centroid the residual subtracts come from the
    // same per-row expression in one select (the kernel's tie-break
    // is deterministic, so re-evaluations can never disagree).

    // -- coarse quantizer: train on the driver, keep literal books --
    val (coarseArtifacts, cellColOf, cembColOf)
        : (Seq[(String, DataFrame)], DataFrame => Column,
           DataFrame => Column) = coarse match {
      case "imi" =>
        val imiCb = ProductQuant.trainCodebooks(
          ProductQuant.subVectors(artifactsFrom, 2, halfDim),
          cGrid, iters, rowsPerVec = 2)
        val books = ProductQuant.collectBooks(imiCb)
        def halfOf(s: Int): Column =
          graft.expressions.ArgMaxCosine.argmax(
            slice(col("embedding"), s * halfDim + 1, halfDim), lit(s),
            books, guardZero = true)
        val look0 = cembLookupLit(books.lift(0).getOrElse(Nil))
        val look1 = cembLookupLit(books.lift(1).getOrElse(Nil))
        (Seq("imi_codebooks" -> imiCb),
          _ => halfOf(0) * cGrid + halfOf(1),
          _ => concat(
            element_at(look0, (halfOf(0) + 1).cast("int")),
            element_at(look1, (halfOf(1) + 1).cast("int"))))
      case _ =>
        // seedCells evaluates ONCE (collected): the artifact frame
        // and the literal book share the same driver rows
        val cellRows = seedCells(artifactsFrom, numCells)
          .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
        val cellsLocal = cellRows
          .toDF("cent_id", "cemb")
        val book: Seq[(Long, Seq[Float])] = cellRows.sortBy(_._1)
        val look = cembLookupLit(book)
        (Seq("cells" -> cellsLocal),
          _ => graft.expressions.ArgMaxCosine.argmax(
            col("embedding"), lit(0), IndexedSeq(book),
            guardZero = false), // assignToCells' bare-cosine semantics
          df => element_at(look,
            (graft.expressions.ArgMaxCosine.argmax(
              col("embedding"), lit(0), IndexedSeq(book),
              guardZero = false) + 1).cast("int")))
    }

    // -- codec: train on the driver, stage artifacts, and expose the
    // payload the codes pass slices (pq family) or quantizes (sq8) --
    // opq's rotated corpus stays a shared checkpoint when training
    // and corpus are the same frame (the r18 measurement: lazy
    // re-rotation costs ~4 full d×d passes), carrying cell_id + nrm
    // computed over the ORIGINAL embedding (rotation preserves norms
    // mathematically but not bit-for-bit).
    var sharedHeld: Option[DataFrame] = None
    def withCellNrm(df: DataFrame): DataFrame =
      df.select($"vec_id", cellColOf(df).as("cell_id"),
        norm($"embedding").as("nrm"), $"embedding")
    // (path suffix -> artifact frame) staged for the final fan-out,
    // plus the frame the single codes pass runs over
    val (codecArtifacts, codesFrameOut)
        : (Seq[(String, DataFrame)], DataFrame) = codec match {
      case "pq" =>
        val cb = ProductQuant.trainCodebooks(
          ProductQuant.subVectors(artifactsFrom, m, subdim), c, iters,
          rowsPerVec = m)
        (Seq("codebooks" -> cb),
          pqCodesPass(withCellNrm(corpus), m, subdim,
            ProductQuant.collectBooks(cb)))
      case "residual" =>
        // residual = embedding − centroid(cell), per row against the
        // literal centroid lookup — training input and stored codes
        // derive from the same expression (never two assignments)
        def residOf(df: DataFrame): DataFrame =
          df.select($"vec_id", $"cell_id", $"nrm",
            zip_with($"embedding", cembColOf(df), (a, b) => a - b)
              .as("embedding"))
        val residTrain = residOf(withCellNrm(artifactsFrom))
        val cb = ProductQuant.trainCodebooks(
          ProductQuant.subVectors(
            residTrain.filter(norm($"embedding") =!= 0d), m, subdim),
          c, iters, rowsPerVec = m)
        (Seq("codebooks" -> cb),
          pqCodesPass(
            if (artifactsFrom eq corpus) residTrain
            else residOf(withCellNrm(corpus)),
            m, subdim, ProductQuant.collectBooks(cb)))
      case "opq" =>
        val r = graft.ops.OpqRotation.allocationRotation(
          graft.ops.OpqRotation.covariance(artifactsFrom, "embedding"),
          m, subdim)
        val rotation = r.zipWithIndex
          .map { case (row, i) => (i.toLong, row.toSeq) }.toSeq
          .toDF("row_id", "rvec")
        def rotOf(df: DataFrame) = df.select($"vec_id", $"cell_id",
          $"nrm",
          graft.ops.OpqRotation.rotate($"embedding", r).as("embedding"))
        val sharedRot =
          if (artifactsFrom eq corpus)
            Some(rotOf(withCellNrm(corpus)).localCheckpoint())
          else None
        sharedHeld = sharedRot
        val cb = ProductQuant.trainCodebooks(
          ProductQuant.subVectors(
            sharedRot.getOrElse(rotOf(withCellNrm(artifactsFrom))),
            m, subdim), c, iters, rowsPerVec = m)
        (Seq("codebooks" -> cb, "rotation" -> rotation),
          pqCodesPass(
            sharedRot.getOrElse(rotOf(withCellNrm(corpus))),
            m, subdim, ProductQuant.collectBooks(cb)))
      case "sq8" =>
        // per-dimension ranges from the TRAINING corpus (q90's one
        // d-row aggregation) persist as the codec artifact; codes
        // are q90's clamped 8-bit linear quantization, one int per
        // dimension (constant dims → code 0, reconstructing to lo).
        // The 1-row stats frame materializes ONCE (collected) and
        // serves the artifact write and the codes pass.
        val stRow = artifactsFrom
          .select(posexplode($"embedding").as(Seq("i", "v")))
          .groupBy($"i").agg(min($"v").as("lo"), max($"v").as("hi"))
          .agg(array_sort(collect_list(struct($"i", $"lo"))).as("slo"),
            array_sort(collect_list(struct($"i", $"hi"))).as("shi"))
          .select(transform($"slo", x => x.getField("lo")).as("lo"),
            transform($"shi", x => x.getField("hi")).as("hi"))
          .collect()
        val stLocal = stRow.toSeq
          .map(r => (r.getSeq[Float](0), r.getSeq[Float](1)))
          .toDF("lo", "hi")
        (Seq("sqstats" -> stLocal),
          withCellNrm(corpus).crossJoin(broadcast(stLocal))
            .select($"vec_id", sq8QuantCol(m * subdim).as("qcodes"),
              $"cell_id", $"nrm"))
    }
    // the codes pass, the recorded-count pass, and the tiny artifact
    // writes are mutually independent — ONE fan-out (guide §2.6),
    // then the meta row (which needs the count) lands last
    val parts = graft.ops.Jobs.par(
      Seq[() => Any](
        () => writeCodes(codesFrameOut, s"$indexDir/codes", pgroups),
        // recorded vector count: one column-pruned pass over the
        // corpus (the coarse assignment is per-row now, so every
        // corpus vector lands exactly one codes group) — RunStatus
        // serves "how many vectors does this index hold" from the
        // meta row alone
        () => corpus.count()) ++
      // coarse/codec artifacts are config-bounded LocalRelations —
      // driver-side parquet writes, zero jobs (fallback-safe)
      (coarseArtifacts ++ codecArtifacts).map { case (name, df) =>
        () => graft.io.TinyParquet.write(df, s"$indexDir/$name"): Any
      })
    val nVecs = parts(1).asInstanceOf[Long]
    graft.io.TinyParquet.write(
      Seq((codec, m, subdim, numCells, c, coarse, cGrid, pgroups,
          pgroups0 != 0, nVecs))
        .toDF("codec", "m", "subdim", "num_cells", "c", "coarse",
          "c_grid", "pgroups", "pgroups_forced", "n_vecs"),
      s"$indexDir/meta")
    sharedHeld.foreach(graft.ops.Checkpoints.unpersist(_))
  }

  /** Literal centroid-embedding lookup for one subspace's book: a
    * dense array indexed by cent_id + 1 (element_at is 1-based); gaps
    * left by dropped empty clusters hold empty vectors and are
    * unreachable — the argmax kernel only emits existing ids. */
  private def cembLookupLit(book: Seq[(Long, Seq[Float])]): Column = {
    val maxId = book.map(_._1).foldLeft(-1L)(math.max)
    val byId = book.toMap
    typedLit((0L to maxId).map(i =>
      byId.getOrElse(i, Seq.empty[Float])))
  }

  /** The single PQ-family codes pass: slice the payload embedding
    * into m subvectors and argmax each against the literal codebook —
    * (vec_id, sub_id, cent_id, cell_id, nrm), the stored codes schema,
    * computed in one map over the corpus (zero joins — guide §2.4).
    * Score/tie semantics are ProductQuant.encode/encodeDet's. */
  private def pqCodesPass(base: DataFrame, m: Int, subdim: Int,
      books: ProductQuant.Books): DataFrame = {
    import base.sparkSession.implicits._
    base.select($"vec_id", $"cell_id", $"nrm",
        posexplode_outer(transform(sequence(lit(0), lit(m - 1)),
          i => slice($"embedding", i * subdim + 1, lit(subdim))))
          .as(Seq("sub_id", "subvec")))
      .select($"vec_id",
        graft.expressions.ArgMaxCosine.argmax(
          $"subvec", $"sub_id", books, guardZero = true).as("cent_id"),
        $"sub_id", $"cell_id", $"nrm")
      .filter($"cent_id".isNotNull)
      .select($"vec_id", $"sub_id", $"cent_id", $"cell_id", $"nrm")
  }

  /** q90's clamped 8-bit linear quantization over the stored ranges:
    * (vec_id, qcodes[dims]) — the SQ8 codec's per-row encode, shared
    * by writer and append so a delta cannot quantize differently. */
  private def sq8Codes(df: DataFrame, st: DataFrame,
      dims: Int): DataFrame = {
    import df.sparkSession.implicits._
    df.crossJoin(broadcast(st))
      .withColumn("qcodes", sq8QuantCol(dims))
      .select($"vec_id", $"qcodes")
  }

  /** The clamped 8-bit quantization EXPRESSION over (embedding, lo,
    * hi) columns — shared by [[sq8Codes]] and the writer's one-pass
    * codes plan so the two faces cannot drift. */
  private def sq8QuantCol(dims: Int): Column =
    transform(sequence(lit(1), lit(dims)), i => {
      val v = element_at(col("embedding"), i).cast("double")
      val lo = element_at(col("lo"), i).cast("double")
      val hi = element_at(col("hi"), i).cast("double")
      when(hi === lo, lit(0)).otherwise(least(greatest(
        floor((v - lo) / (hi - lo) * 256d), lit(0d)), lit(255d))
        .cast("int"))
    })

  /** q90's reconstruction — evaluated over (qcodes, lo, hi) columns;
    * scoring against the reconstruction (not an ADC table) is the
    * scalar codec's whole mechanism. */
  private def sq8Recon(dims: Int): Column =
    transform(sequence(lit(1), lit(dims)), i => {
      val code = element_at(col("qcodes"), i).cast("double")
      val lo = element_at(col("lo"), i).cast("double")
      val hi = element_at(col("hi"), i).cast("double")
      when(hi === lo, lo)
        .otherwise(lo + (code + 0.5d) * (hi - lo) / 256d)
        .cast("float")
    })

  /** The index's self-description: (codec, m, subdim, coarse, cGrid)
    * — `"pq"`/`"flat"` with the caller's params for a legacy
    * meta-less dir or a meta written before the coarse dimension
    * existed. */
  /** The meta row resolves GENERATION-FIRST: a compaction that
    * re-resolved the physical codes layout stages its updated meta
    * into the committed generation (atomic with the rewritten codes),
    * so readers must prefer `<liveGen>/meta` over the write-time root
    * artifact; appends/deletes carry the live meta forward
    * ([[carryMeta]]) the way tombstones carry. The root `meta` stays
    * as the family marker (RunCompact's detection) and the legacy
    * fallback. */
  /** The single generation-first meta-path cascade both the readers
    * and the carry path resolve through — two divergent copies would
    * break exactly the staged-meta atomicity they implement. */
  private def metaSrc(spark: SparkSession, indexDir: String,
      art: String): Option[String] =
    if (graft.io.Layout.pathExists(spark, s"$art/meta")) Some(s"$art/meta")
    else if (graft.io.Layout.pathExists(spark, s"$indexDir/meta"))
      Some(s"$indexDir/meta")
    else None

  private def readMetaRow(spark: SparkSession,
      indexDir: String): Option[org.apache.spark.sql.Row] =
    metaSrc(spark, indexDir, liveArtifactDir(spark, indexDir))
      .map(graft.io.TinyParquet.readFrame(spark, _).head())

  private def metaPgroups(r: org.apache.spark.sql.Row): Int =
    if (r.schema.fieldNames.contains("pgroups")) r.getAs[Int]("pgroups")
    else 0

  /** Whether the write-time caller FORCED the physical layout
    * (`pgroups` > 0 or -1) — a forced layout never re-resolves at
    * compaction. Legacy metas without the column read as auto. */
  private def metaForced(r: org.apache.spark.sql.Row): Boolean =
    r.schema.fieldNames.contains("pgroups_forced") &&
      r.getAs[Boolean]("pgroups_forced")

  /** Carry the live meta artifact into a staged generation (byte
    * copy — no job). No-op for a meta-less legacy index. */
  private def carryMeta(spark: SparkSession, indexDir: String,
      art: String, stage: String): Unit =
    metaSrc(spark, indexDir, art)
      .foreach(graft.io.Layout.copyArtifact(spark, _, s"$stage/meta"))

  /** Carry the live meta forward with the recorded vector count
    * moved by `delta` (an append's admitted rows) — the meta-
    * rewriting face of [[carryMeta]] for mutations that change the
    * corpus size. A meta from before the `n_vecs` column byte-copies
    * unchanged: the base count is unknowable without the corpus scan
    * the meta row exists to avoid (the next fold records the true
    * count and upgrades it). */
  private def carryMetaShifted(spark: SparkSession, indexDir: String,
      art: String, stage: String, delta: Long): Unit =
    metaSrc(spark, indexDir, art).foreach { src =>
      val df = graft.io.TinyParquet.readFrame(spark, src)
      if (df.schema.fieldNames.contains("n_vecs"))
        graft.io.TinyParquet.write(
          df.withColumn("n_vecs", col("n_vecs") + lit(delta)),
          s"$stage/meta")
      else graft.io.Layout.copyArtifact(spark, src, s"$stage/meta")
    }

  /** Carry the live meta forward with the recorded vector count SET
    * to `n` — the fold's face: tombstones just applied physically,
    * so the surviving-row count is exact and a legacy meta WITHOUT
    * the column upgrades here (the fold knows the truth for free —
    * it already counted the folded codes). */
  private def carryMetaWithCount(spark: SparkSession, indexDir: String,
      art: String, stage: String, n: Long): Unit =
    metaSrc(spark, indexDir, art).foreach { src =>
      graft.io.TinyParquet.write(
        graft.io.TinyParquet.readFrame(spark, src)
          .withColumn("n_vecs", lit(n)),
        s"$stage/meta")
    }

  /** Stage a meta row identical to `r` but with the re-resolved
    * pgroup count (and, for [[pinVectorLayout]], the forced flag) —
    * the compaction-time layout upgrade's commit record. `nVecs` =
    * the post-fold vector count when the caller just folded (Some),
    * or preserve `r`'s recorded value (None). */
  private def stageMetaWithPgroups(spark: SparkSession,
      r: org.apache.spark.sql.Row, pgroups: Int, stage: String,
      forced: Boolean, nVecs: Option[Long] = None): Unit = {
    import spark.implicits._
    val base = Seq((
      r.getAs[String]("codec"), r.getAs[Int]("m"), r.getAs[Int]("subdim"),
      if (r.schema.fieldNames.contains("num_cells"))
        r.getAs[Int]("num_cells") else 16,
      if (r.schema.fieldNames.contains("c")) r.getAs[Int]("c") else 16,
      if (r.schema.fieldNames.contains("coarse"))
        r.getAs[String]("coarse") else "flat",
      if (r.schema.fieldNames.contains("c_grid"))
        r.getAs[Int]("c_grid") else 16,
      pgroups, forced))
      .toDF("codec", "m", "subdim", "num_cells", "c", "coarse",
        "c_grid", "pgroups", "pgroups_forced")
    val counted = nVecs.orElse(
      if (r.schema.fieldNames.contains("n_vecs"))
        Some(r.getAs[Long]("n_vecs"))
      else None)
    val out = counted match {
      case Some(n) => base.withColumn("n_vecs", lit(n))
      case None => base
    }
    graft.io.TinyParquet.write(out, s"$stage/meta")
  }

  /** PIN the index's CURRENT physical codes layout as a write-time-
    * forced choice (`meta.pgroups_forced = true`, pgroup count
    * unchanged) — the migration face for indexes written BEFORE the
    * forced flag existed: such a meta is indistinguishable from
    * auto-resolved, so the next compaction would fold a deliberately
    * per-cell baseline into pgroups (harmless for correctness, wrong
    * for an operator who chose the per-cell layout on purpose).
    * Stages the stamped meta into a fresh generation carrying the
    * live tombstones and manifest — the pin commits under exactly
    * the atomicity every other meta change does (one marker, lease-
    * fenced). RunCompact exposes it as `--pin-layout`. Returns the
    * pinned pgroup count. */
  def pinVectorLayout(spark: SparkSession, indexDir: String): Int =
    graft.io.Layout.withMutationLease(spark, indexDir) {
      pinVectorLayoutImpl(spark, indexDir)
    }

  private def pinVectorLayoutImpl(spark: SparkSession,
      indexDir: String): Int = {
    val art = liveArtifactDir(spark, indexDir)
    val r = readMetaRow(spark, indexDir).getOrElse(
      throw new IllegalArgumentException(
        s"$indexDir has no meta artifact — --pin-layout applies to " +
          "the stored vector family only"))
    val pg = metaPgroups(r)
    val next = Layout.openGeneration(spark, indexDir)
    stageMetaWithPgroups(spark, r, pg, next.dir, forced = true)
    Layout.carryUnchanged(spark, art, next.dir, tombstones = true,
      manifest = true)
    Layout.commitGenerationAndRetire(spark, indexDir, next.dir, next.gen, art)
    pg
  }

  private def readIndexMeta(spark: SparkSession, indexDir: String,
      m: Int, subdim: Int): (String, Int, Int, String, Int, Int) =
    readMetaRow(spark, indexDir) match {
      case Some(r) =>
        val coarse =
          if (r.schema.fieldNames.contains("coarse")) r.getAs[String]("coarse")
          else "flat"
        val cGrid =
          if (r.schema.fieldNames.contains("c_grid")) r.getAs[Int]("c_grid")
          else 16
        (r.getAs[String]("codec"), r.getAs[Int]("m"), r.getAs[Int]("subdim"),
          coarse, cGrid, metaPgroups(r))
      case None => ("pq", m, subdim, "flat", 16, 0)
    }

  /** IMI coarse assignment (q104's composition over the PERSISTED
    * half codebooks): each vector's two halves encode independently
    * against their `cGrid`-centroid codebooks and the cell id is
    * `cGrid·c0 + c1` — the two-level grid whose assignment cost is
    * 2·cGrid HALF-vector comparisons for cGrid² cells (the
    * quadratic-cells-for-linear-cost trade that makes a
    * billion-vector coarse quantizer affordable, Babenko & Lempitsky
    * 2012). Deterministic tie-break ([[ProductQuant.encodeDet]],
    * smallest cent_id): the stored cell_id and any residual taken
    * against it must come from ONE assignment, the flat-coarse
    * discipline assignToCells carries. */
  private def imiAssign(df: DataFrame, imiCb: DataFrame,
      cGrid: Int, halfDim: Int): DataFrame = {
    import df.sparkSession.implicits._
    // PURE MAP (guide §2.4): both halves encode per row against the
    // literal half codebooks (the same compiled argmax kernel
    // encodeDet now uses — identical scores, zero-guard, smallest-
    // cent tie-break), and the cell composes inline — the former
    // shape exploded to 2 rows per vector, encoded via the codebook
    // join, and re-composed with a corpus-keyed groupBy exchange.
    val books = ProductQuant.collectBooks(imiCb)
    def half(sub: Int): Column =
      graft.expressions.ArgMaxCosine.argmax(
        slice($"embedding", sub * halfDim + 1, halfDim), lit(sub),
        books, guardZero = true)
    df.select($"vec_id",
        (half(0) * cGrid + half(1)).as("cent_id"))
      .filter($"cent_id".isNotNull)
  }

  /** Composed IMI coarse centroids for the cell ids in `needed` —
    * concat(half-0 centroid, half-1 centroid), derived from the two
    * cGrid-row half codebooks instead of materializing the cGrid²
    * grid (at the paper's cGrid = 2¹⁴ the grid is 2²⁸ full vectors;
    * the residual codec only ever needs the OCCUPIED cells at encode
    * time and the PROBED cells at query time, both joined here). */
  private def imiCembFor(needed: DataFrame, imiCb: DataFrame,
      cGrid: Int): DataFrame = {
    import needed.sparkSession.implicits._
    needed.select($"cent_id")
      .withColumn("c0", floor($"cent_id" / cGrid).cast("long"))
      .withColumn("c1", pmod($"cent_id", lit(cGrid.toLong)))
      .join(broadcast(imiCb.filter($"sub_id" === 0)
        .select($"cent_id".as("c0"), $"cvec".as("v0"))), Seq("c0"))
      .join(broadcast(imiCb.filter($"sub_id" === 1)
        .select($"cent_id".as("c1"), $"cvec".as("v1"))), Seq("c1"))
      .select($"cent_id", concat($"v0", $"v1").as("cemb"))
  }

  /** IMI probe list in q116's blended multi-sequence order: the
    * 2·cGrid per-half query affinities (a bounded driver artifact —
    * the probe-list convention) feed [[multiSequenceWalk]], which
    * emits the top-`probes` cells by `dot(q₀,c₀) + dot(q₁,c₁)`
    * without enumerating the grid. `q` is the 1-row (vec_id,
    * embedding) query frame. */
  private def imiProbeCells(q: DataFrame, imiCb: DataFrame,
      cGrid: Int, halfDim: Int, probes: Int): Seq[Long] = {
    import q.sparkSession.implicits._
    val qsubs = ProductQuant.subVectors(q, 2, halfDim)
      .select($"sub_id", $"subvec".as("qsub"))
    val d0 = Array.fill(cGrid)(Double.NegativeInfinity)
    val d1 = Array.fill(cGrid)(Double.NegativeInfinity)
    imiCb.join(broadcast(qsubs), Seq("sub_id"))
      .select($"sub_id", $"cent_id", dot($"cvec", $"qsub").as("qdot"))
      .collect().foreach { r =>
        val s = r.getAs[Number]("sub_id").intValue
        val ci = r.getAs[Number]("cent_id").intValue
        val d = r.getAs[Number]("qdot").doubleValue
        if (s == 0) d0(ci) = d else d1(ci) = d
      }
    multiSequenceWalk(d0, d1, probes)
      .map { case (c0, c1) => c0.toLong * cGrid + c1 }
  }

  /** DISTRIBUTED per-query IMI probe selection — the msearch-scale
    * face of [[imiProbeCells]] (public: ProbeImiWalk measures it): the blended multi-sequence walk runs
    * in `mapPartitions` over the BROADCAST half-codebooks (2·cGrid
    * rows — a persisted index artifact, bounded by design), so a
    * 1000-query batch at cGrid = 2¹⁴ costs executor work instead of
    * collecting a |Q|·2¹⁵-row half-affinity frame onto the driver
    * and walking it there. Per-half dot products replicate
    * [[graft.expressions.FloatVectorDot]]'s left-to-right double
    * accumulation over the min length exactly, so the emitted cell
    * set is bit-identical to the frame path's (the gate-exact imi
    * msearch spec pins equality with the self-contained batch).
    * Probe-selection time is therefore flat in |Q| on the driver —
    * the walk parallelizes with the queries (ProbeScaleCurve's
    * imi-batch leg measures it). */
  def imiProbeCellsBatch(queries: DataFrame, imiCb: DataFrame,
      cGrid: Int, halfDim: Int, probes: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val cb0 = Array.fill(cGrid)(null: Array[Float])
    val cb1 = Array.fill(cGrid)(null: Array[Float])
    imiCb.select($"sub_id", $"cent_id", $"cvec").collect().foreach { r =>
      val v = r.getSeq[Float](2).toArray
      val ci = r.getAs[Number](1).intValue
      if (r.getAs[Number](0).intValue == 0) cb0(ci) = v else cb1(ci) = v
    }
    val bc = spark.sparkContext.broadcast((cb0, cb1))
    val g = cGrid
    val hd = halfDim
    val pr = probes
    queries.select($"q_id", $"qemb").as[(Long, Array[Float])]
      .mapPartitions { it =>
        val (c0s, c1s) = bc.value
        // FloatVectorDot parity: Σ (double) cv(i) · (double) q(off+i),
        // left to right, over min(|cv|, |qsub|); a missing (empty-
        // cluster) centroid scores -∞ exactly like the frame path's
        // absent affinity row
        def dotAt(cv: Array[Float], emb: Array[Float],
            off: Int): Double = {
          if (cv == null) return Double.NegativeInfinity
          val n = math.min(cv.length,
            math.min(hd, math.max(0, emb.length - off)))
          var s = 0.0
          var i = 0
          while (i < n) {
            s += cv(i).toDouble * emb(off + i).toDouble
            i += 1
          }
          s
        }
        it.flatMap { case (qid, emb) =>
          val d0 = Array.tabulate(g)(ci => dotAt(c0s(ci), emb, 0))
          val d1 = Array.tabulate(g)(ci => dotAt(c1s(ci), emb, hd))
          multiSequenceWalk(d0, d1, pr)
            .map { case (c0, c1) => (qid, c0.toLong * g + c1) }
        }
      }.toDF("q_id", "cell_id")
  }

  /** Physical CODES write — the one place the cell partitioning is
    * chosen. `pgroups = 0` (the default): `partitionBy(cell_id)`,
    * one directory per cell — exact directory-level file pruning,
    * ideal up to ~1k cells. `pgroups > 0`: cells group into
    * `pmod(cell_id, pgroups)` physical partitions with rows SORTED
    * by cell_id inside each file, so a probe prunes to |probed
    * pgroups| directories by listing and to the probed cells' row
    * groups by parquet min/max stats — the layout for large cell
    * counts, where ProbeScaleCurve measured per-cell directory
    * LISTING (not data) as the stored-face bottleneck (~1.4k dirs at
    * 2M vectors), and the only layout that stays listable at the
    * cGrid² cells IMI exists for. Recorded in `meta.pgroups`; append
    * and compaction dispatch through it so segments and folds always
    * match the base layout. */
  private def writeCodes(df: DataFrame, path: String,
      pgroups: Int): Unit = {
    import df.sparkSession.implicits._
    if (pgroups > 0) {
      val out = df.drop("pgroup")
        .withColumn("pgroup",
          pmod($"cell_id", lit(pgroups.toLong)).cast("int"))
      out.repartition($"pgroup")
        .sortWithinPartitions($"pgroup", $"cell_id")
        .write.mode("overwrite").partitionBy("pgroup").parquet(path)
      // a compaction after a full-corpus takedown folds to zero rows,
      // and a zero-row partitionBy write is schema-less — keep the
      // codes table readable (empty, with schema)
      graft.io.Layout.ensureReadableParquet(df.sparkSession, path,
        out.schema)
    } else {
      val out = df.drop("pgroup")
      out.repartition($"cell_id") // one file per cell, not tasks × cells
        .write.mode("overwrite").partitionBy("cell_id").parquet(path)
      graft.io.Layout.ensureReadableParquet(df.sparkSession, path,
        out.schema)
    }
  }

  /** The probed-cells scan under either physical layout: cell-
    * partitioned indexes prune directories on the cell_id literal
    * directly; pgroup'd indexes prune directories on the probed
    * cells' pgroups and rows on the cell_id filter (row-group
    * min/max over the sorted files). Both keep the probe list a
    * bounded literal — never a join. */
  private def prunedCodes(codes: DataFrame, cells: Seq[Long],
      pgroups: Int): DataFrame = {
    import codes.sparkSession.implicits._
    val byCell = codes.filter($"cell_id".isInCollection(cells))
    if (pgroups > 0)
      byCell.filter($"pgroup".isInCollection(
        cells.map(c => (c % pgroups).toInt).distinct))
    else byCell
  }

  /** Manifest-resolved codes frame (base ∪ committed segments) — each
    * directory reads separately so cell_id partition filters push
    * into every child scan ([[graft.io.Layout.readDirs]]). Public for
    * layout specs and maintenance tooling. Training-time artifacts
    * (cells, codebooks, rotation, sqstats, the write-time meta) stay
    * at the root, immutable between retrains (the q106 stability
    * contract); only tombstones, the manifest and the live meta move
    * with the generations. */
  def codesFrame(spark: SparkSession, indexDir: String): DataFrame =
    Layout.readDirs(spark, indexDir,
      Layout.readSegments(spark, liveArtifactDir(spark, indexDir)).dirs("codes"))

  /** The persisted OPQ rotation, reassembled row-major (d ≤ a few
    * hundred — a bounded driver artifact, like the ADC table). */
  private def readRotation(spark: SparkSession,
      indexDir: String): Array[Array[Float]] = {
    import spark.implicits._
    graft.io.TinyParquet.readFrame(spark, s"$indexDir/rotation")
      .orderBy($"row_id")
      .collect().map(_.getSeq[Float](1).toArray)
  }

  /** The q106 delta path landing in the STORED layout: a fresh batch
    * assigns+encodes against the index's PERSISTED artifacts (read,
    * never retrained — the q106 stability contract) and lands as an
    * immutable cell-partitioned SEGMENT. Equal to a batch rebuild at
    * fixed artifacts (VectorIndexLayoutSpec pins stored-search frame
    * equality between append and rebuild).
    *
    * Same staged-segment exactly-once protocol as
    * [[graft.ops.FullText.appendToTextIndex]]: the delta's codes land
    * in `seg-<id>/codes/` (unreferenced, invisible), the manifest +
    * carried tombstones stage into `gen-(N+1)` and ONE marker commits
    * them together. A replay whose `segmentId` is already in the live
    * manifest is a no-op; a replay over a crashed half-append
    * re-stages cleanly — the vector refresh stream no longer needs
    * (or has) a marker-log guard with its residual double-apply
    * window. */
  def appendToIvfPqIndex(spark: SparkSession, indexDir: String,
      fresh: DataFrame, m: Int = 8, subdim: Int = 8,
      segmentId: Option[String] = None): Unit =
    graft.io.Layout.withMutationLease(spark, indexDir) {
      appendToIvfPqIndexImpl(spark, indexDir, fresh, m, subdim,
        segmentId)
    }

  private def appendToIvfPqIndexImpl(spark: SparkSession,
      indexDir: String, fresh: DataFrame, m: Int, subdim: Int,
      segmentId: Option[String]): Unit = {
    import spark.implicits._
    val art = liveArtifactDir(spark, indexDir)
    val seg = Layout.readSegments(spark, art)
    if (segmentId.exists(id => seg.applied.contains(s"seg-$id")))
      return // the batch's commit record exists: full replay no-op
    // writer-unique staging (gen dir + the segment's codes dir) —
    // renamed to the final names inside the commit, after the lease
    // fence re-read
    val next = Layout.openGeneration(spark, indexDir,
      gen => Seq(segmentId.fold(s"seg-gen$gen")(id => s"seg-$id")))
    val stage = next.dir
    val (segStaged, segName) = next.sides.head
    val (codec, mm, sd, coarse, cGrid, pgroups) =
      readIndexMeta(spark, indexDir, m, subdim)
    // the delta assigns through the SAME coarse quantizer the writer
    // persisted (meta-dispatched — flat cells or the q104 half
    // codebooks), as a PER-ROW column against the collected artifact
    // (guide §2.4 — the former checkpointed assignment frame cost a
    // corpus-keyed exchange and two join-backs); appended rows land
    // in the partitions every search face probes
    val (cellCol, cembCol, coarseEmpty): (Column, Column, Boolean) =
      coarse match {
        case "imi" =>
          val books = ProductQuant.collectBooks(
            graft.io.TinyParquet.readFrame(spark, s"$indexDir/imi_codebooks"))
          def halfOf(s: Int): Column =
            graft.expressions.ArgMaxCosine.argmax(
              slice(col("embedding"), s * (mm * sd / 2) + 1, mm * sd / 2),
              lit(s), books, guardZero = true)
          val look0 = cembLookupLit(books.lift(0).getOrElse(Nil))
          val look1 = cembLookupLit(books.lift(1).getOrElse(Nil))
          (halfOf(0) * cGrid + halfOf(1),
            concat(element_at(look0, (halfOf(0) + 1).cast("int")),
              element_at(look1, (halfOf(1) + 1).cast("int"))),
            books.size < 2 || books.exists(_.isEmpty))
        case _ =>
          val book: Seq[(Long, Seq[Float])] =
            graft.io.TinyParquet.readFrame(spark, s"$indexDir/cells")
              .select($"cent_id", $"cemb").collect()
              .map(r => (r.getLong(0), r.getSeq[Float](1)))
              .sortBy(_._1).toSeq
          val assignC = graft.expressions.ArgMaxCosine.argmax(
            col("embedding"), lit(0), IndexedSeq(book),
            guardZero = false)
          (assignC,
            element_at(cembLookupLit(book), (assignC + 1).cast("int")),
            book.isEmpty)
      }
    // an EMPTY delta writes and references no segment dir — an empty
    // partitionBy write leaves a _SUCCESS-only directory that poisons
    // every later manifest union; the applied segment id still
    // commits so a replayed empty batch stays a no-op (the text
    // append's contract). A first-partition peek over the input; a
    // degenerate empty coarse artifact assigns nothing (the old
    // assignment frame's contract), so it is "empty" too.
    val deltaEmpty = coarseEmpty || fresh.isEmpty
    if (deltaEmpty) {
      Layout.carryUnchanged(spark, art, stage, tombstones = true)
      carryMeta(spark, indexDir, art, stage)
      Layout.writeSegments(spark, stage, seg.dirs("codes").map(("codes", _)),
        seg.applied :+ segName)
      Layout.commitGenerationAndRetire(spark, indexDir, stage, next.gen, art)
      return
    }
    val withCell = fresh.select($"vec_id", cellCol.as("cell_id"),
      norm($"embedding").as("nrm"), $"embedding")
    // the delta encodes through the SAME codec chain the writer used
    // (meta-dispatched), against the PERSISTED artifacts — append ≡
    // rebuild at fixed artifacts holds per codec; the whole segment
    // (codes + cell + nrm) is ONE pass over the delta, zero joins
    lazy val cbBooks = ProductQuant.collectBooks(
      graft.io.TinyParquet.readFrame(spark, s"$indexDir/codebooks"))
    val segCodes = codec match {
      case "residual" =>
        pqCodesPass(withCell.select($"vec_id", $"cell_id", $"nrm",
          zip_with($"embedding", cembCol, (a, b) => a - b)
            .as("embedding")), mm, sd, cbBooks)
      case "opq" =>
        val r = readRotation(spark, indexDir)
        pqCodesPass(withCell.select($"vec_id", $"cell_id", $"nrm",
          graft.ops.OpqRotation.rotate($"embedding", r)
            .as("embedding")), mm, sd, cbBooks)
      case "sq8" =>
        withCell.crossJoin(broadcast(
            graft.io.TinyParquet.readFrame(spark, s"$indexDir/sqstats")))
          .select($"vec_id", sq8QuantCol(mm * sd).as("qcodes"),
            $"cell_id", $"nrm")
      case _ =>
        pqCodesPass(withCell, mm, sd, cbBooks)
    }
    // the segment codes write, the recorded-count meta shift, the
    // tombstone carry and the manifest write are independent staged
    // artifacts — fan out (guide §2.6), then commit once
    graft.ops.Jobs.par(Seq[() => Any](
      () => writeCodes(segCodes, s"$indexDir/$segStaged/codes", pgroups),
      () => Layout.carryUnchanged(spark, art, stage, tombstones = true),
      // recorded-count maintenance: one column-pruned count of the
      // delta (every admitted vector lands exactly one cell) shifts
      // meta.n_vecs
      () => carryMetaShifted(spark, indexDir, art, stage, fresh.count()),
      () => Layout.writeSegments(spark, stage,
        (seg.dirs("codes") :+ s"$segName/codes").map(("codes", _)),
        seg.applied :+ segName)))
    Layout.commitGenerationAndRetire(spark, indexDir, stage, next.gen, art,
      sideRenames = next.sides)
  }

  /** Maintenance compactor for the stored layout's cell-partitioned
    * codes: every [[appendToIvfPqIndex]] lands a SEGMENT whose
    * per-cell files degrade exactly the probe-pruned scan the
    * partitioning exists for. Base + segments fold (minus tombstones)
    * into a fresh `codes-v<gen>/` (one file per cell), ONE marker
    * cuts the generation over (a crash anywhere leaves the old
    * generation live and only unreferenced dirs on disk — GC'd
    * idempotently on the next run), then superseded dirs reclaim.
    * Cells/codebooks are tiny single-write artifacts and never need
    * it. VectorIndexLayoutSpec pins file reclamation + stored-search
    * frame equality across the rewrite. */
  def compactIvfPqIndex(spark: SparkSession,
      indexDir: String): (Long, Long, Long) =
    graft.io.Layout.withMutationLease(spark, indexDir) {
      compactIvfPqIndexImpl(spark, indexDir)
    }

  private def compactIvfPqIndexImpl(spark: SparkSession,
      indexDir: String): (Long, Long, Long) = {
    import spark.implicits._
    Layout.sweepUnreferenced(spark, indexDir, Seq("codes"))
    val art = liveArtifactDir(spark, indexDir)
    val tombPath = s"$art/tombstones"
    val hasTomb = Layout.pathExists(spark, tombPath)
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val seg = Layout.readSegments(spark, art)
    val before = Layout.countDataFiles(spark, indexDir, seg.dirs("codes"))
    val next = Layout.openGeneration(spark, indexDir, gen => Seq(s"codes-v$gen"))
    val stage = next.dir
    val (stCodes, newCodes) = next.sides.head
    val base = Layout.readDirs(spark, indexDir, seg.dirs("codes"))
    val folded0 =
      if (hasTomb)
        base.join(spark.read.parquet(tombPath)
          .select($"vec_id").distinct(), Seq("vec_id"), "left_anti")
      else base
    // the fold RE-RESOLVES the physical layout against the index as
    // it stands NOW: a per-cell index whose occupied-cell count has
    // grown past the `graft.index.codesAutoPgroupCells` listing knee
    // (appends land in cells the initial write never saw; an IMI
    // grid fills in) rewrites into the pgroup'd layout here, and the
    // new layout commits ATOMICALLY with the fold via a meta staged
    // into the same generation — without this, an index written
    // per-cell at 500 cells keeps paying the measured listing curve
    // forever. An EXPLICIT write-time choice (`pgroups` > 0 or -1 →
    // meta.pgroups_forced) is preserved; only auto-resolved layouts
    // re-resolve.
    val metaRow = readMetaRow(spark, indexDir)
    val oldPgroups = metaRow.map(metaPgroups).getOrElse(0)
    val newPgroups = metaRow match {
      case Some(r) if !metaForced(r) && oldPgroups == 0 =>
        val knee = spark.conf
          .get("graft.index.codesAutoPgroupCells", "1024").toLong
        // occupancy = the number of cell_id= directories across the
        // live codes dirs (per-cell layout by this branch's
        // precondition) — a LISTING, never a corpus scan: the same
        // listing-vs-scan economy the pgroup layout exists for. An
        // upper bound vs the post-tombstone fold, erring toward
        // grouping — harmless (pgroups serve any occupancy). Only
        // paid when the knee is ENABLED — knee = 0 pins per-cell
        // layouts and must not walk 10k+ dirs to discard the answer.
        // Caveat: a PRE-pgroups_forced index that forced per-cell
        // with -1 is indistinguishable from auto here and will
        // re-group; rewrite such baselines with current code to pin.
        def occupied: Long = {
          val names = scala.collection.mutable.HashSet[String]()
          seg.dirs("codes").foreach { d =>
            val p = new org.apache.hadoop.fs.Path(s"$indexDir/$d")
            if (fs.exists(p))
              fs.listStatus(p).foreach { st =>
                val n2 = st.getPath.getName
                if (st.isDirectory && n2.startsWith("cell_id="))
                  names += n2
              }
          }
          names.size.toLong
        }
        if (knee > 0 && occupied > knee)
          spark.conf.get("graft.index.codesPgroups", "64").toInt
        else 0
      case _ => oldPgroups
    }
    writeCodes(folded0, s"$indexDir/$stCodes", newPgroups)
    val rows = spark.read.parquet(s"$indexDir/$stCodes").count()
    // stage the (possibly re-resolved) meta into the generation — the
    // layout the codes were just written in and the meta readers
    // dispatch on become visible together or not at all
    metaRow.foreach { r =>
      // vectors, not code rows: pq/residual/opq store exactly m sub-
      // code rows per vector (encode groups per (vec_id, sub_id));
      // sq8 stores one array row per vector — so the folded VECTOR
      // count derives from the footer count by arithmetic, never a
      // distinct() pass over the rewritten codes
      val mm = r.getAs[Int]("m")
      val foldedVecs =
        if (r.getAs[String]("codec") == "sq8") rows else rows / mm
      if (newPgroups != oldPgroups)
        stageMetaWithPgroups(spark, r, newPgroups, stage,
          metaForced(r), nVecs = Some(foldedVecs))
      else
        // tombstones just applied physically: the folded count is
        // exact, and a pre-n_vecs meta upgrades here for free
        carryMetaWithCount(spark, indexDir, art, stage, foldedVecs)
    }
    // no tombstones in the new generation: physically applied; the
    // applied-segments registry carries forward past the fold
    Layout.writeSegments(spark, stage, Seq(("codes", newCodes)), seg.applied)
    Layout.commitGenerationAndRetire(spark, indexDir, stage, next.gen, art,
      sideRenames = next.sides)
    // the ROOT codes dir reclaims through the liveness check too —
    // a retained older generation's manifest may still reference it
    Layout.sweepUnreferenced(spark, indexDir, Seq("codes"))
    (before, Layout.countDataFiles(spark, indexDir, Seq(newCodes)), rows)
  }

  /** Tombstone DELETE from the stored vector index — the text twin
    * is [[graft.ops.FullText.deleteFromTextIndex]], and the need is
    * the same takedown/dedup-ruling path (q117 decides which cluster
    * member survives; this is what evicts the losers from a served
    * index): ids land in `<indexDir>/tombstones/` (delete-batch-
    * sized I/O), [[ivfPqSearchStored]] anti-joins them before the
    * ADC scoring, and [[compactIvfPqIndex]] physically reclaims the
    * code rows. Unlike BM25, the IVF+PQ artifacts hold NO corpus
    * aggregates a delete could stale — cells and codebooks are
    * training artifacts, deliberately fixed between retrains (the
    * q106 stability contract; FAISS `remove_ids` keeps its
    * quantizers the same way) — so search-after-delete is exactly
    * search-over-surviving-codes (VectorIndexLayoutSpec's pin).
    *
    * PRESENT-ONLY, like the text twin: the batch semi-joins the live
    * codes before tombstoning, so an absent id (replayed past a fold,
    * or never indexed) is a strict no-op — `n_vecs_live` stays true
    * and no ghost rows ride later rewrites. Consequently a delete
    * arriving BEFORE its vector's append does NOT pre-tombstone the
    * future vector (FAISS `remove_ids` of an unknown id removes
    * nothing, same semantics); order ruling feeds after ingestion. */
  def deleteFromIvfPqIndex(spark: SparkSession, indexDir: String,
      ids: Seq[Long]): Unit = {
    import spark.implicits._
    deleteFromIvfPqIndex(spark, indexDir, ids.toDF("vec_id"))
  }

  /** The DISTRIBUTED face of the vector tombstone delete — `ids`'
    * FIRST column (cast to long) is the vec ids, and the batch never
    * funnels through the driver: idempotence is a `left_anti` join
    * against the live tombstone frame, and the rewritten artifact is
    * `old ∪ batch` written distributed
    * ([[graft.io.Layout.writeTombstoneArtifact]]) — a dedup-losers
    * purge of a third of the corpus between compactions costs one
    * shuffle, not billions of longs on the driver. Bulk callers (the
    * vector takedown stream, a q117 ruling frame) pass their frame
    * straight through. */
  def deleteFromIvfPqIndex(spark: SparkSession, indexDir: String,
      ids: DataFrame): Unit =
    graft.io.Layout.withMutationLease(spark, indexDir) {
      deleteFromIvfPqIndexImpl(spark, indexDir, ids)
    }

  private def deleteFromIvfPqIndexImpl(spark: SparkSession,
      indexDir: String, ids: DataFrame): Unit = {
    import spark.implicits._
    val art = liveArtifactDir(spark, indexDir)
    val hadTomb = graft.io.Layout.pathExists(spark, s"$art/tombstones")
    val oldTomb =
      if (hadTomb)
        spark.read.parquet(s"$art/tombstones")
          .select($"vec_id").distinct()
      else Seq.empty[Long].toDF("vec_id")
    // idempotent like the text twin: already-tombstoned ids drop
    // via anti-join, so retried takedown jobs never bloat the
    // tombstone artifact
    val dedup = ids
      .select(col(ids.columns.head).cast("long").as("vec_id"))
      .filter($"vec_id".isNotNull).distinct()
    // PRESENT-ONLY discipline (the text family's cross-fold replay
    // fix, ops/FullText.scala:1229 — same failure shape): a takedown
    // id replayed AFTER a fold (the fold physically drops the rows
    // and clears the tombstone set the anti-join above checks) or a
    // never-indexed id would otherwise land as a GHOST tombstone —
    // harmless to search (nothing to mask) but under-reporting
    // `n_vecs_live` (= n_vecs − tombstone rows) until the next fold.
    // One semi-join against the live codes bounds tombstones to ids
    // the index actually serves; output is delete-batch-sized, and
    // the planner broadcasts whichever side is small.
    val present = codesFrame(spark, indexDir).select($"vec_id")
      .join(dedup, Seq("vec_id"), "left_semi").distinct()
    // first delete (no tombstones yet) skips the idempotence join
    val fresh =
      (if (hadTomb) present.join(oldTomb, Seq("vec_id"), "left_anti")
       else present).localCheckpoint()
    val nFresh = fresh.count()
    if (nFresh == 0L) { graft.ops.Checkpoints.unpersist(fresh); return }
    // tombstones + the carried manifest commit as ONE generation —
    // never half-visible
    val next = Layout.openGeneration(spark, indexDir)
    val stage = next.dir
    val nOld =
      if (hadTomb)
        graft.io.Layout.tombstoneRowCount(spark, s"$art/tombstones",
          oldTomb)
      else 0L
    // tombstone rewrite, meta carry, and manifest carry (a byte copy:
    // a delete moves no codes) are independent staged artifacts — fan
    // out (guide §2.6)
    graft.ops.Jobs.par(Seq[() => Any](
      () => graft.io.Layout.writeTombstoneArtifact(spark,
        if (hadTomb) oldTomb.unionByName(fresh) else fresh,
        s"$stage/tombstones", nOld + nFresh),
      () => carryMeta(spark, indexDir, art, stage),
      () => Layout.carryUnchanged(spark, art, stage, manifest = true)))
    Layout.commitGenerationAndRetire(spark, indexDir, stage, next.gen, art)
    graft.ops.Checkpoints.unpersist(fresh)
  }

  /** Query-time IVF+PQ search over a STORED index — the plan a
    * deployment actually runs, with no training anywhere: cells and
    * codebooks load as tiny artifacts, the probe list is a bounded
    * driver artifact (`probes` cell ids) interpolated as a LITERAL
    * partition filter — which is what lets the codes scan prune to
    * the probed cells' FILES (PartitionFilters, spec-pinned) — ADC
    * scores ride the pruned scan, and only the `shortlist` survivors
    * fetch their raw vectors for the exact rerank. Semantics equal
    * [[ivfPqAnnKnn]] by construction (same artifacts, same ADC, same
    * rerank; VectorIndexLayoutSpec pins frame equality). */
  def ivfPqSearchStored(spark: SparkSession, indexDir: String,
      dir: String, queryId: Long = 0L, k: Int = 10, probes: Int = 2,
      shortlist: Int = 50, m: Int = 8, subdim: Int = 8,
      allowed: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val fp = ProductQuant.fixedPointScale
    // codec dispatch (self-describing index — see writeIvfPqIndexFrames)
    val (codec, mm, sd, coarse, cGrid, pgroups) =
      readIndexMeta(spark, indexDir, m, subdim)
    // lazy: the sq8 codec writes no codebooks artifact
    lazy val cb = graft.io.TinyParquet.readFrame(spark, s"$indexDir/codebooks")
    val e = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val q = e.filter($"vec_id" === queryId)
    val qemb = q.select($"embedding".as("qemb"))
    // probe list per the persisted coarse quantizer: flat ranks the
    // cells table; imi walks q116's blended multi-sequence order over
    // the 2·cGrid half affinities — both a bounded driver artifact
    // that becomes the literal partition filter below
    val probedCells = coarse match {
      case "imi" => imiProbeCells(q,
        graft.io.TinyParquet.readFrame(spark, s"$indexDir/imi_codebooks"), cGrid,
        mm * sd / 2, probes)
      case _ => probeTop(graft.io.TinyParquet.readFrame(spark, s"$indexDir/cells"), qemb,
          probes)
        .collect().map(_.getLong(0)).toSeq
    }
    def centsFor(needed: DataFrame): DataFrame = coarse match {
      case "imi" => imiCembFor(needed,
        graft.io.TinyParquet.readFrame(spark, s"$indexDir/imi_codebooks"), cGrid)
      case _ => graft.io.TinyParquet.readFrame(spark, s"$indexDir/cells")
    }
    val vart = liveArtifactDir(spark, indexDir)
    val codes1 = prunedCodes(
      codesFrame(spark, indexDir), probedCells, pgroups)
    // PRE-filter semantics for the ES 8.x `knn.filter` clause served
    // from the stored index (q113's stored face): the metadata
    // predicate restricts candidates BEFORE the ADC scoring, so the
    // page always holds k qualifying hits — post-filtering a
    // selective predicate would empty it. The semi-join sits under
    // the probed scan (FAISS IDSelector / Lucene acceptDocs shape);
    // no broadcast hint, since the allowed set can be corpus-scale
    // for a loose predicate (AQE picks the strategy).
    val codes0 = allowed.fold(codes1)(a =>
      codes1.join(a.select($"vec_id"), Seq("vec_id"), "left_semi"))
    // tombstoned vectors never reach the ADC scoring (the FAISS
    // IDSelector mask as an anti-join; compaction reclaims the rows)
    val codes =
      if (graft.io.Layout.pathExists(spark, s"$vart/tombstones"))
        // no broadcast hint: the tombstone set is bounded by
        // deletes-since-compaction, but that bound is operational,
        // not structural (storedVectorLifecycle tombstones a third
        // of its corpus) — let AQE pick broadcast when the set is
        // actually small rather than force a driver-sized assumption
        codes0.join(
          spark.read.parquet(s"$vart/tombstones")
            .select($"vec_id").distinct(),
          Seq("vec_id"), "left_anti")
      else codes0
    val qEff = codec match {
      case "opq" =>
        // rotate the query into the quantizer's space; ⟨Rq, R̂x⟩
        // approximates ⟨q, x⟩ because the rotation is orthonormal
        val r = readRotation(spark, indexDir)
        q.select($"vec_id",
          graft.ops.OpqRotation.rotate($"embedding", r).as("embedding"))
      case _ => q
    }
    val qsubs = ProductQuant.subVectors(qEff, mm, sd)
      .select($"sub_id", $"subvec".as("qsub"))
    lazy val adc = ProductQuant.adcTable(cb, qsubs)
    val qn = q.select(norm($"embedding").as("qnrm"))
    val scored = codec match {
      case "residual" =>
        // ⟨q, c + r̂⟩ = ⟨q, c⟩ + ⟨q, r̂⟩ (q64's identity): the per-cell
        // constant joins after the fixed-point residual sum, keeping
        // the score order-independent; centroids of the PROBED cells
        // via centsFor (coarse-dispatched), so the identity holds
        // against exactly the centroid the residual was taken from
        val qc = centsFor(probedCells.toDF("cent_id"))
          .filter($"cent_id".isInCollection(probedCells))
          .crossJoin(broadcast(qemb))
          .select($"cent_id".as("cell_id"),
            dot($"cemb", $"qemb").as("qcdot"))
        codes.join(broadcast(adc), Seq("sub_id", "cent_id"))
          .groupBy($"vec_id", $"nrm", $"cell_id")
          .agg(sum(round($"pdot" * fp).cast("long")).as("rsum"))
          .join(broadcast(qc), Seq("cell_id"))
          .select($"vec_id", $"nrm",
            (($"rsum" + round($"qcdot" * fp).cast("long"))
              .cast("double") / fp).as("adot"))
      case "sq8" =>
        // score against the RECONSTRUCTION (q90's mechanism): the
        // shared tail divides by nrm·qnrm, so nrm here is the
        // reconstruction's norm — cos(recon, q), q90's cos_sq
        codes.crossJoin(
            broadcast(graft.io.TinyParquet.readFrame(spark, s"$indexDir/sqstats")))
          .withColumn("recon", sq8Recon(mm * sd))
          .crossJoin(broadcast(qemb))
          .select($"vec_id", norm($"recon").as("nrm"),
            dot($"recon", $"qemb").as("adot"))
      case _ =>
        codes.join(broadcast(adc), Seq("sub_id", "cent_id"))
          .groupBy($"vec_id", $"nrm")
          .agg((sum(round($"pdot" * fp).cast("long")).cast("double") / fp)
            .as("adot"))
    }
    val cand = scored
      .crossJoin(broadcast(qn))
      .filter($"vec_id" =!= queryId)
      .select($"vec_id",
        when($"nrm" === 0d || $"qnrm" === 0d, lit(0d))
          .otherwise(round($"adot" / ($"nrm" * $"qnrm"), 4))
          .as("approx_cosine"))
      .orderBy($"approx_cosine".desc, $"vec_id".asc)
      .limit(shortlist)
    exactRerank(e, cand, qemb, k)
  }

  /** q146 — the stored VECTOR index lifecycle under the correctness
    * gate, the [[graft.queries.TextQueries.storedTextLifecycle]]
    * twin: write the IVF+PQ index over the first 4/5 of the vectors
    * (cells + codebooks train there and stay FIXED — the q106
    * stability contract), batch-append the remaining 1/5 against the
    * persisted artifacts ([[appendToIvfPqIndex]]), tombstone-DELETE
    * every vec_id ≡ 1 (mod 3) (a third of the corpus, so the
    * survivors' top-k provably differs from the undeleted ranking —
    * a delete bug cannot hide below the page), then serve the search
    * from the artifacts with GATE-EXACT settings: every cell probed
    * and the shortlist covering the whole corpus, so the ADC stage
    * passes all surviving codes to the exact rerank and the result
    * is bit-equal to brute-force cosine over the survivors — which
    * is precisely what the DuckDB oracle computes (q19's SQL minus
    * the deleted ids). A hash-match therefore proves the
    * write → append → delete → anti-join chain loses and leaks no
    * rows. The PQ approximation itself is gated separately
    * (q34/q52/q64); a deployment sets the bounded probes/shortlist
    * knobs, and the one full-corpus rerank here is this query's
    * verification role, not its deployment shape.
    *
    * q153 (`codec = "residual"`, `coarse = "imi"`) runs the same
    * lifecycle over the two-level grid layout: the q104 half
    * codebooks persist as the coarse quantizer, cell_id =
    * cGrid·c0 + c1, gate-exact probing walks all cGrid² cells in
    * q116's blended order — composed with the residual fine codec so
    * the hash also covers the composed-centroid ⟨q,c⟩+⟨q,r̂⟩ chain.
    * The deployment-shaped probing (bounded `probes`) is pinned by
    * VectorIndexLayoutSpec's frame equality against the
    * self-contained q116. */
  def storedVectorLifecycle(spark: SparkSession, dir: String,
      k: Int = 10, codec: String = "pq",
      coarse: String = "flat", pgroups: Int = 0): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val wm = e.agg(max($"vec_id")).head().getLong(0) * 4 / 5
    val idx = java.nio.file.Files
      .createTempDirectory("graft-vec-lifecycle").toFile.getAbsolutePath
    val numCells = 16
    // the gate's grid: 8×8 = 64 composed cells — a genuine two-level
    // grid (4× the flat cell count) without the tiny-file partition
    // overhead cGrid = 16 (256 dirs for a gate-sized corpus) costs in
    // the bench; the deployment-spec equality with q116 runs at
    // cGrid = 16 in VectorIndexLayoutSpec, where quality matters
    val cGrid = 8
    // ONE frame object for training and corpus — lets the residual
    // writer reuse the materialized coarse assignment for training
    val train = e.filter($"vec_id" <= wm)
    writeIvfPqIndexFrames(train, train, idx, numCells = numCells,
      codec = codec, coarse = coarse, cGrid = cGrid,
      pgroups = pgroups)
    appendToIvfPqIndex(spark, idx, e.filter($"vec_id" > wm))
    // frame-face delete: the gate's third-of-corpus tombstone batch
    // never touches the driver
    deleteFromIvfPqIndex(spark, idx,
      e.filter($"vec_id" % 3 === 1).select($"vec_id"))
    val n = e.count().toInt
    // gate-exact probes: every cell — cGrid² on the IMI grid
    val allCells = if (coarse == "imi") cGrid * cGrid else numCells
    ivfPqSearchStored(spark, idx, dir, queryId = 0L, k = k,
      probes = allCells, shortlist = n)
  }

  /** q148 — FILTERED kNN served from the STORED index: q113's
    * pre-filter semantics composed with [[ivfPqSearchStored]]'s
    * probe-pruned plan (the `allowed` semi-join sits under the ADC
    * scoring). Gate-exact settings (every cell probed, corpus-wide
    * shortlist — the q146 convention), so the answer must equal
    * brute-force filtered cosine and the oracle is exactly q113's
    * SQL. What the driver row adds over the layout spec: the filter
    * path composes with the real artifacts end-to-end under a hash,
    * not just frame-equality at one spec corpus. */
  def filteredKnnStored(spark: SparkSession, dir: String,
      k: Int = 10, lang: String = "en"): DataFrame = {
    import spark.implicits._
    val idx = java.nio.file.Files
      .createTempDirectory("graft-vec-filtered").toFile.getAbsolutePath
    writeIvfPqIndex(spark, dir, idx)
    val allowed = Tables.documents(spark, dir)
      .filter($"lang" === lang)
      .select($"doc_id".as("vec_id"))
    val n = Tables.embeddings(spark, dir).count().toInt
    ivfPqSearchStored(spark, idx, dir, queryId = 0L, k = k,
      probes = 16, shortlist = n, allowed = Some(allowed))
  }

  /** q149 — BATCHED kNN served from the STORED index — the vector
    * twin of q142's lexical msearch, and q114's deployment face: the
    * whole query set answers in ONE pass over the probed codes.
    * Per-query probe lists come from one |Q|×cells ranking (a
    * broadcast-sized frame); the codes scan prunes to the UNION of
    * probed cells as a literal partition filter, and each code row
    * meets only the queries probing its cell (the msearch
    * amortization: the scan is paid once, not |Q| times). ADC is one
    * broadcast (q_id, sub_id, cent_id, pdot) table — |Q|·m·c rows —
    * so the scoring join stays map-side; the per-query shortlist is
    * the SALTED two-level top-k (q114's discipline: |Q|·salts evenly
    * sized window keys, never |Q| hot keys), and only shortlist
    * survivors fetch raw vectors for the exact per-query rerank.
    * Tombstones anti-join once, masking every query's page at once.
    *
    * Registered with gate-exact settings (all cells probed,
    * corpus-wide shortlist), where the result must equal the
    * self-contained q114 batch — so the oracle is exactly q114's
    * SQL; a deployment sets bounded probes/shortlist and keeps the
    * identical plan shape. */
  def ivfPqMsearchStored(spark: SparkSession, indexDir: String,
      dir: String, k: Int = 5, queryStride: Int = 100,
      probes: Int = 2, shortlist: Int = 50, m: Int = 8,
      subdim: Int = 8, salts: Int = 32,
      allowed: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val fp = ProductQuant.fixedPointScale
    val win = org.apache.spark.sql.expressions.Window
    // codec dispatch mirrors the single-query face
    val (codec, mm, sd, coarse, cGrid, pgroups) =
      readIndexMeta(spark, indexDir, m, subdim)
    // lazy: the sq8 codec writes no codebooks artifact
    lazy val cb = graft.io.TinyParquet.readFrame(spark, s"$indexDir/codebooks")
    val e = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val queries = e.filter($"vec_id" % queryStride === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("qemb"))
    def centsFor(needed: DataFrame): DataFrame = coarse match {
      case "imi" => imiCembFor(needed,
        graft.io.TinyParquet.readFrame(spark, s"$indexDir/imi_codebooks"), cGrid)
      case _ => graft.io.TinyParquet.readFrame(spark, s"$indexDir/cells")
    }
    // per-query probe list — flat: one |Q| × cells ranking; imi:
    // the executor-side multi-sequence walk
    val probed = coarse match {
      case "imi" =>
        // q116's blended walk per query, run on the EXECUTORS over
        // the broadcast half-codebooks (imiProbeCellsBatch) — at the
        // 2^14 grids that motivate IMI, a driver-side walk would
        // collect |Q|·2^15 affinity rows
        imiProbeCellsBatch(queries,
          graft.io.TinyParquet.readFrame(spark, s"$indexDir/imi_codebooks"),
          cGrid, mm * sd / 2, probes)
      case _ =>
        graft.io.TinyParquet.readFrame(spark, s"$indexDir/cells")
          .crossJoin(broadcast(queries))
          .withColumn("qcos", cosine($"cemb", $"qemb"))
          .withColumn("rn", row_number().over(
            win.partitionBy($"q_id")
              .orderBy($"qcos".desc, $"cent_id".asc)))
          .filter($"rn" <= probes)
          .select($"q_id", $"cent_id".as("cell_id"))
    }
    val probedCells = probed.select($"cell_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    val vart = liveArtifactDir(spark, indexDir)
    val codes1 = prunedCodes(
      codesFrame(spark, indexDir), probedCells, pgroups)
    // the same PRE-filter semi-join as the single-query face — one
    // filter pass masks every query's candidate set at once (the
    // filtered × batched composition; no broadcast hint, the allowed
    // set can be corpus-scale)
    val codes0 = allowed.fold(codes1)(a =>
      codes1.join(a.select($"vec_id"), Seq("vec_id"), "left_semi"))
    val codes =
      if (graft.io.Layout.pathExists(spark, s"$vart/tombstones"))
        // no broadcast hint: the tombstone set is bounded by
        // deletes-since-compaction, but that bound is operational,
        // not structural (storedVectorLifecycle tombstones a third
        // of its corpus) — let AQE pick broadcast when the set is
        // actually small rather than force a driver-sized assumption
        codes0.join(
          spark.read.parquet(s"$vart/tombstones")
            .select($"vec_id").distinct(),
          Seq("vec_id"), "left_anti")
      else codes0
    val qForAdc = codec match {
      case "opq" =>
        val r = readRotation(spark, indexDir)
        queries.select($"q_id".as("vec_id"),
          graft.ops.OpqRotation.rotate($"qemb", r).as("embedding"))
      case _ =>
        queries.select($"q_id".as("vec_id"), $"qemb".as("embedding"))
    }
    // multi-query ADC: |Q|·m·c rows, broadcastable
    val qsubs = ProductQuant.subVectors(qForAdc, mm, sd)
      .select($"vec_id".as("q_id"), $"sub_id", $"subvec".as("qsub"))
    lazy val adc = cb.join(broadcast(qsubs), Seq("sub_id"))
      .select($"q_id", $"sub_id", $"cent_id",
        dot($"cvec", $"qsub").as("pdot"))
    val qn = queries.select($"q_id", norm($"qemb").as("qnrm"))
    val scored = codec match {
      case "residual" =>
        // per-(query, cell) ⟨q, c⟩ constants — |Q|·probes rows;
        // centroids via centsFor (coarse-dispatched)
        val qc = centsFor(probed.select($"cell_id".as("cent_id"))
            .distinct())
          .join(broadcast(probed.select($"q_id",
            $"cell_id".as("cent_id"))), Seq("cent_id"))
          .join(broadcast(queries), Seq("q_id"))
          .select($"q_id", $"cent_id".as("cell_id"),
            dot($"cemb", $"qemb").as("qcdot"))
        codes
          .join(broadcast(probed), Seq("cell_id"))
          .join(broadcast(adc), Seq("q_id", "sub_id", "cent_id"))
          .groupBy($"q_id", $"vec_id", $"nrm", $"cell_id")
          .agg(sum(round($"pdot" * fp).cast("long")).as("rsum"))
          .join(broadcast(qc), Seq("q_id", "cell_id"))
          .select($"q_id", $"vec_id", $"nrm",
            (($"rsum" + round($"qcdot" * fp).cast("long"))
              .cast("double") / fp).as("adot"))
      case "sq8" =>
        // one reconstruction per code row, |Q|-scored via the
        // broadcast query frame — recon is query-independent, so the
        // msearch amortization holds for the scalar codec too
        codes
          .join(broadcast(probed), Seq("cell_id"))
          .crossJoin(
            broadcast(graft.io.TinyParquet.readFrame(spark, s"$indexDir/sqstats")))
          .withColumn("recon", sq8Recon(mm * sd))
          .join(broadcast(queries), Seq("q_id"))
          .select($"q_id", $"vec_id", norm($"recon").as("nrm"),
            dot($"recon", $"qemb").as("adot"))
      case _ =>
        codes
          .join(broadcast(probed), Seq("cell_id"))
          .join(broadcast(adc), Seq("q_id", "sub_id", "cent_id"))
          .groupBy($"q_id", $"vec_id", $"nrm")
          .agg((sum(round($"pdot" * fp).cast("long")).cast("double") / fp)
            .as("adot"))
    }
    val approx = scored
      .join(broadcast(qn), Seq("q_id"))
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id",
        when($"nrm" === 0d || $"qnrm" === 0d, lit(0d))
          .otherwise(round($"adot" / ($"nrm" * $"qnrm"), 4))
          .as("approx_cosine"),
        pmod($"vec_id", lit(salts)).as("salt"))
    val local = approx
      .withColumn("rn", row_number().over(
        win.partitionBy($"q_id", $"salt")
          .orderBy($"approx_cosine".desc, $"vec_id".asc)))
      .filter($"rn" <= shortlist)
    val shortl = local
      .withColumn("srn", row_number().over(
        win.partitionBy($"q_id")
          .orderBy($"approx_cosine".desc, $"vec_id".asc)))
      .filter($"srn" <= shortlist)
      .select($"q_id", $"vec_id")
    // exact per-query rerank of the survivors (|Q|·shortlist rows at
    // deployment; no broadcast hint — at gate-exact settings the
    // frame is |Q|·N and AQE must be free to sort-merge)
    e.join(shortl, Seq("vec_id"))
      .join(broadcast(queries), Seq("q_id"))
      .withColumn("cos_full", cosine($"embedding", $"qemb"))
      .withColumn("rank", row_number().over(
        win.partitionBy($"q_id")
          .orderBy($"cos_full".desc, $"vec_id".asc)).cast("long"))
      .filter($"rank" <= k)
      .select($"q_id", $"rank", $"vec_id",
        round($"cos_full", 4).as("cosine"))
      .orderBy($"q_id", $"rank")
  }

  /** q149's registered face — index write + gate-exact stored
    * msearch (see [[ivfPqMsearchStored]]). */
  def knnBatchStored(spark: SparkSession, dir: String): DataFrame = {
    val idx = java.nio.file.Files
      .createTempDirectory("graft-vec-msearch").toFile.getAbsolutePath
    writeIvfPqIndex(spark, dir, idx)
    val n = Tables.embeddings(spark, dir).count().toInt
    ivfPqMsearchStored(spark, idx, dir, probes = 16, shortlist = n)
  }

  /** q113 — FILTERED kNN (the ES 8.x `knn` clause's `filter`
    * parameter, PRE-filter semantics): the metadata predicate
    * restricts the candidate set BEFORE scoring, so the search
    * always returns k results that satisfy the filter — the property
    * post-filtering (top-k first, filter after) cannot give: a
    * selective filter empties a post-filtered page. Candidates =
    * embeddings whose document (vec_id ≡ doc_id) has `lang = 'en'` —
    * the cross-table filter shape of real vector search (metadata
    * lives beside the text, vectors in their own index).
    *
    * Scale shape: the filter is a LEFT SEMI join against the
    * filtered doc-id set pushed below the scoring crossJoin — at
    * deployment this is a partition-pruned or bitmap-filtered scan
    * of the vector index; the scoring scan + TakeOrdered is q19's
    * audited shape over the reduced set. */
  def filteredKnn(spark: SparkSession, dir: String, queryId: Long = 0L,
      k: Int = 10, lang: String = "en"): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val allowed = Tables.documents(spark, dir)
      .filter($"lang" === lang)
      .select($"doc_id".as("vec_id"))
    val q = e.filter($"vec_id" === queryId)
      .select($"embedding".as("qemb"))
    e.join(allowed, Seq("vec_id"), "left_semi")
      .filter($"vec_id" =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("cos_full", cosine($"embedding", $"qemb"))
      .orderBy($"cos_full".desc, $"vec_id".asc)
      .limit(k)
      .select($"vec_id", round($"cos_full", 4).as("cosine"))
  }

  /** q114 — BATCHED kNN: top-k neighbors for a whole QUERY SET in
    * one corpus pass (the deployment shape the q19 scaladoc
    * promises: broadcast the small query side, scan the corpus
    * once — reranking pipelines, dedup-by-query jobs, and eval
    * harnesses all issue queries in batches, never one at a time).
    * Queries here are every vec_id ≡ 0 mod 100 (deterministic at any
    * SF); a deployment broadcasts its literal query frame.
    *
    * Scale shape: ONE corpus scan against the broadcast query set
    * (|Q| dot products per row — the batch's whole point: amortize
    * the scan). The top-k is TWO-LEVEL: a first window partitioned
    * by (query, salt = vec_id mod 32) takes per-salt top-k — N·|Q|
    * rows shuffle over |Q|·32 evenly-sized keys, never |Q| hot
    * keys — and a second window over the |Q|·32·k survivors takes
    * the global per-query top-k. Exact by construction (any global
    * top-k member is in its salt's top-k — the salted-join
    * decomposition applied to order statistics). */
  def knnBatch(spark: SparkSession, dir: String, k: Int = 5,
      queryStride: Int = 100, salts: Int = 32): DataFrame = {
    import spark.implicits._
    val win = org.apache.spark.sql.expressions.Window
    val e = Tables.embeddingsDistributed(spark, dir)
      .select($"vec_id", $"embedding")
    val queries = e.filter($"vec_id" % queryStride === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("qemb"))
    val scored = e.crossJoin(broadcast(queries))
      .filter($"vec_id" =!= $"q_id")
      .withColumn("cos_full", cosine($"embedding", $"qemb"))
      .select($"q_id", $"vec_id", $"cos_full",
        pmod($"vec_id", lit(salts)).as("salt"))
    val local = scored
      .withColumn("rn", row_number().over(
        win.partitionBy($"q_id", $"salt")
          .orderBy($"cos_full".desc, $"vec_id".asc)))
      .filter($"rn" <= k)
    local
      .withColumn("rank", row_number().over(
        win.partitionBy($"q_id")
          .orderBy($"cos_full".desc, $"vec_id".asc)).cast("long"))
      .filter($"rank" <= k)
      .select($"q_id", $"rank", $"vec_id",
        round($"cos_full", 4).as("cosine"))
      .orderBy($"q_id", $"rank")
  }

  /** q103 — the ANN calibration card: every oracle-gated ANN tier of
    * the engine measured against the SAME corpus, query, and exact
    * top-k, in one artifact — the card a deployment reads before
    * picking a tier for a 100 TB index, and the guard that catches a
    * recall regression when any tier's kernels evolve (the q82
    * MinHash-calibration pattern generalized). One row per tier:
    *
    *  - `recall_at_10` — |tier top-10 ∩ exact top-10| / 10, the exact
    *    side being q19's brute force with the same tie-break.
    *  - `candidates_scanned` — vectors the tier actually scores (the
    *    probe budget made observable: same-bucket set for LSH, probed
    *    cells for the IVF family, N−1 for full-scan tiers).
    *  - `bytes_per_candidate` — bytes read per scanned vector in the
    *    scoring scan (256 = 64 raw floats; 8 = PQ codes, m×1 B;
    *    64 = SQ8 codes): candidates × bytes is the scan cost a tier
    *    pays, which is what "equal budget" means across families.
    *
    * Tiers and parameters are EXACTLY the gated queries' defaults
    * (q25 LSH 4 planes / q42 multi-probe 5 buckets / q34 IVF 16 cells
    * 2 probes / q39 k-means-IVF / q52 PQ 8×8×16 shortlist 50 /
    * q55 IVF+PQ / q64 residual IVF+PQ / q90 SQ8 / q104 IMI 2×16-grid
    * probe 2-per-half), plus the brute-force anchor row (recall 1 by
    * construction). OPQ (q-opq) is spec-gated only — its eigensolve
    * is not DuckDB-expressible — so it appears in OpqRotationSpec,
    * not here.
    *
    * Scale shape: each tier contributes its own audited plan, but the
    * card SHARES every artifact two tiers would otherwise re-derive —
    * one LSH bucketing for both probe tiers, one seed-cell assignment
    * for IVF / IVF+PQ / residual, one Lloyd refinement for the
    * k-means tier, one PQ codebook training for the plain-coded PQ
    * tiers (residual trains its own codebooks by definition — its
    * training set is the residuals) — measured 10.2 s → 7.4 s solo at
    * sf0.1 vs calling the standalone queries. Recall is a per-tier
    * 1-row aggregate against the 10-id exact list (a bounded driver
    * artifact, the q98 convention), candidate counts are 1-row
    * aggregates, the card is a 10-row union. At deployment every
    * artifact here comes precomputed from the index and the card
    * reduces to candidate-count aggregates over stored layouts. */
  def annCalibrationCard(spark: SparkSession, dir: String,
      queryId: Long = 0L, k: Int = 10): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    calibrationCardFrom(e, deriveCalibrationArtifacts(e), queryId, k)
  }

  /** The card's INDEX-TIME artifact bundle — everything a deployment
    * trains once and stores, nothing that depends on the query. The
    * self-contained card derives it per run
    * ([[deriveCalibrationArtifacts]]); the cached mode reads it back
    * from [[writeCalibrationArtifacts]]'s layout, turning the card
    * into pure query-time scans (backlog: "price the tiers without
    * retraining them"). */
  final case class CalibrationArtifacts(
      buckets: DataFrame, // (vec_id, bucket) — 4-plane LSH
      cells: DataFrame, assigned: DataFrame, // seed IVF
      kmCells: DataFrame, kmAssigned: DataFrame, // k-means IVF
      pqCodebooks: DataFrame, pqCodes: DataFrame, // 8×8×16 PQ
      norms: DataFrame, // (vec_id, nrm)
      resCodebooks: DataFrame, resCodes: DataFrame, // residual PQ
      sqStats: DataFrame, // 1 row (lo[], hi[]) — SQ8 per-dim range
      imiCodebooks: DataFrame, imiCells: DataFrame) // 2×16 IMI grid

  /** Trains/derives the bundle exactly as the gated tiers do (q25
    * buckets, q34 seed cells, q39 Lloyd, q52 PQ, q64 residual PQ at
    * the shared cells, q90 SQ8 stats, q104 IMI) — shared so the two
    * card faces can never drift. */
  def deriveCalibrationArtifacts(e: DataFrame): CalibrationArtifacts = {
    import e.sparkSession.implicits._
    // r19: every non-trained member (assignments, buckets, norms,
    // composed IMI cells, PQ/residual codes) is a PER-ROW map against
    // literal books now, so the r18 member checkpoints — each an
    // eager job materializing a corpus-sized frame — are gone: a
    // referencing branch re-derives a map with one scan + compiled
    // argmax, no joins, no exchanges (guide §2.4). What stays eager
    // is exactly the four codebook trainings (driver-looped Lloyd,
    // LocalRelation results) and the seed-cells collect; they fan out
    // on driver threads (guide §2.6). Values unchanged: fixed-point
    // means, deterministic smallest-cent ties.
    val subs = ProductQuant.subVectors(e, 8, 8)
    val imiSubs = ProductQuant.subVectors(e, 2, 32)
    val rs = graft.ops.Jobs.par(Seq[() => Any](
      // seed IVF family: cells → residual codebooks (the residual is
      // a map against the literal cell centroids — the stored cell
      // and the subtracted centroid come from one expression)
      () => {
        val cellRows = seedCells(e, 16)
          .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
        val book: Seq[(Long, Seq[Float])] = cellRows.sortBy(_._1)
        val cellCol = graft.expressions.ArgMaxCosine.argmax(
          $"embedding", lit(0), IndexedSeq(book), guardZero = false)
        val resid = e.select($"vec_id",
          zip_with($"embedding",
            element_at(cembLookupLit(book), (cellCol + 1).cast("int")),
            (a, b) => a - b).as("embedding"))
        val resCb = ProductQuant.trainCodebooks(
          ProductQuant.subVectors(
            resid.filter(norm($"embedding") =!= 0d), 8, 8), 16, 1,
          rowsPerVec = 8)
        (cellRows.toDF("cent_id", "cemb"),
          e.select($"vec_id", cellCol.as("cent_id"))
            .filter($"cent_id".isNotNull),
          resid, resCb)
      },
      // plain PQ codebooks
      () => ProductQuant.trainCodebooks(subs, 16, 1, rowsPerVec = 8),
      // IMI half codebooks
      () => ProductQuant.trainCodebooks(imiSubs, 16, 1, rowsPerVec = 2),
      // k-means IVF centroids
      () => kmeansCentroids(e, 16, 2)))
    val (cells, assigned, resid, resCb) =
      rs(0).asInstanceOf[(DataFrame, DataFrame, DataFrame, DataFrame)]
    val cb = rs(1).asInstanceOf[DataFrame]
    val imiCb = rs(2).asInstanceOf[DataFrame]
    val kmCells = rs(3).asInstanceOf[DataFrame]
    // composed IMI cells: both halves argmax per row (the q104
    // composition) — the former explode + encode-join + groupBy
    // recompose is one map now
    val imiBooks = ProductQuant.collectBooks(imiCb)
    def imiHalf(s: Int): Column = graft.expressions.ArgMaxCosine.argmax(
      slice($"embedding", s * 32 + 1, 32), lit(s), imiBooks,
      guardZero = true)
    val imiCells = e.select($"vec_id",
        (imiHalf(0) * 16 + imiHalf(1)).as("cell_id"))
      .filter($"cell_id".isNotNull)
    val sqStats = e.select(posexplode($"embedding").as(Seq("i", "v")))
      .groupBy($"i").agg(min($"v").as("lo"), max($"v").as("hi"))
      .agg(array_sort(collect_list(struct($"i", $"lo"))).as("slo"),
        array_sort(collect_list(struct($"i", $"hi"))).as("shi"))
      .select(transform($"slo", x => x.getField("lo")).as("lo"),
        transform($"shi", x => x.getField("hi")).as("hi"))
    CalibrationArtifacts(
      buckets = e.withColumn("bucket", Ann.bucket($"embedding", 4))
        .select($"vec_id", $"bucket"),
      cells = cells, assigned = assigned,
      kmCells = kmCells,
      kmAssigned = assignToCells(e, kmCells),
      pqCodebooks = cb,
      pqCodes = ProductQuant.encode(subs, cb),
      norms = e.select($"vec_id", norm($"embedding").as("nrm")),
      resCodebooks = resCb,
      resCodes = ProductQuant.encodeDet(
        ProductQuant.subVectors(resid, 8, 8), resCb),
      sqStats = sqStats,
      imiCodebooks = imiCb,
      imiCells = imiCells)
  }

  /** Persists the calibration bundle (one subdirectory per member) —
    * index-time, run once; [[annCalibrationCardStored]] then prices
    * every tier with no training anywhere in its plan. With
    * `reuseIvfPqIndex` set, the five members the IVF+PQ deployment
    * layout already stores (cells, PQ codebooks, codes, norms, and
    * the coarse assignment — all derivable from
    * [[writeIvfPqIndex]]'s artifacts at the shared default
    * parameters) are NOT duplicated into the bundle; the stored card
    * reads them from the layout, so a deployment running both
    * persists its PQ artifacts exactly once. */
  def writeCalibrationArtifacts(spark: SparkSession, dir: String,
      artDir: String, reuseIvfPqIndex: Option[String] = None,
      queryIds: Seq[Long] = Seq(0L), k: Int = 10): Unit = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val a = deriveCalibrationArtifacts(e)
    // the EXACT top-k baseline is itself an index-time artifact: the
    // card's queries are fixed per card, so the brute-force pass that
    // dominated the stored card's runtime runs ONCE here, and every
    // recurring card run is pure candidate-count aggregates (rank
    // pins k and the tie-break; a card asked for a query or k the
    // bundle doesn't carry falls back to the in-query baseline)
    val exactTopk = queryIds.map { qid =>
      val qemb = e.filter($"vec_id" === qid)
        .select($"embedding".as("qemb"))
      e.filter($"vec_id" =!= qid)
        .crossJoin(broadcast(qemb))
        .withColumn("cos", cosine($"embedding", $"qemb"))
        .orderBy($"cos".desc, $"vec_id".asc).limit(k)
        .select(lit(qid).as("query_id"),
          (row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(lit(1))
            .orderBy($"cos".desc, $"vec_id".asc))).cast("long")
            .as("rank"),
          $"vec_id")
    }.reduce(_.unionByName(_))
    val own = Seq(
      "buckets" -> a.buckets, "km_cells" -> a.kmCells,
      "km_assigned" -> a.kmAssigned,
      "res_codebooks" -> a.resCodebooks, "res_codes" -> a.resCodes,
      "sq_stats" -> a.sqStats, "imi_codebooks" -> a.imiCodebooks,
      "imi_cells" -> a.imiCells, "exact_topk" -> exactTopk)
    val ivfFamily =
      if (reuseIvfPqIndex.isDefined) Nil
      else Seq("cells" -> a.cells, "assigned" -> a.assigned,
        "pq_codebooks" -> a.pqCodebooks, "pq_codes" -> a.pqCodes,
        "norms" -> a.norms)
    (own ++ ivfFamily).foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$artDir/$name") }
    // every checkpointed member (codebooks, and the r18 shared-member
    // checkpoints: cells/assigned/buckets/kmAssigned/pqCodes/norms/
    // imiCells, plus resCodes' resid leaf) frees here — all writes
    // above are done, nothing scans these frames again
    Seq(a.buckets, a.cells, a.assigned, a.kmCells, a.kmAssigned,
      a.pqCodebooks, a.pqCodes, a.norms, a.resCodebooks, a.resCodes,
      a.imiCodebooks, a.imiCells)
      .foreach(graft.ops.Checkpoints.unpersist(_))
  }

  /** The CACHED calibration card: every tier priced from the stored
    * bundle — the per-run cost collapses to query-time probes and
    * candidate scans (the same near-free shape a deployment pays per
    * query), no Lloyd / PQ / stats training in any plan. With
    * `ivfPqIndexDir` set, the IVF+PQ-family members come from the
    * DEPLOYMENT layout's artifacts instead of bundle copies (the
    * writer's `reuseIvfPqIndex` counterpart): cells/codebooks load
    * directly, codes/norms/assignment project from the
    * cell-partitioned codes table — same values by construction
    * (both derive from the shared default parameters), spec-pinned.
    * AnnCalibrationSpec pins frame equality with
    * [[annCalibrationCard]] on the same corpus for both modes. */
  def annCalibrationCardStored(spark: SparkSession, dir: String,
      artDir: String, queryId: Long = 0L, k: Int = 10,
      ivfPqIndexDir: Option[String] = None): DataFrame = {
    import spark.implicits._
    def rd(name: String) = spark.read.parquet(s"$artDir/$name")
    val e = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val (cells, assigned, pqCb, pqCodes, norms) = ivfPqIndexDir match {
      case Some(idx) =>
        val codes = spark.read.parquet(s"$idx/codes")
        (spark.read.parquet(s"$idx/cells"),
          codes.filter($"sub_id" === 0)
            .select($"vec_id", $"cell_id".as("cent_id")),
          spark.read.parquet(s"$idx/codebooks"),
          codes.select($"vec_id", $"sub_id", $"cent_id"),
          codes.filter($"sub_id" === 0).select($"vec_id", $"nrm"))
      case None =>
        (rd("cells"), rd("assigned"), rd("pq_codebooks"),
          rd("pq_codes"), rd("norms"))
    }
    // the persisted exact baseline (k rows per card query) replaces
    // the stored card's one remaining corpus-wide exact pass; a
    // bundle that predates the artifact, or a query/k it doesn't
    // carry, falls back to the in-query brute force
    val exactPre: Option[Seq[Long]] =
      if (!graft.io.Layout.pathExists(spark, s"$artDir/exact_topk")) None
      else {
        val ids = rd("exact_topk").filter($"query_id" === queryId)
          .orderBy($"rank").select($"vec_id")
          .collect().map(_.getLong(0)).toSeq
        if (ids.size == k) Some(ids) else None
      }
    calibrationCardFrom(e, CalibrationArtifacts(
      buckets = rd("buckets"), cells = cells,
      assigned = assigned, kmCells = rd("km_cells"),
      kmAssigned = rd("km_assigned"), pqCodebooks = pqCb,
      pqCodes = pqCodes, norms = norms,
      resCodebooks = rd("res_codebooks"), resCodes = rd("res_codes"),
      sqStats = rd("sq_stats"), imiCodebooks = rd("imi_codebooks"),
      imiCells = rd("imi_cells")), queryId, k, exactPre)
  }

  /** The card's QUERY-TIME core — probes, candidate scans, reranks,
    * recall aggregation — over a given artifact bundle. Both faces
    * (self-contained gated q103, stored near-free mode) share it, so
    * the in-query derivations and the persisted artifacts cannot
    * drift. */
  private def calibrationCardFrom(e: DataFrame, a: CalibrationArtifacts,
      queryId: Long, k: Int,
      exactIdsPre: Option[Seq[Long]] = None): DataFrame = {
    import e.sparkSession.implicits._
    val fp = ProductQuant.fixedPointScale
    val q = e.filter($"vec_id" === queryId)
    val qemb = q.select($"embedding".as("qemb"))
    val nMinus1 = e.filter($"vec_id" =!= queryId).select($"vec_id")

    // LSH family: candidates = probed bucket(s) of the stored bucketing
    // (candidate frames that feed BOTH a tier's top-k and its
    // candidate count — or several tiers — are localCheckpoint'd so
    // one union plan scans them once instead of re-joining the corpus
    // per reference; r18, values unchanged)
    val eb = e.join(a.buckets, Seq("vec_id"))
    val qb = eb.filter($"vec_id" === queryId)
      .select($"bucket".as("q_bucket"))
    val lshCand0 = eb.join(broadcast(qb), $"bucket" === $"q_bucket")
      .filter($"vec_id" =!= queryId)
    val mpProbes = qb
      .select(explode(typedLit(0L +: (0 until 4).map(p => 1L << p)))
        .as("flip"), $"q_bucket")
      .select($"q_bucket".bitwiseXOR($"flip").as("q_probe"))
    val mpCand0 = eb.join(broadcast(mpProbes), $"bucket" === $"q_probe")
      .filter($"vec_id" =!= queryId)
    // IVF family: the stored assignment backs candidates AND tops of
    // IVF / IVF+PQ / residual (identical frames by construction)
    val probe = probeTop(a.cells, qemb, 2)
    val ivfCandFull0 = e
      .join(a.assigned.join(broadcast(probe), Seq("cent_id")),
        Seq("vec_id"))
      .filter($"vec_id" =!= queryId)
    val kmProbe = probeTop(a.kmCells, qemb, 2)
    val kmCandFull0 = e
      .join(a.kmAssigned.join(broadcast(kmProbe), Seq("cent_id")),
        Seq("vec_id"))
      .filter($"vec_id" =!= queryId)
    // IMI grid tier: probe the stored half-codebooks' top-2 cross
    // (lazy definition — materialized with the other candidates below)
    val imiQsubs = ProductQuant.subVectors(q, 2, 32)
      .select($"sub_id", $"subvec".as("qsub"))
    val imiRanked = a.imiCodebooks.join(broadcast(imiQsubs), Seq("sub_id"))
      .withColumn("qcos", cosine($"cvec", $"qsub"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"sub_id").orderBy($"qcos".desc, $"cent_id".asc)))
      .filter($"rn" <= 2).select($"sub_id", $"cent_id")
    val imiProbe = imiRanked.filter($"sub_id" === 0)
      .select($"cent_id".as("c0"))
      .crossJoin(imiRanked.filter($"sub_id" === 1)
        .select($"cent_id".as("c1")))
      .select(($"c0" * 16 + $"c1").as("cell_id"))
    val imiCandFull0 = e
      .join(a.imiCells.join(broadcast(imiProbe), Seq("cell_id"))
        .select($"vec_id"), Seq("vec_id"))
      .filter($"vec_id" =!= queryId)

    // The exact baseline and the five candidate materializations are
    // mutually independent actions — fan out on driver threads
    // (guide §2.6) instead of paying six sequential round-trips.
    val parRes = graft.ops.Jobs.par(Seq[() => Any](
      () => exactIdsPre.getOrElse(
        e.filter($"vec_id" =!= queryId)
          .crossJoin(broadcast(qemb))
          .withColumn("cos", cosine($"embedding", $"qemb"))
          .orderBy($"cos".desc, $"vec_id".asc).limit(k)
          .select($"vec_id").collect().map(_.getLong(0)).toSeq),
      () => lshCand0.localCheckpoint(),
      () => mpCand0.localCheckpoint(),
      () => ivfCandFull0.localCheckpoint(),
      () => kmCandFull0.localCheckpoint(),
      () => imiCandFull0.localCheckpoint()))
    val exactIds = parRes(0).asInstanceOf[Seq[Long]]
    val lshCand = parRes(1).asInstanceOf[DataFrame]
    val mpCand = parRes(2).asInstanceOf[DataFrame]
    val ivfCandFull = parRes(3).asInstanceOf[DataFrame]
    val kmCandFull = parRes(4).asInstanceOf[DataFrame]
    val imiCandFull = parRes(5).asInstanceOf[DataFrame]
    val ivfCand = ivfCandFull.select($"vec_id")

    def row(tier: String, top: DataFrame, cand: DataFrame,
        bytes: Long): DataFrame =
      top.select($"vec_id")
        .filter($"vec_id".isInCollection(exactIds))
        .agg(round(count(lit(1)).cast("double") / k, 4).as("recall_at_10"))
        .crossJoin(cand.agg(count(lit(1)).as("candidates_scanned")))
        .select(lit(tier).as("tier"), $"recall_at_10",
          $"candidates_scanned", lit(bytes).as("bytes_per_candidate"))
    def cosTop(cand: DataFrame): DataFrame = cand
      .crossJoin(broadcast(qemb))
      .withColumn("cos", cosine($"embedding", $"qemb"))
      .orderBy($"cos".desc, $"vec_id".asc).limit(k)

    // PQ tiers: ADC tables from the stored codebooks
    val qsubs = ProductQuant.subVectors(q, 8, 8)
      .select($"sub_id", $"subvec".as("qsub"))
    val adc = ProductQuant.adcTable(a.pqCodebooks, qsubs)
    val qn = q.select(norm($"embedding").as("qnrm"))
    val pqTop = exactRerank(e,
      adcShortlist(a.pqCodes, adc, a.norms, qn, queryId, 50), qemb, k)
    val ipqTop = exactRerank(e,
      adcShortlist(a.pqCodes, adc, a.norms, qn, queryId, 50,
        restrictTo = Some(ivfCand)), qemb, k)
    // residual IVF+PQ: q64's query-time scoring at the stored
    // residual codes (ADC on residual + exact query·centroid term)
    val resAdc = ProductQuant.adcTable(a.resCodebooks, qsubs)
    val qc = a.cells.join(broadcast(probe), Seq("cent_id"))
      .crossJoin(broadcast(qemb))
      .select($"cent_id".as("cell_id"), dot($"cemb", $"qemb").as("qcdot"))
    val probedCells = a.assigned.join(broadcast(probe), Seq("cent_id"))
      .select($"vec_id", $"cent_id".as("cell_id"))
    val resCand = a.resCodes.join(probedCells, Seq("vec_id"))
      .join(broadcast(resAdc), Seq("sub_id", "cent_id"))
      .groupBy($"vec_id", $"cell_id")
      .agg(sum(round($"pdot" * fp).cast("long")).as("rsum"))
      .join(broadcast(qc), Seq("cell_id"))
      .withColumn("adot",
        ($"rsum" + round($"qcdot" * fp).cast("long")).cast("double") / fp)
      .join(a.norms, Seq("vec_id"))
      .crossJoin(broadcast(qn))
      .filter($"vec_id" =!= queryId)
      .select($"vec_id",
        when($"nrm" === 0d || $"qnrm" === 0d, lit(0d))
          .otherwise(round($"adot" / ($"nrm" * $"qnrm"), 4))
          .as("approx_cosine"))
      .orderBy($"approx_cosine".desc, $"vec_id".asc)
      .limit(50)
    val resTop = exactRerank(e, resCand, qemb, k)
    // SQ8: q90's reconstruct-and-scan at the stored per-dim ranges
    val sqTop = e.filter($"vec_id" =!= queryId)
      .crossJoin(broadcast(a.sqStats))
      .withColumn("recon", transform(sequence(lit(1), lit(64)), i => {
        val v = element_at($"embedding", i).cast("double")
        val lo = element_at($"lo", i).cast("double")
        val hi = element_at($"hi", i).cast("double")
        val code = least(greatest(
          floor((v - lo) / (hi - lo) * 256d), lit(0d)), lit(255d))
        when(hi === lo, lo).otherwise(lo + (code + 0.5d) * (hi - lo) / 256d)
          .cast("float")
      }))
      .crossJoin(broadcast(qemb))
      .withColumn("cos_sq", cosine($"recon", $"qemb"))
      .orderBy($"cos_sq".desc, $"vec_id".asc)
      .limit(k)
    // members whose ONLY consumers are the checkpointed candidate
    // frames above free here: once the candidates materialized they
    // are never scanned again, and the checkpoint truncated them out
    // of the final card plan, so the caller's consume() cannot reach
    // them (hygiene contract). In the stored face these are plain
    // parquet scans and unpersist is a no-op. cells/assigned/
    // pq|res codebooks/pqCodes/norms stay: the lazy resCand/pqTop
    // branches still scan them inside the card evaluation.
    Seq(a.buckets, a.kmCells, a.kmAssigned, a.imiCells, a.imiCodebooks)
      .foreach(graft.ops.Checkpoints.unpersist(_))

    row("a_brute_force", e.filter($"vec_id".isInCollection(exactIds)),
        nMinus1, 256L)
      .unionByName(row("b_lsh", cosTop(lshCand
        .select($"vec_id", $"embedding")), lshCand, 256L))
      .unionByName(row("c_lsh_multiprobe", cosTop(mpCand
        .select($"vec_id", $"embedding")), mpCand, 256L))
      .unionByName(row("d_ivf", cosTop(ivfCandFull), ivfCand, 256L))
      .unionByName(row("e_ivf_kmeans", cosTop(kmCandFull),
        kmCandFull, 256L))
      .unionByName(row("f_pq", pqTop, nMinus1, 8L))
      .unionByName(row("g_ivfpq", ipqTop, ivfCand, 8L))
      .unionByName(row("h_ivfpq_residual", resTop, ivfCand, 8L))
      .unionByName(row("i_sq8", sqTop, nMinus1, 64L))
      .unionByName(row("j_imi", cosTop(imiCandFull), imiCandFull, 256L))
      .orderBy($"tier")
  }

  private val vectorLifecycleOracle: String =
    """WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
      |SELECT e.vec_id,
      | ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) AS cosine
      |FROM embeddings e, q
      |WHERE e.vec_id <> 0 AND e.vec_id % 3 <> 1
      |ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
      | e.vec_id ASC
      |LIMIT 10""".stripMargin

  private val filteredKnnOracle: String =
    """WITH allowed AS (SELECT doc_id AS vec_id FROM documents
      |  WHERE lang = 'en'),
      |q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
      |SELECT e.vec_id,
      |  round(list_cosine_similarity(e.embedding::DOUBLE[],
      |    q.embedding::DOUBLE[]), 4) AS cosine
      |FROM embeddings e JOIN allowed USING (vec_id), q
      |WHERE e.vec_id <> 0
      |ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
      |  q.embedding::DOUBLE[]) DESC, e.vec_id ASC
      |LIMIT 10""".stripMargin

  // q114: the plain per-query window — the salted two-level
  // decomposition is exact, so one window IS the oracle
  private val knnBatchOracle: String =
    """WITH e AS (SELECT vec_id, embedding FROM embeddings),
      |qs AS (SELECT vec_id AS q_id, embedding AS qemb FROM e
      |  WHERE vec_id % 100 = 0),
      |s AS (SELECT qs.q_id, e.vec_id,
      |    list_cosine_similarity(e.embedding::DOUBLE[],
      |      qs.qemb::DOUBLE[]) AS c
      |  FROM e, qs WHERE e.vec_id <> qs.q_id),
      |r AS (SELECT q_id, vec_id, c,
      |    CAST(row_number() OVER (PARTITION BY q_id
      |      ORDER BY c DESC, vec_id ASC) AS BIGINT) AS rank
      |  FROM s)
      |SELECT q_id, rank, vec_id, round(c, 4) AS cosine
      |FROM r WHERE rank <= 5
      |ORDER BY q_id, rank""".stripMargin

  val oracles: Map[String, String] = Map(
    // q113: q19's kNN over the lang-filtered candidate set
    "q113_filtered_knn" -> filteredKnnOracle,
    // q148: the stored filtered face runs gate-exact (q146
    // convention), so its answer IS q113's — one oracle, two plans
    "q148_filtered_knn_stored" -> filteredKnnOracle,
    "q114_knn_batch" -> knnBatchOracle,
    // q149: stored msearch gate-exact ≡ the self-contained batch
    "q149_knn_batch_stored" -> knnBatchOracle,
    // q106 re-derives the watermark split, trains cells/codebooks on
    // the OLD slice with the q52 Lloyd CTEs, and assigns+encodes the
    // delta against them
    "q106_incremental_ann" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |wv AS (SELECT CAST(floor(max(vec_id) * 4 / 5.0) AS BIGINT) AS w
        |  FROM e),
        |old AS (SELECT e.vec_id, e.embedding FROM e, wv
        |  WHERE e.vec_id <= wv.w),
        |fresh AS (SELECT e.vec_id, e.embedding FROM e, wv
        |  WHERE e.vec_id > wv.w),
        |cells AS (SELECT vec_id AS cell_id, embedding AS cellemb
        |  FROM old WHERE vec_id < 16),
        |subs AS (SELECT old.vec_id, s.s AS sub_id,
        |    list_slice(old.embedding, s.s*8 + 1, s.s*8 + 8) AS subvec
        |  FROM old, unnest(generate_series(0, 7)) s(s)),
        |cb0 AS (SELECT sub_id, vec_id AS cent_id, subvec AS cvec
        |  FROM subs WHERE vec_id < 16),
        |a1 AS (SELECT s.vec_id, s.sub_id, arg_max(c.cent_id,
        |    list_cosine_similarity(s.subvec::DOUBLE[], c.cvec::DOUBLE[]))
        |    AS cent_id
        |  FROM subs s JOIN cb0 c USING (sub_id)
        |  GROUP BY s.vec_id, s.sub_id),
        |m1 AS (SELECT a.sub_id, a.cent_id, t.i AS i,
        |    CAST(CAST(SUM(CAST(round(s.subvec[t.i]::DOUBLE * 16777216.0)
        |      AS BIGINT)) AS DOUBLE) / 16777216.0 / COUNT(*) AS FLOAT) AS m
        |  FROM a1 a JOIN subs s USING (vec_id, sub_id),
        |    unnest(generate_series(1, 8)) t(i)
        |  GROUP BY a.sub_id, a.cent_id, t.i),
        |cb1 AS (SELECT sub_id, cent_id, list(m ORDER BY i) AS cvec
        |  FROM m1 GROUP BY sub_id, cent_id),
        |assign_new AS (SELECT f.vec_id, arg_max(cl.cell_id,
        |    list_cosine_similarity(f.embedding::DOUBLE[],
        |      cl.cellemb::DOUBLE[])) AS cell_id
        |  FROM fresh f, cells cl GROUP BY f.vec_id),
        |fsubs AS (SELECT fresh.vec_id, s.s AS sub_id,
        |    list_slice(fresh.embedding, s.s*8 + 1, s.s*8 + 8) AS subvec
        |  FROM fresh, unnest(generate_series(0, 7)) s(s)),
        |codes AS (SELECT s.vec_id, s.sub_id, arg_max(c.cent_id,
        |    list_cosine_similarity(s.subvec::DOUBLE[], c.cvec::DOUBLE[]))
        |    AS cent_id
        |  FROM fsubs s JOIN cb1 c USING (sub_id)
        |  GROUP BY s.vec_id, s.sub_id),
        |packed AS (SELECT vec_id,
        |    array_to_string(list(CAST(cent_id AS VARCHAR) ORDER BY sub_id),
        |      ',') AS codes
        |  FROM codes GROUP BY vec_id)
        |SELECT a.vec_id, a.cell_id, p.codes
        |FROM assign_new a JOIN packed p USING (vec_id)
        |ORDER BY a.vec_id""".stripMargin,
    // q104 re-derives both half-codebooks with the q52 Lloyd CTEs at
    // m=2/subdim=32, composes cell ids 16·c0 + c1, cross-products the
    // per-half top-2 probes, and reranks the probed cells exactly
    "q104_imi_ivf_knn" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |subs AS (SELECT e.vec_id, s.s AS sub_id,
        |    list_slice(e.embedding, s.s*32 + 1, s.s*32 + 32) AS subvec
        |  FROM e, unnest(generate_series(0, 1)) s(s)),
        |cb0 AS (SELECT sub_id, vec_id AS cent_id, subvec AS cvec
        |  FROM subs WHERE vec_id < 16),
        |a1 AS (SELECT s.vec_id, s.sub_id, arg_max(c.cent_id,
        |    list_cosine_similarity(s.subvec::DOUBLE[], c.cvec::DOUBLE[]))
        |    AS cent_id
        |  FROM subs s JOIN cb0 c USING (sub_id)
        |  GROUP BY s.vec_id, s.sub_id),
        |m1 AS (SELECT a.sub_id, a.cent_id, t.i AS i,
        |    CAST(CAST(SUM(CAST(round(s.subvec[t.i]::DOUBLE * 16777216.0)
        |      AS BIGINT)) AS DOUBLE) / 16777216.0 / COUNT(*) AS FLOAT) AS m
        |  FROM a1 a JOIN subs s USING (vec_id, sub_id),
        |    unnest(generate_series(1, 32)) t(i)
        |  GROUP BY a.sub_id, a.cent_id, t.i),
        |cb1 AS (SELECT sub_id, cent_id, list(m ORDER BY i) AS cvec
        |  FROM m1 GROUP BY sub_id, cent_id),
        |codes AS (SELECT s.vec_id, s.sub_id, arg_max(c.cent_id,
        |    list_cosine_similarity(s.subvec::DOUBLE[], c.cvec::DOUBLE[]))
        |    AS cent_id
        |  FROM subs s JOIN cb1 c USING (sub_id)
        |  GROUP BY s.vec_id, s.sub_id),
        |cells AS (SELECT vec_id,
        |    16 * MAX(CASE WHEN sub_id = 0 THEN cent_id END) +
        |    MAX(CASE WHEN sub_id = 1 THEN cent_id END) AS cell_id
        |  FROM codes GROUP BY vec_id),
        |q AS (SELECT vec_id, embedding FROM e WHERE vec_id = 0),
        |qsubs AS (SELECT s.s AS sub_id,
        |    list_slice(q.embedding, s.s*32 + 1, s.s*32 + 32) AS qsub
        |  FROM q, unnest(generate_series(0, 1)) s(s)),
        |ranked AS (SELECT c.sub_id, c.cent_id, row_number() OVER (
        |    PARTITION BY c.sub_id
        |    ORDER BY list_cosine_similarity(c.cvec::DOUBLE[],
        |      qs.qsub::DOUBLE[]) DESC, c.cent_id ASC) AS rn
        |  FROM cb1 c JOIN qsubs qs USING (sub_id)),
        |probe AS (SELECT 16 * a.cent_id + b.cent_id AS cell_id
        |  FROM ranked a, ranked b
        |  WHERE a.sub_id = 0 AND b.sub_id = 1
        |    AND a.rn <= 2 AND b.rn <= 2),
        |cand AS (SELECT cl.vec_id FROM cells cl JOIN probe USING (cell_id)
        |  WHERE cl.vec_id <> 0)
        |SELECT e.vec_id,
        |  round(list_cosine_similarity(e.embedding::DOUBLE[],
        |    q.embedding::DOUBLE[]), 4) AS cosine
        |FROM e JOIN cand USING (vec_id), q
        |ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
        |  q.embedding::DOUBLE[]) DESC, e.vec_id ASC
        |LIMIT 10""".stripMargin,
    // q116 shares q104's codebook/cell CTEs; only probe selection
    // differs — top-4 cells by BLENDED dot (dot decomposes additively
    // over the halves), not the cross of per-half top-2
    "q116_imi_multiseq" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |subs AS (SELECT e.vec_id, s.s AS sub_id,
        |    list_slice(e.embedding, s.s*32 + 1, s.s*32 + 32) AS subvec
        |  FROM e, unnest(generate_series(0, 1)) s(s)),
        |cb0 AS (SELECT sub_id, vec_id AS cent_id, subvec AS cvec
        |  FROM subs WHERE vec_id < 16),
        |a1 AS (SELECT s.vec_id, s.sub_id, arg_max(c.cent_id,
        |    list_cosine_similarity(s.subvec::DOUBLE[], c.cvec::DOUBLE[]))
        |    AS cent_id
        |  FROM subs s JOIN cb0 c USING (sub_id)
        |  GROUP BY s.vec_id, s.sub_id),
        |m1 AS (SELECT a.sub_id, a.cent_id, t.i AS i,
        |    CAST(CAST(SUM(CAST(round(s.subvec[t.i]::DOUBLE * 16777216.0)
        |      AS BIGINT)) AS DOUBLE) / 16777216.0 / COUNT(*) AS FLOAT) AS m
        |  FROM a1 a JOIN subs s USING (vec_id, sub_id),
        |    unnest(generate_series(1, 32)) t(i)
        |  GROUP BY a.sub_id, a.cent_id, t.i),
        |cb1 AS (SELECT sub_id, cent_id, list(m ORDER BY i) AS cvec
        |  FROM m1 GROUP BY sub_id, cent_id),
        |codes AS (SELECT s.vec_id, s.sub_id, arg_max(c.cent_id,
        |    list_cosine_similarity(s.subvec::DOUBLE[], c.cvec::DOUBLE[]))
        |    AS cent_id
        |  FROM subs s JOIN cb1 c USING (sub_id)
        |  GROUP BY s.vec_id, s.sub_id),
        |cells AS (SELECT vec_id,
        |    16 * MAX(CASE WHEN sub_id = 0 THEN cent_id END) +
        |    MAX(CASE WHEN sub_id = 1 THEN cent_id END) AS cell_id
        |  FROM codes GROUP BY vec_id),
        |q AS (SELECT vec_id, embedding FROM e WHERE vec_id = 0),
        |qsubs AS (SELECT s.s AS sub_id,
        |    list_slice(q.embedding, s.s*32 + 1, s.s*32 + 32) AS qsub
        |  FROM q, unnest(generate_series(0, 1)) s(s)),
        |halfd AS (SELECT c.sub_id, c.cent_id,
        |    list_inner_product(c.cvec::DOUBLE[], qs.qsub::DOUBLE[]) AS qdot
        |  FROM cb1 c JOIN qsubs qs USING (sub_id)),
        |probe AS (SELECT 16 * a.cent_id + b.cent_id AS cell_id
        |  FROM halfd a, halfd b
        |  WHERE a.sub_id = 0 AND b.sub_id = 1
        |  ORDER BY a.qdot + b.qdot DESC, a.cent_id ASC, b.cent_id ASC
        |  LIMIT 4),
        |cand AS (SELECT cl.vec_id FROM cells cl JOIN probe USING (cell_id)
        |  WHERE cl.vec_id <> 0)
        |SELECT e.vec_id,
        |  round(list_cosine_similarity(e.embedding::DOUBLE[],
        |    q.embedding::DOUBLE[]), 4) AS cosine
        |FROM e JOIN cand USING (vec_id), q
        |ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
        |  q.embedding::DOUBLE[]) DESC, e.vec_id ASC
        |LIMIT 10""".stripMargin,
    // q103 composes the eight gated tiers' PROVEN oracle pipelines
    // (q19/q25/q42/q34/q39/q52/q55/q64/q90, CTEs prefixed per tier)
    // into one card: per tier, top-10 ∩ exact top-10 over 10, the
    // scored-candidate count, and the literal bytes-per-candidate
    "q103_ann_calibration" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |q AS (SELECT embedding FROM e WHERE vec_id = 0),
        |exact AS (SELECT e.vec_id FROM e, q WHERE e.vec_id <> 0
        |  ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
        |    q.embedding::DOUBLE[]) DESC, e.vec_id ASC LIMIT 10),
        |planes AS (
        |  SELECT p, list_transform(generate_series(0, 63),
        |    d -> (CAST(('0x' || substr(md5(p || '|' || d), 1, 8)) AS BIGINT)
        |          / 4294967296.0) - 0.5) AS w
        |  FROM unnest(generate_series(0, 3)) AS t(p)),
        |buckets AS (
        |  SELECT vec_id, embedding,
        |    CAST(SUM(CASE WHEN list_sum(list_transform(generate_series(1, 64),
        |           i -> embedding[i] * w[i])) > 0
        |         THEN CAST(floor(pow(2, p)) AS BIGINT) ELSE 0 END) AS BIGINT)
        |      AS bucket
        |  FROM e, planes GROUP BY vec_id, embedding),
        |lq AS (SELECT embedding, bucket FROM buckets WHERE vec_id = 0),
        |lsh_cand AS (SELECT b.vec_id FROM buckets b, lq
        |  WHERE b.bucket = lq.bucket AND b.vec_id <> 0),
        |lsh_top AS (SELECT b.vec_id FROM buckets b, lq
        |  WHERE b.bucket = lq.bucket AND b.vec_id <> 0
        |  ORDER BY list_cosine_similarity(b.embedding::DOUBLE[],
        |    lq.embedding::DOUBLE[]) DESC, b.vec_id ASC LIMIT 10),
        |mp_probes AS (SELECT lq.embedding, xor(lq.bucket, f) AS probe
        |  FROM lq, unnest([0, 1, 2, 4, 8]::BIGINT[]) AS t(f)),
        |mp_cand AS (SELECT b.vec_id FROM buckets b
        |  JOIN mp_probes p ON b.bucket = p.probe WHERE b.vec_id <> 0),
        |mp_top AS (SELECT b.vec_id FROM buckets b
        |  JOIN mp_probes p ON b.bucket = p.probe WHERE b.vec_id <> 0
        |  ORDER BY list_cosine_similarity(b.embedding::DOUBLE[],
        |    p.embedding::DOUBLE[]) DESC, b.vec_id ASC LIMIT 10),
        |cells AS (SELECT vec_id AS cell_id, embedding AS cellemb
        |  FROM e WHERE vec_id < 16),
        |assign AS (SELECT e.vec_id, arg_max(cl.cell_id,
        |    list_cosine_similarity(e.embedding::DOUBLE[],
        |      cl.cellemb::DOUBLE[])) AS cell_id
        |  FROM e, cells cl GROUP BY e.vec_id),
        |probe AS (SELECT cl.cell_id FROM cells cl, q
        |  ORDER BY list_cosine_similarity(cl.cellemb::DOUBLE[],
        |    q.embedding::DOUBLE[]) DESC, cl.cell_id ASC LIMIT 2),
        |ivf_cand AS (SELECT a.vec_id FROM assign a
        |  JOIN probe USING (cell_id) WHERE a.vec_id <> 0),
        |ivf_top AS (SELECT e.vec_id FROM e JOIN ivf_cand USING (vec_id), q
        |  ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
        |    q.embedding::DOUBLE[]) DESC, e.vec_id ASC LIMIT 10),
        |km_a1 AS (SELECT e.vec_id, arg_max(c.cell_id,
        |    list_cosine_similarity(e.embedding::DOUBLE[],
        |      c.cellemb::DOUBLE[])) AS cent_id
        |  FROM e, cells c GROUP BY e.vec_id),
        |km_m1 AS (SELECT a.cent_id, t.i AS i,
        |    CAST(CAST(SUM(CAST(round(e.embedding[t.i]::DOUBLE * 16777216.0)
        |      AS BIGINT)) AS DOUBLE) / 16777216.0 / COUNT(*) AS FLOAT) AS m
        |  FROM km_a1 a JOIN e USING (vec_id),
        |    unnest(generate_series(1, 64)) t(i)
        |  GROUP BY a.cent_id, t.i),
        |km_cents1 AS (SELECT cent_id, list(m ORDER BY i) AS cemb
        |  FROM km_m1 GROUP BY cent_id),
        |km_a2 AS (SELECT e.vec_id, arg_max(c.cent_id,
        |    list_cosine_similarity(e.embedding::DOUBLE[], c.cemb::DOUBLE[]))
        |    AS cent_id
        |  FROM e, km_cents1 c GROUP BY e.vec_id),
        |km_m2 AS (SELECT a.cent_id, t.i AS i,
        |    CAST(CAST(SUM(CAST(round(e.embedding[t.i]::DOUBLE * 16777216.0)
        |      AS BIGINT)) AS DOUBLE) / 16777216.0 / COUNT(*) AS FLOAT) AS m
        |  FROM km_a2 a JOIN e USING (vec_id),
        |    unnest(generate_series(1, 64)) t(i)
        |  GROUP BY a.cent_id, t.i),
        |km_cents2 AS (SELECT cent_id, list(m ORDER BY i) AS cemb
        |  FROM km_m2 GROUP BY cent_id),
        |km_a3 AS (SELECT e.vec_id, arg_max(c.cent_id,
        |    list_cosine_similarity(e.embedding::DOUBLE[], c.cemb::DOUBLE[]))
        |    AS cent_id
        |  FROM e, km_cents2 c GROUP BY e.vec_id),
        |km_probe AS (SELECT c.cent_id FROM km_cents2 c, q
        |  ORDER BY list_cosine_similarity(c.cemb::DOUBLE[],
        |    q.embedding::DOUBLE[]) DESC, c.cent_id ASC LIMIT 2),
        |km_cand AS (SELECT a.vec_id FROM km_a3 a
        |  JOIN km_probe USING (cent_id) WHERE a.vec_id <> 0),
        |km_top AS (SELECT e.vec_id FROM e JOIN km_cand USING (vec_id), q
        |  ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
        |    q.embedding::DOUBLE[]) DESC, e.vec_id ASC LIMIT 10),
        |pq_subs AS (SELECT e.vec_id, s.s AS sub_id,
        |    list_slice(e.embedding, s.s*8 + 1, s.s*8 + 8) AS subvec
        |  FROM e, unnest(generate_series(0, 7)) s(s)),
        |pq_cb0 AS (SELECT sub_id, vec_id AS cent_id, subvec AS cvec
        |  FROM pq_subs WHERE vec_id < 16),
        |pq_a1 AS (SELECT s.vec_id, s.sub_id, arg_max(c.cent_id,
        |    list_cosine_similarity(s.subvec::DOUBLE[], c.cvec::DOUBLE[]))
        |    AS cent_id
        |  FROM pq_subs s JOIN pq_cb0 c USING (sub_id)
        |  GROUP BY s.vec_id, s.sub_id),
        |pq_m1 AS (SELECT a.sub_id, a.cent_id, t.i AS i,
        |    CAST(CAST(SUM(CAST(round(s.subvec[t.i]::DOUBLE * 16777216.0)
        |      AS BIGINT)) AS DOUBLE) / 16777216.0 / COUNT(*) AS FLOAT) AS m
        |  FROM pq_a1 a JOIN pq_subs s USING (vec_id, sub_id),
        |    unnest(generate_series(1, 8)) t(i)
        |  GROUP BY a.sub_id, a.cent_id, t.i),
        |pq_cb1 AS (SELECT sub_id, cent_id, list(m ORDER BY i) AS cvec
        |  FROM pq_m1 GROUP BY sub_id, cent_id),
        |pq_codes AS (SELECT s.vec_id, s.sub_id, arg_max(c.cent_id,
        |    list_cosine_similarity(s.subvec::DOUBLE[], c.cvec::DOUBLE[]))
        |    AS cent_id
        |  FROM pq_subs s JOIN pq_cb1 c USING (sub_id)
        |  GROUP BY s.vec_id, s.sub_id),
        |pq_qsubs AS (SELECT s.s AS sub_id,
        |    list_slice(q.embedding, s.s*8 + 1, s.s*8 + 8) AS qsub
        |  FROM q, unnest(generate_series(0, 7)) s(s)),
        |pq_adc AS (SELECT c.sub_id, c.cent_id,
        |    list_inner_product(c.cvec::DOUBLE[], qs.qsub::DOUBLE[]) AS pdot
        |  FROM pq_cb1 c JOIN pq_qsubs qs USING (sub_id)),
        |nrm AS (SELECT vec_id,
        |    sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]))
        |      AS nrm
        |  FROM e),
        |qn AS (SELECT sqrt(list_inner_product(embedding::DOUBLE[],
        |    embedding::DOUBLE[])) AS qnrm
        |  FROM q),
        |pq_short AS (SELECT co.vec_id,
        |    CASE WHEN ANY_VALUE(n.nrm) = 0 OR ANY_VALUE(qn.qnrm) = 0
        |      THEN 0 ELSE
        |        round((CAST(SUM(CAST(round(a.pdot * 16777216.0) AS BIGINT))
        |            AS DOUBLE) / 16777216.0)
        |          / (ANY_VALUE(n.nrm) * ANY_VALUE(qn.qnrm)), 4)
        |      END AS approx_cosine
        |  FROM pq_codes co
        |    JOIN pq_adc a USING (sub_id, cent_id)
        |    JOIN nrm n USING (vec_id), qn
        |  WHERE co.vec_id <> 0
        |  GROUP BY co.vec_id
        |  ORDER BY approx_cosine DESC, co.vec_id ASC
        |  LIMIT 50),
        |pq_top AS (SELECT e.vec_id FROM e JOIN pq_short USING (vec_id), q
        |  ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
        |    q.embedding::DOUBLE[]) DESC, e.vec_id ASC LIMIT 10),
        |ipq_short AS (SELECT co.vec_id,
        |    CASE WHEN ANY_VALUE(n.nrm) = 0 OR ANY_VALUE(qn.qnrm) = 0
        |      THEN 0 ELSE
        |        round((CAST(SUM(CAST(round(a.pdot * 16777216.0) AS BIGINT))
        |            AS DOUBLE) / 16777216.0)
        |          / (ANY_VALUE(n.nrm) * ANY_VALUE(qn.qnrm)), 4)
        |      END AS approx_cosine
        |  FROM pq_codes co
        |    JOIN ivf_cand USING (vec_id)
        |    JOIN pq_adc a USING (sub_id, cent_id)
        |    JOIN nrm n USING (vec_id), qn
        |  GROUP BY co.vec_id
        |  ORDER BY approx_cosine DESC, co.vec_id ASC
        |  LIMIT 50),
        |ipq_top AS (SELECT e.vec_id FROM e JOIN ipq_short USING (vec_id), q
        |  ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
        |    q.embedding::DOUBLE[]) DESC, e.vec_id ASC LIMIT 10),
        |res_rs AS (SELECT a.vec_id, a.cell_id,
        |    list_transform(generate_series(1, 64),
        |      i -> e.embedding[i] - cl.cellemb[i]) AS remb
        |  FROM assign a JOIN e USING (vec_id)
        |    JOIN cells cl USING (cell_id)),
        |res_rsubs AS (SELECT vec_id, s.s AS sub_id,
        |    list_slice(remb, s.s*8 + 1, s.s*8 + 8) AS subvec
        |  FROM res_rs, unnest(generate_series(0, 7)) s(s)),
        |res_nz AS (SELECT vec_id FROM res_rs
        |  WHERE list_inner_product(remb::DOUBLE[], remb::DOUBLE[]) <> 0),
        |res_seeds AS (SELECT vec_id,
        |    row_number() OVER (ORDER BY vec_id) - 1 AS cent_id
        |  FROM res_nz ORDER BY vec_id LIMIT 16),
        |res_cb0 AS (SELECT r.sub_id, s.cent_id, r.subvec AS cvec
        |  FROM res_rsubs r JOIN res_seeds s USING (vec_id)),
        |res_a1 AS (SELECT s.vec_id, s.sub_id, arg_max(c.cent_id,
        |    list_cosine_similarity(s.subvec::DOUBLE[], c.cvec::DOUBLE[]))
        |    AS cent_id
        |  FROM res_rsubs s JOIN res_nz USING (vec_id)
        |    JOIN res_cb0 c USING (sub_id)
        |  GROUP BY s.vec_id, s.sub_id),
        |res_m1 AS (SELECT a.sub_id, a.cent_id, t.i AS i,
        |    CAST(CAST(SUM(CAST(round(s.subvec[t.i]::DOUBLE * 16777216.0)
        |      AS BIGINT)) AS DOUBLE) / 16777216.0 / COUNT(*) AS FLOAT) AS m
        |  FROM res_a1 a JOIN res_rsubs s USING (vec_id, sub_id),
        |    unnest(generate_series(1, 8)) t(i)
        |  GROUP BY a.sub_id, a.cent_id, t.i),
        |res_cb1 AS (SELECT sub_id, cent_id, list(m ORDER BY i) AS cvec
        |  FROM res_m1 GROUP BY sub_id, cent_id),
        |res_scored AS (SELECT s.vec_id, s.sub_id, c.cent_id,
        |    CASE WHEN list_inner_product(s.subvec::DOUBLE[],
        |        s.subvec::DOUBLE[]) = 0
        |      OR list_inner_product(c.cvec::DOUBLE[], c.cvec::DOUBLE[]) = 0
        |      THEN 0
        |      ELSE list_cosine_similarity(s.subvec::DOUBLE[],
        |        c.cvec::DOUBLE[]) END AS cs
        |  FROM res_rsubs s JOIN res_cb1 c USING (sub_id)),
        |res_codes AS (SELECT vec_id, sub_id, MIN(cent_id) AS cent_id FROM (
        |    SELECT *, MAX(cs) OVER (PARTITION BY vec_id, sub_id) AS mx
        |    FROM res_scored) WHERE cs = mx
        |  GROUP BY vec_id, sub_id),
        |res_adc AS (SELECT c.sub_id, c.cent_id,
        |    list_inner_product(c.cvec::DOUBLE[], qs.qsub::DOUBLE[]) AS pdot
        |  FROM res_cb1 c JOIN pq_qsubs qs USING (sub_id)),
        |res_qcd AS (SELECT p.cell_id,
        |    list_inner_product(cl.cellemb::DOUBLE[], q.embedding::DOUBLE[])
        |      AS qcdot
        |  FROM probe p JOIN cells cl USING (cell_id), q),
        |res_pa AS (SELECT a.vec_id, a.cell_id FROM assign a
        |    JOIN probe p USING (cell_id)),
        |res_short AS (SELECT co.vec_id,
        |    CASE WHEN ANY_VALUE(n.nrm) = 0 OR ANY_VALUE(qn.qnrm) = 0
        |      THEN 0 ELSE
        |        round((CAST(SUM(CAST(round(a.pdot * 16777216.0) AS BIGINT))
        |            + ANY_VALUE(CAST(round(qc.qcdot * 16777216.0) AS BIGINT))
        |            AS DOUBLE) / 16777216.0)
        |          / (ANY_VALUE(n.nrm) * ANY_VALUE(qn.qnrm)), 4)
        |      END AS approx_cosine
        |  FROM res_codes co
        |    JOIN res_pa USING (vec_id)
        |    JOIN res_adc a USING (sub_id, cent_id)
        |    JOIN res_qcd qc USING (cell_id)
        |    JOIN nrm n USING (vec_id), qn
        |  WHERE co.vec_id <> 0
        |  GROUP BY co.vec_id
        |  ORDER BY approx_cosine DESC, co.vec_id ASC
        |  LIMIT 50),
        |res_top AS (SELECT e.vec_id FROM e JOIN res_short USING (vec_id), q
        |  ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
        |    q.embedding::DOUBLE[]) DESC, e.vec_id ASC LIMIT 10),
        |sq_st AS (SELECT t.i AS i, MIN(e.embedding[t.i]) AS lo,
        |    MAX(e.embedding[t.i]) AS hi
        |  FROM e, unnest(generate_series(1, 64)) t(i) GROUP BY t.i),
        |sq_qd AS (SELECT e.vec_id, sq_st.i,
        |    CAST(CASE WHEN sq_st.hi = sq_st.lo THEN sq_st.lo::DOUBLE
        |      ELSE sq_st.lo::DOUBLE +
        |        (least(greatest(floor((e.embedding[sq_st.i]::DOUBLE -
        |            sq_st.lo::DOUBLE) / (sq_st.hi::DOUBLE - sq_st.lo::DOUBLE)
        |            * 256), 0), 255) + 0.5) *
        |          (sq_st.hi::DOUBLE - sq_st.lo::DOUBLE) / 256
        |      END AS FLOAT) AS r
        |  FROM e, sq_st WHERE e.vec_id <> 0),
        |sq_rec AS (SELECT vec_id, list(r ORDER BY i) AS recon
        |  FROM sq_qd GROUP BY vec_id),
        |sq_top AS (SELECT rec.vec_id FROM sq_rec rec, q
        |  ORDER BY list_cosine_similarity(rec.recon::DOUBLE[],
        |    q.embedding::DOUBLE[]) DESC, rec.vec_id ASC LIMIT 10),
        |imi_subs AS (SELECT e.vec_id, s.s AS sub_id,
        |    list_slice(e.embedding, s.s*32 + 1, s.s*32 + 32) AS subvec
        |  FROM e, unnest(generate_series(0, 1)) s(s)),
        |imi_cb0 AS (SELECT sub_id, vec_id AS cent_id, subvec AS cvec
        |  FROM imi_subs WHERE vec_id < 16),
        |imi_a1 AS (SELECT s.vec_id, s.sub_id, arg_max(c.cent_id,
        |    list_cosine_similarity(s.subvec::DOUBLE[], c.cvec::DOUBLE[]))
        |    AS cent_id
        |  FROM imi_subs s JOIN imi_cb0 c USING (sub_id)
        |  GROUP BY s.vec_id, s.sub_id),
        |imi_m1 AS (SELECT a.sub_id, a.cent_id, t.i AS i,
        |    CAST(CAST(SUM(CAST(round(s.subvec[t.i]::DOUBLE * 16777216.0)
        |      AS BIGINT)) AS DOUBLE) / 16777216.0 / COUNT(*) AS FLOAT) AS m
        |  FROM imi_a1 a JOIN imi_subs s USING (vec_id, sub_id),
        |    unnest(generate_series(1, 32)) t(i)
        |  GROUP BY a.sub_id, a.cent_id, t.i),
        |imi_cb1 AS (SELECT sub_id, cent_id, list(m ORDER BY i) AS cvec
        |  FROM imi_m1 GROUP BY sub_id, cent_id),
        |imi_codes AS (SELECT s.vec_id, s.sub_id, arg_max(c.cent_id,
        |    list_cosine_similarity(s.subvec::DOUBLE[], c.cvec::DOUBLE[]))
        |    AS cent_id
        |  FROM imi_subs s JOIN imi_cb1 c USING (sub_id)
        |  GROUP BY s.vec_id, s.sub_id),
        |imi_cells AS (SELECT vec_id,
        |    16 * MAX(CASE WHEN sub_id = 0 THEN cent_id END) +
        |    MAX(CASE WHEN sub_id = 1 THEN cent_id END) AS cell_id
        |  FROM imi_codes GROUP BY vec_id),
        |imi_qsubs AS (SELECT s.s AS sub_id,
        |    list_slice(q.embedding, s.s*32 + 1, s.s*32 + 32) AS qsub
        |  FROM q, unnest(generate_series(0, 1)) s(s)),
        |imi_ranked AS (SELECT c.sub_id, c.cent_id, row_number() OVER (
        |    PARTITION BY c.sub_id
        |    ORDER BY list_cosine_similarity(c.cvec::DOUBLE[],
        |      qs.qsub::DOUBLE[]) DESC, c.cent_id ASC) AS rn
        |  FROM imi_cb1 c JOIN imi_qsubs qs USING (sub_id)),
        |imi_probe AS (SELECT 16 * a.cent_id + b.cent_id AS cell_id
        |  FROM imi_ranked a, imi_ranked b
        |  WHERE a.sub_id = 0 AND b.sub_id = 1
        |    AND a.rn <= 2 AND b.rn <= 2),
        |imi_cand AS (SELECT cl.vec_id FROM imi_cells cl
        |  JOIN imi_probe USING (cell_id) WHERE cl.vec_id <> 0),
        |imi_top AS (SELECT e.vec_id FROM e JOIN imi_cand USING (vec_id), q
        |  ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
        |    q.embedding::DOUBLE[]) DESC, e.vec_id ASC LIMIT 10),
        |card AS (
        |  SELECT 'a_brute_force' AS tier,
        |    round((SELECT COUNT(*) FROM exact) / 10.0, 4) AS recall_at_10,
        |    (SELECT COUNT(*) FROM e WHERE vec_id <> 0)
        |      AS candidates_scanned,
        |    256 AS bytes_per_candidate
        |  UNION ALL SELECT 'b_lsh',
        |    round((SELECT COUNT(*) FROM lsh_top JOIN exact USING (vec_id))
        |      / 10.0, 4),
        |    (SELECT COUNT(*) FROM lsh_cand), 256
        |  UNION ALL SELECT 'c_lsh_multiprobe',
        |    round((SELECT COUNT(*) FROM mp_top JOIN exact USING (vec_id))
        |      / 10.0, 4),
        |    (SELECT COUNT(*) FROM mp_cand), 256
        |  UNION ALL SELECT 'd_ivf',
        |    round((SELECT COUNT(*) FROM ivf_top JOIN exact USING (vec_id))
        |      / 10.0, 4),
        |    (SELECT COUNT(*) FROM ivf_cand), 256
        |  UNION ALL SELECT 'e_ivf_kmeans',
        |    round((SELECT COUNT(*) FROM km_top JOIN exact USING (vec_id))
        |      / 10.0, 4),
        |    (SELECT COUNT(*) FROM km_cand), 256
        |  UNION ALL SELECT 'f_pq',
        |    round((SELECT COUNT(*) FROM pq_top JOIN exact USING (vec_id))
        |      / 10.0, 4),
        |    (SELECT COUNT(*) FROM e WHERE vec_id <> 0), 8
        |  UNION ALL SELECT 'g_ivfpq',
        |    round((SELECT COUNT(*) FROM ipq_top JOIN exact USING (vec_id))
        |      / 10.0, 4),
        |    (SELECT COUNT(*) FROM ivf_cand), 8
        |  UNION ALL SELECT 'h_ivfpq_residual',
        |    round((SELECT COUNT(*) FROM res_top JOIN exact USING (vec_id))
        |      / 10.0, 4),
        |    (SELECT COUNT(*) FROM ivf_cand), 8
        |  UNION ALL SELECT 'i_sq8',
        |    round((SELECT COUNT(*) FROM sq_top JOIN exact USING (vec_id))
        |      / 10.0, 4),
        |    (SELECT COUNT(*) FROM e WHERE vec_id <> 0), 64
        |  UNION ALL SELECT 'j_imi',
        |    round((SELECT COUNT(*) FROM imi_top JOIN exact USING (vec_id))
        |      / 10.0, 4),
        |    (SELECT COUNT(*) FROM imi_cand), 256)
        |SELECT tier, recall_at_10,
        |  CAST(candidates_scanned AS BIGINT) AS candidates_scanned,
        |  CAST(bytes_per_candidate AS BIGINT) AS bytes_per_candidate
        |FROM card ORDER BY tier""".stripMargin,
    "q90_sq_ann_knn" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |st AS (SELECT t.i AS i, MIN(e.embedding[t.i]) AS lo,
        |    MAX(e.embedding[t.i]) AS hi
        |  FROM e, unnest(generate_series(1, 64)) t(i) GROUP BY t.i),
        |qd AS (SELECT e.vec_id, st.i,
        |    CAST(CASE WHEN st.hi = st.lo THEN st.lo::DOUBLE
        |      ELSE st.lo::DOUBLE +
        |        (least(greatest(floor((e.embedding[st.i]::DOUBLE -
        |            st.lo::DOUBLE) / (st.hi::DOUBLE - st.lo::DOUBLE)
        |            * 256), 0), 255) + 0.5) *
        |          (st.hi::DOUBLE - st.lo::DOUBLE) / 256
        |      END AS FLOAT) AS r
        |  FROM e, st WHERE e.vec_id <> 0),
        |rec AS (SELECT vec_id, list(r ORDER BY i) AS recon
        |  FROM qd GROUP BY vec_id),
        |q AS (SELECT embedding FROM e WHERE vec_id = 0),
        |s AS (SELECT rec.vec_id,
        |    list_cosine_similarity(rec.recon::DOUBLE[],
        |      q.embedding::DOUBLE[]) AS cos_sq
        |  FROM rec, q),
        |top AS (SELECT vec_id, cos_sq FROM s
        |  ORDER BY cos_sq DESC, vec_id ASC LIMIT 10)
        |SELECT top.vec_id, round(top.cos_sq, 4) AS cos_sq,
        |  round(list_cosine_similarity(e.embedding::DOUBLE[],
        |    q.embedding::DOUBLE[]), 4) AS cos_full
        |FROM top JOIN e USING (vec_id), q
        |ORDER BY round(top.cos_sq, 4) DESC, top.vec_id ASC""".stripMargin,
    "q78_embedding_outliers" ->
      """WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
        |m AS (SELECT label, t.i AS i,
        |    CAST(CAST(SUM(CAST(round(e.embedding[t.i]::DOUBLE * 16777216.0)
        |      AS BIGINT)) AS DOUBLE) / 16777216.0 / COUNT(*) AS FLOAT) AS m
        |  FROM e, unnest(generate_series(1, 64)) t(i)
        |  GROUP BY label, t.i),
        |c AS (SELECT label, list(m ORDER BY i) AS cemb FROM m
        |      GROUP BY label),
        |s AS (SELECT e.vec_id, e.label,
        |    round(list_cosine_similarity(e.embedding::DOUBLE[],
        |      c.cemb::DOUBLE[]), 4) AS cos_centroid
        |  FROM e JOIN c USING (label))
        |SELECT vec_id, label, cos_centroid,
        |  CAST(CASE WHEN cos_centroid < 0.0 THEN 1 ELSE 0 END AS BIGINT)
        |    AS is_outlier
        |FROM s ORDER BY vec_id""".stripMargin,
    "q55_ivfpq_ann_knn" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |cells AS (
        |  SELECT vec_id AS cell_id, embedding AS cellemb
        |  FROM e WHERE vec_id < 16),
        |assign AS (
        |  SELECT e.vec_id, arg_max(cl.cell_id,
        |    list_cosine_similarity(e.embedding::DOUBLE[],
        |      cl.cellemb::DOUBLE[])) AS cell_id
        |  FROM e, cells cl GROUP BY e.vec_id),
        |q AS (SELECT vec_id, embedding FROM e WHERE vec_id = 0),
        |probe AS (
        |  SELECT cl.cell_id FROM cells cl, q
        |  ORDER BY list_cosine_similarity(cl.cellemb::DOUBLE[],
        |    q.embedding::DOUBLE[]) DESC, cl.cell_id ASC
        |  LIMIT 2),
        |subs AS (
        |  SELECT e.vec_id, s.s AS sub_id,
        |    list_slice(e.embedding, s.s*8 + 1, s.s*8 + 8) AS subvec
        |  FROM e, unnest(generate_series(0, 7)) s(s)),
        |cb0 AS (
        |  SELECT sub_id, vec_id AS cent_id, subvec AS cvec
        |  FROM subs WHERE vec_id < 16),
        |a1 AS (
        |  SELECT s.vec_id, s.sub_id, arg_max(c.cent_id,
        |    list_cosine_similarity(s.subvec::DOUBLE[], c.cvec::DOUBLE[]))
        |    AS cent_id
        |  FROM subs s JOIN cb0 c USING (sub_id)
        |  GROUP BY s.vec_id, s.sub_id),
        |m1 AS (
        |  SELECT a.sub_id, a.cent_id, t.i AS i,
        |    CAST(CAST(SUM(CAST(round(s.subvec[t.i]::DOUBLE * 16777216.0)
        |      AS BIGINT)) AS DOUBLE) / 16777216.0 / COUNT(*) AS FLOAT) AS m
        |  FROM a1 a JOIN subs s USING (vec_id, sub_id),
        |    unnest(generate_series(1, 8)) t(i)
        |  GROUP BY a.sub_id, a.cent_id, t.i),
        |cb1 AS (
        |  SELECT sub_id, cent_id, list(m ORDER BY i) AS cvec FROM m1
        |  GROUP BY sub_id, cent_id),
        |codes AS (
        |  SELECT s.vec_id, s.sub_id, arg_max(c.cent_id,
        |    list_cosine_similarity(s.subvec::DOUBLE[], c.cvec::DOUBLE[]))
        |    AS cent_id
        |  FROM subs s JOIN cb1 c USING (sub_id)
        |  GROUP BY s.vec_id, s.sub_id),
        |qsubs AS (
        |  SELECT s.s AS sub_id,
        |    list_slice(q.embedding, s.s*8 + 1, s.s*8 + 8) AS qsub
        |  FROM q, unnest(generate_series(0, 7)) s(s)),
        |adc AS (
        |  SELECT c.sub_id, c.cent_id,
        |    list_inner_product(c.cvec::DOUBLE[], qs.qsub::DOUBLE[]) AS pdot
        |  FROM cb1 c JOIN qsubs qs USING (sub_id)),
        |nrm AS (
        |  SELECT vec_id,
        |    sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]))
        |      AS nrm
        |  FROM e),
        |qn AS (
        |  SELECT sqrt(list_inner_product(embedding::DOUBLE[],
        |    embedding::DOUBLE[])) AS qnrm
        |  FROM q),
        |probed AS (
        |  SELECT a.vec_id FROM assign a JOIN probe p USING (cell_id)),
        |cand AS (
        |  SELECT co.vec_id,
        |    CASE WHEN ANY_VALUE(n.nrm) = 0 OR ANY_VALUE(qn.qnrm) = 0
        |      THEN 0 ELSE
        |        round((CAST(SUM(CAST(round(a.pdot * 16777216.0) AS BIGINT))
        |            AS DOUBLE) / 16777216.0)
        |          / (ANY_VALUE(n.nrm) * ANY_VALUE(qn.qnrm)), 4)
        |      END AS approx_cosine
        |  FROM codes co
        |    JOIN probed USING (vec_id)
        |    JOIN adc a USING (sub_id, cent_id)
        |    JOIN nrm n USING (vec_id), qn
        |  WHERE co.vec_id <> 0
        |  GROUP BY co.vec_id
        |  ORDER BY approx_cosine DESC, co.vec_id ASC
        |  LIMIT 50)
        |SELECT e.vec_id,
        |  round(list_cosine_similarity(e.embedding::DOUBLE[],
        |    q.embedding::DOUBLE[]), 4) AS cosine
        |FROM e JOIN cand USING (vec_id), q
        |ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
        |  q.embedding::DOUBLE[]) DESC, e.vec_id ASC
        |LIMIT 10""".stripMargin,
    "q64_ivfpq_residual_knn" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |cells AS (
        |  SELECT vec_id AS cell_id, embedding AS cellemb
        |  FROM e WHERE vec_id < 16),
        |assign AS (
        |  SELECT e.vec_id, arg_max(cl.cell_id,
        |    list_cosine_similarity(e.embedding::DOUBLE[],
        |      cl.cellemb::DOUBLE[])) AS cell_id
        |  FROM e, cells cl GROUP BY e.vec_id),
        |q AS (SELECT vec_id, embedding FROM e WHERE vec_id = 0),
        |probe AS (
        |  SELECT cl.cell_id FROM cells cl, q
        |  ORDER BY list_cosine_similarity(cl.cellemb::DOUBLE[],
        |    q.embedding::DOUBLE[]) DESC, cl.cell_id ASC
        |  LIMIT 2),
        |rs AS (
        |  SELECT a.vec_id, a.cell_id,
        |    list_transform(generate_series(1, 64),
        |      i -> e.embedding[i] - cl.cellemb[i]) AS remb
        |  FROM assign a JOIN e USING (vec_id)
        |    JOIN cells cl USING (cell_id)),
        |rsubs AS (
        |  SELECT vec_id, s.s AS sub_id,
        |    list_slice(remb, s.s*8 + 1, s.s*8 + 8) AS subvec
        |  FROM rs, unnest(generate_series(0, 7)) s(s)),
        |nz AS (SELECT vec_id FROM rs
        |  WHERE list_inner_product(remb::DOUBLE[], remb::DOUBLE[]) <> 0),
        |seeds AS (
        |  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cent_id
        |  FROM nz ORDER BY vec_id LIMIT 16),
        |cb0 AS (
        |  SELECT r.sub_id, s.cent_id, r.subvec AS cvec
        |  FROM rsubs r JOIN seeds s USING (vec_id)),
        |a1 AS (
        |  SELECT s.vec_id, s.sub_id, arg_max(c.cent_id,
        |    list_cosine_similarity(s.subvec::DOUBLE[], c.cvec::DOUBLE[]))
        |    AS cent_id
        |  FROM rsubs s JOIN nz USING (vec_id) JOIN cb0 c USING (sub_id)
        |  GROUP BY s.vec_id, s.sub_id),
        |m1 AS (
        |  SELECT a.sub_id, a.cent_id, t.i AS i,
        |    CAST(CAST(SUM(CAST(round(s.subvec[t.i]::DOUBLE * 16777216.0)
        |      AS BIGINT)) AS DOUBLE) / 16777216.0 / COUNT(*) AS FLOAT) AS m
        |  FROM a1 a JOIN rsubs s USING (vec_id, sub_id),
        |    unnest(generate_series(1, 8)) t(i)
        |  GROUP BY a.sub_id, a.cent_id, t.i),
        |cb1 AS (
        |  SELECT sub_id, cent_id, list(m ORDER BY i) AS cvec FROM m1
        |  GROUP BY sub_id, cent_id),
        |scored AS (
        |  SELECT s.vec_id, s.sub_id, c.cent_id,
        |    CASE WHEN list_inner_product(s.subvec::DOUBLE[],
        |        s.subvec::DOUBLE[]) = 0
        |      OR list_inner_product(c.cvec::DOUBLE[], c.cvec::DOUBLE[]) = 0
        |      THEN 0
        |      ELSE list_cosine_similarity(s.subvec::DOUBLE[],
        |        c.cvec::DOUBLE[]) END AS cs
        |  FROM rsubs s JOIN cb1 c USING (sub_id)),
        |codes AS (
        |  SELECT vec_id, sub_id, MIN(cent_id) AS cent_id FROM (
        |    SELECT *, MAX(cs) OVER (PARTITION BY vec_id, sub_id) AS mx
        |    FROM scored) WHERE cs = mx
        |  GROUP BY vec_id, sub_id),
        |qsubs AS (
        |  SELECT s.s AS sub_id,
        |    list_slice(q.embedding, s.s*8 + 1, s.s*8 + 8) AS qsub
        |  FROM q, unnest(generate_series(0, 7)) s(s)),
        |adc AS (
        |  SELECT c.sub_id, c.cent_id,
        |    list_inner_product(c.cvec::DOUBLE[], qs.qsub::DOUBLE[]) AS pdot
        |  FROM cb1 c JOIN qsubs qs USING (sub_id)),
        |qcd AS (
        |  SELECT p.cell_id,
        |    list_inner_product(cl.cellemb::DOUBLE[], q.embedding::DOUBLE[])
        |      AS qcdot
        |  FROM probe p JOIN cells cl USING (cell_id), q),
        |nrm AS (
        |  SELECT vec_id,
        |    sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]))
        |      AS nrm
        |  FROM e),
        |qn AS (
        |  SELECT sqrt(list_inner_product(embedding::DOUBLE[],
        |    embedding::DOUBLE[])) AS qnrm
        |  FROM q),
        |pa AS (
        |  SELECT a.vec_id, a.cell_id FROM assign a
        |    JOIN probe p USING (cell_id)),
        |cand AS (
        |  SELECT co.vec_id,
        |    CASE WHEN ANY_VALUE(n.nrm) = 0 OR ANY_VALUE(qn.qnrm) = 0
        |      THEN 0 ELSE
        |        round((CAST(SUM(CAST(round(a.pdot * 16777216.0) AS BIGINT))
        |            + ANY_VALUE(CAST(round(qc.qcdot * 16777216.0) AS BIGINT))
        |            AS DOUBLE) / 16777216.0)
        |          / (ANY_VALUE(n.nrm) * ANY_VALUE(qn.qnrm)), 4)
        |      END AS approx_cosine
        |  FROM codes co
        |    JOIN pa USING (vec_id)
        |    JOIN adc a USING (sub_id, cent_id)
        |    JOIN qcd qc USING (cell_id)
        |    JOIN nrm n USING (vec_id), qn
        |  WHERE co.vec_id <> 0
        |  GROUP BY co.vec_id
        |  ORDER BY approx_cosine DESC, co.vec_id ASC
        |  LIMIT 50)
        |SELECT e.vec_id,
        |  round(list_cosine_similarity(e.embedding::DOUBLE[],
        |    q.embedding::DOUBLE[]), 4) AS cosine
        |FROM e JOIN cand USING (vec_id), q
        |ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
        |  q.embedding::DOUBLE[]) DESC, e.vec_id ASC
        |LIMIT 10""".stripMargin,
    "q52_pq_ann_knn" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |subs AS (
        |  SELECT e.vec_id, s.s AS sub_id,
        |    list_slice(e.embedding, s.s*8 + 1, s.s*8 + 8) AS subvec
        |  FROM e, unnest(generate_series(0, 7)) s(s)),
        |cb0 AS (
        |  SELECT sub_id, vec_id AS cent_id, subvec AS cvec
        |  FROM subs WHERE vec_id < 16),
        |a1 AS (
        |  SELECT s.vec_id, s.sub_id, arg_max(c.cent_id,
        |    list_cosine_similarity(s.subvec::DOUBLE[], c.cvec::DOUBLE[]))
        |    AS cent_id
        |  FROM subs s JOIN cb0 c USING (sub_id)
        |  GROUP BY s.vec_id, s.sub_id),
        |m1 AS (
        |  SELECT a.sub_id, a.cent_id, t.i AS i,
        |    CAST(CAST(SUM(CAST(round(s.subvec[t.i]::DOUBLE * 16777216.0)
        |      AS BIGINT)) AS DOUBLE) / 16777216.0 / COUNT(*) AS FLOAT) AS m
        |  FROM a1 a JOIN subs s USING (vec_id, sub_id),
        |    unnest(generate_series(1, 8)) t(i)
        |  GROUP BY a.sub_id, a.cent_id, t.i),
        |cb1 AS (
        |  SELECT sub_id, cent_id, list(m ORDER BY i) AS cvec FROM m1
        |  GROUP BY sub_id, cent_id),
        |codes AS (
        |  SELECT s.vec_id, s.sub_id, arg_max(c.cent_id,
        |    list_cosine_similarity(s.subvec::DOUBLE[], c.cvec::DOUBLE[]))
        |    AS cent_id
        |  FROM subs s JOIN cb1 c USING (sub_id)
        |  GROUP BY s.vec_id, s.sub_id),
        |q AS (SELECT vec_id, embedding FROM e WHERE vec_id = 0),
        |qsubs AS (
        |  SELECT s.s AS sub_id,
        |    list_slice(q.embedding, s.s*8 + 1, s.s*8 + 8) AS qsub
        |  FROM q, unnest(generate_series(0, 7)) s(s)),
        |adc AS (
        |  SELECT c.sub_id, c.cent_id,
        |    list_inner_product(c.cvec::DOUBLE[], qs.qsub::DOUBLE[]) AS pdot
        |  FROM cb1 c JOIN qsubs qs USING (sub_id)),
        |nrm AS (
        |  SELECT vec_id,
        |    sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]))
        |      AS nrm
        |  FROM e),
        |qn AS (
        |  SELECT sqrt(list_inner_product(embedding::DOUBLE[],
        |    embedding::DOUBLE[])) AS qnrm
        |  FROM q),
        |cand AS (
        |  SELECT co.vec_id,
        |    CASE WHEN ANY_VALUE(n.nrm) = 0 OR ANY_VALUE(qn.qnrm) = 0
        |      THEN 0 ELSE
        |        round((CAST(SUM(CAST(round(a.pdot * 16777216.0) AS BIGINT))
        |            AS DOUBLE) / 16777216.0)
        |          / (ANY_VALUE(n.nrm) * ANY_VALUE(qn.qnrm)), 4)
        |      END AS approx_cosine
        |  FROM codes co
        |    JOIN adc a USING (sub_id, cent_id)
        |    JOIN nrm n USING (vec_id), qn
        |  WHERE co.vec_id <> 0
        |  GROUP BY co.vec_id
        |  ORDER BY approx_cosine DESC, co.vec_id ASC
        |  LIMIT 50)
        |SELECT e.vec_id,
        |  round(list_cosine_similarity(e.embedding::DOUBLE[],
        |    q.embedding::DOUBLE[]), 4) AS cosine
        |FROM e JOIN cand USING (vec_id), q
        |ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
        |  q.embedding::DOUBLE[]) DESC, e.vec_id ASC
        |LIMIT 10""".stripMargin,
    "q19_knn_cosine" ->
      """WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        | ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) AS cosine
        |FROM embeddings e, q
        |WHERE e.vec_id <> 0
        |ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
        | e.vec_id ASC
        |LIMIT 10""".stripMargin,
    // q146/q150/q151: the stored vector-index lifecycle (write 4/5 +
    // append 1/5 + delete ≡1 mod 3 + gate-exact stored search) must
    // equal brute-force cosine over the SURVIVORS — q19's SQL minus
    // the deleted ids. Gate-exact settings neutralize the codec's
    // shortlist ordering, so ONE oracle gates all three codecs' full
    // write → append → delete → anti-join chains (scoring QUALITY per
    // codec is the specs' job: ResidualPqSpec / OpqRotationSpec /
    // VectorIndexLayoutSpec frame-equality pins).
    "q146_vector_lifecycle" -> vectorLifecycleOracle,
    "q150_residual_lifecycle" -> vectorLifecycleOracle,
    "q151_opq_lifecycle" -> vectorLifecycleOracle,
    "q152_sq8_lifecycle" -> vectorLifecycleOracle,
    // q153: same oracle — gate-exact IMI-coarse lifecycle must equal
    // brute force over the survivors, exactly like the flat-coarse
    // gates; what the hash adds is that the two-level write → append
    // → delete → probe-all-cells chain loses and leaks no rows
    "q153_imi_lifecycle" -> vectorLifecycleOracle,
    // q154: same oracle — the pgroup'd physical layout (cells grouped
    // into pmod(cell_id, P) partitions, rows sorted by cell_id) must
    // be INVISIBLE to the query: the full write → append → delete →
    // probe-all-cells chain over the grouped files equals brute force
    // over the survivors, hash-for-hash with the per-cell layout
    "q154_pgroup_lifecycle" -> vectorLifecycleOracle,
    "q24_embedding_topk_pairs" ->
      """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        | round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cosine
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |ORDER BY list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) DESC,
        | vec_a ASC, vec_b ASC
        |LIMIT 20""".stripMargin,
    "q25_ann_lsh_knn" ->
      """WITH planes AS (
        |  SELECT p, list_transform(generate_series(0, 63),
        |    d -> (CAST(('0x' || substr(md5(p || '|' || d), 1, 8)) AS BIGINT)
        |          / 4294967296.0) - 0.5) AS w
        |  FROM unnest(generate_series(0, 3)) AS t(p)
        |), buckets AS (
        |  SELECT vec_id, embedding,
        |    CAST(SUM(CASE WHEN list_sum(list_transform(generate_series(1, 64),
        |           i -> embedding[i] * w[i])) > 0
        |         THEN CAST(floor(pow(2, p)) AS BIGINT) ELSE 0 END) AS BIGINT)
        |      AS bucket
        |  FROM embeddings, planes GROUP BY vec_id, embedding
        |)
        |SELECT e.vec_id,
        | round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) AS cosine
        |FROM buckets e,
        | (SELECT embedding, bucket FROM buckets WHERE vec_id = 0) q
        |WHERE e.bucket = q.bucket AND e.vec_id <> 0
        |ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
        | e.vec_id ASC
        |LIMIT 10""".stripMargin,
    "q40_embedding_near_dup" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |planes AS (
        |  SELECT p, list_transform(generate_series(0, 63),
        |    d -> (CAST(('0x' || substr(md5(p || '|' || d), 1, 8)) AS BIGINT)
        |          / 4294967296.0) - 0.5) AS w
        |  FROM unnest(generate_series(0, 3)) AS t(p)
        |), buckets AS (
        |  SELECT vec_id, embedding,
        |    CAST(SUM(CASE WHEN list_sum(list_transform(generate_series(1, 64),
        |           i -> embedding[i] * w[i])) > 0
        |         THEN CAST(floor(pow(2, p)) AS BIGINT) ELSE 0 END) AS BIGINT)
        |      AS bucket
        |  FROM e, planes GROUP BY vec_id, embedding
        |)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        | round(list_cosine_similarity(a.embedding::DOUBLE[],
        |   b.embedding::DOUBLE[]), 4) AS cosine
        |FROM buckets a JOIN buckets b
        |  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding::DOUBLE[],
        |  b.embedding::DOUBLE[]) >= 0.35
        |ORDER BY vec_a, vec_b""".stripMargin,
    "q42_ann_multiprobe_knn" ->
      """WITH planes AS (
        |  SELECT p, list_transform(generate_series(0, 63),
        |    d -> (CAST(('0x' || substr(md5(p || '|' || d), 1, 8)) AS BIGINT)
        |          / 4294967296.0) - 0.5) AS w
        |  FROM unnest(generate_series(0, 3)) AS t(p)
        |), buckets AS (
        |  SELECT vec_id, embedding,
        |    CAST(SUM(CASE WHEN list_sum(list_transform(generate_series(1, 64),
        |           i -> embedding[i] * w[i])) > 0
        |         THEN CAST(floor(pow(2, p)) AS BIGINT) ELSE 0 END) AS BIGINT)
        |      AS bucket
        |  FROM embeddings, planes GROUP BY vec_id, embedding
        |), q AS (SELECT embedding, bucket FROM buckets WHERE vec_id = 0
        |), probes AS (
        |  SELECT q.embedding, xor(q.bucket, f) AS probe
        |  FROM q, unnest([0, 1, 2, 4, 8]::BIGINT[]) AS t(f)
        |)
        |SELECT e.vec_id,
        | round(list_cosine_similarity(e.embedding::DOUBLE[], p.embedding::DOUBLE[]), 4) AS cosine
        |FROM buckets e JOIN probes p ON e.bucket = p.probe
        |WHERE e.vec_id <> 0
        |ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], p.embedding::DOUBLE[]) DESC,
        | e.vec_id ASC
        |LIMIT 10""".stripMargin,
    "q43_embedding_near_dup_multiprobe" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |planes AS (
        |  SELECT p, list_transform(generate_series(0, 63),
        |    d -> (CAST(('0x' || substr(md5(p || '|' || d), 1, 8)) AS BIGINT)
        |          / 4294967296.0) - 0.5) AS w
        |  FROM unnest(generate_series(0, 3)) AS t(p)
        |), buckets AS (
        |  SELECT vec_id, embedding,
        |    CAST(SUM(CASE WHEN list_sum(list_transform(generate_series(1, 64),
        |           i -> embedding[i] * w[i])) > 0
        |         THEN CAST(floor(pow(2, p)) AS BIGINT) ELSE 0 END) AS BIGINT)
        |      AS bucket
        |  FROM e, planes GROUP BY vec_id, embedding
        |), probe AS (
        |  SELECT vec_id, embedding, xor(bucket, f) AS probe
        |  FROM buckets, unnest([0, 1, 2, 4, 8]::BIGINT[]) AS t(f)
        |)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        | round(list_cosine_similarity(a.embedding::DOUBLE[],
        |   b.embedding::DOUBLE[]), 4) AS cosine
        |FROM probe a JOIN buckets b
        |  ON a.probe = b.bucket AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding::DOUBLE[],
        |  b.embedding::DOUBLE[]) >= 0.35
        |ORDER BY vec_a, vec_b""".stripMargin,
    "q39_ivf_kmeans_knn" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |cents0 AS (
        |  SELECT vec_id AS cent_id, embedding AS cemb FROM e
        |  WHERE vec_id < 16),
        |a1 AS (
        |  SELECT e.vec_id, arg_max(c.cent_id,
        |    list_cosine_similarity(e.embedding::DOUBLE[], c.cemb::DOUBLE[]))
        |    AS cent_id
        |  FROM e, cents0 c GROUP BY e.vec_id),
        |m1 AS (
        |  SELECT a.cent_id, t.i AS i,
        |    CAST(CAST(SUM(CAST(round(e.embedding[t.i]::DOUBLE * 16777216.0)
        |      AS BIGINT)) AS DOUBLE) / 16777216.0 / COUNT(*) AS FLOAT) AS m
        |  FROM a1 a JOIN e USING (vec_id),
        |    unnest(generate_series(1, 64)) t(i)
        |  GROUP BY a.cent_id, t.i),
        |cents1 AS (
        |  SELECT cent_id, list(m ORDER BY i) AS cemb FROM m1
        |  GROUP BY cent_id),
        |a2 AS (
        |  SELECT e.vec_id, arg_max(c.cent_id,
        |    list_cosine_similarity(e.embedding::DOUBLE[], c.cemb::DOUBLE[]))
        |    AS cent_id
        |  FROM e, cents1 c GROUP BY e.vec_id),
        |m2 AS (
        |  SELECT a.cent_id, t.i AS i,
        |    CAST(CAST(SUM(CAST(round(e.embedding[t.i]::DOUBLE * 16777216.0)
        |      AS BIGINT)) AS DOUBLE) / 16777216.0 / COUNT(*) AS FLOAT) AS m
        |  FROM a2 a JOIN e USING (vec_id),
        |    unnest(generate_series(1, 64)) t(i)
        |  GROUP BY a.cent_id, t.i),
        |cents2 AS (
        |  SELECT cent_id, list(m ORDER BY i) AS cemb FROM m2
        |  GROUP BY cent_id),
        |a3 AS (
        |  SELECT e.vec_id, arg_max(c.cent_id,
        |    list_cosine_similarity(e.embedding::DOUBLE[], c.cemb::DOUBLE[]))
        |    AS cent_id
        |  FROM e, cents2 c GROUP BY e.vec_id),
        |q AS (SELECT embedding AS qemb FROM e WHERE vec_id = 0),
        |probe AS (
        |  SELECT c.cent_id FROM cents2 c, q
        |  ORDER BY list_cosine_similarity(c.cemb::DOUBLE[], q.qemb::DOUBLE[])
        |    DESC, c.cent_id ASC LIMIT 2)
        |SELECT e.vec_id,
        | round(list_cosine_similarity(e.embedding::DOUBLE[], q.qemb::DOUBLE[]),
        |   4) AS cosine
        |FROM e JOIN a3 USING (vec_id) JOIN probe USING (cent_id), q
        |WHERE e.vec_id <> 0
        |ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qemb::DOUBLE[])
        |  DESC, e.vec_id ASC
        |LIMIT 10""".stripMargin,
    "q60_semantic_dedup" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |${semDedupCtes("e")}
        |SELECT x.vec_id, x.cent_id,
        |  CAST(CASE WHEN x.vec_id IN (SELECT vec_id FROM sem_drops)
        |       THEN 0 ELSE 1 END AS BIGINT) AS kept
        |FROM x ORDER BY x.vec_id""".stripMargin,
    "q34_ivf_knn" ->
      """WITH cents AS (
        |  SELECT vec_id AS cent_id, embedding AS cemb
        |  FROM embeddings WHERE vec_id < 16),
        |assign AS (
        |  SELECT e.vec_id,
        |    arg_max(c.cent_id,
        |      list_cosine_similarity(e.embedding::DOUBLE[], c.cemb::DOUBLE[]))
        |      AS cent_id
        |  FROM embeddings e, cents c GROUP BY e.vec_id),
        |q AS (SELECT embedding AS qemb FROM embeddings WHERE vec_id = 0),
        |probe AS (
        |  SELECT c.cent_id FROM cents c, q
        |  ORDER BY list_cosine_similarity(c.cemb::DOUBLE[], q.qemb::DOUBLE[]) DESC,
        |    c.cent_id ASC LIMIT 2)
        |SELECT e.vec_id,
        | round(list_cosine_similarity(e.embedding::DOUBLE[], q.qemb::DOUBLE[]), 4)
        |   AS cosine
        |FROM embeddings e
        | JOIN assign a ON e.vec_id = a.vec_id
        | JOIN probe p ON a.cent_id = p.cent_id, q
        |WHERE e.vec_id <> 0
        |ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qemb::DOUBLE[]) DESC,
        | e.vec_id ASC
        |LIMIT 10""".stripMargin,
  )
}
