package graft.queries

import graft.SparkSpecBase

/** The stored IVF+PQ index contract: the deployment layout's probed
  * search must (a) physically prune to the probed cells' files and
  * (b) return exactly what the self-contained q55 query returns —
  * the artifacts ARE the query, just persisted. */
class VectorIndexLayoutSpec extends SparkSpecBase {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("probed search file-prunes to its cells and equals the self-contained q55") {
    val idx = java.nio.file.Files.createTempDirectory("ivfpq-idx")
      .toFile.getAbsolutePath
    SimilarityQueries.writeIvfPqIndex(spark, dir, idx)
    // partition directories exist per cell
    val cellDirs = new java.io.File(s"$idx/codes").listFiles()
      .filter(_.getName.startsWith("cell_id=")).map(_.getName).toSet
    assert(cellDirs.nonEmpty && cellDirs.size <= 16)
    // (a) physical pruning: the probed read TOUCHES strictly fewer
    // files than the full codes table (input_file_name reflects what
    // the executed scan actually read; DataFrame.inputFiles does not
    // apply partition filters)
    val all = spark.read.parquet(s"$idx/codes")
    val probedTwo = all.filter($"cell_id".isin(0L, 1L))
    val filesProbed = probedTwo
      .select(org.apache.spark.sql.functions.input_file_name())
      .distinct().count()
    val filesAll = all
      .select(org.apache.spark.sql.functions.input_file_name())
      .distinct().count()
    assert(filesProbed < filesAll,
      s"literal cell filter must prune files ($filesProbed vs $filesAll)")
    val plan = probedTwo.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell_id"),
      s"the pruning must be a PartitionFilter, not a row filter:\n$plan")
    // (b) the stored-index search reproduces the self-contained query
    val stored = SimilarityQueries
      .ivfPqSearchStored(spark, idx, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val self = graft.ops.Checkpoints.consume(
      SimilarityQueries.ivfPqAnnKnn(spark, dir))(
      _.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    assert(stored == self,
      s"stored-index search diverged:\n  stored=$stored\n  self=$self")
  }

  test("delta append to the stored index equals a batch rebuild at fixed artifacts") {
    val e = graft.io.Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding")
    val maxId = e.agg(org.apache.spark.sql.functions.max($"vec_id"))
      .head().getLong(0)
    val w = maxId * 4 / 5
    val old = e.filter($"vec_id" <= w)
    val fresh = e.filter($"vec_id" > w)
    // path A: index the old corpus, then APPEND the delta (q106's
    // path landing in the stored layout)
    val idxA = java.nio.file.Files.createTempDirectory("ivfpq-a")
      .toFile.getAbsolutePath
    SimilarityQueries.writeIvfPqIndexFrames(old, old, idxA)
    SimilarityQueries.appendToIvfPqIndex(spark, idxA, fresh)
    // path B: one-shot rebuild over the full corpus with the SAME
    // old-trained artifacts
    val idxB = java.nio.file.Files.createTempDirectory("ivfpq-b")
      .toFile.getAbsolutePath
    SimilarityQueries.writeIvfPqIndexFrames(old, e, idxB)
    def search(idx: String) = SimilarityQueries
      .ivfPqSearchStored(spark, idx, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(search(idxA) == search(idxB),
      "append-refresh must equal batch rebuild at fixed artifacts")
    // the appended codes table holds every vector exactly once
    val ids = SimilarityQueries.codesFrame(spark, idxA)
      .select($"vec_id").distinct().count()
    assert(ids == maxId + 1)
    // compaction: the append left extra part-files per touched cell;
    // the rewrite reclaims them and the stored search is unchanged
    val preSearch = search(idxA)
    val (fBefore, fAfter, rows) =
      SimilarityQueries.compactIvfPqIndex(spark, idxA)
    assert(fAfter < fBefore,
      s"compaction must reclaim append files: $fBefore -> $fAfter")
    assert(rows == SimilarityQueries.codesFrame(spark, idxA).count(),
      "content untouched")
    assert(search(idxA) == preSearch,
      "stored search must be compaction-invariant")
    assert(!new java.io.File(s"$idxA/codes.old").exists() &&
      !new java.io.File(s"$idxA/codes.compact").exists())
    // applied-segments registry: a batch committed BEFORE the
    // compaction must replay as a no-op after it (the live dirs
    // forgot the folded segment; the registry must not). New ids —
    // a real redelivery carries the same rows under the same batch id
    val b7 = fresh.select(($"vec_id" + 990000L).as("vec_id"),
      $"embedding")
    SimilarityQueries.appendToIvfPqIndex(spark, idxA, b7,
      segmentId = Some("b7"))
    val n7 = SimilarityQueries.codesFrame(spark, idxA).count()
    SimilarityQueries.compactIvfPqIndex(spark, idxA)
    SimilarityQueries.appendToIvfPqIndex(spark, idxA, b7,
      segmentId = Some("b7"))
    assert(SimilarityQueries.codesFrame(spark, idxA).count() == n7,
      "a pre-compaction batch id must not re-apply after the fold")
  }

  test("vector tombstones: deleted ids leave the search, compaction reclaims the codes") {
    import org.apache.spark.sql.functions._
    val idx = java.nio.file.Files.createTempDirectory("ivfpq-del")
      .toFile.getAbsolutePath
    SimilarityQueries.writeIvfPqIndex(spark, dir, idx)
    def search() = SimilarityQueries
      .ivfPqSearchStored(spark, idx, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val base = search()
    // delete two ids the search currently SERVES — the observable case
    val dead = base.take(2).map(_._1)
    SimilarityQueries.deleteFromIvfPqIndex(spark, idx, dead)
    val after = search()
    assert(dead.forall(id => !after.exists(_._1 == id)),
      "deleted ids must never be served")
    // deletion is pure masking at fixed artifacts (the FAISS
    // remove_ids contract): every surviving base hit keeps its exact
    // score and relative order
    val baseSurvivors = base.filterNot(h => dead.contains(h._1))
    assert(after.take(baseSurvivors.size) == baseSurvivors,
      "surviving hits must keep their scores and order")
    val rowsBefore = SimilarityQueries.codesFrame(spark, idx).count()
    val deadRows = SimilarityQueries.codesFrame(spark, idx)
      .filter($"vec_id".isInCollection(dead)).count()
    assert(deadRows > 0)
    val preSearch = search()
    SimilarityQueries.compactIvfPqIndex(spark, idx)
    assert(!graft.io.Layout.pathExists(spark,
      s"${graft.io.Layout.liveArtifactDir(spark, idx)}/tombstones"),
      "compaction must reclaim the tombstone set")
    assert(SimilarityQueries.codesFrame(spark, idx).count() ==
      rowsBefore - deadRows,
      "compaction must drop exactly the tombstoned code rows")
    assert(search() == preSearch,
      "search must be identical before and after physical reclamation")
  }

  test("residual codec: stored search equals the self-contained q64 at deployment settings") {
    import org.apache.spark.sql.functions._
    val e = graft.io.Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding")
    val idx = java.nio.file.Files.createTempDirectory("ivfpq-res")
      .toFile.getAbsolutePath
    SimilarityQueries.writeIvfPqIndexFrames(e, e, idx,
      codec = "residual")
    // the stored face at DEPLOYMENT settings (2 probes, shortlist 50)
    // must reproduce q64's audited operator bit-for-bit: same
    // artifacts, same ADC + per-cell ⟨q,c⟩ identity, same tie-breaks
    val stored = SimilarityQueries.ivfPqSearchStored(spark, idx, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val self = SimilarityQueries.ivfPqResidualKnn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(stored == self,
      s"stored residual search diverged:\n  stored=$stored\n  self=$self")
    // and the codec survives the delta path: append against the
    // FIXED residual artifacts equals a batch rebuild
    val maxId = e.agg(max($"vec_id")).head().getLong(0)
    val w = maxId * 4 / 5
    val idxA = java.nio.file.Files.createTempDirectory("ivfpq-res-a")
      .toFile.getAbsolutePath
    SimilarityQueries.writeIvfPqIndexFrames(
      e.filter($"vec_id" <= w), e.filter($"vec_id" <= w), idxA,
      codec = "residual")
    SimilarityQueries.appendToIvfPqIndex(spark, idxA,
      e.filter($"vec_id" > w))
    val idxB = java.nio.file.Files.createTempDirectory("ivfpq-res-b")
      .toFile.getAbsolutePath
    SimilarityQueries.writeIvfPqIndexFrames(
      e.filter($"vec_id" <= w), e, idxB, codec = "residual")
    def search(i: String) = SimilarityQueries
      .ivfPqSearchStored(spark, i, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(search(idxA) == search(idxB),
      "residual append-refresh must equal batch rebuild at fixed " +
        "artifacts")
  }

  test("opq codec: orthonormal rotation artifact, rotated codes, exact at gate settings") {
    import org.apache.spark.sql.functions._
    val e = graft.io.Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding")
    val idxO = java.nio.file.Files.createTempDirectory("ivfpq-opq")
      .toFile.getAbsolutePath
    SimilarityQueries.writeIvfPqIndexFrames(e, e, idxO, codec = "opq")
    // the persisted rotation is orthonormal (R·Rᵀ = I): rotating
    // preserves dots and norms, so cosine semantics are untouched
    val rows = spark.read.parquet(s"$idxO/rotation")
      .orderBy($"row_id").collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    for (i <- rows.indices; j <- rows.indices) {
      val d = rows(i).zip(rows(j)).map { case (a, b) => a * b }.sum
      val expect = if (i == j) 1.0 else 0.0
      assert(math.abs(d - expect) < 1e-3,
        s"rotation rows $i,$j not orthonormal: $d")
    }
    // the rotation actually reached the quantizer: codes differ from
    // a plain-pq index over the same corpus and artifactsFrom
    val idxP = java.nio.file.Files.createTempDirectory("ivfpq-plain")
      .toFile.getAbsolutePath
    SimilarityQueries.writeIvfPqIndexFrames(e, e, idxP, codec = "pq")
    def codesOf(i: String) = spark.read.parquet(s"$i/codes")
      .select($"vec_id", $"sub_id", $"cent_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSet
    assert(codesOf(idxO) != codesOf(idxP),
      "opq codes must differ from plain pq codes")
    // gate-exact settings: every cell probed, corpus-wide shortlist —
    // the exact rerank sees everything, so the stored opq face must
    // equal brute force (the q146 verification convention)
    val n = e.count().toInt
    val stored = SimilarityQueries.ivfPqSearchStored(spark, idxO, dir,
        probes = 16, shortlist = n)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val brute = SimilarityQueries.knnBruteForce(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(stored == brute,
      "gate-exact stored opq search must equal brute force")
  }

  test("sq8 codec: stored codes are q90's quantization, append holds at fixed ranges, gate-exact is exact") {
    import org.apache.spark.sql.functions._
    val e = graft.io.Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding")
    val idx = java.nio.file.Files.createTempDirectory("ivfpq-sq8")
      .toFile.getAbsolutePath
    SimilarityQueries.writeIvfPqIndexFrames(e, e, idx, codec = "sq8")
    // the persisted codes ARE q90's quantization: re-derive a sample
    // row's codes from the raw vector and the stored ranges
    val st = spark.read.parquet(s"$idx/sqstats").head()
    val lo = st.getSeq[Float](st.fieldIndex("lo"))
    val hi = st.getSeq[Float](st.fieldIndex("hi"))
    val raw = e.filter($"vec_id" === 1L).head().getSeq[Float](1)
    val storedCodes = spark.read.parquet(s"$idx/codes")
      .filter($"vec_id" === 1L).head()
    val qc = storedCodes.getSeq[Int](storedCodes.fieldIndex("qcodes"))
    raw.indices.foreach { i =>
      val expect =
        if (hi(i) == lo(i)) 0
        else math.min(math.max(math.floor(
          (raw(i).toDouble - lo(i)) / (hi(i).toDouble - lo(i)) * 256d),
          0d), 255d).toInt
      assert(qc(i) == expect, s"dim $i: code ${qc(i)} != $expect")
    }
    // gate-exact: shortlist covers the corpus, rerank sees everything
    val n = e.count().toInt
    val stored = SimilarityQueries.ivfPqSearchStored(spark, idx, dir,
        probes = 16, shortlist = n)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val brute = SimilarityQueries.knnBruteForce(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(stored == brute,
      "gate-exact stored sq8 search must equal brute force")
    // append at FIXED ranges equals a batch rebuild (the lo/hi
    // artifacts never retrain on append — the q106 stability
    // contract applied to scalar ranges)
    val maxId = e.agg(max($"vec_id")).head().getLong(0)
    val w = maxId * 4 / 5
    val idxA = java.nio.file.Files.createTempDirectory("ivfpq-sq8-a")
      .toFile.getAbsolutePath
    SimilarityQueries.writeIvfPqIndexFrames(
      e.filter($"vec_id" <= w), e.filter($"vec_id" <= w), idxA,
      codec = "sq8")
    SimilarityQueries.appendToIvfPqIndex(spark, idxA,
      e.filter($"vec_id" > w))
    val idxB = java.nio.file.Files.createTempDirectory("ivfpq-sq8-b")
      .toFile.getAbsolutePath
    SimilarityQueries.writeIvfPqIndexFrames(
      e.filter($"vec_id" <= w), e, idxB, codec = "sq8")
    def search(i: String) = SimilarityQueries
      .ivfPqSearchStored(spark, i, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(search(idxA) == search(idxB),
      "sq8 append-refresh must equal batch rebuild at fixed ranges")
  }

  test("stored filtered search: pre-filter semantics, frame-equal to q113 at gate-exact settings") {
    import org.apache.spark.sql.functions._
    val idx = java.nio.file.Files.createTempDirectory("ivfpq-filt")
      .toFile.getAbsolutePath
    SimilarityQueries.writeIvfPqIndex(spark, dir, idx)
    val allowed = graft.io.Tables.documents(spark, dir)
      .filter($"lang" === "en")
      .select($"doc_id".as("vec_id"))
    val n = graft.io.Tables.embeddings(spark, dir).count().toInt
    val stored = SimilarityQueries.ivfPqSearchStored(spark, idx, dir,
        probes = 16, shortlist = n, allowed = Some(allowed))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val self = SimilarityQueries.filteredKnn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(stored == self,
      "stored filtered search must equal the self-contained q113")
    // pre-filter semantics: every hit satisfies the filter even at
    // DEPLOYMENT settings (bounded shortlist) — the property
    // post-filtering cannot give
    val allowedIds = allowed.collect().map(_.getLong(0)).toSet
    val deploy = SimilarityQueries.ivfPqSearchStored(spark, idx, dir,
        allowed = Some(allowed))
      .collect().map(_.getLong(0)).toSeq
    assert(deploy.nonEmpty && deploy.forall(allowedIds),
      "every served hit must satisfy the pre-filter")
  }

  test("stored msearch: one codes pass for the whole query set, frame-equal to q114 at gate-exact settings") {
    val idx = java.nio.file.Files.createTempDirectory("ivfpq-ms")
      .toFile.getAbsolutePath
    SimilarityQueries.writeIvfPqIndex(spark, dir, idx)
    val n = graft.io.Tables.embeddings(spark, dir).count().toInt
    val stored = SimilarityQueries.ivfPqMsearchStored(spark, idx, dir,
        probes = 16, shortlist = n)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    val self = SimilarityQueries.knnBatch(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(stored == self,
      "stored msearch must equal the self-contained q114 batch")
    // deletes flow through the live view for every query in the batch
    val firstHit = stored.head._3
    SimilarityQueries.deleteFromIvfPqIndex(spark, idx, Seq(firstHit))
    val after = SimilarityQueries.ivfPqMsearchStored(spark, idx, dir,
        probes = 16, shortlist = n)
      .collect().map(_.getLong(2)).toSeq
    assert(!after.contains(firstHit),
      "a tombstoned vector must vanish from every query's page")
    // filtered × batched composition: the pre-filter masks every
    // query's candidates; with an all-ids filter the page is the
    // unfiltered one (modulo the tombstone above)
    val allowed = graft.io.Tables.documents(spark, dir)
      .filter($"lang" === "en").select($"doc_id".as("vec_id"))
    val allowedIds = allowed.collect().map(_.getLong(0)).toSet
    val filt = SimilarityQueries.ivfPqMsearchStored(spark, idx, dir,
        allowed = Some(allowed))
      .collect().map(_.getLong(2)).toSeq
    assert(filt.nonEmpty && filt.forall(allowedIds),
      "every batched hit must satisfy the pre-filter")
    val everything = graft.io.Tables.embeddings(spark, dir)
      .select($"vec_id")
    val openFilt = SimilarityQueries.ivfPqMsearchStored(spark, idx,
        dir, probes = 16, shortlist = n,
        allowed = Some(everything))
      .collect().map(_.getLong(2)).toSeq
    assert(openFilt == after,
      "an all-ids filter must reproduce the unfiltered batch page")
  }

  test("imi coarse: stored search equals the self-contained q116 at deployment settings") {
    import org.apache.spark.sql.functions._
    val e = graft.io.Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding")
    val idx = java.nio.file.Files.createTempDirectory("ivfpq-imi")
      .toFile.getAbsolutePath
    SimilarityQueries.writeIvfPqIndexFrames(e, e, idx, coarse = "imi")
    // the persisted coarse quantizer is the q104 artifact pair: two
    // half-vector codebooks, nothing flat
    assert(!new java.io.File(s"$idx/cells").exists(),
      "an imi index must not persist a flat cells table")
    val subIds = spark.read.parquet(s"$idx/imi_codebooks")
      .select($"sub_id").distinct()
      .collect().map(_.getAs[Number]("sub_id").intValue).toSet
    assert(subIds == Set(0, 1))
    // cell ids are the two-level composition: beyond one half's range
    // partition-column read-back infers int — read type-agnostically
    val maxCell = spark.read.parquet(s"$idx/codes")
      .agg(max($"cell_id")).head().getAs[Number](0).longValue
    assert(maxCell >= 16, s"composed cell ids expected, got max $maxCell")
    // deployment-shaped probing (4 cells in q116's blended order,
    // corpus shortlist so the ADC stage reorders nothing) must equal
    // the self-contained q116 bit-for-bit: same half codebooks, same
    // blended walk, same exact rerank and tie-breaks
    val n = e.count().toInt
    val stored = SimilarityQueries.ivfPqSearchStored(spark, idx, dir,
        probes = 4, shortlist = n)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val self = SimilarityQueries.imiIvfKnnMultiSeqFrames(e,
        queryId = 0L, k = 10, subdim = 32, c = 16, iters = 1, probes = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(stored == self,
      s"stored imi search diverged from q116:\n  stored=$stored\n  self=$self")
    // the probed scan still file-prunes on the composed partition col
    val probedTwo = spark.read.parquet(s"$idx/codes")
      .filter($"cell_id".isin(maxCell))
    val plan = probedTwo.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      plan.split("PartitionFilters: \\[")(1).takeWhile(_ != ']')
        .contains("cell_id"),
      s"imi cell pruning must stay a PartitionFilter:\n$plan")
  }

  test("imi coarse: append equals rebuild at fixed artifacts; residual composition gate-exact") {
    import org.apache.spark.sql.functions._
    val e = graft.io.Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding")
    val maxId = e.agg(max($"vec_id")).head().getLong(0)
    val w = maxId * 4 / 5
    // append path vs rebuild at the SAME old-trained half codebooks —
    // the q106 delta contract on the two-level grid
    val idxA = java.nio.file.Files.createTempDirectory("imi-a")
      .toFile.getAbsolutePath
    SimilarityQueries.writeIvfPqIndexFrames(
      e.filter($"vec_id" <= w), e.filter($"vec_id" <= w), idxA,
      coarse = "imi")
    SimilarityQueries.appendToIvfPqIndex(spark, idxA,
      e.filter($"vec_id" > w))
    val idxB = java.nio.file.Files.createTempDirectory("imi-b")
      .toFile.getAbsolutePath
    SimilarityQueries.writeIvfPqIndexFrames(
      e.filter($"vec_id" <= w), e, idxB, coarse = "imi")
    def search(i: String) = SimilarityQueries
      .ivfPqSearchStored(spark, i, dir, probes = 4,
        shortlist = maxId.toInt + 1)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(search(idxA) == search(idxB),
      "imi append-refresh must equal batch rebuild at fixed artifacts")
    // residual fine codec composed with the imi coarse grid: the
    // ⟨q,c⟩+⟨q,r̂⟩ identity runs against COMPOSED centroids; at
    // gate-exact settings (every grid cell probed, corpus shortlist)
    // the result must equal brute force — the q153 gate, locally
    val idxR = java.nio.file.Files.createTempDirectory("imi-res")
      .toFile.getAbsolutePath
    SimilarityQueries.writeIvfPqIndexFrames(e, e, idxR,
      codec = "residual", coarse = "imi")
    val n = e.count().toInt
    val stored = SimilarityQueries.ivfPqSearchStored(spark, idxR, dir,
        probes = 256, shortlist = n)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val brute = SimilarityQueries.knnBruteForce(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(stored == brute,
      "gate-exact stored imi+residual search must equal brute force")
    // deletes mask on the composed grid exactly as on flat cells
    val dead = stored.take(2).map(_._1)
    SimilarityQueries.deleteFromIvfPqIndex(spark, idxR, dead)
    val after = SimilarityQueries.ivfPqSearchStored(spark, idxR, dir,
        probes = 256, shortlist = n)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(dead.forall(id => !after.exists(_._1 == id)))
    val survivors = stored.filterNot(h => dead.contains(h._1))
    assert(after.take(survivors.size) == survivors,
      "surviving hits keep exact scores and order on the imi grid")
  }

  test("imi coarse: batched and filtered faces compose on the grid") {
    val idx = java.nio.file.Files.createTempDirectory("imi-msearch")
      .toFile.getAbsolutePath
    SimilarityQueries.writeIvfPqIndex(spark, dir, idx, coarse = "imi")
    val n = graft.io.Tables.embeddings(spark, dir).count().toInt
    // gate-exact batched search over the imi grid (every cell probed
    // via the per-query multi-sequence walks) must equal the
    // self-contained q114 batch — one codes pass for all queries,
    // coarse quantizer transparent to the msearch amortization
    val stored = SimilarityQueries.ivfPqMsearchStored(spark, idx, dir,
        probes = 256, shortlist = n)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    val self = SimilarityQueries.knnBatch(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(stored == self,
      "gate-exact imi msearch must equal the self-contained batch")
    // pre-filter semantics under the imi probe path: every hit
    // satisfies the filter, an all-ids filter reproduces the page
    val allowed = graft.io.Tables.documents(spark, dir)
      .filter($"lang" === "en").select($"doc_id".as("vec_id"))
    val allowedIds = allowed.collect().map(_.getLong(0)).toSet
    val filt = SimilarityQueries.ivfPqSearchStored(spark, idx, dir,
        probes = 256, shortlist = n, allowed = Some(allowed))
      .collect().map(_.getLong(0)).toSeq
    assert(filt.nonEmpty && filt.forall(allowedIds),
      "every imi filtered hit must satisfy the pre-filter")
  }

  test("pgroup layout: same pages as cell-partitioned, pruned by pgroup dirs, lifecycle intact") {
    import org.apache.spark.sql.functions._
    val idxC = java.nio.file.Files.createTempDirectory("pg-cell")
      .toFile.getAbsolutePath
    val idxP = java.nio.file.Files.createTempDirectory("pg-grp")
      .toFile.getAbsolutePath
    SimilarityQueries.writeIvfPqIndex(spark, dir, idxC)
    SimilarityQueries.writeIvfPqIndex(spark, dir, idxP, pgroups = 4)
    def page(idx: String) = SimilarityQueries
      .ivfPqSearchStored(spark, idx, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // the physical layout is invisible to the query: identical page
    assert(page(idxP) == page(idxC),
      "pgroup'd index must serve the cell-partitioned page bit-for-bit")
    // physical shape: pgroup= dirs, cell_id as a data column
    val dirs = new java.io.File(s"$idxP/codes").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("pgroup=")),
      s"expected pgroup= partitions, got ${dirs.toSeq}")
    assert(dirs.length <= 4)
    // the probed scan prunes: fewer files than the full table, and
    // the pgroup filter is a PartitionFilter in the executed plan
    val all = spark.read.parquet(s"$idxP/codes")
    val pruned = all.filter($"pgroup".isInCollection(Seq(0, 1)))
      .filter($"cell_id".isInCollection(Seq(0L, 4L)))
    assert(pruned.queryExecution.executedPlan.toString
      .contains("PartitionFilters: [pgroup"),
      "pgroup pruning must be a PartitionFilter")
    val filesPruned = pruned.select(input_file_name()).distinct().count()
    val filesAll = all.select(input_file_name()).distinct().count()
    assert(filesPruned < filesAll,
      s"pgroup filter must prune files ($filesPruned vs $filesAll)")
    // full lifecycle on the pgroup layout: append lands pgroup'd
    // segments, delete masks, compaction folds pgroup'd
    val freshV = graft.io.Tables.embeddings(spark, dir)
      .filter($"vec_id" % 13 === 5)
      .select(($"vec_id" + 960000L).as("vec_id"), $"embedding")
    SimilarityQueries.appendToIvfPqIndex(spark, idxP, freshV,
      segmentId = Some("bPg"))
    SimilarityQueries.appendToIvfPqIndex(spark, idxC, freshV,
      segmentId = Some("bPg"))
    assert(page(idxP) == page(idxC),
      "append must preserve layout equivalence")
    val segDirs = new java.io.File(s"$idxP/seg-bPg/codes").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(segDirs.forall(_.startsWith("pgroup=")),
      "segments must inherit the base layout from meta")
    val dead = page(idxP).take(2).map(_._1)
    SimilarityQueries.deleteFromIvfPqIndex(spark, idxP, dead)
    SimilarityQueries.deleteFromIvfPqIndex(spark, idxC, dead)
    assert(page(idxP) == page(idxC))
    SimilarityQueries.compactIvfPqIndex(spark, idxP)
    assert(page(idxP) == page(idxC),
      "compaction must fold the pgroup layout unchanged")
    val foldDirs = new java.io.File(idxP).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("codes-v"))
    assert(foldDirs.nonEmpty && foldDirs.head.listFiles()
      .filter(_.isDirectory).map(_.getName)
      .forall(_.startsWith("pgroup=")),
      "the fold must stay pgroup'd")
  }

  test("retainGenerations: the root codes dir survives while a retained manifest references it") {
    import org.apache.spark.sql.functions._
    val idx = java.nio.file.Files.createTempDirectory("retain-vec")
      .toFile.getAbsolutePath
    spark.conf.set("graft.index.retainGenerations", "2")
    try {
      SimilarityQueries.writeIvfPqIndex(spark, dir, idx)
      // gen-1: an append whose manifest references the ROOT codes
      SimilarityQueries.appendToIvfPqIndex(spark, idx,
        graft.io.Tables.embeddings(spark, dir)
          .filter($"vec_id" % 19 === 3)
          .select(($"vec_id" + 950000L).as("vec_id"), $"embedding"),
        segmentId = Some("b1"))
      def page() = SimilarityQueries.ivfPqSearchStored(spark, idx, dir)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val before = page()
      // gen-2 folds into codes-v2, but gen-1 is retained and still
      // references the root — the lock-free-reader knob demands it
      SimilarityQueries.compactIvfPqIndex(spark, idx)
      assert(graft.io.Layout.pathExists(spark, s"$idx/codes"),
        "root codes must survive while a retained generation " +
          "references them")
      assert(page() == before)
      // a second fold retires gen-1; the root reclaims
      SimilarityQueries.compactIvfPqIndex(spark, idx)
      assert(!graft.io.Layout.pathExists(spark, s"$idx/codes"),
        "once unreferenced, the liveness sweep reclaims the root")
      assert(page() == before)
    } finally spark.conf.unset("graft.index.retainGenerations")
  }

  test("auto pgroup: the writer switches layouts at the conf knee, -1 forces per-cell") {
    import org.apache.spark.sql.functions._
    val vecs = graft.io.Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding")
    val prev = spark.conf.getOption("graft.index.codesAutoPgroupCells")
    spark.conf.set("graft.index.codesAutoPgroupCells", "8")
    try {
      // 16 cells > knee of 8 → the DEFAULT write auto-selects pgroups
      val idxAuto = java.nio.file.Files
        .createTempDirectory("pg-auto").toFile.getAbsolutePath
      SimilarityQueries.writeIvfPqIndexFrames(vecs, vecs, idxAuto,
        numCells = 16)
      val aDirs = new java.io.File(s"$idxAuto/codes").listFiles()
        .filter(_.isDirectory).map(_.getName)
      assert(aDirs.nonEmpty && aDirs.forall(_.startsWith("pgroup=")),
        s"auto selection past the knee must pgroup (got ${aDirs.toSeq})")
      assert(spark.read.parquet(s"$idxAuto/meta").head()
        .getAs[Int]("pgroups") == 64,
        "meta must record the RESOLVED pgroup count")
      // -1 forces the per-cell baseline under the same conf
      val idxCell = java.nio.file.Files
        .createTempDirectory("pg-force").toFile.getAbsolutePath
      SimilarityQueries.writeIvfPqIndexFrames(vecs, vecs, idxCell,
        numCells = 16, pgroups = -1)
      val cDirs = new java.io.File(s"$idxCell/codes").listFiles()
        .filter(_.isDirectory).map(_.getName)
      assert(cDirs.forall(_.startsWith("cell_id=")),
        s"pgroups = -1 must force per-cell dirs (got ${cDirs.toSeq})")
      // the layouts serve the same page
      def page(idx: String) = SimilarityQueries
        .ivfPqSearchStored(spark, idx, dir)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(page(idxAuto) == page(idxCell))
    } finally {
      prev match {
        case Some(v) =>
          spark.conf.set("graft.index.codesAutoPgroupCells", v)
        case None =>
          spark.conf.unset("graft.index.codesAutoPgroupCells")
      }
    }
  }

  test("compaction re-resolves pgroups across the knee; forced layouts stay put") {
    import org.apache.spark.sql.functions._
    val vecs = graft.io.Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding")
    // hold out ~1/7 of the corpus, write the rest per-cell (auto,
    // below the knee), then append the held-out vectors — the grown
    // index now sits past a knee the write-time selection never saw
    val held = vecs.filter($"vec_id" % 7 === 3)
    val base = vecs.filter($"vec_id" % 7 =!= 3)
    val idx = java.nio.file.Files.createTempDirectory("pg-regroup")
      .toFile.getAbsolutePath
    SimilarityQueries.writeIvfPqIndexFrames(vecs, base, idx,
      numCells = 16)
    assert(new java.io.File(s"$idx/codes").listFiles()
      .filter(_.isDirectory).map(_.getName)
      .forall(_.startsWith("cell_id=")),
      "below the knee the auto write must stay per-cell")
    SimilarityQueries.appendToIvfPqIndex(spark, idx, held,
      segmentId = Some("grow"))
    def page() = SimilarityQueries.ivfPqSearchStored(spark, idx, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = page()
    val occupied = SimilarityQueries.codesFrame(spark, idx)
      .select($"cell_id").distinct().count()
    val prevKnee = spark.conf.getOption("graft.index.codesAutoPgroupCells")
    spark.conf.set("graft.index.codesAutoPgroupCells",
      (occupied - 1).toString)
    spark.conf.set("graft.index.codesPgroups", "4")
    try {
      // the fold re-runs the write-time auto-selection against the
      // CURRENT occupancy: past the knee, the rewrite lands pgroup'd
      // and the updated meta commits ATOMICALLY with the fold
      SimilarityQueries.compactIvfPqIndex(spark, idx)
      val foldDirs = new java.io.File(idx).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("codes-v"))
      assert(foldDirs.nonEmpty && foldDirs.head.listFiles()
        .filter(_.isDirectory).map(_.getName)
        .forall(_.startsWith("pgroup=")),
        "a grown per-cell index must fold into the pgroup'd layout")
      assert(page() == before,
        "the re-grouped fold must serve the same page bit-for-bit")
      // the staged meta records the new layout in the LIVE generation
      val art = graft.io.Layout.liveArtifactDir(spark, idx)
      assert(art != idx && graft.io.Layout.pathExists(spark, s"$art/meta"))
      assert(spark.read.parquet(s"$art/meta").head()
        .getAs[Int]("pgroups") == 4,
        "the re-resolved pgroup count must commit with the generation")
      // subsequent appends inherit the upgraded layout
      val more = vecs.limit(20)
        .select(($"vec_id" + 970000L).as("vec_id"), $"embedding")
      SimilarityQueries.appendToIvfPqIndex(spark, idx, more,
        segmentId = Some("after"))
      assert(new java.io.File(s"$idx/seg-after/codes").listFiles()
        .filter(_.isDirectory).map(_.getName)
        .forall(_.startsWith("pgroup=")),
        "appends after the upgrade must write pgroup'd segments")
      // a FORCED per-cell index (-1) never re-groups, same knee
      val idxF = java.nio.file.Files.createTempDirectory("pg-forced")
        .toFile.getAbsolutePath
      SimilarityQueries.writeIvfPqIndexFrames(vecs, vecs, idxF,
        numCells = 16, pgroups = -1)
      SimilarityQueries.compactIvfPqIndex(spark, idxF)
      val fDirs = new java.io.File(idxF).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("codes-v"))
      assert(fDirs.nonEmpty && fDirs.head.listFiles()
        .filter(_.isDirectory).map(_.getName)
        .forall(_.startsWith("cell_id=")),
        "an explicitly forced per-cell layout must survive compaction")
    } finally {
      prevKnee match {
        case Some(v) =>
          spark.conf.set("graft.index.codesAutoPgroupCells", v)
        case None =>
          spark.conf.unset("graft.index.codesAutoPgroupCells")
      }
      spark.conf.unset("graft.index.codesPgroups")
    }
  }

  test("--pin-layout stamps pgroups_forced onto a legacy meta; the pinned per-cell layout survives a knee-crossing compaction") {
    import org.apache.spark.sql.functions._
    // a PRE-forced-flag index: written per-cell on purpose, but its
    // meta (simulated by dropping the pgroups_forced column) is
    // indistinguishable from auto-resolved — the accepted r13
    // residual this flag exists to close
    val vecs = graft.io.Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding")
    val idx = java.nio.file.Files.createTempDirectory("pg-pin")
      .toFile.getAbsolutePath
    SimilarityQueries.writeIvfPqIndexFrames(vecs, vecs, idx,
      numCells = 16, pgroups = -1)
    val legacy = spark.read.parquet(s"$idx/meta")
      .drop("pgroups_forced").collect().head
    // the collected row is driver data, so overwriting the path it
    // came from reads nothing mid-write
    spark.createDataFrame(java.util.List.of(legacy), legacy.schema)
      .write.mode("overwrite").parquet(s"$idx/meta")
    assert(!spark.read.parquet(s"$idx/meta")
      .schema.fieldNames.contains("pgroups_forced"))
    def page() = SimilarityQueries.ivfPqSearchStored(spark, idx, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = page()
    // the CLI pin: a staged meta rewrite under the lease, committed
    // as a generation like every other meta change
    val pinned = graft.tools.RunCompact.pin(spark, idx)
    assert(pinned == 0, "pinning must keep the recorded pgroup count")
    val art = graft.io.Layout.liveArtifactDir(spark, idx)
    assert(art != idx, "the pin must commit through a generation")
    val metaRow = spark.read.parquet(s"$art/meta").head()
    assert(metaRow.getAs[Boolean]("pgroups_forced") &&
      metaRow.getAs[Int]("pgroups") == 0,
      "the pinned meta must carry forced=true at the same layout")
    assert(page() == before, "pinning must not perturb any search face")
    // the proof: a compaction whose knee sits BELOW the occupancy
    // would re-group an unpinned legacy meta — the pinned one stays
    // per-cell
    val occupied = SimilarityQueries.codesFrame(spark, idx)
      .select($"cell_id").distinct().count()
    val prevKnee = spark.conf.getOption("graft.index.codesAutoPgroupCells")
    spark.conf.set("graft.index.codesAutoPgroupCells",
      (occupied - 1).toString)
    spark.conf.set("graft.index.codesPgroups", "4")
    try {
      SimilarityQueries.compactIvfPqIndex(spark, idx)
      val foldDirs = new java.io.File(idx).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("codes-v"))
      assert(foldDirs.nonEmpty && foldDirs.head.listFiles()
        .filter(_.isDirectory).map(_.getName)
        .forall(_.startsWith("cell_id=")),
        "a pinned legacy per-cell baseline must survive the fold")
      assert(page() == before)
    } finally {
      prevKnee match {
        case Some(v) =>
          spark.conf.set("graft.index.codesAutoPgroupCells", v)
        case None =>
          spark.conf.unset("graft.index.codesAutoPgroupCells")
      }
      spark.conf.unset("graft.index.codesPgroups")
    }
    // the pin refuses a non-vector path actionably
    val tIdx = java.nio.file.Files.createTempDirectory("pg-pin-t")
      .toFile.getAbsolutePath
    graft.ops.FullText.writeTextIndex(
      graft.io.Tables.documents(spark, dir).limit(20),
      "doc_id", "text", tIdx)
    val e = intercept[IllegalArgumentException] {
      graft.tools.RunCompact.pin(spark, tIdx)
    }
    assert(e.getMessage.contains("vector family"))
  }

  test("the full stored-vector lifecycle runs on a setTimes-blind URI-schemed filesystem, page-equal to the local twin") {
    // the vector twin of TextIndexLayoutSpec's object-store
    // simulation — and the heavier one: the vector layout moves MORE
    // artifacts per mutation (meta carry, codes segments, pgroup
    // auto-re-resolution at the fold) and until now only its lease
    // leg and cross-JVM storm ran under a foreign scheme. Every
    // write/append/delete/compact/search here resolves through
    // graft.io.NoSetTimesFileSystem under nost:// — a java.io.File
    // probe or scheme assumption anywhere in the vector path would
    // silently misbehave on an object store, and nothing else pins
    // it. The fold deliberately CROSSES the pgroup knee so the
    // re-resolution (meta rewrite + re-grouped codes dirs) also runs
    // on the blind store. The local twin runs the identical
    // lifecycle; pages must match bit-for-bit.
    import org.apache.spark.sql.functions._
    spark.sparkContext.hadoopConfiguration.set("fs.nost.impl",
      classOf[graft.io.NoSetTimesFileSystem].getName)
    val vecs = graft.io.Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding")
    val held = vecs.filter($"vec_id" % 7 === 3)
    val base = vecs.filter($"vec_id" % 7 =!= 3)
    def occupiedAfterGrow: Long = {
      // the knee must sit below the grown occupancy in BOTH twins;
      // derive it once from the corpus (cell assignment is
      // deterministic at fixed artifacts, so both twins agree)
      val idx = java.nio.file.Files.createTempDirectory("vn-occ")
        .toFile.getAbsolutePath
      SimilarityQueries.writeIvfPqIndexFrames(vecs, vecs, idx,
        numCells = 16)
      SimilarityQueries.codesFrame(spark, idx)
        .select($"cell_id").distinct().count()
    }
    val knee = occupiedAfterGrow - 1
    val dead = base.limit(2).select($"vec_id")
      .collect().map(_.getLong(0)).toSeq
    def lifecycle(idx: String): Unit = {
      // write below the knee (per-cell), grow past it, delete, fold:
      // the fold re-resolves the physical layout into pgroups
      SimilarityQueries.writeIvfPqIndexFrames(vecs, base, idx,
        numCells = 16)
      SimilarityQueries.appendToIvfPqIndex(spark, idx, held,
        segmentId = Some("grow"))
      SimilarityQueries.deleteFromIvfPqIndex(spark, idx, dead)
      spark.conf.set("graft.index.codesAutoPgroupCells", knee.toString)
      spark.conf.set("graft.index.codesPgroups", "4")
      try SimilarityQueries.compactIvfPqIndex(spark, idx)
      finally {
        spark.conf.unset("graft.index.codesAutoPgroupCells")
        spark.conf.unset("graft.index.codesPgroups")
      }
    }
    val nIdx = "nost://" + java.nio.file.Files
      .createTempDirectory("ivfpq-nost").toFile.getAbsolutePath
    val lIdx = java.nio.file.Files
      .createTempDirectory("ivfpq-nost-twin").toFile.getAbsolutePath
    lifecycle(nIdx)
    lifecycle(lIdx)
    def page(idx: String) = SimilarityQueries
      .ivfPqSearchStored(spark, idx, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(page(nIdx) == page(lIdx),
      "the vector lifecycle on a setTimes-blind URI-schemed store " +
        "must equal the local twin bit-for-bit")
    assert(!page(nIdx).exists(h => dead.contains(h._1)),
      "deleted ids must not be served from the blind store either")
    // the pgroup re-resolution really happened ON the blind store:
    // the folded codes dir is pgroup-partitioned (listed through the
    // Hadoop FS — java.io.File cannot see nost:// paths) and the
    // LIVE generation's meta records the re-resolved count
    val art = graft.io.Layout.liveArtifactDir(spark, nIdx)
    assert(art != nIdx, "the fold must have committed a generation")
    val hfs = new org.apache.hadoop.fs.Path(nIdx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val foldDirs = hfs.listStatus(new org.apache.hadoop.fs.Path(nIdx))
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("codes-v"))
    assert(foldDirs.nonEmpty && foldDirs.forall(fd =>
      hfs.listStatus(fd.getPath).filter(_.isDirectory)
        .forall(_.getPath.getName.startsWith("pgroup="))),
      "the knee-crossing fold must land pgroup'd on the blind store")
    assert(spark.read.parquet(s"$art/meta").head()
      .getAs[Int]("pgroups") == 4,
      "the re-resolved pgroup count must commit with the generation")
    // the committed state reads back through the status face — incl.
    // the recorded vector count the fold just trued (write + append
    // minus the applied tombstones), maintained on the blind store
    val expectedVecs = vecs.count() - dead.size
    val st = graft.tools.RunStatus.describe(spark, nIdx)
    assert(st.contains("\"family\":\"vector\"") &&
      st.contains("\"codec\":\"pq\"") &&
      st.contains("\"pgroups\":4") &&
      st.contains("\"segments\":0") &&
      st.contains(s""""n_vecs":$expectedVecs""") &&
      st.contains(s""""n_vecs_live":$expectedVecs""") &&
      st.contains("\"tombstone_rows\":0") &&
      st.contains("\"orphaned_staging\":{\"count\":0,\"bytes\":0}"),
      s"got $st")
    // no lease, heartbeat sidecar, or write-aside outlives the run
    for (suffix <- Seq("_mutation.lock", "_mutation.lock.hb",
        "_mutation.lock.hb.tmp"))
      assert(!graft.io.Layout.pathExists(spark, s"$nIdx/$suffix"),
        s"$suffix must not outlive the mutations")
  }

  test("empty vector delta: append commits its id, references no dir, stays searchable") {
    import org.apache.spark.sql.functions._
    val idx = java.nio.file.Files.createTempDirectory("ivfpq-empty")
      .toFile.getAbsolutePath
    SimilarityQueries.writeIvfPqIndex(spark, dir, idx)
    def page() = SimilarityQueries.ivfPqSearchStored(spark, idx, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = page()
    val rows = SimilarityQueries.codesFrame(spark, idx).count()
    val empty = graft.io.Tables.embeddings(spark, dir)
      .filter($"vec_id" < 0).select($"vec_id", $"embedding")
    SimilarityQueries.appendToIvfPqIndex(spark, idx, empty,
      segmentId = Some("bEmpty"))
    assert(page() == before,
      "an empty vector delta must leave every search face readable " +
        "and unchanged (no _SUCCESS-only segment dir)")
    assert(SimilarityQueries.codesFrame(spark, idx).count() == rows)
    // replay no-op, then a real append composes
    SimilarityQueries.appendToIvfPqIndex(spark, idx, empty,
      segmentId = Some("bEmpty"))
    val freshV = graft.io.Tables.embeddings(spark, dir)
      .filter($"vec_id" % 11 === 3)
      .select(($"vec_id" + 970000L).as("vec_id"), $"embedding")
    SimilarityQueries.appendToIvfPqIndex(spark, idx, freshV,
      segmentId = Some("bReal"))
    assert(SimilarityQueries.codesFrame(spark, idx).count() > rows,
      "a real append after the empty delta must land")
    assert(page().nonEmpty)
  }

  test("distributed vector delete: DataFrame face ≡ Seq face, multi-file tombstones above the threshold") {
    import org.apache.spark.sql.functions._
    val idxA = java.nio.file.Files.createTempDirectory("ivfpq-ddel-a")
      .toFile.getAbsolutePath
    val idxB = java.nio.file.Files.createTempDirectory("ivfpq-ddel-b")
      .toFile.getAbsolutePath
    SimilarityQueries.writeIvfPqIndex(spark, dir, idxA)
    SimilarityQueries.writeIvfPqIndex(spark, dir, idxB)
    def page(idx: String) = SimilarityQueries
      .ivfPqSearchStored(spark, idx, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val dead = graft.io.Tables.embeddings(spark, dir)
      .filter($"vec_id" % 3 === 1).select($"vec_id")
      .collect().map(_.getLong(0)).toSeq
    SimilarityQueries.deleteFromIvfPqIndex(spark, idxA, dead)
    SimilarityQueries.deleteFromIvfPqIndex(spark, idxB,
      dead.toDF("ruling_id").repartition(7))
    assert(page(idxA) == page(idxB),
      "DataFrame vector delete must equal the Seq face bit-for-bit")
    val prev = spark.conf.getOption("graft.index.tombstoneSingleFileMax")
    try {
      spark.conf.set("graft.index.tombstoneSingleFileMax", "0")
      val more = graft.io.Tables.embeddings(spark, dir)
        .filter($"vec_id" % 3 === 2).select($"vec_id").repartition(4)
      SimilarityQueries.deleteFromIvfPqIndex(spark, idxB, more)
      val tombDir = new java.io.File(
        s"${graft.io.Layout.liveArtifactDir(spark, idxB)}/tombstones")
      val parts = tombDir.listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(parts > 1,
        s"vector tombstones above the threshold must write " +
          s"distributed (got $parts part files)")
      val served = page(idxB).map(_._1).toSet
      val gone = more.collect().map(_.getLong(0)).toSet
      assert(served.intersect(gone).isEmpty,
        "no tombstoned id may be served from the multi-file artifact")
      // idempotent replay through the frame face
      val pre = page(idxB)
      SimilarityQueries.deleteFromIvfPqIndex(spark, idxB, more)
      assert(page(idxB) == pre)
    } finally {
      prev match {
        case Some(v) =>
          spark.conf.set("graft.index.tombstoneSingleFileMax", v)
        case None =>
          spark.conf.unset("graft.index.tombstoneSingleFileMax")
      }
    }
  }
}
