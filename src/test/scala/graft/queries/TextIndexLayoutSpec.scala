package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.ops.FullText

/** The stored BM25 index contract: bucket-pruned postings reads and
  * frame equality with the self-contained search — the text twin of
  * VectorIndexLayoutSpec. */
class TextIndexLayoutSpec extends SparkSpecBase {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private val terms = Seq("fast", "vector", "query")

  test("stored search bucket-prunes the postings and equals bm25TopK") {
    val idx = java.nio.file.Files.createTempDirectory("bm25-idx")
      .toFile.getAbsolutePath
    val docs = graft.io.Tables.documents(spark, dir)
    FullText.writeTextIndex(docs, "doc_id", "text", idx)
    // bucket partitions exist
    val bucketDirs = new java.io.File(s"$idx/postings").listFiles()
      .filter(_.getName.startsWith("bucket=")).map(_.getName).toSet
    assert(bucketDirs.size > 1, s"term buckets expected: $bucketDirs")
    // the query-term read touches strictly fewer files than the full
    // postings table (executed-scan evidence, not inputFiles)
    val qb = Seq(Tuple1("fast"), Tuple1("vector"), Tuple1("query"))
      .toDF("term")
      .select(pmod(hash($"term"), lit(16)).as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val all = spark.read.parquet(s"$idx/postings")
    val pruned = all.filter($"bucket".isInCollection(qb))
    val filesPruned = pruned.select(input_file_name()).distinct().count()
    val filesAll = all.select(input_file_name()).distinct().count()
    assert(filesPruned < filesAll,
      s"bucket filter must prune files ($filesPruned vs $filesAll)")
    assert(pruned.queryExecution.executedPlan.toString
      .contains("PartitionFilters: [bucket"),
      "pruning must be a PartitionFilter")
    // the stored-index search reproduces the self-contained query
    val stored = FullText.bm25SearchStored(spark, idx, terms)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val self = FullText.bm25TopK(docs, "doc_id", "text", terms)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(stored == self,
      s"stored-index search diverged:\n  stored=$stored\n  self=$self")
    // positions-in-postings: the stored phrase search equals the
    // self-contained q98 operator (which pays a corpus position
    // pass the index paid once at build time)
    val phrase = docs
      .select(FullText.analyze($"text").as("toks"))
      .filter(size($"toks") >= 2)
      .select(explode(transform(sequence(lit(1), size($"toks") - 1),
        i => concat(element_at($"toks", i), lit(" "),
          element_at($"toks", i + 1)))).as("bg"))
      .groupBy($"bg").agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"bg".asc).limit(1)
      .head().getString(0).split(" ").toSeq
    val phStored = FullText.phraseSearchStored(spark, idx, phrase)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    val phSelf = graft.ops.Checkpoints.consume(
      FullText.bm25PhraseTopK(docs, "doc_id", "text", phrase))(
      _.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq)
    assert(phStored == phSelf,
      s"stored phrase search diverged:\n  $phStored\n  $phSelf")
    assert(phStored.nonEmpty, "top bigram must match somewhere")
  }

  test("stored phrase search: repeated-word phrases intersect their own slots") {
    val idx = java.nio.file.Files.createTempDirectory("bm25-rep")
      .toFile.getAbsolutePath
    val docs = Seq(
      (1L, "echo echo echo ends here today"),
      (2L, "echo stops echo stops again now"),
      (3L, "plain words only in this document")).toDF("doc_id", "text")
    FullText.writeTextIndex(docs, "doc_id", "text", idx)
    val out = FullText.phraseSearchStored(spark, idx, Seq("echo", "echo"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // d1: "echo echo echo" = 2 overlapping occurrences; d2 has no
    // consecutive pair; d3 no match
    assert(out == Map(1L -> 2L), s"got $out")
    // slop, inOrder mode (span_near(in_order=true)): d2's
    // "echo stops echo" matches ("echo","echo") at slop 1 (one
    // intervening token), not slop 0. tf counts matching START
    // positions: d1 starts {0,1}, d2 start {0}.
    val sloppy = FullText
      .phraseSearchStored(spark, idx, Seq("echo", "echo"), slop = 1,
        inOrder = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sloppy == Map(1L -> 2L, 2L -> 1L), s"got $sloppy")
    // default sloppy mode (Lucene SloppyPhraseMatcher): repeated
    // terms take the kernel's distinct-position rule — the greedy
    // traversal emits ONE match per doc here (d1's exact pair at
    // matchLength 0, d2's gapped pair at matchLength 1; the
    // hand-traced fixtures live in HashExpressionsSpec)
    val lucene = FullText
      .phraseSearchStored(spark, idx, Seq("echo", "echo"), slop = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lucene == Map(1L -> 1L, 2L -> 1L), s"got $lucene")
    // reordering: in-order mode never matches a reversed pair; the
    // Lucene default matches it at slop >= 2 (matchLength 2)
    val docs2 = Seq((9L, "beta alpha middle words here")).toDF("doc_id", "text")
    val idx2 = java.nio.file.Files.createTempDirectory("bm25-rev")
      .toFile.getAbsolutePath
    FullText.writeTextIndex(docs2, "doc_id", "text", idx2)
    assert(FullText.phraseSearchStored(spark, idx2,
      Seq("alpha", "beta"), slop = 3, inOrder = true).count() == 0,
      "in-order mode must not match a reversed pair")
    assert(FullText.phraseSearchStored(spark, idx2,
      Seq("alpha", "beta"), slop = 1).count() == 0,
      "reversed pair costs matchLength 2 — slop 1 must not match")
    val rev = FullText.phraseSearchStored(spark, idx2,
      Seq("alpha", "beta"), slop = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rev == Seq((9L, 1L)),
      s"Lucene sloppy mode must match the reversed pair at slop 2: $rev")
  }

  test("stored sloppy search: m-term chains, in-order and Lucene modes") {
    val idx = java.nio.file.Files.createTempDirectory("bm25-mterm")
      .toFile.getAbsolutePath
    val docs = Seq(
      (1L, "alpha beta gamma tail words"), // exact, width 0
      (2L, "alpha beta filler gamma tail"), // one gap before gamma
      (3L, "alpha filler filler beta gamma"), // two gaps before beta
      (4L, "gamma beta alpha tail words"), // fully reversed
      (5L, "plain words only right here")).toDF("doc_id", "text")
    FullText.writeTextIndex(docs, "doc_id", "text", idx)
    val phrase = Seq("alpha", "beta", "gamma")
    def hitsAt(slop: Int, ord: Boolean) = FullText
      .phraseSearchStored(spark, idx, phrase, slop = slop, inOrder = ord)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // in-order: d1 width 0, d2 width 1, d3 width 2; d4 never
    assert(hitsAt(0, ord = true) == Map(1L -> 1L))
    assert(hitsAt(1, ord = true) == Map(1L -> 1L, 2L -> 1L))
    assert(hitsAt(2, ord = true) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // Lucene mode agrees on the ordered docs and also matches the
    // fully reversed d4: shifted positions (2, 0, -2) span 4
    assert(hitsAt(2, ord = false) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    val withRev = hitsAt(4, ord = false)
    assert(withRev.get(4L).contains(1L),
      s"reversed 3-term phrase must match at slop 4: $withRev")
    // fractional sloppy freq ranks the exact doc above the gapped one
    val scored = FullText
      .phraseSearchStored(spark, idx, phrase, slop = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(scored(1L) > scored(2L) && scored(2L) > scored(3L) &&
      scored(3L) > scored(4L),
      s"sloppy freq 1/(matchLength+1) must order by width: $scored")
  }

  test("stored dictionary expansions: fuzzy/prefix/wildcard equal self-contained") {
    val idx = java.nio.file.Files.createTempDirectory("bm25-dict")
      .toFile.getAbsolutePath
    val docs = graft.io.Tables.documents(spark, dir)
    FullText.writeTextIndex(docs, "doc_id", "text", idx)
    // fuzzy: q99's derivation (two most frequent terms, first
    // misspelled by dropping the last char)
    val top2 = docs.select(explode_outer(FullText.analyze($"text")).as("t"))
      .filter($"t".isNotNull)
      .groupBy($"t").agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"t".asc).limit(2)
      .collect().map(_.getString(0))
    val qTerms = Seq(top2(0).dropRight(1), top2(1))
    val fStored = FullText.fuzzySearchStored(spark, idx, qTerms)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      .toSeq
    val fSelf = FullText.bm25FuzzyTopK(docs, "doc_id", "text", qTerms)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      .toSeq
    assert(fStored == fSelf,
      s"stored fuzzy diverged:\n  $fStored\n  $fSelf")
    assert(fStored.nonEmpty)
    // prefix/wildcard: q124/q131's derivations over the same corpus
    val prefix = top2(0).take(4)
    val pStored = FullText.prefixSearchStored(spark, idx, prefix)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    val pSelf = graft.queries.TextQueries.prefixSearch(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(pStored == pSelf,
      s"stored prefix diverged:\n  $pStored\n  $pSelf")
    val wTop = docs.select(explode_outer(FullText.analyze($"text")).as("t"))
      .filter($"t".isNotNull && length($"t") >= 5)
      .groupBy($"t").agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"t".asc).limit(1)
      .head().getString(0)
    val pattern = wTop.take(2) + "%" + wTop.takeRight(1)
    val wStored = FullText.wildcardSearchStored(spark, idx, pattern)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    val wSelf = graft.queries.TextQueries.wildcardSearch(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(wStored == wSelf,
      s"stored wildcard diverged:\n  $wStored\n  $wSelf")
    // an expansion matching nothing returns an empty frame, not an error
    assert(FullText.prefixSearchStored(spark, idx, "zzzzqqq").count() == 0)
  }

  test("multi-field stored index: stored multi_match equals the self-contained trio") {
    val idx = java.nio.file.Files.createTempDirectory("bm25-mf")
      .toFile.getAbsolutePath
    // q102's synthetic split: title = first 6 whitespace tokens
    val docs = graft.io.Tables.documents(spark, dir)
      .select($"doc_id",
        array_join(slice(split($"text", "\\s+"), 1, 6), " ").as("title"),
        $"text".as("body"))
    FullText.writeMultiFieldTextIndex(docs, "doc_id",
      Seq("title", "body"), idx)
    // per-field artifacts exist with per-field statistics
    val stats = spark.read.parquet(s"$idx/stats")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stats.keySet == Set("title", "body"))
    val fields = Seq("title" -> 2.0, "body" -> 1.0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1),
        r.getDouble(2), r.getDouble(3))).toSeq
    val stored = rows(FullText.multiMatchSearchStored(spark, idx,
      terms, fields, tieBreaker = 0.3))
    val self = rows(FullText.bm25MultiFieldTopK(docs, "doc_id",
      fields, terms, tieBreaker = 0.3))
    assert(stored == self,
      s"stored multi_match diverged:\n  $stored\n  $self")
    assert(stored.nonEmpty)
    // the postings scan bucket-prunes like the single-field layout
    val qb = terms.map(t => Tuple1(t)).toDF("term")
      .select(pmod(hash($"term"), lit(16)).as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val all = spark.read.parquet(s"$idx/postings")
    val pruned = all.filter($"bucket".isInCollection(qb))
    assert(pruned.select(input_file_name()).distinct().count() <
      all.select(input_file_name()).distinct().count(),
      "multi-field postings must bucket-prune")
  }

  test("multi-field append merges per-field statistics additively: append equals rebuild") {
    val docs = graft.io.Tables.documents(spark, dir)
      .select($"doc_id",
        array_join(slice(split($"text", "\\s+"), 1, 6), " ").as("title"),
        $"text".as("body"))
    val w = docs.agg(max($"doc_id")).head().getLong(0) * 4 / 5
    val fields = Seq("title" -> 2.0, "body" -> 1.0)
    val idxA = java.nio.file.Files.createTempDirectory("mf-a")
      .toFile.getAbsolutePath
    FullText.writeMultiFieldTextIndex(docs.filter($"doc_id" <= w),
      "doc_id", Seq("title", "body"), idxA)
    FullText.appendToMultiFieldTextIndex(spark,
      docs.filter($"doc_id" > w), "doc_id", Seq("title", "body"), idxA)
    val idxB = java.nio.file.Files.createTempDirectory("mf-b")
      .toFile.getAbsolutePath
    FullText.writeMultiFieldTextIndex(docs, "doc_id",
      Seq("title", "body"), idxB)
    def search(idx: String) = FullText.multiMatchSearchStored(
      spark, idx, terms, fields, tieBreaker = 0.3)
      .collect().map(r => (r.getLong(0), r.getDouble(1),
        r.getDouble(2), r.getDouble(3))).toSeq
    val pre = search(idxA)
    assert(pre == search(idxB),
      "append must shift per-field df/stats exactly like a rebuild")
    val (fb, fa, rows) = FullText.compactTextIndex(spark, idxA)
    assert(fa < fb, s"compaction must reclaim append files: $fb -> $fa")
    assert(rows == FullText.postingsFrame(spark, idxA).count())
    assert(search(idxA) == pre, "search must be compaction-invariant")
  }

  test("stored simple_query_string equals the self-contained q128 operator") {
    val idx = java.nio.file.Files.createTempDirectory("bm25-sqs")
      .toFile.getAbsolutePath
    val docs = graft.io.Tables.documents(spark, dir)
    FullText.writeTextIndex(docs, "doc_id", "text", idx)
    // a query exercising every clause kind: must, should, must_not,
    // and a phrase (derived top bigram so it matches at any SF)
    val bg = docs.select(FullText.analyze($"text").as("toks"))
      .filter(size($"toks") >= 2)
      .select(explode(transform(sequence(lit(1), size($"toks") - 1),
        i => concat(element_at($"toks", i), lit(" "),
          element_at($"toks", i + 1)))).as("bg"))
      .groupBy($"bg").agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"bg".asc).limit(1)
      .head().getString(0)
    for (q <- Seq(
      "+fast vector -slow \"" + bg + "\"",
      "fast vector query",
      "\"" + bg + "\"",
      "+fast +vector")) {
      val stored = FullText.simpleQueryStringStored(spark, idx, q)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val self = graft.queries.TextQueries
        .simpleQueryString(spark, dir, q)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(stored == self,
        s"stored simple_query_string diverged for <$q>:\n" +
          s"  stored=$stored\n  self=$self")
    }
    // and the CLI's stored path serves the same hits, highlighted
    val cli = graft.tools.RunSearch.run(spark, dir, "fast vector",
      k = 10, indexDir = Some(idx)).collect()
    val cliSelf = graft.tools.RunSearch.run(spark, dir, "fast vector",
      k = 10).collect()
    assert(cli.map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
      .toSeq ==
      cliSelf.map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
        .toSeq,
      "RunSearch stored path must serve identical highlighted hits")
  }

  test("term vectors: stored more_like_this equals q100, point-read pruned") {
    val idx = java.nio.file.Files.createTempDirectory("bm25-mlt")
      .toFile.getAbsolutePath
    val docs = graft.io.Tables.documents(spark, dir)
    FullText.writeTextIndex(docs, "doc_id", "text", idx,
      storeTermVectors = true)
    val seedId = docs.agg(min($"doc_id")).head().getLong(0)
    val stored = FullText.moreLikeThisStored(spark, idx, seedId)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val self = graft.ops.Checkpoints.consume(
      graft.queries.TextQueries.moreLikeThis(spark, dir))(
      _.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    assert(stored == self,
      s"stored more_like_this diverged:\n  $stored\n  $self")
    assert(stored.nonEmpty && !stored.exists(_._1 == seedId),
      "the seed never appears in its own similar-docs page")
    // the seed's vector read is a file-pruned point read
    val all = spark.read.parquet(s"$idx/termvectors")
    val dB = Seq(Tuple1(seedId)).toDF("doc_id")
      .select(pmod(hash($"doc_id"), lit(16))).head().getInt(0)
    val pruned = all.filter($"dbucket" === dB)
    assert(pruned.select(input_file_name()).distinct().count() <
      all.select(input_file_name()).distinct().count(),
      "term-vector read must doc-bucket-prune")
    // append keeps the forward artifact in lockstep with the postings
    val w = docs.agg(max($"doc_id")).head().getLong(0) * 4 / 5
    val idx2 = java.nio.file.Files.createTempDirectory("bm25-mlt2")
      .toFile.getAbsolutePath
    FullText.writeTextIndex(docs.filter($"doc_id" <= w), "doc_id",
      "text", idx2, storeTermVectors = true)
    FullText.appendToTextIndex(spark, docs.filter($"doc_id" > w),
      "doc_id", "text", idx2)
    val appended = FullText.moreLikeThisStored(spark, idx2, seedId)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(appended == self,
      "append-refreshed term vectors must serve the same MLT page")
  }

  test("positions-free writer: term search works, postings shed the column") {
    val idx = java.nio.file.Files.createTempDirectory("bm25-nopos")
      .toFile.getAbsolutePath
    val docs = graft.io.Tables.documents(spark, dir)
    FullText.writeTextIndex(docs, "doc_id", "text", idx,
      storePositions = false)
    assert(!spark.read.parquet(s"$idx/postings")
      .columns.contains("positions"))
    val stored = FullText.bm25SearchStored(spark, idx, terms)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val self = FullText.bm25TopK(docs, "doc_id", "text", terms)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(stored == self, "DOCS_AND_FREQS index must still score terms")
  }

  test("batch append merges corpus statistics additively: append equals rebuild") {
    val docs = graft.io.Tables.documents(spark, dir)
    val w = docs.agg(max($"doc_id")).head().getLong(0) * 4 / 5
    val old = docs.filter($"doc_id" <= w)
    val fresh = docs.filter($"doc_id" > w)
    val idxA = java.nio.file.Files.createTempDirectory("bm25-a")
      .toFile.getAbsolutePath
    FullText.writeTextIndex(old, "doc_id", "text", idxA)
    FullText.appendToTextIndex(spark, fresh, "doc_id", "text", idxA)
    val idxB = java.nio.file.Files.createTempDirectory("bm25-b")
      .toFile.getAbsolutePath
    FullText.writeTextIndex(docs, "doc_id", "text", idxB)
    def search(idx: String) = FullText.bm25SearchStored(spark, idx, terms)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(search(idxA) == search(idxB),
      "append must shift df/stats exactly like a rebuild")
    // and the appended index still matches the self-contained search
    assert(search(idxA) ==
      FullText.bm25TopK(docs, "doc_id", "text", terms)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    // compaction: the append left extra postings files per touched
    // bucket; the rewrite reclaims them, search unchanged
    val preSearch = search(idxA)
    val (fBefore, fAfter, rows) = FullText.compactTextIndex(spark, idxA)
    assert(fAfter < fBefore,
      s"compaction must reclaim append files: $fBefore -> $fAfter")
    assert(rows == FullText.postingsFrame(spark, idxA).count(),
      "content untouched")
    assert(search(idxA) == preSearch,
      "stored search must be compaction-invariant")
  }

  /** Overwrite every parquet data file under `dir` with garbage so
    * any job that opens one of them fails loudly — the executed-I/O
    * proof that a maintenance path is delta-sized. */
  private def clobberParquet(dir: String): Long = {
    var n = 0L
    java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).forEach { p =>
      if (p.toString.endsWith(".parquet")) {
        java.nio.file.Files.write(p, "not-a-parquet-file".getBytes)
        n += 1
      }
    }
    n
  }

  test("append never opens pre-existing postings files (delta-sized I/O)") {
    val docs = graft.io.Tables.documents(spark, dir)
    val w = docs.agg(max($"doc_id")).head().getLong(0) * 4 / 5
    val idxA = java.nio.file.Files.createTempDirectory("bm25-noio-a")
      .toFile.getAbsolutePath
    FullText.writeTextIndex(docs.filter($"doc_id" <= w), "doc_id",
      "text", idxA)
    // make the pre-existing postings UNREADABLE: if the append's
    // statistics merge still re-read the postings table (the shape
    // this pin exists to ban), it would crash here
    assert(clobberParquet(s"$idxA/postings") > 0)
    intercept[Throwable] { // non-vacuous: the clobber took effect
      spark.read.parquet(s"$idxA/postings").count()
    }
    FullText.appendToTextIndex(spark, docs.filter($"doc_id" > w),
      "doc_id", "text", idxA)
    // df and stats must still land EXACTLY where a rebuild puts them
    // (resolved through the live generation the append committed)
    val idxB = java.nio.file.Files.createTempDirectory("bm25-noio-b")
      .toFile.getAbsolutePath
    FullText.writeTextIndex(docs, "doc_id", "text", idxB)
    def dfOf(idx: String) = spark.read
      .parquet(s"${graft.io.Layout.liveArtifactDir(spark, idx)}/df")
      .collect().map(r => (r.getAs[String]("term"), r.getAs[Long]("df")))
      .sortBy(_._1).toSeq
    assert(dfOf(idxA) == dfOf(idxB),
      "additive dictionary merge must equal a rebuild's df")
    def statsOf(idx: String) = {
      val r = spark.read
        .parquet(s"${graft.io.Layout.liveArtifactDir(spark, idx)}/stats").head()
      (r.getAs[Long]("n_docs"), r.getAs[Double]("avgdl"),
        r.getAs[Long]("sum_doclen"))
    }
    assert(statsOf(idxA) == statsOf(idxB),
      "additive stats merge must equal a rebuild's aggregate")
  }

  test("multi-field append never opens pre-existing postings files") {
    val docs = graft.io.Tables.documents(spark, dir)
      .select($"doc_id",
        array_join(slice(split($"text", "\\s+"), 1, 6), " ").as("title"),
        $"text".as("body"))
    val w = docs.agg(max($"doc_id")).head().getLong(0) * 4 / 5
    val idxA = java.nio.file.Files.createTempDirectory("mf-noio-a")
      .toFile.getAbsolutePath
    FullText.writeMultiFieldTextIndex(docs.filter($"doc_id" <= w),
      "doc_id", Seq("title", "body"), idxA)
    assert(clobberParquet(s"$idxA/postings") > 0)
    FullText.appendToMultiFieldTextIndex(spark,
      docs.filter($"doc_id" > w), "doc_id", Seq("title", "body"), idxA)
    val idxB = java.nio.file.Files.createTempDirectory("mf-noio-b")
      .toFile.getAbsolutePath
    FullText.writeMultiFieldTextIndex(docs, "doc_id",
      Seq("title", "body"), idxB)
    def dfOf(idx: String) = spark.read
      .parquet(s"${graft.io.Layout.liveArtifactDir(spark, idx)}/df")
      .collect().map(r => (r.getAs[String]("field"),
        r.getAs[String]("term"), r.getAs[Long]("df")))
      .sortBy(r => (r._1, r._2)).toSeq
    assert(dfOf(idxA) == dfOf(idxB))
    def statsOf(idx: String) = spark.read
      .parquet(s"${graft.io.Layout.liveArtifactDir(spark, idx)}/stats")
      .collect().map(r => (r.getAs[String]("field"),
        r.getAs[Long]("n_docs"), r.getAs[Double]("avgdl"),
        r.getAs[Long]("sum_doclen"))).sortBy(_._1).toSeq
    assert(statsOf(idxA) == statsOf(idxB))
  }

  test("zero-token documents count in appended statistics exactly as the writer counts them") {
    // "the of and" analyzes to ZERO tokens: the old re-derive-from-
    // postings append silently dropped such docs from n_docs/avgdl;
    // the additive merge counts them like the writer
    val old = Seq((1L, "fast vector engines win"),
      (2L, "the of and")).toDF("doc_id", "text")
    val fresh = Seq((3L, "vector query fast"),
      (4L, "of the")).toDF("doc_id", "text")
    val idxA = java.nio.file.Files.createTempDirectory("bm25-zt-a")
      .toFile.getAbsolutePath
    FullText.writeTextIndex(old, "doc_id", "text", idxA)
    FullText.appendToTextIndex(spark, fresh, "doc_id", "text", idxA)
    val idxB = java.nio.file.Files.createTempDirectory("bm25-zt-b")
      .toFile.getAbsolutePath
    FullText.writeTextIndex(old.unionByName(fresh), "doc_id", "text",
      idxB)
    def statsOf(idx: String) = {
      val r = spark.read
        .parquet(s"${graft.io.Layout.liveArtifactDir(spark, idx)}/stats").head()
      (r.getAs[Long]("n_docs"), r.getAs[Double]("avgdl"),
        r.getAs[Long]("sum_doclen"))
    }
    assert(statsOf(idxA) == statsOf(idxB))
    assert(statsOf(idxA)._1 == 4L, "all four docs count, tokens or not")
    // multi-field: doc 4's title analyzes empty, body doesn't
    val mOld = Seq((1L, "fast engines", "fast vector engines win"))
      .toDF("doc_id", "title", "body")
    val mFresh = Seq((4L, "the of", "vector query fast"))
      .toDF("doc_id", "title", "body")
    val mA = java.nio.file.Files.createTempDirectory("mf-zt-a")
      .toFile.getAbsolutePath
    FullText.writeMultiFieldTextIndex(mOld, "doc_id",
      Seq("title", "body"), mA)
    FullText.appendToMultiFieldTextIndex(spark, mFresh, "doc_id",
      Seq("title", "body"), mA)
    val mB = java.nio.file.Files.createTempDirectory("mf-zt-b")
      .toFile.getAbsolutePath
    FullText.writeMultiFieldTextIndex(mOld.unionByName(mFresh),
      "doc_id", Seq("title", "body"), mB)
    def mStats(idx: String) = spark.read
      .parquet(s"${graft.io.Layout.liveArtifactDir(spark, idx)}/stats")
      .collect().map(r => (r.getAs[String]("field"),
        r.getAs[Long]("n_docs"), r.getAs[Double]("avgdl"),
        r.getAs[Long]("sum_doclen"))).sortBy(_._1).toSeq
    assert(mStats(mA) == mStats(mB))
    assert(mStats(mA).forall(_._2 == 2L),
      "both docs count in BOTH fields, zero-token title included")
  }

  test("tombstone delete with term vectors: search-after-delete ≡ rebuild-without-deleted") {
    val docs = graft.io.Tables.documents(spark, dir)
    val idxD = java.nio.file.Files.createTempDirectory("bm25-del")
      .toFile.getAbsolutePath
    FullText.writeTextIndex(docs, "doc_id", "text", idxD,
      storeTermVectors = true)
    // realistic driver: q117's retention policy decides which cluster
    // members survive; the losers are exactly a takedown batch
    val losers = graft.queries.DedupQueries
      .clusterRetention(spark, dir)
      .filter($"retained" === 0L)
      .select($"doc_id").collect().map(_.getLong(0)).toSeq
    // pad with a deterministic slice so the batch is non-trivial even
    // if this SF has few near-dup clusters
    val dead = (losers ++ docs.filter($"doc_id" % 7 === 3)
      .select($"doc_id").collect().map(_.getLong(0))).distinct
    assert(dead.nonEmpty)
    FullText.deleteFromTextIndex(spark, idxD, dead)
    val idxR = java.nio.file.Files.createTempDirectory("bm25-del-r")
      .toFile.getAbsolutePath
    val survivors = docs.filter(!$"doc_id".isInCollection(dead))
    FullText.writeTextIndex(survivors, "doc_id", "text", idxR,
      storeTermVectors = true)
    def s1(idx: String) = FullText.bm25SearchStored(spark, idx, terms)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(s1(idxD) == s1(idxR),
      "BM25 after delete must be bit-identical to a rebuild without the deleted docs")
    // dictionary decrements exactly (zero-df terms drop, as a rebuild
    // has no row) — resolved through the live generation, since the
    // delete commits df/stats/tombstones as one generation dir
    def dfOf(idx: String) = spark.read
      .parquet(s"${graft.io.Layout.liveArtifactDir(spark, idx)}/df")
      .collect().map(r => (r.getAs[String]("term"), r.getAs[Long]("df")))
      .sortBy(_._1).toSeq
    assert(dfOf(idxD) == dfOf(idxR))
    // phrase + MLT faces read through the same live view / statistics
    val bg = survivors
      .select(FullText.analyze($"text").as("toks"))
      .filter(size($"toks") >= 2)
      .select(explode(transform(sequence(lit(1), size($"toks") - 1),
        i => concat(element_at($"toks", i), lit(" "),
          element_at($"toks", i + 1)))).as("bg"))
      .groupBy($"bg").agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"bg".asc).limit(1)
      .head().getString(0).split(" ").toSeq
    def ph(idx: String) = FullText.phraseSearchStored(spark, idx, bg)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    assert(ph(idxD) == ph(idxR))
    val seed = survivors.agg(min($"doc_id")).head().getLong(0)
    def mlt(idx: String) = FullText.moreLikeThisStored(spark, idx, seed)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(mlt(idxD) == mlt(idxR))
    // idempotent: a retried takedown of the same batch is a no-op —
    // no double-decremented statistics, identical search page
    FullText.deleteFromTextIndex(spark, idxD, dead)
    assert(s1(idxD) == s1(idxR),
      "re-deleting tombstoned ids must not shift statistics")
    // compaction physically applies the tombstones and reclaims them
    val pre = s1(idxD)
    FullText.compactTextIndex(spark, idxD)
    assert(!graft.io.Layout.pathExists(spark,
      s"${graft.io.Layout.liveArtifactDir(spark, idxD)}/tombstones"),
      "compaction must reclaim the tombstone set")
    assert(FullText.postingsFrame(spark, idxD).count() ==
      FullText.postingsFrame(spark, idxR).count(),
      "compacted postings must match the rebuild's row count")
    assert(FullText.termVectorsFrame(spark, idxD).count() ==
      FullText.termVectorsFrame(spark, idxR).count(),
      "term vectors drop the deleted docs too")
    assert(s1(idxD) == pre, "search must be compaction-invariant")
  }

  test("delete then append interleave: statistics stay exact across the mix") {
    // a real index alternates batches and takedowns; the additive
    // append must compose with the decremented delete state
    val old = Seq(
      (1L, "fast vector engines win races"),
      (2L, "fast vector query engines"),
      (3L, "slow scalar fallback path"),
      (4L, "fast query planners everywhere")).toDF("doc_id", "text")
    val fresh = Seq(
      (5L, "vector query fast fast"),
      (6L, "fast planners vector query")).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("bm25-mix")
      .toFile.getAbsolutePath
    FullText.writeTextIndex(old, "doc_id", "text", idx,
      storeTermVectors = true)
    FullText.deleteFromTextIndex(spark, idx, Seq(2L))
    FullText.appendToTextIndex(spark, fresh, "doc_id", "text", idx)
    val idxR = java.nio.file.Files.createTempDirectory("bm25-mix-r")
      .toFile.getAbsolutePath
    FullText.writeTextIndex(
      old.filter($"doc_id" =!= 2L).unionByName(fresh),
      "doc_id", "text", idxR, storeTermVectors = true)
    def search(i: String) = FullText
      .bm25SearchStored(spark, i, Seq("fast", "vector", "query"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(search(idx) == search(idxR),
      "delete → append must equal a rebuild of survivors ∪ fresh")
    def statsOf(i: String) = {
      val r = spark.read
        .parquet(s"${graft.io.Layout.liveArtifactDir(spark, i)}/stats").head()
      (r.getAs[Long]("n_docs"), r.getAs[Double]("avgdl"),
        r.getAs[Long]("sum_doclen"))
    }
    assert(statsOf(idx) == statsOf(idxR))
  }

  test("tombstone delete without term vectors: Lucene-stale stats, trued up at compaction") {
    val docs = graft.io.Tables.documents(spark, dir)
    val idxD = java.nio.file.Files.createTempDirectory("bm25-del-lu")
      .toFile.getAbsolutePath
    FullText.writeTextIndex(docs, "doc_id", "text", idxD)
    val hit = FullText.bm25SearchStored(spark, idxD, terms)
      .head().getLong(0)
    FullText.deleteFromTextIndex(spark, idxD, Seq(hit))
    val after = FullText.bm25SearchStored(spark, idxD, terms)
      .collect().map(_.getLong(0)).toSeq
    assert(!after.contains(hit),
      "a deleted doc must never be served, even before compaction")
    // compaction trues the statistics up to rebuild-without-deleted
    FullText.compactTextIndex(spark, idxD)
    val idxR = java.nio.file.Files.createTempDirectory("bm25-del-lur")
      .toFile.getAbsolutePath
    FullText.writeTextIndex(docs.filter($"doc_id" =!= hit), "doc_id",
      "text", idxR)
    def s1(idx: String) = FullText.bm25SearchStored(spark, idx, terms)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(s1(idxD) == s1(idxR))
  }

  test("stored percolation: equals the gated operator, analyzer-normalized registration") {
    val docs = graft.io.Tables.documents(spark, dir)
    val idx = java.nio.file.Files.createTempDirectory("bm25-perc")
      .toFile.getAbsolutePath
    FullText.writeTextIndex(docs, "doc_id", "text", idx)
    // the same six bigram queries q143 derives, registered as stored
    // queries against the index
    val bigrams = docs
      .select(FullText.analyze($"text").as("toks"))
      .filter(size($"toks") >= 2)
      .select(explode(transform(sequence(lit(1), size($"toks") - 1),
        i => concat(element_at($"toks", i), lit(" "),
          element_at($"toks", i + 1)))).as("bg"))
      .groupBy($"bg").agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"bg".asc).limit(6)
      .collect().map(_.getString(0))
    val queries = bigrams.zipWithIndex.map { case (bg, i) =>
      (i.toLong, bg.split(" ").toSeq) }.toSeq
    def shape(rows: Array[org.apache.spark.sql.Row],
        nIdx: Int, fIdx: Int) =
      rows.map(r => (r.getLong(0), r.getLong(nIdx),
        r.getString(fIdx))).toSeq
    val stored = shape(
      FullText.percolateStored(spark, idx, queries).collect(), 1, 2)
    val self = shape(
      TextQueries.percolate(spark, dir).collect(), 2, 3)
    assert(stored == self,
      s"stored percolation diverged:\n  $stored\n  $self")
    // registration analyzes: uppercased terms percolate identically
    val upper = queries.map { case (q, ts) => (q, ts.map(_.toUpperCase)) }
    assert(shape(FullText.percolateStored(spark, idx, upper)
      .collect(), 1, 2) == self,
      "registered terms must normalize through the field analyzer")
    // all-stopword queries are rejected, not silently unmatched
    intercept[IllegalArgumentException] {
      FullText.percolateStored(spark, idx, Seq((9L, Seq("the", "of"))))
    }
  }

  test("stored simple_query_string pages with search_after; RunSearch serves page 2") {
    val docs = graft.io.Tables.documents(spark, dir)
    val idx = java.nio.file.Files.createTempDirectory("bm25-sqs-sa")
      .toFile.getAbsolutePath
    FullText.writeTextIndex(docs, "doc_id", "text", idx)
    val q = "fast vector query"
    def page(after: Option[(Double, Long)]) = FullText
      .simpleQueryStringStored(spark, idx, q, k = 5, after = after)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val p1 = page(None)
    val p2 = page(Some((p1.last._2, p1.last._1)))
    val p3 = page(Some((p2.last._2, p2.last._1)))
    assert((p1.map(_._1).toSet & p2.map(_._1).toSet).isEmpty)
    val top15 = FullText
      .simpleQueryStringStored(spark, idx, q, k = 15)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(p1 ++ p2 ++ p3 == top15,
      "SQS keyset pages must concatenate to the single big page")
    // the CLI's stored path pages the same hits (highlighted)
    val cliP2 = graft.tools.RunSearch.run(spark, dir, q, k = 5,
      indexDir = Some(idx), after = Some((p1.last._2, p1.last._1)))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(cliP2 == p2, "RunSearch must serve the same second page")
    // paging without an index is refused, not silently mis-paged
    intercept[IllegalArgumentException] {
      graft.tools.RunSearch.run(spark, dir, q, k = 5,
        after = Some((1.0, 1L)))
    }
  }

  test("multi-field tombstones: masked immediately, stats trued at compaction") {
    // compaction re-derives stats from surviving postings, which
    // cannot see a doc whose FIELD analyzed to zero tokens (the
    // documented Lucene-stale limitation) — keep the pin corpus free
    // of that case so it tests the contract, not the caveat
    val docs = graft.io.Tables.documents(spark, dir)
      .select($"doc_id",
        array_join(slice(split($"text", "\\s+"), 1, 6), " ").as("title"),
        $"text".as("body"))
      .filter(size(FullText.analyze($"title")) > 0 &&
        size(FullText.analyze($"body")) > 0)
    val fields = Seq("title" -> 2.0, "body" -> 1.0)
    val idxD = java.nio.file.Files.createTempDirectory("mf-del")
      .toFile.getAbsolutePath
    FullText.writeMultiFieldTextIndex(docs, "doc_id",
      Seq("title", "body"), idxD)
    def search(idx: String) = FullText.multiMatchSearchStored(
      spark, idx, terms, fields, tieBreaker = 0.3)
      .collect().map(r => (r.getLong(0), r.getDouble(1),
        r.getDouble(2), r.getDouble(3))).toSeq
    val hit = search(idxD).head._1
    // deleteFromTextIndex works unchanged on the multi-field layout
    // (doc_id-keyed tombstones, shared live view); no forward
    // artifact exists, so statistics stay Lucene-stale until compact
    FullText.deleteFromTextIndex(spark, idxD, Seq(hit))
    assert(!search(idxD).exists(_._1 == hit),
      "a deleted doc must never be served from any field face")
    FullText.compactTextIndex(spark, idxD)
    assert(!graft.io.Layout.pathExists(spark,
      s"${graft.io.Layout.liveArtifactDir(spark, idxD)}/tombstones"))
    val idxR = java.nio.file.Files.createTempDirectory("mf-del-r")
      .toFile.getAbsolutePath
    FullText.writeMultiFieldTextIndex(docs.filter($"doc_id" =!= hit),
      "doc_id", Seq("title", "body"), idxR)
    assert(search(idxD) == search(idxR),
      "compaction must true multi-field stats up to rebuild-without-deleted")
  }

  test("search_after keyset pages: disjoint, exhaustive, stored ≡ self-contained") {
    val docs = graft.io.Tables.documents(spark, dir)
    val idx = java.nio.file.Files.createTempDirectory("bm25-sa")
      .toFile.getAbsolutePath
    FullText.writeTextIndex(docs, "doc_id", "text", idx)
    val p1 = FullText.bm25SearchStored(spark, idx, terms, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val c1 = p1.last
    val p2 = FullText.bm25SearchStored(spark, idx, terms, k = 5,
      after = Some((c1._2, c1._1)))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val c2 = p2.last
    val p3 = FullText.bm25SearchStored(spark, idx, terms, k = 5,
      after = Some((c2._2, c2._1)))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // page N+1 never re-serves page N's rows, and the concatenation
    // IS the single top-15 — the q119 keyset discipline on ranked hits
    assert((p1.map(_._1).toSet & p2.map(_._1).toSet).isEmpty)
    assert((p2.map(_._1).toSet & p3.map(_._1).toSet).isEmpty)
    val top15 = FullText.bm25SearchStored(spark, idx, terms, k = 15)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(p1 ++ p2 ++ p3 == top15,
      "keyset pages must concatenate to the single big page")
    // and the gated self-contained operator pages identically
    val q144 = graft.queries.TextQueries
      .searchAfterPages(spark, dir, pageSize = 5, nPages = 3)
    val viaQuery = graft.ops.Checkpoints.consume(q144)(
      _.collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Double]("score"))).toSeq)
    assert(viaQuery == top15.sortBy(x => (-x._2, x._1)),
      "q144 must serve the same 15 hits in ranking order")
  }

  test("generation commit: a crashed (uncommitted) delete is invisible; replay lands exactly") {
    val docs = Seq(
      (1L, "fast vector engines win races"),
      (2L, "fast vector query engines"),
      (3L, "slow scalar fallback path"),
      (4L, "fast query planners everywhere")).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("bm25-crash")
      .toFile.getAbsolutePath
    FullText.writeTextIndex(docs, "doc_id", "text", idx,
      storeTermVectors = true)
    def search() = FullText
      .bm25SearchStored(spark, idx, Seq("fast", "vector", "query"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val pre = search()
    // simulate a delete that CRASHED mid-staging: a gen dir holding a
    // tombstone set (even garbage artifacts) but NO _COMMITTED marker
    // — no search face may observe any of it
    val stage = graft.io.Layout.generationDir(idx, 1L)
    Seq(Tuple1(1L)).toDF("doc_id").write.parquet(s"$stage/tombstones")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(stage, "df"), "garbage".getBytes)
    assert(graft.io.Layout.liveArtifactDir(spark, idx) == idx,
      "an uncommitted generation must not resolve as live")
    assert(search() == pre,
      "a crashed delete's partial staging must be invisible to search")
    // the REPLAYED delete clears the partial staging and commits the
    // full trio — exact equality with a rebuild, no double effects
    FullText.deleteFromTextIndex(spark, idx, Seq(1L))
    FullText.deleteFromTextIndex(spark, idx, Seq(1L)) // and re-replay
    val idxR = java.nio.file.Files.createTempDirectory("bm25-crash-r")
      .toFile.getAbsolutePath
    FullText.writeTextIndex(docs.filter($"doc_id" =!= 1L), "doc_id",
      "text", idxR, storeTermVectors = true)
    assert(search() == FullText
      .bm25SearchStored(spark, idxR, Seq("fast", "vector", "query"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq,
      "replayed delete over crashed staging must equal a rebuild")
    // exactly one committed generation remains (the re-replay is an
    // idempotent NO-OP — ids already tombstoned — so no gen-2 is cut);
    // flat tombstones never existed (the trio lives inside the gen dir)
    assert(graft.io.Layout.liveGeneration(spark, idx).contains(1L))
    assert(!graft.io.Layout.pathExists(spark, s"$idx/tombstones"))
    // multi-field twin: the same crashed staging under a (title, body)
    // index with per-field term vectors — invisible, then the replayed
    // exact per-field decrement equals a rebuild
    val mdocs = docs.select($"doc_id",
      array_join(slice(split($"text", " "), 1, 2), " ").as("title"),
      $"text".as("body"))
    val midx = java.nio.file.Files.createTempDirectory("mf-crash")
      .toFile.getAbsolutePath
    FullText.writeMultiFieldTextIndex(mdocs, "doc_id",
      Seq("title", "body"), midx, storeTermVectors = true)
    def msearch(i: String) = FullText.multiMatchSearchStored(spark, i,
      Seq("fast", "vector", "query"), Seq("title" -> 2.0, "body" -> 1.0),
      tieBreaker = 0.3)
      .collect().map(r => (r.getLong(0), r.getDouble(1),
        r.getDouble(2), r.getDouble(3))).toSeq
    val mpre = msearch(midx)
    val mstage = graft.io.Layout.generationDir(midx, 1L)
    Seq(Tuple1(1L)).toDF("doc_id").write.parquet(s"$mstage/tombstones")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(mstage, "df"), "garbage".getBytes)
    assert(graft.io.Layout.liveArtifactDir(spark, midx) == midx,
      "an uncommitted multi-field generation must not resolve as live")
    assert(msearch(midx) == mpre,
      "a crashed multi-field delete's staging must be invisible")
    FullText.deleteFromTextIndex(spark, midx, Seq(1L))
    FullText.deleteFromTextIndex(spark, midx, Seq(1L))
    val midxR = java.nio.file.Files.createTempDirectory("mf-crash-r")
      .toFile.getAbsolutePath
    FullText.writeMultiFieldTextIndex(mdocs.filter($"doc_id" =!= 1L),
      "doc_id", Seq("title", "body"), midxR, storeTermVectors = true)
    assert(msearch(midx) == msearch(midxR),
      "replayed multi-field delete over crashed staging must equal a " +
        "rebuild")
    assert(graft.io.Layout.liveGeneration(spark, midx).contains(1L))
    assert(!graft.io.Layout.pathExists(spark, s"$midx/tombstones"))
  }

  test("applied-segments registry: a batch replayed AFTER compaction is still a no-op") {
    val old = Seq(
      (1L, "fast vector engines win races"),
      (2L, "fast vector query engines"),
      (3L, "slow scalar fallback path")).toDF("doc_id", "text")
    val b0 = Seq((4L, "fast query planners everywhere"))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("bm25-replay-c")
      .toFile.getAbsolutePath
    FullText.writeTextIndex(old, "doc_id", "text", idx)
    FullText.appendToTextIndex(spark, b0, "doc_id", "text", idx,
      segmentId = Some("b0"))
    // compaction folds the segment away from the LIVE dirs — the
    // applied registry must remember it, or a stream restarted after
    // a maintenance compaction re-applies its last batch
    FullText.compactTextIndex(spark, idx)
    def search(i: String) = FullText
      .bm25SearchStored(spark, i, Seq("fast", "vector", "query"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val pre = search(idx)
    FullText.appendToTextIndex(spark, b0, "doc_id", "text", idx,
      segmentId = Some("b0"))
    assert(search(idx) == pre,
      "a batch id committed before compaction must replay as a no-op")
    val idxR = java.nio.file.Files.createTempDirectory("bm25-replay-r")
      .toFile.getAbsolutePath
    FullText.writeTextIndex(old.unionByName(b0), "doc_id", "text", idxR)
    assert(search(idx) == search(idxR),
      "post-compaction state must still equal the rebuild")
  }

  test("legacy stats schema: compaction folds (not destroys) a pre-flag term-vectors artifact") {
    val docs = Seq(
      (1L, "fast vector engines win races"),
      (2L, "fast vector query engines"),
      (3L, "slow scalar fallback path"),
      (4L, "fast query planners everywhere")).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("bm25-legacy")
      .toFile.getAbsolutePath
    FullText.writeTextIndex(docs, "doc_id", "text", idx,
      storeTermVectors = true)
    // simulate an index written BEFORE the has_termvectors/buckets
    // stats columns existed: strip them (collect first — the
    // overwrite targets the path being read)
    val legacy = spark.read.parquet(s"$idx/stats")
      .select($"n_docs", $"avgdl", $"sum_doclen", $"has_positions")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        r.getBoolean(3))).toSeq
    legacy.toDF("n_docs", "avgdl", "sum_doclen", "has_positions")
      .write.mode("overwrite").parquet(s"$idx/stats")
    // the filesystem fallback must see the forward artifact: delete
    // takes the EXACT path, compaction FOLDS termvectors instead of
    // skipping and then destroying the root dir
    FullText.deleteFromTextIndex(spark, idx, Seq(2L))
    FullText.compactTextIndex(spark, idx)
    val seedId = 1L
    val stored = FullText.moreLikeThisStored(spark, idx, seedId)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val idxR = java.nio.file.Files.createTempDirectory("bm25-legacy-r")
      .toFile.getAbsolutePath
    FullText.writeTextIndex(docs.filter($"doc_id" =!= 2L), "doc_id",
      "text", idxR, storeTermVectors = true)
    val self = FullText.moreLikeThisStored(spark, idxR, seedId)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(stored == self,
      "a legacy index's term vectors must survive delete + compaction")
    assert(FullText.termVectorsFrame(spark, idx).count() ==
      FullText.termVectorsFrame(spark, idxR).count())
  }

  test("recorded bucket count: append/delete/search follow the writer's layout, not the caller's parameter") {
    val docs = graft.io.Tables.documents(spark, dir)
    val w = docs.agg(max($"doc_id")).head().getLong(0) * 4 / 5
    val idx = java.nio.file.Files.createTempDirectory("bm25-bk")
      .toFile.getAbsolutePath
    // a NON-DEFAULT bucket count at write time; every subsequent call
    // uses the DEFAULT parameter (16) — with a trusted-parameter
    // implementation the append lands postings in wrong partitions
    // and the search prunes to wrong buckets, both silently
    FullText.writeTextIndex(docs.filter($"doc_id" <= w), "doc_id",
      "text", idx, buckets = 5, storeTermVectors = true)
    FullText.appendToTextIndex(spark, docs.filter($"doc_id" > w),
      "doc_id", "text", idx)
    val dead = docs.filter($"doc_id" % 11 === 3)
      .select($"doc_id").collect().map(_.getLong(0)).toSeq
    FullText.deleteFromTextIndex(spark, idx, dead)
    val idxR = java.nio.file.Files.createTempDirectory("bm25-bk-r")
      .toFile.getAbsolutePath
    FullText.writeTextIndex(docs.filter(!$"doc_id".isInCollection(dead)),
      "doc_id", "text", idxR, buckets = 5, storeTermVectors = true)
    def s1(i: String) = FullText.bm25SearchStored(spark, i, terms)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(s1(idx) == s1(idxR),
      "recorded buckets must drive append + delete + search")
    assert(s1(idx).nonEmpty)
    // multi-field twin: 5 recorded buckets, default-parameter calls
    val mdocs = docs.select($"doc_id",
      array_join(slice(split($"text", "\\s+"), 1, 6), " ").as("title"),
      $"text".as("body"))
    val fields = Seq("title", "body")
    val midx = java.nio.file.Files.createTempDirectory("mf-bk")
      .toFile.getAbsolutePath
    FullText.writeMultiFieldTextIndex(mdocs.filter($"doc_id" <= w),
      "doc_id", fields, midx, buckets = 5, storeTermVectors = true)
    FullText.appendToMultiFieldTextIndex(spark,
      mdocs.filter($"doc_id" > w), "doc_id", fields, midx)
    FullText.deleteFromTextIndex(spark, midx, dead)
    val midxR = java.nio.file.Files.createTempDirectory("mf-bk-r")
      .toFile.getAbsolutePath
    FullText.writeMultiFieldTextIndex(
      mdocs.filter(!$"doc_id".isInCollection(dead)), "doc_id", fields,
      midxR, buckets = 5, storeTermVectors = true)
    def m1(i: String) = FullText.multiMatchSearchStored(spark, i, terms,
      Seq("title" -> 2.0, "body" -> 1.0), tieBreaker = 0.3)
      .collect().map(r => (r.getLong(0), r.getDouble(1),
        r.getDouble(2), r.getDouble(3))).toSeq
    assert(m1(midx) == m1(midxR),
      "recorded buckets must drive the multi-field append + delete + " +
        "search")
    assert(m1(midx).nonEmpty)
  }

  test("stats schema: both layouts keep their exact column lists through every mutation") {
    // postings keep their column sets too: positions only single-field
    val singlePost = Set("term", "doc_id", "doclen", "tf", "positions",
      "bucket")
    val multiPost = singlePost - "positions" + "field"
    val single = Seq("n_docs" -> "bigint", "avgdl" -> "double",
      "sum_doclen" -> "bigint", "has_positions" -> "boolean",
      "has_termvectors" -> "boolean", "buckets" -> "int")
    val multi = ("field" -> "string") +:
      single.filterNot(_._1 == "has_positions")
    def schemaOf(idx: String) = spark.read
      .parquet(s"${graft.io.Layout.liveArtifactDir(spark, idx)}/stats")
      .schema.fields.map(f => f.name -> f.dataType.simpleString).toSeq
    val docs = Seq(
      (1L, "fast vector engines win races", "fast vector"),
      (2L, "fast vector query engines", "query engines"),
      (3L, "slow scalar fallback path", "slow path"),
      (4L, "fast query planners everywhere", "fast planners"))
      .toDF("doc_id", "text", "title")
    val extra = Seq((5L, "fast query rewrites", "query rewrites"))
      .toDF("doc_id", "text", "title")
    val fields = Seq("title", "text")
    // with term vectors the delete decrements exactly and the fold
    // carries the stats; without them the delete carries stale stats
    // and the fold re-derives them; a rebucket rewrites either way
    for (tv <- Seq(true, false)) {
      val sIdx = java.nio.file.Files.createTempDirectory("stats-s")
        .toFile.getAbsolutePath
      val mIdx = java.nio.file.Files.createTempDirectory("stats-m")
        .toFile.getAbsolutePath
      def check(step: String): Unit = {
        assert(schemaOf(sIdx) == single,
          s"single-field stats after $step (term vectors $tv)")
        assert(schemaOf(mIdx) == multi,
          s"multi-field stats after $step (term vectors $tv)")
        assert(FullText.postingsFrame(spark, sIdx).columns.toSet ==
          singlePost, s"single-field postings after $step")
        assert(FullText.postingsFrame(spark, mIdx).columns.toSet ==
          multiPost, s"multi-field postings after $step")
      }
      FullText.writeTextIndex(docs, "doc_id", "text", sIdx,
        storeTermVectors = tv)
      FullText.writeMultiFieldTextIndex(docs, "doc_id", fields, mIdx,
        storeTermVectors = tv)
      check("write")
      // the writer's column ORDER per artifact kind: a fold's
      // `<kind>-v<gen>` files must keep it, whatever the fold applied
      def columnsOf(idx: String, kind: String): Map[String, Seq[String]] =
        new java.io.File(idx).listFiles().toSeq
          .filter(f => f.isDirectory &&
            (f.getName == kind || f.getName.startsWith(s"$kind-v")))
          .map(f => f.getName ->
            spark.read.parquet(f.getAbsolutePath).columns.toSeq).toMap
      val kinds = if (tv) Seq("postings", "termvectors") else Seq("postings")
      val written = for (i <- Seq(sIdx, mIdx); k <- kinds)
        yield (i, k) -> columnsOf(i, k)(k)
      def checkFolded(step: String): Unit = written.foreach {
        case ((i, k), cols) =>
          val folded = columnsOf(i, k) - k
          assert(folded.nonEmpty, s"no folded $k dir after $step")
          folded.foreach { case (d, c) =>
            assert(c == cols, s"$d column order after $step " +
              s"(term vectors $tv): $c, written $cols")
          }
      }
      FullText.appendToTextIndex(spark, extra, "doc_id", "text", sIdx)
      FullText.appendToMultiFieldTextIndex(spark, extra, "doc_id",
        fields, mIdx)
      check("append")
      Seq(sIdx, mIdx).foreach(FullText.deleteFromTextIndex(spark, _,
        Seq(2L)))
      check(if (tv) "exact delete" else "Lucene-stale delete")
      Seq(sIdx, mIdx).foreach(FullText.compactTextIndex(spark, _))
      check("compact")
      checkFolded("compact")
      Seq(sIdx, mIdx).foreach(FullText.compactTextIndex(spark, _,
        rebucket = Some(3)))
      check("rebucket")
      checkFolded("rebucket")
    }
  }

  test("rebucket at compaction: pages identical, recorded count updates, appends follow") {
    val docs = graft.io.Tables.documents(spark, dir)
    val idx = java.nio.file.Files.createTempDirectory("bm25-rebk")
      .toFile.getAbsolutePath
    // a small-corpus bucket count at write time; the index then
    // accretes an append and a delete — the state a grown deployment
    // compacts from
    val w = docs.agg(max($"doc_id")).head().getLong(0) * 4 / 5
    FullText.writeTextIndex(docs.filter($"doc_id" <= w), "doc_id",
      "text", idx, buckets = 4, storeTermVectors = true)
    FullText.appendToTextIndex(spark, docs.filter($"doc_id" > w),
      "doc_id", "text", idx, segmentId = Some("grow"))
    val dead = docs.filter($"doc_id" % 9 === 2)
      .select($"doc_id").collect().map(_.getLong(0)).toSeq
    FullText.deleteFromTextIndex(spark, idx, dead)
    def page() = FullText.bm25SearchStored(spark, idx, terms)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = page()
    // the fold resizes the term-bucket partitioning to 10
    FullText.compactTextIndex(spark, idx, rebucket = Some(10))
    assert(page() == before,
      "a rebucketing fold must serve the same page bit-for-bit")
    // the physical layout really changed: > 4 bucket dirs in the fold
    val foldDir = new java.io.File(idx).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("postings-v"))
      .head
    val bks = foldDir.listFiles().filter(_.isDirectory).map(_.getName)
      .filter(_.startsWith("bucket="))
      .map(_.stripPrefix("bucket=").toInt)
    assert(bks.length > 4 && bks.forall(b => b >= 0 && b < 10),
      s"the fold must land in the NEW bucket space (got ${bks.toSeq})")
    // the committed stats record the new count
    assert(spark.read
      .parquet(s"${graft.io.Layout.liveArtifactDir(spark, idx)}/stats")
      .head().getAs[Int]("buckets") == 10)
    // subsequent appends + searches follow the RECORDED 10 (callers
    // still pass the default 16): equal to a rebuild AT 10 BUCKETS
    val extra = Seq((8880001L, "fast vector query rebucketed"))
      .toDF("doc_id", "text")
    FullText.appendToTextIndex(spark, extra, "doc_id", "text", idx)
    val idxR = java.nio.file.Files.createTempDirectory("bm25-rebk-r")
      .toFile.getAbsolutePath
    FullText.writeTextIndex(
      docs.filter(!$"doc_id".isInCollection(dead))
        .select($"doc_id", $"text").unionByName(extra),
      "doc_id", "text", idxR, buckets = 10, storeTermVectors = true)
    def pageOf(i: String) = FullText.bm25SearchStored(spark, i, terms)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(pageOf(idx) == pageOf(idxR),
      "post-rebucket appends and searches must follow the recorded " +
        "count exactly")
    // multi-field twin: rebucket folds, multi_match page invariant,
    // per-field stats all record the new count
    val mdocs = docs.select($"doc_id",
      array_join(slice(split($"text", "\\s+"), 1, 6), " ").as("title"),
      $"text".as("body"))
    val midx = java.nio.file.Files.createTempDirectory("mf-rebk")
      .toFile.getAbsolutePath
    FullText.writeMultiFieldTextIndex(mdocs, "doc_id",
      Seq("title", "body"), midx, buckets = 4)
    def mpage() = FullText.multiMatchSearchStored(spark, midx, terms,
      Seq("title" -> 2.0, "body" -> 1.0), tieBreaker = 0.3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val mBefore = mpage()
    FullText.compactTextIndex(spark, midx,
      rebucket = Some(8))
    assert(mpage() == mBefore,
      "multi-field rebucket must serve the same page")
    assert(spark.read
      .parquet(s"${graft.io.Layout.liveArtifactDir(spark, midx)}/stats")
      .collect().forall(_.getAs[Int]("buckets") == 8),
      "every field's stats row must record the new bucket count")
  }

  test("multi-field term vectors: exact delete ≡ rebuild bit-for-bit, appends compose") {
    val docs = graft.io.Tables.documents(spark, dir)
      .select($"doc_id",
        array_join(slice(split($"text", "\\s+"), 1, 6), " ").as("title"),
        $"text".as("body"))
    val fields = Seq("title" -> 2.0, "body" -> 1.0)
    val idxD = java.nio.file.Files.createTempDirectory("mf-tv-del")
      .toFile.getAbsolutePath
    FullText.writeMultiFieldTextIndex(docs, "doc_id",
      Seq("title", "body"), idxD, storeTermVectors = true)
    val dead = docs.filter($"doc_id" % 7 === 3)
      .select($"doc_id").collect().map(_.getLong(0)).toSeq
    assert(dead.nonEmpty)
    FullText.deleteFromTextIndex(spark, idxD, dead)
    val idxR = java.nio.file.Files.createTempDirectory("mf-tv-del-r")
      .toFile.getAbsolutePath
    val survivors = docs.filter(!$"doc_id".isInCollection(dead))
    FullText.writeMultiFieldTextIndex(survivors, "doc_id",
      Seq("title", "body"), idxR, storeTermVectors = true)
    def search(idx: String) = FullText.multiMatchSearchStored(
      spark, idx, terms, fields, tieBreaker = 0.3)
      .collect().map(r => (r.getLong(0), r.getDouble(1),
        r.getDouble(2), r.getDouble(3))).toSeq
    assert(search(idxD) == search(idxR),
      "multi-field search-after-delete must be bit-identical to a " +
        "rebuild without the deleted docs (all three modes)")
    // per-(field, term) dictionary decrements exactly
    def dfOf(idx: String) = spark.read
      .parquet(s"${graft.io.Layout.liveArtifactDir(spark, idx)}/df")
      .collect().map(r => (r.getAs[String]("field"),
        r.getAs[String]("term"), r.getAs[Long]("df")))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(dfOf(idxD) == dfOf(idxR))
    // idempotent replay
    FullText.deleteFromTextIndex(spark, idxD, dead)
    assert(search(idxD) == search(idxR))
    // an append composes with the decremented state (delete → append
    // ≡ rebuild of survivors ∪ fresh), term vectors in lockstep
    val extra = Seq((990001L, "fast vectors", "fast vector query win"),
      (990002L, "slow path", "slow scalar query fallback"))
      .toDF("doc_id", "title", "body")
    FullText.appendToMultiFieldTextIndex(spark, extra, "doc_id",
      Seq("title", "body"), idxD)
    val idxR2 = java.nio.file.Files.createTempDirectory("mf-tv-del-r2")
      .toFile.getAbsolutePath
    FullText.writeMultiFieldTextIndex(survivors.unionByName(extra),
      "doc_id", Seq("title", "body"), idxR2, storeTermVectors = true)
    assert(search(idxD) == search(idxR2),
      "multi-field delete → append must equal a rebuild")
    // compaction applies tombstones physically (term vectors too) and
    // keeps every page bit-identical
    val pre = search(idxD)
    FullText.compactTextIndex(spark, idxD)
    assert(!graft.io.Layout.pathExists(spark,
      s"${graft.io.Layout.liveArtifactDir(spark, idxD)}/tombstones"))
    assert(FullText.termVectorsFrame(spark, idxD).count() ==
      FullText.termVectorsFrame(spark, idxR2).count(),
      "compacted term vectors must match the rebuild's row count")
    assert(search(idxD) == pre, "search must be compaction-invariant")
  }

  test("postings files are term-sorted, term vectors doc-sorted (row-group pruning order)") {
    val docs = graft.io.Tables.documents(spark, dir)
    val idx = java.nio.file.Files.createTempDirectory("sorted-idx")
      .toFile.getAbsolutePath
    FullText.writeTextIndex(docs, "doc_id", "text", idx,
      storeTermVectors = true)
    // an append's segment files carry the same order
    FullText.appendToTextIndex(spark,
      Seq((880021L, "zz fast aa vector mm query")).toDF("doc_id", "text"),
      "doc_id", "text", idx, segmentId = Some("b1"))
    def assertSorted(frame: org.apache.spark.sql.DataFrame,
        key: org.apache.spark.sql.Column, what: String): Unit =
      frame.select(input_file_name().as("f"), key.as("k"))
        .collect().groupBy(_.getString(0)).foreach { case (f, rs) =>
          val ks = rs.map(_.get(1).toString).toSeq
          assert(ks == ks.sorted,
            s"$what rows in $f must be sorted for row-group pruning")
        }
    assertSorted(FullText.postingsFrame(spark, idx)
      .select($"term"), $"term", "postings")
    assertSorted(FullText.termVectorsFrame(spark, idx)
      .select(format_string("%020d", $"doc_id").as("d")), $"d",
      "term-vector")
    // and the compaction fold preserves it
    FullText.compactTextIndex(spark, idx)
    assertSorted(FullText.postingsFrame(spark, idx)
      .select($"term"), $"term", "compacted postings")
  }

  test("retainGenerations: root dirs survive compaction while a retained manifest references them") {
    val docs = graft.io.Tables.documents(spark, dir)
    val idx = java.nio.file.Files.createTempDirectory("retain-root")
      .toFile.getAbsolutePath
    spark.conf.set("graft.index.retainGenerations", "2")
    try {
      FullText.writeTextIndex(docs, "doc_id", "text", idx)
      // gen-1: an append whose manifest references the ROOT postings
      FullText.appendToTextIndex(spark,
        Seq((990001L, "fast vector query extra")).toDF("doc_id", "text"),
        "doc_id", "text", idx, segmentId = Some("b1"))
      def page() = FullText.bm25SearchStored(spark, idx, terms)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val before = page()
      // gen-2: compaction folds into postings-v2 — but gen-1 is
      // RETAINED and its manifest still references the root dir, so
      // the lock-free-reader knob demands the root survive
      FullText.compactTextIndex(spark, idx)
      assert(graft.io.Layout.pathExists(spark, s"$idx/postings"),
        "root postings must survive while a retained generation " +
          "references them")
      // every dir gen-1's manifest references must still resolve —
      // a reader pinned at gen-1 mid-query keeps its inputs
      val gen1Dirs = spark.read.parquet(s"$idx/gen-1/segments")
        .filter($"kind" === "postings")
        .collect().map(_.getAs[String]("dir"))
      assert(gen1Dirs.forall(d =>
        graft.io.Layout.pathExists(spark, s"$idx/$d")))
      assert(page() == before, "compaction must not change the page")
      // a second fold retires gen-1; nothing references the root
      // anymore and the liveness sweep reclaims it
      FullText.compactTextIndex(spark, idx)
      assert(!graft.io.Layout.pathExists(spark, s"$idx/postings"),
        "once no retained manifest references the root, it reclaims")
      assert(page() == before)
    } finally spark.conf.unset("graft.index.retainGenerations")
  }

  test("empty analyzed delta: append stays searchable, counts docs, references no segment") {
    val docs = graft.io.Tables.documents(spark, dir)
    val idx = java.nio.file.Files.createTempDirectory("empty-delta")
      .toFile.getAbsolutePath
    FullText.writeTextIndex(docs, "doc_id", "text", idx)
    def stats() = spark.read
      .parquet(s"${graft.io.Layout.liveArtifactDir(spark, idx)}/stats").head()
    val n0 = stats().getAs[Long]("n_docs")
    val s0 = stats().getAs[Long]("sum_doclen")
    val postRows = FullText.postingsFrame(spark, idx).count()
    // docs whose every token is an English stopword analyze to ZERO
    // tokens — a supported case that must not write a _SUCCESS-only
    // segment dir poisoning every later manifest union
    val stop = Seq((880001L, "the and of to a"),
      (880002L, "is it in on for")).toDF("doc_id", "text")
    FullText.appendToTextIndex(spark, stop, "doc_id", "text", idx,
      segmentId = Some("bStop"))
    // the index must remain fully searchable (the failure mode was
    // "Unable to infer schema for Parquet" on ANY later read)
    val page = FullText.bm25SearchStored(spark, idx, terms)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(page.nonEmpty)
    assert(stats().getAs[Long]("n_docs") == n0 + 2,
      "zero-token docs still count in n_docs (writer semantics)")
    assert(stats().getAs[Long]("sum_doclen") == s0)
    assert(FullText.postingsFrame(spark, idx).count() == postRows,
      "an empty delta must add no postings rows and no segment dir")
    // replay of the empty batch is a no-op (its id committed)
    FullText.appendToTextIndex(spark, stop, "doc_id", "text", idx,
      segmentId = Some("bStop"))
    assert(stats().getAs[Long]("n_docs") == n0 + 2)
    // a later REAL append composes: search ≡ rebuild over the union
    val extra = Seq((880003L, "fast vector query wins the race"))
      .toDF("doc_id", "text")
    FullText.appendToTextIndex(spark, extra, "doc_id", "text", idx,
      segmentId = Some("bReal"))
    val idxR = java.nio.file.Files.createTempDirectory("empty-delta-r")
      .toFile.getAbsolutePath
    FullText.writeTextIndex(
      docs.select($"doc_id", $"text").unionByName(stop)
        .unionByName(extra), "doc_id", "text", idxR)
    def p(i: String) = FullText.bm25SearchStored(spark, i, terms)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(p(idx) == p(idxR),
      "append after an empty delta must equal a rebuild bit-for-bit")
    // multi-field twin: every field all-stopword
    val mIdx = java.nio.file.Files.createTempDirectory("empty-delta-mf")
      .toFile.getAbsolutePath
    val mDocs = docs.select($"doc_id",
      array_join(slice(split($"text", "\\s+"), 1, 6), " ").as("title"),
      $"text".as("body"))
    FullText.writeMultiFieldTextIndex(mDocs, "doc_id",
      Seq("title", "body"), mIdx)
    val mStop = Seq((880004L, "the and", "of to a"))
      .toDF("doc_id", "title", "body")
    FullText.appendToMultiFieldTextIndex(spark, mStop, "doc_id",
      Seq("title", "body"), mIdx, segmentId = Some("bStop"))
    val mPage = FullText.multiMatchSearchStored(spark, mIdx, terms,
      Seq("title" -> 2.0, "body" -> 1.0)).collect()
    assert(mPage.nonEmpty,
      "multi-field index must stay searchable after an empty delta")
  }

  test("distributed delete: DataFrame face ≡ Seq face, tombstones never single-task above the threshold") {
    val docs = graft.io.Tables.documents(spark, dir)
    val dead = docs.filter($"doc_id" % 5 === 2)
      .select($"doc_id").collect().map(_.getLong(0)).toSeq
    assert(dead.size > 4)
    // same batch through both faces → bit-identical search pages and
    // dictionary (the DataFrame face is the same delete, distributed)
    val idxA = java.nio.file.Files.createTempDirectory("del-df-a")
      .toFile.getAbsolutePath
    val idxB = java.nio.file.Files.createTempDirectory("del-df-b")
      .toFile.getAbsolutePath
    FullText.writeTextIndex(docs, "doc_id", "text", idxA,
      storeTermVectors = true)
    FullText.writeTextIndex(docs, "doc_id", "text", idxB,
      storeTermVectors = true)
    FullText.deleteFromTextIndex(spark, idxA, dead)
    // the frame face takes an arbitrary first column name/type and a
    // skewed partitioning — nothing about it may reach the driver
    FullText.deleteFromTextIndex(spark, idxB,
      dead.toDF("ruling_id").repartition(7), buckets = 16)
    def page(idx: String) = FullText.bm25SearchStored(spark, idx, terms)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(page(idxA) == page(idxB),
      "DataFrame delete face must equal the Seq face bit-for-bit")
    def dfOf(idx: String) = spark.read
      .parquet(s"${graft.io.Layout.liveArtifactDir(spark, idx)}/df")
      .collect().map(r => (r.getAs[String]("term"), r.getAs[Long]("df")))
      .sortBy(_._1).toSeq
    assert(dfOf(idxA) == dfOf(idxB))
    // above the single-file threshold the tombstone artifact writes
    // DISTRIBUTED — more than one part file, proving the rewrite is
    // not a coalesce(1) funnel (and a fortiori not a driver Seq)
    val prev = spark.conf.getOption("graft.index.tombstoneSingleFileMax")
    try {
      spark.conf.set("graft.index.tombstoneSingleFileMax", "0")
      val more = docs.filter($"doc_id" % 5 === 4).select($"doc_id")
        .repartition(4)
      FullText.deleteFromTextIndex(spark, idxB, more, buckets = 16)
      val tombDir = new java.io.File(
        s"${graft.io.Layout.liveArtifactDir(spark, idxB)}/tombstones")
      val parts = tombDir.listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(parts > 1,
        s"tombstone artifact above the threshold must write " +
          s"distributed (got $parts part files)")
      // and the search faces read the multi-file artifact unchanged
      val survivors = docs.filter($"doc_id" % 5 =!= 2)
        .filter($"doc_id" % 5 =!= 4)
      val idxR = java.nio.file.Files.createTempDirectory("del-df-r")
        .toFile.getAbsolutePath
      FullText.writeTextIndex(survivors, "doc_id", "text", idxR,
        storeTermVectors = true)
      assert(page(idxB) == page(idxR),
        "search over a multi-file tombstone set must equal a rebuild")
      // idempotent replay through the frame face stays a no-op
      FullText.deleteFromTextIndex(spark, idxB, more, buckets = 16)
      assert(page(idxB) == page(idxR))
    } finally {
      prev match {
        case Some(v) =>
          spark.conf.set("graft.index.tombstoneSingleFileMax", v)
        case None =>
          spark.conf.unset("graft.index.tombstoneSingleFileMax")
      }
    }
  }

  test("the full stored-text lifecycle runs on a setTimes-blind URI-schemed filesystem, page-equal to the local twin") {
    // the object-store simulation END-TO-END, not just the lease leg:
    // every artifact read/write/rename/commit of
    // write → append → delete → compact → search resolves through a
    // foreign-scheme FileSystem whose setTimes is a no-op
    // (graft.io.NoSetTimesFileSystem under nost://) — pinning the
    // repo-wide Hadoop-FS path discipline (a java.io.File probe
    // anywhere in the lifecycle would silently misbehave here) AND
    // the heartbeat-sidecar fallback under real mutations. The local
    // twin runs the identical lifecycle; pages must match bit-for-bit.
    import graft.ops.FullText
    spark.sparkContext.hadoopConfiguration.set("fs.nost.impl",
      classOf[graft.io.NoSetTimesFileSystem].getName)
    val docs = graft.io.Tables.documents(spark, dir).limit(60)
    val extra = Seq((9200001L, "fast vector lifecycle on a blind store"))
      .toDF("doc_id", "text")
    val dead = docs.limit(2).select($"doc_id")
      .collect().map(_.getLong(0)).toSeq
    def lifecycle(idx: String): Unit = {
      FullText.writeTextIndex(docs, "doc_id", "text", idx,
        storeTermVectors = true)
      FullText.appendToTextIndex(spark, extra, "doc_id", "text", idx,
        segmentId = Some("b1"))
      FullText.deleteFromTextIndex(spark, idx, dead)
      FullText.compactTextIndex(spark, idx)
    }
    val nIdx = "nost://" + java.nio.file.Files
      .createTempDirectory("bm25-nost").toFile.getAbsolutePath
    val lIdx = java.nio.file.Files
      .createTempDirectory("bm25-nost-twin").toFile.getAbsolutePath
    lifecycle(nIdx)
    lifecycle(lIdx)
    def page(i: String) = FullText
      .bm25SearchStored(spark, i, Seq("fast", "vector", "query"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(page(nIdx) == page(lIdx),
      "the lifecycle on a setTimes-blind URI-schemed store must equal " +
        "the local twin")
    // the committed state reads back correctly through the status face
    val st = graft.tools.RunStatus.describe(spark, nIdx)
    assert(st.contains("\"family\":\"text\"") &&
      st.contains(s""""n_docs":${docs.count() + 1 - dead.size}""") &&
      st.contains("\"segments\":0") &&
      st.contains("\"tombstone_rows\":0"), s"got $st")
    // no lease or sidecar outlives the mutations
    assert(!graft.io.Layout.pathExists(spark, s"$nIdx/_mutation.lock"))
    assert(!graft.io.Layout.pathExists(spark, s"$nIdx/_mutation.lock.hb"))
  }
}
