package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Layout
import graft.io.Layout.liveArtifactDir

/** Relevance-ranked full-text search — the Spark counterpart of the
  * reference's `text_en`-analyzed match queries (the ES `standard`
  * tokenizer with `"stopwords": "_english_"`,
  * reference `src/indexing/schema.py:13-19`, applied to
  * `description`/`title`/`body` at `schema.py:46,77-78`). Every other
  * string op in the engine is exact-match (`keyword` semantics); this
  * operator closes SURVEY §7's noted gap ("FTS ≈ contains/rlike") with
  * real BM25 ranking, Lucene-default parameters k1=1.2, b=0.75.
  *
  * Scale shape (the part that matters at 100 TB):
  *  - The ONLY corpus-sized shuffle carries query-term postings: tokens
  *    are exploded and filtered to the query's terms BEFORE the tf
  *    groupBy, so the shuffle is |matching postings|, not |corpus|.
  *  - Document frequency is a window count over that already-tiny tf
  *    frame (≤ one row per matching doc per query term) — it does NOT
  *    rescan the corpus.
  *  - Corpus stats (N, avgdl) are one scan-and-aggregate producing a
  *    single broadcast row. On a real deployment these are precomputed
  *    once at index-build time together with per-term df — exactly what
  *    Lucene stores in segment metadata — turning the query plan into
  *    a single corpus pass; the query-time recomputation here keeps the
  *    operator self-contained for the oracle check.
  *  - Top-k is `orderBy.limit` → TakeOrderedAndProject: per-partition
  *    heaps, no global sort.
  */
object FullText {

  /** Lucene/ES default English stopword set — the `_english_` list the
    * reference's `text_en` analyzer names (schema.py:17). Public
    * constant from Lucene's `EnglishAnalyzer.ENGLISH_STOP_WORDS_SET`. */
  val englishStopwords: Seq[String] = Seq(
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if",
    "in", "into", "is", "it", "no", "not", "of", "on", "or", "such",
    "that", "the", "their", "then", "there", "these", "they", "this",
    "to", "was", "will", "with")

  /** `text_en` analyzer: lowercase, split on runs of characters that
    * are neither Unicode letters nor decimal digits, drop empties and
    * English stopwords. `\p{L}`/`\p{Nd}` are Unicode categories in
    * BOTH Java regex and RE2 (the DuckDB oracle engine) with no flag
    * needed — the Java∩RE2 class-form discipline of Pii — so accented
    * and non-Latin text tokenizes as words ("café", "naïve", "日本語")
    * instead of splitting at every non-ASCII byte, approximating the
    * ES `standard` tokenizer's Unicode segmentation (reference
    * schema.py:13-19; the TextRefs UNICODE_CHARACTER_CLASS precedent).
    * Known divergence from ES, pinned in FullTextSpec: an unspaced
    * CJK run stays ONE token (the standard tokenizer emits per-char
    * unigrams) — acceptable for a term-match engine, documented here.
    * Builtin-composed — stays in whole-stage codegen, no UDF. */
  def analyze(text: Column): Column =
    filter(split(lower(text), "[^\\p{L}\\p{Nd}]+"),
      t => length(t) > 0 && !t.isInCollection(englishStopwords))

  /** BM25 top-k search for `queryTerms` over `docs(idCol, textCol)`.
    *
    * score(D,Q) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·|D|/avgdl))
    * with idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)) — Lucene's
    * non-negative BM25 variant. |D| counts analyzer-surviving tokens
    * (stopwords are never indexed, so they don't count toward length —
    * Lucene norm semantics). Documents matching no query term score 0
    * and are omitted, as in ES.
    *
    * The score is rounded to 4 decimals for cross-engine determinism
    * (ulp-level libm/sum-order differences), and ties rank by doc id.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int = 20,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val analyzed = analyzedText(docs, idCol, textCol)
    // One broadcast row; at index scale this comes from segment stats.
    val stats = analyzed.agg(
      count(lit(1)).as("n_docs"), avg(col("doclen")).as("avgdl"))
    // explode_outer, not explode: plain explode makes
    // InferFiltersFromGenerate inject `size(toks)>0 AND isnotnull(toks)`
    // below the Generate, and constraint substitution expands each
    // conjunct to the FULL analyzer expression — the corpus scan would
    // evaluate the tokenizer three times per row. The outer variant adds
    // no inferred filter; its null/empty rows yield a null term the
    // isin() filter drops anyway.
    val postings = analyzed
      .select(col("doc_id"), col("doclen"),
        explode_outer(col("toks")).as("term"))
    bm25TopKFromPostings(postings, stats, queryTerms, k, k1, b)
  }

  /** The scoring core of [[bm25TopK]] over a PREPARED postings frame
    * `(doc_id, doclen, term)` plus a 1-row `(n_docs, avgdl)` stats
    * frame — for callers that already hold the postings (q100's
    * checkpointed corpus frame, a deployment's stored index) and must
    * not pay another analyzer pass. Identical semantics and plan
    * shape: the query-term filter sits under the tf shuffle, df is a
    * window over the tiny tf frame, stats broadcast. */
  def bm25TopKFromPostings(postings: DataFrame, stats: DataFrame,
      queryTerms: Seq[String], k: Int = 20,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25ScoresFromPostings(postings, stats, queryTerms, k1, b)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)

  /** [[bm25TopKFromPostings]] WITHOUT the top-k tail: every matching
    * document's rounded score — for callers that re-rank before
    * truncating (q107's function_score multiplies a field factor in
    * BEFORE the TakeOrdered; truncating first would rank the wrong
    * set). The matching-docs frame is postings-filter-sized, so
    * deferring the limit costs nothing. */
  def bm25ScoresFromPostings(postings: DataFrame, stats: DataFrame,
      queryTerms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    // Postings for the query's terms only — the filter sits under the
    // shuffle, so the exchange carries matching postings, not the corpus.
    val tf = postings
      .where(col("term").isInCollection(queryTerms))
      .groupBy(col("doc_id"), col("doclen"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    // df per term as a window count over tf (one row per (doc, term)):
    // no second corpus scan — a groupBy+join-back formulation plans a
    // THIRD scan of the corpus (measured; self-join exchange reuse does
    // not kick in below the aggregate), while the window merely
    // repartitions the tiny tf frame by term.
    val withDf = tf.withColumn(
      "df", count(lit(1)).over(Window.partitionBy(col("term"))).cast("double"))
    val normLen = col("tf") +
      lit(k1) * (lit(1.0 - b) + lit(b) * col("doclen") / col("avgdl"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    withDf
      .crossJoin(broadcast(stats))
      .withColumn("term_score", idf * col("tf") * lit(k1 + 1.0) / normLen)
      .groupBy(col("doc_id"))
      .agg(round(sum(col("term_score")), 4).as("score"))
  }

  /** BM25 fuzzy search — the `fuzziness` face of the `text_en`
    * surface (ES fuzzy match ≡ Lucene FuzzyQuery): each query term
    * expands to every VOCABULARY term within `maxEdits` Levenshtein
    * edits, matching documents score BM25 per expanded term with the
    * expanded term's own tf/df, degraded by Lucene FuzzyQuery's
    * similarity boost 1 − ed/min(|term|, |qterm|) — the SHORTER of
    * the expanded and query term is the denominator, as in
    * `FuzzyTermsEnum` (a one-edit match against a 3-char query term
    * is a much weaker signal than against a 12-char one); a term
    * reachable from several query terms keeps its BEST boost (exact
    * matches boost 1), and a document sums the contributions of every
    * expanded term it contains (the BooleanQuery-of-expansions shape
    * ES rewrites fuzzy queries to).
    *
    * Scale shape: the expansion runs against the VOCABULARY frame
    * (distinct analyzed terms — Heaps-law-sized, orders of magnitude
    * below the corpus), |queryTerms| × |vocab| cheap edit-distance
    * checks in one scan of that frame; the expanded term list is
    * query-sized and BROADCASTS into the postings filter, so the
    * corpus side pays exactly what [[bm25TopK]] pays: postings-only
    * shuffle, no corpus join. At deployment the vocabulary is the
    * index's term dictionary — precomputed, not re-derived. */
  def bm25FuzzyTopK(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int = 20, maxEdits: Int = 1,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val analyzed = analyzedText(docs, idCol, textCol)
    val stats = analyzed.agg(
      count(lit(1)).as("n_docs"), avg(col("doclen")).as("avgdl"))
    // query-term frame: tiny literal side of the vocab expansion
    val q = docs.sparkSession.createDataFrame(
      queryTerms.map(Tuple1(_))).toDF("qterm")
    val vocab = analyzed
      .select(explode_outer(col("toks")).as("term"))
      .filter(col("term").isNotNull)
      .distinct()
    // expansion: every vocab term within maxEdits of a query term; the
    // per-pair boost uses the Lucene min-length denominator, and a term
    // reachable from several query terms keeps its best boost
    val expanded = vocab.crossJoin(broadcast(q))
      .withColumn("ed", levenshtein(col("term"), col("qterm")))
      .filter(col("ed") <= maxEdits)
      .withColumn("pair_boost",
        lit(1.0) - col("ed").cast("double") /
          least(length(col("term")), length(col("qterm"))))
      .groupBy(col("term"))
      .agg(max(col("pair_boost")).as("boost"))
    val tf = analyzed
      .select(col("doc_id"), col("doclen"),
        explode_outer(col("toks")).as("term"))
      .join(broadcast(expanded), Seq("term"))
      .groupBy(col("doc_id"), col("doclen"), col("term"),
        col("boost"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val withDf = tf.withColumn("df",
      count(lit(1)).over(Window.partitionBy(col("term"))).cast("double"))
    val normLen = col("tf") +
      lit(k1) * (lit(1.0 - b) + lit(b) * col("doclen") / col("avgdl"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    withDf
      .crossJoin(broadcast(stats))
      .withColumn("term_score",
        col("boost") * idf * col("tf") * lit(k1 + 1.0) / normLen)
      .groupBy(col("doc_id"))
      .agg(round(sum(col("term_score")), 4).as("score"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Index-time writer for the BM25 DEPLOYMENT layout — the "at
    * deployment these are precomputed at index-build time" the
    * scaladocs above promise, as tested code (the vector twin is
    * SimilarityQueries.writeIvfPqIndex):
    *
    *   <indexDir>/stats/     (n_docs, avgdl) — 1 row of segment stats
    *   <indexDir>/df/        (term, df) — the term dictionary
    *   <indexDir>/postings/  bucket=<n>/ (term, doc_id, doclen, tf,
    *                         positions) — PARTITIONED BY a term-hash
    *                         bucket, so a query reads only its terms'
    *                         buckets' FILES (TextIndexLayoutSpec pins
    *                         the pruning). `positions` is the sorted
    *                         analyzed-stream position list — the
    *                         Lucene positions-in-postings layout that
    *                         makes [[phraseSearchStored]] possible
    *                         with NO corpus position pass; term-only
    *                         queries never read the column (parquet
    *                         column pruning), so they pay nothing for
    *                         it. Roughly doubles postings bytes — the
    *                         standard Lucene trade (positions are on
    *                         by default there too).
    *
    * ONE analyzer pass builds every artifact (df/term-vectors/stats
    * derive from column-pruned read-backs of the written postings —
    * see the body); refresh is append-per-batch into the same bucket
    * partitions with additive dictionary/statistics merges
    * ([[appendToTextIndex]]).
    *
    * Within each bucket's files rows are SORTED by term (and term
    * vectors by doc_id) — so beyond the directory-level bucket
    * pruning, a `term IN (...)` scan prunes ROW GROUPS via parquet
    * min/max stats inside the bucket. At toy scale a bucket is one
    * row group and this is free; at 100 TB a bucket holds
    * |dictionary|/buckets terms' postings and the sort is the
    * difference between reading the matched terms' row groups and
    * reading the whole bucket (the Lucene term-dictionary locality
    * argument, expressed in parquet). Appends and compaction keep
    * the order per file. */
  def writeTextIndex(docs: DataFrame, idCol: String, textCol: String,
      indexDir: String, buckets: Int = 16,
      storePositions: Boolean = true,
      storeTermVectors: Boolean = false): Unit =
    graft.io.Layout.withMutationLease(docs.sparkSession, indexDir) {
      writeTextIndexImpl(docs, analyzedText(docs, idCol, textCol),
        IndexStats(Nil, Seq((Nil, 0L, 0L)), storePositions,
          storeTermVectors, buckets), indexDir)
    }

  /** The writer of BOTH layouts. `analyzed` is the `(keys…, doc_id,
    * toks, doclen)` frame; `layout` is the stats artifact to record
    * with zero counts — its key columns (Nil = single-field,
    * Seq("field") = multi-field), the key values it keeps a row for,
    * and the layout options. */
  private def writeTextIndexImpl(docs: DataFrame, analyzed: DataFrame,
      layout: IndexStats, indexDir: String): Unit = {
    val spark = docs.sparkSession
    // mode("overwrite") semantics for the WHOLE layout: a previous
    // index at this path may hold committed generations, segments,
    // folded dirs, or a tombstone set that would SHADOW or mask the
    // fresh root artifacts
    Layout.clearLayout(spark, indexDir, kinds)
    // storePositions=false is Lucene's IndexOptions DOCS_AND_FREQS:
    // roughly halves postings bytes for term-only deployments;
    // phraseSearchStored then (correctly) fails on the missing column.
    // Clustered by bucket before the partitioned write: one file per
    // bucket instead of tasks x buckets part-files (the compacted
    // layout from day one; a 32-task write into 16 bucket dirs
    // otherwise lands up to 512 files, and every bucket-pruned scan
    // pays the file count)
    bucketedPostings(
      termFreqs(analyzed, layout.keys, layout.hasPositions), layout.buckets)
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$indexDir/postings")
    // ONE analyzer pass, genuinely: the postings write above is the
    // only plan that runs the tokenizer (the expensive stage at
    // corpus scale); df, term vectors and statistics derive from
    // COLUMN-PRUNED read-backs of what was just written — parquet
    // I/O, not analysis. (Reusing the lazy tf frame re-runs the
    // analyzer once per artifact: measured 2.5× the write cost.)
    val post = spark.read.parquet(s"$indexDir/postings")
    // the df rollup, the term-vector forward index, and the two
    // statistics aggregates are INDEPENDENT reads of the postings
    // just written (and of the raw input) — fan them out on driver
    // threads (guide §2.6) instead of four sequential round-trips
    val statParts = graft.ops.Jobs.par(Seq[() => Any](
      () => post.groupBy((layout.keys :+ "term").map(col): _*)
        .agg(count(lit(1)).as("df"))
        .write.mode("overwrite").parquet(s"$indexDir/df"),
      // term vectors = Lucene's optional FORWARD index (doc → terms),
      // DOC-bucketed so a single document's vector is a file-pruned
      // point read — what more_like_this, highlighting-by-stored-
      // vector and the exact delete decrement need (off by default,
      // as in Lucene)
      () => if (layout.hasTermVectors)
        bucketedTermVectors(post, layout.keys, layout.buckets)
          .write.mode("overwrite").partitionBy("dbucket")
          .parquet(s"$indexDir/termvectors"),
      () => docs.count(),
      () => sumsByKey(post, layout.keys, "tf")))
    // Statistics without re-touching documents: n_docs is a plain
    // count of the input (zero-token docs — and zero-token fields —
    // included: they have no posting rows), and sum_doclen = Σ tf
    // per key, since a doc's analyzer doclen IS the sum of its term
    // frequencies. sum_doclen (a long) makes minus-one-document
    // statistics EXACT: avg over long input is sum.toDouble/count in
    // Spark, so (sum_doclen − seedLen)/(n_docs − 1) reproduces a
    // re-aggregation bit-for-bit (the moreLikeThisStored contract).
    // The layout options and the term-bucket count are recorded IN
    // the artifact: append/delete/search read them there instead of
    // probing the filesystem (a java.io.File probe resolves only
    // locally) or trusting a caller parameter (a mismatched bucket
    // count would land postings in, and prune scans to, the WRONG
    // bucket partitions with no error anywhere)
    val nDocs = statParts(2).asInstanceOf[Long]
    require(nDocs > 0, "empty corpus: an index needs at least one document")
    writeStats(spark, layout.shifted(nDocs,
      statParts(3).asInstanceOf[Map[Seq[String], Long]]),
      s"$indexDir/stats")
  }

  /** Batch refresh of the stored text index, DELTA-SIZED end to end
    * (the q106 "0.1% delta pays 0.1%" contract, which the vector
    * layout's appendToIvfPqIndex keeps and this path must too): the
    * fresh documents analyze ONCE, their postings append into their
    * term buckets, and — because the append contract makes every
    * fresh doc_id NEW — the corpus-wide statistics update
    * ADDITIVELY instead of re-aggregating the whole postings table:
    *
    *   df′         = old dictionary ⟗ delta df, counts summed
    *                 (dictionary + delta I/O, staged into the
    *                 append's generation — the replacement reads the
    *                 artifact it replaces)
    *   n_docs′     = n_docs + count(delta) (a plain row count, so
    *                 zero-token documents count exactly as the
    *                 writer counted them — a re-derivation from
    *                 postings would silently drop them)
    *   sum_doclen′ = sum_doclen + Σ delta tf (a doc's doclen IS the
    *                 sum of its term frequencies); avgdl′ = sum′/n′
    *                 — exact-integer arithmetic, bit-identical to a
    *                 rebuild (integer double sums are exact < 2^53)
    *
    * The pre-existing POSTINGS files are never opened
    * (TextIndexLayoutSpec proves it by clobbering them before an
    * append). The asymmetry with appendToIvfPqIndex survives in a
    * weaker form: PQ codes are per-row facts (append-only files, no
    * merge), BM25 statistics are corpus aggregates — but ADDITIVE
    * ones under append-only ids, so the merge is delta+dictionary
    * work, never index work. Layout options (positions, term
    * vectors) come from the stats artifact's recorded flags, not a
    * filesystem probe — see [[writeTextIndex]].
    *
    * Crash safety / exactly-once (the Lucene segment model): the
    * delta's postings + term vectors land in an IMMUTABLE
    * `seg-<id>/` directory that no manifest references yet, the
    * merged dictionary + incremented statistics + carried tombstones
    * + the manifest (old dirs ∪ the new segment) stage into
    * generation `gen-(N+1)`, and ONE marker file commits everything
    * together. A crash anywhere mid-append leaves generation N fully
    * consistent and the segment invisible; a REPLAY with the same
    * `segmentId` (the streaming layer passes its micro-batch id) is
    * a no-op when the live manifest already references the segment
    * and a clean re-stage otherwise — there is NO residual window
    * where the data landed but the replay can't tell
    * (StreamsSpec/TextIndexLayoutSpec pin both sides). A batch
    * caller omitting `segmentId` gets a generation-numbered segment:
    * same crash atomicity; replay identity is then the caller's
    * contract. */
  def appendToTextIndex(spark: org.apache.spark.sql.SparkSession,
      fresh: DataFrame, idCol: String, textCol: String,
      indexDir: String, buckets: Int = 16,
      segmentId: Option[String] = None): Unit =
    graft.io.Layout.withMutationLease(spark, indexDir) {
      appendToTextIndexImpl(spark, fresh,
        analyzedText(fresh, idCol, textCol), Nil, indexDir, buckets,
        segmentId)
    }

  /** The append of BOTH layouts: `analyzed` is the delta's `(keys…,
    * doc_id, toks, doclen)` frame, and `keys` must be the key
    * columns the index's stats artifact records. */
  private def appendToTextIndexImpl(
      spark: org.apache.spark.sql.SparkSession,
      fresh: DataFrame, analyzed: DataFrame, keys: Seq[String],
      indexDir: String, buckets: Int,
      segmentId: Option[String]): Unit = {
    val art = liveArtifactDir(spark, indexDir)
    val seg = Layout.readSegments(spark, art)
    if (segmentId.exists(id => seg.applied.contains(s"seg-$id")))
      return // the batch's commit record exists: full replay no-op
    val st = readStats(spark, indexDir, art, buckets)
    require(st.keys == keys,
      s"$indexDir is keyed by (${st.keys.mkString(",")}), the append " +
        s"by (${keys.mkString(",")}): append through the writer's face")
    // stage into WRITER-UNIQUE names (gen dir + the segment's data
    // dir) — renamed to their final names inside the commit, after
    // the lease fence re-read, so a fenced-out zombie's staging I/O
    // can never land in a directory that gets committed
    val next = Layout.openGeneration(spark, indexDir,
      gen => Seq(segmentId.fold(s"seg-gen$gen")(id => s"seg-$id")))
    val stage = next.dir
    val (segStaged, segName) = next.sides.head
    // ONE analyzer materialization over the delta (the checkpointed
    // tf frame) serves postings, term vectors, the df merge and the
    // stats increment — the delta's doc count needs no analysis and
    // its token total is Σ tf
    val freshTf = termFreqs(analyzed, keys, st.hasPositions)
      .localCheckpoint()
    // a non-empty batch can still analyze to ZERO tokens (all-stopword
    // docs — a case the layout supports): an empty partitionBy write
    // leaves a _SUCCESS-only directory that poisons every later
    // manifest union ("unable to infer schema"), so an empty delta
    // writes NO segment dirs and references none — the applied
    // segment id and the stats increment still commit, keeping
    // replay identity and n_docs exact
    val deltaEmpty = freshTf.isEmpty
    // the segment writes, the dictionary merge, the two stats
    // aggregates, the tombstone carry and the manifest write are
    // independent consumers of the checkpointed delta / the old
    // generation's artifacts — ONE fan-out (guide §2.6); only the
    // stats increment (which needs the counts) runs after
    def dirsWith(kind: String) =
      seg.dirs(kind) ++ (if (deltaEmpty) Nil else Seq(s"$segName/$kind"))
    val termKey = keys :+ "term"
    val parts = graft.ops.Jobs.par(Seq[() => Any](
      () => if (!deltaEmpty)
        bucketedPostings(freshTf, st.buckets)
          .write.partitionBy("bucket")
          .parquet(s"$indexDir/$segStaged/postings"),
      () => if (!deltaEmpty && st.hasTermVectors)
        bucketedTermVectors(freshTf, keys, st.buckets)
          .write.partitionBy("dbucket")
          .parquet(s"$indexDir/$segStaged/termvectors"),
      // dictionary merge: old df ⟗ delta df — the ONLY non-delta input
      // is the dictionary artifact itself (Heaps-law-sized, never the
      // postings); staged into the NEW generation, never in place
      () => spark.read.parquet(s"$art/df")
        .join(freshTf.groupBy(termKey.map(col): _*)
          .agg(count(lit(1)).as("df_delta")), termKey, "full_outer")
        .select(termKey.map(col) :+
          (coalesce(col("df"), lit(0L)) +
            coalesce(col("df_delta"), lit(0L))).as("df"): _*)
        .write.parquet(s"$stage/df"),
      () => fresh.count(),
      () => sumsByKey(freshTf, keys, "tf"),
      () => Layout.carryUnchanged(spark, art, stage, tombstones = true),
      () => Layout.writeSegments(spark, stage,
        (if (st.hasTermVectors) kinds else Seq("postings"))
          .flatMap(k => dirsWith(k).map(k -> _)),
        seg.applied :+ segName)))
    // stats increment: every delta doc counts in every key (zero-token
    // fields included, like the writer); per-key Σ tf is the token
    // total; avgdl = sum/n in exact-integer arithmetic — bit-identical
    // to a rebuild (integer double sums are exact < 2^53)
    writeStats(spark, st.shifted(parts(3).asInstanceOf[Long],
      parts(4).asInstanceOf[Map[Seq[String], Long]]), s"$stage/stats")
    Layout.commitGenerationAndRetire(spark, indexDir, stage, next.gen, art,
      sideRenames = if (deltaEmpty) Nil else next.sides)
    Checkpoints.unpersist(freshTf)
  }

  /** more_like_this over the STORED index — the last query face the
    * layout was missing, and the one that needs the FORWARD artifact:
    * the seed's term vector is a doc-bucket-pruned point read (no
    * corpus scan to learn what the seed contains), its terms weight
    * tf × idf from the dictionary (q100's selection rule, weight
    * desc / term asc, top `nTerms`), and the search runs over the
    * corpus MINUS the seed with EXACT minus-one statistics — df′ =
    * dictionary df − [seed contains term], n′ = n_docs − 1, avgdl′ =
    * (sum_doclen − seed doclen)/(n_docs − 1) — integer-derived, so
    * frame equality with the self-contained q100 operator holds
    * bit-for-bit (TextIndexLayoutSpec's pin).
    *
    * Scale shape: seed vector = one file-pruned read (seed-sized);
    * selection math on ≤ |seed vocabulary| rows; the search is the
    * bucket-pruned postings read of [[bm25SearchStored]] minus one
    * doc id. Zero corpus scans end to end. */
  def moreLikeThisStored(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, seedId: Long, nTerms: Int = 3, k: Int = 20,
      buckets: Int = 16, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import spark.implicits._
    val art = liveArtifactDir(spark, indexDir)
    val st = graft.io.TinyParquet.readFrame(spark, s"$art/stats").head()
    val bk = statsBuckets(st, buckets)
    val nDocs = st.getAs[Long]("n_docs")
    val sumLen = st.getAs[Long]("sum_doclen")
    val dBucket = Seq(seedId).toDF("doc_id")
      .select(pmod(hash(col("doc_id")), lit(bk)))
      .head().getInt(0)
    val seedVec = termVectorsFrame(spark, indexDir)
      .filter(col("dbucket") === dBucket && col("doc_id") === seedId)
      .select(col("term"), col("tf"))
      .localCheckpoint()
    val dict = spark.read.parquet(s"$art/df")
    val topTerms = seedVec.join(dict, Seq("term"))
      .withColumn("w", col("tf") * log(lit(1.0) +
        (lit(nDocs) - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .orderBy(col("w").desc, col("term").asc).limit(nTerms)
      .collect().map(_.getAs[String]("term")).toSeq
    // ONE collect serves the seed's term set AND its length (the seed
    // vector is one document's terms - driver-bounded by doc length);
    // the agg job it replaces scanned the same checkpointed frame
    val seedRows = seedVec.collect()
    val seedLen = seedRows.map(_.getAs[Long]("tf")).sum
    val seedTerms = seedRows.map(_.getAs[String]("term")).toSet
    // Project over a literal frame constant-folds on the driver
    // (ConvertToLocalRelation); dedupe after the jobless collect -
    // .distinct() would plan an Aggregate and cost a Spark job
    val qBuckets = topTerms.toDF("term")
      .select(pmod(hash(col("term")), lit(bk)).as("bucket"))
      .collect().map(_.getInt(0)).distinct.toSeq
    val inSeed =
      if (seedTerms.isEmpty) lit(false)
      else col("term").isInCollection(seedTerms.toSeq)
    val dfAdj = dict.filter(col("term").isInCollection(topTerms))
      .select(col("term"),
        (col("df") - when(inSeed, 1L).otherwise(0L))
          .cast("double").as("df"))
    val nRest = (nDocs - 1).toDouble
    val avgdlRest = (sumLen - seedLen).toDouble / (nDocs - 1)
    val normLen = col("tf") +
      lit(k1) * (lit(1.0 - b) + lit(b) * col("doclen") / lit(avgdlRest))
    val idf = log(lit(1.0) +
      (lit(nRest) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    livePostings(spark, indexDir, art)
      .filter(col("bucket").isInCollection(qBuckets))
      .filter(col("term").isInCollection(topTerms))
      .filter(col("doc_id") =!= seedId)
      .select(col("doc_id"), col("doclen"), col("term"),
        col("tf").cast("double").as("tf"))
      .join(broadcast(dfAdj), Seq("term"))
      .withColumn("term_score", idf * col("tf") * lit(k1 + 1.0) / normLen)
      .groupBy(col("doc_id"))
      .agg(round(sum(col("term_score")), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Phrase search over a STORED index — the Lucene PhraseQuery
    * architecture: positions live IN the postings, so a phrase query
    * reads only its terms' posting rows (bucket-file-pruned like
    * [[bm25SearchStored]]) and intersects position lists — the
    * corpus-statistics match_phrase score q98/q118's self-contained
    * forms cannot afford (they would pay a corpus position pass; the
    * index paid it ONCE at build time). Phrase tf per doc is
    * |∩ⱼ (positions(termⱼ) − j)| — slot-shifted list intersection,
    * exactly [[phraseCount]]'s occurrence set; df = matching docs;
    * the score is q98's phrase-as-term BM25.
    *
    * Scale shape: the postings scan prunes to the phrase terms'
    * buckets' files; the m-way join keys on doc_id over those terms'
    * posting rows only (a phrase term's df bounds every intermediate);
    * position intersection is per-row array work; df/stats are 1-row
    * broadcasts. Nothing anywhere touches the corpus. */
  def phraseSearchStored(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, phrase: Seq[String], k: Int = 20,
      buckets: Int = 16, k1: Double = 1.2, b: Double = 0.75,
      slop: Int = 0, inOrder: Boolean = false): DataFrame = {
    val stats = graft.io.TinyParquet
      .readFrame(spark, s"${liveArtifactDir(spark, indexDir)}/stats")
      .select(col("n_docs"), col("avgdl"))
    val hits = storedPhraseHits(spark, indexDir, phrase, buckets,
      slop, inOrder)
    val dfc = hits.agg(count(lit(1)).cast("double").as("df"))
    val normLen = col("tf") +
      lit(k1) * (lit(1.0 - b) + lit(b) * col("doclen") / col("avgdl"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    hits.crossJoin(broadcast(stats)).crossJoin(broadcast(dfc))
      .withColumn("score",
        round(idf * col("tf") * lit(k1 + 1.0) / normLen, 4))
      .select(col("doc_id"), col("hits").cast("long").as("phrase_hits"),
        col("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** The matching-docs core of [[phraseSearchStored]]: per matching
    * doc its (doclen, tf, hits) under the chosen slop semantics —
    * shared with [[simpleQueryStringStored]]'s phrase clauses. */
  private def storedPhraseHits(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, phrase: Seq[String], buckets: Int,
      slop: Int, inOrder: Boolean): DataFrame = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    require(slop == 0 || phrase.length >= 2,
      "sloppy matching needs at least two phrase terms")
    import spark.implicits._
    // bucket ids via the writer's own hash expression (the probe-list
    // convention: a bounded literal driver frame, then a literal
    // partition filter) over the RECORDED bucket count
    val art = liveArtifactDir(spark, indexDir)
    val bk = statsBuckets(
      graft.io.TinyParquet.readFrame(spark, s"$art/stats").head(), buckets)
    val qterms = phrase.distinct
    val qBuckets = qterms.toDF("term")
      .select(pmod(hash(col("term")), lit(bk)).as("bucket"))
      .collect().map(_.getInt(0)).distinct.toSeq
    val post = livePostings(spark, indexDir, art)
      .filter(col("bucket").isInCollection(qBuckets))
      .filter(col("term").isInCollection(qterms))
    val slots = phrase.zipWithIndex.map { case (w, j) =>
      val f = post.filter(col("term") === w)
        .select(col("doc_id"), col("doclen"),
          transform(col("positions"), p => p - j).as(s"p$j"))
      if (j == 0) f else f.drop("doclen")
    }
    val joined = slots.reduce((a, c) => a.join(c, Seq("doc_id")))
    val shifted = phrase.indices.map(j => col(s"p$j"))
    // slop 0: exact consecutive starts = slot-shifted intersection
    // (tf = starts, handles repeated terms exactly).
    // slop > 0, inOrder: ES span_near(in_order=true) — tf counts
    // starts whose greedy minimal chain (each slot the smallest
    // shifted position ≥ its predecessor — Lucene NearSpansOrdered's
    // lazy minimal-end iteration) finishes within `slop`.
    // slop > 0, default: Lucene SloppyPhraseMatcher semantics —
    // reordering allowed, tf is the SLOPPY FREQ Σ 1/(matchLength+1)
    // (fractional, exactly what Lucene feeds the similarity) and
    // phrase_hits the emitted match count; repeated terms take the
    // kernel's distinct-position rule (HashKernels.sloppyPhraseStats).
    val withTf =
      if (slop == 0) {
        val inter = (1 until phrase.length).foldLeft(col("p0"))(
          (acc, j) => array_intersect(acc, col(s"p$j")))
        joined.withColumn("tf", size(inter).cast("double"))
          .withColumn("hits", col("tf"))
      } else if (inOrder) {
        val chain = (p: Column) => shifted.tail.foldLeft(p)(
          (c, lst) => array_min(filter(lst, x => x >= c)))
        joined.withColumn("tf",
            size(filter(shifted.head, p => chain(p) <= p + lit(slop)))
              .cast("double"))
          .withColumn("hits", col("tf"))
      } else {
        val sf = graft.expressions.TextHashes.sloppyPhraseStats(
          array(shifted: _*), slop)
        joined.withColumn("sf", sf)
          .withColumn("tf", element_at(col("sf"), 1))
          .withColumn("hits", element_at(col("sf"), 2))
      }
    withTf
      .filter(col("tf") > 0)
      .select(col("doc_id"), col("doclen"), col("tf"), col("hits"))
  }

  /** simple_query_string over the STORED index — the search box's
    * deployment face ([[graft.queries.TextQueries.simpleQueryString]]
    * with ZERO corpus scans, making tools/RunSearch servable from
    * the persisted artifacts): the parsed query's term clauses score
    * from bucket-pruned postings with dictionary df and artifact
    * stats; must coverage and must_not exclusion derive from the
    * SAME postings read; each phrase clause runs
    * [[storedPhraseHits]]' position intersection and scores
    * phrase-as-term with its matching-docs df. Clause combination,
    * gating and rounding mirror the self-contained operator exactly
    * (TextIndexLayoutSpec pins frame equality).
    *
    * Scale shape: one bucket-pruned postings read for all term
    * clauses (scoring + must + must_not share it); each phrase reads
    * its own terms' buckets; every frame in flight is
    * matching-postings-sized; df/stats broadcast. */
  def simpleQueryStringStored(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, q: String, k: Int = 20, buckets: Int = 16,
      k1: Double = 1.2, b: Double = 0.75,
      after: Option[(Double, Long)] = None): DataFrame = {
    val p = QueryString.parse(q)
    require(p.scoringTerms.nonEmpty || p.phrases.nonEmpty,
      "query must have at least one scoring clause")
    val art = liveArtifactDir(spark, indexDir)
    val bk = statsBuckets(
      graft.io.TinyParquet.readFrame(spark, s"$art/stats").head(), buckets)
    val stats = graft.io.TinyParquet.readFrame(spark, s"$art/stats")
      .select(col("n_docs"), col("avgdl"))
    val normLen = col("tf") +
      lit(k1) * (lit(1.0 - b) + lit(b) * col("doclen") / col("avgdl"))
    def idfOf(dfCol: Column) = log(lit(1.0) +
      (col("n_docs") - dfCol + lit(0.5)) / (dfCol + lit(0.5)))
    val allTerms = (p.scoringTerms ++ p.mustNot).distinct
    val rowsOpt: Option[DataFrame] =
      if (allTerms.isEmpty) None
      else {
        val qFrame = spark.createDataFrame(allTerms.map(Tuple1(_)))
          .toDF("term")
        val qBuckets = qFrame
          .select(pmod(hash(col("term")), lit(bk)).as("bucket"))
          .collect().map(_.getInt(0)).distinct.toSeq
        Some(livePostings(spark, indexDir, art)
          .filter(col("bucket").isInCollection(qBuckets))
          .filter(col("term").isInCollection(allTerms))
          .select(col("doc_id"), col("doclen"), col("term"),
            col("tf").cast("double").as("tf"))
          .localCheckpoint())
      }
    val termScore: Option[DataFrame] =
      rowsOpt.filter(_ => p.scoringTerms.nonEmpty).map { rows =>
        val dfDict = spark.read.parquet(s"$art/df")
          .filter(col("term").isInCollection(p.scoringTerms))
          .select(col("term"), col("df").cast("double").as("df"))
        rows.filter(col("term").isInCollection(p.scoringTerms))
          .join(broadcast(dfDict), Seq("term"))
          .crossJoin(broadcast(stats))
          .withColumn("ts",
            idfOf(col("df")) * col("tf") * lit(k1 + 1.0) / normLen)
          .groupBy(col("doc_id")).agg(sum(col("ts")).as("tscore"))
      }
    val mustOk: Option[DataFrame] =
      rowsOpt.filter(_ => p.must.nonEmpty).map(rows =>
        rows.filter(col("term").isInCollection(p.must))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("nm"))
          .filter(col("nm") === p.must.size).select(col("doc_id")))
    val excl: Option[DataFrame] =
      rowsOpt.filter(_ => p.mustNot.nonEmpty).map(rows =>
        rows.filter(col("term").isInCollection(p.mustNot))
          .select(col("doc_id")).distinct())
    val phraseScores = p.phrases.zipWithIndex.map { case (ph, i) =>
      val hits = storedPhraseHits(spark, indexDir, ph, buckets,
        slop = 0, inOrder = false)
      val dfc = hits.agg(count(lit(1)).cast("double").as("df"))
      hits.crossJoin(broadcast(stats)).crossJoin(broadcast(dfc))
        .withColumn(s"pscore$i",
          idfOf(col("df")) * col("tf") * lit(k1 + 1.0) / normLen)
        .select(col("doc_id"), col(s"pscore$i"))
    }
    val parts = termScore.toSeq ++ phraseScores
    val combined = parts.reduce((a, c) => a.join(c, Seq("doc_id"), "full"))
    val total = combined.select(col("doc_id"),
      round(parts.map { df =>
        coalesce(col(df.columns.filter(_ != "doc_id").head), lit(0d))
      }.reduce(_ + _), 4).as("score"))
    val gated = mustOk.fold(total)(m =>
      total.join(m, Seq("doc_id"), "left_semi"))
    excl.fold(gated)(x => gated.join(x, Seq("doc_id"), "left_anti"))
      // search_after: the bm25SearchStored keyset cursor, so the
      // search box (tools/RunSearch) pages without re-ranking
      .transform(s => after.fold(s) { case (sc, d) =>
        s.filter(col("score") < sc ||
          (col("score") === sc && col("doc_id") > d))
      })
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Percolation over a STORED index — q143's reversed search served
    * from the persisted artifacts (the alerting deployment evaluates
    * its saved searches against an index it already maintains, not a
    * raw corpus): stored-query terms normalize through the analyzer
    * twin at registration (ES percolation analyzes the saved query
    * with the field analyzer; all-stopword queries are rejected —
    * an empty AND-set would match everything), the postings read
    * bucket-prunes to the union of query terms, and AND coverage is
    * the count-vs-need gate over the postings' (doc, term) rows —
    * which are distinct per (term, doc) BY CONSTRUCTION of the
    * layout, so the self-contained operator's distinct() pass
    * disappears. The corpus is never analyzed or scanned at
    * percolation time; deletes are honored through the live view.
    * Output (qid, n_matched_docs, first_matches), the q143 shape;
    * TextIndexLayoutSpec pins frame equality against the gated
    * operator's queries. */
  def percolateStored(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, queries: Seq[(Long, Seq[String])],
      buckets: Int = 16): DataFrame = {
    require(queries.nonEmpty, "at least one stored query required")
    import spark.implicits._
    val analyzedQs = queries.map { case (qid, ts) =>
      (qid, ts.flatMap(QueryString.analyzeText).distinct)
    }
    val empty = analyzedQs.collect { case (qid, ts) if ts.isEmpty => qid }
    require(empty.isEmpty,
      s"stored queries with no analyzer-surviving terms: " +
        s"${empty.mkString(",")}")
    val qrows = analyzedQs.flatMap { case (qid, ts) =>
      ts.map(t => (qid, t, ts.length.toLong))
    }
    val qframe = qrows.toDF("qid", "term", "need")
    val allTerms = qrows.map(_._2).distinct
    val art = liveArtifactDir(spark, indexDir)
    val bk = statsBuckets(
      graft.io.TinyParquet.readFrame(spark, s"$art/stats").head(), buckets)
    val qBuckets = allTerms.toDF("term")
      .select(pmod(hash(col("term")), lit(bk)).as("bucket"))
      .collect().map(_.getInt(0)).distinct.toSeq
    livePostings(spark, indexDir, art)
      .filter(col("bucket").isInCollection(qBuckets))
      .filter(col("term").isInCollection(allTerms))
      .select(col("doc_id"), col("term"))
      .join(broadcast(qframe), Seq("term"))
      .groupBy(col("qid"), col("need"), col("doc_id"))
      .agg(count(lit(1)).as("hit"))
      .filter(col("hit") === col("need"))
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_matched_docs"),
        concat_ws(",", slice(sort_array(collect_list(col("doc_id"))),
          1, 3)).as("first_matches"))
      .orderBy(col("qid"))
  }

  /** A recorded layout flag from the stats artifact, with the
    * pre-flag-layout default for indexes written before the flags
    * existed. */
  private def statsFlag(st: org.apache.spark.sql.Row, name: String,
      default: Boolean): Boolean =
    if (st.schema.fieldNames.contains(name)) st.getAs[Boolean](name)
    else default

  /** The RECORDED term-bucket count from the stats artifact — the
    * writer's layout choice, which append/delete/search must follow
    * or land postings in (and prune to) the wrong bucket partitions
    * silently. The caller's `buckets` parameter is only the fallback
    * for indexes written before the column existed. */
  private def statsBuckets(st: org.apache.spark.sql.Row,
      fallback: Int): Int =
    if (st.schema.fieldNames.contains("buckets")) st.getAs[Int]("buckets")
    else fallback

  /** Compaction-time bucket RESIZE: the fold reassigns the hash
    * partition of the rows it is already rewriting; None keeps every
    * row's recorded bucket untouched. */
  private def rebucketed(df: DataFrame, keyCol: String,
      bucketCol: String, rebucket: Option[Int]): DataFrame =
    rebucket match {
      case Some(nb) =>
        df.withColumn(bucketCol, pmod(hash(col(keyCol)), lit(nb)))
      case None => df
    }

  /** The `stats` artifact in memory. [[readStats]] and [[writeStats]]
    * are its only reader and writer, so they own the on-disk format:
    * one row per value of the layout's KEY columns.
    *
    *  - `keys` = Nil, the single-field layout: one row `(n_docs,
    *    avgdl, sum_doclen, has_positions, has_termvectors, buckets)`.
    *  - `keys` = Seq("field"), the multi-field layout: a row
    *    `(field, n_docs, avgdl, sum_doclen, has_termvectors,
    *    buckets)` per field. That layout stores no positions, so it
    *    records no `has_positions`.
    *
    * `counts` holds (key value, n_docs, sum_doclen); avgdl is always
    * sum_doclen / n_docs, and 0 for a key with no documents left (a
    * full purge records no NaN). */
  private final case class IndexStats(keys: Seq[String],
      counts: Seq[(Seq[String], Long, Long)], hasPositions: Boolean,
      hasTermVectors: Boolean, buckets: Int) {
    /** Every key's n_docs shifted by `dN`, its sum_doclen by its
      * entry in `dSums` (absent = 0). */
    def shifted(dN: Long, dSums: Map[Seq[String], Long]): IndexStats =
      copy(counts = counts.map { case (k, n, s) =>
        (k, n + dN, s + dSums.getOrElse(k, 0L)) })
  }

  /** The live stats artifact, read driver-side (no Spark job). The
    * key columns come from the artifact itself — a `field` column
    * marks the multi-field layout — and legacy artifacts from before
    * a flag or the bucket column get the pre-flag defaults
    * ([[statsFlag]], [[hasTermVectors]], [[statsBuckets]]). */
  private def readStats(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, art: String, fallbackBuckets: Int): IndexStats = {
    val rows = graft.io.TinyParquet.readFrame(spark, s"$art/stats")
      .collect()
    val st = rows.head
    val keys = Seq("field").filter(st.schema.fieldNames.contains)
    IndexStats(keys,
      rows.map(r => (keys.map(k => r.getAs[String](k)),
        r.getAs[Long]("n_docs"), r.getAs[Long]("sum_doclen"))).toSeq,
      hasPositions = keys.isEmpty &&
        statsFlag(st, "has_positions", default = true),
      hasTermVectors = hasTermVectors(spark, indexDir, art, st),
      buckets = statsBuckets(st, fallbackBuckets))
  }

  /** Write `s` as a stats artifact at `dir` (driver-side, no Spark
    * job) — the one place the artifact's columns are assembled. */
  private def writeStats(spark: org.apache.spark.sql.SparkSession,
      s: IndexStats, dir: String): Unit = {
    import org.apache.spark.sql.types._
    val schema = StructType(s.keys.map(StructField(_, StringType)) ++
      Seq(StructField("n_docs", LongType), StructField("avgdl", DoubleType),
        StructField("sum_doclen", LongType),
        StructField("has_positions", BooleanType),
        StructField("has_termvectors", BooleanType),
        StructField("buckets", IntegerType)))
    val rows = s.counts.map { case (k, n, sum) =>
      org.apache.spark.sql.Row.fromSeq(k ++ Seq(n,
        if (n == 0L) 0.0 else sum.toDouble / n, sum, s.hasPositions,
        s.hasTermVectors, s.buckets))
    }
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    graft.io.TinyParquet.write(
      if (s.keys.isEmpty) df else df.drop("has_positions"), dir)
  }

  /** The single-field analysed frame: `(doc_id, toks, doclen)`. */
  private def analyzedText(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), analyze(col(textCol)).as("toks"))
      .withColumn("doclen", size(col("toks")))

  /** The multi-field STACKED analysed frame: one `(doc_id, field,
    * toks, doclen)` row per document per field, so every document
    * counts in every field — a field that analyzes to zero tokens
    * included. */
  private def analyzedFields(docs: DataFrame, idCol: String,
      fields: Seq[String]): DataFrame = {
    require(fields.nonEmpty, "fields must be non-empty")
    docs.select(col(idCol).as("doc_id"),
      explode(array(fields.map { f =>
        struct(lit(f).as("field"), analyze(col(f)).as("toks"))
      }: _*)).as("f"))
      .select(col("doc_id"), col("f.field").as("field"),
        col("f.toks").as("toks"))
      .withColumn("doclen", size(col("toks")))
  }

  /** Postings rows `(keys…, term, doc_id, doclen, tf[, positions])` of
    * an analysed frame; `positions` is the sorted analysed-stream
    * position list, dropped for a positions-free layout. */
  private def termFreqs(analyzed: DataFrame, keys: Seq[String],
      positions: Boolean): DataFrame = {
    val tf = analyzed
      .select(keys.map(col) ++ Seq(col("doc_id"), col("doclen"),
        posexplode_outer(col("toks")).as(Seq("pos", "term"))): _*)
      .filter(col("term").isNotNull)
      .groupBy((keys ++ Seq("term", "doc_id", "doclen")).map(col): _*)
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))
    if (positions) tf else tf.drop("positions")
  }

  /** Postings clustered for the `bucket`-partitioned write: one file
    * per term bucket, rows term-sorted inside it. */
  private def bucketedPostings(tf: DataFrame, bk: Int): DataFrame =
    clustered(tf.withColumn("bucket", pmod(hash(col("term")), lit(bk))),
      "bucket", "term")

  /** Term-vector rows `(keys…, doc_id, term, tf)` clustered for the
    * `dbucket`-partitioned write: doc-bucketed, doc-sorted. */
  private def bucketedTermVectors(tf: DataFrame, keys: Seq[String],
      bk: Int): DataFrame =
    clustered(tf.select((keys ++ Seq("doc_id", "term", "tf")).map(col): _*)
      .withColumn("dbucket", pmod(hash(col("doc_id")), lit(bk))),
      "dbucket", "doc_id")

  /** One partition per bucket value, rows sorted by `sortCol` inside
    * it — the file and row-group order every postings and
    * term-vector write keeps. */
  private def clustered(df: DataFrame, bucketCol: String,
      sortCol: String): DataFrame =
    df.repartition(col(bucketCol))
      .sortWithinPartitions(col(bucketCol), col(sortCol))

  /** Σ `c` per key value (`keys` = Nil: one global sum) — one bounded
    * collect of |key values| rows. */
  private def sumsByKey(df: DataFrame, keys: Seq[String],
      c: String): Map[Seq[String], Long] =
    df.groupBy(keys.map(col): _*).agg(coalesce(sum(col(c)), lit(0L)))
      .collect().map(r => keyOf(r, keys.length) -> r.getLong(keys.length))
      .toMap

  /** The key value in the leading `n` string columns of `r`. */
  private def keyOf(r: org.apache.spark.sql.Row, n: Int): Seq[String] =
    (0 until n).map(r.getString)

  /** The artifact kinds of the text family's segment manifest
    * ([[graft.io.Layout.Segments]]): an append adds a `seg-<id>/` pair
    * of them, a fold replaces all with fresh `<kind>-v<gen>/` dirs. A
    * dir the live manifest does not name is invisible to every face —
    * which is what makes an append crash-safe: its segment data lands
    * first, unreferenced, and ONE marker makes segment + dictionary +
    * statistics visible together (no window where postings are
    * searchable but the statistics don't count them, and no replay
    * that can double-apply — the manifest is the batch's commit
    * record). The manifest's read, write, carry, count, sweep and
    * clear are [[graft.io.Layout]]'s, shared with the vector
    * family. */
  private val kinds = Seq("postings", "termvectors")

  /** Whether this layout stores term vectors: the stats artifact's
    * recorded flag when the column exists, else (legacy index from
    * before the column) whether a term-vectors directory is live —
    * the fallback the append path always had; a compactor WITHOUT it
    * would skip folding a legacy index's forward artifact and then
    * reclaim it, destroying exact deletes and stored MLT. */
  private[graft] def hasTermVectors(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String, art: String,
      st: org.apache.spark.sql.Row): Boolean =
    if (st.schema.fieldNames.contains("has_termvectors"))
      st.getAs[Boolean]("has_termvectors")
    else Layout.readSegments(spark, art).dirs("termvectors")
      .exists(d => Layout.pathExists(spark, s"$indexDir/$d"))

  /** Manifest-resolved postings frame WITHOUT the tombstone mask —
    * the raw physical union (base + committed segments). Public for
    * layout specs and maintenance tooling; query faces go through
    * [[livePostings]]. */
  def postingsFrame(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): DataFrame =
    liveFrame(spark, indexDir, liveArtifactDir(spark, indexDir), "postings")

  /** Manifest-resolved term-vectors frame (raw union) — the forward
    * artifact's physical view; empty-schema failure if the layout
    * never stored term vectors (callers guard on the stats flag). */
  def termVectorsFrame(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): DataFrame =
    liveFrame(spark, indexDir, liveArtifactDir(spark, indexDir),
      "termvectors")

  /** The union of `kind`'s live dirs under the manifest in `art`. */
  private def liveFrame(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, art: String, kind: String): DataFrame =
    Layout.readDirs(spark, indexDir, Layout.readSegments(spark, art).dirs(kind))

  /** The live view of a stored index's postings: the raw
    * bucket-partitioned table minus any TOMBSTONED documents. Every
    * stored search face reads through this, so a delete is visible
    * the moment [[deleteFromTextIndex]] lands — the Lucene liveDocs
    * bitset as an anti-join. Hint-free: AQE broadcasts the usual
    * small set and falls back to a shuffle join for a
    * takedown-backlog-sized one (the delete faces write tombstones
    * DISTRIBUTED, so the set is bounded by deletes-since-compaction,
    * not by driver memory; [[compactTextIndex]] keeps it small). */
  private def livePostings(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, art: String): DataFrame = {
    val post = liveFrame(spark, indexDir, art, "postings")
    // hint-free anti-join: AQE broadcasts the usual small set and
    // falls back to a shuffle join for a takedown-backlog-sized one
    // (the delete faces write tombstones distributed, so the set is
    // bounded by deletes-since-compaction, not by driver memory)
    if (graft.io.Layout.pathExists(spark, s"$art/tombstones"))
      post.join(
        spark.read.parquet(s"$art/tombstones")
          .select(col("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
    else post
  }

  /** Tombstone DELETE from the stored text index — the takedown path
    * (a PII ruling, a dedup cluster's losers, a license revocation)
    * that previously had no answer short of a full rebuild: the ids
    * land in `<indexDir>/tombstones/` (delete-batch-sized I/O), every
    * search face anti-joins them immediately via [[livePostings]],
    * and [[compactTextIndex]] physically reclaims the rows.
    *
    * Statistics: when the index stores TERM VECTORS, the deleted
    * docs' vectors are doc-bucket-pruned point reads, and df/stats
    * decrement EXACTLY (df′ = df − docs-containing-term among the
    * deleted; n′ = n − |ids|; sum_doclen′ −= Σ tf, since a doc's
    * doclen is the sum of its term frequencies) — search-after-delete
    * is then bit-identical to a rebuild without the deleted docs
    * (TextIndexLayoutSpec's pin). Without term vectors the statistics
    * keep counting the deleted docs until compaction — exactly
    * Lucene/ES behavior, where docFreq includes deleted docs until
    * segments merge.
    *
    * Both layouts: the key columns come from the stats artifact, so
    * a multi-field index ([[writeMultiFieldTextIndex]]) decrements
    * its per-(field, term) dictionary and every field's statistics
    * the same way when it stores per-field term vectors.
    *
    * Contract: deleting is PRESENT-ONLY — the batch is reduced to
    * ids the forward artifact actually holds before anything records
    * (free on the term-vector path, one postings doc_id semi-join on
    * the Lucene-stale path), so an ABSENT id is a strict no-op: a
    * replayed-past-fold or never-indexed id neither decrements stats
    * nor lands a ghost tombstone that would under-report
    * `n_docs_live` and ride every later artifact rewrite. The ES
    * semantics exactly (DELETE of a missing doc is a 404 no-op) —
    * which also means a delete arriving BEFORE its document's append
    * does NOT pre-tombstone the future doc; out-of-order ruling
    * feeds must order deletes after ingestion, as ES deployments
    * already must. Re-deleting an already-tombstoned id is equally a
    * NO-OP (idempotent: the batch first subtracts the live tombstone
    * set, so retried takedown jobs cannot double-decrement; the
    * tombstone read is delete-batch-sized by the compaction
    * contract).
    *
    * Crash safety: tombstones, the decremented dictionary and the
    * decremented statistics are STAGED TOGETHER into generation
    * `gen-(N+1)` and committed with one marker file
    * ([[graft.io.Layout.liveGeneration]] — the Lucene `segments_N`
    * model). A crash anywhere mid-delete leaves an invisible partial
    * directory and generation N fully consistent, and the replayed
    * batch recomputes from N — there is NO window where the
    * tombstones are visible but the decrement is not (the ordering
    * bug an append-tombstones-then-rewrite-stats sequence has: a
    * crash between the two makes every replay see the ids as
    * already-deleted and skip the decrement forever). */
  def deleteFromTextIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, ids: Seq[Long], buckets: Int = 16): Unit = {
    import spark.implicits._
    deleteFromTextIndex(spark, indexDir, ids.toDF("doc_id"), buckets)
  }

  /** The DISTRIBUTED face of the tombstone delete: `ids`' FIRST
    * column (cast to long) is the doc ids to evict, and nothing
    * about the batch ever funnels through the driver — idempotence
    * is a `left_anti` join against the live tombstone frame (not a
    * collected Set), the rewritten tombstone artifact is
    * `old ∪ batch` written distributed
    * ([[graft.io.Layout.writeTombstoneArtifact]]), and the dead
    * term-vector lookup is a `left_semi` join (not an IN-list).
    * A takedown backlog of billions of ids between compactions —
    * the GDPR-sweep case — therefore costs shuffles, not driver
    * heap. Bulk callers (a takedown stream's micro-batch, a dedup
    * ruling frame) pass their frame straight through; the Seq
    * overload above exists for point deletes. */
  def deleteFromTextIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, ids: DataFrame, buckets: Int): Unit =
    graft.io.Layout.withMutationLease(spark, indexDir) {
      deleteFromTextIndexImpl(spark, indexDir, ids, buckets)
    }

  private def deleteFromTextIndexImpl(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String, ids: DataFrame, buckets: Int): Unit = {
    import spark.implicits._
    val art = liveArtifactDir(spark, indexDir)
    val hadTomb = graft.io.Layout.pathExists(spark, s"$art/tombstones")
    val oldTomb =
      if (hadTomb)
        spark.read.parquet(s"$art/tombstones")
          .select(col("doc_id")).distinct()
      else Seq.empty[Long].toDF("doc_id")
    // idempotent like before, but distributed: already-tombstoned
    // ids drop via anti-join, so retried takedown jobs cannot
    // double-decrement the statistics and never materialize the
    // accumulated tombstone set anywhere
    val dedup = ids
      .select(col(ids.columns.head).cast("long").as("doc_id"))
      .filter(col("doc_id").isNotNull).distinct()
    // first delete of an index (no tombstones yet — every lifecycle
    // gate's case) skips the idempotence join and the union outright.
    // The fresh-ids materialization and the stats read are
    // independent — overlap them (guide §2.6)
    val ((fresh, nFresh), st) = graft.ops.Jobs.par2(
      () => {
        val f = (if (hadTomb)
            dedup.join(oldTomb, Seq("doc_id"), "left_anti")
          else dedup).localCheckpoint()
        (f, f.count())
      },
      () => readStats(spark, indexDir, art, buckets))
    if (nFresh == 0L) { Checkpoints.unpersist(fresh); return }
    val keys = st.keys
    // PRESENT-ONLY recording (the discipline the r16 exact-stats fix
    // applied to the DECREMENT, now applied to the tombstone artifact
    // itself — and the text twin of the vector delete's codes
    // semi-join): an id replayed AFTER a fold (which physically drops
    // the doc's rows and CLEARS the set the anti-join above checks)
    // or a never-indexed id would otherwise land as a GHOST tombstone
    // — masking nothing, but (a) under-reporting `n_docs_live` on the
    // Lucene-stale layouts (status derives it as n_docs − tombstone
    // rows there) and (b) riding every later delete's `old ∪ batch`
    // rewrite until the next fold. On the term-vector path the
    // present set falls out of the dead-vector lookup the stats
    // decrement already needs (dbucket-pruned, delete-batch-bounded;
    // a doc present in ANY field counts); on the stale path it costs
    // one postings doc_id-column pass — the same class as the vector
    // family's codes pass, paid per delete batch, never per search. A
    // ZERO-TOKEN doc has no postings/vector rows, so its id records
    // nothing and its n_docs slot stands until a fold re-derives
    // stats from survivors — the r16-documented imprecision,
    // unchanged in kind.
    val deadVecsOpt =
      if (!st.hasTermVectors) None
      else {
        // bucket PRUNE list: ≤ `buckets` distinct values by
        // construction — a bounded driver artifact, unlike the ids
        val dBuckets = fresh
          .select(pmod(hash(col("doc_id")), lit(st.buckets)).as("b"))
          .distinct().collect().map(_.getInt(0)).toSeq
        Some(termVectorsFrame(spark, indexDir)
          .filter(col("dbucket").isInCollection(dBuckets))
          .join(fresh, Seq("doc_id"), "left_semi")
          .localCheckpoint())
      }
    val present = deadVecsOpt match {
      case Some(deadVecs) =>
        deadVecs.select(col("doc_id")).distinct().localCheckpoint()
      case None =>
        postingsFrame(spark, indexDir).select(col("doc_id"))
          .join(fresh, Seq("doc_id"), "left_semi").distinct()
          .localCheckpoint()
    }
    val nDeleted = present.count()
    if (nDeleted == 0L) {
      Checkpoints.unpersist(present)
      deadVecsOpt.foreach(dv => Checkpoints.unpersist(dv))
      Checkpoints.unpersist(fresh)
      return
    }
    val next = Layout.openGeneration(spark, indexDir)
    val stage = next.dir
    // the live tombstone set rewrites per delete — bounded by
    // deletes-since-compaction, and written DISTRIBUTED so that
    // bound costs I/O, never driver memory; the old set's size reads
    // from the artifact's recorded `_rowcount` (no third scan)
    val nOld =
      if (hadTomb)
        graft.io.Layout.tombstoneRowCount(spark, s"$art/tombstones",
          oldTomb)
      else 0L
    // the tombstone rewrite, the dictionary carry/merge, the stats
    // carry/derive, and the segment-manifest copy are independent
    // writes into the same staged generation — fan out (guide §2.6)
    val tombThunk: () => Any = () =>
      graft.io.Layout.writeTombstoneArtifact(spark,
        if (hadTomb) oldTomb.unionByName(present) else present,
        s"$stage/tombstones", nOld + nDeleted)
    // a delete carries the manifest UNCHANGED — a driver byte copy
    // (copyArtifact), not a read-rewrite Spark job
    val segThunk: () => Any = () =>
      Layout.carryUnchanged(spark, art, stage, manifest = true)
    deadVecsOpt match {
      case None =>
        // Lucene mode: stats stay stale until compaction — the new
        // generation carries the dictionary/statistics values forward
        // UNCHANGED: driver byte copies, like the manifest carry
        graft.ops.Jobs.par(Seq[() => Any](tombThunk, segThunk,
          () => graft.io.Layout.copyArtifact(spark, s"$art/df",
            s"$stage/df"),
          () => graft.io.Layout.copyArtifact(spark, s"$art/stats",
            s"$stage/stats")))
      case Some(deadVecs) =>
        val termKey = keys :+ "term"
        val parts = graft.ops.Jobs.par(Seq[() => Any](tombThunk, segThunk,
          () => spark.read.parquet(s"$art/df")
            .join(deadVecs.groupBy(termKey.map(col): _*)
                .agg(count(lit(1)).as("df_dead")),
              termKey, "left_outer")
            .select(termKey.map(col) :+
              (col("df") - coalesce(col("df_dead"), lit(0L))).as("df"): _*)
            .filter(col("df") > 0) // a rebuild has no zero-df dict row
            .write.parquet(s"$stage/df"),
          // per-key Σ tf of the dead vectors = the dead docs' doclen
          // (a zero-token FIELD of a deleted doc has no vector rows —
          // it contributes 0, exactly as the writer counted it)
          () => sumsByKey(deadVecs, keys, "tf")))
        // decrement by the dead docs PRESENT in the index (nDeleted is
        // exactly that count — the tombstone artifact and the stats
        // now share one present set), never by the raw batch count: a
        // replayed id whose doc was already physically folded away (an
        // at-least-once ruling feed crossing a compaction boundary —
        // the fold clears the tombstone set, so the idempotence
        // anti-join no longer recognizes it) or a never-indexed id
        // would otherwise corrupt n_docs/avgdl for every later search
        // (ObjectStoreStreamsSpec's nost:// lifecycle caught exactly
        // that). The one imprecision left: a ZERO-TOKEN doc has no
        // vector rows, so deleting one leaves its n_docs slot counted
        // until a rebuild — it has no postings to mask, and no
        // artifact records its id.
        val next = st.shifted(-nDeleted,
          parts(3).asInstanceOf[Map[Seq[String], Long]]
            .map { case (k, s) => k -> -s })
        require(next.counts.forall(_._2 > 0),
          "deleting every document: rebuild instead")
        writeStats(spark, next, s"$stage/stats")
        Checkpoints.unpersist(deadVecs)
    }
    // (the segment manifest carried forward in segThunk above — a
    // delete masks rows, it does not move postings data)
    Layout.commitGenerationAndRetire(spark, indexDir, stage, next.gen, art)
    Checkpoints.unpersist(present)
    Checkpoints.unpersist(fresh)
  }

  /** Maintenance compactor for the stored text layout's
    * bucket-partitioned postings: every [[appendToTextIndex]] lands a
    * new part-file PER BUCKET, degrading exactly the bucket-pruned
    * scan the partitioning exists for — the fold rewrites base +
    * segments into fresh `postings-v<gen>` dirs, one file per bucket,
    * and commits them with one generation marker. The df/stats
    * artifacts are restaged in every append's generation and never
    * accumulate.
    *
    * Tombstones apply PHYSICALLY here (the Lucene merge): postings
    * (and term vectors, when stored) drop the tombstoned docs' rows
    * during the rewrite, then the tombstone set itself is reclaimed.
    * If the index has no term vectors the statistics were left
    * Lucene-stale at delete time, so they re-derive from the
    * SURVIVING postings — a full postings read, but compaction is
    * the maintenance-window full rewrite by definition (the
    * delete-time exact path never pays it). TextIndexLayoutSpec pins
    * file reclamation, tombstone reclamation, and stored-search
    * frame equality across the rewrite. Both layouts: a multi-field
    * index (its key read from the stats artifact) re-derives per
    * field, and a field the fold saw nothing of keeps a zeroed row.
    *
    * `rebucket = Some(n)` RESIZES the term-bucket partitioning during
    * the fold — the text twin of the vector layout's compaction-time
    * pgroup re-resolution: a bucket count chosen for a small corpus
    * (16 default) concentrates a 100×-grown index's postings into a
    * few huge partitions, degrading exactly the bucket-pruned scan;
    * the fold already rewrites every surviving posting, so
    * reassigning `bucket = pmod(hash(term), n)` is free, and the new
    * count lands in the SAME staged stats the generation commits —
    * searches and appends follow the recorded count atomically (the
    * recorded-bucket-count contract). The dictionary is bucket-free
    * and carries unchanged. No auto policy: bucket economics depend
    * on postings volume per term, an operational judgment — exposed
    * as RunCompact `--buckets`. */
  def compactTextIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, buckets: Int = 16,
      rebucket: Option[Int] = None): (Long, Long, Long) = {
    rebucket.foreach(nb => require(nb > 0,
      s"rebucket bucket count must be positive (got $nb) — " +
        "pmod against 0 dies mid-fold and a committed non-positive " +
        "count would corrupt every later search's pruning"))
    graft.io.Layout.withMutationLease(spark, indexDir) {
      compactTextIndexImpl(spark, indexDir, buckets, rebucket)
    }
  }

  private def compactTextIndexImpl(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String, buckets: Int,
      rebucket: Option[Int]): (Long, Long, Long) = {
    Layout.sweepUnreferenced(spark, indexDir, kinds) // crashed predecessors' orphans
    val art = liveArtifactDir(spark, indexDir)
    val tombPath = s"$art/tombstones"
    val hasTomb = Layout.pathExists(spark, tombPath)
    val st = readStats(spark, indexDir, art, buckets)
    val keys = st.keys
    val hasTv = st.hasTermVectors
    val seg = Layout.readSegments(spark, art)
    // the using-join puts doc_id first; select the source's own
    // column order back, so a folded generation's files keep the
    // writer's row shape
    def minus(df: DataFrame): DataFrame =
      if (hasTomb)
        df.join(spark.read.parquet(tombPath)
          .select(col("doc_id")).distinct(), Seq("doc_id"), "left_anti")
          .select(df.columns.map(col): _*)
      else df
    val before = Layout.countDataFiles(spark, indexDir, seg.dirs("postings"))
    // fold base + every committed segment, minus tombstones, into
    // FRESH versioned dirs (one file per bucket), then cut ONE
    // generation whose manifest points at them: the marker is the
    // atomic cutover — a crash anywhere before it leaves the old
    // generation (manifest, stats, tombstones) fully live and only
    // unreferenced new dirs on disk, which the next run's GC clears.
    // Re-running after any crash is therefore safe and complete.
    // writer-unique staging names for the folded dirs — renamed to
    // the final `<kind>-v<gen>` names inside the commit, after the fence
    val next = Layout.openGeneration(spark, indexDir,
      gen => kinds.map(k => s"$k-v$gen"))
    val stage = next.dir
    val Seq((stPost, newPost), (stTv, newTv)) = next.sides
    // the postings fold, the term-vector fold, the (exact-mode)
    // df/stats carries and the manifest write are independent staged
    // writes — fan out (guide §2.6); the stale-mode stats re-derive
    // needs the folded postings and runs after the fan-out. Term
    // buckets are key-agnostic (one hash space over terms), so a
    // rebucket resizes every layout the same way.
    val exactMode = !(hasTomb && !hasTv)
    val parts = graft.ops.Jobs.par(Seq[() => Any](
      () => {
        val src = rebucketed(
          minus(Layout.readDirs(spark, indexDir, seg.dirs("postings"))),
          "term", "bucket", rebucket)
        clustered(src, "bucket", "term")
          .write.partitionBy("bucket").parquet(s"$indexDir/$stPost")
        // a FULL PURGE (every doc tombstoned) folds to zero rows, and
        // a zero-row partitionBy write is schema-less — keep it
        // readable
        graft.io.Layout.ensureReadableParquet(spark,
          s"$indexDir/$stPost", src.schema)
        spark.read.parquet(s"$indexDir/$stPost").count()
      },
      () => if (hasTv) {
        val src = rebucketed(
          minus(Layout.readDirs(spark, indexDir, seg.dirs("termvectors"))),
          "doc_id", "dbucket", rebucket)
        clustered(src, "dbucket", "doc_id")
          .write.partitionBy("dbucket").parquet(s"$indexDir/$stTv")
        graft.io.Layout.ensureReadableParquet(spark,
          s"$indexDir/$stTv", src.schema)
      },
      // no tombstones in the new generation: physically applied. The
      // APPLIED-SEGMENTS registry carries forward even though the
      // live dirs forget the folded segments — a micro-batch
      // redelivered after this compaction must still read as
      // already-applied
      () => Layout.writeSegments(spark, stage, Seq(("postings", newPost)) ++
        (if (hasTv) Seq(("termvectors", newTv)) else Nil), seg.applied)) ++
      (if (exactMode) Seq[() => Any](
        // exact mode (or nothing tombstoned): df/stats carry forward
        // unchanged — they were decremented exactly at delete time;
        // a rebucket replaces only the recorded bucket count.
        // Unchanged carries are driver byte copies, not read-rewrite
        // Spark jobs (the delete path's manifest-carry discipline)
        () => graft.io.Layout.copyArtifact(spark, s"$art/df",
          s"$stage/df"),
        () => rebucket match {
          case None => graft.io.Layout.copyArtifact(spark,
            s"$art/stats", s"$stage/stats")
          case Some(nb) =>
            writeStats(spark, st.copy(buckets = nb), s"$stage/stats")
        })
       else Nil))
    val rows = parts(0).asInstanceOf[Long]
    if (!exactMode) {
      // Lucene mode: statistics were left stale at delete time — true
      // them up from the survivors into the new generation
      val folded = spark.read.parquet(s"$indexDir/$stPost")
      folded.groupBy((keys :+ "term").map(col): _*)
        .agg(count(lit(1)).as("df"))
        .write.parquet(s"$stage/df")
      val survivors = folded
        .select((keys ++ Seq("doc_id", "doclen")).map(col): _*).distinct()
        .groupBy(keys.map(col): _*)
        .agg(count(lit(1)), coalesce(sum(col("doclen")), lit(0L)))
        .collect().map(r => keyOf(r, keys.length) ->
          (r.getLong(keys.length), r.getLong(keys.length + 1))).toMap
      // a FULL PURGE leaves no survivor rows for some (or all) keys;
      // the key values are a durable layout property, so a key the
      // fold saw nothing of keeps a zeroed row instead of vanishing
      // (a later stats read must never find an empty artifact)
      writeStats(spark, st.copy(
        counts = st.counts.map { case (k, _, _) =>
          val (n, s) = survivors.getOrElse(k, (0L, 0L))
          (k, n, s)
        },
        hasTermVectors = false,
        buckets = rebucket.getOrElse(st.buckets)), s"$stage/stats")
    }
    Layout.commitGenerationAndRetire(spark, indexDir, stage, next.gen, art,
      sideRenames = next.sides.take(if (hasTv) 2 else 1))
    // reclaim the superseded base/segment dirs (now unreferenced)
    // the ROOT postings/termvectors dirs reclaim through the same
    // liveness check as seg-/-v dirs: under retainGenerations > 1 an
    // older retained generation's manifest may still reference them,
    // and deleting them unconditionally would break the lock-free
    // reader guarantee for any index compacted before its first fold
    Layout.sweepUnreferenced(spark, indexDir, kinds)
    (before, Layout.countDataFiles(spark, indexDir, Seq(newPost)), rows)
  }

  /** Query-time BM25 over a STORED index — no analyzer, no corpus
    * scan: the query terms' bucket ids derive from the SAME hash
    * expression the writer used (evaluated on a driver-side
    * query-term frame — a bounded literal, like the probe list of the
    * vector twin) and prune the postings scan to those buckets'
    * files; df joins from the dictionary artifact (identical values
    * to [[bm25TopK]]'s window — one row per matching (doc, term)
    * means the window count IS the term's df); stats broadcast from
    * the 1-row artifact. Frame equality with the self-contained
    * [[bm25TopK]] is TextIndexLayoutSpec's pin.
    *
    * `after` is ES `search_after` DEEP PAGINATION: a (score, doc_id)
    * cursor — the LAST hit of the previous page under this ranking's
    * total order (score desc, doc_id asc; scores are rounded to 4
    * decimals, so the cursor survives a round trip through any
    * client) — becomes a KEYSET predicate `score < s ∨ (score = s ∧
    * doc_id > d)` applied BELOW the TakeOrdered. Page N+1 therefore
    * sorts only rows past the cursor: no page-1 row re-enters the
    * top-k, and the cost of page 50 equals the cost of page 1 —
    * unlike from/size pagination, which re-ranks (and re-heaps)
    * 50·k rows. The predicate sits on the POST-AGGREGATION score, so
    * the postings read is unchanged (scoring must see every matching
    * posting to compute the score it pages on — same as ES, where
    * search_after filters hits, not postings). */
  def bm25SearchStored(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, queryTerms: Seq[String], k: Int = 20,
      buckets: Int = 16, k1: Double = 1.2, b: Double = 0.75,
      after: Option[(Double, Long)] = None): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val art = liveArtifactDir(spark, indexDir)
    val bk = statsBuckets(
      graft.io.TinyParquet.readFrame(spark, s"$art/stats").head(), buckets)
    val qFrame = spark.createDataFrame(queryTerms.map(Tuple1(_)))
      .toDF("term")
    val qBuckets = qFrame
      .select(pmod(hash(col("term")), lit(bk)).as("bucket"))
      .collect().map(_.getInt(0)).distinct.toSeq
    val stats = graft.io.TinyParquet.readFrame(spark, s"$art/stats")
      .select(col("n_docs"), col("avgdl"))
    val dfDict = spark.read.parquet(s"$art/df")
      .filter(col("term").isInCollection(queryTerms))
    val tf = livePostings(spark, indexDir, art)
      .filter(col("bucket").isInCollection(qBuckets))
      .filter(col("term").isInCollection(queryTerms))
    val normLen = col("tf").cast("double") +
      lit(k1) * (lit(1.0 - b) + lit(b) * col("doclen") / col("avgdl"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    tf.join(broadcast(dfDict.select(col("term"),
        col("df").cast("double").as("df"))), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("term_score",
        idf * col("tf").cast("double") * lit(k1 + 1.0) / normLen)
      .groupBy(col("doc_id"))
      .agg(round(sum(col("term_score")), 4).as("score"))
      .transform(scores => after.fold(scores) { case (s, d) =>
        scores.filter(col("score") < s ||
          (col("score") === s && col("doc_id") > d))
      })
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Fuzzy search over a STORED index — q99's promised deployment
    * face: the expansion runs against the index's TERM DICTIONARY
    * artifact (no corpus vocabulary pass — the dictionary IS the
    * vocabulary, with df attached), then the postings scan
    * bucket-prunes to the expanded terms' files. Scoring is
    * [[bm25FuzzyTopK]]'s exactly: Lucene FuzzyQuery boost
    * 1 − ed/min(|term|, |qterm|), best boost per expanded term,
    * boosted BM25 summed per doc (TextIndexLayoutSpec pins frame
    * equality with the self-contained operator).
    *
    * Scale shape: |queryTerms| × |dictionary| cheap edit checks on a
    * Heaps-law-sized artifact; the expanded (term, boost, df) frame
    * is query-sized and BROADCASTS into the bucket-pruned postings
    * join; stats 1-row. The corpus is never scanned. */
  def fuzzySearchStored(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, queryTerms: Seq[String], k: Int = 20,
      maxEdits: Int = 1, buckets: Int = 16,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val dict = spark.read
      .parquet(s"${liveArtifactDir(spark, indexDir)}/df")
    val q = spark.createDataFrame(queryTerms.map(Tuple1(_))).toDF("qterm")
    val expanded = dict.crossJoin(broadcast(q))
      .withColumn("ed", levenshtein(col("term"), col("qterm")))
      .filter(col("ed") <= maxEdits)
      .withColumn("pair_boost",
        lit(1.0) - col("ed").cast("double") /
          least(length(col("term")), length(col("qterm"))))
      .groupBy(col("term"), col("df"))
      .agg(max(col("pair_boost")).as("boost"))
    storedExpansionScore(spark, indexDir, expanded, buckets, k1, b)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Prefix search over a STORED index — q124's deployment face:
    * the prefix expands on the term dictionary (a sorted dictionary
    * seeks the prefix range; a LIKE scan here — the same artifact),
    * postings bucket-prune to the expansion, constant-score rollup
    * identical to the self-contained operator. */
  def prefixSearchStored(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, prefix: String, k: Int = 50,
      buckets: Int = 16): DataFrame =
    dictionarySetSearch(spark, indexDir,
      col("term").startsWith(prefix), k, buckets)

  /** Wildcard search over a STORED index — q131's deployment face
    * (`prefix*suffix` LIKE over the dictionary; a LEADING-wildcard
    * pattern costs the same dictionary scan — the documented ES
    * expensive case, no prefix seek exists for it). */
  def wildcardSearchStored(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, pattern: String, k: Int = 50,
      buckets: Int = 16): DataFrame =
    dictionarySetSearch(spark, indexDir, col("term").like(pattern),
      k, buckets)

  /** Shared constant-score dictionary-expansion search (ES
    * CONSTANT_SCORE rewrite for prefix/wildcard): dictionary terms
    * matching `pred` → bucket-pruned postings join → per-doc
    * matched-vocab/occurrence diagnostics, `_doc` page order — the
    * exact output shape of the self-contained q124/q131. */
  private def dictionarySetSearch(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, pred: Column, k: Int, buckets: Int): DataFrame = {
    val expanded = spark.read
      .parquet(s"${liveArtifactDir(spark, indexDir)}/df")
      .filter(pred).select(col("term"))
    val post = bucketPrunedPostings(spark, indexDir, expanded, buckets)
    post
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("term")).as("n_matched_terms"),
        sum(col("tf")).as("n_occurrences"))
      .withColumn("score", lit(1.0))
      .orderBy(col("doc_id"))
      .limit(k)
  }

  /** Postings rows for an EXPANDED term frame: the partition filter
    * derives from the writer's own hash expression over the expanded
    * terms (a bounded driver collect of bucket ids — ≤ `buckets`
    * values by construction), then the term restriction is a
    * broadcast join (the expansion may be too wide for a literal
    * isin). */
  private def bucketPrunedPostings(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, expanded: DataFrame, buckets: Int): DataFrame = {
    val art = liveArtifactDir(spark, indexDir)
    val bk = statsBuckets(
      graft.io.TinyParquet.readFrame(spark, s"$art/stats").head(), buckets)
    val exp = expanded.localCheckpoint()
    val qBuckets = exp
      .select(pmod(hash(col("term")), lit(bk)).as("bucket"))
      .distinct().collect().map(_.getInt(0)).toSeq
    livePostings(spark, indexDir, art)
      .filter(col("bucket").isInCollection(
        if (qBuckets.isEmpty) Seq(-1) else qBuckets))
      .join(broadcast(exp), Seq("term"))
  }

  /** Boosted-BM25 scoring of an expanded `(term, df, boost)` frame
    * against the stored postings — the shared tail of
    * [[fuzzySearchStored]] (and any future dictionary-expansion
    * scorer): df comes from the DICTIONARY artifact (identical to
    * the self-contained window count — one row per matching (doc,
    * term) means the window count IS the term's df), stats from the
    * 1-row artifact. */
  private def storedExpansionScore(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, expanded: DataFrame, buckets: Int,
      k1: Double, b: Double): DataFrame = {
    val stats = graft.io.TinyParquet
      .readFrame(spark, s"${liveArtifactDir(spark, indexDir)}/stats")
      .select(col("n_docs"), col("avgdl"))
    val post = bucketPrunedPostings(spark, indexDir, expanded, buckets)
    val normLen = col("tf").cast("double") +
      lit(k1) * (lit(1.0 - b) + lit(b) * col("doclen") / col("avgdl"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    post.crossJoin(broadcast(stats))
      .withColumn("term_score",
        col("boost") * idf * col("tf").cast("double") * lit(k1 + 1.0) /
          normLen)
      .groupBy(col("doc_id"))
      .agg(round(sum(col("term_score")), 4).as("score"),
        count(lit(1)).as("n_terms"))
      .select(col("doc_id"), col("score"), col("n_terms"))
  }

  /** Multi-field BM25 — the ES `multi_match` query over several
    * `text_en`-mapped fields with per-field boosts (the reference maps
    * `text_en` on issue/PR `title` AND `body`, schema.py:46,77-78; the
    * first real ES query a user writes is `multi_match` over
    * title+body with `title^2`). Emits ALL THREE composition modes ES
    * offers:
    *
    *  - `score_best` — `best_fields` (the default, a Lucene
    *    DisjunctionMaxQuery): max over fields of the field's match
    *    score, plus `tieBreaker` × the other fields' scores. The
    *    right mode when one field should dominate ("best single
    *    field wins, others break ties").
    *  - `score_most` — `most_fields` (a BooleanQuery of per-field
    *    matches): the SUM of per-field scores — the mode for fields
    *    that are alternate renderings of the same text.
    *  - `score_cross` — `cross_fields` (Lucene BlendedTermQuery):
    *    TERM-centric instead of field-centric — each term scores in
    *    every field with a BLENDED document frequency (max over the
    *    fields' dfs, so a term common in any one field is "common"
    *    everywhere — the fix for first/last-name-across-fields
    *    inflation), the term keeps its best boosted field score plus
    *    `tieBreaker` × the other fields' blended scores (ES applies
    *    the one multi_match tie_breaker within the per-term field
    *    scores here), and a document sums over terms. The mode for
    *    ONE logical text split across fields.
    *
    * For best/most each field scores as an independent BM25 index:
    * its OWN doclen, avgdl, and per-(field, term) df — exactly
    * Lucene's per-field inverted-index statistics — then the field's
    * score is multiplied by its boost. cross_fields swaps only the
    * df: per-field norms stay (as in Lucene's blending, which leaves
    * length normalization per field).
    *
    * Scale shape: ONE corpus pass. The fields stack via a per-row
    * 2-element struct explode (field, toks, boost) — |fields|·N rows,
    * the same rows a per-field index stores — then the [[bm25TopK]]
    * discipline applies unchanged: postings are filtered to query
    * terms BEFORE the tf shuffle (|matching postings| in flight, not
    * the corpus), df is a window over that tiny frame keyed
    * (field, term), per-field stats are a |fields|-row broadcast, and
    * the mode combine is a second aggregation of the per-(doc, field)
    * score frame. Top-k is TakeOrdered. */
  def bm25MultiFieldTopK(docs: DataFrame, idCol: String,
      fields: Seq[(String, Double)], queryTerms: Seq[String],
      k: Int = 20, tieBreaker: Double = 0.0,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(fields.nonEmpty, "fields must be non-empty")
    val stacked = docs.select(col(idCol).as("doc_id"),
      explode(array(fields.map { case (c, boost) =>
        struct(lit(c).as("field"), analyze(col(c)).as("toks"),
          lit(boost).as("boost"))
      }: _*)).as("f"))
      .select(col("doc_id"), col("f.field").as("field"),
        col("f.toks").as("toks"), col("f.boost").as("boost"))
      .withColumn("doclen", size(col("toks")))
    // |fields| rows of per-field index stats, broadcast.
    val stats = stacked.groupBy(col("field")).agg(
      count(lit(1)).as("n_docs"), avg(col("doclen")).as("avgdl"))
    // Postings filtered to query terms below the shuffle (explode_outer
    // for the same InferFiltersFromGenerate reason as bm25TopK).
    val tf = stacked
      .select(col("doc_id"), col("field"), col("boost"), col("doclen"),
        explode_outer(col("toks")).as("term"))
      .where(col("term").isInCollection(queryTerms))
      .groupBy(col("doc_id"), col("field"), col("boost"), col("doclen"),
        col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val withDf = tf
      .withColumn("df",
        count(lit(1)).over(Window.partitionBy(col("field"), col("term")))
          .cast("double"))
      // blended df: the term's max df across fields (BlendedTermQuery)
      .withColumn("df_blend",
        max(col("df")).over(Window.partitionBy(col("term"))))
    multiFieldCompose(withDf, stats, k, tieBreaker, k1, b)
  }

  /** The mode-composition core of [[bm25MultiFieldTopK]] over a
    * prepared `(doc_id, field, boost, doclen, term, tf, df,
    * df_blend)` frame plus per-field stats — shared with
    * [[multiMatchSearchStored]] so the stored and self-contained
    * faces cannot drift (the bm25SearchStored/bm25TopK discipline).
    * All three ES composition modes: best_fields (dis_max +
    * tie_breaker), most_fields (sum), cross_fields (BlendedTermQuery
    * with the tie_breaker WITHIN per-term field scores). */
  private def multiFieldCompose(withDf: DataFrame, stats: DataFrame,
      k: Int, tieBreaker: Double, k1: Double, b: Double): DataFrame = {
    val normLen = col("tf") +
      lit(k1) * (lit(1.0 - b) + lit(b) * col("doclen") / col("avgdl"))
    def idfOf(dfCol: Column) = log(lit(1.0) +
      (col("n_docs") - dfCol + lit(0.5)) / (dfCol + lit(0.5)))
    val scored = withDf
      .join(broadcast(stats), Seq("field"))
      .withColumn("term_score",
        idfOf(col("df")) * col("tf") * lit(k1 + 1.0) / normLen)
      .withColumn("blend_score", col("boost") *
        idfOf(col("df_blend")) * col("tf") * lit(k1 + 1.0) / normLen)
    val perFieldScore = scored
      .groupBy(col("doc_id"), col("field"), col("boost"))
      .agg(sum(col("term_score")).as("raw"))
      .withColumn("fscore", col("boost") * col("raw"))
      .groupBy(col("doc_id"))
      .agg(max(col("fscore")).as("best"), sum(col("fscore")).as("total"))
    // cross_fields: per (doc, term) the best boosted blended-df field
    // score plus tieBreaker × the other fields' blended scores (ES
    // applies the one multi_match tie_breaker WITHIN the per-term
    // field scores in cross_fields mode), summed over terms
    val crossScore = scored
      .groupBy(col("doc_id"), col("term"))
      .agg(max(col("blend_score")).as("t_best"),
        sum(col("blend_score")).as("t_total"))
      .groupBy(col("doc_id"))
      .agg(sum(col("t_best") +
        lit(tieBreaker) * (col("t_total") - col("t_best"))).as("cross"))
    perFieldScore
      .join(crossScore, Seq("doc_id"))
      .select(col("doc_id"),
        round(col("best") + lit(tieBreaker) * (col("total") - col("best")),
          4).as("score_best"),
        round(col("total"), 4).as("score_most"),
        round(col("cross"), 4).as("score_cross"))
      .orderBy(col("score_best").desc, col("doc_id"))
      .limit(k)
  }

  /** Index-time writer for the MULTI-FIELD stored layout — the
    * deployment face of [[bm25MultiFieldTopK]] (the reference maps
    * `text_en` on several fields per entity, schema.py:46,77-78 —
    * a real index is multi-field from day one):
    *
    *   <indexDir>/stats/     (field, n_docs, avgdl, …) — per-field
    *                         segment stats (Lucene keeps per-field
    *                         norms/statistics exactly so)
    *   <indexDir>/df/        (field, term, df) — per-field dictionary
    *   <indexDir>/postings/  bucket=<n>/ (field, term, doc_id,
    *                         doclen, tf) — term-hash-bucketed like
    *                         the single-field layout; one bucket scan
    *                         serves every field of a term (Lucene
    *                         prefixes terms with their field in one
    *                         dictionary — same idea)
    *
    * `storeTermVectors` adds per-FIELD term vectors — the forward
    * artifact the EXACT delete decrement needs; without them
    * deletes stay Lucene-stale until compaction. Positions are not
    * stored. One stacked analyzer pass builds every artifact, through
    * [[writeTextIndex]]'s implementation keyed by `field`; delete and
    * compaction are [[deleteFromTextIndex]] and [[compactTextIndex]],
    * which read the key from the stats artifact. */
  def writeMultiFieldTextIndex(docs: DataFrame, idCol: String,
      fields: Seq[String], indexDir: String, buckets: Int = 16,
      storeTermVectors: Boolean = false): Unit =
    graft.io.Layout.withMutationLease(docs.sparkSession, indexDir) {
      writeTextIndexImpl(docs, analyzedFields(docs, idCol, fields),
        IndexStats(Seq("field"), fields.map(f => (Seq(f), 0L, 0L)),
          hasPositions = false, storeTermVectors, buckets), indexDir)
    }

  /** Batch refresh of the multi-field index — the
    * [[appendToTextIndex]] contract per field, equally DELTA-SIZED:
    * the fresh documents' stacked postings append into their term
    * buckets (delta-only analyzer work), the per-field dictionary
    * merges old ⟗ delta (dictionary + delta I/O), and the per-field
    * stats increment from the delta's STACKED frame — which counts a
    * field row for EVERY document, including one whose field
    * analyzes to zero tokens, exactly as the writer did (the
    * re-derive-from-postings shape both dropped such docs AND read
    * the whole index per batch). TextIndexLayoutSpec pins
    * append ≡ rebuild, zero-token docs included, and that the
    * pre-existing postings files are never opened.
    *
    * Same staged-segment exactly-once protocol as
    * [[appendToTextIndex]] — it is the same implementation, keyed by
    * `field`: immutable `seg-<id>/` data, manifest + dictionary +
    * statistics committed by one marker, `segmentId` replay resolved
    * against the live manifest. */
  def appendToMultiFieldTextIndex(spark: org.apache.spark.sql.SparkSession,
      fresh: DataFrame, idCol: String, fields: Seq[String],
      indexDir: String, buckets: Int = 16,
      segmentId: Option[String] = None): Unit =
    graft.io.Layout.withMutationLease(spark, indexDir) {
      appendToTextIndexImpl(spark, fresh,
        analyzedFields(fresh, idCol, fields), Seq("field"), indexDir,
        buckets, segmentId)
    }

  /** multi_match over the STORED multi-field index: per-field
    * df/stats come from the artifacts (df_blend = max over the
    * fields' dictionary dfs — a window over the query-terms-sized
    * dictionary slice), postings bucket-prune to the query terms,
    * and the mode composition is the SHARED [[multiFieldCompose]] —
    * frame equality with the self-contained operator is
    * TextIndexLayoutSpec's pin. No analyzer, no corpus scan. */
  def multiMatchSearchStored(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, queryTerms: Seq[String],
      fieldBoosts: Seq[(String, Double)], k: Int = 20,
      tieBreaker: Double = 0.0, buckets: Int = 16,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(fieldBoosts.nonEmpty, "fieldBoosts must be non-empty")
    val art = liveArtifactDir(spark, indexDir)
    val bk = statsBuckets(
      graft.io.TinyParquet.readFrame(spark, s"$art/stats").head(), buckets)
    val qFrame = spark.createDataFrame(queryTerms.map(Tuple1(_)))
      .toDF("term")
    val qBuckets = qFrame
      .select(pmod(hash(col("term")), lit(bk)).as("bucket"))
      .collect().map(_.getInt(0)).distinct.toSeq
    val stats = graft.io.TinyParquet.readFrame(spark, s"$art/stats")
      .select(col("field"), col("n_docs"), col("avgdl"))
    val boosts = spark.createDataFrame(fieldBoosts).toDF("field", "boost")
    val dfDict = spark.read.parquet(s"$art/df")
      .filter(col("term").isInCollection(queryTerms))
      .select(col("field"), col("term"), col("df").cast("double").as("df"))
      .withColumn("df_blend",
        max(col("df")).over(Window.partitionBy(col("term"))))
    val withDf = livePostings(spark, indexDir, art)
      .filter(col("bucket").isInCollection(qBuckets))
      .filter(col("term").isInCollection(queryTerms))
      .select(col("doc_id"), col("field"), col("doclen"),
        col("term"), col("tf").cast("double").as("tf"))
      .join(broadcast(dfDict), Seq("field", "term"))
      .join(broadcast(boosts), Seq("field"))
    multiFieldCompose(withDf, stats, k, tieBreaker, k1, b)
  }

  /** Highlighting — matched query terms of the ANALYZED token stream
    * wrapped in `<em>` markers (the ES highlighter's default tags;
    * the plain highlighter re-analyzes the stored field exactly like
    * this). The snippet is the analyzed rendering, not the raw text —
    * lowercased, stopwords dropped — which keeps the operator a
    * per-row builtin (transform + array_join, whole-stage codegen)
    * and the oracle a list_transform; raw-text offset mapping would
    * need per-token character offsets the analyzer doesn't retain.
    * Null text stays null (the Pii convention). */
  def highlightTerms(text: Column, queryTerms: Seq[String]): Column =
    array_join(transform(analyze(text),
      t => when(t.isInCollection(queryTerms),
        concat(lit("<em>"), t, lit("</em>"))).otherwise(t)), " ")

  /** Best-fragment selection — the Lucene highlighter's OTHER half
    * (fragment scoring): the `window`-token span of the ANALYZED
    * stream containing the most query-term hits, earliest span on
    * ties (Lucene's SimpleFragmenter + score-ordered fragment pick,
    * fragment count 1), rendered with the same `<em>` convention as
    * [[highlightTerms]]. A field with NO hit yields null — ES returns
    * no highlight entry for an unmatched field, and null keeps that
    * tri-state honest (the Pii null-passthrough convention).
    *
    * Per-row builtin composition: hit flags via transform, window
    * scores via an O(|D|·window) transform-of-aggregates (window is a
    * small constant — this is the per-row cost Lucene pays scanning
    * term positions), argmax via array_position on the scores array
    * (first index = earliest tie). Callers should project it AFTER
    * top-k (q102 does): the expression then runs on k rows, not the
    * corpus. */
  def bestFragment(text: Column, queryTerms: Seq[String],
      window: Int = 8): Column = {
    val toks = analyze(text)
    val flags = transform(toks,
      t => when(t.isInCollection(queryTerms), lit(1)).otherwise(lit(0)))
    val n = size(toks)
    val w = least(lit(window), n)
    val starts = sequence(lit(1), greatest(n - w + lit(1), lit(1)))
    val scores = transform(starts,
      i => aggregate(slice(flags, i, w), lit(0), (a, x) => a + x))
    val best = array_max(scores)
    val pos = array_position(scores, best).cast("int")
    when(best > 0,
      array_join(transform(slice(toks, pos, w),
        t => when(t.isInCollection(queryTerms),
          concat(lit("<em>"), t, lit("</em>"))).otherwise(t)), " "))
      .otherwise(lit(null).cast("string"))
  }

  /** Occurrences of `phrase` as CONSECUTIVE analyzed tokens in `toks`
    * — Lucene PhraseQuery position semantics over the analyzed stream
    * (stopwords removed before positions are assigned, as the
    * analyzer indexes them). Matches ES with
    * `enable_position_increments: false`: "cat the sat" analyzes to
    * [cat, sat] with CONSECUTIVE positions here, so the phrase
    * "cat sat" matches across a removed stopword — position-increment
    * gaps are the documented divergence (FullTextSpec pins the
    * behavior). Occurrences may overlap ("a b a" counts "a b" and
    * "b a" independently). Per-row higher-order-function work
    * (~|D|·|phrase| equality checks) — cheap enough that a compiled
    * kernel isn't warranted, in contrast to the hashing kernels. */
  def phraseCount(toks: Column, phrase: Seq[String]): Column = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    val m = phrase.length
    when(size(toks) < m, lit(0L)).otherwise(
      size(filter(sequence(lit(1), size(toks) - (m - 1)),
        i => phrase.zipWithIndex.map { case (w, j) =>
          element_at(toks, i + lit(j)) === lit(w)
        }.reduce(_ && _))).cast("long"))
  }

  /** BM25-scored phrase search — the `match_phrase` face of the
    * `text_en` surface (ES match_phrase ≡ Lucene PhraseQuery): a
    * document matches iff the phrase occurs with CONSECUTIVE analyzed
    * positions, tf is the PHRASE occurrence count, df the number of
    * phrase-matching documents, and the score is the same Lucene BM25
    * formula as [[bm25TopK]] applied to that phrase "term".
    *
    * Scale shape: the phrase count is a per-row scan-rider (no
    * position explode, no position join — positions never leave their
    * row); only matching documents (rare for a selective phrase)
    * survive to the scoring stage, whose df/stats sides are one-row
    * broadcasts. Top-k is a TakeOrdered.
    *
    * The per-document (doclen, tf) frame is computed in ONE corpus
    * pass and localCheckpoint'd — THREE consumers read it (corpus
    * stats, phrase df, scoring), and without the barrier Catalyst
    * pushes the tf>0 predicate back into each scan as a re-embedded
    * analyzer+phrase expression: measured 9.6 s vs 1.2 s at sf0.1
    * (interpreted HOFs evaluated ~9× per row across three scans).
    * The checkpointed frame is three numeric columns — 24 B/row,
    * lighter than q61's checkpointed bigram strings; callers free it
    * via Checkpoints.consume like the other checkpointed results. */
  def bm25PhraseTopK(docs: DataFrame, idCol: String, textCol: String,
      phrase: Seq[String], k: Int = 20,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val perDoc = docs
      .select(col(idCol).as("doc_id"), analyze(col(textCol)).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("doclen"),
        phraseCount(col("toks"), phrase).cast("double").as("tf"))
      .localCheckpoint()
    phraseScoredTopK(perDoc, k, k1, b, "phrase_hits")
  }

  /** Matching-span count for ES `span_near(in_order: true, slop)` —
    * the ordered-proximity query (Lucene SpanNearQuery): a span is a
    * start position of `phrase.head` whose GREEDY MINIMAL chain —
    * each subsequent term's smallest position after its predecessor,
    * exactly Lucene NearSpansOrdered's lazy minimal-end iteration —
    * completes with total slack ≤ `slop` (span width − m ≤ slop).
    * Works for any m ≥ 2 and any analyzed token stream; positions are
    * slot-shifted so the width test is `chainEnd ≤ start + slop`.
    *
    * Per-row higher-order-function composition (positions never leave
    * their row — the phraseCount discipline): the chain is a fold of
    * array_min∘filter over the shifted position lists; empty
    * intermediate lists null-propagate to a failed chain. */
  def spanNearCount(toks: Column, phrase: Seq[String], slop: Int): Column = {
    require(phrase.length >= 2, "span_near needs at least two terms")
    val shifted = phrase.zipWithIndex.map { case (w, j) =>
      transform(
        filter(sequence(lit(1), size(toks)),
          i => element_at(toks, i) === lit(w)),
        i => i - lit(1 + j))
    }
    val chain = (p: Column) => shifted.tail.foldLeft(p)(
      (c, lst) => array_min(filter(lst, x => x >= c)))
    when(size(toks) >= phrase.length,
      size(filter(shifted.head, p => chain(p) <= p + lit(slop)))
        .cast("long"))
      .otherwise(lit(0L))
  }

  /** BM25-scored ordered-proximity search — [[spanNearCount]] spans
    * scored with the phrase-as-term formula of [[bm25PhraseTopK]]
    * (tf = span count, df = matching docs). Same single-corpus-pass /
    * localCheckpoint shape as the phrase operator — the per-doc span
    * count is a scan-rider, only matching docs reach scoring. */
  def spanNearTopK(docs: DataFrame, idCol: String, textCol: String,
      phrase: Seq[String], slop: Int, k: Int = 20,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val perDoc = docs
      .select(col(idCol).as("doc_id"), analyze(col(textCol)).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("doclen"),
        spanNearCount(col("toks"), phrase, slop).cast("double").as("tf"))
      .localCheckpoint()
    phraseScoredTopK(perDoc, k, k1, b, "span_hits")
  }

  /** Raw-text highlighting — [[highlightTerms]]' character-offset
    * sibling over the ORIGINAL field value (the ES plain highlighter
    * on the stored field): matched tokens wrap in `<em>` IN PLACE,
    * casing/punctuation/whitespace byte-identical outside the tags,
    * so stripping the tags round-trips to the raw text (FullTextSpec
    * pins it). Compiled per-row kernel
    * (graft.expressions.HashKernels.highlightRaw) with the analyzer's
    * exact token classes; project it after top-k like bestFragment. */
  def highlightRawText(text: Column, queryTerms: Seq[String]): Column =
    graft.expressions.TextHashes.highlightRaw(text, queryTerms)

  /** Shared phrase-as-term BM25 scoring tail over a checkpointed
    * per-doc `(doc_id, doclen, tf)` frame (three consumers: stats,
    * df, scoring — the checkpoint stops Catalyst re-embedding the
    * per-row counter into each scan; see [[bm25PhraseTopK]]). */
  private def phraseScoredTopK(perDoc: DataFrame, k: Int,
      k1: Double, b: Double, hitsName: String): DataFrame = {
    val stats = perDoc.agg(
      count(lit(1)).as("n_docs"), avg(col("doclen")).as("avgdl"))
    val hits = perDoc.filter(col("tf") > 0)
      .select(col("doc_id"), col("doclen"), col("tf"))
    val dfc = hits.agg(count(lit(1)).cast("double").as("df"))
    val normLen = col("tf") +
      lit(k1) * (lit(1.0 - b) + lit(b) * col("doclen") / col("avgdl"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    hits.crossJoin(broadcast(stats)).crossJoin(broadcast(dfc))
      .withColumn("score",
        round(idf * col("tf") * lit(k1 + 1.0) / normLen, 4))
      .select(col("doc_id"), col("tf").cast("long").as(hitsName),
        col("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }
}
