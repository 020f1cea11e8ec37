package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Blame aggregation + re-chunking (reference collectors.py:145-217,
  * indexer.py:87-112), as distributed per-file transforms.
  *
  * The per-file granularity is the unit of parallelism (SURVEY §7.4-6):
  * a repo's blame fans out to one row per (file, range) for aggregation,
  * so one huge repo can't pin a single task; the only shuffle keys are
  * (path) and (path, author).
  */
object Blame {

  /** P5 — author identity precedence login > name > email > "unknown"
    * (collectors.py:42-48). `author` is the GraphQL blame author struct. */
  def authorKey(author: Column): Column = coalesce(
    when(length(author.getField("user").getField("login")) > 0,
      author.getField("user").getField("login")),
    when(length(author.getField("name")) > 0, author.getField("name")),
    when(length(author.getField("email")) > 0, author.getField("email")),
    lit("unknown"))

  /** summarize_blame_ranges (collectors.py:145-217) over a multi-repo
    * corpus: every aggregation keys on (repo_name, path), so blame for
    * a whole lake of repositories summarizes in one partitioned job
    * (two repos sharing a path never collide).
    *
    * @param ranges raw GraphQL blame ranges flattened to one row per
    *   range: (repo_name, path, startingLine, endingLine, age,
    *   commit{oid, committedDate, message, author{name,email,user{login}}}),
    *   in blame order (the input order drives example selection and
    *   stable-sort tiebreaks, like the reference's list order), with an
    *   optional per-file root_commit_oid column.
    * @param commitDetails commit-detail dimension (repo_name, sha,
    *   html_url, author_login, commit_author, files_changed,
    *   files_changed_count) — the batch replacement for the
    *   COMMIT_CACHE memo dict, joined by SHA (globally unique).
    * @param exampleLimit BLAME_EXAMPLE_LIMIT; <=0 keeps all examples.
    * @return one row per (repo_name, path), in no particular order:
    *   (+ root_commit_oid (null without the input column), total_lines,
    *   ranges_count, authors, examples) with authors sorted by
    *   total_lines desc (first-seen order on ties, matching Python's
    *   stable sort).
    */
  def summarizeBlameAll(
      ranges: DataFrame,
      commitDetails: DataFrame,
      exampleLimit: Int = 5): DataFrame = {
    val fileKey = Seq("repo_name", "path")
    val withSeq = ranges
      .withColumn("_seq", monotonically_increasing_id())
      .withColumn("_start", coalesce(col("startingLine"), lit(0)).cast("int"))
      .withColumn("_end",
        coalesce(col("endingLine"), col("startingLine"), lit(0)).cast("int"))
      .withColumn("_count", greatest(col("_end") - col("_start") + 1, lit(0)))
      .withColumn("author", authorKey(col("commit.author")))

    val details = commitDetails.select(
      col("sha").as("_d_sha"),
      struct(
        col("repo_name"),
        col("sha"),
        col("html_url"),
        col("author_login"),
        col("commit_author"),
        col("files_changed"),
        col("files_changed_count")).as("matching_commit"))

    // Join strategy left to Catalyst/AQE: per-repo runs broadcast the
    // small detail set automatically; a corpus run's commit dimension
    // is every commit in the lake — far too big to force onto the
    // driver (same reasoning as the Linkers author dimension).
    val enriched = withSeq
      .join(details, col("commit.oid") === col("_d_sha"), "left")
      .withColumn("range_entry", struct(
        col("_start").as("start"),
        col("_end").as("end"),
        col("_count").as("count"),
        col("age"),
        col("commit.oid").as("commit_sha"),
        col("commit.committedDate").as("committed_date"),
        TextRefs.one_line(col("commit.message")).as("message"),
        col("matching_commit")))

    // Per (repo, path, author): lines, in-order ranges, first-seen pos.
    val perAuthor = enriched
      .groupBy(col("repo_name"), col("path"), col("author"))
      .agg(
        sum(col("_count")).as("author_lines"),
        min(col("_seq")).as("first_seq"),
        transform(
          array_sort(collect_list(struct(col("_seq"), col("range_entry")))),
          x => x.getField("range_entry")).as("ranges"))

    val authorsPerFile = perAuthor
      .groupBy(col("repo_name"), col("path"))
      .agg(transform(
        array_sort(collect_list(struct(
          (col("author_lines") * -1).as("neg_lines"),
          col("first_seq"),
          struct(col("author"), col("author_lines").as("total_lines"),
            col("ranges")).as("a")))),
        x => x.getField("a")).as("authors"))

    // the file's root commit, when the fetch stamped one on its ranges
    val root =
      if (ranges.columns.contains("root_commit_oid"))
        first(col("root_commit_oid"), ignoreNulls = true)
      else lit(null).cast("string")
    val statsPerFile = enriched
      .groupBy(col("repo_name"), col("path"))
      .agg(
        root.as("root_commit_oid"),
        sum(col("_count")).as("total_lines"),
        count(lit(1)).as("ranges_count"),
        transform(
          array_sort(collect_list(struct(col("_seq"), struct(
            struct(col("_start").as("start"), col("_end").as("end"),
              col("_count").as("count")).as("lines"),
            col("commit.oid").as("commit_sha"),
            col("commit.committedDate").as("committed_date"),
            col("author").as("who"),
            TextRefs.one_line(col("commit.message")).as("message"),
            col("matching_commit")).as("ex")))),
          x => x.getField("ex")).as("all_examples"))
      .withColumn("examples",
        if (exampleLimit <= 0) col("all_examples")
        else slice(col("all_examples"), 1, exampleLimit))
      .drop("all_examples")

    statsPerFile.join(authorsPerFile, fileKey)
      .select(col("repo_name"), col("path"), col("root_commit_oid"),
        col("total_lines"), col("ranges_count"), col("authors"),
        col("examples"))
  }

  /** Single-repo summarize_blame_ranges (the reference's granularity):
    * stamps the literal repo onto ranges and fills absent/null detail
    * repo_names, then delegates to the partitioned form. */
  def summarizeBlame(
      repoName: String,
      ranges: DataFrame,
      commitDetails: DataFrame,
      exampleLimit: Int = 5): DataFrame = {
    val detailsStamped =
      if (commitDetails.columns.contains("repo_name"))
        commitDetails.withColumn("repo_name",
          coalesce(col("repo_name"), lit(repoName)))
      else commitDetails.withColumn("repo_name", lit(repoName))
    summarizeBlameAll(
      ranges.withColumn("repo_name", lit(repoName)),
      detailsStamped, exampleLimit)
      .drop("repo_name")
  }

  /** Spark's string order — binary UTF-8, unsigned bytes, nulls first
    * — which `array_sort`/`orderBy` give paths; for path lists and file
    * entries sorted on the driver. (Java's `String` order is UTF-16
    * and differs above U+FFFF.) */
  val pathOrder: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int =
      if (a == null || b == null) (a != null).compare(b != null)
      else UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b))
  }

  /** One compare-API change-set entry: `previous` is the rename source
    * (null when none); `status` may be null. */
  final case class Change(path: String, previous: String, status: String)

  /** The refresh decision for one repo's blame snapshot
    * (collectors.py:310-373). `reuseWholeSnapshot` short-circuits all
    * file work (head SHA unchanged); otherwise `reusable` names cached
    * per-file entries to keep and `refresh` the paths to re-blame. Both
    * lists are distinct and in [[pathOrder]]. */
  final case class RefreshPlan(
      reuseWholeSnapshot: Boolean,
      reusable: Seq[String],
      refresh: Seq[String])

  /** Blame refresh orchestration (collectors.py:310-373) — the piece
    * that makes blame cheap on a large repo:
    *
    *  1. cached head == current head → reuse the whole snapshot, zero
    *     file work (collectors.py:310-317 early return).
    *  2. heads differ and the compare API listed the changes → drop
    *     removed paths and rename-sources from the cache, refresh
    *     changed paths that still exist, plus anything desired that the
    *     cache lacks (collectors.py:344-364). A change whose status is
    *     null neither drops nor refreshes its path.
    *  3. compare unavailable (None) → refresh everything
    *     (collectors.py:346-347).
    *
    * Pure driver-side set algebra: every input is a path list the
    * caller already holds on the driver (a tree listing capped at
    * BLAME_FILE_LIMIT, the cached doc's file entries, one compare
    * response), so planning runs no Spark job.
    *
    * @param cachedHead   head_commit_sha of the cached snapshot
    * @param currentHead  first commit SHA of the current history (A6)
    * @param cachedPaths  per-file entries in the cached doc
    * @param desiredPaths current tree listing (already
    *                     BLAME_FILE_LIMIT-capped by the caller, W2)
    * @param changed      compare-API change set, None when the compare
    *                     call failed. Consulted only when BOTH heads are
    *                     known — with a head missing the reference never
    *                     runs the compare (collectors.py:344-345), so a
    *                     change set passed anyway is ignored and the
    *                     refresh set falls back to desired − cached.
    */
  def planRefresh(
      cachedHead: Option[String],
      currentHead: Option[String],
      cachedPaths: Seq[String],
      desiredPaths: Seq[String],
      changed: Option[Seq[Change]]): RefreshPlan = {
    def sorted(paths: Iterable[String]) = paths.toSeq.distinct.sorted(pathOrder)
    val headsEqual = cachedHead.isDefined && cachedHead == currentHead
    if (headsEqual)
      return RefreshPlan(reuseWholeSnapshot = true, sorted(cachedPaths), Nil)
    val bothHeads = cachedHead.isDefined && currentHead.isDefined
    if (bothHeads && changed.isEmpty)
      // compare API failed: refresh the full desired set
      return RefreshPlan(reuseWholeSnapshot = false, Nil, sorted(desiredPaths))
    // null paths never match a key, as in a SQL join
    val desired = desiredPaths.filter(_ != null).toSet
    val existing0 = cachedPaths.filter(desired).toSet
    val (existing, extraRefresh) = changed.filter(_ => bothHeads) match {
      case Some(ch) =>
        val status = (c: Change) =>
          Option(c.status).map(_.toLowerCase(java.util.Locale.ROOT))
        // removed: drop path and rename-source; renamed: drop source
        val dropped = ch.filter(c => status(c).contains("removed")).map(_.path) ++
          ch.flatMap(c => Option(c.previous))
        // any still-desired changed path needs a fresh blame
        val needs = ch.filter(c => status(c).exists(_ != "removed"))
          .map(_.path).filter(desired)
        (existing0 -- dropped, needs)
      case None => (existing0, Nil)
    }
    val refresh = desiredPaths.filterNot(existing) ++ extraRefresh
    val reusable = existing -- refresh
    RefreshPlan(reuseWholeSnapshot = false, sorted(reusable), sorted(refresh))
  }

  /** The one-row repo_blame document assembled on the driver from file
    * entries already there (fresh summaries plus reused cached
    * entries): `files` in [[pathOrder]] — the order
    * [[repoBlameDoc]]'s `array_sort` gives — and the columns in
    * [[repoBlameDoc]]'s order. Writing it is one Spark job.
    *
    * @param fileType the entries' struct type (Entities.repoBlame's)
    */
  def repoBlameDocOf(
      spark: SparkSession,
      repoName: String,
      ref: String,
      headCommitSha: Option[String],
      generatedAt: String,
      fileType: StructType,
      files: Seq[Row]): DataFrame = {
    val schema = StructType(Seq(
      StructField("repo_name", StringType),
      StructField("ref", StringType),
      StructField("files", ArrayType(fileType)),
      StructField("generated_at", StringType),
      StructField("head_commit_sha", StringType)))
    val ordered = files.sortBy(_.getAs[String]("path"))(pathOrder)
    spark.createDataFrame(java.util.List.of(Row(repoName, ref, ordered,
      generatedAt, headCommitSha.orNull)), schema)
  }

  /** Assemble the one-row repo_blame document (the collect_repo_blame
    * return shape, collectors.py:405-419): top-level repo/ref/head
    * metadata plus the per-file summaries as a `files` array ordered
    * by path (the reference orders by tree listing; replay input has
    * no tree, so path order is the deterministic stand-in).
    *
    * @param ranges     flattened blame ranges (summarizeBlame input)
    *                   with an optional per-path root_commit_oid column
    * @param generatedAt ISO-8601 stamp the caller controls (the
    *                   reference stamps now(); injectable for
    *                   deterministic replay)
    */
  def repoBlameDoc(
      repoName: String,
      ref: String,
      headCommitSha: Option[String],
      generatedAt: String,
      ranges: DataFrame,
      commitDetails: DataFrame,
      exampleLimit: Int = 5): DataFrame = {
    summarizeBlame(repoName, ranges, commitDetails, exampleLimit)
      .agg(transform(
        array_sort(collect_list(struct(col("path"), struct(
          col("path"),
          lit(ref).as("ref"),
          col("root_commit_oid"),
          col("ranges_count"),
          col("total_lines"),
          col("authors"),
          col("examples")).as("f")))),
        x => x.getField("f")).as("files"))
      .select(
        lit(repoName).as("repo_name"),
        lit(ref).as("ref"),
        col("files"),
        lit(generatedAt).as("generated_at"),
        lit(headCommitSha.orNull).cast("string").as("head_commit_sha"))
  }

  /** K4 — blame re-chunker (indexer.py:87-112): split one repo_blame doc
    * into one doc per file with replicated top-level metadata; a doc with
    * no files yields a single placeholder row with files=[]. Pure
    * explode_outer — no custom operator needed. */
  def rechunk(repoBlame: DataFrame): DataFrame = {
    val metaCols = repoBlame.columns.toIndexedSeq.filterNot(_ == "files").map(col)
    repoBlame
      .select(metaCols :+ explode_outer(col("files")).as("file"): _*)
      .withColumn("files",
        when(col("file").isNotNull, array(col("file")))
          .otherwise(array().cast(
            repoBlame.schema("files").dataType)))
      .drop("file")
  }
}
