package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental refresh semantics (reference collectors.py:582-657,
  * SURVEY §2.10): watermark computation, delta re-fetch window, and
  * merge-with-cache where freshly fetched records win over cached ones
  * (J5/J6).
  *
  * At scale the merge is one shuffle on the merge key (row_number
  * window); with a sorted/bucketed cache layout this is the batch
  * MERGE INTO pattern.
  */
object IncrementalMerge {

  /** A5 — refresh watermark: max of the given timestamp columns across
    * the cached snapshot, minus a late-data lookback. */
  def watermark(cached: DataFrame, tsCols: Seq[String],
      lookbackSec: Long = 300): Option[java.sql.Timestamp] = {
    val casts = tsCols.map(c => col(c).cast("timestamp"))
    val newest = if (casts.length == 1) casts.head else greatest(casts: _*)
    val m = cached.agg(max(newest).as("wm")).head().getTimestamp(0)
    Option(m).map(ts => new java.sql.Timestamp(ts.getTime - lookbackSec * 1000))
  }

  /** J6 — selective enrichment (collectors.py:643-657): after a merge,
    * expensive per-record detail (the commit-detail fetch that adds
    * files_changed) is computed ONLY for keys not already enriched;
    * records the cache already enriched pass through untouched.
    * Anti-join picks the new keys, semi-join keeps the rest, and the
    * two halves union back — so a refresh touching 0.1% of a huge
    * table pays detail cost for 0.1%, not a full recompute.
    *
    * The key set is a projection but NOT assumed small — the
    * already-enriched side is the whole history (every cached commit),
    * so join strategy is left to Catalyst/AQE: a shuffle join on the
    * key at scale, auto-broadcast when the runtime size is small.
    * The semi and anti branches each evaluate `merged` (Spark reuses
    * identical exchanges, not arbitrary subtrees), so `merged` should
    * be materialized first when its upstream is expensive.
    * LivePipeline passes a driver-local snapshot of the merged commits
    * and snapshots the result, so neither the merge window nor the
    * enrichment join re-runs per consumer.
    *
    * @param merged       post-merge record set (all rows)
    * @param enrichedKeys key set already carrying detail
    * @param enrich       schema-preserving detail computation applied
    *                     to the not-yet-enriched rows only
    */
  def enrichNew(merged: DataFrame, enrichedKeys: DataFrame,
      keys: Seq[String])(enrich: DataFrame => DataFrame): DataFrame = {
    val keyDim = enrichedKeys.select(keys.map(col): _*).dropDuplicates(keys)
    val have = merged.join(keyDim, keys, "left_semi")
    val fresh = merged.join(keyDim, keys, "left_anti")
    have.unionByName(enrich(fresh))
  }

  /** J5/J6 — merge fetched over cached by key: the fetched version of
    * a key wins; cached records without a fetched update survive. */
  def mergeLatest(cached: DataFrame, fetched: DataFrame,
      keys: Seq[String]): DataFrame = {
    val unioned = fetched.withColumn("_src", lit(1))
      .unionByName(cached.withColumn("_src", lit(0)))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("_src").desc)
    unioned
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
      .withColumnRenamed("_src", "from_fetched")
  }

  /** Corpus-scale MERGE INTO over a partitioned parquet cache: only
    * the partitions the delta touches are read, merged, and
    * rewritten — a refresh touching 0.1% of a 100 TB table pays
    * 0.1%, while `mergeLatest` alone would shuffle the whole cache
    * through the window every refresh.
    *
    *  1. the touched partition values come off the (small) delta;
    *  2. the cache read filters to them — partition pruning keeps
    *     every untouched partition's files unread;
    *  3. fetched-wins merge (`mergeLatest`) runs on that slice;
    *  4. dynamic partition overwrite commits ONLY the touched
    *     partitions; untouched partition directories are not
    *     rewritten.
    *
    * The merged slice is materialized (localCheckpoint) before the
    * write because the write target IS the read source — the blocks
    * are freed once the commit lands. Storage cost is the touched
    * slice, not the corpus.
    *
    * @param partitionCol the cache's physical partition column (e.g.
    *   repo_name); delta rows must carry it.
    * @return touched partition count */
  def mergeLatestPartitioned(cacheDir: String, delta: DataFrame,
      keys: Seq[String], partitionCol: String): Int = {
    val spark = delta.sparkSession
    val touched = delta.select(col(partitionCol)).distinct()
      .collect().map(_.get(0))
    if (touched.isEmpty) return 0
    // null partition values (parquet's default partition — degraded
    // records can legally carry a null key) need an explicit isNull
    // arm: isin(null) evaluates to null/false, which would EXCLUDE
    // the cached null-partition rows from the merge while dynamic
    // overwrite still rewrites that partition — silently deleting them.
    val (nullTouched, valTouched) = touched.partition(_ == null)
    val inVals =
      if (valTouched.nonEmpty) col(partitionCol).isin(valTouched.toIndexedSeq: _*)
      else lit(false)
    val touchedCond =
      if (nullTouched.nonEmpty) inVals || col(partitionCol).isNull else inVals
    val cached = spark.read.parquet(cacheDir).filter(touchedCond)
    val merged = mergeLatest(cached, delta, keys)
      .drop("from_fetched")
      .localCheckpoint()
    try {
      merged.write
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partitionCol)
        .parquet(cacheDir)
    } finally Checkpoints.unpersist(merged)
    touched.length
  }
}
