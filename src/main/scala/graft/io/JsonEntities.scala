package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.model.Entities

/** Entity-table JSON IO (reference S6/S7 + K1): schema'd permissive
  * readers with a rescue column for the dynamic fringe, and the P2/P7
  * enrichment helpers.
  */
object JsonEntities {

  /** Timestamp parse convention (P8): ISO-8601 `...Z`, session TZ UTC. */
  def parsedTs(c: Column): Column =
    to_timestamp(c, "yyyy-MM-dd'T'HH:mm:ss'Z'")

  /** P7 — `owner_repo` artifact-directory name → `owner/repo`: the
    * first underscore splits owner from repo (indexer.py:22-29). */
  def folderRepoName(c: Column): Column =
    regexp_replace(c, "^([^_]*)_", "$1/")

  /** S6 — read one entity's JSON artifacts (list-shaped or
    * object-per-line) with the declared core schema plus a
    * `_rescued_fringe` column holding any record that failed the
    * schema (§1.3 dynamic-fringe mitigation). multiLine handles the
    * reference's pretty-printed list files. */
  def readEntity(spark: SparkSession, name: String, path: String,
      multiLine: Boolean = true): DataFrame = {
    val core = Entities.all(name)
    val schema = StructType(core.fields :+
      org.apache.spark.sql.types.StructField("_rescued_fringe",
        org.apache.spark.sql.types.StringType))
    spark.read
      .schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_rescued_fringe")
      .option("multiLine", multiLine)
      .json(path)
  }

  /** P2 — guarantee the universal join key on every record
    * (indexer.py:32-36 ensure_repo_name_field). */
  def ensureRepoName(df: DataFrame, repoName: String): DataFrame =
    df.withColumn("repo_name",
      coalesce(col("repo_name"), lit(repoName)))

  /** K1 — deterministic JSON snapshot: canonical column order (schema
    * order), one file, records sorted by the given keys so reruns are
    * byte-comparable. The reference's per-repo artifact writer
    * (collectors.py:33-39) is single-file by construction; coalesce(1)
    * reproduces that contract — use partitioned writes for bulk export.
    *
    * One stage: coalesce to one partition, then sort within it. A
    * global `orderBy` before the coalesce would cost a RangePartitioner
    * sample job and a shuffle per artifact for a file that ends up in
    * one partition anyway; the bytes are the same, since Spark's sort is
    * stable and both forms feed it rows in input-partition order. A
    * driver-local frame writes with exactly one Spark job. */
  def writeDeterministic(df: DataFrame, path: String,
      sortKeys: Seq[String]): Unit = {
    val one = df.coalesce(1)
    val ordered =
      if (sortKeys.nonEmpty) one.sortWithinPartitions(sortKeys.map(col): _*)
      else one
    ordered.write.mode("overwrite").json(path)
  }
}
