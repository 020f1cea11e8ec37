package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Entities
import graft.ops.{Blame, Jobs}

/** Lake → document-store export orchestration (reference
  * indexer.py:115-178 scan_and_index): ensure the target indices,
  * then stream every repo folder's nine artifacts into
  * `{prefix}{entity}` with deterministic per-doc ids.
  *
  * Spark-first restructuring of the reference's nested
  * repo-folder × file loop: ONE distributed read per entity class
  * over a `{dataDir}/ * /{entity}` glob — every repository's artifact
  * partitions one job, so 10⁵ repos index with nine scans, not 9·10⁵
  * file loops, and bulk batches flush from the executors
  * (BulkSink). repo_name enrichment (indexer.py:32-36) derives from
  * the artifact path (folder_repo_name, indexer.py:22-29) per row.
  *
  * Both artifact layouts index transparently: the engine's own
  * persisted directories (`{repo}/issues/part-*.json`, line-JSON) and
  * the reference's single pretty-printed files
  * (`{repo}/issues.json`, multiLine).
  *
  * repo_blame re-chunks to one doc per file with replicated metadata
  * (K4, indexer.py:87-112) and flushes in small batches — the huge
  * blame payloads are why the reference drops its batch to 50
  * (indexer.py:19).
  *
  * The nine entity exports read and write independent data, so they
  * run concurrently (`Jobs.par`, one driver thread per entity, as
  * `Pipeline.persist` writes the nine artifacts): each export's glob
  * listing, planning and bulk flushes are latency-bound, and running
  * them one after another leaves the executors idle between them.
  * Transports already take concurrent flushes from executor tasks;
  * the documents and `_id`s are those of a sequential export.
  */
object Indexer {

  private val entityFiles: Seq[String] = Seq(
    "repo_meta", "issues", "pull_requests", "commits", "contributors",
    "prs_with_linked_issues", "issues_closed_by_commits",
    "cross_repo_links", "repo_blame")

  /** repo dir segment → repo_name, from the artifact's own path: the
    * path component right above the entity file/dir. */
  private def repoNameFromPath(entity: String) =
    JsonEntities.folderRepoName(regexp_extract(input_file_name(),
      s"/([^/]+)/$entity(?:\\.json)?(?:/[^/]+)?$$", 1))

  /** Read one entity across every repo folder under `dataDir`:
    * directory-layout paths line-JSON, file-layout paths multiLine;
    * either may be absent. Returns None when no repo has the
    * artifact (the reference's per-file `continue`).
    *
    * Listing goes through the Hadoop FileSystem bound to `dataDir`'s
    * scheme (the same resolution `spark.read` itself uses), so the
    * lake can live on any object store the cluster can read — a
    * POSIX-only `java.io.File` walk would silently see an empty lake
    * behind `s3a://`-style URIs. One glob per layout, not one
    * existence RPC per repo folder. */
  private def readEntityLake(spark: SparkSession, dataDir: String,
      entity: String): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(dataDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def glob(child: String, wantDir: Boolean): Seq[String] =
      Option(fs.globStatus(new Path(root, child)))
        .getOrElse(Array.empty)
        .filter(_.isDirectory == wantDir)
        .map(_.getPath.toString).toSeq.sorted
    val dirPaths = glob(s"*/$entity", wantDir = true)
    val filePaths = glob(s"*/$entity.json", wantDir = false)
    val schema = Entities.all(entity)
    // ensure_repo_name_field ADDS the field when the entity doesn't
    // carry one (cross_repo_links keys on source/target instead)
    val pathName = repoNameFromPath(entity)
    val enriched =
      if (schema.fieldNames.contains("repo_name"))
        (df: DataFrame) => df.withColumn("repo_name",
          coalesce(col("repo_name"), pathName))
      else
        (df: DataFrame) => df.withColumn("repo_name", pathName)
    def readPaths(paths: Seq[String], multiLine: Boolean): Option[DataFrame] =
      if (paths.isEmpty) None
      else Some(enriched(spark.read.schema(schema)
        .option("multiLine", multiLine).json(paths: _*)))
    (readPaths(dirPaths, multiLine = false),
      readPaths(filePaths, multiLine = true)) match {
      case (Some(a), Some(b)) => Some(a.unionByName(b))
      case (a, b) => a.orElse(b)
    }
  }

  /** Scan `dataDir`'s repo folders and bulk-index all nine entities.
    *
    * @param ensureIndex index-creation hook run once per target index
    *                    before any write (K3), handed the index name
    *                    and the entity's typed mapping body
    *                    ([[StoreMappings.forEntity]], the reference's
    *                    MAPPINGS contract wired at
    *                    indexer.py:128-131) — pass
    *                    `httpTransport.ensureIndex` for a live store,
    *                    leave default for stores that auto-create.
    * @param dryRun      parse and count only, no writes
    *                    (indexer.py:160-162).
    * @return entity → ok/fail counts (dry runs report parsed counts
    *         as ok). Index creation runs first and sequentially; the
    *         exports then run concurrently (see the object doc). */
  def scanAndIndex(
      spark: SparkSession,
      dataDir: String,
      transport: BulkSink.BulkTransport,
      indexPrefix: String = "",
      batchSize: Int = 1000,
      blameBatchSize: Int = 50,
      ensureIndex: (String, Option[String]) => Unit = (_, _) => (),
      dryRun: Boolean = false): Map[String, BulkSink.BulkResult] = {
    // dry run means NO store mutations — including index creation
    if (!dryRun) entityFiles.foreach(e =>
      ensureIndex(s"$indexPrefix$e", StoreMappings.forEntity.get(e)))
    Jobs.par(entityFiles.map { entity => () =>
      readEntityLake(spark, dataDir, entity).map { df =>
        val docs =
          if (entity == "repo_blame") Blame.rechunk(df) else df
        val batch =
          if (entity == "repo_blame") blameBatchSize else batchSize
        val result =
          if (dryRun) BulkSink.BulkResult(docs.count(), 0)
          else BulkSink.write(docs, s"$indexPrefix$entity",
            Ids.forEntity(entity), transport, batch)
        entity -> result
      }
    }, parallelism = entityFiles.size).flatten.toMap
  }
}
