package graft.tools

import org.apache.spark.sql.SparkSession

import graft.io.Layout
import graft.ops.FullText

/** Index STATUS CLI — the read-only "describe index" face every
  * stored layout earns once it has generations, segments, tombstones
  * and a mutation lease: one JSON line of recorded state, built
  * entirely from METADATA reads (1-row stats/meta artifacts, the
  * segment manifest, the recorded `_rowcount`, the lease file's
  * staleness clock) — never a corpus scan, so it is safe to poll
  * from monitoring against a 100 TB index.
  *
  * Usage: RunStatus <indexDir>
  *
  * Fields common to all families: `family`, `generation` (-1 = no
  * committed generation, the legacy root layout), `generations`
  * retained, `segments` (append segments the live manifest unions
  * beyond the base — [[graft.io.Layout.segmentCount]], one count for
  * the text and vector families),
  * `tombstone_rows` (recorded count; 0 when physically applied),
  * `orphaned_staging` (count + bytes of crashed/fenced writers'
  * leftover staging dirs, and of `seg-<id>` dirs no retained
  * manifest references — the leak [[RunGc]] reclaims), and
  * `lease` (holder epoch/owner plus `silent_s` — the SAME staleness
  * clock the takeover check reads, so comparing it against
  * `graft.index.leaseStaleMs` shows exactly how close a silent
  * holder is to takeover; absent when unheld). Text adds the
  * recorded corpus statistics and bucket count plus `n_docs_live` —
  * recorded n_docs minus the tombstoned doc count where the recorded
  * value is Lucene-stale (positions-only and multi-field layouts
  * leave n_docs untouched until the fold; BOTH families'
  * exact-decrement term-vector paths already exclude them) — so an
  * operator reads the servable corpus size directly instead of
  * subtracting; vector adds the codec/coarse/pgroups meta row plus
  * the same pair as `n_vecs`/`n_vecs_live` (recorded at write,
  * shifted at append, trued at fold; deletes derive live through
  * the tombstone count). `committed_generations` lists every
  * retained snapshot ascending — the values a `--generation` read
  * face accepts. The near-dup band family reports its artifact
  * names only (row counts would be corpus scans); its generation
  * fields follow its folds like the other families'. */
object RunStatus {

  private def jstr(s: String) = "\"" + s.replace("\"", "\\\"") + "\""

  /** Separated from main for RunStatusSpec: the status JSON line. */
  def describe(spark: SparkSession, indexDir: String): String = {
    val fam = RunCompact.detectFamily(spark, indexDir)
    val gen = Layout.liveGeneration(spark, indexDir)
    val gens = Layout.committedGenerations(spark, indexDir)
    val sb = new StringBuilder
    sb ++= s"""{"tool":"status","family":${jstr(fam)}"""
    sb ++= s""","generation":${gen.getOrElse(-1L)}"""
    sb ++= s""","generations":${math.max(gens.size, 1)}"""
    // the PINNABLE snapshots, ascending — what an operator passes to
    // a --generation read face (withPinnedGeneration); more than one
    // only under graft.index.retainGenerations > 1
    sb ++= s""","committed_generations":[${gens.mkString(",")}]"""
    fam match {
      case "text" | "multifield" =>
        val art = Layout.liveArtifactDir(spark, indexDir)
        // metadata-class artifact: read on the driver, no Spark job
        val st = graft.io.TinyParquet.readFrame(spark, s"$art/stats")
        val tombs = tombRows(spark, s"$art/tombstones")
        // whether the recorded n_docs already EXCLUDES tombstoned
        // docs: the exact-decrement delete path (any text layout with
        // term vectors — FullText.deleteFromTextIndex trues the
        // single- or per-field statistics at delete time while still
        // recording tombstones) leaves the recorded value live;
        // layouts without term vectors are Lucene-stale until the fold
        val statsExact = (fam == "text" || fam == "multifield") &&
          FullText.hasTermVectors(spark, indexDir, art, st.head())
        def emitLive(nDocs: Long): Unit = {
          // the number an operator actually wants next to a non-zero
          // tombstone count: documents a search can still serve.
          // Both inputs are already metadata (recorded stats row +
          // recorded tombstone count) — no corpus scan. Tombstones
          // are distinct doc ids by construction, so the subtraction
          // is exact for ids that were indexed (a ghost id recorded
          // by a replayed ruling under-reports live until the fold
          // reclaims it — the mask-of-nothing row is the only trace
          // such a delete leaves); under exact-mode stats the
          // recorded n_docs IS live already and subtracting again
          // would double-count.
          val live = if (statsExact) nDocs
            else math.max(nDocs - tombs, 0L)
          sb ++= s""","n_docs_live":$live"""
        }
        if (fam == "multifield") {
          // per-field rows: report the total corpus size (n_docs is
          // per-field identical by construction) and the field count
          val rows = st.collect()
          sb ++= s""","fields":${rows.length}"""
          sb ++= s""","n_docs":${rows.head.getAs[Long]("n_docs")}"""
          emitLive(rows.head.getAs[Long]("n_docs"))
        } else {
          val r = st.head()
          sb ++= s""","n_docs":${r.getAs[Long]("n_docs")}"""
          emitLive(r.getAs[Long]("n_docs"))
          sb ++= s""","avgdl":${math.round(r.getAs[Double]("avgdl") * 100) / 100.0}"""
          if (r.schema.fieldNames.contains("buckets"))
            sb ++= s""","buckets":${r.getAs[Int]("buckets")}"""
        }
        sb ++= s""","segments":${Layout.segmentCount(spark, indexDir)}"""
        sb ++= s""","tombstone_rows":$tombs"""
      case "vector" =>
        val art = Layout.liveArtifactDir(spark, indexDir)
        val metaPath =
          if (Layout.pathExists(spark, s"$art/meta")) s"$art/meta"
          else s"$indexDir/meta"
        // metadata-class artifacts: read on the driver, no Spark job
        val m = graft.io.TinyParquet.readFrame(spark, metaPath).head()
        def opt[T](name: String, get: => T, default: T): T =
          if (m.schema.fieldNames.contains(name)) get else default
        sb ++= s""","codec":${jstr(m.getAs[String]("codec"))}"""
        sb ++= s""","coarse":${jstr(opt("coarse", m.getAs[String]("coarse"), "flat"))}"""
        sb ++= s""","pgroups":${opt("pgroups", m.getAs[Int]("pgroups"), 0)}"""
        sb ++= s""","pgroups_forced":${opt("pgroups_forced", m.getAs[Boolean]("pgroups_forced"), false)}"""
        sb ++= s""","segments":${Layout.segmentCount(spark, indexDir)}"""
        val vTombs = tombRows(spark, s"$art/tombstones")
        // recorded at write, shifted at append, trued at fold — the
        // vector twin of the text family's n_docs/n_docs_live pair.
        // Deletes leave it recorded-stale (the FAISS remove_ids
        // economy: quantizers and counts true at the fold), so live
        // = recorded minus tombstones. Metas from before the column
        // (upgraded at their next fold) just omit both fields.
        if (m.schema.fieldNames.contains("n_vecs")) {
          val nv = m.getAs[Long]("n_vecs")
          sb ++= s""","n_vecs":$nv"""
          sb ++= s""","n_vecs_live":${math.max(nv - vTombs, 0L)}"""
        }
        sb ++= s""","tombstone_rows":$vTombs"""
      case "band" =>
        // append-only log artifacts: presence is the status; row
        // counts would be corpus scans and belong to the compactor's
        // own report
        sb ++= s""","artifacts":["bands","shingles"]"""
      case _ => ()
    }
    // orphaned staging (crashed/fenced writers' token-suffixed dirs
    // and unmarked generations above live): invisible to readers but
    // reclaimed only by the NEXT committed mutation's retire sweep —
    // on a crashed-then-idle index this is a permanent leak until
    // RunGc runs, so the status face surfaces it (count + bytes from
    // a driver-side listing; an active holder's in-flight staging is
    // excluded by token)
    locally {
      val orphans = Layout.orphanedStaging(spark, indexDir)
      sb ++= s""","orphaned_staging":{"count":${orphans.size}"""
      sb ++= s""","bytes":${orphans.map(_._2).sum}}"""
    }
    Layout.leaseInfo(spark, indexDir).foreach { case (epoch, owner, age) =>
      sb ++= s""","lease":{"epoch":$epoch,"owner":${jstr(owner)}"""
      sb ++= s""","silent_s":${age / 1000}}"""
    }
    sb ++= "}"
    sb.toString
  }

  /** Recorded tombstone rows — `_rowcount` when the distributed
    * delete wrote one, a count of the (delete-batch-bounded) artifact
    * otherwise, 0 when compaction physically applied them. */
  private def tombRows(spark: SparkSession, path: String): Long =
    if (!Layout.pathExists(spark, path)) 0L
    else Layout.tombstoneRowCount(spark, path, spark.read.parquet(path))

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: RunStatus <indexDir>")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[32]"))
      .appName("graft-status")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println(describe(spark, args(0)))
    spark.stop()
  }
}
