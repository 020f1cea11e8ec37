package graft.tools

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.io.Layout

/** Staging GC CLI — the reclamation face for orphaned staging that
  * the normal retire sweep never reaches: token-suffixed
  * `gen-N.<token>` / side directories (a writer that crashed or was
  * fenced out mid-stage), and unmarked `gen-N` dirs above the live
  * generation with their finally-named side dirs (a commit that died
  * after its renames, before the marker): a fold's `<kind>-v<gen>`,
  * and an append's `seg-<id>` that no retained segment manifest
  * references. Those are invisible to every reader by
  * construction, but [[graft.io.Layout
  * .dropSupersededGenerations]] runs only AFTER a committed mutation
  * — an index that crashes and then goes idle leaks them forever,
  * and `RunStatus` reports exactly that leak (`orphaned_staging`).
  * This tool reclaims it WITHOUT folding: no corpus read, no new
  * generation — the committed state (and every search page) is
  * bit-identical before and after. All three index families (text,
  * vector, near-dup band) commit through the same generation
  * protocol, so one sweep covers them.
  *
  * Usage: RunGc <indexDir> [--wait <sec>]
  *
  * Runs under the mutation lease (single-writer contract: a zombie
  * whose staging we are deleting is fenced by construction — if it
  * is somehow still alive its commit aborts at the fence re-read,
  * and deleting its staging is precisely this tool's job). `--wait`
  * polls the acquisition like RunCompact/RunTakedown. Safe to re-run
  * (an empty sweep deletes nothing). Prints one JSON line with the
  * reclaimed dir count and bytes. */
object RunGc {

  /** Separated from main for RunGcSpec: reclaim orphaned staging
    * under the lease, returning (dirsReclaimed, bytesReclaimed).
    * Manifest-referenced names are excluded (STRICT: a manifest read
    * failure aborts the sweep — that set is the only guard on
    * deletion). */
  def run(spark: SparkSession, indexDir: String,
      waitSec: Option[Long] = None): (Int, Long) =
    Layout.withLeaseWait(spark, waitSec) {
      Layout.withMutationLease(spark, indexDir) {
        val orphans = Layout.orphanedStaging(spark, indexDir,
          underLease = true)
        val p = new Path(indexDir)
        val fs = p.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        // count an orphan reclaimed only when the delete SUCCEEDS —
        // a false return (permission, transient store error) must
        // not inflate the reported reclamation
        val deleted = orphans.filter { case (name, _) =>
          fs.delete(new Path(p, name), true)
        }
        (deleted.size, deleted.map(_._2).sum)
      }
    }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: RunGc <indexDir> [--wait <sec>]")
    val waitSec = args.indexOf("--wait") match {
      case i if i >= 0 && i + 1 < args.length => Some(args(i + 1).toLong)
      case i if i >= 0 => throw new IllegalArgumentException(
        "--wait requires a value in seconds")
      case _ => None
    }
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[32]"))
      .appName("graft-gc")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val (dirs, bytes) = run(spark, args(0), waitSec)
    println(s"""{"tool":"gc","reclaimed_dirs":$dirs,""" +
      s""""reclaimed_bytes":$bytes}""")
    spark.stop()
  }
}
