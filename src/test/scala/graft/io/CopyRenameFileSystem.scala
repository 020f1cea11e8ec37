package graft.io

import java.net.URI

import org.apache.hadoop.fs.Path

/** A local filesystem whose `rename` is COPY + DELETE — the plain-S3A
  * shape (no metadata layer: each "renamed" object is copied to the
  * new key, then the old keys are deleted), registered under the
  * `cprn://` scheme. [[Layout.commitGeneration]]'s contract documents
  * that on such a store a crash mid-"rename" can leave a
  * PARTIALLY-COPIED finally-named directory, and claims it stays
  * invisible (no `_COMMITTED` marker) and is reclaimed;
  * CopyRenameFsSpec pins exactly that claim here, with
  * [[CopyRenameFileSystem.crashStagedRenameAfterFiles]] injecting the
  * crash mid-copy. Extends [[NoSetTimesFileSystem]] so the heartbeat
  * also runs its sidecar fallback — the full object-store posture.
  *
  * The injection targets ONLY renames whose source is a token-unique
  * staging dir (`*.<12-hex>` — [[Layout.stageGenerationDir]]'s
  * shape): Spark's parquet committer also renames (task attempts out
  * of `_temporary/`), and crashing those would test the committer,
  * not the generation commit. */
class CopyRenameFileSystem extends NoSetTimesFileSystem {
  override def getScheme: String = "cprn"
  override def getUri: URI = URI.create("cprn:///")

  private def copyRec(src: Path, dst: Path,
      tick: Option[Path => Unit]): Unit = {
    val st = getFileStatus(src)
    if (st.isDirectory) {
      mkdirs(dst)
      listStatus(src).foreach(c =>
        copyRec(c.getPath, new Path(dst, c.getPath.getName), tick))
    } else {
      tick.foreach(_(src))
      val in = open(src)
      try {
        val out = create(dst, true)
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 4096, true)
      } finally in.close()
    }
  }

  override def rename(src: Path, dst: Path): Boolean = {
    if (!exists(src)) return false
    // the crash hook targets token-unique staging renames only;
    // Spark's parquet committer renames (_temporary task attempts)
    // never match and never crash
    val tick: Option[Path => Unit] =
      if (CopyRenameFileSystem.stagedRe
          .pattern.matcher(src.getName).matches())
        Some(CopyRenameFileSystem.tick)
      else None
    copyRec(src, dst, tick)
    delete(src, true) // only after the full copy — the S3A ordering
    true
  }
}

object CopyRenameFileSystem {
  private[io] val stagedRe = "^.+\\.[0-9a-f]{12}$".r

  /** Crash injection: when >= 0, the Nth file copied inside a
    * staged-dir rename throws (0 = fail before any file lands beyond
    * directory skeletons). Reset to -1 after firing so the re-run
    * proceeds clean. */
  @volatile var crashStagedRenameAfterFiles: Int = -1

  private def tick(src: Path): Unit = {
    val n = crashStagedRenameAfterFiles
    if (n == 0) {
      crashStagedRenameAfterFiles = -1
      throw new java.io.IOException(
        s"simulated crash mid-copy-rename at $src")
    } else if (n > 0) crashStagedRenameAfterFiles = n - 1
  }
}
