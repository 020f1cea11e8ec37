package graft.io

import graft.SparkSpecBase

class LayoutSpec extends SparkSpecBase {

  test("copyArtifact carries _rowcount in both regimes; tombstoneRowCount never scans when recorded") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("layout-copy")
      .toFile.getAbsolutePath
    val ids = (1L to 500L).toDF("doc_id")
    Layout.writeTombstoneArtifact(spark, ids, s"$base/tomb", 500L)
    assert(Layout.pathExists(spark, s"$base/tomb/_rowcount"))
    // recorded count reads WITHOUT evaluating the frame — a by-name
    // argument that throws proves no scan happens
    assert(Layout.tombstoneRowCount(spark, s"$base/tomb",
      sys.error("the recorded count must short-circuit the frame")) == 500L)
    // small regime: raw byte copy, side file survives
    Layout.copyArtifact(spark, s"$base/tomb", s"$base/tomb_small")
    assert(Layout.pathExists(spark, s"$base/tomb_small/_rowcount"))
    assert(spark.read.parquet(s"$base/tomb_small").count() == 500L)
    // large regime (forced by a tiny threshold): the parquet content
    // copies DISTRIBUTED — a corpus-scale tombstone set mid-backlog
    // must never serialize through one driver stream — and the
    // _rowcount side file still follows
    spark.conf.set("graft.index.artifactCopyMaxBytes", "1")
    try {
      Layout.copyArtifact(spark, s"$base/tomb", s"$base/tomb_big")
      assert(Layout.pathExists(spark, s"$base/tomb_big/_rowcount"))
      assert(Layout.tombstoneRowCount(spark, s"$base/tomb_big",
        sys.error("recorded count must carry through the copy")) == 500L)
      assert(spark.read.parquet(s"$base/tomb_big")
        .orderBy($"doc_id").collect().map(_.getLong(0)).toSeq ==
        (1L to 500L))
    } finally spark.conf.unset("graft.index.artifactCopyMaxBytes")
    // legacy artifact (no _rowcount): the fallback counts the frame
    ids.write.parquet(s"$base/legacy")
    assert(Layout.tombstoneRowCount(spark, s"$base/legacy",
      spark.read.parquet(s"$base/legacy")) == 500L)
  }

  test("CreateCommitMarker is create-IF-ABSENT and stamps the fence token") {
    // a pre-existing `_COMMITTED` is protocol-unreachable (the gen
    // dir stages token-unique and commitGeneration deletes a leftover
    // final name before its rename), so the default publisher turns
    // "can't happen" into a LOUD failure instead of silently
    // re-publishing over another writer's marker — and the marker
    // content records WHICH fence token published the generation
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("marker")
      .toFile.getAbsolutePath
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new Path(s"$dir/_COMMITTED")
    val pub = new CreateCommitMarker
    assert(pub.publish(fs, marker, dir, Some("cafe0123cafe")))
    def content(): String = {
      val in = fs.open(marker)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    assert(content() == "cafe0123cafe",
      "the marker must carry the publishing writer's fence token")
    val e = intercept[java.io.IOException] {
      pub.publish(fs, marker, dir, Some("beefbeefbeef"))
    }
    assert(e != null)
    assert(content() == "cafe0123cafe",
      "a refused re-publish must leave the original marker intact")
    // a lease-less legacy caller publishes an EMPTY marker (no token
    // to attribute) — still create-if-absent
    val marker2 = new Path(s"$dir/_COMMITTED2")
    assert(pub.publish(fs, marker2, dir, None))
    assert(fs.getFileStatus(marker2).getLen == 0)
  }
}
