package graft.io

import java.nio.file.Files

import graft.SparkSpecBase

/** scan_and_index E2E (reference indexer.py:115-178 +
  * tests/test_indexer.py): a small lake with BOTH artifact layouts —
  * reference-style single JSON files and engine-persisted directories
  * — indexes through the bulk sink with path-derived repo_name
  * enrichment, per-entity deterministic ids, blame re-chunking, and
  * the ensure-index hook. */
class IndexerSpec extends SparkSpecBase {

  private def writeFile(dir: java.io.File, name: String,
      body: String): Unit = {
    dir.mkdirs()
    val w = new java.io.PrintWriter(new java.io.File(dir, name), "UTF-8")
    try w.println(body) finally w.close()
  }

  private def buildLake(): String = {
    val root = Files.createTempDirectory("graft-lake").toFile
    // reference layout: pretty-printed list/object files
    writeFile(new java.io.File(root, "a_lib"), "issues.json",
      """[
        |  {"number": 1, "title": "t1", "user": {"login": "u1"}},
        |  {"number": 2, "title": "t2", "repo_name": "a/lib",
        |   "user": {"login": "u2"}}
        |]""".stripMargin)
    writeFile(new java.io.File(root, "a_lib"), "repo_blame.json",
      """{"repo_name": "a/lib", "ref": "main",
        |  "generated_at": "2026-01-01T00:00:00Z",
        |  "head_commit_sha": "h1",
        |  "files": [
        |    {"path": "src/x.js", "ref": "main", "total_lines": 3},
        |    {"path": "src/y.js", "ref": "main", "total_lines": 7}
        |  ]}""".stripMargin)
    writeFile(new java.io.File(root, "b_app"), "commits.json",
      """[{"sha": "c9", "commit": {"message": "m"}}]""")
    // engine layout: persisted line-JSON directory
    import spark.implicits._
    Seq("""{"number":5,"title":"t5","user":{"login":"u5"}}""").toDF("v")
      .selectExpr("from_json(v, 'number LONG, title STRING') as r")
      .select("r.number", "r.title")
      .coalesce(1).write.mode("overwrite")
      .json(s"${root.getAbsolutePath}/c_svc/issues")
    root.getAbsolutePath
  }

  private def readIndexed(dir: String, index: String): Seq[(String, String)] = {
    val d = new java.io.File(dir, index)
    if (!d.isDirectory) return Seq.empty
    d.listFiles().toSeq.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().toList finally src.close()
    }.grouped(2).map(p => (p.head, p(1))).toSeq
  }

  test("scanAndIndex streams both layouts with ids, rechunk, and hooks") {
    // `file:` URI on purpose: the lake listing must go through the
    // Hadoop FileSystem API (globStatus), not java.io.File — this is
    // the path an object-store lake takes.
    val lake = "file:" + buildLake()
    val sink = Files.createTempDirectory("graft-sink").toString
    var ensured: List[(String, Option[String])] = Nil
    val res = Indexer.scanAndIndex(spark, lake,
      new BulkSink.FileTransport(sink), indexPrefix = "gh_",
      ensureIndex = (n, m) => ensured = ensured :+ (n -> m))

    // all nine indices ensured up front, prefixed, each with its typed
    // mapping body (the reference's MAPPINGS contract)
    assert(ensured.length == 9 && ensured.forall(_._1.startsWith("gh_")))
    assert(ensured.map(_._1).contains("gh_repo_blame"))
    ensured.foreach { case (name, mapping) =>
      assert(mapping == StoreMappings.forEntity.get(name.stripPrefix("gh_")),
        name)
      assert(mapping.isDefined, name)
    }

    // issues: 2 from the file layout + 1 from the directory layout,
    // repo_name enriched from the folder when absent
    assert(res("issues") == BulkSink.BulkResult(3, 0))
    val issues = readIndexed(sink, "gh_issues")
    val ids = issues.map(_._1).sorted
    assert(ids.exists(_.contains(""""_id":"a/lib#issue#1"""")), ids)
    assert(ids.exists(_.contains(""""_id":"a/lib#issue#2"""")))
    assert(ids.exists(_.contains(""""_id":"c/svc#issue#5"""")))
    val doc1 = issues.find(_._1.contains("a/lib#issue#1")).get._2
    assert(doc1.contains(""""repo_name":"a/lib""""))

    // commits keyed by sha
    assert(res("commits") == BulkSink.BulkResult(1, 0))
    assert(readIndexed(sink, "gh_commits").head._1
      .contains(""""_id":"c9""""))

    // repo_blame re-chunked: one doc per file, file-level ids
    assert(res("repo_blame") == BulkSink.BulkResult(2, 0))
    val blameIds = readIndexed(sink, "gh_repo_blame").map(_._1)
    assert(blameIds.forall(_.contains("a/lib#blame#main#file#")), blameIds)
    assert(blameIds.distinct.length == 2)

    // absent artifacts are skipped, not failed (the reference's
    // per-file `continue`)
    assert(!res.contains("contributors"))
  }

  test("concurrent export gives the docs and ids of a sequential one") {
    // the sequential reference indexes one entity per call, one call
    // after another, from single-entity copies of the lake
    val lake = buildLake()
    val sink = Files.createTempDirectory("graft-sink-par").toString
    val all = Indexer.scanAndIndex(spark, lake, new BulkSink.FileTransport(sink))
    val seqSink = Files.createTempDirectory("graft-sink-seq").toString
    val entities = Seq("repo_meta", "issues", "pull_requests", "commits",
      "contributors", "prs_with_linked_issues", "issues_closed_by_commits",
      "cross_repo_links", "repo_blame")
    val one = entities.flatMap { e =>
      val root = Files.createTempDirectory(s"graft-lake-$e").toFile
      for (repo <- new java.io.File(lake).listFiles();
           src <- Seq(new java.io.File(repo, e), new java.io.File(repo, s"$e.json"))
           if src.exists()) {
        val to = new java.io.File(root, repo.getName).toPath
        Files.walk(src.toPath).forEach { p =>
          val d = to.resolve(repo.toPath.relativize(p))
          if (Files.isDirectory(p)) Files.createDirectories(d)
          else {
            Files.createDirectories(d.getParent)
            Files.copy(p, d)
          }
        }
      }
      Indexer.scanAndIndex(spark, root.getAbsolutePath,
        new BulkSink.FileTransport(seqSink)).get(e).map(e -> _)
    }.toMap
    assert(all == one)
    assert(all.keySet == Set("issues", "commits", "repo_blame"))
    for (e <- entities) {
      val par = readIndexed(sink, e).sorted
      assert(par == readIndexed(seqSink, e).sorted, e)
      assert(par.map(_._1).distinct.length == par.length, s"$e: duplicate ids")
    }
  }

  test("dry run counts without writing") {
    val lake = buildLake()
    val sink = Files.createTempDirectory("graft-sink-dry").toString
    var ensured = 0
    val res = Indexer.scanAndIndex(spark, lake,
      new BulkSink.FileTransport(sink), dryRun = true,
      ensureIndex = (_, _) => ensured += 1)
    assert(ensured == 0) // dry run: no store mutations at all
    assert(res("issues") == BulkSink.BulkResult(3, 0))
    assert(res("repo_blame") == BulkSink.BulkResult(2, 0))
    assert(new java.io.File(sink).listFiles() == null ||
      new java.io.File(sink).listFiles().isEmpty)
  }
}
