package graft.io

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpecBase
import graft.model.Entities

/** Covers S6 schema'd reads with the rescue column, P2/P7/P8 helpers,
  * §1.5 id expressions, and the K2 bulk sink's batching + id wiring
  * (mirrors tests/test_es_client.py:23-41 accounting and
  * tests/test_indexer.py repo_name handling).
  */
class IoSpec extends SparkSpecBase {

  test("readEntity parses issues JSON with core schema; fringe rescued") {
    val dir = Files.createTempDirectory("graft-io").toFile
    val f = new java.io.File(dir, "issues.json")
    val w = new java.io.PrintWriter(f, "UTF-8")
    w.println("""[
      {"repo_name":"o/r","number":1,"state":"open","title":"t1",
       "user":{"login":"alice"},"some_new_github_field":{"x":1}},
      {"repo_name":"o/r","number":2,"state":"closed","title":"t2",
       "user":{"login":"bob"},"pull_request":{"url":"u"}}
    ]""")
    w.close()
    val df = JsonEntities.readEntity(spark, "issues", f.getAbsolutePath)
    assert(df.count() == 2)
    val byNum = df.collect().map(r => r.getAs[Long]("number") -> r).toMap
    assert(byNum(1L).getAs[Row]("user").getAs[String]("login") == "alice")
    // P1 marker usable for the PR filter
    assert(df.filter(col("pull_request").isNull).count() == 1)
  }

  test("P2/P7/P8 helpers") {
    import spark.implicits._
    val df = Seq(("micromatch_micromatch", null: String,
      "2020-01-02T03:04:05Z")).toDF("folder", "repo_name", "ts")
    val out = df.select(
      JsonEntities.folderRepoName($"folder").as("rn"),
      JsonEntities.parsedTs($"ts").cast("string").as("ts"))
    assert(out.head.getString(0) == "micromatch/micromatch")
    assert(out.head.getString(1) == "2020-01-02 03:04:05")
    val stamped = JsonEntities.ensureRepoName(df, "o/r")
      .select("repo_name").head.getString(0)
    assert(stamped == "o/r")
  }

  test("id expressions produce the reference key shapes") {
    import spark.implicits._
    val issues = Seq(("o/r", 155L)).toDF("repo_name", "number")
    assert(issues.select(Ids.issueId).head.getString(0) == "o/r#issue#155")
    assert(issues.select(Ids.prId).head.getString(0) == "o/r#pr#155")

    val closed = Seq(("o/r", 133L, "abc")).toDF(
      "repo_name", "issue_number", "commit_sha")
    assert(closed.select(Ids.closedById).head.getString(0) ==
      "o/r#closedby#133#abc")

    // cross_repo_links: ':'-separated identity string, nulls render
    // "None" — pinned against CPython
    // hashlib.sha1 of the reference's schema.py:334-341 f-string
    def src = struct(lit("o/r").as("repo_name"), lit("issue").as("type"),
      lit(155L).as("number")).as("source")
    val hit = spark.range(1).select(src,
      struct(lit("x/y").as("repo_name"), lit("pull_request").as("type"),
        lit(7L).as("number")).as("target"))
    val miss = spark.range(1).select(src,
      struct(lit(null).cast("string").as("repo_name"),
        lit(null).cast("string").as("type"),
        lit(null).cast("long").as("number")).as("target"))
    val linkIds = hit.unionByName(miss)
      .select(Ids.crossLinkId).collect().map(_.getString(0))
    assert(linkIds(0) == "7354426685f42f7278513901eddc510ceafdae90")
    assert(linkIds(1) == "d95ae7b7e5035b0c4ecc568d1fab89dd1dfc016b")

    // repo_blame per-file doc: '{repo}#blame#{ref}#file#{digest}'
    // (schema.py:344-358), digest pinned against CPython hashlib
    val blame = Seq(("o/r", "main", Seq("src/a.js")))
      .toDF("repo_name", "ref", "paths")
      .select(col("repo_name"), col("ref"),
        transform(col("paths"), p => struct(p.as("path"))).as("files"))
    assert(blame.select(Ids.blameFileId).head.getString(0) ==
      "o/r#blame#main#file#2cd5cc19daa9d633a64bcb4c06b0eb681bf61ff0")

    // stable hash: invariant under column order (schema.py:25-29)
    val a = Seq((1, "x")).toDF("k", "v")
      .select(Ids.stableHashId(struct(col("k"), col("v"))))
    val b = Seq(("x", 1)).toDF("v", "k")
      .select(Ids.stableHashId(struct(col("v"), col("k"))))
    assert(a.head.getString(0) == b.head.getString(0))
  }

  test("degraded records fall back to salted whole-record hashes") {
    import spark.implicits._
    // Each pinned against CPython: sha1(salt + json.dumps(doc,
    // sort_keys=True, separators=(',',':'), ensure_ascii=False)) — the
    // reference's stable_hash_id(doc, salt) fallback branches.
    val blame = Seq(("o/r", null: String, Seq("src/a.js")))
      .toDF("repo_name", "ref", "paths")
      .select(col("repo_name"), col("ref"),
        transform(col("paths"), p => struct(p.as("path"))).as("files"))
    assert(blame.select(Ids.blameFileId).head.getString(0) ==
      "61f86c584e14466bb530ff2d49b71538c633500d")

    // empty-string sha is Python-falsy (schema.py:303-304 `or`)
    val commits = Seq(("", "m")).toDF("sha", "message")
    assert(commits.select(Ids.commitId).head.getString(0) ==
      "80391c42ebda157713a4448734070ac3ae9dedfe")

    val issues = Seq(("o/r", null.asInstanceOf[java.lang.Long], "t"))
      .toDF("repo_name", "number", "title")
    assert(issues.select(Ids.issueId).head.getString(0) ==
      "94735e4e8aea9637e32eb96bd0194372ce75ff33")

    // non-degraded keys are untouched by the fallback wiring
    val ok = Seq(("sha1", "m")).toDF("sha", "message")
    assert(ok.select(Ids.commitId).head.getString(0) == "sha1")
  }

  test("entity schemas cover all nine tables") {
    assert(Entities.all.keySet == Set(
      "repo_meta", "issues", "pull_requests", "commits", "contributors",
      "prs_with_linked_issues", "issues_closed_by_commits",
      "cross_repo_links", "repo_blame"))
    // every entity carries the universal join key
    Entities.all.foreach { case (n, s) =>
      assert(n == "cross_repo_links" && s.fieldNames.contains("source") ||
        s.fieldNames.contains("repo_name"), s"$n missing repo_name")
    }
  }

  test("bulk sink: NDJSON batches with deterministic ids, ok accounting") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-bulk").toString
    val df = (1 to 7).map(i => ("o/r", i.toLong, s"t$i"))
      .toDF("repo_name", "number", "title").repartition(2)
    val res = BulkSink.write(df, "issues", Ids.issueId,
      new BulkSink.FileTransport(dir), batchSize = 3)
    assert(res.ok == 7 && res.failed == 0)

    val files = new java.io.File(dir, "issues").listFiles()
    // 2 partitions × ceil(rows/3) batches ≥ 3 files, ≤ 4
    assert(files.nonEmpty)
    val lines = files.flatMap(f =>
      scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq)
    assert(lines.length == 14) // action + doc per row
    val actions = lines.filter(_.contains("\"index\""))
    assert(actions.length == 7)
    assert(actions.forall(_.contains("\"_index\":\"issues\"")))
    assert(actions.exists(_.contains("\"_id\":\"o/r#issue#1\"")))
  }

  test("bulk sink failure accounting") {
    import spark.implicits._
    val df = (1 to 5).map(i => ("o/r", i.toLong))
      .toDF("repo_name", "number").coalesce(1)
    val failOne = new BulkSink.BulkTransport {
      def flush(index: String, lines: Seq[String]): Int = 1
    }
    val res = BulkSink.write(df, "issues", Ids.issueId, failOne,
      batchSize = 5)
    assert(res.ok == 4 && res.failed == 1)
  }

  test("writeDeterministic: sorted single-file snapshot round-trips") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-json").toString + "/out"
    val df = Seq((3L, "c"), (1L, "a"), (2L, "b")).toDF("number", "title")
    JsonEntities.writeDeterministic(df, dir, Seq("number"))
    val back = spark.read.json(dir).orderBy("number").collect()
    assert(back.map(_.getAs[Long]("number")).toSeq == Seq(1L, 2L, 3L))
  }

  test("writeDeterministic: one-stage sort writes the bytes of orderBy + coalesce(1)") {
    // a shuffled multi-partition frame with duplicate sort keys, written
    // both ways; a global orderBy followed by coalesce(1) was the
    // previous form
    val df = spark.range(0, 400, 1, 4).repartition(5).selectExpr(
      "id % 37 AS number", "named_struct('n', id % 11) AS source",
      "concat('t', id) AS title")
    val root = Files.createTempDirectory("graft-onestage").toString
    def part(dir: String): Array[Byte] = {
      val parts = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("part-"))
      assert(parts.length == 1, s"$dir: ${parts.map(_.getName).toSeq}")
      Files.readAllBytes(parts.head.toPath)
    }
    for (keys <- Seq(Seq("number"), Seq("source.n", "number"),
        Seq("title"))) {
      val name = keys.mkString("_")
      JsonEntities.writeDeterministic(df, s"$root/one/$name", keys)
      df.orderBy(keys.map(org.apache.spark.sql.functions.col): _*)
        .coalesce(1).write.json(s"$root/two/$name")
      assert(java.util.Arrays.equals(part(s"$root/one/$name"),
        part(s"$root/two/$name")), name)
    }
  }

  test("writeDeterministic: a driver-local frame writes with exactly one Spark job") {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "number BIGINT, title STRING")
    val df = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(3L, "c"), org.apache.spark.sql.Row(1L, "a"),
      org.apache.spark.sql.Row(2L, "b")), schema)
    val dir = Files.createTempDirectory("graft-onejob").toString + "/out"
    val group = s"write-one-job-${System.nanoTime()}"
    spark.sparkContext.setJobGroup(group, "one-stage write")
    try JsonEntities.writeDeterministic(df, dir, Seq("number"))
    finally spark.sparkContext.clearJobGroup()
    val jobs = spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
    assert(jobs == 1, s"$jobs jobs")
    val lines = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-"))
      .flatMap(f => Files.readAllLines(f.toPath).toArray.map(_.toString))
    assert(lines.toSeq == Seq("""{"number":1,"title":"a"}""",
      """{"number":2,"title":"b"}""", """{"number":3,"title":"c"}"""))
  }

  test("concurrent persist writes the same part files as sequential writes") {
    // nine shuffled multi-partition frames; persist fans the writes out
    // concurrently, the reference writes them one by one
    def frame(cols: String*): org.apache.spark.sql.DataFrame =
      spark.range(0, 300, 1, 4).repartition(4).selectExpr(cols: _*)
    // every sort key is unique (multipliers coprime to 300), as in the
    // real artifacts, so the sorted bytes are fully determined
    val repoMeta = frame("concat('o/r', id) AS repo_name",
      "concat('b', id) AS default_branch")
    val issues = frame("'o/r' AS repo_name", "id * 7 % 300 AS number",
      "concat('t', id) AS title")
    val prs = frame("'o/r' AS repo_name", "id * 11 % 300 AS number")
    val contributors = frame("concat('u', id * 13 % 300) AS login",
      "id AS contributions")
    val commits = frame("sha1(cast(id AS string)) AS sha",
      "concat('m', id) AS message")
    val prLinks = frame("id * 17 % 300 AS pr_number",
      "array(id, id + 1) AS issues")
    val closedBy = frame("sha1(cast(id % 50 AS string)) AS commit_sha",
      "id * 19 % 300 AS issue_number")
    val crossLinks = frame("named_struct('number', id % 40) AS source",
      "named_struct('number', id * 23 % 300) AS target")
    val repoBlame = frame("concat('o/r', id) AS repo_name",
      "array(named_struct('path', concat('f', id))) AS files")
    val out = graft.pipeline.Pipeline.RepoOutputs(repoMeta, issues, prs,
      contributors, commits, prLinks, closedBy, crossLinks, repoBlame)
    val root = Files.createTempDirectory("graft-persist").toString
    graft.pipeline.Pipeline.persist("o/r", out, s"$root/par")
    val sequential = Seq(
      (repoMeta, "repo_meta", Seq("repo_name")),
      (issues, "issues", Seq("number")),
      (prs, "pull_requests", Seq("number")),
      (contributors, "contributors", Seq("login")),
      (commits, "commits", Seq("sha")),
      (prLinks, "prs_with_linked_issues", Seq("pr_number")),
      (closedBy, "issues_closed_by_commits", Seq("commit_sha", "issue_number")),
      (crossLinks, "cross_repo_links", Seq("source.number", "target.number")),
      (repoBlame, "repo_blame", Seq("repo_name")))
    sequential.foreach { case (df, name, keys) =>
      JsonEntities.writeDeterministic(df, s"$root/seq/o_r/$name", keys)
    }
    def part(dir: String): Array[Byte] = {
      val parts = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("part-"))
      assert(parts.length == 1, s"$dir: ${parts.map(_.getName).toSeq}")
      Files.readAllBytes(parts.head.toPath)
    }
    sequential.foreach { case (_, name, _) =>
      val p = part(s"$root/par/o_r/$name")
      assert(p.nonEmpty, name)
      assert(java.util.Arrays.equals(p, part(s"$root/seq/o_r/$name")), name)
    }
  }
}
