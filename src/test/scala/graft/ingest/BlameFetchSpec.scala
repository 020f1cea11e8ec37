package graft.ingest

import graft.SparkSpecBase

/** The ref→object blame fallback (collectors.py:240-279): ref query
  * first; a non-Commit ref target, a GraphQL errors array, or an HTTP
  * failure falls back to the object query; neither succeeding raises.
  * Driven entirely through an injected transport. */
class BlameFetchSpec extends SparkSpecBase {

  private val endpoint = "https://gql.test/graphql"
  private val cfg = GithubClient.Config(maxRetries = 0)

  private val commitJson: String =
    """{"__typename":"Commit","oid":"root1",
      |  "blame":{"ranges":[
      |    {"startingLine":1,"endingLine":10,"age":2,
      |     "commit":{"oid":"c1","committedDate":"2024-01-01T00:00:00Z",
      |       "message":"m1","author":{"name":"A","email":null,
      |       "user":{"login":"alice"}}}}]}}""".stripMargin
  private val refBody =
    s"""{"data":{"repository":{"ref":{"target":$commitJson}}}}"""
  private val objBody =
    s"""{"data":{"repository":{"object":$commitJson}}}"""

  private class GqlTransport(respond: String => GithubClient.Response)
      extends GithubClient.Transport {
    var posts: List[String] = Nil
    def get(url: String, headers: Map[String, String]): GithubClient.Response =
      GithubClient.Response(404)
    override def post(url: String, headers: Map[String, String],
        body: String): GithubClient.Response = {
      posts = posts :+ body
      respond(body)
    }
  }

  test("ref query success: no fallback, rows in blameRangesSchema shape") {
    val t = new GqlTransport(body => {
      assert(body.contains("BlameByRef"))
      assert(body.contains("refs/heads/main"))
      GithubClient.Response(200, body = refBody)
    })
    val rows = BlameFetch.fetchFileBlame(spark, t, cfg, endpoint,
      "o", "r", "main", "src/a.js").collect()
    assert(t.posts.length == 1)
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("root_commit_oid") == "root1")
    assert(rows.head.getAs[Long]("startingLine") == 1L)
    assert(rows.head.getAs[org.apache.spark.sql.Row]("commit")
      .getAs[org.apache.spark.sql.Row]("author")
      .getAs[org.apache.spark.sql.Row]("user")
      .getAs[String]("login") == "alice")
  }

  test("non-Commit ref target falls back to the object query") {
    val t = new GqlTransport(body =>
      if (body.contains("BlameByRef"))
        GithubClient.Response(200, body =
          """{"data":{"repository":{"ref":{"target":{"__typename":"Tag"}}}}}""")
      else GithubClient.Response(200, body = objBody))
    val rows = BlameFetch.fetchFileBlame(spark, t, cfg, endpoint,
      "o", "r", "main", "src/a.js").collect()
    assert(t.posts.length == 2)
    assert(t.posts(1).contains("BlameByObject"))
    assert(rows.head.getAs[String]("root_commit_oid") == "root1")
  }

  test("GraphQL errors array triggers the fallback too") {
    val t = new GqlTransport(body =>
      if (body.contains("BlameByRef"))
        GithubClient.Response(200, body =
          """{"errors":[{"message":"boom"}]}""")
      else GithubClient.Response(200, body = objBody))
    val rows = BlameFetch.fetchFileBlame(spark, t, cfg, endpoint,
      "o", "r", "main", "p").collect()
    assert(rows.length == 1)
  }

  test("Commit with zero ranges yields an EMPTY frame (skip-file signal)") {
    val t = new GqlTransport(_ => GithubClient.Response(200, body =
      """{"data":{"repository":{"ref":{"target":{
        |  "__typename":"Commit","oid":"root1",
        |  "blame":{"ranges":[]}}}}}}""".stripMargin))
    val df = BlameFetch.fetchFileBlame(spark, t, cfg, endpoint,
      "o", "r", "main", "empty.bin")
    assert(t.posts.length == 1) // empty ranges do NOT trigger fallback
    assert(df.collect().isEmpty) // no phantom all-null range row
  }

  test("neither path yielding a Commit raises (reference raise parity)") {
    val t = new GqlTransport(_ => GithubClient.Response(200,
      body = """{"data":{"repository":{}}}"""))
    intercept[IllegalStateException] {
      BlameFetch.fetchFileBlame(spark, t, cfg, endpoint, "o", "r", "main", "p")
    }
  }

  test("checking a Commit target runs no Spark job") {
    // the response check runs per blamed file, so it must stay on the
    // driver: count jobs in a dedicated (thread-local) job group
    def jobsOf(respond: String => GithubClient.Response): Int = {
      val group = s"blame-jobs-${System.nanoTime()}"
      spark.sparkContext.setJobGroup(group, "blame check job count")
      try BlameFetch.fetchFileBlame(spark, new GqlTransport(respond),
        cfg, endpoint, "o", "r", "main", "p")
      finally spark.sparkContext.clearJobGroup()
      spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
    }
    assert(jobsOf(_ => GithubClient.Response(200, body = refBody)) == 0,
      "ref hit")
    assert(jobsOf(body =>
      if (body.contains("BlameByRef"))
        GithubClient.Response(200, body =
          """{"data":{"repository":{"ref":{"target":{"__typename":"Tag"}}}}}""")
      else GithubClient.Response(200, body = objBody)) == 0,
      "object fallback")
    assert(jobsOf(_ => GithubClient.Response(200, body =
      """{"data":{"repository":{"ref":{"target":{
        |  "__typename":"Commit","oid":"root1",
        |  "blame":{"ranges":[]}}}}}}""".stripMargin)) == 0,
      "empty ranges")
  }

  test("already-qualified refs pass through unprefixed") {
    assert(BlameFetch.qualifiedRef("main") == "refs/heads/main")
    assert(BlameFetch.qualifiedRef("refs/tags/v1") == "refs/tags/v1")
  }

  test("control characters in paths produce a valid JSON request body") {
    // A path with a tab and newline is legal in git; the variables
    // object must escape them (raw control bytes inside a JSON string
    // literal are invalid and GitHub rejects the body).
    val t = new GqlTransport(_ => GithubClient.Response(200, body = refBody))
    BlameFetch.fetchFileBlame(spark, t, cfg, endpoint,
      "o", "r", "main", "odd\tname\nfile.js").collect()
    val body = t.posts.head
    assert(!body.exists(c => c == '\t' || c == '\n'),
      "raw control characters leaked into the request body")
    // the body itself must round-trip through a JSON parser
    import spark.implicits._
    val parsed = spark.read.json(Seq(body).toDS())
      .select(org.apache.spark.sql.functions.col("variables.path"))
    assert(parsed.head.getString(0) == "odd\tname\nfile.js")
  }
}
