package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** GraphQL blame retrieval with the ref→object fallback (reference
  * collectors.py:58-119 query shapes, 240-279 fallback): blame is
  * first requested through the branch ref (`refs/heads/...`); when
  * that response errors or the ref target is not a Commit (e.g. a
  * lightweight-tag default branch), the same ranges are re-requested
  * through `object(expression:)`. Responses parse through Spark's
  * `from_json` with an explicit schema — never string matching — and
  * flatten to the `Pipeline.blameRangesSchema` row shape
  * `Blame.summarizeBlameAll` consumes.
  */
object BlameFetch {

  /** Query texts follow the public GitHub GraphQL v4 blame API shape
    * (repository → ref/object → Commit.blame.ranges). */
  val blameQueryByRef: String =
    """query BlameByRef($owner:String!, $name:String!, $qualified:String!, $path:String!) {
      |  repository(owner:$owner, name:$name) {
      |    ref(qualifiedName:$qualified) {
      |      target { __typename ... on Commit { oid blame(path:$path) {
      |        ranges { startingLine endingLine age
      |          commit { oid committedDate message
      |            author { name email user { login } } } } } } }
      |    }
      |  }
      |}""".stripMargin

  val blameQueryByObject: String =
    """query BlameByObject($owner:String!, $name:String!, $ref:String!, $path:String!) {
      |  repository(owner:$owner, name:$name) {
      |    object(expression:$ref) { __typename ... on Commit { oid
      |      blame(path:$path) {
      |        ranges { startingLine endingLine age
      |          commit { oid committedDate message
      |            author { name email user { login } } } } } } }
      |  }
      |}""".stripMargin

  /** Branch → fully qualified ref name (collectors.py:246). */
  def qualifiedRef(branch: String): String =
    if (branch.startsWith("refs/")) branch else s"refs/heads/$branch"

  private val author = StructType(Seq(
    StructField("name", StringType),
    StructField("email", StringType),
    StructField("user", StructType(Seq(StructField("login", StringType))))))
  private val range = StructType(Seq(
    StructField("startingLine", LongType),
    StructField("endingLine", LongType),
    StructField("age", LongType),
    StructField("commit", StructType(Seq(
      StructField("oid", StringType),
      StructField("committedDate", StringType),
      StructField("message", StringType),
      StructField("author", author))))))
  private val commitTarget = StructType(Seq(
    StructField("__typename", StringType),
    StructField("oid", StringType),
    StructField("blame", StructType(Seq(
      StructField("ranges", ArrayType(range)))))))
  private val responseSchema = StructType(Seq(
    StructField("data", StructType(Seq(
      StructField("repository", StructType(Seq(
        StructField("ref", StructType(Seq(
          StructField("target", commitTarget)))),
        StructField("object", commitTarget))))))),
    StructField("errors", ArrayType(StructType(Seq(
      StructField("message", StringType)))))))

  /** The flattened output row shape (= Pipeline.blameRangesSchema). */
  private val rangeRowSchema = StructType(
    StructField("path", StringType) +:
      StructField("root_commit_oid", StringType) +:
      range.fields.toIndexedSeq)

  /** `from_json` over a one-row local relation: the optimizer folds
    * the parse into the relation, so the per-file response check in
    * [[commitRows]] runs on the driver with no Spark job. */
  private def parse(spark: SparkSession, body: String): DataFrame = {
    import spark.implicits._
    Seq(body).toDF("v")
      .select(from_json(col("v"), responseSchema).as("j"))
      .select(col("j.*"))
  }

  /** (root_commit_oid, ranges rows) from a parsed Commit target, None
    * when the response errored or the target is not a Commit (the
    * fallback trigger). A Commit with ZERO ranges yields an EMPTY
    * DataFrame — the reference's skip-this-file signal
    * (collectors.py:397-399) — decided from the already-collected
    * head, so callers never run a job just to test emptiness. */
  private def commitRows(parsed: DataFrame, targetPath: String,
      path: String): Option[DataFrame] = {
    val head = parsed.select(
      col(s"$targetPath.__typename").as("tpe"),
      size(coalesce(col("errors"), array())).as("n_errors"),
      size(coalesce(col(s"$targetPath.blame.ranges"), array()))
        .as("n_ranges"))
      .collect().headOption
    val ok = head.exists(r =>
      r.getAs[String]("tpe") == "Commit" && r.getAs[Int]("n_errors") == 0)
    if (!ok) None
    else if (head.get.getAs[Int]("n_ranges") <= 0)
      Some(parsed.sparkSession.createDataFrame(
        parsed.sparkSession.sparkContext
          .emptyRDD[org.apache.spark.sql.Row], rangeRowSchema))
    else Some(parsed.select(
      lit(path).as("path"),
      col(s"$targetPath.oid").as("root_commit_oid"),
      explode(col(s"$targetPath.blame.ranges")).as("r"))
      .select(col("path"), col("root_commit_oid"),
        col("r.startingLine").as("startingLine"),
        col("r.endingLine").as("endingLine"),
        col("r.age").as("age"),
        col("r.commit").as("commit")))
  }

  /** GraphQL variables object. Values go through the full JSON string
    * escape (GithubClient.jsonString) — repo paths can legally contain
    * control characters (a file named with a tab/newline), which a
    * quote-and-backslash-only escape would emit as raw bytes inside
    * the string literal, producing an invalid request body. */
  private def vars(pairs: (String, String)*): String =
    pairs.map { case (k, v) =>
      "\"" + k + "\":" + GithubClient.jsonString(v)
    }.mkString("{", ",", "}")

  /** fetch_file_blame (collectors.py:240-279): ref query first, object
    * query when the ref path fails; IllegalStateException when neither
    * yields a Commit (the reference raises per file, and its caller
    * warns and skips that file, collectors.py:386-389 — LivePipeline
    * does the same). An empty result (Commit with no ranges) is the
    * skip-this-file signal. Rows conform to Pipeline.blameRangesSchema. */
  def fetchFileBlame(
      spark: SparkSession,
      transport: GithubClient.Transport,
      cfg: GithubClient.Config,
      endpoint: String,
      owner: String,
      repo: String,
      branch: String,
      path: String): DataFrame = {
    val byRef = GithubClient.graphql(transport, cfg, endpoint,
      blameQueryByRef, vars("owner" -> owner, "name" -> repo,
        "qualified" -> qualifiedRef(branch), "path" -> path))
    val refRows =
      if (byRef.status < 200 || byRef.status >= 300) None
      else commitRows(parse(spark, byRef.body),
        "data.repository.ref.target", path)
    refRows.getOrElse {
      val byObj = GithubClient.graphql(transport, cfg, endpoint,
        blameQueryByObject, vars("owner" -> owner, "name" -> repo,
          "ref" -> branch, "path" -> path))
      val objRows =
        if (byObj.status < 200 || byObj.status >= 300) None
        else commitRows(parse(spark, byObj.body),
          "data.repository.object", path)
      objRows.getOrElse(throw new IllegalStateException(
        s"blame unavailable for $owner/$repo:$path via ref and object"))
    }
  }
}
