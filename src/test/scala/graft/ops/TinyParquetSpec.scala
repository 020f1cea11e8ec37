package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpecBase
import graft.io.TinyParquet

/** TinyParquet (the driver-side metadata-artifact reader) must be a
  * drop-in for `spark.read.parquet` on every artifact SHAPE the
  * stored-index layouts write: same rows, same schema (names, types,
  * nullability), across single/multi part files, zero-row
  * schema-bearing artifacts (ensureReadableParquet), null fields and
  * array columns. It must REFUSE shapes outside the metadata class
  * instead of mis-reading them. */
class TinyParquetSpec extends SparkSpecBase {
  import spark.implicits._

  // Row.toString leaks the Seq implementation class (Vector vs
  // ArraySeq) for array columns; canonicalize to List first — the
  // VALUES are what the reader must reproduce
  private def key(r: Row): String = r.toSeq.map {
    case s: scala.collection.Seq[_] => s.toList.toString
    case b: Array[Byte] => b.toList.toString
    case v => String.valueOf(v)
  }.mkString("|")

  private def roundTrip(df: DataFrame, parts: Int = 1): Unit = {
    val dir = Files.createTempDirectory("tinypq").toString + "/art"
    df.repartition(parts).write.parquet(dir)
    val viaSpark = spark.read.parquet(dir)
    val (schema, rows) = TinyParquet.read(spark, dir)
    assert(schema === viaSpark.schema)
    assert(rows.map(key).sorted === viaSpark.collect().toSeq.map(key).sorted)
    // and the frame face: LocalRelation with identical content
    val frame = TinyParquet.readFrame(spark, dir)
    assert(frame.schema === viaSpark.schema)
    assert(frame.collect().toSeq.map(key).sorted ===
      viaSpark.collect().toSeq.map(key).sorted)
    assert(frame.queryExecution.optimizedPlan.collectLeaves().forall(
      _.getClass.getSimpleName.contains("LocalRelation")),
      "readFrame must plan as a LocalRelation (no scan job)")
  }

  test("1-row stats shape: longs, ints, booleans, doubles") {
    roundTrip(Seq((1500L, 112233L, 16, true, false, 74.8))
      .toDF("n_docs", "sum_doclen", "buckets", "has_positions",
        "has_termvectors", "avgdl"))
  }

  test("multi-row manifest shape: strings + longs, several part files") {
    roundTrip((1 to 7).map(i => (s"seg-$i/part", i.toLong, s"tok$i"))
      .toDF("dir", "gen", "token"), parts = 3)
  }

  test("codebook shape: array<double> + ids") {
    roundTrip(Seq((0, 0, Seq(1.5, -2.25, 3.125)),
      (0, 1, Seq(0.0, 4.5, -1.0)), (1, 0, Seq(9.0, 8.0, 7.0)))
      .toDF("sub_id", "code", "centroid"))
  }

  test("null fields and null array elements survive") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType, nullable = true),
      StructField("xs", ArrayType(DoubleType, containsNull = true))))
    val rows = java.util.Arrays.asList(
      Row(1L, null, Seq(1.0, null, 3.0)),
      Row(2L, "b", null))
    roundTrip(spark.createDataFrame(rows, schema))
  }

  test("zero-row schema-bearing artifact (ensureReadableParquet)") {
    val dir = Files.createTempDirectory("tinypq").toString + "/art"
    val df = Seq((1L, "x")).toDF("k", "v").filter(lit(false))
    df.write.parquet(dir)
    graft.io.Layout.ensureReadableParquet(spark, dir, df.schema)
    val viaSpark = spark.read.parquet(dir)
    val (schema, rows) = TinyParquet.read(spark, dir)
    assert(schema === viaSpark.schema)
    assert(rows.isEmpty && viaSpark.count() === 0L)
  }

  test("refuses shapes outside the metadata class (timestamp)") {
    val dir = Files.createTempDirectory("tinypq").toString + "/art"
    Seq(Tuple1(java.sql.Timestamp.valueOf("2020-01-01 00:00:00")))
      .toDF("ts").write.parquet(dir)
    intercept[RuntimeException] { TinyParquet.read(spark, dir) }
  }

  // ---- write side: TinyParquet.write must be a drop-in for
  // `df.write.parquet` on every metadata-class shape — identical
  // rows and read-back schema through BOTH readers, driver-side
  // (zero jobs) for local frames, Spark fallback otherwise ----

  private def writeTrip(df: DataFrame,
      expectDriverPath: Boolean = true): Unit = {
    val base = Files.createTempDirectory("tinypq-w").toString
    val ref = s"$base/ref"
    val out = s"$base/out"
    df.write.parquet(ref) // what Spark would have written
    TinyParquet.write(df, out)
    val viaRef = spark.read.parquet(ref)
    val viaOut = spark.read.parquet(out)
    assert(viaOut.schema === viaRef.schema, "spark read-back schema")
    assert(viaOut.collect().toSeq.map(key).sorted ===
      viaRef.collect().toSeq.map(key).sorted, "spark read-back rows")
    if (expectDriverPath) {
      // the tiny reader only admits metadata-class shapes — exactly
      // the shapes the driver write path takes
      val (schema, rows) = TinyParquet.read(spark, out)
      assert(schema === viaRef.schema, "tiny read-back schema")
      assert(rows.map(key).sorted ===
        viaRef.collect().toSeq.map(key).sorted, "tiny read-back rows")
    }
    if (expectDriverPath) {
      // the driver path leaves exactly one part file, no _temporary
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val names = fs.listStatus(new org.apache.hadoop.fs.Path(out))
        .map(_.getPath.getName).toSeq
      assert(names.count(_.endsWith(".parquet")) === 1, names.toString)
      assert(names.contains("_SUCCESS"), names.toString)
    }
  }

  test("write: 1-row stats shape (longs, ints, booleans, doubles)") {
    writeTrip(Seq((1500L, 112233L, 16, true, false, 74.8))
      .toDF("n_docs", "sum_doclen", "buckets", "has_positions",
        "has_termvectors", "avgdl"))
  }

  test("write: manifest shape (strings + longs, several rows)") {
    writeTrip((1 to 7).map(i => (s"seg-$i/part", i.toLong, s"tok$i"))
      .toDF("dir", "gen", "token"))
  }

  test("write: codebook shapes (array<double>, array<float>)") {
    writeTrip(Seq((0, 0L, Seq(1.5, -2.25, 3.125)),
      (0, 1L, Seq(0.0, 4.5, -1.0)), (1, 0L, Seq(9.0, 8.0, 7.0)))
      .toDF("sub_id", "cent_id", "cvec"))
    writeTrip(Seq((0L, Seq(1.5f, -2.25f)), (1L, Seq(0.25f, 4.5f)))
      .toDF("cent_id", "cemb"))
  }

  test("write: meta shape incl. a projected local frame (n_vecs shift)") {
    val meta = Seq(("pq", 8, 8, 16, 16, "flat", 16, 0, false, 1000L))
      .toDF("codec", "m", "subdim", "num_cells", "c", "coarse",
        "c_grid", "pgroups", "pgroups_forced", "n_vecs")
    writeTrip(meta)
    // a withColumn over a local frame still folds to a LocalRelation
    // (ConvertToLocalRelation) and takes the driver path
    writeTrip(meta.withColumn("n_vecs", col("n_vecs") + lit(25L)))
  }

  test("write: null fields and null array elements survive") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType, nullable = true),
      StructField("xs", ArrayType(DoubleType, containsNull = true))))
    val rows = java.util.Arrays.asList(
      Row(1L, null, Seq(1.0, null, 3.0)),
      Row(2L, "b", null))
    writeTrip(spark.createDataFrame(rows, schema))
  }

  test("write: zero-row schema-bearing local frame") {
    writeTrip(Seq((1L, "x")).toDF("k", "v").filter(lit(false)))
  }

  test("write: overwrites previous artifact content") {
    val dir = Files.createTempDirectory("tinypq-w").toString + "/art"
    TinyParquet.write(Seq((1L, "old"), (2L, "older")).toDF("k", "v"), dir)
    TinyParquet.write(Seq((9L, "new")).toDF("k", "v"), dir)
    assert(spark.read.parquet(dir).collect().toSeq.map(key) ===
      Seq(Row(9L, "new")).map(key))
  }

  test("write: non-local frame falls back to the Spark writer") {
    writeTrip(spark.range(5).selectExpr("id", "id * 2 as v")
      .repartition(2), expectDriverPath = false)
  }

  test("write: unsupported type (timestamp) falls back, still correct") {
    writeTrip(Seq(Tuple1(java.sql.Timestamp.valueOf("2020-01-01 00:00:00")))
      .toDF("ts"), expectDriverPath = false)
  }

  test("real artifact: a written text index's stats read equal") {
    val dir = Files.createTempDirectory("tinypq-idx").toString + "/idx"
    val docs = Seq((1L, "alpha beta gamma"), (2L, "beta delta"),
      (3L, "gamma gamma epsilon")).toDF("doc_id", "text")
    FullText.writeTextIndex(docs, "doc_id", "text", dir, buckets = 2)
    val art = graft.io.Layout.liveArtifactDir(spark, dir)
    val viaSpark = spark.read.parquet(s"$art/stats")
    val (schema, rows) = TinyParquet.read(spark, s"$art/stats")
    assert(schema === viaSpark.schema, "stats schema")
    assert(rows.map(key).sorted ===
      viaSpark.collect().map(key).toSeq.sorted, "stats rows")
  }
}
