package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.ingest.GithubClient
import graft.io.{BulkSink, Indexer}
import graft.model.Entities
import graft.ops.FullText
import graft.pipeline.{LivePipeline, Pipeline}
import graft.tools.RunIndexing

/** One closed-loop client driving one workload for a fixed time.
  *
  * Every workload has a write path and a read path. `main` prints, as
  * its last stdout line, one JSON object with `correct`, `attempted`,
  * `failed` and `metrics`: the end-to-end metrics untraced, the
  * per-layer metrics with `--trace 1`. Usage:
  * {{{
  *   perfbench.Bench --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --work <dir> [--trace-out <file>]
  * }}}
  */
object Bench {

  final class Run(val spark: SparkSession, val seed: Long, val work: File) {
    var attempted, failed = 0L
    val errors = mutable.ArrayBuffer.empty[String]
    def gate(ok: Boolean, msg: String): Unit = if (!ok) errors += msg
    var backoffMs = 0L
    val cfg = GithubClient.Config(tokens = Seq("pb-token-a", "pb-token-b"),
      sleeper = ms => backoffMs += ms)
    private var n = 0
    def dir(prefix: String): String = { n += 1; new File(work, s"$prefix-$n").getPath }
  }

  trait Workload {
    /** Generate the corpus, pre-render every response, derive the truth.
      * Deterministic in the seed. */
    def prepare(): Unit
    /** Build the starting state, which also warms the engine. Runs once. */
    def build(tr: Trace): Unit
    /** One iteration of the closed loop; false when the workload's
      * pre-rendered input is used up. */
    def step(tr: Trace): Boolean
    /** Correctness gates over everything the loop produced. */
    def finish(): Unit
    /** Per-layer extras of the traced run. */
    def replay(tr: Trace): Unit
    def layers(tr: Trace): Seq[(String, Double, String)]
    /** Write-path and read-path samples, in wall milliseconds. */
    val writes = mutable.ArrayBuffer.empty[Double]
    val reads = mutable.ArrayBuffer.empty[Double]
  }

  def ms(span: Trace.Span): Double = (span.endNs - span.startNs) / 1e6

  /** Span around a call into the program, recording the fake server's
    * and the sink's counters as the span's own. */
  def traced[T](run: Run, tr: Trace, srv: Option[FakeGithub], name: String)(body: => T): (T, Trace.Span) = {
    val s0 = srv.map(_.counters.snapshot).getOrElse(Map.empty)
    val k0 = Lake.SinkStats.snapshot
    val b0 = run.backoffMs
    val (r, span) = tr.span(name)(body)
    srv.foreach(_.counters.snapshot.foreach { case (k, v) =>
      span.counters(k) = (v - s0.getOrElse(k, 0L)).toDouble })
    Lake.SinkStats.snapshot.zip(k0).zip(Seq("sink_batches", "sink_docs", "sink_bytes", "sink_ns"))
      .foreach { case ((a, b), k) => span.counters(k) = (a - b).toDouble }
    span.counters("backoff_ms") = (run.backoffMs - b0).toDouble
    (r, span)
  }

  def crawl(run: Run, tr: Trace, srv: FakeGithub, repos: Seq[String], lake: String,
      name: String): Trace.Span = {
    val (res, span) = traced(run, tr, Some(srv), name) {
      LivePipeline.processReposLive(run.spark, srv, run.cfg, repos, lake)
    }
    run.attempted += repos.size
    res.foreach { case (r, t) => if (t.isFailure) {
      run.failed += 1
      run.errors += s"$name $r failed: ${t.failed.get}"
    } }
    val (bytes, files) = Lake.sizeAndFiles(new File(lake))
    span.counters("repos") = repos.size
    span.counters("lake_bytes") = bytes.toDouble
    span.counters("lake_files") = files.toDouble
    span
  }

  def index(run: Run, tr: Trace, lake: String, sink: String): Trace.Span = {
    val (res, span) = traced(run, tr, None, "index") {
      Indexer.scanAndIndex(run.spark, lake, new Lake.TimedSink(new BulkSink.FileTransport(sink)))
    }
    val ok = res.values.map(_.ok).sum
    val bad = res.values.map(_.failed).sum
    run.attempted += ok + bad
    run.failed += bad
    span.counters("docs") = ok.toDouble
    span
  }

  /** Sink gate: per index, NDJSON documents and distinct `_id`s equal
    * the truth summed over the repositories indexed into `sink`. */
  def checkSink(run: Run, sink: String, truths: Seq[Truth]): Unit = {
    val got = Lake.sinkDocs(sink)
    Lake.artifacts.foreach { a =>
      val want = (truths.map(_.docs(a)).sum, truths.map(_.ids(a)).sum)
      val have = got.getOrElse(a, (0L, 0L))
      run.gate(have == want, s"sink $sink/$a: (docs, ids) $have, expected $want")
    }
  }

  /** Replays the derive DAG and the persist step for one repository from
    * its raw records, outside the live fetch: `Pipeline.deriveAll`
    * through Spark's `noop` sink, then `Pipeline.persist`. */
  def replay(run: Run, tr: Trace, repo: Corpus.Repo): Unit = {
    val spark = run.spark
    import spark.implicits._
    val r = new Rendered(repo)
    def read(records: Seq[String], schema: StructType) =
      spark.read.schema(schema).json(records.toDS())
    val bySha = repo.commitBySha
    val ranges = repo.blobs.take(Truth.blameFileLimit).flatMap(p => repo.blame(p).map { b =>
      val c = bySha(b.sha)
      Json.obj("path" -> Json.str(p), "root_commit_oid" -> Json.str(repo.head),
        "startingLine" -> b.start.toString, "endingLine" -> b.end.toString, "age" -> b.age.toString,
        "commit" -> Json.obj("oid" -> Json.str(c.sha), "committedDate" -> Json.ts(c.date),
          "message" -> Json.str(c.message), "author" -> Json.obj("name" -> Json.str(c.author),
            "email" -> Json.str(s"${c.author}@example.org"),
            "user" -> Json.obj("login" -> Json.str(c.author)))))
    })
    val prCommit = StructType(Seq(StructField("pr_number", LongType), StructField("rec", Entities.commit)))
    val empty = (s: StructType) => spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s)
    val in = Pipeline.RepoInputs(
      read(Seq(r.meta), Entities.repoMeta), read(r.issues.map(_._2), Entities.issue),
      read(r.pulls, Entities.pullRequest), read(r.contributors, Entities.contributor),
      read(repo.commits.map(c => r.commitDetail(c.sha)), Entities.commit),
      read(r.prCommits.toSeq.flatMap { case (n, cs) => cs.map(c => s"""{"pr_number":$n,"rec":$c}""") }, prCommit)
        .select(col("pr_number"), col("rec.commit.message").as("message")),
      read(repo.commits.map(c => Json.obj("sha" -> Json.str(c.sha), "message" -> Json.str(c.message))),
        Pipeline.commitDetailsSchema),
      empty(Pipeline.issueDetailsSchema), empty(Pipeline.targetDetailsSchema),
      read(ranges, Pipeline.blameRangesSchema))
    val (out, _) = traced(run, tr, None, "replay.derive") {
      val o = Pipeline.deriveAll(repo.name, in)
      Seq(o.repoMeta, o.issues, o.pullRequests, o.contributors, o.commits, o.prsWithLinkedIssues,
        o.issuesClosedByCommits, o.crossRepoLinks, o.repoBlame)
        .foreach(_.write.format("noop").mode("overwrite").save())
      o
    }
    traced(run, tr, None, "replay.persist")(Pipeline.persist(repo.name, out, run.dir("replay")))
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  // ---- refresh_and_query ---------------------------------------------------------

  /** Set-up cold-crawls the corpus into a lake, indexes it and runs the
    * Scenarios once. Each iteration moves the fake server to the next
    * seeded delta. A write sample
    * is one incremental `processReposLive` over every repository plus
    * `Indexer.scanAndIndex` of the refreshed lake; a read sample is one
    * pass of every Scenario over the refreshed lake. */
  final class RefreshWorkload(run: Run, shapes: Seq[Corpus.Shape], versions: Int) extends Workload {
    private var evolved: Vector[Corpus.Universe] = _
    private var truths: Vector[Map[String, Truth]] = _
    private var srv: FakeGithub = _
    private var lake: String = _
    private var v = 0
    private val sinks = mutable.ArrayBuffer.empty[(Int, String)]
    private val answers = mutable.ArrayBuffer.empty[(Int, String, String, Any)]
    def repos: Seq[String] = evolved.head.repos.map(_.name)

    def prepare(): Unit = {
      evolved = Corpus.evolve(run.seed, Corpus.generate(run.seed, shapes), versions)
      truths = evolved.map(_.repos.map(r => r.name -> Truth(r)).toMap)
      srv = new FakeGithub(evolved, run.seed)
    }

    private def writeAndRead(tr: Trace, crawlName: String, passes: Int, measured: Boolean): Double = {
      val c = crawl(run, tr, srv, repos, lake, crawlName)
      val sink = run.dir("sink")
      val i = index(run, tr, lake, sink)
      sinks += v -> sink
      val tables = new Lake.Tables(run.spark, lake)
      // A read sample is one pass over every Scenario, so each sample
      // holds the same query mix.
      for (_ <- 1 to passes) {
        val passMs = repos.flatMap(repo => Lake.scenarios(tables, repo, truths(v)(repo)).map {
          case (name, q, decode) =>
            val ((rows, planNs), span) = traced(run, tr, None, "scenario") {
              val df = q()
              val t0 = System.nanoTime()
              df.queryExecution.executedPlan
              val planNs = System.nanoTime() - t0
              (df.collect(), planNs)
            }
            span.counters("plan_ms") = planNs / 1e6
            run.attempted += 1
            answers += ((v, repo, name, scala.util.Try(decode(rows)).getOrElse(rows.toSeq)))
            ms(span)
        }).sum
        if (measured) reads += passMs
      }
      ms(c) + ms(i)
    }

    /** The cold crawl, its indexing and one Scenario pass. The first
      * measured refresh is the JVM's first, as in a command-line run. */
    def build(tr: Trace): Unit = {
      lake = run.dir("lake")
      srv.setVersion(0)
      writeAndRead(tr, "cold", passes = 1, measured = false)
    }

    def step(tr: Trace): Boolean =
      if (v >= versions) false
      else {
        v += 1
        srv.setVersion(v)
        writes += writeAndRead(tr, "refresh", passes = 6, measured = true)
        true
      }

    def finish(): Unit = {
      answers.foreach { case (ver, repo, name, got) =>
        val want = truths(ver)(repo).scenarios(name)
        if (got != want) { run.failed += 1; run.gate(false, s"v$ver $repo $name: got $got, expected $want") }
      }
      sinks.foreach { case (ver, sink) => checkSink(run, sink, repos.map(truths(ver)(_))) }
      val linked = Lake.linked(run.spark, lake)
      def keyed[T](entity: String, cols: Seq[String])(f: Row => T): Map[String, Set[T]] =
        Lake.read(run.spark, lake, entity).select(("repo_name" +: cols).map(col): _*).collect()
          .groupBy(_.getString(0)).map { case (k, rs) => k -> rs.iterator.map(f).toSet }
      val issues = keyed("issues", Seq("number", "updated_at", "title"))(r =>
        (r.getLong(1), r.getString(2), r.getString(3)))
      val shas = keyed("commits", Seq("sha"))(_.getString(1))
      repos.foreach { repo =>
        val t = truths(v)(repo)
        Lake.check(lake, repo, t, linked, run.gate)
        run.gate(issues.get(repo).contains(t.issueKeys), s"$repo: lake issues differ from version $v")
        run.gate(shas.get(repo).contains(t.commitShas), s"$repo: lake commits differ from version $v")
      }
    }

    def replay(tr: Trace): Unit = Bench.replay(run, tr, evolved(v).repos.maxBy(_.issues.size))

    def layers(tr: Trace): Seq[(String, Double, String)] =
      refreshLayers(tr, mean(truths(0).values.map(_.docs("repo_blame").toDouble).toSeq)) ++
        textLayers(tr, 0, 0L)
  }

  // ---- issue_text_index ----------------------------------------------------------

  /** Set-up writes a stored BM25 index over issue and PR titles and
    * bodies. Each iteration is one cycle: searches, an append batch,
    * searches, a takedown delete, searches, and a compaction. A read
    * sample is the cycle's summed search time, a write sample its summed
    * append, delete and compact time. */
  final class TextWorkload(run: Run, docs: Int, initial: Int, batch: Int,
      deletes: Int, searchesPerPhase: Int) extends Workload {
    private var all: Vector[(Long, String)] = _
    private var vocab: Corpus.Vocab = _
    private var indexDir: String = _
    private var appended = initial
    private val deleted = mutable.Set.empty[Long]
    private var qrng: scala.util.Random = _
    private var rng: scala.util.Random = _
    private var segmentsMax = 0
    private var hits = 0L

    def prepare(): Unit = {
      val repo = Corpus.generate(run.seed,
        Seq(Corpus.Shape(docs * 3 / 4, docs - docs * 3 / 4, 10))).repos.head
      all = (repo.realIssues.map(i => i.number -> s"${i.title}. ${i.body}") ++
        repo.prs.map(p => p.number -> s"${p.title}. ${p.body}")).sortBy(_._1)
      vocab = Corpus.vocab(run.seed)
      // The seed picks the words; the ranks come from a fixed stream, so
      // every seed searches the same mix of hot and rare postings. With
      // seeded ranks, one seed's searches cost 10% more than another's.
      qrng = new scala.util.Random(17)
      rng = new scala.util.Random(run.seed * 19 + 5)
    }

    private def frame(xs: Seq[(Long, String)]) = {
      val spark = run.spark
      import spark.implicits._
      xs.toDF("doc_id", "text")
    }

    /** One Zipf-drawn (mostly hot) term and one uniformly drawn (mostly
      * rare) term, by rank in the seed's vocabulary. */
    private def query(): Seq[String] =
      Seq(vocab.word(qrng), vocab.words(qrng.nextInt(vocab.words.size))).distinct

    /** Writes the index, then runs one unmeasured cycle so every
      * mutation path is compiled before the first measured one. */
    def build(tr: Trace): Unit = {
      indexDir = run.dir("text-index")
      traced(run, tr, None, "text.write")(
        FullText.writeTextIndex(frame(all.take(initial)), "doc_id", "text", indexDir))
      cycle(new Trace(run.spark.sparkContext, enabled = false), searches = 1)
    }

    private def search(tr: Trace): Double = {
      val q = query()
      val (rows, span) = traced(run, tr, None, "search") {
        FullText.bm25SearchStored(run.spark, indexDir, q).collect()
      }
      run.attempted += 1
      hits += rows.length
      segmentsMax = math.max(segmentsMax, Option(new File(indexDir).listFiles())
        .getOrElse(Array.empty).count(_.getName.startsWith("seg-")))
      ms(span)
    }

    private def mutate(tr: Trace, name: String)(body: => Unit): Double = {
      val (_, span) = traced(run, tr, None, s"mutate.$name")(body)
      run.attempted += 1
      ms(span)
    }

    def step(tr: Trace): Boolean = {
      val more = appended + batch <= all.size
      if (more) {
        val (mutationMs, searchMs) = cycle(tr)
        writes += mutationMs
        reads += searchMs
      }
      more
    }

    /** One cycle of `searches` searches before each mutation; returns
      * the summed mutation and the summed search milliseconds. */
    private def cycle(tr: Trace, searches: Int = searchesPerPhase): (Double, Double) = {
      var searchMs = 0.0
      def phase(): Unit = (0 until searches).foreach(_ => searchMs += search(tr))
      phase()
      val fresh = all.slice(appended, appended + batch)
      val appendMs = mutate(tr, "append")(FullText.appendToTextIndex(run.spark, frame(fresh),
        "doc_id", "text", indexDir))
      appended += fresh.size
      phase()
      val gone = rng.shuffle(all.take(appended).map(_._1).filterNot(deleted)).take(deletes)
      val deleteMs = mutate(tr, "delete")(FullText.deleteFromTextIndex(run.spark, indexDir, gone))
      deleted ++= gone
      phase()
      val compactMs = mutate(tr, "compact")(FullText.compactTextIndex(run.spark, indexDir))
      (appendMs + deleteMs + compactMs, searchMs)
    }

    def finish(): Unit = {
      val surviving = all.take(appended).filterNot(d => deleted(d._1))
      val q = query()
      def ranked(rows: Array[Row]) =
        rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq
      val stored = ranked(FullText.bm25SearchStored(run.spark, indexDir, q).collect())
      val oracle = ranked(FullText.bm25TopK(frame(surviving), "doc_id", "text", q).collect())
      run.gate(stored == oracle && stored.nonEmpty,
        s"text top-k for ${q.mkString(" ")}: stored $stored != oracle $oracle")
      run.gate(hits > 0, "no search returned a hit")
    }

    def replay(tr: Trace): Unit = ()

    def layers(tr: Trace): Seq[(String, Double, String)] =
      refreshLayers(tr, 0.0) ++
        textLayers(tr, segmentsMax, Lake.sizeAndFiles(new File(indexDir))._1)
  }

  /** Per-layer metrics of the pipeline workload, from the traced
    * half's spans; with no such spans every value reads 0. */
  def refreshLayers(tr: Trace, blamed: Double): Seq[(String, Double, String)] = {
    val mb = 1e6
    val cold = tr.named("cold")
    val ref = tr.named("refresh")
    val idx = tr.named("index")
    val scen = tr.named("scenario")
    val derive = tr.named("replay.derive")
    val persist = tr.named("replay.persist")
    val c = (s: Trace.Span, k: String) => s.counters(k)
    // mean per repository over crawl spans
    def perRepo(spans: Seq[Trace.Span], f: Trace.Span => Double) =
      mean(spans.map(s => f(s) / math.max(c(s, "repos"), 1)))
    def ratio(f: Trace.Span => Double) =
      if (perRepo(cold, f) == 0) 0.0 else perRepo(ref, f) / perRepo(cold, f)
    val refreshedFiles = perRepo(ref, c(_, "posts"))
    def driverS(s: Trace.Span) = s.wallS - s.jobCoveredS - c(s, "server_ns") / 1e9
    val sites = Seq("LivePipeline", "Pipeline", "JsonEntities", "BlameFetch", "Blame",
      "Linkers", "IncrementalMerge", "Indexer", "BulkSink")
    Seq(
      ("ingest.requests_per_repo", perRepo(cold, c(_, "requests")), "requests"),
      ("ingest.retries", perRepo(cold, s => c(s, "faults502") + c(s, "faults403")), "requests"),
      ("ingest.backoff_ms_requested", perRepo(cold, c(_, "backoff_ms")), "ms"),
      ("ingest.response_mb", perRepo(cold, c(_, "bytes") / mb), "MB"),
      ("ingest.server_s", perRepo(cold, c(_, "server_ns") / 1e9), "s"),
      ("ingest.blame_jobs", perRepo(cold, _.jobsBySite("BlameFetch").toDouble), "count"),
      ("pipeline.cold_s", perRepo(cold, _.wallS), "s"),
      ("pipeline.jobs_per_repo", perRepo(cold, _.jobs.toDouble), "count"),
      ("pipeline.tasks", perRepo(cold, _.tasks.toDouble), "count"),
      ("pipeline.task_s", perRepo(cold, _.taskMs / 1e3), "s"),
      ("pipeline.job_covered_s", perRepo(cold, _.jobCoveredS), "s"),
      ("pipeline.driver_s", perRepo(cold, driverS), "s"),
      ("pipeline.refresh_s", perRepo(ref, _.wallS), "s"),
      ("pipeline.refresh_jobs_per_repo", perRepo(ref, _.jobs.toDouble), "count"),
      ("pipeline.refresh_driver_s", perRepo(ref, driverS), "s")) ++
      sites.map(f => (s"pipeline.jobs_by_site.$f", perRepo(cold, _.jobsBySite(f).toDouble), "count")) ++
      Seq(
        ("refresh.request_ratio", ratio(c(_, "requests")), "ratio"),
        ("refresh.job_ratio", ratio(_.jobs.toDouble), "ratio"),
        ("ops.merge_rows_fetched", perRepo(ref, s => c(s, "kind.items.issues") + c(s, "kind.items.commits")), "rows"),
        ("ops.blame_files_refreshed", refreshedFiles, "files"),
        ("ops.blame_files_reused", math.max(blamed - refreshedFiles, 0.0), "files"),
        ("ops.derive_s", mean(derive.map(_.wallS)), "s"),
        ("ops.derive_task_s", mean(derive.map(_.taskMs / 1e3)), "s"),
        ("ops.derive_shuffle_mb", mean(derive.map(s => (s.shuffleRead + s.shuffleWrite) / mb)), "MB"),
        ("io.persist_s", mean(persist.map(_.wallS)), "s"),
        ("io.lake_mb", mean(ref.map(c(_, "lake_bytes") / mb)), "MB"),
        ("io.lake_files", mean(ref.map(c(_, "lake_files"))), "count"),
        ("io.index_s", mean(idx.map(_.wallS)), "s"),
        ("io.index_jobs", mean(idx.map(_.jobs.toDouble)), "count"),
        ("io.index_task_s", mean(idx.map(_.taskMs / 1e3)), "s"),
        ("io.index_docs_per_s", idx.map(c(_, "docs")).sum / math.max(idx.map(_.wallS).sum, 1e-9), "docs/s"),
        ("io.bulk_batches", mean(idx.map(c(_, "sink_batches"))), "count"),
        ("io.bulk_docs", mean(idx.map(c(_, "sink_docs"))), "count"),
        ("io.bulk_mb", mean(idx.map(c(_, "sink_bytes") / mb)), "MB"),
        ("io.bulk_flush_s", mean(idx.map(c(_, "sink_ns") / 1e9)), "s"),
        ("queries.plan_ms_p50", median(scen.map(c(_, "plan_ms"))), "ms"),
        ("queries.exec_ms_p50", median(scen.map(s => ms(s) - c(s, "plan_ms"))), "ms"),
        ("queries.jobs_per_query", mean(scen.map(_.jobs.toDouble)), "count"),
        ("queries.input_mb_per_query", mean(scen.map(_.inputBytes / mb)), "MB"))
  }

  /** Per-layer metrics of the text workload; 0 without its spans. */
  def textLayers(tr: Trace, segmentsMax: Int, indexBytes: Long): Seq[(String, Double, String)] = {
    val mb = 1e6
    val search = tr.named("search")
    val mut = tr.named("mutate.")
    val cycles = math.max(tr.named("mutate.compact").size, 1)
    Seq(
      ("text.segments_max", segmentsMax.toDouble, "count"),
      ("text.jobs_per_search", mean(search.map(_.jobs.toDouble)), "count"),
      ("text.input_mb_per_search", mean(search.map(_.inputBytes / mb)), "MB"),
      ("text.search_task_s", mean(search.map(_.taskMs / 1e3)), "s"),
      ("text.write_jobs", mut.map(_.jobs.toDouble).sum / cycles, "count"),
      ("text.append_s", mean(tr.named("mutate.append").map(_.wallS)), "s"),
      ("text.delete_s", mean(tr.named("mutate.delete").map(_.wallS)), "s"),
      ("text.compact_s", mean(tr.named("mutate.compact").map(_.wallS)), "s"),
      ("text.mb_rewritten", mut.map(_.outputBytes / mb).sum / cycles, "MB"),
      ("text.index_mb", indexBytes / mb, "MB"))
  }

  // ---- main ----------------------------------------------------------------------

  val workloads: Seq[String] = Seq("refresh_and_query", "issue_text_index")

  def workload(name: String, run: Run): Workload = name match {
    case "refresh_and_query" =>
      new RefreshWorkload(run, Seq(Corpus.Shape(issues = 80, prs = 40, commits = 200,
        contributors = 12)), versions = 4)
    case "issue_text_index" =>
      new TextWorkload(run, docs = 3000, initial = 2400, batch = 100, deletes = 40,
        searchesPerPhase = 1)
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts.getOrElse("workload", "")
    require(workloads.contains(name), s"unknown workload '$name'; one of ${workloads.mkString(", ")}")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val traceOn = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts.getOrElse("work", "perfbench-work")).getAbsoluteFile
    work.mkdirs()

    val t0 = System.nanoTime()
    val spark = RunIndexing.localSession("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val run = new Run(spark, seed, work)
    val w = workload(name, run)
    val quiet = new Trace(spark.sparkContext, enabled = false)
    val tracer = new Trace(spark.sparkContext, enabled = traceOn)
    val p0 = System.nanoTime()
    w.prepare()
    tracer.listening(w.build(tracer))
    val setupS = sessionS + (System.nanoTime() - p0) / 1e9

    // Closed loop until the window ends (at least one iteration). A
    // traced run runs the first half untraced, with no listener, and the
    // second traced, so it measures its own overhead on the same state.
    def loop(tr: Trace, secs: Double): Seq[Double] = {
      val start = w.writes.size
      val end = System.nanoTime() + (secs * 1e9).toLong
      var more = w.step(tr)
      while (more && System.nanoTime() < end) more = w.step(tr)
      w.writes.drop(start).toSeq
    }
    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!traceOn) {
      loop(quiet, seconds)
      w.finish()
      out("setup_s") = setupS -> "s"
      out("write_p50_ms") = median(w.writes.toSeq) -> "ms"
      out("read_p50_ms") = median(w.reads.toSeq) -> "ms"
    } else {
      w.step(quiet) // so that both halves run the measured path warm
      val plain = loop(quiet, seconds / 2)
      val withTrace = tracer.listening {
        val t = loop(tracer, seconds / 2)
        w.replay(tracer)
        t
      }
      w.finish()
      w.layers(tracer).foreach { case (k, v, u) => out(k) = v -> u }
      out("jvm.peak_rss_mb") = peakRssMb() -> "MB"
      out("trace.overhead_ratio") = median(withTrace) / median(plain) -> "ratio"
      tracer.write(new File(opts.getOrElse("trace-out", s"$work/trace-$name-$seed.jsonl")).toPath)
    }
    run.errors.take(20).foreach(e => System.err.println(s"[perfbench] gate failed: $e"))
    val metrics = out.toSeq.map { case (k, (v, u)) =>
      k -> Json.obj("value" -> (if (v.isNaN || v.isInfinite) "0" else v.toString), "unit" -> Json.str(u))
    }
    println(Json.obj(
      "correct" -> (run.errors.isEmpty && run.attempted > 0).toString,
      "attempted" -> math.max(run.attempted, 1L).toString,
      "failed" -> run.failed.toString,
      "metrics" -> Json.obj(metrics: _*)))
    spark.stop()
  }
}
