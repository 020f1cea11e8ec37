package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}

import graft.ingest.{BlameFetch, GithubClient}
import graft.ingest.GithubClient.jsonString
import graft.model.Entities
import graft.ops.{Blame, IncrementalMerge, Linkers}

/** Live-mode process_repo (reference runner.py:27-77 against the real
  * GitHub API): the same derivation DAG as `Pipeline.deriveAll`
  * (`Pipeline.resolve` ∘ `Pipeline.extract`), with
  * every input fetched through the injectable transport — REST
  * pagination for the five raw entities, point lookups for PR commits
  * / merge-commit details / external issue details (the reference's
  * memo-dict caches, here dedup→fetch→batch-parse→join), and GraphQL
  * blame with the ref→object fallback.
  *
  * Incremental refresh (the reference's headline operational win): a
  * prior run's artifacts under `outDir` are the cache. Issues and
  * commits re-fetch only `?since=watermark−lookback` and merge over
  * the cache with fetched-wins semantics (collectors.py:572-657 →
  * IncrementalMerge); commit file metadata is re-fetched ONLY for
  * newly fetched SHAs (J6 selective enrichment); blame short-circuits
  * entirely when the head SHA is unchanged and otherwise re-blames
  * only the compare-API change set (collectors.py:280-430 →
  * Blame.planRefresh). A second live run therefore pays API cost
  * proportional to the delta, not the repo.
  *
  * Driver-side loops iterate only DEDUPLICATED key sets (PR numbers,
  * merge SHAs, distinct external refs, capped blame paths) — the same
  * per-item HTTP granularity as the reference, which is the API's
  * granularity. Responses accumulate into ONE batched Spark parse per
  * detail class (never a job per response), so driver job count is
  * constant in the number of fetched items; all heavy derivation
  * stays in Spark. Tests drive the whole thing through a scripted
  * transport (no network), live runs pass `new HttpTransport()`.
  *
  * Snapshot once: as soon as fetch, merge and enrichment produce a
  * per-repo input frame (repo meta, merged issues, PRs, contributors,
  * merged and enriched commits, PR commits, commit details, the
  * external/target details, blame ranges), it is [[snapshot]]ted into
  * a driver-local relation. The linker extracts that feed a fetch set
  * (PR refs, cross-repo refs) are snapshotted the same way, so every
  * linker scan runs once per run: the fetch sets are read off the
  * extracts, and `Pipeline.resolve` joins the same extracted rows with
  * the fetched details — one author/target rule for both. The blame
  * refresh plan and the repo_blame doc are built on the driver from
  * rows already there (capped path lists, the cached doc's entries,
  * the fresh summaries). So no JSON parse, merge window, enrichment
  * join or regex scan re-runs per consumer, and no frame that reaches
  * `persist` scans the repo's own output directory. Memory bound: a
  * snapshot is one repo's parsed rows — no larger than the response
  * strings `paginate` already holds on the driver — and it occupies
  * no executor storage (nothing is cached or checkpointed).
  */
object LivePipeline {

  final case class Endpoints(
      apiBase: String = "https://api.github.com",
      graphql: String = "https://api.github.com/graphql")

  /** Empty local relation: the optimizer prunes plans over it. */
  private def emptyOf(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  private def readEntity(spark: SparkSession, records: Seq[String],
      schema: StructType): DataFrame = {
    import spark.implicits._
    if (records.isEmpty) emptyOf(spark, schema)
    else spark.read.schema(schema).json(records.toDS())
  }

  /** GitHub `?since=` literal (collectors.py:464-465 strftime +
    * quote_plus): second precision, Z suffix, URL-encoded. */
  private def sinceParam(ts: java.sql.Timestamp): String =
    java.net.URLEncoder.encode(
      java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
        .withZone(java.time.ZoneOffset.UTC).format(ts.toInstant),
      java.nio.charset.StandardCharsets.UTF_8)

  /** Materialize one repo's frame into a driver-local relation: one
    * job evaluates the lineage, every later reader replays the rows
    * (a frame that already is a local relation collects without a
    * job). Only for per-repo, repo-bounded frames — see the class doc
    * for the memory bound. */
  private def snapshot(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** Read a prior run's persisted artifact as the refresh cache
    * (collectors.py:432-440 _load_cached_list: absent → no cache).
    * The rows are SNAPSHOTTED off the files (the reference holds its
    * cache in driver memory the same way): the run ends by
    * overwriting these very directories, and a lazy file-backed plan
    * would be reading its own write target. It is one more input
    * [[snapshot]], under the class doc's snapshot-once contract and
    * memory bound. */
  private def cachedArtifact(spark: SparkSession, dir: String,
      name: String, schema: StructType): Option[DataFrame] = {
    val d = new java.io.File(dir, name)
    if (!d.isDirectory) None
    else Some(snapshot(spark.read.schema(schema).json(d.getAbsolutePath)))
  }

  /** Compare-API change set; None when the compare call failed
    * (collectors.py:535-556), which planRefresh maps to
    * refresh-everything. */
  private def fetchChangedFiles(spark: SparkSession,
      transport: GithubClient.Transport, cfg: GithubClient.Config,
      base: String, fromSha: String, toSha: String): Option[Seq[Blame.Change]] = {
    val resp = GithubClient.getWithRetry(transport, cfg,
      s"$base/compare/$fromSha...$toSha")
    if (resp.status < 200 || resp.status >= 300) None
    else {
      val schema = StructType(Seq(StructField("files", ArrayType(StructType(Seq(
        StructField("filename", StringType),
        StructField("status", StringType),
        StructField("previous_filename", StringType)))))))
      Some(readEntity(spark, Seq(resp.body), schema)
        .select(explode(coalesce(col("files"), array())).as("f"))
        .select(col("f.filename"), col("f.previous_filename"), col("f.status"))
        .collect().toSeq
        .map(r => Blame.Change(r.getString(0), r.getString(1), r.getString(2))))
    }
  }

  /** Fetch one repo's nine artifacts live and persist them; returns
    * the derived outputs. When `outDir` holds a previous run's
    * artifacts the fetch is incremental (see class doc).
    * blameFileLimit mirrors BLAME_FILE_LIMIT (W2). */
  def processRepoLive(
      spark: SparkSession,
      transport: GithubClient.Transport,
      cfg: GithubClient.Config,
      repoName: String,
      outDir: String,
      endpoints: Endpoints = Endpoints(),
      generatedAt: String = "",
      blameFileLimit: Int = 25,
      limits: Pipeline.Limits = Pipeline.Limits()): Pipeline.RepoOutputs = {
    import GithubClient.{getWithRetry, paginate}
    val Array(owner, repo) = repoName.split("/", 2)
    val base = s"${endpoints.apiBase}/repos/$owner/$repo"
    val cacheDir = s"$outDir/${repoName.replace("/", "_")}"
    // Per-endpoint page caps (config.py:20,29): 0 falls back to the
    // client config's global cap.
    def capped(maxPages: Int): GithubClient.Config =
      if (maxPages > 0) cfg.copy(maxPages = maxPages) else cfg

    // Raw entities (runner.py:36-53): paginated REST scans. repo_meta,
    // PRs and contributors are always full fetches (the reference has
    // no incremental path for them).
    val repoMeta = snapshot(readEntity(spark,
      paginate(transport, cfg, base, repoName), Entities.repoMeta))
    val prs = snapshot(readEntity(spark,
      paginate(transport, capped(limits.maxPagesPrs),
        s"$base/pulls?state=all", repoName),
      Entities.pullRequest))
    val contributors = snapshot(readEntity(spark,
      paginate(transport, cfg, s"$base/contributors", repoName),
      Entities.contributor))

    // Issues (collectors.py:572-609): cached snapshot → watermark →
    // ?since= delta → PR filter BEFORE merge → fetched-wins merge.
    val cachedIssues = cachedArtifact(spark, cacheDir, "issues",
      Entities.issue)
    val issuesWm = cachedIssues.flatMap(c => IncrementalMerge.watermark(
      c, Seq("updated_at", "closed_at", "created_at")))
    val issuesUrl = issuesWm match {
      case Some(wm) => s"$base/issues?state=all&since=${sinceParam(wm)}"
      case None => s"$base/issues?state=all"
    }
    val issuesFetch = GithubClient.paginateChecked(transport, cfg,
      issuesUrl, repoName)
    val fetchedIssues = Pipeline.filterRealIssues(readEntity(spark,
      issuesFetch.records, Entities.issue))
    // A PARTIAL delta must not merge: its newest page would advance
    // the next run's watermark past the lost pages forever. Keeping
    // the cache untouched means the next run retries the same window.
    // (Full fetches keep the reference's partial-data behavior,
    // http_client.py:395-401 — the next run recovers them anyway.)
    val issues = snapshot(issuesWm match {
      case Some(_) if !issuesFetch.complete =>
        System.err.println(s"[warn] partial issues delta for $repoName " +
          "discarded; keeping cached snapshot")
        cachedIssues.get
      case Some(_) => IncrementalMerge
        .mergeLatest(cachedIssues.get, fetchedIssues, Seq("number"))
        .drop("from_fetched")
      case None => fetchedIssues
    })

    // Commits (collectors.py:617-657): same shape, keyed by sha. Only
    // the nested git-actor dates exist in this schema (the reference's
    // top-level author.date fallbacks cover API shapes this engine
    // never stores).
    val cachedCommits = cachedArtifact(spark, cacheDir, "commits",
      Entities.commit)
    val commitsWm = cachedCommits.flatMap(c => IncrementalMerge.watermark(
      c, Seq("commit.author.date", "commit.committer.date")))
    val commitsUrl = commitsWm match {
      case Some(wm) => s"$base/commits?since=${sinceParam(wm)}"
      case None => s"$base/commits"
    }
    val commitsFetch = GithubClient.paginateChecked(transport,
      capped(limits.maxPagesCommits), commitsUrl, repoName)
    val fetchedCommits = snapshot(readEntity(spark, commitsFetch.records,
      Entities.commit))
    // same partial-delta rule as issues: an incomplete ?since= fetch
    // is discarded rather than merged, so the watermark cannot skip
    // the lost pages. A delta cut off by the caller's OWN page cap is
    // different: the cap is the reference's deliberate history bound
    // (MAX_PAGES_COMMITS), so it merges like the reference — but the
    // skipped-window hazard is the user's choice, so say so.
    if (commitsFetch.truncated && commitsWm.isDefined)
      System.err.println(s"[warn] commits delta for $repoName hit the " +
        "page cap; commits beyond it stay unfetched until a full run")
    val commitsDeltaOk = commitsFetch.complete
    val mergedCommits = commitsWm match {
      case Some(_) if !commitsDeltaOk =>
        System.err.println(s"[warn] partial commits delta for $repoName " +
          "discarded; keeping cached snapshot")
        cachedCommits.get
      case Some(_) => snapshot(IncrementalMerge
        .mergeLatest(cachedCommits.get, fetchedCommits, Seq("sha"))
        .drop("from_fetched"))
      case None => fetchedCommits
    }

    // COMMIT_CACHE (collectors.py:678-697): one memoized detail fetch
    // per SHA, shared by file-metadata enrichment and the merge-SHA
    // linker lookups below. Only DEFINITIVE outcomes memoize (2xx,
    // 404, 422) — a transient failure (rate-limit, 5xx) must not be
    // replayed on a later pass that could succeed with a fresh
    // retry/rotation cycle.
    def definitive(r: GithubClient.Response): Boolean =
      (r.status >= 200 && r.status < 300) ||
        r.status == 404 || r.status == 422
    val detailMemo = scala.collection.mutable.Map.empty[String, GithubClient.Response]
    def commitDetailResp(sha: String): GithubClient.Response =
      detailMemo.get(sha).getOrElse {
        val r = getWithRetry(transport, cfg, s"$base/commits/$sha")
        if (definitive(r)) detailMemo(sha) = r
        r
      }

    // _ensure_commit_file_metadata (collectors.py:505-518): attach
    // files_changed/stats from the per-SHA detail endpoint. Full fetch
    // enriches every SHA; incremental enriches ONLY the freshly
    // fetched SHAs (J6) — cached rows keep the metadata they already
    // carry, and a re-fetched row (inside the lookback window) is
    // re-enriched because the merge replaced its cached copy.
    val alreadyEnriched = commitsWm match {
      case Some(_) if !commitsDeltaOk =>
        // discarded delta ⇒ the cache is the output; nothing new to enrich
        mergedCommits.select(col("sha"))
      case Some(_) => cachedCommits.get.select(col("sha"))
        .join(fetchedCommits.select(col("sha")), Seq("sha"), "left_anti")
      case None => mergedCommits.select(col("sha")).limit(0)
    }
    val statsType = Entities.commit("stats").dataType
    val commits = snapshot(IncrementalMerge.enrichNew(mergedCommits,
      alreadyEnriched, Seq("sha")) { fresh =>
      val shas = fresh.select(col("sha")).filter(col("sha").isNotNull)
        .distinct().collect().map(_.getString(0))
      val okRecords = shas.toIndexedSeq.flatMap { sha =>
        val resp = commitDetailResp(sha)
        if (resp.status >= 200 && resp.status < 300)
          Some(s"""{"req_sha":${jsonString(sha)},"rec":${resp.body}}""")
        else None // detail miss: row passes through un-enriched
      }
      val detailSchema = StructType(Seq(
        StructField("req_sha", StringType),
        StructField("rec", StructType(Seq(
          StructField("files", ArrayType(StructType(Seq(
            StructField("filename", StringType))))),
          StructField("stats", statsType))))))
      val details = readEntity(spark, okRecords, detailSchema).select(
        col("req_sha").as("sha"),
        filter(coalesce(col("rec.files.filename"),
          array().cast(ArrayType(StringType))), f => f.isNotNull)
          .as("files_changed"),
        col("rec.stats").as("stats"))
        .withColumn("files_changed_count",
          size(col("files_changed")).cast(LongType))
      val cols = fresh.columns.toIndexedSeq
      fresh.drop("files_changed", "files_changed_count", "stats")
        .join(details, Seq("sha"), "left")
        .select(cols.map(col): _*)
    })

    // S4/S5 point lookups over deduplicated key sets, each parsed in
    // ONE batched Spark read.
    val prNumbers = prs.select(col("number")).collect().map(_.getLong(0))
    val prCommitRecords = prNumbers.flatMap { n =>
      paginate(transport, cfg, s"$base/pulls/$n/commits", repoName)
        .map(r => s"""{"pr_number":$n,"rec":$r}""")
    }.toSeq
    val prCommits = snapshot(readEntity(spark, prCommitRecords,
      StructType(Seq(
        StructField("pr_number", LongType),
        StructField("rec", Entities.commit))))
      .select(col("pr_number"), col("rec.commit.message").as("message")))

    // distinct on the driver: `prs` is a snapshot, its rows are here
    val mergeShas = prs.select(col("merge_commit_sha")).collect()
      .flatMap(r => Option(r.getString(0))).distinct
    val mergeResponses = mergeShas.toIndexedSeq.map(sha =>
      sha -> commitDetailResp(sha))
    val mergeOk = mergeResponses.collect {
      case (sha, r) if r.status >= 200 && r.status < 300 =>
        s"""{"req_sha":${jsonString(sha)},"rec":${r.body}}"""
    }
    val mergeErr = mergeResponses.collect {
      case (sha, r) if r.status == 422 =>
        s"""{"sha":${jsonString(sha)},"message":null,"error":"invalid_sha"}"""
      case (sha, r) if r.status < 200 || r.status >= 300 =>
        s"""{"sha":${jsonString(sha)},"message":null,"error":"http_${r.status}"}"""
    }
    val detailSchema = StructType(Seq(
      StructField("sha", StringType),
      StructField("message", StringType),
      StructField("error", StringType)))
    val commitDetails = snapshot(readEntity(spark, mergeOk,
      StructType(Seq(
        StructField("req_sha", StringType),
        StructField("rec", Entities.commit))))
      .select(col("req_sha").as("sha"),
        col("rec.commit.message").as("message"),
        lit(null).cast(StringType).as("error"))
      .unionByName(readEntity(spark, mergeErr, detailSchema)))

    // Linker extracts (Pipeline.extract: regex scans and PR/commit
    // joins, no lookup input). The PR refs and cross-repo refs are
    // snapshotted once: the two fetch sets below come from them (the
    // reference's unique_refs set, linkers.py:132-134, and the cross
    // link targets, linkers.py:251,283-287), and the final outputs
    // resolve the same rows with the fetched details.
    val in = Pipeline.normalize(repoName, Pipeline.RepoInputs(
      repoMeta, issues, prs, contributors, commits,
      prCommits, commitDetails,
      emptyOf(spark, Pipeline.issueDetailsSchema),
      emptyOf(spark, Pipeline.targetDetailsSchema),
      emptyOf(spark, Pipeline.blameRangesSchema)))
    val extracted = Pipeline.extract(repoName, in, limits)
    val refs = extracted.copy(
      prRefs = extracted.prRefs.copy(refs = snapshot(extracted.prRefs.refs)),
      crossRefs = snapshot(extracted.crossRefs))

    val issueWrapSchema = StructType(Seq(
      StructField("repo_name", StringType),
      StructField("number", LongType),
      StructField("rec", Entities.issue)))

    // ISSUE_CACHE twin: external-ref and cross-link-target lookups
    // hit the same /repos/{r}/issues/{n} endpoint and typically
    // overlap — one fetch per (repo, number) for both loops, with the
    // same definitive-only memoization rule as the commit cache.
    val issueMemo =
      scala.collection.mutable.Map.empty[(String, Long), GithubClient.Response]
    def issueDetailResp(r: String, n: Long): GithubClient.Response =
      issueMemo.get((r, n)).getOrElse {
        val resp = getWithRetry(transport, cfg,
          s"${endpoints.apiBase}/repos/$r/issues/$n")
        if (definitive(resp)) issueMemo((r, n)) = resp
        resp
      }

    // refs the local issues leave without an author (cache misses
    // after the local seed)
    val externalRefs = Linkers.unresolvedIssueRefs(refs.prRefs.refs,
      Pipeline.localIssues(repoName, in))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val extResponses = externalRefs.toIndexedSeq.map { case (r, n) =>
      (r, n, issueDetailResp(r, n))
    }
    val extDetails = snapshot(readEntity(spark, extResponses.collect {
      case (r, n, resp) if resp.status >= 200 && resp.status < 300 =>
        s"""{"repo_name":${jsonString(r)},"number":$n,"rec":${resp.body}}"""
    }, issueWrapSchema)
      .select(col("repo_name"), col("number"),
        col("rec.user.login").as("author"))
      .unionByName(readEntity(spark, extResponses.collect {
        case (r, n, resp) if resp.status < 200 || resp.status >= 300 =>
          s"""{"repo_name":${jsonString(r)},"number":$n,"author":null}"""
      }, Pipeline.issueDetailsSchema)))

    // distinct on the driver: the cross refs are a snapshot
    val targetRefs = refs.crossRefs
      .select(lower(col("target_repo")).as("r"), col("target_number").as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).distinct
    // Projection of the issue body the target join needs
    // (linkers.py:283-287): html_url is not part of Entities.issue (the
    // engine's issues artifact never stores it), so the lookup parses
    // with its own minimal schema.
    val targetWrapSchema = StructType(Seq(
      StructField("repo_name", StringType),
      StructField("number", LongType),
      StructField("rec", StructType(Seq(
        StructField("user", StructType(Seq(
          StructField("login", StringType)))),
        StructField("html_url", StringType),
        StructField("created_at", StringType),
        StructField("pull_request", StructType(Seq(
          StructField("url", StringType)))))))))
    // 404 targets are skipped entirely ⇒ join miss ⇒ null-target row
    // kept downstream (docs/project_analytics.md:18).
    val targetDetails = snapshot(readEntity(spark, targetRefs.toIndexedSeq.flatMap {
      case (r, n) =>
        val resp = issueDetailResp(r, n)
        if (resp.status >= 200 && resp.status < 300)
          Some(s"""{"repo_name":${jsonString(r)},"number":$n,"rec":${resp.body}}""")
        else None
    }, targetWrapSchema)
      .select(col("repo_name"), col("number"),
        col("rec.pull_request").isNotNull.as("is_pr"),
        col("rec.created_at").as("created_at"),
        col("rec.html_url").as("url"),
        col("rec.user.login").as("author")))

    // Blame (collectors.py:280-430): head-SHA short-circuit, else
    // compare-diff-driven partial refresh via Blame.planRefresh. The
    // plan and the doc assembly run on the driver over rows already
    // there: the capped tree listing, the cached doc (a snapshot) and
    // one compare response.
    val defaultBranch = Pipeline.defaultBranch(repoMeta)
    val cachedBlame = cachedArtifact(spark, cacheDir, "repo_blame",
      Entities.repoBlame)
    // _cached_blame_head_sha (collectors.py:521-532): doc head, else
    // the first file's root commit.
    val cachedHead: Option[String] = cachedBlame.flatMap { doc =>
      doc.select(coalesce(col("head_commit_sha"),
        get(array_compact(col("files.root_commit_oid")), lit(0))).as("h"))
        .collect().headOption.flatMap(r => Option(r.getString(0)))
    }
    // Current head = newest commit: first fetched SHA (GitHub returns
    // newest-first; the reference's merge puts fetched first) — read
    // off the snapshot's rows, which keep the response order. When
    // the delta was empty or discarded, the head comes from the
    // CACHED artifact — which persist() sorted by sha, so input-order
    // selection would return the lexicographically smallest sha and
    // defeat the short-circuit; the graph-based form recovers the
    // true head of the order-lost frame.
    val fetchedHead = fetchedCommits.select(col("sha")).collect()
      .iterator.map(_.getString(0)).find(_ != null)
    val currentHead: Option[String] = commitsWm match {
      case Some(_) if commitsDeltaOk =>
        fetchedHead.orElse(Pipeline.headCommitShaOfSnapshot(cachedCommits.get))
      case Some(_) => Pipeline.headCommitShaOfSnapshot(cachedCommits.get)
      case None => fetchedHead
    }
    val headsEqual = cachedBlame.isDefined && cachedHead.isDefined &&
      cachedHead == currentHead

    val blameFileType = Entities.repoBlame("files").dataType
      .asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
    // the cached doc's file entries (a snapshot: no job)
    val cachedFiles: Seq[Row] = cachedBlame.toSeq
      .flatMap(_.select(col("files")).collect())
      .flatMap(r => Option(r.getSeq[Row](0)).getOrElse(Nil))

    // Fetch + summarize helper for a set of paths (per-file failures
    // warn and skip, exactly collectors.py:386-389; empty blame
    // results union to nothing — the reference's skip).
    def fetchRanges(paths: Seq[String]): DataFrame = snapshot(
      paths.flatMap { p =>
        scala.util.Try(BlameFetch.fetchFileBlame(spark, transport, cfg,
          endpoints.graphql, owner, repo, defaultBranch, p)) match {
          case scala.util.Success(df) => Some(df)
          case scala.util.Failure(e) =>
            System.err.println(
              s"[warn] blame failed for $repoName:$p -> ${e.getMessage}")
            None
        }
      } match {
        case Seq() => emptyOf(spark, Pipeline.blameRangesSchema)
        case dfs => dfs.reduce(_ unionByName _)
      })

    // Assemble the final repo_blame doc: short-circuit re-stamps the
    // cached doc (collectors.py:314-317); otherwise the doc rebuilds
    // from the freshly summarized files plus any reusable cached
    // entries, ordered by path (collectors.py:375-381,405-419), and
    // stamps `currentHead`.
    val repoBlame =
      if (headsEqual)
        // collectors.py:310-317 early return: zero tree or blame work.
        cachedBlame.get.select(col("repo_name"), col("ref"), col("files"),
          lit(generatedAt).as("generated_at"),
          lit(currentHead.orNull).cast(StringType).as("head_commit_sha"))
      else {
        // Tree listing → capped blob paths (runner.py:73-75, W2).
        val treeResp = getWithRetry(transport, cfg,
          s"$base/git/trees/$defaultBranch?recursive=1")
        val desiredPaths: Seq[String] =
          if (treeResp.status < 200 || treeResp.status >= 300) Seq.empty
          else {
            val treeSchema = StructType(Seq(
              StructField("tree", ArrayType(StructType(Seq(
                StructField("path", StringType),
                StructField("type", StringType)))))))
            readEntity(spark, Seq(treeResp.body), treeSchema)
              .select(explode(col("tree")).as("t"))
              .filter(col("t.type") === "blob")
              .select(col("t.path")).collect().map(_.getString(0)).toSeq
              .take(if (blameFileLimit > 0) blameFileLimit else Int.MaxValue)
          }
        // Compare runs only when both heads are known
        // (collectors.py:344-345); a failed compare (None) makes
        // planRefresh refresh the full desired set.
        val changed = (cachedHead, currentHead) match {
          case (Some(ch), Some(cu)) if cachedBlame.isDefined =>
            fetchChangedFiles(spark, transport, cfg, base, ch, cu)
          case _ => None
        }
        val plan = Blame.planRefresh(cachedHead, currentHead,
          cachedFiles.map(_.getAs[String]("path")), desiredPaths, changed)
        val refreshPaths = desiredPaths.filter(plan.refresh.toSet)
        val freshFiles: Seq[Row] =
          if (refreshPaths.isEmpty) Nil
          else Blame.repoBlameDoc(repoName, defaultBranch, None, generatedAt,
            fetchRanges(refreshPaths), Pipeline.blameCommitDetails(in.commits))
            .select(col("files").cast(ArrayType(blameFileType)))
            .head().getSeq[Row](0)
        val reusable = plan.reusable.toSet
        Blame.repoBlameDocOf(spark, repoName, defaultBranch, currentHead,
          generatedAt, blameFileType,
          freshFiles ++ cachedFiles.filter(f => reusable(f.getAs[String]("path"))))
      }

    val out = Pipeline.resolve(repoName,
      in.copy(externalIssueDetails = extDetails, targetDetails = targetDetails),
      refs, repoBlame)
    Pipeline.persist(repoName, out, outDir)
    out
  }

  /** Multi-repo live run with per-repo crash isolation
    * (runner.py:80-94 main): one repo's failure is recorded and the
    * loop continues — a bad repo never blocks the corpus. Results map
    * each repo to its outputs or its failure.
    *
    * `parallelism` > 1 overlaps repos from a fixed driver thread pool
    * — the corpus-scale lever the serial reference lacks: live
    * fetching is HTTP-latency-bound, Spark job submission is
    * thread-safe, and each repo writes its own directory, so N-way
    * overlap divides corpus wall-clock by ~N until the API rate limit
    * binds. Transports must be thread-safe under parallelism (the
    * shipped HttpTransport is; per-run state like the detail memo is
    * per-repo and unshared). Crash isolation is per repo either way. */
  def processReposLive(
      spark: SparkSession,
      transport: GithubClient.Transport,
      cfg: GithubClient.Config,
      repoNames: Seq[String],
      outDir: String,
      endpoints: Endpoints = Endpoints(),
      generatedAt: String = "",
      blameFileLimit: Int = 25,
      limits: Pipeline.Limits = Pipeline.Limits(),
      parallelism: Int = 1): Map[String, scala.util.Try[Pipeline.RepoOutputs]] = {
    def one(r: String): (String, scala.util.Try[Pipeline.RepoOutputs]) = {
      val res = scala.util.Try(processRepoLive(spark, transport, cfg,
        r.trim, outDir, endpoints, generatedAt, blameFileLimit, limits))
      res.failed.foreach(e =>
        System.err.println(s"[error] $r: ${e.getMessage}"))
      r -> res
    }
    if (parallelism <= 1) repoNames.map(one).toMap
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      try {
        val futures = repoNames.map(r => scala.concurrent.Future(one(r)))
        scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(futures),
          scala.concurrent.duration.Duration.Inf).toMap
      } finally pool.shutdown()
    }
  }
}
