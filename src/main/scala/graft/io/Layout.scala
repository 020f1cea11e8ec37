package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lease CONTENTION — another mutator currently holds (or just won
  * the race for) an index's `_mutation.lock`. A dedicated type so the
  * bounded-wait retry loop ([[Layout.withLeaseWait]] /
  * `graft.index.leaseWaitMs`) retries exactly the transient
  * wait-for-the-holder cases and nothing else: any other
  * `IllegalStateException` out of the lease machinery (a fence abort,
  * a corrupt state someone should look at) is immediately diagnosable
  * and must surface at once, not after `waitMs` of silent polling. */
final class LeaseHeldException(msg: String, cause: Throwable = null)
  extends IllegalStateException(msg, cause)

/** Physical-layout helpers for the stored index families: the
  * mutation lease, generation commit points, staging GC, the
  * small-artifact writers they share, and the one segment manifest
  * the text and vector families keep ([[Layout.Segments]]).
  *
  * All filesystem operations here resolve through Hadoop's
  * `FileSystem` from the session's configuration — the same
  * resolution the parquet reads/writes use — so URI-schemed paths
  * (hdfs://, s3a://) behave exactly like local ones. `java.io.File`
  * probes silently report "absent" for such paths, which is how a
  * stored-index maintenance path stops firing with no error.
  */
object Layout {

  /** Existence probe through the session's Hadoop FileSystem — the
    * only correct way to ask "does this artifact exist" for a path
    * the engine also reads/writes as parquet. */
  def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  // ---------------------------------------------------------------
  // Mutation lease: SINGLE MUTATOR AT A TIME, enforced
  // ---------------------------------------------------------------

  /** Per-index-path locks serializing mutators inside ONE JVM (two
    * streams of one session feeding the same index — the
    * refresh+takedown deployment — block here and run one at a
    * time, never seeing each other's filesystem lease). Keyed by the
    * normalized path string; ReentrantLock so a mutator that calls
    * another mutator (a refresh stream's compaction hook) nests
    * freely. */
  private val jvmLocks =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.locks.ReentrantLock]()

  /** The FS lease tokens held by the current thread, keyed by index
    * path — lets [[commitGeneration]] fence a commit against a
    * stale-lease takeover without changing every caller's
    * signature. */
  private val heldLeases = new ThreadLocal[Map[String, (Long, String)]] {
    override def initialValue(): Map[String, (Long, String)] = Map.empty
  }

  private def leasePath(indexDir: String) =
    new Path(s"$indexDir/_mutation.lock")

  /** The heartbeat SIDECAR (`_mutation.lock.hb`) — liveness for
    * filesystems whose `setTimes` is a no-op (object-store
    * FileSystem implementations commonly ignore it): where the probe
    * in [[startHeartbeat]] finds mtime refresh unsupported, each beat
    * atomically rewrites this file with `<token> <epochMillis>` and
    * staleness reads `max(lock mtime, sidecar timestamp)` — without
    * the fallback, a multi-hour compaction on such a store would look
    * crashed after `leaseStaleMs` and become takeover bait, exactly
    * the failure the heartbeat exists to prevent. */
  private def heartbeatPath(p: Path) =
    new Path(p.getParent, p.getName + ".hb")

  /** The lease's last PROVEN liveness instant: the lock file's mtime,
    * or the heartbeat sidecar's recorded timestamp when one exists
    * AND carries the current lock's token (a stale sidecar left by a
    * PREVIOUS holder must not keep a new holder's crashed lease
    * alive), whichever is later. Unreadable/corrupt sidecars are
    * ignored — freshness degrades to the lock mtime, never throws. */
  private def leaseLiveness(fs: org.apache.hadoop.fs.FileSystem,
      p: Path, lockToken: String): Long = {
    val mtime = fs.getFileStatus(p).getModificationTime
    val hb = heartbeatPath(p)
    val hbTs =
      try {
        if (!fs.exists(hb)) 0L
        else {
          val in = fs.open(hb)
          val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
          s.split(' ') match {
            case Array(t, ts, _*) if t == lockToken =>
              scala.util.Try(ts.trim.toLong).getOrElse(0L)
            case _ => 0L
          }
        }
      } catch { case _: java.io.IOException => 0L }
    math.max(mtime, hbTs)
  }

  /** The canonical key for one index: the FULLY-QUALIFIED path under
    * the session's filesystem resolution, so the same index addressed
    * with and without a scheme (`file:/tmp/idx` vs `/tmp/idx`) maps
    * to ONE jvm lock and ONE heldLeases entry — an unqualified key
    * would let a second same-JVM mutator bypass the serialization and
    * fail on the filesystem lease instead, with its commit fence
    * silently skipped. */
  private def leaseKey(spark: SparkSession, indexDir: String): String = {
    val p = new Path(indexDir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p).toString
  }

  /** Run `body` as THE single mutator of `indexDir` — every
    * stored-index mutation (append, delete, compact, every index
    * family) runs inside this. Two layers:
    *
    *  1. a JVM-wide lock per index path: concurrent mutators in one
    *     JVM (the refresh + takedown stream pair) SERIALIZE — they
    *     block, they don't fail, and the single-mutator contract
    *     holds without any deployment discipline;
    *  2. a filesystem lease (`_mutation.lock`, atomic
    *     create-fails-if-exists — the HDFS/S3A-conditional-put
    *     primitive): a mutator in ANOTHER JVM fails fast with an
    *     actionable error instead of racing the gen-(N+1) staging
    *     dir. The lease records (epoch, token, owner, mtime), and a
    *     HEARTBEAT thread refreshes the mtime every staleMs/3 while
    *     the mutation runs — `graft.index.leaseStaleMs` (default 15
    *     min; 0 disables takeover) therefore measures crash SILENCE,
    *     not mutation duration: a multi-hour compaction stays
    *     protected while a holder that DIED is taken over with
    *     epoch+1. [[commitGeneration]] re-reads the lease before
    *     creating the marker, so a fenced-out zombie writer ABORTS
    *     its commit rather than publishing over the new holder's
    *     generation.
    *
    * Reentrant per thread: the outer acquisition owns the lease; the
    * release happens only when the outermost frame exits. */
  def withMutationLease[T](spark: SparkSession, indexDir: String)
      (body: => T): T = {
    val key = leaseKey(spark, indexDir)
    // a generation-pinned session is READ-ONLY for that index: a
    // mutation under the pin would resolve its base artifacts from
    // the pinned (old) generation and stage gen pinned+1 — silently
    // forking history against whatever committed since. Refuse.
    if (pinnedGeneration.get.contains(key))
      throw new IllegalStateException(
        s"index $indexDir is pinned at a read snapshot " +
          s"(withPinnedGeneration) on this thread — pinned sessions " +
          "are read-only; run the mutation outside the pin.")
    val lock = jvmLocks.computeIfAbsent(key,
      _ => new java.util.concurrent.locks.ReentrantLock())
    lock.lock()
    try {
      if (lock.getHoldCount > 1) body // nested mutator: lease held
      else {
        val (epoch, token) = acquireLeaseWithWait(spark, indexDir)
        heldLeases.set(heldLeases.get + (key -> (epoch, token)))
        val hb = startHeartbeat(spark, indexDir, token)
        try body
        finally {
          hb.foreach(_.interrupt())
          heldLeases.set(heldLeases.get - key)
          releaseLease(spark, indexDir, token)
        }
      }
    } finally lock.unlock()
  }

  /** Bounded acquisition window for OPERATIONAL callers:
    * `graft.index.leaseWaitMs` (default 0 = today's fail-fast, the
    * right library default) makes a cross-JVM caller POLL with
    * backoff until the holder releases or the deadline passes — the
    * RunTakedown/RunCompact `--wait` flag and the documented retry
    * knob for cross-JVM stream deployments (two stream drivers in
    * DIFFERENT JVMs feeding one index retry their micro-batch's
    * mutation instead of killing the query over a 10-second holder).
    * Only the acquisition retries; once held, the mutation runs
    * exactly once. */
  private def acquireLeaseWithWait(spark: SparkSession,
      indexDir: String): (Long, String) = {
    val waitMs = leaseWaitOverride.get.getOrElse(
      spark.conf.get("graft.index.leaseWaitMs", "0").toLong)
    val deadline = System.currentTimeMillis() + waitMs
    var backoff = 250L
    while (true) {
      // retry ONLY contention ([[LeaseHeldException]]): a fence abort
      // or any other IllegalStateException is a diagnosable error, not
      // a holder to wait out, and rethrows immediately
      try return acquireLease(spark, indexDir)
      catch {
        case e: LeaseHeldException =>
          // sleep only the REMAINING window on the last nap, then
          // make one final attempt AT the deadline — capping the nap
          // instead of giving up early means the configured wait is
          // honored in full (a holder releasing at waitMs − ε still
          // loses the race under a throw-when-backoff-overshoots
          // policy, by up to a whole 5 s backoff)
          val remaining = deadline - System.currentTimeMillis()
          if (remaining <= 0) throw e
          Thread.sleep(math.min(backoff, remaining))
          backoff = math.min(backoff * 2, 5000L)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The per-THREAD override of `graft.index.leaseWaitMs` set by
    * [[withLeaseWait]]: the session conf stays the deployment-wide
    * default, but a CLI `--wait` scoped to one call must not leak
    * into a concurrent mutation on the SAME SparkSession (a stream
    * micro-batch running while RunTakedown.run is invoked
    * programmatically would otherwise transiently inherit — or lose —
    * the knob for the CLI call's duration). Acquisition happens on
    * the mutating thread, so a ThreadLocal scopes exactly right. */
  private val leaseWaitOverride = new ThreadLocal[Option[Long]] {
    override def initialValue(): Option[Long] = None
  }

  /** The CLI/operational face of `graft.index.leaseWaitMs`: override
    * the knob for the duration of `body` ON THIS THREAD ONLY —
    * shared by RunTakedown and RunCompact so the two tools' `--wait`
    * semantics cannot drift, and thread-scoped so a programmatic
    * caller embedded in a live session never perturbs concurrent
    * mutations (the session conf remains the cross-thread default,
    * which is what a stream deployment sets). */
  def withLeaseWait[T](spark: SparkSession, waitSec: Option[Long])
      (body: => T): T = {
    if (waitSec.isEmpty) return body
    val prev = leaseWaitOverride.get
    leaseWaitOverride.set(waitSec.map(_ * 1000L))
    try body
    finally leaseWaitOverride.set(prev)
  }

  /** Diagnostic face of the staleness clock: milliseconds since the
    * lease's last PROVEN liveness instant (the same
    * mtime-or-heartbeat-sidecar read [[acquireLease]]'s stale check
    * uses — Long.MaxValue when no lease exists). Same-JVM mutators
    * SERIALIZE on the per-index lock and can never observe another
    * holder's staleness through an acquire, so the no-op-setTimes
    * fixture (and deployment monitoring) reads the clock here. */
  private[graft] def leaseAgeMs(spark: SparkSession,
      indexDir: String): Long = {
    val p = leasePath(indexDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Long.MaxValue
    val (_, token, _) = readLease(fs, p)
    System.currentTimeMillis() - leaseLiveness(fs, p, token)
  }

  /** Monitoring face of the lease: (epoch, owner, silence-age ms) of
    * the current holder, None when the index is unheld. The age is
    * the same staleness clock the takeover check reads (mtime or
    * heartbeat sidecar, whichever is fresher) — an operator comparing
    * it against `graft.index.leaseStaleMs` sees exactly how close a
    * silent holder is to takeover. RunStatus prints it. */
  def leaseInfo(spark: SparkSession,
      indexDir: String): Option[(Long, String, Long)] = {
    val p = leasePath(indexDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    try {
      val (epoch, token, owner) = readLease(fs, p)
      Some((epoch, owner,
        System.currentTimeMillis() - leaseLiveness(fs, p, token)))
    } catch { case _: java.io.IOException => None } // released mid-read
  }

  /** Whether `fs` actually honors `setTimes` on `p` — probed by
    * setting a distinct mtime and re-statting. Object-store
    * FileSystem implementations commonly implement `setTimes` as a
    * silent no-op (or throw UnsupportedOperationException), and a
    * heartbeat built on it would refresh NOTHING while reporting
    * success. A working filesystem gets its mtime restored to "now"
    * (which is itself the first refresh); a blind one routes the
    * heartbeat through the [[heartbeatPath]] sidecar instead. */
  private def probeSetTimes(fs: org.apache.hadoop.fs.FileSystem,
      p: Path): Boolean =
    try {
      val target = fs.getFileStatus(p).getModificationTime + 7777L
      fs.setTimes(p, target, -1)
      val moved = fs.getFileStatus(p).getModificationTime == target
      if (moved) fs.setTimes(p, System.currentTimeMillis(), -1)
      moved
    } catch { case _: Exception => false }

  /** Keeps a HELD lease fresh while its mutation runs: a daemon
    * thread refreshes liveness every staleMs/3, so a long-but-alive
    * mutation (a multi-hour compaction) is never mistaken for a
    * crashed holder and taken over mid-stage — the stale window
    * measures silence, not duration. The refresh mechanism is PROBED
    * at start ([[probeSetTimes]]): where the filesystem honors
    * `setTimes`, the lock file's mtime is touched (HDFS, local);
    * where it silently ignores it (object stores), each beat
    * atomically rewrites the `_mutation.lock.hb` sidecar and
    * staleness reads the later of the two ([[leaseLiveness]]).
    * Refreshes only while the lock still carries OUR token (after a
    * takeover the intruder's lease must not be kept alive by the
    * zombie); stops on interrupt at release. No heartbeat when
    * takeover is disabled (staleMs = 0) — there is nothing to keep
    * fresh. */
  private def startHeartbeat(spark: SparkSession, indexDir: String,
      token: String): Option[Thread] = {
    val staleMs = spark.conf
      .get("graft.index.leaseStaleMs", "900000").toLong
    if (staleMs <= 0) return None
    val p = leasePath(indexDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val interval = math.max(staleMs / 3, 250L)
    val mtimeWorks = probeSetTimes(fs, p)
    val t = new Thread(() => {
      // a TRANSIENT failure (an IOException from an FS hiccup, the
      // benign FileNotFound race while a takeover check swaps the
      // file, or a single false "absent" report from a flaky store's
      // LIST/HEAD) must not kill the heartbeat — a dead heartbeat
      // makes a still-alive holder look crashed after staleMs,
      // defeating exactly the "staleness measures silence, not
      // duration" guarantee it exists for. Only an interrupt
      // (release) or a CONFIRMED takeover — a SUCCESSFUL read whose
      // token is not ours — stops the refresh loop; an absent or
      // unreadable lock just skips the refresh and retries (if it
      // stays absent, the loop idles harmlessly until release).
      try {
        var live = true
        var failures = 0
        while (live) {
          Thread.sleep(interval)
          try {
            if (fs.exists(p)) {
              if (readLease(fs, p)._2 == token) {
                if (mtimeWorks)
                  fs.setTimes(p, System.currentTimeMillis(), -1)
                else {
                  // ATOMIC overwrite (write-aside + rename): a reader
                  // sampling staleness mid-beat must see the previous
                  // beat or this one, never a truncated sidecar whose
                  // failed parse would discard the liveness it carries
                  val hb = heartbeatPath(p)
                  val aside = new Path(hb.getParent, hb.getName + ".tmp")
                  val out = fs.create(aside, true)
                  out.write(s"$token ${System.currentTimeMillis()}"
                    .getBytes("UTF-8"))
                  out.close()
                  if (!fs.rename(aside, hb)) {
                    // rename-over-existing is store-dependent; the
                    // fallback's absent instant degrades one sample to
                    // the lock mtime, it never corrupts
                    fs.delete(hb, false)
                    fs.rename(aside, hb)
                  }
                }
                failures = 0
              } else live = false // confirmed takeover: stop
            } else failures += 1 // possibly a takeover mid-swap or a
              // transient listing error: the next successful read
              // decides
          } catch {
            case _: java.io.IOException => failures += 1
          }
          // throttled persistent-outage warning: a single line at the
          // third miss then silence would hide staleness accruing
          // toward a takeover of a still-alive holder — re-log every
          // third consecutive miss with the accumulated silent
          // duration against the takeover window, so an operator
          // watching logs SEES the risk approaching
          if (failures >= 3 && failures % 3 == 0) System.err.println(
            s"graft: lease heartbeat for $p failing ($failures " +
              s"consecutive misses, ~${failures * interval / 1000}s " +
              s"silent of the ${staleMs / 1000}s takeover window) — " +
              "still retrying")
        }
      } catch {
        case _: InterruptedException => () // released: done
      }
    }, s"graft-lease-heartbeat-${p.getName}")
    t.setDaemon(true)
    t.start()
    Some(t)
  }

  /** TEST-ONLY instrumentation: invoked between the held-lease exists
    * probe and the lock read — the instant where a holder's release
    * turns `readLease` into FileNotFound. LeaseSpec uses it to PIN
    * that the race maps to CONTENTION (a [[LeaseHeldException]] the
    * `--wait` poll loop retries — and the retried create then
    * succeeds) instead of crashing the waiting caller at exactly the
    * moment the lease frees. Default no-op; never set outside tests. */
  private[graft] var afterLeaseExistsHook: () => Unit = () => ()

  private def acquireLease(spark: SparkSession,
      indexDir: String): (Long, String) = {
    val p = leasePath(indexDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staleMs = spark.conf
      .get("graft.index.leaseStaleMs", "900000").toLong
    var epoch = 0L
    if (fs.exists(p)) {
      afterLeaseExistsHook()
      // the held-lease inspection races the holder's RELEASE: between
      // the exists probe and the reads below the lock file can vanish,
      // and the resulting FileNotFoundException is a plain IOException
      // — surfacing it would crash a --wait poller at exactly the
      // moment the lease frees. It IS contention (a holder that just
      // released), so it maps to LeaseHeldException and the wait loop
      // retries the create, which now succeeds.
      val (heldEpoch, owner, age) =
        try {
          val (e0, heldToken, o0) = readLease(fs, p)
          // liveness = the later of the lock mtime and the heartbeat
          // sidecar a setTimes-blind filesystem's holder writes — on
          // such a store the lock mtime never moves after creation and
          // would make every live multi-hour mutation takeover bait
          (e0, o0,
            System.currentTimeMillis() - leaseLiveness(fs, p, heldToken))
        } catch {
          case e: java.io.FileNotFoundException =>
            throw new LeaseHeldException(
              s"the mutation lease for $indexDir was released while " +
                "being inspected — retry the acquisition.", e)
        }
      if (staleMs > 0 && age > staleMs) {
        // stale takeover: the holder crashed without releasing.
        // epoch+1 fences it — if it is actually alive and racing us,
        // its commitGeneration re-read sees a token it doesn't hold
        // and aborts. The crashed holder's heartbeat sidecar (if
        // any) dies with its lease — a leftover would stale-match
        // nothing (token-checked) but is garbage all the same, as is
        // the `.tmp` write-aside a heartbeat crash can strand.
        epoch = heldEpoch + 1
        fs.delete(p, false)
        val hb = heartbeatPath(p)
        fs.delete(hb, false)
        fs.delete(new Path(hb.getParent, hb.getName + ".tmp"), false)
      } else {
        throw new LeaseHeldException(
          s"index $indexDir is being mutated by '$owner' " +
            s"(lease epoch $heldEpoch, held ${age / 1000}s): " +
            "concurrent mutation of one index is not supported. " +
            "Retry after the holder commits; if it crashed, the " +
            s"lease auto-expires after ${staleMs / 1000}s (or remove " +
            s"$p manually).")
      }
    }
    val token = java.util.UUID.randomUUID().toString
    val owner = s"${java.net.InetAddress.getLocalHost.getHostName}:" +
      s"pid=${ProcessHandle.current().pid()}"
    val out =
      try fs.create(p, false)
      catch {
        case e: java.io.IOException => throw new LeaseHeldException(
          s"lost the mutation-lease race for $indexDir — another " +
            "mutator acquired it first; retry after it commits.", e)
      }
    out.write(s"$epoch $token $owner".getBytes("UTF-8"))
    out.close()
    (epoch, token)
  }

  private def readLease(fs: org.apache.hadoop.fs.FileSystem,
      p: Path): (Long, String, String) = {
    val in = fs.open(p)
    val content =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    content.split(' ') match {
      case Array(e, t, o @ _*) =>
        (scala.util.Try(e.toLong).getOrElse(0L), t, o.mkString(" "))
      case _ => (0L, "", "unknown")
    }
  }

  private def releaseLease(spark: SparkSession, indexDir: String,
      token: String): Unit = {
    val p = leasePath(indexDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // release only OUR lease: after a stale takeover the file holds
    // the new owner's token and must survive our (zombie) release
    if (fs.exists(p) && readLease(fs, p)._2 == token) {
      fs.delete(p, false)
      // the heartbeat sidecar (written only on setTimes-blind
      // filesystems) is liveness metadata OF this lease and must not
      // outlive it — nor may the `.tmp` write-aside a beat that
      // crashed between create and rename leaves behind (never read,
      // but permanent garbage in the index dir otherwise)
      val hb = heartbeatPath(p)
      fs.delete(hb, false)
      fs.delete(new Path(hb.getParent, hb.getName + ".tmp"), false)
    }
  }

  /** The per-thread generation PIN set by [[withPinnedGeneration]],
    * keyed like [[heldLeases]] by the fully-qualified index path. */
  private val pinnedGeneration = new ThreadLocal[Map[String, Long]] {
    override def initialValue(): Map[String, Long] = Map.empty
  }

  /** Run `body` with every read of `indexDir` PINNED at committed
    * generation `gen` — the explicit-snapshot face of
    * `graft.index.retainGenerations`: retaining K generations keeps
    * a commit from deleting artifacts under a running reader, but
    * every read face re-resolves [[liveGeneration]] per call, so a
    * multi-query session (a repro run, a paginated scroll) could
    * still observe gen-N for one page and gen-N+1 for the next.
    * Inside this scope every family's artifact-dir resolver returns
    * `gen` instead of the highest committed generation: pages are
    * bit-stable across a concurrent commit (GenerationPinSpec races
    * one mid-session).
    *
    * Read-only by construction: [[withMutationLease]] refuses to
    * start a mutation of a pinned index on this thread — a mutation
    * resolving its base from the pinned (old) generation would fork
    * history against whatever committed since. The pinned generation
    * must exist and be committed (checked at every resolution, so a
    * retire mid-session fails loudly instead of reading deleted
    * artifacts — retain enough generations for the longest reader).
    * Thread-scoped like [[withLeaseWait]]: concurrent sessions on
    * the same SparkSession pin independently. Nests by shadowing
    * (innermost pin wins; the outer pin restores on exit). */
  def withPinnedGeneration[T](spark: SparkSession, indexDir: String,
      gen: Long)(body: => T): T = {
    val key = leaseKey(spark, indexDir)
    val prev = pinnedGeneration.get
    pinnedGeneration.set(prev + (key -> gen))
    // validate eagerly — a typo'd pin should fail at the pin, not at
    // the first read deep inside a query plan
    try {
      liveGeneration(spark, indexDir)
      body
    } finally pinnedGeneration.set(prev)
  }

  /** Generation COMMIT POINTS for stored-index layouts — the Lucene
    * `segments_N` model: artifacts that must move TOGETHER under a
    * mutation (a text index's dictionary + statistics + tombstones
    * under a delete) live in `<indexDir>/gen-N/` directories, and a
    * generation becomes visible only when its `_COMMITTED` marker
    * lands (one atomic file create). A writer stages gen N+1 fully —
    * any crash before the marker leaves an INVISIBLE partial dir and
    * the previous generation intact and mutually consistent — then
    * commits. Readers resolve the highest committed generation.
    * Returns None when no committed generation exists (a legacy /
    * never-deleted index keeps its artifacts at the root).
    *
    * SINGLE MUTATOR AT A TIME — the Lucene IndexWriter contract,
    * ENFORCED by [[withMutationLease]] (every engine mutation runs
    * inside it): concurrent mutators in one JVM serialize on a
    * per-index lock (two streams feeding one index simply take
    * turns), and a mutator in another JVM fails fast on the
    * `_mutation.lock` filesystem lease instead of racing the
    * gen-(N+1) staging directory. Readers are unaffected — they see
    * only committed generations. */
  def liveGeneration(spark: SparkSession, indexDir: String): Option[Long] = {
    // an explicit generation pin ([[withPinnedGeneration]]) overrides
    // the highest-committed resolution for this thread: every read
    // face of every family resolves its artifact dir through here,
    // so one pin holds a whole query session on one snapshot
    pinnedGeneration.get.get(leaseKey(spark, indexDir)).foreach { g =>
      val marker = new Path(s"${generationDir(indexDir, g)}/_COMMITTED")
      require(marker.getFileSystem(
          spark.sparkContext.hadoopConfiguration).exists(marker),
        s"generation $g of $indexDir is not committed (or was " +
          "retired) — pin a generation from committedGenerations, " +
          "and raise graft.index.retainGenerations if commits are " +
          "retiring snapshots readers still hold.")
      return Some(g)
    }
    val p = new Path(indexDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val gens = fs.listStatus(p).iterator
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(n => n.startsWith("gen-") && n.length > 4 &&
        n.drop(4).forall(_.isDigit))
      .map(_.drop(4).toLong)
      .filter(g => fs.exists(new Path(s"${generationDir(indexDir, g)}/_COMMITTED")))
      .toSeq
    if (gens.isEmpty) None else Some(gens.max)
  }

  def generationDir(indexDir: String, gen: Long): String =
    s"$indexDir/gen-$gen"

  /** The WRITER-UNIQUE staging suffix for `indexDir`'s current
    * mutation: a fragment of the held lease token (empty when the
    * calling thread holds no lease — a legacy direct caller). This is
    * what closes the double-stale-takeover staging collision: two
    * mutators that BOTH took over a crashed holder's lease (the
    * check-stale → delete → create interleave) would otherwise stage
    * into the SAME `gen-(N+1)` and side directories — the fenced-out
    * zombie's still-running Spark jobs could land part-files in the
    * intruder's staging dirs, which the intruder then commits. With
    * token-unique staging, a zombie's I/O lands in a directory nobody
    * ever commits (reclaimed by GC / the next retire sweep), and the
    * committed generation provably contains only the committing
    * writer's files ([[commitGeneration]] renames staged → final
    * AFTER its fence re-read). */
  private def stagedSuffix(spark: SparkSession, indexDir: String): String =
    heldLeases.get.get(leaseKey(spark, indexDir)) match {
      case Some((_, token)) => "." + token.replace("-", "").take(12)
      case None => ""
    }

  /** Token-unique staging path for generation `gen` — every mutation
    * stages here and [[commitGeneration]] renames it to the final
    * `gen-N` after the lease fence re-read. The suffixed name is
    * invisible to [[liveGeneration]]/[[committedGenerations]] (their
    * all-digits filter) even if a crash leaves it behind. */
  def stageGenerationDir(spark: SparkSession, indexDir: String,
      gen: Long): String =
    s"$indexDir/gen-$gen${stagedSuffix(spark, indexDir)}"

  /** Token-unique staging name for a SIDE directory a mutation writes
    * next to the generation (a compaction's `postings-v<gen>`, an
    * append's `seg-<id>` data dir): pass the final name, stage into
    * the returned name, and hand (staged, final) to
    * [[commitGenerationAndRetire]]'s `sideRenames` so it lands under
    * the same fence-then-rename discipline as the generation dir. */
  def stagedSideName(spark: SparkSession, indexDir: String,
      name: String): String =
    s"$name${stagedSuffix(spark, indexDir)}"

  /** The fence half of the epoch-fenced commit: when the calling
    * thread holds a mutation lease for `indexDir`, RE-READ it and
    * abort unless the lock still carries our token — a writer fenced
    * out by a stale-lease takeover stops here instead of touching the
    * new holder's state. A thread holding no lease (a legacy direct
    * caller) passes through. */
  private def fenceOrAbort(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, indexDir: String,
      when: String): Unit =
    heldLeases.get.get(leaseKey(spark, indexDir)).foreach {
      case (epoch, token) =>
        val p = new Path(s"$indexDir/_mutation.lock")
        val held = fs.exists(p) && readLease(fs, p)._2 == token
        if (!held) throw new IllegalStateException(
          s"mutation lease for $indexDir (epoch $epoch) was taken " +
            s"over $when — aborting the commit; the staged " +
            "generation stays invisible and the new holder's index " +
            "state is untouched.")
    }

  /** TEST-ONLY instrumentation: invoked between the second fence
    * re-read and the `_COMMITTED` marker create — the one residual
    * instant of the commit protocol. LeaseSpec uses it to PIN the
    * marker-after-takeover interleave (a zombie that passed the
    * second fence and then lost a full takeover at this exact point
    * can at worst publish the intruder's fully-renamed, complete
    * generation slightly early — never a mixed or partial one).
    * Default no-op; never set outside tests. */
  private[graft] var beforeMarkerHook: () => Unit = () => ()

  /** The commit of a fully staged generation — the epoch-fencing half
    * of [[withMutationLease]]. Protocol, in order:
    *
    *  1. FENCE re-read + already-committed check, IMMEDIATELY before
    *     the first destructive operation: a writer fenced out by a
    *     stale-lease takeover — or racing a competitor that already
    *     published this generation number — aborts here without
    *     touching the competitor's data. Keeping the fence adjacent
    *     to the deletes (not at method entry) shrinks the
    *     check-to-destroy window to the instant between one read and
    *     one delete;
    *  2. the writer-unique staged directories rename to their final
    *     names (`sideRenames`: staged side dir → final, then the gen
    *     dir itself) — a crash between renames leaves finally-named
    *     but UNREFERENCED dirs (no marker → invisible; the families'
    *     GC sweeps reclaim them), never a half-visible generation;
    *  3. a SECOND fence re-read, then the `_COMMITTED` marker lands
    *     last. A takeover interleaving after this read can at worst
    *     publish the intruder's complete generation slightly early
    *     (LeaseSpec pins exactly this observable).
    *
    * FILESYSTEM CONTRACT: this rename-based commit assumes ATOMIC
    * directory rename — HDFS, local, ABFS, GCS. On a store where
    * rename is copy+delete (plain S3A without a metadata layer) a
    * crash mid-"rename" CAN leave a partially-copied finally-named
    * dir; it stays invisible (no marker) and is reclaimed — PINNED,
    * not assumed, by CopyRenameFsSpec, which runs the lifecycle on a
    * registered copy+delete-rename FileSystem (`cprn://`) and injects
    * the mid-copy crash: the partial never resolves as live, the
    * previous generation serves unchanged, and the replayed mutation
    * clears it exactly. What REMAINS true on such stores is that the
    * fence-to-destroy windows widen from instants to the full copy
    * duration — run such deployments against an atomic-rename layer,
    * OR inject a conditional-put/CAS publication primitive via
    * `graft.index.commitMarkerFactory` ([[CommitMarker]]): the marker
    * create then refuses when the fence token moved mid-commit, and
    * the fully-renamed generation stays unpublished (CasMarkerSpec
    * pins the refusal under `cprn://`). */
  def commitGeneration(spark: SparkSession, genDir: String,
      sideRenames: Seq[(String, String)] = Nil): Unit = {
    val genPath = new Path(genDir)
    val indexDir = genPath.getParent.toString
    val fs = genPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val finalName = genPath.getName.takeWhile(_ != '.')
    val finalDir =
      if (finalName == genPath.getName) genPath
      else new Path(s"$indexDir/$finalName")
    // the fence re-read sits IMMEDIATELY before the destructive
    // deletes/renames — a fence at method entry would leave every
    // check above it inside the check-to-destroy window
    fenceOrAbort(spark, fs, indexDir,
      "while this writer was staging")
    // defense-in-depth BEFORE any destructive rename: if a competing
    // writer already committed this generation number (a takeover
    // landing after our fence re-read), abort without touching its
    // published side data — a guard placed after the renames would
    // fire only after clobbering the very generation it protects
    if (finalDir != genPath && fs.exists(new Path(finalDir, "_COMMITTED")))
      throw new IllegalStateException(
        s"$finalDir is already committed — a competing writer " +
          "published this generation; aborting (the lease fence " +
          "should have prevented this).")
    // fence passed: we are THE writer — rename the token-unique
    // staging dirs to their final names. A finally-named leftover
    // from a crashed predecessor (it died after ITS renames, before
    // its marker) is uncommitted by construction and safe to replace.
    sideRenames.foreach { case (staged, fin) =>
      if (staged != fin) {
        val s = new Path(s"$indexDir/$staged")
        val f = new Path(s"$indexDir/$fin")
        fs.delete(f, true)
        require(fs.rename(s, f), s"commit: rename $s -> $f failed")
      }
    }
    if (finalDir != genPath) {
      fs.delete(finalDir, true)
      require(fs.rename(genPath, finalDir),
        s"commit: rename $genPath -> $finalDir failed")
    }
    // second fence re-read, AFTER the renames and immediately before
    // publication: a takeover that landed while this writer was mid-
    // commit (its first fence read already passed) aborts here
    // without a marker — the renamed-but-unpublished dirs stay
    // invisible and the GC sweeps reclaim them. The residual window
    // is now only the instant between this read and the one create
    // call below, and reaching even that requires a holder whose
    // heartbeat died while the process lived plus a takeover
    // interleaved INSIDE the commit sequence — versus the whole
    // staging phase before token-unique staging existed.
    fenceOrAbort(spark, fs, indexDir, "mid-commit")
    beforeMarkerHook()
    val marker = new Path(finalDir, "_COMMITTED")
    val publisher = commitMarker(spark)
    if (!publisher.publish(fs, marker, indexDir,
        heldLeases.get.get(leaseKey(spark, indexDir)).map(_._2)))
      throw new IllegalStateException(
        s"publication of $marker REFUSED by " +
          s"${publisher.getClass.getName}: the fence token moved " +
          "between the fence re-read and the conditional put — " +
          "aborting; the renamed generation stays unpublished " +
          "(invisible to every reader) and the GC sweeps reclaim it.")
  }

  /** The [[CommitMarker]] publication primitive for this session:
    * `graft.index.commitMarkerFactory` names a no-arg-constructible
    * implementation (a conditional-put/CAS publisher for stores
    * without atomic rename — see CommitMarker's scaladoc); unset =
    * the plain create. Instances are cached per class name — one
    * reflective load per session, not per commit. */
  private val markerCache =
    new java.util.concurrent.ConcurrentHashMap[String, CommitMarker]
  private def commitMarker(spark: SparkSession): CommitMarker = {
    val cn = spark.conf.getOption("graft.index.commitMarkerFactory")
      .getOrElse(classOf[CreateCommitMarker].getName)
    markerCache.computeIfAbsent(cn, n =>
      Class.forName(n).getDeclaredConstructor()
        .newInstance().asInstanceOf[CommitMarker])
  }

  /** Reclaim generations superseded by `keep` — run AFTER a
    * successful commit. By default only the just-committed generation
    * survives; a deployment wanting LOCK-FREE READERS (a query planned
    * over gen-N must not lose its artifacts when gen-N+1 commits
    * mid-plan) sets `graft.index.retainGenerations` in the session
    * conf to K > 1 and the K newest generations below `keep` are
    * retained (segment GC honors their manifests too). Uncommitted
    * stragglers ABOVE `keep` (crashed writers) always drop. Compaction
    * remains a maintenance-window operation regardless — it
    * physically reclaims data directories older generations may
    * reference. */
  def dropSupersededGenerations(spark: SparkSession, indexDir: String,
      keep: Long): Unit = {
    val retain = spark.conf
      .get("graft.index.retainGenerations", "1").toInt.max(1)
    val p = new Path(indexDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return
    fs.listStatus(p).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith("gen-") && n.length > 4 &&
          n.drop(4).forall(_.isDigit)) {
        val g = n.drop(4).toLong
        if (g > keep || g <= keep - retain)
          fs.delete(st.getPath, true)
      } else if (st.isDirectory && n.startsWith("gen-") && {
        // orphaned token-suffixed STAGING dirs (`gen-N.<token>`): this
        // sweep runs after the committing writer renamed its own away,
        // so any remaining one belongs to a crashed or fenced-out
        // zombie and never becomes visible — reclaim it
        val core = n.drop(4).takeWhile(_ != '.')
        core.nonEmpty && core.forall(_.isDigit) &&
          n.drop(4).length > core.length
      }) fs.delete(st.getPath, true)
    }
  }

  /** The token-suffix shape of [[stagedSuffix]]: 12 lowercase hex
    * chars after the last dot. Segment ids are caller-chosen — one
    * that mimics this shape would read as staging, so the GC faces
    * additionally exclude anything the live manifest references. */
  private val tokenSuffixRe = "^(.+)\\.([0-9a-f]{12})$".r

  /** The final name of a generation's side dir: `<kind>-v<gen>`. */
  private val sideGenRe = "^([a-z]+)-v([0-9]+)$".r

  /** Per-generation manifest memo for [[manifestReferenced]]: a
    * committed generation's `segments` parquet is IMMUTABLE (every
    * mutation stages a NEW generation; nothing rewrites a committed
    * one), so repeated status polls can reuse the parsed set. Keyed
    * by the segments dir path and guarded by a CONTENT fingerprint of
    * the dir's listing (leaf names + lengths + mtimes hashed — part
    * file names carry per-write task UUIDs, so an index deleted and
    * rebuilt at the same path fingerprints differently even on
    * S3A-class stores whose prefix-"directories" report synthetic or
    * zero modification times, where a dir-mtime guard is blind). One
    * listStatus per generation per poll replaces one Spark parquet
    * job each. Bounded: cleared wholesale past 256 entries (an
    * engine touches a handful of indexes). */
  private val manifestMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Set[String])]

  /** The [[manifestMemo]] guard: an order-insensitive hash of the
    * manifest dir's leaf (name, length, mtime) triples. */
  private def manifestFingerprint(fs: org.apache.hadoop.fs.FileSystem,
      p: Path): Long =
    fs.listStatus(p).map { st =>
      var h = 1125899906842597L // large prime seed
      st.getPath.getName.foreach(c => h = 31 * h + c)
      h = 31 * h + st.getLen
      31 * h + st.getModificationTime
    }.sum

  /** Directories ANY retained committed generation's segment manifest
    * references ([[Segments.referenced]]; the band family's dirs are
    * named by generation; a root manifest covers the legacy layout)
    * — the belt-and-suspenders exclusion for the
    * orphan sweep: nothing a committed manifest points at is ever an
    * orphan, whatever its name looks like. ALL retained generations,
    * not just the live one: under `retainGenerations` > 1 an older
    * manifest may reference a segment the live fold dropped, and a
    * reader pinned at that generation ([[withPinnedGeneration]]) must
    * never lose it to a GC sweep.
    *
    * `strict` = the caller intends to DELETE what this set fails to
    * protect (the [[graft.tools.RunGc]] sweep): a manifest read
    * failure then PROPAGATES and the sweep aborts — swallowing it
    * into an empty set would silently convert protection into
    * deletion of live segment dirs whose caller-chosen names match
    * the token shape. The lenient default serves the read-only
    * status path, where a transient read failure only under-reports.
    *
    * Committed generations' manifests are served from [[manifestMemo]]
    * (mtime-guarded); the mutable root manifest of a legacy layout is
    * read fresh every call. Returns the set and whether every manifest
    * read (always true when `strict`). */
  private[graft] def manifestReferenced(spark: SparkSession,
      indexDir: String, strict: Boolean = false): (Set[String], Boolean) = {
    val arts = indexDir +: committedGenerations(spark, indexDir)
      .map(g => generationDir(indexDir, g))
    val sets = arts.map { art =>
      def readSet(): Set[String] = readSegments(spark, art).referenced
      val p = new Path(s"$art/segments")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      try {
        val st =
          try Some(fs.getFileStatus(p))
          catch { case _: java.io.FileNotFoundException => None }
        Some(st match {
          case None => Set.empty[String]
          case Some(_) if art != indexDir =>
            // immutable committed-generation manifest: memoizable
            val key = fs.makeQualified(p).toString
            val fp = manifestFingerprint(fs, p)
            manifestMemo.get(key) match {
              case (t, set) if t == fp => set
              case _ =>
                val set = readSet()
                if (manifestMemo.size > 256) manifestMemo.clear()
                manifestMemo.put(key, (fp, set))
                set
            }
          case Some(_) => readSet()
        })
      } catch {
        case _: Exception if !strict => None
      }
    }
    (sets.flatten.flatten.toSet, sets.forall(_.isDefined))
  }

  /** ORPHANED staging artifacts of `indexDir`: the token-suffixed
    * `gen-N.<token>` / side (`seg-x.<token>`, `postings-vN.<token>`)
    * directories a writer that crashed (or was fenced out) mid-stage
    * leaves behind, plus — when no mutation is in flight —
    * finally-named `gen-N` dirs above the live generation that never
    * got their `_COMMITTED` marker (a pre-token-staging crash) and
    * finally-named side dirs of such a generation (`postings-vN`,
    * `bands-vN`: a commit that died after its renames, before the
    * marker) and `seg-<id>` segment dirs no retained manifest
    * references (an append that died the same way).
    * Invisible to every reader (correct) but reclaimed only by the
    * retire sweep of the NEXT committed mutation — an index that
    * crashes and then goes idle leaks them forever, which is what
    * [[graft.tools.RunGc]] exists to close. Returns (name, bytes)
    * pairs from a driver-side listing plus the manifest exclusion —
    * filesystem metadata RPCs and (first poll per committed
    * generation only, [[manifestMemo]]) a tiny parquet read of each
    * retained generation's segment manifest; steady-state polling
    * costs one listing + one getFileStatus per generation, no corpus
    * read ever. A CURRENT lease holder's own staging (token matching
    * the lock) is in-flight work, never reported.
    *
    * `underLease` = the caller IS the current holder (the GC face):
    * the uncommitted-gen rules then apply even though a lock exists
    * — the holder is the caller, which stages nothing before its
    * sweep, so an unmarked `gen-N` above live is provably a crashed
    * predecessor's, not in-flight work. The same flag marks DELETION
    * intent, so the manifest exclusion runs strict: a manifest read
    * failure aborts the sweep instead of degrading into an empty
    * protection set. */
  def orphanedStaging(spark: SparkSession, indexDir: String,
      underLease: Boolean = false): Seq[(String, Long)] = {
    val p = new Path(indexDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Seq.empty
    val holderToken: Option[String] =
      try {
        val lp = leasePath(indexDir)
        if (fs.exists(lp))
          Some(readLease(fs, lp)._2.replace("-", "").take(12))
        else None
      } catch { case _: java.io.IOException => None }
    val (referenced, allRead) =
      manifestReferenced(spark, indexDir, strict = underLease)
    val live = liveGeneration(spark, indexDir).getOrElse(0L)
    fs.listStatus(p).toSeq.filter(_.isDirectory).flatMap { st =>
      val n = st.getPath.getName
      // a concurrent mutator's retire sweep can reclaim the orphan
      // between the listing and the size read — a vanished entry is
      // a reclaimed one, not an error (this face is documented as
      // safe to poll from monitoring)
      def sized: Option[(String, Long)] =
        try Some(n -> fs.getContentSummary(st.getPath).getLength)
        catch { case _: java.io.IOException => None }
      n match {
        case _ if referenced.contains(n) => None
        case tokenSuffixRe(_, tok) if !holderToken.contains(tok) =>
          sized
        case _ if (holderToken.isEmpty || underLease) &&
            n.startsWith("gen-") &&
            n.length > 4 && n.drop(4).forall(_.isDigit) &&
            n.drop(4).toLong > live &&
            !fs.exists(new Path(st.getPath, "_COMMITTED")) =>
          // above the live generation with no marker and no active
          // writer (or the writer is the GC itself): a crashed
          // pre-token-staging writer's leftovers
          sized
        case sideGenRe(_, g) if (holderToken.isEmpty || underLease) &&
            g.toLong > live && !fs.exists(
              new Path(s"${generationDir(indexDir, g.toLong)}/_COMMITTED")) =>
          // a side dir renamed to its final name for a generation
          // whose marker never landed
          sized
        case _ if allRead && (holderToken.isEmpty || underLease) &&
            n.startsWith("seg-") =>
          // an append segment no retained manifest references: an
          // append that died after its commit renames, before its
          // marker (`seg-<id>` has no generation in its name). Only
          // when every manifest read: a status poll whose read failed
          // would otherwise report every live segment
          sized
        case _ => None
      }
    }
  }

  /** The committed generation numbers currently on disk, ascending —
    * more than one only under `graft.index.retainGenerations` > 1. */
  def committedGenerations(spark: SparkSession,
      indexDir: String): Seq[Long] = {
    val p = new Path(indexDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Seq.empty
    fs.listStatus(p).iterator
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(n => n.startsWith("gen-") && n.length > 4 &&
        n.drop(4).forall(_.isDigit))
      .map(_.drop(4).toLong)
      .filter(g => fs.exists(new Path(s"${generationDir(indexDir, g)}/_COMMITTED")))
      .toSeq.sorted
  }

  // ---------------------------------------------------------------
  // Segment manifest: the text and vector families' (kind, dir) record
  // ---------------------------------------------------------------

  /** Where an index's MUTATION-COMMITTED artifacts (tombstones, the
    * segment manifest, the text family's df/stats, the vector
    * family's live meta) live: the highest committed generation dir
    * ([[liveGeneration]], so a pin is honored), or the index root for
    * a freshly written index. Segment and folded DATA live in
    * immutable root dirs the manifest references. */
  def liveArtifactDir(spark: SparkSession, indexDir: String): String =
    liveGeneration(spark, indexDir).map(generationDir(indexDir, _))
      .getOrElse(indexDir)

  /** One generation's SEGMENT MANIFEST — the `segments` artifact of
    * (kind, dir) rows the text (`postings`, `termvectors`) and vector
    * (`codes`) families commit into each generation. `byKind` holds
    * each kind's live dirs, relative to the index root and sorted;
    * None when the generation has no manifest, whose one dir per kind
    * is then the writer's root `<kind>/`. A kind the manifest does not
    * name has no live dir (a text layout without term vectors).
    *
    * `applied` is the APPLIED-SEGMENTS registry (the `"applied"`
    * rows): every segment id ever committed, carried through deletes
    * AND folds. A fold's manifest forgets the segments it folded; the
    * registry must not, or a micro-batch redelivered after it would
    * re-apply, so the replay check reads this, never the live dirs.
    * A manifest from before the registry derives it from its live
    * `seg-*` dirs. */
  final case class Segments(byKind: Option[Map[String, Seq[String]]],
      applied: Seq[String]) {
    def dirs(kind: String): Seq[String] =
      byKind.fold(Seq(kind))(_.getOrElse(kind, Nil))

    /** Root dir names every live dir lives under. */
    def roots: Seq[String] =
      byKind.toSeq.flatMap(_.values.flatten).map(_.split('/').head).distinct

    /** Root names this manifest protects from every sweep: its live
      * dirs' roots and its applied segment ids. */
    def referenced: Set[String] = (roots ++ applied).toSet
  }

  /** THE manifest read: the segment manifest committed into the
    * artifact dir `art`. A driver-side read of a tiny artifact, no
    * Spark job; each mutation makes one. */
  def readSegments(spark: SparkSession, art: String): Segments = {
    val path = s"$art/segments"
    if (!pathExists(spark, path)) Segments(None, Nil)
    else {
      val rows = TinyParquet.read(spark, path)._2.map(r =>
        (r.getString(r.fieldIndex("kind")), r.getString(r.fieldIndex("dir"))))
      val (registry, live) = rows.partition(_._1 == "applied")
      val legacy = live.map(_._2.split('/').head).filter(_.startsWith("seg-"))
      Segments(Some(live.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted }),
        (registry.map(_._2) ++ legacy).distinct)
    }
  }

  /** Write a staged generation's segment manifest: `dirs` as (kind,
    * dir) rows in the given order, then the applied registry. */
  def writeSegments(spark: SparkSession, stage: String,
      dirs: Seq[(String, String)], applied: Seq[String]): Unit = {
    import spark.implicits._
    TinyParquet.write((dirs ++ applied.distinct.map(("applied", _)))
      .toDF("kind", "dir"), s"$stage/segments")
  }

  /** How many APPEND SEGMENTS the live manifest unions beyond the
    * base. Each costs one extra scan node per stored read (~75-80 ms
    * measured, ProbeSegments) until a fold removes it; refresh streams
    * and monitoring size the compaction cadence against it. */
  def segmentCount(spark: SparkSession, indexDir: String): Int =
    readSegments(spark, liveArtifactDir(spark, indexDir)).roots
      .count(_.startsWith("seg-"))

  /** One frame over several live dirs of one kind. Each dir reads
    * SEPARATELY (its own partition discovery: a shared multi-path read
    * trips Spark's conflicting-directory-structures check when the
    * roots sit at different depths) and the scans union, so filters on
    * the partition column push into EVERY child scan and pruning
    * survives segmentation. */
  def readDirs(spark: SparkSession, indexDir: String,
      dirs: Seq[String]): DataFrame = {
    require(dirs.nonEmpty,
      "no live directories for this artifact kind — the layout never " +
        "stored it (check the stats artifact's recorded flags)")
    dirs.map(d => spark.read.parquet(s"$indexDir/$d")).reduce(_ unionByName _)
  }

  /** Carry the tombstones and/or the segment manifest of `art`, where
    * they exist, UNCHANGED into the staged generation — driver byte
    * copies ([[copyArtifact]]), not read-rewrite Spark jobs. A
    * mutation that moves no segment data carries the manifest; one
    * that does not rewrite the tombstones carries them. */
  def carryUnchanged(spark: SparkSession, art: String, stage: String,
      tombstones: Boolean = false, manifest: Boolean = false): Unit =
    Seq("tombstones" -> tombstones, "segments" -> manifest).foreach {
      case (n, carry) =>
        if (carry && pathExists(spark, s"$art/$n"))
          copyArtifact(spark, s"$art/$n", s"$stage/$n")
    }

  /** Parquet data files under the given dirs (relative to the index
    * root) — the file-count observable a fold reports. */
  def countDataFiles(spark: SparkSession, indexDir: String,
      dirs: Seq[String]): Long = {
    val fs = new Path(indexDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    dirs.map(d => new Path(s"$indexDir/$d")).filter(fs.exists).map { p =>
      var n = 0L
      val it = fs.listFiles(p, true)
      while (it.hasNext)
        if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      n
    }.sum
  }

  /** Delete the root dirs of `indexDir` whose name `doomed` accepts. */
  private def deleteRootDirs(spark: SparkSession, indexDir: String)
      (doomed: String => Boolean): Unit = {
    val p = new Path(indexDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      fs.listStatus(p).foreach { st =>
        if (st.isDirectory && doomed(st.getPath.getName))
          fs.delete(st.getPath, true)
      }
  }

  /** Whether `n` names a data dir of the given kinds: an append
    * segment, a fold's `<kind>-v<gen>` or the writer's root `<kind>`. */
  private def isDataDir(kinds: Seq[String], n: String): Boolean =
    n.startsWith("seg-") || kinds.exists(k => n == k || n.startsWith(s"$k-v"))

  /** Reclaim root data dirs of `kinds` that no retained committed
    * generation's manifest references: a crashed append's segment, a
    * superseded fold, the writer's root dirs once a fold replaced
    * them. Every retained generation counts, not just the newest, so
    * `graft.index.retainGenerations` > 1 keeps older generations'
    * dirs readable. Idempotent; the folds call it before and after
    * their commit. */
  def sweepUnreferenced(spark: SparkSession, indexDir: String,
      kinds: Seq[String]): Unit = {
    val gens = committedGenerations(spark, indexDir)
    val arts =
      if (gens.isEmpty) Seq(indexDir) else gens.map(generationDir(indexDir, _))
    val live = arts.flatMap { a =>
      val s = readSegments(spark, a)
      kinds.flatMap(s.dirs)
    }.map(_.split('/').head).toSet
    deleteRootDirs(spark, indexDir)(n => !live.contains(n) && isDataDir(kinds, n))
  }

  /** `mode("overwrite")` for a WHOLE layout: drop everything a
    * previous index at this path may have left beside the root
    * artifacts the writer overwrites — committed generations,
    * tombstones, segments, folded dirs of `kinds`, stream batch
    * markers — any of which would shadow or mask the fresh index. */
  def clearLayout(spark: SparkSession, indexDir: String,
      kinds: Seq[String]): Unit = {
    dropSupersededGenerations(spark, indexDir, keep = -1L)
    deleteRootDirs(spark, indexDir)(n =>
      n == "tombstones" || n == "_batch_commits" ||
        (isDataDir(kinds, n) && !kinds.contains(n)))
  }

  /** A generation opened by [[openGeneration]]: its number, its
    * writer-unique staging dir, and each side dir as (staged name,
    * final name) — the `sideRenames` shape of
    * [[commitGenerationAndRetire]]. */
  final case class StagedGeneration(gen: Long, dir: String,
      sides: Seq[(String, String)])

  /** Open the next generation for staging — the prelude every staged
    * mutation shares: generation live + 1, its token-unique stage
    * dir, and the staged names of the side dirs `sides(gen)` names
    * (an append's `seg-<id>`, a fold's `<kind>-v<gen>`). A crashed
    * predecessor's leftovers under the stage dir or the sides' final
    * names are cleared first; none of them can be referenced, as no
    * marker names this generation. Call only after the mutation has
    * decided to commit: an append's replay check comes first, because
    * a replayed segment's final dir is live. */
  def openGeneration(spark: SparkSession, indexDir: String,
      sides: Long => Seq[String] = _ => Nil): StagedGeneration = {
    val gen = liveGeneration(spark, indexDir).getOrElse(0L) + 1
    val dir = stageGenerationDir(spark, indexDir, gen)
    val names = sides(gen)
    val fs = new Path(indexDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    (dir +: names.map(n => s"$indexDir/$n")).foreach(d => fs.delete(new Path(d), true))
    StagedGeneration(gen, dir,
      names.map(n => stagedSideName(spark, indexDir, n) -> n))
  }

  /** The shared commit epilogue of every staged-generation mutation:
    * ONE marker makes the staged artifact set live, superseded
    * generations retire (honoring the retain knob), and a legacy
    * FLAT tombstone set at the root — now shadowed by the committed
    * generation — is reclaimed. */
  def commitGenerationAndRetire(spark: SparkSession, indexDir: String,
      stage: String, gen: Long, previousArt: String,
      sideRenames: Seq[(String, String)] = Nil): Unit = {
    commitGeneration(spark, stage, sideRenames)
    dropSupersededGenerations(spark, indexDir, keep = gen)
    if (previousArt == indexDir) {
      val t = new Path(s"$indexDir/tombstones")
      t.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(t, true)
    }
  }

  /** Distributed rewrite of a stored index's TOMBSTONE artifact —
    * the one artifact whose size is bounded only by
    * deletes-since-compaction, which a takedown backlog (a GDPR
    * sweep, a dedup-losers purge of 30% of a corpus) makes
    * corpus-scale. The frame therefore writes DISTRIBUTED: below
    * `graft.index.tombstoneSingleFileMax` rows (default 2M) it
    * packs into one sorted file — the stable small-set layout every
    * reader point-loads cheaply — and above it the partitioning of
    * the union writes through unchanged, so a billion-row tombstone
    * set never funnels through one task (and never through the
    * driver: callers build `frame` from anti-joins and unions, not
    * collected Sets). */
  def writeTombstoneArtifact(spark: SparkSession, frame: DataFrame,
      path: String, totalRows: Long): Unit = {
    val max = spark.conf
      .get("graft.index.tombstoneSingleFileMax", "2000000").toLong
    val out =
      if (totalRows <= max)
        frame.coalesce(1).sortWithinPartitions(frame.columns.head)
      else frame
    out.write.parquet(path)
    // record the row count beside the data (underscore files are
    // invisible to parquet readers): the NEXT delete's single-file-vs-
    // distributed layout decision reads this instead of paying a full
    // count() scan over the accumulated tombstone set
    val cnt = new Path(s"$path/_rowcount")
    val os = cnt.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(cnt, true)
    os.write(totalRows.toString.getBytes("UTF-8"))
    os.close()
  }

  /** Row count of a tombstone artifact WITHOUT a Spark job when the
    * writer recorded it (`_rowcount`, [[writeTombstoneArtifact]]);
    * falls back to counting `frame` for a legacy artifact. Keeps each
    * delete at two passes over the tombstone set (anti-join + union
    * rewrite) instead of three.
    *
    * CONTRACT: `_rowcount` must equal the EXACT physical row count of
    * the artifact — never an estimate — because the value propagates
    * through `nOld + nDeleted` into every later delete's layout
    * decision until the next compaction resets it. The recorded value
    * is therefore SANITY-CHECKED against the parquet footers' exact
    * row counts whenever the artifact holds few files (the
    * overwhelmingly common small-single-file layout; footer reads are
    * driver-side metadata fetches, no Spark job) — a drifted value
    * (a partially overwritten artifact, a future caller passing an
    * estimate) is corrected to the physical truth with a warning
    * instead of silently steering the layout. Many-file artifacts
    * (the distributed mid-backlog layout) trust the recorded value:
    * per-file footer reads on an object store would re-introduce the
    * scan cost the side file exists to avoid. */
  def tombstoneRowCount(spark: SparkSession, path: String,
      frame: => DataFrame): Long = {
    val p = new Path(s"$path/_rowcount")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      val in = fs.open(p)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      scala.util.Try(s.trim.toLong) match {
        case scala.util.Success(recorded) =>
          val conf = spark.sparkContext.hadoopConfiguration
          val parts = fs.listStatus(new Path(path))
            .filter(st => st.isFile &&
              st.getPath.getName.endsWith(".parquet"))
          if (parts.length > 16) recorded
          else try {
            val physical = parts.map { st =>
              val r = org.apache.parquet.hadoop.ParquetFileReader.open(
                org.apache.parquet.hadoop.util.HadoopInputFile
                  .fromStatus(st, conf))
              try r.getRecordCount finally r.close()
            }.sum
            if (physical != recorded) System.err.println(
              s"graft: $path/_rowcount records $recorded but the " +
                s"parquet footers sum to $physical — using the " +
                "physical count (a drifted _rowcount would steer " +
                "every later delete's layout decision)")
            physical
          } catch { case _: Exception => recorded }
        case scala.util.Failure(_) => frame.count()
      }
    } else frame.count()
  }

  /** Carry-forward of a staged artifact directory (a tombstone set,
    * a meta row) into the next generation. Small artifacts — the
    * overwhelmingly common case — copy as raw bytes on the driver:
    * no Spark job, no schema inference, and side files like
    * `_rowcount` survive. Above `graft.index.artifactCopyMaxBytes`
    * (default 256 MiB — a tombstone set mid-GDPR-backlog can be
    * corpus-scale) the parquet content copies DISTRIBUTED (one task
    * per split, no shuffle — a single driver stream would serialize
    * gigabytes through one connection) and the underscore side files
    * follow as a driver copy. */
  def copyArtifact(spark: SparkSession, src: String, dst: String): Unit = {
    val s = new Path(src)
    val d = new Path(dst)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = s.getFileSystem(conf)
    val max = spark.conf
      .get("graft.index.artifactCopyMaxBytes", "268435456").toLong
    val bytes = fs.getContentSummary(s).getLength
    if (bytes <= max)
      org.apache.hadoop.fs.FileUtil.copy(fs, s, d.getFileSystem(conf), d,
        false, true, conf)
    else {
      spark.read.parquet(src).write.parquet(dst)
      val dfs = d.getFileSystem(conf)
      fs.listStatus(s).foreach { st =>
        val n = st.getPath.getName
        if (st.isFile && n.startsWith("_") && n != "_SUCCESS")
          org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, dfs,
            new Path(d, n), false, true, conf)
      }
    }
  }

  /** Schema preservation for PARTITIONED artifact writes that can
    * legitimately fold to ZERO rows (a compaction after a full-corpus
    * takedown): `partitionBy` on an empty frame writes no part files
    * at all — only `_SUCCESS` — leaving a directory schema inference
    * cannot read, which poisons EVERY later scan of the index (the
    * non-partitioned writer emits one empty schema-bearing file; the
    * partitioned one does not). Call after such a write: if no data
    * file landed, overwrite with an empty non-partitioned frame of
    * the same schema — the partition column degrades to a regular
    * (zero-row) data column, so readers' filters apply unchanged. */
  def ensureReadableParquet(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return
    val it = fs.listFiles(p, true)
    var hasData = false
    while (it.hasNext && !hasData)
      hasData = it.next().getPath.getName.endsWith(".parquet")
    if (!hasData)
      // a zero-row schema-bearing frame is driver data — TinyParquet
      // writes it without a job (Spark fallback for exotic schemas)
      TinyParquet.write(spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        schema), path)
  }
}
