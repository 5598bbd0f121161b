package graft.ext

import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame

/** Cluster-switchable stage materialization for the multi-stage pipelines
  * (dedup candidate generation, label propagation, PageRank edges, BPE
  * iteration, k-means assignment).
  *
  * Every iterative/reused intermediate in `ext/` goes through
  * [[materialize]] instead of calling `localCheckpoint()` directly, so ONE
  * knob (`-Dgraft.stageMaterialize=<mode>`) selects the right durability
  * story for the deployment:
  *
  *  - `local` (default; right for local[N] dev and the driver bench):
  *    `localCheckpoint()` — blocks pinned in executor storage memory,
  *    zero I/O, lineage cut. NOT fault-tolerant: losing an executor loses
  *    the stage (on local[N] the "executor" is the JVM, so this is moot).
  *  - `reliable` (the cluster default for real multi-executor runs):
  *    `checkpoint()` to the Spark checkpoint dir (HDFS/S3 in production —
  *    set `sc.setCheckpointDir`; a temp dir is provisioned if unset so the
  *    mode is runnable out of the box). Survives executor loss — a 100 TB
  *    dedup run does not restart from the scan because one of 1000
  *    executors died mid-PPJoin.
  *  - `table` : write the stage to a parquet table and read it back —
  *    the "bucketed intermediate table" strategy: the stage becomes a
  *    first-class columnar artifact (inspectable, reusable across jobs,
  *    prunable by downstream scans). Base dir: `graft.stageDir` sys prop,
  *    else a temp dir (deleted on JVM exit).
  *
  * All three modes are value-identical by construction (same rows, order
  * not guaranteed by any of them — no ext/ pipeline depends on stage
  * order); StageMaterializeSpec pins that on the x54/x75/x108 paths.
  *
  * Reference: dust delegates everything to single-node SQLite
  * (`/root/reference/db/src/db.rs`) and has no multi-stage distributed
  * pipelines, so there is no counterpart; this is the Spark-native
  * operability layer the 100 TB mandate requires.
  */
object Stages {

  /** Current strategy — read per call so tests can flip it at runtime. */
  def mode: String = sys.props.getOrElse("graft.stageMaterialize", "local")

  private val counter = new AtomicLong(0)

  @volatile private var tmpBase: Path = _
  private def tableBase(): Path = synchronized {
    sys.props.get("graft.stageDir") match {
      case Some(d) =>
        val p = java.nio.file.Paths.get(d)
        Files.createDirectories(p)
        p
      case None =>
        if (tmpBase == null) {
          tmpBase = Files.createTempDirectory("graft-stages-")
          val doomed = tmpBase
          Runtime.getRuntime.addShutdownHook(new Thread(() =>
            if (Files.exists(doomed)) {
              val s = Files.walk(doomed)
              try s.sorted(Comparator.reverseOrder[Path]())
                .forEach(p => Files.deleteIfExists(p))
              finally s.close()
            }))
        }
        tmpBase
    }
  }

  /** Sequence number of each [[materialize]] call, shared by the explain
    * files and the stage timings so both number a stage the same. */
  private val stageSeq = new AtomicLong(0)

  /** Dev-only plan evidence hook (r16): `-Dgraft.stageExplainDir=<dir>`
    * writes each materialized stage's `.explain("formatted")` to
    * `<dir>/stage-NNN.txt` before it runs — the pipeline-internal plans
    * (x54/x57/x75 candidate stages…) are invisible in a final query's
    * explain because the checkpoint cuts the lineage. No cost when the
    * property is unset. */
  private def maybeExplain(df: DataFrame, n: Long): Unit =
    sys.props.get("graft.stageExplainDir").foreach { d =>
      val dir = java.nio.file.Paths.get(d)
      Files.createDirectories(dir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(dir.resolve(f"stage-$n%03d.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }

  /** Materialize `df` under the session's configured strategy and return
    * the stage-cut frame. Eager in all modes (the stage computes once,
    * here, not lazily per downstream consumer). */
  def materialize(df: DataFrame): DataFrame = {
    val n = stageSeq.incrementAndGet()
    maybeExplain(df, n)
    // Dev-only stage timing (r16): -Dgraft.stageTimeLog prints seconds per
    // materialized stage to stderr, numbered in step with stageExplainDir.
    if (sys.props.contains("graft.stageTimeLog")) {
      val t0 = System.nanoTime()
      val out = materialize0(df)
      System.err.println(
        f"[stage $n%03d] ${(System.nanoTime() - t0) / 1e9}%.3f s")
      out
    } else materialize0(df)
  }

  private def materialize0(df: DataFrame): DataFrame = mode match {
    case "local" => df.localCheckpoint()
    case "reliable" =>
      val sc = df.sparkSession.sparkContext
      if (sc.getCheckpointDir.isEmpty) {
        val d = Files.createTempDirectory("graft-ckpt-")
        // Spark only deletes non-streaming checkpoints itself when
        // referenceTracking.cleanCheckpoints is on; reclaim the
        // auto-provisioned dir at exit (a production cluster sets an
        // explicit HDFS/S3 checkpoint dir and owns its lifecycle)
        Runtime.getRuntime.addShutdownHook(new Thread(() =>
          if (Files.exists(d)) {
            val s = Files.walk(d)
            try s.sorted(Comparator.reverseOrder[Path]())
              .forEach(p => Files.deleteIfExists(p))
            finally s.close()
          }))
        sc.setCheckpointDir(d.toString)
      }
      df.checkpoint()
    case "table" =>
      val spark = df.sparkSession
      val out = tableBase().resolve(s"stage-${counter.incrementAndGet()}")
      df.write.mode("overwrite").parquet(out.toString)
      spark.read.parquet(out.toString)
    case other => throw new IllegalArgumentException(
      s"graft.stageMaterialize=$other (expected local | reliable | table)")
  }

  /** Import in pipeline files: `df.stageMaterialize` replaces the old
    * hard-coded `df.localCheckpoint()`. */
  implicit class StageOps(private val df: DataFrame) extends AnyVal {
    def stageMaterialize: DataFrame = materialize(df)
  }

  // ---------------------------------------------------------------------
  // Session-level shared-stage registry (VERDICT r9 next-round #4).
  //
  // Several driver rows branch off the SAME corpus-scale intermediate:
  // x54/x75/x108 all need the PPJoin unigram pair set, x104/x105/x109 all
  // need the word-set-fingerprint frame (and x105/x109 the mirror-edge
  // set derived from it). Each row stays independently correct — a cache
  // MISS recomputes exactly what the row computed before — but a library
  // user composing these operators in one session should pay the
  // corpus-scale stage once, the `Tables.ensure` idempotence pattern
  // applied to derived stages.
  //
  // Keyed per (session, registered data dir, materialize mode, stage,
  // params); at most ONE live entry per (session, mode, stage, params) —
  // looking the stage up under a different data dir drops the stale
  // entry (releasing its localCheckpoint blocks / checkpoint refs to the
  // ContextCleaner) and rebuilds, so a session that walks multiple scale
  // factors (Bench: warmup sf0.01, timed sf0.1) never reads stale data
  // and never accretes per-dir copies.
  // ---------------------------------------------------------------------

  private final case class SharedKey(session: String, mode: String,
                                     stage: String, params: String)
  private final case class SharedEntry(dir: String, df: DataFrame, seq: Long)
  private val registry =
    new java.util.concurrent.ConcurrentHashMap[SharedKey, SharedEntry]()
  private val buildCounter = new AtomicLong(0)
  private val entrySeq = new AtomicLong(0)
  // One lock per live session: builds within a session serialize (their
  // scaffolding temp views are session-global — __x54u_tp, __graft_fp_mp —
  // so two concurrent builds in one session could drop/re-register each
  // other's views). ReentrantLock, so a build composing [[shared]] for its
  // own inputs (same thread) re-enters freely; distinct sessions never
  // contend. The lock lives INSIDE the weak per-session identity entry
  // (ADVICE r11): its lifetime is exactly the session's — no explicit
  // removal ever happens, so invalidate() can't yank a lock out from under
  // an in-flight build (which would let a fresh lock admit a second
  // concurrent build in the same session), and a service churning
  // sessions without invalidate() can't accumulate dead locks (the
  // WeakHashMap entry — id and lock together — vanishes once the session
  // is unreachable; registry entries pin their session via the cached
  // DataFrame, so a session with live entries is never collected).

  /** Max cached shared stages across all sessions. A long-lived service
    * churning short-lived sessions evicts oldest-first instead of pinning
    * checkpoint blocks for the JVM lifetime (the cached DataFrame holds
    * its session strongly, so GC alone can never reclaim an entry). */
  private def cap: Int =
    sys.props.get("graft.sharedStageCap").map(_.toInt).getOrElse(64)

  /** Stable per-session identity: a monotonically assigned id held in a
    * WeakHashMap — distinct across `newSession()` clones and NEVER reused
    * (unlike `System.identityHashCode`, which a later session can alias
    * after GC and thereby serve a stale frame built on a dead context).
    * While a session has registry entries, its DataFrames pin it, so an id
    * present in the registry always denotes that exact live session. */
  private val sessionIds = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      (String, java.util.concurrent.locks.ReentrantLock)]())
  private val sessionSeq = new AtomicLong(0)
  private def sessionEntry(spark: org.apache.spark.sql.SparkSession)
      : (String, java.util.concurrent.locks.ReentrantLock) =
    sessionIds.computeIfAbsent(spark,
      _ => ("s" + sessionSeq.incrementAndGet(),
        new java.util.concurrent.locks.ReentrantLock()))
  private def sessionId(spark: org.apache.spark.sql.SparkSession): String =
    sessionEntry(spark)._1

  /** Live per-session lock count (specs / observability). */
  def sessionLockCount: Int = sessionIds.size()

  /** Number of shared-stage BUILDS so far (cache misses) — observability
    * for specs and perf triage; a hit leaves it unchanged. */
  def sharedBuilds: Long = buildCounter.get()

  /** Live entry count (specs / observability). */
  def sharedEntries: Int = registry.size()

  /** Drop every cached shared stage (tests; or to force re-derivation). */
  def clearShared(): Unit = registry.clear()

  /** Evict every cached stage belonging to `spark` — call when a service
    * discards a session, so its localCheckpoint blocks / checkpoint refs
    * are released immediately rather than waiting for cap pressure. */
  def invalidate(spark: org.apache.spark.sql.SparkSession): Unit = {
    val sid = sessionId(spark)
    registry.keySet.removeIf(_.session == sid)
    // the session's lock is deliberately NOT touched: it dies with the
    // session (weak entry), and removing it here could hand a concurrent
    // in-flight build's session a second, fresh lock
  }

  /** Drop entries whose SparkContext is stopped, then enforce [[cap]] by
    * evicting oldest entries first. Cheap: the registry holds a handful of
    * corpus-scale stages, never per-row data. */
  private def sweep(): Unit = {
    val it = registry.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue.df.sparkSession.sparkContext.isStopped) it.remove()
    }
    var excess = registry.size() - cap
    if (excess > 0) {
      import scala.jdk.CollectionConverters._
      registry.entrySet().asScala.toSeq.sortBy(_.getValue.seq)
        .take(excess).foreach(e => registry.remove(e.getKey, e.getValue))
    }
  }

  /** Return the materialized stage `stage(params)` for this session and
    * its currently registered data dir, building (and caching) it with
    * `build` on first use. `build` MUST return an already-materialized,
    * self-contained frame (run it through [[materialize]]; do not leave
    * temp-view references live in its plan). Builds are composable: a
    * build may freely call [[shared]] for its own inputs — the per-session
    * lock is reentrant, and a corpus-scale build never blocks lookups from
    * other sessions. Builds within ONE session serialize (see
    * [[sessionIds]]) so concurrent builds can't clobber each other's
    * session-global scaffolding temp views. */
  def shared(spark: org.apache.spark.sql.SparkSession, stage: String,
             params: String = "")(build: => DataFrame): DataFrame = {
    val dir = graft.Tables.registeredDir(spark).getOrElse("")
    val (sid, lock) = sessionEntry(spark)
    val key = SharedKey(sid, mode, stage, params)
    val cur = registry.get(key)
    if (cur != null && cur.dir == dir) return cur.df
    lock.lock()
    try {
      val again = registry.get(key) // built while we waited?
      if (again != null && again.dir == dir) return again.df
      buildCounter.incrementAndGet()
      val df = build
      registry.put(key, SharedEntry(dir, df, entrySeq.incrementAndGet()))
      sweep()
      df
    } finally lock.unlock()
  }
}
