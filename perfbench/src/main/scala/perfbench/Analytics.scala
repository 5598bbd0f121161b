package perfbench

import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}
import graft.ext.Stages

import scala.collection.mutable.ArrayBuffer

/** The sql_relational workload: declared queries run one after another by
  * one client, in seeded whole passes, each result sent to a noop sink. */
object Analytics {
  /** Every eighth relational query, q01 to q89: short queries where
    * Catalyst planning and codegen are a large share of each run. */
  val Relational: Seq[String] =
    SparkEntry.queries.keys.filter(_.matches("q\\d\\d_.*")).toSeq.sorted
      .zipWithIndex.collect { case (q, i) if i % 8 == 0 => q }

  /** Two multi-stage pipeline rows, so that `ext/` is on the path too: x54
    * builds a shared stage (`Stages.shared`) with the `functions/` n-gram
    * kernels, x106 materializes its re-derived CTE stream
    * (`Stages.materialize`). */
  val Pipeline: Seq[String] = Seq("x54_ngram_jaccard", "x106_bigram_lm")

  private val SetupRounds = 3

  /** Fewest whole passes per window: enough samples that the tail
    * percentile `run.py` fixes has ten beyond it. */
  private val MinPasses = 3

  /** Untimed passes before the window. The JIT keeps compiling for many
    * passes (a pass's CPU time falls by a third from the second pass to
    * the sixth), so the window starts after four. */
  private val WarmPasses = 4

  def run(o: Opts): Rec = {
    val rec = new Rec
    val names = Relational ++ Pipeline
    val rng = new scala.util.Random(o.seed)

    // Set-up, three times; the first round counts from JVM start.
    val setup, sessionS, tablesS = ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (round <- 0 until SetupRounds) {
      if (spark != null) Main.stopSession(spark)
      val t0 = System.nanoTime()
      val (s, sessT) = Main.time(Main.session(o, analytics = true))
      spark = s
      val (_, tabT) = Main.time {
        graft.functions.GraftFunctions.register(spark)
        Tables.ensure(spark, o.data)
      }
      sessionS += sessT
      tablesS += tabT
      setup += (if (round == 0) Main.sinceStartMs / 1e3
                else (System.nanoTime() - t0) / 1e9)
    }
    rec("setup_rounds_s") = setup.toSeq
    rec("setup.session_s") = sessionS.toSeq
    rec("setup.tables_s") = tablesS.toSeq

    // Untimed warm passes: the first also writes every result for the
    // oracle check, the others run as the timed passes do.
    val resultsDir = o.out.resolve("results")
    val warmFailed = ArrayBuffer[String]()
    val (_, warmT) = Main.time {
      rng.shuffle(names).foreach { q =>
        try SparkEntry.queries(q)(spark, o.data).coalesce(1)
          .write.mode("overwrite").parquet(resultsDir.resolve(q).toString)
        catch { case e: Throwable =>
          warmFailed += s"$q: ${String.valueOf(e.getMessage).linesIterator.take(1).mkString}"
        }
      }
      isolate(spark)
      for (_ <- 1 until WarmPasses)
        runPass(spark, names, rng, o.data, new Window, None, new Tracer(false))
    }
    rec("setup.warm_s") = warmT
    rec("warm_failures") = warmFailed.toSeq
    rec("oracle_sql") = names.map(q => q -> SparkEntry.oracleSql(q)).toMap

    // A traced run interleaves untraced and traced passes in the order
    // U T T U U T T U ..., so that a JIT still warming up favours neither;
    // the difference between the two is the tracing overhead.
    val tracer = new Tracer(o.trace)
    val probe = if (o.trace) Some(new SparkProbe(spark, tracer)) else None
    val untraced, traced = new Window
    val windows = if (o.trace) Seq(untraced, traced) else Seq(untraced)
    var pass = 0
    while (windows.exists(w => w.passes < MinPasses ||
        w.busyS < o.seconds / windows.size)) {
      val t = o.trace && (pass % 4 == 1 || pass % 4 == 2)
      runPass(spark, names, rng, o.data, if (t) traced else untraced,
        if (t) probe else None, if (t) tracer else new Tracer(false))
      pass += 1
    }
    rec("timed") = untraced.rec(None)
    if (o.trace) rec("traced") = traced.rec(probe)
    probe.foreach(_.detach())
    rec("heap_mb") = Main.liveHeapMb()
    tracer.write(o.out.resolve("spans.json"))
    Main.stopSession(spark)
    rec
  }

  /** The same clean slate before every pass: no cached frames and no
    * shared stages, so each pass pays the same builds. */
  private def isolate(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    Stages.clearShared()
  }

  /** What one window's passes measured. */
  private final class Window {
    val ops = ArrayBuffer[Rec]()
    val builds = ArrayBuffer[Long]()
    val passS, cpuMs = ArrayBuffer[Double]()
    var gcMs = 0.0
    def passes: Int = passS.size
    def busyS: Double = passS.sum

    def rec(probe: Option[SparkProbe]): Rec = {
      val w = new Rec
      w("ops") = ops.toSeq
      w("pass_s") = passS.toSeq
      w("pass_cpu_ms") = cpuMs.toSeq
      w("gc_ms") = gcMs
      w("shared_builds") = builds.toSeq
      probe.foreach { p =>
        p.drain()
        w("spark") = p.snapshot().map { case (k, c) => k -> c.toMap }
      }
      w
    }
  }

  /** One seeded pass over `names`, each query tagged for the probe; then
    * the isolation step, outside the measured time. */
  private def runPass(spark: SparkSession, names: Seq[String],
                      rng: scala.util.Random, data: String, w: Window,
                      probe: Option[SparkProbe], tracer: Tracer): Unit = {
    val sc = spark.sparkContext
    val cpu0 = Main.processCpuNs(); val gc0 = Main.gcMs()
    val b0 = Stages.sharedBuilds
    probe.foreach(_.active = true)
    val t0 = System.nanoTime()
    rng.shuffle(names).foreach { q =>
      val cg0 = Codegen.classes; val cgNs0 = Codegen.compileNs
      val (df, ok, ms) = tracer.span(s"op.$q", 0L) { span =>
        sc.setLocalProperty(SparkProbe.OpKey, q)
        sc.setLocalProperty(SparkProbe.SpanKey, span.toString)
        val s0 = System.nanoTime()
        val df = try Some(SparkEntry.queries(q)(spark, data))
          catch { case _: Throwable => None }
        val ok = df.exists { d =>
          try { d.write.format("noop").mode("overwrite").save(); true }
          catch { case _: Throwable => false }
        }
        (df, ok, (System.nanoTime() - s0) / 1e6)
      }
      val op = new Rec
      op("q") = q
      op("ms") = ms
      op("ok") = ok
      probe.foreach { p =>
        // the parse and analysis of the query itself, then every query
        // execution its write ran (phases arrive on the listener bus)
        p.drain()
        val inner = df.map(_.queryExecution.tracker.phases.map {
          case (k, v) => k -> v.durationMs.toDouble }).getOrElse(Map.empty)
        val outer = p.takePhases()
        op("phases") = (inner.keySet ++ outer.keySet).map(k =>
          k -> (inner.getOrElse(k, 0.0) + outer.getOrElse(k, 0.0))).toMap
        op("codegen_classes") = Codegen.classes - cg0
        op("codegen_ms") = (Codegen.compileNs - cgNs0) / 1e6
      }
      w.ops += op
    }
    w.passS += (System.nanoTime() - t0) / 1e9
    w.cpuMs += (Main.processCpuNs() - cpu0) / 1e6
    w.gcMs += Main.gcMs() - gc0
    w.builds += Stages.sharedBuilds - b0
    probe.foreach { p => p.drain(); p.active = false }
    sc.setLocalProperty(SparkProbe.OpKey, null)
    sc.setLocalProperty(SparkProbe.SpanKey, null)
    isolate(spark)
    System.gc()
  }
}
