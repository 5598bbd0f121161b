package graft

import graft.command.Json
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: times every SparkEntry query at SPARK_GRAFT_SF_DIR
  * and prints the full per-query JSON line (the original contract), then a
  * SHORT final JSON line (total + failure count + pointer to the per-query
  * file) sized to survive the driver's 2000-char output tail. The full
  * per-query JSON is also written to bench_per_query.json (override:
  * SPARK_GRAFT_BENCH_JSON). Optional args: comma-separated query names to
  * run a subset (dev use); no args = full suite (driver contract).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_MASTER: same override as Verify (e.g. the
    // local-cluster soak); default stays the driver contract local[N]
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val spark = Sessions.withMaster(SparkSession.builder()
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // STATIC conf, must be set on the first session in the JVM: the
      // default generated-class cache holds 100 entries, and a 160-query
      // suite (several codegen stages each) thrashes it — the warmup
      // phase's compiled+JIT'd classes are evicted before their timed run,
      // which re-compiles AND re-runs C1 while C2 catches up (measured:
      // heavy sketch rows at 2-4x steady state). Size it to the suite.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false"), master).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Warm the session (JIT, codegen cache, parquet footer reads) so the
    // first timed query doesn't absorb one-time startup cost. Best-effort:
    // a data-shape surprise here must degrade to per-query err rows in the
    // timed loop below, not kill the JVM before a single query runs.
    try {
      Tables.ensure(spark, sfDir)
      Tables.names.foreach(t => spark.table(t).limit(1).count())
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] table warmup failed: ${e.getMessage}")
    }
    spark.range(1000).selectExpr("sum(id)").collect()

    val wanted: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
      if (args.nonEmpty) {
        val keep = args(0).split(",").toSet
        SparkEntry.queries.filter { case (k, _) => keep.contains(k) }
      } else SparkEntry.queries

    // Warm each query's GENERATED code on a small dataset first: the plan
    // shape (and therefore the Janino classes + their JIT) is identical
    // across scale factors, so the timed run below measures steady-state
    // execution rather than one-time compilation of ~65 distinct
    // whole-stage-codegen classes (measured: 2-8x first-run penalty per
    // query). sf0.01, not sf0.001: the 50-row scale runs the generated
    // loops too few iterations to trigger C2 JIT compilation of the big
    // 64-aggregate sketch classes, so their first full-scale run executed
    // mixed interpreted/C1 while C2 compiled in the background (measured:
    // x57 35 s first run vs 11 s steady-state — the r2/r3 bench-tail
    // mystery). DuckDB's baseline has no per-query codegen or JIT; this
    // removes the JVM-only artifact while every timed byte of real work
    // still runs at the full scale factor, cold.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR",
      "/root/testdata/sf0.01")
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir) {
      wanted.toSeq.sortBy(_._1).foreach { case (_, fn) =>
        try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => } // warmup is best-effort
        spark.catalog.clearCache()
      }
      System.gc()
    }

    // Variance reduction (dev knob): SPARK_GRAFT_BENCH_REPS=k reports the
    // MEDIAN of k timed runs per query. Default 1 — the driver contract —
    // where shared-VM scheduling noise is ±30% on the slowest queries
    // (BASELINE.md's documented 62-105 s spread); median-of-3 collapses a
    // noisy in-suite outlier without a separate isolate-re-run round.
    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(1)
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    val results = wanted.toSeq.sortBy(_._1).map { case (name, fn) =>
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        // Full materialization through the noop sink: under count() Catalyst
        // eliminates the final global ORDER BY and output projection, so the
        // timed plan omitted work the DuckDB baseline pays for.
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save() }
        catch { case e: Throwable =>
          failures(name) = Option(e.getMessage).getOrElse(e.toString)
            .linesIterator.take(1).mkString.take(200)
        }
        val dt = (System.nanoTime() - t0) / 1e9
        // isolate queries: drop any DataFrame caches a query materialized so
        // storage memory from one query can't starve the next one's joins,
        // and nudge GC so the ContextCleaner reclaims localCheckpoint blocks
        // (clearCache does not free those — only dropping the last RDD
        // reference does, which the gc makes prompt instead of eventual)
        spark.catalog.clearCache()
        System.gc()
        dt
      }.sorted
      name -> times(times.length / 2)
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + sec(v) }
      .mkString("{", ",", "}")
    val fj = failures.map { case (k, v) => "\"" + k + "\":" + Json.escapeQ(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val fullLine =
      s"""{"metric":"total","value":${sec(total)},"unit":"sec","queries":$qs,"failures":$fj,"reps":$reps,"sf":${Json.escapeQ(sfDir)}}"""
    println(fullLine)
    // The round driver stores only a ~2000-char tail of this process's
    // output, and the 163-entry line above never fits — every BENCH_r*.json
    // capture back to round 1 has parsed:null because the line truncates
    // mid-string. Additions only: persist the full per-query JSON to a file
    // and END with a short, complete JSON line (total + failure count +
    // file pointer) that always fits inside the tail.
    val perQueryFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_JSON",
      "bench_per_query.json")
    val filePointer = try {
      val p = java.nio.file.Paths.get(perQueryFile).toAbsolutePath
      java.nio.file.Files.write(p,
        (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      p.toString
    } catch { case e: Throwable =>
      System.err.println(s"[bench] per-query file write failed: ${e.getMessage}")
      ""
    }
    println(summaryLine(total, results.size, failures.size, filePointer,
      reps, sfDir))
    spark.stop()
  }

  // Seconds at millisecond resolution: the timings carry ±30% shared-VM
  // noise, so sub-ms digits are pure line width (the full-suite line was
  // ~6 KB with 9 significant decimals, ~3.9 KB at 3).
  private def sec(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

  /** The short final line; the two paths are JSON-escaped. */
  def summaryLine(total: Double, nqueries: Int, nfailures: Int,
                  perQueryFile: String, reps: Int, sfDir: String): String =
    s"""{"metric":"total","value":${sec(total)},"unit":"sec","nqueries":$nqueries,"nfailures":$nfailures,"per_query_file":${Json.escapeQ(perQueryFile)},"reps":$reps,"sf":${Json.escapeQ(sfDir)}}"""
}
