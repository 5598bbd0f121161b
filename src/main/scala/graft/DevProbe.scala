package graft

import org.apache.spark.sql.SparkSession

/** Dev-only timing probe (not part of the driver contract): bench-mimic a
  * single query — warm once at sf0.01 (the Bench warmup), then three timed
  * runs at SPARK_GRAFT_SF_DIR — so first-run JIT/codegen effects are
  * visible separately from steady state (the x103/codegen-cache class of
  * regression shows up as run1 ≫ run3).
  *
  * Usage: sbt "runMain graft.DevProbe <queryName> [queryName2 ...]"
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_WARM_DIR, SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_MASTER (default local[SPARK_GRAFT_CPUS]).
  */
object DevProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val spark = Sessions.withMaster(SparkSession.builder()
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false"), master).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val names = if (args.nonEmpty) args.toSeq else Seq("q18_tpch_q1")
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => println(s"[probe] $name: no such query")
        case Some(fn) =>
          val t0 = System.nanoTime()
          fn(spark, warmDir)
            .write.format("noop").mode("overwrite").save()
          println(f"[probe] $name warm $warmDir ${(System.nanoTime() - t0) / 1e9}%8.2f s")
          spark.catalog.clearCache()
          (1 to 3).foreach { i =>
            val t1 = System.nanoTime()
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            println(f"[probe] $name run$i ${(System.nanoTime() - t1) / 1e9}%8.2f s")
          }
      }
    }
    spark.stop()
  }
}
