package graft

import org.apache.spark.sql.SparkSession

/** Dev-only plan capture (not part of the driver contract): write the
  * `.explain("formatted")` output of each named query (default: all) to
  * `<outDir>/<name>_<tag>.txt` — the evidence files plan claims are
  * checked against (e.g. plans/r15/...). The output dir is required, so a
  * run never writes into a committed evidence dir by default.
  *
  * Usage: sbt "runMain graft.PlanDump <outDir> [tag] [name1,name2,...]"
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32),
  * SPARK_GRAFT_MASTER (default local[SPARK_GRAFT_CPUS]).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println(
        "usage: graft.PlanDump <outDir> [tag] [name1,name2,...]")
      sys.exit(2)
    }
    val outDir = args(0)
    val tag = if (args.length > 1) args(1) else "before"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val spark = Sessions.withMaster(SparkSession.builder()
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false"), master).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))

    val wanted =
      if (args.length > 2) args(2).split(",").toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    wanted.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => println(s"[plan] $name: no such query")
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.write(
              java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"),
              txt.getBytes("UTF-8"))
            println(s"[plan] $name -> $outDir/${name}_$tag.txt")
          } catch {
            case e: Throwable =>
              println(s"[plan] $name FAILED: ${e.getMessage}")
          }
          spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
