package graft

import org.apache.spark.sql.SparkSession

/** Dev-only generated-code capture (not part of the driver contract):
  * write the whole-stage-codegen source of a named query to a file, so
  * subexpression-elimination claims (e.g. q85's repeated parse_json) can
  * be checked against the actual generated Java instead of guessed from
  * the formatted plan (which never shows CSE).
  *
  * Usage: sbt "runMain graft.CodegenDump <outFile> <queryName>"
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_MASTER (default
  * local[SPARK_GRAFT_CPUS]).
  */
object CodegenDump {
  def main(args: Array[String]): Unit = {
    val outFile = args(0)
    val name = args(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val spark = Sessions.withMaster(SparkSession.builder()
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // AQE wraps the plan in AdaptiveSparkPlan, which codegenString
      // cannot traverse before execution — disable for the dump (the
      // per-stage generated code is identical either way)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false"), master).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fn = SparkEntry.queries(name)
    val txt = org.apache.spark.sql.execution.debug.codegenString(
      fn(spark, sfDir).queryExecution.executedPlan)
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[codegen] $name -> $outFile")
    spark.stop()
  }
}
