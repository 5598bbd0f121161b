package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.command.Json
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query subset — dev only;
    // the driver always passes exactly two args = full suite]
    val (sfDir, outDir) = (args(0), args(1))
    val subset: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_MASTER overrides the master URL — the local-cluster soak
    // (`local-cluster[2,16,16384]`, separate executor JVMs) drives the
    // serialization/broadcast paths local[N] never exercises; needs
    // SPARK_HOME set so the workers can launch executors.
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val builder = SparkSession.builder()
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // see Bench: the 100-entry default codegen cache thrashes at suite
      // size; static conf, first-session-only
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
    val spark = Sessions.withMaster(builder, master).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => subset.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // every control char is escaped: a tab or CR in a query's SQL text
    // would otherwise make the file unreadable to a JSON parser
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.escapeQ(k)}: ${Json.escapeQ(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
