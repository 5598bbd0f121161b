package graft

import org.apache.spark.sql.SparkSession
import java.io.PrintWriter
import java.security.MessageDigest
import graft.command.Json

/** Differential-testing driver, Spark side (VERDICT r10 #1): generate
  * seeded random Spark∩DuckDB queries (graft.tools.SqlFuzz), run each on
  * Spark over the testdata views, and emit one JSON line per query with an
  * order-insensitive canonical result digest. tools/check_fuzz.py replays
  * the same SQL in DuckDB and compares digests.
  *
  * Usage: runMain graft.Fuzz <sfDir> <outFile> <seedStart> <count>
  *
  * Canonical digest (must match check_fuzz.py exactly):
  *   cell   := "NULL" | bigint decimal string | raw string
  *             | date "YYYY-MM-DD" | "true"/"false"
  *   row    := md5-hex of cells joined by U+001F
  *   result := md5-hex of (sorted row digests joined by \n) + "|" + count
  * Sorting the per-row MD5 hexes (not the rows) makes the comparison
  * order- and collation-insensitive: hex sorts identically everywhere.
  */
object Fuzz {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outFile = args(1)
    val seedStart = args(2).toLong
    val count = args(3).toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.ensure(spark, sfDir)
    registerFuzzViews(spark)
    val w = new PrintWriter(outFile)
    var errs = 0
    try {
      (0 until count).foreach { i =>
        val seed = seedStart + i
        val sql = tools.SqlFuzz.gen(seed)
        val rec =
          try {
            val (n, digest, sample) = run(spark, sql)
            s"""{"seed":$seed,"sql":${Json.escapeQ(sql)},"rows":$n,""" +
              s""""digest":"$digest","sample":${Json.escapeQ(sample)}}"""
          } catch {
            case e: Throwable =>
              errs += 1
              s"""{"seed":$seed,"sql":${Json.escapeQ(sql)},"err":${Json.escapeQ(
                  s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")}}"""
          }
        w.println(rec)
        if ((i + 1) % 200 == 0) {
          w.flush()
          System.err.println(s"[fuzz] ${i + 1}/$count (spark errors: $errs)")
        }
      }
    } finally w.close()
    println(s"""{"fuzz":"done","count":$count,"sparkErrors":$errs}""")
    spark.stop()
    if (errs > 0) sys.exit(2) // a Spark-side error is a generator bug
  }

  /** Fuzz-only extension views (grammar v2) — the Spark twins of the
    * views check_fuzz.py builds in DuckDB. Dialect-specific projections,
    * semantically pinned: props.k as BIGINT (get_json_object vs
    * json_extract_string), embedding length (size vs len — no shared
    * name), and float32 elements exactified via the standard
    * float→double→*1e6→FLOOR chain (bit-identical IEEE-754 in both). */
  def registerFuzzViews(spark: SparkSession): Unit = {
    spark.sql(
      "CREATE OR REPLACE TEMP VIEW events_x AS SELECT event_id, ts, " +
        "user_id, event_type, value, " +
        "CAST(get_json_object(props, '$.k') AS BIGINT) AS props_k " +
        "FROM events")
    val es = (1 to 4).map(i =>
      s"CAST(FLOOR(CAST(element_at(embedding, $i) AS DOUBLE) * 1000000 " +
        s"+ 0.5) AS BIGINT) AS e$i").mkString(", ")
    spark.sql(
      "CREATE OR REPLACE TEMP VIEW emb_x AS SELECT vec_id, label, " +
        s"size(embedding) AS dim, $es FROM embeddings")
  }

  /** Run one query; return (rowCount, canonical digest, small diagnostic
    * sample of the lexicographically-first row digests). */
  def run(spark: SparkSession, sql: String): (Long, String, String) = {
    val rows = spark.sql(sql).collect()
    val digests = rows.map { r =>
      val cells = (0 until r.length).map(j => cell(r.get(j)))
      md5(cells.mkString("\u001f"))
    }
    java.util.Arrays.sort(digests.asInstanceOf[Array[Object]])
    (rows.length.toLong,
      md5(digests.mkString("\n") + "|" + rows.length),
      digests.take(3).mkString(","))
  }

  private def cell(v: Any): String = v match {
    case null => "NULL"
    case b: Boolean => if (b) "true" else "false"
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    case s: String => s
    case n @ (_: java.lang.Long | _: java.lang.Integer |
              _: java.lang.Short | _: java.lang.Byte) => n.toString
    case other => throw new IllegalStateException(
      s"fuzz output must be bigint/string/date, got ${other.getClass}: $other")
  }

  private def md5(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
}
