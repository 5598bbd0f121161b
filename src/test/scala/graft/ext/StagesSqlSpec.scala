package graft.ext

import graft.{SparkEntry, SparkSpec, Tables}
import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** [[Stages.sql]]: a row's declared SQL runs with some CTEs computed once
  * (`materialize`) or supplied by a session frame (`bind`), and nothing of
  * it reaches the session catalog. */
class StagesSqlSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def ints(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).toSeq

  test("an unknown materialize name is rejected and named") {
    val e = intercept[IllegalArgumentException] {
      Stages.sql(spark, "WITH a AS (SELECT 1 AS n) SELECT n FROM a",
        materialize = Seq("a", "nope"))
    }
    assert(e.getMessage.contains("nope"), e.getMessage)
    assert(!e.getMessage.contains(" a,"), e.getMessage)
  }

  test("bind adds a CTE to a text without WITH") {
    val out = Stages.sql(spark, "SELECT n * 2 AS m FROM src ORDER BY m",
      bind = Map("src" -> spark.range(3).toDF("n")))
    assert(ints(out) == Seq(0L, 2L, 4L))
  }

  test("bind replaces the body of a same-named CTE") {
    val out = Stages.sql(spark,
      """WITH src AS (SELECT CAST(100 AS BIGINT) AS n),
        |dbl AS (SELECT n * 2 AS m FROM src)
        |SELECT m FROM dbl ORDER BY m""".stripMargin,
      bind = Map("src" -> spark.range(2).toDF("n")))
    assert(ints(out) == Seq(0L, 2L))
  }

  test("a materialized CTE keeps the query's values") {
    val text =
      """WITH a AS (SELECT id % 3 AS k FROM range(30)),
        |c AS (SELECT k, COUNT(*) AS n FROM a GROUP BY k)
        |SELECT x.k * 10 + y.n FROM c x JOIN c y ON x.k = y.k ORDER BY 1""".stripMargin
    assert(ints(Stages.sql(spark, text, materialize = Seq("a", "c"))) ==
      ints(spark.sql(text)))
  }

  test("x106 reads its materialized streams: no Generate in the final plan") {
    Tables.ensure(spark, sfDir)
    graft.functions.GraftFunctions.register(spark)
    def generates(df: org.apache.spark.sql.DataFrame) =
      collect(df.queryExecution.executedPlan) { case g: GenerateExec => g }
    val declared = graft.ext.Extensions.all.find(_.name == "x106_bigram_lm").get
    assert(generates(spark.sql(declared.spark)).nonEmpty,
      "the inlined text should explode the corpus")
    val plan = SparkEntry.queries("x106_bigram_lm")(spark, sfDir)
    assert(generates(plan).isEmpty,
      "the corpus explode is re-derived downstream:\n" +
        plan.queryExecution.executedPlan)
  }

  test("driver rows leave no scaffolding view in the session catalog") {
    def views = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("__")).toSet
    Tables.ensure(spark, sfDir)
    Stages.clearShared() // rebuild the shared stages inside the window
    val before = views
    Seq("x104_overlap_matrix", "x105_pagerank", "x108_keep_best",
      "x109_triangles", "x78_unigram_lm", "x79_tfidf", "x85_collocations",
      "x98_dsir_sample", "x106_bigram_lm", "x110_assoc_rules",
      "x114_boilerplate").foreach { q =>
      SparkEntry.queries(q)(spark, sfDir).collect()
    }
    assert(views -- before == Set.empty[String])
  }
}
