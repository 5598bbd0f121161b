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
    Seq("x54_ngram_jaccard", "x75_components", "x82_containment",
      "x104_overlap_matrix", "x105_pagerank", "x108_keep_best",
      "x109_triangles", "x78_unigram_lm", "x79_tfidf", "x85_collocations",
      "x98_dsir_sample", "x106_bigram_lm", "x110_assoc_rules",
      "x114_boilerplate").foreach { q =>
      SparkEntry.queries(q)(spark, sfDir).collect()
    }
    assert(views -- before == Set.empty[String])
  }

  test("x54 and x82 leave same-named user views alone") {
    Tables.ensure(spark, sfDir)
    spark.range(3).toDF("n").createOrReplaceTempView("__x82_docs")
    spark.range(10, 15).toDF("n").createOrReplaceTempView("__x54_r3")
    try {
      Stages.clearShared() // run the PPJoin build inside the window too
      Seq("x82_containment", "x54_ngram_jaccard").foreach { q =>
        SparkEntry.queries(q)(spark, sfDir).collect()
      }
      assert(ints(spark.table("__x82_docs").orderBy("n")) == Seq(0L, 1L, 2L))
      assert(ints(spark.table("__x54_r3").orderBy("n")) == (10L to 14L))
    } finally Seq("__x82_docs", "__x54_r3").foreach(spark.catalog.dropTempView)
  }

  test("x54 and x82 from four threads on one session match a serial run") {
    Tables.ensure(spark, sfDir)
    val qs = Seq("x82_containment", "x54_ngram_jaccard")
    def run(order: Seq[String]): Map[String, Seq[String]] = order.map { q =>
      q -> SparkEntry.queries(q)(spark, sfDir).collect().map(_.toString).toSeq
    }.toMap
    val serial = run(qs)
    Stages.clearShared() // the four callers race for the PPJoin build
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val runs = (0 until 4).map { i =>
        val order = if (i % 2 == 0) qs else qs.reverse
        pool.submit(new java.util.concurrent.Callable[Map[String, Seq[String]]] {
          def call(): Map[String, Seq[String]] = run(order)
        })
      }
      runs.foreach { f =>
        assert(f.get(5, java.util.concurrent.TimeUnit.MINUTES) == serial)
      }
    } finally pool.shutdownNow()
  }
}
