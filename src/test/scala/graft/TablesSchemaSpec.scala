package graft

import java.nio.file.{Files, Paths}

import graft.command.{Request, Statement, Value}
import graft.engine.GraftDb
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** [[Tables.readParquet]] gives every table the schema Spark's inference
  * gives it, and opens it without the inference job: `Tables.ensure`, the
  * engine's snapshot load and its time-travel reads start none. */
class TablesSchemaSpec extends SparkSpec {

  private def tmp(): String = Files.createTempDirectory("graft-schema").toString

  /** A session of its own with the conf `Tables.ensure` sets. */
  private def session(): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s
  }

  /** `readParquet` took the footer path and matches inference exactly
    * (the reader makes every field nullable either way). */
  private def assertSameSchema(s: SparkSession, path: String): Unit = {
    assert(Tables.footerSchema(s, path).isDefined, path)
    assert(Tables.readParquet(s, path).schema === s.read.parquet(path).schema, path)
  }

  /** The schema-inference job is named after the `parquet(...)` reader call. */
  private def inferenceJobs(jobs: Seq[Seq[String]]): Seq[Seq[String]] =
    jobs.filter(_.exists(_.startsWith("parquet at")))

  /** Every scale factor next to the suite's own testdata dir. */
  private val sfDirs = Seq("sf0.001", "sf0.01", "sf0.1")
    .map(d => Paths.get(sfDir).resolveSibling(d).toString)
    .filter(d => Files.isDirectory(Paths.get(d)))

  test("footer schema == inferred schema for every testdata table") {
    assert(sfDirs.nonEmpty)
    val s = session()
    for (d <- sfDirs; n <- Tables.names) {
      val p = s"$d/$n.parquet"
      assertSameSchema(s, p)
      assert(Tables.readParquet(s, p).count() === s.read.parquet(p).count(), p)
    }
  }

  test("footer schema == inferred schema for the timestamp encodings") {
    val s = session()
    val micros = 1700000000123456L
    Seq(
      "ntz" -> timestamp_micros(lit(micros)).cast(TimestampNTZType),
      "ltz" -> timestamp_micros(lit(micros)),
      "long" -> lit(micros * 1000)
    ).foreach { case (name, ts) =>
      val p = s"${tmp()}/$name.parquet"
      spark.range(3).select(col("id").as("event_id"), ts.as("ts"))
        .write.parquet(p)
      assertSameSchema(s, p)
    }
    // a real TIMESTAMP(NANOS) column, written without Spark's schema
    // metadata so the footer goes through the converter: nanosAsLong
    // must turn it into a BIGINT of nanoseconds, as inference does
    val p = s"${tmp()}/nanos.parquet"
    val mt = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new Path(p)).withType(mt)
      .withConf(spark.sparkContext.hadoopConfiguration).build()
    try w.write(new SimpleGroupFactory(mt).newGroup()
      .append("event_id", 1L).append("ts", micros * 1000))
    finally w.close()
    assertSameSchema(s, p)
    val df = Tables.normalizeEventsTs(Tables.readParquet(s, p))
    assert(df.schema("ts").dataType === TimestampType)
    assert(df.select(unix_micros(col("ts"))).head().getLong(0) === micros)
  }

  test("several part files, summary files and partitioned dirs resolve as inference does") {
    val s = session()
    val multi = s"${tmp()}/multi.parquet"
    spark.range(40).repartition(4).select(col("id"),
      (col("id") * 1.5).as("x"), array(col("id").cast(FloatType)).as("v"),
      struct(col("id").cast(StringType).as("s")).as("st"))
      .write.parquet(multi)
    val parts = Files.list(Paths.get(multi))
    try assert(parts.iterator().asScala
      .count(_.getFileName.toString.startsWith("part-")) > 1)
    finally parts.close()
    assertSameSchema(s, multi)
    assert(Tables.readParquet(s, multi).count() === 40)

    // a `_common_metadata` summary is what inference reads first
    val other = s"${tmp()}/other.parquet"
    spark.range(1).select(col("id").cast(IntegerType).as("k"))
      .coalesce(1).write.parquet(other)
    val file = Files.list(Paths.get(other))
    val part = try file.iterator().asScala
      .find(_.getFileName.toString.startsWith("part-")).get
    finally file.close()
    Files.copy(part, Paths.get(multi, "_common_metadata"))
    assert(s.read.parquet(multi).schema.fieldNames.toSeq === Seq("k"))
    assertSameSchema(s, multi)

    // partition directories are left to Spark's inference
    val byKey = s"${tmp()}/bykey.parquet"
    spark.range(6).select(col("id"), (col("id") % 2).as("k"))
      .write.partitionBy("k").parquet(byKey)
    assert(Tables.footerSchema(s, byKey).isEmpty)
    assert(Tables.readParquet(s, byKey).schema === s.read.parquet(byKey).schema)
  }

  test("table-mode materialize reads back the schema inference gives its stage") {
    val dir = Files.createTempDirectory("graft-stagedir-")
    val old = (sys.props.get("graft.stageMaterialize"), sys.props.get("graft.stageDir"))
    sys.props("graft.stageMaterialize") = "table"
    sys.props("graft.stageDir") = dir.toString
    try {
      val df = spark.range(5).select(col("id"),
        col("id").cast(DecimalType(12, 2)).as("d"),
        timestamp_micros(col("id")).cast(TimestampNTZType).as("t"),
        array(col("id").cast(FloatType)).as("v"),
        map(col("id"), col("id").cast(StringType)).as("m"))
      val out = ext.Stages.materialize(df)
      val stages = Files.list(dir)
      val stage = try stages.iterator().asScala.toSeq.head finally stages.close()
      assert(out.schema === spark.read.parquet(stage.toString).schema)
      assert(out.collect().map(_.toString).sorted.toSeq ===
        df.collect().map(_.toString).sorted.toSeq)
    } finally {
      def restore(k: String, v: Option[String]): Unit = v match {
        case Some(x) => sys.props(k) = x
        case None    => sys.props -= k
      }
      restore("graft.stageMaterialize", old._1)
      restore("graft.stageDir", old._2)
    }
  }

  test("Tables.ensure on a fresh session starts no Spark job") {
    val s = spark.newSession()
    val jobs = jobsOf(Tables.ensure(s, sfDir))
    assert(jobs.isEmpty, jobs)
    assert(Tables.names.forall(n => s.catalog.tableExists(n)))
    assert(s.table("lineitem").count() === spark.read.parquet(s"$sfDir/lineitem.parquet").count())
  }

  test("Tables.ensure's concurrent opens start their jobs as the caller's") {
    // With schema merging on, footerSchema leaves the schema to Spark's
    // inference: one job per table, started on a pool thread. Each must
    // carry the local property jobsOf sets on this thread, or a job started
    // off it slips past the no-job check above. A pool thread inherits the
    // properties of the thread that created it, so only a second round, on
    // threads the first made, shows a task that does not copy them.
    for (_ <- 1 to 2) {
      val s = spark.newSession()
      s.conf.set("spark.sql.parquet.mergeSchema", "true")
      val jobs = jobsOf(Tables.ensure(s, sfDir))
      assert(inferenceJobs(jobs).size === Tables.names.size, jobs)
      assert(Tables.names.forall(n => s.catalog.tableExists(n)))
    }
  }

  test("a GraftDb reopen and a ?version=N read start no schema-inference job") {
    val root = tmp()
    val db = GraftDb.open(spark, root).fold(e => fail(e), identity)
    def ok(db: GraftDb, sql: String): Unit =
      db.executeStringStmt(sql).fold(e => fail(e), identity)
        .foreach(r => assert(r.error.isEmpty, s"[$sql]: ${r.error}"))
    ok(db, "CREATE TABLE kv (k INTEGER PRIMARY KEY, v TEXT)")
    ok(db, "CREATE TABLE other (x REAL)")
    ok(db, "INSERT INTO kv VALUES (1, 'one'), (2, 'two')")
    ok(db, "INSERT INTO other VALUES (0.5)")
    db.checkpoint().fold(e => fail(e), identity) // v1
    ok(db, "INSERT INTO kv VALUES (3, 'three')")
    db.close()

    var reopened: GraftDb = null
    val openJobs = jobsOf {
      reopened = GraftDb.open(spark, root).fold(e => fail(e), identity)
    }
    assert(inferenceJobs(openJobs).isEmpty, openJobs)
    try {
      val q = Request(transaction = false,
        Seq(Statement("SELECT k, v FROM kv ORDER BY k")))
      var got: Seq[Seq[Value]] = Nil
      val verJobs = jobsOf {
        got = reopened.queryAsOf(q, 1).fold(e => fail(e), identity).head.values
      }
      assert(inferenceJobs(verJobs).isEmpty, verJobs)
      assert(got === Seq(Seq(Value.Integer(1), Value.Text("one")),
        Seq(Value.Integer(2), Value.Text("two"))))
      var n = 0L
      val asOfJobs = jobsOf {
        n = reopened.tableAsOf("other", 1).fold(e => fail(e), identity).count()
      }
      assert(inferenceJobs(asOfJobs).isEmpty, asOfJobs)
      assert(n === 1)
      // the journal replays on top of the snapshot
      val now = reopened.query(Request(transaction = false,
        Seq(Statement("SELECT count(*) FROM kv")))).fold(e => fail(e), identity)
      assert(now.head.values === Seq(Seq(Value.Integer(3))))
    } finally reopened.close()
  }
}
