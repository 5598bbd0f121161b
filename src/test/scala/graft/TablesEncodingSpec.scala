package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pins [[Tables.normalizeEventsTs]] — the seam `Tables.ensure` routes
  * events through — against every ts encoding the driver testdata has
  * shipped, so a testdata regeneration can never again kill table
  * registration (round 8 lost its entire scoreboard to exactly that:
  * events.ts drifted from TIMESTAMP(NANOS)-read-as-long to timestamp[us]
  * and an unconditional `ts div 1000` failed analysis for all 131 queries).
  *
  * Fixtures are written on the fly (Spark can author int64 and
  * timestamp[us]/NTZ parquet; the legacy TIMESTAMP(NANOS) annotation it
  * cannot write, but under nanosAsLong that file READS as LongType, which
  * is byte-for-byte the same input `normalizeEventsTs` dispatches on).
  */
class TablesEncodingSpec extends SparkSpec {

  // one known instant, expressed per-encoding
  private val microsOfEpoch = 1700000000123456L // 2023-11-14T22:13:20.123456Z

  private def tmp(): String =
    Files.createTempDirectory("graft-ts-enc").toString

  test("int64 nanos encoding (legacy TIMESTAMP(NANOS) read path) normalizes") {
    val dir = tmp()
    spark.range(1).select(
      lit(1L).as("event_id"),
      lit(microsOfEpoch * 1000).as("ts"), // nanos as plain long
      lit("click").as("kind"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Tables.normalizeEventsTs(spark.read.parquet(s"$dir/events.parquet"))
    assert(out.schema("ts").dataType === TimestampType)
    val got = out.select(col("ts")).head().getTimestamp(0)
    assert(got === Timestamp.from(java.time.Instant.ofEpochSecond(
      microsOfEpoch / 1000000, (microsOfEpoch % 1000000) * 1000)))
  }

  test("timestamp_ntz (timestamp[us] parquet, the regenerated-testdata shape) normalizes") {
    val dir = tmp()
    spark.range(1).select(
      lit(1L).as("event_id"),
      timestamp_micros(lit(microsOfEpoch)).cast(TimestampNTZType).as("ts"),
      lit("click").as("kind"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    assert(raw.schema("ts").dataType === TimestampNTZType) // the r8 crash shape
    val out = Tables.normalizeEventsTs(raw)
    assert(out.schema("ts").dataType === TimestampType)
    val got = out.select(col("ts")).head().getTimestamp(0)
    // session tz is UTC, so NTZ -> TZ cast is value-identical
    assert(got === Timestamp.from(java.time.Instant.ofEpochSecond(
      microsOfEpoch / 1000000, (microsOfEpoch % 1000000) * 1000)))
  }

  test("timestamp (already TimestampType) passes through unchanged") {
    val dir = tmp()
    spark.range(1).select(
      lit(1L).as("event_id"),
      timestamp_micros(lit(microsOfEpoch)).as("ts"),
      lit("click").as("kind"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Tables.normalizeEventsTs(spark.read.parquet(s"$dir/events.parquet"))
    assert(out.schema("ts").dataType === TimestampType)
    assert(out.select(col("ts")).head().getTimestamp(0) ===
      Timestamp.from(java.time.Instant.ofEpochSecond(
        microsOfEpoch / 1000000, (microsOfEpoch % 1000000) * 1000)))
  }

  test("Tables.ensure registers both encodings end-to-end") {
    // a full fixture "database": real events in one encoding + stub tables
    // for the other nine names, run through the SAME entry point the
    // driver uses. Registration runs in an ISOLATED session (own temp-view
    // catalog + conf, shared context): suites execute in parallel against
    // the shared SparkSpec session, so re-pointing ITS views at fixture
    // dirs would race every other suite's queries.
    def fixtureDir(ntz: Boolean): String = {
      val dir = tmp()
      val ts =
        if (ntz) timestamp_micros(lit(microsOfEpoch)).cast(TimestampNTZType)
        else lit(microsOfEpoch * 1000) // nanos-as-long legacy shape
      spark.range(3).select(
        col("id").as("event_id"), ts.as("ts"), lit("click").as("kind"))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      Tables.names.filterNot(_ == "events").foreach { n =>
        spark.range(1).select(col("id"))
          .write.mode("overwrite").parquet(s"$dir/$n.parquet")
      }
      dir
    }
    Seq(true, false).foreach { ntz =>
      val session = spark.newSession()
      Tables.ensure(session, fixtureDir(ntz))
      val events = session.table("events")
      assert(events.schema("ts").dataType === TimestampType)
      assert(events.count() === 3)
      assert(events.select(min(col("ts"))).head().getTimestamp(0) ===
        Timestamp.from(java.time.Instant.ofEpochSecond(
          microsOfEpoch / 1000000, (microsOfEpoch % 1000000) * 1000)))
    }
  }

  test("a single broken table only reds queries that touch it") {
    val dir = tmp()
    Tables.names.filterNot(_ == "events").foreach { n =>
      spark.range(2).select(col("id"))
        .write.mode("overwrite").parquet(s"$dir/$n.parquet")
    }
    Files.writeString(
      java.nio.file.Paths.get(s"$dir/events.parquet"), "not a parquet file")
    val session = spark.newSession() // isolated views — see above
    Tables.ensure(session, dir) // must not throw
    assert(session.table("region").count() === 2) // healthy table usable
    // broken table fails loudly (not stale data from a previous dir)
    intercept[Exception] { session.table("events").count() }
  }

  test("re-registering onto a dir with one truncated table drops only its view") {
    val session = spark.newSession()
    Tables.ensure(session, sfDir)
    val copy = tmp()
    Tables.names.foreach { n =>
      val bytes = Files.readAllBytes(Paths.get(sfDir, s"$n.parquet"))
      Files.write(Paths.get(copy, s"$n.parquet"),
        if (n == "lineitem") bytes.take(bytes.length / 2) else bytes)
    }
    Tables.ensure(session, copy) // must not throw
    assert(Tables.registeredDir(session) === Some(copy))
    Tables.names.filterNot(_ == "lineitem").foreach { n =>
      val files = session.table(n).inputFiles.toSeq
      assert(files.nonEmpty && files.forall(_.contains(copy)), s"$n: $files")
    }
    // the truncated table fails loudly, not with the old dir's rows
    val e = intercept[AnalysisException](session.table("lineitem"))
    assert(e.getCondition === "TABLE_OR_VIEW_NOT_FOUND")
  }

  test("embedding element-type drift (float64 regeneration) normalizes to float") {
    val dir = tmp()
    spark.range(1).select(
      lit(0L).as("vec_id"),
      array(lit(0.25d), lit(-1.5d)).as("embedding")) // doubles, not floats
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = Tables.normalizeEmbedding(
      spark.read.parquet(s"$dir/embeddings.parquet"))
    assert(out.schema("embedding").dataType ===
      ArrayType(FloatType, containsNull = true))
    // and the native expression consumes it (the r8-class failure mode)
    graft.functions.GraftFunctions.register(spark)
    out.createOrReplaceTempView("emb_drift")
    val self = spark.sql(
      "SELECT cosine_sim(embedding, embedding) AS c FROM emb_drift")
      .head().getDouble(0)
    assert(math.abs(self - 1.0) < 1e-6)
  }

  test("pinSchema casts drifted columns back to canonical types") {
    // a regenerated lineitem that widened l_linenumber to int64, narrowed
    // l_quantity to float32, and re-typed l_orderkey as int32 — each the
    // r8 drift class on a different column
    val dir = tmp()
    spark.range(4).select(
      col("id").cast(IntegerType).as("l_orderkey"), // narrowed key
      col("id").as("l_linenumber"), // widened line number
      (col("id") * 2).cast(FloatType).as("l_quantity"), // float32 numeric
      lit("A").as("l_returnflag"))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = Tables.pinSchema("lineitem",
      spark.read.parquet(s"$dir/lineitem.parquet"))
    assert(out.schema("l_orderkey").dataType === LongType)
    assert(out.schema("l_linenumber").dataType === IntegerType)
    assert(out.schema("l_quantity").dataType === DoubleType)
    assert(out.schema("l_returnflag").dataType === StringType)
    // values survive the pin
    assert(out.agg(sum(col("l_quantity"))).head().getDouble(0) === 12.0)
  }

  test("pinSchema is a no-op on the canonical shape (no extra plan nodes)") {
    Tables.ensure(spark, sfDir)
    val raw = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val pinned = Tables.pinSchema("lineitem", raw)
    assert(pinned eq raw, "canonical schema must short-circuit")
  }

  test("float32 embeddings pass through normalizeEmbedding untouched") {
    Tables.ensure(spark, sfDir)
    val dt = spark.table("embeddings").schema("embedding").dataType
    assert(dt === ArrayType(FloatType, containsNull = true) ||
      dt === ArrayType(FloatType, containsNull = false), dt.toString)
  }
}
