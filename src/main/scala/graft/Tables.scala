package graft

import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graft.GraftSql
import org.apache.spark.sql.types.StructType

/** Registers the driver testdata parquet tables as temp views.
  *
  * Mirrors the reference's catalog seam: dust opens one SQLite database and
  * every statement resolves tables in it (reference `db/src/db.rs:77-101`),
  * so opening a table costs a file open. Here "the database" is a directory
  * of parquet tables registered as views; Catalyst resolves them, and the
  * parquet source gives predicate pushdown + column pruning for free
  * (verified in QueriesSpec via explain()).
  *
  * Registration starts no Spark job. `spark.read.parquet(path)` infers the
  * schema with a distributed footer read (`ParquetUtils.inferSchema` →
  * `SchemaMergeUtils.mergeSchemasInParallel`), one Spark job per table even
  * for a single file, so a fresh session paid ten jobs before its first
  * query. [[readParquet]] reads the one footer that inference would read,
  * on the driver, and hands the schema to the reader; the engine's
  * snapshot and time-travel opens use it too.
  *
  * The ten opens run concurrently. Each costs tens of milliseconds (footer
  * read, relation resolution, the view command) and none depends on
  * another, so one after another they were most of a fresh session's
  * set-up while the other cores sat idle. Each open runs on a pool thread
  * through [[org.apache.spark.sql.graft.GraftSql.onPool]],
  * which carries the caller's session (so `SQLConf.get` there is the
  * caller's conf) and the caller's SparkContext local properties (so a job
  * an open starts, e.g. schema inference when merging is on, carries the
  * caller's job group, description and scheduler pool). An open must not
  * take the `Tables` monitor: [[ensure]] holds it while it waits.
  *
  * At 100 TB these would be bucketed/partitioned managed tables; the view
  * registration is idempotent and cached per (session, dir), so once a
  * session holds a dir's views a query pays one monitor acquire and one
  * conf lookup for them.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val RegisteredKey = "graft.registered.dir"

  /** The data dir whose views are currently registered in `spark` (None
    * before the first [[ensure]]) — the cache key the shared-stage
    * registry ([[graft.ext.Stages.shared]]) scopes its entries to. */
  def registeredDir(spark: SparkSession): Option[String] =
    spark.conf.getOption(RegisteredKey)

  /** Register all testdata views for `dir` (idempotent), the ten opens
    * concurrently (see the object doc); returns once every open has ended.
    *
    * events.parquet has stored ts in two encodings across testdata
    * generations: TIMESTAMP(NANOS) (which Spark's parquet reader rejects
    * by default — we enable nanosAsLong and it arrives as a BIGINT of
    * nanoseconds) and plain timestamp[us]/[ns] (which arrives as a
    * timestamp type directly). Branch on the dtype actually read so either
    * encoding yields the same microsecond TimestampType column. The nanos
    * path uses integer division (a double division would lose precision
    * above 2^53 ns); the timestamp path casts TIMESTAMP_NTZ → TimestampType
    * under the session's UTC timezone, which is value-identical for this
    * data.
    */
  def ensure(spark: SparkSession, dir: String): Unit = synchronized {
    if (!spark.conf.getOption(RegisteredKey).contains(dir)) {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      import scala.concurrent.ExecutionContext.Implicits.global
      val opens = names.map(n => GraftSql.onPool(spark)(register(spark, dir, n)))
      // wait for every open before rethrowing a failure (only `register`'s
      // error handling can throw), so none still runs once `ensure` returns
      opens.foreach(Await.ready(_, Duration.Inf))
      opens.foreach(_.value.get.get)
      spark.conf.set(RegisteredKey, dir)
    }
  }

  /** Open one table of `dir` and register it as view `n`. Per-table
    * isolation: one unreadable/drifted table must only red the queries
    * that reference it (TABLE_OR_VIEW_NOT_FOUND), not all of them — round
    * 8 lost its whole scoreboard to a single-table schema drift failing
    * the shared registration loop. */
  private def register(spark: SparkSession, dir: String, n: String): Unit =
    try {
      val raw = readParquet(spark, s"$dir/$n.parquet")
      val df = n match {
        case "events"     => pinSchema(n, normalizeEventsTs(raw))
        case "embeddings" => normalizeEmbedding(raw)
        case _            => pinSchema(n, raw)
      }
      df.createOrReplaceTempView(n)
    } catch {
      case e: Throwable =>
        // drop any same-named view from a previously registered dir:
        // a loud TABLE_OR_VIEW_NOT_FOUND beats silently stale data
        spark.catalog.dropTempView(n)
        System.err.println(
          s"[tables] skipping view '$n' ($dir): ${e.getMessage}")
    }

  /** `spark.read.parquet(path)` without the schema-inference job: the
    * schema comes from [[footerSchema]] and goes to the reader, which then
    * only lists the files. Layouts [[footerSchema]] does not cover fall
    * back to Spark's own inference. */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path).fold(spark.read.parquet(path))(
      spark.read.schema(_).parquet(path))

  /** The schema Spark's inference reads for `path`, read on the driver
    * (the reader then makes every field nullable, as it does for an
    * inferred schema).
    *
    * Picks the file `ParquetUtils.inferSchema` picks when schema merging is
    * off: among the visible files (Spark's hidden-name rule) sorted by path,
    * `_common_metadata`, else `_metadata`, else the first data file. Its
    * footer goes through `ParquetFileFormat.readSchemaFromFooter` with the
    * converter `mergeSchemasInParallel` builds from the session conf (read
    * at call time, so [[ensure]]'s `nanosAsLong` applies).
    *
    * None (inference decides) when schema merging is on, when `path` is a
    * directory holding subdirectories (partitioned or nested layouts), or
    * when it holds no visible file. */
  private[graft] def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState
    val c = state.conf
    val hadoopConf = state.newHadoopConf()
    val root = new Path(path)
    // a file lists as itself, a directory as its children
    val files: Seq[FileStatus] = root.getFileSystem(hadoopConf)
      .listStatus(root).toSeq.filterNot(f => hidden(f.getPath.getName))
    if (c.isParquetSchemaMergingEnabled || files.isEmpty ||
        files.exists(_.isDirectory)) None
    else {
      val sorted = files.sortBy(_.getPath.toString)
      def named(n: String) = sorted.find(_.getPath.getName == n)
      val chosen = named("_common_metadata").orElse(named("_metadata"))
        .getOrElse(sorted.head)
      // read options over the session's conf: the one-argument open builds
      // them over a fresh default Configuration, which re-reads
      // core-default.xml and core-site.xml from the classpath on each call
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromStatus(chosen, hadoopConf),
        HadoopReadOptions.builder(hadoopConf).build())
      val footer =
        try new Footer(chosen.getPath, reader.getFooter)
        finally reader.close()
      Some(ParquetFileFormat.readSchemaFromFooter(footer,
        new ParquetToSparkSchemaConverter(
          assumeBinaryIsString = c.isParquetBinaryAsString,
          assumeInt96IsTimestamp = c.isParquetINT96AsTimestamp,
          inferTimestampNTZ = c.parquetInferTimestampNTZEnabled,
          nanosAsLong = c.legacyParquetNanosAsLong,
          respectUnknownTypeAnnotation =
            c.parquetReaderRespectUnknownTypeAnnotation)))
    }
  }

  /** Spark's file-listing rule (`HadoopFSUtils.shouldFilterOutPathName`):
    * `_`- and `.`-prefixed names and `._COPYING_` files are skipped, except
    * partition directories and the parquet summary files. */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !(name.startsWith("_common_metadata") || name.startsWith("_metadata"))

  /** Rebuild `ts` as microsecond TimestampType from whichever encoding the
    * parquet file used (see ensure's doc). Public for the encoding
    * robustness spec.
    */
  def normalizeEventsTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType => // legacy TIMESTAMP(NANOS) read as nanos-as-long
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => raw
      case _ => // TIMESTAMP_NTZ or other timestamp flavor
        raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** Pin `embedding` to ARRAY<FLOAT> regardless of the generator's element
    * type (float32 today; a float64 regeneration would otherwise break the
    * native CosineSim/LshBuckets expressions exactly the way the r8 ts
    * drift broke events — same environment-drift class, same defense). */
  def normalizeEmbedding(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    raw.schema("embedding").dataType match {
      case ArrayType(FloatType, _) => raw
      case _: ArrayType =>
        raw.withColumn("embedding",
          col("embedding").cast(ArrayType(FloatType)))
      case other =>
        throw new IllegalStateException(
          s"embeddings.embedding read as ${other.simpleString}; expected an array")
    }
  }

  /** Canonical column types every query in the suite assumes (r8 lesson,
    * generalized from events.ts and embeddings.embedding to the whole
    * catalog): a regenerated testdata file that widens a key, re-types a
    * numeric, or re-encodes a timestamp must not change any query's
    * output schema — or, worse, fail registration. Columns are pinned by
    * NAME; missing columns are left alone (the queries that need them
    * fail loudly), extra columns pass through untouched.
    */
  private val canonicalTypes: Map[String, Map[String, org.apache.spark.sql.types.DataType]] = {
    import org.apache.spark.sql.types._
    val key64 = LongType; val key32 = IntegerType
    Map(
      "region" -> Map("r_regionkey" -> key32, "r_name" -> StringType),
      "nation" -> Map("n_nationkey" -> key32, "n_name" -> StringType,
        "n_regionkey" -> key32),
      "customer" -> Map("c_custkey" -> key64, "c_name" -> StringType,
        "c_nationkey" -> key32, "c_acctbal" -> DoubleType,
        "c_mktsegment" -> StringType),
      "supplier" -> Map("s_suppkey" -> key64, "s_name" -> StringType,
        "s_nationkey" -> key32, "s_acctbal" -> DoubleType),
      "part" -> Map("p_partkey" -> key64, "p_name" -> StringType,
        "p_brand" -> StringType, "p_type" -> StringType,
        "p_size" -> key32, "p_retailprice" -> DoubleType),
      "orders" -> Map("o_orderkey" -> key64, "o_custkey" -> key64,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
        // the generator writes isAdjustedToUTC=false parquet timestamps →
        // NTZ is what every green query has always seen; a regeneration
        // that flips to instant semantics casts back (value-identical
        // under the UTC session)
        "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
      "lineitem" -> Map("l_orderkey" -> key64, "l_partkey" -> key64,
        "l_suppkey" -> key64, "l_linenumber" -> key32,
        "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType,
        "l_shipdate" -> TimestampNTZType),
      "events" -> Map("event_id" -> key64, "ts" -> TimestampType,
        "user_id" -> key64, "event_type" -> StringType,
        "value" -> DoubleType, "props" -> StringType),
      "documents" -> Map("doc_id" -> key64, "text" -> StringType,
        "lang" -> StringType, "source" -> StringType, "n_chars" -> key64))
  }

  /** Cast any drifted column back to its canonical type (no-op on the
    * expected schema — the common path adds zero plan nodes). */
  def pinSchema(table: String, df: DataFrame): DataFrame =
    canonicalTypes.get(table).fold(df) { want =>
      want.foldLeft(df) { case (acc, (c, t)) =>
        acc.schema.find(_.name == c) match {
          case Some(f) if f.dataType != t =>
            System.err.println(
              s"[tables] $table.$c read as ${f.dataType.simpleString}; " +
                s"pinning to ${t.simpleString}")
            acc.withColumn(c, org.apache.spark.sql.functions.col(c).cast(t))
          case _ => acc
        }
      }
    }

  /** Lift a SQL text into the driver's (session, sfDir) => DataFrame shape.
    * Registers the graft native functions first (idempotent, one registry
    * lookup when already installed) so SQL-text queries can use the
    * codegen kernels (word_ngrams, graft_levenshtein, ...) — this is the
    * ANALYTICS session path only; the OLTP engine's private session keeps
    * its closed SQLite-parity registry. The CTEs named in `materialize`
    * are computed once and `bind` supplies CTE bodies from session frames
    * (see [[graft.ext.Stages.sql]]). */
  def sql(q: String, materialize: Seq[String] = Nil,
          bind: (SparkSession, String) => Map[String, DataFrame] =
            (_, _) => Map.empty): (SparkSession, String) => DataFrame =
    (spark, dir) => {
      graft.functions.GraftFunctions.register(spark)
      ensure(spark, dir)
      graft.ext.Stages.sql(spark, q, materialize, bind(spark, dir))
    }
}
