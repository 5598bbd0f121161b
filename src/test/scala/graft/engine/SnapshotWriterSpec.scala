package graft.engine

import graft.SparkSpec
import graft.command._
import java.nio.file.{Files, Path}
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** A `Mem` table's checkpoint is written on the driver by
  * [[SnapshotWriter]]: the files read back exactly (reopen and time
  * travel), carry the footer Spark's own writer gives the same rows, start
  * no Spark job, and replace whatever an interrupted checkpoint left. */
class SnapshotWriterSpec extends SparkSpec {

  private def tmp(): Path = Files.createTempDirectory("graft-snapw")

  private def ok(db: GraftDb, sql: String): Unit =
    db.executeStringStmt(sql).fold(e => fail(e), identity)
      .foreach(r => assert(r.error.isEmpty, s"[$sql]: ${r.error}"))

  private def rows(db: GraftDb, sql: String): RowsResult =
    db.queryStringStmt(sql).fold(e => fail(e), identity).head

  /** Exact rendering: -0.0 and 0.0 differ, blobs compare by content. */
  private def canon(v: Value): String = v match {
    case Value.Real(d) => "R" + java.lang.Double.doubleToRawLongBits(d)
    case Value.Blob(b) => "B" + b.map("%02x".format(_)).mkString
    case other => other.toString
  }
  private def canon(r: RowsResult): (Seq[String], Seq[String], Seq[Seq[String]]) =
    (r.columns, r.types, r.values.map(_.map(canon)))

  private val Create =
    "CREATE TABLE t (id INTEGER PRIMARY KEY, i INTEGER, r REAL, s TEXT, b BLOB, n NUMERIC)"

  /** Values at the edges of every affinity, a NULL in every column, an
    * updated row and a re-inserted rowid. */
  private def fill(db: GraftDb): Unit = {
    ok(db, Create)
    ok(db, "CREATE TABLE empty (k INTEGER PRIMARY KEY, v TEXT)")
    ok(db, "INSERT INTO t(id, i, r, s, b, n) VALUES " +
      "(7, -5, -0.0, 'Grüße, 東京 ✓', X'00FF10', 1.5), " +
      s"(3, ${Long.MaxValue}, 1e308, '', X'', -2), " +
      "(9, NULL, NULL, NULL, NULL, NULL), " +
      "(1, -9223372036854775807 - 1, -1.25, 'ascii', X'7F', 0)")
    ok(db, "UPDATE t SET s = 'updated' WHERE id = 1")
    ok(db, "DELETE FROM t WHERE id = 3")
    ok(db, s"INSERT INTO t(id, i, s) VALUES (3, ${Long.MaxValue}, 'again')")
  }

  private val SelectT = "SELECT id, i, r, s, b, n FROM t" // id is the rowid

  test("a Mem table survives checkpoint, close and reopen exactly") {
    val root = tmp()
    val db = GraftDb.open(spark, root.toString).fold(e => fail(e), identity)
    fill(db)
    val before = canon(rows(db, SelectT))
    val emptyBefore = canon(rows(db, "SELECT * FROM empty"))
    // the edge values are really held before the snapshot is taken
    val held = before._3
    assert(held.map(_.head).sorted === Seq(1, 3, 7, 9).map(r => s"Integer($r)"))
    val byRowid = held.map(r => r.head -> r.tail).toMap
    // SQLite stores an integral REAL such as -0.0 as an integer and reads
    // it back as 0.0, and so does the engine; the footer test below writes
    // a -0.0 through the writer directly
    assert(byRowid("Integer(7)")(1) === "R0")
    assert(byRowid("Integer(7)")(2) === "Text(Grüße, 東京 ✓)")
    assert(byRowid("Integer(7)")(3) === "B00ff10")
    assert(byRowid("Integer(1)").head === s"Integer(${Long.MinValue})")
    assert(byRowid("Integer(3)").head === s"Integer(${Long.MaxValue})")
    assert(byRowid("Integer(1)")(2) === "Text(updated)")
    assert(byRowid("Integer(9)") === Seq.fill(5)("Null"))
    db.checkpoint().fold(e => fail(e), identity)
    ok(db, "INSERT INTO t(i) VALUES (1)") // journaled after the snapshot
    ok(db, "DELETE FROM t WHERE i = 1")
    db.close()
    // replay nothing but the snapshot: drop the journal suffix
    Files.deleteIfExists(root.resolve("journal.jsonl"))

    val re = GraftDb.open(spark, root.toString).fold(e => fail(e), identity)
    try {
      assert(!re.isSpilled("t"))
      assert(canon(rows(re, SelectT)) === before)
      assert(canon(rows(re, "SELECT * FROM empty")) === emptyBefore)
      assert(rows(re, "SELECT * FROM empty").values.isEmpty)
      // the rowid counter came back with the manifest, the rows with the file
      ok(re, "INSERT INTO t(i) VALUES (42)")
      assert(rows(re, "SELECT rowid FROM t WHERE i = 42").values ===
        Seq(Seq(Value.Integer(10))))
    } finally re.close()
  }

  test("tableAsOf and queryAsOf read the driver-written files") {
    val db = GraftDb.open(spark, tmp().toString).fold(e => fail(e), identity)
    try {
      fill(db)
      val want = canon(rows(db, SelectT))
      db.checkpoint().fold(e => fail(e), identity)
      val v = db.versions().last
      val df = db.tableAsOf("t", v).fold(e => fail(e), identity)
      assert(df.columns.toSeq === Seq("id", "i", "r", "s", "b", "n"))
      val got = df.collect().toSeq.map(_.toSeq.map {
        case null => "Null"
        case l: Long => s"Integer($l)"
        case d: Double => "R" + java.lang.Double.doubleToRawLongBits(d)
        case s: String => s"Text($s)"
        case b: Array[Byte] => "B" + b.map("%02x".format(_)).mkString
        case o => fail(s"unexpected $o")
      })
      assert(got === want._3)
      val asOf = db.queryAsOf(Request(transaction = false,
        Seq(Statement(SelectT),
          Statement("SELECT count(*) FROM empty"))), v)
        .fold(e => fail(e), identity)
      assert(asOf.head.values.map(_.map(canon)) === want._3)
      assert(asOf(1).values === Seq(Seq(Value.Integer(0))))
    } finally db.close()
  }

  private def footer(tableDir: Path): ParquetMetadata = {
    val ls = Files.list(tableDir)
    val files = try ls.iterator().asScala.toSeq finally ls.close()
    val data = files.filter(_.getFileName.toString.endsWith(".parquet"))
      .filterNot(p => Seq(".", "_").exists(p.getFileName.toString.startsWith))
    assert(data.size === 1, files)
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(data.head.toString), new Configuration()))
    try r.getFooter finally r.close()
  }

  test("the footer schema and Spark row metadata match Spark's own writer") {
    val root = tmp()
    val db = GraftDb.open(spark, root.toString).fold(e => fail(e), identity)
    try {
      fill(db)
      db.checkpoint().fold(e => fail(e), identity)
      val mine = footer(root.resolve(s"v${db.versions().last}").resolve("t.parquet"))

      val schema = StructType(
        StructField("__rowid", LongType, nullable = false) +:
          Ddl.parseCreate(Create).getOrElse(fail(Create)).table.schema.fields)
      val data = Seq(
        Row(7L, 7L, Long.MinValue, -0.0, "Grüße, 東京 ✓", Array[Byte](0, -1), 1.5),
        Row(9L, 9L, null, null, null, null, null))
      val ref = tmp().resolve("ref.parquet")
      spark.createDataFrame(data.asJava, schema)
        .coalesce(1).write.parquet(ref.toString)
      val theirs = footer(ref)
      // the same rows through the writer read back bit for bit
      val direct = tmp().resolve("direct.parquet")
      SnapshotWriter.write(spark, direct, schema, data.iterator)
      def bits(p: Path) = spark.read.parquet(p.toString).collect().toSeq
        .map(_.toSeq.map {
          case d: Double => java.lang.Double.doubleToRawLongBits(d)
          case b: Array[Byte] => b.toSeq
          case o => o
        })
      assert(bits(direct) === bits(ref))
      assert(bits(direct).head(3) === java.lang.Double.doubleToRawLongBits(-0.0))

      val key = "org.apache.spark.sql.parquet.row.metadata"
      assert(mine.getFileMetaData.getSchema === theirs.getFileMetaData.getSchema)
      val (m, t) = (mine.getFileMetaData.getKeyValueMetaData.asScala,
        theirs.getFileMetaData.getKeyValueMetaData.asScala)
      assert(m.get(key).isDefined)
      assert(m.get(key) === t.get(key))
      assert(m.keySet === t.keySet)
      assert(mine.getBlocks.asScala.map(_.getRowCount).sum === 4)
      val codecs = Seq(mine, theirs).map(_.getBlocks.asScala.head
        .getColumns.asScala.map(_.getCodec).toSet)
      assert(codecs.head === codecs(1))
    } finally db.close()
  }

  test("a checkpoint of a Mem-only db starts no Spark job") {
    val db = GraftDb.open(spark, tmp().toString).fold(e => fail(e), identity)
    try {
      fill(db)
      db.checkpoint().fold(e => fail(e), identity) // the first one warms up
      ok(db, "INSERT INTO t(i) VALUES (5)")
      val jobs = jobsOf(db.checkpoint().fold(e => fail(e), identity))
      assert(jobs.isEmpty, jobs)
      assert(db.snapshotStatus.checkpoints === 2)
    } finally db.close()
  }

  test("a leftover version dir from an interrupted checkpoint is replaced") {
    val root = tmp()
    val db = GraftDb.open(spark, root.toString).fold(e => fail(e), identity)
    ok(db, "CREATE TABLE kv (k INTEGER PRIMARY KEY, v TEXT)")
    ok(db, "INSERT INTO kv VALUES (1, 'one')")
    db.checkpoint().fold(e => fail(e), identity) // v1
    // v2 as a crash mid-checkpoint left it: a complete stale part file
    // under a readable name and a torn temp file of the writer
    val stale = root.resolve("v2").resolve("kv.parquet")
    Files.createDirectories(stale)
    val v1Part = {
      val ls = Files.list(root.resolve("v1").resolve("kv.parquet"))
      try ls.iterator().asScala.filter(_.getFileName.toString.startsWith("part-"))
        .toSeq.head finally ls.close()
    }
    Files.copy(v1Part, stale.resolve("part-00000-stale-c000.snappy.parquet"))
    Files.write(stale.resolve(".part-00000-torn.parquet.tmp"),
      Array[Byte](80, 65, 82, 49, 0, 1, 2))
    ok(db, "INSERT INTO kv VALUES (2, 'two')")
    db.checkpoint().fold(e => fail(e), identity) // v2
    val ls = Files.list(stale)
    val names = try ls.iterator().asScala.map(_.getFileName.toString).toSeq
      finally ls.close()
    assert(names.size === 1 && names.head.startsWith("part-00000-") &&
      !names.head.contains("stale"), names)
    val v2 = db.tableAsOf("kv", 2).fold(e => fail(e), identity)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(v2 === Seq(1L -> "one", 2L -> "two"))
    db.close()
    Files.deleteIfExists(root.resolve("journal.jsonl"))
    val re = GraftDb.open(spark, root.toString).fold(e => fail(e), identity)
    try assert(rows(re, "SELECT k, v FROM kv").values === Seq(
      Seq(Value.Integer(1), Value.Text("one")), Seq(Value.Integer(2), Value.Text("two"))))
    finally re.close()
  }
}
