package graft.engine

import graft.SparkSpec
import graft.command._
import java.nio.file.{Files, Path}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** A rowid table is a B-tree keyed by rowid, so SQLite's unordered scan
  * returns rows in rowid order, whatever order they were written in. Each
  * scan below has no ORDER BY and is read at weak, strong, `none` and the
  * latest `?version=N`, live and again after a reopen through journal
  * replay and through snapshot load, on a `Mem` table and on a spilled
  * one. Triggers and RETURNING keep the statement's candidate order.
  * Every expected envelope was captured from python3's sqlite3 (SQLite
  * 3.40.1), as the other golden specs pin theirs.
  */
class RowidOrderSpec extends SparkSpec {

  private val Spill = 1L

  private def exec(db: GraftDb, sqls: String*): Unit = sqls.foreach { sql =>
    val r = db.executeStringStmt(sql).fold(e => fail(e), identity).head
    assert(r.error.isEmpty, s"[$sql]: ${r.error}")
  }

  private def req(sql: String) =
    Request(transaction = false, Seq(Statement(sql)))

  private def render(r: Either[String, Seq[RowsResult]]): String =
    r.fold("error: " + _, Json.rowsSeq)

  /** The envelope `sql` gets at weak and `none` (and, once the journal is
    * checkpointed, at strong and the latest `?version=N`); fails unless
    * they agree. */
  private def read(db: GraftDb, sql: String, version: Boolean = true): String = {
    val weak = render(db.query(req(sql), ReadLevel.Weak))
    assert(render(db.query(req(sql), ReadLevel.None)) === weak, s"none: $sql")
    if (version) {
      assert(render(db.query(req(sql), ReadLevel.Strong)) === weak, s"strong: $sql")
      assert(render(db.queryAsOf(req(sql), db.versions().last)) === weak,
        s"version=${db.versions().last}: $sql")
    }
    weak
  }

  private def open(dir: Path, cap: Long): GraftDb =
    GraftDb.open(spark, dir.toString, cap).fold(e => fail(e), identity)

  /** Run `setup` on a fresh db with driver cap `cap`, then read `sql`:
    * live, after a reopen that replays the journal (then at every level
    * once that state is checkpointed), and after a reopen that loads the
    * snapshot. */
  private def scans(cap: Long, table: String, setup: Seq[String], sql: String,
                    want: String): Unit = {
    val dir = Files.createTempDirectory("graft-rowid")
    val db = open(dir, cap)
    try {
      exec(db, setup: _*)
      assert(db.isSpilled(table) === (cap == Spill))
      assert(read(db, sql, version = false) === want, "live")
    } finally db.close()
    val replayed = open(dir, cap)
    try {
      assert(replayed.isSpilled(table) === (cap == Spill))
      assert(read(replayed, sql, version = false) === want, "journal replay")
      replayed.checkpoint().fold(e => fail(e), identity)
      assert(read(replayed, sql) === want, "checkpointed")
    } finally replayed.close()
    val loaded = open(dir, cap)
    try {
      assert(loaded.isSpilled(table) === (cap == Spill))
      assert(read(loaded, sql) === want, "snapshot load")
    } finally loaded.close()
  }

  private def env(cols: String, types: String, values: String) =
    s"""[{"columns":[$cols],"types":[$types],"values":[$values]}]"""

  for ((store, cap) <- Seq("a Mem table" -> GraftDb.DefaultMaxDriverRows,
      "a spilled table" -> Spill)) {

    test(s"$store scans out-of-order ids in rowid order after DELETE and re-INSERT") {
      scans(cap, "o", Seq("CREATE TABLE o(id INTEGER PRIMARY KEY, x TEXT)",
          "INSERT INTO o(id, x) VALUES (7,'a'),(3,'b'),(9,'c'),(1,'d')",
          "DELETE FROM o WHERE id = 3",
          "INSERT INTO o(id, x) VALUES (3,'e')"),
        "SELECT * FROM o",
        env(""""id","x"""", """"integer","text"""",
          """[1,"d"],[3,"e"],[7,"a"],[9,"c"]"""))
    }

    test(s"$store reuses freed rowids and scans them in place") {
      scans(cap, "r", Seq("CREATE TABLE r(x TEXT)",
          "INSERT INTO r VALUES ('a'),('b'),('c'),('d')",
          "DELETE FROM r WHERE rowid IN (1, 3)",
          "DELETE FROM r WHERE rowid = 4",
          "INSERT INTO r VALUES ('e')",
          "INSERT INTO r VALUES ('f')"),
        // rowid reads a spilled table through its unordered rid view
        "SELECT rowid AS r, x FROM r ORDER BY rowid",
        env(""""r","x"""", """"integer","text"""",
          """[2,"b"],[3,"e"],[4,"f"]"""))
    }

    test(s"$store reads rowid without ORDER BY in rowid order") {
      scans(cap, "r", Seq("CREATE TABLE r(x TEXT)",
          "INSERT INTO r VALUES ('a'),('b'),('c'),('d')",
          "DELETE FROM r WHERE rowid IN (1, 3)",
          "DELETE FROM r WHERE rowid = 4",
          "INSERT INTO r VALUES ('e')",
          "INSERT INTO r VALUES ('f')"),
        "SELECT rowid AS r, x FROM r",
        env(""""r","x"""", """"integer","text"""",
          """[2,"b"],[3,"e"],[4,"f"]"""))
    }

    test(s"$store gives a freed top rowid to the next auto rowid") {
      scans(cap, "s", Seq("CREATE TABLE s(id INTEGER PRIMARY KEY, x TEXT)",
          "INSERT INTO s(id, x) VALUES (1,'a'),(3,'b'),(5,'c'),(7,'d')",
          "DELETE FROM s WHERE id = 7",
          "INSERT INTO s(x) VALUES ('e')"),
        "SELECT * FROM s",
        env(""""id","x"""", """"integer","text"""",
          """[1,"a"],[3,"b"],[5,"c"],[6,"e"]"""))
    }

    test(s"$store follows a lone negative rowid with the next one up") {
      scans(cap, "n", Seq("CREATE TABLE n(id INTEGER PRIMARY KEY, x TEXT)",
          "INSERT INTO n VALUES (-5,'a'), (-9,'z')",
          "DELETE FROM n WHERE id = -9",
          "INSERT INTO n(x) VALUES ('b')"),
        "SELECT * FROM n",
        env(""""id","x"""", """"integer","text"""", """[-5,"a"],[-4,"b"]"""))
    }

    test(s"$store moves a row rekeyed by UPDATE to its new rowid") {
      scans(cap, "u", Seq("CREATE TABLE u(id INTEGER PRIMARY KEY, x TEXT)",
          "INSERT INTO u VALUES (1,'a'),(2,'b'),(3,'c')",
          "UPDATE u SET id = 0 WHERE id = 3"),
        "SELECT * FROM u",
        env(""""id","x"""", """"integer","text"""",
          """[0,"c"],[1,"a"],[2,"b"]"""))
    }

    test(s"$store scans REPLACE's re-inserted rows in rowid order") {
      scans(cap, "p", Seq(
          "CREATE TABLE p(id INTEGER PRIMARY KEY, k TEXT UNIQUE, x TEXT)",
          "INSERT INTO p VALUES (1,'a','x'),(2,'b','y'),(3,'c','z')",
          "REPLACE INTO p VALUES (5,'a','r')",
          "INSERT OR REPLACE INTO p VALUES (2,'q','s')",
          "INSERT OR REPLACE INTO p(k, x) VALUES ('c','t')"),
        "SELECT * FROM p",
        env(""""id","k","x"""", """"integer","text","text"""",
          """[2,"q","s"],[5,"a","r"],[6,"c","t"]"""))
    }

    test(s"$store of rowids alone scans -5, 2, 10 in order") {
      scans(cap, "w", Seq("CREATE TABLE w(id INTEGER PRIMARY KEY)",
          "INSERT INTO w VALUES (10),(-5),(2)",
          "INSERT INTO w VALUES (NULL)"),
        "SELECT * FROM w",
        env(""""id"""", """"integer"""", "[-5],[2],[10],[11]"))
    }

    test(s"$store fires triggers and lists RETURNING rows in candidate order") {
      // firing needs the statement's rows under the driver cap
      val db = open(Files.createTempDirectory("graft-rowid"),
        math.max(cap, 4L))
      try {
        exec(db, "CREATE TABLE o(id INTEGER PRIMARY KEY, x TEXT)",
          "CREATE TABLE log(id INTEGER, x TEXT)",
          "INSERT INTO o VALUES (10,'s'),(11,'s'),(12,'s'),(13,'s'),(14,'s')",
          "CREATE TRIGGER tr AFTER INSERT ON o BEGIN " +
            "INSERT INTO log VALUES (NEW.id, NEW.x); END")
        assert(render(db.query(req("INSERT INTO o(id, x) VALUES " +
          "(7,'a'),(3,'b'),(9,'c'),(1,'d') RETURNING id"), ReadLevel.Weak)) ===
          env(""""id"""", """"integer"""", "[7],[3],[9],[1]"))
        assert(render(db.query(req(
          "REPLACE INTO o(id, x) VALUES (9,'e'),(2,'f') RETURNING id, x"),
          ReadLevel.Weak)) ===
          env(""""id","x"""", """"integer","text"""", """[9,"e"],[2,"f"]"""))
        assert(db.isSpilled("o") === (cap == Spill))
        db.checkpoint().fold(e => fail(e), identity)
        // log has no rowid alias: its rowids follow the firing order
        assert(read(db, "SELECT * FROM log") ===
          env(""""id","x"""", """"integer","text"""",
            """[7,"a"],[3,"b"],[9,"c"],[1,"d"],[9,"e"],[2,"f"]"""))
        assert(read(db, "SELECT * FROM o") ===
          env(""""id","x"""", """"integer","text"""",
            """[1,"d"],[2,"f"],[3,"b"],[7,"a"],[9,"e"],""" +
              """[10,"s"],[11,"s"],[12,"s"],[13,"s"],[14,"s"]"""))
      } finally db.close()
    }

    test(s"$store read from a legacy file with __ord scans in rowid order") {
      val dir = Files.createTempDirectory("graft-rowid")
      val db = open(dir, cap)
      try {
        exec(db, "CREATE TABLE o(id INTEGER PRIMARY KEY, x TEXT)",
          "INSERT INTO o VALUES (1,'d'),(3,'b'),(7,'a'),(9,'c')")
        db.checkpoint().fold(e => fail(e), identity)
      } finally db.close()
      // rewrite the version's file as a store before rowid order wrote it:
      // an __ord column first, here listing the rows in reverse rowid order
      val v = Files.list(dir).iterator().asScala.map(_.getFileName.toString)
        .filter(_.matches("v\\d+")).map(_.drop(1).toLong).max
      val file = dir.resolve(s"v$v").resolve("o.parquet")
      Files.walk(file).iterator().asScala.toSeq.reverse.foreach(Files.delete)
      val schema = StructType(Seq(
        StructField("__ord", LongType, nullable = false),
        StructField("__rowid", LongType, nullable = false),
        StructField("id", LongType), StructField("x", StringType)))
      Durability.writeParquet(spark, file, schema, Iterator(
        Row(0L, 9L, 9L, "c"), Row(1L, 7L, 7L, "a"),
        Row(2L, 3L, 3L, "b"), Row(3L, 1L, 1L, "d")))
      val want = env(""""id","x"""", """"integer","text"""",
        """[1,"d"],[3,"b"],[7,"a"],[9,"c"]""")
      val loaded = open(dir, cap)
      try {
        assert(loaded.isSpilled("o") === (cap == Spill))
        assert(read(loaded, "SELECT * FROM o") === want)
        assert(loaded.tableAsOf("o", v).fold(e => fail(e), identity)
          .collect().map(_.getLong(0)).toSeq === Seq(1L, 3L, 7L, 9L))
      } finally loaded.close()
    }
  }
}
