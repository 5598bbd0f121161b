package graft.engine

import graft.SparkSpec
import graft.command._
import java.nio.file.Files

/** Snapshot time travel ([[GraftDb.tableAsOf]] / [[GraftDb.versions]]).
  *
  * The statement journal + versioned parquet checkpoints (the Raft-log /
  * snapshot analog) make every checkpoint an immutable full-copy snapshot;
  * AS OF reads are plain parquet scans of the retained v{N} dirs, and the
  * GC that bounds them is the engine's VACUUM.
  */
class TimeTravelSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-tt").toString

  private def ok(db: GraftDb, sql: String): Response = {
    val r = db.executeStringStmt(sql).fold(e => fail(e), identity).head
    assert(r.error.isEmpty, s"unexpected error for [$sql]: ${r.error}")
    r
  }

  test("tableAsOf reads each retained snapshot's committed contents") {
    val db = GraftDb.open(spark, tmp()).fold(e => fail(e), identity)
    ok(db, "CREATE TABLE kv (k INTEGER PRIMARY KEY, v TEXT)")
    ok(db, "INSERT INTO kv VALUES (1, 'one'), (2, 'two')")
    db.checkpoint().fold(e => fail(e), identity) // v1: {one, two}
    ok(db, "UPDATE kv SET v = 'TWO' WHERE k = 2")
    ok(db, "INSERT INTO kv VALUES (3, 'three')")
    db.checkpoint().fold(e => fail(e), identity) // v2: {one, TWO, three}

    assert(db.versions() === Seq(1L, 2L))
    val v1 = db.tableAsOf("kv", 1).fold(e => fail(e), identity)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(v1 === Seq(1L -> "one", 2L -> "two"))
    val v2 = db.tableAsOf("kv", 2).fold(e => fail(e), identity)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(v2 === Seq(1L -> "one", 2L -> "TWO", 3L -> "three"))
    // internal bookkeeping columns never leak into the AS OF schema
    assert(db.tableAsOf("kv", 2).fold(e => fail(e), identity)
      .columns.toSeq === Seq("k", "v"))
    db.close()
  }

  test("retention GC bounds the horizon and expired versions fail loudly") {
    val db = GraftDb.open(spark, tmp()).fold(e => fail(e), identity)
    ok(db, "CREATE TABLE t (x INTEGER)")
    (1 to 3).foreach { i =>
      ok(db, s"INSERT INTO t VALUES ($i)")
      db.checkpoint().fold(e => fail(e), identity)
    }
    // default retention is 2: v1 must be GC'd, v2/v3 readable
    assert(db.versions() === Seq(2L, 3L))
    val e = db.tableAsOf("t", 1).swap.getOrElse(fail("v1 must be expired"))
    assert(e.contains("no snapshot") && e.contains("retained: 2,3"), e)
    assert(db.tableAsOf("t", 2).fold(f => fail(f), identity).count() === 2)
    db.close()
  }

  test("in-memory databases refuse time travel explicitly") {
    val db = GraftDb.openInMemory(spark)
    ok(db, "CREATE TABLE t (x INTEGER)")
    assert(db.versions().isEmpty)
    val e = db.tableAsOf("t", 1).swap.getOrElse(fail("must refuse"))
    assert(e.contains("disk-backed"), e)
    db.close()
  }

  test("only published versions are listed and readable") {
    val root = tmp()
    val db = GraftDb.open(spark, root).fold(e => fail(e), identity)
    ok(db, "CREATE TABLE a (x INTEGER)")
    ok(db, "CREATE TABLE b (y INTEGER)")
    ok(db, "INSERT INTO a VALUES (1)")
    ok(db, "INSERT INTO b VALUES (2)")
    db.checkpoint().fold(e => fail(e), identity) // v1
    db.close()
    // the leftover of a checkpoint that wrote one table and never published
    val r = java.nio.file.Paths.get(root)
    Files.createDirectories(r.resolve("v2"))
    val src = r.resolve("v1").resolve("a.parquet")
    Files.walk(src).forEach { p =>
      val dst = r.resolve("v2").resolve("a.parquet").resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    }
    val reopened = GraftDb.open(spark, root).fold(e => fail(e), identity)
    try {
      assert(reopened.versions() === Seq(1L))
      assert(reopened.snapshotStatus.version === 1L)
      val q = Request(transaction = false, Seq(Statement("SELECT x FROM a")))
      assert(reopened.queryAsOf(q, 2) ===
        Left("no snapshot at version 2 (retained: 1)"))
      assert(reopened.tableAsOf("a", 2).isLeft)
      assert(reopened.queryAsOf(q, 1).map(_.head.values) ===
        Right(Seq(Seq(Value.Integer(1)))))
      // the next checkpoint replaces the leftover and publishes v2 whole
      reopened.checkpoint().fold(e => fail(e), identity)
      assert(reopened.versions() === Seq(1L, 2L))
      val both = Request(transaction = false,
        Seq(Statement("SELECT x FROM a"), Statement("SELECT y FROM b")))
      assert(reopened.queryAsOf(both, 2).map(_.map(_.values)) ===
        Right(Seq(Seq(Seq(Value.Integer(1))), Seq(Seq(Value.Integer(2))))))
    } finally reopened.close()
  }

  test("a version without its own manifest reads under the current catalog") {
    val root = tmp()
    val db = GraftDb.open(spark, root).fold(e => fail(e), identity)
    ok(db, "CREATE TABLE kv (k INTEGER PRIMARY KEY, v TEXT COLLATE NOCASE)")
    ok(db, "INSERT INTO kv VALUES (1, 'One'), (2, 'two')")
    db.checkpoint().fold(e => fail(e), identity) // v1
    // as a checkpoint written before versions carried their manifest
    Files.delete(java.nio.file.Paths.get(root, "v1", "manifest.json"))
    val q = Request(transaction = false,
      Seq(Statement("SELECT k FROM kv WHERE v = 'one'")))
    assert(db.queryAsOf(q, 1).map(_.head.values) ===
      Right(Seq(Seq(Value.Integer(1)))))
    db.close()
  }
}
