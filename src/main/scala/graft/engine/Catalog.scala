package graft.engine

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Table row storage. A table's rows have one order, SQLite's: a rowid
  * table is a B-tree keyed by rowid, so an unordered scan returns rows
  * in rowid order (WITHOUT ROWID tables scan in PRIMARY KEY order,
  * `GraftDb.wrOrder`, over synthetic rowids). [[Mem]] is the driver-side
  * vector, kept sorted by rowid — every write goes through
  * [[Mem.memStore]]. [[Big]] is the form a table spills to once it
  * crosses the db's `maxDriverRows` (SURVEY §7.4's partition-scoped
  * copy-on-write): rows live as an immutable materialized DataFrame with a
  * `__rowid` column ahead of the data columns, in no physical order (a
  * read sorts by `__rowid`); every mutation derives a NEW DataFrame as a
  * Spark job (never mutates, never collects the table), and constraint
  * validation runs as joins/aggregations (`GraftDb.validateBulk`). Both
  * are immutable values, so tx snapshots / savepoints / the `none`-level
  * committed version are reference copies for either representation.
  * Statement order — the order triggers fire and RETURNING lists rows in —
  * is not a store order: each statement takes it from its own candidates. */
private[engine] sealed trait Store
private[engine] final case class Mem(rows: Vector[(Long, IndexedSeq[Any])])
    extends Store
private[engine] final case class Big(df: DataFrame, n: Long) extends Store

private[engine] object Mem {
  /** The [[Mem]] store holding `kept` — rows of a rowid-ordered store,
    * some dropped or rewritten in place under their own rowids — plus
    * `added`, rows that are new or whose rowid changed, in any order.
    * Most statements add at or near the tail (interleaved clients send
    * ids slightly out of order), so only the rows after the splice point
    * are merged; nothing re-sorts the store. */
  def memStore(kept: Vector[(Long, IndexedSeq[Any])],
      added: Iterable[(Long, IndexedSeq[Any])] = Nil): Mem =
    if (added.isEmpty) Mem(kept)
    else {
      val low = added.iterator.map(_._1).min
      val at =
        if (kept.isEmpty || kept.last._1 < low) kept.size
        else kept.view.map(_._1).search(low).insertionPoint
      Mem(kept.take(at) ++ (kept.drop(at) ++ added).sortBy(_._1))
    }

  /** `rows` after an UPDATE whose changed rows are `upd`, each as (old
    * rowid, new rowid, values…): a row keeping its rowid is rewritten in
    * place, a rekeyed one moves to its new place. */
  def memUpdated(rows: Vector[(Long, IndexedSeq[Any])],
                 upd: Array[Row]): Mem = {
    val byOld = upd.iterator.map(r => r.getLong(0) -> r).toMap
    def row(r: Row) = (r.getLong(1), (2 until r.length).map(r.get).toIndexedSeq)
    val moved = upd.filter(r => r.getLong(1) != r.getLong(0))
    val gone = moved.iterator.map(_.getLong(0)).toSet
    memStore(rows.collect { case (rid, v) if !gone(rid) =>
      byOld.get(rid).fold((rid, v))(row) }, moved.map(row))
  }
}

private[engine] object Store {
  /** The row schema of every store frame and snapshot file: `__rowid`,
    * then the data columns. */
  def ridSchema(d: TableDef): StructType =
    StructType(StructField("__rowid", LongType, nullable = false) +:
      d.schema.fields)
}

private[engine] final class TableState(
    val d: TableDef,
    val createSql: String,
    var store: Store,
    var nextRowId: Long,
    // CREATE TEMP TABLE: connection-scoped — excluded from the manifest
    // (never durable, never replicated: the journal's replayed temp
    // statements are dropped at the end of recovery), hidden from
    // sqlite_master (sqlite_temp_master lists it), dropped on close
    val temp: Boolean = false) {
  def copyState = new TableState(d, createSql, store, nextRowId, temp)
}

// AFTER ROW triggers (SQLite pass-through surface, reference forwards
// CREATE TRIGGER verbatim to SQLite via db/src/db.rs:176): body is the
// raw statement list; NEW./OLD. substitute per affected row at fire time.
private[engine] final case class TriggerDef(name: String, event: String,
                                            table: String, body: Seq[String],
                                            sql: String)

/** The schema objects a read resolves against: the live catalogs
  * (weak/strong), the last committed ones (`none`) or a snapshot
  * manifest's (`?version=N`, [[Manifest]]). A checkpoint writes one. */
private[engine] final case class Catalog(
    tables: Iterable[TableState],
    indexes: Iterable[Ddl.CreateIndex],
    views: Iterable[(String, String, String)],
    triggers: Iterable[TriggerDef],
    userVersion: Long,
    schemaVersion: Long) {
  def table(name: String): Option[TableState] =
    tables.find(_.d.name.equalsIgnoreCase(name))
}
