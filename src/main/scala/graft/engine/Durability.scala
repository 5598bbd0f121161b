package graft.engine

import graft.command.Json
import com.fasterxml.jackson.databind.ObjectMapper
import java.io.OutputStream
import java.nio.channels.{FileChannel, OverlappingFileLockException}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption, StandardOpenOption}
import java.util.UUID
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.Job
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{LocalOutputFile, OutputFile}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils, ParquetWriteSupport}
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** One journal line: a batch, appended before it applies. `streamBatch`
  * stamps a streaming micro-batch (the exactly-once watermark);
  * `returning` marks a query-path RETURNING statement, whose replay arms
  * the same capture, so a statement the live run refused at the driver
  * cap is refused again on reopen. */
private[engine] final case class JournalEntry(id: Long, transaction: Boolean,
    statements: Seq[String], streamBatch: Option[Long] = None,
    returning: Boolean = false) {
  def encode: String =
    s"""{"id":$id,""" + streamBatch.fold("")(b => s""""streamBatch":$b,""") +
      (if (returning) "\"returning\":true," else "") +
      s""""transaction":$transaction,"statements":""" +
      statements.map(Json.escapeQ).mkString("[", ",", "]}")
}

private[engine] object JournalEntry {
  /** None for a line that is not JSON: the torn tail of a crash
    * mid-append. A well-formed line always decodes. */
  def decode(line: String): Option[JournalEntry] =
    (try Some(Durability.json.readTree(line)) catch { case _: Exception => None })
      .map { n =>
        JournalEntry(n.path("id").asLong(0), n.path("transaction").asBoolean(false),
          n.path("statements").asScala.map(_.asText).toVector,
          Option.when(n.has("streamBatch"))(n.path("streamBatch").asLong(-1)),
          n.path("returning").asBoolean(false))
      }
}

/** What a checkpoint publishes: the journal batches it covers
  * (`appliedBatch`), its version, the connection state that outlives the
  * journal, and the catalog. Tables come back with their `nextRowId` and
  * an empty store; the rows live in the version's parquet files. TEMP
  * tables are never written. */
private[engine] final case class Manifest(appliedBatch: Long, version: Long,
    lastStreamBatch: Long, lastRowId: Long, fk: Boolean, catalog: Catalog) {
  def encode: String = {
    def list(xs: Iterable[String]) = xs.map(Json.escapeQ).mkString("[", ",", "]")
    s"""{"appliedBatch":$appliedBatch,"version":$version,""" +
      s""""lastStreamBatch":$lastStreamBatch,"lastRowId":$lastRowId,""" +
      s""""fk":$fk,"tables":""" + catalog.tables.filterNot(_.temp).map { ts =>
        s"""{"createSql":${Json.escapeQ(ts.createSql)},"nextRowId":${ts.nextRowId}}"""
      }.mkString("[", ",", "]") +
      s""","indexes":${list(catalog.indexes.map(_.sql))}""" +
      s""","views":${list(catalog.views.map(_._3))}""" +
      s""","triggers":${list(catalog.triggers.map(_.sql))}""" +
      s""","userVersion":${catalog.userVersion},"schemaVersion":${catalog.schemaVersion}}"""
  }
}

private[engine] object Manifest {
  def decode(text: String): Manifest = {
    val n = Durability.json.readTree(text)
    def sqls(field: String) = n.path(field).asScala.map(_.asText).toVector
    val tables = n.path("tables").asScala.toVector.flatMap { t =>
      val createSql = t.path("createSql").asText()
      Ddl.parseCreate(createSql).map(c => new TableState(c.table, createSql,
        Mem(Vector.empty), t.path("nextRowId").asLong(1)))
    }
    val views = sqls("views").collect {
      case sql @ Ddl.createViewRe(_, name, select) => (name, select, sql)
    }
    val triggers = sqls("triggers").collect {
      case sql @ Ddl.createTriggerRe(_, name, _, event, _, tname, _, _, body) =>
        TriggerDef(name, event.toUpperCase, tname,
          SqlText.splitTopLevel(body, ';').map(_.trim).filter(_.nonEmpty), sql)
    }
    Manifest(n.path("appliedBatch").asLong(0), n.path("version").asLong(0),
      n.path("lastStreamBatch").asLong(-1), n.path("lastRowId").asLong(0),
      n.path("fk").asBoolean(false),
      Catalog(tables, sqls("indexes").flatMap(Ddl.parseCreateIndex), views,
        triggers, n.path("userVersion").asLong(0),
        n.path("schemaVersion").asLong(0)))
  }
}

/** The durability layer of a file-backed [[GraftDb]]: the statement
  * journal — the functional analog of dust's Raft log (DOC/DESIGN.md:49),
  * an ordered record of batches appended BEFORE they apply — and the
  * versioned columnar snapshots (SURVEY §7.4). This unit alone knows the
  * on-disk format under the root:
  *  - `journal.jsonl`: one [[JournalEntry]] per line;
  *  - `v{N}/<table>.parquet/`: each durable table at version N, `__rowid`
  *    plus the data columns ([[Store.ridSchema]]);
  *  - `v{N}/manifest.json`: the catalog version N was written with;
  *  - `manifest.json`: the published [[Manifest]], a POINTER (version +
  *    catalog), not the data, swapped in through `manifest.json.tmp`.
  *
  * Checkpoint order: write every table of `v{N+1}`, its manifest, then
  * swap the root manifest (the publish), then truncate the journal and
  * drop versions past the retention horizon. A crash at any step reopens
  * to the last published version plus the journal entries it does not
  * cover. The journal append alone is the commit; checkpoints only
  * compact, every [[Durability.CheckpointEvery]] batches or on request.
  *
  * The caller serializes every call but [[status]], [[versions]] and the
  * version reads behind its lock; the counters are volatile so [[status]]
  * never waits behind a writer. */
private[engine] final class Durability(val root: Path, session: SparkSession) {
  import Durability._

  // Snapshot retention for time-travel reads (-Dgraft.retainVersions=N,
  // min 2). Each retained version is a full columnar copy of the
  // database, so the knob trades disk for history depth — same contract
  // as Delta/Iceberg retention before VACUUM.
  private val retainVersions: Long =
    math.max(2L, sys.props.getOrElse("graft.retainVersions", "2").toLong)

  // Exclusive root ownership (ADVICE r10): a second open — same or another
  // process — is refused ([[Durability.Locked]]) instead of sweeping the
  // live instance's big/ bucket files out from under it. Taken before
  // recovery, released at close(); the OS releases it if the process dies.
  // SQLite's equivalent is its file-locking protocol. Nothing that can fail
  // runs after it in this constructor, so a failed open never holds it.
  private val (lockChannel, rootLock) = {
    val ch = FileChannel.open(root.resolve(".graft.lock"),
      StandardOpenOption.CREATE, StandardOpenOption.WRITE)
    val lk = try ch.tryLock() catch { case _: OverlappingFileLockException => null }
    if (lk == null) { ch.close(); throw new Locked }
    (ch, lk)
  }

  @volatile private var journalSeq = 0L
  // the last batch applied to the in-memory state, and the last one the
  // published snapshot covers
  @volatile private var inMemory = 0L
  @volatile private var appliedBatch = 0L
  @volatile private var version = 0L
  @volatile private var checkpoints = 0L
  @volatile private var lastCheckpointMs = 0.0

  // One long-lived append stream instead of an open/append/close cycle per
  // batch (measured ~2 ms/batch). flush() pushes each line to the OS, so a
  // JVM kill loses nothing appended; the stream is closed around journal
  // truncation (checkpoint) and close().
  private var journalOut: Option[OutputStream] = None
  private val journal = journalPath(root)

  private def dir(v: Long): Path = root.resolve(s"v$v")

  /** Append the next batch to the journal. */
  def append(tx: Boolean, stmts: Seq[String], streamBatch: Option[Long],
             returning: Boolean): Unit = {
    journalSeq += 1
    if (journalOut.isEmpty) journalOut = Some(Files.newOutputStream(journal,
      StandardOpenOption.CREATE, StandardOpenOption.APPEND))
    journalOut.get.write((JournalEntry(journalSeq, tx, stmts, streamBatch,
      returning).encode + "\n").getBytes(UTF_8))
    journalOut.get.flush()
  }

  /** The cadence test: [[CheckpointEvery]] batches since the last one. */
  def checkpointDue: Boolean = journalSeq - appliedBatch >= CheckpointEvery

  /** Every batch appended so far is applied in memory, whatever its
    * outcome (a failed statement or a rolled-back transaction is applied
    * as the error it gave). */
  def applied(): Unit = inMemory = journalSeq

  /** No journal batch is ahead of the in-memory state. */
  def caughtUp: Boolean = journalSeq == inMemory

  private def closeJournal(): Unit = {
    journalOut.foreach(os => try os.close() catch { case _: Exception => })
    journalOut = None
  }

  def close(): Unit = {
    closeJournal()
    try { rootLock.release(); lockChannel.close() } catch { case _: Exception => }
  }

  /** Write `cat` as version N+1 and publish it with the connection state
    * that outlives the journal; `gc` runs last, inside the timed span. */
  def checkpoint(cat: Catalog, lastStreamBatch: Long, lastRowId: Long,
                 fk: Boolean)(gc: => Unit): Unit = {
    val t0 = System.nanoTime()
    val next = version + 1
    val vdir = dir(next)
    // a leftover of an interrupted checkpoint of this version: unpublished,
    // so nothing reads it
    deleteRecursively(vdir)
    Files.createDirectories(vdir)
    // TEMP tables are connection-scoped and never durable (ADVICE r14). A
    // Mem table is one file written on this thread ([[writeParquet]], no
    // Spark job); a spilled table writes its partitions in parallel and
    // never transits the driver.
    cat.tables.filterNot(_.temp).foreach { ts =>
      val out = vdir.resolve(ts.d.name.toLowerCase + ".parquet")
      ts.store match {
        case Mem(rows) =>
          writeParquet(session, out, Store.ridSchema(ts.d),
            rows.iterator.map { case (rid, vals) => Row.fromSeq(rid +: vals) })
        case Big(df, _) =>
          df.write.mode("overwrite").parquet(out.toString)
      }
    }
    appliedBatch = journalSeq
    val manifest = Manifest(appliedBatch, next, lastStreamBatch, lastRowId, fk,
      cat).encode.getBytes(UTF_8)
    // the version's own catalog, for reads of it after later DDL
    Files.write(vdir.resolve(ManifestFile), manifest)
    // pointer swap: readers always see a complete version
    val tmp = root.resolve(ManifestFile + ".tmp")
    Files.write(tmp, manifest)
    Files.move(tmp, root.resolve(ManifestFile),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    // published: from here [[versions]], version reads and `/status` see it
    version = next
    // journal truncation: everything ≤ appliedBatch is in the snapshot
    // (close the append stream first — a delete under an open stream would
    // keep appending to the unlinked inode)
    closeJournal()
    Files.deleteIfExists(journal)
    // GC: retain the last `retainVersions` snapshots (≥2 so readers
    // mid-swap always have the previous one); sweep EVERY older dir — the
    // knob can be lowered between runs (5 → 2) — like a lakehouse VACUUM
    versions().foreach(v => if (v <= version - retainVersions) deleteRecursively(dir(v)))
    gc
    checkpoints += 1
    lastCheckpointMs = (System.nanoTime() - t0) / 1e6
  }

  /** The published version, the journal batches since it, this
    * instance's checkpoint count and the last checkpoint's duration. */
  def status: GraftDb.SnapshotStatus = {
    val applied = appliedBatch // before journalSeq: the difference stays >= 0
    GraftDb.SnapshotStatus(version, journalSeq - applied, checkpoints,
      lastCheckpointMs)
  }

  /** The readable versions, ascending: the retained `v{N}` dirs up to
    * the published one. A dir above it is a checkpoint in progress, or the
    * leftover of one that never published. A read of a version that the
    * GC of a concurrent checkpoint expires fails loudly (file not found),
    * never with current data. */
  def versions(): Seq[Long] = {
    val published = version
    val s = Files.list(root)
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.matches("v\\d+") && Files.isDirectory(root.resolve(n)))
      .map(_.drop(1).toLong).filter(_ <= published).toVector.sorted
    finally s.close()
  }

  /** The catalog a readable version was written with: its own
    * `v{N}/manifest.json`, or the root manifest for a version written
    * before versions carried one. */
  def catalogAt(v: Long): Either[String, Catalog] = {
    val vs = versions()
    if (!vs.contains(v))
      Left(s"no snapshot at version $v (retained: ${vs.mkString(",")})")
    else {
      val own = dir(v).resolve(ManifestFile)
      Right(Manifest.decode(Files.readString(
        if (Files.exists(own)) own else root.resolve(ManifestFile))).catalog)
    }
  }

  /** A table's file at version `v`, as its rowid-prefixed frame on `s`. A
    * file written before stores kept rowid order also carries an `__ord`
    * column (the old insertion order), which is dropped. */
  def frame(s: SparkSession, v: Long, table: String): Option[DataFrame] = {
    val pq = dir(v).resolve(table.toLowerCase + ".parquet")
    if (Files.exists(pq))
      Some(graft.Tables.readParquet(s, pq.toString).drop("__ord"))
    else None
  }

  /** The tables of the published manifest `m` with their rows. A table
    * of at most `maxRows` rows gets them as its [[Mem]] store (a file
    * written before stores kept rowid order lists them in the old
    * insertion order, which [[Mem.memStore]] sorts); a larger one comes
    * back with its file's frame, for the caller to keep Spark-resident. */
  def restore(m: Manifest, maxRows: Long): Vector[(TableState, Option[DataFrame])] =
    m.catalog.tables.toVector.map { ts =>
      (ts, frame(session, m.version, ts.d.name).flatMap { df =>
        val probe = df.limit(math.min(maxRows, Int.MaxValue - 2L).toInt + 1).collect()
        if (probe.length <= maxRows) ts.store = Mem.memStore(Vector.empty,
          probe.map(row => (row.getLong(0), ts.d.cols.indices.map(i => row.get(i + 1)))))
        Option.when(probe.length > maxRows)(df)
      })
    }

  /** Open-time recovery: the published manifest, if any, and the journal
    * entries it does not cover, up to the first torn line (a crash
    * mid-append leaves one), for [[replay]]. A journal that does not end
    * in a whole line is first rewritten to the whole lines before the
    * torn one: the next append must start a line of its own, or the next
    * open would read it, and every batch after it, as torn. */
  def recover(): (Option[Manifest], Vector[JournalEntry]) = {
    val mf = root.resolve(ManifestFile)
    val m = Option.when(Files.exists(mf))(Manifest.decode(Files.readString(mf)))
    m.foreach { m => appliedBatch = m.appliedBatch; version = m.version }
    journalSeq = appliedBatch
    inMemory = appliedBatch
    val text = if (Files.exists(journal)) new String(Files.readAllBytes(journal), UTF_8) else ""
    val whole = text.split('\n').toVector.filter(_.trim.nonEmpty)
      .map(l => (l, JournalEntry.decode(l))).takeWhile(_._2.isDefined)
    val kept = whole.map(_._1 + "\n").mkString
    if (kept != text) {
      val tmp = root.resolve("journal.jsonl.tmp")
      Files.writeString(tmp, kept)
      Files.move(tmp, journal,
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }
    (m, whole.flatMap(_._2).filter(_.id > appliedBatch))
  }

  /** Re-apply recovered `entries` in order through `apply`; later appends
    * continue after them. An exception while APPLYING a well-formed line
    * fails the open loudly ([[RecoveryFailed]]): swallowing it silently
    * dropped every later committed transaction (crash-replay fuzzer, seed
    * 400037, under a transient Spark error). */
  def replay(entries: Seq[JournalEntry])(apply: JournalEntry => Unit): Unit =
    entries.foreach { e =>
      journalSeq = math.max(journalSeq, e.id)
      try apply(e)
      catch { case ex: Exception =>
        throw new RecoveryFailed(s"journal replay failed at batch ${e.id}: " +
          Option(ex.getMessage).getOrElse(ex.toString), ex)
      }
    }
}

private[graft] object Durability {
  /** Batches between automatic checkpoints, which bound recovery replay
    * and journal growth (DOC/DESIGN.md:54-55's "configurable number of
    * changes"). A checkpoint rewrites every table under the caller's lock,
    * so its cost grows with the database and is amortized over the
    * cadence; 512 keeps replay at a few hundred statements. */
  val CheckpointEvery = 512L

  private val ManifestFile = "manifest.json"

  /** Another live instance holds the root. */
  final class Locked extends RuntimeException

  /** A well-formed committed journal line failed to APPLY on reopen —
    * distinct from a torn trailing line (which just ends replay) and from
    * an unusable root. The open surfaces the message so the caller can
    * retry instead of silently serving a truncated history. */
  final class RecoveryFailed(msg: String, cause: Throwable)
    extends RuntimeException(msg, cause)

  private[engine] val json = new ObjectMapper()

  /** The statement journal of the database rooted at `root`. */
  def journalPath(root: Path): Path = root.resolve("journal.jsonl")

  private[engine] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  /** Write `rows` (in order, shaped as `schema`) to a new one-file parquet
    * dir `dir` on the calling thread. A Spark write of a driver vector
    * would ship it to a task and back through the Hadoop commit protocol
    * and, without Hadoop's native library, fork a `chmod` per file — all
    * under the engine lock. The format is Spark's own:
    * `ParquetUtils.prepareWrite` fills the Hadoop conf, rows go through
    * `ParquetWriteSupport` after `createDataFrame`'s Catalyst conversion,
    * the codec is the session's. The file is written through java.nio (no
    * `.crc`) under a dot-prefixed name that Spark's hidden-file rule skips
    * and is moved with `ATOMIC_MOVE` to its `part-00000-…` name once its
    * footer is complete, so a torn write is never readable. */
  private[engine] def writeParquet(spark: SparkSession, dir: Path,
                                   schema: StructType, rows: Iterator[Row]): Unit = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState
    val job = Job.getInstance(state.newHadoopConf())
    val options = new ParquetOptions(Map.empty[String, String], state.conf)
    ParquetUtils.prepareWrite(state.conf, job, schema, options)
    val codec = CompressionCodecName.valueOf(options.compressionCodecClassName)
    Files.createDirectories(dir)
    val id = UUID.randomUUID()
    val tmp = dir.resolve(s".part-00000-$id.parquet.tmp")
    val writer = new ParquetBuilder(new LocalOutputFile(tmp))
      .withConf(job.getConfiguration)
      .withCompressionCodec(codec)
      .build()
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    try rows.foreach(r => writer.write(toCatalyst(r).asInstanceOf[InternalRow]))
    finally writer.close()
    Files.move(tmp, dir.resolve(s"part-00000-$id-c000${codec.getExtension}.parquet"),
      StandardCopyOption.ATOMIC_MOVE)
  }

  private final class ParquetBuilder(file: OutputFile)
      extends ParquetWriter.Builder[InternalRow, ParquetBuilder](file) {
    override def self(): ParquetBuilder = this
    override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport()
  }
}
