package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Command-line options, as `run.py` passes them. */
final case class Opts(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, out: Path, data: String)

/** One benchmark run in one JVM: set-up, warm-up, the timed window and the
  * output checks of a single workload. Writes every raw figure to
  * `<out>/raw.json`; `run.py` turns them into metrics. */
object Main {
  val Workloads: Map[String, Opts => Rec] = Map(
    "sql_relational" -> Analytics.run,
    "ingest" -> Ingest.run)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val o = Opts(kv("--workload"), kv("--seed").toLong,
      kv("--seconds").toDouble, kv("--trace") == "1",
      Paths.get(kv("--out")).toAbsolutePath, kv("--data"))
    Files.createDirectories(o.out)
    val rec = Workloads(o.workload)(o)
    Files.write(o.out.resolve("raw.json"),
      rec.json.getBytes(StandardCharsets.UTF_8))
    // the HTTP server pool and Spark's non-daemon threads must not keep
    // the JVM alive once the record is written
    System.exit(0)
  }

  /** Milliseconds since this JVM started: the zero of every span and of
    * the first set-up round. */
  val jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
  def sinceStartMs: Double = System.currentTimeMillis() - jvmStartMs.toDouble

  /** A local[4] session configured as the product's mains configure it:
    * `graft.Bench` for sql_relational, `ServeMain` for ingest.
    * Scratch directories stay inside the run's output dir. */
  def session(o: Opts, analytics: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.out.resolve("warehouse").toString)
    val s = (if (analytics) b
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
    else b).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Live heap in MB: the least heap in use over several full GCs, with
    * pauses between them for Spark's context cleaner to drop what the
    * previous GC made unreachable. */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 5).map { _ =>
      System.gc()
      val used = mem.getHeapMemoryUsage.getUsed
      Thread.sleep(200)
      used
    }.min / 1048576.0
  }

  /** Milliseconds all collectors spent so far. */
  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** `write_bytes` of /proc/self/io: bytes this process sent to storage. */
  def procWriteBytes(): Long = {
    val p = Paths.get("/proc/self/io")
    if (!Files.isReadable(p)) 0L
    else Files.readAllLines(p).toArray.map(_.toString)
      .collectFirst { case l if l.startsWith("write_bytes:") =>
        l.split(":")(1).trim.toLong }.getOrElse(0L)
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** The raw record of one run: named numbers, number lists, strings and
  * nested records, written as one JSON object. */
final class Rec {
  private val fields = mutable.LinkedHashMap[String, Any]()
  def update(k: String, v: Any): Unit = fields(k) = v
  def json: String = Rec.render(fields)
}

object Rec {
  private def render(v: Any): String = v match {
    case null => "null"
    case m: mutable.LinkedHashMap[_, _] =>
      m.map { case (k, x) => graft.command.Json.escapeQ(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case m: Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) =>
        graft.command.Json.escapeQ(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case r: Rec => r.json
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[_] => a.map(render).mkString("[", ",", "]")
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => graft.command.Json.escapeQ(s)
    case x => graft.command.Json.escapeQ(x.toString)
  }
}
