package graft.engine

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.UUID
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.Job
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{LocalOutputFile, OutputFile}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils, ParquetWriteSupport}
import org.apache.spark.sql.types.StructType

/** Writes a driver-resident (`Mem`) table's snapshot as a one-file parquet
  * dir, on the calling thread.
  *
  * Why no Spark job: a `Mem` table is already a driver vector. A Spark
  * write would ship it to one task and back through planning, the Hadoop
  * commit protocol (`_temporary` dirs, `_SUCCESS`) and, without Hadoop's
  * native library, a forked `chmod` per file and dir it creates — all
  * under the `GraftDb` lock. This writer keeps Spark's file format
  * exactly: `ParquetUtils.prepareWrite` fills the Hadoop conf as Spark's
  * own writer fills it, rows go through Spark's `ParquetWriteSupport`
  * after the Catalyst conversion `createDataFrame` applies, and the codec
  * is the session's. The footer schema and Spark's row metadata therefore
  * match what Spark's writer writes, and snapshot load, `tableAsOf` and
  * `queryAsOf` read the files unchanged.
  *
  * Temp-then-rename: the file is written through java.nio (no Hadoop
  * filesystem, no `.crc`) under a dot-prefixed name, which Spark's
  * hidden-file rule and `Tables.footerSchema` skip, and is moved with
  * `ATOMIC_MOVE` to its `part-00000-…` name only once its footer is
  * complete. A torn write never sits under a readable name.
  *
  * `Big` (spilled) tables do not come here: they keep Spark's distributed
  * writer, so their rows never transit the driver.
  */
private[engine] object SnapshotWriter {

  /** Write `rows` (in order, shaped as `schema`) to a new parquet dir
    * `dir`, which must not exist yet. */
  def write(spark: SparkSession, dir: Path, schema: StructType,
            rows: Iterator[Row]): Unit = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState
    val job = Job.getInstance(state.newHadoopConf())
    val options = new ParquetOptions(Map.empty[String, String], state.conf)
    ParquetUtils.prepareWrite(state.conf, job, schema, options)
    val codec = CompressionCodecName.valueOf(options.compressionCodecClassName)
    Files.createDirectories(dir)
    val id = UUID.randomUUID()
    val tmp = dir.resolve(s".part-00000-$id.parquet.tmp")
    val writer = new Builder(new LocalOutputFile(tmp))
      .withConf(job.getConfiguration)
      .withCompressionCodec(codec)
      .build()
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    try rows.foreach(r => writer.write(toCatalyst(r).asInstanceOf[InternalRow]))
    finally writer.close()
    Files.move(tmp, dir.resolve(s"part-00000-$id-c000${codec.getExtension}.parquet"),
      StandardCopyOption.ATOMIC_MOVE)
  }

  private final class Builder(file: OutputFile)
      extends ParquetWriter.Builder[InternalRow, Builder](file) {
    override def self(): Builder = this
    override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport()
  }
}
