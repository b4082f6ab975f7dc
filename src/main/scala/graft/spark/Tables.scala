package graft.spark

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.{ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.api.{Binary, RecordConsumer}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, SparkToParquetSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}
import scala.jdk.CollectionConverters._
import scala.reflect.runtime.universe.TypeTag

/** Scans of graft-owned parquet tables. Every table the engine writes has
  * a case-class schema, so a scan declares it instead of letting
  * `spark.read.parquet` infer it: inference reads file footers in a Spark
  * job of its own, once per scan. `part_id` is still discovered from the
  * `part_id=N` directories (the declared type fixes it as Int).
  */
private[graft] object TableScan {

  def apply[T <: Product: TypeTag](spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Encoders.product[T].schema).parquet(path)

  /** The chunks table of the encoded table at `outDir`. */
  def chunks(spark: SparkSession, outDir: String): DataFrame =
    apply[EncodedChunk](spark, EncodeJob.chunksPath(outDir))
}

/** Driver-side I/O for the small metadata tables next to the chunks
  * (`_meta`: one row; `_lineage`: a row per partition and write). They are
  * written and read with parquet-hadoop on the driver instead of through
  * Spark jobs: a job to write or read a handful of rows is almost all
  * scheduling, and an encode ran two of them (BENCH/BASELINE.md, "graft's
  * own metadata without Spark jobs"). The files are what Spark writes for
  * the same rows (the
  * parquet schema comes from Spark's converter and the footer carries
  * Spark's row-metadata key), so `spark.read.parquet` reads them, and these
  * readers read files Spark wrote.
  *
  * A file is written under a hidden name (leading `.`) and renamed into
  * place, so it is either absent or complete. Readers follow Spark's rule
  * for data files: names starting with `_` or `.` are skipped.
  */
private[spark] object DriverParquet {

  /** Test seam: called after each filesystem step of [[replace]]
    * ("swept", "written", "renamed", "deleted"); specs throw from it to
    * crash the write between two steps.
    */
  private[spark] var stepHook: String => Unit = _ => ()

  private val TmpPrefix = ".graft-"
  private val TmpSuffix = ".parquet.tmp"

  private def isDataName(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")

  private def list(fs: FileSystem, dir: Path): Seq[FileStatus] =
    try fs.listStatus(dir).toSeq
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  /** The data files directly under `dir`, by name; empty if it is absent. */
  def dataFiles(conf: Configuration, dir: Path): Seq[FileStatus] =
    list(dir.getFileSystem(conf), dir)
      .filter(s => s.isFile && isDataName(s.getPath.getName)).sortBy(_.getPath.getName)

  /** The rows of one file, by the declared schema's field names. */
  def read(conf: Configuration, file: Path, schema: StructType): Seq[Row] = {
    val reader = ParquetReader.builder(new GroupReadSupport(), file).withConf(conf).build()
    try {
      Iterator.continually(reader.read()).takeWhile(_ != null).map { g =>
        Row.fromSeq(schema.fields.toSeq.map { f =>
          if (g.getFieldRepetitionCount(f.name) == 0) null // a null optional field
          else f.dataType match {
            case IntegerType => g.getInteger(f.name, 0)
            case LongType => g.getLong(f.name, 0)
            case StringType => g.getString(f.name, 0)
            case t => throw new IllegalArgumentException(s"unsupported metadata column type $t")
          }
        })
      }.toVector
    } finally reader.close()
  }

  /** Every row of every data file under `dir`. */
  def readAll(conf: Configuration, dir: Path, schema: StructType): Seq[Row] =
    dataFiles(conf, dir).flatMap(s => read(conf, s.getPath, schema))

  /** Add one file holding `rows` to `dir` (created if absent); returns
    * the new file's path.
    */
  def write[T <: Product: TypeTag](conf: Configuration, dir: Path, rows: Seq[T]): Path = {
    val fs = dir.getFileSystem(conf)
    val name = s"part-00000-${java.util.UUID.randomUUID()}-c000.snappy.parquet"
    val tmp = new Path(dir, s"$TmpPrefix$name$TmpSuffix")
    val schema = Encoders.product[T].schema
    val writer = new ProductWriterBuilder(tmp, schema).withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    try rows.foreach(writer.write) finally writer.close()
    stepHook("written")
    val dst = new Path(dir, name)
    require(fs.rename(tmp, dst), s"failed to rename $tmp to $dst")
    stepHook("renamed")
    dst
  }

  /** Make `rows` the whole content of `dir`: write the new file, rename
    * it into place, then delete the data files it supersedes. A crash at
    * any step leaves the old file, or the new one, or both visible; see
    * [[newest]] for how a one-row table is read in the last case.
    * Hidden leftovers of earlier crashed writes are swept first (callers
    * hold the writer lease, so no other write is in flight).
    */
  def replace[T <: Product: TypeTag](conf: Configuration, dir: Path, rows: Seq[T]): Unit = {
    val fs = dir.getFileSystem(conf)
    sweepTemps(fs, dir)
    val old = dataFiles(conf, dir)
    val dst = write(conf, dir, rows)
    old.filterNot(_.getPath.getName == dst.getName).foreach { s =>
      fs.delete(s.getPath, false)
      stepHook("deleted")
    }
  }

  /** The most recently written data file under `dir` (modification time,
    * then name): after a crash between [[replace]]'s rename and its
    * deletes, the new file.
    */
  def newest(conf: Configuration, dir: Path): Option[FileStatus] =
    dataFiles(conf, dir).sortBy(s => (s.getModificationTime, s.getPath.getName)).lastOption

  private def sweepTemps(fs: FileSystem, dir: Path): Unit =
    list(fs, dir).filter { s =>
      val n = s.getPath.getName
      n.startsWith(TmpPrefix) && n.endsWith(TmpSuffix)
    }.foreach { s =>
      fs.delete(s.getPath, false)
      stepHook("swept")
    }

  private final class ProductWriterBuilder(path: Path, schema: StructType)
      extends ParquetWriter.Builder[Product, ProductWriterBuilder](path) {
    override def self(): ProductWriterBuilder = this
    override def getWriteSupport(conf: Configuration): WriteSupport[Product] =
      new ProductWriteSupport(schema)
  }

  /** Writes flat case-class rows (Int, Long and String fields) in the
    * layout Spark's own parquet writer gives them.
    */
  private final class ProductWriteSupport(schema: StructType) extends WriteSupport[Product] {
    private var out: RecordConsumer = _

    override def init(conf: Configuration): WriteSupport.WriteContext =
      new WriteSupport.WriteContext(
        new SparkToParquetSchemaConverter(SQLConf.get).convert(schema),
        Map(
          ParquetReadSupport.SPARK_METADATA_KEY -> schema.json,
          "org.apache.spark.version" -> org.apache.spark.SPARK_VERSION_SHORT
        ).asJava)

    override def prepareForWrite(consumer: RecordConsumer): Unit = out = consumer

    override def write(row: Product): Unit = {
      out.startMessage()
      schema.fields.indices.foreach { i =>
        val name = schema.fields(i).name
        row.productElement(i) match {
          case null => () // a null optional field is simply not written
          case v =>
            out.startField(name, i)
            v match {
              case x: Int => out.addInteger(x)
              case x: Long => out.addLong(x)
              case x: String => out.addBinary(Binary.fromString(x))
              case x => throw new IllegalArgumentException(s"unsupported metadata value $x")
            }
            out.endField(name, i)
        }
      }
      out.endMessage()
    }
  }
}
