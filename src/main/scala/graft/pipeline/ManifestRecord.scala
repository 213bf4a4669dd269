package graft.pipeline

import java.io.{FileNotFoundException, IOException}
import java.util.UUID

import scala.jdk.CollectionConverters._
import scala.reflect.runtime.universe.TypeTag

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.{MessageType, Type, Types}
import org.apache.parquet.schema.LogicalTypeAnnotation.stringType
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, INT32, INT64}
import org.apache.spark.sql.{Encoders, Row, SparkSession}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}

import graft.io.WriteFs

/** The one driver-side file writer of the resumable writers, and the
  * commit record of their `_manifest` tables.
  *
  * Every file the driver writes — a manifest record, a small bucket's
  * triples, a parameter file, a marker, a store's metadata or commit
  * journal — goes through [[commit]]: the bytes land in a dot-prefixed
  * temp file beside the target (Spark's file listing skips it), then ONE
  * Hadoop `FileSystem.rename` moves it onto the target, which must be
  * absent (HDFS rename does not overwrite). A reader therefore sees a
  * file whole or not at all, on any Hadoop filesystem; a crash leaves at
  * most a temp file, which [[isTemp]] names so its owner can sweep it.
  * The filesystem comes from [[graft.io.WriteFs]], so on `file:` the temp
  * file, its `.crc` sidecar and any parent directory get their
  * permission bits in-process, with no `chmod` process per file.
  *
  * A parquet file ([[writeParquet]]) is the file Spark writes for the
  * same rows — same message name, column names, physical and logical
  * types, repetition and compression codec, and the same Spark row-schema
  * footer key — so `spark.read.parquet` reads files of either writer side
  * by side. It runs no Spark job. A manifest record ([[append]]) is one
  * such one-row file per committed unit, the file `Seq(rec).toDS().write
  * .mode(Append).parquet(dir)` writes. */
private[graft] object ManifestRecord {

  /** The footer key Spark reads its own schema from (nullability
    * included) when it infers a parquet file's schema. */
  private val SparkRowMetadataKey = "org.apache.spark.sql.parquet.row.metadata"

  def append[T <: Product : TypeTag](spark: SparkSession, dir: String, rec: T): Unit =
    writeParquet(spark, new Path(dir, s"part-${UUID.randomUUID()}.parquet"),
      Encoders.product[T].schema, Seq(Row.fromTuple(rec)))

  /** Writes `rows` of `schema` as the one parquet file `target`, which
    * must be absent, compressed with the session's
    * `spark.sql.parquet.compression.codec`. Fields hold `Int`, `Long` or
    * `String` values; a nullable field may hold null. */
  def writeParquet(spark: SparkSession, target: Path, schema: StructType,
      rows: Iterable[Row]): Unit = {
    val msg = new MessageType("spark_schema", schema.fields.toSeq.map[Type] { f =>
      val t = f.dataType match {
        case IntegerType => INT32
        case LongType => INT64
        case StringType => BINARY
        case other => throw new IllegalArgumentException(
          s"field ${f.name} has type $other; files hold Int, Long and String only")
      }
      val b = if (f.nullable) Types.optional(t) else Types.required(t)
      (if (t == BINARY) b.as(stringType()) else b).named(f.name)
    }.asJava)
    val codec = spark.conf.get("spark.sql.parquet.compression.codec").toUpperCase match {
      case "NONE" => CompressionCodecName.UNCOMPRESSED
      case name => CompressionCodecName.valueOf(name)
    }
    val conf = WriteFs.conf(spark)
    commit(WriteFs.of(spark, target), target) { tmp =>
      val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(tmp, conf))
        .withConf(conf)
        .withType(msg)
        .withCompressionCodec(codec)
        .withExtraMetaData(Map(SparkRowMetadataKey -> schema.json).asJava)
        .build()
      try rows.foreach { r =>
        val g = new SimpleGroup(msg)
        (0 until r.length).filterNot(r.isNullAt).foreach { i =>
          r.get(i) match {
            case v: Int => g.add(i, v)
            case v: Long => g.add(i, v)
            case v: String => g.add(i, v)
            case v => throw new IllegalArgumentException(
              s"field ${schema.fields(i).name} holds $v")
          }
        }
        w.write(g)
      } finally w.close()
    }
  }

  /** Writes `text` (UTF-8) to the absent file `target` through [[commit]]. */
  def writeString(spark: SparkSession, target: Path, text: String): Unit = {
    val fs = WriteFs.of(spark, target)
    commit(fs, target) { tmp =>
      val out = fs.create(tmp, true)
      try out.write(text.getBytes("UTF-8")) finally out.close()
    }
  }

  /** The UTF-8 content of `target`, or `None` when it does not exist. */
  def readString(spark: SparkSession, target: Path): Option[String] =
    try {
      val in = WriteFs.of(spark, target).open(target)
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    } catch { case _: FileNotFoundException => None }

  /** True for a file name [[commit]] writes before its rename. */
  def isTemp(name: String): Boolean = name.startsWith(".") && name.endsWith(".tmp")

  /** `write` fills the temp file beside `target`; one rename on `fs` then
    * moves it onto `target`, which the caller has made sure is absent. A
    * temp file an earlier crash left under the same name is overwritten. */
  private def commit(fs: FileSystem, target: Path)(write: Path => Unit): Unit = {
    val tmp = new Path(target.getParent, s".${target.getName}.tmp")
    write(tmp)
    if (!fs.rename(tmp, target))
      throw new IOException(s"could not rename $tmp onto $target")
  }
}
