package graft.pipeline

import java.io.IOException
import java.util.UUID

import scala.jdk.CollectionConverters._
import scala.reflect.runtime.universe.TypeTag

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.{MessageType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{INT32, INT64}
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.types.{IntegerType, LongType}

/** The commit record of a resumable writer's `_manifest` table, written
  * on the driver with no Spark job: one one-row parquet file per
  * committed unit.
  *
  * The file is the one `Seq(rec).toDS().write.mode(Append).parquet(dir)`
  * writes — same message name, column names, physical types and
  * repetition, and the same Spark row-schema footer key — so
  * `spark.read.parquet(dir)` reads records of either writer side by side.
  * It is written under a dot-prefixed temp name, which Spark's file
  * listing skips, and renamed into place through the Hadoop `FileSystem`
  * API, so a reader sees a record whole or not at all. Records hold
  * `Int` and `Long` fields only. */
private[graft] object ManifestRecord {

  /** The footer key Spark reads its own schema from (nullability
    * included) when it infers a parquet file's schema. */
  private val SparkRowMetadataKey = "org.apache.spark.sql.parquet.row.metadata"

  def append[T <: Product : TypeTag](spark: SparkSession, dir: String, rec: T): Unit = {
    val schema = Encoders.product[T].schema
    val msg = new MessageType("spark_schema", schema.fields.toSeq.map[Type] { f =>
      val t = f.dataType match {
        case IntegerType => INT32
        case LongType => INT64
        case other => throw new IllegalArgumentException(
          s"manifest field ${f.name} has type $other; records hold Int and Long only")
      }
      (if (f.nullable) Types.optional(t) else Types.required(t)).named(f.name)
    }.asJava)
    val row = new SimpleGroup(msg)
    rec.productIterator.zipWithIndex.foreach {
      case (v: Int, i) => row.add(i, v)
      case (v: Long, i) => row.add(i, v)
      case (v, i) => throw new IllegalArgumentException(
        s"manifest field ${schema.fields(i).name} holds $v")
    }

    val conf = spark.sparkContext.hadoopConfiguration
    val name = s"part-${UUID.randomUUID()}.parquet"
    val tmp = new Path(dir, s".$name.tmp")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(tmp, conf))
      .withConf(conf)
      .withType(msg)
      .withExtraMetaData(Map(SparkRowMetadataKey -> schema.json).asJava)
      .build()
    try w.write(row) finally w.close()
    if (!tmp.getFileSystem(conf).rename(tmp, new Path(dir, name)))
      throw new IOException(s"could not rename $tmp into $dir")
  }
}
