package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import scala.jdk.CollectionConverters._

/** Unpartitioned parquet reads whose schema and row count come from the
  * file footers, read in the calling JVM. `spark.read.parquet` infers the
  * schema with a one-task Spark job (`mergeSchemasInParallel`) even with
  * `mergeSchema` off, and a `count()` is a two-stage job; on small
  * store artifacts and dashboard tables those jobs cost more than the
  * data. Here the schema is read from one footer with Spark's own
  * converter (so `nanosAsLong` and the other session flags apply),
  * made nullable as inference makes it, and declared to the reader;
  * the row count is the sum of the footers' row-group counts.
  *
  * A path with no data file (missing, empty, or a partitioned layout
  * whose files sit in subdirectories) goes to `spark.read.parquet`
  * unchanged, so its errors and partition discovery stay Spark's.
  * ParquetDirSpec pins schema and count parity against Spark's
  * inference and `count()` for every table and store family. */
object ParquetDir {

  /** Data files of `path`: the path itself when it is a file, else its
    * direct children that are files and whose names start with neither
    * `_` nor `.` (`_SUCCESS`, `.crc` — Spark's file index skips the
    * same names). Empty when the path does not exist. */
  private def dataFiles(conf: Configuration, path: String): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) Seq.empty
    else {
      val st = fs.getFileStatus(p)
      if (st.isFile) Seq(st)
      else fs.listStatus(p).toSeq
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))
        .sortBy(_.getPath.getName)
    }
  }

  private def footer(conf: Configuration, st: FileStatus,
      filter: ParquetMetadataConverter.MetadataFilter): ParquetMetadata =
    ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(st, conf), filter)

  /** Every field, element and value nullable, recursively — what
    * `spark.read.parquet` reports whatever nullability the writer
    * recorded. */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** The schema Spark would infer for `path`, from its first data
    * file's footer; None when the path has no data file. */
  def schemaOf(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    dataFiles(conf, path).headOption.map { st =>
      val meta = footer(conf, st, ParquetMetadataConverter.SKIP_ROW_GROUPS)
      nullable(ParquetFileFormat.readSchemaFromFooter(
        new Footer(st.getPath, meta),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
        .asInstanceOf[StructType]
    }
  }

  /** `spark.read.parquet(path)` without the schema-inference job. */
  def read(spark: SparkSession, path: String): DataFrame =
    schemaOf(spark, path) match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** Row count of `path` from its footers' row-group counts — no job. */
  def rowCount(spark: SparkSession, path: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    dataFiles(conf, path).iterator.map(st =>
      footer(conf, st, ParquetMetadataConverter.NO_FILTER)
        .getBlocks.asScala.iterator.map(_.getRowCount).sum).sum
  }
}
