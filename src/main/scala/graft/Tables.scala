package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * Reads go straight through `spark.read.parquet` so Catalyst keeps full
  * pushdown: filters and column pruning land in the parquet scan
  * (`PushedFilters` / `ReadSchema` in `.explain`), which is what makes the
  * same plans viable at 100 TB — only the referenced columns and row
  * groups are read.
  *
  * [[load]] hands the reader the table's schema, read on the driver from
  * one parquet footer. Without a schema, `spark.read.parquet` infers it
  * with a one-task Spark job per call, and a catalog query that loads a
  * table pays that job on every build. The footer is the one Spark's own
  * inference reads when `spark.sql.parquet.mergeSchema` is off:
  * `_common_metadata`, else `_metadata`, else the first data file by path
  * (names starting with `_` or `.` are not data). With `mergeSchema` on,
  * every footer counts, so [[load]] leaves inference to Spark.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The generator has emitted events.ts in two encodings across rounds:
    * parquet TIMESTAMP(NANOS) (readable only as long nanos under the
    * nanosAsLong legacy flag) and plain µs timestamps (which Spark 4
    * infers as TIMESTAMP_NTZ). Normalize either to the session
    * TimestampType — identical µs instants under the UTC session TZ — so
    * every downstream window/watermark/unix_micros path sees one type. */
  def eventTs(df: DataFrame): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, expr}
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("timestamp_micros(ts DIV 1000)")
      case org.apache.spark.sql.types.TimestampNTZType => col("ts").cast("timestamp")
      case _ => col("ts")
    }
  }

  /** `df.transform(Tables.tsNormalized)` — [[eventTs]] applied in place. */
  val tsNormalized: DataFrame => DataFrame = df => df.withColumn("ts", eventTs(df))

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // legacy flag is a no-op for the µs encoding, required for the nanos one
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    val df =
      if (spark.sessionState.conf.isParquetSchemaMergingEnabled) spark.read.parquet(path)
      else spark.read.schema(footerSchema(spark, path)).parquet(path)
    if (name == "events") tsNormalized(df) else df
  }

  /** The schema Spark infers for the parquet file or directory `path`
    * with `mergeSchema` off, read on the driver. */
  private def footerSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq.filterNot(c => hidden(c.getPath.getName)).flatMap(leaves)
    // a missing path throws here, as spark.read.parquet does
    val files = leaves(fs.getFileStatus(root)).sortBy(_.getPath.toString)
    val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    val file = summaries.view.flatMap(n => files.find(_.getPath.getName == n)).headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
      .getOrElse(throw new IllegalArgumentException(s"no parquet data file under $path"))
    val footer = new Footer(file.getPath, ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS))
    // built after load set nanosAsLong: the converter reads the session conf
    val converter = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
    nullable(ParquetFileFormat.readSchemaFromFooter(footer, converter)).asInstanceOf[StructType]
  }

  /** The parquet data files `plan` scans, from the file indexes' cached
    * listings (no file system call), or None when a leaf of `plan` is not
    * a parquet file scan. */
  private[graft] def parquetFiles(plan: LogicalPlan): Option[Seq[FileStatus]] = {
    val perLeaf = plan.collectLeaves().map {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) if fs.fileFormat.isInstanceOf[ParquetFileFormat] =>
        fs.location match {
          case i: PartitioningAwareFileIndex => Some(i.allFiles().filterNot(_.getPath.getName.startsWith("_")))
          case _ => None
        }
      case _ => None
    }
    if (perLeaf.forall(_.isDefined)) Some(perLeaf.flatten.flatten) else None
  }

  /** The rows in the parquet `files`, summed from their footers' row
    * groups on the driver. Reading stops once the sum exceeds `limit`,
    * so the result is exact up to `limit` and above it otherwise. */
  private[graft] def parquetRows(spark: SparkSession, files: Seq[FileStatus], limit: Long): Long = {
    val conf = spark.sessionState.newHadoopConf()
    var rows = 0L
    val it = files.iterator
    while (rows <= limit && it.hasNext) {
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(it.next(), conf), ParquetMetadataConverter.NO_FILTER)
      footer.getBlocks.forEach(b => rows += b.getRowCount)
    }
    rows
  }

  /** The names a file listing for a data source skips (Spark keeps the
    * two summary files for the parquet reader). */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=") ||
      name.startsWith(".") || name.endsWith("._COPYING_")) &&
      !name.startsWith(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE) &&
      !name.startsWith(ParquetFileWriter.PARQUET_METADATA_FILE)

  /** `t` with every struct field, array element and map value nullable,
    * as Spark relaxes the schema of a file source. */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }
}
