package graft.sources

import java.io.IOException

import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.types.{DataType, StructType}

import scala.jdk.CollectionConverters._
import scala.util.Try

/** Catalog-style table statistics read from parquet footers — row counts,
  * column maxima and the row schema without a Spark job or a data scan.
  *
  * The reference sizes its work from the warehouse catalog (row counts
  * are free in any table format); at 100 TB an eager `df.count()` at
  * plan-build time is a full-scan job per query. Footer metadata is
  * O(files), driver-side, and exact — the same numbers a lakehouse
  * catalog stores at commit time.
  */
object TableStatistics {

  /** Footer key under which Spark's parquet writer stores the row schema. */
  private[sources] val SparkSchemaKey =
    "org.apache.spark.sql.parquet.row.metadata"

  /** The parquet data files of a file or directory, in name order: the
    * files and subdirectories Spark's file index skips (`_*`, `.*`) are
    * skipped here too.
    */
  private def dataFiles(spark: SparkSession, path: String): Seq[Path] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def filesUnder(p: Path): Seq[Path] = {
      val st = fs.getFileStatus(p)
      if (st.isFile) Seq(p)
      else
        fs.listStatus(p).toSeq.map(_.getPath)
          .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
          .sortBy(_.getName)
          .flatMap(filesUnder)
    }
    filesUnder(p)
  }

  /** `read` applied to one file's footer, read in this JVM. The read
    * options are built over the session's Hadoop configuration, as
    * Spark's own footer reader does: the one-argument `open` builds
    * default options, which create a fresh `Configuration` and parse
    * the Hadoop XML resources on every footer read.
    */
  private[sources] def footer[T](spark: SparkSession, file: Path)
      (read: ParquetMetadata => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
      HadoopReadOptions.builder(conf, file).build())
    try read(reader.getFooter) finally reader.close()
  }

  /** Exact row count of a parquet file or directory of parquet files,
    * summed from footer metadata (no job, no data pages read).
    */
  def parquetRowCount(spark: SparkSession, path: String): Long =
    dataFiles(spark, path).map(f =>
      footer(spark, f)(_.getBlocks.asScala.map(_.getRowCount).sum)).sum

  /** Row count of a named testdata table (`<dir>/<name>.parquet`). */
  def tableRowCount(spark: SparkSession, dir: String, name: String): Long =
    parquetRowCount(spark, s"$dir/$name.parquet")

  /** The row schema `spark.read.parquet(path)` would infer, read on the
    * driver from the first data file's footer: Spark's own schema key
    * when the file carries one, else the parquet schema converted under
    * the session's parquet settings (binary-as-string, INT96, NTZ and
    * nanosecond handling). Spark's inference reads the same single
    * footer without `mergeSchema`, but inside a one-task job per read.
    */
  def parquetSchema(spark: SparkSession, path: String): StructType = {
    val file = dataFiles(spark, path).headOption
      .getOrElse(throw new IOException(s"no parquet data file under $path"))
    footer(spark, file) { f =>
      val meta = f.getFileMetaData
      Option(meta.getKeyValueMetaData.get(SparkSchemaKey))
        .flatMap(json => Try(DataType.fromJson(json)).toOption)
        .collect { case s: StructType => s }
        .getOrElse(new ParquetToSparkSchemaConverter(spark.sessionState.conf)
          .convert(meta.getSchema))
    }
  }

  /** Exact maximum of an INT64 column from parquet footer statistics —
    * the catalog's column max, free of any scan (column chunks store
    * min/max at write time). None when any chunk lacks statistics (a
    * partial max would be silently wrong). Sizes bounded-domain
    * structures (bitmap width, bucket counts) at plan-build time the
    * way BloomJoin sizes its sketch from `parquetRowCount`.
    */
  def parquetLongColumnMax(spark: SparkSession, path: String,
      column: String): Option[Long] = {
    val chunkMaxes = dataFiles(spark, path).flatMap { f =>
      footer(spark, f) { meta =>
        meta.getBlocks.asScala.flatMap { block =>
          block.getColumns.asScala
            .filter(_.getPath.toDotString == column)
            .map { c =>
              val st = c.getStatistics
              if (st == null || st.isEmpty || !st.hasNonNullValue) None
              else st.genericGetMax match {
                case l: java.lang.Long => Some(l.longValue())
                case _ => None
              }
            }
        }.toList
      }
    }
    if (chunkMaxes.isEmpty || chunkMaxes.exists(_.isEmpty)) None
    else Some(chunkMaxes.flatten.max)
  }
}
