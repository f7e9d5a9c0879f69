package graft.bitemporal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** The chunk-metadata relation — the analog of the reference's per-chunk
  * metadata files (xtdb/core2 `core2.metadata`: min/max/count per column
  * per block, plus `core2.bloom` presence), derived from the parquet
  * footers the storage layer already wrote instead of a second metadata
  * store that could drift from the data.
  *
  * One row per (file, row group, column) with min/max/null-count/count
  * and whether a bloom filter is present. Footer reads are distributed
  * (one task per file batch): a 100 TB table's metadata scan is a
  * footer-only pass over the file listing, no data pages touched —
  * exactly how the reference used its metadata chunks for scan pruning.
  * Values surface as strings (the footer's typed min/max rendered via
  * the column's logical type) so one relation covers every column type.
  *
  * Uses: pruning audits ("which files could contain `_id = x`?"),
  * compaction quality checks (id-range tightness per file), and the
  * reference's metadata-driven scan planning replayed by hand.
  *
  * `min`/`max` are BOUNDS, not necessarily exact values: parquet
  * writers may truncate string/binary statistics (e.g.
  * `parquet.statistics.truncate.length`), rounding the stored min DOWN
  * (prefix) and the stored max UP (prefix with last byte incremented).
  * Range pruning against them stays sound — `[min, max]` always
  * contains the true value range — but equality of a string `min` to a
  * data value must not be assumed, and audits comparing bounds across
  * files should treat string bounds as conservative. Numeric and
  * temporal stats are exact.
  */
object ChunkMetadata {

  val schema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("row_group", IntegerType, nullable = false),
    StructField("column", StringType, nullable = false),
    StructField("rows", LongType, nullable = false),
    StructField("nulls", LongType, nullable = true),
    StructField("min", StringType, nullable = true),
    StructField("max", StringType, nullable = true),
    StructField("has_bloom", BooleanType, nullable = false),
    // fully dictionary-encoded chunks carry NO bloom by design
    // (parquet-mr skips it: the dictionary already gives exact
    // point-lookup filtering) — a chunk is point-skippable iff
    // has_bloom OR dict_encoded
    StructField("dict_encoded", BooleanType, nullable = false)))

  /** Every parquet file under `paths` (files or directories,
    * recursively), in the exact path form the `file` column uses. */
  def files(spark: SparkSession, paths: Seq[String]): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    paths.flatMap { p =>
      val path = new org.apache.hadoop.fs.Path(p)
      listParquet(path.getFileSystem(conf), path)
    }
  }

  /** Metadata rows for every parquet file under `paths` (files or
    * directories, recursively). Listing goes through the Hadoop
    * FileSystem API (works on HDFS/S3/local alike, same as the footer
    * reads); names-only on the driver, footers read executor-side. */
  def forPaths(spark: SparkSession, paths: Seq[String]): DataFrame = {
    val fileList = files(spark, paths)
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    val rows = spark.sparkContext
      .parallelize(fileList, math.max(1, math.min(fileList.size, 32)))
      .flatMap { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f), confBc.value.value)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          import scala.jdk.CollectionConverters._
          r.getFooter.getBlocks.asScala.zipWithIndex.flatMap {
            case (block, gi) =>
              block.getColumns.asScala.map { c =>
                val stats = c.getStatistics
                val (mn, mx, nulls) =
                  if (stats == null || stats.isEmpty) (null, null, null)
                  else (
                    if (stats.hasNonNullValue) stats.minAsString else null,
                    if (stats.hasNonNullValue) stats.maxAsString else null,
                    if (stats.isNumNullsSet) Long.box(stats.getNumNulls)
                    else null)
                val dict = c.getEncodings.asScala.exists(e =>
                  e == org.apache.parquet.column.Encoding.RLE_DICTIONARY ||
                    e == org.apache.parquet.column.Encoding.PLAIN_DICTIONARY)
                Row(f, gi, c.getPath.toDotString, block.getRowCount,
                  nulls, mn, mx, c.getBloomFilterOffset >= 0, dict)
              }.toSeq
          }.toSeq
        } finally r.close()
      }
    spark.createDataFrame(rows, schema)
  }

  /** One file's `_id` (min, max) over all its row groups, read on the
    * driver from the footer alone — the point path's file pruning needs
    * a handful of footers, not a Spark job. A file with no row groups
    * covers no id: `(Long.MaxValue, Long.MinValue)`. None when a row
    * group lacks integral `_id` stats (never prune on absent evidence). */
  def idRange(conf: org.apache.hadoop.conf.Configuration,
              file: String): Option[(Long, Long)] = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file), conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      import scala.jdk.CollectionConverters._
      def integral(v: Any): Option[Long] = v match {
        case n: java.lang.Long => Some(n.longValue)
        case n: java.lang.Integer => Some(n.longValue)
        case _ => None
      }
      r.getFooter.getBlocks.asScala.foldLeft(
          Option((Long.MaxValue, Long.MinValue))) { (acc, block) =>
        if (block.getRowCount == 0) acc
        else for {
          (mn, mx) <- acc
          c <- block.getColumns.asScala.find(_.getPath.toDotString == "_id")
          st = c.getStatistics
          if st != null && !st.isEmpty && st.hasNonNullValue
          lo <- integral(st.genericGetMin)
          hi <- integral(st.genericGetMax)
        } yield (math.min(mn, lo), math.max(mx, hi))
      }
    } finally r.close()
  }

  private def listParquet(fs: org.apache.hadoop.fs.FileSystem,
                          p: org.apache.hadoop.fs.Path): Seq[String] = {
    val st = fs.getFileStatus(p)
    if (st.isFile)
      if (p.getName.endsWith(".parquet")) {
        // local files surface as plain paths (what external footer
        // readers expect); remote URIs (s3://bucket/…, hdfs://…) keep
        // scheme AND authority — stripping them would re-open against
        // the local FS on the executor
        val uri = p.toUri
        Seq(if (uri.getScheme == null || uri.getScheme == "file")
          uri.getPath else p.toString)
      } else Nil
    else fs.listStatus(p).toSeq.flatMap(c => listParquet(fs, c.getPath))
  }
}
