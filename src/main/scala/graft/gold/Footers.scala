package graft.gold

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Driver-side parquet footer reads over committed (immutable) dirs: the
  * schema Spark recorded when it wrote a dir, and exact row counts,
  * without a Spark job. `spark.read.parquet(dir)` with no schema runs one
  * schema-inference job per dir; a fold reading its committed inputs
  * every micro-batch paid that per table per batch for a schema the
  * writer had already recorded in every footer.
  */
private[graft] object Footers {

  /** Footer key under which Spark's parquet writer records the row schema. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  private def visible(st: FileStatus): Boolean = {
    val n = st.getPath.getName
    !n.startsWith("_") && !n.startsWith(".")
  }

  /** One part file's footer facts: row count and the recorded schema. */
  private final case class Footer(rows: Long, schemaJson: Option[String])

  private def footer(spark: SparkSession, st: FileStatus): Footer = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromStatus(st, spark.sparkContext.hadoopConfiguration))
    try Footer(r.getRecordCount, Option(r.getFooter.getFileMetaData
      .getKeyValueMetaData.get(SparkSchemaKey)))
    finally r.close()
  }

  /** The row schema recorded in `dir`'s footer; None when the dir holds no
    * top-level part file or has subdirectories (a partitioned layout, or
    * a dir caught mid-retirement) — the caller then lets Spark infer, so
    * those cases fail or resolve exactly as before.
    */
  def schema(spark: SparkSession, dir: String): Option[StructType] = {
    val p = new Path(dir)
    val entries = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(p).toSeq.filter(visible)
    if (entries.exists(_.isDirectory)) None
    else entries.find(_.getPath.getName.endsWith(".parquet")).flatMap(st =>
      footer(spark, st).schemaJson.map(DataType.fromJson(_).asInstanceOf[StructType]))
  }

  /** Exact row count across the part files of `dirs` (at any depth),
    * reading footers only until the running sum passes `stopAbove` — a
    * width decision needs "over the threshold", not the total.
    */
  def rows(spark: SparkSession, dirs: Seq[String],
           stopAbove: Long = Long.MaxValue): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    // listStatus, not listFiles: a located status loads permissions
    // eagerly, which local-file subclasses under another scheme refuse
    def parts(fs: FileSystem, p: Path): Iterator[FileStatus] =
      fs.listStatus(p).iterator.filter(visible).flatMap { st =>
        if (st.isDirectory) parts(fs, st.getPath)
        else Iterator(st).filter(_.getPath.getName.endsWith(".parquet"))
      }
    val files = dirs.iterator.flatMap { d =>
      val p = new Path(d)
      parts(p.getFileSystem(conf), p)
    }
    var n = 0L
    while (n <= stopAbove && files.hasNext)
      n += footer(spark, files.next()).rows
    n
  }

  /** `dir` read with its recorded schema (Spark's inference only as the
    * fallback [[schema]] names).
    */
  def read(spark: SparkSession, dir: String): DataFrame =
    schema(spark, dir) match {
      case Some(s) => spark.read.schema(s).parquet(dir)
      case None => spark.read.parquet(dir)
    }

  /** `dirs` as ONE multi-path scan when their recorded schemas agree
    * (names and types); otherwise each dir read with its own schema and
    * unioned by name — `allowMissingColumns = false` then fails loudly on
    * a dir missing a column, exactly as the per-dir union always did.
    */
  def readAll(spark: SparkSession, dirs: Seq[String],
              allowMissingColumns: Boolean): DataFrame = {
    require(dirs.nonEmpty, "Footers.readAll: no dirs")
    val schemas = dirs.map(schema(spark, _))
    schemas.head match {
      case Some(s) if schemas.forall(_.exists(_.catalogString == s.catalogString)) =>
        spark.read.schema(s).parquet(dirs: _*)
      case _ =>
        dirs.zip(schemas).map {
          case (d, Some(s)) => spark.read.schema(s).parquet(d)
          case (d, None) => spark.read.parquet(d)
        }.reduce(_.unionByName(_, allowMissingColumns = allowMissingColumns))
    }
  }
}
