package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TableDescriptor-style registration (SURVEY.md §2.11; ref
  * flink-table-api-java TableDescriptor / Schema.Builder — the API that
  * carries WATERMARK and PRIMARY KEY as table METADATA instead of
  * per-call arguments).
  *
  * A descriptor registers the table once; operators then derive their
  * event-time and key columns from the metadata:
  *  - `table`     → batch DataFrame + temp view under `name`
  *  - `stream`    → file-stream DataFrame with the declared watermark
  *                  already applied (the `rowtime` attribute of the
  *                  reference's schema DDL)
  *  - `dedupByPk` → keep-last-row per primary key ordered by the
  *                  watermark column (ChangelogNormalize's contract:
  *                  upsert key = PRIMARY KEY, version = rowtime)
  */
case class TableDescriptor(name: String, path: String,
                           primaryKey: Seq[String] = Nil,
                           watermarkCol: Option[String] = None,
                           watermarkDelay: String = "1 hour",
                           tsNanosAsLong: Boolean = false,
                           computedCols: Seq[(String, String)] = Nil)

object Descriptors {

  /** `tsNanosAsLong` means "this column is event time": such a table is
    * read through the event-time boundary, which handles both the NANOS
    * and the timestamp[us] encodings. */
  private def load(s: SparkSession, d: TableDescriptor): DataFrame = {
    val base =
      if (d.tsNanosAsLong) graft.Tables.readEventTime(s, d.path, d.watermarkCol.getOrElse("ts"))(
        s.read.schema(_).parquet(d.path))
      else s.read.parquet(d.path)
    withComputed(base, d)
  }

  /** Computed columns from the DDL (`name AS expr`), evaluated on read —
    * the reference's generated/computed column contract. */
  private def withComputed(df: DataFrame, d: TableDescriptor): DataFrame =
    d.computedCols.foldLeft(df) { case (acc, (n, e)) => acc.withColumn(n, expr(e)) }

  /** Register the batch view and return the DataFrame. */
  def table(s: SparkSession, d: TableDescriptor): DataFrame = {
    val df = load(s, d)
    df.createOrReplaceTempView(d.name)
    df
  }

  /** Unbounded stream with the declared watermark applied from metadata. */
  def stream(s: SparkSession, d: TableDescriptor): DataFrame = {
    // the file-stream source wants a DIRECTORY; a descriptor pointing at
    // one file becomes parent dir + exact-name glob
    val f = new java.io.File(d.path)
    def read(schema: org.apache.spark.sql.types.StructType): DataFrame = {
      val reader = s.readStream.schema(schema)
      if (f.isFile) reader.option("pathGlobFilter", f.getName).parquet(f.getParent)
      else reader.parquet(d.path)
    }
    val raw =
      if (d.tsNanosAsLong) graft.Tables.readEventTime(s, d.path, d.watermarkCol.getOrElse("ts"))(read)
      else read(graft.Tables.cachedSchema(s, d.path))
    val full = withComputed(raw, d)
    d.watermarkCol.fold(full)(c => full.withWatermark(c, d.watermarkDelay))
  }

  /** Keep-last-row per PRIMARY KEY, versioned by the watermark column —
    * the metadata-driven form of the dedup operators (ref
    * StreamExecChangelogNormalize keyed on the declared PK). Batch form:
    * one window rank over (pk ORDER BY rowtime DESC). */
  def dedupByPk(s: SparkSession, d: TableDescriptor,
                tieBreak: Seq[String] = Nil): DataFrame = {
    require(d.primaryKey.nonEmpty, s"table ${d.name} declares no PRIMARY KEY")
    val rowtime = d.watermarkCol.getOrElse(
      throw new IllegalArgumentException(s"table ${d.name} declares no rowtime"))
    import org.apache.spark.sql.expressions.Window
    val df = load(s, d)
    val order = (col(rowtime).desc +: tieBreak.map(col(_).desc))
    val w = Window.partitionBy(d.primaryKey.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
  }
}
