package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Hive-backed session catalog (q_hive_catalog): embedded Derby
      // metastore at a per-process path so concurrent JVMs never hit a
      // Derby lock; initialization is lazy — sessions that never touch
      // the catalog pay nothing
      .enableHiveSupport()
      .config("spark.hadoop.javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=/tmp/graft-metastore/verify-${System.nanoTime()};create=true")
      .config("spark.sql.warehouse.dir",
        s"/tmp/graft-warehouse/verify-${System.nanoTime()}")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Local-iteration aid: GRAFT_ONLY=q1,q2 restricts the dump (driver never sets it).
    val only = sys.env.get("GRAFT_ONLY").map(_.split(",").toSet)
    // one status line per query on stdout: `<name> ok` or `<name> <exception class>`
    val failed = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
        val failure =
          try {
            fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
            None
          } catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            Some(e)
          }
        println(s"$name ${failure.fold("ok")(_.getClass.getName)}")
        // drop partitions cached inside operators so 100+ queries in one
        // session don't accumulate memory pressure
        spark.catalog.clearCache()
        failure.map(_ => name)
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }
}
