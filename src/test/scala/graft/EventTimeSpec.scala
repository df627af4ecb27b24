package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.TimestampType

/** The event-time read boundary (Tables.readEventTime) over both encodings
  * the generator has shipped for `events.ts`: TIMESTAMP(NANOS) and
  * timestamp[us]. The nanosAsLong flag is set only for the NANOS file. */
class EventTimeSpec extends SparkSpec {

  private val flag = "spark.sql.legacy.parquet.nanosAsLong"
  private val dir = s"/tmp/graft-eventtime-spec/${System.nanoTime()}"
  // one row with sub-micro digits (truncated), one before the epoch
  private val nanos = Seq(1700000000123456789L, -1000001000L)
  private val micros = nanos.map(n => Math.floorDiv(n, 1000L))

  private def write(file: String, unit: String, values: Seq[Long]): String = {
    val schema = MessageTypeParser.parseMessageType(
      s"message events { required int64 event_id; required int64 ts (TIMESTAMP($unit,false)); }")
    val writer = ExampleParquetWriter.builder(new Path(file))
      .withType(schema).withConf(new Configuration()).build()
    val rows = new SimpleGroupFactory(schema)
    try values.zipWithIndex.foreach { case (v, i) =>
      writer.write(rows.newGroup().append("event_id", i.toLong).append("ts", v))
    } finally writer.close()
    file
  }

  private lazy val nanosFile = write(s"$dir/nanos.parquet", "NANOS", nanos)
  private lazy val microsFile = write(s"$dir/micros.parquet", "MICROS", micros)

  private def eventMicros(s: SparkSession, path: String): Seq[Long] = {
    val df = Tables.readEventTime(s, path)(s.read.schema(_).parquet(path))
    assert(df.schema("ts").dataType === TimestampType)
    df.orderBy("event_id").selectExpr("unix_micros(ts)").collect().map(_.getLong(0)).toSeq
  }

  test("a micros-only read leaves nanosAsLong unset") {
    val s = spark.newSession()
    assert(eventMicros(s, microsFile) === micros)
    assert(s.conf.get(flag, "false") === "false")
  }

  test("NANOS and micros files read in one session give the same TimestampType micros") {
    val s = spark.newSession()
    assert(eventMicros(s, nanosFile) === micros)
    assert(s.conf.get(flag, "false") === "true")
    assert(eventMicros(s, microsFile) === micros)
    // a later session reading the (already memoized) NANOS path is flagged too
    val later = spark.newSession()
    assert(eventMicros(later, nanosFile) === micros)
  }
}
