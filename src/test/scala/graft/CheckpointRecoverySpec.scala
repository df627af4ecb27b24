package graft

import java.sql.Timestamp

import graft.streaming.StatefulOps
import graft.streaming.StreamSource.Event
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Checkpoint/recovery for the custom stateful operators: stop a query
  * mid-stream and restart it from the SAME checkpoint — keyed state,
  * source offsets and sink commit log must all be restored (ref:
  * RocksDBKeyedStateBackend snapshots + checkpoint restore; Spark:
  * HDFSBackedStateStoreProvider versioned state under the checkpoint
  * dir). Recovery-capable sinks only: file sink for append, foreachBatch
  * for update (the memory sink is a test double and refuses recovery).
  * This is the guarantee a 1000-executor job leans on after any
  * executor/driver loss. */
class CheckpointRecoverySpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int): Timestamp = new Timestamp(1700000000000L + min * 60000L)
  private def ev(id: Long, min: Int, user: Long, typ: String, v: Double): Event =
    Event(id, ts(min), user, typ, v)

  test("runningAgg state, offsets and file-sink commits survive restart") {
    implicit val sqlCtx = spark.sqlContext
    val base = graft.streaming.StreamSource.checkpointDir(spark, "test-recovery")
    val input = MemoryStream[Event]

    def start() =
      StatefulOps.runningAgg(input.toDS()).toDF().writeStream
        .format("parquet").option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append")
        .start()

    // phase 1: two events for user 7 build running state (cnt 1, 2)
    val q1 = start()
    input.addData(Seq(ev(1, 10, 7, "view", 10.0), ev(2, 20, 7, "click", 5.0)))
    q1.processAllAvailable()
    q1.stop()

    // phase 2: restart from the same checkpoint; the new batch must
    // CONTINUE the key's state (cnt 3, sum 10+5+1) and the committed
    // batch must appear exactly once in the sink
    val q2 = start()
    input.addData(Seq(ev(3, 30, 7, "purchase", 1.0)))
    q2.processAllAvailable()
    q2.stop()

    val out = spark.read.parquet(s"$base/out")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._2)
    assert(out.map(r => (r._2, r._3)).toSeq === Seq((1L, 1L), (2L, 2L), (3L, 3L)),
      s"state or exactly-once lost across restart: ${out.toSeq}")
    assert(out.last._4 === 16.0, "running sum lost checkpointed state")
  }

  test("keepLast dedup state survives restart via foreachBatch (stale row still rejected)") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = graft.streaming.StreamSource.checkpointDir(spark, "test-recovery2")
    val input = MemoryStream[Event]

    def start() =
      StatefulOps.keepLast(input.toDS()).toDF().writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = df.select("event_id").collect().map(_.getLong(0))
          CheckpointRecoverySpec.sink.synchronized {
            CheckpointRecoverySpec.sink ++= rows
          }
          ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()

    CheckpointRecoverySpec.sink.synchronized { CheckpointRecoverySpec.sink.clear() }
    val q1 = start()
    input.addData(Seq(ev(10, 50, 9, "view", 1.0)))
    q1.processAllAvailable()
    q1.stop()
    val afterPhase1 = CheckpointRecoverySpec.sink.synchronized {
      CheckpointRecoverySpec.sink.toList }
    assert(afterPhase1 === List(10L))

    val q2 = start()
    // older than the checkpointed latest (min 50) → must NOT emit;
    // newer row → must emit. Both decisions need the restored state.
    input.addData(Seq(ev(11, 40, 9, "view", 2.0), ev(12, 60, 9, "click", 3.0)))
    q2.processAllAvailable()
    q2.stop()
    val afterPhase2 = CheckpointRecoverySpec.sink.synchronized {
      CheckpointRecoverySpec.sink.toList }
    assert(afterPhase2 === List(10L, 12L),
      s"restored keep-last state not honored: $afterPhase2")
  }
}

object CheckpointRecoverySpec {
  /** Cross-restart collector for the foreachBatch sink (same JVM). */
  val sink: scala.collection.mutable.ListBuffer[Long] =
    scala.collection.mutable.ListBuffer.empty[Long]
}
