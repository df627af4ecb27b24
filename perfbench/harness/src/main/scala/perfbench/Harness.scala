package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.state.StateStore

/** Closed-loop driver for one benchmark run: one client issues the given
  * queries one after another on `local[cores]`, through the program's public
  * entry points only (`SparkEntry.queries`, a full-materialisation action,
  * `df.queryExecution.tracker` and listeners registered here).
  *
  * Phases of a run:
  *  1. `rounds` set-up rounds. Each builds a fresh session, runs the
  *     workload's fixture ensure calls and one untimed pass over the list.
  *     The first round's pass writes every query's output under
  *     `<runDir>/out` for the digest check; the others use the timed action.
  *  2. Timed passes over the list with tracing off until `seconds` elapse;
  *     with `trace`, untraced and traced passes alternate for twice as long,
  *     then one pass runs on a `local[1]` session for the parallel speed-up.
  *  4. The last session is stopped, the heap left behind is measured after
  *     full collections, and `<runDir>/result.json` gets every raw sample;
  *     all metric math happens in `perfbench/metrics.py`.
  *
  * Usage: perfbench.Harness <runDir> <dataDir> <workload> <q1,q2,...>
  *                          <seconds> <trace 0|1> <rounds> */
object Harness {
  private val cores = Runtime.getRuntime.availableProcessors

  def main(args: Array[String]): Unit = {
    val runDir = new File(args(0)).getAbsolutePath
    val dataDir = args(1)
    new File(runDir).mkdirs()
    val workload = args(2)
    val names = args(3).split(",").toSeq
    val seconds = args(4).toDouble
    val traced = args(5) == "1"
    val rounds = args(6).toInt
    val clock = new Clock
    val res = new Json.Obj

    // -- set-up rounds ------------------------------------------------------
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val setupRounds = new Json.Arr
    val ensureTimes = new Json.Arr
    var spark: SparkSession = null
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    for (r <- 1 to rounds) {
      val t0 = if (r == 1) jvmStartMs else clock.nowMs
      if (spark != null) spark.stop()
      spark = Session.build(cores, runDir, s"r$r")
      val e0 = clock.nowMs
      Fixtures.ensure(spark, workload, dataDir)
      ensureTimes.add((clock.nowMs - e0) / 1e3)
      names.foreach { n =>
        val (ok, _) =
          if (r == 1) runQuery(spark, n, dataDir, df =>
            df.coalesce(1).write.mode("overwrite").parquet(s"$runDir/out/$n"), clock)
          else runQuery(spark, n, dataDir, noop, clock)
        if (!ok) failed += n
      }
      setupRounds.add((clock.nowMs - t0) / 1e3)
    }
    res.put("setup_rounds_s", setupRounds)
    res.put("ensure_rounds_s", ensureTimes)

    // -- timed passes ---------------------------------------------------------
    val passes = new Json.Arr
    def run(tracer: Option[Tracer] = None): Json.Obj =
      pass(spark, names, dataDir, clock, failed, tracer)
    if (!traced) timed(clock, seconds)(passes.add(run()))
    else {
      // traced and untraced passes alternate, in both orders, so that the
      // run's own warm-up does not bias the tracing overhead
      val tracer = new Tracer(clock)
      val tracedPasses = new Json.Arr
      def withTrace(): Unit = {
        tracer.install(spark)
        tracedPasses.add(run(Some(tracer)))
        tracer.remove(spark)
      }
      var i = 0
      timed(clock, 2 * seconds) {
        if (i % 2 == 0) { passes.add(run()); withTrace() }
        else { withTrace(); passes.add(run()) }
        i += 1
      }
      res.put("traced_passes", tracedPasses)
      res.put("trace", tracer.json)
      // single-threaded baseline: same config and list, one worker thread
      spark.stop()
      spark = Session.build(1, runDir, "serial")
      Fixtures.ensure(spark, workload, dataDir)
      res.put("serial_passes", Json.Arr(run()))
    }
    res.put("passes", passes)

    res.put("failed", Json.Arr(failed.toSeq.map(Json.Str(_)): _*))
    res.put("environment", environment(spark, runDir))
    res.put("oracles", oracles(names, dataDir))
    // what the run leaves on the heap once its sessions are gone: process-
    // wide memos and anything else that outlives a session
    spark.stop()
    res.put("retained_heap_mib", retainedHeapMib())
    Files.writeString(Paths.get(runDir, "result.json"), res.render)
  }

  /** Heap in use after full collections. A collection only makes Spark's
    * ContextCleaner queue the broadcasts and shuffles whose owners died;
    * it frees them on its own thread, so collect again until the figure
    * settles. */
  private def retainedHeapMib(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def collect(): Double = {
      System.gc()
      Thread.sleep(300)
      System.gc()
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = collect()
    var cur = collect()
    var i = 0
    while (i < 5 && math.abs(cur - prev) > 0.01 * prev) { prev = cur; cur = collect(); i += 1 }
    cur
  }

  private val noop: DataFrame => Unit =
    _.write.format("noop").mode("overwrite").save()

  /** One query: build through the program's entry and force every output
    * column with `action`; returns whether it succeeded and its seconds.
    * Afterwards, outside its time, undo what it left behind as graft.Bench
    * does (cached partitions, loaded state stores), and delete the
    * streaming checkpoints it wrote: the program never removes them and
    * their root may be tmpfs. Streaming entries drain their stream inside
    * the entry call. */
  private def runQuery(spark: SparkSession, name: String, dataDir: String,
                       action: DataFrame => Unit, clock: Clock,
                       tracer: Option[Tracer] = None): (Boolean, Double) = {
    val ckpt = new File(graft.streaming.StreamSource.ckptRoot)
    val before = Option(ckpt.list()).fold(Set.empty[String])(_.toSet)
    val t0 = clock.nowMs
    def run(): Boolean =
      try {
        val df = tracer.fold(graft.SparkEntry.queries(name)(spark, dataDir))(
          _.span("driver", "entry")(graft.SparkEntry.queries(name)(spark, dataDir)))
        tracer.foreach(_.trackerOf(df))
        tracer.fold(action(df))(_.span("driver", "action")(action(df)))
        true
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $name failed: ${e.getClass.getName}: " +
            String.valueOf(e.getMessage).take(300))
          false
      }
    val ok = tracer.fold(run())(_.query(name)(run()))
    val seconds = (clock.nowMs - t0) / 1e3
    spark.catalog.clearCache()
    StateStore.stop()
    Option(ckpt.list()).foreach(_.filterNot(before).foreach(n => deleteTree(new File(ckpt, n))))
    (ok, seconds)
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Runs `body` until `seconds` have elapsed, at least once. */
  private def timed(clock: Clock, seconds: Double)(body: => Unit): Unit = {
    val start = clock.nowMs
    do body while (clock.nowMs - start < seconds * 1e3)
  }

  /** One pass over `names`: each sample is (query, seconds, ok), and the
    * pass records its wall time, the steps between queries included. */
  private def pass(spark: SparkSession, names: Seq[String], dataDir: String, clock: Clock,
                   failed: scala.collection.mutable.Set[String],
                   tracer: Option[Tracer]): Json.Obj = {
    val p0 = clock.nowMs
    val samples = new Json.Arr
    names.foreach { n =>
      val (ok, seconds) = runQuery(spark, n, dataDir, noop, clock, tracer)
      if (!ok) failed += n
      samples.add(Json.Obj("query" -> Json.Str(n),
        "s" -> Json.Num(seconds), "ok" -> Json.Bool(ok)))
    }
    Json.Obj("wall_s" -> Json.Num((clock.nowMs - p0) / 1e3), "samples" -> samples)
  }

  private def environment(spark: SparkSession, runDir: String): Json.Obj = {
    val ckpt = graft.streaming.StreamSource.ckptRoot
    Json.Obj(
      "nproc" -> Json.Num(cores),
      "max_heap_mib" -> Json.Num(Runtime.getRuntime.maxMemory / 1048576.0),
      "checkpoint_root" -> Json.Str(ckpt),
      "checkpoint_root_tmpfs" -> Json.Bool(ckpt.startsWith("/dev/shm")),
      "java" -> Json.Str(System.getProperty("java.version")),
      "spark" -> Json.Str(spark.version),
      "session_config" -> Json.Obj(Session.config(cores, runDir, "<round>").map {
        case (k, v) => k -> Json.Str(v)
      }: _*))
  }

  /** Oracle SQL of each query; the TPC-DS oracles are rewritten from the
    * correctness-scale path to the tables this run generated. */
  private def oracles(names: Seq[String], dataDir: String): Json.Obj = {
    val from = graft.tpcds.TpcdsData.OraclePath
    val to = graft.tpcds.TpcdsData.rootFor(dataDir)
    val all = graft.SparkEntry.oracleSql
    Json.Obj(names.distinct.flatMap(n => all.get(n).map(sql =>
      n -> Json.Obj("text" -> Json.Str(sql), "sql" -> Json.Str(sql.replace(from, to))))): _*)
  }
}

/** Wall clock in epoch milliseconds with nanoTime resolution, so harness
  * spans and listener timestamps share one time base. */
final class Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** The one session configuration of every benchmark session, as graft.Bench
  * builds it (Hive catalog with a per-session Derby metastore, WARN logs),
  * except that the metastore, warehouse and scratch space live in the run
  * directory. Shuffle partitions stay at the core count of the host on the
  * `local[1]` session too, so its plans are the same. */
object Session {
  def config(cores: Int, runDir: String, tag: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> Runtime.getRuntime.availableProcessors.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.catalogImplementation" -> "hive",
    "spark.hadoop.javax.jdo.option.ConnectionURL" ->
      s"jdbc:derby:;databaseName=$runDir/metastore-$tag;create=true",
    "spark.sql.warehouse.dir" -> s"$runDir/warehouse-$tag",
    "spark.local.dir" -> s"$runDir/local")

  def build(cores: Int, runDir: String, tag: String): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val b = SparkSession.builder()
    config(cores, runDir, tag).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** The fixture ensure calls each workload's queries depend on, run before
  * the first query of every session (the warm-ups graft.Bench runs). */
object Fixtures {
  def ensure(spark: SparkSession, workload: String, dataDir: String): Unit = {
    graft.Tables.registerAll(spark, dataDir)
    workload match {
      case "tpcds" => graft.tpcds.TpcdsData.ensure(spark, dataDir)
      case "stream_ooo" => graft.streaming.OooReplay.prepare(spark, dataDir)
      case _ => ()
    }
  }
}
