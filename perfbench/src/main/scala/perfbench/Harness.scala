package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One JVM of a benchmark run, driven by `perfbench/run.py`.
  *
  * Arguments are `key=value` pairs. `mode=setup` only builds a session and
  * records how long that took from the launch time the caller passed;
  * `mode=run` then also runs the workload: one cold pass and warm passes
  * over the registry queries, each pass in its own seeded order, one
  * query at a time, then one output dump per query for the oracle check,
  * outside the timed passes. Everything measured goes to the `out` file as
  * one JSON object; nothing is derived here that `run.py` can derive.
  *
  * The harness touches the library only from outside: it times the calls
  * into `graft.core.Sessions`, each registry function, `df.queryExecution`
  * and the `noop` write, and reads Spark's listeners, JVM MX beans and
  * `/proc/self`.
  */
object Harness {
  private type QueryFn = (SparkSession, String) => DataFrame

  private val base = (java.time.Instant.now(), System.nanoTime())
  /** Epoch milliseconds with sub-millisecond digits, on one clock. */
  def nowMs(): Double =
    base._1.toEpochMilli + base._1.getNano % 1000000 / 1e6 + (System.nanoTime() - base._2) / 1e6

  /** The session `graft.Bench` measures with. */
  def newSession(k: Int): SparkSession = {
    val s = graft.core.Sessions.builder(s"local[$k]", k.toString)
      .config("spark.sql.files.maxPartitionBytes", "2m")
      .config("spark.sql.files.openCostInBytes", "262144")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val k = o("k").toInt
    val t0 = System.nanoTime()
    val spark = newSession(k)
    val created = (System.nanoTime() - t0) / 1e9
    val setup = Map("setup_s" -> (nowMs() - o("launch_ms").toDouble) / 1000,
      "session_create_s" -> created)
    val result =
      if (o("mode") == "setup") setup
      else setup ++ new Run(spark, o).go()
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    Files.writeString(Paths.get(o("out")),
      json.writeValueAsString(result + ("peak_rss_kb" -> procStatusKb("VmHWM"))))
  }

  def procStatusKb(field: String): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(field + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  /** (rchar, wchar) from /proc/self/io. */
  def procIo(): (Long, Long) = {
    val m = Files.readAllLines(Paths.get("/proc/self/io")).asScala
      .map(_.split(":\\s*")).collect { case Array(key, v) => key -> v.trim.toLong }.toMap
    (m.getOrElse("rchar", -1L), m.getOrElse("wchar", -1L))
  }

  /** JIT ms, GC ms and whole-stage codegen compile count so far. */
  def jvmCounters(): (Long, Long, Long) = (
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  /** Entries in the session's CacheManager (a private field; -1 if unreadable). */
  def cacheEntries(spark: SparkSession): Int =
    try {
      val cm = spark.sharedState.cacheManager
      val f = cm.getClass.getDeclaredField("cachedData")
      f.setAccessible(true)
      f.get(cm).asInstanceOf[Seq[_]].size
    } catch { case NonFatal(_) => -1 }

  private final class Run(spark0: SparkSession, o: Map[String, String]) {
    private var spark = spark0
    private val k = o("k").toInt
    private val data = o("data")
    private val traced = o("trace") == "1"
    private val rng = new scala.util.Random(o("seed").toLong)
    private val recorder = new Recorder
    private val registry = graft.SparkEntry.queries
    private val queries: Seq[(String, QueryFn)] = o("queries").split(",").toSeq.map { p =>
      registry.keys.filter(n => n == p || n.startsWith(p + "_")).toSeq match {
        case Seq(name) => name -> registry(name)
        case found => sys.error(s"query '$p' matches ${found.size} registry entries")
      }
    }
    private val execs = mutable.ArrayBuffer.empty[Map[String, Any]]
    private val passes = mutable.ArrayBuffer.empty[Map[String, Any]]

    /** The library layer a registry function belongs to, from its class. */
    private def layerOf(fn: QueryFn): String =
      fn.getClass.getName.split('.') match {
        case Array("graft", layer, _*) => layer
        case _ => "unknown"
      }

    /** A failure that stopped the context gets a new session, as in
      * `graft.Bench`; the rest of a traced pass then goes untraced.
      */
    private def ensureSession(): Unit =
      if (spark.sparkContext.isStopped) spark = newSession(k)

    private def sweep(): Unit =
      if (!spark.sparkContext.isStopped) graft.core.Sessions.sweepPersistedState(spark)

    /** One execution: build, (traced: plan), noop write, sweep. */
    private def execute(name: String, fn: QueryFn, pass: Int, kind: String,
        tracePass: Boolean): Map[String, Any] = {
      ensureSession()
      val id = s"${Recorder.GroupPrefix}$pass:$name"
      val sc = spark.sparkContext
      sc.setJobGroup(id, name, interruptOnCancel = false)
      recorder.current = id
      val (jit0, gc0, cg0) = if (tracePass) jvmCounters() else (0L, 0L, 0L)
      val (r0, w0) = if (tracePass) procIo() else (0L, 0L)
      var phases = Map.empty[String, Double]
      var error: String = null
      val start = nowMs()
      var built, planned = start
      try {
        val df = fn(spark, data)
        built = nowMs(); planned = built
        if (tracePass) {
          df.queryExecution.executedPlan
          phases = df.queryExecution.tracker.phases.map { case (p, s) => p -> s.durationMs / 1000.0 }
          planned = nowMs()
        }
        df.write.format("noop").mode("overwrite").save()
      } catch {
        case NonFatal(e) =>
          error = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
          System.err.println(s"[perfbench] $name failed: $error")
      }
      val executed = nowMs()
      val swept = if (tracePass && !sc.isStopped)
        Map("swept_rdds" -> sc.getPersistentRDDs.size, "swept_cache_entries" -> cacheEntries(spark))
      else Map.empty
      sweep()
      val end = nowMs()
      recorder.current = null
      if (!sc.isStopped) sc.clearJobGroup()
      val counters = if (tracePass) {
        val (jit1, gc1, cg1) = jvmCounters()
        val (r1, w1) = procIo()
        Map("jit_ms" -> (jit1 - jit0), "gc_ms" -> (gc1 - gc0), "codegen_compiles" -> (cg1 - cg0),
          "rchar" -> (r1 - r0), "wchar" -> (w1 - w0), "plan_phases_s" -> phases) ++ swept
      } else Map.empty
      Map("id" -> id, "query" -> name, "layer" -> layerOf(fn), "pass" -> pass, "kind" -> kind,
        "traced" -> tracePass, "ok" -> (error == null), "error" -> error,
        "start" -> start, "built" -> built, "planned" -> planned, "executed" -> executed,
        "end" -> end) ++ counters
    }

    private def runPass(pass: Int, kind: String, tracePass: Boolean): Unit = {
      val order = rng.shuffle(queries)
      if (tracePass) {
        spark.sparkContext.addSparkListener(recorder)
        spark.streams.addListener(recorder.streaming)
      }
      val start = nowMs()
      val mine = order.map { case (name, fn) => execute(name, fn, pass, kind, tracePass) }
      val end = nowMs()
      if (tracePass && !spark.sparkContext.isStopped) {
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(recorder)
        spark.streams.removeListener(recorder.streaming)
      }
      execs ++= mine.map(e => if (tracePass) e ++ recorder.forExec(e("id").toString) else e)
      // every pass starts from a collected heap; what survives the
      // collection is the pass's live heap
      System.gc()
      val liveHeap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      passes += Map("pass" -> pass, "kind" -> kind, "traced" -> tracePass,
        "start" -> start, "end" -> end, "live_heap_bytes" -> liveHeap,
        "order" -> order.map(_._1))
    }

    def go(): Map[String, Any] = {
      val seconds = o("seconds").toDouble
      runPass(0, "cold", traced)
      // warm passes: whole passes for at least `seconds`. A traced run
      // interleaves untraced and traced passes as U T T U U T..., so a
      // warm-up trend falls on both sides alike, and stops after as many
      // of each
      val warmStart = nowMs()
      var pass = 1
      def elapsed = (nowMs() - warmStart) / 1000
      while (pass == 1 || (traced && pass % 2 == 0) || elapsed < seconds) {
        runPass(pass, "warm", traced && pass % 4 >= 2)
        pass += 1
      }
      val verifyStart = nowMs()
      val checks = verify()
      val verifyS = (nowMs() - verifyStart) / 1000
      val oracleSql = graft.SparkEntry.oracleSql
      Map("k" -> k, "data" -> data, "queries" -> queries.map(_._1),
        "java_version" -> System.getProperty("java.version"),
        "spark_version" -> spark.version,
        "confs" -> spark.conf.getAll,
        "verify_s" -> verifyS,
        "oracle_sql" -> queries.map { case (n, _) => n -> oracleSql.get(n).orNull }.toMap,
        "passes" -> passes.toSeq, "executions" -> execs.toSeq, "verify" -> checks,
        "unattributed_jobs" -> recorder.unattributedJobs)
    }

    /** Each query's output as one parquet file for the oracle compare,
      * plus its analyzed-plan fingerprint; outside every timed pass.
      */
    private def verify(): Map[String, Any] = {
      val dir = o("dump")
      queries.sortBy(_._1).map { case (name, fn) =>
        ensureSession()
        val r =
          try {
            val df = fn(spark, data)
            df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
            Map("ok" -> true, "plan_fp" -> graft.PerfbenchAccess.planFp(df))
          } catch {
            case NonFatal(e) =>
              Map("ok" -> false, "error" -> s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
          }
        sweep()
        name -> r
      }.toMap
    }
  }
}
