package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SortExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Closed-loop driver for one benchmark run: one client, one query at a
  * time, in one JVM on `local[cores]` with `cores` shuffle partitions.
  *
  * Arguments are `key=value` pairs:
  *  - `mode`     `queries` (registered `SparkEntry.queries`, written to the
  *               digest sink) or `mapreduce` (the `graft.core.MapReduce`
  *               jobs, written through `writeMergedText`)
  *  - `cores`    local-mode task slots and shuffle partitions
  *  - `data`     the input directory
  *  - `queries`  comma-separated query or job names, in run order
  *  - `warmup`   untimed (but checked) passes over the list; then timed
  *               passes until `seconds` of timed passes have run, at least
  *               `min_passes` of them; once the JVM has run `max_seconds`,
  *               no pass after the `min_passes`-th starts
  *  - `trace`    `1`: passes 1, 2, 5, 6, ... are traced and record spans
  *  - `out`      the result file (JSON); `mrout` the mapreduce output root
  *
  * The run is timed from outside graft: a [[Tracer]] (one `SparkListener`
  * plus one `QueryExecutionListener`, both Spark public APIs) counts what
  * each layer did between query boundaries. Output checking happens in
  * the runner, from the digests and files this writes.
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val mode = opt("mode")
    val data = opt("data")
    val names = opt("queries").split(",").toSeq.filter(_.nonEmpty)
    val seconds = opt("seconds").toDouble
    val minPasses = opt("min_passes").toInt
    val warmupPasses = opt("warmup").toInt
    val maxSeconds = opt("max_seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionReadyMs = System.currentTimeMillis()
    val tracer = new Tracer
    spark.sparkContext.addSparkListener(tracer)
    spark.listenerManager.register(tracer)

    val queries = if (mode == "mapreduce") null else graft.SparkEntry.queries
    val out = new Json
    val samples = ArrayBuffer.empty[String]
    val passes = ArrayBuffer.empty[String]
    // untimed warm-up passes (pass -1: JIT, codegen and the file-listing
    // caches fill here), then timed passes 0, 1, ... for `seconds`
    val runStart = System.nanoTime()
    var timedNs = 0L
    var firstQueryMs = 0L
    def more(pass: Int) = pass < 0 || pass < minPasses ||
      (timedNs < seconds * 1e9 && (System.nanoTime() - runStart) / 1e9 < maxSeconds)
    val plan = Iterator.fill(warmupPasses)(-1) ++ Iterator.from(0)
    for (pass <- plan.takeWhile(more)) {
      if (pass == 0) firstQueryMs = System.currentTimeMillis()
      // traced passes in the pattern untraced, traced, traced, untraced
      // (ABBA), so warm-up drift cancels out of the traced-minus-untraced gap
      val tracedPass = traced && (pass % 4 == 1 || pass % 4 == 2)
      val p0 = System.currentTimeMillis()
      val pt = System.nanoTime()
      for (name <- names) {
        sweep(spark)
        tracer.drain(spark)
        val qid = s"$pass/$name"
        tracer.begin(qid, tracedPass)
        val t0 = System.nanoTime()
        val t0ms = System.currentTimeMillis()
        val cpu0 = threads.getCurrentThreadCpuTime
        var buildNs = 0L
        var buildEndMs = t0ms
        var err: String = null
        try {
          if (mode == "mapreduce") {
            val ds = mrJob(spark, name, data)
            buildNs = System.nanoTime() - t0; buildEndMs = System.currentTimeMillis()
            tracer.endBuild()
            graft.core.MapReduce.writeMergedText(ds, s"${opt("mrout")}/$pass-$name")
          } else {
            val df = queries(name)(spark, data)
            buildNs = System.nanoTime() - t0; buildEndMs = System.currentTimeMillis()
            tracer.endBuild()
            df.write.format(classOf[DigestSink].getName).option("id", qid)
              .mode("overwrite").save()
          }
        } catch { case e: Throwable =>
          err = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        }
        val latNs = System.nanoTime() - t0
        val t1ms = System.currentTimeMillis()
        val driverCpuNs = threads.getCurrentThreadCpuTime - cpu0
        tracer.drain(spark)
        val c = tracer.end()
        val d = DigestSink.take(qid)
        val leaked = rddBlocks(spark)
        samples += out.obj(
          "q" -> out.str(name), "pass" -> pass, "traced" -> tracedPass,
          "lat_s" -> latNs / 1e9, "build_ms" -> buildNs / 1e6,
          "driver_cpu_s" -> driverCpuNs / 1e9,
          "t0" -> t0ms, "tb" -> buildEndMs, "t1" -> t1ms,
          "leaked_blocks" -> leaked,
          "rows" -> d.map(_._1).getOrElse(-1L),
          "hash" -> out.str(d.map(x => java.lang.Long.toUnsignedString(x._2, 16)).getOrElse("")),
          "err" -> (if (err == null) "null" else out.str(err)),
          "c" -> out.obj(c.toSeq: _*))
      }
      val wallNs = System.nanoTime() - pt
      if (pass >= 0) timedNs += wallNs
      passes += out.obj("pass" -> pass, "traced" -> tracedPass,
        "wall_s" -> wallNs / 1e9, "t0" -> p0, "t1" -> System.currentTimeMillis())
    }
    sweep(spark)
    val result = out.obj(
      "session_ready_ms" -> sessionReadyMs, "first_query_ms" -> firstQueryMs,
      "vm_hwm_kb" -> vmHwmKb(), "passes" -> out.arr(passes.toSeq),
      "samples" -> out.arr(samples.toSeq), "spans" -> out.arr(tracer.spans(out)))
    Files.writeString(Paths.get(opt("out")), result + "\n")
    spark.stop()
  }

  private def mrJob(spark: SparkSession, name: String, dir: String) = {
    import graft.core.MapReduce._
    val in = textFiles(spark, s"$dir/files")
    name match {
      case "distinctTokens" => distinctTokens(spark, in)
      case "wordCount" => wordCount(spark, in)
      case "wordCountNReduce" => wordCountNReduce(spark, in, 8)
    }
  }

  /** Cached RDD blocks held right now: after a query, what it left behind. */
  private def rddBlocks(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum

  /** Blocking sweep of the catalog cache and every persistent RDD. */
  private def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  private val threads = ManagementFactory.getThreadMXBean

  private def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
}

/** Per-query counters and spans, taken at Spark's public listener APIs.
  *
  * Untraced, only task input bytes and task CPU time are counted (for
  * `input_mb_per_s` and `query_cpu_s`). Traced, every layer's counters
  * accumulate between [[begin]] and [[end]], and each QueryExecution, job
  * and stage becomes a span carrying the query's id and its parent's id.
  */
final class Tracer extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  @volatile private var on = false
  @volatile private var buildEnd = Long.MaxValue
  @volatile private var qid = ""
  private val c = scala.collection.concurrent.TrieMap.empty[String, AtomicLong]
  private val spanBuf = ArrayBuffer.empty[(String, String, String, String, String, Long, Long)]
  private val cached = scala.collection.concurrent.TrieMap.empty[String, Long]
  private val cachedNow = new AtomicLong
  private val cachedPeak = new AtomicLong
  private var gc0 = 0L
  private val jobStart = scala.collection.concurrent.TrieMap.empty[Int, (Long, String)]
  private val stageJob = scala.collection.concurrent.TrieMap.empty[Int, Int]
  private val sqlStart = scala.collection.concurrent.TrieMap.empty[Long, (Long, String)]

  private def add(k: String, v: Long): Unit =
    c.getOrElseUpdate(k, new AtomicLong).addAndGet(v)
  private def span(kind: String, id: String, parent: String, name: String,
      t0: Long, t1: Long): Unit =
    spanBuf.synchronized { spanBuf += ((qid, kind, id, parent, name, t0, t1)) }

  /** Parent of a span that started at `t0` outside any QueryExecution. */
  private def caller(t0: Long): String = if (t0 <= buildEnd) "build" else "query"

  def begin(id: String, traced: Boolean): Unit = {
    qid = id; on = traced; buildEnd = Long.MaxValue
    c.clear()
    cachedPeak.set(cachedNow.get)
    gc0 = jvmGcMs()
  }
  def endBuild(): Unit = buildEnd = System.currentTimeMillis()
  def end(): Map[String, Long] = {
    if (on) {
      add("jvm_gc_ms", jvmGcMs() - gc0)
      add("cached_peak_bytes", cachedPeak.get)
    }
    on = false
    c.map { case (k, v) => k -> v.get }.toMap
  }

  private def jvmGcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethods
      .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
      .getOrElse(throw new IllegalStateException("LiveListenerBus.waitUntilEmpty not found"))
      .invoke(bus)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
    add("jobs", 1)
    if (e.time <= buildEnd) add("build_jobs", 1)
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    jobStart(e.jobId) = (e.time, exec.map(x => s"qe:$x").getOrElse(caller(e.time)))
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (on)
    jobStart.remove(e.jobId).foreach { case (t0, parent) =>
      span("job", s"job:${e.jobId}", parent, s"job ${e.jobId}", t0, e.time)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) {
    val s = e.stageInfo
    add("stages", 1)
    for (t0 <- s.submissionTime; t1 <- s.completionTime)
      span("stage", s"stage:${s.stageId}", s"job:${stageJob.getOrElse(s.stageId, -1)}",
        s.name, t0, t1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      add("input_bytes", m.inputMetrics.bytesRead)
      add("cpu_ns", m.executorCpuTime)
      if (on) {
        add("tasks", 1)
        add("input_records", m.inputMetrics.recordsRead)
        add("output_bytes", m.outputMetrics.bytesWritten)
        add("output_records", m.outputMetrics.recordsWritten)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle_write_records", m.shuffleWriteMetrics.recordsWritten)
        add("shuffle_write_ns", m.shuffleWriteMetrics.writeTime)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        add("run_ms", m.executorRunTime)
        add("executor_gc_ms", m.jvmGCTime)
        add("deser_ms", m.executorDeserializeTime)
        add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  /** Running total of cached RDD block bytes (memory + disk) and its peak. */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD) {
      val key = s"${i.blockManagerId.executorId}/${i.blockId.name}"
      val size = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
      val prev = cached.put(key, size).getOrElse(0L)
      if (size == 0L) cached.remove(key)
      val now = cachedNow.addAndGet(size - prev)
      cachedPeak.accumulateAndGet(now, math.max)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (on) execution(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    if (on) execution(qe)

  /** Catalyst phase times and final-plan shape of one QueryExecution. */
  private def execution(qe: QueryExecution): Unit = {
    add("executions", 1)
    val ph = qe.tracker.phases
    for ((k, name) <- Seq("analysis" -> "analysis_ms", "optimization" -> "optimization_ms",
        "planning" -> "planning_ms"))
      add(name, ph.get(k).map(_.durationMs).getOrElse(0L))
    val plan = qe.executedPlan
    add("exchanges", collectWithSubqueries(plan) { case x: ShuffleExchangeLike => x }.size)
    add("sorts", collectWithSubqueries(plan) { case x: SortExec => x }.size)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = if (on) e match {
    case s: SparkListenerSQLExecutionStart =>
      sqlStart(s.executionId) = (s.time, s.description.take(80))
    case s: SparkListenerSQLExecutionEnd =>
      sqlStart.remove(s.executionId).foreach { case (t0, d) =>
        span("qe", s"qe:${s.executionId}", caller(t0), d, t0, s.time)
      }
    case _ =>
  }

  /** Spans as JSON objects: query, build, qe, job and stage, all carrying the
    * query id they ran under, with the id of the span that caused them.
    * Query and build spans come from the samples. */
  def spans(j: Json): Seq[String] = spanBuf.synchronized {
    spanBuf.toSeq.map { case (q, kind, id, parent, name, t0, t1) =>
      j.obj("q" -> j.str(q), "kind" -> j.str(kind), "id" -> j.str(id),
        "parent" -> j.str(parent), "name" -> j.str(name), "t0" -> t0, "t1" -> t1)
    }
  }
}

/** Minimal JSON writer: values are pre-rendered strings or numbers. */
final class Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => s"${str(k)}:${v}" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
