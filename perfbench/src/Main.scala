package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark runner: one workload, one seed, one JVM.
  *
  * Arguments: --workload W --seed N --seconds S --trace 0|1
  *   --inputs DIR[,DIR...] (one generated input copy per set-up rep)
  *   --work DIR --out FILE --launch-ms EPOCH_MS --gen-s SECONDS
  *
  * Set-up is repeated once per input copy; the median rep is reported and
  * the last rep's state is the one measured. The timed phase then runs a
  * fixed number of operations closed-loop (one client, next operation
  * after the previous completes); the number follows from --seconds alone,
  * so a faster engine does the same work, sooner. Every operation's output
  * is checked afterwards against a reference built from the generator's
  * own files. The result, with every metric, is written as JSON to --out.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, inputs: Seq[String], work: String, out: String,
      launchMs: Long, genS: Double)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("inputs").split(",").toSeq, m("work"), m("out"), m("launch-ms").toLong,
      m("gen-s").toDouble)
  }

  def session(work: String): SparkSession = {
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Exits explicitly: Spark leaves non-daemon threads behind, so a run
    * that threw must not wait for them.
    */
  def main(argv: Array[String]): Unit = {
    val code = try { run(parse(argv)); 0 } catch {
      case e: Throwable => e.printStackTrace(); 2
    }
    System.exit(code)
  }

  /** The median op latency; with several op types, the geometric mean of
    * the per-type medians, so every type weighs the same and the figure
    * does not hop between two types' latencies from run to run. With seven
    * types, one type's median moves it by that factor's seventh root.
    */
  def typicalLatency(r: Result): Double =
    if (r.opTypes.isEmpty) Stats.median(r.opMs)
    else {
      val meds = r.opMs.zip(r.opTypes).groupBy(_._2).values.map(g => Stats.median(g.map(_._1)))
      math.exp(meds.map(math.log).sum / meds.size)
    }

  def run(args: Args): Unit = {
    val spark = session(args.work)
    val sessionS = (System.currentTimeMillis() - args.launchMs) / 1e3
    val tracer = new Tracer(args.trace)
    val listeners = if (args.trace) Some(new Listeners(spark)) else None
    val w: Workload = args.workload match {
      case "irc_ingest" => new IngestWorkload(spark, args, tracer, listeners)
      case "log_search" => new SearchWorkload(spark, args, tracer, listeners)
      case "doc_dedup" => new DedupWorkload(spark, args, tracer, listeners)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Log.note(f"session ready after $sessionS%.2f s")
    val res = w.run()
    Log.note("timed phase and checks done")
    val controlMs = Stats.median(Seq.fill(3)(hostControlMs()))
    val setupS = sessionS + args.genS + Stats.median(res.setupRepsS)
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("throughput_per_s", res.items / res.wallS, "1/s"),
      ("latency_typical_ms", typicalLatency(res), "ms"),
      ("cpu_s", res.cpuS, "s"))
    val client = Seq(
      ("client.ops", res.opMs.size.toDouble, "count"),
      ("client.items", res.items, "count"),
      ("client.wall_s", res.wallS, "s"),
      ("client.latency_p90_ms", Stats.quantile(res.opMs, 0.9), "ms"),
      ("client.cpu_s", res.cpuS, "s"),
      ("client.error_rate", res.failed.toDouble / math.max(1, res.attempted), "ratio"),
      ("setup.session_s", sessionS, "s"),
      ("setup.generate_s", args.genS, "s"),
      ("setup.build_s", Stats.median(res.setupRepsS), "s"),
      ("host.control_ms", controlMs, "ms"))
    val json = new ObjectMapper()
    def metricsObj(ms: Seq[(String, Double, String)]): ObjectNode = {
      val o = json.createObjectNode()
      ms.foreach { case (n, v, u) => num(o.putObject(n), "value", v).put("unit", u) }
      o
    }
    val result = json.createObjectNode()
      .put("correct", res.failed == 0 && res.checks.isEmpty)
      .put("attempted", res.attempted)
      .put("failed", res.failed)
    result.set[ObjectNode]("metrics", metricsObj(if (args.trace) res.layers ++ client else e2e))
    result.set[ObjectNode]("report", metricsObj(e2e ++ client))
    val checks = result.putArray("checks")
    res.checks.foreach(checks.add)
    json.writeValue(new java.io.File(args.out), result)
    if (args.trace) {
      val self = tracer.selfMs
      val trace = json.createObjectNode().put("workload", args.workload).put("seed", args.seed)
      trace.set[ObjectNode]("layers", metricsObj(res.layers))
      val byName = trace.putObject("span_self_times")
      tracer.all.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, ss) =>
        val o = byName.putObject(n).put("count", ss.size)
        num(o, "total_ms", ss.map(_.ms).sum)
        num(o, "self_ms", ss.map(s => self(s.id)).sum)
        num(o, "p50_ms", Stats.median(ss.map(_.ms)))
      }
      val spans = trace.putArray("spans")
      tracer.all.foreach { s =>
        val o = spans.addObject().put("id", s.id).put("name", s.name)
        num(o, "start_ms", s.startNs / 1e6)
        num(o, "end_ms", s.endNs / 1e6)
        o.put("parent", s.parent).put("req", s.req)
        num(o, "self_ms", self(s.id))
      }
      json.writeValue(new java.io.File(args.out.stripSuffix(".json") + "-trace.json"), trace)
    }
    listeners.foreach(_.remove())
    spark.stop()
  }

  /** A fixed CPU-bound task (a SHA-256 chain) timed in ms. It does the same
    * work on every run and every commit, so a change in it is the host's
    * speed, not the code's.
    */
  def hostControlMs(): Double = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var h = new Array[Byte](32)
    val t0 = System.nanoTime()
    var i = 0
    while (i < 2000000) { h = md.digest(h); i += 1 }
    (System.nanoTime() - t0) / 1e6
  }

  /** Puts a number, or null where it is not finite (JSON has no NaN). */
  private def num(o: ObjectNode, k: String, v: Double): ObjectNode =
    if (v.isNaN || v.isInfinite) o.putNull(k) else o.put(k, v)
}

/** What a workload hands back to [[Main]]. `opMs` holds the latency of each
  * timed operation, `items` the work units done in `wallS` seconds.
  */
final case class Result(setupRepsS: Seq[Double], opMs: Seq[Double], items: Double,
    wallS: Double, cpuS: Double, attempted: Int, failed: Int, checks: Seq[String],
    layers: Seq[(String, Double, String)], opTypes: Seq[String] = Nil)

abstract class Workload(val spark: SparkSession, val args: Main.Args,
    val tracer: Tracer, val listeners: Option[Listeners]) {
  def run(): Result

  protected val checks = mutable.ArrayBuffer.empty[String]
  protected def check(ok: Boolean, what: => String): Boolean = {
    if (!ok) checks += what
    ok
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = os.getProcessCpuTime

  /** CPU ns used so far by the JIT compiler threads, from each thread's
    * /proc stat (Linux, 100 ticks a second); 0 where that is not readable.
    * run.py keeps the compiler threads alive for the whole run
    * (-XX:-UseDynamicNumberOfCompilerThreads), so none of their time leaves
    * with an exited thread.
    */
  def jitNs: Long = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty)
    tasks.iterator.map { t =>
      try {
        val st = new String(Files.readAllBytes(Paths.get(t.getPath, "stat")))
        val name = st.substring(st.indexOf('(') + 1, st.lastIndexOf(')'))
        if (!name.matches("C[12] CompilerThre.*")) 0L
        else {
          val f = st.substring(st.lastIndexOf(')') + 2).split(" ")
          (f(11).toLong + f(12).toLong) * 10000000L
        }
      } catch { case _: java.io.IOException | _: RuntimeException => 0L }
    }.sum
  }

  /** JIT compiler CPU seconds of the last [[closedLoop]]. */
  protected var phaseJitS = 0.0

  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def timedMs(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    ms(t0)
  }

  /** Runs `op(0)`, …, `op(n - 1)` closed-loop and returns per-op
    * latencies, wall seconds, CPU seconds, and the phase's start and end
    * (epoch ms). The CPU is the process's less its JIT compiler threads':
    * in a run this short the compiler takes up to half the process CPU, in
    * amounts that hop from run to run with what the JVM happens to compile
    * when. The compiler's share is kept in [[phaseJitS]]. `op` returns its own
    * latency in ms, so a client can keep bookkeeping that follows a
    * request (checks, cache release) off the request clock.
    */
  def closedLoop(n: Int)(op: Int => Double): (Seq[Double], Double, Double, Long, Long) = {
    val lat = mutable.ArrayBuffer.empty[Double]
    Log.note("timed phase starts")
    val c0 = cpuNs
    val j0 = jitNs
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    (0 until n).foreach { i =>
      val ci = cpuNs
      lat += op(i)
      Log.note(f"op $i: ${lat.last}%.0f ms, process CPU ${(cpuNs - ci) / 1e6}%.0f ms")
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val jit = jitNs - j0
    phaseJitS = jit / 1e9
    (lat.toSeq, wall, (cpuNs - c0 - jit) / 1e9, w0, System.currentTimeMillis())
  }

  /** `jvm.*` over the whole process. */
  def jvm(gcBefore: Long): Seq[(String, Double, String)] = {
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    Seq(("jvm.heap_peak_mb", heapPeak / 1048576.0, "MiB"),
      ("jvm.gc_s", (gcMs - gcBefore) / 1e3, "s"),
      ("jvm.jit_cpu_s", phaseJitS, "s"),
      ("jvm.threads_peak", ManagementFactory.getThreadMXBean.getPeakThreadCount.toDouble,
        "count"))
  }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  def dirStats(dir: String): (Long, Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L, 0L)
    else {
      val all = Files.walk(p).iterator().asScala.toSeq
      val files = all.filter(f => Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(".parquet"))
      val parts = all.filter(f => Files.isDirectory(f) &&
        f.getFileName.toString.startsWith("day="))
      (files.size.toLong, parts.size.toLong, files.map(Files.size).sum)
    }
  }

  /** Noop-sink time of `df`, in ms (the layer alone, no writes). */
  def noopMs(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.mode("overwrite").format("noop").save()
    ms(t0)
  }

  /** Every per-layer metric name, so each workload reports the full set; a
    * layer a workload leaves idle reads 0.
    */
  def zeroLayers: mutable.LinkedHashMap[String, (Double, String)] = {
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    Layers.all.foreach { case (n, u) => m(n) = (0.0, u) }
    m
  }
}

object Layers {
  val all: Seq[(String, String)] = Seq(
    "ingest.lines_in" -> "count", "ingest.records_out" -> "count",
    "ingest.keep_ratio" -> "ratio", "ingest.parse_ms_per_klines" -> "ms",
    "streaming.batches" -> "count", "streaming.trigger_ms_p50" -> "ms",
    "streaming.add_batch_ms_p50" -> "ms", "streaming.wal_commit_ms_p50" -> "ms",
    "streaming.commit_offsets_ms_p50" -> "ms", "streaming.query_planning_ms_p50" -> "ms",
    "streaming.get_batch_ms_p50" -> "ms", "streaming.state_rows" -> "count",
    "streaming.state_mem_bytes" -> "bytes", "streaming.dup_drop_ratio" -> "ratio",
    "streaming.rows_dropped_by_watermark" -> "count",
    "sinks.upsert_ms_p50" -> "ms", "sinks.upsert_ms_max" -> "ms",
    "sinks.upsert_share" -> "ratio", "sinks.probe_rows_read" -> "count",
    "sinks.rows_written" -> "count", "sinks.files_written" -> "count",
    "sinks.bytes_written" -> "bytes", "sinks.files_total" -> "count",
    "sinks.partitions_total" -> "count", "sinks.rows_per_file" -> "ratio",
    "search.filter_channel_range_ms_p50" -> "ms", "search.filter_nick_ms_p50" -> "ms",
    "search.query_string_ms_p50" -> "ms", "search.fulltext_channel_ms_p50" -> "ms",
    "search.fulltext_corpus_ms_p50" -> "ms", "search.facets_ms_p50" -> "ms",
    "search.search_after_ms_p50" -> "ms",
    "search.filter_ms_p50" -> "ms", "search.fulltext_ms_p50" -> "ms",
    "search.files_read_p50" -> "count", "search.rows_scanned_per_row_returned" -> "ratio",
    "search.jobs_per_request" -> "count", "search.planning_ms_p50" -> "ms",
    "caches.bytes_cached_peak" -> "bytes", "caches.release_ms_p50" -> "ms",
    "dedup.step_ms_p50" -> "ms", "dedup.step_ms_last_over_first" -> "ratio",
    "dedup.candidate_pairs" -> "count", "dedup.pairs_out" -> "count",
    "dedup.pair_yield" -> "ratio", "dedup.index_bytes" -> "bytes",
    "dedup.index_read_bytes_per_step" -> "bytes", "dedup.planted_recall" -> "ratio",
    "functions.minhash_ms_per_kdocs" -> "ms", "functions.keyv2_ms_per_krows" -> "ms",
    "engine.executor_cpu_s" -> "s", "engine.executor_run_s" -> "s", "engine.gc_s" -> "s",
    "engine.jobs" -> "count", "engine.stages" -> "count", "engine.tasks" -> "count",
    "engine.task_overhead_s" -> "s", "engine.task_skew" -> "ratio",
    "engine.shuffle_read_bytes" -> "bytes", "engine.shuffle_write_bytes" -> "bytes",
    "engine.spill_bytes" -> "bytes", "engine.input_bytes" -> "bytes",
    "engine.output_bytes" -> "bytes", "engine.peak_exec_mem_bytes" -> "bytes",
    "jvm.heap_peak_mb" -> "MiB", "jvm.gc_s" -> "s", "jvm.jit_cpu_s" -> "s",
    "jvm.threads_peak" -> "count")
}

/** Progress lines for the run log (stdout of the runner JVM). */
object Log {
  private val start = ManagementFactory.getRuntimeMXBean.getStartTime
  def note(msg: String): Unit =
    println(f"[perfbench] +${(System.currentTimeMillis() - start) / 1e3}%.2fs $msg")
}
