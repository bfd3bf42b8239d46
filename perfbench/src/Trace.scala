package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One bench-side span: a call into an engine layer. `parent` is the id of
  * the span that caused it (-1 for a root), `req` the operation it serves.
  */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
    parent: Int, req: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Disabled, it runs the body and records nothing,
  * so the untraced run times the same calls without the bookkeeping.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)

  def span[T](name: String, req: Long, parent: Int = -1)(body: Int => T): T =
    if (!enabled) body(-1)
    else {
      val id = ids.getAndIncrement()
      val t0 = System.nanoTime()
      try body(id)
      finally spans.add(Span(id, name, t0, System.nanoTime(), parent, req))
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Self time of every span: its duration minus the union of the intervals
    * its child spans cover.
    */
  def selfMs: Map[Int, Double] = {
    val s = all
    val kids = s.filter(_.parent >= 0).groupBy(_.parent)
    s.map { p =>
      val covered = kids.getOrElse(p.id, Nil)
        .map(c => (math.max(c.startNs, p.startNs), math.min(c.endNs, p.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((acc, end), (a, b)) =>
          if (b <= end) (acc, end)
          else (acc + (b - math.max(a, end)), b)
        }._1
      p.id -> (p.endNs - p.startNs - covered) / 1e6
    }.toMap
  }
}

/** SQL metrics of an executed plan, summed over the nodes that matter to
  * the layers: file scans (by root path), in-memory scans and writes.
  */
object PlanMetrics {
  /** Every node of an executed plan, through adaptive wrappers, query
    * stages, reused exchanges, cached relations and subqueries.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case m: InMemoryTableScanExec =>
      Seq(m) ++ nodes(m.relation.cacheBuilder.cachedPlan)
    case other => Seq(other) ++ other.children.flatMap(nodes) ++
      other.subqueries.flatMap(nodes)
  }

  /** A path as a plain absolute path, whatever URI form it came in. */
  def norm(p: String): String = p.replaceFirst("^file:/+", "/").stripSuffix("/")
  def samePath(a: String, b: String): Boolean = norm(a) == norm(b)

  def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  final case class Scan(root: String, files: Long, rows: Long, bytes: Long)

  def scans(p: SparkPlan): Seq[Scan] = nodes(p).collect {
    case s: FileSourceScanExec =>
      Scan(s.relation.location.rootPaths.headOption.map(_.toString).getOrElse(""),
        metric(s, "numFiles"), metric(s, "numOutputRows"), metric(s, "filesSize"))
  }

  final case class Write(path: String, rows: Long, files: Long, bytes: Long)

  def writes(p: SparkPlan): Seq[Write] = nodes(p).collect {
    case w: DataWritingCommandExec => w.cmd match {
      case c: InsertIntoHadoopFsRelationCommand =>
        Write(c.outputPath.toString, metric(w, "numOutputRows"),
          metric(w, "numFiles"), metric(w, "numOutputBytes"))
      case _ => Write("", metric(w, "numOutputRows"),
        metric(w, "numFiles"), metric(w, "numOutputBytes"))
    }
  }

  /** Largest row count read from a cached frame with exactly these columns. */
  def cachedRows(p: SparkPlan, cols: Seq[String]): Long = nodes(p).collect {
    case m: InMemoryTableScanExec if m.output.map(_.name) == cols =>
      metric(m, "numOutputRows")
  }.foldLeft(0L)(math.max)

  def planningMs(qe: QueryExecution): Double =
    Seq("analysis", "optimization", "planning")
      .flatMap(qe.tracker.phases.get).map(_.durationMs.toDouble).sum
}

/** The three Spark listeners of the traced run. Events are kept with their
  * arrival time; [[quiesce]] waits until the listener buses have drained so
  * a phase boundary can be drawn between events.
  */
final class Listeners(spark: SparkSession) {
  private val last = new AtomicLong(System.nanoTime())
  private def touch(): Unit = last.set(System.nanoTime())

  final case class TaskRec(stage: Int, durMs: Long, runMs: Long, cpuNs: Long,
      gcMs: Long, shufRead: Long, shufWrite: Long, spill: Long, in: Long,
      out: Long, peakMem: Long, finish: Long)
  final case class QueryRec(at: Long, qe: QueryExecution)

  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val jobs = new ConcurrentLinkedQueue[Long]() // job start times, epoch ms
  val stages = new ConcurrentLinkedQueue[Long]() // stage completion times
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  val queries = new ConcurrentLinkedQueue[QueryRec]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.add(e.time); touch() }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.add(e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
      touch()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskRec(e.stageId, e.taskInfo.duration,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
        m.peakExecutionMemory, e.taskInfo.finishTime))
      touch()
    }
  }
  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = touch()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      progress.add(e.progress); touch()
    }
    override def onQueryIdle(e: QueryIdleEvent): Unit = touch()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = touch()
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      queries.add(QueryRec(System.currentTimeMillis(), qe)); touch()
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = touch()
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.streams.addListener(streamListener)
  spark.listenerManager.register(qeListener)

  /** Wait until no listener event has arrived for `quietMs` (at most 10 s). */
  def quiesce(quietMs: Long = 400): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() - last.get() < quietMs * 1000000L &&
        System.nanoTime() < deadline) Thread.sleep(50)
  }

  def remove(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
  }

  /** `engine.*` from task, stage and job events whose time lies in [t0, t1]
    * (epoch ms).
    */
  def engine(t0: Long, t1: Long): Seq[(String, Double, String)] = {
    val ts = tasks.asScala.filter(t => t.finish >= t0 && t.finish <= t1).toSeq
    val skews = ts.groupBy(_.stage).values.filter(_.size >= 2).map { g =>
      val d = g.map(_.durMs.toDouble).sorted
      d.last / math.max(1.0, Stats.median(d))
    }
    Seq(
      ("engine.executor_cpu_s", ts.map(_.cpuNs).sum / 1e9, "s"),
      ("engine.executor_run_s", ts.map(_.runMs).sum / 1e3, "s"),
      ("engine.gc_s", ts.map(_.gcMs).sum / 1e3, "s"),
      ("engine.jobs", jobs.asScala.count(t => t >= t0 && t <= t1).toDouble, "count"),
      ("engine.stages", stages.asScala.count(t => t >= t0 && t <= t1).toDouble, "count"),
      ("engine.tasks", ts.size.toDouble, "count"),
      ("engine.task_overhead_s", ts.map(t => math.max(0L, t.durMs - t.runMs)).sum / 1e3, "s"),
      ("engine.task_skew", if (skews.isEmpty) 1.0 else Stats.median(skews.toSeq), "ratio"),
      ("engine.shuffle_read_bytes", ts.map(_.shufRead).sum.toDouble, "bytes"),
      ("engine.shuffle_write_bytes", ts.map(_.shufWrite).sum.toDouble, "bytes"),
      ("engine.spill_bytes", ts.map(_.spill).sum.toDouble, "bytes"),
      ("engine.input_bytes", ts.map(_.in).sum.toDouble, "bytes"),
      ("engine.output_bytes", ts.map(_.out).sum.toDouble, "bytes"),
      ("engine.peak_exec_mem_bytes", ts.map(_.peakMem).foldLeft(0L)(math.max).toDouble, "bytes"))
  }

  def queriesIn(t0: Long, t1: Long): Seq[QueryExecution] =
    queries.asScala.filter(q => q.at >= t0 && q.at <= t1).map(_.qe).toSeq

  def progressIn(t0: Long, t1: Long): Seq[StreamingQueryProgress] =
    progress.asScala.filter { p =>
      val at = java.time.Instant.parse(p.timestamp).toEpochMilli
      at >= t0 && at <= t1
    }.toSeq
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the "inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
