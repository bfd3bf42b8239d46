package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.io.Source
import scala.jdk.CollectionConverters._

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Caches
import graft.dedup.MinHashDedup
import graft.functions.HashFunctions
import graft.ingest.IrcParser
import graft.search.IrcSearch
import graft.streaming.{DedupStream, IrcStream}

/** One history/corpus record as the generator wrote it; `slice` is the
  * micro-batch that carries it into the sink.
  */
final case class Rec(ts: Long, channel: String, nick: String, remark: String, id: String,
    slice: Int) {
  lazy val tokens: Array[String] = remark.split(" ").filter(_.nonEmpty)
  /** The search_after sort key derived from the id (see [[SearchWorkload]]). */
  lazy val key: Long = java.lang.Long.parseLong(id.substring(0, 15), 16)
}

object Inputs {
  def lines(path: String): Seq[String] = {
    val s = Source.fromFile(path, "UTF-8")
    try s.getLines().filter(_.nonEmpty).toVector finally s.close()
  }

  def history(dir: String): Seq[Rec] = lines(s"$dir/history.tsv").map { l =>
    val f = l.split("\t", -1)
    Rec(f(0).toLong, f(1), f(2), f(3), f(4), f(5).toInt)
  }

  val historySchema: StructType = StructType(Seq(
    StructField("ts", LongType), StructField("channel", StringType),
    StructField("nick", StringType), StructField("remark", StringType),
    StructField("gen_id", StringType), StructField("slice", IntegerType)))

  def tsv(spark: SparkSession, schema: StructType, paths: String*): DataFrame =
    spark.read.schema(schema).option("sep", "\t").option("quote", "\u0000")
      .csv(paths: _*)

  /** The history as the records a micro-batch hands to the sink, stamped
    * with each record's own time.
    */
  def records(hist: DataFrame): DataFrame =
    IrcParser.record(hist.select(col("nick"), col("channel"), col("remark"), col("ts"),
      col("slice")), timestamp_seconds(col("ts"))).drop("ts")

  /** Writes slices `from` until `until` of the history into `sink` the way
    * a running bot does: one [[IrcStream.upsertBatch]] call per slice, in
    * time order.
    */
  def upsertSlices(spark: SparkSession, dir: String, sink: String, from: Int,
      until: Int): Unit = {
    val hist = records(tsv(spark, historySchema, s"$dir/history.tsv"))
      .filter(col("slice") >= from && col("slice") < until).cache()
    (from until until).foreach { i =>
      IrcStream.upsertBatch(hist.filter(col("slice") === i).drop("slice"), i, sink)
      Log.note(s"upsert $i into $sink")
    }
    hist.unpersist()
  }

  /** Writes slices 0 until `until` of the history into `sink` in the
    * layout [[upsertSlices]] leaves, in a single job. An upsertBatch call
    * writes from the `dropDuplicates("id")` shuffle, so it leaves one file
    * per (channel, day) and shuffle partition of `id`; here each task
    * writes exactly one (slice, id partition) pair, which gives the same
    * files. The history's ids are distinct, so the calls' probes would
    * drop nothing.
    */
  def writeSlices(spark: SparkSession, dir: String, sink: String, until: Int): Unit = {
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val rows = records(tsv(spark, historySchema, s"$dir/history.tsv"))
      .filter(col("slice") < until)
      .withColumn("day", date_format(col("posted"), "yyyy-MM-dd"))
      .withColumn("task", col("slice") * parts + pmod(hash(col("id")), lit(parts)))
    val byTask = rows.rdd.keyBy(_.getAs[Int]("task"))
      .partitionBy(new HashPartitioner(until * parts)).values
    spark.createDataFrame(byTask, rows.schema).drop("slice", "task")
      .write.partitionBy("channel", "day").mode("append").parquet(sink)
  }
}

/** irc_ingest: raw wire files drained closed-loop, one file per micro-batch,
  * through fromTextDir → records → deduped → upsertBatch into a sink that
  * already holds multi-day history.
  */
final class IngestWorkload(spark: SparkSession, args: Main.Args, tracer: Tracer,
    listeners: Option[Listeners]) extends Workload(spark, args, tracer, listeners) {
  val WarmFiles = 2
  /** Files drained per run: about one per 3 s of --seconds on the reference
    * host, fixed by --seconds alone so every run does the same work.
    */
  val TimedFiles = math.max(1, math.round(args.seconds / 3.0).toInt)

  def run(): Result = {
    val last = args.inputs.last
    val history = Inputs.history(last)
    val slices = history.map(_.slice).max + 1
    val setup = args.inputs.zipWithIndex.map { case (in, r) =>
      seconds(Inputs.writeSlices(spark, in, s"${args.work}/rep$r/sink", slices))
    }
    val sink = s"${args.work}/rep${args.inputs.size - 1}/sink"
    val staged = Files.list(Paths.get(s"$last/wire")).iterator().asScala.toSeq
      .map(_.toString).sorted
    val wireIds = Inputs.lines(s"$last/wire_ids.tsv").map { l =>
      val f = l.split("\t"); (f(0).toInt, f(1)) }
    val linesPer = staged.map(p => Inputs.lines(p).size)
    val inDir = Paths.get(s"${args.work}/in")
    Files.createDirectories(inDir)

    val fileSpan = new AtomicInteger(-1)
    val stream = IrcStream.deduped(IrcStream.records(
        IrcStream.fromTextDir(spark, inDir.toString, maxFilesPerTrigger = 1)))
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", s"${args.work}/checkpoint")
      .foreachBatch { (b: DataFrame, id: Long) =>
        tracer.span("sinks.upsert_batch", id, fileSpan.get) { _ =>
          IrcStream.upsertBatch(b, id, sink)
        }
      }
      .start()
    def drop(i: Int): Unit = {
      tracer.span("ingest.file", i) { sid =>
        fileSpan.set(sid)
        Files.move(Paths.get(staged(i)), inDir.resolve(f"part-$i%05d.txt"),
          StandardCopyOption.ATOMIC_MOVE)
        stream.processAllAvailable()
      }
    }
    (0 until WarmFiles).foreach(drop)
    listeners.foreach(_.quiesce())
    val gc0 = gcMs
    require(WarmFiles + TimedFiles <= staged.size, s"only ${staged.size} staged files")
    val (lat, wall, cpu, w0, w1) = closedLoop(TimedFiles)(i => timedMs(drop(i + WarmFiles)))
    val done = WarmFiles + lat.size
    stream.stop()
    listeners.foreach(_.quiesce())

    val layers = zeroLayers
    listeners.foreach(l => ingestLayers(l, layers, w0, w1, sink, staged.take(done),
      linesPer.slice(WarmFiles, done).sum, linesPer.take(done).sum, history.size))
    val (sinkFiles, sinkParts, _) = if (args.trace) dirStats(sink) else (0L, 0L, 0L)
    if (args.trace) {
      jvm(gc0).foreach { case (n, v, u) => layers(n) = (v, u) }
      layers("sinks.files_total") = (sinkFiles.toDouble, "count")
      layers("sinks.partitions_total") = (sinkParts.toDouble, "count")
    }

    // Check: exactly one sink row per distinct v2 id — the history plus
    // the ids of every file drained.
    val expected = history.map(_.id).toSet ++
      wireIds.filter(_._1 < done).map(_._2)
    val got = spark.read.parquet(sink).select("id").collect().map(_.getString(0))
    val ok = check(got.length == expected.size,
      s"sink rows ${got.length} != distinct ids ${expected.size}") &&
      check(got.toSet == expected, "sink id set differs from the generator's ids")
    if (sinkFiles > 0)
      layers("sinks.rows_per_file") = (got.length.toDouble / sinkFiles, "ratio")
    val attempted = lat.size
    Result(setup, lat, linesPer.slice(WarmFiles, done).sum.toDouble, wall, cpu,
      attempted, if (ok) 0 else attempted, checks.toSeq,
      layers.toSeq.map { case (n, (v, u)) => (n, v, u) })
  }

  private def ingestLayers(l: Listeners, layers: mutable.LinkedHashMap[String, (Double, String)],
      w0: Long, w1: Long, sink: String, drained: Seq[String], linesIn: Int,
      drainedLines: Int, historyRows: Int): Unit = {
    val prog = l.progressIn(w0, w1).filter(_.numInputRows > 0)
    def p50(key: String) = Stats.median(prog.flatMap(p =>
      Option(p.durationMs.get(key)).map(_.doubleValue)))
    layers("streaming.batches") = (prog.size.toDouble, "count")
    layers("streaming.trigger_ms_p50") = (p50("triggerExecution"), "ms")
    layers("streaming.add_batch_ms_p50") = (p50("addBatch"), "ms")
    layers("streaming.wal_commit_ms_p50") = (p50("walCommit"), "ms")
    layers("streaming.commit_offsets_ms_p50") = (p50("commitOffsets"), "ms")
    layers("streaming.query_planning_ms_p50") = (p50("queryPlanning"), "ms")
    layers("streaming.get_batch_ms_p50") = (p50("getBatch"), "ms")
    val ops = prog.flatMap(_.stateOperators.headOption)
    ops.lastOption.foreach { o =>
      layers("streaming.state_rows") = (o.numRowsTotal.toDouble, "count")
      layers("streaming.state_mem_bytes") = (o.memoryUsedBytes.toDouble, "bytes")
    }
    val dropped = ops.map(o => Option(o.customMetrics.get("numDroppedDuplicateRows"))
      .map(_.longValue).getOrElse(0L)).sum
    val kept = ops.map(_.numRowsUpdated).sum
    layers("streaming.dup_drop_ratio") =
      (dropped.toDouble / math.max(1L, dropped + kept), "ratio")
    layers("streaming.rows_dropped_by_watermark") =
      (ops.map(_.numRowsDroppedByWatermark).sum.toDouble, "count")
    layers("ingest.lines_in") = (linesIn.toDouble, "count")
    layers("ingest.records_out") = ((dropped + kept).toDouble, "count")
    layers("ingest.keep_ratio") = ((dropped + kept).toDouble / math.max(1, linesIn), "ratio")

    // Upserts of batches that carried data (the stream also runs no-data
    // batches to advance the watermark; their upserts count in the share).
    val allProg = l.progressIn(w0, w1)
    val dataIds = prog.map(_.batchId).toSet
    val ups = tracer.all.filter(s => s.name == "sinks.upsert_batch" &&
      allProg.exists(_.batchId == s.req))
    val upserts = ups.filter(s => dataIds(s.req)).map(_.ms)
    layers("sinks.upsert_ms_p50") = (Stats.median(upserts), "ms")
    layers("sinks.upsert_ms_max") = (if (upserts.isEmpty) 0.0 else upserts.max, "ms")
    val trig = allProg.flatMap(p => Option(p.durationMs.get("triggerExecution"))
      .map(_.doubleValue)).sum
    layers("sinks.upsert_share") = (ups.map(_.ms).sum / math.max(1.0, trig), "ratio")
    val qes = l.queriesIn(w0, w1).map(_.executedPlan)
    layers("sinks.probe_rows_read") = (qes.flatMap(PlanMetrics.scans)
      .filter(s => PlanMetrics.samePath(s.root, sink)).map(_.rows).sum.toDouble, "count")
    val ws = qes.flatMap(PlanMetrics.writes).filter(w => PlanMetrics.samePath(w.path, sink))
    layers("sinks.rows_written") = (ws.map(_.rows).sum.toDouble, "count")
    layers("sinks.files_written") = (ws.map(_.files).sum.toDouble, "count")
    layers("sinks.bytes_written") = (ws.map(_.bytes).sum.toDouble, "bytes")
    l.engine(w0, w1).foreach { case (n, v, u) => layers(n) = (v, u) }

    // Layer-alone costs, measured after the clock on the same inputs.
    val moved = drained.indices.map(i => s"${args.work}/in/" + f"part-$i%05d.txt")
    layers("ingest.parse_ms_per_klines") = (noopMs(IrcParser.pipeline(
      spark.read.text(moved: _*))) / (drainedLines / 1000.0), "ms")
    val hist = Inputs.tsv(spark, Inputs.historySchema, s"${args.inputs.last}/history.tsv")
    layers("functions.keyv2_ms_per_krows") = (noopMs(hist.select(
      HashFunctions.keyV2(col("channel"), col("nick"), col("remark")))) /
      (historyRows / 1000.0), "ms")
  }
}

/** log_search: one closed-loop analyst client over a multi-day corpus built
  * through the bot's own upsert path.
  */
final class SearchWorkload(spark: SparkSession, args: Main.Args, tracer: Tracer,
    listeners: Option[Listeners]) extends Workload(spark, args, tracer, listeners) {
  val Warm = 6 // half a cycle of the request mix, untimed
  val UpsertSlices = 1
  /** Requests per run: whole 12-slot cycles of gen.REQUEST_CYCLE, about
    * two a second of --seconds on the reference host, fixed by --seconds
    * alone so every run does the same work.
    */
  val Requests = 12 * math.max(1, math.round(args.seconds / 6.0).toInt)

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private var returnedRows = 0L

  def run(): Result = {
    val last = args.inputs.last
    val recs = Inputs.history(last)
    // All but the last UpsertSlices slices are laid down in one job; the
    // rest go through upsertBatch itself, so its cost shows in set-up.
    val slices = recs.map(_.slice).max + 1
    val setup = args.inputs.zipWithIndex.map { case (in, r) =>
      val sink = s"${args.work}/rep$r/sink"
      seconds {
        Inputs.writeSlices(spark, in, sink, slices - UpsertSlices)
        Inputs.upsertSlices(spark, in, sink, slices - UpsertSlices, slices)
      }
    }
    val sink = s"${args.work}/rep${args.inputs.size - 1}/sink"
    val reqs = Inputs.lines(s"$last/requests.jsonl").map(mapper.readTree)
    val byId = recs.map(r => r.id -> r).toMap

    val perType = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val filesRead, planning, releaseMs = mutable.ArrayBuffer.empty[Double]
    var scanned = 0L
    var cachedPeak = 0L
    var failed = 0

    /** One request; returns its latency in ms (the request clock stops
      * when the rows are back, before the check and the cache release).
      */
    def request(logs: DataFrame, i: Int, timedRun: Boolean): Double = {
      val q = reqs(i % reqs.size)
      val t = q.get("type").asText
      val t0 = System.nanoTime()
      var latency = 0.0
      val frames = mutable.ArrayBuffer.empty[DataFrame]
      val ok = try tracer.span(s"search.$t", i) { sid =>
        val out = tracer.span("search.execute", i, sid)(_ => execute(t, q, logs, frames))
        latency = ms(t0)
        if (timedRun) perType.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += latency
        verify(t, q, out, recs, byId)
      } catch {
        case e: Exception =>
          latency = ms(t0); check(false, s"request $i ($t) failed: $e"); false
      }
      if (!ok && timedRun) failed += 1
      if (args.trace && timedRun) {
        val plans = frames.map(_.queryExecution)
        val sc = plans.flatMap(p => PlanMetrics.scans(p.executedPlan))
        filesRead += sc.map(_.files).sum.toDouble
        scanned += sc.map(_.rows).sum
        planning += plans.map(PlanMetrics.planningMs).sum
        cachedPeak = math.max(cachedPeak, spark.sparkContext.getRDDStorageInfo
          .map(r => r.memSize + r.diskSize).sum)
      }
      val r0 = System.nanoTime()
      tracer.span("caches.release", i)(_ => Caches.unpersistAll())
      if (timedRun) releaseMs += ms(r0)
      latency
    }

    // The analyst's session opens the index once; requests share the
    // listing, as a long-lived search process does.
    val logs = tracer.span("sinks.open", -1)(_ => spark.read.parquet(sink))
    (0 until Warm).foreach(i => request(logs, i, timedRun = false))
    listeners.foreach(_.quiesce())
    val gc0 = gcMs
    require(Warm + Requests <= reqs.size, s"only ${reqs.size} requests")
    val (lat, wall, cpu, w0, w1) = closedLoop(Requests) { i =>
      request(logs, i + Warm, timedRun = true)
    }
    listeners.foreach(_.quiesce())

    val layers = zeroLayers
    if (args.trace) {
      perType.foreach { case (t, xs) => layers(s"search.${t}_ms_p50") = (Stats.median(xs.toSeq), "ms") }
      def of(ts: String*) = ts.flatMap(t => perType.getOrElse(t, Nil))
      layers("search.filter_ms_p50") =
        (Stats.median(of("filter_channel_range", "filter_nick", "query_string")), "ms")
      layers("search.fulltext_ms_p50") =
        (Stats.median(of("fulltext_channel", "fulltext_corpus")), "ms")
      layers("search.files_read_p50") = (Stats.median(filesRead.toSeq), "count")
      layers("search.rows_scanned_per_row_returned") =
        (scanned.toDouble / math.max(1L, returnedRows), "ratio")
      layers("search.planning_ms_p50") = (Stats.median(planning.toSeq), "ms")
      layers("caches.bytes_cached_peak") = (cachedPeak.toDouble, "bytes")
      layers("caches.release_ms_p50") = (Stats.median(releaseMs.toSeq), "ms")
      listeners.foreach { l =>
        val eng = l.engine(w0, w1)
        eng.foreach { case (n, v, u) => layers(n) = (v, u) }
        layers("search.jobs_per_request") =
          (eng.find(_._1 == "engine.jobs").get._2 / math.max(1, lat.size), "count")
      }
      jvm(gc0).foreach { case (n, v, u) => layers(n) = (v, u) }
      val (files, parts, _) = dirStats(sink)
      layers("sinks.files_total") = (files.toDouble, "count")
      layers("sinks.partitions_total") = (parts.toDouble, "count")
      layers("sinks.rows_per_file") = (recs.size.toDouble / math.max(1L, files), "ratio")
      layers("functions.keyv2_ms_per_krows") = (noopMs(
        Inputs.tsv(spark, Inputs.historySchema, s"$last/history.tsv").select(
          HashFunctions.keyV2(col("channel"), col("nick"), col("remark")))) /
        (recs.size / 1000.0), "ms")
    }
    Result(setup, lat, lat.size.toDouble, wall, cpu, lat.size, failed,
      checks.toSeq, layers.toSeq.map { case (n, (v, u)) => (n, v, u) },
      lat.indices.map(i => reqs((i + Warm) % reqs.size).get("type").asText))
  }

  private def ts(epoch: Long): String =
    java.time.Instant.ofEpochSecond(epoch).toString.replace("T", " ").stripSuffix("Z")

  /** Runs one request and returns its collected rows. */
  private def execute(t: String, q: com.fasterxml.jackson.databind.JsonNode,
      logs: DataFrame, frames: mutable.ArrayBuffer[DataFrame]): Seq[Seq[Row]] = {
    def run(df: DataFrame): Seq[Row] = { frames += df; df.collect().toSeq }
    def str(k: String) = Option(q.get(k)).map(_.asText)
    t match {
      case "filter_channel_range" =>
        Seq(run(IrcSearch.filterLog(logs, channel = str("channel"),
          fromPosted = Some(ts(q.get("from").asLong)),
          untilPosted = Some(ts(q.get("until").asLong))).select("id")))
      case "filter_nick" =>
        Seq(run(IrcSearch.filterLog(logs, nick = str("nick")).select("id")))
      case "query_string" =>
        Seq(run(IrcSearch.queryString(logs, q.get("q").asText).select("id")))
      case "fulltext_channel" | "fulltext_corpus" =>
        val docs = if (t == "fulltext_channel") IrcSearch.filterLog(logs, channel = str("channel"))
          else logs
        Seq(run(IrcSearch.searchText(docs, "id", "remark",
          q.get("terms").elements().asScala.map(_.asText).mkString(" "),
          q.get("k").asInt)))
      case "facets" =>
        Seq(run(IrcSearch.facets(IrcSearch.filterLog(logs,
          fromPosted = Some(ts(q.get("from").asLong)),
          untilPosted = Some(ts(q.get("until").asLong))))))
      case "search_after" =>
        // The caller projects its sort key and a numeric tie-break from
        // the id, as a serving client of searchAfter does.
        val docs = IrcSearch.filterLog(logs, channel = str("channel"))
          .select(col("posted").cast("long").as("ts"),
            conv(substring(col("id"), 1, 15), 16, 10).cast("long").as("key"))
        var cursor: Option[(Long, Long)] = None
        (0 until q.get("pages").asInt).map { _ =>
          val page = run(IrcSearch.searchAfter(docs, "ts", "key", cursor, q.get("size").asInt))
          page.lastOption.foreach(r => cursor = Some((r.getLong(0), r.getLong(1))))
          page
        }
    }
  }

  /** Compares a request's rows with the in-bench reference over the
    * generator's records.
    */
  private def verify(t: String, q: com.fasterxml.jackson.databind.JsonNode,
      out: Seq[Seq[Row]], recs: Seq[Rec], byId: Map[String, Rec]): Boolean = {
    returnedRows += out.map(_.size).sum
    def ids = out.head.map(_.getString(0)).toSet
    def same(expect: Iterable[Rec]) =
      check(ids == expect.map(_.id).toSet && out.head.size == expect.size,
        s"$t ${q.toString}: ${out.head.size} rows, expected ${expect.size}")
    def str(k: String) = q.get(k).asText
    t match {
      case "filter_channel_range" =>
        val (c, a, b) = (str("channel"), q.get("from").asLong, q.get("until").asLong)
        same(recs.filter(r => r.channel == c && r.ts >= a && r.ts < b))
      case "filter_nick" => same(recs.filter(_.nick == str("nick")))
      case "query_string" =>
        def arr(k: String) = Option(q.get(k)).toSeq.flatMap(_.elements().asScala.map(_.asText))
        val all = arr("all"); val none = arr("none"); val phrase = arr("phrase")
        val nick = Option(q.get("nick")).map(_.asText)
        same(recs.filter { r =>
          all.forall(r.tokens.contains) && !none.exists(r.tokens.contains) &&
          nick.forall(_ == r.nick) &&
          (phrase.isEmpty || (" " + r.tokens.mkString(" ") + " ")
            .contains(phrase.mkString(" ", " ", " ")))
        })
      case "fulltext_channel" | "fulltext_corpus" =>
        val terms = q.get("terms").elements().asScala.map(_.asText.toLowerCase).toSet
        val scope = Option(q.get("channel")).map(_.asText)
        val hits = recs.count(r => scope.forall(_ == r.channel) &&
          r.tokens.exists(w => terms(w.toLowerCase)))
        val rows = out.head
        val scores = rows.map(_.getDouble(1))
        check(rows.size == math.min(q.get("k").asInt, hits),
          s"$t ${q.toString}: ${rows.size} rows, expected ${math.min(q.get("k").asInt, hits)}") &&
        check(scores.zip(scores.drop(1)).forall { case (a, b) => a >= b },
          s"$t ${q.toString}: scores increase down the list") &&
        check(rows.forall { row =>
          byId.get(row.getString(0)).exists(r => scope.forall(_ == r.channel) &&
            r.tokens.exists(w => terms(w.toLowerCase)))
        }, s"$t ${q.toString}: a top-k row has no query term")
      case "facets" =>
        val (a, b) = (q.get("from").asLong, q.get("until").asLong)
        val expect = recs.filter(r => r.ts >= a && r.ts < b).groupBy(_.channel).map {
          case (c, rs) => (c, rs.size.toLong, rs.map(_.nick).distinct.size.toLong,
            rs.map(_.ts).min, rs.map(_.ts).max)
        }.toSet
        val got = out.head.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getTimestamp(3).getTime / 1000, r.getTimestamp(4).getTime / 1000)).toSet
        check(got == expect && out.head.size == expect.size,
          s"facets ${q.toString}: ${out.head.size} groups differ from the reference")
      case "search_after" =>
        val size = q.get("size").asInt
        val ordered = recs.filter(_.channel == str("channel"))
          .sortBy(r => (-r.ts, r.key))
        out.zipWithIndex.forall { case (page, p) =>
          val expect = ordered.slice(p * size, (p + 1) * size).map(r => (r.ts, r.key))
          check(page.map(r => (r.getLong(0), r.getLong(1))) == expect,
            s"search_after ${q.toString}: page $p differs from the reference")
        }
    }
  }
}

/** doc_dedup: sequential DedupStream.step calls on seeded document batches
  * with planted near-duplicate families; the index grows from empty.
  */
final class DedupWorkload(spark: SparkSession, args: Main.Args, tracer: Tracer,
    listeners: Option[Listeners]) extends Workload(spark, args, tracer, listeners) {
  val MinEstJaccard = 0.5
  val RecallFloor = 0.9
  /** Steps per run: about one per 1.5 s of --seconds on the reference
    * host, fixed by --seconds alone so every run does the same work.
    */
  val Steps = math.max(1, math.round(args.seconds / 1.5).toInt)
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  def run(): Result = {
    val last = args.inputs.last
    // Set-up stages the document batches: one read of every batch, so a
    // malformed file fails before the clock starts.
    val setup = args.inputs.map { in =>
      seconds(Inputs.tsv(spark, docSchema, s"$in/docs").count())
    }
    val batches = Files.list(Paths.get(s"$last/docs")).iterator().asScala.toSeq
      .map(_.toString).sorted
    val index = s"${args.work}/index"
    val pairs = s"${args.work}/pairs"
    val docsPer = batches.map(p => Inputs.lines(p).size)
    def step(b: Int, indexDir: String = index, pairsDir: String = pairs): Unit =
      tracer.span("dedup.step", b) { _ =>
        DedupStream.step(Inputs.tsv(spark, docSchema, batches(b)), col("doc_id"),
          col("text"), indexDir, pairsDir, b, minEstJaccard = MinEstJaccard)
      }
    // Warm-up: the first four steps into a throw-away index, untimed (the
    // first timed step still ran about 30 % slow after two).
    (0 until 4).foreach(b => step(b, s"${args.work}/warm-index", s"${args.work}/warm-pairs"))
    val gc0 = gcMs
    require(Steps <= batches.size, s"only ${batches.size} batches")
    val (lat, wall, cpu, w0, w1) = closedLoop(Steps)(b => timedMs(step(b)))
    listeners.foreach(_.quiesce())
    val done = lat.size

    val found = spark.read.parquet((0 until done).map(b => s"$pairs/b$b"): _*)
      .select("da", "db", "est_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val planted = Inputs.lines(s"$last/planted.tsv").map { l =>
      val f = l.split("\t"); (f(0).toLong, f(1).toLong) }
      .filter { case (a, b) => a / 1000000 < done && b / 1000000 < done }
    val foundSet = found.map(p => (p._1, p._2)).toSet
    val recall = planted.count(foundSet).toDouble / math.max(1, planted.size)
    val ok = check(found.forall(_._3 >= MinEstJaccard),
      s"a pair is below the estimated-Jaccard floor $MinEstJaccard") &&
      check(planted.nonEmpty && recall >= RecallFloor,
        f"planted-pair recall $recall%.3f below the floor $RecallFloor")

    val layers = zeroLayers
    if (args.trace) {
      layers("dedup.step_ms_p50") = (Stats.median(lat), "ms")
      layers("dedup.step_ms_last_over_first") = (lat.last / lat.head, "ratio")
      layers("dedup.pairs_out") = (found.length.toDouble, "count")
      layers("dedup.planted_recall") = (recall, "ratio")
      val (_, _, idxBytes) = dirStats(index)
      layers("dedup.index_bytes") = (idxBytes.toDouble, "bytes")
      listeners.foreach { l =>
        val qes = l.queriesIn(w0, w1).map(_.executedPlan)
        val cand = qes.map(PlanMetrics.cachedRows(_, Seq("new_id", "other"))).sum
        layers("dedup.candidate_pairs") = (cand.toDouble, "count")
        layers("dedup.pair_yield") = (found.length.toDouble / math.max(1L, cand), "ratio")
        layers("dedup.index_read_bytes_per_step") = (qes.flatMap(PlanMetrics.scans)
          .filter(s => PlanMetrics.norm(s.root).startsWith(PlanMetrics.norm(index)))
          .map(_.bytes).sum.toDouble / done, "bytes")
        l.engine(w0, w1).foreach { case (n, v, u) => layers(n) = (v, u) }
      }
      jvm(gc0).foreach { case (n, v, u) => layers(n) = (v, u) }
      val docs = Inputs.tsv(spark, docSchema, batches.take(done): _*)
      layers("functions.minhash_ms_per_kdocs") = (noopMs(MinHashDedup.signatures(
        docs, col("doc_id"), col("text"))) / (docsPer.take(done).sum / 1000.0), "ms")
    }
    Result(setup, lat, docsPer.take(done).sum.toDouble, wall, cpu, done,
      if (ok) 0 else done, checks.toSeq, layers.toSeq.map { case (n, (v, u)) => (n, v, u) })
  }
}
