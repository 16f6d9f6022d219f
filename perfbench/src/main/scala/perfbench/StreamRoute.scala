package perfbench

import java.time.Instant
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import graft.routing.{EventCodec, Router}
import graft.sources.ReplayStreamSource
import graft.streaming.{StatefulOps, StreamingRouter}

/** `stream_route`: one shard consumer replaying landed wire records at the
  * Lambda maximum batch size. Each trigger reads a batch through the replay
  * source, drops redeliveries with a TTL'd first-occurrence filter, routes
  * the batch and appends it to a parquet sink; the next batch is polled only
  * after the last one committed.
  */
object StreamRoute {
  val BatchRecords = 10000
  /** Rows per landed parquet file: the source's per-trigger read cost grows
    * with it, so it is a property of the workload.
    */
  val RowsPerFile = 10000
  val LandedRecords = 400000L
  /** Leading triggers of the measured query counted as set-up: a new
    * consumer's first batches run slower (query start, state-store and
    * JIT warm-up) than its steady state.
    */
  val WarmTriggers = 8
  private val TtlMs = 3600000L

  private def land(spark: SparkSession, seed: Long, n: Long, dir: String): DataFrame = {
    val flat = Wire.flat(Wire.labeled(spark, seed, 0, n, (n / RowsPerFile).toInt,
      redeliveries = true))
    flat.write.mode("overwrite").parquet(dir)
    // flush the landed files now: otherwise the kernel writes them back
    // some 30 s later, in the middle of the measured triggers
    new java.io.File(dir).listFiles().foreach { f =>
      val ch = java.nio.channels.FileChannel.open(f.toPath, java.nio.file.StandardOpenOption.WRITE)
      try ch.force(true) finally ch.close()
    }
    flat
  }

  /** What the sink function saw of one trigger. */
  private final case class BatchSeen(cpuNs: Long, endNs: Long)

  private final class Run {
    val startNs: Long = System.nanoTime()
    val seen = mutable.Map.empty[Long, BatchSeen]
    @volatile var query: StreamingQuery = _
    /** When the last warm-up trigger's sink finished; 0 before. */
    @volatile var measureFrom = 0L
  }

  private def start(ctx: Ctx, input: String, ckpt: String, sink: String,
                    stop: java.util.concurrent.atomic.AtomicBoolean): Run = {
    val spark = ctx.spark
    import spark.implicits._
    val config = Registry.config()
    val tr = ctx.tracer
    val run = new Run
    val seen = run.seen
    val src = spark.readStream
      .format(classOf[ReplayStreamSource].getName)
      .option("path", input)
      .option("batchSize", BatchRecords.toString)
      .load()
    val deduped = StatefulOps.firstOccurrencesWithTtl(src.as[Gen.Wire], TtlMs)(_.sequenceNumber)
    val decoded = EventCodec.withDecodedEvent(Wire.records(deduped.toDF()), Registry.payloadType)
    val q = StreamingRouter.foreachRoutedBatch(decoded, config) { (routed, id) =>
      tr.op = s"trigger$id"
      val out = routed.tagged.select(col(Router.TagCol), col(Router.ReasonCol),
        col("kinesis.sequenceNumber"), col("kinesis.data"))
      if (tr.enabled) tr.span("routing.plan")(out.queryExecution.executedPlan)
      tr.span("routing.write") {
        out.coalesce(1).write.mode("append").parquet(s"$sink/batch=$id")
      }
      val now = System.nanoTime()
      seen.synchronized { seen(id) = BatchSeen(Main.cpuNs(), now) }
      if (id == WarmTriggers - 1) run.measureFrom = now
      if (run.measureFrom > 0 && now - run.measureFrom >= ctx.seconds * 1000000000L)
        stop.set(true)
    }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
    run.query = q.start()
    run
  }

  /** Run the stream until it has measured `ctx.seconds` past its warm-up
    * triggers, or has read all `rows`; stops it between triggers where it
    * can, and returns the progress of committed triggers. The stop on
    * `rows` is needed: the TTL'd dedup uses processing-time timeouts, which
    * make every trigger ask for another (empty) batch, so an AvailableNow
    * query over it never ends by itself. `onHalf` runs once, halfway
    * through the measured part.
    */
  private def drive(ctx: Ctx, input: String, rows: Long,
                    onHalf: () => Unit): (Run, Seq[StreamingQueryProgress]) = {
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val run = start(ctx, input, ctx.path("ckpt"), ctx.path("sink"), stop)
    val halfNs = ctx.seconds * 500000000L
    var halfDone = false
    def drained: Boolean = Option(run.query.lastProgress)
      .exists(p => offset(p.sources.head.endOffset) >= rows)
    while (run.query.isActive && !stop.get() && !drained) {
      if (!halfDone && run.measureFrom > 0 && System.nanoTime() - run.measureFrom >= halfNs) {
        onHalf(); halfDone = true
      }
      Thread.sleep(5)
    }
    run.query.stop()
    run.query.exception.foreach(e => throw e)
    val progress = ctx.counters.progressOf(run.query.runId).filter(_.numInputRows > 0)
    val committed = run.seen.synchronized(run.seen.keySet.toSet)
    (run, progress.filter(p => committed(p.batchId)))
  }

  private def startNs(p: StreamingQueryProgress): Long =
    Instant.parse(p.timestamp).toEpochMilli * 1000000L
  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
  private def offset(s: String): Long = if (s == null) 0L else s.trim.toLong

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val input = ctx.path("input")
    var flat: DataFrame = null
    val prepS = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      flat = land(spark, ctx.seed, LandedRecords, input)
      (System.nanoTime() - t0) / 1e9
    }
    val inputDigest = Main.digest(flat)

    val tr = ctx.tracer
    var switchEpoch = Long.MaxValue
    val (run, progress) = drive(ctx, input, LandedRecords, () => if (ctx.trace) {
      ctx.counters.reset()
      switchEpoch = tr.now(); tr.enabled = true
    })
    tr.enabled = false
    require(progress.size > WarmTriggers, s"only ${progress.size} triggers committed")

    // ---- correctness: per trigger, against the generator's labels
    val bounds = progress.map(p => (p.batchId, offset(p.sources.head.startOffset),
      offset(p.sources.head.endOffset)))
    val maxEnd = if (bounds.isEmpty) 0L else bounds.map(_._3).max
    val ends = bounds.map(_._3).sorted.toArray
    val batchOf = bounds.map(b => b._3 -> b._1).toMap
    val labeled = Wire.labeled(spark, ctx.seed, 0, maxEnd, ctx.cores * 2, redeliveries = true)
    val batchCol = udf((i: Long) => batchOf(ends(java.util.Arrays.binarySearch(ends, i + 1) match {
      case k if k >= 0 => k
      case k => -k - 1
    })))
    val exp = labeled.withColumn("batch", batchCol(col("i")))
    val expRows = exp.filter(!col("redelivery")).groupBy("batch", "route", "reason").count().collect()
    val expRedeliveries = exp.filter(col("redelivery")).count()
    val committedIds = progress.map(_.batchId).toSet
    val sinkRows = spark.read.parquet(ctx.path("sink"))
      .filter(col("batch").isin(committedIds.toSeq: _*))
      .groupBy(col("batch"), col(Router.TagCol), col(Router.ReasonCol)).count().collect()
    def perBatch(rows: Array[org.apache.spark.sql.Row]): Map[Long, Wire.Counts] =
      rows.groupBy(_.get(0).toString.toLong).map { case (b, rs) =>
        b -> rs.map(r => (r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
      }
    val expected = perBatch(expRows)
    val actual = perBatch(sinkRows)
    val badTriggers = committedIds.count(b =>
      Wire.gates("", expected.getOrElse(b, Map.empty), actual.getOrElse(b, Map.empty),
        ctx.corrupt).exists(!_.ok))
    def total(m: Map[Long, Wire.Counts]): Wire.Counts =
      m.values.flatten.groupMapReduce(_._1)(_._2)(_ + _)
    val rowsIn = progress.map(_.numInputRows).sum
    val rowsOut = total(actual).values.sum
    val expDropped = expRedeliveries + (if (ctx.corrupt) 1 else 0)
    val dropGate = Gate("dedup_dropped", expDropped.toString, (rowsIn - rowsOut).toString,
      rowsIn - rowsOut == expDropped)
    val gates = Wire.gates("sink_", total(expected), total(actual), ctx.corrupt) :+ dropGate
    val failed = badTriggers + (if (dropGate.ok) 0 else 1)

    // ---- end-to-end: committed triggers after the warm-up ones
    val warm = run.seen.synchronized(run.seen(WarmTriggers - 1L))
    val lastSeen = run.seen.synchronized(progress.map(p => run.seen(p.batchId)).maxBy(_.endNs))
    val windowNs = lastSeen.endNs - warm.endNs
    val cpuNs = lastSeen.cpuNs - warm.cpuNs
    val steady = progress.filter(_.batchId >= WarmTriggers)
    val untraced = steady.filter(p => startNs(p) < switchEpoch)
    val lat = untraced.map(dur(_, "triggerExecution"))
    val warmupS = (warm.endNs - run.startNs) / 1e9
    val info = Map[String, Any]("batch_records" -> BatchRecords, "rows_per_file" -> RowsPerFile,
      "landed_records" -> LandedRecords, "input_digest" -> inputDigest,
      "triggers" -> progress.size, "rows_in" -> rowsIn, "planted_redeliveries" -> expRedeliveries)
    val layers =
      if (!ctx.trace) Map.empty[String, (Double, String)]
      else traceLayers(ctx, steady, switchEpoch, lat, total(actual),
        rowsIn - rowsOut, input)
    Outcome(steady.map(_.numInputRows).sum, windowNs, cpuNs, lat, progress.size, failed, gates,
      prepS, warmupS, layers, info)
  }

  private def traceLayers(ctx: Ctx, progress: Seq[StreamingQueryProgress],
                          switchEpoch: Long, untracedLat: Seq[Double],
                          sinkCounts: Wire.Counts, dropped: Long,
                          input: String): Map[String, (Double, String)] = {
    val tr = ctx.tracer
    val traced = progress.filter(p => startNs(p) >= switchEpoch)
    require(traced.nonEmpty, s"input drained before the traced half; raise LandedRecords")
    val sparkCounters = ctx.counters.snapshot(traced.size, ctx.cores)
    tr.enabled = true
    val root = tr.add("run", switchEpoch, 0L, -1, "run")
    // spans from Spark's per-trigger phase report, laid end to end in
    // execution order; the sink function's own spans nest under addBatch
    traced.foreach { p =>
      val op = s"trigger${p.batchId}"
      val s0 = startNs(p)
      val trig = tr.add("streaming.trigger", s0, s0 + (dur(p, "triggerExecution") * 1e6).toLong,
        root, op)
      var at = s0
      Seq("latestOffset" -> "sources.latest_offset", "walCommit" -> "streaming.wal_commit",
        "getBatch" -> "streaming.get_batch", "queryPlanning" -> "streaming.query_planning",
        "addBatch" -> "streaming.add_batch", "commitOffsets" -> "streaming.commit_offsets")
        .foreach { case (k, name) =>
          val d = (dur(p, k) * 1e6).toLong
          val id = tr.add(name, at, at + d, trig, op)
          if (k == "addBatch") tr.adopt(op, id)
          at += d
        }
    }
    tr.close(root, traced.lastOption.map(p =>
      startNs(p) + (dur(p, "triggerExecution") * 1e6).toLong).getOrElse(switchEpoch))
    // probe: the raw-batch read alone, over copies of the first landed files
    tr.op = "probe"
    val probeDir = new java.io.File(ctx.path("probe-input"))
    probeDir.mkdirs()
    new java.io.File(input).listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName).take(8)
      .foreach(f => java.nio.file.Files.copy(f.toPath, new java.io.File(probeDir, f.getName).toPath))
    val probeTimes = mutable.ArrayBuffer.empty[Double]
    val probe = ctx.spark.readStream.format(classOf[ReplayStreamSource].getName)
      .option("path", probeDir.getPath).option("batchSize", BatchRecords.toString).load()
      .writeStream.foreachBatch { (df: DataFrame, _: Long) =>
        tr.span("sources.read") {
          val t = System.nanoTime()
          df.queryExecution.toRdd.count()
          probeTimes += (System.nanoTime() - t) / 1e6
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ctx.path("probe-ckpt"))
      .start()
    StreamingRouter.awaitBounded(probe)
    require(probeTimes.nonEmpty, "source probe read nothing")
    // probe: routing self times on one trigger's worth of cached records
    val batch = Wire.records(ctx.spark.read.parquet(probeDir.getPath).limit(BatchRecords)).cache()
    batch.count()
    val (decodeMs, tagMs) = Wire.routingProbe(tr, batch, Registry.config(), reps = 5)
    batch.unpersist(blocking = true)
    tr.enabled = false

    val files = new java.io.File(ctx.path("sink")).listFiles().toSeq
      .filter(d => d.getName.startsWith("batch=") &&
        progress.exists(p => s"batch=${p.batchId}" == d.getName))
      .flatMap(_.listFiles().toSeq.filter(f => f.getName.endsWith(".parquet")))
    def med(k: String): Double = Main.median(traced.map(dur(_, k)))
    def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double): Seq[Double] =
      traced.map(p => p.stateOperators.map(f).sum)
    val sinkSpan = (name: String) => Main.median(tr.named(name).filter(_.op.startsWith("trigger")).map(_.ms))
    val gaps = progress.sliding(2).collect { case Seq(a, b) =>
      (startNs(b) - startNs(a)) / 1e6 - dur(a, "triggerExecution")
    }.toSeq
    val last = progress.last
    Layers.fill(
      Layers.traceSummary(tr, untracedLat, traced.map(dur(_, "triggerExecution"))) ++
      sparkCounters ++ Layers.routeCounts(sinkCounts) ++ Map(
        "routing.decode_ms" -> (decodeMs, "ms"),
        "routing.tag_ms" -> (tagMs, "ms"),
        "routing.build_ms" -> (med("addBatch") - sinkSpan("routing.plan") -
          sinkSpan("routing.write"), "ms"),
        "routing.plan_ms" -> (sinkSpan("routing.plan"), "ms"),
        "routing.write_ms" -> (sinkSpan("routing.write"), "ms"),
        "routing.bytes_written" -> (files.map(_.length).sum / math.max(progress.size, 1).toDouble, "bytes"),
        "routing.files_written" -> (files.size / math.max(progress.size, 1).toDouble, "count"),
        "sources.latest_offset_ms" -> (med("latestOffset"), "ms"),
        "sources.read_ms" -> (Main.median(probeTimes.toSeq), "ms"),
        "sources.rows_read" -> (progress.map(_.numInputRows).sum.toDouble, "count"),
        "streaming.triggers" -> (progress.size.toDouble, "count"),
        "streaming.add_batch_ms" -> (med("addBatch"), "ms"),
        "streaming.query_planning_ms" -> (med("queryPlanning"), "ms"),
        "streaming.wal_commit_ms" -> (med("walCommit"), "ms"),
        "streaming.commit_offsets_ms" -> (med("commitOffsets"), "ms"),
        "streaming.state_commit_ms" -> (Main.median(state(_.commitTimeMs.toDouble)), "ms"),
        "streaming.state_update_ms" -> (Main.median(state(_.allUpdatesTimeMs.toDouble)), "ms"),
        "streaming.state_rows" -> (last.stateOperators.map(_.numRowsTotal).sum.toDouble, "count"),
        "streaming.state_memory_bytes" ->
          (last.stateOperators.map(_.memoryUsedBytes).sum.toDouble, "bytes"),
        "streaming.gap_ms" -> (Main.median(gaps), "ms"),
        "streaming.dedup_dropped" -> (dropped.toDouble, "count")))
  }
}
