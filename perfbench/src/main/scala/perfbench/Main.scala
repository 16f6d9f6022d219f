package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A correctness check: the program's output against the generator's
  * ground truth.
  */
final case class Gate(name: String, expected: String, actual: String, ok: Boolean)

/** What one workload run measured. `latenciesMs` holds one entry per
  * closed-loop operation (a pass or a trigger) of the untraced window.
  */
final case class Outcome(
    records: Long,
    windowNs: Long,
    cpuNs: Long,
    latenciesMs: Seq[Double],
    attempted: Long,
    failed: Long,
    gates: Seq[Gate],
    prepS: Seq[Double],
    warmupS: Double,
    layers: Map[String, (Double, String)],
    info: Map[String, Any])

final class Ctx(val spark: SparkSession, val cores: Int, val seed: Long,
                val seconds: Int, val trace: Boolean, val scratch: String,
                val corrupt: Boolean) {
  val tracer = new Tracer
  val counters = new Counters(spark)
  def path(name: String): String = new java.io.File(scratch, name).getAbsolutePath
}

object Main {

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = osBean.getProcessCpuTime

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolation percentile (numpy's default). */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val h = (s.size - 1) * p
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }

  /** Order-independent digest of a frame: xor of per-row 64-bit hashes. */
  def digest(df: DataFrame): String = {
    val h = df.select(xxhash64(df.columns.map(col).toSeq: _*).as("h"))
      .agg(bit_xor(col("h"))).head().getLong(0)
    f"$h%016x"
  }

  /** Heap still reachable after a full collection: what the run retains
    * (caches, streaming state) rather than when the collector ran.
    */
  private def retainedHeapMb(): Double = {
    // the second collection reclaims what Spark's cleaner released after the first
    System.gc(); Thread.sleep(500); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def peakRssMb(): Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists) Runtime.getRuntime.totalMemory / 1048576.0
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).get
      finally src.close()
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts("trace") == "1"
    val scratch = opts("scratch")
    val out = opts("out")
    val cores = opts("cores").toInt
    val corrupt = opts.get("corrupt").contains("1")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File(scratch, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(scratch, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      // bounded status bookkeeping, so retained heap does not track job count
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    val sessionS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val ctx = new Ctx(spark, cores, seed, seconds, trace, scratch, corrupt)
    val o = workload match {
      case "stream_route" => StreamRoute.run(ctx)
      case "corpus_dedup" => CorpusDedup.run(ctx)
      case "digest" => Digest.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val traceInfo =
      if (!trace) Map.empty[String, Any]
      else {
        val file = new java.io.File(scratch, "trace_spans.json").getAbsolutePath
        ctx.tracer.writeJson(file, Map("self_ms" -> Layers.lastSelf))
        Map("trace_file" -> file, "trace_self_ms" -> Layers.lastSelf)
      }

    val windowS = o.windowNs / 1e9
    val e2e = Map(
      "throughput_rps" -> (o.records / windowS, "1/s"),
      "ack_latency_p50_ms" -> (percentile(o.latenciesMs, 0.5), "ms"),
      "ack_latency_p90_ms" -> (percentile(o.latenciesMs, 0.9), "ms"),
      "cpu_us_per_rec" -> (o.cpuNs / 1e3 / math.max(o.records, 1L), "us"),
      "setup_s" -> (sessionS + median(o.prepS) + o.warmupS, "s"),
      "retained_heap_mb" -> (retainedHeapMb(), "MB"))
    val errorRate = o.failed.toDouble / math.max(o.attempted, 1L)
    val info = o.info ++ traceInfo ++ Map(
      "error_rate" -> errorRate,
      "ops" -> o.latenciesMs.size,
      "op_ms" -> o.latenciesMs.map(x => math.round(x).toDouble),
      "records" -> o.records,
      "window_s" -> windowS,
      "session_s" -> sessionS,
      "prep_s" -> o.prepS,
      "warmup_s" -> o.warmupS,
      "cores" -> cores,
      "peak_rss_mb" -> peakRssMb(),
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576)
    val metrics = (if (trace) o.layers else e2e).map { case (k, (v, u)) =>
      k -> Map("value" -> v, "unit" -> u)
    }
    val correct = o.failed == 0 && o.gates.forall(_.ok)
    val result = Map(
      "correct" -> correct,
      "attempted" -> o.attempted,
      "failed" -> o.failed,
      "metrics" -> metrics,
      "gates" -> o.gates.map(g => Map("name" -> g.name, "expected" -> g.expected,
        "actual" -> g.actual, "ok" -> g.ok)),
      "info" -> info)
    java.nio.file.Files.write(java.nio.file.Paths.get(out), Json.value(result).getBytes("UTF-8"))
    spark.stop()
  }
}
