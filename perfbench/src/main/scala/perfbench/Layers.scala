package perfbench

/** The per-layer metric set. Every traced run reports every name; a layer a
  * workload never calls reports 0. Times are medians per operation (pass or
  * trigger) unless the name says otherwise; counts are per operation for
  * `spark.*` and totals over the traced window elsewhere.
  */
object Layers {
  val Reasons: Seq[String] = Seq("undecodable", "missing schema", "wrong event schema",
    "invalid envelope", "unregistered schema", "invalid payload")
  def reasonName(r: String): String = "routing.reason." + r.replace(' ', '_')

  val All: Seq[(String, String)] = Seq(
    "routing.decode_ms" -> "ms", "routing.tag_ms" -> "ms", "routing.build_ms" -> "ms",
    "routing.plan_ms" -> "ms", "routing.write_ms" -> "ms", "routing.bytes_written" -> "bytes",
    "routing.files_written" -> "count", "routing.records_in" -> "count",
    "routing.routed" -> "count", "routing.badmsg" -> "count", "routing.skipped" -> "count") ++
    Reasons.map(reasonName(_) -> "count") ++ Seq(
    "sources.latest_offset_ms" -> "ms", "sources.read_ms" -> "ms", "sources.rows_read" -> "count",
    "streaming.triggers" -> "count", "streaming.add_batch_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms", "streaming.state_commit_ms" -> "ms",
    "streaming.state_update_ms" -> "ms", "streaming.state_rows" -> "count",
    "streaming.state_memory_bytes" -> "bytes", "streaming.gap_ms" -> "ms",
    "streaming.dedup_dropped" -> "count",
    "dedup.exact_ms" -> "ms", "dedup.signature_ms" -> "ms", "dedup.pairs_ms" -> "ms",
    "dedup.components_ms" -> "ms", "dedup.candidate_pairs" -> "count",
    "dedup.verified_pairs" -> "count", "dedup.candidate_precision" -> "ratio",
    "dedup.planted_recall" -> "ratio", "text.line_dedup_ms" -> "ms",
    "vector.semdedup_ms" -> "ms", "vector.topk_ms" -> "ms", "vector.lsh_recall" -> "ratio",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.gc_ms" -> "ms", "spark.busy_share" -> "ratio", "spark.task_skew" -> "ratio",
    "trace.wall_ms" -> "ms", "trace.other_ms" -> "ms", "trace.layers_self_ms" -> "ms",
    "trace.overhead_pct" -> "%")

  /** Every per-layer name, measured values first, 0 for the rest. */
  def fill(measured: Map[String, (Double, String)]): Map[String, (Double, String)] = {
    val unknown = measured.keySet -- All.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
    All.map { case (n, u) => n -> measured.getOrElse(n, (0.0, u)) }.toMap
  }

  /** Route/reason totals as per-layer counts. */
  def routeCounts(c: Wire.Counts): Map[String, (Double, String)] = {
    def sum(p: ((String, String)) => Boolean): Double = c.filter(kv => p(kv._1)).values.sum.toDouble
    Map(
      "routing.records_in" -> (c.values.sum.toDouble, "count"),
      "routing.routed" -> (sum(_._1.startsWith("branch:")), "count"),
      "routing.badmsg" -> (sum(_._1 == "badmsg"), "count"),
      "routing.skipped" -> (sum(_._1 == "skipped"), "count")) ++
      Reasons.map(r => reasonName(r) -> (sum(_._2 == r), "count"))
  }

  /** Self-time table of the traced window (the `run` span), and the tracing
    * overhead: how much slower the same operations ran traced than untraced.
    */
  def traceSummary(tr: Tracer, untracedOpMs: Seq[Double],
                   tracedOpMs: Seq[Double]): Map[String, (Double, String)] = {
    val root = tr.named("run").head
    val self = tr.selfTimes(root)
    val other = self.filter { case (n, _) => !n.contains('.') }.values.sum
    val layers = self.filter { case (n, _) => n.contains('.') }.values.sum
    lastSelf = self
    val overhead = 100.0 * (Main.median(tracedOpMs) / Main.median(untracedOpMs) - 1.0)
    Map(
      "trace.wall_ms" -> (root.ms, "ms"),
      "trace.other_ms" -> (other, "ms"),
      "trace.layers_self_ms" -> (layers, "ms"),
      "trace.overhead_pct" -> (overhead, "%"))
  }

  /** Self times of the last summarized trace, by span name. */
  @volatile var lastSelf: Map[String, Double] = Map.empty
}
