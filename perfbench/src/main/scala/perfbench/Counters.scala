package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Spark-runtime counters, gathered by listeners the benchmark attaches.
  * Counts accumulate between [[reset]] and [[snapshot]]; both drain the
  * listener bus first so no event straddles the boundary.
  */
final class Counters(spark: SparkSession) {
  private var jobs = 0L
  private var tasks = 0L
  private var shuffleWrite = 0L
  private var shuffleRead = 0L
  private var spill = 0L
  private var runMs = 0L
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  private var gcBase = gcMs()
  private var wallBase = System.nanoTime()

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Counters.this.synchronized {
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        runMs += m.executorRunTime
        stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      }
    }
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      Counters.this.synchronized { progress += e.progress }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  })

  def drain(): Unit = PerfbenchBridge.drainListeners(spark.sparkContext)

  def reset(): Unit = {
    drain()
    synchronized {
      jobs = 0; tasks = 0; shuffleWrite = 0; shuffleRead = 0; spill = 0; runMs = 0
      stageTaskMs.clear()
      gcBase = gcMs()
      wallBase = System.nanoTime()
    }
  }

  /** Progress reports of every trigger completed so far, in order. */
  def progressOf(runId: java.util.UUID): Seq[StreamingQueryProgress] = {
    drain()
    synchronized(progress.filter(_.runId == runId).toList)
  }

  /** `spark.*` per-layer metrics since the last reset, per operation. */
  def snapshot(ops: Int, cores: Int): Map[String, (Double, String)] = {
    drain()
    synchronized {
      val wallMs = (System.nanoTime() - wallBase) / 1e6
      val per = math.max(ops, 1).toDouble
      val heaviest = stageTaskMs.values.maxByOption(_.sum)
      val skew = heaviest.map { ts =>
        val sorted = ts.sorted
        val med = sorted(sorted.size / 2).toDouble
        if (med > 0) sorted.last / med else 1.0
      }.getOrElse(1.0)
      Map(
        "spark.jobs" -> (jobs / per, "count"),
        "spark.tasks" -> (tasks / per, "count"),
        "spark.shuffle_write_bytes" -> (shuffleWrite / per, "bytes"),
        "spark.shuffle_read_bytes" -> (shuffleRead / per, "bytes"),
        "spark.spill_bytes" -> (spill / per, "bytes"),
        "spark.gc_ms" -> ((gcMs() - gcBase) / per, "ms"),
        "spark.busy_share" -> (runMs / (wallMs * cores), "ratio"),
        "spark.task_skew" -> (skew, "ratio"))
    }
  }
}
