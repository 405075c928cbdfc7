package perfbench

import graft.streaming.{EventSink, SinkLedger}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** One traced interval. `batch` is the micro-batch it belongs to. */
final case class Span(name: String, batch: Long, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/**
 * Everything the benchmark observes, from outside the program: per-batch
 * timings around the calls it makes into the program, Structured Streaming
 * progress, Spark task metrics and (when tracing) spans. All times are
 * System.nanoTime; progress wall-clock timestamps are mapped onto it.
 */
final class Probe {
  /** Wall-clock ms ↔ nanoTime, fixed once per run. */
  private val wallBaseMs = System.currentTimeMillis()
  private val nanoBase = System.nanoTime()
  def wallMsToNs(ms: Long): Long = nanoBase + (ms - wallBaseMs) * 1000000L

  /** When set, odd-numbered batches are traced and even ones are not, so one
   * run yields both the spans and the tracing overhead (traced vs untraced
   * batches of the same window). */
  @volatile var traceOddBatches = false
  @volatile private var tracing = false
  @volatile var currentBatch: Long = -1L
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()

  final class Batch(val id: Long) {
    var processStartNs, processEndNs = 0L
    var sinkStartNs, sinkEndNs = 0L
    var ledgerStartNs, ledgerEndNs = 0L
    var failed = false
    // from progress
    var triggerStartNs = 0L
    var durations: Map[String, Long] = Map.empty
    var startLine, endLine = -1L
    def committed: Boolean = ledgerEndNs > 0
  }
  val batches = new ConcurrentHashMap[Long, Batch]()
  private def batch(id: Long) = batches.computeIfAbsent(id, new Batch(_))

  // Spark task metrics, attributed to micro-batches via the batch-id job property
  private val stageBatch = new ConcurrentHashMap[Int, Long]()
  final class TaskTotals { var jobs, cpuNs, shuffleBytes, gcMs = 0L }
  val tasks = new ConcurrentHashMap[Long, TaskTotals]()

  /** Forget all batches (a new query restarts batch ids at 0). */
  def reset(): Unit = { batches.clear(); tasks.clear(); stageBatch.clear(); spans.clear() }

  def span(name: String, batchId: Long, startNs: Long, endNs: Long): Unit =
    if (tracing) spans.add(Span(name, batchId, startNs, endNs))

  def brokerRequest(api: String, startNs: Long, endNs: Long): Unit =
    span(s"broker.$api", currentBatch, startNs, endNs)

  /** foreachBatch body: time the program's `processBatch` call. */
  def processBatch(id: Long)(body: => Unit): Unit = {
    val b = batch(id)
    currentBatch = id
    tracing = traceOddBatches && id % 2 == 1
    b.processStartNs = System.nanoTime()
    try body catch { case e: Throwable => b.failed = true; throw e }
    finally {
      b.processEndNs = System.nanoTime()
      span("processBatch", id, b.processStartNs, b.processEndNs)
      tracing = false
    }
  }

  /** Times every `write` of the wrapped sink. */
  final class TimedSink(inner: Long => EventSink) extends EventSink {
    override def id: String = "kafka"
    override def write(batch0: DataFrame, batchId: Long): Unit = {
      val b = batch(batchId)
      b.sinkStartNs = System.nanoTime()
      try inner(batchId).write(batch0, batchId)
      finally {
        b.sinkEndNs = System.nanoTime()
        span("sink.write", batchId, b.sinkStartNs, b.sinkEndNs)
      }
    }
  }

  /** Times every ledger commit; the commit is the moment a batch is durable. */
  final class TimedLedger(dir: String) extends SinkLedger(dir) {
    override def commit(sinkId: String, batchId: Long): Unit = {
      val t0 = System.nanoTime()
      super.commit(sinkId, batchId)
      val t1 = System.nanoTime()
      val b = batch(batchId)
      b.ledgerStartNs = t0; b.ledgerEndNs = t1
      span("ledger.commit", batchId, t0, t1)
    }
  }

  private val OffsetRe = """"segment":(\d+),"line":(\d+)""".r
  /** Backlog files hold one line each, so (segment, line) is file index `segment + line`. */
  private def lineOf(json: String): Long =
    if (json == null) 0L
    else OffsetRe.findFirstMatchIn(json).map(m => m.group(1).toLong + m.group(2).toLong).getOrElse(0L)

  val progressListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0 && p.sources.nonEmpty) {
        val b = batch(p.batchId)
        b.triggerStartNs = wallMsToNs(java.time.Instant.parse(p.timestamp).toEpochMilli)
        b.durations = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
        b.startLine = lineOf(p.sources.head.startOffset)
        b.endLine = lineOf(p.sources.head.endOffset)
      }
    }
  }

  val taskListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
        .map(_.toLong).getOrElse(-1L)
      if (id >= 0) {
        val t = tasks.computeIfAbsent(id, _ => new TaskTotals)
        t.synchronized(t.jobs += 1)
        e.stageIds.foreach(s => stageBatch.put(s, id))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val id: java.lang.Long = stageBatch.get(e.stageId)
      val m = e.taskMetrics
      if (id != null && m != null) {
        val t = tasks.computeIfAbsent(id, _ => new TaskTotals)
        t.synchronized {
          t.cpuNs += m.executorCpuTime
          t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          t.gcMs += m.jvmGCTime
        }
      }
    }
  }

  /** Committed batches of the current query, by id. */
  def committedBatches: Seq[Batch] =
    batches.values().asScala.filter(b => b.committed && b.endLine >= 0).toSeq.sortBy(_.id)
}

object Stats {
  /** Linear-interpolated percentile, q in [0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val r = q * (s.length - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Percentile of values given with integer weights (one weight per event). */
  def weightedPct(xs: Seq[(Double, Int)], q: Double): Double = {
    val s = xs.filter(_._2 > 0).sortBy(_._1)
    val total = s.map(_._2.toLong).sum
    if (total == 0) return Double.NaN
    val rank = q * (total - 1)
    var seen = 0L
    val it = s.iterator
    while (it.hasNext) {
      val (v, w) = it.next()
      seen += w
      if (seen > rank) return v
    }
    s.last._1
  }

  /** Length of the union of intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

}
