package perfbench

import graft.sources.{MysqlBinlog, MysqlBinlogFixture, PgOutput}
import graft.streaming.{CdcPipeline, KafkaWire, SinkLedger}
import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/**
 * A workload: which source, how many events a micro-batch admits, how many
 * events one backlog segment (one source transaction) carries, which producer
 * path, and `rate` in events per second — the generator's fixed rate for an
 * open-loop tail, or what a drain's backlog is sized by (`rate × --seconds`
 * events, so the drain lasts about that long).
 */
final case class Workload(name: String, source: SourceKind, batchEvents: Int, perSegment: Int,
                          transactional: Boolean, tail: Boolean, rate: Double) {
  def maxLines: Int = batchEvents / perSegment
}

object Main {
  val Workloads: Seq[Workload] = Seq(
    Workload("mysql_drain_alo_16k", Mysql, 16000, 500, transactional = false, tail = false, rate = 12000),
    Workload("mysql_drain_eo_2k", Mysql, 2000, 500, transactional = true, tail = false, rate = 3000),
    Workload("pg_tail_alo", Pg, 2000, 250, transactional = false, tail = true, rate = 200))

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = Workloads.find(_.name == args.getOrElse("workload", ""))
      .getOrElse(sys.error(s"--workload must be one of ${Workloads.map(_.name).mkString(", ")}"))
    val run = new Run(w, args("seed").toLong, args("seconds").toInt, args("trace") == "1",
      Paths.get(args("work")), Paths.get(args("out")))
    val code =
      try {
        val r = run.execute()
        println(r.json)
        if (r.correct) 0 else 1
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      } finally run.close()
    System.exit(code)
  }
}

final case class Metric(value: Double, unit: String)

final case class Result(correct: Boolean, attempted: Long, failed: Long,
                        metrics: Seq[(String, Metric)]) {
  def json: String = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    val ms = metrics.map { case (k, m) => s""""$k": {"value": ${num(m.value)}, "unit": "${m.unit}"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}

/** What one timed window measured. */
final case class Window(
    batches: Seq[Probe#Batch], events: Long, expected: Long, eventsPerS: Double,
    latency: Seq[(Double, Int)], lagMax: Long, generatorLateMs: Seq[Double],
    tasks: Seq[Probe#TaskTotals], broker: Map[String, Long], audit: Seq[String],
    attempted: Long, failed: Long) {
  /** Trigger start to ledger commit, per batch. A fresh query's first batch
   * (id 0, query start-up) is left out; it still counts in events/s. */
  def batchMsWhere(p: Probe#Batch => Boolean): Seq[Double] =
    batches.filter(b => b.id > 0 && p(b)).map(b => (b.ledgerEndNs - b.triggerStartNs) / 1e6)
  def batchMs: Seq[Double] = batchMsWhere(_ => true)
}

final class Run(w: Workload, seed: Long, seconds: Int, trace: Boolean, work: Path, out: Path) {
  private val cores = Runtime.getRuntime.availableProcessors()
  private val probe = new Probe
  private val broker = new Broker(probe)
  private var spark: SparkSession = _
  private val SetupRounds = 3
  private val WarmPk = 1000000000L
  /** Events each set-up round drains: one batch, and at least 8000 on the drains to warm the JIT. */
  private val WarmEvents = if (w.tail) w.batchEvents else math.max(w.batchEvents, 8000)
  private val log = System.err

  def close(): Unit = {
    if (spark != null) spark.stop()
    broker.stop()
  }

  private def session(master: String): SparkSession = {
    if (spark != null) spark.stop()
    spark = SparkSession.builder().master(master).appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.streams.addListener(probe.progressListener)
    spark.sparkContext.addSparkListener(probe.taskListener)
    spark
  }

  private def dir(name: String): Path = Files.createDirectories(work.resolve(name))

  private def brokerCounters(): Map[String, Long] = Map(
    "connections" -> broker.connections.get(),
    "produce" -> broker.requests.get(0), "metadata" -> broker.requests.get(3),
    "txn" -> (broker.requests.get(22) + broker.requests.get(24) + broker.requests.get(26)),
    "records" -> broker.recordsAppended.get(), "bytes" -> broker.bytesAppended.get(),
    "busyNs" -> broker.busyNs.get())

  private def start(stream: DataFrame, chk: Path, ledgerDir: Path, trigger: Trigger): StreamingQuery = {
    val cfg = CdcPipeline.Config(Seq(new probe.TimedSink(Pipeline.sink(broker.port, w.transactional))),
      ledgerDir = ledgerDir.toString, processors = Pipeline.processors)
    val ledger = new probe.TimedLedger(cfg.ledgerDir)
    stream.writeStream.trigger(trigger)
      .option("checkpointLocation", chk.toString)
      .foreachBatch((df: DataFrame, id: Long) =>
        probe.processBatch(id)(CdcPipeline.processBatch(cfg, ledger)(df, id)))
      .start()
  }

  private def writeAll(d: Path, lines: Seq[Array[Byte]], firstIndex: Int = 0): Seq[Long] = {
    val t0 = System.nanoTime()
    lines.zipWithIndex.map { case (l, i) =>
      Inputs.writeSegment(d, firstIndex + i, l); System.nanoTime() - t0
    }
  }

  private def awaitCommitted(endLine: Long, timeoutMs: Long, q: StreamingQuery): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def done = probe.batches.values().stream().anyMatch(b => b.committed && b.endLine >= endLine)
    while (!done) {
      q.exception.foreach(e => throw e)
      require(System.currentTimeMillis() < deadline, s"timed out waiting for line $endLine to commit")
      Thread.sleep(5)
      ListenerBus.drain(spark.sparkContext)
    }
  }

  private def drainEvents(events: Int): Int =
    math.max(4, math.ceil(events.toDouble / w.batchEvents).toInt) * w.batchEvents

  // ——— set-up: session start + stream start + warm-up, several times ———

  private var tailQuery: StreamingQuery = _
  private var tailDir: Path = _
  private var tailNextIndex = 0

  /** Runs the set-up rounds; returns each round's seconds. The last round's
   * session (and, for the tail, its running query) carries on into the window. */
  private def setup(): Seq[Double] = {
    val warm = Inputs.backlog(w.source, seed, WarmPk, WarmEvents, w.perSegment, cores)
    val warmDir = dir("warm")
    if (!w.tail) writeAll(warmDir, warm.lines)
    (1 to SetupRounds).map { round =>
      if (tailQuery != null) { tailQuery.stop(); tailQuery = null }
      val roundDir = dir(s"round-$round")
      val source = if (w.tail) { writeAll(dir(s"round-$round/backlog"), warm.lines); roundDir.resolve("backlog") }
                   else warmDir
      if (spark != null) { spark.stop(); spark = null }
      probe.reset()
      val t0 = System.nanoTime()
      session(s"local[$cores]")
      val stream = Pipeline.stream(spark, w.source, source.toString, w.maxLines)
      if (w.tail) {
        val q = start(stream, roundDir.resolve("chk"), roundDir.resolve("ledger"), Trigger.ProcessingTime(0L))
        awaitCommitted(warm.segments, 60000, q)
        tailQuery = q; tailDir = source; tailNextIndex = warm.segments
      } else {
        val q = start(stream, roundDir.resolve("chk"), roundDir.resolve("ledger"), Trigger.AvailableNow())
        q.awaitTermination()
      }
      val s = (System.nanoTime() - t0) / 1e9
      log.println(f"[perfbench] setup round $round: $s%.3f s")
      s
    }
  }

  // ——— timed windows ———

  private def measure(backlog: Inputs.Backlog, firstIndex: Int, windowStartNs: Long,
                      dueNs: Int => Long, writtenNs: Int => Long, generatorLateMs: Seq[Double],
                      ledgerDir: Path): Window = {
    ListenerBus.drain(spark.sparkContext)
    val all = probe.committedBatches
    val batches = all.filter(b => b.startLine >= firstIndex)
    val lastIndex = firstIndex + backlog.segments
    val seg = (l: Long) => (l - firstIndex).toInt
    val eventsOf = (b: Probe#Batch) =>
      (seg(b.startLine) until seg(math.min(b.endLine, lastIndex))).map(backlog.eventsOfSegment).sum.toLong
    val events = batches.map(eventsOf).sum
    val firstTrigger = if (w.tail) windowStartNs else batches.map(_.triggerStartNs).min
    val lastCommit = batches.map(_.ledgerEndNs).max
    val latency = batches.flatMap { b =>
      (seg(b.startLine) until seg(b.endLine)).map(s =>
        ((b.ledgerEndNs - dueNs(s)) / 1e6, backlog.eventsOfSegment(s)))
    }
    var committed = 0L
    val lag = batches.map { b =>
      committed += eventsOf(b)
      val appended = (0 until backlog.segments).iterator
        .filter(s => writtenNs(s) <= b.ledgerEndNs).map(backlog.eventsOfSegment(_).toLong).sum
      appended - committed
    }
    val failedBatches = probe.batches.values().toArray(Array.empty[Probe#Batch]).count(_.failed)
    val attempted = batches.size + failedBatches

    // delivery audit
    val expectedKeys = backlog.rows.filter(Inputs.kept).map(r => Inputs.eventKey(w.source, r._1)).toSeq
    val audit = mutable.ArrayBuffer[String]()
    val expectedSet = expectedKeys.toSet
    if (w.transactional) {
      val got = broker.committedTxn.map(_.key)
      if (got.size != expectedKeys.size || got.toSet != expectedSet)
        audit += s"committed transactions hold ${got.size} records (${got.toSet.size} distinct keys), " +
          s"expected exactly ${expectedKeys.size}"
    } else {
      val got = broker.uniqueIdempotent.map(_.key).toSet
      val missing = expectedSet.diff(got)
      if (missing.nonEmpty) audit += s"${missing.size} expected keys never arrived, e.g. ${missing.take(3)}"
      val extra = got.diff(expectedSet)
      if (extra.nonEmpty) audit += s"${extra.size} unexpected keys arrived, e.g. ${extra.take(3)}"
    }
    val lastBatch = batches.map(_.id).max
    val ledgerAt = new SinkLedger(ledgerDir.toString).committed("kafka")
    if (ledgerAt != lastBatch) audit += s"ledger ends at $ledgerAt, last batch is $lastBatch"
    if (events != backlog.events) audit += s"committed $events source events, wrote ${backlog.events}"
    if (failedBatches > 0) audit += s"$failedBatches micro-batches failed"

    Window(batches, events, expectedKeys.size, events / ((lastCommit - firstTrigger) / 1e9),
      latency, lag.max, generatorLateMs,
      batches.flatMap(b => Option(probe.tasks.get(b.id))), brokerCounters(), audit.toSeq,
      attempted, failedBatches)
  }

  private var windows = 0

  private def drainWindow(backlog: Inputs.Backlog, backlogDir: Path, lateMs: Seq[Double]): Window = {
    windows += 1
    val d = dir(s"window-$windows")
    probe.reset(); broker.reset()
    val t0 = System.nanoTime()
    val q = start(Pipeline.stream(spark, w.source, backlogDir.toString, w.maxLines),
      d.resolve("chk"), d.resolve("ledger"), Trigger.AvailableNow())
    q.awaitTermination()
    measure(backlog, 0, t0, _ => t0, _ => t0, lateMs, d.resolve("ledger"))
  }

  private def tailWindow(backlog: Inputs.Backlog): Window = {
    val first = tailNextIndex
    tailNextIndex += backlog.segments
    probe.reset(); broker.reset()
    val intervalNs = (w.perSegment / w.rate * 1e9).toLong
    val gen = new Inputs.Generator(tailDir, backlog.lines, first, System.nanoTime() + 20000000L, intervalNs)
    gen.start(); gen.join()
    Option(gen.failure).foreach(e => throw e)
    awaitCommitted(first + backlog.segments, 60000, tailQuery)
    measure(backlog, first, gen.startNs, gen.dueNs(_), gen.writtenNs(_),
      gen.dueNs.indices.map(k => (gen.writtenNs(k) - gen.dueNs(k)) / 1e6),
      tailDir.getParent.resolve("ledger"))
  }

  private var nextPk = 1L

  /** One timed window on fresh inputs: a pre-written backlog (drains) or the
   * generator's schedule (tail). */
  private def window(): (Window, Seq[String]) = {
    val events =
      if (w.tail) math.ceil(w.rate * seconds / w.perSegment).toInt * w.perSegment
      else drainEvents((w.rate * seconds).toInt)
    val backlog = Inputs.backlog(w.source, seed, nextPk, events, w.perSegment, cores)
    nextPk += events
    val (win, files) =
      if (w.tail) {
        val first = tailNextIndex
        (tailWindow(backlog), (first until first + backlog.segments).map(i => tailDir.resolve(Inputs.segmentName(i))))
      } else {
        val d = dir(s"backlog-$nextPk")
        val late = writeAll(d, backlog.lines).map(_ / 1e6)
        (drainWindow(backlog, d, late), backlog.lines.indices.map(i => d.resolve(Inputs.segmentName(i))))
      }
    log.println(f"[perfbench] window: ${win.events} events in ${win.batches.size} batches, " +
      f"${win.eventsPerS}%.0f events/s, batch ms ${win.batchMs.map(_.round).mkString(" ")}")
    win.audit.foreach(a => log.println(s"[perfbench] AUDIT FAILED: $a"))
    (win, files.map(_.toString))
  }

  /** Sum and count of CRC32 over the delivered values. */
  private def deliveredDigest(): (Long, Long) = {
    val delivered = if (w.transactional) broker.committedTxn else broker.uniqueIdempotent
    (delivered.map(_.valueCrc).sum, delivered.size.toLong)
  }

  /** The delivered digest against the same chain run in batch mode over the same files. */
  private def digest(files: Seq[String], got: (Long, Long)): Option[String] = {
    val row = Pipeline.wireColumns(Pipeline.batchChain(spark, w.source, files))
      .agg(sum(crc32(col("value"))), count(lit(1))).head()
    val want = (row.getLong(0), row.getLong(1))
    if (got == want) None
    else Some(s"delivered value digest $got differs from the batch-mode chain's $want")
  }

  private def heapRetainedMb(): Double = {
    System.gc(); System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
  }

  def execute(): Result = {
    val setupS = setup()
    probe.traceOddBatches = trace
    val (win, files) = window()
    probe.traceOddBatches = false
    val delivered = deliveredDigest()
    broker.reset() // the broker's delivery log is the benchmark's, not the pipeline's heap
    val heapMb = heapRetainedMb()
    if (tailQuery != null) { tailQuery.stop(); tailQuery = null }
    val digestFailure = digest(files, delivered)
    digestFailure.foreach(f => log.println(s"[perfbench] AUDIT FAILED: $f"))
    val correct = digestFailure.isEmpty && win.audit.isEmpty
    val metrics = if (trace) perLayer(win) else endToEnd(win, setupS, heapMb)
    Result(correct, win.attempted, if (correct) win.failed else win.attempted, metrics)
  }

  private def endToEnd(a: Window, setupS: Seq[Double], heapMb: Double): Seq[(String, Metric)] = Seq(
    "events_per_s" -> Metric(a.eventsPerS, "1/s"),
    "batch_ms_p50" -> Metric(Stats.median(a.batchMs), "ms"),
    "batch_ms_p90" -> Metric(Stats.pct(a.batchMs, 0.9), "ms"),
    "event_latency_ms_p50" -> Metric(Stats.weightedPct(a.latency, 0.5), "ms"),
    "event_latency_ms_p99" -> Metric(Stats.weightedPct(a.latency, 0.99), "ms"),
    "setup_s" -> Metric(Stats.median(setupS), "s"),
    "heap_retained_mb" -> Metric(heapMb, "MB"))

  // ——— traced run: per-layer metrics ———

  private def perLayer(b: Window): Seq[(String, Metric)] = {
    val n = b.batches.size.toDouble
    def p50(f: Probe#Batch => Double) = Stats.median(b.batches.map(f))
    def dur(k: String) = p50(_.durations.getOrElse(k, 0L).toDouble)
    def ms(ns: Long) = ns / 1e6
    val br = b.broker
    val spans = writeSpans()
    val layer = layerCalls()
    val speedup = parallelSpeedup()
    Seq(
      "sources.latest_offset_ms_p50" -> Metric(dur("latestOffset"), "ms"),
      "sources.lag_events_max" -> Metric(b.lagMax.toDouble, "count"),
      "sources.mysql_decode_us_per_event" -> Metric(layer("mysql_decode"), "us"),
      "sources.pg_decode_us_per_event" -> Metric(layer("pg_decode"), "us"),
      "microbatch.query_planning_ms_p50" -> Metric(dur("queryPlanning"), "ms"),
      "microbatch.wal_commit_ms_p50" -> Metric(dur("walCommit"), "ms"),
      "microbatch.commit_offsets_ms_p50" -> Metric(dur("commitOffsets"), "ms"),
      "microbatch.add_batch_ms_p50" -> Metric(dur("addBatch"), "ms"),
      "operators.chain_us_per_event" -> Metric(layer("chain"), "us"),
      "operators.envelope_bytes_per_event" -> Metric(layer("envelope_bytes"), "bytes"),
      "pipeline.process_batch_ms_p50" -> Metric(p50(x => ms(x.processEndNs - x.processStartNs)), "ms"),
      "pipeline.materialize_ms_p50" -> Metric(p50(x => ms(x.processEndNs - x.processStartNs -
        (x.sinkEndNs - x.sinkStartNs) - (x.ledgerEndNs - x.ledgerStartNs))), "ms"),
      "pipeline.task_cpu_ms_per_kevent" -> Metric(b.tasks.map(_.cpuNs).sum / 1e6 / (b.events / 1000.0), "ms"),
      "pipeline.shuffle_bytes_per_event" -> Metric(b.tasks.map(_.shuffleBytes).sum.toDouble / b.events, "bytes"),
      "pipeline.spark_jobs_per_batch" -> Metric(b.tasks.map(_.jobs).sum / n, "count"),
      "pipeline.gc_ms_per_batch" -> Metric(b.tasks.map(_.gcMs).sum / n, "ms"),
      "pipeline.failed_batch_pct" -> Metric(100.0 * b.failed / math.max(1L, b.attempted), "%"),
      "sink.write_ms_p50" -> Metric(p50(x => ms(x.sinkEndNs - x.sinkStartNs)), "ms"),
      "ledger.commit_ms_p50" -> Metric(p50(x => ms(x.ledgerEndNs - x.ledgerStartNs)), "ms"),
      "kafka.connections_per_batch" -> Metric(br("connections") / n, "count"),
      "kafka.metadata_requests_per_batch" -> Metric(br("metadata") / n, "count"),
      "kafka.txn_requests_per_batch" -> Metric(br("txn") / n, "count"),
      "kafka.produce_requests_per_batch" -> Metric(br("produce") / n, "count"),
      "kafka.records_per_produce" -> Metric(br("records").toDouble / math.max(1L, br("produce")), "count"),
      "kafka.bytes_per_event" -> Metric(br("bytes").toDouble / math.max(1L, br("records")), "bytes"),
      "kafka.encode_us_per_event" -> Metric(layer("encode"), "us"),
      "kafka.delivered_over_expected" -> Metric(br("records").toDouble / b.expected, "ratio"),
      "broker.busy_ms_per_batch" -> Metric(br("busyNs") / 1e6 / n, "ms"),
      "generator.late_ms_p99" -> Metric(Stats.pct(b.generatorLateMs, 0.99), "ms"),
      "trace.overhead_pct" -> Metric(100.0 * (Stats.median(b.batchMsWhere(_.id % 2 == 1)) /
        Stats.median(b.batchMsWhere(_.id % 2 == 0)) - 1.0), "%"),
      "spark.parallel_speedup" -> Metric(speedup, "ratio")) ++ spans
  }

  /** Writes the spans (with self times) and returns per-layer self-time medians. */
  private def writeSpans(): Seq[(String, Metric)] = {
    import scala.jdk.CollectionConverters._
    val spans = probe.spans.asScala.toSeq.filter(_.batch >= 0)
    val byBatch = probe.committedBatches.map(b => b.id -> b).toMap
    // the batch span runs from trigger start to ledger commit; the batch id is every span's parent
    val batchSpans = spans.map(_.batch).distinct.flatMap(byBatch.get)
      .map(b => Span("batch", b.id, b.triggerStartNs, b.ledgerEndNs))
    // for self time, layers nest: batch ⊃ processBatch ⊃ {sink.write ⊃ broker.*, ledger.commit}
    def enclosing(s: Span): String = s.name match {
      case "processBatch" => "batch"
      case "sink.write" | "ledger.commit" => "processBatch"
      case n if n.startsWith("broker.") => "sink.write"
      case _ => ""
    }
    val all = batchSpans ++ spans
    val children = all.groupBy(s => (s.batch, enclosing(s)))
    val withSelf = all.map { s =>
      val covered = children.getOrElse((s.batch, s.name), Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))).filter(iv => iv._2 > iv._1)
      s -> (s.durNs - Stats.unionNs(covered))
    }
    Files.createDirectories(out)
    val file = out.resolve(s"trace-${w.name}-seed$seed.jsonl")
    val t0 = all.map(_.startNs).min
    Files.write(file, withSelf.sortBy(_._1.startNs).map { case (s, self) =>
      val parent = if (s.name == "batch") "null" else s""""batch-${s.batch}""""
      s"""{"name": "${s.name}", "batch": ${s.batch}, "parent": $parent, """ +
        s""""start_us": ${(s.startNs - t0) / 1000}, "dur_us": ${s.durNs / 1000}, "self_us": ${self / 1000}}"""
    }.mkString("", "\n", "\n").getBytes("UTF-8"))
    log.println(s"[perfbench] spans written to $file")
    def selfP50(name: String) = Stats.median(
      withSelf.filter(_._1.name == name).map(_._2 / 1e6))
    def selfPerBatch(prefix: String) =
      withSelf.filter(_._1.name.startsWith(prefix)).map(_._2).sum / 1e6 / math.max(1, batchSpans.size)
    Seq(
      "selftime.batch_ms_p50" -> Metric(selfP50("batch"), "ms"),
      "selftime.process_batch_ms_p50" -> Metric(selfP50("processBatch"), "ms"),
      "selftime.sink_write_ms_p50" -> Metric(selfP50("sink.write"), "ms"),
      "selftime.ledger_commit_ms_p50" -> Metric(selfP50("ledger.commit"), "ms"),
      "selftime.broker_ms_per_batch" -> Metric(selfPerBatch("broker."), "ms"))
  }

  // ——— direct single-thread calls into each layer, on this workload's inputs ———

  private def medianNs(reps: Int)(f: => Unit): Double =
    Stats.median((1 to reps).map { _ => val t0 = System.nanoTime(); f; (System.nanoTime() - t0).toDouble })

  private def layerCalls(): Map[String, Double] = {
    val rows = (0 until 16000).map(i => Inputs.row(seed, 1L + i))
    val names = MysqlBinlogFixture.ordersCols.map(_.name)
    val mysqlSegs = rows.grouped(500).map(g => Inputs.segment(Mysql, g)).toSeq
    val pgSegs = rows.grouped(500).map(g => Inputs.segment(Pg, g)).toSeq
    val n = rows.size.toDouble
    val mysqlDecode = medianNs(5)(mysqlSegs.foreach(s => MysqlBinlog.decodeSegment(s, (_, _) => names))) / 1e3 / n
    val pgDecode = medianNs(5)(pgSegs.foreach(s => PgOutput.decodeSegment(s))) / 1e3 / n
    val decoded = Pipeline.conform(w.source, w.source match {
      case Mysql => MysqlBinlogFixture.decodedOrders(ordersFrame(rows))
      case Pg => graft.sources.PgOutputFixture.decodedOrders(ordersFrame(rows))
    }).cache()
    decoded.count()
    val chain = Pipeline.wireColumns(Pipeline.processors.foldLeft(decoded)((df, p) => p(df)).coalesce(1))
    var valueBytes, kept = 0L
    val chainUs = medianNs(5) {
      val r = chain.agg(sum(length(col("topic"))), sum(length(col("value"))), count(lit(1))).head()
      valueBytes = r.getLong(1); kept = r.getLong(2)
    } / 1e3 / n
    val records = chain.select("key", "value").collect().map(r =>
      KafkaWire.Record(r.getString(0).getBytes("UTF-8"), r.getAs[Array[Byte]](1), Nil)).toSeq
    val encodeUs = medianNs(5)(KafkaWire.encodeBatch(records)) / 1e3 / records.size
    decoded.unpersist()
    Map("mysql_decode" -> mysqlDecode, "pg_decode" -> pgDecode, "chain" -> chainUs,
      "envelope_bytes" -> valueBytes.toDouble / kept, "encode" -> encodeUs)
  }

  private def ordersFrame(rows: Seq[Inputs.OrderRow]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "dms", "o_orderpriority")
      .withColumn("o_orderdate", timestamp_millis(col("dms"))).drop("dms")
  }

  /** This workload's drain at local[cores] over local[1], on one fixed backlog. */
  private def parallelSpeedup(): Double = {
    val events = 3 * w.batchEvents
    val backlog = Inputs.backlog(w.source, seed, nextPk, events, w.perSegment, cores)
    nextPk += events
    val d = dir("speedup-backlog")
    writeAll(d, backlog.lines)
    def eps(master: String): Double = {
      session(master)
      val warmDir = work.resolve("warm")
      if (!Files.exists(warmDir.resolve(Inputs.segmentName(0)))) {
        Files.createDirectories(warmDir)
        writeAll(warmDir, Inputs.backlog(w.source, seed, WarmPk, w.batchEvents, w.perSegment, cores).lines)
      }
      windows += 1
      val wd = dir(s"window-$windows")
      start(Pipeline.stream(spark, w.source, warmDir.toString, w.maxLines), wd.resolve("chk"),
        wd.resolve("ledger"), Trigger.AvailableNow()).awaitTermination()
      val win = drainWindow(backlog, d, Nil)
      require(win.audit.isEmpty, s"speedup drain at $master failed its audit: ${win.audit}")
      win.eventsPerS
    }
    val one = eps("local[1]")
    val many = eps(s"local[$cores]")
    many / one
  }
}
