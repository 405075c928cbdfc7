package graft.streaming

import graft.SparkSpec
import graft.core.ChangeEvent
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

/** Coordinator semantics: fan-out, commit policies, ledger replay, DLQ, tx batching. */
class CdcPipelineSpec extends SparkSpec {
  import CdcPipeline._

  private def events(n: Int): DataFrame = {
    import spark.implicits._
    ChangeEvent.conform(
      (1 to n).map(i => ("c", s"""{"id":$i}""", i.toLong)).toDF("op", "after", "ts_ms")
        .withColumn("source", struct(lit("db").as("db"), lit("t").as("table"),
          col("ts_ms").as("sequence")))
        .withColumn("event_id", concat(lit("e"), col("ts_ms")))
        .withColumn("tx_end", lit(true)))
  }

  private def tmp(): String = Files.createTempDirectory("graft-test").toString

  test("fan-out delivers the same batch to all sinks; ledger advances") {
    val (s1, s2) = (new MemorySink("s1"), new MemorySink("s2"))
    val dir = tmp()
    val cfg = Config(sinks = Seq(s1, s2), ledgerDir = dir)
    val ledger = new SinkLedger(dir)
    processBatch(cfg, ledger)(events(10), 0L)
    assert(s1.totalRows == 10 && s2.totalRows == 10)
    assert(ledger.committed("s1") == 0L && ledger.committed("s2") == 0L)
    assert(ledger.minCommitted(Seq("s1", "s2")) == 0L)
  }

  test("processors run once per batch, however many sinks read it") {
    val seen = spark.sparkContext.longAccumulator("processor-rows")
    val counting = udf { (_: Long) => seen.add(1); true }
    val (s1, s2) = (new MemorySink("s1"), new MemorySink("s2"))
    val registry = new Metrics.Registry
    val dir = tmp()
    val cfg = Config(Seq(s1, s2), ledgerDir = dir, pipelineName = "once",
      processors = Seq(df => df.filter(counting(col("ts_ms")))), metrics = Some(registry))
    processBatch(cfg, new SinkLedger(dir))(events(200).repartition(4), 0L)
    assert(s1.totalRows == 200 && s2.totalRows == 200)
    assert(seen.value == 200L, "a sink re-ran the processor chain")
    for (id <- Seq("s1", "s2"))
      assert(registry.counterValue("graft_sink_events_total",
        Seq("pipeline" -> "once", "sink" -> id)) == 200.0)
  }

  test("an interrupt during the fan-out still shuts its pool down") {
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val slow = new EventSink {
      val id = "slow"
      def write(batch: DataFrame, batchId: Long): Unit = {
        entered.countDown()
        release.await(60, TimeUnit.SECONDS): Unit
      }
    }
    val dir = tmp()
    val cfg = Config(Seq(slow), ledgerDir = dir, sinkTimeout = Duration.Inf)
    val batch = events(3)
    val before = Thread.getAllStackTraces.keySet.asScala.toSet
    @volatile var failure: Throwable = null
    val driver = new Thread(() =>
      try processBatch(cfg, new SinkLedger(dir))(batch, 0L)
      catch { case t: Throwable => failure = t })
    driver.start()
    assert(entered.await(60, TimeUnit.SECONDS))
    driver.interrupt() // a query stop while the sink is still writing
    driver.join(60000)
    assert(failure.isInstanceOf[InterruptedException], s"failure=$failure")
    release.countDown() // the sink returns
    val fanOut = (Thread.getAllStackTraces.keySet.asScala.toSet -- before - driver)
      .filterNot(_.isDaemon)
    fanOut.foreach(_.join(10000))
    val alive = fanOut.filter(_.isAlive)
    assert(alive.isEmpty, s"fan-out threads left running: ${alive.map(_.getName)}")
  }

  test("per-sink filter applies before write (FilteredSink semantics)") {
    val s = new MemorySink("odd", filter = Some(col("ts_ms") % 2 === 1))
    val dir = tmp()
    processBatch(Config(Seq(s), ledgerDir = dir), new SinkLedger(dir))(events(10), 0L)
    assert(s.totalRows == 5)
  }

  test("required policy: failing required sink fails the batch; optional doesn't") {
    val dir = tmp()
    val bad = new MemorySink("bad", failTimes = 100)
    val good = new MemorySink("good")
    intercept[RuntimeException] {
      processBatch(Config(Seq(bad, good), ledgerDir = dir), new SinkLedger(dir))(events(3), 0L)
    }
    // policy gate precedes ANY commit (reference C-4): nothing is committed
    assert(new SinkLedger(dir).committed("good") == -1L)
    assert(new SinkLedger(dir).committed("bad") == -1L)
    val dir2 = tmp()
    val optBad = new MemorySink("optbad", required = false, failTimes = 100)
    processBatch(Config(Seq(optBad, new MemorySink("g2")), ledgerDir = dir2),
      new SinkLedger(dir2))(events(3), 0L) // must not throw
  }

  test("quorum policy") {
    val dir = tmp()
    val sinks = Seq(new MemorySink("a", failTimes = 100), new MemorySink("b"), new MemorySink("c"))
    processBatch(Config(sinks, CommitQuorum(2), dir), new SinkLedger(dir))(events(3), 0L)
    intercept[RuntimeException] {
      processBatch(Config(sinks, CommitQuorum(3), dir), new SinkLedger(dir))(events(3), 1L)
    }
  }

  test("replay skip: sink at ledger mark does not re-receive the batch") {
    val dir = tmp()
    val s = new MemorySink("s")
    val ledger = new SinkLedger(dir)
    ledger.commit("s", 5L)
    processBatch(Config(Seq(s), ledgerDir = dir), ledger)(events(4), 5L)
    assert(s.batches.isEmpty) // skipped, but policy satisfied
    processBatch(Config(Seq(s), ledgerDir = dir), ledger)(events(4), 6L)
    assert(s.batches.containsKey(6L))
  }

  test("failed-then-recovered sink replays only uncommitted batch (at-least-once)") {
    val dir = tmp()
    val flaky = new MemorySink("flaky", failTimes = 1)
    val cfg = Config(Seq(flaky), ledgerDir = dir)
    val ledger = new SinkLedger(dir)
    intercept[RuntimeException](processBatch(cfg, ledger)(events(2), 0L))
    processBatch(cfg, ledger)(events(2), 0L) // replay succeeds
    assert(flaky.totalRows == 2 && ledger.committed("flaky") == 0L)
  }

  test("tx-boundary split holds back incomplete tail transactions (C-1)") {
    import spark.implicits._
    // tx1 = seq 1..3 (end at 3), tx2 = seq 4..5 (NO tx_end yet)
    val df = ChangeEvent.conform(
      Seq((1L, true), (2L, false), (3L, true), (4L, false), (5L, false))
        .toDF("seq", "end")
        .select(lit("c").as("op"), lit("""{"x":1}""").as("after"),
          struct(lit("db").as("db"), lit("t").as("table"), col("seq").as("sequence")).as("source"),
          col("end").as("tx_end")))
    val (complete, carry) = splitCompleteTx(df)
    assert(complete.count() == 3)
    assert(carry.count() == 2)
    assert(carry.select(min(col("source.sequence"))).head().getLong(0) == 4L)
  }

  test("tx-boundary split never splits a MULTI-TABLE transaction (C-1)") {
    import spark.implicits._
    // One source stream, transactions spanning two tables; the commit marker
    // (tx_end) sits on the FINAL event only — which lands in table B while
    // earlier events of the same tx are in table A (coordinator.rs:87-110).
    //   tx1: seq 1(orders) 2(items) 3(items, tx_end)
    //   tx2: seq 4(items)  5(orders) — no tx_end yet → held back WHOLE
    val df = ChangeEvent.conform(
      Seq((1L, "orders", false), (2L, "items", false), (3L, "items", true),
        (4L, "items", false), (5L, "orders", false))
        .toDF("seq", "tbl", "end")
        .select(lit("c").as("op"), lit("""{"x":1}""").as("after"),
          struct(lit("src1").as("name"), lit("db").as("db"), col("tbl").as("table"),
            col("seq").as("sequence")).as("source"),
          col("end").as("tx_end")))
    val (complete, carry) = splitCompleteTx(df)
    // per-TABLE boundaries would put seq 1 (orders, after orders' last end —
    // there is none) in carryover and split tx1 across batches
    assert(complete.select(col("source.sequence")).as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))
    assert(carry.select(col("source.sequence")).as[Long].collect().sorted.toSeq ==
      Seq(4L, 5L))
  }

  test("tx-boundary split keeps independent source streams independent") {
    import spark.implicits._
    // Stream A committed through seq 2; stream B has an open tx at seq 10.
    // B's open tail must not hold back A's committed events, and A's commit
    // must not release B's tail.
    val df = ChangeEvent.conform(
      Seq(("a", 1L, false), ("a", 2L, true), ("b", 10L, false))
        .toDF("src", "seq", "end")
        .select(lit("c").as("op"), lit("""{"x":1}""").as("after"),
          struct(col("src").as("name"), lit("db").as("db"), lit("t").as("table"),
            col("seq").as("sequence")).as("source"),
          col("end").as("tx_end")))
    val (complete, carry) = splitCompleteTx(df)
    assert(complete.select(col("source.name")).as[String].collect().toSet == Set("a"))
    assert(complete.count() == 2)
    assert(carry.select(col("source.name")).as[String].collect().toSeq == Seq("b"))
  }

  test("DLQ splits ineligible rows into the journal with metadata") {
    val dir = tmp()
    import spark.implicits._
    val batch = ChangeEvent.conform(
      Seq(("c", """{"ok":1}""", "g1"), ("c", """{bad json""", "g2"))
        .toDF("op", "after", "event_id")
        .withColumn("source", struct(lit("db").as("db"), lit("t").as("table"))))
    val cfg = Dlq.Config("pipe1", "sink1", s"$dir/dlq")
    val good = Dlq.splitAndJournal(cfg, batch, Dlq.jsonParses(col("after")),
      "serialization", lit("invalid json"))
    assert(good.count() == 1)
    val journal = spark.read.parquet(s"$dir/dlq")
    assert(journal.count() == 1)
    val row = journal.head()
    assert(row.getAs[String]("event_id") == "g2")
    assert(row.getAs[String]("stream") == "dlq")
    assert(row.getAs[org.apache.spark.sql.Row]("meta").getAs[String]("error_kind") == "serialization")
  }

  test("streaming end-to-end: memory source → pipeline → sinks via foreachBatch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, String, Long)]
    val dir = tmp()
    val sink = new MemorySink("mem")
    val stream = ChangeEvent.conform(
      ms.toDF().toDF("op", "after", "ts_ms")
        .withColumn("source", struct(lit("db").as("db"), lit("t").as("table")))
        .withColumn("tx_end", lit(true)))
    val q = CdcPipeline.start(
      Config(Seq(sink), ledgerDir = dir,
        processors = Seq(df => df.filter(col("op") =!= "d"))),
      stream, s"$dir/chk",
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    ms.addData(("c", """{"id":1}""", 1L), ("d", """{"id":2}""", 2L), ("u", """{"id":3}""", 3L))
    q.awaitTermination(60000)
    assert(sink.totalRows == 2) // delete filtered by processor chain
    assert(new SinkLedger(dir).committed("mem") >= 0L)
  }

  test("lake sink writes hive partitions table/year/month/day") {
    val dir = tmp()
    val sink = new ParquetLakeSink("lake", s"$dir/lake")
    sink.write(events(5).withColumn("ts_ms", lit(1700000000000L)), 7L)
    val out = spark.read.parquet(s"$dir/lake")
    assert(out.count() == 5)
    assert(out.columns.contains("year") && out.columns.contains("table"))
    val r = out.select("table", "year", "month", "day").head()
    assert(r.getString(0) == "t" && r.getInt(1) == 2023 && r.getInt(2) == 11 && r.getInt(3) == 14)
  }
}
