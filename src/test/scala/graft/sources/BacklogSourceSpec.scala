package graft.sources

import graft.SparkSpec
import graft.core.ChangeEvent
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** DSv2 backlog source: offsets, replay order, resume from checkpoint. */
class BacklogSourceSpec extends SparkSpec {

  private def writeSegment(dir: String, name: String, events: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, name), events.mkString("\n").concat("\n").getBytes)
  }

  private def eventJson(id: Int, op: String = "c"): String =
    s"""{"op":"$op","after":"{\\"id\\":$id}","ts_ms":$id,"event_id":"e$id"}"""

  test("offset json survives segment names with quotes and backslashes") {
    import BacklogSource.{BacklogOffset, parseOffset}
    for (name <- Seq("plain.segb64", """we"ird\name.jsonl""", "tab\there", "")) {
      val off = BacklogOffset(3, 42L, name)
      assert(parseOffset(off.json()) == off, s"round-trip failed for '$name'")
    }
    // pre-upgrade bare offsets still parse
    assert(parseOffset("""{"segment":1,"line":2}""") == BacklogOffset(1, 2L))
  }

  test("reads segments in order with (segment, pos) offsets") {
    val dir = Files.createTempDirectory("backlog").toString
    writeSegment(dir, "seg-000.jsonl", (1 to 5).map(eventJson(_)))
    writeSegment(dir, "seg-001.jsonl", (6 to 8).map(eventJson(_)))
    val out = Files.createTempDirectory("backlog-out").toString

    val q = spark.readStream.format(classOf[BacklogSource].getName)
      .option("path", dir).load()
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$out/chk")
      .format("parquet").option("path", s"$out/data").start()
    q.awaitTermination(60000)

    val rows = spark.read.parquet(s"$out/data")
    assert(rows.count() == 8)
    val first = rows.orderBy("segment", "pos").head()
    assert(first.getAs[String]("segment") == "seg-000.jsonl" && first.getAs[Long]("pos") == 0L)
    assert(rows.filter(col("segment") === "seg-001.jsonl").count() == 3)
  }

  test("resume: restart picks up only newly appended segments") {
    val dir = Files.createTempDirectory("backlog2").toString
    writeSegment(dir, "seg-000.jsonl", (1 to 4).map(eventJson(_)))
    val out = Files.createTempDirectory("backlog2-out").toString

    def run(): Unit = {
      val q = spark.readStream.format(classOf[BacklogSource].getName)
        .option("path", dir).load()
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$out/chk")
        .format("parquet").option("path", s"$out/data").start()
      q.awaitTermination(60000)
    }
    run()
    assert(spark.read.parquet(s"$out/data").count() == 4)
    writeSegment(dir, "seg-001.jsonl", (5 to 9).map(eventJson(_)))
    run()
    val rows = spark.read.parquet(s"$out/data")
    assert(rows.count() == 9) // 4 + 5, no re-read of seg-000
    assert(rows.filter(col("segment") === "seg-000.jsonl").count() == 4)
  }

  test("maxLinesPerTrigger bounds micro-batches; full pipeline parses ChangeEvents") {
    val dir = Files.createTempDirectory("backlog3").toString
    writeSegment(dir, "seg-000.jsonl", (1 to 20).map(eventJson(_)))
    val out = Files.createTempDirectory("backlog3-out").toString

    val parsed = spark.readStream.format(classOf[BacklogSource].getName)
      .option("path", dir).option("maxLinesPerTrigger", "7").load()
      .select(from_json(col("value"), ChangeEvent.schema).as("e"), col("segment"), col("pos"))
      .select(col("e.op"), col("e.after"), col("e.event_id"), col("pos"))

    val batchSizes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = parsed.writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$out/chk")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batchSizes.add(df.count()): Unit
      }.start()
    q.awaitTermination(60000)

    val sizes = batchSizes.toArray(Array.empty[java.lang.Long]).map(_.toLong)
    assert(sizes.sum == 20, s"sizes=${sizes.toSeq}")
    assert(sizes.forall(_ <= 7), s"sizes=${sizes.toSeq}") // trigger bound respected
  }

  /** `segments` files of `lines` events each, named seg-000.jsonl, … */
  private def backlog(segments: Int, lines: Int): String = {
    val dir = Files.createTempDirectory("backlog-plan").toString
    for (g <- 0 until segments)
      writeSegment(dir, f"seg-$g%03d.jsonl", (0 until lines).map(i => eventJson(g * lines + i)))
    dir
  }

  /** Every partition of the window, read in order: (segment, pos, value). */
  private def readAll(stream: BacklogMicroBatchStream, start: BacklogSource.BacklogOffset,
                      end: BacklogSource.BacklogOffset): Seq[Seq[(String, Long, String)]] = {
    val factory = stream.createReaderFactory()
    stream.planInputPartitions(start, end).toSeq.map { p =>
      val r = factory.createReader(p)
      try {
        val rows = Seq.newBuilder[(String, Long, String)]
        while (r.next()) {
          val row = r.get()
          rows += ((row.getUTF8String(0).toString, row.getLong(1), row.getUTF8String(2).toString))
        }
        rows.result()
      } finally r.close()
    }
  }

  /** The per-segment reading of [start, end): each segment's lines in order. */
  private def expected(dir: String, start: BacklogSource.BacklogOffset,
                       end: BacklogSource.BacklogOffset): Seq[(String, Long, String)] =
    BacklogSource.segments(dir).zipWithIndex.flatMap { case (f, g) =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (v, i) if (g > start.segment || (g == start.segment && i >= start.line)) &&
            (g < end.segment || (g == end.segment && i < end.line)) =>
          (f.getFileName.toString, i.toLong, v)
      }
    }

  test("input partitions: one per core, rows and (segment, pos) as the per-segment plan") {
    import BacklogSource.BacklogOffset
    assert(spark.sparkContext.defaultParallelism == 4) // local[4]
    val dir = backlog(segments = 32, lines = 50)
    val stream = new BacklogMicroBatchStream(dir, Long.MaxValue)
    val start = BacklogOffset(0, 0)
    val end = stream.latestOffset(start, ReadLimit.allAvailable()).asInstanceOf[BacklogOffset]
    assert(end == BacklogOffset(31, 50, "seg-031.jsonl"))

    val parts = readAll(stream, start, end)
    assert(parts.map(_.size) == Seq(400, 400, 400, 400))
    assert(parts.flatten == expected(dir, start, end))

    // resume from a mid-segment offset into a mid-segment end
    val mid = BacklogOffset(5, 17, "seg-005.jsonl")
    val midEnd = BacklogOffset(20, 9, "seg-020.jsonl")
    val resumed = readAll(stream, mid, midEnd)
    assert(resumed.size == 4)
    assert(resumed.flatten == expected(dir, mid, midEnd))
    assert(resumed.flatten.head == (("seg-005.jsonl", 17L, eventJson(5 * 50 + 17))))

    // a window inside one segment stays one partition
    val one = readAll(stream, BacklogOffset(3, 10, "seg-003.jsonl"), BacklogOffset(3, 40, "seg-003.jsonl"))
    assert(one.map(_.size) == Seq(30))

    // the session's leaf-node parallelism caps the plan
    spark.conf.set("spark.sql.leafNodeDefaultParallelism", "2")
    try assert(stream.planInputPartitions(start, end).length == 2)
    finally spark.conf.unset("spark.sql.leafNodeDefaultParallelism")
  }

  test("input partitions: the purge guard still halts") {
    import BacklogSource.BacklogOffset
    val dir = backlog(segments = 8, lines = 5)
    val stream = new BacklogMicroBatchStream(dir, Long.MaxValue)
    val saved = BacklogOffset(2, 3, "seg-002.jsonl")
    Files.delete(Paths.get(dir, "seg-000.jsonl")) // seg-003 shifts into index 2
    val thrown = intercept[IllegalStateException] {
      stream.planInputPartitions(saved, BacklogOffset(6, 5, "seg-007.jsonl"))
    }
    assert(thrown.getMessage.contains("purged/rotated"))
  }

  test("repeated offsets, plans and reads leave no segment file open") {
    val fds = new java.io.File("/proc/self/fd")
    assume(fds.isDirectory, "needs /proc/self/fd")
    def openFds(): Int = fds.list().length
    import BacklogSource.BacklogOffset
    val dir = backlog(segments = 64, lines = 20)
    val stream = new BacklogMicroBatchStream(dir, Long.MaxValue)
    val start = BacklogOffset(0, 0)
    def round(): Unit = {
      val end = stream.latestOffset(start, ReadLimit.maxRows(1000)).asInstanceOf[BacklogOffset]
      assert(readAll(stream, start, end).flatten.size == 1000)
      // a reader closed part-way through its first segment
      val r = stream.createReaderFactory().createReader(stream.planInputPartitions(start, end).head)
      assert(r.next())
      r.close()
    }
    round() // warm-up: class loading opens jars
    val before = openFds()
    for (_ <- 1 to 10) round()
    val grown = openFds() - before
    assert(grown <= 4, s"$grown descriptors more after 10 rounds over 64 segments")
  }
}
