package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String

import java.io.BufferedReader
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._
import scala.util.Using

/**
 * CDC backlog replay source — a Data Source V2 `MicroBatchStream`.
 *
 * Models the reference's binlog-tailing source (crates/sources/src/mysql/
 * mod.rs:63-114) against the filesystem: a directory of append-only JSONL
 * segment files stands in for binlog segments. Offsets are
 * `(segmentIndex, line)` — the (file, pos) shape of a MySQL binlog position
 * (SourcePosition, deltaforge-core/src/lib.rs:235-265). Structured Streaming
 * persists them in its offset log, giving resume-exactly-at-position, and
 * `maxLinesPerTrigger` bounds micro-batch size like `maxOffsetsPerTrigger`.
 *
 * Output schema: `(segment string, pos long, value string)` — `value` is the
 * raw event JSON; downstream parses with `from_json` + the ChangeEvent
 * schema. Input partitions are runs of consecutive segment slices, balanced
 * by line count, at most one per core (`spark.sql.leafNodeDefaultParallelism`,
 * which defaults to `defaultParallelism`): reads scale out with the cluster,
 * and a window of many small segments does not pay a task per segment.
 *
 * Usage:
 * {{{
 *   spark.readStream.format(classOf[BacklogSource].getName)
 *     .option("path", dir).option("maxLinesPerTrigger", "10000").load()
 * }}}
 */
class BacklogSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = BacklogSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new BacklogTable(opts.get("path"),
      Option(opts.get("maxLinesPerTrigger")).map(_.toLong).getOrElse(Long.MaxValue))
  }
}

object BacklogSource {
  val schema: StructType = StructType(Seq(
    StructField("segment", StringType, nullable = false),
    StructField("pos", LongType, nullable = false),
    StructField("value", StringType, nullable = false)))

  /** Sorted segment files in a backlog dir (segment order = replay order). */
  def segments(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Seq.empty
    else Using.resource(Files.list(p))(_.iterator().asScala.filter { f =>
      val n = f.getFileName.toString
      // .jsonl: one JSON event per line; .segb64: one base64 wire segment
      // per line (MysqlBinlog/PgOutput bytes through the same offsets)
      n.endsWith(".jsonl") || n.endsWith(".segb64")
    }.toSeq.sortBy(_.getFileName.toString))
  }

  /**
   * `(segmentIndex, line)` plus the segment's FILE NAME — the identity that
   * makes purge detectable. A MySQL binlog position names its file
   * (`binlog.000042:1337`); an index alone cannot tell "resumed where I
   * left off" from "the backlog was purged and a different segment now sits
   * at my index" (chaos scenario binlog_purge.rs: the guard must halt, not
   * silently skip). `name` is empty on pre-upgrade checkpoints and synthetic
   * offsets — identity is then unverifiable and the old index check applies.
   */
  case class BacklogOffset(segment: Int, line: Long, name: String = "") extends Offset {
    override def json(): String =
      if (name.isEmpty) s"""{"segment":$segment,"line":$line}"""
      else s"""{"segment":$segment,"line":$line,"name":"${BacklogSource.escapeJson(name)}"}"""
  }

  /** Minimal JSON string escape — a segment name containing a quote or
   * backslash must not produce an unreadable checkpoint offset. */
  private[sources] def escapeJson(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private[sources] def unescapeJson(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'u' if i + 5 < s.length =>
            sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
          case e => sb.append(e); i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString()
  }

  def parseOffset(json: String): BacklogOffset = {
    val bare = """\{"segment":(\d+),"line":(\d+)\}""".r
    val named = """\{"segment":(\d+),"line":(\d+),"name":"((?:[^"\\]|\\.)*)"\}""".r
    json match {
      case bare(s, l) => BacklogOffset(s.toInt, l.toLong)
      case named(s, l, n) => BacklogOffset(s.toInt, l.toLong, unescapeJson(n))
      case _ => throw new IllegalArgumentException(s"bad backlog offset: $json")
    }
  }
}

private class BacklogTable(path: String, maxLinesPerTrigger: Long)
    extends Table with SupportsRead {
  override def name(): String = s"backlog($path)"
  override def schema(): StructType = BacklogSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = BacklogSource.schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new BacklogMicroBatchStream(path, maxLinesPerTrigger)
    }
}

private class BacklogMicroBatchStream(path: String, maxLinesPerTrigger: Long)
    extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {
  import BacklogSource._

  private def lineCount(p: Path): Long =
    Using.resource(Files.lines(p))(_.count())

  override def initialOffset(): Offset = BacklogOffset(0, 0)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(start, limit)")

  override def getDefaultReadLimit: ReadLimit =
    if (maxLinesPerTrigger == Long.MaxValue) ReadLimit.allAvailable()
    else ReadLimit.maxRows(maxLinesPerTrigger)

  private def segName(segs: Seq[Path], idx: Int): String =
    if (idx >= 0 && idx < segs.length) segs(idx).getFileName.toString else ""

  // Trigger.AvailableNow: snapshot the end position once; batches drain to it
  @volatile private var availableNowEnd: BacklogOffset = _
  override def prepareForTriggerAvailableNow(): Unit = {
    val segs = segments(path)
    availableNowEnd =
      if (segs.isEmpty) BacklogOffset(0, 0)
      else BacklogOffset(segs.length - 1, lineCount(segs.last), segName(segs, segs.length - 1))
  }

  /** Admission control: advance at most `limit` lines past `start`. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val segs = segments(path)
    if (segs.isEmpty) return BacklogOffset(0, 0)
    val live = BacklogOffset(segs.length - 1, lineCount(segs.last), segName(segs, segs.length - 1))
    val full = Option(availableNowEnd).getOrElse(live)
    val cap = limit match {
      case rl: org.apache.spark.sql.connector.read.streaming.ReadMaxRows => rl.maxRows()
      case _ => Long.MaxValue
    }
    if (cap == Long.MaxValue) return full
    val s = start.asInstanceOf[BacklogOffset]
    var seg = s.segment; var line = s.line; var budget = cap
    while (budget > 0 && (seg < full.segment || (seg == full.segment && line < full.line))) {
      val upper = if (seg == full.segment) full.line else lineCount(segs(seg))
      val take = math.min(upper - line, budget)
      line += take; budget -= take
      if (line >= upper && seg < full.segment) { seg += 1; line = 0 }
    }
    BacklogOffset(seg, line, segName(segs, seg))
  }

  override def deserializeOffset(json: String): Offset = parseOffset(json)
  override def commit(end: Offset): Unit = () // source is immutable; nothing to prune

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[BacklogOffset]
    val e = end.asInstanceOf[BacklogOffset]
    val segs = segments(path)
    // F12 purge guard (reference snapshot health guard, binlog_purge.rs):
    // the checkpointed position names its segment; if that identity no
    // longer holds — the file is gone, or a different file has shifted
    // into its index — HALT loudly. Resuming by index would silently skip
    // (or re-read) events, which is the one unacceptable outcome.
    if (s.name.nonEmpty && segName(segs, s.segment) != s.name)
      throw new IllegalStateException(
        s"backlog position ${s.json()} no longer exists in $path " +
          s"(segment at index ${s.segment} is now " +
          s"'${segName(segs, s.segment)}') — purged/rotated while offline; " +
          "halting instead of silently skipping. Re-snapshot or reset the checkpoint.")
    val slices = Seq.newBuilder[BacklogSlice]
    var seg = s.segment
    var from = s.line
    while (seg <= e.segment && seg < segs.length) {
      val upper = if (seg == e.segment) e.line else lineCount(segs(seg))
      if (upper > from) slices += BacklogSlice(segs(seg).toString, from, upper)
      seg += 1
      from = 0
    }
    val spark = SparkSession.active
    val cores = spark.conf.getOption("spark.sql.leafNodeDefaultParallelism")
      .map(_.toInt).getOrElse(spark.sparkContext.defaultParallelism)
    BacklogSlice.pack(slices.result(), math.max(cores, 1)).map(BacklogPartition(_)).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = new PartitionReaderFactory {
    override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
      new BacklogReader(partition.asInstanceOf[BacklogPartition].slices)
  }

  override def stop(): Unit = ()
}

/** Lines `[from, until)` of one segment file. */
private case class BacklogSlice(file: String, from: Long, until: Long) {
  def lines: Long = until - from
}

private object BacklogSlice {
  /**
   * Groups consecutive slices into at most `parts` runs balanced by line
   * count: a slice joins the run its midpoint falls in. Order is kept, so
   * reading the runs in order reads the slices in order.
   */
  def pack(slices: Seq[BacklogSlice], parts: Int): Seq[Seq[BacklogSlice]] = {
    val total = slices.map(_.lines).sum
    var before = 0L
    val runs = slices.map { sl =>
      // doubled so the midpoint stays integral
      val run = math.min(parts - 1L, (2 * before + sl.lines) * parts / (2 * total))
      before += sl.lines
      run -> sl
    }
    runs.groupBy(_._1).toSeq.sortBy(_._1).map(_._2.map(_._2))
  }
}

private case class BacklogPartition(slices: Seq[BacklogSlice]) extends InputPartition

/** Reads its slices in order, with at most one segment file open at a time. */
private class BacklogReader(slices: Seq[BacklogSlice]) extends PartitionReader[InternalRow] {
  private val pending = slices.iterator
  private var reader: BufferedReader = _
  private var segment: UTF8String = _
  private var pos = 0L
  private var until = 0L
  private var current: String = _

  /** Closes the open segment file and opens the next slice, if any. */
  private def advance(): Boolean = {
    close()
    if (!pending.hasNext) false
    else {
      val slice = pending.next()
      val path = Paths.get(slice.file)
      reader = Files.newBufferedReader(path, StandardCharsets.UTF_8)
      segment = UTF8String.fromString(path.getFileName.toString)
      pos = slice.from - 1
      until = slice.until
      var skip = slice.from
      while (skip > 0 && reader.readLine() != null) skip -= 1
      true
    }
  }

  override def next(): Boolean = {
    while ((reader == null || pos + 1 >= until) && advance()) ()
    if (reader == null) false
    else {
      current = reader.readLine()
      if (current == null) { close(); false } else { pos += 1; true }
    }
  }

  override def get(): InternalRow = InternalRow(segment, pos, UTF8String.fromString(current))

  override def close(): Unit = if (reader != null) { reader.close(); reader = null }
}
