package perfbench

import graft.sources.{MysqlBinlogFixture, PgOutput, PgOutputFixture}

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.locks.LockSupport

/**
 * Seeded inputs. Row `pk` of a run is a pure function of (seed, pk): the
 * seed varies the row values, while the op mix stays c/u/d by `pk % 10`
 * exactly as the program's fixtures encode it (0–5 create, 6–8 update,
 * 9 delete). Rows become MySQL binlog or pgoutput segment bytes through the
 * program's fixtures, one base64 segment per `.segb64` backlog file.
 */
object Inputs {
  type OrderRow = (Long, Long, String, Double, Long, String)

  /** The filter keeps creates/updates of customers at or above this key, and every delete. */
  val MinCustomer = 50L

  private def mix(x0: Long): Long = { // splitmix64 finalizer
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  private val Statuses = Array("O", "F", "P")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  def row(seed: Long, pk: Long): OrderRow = {
    val h = mix(seed * 0x632BE59BD9B4E019L ^ pk)
    val h2 = mix(h)
    (pk,
      1L + java.lang.Long.remainderUnsigned(h, 1000L),
      Statuses(java.lang.Long.remainderUnsigned(h >>> 10, 3L).toInt),
      900.0 + java.lang.Long.remainderUnsigned(h2, 50000000L) / 100.0,
      694224000000L + java.lang.Long.remainderUnsigned(h2 >>> 20, 2400L) * 86400000L,
      Priorities(java.lang.Long.remainderUnsigned(h >>> 20, 5L).toInt))
  }

  def op(pk: Long): String = (pk % 10) match {
    case m if m <= 5 => "c"
    case m if m <= 8 => "u"
    case _ => "d"
  }

  /** Whether the pipeline's filter keeps this row's event. */
  def kept(r: OrderRow): Boolean = op(r._1) == "d" || r._2 >= MinCustomer

  /** The Kafka key the sink gives this row's event (its `event_id`). */
  def eventKey(source: SourceKind, pk: Long): String = source match {
    case Mysql => s"inventory.orders:$pk"
    case Pg => s"inventory.orders:${PgOutput.lsnString(pk)}"
  }

  def segment(source: SourceKind, rows: Seq[OrderRow]): Array[Byte] = source match {
    case Mysql => MysqlBinlogFixture.ordersSegment(rows.iterator)
    case Pg => PgOutputFixture.ordersSegment(rows.iterator)
  }

  /** One backlog line: the base64 segment, as `BacklogSource` reads it. */
  def line(segment: Array[Byte]): Array[Byte] =
    java.util.Base64.getEncoder.encode(segment)

  /**
   * A run's input: rows `firstPk until firstPk + n`, cut into segments of
   * `perSegment` rows, encoded in parallel on `threads` threads.
   */
  final case class Backlog(seed: Long, firstPk: Long, events: Int,
                           perSegment: Int, lines: IndexedSeq[Array[Byte]]) {
    def segments: Int = lines.length
    def rows: Iterator[OrderRow] = (0 until events).iterator.map(i => row(seed, firstPk + i))
    def eventsOfSegment(s: Int): Int = math.min(events, (s + 1) * perSegment) - s * perSegment
  }

  def backlog(source: SourceKind, seed: Long, firstPk: Long, events: Int,
              perSegment: Int, threads: Int): Backlog = {
    val nSeg = (events + perSegment - 1) / perSegment
    val lines = new Array[Array[Byte]](nSeg)
    val workers = (0 until threads).map { w =>
      val t = new Thread(() => {
        var s = w
        while (s < nSeg) {
          val rows = (s * perSegment until math.min(events, (s + 1) * perSegment))
            .map(i => row(seed, firstPk + i))
          lines(s) = line(segment(source, rows))
          s += threads
        }
      })
      t.start(); t
    }
    workers.foreach(_.join())
    Backlog(seed, firstPk, events, perSegment, lines.toIndexedSeq)
  }

  def segmentName(index: Int): String = f"seg-$index%08d.segb64"

  /** Write one segment under a temporary name, then rename it into place, so
   * the source never reads a half-written line. */
  def writeSegment(dir: Path, index: Int, line: Array[Byte]): Unit = {
    val tmp = dir.resolve(f".seg-$index%08d.tmp")
    Files.write(tmp, line)
    Files.move(tmp, dir.resolve(segmentName(index)), StandardCopyOption.ATOMIC_MOVE)
  }

  /**
   * Open-loop generator: one thread writes segment k of `lines` (as file
   * index `firstIndex + k`) when it falls due at `startNs + k * intervalNs`,
   * whether or not the pipeline has kept up. It records each segment's due
   * and actual write time (System.nanoTime).
   */
  final class Generator(dir: Path, lines: IndexedSeq[Array[Byte]], firstIndex: Int,
                        val startNs: Long, val intervalNs: Long) extends Thread("perfbench-generator") {
    val dueNs: Array[Long] = Array.tabulate(lines.length)(k => startNs + k * intervalNs)
    val writtenNs = new Array[Long](lines.length)
    @volatile var failure: Throwable = _
    setDaemon(true)
    override def run(): Unit =
      try {
        var k = 0
        while (k < lines.length) {
          var wait = dueNs(k) - System.nanoTime()
          while (wait > 0) { LockSupport.parkNanos(wait); wait = dueNs(k) - System.nanoTime() }
          writeSegment(dir, firstIndex + k, lines(k))
          writtenNs(k) = System.nanoTime()
          k += 1
        }
      } catch { case e: Throwable => failure = e }
  }
}
