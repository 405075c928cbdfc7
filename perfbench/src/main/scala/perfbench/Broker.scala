package perfbench

import graft.streaming.KafkaWire._

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, EOFException}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray}
import java.util.concurrent.{ConcurrentHashMap, ExecutorService, Executors}
import java.util.zip.CRC32
import scala.jdk.CollectionConverters._

/**
 * Loopback Kafka broker owned by the benchmark. It answers the five RPCs the
 * program's `KafkaWire.SocketProducer` sends — Metadata (3), Produce (0),
 * InitProducerId (22), AddPartitionsToTxn (24) and EndTxn (26) — with the
 * program's own `KafkaWire` codecs, CRC-checks every RecordBatch through
 * `decodeBatch`, and keeps what the delivery audit needs:
 *
 *  - idempotent produce: one entry per unique (producerId, epoch, sequence),
 *    so a re-sent batch counts once;
 *  - transactional produce: records wait in their transaction until EndTxn
 *    commits them (abort drops them), with epoch fencing per transactional id.
 *
 * It also counts connections, requests per API, records and bytes, and the
 * time it spends handling requests (`busyNs`), so a run can show the broker
 * was never the bottleneck.
 */
final class Broker(probe: Probe) {
  import Broker.Delivered
  private val server = new ServerSocket(0, 256, InetAddress.getLoopbackAddress)
  val port: Int = server.getLocalPort
  @volatile private var running = true
  private val pool: ExecutorService = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "perfbench-broker"); t.setDaemon(true); t
  }

  val connections = new AtomicLong
  val requests = new AtomicLongArray(64)
  val recordsAppended = new AtomicLong
  val bytesAppended = new AtomicLong
  val busyNs = new AtomicLong

  // idempotent log: (pid, epoch, sequence) → record
  private val idempotent = new ConcurrentHashMap[(Long, Short, Int), Delivered]()
  // transactional state per transactional id
  private final class Txn(val pid: Long) {
    var epoch: Short = -1
    val open = new java.util.LinkedHashMap[(Short, Int), Delivered]()
  }
  private val txns = new ConcurrentHashMap[String, Txn]()
  private val nextPid = new AtomicLong(1L << 40)
  private val committed = new java.util.concurrent.ConcurrentLinkedQueue[Delivered]()

  /** Forget everything delivered so far (between warm-up and the timed window). */
  def reset(): Unit = {
    idempotent.clear(); committed.clear()
    txns.values().forEach(t => t.synchronized(t.open.clear()))
    Seq(connections, recordsAppended, bytesAppended, busyNs).foreach(_.set(0))
    (0 until requests.length).foreach(requests.set(_, 0))
  }

  /** Records of the idempotent path, one per unique sequence triple. */
  def uniqueIdempotent: Seq[Delivered] = idempotent.values().asScala.toSeq
  /** Records inside committed transactions, in commit order. */
  def committedTxn: Seq[Delivered] = committed.asScala.toSeq

  private def readStr(d: DataInputStream): String = {
    val len = d.readShort()
    if (len < 0) null else { val b = new Array[Byte](len); d.readFully(b); new String(b, UTF_8) }
  }

  private def crc(b: Array[Byte]): Long = {
    val c = new CRC32(); if (b != null) c.update(b); c.getValue
  }

  private def produce(h: RequestHeader, d: DataInputStream): Array[Byte] = {
    val tid = readStr(d)
    d.readShort(); d.readInt() // acks, timeoutMs
    require(d.readInt() == 1, "one topic per Produce")
    val topic = readStr(d)
    val acks = (0 until d.readInt()).map { _ =>
      val partition = d.readInt()
      val b = new Array[Byte](d.readInt()); d.readFully(b)
      bytesAppended.addAndGet(b.length.toLong)
      val transactional = (batchAttributes(b) & 0x10) != 0
      val (_, pid, epoch, baseSeq, recs) = decodeBatch(b) // CRC32C gate
      recordsAppended.addAndGet(recs.length.toLong)
      val delivered = recs.map(r => Delivered(
        if (r.key == null) null else new String(r.key, UTF_8), crc(r.value)))
      val code: Short =
        if (!transactional) {
          delivered.zipWithIndex.foreach { case (rec, i) =>
            idempotent.putIfAbsent((pid, epoch, baseSeq + i), rec)
          }
          Errors.None
        } else {
          val t = txns.get(tid)
          if (t == null || t.pid != pid) 49.toShort // INVALID_PRODUCER_ID_MAPPING
          else t.synchronized {
            if (epoch != t.epoch) Errors.InvalidProducerEpoch
            else {
              delivered.zipWithIndex.foreach { case (rec, i) =>
                t.open.putIfAbsent((epoch, baseSeq + i), rec)
              }
              Errors.None
            }
          }
        }
      PartitionAck(partition, code, 0L)
    }
    encodeProduceResponse(ProduceResponse(h.correlationId, topic, acks))
  }

  private def handle(h: RequestHeader, d: DataInputStream): Array[Byte] = h.apiKey match {
    case 0 => produce(h, d)
    case 3 =>
      val topics = readMetadataRequestBody(d)
      encodeMetadataResponse(MetadataResponse(h.correlationId,
        Seq(BrokerNode(0, "127.0.0.1", port)), 0,
        topics.map(t => TopicMeta(0, t, Seq(PartitionMeta(0, 0, 0))))))
    case 22 =>
      val (tid, _) = readInitProducerIdRequestBody(d)
      val t = txns.computeIfAbsent(tid, _ => new Txn(nextPid.getAndIncrement()))
      val epoch = t.synchronized {
        t.open.clear() // a new incarnation aborts whatever the old one left open
        t.epoch = (t.epoch + 1).toShort
        t.epoch
      }
      encodeInitProducerIdResponse(InitProducerIdResponse(h.correlationId, Errors.None, t.pid, epoch))
    case 24 =>
      val req = readAddPartitionsToTxnRequestBody(d)
      val t = txns.get(req.transactionalId)
      val code: Short =
        if (t == null || t.pid != req.producerId) 49.toShort
        else if (t.synchronized(t.epoch) != req.producerEpoch) Errors.ProducerFenced
        else Errors.None
      encodeAddPartitionsToTxnResponse(AddPartitionsToTxnResponse(h.correlationId,
        req.topics.map { case (topic, ps) => topic -> ps.map(_ -> code) }))
    case 26 =>
      val req = readEndTxnRequestBody(d)
      val t = txns.get(req.transactionalId)
      val code: Short =
        if (t == null || t.pid != req.producerId) 49.toShort
        else t.synchronized {
          if (t.epoch != req.producerEpoch) Errors.ProducerFenced
          else {
            if (req.committed) t.open.values().forEach(r => committed.add(r))
            t.open.clear()
            Errors.None
          }
        }
      encodeEndTxnResponse(h.correlationId, code)
    case other => throw new IllegalArgumentException(s"unsupported apiKey $other")
  }

  private def serve(sock: Socket): Unit = {
    val in = new DataInputStream(new BufferedInputStream(sock.getInputStream, 1 << 16))
    val out = new BufferedOutputStream(sock.getOutputStream, 1 << 14)
    try {
      while (running) {
        val (h, d) = readRequest(in)
        val t0 = System.nanoTime()
        requests.incrementAndGet(h.apiKey.toInt)
        out.write(handle(h, d)); out.flush()
        val t1 = System.nanoTime()
        busyNs.addAndGet(t1 - t0)
        probe.brokerRequest(Broker.apiName(h.apiKey), t0, t1)
      }
    } catch { case _: EOFException | _: java.net.SocketException => () }
    finally sock.close()
  }

  private val acceptor = new Thread(() => {
    while (running)
      try {
        val sock = server.accept()
        connections.incrementAndGet()
        pool.execute(() => serve(sock))
      } catch { case _: java.io.IOException => () }
  }, "perfbench-broker-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  def stop(): Unit = {
    running = false
    server.close()
    acceptor.join(5000)
    pool.shutdownNow()
  }
}

object Broker {
  /** A delivered record: its key and the CRC32 of its value bytes. */
  final case class Delivered(key: String, valueCrc: Long)

  def apiName(key: Short): String = key.toInt match {
    case 0 => "Produce"
    case 3 => "Metadata"
    case 22 => "InitProducerId"
    case 24 => "AddPartitionsToTxn"
    case 26 => "EndTxn"
    case k => s"api$k"
  }
}
