package perfbench

import graft.core.ChangeEvent
import graft.operators.{Envelopes, FilterProcessor, Routing}
import graft.sources.{BacklogSource, MysqlBinlogFixture, PgOutputFixture}
import graft.streaming.{EventSink, KafkaWire, MessagingSinks}
import org.apache.spark.TaskContext
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

sealed trait SourceKind
case object Mysql extends SourceKind
case object Pg extends SourceKind

/**
 * The CDC path as a user composes it from the program's public entry points
 * (the same composition as `EndToEndWireSpec`):
 *
 *   segment bytes → `BacklogSource` → `decodeBase64Segments` →
 *   `ChangeEvent.conform` → `CdcPipeline.processBatch` with the
 *   `FilterProcessor` → `KafkaLikeSink` (`Routing.resolveTopic`,
 *   `Envelopes.debezium`) over `KafkaWire.SocketProducer`
 */
object Pipeline {
  val TopicTemplate = "cdc.${source.db}.${source.table}"

  /** Keep every delete, and creates/updates of customers ≥ MinCustomer:
   * two payload predicates, so the filter takes its parse-once JSON path. */
  val filter: FilterProcessor.Config = FilterProcessor.Config(
    tables = Seq("inventory.orders"),
    predicates = Seq(
      FilterProcessor.Gte("o_custkey", Inputs.MinCustomer),
      FilterProcessor.NotExists("o_orderkey")),
    matchMode = FilterProcessor.MatchAny)

  val processors: Seq[DataFrame => DataFrame] = Seq(FilterProcessor(filter) _)

  def envelope: Column = Envelopes.debezium

  private val dml = col("op").isin("c", "u", "d")

  /** Decoded source records → ChangeEvent envelope rows. */
  def conform(source: SourceKind, decoded: DataFrame): DataFrame = source match {
    case Mysql => ChangeEvent.conform(decoded.filter(dml).select(
      col("op"), col("before"), col("after"),
      struct(col("db"), col("table"), lit("mysql").as("connector"),
        col("gtid"), col("pos"), col("pos").as("sequence")).as("source"),
      col("tsMs").as("ts_ms"),
      concat(col("db"), lit("."), col("table"), lit(":"), col("pos")).as("event_id"),
      col("txEnd").as("tx_end")))
    case Pg => ChangeEvent.conform(decoded.filter(dml).select(
      col("op"), col("before"), col("after"),
      struct(lit("inventory").as("db"), col("schema"), col("table"),
        lit("postgres").as("connector"), col("lsn"), col("txId").as("tx_id")).as("source"),
      col("tsMs").as("ts_ms"),
      concat(lit("inventory."), col("table"), lit(":"), col("lsn")).as("event_id")))
  }

  private val mysqlNames = MysqlBinlogFixture.ordersCols.map(_.name)

  /** `.segb64` lines → ChangeEvent rows, through the fixture's base64 segment decode. */
  private def decode(source: SourceKind, lines: DataFrame): DataFrame =
    conform(source, source match {
      case Mysql => MysqlBinlogFixture.decodeBase64Segments(lines, mysqlNames)
      case Pg => PgOutputFixture.decodeBase64Segments(lines)
    })

  /** The streaming source: `.segb64` backlog lines, admitted `maxLines` per batch. */
  def stream(spark: SparkSession, source: SourceKind, dir: String, maxLines: Int): DataFrame =
    decode(source, spark.readStream.format(classOf[BacklogSource].getName)
      .option("path", dir).option("maxLinesPerTrigger", maxLines.toString).load())

  /**
   * The same segment files through the same chain in batch mode. It reads
   * the segments themselves rather than re-encoding rows with
   * `decodedOrders`: the MySQL decoder renders each event's GTID set from
   * the first GTID of its segment, so only identical segments give
   * byte-identical envelopes.
   */
  def batchChain(spark: SparkSession, source: SourceKind, files: Seq[String]): DataFrame =
    processors.foldLeft(decode(source, spark.read.text(files: _*)))((df, p) => p(df))

  /** What `KafkaLikeSink` puts on the wire for each event: topic, key, value bytes. */
  def wireColumns(df: DataFrame): DataFrame = df.select(
    Routing.resolveTopic(Some(TopicTemplate), "events").as("topic"),
    coalesce(Routing.resolveKey(None), col("event_id")).as("key"),
    envelope.cast("binary").as("value"))

  /**
   * The sink for one micro-batch. Idempotent path: a `SocketProducer`
   * without a transactional id, its producer id derived from (batch,
   * partition) so a replayed batch re-sends the same sequence triples and a
   * new batch never reuses them. Transactional path: one transactional id
   * per partition.
   */
  def sink(port: Int, transactional: Boolean)(batchId: Long): EventSink =
    new MessagingSinks.KafkaLikeSink("kafka", producerFactory(port, transactional, batchId),
      topicTemplate = Some(TopicTemplate), valueColumn = _ => envelope)

  private def producerFactory(port: Int, transactional: Boolean,
                              batchId: Long): () => MessagingSinks.TransactionalProducer =
    if (transactional) () => new KafkaWire.SocketProducer("127.0.0.1", port, "perfbench",
      transactionalId = s"perfbench-${TaskContext.getPartitionId()}")
    else () => new KafkaWire.SocketProducer("127.0.0.1", port, "perfbench",
      transactionalId = null, producerId = (batchId << 8) + TaskContext.getPartitionId() + 1L)
}
