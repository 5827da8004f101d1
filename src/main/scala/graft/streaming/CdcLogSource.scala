package graft.streaming

import java.sql.{Connection, ResultSet}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.cdc.{CdcDdl, Change, LogJdbc}

/** Structured Streaming source for the CDC change log — the proper
  * `MicroBatchStream` form of SURVEY.md §2.1 S2 ("v2" in §7.1 step 8).
  *
  * The log's `id` column is the stream offset, directly analogous to a
  * Kafka offset (reference triggers.go:167: `SELECT ... ORDER BY id ASC
  * LIMIT ?`). Offsets live in the streaming checkpoint, so restarts
  * resume exactly where the last committed micro-batch ended — the
  * at-least-once delete-after-ack protocol of the reference
  * (triggers.go:209-221) becomes checkpoint-integrated: with
  * `truncateOnCommit=true` the source deletes delivered rows in
  * `commit()`, which Spark calls only after the batch is durably
  * processed.
  *
  * Usage:
  * {{{
  * spark.readStream.format("cdc-log")
  *   .option("url", "jdbc:sqlite:/path/db")
  *   .option("logTable", "__cdc_log")
  *   .option("maxBatchSize", 256)      // rows admitted per micro-batch
  *   .option("truncateOnCommit", true) // reference delete-after-ack
  *   .load()
  * }}}
  *
  * Every statement on the log table comes from [[graft.cdc.LogJdbc]];
  * connection settings (PRAGMAs, credentials) travel in the URL.
  *
  * Scale notes (100 TB): one SQLite file caps capture throughput, so the
  * scale topology is many source databases → many of these streams →
  * land into partitioned parquet/`ParquetChangeLog` early, then do all
  * heavy processing there. Within one stream, `numPartitions` splits the
  * admitted id-range into parallel JDBC range-reads per micro-batch
  * (default 1: a single SQLite reader is both the reference's ordering
  * contract and the file's actual concurrency limit).
  */
class CdcLogSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "cdc-log"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Change.logSchema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new CdcLogTable(new CaseInsensitiveStringMap(properties))
}

/** Serializable source configuration (ships to executors inside input
  * partitions). */
private[streaming] case class CdcLogConf(
    url: String,
    logTable: String,
    maxBatchSize: Int,
    truncateOnCommit: Boolean,
    startingId: Long,
    numPartitions: Int)

private[streaming] object CdcLogConf {
  def apply(o: CaseInsensitiveStringMap): CdcLogConf = CdcLogConf(
    url = Option(o.get("url")).getOrElse(
      throw new IllegalArgumentException("cdc-log source requires option 'url'")),
    logTable = o.getOrDefault("logTable", CdcDdl.DefaultLogTable),
    maxBatchSize = o.getInt("maxBatchSize", 256),
    truncateOnCommit = o.getBoolean("truncateOnCommit", false),
    startingId = o.getLong("startingId", -1L),
    numPartitions = o.getInt("numPartitions", 1))
}

/** The stream offset: highest log id included so far (exclusive start of
  * the next batch). */
case class CdcLogOffset(id: Long) extends Offset {
  override def json: String = id.toString
}

private[streaming] class CdcLogTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String =
    s"cdc-log(${options.get("url")}/${options.getOrDefault("logTable", CdcDdl.DefaultLogTable)})"
  override def schema(): StructType = Change.logSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)
  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new CdcLogScan(CdcLogConf(caseInsensitiveOptions))
    }
}

private[streaming] class CdcLogScan(conf: CdcLogConf) extends Scan {
  override def readSchema(): StructType = Change.logSchema
  override def description(): String = s"CdcLogScan(${conf.logTable})"
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new CdcLogMicroBatchStream(conf)
  /** Batch form: one bounded read of everything past startingId — the
    * "drain now" view of the same relation. */
  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = {
      val hi = CdcLogJdbc.maxId(conf).getOrElse(conf.startingId)
      CdcLogJdbc.splitRange(conf, conf.startingId, hi)
    }
    override def createReaderFactory(): PartitionReaderFactory =
      new CdcLogReaderFactory(conf)
  }
}

/** Driver-side helpers shared by the stream and batch forms. */
private[streaming] object CdcLogJdbc {
  def maxId(conf: CdcLogConf): Option[Long] =
    LogJdbc.withConn(conf.url)(LogJdbc.maxId(_, conf.logTable))

  /** Split (lo, hi] into ≤ numPartitions contiguous id ranges. */
  def splitRange(conf: CdcLogConf, lo: Long, hi: Long): Array[InputPartition] = {
    if (hi <= lo) return Array.empty
    val n = math.max(1, math.min(conf.numPartitions, hi - lo)).toInt
    val step = math.ceil((hi - lo).toDouble / n).toLong
    (0 until n).iterator
      .map(i => CdcLogRange(lo + i * step, math.min(lo + (i + 1) * step, hi)))
      .filter(r => r.hi > r.lo)
      .toArray[InputPartition]
  }
}

private[streaming] class CdcLogMicroBatchStream(conf: CdcLogConf)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  /** Under Trigger.AvailableNow: the snapshot of max(id) taken at query
    * start; the stream drains up to here (in admission-sized batches)
    * and stops — the reference's drain-and-exit Bootstrap/AvailableNow
    * shape. */
  @volatile private var availableNowTarget: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(CdcLogJdbc.maxId(conf).getOrElse(conf.startingId))

  override def initialOffset(): Offset = CdcLogOffset(conf.startingId)
  override def deserializeOffset(json: String): Offset = CdcLogOffset(json.trim.toLong)
  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(conf.maxBatchSize)

  /** Admission-controlled: next batch ends at the maxBatchSize-th
    * available row (reference `LIMIT maxBatchSize`, triggers.go:167). */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val after = start.asInstanceOf[CdcLogOffset].id
    val end = limit match {
      case r: ReadMaxRows =>
        // the id of the n-th row after `after`: row-exact admission even
        // if ids have gaps, e.g. after truncation
        val n = math.min(r.maxRows(), Int.MaxValue.toLong).toInt
        LogJdbc.withConn(conf.url)(
          LogJdbc.rowsAfter(_, conf.logTable, after, n, Seq("id"))(_.getLong(1))).lastOption
      case _ => CdcLogJdbc.maxId(conf).filter(_ > after)
    }
    val capped = availableNowTarget match {
      case Some(t) => end.map(math.min(_, t)).filter(_ > after)
      case None    => end
    }
    CdcLogOffset(capped.getOrElse(after))
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this method")

  override def reportLatestOffset(): Offset =
    CdcLogOffset(CdcLogJdbc.maxId(conf).getOrElse(conf.startingId))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    CdcLogJdbc.splitRange(conf,
      start.asInstanceOf[CdcLogOffset].id, end.asInstanceOf[CdcLogOffset].id)

  override def createReaderFactory(): PartitionReaderFactory =
    new CdcLogReaderFactory(conf)

  /** Called after the micro-batch is durably committed to the checkpoint:
    * the reference's delete-after-ack (triggers.go:209-221), now atomic
    * with Spark's own progress tracking. */
  override def commit(end: Offset): Unit = if (conf.truncateOnCommit)
    LogJdbc.withConn(conf.url)(
      LogJdbc.deleteUpTo(_, conf.logTable, end.asInstanceOf[CdcLogOffset].id))

  override def stop(): Unit = ()
}

/** One contiguous id range (lo, hi] of the log. */
private[streaming] case class CdcLogRange(lo: Long, hi: Long) extends InputPartition

private[streaming] class CdcLogReaderFactory(conf: CdcLogConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val r = partition.asInstanceOf[CdcLogRange]
    new CdcLogPartitionReader(conf, r.lo, r.hi)
  }
}

/** Executor-side reader: one index-ordered JDBC range scan (keyset
  * predicate pushed into the database, reference triggers.go:539-568
  * rationale — no OFFSET scans). */
private[streaming] class CdcLogPartitionReader(conf: CdcLogConf, lo: Long, hi: Long)
    extends PartitionReader[InternalRow] {

  private var conn: Connection = _
  private var rs: ResultSet = _

  private def ensureOpen(): Unit = if (conn == null) {
    conn = LogJdbc.connect(conf.url)
    rs = LogJdbc.range(conn, conf.logTable, lo, hi)
  }

  override def next(): Boolean = { ensureOpen(); rs.next() }

  private def utf8(i: Int): AnyRef = {
    val s = rs.getString(i)
    if (s == null) null else UTF8String.fromString(s)
  }

  override def get(): InternalRow =
    new GenericInternalRow(Array[Any](
      rs.getLong(1), utf8(2), utf8(3), utf8(4), utf8(5), utf8(6)))

  override def close(): Unit = if (conn != null) conn.close()
}
