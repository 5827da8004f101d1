package graft.cdc

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The CDC engine: the reference's six-method interface re-expressed over
  * Spark (reference cdc.go:10-31, triggers.go:68-404).
  *
  * Delivery contract (reference README.md:149-156, SURVEY.md §2.9):
  *  - strictly log-ordered batches, at most `maxBatchSize` changes each;
  *  - one batch in flight; handler calls serialized on the driver;
  *  - at-least-once: the log is truncated only after the handler returns
  *    (delete-after-ack); a crash in between redelivers;
  *  - fail-stop: a handler exception propagates and halts the engine.
  *
  * Each engine instance runs exactly one mode once (reference
  * triggers.go:114-120 `sync.Once` parity via AtomicBoolean).
  *
  * Scale note: ordered total delivery is inherently serial — that is the
  * reference's contract, not a Spark limitation (the log is a single
  * SQLite file; throughput is capped at the source). Parallelism at
  * 100 TB comes *downstream*: land changes in parquet via
  * [[ParquetChangeLog]] and run per-key/per-table parallel consumers
  * there (SURVEY.md §7.4).
  */
class CdcEngine(
    spark: SparkSession,
    log: ChangeLog,
    handler: ChangesHandler,
    maxBatchSize: Int = CdcEngine.DefaultMaxBatchSize,
    pollIntervalMs: Long = 100,
    subsecTimestamps: Boolean = true,
    wakeup: Wakeup = Wakeup.poll(),
    deadLetter: Option[ChangesHandler] = None) {

  import spark.implicits._

  private val used = new AtomicBoolean(false)
  private val stopped = new AtomicBoolean(false)
  @volatile private var offset: Long = -1L

  private def once[A](f: => A): A = {
    if (!used.compareAndSet(false, true))
      throw new IllegalStateException("CDC engines are single-use (reference cdc.go:13)")
    f
  }

  /** Stop a running cdc() loop (reference Close, triggers.go:396-404).
    * Also closes the wakeup gate so a loop blocked in FileWakeup.await
    * observes the stop immediately instead of after pollIntervalMs —
    * and so non-loop modes (bootstrap-only, AvailableNow) release the
    * watch handle. Idempotent. */
  def close(): Unit = {
    stopped.set(true)
    wakeup.close()
  }

  def currentOffset: Long = offset

  /** Log rows → typed Change records ([[Change.fromLog]]). */
  def toChanges(logRows: DataFrame): Dataset[Change] =
    Change.fromLog(logRows, subsecTimestamps)

  /** Drain every available change in ordered batches, ack after each
    * (reference drainChanges, triggers.go:164-223). Returns the number of
    * changes delivered. */
  private def drainAll(): Long = {
    var delivered = 0L
    var continue = true
    while (continue && !stopped.get()) {
      val batch = log.readBatch(spark, offset, maxBatchSize)
        .orderBy(col("id")).collect() // ordered, ≤ maxBatchSize rows — driver-sized by contract
      if (batch.isEmpty) continue = false
      else {
        val maxId = batch.map(_.getAs[Long]("id")).max
        val batchDf = spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](java.util.Arrays.asList(batch: _*)),
          batch.head.schema)
        deadLetter match {
          case None =>
            handler.handle(toChanges(batchDf)) // throws → fail-stop, no ack
          case Some(dl) =>
            // DEAD-LETTER split: without it, ONE poison row (an
            // unparseable log timestamp under ANSI parsing, or a null
            // field from a foreign log producer) fail-stops every
            // restart at the same batch — the ordered log is wedged
            // forever. With it, poison rows go to the side sink (full
            // payload preserved for replay once the producer is
            // fixed, timestamp decoded tolerantly to null) and ARE
            // acked. Both handlers return before the ack:
            // at-least-once holds for the dead-letter channel too;
            // order inside each channel stays the log order. The
            // dead-letter sink is delivered FIRST: if it throws, the
            // main handler has not yet run, so a restart redelivers
            // duplicates only to the side sink (replay storage where
            // duplicates are expected) — main-first would add a
            // duplicate-delivery mode for successfully-handled good
            // rows that the pre-dead-letter engine never had.
            val fmt = Change.logTsFormat(subsecTimestamps)
            val bad = try_to_timestamp(col("timestamp"), lit(fmt)).isNull ||
              col("tablename").isNull || col("operation").isNull
            val quarantined = batchDf.filter(bad)
            if (!quarantined.isEmpty)
              dl.handle(Change.fromLog(quarantined, subsecTimestamps, tolerant = true))
            handler.handle(toChanges(batchDf.filter(!bad)))
        }
        log.truncate(maxId)                // ack: at-least-once boundary
        offset = maxId
        delivered += batch.length
      }
    }
    delivered
  }

  /** Snapshot-only mode (reference cdc.go:15-17): every row of every
    * given table is delivered as a synthetic INSERT, then the engine
    * exits. Snapshots are delivered in `maxBatchSize` batches per table,
    * in table order, preserving the reference's batch shape
    * (trigger_test.go:22-54: ceil(rows/batch) batches). */
  def bootstrap(tables: Seq[(String, DataFrame)], blobSupport: Boolean = false): Long =
    once { bootstrapImpl(tables, blobSupport) }

  private def bootstrapImpl(tables: Seq[(String, DataFrame)], blobSupport: Boolean): Long = {
    var delivered = 0L
    tables.foreach { case (name, df) =>
      val changes = Bootstrap.snapshotToChanges(name, df, blobSupport)
      // Ordered paging on the driver mirrors the reference's batch shape.
      // At scale, prefer handler-side parallel consumption of the whole
      // snapshot Dataset (no collect) — this path honors the strict
      // reference contract instead.
      val it = changes.toLocalIterator()
      val buf = scala.collection.mutable.ArrayBuffer[Change]()
      while (it.hasNext) {
        buf += it.next()
        if (buf.size >= maxBatchSize) {
          handler.handle(spark.createDataset(buf.toSeq))
          delivered += buf.size; buf.clear()
        }
      }
      if (buf.nonEmpty) {
        handler.handle(spark.createDataset(buf.toSeq))
        delivered += buf.size
      }
    }
    delivered
  }

  /** Continuous CDC (reference cdc.go:18-19): drain the log, then block
    * on the wakeup gate until a file event or the poll interval, until
    * close(). With a [[FileWakeup]] this is the reference's fsnotify
    * shape (triggers.go:122-162); the default [[Wakeup.poll]] gate degrades
    * to fixed-interval polling. Either way delivery is driven by the log
    * CONTENTS — a missed event only adds latency, never loses data. */
  def cdc(): Unit = once { tail() }

  /** The continuous loop behind cdc() and bootstrapAndCdc(): drain, then
    * wait on the wakeup gate, until close(). */
  private def tail(): Unit =
    try {
      while (!stopped.get()) {
        drainAll()
        wakeup.await(pollIntervalMs): Unit
      }
    } finally wakeup.close()

  /** Drain-and-exit (Trigger.AvailableNow analog). */
  def cdcAvailableNow(): Long = once { drainAll() }

  /** Snapshot then continuous tail (reference cdc.go:20-22,
    * triggers.go:323-333): changes made during the snapshot accumulate in
    * the log and flow afterward — overlap between snapshot and log is
    * possible and accepted (at-least-once). */
  def bootstrapAndCdc(tables: Seq[(String, DataFrame)], blobSupport: Boolean = false): Unit =
    once {
      bootstrapImpl(tables, blobSupport)
      tail()
    }

  /** Drain-and-exit variant of bootstrapAndCdc for tests/batch jobs. */
  def bootstrapAndCdcAvailableNow(
      tables: Seq[(String, DataFrame)], blobSupport: Boolean = false): Long =
    once { bootstrapImpl(tables, blobSupport) + drainAll() }
}

object CdcEngine {
  /** Reference library default (triggers.go:20); the reference CLI uses
    * 256 (cmd/sqlite-cdc/main.go:65). */
  val DefaultMaxBatchSize = 50
}
