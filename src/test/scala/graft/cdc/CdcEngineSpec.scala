package graft.cdc

import java.nio.file.Files

import org.apache.spark.sql.Row

import graft.SparkSpecBase

/** E2E engine tests over the parquet-backed log — same scenario shapes as
  * the reference's suite (trigger_test.go:22-244) minus SQLite itself. */
class CdcEngineSpec extends SparkSpecBase {
  import scala.jdk.CollectionConverters._

  private def newLogDir(): String =
    Files.createTempDirectory("cdclog").toString

  /** Synthetic log rows: i → INSERT of {"pk":i} into table t. */
  private def logRows(ids: Range, table: String = "t"): Seq[Row] =
    ids.map { i =>
      Row(i.toLong, f"2024-05-06 00:03:${i % 60}%02d.123", table, "INSERT",
        null, s"""{"pk":$i}""")
    }

  private def appendRows(log: ParquetChangeLog, rows: Seq[Row]): Unit =
    log.append(spark.createDataFrame(rows.asJava, Change.logSchema))

  test("cdc drains 1024 changes in ordered ceil(1024/50) batches (TestCDCWithRowID shape)") {
    val log = new ParquetChangeLog(newLogDir())
    appendRows(log, logRows(0 until 1024))
    val rec = new RecordingHandler
    val engine = new CdcEngine(spark, log, rec)
    val n = engine.cdcAvailableNow()
    assert(n == 1024)
    assert(rec.all.size == 1024)
    assert(rec.batches.size == math.ceil(1024.0 / 50).toInt)
    assert(rec.batches.forall(_.size <= 50))
    // strict log order end-to-end
    val pks = rec.all.map(c => c.after.get.split(":")(1).dropRight(1).toInt)
    assert(pks == (0 until 1024).toList)
    // ack advanced the log watermark
    assert(log.committedOffset == 1023)
  }

  test("at-least-once: unacked batch is redelivered to a fresh engine") {
    val log = new ParquetChangeLog(newLogDir())
    appendRows(log, logRows(0 until 120))
    // handler crashes after the first batch is delivered but before ack of the second
    var seen = 0
    val crashing = ChangesHandler { ds =>
      seen += 1
      if (seen == 2) throw new RuntimeException("sink down")
      ds.collect(): Unit
    }
    val engine = new CdcEngine(spark, log, crashing)
    assertThrows[RuntimeException](engine.cdcAvailableNow()) // fail-stop
    assert(log.committedOffset == 49, "only batch 1 acked")
    // a new engine resumes from the committed offset: rows 50.. redelivered
    val rec = new RecordingHandler
    val n = new CdcEngine(spark, log, rec).cdcAvailableNow()
    assert(n == 70)
    assert(rec.all.head.after.get == """{"pk":50}""")
  }

  test("dead-letter channel: poison rows route to the side sink with payload " +
      "intact, valid rows deliver in order, the log never wedges; without a " +
      "dead-letter handler behavior is unchanged") {
    import org.apache.spark.sql.Row
    // the log schema pins tablename/operation NOT NULL (reference DDL
    // parity), so the reachable poison is the timestamp text
    def poisoned(): Seq[Row] =
      logRows(0 until 10) ++ Seq(
        Row(10L, "not a timestamp", "t", "INSERT", null, """{"pk":10}"""),
        Row(11L, "2024-13-99 99:99:99.999", "t", "INSERT", null, """{"pk":11}""")) ++
        logRows(12 until 20).map(r => Row(
          r.getLong(0) + 12L, r.getString(1), r.getString(2), r.getString(3),
          r.get(4), r.getString(5)))
    val log = new ParquetChangeLog(newLogDir())
    appendRows(log, poisoned())
    val rec = new RecordingHandler
    val dead = new RecordingHandler
    val n = new CdcEngine(spark, log, rec, deadLetter = Some(dead))
      .cdcAvailableNow()
    assert(n == 20)
    // valid rows delivered in log order, poison rows absent
    val pks = rec.all.map(c => c.after.get.split(":")(1).dropRight(1).toInt)
    assert(pks == ((0 until 10) ++ (12 until 20)).toList, s"got $pks")
    // poison rows landed in the dead-letter sink, payload preserved
    assert(dead.all.size == 2)
    assert(dead.all.map(_.after.get).toSet ==
      Set("""{"pk":10}""", """{"pk":11}"""))
    assert(dead.all.exists(_.timestamp == null), "unparseable ts preserved as null")
    // the log is fully acked — poison rows cannot wedge it
    assert(log.committedOffset == 31L)
    // WITHOUT a dead-letter handler, ANSI timestamp parsing fail-stops
    // on the poison batch and nothing in it acks: every restart hits
    // the same row — the wedge this channel exists to break
    val log2 = new ParquetChangeLog(newLogDir())
    appendRows(log2, poisoned())
    val rec2 = new RecordingHandler
    assertThrows[Exception](
      new CdcEngine(spark, log2, rec2).cdcAvailableNow())
    assert(log2.committedOffset < 10L, "poison batch must not ack")
  }

  test("engines are single-use (sync.Once parity)") {
    val log = new ParquetChangeLog(newLogDir())
    val engine = new CdcEngine(spark, log, new RecordingHandler)
    engine.cdcAvailableNow()
    assertThrows[IllegalStateException](engine.cdcAvailableNow())
  }

  test("bootstrap delivers full snapshots as INSERT changes in batch-shaped pages") {
    val nation = graft.Tables.nation(spark, sf) // 25 rows
    val rec = new RecordingHandler
    val log = new ParquetChangeLog(newLogDir())
    val n = new CdcEngine(spark, log, rec, maxBatchSize = 10)
      .bootstrap(Seq("nation" -> nation))
    assert(n == 25)
    assert(rec.batches.map(_.size) == Seq(10, 10, 5))
    assert(rec.all.forall(_.operation == "INSERT"))
    assert(rec.all.forall(_.before.isEmpty))
    assert(rec.all.forall(_.table == "nation"))
    val img = rec.all.map(_.after.get).find(_.contains("NATION_0")).get
    assert(img.contains("\"n_name\":\"NATION_0\"") && img.contains("\"n_nationkey\":0"))
  }

  test("bootstrapAndCdc: snapshot first, then log tail (ordered hand-off)") {
    val log = new ParquetChangeLog(newLogDir())
    appendRows(log, logRows(0 until 30, table = "nation"))
    val rec = new RecordingHandler
    val n = new CdcEngine(spark, log, rec)
      .bootstrapAndCdcAvailableNow(Seq("nation" -> graft.Tables.nation(spark, sf)))
    assert(n == 25 + 30)
    // every snapshot change precedes every live change
    assert(rec.all.take(25).forall(_.after.get.contains("n_name")))
    assert(rec.all.drop(25).forall(_.after.get.startsWith("""{"pk":""")))
  }

  test("toChanges parses the SQLite log timestamp text as UTC") {
    val log = new ParquetChangeLog(newLogDir())
    appendRows(log, Seq(Row(1L, "2024-05-06 00:03:34.567", "t", "UPDATE",
      """{"a":1}""", """{"a":2}""")))
    val rec = new RecordingHandler
    new CdcEngine(spark, log, rec).cdcAvailableNow()
    val c = rec.all.head
    assert(c.timestamp.toInstant.toString == "2024-05-06T00:03:34.567Z")
    assert(c.operation == "UPDATE")
    assert(c.before.contains("""{"a":1}""") && c.after.contains("""{"a":2}"""))
  }

  test("file-event wakeup drains faster than the poll interval (S12 fsnotify parity)") {
    val dir = Files.createTempDirectory("wake")
    val dbFile = dir.resolve("app.db")
    Files.writeString(dbFile, "")
    val log = new ParquetChangeLog(newLogDir())
    val rec = new RecordingHandler
    // poll interval is 60 s — only the file event can deliver in time
    val engine = new CdcEngine(spark, log, rec, pollIntervalMs = 60000,
      wakeup = new FileWakeup(dbFile.toString))
    val t = new Thread(() => engine.cdc())
    t.start()
    Thread.sleep(300) // let the first (empty) drain finish and the loop block
    appendRows(log, logRows(0 until 7))
    Files.writeString(dbFile.resolveSibling("app.db-wal"), "x") // writer touches the WAL
    val deadline = System.currentTimeMillis() + 15000
    while (rec.all.size < 7 && System.currentTimeMillis() < deadline) Thread.sleep(20)
    assert(rec.all.size == 7, "file event did not wake the cdc loop")
    engine.close()
    Files.writeString(dbFile, "y") // wake the blocked loop so it can observe close()
    t.join(15000)
    assert(!t.isAlive)
  }

  test("close() interrupts the default poll gate promptly (no pollIntervalMs stall)") {
    // poll interval 60 s: a bare-sleep gate would stall shutdown until
    // the sleep expired; the latch gate must observe close() immediately.
    val log = new ParquetChangeLog(newLogDir())
    val engine = new CdcEngine(spark, log, new RecordingHandler,
      pollIntervalMs = 60000)
    val t = new Thread(() => engine.cdc())
    t.start()
    Thread.sleep(300) // first (empty) drain done; loop blocked in the gate
    engine.close()
    t.join(10000) // far below the 60 s interval
    assert(!t.isAlive, "cdc loop did not stop promptly after close()")
  }

  test("continuous bootstrapAndCdc: snapshot, then a change appended after start; close() joins") {
    val log = new ParquetChangeLog(newLogDir())
    val rec = new RecordingHandler
    val engine = new CdcEngine(spark, log, rec, maxBatchSize = 10)
    val t = new Thread(() =>
      engine.bootstrapAndCdc(Seq("nation" -> graft.Tables.nation(spark, sf))))
    t.start()
    appendRows(log, logRows(0 until 3, table = "nation")) // lands during or after the snapshot
    val deadline = System.currentTimeMillis() + 30000
    while (rec.all.size < 25 + 3 && System.currentTimeMillis() < deadline) Thread.sleep(20)
    val got = rec.all
    assert(got.size == 25 + 3, "the continuous loop did not deliver the appended changes")
    assert(got.take(25).forall(c => c.before.isEmpty && c.after.get.contains("n_name")))
    assert(got.drop(25).map(_.after.get) == (0 until 3).map(i => s"""{"pk":$i}"""))
    assert(log.committedOffset == 2)
    engine.close()
    t.join(10000) // bound: 10 s against the 100 ms poll interval
    assert(!t.isAlive, "bootstrapAndCdc loop did not stop after close()")
  }

  test("poll gate: close() from another thread unblocks await as a wake signal") {
    val g = Wakeup.poll()
    val woken = new java.util.concurrent.atomic.AtomicBoolean(false)
    val t = new Thread(() => woken.set(g.await(60000)))
    t.start()
    Thread.sleep(100)
    g.close()
    t.join(5000)
    assert(!t.isAlive && woken.get(), "close() did not wake the poll gate")
    // pure timeout (no signal) still reports not-woken
    assert(!Wakeup.poll().await(50))
  }

  test("unrelated files in the watched directory do not wake the loop") {
    val dir = Files.createTempDirectory("wake2")
    val dbFile = dir.resolve("app.db")
    Files.writeString(dbFile, "")
    val w = new FileWakeup(dbFile.toString)
    Files.writeString(dir.resolve("other.tmp"), "noise")
    assert(!w.await(500), "unrelated file event must not wake")
    Files.writeString(dbFile, "z")
    assert(w.await(5000), "db file event must wake")
    w.close()
  }

  test("ConsoleHandler formats RFC3339Nano with Go's trailing-zero trimming (F6 parity)") {
    val h = new ConsoleHandler
    import java.time.Instant
    assert(h.rfc3339Nano(Instant.parse("2024-05-06T00:03:34.567Z")) ==
      "2024-05-06T00:03:34.567Z")
    assert(h.rfc3339Nano(Instant.parse("2024-05-06T00:03:34.567891234Z")) ==
      "2024-05-06T00:03:34.567891234Z")
    assert(h.rfc3339Nano(Instant.parse("2024-05-06T00:03:34Z")) ==
      "2024-05-06T00:03:34Z")
    assert(h.rfc3339Nano(Instant.parse("2024-05-06T00:03:34.500Z")) ==
      "2024-05-06T00:03:34.5Z")
  }

  test("blob columns: skipped by default, upper-case hex with blob support (F3 parity)") {
    import spark.implicits._
    val df = Seq((1L, Array[Byte](0xDE.toByte, 0xAD.toByte, 0xBE.toByte, 0xAF.toByte)))
      .toDF("id", "payload")
    val plain = Bootstrap.snapshotToChanges("b", df).collect().head
    assert(!plain.after.get.contains("payload"))
    val withBlobs = Bootstrap.snapshotToChanges("b", df, blobSupport = true).collect().head
    assert(withBlobs.after.get.contains("\"payload\":\"DEADBEAF\""))
  }
}
