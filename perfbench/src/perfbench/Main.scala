package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.cdc._

/** Run settings. `tiny` shrinks every size for the self-check; `inject`
  * plants a fault (`drop`: the handler loses one change per drain;
  * `throw`: the handler throws; `query`: an analytics query throws) so
  * the self-check can see it counted. */
final case class Conf(workload: String, seed: Long, seconds: Int, trace: Boolean,
    runDir: Path, sqlite3: String, tiny: Boolean, inject: String) {
  val initialRows: Int = if (tiny) 150 else 2000
  val roundChanges: Int = if (tiny) 300 else 600
  val warmChanges: Int = 150
  val setups: Int = 2
  val bootstraps: Int = 2
  // Phase windows. Backlog rounds (at least two) and analytics passes (at
  // least one) are whole: another starts only if it should end in time.
  val backlogS: Double = if (tiny) 0.0 else seconds * 0.35
  val liveS: Double = if (tiny) 2.0 else seconds * 0.12
  val analyticsS: Double = if (tiny) 0.0 else seconds * 0.5
  val sqliteReps: Int = 3
  def sqliteTables: Seq[SqliteProbe.Table] =
    if (tiny) Seq(SqliteProbe.users(3000), SqliteProbe.fixture(false, 300),
      SqliteProbe.fixture(true, 300), SqliteProbe.cols1000(20))
    else Seq(SqliteProbe.users(100000), SqliteProbe.fixture(false, 10000),
      SqliteProbe.fixture(true, 10000), SqliteProbe.cols1000(60))
}

/** A handler that keeps every change it is given, with the time it got
  * them: the benchmark's sink, and the reference its checks read. */
final class Recorder(inject: String) extends ChangesHandler {
  val got = ArrayBuffer[Change]()
  val receivedNs = ArrayBuffer[Long]()
  val count = new AtomicLong
  private var calls = 0

  override def handle(changes: Dataset[Change]): Unit = {
    val batch = changes.collect()
    val now = System.nanoTime()
    calls += 1
    if (inject == "throw") throw new IllegalStateException("injected handler fault")
    val kept = if (inject == "drop" && calls == 1) batch.drop(1) else batch
    synchronized { got ++= kept; kept.foreach(_ => receivedNs += now) }
    count.addAndGet(batch.length.toLong)
  }
}

/** Failure accounting: each checked change is one attempt; a change that
  * is lost, duplicated, out of log order or altered is one failure. */
final class Checks {
  var attempted = 0L
  var failed = 0L
  val errors = ArrayBuffer[String]()

  def fail(n: Long, what: String): Unit = { failed += n; errors += what }

  def delivery(what: String, got: Seq[Change], exp: Seq[Expected]): Unit = {
    attempted += exp.size
    val index = exp.iterator.zipWithIndex
      .map { case (e, i) => (e.table, e.operation, e.before, e.after) -> i }.toMap
    val seen = mutable.BitSet()
    var unknown, dups, disorder = 0L
    var last = -1
    var firstUnknown = ""
    got.foreach { c =>
      index.get((c.table, c.operation, c.before.orNull, c.after.orNull)) match {
        case None =>
          if (unknown == 0) firstUnknown = s"; first: ${c.operation} ${c.before.orNull} -> ${c.after.orNull}"
          unknown += 1
        case Some(i) =>
          if (seen(i)) dups += 1 else seen += i
          if (i < last) disorder += 1
          last = math.max(last, i)
      }
    }
    val lost = exp.size - seen.size
    val bad = unknown + dups + disorder + lost
    if (bad > 0)
      fail(bad, s"$what: of ${exp.size} changes $lost lost, $dups duplicated, " +
        s"$disorder out of order, $unknown altered or unknown$firstUnknown")
  }

  def equalCount(what: String, got: Long, exp: Long): Unit = {
    attempted += exp
    if (got != exp) fail(math.abs(got - exp), s"$what: $got of $exp")
  }
}

object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val conf = Conf(a("workload"), a("seed").toLong, a("seconds").toInt, a("trace") == "1",
      Paths.get(a("run-dir")).toAbsolutePath, a.getOrElse("sqlite3", ""),
      a.getOrElse("tiny", "0") == "1", a.getOrElse("inject", "none"))
    val run = new Run(conf)
    val ok = try { run.execute(); true } catch {
      case e: Throwable =>
        run.checks.fail(1, s"run aborted: $e")
        e.printStackTrace()
        false
    }
    run.writeResult(conf.runDir.resolve("result.json"))
    run.stop()
    System.exit(if (ok && run.checks.failed == 0) 0 else 1)
  }
}

final class Run(c: Conf) {
  val checks = new Checks
  private val tr = new Tracer(false)
  private val e2e = mutable.LinkedHashMap[String, Double]()
  private val layers = mutable.LinkedHashMap[String, Double]()
  private val shape = Shape.of(c.workload)

  System.setProperty("derby.system.durability", "test")
  System.setProperty("derby.system.home", c.runDir.toString)
  System.setProperty("derby.stream.error.file", c.runDir.resolve("derby.log").toString)

  private val (spark, sparkStartS) = Stats.timeS {
    SparkSession.builder().master("local[4]").appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", c.runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", c.runDir.resolve("warehouse").toString)
      .config("spark.graft.standing.dir", c.runDir.resolve("standing").toString)
      .config("spark.sql.streaming.checkpointLocation", c.runDir.resolve("checkpoints").toString)
      .getOrCreate()
  }
  private val sc = spark.sparkContext
  sc.setLogLevel("ERROR")

  private var src: DerbySource = _
  private var writer: Writer = _
  private var jobs: JobMeter = _
  private var scans: ScanMeter = _
  private var streams: StreamMeter = _
  private val analytics = new AnalyticsPart(spark, checks, tr, c.inject)
  private var dirs = 0
  private def freshDir(name: String): String = {
    dirs += 1
    val p = c.runDir.resolve(s"$name-$dirs")
    Files.createDirectories(p.getParent)
    p.toString
  }

  private def jdbcLog(): ChangeLog =
    new JdbcChangeLog(src.url, logTable = src.logTable,
      limitClause = n => s"FETCH FIRST $n ROWS ONLY")

  private def traced(log: ChangeLog, path: String): ChangeLog =
    if (c.trace) new TracedLog(log, path, tr, sc) else log

  private def traced(h: ChangesHandler, name: String): ChangesHandler =
    if (c.trace) new TracedHandler(h, name, tr, sc) else h

  private def finish(log: ChangeLog): Unit = log match {
    case t: TracedLog => t.finish()
    case _            => ()
  }

  // Timed results per round.
  private val bootRate, jdbcRate, streamRate, parquetRate = ArrayBuffer[Double]()
  private val bootCpuUs, jdbcCpuUs, streamCpuUs, parquetCpuUs = ArrayBuffer[Double]()
  private var unackedStreamRows = 0L

  def execute(): Unit = {
    layers("setup.spark_start_s") = sparkStartS
    val setupS = (1 to c.setups).map { _ =>
      if (src != null) { writer.close(); src.shutdown(); graft.TempPath.deleteRecursively(src.dir) }
      Stats.timeS(setup())._2
    }
    val (corpusS, warmS) = analytics.setup(freshDir("corpus"), c.seed)
    layers("setup.corpus_s") = corpusS
    layers("setup.standing_build_s") = warmS
    e2e("setup_s") = Stats.median(setupS) + corpusS + warmS
    if (c.trace) {
      jobs = new JobMeter; sc.addSparkListener(jobs)
      scans = new ScanMeter("parquet-log"); spark.listenerManager.register(scans)
      streams = new StreamMeter(tr); spark.streams.addListener(streams)
      tr.enabled = true
    }
    val rounds = repeat(c.backlogS, 2)(round(c.roundChanges, timed = true))
    layers("backlog.rounds") = rounds
    live()
    tr.span("phase.analytics")(repeat(c.analyticsS, 1)(analytics.pass()))
    sqlite()
    layers("jvm.peak_rss_mb") = peakRssMb()
    if (c.trace) {
      org.apache.spark.GraftListenerBus.drain(sc, 10000)
      layerMetrics(rounds)
      tr.write(c.runDir.resolve("trace.json"))
    }
  }

  /** Runs `f` at least `min` times, and again while another run, as long
    * as the last, would end within `windowS` of the start. */
  private def repeat(windowS: Double, min: Int)(f: => Unit): Int = {
    val t0 = System.nanoTime()
    var n, lastNs = 0L
    while (n < min || System.nanoTime() - t0 + lastNs <= windowS * 1e9) {
      val s = System.nanoTime(); f; lastNs = System.nanoTime() - s; n += 1
    }
    n.toInt
  }

  /** Fresh Derby database, initial rows, capture DDL, and one untimed
    * round that warms every path. */
  private def setup(): Unit = {
    src = new DerbySource(freshDir("derby"), shape)
    writer = new Writer(src, c.seed * 7919 + dirs)
    src.create(writer.initialRows(c.initialRows))
    round(c.warmChanges, timed = false)
  }

  /** `CdcEngine.bootstrap` over a JDBC snapshot of the table. */
  private def bootstrap(timed: Boolean): Unit = {
    val boot = new Recorder(c.inject)
    val bootEngine = new CdcEngine(spark, jdbcLog(), traced(boot, "handler.bootstrap"), 256)
    val (bootS, bootCpu) = Stats.measure(tr.span("phase.bootstrap") {
      Trace.withLayer(sc, "bootstrap") {
        val snap = tr.span("bootstrap.snapshot")(Bootstrap.snapshotJdbc(
          spark, src.url, shape.sqlName, shape.partitionColumn, 4))
        tr.span("engine.bootstrap")(bootEngine.bootstrap(Seq(shape.table -> snap)))
      }
    })
    val keys = writer.liveKeys.map(_.map(_.toString))
    val bootKeys = boot.got.map(ch => keyOf(ch.after.getOrElse("")))
    checks.equalCount("bootstrap rows", bootKeys.size.toLong, keys.size.toLong)
    if (bootKeys.toSet != keys) checks.fail(1, "bootstrap: snapshot keys differ from the table's")
    if (timed) { bootRate += keys.size / bootS; bootCpuUs += bootCpu * 1e6 / keys.size }
  }

  /** Bootstrap, then capture `changes` changes and drain the identical
    * rows through each consumer in turn. */
  private def round(changes: Int, timed: Boolean): Unit = {
    (1 to (if (timed) c.bootstraps else 1)).foreach(_ => bootstrap(timed))

    val from = writer.expected.size
    (1 to changes / 3).foreach(_ => writer.mixedTxn())
    val exp = writer.expected.slice(from, writer.expected.size).toSeq
    val logged = src.logRows()
    checks.delivery("capture", logged.map(r => Change(r.getString(2), null, r.getString(3),
      Option(r.getString(4)), Option(r.getString(5)))), exp)

    val jdbc = new Recorder(c.inject)
    val jlog = traced(jdbcLog(), "jdbc")
    val (jdbcS, jdbcCpu) = Stats.measure(tr.span("phase.drain.jdbc") {
      new CdcEngine(spark, jlog, traced(jdbc, "handler.jdbc"), 50).cdcAvailableNow()
      finish(jlog)
    })
    checks.delivery("jdbc drain", jdbc.got.toSeq, exp)

    src.reinsert(logged)
    val stream = new Recorder(c.inject)
    val (streamS, streamCpu) = Stats.measure(tr.span("phase.drain.stream")(
      streamDrain(logged.head.getLong(0) - 1, traced(stream, "handler.stream"))))
    checks.delivery("stream drain", stream.got.toSeq, exp)
    // Under AvailableNow the query stops before the source's commit() for
    // its last micro-batch runs, so truncateOnCommit leaves that batch in
    // the log. Those rows are delivered; they are counted, then removed so
    // the next consumer starts from an empty log.
    unackedStreamRows += src.deleteUpTo(logged.last.getLong(0))

    val pdir = freshDir("parquet-log")
    val plog = new ParquetChangeLog(pdir)
    plog.append(spark.createDataFrame(
      sc.parallelize(logged, math.max(1, (logged.size + 99) / 100)), Change.logSchema))
    val parquet = new Recorder(c.inject)
    val tplog = traced(plog, "parquet")
    val (parquetS, parquetCpu) = Stats.measure(tr.span("phase.drain.parquet") {
      new CdcEngine(spark, tplog, traced(parquet, "handler.parquet"), 256).cdcAvailableNow()
      finish(tplog)
    })
    checks.delivery("parquet drain", parquet.got.toSeq, exp)
    graft.TempPath.deleteRecursively(Paths.get(pdir))

    if (timed) {
      jdbcRate += exp.size / jdbcS
      streamRate += exp.size / streamS
      parquetRate += exp.size / parquetS
      jdbcCpuUs += jdbcCpu * 1e6 / exp.size
      streamCpuUs += streamCpu * 1e6 / exp.size
      parquetCpuUs += parquetCpu * 1e6 / exp.size
    }
  }

  /** The snapshot's key columns, read back from a bootstrap image. */
  private def keyOf(image: String): Seq[String] = shape.keyCols.map { k =>
    ("\"" + k + "\":(-?\\d+)").r.findFirstMatchIn(image).map(_.group(1)).getOrElse("?")
  }

  /** The `cdc-log` source drained as a user would: AvailableNow, 256 rows
    * a micro-batch, acked by deletion on commit, decoded by the engine's
    * `toChanges` into the handler. */
  private def streamDrain(afterId: Long, handler: ChangesHandler): Unit = {
    val decode = new CdcEngine(spark, jdbcLog(), handler)
    val each: (org.apache.spark.sql.DataFrame, Long) => Unit =
      (df, _) => handler.handle(decode.toChanges(df))
    val q0 = spark.readStream.format("cdc-log")
      .option("url", src.url).option("logTable", src.logTable)
      .option("maxBatchSize", 256).option("truncateOnCommit", true)
      .option("startingId", afterId).load()
    val sink = q0.writeStream.option("checkpointLocation", freshDir("checkpoint"))
      .trigger(Trigger.AvailableNow())
    val q = tr.span("stream.start")(sink.foreachBatch(each).start())
    val run = tr.open()
    if (streams != null) streams.parent = run
    try q.awaitTermination() finally tr.close(run, "stream.run")
  }

  /** Open loop: one writer commits 3-insert, 2-update transactions on a
    * fixed schedule while `CdcEngine.cdc()` tails the log at batch 256
    * with the default 100 ms poll. Latency runs from a transaction's
    * scheduled time to the handler's receipt of each of its changes. */
  private def live(): Unit = {
    val rec = new Recorder(c.inject)
    val log = traced(jdbcLog(), "live")
    val engine = new CdcEngine(spark, log, traced(rec, "handler.live"), 256, 100)
    @volatile var engineError: Throwable = null
    val t = new Thread(() => try engine.cdc() catch { case e: Throwable => engineError = e })
    t.start()
    val periodNs = 10000000L // 100 transactions/s x 5 changes = 500 changes/s
    val from = writer.expected.size
    val due = mutable.HashMap[Long, Long]()
    val commitMs, lateMs = ArrayBuffer[Double]()
    var backlogMax = 0L
    val t0 = System.nanoTime() + 50000000L
    val tEnd = t0 + (c.liveS * 1e9).toLong
    var k = 0L
    val cpu0 = Stats.processCpuS
    val writerCpu0 = Stats.threadCpuS
    tr.span("phase.live") {
      while (t0 + k * periodNs < tEnd) {
        val d = t0 + k * periodNs
        while (System.nanoTime() < d) LockSupport.parkNanos(math.max(1000L, d - System.nanoTime()))
        val start = System.nanoTime()
        lateMs += (start - d) / 1e6
        val txn = try tr.span("capture.commit")(writer.liveTxn()) catch {
          case e: java.sql.SQLException => checks.fail(1, s"writer commit failed: $e"); -1L
        }
        commitMs += (System.nanoTime() - start) / 1e6
        due(txn) = d
        backlogMax = math.max(backlogMax, (writer.expected.size - from) - rec.count.get)
        k += 1
      }
      val expected = writer.expected.size - from
      val deadline = System.nanoTime() + 30000000000L
      while (rec.count.get < expected && System.nanoTime() < deadline && engineError == null)
        Thread.sleep(5)
    }
    // The writer (this thread: commits, the source's triggers and their
    // JSON image building) is taken out, so the figure is the engine's.
    val writerCpu = Stats.threadCpuS - writerCpu0
    val liveCpu = Stats.processCpuS - cpu0 - writerCpu
    engine.close(); t.join(30000); finish(log)
    if (engineError != null) checks.fail(1, s"live engine stopped: $engineError")
    checks.attempted += k
    val exp = writer.expected.slice(from, writer.expected.size).toSeq
    checks.delivery("live", rec.got.toSeq, exp)
    val latency = rec.got.indices.flatMap { i =>
      val ch = rec.got(i)
      due.get(Json.txn(ch.after.orElse(ch.before).getOrElse(""))).map(d => (rec.receivedNs(i) - d) / 1e6)
    }
    layers("live.delivery_ms.p50") = Stats.median(latency)
    layers("live.delivery_ms.p99") = Stats.quantile(latency, 0.99)
    layers("capture.commit_ms.p50") = Stats.median(commitMs.toSeq)
    layers("capture.commit_ms.p95") = Stats.quantile(commitMs.toSeq, 0.95)
    layers("capture.commit_ms.p99") = Stats.quantile(commitMs.toSeq, 0.99)
    layers("capture.generator_late_ms.max") = lateMs.max
    layers("log.backlog_rows.max") = backlogMax.toDouble
    layers("live.changes") = exp.size.toDouble
    e2e("live_cpu_us_per_change") = liveCpu * 1e6 / exp.size
    layers("capture.writer_cpu_us_per_change") = writerCpu * 1e6 / exp.size
  }

  /** The capture DDL in a real SQLite: per-row trigger cost on each
    * table shape, and the tax on this workload's shape. */
  private def sqlite(): Unit = {
    val dir = Paths.get(freshDir("sqlite")); Files.createDirectories(dir)
    val own = if (shape == Users) "narrow" else "wide"
    c.sqliteTables.foreach { t =>
      SqliteProbe.run(c.sqlite3, dir, t, c.sqliteReps) match {
        case Left(reason) =>
          checks.fail(1, s"sqlite capture probe ${t.label}: $reason")
        case Right(r) =>
          checks.equalCount(s"sqlite ${t.label} inserts captured with full images",
            r.validImages, r.rows.toLong)
          layers(s"capture.sqlite_us_per_row.${t.label}") = r.usPerRow
          layers(s"capture.sqlite_tax.${t.label}") = r.tax
          if (t.label == own) {
            e2e("sqlite_capture_tax") = r.tax
            layers("capture.sqlite_log_bytes_per_row") = r.logBytes.toDouble / r.logged
          }
      }
    }
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def layerMetrics(rounds: Int): Unit = {
    val spans = tr.all
    def ms(name: String) = spans.filter(_.name == name).map(_.ms)
    def p50(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else Stats.median(xs)
    for (path <- Seq("jdbc", "parquet", "live")) {
      val cycles = spans.filter(_.name == s"engine.$path.cycle")
      val n = cycles.size.toDouble
      layers(s"engine.$path.batches") = n
      layers(s"engine.$path.cycle_ms.p50") = p50(cycles.map(_.ms))
      layers(s"engine.$path.cycle_ms.p99") = Stats.quantile(cycles.map(_.ms), 0.99)
      layers(s"engine.$path.spark_jobs_per_batch") = jobs.cycleJobs(path, cycles.map(_.id).toSet) / n
      layers(s"log.$path.read_ms.p50") = p50(cycles.map(s => tr.selfMs(s, spans)))
      layers(s"log.$path.ack_ms.p50") = p50(ms(s"log.$path.ack"))
      layers(s"handler.$path.handle_ms.p50") = p50(ms(s"handler.$path"))
      layers(s"handler.$path.spark_jobs_per_batch") = jobs.jobs(s"handler.$path") / n
    }
    layers("engine.jdbc.changes_per_batch") = c.roundChanges * rounds / layers("engine.jdbc.batches")
    layers("engine.parquet.changes_per_batch") = c.roundChanges * rounds / layers("engine.parquet.batches")
    layers("engine.live.changes_per_batch") = layers("live.changes") / layers("engine.live.batches")
    layers("log.parquet.files_read_per_batch") = scans.files.get.toDouble / math.max(1L, scans.scans.get)
    layers("bootstrap.snapshot_ms") = p50(ms("bootstrap.snapshot"))
    layers("bootstrap.spark_jobs") =
      (jobs.jobs("bootstrap") + jobs.jobs("handler.bootstrap")).toDouble / (rounds * c.bootstraps)
    layers("handler.bootstrap.handle_ms.p50") = p50(ms("handler.bootstrap"))
    layers("engine.bootstrap.self_ms.p50") =
      p50(spans.filter(_.name == "engine.bootstrap").map(s => tr.selfMs(s, spans)))
    layers("stream.start_ms.p50") = p50(ms("stream.start"))
    layers("stream.outside_batches_ms.p50") =
      p50(spans.filter(_.name == "stream.run").map(s => tr.selfMs(s, spans)))
    layers("handler.stream.handle_ms.p50") = p50(ms("handler.stream"))
    layers("stream.batches") = streams.batches.get.toDouble
    layers("stream.unacked_rows_per_drain") = unackedStreamRows.toDouble / (rounds + c.setups)
    Seq("latestOffset" -> "latest_offset", "queryPlanning" -> "query_planning",
      "addBatch" -> "add_batch", "walCommit" -> "wal_commit", "commitOffsets" -> "commit_offsets",
      "triggerExecution" -> "trigger").foreach { case (k, name) =>
      layers(s"stream.${name}_ms.p50") = p50(streams.values(k))
    }
    layers("spark.jobs") = jobs.jobsByLayer.values().stream().mapToLong(_.get).sum().toDouble
    layers("spark.tasks") = jobs.tasks.get.toDouble
    layers("spark.task_cpu_s") = jobs.cpuNs.get / 1e9
    layers("spark.gc_s") = jobs.gcMs.get / 1e3
    layers("spark.scheduler_delay_s") = jobs.schedulerDelayMs.get / 1e3
    // Share of each phase that no child span covers: the part of the
    // phase the trace does not attribute to a layer.
    Seq("bootstrap", "drain.jdbc", "drain.stream", "drain.parquet", "analytics").foreach { p =>
      val phase = spans.filter(_.name == s"phase.$p")
      val total = phase.map(_.ms).sum
      layers(s"trace.unattributed_pct.${p.replace('.', '_')}") =
        100 * phase.map(s => tr.selfMs(s, spans)).sum / total
    }
    layers("trace.spans") = spans.size.toDouble
  }

  def writeResult(path: Path): Unit = {
    def obj(m: collection.Map[String, Double]) =
      m.map { case (k, v) => s""""$k":${if (v.isNaN || v.isInfinite) "null" else v.toString}""" }
        .mkString("{", ",", "}")
    val rates = Map("bootstrap_rows_per_s" -> bootRate, "drain_jdbc_changes_per_s" -> jdbcRate,
      "drain_stream_changes_per_s" -> streamRate, "drain_parquet_changes_per_s" -> parquetRate)
    rates.foreach { case (k, v) => if (v.nonEmpty) e2e(k) = Stats.median(v.toSeq) }
    if (analytics.passWallS.nonEmpty) {
      e2e("analytics_wall_s") = analytics.wallS
      e2e("analytics_cpu_s") = analytics.cpuS
      analytics.layerMetrics(layers)
    }
    // Process CPU (every JVM thread) per change, the CPU basis for claims
    // on one path; it moves with the host's speed about as much as wall time.
    val cpu = Map("bootstrap.cpu_us_per_row" -> bootCpuUs, "engine.jdbc.cpu_us_per_change" -> jdbcCpuUs,
      "stream.cpu_us_per_change" -> streamCpuUs, "engine.parquet.cpu_us_per_change" -> parquetCpuUs)
    cpu.foreach { case (k, v) => if (v.nonEmpty) layers(k) = Stats.median(v.toSeq) }
    val errs = checks.errors.map(e => Json.str(e)).mkString("[", ",", "]")
    Files.write(path, (s"""{"attempted":${checks.attempted},"failed":${checks.failed},""" +
      s""""errors":$errs,"e2e":${obj(e2e)},"layers":${obj(layers)}}""")
      .getBytes(StandardCharsets.UTF_8))
  }

  def stop(): Unit = {
    try { if (writer != null) writer.close(); if (src != null) src.shutdown() } catch { case _: Throwable => () }
    spark.stop()
  }
}
