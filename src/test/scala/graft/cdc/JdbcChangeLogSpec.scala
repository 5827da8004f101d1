package graft.cdc

import java.nio.file.Files
import java.sql.DriverManager

import graft.SparkSpecBase

/** E2E over a real JDBC database. SQLite's driver isn't shipped in this
  * environment, so the generic-JDBC path runs against embedded Derby —
  * same topology as production SQLite (log table in the source DB,
  * offset-predicate reads pushed into the database, transactional
  * delete-after-ack). The SQLite-specific SQL surface (PRAGMAs, trigger
  * DDL) is covered by CdcDdlSpec as pure functions. */
class JdbcChangeLogSpec extends SparkSpecBase {

  private def newDerby(): String = {
    val dir = Files.createTempDirectory("derby").toString
    s"jdbc:derby:$dir/db;create=true"
  }

  /** A Derby log table named `table`, quoted as setup quotes it
    * (`CdcDdl.qi`; `CDC_LOG` reads the same quoted or not). A foreign
    * producer's table may leave `tablename` nullable. */
  private def setupLog(url: String, rows: Int, table: String = "CDC_LOG",
      tablenameNull: String = "NOT NULL"): Unit = {
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      // lower-case quoted identifiers: match what the log reader's
      // dialect-neutral select list references (SQLite is caseless here;
      // Derby is case-sensitive for quoted names)
      st.execute(s"""CREATE TABLE ${CdcDdl.qi(table)} (
        "id" BIGINT PRIMARY KEY, "timestamp" VARCHAR(30) NOT NULL,
        "tablename" VARCHAR(128) $tablenameNull, "operation" VARCHAR(10) NOT NULL,
        "before" CLOB, "after" CLOB)""")
      val ps = c.prepareStatement(s"INSERT INTO ${CdcDdl.qi(table)} VALUES (?, ?, ?, ?, ?, ?)")
      (0 until rows).foreach { i =>
        ps.setLong(1, i.toLong)
        ps.setString(2, f"2024-05-06 00:00:${i % 60}%02d.000")
        ps.setString(3, "t")
        ps.setString(4, if (i % 3 == 0) "INSERT" else if (i % 3 == 1) "UPDATE" else "DELETE")
        ps.setString(5, if (i % 3 == 0) null else s"""{"pk":$i,"v":0}""")
        ps.setString(6, if (i % 3 == 2) null else s"""{"pk":$i,"v":1}""")
        ps.addBatch()
      }
      ps.executeBatch()
      st.close(); ps.close()
    } finally c.close()
  }

  private def derbyLog(url: String, table: String = "CDC_LOG") = new JdbcChangeLog(
    url, logTable = table,
    limitClause = n => s"FETCH FIRST $n ROWS ONLY")

  private def logCount(url: String, table: String = "CDC_LOG"): Int = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM ${CdcDdl.qi(table)}")
      rs.next()
      rs.getInt(1)
    } finally c.close()
  }

  private val Pk = """"pk":(\d+)""".r.unanchored
  private def pk(ch: Change): Int = ch.before.orElse(ch.after).get match {
    case Pk(n) => n.toInt
  }

  test("offset-range batch read pushes predicate + order + limit into the DB") {
    val url = newDerby(); setupLog(url, 25)
    val log = derbyLog(url)
    val batch = log.readBatch(spark, afterId = 9, limit = 10).collect()
    assert(batch.length == 10)
    assert(batch.map(_.getLong(0)).toSeq == (10L to 19L))
    assert(log.readFrom(spark, 9).collect().map(_.getLong(0)).sorted.toSeq == (10L to 24L))
  }

  test("full engine drain over JDBC: ordered batches, transactional ack deletes the log") {
    val url = newDerby(); setupLog(url, 103)
    val rec = new RecordingHandler
    val engine = new CdcEngine(spark, derbyLog(url), rec, maxBatchSize = 25)
    val n = engine.cdcAvailableNow()
    assert(n == 103)
    assert(rec.batches.map(_.size) == Seq(25, 25, 25, 25, 3))
    // null-image semantics survived the round-trip (P7)
    assert(rec.all.filter(_.operation == "INSERT").forall(_.before.isEmpty))
    assert(rec.all.filter(_.operation == "DELETE").forall(_.after.isEmpty))
    assert(rec.all.filter(_.operation == "UPDATE")
      .forall(c => c.before.nonEmpty && c.after.nonEmpty))
    // log fully truncated after acks (delete-after-ack, triggers.go:209-221)
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery("SELECT COUNT(*) FROM CDC_LOG")
      rs.next()
      assert(rs.getInt(1) == 0)
    } finally c.close()
  }

  test("live appends between drains are picked up (CDC tail)") {
    val url = newDerby(); setupLog(url, 10)
    val rec = new RecordingHandler
    val log = derbyLog(url)
    val engine = new CdcEngine(spark, log, rec)
    engine.cdcAvailableNow()
    assert(rec.all.size == 10)
    // writer appends more rows after the first drain
    val c = DriverManager.getConnection(url)
    try c.createStatement().execute(
      "INSERT INTO CDC_LOG VALUES (100, '2024-05-06 00:01:00.000', 't', 'INSERT', NULL, '{\"pk\":100}')")
    finally c.close()
    val rec2 = new RecordingHandler
    new CdcEngine(spark, log, rec2).cdcAvailableNow()
    assert(rec2.all.map(_.after.get) == Seq("""{"pk":100}"""))
  }

  test("a log table whose name needs quoting drains through the engine and the cdc-log source") {
    val url = newDerby(); setupLog(url, 30, table = "cdc log")
    val read = spark.read.format("cdc-log")
      .option("url", url).option("logTable", "cdc log").load()
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(read == (0L until 30L))
    val rec = new RecordingHandler
    val n = new CdcEngine(spark, derbyLog(url, "cdc log"), rec, maxBatchSize = 25)
      .cdcAvailableNow()
    assert(n == 30)
    assert(rec.batches.map(_.size) == Seq(25, 5))
    assert(rec.all.map(pk) == (0 until 30))
    assert(logCount(url, "cdc log") == 0)
  }

  test("dead-letter over a JDBC log: a null tablename from a foreign producer " +
      "reaches the side sink, the other rows deliver in order and all ack") {
    val url = newDerby(); setupLog(url, 10, tablenameNull = "")
    val c = DriverManager.getConnection(url)
    try c.createStatement().executeUpdate(
      """UPDATE CDC_LOG SET "tablename" = NULL WHERE "id" = 4""")
    finally c.close()
    val rec = new RecordingHandler
    val dead = new RecordingHandler
    val n = new CdcEngine(spark, derbyLog(url), rec, deadLetter = Some(dead))
      .cdcAvailableNow()
    assert(n == 10)
    assert(dead.all.map(ch => (ch.table, pk(ch))) == Seq((null, 4)))
    assert(rec.all.map(pk) == (0 until 10).filter(_ != 4))
    assert(logCount(url) == 0)
  }
}
