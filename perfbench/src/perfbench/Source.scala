package perfbench

import java.math.BigDecimal
import java.sql.{Connection, Date, DriverManager, PreparedStatement, Timestamp}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable
import scala.util.Random

/** JSON text for the row images. Keys keep column order, as SQLite's
  * `json_object` does. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null                 => "null"
    case s: String            => str(s)
    case d: BigDecimal        => d.toPlainString
    case d: Date              => str(d.toString)
    case t: Timestamp         => str(t.toString)
    case b: Boolean           => b.toString
    case n                    => n.toString
  }

  def obj(pairs: (String, Any)*): String =
    pairs.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  private val Txn = "\"txn\":(\\d+)".r

  /** The writer's transaction number carried in an image. */
  def txn(image: String): Long = Txn.findFirstMatchIn(image).map(_.group(1).toLong).getOrElse(-1L)
}

/** Java-callable functions that Derby's capture triggers call. Derby has
  * no `json_object`, so the image is built here; the writer calls the
  * same functions on the values it wrote to know the images it expects. */
object DerbyFns {
  private val LogTs = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(ZoneOffset.UTC)

  /** SQLite's `datetime('now','subsec')` text, the log's timestamp format. */
  def now(): String = LogTs.format(Instant.now())

  def usersImage(id: Long, username: String, email: String, color: String, txn: Long): String =
    Json.obj("id" -> id, "username" -> username, "email" -> email,
      "favorite_color" -> color, "txn" -> txn)

  def testImage(a: Int, b: Int, c: Short, d: Short, e: Int, f: Long, g: Long, h: Short, i: Long,
      j: String, k: String, l: String, m: String, n: String, o: String, p: String, q: String,
      s: Float, t: Double, u: Double, v: Double, w: BigDecimal, x: BigDecimal, y: Boolean,
      z: Date, aa: Timestamp, txn: Long): String =
    Json.obj("a" -> a, "b" -> b, "c" -> c, "d" -> d, "e" -> e, "f" -> f, "g" -> g, "h" -> h,
      "i" -> i, "j" -> j, "k" -> k, "l" -> l, "m" -> m, "n" -> n, "o" -> o, "p" -> p, "q" -> q,
      "s" -> s, "t" -> t, "u" -> u, "v" -> v, "w" -> w, "x" -> x, "y" -> y, "z" -> z,
      "aa" -> aa, "txn" -> txn)
}

/** A captured change as the writer expects it to be delivered. */
final case class Expected(table: String, operation: String, before: String, after: String)

/** A monitored source table: its Derby DDL, its capture trigger
  * arguments and how the writer makes and changes its rows. A row is the
  * column values in Derby's Java types, in column order. */
sealed abstract class Shape(val table: String, val sqlName: String, val keyCols: Seq[String]) {
  def columns: Seq[(String, String)]
  def imageFn: String
  def image(r: Array[Any]): String
  def newRow(key: Long, txn: Long, rnd: Random): Array[Any]
  /** Column indexes an update rewrites (the last is always `txn`). */
  def updateCols: Seq[Int]
  def updated(r: Array[Any], txn: Long, rnd: Random): Array[Any]
  def keyOf(r: Array[Any]): Seq[Any] = keyCols.map(k => r(columns.indexWhere(_._1 == k)))
  /** Bootstrap partitions on the first key column. */
  def partitionColumn: String = keyCols.head

  private def names = columns.map(_._1)
  def createSql: String =
    columns.map { case (n, t) => s"$n $t" }
      .mkString(s"CREATE TABLE $sqlName (", ", ", s", PRIMARY KEY (${keyCols.mkString(", ")}))")
  def insertSql: String =
    s"INSERT INTO $sqlName (${names.mkString(", ")}) VALUES (${names.map(_ => "?").mkString(", ")})"
  def updateSql: String =
    s"UPDATE $sqlName SET ${updateCols.map(i => s"${names(i)} = ?").mkString(", ")} " +
      s"WHERE ${keyCols.map(k => s"$k = ?").mkString(" AND ")}"
  def deleteSql: String = s"DELETE FROM $sqlName WHERE ${keyCols.map(k => s"$k = ?").mkString(" AND ")}"

  /** Columns the image carries: BLOBs are left out, as the capture DDL
    * does without blob support. */
  private def imageCols: Seq[String] = columns.filterNot(_._2 == "BLOB").map(_._1)
  private def imageArgs(q: String) = imageCols.map(c => s"$q.$c").mkString(", ")

  def functionSql: String =
    columns.filterNot(_._2 == "BLOB").map { case (n, t) => s"$n ${t.replace(" NOT NULL", "")}" }
      .mkString(s"CREATE FUNCTION PB_IMG_$sqlName (", ", ",
        ") RETURNS VARCHAR(32672) PARAMETER STYLE JAVA NO SQL LANGUAGE JAVA " +
          s"DETERMINISTIC EXTERNAL NAME 'perfbench.DerbyFns.$imageFn'")

  def triggerSqls(logTable: String): Seq[String] = {
    def trig(op: String, refs: String, before: String, after: String) =
      s"CREATE TRIGGER ${sqlName}_CDC_$op AFTER $op ON $sqlName $refs FOR EACH ROW " +
        s"""INSERT INTO $logTable ("timestamp", "tablename", "operation", "before", "after") """ +
        s"VALUES (PB_NOW(), '$table', '$op', $before, $after)"
    val img = (q: String) => s"PB_IMG_$sqlName(${imageArgs(q)})"
    Seq(
      trig("INSERT", "REFERENCING NEW AS N", "CAST(NULL AS VARCHAR(32672))", img("N")),
      trig("UPDATE", "REFERENCING OLD AS O NEW AS N", img("O"), img("N")),
      trig("DELETE", "REFERENCING OLD AS O", img("O"), "CAST(NULL AS VARCHAR(32672))"))
  }

  def bind(ps: PreparedStatement, values: Seq[Any]): Unit =
    values.zipWithIndex.foreach {
      case (b: Array[Byte], i) => ps.setBinaryStream(i + 1, new java.io.ByteArrayInputStream(b), b.length)
      case (v, i)              => ps.setObject(i + 1, v)
    }
}

/** The README's users table: a narrow row and a short image. */
object Users extends Shape("users", "USERS", Seq("ID")) {
  private val colors = Array("red", "green", "blue", "yellow", "purple", "orange")
  val columns = Seq("ID" -> "BIGINT NOT NULL", "USERNAME" -> "VARCHAR(64)",
    "EMAIL" -> "VARCHAR(128)", "FAVORITE_COLOR" -> "VARCHAR(16)", "TXN" -> "BIGINT")
  val imageFn = "usersImage"
  def image(r: Array[Any]): String = DerbyFns.usersImage(r(0).asInstanceOf[Long],
    r(1).asInstanceOf[String], r(2).asInstanceOf[String], r(3).asInstanceOf[String],
    r(4).asInstanceOf[Long])
  def newRow(key: Long, txn: Long, rnd: Random): Array[Any] =
    Array(key, s"user$key", s"user$key@example.com", colors(rnd.nextInt(colors.length)), txn)
  val updateCols = Seq(3, 4)
  def updated(r: Array[Any], txn: Long, rnd: Random): Array[Any] = {
    val n = r.clone(); n(3) = colors(rnd.nextInt(colors.length)); n(4) = txn; n
  }
}

/** The 27-type `test` table of the reference's test suite (composite
  * key, every SQLite affinity), in the closest Derby types, plus the
  * writer's `txn` column. */
object Wide extends Shape("test", "TEST27", Seq("A", "B", "C")) {
  val columns = Seq(
    "A" -> "INT NOT NULL", "B" -> "INTEGER NOT NULL", "C" -> "SMALLINT NOT NULL", "D" -> "SMALLINT",
    "E" -> "INT", "F" -> "BIGINT", "G" -> "BIGINT", "H" -> "SMALLINT", "I" -> "BIGINT",
    "J" -> "VARCHAR(20)", "K" -> "VARCHAR(255)", "L" -> "VARCHAR(255)", "M" -> "VARCHAR(55)",
    "N" -> "VARCHAR(70)", "O" -> "VARCHAR(100)", "P" -> "VARCHAR(1000)", "Q" -> "VARCHAR(4000)",
    "R" -> "BLOB", "S" -> "REAL", "T" -> "DOUBLE", "U" -> "DOUBLE PRECISION", "V" -> "FLOAT",
    "W" -> "DECIMAL(12,0)", "X" -> "DECIMAL(10,5)", "Y" -> "BOOLEAN", "Z" -> "DATE",
    "AA" -> "TIMESTAMP", "TXN" -> "BIGINT")
  val imageFn = "testImage"
  private def words(rnd: Random, n: Int) =
    Iterator.fill(n)(Seq("foo", "bar", "baz", "qux", "quux", "corge")(rnd.nextInt(6))).mkString(" ")
  def image(r: Array[Any]): String = {
    def i(k: Int) = r(k).asInstanceOf[Int]; def sh(k: Int) = r(k).asInstanceOf[Short]
    def l(k: Int) = r(k).asInstanceOf[Long]; def s(k: Int) = r(k).asInstanceOf[String]
    def d(k: Int) = r(k).asInstanceOf[Double]
    DerbyFns.testImage(i(0), i(1), sh(2), sh(3), i(4), l(5), l(6), sh(7), l(8), s(9), s(10),
      s(11), s(12), s(13), s(14), s(15), s(16), r(18).asInstanceOf[Float], d(19), d(20), d(21),
      r(22).asInstanceOf[BigDecimal], r(23).asInstanceOf[BigDecimal], r(24).asInstanceOf[Boolean],
      r(25).asInstanceOf[Date], r(26).asInstanceOf[Timestamp], l(27))
  }
  def newRow(key: Long, txn: Long, rnd: Random): Array[Any] = {
    val k = key.toInt
    Array[Any](k, k % 7919, (k % 30000).toShort, (rnd.nextInt(2000) - 1000).toShort,
      rnd.nextInt(), rnd.nextLong(), math.abs(rnd.nextLong()), (rnd.nextInt(200)).toShort,
      rnd.nextLong(), "foo", words(rnd, 4), words(rnd, 6), words(rnd, 3), words(rnd, 5),
      words(rnd, 8), words(rnd, 24), words(rnd, 48), Array[Byte](0xDE.toByte, 0xAD.toByte,
        0xBE.toByte, 0xAF.toByte), rnd.nextInt(100000) / 100f, rnd.nextDouble() * 1000,
      3.14, rnd.nextGaussian(), BigDecimal.valueOf(rnd.nextInt(1000000).toLong),
      BigDecimal.valueOf(rnd.nextInt(100000000).toLong, 5), rnd.nextBoolean(),
      Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(rnd.nextInt(365).toLong)),
      Timestamp.valueOf(java.time.LocalDateTime.of(2024, 5, 6, 0, 0)
        .plusSeconds(rnd.nextInt(86400).toLong).plusNanos(rnd.nextInt(1000) * 1000000L)),
      txn)
  }
  val updateCols = Seq(10, 19, 27)
  def updated(r: Array[Any], txn: Long, rnd: Random): Array[Any] = {
    val n = r.clone(); n(10) = words(rnd, 4); n(19) = rnd.nextDouble() * 1000; n(27) = txn; n
  }
}

object Shape {
  def of(workload: String): Shape = workload match {
    case "narrow" => Users
    case "wide"   => Wide
    case other    => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Embedded Derby standing in for the SQLite source: the only JDBC
  * engine on the machine. Derby's flush policy is one JVM-wide setting,
  * so the writer and the engine share it: `derby.system.durability=test`
  * (commits are not forced to disk), stated in the README. */
final class DerbySource(path: String, val shape: Shape) {
  val dir: java.nio.file.Path = java.nio.file.Paths.get(path)
  val url = s"jdbc:derby:$path"
  val logTable = "CDC_LOG"

  def connect(): Connection = DriverManager.getConnection(url)

  def exec(sqls: Seq[String]): Unit = {
    val c = DriverManager.getConnection(url + ";create=true")
    try { val st = c.createStatement(); sqls.foreach(st.execute); st.close() } finally c.close()
  }

  /** Creates the table and loads `rows` rows before capture is set up, so
    * that bootstrap has existing rows to snapshot. */
  def create(rows: Seq[Array[Any]]): Unit = {
    exec(Seq(shape.createSql))
    val c = connect()
    try {
      c.setAutoCommit(false)
      val ps = c.prepareStatement(shape.insertSql)
      rows.foreach { r => shape.bind(ps, r.toSeq); ps.addBatch() }
      ps.executeBatch(); c.commit(); ps.close()
    } finally c.close()
    exec(Seq(
      s"""CREATE TABLE $logTable ("id" BIGINT GENERATED BY DEFAULT AS IDENTITY PRIMARY KEY, """ +
        s""""timestamp" VARCHAR(30) NOT NULL, "tablename" VARCHAR(128) NOT NULL, """ +
        s""""operation" VARCHAR(10) NOT NULL, "before" VARCHAR(32672), "after" VARCHAR(32672))""",
      "CREATE FUNCTION PB_NOW () RETURNS VARCHAR(30) PARAMETER STYLE JAVA NO SQL " +
        "LANGUAGE JAVA EXTERNAL NAME 'perfbench.DerbyFns.now'",
      shape.functionSql) ++ shape.triggerSqls(logTable))
  }

  /** The log's rows in id order, as plain JDBC sees them. */
  def logRows(): Vector[org.apache.spark.sql.Row] = {
    val c = connect()
    try {
      val rs = c.createStatement().executeQuery(
        s"""SELECT "id", "timestamp", "tablename", "operation", "before", "after" FROM $logTable ORDER BY "id"""")
      val b = Vector.newBuilder[org.apache.spark.sql.Row]
      while (rs.next()) b += org.apache.spark.sql.Row(rs.getLong(1), rs.getString(2),
        rs.getString(3), rs.getString(4), rs.getString(5), rs.getString(6))
      b.result()
    } finally c.close()
  }

  /** Puts captured rows back under their own ids, so a second consumer
    * drains the identical change rows. */
  def reinsert(rows: Seq[org.apache.spark.sql.Row]): Unit = {
    val c = connect()
    try {
      c.setAutoCommit(false)
      val ps = c.prepareStatement(s"""INSERT INTO $logTable ("id", "timestamp", "tablename", "operation", "before", "after") VALUES (?, ?, ?, ?, ?, ?)""")
      rows.foreach { r => (0 until 6).foreach(i => ps.setObject(i + 1, r.get(i))); ps.addBatch() }
      ps.executeBatch(); c.commit(); ps.close()
    } finally c.close()
  }

  /** Deletes log rows up to `id`; returns how many there were. */
  def deleteUpTo(id: Long): Int = {
    val c = connect()
    try c.createStatement().executeUpdate(s"""DELETE FROM $logTable WHERE "id" <= $id""")
    finally c.close()
  }

  def shutdown(): Unit =
    try DriverManager.getConnection(url + ";shutdown=true").close()
    catch { case _: java.sql.SQLException => () } // Derby reports a clean shutdown as an exception
}

/** The source application: commits transactions of inserts, updates and
  * deletes, keeps its own model of the table, and records every change
  * it expects capture to log, in commit order. */
final class Writer(src: DerbySource, seed: Long) {
  private val shape = src.shape
  private val rnd = new Random(seed)
  private val live = mutable.LinkedHashMap[Seq[Any], Array[Any]]()
  private var nextKey = 1L
  private var txnNo = 0L
  val expected = mutable.ArrayBuffer[Expected]()
  private lazy val conn = { val c = src.connect(); c.setAutoCommit(false); c }
  private lazy val ins = conn.prepareStatement(shape.insertSql)
  private lazy val upd = conn.prepareStatement(shape.updateSql)
  private lazy val del = conn.prepareStatement(shape.deleteSql)

  /** Rows loaded before capture starts (no log rows for these). */
  def initialRows(n: Int): Seq[Array[Any]] = (0 until n).map { _ =>
    val r = shape.newRow(nextKey, 0L, rnd); nextKey += 1; live(shape.keyOf(r)) = r; r
  }

  def liveKeys: Set[Seq[Any]] = live.keySet.toSet

  private def insert(txn: Long): Unit = {
    val r = shape.newRow(nextKey, txn, rnd); nextKey += 1
    shape.bind(ins, r.toSeq); ins.executeUpdate()
    live(shape.keyOf(r)) = r
    expected += Expected(shape.table, "INSERT", null, shape.image(r))
  }

  private def update(txn: Long, avoid: Seq[Any]): Unit = {
    val keys = live.keysIterator.drop(rnd.nextInt(live.size)).take(1).toSeq
    val key = if (keys.head == avoid) live.keysIterator.find(_ != avoid).get else keys.head
    val old = live(key)
    val n = shape.updated(old, txn, rnd)
    shape.bind(upd, shape.updateCols.map(n(_)) ++ key); upd.executeUpdate()
    live(key) = n
    expected += Expected(shape.table, "UPDATE", shape.image(old), shape.image(n))
  }

  private def deleteOldest(): Unit = {
    val (key, old) = live.head
    shape.bind(del, key); del.executeUpdate()
    live.remove(key)
    expected += Expected(shape.table, "DELETE", shape.image(old), null)
  }

  /** Backlog transaction: one insert, one update, one delete, so the
    * table keeps its size and bootstrap cost stays the same per round. */
  def mixedTxn(): Unit = {
    txnNo += 1
    insert(txnNo); update(txnNo, live.head._1); deleteOldest()
    conn.commit()
  }

  /** Live transaction: three inserts and two updates. Returns the
    * transaction's number. */
  def liveTxn(): Long = {
    txnNo += 1
    insert(txnNo); insert(txnNo); insert(txnNo)
    update(txnNo, null); update(txnNo, null)
    conn.commit()
    txnNo
  }

  def close(): Unit = conn.close()
}
