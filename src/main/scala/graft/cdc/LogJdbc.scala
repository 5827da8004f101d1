package graft.cdc

import java.sql.{Connection, DriverManager, ResultSet, Statement}

/** The change-log table's SQL, in one place for [[JdbcChangeLog]] and
  * the `cdc-log` source: the keyset read, the range read, the ranged ack
  * and the quoting (reference drainChanges, triggers.go:164-223).
  *
  * The table name is quoted with [[CdcDdl.qi]], as setup created it;
  * the columns are quoted lower-case identifiers (SQLite is caseless,
  * Derby folds unquoted names to upper case). Connection settings
  * (PRAGMAs, credentials) travel in the JDBC URL. One connection per
  * call.
  */
private[graft] object LogJdbc {

  private val Columns: Seq[String] =
    Seq("id", "timestamp", "tablename", "operation", "before", "after")

  def connect(url: String): Connection = DriverManager.getConnection(url)

  def withConn[A](url: String)(f: Connection => A): A = {
    val c = connect(url)
    try f(c) finally c.close()
  }

  private def select(cols: Seq[String], table: String): String =
    cols.map(CdcDdl.qi).mkString("SELECT ", ", ", s" FROM ${CdcDdl.qi(table)}")

  /** Keyset read (triggers.go:167): the rows with id > afterId in id
    * order, at most `n`, each mapped by `row`. The index-ordered seek
    * needs no OFFSET scan (triggers.go:539-568 rationale), and
    * Statement.setMaxRows caps it in every dialect; `limitClause` adds
    * the dialect's own cap to the SQL text when a caller has one. */
  def rowsAfter[A](c: Connection, table: String, afterId: Long, n: Int,
      cols: Seq[String] = Columns, limitClause: String = "")
      (row: ResultSet => A): Vector[A] = {
    val ps = c.prepareStatement(
      s"""${select(cols, table)} WHERE "id" > ? ORDER BY "id" ASC $limitClause""")
    try {
      ps.setMaxRows(n)
      ps.setLong(1, afterId)
      val rs = ps.executeQuery()
      val out = Vector.newBuilder[A]
      while (rs.next()) out += row(rs)
      out.result()
    } finally ps.close()
  }

  /** The rows with lo < id <= hi in id order, as an open result set;
    * closing `c` releases it. */
  def range(c: Connection, table: String, lo: Long, hi: Long): ResultSet = {
    val ps = c.prepareStatement(
      s"""${select(Columns, table)} WHERE "id" > ? AND "id" <= ? ORDER BY "id" ASC""")
    ps.setLong(1, lo)
    ps.setLong(2, hi)
    ps.executeQuery()
  }

  def maxId(c: Connection, table: String): Option[Long] = {
    val st = c.createStatement()
    try {
      val rs = st.executeQuery(s"""SELECT MAX("id") FROM ${CdcDdl.qi(table)}""")
      if (rs.next()) { val v = rs.getLong(1); if (rs.wasNull()) None else Some(v) }
      else None
    } finally st.close()
  }

  /** The ack (triggers.go:215): one ranged DELETE per batch, not
    * per-row deletes, in one transaction. */
  def deleteUpTo(c: Connection, table: String, uptoId: Long): Unit =
    inTransaction(c)(
      _.executeUpdate(s"""DELETE FROM ${CdcDdl.qi(table)} WHERE "id" <= $uptoId""")): Unit

  /** Run `f` in one transaction: commit if it returns, roll back if it
    * throws. */
  def inTransaction[A](c: Connection)(f: Statement => A): A = {
    c.setAutoCommit(false)
    val st = c.createStatement()
    try { val a = f(st); c.commit(); a }
    catch { case e: Throwable => c.rollback(); throw e }
    finally st.close()
  }
}
