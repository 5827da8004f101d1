package graft.cdc

import java.sql.Connection

import org.apache.spark.sql.types._

/** Schema introspection for SQLite databases (reference dbmeta.go:18-91).
  *
  * Schemas are discovered from the SQLite catalog PRAGMAs, never
  * declared, and frozen at construction — DDL drift after setup is the
  * caller's problem, exactly as in the reference (SURVEY.md §1.4).
  *
  * The row-parsing and affinity logic is pure (testable without a
  * database); only `introspect` touches JDBC.
  */
object SqliteCatalog {

  /** pk = 1-based ordinal within the primary key; 0 = not in the PK
    * (reference dbmeta.go:87-91). */
  final case class ColumnMeta(name: String, declType: String, pkOrdinal: Int)

  final case class TableMeta(
      name: String,
      withoutRowId: Boolean,
      columns: Seq[ColumnMeta]) {
    /** PK columns in key order. For rowid tables an empty list means
      * "use rowid". */
    def pkColumns: Seq[ColumnMeta] =
      columns.filter(_.pkOrdinal > 0).sortBy(_.pkOrdinal)
  }

  final case class DbMeta(file: String, journalMode: String, tables: Seq[TableMeta]) {
    def table(name: String): Option[TableMeta] = tables.find(_.name == name)
  }

  /** SQLite type-affinity rules, verbatim from the SQLite documentation
    * (datatype3.html §3.1) — the same five buckets the reference's test
    * table exercises (SURVEY.md §1.2). */
  sealed trait Affinity
  object Affinity {
    case object Integer extends Affinity
    case object Text extends Affinity
    case object Blob extends Affinity
    case object Real extends Affinity
    case object Numeric extends Affinity
  }

  def affinityOf(declType: String): Affinity = {
    val t = Option(declType).getOrElse("").toUpperCase
    if (t.isEmpty) Affinity.Blob
    else if (t.contains("INT")) Affinity.Integer
    else if (t.contains("CHAR") || t.contains("CLOB") || t.contains("TEXT")) Affinity.Text
    else if (t.contains("BLOB")) Affinity.Blob
    else if (t.contains("REAL") || t.contains("FLOA") || t.contains("DOUB")) Affinity.Real
    else Affinity.Numeric
  }

  /** Affinity → Catalyst type (SURVEY.md §1.5). NUMERIC affinity maps to
    * DoubleType (SQLite stores what fits; doubles are the safe superset
    * for numeric payloads); dynamic per-row drift falls back to the raw
    * JSON transport layer anyway. */
  def sparkTypeOf(a: Affinity): DataType = a match {
    case Affinity.Integer => LongType
    case Affinity.Text    => StringType
    case Affinity.Blob    => BinaryType
    case Affinity.Real    => DoubleType
    case Affinity.Numeric => DoubleType
  }

  /** Spark schema for a monitored table; every field nullable (SQLite
    * does not enforce NOT NULL through type affinity). */
  def sparkSchema(t: TableMeta, blobsAsHex: Boolean = false): StructType =
    StructType(t.columns.map { c =>
      val dt = affinityOf(c.declType) match {
        case Affinity.Blob if blobsAsHex => StringType
        case a                           => sparkTypeOf(a)
      }
      StructField(c.name, dt, nullable = true)
    })

  /** Live introspection over a JDBC connection to a SQLite database.
    * Mirrors newDBMeta (reference dbmeta.go:18-79): database file from
    * pragma_database_list, journal mode, table list + WITHOUT-ROWID flag
    * from pragma_table_list, per-table (name, type, pk) from
    * pragma_table_info. Driver-side only — no Spark job. */
  def introspect(conn: Connection, tables: Seq[String]): DbMeta = {
    def q1(sql: String): Seq[Seq[AnyRef]] = {
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery(sql)
        val n = rs.getMetaData.getColumnCount
        val buf = Seq.newBuilder[Seq[AnyRef]]
        while (rs.next()) buf += (1 to n).map(rs.getObject)
        buf.result()
      } finally st.close()
    }
    val file = q1("SELECT file FROM pragma_database_list WHERE name = 'main'")
      .headOption.map(r => String.valueOf(r.head)).getOrElse("")
    val journal = q1("PRAGMA journal_mode").headOption
      .map(r => String.valueOf(r.head)).getOrElse("")
    val listed = q1(
      "SELECT name, wr FROM pragma_table_list WHERE schema = 'main' AND type = 'table'")
      .map(r => String.valueOf(r.head) -> (String.valueOf(r(1)) == "1"))
      .toMap
    val metas = tables.map { t =>
      // Escape quotes: a legal SQLite table name may contain ' (CdcDdl
      // escapes identifiers; this introspection path must too).
      val tEsc = t.replace("'", "''")
      val cols = q1(s"SELECT name, type, pk FROM pragma_table_info('$tEsc')").map { r =>
        ColumnMeta(String.valueOf(r.head), String.valueOf(r(1)),
          String.valueOf(r(2)).toDouble.toInt)
      }
      require(cols.nonEmpty, s"table not found or empty schema: $t")
      TableMeta(t, listed.getOrElse(t, false), cols)
    }
    DbMeta(file, journal, metas)
  }
}
