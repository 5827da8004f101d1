package graft.cdc

import SqliteCatalog.{Affinity, TableMeta, affinityOf}

/** SQLite DDL generators for change capture (reference triggers.go:410-518).
  *
  * Capture still happens *inside* SQLite — the triggers run in every
  * writer's transaction (reference SURVEY.md §3.1), so the generated SQL
  * must respect SQLite's limits even though the Spark side has none:
  * `json_object` takes at most 127 args → 63 column/value pairs per call;
  * wider tables are chunked and merged with `json_patch`, capped at 1000
  * columns (reference triggers.go:457-518, README.md:190-203).
  *
  * Pure `TableMeta => String` functions — property-tested without a
  * database (CdcDdlSpec).
  */
object CdcDdl {

  val DefaultLogTable = "__cdc_log"
  val MaxJsonObjectPairs = 63
  val MaxColumns = 1000

  final case class Options(
      logTable: String = DefaultLogTable,
      blobSupport: Boolean = false,
      subsecTimestamps: Boolean = true)

  private[cdc] def qi(name: String): String = "\"" + name.replace("\"", "\"\"") + "\""
  private def sq(s: String): String = "'" + s.replace("'", "''") + "'"

  /** Log-table DDL (reference triggers.go:410-419). `id` is the stream
    * offset; SQLite INTEGER PRIMARY KEY is an alias for rowid, so it is
    * monotone for appends. */
  def createLogTable(o: Options = Options()): String =
    s"""CREATE TABLE IF NOT EXISTS ${qi(o.logTable)} (
       |  id INTEGER PRIMARY KEY,
       |  timestamp TEXT NOT NULL,
       |  tablename TEXT NOT NULL,
       |  operation TEXT NOT NULL,
       |  before TEXT,
       |  after TEXT
       |)""".stripMargin

  def dropLogTable(o: Options = Options()): String =
    s"DROP TABLE IF EXISTS ${qi(o.logTable)}"

  /** Timestamp expression (reference triggers.go:438-443): millisecond
    * UTC text, or second precision in compat mode. */
  def timestampExpr(o: Options): String =
    if (o.subsecTimestamps) "datetime('now','subsec')" else "datetime('now')"

  /** Full-row JSON image over a row qualifier (NEW/OLD). BLOB columns are
    * skipped unless blobSupport; with blobSupport they are hex()-encoded
    * upper-case text (reference triggers.go:464-481). Chunked for the
    * 127-arg limit and merged with json_patch (triggers.go:459-518). */
  def rowImageExpr(t: TableMeta, qualifier: String, o: Options): String = {
    require(t.columns.size <= MaxColumns,
      s"table ${t.name} has ${t.columns.size} columns; max $MaxColumns (SQLite stack depth)")
    val pairs = t.columns.flatMap { c =>
      affinityOf(c.declType) match {
        case Affinity.Blob if !o.blobSupport => None
        case Affinity.Blob =>
          Some(s"${sq(c.name)}, hex($qualifier.${qi(c.name)})")
        case _ =>
          Some(s"${sq(c.name)}, $qualifier.${qi(c.name)}")
      }
    }
    if (pairs.isEmpty) "json_object()"
    else {
      val chunks = pairs.grouped(MaxJsonObjectPairs)
        .map(g => s"json_object(${g.mkString(", ")})").toSeq
      chunks.reduceLeft((acc, c) => s"json_patch($acc, $c)")
    }
  }

  def triggerName(table: String, op: Operation): String =
    s"${table}__cdc_${op.name.toLowerCase}"

  private def triggerDdl(t: TableMeta, op: Operation, o: Options): String = {
    val (event, before, after) = op match {
      case Operation.Insert =>
        ("INSERT", "NULL", rowImageExpr(t, "NEW", o))
      case Operation.Update =>
        ("UPDATE", rowImageExpr(t, "OLD", o), rowImageExpr(t, "NEW", o))
      case Operation.Delete =>
        ("DELETE", rowImageExpr(t, "OLD", o), "NULL")
      case Operation.Unknown(x) =>
        throw new IllegalArgumentException(s"no trigger for operation $x")
    }
    s"""CREATE TRIGGER IF NOT EXISTS ${qi(triggerName(t.name, op))}
       |AFTER $event ON ${qi(t.name)}
       |FOR EACH ROW
       |BEGIN
       |  INSERT INTO ${qi(o.logTable)} (timestamp, tablename, operation, before, after)
       |  VALUES (${timestampExpr(o)}, ${sq(t.name)}, ${sq(op.name)}, $before, $after);
       |END""".stripMargin
  }

  def createInsertTrigger(t: TableMeta, o: Options = Options()): String =
    triggerDdl(t, Operation.Insert, o)
  def createUpdateTrigger(t: TableMeta, o: Options = Options()): String =
    triggerDdl(t, Operation.Update, o)
  def createDeleteTrigger(t: TableMeta, o: Options = Options()): String =
    triggerDdl(t, Operation.Delete, o)

  /** Side table freezing the monitored schema at setup time. The
    * reference freezes the schema in memory at engine start
    * (dbmeta.go:30-70); persisting it makes the freeze durable, so a
    * later engine start can detect declared-type drift (e.g. INTEGER →
    * TEXT) that trigger text cannot show — non-BLOB columns render
    * identically in the capture DDL. */
  def schemaTableName(o: Options): String = s"${o.logTable}_schema"

  def createSchemaTable(o: Options = Options()): String =
    s"""CREATE TABLE IF NOT EXISTS ${qi(schemaTableName(o))} (
       |  tablename TEXT NOT NULL,
       |  name TEXT NOT NULL,
       |  decltype TEXT NOT NULL,
       |  pk INTEGER NOT NULL,
       |  PRIMARY KEY (tablename, name)
       |)""".stripMargin

  def dropSchemaTable(o: Options = Options()): String =
    s"DROP TABLE IF EXISTS ${qi(schemaTableName(o))}"

  /** Freeze (or re-freeze on repeat --setup) each table's column list. */
  def schemaFreezeStatements(tables: Seq[TableMeta], o: Options = Options()): Seq[String] =
    createSchemaTable(o) +: tables.flatMap { t =>
      s"DELETE FROM ${qi(schemaTableName(o))} WHERE tablename = ${sq(t.name)}" +:
        t.columns.map(c =>
          s"INSERT INTO ${qi(schemaTableName(o))} (tablename, name, decltype, pk) " +
            s"VALUES (${sq(t.name)}, ${sq(c.name)}, ${sq(c.declType)}, ${c.pkOrdinal})")
    }

  /** All setup statements for a set of monitored tables, in the order the
    * reference executes them inside one transaction (triggers.go:334-364),
    * plus the schema freeze (our addition — see [[createSchemaTable]]). */
  def setupStatements(tables: Seq[TableMeta], o: Options = Options()): Seq[String] =
    (createLogTable(o) +: tables.flatMap(t => Seq(
      createInsertTrigger(t, o), createUpdateTrigger(t, o), createDeleteTrigger(t, o)))) ++
      schemaFreezeStatements(tables, o)

  /** Teardown: drop triggers per table + the log table, one transaction
    * (reference triggers.go:365-395, 444-455), plus the schema freeze. */
  def teardownStatements(tables: Seq[TableMeta], o: Options = Options()): Seq[String] =
    tables.flatMap(t => Seq(Operation.Insert, Operation.Update, Operation.Delete)
      .map(op => s"DROP TRIGGER IF EXISTS ${qi(triggerName(t.name, op))}")) :+
      dropLogTable(o) :+ dropSchemaTable(o)
}
