package graft.cdc

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions.{col, lit, to_timestamp, try_to_timestamp}
import org.apache.spark.sql.types._

/** The engine's change record — the only tuple type the reference engine
  * materializes (reference: change.go:12-18).
  *
  * `before`/`after` are full-row images carried as JSON text at the
  * transport layer (exact reference parity; reference change.go:15-17),
  * decoded on demand with `from_json` against the table's inferred
  * schema. INSERT → before null; DELETE → after null; UPDATE → both
  * present (reference triggers.go:423,429,435).
  */
case class Change(
    table: String,
    timestamp: java.sql.Timestamp,
    operation: String,
    before: Option[String],
    after: Option[String])

/** Operation enum with unknown-safe parse (reference change.go:20-26,
  * triggers.go:589-599). */
sealed abstract class Operation(val name: String)
object Operation {
  case object Insert extends Operation("INSERT")
  case object Update extends Operation("UPDATE")
  case object Delete extends Operation("DELETE")
  /** Unknown operations pass through rather than failing the stream —
    * same contract as the reference's strToOperation. */
  final case class Unknown(raw: String) extends Operation(raw)

  def parse(s: String): Operation = s.trim.toUpperCase match {
    case "INSERT" => Insert
    case "UPDATE" => Update
    case "DELETE" => Delete
    case other    => Unknown(other)
  }
}

object Change {
  /** Schema of the change-log relation (reference triggers.go:410-419).
    * `id` is the stream offset — monotone, totally ordered. The log
    * timestamp is TEXT in SQLite ('yyyy-MM-dd HH:mm:ss.SSS' UTC,
    * millisecond precision, reference triggers.go:438-443). */
  val logSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("timestamp", StringType, nullable = false),
    StructField("tablename", StringType, nullable = false),
    StructField("operation", StringType, nullable = false),
    StructField("before", StringType, nullable = true),
    StructField("after", StringType, nullable = true)))

  /** SQLite log-timestamp text format (subsec mode). */
  val LogTsFormat = "yyyy-MM-dd HH:mm:ss.SSS"
  /** Compat mode without subseconds (reference triggers.go:39-44). */
  val LogTsFormatNoSubsec = "yyyy-MM-dd HH:mm:ss"

  def logTsFormat(subsecTimestamps: Boolean): String =
    if (subsecTimestamps) LogTsFormat else LogTsFormatNoSubsec

  /** Log rows (logSchema) → typed Change records — the one decode the
    * engine, the dead-letter split and the streaming source share. The
    * log timestamp is SQLite text, parsed as UTC (reference
    * triggers.go:182 layout parity); `tolerant` parses an unparseable
    * timestamp to null instead of failing under ANSI parsing. */
  def fromLog(logRows: DataFrame, subsecTimestamps: Boolean,
      tolerant: Boolean = false): Dataset[Change] = {
    val fmt = logTsFormat(subsecTimestamps)
    logRows.select(
      col("tablename").as("table"),
      (if (tolerant) try_to_timestamp(col("timestamp"), lit(fmt))
       else to_timestamp(col("timestamp"), fmt)).as("timestamp"),
      col("operation"),
      col("before"),
      col("after"))
      .as[Change](Encoders.product[Change])
  }
}
