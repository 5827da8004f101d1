package graft.cdc

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The change-log relation: one append-only, totally-ordered stream of
  * changes from all monitored tables (reference triggers.go:410-419).
  * `id` is the offset — directly analogous to a Kafka offset.
  *
  * Two implementations:
  *  - [[JdbcChangeLog]]: the log lives in the source database (SQLite in
  *    real deployments; any JDBC database structurally). This is the
  *    reference's own topology.
  *  - [[ParquetChangeLog]]: the log landed in parquet. This is the 100 TB
  *    topology — a single SQLite file caps throughput, so the scale
  *    design drains the SQLite log into partitioned parquet early and
  *    does all heavy processing there (SURVEY.md §7.4).
  */
trait ChangeLog {
  /** Ordered batch: log rows with id > afterId, ascending, at most
    * `limit` (reference drainChanges, triggers.go:164-223). */
  def readBatch(spark: SparkSession, afterId: Long, limit: Int): DataFrame

  /** Full log contents past an offset (no limit) — used by streaming
    * consumers that manage their own batching. */
  def readFrom(spark: SparkSession, afterId: Long): DataFrame

  /** Ack: changes up to and including uptoId are delivered; they may be
    * physically deleted or logically retired (at-least-once contract,
    * reference triggers.go:209-221). */
  def truncate(uptoId: Long): Unit

  /** Low-water mark: offsets <= this are already delivered. */
  def committedOffset: Long
}

/** Parquet-backed change log. Appends land as parquet files; delivery
  * offsets are tracked in a small watermark file next to the data
  * ("truncation" is logical — parquet is immutable; physical retention is
  * a separate compaction concern, same at-least-once contract).
  *
  * At scale: the directory would be partitioned by id-range/date so the
  * `id > offset` filter prunes whole files (min/max stats), and the
  * watermark lives in the streaming checkpoint instead.
  */
class ParquetChangeLog(dir: String) extends ChangeLog {
  private val watermarkPath = Paths.get(dir, "_committed_offset")

  override def committedOffset: Long =
    if (Files.exists(watermarkPath))
      new String(Files.readAllBytes(watermarkPath), StandardCharsets.UTF_8).trim.toLong
    else -1L

  private def data(spark: SparkSession): DataFrame =
    if (Files.exists(Paths.get(dir, "data")))
      spark.read.schema(Change.logSchema).parquet(s"$dir/data")
    else // empty log: no appends yet
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        Change.logSchema)

  override def readBatch(spark: SparkSession, afterId: Long, limit: Int): DataFrame =
    data(spark).filter(col("id") > math.max(afterId, committedOffset))
      .orderBy(col("id")).limit(limit)

  override def readFrom(spark: SparkSession, afterId: Long): DataFrame =
    data(spark).filter(col("id") > math.max(afterId, committedOffset))

  override def truncate(uptoId: Long): Unit = {
    val tmp = Paths.get(dir, "_committed_offset.tmp")
    Files.createDirectories(Paths.get(dir))
    Files.write(tmp, uptoId.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, watermarkPath, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** Append a batch of log rows (capture side / test fixture side). */
  def append(df: DataFrame): Unit =
    df.select(Change.logSchema.fieldNames.map(col).toSeq: _*)
      .write.mode("append").parquet(s"$dir/data")

  /** The log as a Structured Streaming source: Spark's file source picks
    * up newly landed parquet files; downstream gets a Dataset of log rows
    * (SURVEY.md §2.1 S2 mapping, option (a)). */
  def readStream(spark: SparkSession): DataFrame =
    spark.readStream.schema(Change.logSchema).parquet(s"$dir/data")
}

/** JDBC-backed change log — the log table lives in the source database.
  *
  * Every statement comes from [[LogJdbc]]: `readBatch` is one driver-side
  * keyset read (reference triggers.go:167), `truncate` the ranged DELETE
  * in one transaction, and `readFrom` the `cdc-log` source's batch form.
  * Connection settings travel in `url`. `limitClause` adds the dialect's
  * limit to the keyset read (SQLite/standard `LIMIT n`, Derby/ANSI
  * `FETCH FIRST n ROWS ONLY`); the read is capped without it too, so the
  * same engine runs against SQLite in production and embedded Derby in
  * tests.
  */
class JdbcChangeLog(
    url: String,
    logTable: String = CdcDdl.DefaultLogTable,
    limitClause: Int => String = n => s"LIMIT $n") extends ChangeLog {

  @volatile private var committed: Long = -1L
  override def committedOffset: Long = committed

  override def readBatch(spark: SparkSession, afterId: Long, limit: Int): DataFrame = {
    val rows = LogJdbc.withConn(url)(
      LogJdbc.rowsAfter(_, logTable, afterId, limit, limitClause = limitClause(limit)) { rs =>
        Row(rs.getLong(1), rs.getString(2), rs.getString(3), rs.getString(4),
          rs.getString(5), rs.getString(6))
      })
    spark.createDataFrame(rows.asJava, rowSchema)
  }

  /** [[Change.logSchema]] with every field nullable: a foreign producer's
    * null `tablename` or `operation` must stay visible to the engine's
    * dead-letter `isNull` test, which Spark folds to false on a
    * non-nullable field. */
  private val rowSchema = StructType(Change.logSchema.map(_.copy(nullable = true)))

  override def readFrom(spark: SparkSession, afterId: Long): DataFrame =
    spark.read.format("cdc-log").option("url", url).option("logTable", logTable)
      .option("startingId", afterId).load()

  override def truncate(uptoId: Long): Unit = {
    LogJdbc.withConn(url)(LogJdbc.deleteUpTo(_, logTable, uptoId))
    committed = math.max(committed, uptoId)
  }

  /** Execute setup/teardown DDL in one transaction (reference
    * triggers.go:334-395). */
  def executeDdl(statements: Seq[String]): Unit =
    LogJdbc.withConn(url)(LogJdbc.inTransaction(_)(st => statements.foreach(st.execute)))
}
