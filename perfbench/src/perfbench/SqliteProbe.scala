package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import graft.cdc.CdcDdl
import graft.cdc.SqliteCatalog.{ColumnMeta, TableMeta}

/** Runs the capture DDL that `CdcDdl.setupStatements` generates in a real
  * SQLite (the `sqlite3` shell) and times a bulk insert with and without
  * the triggers. Repetitions alternate the two variants so that drift in
  * the host's speed falls on both alike.
  *
  * The database runs in WAL mode, as the engine requires, with
  * `synchronous=OFF` so that the timings measure the triggers rather than
  * the disk. */
object SqliteProbe {

  /** One monitored table: SQLite DDL, the SELECT list that makes row `x`
    * of the insert, and the metadata the generator takes. */
  final case class Table(label: String, ddl: String, rowExpr: String, meta: TableMeta, rows: Int) {
    /** Columns in the image: BLOBs are skipped without blob support. */
    def imageKeys: Int = meta.columns.count(c => !c.declType.toUpperCase.contains("BLOB"))
  }

  final case class Result(label: String, rows: Int, withS: Seq[Double], withoutS: Seq[Double],
      logged: Long, validImages: Long, logBytes: Long) {
    def tax: Double = Stats.median(withS.zip(withoutS).map { case (w, wo) => w / wo })
    def usPerRow: Double = Stats.median(withS.zip(withoutS).map { case (w, wo) => w - wo }) / rows * 1e6
    def failed: Long = rows - validImages
  }

  private val fixtureCols = Seq(
    "a" -> "INT", "b" -> "INTEGER", "c" -> "TINYINT", "d" -> "SMALLINT", "e" -> "MEDIUMINT",
    "f" -> "BIGINT", "g" -> "UNSIGNED BIG INT", "h" -> "INT2", "i" -> "INT8",
    "j" -> "CHARACTER(20)", "k" -> "VARCHAR(255)", "l" -> "VARYING CHARACTER(255)",
    "m" -> "NCHAR(55)", "n" -> "NATIVE CHARACTER(70)", "o" -> "NVARCHAR(100)",
    "p" -> "TEXT", "q" -> "CLOB", "r" -> "BLOB", "s" -> "REAL", "t" -> "DOUBLE",
    "u" -> "DOUBLE PRECISION", "v" -> "FLOAT", "w" -> "NUMERIC", "x" -> "DECIMAL(10,5)",
    "y" -> "BOOLEAN", "z" -> "DATE", "aa" -> "DATETIME")

  /** The reference's 27-type table (rowid or WITHOUT ROWID) and its row
    * generator: ints are the row number, text "foo", blob 0xDEADBEAF,
    * reals 3.14, numerics 1. */
  def fixture(withoutRowId: Boolean, rows: Int): Table = {
    val meta = TableMeta("test", withoutRowId, fixtureCols.map { case (n, t) =>
      ColumnMeta(n, t, Map("a" -> 1, "b" -> 2, "c" -> 3).getOrElse(n, 0))
    })
    val ddl = fixtureCols.map { case (n, t) => s"$n $t" }
      .mkString("CREATE TABLE test (", ", ", ", PRIMARY KEY (a, b, c))") +
      (if (withoutRowId) " WITHOUT ROWID" else "")
    val exprs = fixtureCols.map { case (n, t) =>
      val tu = t.toUpperCase
      if (tu.contains("INT")) "x"
      else if (tu.contains("CHAR") || tu.contains("TEXT") || tu.contains("CLOB")) "'foo'"
      else if (tu.contains("BLOB")) "x'DEADBEAF'"
      else if (Seq("REAL", "DOUB", "FLOA").exists(tu.contains)) "3.14"
      else "1"
    }
    Table(if (withoutRowId) "wide_norowid" else "wide", ddl, exprs.mkString(", "), meta, rows)
  }

  /** The README's users table. */
  def users(rows: Int): Table = {
    val cols = Seq("id" -> "INTEGER", "username" -> "TEXT", "email" -> "TEXT", "favorite_color" -> "TEXT")
    Table("narrow",
      "CREATE TABLE test (id INTEGER PRIMARY KEY, username TEXT, email TEXT, favorite_color TEXT)",
      "x, 'user' || x, 'user' || x || '@example.com', 'blue'",
      TableMeta("test", withoutRowId = false,
        cols.map { case (n, t) => ColumnMeta(n, t, if (n == "id") 1 else 0) }), rows)
  }

  /** The reference's 1000-column table: the widest image the generator
    * allows, merged from 16 `json_object` chunks. */
  def cols1000(rows: Int): Table = {
    val names = (0 until 1000).map(i => s"col$i")
    Table("cols1000", names.map(n => s"$n INT").mkString("CREATE TABLE test (", ", ", ")"),
      names.map(_ => "x").mkString(", "),
      TableMeta("test", withoutRowId = false, names.map(n => ColumnMeta(n, "INT", 0))), rows)
  }

  def script(t: Table, reps: Int): String = {
    val setup = CdcDdl.setupStatements(Seq(t.meta)).map(_ + ";").mkString("\n")
    val insert = s"WITH RECURSIVE c(x) AS (SELECT 1 UNION ALL SELECT x + 1 FROM c WHERE x < ${t.rows}) " +
      s"INSERT INTO test SELECT ${t.rowExpr} FROM c;"
    def rep(withTriggers: Boolean) =
      Seq("DROP TABLE IF EXISTS test;", t.ddl + ";") ++
        (if (withTriggers) Seq(setup, s"DELETE FROM ${CdcDdl.DefaultLogTable};") else Nil) ++
        Seq(".timer on", insert, ".timer off")
    (Seq("PRAGMA journal_mode=WAL;", "PRAGMA synchronous=OFF;", ".mode list") ++
      (1 to reps).flatMap(_ => rep(withTriggers = false) ++ rep(withTriggers = true)) ++
      Seq(s"SELECT 'CHECK', count(*), " +
        s"coalesce(sum(json_valid(after) AND (SELECT count(*) FROM json_each(after)) = ${t.imageKeys}), 0), " +
        "coalesce(sum(8 + length(timestamp) + length(tablename) + length(operation) + " +
        s"coalesce(length(before), 0) + coalesce(length(after), 0)), 0) FROM ${CdcDdl.DefaultLogTable};"))
      .mkString("\n") + "\n"
  }

  private val RunTime = "Run Time: real ([0-9.]+)".r

  /** Runs `t` through the shell at `sqlite3`; Left carries the reason the
    * probe could not run. */
  def run(sqlite3: String, dir: Path, t: Table, reps: Int): Either[String, Result] = {
    if (sqlite3.isEmpty) return Left("no sqlite3 shell on PATH")
    val scriptFile = dir.resolve(s"${t.label}.sql")
    Files.write(scriptFile, script(t, reps).getBytes(StandardCharsets.UTF_8))
    val db = dir.resolve(s"${t.label}.db")
    val p = new ProcessBuilder(sqlite3, "-batch", db.toString)
      .redirectInput(scriptFile.toFile).redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes(), StandardCharsets.UTF_8)
    val code = p.waitFor()
    Seq(db, dir.resolve(s"${t.label}.db-wal"), dir.resolve(s"${t.label}.db-shm"))
      .foreach(Files.deleteIfExists)
    val times = RunTime.findAllMatchIn(out).map(_.group(1).toDouble).toVector
    val check = out.linesIterator.find(_.startsWith("CHECK|")).map(_.split('|'))
    if (code != 0 || times.size != 2 * reps || check.isEmpty)
      Left(s"sqlite3 exited $code: ${out.linesIterator.filterNot(_.startsWith("Run Time")).take(5).mkString(" / ")}")
    else {
      val c = check.get
      Right(Result(t.label, t.rows, times.indices.filter(_ % 2 == 1).map(times),
        times.indices.filter(_ % 2 == 0).map(times), c(1).toLong, c(2).toLong, c(3).toLong))
    }
  }
}
