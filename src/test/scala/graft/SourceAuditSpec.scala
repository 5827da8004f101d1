package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Structural audit of the main source tree: the program's entry points
  * are the four tool mains, and query code takes no switch from the
  * process environment. A measurement that wants a different cut,
  * cadence or tokenizer runs Bench or perfbench on two commits; it does
  * not flip a property inside a query path. Event time has one µs
  * conversion, so no stream twin can order on millis. `StreamOps`
  * holds an exact list of operators, and every mention of one under
  * `src/main` names a member it has. The change-log table's SQL lives
  * in `LogJdbc`, so only it and the schema freeze delete rows. The
  * lists are exact, so a stale entry fails as loudly as a new
  * offender. */
class SourceAuditSpec extends AnyFunSuite {

  private val mainRoot = Paths.get("src/main/scala")

  private def sources(under: Path): Seq[Path] = {
    val s = Files.walk(under)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.sorted
    finally s.close()
  }

  private def lines(p: Path): Seq[String] = Files.readAllLines(p).asScala.toSeq

  test("src/main defines `def main` only in the four tool mains") {
    assert(Files.isDirectory(mainRoot), s"run from the repo root (no $mainRoot)")
    val Pkg = """^\s*package\s+([\w.]+)""".r.unanchored
    val Obj = """^\s*(?:private\[\w+\]\s+)?object\s+(\w+)""".r.unanchored
    val mains = sources(mainRoot).flatMap { p =>
      val ls = lines(p)
      val pkg = ls.collectFirst { case Pkg(n) => n }.getOrElse("")
      ls.indices.filter(i => ls(i).contains("def main(")).map { i =>
        val obj = ls.take(i).reverse.collectFirst { case Obj(n) => n }.getOrElse("?")
        s"$pkg.$obj"
      }
    }.toSet
    assert(mains == Set("graft.Bench", "graft.Verify", "graft.PlanDump", "graft.cdc.Main"))
  }

  test("operators and streaming read no system property or environment variable") {
    val Read = """(sys\.props|sys\.env|System\.getProperty|System\.getenv)""".r
    val Keyed = """(?:sys\.props|sys\.env|System\.getProperty|System\.getenv)(?:\.\w+)?\(\s*"([^"]*)"""".r
    // Warehouse's standing-root default: the JVM temp dir and user name
    val allowed = Set("Warehouse.scala" -> "java.io.tmpdir", "Warehouse.scala" -> "user.name")
    val reads = Seq("graft/operators", "graft/streaming").flatMap { d =>
      sources(mainRoot.resolve(d)).flatMap { p =>
        lines(p).zipWithIndex.flatMap { case (l, i) =>
          val keys = Keyed.findAllMatchIn(l).map(_.group(1)).toSeq
          val unkeyed = Read.findAllMatchIn(l).size - keys.size
          (keys ++ Seq.fill(unkeyed)("?")).map(k => (p.getFileName.toString, k, i + 1))
        }
      }
    }
    val offenders = reads.filterNot(r => allowed((r._1, r._2)))
    assert(offenders.isEmpty, s"process-switch reads in query code: $offenders")
    assert(reads.map(r => (r._1, r._2)).toSet == allowed, "stale allowlist entry")
  }

  test("event time has one µs conversion, and no stream twin sorts on millis") {
    val defs = sources(mainRoot).flatMap { p =>
      lines(p).count(_.contains("def micros(")) match {
        case 0 => Nil
        case n => Seq(p.getFileName.toString -> n)
      }
    }
    assert(defs == Seq("StreamOps.scala" -> 1), s"`def micros(` definitions: $defs")
    val SortsOnMillis = """sortBy\(.*ts\.getTime""".r.unanchored
    val millisSorts = sources(mainRoot.resolve("graft/streaming")).flatMap { p =>
      lines(p).zipWithIndex.collect {
        case (SortsOnMillis(), i) => s"${p.getFileName}:${i + 1}"
      }
    }
    assert(millisSorts.isEmpty, s"sorts on ts.getTime (millis): $millisSorts")
  }

  test("StreamOps exposes exactly its kept operators; links name them") {
    val streamOps = mainRoot.resolve("graft/streaming/StreamOps.scala")
    // members at the object's indentation; a bare `private` one is
    // internal and may come and go with the kept operators
    val Member = """^  (private\[\w+\] )?(?:def|val|lazy val|case class|class|object|trait|type) +(\w+)""".r.unanchored
    val members = lines(streamOps).collect {
      case Member(vis, name) => name -> Option(vis).fold("public")(_.trim)
    }.toSet
    val kept = Set(
      "changes", "KeyState", "materializedView",
      "hourlyAgg", "sessionize", "dedupExact", "KeyedEvent", "LatestState",
      "latestState", "FunnelState", "StageReached", "funnelStages",
      "enrich", "attribute", "attributionStream", "nearDupCandidates",
      "incrementalDedupStream", "lmScoreStream", "piiScrubStream",
      "cmsStream", "hllStream", "normalizeStream", "gopherStream",
      "chunkStream", "decodeStream", "audioDecodeStream",
      "alignFilterStream",
      "textDedupIngest", "textClusters", "imgDedupIngest", "imgClusters",
      "crossModalManifest", "RollupSchema", "deltaAggCurrent",
      "deltaAggStream").map(_ -> "public") ++ Set(
      "micros",
      "textDedupAbsorb", "absorbIntoStore", "resolutionView",
      "textDedupSigs", "imgDedupAbsorb", "imgDedupHashes")
      .map(_ -> "private[graft]")
    assert(members == kept, s"added: ${members -- kept}; gone: ${kept -- members}")
    // `StreamOps.member` in a scaladoc link or in prose; a link may
    // wrap between `StreamOps` and `.member`
    val Mention = """\bStreamOps((?:\s*\*?\s*\.\w+)?)""".r
    val dangling = sources(mainRoot).flatMap { p =>
      Mention.findAllMatchIn(new String(Files.readAllBytes(p), "UTF-8")).toSeq
        .map(_.group(1).replaceAll("""[\s*.]""", ""))
        .filter(n => n.nonEmpty && !kept.exists(_._1 == n))
        .map(n => s"${p.getFileName}: $n")
    }
    assert(dangling.isEmpty, s"mentions of members StreamOps does not have: $dangling")
  }

  test("only LogJdbc and the schema freeze in CdcDdl delete rows") {
    val deleting = sources(mainRoot).filter(p => lines(p).exists(_.contains("DELETE FROM")))
      .map(p => mainRoot.resolve("graft").relativize(p).toString)
    assert(deleting == Seq("cdc/CdcDdl.scala", "cdc/LogJdbc.scala"),
      s"files with DELETE FROM: $deleting")
  }
}
