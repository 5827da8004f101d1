package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.operators

/** The analytics part of a run: queries from `SparkEntry.queries` over
  * the [[Corpus]], each executed into a `noop` write, after
  * `StandingWarm.warm` has built their standing stages. */
object Analytics {
  /** The queries measured, with the row count each returns on the corpus:
    * eight of the ROADMAP's named targets, and one query for each
    * operators module they leave out (Relational, Multimodal). The other
    * named targets are left out to keep a run within the benchmark's time
    * budget: q24_pagerank's standing build alone takes about 12 s, the
    * Similarity targets s6, s8, s11, s22, s28 and s29 would add about 12 s
    * to every pass, and x16, x23 and x28 about 3.5 s. */
  val Expected: Seq[(String, Long)] = Seq(
    "x45_novelty_curve" -> 10L, "x11_contamination" -> 52L, "s19_knn_opq" -> 50L,
    "x13_lm_score" -> 500L, "x26_cms_freq" -> 20L, "d19_bloom_novelty" -> 100L,
    "x36_hll_distinct" -> 1280L, "e33_delta_distinct" -> 720L,
    "q1_agg" -> 6L, "m7_img_neardup" -> 6522L)

  /** Queries with a per-query metric: the named targets. */
  val Named: Seq[String] = Expected.map(_._1).filterNot(Set("q1_agg", "m7_img_neardup"))

  val Modules: Seq[(String, Set[String])] = Seq(
    "Relational" -> operators.Relational.queries.keySet,
    "TextAnalysis" -> operators.TextAnalysis.queries.keySet,
    "Dedup" -> operators.Dedup.queries.keySet,
    "Similarity" -> operators.Similarity.queries.keySet,
    "Events" -> operators.Events.queries.keySet,
    "Multimodal" -> operators.Multimodal.queries.keySet)

  def moduleOf(query: String): String = Modules.find(_._2(query)).map(_._1).getOrElse("other")

  /** Spark local property naming the query that submits a job. */
  val QueryKey = "perfbench.query"
}

/** Task and job counters per query, from Spark's public listener. Jobs
  * are attributed through the [[Analytics.QueryKey]] local property. */
final class QueryMeter extends SparkListener {
  final class Counters {
    val jobs, cpuNs, gcMs, shuffleBytes, fetchWaitMs, spillBytes = new AtomicLong
  }
  private val byQuery = new ConcurrentHashMap[String, Counters]()
  private val stageQuery = new ConcurrentHashMap[Int, String]()

  private def of(q: String) = byQuery.computeIfAbsent(q, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Analytics.QueryKey))).foreach { q =>
      of(q).jobs.incrementAndGet()
      e.stageIds.foreach(id => stageQuery.put(id, q))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageQuery.get(e.stageId)).foreach { q =>
      val c = of(q)
      val m = e.taskMetrics
      if (m != null) {
        c.cpuNs.addAndGet(m.executorCpuTime)
        c.gcMs.addAndGet(m.jvmGCTime)
        c.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
        c.fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
        c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }

  /** A snapshot of every query's counters, as plain numbers. */
  def snapshot(): Map[String, Map[String, Long]] = byQuery.asScala.map { case (q, c) =>
    q -> Map("jobs" -> c.jobs.get, "cpuNs" -> c.cpuNs.get, "gcMs" -> c.gcMs.get,
      "shuffleBytes" -> c.shuffleBytes.get, "fetchWaitMs" -> c.fetchWaitMs.get,
      "spillBytes" -> c.spillBytes.get)
  }.toMap
}

/** Runs the analytics passes of one run and keeps their figures.
  * `inject == "query"` makes the first query of every pass throw. */
final class AnalyticsPart(spark: SparkSession, checks: Checks, tr: Tracer, inject: String) {
  private val sc: SparkContext = spark.sparkContext
  private val meter = new QueryMeter
  sc.addSparkListener(meter)
  private var dir: String = _

  /** Writes the corpus into `corpusDir` and builds the queries' standing
    * stages with `StandingWarm.warm`. Returns the seconds the two took. */
  def setup(corpusDir: String, layoutSeed: Long): (Double, Double) = {
    dir = corpusDir
    val (_, corpusS) = Stats.timeS(Corpus.write(spark, dir, layoutSeed))
    val all = graft.SparkEntry.queries
    val (_, warmS) = Stats.timeS(graft.StandingWarm.warm(spark, dir,
      Analytics.Expected.map { case (q, _) => q -> all(q) }, parallelism = 4, execute = false))
    (corpusS, warmS)
  }

  /** Per pass: wall seconds of the whole pass and, per query, its wall
    * seconds and the listener's counters. */
  val passWallS = ArrayBuffer[Double]()
  val queryWallS = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  val passCounters = ArrayBuffer[Map[String, Map[String, Long]]]()

  /** One pass: every query once, in order, into a `noop` write. */
  def pass(): Unit = {
    val all = graft.SparkEntry.queries
    val before = { org.apache.spark.GraftListenerBus.drain(sc, 10000); meter.snapshot() }
    val t0 = System.nanoTime()
    Analytics.Expected.zipWithIndex.foreach { case ((q, rows), i) =>
      val obs = Observation(q)
      val (got, wallS) = Stats.timeS {
        tr.span(s"query.$q")(Trace.withLocal(sc, Analytics.QueryKey, q) {
          try {
            if (inject == "query" && i == 0) throw new IllegalStateException("injected query fault")
            all(q)(spark, dir).observe(obs, count(lit(1)).as("rows"))
              .write.format("noop").mode("overwrite").save()
            Right(obs.get("rows").asInstanceOf[Long])
          } catch { case scala.util.control.NonFatal(e) => Left(e.toString) }
        })
      }
      checks.attempted += 1
      got match {
        case Left(err) => checks.fail(1, s"query $q failed: $err")
        case Right(n) if n != rows => checks.fail(1, s"query $q returned $n rows, expected $rows")
        case Right(_) => ()
      }
      queryWallS.getOrElseUpdate(q, ArrayBuffer[Double]()) += wallS
    }
    passWallS += (System.nanoTime() - t0) / 1e9
    org.apache.spark.GraftListenerBus.drain(sc, 10000)
    val after = meter.snapshot()
    passCounters += after.map { case (q, m) =>
      q -> m.map { case (k, v) => k -> (v - before.get(q).flatMap(_.get(k)).getOrElse(0L)) }
    }
  }

  private def median(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else Stats.median(xs)

  /** Summed executor CPU seconds of each pass, median over passes. */
  def cpuS: Double = median(passCounters.map(_.values.map(_("cpuNs")).sum / 1e9).toSeq)

  def wallS: Double = median(passWallS.toSeq)

  /** Per-layer figures: per module and per named query, medians over the
    * passes of per-pass sums. */
  def layerMetrics(layers: mutable.Map[String, Double]): Unit = {
    def perPass(qs: Seq[String], key: String): Seq[Double] =
      passCounters.map(p => qs.map(q => p.get(q).map(_(key)).getOrElse(0L)).sum.toDouble).toSeq
    def wall(qs: Seq[String]): Double =
      median(passWallS.indices.map(i => qs.map(q => queryWallS(q)(i)).sum))
    Analytics.Modules.map(_._1).foreach { m =>
      val qs = Analytics.Expected.map(_._1).filter(q => Analytics.moduleOf(q) == m)
      layers(s"operators.$m.wall_s") = wall(qs)
      layers(s"operators.$m.cpu_s") = median(perPass(qs, "cpuNs")) / 1e9
      layers(s"operators.$m.gc_s") = median(perPass(qs, "gcMs")) / 1e3
      layers(s"operators.$m.jobs") = median(perPass(qs, "jobs"))
      layers(s"operators.$m.shuffle_mb") = median(perPass(qs, "shuffleBytes")) / 1e6
    }
    Analytics.Named.foreach { q =>
      layers(s"query.$q.wall_s") = wall(Seq(q))
      layers(s"query.$q.cpu_s") = median(perPass(Seq(q), "cpuNs")) / 1e9
    }
    val qs = Analytics.Expected.map(_._1)
    layers("spark.fetch_wait_s") = median(perPass(qs, "fetchWaitMs")) / 1e3
    layers("spark.spill_mb") = median(perPass(qs, "spillBytes")) / 1e6
    layers("analytics.passes") = passWallS.size.toDouble
  }
}
