package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpecBase
import graft.streaming.StreamOps.KeyedEvent

/** Streaming operator semantics over MemoryStream inputs: watermarked
  * windows, session windows, bounded-state dedup, keyed latest-state. */
class StreamOpsSpec extends SparkSpecBase {

  import StreamOpsSpec.Doc

  import spark.implicits._

  private def ts(hhmm: String): Timestamp =
    Timestamp.valueOf(s"2024-05-06 $hhmm:00")

  private def ev(id: Long, user: Long, typ: String, hhmm: String): KeyedEvent =
    KeyedEvent(user, id, typ, ts(hhmm))

  test("hourlyAgg: watermark closes windows; late rows beyond it are dropped") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[KeyedEvent]
    val agg = StreamOps.hourlyAgg(
      in.toDF().withColumnRenamed("ts", "ts").withColumn("ts", col("ts")), "1 hour")
    val q = agg.writeStream.format("memory").queryName("hourly")
      .outputMode(OutputMode.Append()).start()
    // batch 1: two users in hour 10, one in hour 11
    in.addData(ev(1, 1, "click", "10:05"), ev(2, 2, "click", "10:20"),
      ev(3, 1, "view", "11:10"))
    q.processAllAvailable()
    // batch 2: advance event time to 14:00 → watermark 13:00 → hours 10-11 close
    in.addData(ev(9, 9, "click", "14:00"))
    q.processAllAvailable()
    // batch 3: a straggler in hour 10 arrives after the watermark → dropped
    in.addData(ev(4, 3, "click", "10:40"))
    q.processAllAvailable()
    in.addData(ev(10, 9, "click", "15:30")) // close remaining state
    q.processAllAvailable()
    q.stop()
    val out = spark.table("hourly")
      .select("hour_s", "event_type", "n_events", "n_users")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    val h10 = ts("10:00").getTime / 1000; val h11 = ts("11:00").getTime / 1000
    assert(out.contains((h10, "click", 2L, 2L)), s"got $out")
    assert(out.contains((h11, "view", 1L, 1L)))
    // straggler was dropped: hour-10 click count stayed 2
    assert(!out.contains((h10, "click", 3L, 3L)))
  }

  test("sessionize: 30-min gap merges adjacent events into one session per user") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[KeyedEvent]
    val q = StreamOps.sessionize(in.toDF(), "30 minutes", "1 hour")
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()
    // user 1: 10:00, 10:20 (same session), 11:30 (new session)
    in.addData(ev(1, 1, "c", "10:00"), ev(2, 1, "c", "10:20"), ev(3, 1, "c", "11:30"))
    q.processAllAvailable()
    in.addData(ev(9, 9, "c", "16:00")) // advance watermark, close sessions
    q.processAllAvailable()
    q.stop()
    val out = spark.table("sessions")
      .filter(col("user_id") === 1)
      .select("start_s", "end_s", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val s1000 = ts("10:00").getTime / 1000
    val s1020 = ts("10:20").getTime / 1000
    val s1130 = ts("11:30").getTime / 1000
    assert(out.contains((s1000, s1020 + 1800, 2L)), s"got $out")
    assert(out.contains((s1130, s1130 + 1800, 1L)))
  }

  test("dedupExact: duplicate keys within the watermark are emitted once") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[KeyedEvent]
    val q = StreamOps.dedupExact(in.toDF(), Seq("event_id"), "ts", "1 hour")
      .writeStream.format("memory").queryName("deduped")
      .outputMode(OutputMode.Append()).start()
    in.addData(ev(1, 1, "c", "10:00"), ev(1, 1, "c", "10:01"), ev(2, 2, "c", "10:02"))
    q.processAllAvailable()
    in.addData(ev(1, 1, "c", "10:03")) // dup again, next batch, still in watermark
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("deduped").select("event_id")
      .collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 2L))
  }

  test("latestState: one state row per user, newest (ts, event_id) wins across batches") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[KeyedEvent]
    val q = StreamOps.latestState(in.toDS())
      .writeStream.format("memory").queryName("latest")
      .outputMode(OutputMode.Update()).start()
    in.addData(ev(1, 1, "click", "10:00"), ev(2, 1, "view", "10:30"),
      ev(3, 2, "click", "10:10"))
    q.processAllAvailable()
    in.addData(ev(4, 2, "purchase", "10:50"),
      ev(5, 1, "stale", "09:00")) // older than user 1's current state → ignored
    q.processAllAvailable()
    q.stop()
    // Update-mode memory sink appends each update; the last row per user
    // is the current state.
    val finalByUser = spark.table("latest").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getString(2), r.getLong(3))))
      .groupBy(_._1).map { case (u, rows) => (u, rows.last._2) }
    assert(finalByUser(1L) == ((2L, "view", ts("10:30").getTime / 1000)))
    assert(finalByUser(2L) == ((4L, "purchase", ts("10:50").getTime / 1000)))
  }

  test("attribute: stream-stream interval join matches clicks in the hour before purchase") {
    implicit val sq = spark.sqlContext
    val clicks = MemoryStream[KeyedEvent]
    val purchases = MemoryStream[KeyedEvent]
    val q = StreamOps.attribute(clicks.toDF(), purchases.toDF(), "1 hour", "1 hour")
      .writeStream.format("memory").queryName("attrib")
      .outputMode(OutputMode.Append()).start()
    clicks.addData(ev(1, 1, "click", "10:00"), ev(2, 1, "click", "10:30"),
      ev(3, 1, "click", "08:00"), // outside the 1h window → unattributed
      ev(4, 2, "click", "10:40")) // other user
    purchases.addData(ev(100, 1, "purchase", "10:45"))
    q.processAllAvailable()
    q.stop()
    val pairs = spark.table("attrib").collect()
      .map(r => (r.getAs[Long]("purchase_id"), r.getAs[Long]("click_id"))).toSet
    assert(pairs == Set((100L, 1L), (100L, 2L)), s"got $pairs")
  }

  test("nearDupCandidates: near-identical docs pair via shared LSH bands, unrelated ones don't") {
    implicit val sq = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog again and " +
      "again until the dog finally moves away from the warm sunny porch"
    val in = MemoryStream[Doc]
    val q = StreamOps.nearDupCandidates(in.toDF(), "1 hour")
      .writeStream.format("memory").queryName("neardup")
      .outputMode(OutputMode.Append()).start()
    in.addData(
      Doc(1L, base, ts("10:00")),
      Doc(2L, base + " tail", ts("10:10")),                  // near-dup of 1
      Doc(3L, "completely different words about spark plans " +
        "and shuffle exchanges at massive scale", ts("10:15")))
    q.processAllAvailable()
    q.stop()
    val pairs = spark.table("neardup").collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(pairs.contains((1L, 2L)), s"near-dup pair missed: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"unrelated doc paired: $pairs")
  }

  test("nearDupCandidates replay over the documents corpus ≡ batch lshCandidates") {
    implicit val sq = spark.sqlContext
    // the whole 500-doc documents table, all timestamps inside one
    // horizon, replayed in adversarial chunks — the candidate-pair SET
    // must equal the batch d3 pipeline's on the same docs (the same
    // bounded-replay pattern the e5/e6 streaming twins pin)
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => Doc(r.getLong(0), r.getString(1), ts("10:00")))
    val in = MemoryStream[Doc]
    val q = StreamOps.nearDupCandidates(in.toDF(), "1 hour")
      .writeStream.format("memory").queryName("neardup_equiv")
      .outputMode(OutputMode.Append()).start()
    // uneven chunks: a batch boundary between any two members of a pair
    // must not lose (or duplicate) the pair
    docs.grouped(170).foreach { chunk =>
      in.addData(chunk.toIndexedSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("neardup_equiv").collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    val batch = graft.operators.Dedup.lshCandidates(
      graft.operators.Dedup.lshIndex(
        graft.Tables.documents(spark, sf).select(col("doc_id"), col("text"))),
      maxBucket = None).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(batch.nonEmpty, "batch candidate set unexpectedly empty")
    assert(streamed == batch,
      s"stream/batch divergence: stream-only=${streamed -- batch}, batch-only=${batch -- streamed}")
  }

  test("incrementalDedupStream ≡ batch d8's new×corpus pairs on bounded replay") {
    implicit val sq = spark.sqlContext
    import graft.operators.Dedup
    val docs = graft.Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val corpusIx = Dedup.lshIndex(docs.filter(col("doc_id") < graft.operators.Dedup.IncrementalSplit))
    // the standing index, round-tripped through storage as in production
    val dir = java.nio.file.Files.createTempDirectory("d8-stream-postings").toString
    Dedup.corpusPostings(corpusIx).write.mode("overwrite").parquet(dir)

    val newDocs = docs.filter(col("doc_id") >= Dedup.IncrementalSplit)
      .collect().map(r => Doc(r.getLong(0), r.getString(1), ts("10:00")))
    val in = MemoryStream[Doc]
    val q = StreamOps.incrementalDedupStream(in.toDF(), spark.read.parquet(dir))
      .writeStream.format("memory").queryName("inc_dedup_stream")
      .outputMode(OutputMode.Append()).start()
    newDocs.grouped(40).foreach { chunk =>
      in.addData(chunk.toIndexedSeq: _*)
      q.processAllAvailable()
    }
    q.stop()

    val streamed = spark.table("inc_dedup_stream").collect()
      .map { r =>
        val (n, c) = (r.getAs[Long]("new_doc"), r.getAs[Long]("corpus_doc"))
        (math.min(n, c), math.max(n, c), r.getAs[Long]("n_sig_match"))
      }.toSet
    val batch = Dedup.incrementalCandidates(corpusIx,
      Dedup.lshIndex(docs.filter(col("doc_id") >= Dedup.IncrementalSplit)),
      maxBucket = None).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Long]("n_sig_match")))
      // cross pairs only: exactly one side in the standing corpus
      .filter(p => (p._1 < Dedup.IncrementalSplit) != (p._2 < Dedup.IncrementalSplit))
      .toSet
    assert(batch.nonEmpty, "no new×corpus pairs to compare")
    assert(streamed == batch,
      s"stream-only=${streamed -- batch}, batch-only=${batch -- streamed}")
  }

  test("incrementalDedupStream survives kill-and-restart from its checkpoint (T3 parity)") {
    implicit val sq = spark.sqlContext
    import graft.operators.Dedup
    val docs = graft.Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val corpusIx = Dedup.lshIndex(docs.filter(col("doc_id") < graft.operators.Dedup.IncrementalSplit))
    val postingsDir = java.nio.file.Files
      .createTempDirectory("d8-restart-postings").toString
    Dedup.corpusPostings(corpusIx).write.mode("overwrite").parquet(postingsDir)

    val newDocs = docs.filter(col("doc_id") >= Dedup.IncrementalSplit)
      .collect().map(r => Doc(r.getLong(0), r.getString(1), ts("10:00")))
    val (firstHalf, secondHalf) = newDocs.splitAt(newDocs.length / 2)

    val cp = java.nio.file.Files.createTempDirectory("d8-restart-cp").toString
    val outDir = java.nio.file.Files.createTempDirectory("d8-restart-out").toString
    val in = MemoryStream[Doc]
    def start() = StreamOps.incrementalDedupStream(
        in.toDF(), spark.read.parquet(postingsDir))
      .writeStream.format("parquet").option("checkpointLocation", cp)
      .outputMode(OutputMode.Append()).start(outDir)

    // run 1: half the batch arrives, commits, then the query is KILLED
    val q1 = start()
    firstHalf.grouped(25).foreach { chunk =>
      in.addData(chunk.toIndexedSeq: _*)
      q1.processAllAvailable()
    }
    q1.stop()
    // the rest arrives while the query is down
    in.addData(secondHalf.toIndexedSeq: _*)

    // run 2: restart from the checkpoint — committed offsets must not
    // re-emit (file sink is transactional), queued ones must drain
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()

    val streamed = spark.read.parquet(outDir).collect()
      .map { r =>
        val (n, c) = (r.getAs[Long]("new_doc"), r.getAs[Long]("corpus_doc"))
        (math.min(n, c), math.max(n, c), r.getAs[Long]("n_sig_match"))
      }.toSet
    val batch = Dedup.incrementalCandidates(corpusIx,
      Dedup.lshIndex(docs.filter(col("doc_id") >= Dedup.IncrementalSplit)),
      maxBucket = None).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Long]("n_sig_match")))
      .filter(p => (p._1 < Dedup.IncrementalSplit) != (p._2 < Dedup.IncrementalSplit))
      .toSet
    assert(batch.nonEmpty, "no new×corpus pairs to compare")
    assert(streamed == batch,
      s"restart lost or duplicated pairs: stream-only=${streamed -- batch}, " +
        s"batch-only=${batch -- streamed}")
  }

  test("lmScoreStream replay over the documents corpus ≡ batch x13 per-doc scores") {
    implicit val sq = spark.sqlContext
    import graft.operators.TextAnalysis
    val docsDf = graft.Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    // the standing model, round-tripped through storage as in production
    val dir = java.nio.file.Files.createTempDirectory("lm-model").toString
    TextAnalysis.lmModel(docsDf).write.mode("overwrite").parquet(dir)

    val docs = docsDf.collect()
      .map(r => Doc(r.getLong(0), r.getString(1), ts("10:00")))
    val in = MemoryStream[Doc]
    val q = StreamOps.lmScoreStream(in.toDF(), spark.read.parquet(dir))
      .writeStream.format("memory").queryName("lm_stream")
      .outputMode(OutputMode.Append()).start()
    docs.grouped(170).foreach { chunk =>
      in.addData(chunk.toIndexedSeq: _*)
      q.processAllAvailable()
    }
    // two mover batches: advance the watermark, then emit closed windows
    in.addData(Doc(999999L, "watermark mover", ts("16:00")))
    q.processAllAvailable()
    in.addData(Doc(999998L, "watermark mover two", ts("17:00")))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("lm_stream").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tok"), r.getAs[Long]("n_oov"),
          r.getAs[Long]("mean_lp_e4"))).toMap
      .filter(_._1 < 999998L) // drop the movers
    val want = TextAnalysis.lmScore(docsDf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tok"), r.getAs[Long]("n_oov"),
          r.getAs[Long]("mean_lp_e4"))).toMap
    assert(want.nonEmpty && got.size == want.size,
      s"stream scored ${got.size} docs, batch ${want.size}")
    assert(got == want, {
      val bad = want.keys.filter(k => got.get(k) != want.get(k)).take(5)
      s"per-doc divergence at ${bad.map(k => (k, got.get(k), want(k))).mkString(", ")}"
    })
  }

  test("lmScoreStream recovers windowed-aggregate state across kill-and-restart") {
    implicit val sq = spark.sqlContext
    import graft.operators.TextAnalysis
    val docsDf = graft.Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val modelDir = java.nio.file.Files.createTempDirectory("lm-restart-model").toString
    TextAnalysis.lmModel(docsDf).write.mode("overwrite").parquet(modelDir)

    val docs = docsDf.collect()
      .map(r => Doc(r.getLong(0), r.getString(1), ts("10:00")))
    val (firstHalf, secondHalf) = docs.splitAt(docs.length / 2)
    val cp = java.nio.file.Files.createTempDirectory("lm-restart-cp").toString
    val outDir = java.nio.file.Files.createTempDirectory("lm-restart-out").toString
    val in = MemoryStream[Doc]
    def start() = StreamOps.lmScoreStream(in.toDF(), spark.read.parquet(modelDir))
      .writeStream.format("parquet").option("checkpointLocation", cp)
      .outputMode(OutputMode.Append()).start(outDir)

    // run 1: half the corpus lands in the 10:00 window's STATE (the
    // watermark never advances, so nothing is emitted), then KILL —
    // recovery must replay that state, not just unread offsets
    val q1 = start()
    in.addData(firstHalf.toIndexedSeq: _*)
    q1.processAllAvailable()
    q1.stop()
    // the rest + the watermark movers arrive while the query is down
    in.addData(secondHalf.toIndexedSeq: _*)
    in.addData(Doc(999999L, "watermark mover", ts("16:00")))
    in.addData(Doc(999998L, "watermark mover two", ts("17:00")))

    val q2 = start()
    q2.processAllAvailable()
    q2.stop()

    val got = spark.read.parquet(outDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tok"), r.getAs[Long]("n_oov"),
          r.getAs[Long]("mean_lp_e4"))).toMap
      .filter(_._1 < 999998L)
    val want = TextAnalysis.lmScore(docsDf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tok"), r.getAs[Long]("n_oov"),
          r.getAs[Long]("mean_lp_e4"))).toMap
    assert(got.size == want.size,
      s"restart lost windowed state: scored ${got.size} docs, batch ${want.size}")
    assert(got == want, {
      val bad = want.keys.filter(k => got.get(k) != want.get(k)).take(5)
      s"per-doc divergence after restart at ${bad.map(k => (k, got.get(k), want(k))).mkString(", ")}"
    })
  }

  test("cmsStream: chunked replay in complete mode equals the batch sketch " +
      "bit-for-bit, and state is the constant-size buffer") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    val chunks = docs.grouped((docs.size + 3) / 4).toSeq
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.cmsStream(in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("cms_replay")
      .outputMode(OutputMode.Complete()).start()
    chunks.foreach { c => in.addData(c); q.processAllAvailable() }
    q.stop()
    val streamed = spark.table("cms_replay")
      .collect()(0).getSeq[Long](0)
    val batch = StreamOps.cmsStream(
      graft.Tables.documents(spark, sf).select(col("doc_id"), col("text")))
      .collect()(0).getSeq[Long](0)
    assert(streamed == batch,
      "streaming CMS diverged from the batch sketch")
    assert(streamed.size ==
      graft.operators.TextAnalysis.CmsDepth *
        graft.operators.TextAnalysis.CmsWidth)
    assert(streamed.sum > 0L)
  }

  test("hllStream: chunked replay equals the batch registers bit-for-bit, " +
      "and DUPLICATED chunks leave the sketch unchanged (no exactly-once " +
      "fence needed)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val docsDf = graft.Tables.documents(spark, sf)
      .select(col("source"), col("text"))
    val docs = docsDf.as[(String, String)].collect().sortBy(_._2).toSeq
    val chunks = docs.grouped((docs.size + 3) / 4).toSeq
    def run(name: String, feed: Seq[Seq[(String, String)]]): Map[String, Seq[Long]] = {
      val in = MemoryStream[(String, String)]
      val q = StreamOps.hllStream(in.toDF().toDF("source", "text"))
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Complete()).start()
      feed.foreach { c => in.addData(c); q.processAllAvailable() }
      q.stop()
      spark.table(name).collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    }
    val streamed = run("hll_replay", chunks)
    val batch = StreamOps.hllStream(docsDf).collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(streamed == batch, "streaming HLL diverged from the batch sketch")
    assert(batch.values.forall(_.size == graft.operators.TextAnalysis.HllM))
    // at-least-once redelivery: every chunk delivered twice (and the
    // first re-delivered once more at the end) — MAX-merge idempotence
    // means the registers cannot move, with NO dedup front in the plan
    val redelivered = run("hll_redeliver",
      chunks.flatMap(c => Seq(c, c)) :+ chunks.head)
    assert(redelivered == batch,
      "duplicate redelivery changed the sketch — MAX-merge idempotence broken")
  }

  test("bloomStream: chunked replay equals the batch bits bit-for-bit, and " +
      "DUPLICATED chunks leave the filter unchanged (OR-merge idempotence, " +
      "no exactly-once fence needed)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val docsDf = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val docs = docsDf.as[(Long, String)].collect().sortBy(_._1).toSeq
    val chunks = docs.grouped((docs.size + 3) / 4).toSeq
    def run(name: String, feed: Seq[Seq[(Long, String)]]): Seq[Long] = {
      val in = MemoryStream[(Long, String)]
      val q = StreamOps.bloomStream(in.toDF().toDF("doc_id", "text"))
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Complete()).start()
      feed.foreach { c => in.addData(c); q.processAllAvailable() }
      q.stop()
      spark.table(name).collect().head.getSeq[Long](0)
    }
    val streamed = run("bloom_replay", chunks)
    val batch = graft.operators.Dedup.streamingWindowBloom(docsDf)
      .collect().head.getSeq[Long](0)
    assert(streamed == batch, "streaming bloom diverged from the batch bits")
    assert(batch.size == graft.operators.Dedup.BloomMBits / 64)
    val redelivered = run("bloom_redeliver",
      chunks.flatMap(c => Seq(c, c)) :+ chunks.head)
    assert(redelivered == batch,
      "duplicate redelivery changed the bits — OR-merge idempotence broken")
  }

  test("weightedSampleStream: chunked replay's final shard states merge to " +
      "exactly the batch sample; duplicate redelivery leaves states unchanged") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import StreamOps.SampleIn
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang")).as[SampleIn]
      .collect().sortBy(_.doc_id).toSeq
    val chunks = docs.grouped((docs.size + 3) / 4).toSeq
    val in = MemoryStream[SampleIn]
    val q = StreamOps.weightedSampleStream(in.toDS())
      .writeStream.format("memory").queryName("wsample_replay")
      .outputMode(OutputMode.Append()).start()
    chunks.foreach { c => in.addData(c); q.processAllAvailable() }
    // redeliver the second chunk wholesale: the keyed insert replaces
    // by doc_id, so states (and thus the sample) must not change
    in.addData(chunks(1)); q.processAllAvailable()
    q.stop()
    // newest emission per shard = max n_seen for that shard
    val tbl = spark.table("wsample_replay")
    val latest = tbl.groupBy(col("shard")).agg(max(col("n_seen")).as("mx"))
      .select(col("shard").as("shard2"), col("mx"))
    val standing = tbl.join(latest,
        col("shard") === col("shard2") && col("n_seen") === col("mx"))
      .orderBy(col("priority"), col("doc_id"))
      .limit(graft.operators.TextAnalysis.WorK)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    val batch = graft.operators.TextAnalysis.weightedSample(
      graft.Tables.documents(spark, sf))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    assert(standing == batch,
      s"standing sample diverged: stream=${standing.take(5)}… batch=${batch.take(5)}…")
  }

  test("normalizeStream + gopherStream: chunked replay ≡ batch, stateless " +
      "(no state store rows)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    val chunks = docs.grouped((docs.size + 2) / 3).toSeq
    def replay(name: String,
        f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
      val in = MemoryStream[(Long, String)]
      val q = f(in.toDF().toDF("doc_id", "text"))
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      chunks.foreach { c => in.addData(c); q.processAllAvailable() }
      assert(q.lastProgress.stateOperators.isEmpty ||
        q.lastProgress.stateOperators.forall(_.numRowsTotal == 0),
        s"$name must keep no state")
      q.stop()
      spark.table(name)
    }
    val nStream = replay("norm_replay", StreamOps.normalizeStream)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("clean_text")).toMap
    val nBatch = graft.operators.TextAnalysis.normalizeDocs(
      graft.Tables.documents(spark, sf)).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("clean_text")).toMap
    assert(nStream == nBatch)
    val gStream = replay("gopher_replay", StreamOps.gopherStream)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Boolean]("gopher_pass")).toMap
    val gBatch = graft.operators.TextAnalysis.gopherRules(
      graft.Tables.documents(spark, sf)).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("gopher_pass")).toMap
    assert(gStream == gBatch)
    def chunkKey(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx")) ->
        (r.getAs[Long]("start_word"), r.getAs[Long]("n_chunk_words"),
          r.getAs[String]("chunk_md5"))
    val cStream = replay("chunk_replay", StreamOps.chunkStream)
      .collect().map(chunkKey).toMap
    val cBatch = graft.operators.TextAnalysis.chunkDocs(
      graft.Tables.documents(spark, sf),
      graft.operators.TextAnalysis.ChunkWords,
      graft.operators.TextAnalysis.ChunkStride).collect()
      .map(chunkKey).toMap
    assert(cStream == cBatch)
  }

  test("piiScrubStream chunked replay ≡ batch x12 signals, with no state store") {
    implicit val sq = spark.sqlContext
    import graft.operators.TextAnalysis
    import spark.implicits._
    // the PII fixtures carry the actual emails/phones/IPs/SSNs; the
    // corpus docs pin the all-zero path
    val docsDf = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).limit(50)
      .unionAll(TextAnalysis.PiiFixtures.toDF("doc_id", "text"))
    def key(r: org.apache.spark.sql.Row) = r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("n_emails"), r.getAs[Long]("n_phones"),
        r.getAs[Long]("n_ipv4"), r.getAs[Long]("n_ssn"),
        r.getAs[Boolean]("has_pii"), r.getAs[Long]("redacted_len"))

    val in = MemoryStream[Doc]
    val q = StreamOps.piiScrubStream(in.toDF())
      .writeStream.format("memory").queryName("pii_stream")
      .outputMode(OutputMode.Append()).start()
    // stateless: every chunk's rows must land IN that chunk's batch,
    // with no watermark mover needed to flush anything
    val rows = docsDf.collect().map(r => Doc(r.getLong(0), r.getString(1), ts("10:00")))
    rows.grouped(17).zipWithIndex.foreach { case (chunk, i) =>
      in.addData(chunk.toIndexedSeq: _*)
      q.processAllAvailable()
      val seen = spark.table("pii_stream").count()
      assert(seen >= (i * 17 + chunk.length).toLong,
        s"chunk $i not fully emitted: $seen rows visible")
    }
    q.stop()
    val got = spark.table("pii_stream").collect().map(key).toMap
    val want = TextAnalysis.piiSignals(docsDf).collect().map(key).toMap
    assert(want.exists(_._2._5), "fixtures should flag has_pii")
    assert(got == want, {
      val bad = want.keys.filter(k => got.get(k) != want.get(k)).take(5)
      s"stream/batch divergence at ${bad.map(k => (k, got.get(k), want(k))).mkString(", ")}"
    })
  }

  test("decodeStream chunked replay ≡ batch decode, stateless, codec really runs") {
    implicit val sq = spark.sqlContext
    import graft.operators.Multimodal
    import spark.implicits._
    def key(r: org.apache.spark.sql.Row) = r.getAs[Long]("doc_id") ->
      (r.getAs[String]("png_magic"), r.getAs[Long]("width"),
        r.getAs[Long]("height"), r.getAs[Long]("n_px"), r.getAs[Long]("px_sum"))
    val ids = (0L until 60L).toSeq
    val in = MemoryStream[Long]
    val q = StreamOps.decodeStream(in.toDS())
      .writeStream.format("memory").queryName("decode_stream")
      .outputMode(OutputMode.Append()).start()
    // stateless: each chunk's decodes land in that chunk's micro-batch
    ids.grouped(23).zipWithIndex.foreach { case (chunk, i) =>
      in.addData(chunk: _*)
      q.processAllAvailable()
      assert(spark.table("decode_stream").count() >= (i * 23 + chunk.length).toLong)
    }
    q.stop()
    val got = spark.table("decode_stream").collect().map(key).toMap
    val want = Multimodal.decodeFeatures(ids.toDS()).collect().map(key).toMap
    assert(got == want, {
      val bad = want.keys.filter(k => got.get(k) != want.get(k)).take(3)
      s"stream/batch decode divergence at ${bad.map(k => (k, got.get(k), want(k))).mkString(", ")}"
    })
    // the codec genuinely ran on the stream: real PNG magic everywhere
    assert(got.nonEmpty && got.values.forall(_._1 == "89504E47"))
  }

  test("audioDecodeStream chunked replay ≡ batch decode, real WAV magic throughout") {
    implicit val sq = spark.sqlContext
    import graft.operators.Multimodal
    import spark.implicits._
    def key(r: org.apache.spark.sql.Row) = r.getAs[Long]("doc_id") ->
      (r.getAs[String]("wav_magic"), r.getAs[Long]("n_samples"),
        r.getAs[Long]("amp_sum"), r.getAs[Long]("amp_min"), r.getAs[Long]("amp_max"))
    val ids = (0L until 40L).toSeq
    val in = MemoryStream[Long]
    val q = StreamOps.audioDecodeStream(in.toDS())
      .writeStream.format("memory").queryName("audio_stream")
      .outputMode(OutputMode.Append()).start()
    ids.grouped(17).foreach { chunk => in.addData(chunk: _*); q.processAllAvailable() }
    q.stop()
    val got = spark.table("audio_stream").collect().map(key).toMap
    val want = Multimodal.decodeAudioFeatures(ids.toDS()).collect().map(key).toMap
    assert(got == want)
    assert(got.nonEmpty && got.values.forall(_._1 == "52494646"))
  }

  test("subsumptionStream: arriving docs screened against the standing " +
      "containment index ≡ the driver-computed d15 decision rule") {
    implicit val sq = spark.sqlContext
    val texts = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def shingleSet(t: String): Set[String] = {
      val ws = t.split(" ").filter(_.nonEmpty)
      if (ws.length < 3) Set.empty else ws.sliding(3).map(_.mkString(" ")).toSet
    }
    val corpusIds = texts.keySet.filter(_ < graft.operators.Dedup.IncrementalSplit)
    // a constructed arrival: a verbatim 8-word quote from a corpus doc
    // (guaranteed ≥0.9 containment in its source), plus the real tail
    val quoteSrc = corpusIds.filter(texts(_).split(" ").length >= 8).min
    val quote = texts(quoteSrc).split(" ").take(8).mkString(" ")
    val arriving = texts.keySet.filter(_ >= graft.operators.Dedup.IncrementalSplit).toSeq.sorted
      .map(id => id -> texts(id)) :+ (900000L -> quote)
    val index = graft.operators.Dedup.containmentIndex(
      graft.Tables.documents(spark, sf)
        .filter(col("doc_id") < graft.operators.Dedup.IncrementalSplit))

    val in = MemoryStream[Doc]
    val q = StreamOps.subsumptionStream(in.toDF(), index)
      .writeStream.format("memory").queryName("subsume_stream")
      .outputMode(OutputMode.Append()).start()
    arriving.grouped(20).foreach { chunk =>
      in.addData(chunk.map { case (id, t) => Doc(id, t, ts("10:00")) }: _*)
      q.processAllAvailable()
    }
    // movers must carry >= 3 words: the watermark advances on shingle
    // rows (the generate-inferred size filter sits below the watermark
    // node — see the subsumptionStream scaladoc caveat)
    in.addData(Doc(999999L, "wm mover one with enough words to shingle", ts("16:00")))
    q.processAllAvailable()
    in.addData(Doc(999998L, "wm mover two with enough words to shingle", ts("17:00")))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("subsume_stream").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("subsumed_by")) ->
        (r.getAs[Long]("n_shared"), r.getAs[Long]("containment_e6"))).toMap
    val want = (for {
      (a, ta) <- arriving
      sa = shingleSet(ta)
      if sa.size >= graft.operators.Dedup.MinShinglesA
      b <- corpusIds
      sb = shingleSet(texts(b))
      shared = sa.intersect(sb).size.toLong
      contain = shared * 1000000L / sa.size
      if contain >= graft.operators.Dedup.SubsumeTauE6
      if sb.size > sa.size || (sb.size == sa.size && b < a)
    } yield (a, b) -> (shared, contain)).toMap
    assert(want.nonEmpty, "fixture produced no subsumption arrival")
    assert(want.contains((900000L, quoteSrc)), "constructed quote not caught")
    assert(got == want,
      s"stream-only=${got.keySet -- want.keySet} want-only=${want.keySet -- got.keySet}")
  }

  test("contaminationStream over the x11 split ≡ driver-computed shared-shingle counts") {
    implicit val sq = spark.sqlContext
    // the same md5 percent-bucket gate x6/x11 use
    def bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(4), 16) % 100L
    }
    val texts = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def shingleSet(t: String): Set[String] = {
      val ws = t.split(" ").filter(_.nonEmpty)
      if (ws.length < 3) Set.empty else ws.sliding(3).map(_.mkString(" ")).toSet
    }
    val trainIds = texts.keySet.filter(bucket(_) < 80L)
    val testIds = texts.keySet.filter(bucket(_) >= 90L).toSeq.sorted
    val index = graft.operators.TextAnalysis.trainShingleIndex(
      graft.Tables.documents(spark, sf)
        .filter(col("doc_id").isin(trainIds.toSeq: _*)))

    val in = MemoryStream[Doc]
    val q = StreamOps.contaminationStream(in.toDF(), index)
      .writeStream.format("memory").queryName("contam_stream")
      .outputMode(OutputMode.Append()).start()
    testIds.grouped(20).foreach { chunk =>
      in.addData(chunk.map(id => Doc(id, texts(id), ts("10:00"))): _*)
      q.processAllAvailable()
    }
    // two mover batches: the first raises max event time, the second
    // runs with the advanced watermark and actually emits the closed
    // windows (watermarks take effect one batch later)
    in.addData(Doc(999999L, "watermark mover", ts("16:00")))
    q.processAllAvailable()
    in.addData(Doc(999998L, "watermark mover two", ts("17:00")))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("contam_stream").collect()
      .map(r => (r.getAs[Long]("test_doc"), r.getAs[Long]("train_doc")) ->
        r.getAs[Long]("shared_shingles")).toMap
    val want = (for {
      te <- testIds
      tr <- trainIds
      shared = shingleSet(texts(te)).intersect(shingleSet(texts(tr))).size
      if shared > 0
    } yield (te, tr) -> shared.toLong).toMap
    assert(want.nonEmpty, "split produced no contaminated pairs to compare")
    assert(got == want,
      s"stream-only=${got.keySet -- want.keySet}, missing=${want.keySet -- got.keySet}")
  }

  test("funnelStages: per-user state machine emits each stage once, in order, across batches") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[KeyedEvent]
    val q = StreamOps.funnelStages(in.toDS())
      .writeStream.format("memory").queryName("funnel")
      .outputMode(OutputMode.Append()).start()
    in.addData(
      ev(1, 1, "view", "09:00"),     // view BEFORE click → no stage
      ev(2, 1, "click", "10:00"),    // stage 1
      ev(3, 1, "click", "10:30"))    // repeat click → no new stage
    q.processAllAvailable()
    in.addData(
      ev(4, 1, "view", "11:00"),     // stage 2 (within 24h of click)
      ev(5, 1, "purchase", "11:30"), // stage 3
      ev(6, 2, "purchase", "11:00")) // purchase with no click → nothing
    q.processAllAvailable()
    q.stop()
    val out = spark.table("funnel").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("stage"), r.getAs[Long]("at_s")))
    assert(out.count(_._1 == 2L) == 0, s"userless funnel fired: ${out.toSeq}")
    val u1 = out.filter(_._1 == 1L).sortBy(_._3).map(_._2).toSeq
    assert(u1 == Seq(1, 2, 3), s"stages wrong/duplicated: ${out.toSeq}")
  }

  test("batch-stream equivalence: funnelStages replayed over sf0.001 events equals e6") {
    implicit val sq = spark.sqlContext
    // bounded replay: the whole events table in 3 chronological chunks
    val all = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .as[KeyedEvent].collect().sortBy(e => (e.ts.getTime, e.event_id)).toSeq
    val chunks = all.grouped((all.size + 2) / 3).toSeq
    val in = MemoryStream[KeyedEvent]
    val q = StreamOps.funnelStages(in.toDS())
      .writeStream.format("memory").queryName("funnel_replay")
      .outputMode(OutputMode.Append()).start()
    chunks.foreach { c => in.addData(c); q.processAllAvailable() }
    q.stop()
    // deepest stage per user, counted per stage == batch e6
    val streamed = spark.table("funnel_replay")
      .groupBy(col("user_id")).agg(max(col("stage")).cast("long").as("stage"))
      .groupBy(col("stage")).agg(count(lit(1)).as("n_users"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.operators.Events.e6Funnel(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch, s"stream=$streamed batch=$batch")
  }

  test("funnel equivalence is invariant to replay chunk boundaries (mid-key, mid-session)") {
    implicit val sq = spark.sqlContext
    // Same log, several chunkings: batch boundaries placed INSIDE a
    // user's event run and INSIDE a sub-30-min burst — the places a
    // flatMapGroupsWithState replay bug hides (state handed across a
    // boundary mid-transition). Every chunking must equal the batch e6.
    val all = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .as[KeyedEvent].collect().sortBy(e => (e.ts.getTime, e.event_id)).toSeq
    val n = all.size
    val midKey = (1 until n).filter(i => all(i).user_id == all(i - 1).user_id)
    val midBurst = midKey.filter(i =>
      all(i).ts.getTime - all(i - 1).ts.getTime < 30L * 60 * 1000)
    assert(midKey.nonEmpty && midBurst.nonEmpty, "fixture lost its adversarial cuts")
    def chunksAt(cuts: Seq[Int]): Seq[Seq[KeyedEvent]] =
      (Seq(0) ++ cuts ++ Seq(n)).distinct.sorted
        .sliding(2).collect { case Seq(a, b) if b > a => all.slice(a, b) }.toSeq
    val chunkings = Seq(
      "one shot" -> chunksAt(Nil),
      "mid key" -> chunksAt(Seq(midKey.head, midKey(midKey.size / 2), midKey.last)),
      "mid session" -> chunksAt(Seq(midBurst.head, midBurst(midBurst.size / 2), midBurst.last)),
      "fine" -> chunksAt((1 to 4).map(k => k * n / 5)))
    val batch = graft.operators.Events.e6Funnel(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    chunkings.zipWithIndex.foreach { case ((label, chunks), i) =>
      val name = s"funnel_chunking_$i"
      val in = MemoryStream[KeyedEvent]
      val q = StreamOps.funnelStages(in.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      chunks.foreach { c => in.addData(c); q.processAllAvailable() }
      q.stop()
      val streamed = spark.table(name)
        .groupBy(col("user_id")).agg(max(col("stage")).cast("long").as("stage"))
        .groupBy(col("stage")).agg(count(lit(1)).as("n_users"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == batch, s"[$label] stream=$streamed batch=$batch")
    }
  }

  test("anomalyStream replayed over the hourly series ≡ batch e9, chunking-invariant") {
    implicit val sq = spark.sqlContext
    import StreamOps.HourlyBucket
    // the series the stream consumes = what hourlyAgg finalizes: the
    // corpus's hourly series plus a constructed spike series (so the
    // equivalence is witnessed on a flagged row whatever the corpus
    // happens to contain), replayed in hour order
    val synth = (1 to 24).map(h => HourlyBucket("synth", h.toLong, 10L)) :+
      HourlyBucket("synth", 25L, 40L)
    val series = (graft.operators.Events.e9Anomaly(spark, sf)
      .select(col("event_type"), col("hour_s"), col("n_events"))
      .as[HourlyBucket].collect().toSeq ++ synth)
      .sortBy(b => (b.hour_s, b.event_type))
    val batch = graft.operators.Events.anomalyFlags(
      series.toDF().select(col("hour_s"), col("event_type"), col("n_events")))
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("hour_s"),
        r.getAs[Long]("n_events"), r.getAs[Long]("trail_n"),
        r.getAs[Long]("trail_sum"), r.getAs[Long]("trail_sumsq"),
        r.getAs[Boolean]("is_anomaly"))).toSet
    assert(batch.exists(_._7), "fixture has no anomaly to witness")
    // two chunkings, incl. cuts landing mid-series for every type —
    // where a state hand-off bug would hide
    val n = series.size
    val chunkings = Seq(
      "thirds" -> series.grouped((n + 2) / 3).toSeq,
      "fine"   -> series.grouped(math.max(1, n / 17)).toSeq)
    chunkings.zipWithIndex.foreach { case ((label, chunks), i) =>
      val name = s"anomaly_replay_$i"
      val in = MemoryStream[HourlyBucket]
      val q = StreamOps.anomalyStream(in.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      chunks.foreach { c => in.addData(c); q.processAllAvailable() }
      q.stop()
      val streamed = spark.table(name).collect()
        .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("hour_s"),
          r.getAs[Long]("n_events"), r.getAs[Long]("trail_n"),
          r.getAs[Long]("trail_sum"), r.getAs[Long]("trail_sumsq"),
          r.getAs[Boolean]("is_anomaly"))).toSet
      assert(streamed == batch,
        s"[$label] stream diverges: ${(streamed diff batch).take(3)} / ${(batch diff streamed).take(3)}")
    }
  }

  test("anomalyStream recovers its trailing baseline across kill-and-restart") {
    implicit val sq = spark.sqlContext
    import StreamOps.HourlyBucket
    // the split is the test: the synthetic type's constant 24-bucket
    // baseline arrives BEFORE the kill, its spike and an equal bucket
    // AFTER the restart — the spike can only be flagged correctly if
    // the baseline state survives the checkpoint
    val synthBase = (1 to 24).map(h => HourlyBucket("synth", h.toLong, 10L))
    val synthTail = Seq(HourlyBucket("synth", 25L, 40L), HourlyBucket("synth", 26L, 10L))
    val corpus = graft.operators.Events.e9Anomaly(spark, sf)
      .select(col("event_type"), col("hour_s"), col("n_events"))
      .as[HourlyBucket].collect().sortBy(b => (b.hour_s, b.event_type)).toSeq
    val firstHalf = corpus ++ synthBase
    val secondHalf = synthTail
    val series = firstHalf ++ secondHalf

    val cp = java.nio.file.Files.createTempDirectory("e9-restart-cp").toString
    val outDir = java.nio.file.Files.createTempDirectory("e9-restart-out").toString
    val in = MemoryStream[HourlyBucket]
    def start() = StreamOps.anomalyStream(in.toDS())
      .writeStream.format("parquet").option("checkpointLocation", cp)
      .outputMode(OutputMode.Append()).start(outDir)

    val q1 = start()
    firstHalf.grouped(40).foreach { c => in.addData(c); q1.processAllAvailable() }
    q1.stop()
    in.addData(secondHalf)          // arrives while the query is down
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()

    def key(t: String, h: Long, n: Long, k: Long, s: Long, ss: Long, f: Boolean) =
      (t, h, n, k, s, ss, f)
    val streamed = spark.read.parquet(outDir).collect()
      .map(r => key(r.getAs[String]("event_type"), r.getAs[Long]("hour_s"),
        r.getAs[Long]("n_events"), r.getAs[Long]("trail_n"),
        r.getAs[Long]("trail_sum"), r.getAs[Long]("trail_sumsq"),
        r.getAs[Boolean]("is_anomaly"))).toSet
    val batch = graft.operators.Events.anomalyFlags(
      series.toDF().select(col("hour_s"), col("event_type"), col("n_events")))
      .collect()
      .map(r => key(r.getAs[String]("event_type"), r.getAs[Long]("hour_s"),
        r.getAs[Long]("n_events"), r.getAs[Long]("trail_n"),
        r.getAs[Long]("trail_sum"), r.getAs[Long]("trail_sumsq"),
        r.getAs[Boolean]("is_anomaly"))).toSet
    assert(streamed.size == series.size, "restart lost or duplicated buckets")
    assert(streamed == batch,
      s"restart corrupted the baseline: stream-only=${(streamed -- batch).take(3)}, " +
        s"batch-only=${(batch -- streamed).take(3)}")
    // the flag that PROVES recovery: the post-restart spike is flagged
    // against the pre-kill baseline
    assert(streamed.exists(r => r._1 == "synth" && r._2 == 25L && r._7),
      "post-restart spike not flagged — baseline state was lost")
  }

  test("anomalyStream drops duplicate redeliveries and late buckets (fail-safe baseline)") {
    implicit val sq = spark.sqlContext
    import StreamOps.HourlyBucket
    // in-order series, then: (a) an exact duplicate of an already-scored
    // hour, (b) a LATE bucket for an hour before the newest scored one —
    // both must be dropped (no output row, no baseline mutation), so the
    // subsequent probe scores against the same baseline as a clean replay
    val base = (1 to 24).map(h => HourlyBucket("dup", h.toLong, 10L))
    val in = MemoryStream[HourlyBucket]
    val q = StreamOps.anomalyStream(in.toDS())
      .writeStream.format("memory").queryName("anomaly_dup")
      .outputMode(OutputMode.Append()).start()
    in.addData(base); q.processAllAvailable()
    // duplicate of hour 24 with a WRONG count (a corrupt redelivery) and
    // a late hour-3 bucket with a huge count — silently appending either
    // to the deque would poison the baseline
    in.addData(Seq(HourlyBucket("dup", 24L, 999999L),
      HourlyBucket("dup", 3L, 888888L)))
    q.processAllAvailable()
    in.addData(Seq(HourlyBucket("dup", 25L, 10L))); q.processAllAvailable()
    q.stop()
    val rows = spark.table("anomaly_dup").collect()
      .map(r => (r.getAs[Long]("hour_s"), r.getAs[Long]("n_events"),
        r.getAs[Long]("trail_n"), r.getAs[Long]("trail_sum"),
        r.getAs[Boolean]("is_anomaly")))
    assert(rows.count(_._1 == 24L) == 1 && rows.count(_._1 == 3L) == 1,
      s"duplicate/late buckets re-scored: ${rows.filter(r => r._1 == 24L || r._1 == 3L).toSeq}")
    assert(rows.find(_._1 == 24L).get._2 == 10L, "corrupt redelivery replaced the original")
    // the probe's baseline is the clean 24×10 window — untouched by the
    // dropped buckets — and an equal-to-baseline bucket stays quiet
    val probe = rows.find(_._1 == 25L).get
    assert(probe._3 == 24L && probe._4 == 240L && !probe._5,
      s"baseline corrupted by dropped buckets: $probe")
  }

  test("batch-stream equivalence: hourlyAgg replayed over sf0.001 events equals e1 counts") {
    implicit val sq = spark.sqlContext
    val all = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .as[KeyedEvent].collect().sortBy(e => (e.ts.getTime, e.event_id)).toSeq
    val chunks = all.grouped((all.size + 2) / 3).toSeq
    val in = MemoryStream[KeyedEvent]
    val q = StreamOps.hourlyAgg(in.toDF(), "1 hour")
      .writeStream.format("memory").queryName("hourly_replay")
      .outputMode(OutputMode.Append()).start()
    chunks.foreach { c => in.addData(c); q.processAllAvailable() }
    // sentinel far past the horizon: advances the watermark so every
    // real window closes and emits; its own window stays open (absent)
    val sentinel = KeyedEvent(-1L, Long.MaxValue, "sentinel",
      new Timestamp(all.last.ts.getTime + 6L * 3600 * 1000))
    in.addData(sentinel)
    q.processAllAvailable()
    q.stop()
    // n_users is approx (HLL) on the stream and sum_value is batch-only,
    // so equivalence is on the exact columns: hour bucket + counts
    val streamed = spark.table("hourly_replay")
      .select("hour_s", "event_type", "n_events")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val batch = graft.operators.Events.e1HourlyAgg(spark, sf)
      .select("hour_s", "event_type", "n_events")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch,
      s"missing=${(batch diff streamed).take(3)} extra=${(streamed diff batch).take(3)}")
  }

  test("batch-stream equivalence: attributionStream replayed over sf0.001 equals e12") {
    implicit val sq = spark.sqlContext
    val all = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .as[KeyedEvent].collect().sortBy(e => (e.ts.getTime, e.event_id)).toSeq
    val chunks = all.grouped((all.size + 3) / 4).toSeq
    val in = MemoryStream[KeyedEvent]
    val q = StreamOps.attributionStream(in.toDF(), "1 hour")
      .writeStream.format("memory").queryName("attr_replay")
      .outputMode(OutputMode.Append()).start()
    chunks.foreach { c => in.addData(c); q.processAllAvailable() }
    // push both watermarks far past the horizon so all joined rows emit
    val sentinel = new Timestamp(all.last.ts.getTime + 24L * 3600 * 1000)
    in.addData(KeyedEvent(-1L, Long.MaxValue, "click", sentinel),
      KeyedEvent(-2L, Long.MaxValue, "purchase", sentinel))
    q.processAllAvailable()
    q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("click_id"), r.getAs[Long]("purchase_id"),
        r.getAs[Long]("user_id"), r.getAs[Long]("lag_s"))
    // the sentinels use distinct fake users so they can't join each
    // other; filter defensively anyway, then match the batch join
    val streamed = spark.table("attr_replay").collect().map(key)
      .filterNot(k => k._1 == Long.MaxValue || k._2 == Long.MaxValue).toSet
    val batch = graft.operators.Events.e12Attribution(spark, sf)
      .collect().map(key).toSet
    assert(streamed == batch,
      s"missing=${(batch diff streamed).take(3)} extra=${(streamed diff batch).take(3)}")
  }

  test("batch-stream equivalence: latestState replayed over sf0.001 events equals e5") {
    implicit val sq = spark.sqlContext
    val all = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .as[KeyedEvent].collect().sortBy(e => (e.ts.getTime, e.event_id)).toSeq
    val chunks = all.grouped((all.size + 2) / 3).toSeq
    val in = MemoryStream[KeyedEvent]
    val q = StreamOps.latestState(in.toDS())
      .writeStream.format("memory").queryName("latest_replay")
      .outputMode(OutputMode.Update()).start()
    chunks.foreach { c => in.addData(c); q.processAllAvailable() }
    q.stop()
    // state only moves forward, so the final state per user is the max
    // emitted (last_s, last_event_id) row
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
      .orderBy(col("last_s").desc, col("last_event_id").desc)
    val streamed = spark.table("latest_replay")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("user_id", "last_event_id", "last_event_type", "last_s")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    val batch = graft.operators.Events.e5LatestState(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    assert(streamed == batch, s"diff=${(streamed diff batch).take(3)} / ${(batch diff streamed).take(3)}")
  }

  test("enrich: stream-static dimension join broadcasts the dimension") {
    val events = graft.Tables.events(spark, sf)
    val dim = graft.Tables.customer(spark, sf)
      .select(col("c_custkey").as("user_id"), col("c_name"))
    val enriched = StreamOps.enrich(events, dim, "user_id")
    assert(enriched.columns.contains("c_name"))
    assert(planOf(enriched).contains("BroadcastHashJoin"))
    assert(enriched.count() == events.count()) // left join preserves stream rows
  }

  test("cdcCollapseStream replay over the events feed ≡ batch e15 collapse") {
    implicit val sq = spark.sqlContext
    import StreamOps.ChangeFeedRow
    val feedDf = graft.operators.Events.cdcFeed(spark, sf)
    val feed = feedDf.collect().map(r => ChangeFeedRow(
      r.getAs[Long]("key"), r.getAs[String]("op"), r.getAs[Long]("val_c"),
      r.getAs[Timestamp]("ts"), r.getAs[Long]("event_id")))
    val in = MemoryStream[ChangeFeedRow]
    val q = StreamOps.cdcCollapseStream(in.toDS())
      .writeStream.format("memory").queryName("cdc_collapse")
      .outputMode(OutputMode.Update()).start()
    // adversarial chunking: batch boundaries land inside keys' change runs
    feed.grouped(feed.length / 3 + 1).foreach { chunk =>
      in.addData(chunk.toIndexedSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    // Update-mode memory sink appends every update; the last row per key
    // is the current collapsed state
    val streamed = spark.table("cdc_collapse").collect()
      .map(r => (r.getAs[Long]("key"),
        (r.getAs[String]("last_op"), r.getAs[Long]("last_val_c"),
          r.getAs[Long]("n_changes"))))
      .groupBy(_._1).map { case (k, rows) => k -> rows.last._2 }
    val batch = graft.operators.Events.collapseFeed(feedDf).collect()
      .map(r => r.getAs[Long]("key") ->
        (r.getAs[String]("last_op"), r.getAs[Long]("last_val_c"),
          r.getAs[Long]("n_changes"))).toMap
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"stream/batch divergence: ${streamed.toSet -- batch.toSet} | ${batch.toSet -- streamed.toSet}")
  }

  test("imgDedupStream chunked replay ≡ batch incremental image pairs, codec at ingest") {
    implicit val sq = spark.sqlContext
    import graft.operators.{Multimodal, Warehouse}
    val hs = Multimodal.imgHash(
      graft.Tables.documents(spark, sf).select(col("doc_id")).as[Long])
    val mx = hs.agg(max(col("doc_id"))).first().getLong(0)
    val corpus = hs.filter(col("doc_id") * 10 < mx * 9)
    val batchIds = graft.Tables.documents(spark, sf)
      .filter(col("doc_id") * 10 >= mx * 9)
      .select(col("doc_id")).as[Long].collect()
    spark.sql("DROP TABLE IF EXISTS wh_img_stream")
    Warehouse.writeImgIndex(Multimodal.imgIndexKeys(corpus), "wh_img_stream", 4)

    val in = MemoryStream[Long]
    val q = StreamOps.imgDedupStream(in.toDS(), spark.table("wh_img_stream"))
      .writeStream.format("memory").queryName("img_dedup_stream")
      .outputMode(OutputMode.Append()).start()
    batchIds.grouped(batchIds.length / 3 + 1).foreach { chunk =>
      in.addData(chunk.toIndexedSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("img_dedup_stream").collect()
      .map(r => (r.getAs[Long]("new_doc"), r.getAs[Long]("corpus_doc"),
        r.getAs[Long]("hamming"))).toSet
    // batch reference: new-vs-CORPUS pairs only (the stream twin joins
    // the standing index, not the accumulating batch — within-batch
    // pairs are m8's union-index responsibility, not the ingest twin's)
    val batchHashes = hs.filter(col("doc_id") * 10 >= mx * 9)
      .select(col("doc_id"), col("ahash_hi"), col("ahash_lo"))
    val expected = Multimodal
      .imgProbeCandidates(Multimodal.imgIndexKeys(corpus), batchHashes)
      .collect()
      .map(r => (r.getAs[Long]("p_doc"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("hamming"))).toSet
    assert(expected.nonEmpty, "no cross pairs — fixture too small")
    assert(streamed == expected,
      s"stream/batch divergence: ${streamed -- expected} | ${expected -- streamed}")
    spark.sql("DROP TABLE IF EXISTS wh_img_stream")
  }

  test("alignFilterStream chunked replay ≡ batch m18, codec at ingest, " +
      "stateless") {
    implicit val sq = spark.sqlContext
    import graft.operators.Multimodal
    import spark.implicits._
    val txtFold = Multimodal.textFold(graft.Tables.embeddings(spark, sf))
    val ids = (0L until 60L).toSeq
    val in = MemoryStream[Long]
    val q = StreamOps.alignFilterStream(in.toDS(), txtFold)
      .writeStream.format("memory").queryName("align_stream")
      .outputMode(OutputMode.Append()).start()
    // stateless: each chunk's decisions land in that chunk's micro-batch
    ids.grouped(23).zipWithIndex.foreach { case (chunk, i) =>
      in.addData(chunk: _*)
      q.processAllAvailable()
      assert(spark.table("align_stream").count() >=
        (i * 23 + chunk.length).toLong)
    }
    q.stop()
    val got = spark.table("align_stream").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("align_e6"), r.getAs[Long]("keep"))).toMap
    val want = Multimodal.m18AlignmentFilter(spark, sf).collect()
      .filter(r => r.getAs[Long]("doc_id") < 60L)
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("align_e6"), r.getAs[Long]("keep"))).toMap
    assert(got == want, {
      val bad = want.keys.filter(k => got.get(k) != want.get(k)).take(3)
      s"stream/batch alignment divergence at " +
        s"${bad.map(k => (k, got.get(k), want(k))).mkString(", ")}"
    })
    // a real filter on the stream too: both outcomes occur
    assert(got.values.map(_._2).toSet == Set(0L, 1L))
  }

  test("concurrencyStream: chunked in-order replay + gap-breaking flush ≡ " +
      "batch e39; duplicate redelivery emits nothing") {
    implicit val sq = spark.sqlContext
    val ev = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .orderBy(col("ts"), col("event_id"))
      .as[KeyedEvent].collect()
    val in = MemoryStream[KeyedEvent]
    val q = StreamOps.concurrencyStream(in.toDS())
      .writeStream.format("memory").queryName("conc_stream")
      .outputMode(OutputMode.Append()).start()
    val chunks = ev.grouped(ev.length / 7 + 1).toSeq
    chunks.foreach { c => in.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
    // duplicate redelivery of the last chunk: every event is stale →
    // no session may close twice, nothing may emit
    val before = spark.table("conc_stream").count()
    in.addData(chunks.last.toIndexedSeq: _*); q.processAllAvailable()
    assert(spark.table("conc_stream").count() == before,
      "duplicate redelivery re-emitted closed-session spans")
    // flush: one gap-breaking sentinel per user closes every trailing
    // open session (the sentinel's own 1-event session stays open and
    // unemitted — it is not part of the original corpus)
    val flushTs = new Timestamp(ev.map(_.ts.getTime).max + 2L * 3600 * 1000)
    val users = ev.map(_.user_id).distinct.sorted
    in.addData(users.map(u =>
      KeyedEvent(u, Long.MaxValue - u, "flush", flushTs)).toIndexedSeq: _*)
    q.processAllAvailable()
    q.stop()
    val spans = spark.table("conc_stream")
    // emission key (user, session_start, boundary) is unique — the
    // exactly-once front of the additive census
    assert(spans.groupBy(col("user_id"), col("session_start_s"), col("hour_s"))
      .count().filter(col("count") > 1).isEmpty,
      "duplicate (user, session, boundary) emission")
    val streamed = spans
      .groupBy(col("hour_s"))
      .agg(count(lit(1)).as("n_active"), sum(col("entering")).as("n_entering"))
      .collect()
      .map(r => r.getAs[Long]("hour_s") ->
        (r.getAs[Long]("n_active"), r.getAs[Long]("n_entering"))).toMap
    val batch = graft.operators.Events.e39Concurrency(spark, sf).collect()
      .map(r => r.getAs[Long]("hour_s") ->
        (r.getAs[Long]("n_active"), r.getAs[Long]("n_entering"))).toMap
    assert(streamed == batch,
      s"stream/batch census divergence: " +
        s"${(streamed.toSet -- batch.toSet).take(3)} | " +
        s"${(batch.toSet -- streamed.toSet).take(3)}")
  }

  test("noveltyStream: chunked in-order ingest ≡ x45's novel_grams/cum_grams " +
      "columns; duplicate redelivery emits nothing") {
    implicit val sq = spark.sqlContext
    import graft.operators.{TextAnalysis, TextOps}
    val b = TextAnalysis.NoveltyBatches
    val cnt = graft.Tables.documents(spark, sf).count()
    // the stateless upstream: shingle each doc, stamp its ingestion batch
    val inc = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), TextOps.words(col("text")).as("ws"))
      .select(col("doc_id"),
        array_distinct(TextOps.shingles3(col("ws"))).as("sh"))
      .select(
        least(lit(b - 1L), TextOps.idiv(col("doc_id") * b, lit(cnt)))
          .as("batch"),
        explode(col("sh")).as("shingle"))
      .as[StreamOps.ShingleIncidence].collect()
    val in = MemoryStream[StreamOps.ShingleIncidence]
    val q = StreamOps.noveltyStream(in.toDS())
      .writeStream.format("memory").queryName("novelty_stream")
      .outputMode(OutputMode.Append()).start()
    (0L until b).foreach { i =>
      val chunk = inc.filter(_.batch == i)
      if (chunk.nonEmpty) { in.addData(chunk.toIndexedSeq: _*); q.processAllAvailable() }
    }
    // duplicate redelivery of the final chunk: every shingle already
    // seen → the built-in dedup state emits zero rows
    val before = spark.table("novelty_stream").count()
    in.addData(inc.filter(_.batch == b - 1L).toIndexedSeq: _*)
    q.processAllAvailable()
    assert(spark.table("novelty_stream").count() == before,
      "duplicate redelivery re-emitted already-seen shingles")
    q.stop()
    // each shingle emitted exactly once, stamped with its introducing batch
    val spans = spark.table("novelty_stream")
    assert(spans.groupBy(col("shingle")).count()
      .filter(col("count") > 1).isEmpty, "a shingle emitted twice")
    val streamed = spans.groupBy(col("batch"))
      .agg(count(lit(1)).as("novel")).collect()
      .map(r => r.getAs[Long]("batch") -> r.getAs[Long]("novel")).toMap
    val x45 = TextAnalysis.x45NoveltyCurve(spark, sf).collect()
      .map(r => (r.getAs[Long]("batch"), r.getAs[Long]("novel_grams"),
        r.getAs[Long]("cum_grams")))
    assert(streamed == x45.filter(_._2 > 0L).map(t => t._1 -> t._2).toMap,
      s"stream/batch novelty divergence: $streamed vs $x45")
    // the live Heaps curve: running totals of the stream match cum_grams
    val cum = x45.scanLeft(0L)((acc, t) => acc + streamed.getOrElse(t._1, 0L))
      .tail
    assert(cum.toSeq == x45.map(_._3).toSeq,
      "streamed running total diverged from the batch Heaps curve")
  }

  test("patternStream: chunked in-order replay ≡ batch e19; duplicate redelivery " +
      "cannot advance the automaton") {
    implicit val sq = spark.sqlContext
    val ev = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .orderBy(col("ts"), col("event_id"))
      .as[KeyedEvent].collect()
    val in = MemoryStream[KeyedEvent]
    val q = StreamOps.patternStream(in.toDS())
      .writeStream.format("memory").queryName("pattern_stream")
      .outputMode(OutputMode.Append()).start()
    val chunks = ev.grouped(ev.length / 7 + 1).toSeq
    chunks.foreach { c => in.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
    // duplicate redelivery of the last chunk: state must not move
    in.addData(chunks.last.toIndexedSeq: _*); q.processAllAvailable()
    q.stop()
    // newest update per user = max accumulator (acc is monotone)
    val streamed = spark.table("pattern_stream").collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_funnels"), r.getAs[Long]("open_stage")))
      .groupBy(_._1).view
      .mapValues(_.map(_._2).maxBy(p => p._1 * 3L + p._2)).toMap
    val batch = graft.operators.Events.e19Pattern(spark, sf).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_funnels"), r.getAs[Long]("open_stage"))).toMap
    assert(streamed == batch,
      s"stream/batch divergence: ${streamed.toSet -- batch.toSet} | ${batch.toSet -- streamed.toSet}")
  }

  test("cusumStream: chunked in-order replay ≡ batch e36 row for row; " +
      "duplicate redelivery cannot move the accumulator") {
    implicit val sq = spark.sqlContext
    import StreamOps.ValuedEvent
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_type"), col("event_id"), col("ts"), col("value"))
      .orderBy(col("ts"), col("event_id"))
      .as[ValuedEvent].collect()
    val in = MemoryStream[ValuedEvent]
    val q = StreamOps.cusumStream(in.toDS())
      .writeStream.format("memory").queryName("cusum_stream")
      .outputMode(OutputMode.Append()).start()
    val chunks = ev.grouped(ev.length / 7 + 1).toSeq
    chunks.foreach { c => in.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
    val before = spark.table("cusum_stream").count()
    // duplicate redelivery of the last chunk: nothing may emit or move
    in.addData(chunks.last.toIndexedSeq: _*); q.processAllAvailable()
    q.stop()
    assert(spark.table("cusum_stream").count() == before,
      "duplicate redelivery advanced the CUSUM accumulator")
    val streamed = spark.table("cusum_stream").collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("event_id")) ->
        (r.getAs[Long]("s_e6"), r.getAs[Long]("alarm"))).toMap
    // row-for-row: the streamed literal recurrence equals the batch
    // closed form at EVERY event, not just the final state
    val batch = graft.operators.Events.e36CusumDrift(spark, sf).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("event_id")) ->
        (r.getAs[Long]("s_e6"), r.getAs[Long]("alarm"))).toMap
    assert(streamed == batch,
      s"stream/batch divergence: ${(streamed.toSet -- batch.toSet).take(3)} " +
        s"| ${(batch.toSet -- streamed.toSet).take(3)}")
  }

  test("cusumRestartStream: Page's decision rule — the alarm fires once " +
      "and the statistic re-arms from 0; within every inter-alarm segment " +
      "the streamed values equal the batch closed form from segment start") {
    implicit val sq = spark.sqlContext
    import StreamOps.ValuedEvent
    def micros(t: java.sql.Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_type"), col("event_id"), col("ts"), col("value"))
      .orderBy(col("ts"), col("event_id"))
      .as[ValuedEvent].collect()
    val in = MemoryStream[ValuedEvent]
    val q = StreamOps.cusumRestartStream(in.toDS())
      .writeStream.format("memory").queryName("cusum_restart")
      .outputMode(OutputMode.Append()).start()
    ev.grouped(ev.length / 5 + 1)
      .foreach { c => in.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
    q.stop()
    val streamed = spark.table("cusum_restart").collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("event_id")) ->
        (r.getAs[Long]("s_e6"), r.getAs[Long]("alarm"))).toMap
    // ground truth: the literal restart recurrence replayed driver-side
    val k = graft.operators.Events.CusumSlackE6
    val h = graft.operators.Events.CusumAlarmE6
    def dOf(v: Double): Long = BigDecimal(v * 100)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong * 10000L - k
    val ordered = ev.groupBy(_.event_type).toSeq.map { case (tpe, es) =>
      tpe -> es.sortBy(e => (micros(e.ts), e.event_id)).toSeq
    }
    val want = ordered.flatMap { case (tpe, es) =>
      var s = 0L
      es.map { e =>
        s = math.max(0L, s + dOf(e.value))
        val alarm = s >= h
        val row = (tpe, e.event_id) -> (s, if (alarm) 1L else 0L)
        if (alarm) s = 0L
        row
      }
    }.toMap
    assert(streamed == want,
      s"restart recurrence diverged: ${(streamed.toSet -- want.toSet).take(3)}")
    // closed-form identity per segment: split each type's ordered rows
    // AFTER every alarm; within a segment S = P − min(0, running min P)
    // over the segment's own deltas — the batch windows restarted
    ordered.foreach { case (tpe, es) =>
      var seg = List.empty[ValuedEvent]
      def checkSeg(segEs: Seq[ValuedEvent]): Unit = {
        var p = 0L; var minP = 0L
        segEs.foreach { e =>
          p += dOf(e.value)
          minP = math.min(minP, p)
          val closed = p - math.min(0L, minP)
          assert(streamed((tpe, e.event_id))._1 == closed,
            s"segment closed form diverged at ($tpe, ${e.event_id})")
        }
      }
      es.foreach { e =>
        seg ::= e
        if (streamed((tpe, e.event_id))._2 == 1L) {
          checkSeg(seg.reverse); seg = Nil
        }
      }
      checkSeg(seg.reverse)
    }
    // the posture differs where it should: restart re-arms, so on the
    // gate corpus (whose e36 statistic latches above h for runs) the
    // restart alarm count is strictly smaller and at least one alarm
    // still fires
    val latched = graft.operators.Events.e36CusumDrift(spark, sf).collect()
      .count(_.getAs[Long]("alarm") == 1L)
    val restartAlarms = streamed.values.count(_._2 == 1L)
    assert(restartAlarms > 0, "restart posture never alarms on the gate corpus")
    assert(restartAlarms < latched,
      s"restart did not de-latch: $restartAlarms vs latched $latched")
  }

  test("ewmaStream: chunked in-order replay ≡ batch e37 row for row; " +
      "duplicate redelivery cannot move the window") {
    implicit val sq = spark.sqlContext
    import StreamOps.ValuedEvent
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_type"), col("event_id"), col("ts"), col("value"))
      .orderBy(col("ts"), col("event_id"))
      .as[ValuedEvent].collect()
    val in = MemoryStream[ValuedEvent]
    val q = StreamOps.ewmaStream(in.toDS())
      .writeStream.format("memory").queryName("ewma_stream")
      .outputMode(OutputMode.Append()).start()
    val chunks = ev.grouped(ev.length / 7 + 1).toSeq
    chunks.foreach { c => in.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
    val before = spark.table("ewma_stream").count()
    in.addData(chunks.last.toIndexedSeq: _*); q.processAllAvailable()
    q.stop()
    assert(spark.table("ewma_stream").count() == before,
      "duplicate redelivery advanced the EWMA window")
    val streamed = spark.table("ewma_stream").collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("event_id")) ->
        (r.getAs[Long]("ewma_q16"), r.getAs[Long]("hot"))).toMap
    val batch = graft.operators.Events.e37EwmaSmooth(spark, sf).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("event_id")) ->
        (r.getAs[Long]("ewma_q16"), r.getAs[Long]("hot"))).toMap
    assert(streamed == batch,
      s"stream/batch divergence: ${(streamed.toSet -- batch.toSet).take(3)} " +
        s"| ${(batch.toSet -- streamed.toSet).take(3)}")
  }

  test("seasonalResidStream: chunked in-order replay's latest row per " +
      "(type, hour) ≡ batch e38; duplicate redelivery cannot double-" +
      "count a bucket") {
    implicit val sq = spark.sqlContext
    import StreamOps.{SeasonalRow, ValuedEvent}
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_type"), col("event_id"), col("ts"), col("value"))
      .orderBy(col("ts"), col("event_id"))
      .as[ValuedEvent].collect()
    val in = MemoryStream[ValuedEvent]
    val q = StreamOps.seasonalResidStream(in.toDS())
      .writeStream.format("memory").queryName("seasonal_stream")
      .outputMode(OutputMode.Append()).start()
    val chunks = ev.grouped(ev.length / 7 + 1).toSeq
    chunks.foreach { c => in.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
    val before = spark.table("seasonal_stream").count()
    in.addData(chunks.last.toIndexedSeq: _*); q.processAllAvailable()
    q.stop()
    assert(spark.table("seasonal_stream").count() == before,
      "duplicate redelivery double-counted a seasonal bucket")
    // latest emission per (type, hour) = highest n_seen (the monotone
    // ordering counter; the row set per hour is not otherwise ordered)
    val streamed = spark.table("seasonal_stream").as[SeasonalRow].collect()
      .groupBy(r => (r.event_type, r.hour_s))
      .map { case (k, rs) =>
        val last = rs.maxBy(_.n_seen)
        k -> (last.sum_c, last.base_c, last.resid_c, last.shifted)
      }
    val batch = graft.operators.Events.e38SeasonalResid(spark, sf).collect()
      .map { r =>
        def optL(i: Int) = Option(r.get(i)).map(_.asInstanceOf[Long])
        (r.getString(1), r.getLong(0)) ->
          (r.getLong(2), optL(3), optL(4), r.getLong(5))
      }.toMap
    assert(streamed == batch,
      s"stream/batch divergence: ${(streamed.toSet -- batch.toSet).take(3)} " +
        s"| ${(batch.toSet -- streamed.toSet).take(3)}")
    assert(streamed.values.exists(_._4 == 1L),
      "no shifted hour on the gate corpus — the flag path never ran")
  }

  test("sourceDupStream: chunked in-order replay's latest cell counts " +
      "≡ batch d24; duplicate redelivery cannot double-count a cell") {
    implicit val sq = spark.sqlContext
    import StreamOps.{CellCount, SourcedPair}
    val srcOf = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = graft.operators.Dedup.d21EditVerify(spark, sf).collect()
      .filter(_.getAs[Boolean]("verified"))
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")))
      .sortBy { case (a, b) => (b, a) } // the arrival convention
      .map { case (a, b) => SourcedPair(a, b, srcOf(a), srcOf(b)) }
    assert(pairs.nonEmpty, "no verified pairs to stream")
    val in = MemoryStream[SourcedPair]
    val q = StreamOps.sourceDupStream(in.toDS())
      .writeStream.format("memory").queryName("sourcedup_stream")
      .outputMode(OutputMode.Append()).start()
    val chunks = pairs.grouped(pairs.length / 4 + 1).toSeq
    chunks.foreach { c => in.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
    def latest(): Map[(String, String), Long] =
      spark.table("sourcedup_stream").as[CellCount].collect()
        .groupBy(r => (r.src_a, r.src_b))
        .map { case (k, rs) => k -> rs.map(_.n_pairs).max }
    val afterReplay = latest()
    val rowsBefore = spark.table("sourcedup_stream").count()
    in.addData(chunks.last.toIndexedSeq: _*); q.processAllAvailable()
    val afterDup = latest()
    val rowsAfter = spark.table("sourcedup_stream").count()
    q.stop()
    assert(afterDup == afterReplay, "redelivery double-counted a cell")
    // no-op emission suppression (ADVICE r16): a batch of pure
    // redeliveries advances no cell count, so it must append ZERO rows
    assert(rowsAfter == rowsBefore,
      s"pure-redelivery batch appended rows: $rowsBefore -> $rowsAfter")
    val batch = graft.operators.Dedup.d24CrossSourceDups(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n_pairs"))
      .toMap
    assert(afterReplay == batch,
      s"stream/batch matrix divergence: stream=$afterReplay batch=$batch")
  }

  test("cusumStream scores same-millisecond siblings in micros order and " +
      "drops neither") {
    implicit val sq = spark.sqlContext
    import StreamOps.ValuedEvent
    def tsMicros(ms: Long, us: Int): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(ms)
      t.setNanos(us * 1000)
      t
    }
    // two events inside one millisecond: micros order (.400 then .600)
    // is the REVERSE of event_id order — a millis-grained guard would
    // either reorder them or drop the second as stale
    val a = ValuedEvent("t", 7L, tsMicros(1000L, 400), 100.0)
    val b = ValuedEvent("t", 3L, tsMicros(1000L, 600), 200.0)
    val in = MemoryStream[ValuedEvent]
    val q = StreamOps.cusumStream(in.toDS())
      .writeStream.format("memory").queryName("cusum_micros")
      .outputMode(OutputMode.Append()).start()
    in.addData(a, b); q.processAllAvailable()
    q.stop()
    val rows = spark.table("cusum_micros").collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("s_e6")).toMap
    val k = graft.operators.Events.CusumSlackE6
    val sA = math.max(0L, 100000000L - k)
    val sB = math.max(0L, sA + 200000000L - k)
    assert(rows == Map(7L -> sA, 3L -> sB),
      s"micros ordering broken: $rows (want 7->$sA then 3->$sB)")
  }

  test("patternStream and permuteStream fold same-millisecond siblings in " +
      "micros order across micro-batches, equal to batch e19/e28") {
    implicit val sq = spark.sqlContext
    def at(ms: Long, us: Int): Timestamp = {
      val t = new Timestamp(ms); t.setNanos(us * 1000); t
    }
    // the second event of each user shares a millisecond with the first
    // event of the next micro-batch; their micros order (.400 then
    // .600) is the REVERSE of their event_id order, and the fold
    // depends on it: funnel user 1 completes only with the view before
    // the purchase; permute user 2's repeated click must restart the
    // attempt after the view, not be dropped as stale
    val first = Seq(
      KeyedEvent(1L, 1L, "click", at(1000000L, 0)),
      KeyedEvent(1L, 9L, "view", at(1001000L, 400)),
      KeyedEvent(2L, 11L, "click", at(1000000L, 0)),
      KeyedEvent(2L, 19L, "view", at(1001000L, 400)))
    val second = Seq(
      KeyedEvent(1L, 5L, "purchase", at(1001000L, 600)),
      KeyedEvent(2L, 15L, "click", at(1001000L, 600)),
      KeyedEvent(2L, 20L, "purchase", at(1002000L, 0)))
    val rows = (first ++ second).toDF()
    def run[T](name: String, twin: org.apache.spark.sql.Dataset[KeyedEvent] =>
        org.apache.spark.sql.Dataset[T]): Unit = {
      val in = MemoryStream[KeyedEvent]
      val q = twin(in.toDS()).writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      in.addData(first: _*); q.processAllAvailable()
      in.addData(second: _*); q.processAllAvailable()
      q.stop()
    }
    run("pattern_same_ms", StreamOps.patternStream)
    val pattern = spark.table("pattern_same_ms").collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_funnels"), r.getAs[Long]("open_stage")))
      .groupBy(_._1).view
      .mapValues(_.map(_._2).maxBy(p => p._1 * 3L + p._2)).toMap
    val e19 = graft.operators.Events.patternCount(rows,
        graft.operators.Events.Funnel).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_funnels"), r.getAs[Long]("open_stage"))).toMap
    assert(e19(1L) == ((1L, 0L)), s"fixture: batch e19 completes user 1: $e19")
    assert(pattern == e19, s"patternStream diverged from batch e19: $pattern")
    run("permute_same_ms", StreamOps.permuteStream)
    val permute = spark.table("permute_same_ms").collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_seen"), r.getAs[Long]("n_complete"),
          r.getAs[Long]("open_mask")))
      .groupBy(_._1).view
      .mapValues(v => { val m = v.map(_._2).maxBy(_._1); (m._2, m._3) }).toMap
    val e28 = graft.operators.Events.patternCountPermute(rows,
        Seq("click", "view", "purchase")).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_complete"), r.getAs[Long]("open_mask"))).toMap
    assert(e28(2L) == ((0L, 5L)), s"fixture: batch e28 restarts user 2: $e28")
    assert(permute == e28, s"permuteStream diverged from batch e28: $permute")
  }

  test("kmvStream: chunked replay converges to the batch kmv_sketch per " +
      "source; duplicate redelivery cannot move the sketch (no guard " +
      "needed — k-min is duplicate-insensitive by construction)") {
    implicit val sq = spark.sqlContext
    import StreamOps.{KmvSnapshot, SourcedHash}
    val k = 32
    val hashes = graft.Tables.documents(spark, sf)
      .select(col("source"),
        explode(graft.operators.TextOps.shingles3(
          graft.operators.TextOps.words(col("text")))).as("g"))
      .select(col("source"), md5(col("g")).as("h"))
      .as[SourcedHash].collect()
    val in = MemoryStream[SourcedHash]
    val q = StreamOps.kmvStream(in.toDS(), k)
      .writeStream.format("memory").queryName("kmv_stream")
      .outputMode(OutputMode.Append()).start()
    val chunks = hashes.grouped(hashes.length / 5 + 1).toSeq
    chunks.foreach { c => in.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
    def latest(): Map[String, Seq[String]] =
      spark.table("kmv_stream").as[KmvSnapshot].collect()
        .groupBy(_.source)
        .map { case (s, rs) => s -> rs.maxBy(_.n_seen).sketch }
    val afterReplay = latest()
    // duplicate redelivery: the set cannot move
    in.addData(chunks.head.toIndexedSeq: _*); q.processAllAvailable()
    val afterDup = latest()
    q.stop()
    assert(afterDup == afterReplay,
      "duplicate redelivery moved a KMV sketch")
    val batch = graft.Tables.documents(spark, sf)
      .select(col("source"),
        explode(graft.operators.TextOps.shingles3(
          graft.operators.TextOps.words(col("text")))).as("g"))
      .select(col("source"), md5(col("g")).as("h"))
      .groupBy(col("source"))
      .agg(graft.functions.GraftFunctions.kmv_sketch(col("h"), k).as("sk"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toSeq).toMap
    assert(afterReplay == batch,
      s"stream/batch sketch divergence: ${
        afterReplay.keySet.find(s => afterReplay(s) != batch(s))}")
    // the OVERLAP twin: the shared pair-estimation stage over the
    // stream's latest snapshots ≡ batch x43's full kmvOverlap — the
    // x43 ingest-twin contract, closed end to end
    import spark.implicits._
    val snapDf = afterReplay.toSeq.toDF("source", "sk")
    def overlapRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b")) ->
        (r.getAs[Long]("ku"), r.getAs[Long]("shared"),
          r.getAs[Long]("jaccard_e6"), r.getAs[Long]("union_est"),
          r.getAs[Long]("inter_est"))).toMap
    val streamedOverlap = overlapRows(
      graft.operators.TextAnalysis.kmvOverlapFromSketches(snapDf, k))
    val batchOverlap = overlapRows(graft.operators.TextAnalysis.kmvOverlap(
      graft.Tables.documents(spark, sf), k))
    assert(streamedOverlap.nonEmpty, "no source pairs to compare")
    assert(streamedOverlap == batchOverlap,
      "overlap from stream snapshots diverged from batch x43")
  }

  test("permuteStream: chunked in-order replay ≡ batch e28; duplicate " +
      "redelivery cannot move the mask") {
    implicit val sq = spark.sqlContext
    val ev = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .orderBy(col("ts"), col("event_id"))
      .as[KeyedEvent].collect()
    val in = MemoryStream[KeyedEvent]
    val q = StreamOps.permuteStream(in.toDS())
      .writeStream.format("memory").queryName("permute_stream")
      .outputMode(OutputMode.Append()).start()
    val chunks = ev.grouped(ev.length / 7 + 1).toSeq
    chunks.foreach { c => in.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
    // duplicate redelivery of the last chunk: state must not move
    in.addData(chunks.last.toIndexedSeq: _*); q.processAllAvailable()
    q.stop()
    // newest update per user = the row with the highest n_seen (the
    // mask is not monotone; the folded-event count is)
    val streamed = spark.table("permute_stream").collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_seen"), r.getAs[Long]("n_complete"),
          r.getAs[Long]("open_mask")))
      .groupBy(_._1).view
      .mapValues(v => { val m = v.map(_._2).maxBy(_._1); (m._2, m._3) }).toMap
    val batch = graft.operators.Events.e28PatternPermute(spark, sf).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_complete"), r.getAs[Long]("open_mask"))).toMap
    assert(streamed == batch,
      s"stream/batch divergence: ${streamed.toSet -- batch.toSet} | ${batch.toSet -- streamed.toSet}")
  }

  test("repeatWithinStream: chunked in-order replay ≡ batch e30 (counted " +
      "repeat under deadline); duplicate redelivery cannot move the state; " +
      "expiry fires across chunk boundaries on event time") {
    implicit val sq = spark.sqlContext
    val ev = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .orderBy(col("ts"), col("event_id"))
      .as[KeyedEvent].collect()
    val in = MemoryStream[KeyedEvent]
    val q = StreamOps.repeatWithinStream(in.toDS(), minB = 2,
      windowMicros = graft.operators.Events.PatternWithinMicros)
      .writeStream.format("memory").queryName("rw_stream")
      .outputMode(OutputMode.Append()).start()
    val chunks = ev.grouped(ev.length / 7 + 1).toSeq
    chunks.foreach { c => in.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
    // duplicate redelivery of the last chunk: state must not move
    in.addData(chunks.last.toIndexedSeq: _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("rw_stream").collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_seen"), (r.getAs[Long]("n_complete"),
          r.getAs[Long]("sum_b"), r.getAs[Long]("n_expired"),
          r.getAs[Long]("open_state"), r.getAs[Long]("open_b"))))
      .groupBy(_._1).view
      .mapValues(v => v.map(_._2).maxBy(_._1)._2).toMap
    val batch = graft.operators.Events.e30PatternRepeatWithin(spark, sf)
      .collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_complete"), r.getAs[Long]("sum_b"),
          r.getAs[Long]("n_expired"), r.getAs[Long]("open_state"),
          r.getAs[Long]("open_b"))).toMap
    assert(batch.values.exists(_._3 > 0L),
      "fixture degenerate: no expiry in the corpus — window check idle")
    assert(streamed == batch,
      s"stream/batch divergence: ${streamed.toSet -- batch.toSet} | ${batch.toSet -- streamed.toSet}")
    // constructed straddle: the attempt opens in one micro-batch and the
    // breaching event arrives chunks later — expiry must fire on EVENT
    // time carried in state, and the breaching A opens a fresh attempt
    import java.sql.Timestamp
    val w = 1000000L // 1 s window
    def t(s: Int) = new Timestamp(1700000000000L + s * 1000L)
    val in2 = MemoryStream[KeyedEvent]
    val q2 = StreamOps.repeatWithinStream(in2.toDS(), minB = 1,
      windowMicros = w)
      .writeStream.format("memory").queryName("rw_straddle")
      .outputMode(OutputMode.Append()).start()
    in2.addData(KeyedEvent(9L, 1L, "click", t(0)),
      KeyedEvent(9L, 2L, "view", t(1)))
    q2.processAllAvailable()
    // 10 s later (far past the 1 s window): A then B then C — the old
    // attempt expires, the new one completes
    in2.addData(KeyedEvent(9L, 3L, "click", t(10)),
      KeyedEvent(9L, 4L, "view", t(10)), KeyedEvent(9L, 5L, "purchase", t(11)))
    q2.processAllAvailable(); q2.stop()
    val fin = spark.table("rw_straddle").collect()
      .map(r => (r.getAs[Long]("n_seen"), (r.getAs[Long]("n_complete"),
        r.getAs[Long]("n_expired"), r.getAs[Long]("open_state"))))
      .maxBy(_._1)._2
    assert(fin == ((1L, 1L, 0L)),
      s"straddled expiry wrong (want 1 completion, 1 expiry, idle): $fin")
  }

  test("semDedupStream ≡ batch d12's within-cluster pairs restricted to " +
      "new×corpus on bounded replay") {
    implicit val sq = spark.sqlContext
    import StreamOpsSpec.Vec
    import graft.operators.Similarity
    val e = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val eN = Similarity.withNorm(e)
    val cents = Similarity.collectCodebook(eN)
    val split = 400L
    val corpus = Similarity.assignClusters(
      Similarity.withNorm(e.filter(col("vec_id") < split)), cents)
      .select(col("vec_id"), col("embedding"), col("norm_fp"), col("cluster"))
    val newVecs = e.filter(col("vec_id") >= split).collect()
      .map(r => Vec(r.getLong(0), r.getSeq[Float](1)))
    val in = MemoryStream[Vec]
    val q = StreamOps.semDedupStream(in.toDF(), corpus, cents)
      .writeStream.format("memory").queryName("sem_stream")
      .outputMode(OutputMode.Append()).start()
    newVecs.grouped(40).foreach { c =>
      in.addData(c.toIndexedSeq: _*); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("sem_stream").collect()
      .map(r => (r.getAs[Long]("corpus_vec"), r.getAs[Long]("new_vec")) ->
        r.getAs[Long]("cos_e6")).toMap
    // batch reference: d12's pair stage over the full assigned corpus,
    // restricted to pairs with exactly one side in the standing corpus
    val all = Similarity.assignClusters(eN, cents)
      .select(col("vec_id"), col("embedding"), col("norm_fp"), col("cluster"))
    val expected = Similarity.withinClusterPairs(all).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")))
      .filter { case (a, b) => (a < split) != (b < split) }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    assert(expected.nonEmpty, "no cross pairs — fixture degenerate")
    assert(streamed.keySet == expected,
      s"stream/batch divergence: ${streamed.keySet -- expected} | ${expected -- streamed.keySet}")
  }

  test("semDedupIngest: chunked replay + periodic compaction converges to " +
      "batch d12's resolution; store holds bounded versions") {
    implicit val sq = spark.sqlContext
    import StreamOpsSpec.Vec
    import graft.operators.Similarity
    val e = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val eN = Similarity.withNorm(e)
    val cents = Similarity.collectCodebook(eN)
    val vecs = e.collect().map(r => Vec(r.getLong(0), r.getSeq[Float](1)))
    val store = java.nio.file.Files.createTempDirectory("semdedup-store").toString
    val in = MemoryStream[Vec]
    val q = StreamOps.semDedupIngest(in.toDF(), store, cents,
      compactEvery = 3).start()
    // 10 chunks of 50 → batches 0..9; compactions after batches 2, 5, 8
    vecs.grouped(50).foreach { c =>
      in.addData(c.toIndexedSeq: _*); q.processAllAvailable()
    }
    // mid-replay state: a compaction has already happened
    assert(StreamOps.semDedupResolution(spark, store).isDefined,
      "no compaction fired during replay")
    q.processAllAvailable(); q.stop()
    // the corpus (latest version ∪ tail admissions) covers everything
    val corpus = StreamOps.semDedupCorpus(spark, store)
    assert(corpus.count() == vecs.length.toLong, "corpus lost admissions")
    // one final compaction closes the arc: resolve the current corpus
    // the same way the stream's cycle does and compare to batch d12
    val finalResolved = Similarity.resolveSemClusters(
      corpus.localCheckpoint()).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("cluster"), r.getAs[Long]("rep"),
          r.getAs[Long]("keep"))).toMap
    val batch = Similarity.d12SemDedup(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("cluster"), r.getAs[Long]("rep"),
          r.getAs[Long]("keep"))).toMap
    assert(finalResolved == batch,
      s"compacted resolution diverges from batch d12: " +
        s"${finalResolved.toSet -- batch.toSet} | ${batch.toSet -- finalResolved.toSet}")
    // version pruning: steady state keeps at most 2 version dirs and
    // the folded-in admitted log is gone after each compaction
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = fs.listStatus(new org.apache.hadoop.fs.Path(store))
      .map(_.getPath.getName).filter(_.startsWith("v"))
    assert(versions.length <= 2, s"unpruned versions: ${versions.toSeq}")
    // the newest STORED resolution equals re-resolving its own version
    // corpus (the stream's resolution is the batch core, not a twin)
    val stored = StreamOps.semDedupResolution(spark, store).get.collect()
      .map(_.toString).sorted
    val latestCorpus = spark.read.parquet(
      s"$store/v${versions.map(_.drop(1).toLong).max}/corpus")
    val recomputed = Similarity.resolveSemClusters(
      latestCorpus.localCheckpoint()).collect().map(_.toString).sorted
    assert(stored.sameElements(recomputed),
      "stored resolution != resolution of its own corpus version")
  }

  test("textDedupIngest: every batch absorbs into an exact successor " +
      "resolution — chunked replay equals batch d6 at every version; " +
      "redelivery idempotent incl. the crashed-after-sig-append path") {
    implicit val sq = spark.sqlContext
    import StreamOpsSpec.Doc
    import graft.operators.Dedup
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
    val arriving = docs.collect()
      .map(r => Doc(r.getLong(0), r.getString(1), new java.sql.Timestamp(0L)))
      .sortBy(_.doc_id)
    val store = java.nio.file.Files.createTempDirectory("textdedup-store").toString
    val in = MemoryStream[Doc]
    val q = StreamOps.textDedupIngest(
      in.toDF().select(col("doc_id"), col("text")), store).start()
    arriving.grouped(100).foreach { c =>
      in.addData(c.toIndexedSeq: _*); q.processAllAvailable()
    }
    q.stop()
    def resSet() = StreamOps.textClusters(spark, store).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_rep"),
        r.getAs[Long]("is_canonical"))).toSet
    val streamed = resSet()
    val batch = Dedup.d6DupClusters(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_rep"),
        r.getAs[Long]("is_canonical"))).toSet
    assert(streamed == batch,
      s"stream/batch divergence: ${(streamed -- batch).take(5)} | " +
        s"${(batch -- streamed).take(5)}")
    assert(streamed.exists(_._3 == 0L), "degenerate: no duplicate resolved")
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = fs.listStatus(new org.apache.hadoop.fs.Path(store))
      .map(_.getPath.getName).filter(_.startsWith("v"))
    assert(versions.length <= 2, s"unpruned versions: ${versions.toSeq}")
    val lastId = versions.map(_.drop(1).toLong).max
    import spark.implicits._
    val lastChunk = spark.createDataset(
      arriving.grouped(100).toSeq.last).toDF().select("doc_id", "text")
    // redelivery 1: the complete version is trusted
    StreamOps.textDedupAbsorb(lastChunk, store, lastId)
    assert(resSet() == batch, "complete-version redelivery changed the resolution")
    // redelivery 2: crashed AFTER the sig append, BEFORE the version
    // rename — the retry must exclude its own re-appended rows and
    // rebuild identically
    fs.delete(new org.apache.hadoop.fs.Path(s"$store/v$lastId"), true)
    Dedup.simhashSigs(lastChunk) // the crashed attempt's leftover append
      .write.mode("append").parquet(s"$store/sigs")
    StreamOps.textDedupAbsorb(lastChunk, store, lastId)
    assert(resSet() == batch, "crashed-attempt redelivery diverged")
  }

  test("absorbIntoStore property: random chunked graphs under random " +
      "compactEvery — the store view equals the full re-resolve after " +
      "EVERY batch, across base/delta interleavings") {
    import spark.implicits._
    import graft.operators.Components
    val rnd = new scala.util.Random(23)
    (1 to 3).foreach { trial =>
      val n = 30 + rnd.nextInt(30)
      val nBatches = 4
      val ids = rnd.shuffle((0L until n.toLong).toList)
      val chunkOf = ids.zipWithIndex.map { case (id, i) => id -> i % nBatches }.toMap
      val edges = (0 until n * 2).map { _ =>
        (ids(rnd.nextInt(n)), ids(rnd.nextInt(n)))
      }.filter { case (a, b) => a != b }
      def arrives(e: (Long, Long)) = math.max(chunkOf(e._1), chunkOf(e._2))
      val store = java.nio.file.Files
        .createTempDirectory(s"absorb-store-$trial").toString
      val ce = 1 + rnd.nextInt(3)
      var seenNodes = List.empty[Long]
      var seenEdges = List.empty[(Long, Long)]
      (0 until nBatches).foreach { c =>
        val bn = ids.filter(chunkOf(_) == c)
        val be = edges.filter(arrives(_) == c)
        StreamOps.absorbIntoStore(spark, store, c.toLong, ce)(
          (bn.toDF("id"),
            (be :+ ((-1L, -1L))).toDF("a", "b").filter(col("a") >= 0L)))
        seenNodes ++= bn; seenEdges ++= be
        val got = StreamOps.resolutionView(spark, store).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val want = Components.connectedComponents(
          seenNodes.toDF("id"),
          (seenEdges :+ ((-1L, -1L))).toDF("a", "b").filter(col("a") >= 0L))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == want,
          s"trial=$trial compactEvery=$ce batch=$c: view diverged")
      }
    }
  }

  test("textDedupIngest delta mode (compactEvery=4): delta logs are " +
      "delta-sized, the view equals batch d6 at the end, and both " +
      "redelivery paths (delta batch, compact batch) are idempotent") {
    implicit val sq = spark.sqlContext
    import StreamOpsSpec.Doc
    import graft.operators.Dedup
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
    val arriving = docs.collect()
      .map(r => Doc(r.getLong(0), r.getString(1), new java.sql.Timestamp(0L)))
      .sortBy(_.doc_id)
    val store = java.nio.file.Files.createTempDirectory("textdedup-delta").toString
    val in = MemoryStream[Doc]
    val q = StreamOps.textDedupIngest(
      in.toDF().select(col("doc_id"), col("text")), store,
      compactEvery = 4).start()
    val chunks = arriving.grouped(50).toSeq // 10 batches: compact at 3, 7
    chunks.foreach { c => in.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
    q.stop()
    def resSet() = StreamOps.textClusters(spark, store).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_rep"),
        r.getAs[Long]("is_canonical"))).toSet
    val batch = Dedup.d6DupClusters(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_rep"),
        r.getAs[Long]("is_canonical"))).toSet
    assert(resSet() == batch, "delta-mode view diverged from batch d6")
    // store shape: the newest base is v7; d8, d9 live after it, each
    // delta-sized (well under the corpus), older bases/deltas pruned
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(store))
      .map(_.getPath.getName).filter(n => n.startsWith("v") || n.startsWith("d"))
      .toSet
    assert(names("v7") && names("d8") && names("d9"), names.toString)
    // deltas a FULL cycle stale (folded into v3, then another
    // compaction passed) are pruned; the just-folded d4–d6 get one
    // compaction cycle of reader grace (no live view reads them —
    // resolutionView only folds deltas AFTER the newest base); v3
    // survives as the newest-but-one crash base
    assert(!names("d0") && !names("d1") && !names("d2"),
      s"full-cycle-stale deltas not pruned: $names")
    assert(names("d4") && names("d5") && names("d6"),
      s"reader-grace window violated (just-folded deltas deleted): $names")
    assert(names.count(_.startsWith("v")) <= 2,
      s"more than two bases survive: $names")
    Seq("d8", "d9").foreach { d =>
      val n = spark.read.parquet(s"$store/$d/resolved").count()
      assert(n <= 120, s"$d holds $n rows — not delta-sized")
    }
    // redelivery, delta batch: complete d9 trusted; crashed attempt
    // (d9 deleted, its sigs already appended) rebuilds identically
    import spark.implicits._
    val lastChunk = spark.createDataset(chunks.last).toDF()
      .select("doc_id", "text")
    StreamOps.textDedupAbsorb(lastChunk, store, 9L, compactEvery = 4)
    assert(resSet() == batch, "complete-delta redelivery changed the view")
    fs.delete(new org.apache.hadoop.fs.Path(s"$store/d9"), true)
    StreamOps.textDedupAbsorb(lastChunk, store, 9L, compactEvery = 4)
    assert(resSet() == batch, "crashed-delta redelivery diverged")
    // redelivery, compact batch: v7 complete is trusted (never rebuilt)
    val chunk8 = spark.createDataset(chunks(7)).toDF().select("doc_id", "text")
    StreamOps.textDedupAbsorb(chunk8, store, 7L, compactEvery = 4)
    assert(resSet() == batch, "complete-base redelivery changed the view")
  }

  test("imgDedupIngest: chunked replay equals the batch image closure; " +
      "crossModalManifest over the two maintained stores equals m17") {
    implicit val sq = spark.sqlContext
    import graft.operators.{Dedup, Multimodal}
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    // image store: replay ids in chunks
    val imgStore = java.nio.file.Files.createTempDirectory("imgdedup-store").toString
    val inImg = MemoryStream[Long]
    val qi = StreamOps.imgDedupIngest(inImg.toDS(), imgStore).start()
    ids.grouped(100).foreach { c =>
      inImg.addData(c.toIndexedSeq: _*); qi.processAllAvailable()
    }
    qi.stop()
    val streamed = StreamOps.imgClusters(spark, imgStore).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = Multimodal.m14ImgManifest(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_rep")).toMap
    assert(streamed == batch, "image closure diverged from batch m14's")
    // text store: replay the documents
    import StreamOpsSpec.Doc
    import spark.implicits._
    val arriving = docs.collect()
      .map(r => Doc(r.getLong(0), r.getString(1), new java.sql.Timestamp(0L)))
      .sortBy(_.doc_id)
    val txtStore = java.nio.file.Files.createTempDirectory("txtdedup-store").toString
    val inTxt = MemoryStream[Doc]
    val qt = StreamOps.textDedupIngest(
      inTxt.toDF().select(col("doc_id"), col("text")), txtStore).start()
    arriving.grouped(100).foreach { c =>
      inTxt.addData(c.toIndexedSeq: _*); qt.processAllAvailable()
    }
    qt.stop()
    // the composed manifest over both maintained stores == batch m17
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_id"), r.getAs[Long]("text_cluster"),
        r.getAs[Long]("img_cluster"), r.getAs[Long]("n_joint"),
        r.getAs[Long]("canonical_id"), r.getAs[Long]("keep"))
    val composed = StreamOps.crossModalManifest(spark, txtStore, imgStore)
      .collect().map(key).toSet
    val m17 = Multimodal.m17CrossModalManifest(spark, sf)
      .collect().map(key).toSet
    assert(composed == m17,
      s"composed manifest diverged: ${(composed -- m17).take(5)} | " +
        s"${(m17 -- composed).take(5)}")
  }

  test("crossModal keep-one under store LAG: a doc present in only one " +
      "modality's closure stays in the manifest as its own singleton " +
      "group (keep=1, missing cluster null) — never convicted, never " +
      "dropped") {
    import spark.implicits._
    // text store caught up through doc 5; image store lags (1..3 only),
    // and doc 6 reached ONLY the image store. Text clusters: {1,2} dup,
    // {3,4,5} singletons. Image clusters: {1,2} dup, {3} singleton.
    val txt = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 4L), (5L, 5L))
      .toDF("doc_id", "text_cluster")
    val img = Seq((1L, 1L), (2L, 1L), (3L, 3L), (6L, 6L))
      .toDF("doc_id", "img_cluster")
    val got = graft.operators.Multimodal.jointKeepOne(txt, img).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((Option(r.getAs[java.lang.Long]("text_cluster")).map(_.toLong),
          Option(r.getAs[java.lang.Long]("img_cluster")).map(_.toLong),
          r.getAs[Long]("n_joint"), r.getAs[Long]("canonical_id"),
          r.getAs[Long]("keep")))).toMap
    // both-sides docs convict exactly as the batch inner form would
    assert(got(1L) == ((Some(1L), Some(1L), 2L, 1L, 1L)))
    assert(got(2L) == ((Some(1L), Some(1L), 2L, 1L, 0L)))
    assert(got(3L) == ((Some(3L), Some(3L), 1L, 3L, 1L)))
    // lagging docs: one modality unknown -> cannot share BOTH clusters
    // with anyone -> kept as their own joint group, not dropped
    assert(got(4L) == ((Some(4L), None, 1L, 4L, 1L)))
    assert(got(5L) == ((Some(5L), None, 1L, 5L, 1L)))
    assert(got(6L) == ((None, Some(6L), 1L, 6L, 1L)))
    assert(got.size == 6, s"manifest lost rows: ${got.keySet}")
    // and two lagging docs sharing the KNOWN cluster still stay
    // singletons — the unknown side must not collapse to one group
    val txt2 = Seq((7L, 7L), (8L, 7L)).toDF("doc_id", "text_cluster")
    val img2 = Seq.empty[(Long, Long)].toDF("doc_id", "img_cluster")
    val lag2 = graft.operators.Multimodal.jointKeepOne(txt2, img2).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_joint"),
        r.getAs[Long]("keep"))).toSet
    assert(lag2 == Set((7L, 1L, 1L), (8L, 1L, 1L)),
      s"same-text lagging docs wrongly grouped: $lag2")
  }

  test("knnGraphStream: chunked replay converges to batch s23's graph; " +
      "redelivery is idempotent on both the complete-version and " +
      "crashed-attempt paths") {
    implicit val sq = spark.sqlContext
    import StreamOpsSpec.Vec
    import graft.operators.Similarity
    val e = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val eN = Similarity.withNorm(e)
    val cents = Similarity.collectCodebook(eN)
    val vecs = e.collect().map(r => Vec(r.getLong(0), r.getSeq[Float](1)))
    val store = java.nio.file.Files.createTempDirectory("knngraph-store").toString
    val in = MemoryStream[Vec]
    val q = StreamOps.knnGraphStream(in.toDF(), store, cents).start()
    val chunks = vecs.grouped(100).toSeq
    chunks.foreach { c => in.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
    q.stop()
    def graphSet() = StreamOps.knnGraphCurrent(spark, store).collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("rank"),
        r.getAs[Long]("nid"), r.getAs[Long]("cos_e6"))).toSet
    val streamed = graphSet()
    val batch = Similarity.s23KnnGraphIvf(spark, sf).collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("rank"),
        r.getAs[Long]("nid"), r.getAs[Long]("cos_e6"))).toSet
    assert(streamed == batch,
      s"stream/batch graph divergence: ${(streamed -- batch).take(5)} | " +
        s"${(batch -- streamed).take(5)}")
    // the incremental merge did real work: more than one version was
    // ever written (pruning keeps ≤ 2) and the corpus covers everything
    assert(StreamOps.knnGraphCorpus(spark, store).count() == vecs.length.toLong)
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = fs.listStatus(new org.apache.hadoop.fs.Path(store))
      .map(_.getPath.getName).filter(_.startsWith("v"))
    assert(versions.length <= 2, s"unpruned versions: ${versions.toSeq}")
    val lastId = versions.map(_.drop(1).toLong).max
    import spark.implicits._
    val lastChunk = spark.createDataset(chunks.last).toDF()
    // redelivery path 1: the complete version is trusted, not rebuilt
    StreamOps.knnGraphAbsorb(lastChunk, store, lastId, cents)
    assert(graphSet() == batch, "complete-version redelivery changed the graph")
    // redelivery path 2: crash BEFORE the rename — v{lastId} is gone but
    // the admitted log still holds the chunk's rows; the re-absorption
    // re-appends (dedup-on-read) and rebuilds the identical version
    fs.delete(new org.apache.hadoop.fs.Path(s"$store/v$lastId"), true)
    StreamOps.knnGraphAbsorb(lastChunk, store, lastId, cents)
    assert(graphSet() == batch, "crashed-attempt redelivery diverged")
    assert(StreamOps.knnGraphCorpus(spark, store).count() == vecs.length.toLong,
      "double-append broke the corpus dedup")
    // the ingest joins' prune filters reach the SCAN as partition
    // filters — planning-time directory pruning, so a batch's standing
    // -corpus scan cost tracks its cluster fan, never the corpus
    def partFilter(df: org.apache.spark.sql.DataFrame, key: String): Unit = {
      val plan = df.queryExecution.executedPlan.toString
      val hit = raw"PartitionFilters: \[[^\]]*$key".r.findFirstIn(plan)
      assert(hit.isDefined,
        s"$key isin filter did not prune partitions:\n$plan")
    }
    partFilter(StreamOps.knnGraphCorpus(spark, store, within = Some(Seq(0L))),
      "cluster")
    partFilter(StreamOps.knnGraphPostings(spark, store, within = Some(Seq(0L))),
      "pcluster")
  }

  test("knnGraph absorb property: random corpora under random chunkings " +
      "converge to the single-batch graph (top-k merge is order-exact)") {
    // the incremental merge's correctness argument — every (src, nid)
    // candidate considered once across the stream's lifetime, top-k
    // merge monotone in the (cos_e6 DESC, nid) total order — checked
    // on seeded random geometry instead of the one fixture corpus
    import spark.implicits._
    import graft.operators.Similarity
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { trial =>
      val n = 60 + rnd.nextInt(60)
      val dim = 6
      val vecs = (0L until n.toLong).map(i =>
        (i, Seq.fill(dim)(rnd.nextFloat() - 0.5f)))
      val e = spark.createDataset(vecs).toDF("vec_id", "embedding")
      val cents = Similarity.collectCodebook(Similarity.withNorm(e))
      def graphOf(chunks: Seq[Seq[(Long, Seq[Float])]]): Set[(Long, Long, Long, Long)] = {
        val store = java.nio.file.Files
          .createTempDirectory(s"knnprop-$trial").toString
        chunks.zipWithIndex.foreach { case (c, i) =>
          StreamOps.knnGraphAbsorb(
            spark.createDataset(c).toDF("vec_id", "embedding"),
            store, i.toLong, cents)
        }
        StreamOps.knnGraphCurrent(spark, store).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .toSet
      }
      val whole = graphOf(Seq(vecs))
      assert(whole.nonEmpty, s"trial $trial: empty single-batch graph")
      // random chunk boundaries + shuffled arrival order within the run
      val shuffled = rnd.shuffle(vecs)
      val nChunks = 2 + rnd.nextInt(3)
      val chunks = shuffled.grouped(
        math.max(1, shuffled.size / nChunks)).toSeq
      // an EMPTY micro-batch mid-stream (idle trigger) must carry the
      // graph forward unchanged
      val chunked = graphOf(
        chunks.take(1) ++ Seq(Seq.empty[(Long, Seq[Float])]) ++ chunks.drop(1))
      assert(chunked == whole,
        s"trial $trial: chunked graph diverged from single-batch " +
          s"(${(chunked -- whole).take(3)} | ${(whole -- chunked).take(3)})")
    }
  }

  test("semDedup compaction recovery: a crash between the version write " +
      "and the prune rebuilds from the last COMPLETE version") {
    import spark.implicits._
    // simulate the crash window the compaction call site guards with
    // before = id: v2 is the last complete version, the admitted log
    // still holds the rows folded nowhere else, and v5 is the crashed
    // compaction's PARTIAL output (one row short)
    val store = java.nio.file.Files.createTempDirectory("semdedup-crash").toString
    def vec(id: Long) = (id, Seq(id.toFloat, 1.0f), 1000000L, id % 3)
    Seq(vec(1), vec(2)).toDF("vec_id", "embedding", "norm_fp", "cluster")
      .write.parquet(s"$store/v2/corpus")
    Seq(vec(3)).toDF("vec_id", "embedding", "norm_fp", "cluster")
      .write.parquet(s"$store/admitted")
    // the partial v5: vec 3 lost mid-write
    Seq(vec(1), vec(2)).toDF("vec_id", "embedding", "norm_fp", "cluster")
      .write.parquet(s"$store/v5/corpus")
    def ids(before: Long) =
      StreamOps.semDedupCorpus(spark, store, before).select("vec_id")
        .collect().map(_.getLong(0)).toSet
    // the redelivered batch-5 compaction (before = 5) sees all three
    // rows; an unbounded read would base on the partial v5 (same ids
    // here only because admitted is still present — drop it to show
    // the loss the bound prevents)
    assert(ids(5L) == Set(1L, 2L, 3L))
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$store/admitted"), true)
    assert(ids(Long.MaxValue) == Set(1L, 2L),
      "unbounded read did not base on the newest version")
    assert(ids(5L) == Set(1L, 2L),
      "bounded read did not base on the last complete version")
  }

  test("semDedup compaction recovery: crash AFTER the admitted-log prune " +
      "cannot destroy folded rows — the complete v$id is trusted, not rebuilt") {
    import spark.implicits._
    // The r10-ADVICE window: original compaction of batch 5 completed
    // the v5 write AND deleted the admitted log, then crashed before
    // the micro-batch checkpoint committed. Redelivery re-appends only
    // ITS OWN rows (vec 3); batches admitted earlier in the window
    // (vec 2) now live ONLY inside v5. A rebuild from before=5 would
    // base on v2 + {vec 3} and overwrite v5 — losing vec 2 forever.
    val store = java.nio.file.Files.createTempDirectory("semdedup-crash2").toString
    def vec(id: Long) = (id, Seq(id.toFloat, 1.0f), 1000000L, 0L)
    Seq(vec(1)).toDF("vec_id", "embedding", "norm_fp", "cluster")
      .write.parquet(s"$store/v2/corpus")
    Seq(vec(1)).toDF("vec_id", "embedding", "norm_fp", "cluster")
      .withColumn("rep", col("vec_id")).withColumn("keep", lit(1L))
      .write.parquet(s"$store/v2/resolved")
    // the COMPLETE v5 (rename already happened): holds vecs 1,2,3
    Seq(vec(1), vec(2), vec(3)).toDF("vec_id", "embedding", "norm_fp", "cluster")
      .write.parquet(s"$store/v5/corpus")
    Seq(vec(1), vec(2), vec(3)).toDF("vec_id", "embedding", "norm_fp", "cluster")
      .withColumn("rep", lit(1L)).withColumn("keep", col("vec_id") === 1L)
      .select(col("vec_id"), col("cluster"), col("rep"),
        col("keep").cast("long").as("keep"))
      .write.parquet(s"$store/v5/resolved")
    // redelivered batch 5 re-appended its own rows before compacting
    Seq(vec(3)).toDF("vec_id", "embedding", "norm_fp", "cluster")
      .write.parquet(s"$store/admitted")
    StreamOps.semDedupCompact(spark, store, 5L)
    val ids = StreamOps.semDedupCorpus(spark, store)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 3L),
      s"redelivered compaction destroyed folded rows: corpus = $ids")
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$store/admitted")),
      "redelivered compaction must still run the idempotent prunes")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$store/v2")),
      "prune must keep the newest-but-one version (steady state: 2)")
    // and the other side of the window: crash BEFORE the rename left a
    // half-written staging dir — a fresh compaction must clear it and
    // rebuild from the admitted log, which is still intact
    val store2 = java.nio.file.Files.createTempDirectory("semdedup-crash3").toString
    Seq(vec(1)).toDF("vec_id", "embedding", "norm_fp", "cluster")
      .write.parquet(s"$store2/v2/corpus")
    Seq(vec(2), vec(3)).toDF("vec_id", "embedding", "norm_fp", "cluster")
      .write.parquet(s"$store2/admitted")
    Seq(vec(2)).toDF("vec_id", "embedding", "norm_fp", "cluster")
      .write.parquet(s"$store2/.stage_v5/corpus") // partial leftover
    StreamOps.semDedupCompact(spark, store2, 5L)
    val ids2 = StreamOps.semDedupCorpus(spark, store2)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids2 == Set(1L, 2L, 3L), s"pre-rename recovery lost rows: $ids2")
    val fs2 = new org.apache.hadoop.fs.Path(store2)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs2.exists(new org.apache.hadoop.fs.Path(s"$store2/v5/resolved")),
      "compaction did not materialize the complete version")
    assert(!fs2.exists(new org.apache.hadoop.fs.Path(s"$store2/.stage_v5")),
      "staging leftover not cleared")
  }

  test("weightedSampleStream recovers its shard bottom-K states across " +
      "kill-and-restart") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import StreamOps.SampleIn
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang")).as[SampleIn]
      .collect().sortBy(_.doc_id)
    val (firstHalf, secondHalf) = docs.splitAt(docs.length / 2)
    val cp = java.nio.file.Files.createTempDirectory("wsample-cp").toString
    val outDir = java.nio.file.Files.createTempDirectory("wsample-out").toString
    val in = MemoryStream[SampleIn]
    def start() = StreamOps.weightedSampleStream(in.toDS())
      .writeStream.format("parquet").option("checkpointLocation", cp)
      .outputMode(OutputMode.Append()).start(outDir)
    val q1 = start()
    in.addData(firstHalf.toIndexedSeq: _*); q1.processAllAvailable(); q1.stop()
    in.addData(secondHalf.toIndexedSeq: _*) // arrives while down
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    // newest emission per shard (max n_seen), merged bottom-K
    val tbl = spark.read.parquet(outDir)
    val latest = tbl.groupBy(col("shard")).agg(max(col("n_seen")).as("mx"))
      .select(col("shard").as("shard2"), col("mx"))
    val standing = tbl.join(latest,
        col("shard") === col("shard2") && col("n_seen") === col("mx"))
      .orderBy(col("priority"), col("doc_id"))
      .limit(graft.operators.TextAnalysis.WorK)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    val batch = graft.operators.TextAnalysis.weightedSample(
      graft.Tables.documents(spark, sf))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    assert(standing == batch, "restart lost shard sample state")
  }

  test("patternStream recovers the automaton state across kill-and-restart") {
    implicit val sq = spark.sqlContext
    val ev = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .orderBy(col("ts"), col("event_id"))
      .as[KeyedEvent].collect()
    val (firstHalf, secondHalf) = ev.splitAt(ev.length / 2)
    val cp = java.nio.file.Files.createTempDirectory("e19-restart-cp").toString
    val outDir = java.nio.file.Files.createTempDirectory("e19-restart-out").toString
    val in = MemoryStream[KeyedEvent]
    def start() = StreamOps.patternStream(in.toDS())
      .writeStream.format("parquet").option("checkpointLocation", cp)
      .outputMode(OutputMode.Append()).start(outDir)
    // parquet sink is append-only; Update-mode emission means later
    // rows supersede earlier ones per user — max acc wins (monotone)
    val q1 = start()
    in.addData(firstHalf.toIndexedSeq: _*); q1.processAllAvailable(); q1.stop()
    in.addData(secondHalf.toIndexedSeq: _*) // arrives while down
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val streamed = spark.read.parquet(outDir).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_funnels"), r.getAs[Long]("open_stage")))
      .groupBy(_._1).view
      .mapValues(_.map(_._2).maxBy(p => p._1 * 3L + p._2)).toMap
    val batch = graft.operators.Events.e19Pattern(spark, sf).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_funnels"), r.getAs[Long]("open_stage"))).toMap
    assert(streamed == batch,
      s"restart lost automaton state: ${streamed.toSet -- batch.toSet} | ${batch.toSet -- streamed.toSet}")
  }

  test("permuteStream recovers the bitmask state across kill-and-restart") {
    implicit val sq = spark.sqlContext
    val ev = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .orderBy(col("ts"), col("event_id"))
      .as[KeyedEvent].collect()
    val (firstHalf, secondHalf) = ev.splitAt(ev.length / 2)
    val cp = java.nio.file.Files.createTempDirectory("e28-restart-cp").toString
    val outDir = java.nio.file.Files.createTempDirectory("e28-restart-out").toString
    val in = MemoryStream[KeyedEvent]
    def start() = StreamOps.permuteStream(in.toDS())
      .writeStream.format("parquet").option("checkpointLocation", cp)
      .outputMode(OutputMode.Append()).start(outDir)
    val q1 = start()
    in.addData(firstHalf.toIndexedSeq: _*); q1.processAllAvailable(); q1.stop()
    in.addData(secondHalf.toIndexedSeq: _*) // arrives while down
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    // newest row per user = highest folded-event ordinal (n_seen)
    val streamed = spark.read.parquet(outDir).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_seen"), r.getAs[Long]("n_complete"),
          r.getAs[Long]("open_mask")))
      .groupBy(_._1).view
      .mapValues(v => { val m = v.map(_._2).maxBy(_._1); (m._2, m._3) }).toMap
    val batch = graft.operators.Events.e28PatternPermute(spark, sf).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_complete"), r.getAs[Long]("open_mask"))).toMap
    assert(streamed == batch,
      s"restart lost mask state: ${streamed.toSet -- batch.toSet} | ${batch.toSet -- streamed.toSet}")
  }

  test("overlapWithinStream: chunked in-order replay emits exactly the " +
      "batch e34 match set, duplicate redelivery adds nothing, and expired " +
      "pendings die across chunk boundaries on event time") {
    implicit val sq = spark.sqlContext
    val ev = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .orderBy(col("ts"), col("event_id"))
      .as[KeyedEvent].collect()
    val in = MemoryStream[KeyedEvent]
    val q = StreamOps.overlapWithinStream(in.toDS(),
        graft.operators.Events.PatternWithinMicros)
      .writeStream.format("memory").queryName("ow_stream")
      .outputMode(OutputMode.Append()).start()
    val chunks = ev.grouped(ev.length / 7 + 1).toSeq
    chunks.foreach { c => in.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
    in.addData(chunks.last.toIndexedSeq: _*); q.processAllAvailable()
    q.stop()
    def key(u: Long, s: Long, m: Long, e: Long, sp: Long) = (u, s, m, e, sp)
    val streamed = spark.table("ow_stream").collect()
      .map(r => key(r.getAs[Long]("user_id"), r.getAs[Long]("start_event_id"),
        r.getAs[Long]("mid_event_id"), r.getAs[Long]("end_event_id"),
        r.getAs[Long]("span_us")))
    assert(streamed.length == streamed.distinct.length,
      "duplicate redelivery re-emitted a match")
    val batch = graft.operators.Events.e34OverlapWithin(spark, sf).collect()
      .map(r => key(r.getAs[Long]("user_id"), r.getAs[Long]("start_event_id"),
        r.getAs[Long]("mid_event_id"), r.getAs[Long]("end_event_id"),
        r.getAs[Long]("span_us")))
    assert(batch.nonEmpty && streamed.toSet == batch.toSet,
      s"stream/batch divergence: ${streamed.toSet -- batch.toSet} | ${batch.toSet -- streamed.toSet}")
    // constructed straddle: pendings opened in one micro-batch expire on
    // EVENT time chunks later; overlap sharing emits two matches through
    // one purchase
    import java.sql.Timestamp
    def t(s: Int) = new Timestamp(1700000000000L + s * 1000L)
    val in2 = MemoryStream[KeyedEvent]
    val q2 = StreamOps.overlapWithinStream(in2.toDS(), 5000000L)
      .writeStream.format("memory").queryName("ow_straddle")
      .outputMode(OutputMode.Append()).start()
    in2.addData(KeyedEvent(9L, 1L, "click", t(0)),
      KeyedEvent(9L, 2L, "click", t(1)), KeyedEvent(9L, 3L, "view", t(2)))
    q2.processAllAvailable()
    // purchase at 4 s: BOTH pending pairs complete (suffix sharing)
    in2.addData(KeyedEvent(9L, 4L, "purchase", t(4)))
    q2.processAllAvailable()
    // a fresh attempt opened at 20 s never meets a view until 30 s —
    // past the 5 s window, so the start expired in state: no match
    in2.addData(KeyedEvent(9L, 5L, "click", t(20)))
    q2.processAllAvailable()
    in2.addData(KeyedEvent(9L, 6L, "view", t(30)),
      KeyedEvent(9L, 7L, "purchase", t(31)))
    q2.processAllAvailable(); q2.stop()
    val fin = spark.table("ow_straddle").collect()
      .map(r => (r.getAs[Long]("start_event_id"),
        r.getAs[Long]("end_event_id"), r.getAs[Long]("span_us"))).toSet
    assert(fin == Set((1L, 4L, 4000000L), (2L, 4L, 3000000L)), fin.toString)
  }

  test("budgetThresholdStream: the standing histogram after chunked replay " +
      "yields exactly the batch boundary (budget, bucket, headroom); the " +
      "empty store reports the degenerate zero budget") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val docsDf = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val docs = docsDf.as[(Long, String)].collect().sortBy(_._1).toSeq
    val dir = java.nio.file.Files.createTempDirectory("bt-store").toString
    val cp = java.nio.file.Files.createTempDirectory("bt-cp").toString
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.budgetThresholdStream(
      in.toDF().toDF("doc_id", "text"), dir)
      .option("checkpointLocation", cp).start()
    docs.grouped(docs.size / 5 + 1).foreach { chunk =>
      in.addData(chunk: _*); q.processAllAvailable()
    }
    q.stop()
    val view = StreamOps.budgetThresholdView(spark, dir).collect()
    assert(view.length == 1)
    val keyed = graft.operators.TextAnalysis.budgetKeyed(docsDf)
    val hist = graft.operators.TextAnalysis.budgetHistFromKeyed(keyed)
    val wantBudget = keyed.agg(sum(col("n_tok"))).collect().head.getLong(0) / 2L
    val wantB = graft.operators.TextAnalysis.budgetBoundary(hist)
      .collect().head
    val v = view.head
    assert(v.getAs[Long]("budget") == wantBudget, v.toString)
    assert(v.getAs[Int]("bpfx") == wantB.getAs[Int]("bpfx"), v.toString)
    assert(v.getAs[Long]("rem") == wantB.getAs[Long]("rem"), v.toString)
    // degenerate: a store that never saw a batch → budget 0, null bucket
    val empty = StreamOps.budgetThresholdView(spark,
      java.nio.file.Files.createTempDirectory("bt-empty").toString)
      .collect().head
    assert(empty.getAs[Long]("budget") == 0L &&
      empty.isNullAt(empty.fieldIndex("bpfx")), empty.toString)
  }

  test("deltaDistinctStream: support table after chunked ±1 replay ≡ the " +
      "batch e33 view, zero-support rows leave the table, and a retraction " +
      "of a non-existent element fails the batch loudly") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    // the e33 feed as a change stream: every base/ins event is a +1,
    // every retraction (third base error) a −1 — replayed in 5 chunks
    val ev = graft.Tables.events(spark, sf).filter(col("user_id").isNotNull)
      .select(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_s"),
        col("user_id"), col("event_type"), col("event_id"))
    val mx = ev.agg(max(col("event_id")).as("mx"))
    val t = ev.crossJoin(broadcast(mx))
    val changes = t.select(col("hour_s"), col("user_id"), lit(1L).as("w"),
        col("event_id"))
      .unionByName(t.filter(col("event_id") * 10L < col("mx") * 9L &&
          col("event_type") === "error" && col("event_id") % 3L === 0L)
        .select(col("hour_s"), col("user_id"), lit(-1L).as("w"),
          (col("event_id") + 1000000L).as("event_id")))
      .orderBy(col("event_id"))
      .select(col("hour_s"), col("user_id"), col("w"))
      .as[(Long, Long, Long)].collect().toSeq
    val dir = java.nio.file.Files.createTempDirectory("dd-store").toString
    val cp = java.nio.file.Files.createTempDirectory("dd-cp").toString
    val in = MemoryStream[(Long, Long, Long)]
    val q = StreamOps.deltaDistinctStream(
      in.toDF().toDF("hour_s", "user_id", "w"), dir)
      .option("checkpointLocation", cp).start()
    changes.grouped(changes.size / 5 + 1).foreach { chunk =>
      in.addData(chunk: _*); q.processAllAvailable()
    }
    q.stop()
    val streamed = StreamOps.deltaDistinctView(spark, dir).collect()
      .map(r => r.getAs[Long]("hour_s") -> r.getAs[Long]("n_distinct")).toMap
    val batch = graft.operators.Events.e33DeltaDistinct(spark, sf).collect()
      .map(r => r.getAs[Long]("hour_s") -> r.getAs[Long]("n_after"))
      .toMap.filter(_._2 > 0L)
    assert(batch.nonEmpty && streamed == batch,
      s"support store diverged: ${streamed.toSet -- batch.toSet} | ${batch.toSet -- streamed.toSet}")
    // the stored table holds only LIVE elements (no zero-support rows)
    assert(StreamOps.deltaDistinctCurrent(spark, dir)
      .filter(col("supp") <= 0L).isEmpty)
    // corruption fails loudly: retracting a never-inserted element
    val dir2 = java.nio.file.Files.createTempDirectory("dd-store2").toString
    val cp2 = java.nio.file.Files.createTempDirectory("dd-cp2").toString
    val in2 = MemoryStream[(Long, Long, Long)]
    val q2 = StreamOps.deltaDistinctStream(
      in2.toDF().toDF("hour_s", "user_id", "w"), dir2)
      .option("checkpointLocation", cp2).start()
    in2.addData((3600L, 999L, -1L))
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    q2.stop()
    val chain = Iterator.iterate[Throwable](ex)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString(" | ")
    assert(chain.contains("negative support"), chain.take(400))
  }

  test("deltaAggStream: standing rollup after chunked replay ≡ one-shot aggregate, " +
      "old versions pruned") {
    implicit val sq = spark.sqlContext
    import StreamOpsSpec.VEvent
    val ev = graft.Tables.events(spark, sf)
      .select(col("ts"), col("event_type"), col("value"))
    val rows = ev.as[VEvent].collect()
    assert(rows.length > 100, "fixture too small")
    val dir = java.nio.file.Files.createTempDirectory("delta-agg-store").toString
    val cp = java.nio.file.Files.createTempDirectory("delta-agg-cp").toString
    val in = MemoryStream[VEvent]
    val q = StreamOps.deltaAggStream(in.toDF(), dir)
      .option("checkpointLocation", cp).start()
    rows.grouped(rows.length / 5 + 1).foreach { chunk =>
      in.addData(chunk.toIndexedSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("hour_s"), r.getAs[String]("event_type")) ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("sum_cents"))).toMap
    val streamed = m(StreamOps.deltaAggCurrent(spark, dir))
    val oneShot = m(graft.operators.Events.hourlyPartial(ev))
    assert(oneShot.nonEmpty)
    assert(streamed == oneShot,
      s"IVM store diverged: ${streamed.toSet -- oneShot.toSet} | ${oneShot.toSet -- streamed.toSet}")
    // steady state keeps the newest version + its base, nothing older
    val vs = new java.io.File(dir).listFiles().filter(_.getName.startsWith("v"))
    assert(vs.length <= 2, s"version pruning failed: ${vs.map(_.getName).toSeq}")
  }

  test("fertilityStream: additive per-source totals under the standing " +
      "merges — chunked replay + the read fold reproduces batch x41; " +
      "redelivery idempotent") {
    implicit val sq = spark.sqlContext
    import StreamOpsSpec.Doc
    import graft.operators.TextAnalysis
    val src = graft.Tables.documents(spark, sf)
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val merges = TextAnalysis.sharedBpeMerges(spark, sf)
    val store = java.nio.file.Files.createTempDirectory("fert-store").toString
    // Doc has no source column; stream (doc_id, text) and rejoin the
    // source at absorb time via a keyed map column instead: simplest
    // faithful harness is to stream rows that CARRY source, so use a
    // dedicated frame through MemoryStream[(Long, String, String)]
    val in = MemoryStream[(Long, String, String)]
    val q = StreamOps.fertilityStream(
      in.toDF().toDF("doc_id", "text", "source"), store, merges).start()
    src.grouped(100).foreach { c =>
      in.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
    q.stop()
    def fold() = TextAnalysis.fertilityFrom(
        StreamOps.fertilityCurrent(spark, store)).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_words"),
        r.getAs[Long]("n_bpe_tokens"), r.getAs[Long]("fertility_e4"))).toSet
    val streamed = fold()
    val batch = TextAnalysis.x41BpeFertility(spark, sf).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_words"),
        r.getAs[Long]("n_bpe_tokens"), r.getAs[Long]("fertility_e4"))).toSet
    assert(streamed == batch,
      s"fertility replay diverged: ${(streamed -- batch).take(3)} | " +
        s"${(batch -- streamed).take(3)}")
    // redelivery both paths
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lastId = fs.listStatus(new org.apache.hadoop.fs.Path(store))
      .map(_.getPath.getName).filter(_.startsWith("v"))
      .map(_.drop(1).toLong).max
    import spark.implicits._
    val lastChunk = spark.createDataset(src.grouped(100).toSeq.last.toSeq)
      .toDF("doc_id", "text", "source")
    StreamOps.fertilityAbsorb(lastChunk, store, lastId, merges)
    assert(fold() == batch, "complete-version redelivery changed totals")
    fs.delete(new org.apache.hadoop.fs.Path(s"$store/v$lastId"), true)
    StreamOps.fertilityAbsorb(lastChunk, store, lastId, merges)
    assert(fold() == batch, "crashed-attempt redelivery diverged")
  }

  test("colloStream: additive census merge — chunked replay + the read " +
      "fold reproduces batch x39; redelivery idempotent; versions pruned") {
    implicit val sq = spark.sqlContext
    import StreamOpsSpec.Doc
    import graft.operators.TextAnalysis
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => Doc(r.getLong(0), r.getString(1), new java.sql.Timestamp(0L)))
    val store = java.nio.file.Files.createTempDirectory("collo-store").toString
    val in = MemoryStream[Doc]
    val q = StreamOps.colloStream(
      in.toDF().select(col("doc_id"), col("text")), store).start()
    val chunks = docs.grouped(100).toSeq
    chunks.foreach { c => in.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
    q.stop()
    def topk() = {
      val (big, uni) = StreamOps.colloCurrent(spark, store)
      TextAnalysis.colloTopKFrom(big, uni).collect()
        .map(r => (r.getAs[String]("w1"), r.getAs[String]("w2"),
          r.getAs[Long]("n_ab"), r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
          r.getAs[Long]("lift_e6"))).toSeq
    }
    val streamed = topk()
    val batch = TextAnalysis.x39PmiCollocations(spark, sf).collect()
      .map(r => (r.getAs[String]("w1"), r.getAs[String]("w2"),
        r.getAs[Long]("n_ab"), r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
        r.getAs[Long]("lift_e6"))).toSeq
    assert(streamed == batch,
      s"census replay diverged: ${streamed.take(2)} vs ${batch.take(2)}")
    // version pruning: newest + its base only
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = fs.listStatus(new org.apache.hadoop.fs.Path(store))
      .map(_.getPath.getName).filter(_.startsWith("v"))
    assert(versions.length <= 2, s"unpruned versions: ${versions.toSeq}")
    // redelivery 1: the complete version is trusted
    val lastId = versions.map(_.drop(1).toLong).max
    import spark.implicits._
    val lastChunk = spark.createDataset(chunks.last).toDF()
      .select("doc_id", "text")
    StreamOps.colloAbsorb(lastChunk, store, lastId)
    assert(topk() == batch, "complete-version redelivery changed the census")
    // redelivery 2: crashed attempt rebuilds from the same base
    fs.delete(new org.apache.hadoop.fs.Path(s"$store/v$lastId"), true)
    StreamOps.colloAbsorb(lastChunk, store, lastId)
    assert(topk() == batch, "crashed-attempt redelivery diverged")
  }

  test("decayedHittersStream: bounded exact hour rings — chunked replay " +
      "plus the read-time fold reproduces batch e35; per-user state " +
      "never exceeds the decay cap") {
    implicit val sq = spark.sqlContext
    val evRows = graft.Tables.events(spark, sf)
      .selectExpr("user_id", "event_id", "event_type", "ts").collect()
      .map(r => StreamOps.KeyedEvent(r.getLong(0), r.getLong(1),
        r.getString(2), r.getTimestamp(3)))
    val in = MemoryStream[StreamOps.KeyedEvent]
    val q = StreamOps.decayedHittersStream(in.toDS()).writeStream
      .outputMode("update").format("memory").queryName("decay_snaps").start()
    evRows.grouped(500).foreach { c =>
      in.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
    q.stop()
    val all = spark.table("decay_snaps")
    val maxBuckets = all
      .agg(max(size(map_keys(col("counts"))))).collect()(0).getInt(0)
    assert(maxBuckets <= graft.operators.Events.DecayCapHours,
      s"ring grew past the cap: $maxBuckets")
    // the newest snapshot per user is the one with the largest total
    // (n_events is strictly monotone per emission)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("n_events").desc)
    val latest = spark.table("decay_snaps")
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select("user_id", "counts", "n_events")
    val streamed = StreamOps.decayedTopK(latest).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("decayed_e6"),
        r.getAs[Long]("n_events"))).toSeq
    val batch = graft.operators.Events.e35DecayedHitters(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("decayed_e6"),
        r.getAs[Long]("n_events"))).toSeq
    assert(streamed == batch,
      s"decayed ranking diverged: ${streamed.take(3)} vs ${batch.take(3)}")
  }

  test("decayedHittersStream on a fractional-offset session timezone " +
      "(+05:30): the ring key truncates in the SESSION zone — hour " +
      "boundaries sit at :30 — and chunked replay still reproduces " +
      "batch e35 exactly") {
    // a derived session carries its own conf: the shared suite session
    // stays UTC, so no other test sees the zone change
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.session.timeZone", "+05:30")
    implicit val sq = s2.sqlContext
    val evRows = graft.Tables.events(s2, sf)
      .selectExpr("user_id", "event_id", "event_type", "ts").collect()
      .map(r => StreamOps.KeyedEvent(r.getLong(0), r.getLong(1),
        r.getString(2), r.getTimestamp(3)))
    val in = MemoryStream[StreamOps.KeyedEvent]
    val q = StreamOps.decayedHittersStream(in.toDS()).writeStream
      .outputMode("update").format("memory").queryName("decay_snaps_ist").start()
    evRows.grouped(500).foreach { c =>
      in.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
    q.stop()
    val all = s2.table("decay_snaps_ist")
    // the zone is HONORED, not just harmless: +05:30 hour boundaries
    // land at epoch ≡ 1800 (mod 3600) — a raw epoch/3600 truncation
    // would put every key at ≡ 0 and silently pass an equality test
    // against an equally-wrong batch run
    val badKeys = all.select(explode(map_keys(col("counts"))).as("h"))
      .filter(pmod(col("h"), lit(3600L)) =!= 1800L).count()
    assert(badKeys == 0L, s"$badKeys ring keys not on +05:30 hour boundaries")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("n_events").desc)
    val latest = all
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select("user_id", "counts", "n_events")
    val streamed = StreamOps.decayedTopK(latest).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("decayed_e6"),
        r.getAs[Long]("n_events"))).toSeq
    val batch = graft.operators.Events.e35DecayedHitters(s2, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("decayed_e6"),
        r.getAs[Long]("n_events"))).toSeq
    assert(streamed == batch,
      s"decayed ranking diverged at +05:30: ${streamed.take(3)} vs ${batch.take(3)}")
  }

  test("graphSearchStream: arriving queries searched against the standing " +
      "graph store reproduce batch s27 exactly; redelivery idempotent") {
    implicit val sq = spark.sqlContext
    import StreamOpsSpec.Vec
    import graft.operators.Similarity
    val e = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val cents = Similarity.collectCodebook(Similarity.withNorm(e))
    // seed the standing store with the whole corpus in one absorption
    val store = java.nio.file.Files.createTempDirectory("gs-graph").toString
    StreamOps.knnGraphAbsorb(e, store, 0L, cents)
    val queries = e.filter(col("vec_id") < Similarity.NQueries.toLong)
      .collect().map(r => Vec(r.getLong(0), r.getSeq[Float](1)))
    val out = java.nio.file.Files.createTempDirectory("gs-out").toString
    val in = MemoryStream[Vec]
    val q = StreamOps.graphSearchStream(in.toDF(), store, out).start()
    val chunks = queries.grouped(5).toSeq
    chunks.foreach { c => in.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
    q.stop()
    def resSet() = StreamOps.graphSearchResults(spark, out).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rank"),
        r.getAs[Long]("nid"), r.getAs[Long]("cos_e6"))).toSet
    val streamed = resSet()
    val batch = Similarity.s27GraphSearch(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rank"),
        r.getAs[Long]("nid"), r.getAs[Long]("cos_e6"))).toSet
    assert(streamed == batch,
      s"stream/batch search divergence: ${(streamed -- batch).take(5)} | " +
        s"${(batch -- streamed).take(5)}")
    // redelivery 1: the complete version is trusted
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lastId = fs.listStatus(new org.apache.hadoop.fs.Path(out))
      .map(_.getPath.getName).filter(_.startsWith("v"))
      .map(_.drop(1).toLong).max
    import spark.implicits._
    val lastChunk = spark.createDataset(chunks.last).toDF()
    StreamOps.graphSearchAbsorb(lastChunk, store, out, lastId)
    assert(resSet() == batch, "complete-version redelivery changed results")
    // redelivery 2: crashed attempt — a search is pure, so the rebuild
    // is identical
    fs.delete(new org.apache.hadoop.fs.Path(s"$out/v$lastId"), true)
    StreamOps.graphSearchAbsorb(lastChunk, store, out, lastId)
    assert(resSet() == batch, "crashed-attempt redelivery diverged")
    // redelivery 3: crashed attempt with a graph-store absorb landing
    // BETWEEN crash and retry — the pin marker (written before the
    // search) makes the retry search the ORIGINAL graph version, so
    // the rebuilt v$lastId still equals the first build even though
    // the store is no longer quiescent
    fs.delete(new org.apache.hadoop.fs.Path(s"$out/v$lastId"), true)
    val pin = new org.apache.hadoop.fs.Path(s"$out/.pin_v$lastId")
    val o = fs.create(pin, true)
    try o.write("0".getBytes("UTF-8")) finally o.close() // the seeded graph's id
    // grow the graph: absorb a disjoint second corpus as version 1
    val extra = e.withColumn("vec_id", col("vec_id") + 100000L)
    StreamOps.knnGraphAbsorb(extra, store, 1L, cents)
    StreamOps.graphSearchAbsorb(lastChunk, store, out, lastId)
    assert(resSet() == batch,
      "pinned retry diverged after a non-quiescent graph absorb")
    assert(!fs.exists(pin), "pin marker not cleaned up after the rebuild")
  }

  test("ingestDecideStream: chunked in-order replay equals the driver-" +
      "composed batch sequence; one-chunk replay equals gated x40; " +
      "redelivery idempotent on complete-version and crashed-attempt paths") {
    implicit val sq = spark.sqlContext
    import StreamOpsSpec.Doc
    import graft.operators.{Dedup, TextAnalysis}
    val docs = graft.Tables.documents(spark, sf)
    val split = Dedup.IncrementalSplit
    val standing = docs.filter(col("doc_id") < split)
      .select("doc_id", "text").localCheckpoint()
    val arriving = docs.filter(col("doc_id") >= split)
      .select("doc_id", "text").collect()
      .map(r => Doc(r.getLong(0), r.getString(1), new java.sql.Timestamp(0L)))
      .sortBy(_.doc_id)
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    // chunked replay through the store
    val store = java.nio.file.Files.createTempDirectory("ingest-store").toString
    val in = MemoryStream[Doc]
    val q = StreamOps.ingestDecideStream(
      in.toDF().select(col("doc_id"), col("text")), store, standing).start()
    val chunks = arriving.grouped(25).toSeq
    chunks.foreach { c => in.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
    q.stop()
    val streamed = rows(StreamOps.ingestDecisions(spark, store))
    assert(streamed.size == arriving.length,
      "every arriving doc decided exactly once")
    // reference: the SAME chunking composed in the driver through the
    // library batch form — pins the store machinery (admitted
    // read-back, versioning) against ingestDecideBatch
    var prior = standing
    val composed = chunks.flatMap { c =>
      val b = spark.createDataset(c).toDF().select("doc_id", "text")
      val dec = TextAnalysis.ingestDecideBatch(prior, b, standing)
        .collect().map(_.toSeq)
      prior = prior.unionByName(b).localCheckpoint()
      dec
    }.toSet
    assert(streamed == composed,
      s"store/library divergence: ${(streamed -- composed).take(3)} | " +
        s"${(composed -- streamed).take(3)}")
    // one-chunk replay ≡ the gated x40 (full visibility in one batch)
    val store1 = java.nio.file.Files.createTempDirectory("ingest-one").toString
    val in1 = MemoryStream[Doc]
    val q1 = StreamOps.ingestDecideStream(
      in1.toDF().select(col("doc_id"), col("text")), store1, standing).start()
    in1.addData(arriving.toIndexedSeq: _*); q1.processAllAvailable(); q1.stop()
    val oneShot = rows(StreamOps.ingestDecisions(spark, store1))
    val gated = rows(TextAnalysis.x40IngestDecide(spark, sf))
    assert(oneShot == gated,
      s"one-chunk/x40 divergence: ${(oneShot -- gated).take(3)} | " +
        s"${(gated -- oneShot).take(3)}")
    // chunked-vs-batch honesty: the only admissible diffs are
    // subsumption-visibility rows (a container arriving in a LATER
    // chunk — the subsumptionStream division of labor); everything
    // else is pinned identical
    val diff = (streamed -- gated) ++ (gated -- streamed)
    diff.groupBy(_.head).foreach { case (id, forms) =>
      assert(forms.exists(_.apply(3) == "subsumed"),
        s"doc $id diverged for a non-subsumption reason: $forms")
    }
    // redelivery 1: the complete version is trusted, not rebuilt
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lastId = fs.listStatus(new org.apache.hadoop.fs.Path(store))
      .map(_.getPath.getName).filter(_.startsWith("v"))
      .map(_.drop(1).toLong).max
    val lastChunk = spark.createDataset(chunks.last).toDF()
      .select("doc_id", "text")
    StreamOps.ingestDecideAbsorb(lastChunk, store, lastId, standing)
    assert(rows(StreamOps.ingestDecisions(spark, store)) == streamed,
      "complete-version redelivery changed the manifest")
    // redelivery 2: crash BEFORE the rename — the admitted log holds
    // the chunk's rows but v{lastId} is gone; the re-absorption
    // excludes the batch's own ids from prior and rebuilds identically
    fs.delete(new org.apache.hadoop.fs.Path(s"$store/v$lastId"), true)
    StreamOps.ingestDecideAbsorb(lastChunk, store, lastId, standing)
    assert(rows(StreamOps.ingestDecisions(spark, store)) == streamed,
      "crashed-attempt redelivery diverged")
    assert(StreamOps.ingestAdmitted(spark, store).count() == arriving.length,
      "double-append broke the admitted dedup")
  }
}

object StreamOpsSpec {
  case class Doc(doc_id: Long, text: String, ts: java.sql.Timestamp)
  case class VEvent(ts: java.sql.Timestamp, event_type: String, value: Double)
  case class Vec(vec_id: Long, embedding: Seq[Float])
}
