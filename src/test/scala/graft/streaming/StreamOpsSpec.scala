package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpecBase
import graft.streaming.StreamOps.KeyedEvent

/** The StreamOps operators over MemoryStream inputs, each pinned to
  * its batch form on chunked replay: watermarked windows, session
  * windows, bounded-state dedup, keyed latest-state and funnel state,
  * the joins and stateless ingest twins, the m18 alignment filter, the
  * text and image absorb stores (with their redelivery paths) and the
  * delta-agg rollup. */
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

}

object StreamOpsSpec {
  case class Doc(doc_id: Long, text: String, ts: java.sql.Timestamp)
  case class VEvent(ts: java.sql.Timestamp, event_type: String, value: Double)
}
