package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import TextOps.idiv

/** Multimodal-column plumbing: media payloads modeled as opaque `binary`
  * columns with typed metadata, plus a decode/feature-extract stage run
  * as a typed `mapPartitions` over the payload batches.
  *
  * The decode stage (m2) runs a REAL image codec — the JDK's
  * javax.imageio PNG writer/reader — over deterministic generated
  * images, so the encode→decode round-trip is exercised with genuine
  * media bytes and oracle-gated pixel-exactly (see [[m2DecodeFeatures]]).
  * Codecs the JDK does not ship (JPEG variants, audio, video) swap in
  * at the same per-partition init point. The Spark-side plumbing is
  * the part that matters at scale: binary schema, per-partition batch
  * iteration (one decoder init per partition, not per row — exactly how
  * a JNI codec or Python worker would be amortized), and a narrow
  * no-shuffle plan.
  *
  * Scale notes (100 TB of media): payloads dominate row size, so
  * `binary` columns ride parquet's byte-array encoding; decode stages
  * must be mapPartitions (amortized codec init) and must never shuffle
  * payloads — extract features first, shuffle features only. Row-group
  * sizing (`parquet.block.size`) and `maxPartitionBytes` bound executor
  * memory per task.
  */
object Multimodal {

  /** m1: binary metadata projection — payload byte length, content hash,
    * 4-byte header as uppercase hex (magic-number sniffing), all from
    * Catalyst built-ins over the binary column (no decode). */
  def m1BinaryMeta(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .select(
        col("doc_id"),
        length(col("payload")).cast("long").as("n_bytes"),
        md5(col("payload")).as("content_md5"),
        hex(substring(col("payload"), 1, 4)).as("header_hex"))
      .transform(Output.ordered(_, col("doc_id")))

  /** One decoded image's features — everything engine-portable: the
    * dims and the EXACT integer pixel sum (no float mean), plus the
    * 4-byte magic of the actual encoded payload. */
  case class ImageFeatures(
      doc_id: Long, png_magic: String, width: Long, height: Long,
      n_px: Long, px_sum: Long)

  /** Deterministic image spec for doc_id: dimensions and the grayscale
    * value of each pixel. The closed form is what makes m2
    * ORACLE-CHECKABLE with a REAL codec in the loop: the DuckDB oracle
    * states width/height/Σpixel from the same formulas, so the PNG
    * encode→decode round-trip must reproduce every pixel exactly for
    * the hash gate to pass. */
  def imgWidth(id: Long): Int  = 16 + (id % 16L).toInt
  def imgHeight(id: Long): Int = 16 + ((id / 16L) % 16L).toInt
  def imgPixel(id: Long, x: Int, y: Int): Int =
    ((x * 7L + y * 13L + id) % 256L).toInt

  /** m2: REAL image decode over payload partitions — the payload column
    * is genuine PNG bytes (encoded with the JDK's javax.imageio codec
    * from the deterministic [[imgPixel]] spec), and the features come
    * from DECODING those bytes back: decoded width/height, pixel count,
    * and the exact Σpixel over the decoded raster. A wrong decode —
    * dims off, any pixel corrupted, magic not PNG — fails the DuckDB
    * hash gate, which states the same values from the closed-form spec.
    *
    * The codec runs inside `mapPartitions` with per-partition init
    * (`ImageIO.setUseCache(false)` once per task, the slot where a JNI
    * codec handle or Arrow-batched Python worker would be created) —
    * payloads never shuffle; only the fixed-width feature rows leave
    * the stage. Non-PNG media (JPEG/audio/video) swap the codec at the
    * same init point; the surrounding plumbing is codec-agnostic. */
  def m2DecodeFeatures(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    decodeFeatures(documents(s, d).select(col("doc_id")).as[Long])
      .transform(Output.ordered(_, col("doc_id")))
  }

  /** Library form of [[m2DecodeFeatures]] over any doc-id Dataset,
    * unordered — and therefore valid on UNBOUNDED (streaming) inputs
    * too: the decode is a stateless per-partition map (no shuffle, no
    * watermark, no state), so
    * [[graft.streaming.StreamOps.decodeStream]] is this same function
    * applied at ingest. */
  def decodeFeatures(ids: Dataset[Long]): DataFrame = {
    import ids.sparkSession.implicits._
    ids.mapPartitions { it =>
      // per-partition codec init: no disk-backed stream cache for the
      // in-memory round-trip (JNI codec/worker handle would go here)
      javax.imageio.ImageIO.setUseCache(false)
      it.map { id =>
        val (magic, back) = pngRoundTrip(id)
        val br = back.getRaster
        var sum = 0L
        var yy = 0
        while (yy < back.getHeight) {
          var xx = 0
          while (xx < back.getWidth) { sum += br.getSample(xx, yy, 0); xx += 1 }
          yy += 1
        }
        ImageFeatures(id, magic, back.getWidth.toLong, back.getHeight.toLong,
          back.getWidth.toLong * back.getHeight, sum)
      }
    }.toDF()
  }

  /** The shared encode→DECODE loop: build the raster from the
    * closed-form spec, encode with the REAL PNG codec, decode the
    * bytes back; returns the encoded payload's 4-byte magic and the
    * decoded image. Every image consumer (m2 features, m6 aHash, m18
    * histogram) maps over THIS loop, so a codec-setup change cannot
    * silently diverge one of the gates. */
  private[graft] def pngRoundTrip(id: Long)
      : (String, java.awt.image.BufferedImage) = {
    val w = imgWidth(id); val h = imgHeight(id)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { raster.setSample(x, y, 0, imgPixel(id, x, y)); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val payload = bos.toByteArray // real PNG bytes
    val magic = payload.take(4).map("%02X".format(_)).mkString
    // the REAL decode under test
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload))
    require(back != null, s"PNG decode failed for doc $id")
    (magic, back)
  }

  /** One image's perceptual hash row — the 64-bit aHash split into two
    * 32-bit halves (bit 63 would overflow a signed BIGINT in either
    * engine), plus the decoded dims and popcount. */
  case class ImgHash(
      doc_id: Long, width: Long, height: Long,
      ahash_hi: Long, ahash_lo: Long, bits_set: Long)

  /** m6: perceptual image hash (average hash) over the REAL decoded
    * raster — the multimodal twin of d5's text SimHash: the standard
    * near-duplicate image fingerprint (aHash: partition into an 8×8
    * block grid, bit = block mean above global mean). Runs the same
    * genuine PNG encode→decode loop as m2, then derives every bit with
    * EXACT integer arithmetic (cross-multiplied block/global sums — no
    * float means), so the oracle can restate all 64 bits from the
    * closed-form pixel spec and any decode or blocking fault flips the
    * hash gate. Bit index by·8+bx, hi = bits 32–63, lo = bits 0–31.
    *
    * Scale notes: same contract as m2 — stateless per-partition map,
    * payloads never shuffle, 3 longs leave the stage per image; the
    * downstream near-dup join on the hash is m7's multi-index
    * blocking (the hash IS a 64-bit simhash-family key). */
  def m6ImgHash(s: SparkSession, d: String): DataFrame =
    sharedImgHash(s, d).transform(Output.ordered(_, col("doc_id")))

  /** CROSS-SESSION STANDING image-hash stage — the codec loop (PNG
    * encode→decode→aHash) runs once per CATALOG (not once per
    * session) and persists as a doc_id-bucketed warehouse table
    * ([[graft.operators.Warehouse.standingTable]]'s digest-named +
    * TBLPROPERTIES-validated discipline, the containment-family
    * contract extended to the modality stages): a fresh session on
    * the same catalog reads the standing table without re-decoding
    * the corpus — r12's session-scoped checkpoint made every new
    * session pay the whole decode again (~20 s of m14/m15/m16's
    * driver-bench cold cost was exactly this). All four consumers
    * (m6's listing, m7's pair blocking, m8's incremental split, m14's
    * keep-one metric) read it; the doc_id bucketing serves the
    * manifest join. The session cache above it only skips the
    * per-query catalog validation chatter. */
  private[graft] def sharedImgHash(s: SparkSession, d: String): DataFrame =
    SessionCaches.getOrBuild(imgHashCache, s, d) {
      import s.implicits._
      Warehouse.standingTable(s, "graft_mm_imghash", d) { table =>
        Warehouse.writeStanding(
          imgHash(documents(s, d).select(col("doc_id")).as[Long]),
          table, Seq("doc_id"), MmBuckets)
      }
    }

  private val imgHashCache = SessionCaches.newCache()

  /** Bucket count for the standing modality tables — matches the
    * session shuffle width at the gate SF; at warehouse scale this is
    * the cluster-sized knob every standing family shares. */
  private val MmBuckets = 32

  /** Library form of [[m6ImgHash]] over any doc-id Dataset, unordered
    * (streaming-valid, like [[decodeFeatures]]). */
  def imgHash(ids: Dataset[Long]): DataFrame = {
    import ids.sparkSession.implicits._
    ids.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { id =>
        val (_, back) = pngRoundTrip(id)
        val br = back.getRaster
        val bw = back.getWidth; val bh = back.getHeight
        val blockSum = new Array[Long](64)
        val blockN = new Array[Long](64)
        var totalSum = 0L
        var yy = 0
        while (yy < bh) {
          val by = yy * 8 / bh
          var xx = 0
          while (xx < bw) {
            val v = br.getSample(xx, yy, 0).toLong
            val idx = by * 8 + (xx * 8 / bw)
            blockSum(idx) += v; blockN(idx) += 1; totalSum += v
            xx += 1
          }
          yy += 1
        }
        val nPx = bw.toLong * bh
        var hi = 0L; var lo = 0L; var bits = 0L
        var i = 0
        while (i < 64) {
          // block mean > global mean, exact: cross-multiplied sums
          if (blockSum(i) * nPx > totalSum * blockN(i)) {
            bits += 1
            if (i >= 32) hi |= 1L << (i - 32) else lo |= 1L << i
          }
          i += 1
        }
        ImgHash(id, bw.toLong, bh.toLong, hi, lo, bits)
      }
    }.toDF()
  }

  /** m7 blocking parameters — multi-index hashing (Norouzi et al.'s
    * MIH, the standard exact hamming-range scheme): 4 bands × 16 bits
    * over the 64-bit aHash; every doc INDEXES its 4 band values and
    * PROBES the radius-1 hamming ball around each (4 × 17 keys).
    * Exactness by pigeonhole: ≤ [[M7MaxHamming]] = 7 bit errors over
    * 4 bands leave some band with ≤ ⌊7/4⌋ = 1 error, and a probe ball
    * of radius 1 hits that band's index key exactly — no slack, not
    * probabilistic. Band width must track log₂(n): an 8-bit band has
    * 256 values, so its buckets grow as n/256 and pair expansion goes
    * Θ(n²/256) on ANY corpus once n ≫ 256; 16-bit bands put the
    * random-pair collision floor at 4·17/2¹⁶ ≈ 0.1% of brute force,
    * and wider bands (at exponentially more probe keys for the same
    * radius) buy further selectivity when n demands it. */
  val M7Bands = 4
  val M7BandBits = 16
  val M7MaxHamming = 7L

  /** m7: image near-duplicate pairs — the multimodal twin of d5's text
    * SimHash dedup, closing the loop m6 opens: every pair of images
    * whose aHashes differ in ≤ [[M7MaxHamming]] of 64 bits, found by
    * multi-index hashing (each hash INDEXES its [[M7Bands]] 16-bit
    * band values and PROBES their radius-1 balls; only pairs whose
    * some band is within hamming 1 are compared) with the exact
    * popcount hamming as the verify filter. Duplicate IMAGES — re-encodes,
    * slight crops/brightness shifts — collapse to nearby aHashes even
    * when their bytes differ, which is why image dedup blocks on the
    * perceptual hash rather than the payload md5 (m1's exact tier).
    *
    * Shape: one narrow hash stage (m6's decode map), a ×4 index
    * explode and a ×68 probe explode joined on the band key (ONE
    * shuffle each side), exact filter in codegen, distinct to fold
    * multi-band hits. At 100 TB the index buckets are the skew knob
    * (a constant-color image cluster is the hot key), capped exactly
    * like d3's `maxBucket`; the random-pair collision floor of the
    * blocking is ~0.1% of brute force at these parameters (see
    * [[M7Bands]]). */
  def m7ImgNearDup(s: SparkSession, d: String): DataFrame =
    sharedImgPairs(s, d)
      .withColumn("exact_dup", col("hamming") === 0L)
      .orderBy(col("a"), col("b"))

  /** CROSS-SESSION STANDING image near-dup PAIR stage — the banded
    * MIH probe join (×17 probe fan per band) runs once per catalog
    * over the standing hash table and persists `a`-bucketed
    * (the [[graft.operators.Warehouse.writeContainment]] key
    * discipline: pair consumers window/order per `a`); both consumers
    * (m7's pair listing, m14's manifest edges) read the table.
    * Persisted rows are the tiny survivor set (pairs ≤ hamming cap),
    * never the probe fan. */
  private[graft] def sharedImgPairs(s: SparkSession, d: String): DataFrame =
    SessionCaches.getOrBuild(imgPairCache, s, d) {
      Warehouse.standingTable(s, "graft_mm_imgpairs", d) { table =>
        Warehouse.writeStanding(
          imgNearDupPairs(sharedImgHash(s, d), maxBucket = None),
          table, Seq("a"), MmBuckets)
      }
    }

  private val imgPairCache = SessionCaches.newCache()

  /** Library form of [[m7ImgNearDup]] over any m6-shaped hash frame
    * (doc_id, ahash_hi, ahash_lo), unordered. `maxBucket` is the
    * production skew knob — d3's `maxBucket` carried to the image
    * domain: a run of near-constant images (blank thumbnails, test
    * cards) lands its WHOLE population in one band bucket and the
    * per-bucket pair expansion goes quadratic in it; capped runs drop
    * index buckets larger than the cap before the probe join (losing
    * only pairs whose every qualifying band key is boilerplate-sized —
    * the same bounded loss contract as d3, spec-pinned on a
    * constructed constant-image corpus). None = exact blocking, the
    * oracle-parity posture. */
  private[graft] def imgNearDupPairs(hashes: DataFrame,
      maxBucket: Option[Int]): DataFrame = {
    // the hash stays as its two 32-bit halves end to end — composing
    // the full 64-bit value risks signed-overflow semantics diverging
    // between engines when bit 63 is set
    val hs = hashes
      .select(col("doc_id"), col("ahash_hi").as("hi"), col("ahash_lo").as("lo"))
    def bandVal(b: Int) =
      shiftrightunsigned(if (b < 2) col("lo") else col("hi"), (b % 2) * 16)
        .bitwiseAND(lit(0xFFFFL))
    // index side: the 4 band values verbatim
    val index = hs.select(col("doc_id"), col("hi"), col("lo"),
      explode(array((0 until M7Bands).map(b =>
        struct(lit(b).as("band"), bandVal(b).as("v"))): _*)).as("k"))
    // probe side: each band's radius-1 ball (value + 16 single-bit
    // flips) — an asymmetric join, so a pair collides iff some band is
    // within hamming 1, exactly the pigeonhole qualifying condition
    val probes = hs.select(col("doc_id").as("p_doc"),
      col("hi").as("p_hi"), col("lo").as("p_lo"),
      explode(array((for {
        b <- 0 until M7Bands
        flip <- -1 until M7BandBits
      } yield struct(lit(b).as("band"),
        (if (flip < 0) bandVal(b)
         else bandVal(b).bitwiseXOR(lit(1L << flip))).as("v"))): _*)).as("k"))
    // skew cap on the INDEX bucket (the side pair counts are quadratic
    // in); the count rides the same key the join shuffles on
    val kept = maxBucket.fold(index) { cap =>
      val big = index.groupBy(col("k")).agg(count(lit(1)).as("n"))
        .filter(col("n") > cap).select(col("k"), lit(true).as("over"))
      index.join(broadcast(big), Seq("k"), "left")
        .filter(col("over").isNull).drop("over")
    }
    probes.join(kept, Seq("k"))
      .filter(col("p_doc") < col("doc_id"))
      .select(col("p_doc").as("a"), col("doc_id").as("b"),
        (bit_count(col("p_hi").bitwiseXOR(col("hi"))) +
          bit_count(col("p_lo").bitwiseXOR(col("lo")))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= M7MaxHamming)
      .distinct()
  }

  /** m8: INCREMENTAL image near-dup — d8's standing-index pattern in
    * the image domain: the corpus (bottom ~90% of doc_ids) is a
    * standing hash index; the new batch (top decile, the same exact
    * integer split e16 uses) probes it AND itself, so only pairs
    * TOUCHING the batch are produced — the day-2 ingest query. The
    * oracle is m7's full pairwise answer restricted to batch-touching
    * pairs: the incremental plan must not change WHICH pairs exist,
    * only how much work finding them costs.
    *
    * Shape: the batch side carries the ×17-per-band probe balls, the
    * index side (corpus ∪ batch) only its ×4 identity keys — cost per
    * ingest tracks |batch| × bucket sizes, never corpus×corpus. The
    * index keys are PERSISTED bucketed by the (band, v) join key as
    * the STANDING [[sharedImgIndex]] (the Warehouse postings pattern,
    * `graft_mm_imgidx`), so the corpus side never reshuffles per
    * batch: each ingest pays only the batch-sized probe exchange
    * (WarehouseSpec pins the plan budget and value-parity against the
    * inline index build). */
  def m8ImgIncremental(s: SparkSession, d: String): DataFrame = {
    val hs = sharedImgHash(s, d)
    val mx = hs.agg(max(col("doc_id")).as("mx"))
    val batch = hs.crossJoin(broadcast(mx))
      .filter(col("doc_id") * 10L >= col("mx") * 9L)
      .select(col("doc_id"), col("ahash_hi"), col("ahash_lo"))
    // the standing index holds ALL docs (corpus ∪ batch — in steady
    // state the accumulated ingest), so batch-internal pairs surface
    // exactly as they did from the inline corpus∪batch build
    imgIncrementalFromIndex(sharedImgIndex(s, d), batch)
      .orderBy(col("a"), col("b"))
  }

  /** STANDING banded image-hash index — [[imgIndexKeys]] over the
    * whole [[sharedImgHash]] corpus, persisted bucketed + sorted by
    * the (band, v) probe-join key (`graft_mm_imgidx`; the
    * `graft_shinv` discipline in the image domain). m8's ingest join
    * and any day-2 probe ride the write-time layout with NO
    * corpus-side exchange; batch growth appends with the same
    * bucketing ([[graft.operators.Warehouse.writeImgIndex]]'s
    * append contract). */
  private[graft] def sharedImgIndex(s: SparkSession, d: String): DataFrame =
    SessionCaches.getOrBuild(imgIndexCache, s, d) {
      Warehouse.standingTable(s, "graft_mm_imgidx", d) { t =>
        Warehouse.writeStanding(imgIndexKeys(sharedImgHash(s, d)), t,
          Seq("band", "v"), MmBuckets)
      }
    }

  private val imgIndexCache = SessionCaches.newCache()

  private def bandValOf(b: Int) =
    shiftrightunsigned(if (b < 2) col("lo") else col("hi"), (b % 2) * 16)
      .bitwiseAND(lit(0xFFFFL))

  /** The STANDING image-hash index layout: each image's [[M7Bands]]
    * identity band keys as FLAT (band, v) columns — the persistable
    * form [[graft.operators.Warehouse.writeImgIndex]] buckets by the
    * join key, so incremental ingests read it back with no
    * corpus-side exchange (WarehouseSpec-pinned, the d8 postings
    * contract in the image domain). */
  private[graft] def imgIndexKeys(hashes: DataFrame): DataFrame =
    hashes
      .select(col("doc_id"), col("ahash_hi").as("hi"), col("ahash_lo").as("lo"))
      .select(col("doc_id"), col("hi"), col("lo"),
        explode(array((0 until M7Bands).map(b =>
          struct(lit(b).as("band"), bandValOf(b).as("v"))): _*)).as("k"))
      .select(col("k.band").as("band"), col("k.v").as("v"),
        col("doc_id"), col("hi"), col("lo"))

  /** The m8 join over an explicit standing index ([[imgIndexKeys]]
    * layout — fresh or read back from the bucketed table) and a batch
    * hash frame (m6 shape): batch docs probe their hamming balls,
    * index docs answer — pairs touching the batch only, exact within
    * [[M7MaxHamming]]. The probe join emits one row PER matched band
    * key (a pair sharing several qualifying bands repeats); the final
    * distinct normalizes. */
  private[graft] def imgIncrementalFromIndex(index: DataFrame,
      batch: DataFrame): DataFrame = {
    val probes = batch
      .select(col("doc_id"), col("ahash_hi").as("hi"), col("ahash_lo").as("lo"))
      .select(col("doc_id").as("p_doc"),
        col("hi").as("p_hi"), col("lo").as("p_lo"),
        explode(array((for {
          b <- 0 until M7Bands
          flip <- -1 until M7BandBits
        } yield struct(lit(b).as("band"),
          (if (flip < 0) bandValOf(b)
           else bandValOf(b).bitwiseXOR(lit(1L << flip))).as("v"))): _*)).as("k"))
      .select(col("k.band").as("band"), col("k.v").as("v"),
        col("p_doc"), col("p_hi"), col("p_lo"))
    probes.join(index, Seq("band", "v"))
      .filter(col("p_doc") =!= col("doc_id"))
      .select(col("p_doc"), col("doc_id"),
        (bit_count(col("p_hi").bitwiseXOR(col("hi"))) +
          bit_count(col("p_lo").bitwiseXOR(col("lo")))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= M7MaxHamming)
      .select(least(col("p_doc"), col("doc_id")).as("a"),
        greatest(col("p_doc"), col("doc_id")).as("b"),
        col("hamming"))
      .distinct()
  }

  /** The m8 pipeline over explicit corpus/batch hash frames (m6
    * shape): index = corpus ∪ batch identity keys, then
    * [[imgIncrementalFromIndex]]. */
  private[graft] def imgNearDupIncremental(corpus: DataFrame,
      batch: DataFrame): DataFrame =
    imgIncrementalFromIndex(
      imgIndexKeys(corpus.unionByName(batch)
        .select(col("doc_id"), col("ahash_hi"), col("ahash_lo"))),
      batch)

  /** One decoded audio clip's features — all engine-portable exact
    * integers: decoded frame count, the PCM sample-sum and extrema,
    * plus the container magic of the actual encoded payload. */
  case class AudioFeatures(
      doc_id: Long, wav_magic: String, sample_rate: Long,
      n_samples: Long, amp_sum: Long, amp_min: Long, amp_max: Long)

  val AudioRateHz = 8000f

  /** Deterministic audio spec for doc_id: clip length and the exact
    * PCM16 value of each sample — a sawtooth-family integer wave (no
    * trig: float-free, so both engines state it exactly). As with
    * [[imgPixel]], the closed form is what makes a REAL codec
    * oracle-checkable: DuckDB restates Σ/min/max over the same formula,
    * so the WAV encode→decode round-trip must reproduce every 16-bit
    * sample exactly for the hash gate to pass. */
  def audioSamples(id: Long): Int = 800 + ((id % 16L) * 100L).toInt
  def audioSample(id: Long, t: Int): Int =
    (((t.toLong * (3L + id % 5L) + id) % 2048L) - 1024L).toInt

  /** m5: REAL audio decode over payload partitions — the payload is a
    * genuine WAV container (PCM16 mono, written by the JDK's
    * javax.sound.sampled codec from the [[audioSample]] spec) and the
    * features come from DECODING it back: the container-declared frame
    * length and rate, and the exact Σ/min/max over the decoded 16-bit
    * samples. A wrong decode — header misparsed, byte order flipped,
    * any sample corrupted — fails the DuckDB hash gate.
    *
    * Same plumbing contract as [[decodeFeatures]]: stateless
    * per-partition map (codec handle init once per task), payload bytes
    * never shuffle, only fixed-width features leave the stage — and
    * therefore valid unchanged on unbounded streaming input. */
  def m5AudioFeatures(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    decodeAudioFeatures(documents(s, d).select(col("doc_id")).as[Long])
      .transform(Output.ordered(_, col("doc_id")))
  }

  /** The shared WAV encode→DECODE loop (the audio [[pngRoundTrip]]):
    * synthesize the PCM16 mono payload from the closed-form sample
    * spec, write a real WAV container, decode it back; returns the
    * payload's first 4 bytes (the container magic, raw — hex
    * formatting is m5's concern; the hash/histogram consumers discard
    * it), the decoded rate, the decoded frame count, and every
    * decoded sample. Every audio consumer (m5 features, m9 aHash, m19
    * histogram) maps over THIS loop; `fmt` is the per-partition codec
    * handle each consumer constructs once per task. */
  private[graft] def wavRoundTrip(id: Long,
      fmt: javax.sound.sampled.AudioFormat)
      : (Array[Byte], Long, Long, Array[Long]) = {
    import javax.sound.sampled._
    val n = audioSamples(id)
    val pcm = new Array[Byte](n * 2)
    var t = 0
    while (t < n) {
      val v = audioSample(id, t)
      pcm(2 * t) = (v & 0xff).toByte          // little-endian
      pcm(2 * t + 1) = ((v >> 8) & 0xff).toByte
      t += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong),
      AudioFileFormat.Type.WAVE, bos)
    val payload = bos.toByteArray // real WAV container bytes
    // the REAL decode under test
    val ais = AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(payload))
    val dec = ais.getFormat
    require(dec.getSampleSizeInBits == 16 && dec.getChannels == 1,
      s"unexpected decoded format for doc $id: $dec")
    val frames = ais.getFrameLength
    val raw = ais.readAllBytes()
    val samples = new Array[Long](raw.length / 2)
    var i = 0
    while (i < samples.length) {
      samples(i) = ((raw(2 * i) & 0xff) | (raw(2 * i + 1) << 8)).toShort.toLong
      i += 1
    }
    (payload.take(4), dec.getSampleRate.toLong, frames, samples)
  }

  /** Library form of [[m5AudioFeatures]] over any doc-id Dataset,
    * unordered (streaming-valid — a stateless per-partition map, the
    * [[decodeFeatures]] contract). */
  def decodeAudioFeatures(ids: Dataset[Long]): DataFrame = {
    import ids.sparkSession.implicits._
    ids.mapPartitions { it =>
      // per-partition codec init: the PCM16 little-endian mono format
      // object is the reusable "handle" here
      val fmt = new javax.sound.sampled.AudioFormat(AudioRateHz, 16, 1,
        true, false)
      it.map { id =>
        val (head, rate, frames, samples) = wavRoundTrip(id, fmt)
        val magic = head.map("%02X".format(_)).mkString
        var sum = 0L
        var mn = Long.MaxValue
        var mx = Long.MinValue
        samples.foreach { v =>
          sum += v
          if (v < mn) mn = v
          if (v > mx) mx = v
        }
        AudioFeatures(id, magic, rate, frames, sum, mn, mx)
      }
    }.toDF()
  }

  /** One audio clip's perceptual hash row — 64 temporal-energy bits
    * split into two 32-bit halves (same signed-BIGINT portability trick
    * as [[ImgHash]]). */
  case class AudioHash(
      doc_id: Long, n_samples: Long,
      ahash_hi: Long, ahash_lo: Long, bits_set: Long)

  /** m9: perceptual AUDIO hash over the REAL decoded PCM — the m6
    * pattern carried to the second modality: the clip is split into 64
    * equal time windows and bit_i = (window mean |amplitude| above the
    * clip mean), every comparison the cross-multiplied integer
    * inequality ws·n > total·wn, so the oracle restates all 64 bits
    * from the closed-form [[audioSample]] spec and any decode fault
    * (header, byte order, any sample) flips the hash gate. This is the
    * energy-envelope fingerprint family (Shazam-style constellation
    * hashing reduces to banded comparisons of exactly this kind).
    *
    * The hash rows are drop-in input for the SAME multi-index-hashing
    * pair machinery as images ([[imgNearDupPairs]] — spec-pinned on a
    * constructed twin corpus): blocking is modality-blind once a
    * 64-bit fingerprint exists, which is the point of emitting one.
    * Plumbing contract as m5: stateless per-partition map, payloads
    * never shuffle, 4 longs leave the stage per clip. */
  def m9AudioHash(s: SparkSession, d: String): DataFrame =
    sharedAudioHash(s, d).transform(Output.ordered(_, col("doc_id")))

  /** [[sharedImgHash]]'s audio twin — the WAV decode loop runs once
    * per catalog for m9's listing, m11's pair blocking and m15's
    * keep-one metric. */
  private[graft] def sharedAudioHash(s: SparkSession, d: String): DataFrame =
    SessionCaches.getOrBuild(audioHashCache, s, d) {
      import s.implicits._
      Warehouse.standingTable(s, "graft_mm_audhash", d) { table =>
        Warehouse.writeStanding(
          audioHash(documents(s, d).select(col("doc_id")).as[Long]),
          table, Seq("doc_id"), MmBuckets)
      }
    }

  private val audioHashCache = SessionCaches.newCache()

  /** Library form of [[m9AudioHash]] over any doc-id Dataset, unordered
    * (streaming-valid). */
  def audioHash(ids: Dataset[Long]): DataFrame = {
    import ids.sparkSession.implicits._
    ids.mapPartitions { it =>
      val fmt = new javax.sound.sampled.AudioFormat(AudioRateHz, 16, 1,
        true, false)
      it.map { id =>
        val (_, _, _, samples) = wavRoundTrip(id, fmt)
        val nDec = samples.length
        val ws = new Array[Long](64); val wn = new Array[Long](64)
        var tot = 0L
        var i = 0
        while (i < nDec) {
          val av = math.abs(samples(i))
          val wi = (i * 64 / nDec).toInt
          ws(wi) += av; wn(wi) += 1; tot += av
          i += 1
        }
        var hi = 0L; var lo = 0L; var bits = 0L
        var b = 0
        while (b < 64) {
          if (ws(b) * nDec > tot * wn(b)) {
            bits += 1
            if (b >= 32) hi |= 1L << (b - 32) else lo |= 1L << b
          }
          b += 1
        }
        AudioHash(id, nDec.toLong, hi, lo, bits)
      }
    }.toDF()
  }

  /** Thumbnail sample count (m3): 64 strided samples ≈ an 8×8 thumb. */
  val ThumbSamples = 64
  /** Frame grid (m4): payload split into 16 "frames", every 4th kept. */
  val NFrames = 16
  val FrameStride = 4

  /** m3: resize — strided downsample of the payload to a fixed-size
    * "thumbnail" (every ⌈len/64⌉-th unit, 64 samples), the shape of an
    * image resize with the pixel decode stubbed to byte sampling. Pure
    * Catalyst expressions: at scale this is a narrow codegen'd map over
    * the payload column, no shuffle. */
  def m3Resize(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), col("text").as("payload"),
        length(col("text")).cast("long").as("n_units"))
      .select(col("doc_id"), col("n_units"),
        greatest(idiv(col("n_units"), lit(ThumbSamples.toLong)), lit(1L)).as("stride"),
        col("payload"))
      .select(
        col("doc_id"), col("n_units"), col("stride"),
        array_join(
          transform(sequence(lit(0L), lit(ThumbSamples.toLong - 1)),
            i => col("payload").substr((i * col("stride") + 1L).cast("int"), lit(1))),
          "").as("thumb"))
      .select(col("doc_id"), col("n_units"), col("stride"),
        length(col("thumb")).cast("long").as("thumb_units"),
        md5(col("thumb")).as("thumb_md5"))
      .transform(Output.ordered(_, col("doc_id")))

  /** m4: frame sampling — payload treated as NFrames fixed-length
    * frames; every FrameStride-th frame is extracted and fingerprinted
    * (one output row per sampled frame — the explode is the real
    * plumbing; a video pipeline emits frames exactly like this). */
  def m4FrameSample(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), col("text").as("payload"),
        greatest(idiv(length(col("text")).cast("long"), lit(NFrames.toLong)), lit(1L))
          .as("frame_len"))
      .select(col("doc_id"), col("frame_len"),
        posexplode(
          transform(
            sequence(lit(0L), lit((NFrames / FrameStride).toLong - 1)),
            k => col("payload").substr(
              (k * FrameStride.toLong * col("frame_len") + 1L).cast("int"),
              col("frame_len").cast("int"))))
          .as(Seq("sample_idx", "frame")))
      .filter(length(col("frame")) > 0)
      .select(col("doc_id"),
        (col("sample_idx").cast("long") * FrameStride.toLong).as("frame_idx"),
        col("frame_len"),
        length(col("frame")).cast("long").as("frame_units"),
        md5(col("frame")).as("frame_md5"))
      .transform(Output.ordered(_, col("doc_id"), col("frame_idx")))

  /** Hamming threshold on 32-bit frame signatures for a shot cut
    * (m10): random-content frames sit at E[hamming]=16 of 32 bits;
    * ≥ 12 marks "content changed". */
  val ShotCutHamming = 12

  /** m10: VIDEO SHOT-BOUNDARY detection — the frame-difference pass a
    * video curation pipeline runs before sampling (m4) so samples land
    * one-per-shot instead of blindly k-per-clip: consecutive frame
    * signatures compared by Hamming distance; a distance ≥
    * [[ShotCutHamming]] opens a new shot. Per clip (doc): frame
    * count, cut count, shot count, first cut index.
    *
    * Like m4, frames here are fixed-length slices of the stand-in
    * payload and the per-frame signature is an md5 fold — the REAL
    * pipeline swaps in m6's perceptual image hash per decoded frame
    * (the machinery is modality-blind, the m9 lesson); the dataflow
    * (narrow frame explode → per-clip lag window bounded by
    * [[NFrames]] → per-clip fold) is the production plan as-is.
    * Integer end to end: 32-bit signature folds, bit_count(xor) —
    * bit-identical across engines. */
  /** Per-frame 32-bit signatures of every clip — the shared stage
    * m10's cut detector and m12's keyframe picker both fold over. */
  private def frameSigs(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), col("text").as("payload"),
        greatest(idiv(length(col("text")).cast("long"), lit(NFrames.toLong)),
          lit(1L)).as("frame_len"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0L), lit(NFrames.toLong - 1L)),
          k => col("payload").substr((k * col("frame_len") + 1L).cast("int"),
            col("frame_len").cast("int"))))
          .as(Seq("frame_idx", "frame")))
      .filter(length(col("frame")) > 0)
      .withColumn("sig",
        conv(substring(md5(col("frame")), 1, 8), 16, 10).cast("long"))

  /** m12: KEYFRAME manifest — one representative frame per detected
    * shot (the first frame of each shot: clip start, then every cut
    * frame), the selection stage that feeds an image embedder or a
    * thumbnail store instead of embedding all frames. Composes m10's
    * cut detector with a per-clip running shot index (a cumsum window
    * bounded by [[NFrames]]); emits (doc, shot_idx, start_frame,
    * keyframe signature). Scale = m10's: narrow frame explode, one
    * per-clip lag/cumsum window, output rows = shots ≪ frames. */
  def m12Keyframes(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    frameSigs(s, d)
      .withColumn("prev", lag(col("sig"), 1).over(w))
      .withColumn("cut", col("prev").isNotNull &&
        bit_count(col("sig").bitwiseXOR(col("prev"))) >= ShotCutHamming)
      .withColumn("shot_idx",
        sum(when(col("cut"), 1L).otherwise(0L))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("cut") || col("prev").isNull)
      .select(col("doc_id"), col("shot_idx"),
        col("frame_idx").cast("long").as("start_frame"),
        col("sig").as("keyframe_sig"))
      .orderBy(col("doc_id"), col("shot_idx"))
  }

  /** Minimum temporally-aligned frame matches for an m13 pair: 3
    * consecutive-offset agreements separate real shared footage from
    * single-frame coincidence (21 of 274 (pair, offset) groups reach
    * it at sf0.01 — the planted duplicated passages). */
  val M13MinAligned = 3L

  /** m13: VIDEO COPY DETECTION by temporal-offset voting — the
    * published video near-dup recipe (the temporal Hough alignment of
    * Douze et al.'s frame-voting family): frame-level signature
    * matches between two clips VOTE for their temporal offset
    * `delta = frame_a − frame_b`, and a pair is a copy candidate when
    * some single offset accumulates ≥ [[M13MinAligned]] votes — i.e.
    * a run of frames agrees on ONE alignment, where unrelated clips
    * that coincide on a frame scatter across offsets. Output per
    * detected pair: the winning offset and its vote count (ties break
    * to the smallest delta, deterministically).
    *
    * Reuses m10/m12's per-frame signature stage verbatim (the
    * modality-blind lesson again: swap the md5 fold for m6's
    * perceptual aHash per decoded frame and the dataflow is the
    * production video-copy pipeline unchanged).
    *
    * Scale notes (100 TB): the frame explode is narrow ([[NFrames]]
    * rows/clip); the ONLY corpus-wide shuffle is the equi-join on the
    * 32-bit signature — postings per sig are the skew knob (a
    * constant/black frame is the classic hot key), capped by the
    * count-first [[Dedup.dropOverCapKeys]] discipline via `maxSig`
    * (None here for oracle parity — the cap twin is spec-pinned);
    * offset voting is one pair-space-sized groupBy with map-side
    * combine, and the winning-offset argmax is a mergeable
    * max-of-struct, never a window. */
  def m13VideoNearDup(s: SparkSession, d: String): DataFrame =
    sharedVideoPairs(s, d)
      .orderBy(col("a"), col("b"))

  /** CROSS-SESSION STANDING video temporal-vote pair stage — the
    * [[sharedImgPairs]] discipline on [[temporalNearDup]], persisted
    * once per catalog for m13's listing and m16's manifest edges. */
  private[graft] def sharedVideoPairs(s: SparkSession, d: String): DataFrame =
    SessionCaches.getOrBuild(videoPairCache, s, d) {
      Warehouse.standingTable(s, "graft_mm_vidpairs", d) { table =>
        Warehouse.writeStanding(
          temporalNearDup(frameSigs(s, d), maxSig = None),
          table, Seq("a"), MmBuckets)
      }
    }

  private val videoPairCache = SessionCaches.newCache()

  /** [[sharedImgComponents]]' video twin — the standing row also
    * carries the keep-one METRIC (`n_frames`, the per-clip non-empty
    * frame count): unlike images/audio, video has no standing hash
    * table to read it from, and folding the narrow count into the
    * build makes m16 a SINGLE bucketed scan + per-cluster window in a
    * fresh session (no frame re-explode). */
  private[graft] def sharedVideoComponents(s: SparkSession, d: String): DataFrame =
    SessionCaches.getOrBuild(videoCompCache, s, d) {
      Warehouse.standingTable(s, "graft_mm_vidcomp", d) { table =>
        val comp = graft.operators.Components.connectedComponents(
          documents(s, d).select(col("doc_id").as("id")),
          sharedVideoPairs(s, d).select(col("a"), col("b")))
        val len = frameSigs(s, d).groupBy(col("doc_id").as("id"))
          .agg(count(lit(1)).as("n_frames"))
        Warehouse.writeStanding(
          comp.join(len, Seq("id"), "left")
            .withColumn("n_frames", coalesce(col("n_frames"), lit(0L))),
          table, Seq("id"), MmBuckets)
      }
    }

  private val videoCompCache = SessionCaches.newCache()

  /** Library form of [[m13VideoNearDup]] over any (doc_id, frame_idx,
    * sig) frame table. `maxSig` caps the per-signature posting length
    * (count-first, before any pair expands). */
  def temporalNearDup(frames: DataFrame, maxSig: Option[Long]): DataFrame = {
    val f = frames.select(col("doc_id"), col("frame_idx").cast("long").as("fi"),
      col("sig"))
    val kept = maxSig.fold(f)(m =>
      graft.operators.Dedup.dropOverCapKeys(f, Seq("sig"), m))
    val votes = kept.as("x").join(kept.as("y"),
        col("x.sig") === col("y.sig") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        (col("x.fi") - col("y.fi")).as("delta"))
      .groupBy(col("a"), col("b"), col("delta"))
      .agg(count(lit(1)).as("n"))
    votes
      .groupBy(col("a"), col("b"))
      .agg(max(struct(col("n"), (-col("delta")).as("nd"))).as("t"))
      .select(col("a"), col("b"), (-col("t.nd")).as("best_delta"),
        col("t.n").as("n_aligned"))
      .filter(col("n_aligned") >= M13MinAligned)
  }

  /** m14: IMAGE DEDUP MANIFEST — the full keep-one recipe (pairs →
    * transitive closure → canonical selection, d6/d11's machinery)
    * applied to the image modality: m7's MIH-blocked aHash pairs are
    * the edges, [[graft.operators.Components.connectedComponents]]
    * resolves clusters, and each cluster keeps its
    * HIGHEST-RESOLUTION copy (max width·height, ties to the smallest
    * doc_id) — the image-dedup policy, where text dedup keeps the
    * quality argmax (d11) and near-dup sets collapse to the best
    * master. Every doc ships with its cluster, pixel count, the kept
    * canonical and the keep/drop bit.
    *
    * Scale notes (100 TB): pair generation is m7's (banded MIH, never
    * all-pairs, `maxBucket`-cappable); the closure is the
    * alternating-star CC (O(log n) rounds); the keep-one window runs
    * per cluster — bounded by construction, mutual-near-dup sets are
    * small. Nothing here is new machinery: the row exists to pin that
    * the recipe composes UNCHANGED across modalities. */
  def m14ImgManifest(s: SparkSession, d: String): DataFrame = {
    val hashes = sharedImgHash(s, d)
    val comp = sharedImgComponents(s, d)
    val px = hashes.select(col("doc_id"),
      (col("width") * col("height")).as("n_px"))
    val w = Window.partitionBy(col("cluster_rep"))
      .orderBy(col("n_px").desc, col("doc_id"))
    comp.select(col("id").as("doc_id"), col("rep").as("cluster_rep"))
      .join(px, Seq("doc_id"))
      .withColumn("canonical_id", first(col("doc_id")).over(w))
      .withColumn("keep",
        when(col("doc_id") === col("canonical_id"), 1L).otherwise(0L))
      .select(col("doc_id"), col("cluster_rep"), col("n_px"),
        col("canonical_id"), col("keep"))
      .orderBy(col("doc_id"))
  }

  /** m16: VIDEO DEDUP MANIFEST — the keep-one recipe's FOURTH modality,
    * completing the quartet (text keeps the quality argmax, images the
    * highest resolution, audio the longest clip, video the clip with
    * the MOST NON-EMPTY FRAMES — max n_frames, doc_id tiebreak): m13's
    * temporal-offset-vote pairs as edges, alternating-star CC, one
    * canonical per cluster. Same machinery, fourth modality — the
    * modality-blind claim closed over every media type the engine
    * models. Pair and component stages are session-shared with m13
    * (the m14/m15 discipline). */
  def m16VideoManifest(s: SparkSession, d: String): DataFrame = {
    val comp = sharedVideoComponents(s, d)
    val w = Window.partitionBy(col("cluster_rep"))
      .orderBy(col("n_frames").desc, col("doc_id"))
    comp.select(col("id").as("doc_id"), col("rep").as("cluster_rep"),
        col("n_frames"))
      .withColumn("canonical_id", first(col("doc_id")).over(w))
      .withColumn("keep",
        when(col("doc_id") === col("canonical_id"), 1L).otherwise(0L))
      .select(col("doc_id"), col("cluster_rep"), col("n_frames"),
        col("canonical_id"), col("keep"))
      .orderBy(col("doc_id"))
  }

  def m10ShotBoundaries(s: SparkSession, d: String): DataFrame = {
    val fr = frameSigs(s, d)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    fr.withColumn("prev", lag(col("sig"), 1).over(w))
      .withColumn("cut", col("prev").isNotNull &&
        bit_count(col("sig").bitwiseXOR(col("prev"))) >= ShotCutHamming)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("cut"), 1L).otherwise(0L)).as("n_cuts"),
        (sum(when(col("cut"), 1L).otherwise(0L)) + 1L).as("n_shots"),
        min(when(col("cut"), col("frame_idx").cast("long")))
          .as("first_cut_idx"))
      .orderBy(col("doc_id"))
  }

  /** m11: AUDIO near-dup pairs — the m7 claim ("the multi-index-
    * hashing machinery is modality-blind") cashed in as its own
    * oracle-gated query: m9's temporal-energy audio hashes feed the
    * SAME banded MIH blocking + exact hamming filter that powers
    * image near-dup, unchanged — clips within [[M7MaxHamming]] of 64
    * bits pair up, exactness by the same 4-band radius-1 pigeonhole.
    * The oracle recomputes the audio hash closed-form and brute-
    * forces the pair space, so the gate proves the blocking loses
    * nothing on this modality too. */
  def m11AudioNearDup(s: SparkSession, d: String): DataFrame =
    sharedAudioPairs(s, d)
      .withColumn("exact_dup", col("hamming") === 0L)
      .orderBy(col("a"), col("b"))

  /** [[sharedImgPairs]]' audio twin: the MIH pair join over the
    * temporal-energy hashes, persisted once per catalog for m11's
    * listing and m15's manifest edges. */
  private[graft] def sharedAudioPairs(s: SparkSession, d: String): DataFrame =
    SessionCaches.getOrBuild(audioPairCache, s, d) {
      Warehouse.standingTable(s, "graft_mm_audpairs", d) { table =>
        Warehouse.writeStanding(
          imgNearDupPairs(
            sharedAudioHash(s, d)
              .select(col("doc_id"), col("ahash_hi"), col("ahash_lo")),
            maxBucket = None),
          table, Seq("a"), MmBuckets)
      }
    }

  private val audioPairCache = SessionCaches.newCache()

  /** CROSS-SESSION STANDING cluster resolution per modality — the
    * alternating-star CC loop (an iterative multi-job stage) runs
    * once per catalog over the standing hash/pair tables and persists
    * as an id-bucketed (id, rep) table; every manifest consumer in
    * every session reads the standing map. The resolution is a pure
    * function of the standing pair set, which is itself a pure
    * function of the corpus directory — the whole modality chain
    * (decode → pairs → components) is now pay-once per catalog. */
  private[graft] def sharedImgComponents(s: SparkSession, d: String): DataFrame =
    SessionCaches.getOrBuild(imgCompCache, s, d) {
      Warehouse.standingTable(s, "graft_mm_imgcomp", d) { table =>
        Warehouse.writeStanding(
          graft.operators.Components.connectedComponents(
            sharedImgHash(s, d).select(col("doc_id").as("id")),
            sharedImgPairs(s, d).select(col("a"), col("b"))),
          table, Seq("id"), MmBuckets)
      }
    }

  private val imgCompCache = SessionCaches.newCache()

  /** [[sharedImgComponents]]' audio twin. */
  private[graft] def sharedAudioComponents(s: SparkSession, d: String): DataFrame =
    SessionCaches.getOrBuild(audioCompCache, s, d) {
      Warehouse.standingTable(s, "graft_mm_audcomp", d) { table =>
        Warehouse.writeStanding(
          graft.operators.Components.connectedComponents(
            sharedAudioHash(s, d).select(col("doc_id").as("id")),
            sharedAudioPairs(s, d).select(col("a"), col("b"))),
          table, Seq("id"), MmBuckets)
      }
    }

  private val audioCompCache = SessionCaches.newCache()

  /** m15: AUDIO DEDUP MANIFEST — [[m14ImgManifest]]'s recipe on the
    * audio modality, completing the per-modality trio (text keeps the
    * quality argmax, images the highest resolution, audio the LONGEST
    * clip — max n_samples, doc_id tiebreak): m11's MIH-blocked
    * temporal-energy-hash pairs as edges, alternating-star CC,
    * keep-one per cluster. Same machinery, third modality — the
    * modality-blind claim cashed end-to-end everywhere. */
  def m15AudioManifest(s: SparkSession, d: String): DataFrame = {
    val hashes = sharedAudioHash(s, d)
    val comp = sharedAudioComponents(s, d)
    val len = hashes.select(col("doc_id"), col("n_samples"))
    val w = Window.partitionBy(col("cluster_rep"))
      .orderBy(col("n_samples").desc, col("doc_id"))
    comp.select(col("id").as("doc_id"), col("rep").as("cluster_rep"))
      .join(len, Seq("doc_id"))
      .withColumn("canonical_id", first(col("doc_id")).over(w))
      .withColumn("keep",
        when(col("doc_id") === col("canonical_id"), 1L).otherwise(0L))
      .select(col("doc_id"), col("cluster_rep"), col("n_samples"),
        col("canonical_id"), col("keep"))
      .orderBy(col("doc_id"))
  }

  /** m17: CROSS-MODAL DEDUP MANIFEST — the keep-one quartet composed
    * ACROSS modalities, the real curation decision for an interleaved
    * corpus: per-modality manifests (m14, d11) would drop a document
    * whose text is a near-dup even when its IMAGE is distinct (and
    * vice versa), throwing away the only copy of that image. Policy
    * (stated): a document is a cross-modal duplicate ONLY when some
    * other document shares BOTH its text cluster (d6's SimHash
    * closure) and its image cluster (m14's aHash closure); each such
    * JOINT group keeps its minimum doc_id. A doc with near-dup text
    * but a distinct image forms its own joint group and is kept.
    *
    * Composition only — the text closure is [[graft.operators.Dedup
    * .sharedClusters]] (its standing machinery) and the image closure
    * is [[sharedImgComponents]] (the standing warehouse table); the
    * new work is ONE doc_id join (both sides standing/bucketed) and
    * one window over the joint key, bounded per group by construction
    * (joint groups are intersections of near-dup sets). The oracle
    * restates BOTH closures as CTEs verbatim (the x38 pattern) and
    * the joint keep-one on top.
    *
    * Scale notes (100 TB): both inputs are standing artifacts
    * (doc_id-/id-bucketed), so the join plans exchange-free over the
    * warehouse layouts; the only new shuffle is the joint-key window,
    * whose partitions are ≤ min(|text cluster|, |img cluster|). */
  def m17CrossModalManifest(s: SparkSession, d: String): DataFrame =
    jointKeepOne(
      graft.operators.Dedup.sharedClusters(s, d)
        .select(col("doc_id"), col("cluster_rep").as("text_cluster")),
      sharedImgComponents(s, d)
        .select(col("id").as("doc_id"), col("rep").as("img_cluster")))
      .orderBy(col("doc_id"))

  /** The joint (text_cluster, img_cluster) keep-one over any two
    * per-doc cluster frames — m17's policy stated ONCE, shared with
    * the streaming composition
    * ([[graft.streaming.StreamOps.crossModalManifest]]) so a
    * tie-break change cannot silently break the spec-pinned
    * composed ≡ batch equality. Unordered.
    *
    * FULL-outer on doc_id: the streaming composition's two stores
    * drain at independent offsets, so a document may have reached
    * only one modality's closure when the manifest is read. The
    * policy ("duplicate only when another doc shares BOTH clusters")
    * cannot convict such a doc — its missing cluster is unknown — so
    * it forms its own joint group (keep = 1, null for the missing
    * modality) instead of silently vanishing from the manifest. The
    * surrogate -(doc_id+1) makes each single-modality doc its own
    * window partition (cluster reps are doc ids ≥ 0, so surrogates
    * can never collide with a real cluster); when both inputs cover
    * the corpus (the batch m17 case) no surrogate fires and the
    * full-outer is exactly the inner join. */
  private[graft] def jointKeepOne(txt: DataFrame, img: DataFrame): DataFrame = {
    val w = Window.partitionBy(
      coalesce(col("text_cluster"), -(col("doc_id") + lit(1L))),
      coalesce(col("img_cluster"), -(col("doc_id") + lit(1L))))
    txt.join(img, Seq("doc_id"), "full_outer")
      .withColumn("n_joint", count(lit(1)).over(w))
      .withColumn("canonical_id", min(col("doc_id")).over(w))
      .withColumn("keep",
        when(col("doc_id") === col("canonical_id"), 1L).otherwise(0L))
      .select(col("doc_id"), col("text_cluster"), col("img_cluster"),
        col("n_joint"), col("canonical_id"), col("keep"))
  }

  /** One image's 8-bin intensity histogram over the REAL decoded
    * raster — the image-side embedding of the m18 alignment filter. */
  case class ImgHistRow(doc_id: Long, hist: Seq[Long])

  /** Histogram bins (intensity 0–255 in 8 bins of 32) and the e6
    * per-element fixed point of the text-side projection. */
  val AlignBins = 8

  /** Keep threshold of the m18 alignment filter (e6 cosine). */
  val AlignKeepE6 = 0L

  /** Library form of the m18 image stage over any doc-id Dataset:
    * encode→DECODE the real PNG (same loop as [[imgHash]]), then an
    * 8-bin intensity histogram of the decoded raster — unordered,
    * streaming-valid (stateless per-partition map). */
  def imgHistogram(ids: Dataset[Long]): DataFrame = {
    import ids.sparkSession.implicits._
    ids.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { id =>
        val (_, back) = pngRoundTrip(id)
        val br = back.getRaster
        val bins = new Array[Long](AlignBins)
        var yy = 0
        while (yy < back.getHeight) {
          var xx = 0
          while (xx < back.getWidth) {
            bins(br.getSample(xx, yy, 0) / 32) += 1; xx += 1
          }
          yy += 1
        }
        ImgHistRow(id, bins.toSeq)
      }
    }.toDF()
  }

  /** Library form of the m19 audio stage: encode→DECODE the real WAV
    * (the shared [[wavRoundTrip]] loop), then an 8-bin amplitude
    * histogram of the decoded samples (bins of 256 over the spec's
    * [−1024, 1024) amplitude range, clamped protectively) —
    * unordered, streaming-valid like [[imgHistogram]]. */
  def audioHistogram(ids: Dataset[Long]): DataFrame = {
    import ids.sparkSession.implicits._
    ids.mapPartitions { it =>
      val fmt = new javax.sound.sampled.AudioFormat(AudioRateHz, 16, 1,
        true, false)
      it.map { id =>
        val (_, _, _, samples) = wavRoundTrip(id, fmt)
        val bins = new Array[Long](AlignBins)
        samples.foreach { v =>
          bins(math.min(AlignBins - 1,
            math.max(0, ((v + 1024L) / 256L).toInt))) += 1
        }
        ImgHistRow(id, bins.toSeq)
      }
    }.toDF()
  }

  /** m19: the AUDIO-text alignment gate — m18's construction with the
    * WAV codec in the loop: audio side = 8-bin amplitude histogram of
    * the REAL decoded samples, text side = the same [[textFold]], keep
    * ⇔ cosine ≥ [[AlignKeepE6]]. Shares [[alignScores]] verbatim with
    * m18 (and therefore the stream-twin composition — the histogram
    * stage is stateless and per-partition). The oracle restates the
    * audio side from the closed-form sample spec, so a WAV codec
    * fault upstream of the histogram fails the hash gate. */
  def m19AudioAlignFilter(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    alignScores(
      audioHistogram(documents(s, d).select(col("doc_id")).as[Long]),
      textFold(embeddings(s, d)))
      .transform(Output.ordered(_, col("doc_id")))
  }

  /** m18: CROSS-MODAL ALIGNMENT FILTER — the CLIP-score curation gate
    * of image-text corpus building (keep a pair only when the two
    * modalities' embeddings agree; the LAION construction): the
    * image-side embedding is the 8-bin intensity histogram of the REAL
    * decoded raster, the text-side embedding is the document's vector
    * folded to 8 dims (consecutive 8-element chunk sums, e6 fixed
    * point), and the alignment is their cosine. Output per doc: the e6
    * alignment score and the keep decision (score ≥ [[AlignKeepE6]]).
    * The oracle restates the image side from the closed-form pixel
    * spec, so a codec fault anywhere upstream of the histogram fails
    * the hash gate.
    *
    * Scale notes (100 TB): the decode is a stateless per-partition map
    * (payloads never shuffle — features only); the text fold is a
    * narrow projection over the embedding column; the single exchange
    * pair is the id-equi-join of the two feature frames (both
    * corpus-sized ⇒ hash join; at warehouse scale both sides ride
    * id-bucketed standing tables like the m14–m17 manifests and the
    * join plans exchange-free). Determinism: histogram counts and
    * chunk sums are exact integers; the one double is the final
    * correctly-rounded cosine — the cos_e6 contract. A zero text fold
    * (all chunk sums round to 0) reports alignment 0 by convention,
    * guarded not hoped. */
  def m18AlignmentFilter(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    alignScores(
      imgHistogram(documents(s, d).select(col("doc_id")).as[Long]),
      textFold(embeddings(s, d)))
      .transform(Output.ordered(_, col("doc_id")))
  }

  /** Text-side fold of the m18 alignment: the document vector reduced
    * to [[AlignBins]] dims by consecutive 8-element chunk sums, e6
    * fixed point per element — a narrow projection over the embedding
    * column. */
  def textFold(emb: DataFrame): DataFrame = {
    // the fold reads exactly AlignBins consecutive 8-element chunks;
    // if Similarity.Dim ever moves, Spark's slice() and the oracle's
    // DuckDB list slicing would BOTH silently truncate the same way,
    // so the oracle gate cannot catch the omission — fail loudly here
    require(Similarity.Dim == AlignBins * 8,
      s"textFold assumes Dim=${AlignBins * 8} (AlignBins=$AlignBins × 8); " +
        s"Similarity.Dim is ${Similarity.Dim}")
    emb.select(
      col("vec_id"),
      transform(sequence(lit(0), lit(AlignBins - 1)), j =>
        aggregate(slice(col("embedding"), j * lit(8) + lit(1), lit(8)),
          lit(0L),
          (acc, x) => acc + round(x.cast("double") * 1e6).cast("long")))
        .as("tvec"))
  }

  /** Score+threshold stage of m18 over explicit (doc_id, hist) and
    * (vec_id, tvec) frames — shared verbatim by the batch query and
    * the ingest twin ([[graft.streaming.StreamOps.alignFilterStream]]):
    * stateless projections around one id-equi-join, so it is valid
    * with either side unbounded (stream-static join), batch ≡ stream
    * by construction. Unordered. */
  def alignScores(hist: DataFrame, txt: DataFrame): DataFrame = {
    val dotL = aggregate(zip_with(col("hist"), col("tvec"), _ * _),
      lit(0L), _ + _)
    val naL = aggregate(col("hist"), lit(0L), (a, x) => a + x * x)
    val nbL = aggregate(col("tvec"), lit(0L), (a, x) => a + x * x)
    hist.join(txt, col("doc_id") === col("vec_id"))
      .select(col("doc_id"),
        dotL.as("dot"), naL.as("na"), nbL.as("nb"))
      .select(col("doc_id"),
        when(col("nb") === 0L, lit(0L))
          .otherwise(round(col("dot").cast("double") /
            (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double")))
            * 1e6).cast("long"))
          .as("align_e6"))
      .withColumn("keep",
        when(col("align_e6") >= AlignKeepE6, lit(1L)).otherwise(lit(0L)))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m1_binary_meta"     -> m1BinaryMeta _,
    "m2_decode_features" -> m2DecodeFeatures _,
    "m3_resize"          -> m3Resize _,
    "m4_frame_sample"    -> m4FrameSample _,
    "m5_audio_features"  -> m5AudioFeatures _,
    "m6_imghash"         -> m6ImgHash _,
    "m7_img_neardup"     -> m7ImgNearDup _,
    "m8_img_incremental" -> m8ImgIncremental _,
    "m9_audiohash"       -> m9AudioHash _,
    "m10_shot_bounds"    -> m10ShotBoundaries _,
    "m11_audio_neardup"  -> m11AudioNearDup _,
    "m12_keyframes"      -> m12Keyframes _,
    "m13_video_neardup"  -> m13VideoNearDup _,
    "m14_img_manifest"   -> m14ImgManifest _,
    "m15_audio_manifest" -> m15AudioManifest _,
    "m16_video_manifest" -> m16VideoManifest _,
    "m17_crossmodal"     -> m17CrossModalManifest _,
    "m18_align_filter"   -> m18AlignmentFilter _,
    "m19_audio_align"    -> m19AudioAlignFilter _,
  )

  /** m19's oracle: amplitude histogram from the closed-form sample
    * spec (m5's formulas), then m18's exact cosine/keep chain. */
  private def audioAlignOracle: String = {
    val histCols = (0 until AlignBins).map(b =>
      s"sum(CASE WHEN bin = $b THEN 1 ELSE 0 END) AS h$b").mkString(",\n    ")
    val tvecCols = (0 until AlignBins).map(j =>
      s"""coalesce(list_sum(list_transform(range(1, 9), i ->
         |      CAST(round(embedding[${j * 8} + i]::DOUBLE * 1e6) AS BIGINT))), 0) AS t$j"""
        .stripMargin).mkString(",\n    ")
    val dot = (0 until AlignBins).map(j => s"h$j*t$j").mkString(" + ")
    val na = (0 until AlignBins).map(j => s"h$j*h$j").mkString(" + ")
    val nb = (0 until AlignBins).map(j => s"t$j*t$j").mkString(" + ")
    s"""WITH d AS (SELECT doc_id, 800 + (doc_id % 16) * 100 AS n,
       |    3 + doc_id % 5 AS k FROM documents),
       |sm AS (SELECT d.doc_id,
       |    (((t.t * d.k + d.doc_id) % 2048) - 1024 + 1024) // 256 AS bin
       |  FROM d, range(0, 2400) t(t) WHERE t.t < d.n),
       |hv AS (SELECT doc_id,
       |    $histCols
       |  FROM sm GROUP BY doc_id),
       |tv AS (SELECT vec_id,
       |    $tvecCols
       |  FROM embeddings),
       |sc AS (SELECT hv.doc_id, $dot AS dot, $na AS na, $nb AS nb
       |  FROM hv JOIN tv ON hv.doc_id = tv.vec_id),
       |al AS (SELECT doc_id,
       |    CASE WHEN nb = 0 THEN CAST(0 AS BIGINT)
       |      ELSE CAST(round(dot::DOUBLE / (sqrt(na::DOUBLE) * sqrt(nb::DOUBLE))
       |        * 1e6) AS BIGINT) END AS align_e6
       |  FROM sc)
       |SELECT doc_id, align_e6,
       |  CAST(CASE WHEN align_e6 >= $AlignKeepE6 THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM al ORDER BY doc_id""".stripMargin
  }

  /** m18's oracle: image histogram from the closed-form pixel spec,
    * text fold as e6 chunk sums, cosine in the shared integer chain. */
  private def alignFilterOracle: String = {
    val histCols = (0 until AlignBins).map(b =>
      s"sum(CASE WHEN bin = $b THEN 1 ELSE 0 END) AS h$b").mkString(",\n    ")
    val tvecCols = (0 until AlignBins).map(j =>
      s"""coalesce(list_sum(list_transform(range(1, 9), i ->
         |      CAST(round(embedding[${j * 8} + i]::DOUBLE * 1e6) AS BIGINT))), 0) AS t$j"""
        .stripMargin).mkString(",\n    ")
    val dot = (0 until AlignBins).map(j => s"h$j*t$j").mkString(" + ")
    val na = (0 until AlignBins).map(j => s"h$j*h$j").mkString(" + ")
    val nb = (0 until AlignBins).map(j => s"t$j*t$j").mkString(" + ")
    s"""WITH d AS (SELECT doc_id, 16 + doc_id % 16 AS w,
       |    16 + (doc_id // 16) % 16 AS h FROM documents),
       |px AS (SELECT d.doc_id, ((x.x*7 + y.y*13 + d.doc_id) % 256) // 32 AS bin
       |  FROM d, range(0, 32) x(x), range(0, 32) y(y)
       |  WHERE x.x < d.w AND y.y < d.h),
       |hv AS (SELECT doc_id,
       |    $histCols
       |  FROM px GROUP BY doc_id),
       |tv AS (SELECT vec_id,
       |    $tvecCols
       |  FROM embeddings),
       |sc AS (SELECT hv.doc_id, $dot AS dot, $na AS na, $nb AS nb
       |  FROM hv JOIN tv ON hv.doc_id = tv.vec_id),
       |al AS (SELECT doc_id,
       |    CASE WHEN nb = 0 THEN CAST(0 AS BIGINT)
       |      ELSE CAST(round(dot::DOUBLE / (sqrt(na::DOUBLE) * sqrt(nb::DOUBLE))
       |        * 1e6) AS BIGINT) END AS align_e6
       |  FROM sc)
       |SELECT doc_id, align_e6,
       |  CAST(CASE WHEN align_e6 >= $AlignKeepE6 THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM al ORDER BY doc_id""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "m18_align_filter" -> alignFilterOracle,
    "m19_audio_align" -> audioAlignOracle,
    // BOTH closures restated verbatim — d6's SimHash reach (t/sg/p/e/
    // reach) and m14's aHash reach (dd/px/tot/blk/bits/hsh/p2/e2/
    // reach2) — then the joint (text_cluster, img_cluster) keep-one
    "m17_crossmodal" ->
      """WITH RECURSIVE t AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), w -> w != '') ws FROM documents),
        |sg AS (SELECT doc_id,
        |    list_aggregate(list_transform(range(1, 33), j ->
        |      CASE WHEN coalesce(list_sum(list_transform(ws, w ->
        |          CASE WHEN substr(md5(w), j, 1) >= '8' THEN 1 ELSE -1 END)), 0) >= 0
        |        THEN '1' ELSE '0' END), 'string_agg', '') AS sig
        |  FROM t),
        |p AS (SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM sg a JOIN sg b ON a.doc_id < b.doc_id
        |  WHERE coalesce(list_sum(list_transform(range(1, 33), j ->
        |    CASE WHEN substr(a.sig, j, 1) <> substr(b.sig, j, 1) THEN 1 ELSE 0 END)), 0) <= 1),
        |e AS (SELECT a AS u, b AS v FROM p UNION SELECT b, a FROM p),
        |reach(src, dst) AS (
        |  SELECT doc_id, doc_id FROM t
        |  UNION
        |  SELECT r.src, e.v FROM reach r JOIN e ON r.dst = e.u),
        |tcomp AS (SELECT src AS doc_id, CAST(min(dst) AS BIGINT) AS text_cluster
        |  FROM reach GROUP BY src),
        |dd AS (SELECT doc_id, 16 + doc_id % 16 AS w,
        |    16 + (doc_id // 16) % 16 AS h FROM documents),
        |px AS (SELECT dd.doc_id,
        |    (x.x*7 + y.y*13 + dd.doc_id) % 256 AS v,
        |    ((y.y * 8) // dd.h) * 8 + (x.x * 8) // dd.w AS idx
        |  FROM dd, range(0, 32) x(x), range(0, 32) y(y)
        |  WHERE x.x < dd.w AND y.y < dd.h),
        |tot AS (SELECT doc_id, sum(v) AS tot_sum, count(*) AS n_px
        |  FROM px GROUP BY doc_id),
        |blk AS (SELECT doc_id, idx, sum(v) AS b_sum, count(*) AS b_n
        |  FROM px GROUP BY doc_id, idx),
        |bits AS (SELECT blk.doc_id, blk.idx,
        |    CASE WHEN blk.b_sum * tot.n_px > tot.tot_sum * blk.b_n
        |      THEN 1 ELSE 0 END AS bit
        |  FROM blk JOIN tot USING (doc_id)),
        |hsh AS (SELECT doc_id,
        |    CAST(sum(CASE WHEN bit = 1 AND idx >= 32
        |      THEN 1::BIGINT << (idx - 32) ELSE 0 END) AS BIGINT) AS hi,
        |    CAST(sum(CASE WHEN bit = 1 AND idx < 32
        |      THEN 1::BIGINT << idx ELSE 0 END) AS BIGINT) AS lo
        |  FROM bits GROUP BY doc_id),
        |p2 AS (SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM hsh a JOIN hsh b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 7),
        |e2 AS (SELECT a AS u, b AS v FROM p2 UNION SELECT b, a FROM p2),
        |reach2(src, dst) AS (
        |  SELECT doc_id, doc_id FROM dd
        |  UNION
        |  SELECT r.src, e2.v FROM reach2 r JOIN e2 ON r.dst = e2.u),
        |icomp AS (SELECT src AS doc_id, CAST(min(dst) AS BIGINT) AS img_cluster
        |  FROM reach2 GROUP BY src),
        |j AS (SELECT tcomp.doc_id, tcomp.text_cluster, icomp.img_cluster
        |  FROM tcomp JOIN icomp USING (doc_id)),
        |g AS (SELECT text_cluster, img_cluster,
        |    CAST(count(*) AS BIGINT) AS n_joint,
        |    CAST(min(doc_id) AS BIGINT) AS canonical_id
        |  FROM j GROUP BY 1, 2)
        |SELECT j.doc_id, j.text_cluster, j.img_cluster, g.n_joint,
        |  g.canonical_id,
        |  CAST(CASE WHEN j.doc_id = g.canonical_id THEN 1 ELSE 0 END
        |    AS BIGINT) AS keep
        |FROM j JOIN g USING (text_cluster, img_cluster)
        |ORDER BY j.doc_id""".stripMargin,
    // m9's closed-form hash + m7's brute-force pair tail: the gate
    // proves the MIH blocking loses nothing on the audio modality
    "m11_audio_neardup" ->
      """WITH d AS (SELECT doc_id, 800 + (doc_id % 16) * 100 AS n FROM documents),
        |s AS (SELECT d.doc_id, d.n,
        |    abs(((t.t * (3 + d.doc_id % 5) + d.doc_id) % 2048) - 1024) AS av,
        |    (t.t * 64) // d.n AS wi
        |  FROM d, range(0, 2400) t(t) WHERE t.t < d.n),
        |tot AS (SELECT doc_id, sum(av) AS ts, count(*) AS np
        |  FROM s GROUP BY doc_id),
        |wnd AS (SELECT doc_id, wi, sum(av) AS ws, count(*) AS wn
        |  FROM s GROUP BY doc_id, wi),
        |bits AS (SELECT w.doc_id, w.wi,
        |    CASE WHEN w.ws * tot.np > tot.ts * w.wn THEN 1 ELSE 0 END AS bit
        |  FROM wnd w JOIN tot USING (doc_id)),
        |h AS (SELECT doc_id,
        |    CAST(sum(CASE WHEN bit = 1 AND wi >= 32
        |      THEN 1::BIGINT << (wi - 32) ELSE 0 END) AS BIGINT) AS hi,
        |    CAST(sum(CASE WHEN bit = 1 AND wi < 32
        |      THEN 1::BIGINT << wi ELSE 0 END) AS BIGINT) AS lo
        |  FROM bits GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS a, b.doc_id AS b,
        |    CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
        |      AS BIGINT) AS hamming
        |  FROM h a JOIN h b ON a.doc_id < b.doc_id)
        |SELECT a, b, hamming, hamming = 0 AS exact_dup
        |FROM p WHERE hamming <= 7 ORDER BY a, b""".stripMargin,
    // m7's full pairwise answer restricted to batch-touching pairs —
    // the incremental plan must not change WHICH pairs exist
    "m8_img_incremental" ->
      """WITH d AS (SELECT doc_id, 16 + doc_id % 16 AS w,
        |    16 + (doc_id // 16) % 16 AS h FROM documents),
        |px AS (SELECT d.doc_id,
        |    (x.x*7 + y.y*13 + d.doc_id) % 256 AS v,
        |    ((y.y * 8) // d.h) * 8 + (x.x * 8) // d.w AS idx
        |  FROM d, range(0, 32) x(x), range(0, 32) y(y)
        |  WHERE x.x < d.w AND y.y < d.h),
        |tot AS (SELECT doc_id, sum(v) AS tot_sum, count(*) AS n_px
        |  FROM px GROUP BY doc_id),
        |blk AS (SELECT doc_id, idx, sum(v) AS b_sum, count(*) AS b_n
        |  FROM px GROUP BY doc_id, idx),
        |bits AS (SELECT blk.doc_id, blk.idx,
        |    CASE WHEN blk.b_sum * tot.n_px > tot.tot_sum * blk.b_n
        |      THEN 1 ELSE 0 END AS bit
        |  FROM blk JOIN tot USING (doc_id)),
        |h AS (SELECT doc_id,
        |    CAST(sum(CASE WHEN bit = 1 AND idx >= 32
        |      THEN 1::BIGINT << (idx - 32) ELSE 0 END) AS BIGINT) AS hi,
        |    CAST(sum(CASE WHEN bit = 1 AND idx < 32
        |      THEN 1::BIGINT << idx ELSE 0 END) AS BIGINT) AS lo
        |  FROM bits GROUP BY doc_id),
        |m AS (SELECT max(doc_id) AS mx FROM documents),
        |p AS (SELECT a.doc_id AS a, b.doc_id AS b,
        |    CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
        |      AS BIGINT) AS hamming
        |  FROM h a JOIN h b ON a.doc_id < b.doc_id)
        |SELECT a, b, hamming FROM p CROSS JOIN m
        |WHERE hamming <= 7 AND (a * 10 >= mx * 9 OR b * 10 >= mx * 9)
        |ORDER BY a, b""".stripMargin,
    // pairwise popcount over the closed-form aHash halves (500 docs →
    // 125k pairs, trivially exact in the oracle; the ENGINE uses the
    // banded blocking — the oracle checks the answer, not the plan)
    "m7_img_neardup" ->
      """WITH d AS (SELECT doc_id, 16 + doc_id % 16 AS w,
        |    16 + (doc_id // 16) % 16 AS h FROM documents),
        |px AS (SELECT d.doc_id,
        |    (x.x*7 + y.y*13 + d.doc_id) % 256 AS v,
        |    ((y.y * 8) // d.h) * 8 + (x.x * 8) // d.w AS idx
        |  FROM d, range(0, 32) x(x), range(0, 32) y(y)
        |  WHERE x.x < d.w AND y.y < d.h),
        |tot AS (SELECT doc_id, sum(v) AS tot_sum, count(*) AS n_px
        |  FROM px GROUP BY doc_id),
        |blk AS (SELECT doc_id, idx, sum(v) AS b_sum, count(*) AS b_n
        |  FROM px GROUP BY doc_id, idx),
        |bits AS (SELECT blk.doc_id, blk.idx,
        |    CASE WHEN blk.b_sum * tot.n_px > tot.tot_sum * blk.b_n
        |      THEN 1 ELSE 0 END AS bit
        |  FROM blk JOIN tot USING (doc_id)),
        |h AS (SELECT doc_id,
        |    CAST(sum(CASE WHEN bit = 1 AND idx >= 32
        |      THEN 1::BIGINT << (idx - 32) ELSE 0 END) AS BIGINT) AS hi,
        |    CAST(sum(CASE WHEN bit = 1 AND idx < 32
        |      THEN 1::BIGINT << idx ELSE 0 END) AS BIGINT) AS lo
        |  FROM bits GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS a, b.doc_id AS b,
        |    CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
        |      AS BIGINT) AS hamming
        |  FROM h a JOIN h b ON a.doc_id < b.doc_id)
        |SELECT a, b, hamming, hamming = 0 AS exact_dup
        |FROM p WHERE hamming <= 7 ORDER BY a, b""".stripMargin,
    // restates all 64 aHash bits from the closed-form pixel spec with
    // the same exact cross-multiplied integer comparison; the Spark
    // side must recover them from decoding the real PNG
    "m6_imghash" ->
      """WITH d AS (SELECT doc_id, 16 + doc_id % 16 AS w,
        |    16 + (doc_id // 16) % 16 AS h FROM documents),
        |px AS (SELECT d.doc_id, d.w, d.h,
        |    (x.x*7 + y.y*13 + d.doc_id) % 256 AS v,
        |    ((y.y * 8) // d.h) * 8 + (x.x * 8) // d.w AS idx
        |  FROM d, range(0, 32) x(x), range(0, 32) y(y)
        |  WHERE x.x < d.w AND y.y < d.h),
        |tot AS (SELECT doc_id, sum(v) AS tot_sum, count(*) AS n_px
        |  FROM px GROUP BY doc_id),
        |blk AS (SELECT doc_id, idx, sum(v) AS b_sum, count(*) AS b_n
        |  FROM px GROUP BY doc_id, idx),
        |bits AS (SELECT blk.doc_id, blk.idx,
        |    CASE WHEN blk.b_sum * tot.n_px > tot.tot_sum * blk.b_n
        |      THEN 1 ELSE 0 END AS bit
        |  FROM blk JOIN tot USING (doc_id)),
        |h AS (SELECT doc_id,
        |    CAST(sum(CASE WHEN bit = 1 AND idx >= 32
        |      THEN 1::BIGINT << (idx - 32) ELSE 0 END) AS BIGINT) AS ahash_hi,
        |    CAST(sum(CASE WHEN bit = 1 AND idx < 32
        |      THEN 1::BIGINT << idx ELSE 0 END) AS BIGINT) AS ahash_lo,
        |    CAST(sum(bit) AS BIGINT) AS bits_set
        |  FROM bits GROUP BY doc_id)
        |SELECT d.doc_id, CAST(d.w AS BIGINT) AS width,
        |  CAST(d.h AS BIGINT) AS height, h.ahash_hi, h.ahash_lo, h.bits_set
        |FROM d JOIN h USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    // every hash bit restated from the closed-form audioSample spec;
    // a decode fault anywhere flips the comparison
    "m9_audiohash" ->
      """WITH d AS (SELECT doc_id, 800 + (doc_id % 16) * 100 AS n FROM documents),
        |s AS (SELECT d.doc_id, d.n,
        |    abs(((t.t * (3 + d.doc_id % 5) + d.doc_id) % 2048) - 1024) AS av,
        |    (t.t * 64) // d.n AS wi
        |  FROM d, range(0, 2400) t(t) WHERE t.t < d.n),
        |tot AS (SELECT doc_id, sum(av) AS ts, count(*) AS np
        |  FROM s GROUP BY doc_id),
        |wnd AS (SELECT doc_id, wi, sum(av) AS ws, count(*) AS wn
        |  FROM s GROUP BY doc_id, wi),
        |bits AS (SELECT w.doc_id, w.wi,
        |    CASE WHEN w.ws * tot.np > tot.ts * w.wn THEN 1 ELSE 0 END AS bit
        |  FROM wnd w JOIN tot USING (doc_id)),
        |h AS (SELECT doc_id,
        |    CAST(sum(CASE WHEN bit = 1 AND wi >= 32
        |      THEN 1::BIGINT << (wi - 32) ELSE 0 END) AS BIGINT) AS ahash_hi,
        |    CAST(sum(CASE WHEN bit = 1 AND wi < 32
        |      THEN 1::BIGINT << wi ELSE 0 END) AS BIGINT) AS ahash_lo,
        |    CAST(sum(bit) AS BIGINT) AS bits_set
        |  FROM bits GROUP BY doc_id)
        |SELECT d.doc_id, CAST(d.n AS BIGINT) AS n_samples,
        |  h.ahash_hi, h.ahash_lo, h.bits_set
        |FROM d JOIN h USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    // restates the audioSample closed form over an unnested sample
    // index; the Spark side must recover the identical values from
    // decoding the real WAV container for the hash to match
    "m5_audio_features" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(800 + (doc_id % 16) * 100 AS BIGINT) AS n_samples,
        |    3 + (doc_id % 5) AS k FROM documents),
        |s AS (SELECT doc_id, k, unnest(range(0, n_samples)) AS t FROM d),
        |v AS (SELECT doc_id, ((t * k + doc_id) % 2048) - 1024 AS v FROM s),
        |agg AS (SELECT doc_id, sum(v) AS amp_sum, min(v) AS amp_min,
        |    max(v) AS amp_max FROM v GROUP BY doc_id)
        |SELECT d.doc_id, '52494646' AS wav_magic,
        |  CAST(8000 AS BIGINT) AS sample_rate, d.n_samples,
        |  CAST(agg.amp_sum AS BIGINT) AS amp_sum,
        |  CAST(agg.amp_min AS BIGINT) AS amp_min,
        |  CAST(agg.amp_max AS BIGINT) AS amp_max
        |FROM d JOIN agg USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    "m1_binary_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |  md5(text) AS content_md5,
        |  upper(substr(hex(CAST(text AS BLOB)), 1, 8)) AS header_hex
        |FROM documents ORDER BY doc_id""".stripMargin,
    // m2 runs a REAL PNG encode→decode; the oracle states the decoded
    // dims and exact pixel sum from the closed-form image spec, so a
    // codec fault anywhere (dims, any pixel, magic) fails the hash gate
    "m2_decode_features" ->
      """WITH d AS (SELECT doc_id, 16 + doc_id % 16 AS w,
        |    16 + (doc_id // 16) % 16 AS h FROM documents),
        |px AS (SELECT d.doc_id, d.w, d.h,
        |    sum((x.x*7 + y.y*13 + d.doc_id) % 256) AS px_sum
        |  FROM d, range(0, 32) x(x), range(0, 32) y(y)
        |  WHERE x.x < d.w AND y.y < d.h
        |  GROUP BY d.doc_id, d.w, d.h)
        |SELECT doc_id, '89504E47' AS png_magic, CAST(w AS BIGINT) AS width,
        |  CAST(h AS BIGINT) AS height, CAST(w*h AS BIGINT) AS n_px,
        |  CAST(px_sum AS BIGINT) AS px_sum
        |FROM px ORDER BY doc_id""".stripMargin,
    "m3_resize" ->
      s"""WITH p AS (SELECT doc_id, text AS payload,
         |    CAST(length(text) AS BIGINT) AS n_units,
         |    greatest(CAST(length(text) AS BIGINT) // $ThumbSamples, 1) AS stride
         |  FROM documents),
         |t AS (SELECT doc_id, n_units, stride,
         |    list_aggregate(list_transform(range(0, $ThumbSamples),
         |      i -> substr(payload, CAST(i * stride + 1 AS INT), 1)),
         |      'string_agg', '') AS thumb
         |  FROM p)
         |SELECT doc_id, n_units, stride,
         |  CAST(length(thumb) AS BIGINT) AS thumb_units,
         |  md5(thumb) AS thumb_md5
         |FROM t ORDER BY doc_id""".stripMargin,
    // stride-1 frames, 8-hex md5 fold, lag + bit_count(xor) — the
    // identical integer chain
    // m10's frame/cut CTEs + a per-clip running shot index; keyframes
    // are the clip start and every cut frame
    // m11's closed-form audio hash + brute pairs, then the m14 shape:
    // recursive closure, keep-one by (n_samples DESC, doc_id)
    "m15_audio_manifest" ->
      """WITH RECURSIVE d AS (SELECT doc_id,
        |    800 + (doc_id % 16) * 100 AS n FROM documents),
        |s AS (SELECT d.doc_id, d.n,
        |    abs(((t.t * (3 + d.doc_id % 5) + d.doc_id) % 2048) - 1024) AS av,
        |    (t.t * 64) // d.n AS wi
        |  FROM d, range(0, 2400) t(t) WHERE t.t < d.n),
        |tot AS (SELECT doc_id, sum(av) AS ts, count(*) AS np
        |  FROM s GROUP BY doc_id),
        |wnd AS (SELECT doc_id, wi, sum(av) AS ws, count(*) AS wn
        |  FROM s GROUP BY doc_id, wi),
        |bits AS (SELECT w.doc_id, w.wi,
        |    CASE WHEN w.ws * tot.np > tot.ts * w.wn THEN 1 ELSE 0 END AS bit
        |  FROM wnd w JOIN tot USING (doc_id)),
        |hsh AS (SELECT doc_id,
        |    CAST(sum(CASE WHEN bit = 1 AND wi >= 32
        |      THEN 1::BIGINT << (wi - 32) ELSE 0 END) AS BIGINT) AS hi,
        |    CAST(sum(CASE WHEN bit = 1 AND wi < 32
        |      THEN 1::BIGINT << wi ELSE 0 END) AS BIGINT) AS lo
        |  FROM bits GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM hsh a JOIN hsh b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 7),
        |e2 AS (SELECT a AS u, b AS v FROM p UNION SELECT b, a FROM p),
        |reach(src, dst) AS (
        |  SELECT doc_id, doc_id FROM d
        |  UNION
        |  SELECT r.src, e2.v FROM reach r JOIN e2 ON r.dst = e2.u),
        |comp AS (SELECT src AS doc_id, min(dst) AS cluster_rep
        |  FROM reach GROUP BY src),
        |ln AS (SELECT doc_id, CAST(n AS BIGINT) AS n_samples FROM d),
        |can AS (SELECT cluster_rep, doc_id AS canonical_id FROM (
        |  SELECT comp.cluster_rep, comp.doc_id,
        |      row_number() OVER (PARTITION BY comp.cluster_rep
        |        ORDER BY ln.n_samples DESC, comp.doc_id) AS rn
        |    FROM comp JOIN ln USING (doc_id)) WHERE rn = 1)
        |SELECT comp.doc_id, comp.cluster_rep, ln.n_samples, can.canonical_id,
        |  CASE WHEN comp.doc_id = can.canonical_id
        |    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS keep
        |FROM comp JOIN ln USING (doc_id)
        |  JOIN can ON comp.cluster_rep = can.cluster_rep
        |ORDER BY comp.doc_id""".stripMargin,
    // m7's closed-form hash + brute pairs, then the d11 oracle shape:
    // recursive closure, min rep, keep-one by (n_px DESC, doc_id)
    "m14_img_manifest" ->
      """WITH RECURSIVE d AS (SELECT doc_id, 16 + doc_id % 16 AS w,
        |    16 + (doc_id // 16) % 16 AS h FROM documents),
        |px AS (SELECT d.doc_id,
        |    (x.x*7 + y.y*13 + d.doc_id) % 256 AS v,
        |    ((y.y * 8) // d.h) * 8 + (x.x * 8) // d.w AS idx
        |  FROM d, range(0, 32) x(x), range(0, 32) y(y)
        |  WHERE x.x < d.w AND y.y < d.h),
        |tot AS (SELECT doc_id, sum(v) AS tot_sum, count(*) AS n_px
        |  FROM px GROUP BY doc_id),
        |blk AS (SELECT doc_id, idx, sum(v) AS b_sum, count(*) AS b_n
        |  FROM px GROUP BY doc_id, idx),
        |bits AS (SELECT blk.doc_id, blk.idx,
        |    CASE WHEN blk.b_sum * tot.n_px > tot.tot_sum * blk.b_n
        |      THEN 1 ELSE 0 END AS bit
        |  FROM blk JOIN tot USING (doc_id)),
        |hsh AS (SELECT doc_id,
        |    CAST(sum(CASE WHEN bit = 1 AND idx >= 32
        |      THEN 1::BIGINT << (idx - 32) ELSE 0 END) AS BIGINT) AS hi,
        |    CAST(sum(CASE WHEN bit = 1 AND idx < 32
        |      THEN 1::BIGINT << idx ELSE 0 END) AS BIGINT) AS lo
        |  FROM bits GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM hsh a JOIN hsh b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 7),
        |e2 AS (SELECT a AS u, b AS v FROM p UNION SELECT b, a FROM p),
        |reach(src, dst) AS (
        |  SELECT doc_id, doc_id FROM d
        |  UNION
        |  SELECT r.src, e2.v FROM reach r JOIN e2 ON r.dst = e2.u),
        |comp AS (SELECT src AS doc_id, min(dst) AS cluster_rep
        |  FROM reach GROUP BY src),
        |npx AS (SELECT doc_id, CAST(w * h AS BIGINT) AS n_px FROM d),
        |can AS (SELECT cluster_rep, doc_id AS canonical_id FROM (
        |  SELECT comp.cluster_rep, comp.doc_id,
        |      row_number() OVER (PARTITION BY comp.cluster_rep
        |        ORDER BY npx.n_px DESC, comp.doc_id) AS rn
        |    FROM comp JOIN npx USING (doc_id)) WHERE rn = 1)
        |SELECT comp.doc_id, comp.cluster_rep, npx.n_px, can.canonical_id,
        |  CASE WHEN comp.doc_id = can.canonical_id
        |    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS keep
        |FROM comp JOIN npx USING (doc_id)
        |  JOIN can ON comp.cluster_rep = can.cluster_rep
        |ORDER BY comp.doc_id""".stripMargin,
    // m13's pair CTEs verbatim + the m14 closure/keep-one template on
    // the video modality (canonical = most non-empty frames)
    "m16_video_manifest" -> {
      def v(h: String, i: Int) =
        s"(CASE WHEN ascii(substr($h,$i,1)) <= 57 THEN ascii(substr($h,$i,1)) - 48" +
          s" ELSE ascii(substr($h,$i,1)) - 87 END)"
      def hex8(h: String) = (2 to 8).foldLeft(s"CAST(${v(h, 1)} AS BIGINT)")(
        (acc, i) => s"($acc * 16 + ${v(h, i)})")
      s"""WITH RECURSIVE p AS (SELECT doc_id, text AS payload,
         |    greatest(CAST(length(text) AS BIGINT) // $NFrames, 1) AS frame_len
         |  FROM documents),
         |f AS (SELECT doc_id, CAST(k AS BIGINT) AS frame_idx,
         |    substr(payload, CAST(k * frame_len + 1 AS INT),
         |      CAST(frame_len AS INT)) AS frame
         |  FROM p CROSS JOIN (SELECT unnest(range(0, $NFrames)) AS k)),
         |g AS (SELECT doc_id, frame_idx, ${hex8("md5(frame)")} AS sig
         |  FROM f WHERE length(frame) > 0),
         |m AS (SELECT x.doc_id AS a, y.doc_id AS b,
         |    x.frame_idx - y.frame_idx AS delta, CAST(count(*) AS BIGINT) AS n
         |  FROM g x JOIN g y ON x.sig = y.sig AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2, 3),
         |pr AS (SELECT a, b FROM (SELECT a, b, n, row_number() OVER (
         |    PARTITION BY a, b ORDER BY n DESC, delta ASC) AS rn FROM m)
         |  WHERE rn = 1 AND n >= $M13MinAligned),
         |e2 AS (SELECT a AS u, b AS v FROM pr UNION SELECT b, a FROM pr),
         |reach(src, dst) AS (
         |  SELECT doc_id, doc_id FROM p
         |  UNION
         |  SELECT r.src, e2.v FROM reach r JOIN e2 ON r.dst = e2.u),
         |comp AS (SELECT src AS doc_id, CAST(min(dst) AS BIGINT) AS cluster_rep
         |  FROM reach GROUP BY src),
         |nf AS (SELECT p.doc_id, CAST(coalesce(cnt.n, 0) AS BIGINT) AS n_frames
         |  FROM p LEFT JOIN (SELECT doc_id, count(*) AS n FROM g
         |    GROUP BY doc_id) cnt ON cnt.doc_id = p.doc_id),
         |can AS (SELECT cluster_rep, doc_id AS canonical_id FROM (
         |  SELECT comp.cluster_rep, comp.doc_id,
         |      row_number() OVER (PARTITION BY comp.cluster_rep
         |        ORDER BY nf.n_frames DESC, comp.doc_id) AS rn
         |    FROM comp JOIN nf USING (doc_id)) WHERE rn = 1)
         |SELECT comp.doc_id, comp.cluster_rep, nf.n_frames, can.canonical_id,
         |  CASE WHEN comp.doc_id = can.canonical_id THEN CAST(1 AS BIGINT)
         |    ELSE CAST(0 AS BIGINT) END AS keep
         |FROM comp JOIN nf USING (doc_id)
         |  JOIN can ON comp.cluster_rep = can.cluster_rep
         |ORDER BY comp.doc_id""".stripMargin
    },
    // m10's frame-signature CTE + offset voting: matches vote for
    // delta = fa − fb; winning offset per pair by (votes DESC, delta
    // ASC), pairs kept at >= M13MinAligned votes
    "m13_video_neardup" -> {
      def v(h: String, i: Int) =
        s"(CASE WHEN ascii(substr($h,$i,1)) <= 57 THEN ascii(substr($h,$i,1)) - 48" +
          s" ELSE ascii(substr($h,$i,1)) - 87 END)"
      def hex8(h: String) = (2 to 8).foldLeft(s"CAST(${v(h, 1)} AS BIGINT)")(
        (acc, i) => s"($acc * 16 + ${v(h, i)})")
      s"""WITH p AS (SELECT doc_id, text AS payload,
         |    greatest(CAST(length(text) AS BIGINT) // $NFrames, 1) AS frame_len
         |  FROM documents),
         |f AS (SELECT doc_id, CAST(k AS BIGINT) AS frame_idx,
         |    substr(payload, CAST(k * frame_len + 1 AS INT),
         |      CAST(frame_len AS INT)) AS frame
         |  FROM p CROSS JOIN (SELECT unnest(range(0, $NFrames)) AS k)),
         |g AS (SELECT doc_id, frame_idx, ${hex8("md5(frame)")} AS sig
         |  FROM f WHERE length(frame) > 0),
         |m AS (SELECT x.doc_id AS a, y.doc_id AS b,
         |    x.frame_idx - y.frame_idx AS delta, CAST(count(*) AS BIGINT) AS n
         |  FROM g x JOIN g y ON x.sig = y.sig AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2, 3),
         |r AS (SELECT a, b, delta, n, row_number() OVER (
         |    PARTITION BY a, b ORDER BY n DESC, delta ASC) AS rn FROM m)
         |SELECT a, b, delta AS best_delta, n AS n_aligned
         |FROM r WHERE rn = 1 AND n >= $M13MinAligned
         |ORDER BY a, b""".stripMargin
    },
    "m12_keyframes" -> {
      def v(h: String, i: Int) =
        s"(CASE WHEN ascii(substr($h,$i,1)) <= 57 THEN ascii(substr($h,$i,1)) - 48" +
          s" ELSE ascii(substr($h,$i,1)) - 87 END)"
      def hex8(h: String) = (2 to 8).foldLeft(s"CAST(${v(h, 1)} AS BIGINT)")(
        (acc, i) => s"($acc * 16 + ${v(h, i)})")
      s"""WITH p AS (SELECT doc_id, text AS payload,
         |    greatest(CAST(length(text) AS BIGINT) // $NFrames, 1) AS frame_len
         |  FROM documents),
         |f AS (SELECT doc_id, CAST(k AS BIGINT) AS frame_idx,
         |    substr(payload, CAST(k * frame_len + 1 AS INT),
         |      CAST(frame_len AS INT)) AS frame
         |  FROM p CROSS JOIN (SELECT unnest(range(0, $NFrames)) AS k)),
         |g AS (SELECT doc_id, frame_idx, ${hex8("md5(frame)")} AS sig
         |  FROM f WHERE length(frame) > 0),
         |l AS (SELECT doc_id, frame_idx, sig,
         |    lag(sig) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev
         |  FROM g),
         |c AS (SELECT doc_id, frame_idx, sig,
         |    prev IS NULL AS first,
         |    prev IS NOT NULL AND bit_count(xor(sig, prev)) >= $ShotCutHamming
         |      AS cut
         |  FROM l),
         |sh AS (SELECT doc_id, frame_idx, sig, cut, first,
         |    sum(CASE WHEN cut THEN 1 ELSE 0 END) OVER (
         |      PARTITION BY doc_id ORDER BY frame_idx
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS shot_idx
         |  FROM c)
         |SELECT doc_id, CAST(shot_idx AS BIGINT) AS shot_idx,
         |  frame_idx AS start_frame, sig AS keyframe_sig
         |FROM sh WHERE cut OR first
         |ORDER BY doc_id, shot_idx""".stripMargin
    },
    "m10_shot_bounds" -> {
      def v(h: String, i: Int) =
        s"(CASE WHEN ascii(substr($h,$i,1)) <= 57 THEN ascii(substr($h,$i,1)) - 48" +
          s" ELSE ascii(substr($h,$i,1)) - 87 END)"
      def hex8(h: String) = (2 to 8).foldLeft(s"CAST(${v(h, 1)} AS BIGINT)")(
        (acc, i) => s"($acc * 16 + ${v(h, i)})")
      s"""WITH p AS (SELECT doc_id, text AS payload,
         |    greatest(CAST(length(text) AS BIGINT) // $NFrames, 1) AS frame_len
         |  FROM documents),
         |f AS (SELECT doc_id, CAST(k AS BIGINT) AS frame_idx,
         |    substr(payload, CAST(k * frame_len + 1 AS INT),
         |      CAST(frame_len AS INT)) AS frame
         |  FROM p CROSS JOIN (SELECT unnest(range(0, $NFrames)) AS k)),
         |g AS (SELECT doc_id, frame_idx, ${hex8("md5(frame)")} AS sig
         |  FROM f WHERE length(frame) > 0),
         |l AS (SELECT doc_id, frame_idx, sig,
         |    lag(sig) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev
         |  FROM g),
         |c AS (SELECT doc_id, frame_idx,
         |    prev IS NOT NULL AND bit_count(xor(sig, prev)) >= $ShotCutHamming
         |      AS cut
         |  FROM l)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
         |  CAST(sum(CASE WHEN cut THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
         |  CAST(sum(CASE WHEN cut THEN 1 ELSE 0 END) + 1 AS BIGINT) AS n_shots,
         |  CAST(min(CASE WHEN cut THEN frame_idx END) AS BIGINT) AS first_cut_idx
         |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    "m4_frame_sample" ->
      s"""WITH p AS (SELECT doc_id, text AS payload,
         |    greatest(CAST(length(text) AS BIGINT) // $NFrames, 1) AS frame_len
         |  FROM documents),
         |f AS (SELECT doc_id, frame_len,
         |    CAST(k * $FrameStride AS BIGINT) AS frame_idx,
         |    substr(payload, CAST(k * $FrameStride * frame_len + 1 AS INT),
         |      CAST(frame_len AS INT)) AS frame
         |  FROM p CROSS JOIN (SELECT unnest(range(0, ${NFrames / FrameStride})) AS k))
         |SELECT doc_id, frame_idx, frame_len,
         |  CAST(length(frame) AS BIGINT) AS frame_units, md5(frame) AS frame_md5
         |FROM f WHERE length(frame) > 0
         |ORDER BY doc_id, frame_idx""".stripMargin,
  )
}
