package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import TextOps._

/** Deduplication operators over `documents`: exact hash dedup,
  * MinHash+LSH near-dup, SimHash near-dup, n-gram Jaccard similarity —
  * the dedup stages of a training-data pipeline.
  *
  * Scale notes (100 TB):
  *  - exact dedup is one hash-groupBy shuffle on a 16-byte key; with
  *    ~10^10 docs the hash space (128-bit) has no collisions to care
  *    about, and AQE handles the (unlikely) skew of giant dup groups;
  *  - MinHash/LSH is the classic shingle→signature→band→bucket-join
  *    pipeline: per-doc signature is a narrow map; candidate generation
  *    shuffles only (band_key → doc) pairs — k·bands rows per doc, NOT
  *    the O(n²) pair space. Bucket sizes are data-dependent; a giant
  *    bucket (boilerplate text) is the classic skew case — cap bucket
  *    size or salt in production;
  *  - Jaccard verification joins only within-candidate pairs (inverted
  *    index join on shared shingles), never the full cross product —
  *    this is what makes it survive 1000× data;
  *  - SimHash pair search here brute-forces a.id < b.id for oracle
  *    parity at test scale; at 100 TB you'd bucket by bit-bands of the
  *    signature (same LSH trick, hamming-ball variant).
  */
object Dedup {

  val MinhashK = 12
  val LshBandsN = 6
  val LshRows = 2

  /** COUNT-FIRST skew cap — the discipline every inverted-index build
    * in the text family applies BEFORE materializing posting arrays
    * (ported from m7's image MIH cap,
    * [[Multimodal.imgNearDupPairs]]). Removes every row whose key
    * appears more than `cap` times, using a count aggregation + a
    * broadcast anti-join on the over-cap key set.
    *
    * Why count-first matters at 100 TB: `collect_list` followed by
    * `filter(size(docs) <= cap)` bounds downstream PAIR work but not
    * the aggregation BUFFER — a single aggregation group cannot spill
    * partially, so one crawl-scale boilerplate key (an `<html>`
    * shingle with df in the hundreds of millions) must materialize as
    * one in-memory array before the size filter ever sees it, and that
    * task OOMs even with the cap armed. A `count` aggregation has
    * constant per-group state and map-side partial aggregation, so the
    * mega-key's cost spreads across its input partitions; the over-cap
    * key SET is tiny by assumption (boilerplate keys are few) and
    * broadcasts. Every group that reaches a downstream `collect_list`
    * is then ≤ `cap` rows by construction. */
  def dropOverCapKeys(rows: DataFrame, keyCols: Seq[String], cap: Long): DataFrame = {
    require(cap > 0, s"cap must be positive, got $cap")
    // The census reads `rows` itself — the POST-barrier form. Spark
    // shares no subtree across join branches, so the barrier subtree
    // (the d3/d9 plan-hygiene groupBy and its array shuffle) executes
    // twice, once per branch. A round-11 variant fed the census a
    // PRE-barrier explode to skip that second shuffle, and it was a
    // measured 30× LOSS, not a win (d17 at sf0.1: 34 s census vs ~1 s
    // through the barrier): without an Aggregate in between,
    // InferFiltersFromGenerate's `size(bands) > 0` lands directly on
    // the staged projection chain and predicate-pushdown SUBSTITUTES
    // the full expression into the condition — each level of the
    // staged pipeline (bands→sig→hashes→shingles→words) multiplies by
    // its reference count and the text re-tokenizes many times per
    // row, the exact cascade the TextOps staging rule documents. The
    // barrier's second execution is linear and bounded; the re-inline
    // is neither. (At warehouse scale the census is free anyway: the
    // persisted postings index already materializes the exploded keys
    // once — [[corpusPostings]] / Warehouse.writePostingsIndex.) */
    val big = rows.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > cap)
      .select(keyCols.map(col): _*)
    rows.join(broadcast(big), keyCols, "left_anti")
  }

  /** d1: exact dedup — canonical id per normalized-content hash.
    * Output: every doc with its content hash, the canonical (min) doc_id
    * of its dup group, dup flag and group size. Single pass: group
    * stats via window over the hash (one shuffle, hash computed once —
    * a groupBy + self-join would evaluate the normalize+md5 subtree
    * twice, once per join branch). */
  def d1ExactDedup(s: SparkSession, d: String): DataFrame =
    exactDupManifest(documents(s, d)).orderBy(col("doc_id"))

  /** Library form of [[d1ExactDedup]] over any (doc_id, text) frame;
    * presentation order left to the caller. */
  def exactDupManifest(docs: DataFrame): DataFrame = {
    val byHash = org.apache.spark.sql.expressions.Window
      .partitionBy(col("content_md5"))
    docs
      .select(col("doc_id"), md5(normText(col("text"))).as("content_md5"))
      .withColumn("canonical_id", min(col("doc_id")).over(byHash))
      .withColumn("group_size", count(lit(1)).over(byHash))
      .select(col("doc_id"), col("content_md5"), col("canonical_id"),
        (col("doc_id") =!= col("canonical_id")).as("is_dup"),
        col("group_size"))
  }

  /** Per-doc MinHash signature + LSH band keys (shared by d2/d3).
    * Staged column-per-level per the TextOps staging rule; repartition
    * by doc_id spreads the signature map across cores (the test corpus
    * arrives as one parquet split) and pre-partitions for the
    * unique-key barrier aggregate, which then needs no second shuffle. */
  private def sigs(s: SparkSession, d: String): DataFrame =
    lshIndex(documents(s, d).repartition(col("doc_id")))

  /** MinHash+LSH index over any (doc_id, text) frame — the reusable
    * form of the signature pipeline (also the streaming near-dup path's
    * shape, StreamOps.nearDupCandidates). */
  def lshIndex(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"), shingles3(col("ws")).as("sh"))
      .select(col("doc_id"), col("sh"), shingleHash32(col("sh")).as("hh"))
      .select(col("doc_id"), col("sh"),
        minhashFromHashes(col("hh"), MinhashK).as("sig"))
      .select(col("doc_id"), col("sh"), col("sig"),
        lshBands(col("sig"), LshBandsN, LshRows).as("bands"))

  /** d2: MinHash signatures — the per-doc signature + band keys
    * materialization (what you'd persist as the dedup index at scale). */
  def d2MinhashSig(s: SparkSession, d: String): DataFrame =
    sigs(s, d)
      .select(col("doc_id"),
        element_at(col("sig"), 1).as("mh_0"),
        element_at(col("sig"), 2).as("mh_1"),
        element_at(col("sig"), MinhashK).as(s"mh_${MinhashK - 1}"),
        element_at(col("bands"), 1).as("band_0"),
        element_at(col("bands"), LshBandsN).as(s"band_${LshBandsN - 1}"))
      .orderBy(col("doc_id"))

  /** d3: LSH candidate pairs — docs agreeing on ≥1 full band, with the
    * signature-agreement MinHash estimate of Jaccard. Candidate
    * generation groups (band_idx, band_key) buckets and expands pairs
    * within each bucket — Σ|bucket|² pairs, never the O(n²) pair space,
    * and the signature index is computed exactly once (a self-join of
    * the derived index would re-evaluate the whole MinHash pipeline on
    * both sides: Spark shares no subtree across join branches).
    * Bucket size is the classic LSH skew knob: a boilerplate-text
    * mega-bucket makes |bucket|² explode — cap or salt in production. */
  def d3LshCandidates(s: SparkSession, d: String): DataFrame =
    sharedLshPairs(s, d).orderBy(col("a"), col("b"))

  /** Session-scoped STANDING LSH candidate set — the banded-MinHash
    * pair stage materialized once per (session, dir) and read by its
    * three consumers (d3's listing, d10's LSH blocker, d14's
    * verification input): the [[sharedClusters]] pay-once discipline
    * applied to the candidate stage itself. Candidate pairs are a
    * pair-space-sized frame (≪ corpus), so the checkpoint is cheap;
    * at warehouse scale the same contract is the persisted postings
    * index ([[Warehouse.writePostingsIndex]]) plus a stored pair
    * manifest. */
  private[graft] def sharedLshPairs(s: SparkSession, d: String): DataFrame =
    SessionCaches.getOrBuild(lshPairCache, s, d)(
      // standing since r14: the candidate stage is a pure function of
      // the corpus — a fresh JVM adopts instead of re-running the
      // signature + band join (the Warehouse.standingTable discipline)
      Warehouse.standingTable(s, "graft_lshpairs", d) { t =>
        Warehouse.writeStanding(
          lshCandidatesRaw(sigs(s, d), maxBucket = None),
          t, Seq("a"), nBuckets = 32)
      })

  private val lshPairCache = SessionCaches.newCache()

  /** Candidate pairs from an [[lshIndex]] frame. `maxBucket` is the
    * production skew knob the scale notes call for: a band key shared
    * by thousands of docs (boilerplate text) has no discriminating
    * power, and its |bucket|² expansion is the classic LSH skew
    * explosion — capped runs DROP those buckets wholesale (boilerplate
    * belongs to a dedicated detector, not the pair expander). d3 runs
    * uncapped for oracle parity; the cap behavior is pinned by its own
    * spec on a constructed mega-bucket corpus. */
  def lshCandidates(index: DataFrame, maxBucket: Option[Int]): DataFrame =
    lshCandidatesRaw(index, maxBucket).orderBy(col("a"), col("b"))

  /** [[lshCandidates]] without the presentation sort — the form
    * pipeline consumers ([[incrementalCandidates]]) compose on. */
  private[graft] def lshCandidatesRaw(index: DataFrame, maxBucket: Option[Int]): DataFrame = {
    // Aggregate barrier on the unique key: materializes sig/bands once
    // per doc AND stops InferFiltersFromGenerate's `size(bands) > 0`
    // from being pushed (re-inlined) into the signature computation —
    // predicates on non-grouping outputs cannot cross an Aggregate.
    // At scale this is the "build the dedup index" stage you'd persist.
    // Capped runs execute this barrier twice (census + anti-join
    // stream side; no subtree sharing across join branches). A lazy
    // localCheckpoint to share it was measured and REJECTED: checkpoint
    // blocks are unevictable (no lineage to recompute), so pinning a
    // corpus-sized signature frame starves execution memory — the
    // postings_megakey probe (10M docs) OOMed in the census hashAgg
    // with the pin and survives without it. Two bounded linear
    // executions beat one unevictable corpus-sized pin; at warehouse
    // scale the persisted postings index IS the shared materialization.
    val sg = index.groupBy(col("doc_id"))
      .agg(min(col("sig")).as("sig"), min(col("bands")).as("bands"))
    val exploded = sg.select(col("doc_id"), col("sig"),
      posexplode(col("bands")).as(Seq("band_idx", "band_key")))
    // capped runs drop over-cap band keys COUNT-FIRST, before any
    // posting array materializes (see dropOverCapKeys — a mega-bucket
    // must never reach collect_list's unspillable per-group buffer);
    // every surviving bucket is ≤ maxBucket rows by construction. The
    // census reads the post-barrier explode — see dropOverCapKeys for
    // why a pre-barrier census is a measured 30× loss.
    val capped = maxBucket.fold(exploded)(m =>
      dropOverCapKeys(exploded, Seq("band_idx", "band_key"), m.toLong))
    val kept = capped
      .groupBy(col("band_idx"), col("band_key"))
      .agg(collect_list(struct(col("doc_id"), col("sig"))).as("docs"))
      .filter(size(col("docs")) > 1)
    kept
      .select(explode(col("docs")).as("da"), col("docs"))
      .select(col("da"), explode(col("docs")).as("db"))
      .filter(col("da.doc_id") < col("db.doc_id"))
      .select(col("da.doc_id").as("a"), col("db.doc_id").as("b"),
        aggregate(zip_with(col("da.sig"), col("db.sig"),
          (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (acc, v) => acc + v).as("n_sig_match"))
      .distinct()
      .withColumn("est_jaccard_e6",
        idiv(col("n_sig_match") * 1000000L, lit(MinhashK.toLong)))
  }

  /** doc_id boundary for the d8 incremental-dedup scenario: ids below
    * are the standing corpus, at-or-above are the newly arrived batch
    * (100 of the 500 test docs). */
  val IncrementalSplit = 400L

  /** d8: INCREMENTAL near-dup candidates — the dedup form a production
    * pipeline actually runs daily: a new batch of documents checked
    * against a standing corpus WITHOUT re-pairing the corpus against
    * itself. Candidate pairs = (new × corpus) docs sharing ≥1 LSH band,
    * plus (new × new) via the ordinary bucket expansion — exactly d3's
    * pair set restricted to pairs touching the new batch (pinned by
    * spec AND by the DuckDB oracle). */
  def d8IncrementalLsh(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).repartition(col("doc_id"))
    incrementalCandidates(
      lshIndex(docs.filter(col("doc_id") < IncrementalSplit)),
      lshIndex(docs.filter(col("doc_id") >= IncrementalSplit)),
      maxBucket = None)
      .orderBy(col("a"), col("b"))
  }

  /** Candidates between a NEW batch and a standing corpus index, plus
    * within-batch candidates — never corpus × corpus.
    *
    * Scale notes (100 TB): the corpus side is grouped into per-band-key
    * posting lists — at scale that grouped frame IS the persisted dedup
    * index (write it bucketed by band key once, and the daily run reads
    * it back with no shuffle), so per-batch work is one narrow signature
    * map over the batch plus a join that moves only the batch's
    * (bands × docs) rows. `maxBucket` caps the CORPUS posting-list
    * length, the same boilerplate-skew knob as [[lshCandidates]]'s —
    * a band key shared by thousands of standing docs pairs every new
    * doc with all of them while carrying no discriminating power. */
  def incrementalCandidates(corpusIndex: DataFrame, newIndex: DataFrame,
      maxBucket: Option[Int]): DataFrame =
    incrementalFromPostings(corpusPostings(corpusIndex, maxBucket), newIndex,
      maxBucket)

  /** One (doc_id, sig, bands) row per doc from an [[lshIndex]] frame —
    * the aggregate barrier shared by d3/d8 (see [[lshCandidatesRaw]]). */
  private def aggIndex(ix: DataFrame): DataFrame =
    ix.groupBy(col("doc_id"))
      .agg(min(col("sig")).as("sig"), min(col("bands")).as("bands"))

  /** Per-band-key posting lists of a corpus index — the STANDING dedup
    * index a pipeline persists once and reads back for every
    * incremental run. Persist with [[Warehouse.writePostingsIndex]]
    * (bucketed/sorted by (band_idx, band_key)): the daily
    * [[incrementalFromPostings]] join then never shuffles the corpus
    * side (plan-asserted in WarehouseSpec). Round-trips through parquet
    * (spec-pinned).
    *
    * `maxBucket` is the BUILD-TIME skew cap: the standing index is the
    * one place a boilerplate band key accumulates the whole corpus, so
    * an uncapped build is exactly the unspillable-buffer hazard
    * [[dropOverCapKeys]] documents. Capped builds drop over-cap keys
    * count-first; None keeps the full index (oracle-parity posture —
    * [[incrementalFromPostings]] can still cap at read time, since a
    * persisted array is already bounded by whatever cap built it). */
  def corpusPostings(corpusIndex: DataFrame,
      maxBucket: Option[Int] = None): DataFrame = {
    val exploded = aggIndex(corpusIndex)
      .select(col("doc_id"), col("sig"),
        posexplode(col("bands")).as(Seq("band_idx", "band_key")))
    maxBucket.fold(exploded)(m =>
        dropOverCapKeys(exploded, Seq("band_idx", "band_key"), m.toLong))
      .groupBy(col("band_idx"), col("band_key"))
      .agg(collect_list(struct(col("doc_id"), col("sig"))).as("docs"))
  }

  /** [[incrementalCandidates]] over an already-materialized
    * [[corpusPostings]] frame — the form the daily run actually calls,
    * with the index read back from storage instead of rebuilt. */
  def incrementalFromPostings(postings: DataFrame, newIndex: DataFrame,
      maxBucket: Option[Int]): DataFrame = {
    val kept = maxBucket.fold(postings)(m =>
      postings.filter(size(col("docs")) <= m))
    val newExp = aggIndex(newIndex)
      .select(col("doc_id").as("n_id"), col("sig").as("n_sig"),
        posexplode(col("bands")).as(Seq("band_idx", "band_key")))
    val crossPairs = newExp
      .join(kept, Seq("band_idx", "band_key"))
      .select(col("n_id"), col("n_sig"), explode(col("docs")).as("dc"))
      .select(least(col("n_id"), col("dc.doc_id")).as("a"),
        greatest(col("n_id"), col("dc.doc_id")).as("b"),
        aggregate(zip_with(col("n_sig"), col("dc.sig"),
          (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (acc, v) => acc + v).as("n_sig_match"))
      .distinct()
      .withColumn("est_jaccard_e6",
        idiv(col("n_sig_match") * 1000000L, lit(MinhashK.toLong)))
    // within-batch pairs: the new docs also dedup against each other
    crossPairs.union(lshCandidatesRaw(newIndex, maxBucket))
  }

  /** d4: top-k n-gram Jaccard pairs via inverted-index join — explode
    * distinct shingles, equi-join on shingle, count shared per pair,
    * Jaccard = shared / (|A| + |B| − shared) in fixed-point. Only pairs
    * sharing ≥1 shingle are ever materialized.
    *
    * Scale hazard, stated plainly: a shingle present in k documents
    * contributes k² join rows, so a corpus-wide boilerplate shingle
    * makes the EXACT inverted-index join quadratic — that is inherent
    * to exact Jaccard, not to this plan. At 100 TB run d4 as the exact
    * RERANK over d3's MinHash-LSH candidate pairs (whose maxBucket cap
    * bounds exactly this blowup) rather than over the full corpus; the
    * full-corpus form here is what the oracle can verify. */
  def d4JaccardTopK(s: SparkSession, d: String): DataFrame = {
    val inv = sharedShingleInv(s, d)
    val aSide = inv.select(col("shingle"), col("doc_id").as("a"), col("n_sh").as("na"))
    val bSide = inv.select(col("shingle"), col("doc_id").as("b"), col("n_sh").as("nb"))
    aSide.join(bSide, "shingle")
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("shared"))
      .select(col("a"), col("b"),
        idiv(col("shared") * 1000000L, col("na") + col("nb") - col("shared"))
          .as("jaccard_e6"))
      .orderBy(col("jaccard_e6").desc, col("a"), col("b"))
      .limit(20)
  }

  /** STANDING inverted 3-shingle index (doc_id, n_sh, shingle),
    * bucketed by SHINGLE — d4's join key (VERDICT r15 #5): the shingle
    * pipeline (tokenize, shingle, distinct, explode) runs once per
    * (corpus, build) instead of once per d4 run, and because both
    * sides of d4's self-join read the same shingle-bucketed table the
    * equi-join plans with NO Exchange on either side (pinned in
    * WarehouseSpec) — only the per-pair groupBy shuffles. At 100 TB
    * this is the persisted postings layout: write-time bucketing
    * replaces the two biggest per-query shuffles of the exact-Jaccard
    * rerank. */
  private[graft] def sharedShingleInv(s: SparkSession, d: String): DataFrame =
    SessionCaches.getOrBuild(shingleInvCache, s, d)(
      Warehouse.standingTable(s, "graft_shinv", d) { t =>
        val docSh = documents(s, d)
          .select(col("doc_id"), words(col("text")).as("ws"))
          .select(col("doc_id"), shingles3(col("ws")).as("sh0"))
          .select(col("doc_id"), array_distinct(col("sh0")).as("sh"))
          .select(col("doc_id"), col("sh"),
            size(col("sh")).cast("long").as("n_sh"))
        Warehouse.writeStanding(
          docSh.select(col("doc_id"), col("n_sh"),
            explode(col("sh")).as("shingle")),
          t, Seq("shingle"), nBuckets = 32)
      })

  private val shingleInvCache = SessionCaches.newCache()

  /** Banding designs audited by [[d20LshScurve]]: every factorization
    * b·r of the [[MinhashK]]-element signature from per-row banding
    * (12, 1) to two wide bands (2, 6), including the engine's own
    * (6, 2). */
  val D20Configs: Seq[(Int, Int)] =
    Seq((12, 1), (6, 2), (4, 3), (2, 6))

  /** d20: LSH BANDING DESIGN AUDIT — the S-curve trade made
    * measurable (the s18 self-measuring pattern on the dedup side):
    * for every banding (b, r) of the SAME MinHash signature, the
    * exact confusion counts of "pairs sharing ≥1 band" against the
    * exact-Jaccard ≥ τ ground truth — tp / fp (the verification load
    * a design buys) / fn (the recall it forfeits), with recall and
    * precision in e6 fixed point. The published S-curve
    * `P(cand) = 1 − (1 − j^r)^b` says narrow bands (r = 1) catch
    * everything but flood verification and wide bands (r = 6) starve
    * recall at mid-jaccard; this row audits the engine's (6, 2)
    * choice against its neighbors on the REAL corpus (at the gate SF
    * the corpus is bimodal, so the spread shows on the load axis:
    * 1278 → 30 → 25 candidates for the same 25 true pairs; the
    * recall axis is pinned by spec on constructed mid-jaccard docs).
    *
    * Scale notes (100 TB): the signature build sits behind the d3
    * aggregate barrier, but each audited config is a separate
    * consumer, so the barrier SUBTREE re-executes once per config
    * plus once for ground truth — bounded linear passes, the same
    * two-pass trade the capped-census fix measured and chose over an
    * unevictable checkpoint pin (BASELINE round-11). The production
    * sweep persists the signature table once
    * ([[Warehouse.writeSigTable]], bucketed by doc_id) and runs every
    * config against the stored sigs via [[lshScurveFrom]] —
    * WarehouseSpec pins that path recomputing NO signature kernel and
    * matching this inline form; auditing on a SAMPLE of the corpus is
    * a `.sample` in front, unchanged machinery. Each config
    * then re-slices the 12-long sig array (narrow map) and pays one
    * band-key equi-join — the d3 cost class per config. Ground truth
    * is the d4 inverted-index join, never all-pairs. */
  def d20LshScurve(s: SparkSession, d: String): DataFrame =
    lshScurveWith(sharedSweepBase(s, d), sharedSweepTruth(s, d))

  /** Session-scoped sweep signature base — [[sweepSigBase]] is a pure
    * function of the corpus read by all [[D20Configs]] branches AND
    * the ground-truth stage; without materialization the whole
    * signature pipeline re-executes once per audited config. */
  private[graft] def sharedSweepBase(s: SparkSession, d: String): DataFrame =
    SessionCaches.getOrBuild(sweepBaseCache, s, d)(
      Warehouse.standingTable(s, "graft_sweepbase", d) { t =>
        Warehouse.writeStanding(sweepSigBase(documents(s, d)),
          t, Seq("doc_id"), nBuckets = 32)
      })

  private val sweepBaseCache = SessionCaches.newCache()

  /** Session-scoped sweep GROUND TRUTH — the exact-Jaccard ≥ τ pair
    * set (the Σdf² inverted-index join, the sweep's dominant
    * sustained cost once the candidate pass is single-shot): a pure
    * function of (corpus, [[D14TauE6]]), paid once per session; every
    * d20 run after the first folds the one-join candidate pass
    * against the checkpointed truth. */
  private[graft] def sharedSweepTruth(s: SparkSession, d: String): DataFrame =
    SessionCaches.getOrBuild(sweepTruthCache, s, d)(
      Warehouse.standingTable(s, "graft_sweeptruth", d) { t =>
        Warehouse.writeStanding(sweepTruth(sharedSweepBase(s, d), D14TauE6),
          t, Seq("a"), nBuckets = 32)
      })

  private val sweepTruthCache = SessionCaches.newCache()

  /** Library form of [[d20LshScurve]]: any (doc_id, text) frame,
    * caller-chosen ground-truth threshold. */
  def lshScurve(docs: DataFrame, tauE6: Long): DataFrame =
    lshScurveFrom(sweepSigBase(docs), tauE6)

  /** The per-doc (doc_id, dsh, sig) frame every audited config and the
    * ground truth consume — built inline here, PERSISTED once by
    * [[Warehouse.writeSigTable]] for the production sweep (each config
    * then re-reads stored sigs instead of re-running the signature
    * pipeline; WarehouseSpec pins the stored path computes no
    * signature kernel and matches this inline form row-for-row). */
  private[graft] def sweepSigBase(docs: DataFrame): DataFrame =
    lshIndex(docs.repartition(col("doc_id")))
      .select(col("doc_id"), array_distinct(col("sh")).as("dsh"), col("sig"))
      .groupBy(col("doc_id"))
      .agg(min(col("dsh")).as("dsh"), min(col("sig")).as("sig"))

  /** [[lshScurve]] over an already-materialized signature base —
    * the stored-table sweep entry. */
  def lshScurveFrom(base: DataFrame, tauE6: Long): DataFrame =
    // every audited config joins this SAME ground truth —
    // materialize it once or the Σdf² pair kernel runs ×|configs|
    // (the gated d20 shares it per SESSION too: sharedSweepTruth)
    lshScurveWith(base, sweepTruth(base, tauE6).localCheckpoint())

  /** The sweep's exact-Jaccard ≥ τ ground-truth pair set — the d4
    * inverted-index join over the signature base's distinct-shingle
    * lists, never all-pairs. */
  private[graft] def sweepTruth(base: DataFrame, tauE6: Long): DataFrame = {
    val inv = base.select(col("doc_id"),
      size(col("dsh")).cast("long").as("n_sh"), explode(col("dsh")).as("shingle"))
    inv.select(col("shingle"), col("doc_id").as("a"), col("n_sh").as("na"))
      .join(inv.select(col("shingle"), col("doc_id").as("b"), col("n_sh").as("nb")),
        "shingle")
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("shared"))
      .filter(idiv(col("shared") * 1000000L,
        greatest(col("na") + col("nb") - col("shared"), lit(1L))) >= tauE6)
      .select(col("a"), col("b"))
  }

  /** The sweep's single candidate pass against an already-materialized
    * ground truth. */
  private[graft] def lshScurveWith(base: DataFrame, truth: DataFrame): DataFrame = {
    // ONE pair pass for the whole sweep: each doc's band keys carry
    // their config ordinal, unioned into a single (cfg, bi, bk)
    // keyspace, so candidate generation is one equi-join + one
    // distinct + one counting aggregate for ALL configs — the r12
    // form paid one band-key equi-join per config (4× a ~3.7 s
    // sustained pair pass at the gate SF). The confusion counts fold
    // as a LEFT join against truth (n_cand = group size, tp = truth
    // hits; fn derives from the truth total), replacing the per-config
    // full-outer joins — identical counts, one shuffle.
    val keys = base.select(col("doc_id"),
      explode(flatten(array(D20Configs.zipWithIndex.map { case ((b, r), ci) =>
        transform(lshBands(col("sig"), b, r), (bk, i) =>
          struct(lit(ci.toLong).as("cfg"), i.cast("long").as("bi"),
            bk.as("bk")))
      }: _*))).as("k"))
      .select(col("k.cfg").as("cfg"), col("k.bi").as("bi"),
        col("k.bk").as("bk"), col("doc_id"))
    val cand = keys.select(col("cfg"), col("bi"), col("bk"),
        col("doc_id").as("a"))
      .join(keys.select(col("cfg"), col("bi"), col("bk"),
        col("doc_id").as("b")), Seq("cfg", "bi", "bk"))
      .filter(col("a") < col("b"))
      .select(col("cfg"), col("a"), col("b")).distinct()
    val counts = cand
      .join(truth.withColumn("t", lit(1L)), Seq("a", "b"), "left")
      .groupBy(col("cfg"))
      .agg(count(lit(1)).as("n_cand"),
        sum(coalesce(col("t"), lit(0L))).as("tp"))
    val nTrue = truth.agg(count(lit(1)).as("n_true"))
    val sp = base.sparkSession
    import sp.implicits._
    val cfgs = D20Configs.zipWithIndex
      .map { case ((b, r), ci) => (ci.toLong, b.toLong, r.toLong) }
      .toDF("cfg", "bands", "rows_per_band")
    // anchor on the config literal (a config generating ZERO
    // candidates must still report its row) and broadcast the
    // one-row truth total
    cfgs.join(counts, Seq("cfg"), "left")
      .crossJoin(broadcast(nTrue))
      .select(col("bands"), col("rows_per_band"), col("n_true"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .withColumn("fp", col("n_cand") - col("tp"))
      .withColumn("fn", col("n_true") - col("tp"))
      .withColumn("recall_e6",
        idiv(col("tp") * 1000000L, greatest(col("n_true"), lit(1L))))
      .withColumn("precision_e6",
        idiv(col("tp") * 1000000L, greatest(col("n_cand"), lit(1L))))
      .orderBy(col("bands").desc)
  }

  /** Edit-similarity floor for [[d21EditVerify]]: cleanly separates
    * the gate corpus's bimodal candidate set (LSH false positives sit
    * at 24–33% similarity, planted near-dups above 93% — measured at
    * sf0.01). */
  val D21SimE6 = 500000L

  /** d21: EDIT-DISTANCE VERIFICATION — the character-level verify
    * tier of fuzzy dedup (the published recipe's final stage when
    * shingle Jaccard is too coarse: transpositions, small in-word
    * edits and punctuation churn move few characters but can shift
    * many shingles): every LSH candidate pair scored by Levenshtein
    * distance over the d1-normalized text, with the similarity
    * `1 − lev/max_len` in e6 fixed point and the ≥ [[D21SimE6]]
    * verdict beside it. Complements d14's Jaccard verify — same
    * candidates, a different metric axis; the oracle proves the
    * engine's codegen'd Levenshtein agrees with DuckDB's
    * character-for-character.
    *
    * Scale notes (100 TB): Levenshtein is O(len_a·len_b) PER PAIR —
    * affordable exactly because it runs on the banded candidate set
    * (|candidates| ≪ n²), never as a pair generator; the texts join
    * onto candidates by doc_id (two hash joins moving only candidate
    * rows). In production the bounded form (Spark's 3-arg
    * `levenshtein(a, b, threshold)` returns −1 past the bound and
    * runs the banded O(k·min_len) algorithm) caps the worst pair at
    * the verdict boundary — the full distance here because the gated
    * columns carry it. */
  def d21EditVerify(s: SparkSession, d: String): DataFrame =
    sharedEditPairs(s, d)
      .orderBy(col("a"), col("b"))

  /** Session-scoped STANDING edit-verify tier — the Levenshtein
    * verification over [[sharedLshPairs]] materialized once per
    * (corpus, build) and read by its three batch consumers (d21's
    * listing, d23's banded projection, d24's source attribution): the
    * [[sharedVerifiedClusters]] pay-once discipline applied to the
    * edit tier, which until r17 re-ran the O(len_a·len_b) kernel over
    * the SAME candidate set in all three queries (VERDICT r16 #1).
    * Pair-sized rows (a, b, lev, max_len, edit_sim_e6, verified) —
    * ≪ corpus, so the standing write is cheap. The build runs the
    * EXACT kernel because d21's gate contract carries the full
    * distance (its scaladoc's documented trade); a deployment that
    * only ever consumes the banded tier would build with
    * [[editVerifyCapped]] instead and inherit its O(clamp·min_len)
    * worst-pair bound. */
  private[graft] def sharedEditPairs(s: SparkSession, d: String): DataFrame =
    SessionCaches.getOrBuild(editPairCache, s, d)(
      Warehouse.standingTable(s, "graft_editpairs", d) { t =>
        Warehouse.writeStanding(
          editVerify(sharedLshPairs(s, d), documents(s, d)),
          t, Seq("a"), nBuckets = 32)
      })

  private val editPairCache = SessionCaches.newCache()

  /** Library form of [[d21EditVerify]]: any (a, b) candidate frame
    * against any (doc_id, text) corpus. */
  def editVerify(candidates: DataFrame, docs: DataFrame): DataFrame =
    pairTexts(candidates, docs)
      .select(col("a"), col("b"),
        levenshtein(col("ta"), col("tb")).cast("long").as("lev"),
        greatest(length(col("ta")), length(col("tb"))).cast("long")
          .as("max_len"))
      .withColumn("edit_sim_e6",
        idiv((col("max_len") - col("lev")) * 1000000L,
          greatest(col("max_len"), lit(1L))))
      .withColumn("verified", col("edit_sim_e6") >= D21SimE6)

  /** Candidate pairs joined to both sides' d1-normalized text — the
    * shared plumbing of the full and capped verify tiers: two doc_id
    * hash joins moving only candidate rows. */
  private def pairTexts(candidates: DataFrame, docs: DataFrame): DataFrame = {
    val txt = docs.select(col("doc_id"), normText(col("text")).as("nt"))
    candidates.select(col("a"), col("b"))
      .join(txt.select(col("doc_id").as("a"), col("nt").as("ta")), Seq("a"))
      .join(txt.select(col("doc_id").as("b"), col("nt").as("tb")), Seq("b"))
  }

  /** Floor of the LENGTH-RELATIVE edit bound for the capped verify
    * tier: well above the near-dup mode (planted pairs measure lev ≤ 8
    * at sf0.01) — the minimum band even for tiny documents. */
  val D23MaxLev = 32

  /** Ceiling of the length-relative edit bound: the worst PAIR costs
    * O(D23LevClamp·min_len) — linear in document length — so one
    * adversarial pair of 100 KB boilerplate docs can never own an
    * executor for minutes. Pairs with max_len ≤ D23LevClamp·1e6 /
    * (1e6−D21SimE6) (8 192 chars at the 0.5 threshold) are decided
    * EXACTLY — identically to the full tier; longer documents whose
    * true distance exceeds the clamp are the one DOCUMENTED
    * false-negative class (ADVICE r15: a 10 KB pair at sim 0.9 under a
    * flat 32-band was silently unverifiable; under the length-relative
    * band it is verified exactly up to the clamp). */
  val D23LevClamp = 4096L

  /** d23: the PRODUCTION posture of [[editVerify]] — banded
    * Levenshtein with a PER-PAIR threshold
    * `clamp(⌊max_len·(1−τ)⌋, D23MaxLev, D23LevClamp)` (τ = the
    * [[D21SimE6]] verify threshold): the band is exactly the largest
    * distance that could still verify, so every pair under the clamp
    * is decided IDENTICALLY to the full tier, and the band stops at
    * [[D23LevClamp]] so the worst pair costs O(clamp·min_len) instead
    * of O(len²) — the stated bound the verify tier needs at 100 TB.
    * Over-band pairs report NULL distance/similarity and
    * verified = false (a distance past the band is definitionally
    * below the similarity threshold whenever max_len ≤ the exactness
    * horizon above); the DuckDB oracle restates the identical per-pair
    * band over its own full distance.
    *
    * Since r17 the gate query is a PROJECTION over the standing exact
    * tier ([[sharedEditPairs]]): the banded kernel's contract (exact
    * distance when ≤ band, −1 past it) makes the capped row a pure
    * function of the exact row — `lev ≤ band` gates every output
    * column — so the kernel runs once per corpus instead of once per
    * consumer (byte-identity vs the inline [[editVerifyCapped]]
    * pinned in DedupSpec). The inline form below remains the
    * production posture when no exact tier exists. */
  def d23EditVerifyCapped(s: SparkSession, d: String): DataFrame =
    bandedFromExact(sharedEditPairs(s, d))
      .orderBy(col("a"), col("b"))

  /** The per-pair length-relative band of the capped tier —
    * `clamp(⌊max_len·(1−τ)⌋, D23MaxLev, D23LevClamp)`, stated once so
    * the inline kernel form and the exact-tier projection can never
    * disagree on it. */
  private def d23Band(maxLen: Column): Column =
    least(greatest(idiv(maxLen * (1000000L - D21SimE6),
      lit(1000000L)), lit(D23MaxLev)), lit(D23LevClamp))

  /** [[d23EditVerifyCapped]]'s rows derived from an [[editVerify]]
    * exact tier: a banded run returns the exact distance when
    * lev ≤ band and −1 (→ NULL columns, verified=false) past it, so
    * gating the exact columns on `lev ≤ band` reproduces the capped
    * output byte for byte — no second kernel execution. */
  private[graft] def bandedFromExact(exact: DataFrame): DataFrame =
    exact
      .withColumn("band", d23Band(col("max_len")))
      .withColumn("in_band", col("lev") <= col("band"))
      .select(col("a"), col("b"),
        when(col("in_band"), col("lev")).as("lev"),
        col("max_len"),
        when(col("in_band"), col("edit_sim_e6")).as("edit_sim_e6"),
        (col("in_band") && col("verified")).as("verified"))

  /** Library form of [[d23EditVerifyCapped]] — the banded kernel run
    * directly over candidates, for deployments with no standing exact
    * tier. Over-gap pairs (|len_a − len_b| > band, which lower-bounds
    * the distance above the band) are rejected by the kernel itself
    * in O(len): Spark's threshold Levenshtein returns −1 after the
    * char-count comparison, BEFORE any DP array exists (verified in
    * the 4.1.2 bytecode — `if (m − n > threshold) return −1` precedes
    * the allocation; pinned behaviorally in DedupSpec). A plan-level
    * `abs(length(ta) − length(tb)) > band` pre-filter (VERDICT r16
    * #2) would therefore pay the same O(len) numChars scan a second
    * time for every pair — the rejection is already free where it
    * belongs, inside the kernel. */
  def editVerifyCapped(candidates: DataFrame, docs: DataFrame): DataFrame =
    pairTexts(candidates, docs)
      .select(col("a"), col("b"), col("ta"), col("tb"),
        greatest(length(col("ta")), length(col("tb"))).cast("long")
          .as("max_len"))
      .withColumn("band", d23Band(col("max_len")))
      .select(col("a"), col("b"),
        graft.functions.GraftFunctions
          .levenshtein_banded(col("ta"), col("tb"), col("band"))
          .cast("long").as("lev_c"),
        col("max_len"))
      .withColumn("lev", when(col("lev_c") >= 0L, col("lev_c")))
      .withColumn("edit_sim_e6",
        when(col("lev_c") >= 0L,
          idiv((col("max_len") - col("lev_c")) * 1000000L,
            greatest(col("max_len"), lit(1L)))))
      .withColumn("verified",
        coalesce(col("edit_sim_e6") >= D21SimE6, lit(false)))
      .select(col("a"), col("b"), col("lev"), col("max_len"),
        col("edit_sim_e6"), col("verified"))

  /** d24: CROSS-SOURCE DUPLICATION MATRIX — where the near-dups COME
    * FROM: every verified near-dup pair (the d21 exact tier over the
    * standing LSH candidates) attributed to its unordered
    * (source, source) cell, with the within-source flag — the
    * provenance report a curation team reads before deciding which
    * feed to trim, and the exact-pair companion of x43's sketched
    * source-overlap estimates (x43 asks "how much CONTENT do two
    * feeds share", this asks "how many verified near-dup PAIRS
    * straddle them"). Work shape: pair-sized end to end — the
    * standing edit tier ([[sharedEditPairs]]) is verified ONCE per
    * corpus and read here, two doc_id joins attach sources, one
    * #sources²-bounded groupBy. */
  def d24CrossSourceDups(s: SparkSession, d: String): DataFrame = {
    val verified = sharedEditPairs(s, d)
      .filter(col("verified"))
      .select(col("a"), col("b"))
    val src = documents(s, d).select(col("doc_id"), col("source"))
    verified
      .join(src.select(col("doc_id").as("a"), col("source").as("sa")), Seq("a"))
      .join(src.select(col("doc_id").as("b"), col("source").as("sb")), Seq("b"))
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("within", col("src_a") === col("src_b"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** d5: SimHash near-dup pairs — 32-bit signatures, pairs within
    * hamming distance ≤ 1, found by exact hamming-ball bucketing: each
    * doc emits 33 keys — its 32-bit signature plus the 32 one-bit
    * flips — so two docs within hamming ≤ 1 ALWAYS share a key (equal
    * sigs share the identity key; sigs differing in bit i meet at a's
    * flip-i key = b's identity key). Candidate generation is therefore
    * linear (33·n bucket rows, pairs only within buckets), never the
    * O(n²) pair space — the same result set as a brute-force scan,
    * verified by the brute-force DuckDB oracle. This IS the 100 TB
    * design (hamming-ball LSH), not an approximation of it. */
  def d5SimhashPairs(s: SparkSession, d: String): DataFrame =
    sharedSimhashPairs(s, d).orderBy(col("a"), col("b"))

  /** Session-scoped STANDING SimHash pair set — [[sharedLshPairs]]'
    * twin for the hamming-ball stage, read by d5's listing, d10's
    * SimHash blocker, and the [[sharedClusters]] resolution build. */
  private[graft] def sharedSimhashPairs(s: SparkSession, d: String): DataFrame =
    SessionCaches.getOrBuild(simPairCache, s, d)(
      Warehouse.standingTable(s, "graft_simpairs", d) { t =>
        Warehouse.writeStanding(simhashPairs(documents(s, d)),
          t, Seq("a"), nBuckets = 32)
      })

  private val simPairCache = SessionCaches.newCache()

  /** The d5 pair pipeline over any (doc_id, text) frame, unordered —
    * reused by the cluster-resolution step [[d6DupClusters]].
    * `maxBucket` caps hamming-ball bucket size count-first (the
    * [[dropOverCapKeys]] discipline): a run of identical-signature
    * boilerplate docs lands its whole population in shared buckets,
    * and capped runs drop those buckets before any posting array
    * materializes. None = exact hamming-ball blocking, the
    * oracle-parity posture d5/d6/d10/d11 run with. */
  private[graft] def simhashPairs(docs: DataFrame,
      maxBucket: Option[Int] = None): DataFrame = {
    // ONE sig derivation for batch and incremental consumers
    // ([[simhashSigs]]): native SimHash kernel, aggregate-barriered —
    // a change to the signature stage can no longer diverge the two.
    val sg = simhashSigs(docs)
    // 33 bucket keys per doc: identity + each single-bit flip
    val keyed = sg.select(col("doc_id"), col("bits"),
      explode(concat(
        array(col("bits")),
        transform(array((0 until 32).map(i => lit(1L << i)): _*),
          mask => col("bits").bitwiseXOR(mask))))
        .as("bucket"))
    // pairs within buckets (single subtree — same pattern as d3); a
    // hamming-0 pair shares 33 buckets and a hamming-1 pair 2, so
    // dedupe with distinct before emitting; capped runs drop over-cap
    // buckets count-first, before the posting array exists
    val capped = maxBucket.fold(keyed)(m =>
      dropOverCapKeys(keyed, Seq("bucket"), m.toLong))
    val buckets = capped.groupBy(col("bucket"))
      .agg(collect_list(struct(col("doc_id"), col("bits"))).as("docs"))
      .filter(size(col("docs")) > 1)
    buckets
      .select(explode(col("docs")).as("da"), col("docs"))
      .select(col("da"), explode(col("docs")).as("db"))
      .filter(col("da.doc_id") < col("db.doc_id"))
      .select(col("da.doc_id").as("a"), col("db.doc_id").as("b"),
        bit_count(col("da.bits").bitwiseXOR(col("db.bits"))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= 1L)
      .distinct()
  }

  /** The d5 SIGNATURE stage — per doc its 32-bit SimHash as a long
    * (native kernel, one digest per word, no hex staging; the
    * aggregate barrier stops inferred join/generate filters from
    * re-inlining the pipeline below the projection, a measured 2×
    * eval per row). The ONE derivation behind [[simhashPairs]] (batch
    * d5/d6) and the incremental/streaming consumers
    * ([[simhashIncrementalPairs]],
    * [[graft.streaming.StreamOps.textDedupIngest]]). */
  private[graft] def simhashSigs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"), simhash32(col("ws")).as("sig"))
      .select(col("doc_id"), conv(col("sig"), 2, 10).cast("long").as("bits"))
      .groupBy(col("doc_id")).agg(min(col("bits")).as("bits"))

  /** d5 pairs TOUCHING a batch — the m8/d8 incremental split on the
    * SimHash blocker: batch docs probe their 33-key hamming balls
    * (identity + every single-bit flip) against the (standing ∪
    * batch) IDENTITY keys, so a pair within hamming ≤ 1 with a batch
    * member always collides (d5's exactness argument, asymmetric) and
    * cost tracks |batch| × bucket sizes, never corpus². Old-old pairs
    * are deliberately NOT generated — an ingest maintainer already
    * holds their closure in its standing resolution. */
  private[graft] def simhashIncrementalPairs(standingSigs: DataFrame,
      batchSigs: DataFrame): DataFrame = {
    val index = standingSigs.unionByName(batchSigs)
      .select(col("doc_id"), col("bits"), col("bits").as("bucket"))
    val probes = batchSigs.select(col("doc_id").as("p_doc"),
      col("bits").as("p_bits"),
      explode(concat(
        array(col("bits")),
        transform(array((0 until 32).map(i => lit(1L << i)): _*),
          mask => col("bits").bitwiseXOR(mask)))).as("bucket"))
    probes.join(index, Seq("bucket"))
      .filter(col("p_doc") =!= col("doc_id"))
      .select(least(col("p_doc"), col("doc_id")).as("a"),
        greatest(col("p_doc"), col("doc_id")).as("b"),
        bit_count(col("p_bits").bitwiseXOR(col("bits"))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= 1L)
      .distinct()
  }

  /** d6: near-dup CLUSTER RESOLUTION — the step that turns candidate
    * pairs into actionable dedup decisions. d5's hamming≤1 pairs are
    * the edges; [[Components.connectedComponents]] (alternating
    * large-star/small-star, O(log n) rounds) resolves the transitive
    * closure; each document gets its cluster's minimum doc_id as the
    * canonical representative. A pipeline KEEPS rows where
    * is_canonical = 1 and drops the rest — this query materializes that
    * decision for every document. */
  def d6DupClusters(s: SparkSession, d: String): DataFrame =
    sharedClusters(s, d).orderBy(col("doc_id"))

  /** d11: canonical-selection manifest — the record a dedup stage
    * actually ships: per doc its near-dup cluster, its quality score,
    * the cluster's KEPT doc and the keep/drop bit. d6's representative
    * is the min doc_id (a graph artifact of the component algorithm);
    * production dedup keeps the BEST copy of each cluster — here the
    * x2 quality score, ties broken to the smallest doc_id so the choice
    * is total and reshuffle-proof.
    *
    * Shape: d6's component resolution (alternating-star CC over the d5
    * SimHash pair set) joined with x2's narrow quality signals, then
    * ONE window over cluster_rep picks the argmax. Scale: near-dup
    * clusters are small by construction (they are sets of mutual
    * near-copies), so the per-cluster window is bounded; the heavy
    * machinery (pair generation, CC) is exactly d5/d6's and inherits
    * their bucketed/bounded plans. */
  def d11Canonical(s: SparkSession, d: String): DataFrame =
    canonicalManifestFrom(sharedClusters(s, d), documents(s, d))
      .orderBy(col("doc_id"))

  /** Library form of [[d11Canonical]] over any (doc_id, text) frame;
    * presentation order left to the caller. */
  def canonicalManifest(docs: DataFrame): DataFrame =
    canonicalManifestFrom(dupClusters(docs), docs)

  /** [[canonicalManifest]] over an ALREADY-RESOLVED cluster frame
    * (doc_id, cluster_rep, …) — the [[sharedClusters]] consumers'
    * entry, so the resolution is never recomputed per query. */
  private[graft] def canonicalManifestFrom(clusterFrame: DataFrame,
      docs: DataFrame): DataFrame = {
    val clusters = clusterFrame.select(col("doc_id"), col("cluster_rep"))
    val quality = TextAnalysis.qualitySignals(docs)
      .select(col("doc_id"), col("quality_e3"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_rep"))
      .orderBy(col("quality_e3").desc, col("doc_id"))
    clusters.join(quality, Seq("doc_id"))
      .withColumn("canonical_id", first(col("doc_id")).over(w))
      .withColumn("keep",
        when(col("doc_id") === col("canonical_id"), 1L).otherwise(0L))
  }

  /** Exact-Jaccard verification threshold for d14 (0.8 — the
    * SlimPajama/RefinedWeb published operating point). */
  val D14TauE6 = 800000L

  /** d14: the VERIFIED MinHash dedup recipe end-to-end — the published
    * SlimPajama/RefinedWeb pipeline as ONE manifest: banded-MinHash
    * LSH candidates (d3's expander — never the pair cross product) →
    * exact-Jaccard verification at τ=0.8 on distinct shingle sets
    * (LSH over-generates; the verify step is what makes the recipe's
    * precision exact) → connected-component closure over the verified
    * pairs → keep-the-best-copy manifest (d11's quality argmax). The
    * engine's simhash-based d11 answers "hamming-ball near-dups";
    * this answers the resemblance-threshold contract the published
    * recipes specify.
    *
    * Scale: candidates are the d3 bucket expansion (maxBucket is the
    * skew knob; uncapped here for oracle parity), verification is
    * per-CANDIDATE array intersection (cost = Σ|pair shingles| over
    * LSH survivors only — the step SlimPajama pays), the closure is
    * the O(log n)-round alternating-star CC, and the manifest window
    * is bounded by near-dup cluster size. False-negative honesty: a
    * ≥τ pair MISSED by every LSH band is absent here by design (the
    * recipe's recall is the banding curve's); the oracle restates the
    * same banding, so the gate checks the RECIPE, not a brute-force
    * ideal. */
  def d14MinhashDedup(s: SparkSession, d: String): DataFrame =
    canonicalManifestFrom(sharedVerifiedClusters(s, d, maxBucket = None),
      documents(s, d))
      .orderBy(col("doc_id"))

  /** Session-scoped STANDING verified-dedup RESOLUTION — the
    * [[sharedClusters]] discipline applied to the d14/d17 recipe's
    * heavy half (LSH candidates → exact-Jaccard verify → CC closure):
    * the resolution is a pure function of (corpus, maxBucket), a real
    * pipeline computes it once and every manifest read is then a
    * quality-argmax window over the checkpointed (doc_id, cluster_rep)
    * map — 2 narrow columns, one row per doc, NOT the corpus-sized
    * signature frame whose pin was measured and rejected inside
    * [[lshCandidatesRaw]]. Cache key carries the cap so capped and
    * uncapped postures can never serve each other (the
    * sharedContainment fence). At warehouse scale this persists as a
    * doc_id-bucketed table like the text resolution. */
  private[graft] def sharedVerifiedClusters(s: SparkSession, d: String,
      maxBucket: Option[Int]): DataFrame =
    SessionCaches.getOrBuild(verifiedClusterCache, s,
        maxBucket.fold(d)(m => s"$d|maxbucket=$m")) {
      Warehouse.standingTable(s,
        maxBucket.fold("graft_vclusters")(m => s"graft_vclusters_cap$m"), d,
        Map("graft.maxbucket" -> maxBucket.fold("none")(_.toString))) { t =>
        val docs = documents(s, d).repartition(col("doc_id"))
        val cands = maxBucket match {
          case None => sharedLshPairs(s, d)
          case cap  => lshCandidatesRaw(lshIndex(docs), cap)
        }
        Warehouse.writeStanding(verifiedClustersFrom(docs, cands),
          t, Seq("doc_id"), nBuckets = 32)
      }
    }

  private val verifiedClusterCache = SessionCaches.newCache()

  /** Bucket cap for [[d17VerifiedCapped]]: the sf0.01 band-bucket
    * maximum is 3, so a cap of 2 is ARMED — it drops real buckets and
    * shrinks the candidate set (24 vs 30 pairs), so the gate
    * distinguishes capped from uncapped. */
  val D17MaxBucket = 2

  /** d17: the d14 verified-dedup RECIPE with the PRODUCTION LSH
    * bucket cap armed — candidates come from
    * [[lshCandidatesRaw]]`(maxBucket = Some(D17MaxBucket))` (the
    * count-first [[dropOverCapKeys]] path), then the identical
    * verify → closure → keep-one manifest. The DuckDB oracle restates
    * the cap as `HAVING count(*) <= maxBucket` over the exploded band
    * census before pair expansion, so the capped recipe's recall
    * contract (boilerplate buckets shed wholesale BEFORE any posting
    * array exists) is pinned cross-engine, not just in-spec. */
  def d17VerifiedCapped(s: SparkSession, d: String): DataFrame =
    canonicalManifestFrom(
      sharedVerifiedClusters(s, d, maxBucket = Some(D17MaxBucket)),
      documents(s, d))
      .orderBy(col("doc_id"))

  /** Bloom geometry for [[d19BloomNovelty]]: 2^18 bits packed into
    * 4096 longs (32 KB broadcast state), 3 positions per key. Sized
    * for the standing corpus's ~19k distinct 6-token windows at the
    * gate SF: fill ≈ 20%, so the false-positive floor is ~0.2³ ≈ 0.8%
    * (measured at sf0.01: 3 misfires across ~4.9k incoming windows;
    * the exact `n_seen` column sits beside `n_maybe` to display the
    * floor honestly). At 100 TB, m scales with the standing window
    * census (~10 bits/key keeps FP ≈ 1%) — still a broadcastable
    * bitset where the census itself is a corpus-sized join side. */
  val BloomMBits = 262144
  val BloomK = 3

  /** Staged bloom bit positions: k md5-prefix folds mod m — the
    * x6/x26/x36 hash-staging family (the position definition lives
    * HERE once and is inlined identically into the Spark plan and the
    * DuckDB oracle; [[graft.functions.BloomAggExpr]] never hashes). */
  private[operators] def bloomPositions(key: Column): Column =
    transform(sequence(lit(0), lit(BloomK - 1)), i =>
      conv(substring(md5(concat(key, lit(":"), i.cast("string"))), 1, 15),
        16, 10).cast("long") % lit(BloomMBits.toLong))

  /** Distinct (doc_id, window) 6-token overlapping windows — the x35
    * substring grain ([[graft.operators.TextAnalysis.SubstrWindow]]). */
  private[graft] def distinctWindows(docs: DataFrame): DataFrame = {
    val W = TextAnalysis.SubstrWindow
    docs
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"), col("ws"), size(col("ws")).cast("long").as("n_tok"))
      .filter(col("n_tok") >= W.toLong)
      // native word_windows kernel — see TextAnalysis.substringDedup
      .select(col("doc_id"), explode(
        graft.functions.GraftFunctions
          .word_windows(col("ws"), W, 1, fullOnly = true))
        .as("g"))
      .distinct()
  }

  /** d19: BLOOM-GATED SUBSTRING NOVELTY — approximate decontamination
    * / novelty scoring of an incoming batch against a standing corpus
    * via the engine's native [[graft.functions.BloomAggExpr]]
    * `TypedImperativeAggregate`, completing the sketch triad (x26 CMS
    * = frequency, x36 HLL = cardinality, bloom = MEMBERSHIP). The
    * corpus's distinct 6-token windows (x35's substring grain — the
    * granularity at which the corpora's planted duplicate passages
    * actually collide) fold into one m-bit filter; every incoming
    * doc's windows are tested against the broadcast bitset, and ONLY
    * the maybe-seen minority (true overlaps + the measured FP floor)
    * pays the exact verification join — definitely-new windows never
    * touch the corpus key set. Output per incoming doc: window count,
    * bloom maybe-count, exact seen-count (the honesty column), the
    * novelty fraction the bloom alone would report, and the filter's
    * set-bit census (pins the packed word state cross-engine: DuckDB
    * counts distinct positions, Spark popcounts the packed words —
    * equal iff the packing is correct).
    *
    * Scale notes (100 TB): the corpus side collapses to a
    * constant-size sketch (one map-side-combined aggregate, OR-merge
    * — associative, commutative, IDEMPOTENT, so redelivered corpus
    * rows cannot change it and a streaming consumer needs no
    * exactly-once fence, unlike CMS). The incoming side is a narrow
    * window explode + one broadcast of KB–GB of bits; the exact join
    * runs over the maybe minority only — at a 1% FP floor that is
    * ~1% of definitely-new traffic, vs 100% for the join-everything
    * plan d8/x21 run. Windows ⊂ corpus make the filter persistable
    * as-is (32 KB at test geometry); rebuilds are one linear pass. */
  def d19BloomNovelty(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    bloomNovelty(
      docs.filter(col("doc_id") < IncrementalSplit),
      docs.filter(col("doc_id") >= IncrementalSplit))
      .orderBy(col("doc_id"))
  }

  /** Library form of [[d19BloomNovelty]]: any standing/incoming
    * (doc_id, text) frames. Docs with fewer than 6 tokens carry no
    * windows and report vacuous full novelty (n_win = 0,
    * novelty_e6 = 1000000). */
  def bloomNovelty(corpus: DataFrame, incoming: DataFrame): DataFrame = {
    // Both window frames are referenced twice (cw: sketch fold + exact
    // verify join; iw: bloom test + per-doc window counts) and Spark
    // shares no subtrees within a DAG, so without a cut the tokenize +
    // window-explode + distinct pipeline executes TWICE per side.
    // CUT REMOVED by measurement (r18, VERDICT r17 #4): the r17 EAGER
    // barrier cost more wall than the saved recompute in every bench
    // sample (d19 0.81×), and a same-JVM interleaved A/B/C (table in
    // OPTIMIZATION_r18.md §4a) read none 1.35 s < lazy 1.61 < eager 1.68
    // at IDENTICAL task-time (2.5 s) — at this operator the window
    // pipeline recompute is cheaper than materializing the corpus-
    // gram-sized frames (which ADVICE r17 also flagged as an
    // unrecoverable executor-local materialization at warehouse
    // scale). So: two narrow resilient scans per side.
    val cw = distinctWindows(corpus).select(col("g")).distinct()
    val sketch = cw
      .select(bloomPositions(col("g")).as("pos"))
      .groupBy()
      .agg(graft.functions.GraftFunctions.bloom_sketch(col("pos"), BloomMBits)
        .as("bits"))
    val iw = distinctWindows(incoming)
    val tested = iw
      .withColumn("pos", bloomPositions(col("g")))
      .crossJoin(broadcast(sketch))
      .withColumn("maybe", expr(
        "forall(pos, p -> (shiftright(element_at(bits, CAST(p div 64 AS INT) + 1), " +
          "CAST(p % 64 AS INT)) & 1) = 1)"))
    // exact verification join ONLY over the maybe-seen minority — the
    // production recipe's cost model made literal
    val seen = tested.filter(col("maybe"))
      .join(cw.select(col("g"), lit(1L).as("hit")), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_maybe"),
        sum(coalesce(col("hit"), lit(0L))).as("n_seen"))
    val nbits = sketch.select(expr(
      "aggregate(bits, CAST(0 AS BIGINT), (acc, w) -> acc + CAST(bit_count(w) AS BIGINT))")
      .as("n_set_bits"))
    incoming.select(col("doc_id")).distinct()
      .join(iw.groupBy(col("doc_id")).agg(count(lit(1)).as("n_win")),
        Seq("doc_id"), "left")
      .join(seen, Seq("doc_id"), "left")
      .crossJoin(broadcast(nbits))
      .select(col("doc_id"),
        coalesce(col("n_win"), lit(0L)).as("n_win"),
        coalesce(col("n_maybe"), lit(0L)).as("n_maybe"),
        coalesce(col("n_seen"), lit(0L)).as("n_seen"),
        when(coalesce(col("n_win"), lit(0L)) > 0L,
          idiv((col("n_win") - coalesce(col("n_maybe"), lit(0L))) * 1000000L,
            col("n_win")))
          .otherwise(1000000L).as("novelty_e6"),
        col("n_set_bits"))
  }

  /** Library form of [[d14MinhashDedup]]: candidates (a, b) verified
    * at [[D14TauE6]] on distinct word-3-gram shingles, closed, and
    * reduced to the keep-one manifest. */
  private[graft] def verifiedManifest(docs: DataFrame,
      candidates: DataFrame): DataFrame =
    canonicalManifestFrom(verifiedClustersFrom(docs, candidates), docs)

  /** The verify → closure half of [[verifiedManifest]]: exact-Jaccard
    * verification at τ = [[D14TauE6]] over the candidate pairs, then
    * the alternating-star component closure — the standing resolution
    * [[sharedVerifiedClusters]] materializes once per (session, dir,
    * cap). */
  private[graft] def verifiedClustersFrom(docs: DataFrame,
      candidates: DataFrame): DataFrame = {
    val comp = Components.connectedComponents(
      docs.select(col("doc_id").as("id")),
      verifiedPairsFrom(docs, candidates))
    comp.select(col("id").as("doc_id"), col("rep").as("cluster_rep"))
  }

  /** The verify HALF of [[verifiedClustersFrom]] — candidate pairs cut
    * to exact 3-shingle Jaccard ≥ [[D14TauE6]], returned as (a, b)
    * without the closure: the form x40's ingest decision consumes (an
    * arriving doc needs only "do I have a verified smaller partner",
    * never the cluster). Pair-space work only — the shingle-set join
    * moves candidate rows, not corpus². */
  private[graft] def verifiedPairsFrom(docs: DataFrame,
      candidates: DataFrame): DataFrame = {
    val docSh = docs
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"), shingles3(col("ws")).as("sh0"))
      .select(col("doc_id"), array_distinct(col("sh0")).as("sh"))
      .select(col("doc_id"), col("sh"), size(col("sh")).cast("long").as("n_sh"))
      .groupBy(col("doc_id"))
      .agg(min(col("sh")).as("sh"), min(col("n_sh")).as("n_sh"))
    candidates.select(col("a"), col("b"))
      .join(docSh.select(col("doc_id").as("a"), col("sh").as("sha"),
        col("n_sh").as("na")), Seq("a"))
      .join(docSh.select(col("doc_id").as("b"), col("sh").as("shb"),
        col("n_sh").as("nb")), Seq("b"))
      .withColumn("shared",
        size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .withColumn("jaccard_e6",
        idiv(col("shared") * 1000000L,
          greatest(col("na") + col("nb") - col("shared"), lit(1L))))
      .filter(col("jaccard_e6") >= D14TauE6)
      .select(col("a"), col("b"))
  }

  /** d13: the dedup RUN REPORT — the one-row summary a pipeline logs
    * and alerts on after cluster resolution: corpus size, cluster
    * count, docs dropped (corpus − clusters under keep-one), the drop
    * rate as an exact integer ratio, the largest cluster, and how many
    * clusters are non-trivial. A sudden dup-rate jump is the canary
    * for a scraper loop or an ingestion replay; the largest-cluster
    * size is the skew canary for the pair stages. All counts
    * aggregate off ONE component resolution — cluster sizes first
    * (combiner-friendly), then a driver-sized final fold. */
  def d13DedupStats(s: SparkSession, d: String): DataFrame = {
    val sizes = sharedClusters(s, d)
      .groupBy(col("cluster_rep")).agg(count(lit(1)).as("sz"))
    sizes.agg(
      sum(col("sz")).as("n_docs"),
      count(lit(1)).as("n_clusters"),
      (sum(col("sz")) - count(lit(1))).as("n_dropped"),
      max(col("sz")).as("max_cluster"),
      sum(when(col("sz") > 1L, 1L).otherwise(0L)).as("n_multi_clusters"))
      .withColumn("drop_rate_e6",
        expr("(n_dropped * 1000000) DIV n_docs"))
  }

  /** Session-scoped STANDING cluster table: the d5-pair + CC
    * resolution of a corpus directory, materialized ONCE per
    * (session, dir) and read by every consumer — d6, d11, d13, x10
    * and x22 all need the same resolution, and before this cache each
    * re-ran the full pair+CC pipeline standalone (~4 runs × ~3 s at
    * sf0.1). This is the d8-postings discipline applied to the
    * component output: pay the heavy stage once, every later read is
    * a scan. `localCheckpoint` pins the result (doc_id, cluster_rep,
    * is_canonical — 3 narrow columns, one row per doc) in
    * session-lifetime block storage; consumers' plans scan the
    * checkpointed rows (plan-asserted in the spec — no CC loop, no
    * pair join re-entry). At warehouse scale the same contract is the
    * PERSISTED form instead: [[Warehouse.writeBucketed]] on doc_id,
    * so signal joins (x10's fabric) also plan exchange-free — the
    * session cache is the single-run twin of that standing table. */
  def sharedClusters(s: SparkSession, d: String): DataFrame =
    SessionCaches.getOrBuild(clusterCache, s, d) {
      // CROSS-SESSION standing table (round 13): the TEXT closure now
      // persists like the image/audio/video closures — the CC loop (an
      // iterative multi-job stage) runs once per CATALOG, and a fresh
      // session serves d6/d11/d13/d22/m17 from a doc_id-bucketed scan
      // (WarehouseSpec's cross-session contract, text row included)
      Warehouse.standingTable(s, "graft_textcomp", d) { table =>
        Warehouse.writeStanding(
          clustersFromPairs(documents(s, d), sharedSimhashPairs(s, d)),
          table, Seq("doc_id"), nBuckets = 32)
      }
    }

  private val clusterCache = SessionCaches.newCache()

  /** Library form of [[d6DupClusters]] over any (doc_id, text) frame;
    * presentation order left to the caller. */
  def dupClusters(docs: DataFrame): DataFrame =
    clustersFromPairs(docs, simhashPairs(docs))

  /** [[dupClusters]] over an already-materialized pair frame — the
    * [[sharedClusters]] build path, so the pair stage is read from
    * its own shared checkpoint instead of recomputed. */
  private[graft] def clustersFromPairs(docs: DataFrame,
      pairs: DataFrame): DataFrame = {
    val comp = Components.connectedComponents(
      docs.select(col("doc_id").as("id")),
      pairs.select(col("a"), col("b")))
    comp.select(col("id").as("doc_id"), col("rep").as("cluster_rep"),
      when(col("id") === col("rep"), 1L).otherwise(0L).as("is_canonical"))
  }

  /** d9 keep gates: a source doc needs ≥3 distinct shingles for its
    * containment to mean anything, and only pairs at ≥ 50% containment
    * are emitted. */
  val MinShinglesA = 3L
  val MinContainE6 = 500000L

  /** d9: CONTAINMENT pairs — Broder's asymmetric near-dup metric
    * c(a→b) = |S(a) ∩ S(b)| / |S(a)| over distinct word-3-gram shingle
    * sets. Containment is what resemblance (Jaccard, d3/d4) cannot
    * see: a short document embedded verbatim in a long one scores
    * c(short→long) = 1 while Jaccard is diluted to |short|/|long| —
    * the quote/boilerplate/excerpt case a dedup pipeline still wants
    * to catch, and inherently DIRECTED (pairs come out ordered, both
    * directions evaluated independently). Candidates via the inverted
    * index: one (shingle → docs) grouping, ordered-pair expansion
    * within each posting, so work is Σ df² — linear at fixed overlap
    * (the d4/x11 join family; `maxDf` caps boilerplate postings, and
    * d9 runs uncapped for oracle parity like d3). Intersections are
    * counts of DISTINCT shared shingles; the score is the exact
    * integer ratio ⌊shared·10⁶ / |S(a)|⌋. */
  def d9Containment(s: SparkSession, d: String): DataFrame =
    sharedContainment(s, d)
      .select(col("a"), col("b"), col("n_shared"), col("n_a"),
        col("containment_e6"))
      .orderBy(col("a"), col("b"))

  /** df cap for [[d16ContainmentCapped]]: strictly inside the sf0.01
    * df range (max observed df = 7), so the cap is ARMED — it drops
    * real shingles AND changes the pair set vs uncapped d9 (44 vs 50
    * pairs), proving the gate distinguishes the two postures. */
  val D16MaxDf = 3L

  /** d16: d9 with the PRODUCTION boilerplate cap armed —
    * [[containmentPairs]] runs `maxDf = Some(D16MaxDf)` (the
    * count-first [[dropOverCapKeys]] path in front of the posting
    * build), gated against a DuckDB oracle whose posting CTE restates
    * the cap as a deterministic df predicate (`HAVING count(*) <=
    * maxDf` over the distinct doc-shingle census). This is VERDICT
    * r10's ask: the 100 TB posture itself rides the cross-engine hash
    * gate, with cap semantics pinned exactly — `n_a` stays the FULL
    * distinct-shingle size (the cap drops candidate keys, not the
    * containment denominator), so a capped pair's score is unchanged,
    * only discovery through over-df shingles is shed. */
  def d16ContainmentCapped(s: SparkSession, d: String): DataFrame =
    sharedContainment(s, d, maxDf = Some(D16MaxDf))
      .select(col("a"), col("b"), col("n_shared"), col("n_a"),
        col("containment_e6"))
      .orderBy(col("a"), col("b"))

  /** STANDING containment pair set — the Σdf² inverted-index stage
    * materialized once and read by both consumers (d9's pair listing,
    * d15's subsumption action). Unlike [[sharedClusters]]' session
    * checkpoint, this stage persists as a WAREHOUSE table
    * ([[Warehouse.writeContainment]], hash-bucketed + sorted by `a`):
    * d15's per-`a` window then plans with NO exchange above the
    * bucketed scan (WarehouseSpec), and a later session on the same
    * catalog reads the standing table without recomputing the pair
    * stage at all — the cross-session form the d8 postings index
    * already has. Immutable-corpus contract as documented on
    * [[SessionCaches]]; the table name carries an md5 digest of the
    * corpus directory and the directory itself rides TBLPROPERTIES,
    * validated before a pre-existing table is reused.
    *
    * `maxDf` selects the CAPPED posture's standing table instead (the
    * d16 production form) — the cap is a pure function of (corpus,
    * maxDf), so it earns the same pay-once discipline: the Σdf² kernel
    * (and the census double-pass the capped path carries — the
    * count-first [[dropOverCapKeys]] census reads the post-barrier
    * rows, see [[containmentPairs]]) executes ONCE at write time, and
    * every later d16 run is a bucketed scan. The cap rides both the
    * table NAME (`_cap<m>_`) and TBLPROPERTIES (`graft.maxdf`),
    * validated alongside the source path, so capped and uncapped
    * postures can never serve each other's pairs. */
  private[graft] def sharedContainment(s: SparkSession, d: String,
      maxDf: Option[Long] = None): DataFrame =
    SessionCaches.getOrBuild(containCache, s,
        maxDf.fold(d)(m => s"$d|maxdf=$m")) {
      // digest naming, TBLPROPERTIES validation and orphan-location
      // cleanup all live in [[Warehouse.standingTable]] (the helper
      // was factored FROM this method); the cap posture rides both
      // the table NAME and a validated property, so capped and
      // uncapped postures can never serve each other's pairs
      val capProp = maxDf.fold("none")(_.toString)
      Warehouse.standingTable(s,
        maxDf.fold("graft_containment")(m => s"graft_containment_cap$m"),
        d, Map("graft.maxdf" -> capProp)) { table =>
        Warehouse.writeContainment(
          containmentPairs(documents(s, d).repartition(col("doc_id")),
            maxDf), table, nBuckets = 32)
      }
    }

  private val containCache = SessionCaches.newCache()

  /** Library form of [[d9Containment]] over any (doc_id, text) frame,
    * unordered; `maxDf` is the production boilerplate cap. */
  def containmentPairs(docs: DataFrame, maxDf: Option[Long]): DataFrame = {
    // aggregate barrier on the unique key (d3's pattern): sizes and
    // distinct shingle sets materialize once, and generate-inferred
    // filters cannot re-inline the shingling below the explode
    // (capped runs execute this twice — census + anti-join stream
    // side; a shared localCheckpoint was measured and rejected, see
    // lshCandidatesRaw: unevictable corpus-sized pin OOMs the
    // megakey-scale census)
    val sh = docs
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"), array_distinct(shingles3(col("ws"))).as("shs"))
      .groupBy(col("doc_id")).agg(min(col("shs")).as("shs"))
      .select(col("doc_id"), size(col("shs")).cast("long").as("n_sh"),
        explode(col("shs")).as("sh"))
    // capped runs drop over-df shingles count-first (dropOverCapKeys):
    // the boilerplate-shingle buffer must never reach collect_list.
    // The census reads the post-barrier explode — a pre-barrier census
    // (nested shingles3(words(text)) under the inferred generate
    // filter) was a measured 30× re-inline loss, see dropOverCapKeys.
    val capped = maxDf.fold(sh)(m => dropOverCapKeys(sh, Seq("sh"), m))
    val kept = capped.groupBy(col("sh"))
      .agg(collect_list(struct(col("doc_id"), col("n_sh"))).as("docs"))
      .filter(size(col("docs")) > 1)
    kept
      .select(explode(col("docs")).as("da"), col("docs"))
      .select(col("da"), explode(col("docs")).as("db"))
      .filter(col("da.doc_id") =!= col("db.doc_id"))
      .groupBy(col("da.doc_id").as("a"), col("db.doc_id").as("b"))
      .agg(count(lit(1)).as("n_shared"), min(col("da.n_sh")).as("n_a"),
        min(col("db.n_sh")).as("n_b"))
      .filter(col("n_a") >= MinShinglesA)
      .withColumn("containment_e6", idiv(col("n_shared") * 1000000L, col("n_a")))
      .filter(col("containment_e6") >= MinContainE6)
  }

  /** Containment threshold for subsumption (0.9). */
  val SubsumeTauE6 = 900000L

  /** d15: SUBSUMPTION dedup — the ACTION d9's directed containment
    * metric exists for: a document ≥90% contained in a LARGER one
    * (ties by id) is a quote/excerpt/boilerplate copy and is dropped
    * in favor of its container. Resemblance clustering (d6/d11/d14)
    * cannot take this action — Jaccard dilutes short-inside-long to
    * noise — so this is the complementary dedup pass a corpus build
    * runs after the resemblance pass. Each subsumed doc names its
    * best container (largest, tie-smallest-id — deterministic); the
    * strictly-larger/tie rule needs no transitivity, so chains
    * (a⊂b⊂c) resolve to the maximal doc without iteration.
    * Scale = d9's (the pair stage is the same inverted-index join;
    * maxDf is the knob; uncapped here for oracle parity). The pair
    * stage carries `n_b` in its stored schema, so the pick needs no
    * join before the per-`a` window — over the `a`-bucketed standing
    * table ([[sharedContainment]]) the whole subsumption decision
    * plans exchange-free on the pair side (WarehouseSpec). */
  def d15Subsumption(s: SparkSession, d: String): DataFrame =
    subsumptionFrom(sharedContainment(s, d), documents(s, d))
      .orderBy(col("doc_id"))

  /** Library form of [[d15Subsumption]] over any containment pair
    * frame (the [[containmentPairs]] schema, `n_b` included) and its
    * (doc_id, text) corpus; presentation order left to the caller. */
  def subsumptionFrom(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val sizes = docs.select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"), shingles3(col("ws")).as("sh0"))
      .select(col("doc_id"),
        size(array_distinct(col("sh0"))).cast("long").as("n_sh"))
    val wPick = org.apache.spark.sql.expressions.Window
      .partitionBy(col("a")).orderBy(col("n_b").desc, col("b"))
    val subs = pairs
      .filter(col("containment_e6") >= SubsumeTauE6)
      .filter(col("n_b") > col("n_a") ||
        (col("n_b") === col("n_a") && col("b") < col("a")))
      .withColumn("pick", row_number().over(wPick))
      .filter(col("pick") === 1)
      .select(col("a").as("doc_id"), col("b").as("subsumed_by"),
        col("containment_e6"))
    sizes.join(subs, Seq("doc_id"), "left")
      .withColumn("subsumed", col("subsumed_by").isNotNull)
      .select(col("doc_id"), col("n_sh"), col("subsumed"),
        col("subsumed_by"), col("containment_e6"))
  }

  /** d22: SOFT DEDUP — duplicate-aware DOWNWEIGHTING instead of
    * dropping (the published alternative to hard dedup: reweight so a
    * near-dup cluster contributes ~one document's worth of gradient,
    * keeping its unique content in-distribution — SoftDedup, Fan et
    * al. 2024; the D4/"repeat with weight" lineage): per document,
    * its d6 cluster, the cluster size, and the sampling weight
    * `1e6 / cluster_size` (floored e6 fixed point, so a cluster's
    * total weight is ≤ 1e6 by construction), plus the token count and
    * the EFFECTIVE tokens the doc contributes under weighted sampling
    * — the number a token-budget planner (x33) consumes.
    *
    * Scale notes (100 TB): the cluster resolution is the standing
    * [[sharedClusters]] artifact every dedup consumer already reads;
    * on top of it this is one cluster-keyed count (map-side combined,
    * cluster-space sized) + one narrow token-count map — strictly
    * cheaper than the hard-dedup manifest it replaces. */
  def d22SoftDedup(s: SparkSession, d: String): DataFrame = {
    val cl = sharedClusters(s, d).select(col("doc_id"), col("cluster_rep"))
    val sz = cl.groupBy(col("cluster_rep"))
      .agg(count(lit(1)).as("cluster_size"))
    // standing per-doc token counts (corpus tokenized once, shared
    // with x9/x33) instead of re-reading the text column per query
    val toks = TextAnalysis.sharedDocStats(s, d)
      .select(col("doc_id"), col("n_tokens"))
    cl.join(sz, Seq("cluster_rep"))
      .join(toks, Seq("doc_id"))
      .withColumn("weight_e6", idiv(lit(1000000L), col("cluster_size")))
      .withColumn("eff_tokens_e6", col("n_tokens") * col("weight_e6"))
      .select(col("doc_id"), col("cluster_rep"), col("cluster_size"),
        col("n_tokens"), col("weight_e6"), col("eff_tokens_e6"))
      .orderBy(col("doc_id"))
  }

  /** d10: MULTI-STRATEGY BLOCKING UNION — the record-linkage pattern
    * where several cheap, differently-blind blockers each propose
    * candidate pairs and the union (with provenance) feeds one
    * verification pass. Three blockers here, reusing the library
    * pipelines verbatim: exact content hash (d1's normalized md5 —
    * catches identical text LSH might tie-break away), MinHash LSH
    * bands (d3 — word-shingle overlap), and the SimHash hamming ball
    * (d5 — bit-level near-duplication). Each pair carries `via_*`
    * provenance booleans and `n_blockers`; the verification/rerank
    * consumer prioritizes by agreement count.
    *
    * Scale notes (100 TB): the union costs exactly the sum of its
    * already-bucketed blockers (each linear/Σ|bucket|², none all-pairs)
    * plus ONE groupBy over candidate pairs — pair-space sized, ≪
    * corpus. Blockers stay independently cappable (maxBucket/maxDf);
    * adding a fourth blocker is a unionByName branch, not a rewrite. */
  def d10Blocking(s: SparkSession, d: String): DataFrame =
    blockingUnionFrom(documents(s, d), sharedLshPairs(s, d),
      sharedSimhashPairs(s, d), maxExactGroup = None)
      .orderBy(col("a"), col("b"))

  /** Library form of [[d10Blocking]] over any (doc_id, text) frame.
    *
    * `maxBucket` caps the LSH/SimHash bucket blockers (count-first,
    * [[dropOverCapKeys]]). `maxExactGroup` is the exact blocker's own
    * knob with a DIFFERENT treatment: an over-cap exact-hash group
    * (an all-identical-page crawl artifact) is real duplicate mass a
    * dedup pass must not silently drop, so instead of dropping the
    * group, the capped path emits its STAR — every member paired with
    * the group's min doc_id. A star has the same connected-component
    * closure as the clique (spec-pinned), so every downstream dedup
    * decision (CC → keep-one) is unchanged, while the emitted pair
    * count is linear in the group instead of quadratic, and no
    * posting array ever materializes for the mega-group (min/count
    * aggregate state only). None everywhere = the oracle-parity
    * full-clique posture d10 runs with. */
  def blockingUnion(docs: DataFrame, maxBucket: Option[Int] = None,
      maxExactGroup: Option[Int] = None): DataFrame =
    blockingUnionFrom(docs,
      lshCandidatesRaw(lshIndex(docs.repartition(col("doc_id"))), maxBucket),
      simhashPairs(docs, maxBucket), maxExactGroup)

  /** [[blockingUnion]] over already-materialized bucket-blocker pair
    * frames — the d10 query path, reading [[sharedLshPairs]] /
    * [[sharedSimhashPairs]] instead of re-running both pipelines. */
  private[graft] def blockingUnionFrom(docs: DataFrame, lshPairs: DataFrame,
      simPairs: DataFrame, maxExactGroup: Option[Int]): DataFrame = {
    val exact = {
      val h = docs.select(col("doc_id"), md5(normText(col("text"))).as("h"))
      def clique(rows: DataFrame) =
        rows.groupBy(col("h")).agg(collect_list(col("doc_id")).as("ids"))
          .filter(size(col("ids")) > 1)
          .select(explode(col("ids")).as("a"), col("ids"))
          .select(col("a"), explode(col("ids")).as("b"))
          .filter(col("a") < col("b"))
          .select(col("a"), col("b"))
      maxExactGroup.fold(clique(h)) { cap =>
        // count+min first (constant agg state, partial aggregation);
        // the over-cap group set is driver-small and broadcasts
        val over = h.groupBy(col("h"))
          .agg(count(lit(1)).as("n"), min(col("doc_id")).as("canon"))
          .filter(col("n") > cap)
        val star = h.join(broadcast(over.select(col("h"), col("canon"))), Seq("h"))
          .filter(col("doc_id") =!= col("canon"))
          .select(col("canon").as("a"), col("doc_id").as("b"))
        val small = h.join(broadcast(over.select(col("h"))), Seq("h"), "left_anti")
        clique(small).union(star)
      }
    }
    val lsh = lshPairs.select(col("a"), col("b"))
    val sim = simPairs.select(col("a"), col("b"))
    exact.withColumn("src", lit("exact"))
      .unionByName(lsh.withColumn("src", lit("lsh")))
      .unionByName(sim.withColumn("src", lit("simhash")))
      .groupBy(col("a"), col("b"))
      .agg(
        max(when(col("src") === "exact", 1).otherwise(0)).as("ef"),
        max(when(col("src") === "lsh", 1).otherwise(0)).as("lf"),
        max(when(col("src") === "simhash", 1).otherwise(0)).as("sf"))
      .select(col("a"), col("b"),
        (col("ef") === 1).as("via_exact"),
        (col("lf") === 1).as("via_lsh"),
        (col("sf") === 1).as("via_simhash"),
        (col("ef") + col("lf") + col("sf")).cast("long").as("n_blockers"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d1_exact_dedup"    -> d1ExactDedup _,
    "d2_minhash_sig"    -> d2MinhashSig _,
    "d3_lsh_candidates" -> d3LshCandidates _,
    "d4_jaccard_topk"   -> d4JaccardTopK _,
    "d5_simhash_pairs"  -> d5SimhashPairs _,
    "d6_dup_clusters"   -> d6DupClusters _,
    "d8_incremental_lsh" -> d8IncrementalLsh _,
    "d9_containment"    -> d9Containment _,
    "d10_blocking"      -> d10Blocking _,
    "d11_canonical"     -> d11Canonical _,
    "d13_dedup_stats"   -> d13DedupStats _,
    "d14_minhash_dedup" -> d14MinhashDedup _,
    "d15_subsumption"   -> d15Subsumption _,
    "d16_containment_capped" -> d16ContainmentCapped _,
    "d17_verified_capped" -> d17VerifiedCapped _,
    "d19_bloom_novelty" -> d19BloomNovelty _,
    "d20_lsh_scurve" -> d20LshScurve _,
    "d21_edit_verify" -> d21EditVerify _,
    "d23_edit_capped" -> d23EditVerifyCapped _,
    "d22_soft_dedup" -> d22SoftDedup _,
    "d24_source_dups" -> d24CrossSourceDups _,
  )

  /** d9/d16 shared oracle: distinct doc-shingle census, pair counts,
    * directed containment. With `maxDf`, the posting CTE restates the
    * engine's count-first cap (`HAVING count(*) <= maxDf` over the
    * census — df per shingle, since doc_id is unique) BEFORE pair
    * expansion; `n_a` stays the FULL distinct-shingle size in both
    * postures (the cap sheds candidate keys, not the denominator).
    * One template for both rows so they can never drift. */
  private def containmentOracle(maxDf: Option[Long]): String = {
    val capCte = maxDf match {
      case None => "gk AS (SELECT doc_id, shingle FROM g),"
      case Some(m) =>
        s"""df AS (SELECT shingle FROM g GROUP BY shingle HAVING count(*) <= $m),
           |gk AS (SELECT g.doc_id, g.shingle FROM g JOIN df USING (shingle)),""".stripMargin
    }
    s"""WITH t AS (SELECT doc_id,
       |    list_filter(string_split(text, ' '), w -> w != '') ws FROM documents),
       |g0 AS (SELECT doc_id,
       |    unnest(CASE WHEN len(ws) >= 3 THEN list_transform(range(1, len(ws) - 1),
       |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) ELSE [] END) AS shingle
       |  FROM t),
       |g AS (SELECT DISTINCT doc_id, shingle FROM g0),
       |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM g GROUP BY doc_id),
       |$capCte
       |shared AS (SELECT x.doc_id AS a, y.doc_id AS b,
       |    CAST(count(*) AS BIGINT) AS n_shared
       |  FROM gk x JOIN gk y ON x.shingle = y.shingle AND x.doc_id <> y.doc_id
       |  GROUP BY x.doc_id, y.doc_id)
       |SELECT a, b, n_shared, sz.n_sh AS n_a,
       |  n_shared * 1000000 // sz.n_sh AS containment_e6
       |FROM shared JOIN sz ON sz.doc_id = a
       |WHERE sz.n_sh >= $MinShinglesA
       |  AND n_shared * 1000000 // sz.n_sh >= $MinContainE6
       |ORDER BY a, b""".stripMargin
  }

  /** Shared oracle CTE: words + distinct-less shingles per doc. */
  private val ShinglesCte =
    """WITH t AS (SELECT doc_id, text,
      |    list_filter(string_split(text, ' '), w -> w != '') ws FROM documents),
      |s AS (SELECT doc_id, text, ws,
      |    CASE WHEN len(ws) >= 3 THEN list_transform(range(1, len(ws) - 1),
      |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
      |    ELSE [] END AS sh
      |  FROM t)""".stripMargin

  /** DuckDB mirror of [[TextOps.shingleHash32]]'s 8-hex-char fold. */
  private def oHex32(h: String): String = {
    def v(i: Int) =
      s"(CASE WHEN ascii(substr($h,$i,1)) <= 57 THEN ascii(substr($h,$i,1)) - 48" +
        s" ELSE ascii(substr($h,$i,1)) - 87 END)"
    (2 to 8).foldLeft(s"CAST(${v(1)} AS BIGINT)")((acc, i) => s"($acc * 16 + ${v(i)})")
  }
  private val oA = (0 until MinhashK).map(mhA).mkString("([", ",", "])")
  private val oB = (0 until MinhashK).map(mhB).mkString("([", ",", "])")

  private val SigCte =
    ShinglesCte +
      s""",
         |m AS (SELECT doc_id, list_transform(sh, x -> md5(x)) AS mh FROM s),
         |hh AS (SELECT doc_id, list_transform(mh, h -> ${oHex32("h")}) AS hh FROM m),
         |g AS (SELECT doc_id,
         |    list_transform(range(0, $MinhashK), i ->
         |      list_min(list_transform(hh, h -> ($oA[i+1] * h + $oB[i+1]) % $MhP))) AS sig
         |  FROM hh),
         |bn AS (SELECT doc_id, sig,
         |    list_transform(range(0, $LshBandsN), b ->
         |      md5(b::VARCHAR || '#' ||
         |          array_to_string(list_transform(sig[b*$LshRows+1 : b*$LshRows+$LshRows],
         |            v -> v::VARCHAR), ','))) AS bands
         |  FROM g)""".stripMargin

  /** The banded-candidate + exact-Jaccard-verify stages through
    * `ver(a, b)` (a < b, uncapped), as a WITH-prefix other modules'
    * oracles compose (x40's ingest decision) — the d14 oracle's own
    * stages, so an ingest consumer can never drift from the batch
    * recipe it claims to apply. Also defines `t(doc_id, text, ws)`
    * and `s(.., sh)` for the composer's own CTEs. */
  private[graft] def oVerifiedPairsCte: String =
    SigCte +
      s""",
         |le AS (SELECT doc_id, band_idx, bands[band_idx] AS band_key
         |  FROM bn CROSS JOIN (SELECT unnest(range(1, $LshBandsN + 1)) AS band_idx)),
         |cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         |  FROM le a JOIN le b ON a.band_idx = b.band_idx
         |    AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |ds AS (SELECT doc_id, list_distinct(sh) AS dsh FROM s),
         |sz AS (SELECT doc_id, dsh, CAST(len(dsh) AS BIGINT) AS n_sh FROM ds),
         |ver AS (SELECT c.a AS a, c.b AS b
         |  FROM cand c JOIN sz x ON x.doc_id = c.a JOIN sz y ON y.doc_id = c.b
         |  WHERE CAST(len(list_intersect(x.dsh, y.dsh)) AS BIGINT) * 1000000
         |    // greatest(x.n_sh + y.n_sh
         |      - CAST(len(list_intersect(x.dsh, y.dsh)) AS BIGINT), 1)
         |    >= $D14TauE6)""".stripMargin

  /** d14/d17 shared oracle: d3's banded candidates ∩ exact-Jaccard ≥ τ
    * on distinct shingle lists, then the d11 closure + quality
    * keep-one verbatim. With `maxBucket`, a census CTE drops over-cap
    * (band_idx, band_key) buckets BEFORE pair expansion — the
    * count-first [[dropOverCapKeys]] contract restated cross-engine.
    * One template for both rows so they can never drift. */
  private def verifiedManifestOracle(maxBucket: Option[Int]): String = {
    val capCte = maxBucket match {
      case None => "lk AS (SELECT doc_id, band_idx, band_key FROM le),"
      case Some(m) =>
        s"""lc AS (SELECT band_idx, band_key FROM le
           |  GROUP BY band_idx, band_key HAVING count(*) <= $m),
           |lk AS (SELECT le.doc_id, le.band_idx, le.band_key
           |  FROM le JOIN lc USING (band_idx, band_key)),""".stripMargin
    }
    "WITH RECURSIVE " + SigCte.stripPrefix("WITH ") +
      s""",
         |le AS (SELECT doc_id, band_idx, bands[band_idx] AS band_key
         |  FROM bn CROSS JOIN (SELECT unnest(range(1, $LshBandsN + 1)) AS band_idx)),
         |$capCte
         |cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         |  FROM lk a JOIN lk b ON a.band_idx = b.band_idx
         |    AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |ds AS (SELECT doc_id, list_distinct(sh) AS dsh FROM s),
         |sz AS (SELECT doc_id, dsh, CAST(len(dsh) AS BIGINT) AS n_sh FROM ds),
         |ver AS (SELECT c.a AS a, c.b AS b
         |  FROM cand c JOIN sz x ON x.doc_id = c.a JOIN sz y ON y.doc_id = c.b
         |  WHERE CAST(len(list_intersect(x.dsh, y.dsh)) AS BIGINT) * 1000000
         |    // greatest(x.n_sh + y.n_sh
         |      - CAST(len(list_intersect(x.dsh, y.dsh)) AS BIGINT), 1)
         |    >= $D14TauE6),
         |e2 AS (SELECT a AS u, b AS v FROM ver UNION SELECT b, a FROM ver),
         |reach(src, dst) AS (
         |  SELECT doc_id, doc_id FROM t
         |  UNION
         |  SELECT r.src, e2.v FROM reach r JOIN e2 ON r.dst = e2.u),
         |comp AS (SELECT src AS doc_id, min(dst) AS cluster_rep
         |  FROM reach GROUP BY src),
         |qb AS (SELECT doc_id,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    CAST(len(ws) AS BIGINT) AS n_tokens,
         |    CAST(coalesce(list_sum(list_transform(ws, w -> length(w))), 0) AS BIGINT) AS sum_tok_len,
         |    CAST(len(list_filter(ws, w -> w IN ${TextAnalysis.inList(TextAnalysis.EnStop)})) AS BIGINT) AS n_stop
         |  FROM t),
         |qs AS (SELECT doc_id,
         |    CAST(CASE WHEN n_chars BETWEEN 100 AND 2000 THEN 300 ELSE 0 END +
         |      CASE WHEN sum_tok_len * 1000 // greatest(n_tokens, 1) BETWEEN 3000 AND 8000 THEN 400 ELSE 0 END +
         |      CASE WHEN n_stop * 1000 // greatest(n_tokens, 1) BETWEEN 20 AND 400 THEN 300 ELSE 0 END
         |      AS BIGINT) AS quality_e3
         |  FROM qb),
         |j AS (SELECT c.doc_id, CAST(c.cluster_rep AS BIGINT) AS cluster_rep,
         |    q.quality_e3,
         |    first_value(c.doc_id) OVER (PARTITION BY c.cluster_rep
         |      ORDER BY q.quality_e3 DESC, c.doc_id) AS canonical_id
         |  FROM comp c JOIN qs q ON c.doc_id = q.doc_id)
         |SELECT doc_id, cluster_rep, quality_e3,
         |  CAST(canonical_id AS BIGINT) AS canonical_id,
         |  CAST(CASE WHEN doc_id = canonical_id THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM j ORDER BY doc_id""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    // d9's shared-shingle machinery + the strictly-larger/tie rule and
    // the per-doc best-container argmax; sizes from t so 0-shingle
    // docs appear unsubsumed
    "d15_subsumption" ->
      s"""WITH t AS (SELECT doc_id,
         |    list_filter(string_split(text, ' '), w -> w != '') ws FROM documents),
         |szall AS (SELECT doc_id,
         |    CAST(len(list_distinct(CASE WHEN len(ws) >= 3 THEN
         |      list_transform(range(1, len(ws) - 1),
         |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
         |      ELSE [] END)) AS BIGINT) AS n_sh
         |  FROM t),
         |g0 AS (SELECT doc_id,
         |    unnest(CASE WHEN len(ws) >= 3 THEN list_transform(range(1, len(ws) - 1),
         |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) ELSE [] END) AS shingle
         |  FROM t),
         |g AS (SELECT DISTINCT doc_id, shingle FROM g0),
         |shared AS (SELECT x.doc_id AS a, y.doc_id AS b,
         |    CAST(count(*) AS BIGINT) AS n_shared
         |  FROM g x JOIN g y ON x.shingle = y.shingle AND x.doc_id <> y.doc_id
         |  GROUP BY x.doc_id, y.doc_id),
         |strong AS (SELECT sh.a, sh.b, szb.n_sh AS n_b,
         |    sh.n_shared * 1000000 // sza.n_sh AS containment_e6
         |  FROM shared sh JOIN szall sza ON sza.doc_id = sh.a
         |  JOIN szall szb ON szb.doc_id = sh.b
         |  WHERE sza.n_sh >= $MinShinglesA
         |    AND sh.n_shared * 1000000 // sza.n_sh >= $SubsumeTauE6
         |    AND (szb.n_sh > sza.n_sh
         |      OR (szb.n_sh = sza.n_sh AND sh.b < sh.a))),
         |pick AS (SELECT a, b, containment_e6,
         |    row_number() OVER (PARTITION BY a ORDER BY n_b DESC, b) AS rn
         |  FROM strong)
         |SELECT s.doc_id, s.n_sh, p.b IS NOT NULL AS subsumed,
         |  p.b AS subsumed_by, p.containment_e6
         |FROM szall s LEFT JOIN pick p ON p.a = s.doc_id AND p.rn = 1
         |ORDER BY s.doc_id""".stripMargin,
    "d9_containment" -> containmentOracle(maxDf = None),
    // the same pair listing with the PRODUCTION df cap armed: the
    // posting CTE drops over-df shingles before pair expansion,
    // exactly the count-first dropOverCapKeys contract
    "d16_containment_capped" -> containmentOracle(maxDf = Some(D16MaxDf)),
    "d1_exact_dedup" ->
      """WITH h AS (SELECT doc_id,
        |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS content_md5
        |  FROM documents),
        |g AS (SELECT content_md5, min(doc_id) AS canonical_id,
        |    count(*) AS group_size FROM h GROUP BY content_md5)
        |SELECT h.doc_id, h.content_md5, g.canonical_id,
        |  h.doc_id <> g.canonical_id AS is_dup, g.group_size
        |FROM h JOIN g USING (content_md5) ORDER BY doc_id""".stripMargin,
    "d2_minhash_sig" ->
      (SigCte +
        s"""
           |SELECT doc_id, sig[1] AS mh_0, sig[2] AS mh_1,
           |  sig[$MinhashK] AS mh_${MinhashK - 1},
           |  bands[1] AS band_0, bands[$LshBandsN] AS band_${LshBandsN - 1}
           |FROM bn ORDER BY doc_id""".stripMargin),
    // union of the d1/d3/d5 oracle pair sets with provenance flags
    "d10_blocking" ->
      (SigCte +
        s"""
           |, e AS (SELECT doc_id, sig, band_idx, bands[band_idx] AS band_key
           |  FROM bn CROSS JOIN (SELECT unnest(range(1, $LshBandsN + 1)) AS band_idx)),
           |lshp AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
           |  FROM e a JOIN e b ON a.band_idx = b.band_idx
           |    AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
           |hx AS (SELECT doc_id,
           |    md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS h FROM t),
           |exp_ AS (SELECT x.doc_id AS a, y.doc_id AS b FROM hx x
           |  JOIN hx y ON x.h = y.h AND x.doc_id < y.doc_id),
           |ss AS (SELECT doc_id,
           |    list_aggregate(list_transform(range(1, 33), j ->
           |      CASE WHEN coalesce(list_sum(list_transform(ws, w ->
           |          CASE WHEN substr(md5(w), j, 1) >= '8' THEN 1 ELSE -1 END)), 0) >= 0
           |        THEN '1' ELSE '0' END), 'string_agg', '') AS sig
           |  FROM t),
           |shp AS (SELECT a.doc_id AS a, b.doc_id AS b
           |  FROM ss a JOIN ss b ON a.doc_id < b.doc_id
           |  WHERE CAST(coalesce(list_sum(list_transform(range(1, 33), j ->
           |      CASE WHEN substr(a.sig, j, 1) <> substr(b.sig, j, 1)
           |        THEN 1 ELSE 0 END)), 0) AS BIGINT) <= 1),
           |u AS (SELECT a, b, 1 AS ef, 0 AS lf, 0 AS sf FROM exp_
           |  UNION ALL SELECT a, b, 0, 1, 0 FROM lshp
           |  UNION ALL SELECT a, b, 0, 0, 1 FROM shp)
           |SELECT a, b, max(ef) = 1 AS via_exact, max(lf) = 1 AS via_lsh,
           |  max(sf) = 1 AS via_simhash,
           |  CAST(max(ef) + max(lf) + max(sf) AS BIGINT) AS n_blockers
           |FROM u GROUP BY a, b ORDER BY a, b""".stripMargin),
    "d3_lsh_candidates" ->
      (SigCte +
        s"""
           |, e AS (SELECT doc_id, sig, band_idx, bands[band_idx] AS band_key
           |  FROM bn CROSS JOIN (SELECT unnest(range(1, $LshBandsN + 1)) AS band_idx)),
           |pairs AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b,
           |    CAST(coalesce(list_sum(list_transform(range(1, $MinhashK + 1),
           |      i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END)), 0) AS BIGINT)
           |      AS n_sig_match
           |  FROM e a JOIN e b
           |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
           |   AND a.doc_id < b.doc_id)
           |SELECT a, b, n_sig_match,
           |  n_sig_match * 1000000 // $MinhashK AS est_jaccard_e6
           |FROM pairs ORDER BY a, b""".stripMargin),
    // d3's pair set restricted to pairs touching the new batch — the
    // incremental plan must not change WHICH candidates exist, only
    // how much work finding them costs
    "d8_incremental_lsh" ->
      (SigCte +
        s"""
           |, e AS (SELECT doc_id, sig, band_idx, bands[band_idx] AS band_key
           |  FROM bn CROSS JOIN (SELECT unnest(range(1, $LshBandsN + 1)) AS band_idx)),
           |pairs AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b,
           |    CAST(coalesce(list_sum(list_transform(range(1, $MinhashK + 1),
           |      i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END)), 0) AS BIGINT)
           |      AS n_sig_match
           |  FROM e a JOIN e b
           |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
           |   AND a.doc_id < b.doc_id
           |   AND (a.doc_id >= $IncrementalSplit OR b.doc_id >= $IncrementalSplit))
           |SELECT a, b, n_sig_match,
           |  n_sig_match * 1000000 // $MinhashK AS est_jaccard_e6
           |FROM pairs ORDER BY a, b""".stripMargin),
    "d4_jaccard_topk" ->
      (ShinglesCte +
        """,
          |ds AS (SELECT doc_id, list_distinct(sh) AS sh,
          |    CAST(len(list_distinct(sh)) AS BIGINT) AS n_sh FROM s)
          |SELECT a.doc_id AS a, b.doc_id AS b,
          |  CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) * 1000000
          |    // (a.n_sh + b.n_sh - len(list_intersect(a.sh, b.sh))) AS jaccard_e6
          |FROM ds a JOIN ds b ON a.doc_id < b.doc_id
          |WHERE len(list_intersect(a.sh, b.sh)) > 0
          |ORDER BY jaccard_e6 DESC, a, b LIMIT 20""".stripMargin),
    "d5_simhash_pairs" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), w -> w != '') ws FROM documents),
        |sg AS (SELECT doc_id,
        |    list_aggregate(list_transform(range(1, 33), j ->
        |      CASE WHEN coalesce(list_sum(list_transform(ws, w ->
        |          CASE WHEN substr(md5(w), j, 1) >= '8' THEN 1 ELSE -1 END)), 0) >= 0
        |        THEN '1' ELSE '0' END), 'string_agg', '') AS sig
        |  FROM t)
        |SELECT a.doc_id AS a, b.doc_id AS b,
        |  CAST(coalesce(list_sum(list_transform(range(1, 33), j ->
        |    CASE WHEN substr(a.sig, j, 1) <> substr(b.sig, j, 1) THEN 1 ELSE 0 END)), 0)
        |    AS BIGINT) AS hamming
        |FROM sg a JOIN sg b ON a.doc_id < b.doc_id
        |WHERE CAST(coalesce(list_sum(list_transform(range(1, 33), j ->
        |    CASE WHEN substr(a.sig, j, 1) <> substr(b.sig, j, 1) THEN 1 ELSE 0 END)), 0)
        |    AS BIGINT) <= 1
        |ORDER BY a, b""".stripMargin,
    // same pair set as d5, then the transitive closure as a recursive
    // CTE; min reachable id = cluster representative
    // d6's closure + a cluster-size census: weight = 1e6 // size, the
    // floored e6 sampling weight, effective tokens = n_tokens * weight
    "d22_soft_dedup" ->
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
        |comp AS (SELECT src AS doc_id, CAST(min(dst) AS BIGINT) AS cluster_rep
        |  FROM reach GROUP BY src),
        |sz AS (SELECT cluster_rep, CAST(count(*) AS BIGINT) AS cluster_size
        |  FROM comp GROUP BY cluster_rep),
        |tk AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens FROM t)
        |SELECT comp.doc_id, comp.cluster_rep, sz.cluster_size, tk.n_tokens,
        |  CAST(1000000 // sz.cluster_size AS BIGINT) AS weight_e6,
        |  CAST(tk.n_tokens * (1000000 // sz.cluster_size) AS BIGINT) AS eff_tokens_e6
        |FROM comp JOIN sz USING (cluster_rep) JOIN tk ON tk.doc_id = comp.doc_id
        |ORDER BY comp.doc_id""".stripMargin,
    "d6_dup_clusters" ->
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
        |  SELECT r.src, e.v FROM reach r JOIN e ON r.dst = e.u)
        |SELECT src AS doc_id, CAST(min(dst) AS BIGINT) AS cluster_rep,
        |  CAST(CASE WHEN min(dst) = src THEN 1 ELSE 0 END AS BIGINT) AS is_canonical
        |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,
    // d6's closure folded to the one-row run report
    "d13_dedup_stats" ->
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
        |comp AS (SELECT src AS doc_id, min(dst) AS rep FROM reach GROUP BY src),
        |sz AS (SELECT rep, CAST(count(*) AS BIGINT) AS sz FROM comp GROUP BY rep)
        |SELECT CAST(sum(sz) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_clusters,
        |  CAST(sum(sz) - count(*) AS BIGINT) AS n_dropped,
        |  CAST(max(sz) AS BIGINT) AS max_cluster,
        |  CAST(sum(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi_clusters,
        |  CAST((sum(sz) - count(*)) * 1000000 // sum(sz) AS BIGINT) AS drop_rate_e6
        |FROM sz""".stripMargin,
    // d6's transitive closure + x2's quality signals; per cluster the
    // highest-quality doc (ties -> smallest doc_id) is kept
    // d3's banded candidates ∩ exact-Jaccard ≥ τ on distinct shingle
    // lists, then the d11 closure + quality keep-one verbatim
    "d14_minhash_dedup" -> verifiedManifestOracle(maxBucket = None),
    // the d14 recipe with the PRODUCTION bucket cap armed: over-cap
    // band buckets shed wholesale before pair expansion
    "d17_verified_capped" -> verifiedManifestOracle(maxBucket = Some(D17MaxBucket)),
    // d3's banded candidates + DuckDB's own levenshtein over the
    // d1-normalized text — the gate proves the engines' edit-distance
    // kernels agree character for character
    "d21_edit_verify" ->
      (SigCte +
        s"""
           |, e AS (SELECT doc_id, band_idx, bands[band_idx] AS band_key
           |  FROM bn CROSS JOIN (SELECT unnest(range(1, $LshBandsN + 1)) AS band_idx)),
           |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
           |  FROM e x JOIN e y ON x.band_idx = y.band_idx
           |    AND x.band_key = y.band_key AND x.doc_id < y.doc_id),
           |nt AS (SELECT doc_id,
           |    lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS nt FROM t),
           |sc AS (SELECT cand.a, cand.b,
           |    CAST(levenshtein(ta.nt, tb.nt) AS BIGINT) AS lev,
           |    CAST(greatest(length(ta.nt), length(tb.nt)) AS BIGINT) AS max_len
           |  FROM cand JOIN nt ta ON ta.doc_id = cand.a
           |    JOIN nt tb ON tb.doc_id = cand.b)
           |SELECT a, b, lev, max_len,
           |  (max_len - lev) * 1000000 // greatest(max_len, 1) AS edit_sim_e6,
           |  (max_len - lev) * 1000000 // greatest(max_len, 1) >= $D21SimE6
           |    AS verified
           |FROM sc ORDER BY a, b""".stripMargin),
    // the d21 chain filtered to verified pairs, sources attached,
    // unordered source-cell census
    "d24_source_dups" ->
      (SigCte +
        s"""
           |, e AS (SELECT doc_id, band_idx, bands[band_idx] AS band_key
           |  FROM bn CROSS JOIN (SELECT unnest(range(1, $LshBandsN + 1)) AS band_idx)),
           |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
           |  FROM e x JOIN e y ON x.band_idx = y.band_idx
           |    AND x.band_key = y.band_key AND x.doc_id < y.doc_id),
           |nt AS (SELECT doc_id,
           |    lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS nt FROM t),
           |sc AS (SELECT cand.a, cand.b,
           |    CAST(levenshtein(ta.nt, tb.nt) AS BIGINT) AS lev,
           |    CAST(greatest(length(ta.nt), length(tb.nt)) AS BIGINT) AS max_len
           |  FROM cand JOIN nt ta ON ta.doc_id = cand.a
           |    JOIN nt tb ON tb.doc_id = cand.b),
           |vp AS (SELECT a, b FROM sc
           |  WHERE (max_len - lev) * 1000000 // greatest(max_len, 1) >= $D21SimE6),
           |cells AS (SELECT least(da.source, db.source) AS src_a,
           |    greatest(da.source, db.source) AS src_b
           |  FROM vp JOIN documents da ON da.doc_id = vp.a
           |    JOIN documents db ON db.doc_id = vp.b)
           |SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_pairs,
           |  src_a = src_b AS within
           |FROM cells GROUP BY src_a, src_b ORDER BY src_a, src_b""".stripMargin),
    // the d21 chain with the production LENGTH-RELATIVE edit band
    // clamp(max_len·(1−τ)//1e6, D23MaxLev, D23LevClamp) restated over
    // DuckDB's full distance: over-band pairs answer NULL + false
    "d23_edit_capped" ->
      (SigCte +
        s"""
           |, e AS (SELECT doc_id, band_idx, bands[band_idx] AS band_key
           |  FROM bn CROSS JOIN (SELECT unnest(range(1, $LshBandsN + 1)) AS band_idx)),
           |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
           |  FROM e x JOIN e y ON x.band_idx = y.band_idx
           |    AND x.band_key = y.band_key AND x.doc_id < y.doc_id),
           |nt AS (SELECT doc_id,
           |    lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS nt FROM t),
           |sc AS (SELECT cand.a, cand.b,
           |    CAST(levenshtein(ta.nt, tb.nt) AS BIGINT) AS lev_full,
           |    CAST(greatest(length(ta.nt), length(tb.nt)) AS BIGINT) AS max_len
           |  FROM cand JOIN nt ta ON ta.doc_id = cand.a
           |    JOIN nt tb ON tb.doc_id = cand.b),
           |bd AS (SELECT a, b, lev_full, max_len,
           |    least(greatest(max_len * ${1000000L - D21SimE6} // 1000000,
           |      $D23MaxLev), $D23LevClamp) AS band
           |  FROM sc),
           |cp AS (SELECT a, b,
           |    CASE WHEN lev_full <= band THEN lev_full END AS lev,
           |    max_len,
           |    CASE WHEN lev_full <= band THEN
           |      (max_len - lev_full) * 1000000 // greatest(max_len, 1)
           |    END AS edit_sim_e6
           |  FROM bd)
           |SELECT a, b, lev, max_len, edit_sim_e6,
           |  coalesce(edit_sim_e6 >= $D21SimE6, false) AS verified
           |FROM cp ORDER BY a, b""".stripMargin),
    // the SAME signature re-banded per audited config; exact-Jaccard
    // truth at τ, confusion scalars per config, 4 one-row branches
    "d20_lsh_scurve" -> {
      val perConfig = D20Configs.map { case (b, r) =>
        s""",
           |bn_$b AS (SELECT doc_id, list_transform(range(0, $b), bb ->
           |    md5(bb::VARCHAR || '#' ||
           |        array_to_string(list_transform(sig[bb*$r+1 : bb*$r+$r],
           |          v -> v::VARCHAR), ','))) AS bands FROM g),
           |e_$b AS (SELECT doc_id, bi, bands[bi] AS bk
           |  FROM bn_$b CROSS JOIN (SELECT unnest(range(1, $b + 1)) AS bi)),
           |cand_$b AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
           |  FROM e_$b x JOIN e_$b y
           |    ON x.bi = y.bi AND x.bk = y.bk AND x.doc_id < y.doc_id)""".stripMargin
      }.mkString
      val branches = D20Configs.map { case (b, r) =>
        s"""SELECT CAST($b AS BIGINT) AS bands, CAST($r AS BIGINT) AS rows_per_band,
           |  (SELECT CAST(count(*) AS BIGINT) FROM tr) AS n_true,
           |  (SELECT CAST(count(*) AS BIGINT) FROM cand_$b) AS n_cand,
           |  (SELECT CAST(count(*) AS BIGINT) FROM tr JOIN cand_$b USING (a, b)) AS tp""".stripMargin
      }.mkString("\n  UNION ALL\n")
      SigCte + s""",
         |ds AS (SELECT doc_id, list_distinct(sh) AS dsh FROM s),
         |sz AS (SELECT doc_id, dsh, CAST(len(dsh) AS BIGINT) AS n_sh FROM ds),
         |tr AS (SELECT x.doc_id AS a, y.doc_id AS b
         |  FROM sz x JOIN sz y ON x.doc_id < y.doc_id
         |  WHERE CAST(len(list_intersect(x.dsh, y.dsh)) AS BIGINT) * 1000000
         |    // greatest(x.n_sh + y.n_sh
         |      - CAST(len(list_intersect(x.dsh, y.dsh)) AS BIGINT), 1)
         |    >= $D14TauE6)""".stripMargin + perConfig + s"""
         |SELECT bands, rows_per_band, n_true, n_cand, tp,
         |  n_cand - tp AS fp, n_true - tp AS fn,
         |  tp * 1000000 // greatest(n_true, 1) AS recall_e6,
         |  tp * 1000000 // greatest(n_cand, 1) AS precision_e6
         |FROM ($branches)
         |ORDER BY bands DESC""".stripMargin
    },
    // the bloom rebuilt as a distinct-position SET (membership per
    // incoming window via left join, bool_and over the k positions);
    // n_set_bits = count(distinct p) vs Spark's packed-word popcount —
    // equal iff the engine's bit packing is correct
    "d19_bloom_novelty" ->
      s"""WITH t AS (SELECT doc_id,
         |    list_filter(string_split(text, ' '), w -> w != '') ws FROM documents),
         |w0 AS (SELECT doc_id, unnest(CASE WHEN len(ws) >= 6 THEN
         |      list_transform(range(1, len(ws) - 4), i ->
         |        ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4]||' '||ws[i+5])
         |    ELSE [] END) AS g FROM t),
         |w AS (SELECT DISTINCT doc_id, g FROM w0),
         |ks AS (SELECT unnest(range(0, $BloomK)) AS i),
         |cg AS (SELECT DISTINCT g FROM w WHERE doc_id < $IncrementalSplit),
         |setb AS (SELECT DISTINCT
         |    ('0x' || substr(md5(cg.g || ':' || CAST(ks.i AS VARCHAR)), 1, 15))::BIGINT
         |      % $BloomMBits AS p
         |  FROM cg CROSS JOIN ks),
         |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_set_bits FROM setb),
         |iw AS (SELECT doc_id, g FROM w WHERE doc_id >= $IncrementalSplit),
         |ip AS (SELECT doc_id, g,
         |    ('0x' || substr(md5(g || ':' || CAST(ks.i AS VARCHAR)), 1, 15))::BIGINT
         |      % $BloomMBits AS p
         |  FROM iw CROSS JOIN ks),
         |mem AS (SELECT doc_id, g, bool_and(sb.p IS NOT NULL) AS maybe
         |  FROM ip LEFT JOIN setb sb ON ip.p = sb.p GROUP BY doc_id, g),
         |st AS (SELECT mem.doc_id,
         |    CAST(count(*) AS BIGINT) AS n_win,
         |    CAST(count(*) FILTER (WHERE maybe) AS BIGINT) AS n_maybe,
         |    CAST(count(*) FILTER (WHERE maybe AND cg.g IS NOT NULL) AS BIGINT)
         |      AS n_seen
         |  FROM mem LEFT JOIN cg ON mem.g = cg.g GROUP BY mem.doc_id),
         |docs AS (SELECT DISTINCT doc_id FROM documents
         |  WHERE doc_id >= $IncrementalSplit)
         |SELECT d.doc_id, coalesce(st.n_win, 0) AS n_win,
         |  coalesce(st.n_maybe, 0) AS n_maybe,
         |  coalesce(st.n_seen, 0) AS n_seen,
         |  CASE WHEN coalesce(st.n_win, 0) > 0
         |    THEN (st.n_win - st.n_maybe) * 1000000 // st.n_win
         |    ELSE 1000000 END AS novelty_e6,
         |  nb.n_set_bits
         |FROM docs d LEFT JOIN st ON d.doc_id = st.doc_id CROSS JOIN nb
         |ORDER BY d.doc_id""".stripMargin,
    "d11_canonical" ->
      s"""WITH RECURSIVE t AS (SELECT doc_id, text,
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
         |comp AS (SELECT src AS doc_id, min(dst) AS cluster_rep
         |  FROM reach GROUP BY src),
         |qb AS (SELECT doc_id,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    CAST(len(ws) AS BIGINT) AS n_tokens,
         |    CAST(coalesce(list_sum(list_transform(ws, w -> length(w))), 0) AS BIGINT) AS sum_tok_len,
         |    CAST(len(list_filter(ws, w -> w IN ${TextAnalysis.inList(TextAnalysis.EnStop)})) AS BIGINT) AS n_stop
         |  FROM t),
         |qs AS (SELECT doc_id,
         |    CAST(CASE WHEN n_chars BETWEEN 100 AND 2000 THEN 300 ELSE 0 END +
         |      CASE WHEN sum_tok_len * 1000 // greatest(n_tokens, 1) BETWEEN 3000 AND 8000 THEN 400 ELSE 0 END +
         |      CASE WHEN n_stop * 1000 // greatest(n_tokens, 1) BETWEEN 20 AND 400 THEN 300 ELSE 0 END
         |      AS BIGINT) AS quality_e3
         |  FROM qb),
         |j AS (SELECT c.doc_id, CAST(c.cluster_rep AS BIGINT) AS cluster_rep,
         |    q.quality_e3,
         |    first_value(c.doc_id) OVER (PARTITION BY c.cluster_rep
         |      ORDER BY q.quality_e3 DESC, c.doc_id) AS canonical_id
         |  FROM comp c JOIN qs q ON c.doc_id = q.doc_id)
         |SELECT doc_id, cluster_rep, quality_e3,
         |  CAST(canonical_id AS BIGINT) AS canonical_id,
         |  CAST(CASE WHEN doc_id = canonical_id THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM j ORDER BY doc_id""".stripMargin,
  )
}
