package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components — the cluster-resolution step of a
  * dedup pipeline. Candidate-pair generators (d3 LSH, d5 SimHash) emit
  * EDGES; actually removing duplicates needs each document's CLUSTER
  * (transitive closure) and one canonical representative per cluster.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond") — each round is one
  * groupBy + join on node ids, and the edge set provably converges to
  * the star graph {(v, componentMin)} in O(log n) rounds. Plain
  * min-label propagation needs diameter rounds (a 10 000-link chain of
  * near-dups = 10 000 shuffles); the star steps double-up paths instead.
  *
  * Scale notes (100 TB): every round shuffles on node id with map-side
  * combine, AQE handles degree skew (a viral duplicate is one hot key),
  * and each round's result is localCheckpoint()ed — iterative DataFrame
  * algorithms otherwise stack lineage until planning itself collapses.
  * Convergence is detected by an (edge-count, order-independent hash)
  * fingerprint, one tiny job per round.
  */
object Components {

  /** Edges per shuffle partition for the star loop (~2M 16-byte edge
    * rows ≈ a 100+ MB partition with row overhead) — the live edge
    * count divided by this sizes each round's shuffle width. */
  private val EdgesPerPartition = 2L * 1000 * 1000

  /** @param nodes one `id` column, every vertex (isolated ones too)
    * @param edges `a`/`b` columns, undirected, self-loops/dups tolerated
    * @return (id, rep) — rep is the component's minimum id */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
      maxIter: Int = 30): DataFrame =
    connectedComponentsCounted(nodes, edges, maxIter)._1

  /** [[connectedComponents]] plus the number of star rounds it took to
    * converge — the O(log n) bound made assertable (ComponentsSpec pins
    * it on a viral-duplicate hot-key graph). */
  private[graft] def connectedComponentsCounted(nodes: DataFrame,
      edges: DataFrame, maxIter: Int = 30): (DataFrame, Int) = {
    def sym(e: DataFrame): DataFrame =
      e.union(e.select(col("v").as("u"), col("u").as("v")))

    // Width control: every star step starts from an EXPLICIT w-way
    // repartition on its shuffle key, and each downstream groupBy /
    // join / distinct reuses that partitioning (ClusteredDistribution
    // is satisfied, EnsureRequirements inserts no further exchange) —
    // so the whole round runs at width w without touching the
    // session-global shuffle.partitions (which would leak to, and race
    // with, concurrent queries on the same session).

    // large-star: every neighbor larger than u links to the minimum of
    // u's neighborhood (incl. u) — halves large-id fan-out paths.
    // NO trailing dedup: the round dedupes ONCE, at small-star's end
    // (the paper's per-round grain) — min-aggregation is duplicate-
    // insensitive, so the only cost of carrying dups into small-star
    // is shuffle volume bounded by large-star's output, and dropping
    // the exchange+distinct cuts a quarter of the round's stages
    def largeStar(e: DataFrame, w: Int): DataFrame = {
      val s = sym(e).repartition(w, col("u"))
      val mins = s.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      s.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
    }

    // small-star: u and its not-larger neighbors all link to their min
    def smallStar(e: DataFrame, w: Int): DataFrame = {
      val s = sym(e).filter(col("v") < col("u")).repartition(w, col("u"))
      val mins = s.groupBy(col("u")).agg(min(col("v")).as("m"))
      val leaves = s.join(mins, "u")
        .select(col("v").as("u"), col("m").as("v"))
      val self = mins.select(col("u"), col("m").as("v"))
      leaves.union(self).filter(col("u") =!= col("v"))
        .repartition(w, col("u"), col("v")).distinct()
    }

    def fingerprint(e: DataFrame): (Long, Long) = {
      // per-edge hash reduced mod a prime so the ANSI-mode sum cannot
      // overflow below ~9e9 edges; order-independent by construction
      val r = e.agg(count(lit(1)),
        sum(pmod(xxhash64(col("u"), col("v")), lit(1000000007L)))).collect()(0)
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    // lazy localCheckpoint: the fingerprint action right after is the
    // materializing job, so each round runs ONE job (compute + persist
    // + fingerprint) instead of two, while still truncating lineage
    var e = edges
      .select(col("a").cast("long").as("u"), col("b").cast("long").as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(eager = false)
    var fp = fingerprint(e)
    var converged = fp._1 == 0L
    var i = 0
    // The star loop's shuffle width follows the LIVE edge count: each
    // round is ~6 shuffle stages, and at small scale full-width rounds
    // over a few hundred edges cost more in task scheduling than in
    // work. Capped at the session's configured width, so a 100 TB edge
    // set still shuffles at full parallelism (and the user's setting
    // remains the scale ceiling). Width is injected via the explicit
    // repartitions inside the star steps — no session state is touched.
    // "spark.sql.shuffle.partitions" is not always numeric (managed
    // platforms set "auto"); fall back to the cluster's default
    // parallelism rather than failing every connectedComponents caller
    val sessionWidth = scala.util.Try(
      nodes.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
      .getOrElse(nodes.sparkSession.sparkContext.defaultParallelism)
    def loopWidth(edgeCount: Long): Int =
      math.max(1L, math.min(sessionWidth.toLong,
        (edgeCount + EdgesPerPartition - 1) / EdgesPerPartition)).toInt
    // ONE star round per job. A double round per job was measured and
    // REJECTED (round 11): each star consumes its input from several
    // join/union branches, and while sibling branches inside one round
    // dedupe through ReusedExchange, nesting a second round above the
    // first defeated that reuse in practice — d7/d12 warm cost grew
    // ~3× (4.5→17 s at sf0.1) from recomputed inner rounds. The lazy
    // checkpoint + fingerprint action already packs compute + persist
    // + convergence check into a single job per round, so a round's
    // floor is one job, not 2-3.
    while (!converged && i < maxIter) {
      val w = loopWidth(fp._1)
      val next = smallStar(largeStar(e, w), w).localCheckpoint(eager = false)
      val nfp = fingerprint(next)
      converged = nfp == fp
      fp = nfp
      e = next
      i += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    // fixpoint edge set IS the star graph: u → its component min;
    // isolated nodes (and each min itself) are their own rep. The
    // groupBy(min) is insurance that the mapping is single-valued even
    // if a round short-counts.
    val reps = e.groupBy(col("u")).agg(min(col("v")).as("rep"))
      .select(col("u").as("id"), col("rep"))
    val out = nodes.select(col("id").cast("long").as("id"))
      .join(reps, Seq("id"), "left")
      .select(col("id"), coalesce(col("rep"), col("id")).as("rep"))
    (out, i)
  }

  /** INCREMENTAL connectivity — absorb a batch's verified pairs into a
    * STANDING resolution with DELTA-sized resolution work (published
    * union-find absorb: new edges + touched components only), instead
    * of re-resolving the whole graph every compaction:
    *
    *  1. each new edge's endpoints map to their standing reps (new ids
    *     map to themselves) — the standing (id, rep) map IS the star
    *     closure of every old edge, so the rep-level graph carries
    *     exactly the connectivity the batch can change;
    *  2. [[connectedComponents]] runs over the REP-level graph — nodes
    *     and edges are both delta-sized (edge endpoints' reps + the
    *     new node ids), never corpus-sized;
    *  3. standing rows remap through the (old rep → merged rep) map —
    *     a BROADCAST join (the remap is delta-sized by step 2), so the
    *     standing side is scanned narrowly but never shuffled; new
    *     nodes append with their merged rep.
    *
    * Exactly `connectedComponents(nodes ∪ newNodes, oldEdges ∪
    * newEdges)` by construction (spec-pinned on chunked replay): reps
    * are component MINIMA, every standing member ≥ its rep, and the
    * merged rep is the min over touched old reps and new ids — the
    * same minimum the full re-resolve computes.
    *
    * Scale notes (100 TB): the resolution work (rep-graph CC + the
    * probes/remaps, all delta-sized) is independent of standing size;
    * the standing side costs three shuffle-free broadcast-probe scans
    * (endpoint lookup, new-id anti check, final remap) — linear reads,
    * zero exchanges, and on a bucketed standing table they prune to
    * the probed buckets. Measured flat-in-standing-size at fixed batch
    * by an earlier synthetic-scale probe.
    *
    * @param standing (id, rep) — the current resolution (rep = min id)
    * @param newNodes one `id` column — the batch's ids (isolated ones
    *                 too); ids already standing are ignored
    * @param newEdges `a`/`b`, undirected — must touch only ids present
    *                 in `standing` or `newNodes`
    * @return (id, rep) over standing ∪ newNodes — the successor
    *         resolution */
  def absorb(standing: DataFrame, newNodes: DataFrame,
      newEdges: DataFrame): DataFrame = {
    val (updated, _, fresh) = absorbParts(standing, newNodes, newEdges)
    updated.unionByName(fresh)
  }

  /** [[absorb]]'s DELTA form — only the rows the batch CHANGES
    * (standing rows whose rep merged) plus the fresh rows, so a
    * maintainer can hold its resolution as delta logs (newest-per-id
    * read fold) instead of rewriting the standing table per batch:
    * the output AND the write are then both delta-sized, and
    * compaction becomes a pure rewrite that never re-resolves
    * ([[graft.streaming.StreamOps.textDedupIngest]]'s `compactEvery`
    * mode). The changed set comes from the same broadcast remap scan
    * that [[absorb]] rides — an INNER join instead of the left join,
    * no extra shuffle anywhere. */
  def absorbDelta(standing: DataFrame, newNodes: DataFrame,
      newEdges: DataFrame): DataFrame = {
    val (_, changed, fresh) = absorbParts(standing, newNodes, newEdges)
    changed.unionByName(fresh)
  }

  /** The shared absorb construction: (full updated standing, changed
    * standing rows only, fresh rows). Callers evaluate exactly one of
    * updated/changed — both derive from the same checkpointed rep
    * closure and the same broadcast remap. */
  private def absorbParts(standing: DataFrame, newNodes: DataFrame,
      newEdges: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val st = standing.select(col("id").cast("long").as("id"),
      col("rep").cast("long").as("rep"))
    val nn = newNodes.select(col("id").cast("long").as("id")).distinct()
    val e = newEdges
      .select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint()
    // endpoint → standing rep; the standing side streams against a
    // BROADCAST endpoint set (delta-sized), so it is scanned, not
    // shuffled
    val ends = e.select(col("a").as("id"))
      .unionByName(e.select(col("b").as("id"))).distinct()
    val touched = st.join(broadcast(ends), Seq("id"), "left_semi")
    val endRep = ends.join(touched, Seq("id"), "left")
      .select(col("id"), coalesce(col("rep"), col("id")).as("rep"))
      .localCheckpoint()
    val repEdges = e
      .join(endRep.select(col("id").as("a"), col("rep").as("ua")), Seq("a"))
      .join(endRep.select(col("id").as("b"), col("rep").as("ub")), Seq("b"))
      .select(col("ua").as("a"), col("ub").as("b"))
    // rep-level closure: touched reps ∪ the batch's ids (isolated new
    // nodes resolve to themselves through it)
    val repNodes = endRep.select(col("rep").as("id")).unionByName(nn).distinct()
    val rcomp = connectedComponents(repNodes, repEdges).localCheckpoint()
    // standing rows ride the (old rep → merged rep) remap — only
    // CHANGED reps enter the broadcast map
    val remap = rcomp.filter(col("id") =!= col("rep"))
      .select(col("id").as("rep"), col("rep").as("merged"))
    val updated = st.join(broadcast(remap), Seq("rep"), "left")
      .select(col("id"), coalesce(col("merged"), col("rep")).as("rep"))
    val changed = st.join(broadcast(remap), Seq("rep"))
      .select(col("id"), col("merged").as("rep"))
    // genuinely new ids (anti vs the standing ∩ batch probe, again a
    // broadcast-probe scan of standing) resolve through the rep graph
    val standingBatchIds = st.join(broadcast(nn), Seq("id"), "left_semi")
      .select(col("id"))
    val fresh = nn.join(standingBatchIds, Seq("id"), "left_anti")
      .join(rcomp, Seq("id"), "left")
      .select(col("id"), coalesce(col("rep"), col("id")).as("rep"))
    (updated, changed, fresh)
  }
}
