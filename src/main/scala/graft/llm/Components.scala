package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a duplicate-pair graph — the step that turns
  * pairwise near-dup output ([[Dedup.minHashNearDups]] / simHash / ngram
  * verify) into KEEP/DROP decisions: docs A~B and B~C must land in ONE
  * cluster with one elected representative, even though (A,C) was never
  * emitted as a pair. (Reference scope: trembita's groupBy covers only
  * single-key grouping; transitive closure is new surface mandated by the
  * LLM-pipeline tier — cf. the connected-components formulation in
  * "Connected Components in MapReduce and Beyond", Kiveris et al. 2014.)
  *
  * Algorithm: iterative min-label propagation with POINTER JUMPING —
  * each round every node takes the min label over {itself} ∪ neighbours
  * (one shuffle keyed by node id, min combines map-side), then follows
  * its label's label (`comp ← comp(comp)`, one self-join). Jumping halves
  * label-chain depth each round, so convergence is O(log diameter)
  * rounds, not O(diameter) — dup clusters are near-cliques (diameter
  * 2–3), and even pathological chain-shaped clusters of 2^20 docs close
  * in ~20 rounds. Two r13 restructurings on top:
  *
  *  1. **The edge projection is checkpointed ONCE, first.** Everything —
  *     the symmetric view, the node set, every round — reads that cut.
  *     Previously the symmetric union and the callers' participant
  *     derivations each re-executed the pair-generation lineage (minhash
  *     banding, planted self-joins): llm_split_safe measured 7 executed
  *     parquet scans, all but one of them re-derivations.
  *  2. **Round 1 is fused into the init.** Deriving participants from
  *     the edges needs a dedup shuffle anyway; grouping the symmetric
  *     view by endpoint with `min(neighbour)` makes that same shuffle
  *     produce `label₀ = min({id} ∪ N(id))` — exactly what round 1's
  *     neighbour-min over identity labels would compute. Diameter-2/3
  *     dup clusters now close in 2 rounds total (1 work + 1 detect).
  *
  * The iteration state is the PAIR PARTICIPANTS only — the dup graph, a
  * small fraction of a 100 TB corpus. Nodes outside the edge list never
  * enter the loop; [[connectedComponents]]/[[dupClusters]] attach their
  * singleton labels with one left join + coalesce at the end.
  *
  * Every round ends in a localCheckpoint: an iterative DataFrame loop
  * otherwise doubles its logical plan per round (analysis time blows up
  * long before the data does); the checkpoint is lazy and materializes
  * under the round's single action — the changed-label count that
  * doubles as the convergence test — and the superseded round's
  * checkpoint blocks are released EXPLICITLY the moment the new round
  * lands (GC + ContextCleaner would get there eventually, but in a
  * long-lived session the dead MEMORY_AND_DISK blocks compete with the
  * queries that run after us in the meantime). On convergence only the
  * final labels checkpoint survives; the edge cut is released too.
  *
  * 100 TB notes: state is exactly (id, comp) per participant — 16 bytes
  * a row, partitioned by id; the per-round shuffle is the edge list
  * keyed by endpoint. Duplicate/symmetric-duplicate edges are NOT
  * pre-distinct'd: the min aggregation dedups inherently and a
  * `.distinct()` would be a pure extra shuffle (the round-4 semi/anti
  * lesson). Mega-cluster skew (one boilerplate doc duplicated 10^8
  * times) concentrates edges on the hub's id — min is algebraic, so AQE
  * + partial aggregation absorb it.
  */
object Components {

  /** Component labels for the PAIR GRAPH only: one `(idCol, component)`
    * row per edge endpoint, `component` = the smallest id reachable
    * through the pair list (deterministic min-wins representative, the
    * [[Dedup.exact]] keep_id rule). This is the primitive the dedup
    * pipelines want — losers are exactly `id =!= component` — and it
    * never touches a corpus-sized frame. The returned frame is a
    * materialized checkpoint: reading it re-reads nothing upstream (the
    * caller may release its own pair checkpoint immediately).
    *
    * `inputIsCut = true` declares `pairs` is ALREADY a materialized
    * checkpoint (e.g. [[Curation.curateFull]]'s eager pair stage): the
    * closure then reads it through a narrow projection instead of
    * copying it into a second edge checkpoint — and leaves releasing
    * the caller's blocks to the caller. */
  def pairComponents(pairs: DataFrame,
                     aCol: String = "a", bCol: String = "b",
                     idCol: String = "doc_id",
                     maxIter: Int = 30,
                     inputIsCut: Boolean = false): DataFrame =
    pairComponentsWithRounds(pairs, aCol, bCol, idCol, maxIter, inputIsCut)._1

  /** [[pairComponents]] plus the number of label-propagation rounds the
    * closure took — the convergence observable the kept `cc_rounds`
    * shape of `graft.ScaleProbe` reports at 1× and N× (round count, not
    * just time, is the scale story of an iterative operator). */
  def pairComponentsWithRounds(pairs: DataFrame,
                               aCol: String = "a", bCol: String = "b",
                               idCol: String = "doc_id",
                               maxIter: Int = 30,
                               inputIsCut: Boolean = false): (DataFrame, Int) = {
    val (comp, rounds) = core(pairs, aCol, bCol, maxIter, inputIsCut)
    (comp.select(col("id").as(idCol), col("comp").as("component")), rounds)
  }

  /** Component label per node: `component` = the smallest node id
    * reachable from `id` (deterministic representative election — same
    * min-wins rule as [[Dedup.exact]]'s keep_id). Ids need only be
    * ordered and joinable — numeric doc ids elect the numeric min,
    * string ids the lexicographic min (spec-pinned); mixing id types
    * between nodes and edges is a normal analysis-time type error.
    * Nodes absent from the edge list keep themselves as singleton
    * components; connectivity is computed over the EDGE graph, so an
    * endpoint missing from `nodes` still conducts reachability (it is
    * just dropped from the output). Throws
    * IllegalStateException if `maxIter` rounds don't reach the fixpoint
    * (a silent partial closure would merge too few clusters and leak
    * duplicates downstream). */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
                          idCol: String = "id",
                          srcCol: String = "src", dstCol: String = "dst",
                          maxIter: Int = 30): DataFrame = {
    val (comp, _) = core(edges, srcCol, dstCol, maxIter, inputIsCut = false)
    val n = nodes.select(col(idCol))
    n.join(comp, n(idCol) === comp("id"), "left")
      .select(n(idCol),
        coalesce(comp("comp"), n(idCol)).as("component"))
  }

  /** The label-propagation loop over the edge list alone. Returns the
    * final `(id, comp)` CHECKPOINT (participants only) and the round
    * count. All intermediate checkpoints and the edge cut are released
    * before returning — on success exactly one persisted RDD (the
    * result) survives; on failure none do. */
  private def core(edges: DataFrame, srcCol: String, dstCol: String,
                   maxIter: Int, inputIsCut: Boolean): (DataFrame, Int) = {
    // ONE cut for the whole closure: the pair-generation lineage
    // (minhash banding, self-joins) executes exactly once, here.
    // Pair-list-sized by contract (dup mass, never the corpus). When
    // the caller's pairs are already a materialized checkpoint
    // (inputIsCut) the narrow projection reads those blocks directly —
    // a second copy would be pure storage, and releasing it here would
    // unpersist the CALLER's blocks (releaseCheckpoint unpersists every
    // LogicalRDD in the plan), so ownership stays with the caller.
    val proj = edges.select(col(srcCol).as("__a"), col(dstCol).as("__b"))
      .where(col("__a") =!= col("__b")) // self-loops cannot change a min
    val e = if (inputIsCut) proj else proj.localCheckpoint(false)
    def releaseEdges(): Unit =
      if (!inputIsCut)
        org.apache.spark.sql.graftbridge.ColumnBridge.releaseCheckpoint(e)
    // symmetric view: derived per consumer from the cut's blocks (a
    // narrow union — checkpointing it too would just double storage)
    val sym = e.union(e.select(col("__b").as("__a"), col("__a").as("__b")))
    // fused round 1: the participant dedup IS a keyed shuffle, so the
    // same groupBy also takes the first neighbour-min — label₀ =
    // min({id} ∪ N(id)), one whole round for free
    var labelsCk = sym.groupBy(col("__a").as("id"))
      .agg(least(min(col("__b")), col("__a")).as("comp"))
      .localCheckpoint(false)
    var labels: DataFrame = labelsCk
    var iter = 0
    var done = false
    // a failed run (non-convergence, a dead executor mid-count) must not
    // leave edge + label blocks pinned in the long-lived session — the
    // exact lag the explicit releases exist to avoid
    try {
      while (!done && iter < maxIter) {
        // min over neighbours' current labels (one keyed shuffle, map-side min)
        val neighbourMin = sym.join(labels, col("__b") === col("id"))
          .groupBy(col("__a")).agg(min("comp").as("__ncomp"))
        // the pre-round label rides along as __old so convergence is a
        // per-row comparison on the round's own output, not a second
        // join-the-previous-round job
        val prop = labels.as("l")
          .join(neighbourMin.as("n"), col("l.id") === col("n.__a"), "left")
          .select(col("l.id").as("id"),
            least(col("l.comp"), coalesce(col("__ncomp"), col("l.comp"))).as("comp"),
            col("l.comp").as("__old"))
        // pointer jump: comp ← comp(comp) — label values are node ids, so
        // the lookup is a self-join; left join keeps already-minimal labels
        val jumped = prop.as("x")
          .join(prop.select(col("id").as("__jid"), col("comp").as("__jcomp")).as("y"),
            col("x.comp") === col("y.__jid"), "left")
          .select(col("x.id").as("id"),
            least(col("x.comp"), coalesce(col("__jcomp"), col("x.comp"))).as("comp"),
            col("x.__old").as("__old"))
        // ONE action per round: the lazy checkpoint materializes under the
        // changed-label count (an eager checkpoint + join + isEmpty probe
        // was two jobs and an extra shuffle per round)
        val next = jumped.localCheckpoint(false)
        done = next.where(col("comp") =!= col("__old")).count() == 0L
        // the count materialized `next`; the previous round's blocks are
        // now unreachable — free them before the next round allocates
        org.apache.spark.sql.graftbridge.ColumnBridge.releaseCheckpoint(labelsCk)
        labelsCk = next
        labels = next.select("id", "comp")
        iter += 1
      }
      if (!done)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIter rounds — " +
            "raise maxIter; a partial closure would leak duplicates")
    } catch {
      case t: Throwable =>
        releaseEdges()
        org.apache.spark.sql.graftbridge.ColumnBridge.releaseCheckpoint(labelsCk)
        throw t
    }
    // converged: downstream consumers read only the final labels
    // checkpoint — the edge cut's blocks are dead, release them
    releaseEdges()
    (labels, iter)
  }

  /** Duplicate clustering for a near-dup pair list: every document gets a
    * `component` (smallest doc id of its transitive duplicate cluster)
    * and a `is_rep` flag — keep `is_rep`, drop the rest. `pairs` is the
    * (a, b) output of any [[Dedup]] candidate generator + verifier. The
    * iteration runs over pair participants only; `docs` pays one left
    * join against the (checkpointed) label frame. */
  def dupClusters(docs: DataFrame, pairs: DataFrame,
                  idCol: String = "doc_id",
                  aCol: String = "a", bCol: String = "b",
                  maxIter: Int = 30): DataFrame =
    connectedComponents(docs.select(idCol), pairs, idCol, aCol, bCol, maxIter)
      .withColumn("is_rep", col(idCol) === col("component"))

  /** Incremental closure (r16) — the growing-graph scale path: a crawl
    * adds edges daily, and re-closing the FULL edge set per day re-pays
    * every historical round. A prior labeling is a connectivity-
    * preserving CONTRACTION of everything already closed: the star
    * edges `id → component` reconnect each old cluster in diameter 2,
    * so running the same closure over (star edges ∪ delta edges) equals
    * the full recompute over (all old edges ∪ delta) — with the old
    * edge VOLUME replaced by one edge per labeled node, and convergence
    * in ~2 rounds unless the delta itself is deep (the Kiveris et al.
    * contraction argument). Labels are min ids, so a merged component's
    * min over star ids = min over all original members; singleton prior
    * nodes (id = component, no star edge) and fresh delta endpoints are
    * both covered by the node attach. Emits `(idCol, component)` over
    * prior nodes ∪ delta endpoints.
    *
    * MONOTONE, additive-only — retraction is out of contract: star
    * contraction bakes every prior merge into the star edges, so a
    * delta cannot UN-merge a component (there is no edge whose absence
    * this operator can see — a revoked edge simply stops appearing in
    * deltas, which changes nothing already merged). A crawl that
    * retracts edges (link rot, spam takedowns) must re-close the
    * SURVIVING edge set with [[connectedComponents]] — the full
    * recompute is the retraction path, and the spec pins exactly this
    * behavior. Same contract for the streaming face
    * ([[graft.streaming.StreamOps.componentsStream]]). */
  def incremental(priorLabels: DataFrame, deltaEdges: DataFrame,
                  idCol: String = "doc_id", compCol: String = "component",
                  aCol: String = "a", bCol: String = "b",
                  maxIter: Int = 30): DataFrame = {
    val nodes = priorLabels.select(col(idCol))
      .union(deltaEdges.select(col(aCol).as(idCol)))
      .union(deltaEdges.select(col(bCol).as(idCol)))
      .distinct()
    val starEdges = priorLabels
      .where(col(idCol) =!= col(compCol))
      .select(col(idCol).as(aCol), col(compCol).as(bCol))
    connectedComponents(nodes, starEdges.union(deltaEdges.select(aCol, bCol)),
      idCol, aCol, bCol, maxIter)
  }
}
