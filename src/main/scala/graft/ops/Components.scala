package graft.ops

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Q

/** Connected components over the near-dup pair graph — the stage that
  * turns pairwise dedup output into survivors. Every near-dup path
  * (q25/q26/q70) emits PAIRS; a dedup pass must then group transitively
  * linked documents and keep one per group. No analog in the reference
  * (which never dedups); this is the standard closing step of a corpus
  * dedup pipeline.
  *
  * Two paths, one contract. The caller's pair pipeline is evaluated
  * exactly once into a checkpointed edge frame; what closes it depends
  * on the edge count the checkpoint observed:
  *
  *  - Driver finish (edges ≤ cap): the edge blocks are read back —
  *    bounded at cap + 1 rows, so the driver never holds more — and
  *    closed with union-find, always linking the larger root under the
  *    smaller, so each root is its component's min id. The result is a
  *    local relation. `cap` is `spark.sql.autoBroadcastJoinThreshold`
  *    (bytes) over the edge schema's row size — the same bound Spark
  *    uses to hold a relation whole in one process for a broadcast
  *    join; `-1` turns the driver finish off. Near-dup pair graphs are
  *    ∝ duplicated docs, so this is the common case, and it replaces
  *    rounds × (shuffle + checkpoint barrier + convergence action) with
  *    one read-back job.
  *  - Loop (every other case: edges > cap, the threshold off, a null
  *    endpoint, ids neither int nor bigint): Pregel-style min-label
  *    propagation on DataFrames — each round every node takes the min of
  *    its own label and its neighbors', until no label changes. Rounds =
  *    graph diameter; near-dup components are small dense clusters
  *    (diameter 2-3 in practice), so the loop terminates in a handful of
  *    rounds. Per round: one shuffle for the (edges ⋈ labels)
  *    min-aggregation, one broadcast-or-shuffle join to merge, one
  *    [[Barrier]] to truncate lineage (without it the plan doubles
  *    per round and Catalyst analysis goes quadratic), and one `count`
  *    action for the convergence check — driver-side scalars only, never
  *    row data. Past [[PlainRounds]] a path-doubling shortcut joins each
  *    round, so long chains converge in O(log n) rounds.
  *
  * Both paths return the same (id, label) rows, column types and
  * nullability (ComponentsSpec runs them side by side). The gate is the
  * OBSERVED edge count, not a size estimate: at 100 TB the pair set is
  * past any cap and the loop runs.
  *
  * Scale: state is one (id, label) row per node appearing in any pair —
  * proportional to DUPLICATED docs only, typically a small fraction of
  * the corpus. Labels are doc_ids, so the final component id is the min
  * doc_id of the component: deterministic, engine-independent, and
  * directly usable as the survivor key.
  */
object Components {

  /** Rounds of plain min-propagation before path-doubling kicks in:
    * near-dup graphs (diameter 2-3) converge inside the plain window at
    * one shuffle-join per round; anything still unconverged after it is
    * a long-chain shape, where the extra label→label shortcut join per
    * round buys O(log n) total rounds (pointer jumping — the
    * label-doubling cousin of Kiveris et al.'s large-star/small-star). */
  private val PlainRounds = 4

  /** Min-label connected components over an undirected edge list with
    * columns (i, j). Returns (id, component) for every node in the edge
    * list, component = min doc_id reachable.
    *
    * The pair pipeline is checkpointed once (`e`). When `e` holds at
    * most [[driverCap]] edges it closes on the driver
    * ([[closeOnDriver]]) and `e` is released; otherwise the propagation
    * loop ([[closeByPropagation]]) runs over `e`. Every checkpoint is a
    * [[Barrier]]: its session's conf picks executor-local or reliable. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 30): DataFrame =
    Barrier.scoped { scope =>
      // Checkpoint the DIRECTED pairs first (r14): ckpt-ing the union of
      // the raw pipeline evaluated the caller's pair pipeline once per
      // union branch — ReuseExchange dedups the exchanges below, but
      // everything between the last exchange and the union top (the
      // Jaccard-verification join with its array_intersect over shingle
      // arrays) ran TWICE per CC call. The pipeline evaluates exactly
      // once, here; both closing paths read e's blocks. The scope
      // releases e when either returns (the loop frees it earlier).
      val e = scope.pin(edges.select(col("i"), col("j")))
      closeOnDriver(e).getOrElse(closeByPropagation(e, maxIter))
    }

  /** Most edges the driver finish closes: the session's broadcast
    * threshold in bytes over the edge schema's row size, sized the way
    * Spark sizes a local relation against that threshold. `None` when
    * the threshold is negative (broadcasting, and the driver finish,
    * off). */
  private[graft] def driverCap(e: DataFrame): Option[Long] = {
    val threshold = e.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val rowBytes = EstimationUtils.getSizePerRow(e.queryExecution.analyzed.output).toLong
    if (threshold < 0) None else Some(threshold / rowBytes)
  }

  /** The loop's (src, dst) view of the directed edge frame: both
    * orientations, column types widened the way the union widens them. */
  private def symmetrized(e: DataFrame): DataFrame =
    e.select(col("i").as("src"), col("j").as("dst"))
      .union(e.select(col("j").as("src"), col("i").as("dst")))

  /** Driver finish: read `e` back — at most cap + 1 rows, through one
    * task, so neither the wire nor the driver ever carries more — and
    * close it with union-find. Node ids are sorted into dense indexes
    * and every link puts the larger root under the smaller, so each
    * root is its component's min id: the label the loop converges to.
    * The (id, label) relation is local, with the loop's column names,
    * type (i and j widened as the loop's union widens them) and
    * nullability.
    *
    * `None` (run the loop) when the threshold is off, the edge set
    * exceeds the cap, the ids are neither int nor bigint, or an endpoint is
    * null: the loop keeps a null-id row whose label depends on its round
    * schedule (path-doubling rounds rewrite or drop it), which no
    * closed form reproduces. */
  private def closeOnDriver(e: DataFrame): Option[DataFrame] = {
    val src = symmetrized(e).schema("src")
    val box: Option[Long => Any] = src.dataType match {
      case LongType    => Some(v => v)
      case IntegerType => Some(_.toInt)
      case _           => None
    }
    for {
      boxed <- box
      cap <- driverCap(e)
      edgeRows = e.select(col("i").cast(LongType), col("j").cast(LongType))
        .coalesce(1).limit(math.min(cap + 1, Int.MaxValue.toLong).toInt).collect()
      if edgeRows.length <= cap && !edgeRows.exists(r => r.isNullAt(0) || r.isNullAt(1))
    } yield {
      val is = edgeRows.map(_.getLong(0))
      val js = edgeRows.map(_.getLong(1))
      val ids = (is ++ js).distinct.sorted
      val parent = Array.range(0, ids.length)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var y = x
        while (parent(y) != r) { val n = parent(y); parent(y) = r; y = n }
        r
      }
      is.indices.foreach { k =>
        val a = find(java.util.Arrays.binarySearch(ids, is(k)))
        val b = find(java.util.Arrays.binarySearch(ids, js(k)))
        if (a < b) parent(b) = a else if (b < a) parent(a) = b
      }
      val schema = StructType(Seq(
        StructField("id", src.dataType, src.nullable),
        StructField("label", src.dataType, src.nullable)))
      e.sparkSession.createDataFrame(
        ids.indices.map(k => Row(boxed(ids(k)), boxed(ids(find(k))))).asJava, schema)
    }
  }

  /** The propagation loop over the checkpointed directed edges `e`.
    * Each round materializes via checkpoint and folds the convergence
    * check into the same action. Min-propagation is monotone, so a
    * round that changes nothing proves the fixpoint — the loop exits on
    * the first zero-change round, and near-dup graphs have diameter
    * 2-3, so that is 3-4 actions total. After [[PlainRounds]] rounds a
    * path-doubling shortcut (label := label's label) joins each round,
    * so adversarial high-diameter chains converge in O(log n) rounds
    * instead of O(diameter) — `maxIter` = 30 then covers diameters past
    * 2²⁰ rather than aborting at 31. (See the inline note below on why
    * multi-round batching was tried and reverted.) */
  private def closeByPropagation(e: DataFrame, maxIter: Int): DataFrame = {
    // No `.distinct()` on the symmetrized edges: the min-aggregation is
    // duplicate-tolerant, and near-dup pair generators emit distinct
    // (i<j) pairs already — the dedup shuffle bought nothing.
    // (Round-batching — k lazy rounds per materialization — was tried and
    // REVERTED: with AQE every propagation round is its own shuffle stage
    // whether or not it is materialized, so batching only added overshoot
    // rounds past convergence and Catalyst analysis of deeper plans.
    // Measured at sf0.1: per-round 1.45s, 4-round batches 2.0-3.1s.)
    // The symmetrized view is checkpointed FROM e's blocks (r14): the
    // sym ckpt is a cheap block-to-block union, and every loop round
    // reads ONE block set; e releases the moment sym materializes.
    // The sym ckpt is REPARTITIONED BY src (§2.4 "share one exchange"):
    // a checkpoint preserves output partitioning in the LogicalRDD,
    // so the seed aggregation and EVERY round's propagation join read
    // the blocks exchange-free instead of re-shuffling the edge set
    // once per round. (The labels side is already id-partitioned by its
    // own round checkpoint for the same reason.)
    val sym = Barrier.pin(symmetrized(e).repartition(col("src")))
    Barrier.release(e)
    // Seed labels at min(self, direct neighbors): the node-collection
    // aggregation has to shuffle the edge list by src anyway, so folding
    // round 1's min-propagation into it is free — star-shaped near-dup
    // components converge one materialized round earlier (measured at
    // sf0.1: q72 1.76s → 1.4s).
    // `labelsCkpt` is always the bare checkpointed frame whose blocks
    // back `labels` — held so each round can release its predecessor
    // the moment the successor has materialized (checkpoints are eager)
    var labelsCkpt = Barrier.pin(sym.groupBy(col("src"))
      .agg(min(col("dst")).as("nbrMin"))
      .select(col("src").as("id"), least(col("src"), col("nbrMin")).as("label")))
    var labels: DataFrame = labelsCkpt
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      val prop = sym
        .join(labels, sym("src") === labels("id"))
        .groupBy(col("dst")).agg(min(col("label")).as("nbrMin"))
      // `prev` rides along so the change flag covers BOTH the
      // propagation step and (in doubling rounds) the shortcut — the
      // convergence check stays one aggregate over checkpointed blocks
      val merged = labels
        .join(prop, labels("id") === prop("dst"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbrMin"), col("label"))).as("label"),
          col("label").as("prev"))
      var doublingCkpt: DataFrame = null
      val stepped =
        if (it < PlainRounds) merged
        else {
          // path-doubling shortcut: label := label(label). Every label
          // value is itself a node id in `labels` (labels only ever
          // hold reachable node ids), so the inner join is total; the
          // checkpoint keeps the self-join from recomputing the
          // propagation shuffle twice. At the propagation fixpoint
          // labels are component-constant, so the shortcut is a no-op
          // there — the zero-change exit test is unaffected.
          val m = Barrier.pin(merged)
          doublingCkpt = m
          m.as("l1")
            .join(m.select(col("id").as("lid"), col("label").as("llabel")),
              col("l1.label") === col("lid"))
            .select(col("l1.id").as("id"),
              least(col("l1.label"), col("llabel")).as("label"),
              col("l1.prev").as("prev"))
        }
      val staged = Barrier.pin(stepped
        .select(col("id"), col("label"),
          (col("label") < col("prev")).cast("long").as("chg")))
      // coalesce: sum over an EMPTY staged frame is NULL (zero-pair
      // corpora — the common no-duplicates case must converge, not NPE)
      val changed = staged.agg(coalesce(sum(col("chg")), lit(0L))).head.getLong(0)
      // `staged` is materialized: the superseded round's blocks (and the
      // doubling round's intermediate) are dead — release, don't leak
      Barrier.release(labelsCkpt)
      if (doublingCkpt != null) Barrier.release(doublingCkpt)
      labelsCkpt = staged
      labels = staged.drop("chg")
      converged = changed == 0
      it += 1
    }
    // with doubling active past PlainRounds, label depth at least
    // halves per round — 30 rounds covers any physically possible
    // diameter, so this is a logic backstop, not a reachable abort
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    // the returned labels read the final round's blocks only — the
    // symmetrized edge frame is dead once the loop exits
    Barrier.release(sym)
    labels
  }

  /** Full-rebuild closure oracle over the ENTIRE documents corpus —
    * shingles → signatures → bands → verified pairs → transitive
    * closure via a recursive CTE. Shared by q72 (the from-scratch
    * engine path) and q208 (the INCREMENTAL engine path): both must
    * reproduce this exact labeling. */
  private[graft] val oracleFullClosure: String = oracleClosureOver("documents")

  /** [[oracleFullClosure]] over an arbitrary (doc_id, text) relation —
    * the retirement oracle (q218) rebuilds the closure from scratch over
    * the corpus MINUS the removed docs. */
  private[graft] def oracleClosureOver(rel: String): String =
    s"""WITH RECURSIVE
       |np AS (
       |  ${Dedup.oracleMinhashPairsBodyOver(rel).replace("\n", "\n  ")}),
       |edges AS (SELECT i AS src, j AS dst FROM np UNION SELECT j, i FROM np),
       |reach AS (
       |  SELECT src AS id, src AS r FROM edges
       |  UNION
       |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id)
       |SELECT id AS doc_id, MIN(r) AS component FROM reach
       |GROUP BY id
       |ORDER BY doc_id""".stripMargin

  /** Dedup components over the MinHash-LSH pair graph (q26's pairs):
    * (doc_id, component) with component = min doc_id — the survivor key.
    * The oracle replays the ENTIRE pipeline — shingles → signatures →
    * bands → verified pairs → transitive closure — via a recursive CTE,
    * so the gate checks label propagation against DuckDB's fixpoint
    * semantics, not just the pair list. */
  val q72DedupComponents: Q = Q.sql(
    "q72_dedup_components",
    oracleFullClosure
  ) { (s, dir) =>
    connectedComponents(Dedup.minhashPairs(s, dir).select(col("i"), col("j")))
      .select(col("id").as("doc_id"), col("label").as("component"))
      .orderBy(col("doc_id"))
  }

  /** Incremental connected-components maintenance — the closure stage
    * of the incremental-ingest trio (q205 `snapshotDelta` detects the
    * changed docs, q207 `refreshBandIndex` refreshes the band index,
    * THIS refreshes the dedup closure): given the standing labeling
    * `comps` ((doc_id, component), component = min reachable doc_id —
    * [[connectedComponents]]' output contract) and the `newPairs` an
    * added batch introduces ((i, j) cross pairs vs the standing corpus
    * + pairs within the batch), produce the grown graph's labeling
    * WITHOUT re-running closure over the standing pair graph.
    *
    * Standing components are already transitively closed, so each
    * CONTRACTS to its label: every new-pair endpoint maps to its
    * standing component label (itself when unlabeled — new docs and
    * standing singletons), and [[connectedComponents]] runs on that
    * contracted graph, whose size is ∝ |newPairs| — never ∝ |standing
    * graph|. A contracted group's label is the min over its member
    * NODE ids; a standing label is already the min of its own members,
    * so that min IS the min doc_id of the merged component — exactly
    * the label a full rebuild assigns (q208 proves this against the
    * full recursive-CTE rebuild). The final relabel is one equi-join
    * pass over `comps` (the merged mapping is ∝ |newPairs| rows; AQE
    * broadcasts it when small — no forced hint, same heavy-dup OOM
    * rationale as the q72/q73 map-backs). For stored-table
    * maintenance, rows with a changed component are exactly a q103
    * `mergeUpsert` feed — emit `refreshComponents(...).join(comps,
    * Seq("doc_id"), "left_anti")`-style deltas instead of rewriting
    * the table.
    *
    * CONTRACT — GROWTH ONLY (same standard as the HLL state's
    * "registers only grow; deletions need a rebuild"): this handles
    * added docs and the merges their pairs cause. It CANNOT handle
    * removals — a removed doc may be a component's min-id label (the
    * label must change) or a cut vertex (the component must split),
    * and neither is derivable from `comps` + `newPairs`. Feed a q205
    * change feed's `removed` rows to [[retireComponents]], which
    * re-closes exactly the affected components (work ∝ affected, never
    * corpus) — q218 gates it against a full rebuild that drops the
    * removed docs. */
  def refreshComponents(comps: DataFrame, newPairs: DataFrame): DataFrame = {
    val c = comps.select(col("doc_id"), col("component"))
    // Checkpoint the (possibly expensive) new-pair pipeline ONCE (r14):
    // `p` fans into the contracted graph (evaluated inside the inner
    // connectedComponents' edge checkpoint) AND both newlyLabeled
    // branches — three full replays of the two-sided band join
    // otherwise. p is ∝ |batch| rows by the incremental contract, so the
    // blocks are small wherever this is affordable to call at all.
    val p = Barrier.pin(newPairs.select(col("i"), col("j")))
    val contracted = p
      .join(c.select(col("doc_id").as("i"), col("component").as("__graft_ci")),
        Seq("i"), "left")
      .join(c.select(col("doc_id").as("j"), col("component").as("__graft_cj")),
        Seq("j"), "left")
      .select(coalesce(col("__graft_ci"), col("i")).as("i"),
        coalesce(col("__graft_cj"), col("j")).as("j"))
      // both endpoints inside one standing component: already closed,
      // the contracted edge is a self-loop and carries nothing
      .filter(col("i") =!= col("j"))
    val merged = connectedComponents(contracted)
    val relabeled = c
      .join(merged.select(col("id").as("component"), col("label").as("__graft_new")),
        Seq("component"), "left")
      .select(col("doc_id"),
        coalesce(col("__graft_new"), col("component")).as("component"))
    // endpoints with no standing label (new docs, ex-singletons): every
    // one survives contraction (its partner can never contract to the
    // endpoint's own id — labels are ids of LABELED docs), so the left
    // join is total; coalesce is a belt for the empty-pair edge case
    val newlyLabeled = p.select(col("i").as("doc_id"))
      .union(p.select(col("j").as("doc_id"))).distinct()
      .join(c.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .join(merged.select(col("id").as("doc_id"), col("label").as("__graft_new")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__graft_new"), col("doc_id")).as("component"))
    relabeled.unionByName(newlyLabeled)
  }

  /** q208: [[refreshComponents]] oracle-gated — the ENGINE maintains
    * the dedup closure INCREMENTALLY (standing closure + an added
    * batch's new pairs, discovered by the q83 two-sided band join plus
    * a within-batch pair pass — work ∝ batch), while the ORACLE
    * rebuilds the whole closure from scratch (q72's recursive CTE over
    * the FULL corpus). The two only hash-match if contraction is
    * exact: a merge the contracted graph misses, a stale label
    * surviving the relabel join, or an ex-singleton left unlabeled all
    * break the compare. Generations derive deterministically from
    * `documents`: every 3rd doc is the added batch, the rest stand.
    * The standing labeling is derived INLINE here only to keep the
    * query self-contained — in production it is the stored (doc_id,
    * component) table, read not recomputed, and the incremental cost
    * is just the two band joins + the contracted closure. */
  val q208ComponentRefresh: Q = Q.sql(
    "q208_component_refresh",
    oracleFullClosure
  ) { (s, dir) =>
    // checkpoint the hashed-shingle frame ONCE (r14, the q143 lesson):
    // the generation filters below push through the by-doc_id barrier
    // and defeat ReuseExchange, so every pair-pipeline consumer (~10
    // references across the standing/incoming/cross legs) re-shingled
    // the corpus from parquet otherwise
    val docs = Barrier.pin(Dedup.hashedShinglesOf(graft.Tables.documents(s, dir)))
    val standing = docs.filter(col("doc_id") % 3 =!= 0)
    val incoming = docs.filter(col("doc_id") % 3 === 0)
    val comps = connectedComponents(
        Dedup.minhashPairsOf(standing).select(col("i"), col("j")))
      .select(col("id").as("doc_id"), col("label").as("component"))
    val newPairs = Dedup.crossVerifiedPairs(standing, incoming)
      .select(col("i"), col("j"))
      .unionByName(Dedup.minhashPairsOf(incoming).select(col("i"), col("j")))
    refreshComponents(comps, newPairs)
      .orderBy(col("doc_id"))
  }

  /** Deletion maintenance for the stored dedup closure — the removal
    * half of [[refreshComponents]]' growth-only contract: given the
    * standing labeling `comps`, the `removed` doc ids, and the
    * remaining corpus's hashed-shingle frame, produce the labeling a
    * full rebuild over the corpus-minus-removed would — WITHOUT
    * re-closing anything a removed doc never touched.
    *
    * Why whole-component re-closure and not label patching: a removed
    * doc can be its component's min-id LABEL (every member needs a new
    * label) or a CUT VERTEX (the component must split into parts that
    * share no remaining edge) — both need the component's internal
    * edge structure, which the (doc_id, component) table doesn't
    * store. So: components containing a removed doc are AFFECTED;
    * their remaining members re-derive pairs among themselves (LSH
    * banding is per-doc, so the pair set over a member subset is
    * exactly the induced subgraph of the standing pair graph) and
    * re-close with [[connectedComponents]]. Members left with no pair
    * drop out of the labeling — singletons are unlabeled by the q72
    * output contract, matching the full rebuild row for row.
    *
    * Completeness of the affected set: pair edges only exist inside a
    * component (transitivity), so a removed doc's influence cannot
    * cross a component boundary — untouched components pass through
    * by anti-join, never rescanned.
    *
    * Scale: work ∝ affected components' remaining members (the
    * semi-joins prune `remainingDocs` before any shingle work), never
    * ∝ corpus. `remainingDocs` can therefore be the full standing
    * (doc_id, hs) frame — only the affected slice is read. */
  def retireComponents(comps: DataFrame, removed: DataFrame,
                       remainingDocs: DataFrame): DataFrame =
    retireComponentsBy(comps, removed, remainingDocs,
      memberDocs => Dedup.minhashPairsOf(memberDocs).select(col("i"), col("j")))

  /** [[retireComponents]] with the pair derivation injected — the graph
    * logic (affected-set pruning, re-closure, pass-through) is testable
    * on planted topologies (ComponentsSpec's removed-label and
    * cut-vertex fixtures) independent of LSH banding; `pairsOf` must
    * return the standing pair graph induced on the docs it is given. */
  private[graft] def retireComponentsBy(comps: DataFrame, removed: DataFrame,
                                        remainingDocs: DataFrame,
                                        pairsOf: DataFrame => DataFrame): DataFrame = {
    val c = comps.select(col("doc_id"), col("component"))
    val rm = removed.select(col("doc_id"))
    val affected = c.join(rm, Seq("doc_id"), "left_semi")
      .select(col("component")).distinct()
    val survivors = c.join(affected, Seq("component"), "left_semi")
      .join(rm, Seq("doc_id"), "left_anti")
      .select(col("doc_id"))
    val memberDocs = remainingDocs.join(survivors, Seq("doc_id"), "left_semi")
    val reclosed = connectedComponents(pairsOf(memberDocs))
      .select(col("id").as("doc_id"), col("label").as("component"))
    c.join(affected, Seq("component"), "left_anti")
      .select(col("doc_id"), col("component"))
      .unionByName(reclosed)
  }

  /** q218: [[retireComponents]] oracle-gated — the ENGINE maintains the
    * standing closure under REMOVALS (every 5th doc retired, the q208
    * convention's deletion twin), while the ORACLE rebuilds the whole
    * closure from scratch over the corpus minus the removed docs. The
    * compare breaks on every removal failure mode: a removed min-id
    * label surviving as a stale component id, a cut-vertex component
    * not splitting, a member left labeled after its last pair died, or
    * an untouched component touched. The standing labeling is derived
    * inline only to keep the query self-contained — in production it is
    * the stored table, and the incremental cost is the affected-slice
    * pair pass + contracted closure. */
  val q218ComponentRetire: Q = Q.sql(
    "q218_component_retire",
    oracleClosureOver("(SELECT doc_id, text FROM documents WHERE doc_id % 5 != 0)")
  ) { (s, dir) =>
    // checkpoint the hashed-shingle frame ONCE (r14, the q143 lesson):
    // the generation filters below push through the by-doc_id barrier
    // and defeat ReuseExchange, so every pair-pipeline consumer (~10
    // references across the standing/incoming/cross legs) re-shingled
    // the corpus from parquet otherwise
    val docs = Barrier.pin(Dedup.hashedShinglesOf(graft.Tables.documents(s, dir)))
    val comps = connectedComponents(
        Dedup.minhashPairsOf(docs).select(col("i"), col("j")))
      .select(col("id").as("doc_id"), col("label").as("component"))
    val removed = docs.filter(col("doc_id") % 5 === 0).select(col("doc_id"))
    val remaining = docs.filter(col("doc_id") % 5 =!= 0)
    retireComponents(comps, removed, remaining)
      .orderBy(col("doc_id"))
  }

  /** Full-rebuild SURVIVORS oracle over the entire corpus — shared by
    * q73 (from-scratch engine path) and q217 (the INCREMENTAL capstone):
    * both must reproduce this exact survivor set. */
  private[graft] lazy val oracleFullSurvivors: String =
    s"""WITH RECURSIVE
       |np AS (
       |  ${Dedup.oracleMinhashPairsBody.replace("\n", "\n  ")}),
       |edges AS (SELECT i AS src, j AS dst FROM np UNION SELECT j, i FROM np),
       |reach AS (
       |  SELECT src AS id, src AS r FROM edges
       |  UNION
       |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
       |dropped AS (
       |  SELECT id FROM (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
       |  WHERE id != component)
       |SELECT d.doc_id, d.lang, d.n_chars
       |FROM documents d ANTI JOIN dropped ON d.doc_id = dropped.id
       |ORDER BY d.doc_id""".stripMargin

  /** The deduplicated corpus: every document except non-survivor
    * near-dups (component members other than the min doc_id). This is
    * the pipeline's end product — what a training run actually reads.
    * Non-survivors are duplication-bounded (near-dup docs only) but
    * NOT bounded by construction — a 50%-dup corpus makes the set
    * corpus-scale — so the anti-join is a plain equi-join and AQE
    * picks broadcast when the set is actually small (a forced
    * `broadcast()` hint would override Spark's size threshold and
    * OOM the driver in the heavy-dup case). */
  val q73DedupSurvivors: Q = Q.sql(
    "q73_dedup_survivors",
    oracleFullSurvivors
  ) { (s, dir) =>
    val dropped = connectedComponents(Dedup.minhashPairs(s, dir).select(col("i"), col("j")))
      .filter(col("id") =!= col("label"))
      .select(col("id"))
    graft.Tables.documents(s, dir)
      .join(dropped, col("doc_id") === col("id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** q217: the incremental-ingest CAPSTONE — the refresh family
    * composed end to end, hash-gated against the SAME full-rebuild
    * oracle as q73. The engine path touches the standing corpus only
    * through its STORED artifacts: the standing closure (gen-1
    * components, the stored (doc_id, component) table — derived inline
    * here from the q208 generation convention, read-not-recomputed in
    * production), plus the added batch's new pairs (q83's two-sided
    * band join + a within-batch pass, work ∝ batch). The closure is
    * refreshed with [[refreshComponents]] (contracted graph ∝
    * |newPairs|), non-survivors drop by the refreshed labels, and the
    * emitted corpus must equal — row for row, hash for hash — what a
    * FULL rebuild over the grown corpus produces (q73's recursive-CTE
    * oracle replays exactly that). Any error anywhere in the chain — a
    * pair the incremental matcher misses, a label the contraction gets
    * wrong, a stale standing label surviving the relabel — changes the
    * survivor set and breaks the compare. This is the end-state the
    * incremental trio (q205 delta / q207 band index / q208 closure)
    * exists to serve: ingest a batch, refresh the stored state, emit
    * the deduplicated corpus, never re-scan the standing 100 TB. */
  val q217IncrementalIngest: Q = Q.sql(
    "q217_incremental_ingest",
    oracleFullSurvivors
  ) { (s, dir) =>
    // checkpoint the hashed-shingle frame ONCE (r14, the q143 lesson):
    // the generation filters below push through the by-doc_id barrier
    // and defeat ReuseExchange, so every pair-pipeline consumer (~10
    // references across the standing/incoming/cross legs) re-shingled
    // the corpus from parquet otherwise
    val docs = Barrier.pin(Dedup.hashedShinglesOf(graft.Tables.documents(s, dir)))
    val standing = docs.filter(col("doc_id") % 3 =!= 0)
    val incoming = docs.filter(col("doc_id") % 3 === 0)
    val comps = connectedComponents(
        Dedup.minhashPairsOf(standing).select(col("i"), col("j")))
      .select(col("id").as("doc_id"), col("label").as("component"))
    val newPairs = Dedup.crossVerifiedPairs(standing, incoming)
      .select(col("i"), col("j"))
      .unionByName(Dedup.minhashPairsOf(incoming).select(col("i"), col("j")))
    val dropped = refreshComponents(comps, newPairs)
      .filter(col("doc_id") =!= col("component"))
      .select(col("doc_id").as("__graft_drop"))
    graft.Tables.documents(s, dir)
      .join(dropped, col("doc_id") === col("__graft_drop"), "left_anti")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Survivor selection by QUALITY, not min id: within each near-dup
    * component keep the argmax-quality member (ties broken by min
    * doc_id — a total order, so the survivor set is deterministic).
    * This is the policy real pipelines want — near-dup clusters usually
    * contain one clean original and N mangled copies, and min-id keeps
    * whichever was crawled first, not whichever is best.
    *
    * Scale: components exist only for duplicated docs (small);
    * quality joins at that grain; the per-component argmax is a
    * `max_by` aggregate (partial-merge friendly); the corpus joins
    * the drop set in a plain anti-join (duplication-bounded, not
    * bounded by construction — AQE broadcasts it when small, see
    * [[q73DedupSurvivors]]) — identical shape to q73 with one extra
    * small-side join. */
  val q158BestSurvivors: Q = Q.sql(
    "q158_best_survivors",
    s"""WITH RECURSIVE
       |np AS (
       |  ${Dedup.oracleMinhashPairsBody.replace("\n", "\n  ")}),
       |edges AS (SELECT i AS src, j AS dst FROM np UNION SELECT j, i FROM np),
       |reach AS (
       |  SELECT src AS id, src AS r FROM edges
       |  UNION
       |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
       |comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
       |q AS (
       |  ${TextAnalysis.oracleTextStats.replace("\n", "\n  ")}),
       |ranked AS (
       |  SELECT c.id, row_number() OVER (
       |    PARTITION BY c.component ORDER BY s.quality DESC, c.id) AS rn
       |  FROM comp c JOIN q s ON s.doc_id = c.id),
       |dropped AS (SELECT id FROM ranked WHERE rn > 1)
       |SELECT d.doc_id, d.lang, d.n_chars
       |FROM documents d ANTI JOIN dropped ON d.doc_id = dropped.id
       |ORDER BY d.doc_id""".stripMargin
  ) { (s, dir) =>
    bestSurvivors(graft.Tables.documents(s, dir),
      Dedup.minhashPairs(s, dir).select(col("i"), col("j")))
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Generic quality-aware dedup over (doc_id, text, …) docs and an
    * (i, j) near-dup pair frame: all columns pass through; exactly one
    * doc per near-dup component survives — the max-(quality, −doc_id)
    * member, scored by [[TextAnalysis.statsOf]]'s composite. */
  private[graft] def bestSurvivors(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val comps = connectedComponents(pairs)
    // quality is consumed through an INNER join with comps below, so
    // only component members' scores survive — pre-restricting the
    // stats pass with a semi-join on the (checkpointed, duplication-
    // bounded) component ids skips the split/distinct/stopword work for
    // every non-duplicated doc (r14; result unchanged by construction)
    val quality = TextAnalysis.statsOf(
        docs.join(comps.select(col("id").as("__graft_m")),
          docs("doc_id") === col("__graft_m"), "left_semi")
          .withColumn("lang", lit("")))
      .select(col("doc_id").as("id"), col("quality"))
    // argmax by (quality, -id): quality ties fall back to the min id,
    // making the winner — and thus the output — a total-order function
    val best = comps.join(quality, "id")
      .groupBy(col("label"))
      .agg(max_by(col("id"), struct(col("quality"), negate(col("id")))).as("keep"))
    val dropped = comps.join(best, "label")
      .filter(col("id") =!= col("keep"))
      .select(col("id"))
    docs.join(dropped, docs("doc_id") === dropped("id"), "left_anti")
  }

  /** Leakage-safe train/eval split: membership is a deterministic md5
    * bucket of each doc's near-dup COMPONENT (singletons group by their
    * own id), so transitively-linked near-duplicates always land on the
    * same side — the split-contamination guard a real corpus pipeline
    * needs (an eval doc whose near-copy sits in train is a leak that
    * per-doc hashing, q65's mechanism, cannot prevent).
    *
    * Determinism: the q65 bucket formula (`graft_md5long64 % 1000`,
    * reproduced digit-for-digit in DuckDB), keyed by group id — split
    * assignment is a pure function of corpus content, stable across
    * engines, reruns, and partitionings.
    *
    * Scale: components exist only for duplicated docs → the (id, label)
    * map is duplication-bounded; the corpus takes one plain left
    * equi-join (AQE broadcasts the map when it is actually small — a
    * forced hint would OOM the driver on a heavy-dup corpus). */
  val q160LeakageSafeSplit: Q = Q.sql(
    "q160_leakage_safe_split",
    s"""WITH RECURSIVE
       |np AS (
       |  ${Dedup.oracleMinhashPairsBody.replace("\n", "\n  ")}),
       |edges AS (SELECT i AS src, j AS dst FROM np UNION SELECT j, i FROM np),
       |reach AS (
       |  SELECT src AS id, src AS r FROM edges
       |  UNION
       |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
       |comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
       |SELECT d.doc_id, coalesce(c.component, d.doc_id) AS grp,
       |  CASE WHEN CAST(concat('0x', substr(md5(CAST(
       |         coalesce(c.component, d.doc_id) AS VARCHAR)), 1, 15)) AS BIGINT)
       |       % 1000 < 800 THEN 'train' ELSE 'eval' END AS split
       |FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  ) { (s, dir) =>
    leakageSafeSplitOf(graft.Tables.documents(s, dir),
      Dedup.minhashPairs(s, dir).select(col("i"), col("j")), 800)
      .select(col("doc_id"), col("grp"), col("split"))
      .orderBy(col("doc_id"))
  }

  /** Leakage-safe K-FOLD assignment — [[q160LeakageSafeSplit]]'s
    * mechanism generalized from a binary split to cross-validation
    * folds: fold = md5(component) % k, so every member of a near-dup
    * component lands in ONE fold and no CV round ever trains on a
    * near-copy of its held-out docs. Same scale shape as q160 (the
    * (id, label) component map joins back in a plain left equi-join;
    * AQE broadcasts it when small). */
  val q192CvFolds: Q = Q.sql(
    "q192_cv_folds",
    s"""WITH RECURSIVE
       |np AS (
       |  ${Dedup.oracleMinhashPairsBody.replace("\n", "\n  ")}),
       |edges AS (SELECT i AS src, j AS dst FROM np UNION SELECT j, i FROM np),
       |reach AS (
       |  SELECT src AS id, src AS r FROM edges
       |  UNION
       |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
       |comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
       |SELECT d.doc_id, coalesce(c.component, d.doc_id) AS grp,
       |  CAST(CAST(concat('0x', substr(md5(CAST(
       |         coalesce(c.component, d.doc_id) AS VARCHAR)), 1, 15)) AS BIGINT)
       |       % 5 AS BIGINT) AS fold
       |FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  ) { (s, dir) =>
    cvFoldsOf(graft.Tables.documents(s, dir),
      Dedup.minhashPairs(s, dir).select(col("i"), col("j")), 5)
      .select(col("doc_id"), col("grp"), col("fold"))
      .orderBy(col("doc_id"))
  }

  /** Generic form: all doc columns pass through plus (grp, fold ∈
    * [0, k)). Fold sizes are ≈ |groups|/k each (md5-uniform over
    * GROUPS, so a big near-dup component weights its whole size into
    * one fold — the price of leakage coherence). */
  private[graft] def cvFoldsOf(docs: DataFrame, pairs: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val comps = connectedComponents(pairs)
      .select(col("id").as("__graft_cc_id"), col("label").as("__graft_cc_label"))
    docs.join(comps, docs("doc_id") === col("__graft_cc_id"), "left")
      .withColumn("grp", coalesce(col("__graft_cc_label"), docs("doc_id")))
      .withColumn("fold",
        call_function("graft_md5long64", col("grp").cast("string")) % k)
      .drop("__graft_cc_id", "__graft_cc_label")
  }

  /** Generic form over (doc_id, …) docs and an (i, j) near-dup pair
    * frame: all doc columns pass through plus (grp, split), train share
    * ≈ `trainPermille`/1000 of GROUPS. */
  private[graft] def leakageSafeSplitOf(docs: DataFrame, pairs: DataFrame,
                                        trainPermille: Int): DataFrame = {
    require(trainPermille >= 0 && trainPermille <= 1000,
      s"trainPermille must be in [0, 1000], got $trainPermille")
    // collision-proof internal names (__graft_ convention): a caller
    // frame that already carries "id" or "label" must pass through
    // untouched, not get silently dropped or turn the join ambiguous
    val comps = connectedComponents(pairs)
      .select(col("id").as("__graft_cc_id"), col("label").as("__graft_cc_label"))
    docs.join(comps, docs("doc_id") === col("__graft_cc_id"), "left")
      .withColumn("grp", coalesce(col("__graft_cc_label"), docs("doc_id")))
      .withColumn("split",
        when(call_function("graft_md5long64", col("grp").cast("string")) % 1000
          < trainPermille, "train").otherwise("eval"))
      .drop("__graft_cc_id", "__graft_cc_label")
  }

  /** Degree-orient an (i, j) edge frame: (src, dst, ddeg) rows with src
    * before dst in (degree, id) order, ddeg = dst's degree (carried so
    * downstream joins can compare ranks without re-joining degrees). */
  private def orientEdges(edges: DataFrame): DataFrame = {
    val e = edges.select(col("i"), col("j"))
    val deg = e.select(col("i").as("n")).union(e.select(col("j").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    val tagged = e
      .join(deg.select(col("n").as("i"), col("deg").as("di")), "i")
      .join(deg.select(col("n").as("j"), col("deg").as("dj")), "j")
    val iLower = col("di") < col("dj") ||
      (col("di") === col("dj") && col("i") < col("j"))
    tagged.select(
      when(iLower, col("i")).otherwise(col("j")).as("src"),
      when(iLower, col("j")).otherwise(col("i")).as("dst"),
      when(iLower, col("dj")).otherwise(col("di")).as("ddeg"))
  }

  /** Wedge join over an already-oriented (src, dst, ddeg) frame. */
  private def wedgesOf(oriented: DataFrame): DataFrame =
    oriented.as("e1")
      .join(oriented.as("e2"),
        col("e2.src") === col("e1.src") &&
          (col("e2.ddeg") > col("e1.ddeg") ||
            (col("e2.ddeg") === col("e1.ddeg") && col("e2.dst") > col("e1.dst"))))
      .select(col("e1.src").as("u"), col("e1.dst").as("v"), col("e2.dst").as("w"))

  /** Out-wedges (u, v, w) of the degree-oriented edge frame: v and w
    * are out-neighbors of u with v preceding w in (degree, id) order.
    * Factored out so specs can assert the wedge bound directly. */
  private[graft] def orientedWedges(edges: DataFrame): DataFrame =
    wedgesOf(orientEdges(edges))

  /** (a, b, c) triangles (a < b < c) of an (i, j) edge frame with
    * distinct i < j rows; each triangle emitted exactly once. Exposed
    * for the facade and [[q145Triangles]]. */
  private[graft] def triangles(edges: DataFrame): DataFrame = {
    // checkpoint the (possibly expensive) upstream pair pipeline ONCE:
    // orientEdges alone references the edge frame three times (degree
    // aggregate + the two tag joins), so an un-materialized minhash
    // pair pipeline would replay end-to-end per reference
    // trianglesOfPinned pins its oriented frame — the only ancestor
    // its result references — so e's blocks are dead when it returns
    Barrier.scoped(scope => trianglesOfPinned(scope.pin(edges.select(col("i"), col("j")))))
  }

  /** [[triangles]] body over an ALREADY-pinned edge frame — callers
    * that fan the same edges into other consumers (the
    * clustering-coefficient degree pass) pin once and share. */
  private def trianglesOfPinned(edges: DataFrame): DataFrame = {
    // the oriented frame is referenced three times below (same
    // discipline as [[connectedComponents]])
    val oriented = Barrier.pin(orientEdges(edges))
    // the closing edge of a wedge (u→v, u→w), if present, is oriented
    // v→w by the same (degree, id) order, so a semi-join closes it;
    // sort_array restores id order for the (a, b, c) output contract
    wedgesOf(oriented)
      .join(oriented.as("e3"),
        col("e3.src") === col("v") && col("e3.dst") === col("w"), "left_semi")
      .select(sort_array(array(col("u"), col("v"), col("w"))).as("t"))
      .select(col("t")(0).as("a"), col("t")(1).as("b"), col("t")(2).as("c"))
  }

  /** Fixed-point PageRank (Page et al. 1999) on an arbitrary directed
    * (src, dst) edge frame — authority scoring for graph-shaped corpus
    * metadata (link graphs, citation graphs, the trade network below).
    * No analog in the reference; standard web-corpus curation signal
    * (link-authority quality weighting).
    *
    * Determinism contract: ranks are integer micro-units (node starts at
    * 1,000,000), each edge contributes `rank div outdeg`, and the damped
    * update is `150000 + (sum * 85) div 100` — all in exact int64, so
    * the result is independent of partitioning and summation order and
    * replays bit-identically in the DuckDB oracle (the float PageRank a
    * naive port would write drifts across partition counts). Truncating
    * div loses < 1 micro-unit per edge — invisible at rank grain,
    * priceless for cross-engine equality.
    *
    * Scale (100 TB graph): per iteration, contributions are one
    * edge-grain join on `src` (edges co-partitioned with ranks and
    * out-degrees on the same key — one exchange each, reused across
    * iterations) followed by one map-side-combinable aggregation at
    * `dst` grain; rank state is one (node, rank) row per node. Hot
    * sinks (a node with huge in-degree) skew only the dst aggregation,
    * which partial aggregation absorbs. Iterations are a driver loop
    * with scalar-only driver state; each round is a [[Barrier]]
    * (lineage stays linear; the session conf can make it
    * executor-loss-safe, same as the CC loop). Dangling nodes (outdeg 0)
    * absorb rank without redistribution — the standard simplification;
    * document-ranking use cases only compare relative authority. */
  private[graft] def pageRankInt(edges: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1, s"pageRankInt needs iters >= 1, got $iters")
    // the edge frame and the node invariant die with the loop: only the
    // final ranks (their own barrier) are returned
    Barrier.scoped { scope =>
      // evaluate the (possibly expensive) upstream edge pipeline ONCE —
      // it is referenced in every iteration. `outdeg` rides ON the edge
      // row (r14): it is a loop invariant the old shape re-aggregated and
      // re-joined EVERY iteration; a window count inside the same single
      // checkpoint action removes one join + one aggregation per
      // iteration outright (§2.4), for zero extra actions.
      val e = scope.pin(
        edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
          .distinct()
          .withColumn("outdeg", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("src")))))
      // the node set is a loop invariant too (seed + every round's left
      // join) — checkpoint it once (r14) instead of re-shuffling the full
      // edge set into a distinct per iteration; node-grain, the same state
      // size as the rank table itself
      val nodes = scope.pin(e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
      var ranks = nodes.select(col("node"), lit(1000000L).as("rank"))
      for (_ <- 1 to iters) {
        val contrib = e
          .join(ranks.select(col("node").as("src"), col("rank")), "src")
          .select(col("dst").as("node"), expr("rank div outdeg").as("c"))
        val in = contrib.groupBy(col("node")).agg(sum(col("c")).as("in_rank"))
        val next = Barrier.pin(
          nodes.join(in, Seq("node"), "left")
            .select(col("node"),
              (lit(150000L) + expr("coalesce(in_rank, 0L) * 85 div 100")).as("rank")))
        // `next` is materialized: the superseded iteration's blocks are
        // dead (the seed ranks are a projection of `nodes`, which release
        // leaves to the scope)
        Barrier.release(ranks)
        ranks = next
      }
      ranks
    }
  }

  /** The q175 trade network: nation-level directed edges "a customer in
    * nation `src` bought from a supplier in nation `dst`", distinct,
    * self-trade excluded. The edge derivation is the distributed-heavy
    * part (lineitem ⋈ orders ⋈ customer ⋈ supplier), the rank loop then
    * runs at nation grain. */
  private def tradeEdges(s: SparkSession, dir: String): DataFrame =
    graft.Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"))
      .join(graft.Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(graft.Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(graft.Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .filter(col("src") =!= col("dst"))

  private def oraclePageRankIter(prev: String, cur: String): String =
    s"""$cur AS (
       |  SELECT n.node,
       |    CAST(150000 + COALESCE(SUM(c.c), 0) * 85 // 100 AS BIGINT) AS rank
       |  FROM nodes n LEFT JOIN (
       |    SELECT e.dst AS node, rp.rank // od.odeg AS c
       |    FROM e
       |    JOIN $prev rp ON rp.node = e.src
       |    JOIN outdeg od ON od.src = e.src) c ON c.node = n.node
       |  GROUP BY n.node)""".stripMargin

  val q175PageRank: Q = Q.sql(
    "q175_pagerank",
    s"""WITH e AS (
       |  SELECT DISTINCT CAST(c.c_nationkey AS BIGINT) AS src,
       |                  CAST(s.s_nationkey AS BIGINT) AS dst
       |  FROM lineitem l
       |  JOIN orders o ON o.o_orderkey = l.l_orderkey
       |  JOIN customer c ON c.c_custkey = o.o_custkey
       |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
       |  WHERE c.c_nationkey != s.s_nationkey),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |outdeg AS (SELECT src, COUNT(*) AS odeg FROM e GROUP BY src),
       |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
       |${oraclePageRankIter("r0", "r1")},
       |${oraclePageRankIter("r1", "r2")},
       |${oraclePageRankIter("r2", "r3")}
       |SELECT node, rank FROM r3 ORDER BY node""".stripMargin
  ) { (s, dir) =>
    pageRankInt(tradeEdges(s, dir), iters = 3).orderBy(col("node"))
  }

  /** Triangle enumeration over the near-dup pair graph — the standard
    * distributed graph primitive beyond connected components (clustering
    * coefficients, community seeds, dedup-cluster density audits).
    *
    * Edges are oriented low→high by TOTAL DEGREE ORDER (degree, then
    * id): every triangle then has exactly one node with two out-edges,
    * so each triangle is one out-wedge closed by one oriented edge — no
    * orientation dedup pass, and wedge volume is Σ out-deg² ≤ O(m^1.5)
    * (each out-degree is O(√m)) instead of the Σ deg² of a naive id
    * orientation, which a single hot node (degree d → d² wedge rows)
    * blows up on power-law graphs. The degree pass is one aggregate
    * over the symmetrized endpoints plus two equi-joins to tag the
    * edge ends — linear, and cheap next to the wedge join it bounds. */
  val q145Triangles: Q = Q.sql(
    "q145_triangles",
    s"""WITH np AS (
       |  ${Dedup.oracleMinhashPairsBody.replace("\n", "\n  ")})
       |SELECT e1.i AS a, e1.j AS b, e2.j AS c
       |FROM np e1
       |JOIN np e2 ON e2.i = e1.j
       |JOIN np e3 ON e3.i = e1.i AND e3.j = e2.j
       |ORDER BY a, b, c""".stripMargin
  ) { (s, dir) =>
    triangles(Dedup.minhashPairs(s, dir).select(col("i"), col("j")))
      .orderBy(col("a"), col("b"), col("c"))
  }

  /** Local clustering coefficient per node of an undirected (i, j)
    * edge frame (i < j per row): (node, deg, tri, coeff) with coeff =
    * 2·tri / (deg·(deg−1)) — how tightly a node's neighborhood closes,
    * the cluster-density audit that tells a hub (many open wedges, low
    * coeff) from a clique member (coeff → 1) in near-dup graphs.
    *
    * Scale: triangles come from [[triangles]] (degree-oriented, wedge
    * volume O(m·√m)-bounded); everything after is node-grain — one
    * explode of the triangle list and one degree aggregation, joined at
    * node grain. The division is exact-int/exact-int rounded to 9 dp —
    * deterministic cross-engine. */
  private[graft] def clusteringCoeffOf(edges: DataFrame): DataFrame = {
    // one checkpoint of the pair pipeline feeds BOTH the degree pass
    // (two references) and the triangle machinery (three more) — five
    // replays of an expensive candidate join otherwise
    val e = Barrier.pin(edges.select(col("i"), col("j")))
    val deg = e.select(col("i").as("node"))
      .unionAll(e.select(col("j").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val tri = trianglesOfPinned(e)
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("tri"))
    deg.join(tri, Seq("node"), "left")
      .select(col("node"), col("deg"), coalesce(col("tri"), lit(0L)).as("tri"))
      .withColumn("coeff",
        when(col("deg") >= 2,
          round(lit(2.0) * col("tri") / (col("deg") * (col("deg") - 1)), 9))
          .otherwise(lit(0.0)))
  }

  /** Clustering coefficients over the MinHash near-dup pair graph —
    * q145's triangle machinery extended to the per-node density
    * report. */
  val q186ClusteringCoeff: Q = Q.sql(
    "q186_clustering_coeff",
    s"""WITH np AS (
       |  ${Dedup.oracleMinhashPairsBody.replace("\n", "\n  ")}),
       |deg AS (
       |  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
       |    SELECT i AS node FROM np UNION ALL SELECT j FROM np)
       |  GROUP BY node),
       |tris AS (
       |  SELECT e1.i AS a, e1.j AS b, e2.j AS c
       |  FROM np e1
       |  JOIN np e2 ON e2.i = e1.j
       |  JOIN np e3 ON e3.i = e1.i AND e3.j = e2.j),
       |tcnt AS (
       |  SELECT node, CAST(count(*) AS BIGINT) AS tri FROM (
       |    SELECT a AS node FROM tris UNION ALL SELECT b FROM tris
       |    UNION ALL SELECT c FROM tris)
       |  GROUP BY node)
       |SELECT d.node, d.deg, CAST(coalesce(t.tri, 0) AS BIGINT) AS tri,
       |  CASE WHEN d.deg >= 2
       |       THEN round(2e0 * coalesce(t.tri, 0) / (d.deg * (d.deg - 1)), 9)
       |       ELSE 0e0 END AS coeff
       |FROM deg d LEFT JOIN tcnt t ON t.node = d.node
       |ORDER BY d.node""".stripMargin
  ) { (s, dir) =>
    clusteringCoeffOf(Dedup.minhashPairs(s, dir).select(col("i"), col("j")))
      .orderBy(col("node"))
  }

  val all: Seq[Q] = Seq(q72DedupComponents, q73DedupSurvivors, q145Triangles,
    q158BestSurvivors, q160LeakageSafeSplit, q175PageRank, q186ClusteringCoeff,
    q192CvFolds, q208ComponentRefresh, q217IncrementalIngest, q218ComponentRetire)
}
