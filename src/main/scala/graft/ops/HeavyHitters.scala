package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.functions.MisraGries

/** Exact top-k heavy hitters at sketch cost — the two-pass pattern:
  * a Misra-Gries sketch pass surfaces ≤ width candidates (shuffle =
  * width rows per partition, NOT one row per distinct term), then an
  * exact recount touches only the candidates. Output is EXACT top-k —
  * provably, whenever the k-th count exceeds N/(width+1), the sketch's
  * capture bound — computed without ever hash-aggregating the full term
  * domain. The frequent-terms primitive for vocab building / stopword
  * discovery over a 100 TB corpus whose term domain is billions wide.
  */
object HeavyHitters {

  /** (term, cnt, rk) for the exact top-k terms of `terms` (a one-column
    * frame of strings), via sketch-then-recount. Valid (= exact) when
    * cnt_k > N/(width+1); callers size `width` from the expected skew. */
  def topTerms(terms: DataFrame, k: Int, width: Int = 64): DataFrame = {
    val termCol = terms.columns.head
    val sketch = terms.agg(MisraGries.udaf(width)(col(termCol)).as("mg"))
    val cands = sketch.select(explode(map_keys(col("mg"))).as(termCol))
    // exact recount restricted to candidates: broadcast the ≤width-row
    // candidate set, one map-side-combined count over the filtered stream
    val counts = terms
      .join(broadcast(cands), termCol)
      .groupBy(col(termCol)).agg(count(lit(1)).as("cnt"))
    // global rank over a ≤width-row frame — the single-partition window
    // is candidates-sized by construction, never corpus-sized
    counts
      .withColumn("rk", row_number().over(Window.orderBy(col("cnt").desc, col(termCol))))
      .filter(col("rk") <= k)
      .orderBy(col("rk"))
  }

  /** Top-10 corpus terms. This synthetic corpus's 31-word vocabulary all
    * fits in width=64 (the sketch never decrements), so the oracle can
    * demand exact equality with a full GROUP BY; MisraGriesSpec drives
    * the decrement/merge paths the fixture can't reach. */
  val q90HeavyHitters: Q = Q.sql(
    "q90_heavy_hitters",
    """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
      |c AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term),
      |r AS (SELECT term, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS rk FROM c)
      |SELECT term, cnt, rk FROM r WHERE rk <= 10
      |ORDER BY rk""".stripMargin
  ) { (s, dir) =>
    topTerms(
      Tables.documents(s, dir).select(explode(split(col("text"), " ")).as("term")),
      k = 10)
  }

  /** Per-language approximate distinct token count via the
    * [[graft.functions.HllDistinct]] sketch — COUNT(DISTINCT) at 4 KB of
    * state per group instead of a shuffle of the full token domain. The
    * vocabulary-size profile a tokenizer-prep pass runs per language /
    * per source on a corpus whose distinct-term space is billions wide.
    *
    * Oracle-paired since r13 on the ESTIMATE'S ENVELOPE (the q63
    * discipline): the sketch value itself has no SQL twin, but its error
    * contract does — the published row is (lang, exact_terms, approx_ok)
    * where approx_ok asserts |est − exact|·10 ≤ exact (a ≤10% envelope,
    * ~6σ of the 1.04/√4096 ≈ 1.6% rsd). The estimate is a pure function
    * of the term SET (seeded md5 → register-max), so the boolean is
    * deterministic and partition-invariant; a sketch drifting past its
    * envelope flips it and hash-fails the gate. The oracle computes the
    * exact distinct and emits literal TRUE. HllSpec keeps the tighter 5%
    * numeric bound via the [[approxDistinct]] facade — the production
    * form, which never pays the exact COUNT(DISTINCT) the gate query
    * runs beside the sketch. */
  val q182HllDistinct: Q = Q.sql(
    "q182_hll_distinct",
    """WITH toks AS (SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents)
      |SELECT lang, CAST(COUNT(DISTINCT term) AS BIGINT) AS exact_terms,
      |  TRUE AS approx_ok
      |FROM toks GROUP BY lang ORDER BY lang""".stripMargin
  ) { (s, dir) =>
    val toks = Tables.documents(s, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("term"))
    toks.groupBy(col("lang"))
      .agg(
        countDistinct(col("term")).as("exact_terms"),
        graft.functions.HllDistinct.udaf(
          call_function("graft_md5long64", col("term").cast("string"))).as("est_terms"))
      .select(col("lang"), col("exact_terms"),
        (abs(col("est_terms") - col("exact_terms")) * lit(10L) <= col("exact_terms"))
          .as("approx_ok"))
      .orderBy(col("lang"))
  }

  /** Generic form: (groupCol, est_distinct) — the HLL estimate of
    * distinct `value` per group. Null values are excluded (the
    * COUNT(DISTINCT) convention — and a null hash must never reach the
    * Long-typed aggregator). Shuffle = one 4 KB sketch per group after
    * map-side partial aggregation, independent of cardinality. */
  def approxDistinct(df: DataFrame, group: org.apache.spark.sql.Column,
                     value: org.apache.spark.sql.Column): DataFrame =
    df.filter(value.isNotNull)
      .groupBy(group)
      .agg(graft.functions.HllDistinct.udaf(
        call_function("graft_md5long64", value.cast("string"))).as("est_distinct"))

  /** Sketch-STATE distinct counting — the materialized-view form of
    * q182: per-(lang, source) 4 KB register sketches are built once
    * (the stored state a daily pipeline persists per partition), then
    * UNIONED per lang into estimates without ever rescanning base
    * data. Register-max union is associative/commutative/idempotent,
    * so the merged estimate is IDENTICAL to q182's direct pass — not
    * approximately: the same sketch, byte for byte. The mergeAggState
    * (q112) discipline extended from algebraic COUNT/SUM to sketches.
    *
    * Oracle-paired since r13 on TWO booleans beside the exact count:
    * `merge_exact_ok` asserts the structural identity merged == direct
    * (an EXACT long equality — the property the stored-state form
    * exists for), and `approx_ok` asserts q182's ≤10% envelope on the
    * merged estimate. The oracle computes the exact per-lang distinct
    * and emits literal TRUE twice: a merge that drifts from the direct
    * pass, or an estimate outside its envelope, hash-fails the gate.
    * HllSpec keeps the byte-level sketch-equality and facade laws. */
  val q193HllStateMerge: Q = Q.sql(
    "q193_hll_state_merge",
    """WITH toks AS (SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents)
      |SELECT lang, CAST(COUNT(DISTINCT term) AS BIGINT) AS exact_terms,
      |  TRUE AS merge_exact_ok, TRUE AS approx_ok
      |FROM toks GROUP BY lang ORDER BY lang""".stripMargin
  ) { (s, dir) =>
    val toks = Tables.documents(s, dir)
      .select(col("lang"), col("source"), explode(split(col("text"), " ")).as("term"))
    val state = toks.groupBy(col("lang"), col("source"))
      .agg(graft.functions.HllDistinct.sketchUdaf(
        call_function("graft_md5long64", col("term").cast("string"))).as("sk"))
    val merged = mergeDistinctSketches(state, col("lang"), col("sk"))
      .withColumnRenamed("est_distinct", "est_merged")
    val direct = approxDistinct(toks, col("lang"), col("term"))
      .withColumnRenamed("est_distinct", "est_direct")
    val exact = toks.groupBy(col("lang"))
      .agg(countDistinct(col("term")).as("exact_terms"))
    merged.join(direct, Seq("lang")).join(exact, Seq("lang"))
      .select(col("lang"), col("exact_terms"),
        (col("est_merged") === col("est_direct")).as("merge_exact_ok"),
        (abs(col("est_merged") - col("exact_terms")) * lit(10L) <= col("exact_terms"))
          .as("approx_ok"))
      .orderBy(col("lang"))
  }

  /** Stored-sketch builder: (group…, sketch) — persist this as state. */
  def distinctSketch(df: DataFrame, group: org.apache.spark.sql.Column,
                     value: org.apache.spark.sql.Column): DataFrame =
    df.filter(value.isNotNull)
      .groupBy(group)
      .agg(graft.functions.HllDistinct.sketchUdaf(
        call_function("graft_md5long64", value.cast("string"))).as("sketch"))

  /** Union stored sketches to estimates: (group, est_distinct). */
  def mergeDistinctSketches(state: DataFrame, group: org.apache.spark.sql.Column,
                            sketch: org.apache.spark.sql.Column): DataFrame =
    state.groupBy(group)
      .agg(graft.functions.HllDistinct.unionUdaf(sketch).as("est_distinct"))

  /** Incremental sketch-STATE maintenance — the q207/q208/q209/q211
    * refresh discipline applied to stored [[distinctSketch]] state:
    * sketch the DELTA rows only (work ∝ |delta|), then register-max
    * union with the standing state at state grain (|groups| rows).
    * Because register-max is associative/commutative/idempotent, the
    * refreshed state is BYTE-IDENTICAL to a from-scratch rebuild over
    * base ∪ delta — re-observing a value the state already holds moves
    * nothing (HllSpec asserts refreshed == rebuilt, bytes and
    * estimates). Groups first seen in the delta enter with the delta
    * sketch alone; standing groups absent from the delta pass through
    * untouched (full-outer at state grain).
    *
    * HLL registers only grow: DELETIONS CANNOT BE SUBTRACTED (unlike
    * q211's exact int64 sufficient statistics) — a shrinking corpus
    * needs a rebuild from the surviving rows. That is the standard
    * sketch contract, stated here rather than hidden. */
  def refreshDistinctSketch(state: DataFrame, delta: DataFrame,
                            group: org.apache.spark.sql.Column,
                            value: org.apache.spark.sql.Column): DataFrame = {
    val deltaState = distinctSketch(delta, group.as("g"), value)
    state.select(group.as("g"), col("sketch"))
      .unionByName(deltaState)
      .groupBy(col("g"))
      .agg(graft.functions.HllDistinct.unionSketchUdaf(col("sketch")).as("sketch"))
  }

  /** Pairwise overlap-ESTIMATE matrix between groups, from per-group
    * HLL sketches only — the no-pair-join form of cross-group
    * duplication measurement. q204 answers "how much do sources share?"
    * exactly, but at pair-join cost: its input is the verified near-dup
    * pair graph. At 100 TB a curation pass often wants the overlap
    * picture FIRST, to decide which source pairs are worth an exact
    * pass — this gives it in one linear scan: one 4 KB register sketch
    * per group (map-side combined, shuffle = |groups| rows), then all
    * pairwise statistics from the sketches alone via inclusion–
    * exclusion: |A∩B| ≈ est(A) + est(B) − est(A∪B), with est(A∪B) from
    * the register-max union ([[graft.functions.HllUnion]] — the union
    * sketch of A and B is byte-identical to a direct pass over A∪B, so
    * the union estimate carries NO extra approximation; only the ±1.6%
    * per-term HLL error enters, ≤ ~5% of the union after the 3-term
    * sum). The pair grain is |groups|² sketch rows — constant, never
    * corpus — so the non-equi self-join below is a deliberate
    * BroadcastNestedLoopJoin (RegistrySpec whitelists it).
    *
    * Output per unordered group pair: (group_a, group_b, est_a, est_b,
    * est_union, est_inter, jaccard_est, overlap_est) where overlap_est
    * = est_inter / min(est_a, est_b) (the containment-style overlap
    * coefficient). Estimates are pure functions of the input SETS
    * (seeded md5 hashing, register-max merges) — partition-invariant,
    * but sketch-approximate ⇒ no SQL oracle; HllSpec pins the error
    * bound against an exact intersection pass and the union-dominance
    * monotonicity. */
  def sketchOverlap(df: DataFrame, group: org.apache.spark.sql.Column,
                    value: org.apache.spark.sql.Column): DataFrame = {
    val state = distinctSketch(df, group.as("g"), value)
    val ests = mergeDistinctSketches(state, col("g"), col("sketch"))
    val enriched = state.join(ests, Seq("g"))
    val pairs = enriched
      .select(col("g").as("group_a"), col("sketch").as("sk_a"),
        col("est_distinct").as("est_a"))
      .join(enriched.select(col("g").as("group_b"), col("sketch").as("sk_b"),
        col("est_distinct").as("est_b")), col("group_a") < col("group_b"))
    pairs
      .select(col("group_a"), col("group_b"), col("est_a"), col("est_b"),
        explode(array(col("sk_a"), col("sk_b"))).as("sk"))
      .groupBy(col("group_a"), col("group_b"), col("est_a"), col("est_b"))
      .agg(graft.functions.HllDistinct.unionUdaf(col("sk")).as("est_union"))
      .select(col("group_a"), col("group_b"), col("est_a"), col("est_b"),
        col("est_union"),
        greatest(col("est_a") + col("est_b") - col("est_union"), lit(0L))
          .as("est_inter"),
        (greatest(col("est_a") + col("est_b") - col("est_union"), lit(0L))
          .cast("double") / col("est_union")).as("jaccard_est"),
        (greatest(col("est_a") + col("est_b") - col("est_union"), lit(0L))
          .cast("double") / least(col("est_a"), col("est_b")))
          .as("overlap_est"))
  }

  /** q214: the sketch-overlap matrix over per-source distinct 5-gram
    * shingle sets — the linear-cost screening pass in front of q204's
    * exact pair-graph matrix (shingle hashes shared with the dedup
    * family, so the sketched sets are EXACTLY the sets the exact pass
    * would intersect).
    *
    * Oracle-paired since r13 (the q63/q182 envelope discipline, per
    * PAIR): the gate query runs the exact set algebra BESIDE the sketch
    * matrix — per-source set sizes and the pair intersection via one
    * self-join on the shingle hash — and publishes the exact integers
    * plus three booleans the oracle emits as literal TRUE:
    *  - `union_ok`:  |est_union − exact_union|·10 ≤ exact_union (≤10%,
    *    ~6σ of the single-sketch 1.6% rsd);
    *  - `inter_ok`:  |est_inter − exact_inter|·10 ≤ exact_union — the
    *    inclusion–exclusion estimate sums three ±1.6%-of-their-own-
    *    magnitude terms, so its ABSOLUTE error is bounded by a few
    *    percent of the UNION (a relative-to-inter bound would be
    *    meaningless for near-disjoint pairs);
    *  - `mono_ok`:   est_union ≥ max(est_a, est_b) — register-max union
    *    dominance, an exact structural property.
    * All estimates are pure functions of the input sets, so every
    * boolean is deterministic and partition-invariant. The production
    * facade [[sketchOverlap]] never pays the exact self-join the gate
    * runs beside it; HllSpec keeps the numeric error-bound assertions
    * against the facade. */
  val q214SketchOverlap: Q = Q.sql(
    "q214_sketch_overlap",
    s"""WITH ${Dedup.oracleDocs},
       |${Dedup.oracleHashed},
       |sets AS (
       |  SELECT DISTINCT d.source AS source, unnest(h.hs) AS h
       |  FROM hashed h JOIN documents d USING (doc_id)),
       |sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM sets GROUP BY source),
       |inter AS (
       |  SELECT x.source AS source_a, y.source AS source_b,
       |    CAST(COUNT(*) AS BIGINT) AS exact_inter
       |  FROM sets x JOIN sets y ON x.h = y.h AND x.source < y.source
       |  GROUP BY 1, 2)
       |SELECT a.source AS source_a, b.source AS source_b,
       |  a.n AS exact_a, b.n AS exact_b,
       |  a.n + b.n - COALESCE(i.exact_inter, CAST(0 AS BIGINT)) AS exact_union,
       |  COALESCE(i.exact_inter, CAST(0 AS BIGINT)) AS exact_inter,
       |  TRUE AS union_ok, TRUE AS inter_ok, TRUE AS mono_ok
       |FROM sz a JOIN sz b ON a.source < b.source
       |LEFT JOIN inter i ON i.source_a = a.source AND i.source_b = b.source
       |ORDER BY source_a, source_b""".stripMargin
  ) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    // checkpoint the (source, h) shingle stream ONCE (r14): it fans into
    // the sketch matrix (per-group + pairwise HLL aggregations) AND the
    // exact replay (sizes + the intersection self-join) — each consumer
    // re-shingled the corpus from parquet otherwise (16 static scans)
    val shingles = Barrier.pin(
      Dedup.hashedShinglesOf(docs)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .select(col("source"), explode(col("hs")).as("h")))
    val est = sketchOverlap(shingles, col("source"), col("h"))
      .withColumnsRenamed(Map("group_a" -> "source_a", "group_b" -> "source_b"))
    // exact replay: per-doc shingle lists are distinct already, but the
    // same shingle recurs ACROSS docs — distinct per (source, h) first
    val sets = shingles.distinct()
    val sizes = sets.groupBy(col("source")).agg(count(lit(1)).as("exact_n"))
    val inter = sets.select(col("source").as("source_a"), col("h"))
      .join(sets.select(col("source").as("source_b"), col("h")), Seq("h"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("exact_inter"))
    est
      .join(sizes.select(col("source").as("source_a"), col("exact_n").as("exact_a")),
        Seq("source_a"))
      .join(sizes.select(col("source").as("source_b"), col("exact_n").as("exact_b")),
        Seq("source_b"))
      .join(inter, Seq("source_a", "source_b"), "left")
      .na.fill(0L, Seq("exact_inter"))
      .withColumn("exact_union", col("exact_a") + col("exact_b") - col("exact_inter"))
      .select(col("source_a"), col("source_b"),
        col("exact_a"), col("exact_b"), col("exact_union"), col("exact_inter"),
        (abs(col("est_union") - col("exact_union")) * lit(10L) <= col("exact_union"))
          .as("union_ok"),
        (abs(col("est_inter") - col("exact_inter")) * lit(10L) <= col("exact_union"))
          .as("inter_ok"),
        (col("est_union") >= greatest(col("est_a"), col("est_b"))).as("mono_ok"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Default Count-Min row width: 4 × 4096 longs = 128 KB of state,
    * per-probe overshoot ≤ e·N/4096 with probability ≥ 1 − e⁻⁴. */
  val DefaultCmsWidth = 4096

  /** Point-frequency estimates for a bounded `probes` set against one
    * linear pass over `values` — the sketch that answers "how often
    * does THIS key occur?" for keys [[topTerms]]' Misra-Gries width
    * can't hold. One [[graft.functions.CountMin]] state (4·width longs,
    * constant) aggregates map-side; probes cross-join the 1-row state
    * (broadcast, deliberate BNLJ) and read their 4 cells row-local.
    * est_freq ≥ the true count ALWAYS; overshoot ≤ e·N/width w.h.p.
    * State updates/merges are element-wise long sums — exactly
    * associative/commutative, so the state (and every estimate) is a
    * pure function of the input multiset (CmsSpec gates bytes under
    * repartitioning; deletions subtract exactly, the q211 property,
    * unlike HLL's grow-only registers). */
  def cmsFrequencies(values: DataFrame, value: org.apache.spark.sql.Column,
                     probes: DataFrame, probe: org.apache.spark.sql.Column,
                     width: Int = DefaultCmsWidth): DataFrame = {
    val state = values.filter(value.isNotNull)
      .agg(graft.functions.CountMin.udaf(width)(
        Hashes.hexLong(value.cast("string"))).as("__graft_cms"))
    probes.crossJoin(broadcast(state))
      .withColumn("est_freq", graft.functions.CountMin.estimateCol(
        col("__graft_cms"), Hashes.hexLong(probe.cast("string")), width))
      .drop("__graft_cms")
  }

  /** q215 oracle-paired (r12): the CMS's positions are PURE md5-derived
    * integer arithmetic (per-row xor seed → mod-p universal hash → mod
    * width, [[graft.functions.CountMin.position]]), so DuckDB can
    * replay the ENTIRE sketch — every cell's count is the exact integer
    * sum of the term counts hashing to it, and the estimate is the MIN
    * over the four rows' cells. The oracle derives the same (i, pos)
    * cell grid from the vocabulary (term counts × 4 seed rows),
    * aggregates cell sums, ranks the exact top-10, and reads each
    * probe's four cells — a drifted seed constant, a floorMod/pmod
    * mismatch, a missed occurrence, or a wrong min all break the hash.
    * (CmsSpec keeps asserting the sandwich cnt ≤ est ≤ cnt + e·N/width;
    * the oracle now pins the exact estimate, collisions included.)
    * Constants are interpolated from the engine's own md5-derived
    * arrays, so the two sides cannot drift independently. */
  val q215CmsFreq: Q = Q.sql(
    "q215_cms_freq", {
      import graft.functions.CountMin.{A, B, S, P, Depth}
      val consts = (0 until Depth)
        .map(i => s"($i, ${S(i)}, ${A(i)}, ${B(i)})").mkString(", ")
      s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
         |vh AS (
         |  SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt,
         |    CAST(concat('0x', substr(md5(term), 1, 15)) AS BIGINT) AS h
         |  FROM toks GROUP BY term),
         |consts(i, s, a, b) AS (VALUES $consts),
         |pos AS (
         |  SELECT vh.term, vh.cnt, c.i,
         |    ((((xor(vh.h, c.s)) % $P) * c.a + c.b) % $P) % $DefaultCmsWidth AS pos
         |  FROM vh, consts c),
         |cellc AS (SELECT i, pos, SUM(cnt) AS cc FROM pos GROUP BY i, pos),
         |top AS (
         |  SELECT term, cnt, rk FROM (
         |    SELECT term, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS rk FROM vh)
         |  WHERE rk <= 10),
         |probes AS (
         |  SELECT t.term, t.cnt, t.rk, p.i, p.pos
         |  FROM top t JOIN pos p ON p.term = t.term),
         |est AS (
         |  SELECT p.term, p.cnt, p.rk, CAST(MIN(cc.cc) AS BIGINT) AS est_freq
         |  FROM probes p JOIN cellc cc ON cc.i = p.i AND cc.pos = p.pos
         |  GROUP BY p.term, p.cnt, p.rk)
         |SELECT term, cnt, rk, est_freq FROM est ORDER BY rk""".stripMargin
    }
  ) { (s, dir) =>
    val terms = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("term"))
    cmsFrequencies(terms, col("term"), topTerms(terms, k = 10), col("term"))
      .orderBy(col("rk"))
  }

  val all: Seq[Q] = Seq(q90HeavyHitters, q182HllDistinct, q193HllStateMerge,
    q214SketchOverlap, q215CmsFreq)
}
