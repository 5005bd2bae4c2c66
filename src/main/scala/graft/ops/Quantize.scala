package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Embedding compression for ANN serving — symmetric per-vector int8
  * scalar quantization, the storage layout vector stores ship embeddings
  * in (4 bytes/dim → 1, recall loss ≪1% for cosine search). Extends the
  * similarity family (q27-q29, q60) with the missing storage half (no
  * analog in the reference).
  *
  * Scale: pure row-local higher-order expressions — scale, codes, and
  * audit stats are computed per vector with no shuffle and no UDF, so
  * quantizing 100 TB of embeddings is a single scan-speed map stage
  * feeding the parquet sink. All arithmetic is exact-float64 (parquet
  * float32 widens losslessly; /, * and floor(x+0.5) are IEEE-identical
  * in both engines), and the published columns are integers plus the
  * raw max-abs scale (a comparison-selected input value, no arithmetic)
  * so the oracle hash is rounding-free.
  */
object Quantize {

  /** Quantize any (vec_id, embedding: array<float|double>) frame:
    * (vec_id, v: array<double>, scale, codes: array<int>) — the full
    * int8 code vector for storage/serving; the registry query derives
    * its audit report from this. */
  private[graft] def int8Of(emb: DataFrame): DataFrame = {
    val v = transform(col("embedding"), x => x.cast("double"))
    val codes = transform(col("v"), x =>
      when(col("scale") === 0, lit(0L))
        .otherwise(floor(x / col("scale") * 127.0 + 0.5)).cast("int"))
    emb
      .select(col("vec_id"), v.as("v"))
      .select(col("vec_id"), col("v"),
        array_max(transform(col("v"), x => abs(x))).as("scale"))
      .select(col("vec_id"), col("v"), col("scale"), codes.as("codes"))
  }

  /** Per-vector report over [[int8Of]]: dimension count, quantization
    * scale (max |x|), integer checksum of the int8 codes, and
    * saturation count (|code| = 127 — the clipping audit a quantization
    * rollout watches). Zero vectors quantize to all-zero codes (scale 0
    * guard). */
  val q102QuantizeEmb: Q = Q.sql(
    "q102_quantize_emb",
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |s AS (
      |  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS scale
      |  FROM e),
      |c AS (
      |  SELECT vec_id, v, scale,
      |    list_transform(v, x -> CAST(CASE WHEN scale = 0 THEN 0
      |      ELSE floor(x / scale * 127.0 + 0.5) END AS INT)) AS codes
      |  FROM s)
      |SELECT vec_id,
      |  CAST(len(v) AS BIGINT) AS n_dims,
      |  scale,
      |  CAST(list_sum(codes) AS BIGINT) AS sum_code,
      |  CAST(len(list_filter(codes, c2 -> abs(c2) = 127)) AS BIGINT) AS n_sat
      |FROM c
      |ORDER BY vec_id""".stripMargin
  ) { (s, dir) =>
    int8Of(Tables.embeddings(s, dir))
      .select(col("vec_id"),
        size(col("v")).cast("long").as("n_dims"),
        col("scale"),
        aggregate(col("codes"), lit(0L), (a, x) => a + x).as("sum_code"),
        size(filter(col("codes"), c => abs(c) === 127)).cast("long").as("n_sat"))
      .orderBy(col("vec_id"))
  }

  // --------------------------------------------------- product quantization

  /** PQ geometry: 64-dim vectors → 8 subspaces × 8 dims, 16 centroids
    * per subspace codebook → 8 nibble codes per vector (256 raw bytes →
    * 8, a 32× compression on top of which int8 [[int8Of]] is the 4×
    * path). Published method (Jégou, Douze, Schmid 2011, "Product
    * Quantization for Nearest Neighbor Search"). */
  private[graft] val PqM = 8
  private[graft] val PqSubDim = 8
  private[graft] val PqK = 16

  private def l2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, d) => acc + d)

  /** Train per-subspace codebooks (seeded KMeans, seed 30+s like q60's
    * coarse quantizer) on a (vec_id, v: array<double>) frame. The m
    * fits iterate over an m-column projection of the corpus — at 100 TB
    * codebooks train on a sample (they need ~1e5-1e6 vectors, not the
    * corpus); encoding below is the full-corpus pass. */
  private[graft] def pqCodebooks(vectors: DataFrame): Seq[Seq[Seq[Double]]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val subs = vectors.select(
      (0 until PqM).map(i =>
        slice(col("v"), i * PqSubDim + 1, PqSubDim).as(s"sub$i")): _*)
    (0 until PqM).map { i =>
      new KMeans().setK(PqK).setSeed(30 + i)
        .setFeaturesCol("f").setPredictionCol("c")
        .fit(subs.select(array_to_vector(col(s"sub$i")).as("f")))
        .clusterCenters.map(_.toArray.toSeq).toSeq
    }
  }

  /** Encode every vector against broadcast codebooks in ONE row-local
    * pass: per subspace, the argmin-L2 centroid index. The codebook is
    * a nested literal (m × k × subDim doubles ≈ 8 KB) baked into the
    * expression — no join, no shuffle, scan-speed at any corpus size. */
  private[graft] def pqEncode(vectors: DataFrame, cbs: Seq[Seq[Seq[Double]]]): DataFrame = {
    val cbLit = typedLit(cbs)
    val codes = transform(sequence(lit(0), lit(PqM - 1)), s => {
      val sub = slice(col("v"), s * PqSubDim + 1, lit(PqSubDim))
      val dists = transform(element_at(cbLit, s + 1), c => l2(sub, c))
      array_position(dists, array_min(dists)) - 1
    })
    vectors.select(col("vec_id"), col("v"), codes.as("codes"))
  }

  /** PQ-ANN via asymmetric distance computation (q173): probes carry a
    * per-subspace distance TABLE to every centroid (m × k doubles,
    * computed once per probe); each stored vector's approximate L2 is
    * then m table lookups summed through its codes — the stored vector
    * itself is never touched. Plan shape at 100 TB: the bounded probe
    * set (with tables) broadcasts, the code table streams through a
    * deliberate broadcast nested-loop join (the q27 discipline, but
    * over 8-byte codes instead of 256-byte vectors), and IVF-style list
    * pruning (q60) composes in front when even the code scan is too
    * much. ML-dependent (seeded KMeans) → non-oracle; AnnSpec plants
    * on-centroid vectors where ADC is EXACT and asserts twin retrieval
    * and the self-distance-zero invariant. */
  private[graft] def pqTopK(vectors: DataFrame, probeMax: Long, topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cbs = pqCodebooks(vectors)
    val cbLit = typedLit(cbs)
    val encoded = pqEncode(vectors, cbs)
    val dt = transform(cbLit, (cbS, i) =>
      transform(cbS, c => l2(slice(col("qv"), i * PqSubDim + 1, lit(PqSubDim)), c)))
    val probes = vectors.filter(col("vec_id") < probeMax)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
      .select(col("query_id"), dt.as("dt"))
    val adc = aggregate(
      zip_with(col("dt"), col("codes"), (t, c) => element_at(t, (c + 1).cast("int"))),
      lit(0.0), (a, x) => a + x)
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc"), col("neighbor_id"))
    probes
      .join(encoded, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), round(adc, 9).as("adc"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
  }

  val q173PqAnn: Q = Q.heavy("q173_pq_ann") { (s, dir) =>
    val vectors = Tables.embeddings(s, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    pqTopK(vectors, probeMax = 10L, topK = 5)
      .orderBy(col("query_id"), col("rk"))
  }

  // ------------------------------------------- frozen-quantizer PQ (q230)

  /** Exact-parity squared L2 between two array<double> columns, written
    * as three [[graft.expressions.DotF64]] folds combined left-to-right:
    * a·a − 2·a·b + b·b. Unlike the zip_with square-difference fold (the
    * q173 form), every sub-expression here is a codegen'd native
    * expression AND the whole tree replays bit-identically in DuckDB
    * (same three list_reduce folds, same left-associated combination) —
    * the property the oracle pairing below rests on. */
  private[graft] def l2x(a: org.apache.spark.sql.Column,
                         b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    call_function("graft_dot_f64", a, a) -
      lit(2.0) * call_function("graft_dot_f64", a, b) +
      call_function("graft_dot_f64", b, b)

  // Lambda var deliberately NOT 'p'/'s' — they would capture CTE columns
  // in DuckDB's binder instead of the lambda argument (q219's lesson).
  private val oDot =
    "list_reduce(list_transform(list_zip(%s, %s), zz -> zz[1]*zz[2]), (x,y) -> x+y)"

  /** DuckDB twin of [[l2x]] — %s/%s are the two list expressions. */
  private val oL2 =
    "(list_reduce(list_transform(list_zip(%1$s, %1$s), zz -> zz[1]*zz[2]), (x,y) -> x+y)" +
      " - 2.0 * list_reduce(list_transform(list_zip(%1$s, %2$s), zz -> zz[1]*zz[2]), (x,y) -> x+y)" +
      " + list_reduce(list_transform(list_zip(%2$s, %2$s), zz -> zz[1]*zz[2]), (x,y) -> x+y))"

  /** FROZEN per-subspace codebooks — the q219/q226 move applied to PQ so
    * the ADC search path can be oracle-replayed end to end (q173 itself
    * stays the KMeans-trained variant, recall-gated by AnnSpec). The
    * quantizer is deterministic and exact in both engines: centroid
    * (s, b) = the fixed-point mean (int64 micro-unit sums / count,
    * q79's discipline) of subvector s over the vectors whose
    * vec_id ≡ b (mod k) — hash-bucket initialization, the seeding step
    * of k-means, frozen before any Lloyd iteration so no float
    * iteration order can diverge.
    *
    * Returns ONE row: cb = m × k × subDim nested array (~8 KB), the
    * broadcast-everywhere artifact. The k-bucket completeness guard
    * raise_errors INSIDE the consumed expression (a code is a POSITION
    * into the bucket list — a silently missing bucket would shift every
    * later code's meaning; both engines share the positional convention
    * so only the guard, not the compare, can catch it). The q230/q231/
    * q233 oracles mirror the SAME guard (a window-counted CASE → error()
    * in the cents CTE), so a short-bucket corpus fails loud on BOTH
    * sides instead of one erroring while the other emits shifted codes.
    *
    * Scale: one map-side-combined aggregation at (m·k·subDim ≤ 1024)-row
    * grain — the corpus shuffles nothing but its quantized per-cell
    * contributions; at 100 TB the state grain is unchanged. */
  private[graft] def frozenPqCodebook(vectors: DataFrame): DataFrame = {
    val state = vectors
      .select((col("vec_id") % PqK).as("b"), posexplode(col("v")))
      .select(col("b"), expr(s"pos DIV $PqSubDim").cast("int").as("s"),
        pmod(col("pos"), lit(PqSubDim)).as("d"), col("col"))
      .groupBy(col("s"), col("b"), col("d"))
      .agg(sum(round(col("col") * 1048576).cast("long")).as("s_micro"),
        count(lit(1)).as("n"))
      .select(col("s"), col("b"), col("d"),
        (col("s_micro") / (col("n") * lit(1048576.0))).as("mu"))
    val perSB = state.groupBy(col("s"), col("b"))
      .agg(transform(array_sort(collect_list(struct(col("d"), col("mu")))),
        x => x.getField("mu")).as("c"))
    val perS = perSB.groupBy(col("s"))
      .agg(transform(array_sort(collect_list(struct(col("b"), col("c")))),
        x => x.getField("c")).as("cs"))
      .select(col("s"),
        when(size(col("cs")) === PqK, col("cs"))
          .otherwise(raise_error(concat(lit(s"frozen PQ codebook: subspace with != $PqK buckets ("),
            size(col("cs")).cast("string"), lit(")")))).as("cs"))
    perS.agg(transform(array_sort(collect_list(struct(col("s"), col("cs")))),
      x => x.getField("cs")).as("cb"))
  }

  /** Encode each vector against the frozen codebook row: per subspace,
    * the 0-based POSITION of the argmin-[[l2x]] centroid, first-minimum
    * tiebreak (≡ lowest bucket, the oracle's (dist, b) ROW_NUMBER).
    * The codebook row is a broadcast 1-row crossJoin — constant-grain,
    * scan-speed at any corpus size. */
  private[graft] def pqEncodeFrozen(vectors: DataFrame, cbRow: DataFrame): DataFrame = {
    val codes = transform(sequence(lit(0), lit(PqM - 1)), s => {
      val sub = slice(col("v"), s * PqSubDim + 1, lit(PqSubDim))
      val dists = transform(element_at(col("cb"), s + 1), c => l2x(sub, c))
      array_position(dists, array_min(dists)) - 1
    })
    // keeps every input column (callers carry e.g. list_id through)
    vectors.crossJoin(broadcast(cbRow)).withColumn("codes", codes)
  }

  /** The explicit 8-term ADC sum — element_at lookups combined
    * left-to-right, mirrored term by term in the oracle (a SUM() GROUP
    * BY would have engine-unspecified addition order; eight explicit
    * terms have exactly one). */
  private[graft] def adcSum(dt: org.apache.spark.sql.Column,
                            codes: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until PqM).map(s =>
      element_at(element_at(dt, s + 1), (element_at(codes, s + 1) + 1).cast("int")))
      .reduce(_ + _)

  /** q230: PQ-ADC search under the FROZEN quantizer, oracle-gated — the
    * q219 move applied to q173 (the last spec-only ANN search path).
    * Probes (vec_id < 10) precompute the m × k distance TABLE to every
    * frozen centroid; each stored vector's approximate squared L2 is m
    * table lookups summed through its codes — the stored vector itself
    * is never touched, only its m nibble codes move. The oracle replays
    * quantizer → positional encode → distance tables → the 8-term ADC
    * sum → (adc, neighbor_id) ranking end to end: a wrong bucket mean,
    * a shifted code, a transposed table lookup, or a ranking drift all
    * break the hash.
    *
    * Scale shape (q173's, unchanged by the freeze): the bounded probe
    * set with tables broadcasts (~10 × 8 KB); the code table streams
    * through a deliberate broadcast nested-loop join over 8-byte codes
    * — 32× less scan traffic than raw vectors; IVF list pruning (q231)
    * composes in front when even the code scan is too much. */
  val q230PqAdcFrozen: Q = Q.sql(
    "q230_pq_adc_frozen",
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |st AS (
       |  SELECT (pos.pos - 1) // $PqSubDim AS s, vec_id % $PqK AS b,
       |    (pos.pos - 1) % $PqSubDim AS d,
       |    SUM(CAST(round(v[pos.pos] * 1048576) AS BIGINT)) AS s_micro, COUNT(*) AS n
       |  FROM e, (SELECT unnest(range(1, ${PqM * PqSubDim + 1})) AS pos) pos
       |  GROUP BY 1, 2, 3),
       |cents0 AS (
       |  SELECT s, b, list(s_micro / (n * 1048576.0) ORDER BY d) AS c
       |  FROM st GROUP BY s, b),
       |cents AS (
       |  SELECT s, b, CASE WHEN COUNT(*) OVER (PARTITION BY s) = $PqK THEN c
       |    ELSE error('PQ oracle: subspace with != $PqK buckets') END AS c
       |  FROM cents0),
       |es AS (
       |  SELECT vec_id, ss.s AS s,
       |    v[ss.s * $PqSubDim + 1 : ss.s * $PqSubDim + $PqSubDim] AS sub
       |  FROM e, (SELECT unnest(range(0, $PqM)) AS s) ss),
       |ad AS (
       |  SELECT es.vec_id, es.s, c.b,
       |    ${oL2.format("sub", "c.c")} AS dist
       |  FROM es JOIN cents c ON c.s = es.s),
       |codes AS (
       |  SELECT vec_id, s, b AS code FROM (
       |    SELECT vec_id, s, b,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY dist, b) AS rn
       |    FROM ad) WHERE rn = 1),
       |cl AS (SELECT vec_id, list(code ORDER BY s) AS codes FROM codes GROUP BY vec_id),
       |qd AS (
       |  SELECT vec_id AS query_id, s, list(dist ORDER BY b) AS drow
       |  FROM ad WHERE vec_id < 10 GROUP BY 1, 2),
       |qt AS (SELECT query_id, list(drow ORDER BY s) AS dt FROM qd GROUP BY 1),
       |scored AS (
       |  SELECT q.query_id, n.vec_id AS neighbor_id,
       |    round(${(0 until PqM).map(s => s"q.dt[${s + 1}][n.codes[${s + 1}] + 1]").mkString(" + ")}, 9) AS adc
       |  FROM qt q, cl n WHERE n.vec_id <> q.query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, adc,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rk
       |  FROM scored)
       |SELECT query_id, neighbor_id, adc, rk FROM ranked WHERE rk <= 5
       |ORDER BY query_id, rk""".stripMargin
  ) { (s, dir) =>
    val vectors = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    pqAdcFrozen(vectors, probeMax = 10L, topK = 5)
      .orderBy(col("query_id"), col("rk"))
  }

  /** Generic frozen-PQ ADC top-k over any (vec_id, v: array<double>)
    * frame — codebook, encode, and search in ONE lazy plan. */
  private[graft] def pqAdcFrozen(vectors: DataFrame, probeMax: Long, topK: Int): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    import org.apache.spark.sql.expressions.Window
    // the 1-row codebook fans into TWO broadcasts (encode + probe
    // tables) — without a checkpoint each broadcast re-runs the full
    // posexplode codebook aggregation over the corpus (r14)
    val cbRow = Barrier.pin(frozenPqCodebook(vectors))
    val encoded = pqEncodeFrozen(vectors, cbRow)
      .select(col("vec_id"), col("codes"))
    val dt = transform(col("cb"), (cbS, i) =>
      transform(cbS, c => l2x(slice(col("qv"), i * PqSubDim + 1, lit(PqSubDim)), c)))
    val probes = vectors.filter(col("vec_id") < probeMax)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
      .crossJoin(broadcast(cbRow))
      .select(col("query_id"), dt.as("dt"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc"), col("neighbor_id"))
    broadcast(probes).join(encoded, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(adcSum(col("dt"), col("codes")), 9).as("adc"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
  }

  // ------------------------------------------------ IVF-PQ search (q231)

  /** Shared oracle body for q231 AND q242: the full frozen-quantizer
    * IVF-PQ replay (per-label fixed-point coarse centroids, residual PQ
    * codebook, assignment, encode, 2-probe ADC search, top-5). Factored
    * so the inline gate and the stored-serve gate can never drift. */
  private lazy val oracleIvfPqTop5: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
       |cstate AS (
       |  SELECT label, pos.pos AS pos,
       |    CAST(SUM(CAST(round(v[pos.pos] * 1048576) AS BIGINT)) AS BIGINT)
       |      / (COUNT(*) * 1048576.0) AS mu
       |  FROM e, (SELECT unnest(range(1, ${PqM * PqSubDim + 1})) AS pos) pos
       |  GROUP BY label, pos.pos),
       |clists AS (
       |  SELECT label AS list_id, list(mu ORDER BY pos) AS centroid
       |  FROM cstate GROUP BY label),
       |ascored AS (
       |  SELECT e.vec_id, c.list_id,
       |    ${oDot.format("c.centroid", "c.centroid")}
       |      - 2.0 * ${oDot.format("e.v", "c.centroid")} AS d
       |  FROM e, clists c),
       |assigned AS (
       |  SELECT vec_id, list_id FROM (
       |    SELECT vec_id, list_id,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, list_id) AS rn
       |    FROM ascored) WHERE rn = 1),
       |res AS (
       |  SELECT e.vec_id, a.list_id,
       |    list_transform(list_zip(e.v, c.centroid), zz -> zz[1] - zz[2]) AS r
       |  FROM e JOIN assigned a USING (vec_id) JOIN clists c ON c.list_id = a.list_id),
       |st AS (
       |  SELECT (pos.pos - 1) // $PqSubDim AS s, vec_id % $PqK AS b,
       |    (pos.pos - 1) % $PqSubDim AS d,
       |    SUM(CAST(round(r[pos.pos] * 1048576) AS BIGINT)) AS s_micro, COUNT(*) AS n
       |  FROM res, (SELECT unnest(range(1, ${PqM * PqSubDim + 1})) AS pos) pos
       |  GROUP BY 1, 2, 3),
       |cents0 AS (
       |  SELECT s, b, list(s_micro / (n * 1048576.0) ORDER BY d) AS c
       |  FROM st GROUP BY s, b),
       |cents AS (
       |  SELECT s, b, CASE WHEN COUNT(*) OVER (PARTITION BY s) = $PqK THEN c
       |    ELSE error('PQ oracle: subspace with != $PqK buckets') END AS c
       |  FROM cents0),
       |es AS (
       |  SELECT vec_id, ss.s AS s,
       |    r[ss.s * $PqSubDim + 1 : ss.s * $PqSubDim + $PqSubDim] AS sub
       |  FROM res, (SELECT unnest(range(0, $PqM)) AS s) ss),
       |ad AS (
       |  SELECT es.vec_id, es.s, c.b, ${oL2.format("sub", "c.c")} AS dist
       |  FROM es JOIN cents c ON c.s = es.s),
       |codes AS (
       |  SELECT vec_id, s, b AS code FROM (
       |    SELECT vec_id, s, b,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY dist, b) AS rn
       |    FROM ad) WHERE rn = 1),
       |cl AS (SELECT vec_id, list(code ORDER BY s) AS codes FROM codes GROUP BY vec_id),
       |clst AS (SELECT cl.vec_id, cl.codes, a.list_id FROM cl JOIN assigned a USING (vec_id)),
       |qs AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
       |probes AS (
       |  SELECT query_id, qv, list_id, centroid FROM (
       |    SELECT q.query_id, q.qv, c.list_id, c.centroid,
       |      ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
       |        ${oDot.format("c.centroid", "c.centroid")}
       |          - 2.0 * ${oDot.format("q.qv", "c.centroid")}, c.list_id) AS pr
       |    FROM qs q, clists c) WHERE pr <= 2),
       |qres AS (
       |  SELECT query_id, list_id,
       |    list_transform(list_zip(qv, centroid), zz -> zz[1] - zz[2]) AS qr
       |  FROM probes),
       |qes AS (
       |  SELECT query_id, list_id, ss.s AS s,
       |    qr[ss.s * $PqSubDim + 1 : ss.s * $PqSubDim + $PqSubDim] AS sub
       |  FROM qres, (SELECT unnest(range(0, $PqM)) AS s) ss),
       |qad AS (
       |  SELECT qes.query_id, qes.list_id, qes.s, c.b, ${oL2.format("sub", "c.c")} AS dist
       |  FROM qes JOIN cents c ON c.s = qes.s),
       |qd AS (
       |  SELECT query_id, list_id, s, list(dist ORDER BY b) AS drow
       |  FROM qad GROUP BY 1, 2, 3),
       |qt AS (SELECT query_id, list_id, list(drow ORDER BY s) AS dt FROM qd GROUP BY 1, 2),
       |scored AS (
       |  SELECT q.query_id, n.vec_id AS neighbor_id,
       |    round(${(0 until PqM).map(s => s"q.dt[${s + 1}][n.codes[${s + 1}] + 1]").mkString(" + ")}, 9) AS adc
       |  FROM qt q JOIN clst n ON n.list_id = q.list_id AND n.vec_id <> q.query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, adc,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rk
       |  FROM scored)
       |SELECT query_id, neighbor_id, adc, rk FROM ranked WHERE rk <= 5
       |ORDER BY query_id, rk""".stripMargin

  /** q231: the COMPOSED production ANN index — IVF coarse quantizer in
    * front of PQ-over-RESIDUALS (Jégou et al. 2011 §IV "IVFADC", the
    * FAISS `IVFx,PQy` layout) — with BOTH quantizers frozen so the whole
    * index is oracle-replayed end to end. Coarse lists are q219's
    * fixed-point per-label centroids; each vector stores (list_id, m
    * nibble codes of v − centroid(list)); a query probes its 2 nearest
    * lists, subtracts each probed centroid, builds the m × k ADC table
    * from the RESIDUAL query, and ranks only the probed posting lists.
    * Encoding residuals (not raw vectors) is what makes the composition
    * better than either part: residual energy is a fraction of vector
    * energy, so the same 8-byte code spends its 16 cells on a much
    * smaller cube.
    *
    * The oracle replays coarse quantizer → assignment → residuals → PQ
    * codebook → codes → probe selection → residual distance tables →
    * 8-term ADC → ranking: ~every float op in the index, in both
    * engines, from two independent formulations.
    *
    * Scale shape — this is the 100 TB ANN serving plan: centroids
    * (k_coarse rows) and the PQ codebook (8 KB) broadcast; assignment +
    * residual + encode are ONE map-only corpus pass whose output is 10
    * bytes/vector; the search joins a bounded probe set to the code
    * table on list_id (equi-join, cost ∝ probed lists); nothing ever
    * shuffles the raw vectors. */
  val q231IvfPqSearch: Q = Q.sql(
    "q231_ivfpq_search",
    oracleIvfPqTop5
  ) { (s, dir) =>
    val emb = Tables.embeddings(s, dir).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), col("label"))
    ivfPqSearch(emb, probeMax = 10L, nProbe = 2, topK = 5)
      .orderBy(col("query_id"), col("rk"))
  }

  /** q242: the stored-index SERVE path oracle-gated end to end — the
    * q238/q239/q241 conversion applied to the ANN index (AnnIndexSpec's
    * bit-for-bit law, promoted to a registered oracle gate). The ENGINE
    * persists the full IVF-PQ artifact ([[writeAnnIndex]]: centroids/,
    * codebook/, list-partitioned codes/), re-opens it, and serves the
    * probe set from the STORED pieces; the ORACLE replays the entire
    * frozen-quantizer pipeline inline. A code row that drifted through
    * the parquet round-trip, a mis-partitioned posting list, or a
    * serve-side probe ranking change all hash-fail. Artifact lives at a
    * FIXED fixture path (target/fixtures/q242_ann_idx) — written and
    * read inside one query execution, same single-Verify-at-a-time
    * caveat as q238/q239/q241 (verify SKILL.md). */
  val q242StoredAnnServe: Q = Q.sql(
    "q242_stored_ann_serve",
    oracleIvfPqTop5
  ) { (s, dir) =>
    val emb = Tables.embeddings(s, dir).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), col("label"))
    val path = "target/fixtures/q242_ann_idx"
    writeAnnIndex(emb, path)
    val qs = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    annSearchStored(readAnnIndex(s, path), qs, nProbe = 2, topK = 5)
      .orderBy(col("query_id"), col("rk"))
  }

  /** (vec_id, v, …) → (vec_id, list_id, v = the RESIDUAL v − centroid):
    * coarse assignment (row-local argmin fold over the broadcast
    * centroid table) fused with the residual subtraction — map-only,
    * stream-safe (no aggregation over the vector side). */
  private[graft] def ivfResiduals(vectors: DataFrame, cents: DataFrame): DataFrame =
    Similarity.ivfAssign(vectors, cents)
      .join(broadcast(cents), Seq("list_id"))
      .select(col("vec_id"), col("list_id"),
        zip_with(col("v"), col("centroid"), (x, c) => x - c).as("v"))

  /** Residual rows → the stored IVF-PQ index grain: (vec_id, list_id,
    * codes) — 10 bytes of payload per vector. Map-only. */
  private[graft] def ivfPqEncode(res: DataFrame, cbRow: DataFrame): DataFrame =
    pqEncodeFrozen(res, cbRow).select(col("vec_id"), col("list_id"), col("codes"))

  /** (label, v) rows → the frozen coarse-quantizer table (list_id,
    * centroid): per-label fixed-point means rolled to sorted arrays —
    * the stored artifact [[ivfPqSearch]], the streaming ingest gates,
    * and q219 all probe. */
  private[graft] def coarseListsOf(emb: DataFrame): DataFrame =
    Similarity.centroidsFromState(
      Similarity.centroidState(emb.select(col("label"), col("v"))))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("mu")))),
        x => x.getField("mu")).as("centroid"))
      .select(col("label").cast("int").as("list_id"), col("centroid"))

  /** Generic IVF-PQ search over a (vec_id, v: array<double>, label)
    * frame (label = the coarse partition the frozen quantizer derives
    * its per-list centroids from) — index build and search in ONE lazy
    * plan. Production splits this at `encoded`: the (vec_id, list_id,
    * codes) table is the stored artifact; refresh composes from the
    * existing pieces ([[graft.ops.Similarity.refreshIvfAssignments]]
    * re-lists the delta under the frozen coarse quantizer, then this
    * encode — both map-only). */
  private[graft] def ivfPqSearch(emb: DataFrame, probeMax: Long,
                                 nProbe: Int, topK: Int): DataFrame = {
    // checkpoint the index-build invariants ONCE each (r14): cents is
    // consumed by the residual join AND the query probe assignment (each
    // re-ran the full per-label posexplode centroid aggregation); res by
    // the codebook aggregation AND the encode pass (each re-ran coarse
    // assignment + residual subtraction over the corpus); the 1-row
    // codebook by the encode and probe-table broadcasts. cents and cbRow
    // are index-constant grain; res is one row per vector — exactly the
    // pieces a production build would persist anyway (writeAnnIndex).
    val cents = Barrier.pin(coarseListsOf(emb))
    val res = Barrier.pin(ivfResiduals(emb.select(col("vec_id"), col("v")), cents))
    val cbRow = Barrier.pin(frozenPqCodebook(res.select(col("vec_id"), col("v"))))
    val encoded = ivfPqEncode(res, cbRow)
    val qs = emb.filter(col("vec_id") < probeMax)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    ivfPqSearchFrom(cents, cbRow, encoded, qs, nProbe, topK)
  }

  /** The SEARCH tail alone, over already-built index pieces — the path
    * a production query takes against the STORED artifact (the inline
    * gate above builds the pieces in the same plan; [[annSearchStored]]
    * feeds this from parquet). Queries probe their nProbe nearest
    * coarse lists, subtract each probed centroid, table the residual
    * distances against the broadcast codebook, and rank only the probed
    * posting lists via the 8-term ADC sum. */
  private[graft] def ivfPqSearchFrom(cents: DataFrame, cbRow: DataFrame,
                                     encoded: DataFrame, qs: DataFrame,
                                     nProbe: Int, topK: Int): DataFrame = {
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    import org.apache.spark.sql.expressions.Window
    val cc = call_function("graft_dot_f64", col("centroid"), col("centroid"))
    val probeW = Window.partitionBy(col("query_id")).orderBy(col("d"), col("list_id"))
    val probes = qs.crossJoin(broadcast(cents))
      .withColumn("d", cc - lit(2.0) *
        call_function("graft_dot_f64", col("qv"), col("centroid")))
      .withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nProbe)
      .select(col("query_id"), col("list_id"),
        zip_with(col("qv"), col("centroid"), (x, c) => x - c).as("qr"))
    val dt = transform(col("cb"), (cbS, i) =>
      transform(cbS, c => l2x(slice(col("qr"), i * PqSubDim + 1, lit(PqSubDim)), c)))
    val probesT = probes.crossJoin(broadcast(cbRow))
      .select(col("query_id"), col("list_id"), dt.as("dt"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc"), col("neighbor_id"))
    broadcast(probesT).join(encoded, Seq("list_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(adcSum(col("dt"), col("codes")), 9).as("adc"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
  }

  /** Persist the frozen IVF-PQ index as its three production tables
    * under `path`: `centroids/` (list_id, centroid — k rows),
    * `codebook/` (cb — ONE row, the m × k × subDim nested array) and
    * `codes/` (vec_id, list_id, codes — 10 bytes of payload per
    * vector, the ONLY corpus-sized piece), codes partitioned by
    * list_id so a served query's scan prunes to its probed posting
    * lists (nProbe of k directories — at 100 TB the other k − nProbe
    * never leave disk). Raw vectors are NOT stored — the index is the
    * quantizers plus codes, exactly what [[ivfPqSearchFrom]] serves
    * from; [[refreshIvfPqCodes]] maintains `codes/` under a delta feed
    * with the quantizers frozen. */
  private[graft] def writeAnnIndex(emb: DataFrame, path: String): Unit = {
    // checkpoint the build invariants once (r14, the ivfPqSearch
    // discipline): the three write ACTIONS otherwise each re-derive
    // their upstream pieces (cents ×3, res ×2, cbRow ×2 full-corpus
    // passes). All actions finish inside this call, so the scope
    // releases the blocks before returning, a failed write included.
    Barrier.scoped { scope =>
      val cents = scope.pin(coarseListsOf(emb))
      val res = scope.pin(ivfResiduals(emb.select(col("vec_id"), col("v")), cents))
      val cbRow = scope.pin(frozenPqCodebook(res.select(col("vec_id"), col("v"))))
      StoredIndex.write(emb.sparkSession, path, "ann") { w =>
        w.put("centroids", cents.coalesce(1))
        w.put("codebook", cbRow.coalesce(1))
        putCodes(w, ivfPqEncode(res, cbRow))
      }
    }
  }

  /** The `codes/` piece, partitioned by list_id. The REBALANCE hint
    * shuffles on list_id, so a task's output covers few directories
    * (the writeTokenShards small-files discipline), and lets AQE split
    * a list whose map output exceeds
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes` over several
    * tasks and files: at 100 TB a hot list is tens of GB, which one
    * task and one file would carry alone. Small lists keep one file. */
  private def putCodes(w: StoredIndex.Writer, codes: DataFrame): Unit =
    w.put("codes", codes.hint("rebalance", col("list_id")), "list_id")

  /** Re-open a [[writeAnnIndex]] artifact: (centroids, codebook row,
    * codes) — the pieces [[ivfPqSearchFrom]] serves from, located and
    * typed by the generation's manifest ([[StoredIndex]]): no Spark job. */
  private[graft] def readAnnIndex(s: SparkSession, path: String): (DataFrame, DataFrame, DataFrame) =
    annPieces(s, StoredIndex.load(s, path, "ann"))

  private def annPieces(s: SparkSession, g: StoredIndex.Generation): (DataFrame, DataFrame, DataFrame) =
    (g.frame(s, "centroids"), g.frame(s, "codebook"),
      g.frame(s, "codes").select(col("vec_id"), col("list_id").cast("int").as("list_id"), col("codes")))

  /** Serve IVF-PQ top-k from a STORED index: queries are (query_id,
    * qv: array<double>) rows; the quantizer tables broadcast, the codes
    * scan prunes to probed lists. AnnIndexSpec proves serve-from-stored
    * ≡ the inline q231 gate bit-for-bit (parquet round-trips doubles
    * exactly; ADC ties break on neighbor_id). */
  private[graft] def annSearchStored(index: (DataFrame, DataFrame, DataFrame),
                                     queries: DataFrame, nProbe: Int, topK: Int): DataFrame =
    ivfPqSearchFrom(index._1, index._2, index._3, queries, nProbe, topK)

  /** Refresh a stored [[writeAnnIndex]] artifact through a change feed
    * into a NEW generation at `outPath` — the stored-generation form of
    * [[refreshIvfPqCodes]], completing the write/read/serve/refresh
    * quartet the band/Bloom/BM25 indexes have. The quantizers are
    * FROZEN across generations (a quantizer retrain is a release, not a
    * refresh), so only the code table moves: removed/changed rows
    * anti-join out, added/changed vectors re-list and re-encode from
    * their new embedding, unchanged rows copy through. `centroids/` and
    * `codebook/` are not rewritten: the new generation's manifest
    * references the base's quantizer roots, so the base must outlive
    * it, and `outPath` may be neither `path` nor any root the base
    * references. Work beyond the copy ∝ |delta|; refreshed == a gen-2
    * code table re-derived from scratch under the same frozen
    * quantizers (AnnIndexSpec proves it piece for piece, serve path
    * included). */
  private[graft] def refreshStoredAnnIndex(s: SparkSession, path: String,
                                           delta: DataFrame, outPath: String): Unit = {
    StoredIndex.refresh("refreshStoredAnnIndex", s, path, "ann", outPath) { (base, w) =>
      val (cents, cbRow, codes) = annPieces(s, base)
      putCodes(w, refreshIvfPqCodes(codes, delta, cents, cbRow))
      w.keep("centroids")
      w.keep("codebook")
    }
  }

  /** Incremental maintenance of the stored IVF-PQ code table under the
    * FROZEN quantizers — the q209 discipline extended to the code
    * payload: removed/changed rows anti-join out; added/changed vectors
    * re-list AND re-encode from their NEW embedding only (both map-only
    * passes); unchanged rows pass through — exact, because under a
    * frozen coarse table + frozen codebook an unchanged vector's
    * (list_id, codes) cannot change. Work ∝ |delta|. Production
    * retrains the quantizers offline when drift warrants (then the
    * code table rebuilds — a quantizer release, not a refresh). */
  def refreshIvfPqCodes(codes: DataFrame, delta: DataFrame,
                        cents: DataFrame, cbRow: DataFrame): DataFrame = {
    val drop = delta.filter(col("status").isin("removed", "changed"))
      .select(col("vec_id"))
    val fresh = delta.filter(col("status").isin("added", "changed"))
      .select(col("vec_id"), col("v"))
    codes.join(drop, Seq("vec_id"), "left_anti")
      .unionByName(ivfPqEncode(ivfResiduals(fresh, cents), cbRow))
  }

  /** q233: [[refreshIvfPqCodes]] oracle-gated, closing the maintenance
    * loop for the q231 artifact. Generations are q209's: gen 1 lacks
    * every 7th vector (→ added), gen 2 drops every 6th (→ removed) and
    * negates every 5th's embedding (→ changed). The ENGINE builds the
    * gen-1 code table, then refreshes it through the change feed; the
    * ORACLE re-derives the ENTIRE gen-2 table from scratch under the
    * same gen-1-frozen quantizers (coarse lists from gen-1 labels, PQ
    * codebook from gen-1 residuals). A stale code row, a leaked removed
    * vector, a changed vector re-encoded against the wrong residual, or
    * an unchanged row that drifted all break the hash. Codes publish as
    * a '-'-joined string so the compare is payload-exact. */
  val q233IvfPqRefresh: Q = Q.sql(
    "q233_ivfpq_refresh",
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
       |g1 AS (SELECT vec_id, v, label FROM e WHERE vec_id % 7 <> 0),
       |g2 AS (SELECT vec_id,
       |         CASE WHEN vec_id % 5 = 0 THEN list_transform(v, x -> -x) ELSE v END AS v
       |       FROM e WHERE vec_id % 6 <> 0),
       |cstate AS (
       |  SELECT label, pos.pos AS pos,
       |    CAST(SUM(CAST(round(v[pos.pos] * 1048576) AS BIGINT)) AS BIGINT)
       |      / (COUNT(*) * 1048576.0) AS mu
       |  FROM g1, (SELECT unnest(range(1, ${PqM * PqSubDim + 1})) AS pos) pos
       |  GROUP BY label, pos.pos),
       |clists AS (
       |  SELECT label AS list_id, list(mu ORDER BY pos) AS centroid
       |  FROM cstate GROUP BY label),
       |a1 AS (
       |  SELECT vec_id, list_id FROM (
       |    SELECT g1.vec_id, c.list_id,
       |      ROW_NUMBER() OVER (PARTITION BY g1.vec_id ORDER BY
       |        ${oDot.format("c.centroid", "c.centroid")}
       |          - 2.0 * ${oDot.format("g1.v", "c.centroid")}, c.list_id) AS rn
       |    FROM g1, clists c) WHERE rn = 1),
       |res1 AS (
       |  SELECT g1.vec_id,
       |    list_transform(list_zip(g1.v, c.centroid), zz -> zz[1] - zz[2]) AS r
       |  FROM g1 JOIN a1 USING (vec_id) JOIN clists c ON c.list_id = a1.list_id),
       |st AS (
       |  SELECT (pos.pos - 1) // $PqSubDim AS s, vec_id % $PqK AS b,
       |    (pos.pos - 1) % $PqSubDim AS d,
       |    SUM(CAST(round(r[pos.pos] * 1048576) AS BIGINT)) AS s_micro, COUNT(*) AS n
       |  FROM res1, (SELECT unnest(range(1, ${PqM * PqSubDim + 1})) AS pos) pos
       |  GROUP BY 1, 2, 3),
       |cents0 AS (
       |  SELECT s, b, list(s_micro / (n * 1048576.0) ORDER BY d) AS c
       |  FROM st GROUP BY s, b),
       |cents AS (
       |  SELECT s, b, CASE WHEN COUNT(*) OVER (PARTITION BY s) = $PqK THEN c
       |    ELSE error('PQ oracle: subspace with != $PqK buckets') END AS c
       |  FROM cents0),
       |a2 AS (
       |  SELECT vec_id, list_id FROM (
       |    SELECT g2.vec_id, c.list_id,
       |      ROW_NUMBER() OVER (PARTITION BY g2.vec_id ORDER BY
       |        ${oDot.format("c.centroid", "c.centroid")}
       |          - 2.0 * ${oDot.format("g2.v", "c.centroid")}, c.list_id) AS rn
       |    FROM g2, clists c) WHERE rn = 1),
       |res2 AS (
       |  SELECT g2.vec_id, a2.list_id,
       |    list_transform(list_zip(g2.v, c.centroid), zz -> zz[1] - zz[2]) AS r
       |  FROM g2 JOIN a2 USING (vec_id) JOIN clists c ON c.list_id = a2.list_id),
       |es2 AS (
       |  SELECT vec_id, ss.s AS s,
       |    r[ss.s * $PqSubDim + 1 : ss.s * $PqSubDim + $PqSubDim] AS sub
       |  FROM res2, (SELECT unnest(range(0, $PqM)) AS s) ss),
       |ad2 AS (
       |  SELECT es2.vec_id, es2.s, c.b, ${oL2.format("sub", "c.c")} AS dist
       |  FROM es2 JOIN cents c ON c.s = es2.s),
       |codes2 AS (
       |  SELECT vec_id, s, b AS code FROM (
       |    SELECT vec_id, s, b,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY dist, b) AS rn
       |    FROM ad2) WHERE rn = 1),
       |cl2 AS (SELECT vec_id, list(code ORDER BY s) AS codes FROM codes2 GROUP BY vec_id)
       |SELECT cl2.vec_id, a2.list_id,
       |  array_to_string(list_transform(cl2.codes, x -> CAST(x AS VARCHAR)), '-') AS codes_str
       |FROM cl2 JOIN a2 ON a2.vec_id = cl2.vec_id
       |ORDER BY cl2.vec_id""".stripMargin
  ) { (s, dir) =>
    val emb = Tables.embeddings(s, dir).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), col("label"))
    val g1 = emb.filter(col("vec_id") % 7 =!= 0)
    // same build-invariant checkpointing as ivfPqSearch (r14): cents /
    // res1 / cbRow each fan into several consumers (codes1 AND the
    // refresh's delta re-listing + re-encode), re-running full corpus
    // passes per reference otherwise
    val cents = Barrier.pin(coarseListsOf(g1))
    val res1 = Barrier.pin(ivfResiduals(g1.select(col("vec_id"), col("v")), cents))
    val cbRow = Barrier.pin(frozenPqCodebook(res1.select(col("vec_id"), col("v"))))
    val codes1 = ivfPqEncode(res1, cbRow)
    // the change feed, by the same generation rules the oracle derives
    // g2 from; v carries the NEW (gen-2) embedding for added/changed
    val delta = emb
      .withColumn("status",
        when(col("vec_id") % 7 === 0 && col("vec_id") % 6 =!= 0, lit("added"))
          .when(col("vec_id") % 6 === 0 && col("vec_id") % 7 =!= 0, lit("removed"))
          .when(col("vec_id") % 6 =!= 0 && col("vec_id") % 5 === 0, lit("changed"))
          .otherwise(lit("unchanged")))
      .filter(col("status") =!= "unchanged")
      .select(col("vec_id"), col("status"),
        when(col("vec_id") % 5 === 0, transform(col("v"), x => -x))
          .otherwise(col("v")).as("v"))
    refreshIvfPqCodes(codes1, delta, cents, cbRow)
      .select(col("vec_id"), col("list_id"),
        concat_ws("-", transform(col("codes"), c => c.cast("string"))).as("codes_str"))
      .orderBy(col("vec_id"))
  }

  val all: Seq[Q] = Seq(q102QuantizeEmb, q173PqAnn, q230PqAdcFrozen, q231IvfPqSearch,
    q242StoredAnnServe,
    q233IvfPqRefresh)
}
