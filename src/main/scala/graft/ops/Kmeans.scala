package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.load

/** Distributed k-means (Lloyd's iterations) over the `embeddings` table —
  * the trainer that makes the IVF/PQ ANN family self-contained (s3/s4
  * previously documented "a real deployment feeds k-means centroids in").
  *
  * Scale shape per iteration:
  *   - ASSIGNMENT is row-local: centroids are k driver literals, so the
  *     argmin is `least()` over k codegen'd `struct(dist, cell)` columns —
  *     a narrow map over the corpus scan. No join, no N×k intermediate,
  *     and NO shuffle (the earlier crossJoin + min_by-by-id form pushed
  *     the whole corpus — vector payload included — through an exchange
  *     per iteration; at 100 TB that is 4 corpus shuffles Lloyd's never
  *     needed).
  *   - UPDATE is one aggregation to k×(dim+1) numbers (per-cell component
  *     sums + count) with map-side partials; the k resulting rows round-trip
  *     through the driver as the next iteration's broadcast literals. That
  *     driver hop is k rows (bounded, like the dimension-option collects the
  *     plan audit already allows) and it buys plan hygiene: every iteration
  *     re-plans from literal centroids, so there is NO nested lineage to
  *     checkpoint (the d9 problem never arises).
  *
  * Cross-engine determinism (the reason everything is integer math):
  * float centroid means are partial-agg-order-dependent, so instead each
  * component is quantized ONCE — `floor(x * 10^6)` on the double-widened
  * float, exact because a float32 mantissa (24 bits) times 10^6 (20 bits)
  * fits a double's 53 — and from there assignment distances are exact long
  * sums of squares and centroid updates are floor-divisions of exact
  * integer sums (`Math.floorDiv` ↔ the `(s - pmod(s, n)) // n` identity in
  * SQL). Fixed iteration count, deterministic tie-breaks (smallest cell
  * id), empty cells keep their previous centroid.
  */
object Kmeans {

  private[graft] val K = 8
  private[graft] val Iters = 3
  private[graft] val Dim = 64
  private[graft] val Scale = 1000000L

  /** float array → exact scaled-long array (the ONE quantization). */
  private[graft] def quantize(vecCol: Column): Column =
    transform(vecCol, x => floor(x.cast("double") * Scale).cast("long"))

  /** Exact integer squared-L2 between two scaled-long arrays — the
    * native codegen'd kernel ([[graft.functions.SqDistLong]]): one fused
    * long loop inside whole-stage codegen instead of per-element
    * higher-order-function lambdas. Long addition is associative, so it
    * is bit-identical to [[sqDistComposed]] (FunctionsSpec pins it).
    */
  private def sqDist(a: Column, b: Column): Column =
    graft.functions.SqDistLong.sq_dist_long(a, b)

  /** Composed-builtins form — the semantic spec the native expression is
    * tested bit-identical against.
    */
  private[graft] def sqDistComposed(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, x) => acc + x)

  /** Row-local argmin against driver-literal centroids: `least()` over k
    * codegen'd `struct(dist, cell)` expressions. `least`'s struct ordering
    * compares fields in order — squared-L2 asc, then cell asc — which IS
    * the deterministic tie-break the oracle replays, and every distance
    * stays inside whole-stage codegen (sq_dist_long over a literal array).
    */
  private def bestCell(q: Column, cents: Seq[(Long, Seq[Long])]): Column = {
    val candidates = cents.map { case (cell, cv) =>
      struct(sqDist(q, array(cv.map(lit): _*)).as("dist"),
        lit(cell).as("cell"))
    }
    // Empty centroid set (degenerate empty corpus): a non-null dummy —
    // [[assign]]'s constant-false filter drops every row (the old join
    // form's semantics), and the dummy keeps the schema's nullability
    // identical to the normal path (DegenerateCorpusSpec pins degenerate
    // == sf0.001 schemas exactly). least() needs > 1 children.
    // (The dummy's dist is the kernel itself — sq_dist(q, q) — so its
    // nullability matches the normal path's exactly.)
    if (candidates.isEmpty) struct(sqDist(q, q).as("dist"), lit(0L).as("cell"))
    else if (candidates.sizeIs == 1) candidates.head
    else least(candidates: _*)
  }

  /** One assignment pass: every vector to its nearest centroid (squared-L2
    * asc, cell asc) — a narrow per-row map ([[bestCell]]); the vector
    * never leaves its input partition. The constant filter only ever
    * drops rows on an empty centroid set (degenerate corpora), where the
    * old join form returned zero rows.
    */
  private def assign(e: DataFrame, cents: Seq[(Long, Seq[Long])]): DataFrame =
    e.select(col("id"), col("q"), bestCell(col("q"), cents).as("best"))
      .filter(lit(cents.nonEmpty))
      .select(col("id"), col("best.cell").as("cell"), col("q"),
        col("best.dist").as("dist"))

  /** EXACT WEIGHTED-TWIN COLLAPSE for the update aggregations (round
    * 16, the dedup family's pattern carried into training): assignment
    * is a pure function of the quantized vector, and because every
    * update statistic is an exact INTEGER sum, a duplicated vector's
    * contribution is exactly `weight × q_i` — integer multiplication,
    * associative, bit-equal to summing the copies. So behind the
    * embeddings twin gate (below), each Lloyd's round
    * aggregates one row per DISTINCT vector (weight-carrying, hub
    * persisted once for ALL rounds) instead of re-scanning the corpus
    * — ~95× less distance arithmetic per round at the 100× gate. The
    * centroid sequence is IDENTICAL by induction (same sums, same
    * counts, same floorDiv), and the final assignment still runs over
    * the full corpus, so every consumer's output is bit-identical.
    * Init also reads the full frame (two first-k seed vectors may
    * share a value but must stay distinct centroids). Unique-vector
    * corpora keep the scan-per-round form: the scaladoc above is
    * explicit that caching a 100 TB corpus is not a plan, and the
    * hub IS the corpus when nothing is duplicated.
    *
    * The gate is the embeddings twin gate ([[Twins.gate]] on the
    * vector); perfbench reads its verdicts through this name.
    */
  private[graft] def embTwinGate(s: SparkSession, dir: String): Boolean =
    Twins.gate(s, dir, "embeddings", "vec_id", Seq("embedding"))

  /** Lloyd's: `iters` × (assign → integer-mean update), then a final
    * assignment against the trained centroids. `e` must be
    * `(id: long, q: array<long>)` with `dim`-length vectors. Returns the
    * final assignment frame and the trained centroids.
    */
  private[graft] def lloyd(e: DataFrame, init: Seq[(Long, Seq[Long])],
      iters: Int = Iters, dim: Int = Dim,
      collapse: Boolean = false): (DataFrame, Seq[(Long, Seq[Long])]) = {
    val hub = if (!collapse) null else OpCaches.persisted(
      e.groupBy(col("q")).agg(count(lit(1)).as("w")))
    var cents = init
    for (_ <- 1 to iters) {
      val stats = (if (collapse) {
        val a = hub
          .select(col("w"), col("q"), bestCell(col("q"), cents).as("best"))
          .filter(lit(cents.nonEmpty))
        val sums = (1 to dim).map(i =>
          sum(element_at(col("q"), i) * col("w")).as(s"s_$i"))
        a.groupBy(col("best.cell").as("cell"))
          .agg(sum(col("w")).as("n"), sums: _*)
      } else {
        val a = assign(e, cents)
        val sums = (1 to dim).map(i => sum(element_at(col("q"), i)).as(s"s_$i"))
        // k rows × (dim+1) longs — the bounded driver hop.
        a.groupBy("cell").agg(count(lit(1)).as("n"), sums: _*)
      }).collect()
        .map(r => r.getLong(0) -> r).toMap
      cents = cents.map { case (cell, prev) =>
        stats.get(cell) match {
          case Some(r) =>
            val n = r.getLong(1)
            // floorDiv, not /: sums go negative and the oracle's pmod
            // identity floors — truncation would diverge on negatives.
            cell -> Seq.tabulate(dim)(i => Math.floorDiv(r.getLong(2 + i), n))
          case None => cell -> prev // empty cell keeps its centroid
        }
      }
    }
    (assign(e, cents), cents)
  }

  /** Trained centroids for downstream IVF/PQ consumers: `(cell, cv)` with
    * scaled-long components (divide by [[Scale]] for float space).
    */
  def trainCentroids(s: SparkSession, dir: String,
      k: Int = K, iters: Int = Iters): Seq[(Long, Seq[Long])] = {
    val e = corpus(s, dir)
    lloyd(e, initFrom(e, k), iters, collapse = embTwinGate(s, dir))._2
  }

  /** Per-subspace PQ codebook training over each subspace's subvectors
    * (layout shared with s4/s5 via [[Similarity.subvectors]]), seeded
    * like s4's codebook with the first-k vectors' subvectors. Returns
    * `(sub_idx, cent_id, cv)` in scaled-long space —
    * [[Similarity.s4PqCodesTrained]] maps it back to float space and
    * feeds the unchanged assignment operator. All subspaces train
    * JOINTLY in one grouped Lloyd's ([[lloydGrouped]]): one job per
    * round over the shared quantized subvector frame.
    */
  def trainPqCodebooks(s: SparkSession, dir: String,
      k: Int = K, iters: Int = Iters): Seq[(Int, Long, Seq[Long])] = {
    val subs = quantizedSubvectors(s, dir).persist()
    try trainPqOn(subs, k, iters, collapse = embTwinGate(s, dir))
    finally subs.unpersist()
  }

  private def quantizedSubvectors(s: SparkSession, dir: String): DataFrame =
    Similarity.subvectors(s, dir)
      .select(col("vec_id"), col("sub_idx"), quantize(col("sv")).as("q"))

  /** Training core over an (ideally persisted) quantized-subvector
    * frame. All subspaces train JOINTLY: the per-subspace Lloyd's runs
    * are independent k-means whose only coupling is the driver loop, so
    * one grouped iteration — centroids keyed (sub, cell), assignment
    * joined on sub, stats grouped by (sub, cell) — trains every
    * codebook with ONE action per round (k x subspaces rows through
    * the driver) instead of subspaces x (init + rounds + final)
    * sequential jobs. Per-subspace arithmetic, tie-breaks and results
    * are bit-identical to the sequential formulation (the s8 oracle
    * already replays exactly this shape: the `sub` key threaded through
    * every CTE). Persisting still matters: init + per-round stats +
    * the caller's final assignment would otherwise each re-scan the
    * parquet AND re-run the subvector explode+quantize.
    * (s7's flat corpus is deliberately NOT cached: one scan per round
    * is the textbook k-means cost and caching a 100 TB corpus is not a
    * plan — the exploded subvector frame here is derived work worth
    * keeping for the bounded training window.)
    */
  private def trainPqOn(subs: DataFrame, k: Int,
      iters: Int, collapse: Boolean = false): Seq[(Int, Long, Seq[Long])] = {
    val e = subs.select(col("sub_idx").cast("int").as("gid"),
      col("vec_id").as("id"), col("q"))
    lloydGrouped(e, initGrouped(e, k), iters, Similarity.PqSubDim, collapse)._2
  }

  /** Grouped assignment: like [[assign]] but each row picks the argmin
    * within its own group's centroids — a CASE chain over gid (groups are
    * the handful of PQ subspaces), each arm a row-local [[bestCell]].
    * Still narrow; the inner-join semantics of the old broadcast-join form
    * (rows whose gid has no centroids vanish) are kept by the null filter.
    */
  private def groupedBest(cents: Seq[(Int, Long, Seq[Long])]): Column = {
    val byGid = cents.groupBy(_._1).view.mapValues(_.map(c => (c._2, c._3)))
      .toSeq.sortBy(_._1)
    byGid.foldLeft(lit(null).cast("struct<dist:bigint,cell:bigint>")) {
      case (acc, (g, cs)) =>
        when(col("gid") === g, bestCell(col("q"), cs)).otherwise(acc)
    }
  }

  private def assignGrouped(e: DataFrame,
      cents: Seq[(Int, Long, Seq[Long])]): DataFrame = {
    // One filtered branch per subspace, unioned — NOT the single nested
    // groupedBest CASE chain (round-17 measurement: the chain form ran
    // the 100×-gate final assignment at ~19 µs/row, 15 s of s8's 17 s
    // wall; the branch form with one s7-sized bestCell per branch is
    // ~10× faster; see OPTIMIZATION_r17.md). Row set is identical: gids
    // partition the input, rows whose gid has no centroids are dropped
    // by both forms, and `when(lit(true), …)` pins the analyzed
    // nullability to the old chain's (nullable best).
    val byGid = cents.groupBy(_._1).view.mapValues(_.map(c => (c._2, c._3)))
      .toSeq.sortBy(_._1)
    val assigned =
      if (byGid.isEmpty)
        // Empty-cents semantics: zero rows (every gid lacks centroids).
        // A constant-false filter with a non-null dummy best, so the
        // degenerate schema's nullability matches the branch form below
        // exactly (DegenerateCorpusSpec pins degenerate == sf0.001).
        // dist: null literal (nullable, like the kernel's dist over a
        // nullable vector column); cell: 0L (non-null, like lit(cell)).
        e.filter(lit(false)).select(col("gid"), col("id"), col("q"),
          struct(lit(null).cast("long").as("dist"), lit(0L).as("cell")).as("best"))
      else byGid.map { case (g, cs) =>
        e.filter(col("gid") === g)
          .select(col("gid"), col("id"), col("q"),
            bestCell(col("q"), cs).as("best"))
      }.reduce(_ unionByName _)
    assigned.filter(col("best").isNotNull)
      .select(col("gid"), col("id"), col("best.cell").as("cell"), col("q"),
        col("best.dist").as("dist"))
  }

  /** Grouped Lloyd's: [[lloyd]] with an extra group key on every step —
    * N independent k-means in one job per round. `e` must be
    * `(gid: int, id: long, q: array<long>)`.
    */
  private[graft] def lloydGrouped(e: DataFrame, init: Seq[(Int, Long, Seq[Long])],
      iters: Int, dim: Int,
      collapse: Boolean = false): (DataFrame, Seq[(Int, Long, Seq[Long])]) = {
    // Same weighted-twin collapse as [[lloyd]], keyed per subspace.
    val hub = if (!collapse) null else OpCaches.persisted(
      e.groupBy(col("gid"), col("q")).agg(count(lit(1)).as("w")))
    var cents = init
    for (_ <- 1 to iters) {
      val stats = (if (collapse) {
        val a = hub
          .select(col("gid"), col("w"), col("q"), groupedBest(cents).as("best"))
          .filter(col("best").isNotNull)
        val sums = (1 to dim).map(i =>
          sum(element_at(col("q"), i) * col("w")).as(s"s_$i"))
        a.groupBy(col("gid"), col("best.cell").as("cell"))
          .agg(sum(col("w")).as("n"), sums: _*)
      } else {
        val a = assignGrouped(e, cents)
        val sums = (1 to dim).map(i => sum(element_at(col("q"), i)).as(s"s_$i"))
        // (k x groups) rows x (dim+2) values — still the bounded driver hop.
        a.groupBy("gid", "cell").agg(count(lit(1)).as("n"), sums: _*)
      }).collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r).toMap
      cents = cents.map { case (g, cell, prev) =>
        stats.get((g, cell)) match {
          case Some(r) =>
            val n = r.getLong(2)
            (g, cell, Seq.tabulate(dim)(i => Math.floorDiv(r.getLong(3 + i), n)))
          case None => (g, cell, prev) // empty cell keeps its centroid
        }
      }
    }
    (assignGrouped(e, cents), cents)
  }

  /** First-k-vectors init per group — each group's seed is its own
    * subvector of the same first-k vectors, exactly [[initFrom]] applied
    * groupwise (ids are shared across groups by construction).
    */
  private def initGrouped(e: DataFrame, k: Int): Seq[(Int, Long, Seq[Long])] =
    e.filter(col("id") < k).orderBy("gid", "id")
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2)))
      .toSeq

  /** First-k-vectors init — deterministic, and exactly what s3/s4 use as
    * their fixed codebooks, so trained centroids are a drop-in refinement.
    */
  private def initFrom(e: DataFrame, k: Int): Seq[(Long, Seq[Long])] =
    e.filter(col("id") < k).orderBy("id")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1))
      .toSeq

  private def corpus(s: SparkSession, dir: String): DataFrame =
    // spread: per-row distance math above a single-row-group scan; the
    // reductions are integer sums / min_by — order-insensitive, hash-safe.
    graft.Tables.spread(load(s, dir, "embeddings"))
      .select(col("vec_id").as("id"), quantize(col("embedding")).as("q"))

  /** The trained assignment WITH the quantized vector riding along —
    * `(id, cell, q, dist)` — for consumers that need both the cell
    * blocking and the vector (d11 semantic dedup scores within-cell
    * cosine on exactly these quantized components, so engine and
    * oracle share one vector formulation).
    */
  private[ops] def assignedWithVec(s: SparkSession, dir: String): DataFrame = {
    val e = corpus(s, dir)
    lloyd(e, initFrom(e, K), collapse = embTwinGate(s, dir))._1
  }

  /** s7 — k-means cell assignment after [[Iters]] Lloyd's iterations:
    * `(vec_id, cell, dist)`, all exact integers, hash-pinned against the
    * oracle's unrolled-CTE replay of the identical arithmetic.
    */
  def s7KmeansAssign(s: SparkSession, dir: String): DataFrame =
    assignedWithVec(s, dir)
      .select(col("id").as("vec_id"), col("cell"), col("dist"))

  /** s8 — PQ codes from TRAINED codebooks, end to end and oracle-gated:
    * per-subspace Lloyd's training ([[trainPqCodebooks]]) followed by
    * nearest-centroid code assignment, entirely in the scaled-long
    * space so every number is exact. This closes the loop the round-3
    * verdict called out: s4's seed-codebook codes were oracled, the
    * trained variant was spec-gated only — now the whole train→assign
    * path hash-matches a DuckDB replay. The oracle is s7's unrolled-CTE
    * arithmetic with ONE extra grouping key (the subspace): same
    * quantization, same integer mean, same tie-breaks — the subspace
    * dimension multiplies rows, not SQL.
    */
  def s8PqTrained(s: SparkSession, dir: String): DataFrame = {
    // Training AND final assignment share one persisted subvector frame
    // (training alone drives ~20 actions over it); the assignment result
    // is localCheckpoint'd — it is output-sized (4 rows of 4 longs per
    // vector), so materializing it lets the cache go while the returned
    // frame stays valid (the d9 retention pattern, bounded by output).
    val subs = quantizedSubvectors(s, dir).persist()
    try {
      // collapse gate (round 17): this call was the ONE trainPqOn site
      // missing the round-16 weighted-twin collapse — trainPqCodebooks
      // (s4/s5's path) passed it, so s8's training re-scanned the full
      // subvector frame per Lloyd's round at the 100× gate. Same
      // bit-identity argument as lloyd/lloydGrouped (PropertySpec pins
      // direct ≡ weighted); the final per-id assignment below is
      // unchanged.
      val books = trainPqOn(subs, K, Iters, collapse = embTwinGate(s, dir))
      // Code assignment is the same row-local grouped argmin training
      // uses — trained books are driver literals, so no join, no argmin
      // shuffle (tie-break (dist, cent_id) preserved by bestCell).
      val e = subs.select(col("sub_idx").cast("int").as("gid"),
        col("vec_id").as("id"), col("q"))
      assignGrouped(e, books)
        .select(col("id").as("vec_id"), col("gid").cast("long").as("sub_idx"),
          col("cell").as("code"), col("dist"))
        .localCheckpoint()
    } finally subs.unpersist()
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s7_kmeans_assign" -> s7KmeansAssign,
    "s8_pq_trained" -> s8PqTrained)

  /** The oracle unrolls the fixed iteration count as CTE rounds c0→c1→…,
    * replaying the same integer arithmetic: same quantization, same
    * squared-L2, same pmod-floored integer mean, same tie-breaks, and the
    * same keep-on-empty via the left join + COALESCE. ONE generator
    * serves both s7 (flat 64-dim corpus) and s8 (the same replay with a
    * `sub` grouping key in every partition/join/group clause) — the
    * shared arithmetic identities exist in exactly one place.
    *
    * @param qCte   source CTE producing (`[sub,] vec_id, q`)
    * @param dim    vector dimensionality inside this run
    * @param select final projection over the last assignment CTE
    * @param sub    whether the subspace key threads through every CTE
    */
  private[ops] def assignCteSql(t: Int, centCte: String, dim: Int,
      sub: Boolean): String = {
    val k = if (sub) "sub, " else ""
    val kv = if (sub) "v.sub, " else ""
    val distSql = s"list_sum(list_transform(generate_series(1, $dim), " +
      "i -> (v.q[i] - c.cv[i]) * (v.q[i] - c.cv[i])))"
    val join = if (sub) s"JOIN $centCte c ON c.sub = v.sub"
      else s"CROSS JOIN $centCte c"
    s"""a$t AS (SELECT ${k}vec_id, q, cell, dist,
       |    row_number() OVER (PARTITION BY ${k}vec_id
       |                       ORDER BY dist ASC, cell ASC) AS rn
       |  FROM (SELECT ${kv}v.vec_id, v.q, c.cell, $distSql AS dist
       |        FROM q v $join))""".stripMargin
  }

  /** The Lloyd's-training CTE chain alone — `qCte` through the trained
    * centroids `c`[[Iters]] — so downstream consumers (s3b's IVF oracle)
    * can splice the training replay in front of their own CTEs. The full
    * s7/s8 oracles append one final assignment over it.
    */
  private[ops] def kmeansCtesSql(qCte: String, dim: Int, sub: Boolean): String = {
    val k = if (sub) "sub, " else ""           // bare key list prefix
    val ka = if (sub) "a.sub, " else ""        // a-qualified
    val kc = if (sub) "c.sub, " else ""        // c-qualified
    def updateCte(t: Int): String = {
      val uJoin = if (sub) s"ON u.sub = c.sub AND u.cell = c.cell"
        else "ON u.cell = c.cell"
      s"""m$t AS (SELECT ${ka}a.cell, comp.i,
         |    CAST(sum(a.q[comp.i]) AS BIGINT) AS s, count(*) AS n
         |  FROM (SELECT ${k}cell, q FROM a$t WHERE rn = 1) a CROSS JOIN comp
         |  GROUP BY ${ka}a.cell, comp.i),
         |u$t AS (SELECT ${k}cell,
         |    list(CAST((s - (((s % n) + n) % n)) // n AS BIGINT) ORDER BY i) AS cv
         |  FROM m$t GROUP BY ${k}cell),
         |c$t AS (SELECT ${kc}c.cell, COALESCE(u.cv, c.cv) AS cv
         |  FROM c${t - 1} c LEFT JOIN u$t u $uJoin)""".stripMargin
    }
    val rounds = (1 to Iters)
      .map(t => assignCteSql(t, s"c${t - 1}", dim, sub) + ",\n" + updateCte(t))
      .mkString(",\n")
    s"""$qCte,
       |comp AS (SELECT unnest(generate_series(1, $dim)) AS i),
       |c0 AS (SELECT ${k}vec_id AS cell, q AS cv FROM q WHERE vec_id < $K),
       |$rounds""".stripMargin
  }

  /** s7's flat-corpus source CTE — shared with s3b's oracle, which must
    * train over the identical quantization.
    */
  private[ops] val corpusQCte: String =
    s"""q AS (SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE) * $Scale) AS BIGINT)) AS q
       |  FROM embeddings)""".stripMargin

  private def kmeansOracleSql(qCte: String, dim: Int, select: String,
      sub: Boolean): String =
    s"""WITH ${kmeansCtesSql(qCte, dim, sub)},
       |${assignCteSql(Iters + 1, s"c$Iters", dim, sub)}
       |$select
       |FROM a${Iters + 1} WHERE rn = 1""".stripMargin

  val oracle: Map[String, String] = Map(
    "s7_kmeans_assign" -> kmeansOracleSql(
      qCte = corpusQCte,
      dim = Dim,
      select = "SELECT vec_id, cell, CAST(dist AS BIGINT) AS dist",
      sub = false),
    "s8_pq_trained" -> kmeansOracleSql(
      qCte = s"""q AS (SELECT e.vec_id, b.b AS sub,
          |    list_transform(generate_series(1, ${Similarity.PqSubDim}),
          |      i -> CAST(floor(CAST(e.embedding[b.b * ${Similarity.PqSubDim} + i] AS DOUBLE)
          |                     * $Scale) AS BIGINT)) AS q
          |  FROM embeddings e,
          |       (SELECT unnest(range(0, ${Similarity.PqSubspaces})) AS b) b)""".stripMargin,
      dim = Similarity.PqSubDim,
      select = "SELECT vec_id, CAST(sub AS BIGINT) AS sub_idx, cell AS code,\n" +
        "       CAST(dist AS BIGINT) AS dist",
      sub = true))
}
