package graft.perfbench

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.LeftOuter
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.functions._

/** The three registry workloads: registered queries, timed from the call
  * to the registry function until the fingerprint aggregate over the
  * full result has been collected.
  */
object Registry {
  /** Scans, exchanges, hash aggregates, joins, windows; no kernels and no
    * twin gates. q35 is checked against its accuracy bound, every other
    * query against its pinned fingerprint.
    */
  val relational: Seq[String] = Seq(
    "q1_agg", "q3_join_agg", "q4_pivot", "q6_latest_per_key", "q7_time_bucket",
    "q11_percentile", "q13_anti_join", "q23_left_join_fill", "q24_composite_join",
    "q29_asof_join", "q32_session_window", "q35_approx_percentile", "q36_dq_profile",
    "q40_range_join", "q41_topk_per_key", "q47_intersect_except", "q50_grouping_sets",
    "q56_retention", "q62_fuzzy_join")

  /** Kernel-heavy curation operators: MinHash LSH, the SimHash64
    * aggregate and substring spans (the `text` gate), n-gram Jaccard (the
    * `(source, text)` gate, which stays unique on the duplicated fixture:
    * the direct-path control inside that workload), cosine k-NN (no gate)
    * and PQ codes with their eagerly trained codebooks (`embedding`).
    */
  val curation: Seq[String] = Seq(
    "d2_minhash_lsh", "d4_ngram_jaccard", "d7_simhash64", "d12_substr_spans",
    "s1_knn_cosine", "s4_pq_codes")

  /** The queries whose output is a left join with unique right keys:
    * `count()` would let the optimizer drop the join entirely.
    */
  val leftJoinProbes: Seq[String] = Seq("d13_span_scrub", "t14_contam_scrub")

  final case class QueryRun(name: String, wall: Double, build: Double, plan: Double,
      exec: Double, rowsOut: Long, buildJobs: Long, ok: Boolean)

  /** Between queries, outside every timed span: record what the query
    * left behind, drop the library's registries and cached plans, then
    * collect, as graft.Verify does.
    */
  def reset(spark: SparkSession): Unit = {
    Memory.sampleRetained()
    graft.ops.OpCaches.release(spark)
    graft.ops.Curation.releaseAll(spark)
    spark.catalog.clearCache()
    System.gc()
  }

  /** Whether the optimizer kept a left outer join. Checked on the
    * optimized plan: what the action lets the optimizer prune shows
    * there, before adaptive execution drops joins whose build side turns
    * out empty at run time.
    */
  def hasLeftOuterJoin(p: LogicalPlan): Boolean =
    p.exists { case j: Join => j.joinType == LeftOuter; case _ => false }
}

final class Registry(spark: SparkSession, dir: String, tables: Seq[String], pins: JsonNode,
    fixture: String, counters: TaskCounters, rec: Record) {
  import Registry._

  private val queries = graft.SparkEntry.queries
  private def drain(): Unit = PerfbenchBridge.drainListeners(spark.sparkContext)

  private def checkResult(name: String, fp: DataFrame, df: DataFrame): (Long, Boolean) = {
    val acc = pins.path("accuracy").path(name)
    if (!acc.isMissingNode) {
      // Approximate sketch: every estimate within its bound of the exact value.
      val rows = df.collect()
      val key = acc.get("key").asText
      val bound = acc.get("bound").asDouble
      val exact = acc.get("exact")
      val bad = rows.flatMap { r =>
        val e = exact.path(String.valueOf(r.getAs[Any](key)))
        if (e.isMissingNode) Some(s"unexpected group ${r.getAs[Any](key)}")
        else e.fieldNames.asScala.flatMap { c =>
          val (got, want) = (r.getAs[Number](c).doubleValue, e.get(c).asDouble)
          if (math.abs(got - want) > bound * math.abs(want)) Some(s"$c=$got vs exact $want") else None
        }
      }
      (rows.length.toLong, rec.check(name, bad.isEmpty && rows.length == exact.size,
        s"rows=${rows.length} ${bad.mkString("; ")}"))
    } else {
      val got = Fingerprint.render(fp.collect()(0))
      rec.info(s"fingerprint.$name") = Out.str(got)
      val want = pins.path(fixture).path(name).asText("<unpinned>")
      (got.takeWhile(_ != ':').toLong, rec.check(name, got == want, s"fingerprint $got, pinned $want"))
    }
  }

  /** Times one query; with a tracer, also records build/plan/exec spans
    * and the jobs started inside the registry call.
    */
  def runQuery(name: String, tracer: Option[Tracer]): QueryRun = {
    val root = tracer.map(_.open(-1, name, "query"))
    def sub[T](label: String)(f: => T): (T, Double) = {
      val id = tracer.map(t => t.open(root.get, name, label))
      val t0 = System.nanoTime()
      val v = f
      val dt = (System.nanoTime() - t0) / 1e9
      for (t <- tracer; i <- id) t.close(i)
      (v, dt)
    }
    // Jobs the registry call starts before returning its frame (eager
    // builds such as codebook training). Counted in the traced run only:
    // it drains the listener bus around the call.
    def jobs(): Long = if (tracer.isEmpty) 0L else { drain(); counters.jobs.sum }
    val t0 = System.nanoTime()
    val run = try {
      val fn = queries.getOrElse(name, throw new NoSuchElementException(s"$name is not registered"))
      val j0 = jobs()
      val (df, build) = sub("build")(fn(spark, dir))
      val buildJobs = jobs() - j0
      val fp = Fingerprint.frame(df)
      val (_, plan) = sub("plan")(fp.queryExecution.executedPlan)
      val ((rows, ok), exec) = sub("exec")(checkResult(name, fp, df))
      QueryRun(name, (System.nanoTime() - t0) / 1e9, build, plan, exec, rows, buildJobs, ok)
    } catch {
      case NonFatal(e) =>
        rec.check(name, ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
        QueryRun(name, (System.nanoTime() - t0) / 1e9, 0, 0, 0, 0, 0, ok = false)
    }
    tracer.foreach(t => root.foreach(t.close))
    reset(spark)
    run
  }

  /** The input stage: each table the workload reads, through
    * graft.Tables.load into the noop sink; median wall of five rounds.
    * Returns (wall seconds, rows).
    */
  def inputStage(): (Double, Long) = {
    def round(): Double = {
      val t0 = System.nanoTime()
      tables.foreach(t => graft.Tables.load(spark, dir, t).write.format("noop").mode("overwrite").save())
      (System.nanoTime() - t0) / 1e9
    }
    (Out.median((1 to 5).map(_ => round())), tables.map(t => spark.read.parquet(s"$dir/$t.parquet").count()).sum)
  }

  /** Input properties behind the collapse mechanism, and the gate
    * verdicts the library reached on them.
    */
  def probes(): Unit = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    def share(df: DataFrame, c: String): Double = {
      val r = df.agg(count(lit(1)), countDistinct(col(c))).collect()(0)
      if (r.getLong(0) == 0) 0.0 else 1.0 - r.getLong(1).toDouble / r.getLong(0)
    }
    rec.layer("ops.dup_share_text") = share(docs, "text")
    rec.layer("ops.dup_share_embedding") = share(emb, "embedding")
    val gates = Seq(
      "gate.text" -> Gates.twin(spark, dir, Seq("text")),
      "gate.source_text" -> Gates.twin(spark, dir, Seq("source", "text")),
      "gate.lang_text" -> Gates.twin(spark, dir, Seq("lang", "text")),
      "gate.embedding" -> Gates.emb(spark, dir))
    gates.foreach { case (k, v) =>
      rec.info(k) = Out.str(v.map(b => if (b) "duplicated" else "unique").getOrElse("unavailable"))
    }
    rec.info("dup_share_text") = Out.num(rec.layer("ops.dup_share_text"))
    rec.info("dup_share_embedding") = Out.num(rec.layer("ops.dup_share_embedding"))
    rec.layer("ops.gates_on") = gates.count(_._2.contains(true)).toDouble
  }

  /** Per-row cost of each native kernel over this fixture's own rows,
    * replicated to ~200k rows: (kernel projection - baseline projection)
    * wall into the noop sink, median of three.
    */
  def kernels(): Unit = {
    import graft.functions._
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = emb.count()
    val reps = math.max(1L, 200000L / math.max(1L, n))
    val ref = emb.select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val refQ = ref.map(x => math.round(x * 1e6))
    val vecs = emb.select(col("embedding").cast("array<double>").as("e"))
      .withColumn("q", transform(col("e"), x => (x * 1e6).cast("bigint")))
      .withColumn("r", explode(sequence(lit(1L), lit(reps)))).persist()
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val names = docs.select(substring(col("text"), 1, 12).as("name"))
      .withColumn("r", explode(sequence(lit(1L), lit(math.max(1L, 200000L / math.max(1L, docs.count()))))))
      .persist()
    val tokens = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("r", explode(sequence(lit(1L), lit(math.max(1L, 200000L / math.max(1L, docs.count() * 40))))))
      .select(col("doc_id"), col("r"),
        concat(md5(concat(lit("0:"), col("tok"))), md5(concat(lit("1:"), col("tok")))).as("h"))
      .persist()
    def noop(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def perRow(df: DataFrame, rows: Long, kernel: DataFrame => DataFrame, base: DataFrame => DataFrame): Double = {
      noop(kernel(df)); noop(base(df)) // warm both plans
      val k = Out.median((1 to 3).map(_ => noop(kernel(df))))
      val b = Out.median((1 to 3).map(_ => noop(base(df))))
      math.max(0.0, k - b) / rows * 1e9
    }
    val (vn, nn, tn) = (vecs.count(), names.count(), tokens.count())
    val refCol = typedLit(ref)
    val refQCol = typedLit(refQ)
    rec.layer("functions.cosine_sim_ns_per_row") = perRow(vecs, vn,
      _.select(Functions.cosine_sim(col("e"), refCol)), _.select(size(col("e"))))
    rec.layer("functions.sq_dist_double_ns_per_row") = perRow(vecs, vn,
      _.select(SqDistDouble.sq_dist_double(col("e"), refCol)), _.select(size(col("e"))))
    rec.layer("functions.sq_dist_long_ns_per_row") = perRow(vecs, vn,
      _.select(SqDistLong.sq_dist_long(col("q"), refQCol)), _.select(size(col("q"))))
    rec.layer("functions.simhash64_ns_per_row") = perRow(tokens, tn,
      _.groupBy("doc_id", "r").agg(SimHash64Agg.simhash64(col("h"))),
      _.groupBy("doc_id", "r").agg(count(col("h"))))
    rec.layer("functions.deletion_keys_ns_per_row") = perRow(names, nn,
      _.select(DeletionKeys.deletionKeys(col("name"))), _.select(length(col("name"))))
    Seq(vecs, names, tokens).foreach(_.unpersist())
  }

  /** The timing action must prune nothing: the left joins of the
    * unique-right-key queries survive into the executed plan, and a
    * planted wrong row changes the fingerprint.
    */
  def selfTest(): Unit = {
    leftJoinProbes.foreach { q =>
      try {
        val df = queries(q)(spark, dir)
        val fp = Fingerprint.frame(df)
        val got = Fingerprint.render(fp.collect()(0))
        rec.info(s"fingerprint.$q") = Out.str(got)
        rec.check(s"selftest.$q.left_join_kept", hasLeftOuterJoin(fp.queryExecution.optimizedPlan),
          "the fingerprint plan lost its left join")
        val want = pins.path(fixture).path(q).asText("<unpinned>")
        rec.check(s"selftest.$q.fingerprint", got == want, s"fingerprint $got, pinned $want")
        rec.info(s"selftest.$q.count_keeps_left_join") =
          hasLeftOuterJoin(df.groupBy().count().queryExecution.optimizedPlan).toString
      } catch {
        case NonFatal(e) => rec.check(s"selftest.$q", ok = false, e.toString)
      } finally reset(spark)
    }
    val q1 = queries("q1_agg")(spark, dir)
    val pinned = pins.path(fixture).path("q1_agg").asText
    val first = q1.limit(1)
    val planted = q1.exceptAll(first).unionByName(
      first.select(q1.columns.toIndexedSeq.map(c =>
        if (c == q1.columns.last) (col(c) + lit(1)).as(c) else col(c)): _*))
    val extra = q1.unionByName(first)
    rec.check("selftest.q1_agg.pinned", Fingerprint.of(q1) == pinned, "unplanted result differs from pin")
    rec.check("selftest.planted_row_detected", Fingerprint.of(planted) != pinned, "planted wrong row not detected")
    rec.check("selftest.extra_row_detected", Fingerprint.of(extra) != pinned, "extra row not detected")
    reset(spark)
  }
}

/** Twin-gate verdicts, read reflectively: the gates are package-private
  * and may change shape; a missing gate reads "unavailable", never fails
  * the run.
  */
object Gates {
  private def call(module: String, method: String, args: AnyRef*): Option[Boolean] = try {
    val cls = Class.forName(module + "$")
    val inst = cls.getField("MODULE$").get(null)
    cls.getMethods.find(m => m.getName == method && m.getParameterCount == args.size)
      .map(_.invoke(inst, args: _*).asInstanceOf[java.lang.Boolean].booleanValue)
  } catch { case NonFatal(_) => None }

  def twin(spark: SparkSession, dir: String, keys: Seq[String]): Option[Boolean] =
    call("graft.ops.Dedup", "twinGate", spark, dir, keys.toList)

  def emb(spark: SparkSession, dir: String): Option[Boolean] =
    call("graft.ops.Kmeans", "embTwinGate", spark, dir)
}
