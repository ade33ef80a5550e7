package graft.perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.etl.{Consolidate, FacilityCatalog, Readings}
import graft.model.Schemas
import graft.sources.CsvCache
import graft.stream.{Ingest, Melt, State}

/** The paper's own pipeline over twelve generated hours of the fleet.
  *
  * Batch half: facility catalog, unit readings, the wide pivot, the CSV
  * cache written and read back, then the melt to JSON events staged as one
  * file per two hours of event time. Stream half: the staged files replay
  * as a file stream through ingest and enrichment into the dashboard's two
  * stateful views, windowed totals and latest-per-facility, on the RocksDB
  * state store. A closing sentinel event advances the watermark so every
  * real window closes; both views are then compared with a batch
  * evaluation of the same `State` functions over the same staged files.
  */
object NemWeek {
  val FilesPerTrigger = 2 // four hours of event time per micro-batch
  private val ChunkSeconds = 7200

  final case class Etl(stages: Seq[(String, Double)], staged: File, lookup: String,
      events: Long, inputMb: Double, cacheMb: Double) {
    def wall: Double = stages.map(_._2).sum
  }

  final case class Stream(wall: Double, batchMs: Seq[Double], events: Long,
      progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress])

  private def metricSchema(key: String): StructType = new StructType()
    .add("results", ArrayType(new StructType()
      .add("columns", new StructType().add(key, StringType))
      .add("data", ArrayType(ArrayType(StringType)))))

  private def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).map(du).sum else f.length

  /** Where a traced pass records its spans: the tracer and the pass's root span. */
  final case class Trace(tracer: Tracer, root: Int) {
    def apply[T](name: String)(f: => T): T = {
      val id = tracer.open(root, "nem_week", name)
      try f finally tracer.close(id)
    }
  }

  private def timed[T](out: mutable.ArrayBuffer[(String, Double)], trace: Option[Trace],
      name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val v = trace.fold(f)(_(s"etl.$name")(f))
    out += name -> (System.nanoTime() - t0) / 1e9
    v
  }

  private def materialise(df: DataFrame): DataFrame = {
    val p = df.persist()
    p.write.format("noop").mode("overwrite").save()
    p
  }

  /** Raw JSON to staged event files. With `split`, the readings and the
    * pivot are materialised at their boundaries so each stage gets its
    * own wall (the traced run); without it they run as one job chain
    * inside the CSV write, as the extractor does.
    */
  def etl(spark: SparkSession, raw: String, work: File, startEpochS: Long, split: Boolean,
      trace: Option[Trace]): Etl = {
    val st = mutable.ArrayBuffer[(String, Double)]()
    val read = spark.read
    val facRaw = read.schema(Schemas.facilitiesRaw).json(s"$raw/facilities.json")
    val fueltech = read.schema(Schemas.fueltech).json(s"$raw/fueltech.json")
    val lookup = new File(work, "facility_lookup").getPath
    val (facilities, unitMap) = timed(st, trace, "catalog") {
      val dim = FacilityCatalog.facilityDim(facRaw, fueltech)
      CsvCache.writeLookup(dim, lookup)
      val unitMap = materialise(FacilityCatalog.unitToFacility(facRaw))
      (CsvCache.readLookup(spark, lookup).select("facility_id").collect().map(_.getString(0)).sorted.toSeq,
        unitMap)
    }
    val regions = Schemas.regions.map(_._1)
    def metric(name: String, key: String) = read.schema(metricSchema(key)).json(s"$raw/$name")
    var facility = Readings.facilityReadings(
      Readings.unitReadings(metric("power", "unit_code"), metric("emissions", "unit_code")), unitMap)
    var market = Readings.marketReadings(metric("price", "region_code"), metric("demand", "region_code"))
    if (split) timed(st, trace, "readings") { facility = materialise(facility); market = materialise(market) }
    var wide = Consolidate.wideCache(Consolidate.pivotFacility(facility, facilities),
      Consolidate.pivotMarket(market, regions))
    if (split) timed(st, trace, "pivot") { wide = materialise(wide) }
    val cache = new File(work, "wide_cache")
    timed(st, trace, "csv_write")(CsvCache.writeWide(wide, cache.getPath))
    val back = timed(st, trace, "csv_read")(materialise(CsvCache.readWide(spark, cache.getPath)))
    val staged = new File(work, "staged")
    val events = timed(st, trace, "melt_stage")(stage(Melt.jsonStream(back, facilities, regions),
      new File(work, "melted"), staged, startEpochS))
    Seq(facility, market, wide, back, unitMap).foreach(_.unpersist())
    Etl(st.toSeq, staged, lookup, events, du(new File(raw)) / 1e6, du(cache) / 1e6)
  }

  /** One text file per two hours of event time, mtimes in event-time
    * order so the file source replays them chronologically, then one
    * sentinel file a day past the last event. Returns the staged line count.
    */
  private def stage(events: DataFrame, tmp: File, staged: File, startEpochS: Long): Long = {
    val ts = try_to_timestamp(get_json_object(col("value"), "$.timestamp"))
    val chunk = floor((unix_seconds(ts) - lit(startEpochS)) / ChunkSeconds).cast("int")
    val withChunk = events.withColumn("chunk", chunk).persist()
    val n = withChunk.count()
    withChunk.repartition(col("chunk")).write.mode("overwrite").partitionBy("chunk").text(tmp.getPath)
    withChunk.unpersist()
    staged.mkdirs()
    val t0 = System.currentTimeMillis() - 3600L * 1000L
    val dirs = tmp.listFiles().filter(_.getName.startsWith("chunk=")).sortBy(_.getName.drop(6).toInt)
    dirs.foreach { d =>
      val k = d.getName.drop(6).toInt
      d.listFiles().filter(_.getName.startsWith("part-")).zipWithIndex.foreach { case (f, i) =>
        val dst = new File(staged, f"events-$k%03d-$i%02d.json")
        Files.move(f.toPath, dst.toPath, StandardCopyOption.REPLACE_EXISTING)
        dst.setLastModified(t0 + k * 1000L)
      }
    }
    val last = dirs.map(_.getName.drop(6).toInt).max
    val sentinelTs = java.time.Instant.ofEpochSecond(startEpochS + (last + 12L + 1) * ChunkSeconds)
      .atOffset(java.time.ZoneOffset.ofHours(10)).toLocalDateTime.toString + ":00+10:00"
    val sentinel = new File(staged, "events-sentinel.json")
    Files.writeString(sentinel.toPath,
      s"""{"facility_id":"SENTINEL","timestamp":"$sentinelTs","power_mw":0.0,"co2_tonnes":0.0}""" + "\n")
    sentinel.setLastModified(t0 + (last + 10) * 1000L)
    n
  }

  private def enriched(spark: SparkSession, raw: DataFrame, lookup: String): DataFrame =
    Ingest.enrichFacility(Ingest.facilityEvents(raw), CsvCache.readLookup(spark, lookup))

  /** Replays the staged files through both views; `tag` keeps each pass's
    * sink tables and checkpoints apart.
    */
  def stream(spark: SparkSession, etl: Etl, work: File, tag: String, trace: Option[Trace]): Stream = {
    def source = spark.readStream.option("maxFilesPerTrigger", FilesPerTrigger.toString)
      .text(etl.staged.getPath)
    def run(name: String, df: DataFrame, mode: String): StreamingQuery = trace.fold(start(name, df, mode))(
      _(s"stream.$name")(start(name, df, mode)))
    def start(name: String, df: DataFrame, mode: String): StreamingQuery = {
      val q = df.writeStream.format("memory").queryName(s"${name}_$tag").outputMode(mode)
        .option("checkpointLocation", new File(work, s"cp_${name}_$tag").getPath)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q
    }
    val t0 = System.nanoTime()
    val win = run("win", State.windowedTotals(enriched(spark, source, etl.lookup)), "append")
    val latest = run("latest", State.latestPerFacility(enriched(spark, source, etl.lookup)), "complete")
    val wall = (System.nanoTime() - t0) / 1e9
    val progress = (win.recentProgress ++ latest.recentProgress).toSeq.filter(_.numInputRows > 0)
    Stream(wall, progress.map(_.durationMs.get("triggerExecution").doubleValue),
      progress.map(_.numInputRows).sum, progress)
  }

  /** Streamed views against a batch evaluation of the same functions over
    * the same staged files. Windows at or past the sentinel's bucket stay
    * open in the stream and are excluded.
    */
  def check(spark: SparkSession, etl: Etl, tag: String, rec: Record): Unit = {
    val batch = enriched(spark, spark.read.text(etl.staged.getPath), etl.lookup)
    def key(r: org.apache.spark.sql.Row) = r.get(0).toString
    val expWin = State.windowedTotals(batch).collect().map(r => key(r) -> r).toMap
    val gotWin = spark.table(s"win_$tag").collect().map(r => key(r) -> r).toMap
    val sentinelBucket = expWin.keys.max
    val want = expWin - sentinelBucket
    val close = (a: Double, b: Double) => math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
    val winBad = want.count { case (k, e) =>
      gotWin.get(k).forall(g => !close(g.getDouble(1), e.getDouble(1)) || !close(g.getDouble(2), e.getDouble(2)))
    } + (gotWin.keySet -- want.keySet).size
    rec.check("nem_week.windowed_totals", winBad == 0 && want.nonEmpty,
      s"$winBad of ${want.size} windows differ from the batch evaluation")
    val expLatest = State.latestPerFacility(batch).collect().map(_.toSeq).toSet
    val gotLatest = spark.table(s"latest_$tag").collect().map(_.toSeq).toSet
    rec.check("nem_week.latest_per_facility", expLatest == gotLatest && expLatest.nonEmpty,
      s"${(expLatest diff gotLatest).size} missing, ${(gotLatest diff expLatest).size} unexpected")
  }
}
