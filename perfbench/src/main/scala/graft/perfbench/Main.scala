package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.{Bench, Raster, SparkEntry}
import graft.functions.GeoMath
import graft.sources.tiff._

/** A timed region, as two `System.nanoTime` readings. */
final case class Interval(startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    fixtures: Path, work: Path, result: Path, sfDir: String, cpus: Int)

/** What one run measured. `metrics` holds the end-to-end metrics of an
  * untraced run or the per-layer metrics of a traced one; `info` is
  * printed beside them (contention witness, derived figures).
  */
final case class Outcome(attempted: Long, failed: Long, failures: Seq[String],
    metrics: Seq[(String, Double, String)], info: Seq[(String, Double)],
    queryRuns: Map[String, Int] = Map.empty, queryErrors: Map[String, Int] = Map.empty) {
  def toJson: String = Json.obj(Seq(
    "attempted" -> attempted.toString,
    "failed" -> failed.toString,
    "failures" -> failures.map(Json.str).mkString("[", ", ", "]"),
    "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
    "info" -> Json.obj(info.map { case (k, v) => k -> Json.num(v) }),
    "query_runs" -> Json.obj(queryRuns.map { case (k, v) => k -> v.toString }),
    "query_errors" -> Json.obj(queryErrors.map { case (k, v) => k -> v.toString })))
}

/** Entry point of the measured JVM: one workload, one run. Invoked by
  * perfbench/run.py, which builds the classpath beforehand and checks
  * catalog outputs against DuckDB after.
  */
object Main {
  /** Setups per run; setup_s reports their median. */
  val Setups = 3

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      Paths.get(kv("fixtures")), Paths.get(kv("work")), Paths.get(kv("result")),
      kv("sf"), kv("cpus").toInt)
    val out = a.workload match {
      case "raster_csv_area" | "raster_parquet_cog_utm" => RasterWorkload.run(a)
      case "catalog_mix" => CatalogWorkload.run(a)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Files.writeString(a.result, out.toJson)
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `setup` [[Setups]] times, each in a fresh session, and keeps
    * the last session. Returns it with every setup's interval.
    */
  def setUp(a: Args)(setup: SparkSession => Unit): (SparkSession, Seq[Interval]) = {
    var spark: SparkSession = null
    val setups = (1 to Setups).map { _ =>
      if (spark != null) spark.stop()
      interval {
        spark = session(a)
        setup(spark)
      }
    }
    (spark, setups)
  }

  def timed(f: => Unit): Double = interval(f).seconds

  def interval(f: => Unit): Interval = {
    val t0 = System.nanoTime()
    f
    Interval(t0, System.nanoTime())
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** Contention witness, taken before the timed units: the 1-minute load
    * average and the program's own single-thread calibration probe.
    */
  def witness(): Seq[(String, Double)] = {
    val load = new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split("\\s+")(0).toDouble
    Seq("loadavg1" -> load, "calib_s" -> Bench.calibrationProbe())
  }

  /** The JVM's resident-set high-water mark (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  def message(e: Throwable): String = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)

  /** Per-layer metrics, in the order BENCHMARK.json lists them. A layer a
    * workload does not touch reports 0 there.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "tiff.TiffTags.read_ms" -> "ms",
    "tiff.GeoTiffScan.plan_ms" -> "ms",
    "tiff.GeoTiffScan.windows" -> "count",
    "tiff.StripDecode.decode_s" -> "s",
    "tiff.StripDecode.bytes_in" -> "bytes",
    "tiff.StripDecode.bytes_out" -> "bytes",
    "tiff.reader.drain_s" -> "s",
    "tiff.reader.emit_ns_per_point" -> "ns",
    "tiff.reader.points" -> "count",
    "tiff.reader.nodata_skipped" -> "count",
    "tiff.reader.useful_ratio" -> "ratio",
    "GeoMath.area_ns_per_px" -> "ns",
    "CrsTransform.zip_ns_per_px" -> "ns",
    "sink.encode_s" -> "s",
    "sink.share" -> "ratio",
    "sink.bytes" -> "bytes",
    "catalog.build_s" -> "s",
    "catalog.cold_build_s" -> "s",
    "catalog.build_jobs" -> "count",
    "catalog.plan_s" -> "s",
    "catalog.exec_s" -> "s",
    "catalog.exchanges" -> "count") ++
    CatalogWorkload.Mix.flatMap(q =>
      Seq(s"catalog.$q.build_s" -> "s", s"catalog.$q.plan_s" -> "s", s"catalog.$q.exec_s" -> "s")) ++
    Seq(
      "spark.jobs" -> "count",
      "spark.stages" -> "count",
      "spark.tasks" -> "count",
      "spark.task_run_s" -> "s",
      "spark.task_cpu_s" -> "s",
      "spark.gc_s" -> "s",
      "spark.task_skew" -> "ratio",
      "spark.shuffle_write_bytes" -> "bytes",
      "spark.spill_bytes" -> "bytes",
      "spark.output_bytes" -> "bytes",
      "spark.storage_mem_bytes" -> "bytes")

  /** The traced run's per-layer metrics, also written with its spans. */
  def perLayer(tracer: Tracer, out: Path, measured: Iterable[(String, Double)])
      : Seq[(String, Double, String)] = {
    val values = measured.toMap
    val unknown = values.keySet -- PerLayer.map(_._1)
    require(unknown.isEmpty, s"undeclared per-layer metrics: ${unknown.mkString(", ")}")
    val all = PerLayer.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
    tracer.counts ++= all.map { case (n, v, _) => n -> v }
    tracer.write(out)
    all
  }

  /** The end-to-end metrics: every timed figure read at the nominal host
    * speed (each setup, cold unit and warm unit divided by the host's
    * slowdown over its own interval, [[HostProbe.slowdown]]), and the RSS
    * high-water mark. A warm unit is one interval or several (the queries
    * of a catalog pass, each scaled on its own). The raw seconds and the
    * host factors go to `info`.
    */
  def endToEnd(setups: Seq[Interval], cold: Seq[Interval], warm: Seq[Seq[Interval]],
      probe: HostProbe, info: ArrayBuffer[(String, Double)]): Seq[(String, Double, String)] = {
    probe.stop()
    def raw(u: Seq[Interval]) = u.map(_.seconds).sum
    def scaled(u: Seq[Interval]) = u.map(i => i.seconds / probe.slowdown(i)).sum
    val all = setups ++ cold ++ warm.flatten
    all.foreach(i =>
      System.err.println(f"[perfbench] ${i.seconds}%.3f s at host factor ${probe.factor(i)}%.3f"))
    info ++= Seq(
      "setup_raw_s" -> median(setups.map(_.seconds)),
      "cold_raw_s" -> raw(cold),
      "wall_raw_s" -> median(warm.map(raw)),
      "host_factor_cold" -> math.pow(raw(cold) / scaled(cold), 1 / HostProbe.Exponent),
      "host_factor_median" -> median(all.map(probe.factor)),
      "host_factor_max" -> all.map(probe.factor).max,
      "probe_chunks" -> probe.chunks.toDouble)
    Seq(
      ("setup_s", median(setups.map(i => scaled(Seq(i)))), "s"),
      ("cold_s", scaled(cold), "s"),
      ("wall_s", median(warm.map(scaled)), "s"),
      ("peak_rss_mb", peakRssMb(), "MB"))
  }
}

/** The two raster workloads: one `graft.Raster` job per unit, written
  * through its real sink (CSV or Parquet) and read back for checking.
  */
object RasterWorkload {
  import Main._

  val MaxBlock = 512
  /** Untimed units after the cold one: the JIT keeps optimizing the job's
    * code over its first few executions, and `wall_s` is the steady state.
    */
  val WarmUp = 2
  val MinWarm = 6
  val MaxWarm = 20

  final case class Job(rasters: Seq[String], colNames: Seq[String], calcArea: Boolean,
      resample: String, csv: Boolean)

  def job(a: Args): Job = {
    def f(n: String) = a.fixtures.resolve(n).toString
    a.workload match {
      case "raster_csv_area" =>
        Job(Seq(f("mask.tif"), f("twin.tif")), Seq("mask", "twin"), calcArea = true, "", csv = true)
      case _ =>
        Job(Seq(f("mask.tif"), f("utm.tif")), Seq("mask", "utm"), calcArea = false, "nearest", csv = false)
    }
  }

  def frame(spark: SparkSession, j: Job): DataFrame =
    Raster.raster2df(spark, j.rasters, j.colNames, MaxBlock, j.calcArea, resample = j.resample)

  def writeReal(spark: SparkSession, j: Job, out: String): Unit =
    if (j.csv) Raster.raster2csv(spark, j.rasters, out, ",", j.colNames, MaxBlock, j.calcArea)
    else frame(spark, j).write.mode("overwrite").parquet(out)

  def writeNoop(spark: SparkSession, j: Job): Unit =
    frame(spark, j).write.format("noop").mode("overwrite").save()

  /** Reads the unit's output back and compares it with the fixture
    * generator's figures: exact row count, value sums (exact, or within
    * the generator's stated slack; area to 1e-9 relative), lon/lat bounds.
    */
  def check(spark: SparkSession, j: Job, out: String, e: Fixtures.Expected): Option[String] = {
    val valueCols = j.colNames ++ (if (j.calcArea) Seq("area") else Nil)
    val df =
      if (j.csv) spark.read.option("header", "true")
        .schema(StructType((Seq("lon", "lat") ++ valueCols).map(StructField(_, DoubleType)))).csv(out)
      else spark.read.parquet(out)
    val aggs = Seq(count(lit(1)), min("lon"), max("lon"), min("lat"), max("lat")) ++
      valueCols.map(c => sum(col(c).cast(DoubleType)))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val problems = ArrayBuffer[String]()
    if (row.getLong(0) != e.points) problems += s"rows ${row.getLong(0)} != ${e.points}"
    Seq("lon_min" -> e.lonMin, "lon_max" -> e.lonMax, "lat_min" -> e.latMin, "lat_max" -> e.latMax)
      .zipWithIndex.foreach { case ((k, v), i) =>
        val got = row.getDouble(1 + i)
        if (math.abs(got - v) > 1e-9) problems += s"$k $got != $v"
      }
    valueCols.zipWithIndex.foreach { case (c, i) =>
      val got = row.getDouble(5 + i)
      val want = e.sums(c)
      val tol = e.slack.getOrElse(c, 0.0) + (if (c == "area") 1e-9 * math.abs(want) else 0.0)
      if (!(math.abs(got - want) <= tol)) problems += s"sum($c) $got != $want (tolerance $tol)"
    }
    if (problems.isEmpty) None else Some(problems.mkString("; "))
  }

  /** The data files the sink wrote, in partition order. */
  def parts(out: String): Seq[Path] =
    Files.list(Paths.get(out)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq.sortBy(_.getFileName.toString)

  /** CRC-32C over the data files' bytes in partition order. A unit whose
    * output has the same CRC as an output already read back and checked
    * is not read back again.
    */
  def crc(files: Seq[Path]): Long = {
    val c = new java.util.zip.CRC32C()
    val buf = java.nio.ByteBuffer.allocateDirect(1 << 20)
    files.foreach { f =>
      val ch = java.nio.channels.FileChannel.open(f)
      try while (ch.read(buf) > 0) { buf.flip(); c.update(buf); buf.clear() }
      finally ch.close()
    }
    c.getValue
  }

  def run(a: Args): Outcome = {
    val j = job(a)
    val t0 = System.nanoTime()
    val exp = Fixtures.write(a.workload, a.seed, a.fixtures)
    val fixtureSecs = (System.nanoTime() - t0) / 1e9
    val out = a.work.resolve("out").toString
    // setup = session start plus geotiff source resolution (provider
    // lookup and tag read of every raster)
    val probe = new HostProbe
    val (spark, setups) = setUp(a)(s => frame(s, j))
    val info = ArrayBuffer[(String, Double)]() ++ witness()
    info += "setup_first_s" -> setups.head.seconds
    info += "fixtures_s" -> fixtureSecs
    var attempted = 0L
    val failures = ArrayBuffer[String]()
    val bytes = ArrayBuffer[Double]()
    val verified = mutable.Set[Long]()
    /** One unit through the real sink, checked; its interval if it passed. */
    def unit(): Option[Interval] = {
      attempted += 1
      try {
        val iv = interval(writeReal(spark, j, out))
        System.err.println(f"[perfbench] unit $attempted%d: ${iv.seconds}%.3f s")
        val files = parts(out)
        bytes += files.map(Files.size(_).toDouble).sum
        val sum = crc(files)
        (if (verified(sum)) None else check(spark, j, out, exp)) match {
          case None => verified += sum; Some(iv)
          case Some(p) => failures += s"unit $attempted: $p"; None
        }
      } catch { case NonFatal(e) => failures += s"unit $attempted: ${message(e)}"; None }
    }
    val counters = new SparkCounters
    val tracer = new Tracer(s"${a.workload}-${a.seed}")
    val tUnits = System.nanoTime()
    def elapsed = (System.nanoTime() - tUnits) / 1e9
    val metrics =
      if (!a.trace) {
        val cold = unit()
        (1 to WarmUp).foreach(_ => unit())
        val t1 = System.nanoTime()
        val warm = ArrayBuffer[Interval]()
        var n = 0
        while ((n < MinWarm || (System.nanoTime() - t1) / 1e9 < a.seconds) && n < MaxWarm) {
          warm ++= unit()
          n += 1
        }
        val secs = warm.map(_.seconds)
        info += "out_bytes_per_point" -> median(bytes.toSeq) / exp.points
        info += "warm_units" -> warm.size.toDouble
        info += "warm_min_s" -> secs.minOption.getOrElse(Double.NaN)
        info += "warm_max_s" -> secs.maxOption.getOrElse(Double.NaN)
        val e2e = endToEnd(setups, cold.toSeq, warm.map(Seq(_)).toSeq, probe, info)
        val wall = e2e.collectFirst { case ("wall_s", v, _) => v }.get
        info += "mpx_per_s" -> Fixtures.Size.toDouble * Fixtures.Size / 1e6 / wall
        e2e
      } else {
        spark.sparkContext.addSparkListener(counters)
        tracer.span("unit.cold")(unit())
        (1 to WarmUp).foreach(_ => unit())
        val layers = RasterLayers.trace(tracer, j)
        // alternate: real sink traced, real sink untraced, noop sink traced
        val traced, untraced, noop = ArrayBuffer[Double]()
        var sparkCounts = Seq.empty[(String, Double)]
        var n = 0
        while (n < 2 || (elapsed < a.seconds && n < MaxWarm / 3)) {
          n += 1
          counters.reset()
          traced ++= tracer.span("unit.real")(unit()).map(_.seconds)
          sparkCounts = counters.snapshot(spark.sparkContext)
          spark.sparkContext.removeSparkListener(counters)
          untraced ++= unit().map(_.seconds)
          spark.sparkContext.addSparkListener(counters)
          noop += tracer.span("unit.noop")(timed(writeNoop(spark, j)))
        }
        val real = median(traced.toSeq)
        val encode = real - median(noop.toSeq)
        info += "trace_overhead_s" -> (real - median(untraced.toSeq))
        probe.stop()
        perLayer(tracer, a.work.resolve("trace.json"), layers ++ sparkCounts ++ Seq(
          "sink.encode_s" -> encode, "sink.share" -> encode / real, "sink.bytes" -> bytes.last))
      }
    spark.stop()
    Outcome(attempted, failures.size.toLong, failures.toSeq, metrics, info.toSeq)
  }
}

/** The traced run's layer split of a raster job: each module's public
  * functions called directly from here, one thread, over the job's
  * windows, with a span around each call.
  */
object RasterLayers {
  val Reps = 5
  @volatile private var blackhole = 0.0

  def trace(t: Tracer, j: RasterWorkload.Job): Seq[(String, Double)] = {
    val opts = new CaseInsensitiveStringMap(Map(
      "paths" -> j.rasters.mkString(","), "colNames" -> j.colNames.mkString(","),
      "maxBlockSize" -> RasterWorkload.MaxBlock.toString, "calcArea" -> j.calcArea.toString,
      "resample" -> j.resample).asJava)
    (1 to Reps).foreach(_ => t.span("tiff.TiffTags.read")(j.rasters.foreach(TiffTags.read)))
    val table = GeoTiffTable.fromOptions(opts)
    val schema = table.schema()
    val metas = table.metas
    val m0 = metas.head
    var parts: Array[TiffWindow] = Array.empty
    (1 to Reps).foreach { _ =>
      parts = t.span("tiff.GeoTiffScan.plan")(
        table.newScanBuilder(opts).build().toBatch.planInputPartitions())
        .map(_.asInstanceOf[GeoTiffPartition].window)
    }
    // decode: the mask and every secondary read on the mask's own windows
    var bytesIn, bytesOut = 0.0
    for (w <- parts; m <- metas if m.sameGrid(m0)) {
      val bytesPer = m.bitsPerSample / 8
      val arr = t.span("tiff.StripDecode.decode") {
        if (m.tiled) StripDecode.readTiledWindow(m, w, bytesPer)
        else if (m.compression == 1 && m.predictor == 1) StripDecode.readRawWindow(m, w, bytesPer)
        else StripDecode.readCompressedWindow(m, w, bytesPer)
      }
      bytesOut += arr.length
      bytesIn += chunkBytes(m, w).getOrElse(arr.length.toDouble)
    }
    var points = 0L
    for (w <- parts) t.span("tiff.GeoTiffPartitionReader.drain") {
      val r = new GeoTiffPartitionReader(metas.toArray, j.colNames.toArray, schema, w,
        j.calcArea, Array.fill(metas.size)(1), j.resample.nonEmpty)
      try while (r.next()) { r.get(); points += 1 } finally r.close()
    }
    val pixels = parts.map(w => w.width.toLong * w.height).sum.toDouble
    val decode = t.seconds("tiff.StripDecode.decode")
    val drain = t.seconds("tiff.GeoTiffPartitionReader.drain")
    // per-pixel math over every 4th row of the mask grid
    def perPx(name: String)(f: (Double, Double) => Double): Double = {
      var n = 0L
      var acc = 0.0
      t.span(name) {
        var r = 0
        while (r < m0.height) {
          var c = 0
          while (c < m0.width) { acc += f(m0.lonOf(c, r), m0.latOf(c, r)); c += 1 }
          n += m0.width
          r += 4
        }
      }
      blackhole = acc
      t.seconds(name) * 1e9 / n
    }
    val area =
      if (!j.calcArea) 0.0
      else perPx("functions.GeoMath.pixelAreaAffineM2")((_, lat) =>
        GeoMath.pixelAreaAffineM2(lat, m0.pixelScaleX, m0.pixelScaleY, m0.rotX, m0.rotY))
    val zip = metas.tail.flatMap(CrsTransform.zipTransform(m0, _)).headOption
      .map(f => perPx("tiff.CrsTransform.zip") { (x, y) => val (a, b) = f(x, y); a + b })
      .getOrElse(0.0)
    Seq(
      "tiff.TiffTags.read_ms" -> t.seconds("tiff.TiffTags.read") * 1e3 / Reps,
      "tiff.GeoTiffScan.plan_ms" -> t.seconds("tiff.GeoTiffScan.plan") * 1e3 / Reps,
      "tiff.GeoTiffScan.windows" -> parts.length.toDouble,
      "tiff.StripDecode.decode_s" -> decode,
      "tiff.StripDecode.bytes_in" -> bytesIn,
      "tiff.StripDecode.bytes_out" -> bytesOut,
      "tiff.reader.drain_s" -> drain,
      "tiff.reader.emit_ns_per_point" -> (drain - decode) * 1e9 / points,
      "tiff.reader.points" -> points.toDouble,
      "tiff.reader.nodata_skipped" -> (pixels - points),
      "tiff.reader.useful_ratio" -> points / pixels,
      "GeoMath.area_ns_per_px" -> area,
      "CrsTransform.zip_ns_per_px" -> zip)
  }

  /** Compressed bytes of the tiles a window touches (None: uncompressed). */
  private def chunkBytes(m: TiffTags.RasterMeta, w: TiffWindow): Option[Double] =
    if (m.compression == 1 || !m.tiled) None
    else {
      val across = (m.width + m.tileWidth - 1) / m.tileWidth
      val tiles = for {
        tr <- w.rowOff / m.tileLength to (w.rowOff + w.height - 1) / m.tileLength
        tc <- w.colOff / m.tileWidth to (w.colOff + w.width - 1) / m.tileWidth
      } yield m.tileByteCounts(tr * across + tc).toDouble
      Some(tiles.sum)
    }
}

/** The catalog mix: five declared queries, each pass in a seeded order,
  * every query written through the noop sink.
  */
object CatalogWorkload {
  import Main._

  /** One query per construction mechanism, plus relational shuffle work:
    * eager checkpoints on every construction (q177), an ArtifactCache model
    * trained once (q120), a Scratch.once index (q109), a memoized
    * DeferredResult (q117), and two lineitem scans with percentiles (q50).
    */
  val Mix: Seq[String] = Seq("q177_ingest_fold", "q120_quality_centroid", "q109_bm25_indexed",
    "q117_sparse_cosine", "q50_percentiles")
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")
  val MinWarm = 1
  val MaxWarm = 6

  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** Plan-rewrite install, table footer reads (each table's schema-checked
    * DataFrame) and the noop write path: first-use costs paid before the
    * first query.
    */
  def setup(spark: SparkSession, sf: String): Unit = {
    graft.plans.GraftFunctions.installPlanRewrites(spark)
    Tables.foreach(t => graft.Tables(spark, sf, t).schema)
    spark.range(10).write.format("noop").mode("overwrite").save()
  }

  def run(a: Args): Outcome = {
    val probe = new HostProbe
    val (spark, setups) = setUp(a)(setup(_, a.sfDir))
    val info = ArrayBuffer[(String, Double)]() ++ witness()
    info += "setup_first_s" -> setups.head.seconds
    val runs = mutable.Map[String, Int]().withDefaultValue(0)
    val errors = mutable.Map[String, Int]().withDefaultValue(0)
    val failures = ArrayBuffer[String]()
    val counters = new SparkCounters
    val tracer = new Tracer(s"${a.workload}-${a.seed}")
    val layer = mutable.Map[String, Double]()

    /** One pass over the mix; returns each query's interval (the pass's
      * seconds are their sum). Traced passes split each query into
      * construction, planning and execution of the planned plan.
      */
    def pass(p: Int, traced: Boolean, keep: mutable.Map[String, DataFrame]): Seq[Interval] = {
      val order = new scala.util.Random(a.seed * 7919 + p).shuffle(Mix)
      var buildJobs = 0L
      var exchanges = 0
      val queries = order.map { q =>
        runs(q) += 1
        interval(try {
          val fn = SparkEntry.queries(q)
          if (!traced) {
            val df = fn(spark, a.sfDir)
            df.write.format("noop").mode("overwrite").save()
            keep(q) = df
          } else {
            org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
            val jobs0 = counters.jobCount
            val df = tracer.span(s"catalog.$q.build")(fn(spark, a.sfDir))
            org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
            buildJobs += counters.jobCount - jobs0
            val qe = df.queryExecution
            tracer.span(s"catalog.$q.plan")(qe.executedPlan)
            tracer.span(s"catalog.$q.exec")(
              SQLExecution.withNewExecutionId(qe, Some(s"perfbench $q"))(qe.toRdd.foreach(_ => ())))
            exchanges += PlanWalk.collectWithSubqueries(qe.executedPlan) {
              case e: ShuffleExchangeLike => e }.size
            keep(q) = df
          }
        } catch { case NonFatal(e) =>
          errors(q) += 1
          failures += s"$q (pass $p): ${message(e)}"
        })
      }
      if (traced) {
        layer("catalog.build_jobs") = buildJobs.toDouble
        layer("catalog.exchanges") = exchanges.toDouble
      }
      queries
    }

    def layerSplit(since: Long): Unit = {
      Seq("build", "plan", "exec").foreach { part =>
        val perQuery = Mix.map(q => q -> tracer.secondsSince(s"catalog.$q.$part", since))
        perQuery.foreach { case (q, s) => layer(s"catalog.$q.${part}_s") = s }
        layer(s"catalog.${part}_s") = perQuery.map(_._2).sum
      }
    }

    val cold = mutable.Map[String, DataFrame]()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    if (a.trace) spark.sparkContext.addSparkListener(counters)
    val coldPass = pass(0, a.trace, cold)
    if (a.trace) layer("catalog.cold_build_s") = Mix.map(q => tracer.seconds(s"catalog.$q.build")).sum
    // outside the timed passes: each query's rows in the layout
    // tools/check_oracle.py reads (one parquet part per query)
    val checkDir = a.work.resolve("check")
    val tCheck = System.nanoTime()
    cold.foreach { case (q, df) =>
      try df.coalesce(1).write.mode("overwrite").parquet(checkDir.resolve(q).toString)
      catch { case NonFatal(e) => failures += s"$q (check): ${message(e)}" }
    }
    Files.createDirectories(checkDir)
    Files.writeString(checkDir.resolve("oracle_sql.json"),
      Json.obj(Mix.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> Json.str(_)))))
    info += "check_s" -> (System.nanoTime() - tCheck) / 1e9
    val warm = ArrayBuffer[Seq[Interval]]()
    val traced = ArrayBuffer[Double]()
    var p = 1
    val tWarm = System.nanoTime()
    val metrics =
      if (!a.trace) {
        // another pass only if it would end within --seconds (a pass is
        // most of the measured time, and the run's length must not depend
        // on whether the host was fast enough to start one more)
        def last = warm.last.map(_.seconds).sum
        while ((warm.size < MinWarm || (System.nanoTime() - tWarm) / 1e9 + last < a.seconds) &&
            p <= MaxWarm) {
          warm += pass(p, traced = false, mutable.Map()); p += 1
        }
        info += "warm_passes" -> warm.size.toDouble
        endToEnd(setups, coldPass, warm.toSeq, probe, info)
      } else {
        var sparkCounts = Seq.empty[(String, Double)]
        while (warm.isEmpty || (elapsed < a.seconds && p <= MaxWarm)) {
          counters.reset()
          val since = System.nanoTime()
          traced += pass(p, traced = true, mutable.Map()).map(_.seconds).sum
          sparkCounts = counters.snapshot(spark.sparkContext)
          layerSplit(since)
          spark.sparkContext.removeSparkListener(counters)
          warm += pass(p + 1, traced = false, mutable.Map())
          spark.sparkContext.addSparkListener(counters)
          p += 2
        }
        info += "trace_overhead_s" ->
          (median(traced.toSeq) - median(warm.map(_.map(_.seconds).sum).toSeq))
        probe.stop()
        perLayer(tracer, a.work.resolve("trace.json"), layer ++ sparkCounts)
      }
    spark.stop()
    Outcome(runs.values.sum.toLong, errors.values.sum.toLong, failures.toSeq, metrics, info.toSeq,
      runs.toMap, errors.toMap)
  }
}
