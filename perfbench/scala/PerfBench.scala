package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cluster.{Dbscan, Geoscan, GeoscanModel}
import graft.geo.{ConvexHull, GeoCell, GeoJson}
import graft.pipeline.GeoFraudPipeline
import graft.score.{Anomalies, Blooms}

/** Input sizes and run schedule of the workloads. */
object Sizes {
  val FraudUsers = 300
  val FraudMeanRows = 160
  /** geoscan_dist clusters the rows of every `DistRankStep`-th user by size
    * rank of a fraud-sized generation: the same home-place density, fewer
    * points, and the same sizes for every seed. */
  val DistRankStep = 5
  val RequestRows = 500
  /** geoscan_dist's exactness check clusters the first users' rows. */
  val SliceUsers = 4
  val Setups = 9
  val MinBatchOps = 3
  /** The JIT keeps compiling for tens of seconds of batch operations;
    * warm-up runs at least this many operations for this long. */
  val WarmBatchOps = 5
  val WarmBatchSeconds = 30.0
  val WarmRequestSeconds = 15.0
  val MinRequests = 40
  val WarmRequests = 60
}

final class CheckFailed(msg: String) extends RuntimeException(msg)

/** Run state shared by the workloads: the session, the scratch directory,
  * the operation counters and the pinned per-seed counts. */
final class Ctx(val spark: SparkSession, val work: String,
                pinned: Map[(String, Long), Map[String, Long]]) {
  var attempted = 0L
  var failed = 0L

  private val started = System.nanoTime()
  def log(msg: String): Unit = println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%6.1fs] $msg")

  /** One operation: counted as attempted, and as failed if it throws or a
    * check inside it fails. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        log(s"FAILED $what: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  def check(name: String, ok: Boolean, detail: => String): Unit =
    if (!ok) throw new CheckFailed(s"$name: $detail")

  /** Counts must repeat across operations of one run, and must equal the
    * pinned counts when this seed is pinned. */
  private val firstCounts = mutable.HashMap.empty[(String, Long), Map[String, Long]]
  def checkCounts(workload: String, seed: Long, counts: Map[String, Long]): Unit = {
    val first = firstCounts.getOrElseUpdate((workload, seed), counts)
    check(s"$workload.counts_repeat", first == counts, s"$counts vs first $first")
    pinned.get((workload, seed)).foreach { pin =>
      check(s"$workload.counts_pinned", pin.forall { case (k, v) => counts.get(k).contains(v) },
        s"$counts vs pinned $pin")
    }
  }

  /** Writes rows in the layout of the reference's `transactions.csv`:
    * latitude, longitude, amount, user, with a header. */
  def writeCsv(path: String, rows: Array[Tx]): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try {
      w.println("latitude,longitude,amount,user")
      rows.foreach(t => w.println(s"${t.latitude},${t.longitude},${t.amount},${t.user}"))
    } finally w.close()
  }

  /** Notebook 01's ingestion step: the CSV read with the program's schema
    * and written as the parquet transactions table. */
  def ingest(csv: String, table: String): Unit =
    GeoFraudPipeline.readTransactions(spark, csv).write.mode("overwrite").parquet(table)

  def genChecks(g: Generated, seed: Long, users: Int, meanRows: Int): Unit =
    Gen.verify(g, seed, users, meanRows).foreach { case (name, ok, detail) =>
      attempt(name) { check(name, ok, detail) }
      log(s"check $name ${if (ok) "ok" else "FAILED"}: $detail")
    }
}

/** One workload: its inputs, its set-up, and one operation of its closed
  * loop. `prepare` makes the inputs once, untimed; `setup` is what the
  * system does before it can serve, timed and repeated. An operation
  * returns its timed phases in seconds; `check` then verifies its
  * outputs, untimed, and `release` drops what it left cached. With a
  * tracer, each layer call runs in its own span. */
abstract class Workload(val ctx: Ctx, val seed: Long) {
  def name: String
  def rowsPerOp: Long
  def prepare(): Unit = ()
  def setup(): Unit
  def verifyOnce(): Unit
  def op(tr: Option[Tracer]): Map[String, Double]
  def check(tr: Option[Tracer]): Unit = ()
  def release(): Unit = spark.catalog.clearCache()
  /** Warm-up: at least `warmOps` operations, for at least `warmSeconds`. */
  def warmOps: Int = Sizes.WarmBatchOps
  def warmSeconds: Double = Sizes.WarmBatchSeconds
  def minOps: Int = Sizes.MinBatchOps
  /** Untraced/traced operation pairs a traced run makes, at least. */
  def minTracedPairs: Int = 2
  /** Layer records computed from the others of one traced operation. */
  def derive(m: Map[String, Double]): Map[String, Double] = m
  val spark: SparkSession = ctx.spark

  protected def span[T](tr: Option[Tracer], layer: String)(body: => T): T =
    tr.fold(body)(_.layer(layer)(body))

  protected def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  protected def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

/** Notebooks 01+02 as one batch: `GeoFraudPipeline.run` (personalized
  * fit, tiles, TF-IDF, Z-order tiles table), anti-join anomalies, Bloom
  * train and `scoreAuto`. Set-up is the ingestion of the transactions CSV. */
final class FraudBatch(ctx: Ctx, seed: Long) extends Workload(ctx, seed) {
  val name = "fraud_batch"
  lazy val gen: Generated = Gen.transactions(seed, Sizes.FraudUsers, Sizes.FraudMeanRows)
  def rowsPerOp: Long = gen.rows.length
  private def csvPath = s"${ctx.work}/fraud_tx.csv"
  private def txPath = s"${ctx.work}/fraud_tx"
  private def tilesPath = s"${ctx.work}/fraud_tiles"
  private var oracleDone = false

  override def prepare(): Unit = ctx.writeCsv(csvPath, gen.rows)

  def setup(): Unit = ctx.ingest(csvPath, txPath)

  def verifyOnce(): Unit = ctx.genChecks(gen, seed, Sizes.FraudUsers, Sizes.FraudMeanRows)

  /** Layers of `GeoFraudPipeline.run` by call site: a job goes to the layer
    * of the innermost of these frames on its stack. The tile cover is
    * lazy and persisted inside `run`, so its work lands in `tfidf`, whose
    * first job materializes it; `zorder_write` is the rest of `run`, the
    * range-partitioned sort and parquet write of the tiles table. */
  private val PipelineSites = Seq(
    "GeoscanPersonalized.fit(" -> "pers_fit",
    "GeoFraudPipeline$.tfidfTiles(" -> "tfidf",
    "GeoFraudPipeline$.run(" -> "zorder_write")

  /** fit → tiles table written, by `GeoFraudPipeline.run` itself. */
  private def train(tx: DataFrame, tr: Option[Tracer]): GeoFraudPipeline.Result = {
    def run() = GeoFraudPipeline.run(spark, tx, epsilon = 100.0, minPts = 3,
      tilePrecision = 10, tileLayers = 5, tilesOut = Some(tilesPath))
    tr.fold(run())(_.sites("pipeline", PipelineSites)(run()))
  }

  def op(tr: Option[Tracer]): Map[String, Double] = {
    val tx = spark.read.parquet(txPath)
    val (result, trainS) = timed(train(tx, tr))
    val (model, tiles) = (result.model, result.tiles)
    val anomalies = Anomalies.extract(tx, tiles, 10)
    val (_, detectS) = timed(span(tr, "anti_join")(noop(anomalies)))
    val (trained, scoreS) = timed {
      val trained = Blooms.train(tiles.select("user", "h3"), 0.01)
      span(tr, "bloom_score")(noop(Blooms.scoreAuto(tx, trained, 10)))
      trained
    }
    last = Some((tx, result, anomalies, trained))
    Map("train_s" -> trainS, "detect_s" -> detectS, "score_s" -> scoreS)
  }

  private var last: Option[(DataFrame, GeoFraudPipeline.Result, DataFrame, DataFrame)] = None

  /** A row's key is (user, lat, lng): the ingested table has the
    * reference's columns only. */
  override def check(tr: Option[Tracer]): Unit = last.foreach { case (tx, result, anomalies, trained) =>
    val (model, tiles) = (result.model, result.tiles)
    import spark.implicits._
    def keys(df: DataFrame) = df.select("user", "latitude", "longitude").as[(String, Double, Double)].collect()
    val joinKeys = keys(anomalies)
    val joinSet = joinKeys.toSet
    val bloomKeys = keys(Blooms.scoreAuto(tx, trained, 10).filter(col("anomaly") === 1))
    val blooms = Blooms.toMap(trained)
    val falseNegatives = Blooms.scoreCells(tiles.select("user", "h3"), blooms)
      .filter(col("anomaly") === 1).count()
    ctx.check("fraud.bloom_fn_zero", falseNegatives == 0, s"$falseNegatives trained tiles miss their filter")
    ctx.check("fraud.bloom_subset_join", bloomKeys.forall(joinSet),
      s"${bloomKeys.count(!joinSet(_))} Bloom anomalies are not join anomalies")
    val hulls = model.hullTable.count()
    val nTiles = tiles.count()
    if (!oracleDone) {
      val rows = tx.count()
      ctx.check("fraud.ingested_rows", rows == gen.rows.length, s"$rows rows ingested, ${gen.rows.length} generated")
      // the anti-join recomputed on the driver from the generated rows
      val known = tiles.select("user", "h3").as[(String, String)].collect()
        .map { case (u, h) => s"$u|$h" }.toSet
      val expected = gen.rows.iterator
        .filter(t => !known(s"${t.user}|${GeoCell.cellId(t.latitude, t.longitude, 10)}"))
        .map(t => (t.user, t.latitude, t.longitude)).toSet
      ctx.check("fraud.anti_join_oracle", expected == joinSet,
        s"${joinSet.size} join anomalies, driver recomputation gives ${expected.size}")
      oracleDone = true
    }
    lastCounts = Map("hulls" -> hulls, "tiles" -> nTiles, "anomalies" -> joinKeys.length.toLong)
    ctx.checkCounts(name, seed, lastCounts)
    tr.foreach { t =>
      // lazy public calls whose work the operation runs inside their
      // consumers, measured on their own after the timed phases
      t.layer("tiling")(noop(model.getTiles(10, 5, "geocell")))
      t.layer("bloom_train")(noop(Blooms.train(tiles.select("user", "h3"), 0.01)))
      val n = gen.rows.length.toDouble
      t.note("pers_fit", "rows_out", hulls.toDouble)
      t.note("pers_fit", "models", gen.homes.size.toDouble)
      t.note("tiling", "rows_out", model.getTiles(10, 5, "geocell").count().toDouble)
      t.note("tfidf", "rows_out", nTiles.toDouble)
      t.note("zorder_write", "rows_out", nTiles.toDouble)
      t.note("anti_join", "rows_out", joinKeys.length.toDouble)
      t.note("anti_join", "anomaly_ratio", joinKeys.length / n)
      t.note("bloom_train", "rows_out", blooms.size.toDouble)
      t.note("bloom_train", "filter_bytes",
        trained.agg(sum(length(col("bloom")))).head().getLong(0).toDouble)
      t.note("bloom_score", "rows_out", n)
      t.note("bloom_score", "broadcast", if (Blooms.fitsBroadcast(trained)) 1.0 else 0.0)
    }
  }

  override def derive(m: Map[String, Double]): Map[String, Double] =
    m ++ (for (n <- m.get("pers_fit.models"); s <- m.get("pers_fit.wall_s")) yield "pers_fit.models_per_s" -> n / s)

  var lastCounts: Map[String, Long] = Map.empty
}

/** Distributed GEOSCAN: fit, tile cover, then label every point. */
final class GeoscanDist(ctx: Ctx, seed: Long) extends Workload(ctx, seed) {
  val name = "geoscan_dist"
  lazy val full: Generated = Gen.transactions(seed, Sizes.FraudUsers, Sizes.FraudMeanRows)
  lazy val rows: Array[Tx] = full.rows.filter(t => full.rank(t.user) % Sizes.DistRankStep == 0)
  def rowsPerOp: Long = rows.length
  private def csvPath = s"${ctx.work}/dist_points.csv"
  private def ptsPath = s"${ctx.work}/dist_points"
  var lastCounts: Map[String, Long] = Map.empty

  override def prepare(): Unit = ctx.writeCsv(csvPath, rows)

  def setup(): Unit = ctx.ingest(csvPath, ptsPath)

  def verifyOnce(): Unit = {
    ctx.genChecks(full, seed, Sizes.FraudUsers, Sizes.FraudMeanRows)
    ctx.attempt("geoscan_dist.slice_equals_dbscan") {
      import spark.implicits._
      val first = full.rank.toSeq.filter(_._2 % Sizes.DistRankStep == 0).sortBy(_._1)
        .take(Sizes.SliceUsers).map(_._1).toSet
      val slice = rows.filter(t => first(t.user)).map(t => (t.latitude, t.longitude)).toIndexedSeq
      val labels = Dbscan.cluster(slice, 30.0, 10)
      val expected = labels.zip(slice).collect { case (Some(l), p) => (l, p) }
        .groupBy(_._1).values.map(g => GeoJson.polygon(ConvexHull.hull(g.map(_._2)))).toSeq.sorted
      val model = new Geoscan().setEpsilon(30.0).setMinPts(10).fit(slice.toDF("latitude", "longitude"))
      val actual = polygons(model.toGeoJson()).sorted
      ctx.check("geoscan_dist.slice_equals_dbscan", expected.nonEmpty && expected == actual,
        s"${actual.size} distributed clusters vs ${expected.size} from Dbscan.cluster")
      ctx.log(s"check geoscan_dist.slice_equals_dbscan ok: ${expected.size} clusters over ${slice.size} points")
    }
  }

  private def polygons(geoJson: String): Seq[String] =
    "\"geometry\":(\\{\"type\":\"Polygon\",\"coordinates\":\\[\\[.*?\\]\\]\\})".r
      .findAllMatchIn(geoJson).map(_.group(1)).toSeq

  def op(tr: Option[Tracer]): Map[String, Double] = {
    val pts = spark.read.parquet(ptsPath)
    val ((model, tiles), fitS) = timed {
      val m = span(tr, "dist_fit")(new Geoscan().setEpsilon(30.0).setMinPts(10).fit(pts))
      m.setTilePrecision(11).setTileLayers(1)
      (m, span(tr, "tiling")(m.cachedTiles(11, 1)))
    }
    val (_, labelS) = timed(span(tr, "dist_label")(noop(model.transform(pts))))
    last = Some((pts, model, tiles))
    Map("dist_fit_s" -> fitS, "dist_label_s" -> labelS)
  }

  private var last: Option[(DataFrame, GeoscanModel, DataFrame)] = None

  override def check(tr: Option[Tracer]): Unit = last.foreach { case (pts, model, tiles) =>
    val hulls = polygons(model.toGeoJson()).size.toLong
    val nTiles = tiles.count()
    val labeled = model.transform(pts).filter(col("cluster").isNotNull).count()
    ctx.check("geoscan_dist.nonempty", hulls > 0 && labeled > 0 && labeled <= rows.length,
      s"$hulls clusters, $labeled of ${rows.length} points labeled")
    lastCounts = Map("hulls" -> hulls, "tiles" -> nTiles, "labeled" -> labeled)
    ctx.checkCounts(name, seed, lastCounts)
    tr.foreach { t =>
      t.note("dist_fit", "rows_out", hulls.toDouble)
      t.note("dist_fit", "labeled_ratio", labeled.toDouble / rows.length)
      t.note("tiling", "rows_out", nTiles.toDouble)
      t.note("dist_label", "rows_out", rows.length.toDouble)
    }
  }
}

/** Per-request scoring against filters trained at set-up: each request is
  * 500 sampled transactions scored with `Blooms.score`, one client in a
  * closed loop — the `H3Lookup` serving shape. */
final class ServeClosed(ctx: Ctx, seed: Long) extends Workload(ctx, seed) {
  val name = "serve_closed"
  lazy val gen: Generated = Gen.transactions(seed, Sizes.FraudUsers, Sizes.FraudMeanRows)
  def rowsPerOp: Long = Sizes.RequestRows
  override def warmOps: Int = Sizes.WarmRequests
  override def warmSeconds: Double = Sizes.WarmRequestSeconds
  override def minOps: Int = Sizes.MinRequests
  override def minTracedPairs: Int = Sizes.MinRequests / 2
  private def txPath = s"${ctx.work}/serve_tx"
  private def tilesPath = s"${ctx.work}/serve_tiles"
  private var blooms: Map[String, org.apache.spark.util.sketch.BloomFilter] = Map.empty
  private var usersWithTiles = 0L
  private val pick = new java.util.Random(seed * 31 + 17)

  /** The tiles table the batch job leaves behind. */
  override def prepare(): Unit = {
    ctx.writeCsv(s"$txPath.csv", gen.rows)
    ctx.ingest(s"$txPath.csv", txPath)
    GeoFraudPipeline.run(spark, spark.read.parquet(txPath), epsilon = 100.0, minPts = 3,
      tilePrecision = 10, tileLayers = 5, tilesOut = Some(tilesPath))
    usersWithTiles = spark.read.parquet(tilesPath).select("user").distinct().count()
    spark.catalog.clearCache()
  }

  /** Filters trained from the tiles table and loaded into the server. */
  def setup(): Unit = {
    blooms = Blooms.toMap(Blooms.train(spark.read.parquet(tilesPath).select("user", "h3"), 0.01))
    ctx.check("serve.filters", blooms.size == usersWithTiles, s"${blooms.size} filters for $usersWithTiles users with tiles")
  }

  def verifyOnce(): Unit = ctx.genChecks(gen, seed, Sizes.FraudUsers, Sizes.FraudMeanRows)

  def op(tr: Option[Tracer]): Map[String, Double] = {
    import spark.implicits._
    val request = Array.fill(Sizes.RequestRows)(gen.rows(pick.nextInt(gen.rows.length)))
    val (verdicts, s) = timed(span(tr, "bloom_score_req") {
      Blooms.score(request.toSeq.toDF(), blooms, 10).select("tx_id", "anomaly").as[(Long, Int)].collect()
    })
    val expected = request.map { t =>
      val cell = GeoCell.cellId(t.latitude, t.longitude, 10)
      t.tx_id -> blooms.get(t.user).map(bf => if (bf.mightContainString(cell)) 0 else 1).getOrElse(1)
    }
    ctx.check("serve.verdicts_equal_probe", verdicts.toSeq.sorted == expected.toSeq.sorted,
      s"${verdicts.length} verdicts differ from the driver-side probe")
    tr.foreach(_.note("bloom_score_req", "rows_out", request.length.toDouble))
    Map("request_s" -> s)
  }

  override def derive(m: Map[String, Double]): Map[String, Double] = m ++ Map(
    "bloom_score.jobs_per_req" -> m.getOrElse("bloom_score_req.jobs", 0.0),
    "bloom_score.tasks_per_req" -> m.getOrElse("bloom_score_req.tasks", 0.0))
}

object PerfBench {
  final case class Args(workload: String = "", seed: Long = 0, seconds: Int = 10, trace: Boolean = false,
                        work: String = "", out: String = "", traceDir: String = "", cores: Int = 4,
                        pinned: String = "", pin: Option[(Long, Long)] = None,
                        metrics: Seq[(String, String)] = Nil)

  /** The workloads a run can name. `geoscan_dist` runs only inside traced
    * runs, so that the distributed layers have records. */
  val Workloads: Seq[String] = Seq("fraud_batch", "serve_closed")
  val TracedWorkloads: Seq[String] = Workloads :+ "geoscan_dist"

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(workload = m("workload"), seed = m("seed").toLong, seconds = m("seconds").toInt,
      trace = m.get("trace").contains("1"), work = m("work"), out = m.getOrElse("out", ""),
      traceDir = m.getOrElse("trace-dir", ""), cores = m.getOrElse("cores", "4").toInt,
      pinned = m.getOrElse("pinned", ""),
      pin = m.get("pin").map { s => val Array(a, b) = s.split(":"); (a.toLong, b.toLong) },
      metrics = m.get("metrics").toSeq.flatMap(_.split(",")).map { nu =>
        val i = nu.lastIndexOf(':'); nu.take(i) -> nu.drop(i + 1) })
  }

  def loadPinned(path: String): Map[(String, Long), Map[String, Long]] =
    if (path.isEmpty || !new File(path).isFile) Map.empty
    else {
      val src = scala.io.Source.fromFile(path)
      try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val f = l.split("\\s+")
        (f(0), f(1).toLong) -> f.drop(2).map { kv => val Array(k, v) = kv.split("="); k -> v.toLong }.toMap
      }.toMap
      finally src.close()
    }

  def make(ctx: Ctx, name: String, seed: Long): Workload = name match {
    case "fraud_batch" => new FraudBatch(ctx, seed)
    case "geoscan_dist" => new GeoscanDist(ctx, seed)
    case "serve_closed" => new ServeClosed(ctx, seed)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.length).toInt - 1))
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Workloads.contains(a.workload), s"unknown workload '${a.workload}'; one of ${Workloads.mkString(", ")}")
    require(a.metrics.nonEmpty || a.pin.isDefined, "--metrics name:unit,... names the metrics to report")
    val spark = session(a)
    val ctx = new Ctx(spark, a.work, loadPinned(a.pinned))
    try a.pin match {
      case Some((from, to)) => pin(ctx, from, to)
      case None =>
        val metrics = if (a.trace) traced(ctx, a) else endToEnd(ctx, a)
        writeResult(a.out, ctx, metrics, a.metrics)
    } finally spark.stop()
  }

  /** Prints the counts each seed in `from..to` produces, for pinned.tsv. */
  def pin(ctx: Ctx, from: Long, to: Long): Unit =
    for (seed <- from to to; workload <- Seq("fraud_batch", "geoscan_dist")) {
      val w = make(ctx, workload, seed)
      w.prepare()
      w.setup()
      w.op(None)
      w.check(None)
      w.release()
      val counts = w match {
        case f: FraudBatch => f.lastCounts
        case d: GeoscanDist => d.lastCounts
      }
      println(s"$workload $seed " + counts.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" "))
    }

  /** Set up once, warm up, then operations until `seconds` of measured
    * time, then the timed set-ups; end-to-end metrics with no listener
    * attached. The set-ups are timed in the warmed JVM (the first one of a
    * fresh JVM mostly measures Spark compiling its own code paths) and
    * after the operations, so that they do not run between them. */
  def endToEnd(ctx: Ctx, a: Args): Map[String, Double] = {
    val w = make(ctx, a.workload, a.seed)
    ctx.log(s"${w.name} seed=${a.seed} rows/op=${w.rowsPerOp} cores=${a.cores}")
    w.verifyOnce()
    ctx.attempt(s"${w.name} inputs") { w.prepare(); w.setup() }
    warmUp(ctx, w)
    val ops = loop(ctx, w, a.seconds)
    val setups = (1 to Sizes.Setups).flatMap { i =>
      ctx.attempt(s"setup $i") {
        val t0 = System.nanoTime()
        w.setup()
        (System.nanoTime() - t0) / 1e9
      }
    }
    ctx.log("set-ups " + setups.map(s => f"${s * 1e3}%.0f").mkString(" ") + " ms")
    report(ctx, w, setups, ops, a.metrics.toMap)
  }

  /** Untimed operations until the JIT has settled: at least `warmOps` of
    * them, for at least `warmSeconds`. */
  def warmUp(ctx: Ctx, w: Workload): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < w.warmOps || (System.nanoTime() - t0) / 1e9 < w.warmSeconds) {
      i += 1
      checkedOp(ctx, w, s"warm-up $i").foreach { p =>
        if (w.minOps <= Sizes.MinBatchOps) ctx.log(f"warm-up $i: ${p.values.sum * 1e3}%.1f ms")
      }
    }
  }

  /** One untraced operation and its check, counted as one attempt. */
  def checkedOp(ctx: Ctx, w: Workload, label: String): Option[Map[String, Double]] =
    try ctx.attempt(s"${w.name} $label") { val p = w.op(None); w.check(None); p }
    finally w.release()

  private val jit = java.lang.management.ManagementFactory.getCompilationMXBean
  private def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .toArray.map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getCollectionTime).sum

  /** Runs untraced operations until their measured time reaches `seconds`
    * (and at least the workload's minimum count). Returns the phases of
    * each successful operation; batch operations also log the JIT and GC
    * time they overlapped. */
  def loop(ctx: Ctx, w: Workload, seconds: Int): Seq[Map[String, Double]] = {
    val done = mutable.ArrayBuffer.empty[Map[String, Double]]
    var measured = 0.0
    var tries = 0
    while ((measured < seconds || tries < w.minOps) && tries < w.minOps * 200) {
      tries += 1
      val jit0 = jit.getTotalCompilationTime
      val gc0 = gcMs
      checkedOp(ctx, w, s"op $tries").foreach { phases =>
        val ms = phases.values.sum * 1e3
        if (w.minOps <= Sizes.MinBatchOps)
          ctx.log(f"op $tries: $ms%.1f ms (JIT ${jit.getTotalCompilationTime - jit0} ms, GC ${gcMs - gc0} ms)")
        measured += ms / 1e3
        done += phases
      }
    }
    done.toSeq
  }

  def report(ctx: Ctx, w: Workload, setups: Seq[Double], ops: Seq[Map[String, Double]],
             units: Map[String, String]): Map[String, Double] = {
    val walls = ops.map(_.values.sum * 1e3)
    val out = mutable.LinkedHashMap.empty[String, Double]
    if (setups.nonEmpty) out("setup_s") = median(setups)
    if (walls.nonEmpty) out("op_p50_ms") = median(walls)
    ctx.log(s"${w.name}: ${walls.length} operations, ${w.rowsPerOp} rows each, ${setups.length} set-ups")
    out.foreach { case (k, v) => ctx.log(f"metric $k%-14s $v%.4f ${units.getOrElse(k, "")}") }
    // the named phase metrics of this workload, each the median over operations
    if (ops.nonEmpty) ops.head.keys.toSeq.sorted.foreach { k =>
      ctx.log(f"metric $k%-14s ${median(ops.map(_(k)))}%.4f s (median of ${ops.length})")
    }
    if (w.name == "serve_closed" && walls.nonEmpty) {
      ctx.log(f"metric serve_p50_ms   ${median(walls)}%.3f ms (${walls.length} requests)")
      ctx.log(f"metric serve_p95_ms   ${percentile(walls, 0.95)}%.3f ms (${walls.length} requests, " +
        s"${walls.count(_ > percentile(walls, 0.95))} above)")
    }
    if (w.name == "fraud_batch" && ops.nonEmpty) {
      val detect = median(ops.map(_("detect_s")))
      ctx.log(f"baseline detect_s $detect%.3f s over ${w.rowsPerOp} rows " +
        f"(${detect * 500000 / w.rowsPerOp}%.3f s per 500k); reference claim: < 5 s over ~500k")
    }
    ctx.log(f"metric fail_ratio     ${ctx.failed.toDouble / math.max(1L, ctx.attempted)}%.4f " +
      s"(${ctx.failed} of ${ctx.attempted} operations)")
    out.toMap
  }

  /** Traced run: operations of the named workload alternate untraced and
    * traced, which gives the tracing overhead; then every other workload
    * runs traced once, so each layer gets a record. A layer's value is the
    * median over the named workload's traced operations when that
    * workload calls the layer, else the other workloads' value. */
  def traced(ctx: Ctx, a: Args): Map[String, Double] = {
    val byWorkload = mutable.LinkedHashMap.empty[String, Seq[Map[String, Double]]]
    val spans = mutable.ArrayBuffer.empty[Span]
    var overheadPct = Double.NaN
    val order = a.workload +: TracedWorkloads.filterNot(_ == a.workload)
    order.foreach { name =>
      val w = make(ctx, name, a.seed)
      val main = name == a.workload
      w.verifyOnce()
      if (ctx.attempt(s"$name set-up") { w.prepare(); w.setup() }.isDefined) {
        // only the named workload is warmed; the others give one cold record
        if (main) warmUp(ctx, w)
        val tracer = new Tracer(ctx.spark, name)
        try {
          val plain = mutable.ArrayBuffer.empty[Double]
          val withTrace = mutable.ArrayBuffer.empty[Double]
          val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
          val least = w.minTracedPairs
          val rounds = if (main) Int.MaxValue else math.max(1, least / 4)
          var measured = 0.0
          var i = 0
          while (i < rounds && (i < least || (main && measured < a.seconds)) && i < least * 200) {
            i += 1
            if (main) checkedOp(ctx, w, s"op $i").foreach { p =>
              plain += p.values.sum * 1e3
              measured += p.values.sum
            }
            var phases = Map.empty[String, Double]
            val traced = ctx.attempt(s"$name traced op $i") {
              tracer.op { phases = w.op(Some(tracer)); w.check(Some(tracer)) }
            }
            w.release()
            traced.foreach { m =>
              if (w.minOps <= Sizes.MinBatchOps) ctx.log(s"$name traced op $i: " +
                phases.toSeq.sorted.map { case (k, v) => f"$k $v%.4f s" }.mkString(", "))
              withTrace += phases.values.sum * 1e3
              measured += phases.values.sum
              layers += w.derive(m)
            }
          }
          if (main && plain.nonEmpty && withTrace.nonEmpty) {
            overheadPct = (median(withTrace.toSeq) / median(plain.toSeq) - 1) * 100
            ctx.log(f"$name tracing overhead $overheadPct%.2f%% (traced median ${median(withTrace.toSeq)}%.1f ms " +
              f"over ${withTrace.length}, untraced ${median(plain.toSeq)}%.1f ms over ${plain.length})")
          }
          byWorkload(name) = layers.toSeq
          spans ++= tracer.spans
        } finally tracer.close()
      }
    }
    writeSpans(a, spans.toSeq)
    val out = mutable.LinkedHashMap.empty[String, Double]
    val names = a.metrics.map(_._1)
    names.foreach { key =>
      order.iterator.map(n => byWorkload.getOrElse(n, Nil).flatMap(_.get(key)))
        .find(_.nonEmpty).foreach(vs => out(key) = median(vs))
    }
    if (!overheadPct.isNaN) out("trace.overhead_pct") = overheadPct
    out.get("pers_fit.models_per_s").foreach { r =>
      ctx.log(f"baseline pers_fit $r%.1f models/s; reference claim: 200 models in a couple of minutes " +
        f"(~${200.0 / 120}%.1f models/s)")
    }
    val missing = names.filterNot(out.contains)
    ctx.attempt("trace.every_layer_recorded") {
      ctx.check("trace.every_layer_recorded", missing.isEmpty, s"no record for ${missing.mkString(", ")}")
    }
    out.toMap
  }

  private def json(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def writeSpans(a: Args, spans: Seq[Span]): Unit = if (a.traceDir.nonEmpty) {
    new File(a.traceDir).mkdirs()
    val f = new File(a.traceDir, s"${a.workload}-seed${a.seed}.jsonl")
    val w = new PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      val m = s.metrics.toSeq.sortBy(_._1).map { case (k, v) => s"${json(k)}:${num(v)}" }.mkString(",")
      w.println(s"""{"id":${s.id},"parent":${s.parent},"workload":${json(s.workload)},""" +
        s""""name":${json(s.name)},"start_ms":${num(s.startMs)},"end_ms":${num(s.endMs)},"metrics":{$m}}""")
    } finally w.close()
    println(s"[perfbench] wrote ${spans.length} spans to $f")
  }

  def writeResult(path: String, ctx: Ctx, metrics: Map[String, Double], names: Seq[(String, String)]): Unit = {
    val body = names.filter { case (k, _) => metrics.contains(k) }.map { case (k, u) =>
      s"""${json(k)}: {"value": ${num(metrics(k))}, "unit": ${json(u)}}"""
    }.mkString(", ")
    val complete = names.nonEmpty && names.forall { case (k, _) => metrics.contains(k) }
    val line = s"""{"correct": ${ctx.failed == 0 && complete}, """ +
      s""""attempted": ${ctx.attempted}, "failed": ${ctx.failed}, "metrics": {$body}}"""
    val w = new PrintWriter(path, "UTF-8")
    try w.println(line) finally w.close()
  }
}
