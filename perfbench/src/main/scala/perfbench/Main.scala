package perfbench

import graft.jobs.CalculateTimes
import graft.routing.{RawPoint, RoadNetwork, Router, Snapper}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.{count, sum}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** One benchmark run: one publish job through `CalculateTimes.run`, then
  * a closed loop of lookups over the tree it published, every output
  * checked, one JSON result line printed. See perfbench/README.md.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, spans: Path, cores: Int, nproc: Int)

  /** What a workload hands the engine: generated inputs as Datasets, and
    * the router and snapper its publish job runs with.
    */
  final case class Setup(inputs: OdInputs, origins: Dataset[RawPoint], dests: Dataset[RawPoint],
      router: Router, snapper: Snapper, routerBuildS: Double)

  final case class Workload(name: String, zipfKeys: Boolean, prepare: (SparkSession, Long) => Setup)

  // Sizes keep one run near a minute on a 4-core box: a cold JVM, the
  // session and the first job are a fixed cost that larger inputs would
  // only multiply, and a comparison needs tens of runs per workload.
  val SynthOrigins = 500
  val SynthDests = 500
  val GridSide = 32
  val NetOrigins = 500
  val NetDests = 500
  /** quadtree leaves must reach 1×1 within CalculateTimes' maxDepth (12) */
  val OSplit = 125
  val DSplit = 125
  val SetupRounds = 3
  /** lookup rounds right after attach: a consumer's first queries,
    * counted in setup_s
    */
  val WarmUpRounds = 3
  /** further rounds before the closed loop, checked but not timed.
    * Lookups get about twice as fast (join ~300 → ~150 ms) over the first
    * ~60 rounds while the JIT compiles Spark's planner and reader; sampled
    * on that slope, the percentiles measure how far the warm-up got,
    * which varies with the host's load.
    */
  val SettleRounds = 50
  /** per query type; p75 then has five samples beyond it */
  val MinQueries = 20
  val QueryTypes: Seq[String] = Seq("origin", "dest", "join")

  /** JSON for the result, info and span lines (Spark's own Jackson) */
  val json: com.fasterxml.jackson.databind.ObjectMapper =
    com.fasterxml.jackson.databind.json.JsonMapper.builder()
      .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule).build()

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def synth(spark: SparkSession, seed: Long): Setup = {
    import spark.implicits._
    val in = new SynthInputs(seed, SynthOrigins, SynthDests)
    val (router, s) = timed(in.router())
    Setup(in, in.origins.raw.toDS(), in.dests.raw.toDS(), router, in.snapper(), s)
  }

  private def network(spark: SparkSession, seed: Long): Setup = {
    import spark.implicits._
    val in = new NetworkInputs(seed, GridSide, NetOrigins, NetDests)
    val edges = in.edgeRows.toDF(NetworkInputs.EdgeColumns: _*).cache()
    val (router, s) = timed(RoadNetwork.chRouter(spark, edges))
    val snapper = new RoadNetwork.NetworkSnapper(
      spark.sparkContext.broadcast(RoadNetwork.buildCsr(edges)))
    edges.unpersist()
    Setup(in, in.origins.raw.toDS(), in.dests.raw.toDS(), router, snapper, s)
  }

  val Workloads: Seq[Workload] = Seq(
    Workload("publish_synth", zipfKeys = true, synth),
    Workload("route_network", zipfKeys = false, network))

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")), Paths.get(need("spans")), need("cores").toInt, need("nproc").toInt)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = Workloads.find(_.name == a.workload)
      .getOrElse(throw new IllegalArgumentException(s"unknown workload ${a.workload}"))
    val t0Ns = System.nanoTime()
    val t0Epoch = System.currentTimeMillis()
    val spark = graft.GraftSession.builder("perfbench", s"local[${a.cores}]")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0Ns) / 1e9
    try println(new Run(spark, w, a, t0Ns, t0Epoch, sessionS).execute())
    finally spark.stop()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** nearest-rank percentile */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN else s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }
}

/** Walks adaptive plans into their query stages. */
private object Plans extends AdaptiveSparkPlanHelper

final case class Lookup(typ: String, ms: Double, planMs: Double, rows: Long,
    files: Long, partitions: Long, scanned: Long, span: Long)

final case class Published(result: CalculateTimes.Result, seconds: Double,
    bytes: Long, files: Long, span: Long, counters: Option[RoutingCounters])

final class Run(spark: SparkSession, w: Main.Workload, a: Main.Args,
    t0Ns: Long, t0Epoch: Long, sessionS: Double) {
  import Main._

  private val tracer = if (a.trace) Some(new Tracer(spark.sparkContext, t0Ns, t0Epoch)) else None
  private val rootSpan = tracer.fold(0L)(_.newId())
  private var attempted = 0
  private var failed = 0
  private val problems = ArrayBuffer.empty[String]

  /** one checked operation: counts toward `attempted`, and toward
    * `failed` when it throws or its output is wrong
    */
  private def op[A](what: String)(body: => A)(ok: A => Boolean): Option[A] = {
    attempted += 1
    val r = try Some(body) catch { case NonFatal(e) => problems += s"$what: $e"; None }
    val good = r.exists { x =>
      try ok(x) catch { case NonFatal(e) => problems += s"$what check: $e"; false }
    }
    if (!good) {
      failed += 1
      if (r.isDefined) problems += s"$what: wrong output"
    }
    r.filter(_ => good)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_)) finally st.close()
    }

  /** (bytes, files) of the parquet files in the published trees */
  private def publishedSize(r: CalculateTimes.Result): (Long, Long) = {
    val files = Seq(r.timesDir, r.missingDir, r.pointsDir, r.metadataDir).flatMap { d =>
      val st = Files.walk(Paths.get(d))
      try st.toArray.toSeq.map(_.asInstanceOf[Path]).filter(_.toString.endsWith(".parquet"))
      finally st.close()
    }
    (files.map(Files.size).sum, files.size.toLong)
  }

  // ------------------------------------------------------------ set-up

  private val prepared: Seq[(Setup, Double)] =
    (1 to SetupRounds).map(_ => timed(w.prepare(spark, a.seed)))
  private val setup: Setup = prepared.last._1
  private val in: OdInputs = setup.inputs

  // ------------------------------------------------------------ checks

  private def close(got: Double, want: Double): Boolean =
    if (in.tolerance == 0.0) got == want
    else math.abs(got - want) <= in.tolerance * math.max(1.0, math.abs(want))

  private def allPairs = for (i <- 0 until in.origins.size; j <- 0 until in.dests.size) yield (i, j)

  /** Pair conservation (|times| + |missing| = nO × nD = the metadata
    * row's calc_n_pairs), the exact missing set and the duration
    * checksum. Row-by-row answers are checked by every lookup.
    */
  private def checkPublish(r: CalculateTimes.Result): Boolean = {
    val Row(nTimes: Long, durSum: Double) =
      spark.read.parquet(r.timesDir).agg(count("*"), sum("duration_sec")).head()
    val missing = spark.read.parquet(r.missingDir).select("origin_id", "destination_id")
      .collect().map(x => (x.getString(0), x.getString(1)))
    val metaPairs = spark.read.parquet(r.metadataDir).select("calc_n_pairs").collect().map(_.getLong(0))
    val wantMissing = allPairs.collect {
      case (i, j) if in.expected(i, j).isNaN => (in.origins.ids(i), in.dests.ids(j))
    }.toSet
    val wantSum = allPairs.map { case (i, j) => in.expected(i, j) }.filterNot(_.isNaN).sum
    nTimes + missing.length == in.nPairs && metaPairs.toSeq == Seq(in.nPairs) &&
      missing.length == wantMissing.size && missing.toSet == wantMissing &&
      math.abs(durSum - wantSum) <= 1e-9 * wantSum
  }

  private lazy val dIndex = in.dests.ids.zipWithIndex.toMap

  /** `rows` (id at the other end → duration) are exactly key `k`'s
    * routable pairs
    */
  private def answerOk(k: Int, rows: Seq[(String, Double)], byOrigin: Boolean): Boolean = {
    val other = if (byOrigin) in.dests else in.origins
    val want = other.ids.indices.flatMap { x =>
      val d = if (byOrigin) in.expected(k, x) else in.expected(x, k)
      if (d.isNaN) None else Some(other.ids(x) -> d)
    }.toMap
    rows.size == want.size && rows.forall { case (id, d) => want.get(id).exists(close(d, _)) }
  }

  private def lookupOk(typ: String, k: Int, rows: Array[Row]): Boolean = {
    val byKey = rows.toSeq.map(r => r.getString(0) -> r.getDouble(1))
    typ match {
      case "dest" => answerOk(k, byKey, byOrigin = false)
      case "origin" => answerOk(k, byKey, byOrigin = true)
      case "join" => answerOk(k, byKey, byOrigin = true) && rows.forall { r =>
        (r.getDouble(2), r.getDouble(3)) == in.oSnapped(k) &&
          (r.getDouble(4), r.getDouble(5)) == in.dSnapped(dIndex(r.getString(0)))
      }
    }
  }

  // ----------------------------------------------------------- publish

  /** The measured publish job: the first in a fresh JVM, as a publisher
    * runs it. Traced, the router and snapper are wrapped in counters and
    * its Spark jobs carry the span.
    */
  private def publishJob(): Published = {
    val counters = tracer.map(_ => new RoutingCounters(spark.sparkContext))
    val router = counters.fold(setup.router)(new CountingRouter(setup.router, _))
    val snapper = counters.fold(setup.snapper)(new CountingSnapper(setup.snapper, _))
    var span = 0L
    def run() = timed(CalculateTimes.run(spark, setup.origins, setup.dests, snapper, router,
      CalculateTimes.Config(oSplit = OSplit, dSplit = DSplit, outDir = a.work.resolve("tree").toString)))
    op("publish") {
      tracer match {
        case Some(t) => t.span("publish job", rootSpan) { id => span = id; run() }
        case None => run()
      }
    }(x => checkPublish(x._1)).map { case (res, s) =>
      val (bytes, files) = publishedSize(res)
      Published(res, s, bytes, files, span, counters)
    }.getOrElse(throw new IllegalStateException(s"publish failed: ${problems.mkString("; ")}"))
  }

  // ----------------------------------------------------------- lookups

  private def sql(typ: String, k: Int): String = typ match {
    case "origin" =>
      val id = in.origins.ids(k)
      s"""SELECT destination_id, duration_sec FROM graft_times
         |WHERE version = '0.0.1' AND mode = 'car' AND year = '2024'
         |  AND geography = 'county' AND centroid_type = 'weighted'
         |  AND state = '${id.substring(7, 9)}' AND origin_id = '$id'""".stripMargin
    case "dest" =>
      s"SELECT origin_id, duration_sec FROM graft_times WHERE destination_id = '${in.dests.ids(k)}'"
    case "join" =>
      val id = in.origins.ids(k)
      s"""SELECT t.destination_id, t.duration_sec,
         |  po.lon_snapped, po.lat_snapped, pd.lon_snapped, pd.lat_snapped
         |FROM graft_times t
         |LEFT JOIN graft_points po ON po.point_type = 'origin' AND po.id = t.origin_id
         |LEFT JOIN graft_points pd ON pd.point_type = 'destination' AND pd.id = t.destination_id
         |WHERE t.state = '${id.substring(7, 9)}' AND t.origin_id = '$id'""".stripMargin
  }

  /** Seeded lookup keys: uniform, or Zipf(1.1) over a seeded ranking. */
  private object Keys {
    private val rng = new scala.util.Random(a.seed * 31 + 7)
    private def ranked(n: Int): (Array[Int], Array[Double]) = {
      val perm = rng.shuffle((0 until n).toVector).toArray
      val w = (1 to n).map(r => 1.0 / math.pow(r, 1.1)).scanLeft(0.0)(_ + _).tail.toArray
      (perm, w.map(_ / w.last))
    }
    private val (oPerm, oCdf) = ranked(in.origins.size)
    private val (dPerm, dCdf) = ranked(in.dests.size)
    private def draw(perm: Array[Int], cdf: Array[Double]): Int =
      if (!w.zipfKeys) rng.nextInt(perm.length)
      else {
        val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
        perm(if (i >= 0) i else math.min(-i - 1, perm.length - 1))
      }
    def next(typ: String): Int = if (typ == "dest") draw(dPerm, dCdf) else draw(oPerm, oCdf)
  }

  /** One lookup, timed from `spark.sql` to the collected rows. Traced:
    * planning is timed apart, the scan nodes' SQL metrics are read back,
    * and its Spark jobs carry the span.
    */
  private def lookup(typ: String, traced: Boolean): Option[Lookup] = {
    val k = Keys.next(typ)
    val q = sql(typ, k)
    op(s"$typ lookup") {
      tracer.filter(_ => traced) match {
        case None =>
          val t0 = System.nanoTime()
          val rows = spark.sql(q).collect()
          (rows, Lookup(typ, (System.nanoTime() - t0) / 1e6, Double.NaN, rows.length, 0, 0, 0, 0))
        case Some(t) => t.span(s"query $typ", rootSpan) { id =>
          val t0 = System.nanoTime()
          val df = spark.sql(q)
          df.queryExecution.executedPlan
          val t1 = System.nanoTime()
          val rows = df.collect()
          val ms = (System.nanoTime() - t0) / 1e6
          val scans = Plans.collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
          def m(name: String) = scans.map(_.metrics.get(name).fold(0L)(_.value)).sum
          (rows, Lookup(typ, ms, (t1 - t0) / 1e6, rows.length,
            m("numFiles"), m("numPartitions"), m("numOutputRows"), id))
        }
      }
    }(x => lookupOk(typ, k, x._1)).map(_._2)
  }

  /** Closed loop, one client: at least `--seconds` of lookups and
    * [[MinQueries]] of each type. Traced runs alternate untraced and
    * traced rounds, so the overhead is measured within the run.
    */
  private def lookups(): Seq[Lookup] = {
    val done = ArrayBuffer.empty[Lookup]
    var busy = 0.0
    var round = 0
    def fewest = QueryTypes.map(t => done.count(_.typ == t)).min
    while ((busy < a.seconds || fewest < MinQueries) && round < 10 * MinQueries) {
      QueryTypes.foreach { typ =>
        lookup(typ, tracer.isDefined && round % 2 == 1).foreach { l => done += l; busy += l.ms / 1000 }
      }
      round += 1
    }
    done.toSeq
  }

  // ------------------------------------------------------------ report

  def execute(): String = {
    val pub = publishJob()
    val checkedAt = (System.nanoTime() - t0Ns) / 1e9
    val (_, consumerSetupS) = timed {
      val catalog = a.work.resolve("pointer.catalog").toString
      graft.sources.PointerCatalog.save(catalog,
        Map("graft_times" -> pub.result.timesDir, "graft_points" -> pub.result.pointsDir))
      graft.sources.PointerCatalog.attach(spark, catalog)
      for (_ <- 1 to WarmUpRounds; typ <- QueryTypes) lookup(typ, traced = false)
    }
    val (_, settleS) = timed(for (_ <- 1 to SettleRounds; typ <- QueryTypes) lookup(typ, traced = false))
    val (looks, lookupsS) = timed(lookups())
    deleteTree(a.work.resolve("tree"))
    val setupS = sessionS + median(prepared.map(_._2)) + consumerSetupS

    val info = ArrayBuffer[(String, Any)](
      "workload" -> w.name, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "local_k" -> a.cores, "nproc" -> a.nproc, "pairs" -> in.nPairs,
      "origins" -> in.origins.size, "destinations" -> in.dests.size,
      "published_bytes" -> pub.bytes, "published_files" -> pub.files,
      "publish_s" -> pub.seconds,
      "queries" -> QueryTypes.map(t => t -> looks.count(_.typ == t)).toMap,
      "setup_parts_s" -> Map("session" -> sessionS, "prepare_median" -> median(prepared.map(_._2)),
        "consumer" -> consumerSetupS),
      "published_and_checked_at_s" -> checkedAt, "settle_s" -> settleS, "lookups_s" -> lookupsS,
      "run_s" -> (System.nanoTime() - t0Ns) / 1e9,
      "error_rate" -> failed.toDouble / math.max(1, attempted),
      "problems" -> problems.take(5).toSeq)
    val metrics = tracer match {
      case None => endToEnd(pub, looks, setupS)
      case Some(t) =>
        val (m, perLayerS) = timed(perLayer(t, pub, looks))
        info += "per_layer_s" -> perLayerS
        t.record(Span(rootSpan, 0, s"workload ${w.name}", 0.0, t.nowMs))
        t.write(a.spans)
        info += "spans" -> a.spans.toString
        m
    }
    println(json.writeValueAsString(Map("info" -> info.toMap)))
    json.writeValueAsString(scala.collection.immutable.ListMap(
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap))
  }

  private def latencies(typ: String, ls: Seq[Lookup]) = ls.filter(_.typ == typ).map(_.ms)

  private def endToEnd(pub: Published, looks: Seq[Lookup], setupS: Double): Seq[(String, Double, String)] =
    Seq(
      ("setup_s", setupS, "s"),
      ("pairs_per_s", in.nPairs / pub.seconds, "1/s"),
      ("published_bytes_per_pair", pub.bytes.toDouble / in.nPairs, "B"),
      ("success_rate", 1.0 - failed.toDouble / math.max(1, attempted), "ratio"),
      ("queries_per_s", looks.size / looks.map(_.ms / 1000).sum, "1/s")) ++
      QueryTypes.flatMap { t =>
        val xs = latencies(t, looks)
        Seq((s"${t}_ms.p50", median(xs), "ms"), (s"${t}_ms.p75", pct(xs, 0.75), "ms"))
      }

  private def perLayer(t: Tracer, pub: Published, looks: Seq[Lookup]): Seq[(String, Double, String)] = {
    val l = t.listener
    l.drain()
    val jobs = l.jobsOf(pub.span)
    def total(f: l.Job => Long): Double = jobs.map(f).sum.toDouble
    // union of the Spark jobs' intervals inside the publish span
    val covered = jobs.map(j => (j.startMs, j.endMs)).sortBy(_._1)
      .foldLeft((0.0, Double.NegativeInfinity)) { case ((acc, end), (s, e)) =>
        (acc + math.max(0.0, e - math.max(s, end)), math.max(end, e))
      }._1
    val wall = t.spansSoFar.find(_.id == pub.span).fold(Double.NaN)(s => s.endMs - s.startMs)
    val traced = looks.filter(_.span != 0)
    def perQuery(f: Lookup => Double) = traced.map(f).sum / traced.size
    val routing = pub.counters.fold(Map.empty[String, Double])(_.metrics)
    Seq(
      ("routing.table_calls", routing("routing.table_calls"), "count"),
      ("routing.failed_calls", routing("routing.failed_calls"), "count"),
      ("routing.pairs_requested", routing("routing.pairs_requested"), "count"),
      ("routing.useful_ratio", routing("routing.useful_ratio"), "ratio"),
      ("routing.busy_s", routing("routing.busy_s"), "s"),
      ("routing.snap_busy_s", routing("routing.snap_busy_s"), "s"),
      ("routing.ch_build_s", median(prepared.map(_._1.routerBuildS)), "s"),
      ("sources.write_times_s", l.writeSeconds(pub.span, "times"), "s"),
      ("sources.write_missing_s", l.writeSeconds(pub.span, "missing_pairs"), "s"),
      ("sources.write_points_s", l.writeSeconds(pub.span, "points"), "s"),
      ("sources.shuffle_write_bytes", total(_.shuffleWrite), "B"),
      ("sources.spill_bytes", total(_.spill), "B"),
      ("sources.output_bytes", total(_.outBytes), "B"),
      ("sources.output_files", pub.files.toDouble, "count"),
      ("jobs.driver_s", (wall - covered) / 1000, "s"),
      ("jobs.spark_jobs", jobs.size.toDouble, "count"),
      ("jobs.cpu_s", total(_.cpuNs) / 1e9, "s"),
      ("jobs.gc_s", total(_.gcMs) / 1e3, "s"),
      ("jobs.task_skew", l.taskSkew(pub.span), "ratio"),
      ("consume.plan_ms", median(traced.map(_.planMs)), "ms"),
      ("consume.exec_ms", median(traced.map(x => x.ms - x.planMs)), "ms"),
      ("sources.files_read", perQuery(_.files.toDouble), "count"),
      ("sources.bytes_read", perQuery(x => l.jobsOf(x.span).map(_.inBytes).sum.toDouble), "B"),
      ("sources.partitions_read", perQuery(_.partitions.toDouble), "count"),
      ("sources.rows_scanned_per_row_returned",
        traced.map(_.scanned).sum.toDouble / math.max(1L, traced.map(_.rows).sum), "ratio"),
      ("trace.pairs_per_s", in.nPairs / pub.seconds, "1/s"),
      ("trace.origin_ms_p50_ratio",
        median(latencies("origin", traced)) / median(latencies("origin", looks.filter(_.span == 0))),
        "ratio"))
  }
}
