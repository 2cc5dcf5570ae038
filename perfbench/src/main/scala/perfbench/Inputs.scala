package perfbench

import scala.util.Random

/** Origin or destination points as parallel arrays, ids sorted ascending. */
final case class Points(ids: Array[String], lon: Array[Double], lat: Array[Double]) {
  def size: Int = ids.length
  def raw: Seq[graft.routing.RawPoint] =
    ids.indices.map(i => graft.routing.RawPoint(ids(i), lon(i), lat(i)))
}

/** The OD inputs of one publish, with the benchmark's own oracle for it.
  * `expected(i, j)` is origin i → destination j in seconds, or NaN where
  * the pair must land in `missing_pairs`.
  */
trait OdInputs {
  def origins: Points
  def dests: Points
  def expected(i: Int, j: Int): Double
  /** coordinates the engine's snapper must publish for each point */
  def oSnapped(i: Int): (Double, Double)
  def dSnapped(j: Int): (Double, Double)
  /** relative tolerance on a duration: 0 where the oracle repeats the
    * engine's arithmetic exactly
    */
  def tolerance: Double
  def nPairs: Long = origins.size.toLong * dests.size
}

object Ids {
  /** 7-digit serial then the 2-digit state code the engine reads from
    * characters 8-9 of every id (`CalculateTimes.stateOf`).
    */
  def apply(serial: Int, state: Int): String = f"$serial%07d$state%02d"
  val DestSerialBase = 5000000
  /** Fewer than the national 50: every state is a Hive partition, and at
    * the benchmark's size per-file overhead would otherwise dominate.
    */
  val States = 8

  def points(rng: Random, n: Int, serialBase: Int)(coord: Int => (Double, Double)): Points = {
    val ids = Array.tabulate(n)(i => Ids(serialBase + i, 1 + rng.nextInt(States)))
    val c = Array.tabulate(n)(coord)
    Points(ids, c.map(_._1), c.map(_._2))
  }

  /** `share` of `n` indices, drawn without replacement. */
  def pick(rng: Random, n: Int, share: Double): Set[Int] =
    rng.shuffle((0 until n).toVector).take(math.max(1, (n * share).round.toInt)).toSet
}

/** `publish_synth` inputs: points over a continental box, served by
  * `SyntheticRouter` + `GridSnapper`, whose closed form the oracle
  * repeats with the same IEEE operations in the same order, so every
  * duration must match bit for bit.
  */
final class SynthInputs(seed: Long, nO: Int, nD: Int) extends OdInputs {
  import SynthInputs._
  private val rng = new Random(seed)
  /** exactly `UnsnappedShare` of the points lie north of the snapper's
    * cut-off, so the published bytes do not swing with the seed
    */
  private def points(n: Int, serialBase: Int): Points = {
    val north = Ids.pick(rng, n, UnsnappedShare)
    Ids.points(rng, n, serialBase) { i =>
      val lat = if (north(i)) NoSnapAboveLat + 2.0 * rng.nextDouble() else 28.0 + 16.0 * rng.nextDouble()
      (-110.0 + 30.0 * rng.nextDouble(), lat)
    }
  }
  val origins: Points = points(nO, 0)
  val dests: Points = points(nD, Ids.DestSerialBase)
  val islandO: Set[Int] = Ids.pick(rng, nO, IslandShare)
  val islandD: Set[Int] = Ids.pick(rng, nD, IslandShare)

  private def snap(p: Points): (Array[Double], Array[Double]) = {
    def half(v: Double) = math.floor(v * 2.0 + 0.5) / 2.0
    val keep = p.lat.map(_ > NoSnapAboveLat)
    (p.lon.indices.map(i => if (keep(i)) p.lon(i) else half(p.lon(i))).toArray,
      p.lat.indices.map(i => if (keep(i)) p.lat(i) else half(p.lat(i))).toArray)
  }
  private val (oLon, oLat) = snap(origins)
  private val (dLon, dLat) = snap(dests)

  def oSnapped(i: Int): (Double, Double) = (oLon(i), oLat(i))
  def dSnapped(j: Int): (Double, Double) = (dLon(j), dLat(j))
  val tolerance = 0.0

  def expected(i: Int, j: Int): Double =
    if (islandO(i) || islandD(j)) Double.NaN
    else (math.abs(oLon(i) - dLon(j)) + math.abs(oLat(i) - dLat(j))) * 111320.0 / SpeedMps

  def router(): graft.routing.Router = {
    val io = islandO.map(origins.ids(_))
    val id = islandD.map(dests.ids(_))
    new graft.routing.SyntheticRouter(SpeedMps, p => io(p.id), p => id(p.id))
  }
  def snapper(): graft.routing.Snapper = new graft.routing.GridSnapper(NoSnapAboveLat)
}

object SynthInputs {
  val SpeedMps = 30.0
  val NoSnapAboveLat = 44.0
  val UnsnappedShare = 0.1
  /** about 2 % of points are unroutable islands (quadtree fallback) */
  val IslandShare = 0.02
}

/** `route_network` inputs: a seeded `side` × `side` road grid with mixed
  * highway classes and oneway arterials (strongly connected: every
  * residential row and every even column runs both ways), plus a small
  * disconnected island grid 1° to the east. Points sit near grid nodes;
  * about 2 % sit near island nodes, so exactly the pairs that cross
  * between the two components are missing. The oracle is a plain
  * Dijkstra over the same edge list.
  */
final class NetworkInputs(seed: Long, side: Int, nO: Int, nD: Int) extends OdInputs {
  import NetworkInputs._
  private val rng = new Random(seed)

  // ---- graph: main grid nodes first, then the island grid
  private val islandSide = 6
  private val nNodes = side * side + islandSide * islandSide
  private val nodeLon = new Array[Double](nNodes)
  private val nodeLat = new Array[Double](nNodes)
  private def place(k: Int, r: Int, c: Int, lon0: Double): Unit = {
    nodeLon(k) = lon0 + c * Spacing + (rng.nextDouble() - 0.5) * Spacing * 0.3
    nodeLat(k) = 40.0 + r * Spacing + (rng.nextDouble() - 0.5) * Spacing * 0.3
  }
  for (r <- 0 until side; c <- 0 until side) place(r * side + c, r, c, -90.0)
  private val islandLon0 = -90.0 + side * Spacing + 1.0
  for (r <- 0 until islandSide; c <- 0 until islandSide)
    place(side * side + r * islandSide + c, r, c, islandLon0)

  /** directed edges (src, dst, seconds, highway) */
  private val edges: Vector[(Int, Int, Double, String)] = {
    val b = Vector.newBuilder[(Int, Int, Double, String)]
    def sec(a: Int, z: Int, speed: Double) = {
      val dx = nodeLon(z) - nodeLon(a)
      val dy = nodeLat(z) - nodeLat(a)
      math.sqrt(dx * dx + dy * dy) * 111320.0 / speed
    }
    def add(a: Int, z: Int, hw: String, oneway: Int): Unit = {
      val speed = graft.routing.RoadNetwork.CarSpeedsMps(hw)
      if (oneway >= 0) b += ((a, z, sec(a, z, speed), hw))
      if (oneway <= 0) b += ((z, a, sec(z, a, speed), hw))
    }
    // rows: every 8th row is a primary arterial, oneway in a seeded
    // direction; columns: every 10th is a secondary, a seeded 30 % of
    // the odd ones a oneway tertiary, the rest residential
    val rowKind = Array.tabulate(side)(r => if (r % 8 == 4) (if (rng.nextBoolean()) 1 else -1) else 0)
    val colKind = Array.tabulate(side)(c =>
      if (c % 10 == 5) ("secondary", 0)
      else if (c % 2 == 1 && rng.nextDouble() < 0.3) ("tertiary", if (rng.nextBoolean()) 1 else -1)
      else ("residential", 0))
    for (r <- 0 until side; c <- 0 until side) {
      val k = r * side + c
      if (c + 1 < side) add(k, k + 1, if (rowKind(r) != 0) "primary" else "residential", rowKind(r))
      if (r + 1 < side) add(k, k + side, colKind(c)._1, colKind(c)._2)
    }
    val base = side * side
    for (r <- 0 until islandSide; c <- 0 until islandSide) {
      val k = base + r * islandSide + c
      if (c + 1 < islandSide) add(k, k + 1, "residential", 0)
      if (r + 1 < islandSide) add(k, k + islandSide, "residential", 0)
    }
    b.result()
  }

  // ---- points near nodes: jitter well under half a cell, so the
  // nearest node (the engine's snap) is the node a point was drawn at
  private def near(node: Int) =
    (nodeLon(node) + (rng.nextDouble() - 0.5) * Spacing * 0.2,
      nodeLat(node) + (rng.nextDouble() - 0.5) * Spacing * 0.2)
  private def drawNodes(n: Int): Array[Int] = {
    val island = Ids.pick(rng, n, SynthInputs.IslandShare)
    Array.tabulate(n)(i =>
      if (island(i)) side * side + rng.nextInt(islandSide * islandSide)
      else rng.nextInt(side * side))
  }
  private val oNode = drawNodes(nO)
  private val dNode = drawNodes(nD)
  val origins: Points = Ids.points(rng, nO, 0)(i => near(oNode(i)))
  val dests: Points = Ids.points(rng, nD, Ids.DestSerialBase)(i => near(dNode(i)))

  // ---- oracle: forward Dijkstra per origin node, cached
  private lazy val fwd: (Array[Int], Array[Int], Array[Double]) = {
    val sorted = edges.sortBy(_._1)
    val off = new Array[Int](nNodes + 1)
    sorted.foreach(e => off(e._1 + 1) += 1)
    for (i <- 0 until nNodes) off(i + 1) += off(i)
    (off, sorted.map(_._2).toArray, sorted.map(_._3).toArray)
  }
  private val distCache = scala.collection.mutable.HashMap.empty[Int, Array[Double]]

  def dijkstra(src: Int): Array[Double] = distCache.getOrElseUpdate(src, {
    val (off, tgt, w) = fwd
    val dist = Array.fill(nNodes)(Double.PositiveInfinity)
    val pq = new java.util.PriorityQueue[(Double, Int)](
      (a: (Double, Int), b: (Double, Int)) => java.lang.Double.compare(a._1, b._1))
    dist(src) = 0.0
    pq.add((0.0, src))
    while (!pq.isEmpty) {
      val (d, u) = pq.poll()
      if (d == dist(u)) {
        var e = off(u)
        while (e < off(u + 1)) {
          val nd = d + w(e)
          if (nd < dist(tgt(e))) { dist(tgt(e)) = nd; pq.add((nd, tgt(e))) }
          e += 1
        }
      }
    }
    dist
  })

  def oSnapped(i: Int): (Double, Double) = (nodeLon(oNode(i)), nodeLat(oNode(i)))
  def dSnapped(j: Int): (Double, Double) = (nodeLon(dNode(j)), nodeLat(dNode(j)))
  /** CH sums shortcut weights in another order than Dijkstra sums edges */
  val tolerance = 1e-9

  def expected(i: Int, j: Int): Double = {
    val d = dijkstra(oNode(i))(dNode(j))
    if (d.isInfinite) Double.NaN else d
  }

  /** the edge frame `RoadNetwork.buildCsr` / `chRouter` read */
  def edgeRows: Seq[(Long, Long, Double, Double, Double, Double, Double, String)] =
    edges.map { case (a, z, s, hw) =>
      (a.toLong + 1, z.toLong + 1, nodeLon(a), nodeLat(a), nodeLon(z), nodeLat(z), s, hw)
    }
}

object NetworkInputs {
  val Spacing = 0.01
  val EdgeColumns: Seq[String] =
    Seq("src", "dst", "src_lon", "src_lat", "dst_lon", "dst_lat", "sec", "highway")
}
