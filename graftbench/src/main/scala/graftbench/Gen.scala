package graftbench

import java.util.SplittableRandom

import graft.core.{BBox, GeoMath}

/** Seeded input generators. Everything the engine sees is drawn here from
  * the run's seed; the same seed gives the same inputs. */
object Gen {
  /** The FIXTURES §1 hot spots (London, Tokyo, São Paulo, Delhi, Sydney). */
  val HotSpots: Array[(Double, Double)] =
    Array((-0.125, 51.5), (139.75, 35.7), (-46.6, -23.5), (77.2, 28.6), (151.2, -33.9))

  final class Points(val id: Array[Long], val lon: Array[Double], val lat: Array[Double]) {
    def size: Int = id.length
  }

  /** FIXTURES §1 mix: 90% uniform (lat within ±85), 10% gaussian
    * (σ = 0.01°) around the hot spots. Ids start at `firstId`. */
  def points(rnd: SplittableRandom, n: Int, firstId: Long): Points = {
    val id = Array.tabulate(n)(i => firstId + i)
    val lon = new Array[Double](n); val lat = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (rnd.nextInt(10) == 0) {
        val (hx, hy) = HotSpots(rnd.nextInt(HotSpots.length))
        lon(i) = hx + gaussian(rnd) * 0.01; lat(i) = hy + gaussian(rnd) * 0.01
      } else {
        lon(i) = rnd.nextDouble(-180.0, 180.0); lat(i) = rnd.nextDouble(-85.0, 85.0)
      }
      i += 1
    }
    new Points(id, lon, lat)
  }

  private def gaussian(rnd: SplittableRandom): Double = {
    // Box–Muller; SplittableRandom has no nextGaussian
    val u = rnd.nextDouble(1e-12, 1.0); val v = rnd.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * v)
  }

  private def logUniform(rnd: SplittableRandom, lo: Double, hi: Double): Double =
    math.exp(rnd.nextDouble(math.log(lo), math.log(hi)))

  private def center(rnd: SplittableRandom): (Double, Double) = center(rnd, rnd.nextBoolean())

  private def center(rnd: SplittableRandom, hot: Boolean): (Double, Double) =
    if (hot) {
      val (hx, hy) = HotSpots(rnd.nextInt(HotSpots.length))
      (hx + rnd.nextDouble(-0.5, 0.5), hy + rnd.nextDouble(-0.5, 0.5))
    } else (rnd.nextDouble(-179.0, 179.0), rnd.nextDouble(-80.0, 80.0))

  /** A query box whose side is log-uniform in [minSide, maxSide] degrees.
    * One box in ten straddles the anti-meridian (minLon > maxLon). */
  def box(rnd: SplittableRandom, minSide: Double, maxSide: Double): BBox = {
    val w = logUniform(rnd, minSide, maxSide)
    val h = w * rnd.nextDouble(0.5, 1.0)
    val (cx0, cy0) = center(rnd)
    val cx = if (rnd.nextInt(10) == 0) 180.0 - w * rnd.nextDouble(0.1, 0.9) + w / 2 else cx0
    val cy = math.max(-85.0 + h / 2, math.min(85.0 - h / 2, cy0))
    val lo = cx - w / 2; val hi = cx + w / 2
    def wrap(x: Double) = if (x >= 180.0) x - 360.0 else if (x < -180.0) x + 360.0 else x
    if (lo >= -180.0 && hi <= 180.0) BBox(lo, cy - h / 2, hi, cy + h / 2)
    else BBox(wrap(lo), cy - h / 2, wrap(hi), cy + h / 2)
  }

  final case class Polygon(wkt: String, rings: Array[Array[Double]])

  /** A star-shaped (hence simple) polygon with 5 to 12 vertices and a
    * log-uniform radius in [minR, maxR] degrees. It never crosses the
    * anti-meridian, as the polygon coverings require. */
  def polygon(rnd: SplittableRandom, minR: Double, maxR: Double): Polygon = {
    val r = logUniform(rnd, minR, maxR)
    val (cx0, cy0) = center(rnd)
    val cx = math.max(-179.0 + r, math.min(179.0 - r, cx0))
    val cy = math.max(-84.0 + r, math.min(84.0 - r, cy0))
    val n = 5 + rnd.nextInt(8)
    val angles = Array.fill(n)(rnd.nextDouble(0.0, 2 * math.Pi)).sorted
    val pts = angles.map { a =>
      val rr = r * rnd.nextDouble(0.4, 1.0)
      (cx + rr * math.cos(a), cy + rr * math.sin(a))
    }
    val ring = (pts :+ pts.head).map { case (x, y) => f"$x%.6f $y%.6f" }.mkString(", ")
    val wkt = s"POLYGON (($ring))"
    Polygon(wkt, GeoMath.parseWktPolygon(wkt))
  }

  /** A kNN query point: near a hot spot or uniform. */
  def knnPoint(rnd: SplittableRandom, hot: Boolean): (Double, Double) = center(rnd, hot)

  // --- documents -------------------------------------------------------

  final case class Corpus(ids: Array[Long], texts: Array[String])

  /** A corpus of `n` base documents plus planted copies: `nearDup` copies
    * with one to three words replaced (3-shingle Jaccard stays near 0.85)
    * and `exactDup` byte-identical copies. Words come from a seeded
    * vocabulary with a skewed (Zipf-like) draw. */
  def corpus(rnd: SplittableRandom, n: Int, nearDup: Int, exactDup: Int): Corpus = {
    val syll = Array("ka", "to", "ri", "me", "su", "na", "lo", "pe", "vi", "du", "ga", "shi", "ren", "mo", "ta", "xu")
    val vocab = Array.fill(3000)(Array.fill(2 + rnd.nextInt(3))(syll(rnd.nextInt(syll.length))).mkString)
    def word(): String = vocab((vocab.length * math.pow(rnd.nextDouble(), 2.0)).toInt)
    val base = Array.fill(n)(Array.fill(30 + rnd.nextInt(40))(word()))
    val near = Array.fill(nearDup) {
      val w = base(rnd.nextInt(n)).clone()
      (0 until 1 + rnd.nextInt(3)).foreach(_ => w(3 + rnd.nextInt(w.length - 6)) = word())
      w
    }
    val exact = Array.fill(exactDup)(base(rnd.nextInt(n)).clone())
    val texts = (base ++ near ++ exact).map(_.mkString(" "))
    // shuffle so copies are not adjacent to their originals in id order
    var i = texts.length - 1
    while (i > 0) { val j = rnd.nextInt(i + 1); val t = texts(i); texts(i) = texts(j); texts(j) = t; i -= 1 }
    Corpus(Array.tabulate(texts.length)(_.toLong + 1L), texts)
  }
}
