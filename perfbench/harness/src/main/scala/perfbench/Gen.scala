package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.util.Random

import graft.query.Endpoints
import graft.schema.Schemas

/** Seeded inputs. Everything a workload feeds the program comes from here,
  * derived from the run's `--seed` alone. */
object Gen {

  /** The reference operating point: 3 × 10 000-row batches plus 5 rows
    * past the cap. */
  val TripRows = 30005

  /** Seoul-bike-like value range per numeric column (min, max). */
  private val ranges: Map[String, (Double, Double)] = Map(
    "Distance" -> (100.0, 15000.0), "PLong" -> (126.80, 127.20),
    "PLatd" -> (37.45, 37.70), "DLong" -> (126.80, 127.20),
    "DLatd" -> (37.45, 37.70), "Haversine" -> (0.1, 12.0),
    "Pmonth" -> (1, 12), "Pday" -> (1, 28), "Phour" -> (0, 23),
    "Pmin" -> (0, 59), "PDweek" -> (0, 6), "Dmonth" -> (1, 12),
    "Dday" -> (1, 28), "Dhour" -> (0, 23), "Dmin" -> (0, 59),
    "DDweek" -> (0, 6), "Temp" -> (-15.0, 35.0), "Precip" -> (0.0, 30.0),
    "Wind" -> (0.0, 8.0), "Humid" -> (10.0, 98.0), "Solar" -> (0.0, 3.5),
    "Snow" -> (0.0, 8.0), "GroundTemp" -> (-10.0, 50.0), "Dust" -> (0.0, 200.0))

  private val calendar =
    Set("Pmonth", "Pday", "Phour", "Pmin", "PDweek",
      "Dmonth", "Dday", "Dhour", "Dmin", "DDweek")

  /** Share of cells written empty, and of cells written non-numeric; both
    * coerce to 0.0 in the replay. */
  val EmptyShare = 0.004
  val JunkShare = 0.002

  /** A header CSV over `Schemas.numericCols`. Duration (minutes) follows
    * distance and hour so the forest has signal to find. */
  def tripCsv(seed: Long, rows: Int, path: Path): Unit = {
    val rnd = new Random(seed * 7919 + 1)
    val cols = Schemas.numericCols
    val sb = new java.lang.StringBuilder(rows * 160)
    sb.append(cols.mkString(",")).append('\n')
    var i = 0
    while (i < rows) {
      val v = scala.collection.mutable.Map[String, Double]()
      cols.filter(_ != Schemas.label).foreach { c =>
        val (lo, hi) = ranges(c)
        v(c) = if (calendar(c)) (lo + rnd.nextInt((hi - lo).toInt + 1))
          else if (c == "Precip" || c == "Snow")
            (if (rnd.nextDouble() < 0.9) 0.0 else lo + rnd.nextDouble() * (hi - lo))
          else lo + rnd.nextDouble() * (hi - lo)
      }
      val rush = if (Set(7.0, 8.0, 17.0, 18.0)(v("Phour"))) 1.3 else 1.0
      v(Schemas.label) = math.max(1.0, math.min(240.0,
        v("Distance") / 180.0 * rush + rnd.nextGaussian() * 4.0 + 2.0))
      var first = true
      cols.foreach { c =>
        if (!first) sb.append(',')
        first = false
        val r = rnd.nextDouble()
        if (r < EmptyShare) ()
        else if (r < EmptyShare + JunkShare) sb.append("NA")
        else if (calendar(c)) sb.append(v(c).toInt)
        else sb.append(f"${v(c)}%.4f")
      }
      sb.append('\n')
      i += 1
    }
    Files.createDirectories(path.getParent)
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
    ()
  }

  /** Publish chunks per pipeline, one topic file, so one micro-batch, each.
    * Fixed: a micro-batch's latency follows its row count, so a seeded
    * count would move the micro-batch median from seed to seed. */
  val Chunks = 12

  /** Seeded publish chunks: `Chunks` [start, end) row ranges of near-equal
    * size (±15%) covering `rows`. */
  def chunks(seed: Long, rows: Int): Seq[(Int, Int)] = {
    val rnd = new Random(seed * 104729 + 3)
    val weights = Seq.fill(Chunks)(0.85 + 0.3 * rnd.nextDouble())
    val bounds = weights.scanLeft(0.0)(_ + _).map(w => math.round(w / weights.sum * rows).toInt)
    bounds.zip(bounds.tail)
  }

  // ---- serve_mix ---------------------------------------------------------

  sealed trait Req {
    def version: Int
    def route: String
    def path: String
    def body: String
  }
  final case class Predict(version: Int, features: Map[String, Float]) extends Req {
    def route = "predict"
    def path = s"/predict/duration/$version"
    def body: String = json(features)
  }
  final case class Sensitivity(version: Int, base: Map[String, Float],
      feature: String, variations: Seq[Float]) extends Req {
    def route = "sensitivity"
    def path = s"/analyze/sensitivity/$version"
    def body: String =
      s"""{"base_features":${json(base)},"variable_feature_name":"$feature",""" +
        s""""variation_values":${variations.map(fmt).mkString("[", ",", "]")}}"""
  }
  final case class OptimalTime(version: Int, base: Map[String, Float],
      hours: Seq[Int], minute: Int) extends Req {
    def route = "optimal_time"
    def path = s"/suggest/optimal-time/$version"
    def body: String =
      s"""{"base_conditions":${json(base)},"hours_to_evaluate":""" +
        s"""${hours.mkString("[", ",", "]")},"minute_of_hour":$minute,""" +
        s""""target_duration_min":0.0,"target_duration_max":1000000.0}"""
  }

  private def fmt(f: Float): String = java.lang.Float.toString(f)
  private def json(m: Map[String, Float]): String =
    Schemas.featureCols.filter(m.contains)
      .map(c => s""""$c":${fmt(m(c))}""").mkString("{", ",", "}")

  /** Route mix: predict, sensitivity, optimal-time in equal shares. No
    * source gives the request shares of the three routes, so none is
    * favoured: a slower Q2 or Q3 moves the all-route figures as much as a
    * slower Q1. Every list holds these exact shares, in seeded order, so
    * the mix does not move the latency percentiles from seed to seed. */
  val RouteMix: Seq[String] = Seq("predict", "sensitivity", "optimal_time")

  /** Canonical payload with every feature scaled by a seeded ±20%. */
  private def perturbed(rnd: Random): Map[String, Float] =
    Endpoints.canonicalFeatures.map { case (k, v) =>
      k -> (math.round(v * (0.8 + 0.4 * rnd.nextDouble()) * 1e4) / 1e4).toFloat
    }

  def request(rnd: Random, route: String): Req = {
    val version = 1 + rnd.nextInt(3)
    route match {
      case "predict" => Predict(version, perturbed(rnd))
      case "sensitivity" =>
        val base = perturbed(rnd)
        val f = Schemas.featureCols(rnd.nextInt(Schemas.featureCols.size))
        val n = 3 + rnd.nextInt(6)
        val vals = (1 to n).map(_ =>
          (math.round(base(f) * (0.5 + rnd.nextDouble()) * 1e3) / 1e3).toFloat).distinct
        Sensitivity(version, base, f, vals)
      case "optimal_time" =>
        val base = perturbed(rnd) - "Phour" - "Pmin"
        val hours = new Random(rnd.nextLong()).shuffle((0 to 23).toList)
          .take(4 + rnd.nextInt(9)).sorted
        OptimalTime(version, base, hours, rnd.nextInt(60))
    }
  }

  /** `n` requests in the exact route mix, seeded order and payloads. */
  def requests(rnd: Random, n: Int): Seq[Req] =
    rnd.shuffle(Seq.tabulate(n)(i => RouteMix(i % RouteMix.size))).map(request(rnd, _))

  /** Open-loop schedule: Poisson arrivals at `ratePerS` over `seconds`,
    * as (due offset ns, request). */
  def schedule(seed: Long, ratePerS: Double, seconds: Double): Seq[(Long, Req)] = {
    val rnd = new Random(seed * 15485863 + 5)
    val due = Vector.newBuilder[Long]
    var t = 0.0
    while ({ t += -math.log(1.0 - rnd.nextDouble()) / ratePerS; t < seconds })
      due += (t * 1e9).toLong
    val at = due.result()
    at.zip(requests(rnd, at.size))
  }

  /** Requests for the closed-loop phase and the warm-up, from their own
    * stream of the same seed. */
  def requests(seed: Long, salt: Long, n: Int): Seq[Req] =
    requests(new Random(seed * 32452843 + salt), n)
}
