package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.util.Random

import graft.impact.{ImpactModel, XgbBooster, XgbTree}

/** A storm's forecast shape: the HRES path through `waypoints`
  * (lat, lon), spread over `steps` six-hourly BUFR steps, and an
  * ensemble of `members` subsets of which the last is the HRES. */
final case class StormShape(sid: String, name: String, members: Int, steps: Int,
                            waypoints: Seq[(Double, Double)],
                            minPressure: Double, spreadDeg: Double)

/** One workload: the storm the cycle runs on plus a decoy storm that
  * never enters the Philippine Area of Responsibility, so that
  * `TrackPrep.filterActivePAR` has something to drop. */
final case class Workload(name: String, storm: StormShape) {
  val decoy: StormShape = StormShape("99W", "DECOY", members = 5, steps = 12,
    waypoints = Seq((28.0, 160.0), (34.0, 166.0)), minPressure = 990.0, spreadDeg = 0.5)
  def storms: Seq[StormShape] = Seq(storm, decoy)
}

object Workload {
  /** A 5-member ensemble (4 ENS + HRES) over an 18 h horizon while the
    * storm crosses southern Luzon: every node reaches most of the grid. */
  val landfall: Workload = Workload("cycle_landfall", StormShape(
    "21W", "LANDFALL", members = 5, steps = 4,
    waypoints = Seq((13.2, 124.6), (14.4, 121.2)),
    minPressure = 935.0, spreadDeg = 0.4))

  /** The operational 52 members (51 ENS + HRES) over a 6 h horizon, of
    * a storm that just enters the PAR box and stays east of the grid's
    * 5.5° reach. */
  val offshore: Workload = Workload("cycle_offshore", StormShape(
    "22W", "OFFSHORE", members = 52, steps = 2,
    waypoints = Seq((19.0, 135.8), (19.5, 134.8)),
    minPressure = 945.0, spreadDeg = 1.0))

  val all: Seq[Workload] = Seq(landfall, offshore)
  def byName(n: String): Option[Workload] = all.find(_.name == n)
}

/** The files one cycle reads, plus what the generator knows about them
  * independently of the code under test. */
final case class InputFiles(forecastTime: Timestamp, eventName: String,
                            bufrDir: String, rain6hGlob: String, rain24hGlob: String,
                            polygons: String, indicators: String, booster: String,
                            expect: Expected)

/** One track node as written to the BUFR render. */
final case class TrackNode(sid: String, ens: Int, hres: Boolean, hour: Int,
                           lat: String, lon: String, pressurePa: Long, wind: String)

/** Facts the generator can state without running the pipeline. */
final case class Expected(tracks: Seq[TrackNode], activeSid: String, activeMembers: Int,
                          nodesPerMember: Int,
                          rainSums: Map[(Int, Int, Int), Long], pcodes: Seq[String],
                          centroidAdmin: Array[String]) {
  def rainRows(window: Int): Long = rainSums.keys.count(_._1 == window).toLong * Inputs.RainGrid.points
}

/** Seeded input generator. The same seed gives byte-identical files. */
object Inputs {
  val ForecastTime: Timestamp = Timestamp.valueOf("2026-01-01 00:00:00")

  /** The operational 0.05° grid (CentroidGrid.philippines), as the
    * engine computes its coordinates. */
  val GridCols = 181
  val GridRows = 261
  def gridLat(id: Long): Double = 19.0 - (id / GridCols) * 0.05
  def gridLon(id: Long): Double = 118.0 + (id % GridCols) * 0.05

  /** The municipality tiling: 33 columns × 50 rows = 1,650 rectangles. */
  val TileCols = 33
  val TileRows = 50

  /** GEFS 0.5° rainfall grid covering the PAR west of 129°E. */
  val RainGrid: Grib2Writer.Grid = Grib2Writer.Grid(21.0, 115.0, ni = 29, nj = 35, res = 0.5)
  val RainMembers = 30
  val Leads6h: Seq[Int] = 6 to 72 by 6
  val Leads24h: Seq[Int] = Seq(24, 48, 72)

  def generate(w: Workload, seed: Long, dir: Path): InputFiles = {
    Files.createDirectories(dir)
    val bufrDir = Files.createDirectories(dir.resolve("bufr"))
    val gefsDir = Files.createDirectories(dir.resolve("gefs"))
    val rng = (k: Int) => new Random(seed * 1000003L + k)

    val tracks = w.storms.zipWithIndex.map { case (s, i) =>
      val t = hresTrack(s)
      val (lines, nodes) = bufrLines(s, t, rng(10 + i))
      writeLines(bufrDir.resolve(s"A_JSXX${i}1ECEP${s.sid}.csv"), lines)
      (t, nodes)
    }
    val rainSums = writeRain(gefsDir, tracks.head._1, w.storm.steps, rng(20))

    val (tiles, centroidAdmin) = tiling(rng(30))
    writeLines(dir.resolve("polygons.csv"), "admin_code,wkt" +: tiles.map { t =>
      s"""${t.code},"POLYGON ((${t.w} ${t.s}, ${t.e} ${t.s}, ${t.e} ${t.n}, ${t.w} ${t.n}, ${t.w} ${t.s}))""""
    })
    writeLines(dir.resolve("indicators.csv"), indicators(tiles.map(_.code), rng(40)))
    val booster = dir.resolve("booster.json").toString
    XgbBooster.save(buildBooster(rng(50)), booster)

    InputFiles(
      forecastTime = ForecastTime, eventName = w.storm.name,
      bufrDir = bufrDir.toString,
      rain6hGlob = s"$gefsDir/*.bc_06h*.grib2.bz2",
      rain24hGlob = s"$gefsDir/*.bc_24h*.grib2.bz2",
      polygons = dir.resolve("polygons.csv").toString,
      indicators = dir.resolve("indicators.csv").toString,
      booster = booster,
      expect = Expected(
        tracks = tracks.flatMap(_._2), activeSid = w.storm.sid,
        activeMembers = w.storm.members, nodesPerMember = (w.storm.steps - 1) * 12 + 1,
        rainSums = rainSums, pcodes = tiles.map(_.code), centroidAdmin = centroidAdmin))
  }

  private def writeLines(p: Path, lines: Seq[String]): Unit =
    Files.write(p, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))

  // ---- tracks -------------------------------------------------------------

  /** HRES (lat, lon, pressure hPa) per six-hourly step: piecewise-linear
    * through the waypoints; deepest at two thirds of the horizon. */
  private def hresTrack(s: StormShape): IndexedSeq[(Double, Double, Double)] =
    (0 until s.steps).map { k =>
      val f = if (s.steps == 1) 0.0 else k.toDouble / (s.steps - 1)
      val seg = math.min((f * (s.waypoints.size - 1)).toInt, s.waypoints.size - 2)
      val u = f * (s.waypoints.size - 1) - seg
      val (la0, lo0) = s.waypoints(seg)
      val (la1, lo1) = s.waypoints(seg + 1)
      val depth = 1.0 - math.abs(f - 2.0 / 3) * 1.2
      (la0 + (la1 - la0) * u, lo0 + (lo1 - lo0) * u,
        1008.0 - (1008.0 - s.minPressure) * math.max(0.2, depth))
    }

  /** The pybufrkit flat render of one ECMWF tropical-cyclone BUFR file,
    * tokenised to (file, line_no, subset, code, value): a subset per
    * member; 001092 type 0 marks the deterministic HRES, 4 a perturbed
    * ENS member. Pressures are in Pa, winds in m/s. */
  private def bufrLines(s: StormShape, hres: IndexedSeq[(Double, Double, Double)],
                        rng: Random): (Seq[String], Seq[TrackNode]) = {
    val file = s"A_JSXX01ECEP${s.sid}"
    val out = Vector.newBuilder[String]
    val nodes = Vector.newBuilder[TrackNode]
    out += "file,line_no,subset,code,value"
    var line = 0
    def emit(subset: String, code: String, value: String): Unit = {
      line += 1
      out += s"$file,$line,$subset,$code,$value"
    }
    for (m <- 1 to s.members) {
      val isHres = m == s.members
      // members fan out from the HRES with lead time
      val (dLat, dLon) = if (isHres) (0.0, 0.0)
        else (rng.nextGaussian() * s.spreadDeg, rng.nextGaussian() * s.spreadDeg)
      val dP = if (isHres) 0.0 else rng.nextGaussian() * 6.0
      emit(m.toString, "", "")
      emit("", "001027", s.name)
      emit("", "001025", s.sid)
      emit("", "001092", if (isHres) "0" else "4")
      emit("", "001091", m.toString)
      hres.zipWithIndex.foreach { case ((la, lo, p), k) =>
        val f = k.toDouble / math.max(1, s.steps - 1)
        val pres = math.min(1008.0, p + dP * f + rng.nextGaussian() * 0.5)
        val node = TrackNode(s.sid, m, isHres, 6 * k,
          lat = f"${la + dLat * f + rng.nextGaussian() * 0.02}%.2f",
          lon = f"${lo + dLon * f + rng.nextGaussian() * 0.02}%.2f",
          pressurePa = math.round(pres * 100),
          wind = f"${3.4 * math.pow(1010.0 - pres, 0.644)}%.1f")
        nodes += node
        emit("", "004024", node.hour.toString)
        emit("", "008005", "1")
        emit("", "005002", node.lat)
        emit("", "006002", node.lon)
        emit("", "010051", node.pressurePa.toString)
        emit("", "011012", node.wind)
      }
    }
    (out.result(), nodes.result())
  }

  // ---- rainfall -------------------------------------------------------------

  /** 6 h and 24 h accumulations, one file per lead with every member:
    * a rain band around the HRES position at the lead, scaled per
    * member, plus seeded noise. */
  private def writeRain(dir: Path, hres: IndexedSeq[(Double, Double, Double)], steps: Int,
                        rng: Random): Map[(Int, Int, Int), Long] = {
    val g = RainGrid
    def at(lead: Int): (Double, Double) = {
      val k = math.min(lead / 6, steps - 1)
      (hres(k)._1, hres(k)._2)
    }
    val scale = Array.fill(RainMembers)(0.7 + 0.6 * rng.nextDouble())
    val six = Leads6h.map { lead =>
      val (cLat, cLon) = at(lead)
      lead -> Array.tabulate(RainMembers, g.points) { (m, i) =>
        val (la, lo) = g.latLon(i)
        val d2 = (la - cLat) * (la - cLat) + (lo - cLon) * (lo - cLon)
        val v = 55.0 * scale(m) * math.exp(-d2 / 8.0) + 3.0 * rng.nextDouble()
        math.min(60, v.toInt)
      }
    }.toMap
    def control(i: Int) = i % 7
    Leads6h.foreach { lead =>
      Files.write(dir.resolve(f"geprcp.t00z.pgrb2a.0p50.bc_06h.f$lead%03d.grib2.bz2"),
        Grib2Writer.file(g, lead, 6, six(lead).toIndexedSeq, Array.tabulate(g.points)(control)))
    }
    val day = Leads24h.map { lead =>
      val sum = Array.tabulate(RainMembers, g.points) { (m, i) =>
        (lead - 18 to lead by 6).map(l => six(l)(m)(i)).sum
      }
      Files.write(dir.resolve(f"geprcp.t00z.pgrb2a.0p50.bc_24h.f$lead%03d.grib2.bz2"),
        Grib2Writer.file(g, lead, 24, sum.toIndexedSeq, Array.tabulate(g.points)(control)))
      lead -> sum
    }
    // per (window, lead, member): the sum over the grid of what was written
    (six.toSeq.map { case (l, f) => (6, l, f) } ++ day.map { case (l, f) => (24, l, f) })
      .flatMap { case (win, lead, f) =>
        f.indices.map(m => (win, lead, m + 1) -> f(m).map(_.toLong).sum)
      }.toMap
  }

  // ---- municipalities -----------------------------------------------------

  final case class Tile(code: String, w: Double, e: Double, s: Double, n: Double)

  /** Seeded edges spanning [from, to] in `n` cells of ±20 % width. */
  private def edges(from: Double, to: Double, n: Int, rng: Random): Array[Double] = {
    val widths = Array.fill(n)(0.8 + 0.4 * rng.nextDouble())
    val k = (to - from) / widths.sum
    widths.scanLeft(from)((acc, wd) => acc + wd * k)
  }

  /** Region of a tile centre, by rough Philippine geography. */
  private def region(lat: Double, lon: Double): String =
    if (lat >= 16.0) { if (lon >= 121.0) "02" else "01" }
    else if (lat >= 14.6) "03"
    else if (lat >= 12.0) { if (lon >= 122.6) "05" else "04" }
    else if (lat >= 10.0) { if (lon >= 124.0) "08" else if (lon >= 122.6) "07" else "06" }
    else if (lon >= 125.0) "16" else if (lon >= 123.0) "10" else "09"

  /** Province codes per region; the first ones are those the trigger
    * tables name (START: 0215, 0826, 1667; HI: 0505). */
  private val provinceCodes: Map[String, Seq[String]] = Map(
    "01" -> Seq("28", "29", "33", "55"), "02" -> Seq("15", "31", "50", "57"),
    "03" -> Seq("08", "14", "49", "54", "69", "71", "77"),
    "04" -> Seq("10", "21", "34", "56", "58"), "05" -> Seq("05", "16", "17", "20", "41", "62"),
    "06" -> Seq("04", "06", "19", "30", "45"), "07" -> Seq("12", "22", "46", "61"),
    "08" -> Seq("26", "37", "48", "60", "64", "78"), "09" -> Seq("72", "73", "83", "97"),
    "10" -> Seq("13", "18", "35", "42", "43"), "16" -> Seq("67", "02", "03", "68", "85"))

  /** The tiling and, independently of JTS, the admin code of every grid
    * centroid: a point on a tile edge lies in no tile and is dropped. */
  private def tiling(rng: Random): (Seq[Tile], Array[String]) = {
    val xs = edges(117.975, 127.025, TileCols, rng)
    val ys = edges(5.975, 19.025, TileRows, rng)
    val cells = for (r <- 0 until TileRows; c <- 0 until TileCols)
      yield (r, c, region((ys(r) + ys(r + 1)) / 2, (xs(c) + xs(c + 1)) / 2))
    // provinces: a region's tiles in row-major order, split in even runs
    val codes = cells.groupBy(_._3).toSeq.flatMap { case (reg, tiles) =>
      val provs = provinceCodes(reg)
      val per = math.ceil(tiles.size.toDouble / provs.size).toInt
      tiles.sortBy(t => (t._1, t._2)).zipWithIndex.map { case ((r, c, _), i) =>
        (r, c) -> f"PH$reg${provs(i / per)}${i % per + 1}%02d000"
      }
    }.toMap
    val tiles = cells.map { case (r, c, _) =>
      Tile(codes((r, c)), xs(c), xs(c + 1), ys(r), ys(r + 1))
    }
    def cell(v: Double, es: Array[Double]): Int = {
      val i = java.util.Arrays.binarySearch(es, v)
      if (i >= 0) -1 else { val k = -i - 2; if (k < 0 || k >= es.length - 1) -1 else k }
    }
    val admin = Array.tabulate(GridCols * GridRows) { id =>
      val (r, c) = (cell(gridLat(id), ys), cell(gridLon(id), xs))
      if (r < 0 || c < 0) null else codes((r, c))
    }
    (tiles.sortBy(_.code), admin)
  }

  /** The static columns of ImpactModel.FeatureCols, per municipality. */
  private def indicators(codes: Seq[String], rng: Random): Seq[String] = {
    val cols = ImpactModel.FeatureCols.filterNot(_.startsWith("HAZ_"))
    ("Mun_Code" +: cols).mkString(",") +: codes.map { code =>
      val vals = cols.map {
        case "VUL_Housing_Units" => f"${2000 + rng.nextInt(58000)}%d"
        case "GEN_with_coast" => rng.nextInt(2).toString
        case "TOP_mean_elevation_m" => f"${rng.nextDouble() * 900}%.3f"
        case _ => f"${rng.nextDouble() * 60}%.4f"
      }
      (code +: vals).mkString(",")
    }
  }

  // ---- damage model ---------------------------------------------------------

  /** A booster of the operational shape: 100 complete trees of depth 8
    * over the 19 features. Splits draw a feature and a threshold in the
    * feature's range; a leaf adds damage for each step toward stronger
    * wind, more rain and a closer track on its path. */
  def buildBooster(rng: Random, trees: Int = 100, depth: Int = 8): XgbBooster = {
    val feats = ImpactModel.FeatureCols
    def range(f: String): (Double, Double) = f match {
      case "HAZ_v_max" => (10.0, 75.0)
      case "HAZ_v_max_3" => (1e3, 4e5)
      case "HAZ_dis_track_min" => (0.0, 500.0)
      case f if f.startsWith("HAZ_rainfall") => (5.0, 150.0)
      case "VUL_Housing_Units" => (2000.0, 60000.0)
      case "GEN_with_coast" => (0.0, 1.0)
      case "TOP_mean_elevation_m" => (0.0, 900.0)
      case _ => (0.0, 60.0)
    }
    val hazardFirst = Seq("HAZ_v_max", "HAZ_v_max_3", "HAZ_dis_track_min",
      "HAZ_rainfall_max_24h").map(feats.indexOf(_))
    val built = Array.fill(trees) {
      val internal = (1 << depth) - 1
      val nodes = 2 * internal + 1
      val feat = new Array[Int](nodes)
      val cond = new Array[Float](nodes)
      val left = Array.fill(nodes)(-1)
      val right = Array.fill(nodes)(-1)
      val defaultLeft = new Array[Boolean](nodes)
      val score = new Array[Double](nodes)
      for (n <- 0 until nodes) {
        if (n < internal) {
          val f = if (n < 3) hazardFirst(rng.nextInt(hazardFirst.size)) else rng.nextInt(feats.size)
          val (lo, hi) = range(feats(f))
          feat(n) = f
          cond(n) = (lo + (hi - lo) * rng.nextDouble()).toFloat
          left(n) = 2 * n + 1
          right(n) = 2 * n + 2
          defaultLeft(n) = rng.nextBoolean()
          // going right means a larger value: worse, except for distance
          val sign = if (feats(f) == "HAZ_dis_track_min") -1.0 else 1.0
          Seq(2 * n + 1 -> 0.0, 2 * n + 2 -> sign).foreach { case (child, d) =>
            score(child) = score(n) + d
          }
        } else {
          cond(n) = (0.09 * math.max(-1.0, score(n)) + 0.02 * rng.nextGaussian()).toFloat
        }
      }
      XgbTree(feat, cond, left, right, defaultLeft)
    }
    new XgbBooster(0.5f, feats.size, built, feats)
  }
}
