package perfbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.impact.Triggers

/** The output checks behind `wrong_outputs`. Each output that differs
  * from its expected value counts once, with a line saying which.
  *
  * Expected values come from outside the code under test: what the
  * generator wrote, plain-Scala re-computations of the simple layers
  * (point-in-rectangle for geo, linear interpolation for tracks, the
  * X8 distance, the trigger tables, the payload amounts), and the
  * hashes pinned per seed in pins.json. The windfield's wind speeds
  * have no independent re-computation here; the pinned hashes of the
  * decisions and payloads that depend on them stand for them. */
final class Checks {
  val details: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty[String]
  def wrong: Int = details.size

  private def expect(name: String, got: Any, want: Any): Unit =
    if (got != want) details += s"$name: got $got, want $want"

  private def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** A later cycle on the same inputs must reproduce the first one. */
  def same(ref: CycleOutput, out: CycleOutput, what: String): Unit = {
    ref.rows.foreach { case (k, v) => expect(s"$what $k", out.rows.getOrElse(k, -1L), v) }
    ref.hashes.foreach { case (k, v) => expect(s"$what $k", out.hashes.getOrElse(k, "missing"), v) }
  }

  /** Every hash of the cycle against the hashes pinned for this seed,
    * when the pins file has them. Returns whether it had them. */
  def pinned(out: CycleOutput, pins: Path, workload: String, seed: Long): Boolean = {
    val all = if (Files.exists(pins)) Json.parseFlat(Files.readString(pins)) else Map.empty[String, Map[String, String]]
    all.get(s"$workload/$seed").exists { want =>
      val got = (out.rows.view.mapValues(_.toString) ++ out.hashes).toMap
      want.foreach { case (k, v) => expect(s"pinned $k", got.getOrElse(k, "missing"), v) }
      true
    }
  }

  def independent(out: CycleOutput, in: InputFiles): Unit = {
    val e = in.expect
    val fc = in.forecastTime.getTime / 1000

    // sources: the track rows exactly as the BUFR render states them
    val tracks = out.tables("sources.tracks").collect().map { r =>
      (r.getAs[String]("storm_id"), r.getAs[Int]("ens_id"), r.getAs[String]("is_ensemble"),
        r.getAs[java.sql.Timestamp]("time").getTime / 1000, r.getAs[Double]("lat"),
        r.getAs[Double]("lon"), r.getAs[Double]("max_sustained_wind"),
        r.getAs[Double]("central_pressure"))
    }.toSet
    val wantTracks = e.tracks.map(n => (n.sid, n.ens, if (n.hres) "False" else "TRUE",
      fc + n.hour * 3600L, n.lat.toDouble, n.lon.toDouble, n.wind.toDouble,
      n.pressurePa.toDouble / 100.0)).toSet
    if (tracks != wantTracks)
      details += s"sources.tracks: ${(tracks diff wantTracks).size} rows differ from the BUFR render"

    // sources: GRIB2 fields, as sums per (lead, member) of what was written
    for ((window, table) <- Seq(6 -> "sources.rain_6h", 24 -> "sources.rain_24h")) {
      expect(table, out.rows(table), e.rainRows(window))
      val sums = out.tables(table).groupBy("time", "number").agg(sum("precip"))
        .collect().map(r => ((r.getTimestamp(0).getTime / 1000 - fc) / 3600, r.getInt(1)) -> r.getDouble(2))
        .toMap
      val want = e.rainSums.collect { case ((`window`, lead, m), v) => (lead.toLong, m) -> v.toDouble }
      if (sums != want) details += s"$table: decoded field sums differ from the written ones"
    }

    // geo: the centroid→admin map against point-in-rectangle
    val geo = new Array[String](e.centroidAdmin.length)
    out.tables("geo.centroid_admin").collect().foreach(r => geo(r.getLong(0).toInt) = r.getString(1))
    val moved = geo.indices.count(i => geo(i) != e.centroidAdmin(i))
    if (moved > 0) details += s"geo.centroid_admin: $moved centroids mapped to another admin"

    // tracks: PAR filter and the 30-minute linear resample of the HRES
    expect("tracks.nodes", out.rows("tracks.nodes"), e.activeMembers.toLong * e.nodesPerMember)
    val hres = e.tracks.filter(n => n.hres && n.sid == e.activeSid).sortBy(_.hour)
    val gotHres = out.tables("tracks.hres").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("time").getTime / 1000 - fc,
        r.getAs[Double]("lat"), r.getAs[Double]("lon")))
      .sortBy(_._1)
    expect("tracks.hres", gotHres.length, e.nodesPerMember)
    val badNodes = gotHres.count { case (t, la, lo) =>
      val k = math.min((t / 21600).toInt, hres.size - 2)
      val (a, b) = (hres(k), hres(k + 1))
      def interp(v0: Double, v1: Double) =
        if (t == a.hour * 3600L) v0 else v0 + (v1 - v0) * (t - a.hour * 3600.0) / ((b.hour - a.hour) * 3600.0)
      !close(la, interp(a.lat.toDouble, b.lat.toDouble)) || !close(lo, interp(a.lon.toDouble, b.lon.toDouble))
    }
    if (badNodes > 0) details += s"tracks.hres: $badNodes nodes off the linear interpolation"

    checkDistance(out, e)
    expect("features.matrix", out.rows("features.matrix"), out.rows("hazard.municipal"))
    expect("impact.score.impact", out.rows("impact.score.impact"), out.rows("hazard.municipal"))

    val impact = out.tables("impact.score.impact")
      .select("Mun_Code", "ens_id", "damage_pct", "damage_num", "affected_population",
        "HAZ_dis_track_min")
      .collect().map(r => Impact(r.getString(0), r.getInt(1), r.getDouble(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    checkTriggers(out, impact)
    checkPayloads(out, impact, e)
  }

  /** X8: per (member, municipality) the minimum flat-earth ×111 km
    * distance from a node to a cell inside the node's 11° box; a row
    * exactly where such a pair exists. */
  private def checkDistance(out: CycleOutput, e: Expected): Unit = {
    val box = graft.hazard.Windfield.MaxDistDeg * 2
    val munIdx = e.pcodes.zipWithIndex.toMap
    val cells = e.centroidAdmin.indices.filter(e.centroidAdmin(_) != null)
    val cLat = cells.map(i => Inputs.gridLat(i.toLong)).toArray
    val cLon = cells.map(i => Inputs.gridLon(i.toLong)).toArray
    val cMun = cells.map(i => munIdx(e.centroidAdmin(i))).toArray
    val nodes = out.tables("tracks.nodes").select("ens_id", "lat", "lon").collect()
      .groupBy(_.getInt(0))
    val want = mutable.Map.empty[(Int, String), Double]
    for ((ens, ns) <- nodes) {
      val best = Array.fill(e.pcodes.size)(Double.PositiveInfinity)
      for (n <- ns; tLat = n.getDouble(1); tLon = n.getDouble(2); c <- cLat.indices) {
        if (cLat(c) > tLat - box && cLat(c) < tLat + box && cLon(c) > tLon - box && cLon(c) < tLon + box) {
          val d = math.sqrt(math.pow(cLat(c) - tLat, 2) + math.pow(cLon(c) - tLon, 2)) * 111.0
          if (d < best(cMun(c))) best(cMun(c)) = d
        }
      }
      best.indices.filter(!best(_).isInfinite).foreach(m => want((ens, e.pcodes(m))) = best(m))
    }
    val got = out.tables("hazard.municipal").select("ens_id", "Mun_Code", "HAZ_dis_track_min")
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getDouble(2)).toMap
    if (got.keySet != want.keySet)
      details += s"hazard.municipal: ${(got.keySet diff want.keySet).size} extra and " +
        s"${(want.keySet diff got.keySet).size} missing (member, municipality) rows"
    val off = got.count { case (k, d) => want.get(k).exists(w => !close(d, w)) }
    if (off > 0) details += s"hazard.municipal: $off HAZ_dis_track_min values differ"
  }

  private final case class Impact(mun: String, ens: Int, pct: Double, num: Long,
                                  pop: Long, dist: Double)

  private def avg(xs: Iterable[Double]): Double = xs.sum / xs.size
  private def roundHalfUp(v: Double, scale: Int): Double =
    JBigDecimal.valueOf(v).setScale(scale, RoundingMode.HALF_UP).doubleValue

  /** The trigger tables and the damage-probability table, re-computed
    * from the impact rows (one row per member and municipality). */
  private def checkTriggers(out: CycleOutput, impact: Array[Impact]): Unit = {
    val byEns = impact.groupBy(_.ens)
    val pct = avg(byEns.values.map(rs => if (rs.count(_.pct > 10) > 2) 1.0 else 0.0)) * 100
    val avgTrig = impact.groupBy(_.mun).values.count(rs => avg(rs.map(_.pct)) > 10) > 2
    val dref = Seq(Seq("50", "Moderate", pct > 50), Seq("70", "High", pct > 70),
      Seq("90", "Very High", pct > 90), Seq("Average", "NA", avgTrig))

    def exceed(totals: Iterable[Double], table: Seq[(String, Double, Double)]): Seq[Seq[Any]] =
      if (totals.isEmpty) Nil
      else table.map { case (label, thr, p) =>
        val prob = avg(totals.map(t => if (t > thr) 1.0 else 0.0))
        Seq(label, thr, p, prob, prob > p)
      }
    val cerf = exceed(impact.filter(r => Triggers.CerfRegions.contains(r.mun.take(4)))
      .groupBy(_.ens).values.map(_.map(_.num.toDouble).sum), Triggers.CerfProbabilities)
    def provincial(tables: Map[String, Seq[(String, Double, Double)]]): Seq[Seq[Any]] =
      impact.groupBy(r => r.mun.take(6) + "00000").toSeq.flatMap { case (prov, rs) =>
        tables.get(prov).toSeq.flatMap(t =>
          exceed(rs.groupBy(_.ens).values.map(_.map(_.num.toDouble).sum), t).map(prov +: _))
      }
    val damage = impact.groupBy(_.mun).toSeq.map { case (mun, rs) =>
      val v = rs.map(_.num.toDouble).sorted
      val pos = (v.length - 1) * 0.5
      val (lo, hi) = (pos.floor.toInt, pos.ceil.toInt)
      val median = if (lo == hi) v(lo) else (hi - pos) * v(lo) + (pos - lo) * v(hi)
      Seq(mun, median, roundHalfUp(avg(rs.map(r => if (r.num >= 100) 100.0 else 0.0)), 0),
        avg(rs.map(_.num.toDouble)))
    }
    Seq("dref" -> dref, "cerf" -> cerf, "start" -> provincial(Triggers.StartProbabilities),
      "hi" -> provincial(Triggers.HiProbabilities), "damage_probability" -> damage)
      .foreach { case (name, want) =>
        expect(s"impact.triggers.$name", out.hashes(s"impact.triggers.$name"), Cycle.hashValues(want))
      }
  }

  private val Entry = "\"placeCode\":\"([^\"]+)\",\"amount\":([-0-9.eE]+)".r
  private val Indicator = "\"dynamicIndicator\":\"([^\"]+)\"".r

  /** Exposure amounts per pcode, densified with zeros and rounded to
    * cents, and the 3-hourly HRES points of the track payload. */
  private def checkPayloads(out: CycleOutput, impact: Array[Impact], e: Expected): Unit = {
    val byMun = impact.groupBy(_.mun)
    def layer(f: Array[Impact] => Double): Map[String, Double] =
      e.pcodes.map(p => p -> byMun.get(p).map(rs => roundHalfUp(f(rs), 2)).getOrElse(0.0)).toMap
    val want = Map(
      "houses_affected" -> layer(rs => avg(rs.map(_.num.toDouble))),
      "population_affected" -> layer(rs => avg(rs.map(_.pop.toDouble))),
      "prob_within_50km" -> layer(rs => avg(rs.map(r => if (r.dist < 50) 1.0 else 0.0))))
    expect("publish.payloads", out.payloads.size, want.size + 1)
    out.payloads.foreach { body =>
      Indicator.findFirstMatchIn(body).map(_.group(1)) match {
        case Some(ind) =>
          val got = Entry.findAllMatchIn(body).map(m => m.group(1) -> m.group(2).toDouble).toMap
          want.get(ind) match {
            case Some(w) if got == w =>
            case Some(w) => details += s"publish $ind: ${w.count { case (p, v) => !got.get(p).contains(v) }} amounts differ"
            case None => details += s"publish: unexpected layer $ind"
          }
        case None =>
          val points = "\"timestampOfTrackpoint\"".r.findAllIn(body).size
          expect("publish track points", points, (e.nodesPerMember - 1) / 6 + 1)
      }
    }
  }
}
