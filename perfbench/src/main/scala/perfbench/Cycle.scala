package perfbench

import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession, functions}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Forecast
import graft.geo.SpatialJoin
import graft.hazard.{CentroidGrid, Windfield}
import graft.impact.{DamageProbability, ImpactModel, Triggers, XgbBooster}
import graft.publish.{Payloads, Sinks}
import graft.rain.Rainfall
import graft.sources.{ClimadaSources, TrackSources}
import graft.tracks.TrackPrep

/** What one cycle produced: rows per output and per layer, content
  * hashes of the decisions and payloads, the payload bodies, and the
  * forced tables themselves, which stay materialized for the checks
  * until `release`. */
final class CycleOutput {
  val rows: mutable.LinkedHashMap[String, Long] = mutable.LinkedHashMap.empty
  val layerRows: mutable.LinkedHashMap[String, Long] = mutable.LinkedHashMap.empty
  val hashes: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty
  val tables: mutable.LinkedHashMap[String, DataFrame] = mutable.LinkedHashMap.empty
  val payloads: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def count(layer: String, name: String, n: Long): Unit = {
    rows(s"$layer.$name") = n
    layerRows(layer) = layerRows.getOrElse(layer, 0L) + n
  }

  def release(): Unit = tables.values.foreach(_.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ =>
  })
}

/** The IBF forecast cycle, built from the repo's public functions in
  * the order of the operational pipeline: ingest, geo, track prep,
  * hazard, rainfall, features, scoring, triggers and publish. Every
  * layer is a span; its output is materialized at the layer's boundary,
  * so no later action recomputes it (the trigger tables run actions of
  * their own on the impact table). */
object Cycle {
  val Layers: Seq[String] = Seq("sources", "geo", "tracks", "hazard", "rain",
    "features", "impact.score", "impact.triggers", "publish")

  val TrackValues: Seq[String] = Seq("lat", "lon", "central_pressure",
    "environmental_pressure", "radius_max_wind", "max_sustained_wind")

  private val lineSchema = StructType(Seq(
    StructField("file", StringType), StructField("line_no", IntegerType),
    StructField("subset", StringType), StructField("code", StringType),
    StructField("value", StringType)))

  private val polygonSchema = StructType(Seq(
    StructField("admin_code", StringType), StructField("wkt", StringType)))

  private val indicatorSchema = StructType(StructField("Mun_Code", StringType) +:
    ImpactModel.FeatureCols.filterNot(_.startsWith("HAZ_")).map(StructField(_, DoubleType)))

  private def csv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").option("mode", "FAILFAST").schema(schema).csv(path)

  /** GEFS cube (time, lat, lon, number, precip): ensemble members only. */
  private def rainCube(spark: SparkSession, glob: String, fc: java.sql.Timestamp): DataFrame =
    ClimadaSources.readGrib2(spark, glob)
      .where(col("member") >= 1)
      .select(
        timestamp_seconds(unix_timestamp(lit(fc)) + col("forecast_time") * 3600).as("time"),
        col("lat"), col("lon"), col("member").as("number"), col("value").as("precip"))

  /** Run one cycle; the caller releases the output. With
    * `windfieldAlone` the windfield is also forced on its own after the
    * cycle, as span `hazard.windfield`, and its pair count recorded. */
  def run(spark: SparkSession, in: InputFiles, t: Tracer,
          windfieldAlone: Boolean = false): CycleOutput = {
    val out = new CycleOutput
    import out.{count, rows, hashes}
    /** Materialize a layer's output and cut its lineage, as a table
      * handed from one stage to the next: later layers plan against the
      * materialized rows, not against the whole upstream plan again. */
    def force(layer: String, name: String, df: DataFrame): DataFrame = {
      val p = df.localCheckpoint(eager = true)
      out.tables(s"$layer.$name") = p
      count(layer, name, p.count())
      p
    }
    var hazardInputs: (DataFrame, DataFrame) = null
    try {
      t.span("cycle") {
        val (tracksRaw, cube6, cube24) = t.span("sources") {
          val parsed = TrackSources.parseBufrLines(csv(spark, in.bufrDir, lineSchema))
          val tracks = TrackSources.withAbsoluteTime(parsed, in.forecastTime).select(
            col("storm_sid").as("storm_id"), col("name"),
            col("ens_id_raw").cast("int").as("ens_id"),
            when(col("ens_type") === "0", "False").otherwise("TRUE").as("is_ensemble"),
            col("time"), col("lat"), col("lon"), col("max_sustained_wind"),
            (col("central_pressure") / 100.0).as("central_pressure"),
            lit(0.0).as("radius_max_wind"), lit(1010.0).as("environmental_pressure"))
          (force("sources", "tracks", tracks),
            force("sources", "rain_6h", rainCube(spark, in.rain6hGlob, in.forecastTime)),
            force("sources", "rain_24h", rainCube(spark, in.rain24hGlob, in.forecastTime)))
        }

        val polygons = csv(spark, in.polygons, polygonSchema)
        val centroids = CentroidGrid.philippines(spark)
        val (centroidAdmin, rainAdmin) = t.span("geo") {
          val rainCells = Rainfall.withCellId(cube6.select("lat", "lon").distinct())
          (force("geo", "centroid_admin", SpatialJoin.centroidAdminMap(centroids, polygons)),
            force("geo", "rain_admin", SpatialJoin.centroidAdminMap(rainCells, polygons)))
        }

        val (resampled, hres) = t.span("tracks") {
          val active = TrackPrep.filterActivePAR(tracksRaw)
          val nodes = force("tracks", "nodes", TrackPrep.resample(
            active.select((Seq("storm_id", "ens_id", "time") ++ TrackValues).map(col): _*),
            TrackValues))
          val hresKeys = TrackPrep.hresOnly(active).select("storm_id", "ens_id").distinct()
          (nodes, force("tracks", "hres", nodes.join(hresKeys, Seq("storm_id", "ens_id"), "left_semi")))
        }

        hazardInputs = (resampled, centroids)
        val hazard = t.span("hazard") {
          force("hazard", "municipal", Forecast.municipalHazard(resampled, centroids, centroidAdmin))
        }

        val rain = t.span("rain") {
          val perWindow = Rainfall.rainData(cube6, cube24, rainAdmin)
          val total = SpatialJoin.zonalMean(
            Rainfall.withCellId(Rainfall.ensembleMedian(cube24))
              .select(col("centroid_id"), col("time"), col("precip").as("value")),
            rainAdmin, Seq("time"))
            .groupBy(col("admin_code").as("Mun_Code"))
            .agg(sum("zonal_mean").as("HAZ_rainfall_Total"))
          force("rain", "admin", perWindow.join(total, Seq("Mun_Code"), "left").select(
            col("Mun_Code"), col("HAZ_rainfall_Total"),
            col("max_6h_rain").as("HAZ_rainfall_max_6h"),
            col("max_24h_rain").as("HAZ_rainfall_max_24h")))
        }

        val features = t.span("features") {
          val indicators = csv(spark, in.indicators, indicatorSchema)
          force("features", "matrix", Forecast.features(hazard, rain, indicators))
        }

        val impact = t.span("impact.score") {
          force("impact.score", "impact", ImpactModel.predict(XgbBooster.load(in.booster), features))
        }

        t.span("impact.triggers") {
          val rep = Forecast.triggers(impact)
          val tables = Seq("dref" -> rep.dref, "cerf" -> rep.cerf, "start" -> rep.start,
            "hi" -> rep.hi,
            "damage_probability" -> DamageProbability.municipalityTable(
              Triggers.dedupKeepMax(impact), 0.5, 100.0))
          tables.foreach { case (name, df) =>
            val got = df.collect()
            count("impact.triggers", name, got.length.toLong)
            hashes(s"impact.triggers.$name") = hashRows(got)
          }
        }

        t.span("publish") {
          val pcodes = polygons.select(col("admin_code").as("pcode"))
          def layer(values: DataFrame, indicator: String): DataFrame =
            Payloads.exposureLayer(values, indicator, "72-hour", in.eventName)
          def perMun(df: DataFrame, c: String): DataFrame =
            Payloads.densify(df.select(col("Mun_Code").as("placeCode"), col(c)), pcodes, c)
          val payloads = Seq(
            layer(Forecast.exposureValues(impact, pcodes), "houses_affected"),
            layer(perMun(impact.groupBy("Mun_Code")
              .agg(avg("affected_population").as("amount")), "amount"), "population_affected"),
            layer(perMun(ImpactModel.ensembleSummary(impact), "prob_within_50km")
              .withColumnRenamed("prob_within_50km", "amount"), "prob_within_50km"),
            Payloads.trackPayload(hres.select(col("time"), col("lat"), col("lon"),
              col("max_sustained_wind").as("vmax_1min"),
              lit(false).as("first_landfall"), lit(false).as("closest_to_land")),
              in.eventName, "72-hour"))
            .reduce(_ union _)
          Sinks.postPayloads(payloads, body => out.payloads += body)
          count("publish", "payloads", out.payloads.size.toLong)
          hashes("publish.payloads") = sha256(out.payloads.sorted.mkString("\n"))
        }
      }

      if (windfieldAlone) t.span("hazard.windfield") {
        val (nodes, centroids) = hazardInputs
        // one pass: the pair rows are counted as they flow into intensity
        val pairs = Observation("windfield pairs")
        val intensity = Windfield.intensity(
          Windfield.compute(nodes, centroids).observe(pairs, functions.count(lit(1)).as("pairs")))
          .localCheckpoint(eager = true)
        out.tables("hazard.windfield.intensity") = intensity
        count("hazard.windfield", "intensity", intensity.count())
        rows("hazard.windfield.pairs") = pairs.get("pairs").asInstanceOf[Long]
      }
      out
    } catch {
      case e: Throwable => out.release(); throw e
    }
  }

  /** Order-independent content hash of table rows; doubles are
    * rounded to 9 significant digits, so a last-bit difference in a
    * floating-point sum does not count as a different output. */
  def hashRows(rows: Array[Row]): String = hashValues(rows.toSeq.map(_.toSeq))

  def hashValues(rows: Seq[Seq[Any]]): String =
    sha256(rows.map(_.map(canon).mkString("|")).sorted.mkString("\n"))

  private def canon(v: Any): String = v match {
    case d: Double if d.isNaN || d.isInfinite => d.toString
    case d: Double => new java.math.BigDecimal(d).round(new java.math.MathContext(9)).toString
    case null => "null"
    case o => o.toString
  }

  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
}
