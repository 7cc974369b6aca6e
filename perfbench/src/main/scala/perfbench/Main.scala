package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.{Engine, GraftExtensions}

/** Runs one workload of the forecast-cycle benchmark and prints, as the
  * last line of stdout, {"correct", "attempted", "failed", "metrics"}.
  *
  * A run: start the session; generate the seed's inputs (three times,
  * timing each); run one cycle on them, timed from the generated files
  * to the posted payloads in a JVM that has run nothing else, as the
  * operational cron pipeline runs it; then check its outputs. With
  * `--trace 1` a warm untraced cycle and a traced one follow, then the
  * windfield forced alone, and the per-layer metrics are printed
  * instead of the end-to-end ones.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --pins <file> --deadline-ms <epoch ms>
  *   [--commit <sha>] [--cores <n>] */
object Main {
  val GenerationRepeats = 3

  private final case class Opts(workload: Workload, seed: Long, seconds: Double,
                                trace: Boolean, work: Path, pins: Path,
                                deadlineMs: Long, commit: String, cores: Int)

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(
      workload = Workload.byName(need("workload")).getOrElse(
        throw new IllegalArgumentException(s"unknown workload ${need("workload")}")),
      seed = need("seed").toLong, seconds = need("seconds").toDouble,
      trace = need("trace") == "1", work = Paths.get(need("work")), pins = Paths.get(need("pins")),
      deadlineMs = need("deadline-ms").toLong, commit = kv.getOrElse("commit", "none"),
      cores = kv.get("cores").map(_.toInt)
        .getOrElse(math.min(4, Runtime.getRuntime.availableProcessors())))
  }

  private def now: Double = System.nanoTime() / 1e9
  private def processCpuSeconds: Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => Double.NaN
    }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    watchdog(o.deadlineMs)
    val env = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload.name, "seed" -> o.seed, "seconds" -> o.seconds,
      "trace" -> o.trace) ++ Env.atStart(o.cores, o.commit)

    val tmp = Files.createDirectories(o.work.resolve("tmp"))
    val spark = Engine.configure(SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.local.dir", tmp.toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftExtensions.register(spark)
    spark.range(1).count()
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    env("spark_version") = spark.version

    val failures = mutable.ArrayBuffer.empty[(String, String)]
    var attempted = 0
    /** One operation: counted as attempted; if it throws, counted as
      * failed with its error class and given no time. */
    def attempt[T](what: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(body)
      catch {
        case NonFatal(e) =>
          failures += what -> e.getClass.getName
          System.err.println(s"perfbench: $what failed: $e")
          None
      }
    }

    // ---- set-up -----------------------------------------------------------
    val generated = (0 until GenerationRepeats).map { i =>
      val t0 = now
      val in = Inputs.generate(o.workload, o.seed, o.work.resolve(s"inputs-$i"))
      (in, now - t0)
    }
    val inputs = generated.head._1
    val genTimes = generated.map(_._2)
    val setupS = sessionS + median(genTimes)

    // ---- the timed cycle: cold, as the cron pipeline runs it ------------------
    val checks = new Checks
    val spans = mutable.ArrayBuffer.empty[Span]
    var cycleS = Option.empty[Double]
    var cpuS = Option.empty[Double]
    var pinned = false
    val cpu0 = processCpuSeconds
    val first = attempt("cycle") {
      val t = new Tracer(spark, "cycle", listen = false)
      val out = Cycle.run(spark, inputs, t)
      cpuS = Some(processCpuSeconds - cpu0)
      cycleS = Some(t.spans.find(_.name == "cycle").get.seconds)
      spans ++= t.spans
      out
    }
    val checkStart = now
    first.foreach { out =>
      try {
        checks.independent(out, inputs)
        pinned = checks.pinned(out, o.pins, o.workload.name, o.seed)
      } catch { case NonFatal(e) => checks.details += s"checks could not run: $e" }
      Files.write(o.work.resolve("outputs.json"),
        Json.obj(out.rows.toSeq ++ out.hashes.toSeq).json.getBytes(StandardCharsets.UTF_8))
      out.release()
    }
    val checkS = now - checkStart

    // ---- fill --seconds: warm cycles after a cold cycle shorter than that --
    val warmS = mutable.ArrayBuffer.empty[Double]
    var filling = first.nonEmpty
    while (filling && cycleS.get + warmS.sum < o.seconds &&
           (o.deadlineMs - System.currentTimeMillis()) / 1000.0 > 30 + 3 * cycleS.get) {
      filling = attempt(s"warm cycle ${warmS.size}") {
        val t = new Tracer(spark, s"fill-${warmS.size}", listen = false)
        val out = Cycle.run(spark, inputs, t)
        out.release()
        checks.same(first.get, out, "warm cycle")
        spans ++= t.spans
        warmS += t.spans.find(_.name == "cycle").get.seconds
      }.isDefined
    }

    // ---- traced cycle -----------------------------------------------------
    val layerMetrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (o.trace && first.nonEmpty) {
      // a warm untraced cycle, the baseline of the tracing overhead
      val warm = attempt("warm cycle") {
        val t = new Tracer(spark, "warm", listen = false)
        val out = Cycle.run(spark, inputs, t)
        spans ++= t.spans
        out.release()
        checks.same(first.get, out, "warm cycle")
        t.spans.find(_.name == "cycle").get.seconds
      }
      val t = new Tracer(spark, "traced", listen = true)
      attempt("traced cycle") {
        val out = Cycle.run(spark, inputs, t, windfieldAlone = true)
        out.release()
        t.drain()
        out
      }.foreach { out =>
        checks.same(first.get, out, "traced cycle")
        spans ++= t.spans
        val traced = t.spans.find(_.name == "cycle").get.seconds
        for (layer <- Cycle.Layers :+ "hazard.windfield") {
          val g = t.group(layer)
          layerMetrics ++= Seq(
            s"$layer.s" -> (t.selfSeconds(layer), "s"),
            s"$layer.rows" -> (out.layerRows.getOrElse(layer, 0L).toDouble, "count"),
            s"$layer.jobs" -> (g.jobs.toDouble, "count"),
            s"$layer.cpu_s" -> (g.executorCpuNs / 1e9, "s"),
            s"$layer.shuffle_bytes" -> (g.shuffleBytes.toDouble, "B"),
            s"$layer.spill_bytes" -> (g.spillBytes.toDouble, "B"),
            s"$layer.exchanges" -> (g.exchanges.toDouble, "count"))
        }
        val pairs = out.rows("hazard.windfield.pairs").toDouble
        val nodes = out.rows("tracks.nodes").toDouble
        layerMetrics ++= Seq(
          "hazard.windfield.pairs" -> (pairs, "count"),
          "hazard.windfield.pair_yield" ->
            (pairs / (nodes * Inputs.GridCols * Inputs.GridRows), "ratio"),
          "hazard.nlj" -> (t.group("hazard").nestedLoopJoins.toDouble, "count"),
          "hazard.share" -> (t.selfSeconds("hazard") / traced, "ratio"),
          "trace.overhead_s" -> (traced - warm.getOrElse(Double.NaN), "s"))
      }
      t.close()
    }

    // ---- result -------------------------------------------------------------
    val peakRssMb = Env.peakRssMb
    env ++= Env.atEnd
    val failedFrac = failures.size.toDouble / attempted
    val correct = failures.isEmpty && checks.wrong == 0
    val metrics: Seq[(String, (Double, String))] =
      if (o.trace) layerMetrics.toSeq
      else cycleS.toSeq.flatMap(c => Seq(
        "cycle_s" -> (c, "s"),
        "setup_s" -> (setupS, "s"),
        "cpu_s" -> (cpuS.get, "s"),
        "peak_rss_mb" -> (peakRssMb, "MB")))

    val artifact = Json.obj(Seq(
      "env" -> Json.obj(env.toSeq),
      "correct" -> correct, "attempted" -> attempted, "failed" -> failures.size,
      "failed_frac" -> failedFrac, "wrong_outputs" -> checks.wrong,
      "failures" -> failures.map { case (w, e) => Json.obj(Seq("op" -> w, "error" -> e)) },
      "wrong" -> checks.details,
      "pinned" -> pinned,
      "setup" -> Json.obj(Seq("session_s" -> sessionS, "generate_s" -> genTimes)),
      "check_s" -> checkS,
      "cycle_s" -> cycleS, "cpu_s" -> cpuS, "warm_cycle_s" -> warmS.toSeq,
      "rows" -> first.map(f => Json.obj(f.rows.toSeq)),
      "layer_rows" -> first.map(f => Json.obj(f.layerRows.toSeq)),
      "hashes" -> first.map(f => Json.obj(f.hashes.toSeq)),
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) => k -> Json.obj(Seq("value" -> v, "unit" -> u)) }),
      "spans" -> spans.map(s => Json.obj(Seq("name" -> s.name, "parent" -> s.parent,
        "run_id" -> s.runId, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))))
    Files.write(o.work.resolve("artifact.json"), artifact.json.getBytes(StandardCharsets.UTF_8))
    spark.stop()

    println(s"perfbench: env ${Json.obj(env.toSeq)}")
    println(s"perfbench: failed_frac=$failedFrac (${failures.size}/$attempted) " +
      s"wrong_outputs=${checks.wrong} pinned=$pinned " +
      s"cycle_s=${cycleS.map(v => f"$v%.3f").getOrElse("none")}")
    checks.details.foreach(d => println(s"perfbench: wrong output: $d"))
    if (metrics.isEmpty) {
      System.err.println("perfbench: no cycle completed; no result")
      sys.exit(1)
    }
    println(Json.obj(Seq("correct" -> correct, "attempted" -> attempted,
      "failed" -> failures.size,
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> v, "unit" -> u)) }))))
    sys.exit(0)
  }

  /** No call waits forever: past the deadline the JVM says so and halts. */
  private def watchdog(deadlineMs: Long): Unit = {
    val th = new Thread(() => {
      val wait = deadlineMs - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      System.err.println("perfbench: run passed its deadline; halting without a result")
      Runtime.getRuntime.halt(3)
    }, "perfbench-watchdog")
    th.setDaemon(true)
    th.start()
  }
}
