package perfbench

import org.apache.spark.sql.SparkSession

/** What a workload needs from the run. */
final case class Ctx(workload: String, seed: Long, seconds: Int,
    data: String, expectedPath: String, slots: Int, trace: Trace,
    spark: SparkSession, bootS: Double) {
  def info(msg: String): Unit = println(s"[perfbench] $msg")
}

/** A workload's result: its end-to-end metrics, the measured intervals
  * (passes, or the nominal live step) and the units the per-layer
  * figures are divided by (passes, or triggers). */
final case class Outcome(attempted: Long, failed: Long,
    metrics: Map[String, Double], windows: Seq[(Double, Double)],
    units: Int, layerExtra: Map[String, Double])

object Stats {
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Percentile, interpolated linearly between the two nearest ranks. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val h = (s.size - 1) * p / 100
    val lo = h.toInt
    if (lo + 1 >= s.size || s(lo + 1) == s(lo)) s(lo)
    else s(lo) + (h - lo) * (s(lo + 1) - s(lo))
  }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(math.log).sum / xs.size)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Pinned per-query results: one `name rows:hash` line each. */
object Expected {
  def load(path: String): Map[String, String] =
    scala.io.Source.fromFile(path).getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\\s+"); k -> v }.toMap
}

/** Runs one workload in this JVM and prints the result as the last line
  * of standard output. Arguments (all required):
  * `--workload W --seed N --seconds S --trace 0|1 --data DIR
  *  --expected FILE --spans FILE`. */
object Main {
  val units: Map[String, String] = Map(
    "setup_s" -> "s", "wall_s" -> "s", "query_geomean_s" -> "s",
    "latency_p50_ms" -> "ms", "latency_p99_ms" -> "ms",
    "sustained_rows_per_s" -> "rows/s")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    require(Seq("stedi_live", "stedi_replay", "graph_loops")
      .contains(workload), s"unknown workload $workload")
    val slots = math.min(4, Runtime.getRuntime.availableProcessors)
    val trace = new Trace(opt("trace") == "1")
    val t0 = trace.nowMs
    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    trace.attach(spark)
    val ctx = Ctx(workload, opt("seed").toLong, opt("seconds").toInt,
      opt("data"), opt("expected"), slots, trace, spark,
      (trace.nowMs - t0) / 1000)
    val out = workload match {
      case "stedi_live" => Live.run(ctx)
      case "stedi_replay" => ClosedLoop.run(ctx, ClosedLoop.replay)
      case "graph_loops" => ClosedLoop.run(ctx, ClosedLoop.graph)
    }
    // stop drains Spark's listener bus, so the trace is complete after it
    val tStop = trace.nowMs
    spark.stop()
    ctx.info(f"timeline: JVM work ${(tStop - t0) / 1000}%.2f s, Spark stop " +
      f"${(trace.nowMs - tStop) / 1000}%.2f s")
    val metrics: Seq[(String, Double, String)] =
      if (trace.on) {
        trace.writeSpans(java.nio.file.Paths.get(opt("spans")))
        Layers.table(trace, out).foreach(l => ctx.info(l))
        Layers.metrics(trace, out, slots).toSeq.sortBy(_._1)
          .map { case (k, v) => (k, v, Layers.units(k)) }
      } else out.metrics.toSeq.sortBy(_._1).map { case (k, v) => (k, v, units(k)) }
    ctx.info(f"seed ${ctx.seed}, failed ${out.failed} of ${out.attempted}" +
      f" (failed_frac ${out.failed.toDouble / out.attempted}%.6f)")
    val body = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${out.failed == 0}, "attempted": ${out.attempted}, """ +
      s""""failed": ${out.failed}, "metrics": {$body}}""")
  }

  /** A JSON number with every digit the double carries. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else BigDecimal(v).bigDecimal.toPlainString
}
