package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.pipeline.{Stedi, StediFixtures}
import graft.sources.Tables

/** Open loop: risk events arrive on a fixed schedule whatever the engine
  * does, alongside a slow stream of re-published customer records (the
  * Redis change stream). Frames go through the STEDI decode, the bounded
  * stream-stream join and the Kafka payload serializer into a sink that
  * collects each micro-batch. The rate steps up a fixed ladder. */
object Live {
  /** Input rates in events per second, lowest first, each with its share
    * of the run's seconds. Rates step by 4x so that the limit below falls
    * between two steps however loaded the box is: on a 4-slot box 32000/s
    * holds p99 at 1.5 to 2.8 s, while 128000/s for 3 s leaves a backlog
    * that takes longer than the limit to clear. The top step is there to
    * fail. */
  val ladder = Seq(8000 -> 0.35, 32000 -> 0.15, 128000 -> 0.5)
  /** The step whose latency is reported. */
  val nominal = 8000
  /** A step is sustained when its p99 latency is within this limit. After
    * sending, a step waits this long for its backlog to clear; a backlog
    * that does not clear is growing, the step fails, and its events not
    * emitted by then count as over the limit. */
  val latencyLimitMs = 3500.0
  val rewritesPerS = 20.0
  /** Share of events naming a customer the change stream never sent. */
  val unknownShare = 0.1
  val warmupS = 2.0
  /** Copies of the customer frames in the timed batch decode. */
  val decodeCopies = 40

  private val iso = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(java.time.ZoneOffset.UTC)

  /** One sent risk event: customer id, score in tenths, stamp, and the
    * index of its ladder step (-1 in the warm-up). */
  private final case class Event(cust: Int, tenths: Int, stampMs: Long, step: Int)

  /** An event's identity, packed: stamp, customer id (< 2048) and score
    * in tenths (< 1024). */
  private def key(cust: Int, tenths: Int, stampMs: Long): Long =
    (stampMs << 21) | (cust.toLong << 10) | tenths

  private def tenths(score: String): Int = {
    val Array(a, b) = score.split('.')
    a.toInt * 10 + b.toInt
  }

  private final case class Step(rate: Int, startMs: Double, sendEndMs: Double,
      endMs: Double, sent: Int, lags: Seq[Double], backlog: Long,
      cleared: Boolean)

  /** The streaming query and its inputs, started afresh per set-up. */
  private final class Pipeline(val spark: SparkSession, tr: Trace,
      partitions: Int) {
    import spark.implicits._
    private implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.sqlContext
    // a fixed partition count, like a topic's, however many small
    // additions the generator makes between triggers
    val risks = MemoryStream[String](partitions)
    val customers = MemoryStream[String](partitions)
    val emitted = ArrayBuffer.empty[(Array[String], Double)]
    // seenAt is the change stream's ingestion time: decodeCustomers keeps
    // only the record, so the micro-batch timestamp stamps each version
    private val custDf = Stedi.decodeCustomers(customers.toDF())
      .withColumn("seenAt", current_timestamp())
    private val joined = Stedi.joinRiskBoundedFull(
      Stedi.parseRiskEventsFull(risks.toDF()), custDf,
      delay = "2 seconds", maxAge = "1 hour")
    val query: StreamingQuery = joined.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        tr.span("sink", s"batch$id") {
          val values = Stedi.riskScoreKafkaPayload(batch)
            .select("value").collect().map(_.getString(0))
          val end = tr.nowMs
          emitted.synchronized { emitted += values -> end }
        }: Unit
      }
      .start()
    private val riskSource = risks.toString

    /** Risk rows the query has finished, from its progress reports. */
    def consumed: Long = query.recentProgress.map { p =>
      p.sources.filter(_.description == riskSource).map(_.numInputRows).sum
    }.sum

    /** Block until every row added so far has been processed. */
    def drain(): Unit = query.processAllAvailable()

    /** Wait up to `ms` for every risk row sent so far to be processed;
      * whether they were. */
    def drainWithin(sent: Long, ms: Double): Boolean = {
      val deadline = tr.nowMs + ms
      while (consumed < sent && tr.nowMs < deadline) Thread.sleep(10)
      consumed >= sent
    }
  }

  def run(ctx: Ctx): Outcome = {
    val tr = ctx.trace
    val rng = new scala.util.Random(ctx.seed)

    // customer frames: the dataset's customers as Redis change events,
    // and a seeded order in which records are re-published
    def frames(spark: SparkSession): (Array[String], Array[String]) = {
      val boot = StediFixtures.redisFramesFrom(Tables.customer(spark, ctx.data)
        .orderBy("c_custkey")).collect().map(_.getString(0))
      val nRewrites = ((warmupS + ctx.seconds) * rewritesPerS * 2).toInt
      boot -> Array.fill(nRewrites)(boot(rng.nextInt(boot.length)))
    }

    // set-up: a fresh session, this run's frames, and a started query
    // with every customer decoded into the join's state; three times,
    // the median counts
    var pipe: Pipeline = null
    var boot: Array[String] = null
    var rewrites: Array[String] = null
    val prepMs = (1 to 3).map { _ =>
      if (pipe != null) pipe.query.stop()
      val t0 = tr.nowMs
      val spark = ctx.spark.newSession()
      tr.watch(spark)
      val f = frames(spark)
      boot = f._1; rewrites = f._2
      pipe = new Pipeline(spark, tr, ctx.slots)
      pipe.customers.addData(boot.toSeq)
      pipe.drain()
      tr.nowMs - t0
    }
    val nKnown = boot.length
    val birthYear = boot.map(Live.birthYearOf)
    val nIds = math.ceil(nKnown / (1 - unknownShare)).toInt
    require(nIds < 2048, s"$nIds customer ids do not fit an event key")
    val sent = ArrayBuffer.empty[Event]
    var rewriteNext = 0
    var sentRows = 0L

    /** Send `rate` events per second for `seconds`, on schedule, from
      * this thread; then wait, up to the latency limit, until the engine
      * has emitted them, so that no step's backlog spills into the next
      * step's batches. */
    def step(idx: Int, rate: Int, seconds: Double): Step = {
      val group = s"step$rate"
      val n = (rate * seconds).toInt
      val nRw = (rewritesPerS * seconds).toInt
      val lags = ArrayBuffer.empty[Double]
      val t0 = tr.nowMs
      var i = 0
      var j = 0
      while (i < n) {
        val now = tr.nowMs
        val due = math.min(n, ((now - t0) * rate / 1000).toInt + 1)
        if (due > i) {
          lags += now - (t0 + i * 1000.0 / rate)
          val batch = (i until due).map { k =>
            val e = Event(rng.nextInt(nIds), rng.nextInt(1000),
              (t0 + k * 1000.0 / rate).toLong, idx)
            sent += e
            s"""{"customer":"customer${e.cust}@test.com",""" +
              s""""score":"${e.tenths / 10}.${e.tenths % 10}",""" +
              s""""riskDate":"${iso.format(java.time.Instant.ofEpochMilli(e.stampMs))}"}"""
          }
          tr.span("gen", group)(pipe.risks.addData(batch))
          sentRows += batch.size
          i = due
        }
        val rwDue = math.min(nRw, ((now - t0) * rewritesPerS / 1000).toInt + 1)
        if (rwDue > j) {
          val rw = (j until rwDue).map(k => rewrites((rewriteNext + k) % rewrites.length))
          tr.span("gen", group)(pipe.customers.addData(rw))
          j = rwDue
        }
        Thread.sleep(5)
      }
      rewriteNext += j
      val sendEnd = tr.nowMs
      val backlog = sentRows - pipe.consumed
      val cleared = pipe.drainWithin(sentRows, latencyLimitMs)
      Step(rate, t0, sendEnd, tr.nowMs, n, lags.toSeq, backlog, cleared)
    }

    val warmT0 = tr.nowMs
    tr.span("setup.warmup", "setup") { step(-1, nominal, warmupS); pipe.drain() }
    val warmMs = tr.nowMs - warmT0
    // the ladder stops at the first step whose backlog does not clear
    val steps = ArrayBuffer.empty[Step]
    for (((r, share), i) <- ladder.zipWithIndex if steps.forall(_.cleared))
      steps += tr.span("step", s"step$r")(step(i, r, ctx.seconds * share))
    val tStop = tr.nowMs
    pipe.query.stop()
    val progress = pipe.query.recentProgress.toSeq

    // correctness, outside the timed region: every sent event naming a
    // known customer is emitted with that customer's birth year, and
    // nothing else is emitted
    val firstEmit = scala.collection.mutable.LongMap.empty[Double]
    var bad = 0L
    val id = """customer(\d+)@test\.com""".r
    for ((values, end) <- pipe.emitted; v <- values) {
      val j = json.readTree(v)
      def field(k: String) = Option(j.get(k)).map(_.asText).getOrElse("")
      val k = field("customer") match {
        case id(c) if c.toInt < nKnown && field("email") == field("customer") &&
            field("birthYear") == birthYear(c.toInt) =>
          scala.util.Try(key(c.toInt, tenths(field("score")),
            java.time.OffsetDateTime.parse(field("riskTime")).toInstant.toEpochMilli))
            .toOption
        case _ => None
      }
      k match {
        case Some(k) => if (firstEmit.getOrElse(k, Double.MaxValue) > end) firstEmit(k) = end
        case None => bad += 1
      }
    }
    // one pass over the sent events: latency by step, and the known
    // events never emitted
    val known = scala.collection.mutable.LongMap.empty[Unit]
    val stepLat = Array.fill(ladder.size)(ArrayBuffer.empty[Double])
    var missing = 0L
    var abandoned = 0L
    for (e <- sent if e.cust < nKnown) {
      val k = key(e.cust, e.tenths, e.stampMs)
      val emitted = firstEmit.get(k)
      if (!known.contains(k)) {
        known(k) = ()
        // a step that did not clear was stopped with its backlog unsent
        if (emitted.isEmpty) {
          if (e.step >= 0 && !steps(e.step).cleared) abandoned += 1 else missing += 1
        }
      }
      if (e.step >= 0)
        stepLat(e.step) += emitted.fold(Double.PositiveInfinity)(_ - e.stampMs)
    }
    val extra = firstEmit.keysIterator.count(k => !known.contains(k)).toLong
    val dropped = progress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    ctx.info(f"set-up: boot ${ctx.bootS}%.2f s, inputs and query start " +
      f"${Stats.median(prepMs) / 1000}%.2f s, warm-up ${warmMs / 1000}%.2f s")
    ctx.info(s"events sent ${sent.size} (${known.size} distinct known), " +
      s"emitted ${firstEmit.size} distinct, missing $missing, not emitted when " +
      s"a step was stopped $abandoned, bad rows $bad, " +
      s"extra $extra, dropped by watermark $dropped")

    val lat = steps.toSeq.zip(stepLat.map(_.toSeq))
    lat.foreach { case (s, l) =>
      ctx.info(f"step ${s.rate}%5d/s: sent ${s.sent}%6d, p50 ${Stats.pct(l, 50)}%7.1f ms, " +
        f"p99 ${Stats.pct(l, 99)}%7.1f ms (n ${l.size}), gen lag max " +
        f"${s.lags.max}%6.1f ms, end backlog ${s.backlog}%6d rows, " +
        f"drain ${s.endMs - s.sendEndMs}%7.1f ms${if (s.cleared) "" else " (not cleared)"}")
    }
    def sustained(s: Step, l: Seq[Double]) =
      s.cleared && Stats.pct(l, 99) <= latencyLimitMs
    val top = lat.takeWhile { case (s, l) => sustained(s, l) }.lastOption
    val (nomStep, nomLat) = lat.find(_._1.rate == nominal).get
    val nomWindow = (nomStep.startMs, nomStep.endMs)
    val trig = progress.filter { p =>
      val t = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      t >= nomWindow._1 && t <= nomWindow._2
    }.map(_.durationMs.get("triggerExecution").toDouble / 1000)
    val decodeRate = if (tr.on) decodeRowsPerS(pipe.spark, boot) else 0.0

    val failed = missing + bad + extra + dropped
    ctx.info(f"timeline: ladder ${(tStop - steps.head.startMs) / 1000}%.2f s, " +
      f"stop and checks ${(tr.nowMs - tStop) / 1000}%.2f s")
    Outcome(
      attempted = sent.size,
      failed = failed,
      metrics = Map(
        "setup_s" -> ((Stats.median(prepMs) + warmMs) / 1000 +
          ctx.bootS),
        "wall_s" -> Stats.median(trig),
        "query_geomean_s" ->
          Stats.geomean(lat.init.flatMap(_._2).map(_ / 1000)),
        "latency_p50_ms" -> Stats.pct(nomLat, 50),
        "latency_p99_ms" -> Stats.pct(nomLat, 99),
        "sustained_rows_per_s" -> top.map { case (s, _) =>
          s.sent * 1000.0 / (s.sendEndMs - s.startMs) }.getOrElse(0.0)),
      windows = Seq(nomWindow),
      units = trig.size,
      layerExtra = Map(
        "pipeline.decode_rows_per_s" -> decodeRate,
        "gen.lag_ms" -> Stats.pct(steps.toSeq.flatMap(_.lags), 99),
        "gen.backlog_rows" -> nomStep.backlog.toDouble))
  }

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The birth year a Redis frame's customer record carries, decoded
    * with Jackson and the JDK (independent of the engine's decode). */
  private def birthYearOf(frame: String): String = {
    val b64 = json.readTree(frame).get("zSetEntries").get(0).get("element").asText
    val rec = json.readTree(java.util.Base64.getMimeDecoder.decode(b64))
    rec.get("birthDay").asText.split("-")(0)
  }

  /** Batch throughput of the two STEDI decode functions over this run's
    * customer frames and as many risk frames. */
  private def decodeRowsPerS(spark: SparkSession, boot: Array[String]): Double = {
    import spark.implicits._
    val frames = Seq.fill(decodeCopies)(boot.toSeq).flatten
    val cust = frames.toDF("value").localCheckpoint()
    val risk = frames.indices.map(i =>
      s"""{"customer":"customer$i@test.com","score":"1.0","riskDate":"2024-01-01T00:00:00.000Z"}""")
      .toDF("value").localCheckpoint()
    def run(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val t0 = System.nanoTime()
    run(Stedi.decodeCustomers(cust))
    run(Stedi.parseRiskEventsFull(risk))
    2.0 * frames.size / ((System.nanoTime() - t0) / 1e9)
  }
}
