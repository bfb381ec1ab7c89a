package graftbench

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.model.FraudConstants._
import graft.streaming.{FraudStream, Main, ScoredEvent}

/** `fraud_live`: the v2 job as `graft.streaming.Main` runs it
  * (`v2Pipelines` → `fanOut` main / fraud-alerts / risk-audit, plus the
  * dead-letter sink), fed by an open-loop generator at two fixed rates.
  *
  * The generator sends on a schedule that does not slow when the job slows;
  * each event is timed from its scheduled send time, so a stall is charged
  * to every event it delays.
  */
object Live {

  final case class Size(copies: Int, lowRate: Int, highRate: Int, warmMinS: Double,
      warmMaxS: Double, malformedEvery: Int)

  val Full = Size(copies = 1024, lowRate = 1000, highRate = 2000, warmMinS = 10, warmMaxS = 25,
    malformedEvery = 250)
  val Tiny = Size(copies = 16, lowRate = 100, highRate = 200, warmMinS = 3, warmMaxS = 15,
    malformedEvery = 50)

  /** How long the drain after the last send may take before unscored events fail. */
  private val DrainS = 20

  private final class Phase(val name: String, val rate: Double, val seconds: Double) {
    @volatile var startNs = 0L
    @volatile var endNs = 0L
    @volatile var firstPos = 0
    var endPos = 0
    var lagMsMax = 0.0
    val backlog = mutable.ArrayBuffer.empty[(Double, Long)]
  }

  private def idOf(json: String): String = {
    val k = "\"event_id\":\""
    val i = json.indexOf(k) + k.length
    json.substring(i, json.indexOf('"', i))
  }

  def run(spark: SparkSession, probe: Probe, seed: Long, seconds: Double, size: Size)
      : Map[String, Any] = {
    import spark.implicits._
    val phaseS = seconds / 2
    val tmp = System.getProperty("java.io.tmpdir")

    // ---- inputs: events in send order, with malformed payloads interleaved
    val needed = (size.lowRate * size.warmMaxS + (size.lowRate + size.highRate) * phaseS).toInt
    // at least 128 events per generator, so each of its 8 cards has one
    // ((7/8)^128 ≈ 4e-8): every card's first event is at TxGen's base instant,
    // so the first 8 × copies payloads touch every card
    val perCopy = math.max((needed * 1.15 / size.copies).toInt + 8, 128)
    val txs = Events.widened(seed, size.copies, perCopy)
    val cards = txs.iterator.map(_.card_id).toSet.size
    val slots = needed + needed / size.malformedEvery + 1
    val payload = new Array[String](slots)
    val txAt = new Array[Int](slots) // index into txs, or -1 for a malformed payload
    val posOf = new java.util.HashMap[String, Integer](slots * 2)
    var ti = 0
    for (pos <- 0 until slots) {
      if (pos % size.malformedEvery == size.malformedEvery - 1) {
        payload(pos) = Events.malformed(pos); txAt(pos) = -1
      } else {
        payload(pos) = Events.toJson(txs(ti)); txAt(pos) = ti
        posOf.put(txs(ti).event_id, pos); ti += 1
      }
    }
    val sched = new Array[Long](slots)
    val inputsReady = Clock.now()

    // ---- the job, as Main's v2 branch wires it; the dead-letter query reads
    // its own copy of the topic, as a second consumer of Kafka would
    val parts = spark.sparkContext.defaultParallelism
    val in = MemoryStream[String](spark, parts)
    val dlqIn = MemoryStream[String](spark, parts)
    val p = Main.v2Pipelines(in.toDF(), RapidTxCountV2)

    val seen = new Array[Byte](slots)
    val alertFlags = mutable.HashMap.empty[String, (Boolean, Boolean, Boolean)]
    var alertDups = 0L
    val phases = Seq(new Phase("warmup", size.lowRate, size.warmMaxS),
      new Phase("low", size.lowRate, phaseS), new Phase("high", size.highRate, phaseS))
    def phaseOf(pos: Int): Phase =
      phases.findLast(ph => ph.startNs > 0 && pos >= ph.firstPos).getOrElse(phases.head)
    val alertLat = phases.map(_.name -> mutable.ArrayBuffer.empty[Double]).toMap
    val sinkMs = Seq("main", "alerts", "audit", "dlq")
      .map(_ -> mutable.ArrayBuffer.empty[(Double, Double)]).toMap
    @volatile var dlqRows = 0L

    def timed[T](sink: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = probe.span(s"sink.$sink")(body)
      sinkMs(sink).synchronized { sinkMs(sink) += ((Clock.ms(t0), (System.nanoTime() - t0) / 1e6)) }
      r
    }

    val fan = FraudStream.fanOut(
      p.scored,
      writeMain = df => timed("main") {
        val vals = FraudStream.toV2Json(df.as[ScoredEvent]).collect()
        vals.foreach { r =>
          val pos = posOf.get(idOf(r.getString(0)))
          if (pos != null && seen(pos) < 100) seen(pos) = (seen(pos) + 1).toByte
        }
      },
      writeAlerts = df => {
        val vals = timed("alerts")(FraudStream.toV2Json(df.as[ScoredEvent]).collect())
        val ret = System.nanoTime()
        vals.foreach { r =>
          val json = r.getString(0)
          val id = idOf(json)
          if (alertFlags.contains(id)) alertDups += 1
          alertFlags(id) = Events.rulesOf(json)
          val pos = posOf.get(id)
          if (pos != null) alertLat(phaseOf(pos).name) += (ret - sched(pos)) / 1e6
        }
      },
      writeAudit = df => timed("audit") {
        df.select(to_json(struct(df.columns.map(col): _*)).as("value")).collect().length
      },
      checkpointDir = s"$tmp/ckpt/fan")
    probe.name(fan.id, "fan")
    val dlq = Main.v2Pipelines(dlqIn.toDF(), RapidTxCountV2).deadLetter.writeStream
      .option("checkpointLocation", s"$tmp/ckpt/dlq")
      .foreachBatch((df: DataFrame, _: Long) => timed("dlq") { dlqRows += df.collect().length })
      .start()
    probe.name(dlq.id, "dlq")

    // warm-up has settled once every card has state and batch time has
    // levelled off: the last three batches with input are within 20 % of
    // each other
    def settled(ph: Phase): Boolean = {
      val since = Clock.ms(ph.startNs) + size.warmMinS * 500
      val recent = probe.batchesOf("fan").filter(b => b.startMs >= since && b.rows > 0)
        .takeRight(3)
      recent.size == 3 && recent.last.stateRows == cards && {
        val ts = recent.map(_.triggerMs.toDouble)
        ts.max <= 1.2 * ts.min
      }
    }

    // ---- open-loop generator: one thread, ticks every millisecond, sends
    // every payload whose scheduled time has passed in one chunk
    var pos = 0
    var warmSettled = false
    for (ph <- phases) {
      ph.firstPos = pos; ph.startNs = System.nanoTime()
      val period = 1e9 / ph.rate
      var i = 0L
      var nextSample = ph.startNs
      def elapsedS = (System.nanoTime() - ph.startNs) / 1e9
      def done: Boolean =
        if (ph.name == "warmup") {
          elapsedS >= ph.seconds || (elapsedS >= size.warmMinS && {
            warmSettled = settled(ph); warmSettled
          })
        } else i >= (ph.rate * ph.seconds).toLong
      while (!done && pos < slots) {
        val now = System.nanoTime()
        var due = ((now - ph.startNs) / period).toLong + 1
        if (ph.name != "warmup") due = math.min(due, (ph.rate * ph.seconds).toLong)
        val n = math.min(due - i, (slots - pos).toLong).toInt
        if (n > 0) {
          for (j <- 0 until n) sched(pos + j) = ph.startNs + ((i + j) * period).toLong
          val chunk = payload.slice(pos, pos + n).toSeq
          in.addData(chunk)
          dlqIn.addData(chunk)
          ph.lagMsMax = math.max(ph.lagMsMax, (System.nanoTime() - sched(pos)) / 1e6)
          pos += n; i += n
        }
        if (now >= nextSample) {
          ph.backlog += (((now - ph.startNs) / 1e9, pos - probe.committedRows("fan")))
          nextSample += 100 * 1000 * 1000L
        }
        java.util.concurrent.locks.LockSupport.parkNanos(1000 * 1000L)
      }
      ph.endNs = System.nanoTime(); ph.endPos = pos
    }
    require(pos < slots, "live: ran out of pre-rendered payloads")

    // ---- drain: both queries have committed every sent payload, so every
    // writer of every batch has returned
    val malformedSent = (0 until pos).count(txAt(_) < 0)
    val goodSent = pos - malformedSent
    val deadline = System.nanoTime() + DrainS * 1000L * 1000 * 1000
    while ((probe.committedRows("fan") < pos || probe.committedRows("dlq") < pos) &&
        System.nanoTime() < deadline)
      Thread.sleep(20)
    fan.stop(); dlq.stop()

    val drained = Clock.now()

    // ---- output checks
    val sentTxs = (0 until pos).filter(txAt(_) >= 0).map(q => txs(txAt(q)))
    val once = (0 until pos).count(q => txAt(q) >= 0 && seen(q) == 1)
    val notOnce = goodSent - once
    val ref = Events.referenceAlerts(spark, sentTxs, RapidTxCountV2)
    val alertMismatch = (ref.keySet ++ alertFlags.keySet).count(k => ref.get(k) != alertFlags.get(k))
    val dlqMismatch = math.abs(dlqRows - malformedSent)
    val late = probe.batchesOf("fan").map(_.droppedLate).sum
    val checks = Seq(
      Map("name" -> "every sent event scored exactly once", "ok" -> (notOnce == 0),
        "detail" -> s"$once of $goodSent"),
      Map("name" -> "dead letters equal injected malformed payloads", "ok" -> (dlqMismatch == 0),
        "detail" -> s"$dlqRows dead letters, $malformedSent injected"),
      Map("name" -> "alerts equal FraudRules.withScores over the same events",
        "ok" -> (alertMismatch == 0 && alertDups == 0),
        "detail" -> (s"${alertFlags.size} stream alerts, ${ref.size} batch alerts, " +
          s"$alertMismatch differ, $alertDups duplicated")),
      Map("name" -> "per-rule alert counts equal the batch reference",
        "ok" -> (Events.ruleCounts(alertFlags.values) == Events.ruleCounts(ref.values)),
        "detail" -> (s"stream ${Events.ruleCounts(alertFlags.values)} " +
          s"batch ${Events.ruleCounts(ref.values)}")),
      Map("name" -> "no rows dropped as late", "ok" -> (late == 0), "detail" -> s"$late dropped"))

    val (low, high) = (phases(1), phases(2))
    val timedFrom = Clock.ms(low.startNs)
    val timedTo = Clock.ms(high.endNs)
    val (ha, ra, ta) = Events.ruleCounts(alertFlags.values)
    Map(
      "setup_end_ms" -> timedFrom,
      "marks_ms" -> Seq("inputs" -> inputsReady, "warm-up" -> Clock.ms(phases.head.endNs),
        "timed" -> timedTo, "drain" -> drained, "checks" -> Clock.now()),
      "attempted" -> pos,
      "failed" -> (notOnce + dlqMismatch + alertMismatch + alertDups),
      "checks" -> checks,
      "cards" -> cards,
      "warmup" -> Map("seconds" -> (phases.head.endNs - phases.head.startNs) / 1e9,
        "settled" -> warmSettled,
        "trigger_ms" -> probe.batchesOf("fan").filter(_.startMs < timedFrom).map(_.triggerMs)),
      "alerts_ms" -> Map("low" -> alertLat("low"), "high" -> alertLat("high")),
      "phases" -> Seq(low, high).map(ph => Map(
        "name" -> ph.name, "rate" -> ph.rate, "start_ms" -> Clock.ms(ph.startNs),
        "end_ms" -> Clock.ms(ph.endNs), "sent" -> (ph.endPos - ph.firstPos),
        "lag_ms_max" -> ph.lagMsMax, "backlog" -> ph.backlog)),
      "window_ms" -> Seq(timedFrom, timedTo),
      "batches" -> probe.batchesOf("fan").filter(b => b.startMs >= timedFrom && b.startMs < timedTo)
        .map(batchRow),
      "sinks_ms" -> sinkMs.map { case (k, v) =>
        k -> v.filter { case (s, _) => s >= timedFrom && s < timedTo }.map(_._2) },
      "counts" -> Map("dead_letters" -> dlqRows, "high_amount" -> ha, "rapid" -> ra,
        "travel" -> ta),
      "kernel_eps" ->
        (if (probe.tracing) Events.kernelEps(sentTxs, RapidTxCountV2, 1.0) else 0.0)
    )
  }

  def batchRow(b: BatchRec): Map[String, Any] = Map(
    "start_ms" -> b.startMs, "rows" -> b.rows, "trigger_ms" -> b.triggerMs,
    "add_batch_ms" -> b.durations.getOrElse("addBatch", 0L),
    "state_commit_ms" -> b.stateCommitMs, "state_update_ms" -> b.stateUpdateMs,
    "state_rows" -> b.stateRows, "state_bytes" -> b.stateBytes)
}
