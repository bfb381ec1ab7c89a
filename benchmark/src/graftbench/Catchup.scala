package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.model.FraudConstants._
import graft.streaming.Main

/** `fraud_catchup`: a pre-loaded backlog drained by the v1 job
  * (`Main.v1Pipeline`: parse → score with rapid count 3 → FRAUD filter →
  * `"FRAUD | {json}"`) over the reference's own 8 cards.
  *
  * Each drain is a fresh query over the same backlog and ends when the
  * committed input count reaches the backlog size, or at a wall-clock
  * deadline. (`Trigger.AvailableNow` never terminates with the detector's
  * processing-time timeout, so the drain runs under the default trigger.)
  */
object Catchup {

  final case class Size(events: Int, minDrains: Int, maxDrains: Int)

  val Full = Size(events = 60000, minDrains = 3, maxDrains = 12)
  val Tiny = Size(events = 4000, minDrains = 2, maxDrains = 2)

  /** How long one drain may take before its uncommitted events fail. */
  private val DeadlineS = 60

  private val ScoreRe = "\"score\":(\\d+)".r

  final case class Drain(startMs: Double, lastCommitMs: Double, committed: Long,
      alerts: Map[String, Int], dups: Long, latencyMs: Double, writerMs: Seq[Double])

  def run(spark: SparkSession, probe: Probe, seed: Long, seconds: Double, size: Size)
      : Map[String, Any] = {
    import spark.implicits._
    val tmp = System.getProperty("java.io.tmpdir")
    val txs = Events.widened(seed, 1, size.events)
    val payload = txs.map(Events.toJson)
    val parts = spark.sparkContext.defaultParallelism
    val inputsReady = Clock.now()

    def drain(k: Int, backlog: Seq[String]): Drain = {
      val tag = s"v1-$k"
      val in = MemoryStream[String](spark, parts)
      in.addData(backlog)
      val alerts = mutable.HashMap.empty[String, Int]
      var dups = 0L
      var latency = 0.0
      val writerMs = mutable.ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      val q = Main.v1Pipeline(in.toDF(), RapidTxCountV1).writeStream
        .queryName(tag)
        .option("checkpointLocation", s"$tmp/ckpt/$tag")
        .foreachBatch { (df: DataFrame, _: Long) =>
          val w0 = System.nanoTime()
          val vals = probe.span("sink.alerts")(df.collect())
          val ret = System.nanoTime()
          writerMs += (ret - w0) / 1e6
          vals.foreach { r =>
            val line = r.getString(0)
            val i = line.indexOf("\"event_id\":\"") + 12
            val id = line.substring(i, line.indexOf('"', i))
            if (alerts.contains(id)) dups += 1
            alerts(id) = ScoreRe.findFirstMatchIn(line).map(_.group(1).toInt).getOrElse(-1)
          }
          if (vals.nonEmpty) latency = (ret - t0) / 1e6
        }
        .start()
      probe.name(q.id, tag)
      val deadline = t0 + DeadlineS * 1000L * 1000 * 1000
      while (probe.committedRows(tag) < backlog.size && System.nanoTime() < deadline)
        Thread.sleep(5)
      q.stop()
      val last = probe.batchesOf(tag).filter(_.rows > 0).map(_.endMs)
      Drain(Clock.ms(t0), if (last.isEmpty) Clock.now() else last.max,
        probe.committedRows(tag), alerts.toMap, dups, latency, writerMs.toSeq)
    }

    // warm-up: one untimed drain of the whole backlog (codegen, JIT, state
    // store initialisation; a smaller drain left the first timed one ~30 %
    // slower than the rest)
    drain(0, payload)
    val drains = mutable.ArrayBuffer.empty[Drain]
    // drain while the next drain, at the mean pace so far, ends within the
    // measured time (and at least `minDrains` times)
    val t0 = System.nanoTime()
    def elapsedS = (System.nanoTime() - t0) / 1e9
    while (drains.size < size.maxDrains && (drains.size < size.minDrains ||
        elapsedS * (drains.size + 1) / drains.size <= seconds * 1.1))
      drains += drain(drains.size + 1, payload)
    val timedFrom = drains.head.startMs
    val timedTo = drains.last.lastCommitMs

    // ---- output checks, per drain
    val ref = Events.referenceAlerts(spark, txs, RapidTxCountV1)
    val refCounts = Events.ruleCounts(ref.values)
    val perDrain = drains.toSeq.map { d =>
      val flags = d.alerts.map { case (id, s) => id -> Events.rulesOfScore(s) }
      val mismatch = (ref.keySet ++ flags.keySet).count(k => ref.get(k) != flags.get(k))
      (d.committed, mismatch, d.dups, Events.ruleCounts(flags.values))
    }
    val uncommitted = perDrain.map(x => size.events - x._1).sum
    val mismatches = perDrain.map(_._2).sum
    val dups = perDrain.map(_._3).sum
    val checks = Seq(
      Map("name" -> "every drain commits the whole backlog", "ok" -> (uncommitted == 0),
        "detail" -> perDrain.map(_._1).mkString(s"of ${size.events}: ", ",", "")),
      Map("name" -> "FRAUD output equals FraudRules.withScores over the same events",
        "ok" -> (mismatches == 0 && dups == 0),
        "detail" -> s"${ref.size} batch alerts; $mismatches differ, $dups duplicated"),
      Map("name" -> "per-rule alert counts equal the batch reference",
        "ok" -> perDrain.forall(_._4 == refCounts),
        "detail" -> s"batch $refCounts stream ${perDrain.map(_._4).distinct.mkString(" ")}"))

    val (ha, ra, ta) = perDrain.head._4
    Map(
      "setup_end_ms" -> timedFrom,
      "marks_ms" -> Seq("inputs" -> inputsReady, "warm-up" -> timedFrom, "timed" -> timedTo,
        "checks" -> Clock.now()),
      "attempted" -> size.events.toLong * drains.size,
      "failed" -> (uncommitted + mismatches + dups),
      "checks" -> checks,
      "cards" -> txs.iterator.map(_.card_id).toSet.size,
      "alerts_weighted_ms" -> drains.map(d => Seq(d.latencyMs, d.alerts.size)),
      "catchup_eps" -> drains.map(d => size.events / ((d.lastCommitMs - d.startMs) / 1000)),
      "backlog" -> size.events,
      "window_ms" -> Seq(timedFrom, timedTo),
      "batches" -> drains.indices.flatMap(k => probe.batchesOf(s"v1-${k + 1}").map(Live.batchRow)),
      "sinks_ms" -> Map("alerts" -> drains.flatMap(_.writerMs)),
      "counts" -> Map("dead_letters" -> 0, "high_amount" -> ha, "rapid" -> ra, "travel" -> ta),
      "kernel_eps" ->
        (if (probe.tracing) Events.kernelEps(txs, RapidTxCountV1, 1.0) else 0.0)
    )
  }
}
