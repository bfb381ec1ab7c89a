package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.gen.TxGen
import graft.model.{CardState, Transaction}
import graft.model.FraudConstants._
import graft.operators.FraudRules
import graft.streaming.FraudScoring

/** The generated inputs of both stream workloads and their reference answers. */
object Events {

  /** `copies` independent TxGen streams over the reference's 8 cards, card ids
    * suffixed with the copy number (so 8 × copies cards), merged in event-time
    * order. Sending in event-time order keeps every card's events in order and
    * keeps every event at or above the 5 s watermark, so stream and batch
    * scoring must agree. Event ids get the merged position as a suffix so
    * they are unique across copies.
    */
  def widened(seed: Long, copies: Int, perCopy: Int): IndexedSeq[Transaction] = {
    val all = (0 until copies).flatMap { k =>
      val suffix = if (copies == 1) "" else s"-$k"
      TxGen.generate(perCopy, seed * 1000003L + k).map(t => t.copy(card_id = t.card_id + suffix))
    }
    all.sortBy(t => (t.timestamp, t.card_id)).zipWithIndex
      .map { case (t, i) => t.copy(event_id = s"${t.event_id}-$i") }
  }

  /** The 13-field JSON wire format the producer writes and `FraudStream.parse` reads. */
  def toJson(t: Transaction): String = {
    val sb = new StringBuilder(320)
    def field(k: String, v: String, quoted: Boolean = true): Unit = {
      sb.append(if (sb.isEmpty) '{' else ',').append('"').append(k).append("\":")
      if (quoted) sb.append('"').append(v).append('"') else sb.append(v)
    }
    field("schema_version", t.schema_version); field("event_id", t.event_id)
    field("transaction_id", t.transaction_id); field("customer_id", t.customer_id)
    field("card_id", t.card_id); field("merchant_id", t.merchant_id)
    field("merchant_category", t.merchant_category)
    field("amount", t.amount.toString, quoted = false)
    field("currency", t.currency); field("location", t.location)
    field("ip_address", t.ip_address); field("event_type", t.event_type)
    field("timestamp", t.timestamp)
    sb.append('}').toString
  }

  /** A payload the dead-letter channel must catch: alternately not JSON at
    * all, and JSON without the card id scoring needs.
    */
  def malformed(i: Int): String =
    if (i % 2 == 0) s"not-json-$i{" else s"""{"event_id":"bad-$i","amount":1.0}"""

  /** Batch reference: `FraudRules.withScores` over the same events. Returns
    * the alert (score >= 40) event ids with their rule flags
    * (high amount, rapid, travel).
    */
  def referenceAlerts(spark: SparkSession, txs: Seq[Transaction], rapidCount: Int)
      : Map[String, (Boolean, Boolean, Boolean)] = {
    import spark.implicits._
    val rows = txs.map(t =>
      (t.event_id, t.card_id, FraudScoring.parseMillis(t.timestamp), t.amount, t.location))
    val df = spark.sparkContext.parallelize(rows, spark.sparkContext.defaultParallelism)
      .toDF("event_id", "card_id", "event_millis", "amount", "location")
    FraudRules.withScores(df, rapidCount = rapidCount)
      .filter(col("score") >= FraudThreshold)
      .select("event_id", "rule_high_amount", "rule_rapid", "rule_travel")
      .collect()
      .map(r => r.getString(0) -> ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))))
      .toMap
  }

  /** Rule flags of a scored record from its reasons. */
  def rulesOf(reasons: String): (Boolean, Boolean, Boolean) =
    (reasons.contains(ReasonHighAmount), reasons.contains(ReasonRapid),
      reasons.contains(ReasonTravel))

  /** Rule flags from a v1 score: 40, 30 and 50 have distinct subset sums. */
  def rulesOfScore(score: Int): (Boolean, Boolean, Boolean) = {
    val (h, r, t) = (HighAmountScore, RapidScore, TravelScore)
    Seq(0, h, r, t, h + r, h + t, r + t, h + r + t).zip(Seq(
      (false, false, false), (true, false, false), (false, true, false), (false, false, true),
      (true, true, false), (true, false, true), (false, true, true), (true, true, true)))
      .find(_._1 == score).map(_._2)
      .getOrElse(throw new IllegalStateException(s"score $score is no sum of rule scores"))
  }

  /** Per-rule counts over a set of alerts. */
  def ruleCounts(flags: Iterable[(Boolean, Boolean, Boolean)]): (Long, Long, Long) =
    (flags.count(_._1).toLong, flags.count(_._2).toLong, flags.count(_._3).toLong)

  /** Single-threaded `FraudScoring.scoreOne` fold over the events in send
    * order, with no Spark: events per second, repeated for at least
    * `minSeconds` and reported as the median pass.
    */
  @volatile var kernelAlerts = 0L

  def kernelEps(txs: IndexedSeq[Transaction], rapidCount: Int, minSeconds: Double): Double = {
    def pass(): Double = {
      val states = mutable.HashMap.empty[String, CardState]
      val t0 = System.nanoTime()
      txs.foreach { t =>
        val st = states.getOrElse(t.card_id, CardState(Nil, None, None))
        val (score, _, next) = FraudScoring.scoreOne(st, t.amount, t.location,
          FraudScoring.parseMillis(t.timestamp), rapidCount)
        states(t.card_id) = next
        if (score >= FraudThreshold) kernelAlerts += 1
      }
      txs.size / ((System.nanoTime() - t0) / 1e9)
    }
    val samples = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (samples.size < 3 || (System.nanoTime() - t0) / 1e9 < minSeconds) samples += pass()
    Stats.median(samples.toSeq)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
