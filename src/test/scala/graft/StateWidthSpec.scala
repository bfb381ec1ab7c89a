package graft

import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{DataFrame, Dataset}
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Transaction
import graft.streaming.{FraudStream, ScoredEvent}

/** [[FraudStream.fanOut]] creates the detector's state with one state-store
  * partition per task slot, whatever `spark.sql.shuffle.partitions` the
  * caller's session holds, and hands the session back unchanged; the slot
  * count is `spark.default.parallelism` when set, which a cluster master
  * must set. A
  * checkpoint created at another width keeps that width on restart, with
  * its card state and without re-emitting committed events.
  */
class StateWidthSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val key = "spark.sql.shuffle.partitions"

  private def tx(card: String, ts: String, amount: Double, loc: String,
      id: String): Transaction =
    Transaction("1.0", id, s"t-$id", "Alice", card, "m", "POS", amount,
      "USD", loc, "1.2.3.4", "NORMAL", ts)

  /** Runs `body` with the session's width set to `width` (None: unset),
    * then restores the suite-wide setting.
    */
  private def withSessionWidth[T](width: Option[String])(body: => T): T = {
    val prior = spark.conf.getAll.get(key)
    def put(v: Option[String]): Unit = v match {
      case Some(w) => spark.conf.set(key, w)
      case None    => spark.conf.unset(key)
    }
    put(width)
    try body finally put(prior)
  }

  /** Waits until `q` has emitted event `id` and reported progress, stops it
    * and returns its state width. `processAllAvailable` cannot be used: the
    * detector's processing-time timeout runs a batch on every trigger, so
    * the query never reports that it ran out of data.
    */
  private def widthOnceEmitted(q: StreamingQuery, emitted: java.util.Collection[String],
      id: String): Long =
    try {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (q.isActive && System.nanoTime() < deadline &&
          !(emitted.contains(id) && q.lastProgress != null))
        Thread.sleep(100)
      q.exception.foreach(e => throw e)
      assert(emitted.contains(id), s"event $id not emitted within 60 s")
      q.lastProgress.stateOperators(0).numShufflePartitions
    } finally q.stop()

  // Spark checks that every state-store partition committed each batch,
  // so a writer must run the whole frame, not skip it
  private def consume(df: DataFrame): Unit = { df.collect(); () }

  test("the state width comes from spark.default.parallelism when set; a cluster master must set it") {
    def unused: Int = fail("the local core count must not be read when the key is set")
    assert(FraudStream.slotWidth(isLocal = false, Some("6"), unused) == 6)
    assert(FraudStream.slotWidth(isLocal = true, Some(" 5 "), unused) == 5)
    assert(FraudStream.slotWidth(isLocal = true, None, 4) == 4)
    val unset = intercept[IllegalStateException](
      FraudStream.slotWidth(isLocal = false, None, 2))
    assert(unset.getMessage.contains("spark.default.parallelism is not set"))
    for (bad <- Seq("x", "0", "-3"))
      intercept[IllegalArgumentException](FraudStream.slotWidth(isLocal = false, Some(bad), 2))
    // the running session is local without the key: its core count
    val sc = spark.sparkContext
    assert(FraudStream.slotWidth(sc.isLocal, sc.getConf.getOption("spark.default.parallelism"),
      sc.defaultParallelism) == sc.defaultParallelism)
  }

  test("fanOut sizes fresh state to the task slots and leaves the session's width as it was") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val slots = spark.sparkContext.defaultParallelism
    assume(slots != 7, "the session width must differ from the slot count")

    def freshFanWidth(): Long = {
      val ms = MemoryStream[Transaction]
      ms.addData(tx("card_1", "2024-01-01T00:00:00Z", 10.0, "NY", "w1"))
      val emitted = new ConcurrentLinkedQueue[String]()
      widthOnceEmitted(FraudStream.fanOut(FraudStream.score(ms.toDS()),
        writeMain = df => df.select("event_id").collect().foreach(r => emitted.add(r.getString(0))),
        writeAlerts = consume, writeAudit = consume,
        checkpointDir = Files.createTempDirectory("width").toString), emitted, "w1")
    }

    withSessionWidth(Some("7")) {
      assert(freshFanWidth() == slots)
      assert(spark.conf.get(key) == "7")
    }
    withSessionWidth(None) {
      assert(freshFanWidth() == slots)
      assert(!spark.conf.getAll.contains(key), "fanOut left the width key set")
    }
  }

  test("a checkpoint created at another width restarts through fanOut at that width with its state") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    assume(spark.sparkContext.defaultParallelism != 3,
      "the recorded width must differ from the slot count")
    val ckpt = Files.createTempDirectory("width_restart").toString
    val ms = MemoryStream[Transaction]
    val emitted = new ConcurrentLinkedQueue[String]()
    val scores = new ConcurrentHashMap[String, Int]()

    // Run 1: a plain scored stream at width 3 puts card_9 in NY.
    ms.addData(tx("card_9", "2024-01-01T00:00:00Z", 250.0, "NY", "r1"))
    withSessionWidth(Some("3")) {
      val q = FraudStream.score(ms.toDS())
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: Dataset[ScoredEvent], _: Long) =>
          batch.collect().foreach { e => emitted.add(e.event_id); scores.put(e.event_id, e.score) }
        }
        .start()
      assert(widthOnceEmitted(q, emitted, "r1") == 3)
    }
    assert(scores.get("r1") == 40) // HIGH_AMOUNT only

    // Run 2: fanOut on the same checkpoint, 60 s later in CA. The travel
    // rule (gap <= 120 s, NY->CA ~3936 km) fires only on the recovered state.
    ms.addData(tx("card_9", "2024-01-01T00:01:00Z", 10.0, "CA", "r2"))
    val width = widthOnceEmitted(FraudStream.fanOut(FraudStream.score(ms.toDS()),
      writeMain = df => df.select("event_id", "score").collect().foreach { r =>
        scores.put(r.getString(0), r.getInt(1)); emitted.add(r.getString(0))
      },
      writeAlerts = consume, writeAudit = consume, checkpointDir = ckpt), emitted, "r2")
    assert(width == 3, "the restart must keep the width the checkpoint recorded")
    assert(scores.get("r2") == 50,
      s"expected travel rule from recovered state, got ${scores.get("r2")}")
    assert(emitted.asScala.toSeq.sorted == Seq("r1", "r2"), "an event was emitted twice")
  }
}
