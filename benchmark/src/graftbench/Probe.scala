package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** One wall clock for everything the benchmark records: epoch milliseconds,
  * derived from `System.nanoTime` so sub-millisecond intervals survive.
  */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms(nanos: Long): Double = epoch0 + (nanos - nano0) / 1e6
  def now(): Double = ms(System.nanoTime())
}

/** One completed micro-batch, as Spark's `StreamingQueryProgress` reports it. */
final case class BatchRec(
    query: String,
    batchId: Long,
    startMs: Double,
    durations: Map[String, Long],
    rows: Long,
    stateCommitMs: Long,
    stateUpdateMs: Long,
    stateRows: Long,
    stateBytes: Long,
    droppedLate: Long
) {
  def triggerMs: Long = durations.getOrElse("triggerExecution", 0L)
  def endMs: Double = startMs + triggerMs
}

final case class JobRec(jobId: Int, trace: String, start: Double, var end: Double, stages: Seq[Int])
final case class StageRec(stageId: Int, start: Double, end: Double)
final case class TaskRec(stageId: Int, start: Double, end: Double, runMs: Long, gcMs: Long,
    shuffleWriteBytes: Long)
final case class SpanRec(name: String, trace: String, start: Double, end: Double)

/** Observes the program through Spark's public listener APIs only.
  *
  * Micro-batch progress is always recorded: the workloads use it to end a
  * drain on the committed count and to decide when warm-up has settled.
  * Job, stage and task events and the benchmark's own spans are recorded
  * only when tracing, so untraced runs carry no per-task listener cost.
  */
final class Probe(spark: SparkSession, val tracing: Boolean) {
  val batches = new ConcurrentLinkedQueue[BatchRec]
  private val committed = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]
  private val spans = new ConcurrentLinkedQueue[SpanRec]
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]
  private val stages = new ConcurrentLinkedQueue[StageRec]
  private val tasks = new ConcurrentLinkedQueue[TaskRec]
  private val names = new java.util.concurrent.ConcurrentHashMap[String, String]

  /** Human-readable tag for a query id, used as the trace-id prefix. */
  def name(queryId: java.util.UUID, tag: String): Unit = { names.put(queryId.toString, tag); () }
  private def tagOf(queryId: String): String = Option(names.get(queryId)).getOrElse(queryId)

  /** Input rows committed so far by the tagged query. */
  def committedRows(tag: String): Long = Option(committed.get(tag)).map(_.longValue).getOrElse(0L)

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val tag = Option(names.get(p.id.toString)).orElse(Option(p.name)).getOrElse(p.id.toString)
      val st = p.stateOperators.headOption
      batches.add(BatchRec(tag, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows,
        st.map(_.commitTimeMs).getOrElse(0L),
        st.map(_.allUpdatesTimeMs).getOrElse(0L),
        st.map(_.numRowsTotal).getOrElse(0L),
        st.map(_.memoryUsedBytes).getOrElse(0L),
        st.map(_.numRowsDroppedByWatermark).getOrElse(0L)))
      committed.merge(tag, p.numInputRows, (a: java.lang.Long, b: java.lang.Long) => a + b)
      ()
    }
  }

  private def traceOf(props: java.util.Properties): String =
    if (props == null) "untracked"
    else Option(props.getProperty("sql.streaming.queryId"))
      .map(q => s"${tagOf(q)}:${props.getProperty("streaming.sql.batchId", "?")}")
      .getOrElse("untracked")

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.put(e.jobId, JobRec(e.jobId, traceOf(e.properties), e.time.toDouble, e.time.toDouble,
        e.stageIds))
      ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime)
        stages.add(StageRec(i.stageId, s.toDouble, c.toDouble))
      ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null)
        tasks.add(TaskRec(e.stageId, e.taskInfo.launchTime.toDouble, e.taskInfo.finishTime.toDouble,
          m.executorRunTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten))
      ()
    }
  }

  spark.streams.addListener(streamListener)
  if (tracing) spark.sparkContext.addSparkListener(sparkListener)

  /** Times `body` as a span of the current micro-batch (or of `trace`). */
  def span[T](name: String, trace: String = "")(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally if (tracing) {
      val tr = if (trace.nonEmpty) trace else currentTrace()
      spans.add(SpanRec(name, tr, Clock.ms(t0), Clock.now()))
    }
  }

  /** The trace id of the micro-batch whose `foreachBatch` is running on this thread. */
  def currentTrace(): String = {
    val sc = spark.sparkContext
    Option(sc.getLocalProperty("sql.streaming.queryId"))
      .map(q => s"${tagOf(q)}:${sc.getLocalProperty("streaming.sql.batchId")}")
      .getOrElse("untracked")
  }

  def batchesOf(tag: String): Seq[BatchRec] =
    batches.asScala.toSeq.filter(_.query == tag).sortBy(_.batchId)

  /** Executor task totals for tasks that ran inside `[from, to)`. */
  def execTotals(from: Double, to: Double): Map[String, Double] = {
    val ts = tasks.asScala.toSeq.filter(t => t.start >= from && t.start < to)
    Map(
      "task_s" -> ts.map(_.runMs).sum / 1000.0,
      "max_task_ms" -> (if (ts.isEmpty) 0.0 else ts.map(t => t.end - t.start).max),
      "shuffle_write_bytes" -> ts.map(_.shuffleWriteBytes).sum.toDouble,
      "gc_ms" -> ts.map(_.gcMs).sum.toDouble)
  }

  /** Every span of the batches that started inside `[from, to)`, with its
    * parent, as `[id, parent, trace, name, start, end]` rows (`parent` -1 for
    * a root). A batch is the root of its trace; its
    * `durationMs` phases are laid end to end from the trigger start in
    * execution order; writer spans hang under `addBatch`; a Spark job hangs
    * under the writer span that contains it, else under `addBatch`; stages
    * hang under their job.
    */
  def spanRows(from: Double, to: Double): Seq[Seq[Any]] = {
    val out = mutable.ArrayBuffer.empty[Seq[Any]]
    def add(parent: Int, trace: String, name: String, s: Double, e: Double): Int = {
      out += Seq(out.size, parent, trace, name, s, e)
      out.size - 1
    }
    val addBatchOf = mutable.Map.empty[String, Int]
    val phaseOrder = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
      "commitOffsets")
    val inWindow = batches.asScala.toSeq.filter(b => b.startMs >= from && b.startMs < to)
    val traces = inWindow.map(b => s"${b.query}:${b.batchId}").toSet
    inWindow.sortBy(b => (b.query, b.batchId)).foreach { b =>
      val tr = s"${b.query}:${b.batchId}"
      val root = add(-1, tr, "microbatch", b.startMs, b.endMs)
      var t = b.startMs
      phaseOrder.foreach { ph =>
        b.durations.get(ph).foreach { d =>
          val id = add(root, tr, s"microbatch.$ph", t, t + d)
          if (ph == "addBatch") addBatchOf(tr) = id
          t += d
        }
      }
    }
    val sinkIds = mutable.Map.empty[String, mutable.ArrayBuffer[(Int, Double, Double)]]
    spans.asScala.toSeq.filter(s => traces(s.trace)).sortBy(_.start).foreach { s =>
      val id = add(addBatchOf.getOrElse(s.trace, -1), s.trace, s.name, s.start, s.end)
      sinkIds.getOrElseUpdate(s.trace, mutable.ArrayBuffer.empty) += ((id, s.start, s.end))
    }
    val stagesById = stages.asScala.map(s => s.stageId -> s).toMap
    jobs.values.asScala.toSeq.filter(j => traces(j.trace)).sortBy(_.jobId).foreach { j =>
      val mid = (j.start + j.end) / 2
      val parent = sinkIds.getOrElse(j.trace, Nil).find { case (_, s, e) => s <= mid && mid <= e }
        .map(_._1).getOrElse(addBatchOf.getOrElse(j.trace, -1))
      val jid = add(parent, j.trace, "spark.job", j.start, j.end)
      j.stages.flatMap(stagesById.get).foreach(s => add(jid, j.trace, "spark.stage", s.start, s.end))
    }
    out.toSeq
  }

  def close(): Unit = {
    spark.streams.removeListener(streamListener)
    if (tracing) spark.sparkContext.removeSparkListener(sparkListener)
  }
}
