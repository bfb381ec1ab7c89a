package graftbench

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: runs one workload against the program's public
  * entry points and writes a raw record (samples, progress, checks, spans)
  * as one JSON file for `run.py` to reduce to metrics.
  *
  * Usage: graftbench.BenchMain --workload fraud_live|fraud_catchup --seed N
  *   --seconds S --trace 0|1 --size full|tiny --out FILE
  */
object BenchMain {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val tracing = opt("trace") == "1"
    val tiny = opts.getOrElse("size", "full") == "tiny"
    val tmp = System.getProperty("java.io.tmpdir")

    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      // graft.streaming.Main's default shuffle width, so the state store has
      // the same number of partitions as a deployed job
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val probe = new Probe(spark, tracing)
    val sessionReady = Clock.now()

    val raw = workload match {
      case "fraud_live" =>
        Live.run(spark, probe, seed, seconds, if (tiny) Live.Tiny else Live.Full)
      case "fraud_catchup" =>
        Catchup.run(spark, probe, seed, seconds, if (tiny) Catchup.Tiny else Catchup.Full)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    val traced =
      if (!tracing) Map.empty[String, Any]
      else {
        Thread.sleep(300) // let the listener bus deliver the last job and task events
        val Seq(from, to) = raw("window_ms").asInstanceOf[Seq[Double]]
        Map("exec" -> probe.execTotals(from, to), "spans" -> probe.spanRows(from, to))
      }
    probe.close()
    val out = new java.io.PrintWriter(opt("out"), "UTF-8")
    try out.print(Json.render(raw ++ traced ++ Map("workload" -> workload, "cores" -> cores,
      "session_ms" -> sessionReady)))
    finally out.close()
    spark.stop()
  }
}
