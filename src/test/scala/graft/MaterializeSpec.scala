package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

/** [[graft.operators.Materialize.once]] routes every compute-once site
  * through reliable `checkpoint()` when the session has a checkpoint dir
  * (the fault-tolerant cluster path, VERDICT r9 #3) and `localCheckpoint`
  * otherwise. The rest of the suite exercises the local flavor; this spec
  * pins the reliable flavor to identical results on the heaviest
  * checkpoint user (connected components: iterative fixpoint + edge
  * materialization + driver fast path all behind Materialize.once).
  */
class MaterializeSpec extends AnyFunSuite {
  private val sf = TestSpark.sf0001

  test("reliable-checkpoint flavor produces identical dedup components") {
    assume(TestSpark.fixturesPresent, TestSpark.fixturesHint)
    val spark = TestSpark.spark
    def labels(): Map[Long, Long] =
      Dedup.queries("dedup_components")(spark, sf).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaLocal = labels()
    val dir = java.nio.file.Files.createTempDirectory("ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val writes0 = graft.operators.Materialize.reliableWrites.get()
      val drops0 = graft.operators.Materialize.reliableDrops.get()
      val viaReliable = labels()
      assert(viaReliable == viaLocal)
      // The reliable path actually ran — counted at the write site, since
      // a file-presence probe is now vacuous by design: the loops free
      // superseded checkpoints as they go (ADVICE r11), so the dir is
      // expected to end (near-)empty, not non-empty.
      val writes = graft.operators.Materialize.reliableWrites.get() - writes0
      val drops = graft.operators.Materialize.reliableDrops.get() - drops0
      assert(writes > 0, "reliable flavor did not run")
      // the cleanup contract (ADVICE r11): loop-superseded checkpoints are
      // freed (dedup_components' fixpoint/fast path drops its edge frame);
      // builder-scoped one-shot checkpoints (the shared simhash pass) stay
      // for the session and follow the documented conf/sweep story. The
      // filesystem agrees: surviving rdd-* dirs == un-dropped writes.
      assert(drops > 0, s"wrote $writes reliable checkpoints, freed none")
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      val leftDirs =
        try walk.iterator().asScala
          .filter(p => p.getFileName.toString.startsWith("rdd-") &&
            java.nio.file.Files.isDirectory(p))
          .map(_.getFileName.toString).toList
        finally walk.close() // walk streams hold directory handles open
      assert(leftDirs.size == writes - drops,
        s"expected ${writes - drops} surviving checkpoints, found ${leftDirs.size} ($leftDirs)")
      // the r17 reclamation contract: the contracted one-shot materializes
      // its final (node, label) frame and frees the corpus-sized sh/repSh
      // checkpoints before returning, so at most the returned labels frame
      // plus one CC-internal final frame survive the query — a regression
      // back to lifetime-leaked signature frames fails here, not in a
      // cluster's checkpoint dir months later
      assert(leftDirs.size <= 2,
        s"one dedup_components run left ${leftDirs.size} live checkpoints ($leftDirs)")
    } finally {
      // restore the default local flavor for the rest of the shared JVM
      org.apache.spark.CheckpointDirReset.clear(spark.sparkContext)
    }
  }

  test("a malformed graft.spread.width falls back to the size-derived width instead of throwing") {
    val df = TestSpark.spark.range(0, 100, 1, 1).toDF()
    def spreadWidth(prop: Option[String]): Int = {
      val key = "graft.spread.width"
      val prior = sys.props.get(key)
      def put(v: Option[String]): Unit = v match {
        case Some(w) => sys.props.put(key, w)
        case None    => sys.props.remove(key)
      }
      put(prop)
      try graft.operators.Materialize.spreadScan(df).rdd.getNumPartitions
      finally put(prior)
    }
    assert(spreadWidth(Some("3")) == 3) // the knob is honoured when well-formed
    val sizeDerived = spreadWidth(None)
    for (bad <- Seq("wide", "", "0", "-2", "3.5"))
      assert(spreadWidth(Some(bad)) == sizeDerived, s"graft.spread.width='$bad'")
  }
}
