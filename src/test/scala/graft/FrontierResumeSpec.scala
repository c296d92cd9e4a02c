package graft

import graft.pregel.CheckpointConfig
import org.apache.spark.sql.functions._

/** Frontier apps must resume EXACTLY from durable checkpoints: the
  * `_changed` column is engine state and is persisted with it (round-4
  * review finding — the pre-fix checkpoint dropped the frontier, so any
  * resumed frontier app died on an unresolved column; re-marking all
  * vertices changed instead would make reachability apps broadcast from
  * unreached vertices). */
class FrontierResumeSpec extends SparkSpec {

  import spark.implicits._

  private def rmrf(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
  }

  private def pathGraph(n: Int) = graph.SimpleGraph(
    (1L to n.toLong).toDF("vid"),
    (1L until n.toLong).map(i => (i, i + 1)).toDF("src", "dst"),
    directed = false)

  test("WCC resumes from a parquet checkpoint mid-propagation") {
    val dir = java.nio.file.Files.createTempDirectory("fr-wcc").toString
    try {
      val cp = CheckpointConfig(Some(dir), runId = "w")
      // 8-vertex path needs ~7 rounds; stop at 3, then resume to fixpoint
      apps.WCC.runWithRounds(pathGraph(8), maxRounds = 3, checkpoint = cp)
      val (res, rounds) =
        apps.WCC.runWithRounds(pathGraph(8), maxRounds = 50,
          checkpoint = cp)
      assert(res.collect().map(_.getLong(1)).forall(_ == 1L))
      assert(rounds > 3, "continued past the checkpointed round")
      // equals an uncheckpointed full run
      val want = apps.WCC.run(pathGraph(8))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(res.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        == want)
    } finally rmrf(dir)
  }

  test("BFS resumes from a snapshot checkpoint without over-reaching") {
    val dir = java.nio.file.Files.createTempDirectory("fr-bfs").toString
    try {
      val cp = CheckpointConfig(Some(dir), runId = "b", snapshot = true)
      // a path PLUS a disconnected pair: if resume re-marked everything
      // changed, vertex 9 would wrongly "reach" 10
      val g = graph.SimpleGraph(
        (1L to 10L).toDF("vid"),
        ((1L until 8L).map(i => (i, i + 1)) :+ (9L, 10L))
          .toDF("src", "dst"),
        directed = false)
      apps.BFS.run(g, source = 1L, depthLimit = 3, checkpoint = cp)
      val res = apps.BFS.run(g, source = 1L, depthLimit = 50,
        checkpoint = cp)
      val depths = res.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      (1L to 8L).foreach(v => assert(depths(v) == v - 1))
      // the disconnected pair stays unreached after the resumed rounds
      assert(depths(9L) < 0 && depths(10L) < 0,
        s"resume must not broadcast from unreached vertices: $depths")
    } finally rmrf(dir)
  }

  test("Pregel resumes although its init lacks the frontier column") {
    // Pregel's initState is (vid, state); its step EMITS _changed — the
    // checkpoint therefore carries an extra column that the resume must
    // tolerate and drop (round-4 second-review finding).
    val dir = java.nio.file.Files.createTempDirectory("fr-pregel").toString
    try {
      val g = pathGraph(6)
      val inf = Double.MaxValue
      def hops(maxRounds: Int) = pregel.Pregel.run(
        g, maxRounds,
        init = when(col("vid") === 1L, lit(0.0)).otherwise(lit(inf)),
        sendToDst = Some(when(col("src_state") < lit(inf),
          col("src_state") + 1.0)),
        sendToSrc = Some(when(col("dst_state") < lit(inf),
          col("dst_state") + 1.0)),
        agg = c => min(c),
        update = (state, msg) => least(state, coalesce(msg, state)),
        stopWhenNoChange = true,
        checkpoint = pregel.CheckpointConfig(Some(dir), runId = "p"))
      hops(2) // partial run -> durable checkpoint with _changed
      val got = hops(50).collect() // must RESUME, not refuse
        .map(r => (r.getLong(0), r.getDouble(1))).toMap
      (1L to 6L).foreach(v => assert(got(v) == (v - 1).toDouble))
    } finally rmrf(dir)
  }

  test("a checkpoint with mismatched columns refuses to resume") {
    val dir = java.nio.file.Files.createTempDirectory("fr-mis").toString
    try {
      val cp = CheckpointConfig(Some(dir), runId = "x")
      val init = Seq((1L, 0)).toDF("vid", "n")
      pregel.Iterate.run(init, 2,
        (s, _) => s.select(col("vid"), (col("n") + 1).as("n")),
        stop = pregel.Iterate.fixedRounds, checkpoint = cp)
      val other = Seq((1L, 0.0)).toDF("vid", "rank")
      val e = intercept[IllegalArgumentException] {
        pregel.Iterate.run(other, 4,
          (s, _) => s.select(col("vid"), (col("rank") + 1).as("rank")),
          stop = pregel.Iterate.fixedRounds, checkpoint = cp)
      }
      assert(e.getMessage.contains("columns"))
    } finally rmrf(dir)
  }
}
