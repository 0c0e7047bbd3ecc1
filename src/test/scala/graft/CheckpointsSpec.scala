package graft

import org.apache.spark.sql.functions._

/** The shared lineage-truncation policy: local checkpoint by default,
  * RELIABLE checkpoint into `spark.graft.checkpointDir` when set — the
  * cluster posture where an executor loss mid-build recomputes from the
  * checkpoint instead of failing the one-shot job.
  */
class CheckpointsSpec extends SparkTestBase {

  test("default path local-checkpoints and preserves the rows") {
    val df = spark.range(100).select(col("id"), (col("id") * 3).as("v"))
    val out = graft.util.Checkpoints.truncate(spark, df)
    assert(out.collect().map(r => (r.getLong(0), r.getLong(1))).sorted ===
      (0L until 100L).map(i => (i, i * 3)).toArray)
    // lineage is truncated: the checkpointed plan no longer contains Range
    assert(!out.queryExecution.optimizedPlan.toString.contains("Range"))
  }

  test("spark.graft.checkpointDir routes to a RELIABLE checkpoint") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cp_spec_").toString
    // a session clone so the conf never leaks into other suites
    val ss = spark.newSession()
    ss.conf.set("spark.graft.checkpointDir", dir)
    try {
      val df = ss.range(50).select(col("id"), (col("id") + 7).as("v"))
      val out = graft.util.Checkpoints.truncate(ss, df)
      assert(out.collect().map(_.getLong(1)).sorted ===
        (7L until 57L).toArray)
      // the context-level checkpoint dir was claimed...
      val claimed = ss.sparkContext.getCheckpointDir
      assert(claimed.isDefined && claimed.get.contains(
        java.nio.file.Paths.get(dir).getFileName.toString))
      // ...and the checkpoint data actually landed on (shared) storage
      def walkCount(p: java.nio.file.Path): Long = {
        val w = java.nio.file.Files.walk(p)
        try w.filter(java.nio.file.Files.isRegularFile(_)).count()
        finally w.close()
      }
      assert(walkCount(java.nio.file.Paths.get(dir)) > 0,
        "no checkpoint files under spark.graft.checkpointDir")
    } finally {
      graft.util.Scratch.deleteRecursively(dir)
    }
  }

  test("two sessions with distinct dirs truncating concurrently keep their own dirs") {
    val dirs = Seq("a", "b").map(n =>
      java.nio.file.Files.createTempDirectory(s"graft_cp_race_${n}_").toString)
    // the rdd-* checkpoint dirs each session's truncations wrote, read off
    // the checkpointed plans
    def ownRdds(ss: org.apache.spark.sql.SparkSession): Set[String] =
      (1 to 4).flatMap { i =>
        val out = graft.util.Checkpoints.truncate(ss, ss.range(20 * i).toDF())
        out.queryExecution.logical.collect {
          case r: org.apache.spark.sql.execution.LogicalRDD =>
            r.rdd.getCheckpointFile
        }.flatten.map(p => new org.apache.hadoop.fs.Path(p).getName)
      }.toSet
    def rddDirsUnder(dir: String): Set[String] = {
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(dir), 2)
      try w.filter(java.nio.file.Files.isDirectory(_)).toArray
        .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
        .filter(_.startsWith("rdd-")).toSet
      finally w.close()
    }
    try {
      val sessions = dirs.map { d =>
        val ss = spark.newSession()
        ss.conf.set("spark.graft.checkpointDir", d)
        ss
      }
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val own = try {
        val futures = sessions.map(ss => pool.submit(() => ownRdds(ss)))
        futures.map(_.get(5, java.util.concurrent.TimeUnit.MINUTES))
      } finally pool.shutdown()
      dirs.zip(own).foreach { case (d, rdds) =>
        assert(rdds.size == 4, s"expected 4 reliable checkpoints, got $rdds")
        assert(rddDirsUnder(d) == rdds,
          s"$d holds ${rddDirsUnder(d)}, its session wrote $rdds")
      }
    } finally dirs.foreach(graft.util.Scratch.deleteRecursively)
  }
}
