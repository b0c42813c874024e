package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Pins the checkpoint-lifecycle contract of every iterative operator
  * (VERDICT r15 "What's wrong #2"): superseded per-round
  * `localCheckpoint` frames must release their pinned blocks as the
  * loop advances, and on return exactly ONE block set — the final
  * frame consumers compute from — may remain pinned; freeing the
  * result returns storage to its pre-call baseline. Without this the
  * 188-query bench session accumulates every round of every iterative
  * query for its lifetime (measured 6-8× inflation on the late-alphabet
  * graph queries in the r15 driver artifact), and on a real cluster
  * each job leaks storage memory until executors spill.
  */
class CheckpointLifecycleSpec extends SparkSpec {
  import graft.SparkTestSession.spark.implicits._

  private def pinned: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Run `op`, materialize its result, and assert the operator left
    * exactly `finalFrames` new pinned block sets, all of which free()
    * back to baseline.
    */
  private def assertLifecycle(finalFrames: Int)(op: => DataFrame): Unit = {
    val before = pinned
    val result = op
    result.count()
    val leaked = pinned -- before
    assert(leaked.size == finalFrames,
      s"expected $finalFrames pinned final frame(s), found ${leaked.size}")
    CheckpointUtil.free(result)
    assert((pinned -- before).isEmpty,
      "freeing the result must return storage to baseline")
  }

  // a two-component graph with a 5-chain (forces several jump rounds)
  private def edges =
    Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("src", "dst")

  test("edgeComponents pins only the final labeling") {
    assertLifecycle(finalFrames = 1) {
      Components.edgeComponents(edges, maxIter = 10)
    }
  }

  private def tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    .toDF("src", "dst")

  test("kcorePeel pins only the final edge frame") {
    assertLifecycle(finalFrames = 1) {
      KCore.kcorePeel(tri, k = 2, rounds = 3, maxLocalEdges = 0)
    }
  }

  // the driver-local finish returns a local frame: nothing stays pinned
  Seq[(String, () => DataFrame)](
    "kcorePeel" -> (() => KCore.kcorePeel(tri, k = 2, rounds = 3)),
    "stronglyConnected" -> (() => Scc.stronglyConnected(edges)),
    "condensation" -> (() => Scc.condensation(edges)),
    "bowtie" -> (() => Scc.bowtie(edges))
  ).foreach { case (name, op) =>
    test(s"$name's driver-local finish pins no frame") {
      assertLifecycle(finalFrames = 0)(op())
    }
  }

  test("pagerankFixed pins only the final rank frame") {
    assertLifecycle(finalFrames = 1) {
      PageRank.pagerankFixed(edges, iters = 3)
    }
  }

  test("label propagation pins only the final labeling") {
    assertLifecycle(finalFrames = 1) {
      LabelProp.propagate(edges, rounds = 3)
    }
  }

  test("k-means fitAssign pins only the final centroid state") {
    val vecs = (0L until 24L)
      .map(i => (i, Array.fill(4)((i % 3).toFloat)))
      .toDF("vec_id", "embedding")
    assertLifecycle(finalFrames = 1) {
      KMeans.fitAssign(vecs, k = 3, iters = 3, dims = 4)
    }
  }

  test("pq codebook training pins only the final codebook") {
    val vecs = (0L until 32L)
      .map(i => (i, Array.tabulate(16)(d => ((i + d) % 5).toFloat)))
      .toDF("vec_id", "embedding")
    assertLifecycle(finalFrames = 1) {
      Quantization.pqTrainCodebook(vecs, kCode = 4, m = 2, subDim = 8,
        iters = 3)
    }
  }

  test("reliable-checkpoint flag (r22, SCALE.md 'Checkpoint " +
      "durability'): the iterative family produces identical output " +
      "under spark.graft.reliableCheckpoints=true") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-reliable-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    def run(): (Seq[(Long, Long)], Seq[(Long, Long)], Seq[(Long, Long)]) = (
      Components.edgeComponents(edges, maxIter = 10)
        .as[(Long, Long)].collect().toSeq.sorted,
      PageRank.pagerankFixed(edges, iters = 3)
        .select("node", "r").as[(Long, Long)].collect().toSeq.sorted,
      Hits.hitsFixed(edges, rounds = 2)
        .select("node", "hub").as[(Long, Long)].collect().toSeq.sorted)
    val local = run()
    spark.conf.set(CheckpointUtil.ReliableConf, "true")
    try {
      val reliable = run()
      assert(reliable == local,
        s"reliable=$reliable\nlocal=$local")
    } finally spark.conf.unset(CheckpointUtil.ReliableConf)
  }

  test("non-convergence diagnostics free every checkpoint before throwing") {
    val before = pinned
    // a 40-chain cannot converge in 1 round of pointer jumping
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("src", "dst")
    intercept[IllegalStateException] {
      Components.edgeComponents(chain, maxIter = 1)
    }
    assert((pinned -- before).isEmpty,
      "the failure path must not leak pinned blocks")
  }
}
