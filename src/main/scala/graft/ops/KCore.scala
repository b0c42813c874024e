package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Bounded k-core peeling — the degeneracy screen a link-graph
  * pipeline runs next to PageRank and the triangle census: nodes that
  * survive repeated removal of low-degree neighbors form the densely
  * interconnected core (spam-farm and community scaffolding), while
  * early-peeled nodes are the periphery.
  *
  * Each round drops every node whose CURRENT degree is below `k` and
  * keeps only edges between survivors; `rounds` is a CONSTANT (the
  * PageRank reasoning: a fixed number of bulk-synchronous rounds is
  * deterministic, SQL-replayable by unrolling, and in practice a few
  * rounds separate core from periphery — full convergence is a
  * monotone continuation, never a reversal: once a node is out it
  * stays out, so round r's survivor set contains the true k-core for
  * every r). Per round: one map-side-combinable degree aggregate and
  * two semi-join-shaped equi-joins; the edge list is checkpointed per
  * round (the measured lineage-cut lesson from PageRank/Triangles).
  *
  * Output: `(node, deg)` of the survivors after `rounds` peels, with
  * their degrees INSIDE the surviving subgraph — all exact integers.
  *
  * Driver-local finish: the normalized edge list is first fetched by
  * one bounded collect (`limit(maxLocalEdges + 1)`, see [[LocalEdges]]);
  * when it fits, the `rounds` peels run over an in-memory degree map
  * and the survivors' degrees come back as a local frame (same schema
  * and rows, no pinned checkpoint) — one collect instead of ~5 jobs
  * per round.
  * Above `maxLocalEdges` (default [[LocalEdges.MaxLocalEdges]]; 0
  * forces the distributed path), or for non-integral endpoints, the
  * distributed rounds below run unchanged.
  */
object KCore {

  def kcorePeel(
      edges: DataFrame,
      k: Int = 3,
      rounds: Int = 3,
      maxLocalEdges: Int = LocalEdges.MaxLocalEdges): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // least/greatest skip nulls, so a null endpoint becomes a self-loop
    // (or a null pair) that the filter drops on either path
    val normalized = edges.select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
    LocalEdges.collect(normalized, maxLocalEdges) match {
      case Some(g) => peelLocal(edges, g, k, rounds)
      case None => peelDistributed(normalized, k, rounds)
    }
  }

  private def peelLocal(
      edges: DataFrame,
      g: LocalEdges.Edges,
      k: Int,
      rounds: Int): DataFrame = {
    val alive = Array.fill(g.src.length)(true)
    val deg = new Array[Long](g.nodes)
    def degrees(): Unit = {
      java.util.Arrays.fill(deg, 0L)
      var e = 0
      while (e < alive.length) {
        if (alive(e)) { deg(g.src(e)) += 1; deg(g.dst(e)) += 1 }
        e += 1
      }
    }
    for (_ <- 1 to rounds) {
      degrees()
      var e = 0
      while (e < alive.length) {
        if (deg(g.src(e)) < k || deg(g.dst(e)) < k) alive(e) = false
        e += 1
      }
    }
    degrees()
    val box = LocalEdges.boxId(g.idType)
    LocalEdges.frame(edges.sparkSession,
      Seq("node" -> g.idType, "deg" -> LongType),
      g.ids.indices.filter(v => deg(v) > 0)
        .map(v => Row(box(g.ids(v)), deg(v))))
  }

  private def peelDistributed(
      normalized: DataFrame,
      k: Int,
      rounds: Int): DataFrame = {
    def degrees(e: DataFrame): DataFrame =
      e.select(explode(array(col("a"), col("b"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("deg"))
    var e = normalized.distinct().localCheckpoint()
    for (_ <- 1 to rounds) {
      val keep = degrees(e).filter(col("deg") >= k).select("node")
      // freshStatsFrame on the carried edge frame (r19, the Scc
      // lesson applied preventively): `keep` DERIVES from `e`, so
      // the two semi-joins reference e's inherited size estimate
      // THREE times — localCheckpoint copies it forward and the next
      // round cubes it again (digits ×3 per peel, the exponential
      // stats-blowup class; Scc's self-join squared, this one cubes).
      // Invisible at rounds=3; a deep data-driven peel would park the
      // driver in BigInteger.multiply. Resetting stats per round pins
      // the estimate flat; AQE runtime stats govern the actual plan.
      val next = org.apache.spark.sql.graftbridge.ColumnBridge
        .freshStatsFrame(e
          .join(keep.withColumnRenamed("node", "a"), "a")
          .join(keep.withColumnRenamed("node", "b"), "b")
          .localCheckpoint())
      // the eager checkpoint above has materialized `next` from the
      // previous round's blocks — release them now instead of leaking
      // one dead block set per peel for the session's lifetime; only
      // the final edge frame (what the returned degrees compute from)
      // stays pinned
      CheckpointUtil.free(e)
      e = next
    }
    degrees(e)
  }
}
