package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Bounded k-core peeling: cascades, stable cores, and normalization —
  * every fixture on both the driver-local finish and the distributed
  * rounds (`maxLocalEdges = 0`), which must agree.
  */
class KCoreSpec extends SparkSpec {
  import graft.SparkTestSession.spark.implicits._
  import SccSpec.{bothPaths, rows}

  private def peel(edges: Seq[(Long, Long)], k: Int, rounds: Int = 3) =
    bothPaths(b => KCore.kcorePeel(edges.toDF("src", "dst"), k, rounds, b)
      .as[(Long, Long)].collect().toMap)

  test("a path CASCADES away under k=2: each round peels new endpoints") {
    // 1-2-3-4-5: round 1 drops 1,5; round 2 drops 2,4; round 3 empties
    assert(peel(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)), k = 2)
      .isEmpty)
    // with only ONE round the cascade is visibly incomplete
    assert(peel(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)), k = 2,
      rounds = 1) == Map(2L -> 1L, 3L -> 2L, 4L -> 1L))
  }

  test("K4 with a pendant tail: the tail peels, the 3-core survives") {
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val got = peel(k4 :+ (4L, 9L), k = 3)
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), got.toString)
  }

  test("directions, duplicates and self-loops normalize before peeling") {
    val messy = Seq((2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L), (1L, 1L))
    assert(peel(messy, k = 2) ==
      Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("the kcore_peel edge sets at sf0.001 and sf0.01 peel identically " +
      "on both paths") {
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val edges = graft.SparkEntry.kcoreEdges(spark, s"/root/testdata/$sf")
      for (k <- Seq(2, 30)) {
        val (_, got) = bothPaths(b =>
          rows(KCore.kcorePeel(edges, k = k, rounds = 3, maxLocalEdges = b)))
        assert(got.nonEmpty || k == 30, s"$sf k=$k") // no 30-core at sf0.001
      }
    }
  }

  test("degenerate inputs agree on both paths: empty, null endpoints, " +
      "integer-typed ids") {
    val (schema, got) = bothPaths(b => rows(KCore.kcorePeel(
      Seq.empty[(Long, Long)].toDF("src", "dst"), k = 1, maxLocalEdges = b)))
    assert(got.isEmpty && schema.map(_._1) == Seq("node", "deg"))
    // a null endpoint normalizes to a dropped self-loop on both paths
    val withNull = Seq[(Option[Long], Option[Long])]((Some(1L), Some(2L)),
      (Some(2L), Some(3L)), (Some(3L), Some(1L)), (Some(3L), None),
      (None, None)).toDF("src", "dst")
    assert(bothPaths(b => rows(KCore.kcorePeel(withNull, k = 2,
      maxLocalEdges = b)))._2 == Set(Seq(1L, 2L), Seq(2L, 2L), Seq(3L, 2L)))
    val ints = Seq(1 -> 2, 2 -> 3, 3 -> 1, 3 -> 4).toDF("src", "dst")
    val (intSchema, tri) = bothPaths(b =>
      rows(KCore.kcorePeel(ints, k = 2, maxLocalEdges = b)))
    assert(tri == Set(Seq(1, 2L), Seq(2, 2L), Seq(3, 2L)))
    assert(intSchema == Seq("node" -> IntegerType, "deg" -> LongType))
  }
}
