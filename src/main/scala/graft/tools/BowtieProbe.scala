package graft.tools

import org.apache.spark.sql.SparkSession

import graft.ops.Scc

/** Scratch phase-timing probe for bowtie_regions (r20 adjudication) —
  * of the DISTRIBUTED rounds, so every call passes `maxLocalEdges = 0`.
  */
object BowtieProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def edges = graft.SparkEntry.bowtieEdges(spark, dir)
    def t[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val out = body
      // scalastyle:off println
      println(f"[probe] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      // scalastyle:on println
      out
    }
    // warm
    t("warm full bowtie")(Scc.bowtie(edges, maxLocalEdges = 0).count())
    t("warm2 full bowtie")(Scc.bowtie(edges, maxLocalEdges = 0).count())
    val l = t("stronglyConnected")(
      Scc.stronglyConnected(edges, maxLocalEdges = 0))
    t("labels count")(l.count())
    t("full bowtie")(Scc.bowtie(edges, maxLocalEdges = 0).count())
    graft.ops.CheckpointUtil.free(l)
    spark.stop()
  }
}
