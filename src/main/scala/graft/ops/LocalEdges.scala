package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** The driver-local finish shared by [[Scc]] and [[KCore]]: one
  * bounded collect of a small edge list, then in-memory loops instead
  * of one driver-synchronized Spark job per trim, peel, relaxation or
  * BFS round — the [[BpeMiner.mineCensusLocal]] shape (one distributed
  * pass, a `limit(cap + 1).collect()` that proves the bound, an
  * in-memory loop, a local `DataFrame` back).
  *
  * A graph over the bound, or with a non-integral or null endpoint,
  * returns `None` and the caller runs its distributed rounds unchanged;
  * over the bound the probe is wasted work, about one evaluation of the
  * edge source (SCALE.md, "Driver-local graph finish").
  */
private[ops] object LocalEdges {

  /** Default `maxLocalEdges` of [[Scc]] and [[KCore]]: the largest
    * distinct-edge count finished on the driver, 2²² ≈ 4.2M. MEASURED
    * with `KCore.kcorePeel` (the costlier local finish per edge) on a
    * 4-vCPU host, `local[4]`, 2 GB driver heap, warm medians of 3:
    * the sf0.1 `kcore_peel` query (586,871 edges) 1.9 s local vs
    * 2.9 s distributed; random graphs of 0.5M / 1M / 2M / 4M edges
    * 1.2 / 2.5 / 4.4 / 11.1 s vs 3.0 / 5.0 / 9.9 / 20.0 s; one 8M run
    * 32.6 s vs 59.6 s. The local finish never lost, so the bound is
    * set by driver memory instead: a collected row retains 101 bytes
    * (measured at 4M rows) and the id arrays add ~40 bytes per edge,
    * so 4M edges peak near 560 MB — under a third of that heap, where
    * 8M would take over half of it.
    */
  val MaxLocalEdges: Int = 1 << 22

  private val Integral: Set[DataType] =
    Set(LongType, IntegerType, ShortType, ByteType)

  /** A collected edge list: node ids ascending in `ids`, each edge as
    * dense indices into it (so index order IS id order), and the
    * endpoints' Spark type for the frames built back from it.
    */
  final class Edges(
      val ids: Array[Long],
      val src: Array[Int],
      val dst: Array[Int],
      val idType: DataType) {
    def nodes: Int = ids.length
  }

  /** The distinct rows of the two-column `pairs` frame, fetched by one
    * bounded collect — or `None` (the caller's distributed fallback)
    * when `maxLocalEdges` is 0, the two columns are not one integral
    * type, a pair holds a null, or there are more than `maxLocalEdges`
    * distinct pairs.
    */
  def collect(pairs: DataFrame, maxLocalEdges: Int): Option[Edges] = {
    require(maxLocalEdges >= 0 && maxLocalEdges < Int.MaxValue,
      s"maxLocalEdges must be in [0, ${Int.MaxValue - 1}], got $maxLocalEdges")
    val Array(a, b) = pairs.schema.fields
    if (maxLocalEdges == 0 || a.dataType != b.dataType ||
        !Integral(a.dataType)) return None
    // limit(cap+1), not count(): one collect proves the bound AND
    // fetches the edges; widening to long is injective, so distinct is
    // unchanged
    val rows = pairs
      .select(col(a.name).cast(LongType), col(b.name).cast(LongType))
      .distinct()
      .limit(maxLocalEdges + 1)
      .collect()
    if (rows.length > maxLocalEdges ||
        rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) return None
    val m = rows.length
    val s = new Array[Long](m)
    val d = new Array[Long](m)
    var i = 0
    while (i < m) {
      s(i) = rows(i).getLong(0)
      d(i) = rows(i).getLong(1)
      i += 1
    }
    val all = s ++ d
    java.util.Arrays.sort(all)
    var n = 0
    i = 0
    while (i < all.length) {
      if (n == 0 || all(i) != all(n - 1)) { all(n) = all(i); n += 1 }
      i += 1
    }
    val ids = java.util.Arrays.copyOf(all, n)
    def dense(v: Array[Long]) =
      v.map(x => java.util.Arrays.binarySearch(ids, x))
    Some(new Edges(ids, dense(s), dense(d), a.dataType))
  }

  /** Compressed adjacency of `n` vertices: vertex v's neighbours are
    * `adj(off(v) until off(v + 1))`.
    */
  def csr(
      n: Int, from: Array[Int], to: Array[Int]): (Array[Int], Array[Int]) = {
    val off = new Array[Int](n + 1)
    from.foreach(v => off(v + 1) += 1)
    var v = 0
    while (v < n) { off(v + 1) += off(v); v += 1 }
    val fill = off.clone()
    val adj = new Array[Int](from.length)
    var e = 0
    while (e < from.length) {
      adj(fill(from(e))) = to(e)
      fill(from(e)) += 1
      e += 1
    }
    (off, adj)
  }

  /** Boxes a collected id back to the endpoints' Spark type. */
  def boxId(idType: DataType): Long => Any = idType match {
    case IntegerType => _.toInt
    case ShortType => _.toShort
    case ByteType => _.toByte
    case _ => v => v
  }

  /** A local frame of `rows` under `fields`, every field nullable as
    * the distributed plans' aggregates and unions are.
    */
  def frame(
      spark: SparkSession,
      fields: Seq[(String, DataType)],
      rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava,
      StructType(fields.map { case (n, t) => StructField(n, t) }))
}
