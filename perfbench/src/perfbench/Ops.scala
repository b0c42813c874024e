package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.SparkEntry
import graft.ops.{CellTables, ExtractJob}
import graft.tools.RunEtl

/** Brackets the build call of an operation (identity when untraced). */
trait Bracket { def apply[T](body: => T): T }
object Untraced extends Bracket { def apply[T](body: => T): T = body }

/** One timed operation; `check` runs untimed after it. */
trait Op {
  def label: String
  def run(build: Bracket): Unit
  /** Output mismatches of the last run; empty when correct. */
  def check(): Seq[String]
}

object Ops {
  val OutputName = "bench"

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      scala.util.Using.resource(Files.walk(p)) { s =>
        s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      }

  def writeCells(spark: SparkSession, corpus: CellGen.Corpus, path: Path,
      files: Int): Unit = {
    import spark.implicits._
    deleteTree(path)
    corpus.rows.toDF().coalesce(files).write.parquet(path.toString)
  }
}

/** One `ExtractJob.run` over a cell parquet, as the `RunEtl` CLI runs it:
  * `CellTables.read` is the build call, the job does the rest.
  */
final class EtlOp(
    val label: String,
    spark: SparkSession,
    input: Path,
    out: Path,
    singleFile: Boolean,
    corpus: => CellGen.Corpus) extends Op {
  private var counts = Map.empty[String, Long]
  var hash: Option[String] = None
  def expectedCounts: Map[String, Long] = corpus.counts

  def run(build: Bracket): Unit = {
    val cells = build(CellTables.read(spark, input.toString))
    counts = ExtractJob.run(cells, out.toString, Ops.OutputName,
      RunEtl.defaultConfig, singleFile).counts
  }

  def check(): Seq[String] = {
    val o = EtlCheck.verify(out, singleFile, corpus, counts)
    val drift = hash.filter(_ != o.hash).map(h =>
      s"content hash ${o.hash} differs from this run's first $h")
    if (hash.isEmpty) hash = Some(o.hash)
    (o.errors ++ drift).map(e => s"$label: $e")
  }
}

/** One registry query built and drained to the `noop` sink, as `Bench`
  * runs it; the check fingerprints the result against the recorded one.
  */
final class QueryOp(
    val label: String,
    spark: SparkSession,
    dir: String,
    expected: Option[(Long, String)]) extends Op {
  private var df: DataFrame = _

  def run(build: Bracket): Unit = {
    df = build(SparkEntry.queries(label)(spark, dir))
    df.write.format("noop").mode("overwrite").save()
  }

  def check(): Seq[String] = {
    val got = Fingerprint.of(df)
    expected match {
      case None => Seq(s"$label: no recorded fingerprint")
      case Some(want) if want != got =>
        Seq(s"$label: rows/fingerprint $got, recorded $want")
      case _ => Nil
    }
  }
}

/** Row count plus two order-independent hash sums over every
  * non-floating column (floating aggregates may differ in the last ulp
  * between plans, so they are left out as the oracle compare does).
  */
object Fingerprint {
  private val P = 2147483647L

  def of(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields
      .filter(f => f.dataType != DoubleType && f.dataType != FloatType)
      .map(_.name).sorted.map(c => df.col(s"`$c`"))
    val aggs =
      if (cols.isEmpty) Seq(count(lit(1)), lit(0L), lit(0L))
      else Seq(count(lit(1)),
        coalesce(sum(pmod(xxhash64(cols.toIndexedSeq: _*), lit(P))), lit(0L)),
        coalesce(sum(pmod(hash(cols.toIndexedSeq: _*).cast("long"), lit(P))), lit(0L)))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    (r.getLong(0), f"${r.getLong(1)}%x-${r.getLong(2)}%x")
  }
}
