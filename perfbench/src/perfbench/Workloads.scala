package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** A workload: inputs made from the seed, and one pass of operations. */
trait Workload {
  /** (Re)makes the inputs; called several times, the median is setup. */
  def prepare(): Unit
  def pass: IndexedSeq[Op]
  /** Input cell rows one pass processes (0 where there are none). */
  def cellRowsPerPass: Long
  /** Layout of the CSV output: one file per entity, or part files. */
  def singleFile: Boolean
  def etlOps: Seq[EtlOp] = pass.collect { case e: EtlOp => e }
}

object Workload {
  def apply(name: String, spark: SparkSession, work: Path, seed: Long,
      expectedFile: Path): Workload = name match {
    case "etl_docs" => new EtlDocs(spark, work, seed)
    case "registry_sync_round" =>
      new RegistrySyncRound(spark, work, seed, expectedFile)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** A small document through `ExtractJob.run(singleFile = true)` again and
  * again, as the `RunEtl` CLI runs once per PDF: the fixed cost per
  * document (jobs, planning, the single ordered write and commit)
  * dominates. One document per pass, so the window holds several runs
  * of it to take the median of; the seed picks the document.
  */
final class EtlDocs(spark: SparkSession, work: Path, seed: Long) extends Workload {
  val Docs = 1
  val TablesPerDoc = 40
  val RowsPerTable = 50
  private val corpora = new Array[CellGen.Corpus](Docs)
  private def input(i: Int) = work.resolve(s"doc-$i.parquet")
  val pass: IndexedSeq[Op] = (0 until Docs).map { i =>
    new EtlOp(s"doc-$i", spark, input(i), work.resolve(s"doc-$i-out"),
      singleFile, corpora(i))
  }

  def prepare(): Unit = (0 until Docs).foreach { i =>
    corpora(i) = CellGen.corpus(seed * 1000003L + i, TablesPerDoc, RowsPerTable)
    Ops.writeCells(spark, corpora(i), input(i), 1)
  }
  def cellRowsPerPass: Long = Docs.toLong * TablesPerDoc * RowsPerTable
  def singleFile: Boolean = true
}

/** Iterative graph queries of the registry — many driver-synchronized
  * jobs over kilobyte-size frames, so nearly all wall time is inside the
  * build call. Inputs are the key columns of the TPC-H-style tables
  * they read, at sf0.01 row counts, generated from a FIXED data seed (the
  * run seed only permutes the query order) so results can be checked
  * against fingerprints recorded in `expected/`.
  */
final class RegistrySyncRound(spark: SparkSession, work: Path, seed: Long,
    expectedFile: Path) extends Workload {
  val Queries: IndexedSeq[String] = IndexedSeq("scc_labels", "kcore_peel")
  private val dir = work.resolve("registry")

  private val expected: Map[String, (Long, String)] =
    if (!Files.exists(expectedFile)) Map.empty
    else Files.readAllLines(expectedFile, UTF_8).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(q, rows, fp) = l.split("\t")
        q -> (rows.toLong, fp)
      }.toMap

  val pass: IndexedSeq[Op] = new scala.util.Random(seed).shuffle(Queries)
    .map(q => new QueryOp(q, spark, dir.toString, expected.get(q)))

  def prepare(): Unit = {
    val customers = 1500L
    val orders = 15000L
    val lineitems = 60000L
    val suppliers = 100L
    def key(salt: Int, n: Long) = pmod(xxhash64(col("id"), lit(salt)), lit(n))
    def write(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val p = dir.resolve(s"$name.parquet")
      Ops.deleteTree(p)
      df.coalesce(1).write.parquet(p.toString)
    }
    write("customer", spark.range(customers).select(col("id").as("c_custkey")))
    write("orders", spark.range(orders).select(col("id").as("o_orderkey"),
      key(1, customers).as("o_custkey")))
    write("lineitem", spark.range(lineitems).select(
      key(2, orders).as("l_orderkey"), key(3, suppliers).as("l_suppkey")))
  }

  /** Writes one line per query: name, row count, fingerprint. */
  def record(): Unit = {
    val lines = Queries.sorted.map { q =>
      val (rows, fp) = Fingerprint.of(
        graft.SparkEntry.queries(q)(spark, dir.toString))
      s"$q\t$rows\t$fp"
    }
    Files.createDirectories(expectedFile.getParent)
    Files.write(expectedFile, (("# query\trows\tfingerprint" +: lines)
      .mkString("\n") + "\n").getBytes(UTF_8))
  }

  def cellRowsPerPass: Long = 0L
  def singleFile: Boolean = false
}
