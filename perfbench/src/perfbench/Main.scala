package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** Closed-loop benchmark run: one driver thread, one operation in
  * flight. Sets up (session, inputs, warm-up), runs the workload's
  * operations in turn for `--seconds`, checks every operation's output,
  * and prints the result as the last stdout line. Timings are each
  * operation's median over the window; a pass is the sum of them.
  *
  * `--trace 0` reports the end-to-end metrics; `--trace 1` alternates
  * untraced and traced passes (listeners attached only for the latter),
  * reports the per-layer split of the traced ones, the tracing overhead
  * against the untraced ones, and then times direct calls into the
  * sources / ops / functions / io layers.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, cores: Int, expected: Path,
      record: Boolean)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", Paths.get(need("--work")), need("--cores").toInt,
      Paths.get(need("--expected")), m.get("--record").contains("1"))
  }

  /** Untimed passes before the window. One pass takes the cold start
    * (class loading, codegen, compiles; the harness JVM runs C1 only,
    * which settles within it, see run.py). Each further pass would cost
    * 5-8 s on a 4-core host, and comparing two commits takes dozens of
    * these runs.
    */
  val WarmPasses = 1
  /** Probe corpus for the traced run's direct layer calls. */
  val ProbeTables = 100
  val ProbeRowsPerTable = 100

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val t0 = now()
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      // One ExtractJob.run compiles ~95 generated classes, against the
      // default cache of 100: repeating a document in one JVM then
      // recompiles a varying share of them per run (runs of one seed read
      // 4.8 s or 7.2 s per document). The CLI runs one document per JVM and
      // never reuses the cache; the cold compiles stay in setup_s.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(a, spark, secs(t0))
    finally spark.stop()
  }

  private def run(a: Args, spark: SparkSession, sessionS: Double): Unit = {
    if (a.workload.startsWith("registry")) graft.GraftExtensions.register(spark)
    val w = Workload(a.workload, spark, a.work, a.seed, a.expected)
    val inputS = (1 to 3).map { _ => val t = now(); w.prepare(); secs(t) }

    if (a.record) {
      w match {
        case r: RegistrySyncRound => r.record()
        case _ => throw new IllegalArgumentException("nothing to record")
      }
      return
    }

    val errors = mutable.ArrayBuffer.empty[String]
    var failed = 0
    var attempted = 0
    val tracer = new Tracer(spark)

    /** One operation: wall seconds, plus its layer split when traced. */
    def runOp(op: Op, traced: Boolean): (Double, Option[Layers]) = {
      if (traced) tracer.open(op.label)
      val t = now()
      val ok =
        try {
          op.run(if (traced) new Bracket {
            def apply[T](body: => T): T = tracer.bracket(body)
          } else Untraced)
          true
        } catch {
          case e: Exception =>
            errors += s"${op.label}: ${e.getClass.getName}: ${e.getMessage}"
            false
        }
      val wall = secs(t)
      val layers = if (traced) Some(tracer.close()) else None
      val problems = if (ok) op.check() else Nil
      errors ++= problems
      if (!ok || problems.nonEmpty) failed += 1
      (wall, layers)
    }

    // warm-up: the first pass runs cold (class loading, codegen, JIT)
    val tw = now()
    val warm = Seq.fill(WarmPasses)(w.pass.map(op => runOp(op, traced = false)._1).sum)
    val warmS = secs(tw)
    val setupS = sessionS + median(inputS) + warmS
    val failedWarm = failed
    failed = 0

    // measured window: whole passes until `seconds` have elapsed (a
    // traced run: whole untraced/traced pass pairs), so every operation
    // runs equally often and cpu_s covers whole passes
    val jit0 = Quality.jitS()
    val classes0 = Quality.loadedClasses()
    val heap = new HeapPeak
    val ticks0 = Quality.cpuTicks()
    val spin0 = Quality.spin()
    val mem0 = Quality.memProbe()
    val cpu0 = Quality.processCpuS()
    heap.start()
    val n = w.pass.length
    val opTimes = Array.fill(n)(mutable.ArrayBuffer.empty[Double])
    val windowOps = mutable.ArrayBuffer.empty[Double]
    val passes = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val traced = mutable.ArrayBuffer.empty[Layers]
    val tm = now()
    var i = 0
    val block = if (a.trace) 2 * n else n
    def done = i > 0 && i % block == 0 && secs(tm) >= a.seconds
    while (!done) {
      val tr = a.trace && (i / n) % 2 == 1
      val (wall, layers) = runOp(w.pass(i % n), tr)
      if (!tr) opTimes(i % n) += wall
      windowOps += wall
      traced ++= layers
      attempted += 1
      i += 1
      if (i % n == 0) passes += ((tr, windowOps.takeRight(n).sum))
    }
    val windowS = secs(tm)
    val cpuS = Quality.processCpuS() - cpu0
    val jitS = Quality.jitS() - jit0
    val classesLoaded = Quality.loadedClasses() - classes0
    heap.stop()
    val spin1 = Quality.spin()
    val mem1 = Quality.memProbe()
    val steal = Quality.stealPct(ticks0, Quality.cpuTicks())

    // each operation's median over the window: one slow stretch of the
    // host moves a single sample, not the figure
    val opMedians = opTimes.toSeq.map(t => median(t.toSeq))
    val untracedPasses = passes.filterNot(_._1).map(_._2)
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!a.trace) {
      metrics("setup_s") = (setupS, "s")
      metrics("pass_s") = (opMedians.sum, "s")
      metrics("op_p50_s") = (median(opMedians), "s")
      metrics("cpu_s") = (cpuS / passes.length, "s")
      metrics("heap_peak_mb") = (heap.peakMb, "MB")
    } else {
      val tracedPasses = passes.filter(_._1).map(_._2)
      val all = traced.toSeq
      def per(f: Layers => Double) = all.map(f).sum / tracedPasses.length
      val bad = all.filterNot(_.reconciles)
      if (bad.nonEmpty) errors += s"layer split does not reconcile: ${bad.head}"
      metrics("build.s") = (per(_.buildS), "s")
      metrics("build.jobs") = (per(_.buildJobs.toDouble), "count")
      metrics("build.read_jobs") = (per(_.buildReadJobs.toDouble), "count")
      metrics("plan.s") = (per(_.planS), "s")
      metrics("exec.s") = (per(_.execS), "s")
      metrics("exec.jobs") = (per(_.jobs.toDouble), "count")
      metrics("exec.stages") = (per(_.stages.toDouble), "count")
      metrics("exec.tasks") = (per(_.tasks.toDouble), "count")
      metrics("exec.task_cpu_s") = (per(_.taskCpuS), "s")
      metrics("exec.gc_s") = (per(_.gcS), "s")
      metrics("exec.shuffle_write_mb") = (per(_.shuffleWriteMb), "MB")
      metrics("exec.spill_mb") = (per(_.spillMb), "MB")
      metrics("exec.core_busy_frac") =
        (all.map(_.taskRunS).sum / (all.map(_.wallS).sum * a.cores), "fraction")
      metrics("trace.remainder_s") = (per(_.remainderS), "s")
      metrics("trace.overhead_s") =
        (tracedPasses.sum / tracedPasses.length - untracedPasses.sum / untracedPasses.length, "s")
      val probeInput = a.work.resolve("probe-cells.parquet")
      Ops.writeCells(spark, CellGen.corpus(a.seed, ProbeTables, ProbeRowsPerTable),
        probeInput, a.cores)
      Probes.run(spark, tracer, probeInput, w.singleFile,
        a.work.resolve("probe-out")).foreach { case (k, v) => metrics(k) = v }
      metrics("quality.spin_s") = (median(Seq(spin0, spin1)), "s")
      metrics("quality.mem_probe_s") = (median(Seq(mem0, mem1)), "s")
      metrics("quality.steal_pct") = (steal, "%")
    }

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "cores" -> a.cores, "window_s" -> windowS, "passes" -> passes.length,
      "ops" -> attempted, "window_ops_s" -> windowOps.toSeq,
      "op_labels" -> w.pass.map(_.label), "warmup_passes" -> warm.length,
      "warmup_pass_s" -> warm,
      "input_s" -> inputS, "failed_frac" -> failed.toDouble / attempted,
      "failed_warmup_ops" -> failedWarm, "steal_pct" -> steal,
      "spin_s" -> Seq(spin0, spin1), "mem_probe_s" -> Seq(mem0, mem1),
      "window_jit_s" -> jitS, "window_classes_loaded" -> classesLoaded)
    val untracedOps = opTimes.flatten.toSeq
    if (untracedOps.length >= 100)
      record("op_p90_s") = untracedOps.sorted.apply((untracedOps.length * 9) / 10)
    if (w.cellRowsPerPass > 0 && !a.trace)
      record("cell_rows_per_s") = w.cellRowsPerPass / opMedians.sum
    if (w.etlOps.nonEmpty) {
      record("expected_counts") = w.etlOps.map(_.expectedCounts)
      record("content_hashes") = w.etlOps.map(_.hash.getOrElse(""))
    }
    if (errors.nonEmpty) record("errors") = errors.take(20).toSeq
    errors.take(20).foreach(e => System.err.println(s"CHECK FAILED: $e"))
    println("perfbench-record " + Json.obj(record.toSeq))

    val result = Json.obj(Seq(
      "correct" -> (errors.isEmpty && failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> Json.Raw(Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u)))
      }))))
    println(result)
  }
}

/** Direct calls into single layers, each timed on its own: median of 3
  * for the sub-second ones, one call for the extract and the sink.
  */
object Probes {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._
  import graft.functions.{Cleanse, Coordinates}
  import graft.io.CsvSink
  import graft.ops.{AreaPipeline, CellTables, Dispatch}
  import graft.tools.RunEtl

  private def drain(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def timed(body: => Unit): Double = {
    val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
  }
  private def med3(body: => Unit): Double = Main.median(Seq.fill(3)(timed(body)))

  def run(spark: SparkSession, tracer: Tracer, input: Path, singleFile: Boolean,
      out: Path): Seq[(String, (Double, String))] = {
    val path = input.toString
    val readS = med3(drain(CellTables.read(spark, path)))
    val extractS = timed {
      val (area, island) = Dispatch.extractAll(CellTables.read(spark, path))
      drain(area); drain(island)
    }

    val raw = CellTables.read(spark, path)
      .select(explode(col("cells")).as("raw")).cache()
    val rawRows = raw.count()
    val cleanseS = med3(drain(raw.select(
      Cleanse.cleanseName(col("raw")), Cleanse.cleanseIslandName(col("raw")),
      Coordinates.formatCoordinate(col("raw")))))
    raw.unpersist()

    // the five entity writes of ExtractJob, from cached extract frames
    val (area, island) = Dispatch.extractAll(CellTables.read(spark, path))
    val areaC = area.cache()
    val islandC = island.cache()
    areaC.count(); islandC.count()
    val frames = Seq("province", "regency", "district", "village")
      .map(e => e -> AreaPipeline.entity(areaC, e)) :+ ("island" -> islandC)
    val config = RunEtl.defaultConfig
    val renamed = frames.map { case (e, df) =>
      val data = df.columns.filterNot(_ == "seq")
      val heads = config.data(e).outputHeaders
      (config.data(e).filenameSuffix, df.select((data.zip(heads).map {
        case (c, h) => col(c).as(h) } :+ col("seq")).toIndexedSeq: _*))
    }
    tracer.open("io-sink")
    val sinkS = timed(renamed.foreach { case (suffix, df) =>
      CsvSink.write(df, out.toString, Ops.OutputName, suffix, singleFile)
    })
    val writeJobs = tracer.close().jobs
    val bytes = scala.util.Using.resource(Files.walk(out)) { s =>
      s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    }
    areaC.unpersist(); islandC.unpersist()
    Seq(
      "sources.read_s" -> (readS, "s"),
      "ops.extract_s" -> (extractS, "s"),
      "functions.cleanse_rows_per_s" -> (rawRows / cleanseS, "1/s"),
      "io.sink_s" -> (sinkS, "s"),
      "io.write_jobs" -> (writeJobs.toDouble, "count"),
      "io.bytes_written_mb" -> (bytes / 1048576.0, "MB"))
  }
}

/** Run-quality diagnostics: hypervisor steal and two fixed canaries. */
object Quality {
  /** (steal, total) ticks of the aggregate `cpu` line of /proc/stat. */
  def cpuTicks(): Option[(Long, Long)] =
    try {
      val line = Files.readAllLines(Paths.get("/proc/stat")).asScala
        .find(_.startsWith("cpu "))
      line.map { l =>
        val f = l.trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.sum)
      }
    } catch { case _: Exception => None }

  def stealPct(a: Option[(Long, Long)], b: Option[(Long, Long)]): Double =
    (a, b) match {
      case (Some((s0, t0)), Some((s1, t1))) if t1 > t0 =>
        100.0 * (s1 - s0) / (t1 - t0)
      case _ => 0.0
    }

  /** Median of three fixed 2e7-step xorshift spins on one thread. */
  def spin(): Double = Main.median(Seq.fill(3) {
    val t = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 0L) System.err.print("")
    (System.nanoTime() - t) / 1e9
  })

  /** A random single cycle over 2^24 ints (64 MB, off-heap so it stays
    * out of the heap metric), far beyond any cache.
    */
  private lazy val cycle: java.nio.IntBuffer = {
    val n = 1 << 24
    val a = java.nio.ByteBuffer.allocateDirect(n * 4)
      .order(java.nio.ByteOrder.nativeOrder()).asIntBuffer()
    (0 until n).foreach(i => a.put(i, i))
    val rnd = new java.util.SplittableRandom(7L)
    var i = n - 1
    while (i > 0) { // Sattolo's shuffle: one cycle through every slot
      val j = rnd.nextInt(i)
      val t = a.get(i); a.put(i, a.get(j)); a.put(j, t)
      i -= 1
    }
    a
  }

  /** Median of three 1e6-step dependent-load chases through [[cycle]]:
    * memory latency, which co-tenant cache and bandwidth pressure raise
    * while the register-only [[spin]] does not notice it.
    */
  def memProbe(): Double = Main.median(Seq.fill(3) {
    val c = cycle
    val t = System.nanoTime()
    var x = 0
    var k = 0
    while (k < 1000000) { x = c.get(x); k += 1 }
    if (x == -1) System.err.print("")
    (System.nanoTime() - t) / 1e9
  })

  /** Cumulative JIT compilation time, to show warm-up left in the window. */
  def jitS(): Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** Classes loaded so far: generated code shows up here. */
  def loadedClasses(): Long =
    ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount

  def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9
}

/** Peak heap occupancy right after a collection during the window: the
  * live set plus what the collector has not reclaimed yet. (Occupancy
  * before a collection only tracks the pinned heap size.) Starts from
  * the last collection before the window, so a window without one still
  * reads the heap it ran with.
  */
final class HeapPeak extends NotificationListener {
  private var peak = 0L
  private val collectors = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case c: com.sun.management.GarbageCollectorMXBean => c }

  private def used(info: com.sun.management.GcInfo): Long =
    info.getMemoryUsageAfterGc.asScala.collect {
      case (pool, u) if heapPools(pool) => u.getUsed
    }.sum
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  def handleNotification(n: Notification, handback: Any): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[CompositeData]).getGcInfo
      synchronized { peak = math.max(peak, used(info)) }
    }

  def start(): Unit = {
    val last = collectors.flatMap(c => Option(c.getLastGcInfo)).sortBy(_.getEndTime)
    synchronized { peak = last.lastOption.map(used).getOrElse(0L) }
    collectors.foreach(_.asInstanceOf[NotificationEmitter]
      .addNotificationListener(this, null, null))
  }
  def stop(): Unit =
    collectors.foreach(_.asInstanceOf[NotificationEmitter].removeNotificationListener(this))
  def peakMb: Double = synchronized { peak / 1048576.0 }
}

/** Minimal JSON writer for the result and record lines. */
object Json {
  final case class Raw(s: String)
  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ", ", "]")
    case m: Map[_, _] =>
      obj(m.toSeq.map { case (k, v) => k.toString -> v }.sortBy(_._1))
    case other => value(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => value(k) + ": " + value(v) }.mkString("{", ", ", "}")
}
