package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.PerfbenchBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Benchmark driver JVM: one workload, one closed-loop client.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --run-dir DIR --data-dir DIR
  *
  * Runs set-up (staging, warm pass), then whole timed passes until
  * `seconds` have elapsed, and writes every raw timing it took to
  * `<run-dir>/raw.json`. `perfbench/run.py` turns that file into
  * metrics and checks the outputs; this JVM computes no statistics.
  *
  * With `--trace 1` every second pass runs with [[Tracer]]'s listeners
  * registered and the others without, so the same run states what
  * tracing costs.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opts("workload")
    val seed = opts("seed").toLong
    val budgetMs = opts("seconds").toDouble * 1000
    val trace = opts("trace") == "1"
    val runDir = opts("run-dir")
    val dataDir = opts("data-dir")

    val clock = new Clock
    val t0 = clock.now
    val cores = Runtime.getRuntime.availableProcessors
    val spark = session(runDir, cores)
    val rec = new Recorder(spark, clock)
    rec.setup("session_ms") = clock.now - t0

    val workload: Workload = workloadName match {
      case "query_board" => new QueryBoard(spark, rec, dataDir, runDir, seed)
      case "table_ingest" => new TableIngest(spark, rec, dataDir, runDir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    workload.setup()

    def onePass(traced: Boolean): Unit = {
      rec.pass += 1
      spark.sparkContext.setLocalProperty("perfbench.pass", rec.pass.toString)
      val (classes0, compileMs0) = codegen()
      val (cpu0, steal0) = (processCpuMs(), stealMs())
      val start = clock.now
      workload.pass()
      val end = clock.now
      val (cpu1, steal1) = (processCpuMs(), stealMs())
      val (classes1, compileMs1) = codegen()
      spark.sparkContext.setLocalProperty("perfbench.pass", null)
      spark.catalog.clearCache()
      val heapMb = liveHeapMb()
      rec.passes += mutable.LinkedHashMap[String, Any]("index" -> rec.pass,
        "start_ms" -> start, "end_ms" -> end, "traced" -> traced,
        "heap_mb" -> heapMb, "cpu_ms" -> (cpu1 - cpu0), "steal_ms" -> (steal1 - steal0),
        "codegen_classes" -> (classes1 - classes0),
        "codegen_compile_ms" -> (compileMs1 - compileMs0))
    }
    // With tracing, passes alternate untraced and traced so warm-up drift
    // falls on both sides of the overhead estimate.
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val start = clock.now
    do {
      val traced = tracer.isDefined && rec.pass % 2 == 0
      if (traced) tracer.get.attach()
      onePass(traced)
      if (traced) {
        PerfbenchBridge.drainListenerBus(spark.sparkContext)
        tracer.get.detach()
      }
    } while (clock.now - start < budgetMs || (tracer.isDefined && rec.pass < 1))
    workload.finish()

    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workloadName, "seed" -> seed, "cores" -> cores,
      "trace" -> trace, "setup" -> rec.setup, "passes" -> rec.passes,
      "ops" -> rec.ops, "checks" -> rec.checks, "extra" -> rec.extra)
    tracer.foreach(t => out ++= t.dump())
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new java.io.File(runDir, "raw.json"), out)
    spark.stop()
  }

  /** graft.Bench's session settings, with all scratch state pinned
    * under the run directory: shuffle and spill files, the warehouse
    * directory, and the persisted stage-boundary root. */
  def session(runDir: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.hadoop.fs.file.impl", "graft.sources.QuietLocalFileSystem")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "graft.sources.QuietLocalAbstractFs")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/spark-warehouse")
      .config("graft.shards.dir", s"$runDir/shards")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Heap in use after full collections. Spark frees broadcast and
    * shuffle blocks from a cleaner thread once a collection has found them
    * unreachable, so collect, give the cleaner a moment, collect again. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** CPU time of this JVM, all threads. */
  def processCpuMs(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  /** Machine-wide CPU time stolen by the hypervisor (`/proc/stat`), or 0. */
  def stealMs(): Double = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+")(8).toDouble * 10 finally src.close()
  }.getOrElse(0.0)

  /** (classes compiled, approximate compile milliseconds) so far in this
    * JVM. The count is exact; the time is the count times the mean of
    * the sampled compile-time histogram. */
  def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getCount * h.getSnapshot.getMean)
  }
}

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same base as Spark listener timestamps. */
final class Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def now: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** A workload: set-up (untimed by the pass loop, reported as set-up
  * time), one timed pass, and the output dumps made after timing. */
trait Workload {
  def setup(): Unit
  def pass(): Unit
  def finish(): Unit
}

/** In-memory record of one run; written out once, at exit. */
final class Recorder(spark: SparkSession, clock: Clock) {
  var pass: Int = -1
  val setup = mutable.LinkedHashMap[String, Any]()
  val passes = ArrayBuffer[mutable.LinkedHashMap[String, Any]]()
  val ops = ArrayBuffer[mutable.LinkedHashMap[String, Any]]()
  val checks = ArrayBuffer[mutable.LinkedHashMap[String, Any]]()
  val extra = mutable.LinkedHashMap[String, Any]()
  private var build: Option[(Double, Double)] = None

  def now: Double = clock.now

  /** Time `body` as one operation of the current pass. A throw is
    * recorded as a failed operation, never as a timing; the run goes
    * on. Returns the op's record for the caller to annotate after the
    * timed region. */
  def op[T](kind: String, name: String)(body: => T): (mutable.LinkedHashMap[String, Any], Option[T]) = {
    val id = ops.size
    spark.sparkContext.setLocalProperty("perfbench.op", id.toString)
    build = None
    val start = clock.now
    val (result, error) =
      try (Some(body), None)
      catch { case NonFatal(e) => (None, Some(s"${e.getClass.getName}: ${e.getMessage}")) }
    val end = clock.now
    spark.sparkContext.setLocalProperty("perfbench.op", null)
    val r = mutable.LinkedHashMap[String, Any]("id" -> id, "pass" -> pass,
      "kind" -> kind, "name" -> name, "start_ms" -> start, "end_ms" -> end,
      "ok" -> error.isEmpty, "error" -> error.orNull)
    build.foreach { case (s, e) => r("build_start_ms") = s; r("build_end_ms") = e }
    ops += r
    (r, result)
  }

  /** Time the driver-side construction of the current op's query: the
    * `fn(spark, dir)` call before its first action. */
  def building[T](body: => T): T = {
    val s = clock.now
    val r = body
    build = Some((s, clock.now))
    r
  }

  def check(name: String, ok: Boolean, detail: String): Unit =
    checks += mutable.LinkedHashMap("name" -> name, "ok" -> ok, "detail" -> detail)
}
