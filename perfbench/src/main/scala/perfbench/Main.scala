package perfbench

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Everything one run shares: the session, the inputs' seed, the time
  * window, the tracer, a scratch directory and the result being built. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val tracer: Tracer, val work: String, val cores: Int) {
  val metrics = mutable.LinkedHashMap[String, Double]()
  val info = mutable.LinkedHashMap[String, String]()
  var attempted = 0L
  var failed = 0L

  def put(name: String, v: Double): Unit = metrics(name) = v
  def traced: Boolean = tracer.enabled

  /** Counts one output check; a false check is a failed operation. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"[perfbench] check failed: $what") }
  }

  /** Runs one operation, counting it; an exception is a failed operation. */
  def op[T](what: => String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case e: Exception =>
      failed += 1
      System.err.println(s"[perfbench] operation failed: $what: $e")
      None
    }
  }

  /** Collects the garbage of the preceding steps, so that a timed window
    * does not pay for a collection its own work did not cause. */
  def settle(): Unit = System.gc()

  private var mark = System.nanoTime()
  /** Records the wall time since the previous phase under `name`. */
  def phase(name: String): Unit = {
    val now = System.nanoTime()
    info(s"${name}_ms") = f"${(now - mark) / 1e6}%.0f"
    mark = now
  }
}

object Stats {
  def ms[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Nearest-rank percentile; 0 for no samples. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(((p / 100.0 * s.size).ceil.toInt - 1).max(0).min(s.size - 1))
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(x.max(1e-9))).sum / xs.size)

  def ratio(a: Double, b: Double): Double = if (b == 0.0) 0.0 else a / b
}

/** The benchmark's JVM side: runs one workload and writes its measured
  * values as one JSON object.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <outJson>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, out) = args
    val cores = Runtime.getRuntime.availableProcessors
    val probe = hostProbe(cores)
    val (spark, sessionMs) = Stats.ms(SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.io.compression.codec", "zstd")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, seedS.toLong, secondsS.toDouble,
      new Tracer(spark.sparkContext, traceS == "1"), work, cores)
    ctx.info("session_ms") = f"$sessionMs%.0f"
    ctx.info("host_probe_speedup") = f"$probe%.2f"
    workload match {
      case "serve" => Serve.run(ctx)
      case "ingest" => Ingest.run(ctx)
      case "surface" => Surface.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    ctx.phase("checks")
    if (ctx.traced) {
      val storage = spark.sparkContext.getRDDStorageInfo
      ctx.put("mem.persisted_rdds", storage.length.toDouble)
      ctx.put("mem.persisted_bytes", storage.map(r => r.memSize + r.diskSize).sum.toDouble)
      ctx.put("failed_ops_ratio", Stats.ratio(ctx.failed.toDouble, ctx.attempted.toDouble))
      Files.writeString(Paths.get(work, "spans.json"), ctx.tracer.toJson(workload, ctx.seed))
      printLayerTable(workload, ctx.tracer)
    }
    ctx.phase("layers")
    ctx.put("retained_heap_mb", retainedHeapMb())
    Files.writeString(Paths.get(out), resultJson(ctx))
    spark.stop()
  }

  /** Heap still in use after full collections: what the serving state
    * retains once the run's garbage is gone. Spark releases unreferenced
    * broadcasts and shuffles asynchronously after a collection, so this
    * takes the least of several collections. */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (0 until 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      (rt.totalMemory - rt.freeMemory) / (1024.0 * 1024.0)
    }.min
  }

  /** A short host-probe reading: speedup of all cores over one core on
    * register arithmetic. Far below `cores` means other work shares the
    * machine. */
  private def hostProbe(cores: Int): Double = {
    import graft.cli.HostProbe
    HostProbe.registerBurn(1, 20000000L)
    HostProbe.registerBurn(cores, 20000000L)
    val r1 = HostProbe.registerBurn(1, 50000000L)
    val rn = HostProbe.registerBurn(cores, 50000000L)
    cores * r1 / rn
  }

  private def printLayerTable(workload: String, t: Tracer): Unit = {
    println(s"per-layer self time, $workload:")
    println(f"  ${"layer"}%-10s ${"spans"}%7s ${"self_ms"}%10s ${"job_ms"}%10s ${"jobs"}%6s ${"task_ms"}%10s")
    t.layerTable.foreach { case (layer, n, self, jobMs, jobs, taskMs) =>
      println(f"  $layer%-10s $n%7d $self%10.1f $jobMs%10.1f $jobs%6d $taskMs%10d")
    }
  }

  private def resultJson(ctx: Ctx): String = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val m = ctx.metrics.map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString("{", ", ", "}")
    val i = ctx.info.map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString("{", ", ", "}")
    s"""{"attempted": ${ctx.attempted}, "failed": ${ctx.failed}, "metrics": $m, "info": $i}"""
  }
}
