package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.chaining._

import org.apache.spark.sql.SparkSession

import graft.core.Sessions

/** One timed operation: its wall time, the items it processed, whether
  * its output checked out, the query it ran, if any, and the JVM's CPU
  * seconds within its timed parts.
  */
final case class Op(seconds: Double, items: Long, ok: Boolean, query: String = "", cpu: Double = 0.0)

/** A benchmark workload over one Spark session. */
abstract class Workload(val spark: SparkSession) {
  /** Set-up before the timed region: inputs, persisted state, warm passes. */
  def setup(): Unit = ()
  /** The timed region ends only after a multiple of this many ops. */
  def passSize: Int = 1
  /** One timed operation; `traced` ops run their layers under spans. */
  def op(traced: Boolean): Op
  /** The typical operation time of a run: the median op. */
  def p50(ops: Seq[Op], time: Op => Double): Double = Main.median(ops.map(time))

  private var cpu = 0.0

  /** [[op]], with the process CPU seconds spent inside its [[timed]] parts. */
  final def runOp(traced: Boolean): Op = {
    cpu = 0.0
    op(traced).copy(cpu = cpu)
  }
  /** Checks over the whole run, after the timed region. */
  def finish(): Unit = ()
  /** Per-layer metrics beyond the [[Trace]] counter set. */
  def extras(tracedOps: Int, untracedP50: Double): Map[String, Double] = Map.empty
  /** Digest of the run's seed-determined output, compared across runs. */
  def digest: String = ""
  /** Harness wall seconds per span layer over the traced ops. */
  val spanSeconds: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)

  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def fail(msg: String): Boolean = { errors += msg; false }

  protected def timed[T](body: => T): (T, Double) = {
    val c = Main.cpuSeconds()
    val t = System.nanoTime()
    val r = body
    cpu += Main.cpuSeconds() - c
    (r, (System.nanoTime() - t) / 1e9)
  }

  /** Time `body` and add it to the span layer `layer` when `traced`. */
  protected def inSpan[T](traced: Boolean, layer: String)(body: => T): T =
    if (!traced) body
    else {
      val t = System.nanoTime()
      val r = Trace.span(spark.sparkContext, layer)(body)
      spanSeconds(layer) += (System.nanoTime() - t) / 1e9
      r
    }
}

/** Entry point: `perfbench.Main <workload> <seed> <seconds> <trace> <work-dir> <t0-epoch-ms>`.
  *
  * Prints one line `PERFBENCH {json}` with the run's counts, errors and
  * metrics: the end-to-end set when untraced, the per-layer set when
  * traced. `perfbench.Main train <work-dir>` instead runs a short pass of
  * every workload, so the build can record the classes they load.
  */
object Main {
  def workload(name: String, spark: SparkSession, work: String, seed: Long): Workload = name match {
    case "medallion_etl" => new Medallion(spark, work, seed)
    case "ann_retrieval" => new Queries(spark, work, seed, Queries.AnnRetrieval)
    case "curation_intake" => new Intake(spark, work, seed)
    case other => sys.error(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit =
    if (args.headOption.contains("train")) train(args(1)) else run(args)

  private def train(work: String): Unit = {
    val spark = Sessions.local("perfbench")
    for (name <- Seq("medallion_etl", "ann_retrieval", "curation_intake"))
      workload(name, spark, work, 1L).setup()
    spark.stop()
  }

  private def run(args: Array[String]): Unit = {
    val Array(name, seedS, secondsS, traceS, work, t0S) = args
    val (seed, seconds, trace, t0) = (seedS.toLong, secondsS.toDouble, traceS == "1", t0S.toLong)
    val spark = Sessions.local("perfbench")
    val w = workload(name, spark, work, seed)
    val bootS = (System.currentTimeMillis() - t0) / 1e3
    val workS = { val t = System.nanoTime(); w.setup(); (System.nanoTime() - t) / 1e9 }
    val setupS = bootS + workS
    System.err.println(f"[perfbench] set-up: boot ${bootS}%.2fs work ${workS}%.2fs")

    val load0 = loadAvg1m()
    val gc0 = gcSeconds()
    val ops = mutable.Map(false -> mutable.ArrayBuffer.empty[Op], true -> mutable.ArrayBuffer.empty[Op])
    val tracer = new Trace
    // a traced run spends half its budget untraced and half traced, so the
    // tracing overhead is measured in one process on one input
    val phases = if (trace) Seq(false -> seconds / 2, true -> seconds / 2) else Seq(false -> seconds)
    for ((traced, budget) <- phases) {
      if (traced) spark.sparkContext.addSparkListener(tracer)
      var spent = 0.0
      var n = 0
      while (spent < budget || n % w.passSize != 0) {
        n += 1
        val o = try w.runOp(traced) catch {
          case e: Throwable => w.fail(s"op failed: ${e.toString.take(300)}"); Op(0.0, 0, ok = false)
        }
        ops(traced) += o
        System.err.println(f"[perfbench] op traced=$traced ${o.seconds}%.3fs cpu=${o.cpu}%.3fs items=${o.items} ok=${o.ok}")
        spent += math.max(o.seconds, 0.05)
      }
      if (traced) {
        // the listener bus is asynchronous: wait for the traced jobs' last events
        val deadline = System.nanoTime() + 10000000000L
        do Thread.sleep(200) while (!tracer.settled && System.nanoTime() < deadline)
        spark.sparkContext.removeSparkListener(tracer)
      }
    }
    val gcS = gcSeconds() - gc0
    try w.finish() catch { case e: Throwable => w.fail(s"final check failed: ${e.toString.take(300)}") }
    val heapGb = retainedHeapGb()

    val all = ops.values.flatten.toSeq
    val untraced = ops(false).toSeq
    val okOps = untraced.filter(_.ok)
    val metrics: Map[String, Double] =
      if (!trace) Map(
        "setup_s" -> setupS,
        "op_p50_s" -> w.p50(okOps, _.seconds),
        "items_per_s" -> untraced.map(_.items).sum / math.max(untraced.map(_.seconds).sum, 1e-9),
        "heap_retained_gb" -> heapGb)
      else {
        val tracedOps = ops(true).size
        val untracedP50 = w.p50(okOps, _.seconds)
        tracer.summary(tracedOps, w.spanSeconds.toMap) ++ w.extras(tracedOps, untracedP50) ++ Map(
          "intake.jobs_per_batch" -> tracer.jobCount("intake.").toDouble / math.max(tracedOps, 1),
          "trace.overhead_s" -> (w.p50(ops(true).filter(_.ok).toSeq, _.seconds) - untracedP50),
          "setup.boot_s" -> bootS,
          "setup.work_s" -> workS,
          "run.loadavg_1m" -> load0,
          "run.gc_s" -> gcS,
          "run.op_cpu_s" -> w.p50(okOps, _.cpu))
      }
    val json = new StringBuilder("{")
    json ++= s""""attempted": ${all.size}, "failed": ${all.count(!_.ok) max (if (w.errors.nonEmpty) 1 else 0)}, """
    json ++= s""""samples": ${okOps.size}, "cores": ${Sessions.cpus}, "heap_max_gb": ${Runtime.getRuntime.maxMemory / 1073741824.0}, """
    json ++= s""""loadavg_1m": $load0, "gc_s": $gcS, "digest": ${quote(w.digest)}, """
    json ++= w.errors.take(20).map(quote).mkString(""""errors": [""", ", ", "], ")
    json ++= metrics.toSeq.sortBy(_._1).map { case (k, v) => s"${quote(k)}: ${num(v)}" }
      .mkString(""""metrics": {""", ", ", "}}")
    println(s"PERFBENCH $json")
    spark.stop()
  }

  /** Median; NaN on no samples. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  /** Heap in use after full collections: objects the cleaner frees only
    * once their owners are collected need more than one round, so take
    * the least of a few.
    */
  def retainedHeapGb(): Double = (1 to 4).map { _ =>
    System.gc()
    Thread.sleep(250)
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1073741824.0
  }.tap(h => System.err.println(s"[perfbench] heap after gc: ${h.mkString(" ")}")).min

  private def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def loadAvg1m(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg")).trim.split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def cpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  def deleteTree(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
      finally s.close()
    }
  }

  /** Bytes of every regular file under `dir` (0 when absent). */
  def dirBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
      finally s.close()
    }
  }
}
