package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Per-layer attribution of Spark work, kept in memory and summarised
  * once the traced region ends.
  *
  * The harness names the layer it is calling through the local property
  * [[Trace.SpanKey]]; Spark copies local properties into every job and
  * stage it submits, including the asynchronous stage jobs AQE starts
  * from its own threads. Inside the `intake` span the layer is refined
  * to the engine module that submitted the stage, read from its call
  * site (`localCheckpoint at CorpusStream.scala:226`). AQE stage jobs
  * only carry a `CompletableFuture` frame, so for them the call site of
  * the SQL execution they belong to is used instead.
  */
final class Trace extends SparkListener {
  import Trace._

  private final class Stage(val layer: String) {
    var submit = 0L
    var complete = 0L
    var tasks = 0L
    var taskMs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
  }
  private final class Job(val layer: String, val site: String, val start: Long) {
    var end = 0L
  }

  private val execSites = mutable.HashMap.empty[Long, String]
  private val stages = mutable.HashMap.empty[Int, Stage]
  private val jobs = mutable.HashMap.empty[Int, Job]

  /** Resolve the layer and call site of work submitted under `props`
    * with Spark's own call-site strings `short` / `long`.
    */
  private def attribute(props: java.util.Properties, short: String, long: String): (String, String) =
    synchronized {
      val span = Option(props).flatMap(p => Option(p.getProperty(SpanKey))).getOrElse("other")
      val execSite = Option(props)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => execSites.get(id.toLong))
      val site =
        if (userFrame(long).isDefined || userFrame(short).isDefined) s"$short\n$long"
        else execSite.getOrElse(s"$short\n$long")
      val layer = if (span == "intake") s"intake.${intakeModule(site)}" else span
      (layer, site)
    }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      synchronized { execSites(e.executionId) = s"${e.description}\n${e.details}" }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val result = e.stageInfos.maxByOption(_.stageId)
    val (layer, site) = attribute(e.properties,
      result.map(_.name).getOrElse(""), result.map(_.details).getOrElse(""))
    synchronized { jobs(e.jobId) = new Job(layer, site, e.time) }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val info = e.stageInfo
    val (layer, _) = attribute(e.properties, info.name, info.details)
    synchronized {
      val s = new Stage(layer)
      s.submit = info.submissionTime.getOrElse(System.currentTimeMillis())
      stages(info.stageId) = s
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { s =>
      s.complete = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (s <- stages.get(e.stageId); m <- Option(e.taskMetrics)) {
      s.tasks += 1
      s.taskMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Counter set per layer, each divided by `ops` (the traced operations),
    * for every layer in [[Layers]]. `spanSeconds` holds the harness's own
    * wall time per span layer; layers without one (the intake modules)
    * take the time their jobs cover.
    */
  def summary(ops: Int, spanSeconds: Map[String, Double]): Map[String, Double] = synchronized {
    val per = math.max(ops, 1).toDouble
    Layers.flatMap { layer =>
      val st = stages.values.filter(_.layer == layer).toSeq
      val jb = jobs.values.filter(_.layer == layer).toSeq
      val stageCover = covered(st.map(s => (s.submit, s.complete)))
      val wall = spanSeconds.getOrElse(layer, covered(jb.map(j => (j.start, j.end))))
      Seq(
        s"$layer.s" -> wall / per,
        s"$layer.jobs" -> jb.size / per,
        s"$layer.stages" -> st.size / per,
        s"$layer.tasks" -> st.map(_.tasks).sum / per,
        s"$layer.task_s" -> st.map(_.taskMs).sum / 1e3 / per,
        s"$layer.shuffle_bytes" -> st.map(_.shuffleBytes).sum / per,
        s"$layer.spill_bytes" -> st.map(_.spillBytes).sum / per,
        s"$layer.eager_jobs" -> jb.count(j => EagerMethods(siteMethod(j.site))) / per,
        s"$layer.gc_s" -> st.map(_.gcMs).sum / 1e3 / per,
        s"$layer.driver_s" -> math.max(0.0, wall - stageCover) / per)
    }.toMap
  }

  /** Every recorded job and stage has ended. */
  def settled: Boolean = synchronized {
    jobs.values.forall(_.end > 0) && stages.values.forall(_.complete > 0)
  }

  def jobCount(prefix: String): Int = synchronized { jobs.values.count(_.layer.startsWith(prefix)) }
}

object Trace {
  val SpanKey = "perfbench.span"

  val Layers: Seq[String] = Seq("landing", "bronze", "silver", "gold", "queries",
    "intake.dedup", "intake.decon", "intake.pack", "intake.ledger")

  val EagerMethods: Set[String] = Set("localCheckpoint", "isEmpty", "count", "collect")

  /** Run `body` with every Spark job it submits attributed to `span`. */
  def span[T](sc: SparkContext, span: String)(body: => T): T = {
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, span)
    try body finally sc.setLocalProperty(SpanKey, prev)
  }

  private val Frame = """(graft\.[\w.$]+)\.([\w$]+)\((\w+)\.scala:\d+\)""".r
  private val ShortSite = """(\w+) at (\w+)\.scala:\d+""".r

  /** Innermost engine frame of a call site: (class, method, file). */
  def userFrame(site: String): Option[(String, String, String)] =
    Frame.findFirstMatchIn(site).map(m => (m.group(1), m.group(2), m.group(3)))
      .orElse(ShortSite.findFirstMatchIn(site).map(m => ("", "", m.group(2))))

  /** The Spark method a call site names (`localCheckpoint` in
    * `localCheckpoint at CorpusStream.scala:226`).
    */
  def siteMethod(site: String): String =
    ShortSite.findFirstMatchIn(site).map(_.group(1)).getOrElse("")

  /** Engine module of the curation loop that a call site belongs to. */
  def intakeModule(site: String): String =
    userFrame(site) match {
      case Some((_, method, "CorpusStream"))
          if method.contains("Ledger") || method.contains("Committed") => "ledger"
      case Some((_, _, "CorpusStream" | "MinHashLSH" | "DedupClusters")) => "dedup"
      case Some((_, _, "DecontaminateStream" | "Decontaminate")) => "decon"
      // the curation loop materialises its decontaminated cut eagerly
      case Some((_, _, "CurationStream")) if siteMethod(site) == "localCheckpoint" => "decon"
      case Some((_, _, "PackStream")) => "pack"
      case _ => "ledger"
    }

  /** Seconds covered by the union of [start, end] millisecond intervals. */
  def covered(intervals: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = -1L
    var curE = -1L
    intervals.filter { case (s, e) => e >= s && s > 0 }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE >= 0) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE >= 0) total += curE - curS
    total / 1e3
  }
}
