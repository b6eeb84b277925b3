package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._

/** One span per public call the harness makes into the engine.
  * `parent` is -1 for the run's root span; every span of one chain run
  * shares the tracer's `runId`. Times are nanoseconds since the
  * tracer's origin. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    startNs: Long, var endNs: Long = -1L)

/** Spark work caused by one span, attributed through the job group the
  * tracer sets while the span is open. */
final class SparkWork {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var execCpuNs = 0L
  var shuffleWriteB = 0L
  var spillDiskB = 0L
  var singleTaskStageMs = 0L
  var schedWaitMs = 0L
}

/** Listener that sums task and stage metrics per span. A job belongs to
  * the span named by its job group; a stage to the first job that
  * listed it; a task to its stage. Jobs without a group (none are
  * expected) land on the root span. Only the public listener API is
  * used. */
final class SpanListener(rootId: Int) extends SparkListener {
  private val stageSpan = mutable.HashMap[Int, Int]()
  private val stageSubmitMs = mutable.HashMap[Int, Long]()
  private val stageFirstLaunchMs = mutable.HashMap[Int, Long]()
  val work = mutable.HashMap[Int, SparkWork]()

  private def of(span: Int): SparkWork = work.getOrElseUpdate(span, new SparkWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group: Option[String] =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    // jobs under a non-span group (the post-run fact reads) are not counted
    val span = group match {
      case None => Some(rootId)
      case Some(Tracer.GroupId(id)) => Some(id.toInt)
      case Some(_) => None
    }
    span.foreach { s =>
      of(s).jobs += 1
      e.stageInfos.foreach(st => if (!stageSpan.contains(st.stageId)) stageSpan(st.stageId) = s)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t => stageSubmitMs(e.stageInfo.stageId) = t)
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    val t = e.taskInfo.launchTime
    if (stageFirstLaunchMs.get(e.stageId).forall(_ > t)) stageFirstLaunchMs(e.stageId) = t
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { span =>
      val w = of(span)
      w.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        w.execCpuNs += m.executorCpuTime
        w.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        w.spillDiskB += m.diskBytesSpilled
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    stageSpan.get(s.stageId).foreach { span =>
      val w = of(span)
      w.stages += 1
      for (sub <- s.submissionTime.orElse(stageSubmitMs.get(s.stageId))) {
        if (s.numTasks == 1) w.singleTaskStageMs += s.completionTime.getOrElse(sub) - sub
        stageFirstLaunchMs.get(s.stageId).foreach(l => w.schedWaitMs += math.max(0L, l - sub))
      }
    }
  }
}

/** Span recorder for one chain run. Spans are always kept in memory
  * (a list append per public call); with `sparkWork` on, each open span
  * also becomes the job group of the work it starts, so the
  * [[SpanListener]] can attribute tasks to it, and codegen counts are
  * read at span boundaries. */
final class Tracer(sc: SparkContext, sparkWork: Boolean) {
  val runId: String = java.util.UUID.randomUUID().toString
  private val origin = System.nanoTime()
  val spans = mutable.ArrayBuffer(Span(0, -1, "run", "run", 0L))
  private var open = List(0)
  val listener: Option[SpanListener] =
    if (sparkWork) Some(new SpanListener(0)) else None
  listener.foreach(sc.addSparkListener)
  /** Codegen (compiles, compile ms) caused inside each span. */
  val codegen = mutable.HashMap[Int, (Long, Double)]()

  def now(): Long = System.nanoTime() - origin

  def span[T](name: String, layer: String)(body: => T): T = {
    val s = Span(spans.size, open.head, name, layer, now())
    spans += s
    open = s.id :: open
    if (sparkWork) sc.setJobGroup(Tracer.group(s.id), name, interruptOnCancel = false)
    val cg0 = if (sparkWork) Tracer.codegenTotals() else (0L, 0.0)
    try body
    finally {
      s.endNs = now()
      open = open.tail
      if (sparkWork) {
        val cg1 = Tracer.codegenTotals()
        codegen(s.id) = (cg1._1 - cg0._1, cg1._2 - cg0._2)
        if (open.head == 0) sc.clearJobGroup()
        else sc.setJobGroup(Tracer.group(open.head), spans(open.head).name,
          interruptOnCancel = false)
      }
    }
  }

  /** Close the root span. */
  def finish(): Unit = spans(0).endNs = now()

  /** Self time of each span: its duration minus the part of it that its
    * direct children cover (children of one span never overlap — the
    * harness is single-threaded). */
  def selfNs: Map[Int, Long] = {
    val childNs = spans.filter(_.parent >= 0).groupMapReduce(_.parent)(s => s.endNs - s.startNs)(_ + _)
    spans.map(s => s.id -> (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L))).toMap
  }

  /** The spans, each with its self time and Spark work, as one JSON
    * document — written once, after the run. */
  def toJson(meta: Map[String, Any]): String = {
    val self = selfNs
    val rows = spans.map { s =>
      val w = listener.flatMap(_.work.get(s.id)).getOrElse(new SparkWork)
      val (compiles, compileMs) = codegen.getOrElse(s.id, (0L, 0.0))
      Map[String, Any]("id" -> s.id, "parent" -> s.parent, "run_id" -> runId,
        "name" -> s.name, "layer" -> s.layer,
        "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9,
        "self_s" -> self(s.id) / 1e9,
        "jobs" -> w.jobs, "stages" -> w.stages, "tasks" -> w.tasks,
        "exec_cpu_s" -> w.execCpuNs / 1e9, "shuffle_write_b" -> w.shuffleWriteB,
        "spill_disk_b" -> w.spillDiskB, "single_task_stage_s" -> w.singleTaskStageMs / 1e3,
        "sched_wait_s" -> w.schedWaitMs / 1e3,
        "codegen_compiles_incl" -> compiles, "codegen_compile_s_incl" -> compileMs / 1e3)
    }
    new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      .writeValueAsString(meta + ("spans" -> rows.toSeq))
  }
}

object Tracer {
  private val Prefix = "perfbench-span-"
  val GroupId = s"$Prefix(\\d+)".r
  def group(id: Int): String = s"$Prefix$id"

  /** (compiles so far, total compile ms so far) from Spark's public
    * codegen histograms. The reservoir keeps every sample up to its
    * size (1028); past that the sum is the mean times the count. */
  def codegenTotals(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    val values = h.getSnapshot.getValues
    val sum = if (values.length.toLong == n) values.map(_.toDouble).sum
      else h.getSnapshot.getMean * n
    (n, sum)
  }

  /** Total collection time of every garbage collector, in ms. */
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).foreach(_.resetPeakUsage())

  /** Sum of the heap pools' peak usage since the last reset, in MB. */
  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
}
