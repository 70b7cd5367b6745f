package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import graft.BenchMetricsListener
import org.apache.spark.graftaccess.BusAccess
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans: (name, start, end, parent). Each thread nests its
  * own spans; a span opened on a thread with none open (the stream's
  * micro-batch thread) becomes a child of the op open on the main thread. */
final class Trace(val enabled: Boolean) {
  import Trace.Span
  private val spans = mutable.ArrayBuffer[Span]()
  private val open = new ThreadLocal[Integer]
  @volatile private var opOpen = -1
  /** Seconds moved from one layer to another after the fact, for a
    * layer that is read from listener stage times rather than a span. */
  private val moved = mutable.Map[String, Double]().withDefaultValue(0.0)

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val saved = open.get
      val idx = synchronized {
        spans += Span(name, System.nanoTime(), 0L, if (saved == null) opOpen else saved)
        spans.length - 1
      }
      open.set(idx)
      if (name == "op") opOpen = idx
      try body
      finally {
        synchronized { spans(idx).end = System.nanoTime() }
        open.set(saved)
        if (name == "op") opOpen = -1
      }
    }

  /** Forget everything recorded so far (the warm-up's spans). */
  def reset(): Unit = synchronized { spans.clear(); moved.clear() }

  def move(from: String, to: String, seconds: Double): Unit = synchronized {
    moved(from) -= seconds; moved(to) += seconds
  }

  /** Move `seconds` of `from` to the layers in `weights`, in proportion. */
  def split(from: String, weights: Map[String, Double], seconds: Double): Unit = synchronized {
    val total = weights.values.sum
    if (total > 0) {
      moved(from) -= seconds
      weights.foreach { case (k, w) => moved(k) += seconds * w / total }
    }
  }

  /** Self time per span name (span minus its children), plus moves,
    * keyed `<name>_s`. */
  def selfSeconds: Map[String, Double] = synchronized {
    val child = Array.fill(spans.length)(0L)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.end - s.start)
    val self = spans.indices.groupMapReduce(i => spans(i).name)(i =>
      (spans(i).end - spans(i).start - child(i)) / 1e9)(_ + _)
    (self.keySet ++ moved.keySet).map(k =>
      s"${k}_s" -> (self.getOrElse(k, 0.0) + moved(k))).toMap
  }

  def json: String = synchronized {
    spans.map(s => s"""{"name":"${s.name}","start":${s.start},"end":${s.end},"parent":${s.parent}}""")
      .mkString("[", ",\n", "]")
  }
}

object Trace {
  private final case class Span(name: String, start: Long, var end: Long, parent: Int)
}

/** Spark counters the benchmark reads through listeners it registers
  * itself: jobs, tasks and bytes per task end, plus the wall time of the
  * leaf stages of jobs submitted under a `perfbench.tag` local property. */
final class Counters extends SparkListener {
  val jobs, tasks, shuffleBytes, spillBytes, inputBytes = new AtomicLong
  private val tagged = mutable.Map[Int, String]()   // stage id -> tag
  private val leafMs = mutable.Map[String, Long]().withDefaultValue(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Counters.Tag)))
    tag.foreach(t => synchronized {
      e.stageInfos.filter(_.parentIds.isEmpty).foreach(s => tagged(s.stageId) = t)
    })
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    tagged.remove(s.stageId).foreach { t =>
      for (a <- s.submissionTime; b <- s.completionTime) leafMs(t) += b - a
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
    }
  }

  /** Leaf-stage wall seconds recorded under `tag` since the last take. */
  def takeLeafSeconds(tag: String): Double = synchronized {
    val ms = leafMs(tag); leafMs(tag) = 0L; ms / 1e3
  }
}

object Counters { val Tag = "perfbench.tag" }

/** Driver phases of every action: analysis, optimization, planning. */
final class Planner extends QueryExecutionListener {
  val queries = new AtomicLong
  val phaseMs = new AtomicLong
  private def add(qe: QueryExecution): Unit = {
    queries.incrementAndGet()
    phaseMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
}

/** One reading of every counter; `delta` gives the per-layer figures. */
final case class Reading(values: Map[String, Double]) {
  def -(o: Reading): Map[String, Double] =
    values.map { case (k, v) => k -> (v - o.values.getOrElse(k, 0.0)) }
}

final class Probes(spark: SparkSession) {
  val exec = new BenchMetricsListener
  val counters = new Counters
  val planner = new Planner
  spark.sparkContext.addSparkListener(exec)
  spark.sparkContext.addSparkListener(counters)
  spark.listenerManager.register(planner)

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuSeconds: Double = os.getProcessCpuTime / 1e9

  def read(): Reading = {
    BusAccess.drainListenerBus(spark.sparkContext, 10000L)
    val mb = 1024.0 * 1024.0
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean])
      .map(b => math.max(0L, b.getCollectionTime)).sum
    Reading(Map(
      "process_cpu_s" -> processCpuSeconds,
      "executor.jobs" -> counters.jobs.get.toDouble,
      "executor.tasks" -> counters.tasks.get.toDouble,
      "executor.cpu_s" -> exec.cpuSeconds,
      "executor.sched_delay_s" -> exec.schedulerDelaySeconds,
      "executor.shuffle_mb" -> counters.shuffleBytes.get / mb,
      "executor.spill_mb" -> counters.spillBytes.get / mb,
      "executor.input_mb" -> counters.inputBytes.get / mb,
      "planner.queries" -> planner.queries.get.toDouble,
      "planner.plan_s" -> planner.phaseMs.get / 1e3,
      "planner.codegen_compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "planner.codegen_s" -> CodeGenerator.compileTime / 1e9,
      "jvm.gc_s" -> gcMs / 1e3,
      "jvm.jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3))
  }

  /** Live heap after a full collection, in MB. The collections repeat
    * after a pause so that what Spark's context cleaner frees once the
    * first one has found the garbage (broadcast and shuffle blocks) is
    * gone too. */
  def liveHeapMb(): Double = {
    for (_ <- 1 to 2) { System.gc(); Thread.sleep(300) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
