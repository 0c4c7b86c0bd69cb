package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: a workload, a query or pipeline step, or a Spark
  * job. `parent` is 0 for a root span. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startNs: Long, var endNs: Long)

/** Task metrics summed over the stages of one measurement interval. */
final class StageTotals {
  var cpuNs, runMs, gcMs, tasks, shuffleRead, shuffleWrite, spill, input, inputRows, output = 0L
  var stages, jobs = 0L
  def add(m: org.apache.spark.executor.TaskMetrics): Unit = synchronized {
    tasks += 1
    cpuNs += m.executorCpuTime
    runMs += m.executorRunTime
    gcMs += m.jvmGCTime
    shuffleRead += m.shuffleReadMetrics.totalBytesRead
    shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    spill += m.memoryBytesSpilled + m.diskBytesSpilled
    input += m.inputMetrics.bytesRead
    inputRows += m.inputMetrics.recordsRead
    output += m.outputMetrics.bytesWritten
  }
}

/** Shape of the executed plans of one interval, read from the final
  * adaptive plan of every query execution that finished in it. */
final class PlanTotals {
  var exchanges, broadcasts, operators, codegenOperators = 0L
}

/** In-memory tracer: spans around the benchmark's own calls into each
  * layer, Spark jobs attached to the span that launched them through the
  * job group, task metrics per stage and plan shape per query execution.
  * Nothing is written until `spansJson` is called at the end of a run. */
final class Tracer(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer[Span]()
  private val jobSpans = mutable.Map[Int, Span]()
  private val current = new InheritableThreadLocal[Long] { override def initialValue() = 0L }
  @volatile var stage = new StageTotals
  @volatile var plan = new PlanTotals
  /** Longest task (ms) of the jobs launched under each outermost step
    * span, by its name, e.g. the single-task tail of each merge batch. */
  val maxTaskMs = mutable.Map[String, Long]()
  private val jobRoot = mutable.Map[Int, String]()
  private val stageJob = mutable.Map[Int, Int]()
  // listener events arrive late; their wall-clock times map onto nanoTime
  private val nanoAtEpochMs = { val n = System.nanoTime(); n - System.currentTimeMillis() * 1000000L }
  private def eventNs(epochMs: Long): Long = nanoAtEpochMs + epochMs * 1000000L

  def reset(): Unit = synchronized {
    stage = new StageTotals; plan = new PlanTotals; maxTaskMs.clear()
  }

  def span[T](kind: String, name: String)(body: => T): T = {
    val parent = current.get
    val s = Span(ids.incrementAndGet(), parent, kind, name, System.nanoTime(), 0L)
    synchronized(spans += s)
    current.set(s.id)
    sc.setJobGroup(s.id.toString, name, interruptOnCancel = false)
    try body
    finally {
      s.endNs = System.nanoTime()
      current.set(parent)
      if (parent == 0L) sc.clearJobGroup()
      else sc.setJobGroup(parent.toString, spanName(parent), interruptOnCancel = false)
    }
  }

  private def spanName(id: Long): String = synchronized(spans.find(_.id == id).map(_.name).getOrElse(""))

  private def rootStepOf(parent: Long): String = synchronized {
    // the name of the outermost step span (a child of the workload span)
    var p = spans.find(_.id == parent)
    var name = p.map(_.name).getOrElse("")
    while (p.exists(_.parent != 0L)) {
      val up = spans.find(_.id == p.get.parent)
      if (up.exists(_.parent != 0L)) name = up.get.name
      p = up
    }
    name
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val parent = group.flatMap(g => g.toLongOption).getOrElse(0L)
    val s = Span(ids.incrementAndGet(), parent, "job", s"job ${e.jobId}", eventNs(e.time), 0L)
    synchronized {
      spans += s; jobSpans(e.jobId) = s; jobRoot(e.jobId) = rootStepOf(parent)
      e.stageIds.foreach(st => stageJob(st) = e.jobId)
      stage.jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpans.remove(e.jobId).foreach(_.endNs = eventNs(e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stage.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    if (e.taskMetrics != null) stage.add(e.taskMetrics)
    synchronized {
      stageJob.get(e.stageId).flatMap(jobRoot.get).foreach { root =>
        maxTaskMs(root) = math.max(maxTaskMs.getOrElse(root, 0L), e.taskInfo.duration)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val p = new PlanTotals
    Tracer.walk(qe.executedPlan, p)
    synchronized {
      plan.exchanges += p.exchanges; plan.broadcasts += p.broadcasts
      plan.operators += p.operators; plan.codegenOperators += p.codegenOperators
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Spans as JSON lines: id, parent, kind, name, start and end in ns
    * relative to the first span. */
  def spansJson: Seq[String] = synchronized {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    spans.toSeq.filter(_.endNs != 0L).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}","name":${Json.str(s.name)},""" +
        s""""start_ns":${s.startNs - t0},"end_ns":${s.endNs - t0}}"""
    }
  }
}

object Tracer {
  private def isWrapper(p: SparkPlan): Boolean = p match {
    case _: WholeStageCodegenExec | _: InputAdapter | _: AdaptiveSparkPlanExec |
        _: QueryStageExec => true
    case _ => false
  }

  private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case r: ReusedSubqueryExec => Seq(r.child)
    case _ => p.children ++ p.subqueries
  }

  /** Count operators, exchanges, broadcasts and the operators fused into
    * whole-stage codegen over an executed (final adaptive) plan. */
  def walk(root: SparkPlan, acc: PlanTotals): Unit = {
    def go(p: SparkPlan, inCodegen: Boolean): Unit = {
      p match {
        case _: ShuffleExchangeLike => acc.exchanges += 1
        case _: BroadcastExchangeLike => acc.broadcasts += 1
        case _ =>
      }
      if (!isWrapper(p)) {
        acc.operators += 1
        if (inCodegen) acc.codegenOperators += 1
      }
      val nowCodegen = p match {
        case _: WholeStageCodegenExec => true
        case _: InputAdapter => false
        case _ => inCodegen
      }
      kids(p).foreach(go(_, nowCodegen))
    }
    go(root, inCodegen = false)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}
