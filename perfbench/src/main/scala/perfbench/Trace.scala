package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Spans around the benchmark's calls into each layer. A span is
  * (id, name, parent, start, end, op); `op` names the workload step
  * the span belongs to. Spans stay in memory and are written once, at
  * exit, by [[write]].
  *
  * While a span runs, its name is the Spark job group of the calling
  * thread, so [[JobMetrics]] can attribute jobs, tasks and bytes to it.
  * The same name may be entered many times; per-layer figures sum over
  * all entries.
  */
final class Tracer(sc: SparkContext) {
  import Tracer.Span

  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, Long)] = Nil
  private var nextId = 1
  private var op = ""

  def setOp(name: String): Unit = op = name

  def span[A](name: String)(f: => A): A = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(0)
    val prevGroup = stack.headOption.map(_._2)
    stack = (id, name, System.nanoTime()) :: stack
    sc.setJobGroup(name, name)
    try f
    finally {
      val (_, _, start) = stack.head
      stack = stack.tail
      done += Span(id, name, parent, start, System.nanoTime(), op)
      prevGroup match {
        case Some(g) => sc.setJobGroup(g, g)
        case None => sc.clearJobGroup()
      }
    }
  }

  def spans: Seq[Span] = done.toSeq

  /** Self time per span: its duration minus the part of it that its
    * children cover (children of one span never overlap: one thread). */
  def selfMs: Map[String, Double] = {
    val childNs = done.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum }
    done.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e6).sum
    }
  }

  def write(path: Path): Unit = {
    val lines = done.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"op":"${s.op}"}"""
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long, op: String)
}

/** Task-level Spark counters, grouped by the job group that was set
  * when each job started. Jobs of a streaming query carry the query's
  * run id as their group; [[alias]] maps it to a layer name. */
final class JobMetrics extends SparkListener {
  final class Acc {
    var jobs = 0L
    var tasks = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    /** stage id -> task durations (ms) */
    val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

    /** Max task ms over the median task ms, in the stage of this group
      * that ran the most task time; 1.0 when no stage had 2+ tasks. */
    def taskSkew: Double = {
      val stages = taskMs.values.filter(_.size >= 2)
      if (stages.isEmpty) 1.0
      else {
        val ts = stages.maxBy(_.sum).sorted
        val med = ts(ts.size / 2).toDouble
        ts.last / math.max(1.0, med)
      }
    }
  }

  private val aliases = mutable.Map.empty[String, String]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val byGroup = mutable.Map.empty[String, Acc]
  val total = new Acc

  def alias(group: String, name: String): Unit = synchronized { aliases(group) = name }

  def apply(group: String): Acc = synchronized { byGroup.getOrElse(group, new Acc) }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val raw = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val g = aliases.getOrElse(raw, raw)
    val acc = byGroup.getOrElseUpdate(g, new Acc)
    acc.jobs += 1
    total.jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val accs = Seq(total) ++ stageGroup.get(e.stageId).map(byGroup.getOrElseUpdate(_, new Acc))
      accs.foreach { a =>
        a.tasks += 1
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      }
    }
  }
}

/** Typed plan inspection of a DataFrame, from outside the program. */
object Plans extends AdaptiveSparkPlanHelper {
  /** Shuffle exchanges in the physical plan `df` would run (the
    * adaptive plan's initial form, so the count does not depend on
    * runtime statistics). */
  def exchanges(df: DataFrame): Int =
    collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }.size

  /** Sum of a SQL metric (e.g. "numFiles") over the nodes of an
    * executed plan. */
  def metric(plan: SparkPlan, name: String): Long =
    collect(plan) { case p => p.metrics.get(name).map(_.value).getOrElse(0L) }.sum
}
