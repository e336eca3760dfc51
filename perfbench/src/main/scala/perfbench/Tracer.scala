package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in tracer: spans around the benchmark's own calls into the
  * repo's modules, plus what Spark's public listener APIs report at
  * those boundaries. Spark work is attributed to an op through the
  * job group and an inheritable local property (streaming micro-batch
  * threads inherit the property even though they set their own job
  * group). Everything stays in memory until [[writeJson]].
  *
  * With `enabled = false` a span is just the call it wraps and no
  * listener is registered.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private val opOf = new ThreadLocal[Long] { override def initialValue(): Long = -1L }
  private val counters = mutable.Map.empty[String, Double]

  // ---- spans and counters ---------------------------------------------

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.get.headOption.getOrElse(-1)
      val id = spans.synchronized { spans += null; spans.size - 1 }
      stack.set(id :: stack.get)
      val s = System.nanoTime()
      try body
      finally {
        val e = System.nanoTime()
        stack.set(stack.get.tail)
        spans.synchronized {
          spans(id) = Span(id, name, (s - t0) / 1e6, (e - t0) / 1e6, parent, opOf.get,
            Thread.currentThread.getName)
        }
      }
    }

  /** Adds `v` to a named counter (counters are per-run totals). */
  def count(name: String, v: Double): Unit =
    if (enabled) counters.synchronized { counters(name) = counters.getOrElse(name, 0.0) + v }

  def counter(name: String): Double = counters.synchronized(counters.getOrElse(name, 0.0))

  def spansNamed(name: String): Seq[Span] = spans.synchronized(spans.filter(s => s != null && s.name == name).toList)

  // ---- op tagging ------------------------------------------------------

  /** Runs `body` as op `id`: its Spark jobs carry the op's job group. */
  def asOp[T](spark: SparkSession, id: Long)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(s"$OpGroupPrefix$id", s"perfbench op $id")
    sc.setLocalProperty(OpProperty, id.toString)
    opOf.set(id)
    try body
    finally {
      opOf.set(-1L)
      sc.setLocalProperty(OpProperty, null)
      sc.clearJobGroup()
    }
  }

  // ---- listeners -------------------------------------------------------

  val engine = new EngineListener
  val plans = new PlanListener
  val streams = new StreamListener

  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(engine)
    spark.listenerManager.register(plans)
    spark.streams.addListener(streams)
  }

  /** Waits for every event posted so far to reach the listeners. */
  def drain(spark: SparkSession): Unit =
    if (enabled) org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)

  /** Zeroes listener totals and counters (after set-up, before the
    * timed loop), so they cover timed ops only.
    */
  def resetTotals(spark: SparkSession): Unit = if (enabled) {
    drain(spark)
    engine.reset(); plans.reset(); streams.reset()
    counters.synchronized(counters.clear())
  }

  // ---- output ----------------------------------------------------------

  def writeJson(path: java.nio.file.Path): Unit = if (enabled) {
    val body = spans.synchronized(spans.filter(_ != null).toList).map { s =>
      Stats.obj(Seq("id" -> s.id.toString, "name" -> Stats.str(s.name),
        "start_ms" -> Stats.num(s.startMs), "end_ms" -> Stats.num(s.endMs),
        "parent" -> s.parent.toString, "op" -> s.op.toString,
        "thread" -> Stats.str(s.thread)))
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Tracer {
  val OpGroupPrefix = "perfbench-op-"
  val OpProperty = "perfbench.op"

  case class Span(id: Int, name: String, startMs: Double, endMs: Double,
                  parent: Int, op: Long, thread: String) {
    def ms: Double = endMs - startMs
  }

  /** Spark work attributed to one op. */
  final class OpStats {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var failedTasks = 0L
    var retriedTasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var fetchWaitMs = 0L
    var spill = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private def opFrom(props: java.util.Properties): Option[Long] =
    Option(props).flatMap { p =>
      Option(p.getProperty(OpProperty)).map(_.toLong).orElse(
        Option(p.getProperty("spark.jobGroup.id")).filter(_.startsWith(OpGroupPrefix))
          .map(_.stripPrefix(OpGroupPrefix).toLong))
    }

  final class EngineListener extends SparkListener {
    val ops = mutable.Map.empty[Long, OpStats]
    private val stageOp = mutable.Map.empty[Int, Long]

    def reset(): Unit = synchronized { ops.clear(); stageOp.clear() }

    private def stats(op: Long) = ops.getOrElseUpdate(op, new OpStats)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      opFrom(e.properties).foreach { op =>
        stats(op).jobs += 1
        e.stageIds.foreach(stageOp(_) = op)
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageOp.get(e.stageInfo.stageId).foreach(op => stats(op).stages += 1)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageOp.get(e.stageId).foreach { op =>
        val s = stats(op)
        val info = e.taskInfo
        s.tasks += 1
        if (info.failed || info.killed) s.failedTasks += 1
        if (info.attemptNumber > 0 || info.speculative) s.retriedTasks += 1
        s.intervals += ((info.launchTime, info.finishTime))
        Option(e.taskMetrics).foreach { m =>
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  /** Planning phases and the scan/write/exchange nodes of every
    * executed query (totals over the traced window).
    */
  final class PlanListener extends QueryExecutionListener {
    val totals = mutable.Map.empty[String, Double]

    def reset(): Unit = synchronized(totals.clear())
    def get(k: String): Double = synchronized(totals.getOrElse(k, 0.0))
    private def add(k: String, v: Double): Unit = totals(k) = totals.getOrElse(k, 0.0) + v

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized {
        add("queries", 1)
        qe.tracker.phases.foreach { case (phase, p) => add(s"phase.$phase", p.durationMs.toDouble) }
        nodes(qe.executedPlan).foreach {
          case scan: FileSourceScanExec =>
            Seq("numFiles" -> "scan.files", "filesSize" -> "scan.bytes",
              "numPartitions" -> "scan.partitions").foreach { case (m, k) =>
              scan.metrics.get(m).foreach(v => add(k, v.value.toDouble))
            }
          case w: DataWritingCommandExec =>
            Seq("numFiles" -> "write.files", "numOutputBytes" -> "write.bytes",
              "numOutputRows" -> "write.rows", "taskCommitTime" -> "write.commit_ms",
              "jobCommitTime" -> "write.commit_ms").foreach { case (m, k) =>
              w.cmd.metrics.get(m).foreach(v => add(k, v.value.toDouble))
            }
          case _: ShuffleExchangeLike => add("exchanges", 1)
          case _ =>
        }
      }

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      synchronized(add("failed_queries", 1))
  }

  /** Every node of an executed plan, looking through adaptive wrappers
    * and query stages (a reused exchange is not counted twice).
    */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _: ReusedExchangeExec => Nil
    case w: DataWritingCommandExec => w +: nodes(w.child)
    case p => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  final class StreamListener extends StreamingQueryListener {
    val totals = mutable.Map.empty[String, Double]

    def reset(): Unit = synchronized(totals.clear())
    def get(k: String): Double = synchronized(totals.getOrElse(k, 0.0))
    private def add(k: String, v: Double): Unit = totals(k) = totals.getOrElse(k, 0.0) + v

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      val p = e.progress
      add("progress", 1)
      p.durationMs.forEach((k, v) => add(s"duration.$k", v.doubleValue))
      p.stateOperators.foreach { s =>
        add("state_rows", s.numRowsTotal.toDouble)
        add("state_mem_bytes", s.memoryUsedBytes.toDouble)
        add("rows_dropped_by_watermark", s.numRowsDroppedByWatermark.toDouble)
      }
    }
  }
}
