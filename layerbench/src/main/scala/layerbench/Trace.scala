package layerbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into the program: the root span of the trace. The
  * bytes its Spark jobs read and wrote come from Spark's status store,
  * so they are known for untraced ops too. */
final case class Op(id: Int, name: String, kind: String, startMs: Double, endMs: Double,
    ok: Boolean, error: String = "", readBytes: Long = 0L, writtenBytes: Long = 0L)

/** Records Spark jobs, stages and task metrics, and SQL executions,
  * while attached. Jobs carry the id of the op that submitted them
  * through the `layerbench.op` local property, stages carry their job,
  * and SQL executions are matched to ops by time afterwards. Everything
  * stays in memory until [[Tracer.dump]].
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val taskSums = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Long]]()
  private val executions = new ConcurrentLinkedQueue[Map[String, Any]]()
  @volatile private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    attached = false
  }

  /** Wait until every event posted so far has been delivered. */
  def drain(): Unit = org.apache.spark.LayerbenchBus.drain(spark.sparkContext)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty))).map(_.toInt)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobs.add(Map("id" -> e.jobId, "op" -> op.getOrElse(-1), "start_ms" -> e.time.toDouble,
      "stages" -> e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.put(e.jobId, e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val acc = taskSums.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new Array[Long](TaskFields.size))
      val v = Array(1L, m.executorRunTime, m.executorCpuTime / 1000000L, m.jvmGCTime,
        m.memoryBytesSpilled, m.diskBytesSpilled,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten)
      acc.synchronized { var i = 0; while (i < v.length) { acc(i) += v(i); i += 1 } }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    stages.add(Map("id" -> s.stageId, "attempt" -> s.attemptNumber(),
      "job" -> Option(stageJob.get(s.stageId)).getOrElse(-1),
      "name" -> s.name, "num_tasks" -> s.numTasks,
      "start_ms" -> s.submissionTime.getOrElse(0L).toDouble,
      "end_ms" -> s.completionTime.getOrElse(0L).toDouble,
      "failed" -> s.failureReason.isDefined))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    executions.add(Map("func" -> funcName, "end_ms" -> System.currentTimeMillis().toDouble,
      "duration_ms" -> durationNs / 1e6, "write" -> writeMetrics(qe.executedPlan)))

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    executions.add(Map("func" -> funcName, "end_ms" -> System.currentTimeMillis().toDouble,
      "duration_ms" -> 0.0, "failed" -> true))

  /** Jobs, stages (with summed task metrics) and SQL executions. */
  def dump(): Map[String, Any] = {
    drain()
    val stageList = stages.asScala.toSeq.map { s =>
      val sums = Option(taskSums.get((s("id").asInstanceOf[Int], s("attempt").asInstanceOf[Int])))
        .getOrElse(new Array[Long](TaskFields.size))
      s ++ TaskFields.zip(sums)
    }
    Map(
      "jobs" -> jobs.asScala.toSeq.map(j =>
        j + ("end_ms" -> Option(jobEnds.get(j("id").asInstanceOf[Int])).map(_.toDouble).getOrElse(0.0))),
      "stages" -> stageList,
      "executions" -> executions.asScala.toSeq)
  }
}

object Tracer {
  val OpProperty = "layerbench.op"

  val TaskFields: Seq[String] = Seq("tasks", "run_ms", "cpu_ms", "gc_ms", "mem_spill_bytes",
    "disk_spill_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "input_bytes",
    "input_records", "output_bytes", "output_records")

  /** File-write metrics (numFiles, numOutputBytes, jobCommitTime, ...)
    * of the write command in an executed plan, if it has one. */
  def writeMetrics(plan: SparkPlan): Map[String, Long] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case c: CommandResultExec => walk(c.commandPhysicalPlan)
      case other => other.children.flatMap(walk)
    })
    walk(plan).collectFirst { case w: DataWritingCommandExec =>
      w.cmd.metrics.map { case (k, m) => k -> m.value }
    }.getOrElse(Map.empty)
  }
}

/** Times ops and keeps their spans; with a [[Tracer]] attached, the
  * Spark work inside each op is tagged with the op's id. */
final class Ops(spark: SparkSession) {
  private val done = mutable.ArrayBuffer.empty[Op]
  private var nextId = 0

  def all: Seq[Op] = done.toSeq
  /** Id of the op running now, or of the next one. */
  def next: Int = nextId

  /** Run `body` as one op; returns its wall seconds and result (None
    * when it threw — the failure is recorded on the op). */
  def run[T](name: String, kind: String)(body: => T): (Double, Option[T]) = {
    val id = nextId
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.OpProperty, id.toString)
    sc.setJobDescription(s"$kind:$name")
    val t0 = System.nanoTime(); val w0 = System.currentTimeMillis().toDouble
    val res = try Right(body) catch { case scala.util.control.NonFatal(e) => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    val w1 = w0 + secs * 1000
    nextId += 1
    sc.setLocalProperty(Tracer.OpProperty, null)
    sc.setJobDescription(null)
    // read after the clock stopped: the calls are serial, so the jobs
    // submitted inside the op's window are the op's
    val (read, written) =
      org.apache.spark.LayerbenchBus.jobBytes(sc, w0.toLong, math.ceil(w1).toLong)
    res match {
      case Right(v) =>
        done += Op(id, name, kind, w0, w1, ok = true, readBytes = read, writtenBytes = written)
        (secs, Some(v))
      case Left(e) =>
        System.err.println(s"[layerbench] $kind $name failed: $e")
        done += Op(id, name, kind, w0, w1, ok = false, String.valueOf(e.getMessage).take(300),
          read, written)
        (secs, None)
    }
  }
}
