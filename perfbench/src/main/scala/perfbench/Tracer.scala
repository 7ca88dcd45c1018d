package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Records Spark's own job, stage, task and micro-batch events while
  * attached. Jobs carry the harness's local properties, so each job is tied
  * to the query execution and phase (construct, plan, collect) that
  * submitted it; stages and tasks hang off their job. Records stay in
  * memory until [[write]] emits them as JSON lines for `run.py` to roll up.
  */
final class Tracer {
  private val jobs = mutable.ArrayBuffer.empty[String]
  private val stages = mutable.ArrayBuffer.empty[String]
  private val tasks = mutable.ArrayBuffer.empty[String]
  private val batches = mutable.ArrayBuffer.empty[String]
  private val jobStart = mutable.Map.empty[Int, (String, String, Long, Seq[Int])]
  private var attached = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val exec = p.flatMap(x => Option(x.getProperty(Tracer.ExecKey))).orNull
      val phase = p.flatMap(x => Option(x.getProperty(Tracer.PhaseKey))).orNull
      jobStart(e.jobId) = (exec, phase, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobStart.remove(e.jobId).foreach { case (exec, phase, start, stageIds) =>
        jobs += s"""{"kind":"job","id":${e.jobId},"exec":${Json.str(exec)},""" +
          s""""phase":${Json.str(phase)},"start_ms":$start,"end_ms":${e.time},""" +
          s""""stages":${stageIds.mkString("[", ",", "]")}}"""
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      stages += s"""{"kind":"stage","id":${s.stageId},"attempt":${s.attemptNumber()},""" +
        s""""start_ms":${s.submissionTime.getOrElse(-1L)},"end_ms":${s.completionTime.getOrElse(-1L)},""" +
        s""""tasks":${s.numTasks}}"""
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = e.taskMetrics
      val metrics = if (m == null) "" else {
        val sr = m.shuffleReadMetrics
        s""","run_ms":${m.executorRunTime},"cpu_ns":${m.executorCpuTime},"gc_ms":${m.jvmGCTime},""" +
          s""""in_bytes":${m.inputMetrics.bytesRead},"in_records":${m.inputMetrics.recordsRead},""" +
          s""""sh_read_bytes":${sr.remoteBytesRead + sr.localBytesRead},""" +
          s""""sh_write_bytes":${m.shuffleWriteMetrics.bytesWritten},""" +
          s""""sh_write_records":${m.shuffleWriteMetrics.recordsWritten},""" +
          s""""spill_bytes":${m.diskBytesSpilled}"""
      }
      tasks += s"""{"kind":"task","id":${i.taskId},"stage":${e.stageId},""" +
        s""""start_ms":${i.launchTime},"end_ms":${i.finishTime},"ok":${i.successful}$metrics}"""
    }
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      batches += s"""{"kind":"batch","id":${p.batchId},"start_ms":$start,""" +
        s""""end_ms":${start + p.batchDuration},"rows":${p.numInputRows}}"""
    }
  }

  def attach(spark: SparkSession): Unit = if (!attached) {
    Bus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streams)
    attached = true
  }

  /** Waits for queued events first, so the traced pass is complete. */
  def detach(spark: SparkSession): Unit = if (attached) {
    Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(streams)
    attached = false
  }

  def write(path: Path): Unit =
    Files.write(path, (jobs ++ stages ++ tasks ++ batches).mkString("", "\n", "\n").getBytes(UTF_8))
}

object Tracer extends AdaptiveSparkPlanHelper {
  val ExecKey = "perfbench.exec"
  val PhaseKey = "perfbench.phase"

  /** Planning phases of `df` (name, start, end in epoch ms), and the
    * whole-stage-codegen stages and engine (`graft.`) operators of its final
    * executed plan, subqueries included. */
  def inspect(df: DataFrame): (Seq[(String, Long, Long)], Int, Int) = {
    val qe = df.queryExecution
    val phases = qe.tracker.phases.toSeq.sortBy(_._2.startTimeMs)
      .map { case (n, p) => (n, p.startTimeMs, p.endTimeMs) }
    val nodes: Seq[SparkPlan] = collectWithSubqueries(qe.executedPlan) { case p => p }
    (phases, nodes.count(_.isInstanceOf[WholeStageCodegenExec]),
      nodes.count(_.getClass.getName.startsWith("graft.")))
  }
}
