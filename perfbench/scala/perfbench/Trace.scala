package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-operation counters gathered by the benchmark-side listeners. */
final class OpCounters {
  val c = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  def add(k: String, v: Double): Unit = c(k) = c(k) + v
}

/** Benchmark-side tracing: a `SparkListener` (jobs, stages, task
  * metrics), a `QueryExecutionListener` (Catalyst phase times) and a
  * `StreamingQueryListener` (micro-batch progress), plus deltas of the
  * codegen and JVM counters around each operation. A job lands on the
  * operation named by its job group (`perfbench-op-<n>`); jobs of a
  * streaming query carry the query's own group and land on the
  * operation in flight. The listener bus is drained before an
  * operation closes, so no event leaks into the next one. Nothing here
  * touches engine code. */
final class Trace(spark: SparkSession) {
  private val ops = mutable.LinkedHashMap[Int, (String, OpCounters)]()
  val progress = mutable.ArrayBuffer[Map[String, Any]]()
  @volatile private var current: OpCounters = null
  @volatile private var currentId = -1
  private val byStage = mutable.HashMap[Int, OpCounters]()
  private var before: Map[String, Double] = Map.empty

  private def jvm: Map[String, Double] = Map(
    "jvm_gc_ms" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.toDouble).sum,
    "jvm_jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble,
    "codegen_compile_ms" -> CodeGenerator.compileTime / 1e6,
    "codegen_classes" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble)

  val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val owner = group.filter(_.startsWith("perfbench-op-"))
        .flatMap(g => ops.get(g.stripPrefix("perfbench-op-").toInt)).map(_._2)
        .orElse(Option(current))
      owner.foreach { s =>
        s.add("jobs", 1)
        e.stageIds.foreach(id => byStage(id) = s)
      }
    }
    private def owner(stage: Int) = byStage.get(stage).orElse(Option(current))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      owner(e.stageInfo.stageId).foreach(_.add("stages", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = owner(e.stageId).foreach { s =>
      s.add("tasks", 1)
      if (!e.taskInfo.successful) s.add("task_failures", 1)
      val m = e.taskMetrics
      if (m != null) {
        s.add("run_ms", m.executorRunTime.toDouble)
        s.add("cpu_ns", m.executorCpuTime.toDouble)
        s.add("gc_ms", m.jvmGCTime.toDouble)
        s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        s.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        s.add("shuffle_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
        s.add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        s.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        val moved = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead +
          m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten
        if (moved == 0) s.add("empty_tasks", 1)
      }
    }
  }

  val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Option(current).foreach { s =>
        val ph = qe.tracker.phases
        def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
        s.add("analysis_ms", ms("analysis"))
        s.add("optimization_ms", ms("optimization"))
        s.add("planning_ms", ms("planning"))
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (currentId >= 0 && p.numInputRows > 0) {
        def d(k: String) = Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
        val st = p.stateOperators.toSeq
        progress.synchronized {
          progress += Map(
            "op" -> currentId, "query" -> p.name, "batch" -> p.batchId,
            "trigger_ms" -> d("triggerExecution"), "add_batch_ms" -> d("addBatch"),
            "planning_ms" -> d("queryPlanning"), "wal_commit_ms" -> d("walCommit"),
            "state_commit_ms" -> st.map(_.commitTimeMs.toDouble).sum,
            "state_rows" -> st.map(_.numRowsTotal.toDouble).sum,
            "state_bytes" -> st.map(_.memoryUsedBytes.toDouble).sum)
        }
      }
    }
  }

  def beginOp(id: Int, name: String): Unit = {
    val c = new OpCounters
    ops(id) = (name, c)
    before = jvm
    currentId = id
    current = c
  }

  def endOp(seconds: Double, pending: Int): Unit = {
    org.apache.spark.perfbench.BusDrain.drain(spark.sparkContext)
    val c = current
    jvm.foreach { case (k, v) => c.add(k, v - before(k)) }
    c.add("wall_s", seconds)
    c.add("pending_after_release", pending.toDouble)
    current = null
    currentId = -1
  }

  def opCounters: Seq[Map[String, Any]] = ops.toSeq.map { case (id, (name, c)) =>
    Map("op_id" -> id, "op" -> name) ++ c.c.toMap
  }

  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}

object Trace {
  def install(spark: SparkSession): Trace = {
    val t = new Trace(spark)
    spark.sparkContext.addSparkListener(t.sparkListener)
    spark.listenerManager.register(t.qeListener)
    spark.streams.addListener(t.streamListener)
    t
  }
}
