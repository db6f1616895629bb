package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Additive counters read off Spark's own listeners. One instance holds the
  * running totals; `snapshot` copies them so a phase's share is the
  * difference of two snapshots taken after the bus has drained.
  */
final class Counters {
  private val m = mutable.HashMap.empty[String, Double]
  def add(k: String, v: Double): Unit = synchronized { m(k) = m.getOrElse(k, 0.0) + v }
  def snapshot: Map[String, Double] = synchronized { m.toMap }
}

object Counters {
  def diff(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }

  def sum(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0.0) + b.getOrElse(k, 0.0))).toMap
}

/** One recorded interval. Times are epoch milliseconds; `parent` is -1 for
  * the root. Spark job and stage spans hang under the op that ran them.
  */
final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double)

/** The traced run's recorder: spans at workload, pass, op and phase
  * boundaries, plus a SparkListener, a StreamingQueryListener and a
  * QueryExecutionListener feeding [[Counters]]. Everything stays in memory
  * until [[write]].
  */
final class Trace(spark: SparkSession) {
  val counters = new Counters
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val t0Nanos = System.nanoTime()
  private val t0Wall = System.currentTimeMillis().toDouble
  @volatile private var currentOp = -1
  /** `triggerExecution` of every micro-batch, in arrival order. */
  val triggerMs = mutable.ArrayBuffer.empty[Double]
  private val jobSpan = mutable.HashMap.empty[Int, Int]

  def now(): Double = t0Wall + (System.nanoTime() - t0Nanos) / 1e6

  def open(name: String, parent: Int, start: Double = now()): Int = synchronized {
    spans += Span(spans.size, parent, name, start, Double.NaN)
    spans.size - 1
  }

  def close(id: Int, end: Double = now()): Unit = synchronized {
    spans(id) = spans(id).copy(end = end)
  }

  def enterOp(id: Int): Unit = currentOp = id

  /** Waits for the listener bus so every event of the work just finished
    * is in [[counters]]. */
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      counters.add("sched.jobs", 1)
      val id = open(s"job ${e.jobId}", currentOp, e.time.toDouble)
      synchronized { jobSpan(e.jobId) = id }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      synchronized(jobSpan.remove(e.jobId)).foreach(close(_, e.time.toDouble))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      counters.add("sched.stages", 1)
      val start = i.submissionTime.getOrElse(0L).toDouble
      close(open(s"stage ${i.stageId}", currentOp, start),
        i.completionTime.map(_.toDouble).getOrElse(start))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val t = e.taskMetrics
      counters.add("sched.tasks", 1)
      if (t != null) {
        counters.add("exec.task_run_s", t.executorRunTime / 1e3)
        counters.add("exec.task_cpu_s", t.executorCpuTime / 1e9)
        counters.add("exec.gc_s", t.jvmGCTime / 1e3)
        counters.add("shuffle.write_mb", t.shuffleWriteMetrics.bytesWritten / 1e6)
        counters.add("shuffle.read_mb", t.shuffleReadMetrics.totalBytesRead / 1e6)
        counters.add("shuffle.spill_mb", (t.memoryBytesSpilled + t.diskBytesSpilled) / 1e6)
        counters.add("shuffle.fetch_wait_ms", t.shuffleReadMetrics.fetchWaitTime.toDouble)
        counters.add("scan.input_mb", t.inputMetrics.bytesRead / 1e6)
        counters.add("scan.input_rows", t.inputMetrics.recordsRead.toDouble)
        counters.add("sink.output_mb", t.outputMetrics.bytesWritten / 1e6)
        counters.add("sink.output_rows", t.outputMetrics.recordsWritten.toDouble)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid)
        counters.add("block.rdd_mb", (b.memSize + b.diskSize) / 1e6)
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      counters.add("stream.batches", 1)
      counters.add("stream.trigger_ms", d("triggerExecution"))
      Trace.this.synchronized { triggerMs += d("triggerExecution") }
      counters.add("stream.add_batch_ms", d("addBatch"))
      counters.add("stream.query_planning_ms", d("queryPlanning"))
      counters.add("stream.wal_commit_ms", d("walCommit"))
      counters.add("stream.commit_offsets_ms", d("commitOffsets"))
      counters.add("stream.input_rows", p.numInputRows.toDouble)
      p.stateOperators.foreach { s =>
        counters.add("stream.state_commit_ms", s.commitTimeMs.toDouble)
        counters.add("stream.state_rows", s.numRowsTotal.toDouble)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String): Double = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      counters.add("catalyst.analysis_ms", ms("analysis"))
      counters.add("catalyst.optimization_ms", ms("optimization"))
      counters.add("catalyst.planning_ms", ms("planning"))
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.streams.addListener(streamListener)
  spark.listenerManager.register(qeListener)

  /** Writes every span as one JSON object per line. */
  def write(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try synchronized {
      spans.foreach { s =>
        w.println(mapper.writeValueAsString(mapper.createObjectNode()
          .put("id", s.id).put("parent", s.parent).put("name", s.name)
          .put("start_ms", s.start).put("end_ms", s.end)))
      }
    } finally w.close()
  }
}
