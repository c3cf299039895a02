package graft.bench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into library layers, and the Spark
  * counters attributed to them.
  *
  * The harness is one client on one thread, so at any moment at most one
  * layer span is open. Spark events (jobs, stages, tasks, query plans)
  * carry wall-clock times; each is attributed to the innermost span that
  * contains the midpoint of its own interval. That also covers jobs a
  * layer submits from its own thread pools, which a thread-local tag would
  * miss. Nothing inside the library is instrumented.
  *
  * Spans are kept in memory and turned into metrics once, after the run.
  * In an untraced run (`enabled` false) no listener is registered.
  */
final class Tracer(spark: SparkSession, enabled: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  private val cores = sc.defaultParallelism
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  /** Counts the workloads report from inside a traced request. */
  private val notes = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  /** RDD ids of the boundary materializations: the harness's, not a layer's. */
  private val harnessRdds = mutable.Set.empty[Int]

  /** Guards the event buffers the listener threads fill. */
  private val lock = new Object
  private val tasks = mutable.ArrayBuffer.empty[SparkListenerTaskEnd]
  private val jobTimes = mutable.Map.empty[Int, (Long, Long)]
  private val stageTimes = mutable.ArrayBuffer.empty[(Long, Long)]
  private val plans = mutable.ArrayBuffer.empty[(Long, Double)]
  private val observed = mutable.ArrayBuffer.empty[(Long, String, Long)]
  private val unpersisted = mutable.ArrayBuffer.empty[Int]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      jobTimes(e.jobId) = (e.time, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobTimes.get(e.jobId).foreach { case (s, _) => jobTimes(e.jobId) = (s, e.time) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime) stageTimes += ((s, c))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized { tasks += e }
    override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = lock.synchronized {
      unpersisted += e.rddId
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(fn: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) {
        val mid = (phases.map(_.startTimeMs).min + phases.map(_.endTimeMs).max) / 2
        val planMs = phases.map(_.durationMs).sum
        val obs = qe.observedMetrics.toSeq.flatMap { case (name, row) =>
          row.schema.fieldNames.indices.collect {
            case i if row.get(i).isInstanceOf[Number] =>
              (mid, s"$name.${row.schema.fieldNames(i)}",
                row.get(i).asInstanceOf[Number].longValue)
          }
        }
        lock.synchronized { plans += ((mid, planMs / 1e3)); observed ++= obs }
      }
    }
    override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  if (enabled) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  private var tracing = false
  /** True while a traced request runs; outside it every call passes through. */
  def active: Boolean = tracing

  private def rddMark(): Int = sc.emptyRDD[Unit].id

  private def begin(layer: String): Span = {
    val s = new Span(layer, System.nanoTime(), System.currentTimeMillis(), rddMark())
    spans += s
    open = s :: open
    s
  }

  private def end(s: Span): Unit = {
    s.endNs = System.nanoTime()
    s.endMs = System.currentTimeMillis()
    s.rddHi = rddMark()
    s.persisted = sc.getPersistentRDDs.keySet
      .filter(id => id > s.rddLo && id < s.rddHi).toSet
    open = open.tail
    if (open.nonEmpty) open.head.children += s
  }

  /** Run one request; when `traced`, its layer calls record spans. */
  def request[T](traced: Boolean)(body: => T): T =
    if (!traced) body
    else {
      tracing = true
      val s = begin(Harness)
      try body
      finally { end(s); tracing = false }
    }

  /** A call into `layer` that returns no frame. */
  def layer[T](layer: String)(body: => T): T =
    if (!tracing) body
    else {
      val s = begin(layer)
      try body finally end(s)
    }

  /** A call into `layer` returning a frame. Traced, the frame is
    * materialized before the span closes, so its execution is charged to
    * the layer that planned it rather than to whichever layer consumes it. */
  def frame(layer: String)(body: => DataFrame): DataFrame =
    if (!tracing) body
    else this.layer(layer) {
      val df = body
      val before = sc.getPersistentRDDs.keySet
      val m = df.localCheckpoint(eager = true)
      harnessRdds ++= sc.getPersistentRDDs.keySet -- before
      m
    }

  /** Add `v` to a per-request count (only counted in traced requests). */
  def note(key: String, v: Double): Unit = if (tracing) notes(key) += v

  /** Per-layer metrics, each the mean over traced requests (max for
    * `max_task_s`). Call once, after the last request. */
  def metrics(): Map[String, Double] = {
    org.apache.spark.BenchBus.drain(sc)
    val requests = spans.filter(_.layer == Harness)
    val n = requests.size.max(1).toDouble
    // innermost span containing time t (ms)
    val sorted = spans.sortBy(_.startMs)
    def spanAt(t: Long): Option[Span] =
      sorted.filter(s => s.startMs <= t && t <= s.endMs).sortBy(_.startNs).lastOption
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def add(layer: String, k: String, v: Double): Unit = acc(s"$layer.$k") += v
    lock.synchronized {
      for (s <- spans; l = s.layer) {
        val selfS = (s.wallNs - s.children.map(_.wallNs).sum) / 1e9
        add(l, "self_s", selfS)
        add(l, "idle_core_s", selfS * cores)
        val own = (s.persisted ++ unpersisted.filter(id => id > s.rddLo && id < s.rddHi)) --
          harnessRdds -- s.children.flatMap(c => (c.rddLo to c.rddHi))
        add(l, "checkpoints", own.size)
      }
      for ((a, b) <- jobTimes.values; s <- spanAt((a + b) / 2)) add(s.layer, "jobs", 1)
      for ((a, b) <- stageTimes; s <- spanAt((a + b) / 2)) add(s.layer, "stages", 1)
      for ((t, sec) <- plans; s <- spanAt(t)) add(s.layer, "plan_s", sec)
      for ((t, k, v) <- observed; s <- spanAt(t)) add(s.layer, k, v)
      for (e <- tasks; s <- spanAt((e.taskInfo.launchTime + e.taskInfo.finishTime) / 2)) {
        val l = s.layer
        add(l, "tasks", 1)
        if (e.taskInfo.attemptNumber > 0) add(l, "task_retries", 1)
        Option(e.taskMetrics).foreach { m =>
          add(l, "busy_s", m.executorRunTime / 1e3)
          add(l, "idle_core_s", -m.executorRunTime / 1e3)
          add(l, "shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
          add(l, "spill_mb", m.diskBytesSpilled / MB)
        }
        val k = s"$l.max_task_s"
        acc(k) = acc(k).max(e.taskInfo.duration / 1e3)
      }
    }
    val keys = (for (l <- Layers :+ Harness; m <- Common) yield s"$l.$m") ++ acc.keys
    val out = keys.distinct.map { k =>
      k -> (if (k.endsWith(".max_task_s")) acc(k) else acc(k) / n)
    }.toMap
    out ++ notes.map { case (k, v) => k -> v / n }
  }
}

object Tracer {
  /** The library layers the workloads call, in call order. */
  val Layers = Seq("sources", "pipeline", "perf", "trade", "dedup", "text")
  /** Time a request spends outside every layer span. */
  val Harness = "harness"
  val Common = Seq("self_s", "plan_s", "jobs", "stages", "tasks", "task_retries",
    "busy_s", "idle_core_s", "shuffle_write_mb", "spill_mb", "max_task_s",
    "checkpoints")
  private val MB = 1024.0 * 1024.0

  final class Span(val layer: String, val startNs: Long, val startMs: Long,
      val rddLo: Int) {
    var endNs = 0L
    var endMs = 0L
    var rddHi = 0
    var persisted = Set.empty[Int]
    val children = mutable.ArrayBuffer.empty[Span]
    def wallNs: Long = endNs - startNs
  }
}
