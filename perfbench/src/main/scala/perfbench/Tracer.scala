package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's probes, all through Spark's public listener surfaces:
  * a `SparkListener` for jobs, stages, tasks and streaming progress events,
  * the [[QueryProbe]] `QueryExecutionListener` for each action's
  * `QueryPlanningTracker` phases, and `CodegenMetrics`/`CodeGenerator`
  * counters read around each query. The program under test is not touched.
  *
  * The engine runs its stream replays in child sessions (`newSession`), whose
  * listener managers and streaming buses are their own, so session-scoped
  * registration would miss them: progress events are taken from the shared
  * listener bus instead, and the action listener is installed in every
  * session through `spark.sql.queryExecutionListeners`.
  *
  * Events are kept in memory and turned into spans by [[spans]] after the
  * session stops (stopping drains the listener bus, so no event is lost).
  * Jobs carry the job tag the benchmark set for the query that ran them;
  * actions and micro-batches are placed by their start time.
  */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext

  private case class Job(id: Int, start: Long, var end: Long, tags: Seq[String],
      described: Boolean, stages: mutable.Set[Int] = mutable.Set.empty)
  private case class Stage(tasks: Int, cpuNs: Long, runMs: Long, gcMs: Long,
      deserMs: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long,
      written: Long, skew: Double)

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[Int, Stage]()
  private val taskTimes = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()
  private val batches = new ConcurrentLinkedQueue[Map[String, Any]]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val tags = props.flatMap(p => Option(p.getProperty("spark.job.tags")))
        .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
      val described = props.exists(p => p.getProperty("spark.job.description") != null)
      jobs.put(e.jobId, Job(e.jobId, e.time, e.time, tags, described))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null)
        taskTimes.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
          .add(e.taskInfo.duration)
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent =>
        val start = java.time.Instant.parse(p.progress.timestamp).toEpochMilli
        batches.add(Map("start_ms" -> start, "end_ms" -> (start + p.progress.batchDuration),
          "batch_id" -> p.progress.batchId, "rows" -> p.progress.numInputRows))
      case _ => ()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      val times = Option(taskTimes.remove(si.stageId)).map(_.asScala.toSeq.sorted).getOrElse(Nil)
      val skew =
        if (times.size < 2) 1.0
        else times.last.toDouble / math.max(1L, times(times.size / 2)).toDouble
      stages.put(si.stageId, if (m == null) Stage(si.numTasks, 0, 0, 0, 0, 0, 0, 0, 0, skew)
        else Stage(si.numTasks, m.executorCpuTime, m.executorRunTime, m.jvmGCTime,
          m.executorDeserializeTime, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled,
          m.outputMetrics.bytesWritten, skew))
      Option(stageJob.get(si.stageId)).flatMap(j => Option(jobs.get(j)))
        .foreach(j => j.synchronized(j.stages += si.stageId))
    }
  }

  def start(): Unit = {
    sc.addSparkListener(sparkListener)
    QueryProbe.on = true
  }

  /** Detaches the probes, after a pause that lets the listener bus deliver
    * the last traced events. */
  def stop(): Unit = {
    Thread.sleep(1000)
    sc.removeSparkListener(sparkListener)
    QueryProbe.on = false
  }

  /** Driver-side counters read on the driver thread around each query. */
  def codegenCounters(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  /** Peak of the RDD blocks a query holds, sampled while it runs. */
  final class StorageSampler(preexisting: Set[Int]) extends Runnable {
    @volatile var blocks = 0L
    @volatile var bytes = 0L
    @volatile private var running = true
    def stop(): Unit = running = false
    def run(): Unit = while (running) {
      try {
        val infos = sc.getRDDStorageInfo.filterNot(i => preexisting(i.id))
        blocks = math.max(blocks, infos.map(_.numCachedPartitions.toLong).sum)
        bytes = math.max(bytes, infos.map(i => i.memSize + i.diskSize).sum)
      } catch { case _: Exception => () }
      Thread.sleep(200)
    }
  }

  /** Spark-side spans (jobs, actions, micro-batches), as JSON-ready maps.
    * Call after the session has stopped. */
  def spans: Seq[Map[String, Any]] = {
    val js = jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      val ss = j.stages.toSeq.flatMap(s => Option(stages.get(s)))
      Map[String, Any]("layer" -> "scheduler", "name" -> s"job ${j.id}",
        "start_ms" -> j.start, "end_ms" -> j.end, "tags" -> j.tags.toList,
        "described" -> j.described, "stages" -> ss.size, "tasks" -> ss.map(_.tasks).sum,
        "cpu_s" -> ss.map(_.cpuNs).sum / 1e9, "run_s" -> ss.map(_.runMs).sum / 1e3,
        "gc_s" -> ss.map(_.gcMs).sum / 1e3, "deser_s" -> ss.map(_.deserMs).sum / 1e3,
        "shuffle_read_b" -> ss.map(_.shuffleRead).sum,
        "shuffle_write_b" -> ss.map(_.shuffleWrite).sum,
        "spill_b" -> ss.map(_.spill).sum, "written_b" -> ss.map(_.written).sum,
        "skew" -> (1.0 +: ss.map(_.skew)).max)
    }
    js ++ QueryProbe.actions.asScala.map(_ + ("layer" -> "catalyst")) ++
      batches.asScala.map(_ + ("layer" -> "streaming"))
  }
}

/** Records each action's planning phases. Spark instantiates it in every
  * session, child sessions included, when the JVM runs with
  * `-Dspark.sql.queryExecutionListeners=perfbench.QueryProbe`; it records
  * nothing while the traced passes are not running. */
final class QueryProbe extends QueryExecutionListener {
  private def record(qe: QueryExecution, durationNs: Long, ok: Boolean): Unit =
    if (QueryProbe.on) {
      val phases = qe.tracker.phases
      val start = if (phases.isEmpty) System.currentTimeMillis() - durationNs / 1000000
        else phases.values.map(_.startTimeMs).min
      QueryProbe.actions.add(Map("start_ms" -> start, "ok" -> ok,
        "exec_s" -> durationNs / 1e9) ++ phases.map { case (k, p) => s"${k}_s" -> p.durationMs / 1e3 })
    }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, durationNs, ok = true)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe, 0L, ok = false)
}

object QueryProbe {
  @volatile var on = false
  val actions = new ConcurrentLinkedQueue[Map[String, Any]]()
}
