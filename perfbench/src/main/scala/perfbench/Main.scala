package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, ScheduledFuture, TimeUnit}

import scala.collection.mutable
import scala.util.Random

import graft.{Engine, SparkEntry}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, udf}

/** Benchmark JVM: sets up a session, warms the workload's queries on the
  * small warm-up tables, then runs them in a closed loop with one client
  * (one query at a time, on this thread) and writes every measurement to a
  * JSON file that `perfbench/run.py` turns into metrics.
  *
  *   --queries a,b,c   the workload's query list (one pass), or `all`
  *   --data DIR        benchmark-scale tables      --warm DIR   warm-up tables
  *   --expected FILE   TSV of query, rows, digest  --out FILE   result JSON
  *   --seed N          orders each pass            --seconds S  measuring time
  *   --trace 0|1       1: untraced, traced and untraced passes, each for seconds/2
  *   --cores N         local[N]                    --warm-seconds S  warm-up budget
  *   --query-timeout S a query running longer fails
  *   --deadline S      no query starts later than this after JVM start
  *   --record 1        run each query once and record its output instead
  *   --inject 1        add the deliberately failing self-test entries
  */
object Main {

  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  type Query = (SparkSession, String) => DataFrame

  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  private val sleepUdf = udf { (x: Long) => Thread.sleep(600000L); x }

  /** Self-test entries: one throws, one returns a wrong output, one hangs.
    * The two float entries run a real query with floating-point output; the
    * self-test gives one an expected value off by a few ulps, which must
    * pass, and the other one off by a millionth, which must fail. */
  val Injected: Map[String, Query] = Map(
    "perfbench_fail_throw" -> ((_, _) => throw new IllegalStateException("injected failure")),
    "perfbench_fail_wrong" -> ((s, d) => Engine.table(s, d, "region")),
    "perfbench_fail_timeout" -> ((s, _) => s.range(1).select(sleepUdf(col("id")).as("id"))),
    "perfbench_fail_float" -> SparkEntry.queries("q01_pricing_summary"),
    "perfbench_float_ulps" -> SparkEntry.queries("q01_pricing_summary"))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val registry = SparkEntry.queries ++ (if (opts.get("inject").contains("1")) Injected else Map.empty)
    val queries =
      if (opt("queries") == "all") SparkEntry.queries.keys.toSeq.sorted
      else opt("queries").split(',').toSeq.filter(_.nonEmpty)
    queries.filterNot(registry.contains).foreach(q => sys.error(s"unknown query $q"))
    val expected = opts.get("expected").toSeq.flatMap { f =>
      new String(Files.readAllBytes(Paths.get(f)), StandardCharsets.UTF_8).split('\n').toSeq
        .filter(_.nonEmpty).map(_.split("\t", -1)).map(a =>
          a(0) -> Digest.Value(a(1).toLong, a(2), Digest.parseFloats(a(3))))
    }.toMap
    val run = new Run(registry, opt("data"), opt("cores").toInt,
      opt("query-timeout").toDouble, opt("deadline").toDouble)
    val out =
      if (opts.get("record").contains("1")) run.record(queries, opt("warm"))
      else run.bench(queries, opt("warm"), opt("warm-seconds").toDouble, expected,
        opt("seed").toLong, opt("seconds").toDouble, opt("trace") == "1")
    Files.write(Paths.get(opt("out")), Json(out).getBytes(StandardCharsets.UTF_8))
  }
}

final class Run(registry: Map[String, Main.Query], data: String, cores: Int,
    queryTimeoutS: Double, deadlineS: Double) {

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val epoch0 = System.currentTimeMillis() - System.nanoTime() / 1e6
  private def nowMs: Double = epoch0 + System.nanoTime() / 1e6
  private def sinceJvmS: Double = (nowMs - jvmStartMs) / 1e3

  private var spark: SparkSession = _
  private var tracer: Option[Tracer] = None
  private var execId = 0
  private val watchdog = Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "perfbench-watchdog"); t.setDaemon(true); t
  }

  /** Session build and the load of every table, through the engine's own
    * `Engine.session` and `Engine.table` (whatever those do eagerly is
    * set-up cost; the scans themselves belong to the queries). */
  private def setUp(): Map[String, Any] = {
    val t0 = nowMs
    spark = Engine.session("perfbench", cores)
    spark.sparkContext.setInterruptOnCancel(true)
    val t1 = nowMs
    Main.Tables.foreach(t => Engine.table(spark, data, t))
    val t2 = nowMs
    Map("session_s" -> (t1 - t0) / 1e3, "table_s" -> (t2 - t1) / 1e3, "total_s" -> (t2 - t0) / 1e3)
  }

  private def stopSession(): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Runs one query: builder call, then the forced noop write with the output
    * digest observed. Never throws: a failure is returned, with its error. */
  private def execute(name: String, dir: String, expected: Option[Digest.Value],
      check: Boolean, attrs: Map[String, Any]): Map[String, Any] = {
    execId += 1
    val tag = s"perfbench-$execId"
    val sc = spark.sparkContext
    val pre = sc.getPersistentRDDs.keySet.toSet
    val sampler = tracer.map(t => new t.StorageSampler(pre))
    sampler.foreach(s => new Thread(s, "perfbench-storage").start())
    val (compiles0, compileNs0) = tracer.map(_.codegenCounters()).getOrElse((0L, 0L))
    @volatile var timedOut = false
    val alarm: ScheduledFuture[_] = watchdog.scheduleAtFixedRate(() => {
      timedOut = true
      sc.cancelJobsWithTag(tag)
    }, (queryTimeoutS * 1000).toLong, 500L, TimeUnit.MILLISECONDS)
    sc.addJobTag(tag)
    val start = nowMs
    var built = start
    val outcome: Map[String, Any] =
      try {
        val df = registry(name)(spark, dir)
        built = nowMs
        val obs = Observation(tag)
        Digest.observe(df, obs).write.format("noop").mode("overwrite").save()
        val got = Digest.read(obs)
        val error = expected match {
          case _ if !check => None
          case None => Some("no expected output recorded")
          case Some(e) => e.mismatch(got)
        }
        Map("ok" -> error.isEmpty, "error" -> error.orNull, "rows" -> got.rows,
          "digest" -> got.digest, "floats" -> got.floatsText)
      } catch {
        case e: Throwable =>
          val msg = if (timedOut) s"timeout after ${queryTimeoutS}s"
            else s"${e.getClass.getName}: ${String.valueOf(e.getMessage).linesIterator
              .nextOption().getOrElse("").take(300)}"
          Map("ok" -> false, "error" -> msg)
      } finally {
        alarm.cancel(false)
        sc.removeJobTag(tag)
      }
    val end = nowMs
    sampler.foreach(_.stop())
    val codegen = tracer.map(_.codegenCounters()).map { case (c, ns) =>
      Map("codegen_compiles" -> (c - compiles0), "codegen_s" -> (ns - compileNs0) / 1e9)
    }.getOrElse(Map.empty)
    val storage = sampler.map(s => Map("pinned_blocks" -> s.blocks,
      "pinned_mb" -> s.bytes / 1048576.0)).getOrElse(Map.empty)
    // live heap: what the query still holds once garbage is gone, taken
    // before the query's own cached blocks are dropped; the second GC runs
    // after Spark's cleaner has released what the first one made unreachable
    val heap = if (!check) Map.empty else {
      System.gc()
      Thread.sleep(200)
      System.gc()
      Map("heap_mb" -> ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0)
    }
    cleanUp(pre)
    System.err.println(f"[perfbench] ${attrs("phase")} $name ${(end - start) / 1e3}%.2fs " +
      (if (outcome("ok") == true) "ok" else s"FAILED ${outcome("error")}"))
    attrs ++ outcome ++ codegen ++ storage ++ Map("id" -> execId, "query" -> name,
      "tag" -> tag, "start_ms" -> start, "end_ms" -> end, "build_s" -> (built - start) / 1e3,
      "execute_s" -> (end - built) / 1e3, "wall_s" -> (end - start) / 1e3) ++ heap
  }

  /** Drops what the query left behind: cached tables, the RDDs it persisted
    * or checkpointed, and any stream still running. */
  private def cleanUp(pre: Set[Int]): Unit = {
    spark.streams.active.foreach(q => try q.stop() catch { case _: Exception => () })
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.iterator
      .collect { case (id, rdd) if !pre.contains(id) => rdd }
      .foreach(_.unpersist(blocking = false))
  }

  /** Runs the queries on the small tables, in order, until `budgetS` has
    * passed (at least one), so the timed passes find the JIT warm. */
  private def warm(queries: Seq[String], warmDir: String, budgetS: Double): Map[String, Any] = {
    val t0 = nowMs
    val done = mutable.ArrayBuffer[Map[String, Any]]()
    queries.iterator.takeWhile(_ => done.isEmpty || nowMs - t0 < budgetS * 1e3).foreach { q =>
      done += execute(q, warmDir, None, check = false, Map("phase" -> "warm"))
    }
    val failed = done.toSeq.filter(_("ok") == false).map(e => s"${e("query")}: ${e("error")}")
    Map("warm_s" -> (nowMs - t0) / 1e3, "warm_queries" -> done.size, "warm_failed" -> failed)
  }

  def bench(queries: Seq[String], warmDir: String, warmS: Double,
      expected: Map[String, Digest.Value], seed: Long, seconds: Double,
      trace: Boolean): Map[String, Any] = {
    var coldSetupS = 0.0
    val setups = (1 to Main.SetupReps).map { i =>
      if (i > 1) stopSession()
      val s = setUp()
      if (i == 1) coldSetupS = sinceJvmS
      s
    }
    val warmed = warm(queries, warmDir, warmS)
    val firstQueryS = sinceJvmS
    val execs = mutable.ArrayBuffer[Map[String, Any]]()
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    var passNo = 0
    def phase(label: String, budgetS: Double): Unit = {
      val t0 = nowMs
      var n = 0
      while ((n == 0 || nowMs - t0 < budgetS * 1e3) && sinceJvmS < deadlineS) {
        val order = new Random(seed * 1000003L + passNo).shuffle(queries)
        val p0 = nowMs
        val done = order.iterator.takeWhile(_ => sinceJvmS < deadlineS).map { q =>
          execute(q, data, expected.get(q), check = true,
            Map("phase" -> label, "pass" -> passNo))
        }.toVector
        execs ++= done
        passes += Map("phase" -> label, "pass" -> passNo, "complete" -> (done.size == order.size),
          "start_ms" -> p0, "end_ms" -> nowMs)
        passNo += 1
        n += 1
      }
    }
    if (trace) {
      // traced passes sit between two untraced ones, so the overhead
      // comparison is not skewed by the JIT still warming in the first
      phase("untraced", seconds / 2)
      val t = new Tracer(spark)
      t.start()
      tracer = Some(t)
      phase("traced", seconds / 2)
      tracer = None
      t.stop()
      phase("untraced", seconds / 2)
      tracer = Some(t)
    } else phase("untraced", seconds)
    stopSession()
    watchdog.shutdownNow()
    Map("cores" -> cores, "jvm_start_ms" -> jvmStartMs, "setups" -> setups,
      "cold_setup_s" -> coldSetupS, "first_query_s" -> firstQueryS, "execs" -> execs.toSeq, "passes" -> passes.toSeq,
      "spans" -> tracer.map(_.spans).getOrElse(Nil)) ++ warmed
  }

  /** One execution of each query, unchecked, for the expected-output file. */
  def record(queries: Seq[String], warmDir: String): Map[String, Any] = {
    setUp()
    val warmed = warm(queries, warmDir, Double.MaxValue)
    val execs = queries.map(q => execute(q, data, None, check = false, Map("phase" -> "record")))
    stopSession()
    watchdog.shutdownNow()
    Map("cores" -> cores, "execs" -> execs) ++ warmed
  }
}

/** Minimal JSON encoder for the result file (maps, sequences, scalars). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
