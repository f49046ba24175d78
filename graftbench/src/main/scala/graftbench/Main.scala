package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One unit of closed-loop work. `run` is timed and returns the op's
  * counters; `pre` and `post` run outside the op's wall time and get
  * whether the op is traced. A traced run traces every other op of each
  * `group`, so traced and untraced ops of a group can be compared.
  */
final case class Op(
    kind: String, name: String, group: String,
    run: () => Map[String, Double],
    pre: Boolean => Unit = _ => (),
    post: Boolean => Map[String, Double] = _ => Map.empty)

trait Workload {
  /** Build the starting state the ops work on. */
  def setup(): Unit
  /** Ops run untimed before the window (JIT, codegen, file caches). */
  def warmupOps: Int
  /** Ops per cycle of the workload's op mix. */
  def cycle: Int
  /** Seconds one cycle takes on a 4-core host; a run measures
    * round(--seconds / cycleSeconds) whole cycles.
    */
  def cycleSeconds: Double
  /** The next op, or None when the generated inputs are used up. */
  def next(): Option[Op]
  /** After the window: write what the output checks read into `out`,
    * return end-of-run figures.
    */
  def finish(out: String, traced: Boolean): Map[String, Double]
}

/** The benchmark's JVM side: builds the session the way `graft.Bench`
  * does, runs one workload in a closed loop with one client thread for
  * a fixed number of whole op cycles (about the requested seconds on a
  * 4-core host), and writes every measurement to
  * `<out>/result.json`. `run.py` drives it and turns the file into the
  * printed metrics.
  *
  * Args: workload seed seconds trace(0|1) inputDir workDir outDir cpus
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, in, work, out, cpus) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      // the spark.sql.* settings graft.Bench times the catalog with
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.ui.enabled", "false")
      // keep every file the run writes inside the work dir
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyMs = System.currentTimeMillis()

    val tracer = new Tracer
    val listener = new OpListener(tracer)
    val calibStart = Calib.run(spark)

    val wl: Workload = workload match {
      case "mart_read" => new MartRead(spark, in, seed, tracer, out)
      case "cdc_load" => new CdcLoad(spark, in, work, tracer)
      case "corpus_dedup" => new CorpusDedup(spark, in, work, tracer)
      case other => sys.error(s"unknown workload: $other")
    }
    val tSetup = System.nanoTime()
    wl.setup()
    val setupStateS = (System.nanoTime() - tSetup) / 1e9

    val sc = spark.sparkContext
    val recs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
    var opIdx = 0

    /** Run one op; returns its record. */
    def runOne(op: Op, timed: Boolean, traced: Boolean): Map[String, Any] = {
      op.pre(traced)
      if (traced) {
        org.apache.spark.GraftSparkBridge.flushListenerBus(sc)
        listener.take()
        sc.addSparkListener(listener)
      }
      tracer.beginOp(opIdx, traced)
      val t0 = System.nanoTime()
      val res: Either[Throwable, Map[String, Double]] =
        try Right(tracer.span("op")(op.run()))
        catch { case e: Throwable => Left(e) }
      val t1 = System.nanoTime()
      tracer.endOp()
      val counts = if (traced) {
        org.apache.spark.GraftSparkBridge.flushListenerBus(sc)
        sc.removeSparkListener(listener)
        Some(listener.take())
      } else None
      // resource-release probe: the library contract after an op, then
      // what is still held, read before any GC can clear weak entries
      graft.CacheScope.release()
      spark.catalog.clearCache()
      val persisted = sc.getPersistentRDDs.size
      val tracked = graft.CacheScope.trackedCount
      val post = res.toOption.map(_ => op.post(traced)).getOrElse(Map.empty)
      res.left.foreach { e =>
        val msg = Option(e.getMessage).getOrElse("").linesIterator
          .find(_.trim.nonEmpty).getOrElse("").take(300)
        failures += Map("op" -> op.kind, "name" -> op.name,
          "class" -> e.getClass.getName, "message" -> msg)
        System.err.println(
          s"[graftbench] op ${op.kind} ${op.name} failed: ${e.getClass.getName}: $msg")
      }
      val rec = Map[String, Any](
        "i" -> opIdx, "kind" -> op.kind, "name" -> op.name, "group" -> op.group,
        "timed" -> timed, "traced" -> traced, "ok" -> res.isRight,
        "start_ns" -> t0, "end_ns" -> t1, "wall_s" -> (t1 - t0) / 1e9,
        "persisted_rdds" -> persisted,
        "tracked" -> tracked,
        "counters" -> (res.getOrElse(Map.empty) ++ post),
        "spark" -> counts.map(c => Map[String, Any](
          "jobs" -> c.jobs, "tasks" -> c.tasks, "task_run_s" -> c.taskRunS,
          "task_cpu_s" -> c.taskCpuS, "gc_s" -> c.gcS,
          "shuffle_write_bytes" -> c.shuffleWriteBytes,
          "spill_bytes" -> c.spillBytes, "task_skew" -> c.taskSkew,
          "job_intervals" -> c.jobIntervals.map { case (a, b) => Seq(a, b) }))
          .orNull)
      opIdx += 1
      rec
    }

    var warm = 0
    var more = true
    while (more && warm < wl.warmupOps) {
      wl.next() match {
        case Some(op) => runOne(op, timed = false, traced = false); warm += 1
        case None => more = false
      }
    }
    // traced runs trace every other op of each group and leave the
    // rest untraced, so trace.overhead compares like ops of one window
    val seen = mutable.Map.empty[String, Int].withDefaultValue(0)
    // fixed work, not a deadline: a faster or slower host then measures
    // the same ops, and every run the same mix of whole cycles
    val ops = wl.cycle * math.max(1L, math.round(seconds / wl.cycleSeconds))
    val windowStartMs = System.currentTimeMillis()
    val w0 = System.nanoTime()
    var n = 0
    while (more && n < ops) {
      wl.next() match {
        case Some(op) =>
          recs += runOne(op, timed = true, traced = trace && seen(op.group) % 2 == 0)
          seen(op.group) += 1
          n += 1
        case None => more = false
      }
    }
    val windowS = (System.nanoTime() - w0) / 1e9
    val inputsExhausted = !more

    // live heap: full GCs first, so only reachable objects count; the
    // pauses let Spark's ContextCleaner drop what the first GC released
    val heapMb = (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(150)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
    val calibEnd = Calib.run(spark)
    val finish = wl.finish(out, trace)

    val result = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "cpus" -> cpus.toInt,
      "jvm_start_ms" -> jvmStartMs, "session_ready_ms" -> sessionReadyMs,
      "window_start_ms" -> windowStartMs, "window_s" -> windowS,
      "setup_state_s" -> setupStateS, "warmup_ops" -> warm,
      "inputs_exhausted" -> inputsExhausted,
      "live_heap_mb" -> heapMb,
      "calib" -> Map("start" -> calibStart, "end" -> calibEnd),
      "ops" -> recs.toSeq, "failures" -> failures.toSeq,
      "finish" -> finish,
      "spans" -> tracer.all.map(s => Map[String, Any](
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ns" -> s.start, "end_ns" -> s.end)))
    Files.createDirectories(Paths.get(out))
    Files.writeString(Paths.get(out, "result.json"), Json(result))
    spark.stop()
  }
}

/** Host calibration: a fixed CPU microloop and a fixed tiny Spark
  * query, each run three times at the start and at the end; later runs on other hosts can be
  * normalized by these instead of compared raw.
  */
object Calib {
  @volatile private var sink = 0L

  def cpu(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 50000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
    }
    sink = x
    (System.nanoTime() - t0) / 1e9
  }

  def sparkQuery(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 2000000L, 1L, 4).selectExpr("sum(id % 7) AS s").collect()
    (System.nanoTime() - t0) / 1e9
  }

  def run(spark: SparkSession): Map[String, Seq[Double]] =
    Map("cpu_s" -> Seq.fill(3)(cpu()),
      "spark_s" -> Seq.fill(3)(sparkQuery(spark)))
}

/** JSON for the result file. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}
