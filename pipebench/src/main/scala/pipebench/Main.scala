package pipebench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The pipeline benchmark's JVM side. One closed-loop client: set up
  * (session, inputs, [[Workload.warmOps]] warm-up ops), then run ops one at a time
  * for `--seconds`, check every op's output, and print one JSON result as
  * the last stdout line.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> [--spans <file>]
  *      [--warmup <ops>] [--rows-per-day <n>] [--docs <n>]
  * }}}
  *
  * The bracketed options override the warm-up op count and the input sizes,
  * for size and warm-up sweeps; the benchmark itself never passes them.
  *
  * `--trace 0` reports the end-to-end metrics; `--trace 1` alternates
  * untraced ops with traced ops, each traced op followed by its per-layer
  * decomposition, and reports the per-layer metrics. */
object Main {

  /** Untraced ops per untraced run. */
  val MinOps = 2
  /** Untraced and traced ops per traced run; each traced op also pays its
    * per-layer decomposition. A longer `--seconds` runs more of both. */
  val MinTraced = 1
  /** The share of a traced billing op's wall time its layers may leave
    * uncovered, either way, before the decomposition is suspect. */
  val UncoveredTolerance = 0.25
  /** Stop starting ops once the JVM has been up this long. */
  val GuardSeconds = 140.0

  final case class Options(workload: String, seed: Long, seconds: Double, trace: Boolean,
                           work: String, spans: Option[String], warmup: Option[Int],
                           rowsPerDay: Option[Int], docs: Option[Int])

  def parse(args: Array[String]): Options = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Options(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), m.get("spans"),
      m.get("warmup").map(_.toInt), m.get("rows-per-day").map(_.toInt),
      m.get("docs").map(_.toInt))
  }

  def main(args: Array[String]): Unit = {
    val code = try run(parse(args)) catch {
      case e: Throwable => e.printStackTrace(); 2
    }
    System.out.flush()
    sys.exit(code)
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("pipebench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // the status store keeps finished jobs and SQL executions for the UI;
      // bounding it keeps retained_heap_mb about the program's own objects
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  private def now: Double = System.nanoTime() / 1e9
  private def uptime: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
  private def cpuSeconds: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Heap in use after a full GC, a pause for Spark's ContextCleaner to
    * drop the broadcasts and shuffles that GC made unreachable, and a
    * second full GC. */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** One checked op. `heapBeforeMb` is the heap retained before it started:
    * what the previous op (or set-up) left behind; NaN for a warm-up op. */
  final case class Op(k: Int, wallS: Double, cpuS: Double, failure: Option[String],
                      span: Option[Span], heapBeforeMb: Double)

  /** Runs op `k`: clear cached frames (every op starts as a fresh scheduler
    * fire would), prepare, collect garbage unless it is a `warmUp` op (so
    * every measured op, traced or not, starts from the same settled heap),
    * time `run` (inside an "op" span when traced), then check. An exception
    * or a failed check fails the op. */
  def attempt(spark: SparkSession, w: Workload, k: Int, tracer: Option[Tracer],
              warmUp: Boolean = false): Op = {
    spark.catalog.clearCache()
    w.prepare(k)
    val heap = if (warmUp) Double.NaN else retainedHeapMb()
    val cpu0 = cpuSeconds
    val t0 = now
    var span: Option[Span] = None
    val err = try {
      tracer match {
        case Some(t) => span = Some(t.span("op")(w.run(spark, k))._2)
        case None => w.run(spark, k)
      }
      None
    } catch { case e: Throwable => Some(s"op raised $e") }
    val wall = now - t0
    val cpu = cpuSeconds - cpu0
    val failure = err.orElse(
      try w.check(spark, k) catch { case e: Throwable => Some(s"check raised $e") })
    failure.foreach(f => System.err.println(s"[pipebench] op $k FAILED: $f"))
    System.err.println(f"[pipebench] ${w.name} op $k wall=$wall%.3fs cpu=$cpu%.3fs")
    Op(k, wall, cpu, failure, span, heap)
  }

  val PerLayer: Seq[(String, String)] = Seq(
    "scan.s" -> "s", "scan.rows" -> "rows", "scan.bytes_read" -> "B", "scan.files_read" -> "count",
    "credits.s" -> "s",
    "rulematch.s" -> "s", "rulematch.jobs" -> "count", "rulematch.broadcast_builds" -> "count",
    "rulematch.hit_ratio" -> "1",
    "modes.s" -> "s", "conform.s" -> "s",
    "sink.s" -> "s", "sink.shuffle_bytes" -> "B", "sink.spill_bytes" -> "B", "sink.files" -> "count",
    "sink.files_per_partition" -> "count", "sink.bytes_written" -> "B",
    "sink.slowest_task_ratio" -> "1",
    "uncovered.s" -> "s",
    "launcher.days" -> "count", "launcher.s_per_day" -> "s", "launcher.failed_days" -> "count",
    "driver.idle_s" -> "s", "driver.plan_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_s" -> "s", "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s", "spark.core_util" -> "1",
    "spark.shuffle_write_bytes" -> "B", "spark.failed_tasks" -> "count",
    "dedup.s" -> "s", "quality.s" -> "s", "corpus.join_s" -> "s", "dedup.jobs" -> "count",
    "dedup.keeper_ratio" -> "1",
    "trace.overhead_ratio" -> "1", "trace.op_s" -> "s")

  def run(o: Options): Int = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
    val w = Workload(o.workload, o.seed, o.rowsPerDay, o.docs)
    val cores = Runtime.getRuntime.availableProcessors()
    val ops = mutable.ArrayBuffer[Op]()
    val warmup = o.warmup.getOrElse(w.warmOps)

    // set-up, from JVM start to the first timed op: session, inputs and the
    // warm-up ops (the first one cold)
    val spark = session(cores, s"${o.work}/spark")
    System.err.println(f"[pipebench] session ready at uptime $uptime%.3fs")
    val ts = now
    w.setup(spark, s"${o.work}/in")
    System.err.println(f"[pipebench] inputs ${now - ts}%.3fs")
    for (k <- 0 until warmup) ops += attempt(spark, w, k, None, warmUp = true)
    val setupS = System.currentTimeMillis() / 1e3 - jvmStart

    // ops until the time is up and at least MinOps untraced ops (MinTraced
    // of each kind when tracing) ran: untraced only, or alternating untraced
    // / traced when tracing, so both kinds see the same JIT warm-up and
    // trace.overhead_ratio compares like with like
    val timed = mutable.ArrayBuffer[Op]()
    val storedPerRow = mutable.ArrayBuffer[Double]()
    val traced = mutable.ArrayBuffer[(Op, Map[String, Double])]()
    lazy val tracer = new Tracer(spark)
    var rowsIn = 0L
    val deadline = now + o.seconds
    var k = warmup
    def short = if (o.trace) timed.length < MinTraced || traced.length < MinTraced
                else timed.length < MinOps
    while ((now < deadline || short) &&
        uptime < GuardSeconds) {
      if (o.trace && (k - warmup) % 2 == 1) {
        tracer.op = s"op-$k"
        val op = tracer.traced {
          val op = attempt(spark, w, k, Some(tracer))
          op -> w.layers(spark, k, tracer).toMap
        }
        traced += op
      } else {
        val op = attempt(spark, w, k, None)
        timed += op
        rowsIn += w.rowsIn(k)
        val (bytes, rows) = w.stored(k)
        storedPerRow += bytes.toDouble / math.max(1L, rows)
      }
      k += 1
    }
    ops ++= timed
    ops ++= traced.map(_._1)

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Seq(
        ("setup_s", setupS, "s"),
        ("op_s.p50", median(timed.map(_.wallS).toSeq), "s"),
        ("rows_per_s", rowsIn / timed.map(_.wallS).sum, "rows/s"),
        ("cpu_s_per_op", median(timed.map(_.cpuS).toSeq), "s"),
        ("retained_heap_mb", median(timed.map(_.heapBeforeMb).toSeq), "MiB"),
        ("stored_bytes_per_row", median(storedPerRow.toSeq), "B/row"),
        ("ok_ratio", 1.0 - ops.count(_.failure.isDefined).toDouble / ops.length, "1"))
      else {
        o.spans.foreach(f => Files.write(Paths.get(f),
          tracer.spans.map(_.toJson).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)))
        layerMetrics(w, cores, timed.toSeq, traced.toSeq)
      }

    val failed = ops.count(_.failure.isDefined)
    val result = Json.obj(Seq(
      "correct" -> (failed == 0),
      "attempted" -> ops.length,
      "failed" -> failed,
      "metrics" -> Json.Raw(Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u))) })),
      "info" -> Json.Raw(Json.obj(Seq(
        "workload" -> w.name, "seed" -> o.seed, "trace" -> o.trace, "cores" -> cores,
        "master" -> spark.sparkContext.master,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "spark_version" -> spark.version,
        "sizes" -> Json.Raw(Json.obj(w.sizes)),
        "ops_timed" -> timed.length,
        "warmup_ops" -> warmup,
        "op_wall_s" -> ops.map(_.wallS).toSeq,
        "failures" -> ops.flatMap(o => o.failure.map(f => s"op ${o.k}: $f")).toSeq)))))
    spark.stop()
    System.err.println(f"[pipebench] stopped at uptime $uptime%.3fs")
    println(result)
    0
  }

  /** Per-layer metrics: medians over the traced ops. A billing op's wall
    * time is its layers' marginal times plus `uncovered.s`. */
  def layerMetrics(w: Workload, cores: Int, untraced: Seq[Op],
                   traced: Seq[(Op, Map[String, Double])]): Seq[(String, Double, String)] = {
    val spans = traced.flatMap(_._1.span)
    def med(f: Span => Double): Double = median(spans.map(f))
    val layer = PerLayer.map(_._1).map(n => n -> median(traced.flatMap(_._2.get(n)))).toMap
    val opS = median(traced.map(_._1.wallS))
    val billing = w.isInstanceOf[Billing]
    val daily = w.name == "daily_tick"
    val covered = Seq("scan.s", "credits.s", "rulematch.s", "modes.s", "conform.s", "sink.s")
      .map(layer).sum
    if (billing && math.abs(opS - covered) > UncoveredTolerance * opS)
      System.err.println(f"[pipebench] layers cover ${covered}%.3fs of a ${opS}%.3fs op")
    val computed = Map(
      "uncovered.s" -> (if (billing) opS - covered else 0.0),
      "launcher.days" -> (if (daily) med(_.writes.length.toDouble) else 0.0),
      "launcher.s_per_day" -> (if (daily) med(s =>
        s.writes.map { case (a, b) => (b - a) / 1e3 }.sum / math.max(1, s.writes.length)) else 0.0),
      "driver.idle_s" -> med(_.idleS),
      "driver.plan_s" -> med(s => s.firstJobStartMs.map(t => (t - s.beginMs) / 1e3).getOrElse(s.wallS)),
      "spark.jobs" -> med(_.jobs.toDouble),
      "spark.stages" -> med(_.stages.toDouble),
      "spark.tasks" -> med(_.tasks.toDouble),
      "spark.task_s" -> med(_.taskS),
      "spark.task_cpu_s" -> med(_.taskCpuS),
      "spark.gc_s" -> med(_.gcS),
      "spark.core_util" -> med(s => s.taskS / (s.wallS * cores)),
      "spark.shuffle_write_bytes" -> med(_.shuffleWriteBytes.toDouble),
      "spark.failed_tasks" -> spans.map(_.failedTasks.toDouble).sum,
      "trace.overhead_ratio" -> opS / median(untraced.map(_.wallS)),
      "trace.op_s" -> opS)
    PerLayer.map { case (n, u) => (n, computed.getOrElse(n, layer(n)), u) }
  }
}
