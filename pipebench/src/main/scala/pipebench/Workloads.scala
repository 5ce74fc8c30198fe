package pipebench

import java.io.File
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.kernel.{Calculate, Conform, Credits, Modes, RuleMatch}
import graft.operators.{CorpusPipeline, Dedup, TextAnalysis}
import graft.pipeline.{Jobs, Launcher, Sink}

/** One workload: inputs made in [[setup]], then ops run one at a time. Each
  * op is [[prepare]]d (untimed), [[run]] (timed) and [[check]]ed (untimed). */
trait Workload {
  def name: String
  /** Input sizes, stated in every result. */
  def sizes: Seq[(String, Any)]
  def setup(spark: SparkSession, dir: String): Unit
  /** Warm-up ops in set-up, the first of them cold: enough that the timed
    * ops are past the JIT warm-up (measured per workload; see the README). */
  def warmOps: Int = 2
  def prepare(k: Int): Unit = ()
  def run(spark: SparkSession, k: Int): Unit
  def check(spark: SparkSession, k: Int): Option[String]
  /** Input rows (documents) op `k` processes. */
  def rowsIn(k: Int): Long
  /** Parquet bytes and rows op `k` wrote. */
  def stored(k: Int): (Long, Long)
  /** Per-layer times and counts of op `k`, taken with the tracer. */
  def layers(spark: SparkSession, k: Int, tracer: Tracer): Seq[(String, Double)]

  protected def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Parquet data bytes under a directory tree. */
  protected def parquetBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(parquetBytes).sum
    else if (f.getName.endsWith(".parquet")) f.length() else 0L
}

object Workload {
  val Names: Seq[String] = Seq("daily_tick", "month_backfill", "raw_backfill", "corpus_clean")

  /** The workload `name` on inputs made from `seed`, at the benchmark's
    * sizes unless `rowsPerDay` or `docs` overrides them. */
  def apply(name: String, seed: Long, rowsPerDay: Option[Int] = None,
            docs: Option[Int] = None): Workload = name match {
    case "daily_tick" =>
      new Billing(name, Gen.BillingSpec(seed, rowsPerDay.getOrElse(1000), accounts = 300,
        denseRules = false))
    case "month_backfill" | "raw_backfill" =>
      new Billing(name, Gen.BillingSpec(seed, rowsPerDay.getOrElse(4000), accounts = 300,
        denseRules = true))
    case "corpus_clean" =>
      new Corpus(Gen.CorpusSpec(seed, docs.getOrElse(2000), nearDupFraction = 0.2))
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${Names.mkString(", ")})")
  }
}

/** The billing pipeline: `daily_tick` (E1 `Launcher.runDaily`),
  * `month_backfill` (E2 `Jobs.runMonth`) and `raw_backfill` (the raw fact
  * through `Calculate.calculate`, `Conform` and `Sink`). */
final class Billing(val name: String, spec: Gen.BillingSpec) extends Workload {
  require(spec.rowsPerDay % 2 == 0, "duplicate-grain pairs must not straddle two days")
  private val raw = name == "raw_backfill"
  private val daily = name == "daily_tick"
  private var dir, fact, dim, target, probe = ""
  private var expected = Vector.empty[RefEval.DayAgg]
  var hitRatio = 0.0
  private var before = Map.empty[String, Set[(String, Long)]]
  private var rewritten = Set.empty[String]
  private var failedDays = Seq.empty[LocalDate]

  def sizes: Seq[(String, Any)] = Seq(
    "fact_rows_per_month" -> spec.rows, "rows_per_day" -> spec.rowsPerDay,
    "days" -> spec.days, "accounts" -> spec.accounts, "hot_accounts" -> Gen.HotAccounts,
    "rules" -> Gen.rules(spec).length, "fact_files" -> spec.files,
    "fact" -> (if (raw) "raw (credit arrays)" else "pre-aggregated (credit columns)"))

  def setup(spark: SparkSession, d: String): Unit = {
    dir = d; fact = s"$d/fact"; dim = s"$d/dim"; target = s"$d/target"; probe = s"$d/sink_probe"
    Gen.writeFact(spark, spec, fact, raw)
    Gen.writeDim(spark, spec, dim)
    val (days, hit) = RefEval.perDay(spec)
    expected = days
    hitRatio = hit
  }

  /** `daily_tick` op 0 (the cold warm-up op of set-up) is the month's first
    * tick, whose lookback clamps to that one day. Op k > 0 fires on day
    * 5 + k of the month (wrapping), so its 5-day lookback shares 4 days with
    * the previous tick. */
  private def today(k: Int): LocalDate =
    if (k == 0) spec.day(0) else spec.day(4 + k % (spec.days - 4))

  def daysOf(k: Int): Seq[LocalDate] =
    if (!daily) (0 until spec.days).map(spec.day)
    else {
      val (s, e) = Jobs.lookbackWindow(today(k))
      Iterator.iterate(s)(_.plusDays(1)).takeWhile(_.isBefore(e)).toSeq
    }

  def rowsIn(k: Int): Long = daysOf(k).length.toLong * spec.rowsPerDay

  override def prepare(k: Int): Unit = before = Check.partitionFiles(target)

  def run(spark: SparkSession, k: Int): Unit = {
    failedDays = Nil
    if (daily)
      failedDays = Launcher.runDaily(spark,
        Launcher.Config(fact, dim, target, failureCsv = s"$dir/failures.csv"), today(k))
    else if (!raw) Jobs.runMonth(spark, fact, dim, target, spec.month)
    else Sink.writePartitioned(
      Conform.conformToTarget(Calculate.calculate(slice(spark, None), spark.read.parquet(dim))),
      target, sortCols = Seq("billing_account_id"))
  }

  def check(spark: SparkSession, k: Int): Option[String] = {
    val after = Check.partitionFiles(target)
    rewritten = Check.changed(before, after)
    if (failedDays.nonEmpty) Some(s"runDaily failed days ${failedDays.mkString(",")}")
    else Check.billing(spark, target, spec.month, daysOf(k), rewritten,
      d => expected(d.getDayOfMonth - 1))
  }

  def stored(k: Int): (Long, Long) = (
    rewritten.toSeq.map(p => parquetBytes(new File(s"$target/$p"))).sum,
    daysOf(k).map(d => expected(d.getDayOfMonth - 1).rows).sum)

  /** The fact slice the pipeline reads: the invoice month, and one day
    * when `day` is set (as `Jobs.computeMonth` slices it). */
  private def slice(spark: SparkSession, day: Option[LocalDate]): DataFrame = {
    val f = spark.read.parquet(fact).filter(col("invoice_month") === spec.month)
    day.fold(f)(d => f.filter(col("usage_day") >= lit(java.sql.Date.valueOf(d)) &&
      col("usage_day") < lit(java.sql.Date.valueOf(d.plusDays(1)))))
  }

  /** "number of files read" summed over the parquet scans of the given SQL
    * executions, from Spark's SQL status store. */
  private def filesRead(spark: SparkSession, executions: Seq[Long]): Double = {
    val store = spark.sharedState.statusStore
    executions.map { id =>
      val values = store.executionMetrics(id)
      store.planGraph(id).allNodes.filter(_.name.startsWith("Scan parquet"))
        .flatMap(_.metrics.filter(_.name == "number of files read"))
        .flatMap(m => values.get(m.accumulatorId))
        .map(_.replace(",", "").trim.toDouble).sum
    }.sum
  }

  /** Marginal layer times: each prefix of the pipeline (scan, credits,
    * rule match, modes, conform) runs into the noop sink, once per day for
    * `daily_tick` as the launcher runs it, and a layer's time is its prefix
    * time minus the previous prefix's. The sink is timed alone on the
    * cached conformed frames. */
  def layers(spark: SparkSession, k: Int, tracer: Tracer): Seq[(String, Double)] = {
    val parts: Seq[Option[LocalDate]] = if (daily) daysOf(k).map(Some(_)) else Seq(None)
    val dimDf = () => spark.read.parquet(dim)
    val stages: Seq[(String, DataFrame => DataFrame)] =
      Seq[(String, DataFrame => DataFrame)]("scan" -> identity) ++
        (if (raw) Seq[(String, DataFrame => DataFrame)]("credits" -> Credits.deriveCredits) else Nil) ++
        Seq[(String, DataFrame => DataFrame)](
          "rulematch" -> (df => RuleMatch.addRuleTag(df, dimDf())),
          "modes" -> (df => Modes(df)),
          "conform" -> (df => Conform.conformToTarget(df)))
    def prefix(n: Int, day: Option[LocalDate]): DataFrame =
      stages.take(n).foldLeft(slice(spark, day))((df, st) => st._2(df))

    var hits, rows = 0L
    val prefixSpans = stages.indices.map { i =>
      spark.catalog.clearCache()
      tracer.span(s"prefix.${stages(i)._1}") {
        parts.foreach { day =>
          if (stages(i)._1 == "rulematch") {
            val obs = Observation(s"rulematch-$k-${day.getOrElse("month")}")
            noop(prefix(i + 1, day).observe(obs,
              count(lit(1)).as("rows"), count(col("contract_id")).as("hits")))
            val m = obs.get
            rows += m("rows").asInstanceOf[Long]
            hits += m("hits").asInstanceOf[Long]
          } else noop(prefix(i + 1, day))
        }
      }._2
    }
    spark.catalog.clearCache()
    val conformed = parts.map { day =>
      val df = prefix(stages.length, day).cache()
      df.count()
      df
    }
    val beforeProbe = Check.partitionFiles(probe)
    val sink = tracer.span("sink") {
      conformed.foreach(Sink.writePartitioned(_, probe, sortCols = Seq("billing_account_id")))
    }._2
    val probeParts = Check.changed(beforeProbe, Check.partitionFiles(probe))
    val probeFiles = probeParts.toSeq.map { p =>
      Option(new File(s"$probe/$p").listFiles()).toSeq.flatten
        .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    }.sum
    conformed.foreach(_.unpersist())

    def marginal(name: String): Double = {
      val i = stages.indexWhere(_._1 == name)
      if (i < 0) 0.0 else prefixSpans(i).wallS - (if (i == 0) 0.0 else prefixSpans(i - 1).wallS)
    }
    def marginalCount(name: String, f: Span => Long): Double = {
      val i = stages.indexWhere(_._1 == name)
      (f(prefixSpans(i)) - (if (i == 0) 0L else f(prefixSpans(i - 1)))).toDouble
    }
    val scan = prefixSpans.head
    Seq(
      "scan.s" -> marginal("scan"),
      "scan.rows" -> scan.recordsRead.toDouble,
      "scan.bytes_read" -> scan.bytesRead.toDouble,
      "scan.files_read" -> filesRead(spark, scan.executions.toSeq),
      "credits.s" -> marginal("credits"),
      "rulematch.s" -> marginal("rulematch"),
      "rulematch.jobs" -> marginalCount("rulematch", _.jobs),
      "rulematch.broadcast_builds" -> marginalCount("rulematch", _.broadcastJobs),
      "rulematch.hit_ratio" -> (if (rows == 0) 0.0 else hits.toDouble / rows),
      "modes.s" -> marginal("modes"),
      "conform.s" -> marginal("conform"),
      "sink.s" -> sink.wallS,
      "sink.shuffle_bytes" -> sink.shuffleWriteBytes.toDouble,
      "sink.spill_bytes" -> sink.spillBytes.toDouble,
      "sink.files" -> probeFiles.toDouble,
      "sink.files_per_partition" -> probeFiles.toDouble / math.max(1, probeParts.size),
      "sink.bytes_written" -> sink.bytesWritten.toDouble,
      "sink.slowest_task_ratio" -> sink.slowestTaskRatio,
      "launcher.failed_days" -> failedDays.length.toDouble)
  }
}

/** `corpus_clean`: CorpusPipeline c01 (d07 near-dup keepers ∩ t02 quality)
  * over a seeded corpus, its result written as parquet. */
final class Corpus(spec: Gen.CorpusSpec) extends Workload {
  val name = "corpus_clean"
  private var dir, out = ""
  def outputPath: String = out
  private var firstHash: Option[Long] = None
  private var keepers = 0L

  def sizes: Seq[(String, Any)] = Seq(
    "docs" -> spec.docs, "near_dup_fraction" -> spec.nearDupFraction)

  /** The operators' code keeps getting faster over the first four ops. */
  override def warmOps: Int = 3

  def setup(spark: SparkSession, d: String): Unit = {
    dir = s"$d/corpus"; out = s"$d/clean"
    Gen.writeCorpus(spark, spec, dir)
  }

  def rowsIn(k: Int): Long = spec.docs

  /** The result is written uncompressed. It is some 1,300 (doc id, score)
    * rows, and snappy's skip-ahead over incompressible input sizes its score
    * dictionary by luck: up to 10% apart between seeds, with no change in
    * what the operators return. */
  def run(spark: SparkSession, k: Int): Unit =
    CorpusPipeline.c01CorpusClean.fn(spark, dir).write.mode("overwrite")
      .option("compression", "none").parquet(out)

  def check(spark: SparkSession, k: Int): Option[String] = {
    val rows = spark.read.parquet(out).collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))
    keepers = rows.length
    val (failure, hash) = Check.corpus(rows, id => Gen.docText(spec, id.toInt), firstHash)
    if (failure.isEmpty && firstHash.isEmpty) firstHash = Some(hash)
    failure
  }

  def stored(k: Int): (Long, Long) = (parquetBytes(new File(out)), keepers)

  /** d07 alone, t02 alone, and c01 into the noop sink; the join's share is
    * c01 minus both. */
  def layers(spark: SparkSession, k: Int, tracer: Tracer): Seq[(String, Double)] = {
    def cold[T](name: String)(body: => T): (T, Span) = {
      spark.catalog.clearCache()
      tracer.span(name)(body)
    }
    val obs = Observation(s"d07-$k")
    val (_, dedup) = cold("dedup") {
      noop(Dedup.d07DedupKeeper.fn(spark, dir).observe(obs,
        count(lit(1)).as("docs"), sum(col("is_keeper")).as("keepers")))
    }
    val m = obs.get
    val (_, quality) = cold("quality")(noop(TextAnalysis.t02Quality.fn(spark, dir)))
    val (_, c01) = cold("c01")(noop(CorpusPipeline.c01CorpusClean.fn(spark, dir)))
    Seq(
      "dedup.s" -> dedup.wallS,
      "quality.s" -> quality.wallS,
      "corpus.join_s" -> (c01.wallS - dedup.wallS - quality.wallS),
      "dedup.jobs" -> dedup.jobs.toDouble,
      "dedup.keeper_ratio" ->
        m("keepers").asInstanceOf[Long].toDouble / m("docs").asInstanceOf[Long])
  }
}
