package pipebench

import java.time.LocalDate
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every row is a pure function of (seed, index),
  * so the same seed always yields the same tables, Spark writes them in
  * parallel, and the reference evaluation ([[RefEval]]) can regenerate any
  * row on the driver without reading the parquet back. */
object Gen {

  // ---------------------------------------------------------------- billing

  /** Sizes of one billing input: one invoice month of `days` days with
    * `rowsPerDay` fact rows each, `accounts` Zipf-skewed billing accounts,
    * and a rule dim whose density grows with `denseRules`. */
  final case class BillingSpec(
      seed: Long,
      rowsPerDay: Int,
      accounts: Int,
      denseRules: Boolean,
      month: String = "202601",
      files: Int = 8) {
    val firstDay: LocalDate = LocalDate.of(month.take(4).toInt, month.drop(4).toInt, 1)
    val days: Int = firstDay.lengthOfMonth()
    val rows: Long = rowsPerDay.toLong * days
    def day(i: Int): LocalDate = firstDay.plusDays(i.toLong)
    def dimMonth: String = s"${month.take(4)}-${month.drop(4)}"
  }

  /** Credit enum names of the reference plus two it does not know: unknown
    * types may only move the credit totals. */
  val KnownCredits: Seq[String] = Seq(
    "COMMITTED_USAGE_DISCOUNT", "COMMITTED_USAGE_DISCOUNT_DOLLAR_BASE", "DISCOUNT",
    "FREE_TIER", "PROMOTION", "RESELLER_MARGIN", "SUBSCRIPTION_BENEFIT",
    "SUSTAINED_USAGE_DISCOUNT")
  val CreditCols: Seq[String] = Seq(
    "c_cud", "c_cud_db", "c_discount", "c_free_tier", "c_promotion", "c_rm",
    "c_sub_benefit", "c_sud")
  private val UnknownCredits = Seq("MARKETPLACE_FEE_CREDIT", "LEGACY_GOODWILL")

  val Services = 12
  val SkusPerService = 6
  val HotAccounts = 14

  /** One fact row, before it is shaped into the pre-aggregated or the raw
    * table. `creditTypes`/`creditAmounts` are null, empty or parallel. */
  final case class Fact(
      day: Int,
      account: Int,
      project: Int,
      service: Int,
      sku: Int,
      costType: String,
      currency: String,
      rate: Double,
      usage: Double,
      cost: Double,
      costAtList: Double,
      creditTypes: Array[String],
      creditAmounts: Array[Double]) {

    def accountId(seed: Long): String = Gen.accountId(seed, account)
    def projectId(seed: Long): String = Gen.projectId(seed, account, project)
    def serviceId: String = f"SVC-$service%03d"
    def serviceDescription: String = s"Service $service"
    def skuId: String = f"SKU-$service%03d-$sku%02d"

    /** The per-type credit sums and their total, summed in array order
      * (as the credits pivot does). */
    def credits: (Array[Double], Double) = {
      val c = new Array[Double](8)
      var total = 0.0
      if (creditTypes != null) {
        var i = 0
        while (i < creditTypes.length) {
          val k = KnownCredits.indexOf(creditTypes(i))
          if (k >= 0) c(k) += creditAmounts(i)
          total += creditAmounts(i)
          i += 1
        }
      }
      (c, total)
    }
  }

  private def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed) ^ (stream * 0x9E3779B97F4A7C15L) ^ i))

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def accountId(seed: Long, a: Int): String = {
    val h = mix(seed * 31 + a)
    f"01${(h >>> 48) & 0xFFFF}%04X-${(h >>> 24) & 0xFFFFFF}%06X-${h & 0xFFFFFF}%06X"
  }

  /** Projects per account (1–4); project 0 of every fifth account is the
    * empty project id the reference allows. */
  def projectsOf(seed: Long, a: Int): Int = 1 + rng(seed, 7, a).nextInt(4)
  def projectId(seed: Long, a: Int, p: Int): String =
    if (p == 0 && a % 5 == 0) "" else s"proj-$a-$p"

  /** Cumulative Zipf(1.1) weights over the accounts: account 0 is hottest,
    * and the first [[HotAccounts]] carry most of the usage. */
  private def zipfCdf(n: Int): Array[Double] = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, 1.1))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  private val cdfCache =
    new java.util.concurrent.ConcurrentHashMap[Integer, Array[Double]]()

  private def pickAccount(r: SplittableRandom, n: Int): Int = {
    val cdf = cdfCache.computeIfAbsent(n, _ => zipfCdf(n))
    val u = r.nextDouble()
    val k = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (k >= 0) k else -k - 1)
  }

  /** Grain of base row `i`: account, project, service, sku, cost type. */
  private def grainOf(spec: BillingSpec, i: Long): (Int, Int, Int, Int, String) = {
    val r = rng(spec.seed, 1, i)
    val a = pickAccount(r, spec.accounts)
    val p = r.nextInt(projectsOf(spec.seed, a))
    // services skewed towards the low ids so service/sku rules get hits
    val s = math.min(r.nextInt(Services), r.nextInt(Services))
    val k = r.nextInt(SkusPerService)
    val u = r.nextDouble()
    val ct = if (u < 0.85) "regular" else if (u < 0.95) "tax" else "adjustment"
    (a, p, s, k, ct)
  }

  /** Fact row `i`. Rows are laid out day by day; about 3% of the row pairs
    * (2j, 2j+1) share one grain key, so the slice holds duplicate grains. */
  def fact(spec: BillingSpec, i: Long): Fact = {
    val day = (i / spec.rowsPerDay).toInt
    val pairDup = (i % 2 == 1) && rng(spec.seed, 2, i / 2).nextInt(100) < 3
    val (a, p, s, k, ct) = grainOf(spec, if (pairDup) i - 1 else i)
    val r = rng(spec.seed, 3, i)
    val (cur, rate) = if (r.nextInt(10) < 8) ("USD", 1.0) else ("EUR", 0.92)
    val usage = math.floor(r.nextDouble() * 1e6) / 1e4
    val unit = 0.01 + (s + 1) * 0.013 + k * 0.002
    val cost = math.floor(usage * unit * 1e6) / 1e6
    val costAtList = math.floor(cost * (1.0 + r.nextDouble() * 0.3) * 1e6) / 1e6
    val shape = r.nextInt(100)
    val (types, amounts) =
      if (shape < 6) (null, null)
      else if (shape < 12) (Array.empty[String], Array.empty[Double])
      else {
        val n = 1 + r.nextInt(3)
        val ts = Array.fill(n)(
          if (r.nextInt(10) == 0) UnknownCredits(r.nextInt(UnknownCredits.length))
          else KnownCredits(r.nextInt(KnownCredits.length)))
        val as = Array.fill(n)(-math.floor(cost * r.nextDouble() * 0.2 * 1e6) / 1e6)
        (ts, as)
      }
    Fact(day, a, p, s, k, ct, cur, rate, usage, cost, costAtList, types, amounts)
  }

  private val grainFields = Seq(
    StructField("invoice_month", StringType, nullable = false),
    StructField("billing_account_id", StringType, nullable = false),
    StructField("usage_day", DateType, nullable = false),
    StructField("project_id", StringType, nullable = false),
    StructField("project_name", StringType, nullable = false),
    StructField("service_id", StringType, nullable = false),
    StructField("service_description", StringType, nullable = false),
    StructField("sku_id", StringType, nullable = false),
    StructField("sku_description", StringType, nullable = false),
    StructField("usage_pricing_unit", StringType, nullable = false),
    StructField("currency", StringType, nullable = false),
    StructField("currency_conversion_rate", DoubleType, nullable = false),
    StructField("cost_type", StringType, nullable = false),
    StructField("usage_amount_in_pricing_units", DoubleType, nullable = false),
    StructField("cost", DoubleType, nullable = false),
    StructField("cost_at_list", DoubleType, nullable = false))

  /** The pre-aggregated fact of the live path: credit columns, no arrays. */
  val factSchema: StructType = StructType(grainFields ++
    (CreditCols ++ Seq("internal_credits_cost", "internal_credits_consumption"))
      .map(StructField(_, DoubleType, nullable = false)))

  /** The raw fact: the credit arrays instead of the credit columns. */
  val rawSchema: StructType = StructType(grainFields ++ Seq(
    StructField("credits_type", ArrayType(StringType), nullable = true),
    StructField("credits_amount", ArrayType(DoubleType), nullable = true)))

  private def grainValues(spec: BillingSpec, f: Fact): Seq[Any] = Seq(
    spec.month, f.accountId(spec.seed), java.sql.Date.valueOf(spec.day(f.day)),
    f.projectId(spec.seed), s"Project ${f.project}", f.serviceId, f.serviceDescription,
    f.skuId, s"Sku ${f.sku} of service ${f.service}",
    if (f.service % 3 == 0) "gibibyte hour" else "hour",
    f.currency, f.rate, f.costType, f.usage, f.cost, f.costAtList)

  def factRow(spec: BillingSpec, i: Long): Row = {
    val f = fact(spec, i)
    val (c, total) = f.credits
    Row.fromSeq(grainValues(spec, f) ++ c.toSeq ++ Seq(total, total - c(5)))
  }

  def rawRow(spec: BillingSpec, i: Long): Row = {
    val f = fact(spec, i)
    Row.fromSeq(grainValues(spec, f) ++ Seq(
      Option(f.creditTypes).map(_.toSeq).orNull,
      Option(f.creditAmounts).map(_.toSeq).orNull))
  }

  /** Writes the fact (`raw` picks the array-carrying table) as `spec.files`
    * parquet files in day order. */
  def writeFact(spark: SparkSession, spec: BillingSpec, path: String, raw: Boolean): Unit = {
    val rdd = spark.sparkContext.range(0L, spec.rows, 1L, spec.files)
      .map(i => if (raw) rawRow(spec, i) else factRow(spec, i))
    spark.createDataFrame(rdd, if (raw) rawSchema else factSchema)
      .write.mode("overwrite").parquet(path)
  }

  /** One contract rule: the three optional specializers (None = wildcard)
    * and its payload. */
  final case class Rule(
      month: String,
      account: Int,
      project: Option[Int],
      service: Option[Int],
      sku: Option[Int],
      mode: Option[Int],
      discount: Option[Double],
      price: Option[Double],
      creditFields: Option[String],
      customerId: Option[String],
      contractId: String) {
    /** Null-pattern family, encoded as in the kernel: 1 + project + 2·service + 4·sku. */
    def family: Int = 1 + project.size + 2 * service.size + 4 * sku.size
  }

  /** The rule dim: every account but ~8% (usage without a rule) gets an
    * account-wide rule plus rules in the other 7 null-pattern families,
    * overlapping so precedence decides; payload cells are null often enough
    * that resolution falls through per column. A second month's rules must
    * never match. No two rules share a (month, account, specializers) key. */
  def rules(spec: BillingSpec): Seq[Rule] = {
    val out = Seq.newBuilder[Rule]
    for (a <- 0 until spec.accounts) {
      val r = rng(spec.seed, 4, a)
      if (r.nextInt(100) >= 8) {
        val nProj = projectsOf(spec.seed, a)
        val seen = scala.collection.mutable.HashSet[(Option[Int], Option[Int], Option[Int])]()
        val density = if (spec.denseRules) 2 else 1
        def rule(p: Option[Int], s: Option[Int], k: Option[Int], month: String): Unit =
          if (seen.add((p, s, k)) || month != spec.dimMonth) {
            val fam = 1 + p.size + 2 * s.size + 4 * k.size
            val nullish = if (fam == 1) 5 else 25
            val mode =
              if (r.nextInt(100) < nullish) None
              else Some(Seq(0, 1, 1, 2, 2, 3, 3, 4, 4, 4)(r.nextInt(10)))
            def money(lo: Double, hi: Double): Option[Double] = r.nextInt(100) match {
              case x if x < 8 => None
              case x if x < 12 => Some(0.0)
              case _ => Some(math.floor((lo + r.nextDouble() * (hi - lo)) * 1e4) / 1e4)
            }
            val fields =
              if (r.nextInt(100) < 20) None
              else Some(new scala.util.Random(r.nextLong())
                .shuffle(CreditCols).take(1 + r.nextInt(3)).mkString("/"))
            out += Rule(month, a, p, s, k, mode, money(0.7, 1.0), money(0.01, 2.0), fields,
              if (r.nextInt(10) == 0) None else Some(s"CUST-$a"),
              s"CT-$a-$fam-${p.getOrElse("")}-${s.getOrElse("")}-${k.getOrElse("")}")
          }
        val m = spec.dimMonth
        if (r.nextInt(100) < 85) rule(None, None, None, m)
        for (p <- 0 until nProj if r.nextInt(4) < density) rule(Some(p), None, None, m)
        for (_ <- 0 until 1 + density) rule(None, Some(r.nextInt(Services / 2)), None, m)
        for (_ <- 0 until density) rule(Some(r.nextInt(nProj)), Some(r.nextInt(Services / 2)), None, m)
        for (_ <- 0 until density) {
          val s = r.nextInt(Services / 2)
          rule(None, None, Some(s * 100 + r.nextInt(SkusPerService)), m)
          rule(Some(r.nextInt(nProj)), None, Some(s * 100 + r.nextInt(SkusPerService)), m)
          rule(None, Some(s), Some(s * 100 + r.nextInt(SkusPerService)), m)
          rule(Some(r.nextInt(nProj)), Some(s), Some(s * 100 + r.nextInt(SkusPerService)), m)
        }
        if (a % 10 == 0) rule(None, None, None, "2025-12")
      }
    }
    out.result()
  }

  /** A rule's sku specializer encodes service·100 + sku. */
  def skuId(code: Int): String = f"SKU-${code / 100}%03d-${code % 100}%02d"

  def writeDim(spark: SparkSession, spec: BillingSpec, path: String): Unit = {
    val rows = rules(spec).map { r =>
      Row(r.month, accountId(spec.seed, r.account),
        r.project.map(projectId(spec.seed, r.account, _)).orNull,
        r.service.map(s => s"Service $s").orNull,
        r.sku.map(skuId).orNull,
        r.mode.map(Int.box).orNull, r.discount.map(Double.box).orNull,
        r.price.map(Double.box).orNull, r.creditFields.orNull,
        r.customerId.orNull, r.contractId)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), graft.kernel.BillingSchema.dimSchema)
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  // ----------------------------------------------------------------- corpus

  /** A document corpus of `docs` documents in which about `nearDupFraction`
    * of the documents copy an earlier one, a third of them verbatim and the
    * rest with one or two tokens changed. */
  final case class CorpusSpec(seed: Long, docs: Int, nearDupFraction: Double) {
    require(docs < 100000, "the dedup operators reserve doc ids from 100000 up")
  }

  private val Vocab: Seq[String] = Seq(
    "batch", "part", "spark", "line", "column", "order", "small", "sort", "fast",
    "value", "scan", "hash", "slow", "group", "agg", "filter", "query", "big",
    "key", "window", "row", "table", "stream", "merge", "data", "join", "vector",
    "customer", "shard", "token", "corpus", "index", "plan", "cache", "node",
    "disk", "page", "block", "file", "tree")
  private val Stop: Seq[String] = Seq("the", "a", "and", "of", "to", "in")

  private def isCopy(spec: CorpusSpec, i: Int): Boolean =
    i > 0 && rng(spec.seed, 5, i).nextDouble() < spec.nearDupFraction

  private def baseText(spec: CorpusSpec, i: Int): Array[String] = {
    val r = rng(spec.seed, 6, i)
    val n = 12 + r.nextInt(130)
    val stop = 0.05 + r.nextDouble() * 0.35
    val vocab = 8 + r.nextInt(Vocab.length - 8)
    Array.fill(n)(
      if (r.nextDouble() < stop) Stop(r.nextInt(Stop.length)) else Vocab(r.nextInt(vocab)))
  }

  /** Text of document `i`. A copy picks an earlier original (never another
    * copy), so every document is at most one hop from its source. */
  def docText(spec: CorpusSpec, i: Int): String = {
    if (!isCopy(spec, i)) baseText(spec, i).mkString(" ")
    else {
      val r = rng(spec.seed, 8, i)
      var j = r.nextInt(i)
      while (isCopy(spec, j)) j -= 1
      val t = baseText(spec, j)
      if (r.nextInt(3) > 0)
        for (_ <- 0 until 1 + r.nextInt(2)) t(r.nextInt(t.length)) = Vocab(r.nextInt(Vocab.length))
      t.mkString(" ")
    }
  }

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("lang", StringType, nullable = false),
    StructField("source", StringType, nullable = false),
    StructField("n_chars", LongType, nullable = false)))

  def docRow(spec: CorpusSpec, i: Int): Row = {
    val t = docText(spec, i)
    Row(i.toLong, t, if (i % 7 == 3) "de" else "en", s"src${i % 5}", t.length.toLong)
  }

  /** Writes `documents.parquet` under `dir`, the layout the text operators read. */
  def writeCorpus(spark: SparkSession, spec: CorpusSpec, dir: String): Unit = {
    val rdd = spark.sparkContext.range(0L, spec.docs.toLong, 1L, 1).map(i => docRow(spec, i.toInt))
    spark.createDataFrame(rdd, docSchema).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }
}
