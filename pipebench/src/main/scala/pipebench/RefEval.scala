package pipebench

import scala.collection.mutable

/** The reference semantics (calculate/service.py), evaluated one row at a
  * time on the generated rows, independently of `graft.kernel`:
  * most-specific-wins rule resolution per payload column, the credit
  * totals, and the four pricing modes. The result is one [[DayAgg]] per
  * usage day, against which [[Check]] compares the written output. */
object RefEval {

  /** Order-independent summary of one day's output rows: row count,
    * distinct grain keys, rows per mode 0–4, and the sums of
    * `internal_cost` and `external_consumption`, each rounded to 1e-4 per
    * row (integer sums, so the order of summation cannot matter). */
  final case class DayAgg(rows: Long, grains: Long, modes: Vector[Long], internalCost: Long,
                          externalConsumption: Long) {
    def +(o: DayAgg): DayAgg = DayAgg(rows + o.rows, grains + o.grains,
      modes.zip(o.modes).map { case (a, b) => a + b },
      internalCost + o.internalCost, externalConsumption + o.externalConsumption)
  }
  val EmptyAgg: DayAgg = DayAgg(0, 0, Vector.fill(5)(0L), 0, 0)

  /** The rounding the checksum applies to each money value. */
  def r4(x: Double): Long = math.floor(x * 10000.0 + 0.5).toLong

  /** Resolution order: more specializers win; at equal count project >
    * service > sku. */
  val Precedence: Seq[Int] = Seq(8, 4, 6, 2, 7, 3, 5, 1)

  final case class Payload(mode: Option[Int], discount: Option[Double],
                           price: Option[Double], creditFields: Option[String],
                           matched: Boolean)

  /** Rules of the invoice month keyed by (family, account, project, service, sku code). */
  final class RuleIndex(spec: Gen.BillingSpec) {
    private val byKey: Map[(Int, Int, Option[Int], Option[Int], Option[Int]), Gen.Rule] =
      Gen.rules(spec).filter(_.month == spec.dimMonth)
        .map(r => (r.family, r.account, r.project, r.service, r.sku) -> r).toMap

    def resolve(f: Gen.Fact): Payload = {
      val hits = Precedence.flatMap { fam =>
        val p = if ((fam - 1) % 2 == 1) Some(f.project) else None
        val s = if (((fam - 1) / 2) % 2 == 1) Some(f.service) else None
        val k = if ((fam - 1) / 4 == 1) Some(f.service * 100 + f.sku) else None
        byKey.get((fam, f.account, p, s, k))
      }
      def first[T](g: Gen.Rule => Option[T]): Option[T] = hits.iterator.map(g).collectFirst {
        case Some(v) => v
      }
      Payload(first(_.mode), first(_.discount), first(_.price), first(_.creditFields),
        hits.nonEmpty)
    }
  }

  /** One output row's (mode, internal_cost, external_consumption), with the
    * conform defaults applied (null mode ⇒ 0, null money ⇒ 0.0). */
  def evaluate(f: Gen.Fact, p: Payload): (Int, Double, Double) = {
    val (c, creditsCost) = f.credits
    val creditsConsumption = creditsCost - c(5)
    val internalCost = (f.cost + creditsCost) * 1.0
    val internalConsumption = f.cost + creditsConsumption
    val external: Option[Double] = p.mode match {
      case Some(1) => p.discount.map(d => (internalConsumption * 1.0) * d)
      case Some(2) => p.price.map(pr => f.usage * pr)
      case Some(3) => for (pr <- p.price; d <- p.discount) yield (f.usage * pr) * d
      case Some(4) =>
        val discEff = p.discount.getOrElse(1.0)
        val priceEff = p.price.getOrElse(1.0)
        val selected = p.creditFields.getOrElse("").split("/", -1).toSet
        val selectedSum = Gen.CreditCols.indices
          .map(i => if (selected(Gen.CreditCols(i))) c(i) else 0.0).reduce(_ + _)
        val part = if (priceEff != 0.0) selectedSum / priceEff else 0.0
        Some(f.costAtList * discEff + part * discEff)
      case _ => Some(0.0)
    }
    (p.mode.getOrElse(0), internalCost, external.getOrElse(0.0))
  }

  /** Expected summary per day index, and the share of fact rows any rule matched. */
  def perDay(spec: Gen.BillingSpec): (Vector[DayAgg], Double) = {
    val index = new RuleIndex(spec)
    var matched = 0L
    val days = (0 until spec.days).map { d =>
      val grains = mutable.HashSet[(Int, Int, Int, Int, String)]()
      val modes = Array.fill(5)(0L)
      var ic, ec = 0L
      var i = d.toLong * spec.rowsPerDay
      val end = i + spec.rowsPerDay
      while (i < end) {
        val f = Gen.fact(spec, i)
        val p = index.resolve(f)
        if (p.matched) matched += 1
        val (mode, internalCost, external) = evaluate(f, p)
        grains += ((f.account, f.project, f.service, f.sku, f.costType))
        modes(mode) += 1
        ic += r4(internalCost)
        ec += r4(external)
        i += 1
      }
      DayAgg(spec.rowsPerDay, grains.size, modes.toVector, ic, ec)
    }.toVector
    (days, matched.toDouble / spec.rows)
  }

  // ----------------------------------------------------------------- corpus

  val QualityThreshold = 0.35
  private val Stop = Set("the", "a", "and", "of", "to", "in")

  /** t02's quality score of one text: 0.4·stopword ratio + 0.3·lexical
    * diversity + 0.3·length prior, rounded to 1e-4. */
  def quality(text: String): Double = {
    val toks = text.trim.toLowerCase.split("\\s+", -1)
    val n = toks.length
    val stopRatio = toks.count(Stop).toDouble / n
    val diversity = toks.distinct.length.toDouble / n
    val lengthPrior = math.min(n.toDouble / 100.0, 1.0)
    math.floor((0.4 * stopRatio + 0.3 * diversity + 0.3 * lengthPrior) * 10000.0 + 0.5)
      .toLong / 10000.0
  }
}
