package pipebench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PipebenchSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[2]").appName("pipebench-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def tmp(): String = Files.createTempDirectory("pipebench").toString

  private val small = Gen.BillingSpec(7L, rowsPerDay = 200, accounts = 60, denseRules = true)
  private val corpus = Gen.CorpusSpec(7L, docs = 400, nearDupFraction = 0.2)

  test("the same seed gives identical inputs, another seed different ones") {
    def billing(s: Long) = {
      val spec = small.copy(seed = s)
      ((0L until spec.rows).map(i => Gen.factRow(spec, i)),
        (0L until spec.rows).map(i => Gen.rawRow(spec, i)).map(_.toSeq.map {
          case xs: Seq[_] => xs.toList
          case v => v
        }), Gen.rules(spec))
    }
    def docs(s: Long) = (0 until corpus.docs).map(i => Gen.docRow(corpus.copy(seed = s), i))
    assert(billing(7L) == billing(7L))
    assert(docs(7L) == docs(7L))
    assert(billing(7L)._1 != billing(8L)._1)
    assert(billing(7L)._3 != billing(8L)._3)
    assert(docs(7L) != docs(8L))

    // and the written parquet holds exactly the generated rows
    val d = tmp()
    Gen.writeFact(spark, small, s"$d/a", raw = false)
    Gen.writeFact(spark, small, s"$d/b", raw = false)
    val a = spark.read.parquet(s"$d/a")
    val b = spark.read.parquet(s"$d/b")
    assert(a.count() == small.rows)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("the billing generator covers every fixture knob") {
    val rules = Gen.rules(small).filter(_.month == small.dimMonth)
    assert(rules.map(_.family).toSet == (1 to 8).toSet, "all 8 null-pattern families")
    assert(rules.flatMap(_.mode).toSet == (0 to 4).toSet && rules.exists(_.mode.isEmpty),
      "modes 0-4 and null")
    assert(rules.exists(_.price.isEmpty) && rules.exists(_.price.contains(0.0)))
    assert(rules.exists(_.discount.isEmpty) && rules.exists(_.discount.contains(0.0)))
    assert(rules.exists(_.creditFields.exists(_.contains("/"))), "multi-field credit_fields")
    assert(Gen.rules(small).exists(_.month != small.dimMonth), "a second month's rules")
    val facts = (0L until small.rows).map(Gen.fact(small, _))
    val ruled = rules.map(_.account).toSet
    assert(facts.exists(f => !ruled(f.account)), "usage without a rule")
    val grains = facts.map(f => (f.day, f.account, f.project, f.service, f.sku, f.costType))
    assert(grains.distinct.length < grains.length, "duplicate grain keys")
    assert(facts.exists(_.creditTypes == null) && facts.exists(f =>
      f.creditTypes != null && f.creditTypes.isEmpty))
    assert(facts.exists(f => f.creditTypes != null &&
      f.creditTypes.exists(t => !Gen.KnownCredits.contains(t))), "unknown credit types")
    // an account matched by several families, so precedence decides
    val index = new RefEval.RuleIndex(small)
    assert(facts.exists { f =>
      (1 to 8).count { fam =>
        rules.exists(r => r.family == fam && r.account == f.account &&
          r.project.forall(_ == f.project) && r.service.forall(_ == f.service) &&
          r.sku.forall(_ == f.service * 100 + f.sku))
      } >= 3
    })
    assert(facts.count(f => index.resolve(f).matched) > facts.length / 2)
    // hot accounts: the first HotAccounts carry most of the rows
    assert(facts.count(_.account < Gen.HotAccounts) > facts.length / 2)
  }

  test("the corpus has the stated near-duplicate fraction, exact copies included") {
    val texts = (0 until corpus.docs).map(Gen.docText(corpus, _))
    val exactCopies = texts.length - texts.distinct.length
    assert(exactCopies > 0)
    val toks = texts.map(_.split(" "))
    val copies = (1 until corpus.docs).count { i =>
      (0 until i).exists { j =>
        toks(i).length == toks(j).length && toks(i).zip(toks(j)).count(p => p._1 != p._2) <= 2
      }
    }
    val frac = copies.toDouble / corpus.docs
    assert(frac > 0.12 && frac < 0.28, s"near-dup fraction $frac")
  }

  /** A billing workload whose op output is tampered after the real run. */
  private final class Tampered(w: Billing, target: String) extends Workload {
    def name: String = w.name
    def sizes: Seq[(String, Any)] = w.sizes
    def setup(s: SparkSession, d: String): Unit = w.setup(s, d)
    override def prepare(k: Int): Unit = w.prepare(k)
    def run(s: SparkSession, k: Int): Unit = {
      w.run(s, k)
      val part = new File(target, Check.partitionName(small.month, w.daysOf(k).head))
      val rows = s.read.parquet(part.getPath).collect()
      val schema = s.read.parquet(part.getPath).schema
      val ec = schema.fieldIndex("external_consumption")
      val bumped = rows.head.toSeq.updated(ec, rows.head.getDouble(ec) + 1.0)
      val scratch = s"${tmp()}/part"
      s.createDataFrame(java.util.Arrays.asList(Row.fromSeq(bumped) +: rows.tail: _*), schema)
        .coalesce(1).write.parquet(scratch)
      part.listFiles().foreach(_.delete())
      new File(scratch).listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => Files.move(f.toPath, new File(part, f.getName).toPath))
    }
    def check(s: SparkSession, k: Int): Option[String] = w.check(s, k)
    def rowsIn(k: Int): Long = w.rowsIn(k)
    def stored(k: Int): (Long, Long) = w.stored(k)
    def layers(s: SparkSession, k: Int, t: Tracer): Seq[(String, Double)] = w.layers(s, k, t)
  }

  test("every billing op's output matches the reference; one tampered row fails the op") {
    for (name <- Seq("month_backfill", "raw_backfill", "daily_tick")) {
      val w = new Billing(name, small.copy(files = 2))
      val d = tmp()
      w.setup(spark, d)
      val good = Main.attempt(spark, w, 1, None)
      assert(good.failure.isEmpty, s"$name: ${good.failure}")
      assert(Main.attempt(spark, w, 2, None).failure.isEmpty, name)
      val bad = Main.attempt(spark, new Tampered(w, s"$d/target"), 3, None)
      assert(bad.failure.exists(_.contains("reference")), s"$name: ${bad.failure}")
    }
  }

  test("a traced billing op's layers account for its wall time") {
    val w = new Billing("raw_backfill", small.copy(files = 2))
    w.setup(spark, tmp())
    assert(Main.attempt(spark, w, 1, None).failure.isEmpty)
    val tracer = new Tracer(spark)
    tracer.op = "op-2"
    val (op, layers) = tracer.traced {
      val op = Main.attempt(spark, w, 2, Some(tracer))
      (op, w.layers(spark, 2, tracer).toMap)
    }
    val metrics = Main.layerMetrics(w, 2, Seq(op), Seq(op -> layers)).map(m => m._1 -> m._2).toMap
    val opS = metrics("trace.op_s")
    // the marginal layer times, measured apart from the op, leave a small
    // remainder of the op's own wall time either way
    val uncovered = metrics("uncovered.s")
    assert(uncovered > -Main.UncoveredTolerance * opS && uncovered < Main.UncoveredTolerance * opS,
      s"uncovered.s $uncovered of op $opS; layers $layers")
    // on this small input only the fixed-cost layers are sure to be well above noise
    for (l <- Seq("rulematch.s", "sink.s")) assert(metrics(l) > 0.0, s"$l ${metrics(l)}")
    assert(metrics("rulematch.broadcast_builds") == 8.0)
    assert(metrics("scan.rows") == small.rows.toDouble)
    assert(metrics("sink.files") == small.days.toDouble)
    assert(math.abs(metrics("rulematch.hit_ratio") - w.hitRatio) < 1e-12)
  }

  test("corpus check: duplicate texts, a low-quality keeper or a changed result fail") {
    val w = new Corpus(corpus)
    w.setup(spark, tmp())
    assert(Main.attempt(spark, w, 1, None).failure.isEmpty)
    assert(Main.attempt(spark, w, 2, None).failure.isEmpty)
    val kept = spark.read.parquet(w.outputPath).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val text = (id: Long) => Gen.docText(corpus, id.toInt)
    val (ok, hash) = Check.corpus(kept, text, None)
    assert(ok.isEmpty)
    val twin = (0 until corpus.docs).map(_.toLong).find(id =>
      !kept.exists(_._1 == id) && kept.exists(k => text(k._1) == text(id))).get
    assert(Check.corpus(kept :+ (twin -> RefEval.quality(text(twin))), text, None)._1.isDefined)
    val low = (0 until corpus.docs).map(_.toLong)
      .find(id => RefEval.quality(text(id)) < RefEval.QualityThreshold).get
    assert(Check.corpus(kept.filter(k => text(k._1) != text(low)) :+
      (low -> RefEval.quality(text(low))), text, None)._1.isDefined)
    assert(Check.corpus(kept.tail, text, Some(hash))._1.isDefined)
  }
}
