package pipebench

import java.io.File
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Output checks, made without calling `graft.kernel`: each returns `None`
  * when the output is right and a one-line reason when it is not. */
object Check {

  // ---------------------------------------------------------------- billing

  /** Parquet data files per partition directory (`invoice_month=…/usage_day=…`)
    * under a partitioned table root. */
  def partitionFiles(root: String): Map[String, Set[(String, Long)]] = {
    def dirs(f: File): Seq[File] = Option(f.listFiles()).toSeq.flatten.filter(_.isDirectory)
    (for {
      m <- dirs(new File(root)) if m.getName.startsWith("invoice_month=")
      d <- dirs(m) if d.getName.startsWith("usage_day=")
    } yield s"${m.getName}/${d.getName}" ->
      Option(d.listFiles()).toSeq.flatten
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length())).toSet).toMap
  }

  /** Partition directories whose data files differ between two snapshots. */
  def changed(before: Map[String, Set[(String, Long)]],
              after: Map[String, Set[(String, Long)]]): Set[String] =
    after.keySet.filter(k => !before.get(k).contains(after(k)))

  def partitionName(month: String, day: LocalDate): String =
    s"invoice_month=$month/usage_day=$day"

  private val Grain = Seq("billing_account_id", "project_id", "service_id",
    "service_description", "sku_id", "cost_type")

  /** Summary of the output rows of `days`, in [[RefEval.DayAgg]] form, from
    * one aggregation; rows with a mode outside 0–4 add a sixth mode count,
    * so they can never match. */
  def summarize(out: DataFrame, days: Seq[LocalDate]): Map[LocalDate, RefEval.DayAgg] = {
    def r4(c: String) = floor(col(c) * lit(10000.0) + lit(0.5))
    val modes = (0 until 5).map(m => count(when(col("mode") === m, 1)))
    out.filter(col("usage_day").isin(days.map(java.sql.Date.valueOf): _*))
      .groupBy("usage_day")
      .agg(count(lit(1)), (Seq(count_distinct(col(Grain.head), Grain.tail.map(col): _*)) ++ modes ++
        Seq(sum(r4("internal_cost")), sum(r4("external_consumption")),
          count(when(col("mode") < 0 || col("mode") > 4 || col("mode").isNull, 1)))): _*)
      .collect().map { r =>
        val bad = r.getLong(10)
        r.getDate(0).toLocalDate -> RefEval.DayAgg(r.getLong(1), r.getLong(2),
          (3 until 8).map(r.getLong).toVector ++ (if (bad > 0) Vector(bad) else Vector.empty),
          r.getLong(8), r.getLong(9))
      }.toMap
  }

  /** One billing op's output: the partitions it rewrote are exactly its
    * days, and each day's summary equals the reference evaluation. */
  def billing(spark: SparkSession, target: String, month: String, days: Seq[LocalDate],
              rewritten: Set[String], expected: LocalDate => RefEval.DayAgg): Option[String] = {
    val want = days.map(partitionName(month, _)).toSet
    if (rewritten != want)
      return Some(s"rewrote partitions ${rewritten.toSeq.sorted.mkString(",")}, " +
        s"expected ${want.toSeq.sorted.mkString(",")}")
    val got = summarize(spark.read.parquet(target), days)
    days.iterator.map(d => (d, got.getOrElse(d, RefEval.EmptyAgg), expected(d)))
      .collectFirst { case (d, g, e) if g != e => s"day $d: output $g, reference $e" }
  }

  // ----------------------------------------------------------------- corpus

  /** One corpus_clean op's output `(doc_id, quality_score)`: no two keepers
    * share a text, every keeper's own quality meets the threshold and equals
    * the reported score, and the result hash equals `expectedHash` when one
    * is known. Returns the failure (if any) and the result hash. */
  def corpus(rows: Seq[(Long, Double)], text: Long => String,
             expectedHash: Option[Long]): (Option[String], Long) = {
    val ids = rows.map(_._1).sorted
    val hash = ids.foldLeft(ids.length.toLong)((h, id) => h * 1000003L + id)
    val texts = rows.map(r => text(r._1))
    val failure =
      if (rows.isEmpty) Some("no keepers")
      else if (texts.distinct.length != texts.length) Some("two keepers share a text")
      else rows.collectFirst {
        case (id, q) if RefEval.quality(text(id)) != q || q < RefEval.QualityThreshold =>
          s"doc $id: reported quality $q, recomputed ${RefEval.quality(text(id))}"
      }.orElse(expectedHash.collect {
        case h if h != hash => s"result hash $hash differs from the run's first $h"
      })
    (failure, hash)
  }
}
