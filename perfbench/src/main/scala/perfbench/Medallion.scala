package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Layout
import graft.ops.{Clean, Ingest, Stats}

/** The paper's medallion pipeline on generated ticks: a backfill of
  * `days` date partitions, then incremental days through the same calls
  * restricted to the touched dates.
  *
  * Bronze keeps every delivery as it arrived, partitioned by
  * (`partition_date`, `batch`), so a re-delivered tick sits beside the
  * original and the Silver dedup drops the older version. Silver is
  * deduplicated and typed per date, compacted per touched date; Gold is
  * one top-10-by-volume stats row per date; the report is one CSV.
  */
final class Medallion(spark: SparkSession, root: String, seed: Long,
                      coins: Int, days: Int, tr: Tracer) {
  private val startEpoch = 1704067200L // 2024-01-01T00:00:00Z
  private val bronze = s"$root/bronze"
  private val silver = s"$root/silver"
  private val gold = s"$root/gold"
  private val report = s"$root/Final_Report.csv"
  private val rng = new scala.util.Random(seed)
  private val genSeed = rng.nextInt(1 << 20).toLong

  /** Every raw batch delivered so far, kept as its generating plan so the
    * output check can recompute Gold without reading any pipeline table.
    */
  private val delivered = mutable.ArrayBuffer.empty[DataFrame]
  private var daysDone = 0
  var ticksIngested = 0L

  private def dayStart(dayIndex: Int): Long = startEpoch + dayIndex * 86400L
  private def dateOf(dayIndex: Int): String =
    java.time.LocalDate.ofEpochDay(dayStart(dayIndex) / 86400L).toString

  private def stages(prefix: String, raw: DataFrame, touched: Option[Seq[String]]): Unit = {
    def onTouched(df: DataFrame): DataFrame =
      touched.fold(df)(ds => df.filter(col("partition_date").isin(ds: _*)))
    tr.span(prefix + "ingest") {
      Layout.upsertPartitions(Layout.colocated(raw, Seq("partition_date", "batch")),
        bronze, Seq("partition_date", "batch"))
    }
    tr.span(prefix + "clean") {
      val deduped = Clean.dedupLatest(onTouched(spark.read.parquet(bronze)).drop("batch"),
        Seq("id", "last_updated"), "_ingested_at")
      Layout.upsertPartitions(Layout.colocated(
        Clean.silverCasts(deduped, "current_price", "market_cap")), silver)
    }
    val dates = touched.getOrElse((0 until days).map(dateOf))
    tr.span(prefix + "compact") {
      Layout.compactPartitions(spark, silver,
        Seq("symbol", "current_price", "market_cap"), dates)
    }
    tr.span(prefix + "gold") {
      val stats = Stats.dailyTopKStats(onTouched(spark.read.parquet(silver)),
        "partition_date", col("total_volume"), "market_cap", "current_price")
      Layout.upsertPartitions(Layout.colocated(stats), gold)
    }
    tr.span(prefix + "export") {
      Layout.singleCsv(spark.read.parquet(gold).orderBy("partition_date"), report)
    }
  }

  /** Generate → Bronze → Silver → compaction → Gold → CSV over every
    * date. Returns the number of ticks ingested.
    */
  def backfill(): Long = {
    val raw = Ingest.generate(spark, coins, days, startEpoch, genSeed)
      .withColumn("batch", lit(0))
    delivered += raw
    stages("", raw, None)
    val n = coins.toLong * days * 24
    ticksIngested += n
    n
  }

  /** One incremental day: the next day's ticks plus a re-delivery of the
    * previous day's later hours (new prices, ingested a day later), so
    * Silver keeps the re-delivered version. Returns the ticks ingested.
    */
  def day(): Long = {
    daysDone += 1
    val k = daysDone
    val newIdx = days + k - 1
    val fromHour = 6 + rng.nextInt(13)
    val fresh = Ingest.generate(spark, coins, 1, dayStart(newIdx), genSeed + 1000L * k)
    val again = Ingest.generate(spark, coins, 1, dayStart(newIdx - 1), genSeed + 1000L * k + 7)
      .filter(hour(col("_ingested_at")) >= fromHour)
      .withColumn("_ingested_at", col("_ingested_at") + expr("INTERVAL 1 DAY"))
    val raw = fresh.unionByName(again).withColumn("batch", lit(k))
    delivered += raw
    stages("day.", raw, Some(Seq(dateOf(newIdx - 1), dateOf(newIdx))))
    val n = coins.toLong * (24 + 24 - fromHour)
    ticksIngested += n
    n
  }

  /** Bronze + Silver + Gold bytes on disk. */
  def storedBytes: Long = Seq(bronze, silver, gold).map(Main.treeBytes).sum

  /** Output checks, run outside any timed window. Gold must equal, row
    * for row, a plain-DataFrame top-10-by-volume recomputation (ties
    * included) from the delivered ticks; there is one Gold row per date;
    * the CSV has one line per Gold row. Returns the failures found.
    */
  def check(): Seq[String] = {
    val failures = mutable.ArrayBuffer.empty[String]
    val ticks = delivered.reduce(_ unionByName _)
    val latest = ticks.groupBy("id", "last_updated")
      .agg(max_by(struct("partition_date", "total_volume", "market_cap",
        "current_price"), col("_ingested_at")).as("t"))
      .select("t.*")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("partition_date").orderBy(col("total_volume").desc)
    val top = latest.withColumn("r", rank().over(w)).filter(col("r") <= 10)
      .select(col("partition_date").cast("string"), col("market_cap"), col("current_price"))
      .collect()
    val expected = top.groupBy(_.getString(0)).map { case (d, rows) =>
      val cap = rows.map(r => BigDecimal(r.getLong(1))).sum
      val price = rows.map(r => BigDecimal(r.getDouble(2))
        .setScale(8, BigDecimal.RoundingMode.HALF_UP)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum
      d -> (cap.toDouble, price.toDouble / rows.length, rows.length.toLong)
    }
    val got = spark.read.parquet(gold)
      .select(col("partition_date").cast("string"), col("total_market_cap"),
        col("avg_price"), col("n_rows")).collect()
    val nDates = days + daysDone
    if (got.length != nDates) failures += s"medallion: ${got.length} gold rows for $nDates dates"
    if (got.map(_.getString(0)).distinct.length != got.length)
      failures += "medallion: more than one gold row for a date"
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
    got.foreach { r =>
      expected.get(r.getString(0)) match {
        case None => failures += s"medallion: unexpected gold date ${r.getString(0)}"
        case Some((cap, avg, n)) =>
          if (!close(r.getDouble(1), cap) || !close(r.getDouble(2), avg) || r.getLong(3) != n)
            failures += s"medallion: gold row ${r.getString(0)} = " +
              s"(${r.getDouble(1)}, ${r.getDouble(2)}, ${r.getLong(3)}), expected ($cap, $avg, $n)"
      }
    }
    if (expected.size != got.length)
      failures += s"medallion: ${expected.size} expected dates, ${got.length} in gold"
    val csvRows = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(report)).size - 1
    if (csvRows != got.length) failures += s"medallion: CSV has $csvRows rows, gold ${got.length}"
    failures.toSeq
  }
}
