package perfbench

import org.apache.spark.sql.{Row, SparkSession}

import graft.medallion.{BronzeFlow, Flows, GoldFlow, LandingFlow, Lake, SilverFlow}

/** `medallion_etl`: repeated landing → bronze → silver → gold runs over
  * the seeded death-metal CSVs, each into a fresh lake root. Untraced
  * ops call [[Flows.runAll]]; traced ops call the four flows' `run`
  * under one span each.
  */
final class Medallion(spark: SparkSession, work: String, seed: Long)
    extends Workload(spark) {
  import DeathMetal.Key

  private val Bands = 500
  private var data: DeathMetal.Data = _
  private var csvDir = ""
  private var runNo = 0
  private val layerBytes = scala.collection.mutable.Map.empty[String, Long]
  private var bronzeRows = 0L

  // the expected gold tables, computed once per input in plain Scala
  private var expAvg: Map[Key, (Long, Double, Double, Double, Option[Double])] = _
  private var expTop10: Set[(Key, Long)] = _
  private var expAlbums: Map[Key, Long] = _

  /** Generate the CSVs and run one checked warm ETL. */
  override def setup(): Unit = {
    csvDir = s"$work/csv"
    data = DeathMetal.generate(seed, csvDir, Bands)
    expAvg = DeathMetal.bandAvgScores(data)
    expTop10 = DeathMetal.top10ByCountry(data)
    expAlbums = DeathMetal.bandAlbumCounts(data)
    op(traced = false)
  }

  def op(traced: Boolean): Op = {
    val lake = Lake(s"$work/lake-$runNo")
    runNo += 1
    val (_, s) = timed {
      if (!traced) Flows.runAll(spark, csvDir, lake)
      else {
        val landed = inSpan(traced, "landing")(LandingFlow.run(csvDir, lake))
        val bronze = inSpan(traced, "bronze")(BronzeFlow.run(spark, lake, landed.keys.toSeq.sorted))
        inSpan(traced, "silver")(SilverFlow.run(spark, lake, bronze))
        inSpan(traced, "gold")(GoldFlow.run(spark, lake))
      }
    }
    val ok = check(lake)
    for (layer <- Seq("landing", "bronze", "silver", "gold"))
      layerBytes(layer) = Main.dirBytes(s"${lake.root}/$layer")
    Main.deleteTree(lake.root)
    Op(s, data.csvRows, ok)
  }

  private def key(r: Row): Key = (
    Option(r.getAs[String]("country")),
    Option(r.getAs[java.lang.Long]("band_id")).map(_.longValue),
    Option(r.getAs[String]("band_name")))

  private def close(a: Double, b: Double): Boolean = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  /** Bronze row counts and the four gold tables against plain Scala. */
  private def check(lake: Lake): Boolean = {
    bronzeRows = Flows.Datasets.map(ds => spark.read.parquet(lake.bronze(ds)).count()).sum
    if (bronzeRows != data.bronzeRows)
      return fail(s"bronze holds $bronzeRows rows, expected ${data.bronzeRows}")
    val avg = spark.read.parquet(lake.gold("band_avg_scores")).collect().map { r =>
      key(r) -> ((r.getAs[Long]("review_count"), r.getAs[Double]("avg_score"),
        r.getAs[Double]("min_score"), r.getAs[Double]("max_score"),
        Option(r.getAs[java.lang.Double]("std_score")).map(_.doubleValue)))
    }.toMap
    val avgOk = avg.size == expAvg.size && expAvg.forall { case (k, (n, m, lo, hi, sd)) =>
      avg.get(k).exists { case (n2, m2, lo2, hi2, sd2) =>
        n == n2 && close(m2, m) && lo == lo2 && hi == hi2 &&
          sd.size == sd2.size && sd.zip(sd2).forall { case (a, b) => close(b, a) }
      }
    }
    if (!avgOk) return fail("gold band_avg_scores differs from the plain-Scala aggregates")
    val top10 = spark.read.parquet(lake.gold("top10_by_country")).collect()
      .map(r => (key(r), r.getAs[Long]("review_count"))).toSet
    if (top10 != expTop10) return fail("gold top10_by_country differs from the plain-Scala ranking")
    val brazil = spark.read.parquet(lake.gold("brazilian_bands")).collect().map(key).toSet
    if (brazil != expAvg.keySet.filter(k => DeathMetal.isBrazil(k._1)))
      return fail("gold brazilian_bands differs from the normalised-country filter")
    val albums = spark.read.parquet(lake.gold("band_album_counts")).collect()
      .map(r => key(r) -> r.getAs[Long]("album_count")).toMap
    if (albums != expAlbums) return fail("gold band_album_counts differs from the plain-Scala counts")
    true
  }

  override def extras(tracedOps: Int, untracedP50: Double): Map[String, Double] = {
    val csvBytes = Main.dirBytes(csvDir).toDouble
    val etl = Seq("landing", "bronze", "silver", "gold")
    etl.map(l => s"$l.bytes_written" -> layerBytes.getOrElse(l, 0L).toDouble).toMap ++ Map(
      "bronze.keep_ratio" -> bronzeRows.toDouble / data.csvRows,
      "etl.bytes_ratio" -> etl.map(layerBytes.getOrElse(_, 0L)).sum / csvBytes,
      // how much of the untraced runAll time the four traced layers account for
      "etl.layer_cover" -> etl.map(spanSeconds(_)).sum / math.max(tracedOps, 1) / untracedP50)
  }
}
