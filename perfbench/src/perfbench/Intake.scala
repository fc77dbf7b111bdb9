package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.dedup.MinHashLSH
import graft.streaming.{CurationStream, DecontaminateStream}

/** `curation_intake`: seeded micro-batches of `documents` fed in order
  * through [[CurationStream.curateBatch]] against persisted dedup and
  * eval-gram indexes. Documents with `doc_id < EvalDocs` are the eval
  * set; the rest arrive in seed-shuffled order, [[BatchDocs]] per batch.
  *
  * Set-up builds the empty MinHash index and the eval-gram index and
  * curates the first batch; the digest of the curated ledger and pack
  * totals it leaves must be the same in every run of one seed.
  */
final class Intake(spark: SparkSession, work: String, seed: Long)
    extends Workload(spark) {
  import spark.implicits._

  private val EvalDocs = 200
  private val BatchDocs = 100
  private val W = graft.dedup.Decontaminate.DefaultWindow

  private val docs: Seq[(Long, String)] =
    spark.read.parquet(s"$work/tables/documents.parquet").select("doc_id", "text")
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
  private val evalDocs = docs.filter(_._1 < EvalDocs)
  private val batches: Seq[Seq[(Long, String)]] =
    new scala.util.Random(seed).shuffle(docs.filter(_._1 >= EvalDocs)).grouped(BatchDocs).toSeq

  private val dirs = s"$work/intake"
  private var next = 0
  private var offered = 0L
  private var setupDigest = ""
  private val wordCounts = docs.map { case (id, t) => id -> t.split(" ").length.toLong }.toMap

  override def digest: String = setupDigest

  private def idx = s"$dirs/dedup-index"
  private def evalIdx = s"$dirs/eval-index"
  private def curated = s"$dirs/curated"
  private def packs = s"$dirs/packs"

  // two batches per run: their mean is steadier than one batch
  override def passSize: Int = 2

  override def setup(): Unit = {
    MinHashLSH.buildIndex(Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text", idx)
    DecontaminateStream.buildEvalIndex(evalDocs.toDF("doc_id", "text"), "doc_id", "text", evalIdx)
    op(traced = false)
    setupDigest = stateDigest()
  }

  def op(traced: Boolean): Op = {
    val batchId = next
    val batch = batches(next)
    next += 1
    val df = batch.toDF("doc_id", "text")
    val (_, s) = timed(inSpan(traced, "intake")(
      CurationStream.curateBatch(df, batchId, idx, evalIdx, curated, packs, s"$dirs/state")))
    offered += batch.size
    Op(s, batch.size, checkBatch(batchId, batch))
  }

  /** Survivors are distinct offered docs, so survivors + cut = offered,
    * and each survivor's decon accounting covers its own words.
    */
  private def checkBatch(batchId: Long, batch: Seq[(Long, String)]): Boolean = {
    val ledger = CurationStream.readCurated(spark, curated).filter(col("batch_id") === batchId)
      .select("doc_id", "words_total", "words_cut").as[(Long, Long, Long)].collect()
    val ids = ledger.map(_._1)
    val offeredIds = batch.map(_._1).toSet
    if (ids.distinct.length != ids.length || !ids.forall(offeredIds))
      fail(s"batch $batchId: survivors are not distinct offered docs")
    else ledger.forall { case (id, total, cut) =>
      (total == wordCounts(id) && cut >= 0 && cut <= total) ||
        fail(s"batch $batchId doc $id: words_total $total / words_cut $cut inconsistent")
    }
  }

  /** Hash of the curated ledger rows and the per-pack totals. */
  private def stateDigest(): String = {
    val ledger = CurationStream.readCurated(spark, curated)
      .select(xxhash64(col("doc_id"), col("words_total"), col("words_cut"), md5(col("kept_text"))).as("h"))
      .agg(count(lit(1)), sum(col("h"))).as[(Long, Long)].head()
    val packTotals = CurationStream.readPacks(spark, packs)
      .groupBy("split", "pack_id").agg(count(lit(1)).as("n"), sum("n_tokens").as("t"))
      .select(xxhash64(col("split"), col("pack_id"), col("n"), col("t")).as("h"))
      .agg(count(lit(1)), sum(col("h"))).as[(Long, Long)].head()
    s"${ledger._1}:${ledger._2}:${packTotals._1}:${packTotals._2}"
  }

  /** No eval 8-gram may survive in any kept text. */
  override def finish(): Unit = {
    def grams(t: String): Iterator[String] =
      t.split(" ").filter(_.nonEmpty).sliding(W).filter(_.length == W).map(_.mkString(" "))
    val evalGrams = evalDocs.flatMap { case (_, t) => grams(t) }.toSet
    val kept = CurationStream.readCurated(spark, curated).select("doc_id", "kept_text")
      .as[(Long, String)].collect()
    kept.find { case (_, t) => grams(t).exists(evalGrams) }
      .foreach { case (id, _) => fail(s"doc $id keeps an eval $W-gram after decontamination") }
  }

  override def extras(tracedOps: Int, untracedP50: Double): Map[String, Double] = {
    val survivors = CurationStream.readCurated(spark, curated).count()
    Map(
      "intake.survivor_ratio" -> survivors.toDouble / math.max(offered, 1),
      "intake.index_bytes_per_doc" -> Main.dirBytes(idx).toDouble / math.max(survivors, 1))
  }
}
