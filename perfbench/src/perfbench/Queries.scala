package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Registry
import graft.core.Warehouse

/** `ann_retrieval`: a closed loop with one client over a
  * family of registry queries, in seed-shuffled order, on the seeded
  * tables under `<work>/tables`.
  *
  * The warm pass (set-up) runs every query once, writes its result for
  * the DuckDB oracle compare and records its row count and
  * order-independent hash; it also builds every `Warehouse` index the
  * family uses. The timed region runs whole pairs of passes, the second
  * of each pair in reverse order, and a query's time is the best of its
  * passes: the protocol of `graft.Bench`, so that one burst of host load
  * cannot inflate both samples of a query. Each timed query is built,
  * planned and run to a `noop` sink, then re-run outside the clock to
  * check its count and hash against the warm pass.
  */
final class Queries(spark: SparkSession, work: String, seed: Long, family: Seq[String])
    extends Workload(spark) {
  private val tables = s"$work/tables"
  private val order = new scala.util.Random(seed).shuffle(family.sorted)
  private val expected = scala.collection.mutable.Map.empty[String, (Long, Long)]
  private var next = 0
  private var probes = 0
  private var hits = 0
  private var buildS = 0.0
  private val phase = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)

  override def passSize: Int = 2 * order.size

  override def p50(ops: Seq[Op], time: Op => Double): Double =
    Main.median(ops.groupBy(_.query).values.map(_.map(time).min).toSeq)

  override def setup(): Unit = {
    val results = s"$work/results"
    order.foreach { name =>
      Warehouse.drainBuildEvents()
      val (_, s) = timed {
        try {
          Registry.queries(name)(spark, tables).coalesce(1).write.mode("overwrite")
            .parquet(s"$results/$name")
          expected(name) = Queries.digest(spark.read.parquet(s"$results/$name"))
        } catch { case e: Throwable => fail(s"$name (warm): ${e.toString.take(300)}") }
      }
      val built = Warehouse.drainBuildEvents().exists(_._2)
      if (built) buildS += s
      System.err.println(f"[perfbench] warm $name ${s}%.2fs built=$built")
    }
    val oracle = Registry.oracleSql.filter { case (k, _) => family.contains(k) }
    Files.write(Paths.get(s"$results/oracle_sql.json"), oracle.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Main.quote(k)}: ${Main.quote(v)}" }
      .mkString("{", ",\n", "}").getBytes(UTF_8))
  }

  override def digest: String =
    expected.toSeq.sortBy(_._1).map { case (k, (n, h)) => s"$k:$n:$h" }.mkString(" ").hashCode.toHexString

  def op(traced: Boolean): Op = {
    val pass = next / order.size
    val name = (if (pass % 2 == 0) order else order.reverse)(next % order.size)
    next += 1
    Warehouse.drainBuildEvents()
    val (df, b) = timed(inSpan(traced, "queries")(Registry.queries(name)(spark, tables)))
    val (_, p) = timed(inSpan(traced, "queries")(df.queryExecution.executedPlan))
    val (_, e) = timed(inSpan(traced, "queries")(
      df.write.format("noop").mode("overwrite").save()))
    val events = Warehouse.drainBuildEvents()
    probes += events.size
    hits += events.count(!_._2)
    if (traced) { phase("build") += b; phase("plan") += p; phase("exec") += e }
    val got = Queries.digest(df)
    val ok = expected.get(name).contains(got) ||
      fail(s"$name: rows/hash $got differ from the warm pass ${expected.get(name)}")
    Op(b + p + e, 1, ok, name)
  }

  override def extras(tracedOps: Int, untracedP50: Double): Map[String, Double] = {
    val per = math.max(tracedOps, 1).toDouble
    Map(
      "queries.build_s" -> phase("build") / per,
      "queries.plan_s" -> phase("plan") / per,
      "queries.exec_s" -> phase("exec") / per,
      "warehouse.hit_ratio" -> (if (probes == 0) 0.0 else hits.toDouble / probes),
      "warehouse.build_s" -> buildS)
  }
}

object Queries {
  /** Similarity and retrieval queries: brute-force kNN, LSH and hybrid
    * retrieval, plus the three whose `Warehouse` indexes (SimHash, binary
    * codes and filtered IVF) build within a few seconds. Each query costs
    * about 2.5 s of cold set-up per process on a 4-core host, and the
    * IVF/PQ k-means builds and the MinHash corpus-dedup family 3–15 s
    * each: more than a run of the benchmark can carry.
    */
  val AnnRetrieval: Seq[String] = Seq(
    "q20_knn_bruteforce", "q23_ann_lsh", "q40_simhash_incremental",
    "q88_hamming_ann_indexed", "q126_hybrid_rrf", "q218_filtered_ann")

  /** Doubles rounded to 6 places, so last-ulp differences between runs of
    * one plan do not change the hash.
    */
  private def canonical(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(DoubleType | FloatType, _) => transform(c, x => round(x.cast(DoubleType), 6))
    case _: MapType => to_json(array_sort(map_entries(c)))
    case _: StructType | _: ArrayType => to_json(c)
    case _ => c
  }

  /** (row count, order-independent hash) of a result. */
  def digest(df: DataFrame): (Long, Long) = {
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = d.schema.fields.toSeq.map(f => canonical(col(f.name), f.dataType))
    val r = d.select(xxhash64(cols: _*).as("h")).agg(count(lit(1)), coalesce(sum(col("h")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }
}
