package perfbench

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The batch workloads: a fixed list of registered queries, each timed
  * from the call into its module's query function to the end of a
  * `noop` write of the DataFrame it returns, so every returned column is
  * computed.
  */
object Batch {

  /** Why each list holds what it holds is recorded in WORKLOADS.md. */
  val Workloads: Map[String, Seq[String]] = Map(
    // executor work dominates: window frames, kernels, aggregates
    "analyst_full" -> Seq(
      "q_gap_fill_lerp", "q_bootstrap_ci", "q_sketch_quantiles",
      "q_doc_fingerprint", "q_doc_repetition", "q_gap_fill_locf",
      "q_embed_near_dup", "q_pricing_summary"),
    // driver round trips and ManifestTable reads dominate
    "pipeline_iter" -> Seq(
      "q_pagerank_converged", "q_bpe_train", "q_maintained_gold"))

  /** Least number of timed passes. analyst_full's long single-task
    * queries move by 10-15% from one execution to the next in the same
    * JVM, so each query's time is taken over two executions.
    */
  val MinPasses: Map[String, Int] = Map("analyst_full" -> 2).withDefaultValue(1)

  /** The objects whose `queries` maps make up `SparkEntry.queries`. */
  private val modules: Seq[(String, Map[String, _])] = Seq(
    "Relational" -> graft.analytics.Relational.queries,
    "Affinity" -> graft.analytics.Affinity.queries,
    "Stats" -> graft.analytics.Stats.queries,
    "TimeSeries" -> graft.analytics.TimeSeries.queries,
    "Events" -> graft.analytics.Events.queries,
    "TextOps" -> graft.analytics.TextOps.queries,
    "Similarity" -> graft.analytics.Similarity.queries,
    "Quality" -> graft.analytics.Quality.queries,
    "Privacy" -> graft.analytics.Privacy.queries,
    "Packing" -> graft.analytics.Packing.queries,
    "Multimodal" -> graft.analytics.Multimodal.queries,
    "Aggregators" -> graft.functions.Aggregators.queries,
    "Scale" -> graft.operators.Scale.queries,
    "Sinks" -> graft.sinks.Sinks.queries,
    "Prep" -> graft.etl.Prep.queries)

  def moduleOf(query: String): String =
    modules.collectFirst { case (m, qs) if qs.contains(query) => m }.getOrElse("unknown")

  /** Drops every block a previous query left in the block manager, as
    * the engine's own bench does between queries, so each query starts
    * from a clean storage state.
    */
  def dropCaches(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  /** Row count and an order-insensitive digest: the sum and xor of a
    * per-row hash, floating values rounded to 6 decimals first (and -0.0
    * folded into 0.0) so summation order cannot change the digest.
    */
  def digest(df: DataFrame): (Long, String) = {
    val h = xxhash64(df.schema.fields.toSeq.map(f =>
      normalized(col(s"`${f.name}`"), f.dataType)): _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")), bit_xor(col("h")))
      .head()
    (r.getLong(0), s"${Option(r.get(1)).getOrElse(0)}:${Option(r.get(2)).getOrElse(0)}")
  }

  private def normalized(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6) + lit(0.0)
    case ArrayType(et, _) => transform(c, x => normalized(x, et))
    case StructType(fs) =>
      struct(fs.toSeq.map(f => normalized(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(normalized(e.getField("key"), kt), normalized(e.getField("value"), vt))))
    case _ => c
  }

  /** Wall-clock marks of one timed query: nanoTime for durations, epoch
    * ms for lining up with listener event times.
    */
  final case class Timing(buildNs: Long, execNs: Long, startMs: Long, builtMs: Long, endMs: Long) {
    def wallMs: Double = (buildNs + execNs) / 1e6
  }

  def timeQuery(spark: SparkSession, query: String, dir: String): Timing = {
    val fn = graft.SparkEntry.queries(query)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val df = fn(spark, dir)
    val tb = System.nanoTime()
    val wb = System.currentTimeMillis()
    df.write.format("noop").mode("overwrite").save()
    val t1 = System.nanoTime()
    Timing(tb - t0, t1 - tb, w0, wb, System.currentTimeMillis())
  }

  /** Set-up (input generation, and the warm-up that also checks
    * outputs) followed by the timed passes. With `trace`, one pass runs
    * each query three times instead, the middle run traced, so the tracing
    * overhead is measured on the same work.
    */
  def run(spark: SparkSession, workload: String, seed: Long, seconds: Double,
          trace: Boolean, data: String, work: String): Map[String, Any] = {
    val names = Workloads(workload)
    // the check tables are read as shipped; the timed tables are written
    // in a seeded order while the warm-up runs
    val checkDir = s"$data/sf0.01"
    val timedDir = s"$work/input"
    val inputs = Inputs.permute(spark, checkDir, timedDir, seed)

    // warm-up, per query: the output check on tables of the timed size,
    // so the executor paths are compiled at that size, then the timed
    // action itself on the small tables; without that second execution
    // the timed pass still runs much of the driver code cold. Nothing is
    // timed here and most queries run one task at a time, so as many
    // queries as cores run at once; caches are dropped only after all.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      spark.sparkContext.defaultParallelism)
    val checks =
      try {
        val warm = ExecutionContext.fromExecutorService(pool)
        Await.result(Future.sequence(names.map { n => Future {
          try {
            val (rows, dig) = digest(graft.SparkEntry.queries(n)(spark, checkDir))
            timeQuery(spark, n, s"$data/sf0.001")
            Map("name" -> n, "rows" -> rows, "digest" -> dig)
          } catch { case e: Throwable => Map("name" -> n, "error" -> String.valueOf(e.getMessage)) }
        }(warm) }), Duration.Inf)
      } finally pool.shutdown()
    inputs.foreach(Await.result(_, Duration.Inf))
    dropCaches(spark)
    // the warm-up's garbage is collected before anything is timed, so no
    // query pays for it
    System.gc()
    val setupEndMs = System.currentTimeMillis()
    Main.log("inputs written, warm-up and checks done")

    val executions = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Double]
    var failures = 0
    def once(n: String, tracer: Option[Tracer]): Unit =
      try {
        dropCaches(spark)
        val (t, w) = tracer match {
          case Some(tr) =>
            val (t, w) = tr.traced(timeQuery(spark, n, timedDir))
            (t, Some(w))
          case None => (timeQuery(spark, n, timedDir), None)
        }
        executions += Map("name" -> n, "module" -> moduleOf(n),
          "traced" -> w.isDefined, "wall_ms" -> t.wallMs,
          "build_s" -> t.buildNs / 1e9, "exec_s" -> t.execNs / 1e9,
          "start_ms" -> t.startMs, "built_ms" -> t.builtMs, "end_ms" -> t.endMs,
          "window" -> w.map(_.record))
      } catch { case e: Throwable =>
        failures += 1
        Main.log(s"$n failed: ${e.getMessage}")
      }

    if (trace) {
      // untraced, traced, untraced: the overhead compares the traced run
      // with the mean of the two around it
      val tracer = Some(new Tracer(spark))
      names.foreach { n => once(n, None); once(n, tracer); once(n, None) }
    } else {
      // as many whole passes as the first pass says fit in `seconds`,
      // and at least the workload's least number
      def pass(): Unit = {
        val p0 = System.nanoTime()
        names.foreach(once(_, None))
        passes += (System.nanoTime() - p0) / 1e9
      }
      pass()
      (2 to math.max(MinPasses(workload), (seconds / passes.head).toInt)).foreach(_ => pass())
    }
    Map("setup_end_ms" -> setupEndMs, "checks" -> checks,
      "executions" -> executions.toSeq, "passes_s" -> passes.toSeq,
      "failures" -> failures, "attempted" -> (executions.size + failures))
  }
}

/** Seeded input generation for the batch workloads: the shipped tables,
  * each written back as one parquet file in an order drawn from the
  * seed. Row sets, and so the outputs of order-insensitive queries, do
  * not depend on the seed; the physical row order the engine scans does.
  */
object Inputs {
  /** Starts one single-task write job per table; they run concurrently. */
  def permute(spark: SparkSession, src: String, dst: String, seed: Long): Seq[Future[Unit]] =
    graft.model.Schemas.tables.map { t => Future {
      spark.read.parquet(s"$src/$t.parquet")
        .coalesce(1)
        .withColumn("_perm", xxhash64(lit(seed), monotonically_increasing_id()))
        .sortWithinPartitions("_perm").drop("_perm")
        .write.parquet(s"$dst/$t.parquet")
    }}
}
