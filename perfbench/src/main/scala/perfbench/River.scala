package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.model.Schemas
import graft.model.Schemas.SensorReading
import graft.streaming.Pipeline

/** Seeded river sensor feed in the reference's wire shape: one JSON
  * object per reading, every value a string under the producer's field
  * names. Readings go round-robin over `Sensors` sensors, one day apart per
  * sensor, so each sensor's rows arrive in event-time order and the
  * alerts the engine must raise follow from a sequential streak count.
  *
  * A sensor enters an out-of-band run with probability `RunStart` per
  * reading; a run lasts 1 to `MaxRun` readings, so some runs reach the
  * alert threshold and some do not. Each reading's values are missing
  * (JSON null) with probability `NullShare`; a missing value does not
  * vote, as in the engine's predicate.
  */
final class RiverGen(seed: Long) {
  import RiverGen._
  private val rnd = new java.util.Random(seed)
  private val runLeft = Array.fill(Sensors)(0)
  private val streak = Array.fill(Sensors)(0)
  private var i = 0L
  private val epochDay0 = java.time.LocalDate.of(2007, 1, 1).toEpochDay
  private val names = Schemas.wireToCanonical.map(_._1)
  /** (sensor id, day index) of every reading that completes a streak. */
  val expectedAlerts = mutable.Set.empty[(String, Long)]

  def sensorId(s: Int): String = f"WATERBODY_$s%04d"

  /** The next reading as wire JSON. Values are tenths, so the
    * out-of-band test below is exact on the parsed floats.
    */
  def next(): String = {
    val s = (i % Sensors).toInt
    val day = i / Sensors
    i += 1
    if (runLeft(s) == 0 && rnd.nextDouble() < RunStart) runLeft(s) = 1 + rnd.nextInt(MaxRun)
    val bad = runLeft(s) > 0
    if (bad) runLeft(s) -= 1
    val (ph, dox) =
      if (!bad) (66 + rnd.nextInt(19), 350 + rnd.nextInt(800))
      else rnd.nextInt(3) match {
        case 0 => (50 + rnd.nextInt(14), 350 + rnd.nextInt(800)) // acid
        case 1 => (87 + rnd.nextInt(9), 350 + rnd.nextInt(800)) // alkaline
        case _ => (66 + rnd.nextInt(19), 50 + rnd.nextInt(200)) // low oxygen
      }
    def maybe(v: Int): Option[Int] = if (rnd.nextDouble() < NullShare) None else Some(v)
    val (p, d, c) = (maybe(ph), maybe(dox), maybe(300 + rnd.nextInt(5000)))
    val outOfBand = p.exists(x => x < 65 || x > 85) || d.exists(_ < 300)
    streak(s) = if (outOfBand) streak(s) + 1 else 0
    if (streak(s) == Pipeline.AlertThreshold) expectedAlerts += ((sensorId(s), day))
    def str(v: Option[Int]) = v.fold("null")(x => s"\"${x / 10}.${x % 10}\"")
    val date = java.time.LocalDate.ofEpochDay(epochDay0 + day).toString
    // field order of Schemas.wireToCanonical
    names.zip(Seq(s"\"${sensorId(s)}\"", s"\"$date\"", str(p), str(d), str(c)))
      .map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
  }

  def chunk(n: Int): Seq[String] = Vector.fill(n)(next())

  def dayOf(ts: java.sql.Timestamp): Long = ts.getTime / 86400000L - epochDay0
  def timestampOf(day: Long): java.sql.Timestamp = new java.sql.Timestamp((epochDay0 + day) * 86400000L)
}

object RiverGen {
  val Sensors = 200
  val RunStart = 0.08
  val MaxRun = 6
  val NullShare = 0.02
}

/** The reference topology on two lanes, each fed by its own
  * MemoryStream (one MemoryStream feeding two queries fails with
  * "Offsets committed out of order"): wire JSON through
  * `Pipeline.parseWire` into the bronze parquet sink, and into the
  * stateful alert machine upserting a ManifestTable. `first` is queued
  * before the queries start, so their first batch carries it (offset 0)
  * instead of waiting for the next trigger.
  */
final class Lanes(spark: SparkSession, dir: String, trigger: Trigger, first: Seq[String]) {
  import spark.implicits._
  private val bronzeIn = MemoryStream[String](spark)
  private val alertsIn = MemoryStream[String](spark)
  add(first)
  private def parsed(in: MemoryStream[String]): DataFrame =
    Pipeline.parseWire(in.toDF().select(col("value").cast("binary").as("value")))
  val bronze: StreamingQuery = Pipeline.toParquetSink(parsed(bronzeIn),
    s"$dir/bronze", s"$dir/bronze_ckpt", trigger)
  val alerts: StreamingQuery = Pipeline.alertsToWarehouse(
    parsed(alertsIn).as[SensorReading], s"$dir/alerts", s"$dir/alerts_ckpt", trigger)

  def add(rows: Seq[String]): Unit = { bronzeIn.addData(rows); alertsIn.addData(rows) }
  def drain(): Unit = { bronze.processAllAvailable(); alerts.processAllAvailable() }

  def stop(): Unit = { bronze.stop(); alerts.stop() }

  /** Bronze rows must equal rows offered, and the alert table must hold
    * exactly the generator's streak alerts. `wrong_rows` counts bronze rows
    * lost or extra plus alerts missing, extra or duplicated.
    */
  def check(offered: Long, gen: RiverGen): Map[String, Any] = {
    val bronzeRows = spark.read.parquet(s"$dir/bronze").count()
    val got = graft.sinks.ManifestTable.read(spark, s"$dir/alerts")
      .select("sensor_id", "alert_time").as[(String, java.sql.Timestamp)].collect()
      .map { case (s, t) => (s, gen.dayOf(t)) }
    val gotSet = got.toSet
    val wrongAlerts = (gotSet -- gen.expectedAlerts).size +
      (gen.expectedAlerts.toSet -- gotSet).size + (got.length - gotSet.size)
    Map("offered" -> offered, "bronze_rows" -> bronzeRows,
      "expected_alerts" -> gen.expectedAlerts.size, "alerts" -> got.length,
      "wrong_rows" -> (math.abs(bronzeRows - offered) + wrongAlerts))
  }

  /** Per-batch progress of both lanes, read from the engine's retained
    * `recentProgress` after the lanes stopped.
    */
  def progress: Map[String, Any] = Map(
    "bronze" -> River.batches(bronze), "alerts" -> River.batches(alerts))
}

object River {
  /** Offered rate and trigger of the open-loop phase. Each addData call
    * becomes its own local relation in the micro-batch, with its own scan
    * tasks, so rows are offered in 250 ms chunks: finer chunks would time
    * the MemoryStream's per-call tasks, which a broker source does not
    * have.
    */
  val OfferedRowsPerSec = 4000
  val ChunkEveryMs = 250
  // each alert batch carries ~0.4 s of fixed cost (state commit,
  // manifest commit), so a 1 s trigger falls behind and the cadence then
  // follows batch durations; 2 s keeps a regular cadence
  val TriggerMs = 2000L
  /** The closed-loop drain: a fixed backlog in fixed-size chunks, after
    * warm-up chunks of the same size on the same lanes (set-up).
    */
  val WarmChunks = 3
  val DrainChunks = 6
  val DrainChunkRows = 25000
  /** Rows of the untimed chunk the open loop's fresh queries first commit. */
  val PrimeRows = 1000

  def batches(q: StreamingQuery): Seq[Map[String, Any]] =
    q.recentProgress.toSeq.map { p =>
      val d = p.durationMs
      val src = p.sources.headOption
      def off(s: String): Long = Option(s).map(_.trim.toLong).getOrElse(-1L)
      Map(
        "start_offset" -> src.map(s => off(s.startOffset)).getOrElse(-1L),
        "end_offset" -> src.map(s => off(s.endOffset)).getOrElse(-1L),
        "rows" -> p.numInputRows,
        "end_ms" -> (java.time.Instant.parse(p.timestamp).toEpochMilli +
          Option(d.get("triggerExecution")).map(_.longValue).getOrElse(0L)),
        "duration_ms" -> (Seq("addBatch", "queryPlanning", "walCommit",
          "commitOffsets", "getBatch", "latestOffset")
          .flatMap(k => Option(d.get(k)).map(v => k -> v.longValue)).toMap),
        "state" -> p.stateOperators.headOption.map(s => Map(
          "rows" -> s.numRowsTotal, "memory_bytes" -> s.memoryUsedBytes,
          "commit_ms" -> s.commitTimeMs)))
    }

  /** Closed loop on lanes that already committed their warm-up chunks:
    * each chunk is added to both lanes and drained before the next.
    * Returns per-chunk wall times; chunks at the indices in `traced` run
    * inside the tracer's window.
    */
  def drain(lanes: Lanes, data: Seq[Seq[String]], tracer: Option[Tracer] = None,
            traced: Int => Boolean = _ => false): Seq[Double] =
    data.zipWithIndex.map { case (c, k) =>
      def one(): Double = {
        val t0 = System.nanoTime()
        lanes.add(c)
        lanes.drain()
        (System.nanoTime() - t0) / 1e6
      }
      tracer match {
        case Some(tr) if traced(k) => tr.traced(one())._1
        case _ => one()
      }
    }

  /** Open loop: chunks are due every [[ChunkEveryMs]] whatever the
    * engine's progress; each chunk's due and actual add times are kept
    * so row lag counts from when a row was due. Both lanes first commit
    * one priming chunk, so the first batch's query start-up is not
    * counted as lag; the timed chunks start at MemoryStream offset 1.
    */
  def openLoop(spark: SparkSession, dir: String, seed: Long, seconds: Double)
      : Map[String, Any] = {
    val gen = new RiverGen(seed)
    val perChunk = OfferedRowsPerSec * ChunkEveryMs / 1000
    val prime = gen.chunk(PrimeRows)
    val data = Vector.fill((seconds * 1000 / ChunkEveryMs).toInt)(gen.chunk(perChunk))
    val lanes = new Lanes(spark, dir, Trigger.ProcessingTime(TriggerMs), prime)
    val chunks = mutable.ArrayBuffer.empty[Map[String, Any]]
    try {
      lanes.drain()
      // processing-time triggers fire on multiples of the interval since
      // the epoch; chunks fall due half a chunk after those boundaries, so
      // every run has the same phase between offers and batches
      val start = (System.currentTimeMillis() / TriggerMs + 1) * TriggerMs + ChunkEveryMs / 2
      data.zipWithIndex.foreach { case (c, k) =>
        val due = start + k.toLong * ChunkEveryMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        lanes.add(c)
        chunks += Map("due_ms" -> due, "added_ms" -> System.currentTimeMillis(), "rows" -> c.size)
      }
      lanes.drain()
    } finally lanes.stop()
    Map("first_offset" -> 1, "chunks" -> chunks.toSeq, "lanes" -> lanes.progress,
      "check" -> lanes.check(prime.size + data.map(_.size.toLong).sum, gen))
  }

  private def medianOf(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  /** Direct timed calls into three layers on generated input. */
  def layerCalls(spark: SparkSession, dir: String, seed: Long): Map[String, Any] = {
    import spark.implicits._
    val gen = new RiverGen(seed)
    val wire = gen.chunk(50000)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def timed(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }

    // ETL: the reference's raw shape (month abbreviation + year)
    val raw = wire.toDF("value")
      .select(from_json(col("value"), Schemas.wireSchema).as("w")).select("w.*")
      .withColumn("d", to_date(col("FullDate")))
      .select(Seq(date_format(col("d"), "MMM").as("SampleDate"), year(col("d")).as("Years")) ++
        Schemas.wireToCanonical.map(_._1).filter(_ != "FullDate").map(n => col(s"`$n`")): _*)
      .localCheckpoint()
    val prep = (0 to 3).map(_ => timed(noop(graft.etl.Prep.prepare(raw)))).tail

    val bin = wire.toDF("value").select(col("value").cast("binary").as("value")).localCheckpoint()
    val parse = (0 to 3).map(_ => wire.size / timed(noop(Pipeline.parseWire(bin)))).tail

    // ManifestTable upserts of alert-shaped batches, as the alert lane commits them
    val alertRows = (0 until 9).map { b =>
      (0 until 50).map { j =>
        val s = (b * 50 + j) % RiverGen.Sensors
        (gen.sensorId(s), gen.timestampOf(b * 3 + j % 3), 3,
          Option(6.0f), Option(50.0f))
      }.toDF("sensor_id", "alert_time", "n_consecutive", "ph_value", "do_value")
    }
    val upsert = alertRows.map { df =>
      timed(graft.sinks.ManifestTable.upsertPruned(df.repartition(1), s"$dir/upsert",
        Seq("sensor_id", "alert_time"), "alert_time"): Unit) * 1e3
    }.tail
    Map("etl.prepare_s" -> medianOf(prep), "ingest.parse_rows_per_s" -> medianOf(parse),
      "sinks.upsert_ms" -> medianOf(upsert))
  }

  /** Set-up ends once the drain lanes have committed their warm-up
    * chunks; the timed drain then runs on the same, warm lanes, and the
    * open loop on fresh lanes after it.
    */
  def run(spark: SparkSession, seed: Long, seconds: Double, trace: Boolean,
          work: String): Map[String, Any] = {
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
    val dir = s"$work/stream"
    val gen = new RiverGen(seed + 1)
    val warm = Vector.fill(WarmChunks)(gen.chunk(DrainChunkRows))
    val data = Vector.fill(DrainChunks)(gen.chunk(DrainChunkRows))
    val lanes = new Lanes(spark, s"$dir/drain", Trigger.ProcessingTime(0), warm.head)
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val (setupEndMs, chunkMs) =
      try {
        lanes.drain()
        drain(lanes, warm.tail)
        System.gc()
        val setupEndMs = System.currentTimeMillis()
        Main.log("drain lanes warm")
        // traced runs trace every third chunk: the overhead compares those
        // with the untraced chunks around them
        (setupEndMs, drain(lanes, data, tracer, _ % 3 == 1))
      } finally lanes.stop()
    val drainCheck = lanes.check((WarmChunks + DrainChunks).toLong * DrainChunkRows, gen)
    Main.log("drain checked")
    val openSeconds = seconds * 0.5
    val common = Map("setup_end_ms" -> setupEndMs, "drain_chunk_ms" -> chunkMs,
      "drain_rows" -> DrainChunks * DrainChunkRows)
    if (!trace) {
      val open = openLoop(spark, s"$dir/open", seed, openSeconds)
      Main.log("open loop checked")
      common ++ Map("open" -> open, "checks" -> Seq(drainCheck, open("check")))
    } else {
      val (open, window) = tracer.get.traced(openLoop(spark, s"$dir/open", seed, openSeconds))
      val (tracedMs, plainMs) = chunkMs.zipWithIndex.partition(_._2 % 3 == 1)
      common ++ Map("open" -> open, "window" -> window.record,
        "overhead" -> Map("traced_ms" -> tracedMs.map(_._1), "untraced_ms" -> plainMs.map(_._1)),
        "layer_calls" -> layerCalls(spark, s"$dir/calls", seed),
        "checks" -> Seq(drainCheck, open("check")))
    }
  }
}
