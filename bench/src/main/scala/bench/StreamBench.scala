package bench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.api.{GraftStreams, TimeWindows, Windowed}

/** The two streaming workloads. Both read the row-index source
  * ([[ScheduledSource]]), derive their records from the row index and the
  * seed, run one topology built through `graft.api`, and write each
  * micro-batch to a digest sink: the sink materializes every output column
  * and keeps (rows, sum of 32-bit row hashes) per batch, which the
  * correctness check compares with a reference computed in batch mode from
  * the same generated records.
  *
  * Phases of one run:
  *   1. set-up, three times: build the topology, start it on a fresh
  *      checkpoint, run the warm-up batches (the third set-up keeps running);
  *   2. saturated: `SatBatches` fixed-size batches back to back (closed loop);
  *   3. open loop, `--seconds` long: the same query switches to a fixed
  *      schedule, `SlotRows` rows due every `SlotMs`; each trigger takes
  *      every row due.
  */
object StreamBench {

  /** Sizing of one streaming workload; rows are row indexes of the source. */
  final case class Spec(
      name: String,
      rowsPerBatch: Long,
      firstBatchRows: Long,
      warmBatches: Int,
      outputMode: String,
      topology: (GraftStreams, DataFrame, Long) => DataFrame,
      reference: (DataFrame, Long) => DataFrame,
      lateCount: Option[(SparkSession, Long, Long, Long) => Long] = None)

  // ---------------------------------------------------------------- generators

  /** Uniform double in [0, 1) from (seed, row, salt). */
  private def uniform(seed: Long, row: Column, salt: Int): Column =
    xxhash64(lit(seed), row, lit(salt)).bitwiseAND(lit((1L << 53) - 1)).cast("double") / lit(1L << 53).cast("double")

  private val EpochMs = 1704067200000L // 2024-01-01T00:00:00Z
  private implicit val longEnc: org.apache.spark.sql.Encoder[Long] = Encoders.scalaLong

  object WindowAgg {
    val Keys = 10000
    val WindowMs = 10000L
    val GraceMs = 5000L
    val StepMs = 1000L // event time advances one step per `rowsPerBatch` rows
    val PassBelow = 800 // `where` keeps values below this (80%)
    val LateShare = 0.01
    val OutOfOrderShare = 0.05
    val FirstLateStep = 16L
    val CatchUpSlots = 16L

    /** Records: Zipf(1) key over `Keys`, value in [0, 1000), event time.
      * In-order records carry the step's base time; out-of-order ones are
      * up to `GraceMs` older (never dropped); late ones lie beyond any
      * watermark a catch-up batch can see and each falls into a window of
      * its own, so the operator's drop counter counts them one by one. */
    def records(rows: DataFrame, seed: Long, rowsPerStep: Long): DataFrame = {
      val v = col("value")
      val step = v.divide(lit(rowsPerStep)).cast("long")
      val u = uniform(seed, v, 3)
      val late = step >= FirstLateStep && u < LateShare
      val ooo = !late && u < LateShare + OutOfOrderShare
      val offsetMs = when(late, lit(CatchUpSlots * StepMs + GraceMs + WindowMs) +
          pmod(v, lit(rowsPerStep * CatchUpSlots)) * lit(WindowMs))
        .when(ooo, floor(uniform(seed, v, 4) * lit(GraceMs - 1)).cast("long"))
        .otherwise(lit(0L))
      rows.select(col("*"),
        v.as("row"),
        (floor(exp(uniform(seed, v, 1) * lit(math.log(Keys.toDouble)))).cast("long") - 1)
          .as("k"),
        pmod(xxhash64(lit(seed), v, lit(2)), lit(1000L)).as("v"),
        timestamp_millis(lit(EpochMs) + step * lit(StepMs) - offsetMs).as("et"),
        late.as("late"))
    }

    def topology(rowsPerStep: Long)(gs: GraftStreams, src: DataFrame, seed: Long): DataFrame =
      gs.stream[Long, Long](records(src, seed, rowsPerStep), col("k"), col("v"), col("et"))
        .where(col("value") < PassBelow)
        .groupByKey
        .windowedBy(TimeWindows(WindowMs, WindowMs, GraceMs))
        .count()(Encoders.product[Windowed[Long]])
        .toStream
        .toDF

    /** Expected sink rows per batch: every (window, key) a batch touched,
      * with its running count and running max event time (update mode). */
    def reference(rowsPerStep: Long)(rows: DataFrame, seed: Long): DataFrame = {
      val recs = records(rows, seed, rowsPerStep)
        .where(col("v") < PassBelow && !col("late"))
      val perBatch = recs
        .groupBy(window(col("et"), s"$WindowMs milliseconds").as("w"), col("k"), col("batch"))
        .agg(count(lit(1)).as("c"), max(col("et")).as("m"))
      val run = Window.partitionBy(col("w"), col("k")).orderBy(col("batch"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perBatch.select(col("batch"),
        struct(col("k").as("key"), col("w.start").as("start"), col("w.end").as("end")).as("key"),
        sum(col("c")).over(run).as("value"), max(col("m")).over(run).as("ts"))
    }

    def lateCount(rowsPerStep: Long)(spark: SparkSession, seed: Long, from: Long, to: Long): Long =
      records(spark.range(from, to).toDF("value"), seed, rowsPerStep)
        .where(col("late") && col("v") < PassBelow).count()
  }

  object TableJoin {
    val TableKeys = 1000000L
    val UpdateShare = 0.2 // table updates : stream lookups = 1 : 4

    /** Rows below `TableKeys` load the table (key = row); later rows are a
      * table update with probability `UpdateShare`, else a stream lookup,
      * on a uniform key. Event time is one microsecond per row. */
    def records(rows: DataFrame, seed: Long): DataFrame = {
      val v = col("value")
      val prefill = v < TableKeys
      rows.select(col("*"),
        v.as("row"),
        when(prefill, v).otherwise(pmod(xxhash64(lit(seed), v, lit(6)), lit(TableKeys))).as("k"),
        (prefill || uniform(seed, v, 7) < UpdateShare).as("is_table"),
        pmod(xxhash64(lit(seed), v, lit(8)), lit(1000000L)).as("x"),
        timestamp_micros(lit(EpochMs * 1000L) + v).as("et"))
    }

    def topology(gs: GraftStreams, src: DataFrame, seed: Long): DataFrame = {
      val recs = records(src, seed)
      val table = gs.table[Long, Long](recs.where(col("is_table")), col("k"), col("x"), col("et"))
      gs.stream[Long, Long](recs.where(!col("is_table")), col("k"), col("x"), col("et"))
        .joinTable(table)((v, t) => v * 31 + t)
        .toDF
    }

    /** Expected join rows: each lookup sees the key's latest earlier update. */
    def reference(rows: DataFrame, seed: Long): DataFrame = {
      val recs = records(rows, seed)
      val before = Window.partitionBy(col("k")).orderBy(col("row"))
        .rowsBetween(Window.unboundedPreceding, -1)
      recs.withColumn("cur", last(when(col("is_table"), col("x")), ignoreNulls = true).over(before))
        .where(!col("is_table") && col("cur").isNotNull)
        .select(col("batch"), col("k").as("key"), (col("x") * 31 + col("cur")).as("value"),
          col("et").as("ts"))
    }
  }

  /** Batches of the saturated phase. */
  val SatBatches = 16
  /** Open-loop schedule: `SlotRows` rows due every `SlotMs`; the first
    * `OpenWarmSlots` slots are not measured. */
  val SlotRows = 1000L
  val SlotMs = 100L
  val OpenWarmSlots = 5

  def spec(name: String): Spec = name match {
    case "window-agg" =>
      val r = 20000L
      Spec(name, rowsPerBatch = r, firstBatchRows = r, warmBatches = 4, outputMode = "update",
        topology = WindowAgg.topology(r), reference = WindowAgg.reference(r),
        lateCount = Some(WindowAgg.lateCount(r)))
    case "table-join" =>
      Spec(name, rowsPerBatch = 20000L, firstBatchRows = TableJoin.TableKeys, warmBatches = 3,
        outputMode = "append", topology = TableJoin.topology, reference = TableJoin.reference)
  }

  // ---------------------------------------------------------------- sink

  /** Per-batch digest and completion time, filled by the sink. */
  final case class Done(endMs: Double, cpuS: Double, rows: Long, hash: Long)

  final class SinkLog {
    private val done = mutable.TreeMap.empty[Long, Done]

    def record(batchId: Long, rows: Long, hash: Long): Unit = synchronized {
      done(batchId) = Done(Clock.nowMs, Jvm.cpuS, rows, hash)
      notifyAll()
    }
    def get(batchId: Long): Option[Done] = synchronized(done.get(batchId))
    def last: Option[Long] = synchronized(done.lastOption.map(_._1))
    def all: Seq[(Long, Done)] = synchronized(done.toSeq)

    /** Blocks until `batchId` is done; fails if the query dies first. */
    def await(batchId: Long, q: StreamingQuery, timeoutMs: Long = 120000): Done = {
      val deadline = System.currentTimeMillis() + timeoutMs
      synchronized {
        while (!done.contains(batchId)) {
          q.exception.foreach(e => throw e)
          if (!q.isActive) throw new IllegalStateException(s"query stopped before batch $batchId")
          if (System.currentTimeMillis() > deadline)
            throw new IllegalStateException(s"batch $batchId not done in $timeoutMs ms")
          wait(50)
        }
        done(batchId)
      }
    }
  }

  /** Row count and the sum of each row's 32-bit hash over every column. */
  def digest(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(df.columns.map(col).toIndexedSeq: _*).bitwiseAND(lit(0xffffffffL))), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  // ---------------------------------------------------------------- run

  final case class Phase(query: StreamingQuery, log: SinkLog, checkpoint: String)

  def start(spark: SparkSession, spec: Spec, seed: Long, checkpoint: String, cores: Int,
      tag: String, tracer: Tracer): (Phase, Double) = {
    val log = new SinkLog
    val src = spark.readStream.format(classOf[ScheduledSource].getName)
      .option("rowsPerBatch", spec.rowsPerBatch)
      .option("firstBatchRows", spec.firstBatchRows)
      .option("slotRows", SlotRows)
      .option("slotMs", SlotMs)
      .option("numPartitions", cores)
      .option("tag", tag)
      .load()
    val t0 = System.nanoTime()
    val out = tracer.span("api.build")(spec.topology(GraftStreams(spark), src, seed))
    val buildMs = (System.nanoTime() - t0) / 1e6
    val q = tracer.span("query.start")(out.writeStream
      .queryName(spec.name.replace('-', '_'))
      .option("checkpointLocation", checkpoint)
      .outputMode(spec.outputMode)
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        val (n, h) = digest(batch)
        log.record(id, n, h)
      }
      .start())
    (Phase(q, log, checkpoint), buildMs)
  }

  /** End row offset of one batch in the checkpoint's offset log, once the
    * log entry is complete. */
  def batchEnd(checkpoint: String, batchId: Long): Option[Long] = {
    val f = new java.io.File(s"$checkpoint/offsets/$batchId")
    // the log entry appears by rename; a read racing it is retried
    Iterator.range(0, 5).map { i =>
      if (i > 0) Thread.sleep(10)
      scala.util.Try {
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().toSeq.last.trim.toLong finally src.close()
      }.toOption
    }.collectFirst { case Some(e) => e }
  }

  /** End row offset of every batch in the checkpoint's offset log. */
  def batchEnds(checkpoint: String): Map[Long, Long] =
    Option(new java.io.File(checkpoint, "offsets").listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong)
      .flatMap(b => batchEnd(checkpoint, b).map(b -> _)).toMap

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Value at quantile q by linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt; val hi = pos.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Quantile of the open-loop tail metric. Samples of one batch are
    * correlated, so a tail quantile needs samples from about ten distinct
    * batches beyond it; an open loop of 10-20 s holds 25-50 batches, which
    * leaves ten beyond p80 (and ten beyond p95 would need about 200). */
  val TailQ = 0.8

  /** Distinct batches of the (latency, batch) samples above the latency
    * at quantile `q`. */
  def batchesBeyond(samples: Seq[(Double, Long)], q: Double): Int = {
    val cut = quantile(samples.map(_._1), q)
    samples.collect { case (l, b) if l > cut => b }.distinct.size
  }

  def run(spark: SparkSession, a: Main.Args, tracer: Tracer, mem: Jvm.MemUse): Main.Outcome = {
    val spec = this.spec(a.workload)
    val probes = if (a.trace) Some(new Probes(spark, tracer)) else None
    val out = mutable.LinkedHashMap.empty[String, Double]
    val notes = mutable.ArrayBuffer.empty[String]
    val ckpt = (i: Int) => s"${a.work}/ckpt-$i"
    val tag = s"${spec.name}-${a.seed}-${System.nanoTime()}"
    // a traced run splits the saturated phase into four stretches, listeners
    // off, on, on, off (balanced against warm-up drift); the ratio of the
    // two pairs is the tracing overhead
    val parts = if (a.trace) Seq(false, true, true, false).map(_ -> SatBatches / 2)
      else Seq(false -> SatBatches)

    // ---- set-up, several times; the last query continues into the saturated phase
    val setups = mutable.ArrayBuffer.empty[Double]
    val builds = mutable.ArrayBuffer.empty[Double]
    var last: Phase = null
    for (i <- 1 to Main.Setups) tracer.span("setup", "i" -> i) {
      val t0 = Clock.nowMs
      val (p, buildMs) = start(spark, spec, a.seed, ckpt(i), a.cores, s"$tag-$i", tracer)
      builds += buildMs
      tracer.span("warmup")(p.log.await(spec.warmBatches - 1L, p.query))
      setups += (Clock.nowMs - t0) / 1000.0
      Main.log(f"setup $i: ${setups.last}%.2f s")
      if (i < Main.Setups) p.query.stop() else last = p
    }

    // ---- saturated closed loop
    val satRps = mutable.ArrayBuffer.empty[(Boolean, Double)]
    var cpu = 0.0
    var satWall = 0.0
    var first = spec.warmBatches - 1L
    for ((traced, n) <- parts) tracer.span("saturated", "traced" -> traced) {
      if (traced) probes.foreach(_.attach())
      val from = last.log.await(first, last.query)
      val to = last.log.await(first + n, last.query)
      satRps += traced -> sustainedRps(last.log, first, n, spec.rowsPerBatch)
      cpu += to.cpuS - from.cpuS
      satWall += (to.endMs - from.endMs) / 1000.0
      if (traced) probes.foreach(_.detach())
      first += n
      Main.log(f"saturated ($n batches, traced $traced): ${(to.endMs - from.endMs) / 1000.0}%.2f s")
    }

    // ---- open loop: the same query switches to `SlotRows` rows due every `SlotMs`
    val openSlots = (a.seconds * 1000L / SlotMs).toInt
    val cpuOpen0 = Jvm.cpuS
    val gcOpen0 = Jvm.gcMs
    val openTag = s"$tag-${Main.Setups}"
    probes.foreach(_.attach())
    ScheduledSource.startSchedule(openTag)
    val sched = tracer.span("open-loop") {
      var s: Option[ScheduledSource.Schedule] = None
      while (s.isEmpty) {
        last.query.exception.foreach(e => throw e)
        Thread.sleep(5); s = ScheduledSource.schedule(openTag)
      }
      val lastRow = s.get.baseRow + (OpenWarmSlots + openSlots) * SlotRows
      // wait for the sink to finish a batch that reaches the last due row
      while (!last.log.last.flatMap(b => batchEnd(last.checkpoint, b)).exists(_ >= lastRow)) {
        last.query.exception.foreach(e => throw e)
        Thread.sleep(20)
      }
      s.get
    }
    cpu += Jvm.cpuS - cpuOpen0
    val gcOpenMs = Jvm.gcMs - gcOpen0
    Main.log("open loop done")
    val memMb = mem.mb()
    last.query.stop()

    // latency of each measured slot: due time to the sink end of its batch
    val ends = batchEnds(last.checkpoint).toSeq.sortBy(_._1)
    val endRows = ends.map(_._2).toArray
    def batchOfRow(row: Long): Option[Long] = {
      val i = java.util.Arrays.binarySearch(endRows, row + 1) match {
        case i if i >= 0 => i
        case i => -i - 1
      }
      if (i < ends.size) Some(ends(i)._1) else None
    }
    val samples = (OpenWarmSlots until OpenWarmSlots + openSlots).flatMap { k =>
      val row = sched.baseRow + k * SlotRows
      batchOfRow(row).flatMap(b => last.log.get(b).map(d => (d.endMs - sched.dueMs(k), b)))
    }
    val beyond = batchesBeyond(samples, TailQ)
    val openBatches = samples.map(_._2).distinct.size

    out("throughput_rps") = median(satRps.map(_._2).toSeq)
    out("latency_p50_ms") = median(samples.map(_._1))
    out("latency_p80_ms") = quantile(samples.map(_._1), TailQ)
    out("wall_s") = satWall
    out("cpu_s") = cpu
    out("setup_s") = a.sessionS + median(setups.toSeq)
    out("mem_mb") = memMb
    notes += f"saturated: ${SatBatches} batches x ${spec.rowsPerBatch} rows; " +
      f"open loop: $openSlots slots x ${SlotRows} rows every ${SlotMs} ms in " +
      f"$openBatches batches, $beyond of them beyond p80"
    notes += s"memory: $mem"

    // ---- correctness, outside the timed phases
    val (attempted, failed, checkNotes, ranges) = tracer.span("check") {
      check(spark, spec, a.seed, last.checkpoint, last.log)
    }
    notes ++= checkNotes
    Main.log("check done")
    var fails = failed
    var tries = attempted

    // ---- per-layer metrics (traced run)
    probes.foreach { pr =>
      pr.detach()
      pr.close()
      val layer = mutable.LinkedHashMap.empty[String, Double]
      val rps = (t: Boolean) => median(satRps.collect { case (`t`, r) => r }.toSeq)
      layer("trace.overhead_pct") = (rps(false) / rps(true) - 1.0) * 100.0
      layer("trace.batches_beyond_p80") = beyond
      layer("api.build_ms") = median(builds.toSeq)
      val progs = pr.progress.all.filter(_.numInputRows > 0)
      def dur(k: String): Double =
        median(progs.map(p => Option(p.durationMs.get(k)).map(_.doubleValue()).getOrElse(0.0)))
      layer("microbatch.latest_offset_ms") = dur("latestOffset")
      layer("microbatch.get_batch_ms") = dur("getBatch")
      layer("microbatch.query_planning_ms") = dur("queryPlanning")
      layer("microbatch.add_batch_ms") = dur("addBatch")
      layer("microbatch.wal_commit_ms") = dur("walCommit")
      layer("microbatch.commit_offsets_ms") = dur("commitOffsets")
      layer("microbatch.trigger_ms") = dur("triggerExecution")
      layer("microbatch.batches") = progs.size
      layer("microbatch.rows_per_batch") = median(progs.map(_.numInputRows.toDouble))
      val ops = progs.flatMap(_.stateOperators.headOption)
      def op(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double): Double =
        median(ops.map(f))
      layer("streaming.state_rows") = ops.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0)
      layer("streaming.state_mem_bytes") = ops.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0)
      layer("streaming.state_update_ms") = op(_.allUpdatesTimeMs.toDouble)
      layer("streaming.state_commit_ms") = op(_.commitTimeMs.toDouble)
      layer("streaming.state_removal_ms") = op(_.allRemovalsTimeMs.toDouble)
      layer("streaming.rows_updated") = op(_.numRowsUpdated.toDouble)
      layer("streaming.rows_removed") = op(_.numRowsRemoved.toDouble)
      val dropped = ops.map(_.numRowsDroppedByWatermark).sum
      layer("streaming.rows_dropped_late") = dropped.toDouble
      layer("streaming.watermark_lag_ms") = median(progs.flatMap { p =>
        val et = p.eventTime
        for (wm <- Option(et.get("watermark")); mx <- Option(et.get("max")))
          yield (java.time.Instant.parse(mx).toEpochMilli - java.time.Instant.parse(wm).toEpochMilli).toDouble
      })
      // generated late records over the batches the listener saw
      spec.lateCount.foreach { count =>
        val seen = progs.map(_.batchId).toSet
        val late = ranges.collect { case (b, (s, e)) if seen(b) => count(spark, a.seed, s, e) }.sum
        layer("input.late_records") = late.toDouble
        tries += 1
        if (late != dropped) {
          fails += 1
          notes += s"late records: generated $late, dropped by the watermark $dropped"
        }
      }
      // open-loop trigger lateness and backlog, from progress start times
      val openProgs = progs.filter(p => ranges.get(p.batchId).exists(_._1 >= sched.baseRow))
      val lateMs = openProgs.flatMap { p =>
        val slot = (ranges(p.batchId)._1 - sched.baseRow) / SlotRows
        if (slot < OpenWarmSlots) None
        else Some(java.time.Instant.parse(p.timestamp).toEpochMilli - sched.dueMs(slot).toDouble)
      }
      layer("input.trigger_late_ms_p95") = quantile(lateMs, 0.95)
      layer("input.backlog_rows_max") = openProgs.map { p =>
        val (s, e) = ranges(p.batchId); math.max(0L, e - s - SlotRows)
      }.foldLeft(0L)(math.max).toDouble
      layer("input.passthrough_rps") = tracer.span("passthrough")(passthrough(spark, spec, a, tracer))
      Main.taskLayer(pr.tasks, pr.tasks.tags, layer)
      layer("jvm.heap_after_gc_peak_mb") = pr.heapAfterGcPeakMb
      layer("jvm.driver_gc_ms") = gcOpenMs.toDouble
      out ++= layer
    }
    Main.Outcome(out.toMap, tries, fails, notes.toSeq)
  }

  /** Rows per second of the median interval between the `n` batches after
    * batch `first`: a stall that hits a few batches moves the phase's wall
    * time, not this sustained rate. */
  private def sustainedRps(log: SinkLog, first: Long, n: Int, rowsPerBatch: Long): Double = {
    val end = (b: Long) => log.get(b).get.endMs
    rowsPerBatch / (median((first + 1 to first + n).map(b => end(b) - end(b - 1))) / 1000.0)
  }

  /** Single-core baseline: one set-up and a short saturated window-agg phase
    * (the session runs `local[1]`). */
  def singleCore(spark: SparkSession, a: Main.Args, tracer: Tracer): Main.Outcome = {
    val spec = this.spec("window-agg")
    val (p, _) = start(spark, spec, a.seed, s"${a.work}/ckpt-single-core", a.cores, "single-core", tracer)
    try {
      val n = SatBatches / 2
      p.log.await(spec.warmBatches - 1L + n, p.query)
      val rps = sustainedRps(p.log, spec.warmBatches - 1L, n, spec.rowsPerBatch)
      Main.Outcome(Map("spark.single_core_rps" -> rps), 0, 0, Nil)
    } finally p.query.stop()
  }

  /** Source and generation alone, into the same sink: the harness ceiling. */
  private def passthrough(spark: SparkSession, spec: Spec, a: Main.Args, tracer: Tracer): Double = {
    val bare = spec.copy(name = spec.name + "-passthrough",
      topology = (_, src, seed) => spec.name match {
        case "window-agg" => WindowAgg.records(src, seed, spec.rowsPerBatch)
        case _ => TableJoin.records(src, seed)
      }, outputMode = "append", firstBatchRows = spec.rowsPerBatch)
    val (p, _) = start(spark, bare, a.seed, s"${a.work}/ckpt-passthrough", a.cores, "passthrough", tracer)
    try {
      p.log.await(bare.warmBatches - 1L + SatBatches, p.query)
      sustainedRps(p.log, bare.warmBatches - 1L, SatBatches, bare.rowsPerBatch)
    } finally p.query.stop()
  }

  /** Compares every batch the sink saw with the reference. Returns
    * (attempted, failed, notes, batch row ranges). */
  private def check(spark: SparkSession, spec: Spec, seed: Long, checkpoint: String,
      log: SinkLog): (Long, Long, Seq[String], Map[Long, (Long, Long)]) = {
    import spark.implicits._
    val ends = batchEnds(checkpoint)
    val got = log.all.toMap
    val ranges = got.keys.flatMap(b => ends.get(b).map(e => b -> (ends.getOrElse(b - 1, 0L), e))).toMap
    val endRow = ranges.values.map(_._2).foldLeft(0L)(math.max)
    // every batch past the first covers whole steps of `r` rows
    val first = spec.firstBatchRows
    val r = BigInt(spec.rowsPerBatch).gcd(BigInt(SlotRows)).toLong
    val stepOf = (row: Long) => if (row < first) -1L else (row - first) / r
    val stepToBatch = ranges.toSeq.flatMap { case (b, (s, e)) =>
      if (s >= e) Nil else (stepOf(s) to stepOf(e - 1)).map(st => (st, b))
    }.toDF("step", "batch")
    val rows = spark.range(0L, endRow).toDF("value")
      .withColumn("step", when(col("value") < first, lit(-1L))
        .otherwise((col("value") - first).divide(lit(r)).cast("long")))
      .join(broadcast(stepToBatch), "step")
    val ref = spec.reference(rows, seed)
    val outCols = ref.columns.filter(_ != "batch").toIndexedSeq.map(col)
    val expected = ref.groupBy(col("batch"))
      .agg(count(lit(1)), sum(xxhash64(outCols: _*).bitwiseAND(lit(0xffffffffL))))
      .as[(Long, Long, Long)].collect().map { case (b, n, h) => b -> (n, h) }.toMap
    val notes = mutable.ArrayBuffer.empty[String]
    var failed = 0L
    for (b <- ranges.keys.toSeq.sorted) {
      val g = got(b)
      val e = expected.getOrElse(b, (0L, 0L))
      if ((g.rows, g.hash) != e) {
        failed += 1
        if (notes.size < 5)
          notes += s"batch $b: sink rows=${g.rows} hash=${g.hash}, reference rows=${e._1} hash=${e._2}"
      }
    }
    (ranges.size.toLong, failed, notes.toSeq, ranges)
  }
}
