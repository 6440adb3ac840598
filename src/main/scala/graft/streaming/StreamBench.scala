package graft.streaming

import graft.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.Files

/** Micro-batch THROUGHPUT harness for the streaming family (VERDICT r7
  * #5: the correctness gate covers E3–E31's results, but carried zero
  * perf signal on the state-store paths). Five representative
  * pipelines — tumbling-window agg, watermark dedup,
  * `flatMapGroupsWithState` sessionization, `transformWithState` on
  * RocksDB, and a stream-stream interval join — run over ONE staged
  * parquet feed, forced into real micro-batches with
  * `maxFilesPerTrigger` (AvailableNow would otherwise swallow the
  * whole feed in one batch and measure a batch plan, not streaming
  * state mechanics). The metric is events/sec over the feed: wall
  * time of start→termination, warm median of 3 (cold run first for
  * codegen/listing), staging excluded.
  *
  * The feed replicates the events table `copies`× with event_ids
  * offset per replica (distinct ids — state genuinely grows; a
  * verbatim replication would hand `dropDuplicatesWithinWatermark`
  * a 50% discard rate and overstate its throughput) and is staged as
  * `nFiles` TIME-RANGE-ORDERED files ([[StreamStage.stageTimeOrdered]])
  * so `maxFilesPerTrigger=2` yields nFiles/2 micro-batches arriving
  * in event-time order: the watermark advances BEHIND the data and
  * every row does real state work. A randomly-partitioned feed would
  * let batch 1's max timestamp vault the watermark past the rest of
  * the feed, silently late-dropping most rows — the harness would
  * then measure an idle state path and report fiction.
  */
object StreamBench {

  /** `jobs` = Spark jobs launched by the MEDIAN-time run (a counting
    * listener bracketed by listener-bus drains, so the count is exact
    * for the run's wall window). The adjudication channel VERDICT r13
    * #7 asked for: a micro-batched stateful query's wall time on a
    * slow-dispatch box is dominated by jobs × per-job cost (source
    * listing + per-partition state commits per batch), so the artifact
    * must carry the job count beside the seconds for the arithmetic to
    * be checkable in-band.
    */
  case class Entry(name: String, sec: Double, minSec: Double, events: Long,
                   jobs: Long = 0L) {
    def eventsPerSec: Double = events / math.max(sec, 1e-9)
  }

  private class JobCounter extends org.apache.spark.scheduler.SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicLong()
    override def onJobStart(
        jobStart: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
  }

  private val nFiles = 16
  private val filesPerTrigger = 2

  /** The interval join runs with LARGER micro-batches (4 files → 4
    * batches instead of 8). Profiled r9 (sf0.1, 200k events, one
    * stream-stream join per run): its wall time is a per-batch FLOOR of ~0.9-1.0 s
    * that barely moves with shuffle partitions (sp=4/8/16 → 7.4/8.0/
    * 11.6 s) or provider (RocksDB + single-store join stateFormat v3
    * → 6.9 s), because a stream-stream join commits FOUR state stores
    * per partition per batch plus two source scans — ~2 s of summed
    * store-commit time per batch vs one store for every other entry.
    * Halving the batch count halves the total (8.0 → 4.4 s) with the
    * state mechanics still exercised across 4 real micro-batches —
    * trigger sizing is THE production dial for fixed-cost-dominated
    * stateful streams, so the harness applies it where the fixed cost
    * is 4× structural, and nowhere else (the other entries keep 8
    * batches for round-over-round comparability).
    */
  private val joinFilesPerTrigger = 4

  /** State partition count for the timed queries. A stateful query's
    * state-store partitioning is frozen from `spark.sql.shuffle
    * .partitions` at its FIRST batch, and every micro-batch then pays
    * commit overhead (delta file + snapshot bookkeeping) per state
    * partition per store — a stream-stream join carries 4 stores/
    * partition, so at the session default of 32 partitions one
    * 8-batch run commits 4·32·8 ≈ 1k store instances for a 200k-event
    * feed whose per-partition state is a few KB. Sizing state
    * partitions to load is the standard Structured Streaming dial
    * (set before first batch, fresh checkpoint); 8 here cuts the
    * fixed commit fan-out 4× while keeping 8-way state parallelism.
    * On a real cluster this number tracks executor count × state
    * volume, not the batch-side shuffle width.
    */
  private val statePartitions = 8

  def run(spark: SparkSession, dir: String,
          copies: Int = 2, warmRuns: Int = 3): Seq[Entry] = {
    val base = Files.createTempDirectory("graft_streambench")
    val feed = base.toString + "/feed"
    val spKey = "spark.sql.shuffle.partitions"
    val priorSp = spark.conf.get(spKey)
    spark.conf.set(spKey, statePartitions.toString)
    // registered here so the finally below removes it on ANY exit —
    // a mid-run failure must not leak a listener onto the long-lived
    // shared session (review pass 1, round 14)
    val counter = new JobCounter
    spark.sparkContext.addSparkListener(counter)
    try {
      val raw = Tables.eventsTsAsNanosLong(spark, dir)
      val maxId = raw.agg(max("event_id")).head.getLong(0) + 1
      val reps = spark.range(copies).select(col("id").as("rep"))
      val replicated = raw.crossJoin(broadcast(reps))
        .withColumn("event_id", col("event_id") + col("rep") * maxId)
        .drop("rep")
      StreamStage.stageTimeOrdered(replicated, "ts", feed, nFiles)
      val events = spark.read.parquet(feed).count()
      val schema = spark.read.parquet(feed).schema

      // one micro-batched file stream over the staged feed
      def stream(fpt: Int = filesPerTrigger): DataFrame = spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", fpt)
        .parquet(feed)
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))

      def pipeline(name: String): (DataFrame, String) = name match {
        case "s_window_agg" =>
          (stream()
            .withWatermark("ts", "1 hour")
            .groupBy(window(col("ts"), "1 hour"), col("event_type"))
            .agg(count(lit(1)).as("n"), sum("value").as("total_value")),
            "update")
        case "s_dedup" =>
          (stream()
            .withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark("event_id"),
            "append")
        case "s_sessionize_fmgws" =>
          import spark.implicits._
          import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
          val gapUs = 30 * 60L * 1000000L
          val typed = stream()
            .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
            .as[(Long, Long)]
          // E6's state shape without the sentinel flush: merge the
          // batch into the open tail, emit gap-closed sessions, keep
          // the tail — the per-batch state read/write path is the cost
          def fn(userId: Long, rows: Iterator[(Long, Long)],
                 state: GroupState[(Long, Long, Long)]): Iterator[(Long, Long, Long, Long)] = {
            val ts = rows.map(_._2).toArray.sorted
            val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
            var open: Option[(Long, Long, Long)] = state.getOption
            ts.foreach { t =>
              open match {
                case Some((s, last, n)) if t - last <= gapUs => open = Some((s, t, n + 1))
                case Some((s, last, n)) =>
                  out += ((userId, s, n, last - s)); open = Some((t, t, 1L))
                case None => open = Some((t, t, 1L))
              }
            }
            open.foreach(state.update)
            out.iterator
          }
          (typed.groupByKey(_._1)
            .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
            .toDF("user_id", "session_start_us", "n_events", "duration_us"),
            "append")
        case "s_tws_rocksdb" =>
          import spark.implicits._
          (stream()
            .filter(col("event_type") === "purchase")
            .select(col("user_id"), col("value"))
            .as[(Long, Double)]
            .groupByKey(_._1)
            .transformWithState(new PurchaseStatsProcessor,
              org.apache.spark.sql.streaming.TimeMode.None(),
              org.apache.spark.sql.streaming.OutputMode.Update())
            .toDF("user_id", "n_purchases", "total_value"),
            "update")
        case "s_join_interval" =>
          val clicks = stream(joinFilesPerTrigger)
            .filter(col("event_type") === "click")
            .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
            .withWatermark("click_ts", "1 hour")
          val purchases = stream(joinFilesPerTrigger)
            .filter(col("event_type") === "purchase")
            .select(col("user_id"), col("event_id"), col("ts").as("p_ts"))
            .withWatermark("p_ts", "1 hour")
          (purchases.join(clicks,
            col("user_id") === col("c_user") &&
              col("click_ts") <= col("p_ts") &&
              col("click_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES")),
            "append")
      }

      def timeOnce(name: String): (Double, Long) = {
        val (df, mode) = pipeline(name)
        val ckpt = base.toString + s"/ckpt_${name}_${System.nanoTime()}"
        // drain + snapshot the job counter so the count covers exactly
        // this run's window (the bus is async)
        org.apache.spark.sql.graft.ListenerBusDrain.drain(spark.sparkContext)
        val jobs0 = counter.jobs.get()
        val t0 = System.nanoTime()
        val q = df.writeStream
          .format("noop")
          .outputMode(mode)
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val sec = (System.nanoTime() - t0) / 1e9
        org.apache.spark.sql.graft.ListenerBusDrain.drain(spark.sparkContext)
        val jobs = counter.jobs.get() - jobs0
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
        (sec, jobs)
      }

      def bench(name: String): Entry = {
        timeOnce(name) // cold: codegen + listing
        val runs = Seq.fill(warmRuns)(timeOnce(name)).sortBy(_._1)
        // load sentinel beside each streaming entry too — r11's 7-20%
        // streaming dip was adjudicated as box load only by analogy;
        // the probe channel carries the evidence directly
        graft.BenchSentinel.record(spark, s"stream:$name")
        val (medSec, medJobs) = runs(runs.length / 2)
        Entry(name, medSec, runs.head._1, events, medJobs)
      }

      val plain = Seq("s_window_agg", "s_dedup", "s_sessionize_fmgws",
        "s_join_interval").map(bench)

      // transformWithState requires the RocksDB provider; scope the
      // conf to this entry and restore (the E18 discipline — leaking
      // it would silently switch every later streaming query's store)
      val providerKey = "spark.sql.streaming.stateStore.providerClass"
      val prior = spark.conf.getOption(providerKey)
      spark.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val tws =
        try bench("s_tws_rocksdb")
        finally prior match {
          case Some(v) => spark.conf.set(providerKey, v)
          case None    => spark.conf.unset(providerKey)
        }
      plain :+ tws
    } finally {
      spark.sparkContext.removeSparkListener(counter)
      spark.conf.set(spKey, priorSp)
      org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
    }
  }
}
