package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import java.sql.Timestamp
import java.util.UUID
import scala.jdk.CollectionConverters._

/** Streaming ingest mode (SURVEY §2.9): the reference is pure batch, but
  * its W1/W2 sliding stock windows map directly onto Structured
  * Streaming event-time windows with a watermark = the ad lifespan. The
  * same aggregation code then serves both modes.
  */
object StreamingOps {

  /** Sliding stock count over a stream of (created, ...) rows — the
    * streaming twin of w1_sliding_window_stock. Late data beyond the
    * 6-week lifespan is dropped by the watermark, matching the batch
    * semantics where a window never reopens.
    */
  def slidingStock(events: DataFrame,
      timeCol: String = "created",
      watermark: String = "42 days",
      length: String = "42 days",
      slide: String = "7 days"): DataFrame =
    events
      .withWatermark(timeCol, watermark)
      .groupBy(window(col(timeCol), length, slide))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("date").as("ws"), col("n"))

  /** Per-key session state: running count + last-seen timestamp via
    * mapGroupsWithState — the custom-state surface (SURVEY §2.8→Catalyst
    * table, streaming row).
    */
  case class KeyState(key: String, n: Long, lastSeen: Timestamp)

  def runningCounts(spark: SparkSession, events: DataFrame,
      keyCol: String, timeCol: String): DataFrame = {
    import spark.implicits._
    events
      .select(col(keyCol).as("k"), col(timeCol).as("t"))
      .as[(String, Timestamp)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[(String, Timestamp)],
            state: GroupState[KeyState]) =>
          val prev = state.getOption.getOrElse(KeyState(key, 0L, null))
          val batch = rows.toSeq
          val latest = (prev.lastSeen +: batch.map(_._2))
            .filter(_ != null).maxBy(_.getTime)
          val next = KeyState(key, prev.n + batch.size, latest)
          state.update(next)
          next
      }
      .toDF()
  }

  /** Streaming exact dedup: state-backed `dropDuplicates` with a
    * watermark bounding how long ids are remembered — the streaming twin
    * of the batch PK-enforcement (`dropDuplicates` on the composite key,
    * SURVEY §1.1).
    */
  def streamingDedup(events: DataFrame, idCols: Seq[String],
      timeCol: String = "created",
      watermark: String = "42 days"): DataFrame =
    events
      .withWatermark(timeCol, watermark)
      .dropDuplicates(idCols :+ timeCol)

  /** State for exemplar-first near-dup delivery: the first id seen for a
    * content key, plus the newest event time (drives the TTL timeout).
    */
  case class ExemplarState(exemplar: String, newestMs: Long)

  /** Streaming exemplar-first dedup — the streaming twin of D5 exemplar
    * selection: for each content key, the first row (by event time, id
    * tiebreak) streams through as the exemplar and every later arrival is
    * emitted flagged `is_duplicate`. State lives per key and expires via
    * an EVENT-TIME timeout `lifespan` past the newest arrival, so state
    * size is bounded by (arrival rate × lifespan), not corpus size —
    * the `flatMapGroupsWithState` + timeout surface of SURVEY §2.8/§2.9.
    */
  def exemplarStream(spark: SparkSession, events: DataFrame,
      keyCol: String, idCol: String, timeCol: String = "created",
      lifespan: String = "42 days"): DataFrame = {
    import spark.implicits._
    events
      .withWatermark(timeCol, lifespan)
      .select(col(keyCol).cast("string").as("k"),
        col(idCol).cast("string").as("id"), col(timeCol).as("t"))
      .as[(String, String, Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (key: String, rows: Iterator[(String, String, Timestamp)],
            state: GroupState[ExemplarState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // within a micro-batch, order by (event time, id) so the
            // exemplar matches the batch min-rule deterministically
            val batch = rows.toVector.sortBy(r => (r._3.getTime, r._2))
            val known = state.getOption.map(_.exemplar)
            val exemplar = known.getOrElse(batch.head._2)
            val newest = math.max(batch.map(_._3.getTime).max,
              state.getOption.map(_.newestMs).getOrElse(0L))
            state.update(ExemplarState(exemplar, newest))
            state.setTimeoutTimestamp(newest, lifespan)
            batch.iterator.map { case (_, id, t) =>
              (id, key, t, known.isDefined || id != exemplar)
            }
          }
      }
      .toDF("id", "content_key", "created", "is_duplicate")
  }

  /** Streaming weekly stock: content-dedup then the sliding stock count —
    * the streaming composition of the reference's weekly pipeline
    * (exact-dup drop → W1 windows), one lazy plan end to end. The
    * watermark is declared ONCE (on the dedup stage) and propagates to
    * the window aggregate — Spark 4 rejects redefined watermarks across
    * chained stateful operators.
    */
  def weeklyStockStream(events: DataFrame, keyCols: Seq[String],
      timeCol: String = "created", watermark: String = "42 days",
      length: String = "42 days", slide: String = "7 days"): DataFrame =
    streamingDedup(events, keyCols, timeCol, watermark)
      .groupBy(window(col(timeCol), length, slide))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("date").as("ws"), col("n"))

  /** Streaming grouped top-k (trending-entities shape: best k events per
    * key by score). The bounded [[graft.functions.TopKAgg]] is a standard
    * streaming aggregate, so per-key state is the k-capped sorted buffer —
    * O(keys·k) regardless of stream length — and incremental maintenance
    * is the same insert the batch partial aggregation uses. Complete or
    * update output modes; identical results to the batch groupBy.
    */
  def topKStream(events: DataFrame, keyCol: String, scoreCol: String,
      idCol: String, k: Int): DataFrame = {
    val topk = udaf(new graft.functions.TopKAgg(k))
    events.groupBy(col(keyCol))
      .agg(topk(col(scoreCol), col(idCol)).as("topk"))
  }

  /** Drive a streaming DataFrame to completion against a memory sink —
    * used by specs and local smoke runs (batch parquet in, synchronous).
    *
    * `statePartitions > 0` pins `spark.sql.shuffle.partitions` around
    * start(): stateful streaming operators resolve their state-store
    * partition count from that conf at the FIRST micro-batch and write
    * it into the checkpoint — batch AQE coalescing never applies — so
    * a toy input otherwise pays the session default (= cluster
    * parallelism) state-store instances per stateful operator per
    * micro-batch. Pass [[statePartitionsFor]]'s input-derived count.
    * The conf is restored after the drain; the partition count cannot
    * change any result — it is hash-partitioning of keyed state.
    */
  def runToMemory(df: DataFrame, name: String,
      mode: OutputMode = OutputMode.Complete(),
      statePartitions: Int = -1): StreamingQuery = {
    val s = df.sparkSession
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    if (statePartitions > 0) s.conf.set(key, statePartitions.toString)
    try {
      val q = df.writeStream
        .outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q
    } finally if (statePartitions > 0) s.conf.set(key, prev)
  }

  /** Scale-adaptive state partition count (opt guide §2: derive
    * partitioning from input size, never a per-machine constant):
    * source bytes / `spark.graft.stream.bytesPerStatePartition`
    * (64 MB default — the shuffle-partition sizing rule applied to
    * state), clamped to [1, session shuffle.partitions]. Production
    * keeps the session default (cluster parallelism) as the ceiling;
    * a toy spool stops paying 32 RocksDB/HDFS store instances per
    * stateful operator per micro-batch.
    */
  def statePartitionsFor(s: SparkSession, paths: String*): Int = {
    // Hadoop FileSystem, not java.nio (r08 VERDICT item 6): on a real
    // deployment path (hdfs://, s3a://) java.nio.Files.exists is always
    // false → bytes=0 → the floor silently wins, under-partitioning state
    // at exactly the scale this rule was built for. getContentSummary also
    // sums nested files (nio summed one level) and leaks no stream.
    val hconf = s.sparkContext.hadoopConfiguration
    val bytes = paths.map { p =>
      val path = new org.apache.hadoop.fs.Path(p)
      val fs = path.getFileSystem(hconf)
      if (fs.exists(path)) fs.getContentSummary(path).getLength else 0L
    }.sum
    val target = s.conf.getOption("spark.graft.stream.bytesPerStatePartition")
      .map(_.toLong).getOrElse(64L << 20)
    val ceiling = s.conf.get("spark.sql.shuffle.partitions").toInt
    // floor of 4 (not 1): state-store work is serial WITHIN a partition,
    // and a single instance measured SLOWER warm (w7b 1.70→1.80,
    // w6b 3.31→3.57) than a handful — keep minimal parallelism even for
    // tiny inputs; the cold instance-setup win survives (32→4).
    val floor = math.min(4, ceiling)
    math.max(floor.toLong, math.min(ceiling.toLong,
      (bytes + target - 1) / target)).toInt
  }

  /** Batch-parity CORRECTNESS query: the orders table replayed as a FILE
    * STREAM through `slidingStock`, drained with AvailableNow into a
    * memory sink, checked against the exact oracle SQL of the batch
    * `w1_sliding_window_stock` — streaming and batch must agree row for
    * row (ref windows: dqa/data_getters.py:100-117). Complete output
    * mode, so the final micro-batch holds the full window table and the
    * watermark only bounds state it would drop mid-stream.
    */
  /** Stage a single-file test table into a spool directory the file
    * stream can watch — also the production shape (a landing dir, files
    * dropped in as they arrive).
    */
  private[streaming] def spooledStream(s: SparkSession,
      path: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val schema = s.read.parquet(path).schema
    val src = Paths.get(path)
    // source = a single parquet file OR a Spark-written directory of
    // part files; spool the data file(s) flat. The spool dir is keyed on
    // path + size + mtime so a regenerated source gets a fresh spool
    // instead of silently replaying stale bytes.
    val dataFiles =
      if (Files.isDirectory(src))
        Files.list(src).iterator().asScala.toSeq
          .filter(p => p.getFileName.toString.endsWith(".parquet"))
      else Seq(src)
    val stamp = dataFiles.map(p =>
      s"$p:${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}")
      .mkString("|")
    val spool = Paths.get(System.getProperty("java.io.tmpdir"),
      "graft_stream_spool", Integer.toHexString(stamp.hashCode))
    Files.createDirectories(spool)
    dataFiles.zipWithIndex.foreach { case (p, i) =>
      val staged = spool.resolve(s"part-$i.parquet")
      if (!Files.exists(staged)) Files.copy(p, staged)
    }
    s.readStream.schema(schema).parquet(spool.toString)
  }

  /** Unique memory-sink name: a query may run several times per session
    * (bench cold + warm passes) and memory sinks are session-global.
    */
  private[streaming] def sinkName(prefix: String): String =
    prefix + UUID.randomUUID().toString.replace("-", "")

  private val w1Parity = graft.Q(
    "w1_streaming_parity",
    (s, d) => {
      val stream = spooledStream(s, s"$d/orders.parquet")
        .select(col("o_orderdate").cast("timestamp").as("created"))
      val name = sinkName("w1p_")
      runToMemory(slidingStock(stream), name,
        statePartitions = statePartitionsFor(s, s"$d/orders.parquet"))
      s.table(name).select(col("ws"), col("n"))
    },
    Some(graft.operators.TimeWindows.slidingStockSql),
  )

  /** Exemplar-stream parity: orders replayed as a file stream through
    * `exemplarStream` (key = customer, id = order, event time = order
    * date). A single AvailableNow batch makes the stream's first-SEEN
    * exemplar coincide with the global (time, id)-min rule, which a SQL
    * window replays independently — so the flatMapGroupsWithState path
    * itself gets a hash-checked CORRECTNESS row, not just a spec.
    */
  private val exemplarParity = graft.Q(
    "d_streaming_exemplar_parity",
    (s, d) => {
      val stream = spooledStream(s, s"$d/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate").cast("timestamp").as("created"))
      val name = sinkName("exp_")
      runToMemory(
        exemplarStream(s, stream, "o_custkey", "o_orderkey"),
        name, OutputMode.Append(),
        statePartitionsFor(s, s"$d/orders.parquet"))
      s.table(name)
    },
    Some(
      """SELECT CAST(o_orderkey AS VARCHAR) AS id,
        |  CAST(o_custkey AS VARCHAR) AS content_key,
        |  CAST(o_orderdate AS TIMESTAMP) AS created,
        |  row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, CAST(o_orderkey AS VARCHAR)) > 1
        |    AS is_duplicate
        |FROM orders""".stripMargin),
  )

  /** mapGroupsWithState parity: per-customer running counts over the
    * order stream; after the stream drains, state equals the plain batch
    * aggregate (count + latest timestamp), which SQL replays directly.
    * Completes the stateful-API coverage: window aggregate
    * (w1_streaming_parity), flatMapGroupsWithState
    * (d_streaming_exemplar_parity), mapGroupsWithState (this row).
    */
  /** The SAME running-count state machine on Spark 4's
    * `transformWithState` — the arbitrary-state API that replaces
    * mapGroupsWithState (typed ValueState handles, TTL config, timer
    * registration, RocksDB-backed). Requires the RocksDB state store
    * provider; the session conf flips for this query and is restored
    * after (the legacy-API rows keep the default provider).
    */
  case class TwsCount(n: Long, lastUs: Long)

  private class CountProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Timestamp), (String, Long, Timestamp)] {
    @transient private var state:
        org.apache.spark.sql.streaming.ValueState[TwsCount] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[TwsCount]("counts",
        org.apache.spark.sql.Encoders.product[TwsCount],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: String,
        rows: Iterator[(String, Timestamp)],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(String, Long, Timestamp)] = {
      val prev = Option(state.get()).getOrElse(TwsCount(0L, Long.MinValue))
      val batch = rows.toSeq
      val next = TwsCount(prev.n + batch.size,
        math.max(prev.lastUs, batch.map(_._2.getTime).max))
      state.update(next)
      Iterator((key, next.n, new Timestamp(next.lastUs)))
    }
  }

  /** transformWithState with LIST state — the bounded-buffer surface
    * of the new API (the ValueState row keeps a scalar; real serving
    * state is usually a capped collection): per-user top-3 events by
    * (value desc, id asc), state = the sorted capped list, output =
    * the final ranked rows. Same RocksDB provider discipline as w7b.
    */
  private class Top3Processor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Double), (Long, Int, Long, Double)] {
    @transient private var state:
        org.apache.spark.sql.streaming.ListState[(Long, Double)] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getListState[(Long, Double)]("top3",
        org.apache.spark.sql.Encoders.product[(Long, Double)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, Double)],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, Int, Long, Double)] = {
      val merged = (state.get().toSeq ++ rows.map(r => (r._2, r._3)))
        .sortBy { case (id, v) => (-v, id) }
        .take(3)
      state.put(merged.toArray)
      merged.iterator.zipWithIndex.map { case ((id, v), i) =>
        (key, i + 1, id, v)
      }
    }
  }

  private val twsTopkParity = graft.Q(
    "w7c_tws_liststate_topk_parity",
    (s, d) => {
      import s.implicits._
      val providerKey = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(providerKey)
      s.conf.set(providerKey, "org.apache.spark.sql.execution." +
        "streaming.state.RocksDBStateStoreProvider")
      try {
        val stream = spooledStream(s, s"$d/events.parquet")
          .select(col("user_id").cast("long"),
            col("event_id").cast("long"), col("value").cast("double"))
          .as[(Long, Long, Double)]
        val out = stream.groupByKey(_._1)
          .transformWithState(new Top3Processor,
            org.apache.spark.sql.streaming.TimeMode.None(),
            OutputMode.Update())
          .toDF("user_id", "rank", "event_id", "value")
        val name = sinkName("tws3_")
        runToMemory(out, name, OutputMode.Update(),
          statePartitionsFor(s, s"$d/events.parquet"))
        s.table(name)
      } finally {
        prev match {
          case Some(v) => s.conf.set(providerKey, v)
          case None => s.conf.unset(providerKey)
        }
      }
    },
    Some(
      """SELECT user_id, CAST(rn AS INT) AS rank, event_id, value
        |FROM (
        |  SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY value DESC, event_id ASC) AS rn
        |  FROM events)
        |WHERE rn <= 3""".stripMargin),
  )

  /** transformWithState with EVENT-TIME TIMERS — the last surface of
    * the new API: gap sessions where the CLOSE is driven by the
    * watermark passing last-event + gap (handleExpiredTimer), never by
    * a later arrival.
    *
    * Events BUFFER in ListState until the watermark seals them — no
    * session ever closes inside handleInputRows. An earlier version
    * closed in-batch gaps eagerly, which diverges from batch
    * `session_window` under cross-batch disorder: a later micro-batch
    * can deliver a within-watermark event that BRIDGES two events an
    * earlier batch saw as a gap, and an eagerly-closed session cannot
    * be re-merged (Append mode — rows are final). Buffering until the
    * watermark passes last + gap is the only order-insensitive close:
    * any event that could still merge into a session has ts ≥ watermark
    * by the watermark contract, and a sealed session's last event is
    * more than a gap below it.
    *
    * State per key = events of OPEN (unsealed) sessions only — sealed
    * events are emitted and dropped on the timer — so state is bounded
    * by event rate × (gap + watermark delay), not by history. The
    * far-future sentinel (the w8b machinery) pushes the global
    * watermark at end-of-input so every open session flushes — after
    * which the Append-mode output must equal the batch session_window
    * result exactly. All session arithmetic in epoch MICROS
    * (Timestamp.getTime would truncate to ms and break parity).
    */
  private[streaming] class SessionProcessor(gapUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Timestamp, Long), (Long, Long, Long)] {
    @transient private var buf:
        org.apache.spark.sql.streaming.ListState[Long] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      buf = getHandle.getListState[Long]("sessbuf",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    /** Gap-sessionize sorted micros → (start, last, n), earliest first. */
    private def sessions(us: Vector[Long]): Vector[(Long, Long, Long)] =
      us.foldLeft(Vector.empty[(Long, Long, Long)]) { (acc, u) =>
        acc.lastOption match {
          case Some((s0, last, n)) if u - last <= gapUs =>
            acc.init :+ ((s0, u, n + 1L))
          case _ => acc :+ ((u, u, 1L))
        }
      }

    /** A session whose last event is `lastUs` is sealed once the timer
      * at this instant fires: the watermark then exceeds last + gap, so
      * no admissible future event can merge into it.
      */
    private def closeAtMs(lastUs: Long): Long =
      lastUs / 1000L + gapUs / 1000L + 1L

    private def armFor(lastUs: Long): Unit = {
      getHandle.listTimers().foreach(t =>
        getHandle.deleteTimer(t.asInstanceOf[Long]))
      getHandle.registerTimer(closeAtMs(lastUs))
    }

    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Timestamp, Long)],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, Long, Long)] = {
      rows.foreach(r => buf.appendValue(r._3))
      val ss = sessions(buf.get().toVector.sorted)
      // one timer, at the EARLIEST session's close — later sessions'
      // closes are re-armed as each fire drains what it sealed
      ss.headOption.foreach(s => armFor(s._2))
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long,
        timers: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[(Long, Long, Long)] = {
      val all = buf.get().toVector.sorted
      if (all.isEmpty) return Iterator.empty
      val wmMs = timers.getCurrentWatermarkInMs()
      val (closed, open) =
        sessions(all).partition(s => closeAtMs(s._2) <= wmMs)
      open.headOption match {
        case Some(first) =>
          // keep only open-session events; re-arm for the next close
          buf.put(all.filter(_ >= first._1).toArray)
          armFor(first._2)
        case None => buf.clear()
      }
      closed.iterator.map { case (s0, _, n) => (key, s0, n) }
    }
  }

  private val twsSessionParity = graft.Q(
    "w6b_tws_timer_session_parity",
    (s, d) => {
      import s.implicits._
      val providerKey = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(providerKey)
      s.conf.set(providerKey, "org.apache.spark.sql.execution." +
        "streaming.state.RocksDBStateStoreProvider")
      try {
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types._
        val flush = java.sql.Timestamp.valueOf("2090-01-01 00:00:00")
        val schema = StructType(Seq(StructField("user_id", LongType),
          StructField("ts", TimestampType)))
        val stream = spooledStreamPlus(s, s"$d/events.parquet",
            s.createDataFrame(java.util.List.of(Row(-1L, flush)), schema),
            "sess_sent") { df =>
          df.select(col("user_id").cast("long").as("user_id"),
            col("ts").cast("timestamp").as("ts"))
        }
          .withWatermark("ts", "0 seconds")
          .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("us"))
          .as[(Long, Timestamp, Long)]
        val out = stream.groupByKey(_._1)
          .transformWithState(new SessionProcessor(30L * 60 * 1000000),
            org.apache.spark.sql.streaming.TimeMode.EventTime(),
            OutputMode.Append())
          .toDF("user_id", "session_start_us", "n_events")
        val name = sinkName("tws6_")
        runToMemory(out, name, OutputMode.Append(),
          statePartitionsFor(s, s"$d/events.parquet"))
        // sentinel filter on the BATCH read (w8b pushdown lesson)
        s.table(name).filter(col("user_id") >= 0L)
      } finally {
        prev match {
          case Some(v) => s.conf.set(providerKey, v)
          case None => s.conf.unset(providerKey)
        }
      }
    },
    Some(
      """WITH marked AS (
        |  SELECT user_id, ts, epoch_us(ts) AS us,
        |    CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |        ORDER BY epoch_us(ts)) IS NULL
        |      OR epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |        PARTITION BY user_id ORDER BY epoch_us(ts))
        |        > 30 * 60 * 1000000
        |    THEN 1 ELSE 0 END AS opener
        |  FROM events),
        |islands AS (
        |  SELECT user_id, us,
        |    sum(opener) OVER (PARTITION BY user_id ORDER BY us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS island
        |  FROM marked)
        |SELECT user_id, CAST(min(us) AS BIGINT) AS session_start_us,
        |  count(*) AS n_events
        |FROM islands GROUP BY user_id, island""".stripMargin),
  )

  private val twsParity = graft.Q(
    "w7b_transformwithstate_parity",
    (s, d) => {
      import s.implicits._
      val providerKey = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(providerKey)
      s.conf.set(providerKey, "org.apache.spark.sql.execution." +
        "streaming.state.RocksDBStateStoreProvider")
      try {
        val stream = spooledStream(s, s"$d/orders.parquet")
          .select(col("o_custkey").cast("string").as("cust"),
            col("o_orderdate").cast("timestamp").as("created"))
          .as[(String, Timestamp)]
        val out = stream.groupByKey(_._1)
          .transformWithState(new CountProcessor,
            org.apache.spark.sql.streaming.TimeMode.None(),
            OutputMode.Update())
          .toDF("key", "n", "lastSeen")
        val name = sinkName("tws_")
        runToMemory(out, name, OutputMode.Update(),
          statePartitionsFor(s, s"$d/orders.parquet"))
        s.table(name)
      } finally {
        prev match {
          case Some(v) => s.conf.set(providerKey, v)
          case None => s.conf.unset(providerKey)
        }
      }
    },
    Some(
      """SELECT CAST(o_custkey AS VARCHAR) AS key,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(max(o_orderdate) AS TIMESTAMP) AS lastSeen
        |FROM orders GROUP BY 1""".stripMargin),
  )

  private val countsParity = graft.Q(
    "w7_streaming_counts_parity",
    (s, d) => {
      val stream = spooledStream(s, s"$d/orders.parquet")
        .select(col("o_custkey").cast("string").as("cust"),
          col("o_orderdate").cast("timestamp").as("created"))
      val name = sinkName("rc_")
      runToMemory(runningCounts(s, stream, "cust", "created"), name,
        OutputMode.Update(), statePartitionsFor(s, s"$d/orders.parquet"))
      // Update mode emits one row per key per batch; the LAST batch's
      // state is the final answer — with one batch, the table IS final
      s.table(name).select(col("key"), col("n"), col("lastSeen"))
    },
    Some(
      """SELECT CAST(o_custkey AS VARCHAR) AS key,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(max(o_orderdate) AS TIMESTAMP) AS lastSeen
        |FROM orders GROUP BY 1""".stripMargin),
  )

  /** Stream-stream inner join with event-time bounds — the last
    * Structured Streaming surface the engine lacked a CORRECTNESS row
    * for. Both sides carry watermarks and the join condition bounds the
    * event-time gap, so each side's state is evictable (bounded by
    * lifespan × arrival rate, not stream length). Drained with
    * AvailableNow, the result must equal the batch join — which is
    * exactly what the oracle SQL states.
    */
  def streamJoin(orders: DataFrame, items: DataFrame,
      maxLag: String = "90 days"): DataFrame =
    orders.withWatermark("o_ts", maxLag)
      .join(items.withWatermark("l_ts", maxLag),
        col("o_orderkey") === col("l_orderkey") &&
          col("l_ts") >= col("o_ts") &&
          col("l_ts") <= col("o_ts") + expr(s"INTERVAL $maxLag"),
        "inner")

  private val joinParity = graft.Q(
    "w8_streaming_join_parity",
    (s, d) => {
      // parquet timestamps read as NTZ; watermarks require TIMESTAMP —
      // same instant under the UTC session the engine pins
      val os = spooledStream(s, s"$d/orders.parquet")
        .select(col("o_orderkey"),
          col("o_orderdate").cast("timestamp").as("o_ts"))
      val ls = spooledStream(s, s"$d/lineitem.parquet")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_shipdate").cast("timestamp").as("l_ts"))
      val name = sinkName("w8p_")
      runToMemory(
        streamJoin(os, ls).select(col("o_orderkey"), col("l_linenumber"),
          col("l_ts").cast("date").as("ship_day")),
        name, OutputMode.Append(),
        statePartitionsFor(s, s"$d/orders.parquet", s"$d/lineitem.parquet"))
      s.table(name)
    },
    Some(
      """SELECT o_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship_day
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= o_orderdate
        |  AND l_shipdate <= o_orderdate + INTERVAL 90 DAY""".stripMargin),
  )

  /** Stream-static enrichment: the arriving stream joins a static
    * dimension (planned as a broadcast per micro-batch — the static side
    * is re-resolved each batch, so a dim refresh is picked up without
    * restarting the query). The everyday streaming-ETL shape.
    */
  private val enrichParity = graft.Q(
    "w10_stream_static_enrich_parity",
    (s, d) => {
      val os = spooledStream(s, s"$d/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"))
      val dim = s.read.parquet(s"$d/customer.parquet")
        .select(col("c_custkey"), col("c_mktsegment"))
      val name = sinkName("w10p_")
      runToMemory(
        os.join(broadcast(dim), col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("c_mktsegment")),
        name, OutputMode.Append())
      s.table(name)
    },
    Some(
      """SELECT o_orderkey, c_mktsegment
        |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin),
  )

  /** Streaming sketch maintenance: the replayable HLL's register table
    * (graft.operators.Hll) maintained BY THE STREAM — max is an
    * associative, idempotent aggregate, so a Complete-mode groupBy over
    * (key, bucket) holds exactly the batch registers at every point, and
    * after the drain the same integer estimate comes out. State is
    * m=512 registers per key — constant in stream length, the whole
    * point of sketches — and the row shares the batch oracle verbatim
    * because the registers are identical.
    */
  private val hllParity = graft.Q(
    "d_streaming_hll_parity",
    (s, d) => {
      val stream = spooledStream(s, s"$d/lineitem.parquet")
        .select(col("l_returnflag"), col("l_orderkey"))
      val regs = graft.operators.Hll
        .bucketRho(stream, Seq("l_returnflag"), col("l_orderkey"))
        .groupBy("l_returnflag", "bucket")
        .agg(max(col("rho")).as("m"))
      val name = sinkName("hllp_")
      runToMemory(regs, name, OutputMode.Complete(),
        statePartitionsFor(s, s"$d/lineitem.parquet"))
      val exact = s.read.parquet(s"$d/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_orderkey")).as("exact_orders"))
      graft.operators.Hll.estimate(s.table(name), Seq("l_returnflag"))
        .withColumnRenamed("approx", "approx_orders")
        .join(exact, "l_returnflag")
        .select("l_returnflag", "approx_orders", "exact_orders")
    },
    Some(graft.operators.Hll.lineitemOracle),
  )

  /** Streaming Count-Min maintenance — the frequency twin of the HLL
    * parity row: the counter table is SUM-mergeable, and a streaming
    * count over (row, bucket) in Complete mode IS the sketch at every
    * point. State = depth×width counters total (constant in stream
    * length); estimates read the drained counters. Shares the batch
    * row's oracle because the counters are identical.
    */
  private val cmParity = graft.Q(
    "d_streaming_countmin_parity",
    (s, d) => {
      val keyc = col("o_orderpriority")
      def rb = explode(array((0 until 4).map { r =>
        struct(lit(r).as("r"),
          graft.functions.TextSketches.hll_hash(concat(lit(s"$r:"), keyc))
            .bitwiseAND(lit(255L)).as("bucket"))
      }: _*))
      val stream = spooledStream(s, s"$d/orders.parquet")
        .select(keyc)
        .select(rb.as("rb"))
        .select(col("rb.r").as("r"), col("rb.bucket").as("bucket"))
        .groupBy("r", "bucket").agg(count(lit(1)).as("cnt"))
      val name = sinkName("cmp_")
      runToMemory(stream, name, OutputMode.Complete(),
        statePartitionsFor(s, s"$d/orders.parquet"))
      val counters = s.table(name)
      val orders = s.read.parquet(s"$d/orders.parquet")
      val probes = orders.select(keyc).distinct()
        .select(keyc, rb.as("rb"))
        .select(keyc, col("rb.r").as("r"), col("rb.bucket").as("bucket"))
      val est = probes.join(counters, Seq("r", "bucket"))
        .groupBy("o_orderpriority").agg(min(col("cnt")).as("est_count"))
      val exact = orders
        .groupBy("o_orderpriority").agg(count(lit(1)).as("exact_count"))
      est.join(exact, "o_orderpriority")
    },
    graft.operators.Extended.countMinOracle,
  )

  /** Streaming maintenance of the quantile sketch (a24's third-sketch
    * twin): the 256 bin counters are SUM-mergeable, so a Complete-mode
    * streaming count per bin IS the sketch — state is ≤256 counters
    * regardless of stream length. The [lo, hi] range comes from a
    * static read (in production the sketch range is fixed when the
    * sketch is declared) joined into the stream on a constant key —
    * stream-static equi join, no driver collect. The quantile finish
    * runs on the drained counter table and shares the batch oracle.
    */
  private val qsketchParity = graft.Q(
    "d_streaming_quantile_parity",
    (s, d) => {
      val static = s.read.parquet(s"$d/lineitem.parquet")
        .select(col("l_extendedprice").as("x"))
      val mm = static.agg(min("x").as("lo"), max("x").as("hi"),
        count(lit(1)).as("n"))
      val mmk = mm.withColumn("k", lit(1))
      val stream = spooledStream(s, s"$d/lineitem.parquet")
        .select(col("l_extendedprice").as("x"), lit(1).as("k"))
        .join(mmk, "k")
        .select(least(floor((col("x") - col("lo"))
          / ((col("hi") - col("lo")) / 256)), lit(255L)).as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("cnt"))
      val name = sinkName("qsk_")
      runToMemory(stream, name, OutputMode.Complete(),
        statePartitionsFor(s, s"$d/lineitem.parquet"))
      graft.operators.Extended.finishQuantiles(s.table(name), mm)
    },
    graft.operators.Extended.quantileSketchOracle,
  )

  /** Streaming sessionization parity: the batch `w6_session_windows`
    * (gap-based `session_window`) replayed as a file stream in APPEND
    * mode — the production shape, where a session row is emitted exactly
    * once, when the watermark passes its close. Append mode only emits
    * sessions the watermark has sealed, so the spool carries two
    * far-future SENTINEL rows (user_id −1, +1 d and +2 d) in their own
    * files with `maxFilesPerTrigger=1`: the first sentinel's batch
    * advances the watermark past every real session's close and the
    * second's batch flushes them — no reliance on a trailing no-data
    * micro-batch. Sentinels are built with a distributed write (agg →
    * select → parquet), no driver collect, and filtered from the result
    * by key. State per key = open sessions only; the watermark bounds it
    * exactly as in production.
    */
  private val sessionParity = graft.Q(
    "w6_streaming_session_parity",
    (s, d) => {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      val srcPath = s"$d/events.parquet"
      val raw = s.read.parquet(srcPath)
      val isLong = raw.schema("ts").dataType ==
        org.apache.spark.sql.types.LongType
      val src = Paths.get(srcPath)
      val stamp = s"$src:${Files.size(src)}:" +
        Files.getLastModifiedTime(src).toMillis
      val spool = Paths.get(System.getProperty("java.io.tmpdir"),
        "graft_session_spool", Integer.toHexString(stamp.hashCode))
      Files.createDirectories(spool)
      val staged = spool.resolve("part-0.parquet")
      // a Spark-written table is a directory of part files: stage it as
      // one file, so all the data is one micro-batch before the sentinels
      if (!Files.exists(staged)) {
        if (Files.isDirectory(src)) {
          val tmp = spool.resolve("data_build")
          raw.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val part = Files.list(tmp).iterator().asScala
            .find(_.getFileName.toString.endsWith(".parquet")).get
          Files.move(part, staged, StandardCopyOption.ATOMIC_MOVE)
        } else Files.copy(src, staged)
      }
      (1 to 2).foreach { k =>
        val sentinelFile = spool.resolve(s"part-$k.parquet")
        if (!Files.exists(sentinelFile)) {
          val dayNs = 86400L * 1000000000L
          val tsCol =
            if (isLong) (max(col("ts")) + lit(k * dayNs)).as("m")
            else (max(col("ts")) + expr(s"INTERVAL $k DAY")).as("m")
          val tmp = spool.resolve(s"sentinel_build_$k")
          raw.agg(tsCol)
            .select(lit(-1L).as("event_id"), col("m").as("ts"),
              lit(-1L).as("user_id"), lit("sentinel").as("event_type"),
              lit(0.0).as("value"), lit("{}").as("props"))
            .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val part = Files.list(tmp).iterator().asScala
            .find(_.getFileName.toString.endsWith(".parquet")).get
          Files.move(part, sentinelFile, StandardCopyOption.ATOMIC_MOVE)
        }
      }
      val stream0 = s.readStream.schema(s.read.parquet(staged.toString).schema)
        .option("maxFilesPerTrigger", 1).parquet(spool.toString)
      // normalize ts to session-zoned TimestampType whatever the parquet
      // physical type: long-of-nanos (legacy generator) or TIMESTAMP_NTZ
      // (current generator) — watermarks require TIMESTAMP, not NTZ
      val ev = stream0.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          stream0.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          stream0.withColumn("ts",
            col("ts").cast(org.apache.spark.sql.types.TimestampType))
        case _ => stream0
      }
      val sess = ev.withWatermark("ts", "1 minute")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"),
          graft.util.Stable.dsum(col("value")).as("sum_value"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("n_events"), col("sum_value"))
      val name = sinkName("ssn_")
      runToMemory(sess, name, OutputMode.Append(),
        statePartitionsFor(s, s"$d/events.parquet"))
      s.table(name).filter(col("user_id") >= 0)
    },
    // the batch islands oracle, verbatim (same gap, same stable sum)
    graft.operators.Sessions.sessionOracle,
  )

  /** Streaming IVF list assignment: embeddings arrive as a stream and
    * are routed to their nearest centroid of a STATICALLY built index
    * (the production ingest shape — the index is trained offline, new
    * vectors are assigned on arrival). The packed one-row centroid
    * frame joins the stream on a constant key (stream-static equi
    * join); assignment is the same pure-map expression as the batch
    * build, so the drained sink equals the batch `idx` table — replayed
    * by the same SQL CTEs as `ann_ivf_topk`. Stateless ⇒ Append mode,
    * no watermark, state = 0.
    */
  private val ivfAssignParity = graft.Q(
    "d_streaming_ivf_assign_parity",
    (s, d) => {
      val corpus = s.read.parquet(s"$d/embeddings.parquet")
      val (_, packed) =
        graft.similarity.SimilarityQueries.buildIvfIndex(corpus, 16)
      val packedK = packed.withColumn("k", lit(1))
      val assigned = graft.similarity.SimilarityQueries.nearestOnJoined(
        spooledStream(s, s"$d/embeddings.parquet")
          .withColumn("k", lit(1))
          .join(packedK, "k"), 1)
        .select(col("vec_id"),
          element_at(col("lists"), 1).getField("cid").as("list_id"))
      val name = sinkName("ivfa_")
      runToMemory(assigned, name, OutputMode.Append())
      s.table(name)
    },
    Some(
      s"""WITH ${graft.similarity.SimilarityQueries
               .ivfOracleCtes(dim = 64, nlist = 16, nassign = 1)}
         |SELECT vec_id, list_id FROM idx""".stripMargin),
  )

  /** Stream-static runtime filter at ingest: the Bloom semi-join
    * reduction (j17) applied to a STREAM — the static dim's bloom
    * word-map joins each micro-batch on a constant key, the codegen
    * bit-probe prunes ingest rows before any stateful operator sees
    * them, and the exact join restores join-identical results. At
    * ingest scale this is the difference between "state stores hold the
    * full firehose" and "state stores hold the matching fraction".
    * Shares j17's oracle shape: the filter must be invisible in the
    * result.
    */
  private val bloomFilterParity = graft.Q(
    "d_streaming_bloom_filter_parity",
    (s, d) => {
      val stream = spooledStream(s, s"$d/lineitem.parquet")
        .select(col("l_orderkey"), col("l_returnflag"))
      val dim = s.read.parquet(s"$d/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT" &&
          year(col("o_orderdate")) === 1995)
        .select(col("o_orderkey"))
      val survivors = graft.operators.Bloom
        .bloomPrefilter(stream, "l_orderkey", dim, "o_orderkey")
      val joined = survivors
        .join(broadcast(dim), survivors("l_orderkey") === dim("o_orderkey"))
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      val name = sinkName("bloomf_")
      runToMemory(joined, name, OutputMode.Complete(),
        statePartitionsFor(s, s"$d/lineitem.parquet"))
      s.table(name)
    },
    Some(
      """SELECT l.l_returnflag, count(*) AS n
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderpriority = '1-URGENT' AND year(o.o_orderdate) = 1995
        |GROUP BY 1""".stripMargin),
  )

  /** Streaming CDC ingest with an idempotent versioned sink — the
    * production upsert shape: a changestream drains through
    * `foreachBatch`, each micro-batch re-reads the CURRENT target
    * version, applies [[graft.operators.SourcesSinks.upsertMerge]], and
    * publishes the next version with an atomic pointer swap. A retried
    * batch rewrites the same next version from the same inputs — the
    * rename-swap makes the sink effectively exactly-once without any
    * transactional store. The spooled changeset is split into three
    * KEY-DISJOINT micro-batch files (mod 3 on the key), so the
    * sequential fold is order-free and the drained target equals
    * s14's one-shot batch merge — pinned by sharing s14's oracle SQL
    * verbatim.
    */
  private val upsertParity = graft.Q(
    "s22_streaming_upsert_parity",
    (s, d) => {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      val base = graft.Tables(s, d).customer
        .select("c_custkey", "c_name", "c_acctbal")
      val k = col("c_custkey")
      val updates = base.filter(k % 10 === 0)
        .select(k.as("c_custkey"), col("c_name"),
          round(col("c_acctbal") + 100.0, 2).as("c_acctbal"),
          lit(false).as("is_delete"))
      val deletes = base.filter(k % 17 === 0 && k % 10 =!= 0)
        .select(k.as("c_custkey"), lit(null).cast("string").as("c_name"),
          lit(null).cast("double").as("c_acctbal"),
          lit(true).as("is_delete"))
      val inserts = base.filter(k % 13 === 0)
        .select((k + 1000000L).as("c_custkey"),
          concat(lit("new "), col("c_name")).as("c_name"),
          lit(0.0).as("c_acctbal"), lit(false).as("is_delete"))
      val changes = updates.unionByName(deletes).unionByName(inserts)

      val src = Paths.get(s"$d/customer.parquet")
      val stamp = s"$src:${Files.size(src)}:" +
        Files.getLastModifiedTime(src).toMillis
      val spool = Paths.get(System.getProperty("java.io.tmpdir"),
        "graft_upsert_spool", Integer.toHexString(stamp.hashCode))
      if (!Files.exists(spool)) {
        val build = Files.createTempDirectory("graft_upsert_build")
        Files.createDirectories(spool)
        (0 until 3).foreach { b =>
          val part = build.resolve(s"b$b")
          changes.filter(pmod(col("c_custkey"), lit(3)) === b)
            .coalesce(1).write.mode("overwrite").parquet(part.toString)
          val f = Files.list(part).iterator().asScala
            .find(_.getFileName.toString.endsWith(".parquet")).get
          Files.move(f, spool.resolve(s"part-$b.parquet"),
            StandardCopyOption.ATOMIC_MOVE)
        }
      }

      val target = Files.createTempDirectory("graft_upsert_target")
      base.write.parquet(target.resolve("v0").toString)
      val current = new java.util.concurrent.atomic.AtomicReference(
        target.resolve("v0").toString)
      val stream = s.readStream
        .schema(changes.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(spool.toString)
      val q = stream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], id: Long) =>
          val merged = graft.operators.SourcesSinks.upsertMerge(
            s.read.parquet(current.get), batch, "c_custkey", "is_delete")
          val next = target.resolve(s"v${id + 1}").toString
          merged.write.mode("overwrite").parquet(next)
          current.set(next)
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(current.get)
    },
    Some(graft.operators.SourcesSinks.upsertOracleSql),
  )

  /** Streaming A/B monitoring — the live-experiment twin of a34: the
    * Welch sufficient statistics (n, Σv, Σv² per metric×variant, exact
    * decimals) are SUM-mergeable, so a Complete-mode streaming
    * aggregate holds EXACTLY the batch statistics at every trigger —
    * the dashboard never waits for a batch job, state is 6 numbers per
    * metric regardless of stream length, and the z finish runs on the
    * drained stats table. Shares a34's oracle verbatim: parity is the
    * whole point.
    */
  private val abParity = graft.Q(
    "e_streaming_ab_parity",
    (s, d) => {
      val aggs = graft.operators.Regression.abStatsAggs
      val stats = graft.operators.Regression
        .abProject(spooledStream(s, s"$d/events.parquet"))
        .groupBy("event_type").agg(aggs.head, aggs.tail: _*)
      val name = sinkName("abp_")
      runToMemory(stats, name, OutputMode.Complete(),
        statePartitionsFor(s, s"$d/events.parquet"))
      graft.operators.Regression.abFinish(s.table(name))
    },
    graft.operators.Regression.abOracle,
  )

  /** Streaming data-contract monitor — `a37_expectation_audit` at
    * ingest. Every constraint that reduces to a COUNTER is
    * sum-mergeable, so a Complete-mode global aggregate holds exactly
    * the batch audit at every trigger: not-null / range /
    * accepted-values are per-row predicates, and referential integrity
    * rides a stream-static broadcast left join evaluated per
    * micro-batch. The one batch constraint deliberately absent is
    * uniqueness — exact duplicate detection on a stream is keyed state
    * (`dropDuplicates` + watermark), not a counter, and belongs to the
    * dedup family's stateful rows. State here = five numbers, total.
    */
  private val contractParity = graft.Q(
    "s25_streaming_contract_parity",
    (s, d) => {
      val stream = spooledStream(s, s"$d/orders.parquet")
      val withRef = stream.join(
        broadcast(graft.Tables(s, d).customer.select(col("c_custkey"))),
        stream("o_custkey") === col("c_custkey"), "left_outer")
      val agg = withRef.groupBy().agg(
        count(lit(1)).as("total"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L))
          .as("v_notnull"),
        sum(when(col("o_totalprice") < 0d ||
          col("o_totalprice") >= 300000d, 1L).otherwise(0L)).as("v_range"),
        sum(when(!col("o_orderstatus").isin("O", "F"), 1L).otherwise(0L))
          .as("v_accepted"),
        // unmatched AFTER the left join — includes null keys, exactly
        // the batch anti-join count
        sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).as("v_ref"))
      val name = sinkName("dc_")
      runToMemory(agg, name, OutputMode.Complete(),
        statePartitionsFor(s, s"$d/orders.parquet"))
      s.table(name).select(
        expr(
          """stack(4,
            |  'not_null:o_custkey',             v_notnull,
            |  'range:o_totalprice[0,300000)',   v_range,
            |  'accepted:o_orderstatus{O,F}',    v_accepted,
            |  'referential:o_custkey->customer', v_ref)
            |  AS (constraint, violations)""".stripMargin),
        col("total"))
        .withColumn("ok", col("violations") === 0L)
    },
    Some(
      """WITH t AS (SELECT count(*) AS total FROM orders)
        |SELECT c.constraint, c.violations, t.total,
        |  c.violations = 0 AS ok
        |FROM t CROSS JOIN (
        |  SELECT 'not_null:o_custkey' AS constraint,
        |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS violations
        |  FROM orders
        |  UNION ALL
        |  SELECT 'range:o_totalprice[0,300000)',
        |    CAST(sum(CASE WHEN o_totalprice < 0
        |      OR o_totalprice >= 300000 THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'accepted:o_orderstatus{O,F}',
        |    CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F')
        |      THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'referential:o_custkey->customer',
        |    CAST(count(*) AS BIGINT)
        |  FROM orders o
        |  WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                    WHERE c.c_custkey = o.o_custkey)) c""".stripMargin),
  )

  /** Zone-map maintenance at ingest (`s27_zonemap_prune`'s write side):
    * count/min/max are all sum- or extremum-mergeable, so the manifest
    * stats stay current as a Complete-mode streaming aggregate whose
    * state is |zones| rows — the scan planner then prunes against stats
    * that are never stale. Drained with AvailableNow, the final table
    * must equal the batch stats build, which is what the oracle states.
    */
  private val zonemapParity = graft.Q(
    "s27b_streaming_zonemap_parity",
    (s, d) => {
      val stream = spooledStream(s, s"$d/orders.parquet")
        .select(col("o_orderdate").cast("timestamp").as("od"),
          col("o_totalprice"))
      val stats = stream
        .groupBy((year(col("od")) * 100 + month(col("od"))).cast("long")
          .as("zone"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("o_totalprice")).as("zmin"),
          max(col("o_totalprice")).as("zmax"))
      val name = sinkName("zm_")
      runToMemory(stats, name,
        statePartitions = statePartitionsFor(s, s"$d/orders.parquet"))
      s.table(name).select(col("zone"), col("n_rows"), col("zmin"),
        col("zmax"))
    },
    Some(
      """SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate)
        |    AS BIGINT) AS zone,
        |  count(*) AS n_rows, min(o_totalprice) AS zmin,
        |  max(o_totalprice) AS zmax
        |FROM orders GROUP BY 1""".stripMargin),
  )

  /** LEFT OUTER stream-stream join — the semantics Append-mode inner
    * (w8) cannot show: an unmatched left row is HELD IN STATE until the
    * joint watermark proves no matching right row can still arrive,
    * then emits with nulls. The tail of a drained stream would stay
    * withheld forever (the watermark never passes the last events), so
    * both spools carry one far-future sentinel row (filtered from the
    * output) that pushes the joint watermark past every real event —
    * after which the result must equal the batch LEFT JOIN exactly.
    */
  private val outerJoinParity = graft.Q(
    "w8b_streaming_outer_join_parity",
    (s, d) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val flush = java.sql.Timestamp.valueOf("2090-01-01 00:00:00")
      val oSchema = StructType(Seq(StructField("o_orderkey", LongType),
        StructField("o_ts", TimestampType)))
      val lSchema = StructType(Seq(StructField("l_orderkey", LongType),
        StructField("l_linenumber", LongType),
        StructField("l_ts", TimestampType)))
      val os = spooledStreamPlus(s, s"$d/orders.parquet",
          s.createDataFrame(java.util.List.of(Row(-1L, flush)), oSchema),
          "o_sent") { df =>
        df.select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderdate").cast("timestamp").as("o_ts"))
      }
      val ls = spooledStreamPlus(s, s"$d/lineitem.parquet",
          s.createDataFrame(java.util.List.of(Row(-1L, -1L, flush)), lSchema),
          "l_sent") { df =>
        df.select(col("l_orderkey").cast("long").as("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_shipdate").cast("timestamp").as("l_ts"))
      }
      val joined = os.withWatermark("o_ts", "90 days")
        .join(ls.withWatermark("l_ts", "90 days"),
          col("o_orderkey") === col("l_orderkey") &&
            col("l_ts") >= col("o_ts") &&
            col("l_ts") <= col("o_ts") + expr("INTERVAL 90 days"),
          "left_outer")
      val name = sinkName("w8b_")
      val w8bParts =
        statePartitionsFor(s, s"$d/orders.parquet", s"$d/lineitem.parquet")
      // the sentinel filter runs on the BATCH read of the sink, not
      // inside the streaming query: placed pre-sink, Catalyst pushes
      // `o_orderkey >= 0` down into the left file scan, the sentinel
      // never reaches the EventTimeWatermark operator, the watermark
      // stalls at the real data's max and the held outer rows never
      // emit (measured: 977 tail nulls missing)
      runToMemory(
        joined.select(col("o_orderkey"), col("l_linenumber"),
          // string day: a nullable DATE round-trips as NaT/None
          // inconsistently across engines' dataframe bridges
          col("l_ts").cast("date").cast("string").as("ship_day")),
        name, OutputMode.Append(), w8bParts)
      s.table(name).filter(col("o_orderkey") >= 0L)
    },
    Some(
      """SELECT o_orderkey, l.l_linenumber,
        |  CAST(CAST(l.l_shipdate AS DATE) AS VARCHAR) AS ship_day
        |FROM orders LEFT JOIN lineitem l ON o_orderkey = l.l_orderkey
        |  AND l.l_shipdate >= o_orderdate
        |  AND l.l_shipdate <= o_orderdate + INTERVAL 90 DAY""".stripMargin),
  )

  /** [[spooledStream]] plus one extra staged row-set (the watermark
    * sentinel): the projected source files and the extra rows land in
    * one spool keyed on both, read back as a single file stream.
    */
  private def spooledStreamPlus(s: SparkSession, path: String,
      extra: DataFrame, tag: String)(project: DataFrame => DataFrame)
      : DataFrame = {
    import java.nio.file.{Files, Paths}
    val src = Paths.get(path)
    val dataFiles =
      if (Files.isDirectory(src))
        Files.list(src).iterator().asScala.toSeq
          .filter(p => p.getFileName.toString.endsWith(".parquet"))
      else Seq(src)
    val stamp = dataFiles.map(p =>
      s"$p:${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}")
      .mkString("|") + s"|$tag"
    val spool = Paths.get(System.getProperty("java.io.tmpdir"),
      "graft_stream_spool", Integer.toHexString(stamp.hashCode))
    if (!Files.exists(spool)) {
      val tmp = Paths.get(spool.toString + ".tmp")
      org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
      Files.createDirectories(tmp)
      // project the source rows into the sentinel's schema so every
      // spooled file agrees
      project(s.read.parquet(path)).coalesce(1).write
        .mode("overwrite").parquet(tmp.resolve("data").toString)
      // TWO sentinel files: watermark advancement is observed one batch
      // late (eviction in batch k uses the watermark committed after
      // batch k−1), so the first sentinel raises it and the second
      // gives the source a final batch in which the eviction runs —
      // a self-terminating trigger never gets a no-data batch.
      extra.coalesce(1).write.mode("overwrite")
        .parquet(tmp.resolve("sentinel_a").toString)
      extra.coalesce(1).write.mode("overwrite")
        .parquet(tmp.resolve("sentinel_b").toString)
      val order = Seq("data", "sentinel_a", "sentinel_b")
      val parts = order.flatMap { sub =>
        Files.list(tmp.resolve(sub)).iterator().asScala.toSeq
          .filter(p => p.getFileName.toString.endsWith(".parquet"))
      }
      Files.createDirectories(spool)
      val t0 = System.currentTimeMillis()
      parts.zipWithIndex.foreach { case (p, i) =>
        val dst = spool.resolve(f"part-$i%03d.parquet")
        Files.copy(p, dst)
        // strictly increasing mtimes: oldest-first file order must put
        // the sentinels in their own later micro-batches
        Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(t0 + i * 2000L))
      }
    }
    val schema = project(s.read.parquet(path)).schema
    s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(spool.toString)
  }

  def queries: Seq[graft.Q] =
    Seq(w1Parity, exemplarParity, countsParity, twsParity,
      twsTopkParity, twsSessionParity, joinParity,
      enrichParity,
      outerJoinParity, hllParity, cmParity, qsketchParity, sessionParity,
      ivfAssignParity, bloomFilterParity, upsertParity, abParity,
      contractParity, zonemapParity)
}
