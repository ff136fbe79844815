package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath, RawLocalFileSystem}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.model.ChangeIndex
import graft.streaming.{BrokerSink, LogBroker}
import graft.streaming.CdcPipeline.CdcEvent

/** events_follow: open loop at a fixed rate.
  *
  * The feed starts with the `events` history (the SyntheticCdc change rows,
  * staged as 10 poll-window files in change-index order) and is followed
  * from `startPoint=latest` with a 2 s processing-time trigger. One
  * generator thread lands `Rate` change rows per second as one poll-window
  * file per second, continuing the SyntheticCdc derivation (event ids after
  * the history, Zipf-skewed users). Row i of a window is due (committed at
  * the source) at window start + i / Rate; the window lands when it closes.
  * A row's latency runs from its due time to the commit of the first batch
  * whose end offset covers it. Windows close half a second after a whole
  * second and the trigger clock ticks on even seconds, so the phase between
  * generator and trigger is the same in every run while batches finish
  * within the trigger interval. */
final class EventsFollow(spark: SparkSession, o: Opts, res: Result, tracer: Tracer) {
  private val table = "events"
  private val Rate = 500
  private val WindowMs = 1000
  private val RowsPerWindow = Rate * WindowMs / 1000
  private val HistoryFiles = 10
  private val TriggerMs = 2000
  private val Setups = 3

  /** Stage the history: the SyntheticCdc change rows of `events`, one file
    * per poll window, in change-index order. */
  private def stageHistory(feed: String): Unit =
    graft.fixtures.SyntheticCdc.changeRows(spark, o.data)
      .select("lsn_num", "command_id", "seqval_num", "operation", "event_id", "user_id",
        "event_type", "value", "props")
      .repartitionByRange(HistoryFiles, org.apache.spark.sql.functions.col("seqval_num"))
      .sortWithinPartitions("seqval_num")
      .write.parquet(feed)

  private val schema = MessageTypeParser.parseMessageType(
    """message feed {
      |  required int64 lsn_num; required int32 command_id;
      |  required int64 seqval_num; required int32 operation;
      |  optional int64 event_id; optional int64 user_id;
      |  optional binary event_type (UTF8); optional double value;
      |  optional binary props (UTF8);
      |}""".stripMargin)

  /** The change row for event id `e`, derived as SyntheticCdc derives it. */
  private def row(e: Long, user: Long, kind: String, value: Double, k: Int): CdcEvent =
    CdcEvent(e / 8, ((e % 8) / 2).toInt, e, (1 + e % 4).toInt, e, user, kind, value, s"""{"k": $k}""")

  private def index(e: CdcEvent): ChangeIndex = ChangeIndex(ChangeIndex.lsnFromLong(e.lsnNum),
    e.commandId, ChangeIndex.lsnFromLong(e.seqvalNum), e.operation)

  /** Seeded rows of every window: users Zipf(1.1)-skewed over `users`. */
  private def windows(n: Int, firstId: Long, users: Int): IndexedSeq[IndexedSeq[CdcEvent]] = {
    val rnd = new java.util.SplittableRandom(o.seed * 1000003L + 17)
    val perm = (0 until users).map(_.toLong).toArray
    for (i <- perm.indices.reverse) { // Fisher-Yates: which users are hot depends on the seed
      val j = rnd.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    val w = (1 to users).map(r => 1.0 / math.pow(r, 1.1))
    val cdf = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    val kinds = Array("signup", "click", "error", "view", "purchase")
    (0 until n).map { k =>
      (0 until RowsPerWindow).map { i =>
        val e = firstId + k.toLong * RowsPerWindow + i
        val rank = java.util.Arrays.binarySearch(cdf, rnd.nextDouble()) match {
          case x if x >= 0 => x; case x => math.min(-x - 1, users - 1)
        }
        row(e, perm(rank), kinds(rnd.nextInt(kinds.length)),
          math.round(-50.0 * math.log(1.0 - rnd.nextDouble()) * 100) / 100.0, rnd.nextInt(100))
      }
    }
  }

  private val hconf = {
    val c = new Configuration()
    c.set("fs.file.impl", classOf[RawLocalFileSystem].getName) // no .crc side files
    c.setBoolean("fs.file.impl.disable.cache", true)
    c
  }

  /** Write one poll window with the parquet-hadoop writer (no Spark job) to
    * a hidden name, then rename it into the feed, so the source never lists
    * a partial file. */
  private def land(feed: String, k: Int, rows: Seq[CdcEvent]): Unit = {
    val tmp = Paths.get(feed, f".landing-$k%06d")
    val w = ExampleParquetWriter.builder(new HPath(tmp.toUri)).withType(schema).withConf(hconf).build()
    val f = new SimpleGroupFactory(schema)
    try rows.foreach { r =>
      w.write(f.newGroup().append("lsn_num", r.lsnNum).append("command_id", r.commandId)
        .append("seqval_num", r.seqvalNum).append("operation", r.operation)
        .append("event_id", r.eventId).append("user_id", r.userId)
        .append("event_type", r.eventType).append("value", r.value).append("props", r.props))
    } finally w.close()
    Files.move(tmp, Paths.get(feed, f"window-$k%06d.parquet"), StandardCopyOption.ATOMIC_MOVE)
  }

  def run(): Unit = {
    val ev = spark.read.parquet(s"${o.data}/events.parquet")
    val historyRows = ev.count()
    val users = ev.agg(org.apache.spark.sql.functions.max("user_id")).head().getLong(0).toInt + 1
    val nWindows = math.max(1, o.seconds * 1000 / WindowMs)
    val plan = windows(nWindows, historyRows, users)

    // Set-up, several times: stage the history into a fresh feed directory;
    // the last copy is followed. Then start the query from `latest` and
    // wait for its first trigger (its initial offset) before generating.
    val setups = ArrayBuffer[Double]()
    val dirs = (1 to Setups).map(i => s"${o.work}/setup$i")
    dirs.foreach { d =>
      val t0 = System.nanoTime()
      tracer.span("bench.setup")(stageHistory(s"$d/feed"))
      setups += Main.elapsedS(t0)
    }
    val dir = dirs.last
    dirs.init.foreach(Main.deleteTree)
    val broker = s"perfbench-$table-${o.seed}-${System.nanoTime()}"
    val rec = new ProgressRecorder(table)
    spark.streams.addListener(rec)
    val q = CdcStream.start(spark, CdcStream.events(spark, table, s"$dir/feed", None, "latest"),
      s"$dir/checkpoint", Trigger.ProcessingTime(TriggerMs), BrokerSink.transactional(broker, table),
      tracer)
    CdcStream.await(q, 60000)(rec.progressEvents > 0)
    tracer.resetCounters()

    // Open loop: window k lands when it closes, at t0 + (k + 1) s, half a
    // second after a whole second.
    val late = new java.util.concurrent.atomic.AtomicLong(0)
    val gc0 = Main.gcMs
    val t0Ms = (System.currentTimeMillis() / TriggerMs + 1) * TriggerMs + WindowMs / 2
    val due = (0 until nWindows).map(k => t0Ms + (k + 1).toLong * WindowMs)
    val gen = new Thread(() => {
      for (k <- 0 until nWindows) {
        val wait = due(k) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        land(s"$dir/feed", k, plan(k))
        late.accumulateAndGet(System.currentTimeMillis() - due(k), (a, b) => math.max(a, b))
      }
    }, "perfbench-generator")
    gen.setDaemon(true)
    val lastIndex = index(plan.last.last)
    res.op("follow") {
      gen.start()
      try {
        gen.join()
        CdcStream.await(q, 120000)(rec.lastEnd.exists(_ >= lastIndex))
      } finally { q.stop(); spark.streams.removeListener(rec) }
    }
    if (gen.isAlive) gen.interrupt()
    val recs = rec.records.filter(_.commitMs > t0Ms)
    val rowBatches = recs.filter(_.rows > 0)
    // Latency per row: its due time → commit of the first batch covering it.
    def commitOf(e: CdcEvent) = recs.find(_.endOffset.exists(_ >= index(e))).map(_.commitMs)
    val latencies = plan.indices.flatMap { k =>
      val start = t0Ms + k.toLong * WindowMs
      plan(k).zipWithIndex.flatMap { case (e, i) =>
        commitOf(e).map(c => (c - (start + i.toLong * WindowMs / RowsPerWindow)).toDouble)
      }
    }
    val windowLatencies = plan.indices.flatMap(k => commitOf(plan(k).last).map(c => (c - due(k)).toDouble))
    val wallMs = rowBatches.lastOption.map(_.commitMs - t0Ms).getOrElse(0L).toDouble
    val generated = plan.flatten
    val truth = StreamGates.lastWins(generated.iterator.filter(_.operation != 3))

    res.gate("every window published") {
      if (windowLatencies.size == nWindows) None
      else Some(s"${windowLatencies.size} of $nWindows windows published")
    }
    res.gate("compacted state")(StreamGates.diff(truth, StreamGates.recovered(spark, broker, table)))
    res.gate("no duplicate (key, change index)")(StreamGates.duplicates(broker, table))
    val r0 = System.nanoTime()
    if (tracer.enabled) tracer.span("streaming.recovery_view")(LogBroker.get(broker).compactedView(table).size)
    val r1 = System.nanoTime()
    tracer.span("streaming.recovery")(BrokerSink.compactedState(spark, broker, table).count())
    val recoveryS = Main.elapsedS(r1)
    LogBroker.drop(broker)
    Main.deleteTree(dir)

    if (rowBatches.nonEmpty && latencies.nonEmpty) {
      res.metrics("setup_s") = Stats.median(setups.toSeq)
      res.metrics("rows_per_s") = rowBatches.map(_.rows).sum / (wallMs / 1000)
      res.metrics("step_p50_ms") = Stats.median(rowBatches.map(_.durationMs.toDouble))
      res.metrics("latency_p50_ms") = Stats.median(latencies)
      res.metrics("latency_p90_ms") = Stats.pct(latencies, 0.9)
    }
    res.info("windows") = nWindows
    res.info("generated_rows") = generated.size
    res.info("latency_samples") = latencies.size
    res.info("window_latency_ms") = windowLatencies
    res.info("step_samples") = rowBatches.size
    res.info("batch_ms") = rowBatches.map(_.durationMs)
    res.info("generator_late_ms_max") = late.get()
    res.info("recovery_s") = recoveryS
    res.info("recovery_view_s") = (r1 - r0) / 1e9
    StreamLayers.report(res, tracer, recs, wallMs, Main.gcMs - gc0, o.cores,
      recoveryS = recoveryS, recoveredKeys = truth.size.toLong)
    if (tracer.enabled) res.layers("bench.generator_late_pct") = 100.0 * late.get() / WindowMs
  }
}
