package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{BrokerSink, LogBroker}
import graft.streaming.CdcPipeline.CdcEvent

/** orders_backfill: closed loop, catch-up.
  *
  * The source's snapshot dimension holds every `orders` key (reverse keyset
  * pages of 2,000); the change feed holds, drawn by seed, updates on ~1/3
  * of the keys, deletes on ~1/17 and inserts of new keys on ~1/1000, in a
  * seeded commit order. Each repetition stages the feed into fresh
  * directories (set-up), then drains it with back-to-back triggers through
  * keyedUpdates into a transactional LogBroker topic (timed), then recovers
  * the compacted state and checks it (untimed). A run makes one repetition
  * per `SecondsPerDrain` of `--seconds` (at least one), a count that does
  * not depend on how fast the drains go. */
final class OrdersBackfill(spark: SparkSession, o: Opts, res: Result, tracer: Tracer) {
  private val table = "orders"
  private val SecondsPerDrain = 5

  private def snapshotRows(orders: DataFrame): DataFrame = orders.select(
    lit(0L).as("lsn_num"), lit(0).as("command_id"), lit(0L).as("seqval_num"),
    lit(0).as("operation"), col("o_orderkey").as("event_id"),
    col("o_orderkey").as("user_id"), col("o_orderstatus").as("event_type"),
    col("o_totalprice").as("value"), col("o_orderpriority").as("props"))

  /** Seeded change rows. A key's update and delete share a commit slot
    * drawn by seed, so the delete always follows the update; slots order
    * the whole feed. */
  private def changeRows(orders: DataFrame, maxKey: Long): DataFrame = {
    val s = o.seed
    def pick(salt: Long, m: Int) = pmod(xxhash64(col("o_orderkey"), lit(s * 7919L + salt)), lit(m.toLong)) === 0
    def slot(k: org.apache.spark.sql.Column) = pmod(xxhash64(k, lit(s * 7919L + 99L)), lit(1L << 30)) * 4L
    def row(lsn: org.apache.spark.sql.Column, op: Int, key: org.apache.spark.sql.Column,
        kind: String, value: org.apache.spark.sql.Column) = Seq(
      lsn.cast("long").as("lsn_num"), lit(0).as("command_id"),
      (key * 4L + op).cast("long").as("seqval_num"), lit(op).as("operation"),
      key.as("event_id"), key.as("user_id"), lit(kind).as("event_type"),
      value.as("value"), col("o_orderpriority").as("props"))
    val k = col("o_orderkey")
    val newKey = k + (maxKey + 1)
    val updates = orders.filter(pick(1, 3)).select(row(slot(k) + 1, 4, k, "U", round(col("o_totalprice") * 1.01, 2)): _*)
    val deletes = orders.filter(pick(2, 17)).select(row(slot(k) + 2, 1, k, "D", lit(0.0)): _*)
    val inserts = orders.filter(pick(3, 1000)).select(row(slot(newKey) + 3, 2, newKey, "N", col("o_totalprice")): _*)
    updates.unionByName(deletes).unionByName(inserts)
  }

  private def toEvents(df: DataFrame): Iterator[CdcEvent] =
    df.collect().iterator.map(r => CdcEvent(r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
      r.getLong(4), r.getLong(5), r.getString(6), r.getDouble(7), r.getString(8)))

  /** Stage the snapshot (one file per key range, highest keys first) and the
    * change feed (poll windows in change-index order). */
  private def stage(orders: DataFrame, maxKey: Long, dir: String): Unit = {
    snapshotRows(orders)
      .repartitionByRange(o.cores, col("event_id").desc)
      .write.parquet(s"$dir/snapshot")
    changeRows(orders, maxKey)
      .repartitionByRange(o.cores, col("lsn_num"), col("seqval_num"))
      .sortWithinPartitions("lsn_num", "seqval_num")
      .write.parquet(s"$dir/feed")
  }

  def run(): Unit = {
    val orders = spark.read.parquet(s"${o.data}/orders.parquet").cache()
    val maxKey = orders.agg(max("o_orderkey")).head().getLong(0)
    val changes = changeRows(orders, maxKey).cache()
    val truth = StreamGates.lastWins(toEvents(snapshotRows(orders)) ++ toEvents(changes))
    val deletes = changes.filter(col("operation") === 1).count()
    val expectedRows = orders.count() + changes.count()
    res.info("keys") = orders.count()
    res.info("feed_rows") = expectedRows

    // Warm-up outside measurement: one full drain, so the timed drains do
    // not pay class loading, code generation and most of the JIT warm-up.
    val warm = s"${o.work}/warm"
    stage(orders, maxKey, warm)
    drain(warm, expectedRows, "warm", timed = false)
    Main.deleteTree(warm)
    tracer.resetCounters()

    val setups, drains, recoveries = ArrayBuffer[Double]()
    val batches = ArrayBuffer[BatchRecord]()
    val perDrain = ArrayBuffer[Map[String, Double]]()
    val gc0 = Main.gcMs
    var rep = 0
    val reps = math.max(1, o.seconds / SecondsPerDrain)
    while (rep < reps) {
      rep += 1
      val dir = s"${o.work}/rep$rep"
      val t0 = System.nanoTime()
      tracer.span("bench.setup")(stage(orders, maxKey, dir))
      setups += Main.elapsedS(t0)
      res.op(s"drain rep $rep")(drain(dir, expectedRows, s"rep$rep", timed = true)).foreach {
        case (wall, recs, startMs, broker, recoveryS) =>
          drains += wall
          recoveries += recoveryS
          batches ++= recs
          val rowBatches = recs.filter(_.rows > 0)
          val rowLatency = rowBatches.map(b => ((b.commitMs - startMs).toDouble, b.rows))
          perDrain += Map(
            "rows_per_s" -> rowBatches.map(_.rows).sum / wall,
            "step_p50_ms" -> Stats.median(rowBatches.map(_.durationMs.toDouble)),
            "latency_p50_ms" -> Stats.weightedPct(rowLatency, 0.5),
            "latency_p90_ms" -> Stats.weightedPct(rowLatency, 0.9))
          res.gate(s"compacted state rep $rep")(
            StreamGates.diff(truth, StreamGates.recovered(spark, broker, table)))
          res.gate(s"no duplicate (key, change index) rep $rep")(StreamGates.duplicates(broker, table))
          res.gate(s"one tombstone per delete rep $rep") {
            val t = StreamGates.tombstones(broker, table)
            if (t == deletes) None else Some(s"$t tombstones for $deletes deletes")
          }
          LogBroker.drop(broker)
      }
      Main.deleteTree(dir)
      if (drains.isEmpty) return // the first drain failed: nothing to measure
    }
    val rowBatches = batches.filter(_.rows > 0)
    // Each metric is measured per drain and reported as the median drain's.
    res.metrics("setup_s") = Stats.median(setups.toSeq)
    perDrain.head.keys.foreach(k => res.metrics(k) = Stats.median(perDrain.map(_(k)).toSeq))
    res.info("repetitions") = rep
    res.info("step_samples") = rowBatches.size
    res.info("batch_ms") = rowBatches.map(_.durationMs).toSeq
    res.info("drain_s") = drains.toSeq
    res.info("recovery_s") = recoveries.toSeq
    StreamLayers.report(res, tracer, batches.toSeq, drains.sum * 1000, Main.gcMs - gc0, o.cores,
      recoveryS = recoveries.sum, recoveredKeys = truth.size.toLong * recoveries.size)
  }

  /** One timed drain; returns (wall s, batches, start epoch ms, broker, recovery s). */
  private def drain(dir: String, expectedRows: Long, tag: String, timed: Boolean)
      : (Double, Seq[BatchRecord], Long, String, Double) = {
    val broker = s"perfbench-$table-${o.seed}-$tag-${System.nanoTime()}"
    val tr = if (timed) tracer else Tracer.off
    val rec = new ProgressRecorder(table)
    spark.streams.addListener(rec)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val q = CdcStream.start(spark,
      CdcStream.events(spark, table, s"$dir/feed", Some(s"$dir/snapshot"), "earliest"),
      s"$dir/checkpoint", Trigger.ProcessingTime(0), BrokerSink.transactional(broker, table),
      tr)
    try CdcStream.await(q, 170000)(rec.rowsSeen >= expectedRows)
    finally { q.stop(); spark.streams.removeListener(rec) }
    val lastCommit = rec.records.filter(_.rows > 0).map(_.commitMs).max
    val recs = rec.records.filter(_.commitMs <= lastCommit)
    val wall = (lastCommit - startMs) / 1000.0
    tr.record("bench.drain", t0, t0 + (wall * 1e9).toLong)
    // Recovery: the compacted-topic restart path, counted. The traced run
    // also times the broker's compacted view alone.
    if (tr.enabled) tr.span("streaming.recovery_view")(LogBroker.get(broker).compactedView(table).size)
    val r0 = System.nanoTime()
    tr.span("streaming.recovery")(BrokerSink.compactedState(spark, broker, table).count())
    val recoveryS = Main.elapsedS(r0)
    if (!timed) LogBroker.drop(broker)
    (wall, recs, startMs, broker, recoveryS)
  }
}
