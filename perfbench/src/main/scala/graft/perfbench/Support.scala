package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.model.ChangeIndex
import graft.sources.CdcOffset
import graft.streaming.CdcPipeline
import graft.streaming.CdcPipeline.{CdcEvent, CdcSink, KeyedUpdate}

/** Minimal JSON rendering for the result file (numbers, strings, maps, seqs). */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  }.mkString("\"", "", "\"")

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}

object Stats {
  /** Linear-interpolated percentile (q in [0, 1]) of unsorted values. */
  def pct(values: Seq[Double], q: Double): Double = {
    require(values.nonEmpty, "percentile of no samples")
    val s = values.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(values: Seq[Double]): Double = pct(values, 0.5)

  /** Percentile of values where each value counts `weight` times. */
  def weightedPct(values: Seq[(Double, Long)], q: Double): Double = {
    val s = values.filter(_._2 > 0).sortBy(_._1)
    val total = s.map(_._2).sum
    require(total > 0, "percentile of no samples")
    val target = math.max(1L, math.ceil(q * total).toLong)
    var acc = 0L
    s.find { case (_, w) => acc += w; acc >= target }.get._1
  }
}

/** One micro-batch as the streaming listener reported it. `commitMs` is the
  * wall clock (epoch ms) at which the batch's offsets were committed. */
final case class BatchRecord(batchId: Long, rows: Long, durationMs: Long, commitMs: Long,
    phasesMs: Map[String, Long], endOffset: Option[ChangeIndex],
    stateRows: Long, stateBytes: Long, stateUpdateMs: Long, stateCommitMs: Long)

/** Collects every progress event of one query. A listener, not
  * `query.recentProgress`: the latter keeps only the last 100 events and a
  * long drain silently loses the earliest batches. */
final class ProgressRecorder(table: String) extends StreamingQueryListener {
  private val batches = new ConcurrentLinkedQueue[BatchRecord]()
  @volatile var rowsSeen: Long = 0L
  @volatile var lastEnd: Option[ChangeIndex] = None
  @volatile var progressEvents: Long = 0L

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
    val end = p.sources.headOption.flatMap(s => Option(s.endOffset))
      .flatMap(j => CdcOffset.fromJson(j).tables.get(table)).map(_.changeIndex)
    val st = p.stateOperators.headOption
    val phases = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    batches.add(BatchRecord(p.batchId, p.numInputRows, p.batchDuration,
      startMs + p.batchDuration, phases, end,
      st.map(_.numRowsTotal).getOrElse(0L), st.map(_.memoryUsedBytes).getOrElse(0L),
      st.map(_.allUpdatesTimeMs).getOrElse(0L), st.map(_.commitTimeMs).getOrElse(0L)))
    rowsSeen += p.numInputRows
    if (end.isDefined) lastEnd = end
    progressEvents += 1
  }

  /** Every trigger's progress, in order (idle triggers included). */
  def records: Seq[BatchRecord] = batches.asScala.toSeq.sortBy(_.commitMs)
}

/** The stream under test: CdcTableProvider → PreUpdate filter and envelope
  * columns (as CdcPipeline.changeStream) → CdcPipeline.keyedUpdates → a
  * CdcSink, one foreachBatch call per micro-batch that persists and counts
  * the batch, then writes it (as CdcPipeline.run). */
object CdcStream {
  val BatchSize = 2000

  def events(spark: SparkSession, table: String, feedDir: String,
      snapshotDir: Option[String], startPoint: String): Dataset[CdcEvent] = {
    import spark.implicits._
    val r = spark.readStream.format("graft.sources.CdcTableProvider")
      .option("feedDir", feedDir).option("tableName", table)
      .option("batchSize", BatchSize.toString).option("startPoint", startPoint)
    snapshotDir.foreach(d => r.option("snapshotDir", d))
    r.load()
      .filter(col("operation") =!= 3)
      .select(col("lsn_num").as("lsnNum"), col("command_id").as("commandId"),
        col("seqval_num").as("seqvalNum"), col("operation"),
        col("event_id").as("eventId"), col("user_id").as("userId"),
        col("event_type").as("eventType"), col("value"), col("props"))
      .as[CdcEvent]
  }

  def start(spark: SparkSession, events: Dataset[CdcEvent], checkpoint: String,
      trigger: Trigger, sink: CdcSink, tracer: Tracer): StreamingQuery =
    CdcPipeline.keyedUpdates(events).writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[KeyedUpdate], batchId: Long) =>
        val b = batch.persist()
        val n = tracer.span("streaming.state") {
          LayerListener.tagged(spark, "state")(b.count())
        }
        tracer.add("sink_records", n.toDouble)
        tracer.span("streaming.sink") {
          LayerListener.tagged(spark, "sink")(sink.writeBatch(b, batchId))
        }
        b.unpersist()
        ()
      }
      .start()

  /** Block until `done` holds, failing fast if the query dies. */
  def await(q: StreamingQuery, timeoutMs: Long)(done: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!done) {
      q.exception.foreach(e => throw e)
      if (!q.isActive) throw new IllegalStateException("stream stopped before it drained")
      if (System.currentTimeMillis() > deadline)
        throw new java.util.concurrent.TimeoutException(s"stream did not drain within $timeoutMs ms")
      Thread.sleep(5)
    }
  }
}

/** Correctness gates shared by the two stream workloads. */
object StreamGates {
  /** The published value of one key: (lsnNum, commandId, seqvalNum, operation, eventType, value). */
  type KeyState = (Long, Int, Long, Int, String, Double)

  /** The recovered compacted state, key → last published value. */
  def recovered(spark: SparkSession, broker: String, topic: String): Map[Long, KeyState] =
    graft.streaming.BrokerSink.compactedState(spark, broker, topic)
      .select("userId", "lsnNum", "commandId", "seqvalNum", "operation", "eventType", "value")
      .collect().map { r =>
        r.getLong(0) -> ((r.getLong(1), r.getInt(2), r.getLong(3), r.getInt(4), r.getString(5), r.getDouble(6)))
      }.toMap

  /** Batch last-wins truth: per key, the row with the highest change index;
    * keys whose last row is a delete are absent. */
  def lastWins(rows: Iterator[CdcEvent]): Map[Long, KeyState] = {
    import scala.math.Ordering.Implicits._
    val last = scala.collection.mutable.HashMap[Long, CdcEvent]()
    rows.foreach { e =>
      val k = (e.lsnNum, e.commandId, e.seqvalNum, e.operation)
      last.get(e.userId) match {
        case Some(p) if (p.lsnNum, p.commandId, p.seqvalNum, p.operation) >= k =>
        case _ => last(e.userId) = e
      }
    }
    last.iterator.collect { case (k, e) if e.operation != 1 =>
      k -> ((e.lsnNum, e.commandId, e.seqvalNum, e.operation, e.eventType, e.value))
    }.toMap
  }

  /** Describe the first differences between truth and the recovered state. */
  def diff(truth: Map[Long, KeyState], got: Map[Long, KeyState]): Option[String] = {
    val missing = truth.keySet -- got.keySet
    val extra = got.keySet -- truth.keySet
    val wrong = truth.keySet.intersect(got.keySet).filter(k => truth(k) != got(k))
    if (missing.isEmpty && extra.isEmpty && wrong.isEmpty) None
    else Some(s"recovered state differs from last-wins truth: ${missing.size} keys missing " +
      s"(e.g. ${missing.take(3).mkString(",")}), ${extra.size} extra (e.g. ${extra.take(3).mkString(",")}), " +
      s"${wrong.size} wrong (e.g. ${wrong.take(2).map(k => s"$k: ${got(k)} != ${truth(k)}").mkString("; ")})")
  }

  private val field = "\"(userId|lsnNum|commandId|seqvalNum|operation)\":(-?\\d+)".r

  /** Exactly-once check: a (key, change index) pair that appears more than
    * once among the committed value records of the log. */
  def duplicates(broker: String, topic: String): Option[String] = {
    val recs = graft.streaming.LogBroker.get(broker).readCommittedAll(topic)
    val seen = scala.collection.mutable.HashMap[String, Int]()
    recs.foreach { case (_, d) =>
      if (d.value != null) {
        val f = field.findAllMatchIn(new String(d.value, "UTF-8")).map(m => m.group(1) -> m.group(2)).toMap
        val id = Seq("userId", "lsnNum", "commandId", "seqvalNum", "operation").map(f.getOrElse(_, "?")).mkString("/")
        seen(id) = seen.getOrElse(id, 0) + 1
      }
    }
    val dups = seen.collect { case (k, n) if n > 1 => s"$k x$n" }
    if (dups.isEmpty) None
    else Some(s"${dups.size} duplicated records, e.g. ${dups.take(3).mkString(", ")}")
  }

  def tombstones(broker: String, topic: String): Long =
    graft.streaming.LogBroker.get(broker).readCommittedAll(topic).count(_._2.value == null).toLong
}
