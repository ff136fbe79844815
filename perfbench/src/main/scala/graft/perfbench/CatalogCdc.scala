package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.operators.PinnedStages

/** catalog_cdc: closed loop, batch.
  *
  * The catalog queries that restate the first two operators of each of
  * the reference's operator families (`[a-g][1-2]_*`) and `envelope`, over
  * the seeded tables. Set-up is the cold
  * pass: every query once, its output written for the DuckDB oracle check
  * (run.py). Timed passes then `.count()` every query, with the session
  * memos and pins reset between passes and the transient pins swept after
  * each query, as graft.Bench does. A run makes one timed pass per
  * `SecondsPerPass` of `--seconds` (at least one). */
final class CatalogCdc(spark: SparkSession, o: Opts, res: Result, tracer: Tracer, plan: PlanListener) {
  private val selected = "([a-g][1-2]_.*|envelope)".r
  private val SecondsPerPass = 4

  /** Drop every session memo and shared pin, so a pass re-pays each
    * producer stage's real cost. */
  private def resetMemos(): Unit = {
    graft.queries.DedupQueries.clearSessionMemos()
    graft.queries.TokenizerQueries.clearSessionMemos()
    graft.queries.PcaQueries.clearSessionMemos()
    graft.queries.SketchQueries.clearSessionMemos()
    graft.queries.SimilarityQueries.clearSessionMemos()
    graft.operators.AsOfJoin.clearBoundsCache()
    PinnedStages.releaseShared(spark)
  }

  private def pinned(): (Int, Long) = {
    val ids = spark.sparkContext.getPersistentRDDs.keySet
    val bytes = spark.sparkContext.getRDDStorageInfo.filter(i => ids.contains(i.id))
      .map(i => i.memSize + i.diskSize).sum
    (ids.size, bytes)
  }

  def run(): Unit = {
    val names = SparkEntry.queries.keys.filter(n => selected.pattern.matcher(n).matches).toSeq.sorted
    val oracle = SparkEntry.oracleSql
    val outDir = s"${o.work}/outputs"
    Files.createDirectories(Paths.get(outDir))
    Files.write(Paths.get(outDir, "oracle_sql.json"),
      Json.obj(names.flatMap(n => oracle.get(n).map(n -> (_: Any)))).getBytes("UTF-8"))
    res.info("queries") = names.size

    // Set-up: the cold pass, writing every output for the oracle check.
    val t0 = System.nanoTime()
    val coldMs = scala.collection.mutable.LinkedHashMap[String, Double]()
    names.foreach { n =>
      val q0 = System.nanoTime()
      res.op(s"write $n")(SparkEntry.queries(n)(spark, o.data).write.parquet(s"$outDir/$n"))
      coldMs(n) = (System.nanoTime() - q0) / 1e6
      PinnedStages.sweepTransient(spark)
    }
    res.info("cold_ms") = coldMs.toMap
    val setupS = Main.elapsedS(t0)
    resetMemos()
    tracer.resetCounters()
    val actions0 = plan.actions.get()

    val perQuery = ArrayBuffer[Double]()        // ms, every timed query
    val perPass = ArrayBuffer[Map[String, Double]]()
    val passWalls = ArrayBuffer[Double]()
    val counts = scala.collection.mutable.LinkedHashMap[String, Long]()
    val queryMs = scala.collection.mutable.LinkedHashMap[String, Double]()
    var pins, pinBytes = 0L
    var passes = 0
    val gc0 = Main.gcMs
    val nPasses = math.max(1, o.seconds / SecondsPerPass)
    while (passes < nPasses && (passes == 0 || counts.nonEmpty)) {
      if (passes > 0) resetMemos()
      passes += 1
      val p0 = System.nanoTime()
      val times, sinceStart = ArrayBuffer[Double]() // ms per query; ms from pass start to its result
      var rowsOut = 0L
      names.foreach { n =>
        val q0 = System.nanoTime()
        val c = res.op(n) {
          tracer.span("queries.query") {
            LayerListener.tagged(spark, "queries")(SparkEntry.queries(n)(spark, o.data).count())
          }
        }
        val q1 = System.nanoTime()
        c.foreach { rows =>
          times += (q1 - q0) / 1e6
          sinceStart += (q1 - p0) / 1e6
          rowsOut += rows
          counts(n) = rows
          queryMs(n) = (q1 - q0) / 1e6
        }
        if (tracer.enabled) { val (k, b) = pinned(); pins += k; pinBytes += b }
        PinnedStages.sweepTransient(spark)
      }
      passWalls += (System.nanoTime() - p0) / 1e6
      perQuery ++= times
      if (times.nonEmpty) perPass += Map(
        "rows_per_s" -> rowsOut / (times.sum / 1000),
        "step_p50_ms" -> Stats.median(times.toSeq),
        "latency_p50_ms" -> Stats.median(sinceStart.toSeq),
        "latency_p90_ms" -> Stats.pct(sinceStart.toSeq, 0.9))
    }
    res.info("passes") = passes
    res.info("pass_ms") = passWalls.toSeq
    res.info("counts") = counts.toMap
    res.info("query_ms") = queryMs.toMap
    // Each metric is measured per pass and reported as the median pass's.
    if (perPass.nonEmpty) {
      res.metrics("setup_s") = setupS
      perPass.head.keys.foreach(k => res.metrics(k) = Stats.median(perPass.map(_(k)).toSeq))
    }
    if (tracer.enabled) {
      plan.awaitActions(actions0 + perQuery.size)
      Thread.sleep(200) // let the listener bus deliver the last task events
      val n = perQuery.size.max(1).toDouble
      val l = res.layers
      l("queries.plan_ms") = tracer.counter("plan_ms") / tracer.counter("plan_actions").max(1)
      l("queries.explained_pct") = 100.0 * tracer.totalMs("queries.query") / passWalls.sum
      l("queries.jobs") = tracer.counter("jobs.queries") / n
      l("queries.stages") = tracer.counter("stages.queries") / n
      l("queries.tasks") = tracer.counter("tasks.queries") / n
      l("queries.shuffle_bytes") = tracer.counter("shuffle_write_bytes.queries") / n
      l("queries.spill_bytes") = tracer.counter("spill_bytes.queries") / n
      l("queries.peak_mem_bytes") = tracer.counter("peak_mem_bytes.queries")
      l("operators.pinned_rdds") = pins / n
      l("operators.pinned_bytes") = pinBytes / n
      l("jvm.gc_ms") = Main.gcMs - gc0
    }
  }
}
