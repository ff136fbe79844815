package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one run reports back to run.py: operations attempted and failed
  * (with the exception of each failure), end-to-end metrics (always
  * measured), per-layer metrics (traced run only) and free-form info. */
final class Result {
  var attempted = 0L
  val failures = mutable.ArrayBuffer[(String, String, String)]()
  val metrics = mutable.LinkedHashMap[String, Double]()
  val layers = mutable.LinkedHashMap[String, Double]()
  val info = mutable.LinkedHashMap[String, Any]()

  /** Run one checked operation; a throw counts as a failed operation. */
  def op[T](name: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f)
    catch {
      case e: Throwable if scala.util.control.NonFatal(e) || e.isInstanceOf[AssertionError] =>
        failures += ((name, e.getClass.getName, String.valueOf(e.getMessage).take(600)))
        None
    }
  }

  /** A correctness gate: `check` returns None when it holds, else why not. */
  def gate(name: String)(check: => Option[String]): Unit =
    op(name)(check.foreach(msg => throw new AssertionError(msg)))

  def json: String = Json.obj(Seq(
    "attempted" -> attempted,
    "failed" -> failures.size.toLong,
    "failures" -> failures.toSeq.map { case (n, c, m) => Map("op" -> n, "exception" -> c, "message" -> m) },
    "metrics" -> metrics.toMap,
    "layers" -> layers.toMap,
    "info" -> info.toMap))
}

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
    data: String, work: String, out: String, cores: Int)

/** Entry point of one benchmark run (launched by run.py, one JVM per run).
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  *             --work DIR --out FILE --cores C */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("data"), need("work"), need("out"), kv.get("cores").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors))

    val res = new Result
    val tracer = new Tracer(o.trace)
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.sql.streaming.noDataProgressEventInterval", "100")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    res.info("session_start_s") = (System.nanoTime() - t0) / 1e9
    res.info("cores") = o.cores

    val plan = new PlanListener(tracer)
    if (o.trace) {
      spark.sparkContext.addSparkListener(new LayerListener(tracer))
      spark.listenerManager.register(plan)
    }
    try {
      o.workload match {
        case "orders_backfill" => new OrdersBackfill(spark, o, res, tracer).run()
        case "events_follow" => new EventsFollow(spark, o, res, tracer).run()
        case "catalog_cdc" => new CatalogCdc(spark, o, res, tracer, plan).run()
        case w => throw new IllegalArgumentException(s"unknown workload '$w'")
      }
      if (o.trace) {
        Layers.complete(res)
        tracer.writeJson(Paths.get(o.out).resolveSibling("spans.json"))
      }
    } finally {
      write(Paths.get(o.out), res.json)
      spark.stop()
    }
  }

  private def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes("UTF-8"))
  }

  /** Total GC time (ms) of every collector so far. */
  def gcMs: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble
  }

  def elapsedS(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.deleteIfExists(x))
      finally s.close()
    }
  }
}
