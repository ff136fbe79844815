package graft
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal
import graft.operators.{PinnedStages, SessionMemo}
object Bench {
  /** The catalog pass loop every main shares: `n` passes over `names`,
    * each query handed to `run` with its 1-based pass number.
    *
    * After each query it sweeps the localCheckpoint blocks the query
    * pinned (outside `run`, so outside any timer — the sweep is a walk
    * over the persistent-RDD map plus async block-removal messages).
    * Without this, ~90 queries' worth of pinned stages accumulate in
    * executor storage and unrelated late-alphabet queries slow 4-5x
    * (round 7: dd_simhash 2.5->10.3 s, text_ngram_novelty pass 2 SLOWER
    * than pass 1). The cross-query memos are registered shared and
    * survive.
    *
    * Between passes it calls [[SessionMemo.reset]], so every pass
    * re-pays each producer stage's real cost; otherwise the memoized
    * stages would time near zero and a per-query min would underclaim. */
  def passLoop[A](spark: SparkSession, names: Seq[String], n: Int)(
      run: (Int, String) => A): Seq[Seq[(String, A)]] =
    (1 to n).map { i =>
      if (i > 1) SessionMemo.reset(spark)
      names.map { name =>
        val r = run(i, name)
        PinnedStages.sweepTransient(spark)
        name -> r
      }
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = SparkEntry.cores
    val spark = SparkEntry.session()
    def loadavg: Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    val loadStart = loadavg
    // Warm up the JVM/codegen/parquet paths once so the first timed query
    // doesn't absorb one-time JIT + reader initialization.
    try {
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings").foreach { t =>
        spark.read.parquet(s"$sfDir/$t.parquet").limit(1).count()
      }
      spark.range(1000000).selectExpr("sum(id)", "md5(cast(id as string))").count()
      SparkEntry.queries.get("d1_count_by_operation").foreach(_(spark, sfDir).count())
    } catch { case NonFatal(_) => () }
    // Deterministic order (Map iteration is incidental), with one
    // dependency: dd_cluster consumes the pair stage dd_minhash_lsh
    // materializes (session-memoized), so run the producer first — the
    // order a production dedup pipeline uses — and each query's timing
    // is its marginal cost.
    // (Same producer-first ordering for the BPE family: text_bpe_train
    // materializes the session-memoized merge list; it must run before
    // its alphabetically-EARLIEST consumer — pipe_tokenize_pack — or the
    // training cost lands in the wrong query's timing.)
    // Dev-loop filter (driver never sets it): bench only the named
    // queries — for re-measuring one regression without the full sweep.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').toSet)
    val ordered = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
      .filterNot(Set("dd_minhash_lsh", "text_bpe_train"))
      .flatMap {
        case n @ "dd_cluster"         => Seq("dd_minhash_lsh", n)
        case n @ "pipe_tokenize_pack" => Seq("text_bpe_train", n)
        case n                        => Seq(n)
      }
    // N full passes (default 3), per-query MIN: a transient machine-load
    // spike in one pass cannot fabricate a regression (round 6 recorded a
    // phantom 5x on e1_global_merge from a loaded sandbox). All pass
    // totals and the load averages are emitted so a reader can judge the
    // run's trustworthiness.
    // Honest config handling: a non-numeric value fails with a clear
    // message (not a bare NumberFormatException mid-startup) and an
    // explicit 1 is honored — a single-pass smoke run is a legitimate
    // ask; the contract line's passes/pass_totals fields disclose it.
    val passesRaw = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3")
    val passes = passesRaw.toIntOption.filter(_ >= 1).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_BENCH_PASSES must be a positive integer, got '$passesRaw'"))
    // A FAILED query records +Infinity, never its time-to-failure: a
    // fast pass-2 error (e.g. a dropped temp-view dependency) would
    // otherwise win the per-query min and fabricate a speedup. A query
    // failing EVERY pass surfaces as -1 in the output (visibly wrong),
    // and the contract line carries an errors count. The exception's
    // class and message go to stderr and onto the query's record. Only
    // NonFatal is caught: an OOM or an interrupt aborts the run instead
    // of passing for a slow query.
    val outcomes: Seq[Seq[(String, Either[String, Double])]] =
      passLoop(spark, ordered, passes) { (_, name) =>
        val t0 = System.nanoTime()
        try {
          SparkEntry.queries(name)(spark, sfDir).count()
          Right((System.nanoTime() - t0) / 1e9)
        } catch { case NonFatal(e) =>
          val why = s"${e.getClass.getName}: ${e.getMessage}"
          System.err.println(s"[bench] $name failed: $why")
          Left(why)
        }
      }
    val passResults: Seq[Seq[(String, Double)]] = outcomes.map(_.map {
      case (k, o) => k -> o.getOrElse(Double.PositiveInfinity)
    })
    val firstError: Map[String, String] = outcomes.flatten
      .collect { case (k, Left(why)) => k -> why }.distinctBy(_._1).toMap
    val byPass: Seq[Map[String, Double]] = passResults.map(_.toMap)
    val results = passResults.head.map { case (k, _) =>
      val m = byPass.map(_(k)).min
      k -> (if (m.isInfinity) -1.0 else m) // failed in EVERY pass
    }
    val errors = results.count(_._2 < 0)
    val loadEnd = loadavg
    // The driver captures a bounded TAIL of stdout: in rounds 4 and 5 the
    // single ~2.8 KB 80-query JSON line lost its head to that window
    // ("parsed": null). Emission contract, revised: the full per-query map
    // goes out first as small standalone lines (for humans and logs), and
    // the LAST line — the one guaranteed to survive a tail capture — is a
    // compact (<1 KB) contract object holding the total plus the slowest
    // queries only. Locale.ROOT: a comma decimal separator would break the
    // JSON.
    def d4(v: Double) = String.format(java.util.Locale.ROOT, "%.4f", v: java.lang.Double)
    def d2(v: Double) = String.format(java.util.Locale.ROOT, "%.2f", v: java.lang.Double)
    def fin(v: Double) = if (v.isInfinity) -1.0 else v
    results.foreach { case (k, v) =>
      val pp = byPass.map(p => d4(fin(p(k)))).mkString("[", ",", "]")
      println(s"""{"q":"$k","sec":${d4(v)},"pp":$pp}""")
    }
    val total = results.map(_._2).filter(_ >= 0).sum
    val slowest = results.sortBy(-_._2).take(12)
      .map { case (k, v) => s""""$k":${d4(v)}""" }.mkString("{", ",", "}")
    val passTotals = passResults
      .map(p => d4(p.map(_._2).filter(_.isFinite).sum)).mkString("[", ",", "]")
    // Self-contained artifact (r13 verdict #6): the driver keeps only a
    // bounded TAIL of stdout, so the full per-query table above may lose
    // its head. Persist the complete run — every {q, sec, pp} plus the
    // contract fields — to a JSON file (default under records/, where
    // the round's wrap-up commit preserves it), and point to it from the
    // final contract line. Best-effort: an unwritable path must not fail
    // the bench.
    val perQuery = results.map { case (k, v) =>
      val pp = byPass.map(p => d4(fin(p(k)))).mkString("[", ",", "]")
      val err = firstError.get(k)
        .fold("")(why => s""","error":${graft.serde.MicroJson.quote(why)}""")
      s"""  {"q":"$k","sec":${d4(v)},"pp":$pp$err}"""
    }.mkString("[\n", ",\n", "\n]")
    // Default path stamped with the core count (r16, VERDICT r15 #8): the
    // driver benches the same round at two core counts and the second run
    // overwrote the first's full per-query record on disk.
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"records/bench_full_${cpus}c.json")
    val wrote = try {
      val p = java.nio.file.Paths.get(fullPath)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p,
        (s"""{"metric":"total","value":${d4(total)},"unit":"sec","sf":"$sfDir",""" +
          s""""n_queries":${results.size},"errors":$errors,"passes":$passes,""" +
          s""""pass_totals":$passTotals,"loadavg":[${d2(loadStart)},${d2(loadEnd)}],""" +
          s"""\n"results":$perQuery}\n""")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      true
    } catch { case scala.util.control.NonFatal(_) => false }
    val fullRef = if (wrote) s""","full":"$fullPath"""" else ""
    println(s"""{"metric":"total","value":${d4(total)},"unit":"sec","queries":$slowest,"sf":"$sfDir","n_queries":${results.size},"errors":$errors,"passes":$passes,"pass_totals":$passTotals,"loadavg":[${d2(loadStart)},${d2(loadEnd)}]$fullRef}""")
    spark.stop()
  }
}
