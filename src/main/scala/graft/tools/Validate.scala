package graft.tools

/** The validation entry point (SURVEY §3.3, `--run-validations`,
  * `validation.py:200-483`): runs the count-reconciliation, ordered
  * differential, ordering-regression, offset-gap, and topic-summary
  * checks as batch Spark jobs and prints a FAIL/INFO report.
  *
  * Usage: runMain graft.tools.Validate [sfDir]
  */
object Validate {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.SparkEntry.session()

    var fails = 0
    def check(name: String, failCount: Long, detail: String): Unit = {
      val level = if (failCount > 0) { fails += 1; "FAIL" } else "OK  "
      println(f"[$level] $name%-28s $detail")
    }

    // The c5/c6 fixtures deliberately perturb the "topic" side, so a
    // correct engine REPORTS those mismatches; each check compares the
    // validator's output to the independently-computed expected size of
    // the deterministic perturbation.
    import org.apache.spark.sql.functions.col
    val q = graft.SparkEntry.queries
    val events = graft.fixtures.SyntheticCdc.events(spark, sfDir)

    // c5 drops event_id % 97 == 13: exactly the operation classes of the
    // dropped rows drift.
    val expDrift = events.filter(col("event_id") % 97 === 13)
      .select(((col("event_id") % 4) + 1).as("op")).distinct().count()
    val reconCount = q("c5_count_reconciliation")(spark, sfDir).count()
    check("count_reconciliation", if (reconCount == expDrift) 0 else 1,
      s"$reconCount operation(s) with count drift (expect $expDrift)")

    // c6 drops event_id % 101 == 7 and adds phantoms at % 503 == 11.
    val expDiff = events.filter(col("event_id") % 101 === 7).count() +
      events.filter(col("event_id") % 503 === 11).count()
    val diffCount = q("c6_ordered_compare")(spark, sfDir).count()
    check("ordered_differential", if (diffCount == expDiff) 0 else 1,
      s"$diffCount row-level mismatches (expect $expDiff)")

    // e4/e5 report per synthetic partition (event_id % 4): expect one row
    // per populated partition.
    val expParts = events.select((col("event_id") % 4).as("p")).distinct().count()
    val regCount = q("e4_ordering_regressions")(spark, sfDir).count()
    check("ordering_regressions", if (regCount == expParts) 0 else 1,
      s"$regCount partitions with regressions (expect $expParts)")

    val gapCount = q("e5_offset_gaps")(spark, sfDir).count()
    check("offset_gaps", if (gapCount == expParts) 0 else 1,
      s"$gapCount partitions summarized (expect $expParts)")

    val expTopics = events.select("event_type").distinct().count()
    val sumCount = q("d6_topic_summary")(spark, sfDir).count()
    check("topic_summary", if (sumCount == expTopics) 0 else 1,
      s"$sumCount topics summarized (expect $expTopics)")

    // Self-validation of the engine's own streaming output: run the
    // pipeline and assert zero real anomalies.
    val work = java.nio.file.Files.createTempDirectory("graft-validate").toString
    graft.streaming.CdcPipeline.stageChangeFeed(spark, sfDir, s"$work/feed", 4)
    graft.streaming.CdcPipeline.runToParquet(spark, s"$work/feed", s"$work/sink", s"$work/ckpt")
    val log = spark.read.parquet(s"$work/sink/log")
    val dupes = log.filter(!org.apache.spark.sql.functions.col("isTombstone"))
      .groupBy("userId", "lsnNum", "commandId", "seqvalNum", "operation")
      .count().filter("count > 1").count()
    check("published_log_exactly_once", dupes, s"$dupes duplicated events")
    println(if (fails == 0) "ALL CHECKS PASSED" else s"$fails CHECK(S) FAILED")
    spark.stop()
    if (fails > 0) sys.exit(1)
  }
}
