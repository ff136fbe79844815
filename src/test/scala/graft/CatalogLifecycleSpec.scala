package graft

import java.util.concurrent.{CountDownLatch, Executors}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{PinnedStages, SessionMemo}

/** One lifecycle for every cross-query memo. Each catalog memo lives in
  * [[SessionMemo]], so the one between-pass [[SessionMemo.reset]] drops
  * all of them together with the shared pins behind them. A memo kept
  * outside it would hand the next pass a DataFrame whose checkpoint
  * blocks the reset released (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND). The
  * memo also builds each entry once per session when several threads ask
  * at the same time: a double build would register a second shared pin. */
class CatalogLifecycleSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .appName("catalog-lifecycle-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) {
    SessionMemo.reset(spark)
    spark.stop()
  }

  /** Rows of one catalog query, order-free. A read of a released pin
    * fails the test by name rather than as a bare Spark error. */
  private def rows(name: String): Seq[String] =
    try SparkEntry.queries(name)(spark, dir).collect().map(_.toString).toSeq.sorted
    catch {
      case e: Exception if Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null)
          .exists(t => String.valueOf(t.getMessage).contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND")) =>
        fail(s"$name read a pin released by the reset: ${e.getMessage}", e)
    }

  /** One consumer of each memo that used to live outside SessionMemo:
    * dedup pairs/signatures/clusters, BPE merges, sketch shingles and the
    * PCA component chain (top2 before topk, so the chain grows). */
  private val consumers = Seq("dd_cluster", "text_bpe_encode",
    "sk_kmv_intersect", "sk_hll_union", "emb_pca_top2", "emb_pca_topk")

  /** One pass the way Bench runs it: the transient sweep after each query. */
  private def pass(names: Seq[String]): Map[String, Seq[String]] =
    names.map { n =>
      val r = rows(n)
      PinnedStages.sweepTransient(spark)
      n -> r
    }.toMap

  test("every folded memo rebuilds after SessionMemo.reset with identical rows") {
    SessionMemo.reset(spark)
    val first = pass(consumers)
    assert(first.values.forall(_.nonEmpty), first.filter(_._2.isEmpty).keys)
    assert(PinnedStages.sharedCount > 0)
    SessionMemo.reset(spark)
    assert(PinnedStages.sharedCount == 0)
    assert(SessionMemo.size == 0)
    val second = pass(consumers)
    consumers.foreach(n => assert(second(n) == first(n), n))
  }

  test("two threads on one session build each memo once") {
    val names = Seq("text_bpe_train", "sk_kmv_intersect")
    SessionMemo.reset(spark)
    val single = names.map(rows)
    val singlePins = PinnedStages.sharedCount
    assert(singlePins > 0)
    SessionMemo.reset(spark)

    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val start = new CountDownLatch(1)
    try {
      val runs = Future.sequence((1 to 2).map { _ =>
        Future { start.await(); names.map(rows) }
      })
      start.countDown()
      val results = Await.result(runs, 300.seconds)
      results.foreach(r => assert(r == single))
      assert(PinnedStages.sharedCount == singlePins,
        "a memo built twice registered a second shared pin")
    } finally pool.shutdown()
  }
}
