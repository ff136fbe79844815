package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

import graft.{Bench, SparkEntry}
import graft.operators.Pin

/** Dev loop over named catalog queries, on the shared session factory and
  * Bench's pass loop. Usage:
  * {{{
  * runMain graft.tools.Catalog explain <sfDir> <q1,q2,...> [outDir]
  * runMain graft.tools.Catalog profile <sfDir> <q1,q2,...> [passes=2]
  * }}}
  *  - `explain` prints each query's formatted physical plan. Given
  *    `outDir`, it writes the plan to `<outDir>/<name>_final.txt` instead,
  *    and [[Pin]]'s explain hook writes the plan of every stage the query
  *    pins to `<outDir>/<name>_pinNN.txt` (the pinned builds are where the
  *    interesting plans live; the returned Dataset is often just a block
  *    scan over them). Run it at the SF under study: join strategies
  *    follow the data size.
  *  - `profile` times each query's build and count for `passes` passes
  *    and prints each pin's build time ([[Pin.TimeKey]]).
  *    `SPARK_GRAFT_PROFILE_CONF` overlays extra session confs, e.g.
  *    `SPARK_GRAFT_PROFILE_CONF="spark.sql.adaptive.enabled=false"`.
  */
object Catalog {
  def main(args: Array[String]): Unit = {
    val usage = "usage: Catalog <explain|profile> <sfDir> <q1,q2,...> [outDir|passes]"
    require((args.length == 3 || args.length == 4) &&
      Set("explain", "profile").contains(args(0)), usage)
    val Array(mode, sfDir, list) = args.take(3)
    val names = list.split(',').toSeq
    val extra = args.lift(3)
    val passes = if (mode == "profile") extra.fold(2)(_.toInt) else 1
    val spark = SparkEntry.session()
    if (mode == "explain") extra.foreach { d =>
      Files.createDirectories(Paths.get(d))
      spark.conf.set(Pin.ExplainDirKey, d)
    } else {
      spark.conf.set(Pin.TimeKey, "true")
      sys.env.get("SPARK_GRAFT_PROFILE_CONF").foreach(_.split(';')
        .map(_.trim).filter(_.nonEmpty).foreach { kv =>
          val Array(k, v) = kv.split("=", 2)
          spark.conf.set(k, v)
        })
    }
    Bench.passLoop(spark, names, passes) { (pass, name) =>
      spark.conf.set(Pin.ExplainTagKey, name)
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val tBuild = (System.nanoTime() - t0) / 1e9
      if (mode == "explain") {
        val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        extra match {
          case Some(d) =>
            Files.writeString(Paths.get(s"$d/${name}_final.txt"), plan)
            println(s"[catalog] $name plans -> $d")
          case None => println(plan)
        }
      } else {
        val rows = df.count()
        val tAll = (System.nanoTime() - t0) / 1e9
        println(f"[catalog] pass$pass $name rows=$rows build=$tBuild%.3f total=$tAll%.3f")
      }
    }
    spark.stop()
  }
}
