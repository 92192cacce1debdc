package graft.tools

import graft.HarnessConf

/** Dev-only per-key repeat timer (test sourceset — never ships):
  * the r19 optimization loop needed an instrument with less window
  * noise than one-shot targeted Bench runs (their per-key in-region
  * JIT swings ±1 s run to run because a fresh JVM recompiles the
  * whole machinery for a handful of keys). This runs each selected
  * key R times inside ONE Bench-regime JVM (HarnessConf.session, the
  * per-key PartitionPolicy, Bench's default warm schedule) with
  * clearCache+GC between iterations and prints every iteration:
  * iteration 1 ≈ the cold bench number, the tail ≈ steady-state plan
  * cost with JIT drained. Decisions in OPTIMIZATION_r19.md cite both.
  *
  * Usage: sbt "Test / runMain graft.tools.KeyTime <reps> key1 key2…"
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS.
  */
object KeyTime {
  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(3)
    val keys = args.drop(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = HarnessConf.session(HarnessConf.cpus)
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    def applyPolicy(key: String): Unit = HarnessConf.applyPolicy(spark, key, sessionParts)
    for ((wd, passes) <- HarnessConf.parseWarmSchedule(HarnessConf.DefaultWarm);
        _ <- 1 to passes; k <- keys) {
      applyPolicy(k)
      try graft.SparkEntry.queries(k)(spark, wd).count()
      catch { case scala.util.control.NonFatal(_) => }
      spark.catalog.clearCache()
    }
    System.gc()
    for (k <- keys) {
      applyPolicy(k)
      val times = (1 to reps).map { _ =>
        val j0 = HarnessConf.jitMs
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(k)(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        System.gc()
        f"$dt%.3f(j${HarnessConf.jitMs - j0})"
      }
      println(s"[keytime] $k ${times.mkString(" ")}")
    }
    spark.stop()
  }
}
