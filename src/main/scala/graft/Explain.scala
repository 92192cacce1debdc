package graft

import org.apache.spark.sql.SparkSession

/** Plan-inspection main: prints `.explain("formatted")` for selected
  * queries (all of them if no keys are given). Used to audit
  * pushdown / broadcast / codegen per SURVEY §4; findings are
  * recorded in PLANS.md. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    // the bench's session regime (HarnessConf.session), so the printed
    // plans are the ones the timed runs execute
    val spark = HarnessConf.session(HarnessConf.cpus)
    val keys = if (args.nonEmpty) args.toSet else SparkEntry.queries.keySet
    run(spark, keys, sfDir)
    spark.stop()
  }

  /** The session-lifecycle-free body, so a spec can smoke the audit
    * loop against the shared test session without main's stop(). */
  def run(spark: SparkSession, keys: Set[String], sfDir: String): Unit = {
    // same per-key presizing AND the same sweep-disable condition as
    // Bench/Verify (HarnessConf, ADVICE r7), so the printed plans are
    // the ones the timed runs actually execute — under a sweep too
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    SparkEntry.defs.filter(d => keys.contains(d.key)).foreach { d =>
      HarnessConf.applyPolicy(spark, d.key, sessionParts)
      println(s"\n======== ${d.key} ========")
      d.run(spark, sfDir).explain("formatted")
    }
  }
}
