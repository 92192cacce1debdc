package graft.tools

/** Dev-only registry survey (test sourceset — never ships): print
  * every graded key's executed-plan text size and paid-shuffle count
  * at sf0.001 in the bench regime (HarnessConf.session, per-key
  * PartitionPolicy). Plan text size is a cheap proxy for
  * generated-code volume, i.e. for the per-key C2 JIT a cold bench
  * run pays inside its timed region — the order_rfm_segments r19
  * rewrite (381 KB → 53 KB plan) came out of exactly this ranking.
  *
  * Usage: sbt "Test / runMain graft.tools.PlanSizeSurvey"
  */
object PlanSizeSurvey {
  def main(args: Array[String]): Unit = {
    val spark = graft.HarnessConf.session(graft.HarnessConf.cpus)
    val sf = graft.StaticPlans.sfStatic
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    graft.SparkEntry.queries.keySet.toSeq.sorted.foreach { k =>
      graft.HarnessConf.applyPolicy(spark, k, sessionParts)
      try {
        val qe = graft.SparkEntry.queries(k)(spark, sf).queryExecution
        val ep = qe.executedPlan
        println(s"[plansize] $k bytes=${ep.toString.length} " +
          s"paid=${graft.StaticPlans.paidShuffles(ep)}")
      } catch {
        case scala.util.control.NonFatal(e) =>
          println(s"[plansize] $k ERROR ${e.getClass.getSimpleName}")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
