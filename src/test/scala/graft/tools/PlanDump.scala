package graft.tools

import graft.HarnessConf

/** Print a graded query's executed plan at sf0.001 in the bench
  * regime (HarnessConf.session, the key's PartitionPolicy width) —
  * debug aid for pinning plan shapes in specs.
  * Usage: Test / runMain graft.tools.PlanDump <key>. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = HarnessConf.session(HarnessConf.cpus)
    try {
      HarnessConf.applyPolicy(spark, args(0),
        spark.conf.get("spark.sql.shuffle.partitions").toInt)
      val df = graft.SparkEntry.queries(args(0))(spark, "/root/testdata/sf0.001")
      // scalastyle:off println
      println(df.queryExecution.executedPlan.toString)
      // scalastyle:on println
    } finally spark.stop()
  }
}
