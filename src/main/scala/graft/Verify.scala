package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Dump one query's result to `outDir/name` (the driver's compare
    * unit). On ANY failure, writes a one-row `graft_error` sentinel
    * parquet in its place — a schema no oracle can match — so the
    * driver records a loud per-key failure instead of dropping the
    * key from the round's correctness artifact (ADVICE r9: 23
    * analysis failures vanished silently that way). Returns whether
    * the real result was written. Factored out of main so the
    * sentinel contract is unit-testable without a session lifecycle. */
  def dumpQuery(spark: SparkSession, sfDir: String, outDir: String,
      name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Boolean =
    try {
      fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      true
    } catch { case e: Throwable =>
      System.err.println(s"[verify] $name failed: ${e.getMessage}")
      try {
        import spark.implicits._
        Seq(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}")
          .toDF("graft_error").coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e2: Throwable =>
        System.err.println(s"[verify] $name sentinel failed: ${e2.getMessage}")
      }
      false
    }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional extra args: restrict the dump to these keys (local
    // iteration only — the driver always calls with exactly two args).
    val only = args.drop(2).toSet
    // The bench's own session regime (HarnessConf.session: AQE off,
    // per-key PartitionPolicy below, SPARK_GRAFT_CONF overrides), so
    // the hash gate certifies the plans the bench times. The AQE-on
    // regime stays covered by ClusterProfileSpec and by running this
    // main under SPARK_GRAFT_CONF=cluster.
    val spark = HarnessConf.session(HarnessConf.cpus)
    new java.io.File(outDir).mkdirs()
    // Host load bracketing the hash-gate run, same probe as Bench's
    // load_start/load_end JSON fields (VERDICT r8 item 3): a
    // contended Verify run is attributable too.
    System.err.println(f"[verify] load_start=${HarnessConf.load1}%.3f")
    // The same per-key shuffle presizing the bench applies
    // (PartitionPolicy): the hash gate must certify the EXACT plans
    // the bench times, so a policy value that changed results would
    // fail here, not ship silently. Both the SPARK_GRAFT_CONF
    // overrides and the policy-disable condition are SHARED with
    // Bench/Explain (HarnessConf, ADVICE r7) — during a sweep all
    // three drivers see the swept conf, not a mix.
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      HarnessConf.applyPolicy(spark, name, sessionParts)
      try dumpQuery(spark, sfDir, outDir, name, fn)
      // Queries that persist() intermediates (jaccard prep, minhash
      // shingles, win_distribution pids) cannot unpersist them
      // themselves — the action runs here, after they return. Dropping
      // the cache per query keeps a long session's footprint bounded.
      finally spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    System.err.println(f"[verify] load_end=${HarnessConf.load1}%.3f")
    spark.stop()
  }
}
