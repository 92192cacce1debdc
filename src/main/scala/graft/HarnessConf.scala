package graft

import org.apache.spark.sql.SparkSession

/** The one harness session regime, shared by every main that builds a
  * session: the graded mains (Bench / Verify / Explain) and the dev
  * tools (KeyTime / PlanSizeSurvey / PlanDump).
  *
  * The mains must agree on the whole session conf, or the hash gate
  * and the plan dumps certify different plans than the bench times
  * (before this object built every session, Verify and Explain ran
  * with AQE on while Bench ran with it off). So the regime is set
  * ONCE, in [[regime]], and every main gets its session from
  * [[session]]:
  *
  *  - `local[cpus]`, `shuffle.partitions = cpus` (cpus from
  *    `SPARK_GRAFT_CPUS`, see [[cpus]]), AQE off, a 64m broadcast
  *    threshold, UTC, `graft.GraftExtensions`, a temp warehouse, UI
  *    off. The AQE-on regime stays covered by `ClusterProfileSpec`
  *    and by `SPARK_GRAFT_CONF=cluster` ([[ClusterProfile]]).
  *  - `SPARK_GRAFT_CONF="k=v,k=v"` overrides any of those, applied
  *    last — the experiment hook for global sweeps. Comma is the
  *    entry separator, so list-valued confs can't be set here; a
  *    segment without '=' fails loudly instead of a MatchError.
  *  - The per-key PartitionPolicy presizing ([[applyPolicy]]) is
  *    DISABLED whenever that env pins `spark.sql.shuffle.partitions`:
  *    a global sweep is exactly the experiment the per-key policy
  *    would silently defeat.
  */
object HarnessConf {

  /** SPARK_GRAFT_CONF parsed into (key, value) entries — ONE parse
    * shared by the session overrides and policyActive, so the conf a
    * sweep sets and the conf the policy gate tests are the same
    * string split the same way (ADVICE r8: the old substring
    * `contains` let a VALUE mentioning the partitions key, or a longer
    * key with it as a prefix, disable the policy without pinning
    * anything). */
  private[graft] def parseEntries(conf: String): Seq[(String, String)] =
    conf.split(',').toSeq.map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => (k, v)
        case _ => sys.error(s"SPARK_GRAFT_CONF entry without '=': '$kv'")
      }
    }

  /** `SPARK_GRAFT_CONF=cluster` expands to the full at-scale profile
    * (r13): one word selects every documented cluster setting in
    * [[ClusterProfile]], so the hash gate / bench / plan dumps can
    * all run under the profile without hand-copying conf strings. Any
    * other value keeps the literal k=v,k=v sweep syntax. */
  private[graft] def expand(conf: String): String =
    if (conf.trim == "cluster") ClusterProfile.conf else conf

  private def overrides(env: Option[String]): Seq[(String, String)] =
    env.toSeq.map(expand).flatMap(parseEntries)

  private def envConf: Option[String] = sys.env.get("SPARK_GRAFT_CONF")

  /** Executor threads and static shuffle width of every harness
    * session (`SPARK_GRAFT_CPUS`, default 32). */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** The harness regime's session confs for `cpus` cores, with the
    * `env` (SPARK_GRAFT_CONF syntax) overrides appended — later
    * entries win. Pure, so the regime is unit-testable without a
    * session. */
  private[graft] def regime(cpus: Int, env: Option[String]): Seq[(String, String)] =
    Seq(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      // AQE OFF — measured, not guessed: each AQE query-stage barrier
      // costs 50-200 ms of replanning, and at the bench's MB
      // scale that overhead dominates (113-query total 86.5 s ->
      // 78.4 s when disabled; dedup_cluster_cc's 15-stage iterative
      // plan alone 7.2 s -> 5.3 s). At TB scale flip it ON
      // (SPARK_GRAFT_CONF=cluster). The results don't depend on it —
      // broadcasts and partitioning are explicit in every graded
      // query, which ClusterProfileSpec checks key by key.
      "spark.sql.adaptive.enabled" -> "false",
      // Deployment tuning for this host class (single node): let the
      // planner broadcast mid-size join sides; at cluster scale this
      // knob is sized per-executor instead.
      "spark.sql.autoBroadcastJoinThreshold" -> "64m",
      // the events reader's TimestampNTZ cast is session-tz-dependent,
      // so an unpinned session on a non-UTC host would run different
      // session/window/date_trunc groupings (ADVICE r10)
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.ui.enabled" -> "false",
    ) ++ overrides(env)

  /** The harness session for `cpus` cores: [[regime]] with the
    * process's SPARK_GRAFT_CONF overrides, over a temp warehouse. */
  def session(cpus: Int): SparkSession = {
    val b = SparkSession.builder()
      .config("spark.sql.warehouse.dir", TempDirs.create("graft-warehouse"))
    regime(cpus, envConf).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Is the per-key shuffle presizing in force for this process? Key
    * EQUALITY against the parsed entries — exactly the keys the
    * session overrides set. */
  def policyActive: Boolean = policyActiveFor(envConf)

  private[graft] def policyActiveFor(conf: Option[String]): Boolean =
    !overrides(conf).exists(_._1 == "spark.sql.shuffle.partitions")

  /** Presize `key`'s shuffle width (PartitionPolicy) on the session
    * before running it, unless a sweep pins the width. One copy, so
    * Bench (timing), Verify (hash gate), Explain (plan dumps) and
    * KeyTime always run the same per-key plan. `sessionParts` is the
    * session's static width, read once before the first key. */
  def applyPolicy(spark: SparkSession, key: String, sessionParts: Int): Unit =
    if (policyActive)
      spark.conf.set("spark.sql.shuffle.partitions",
        PartitionPolicy.forKey(key, sessionParts).toString)

  /** Bench's default warm schedule (r18-opt: 3→2 sf0.001 passes): two
    * sf0.001 passes compile every Janino class and one sf0.01 pass
    * pushes the heavy generated loops over the C2 threshold, inside
    * the default warm budget at 483 keys. KeyTime warms with the same
    * schedule. Override with SPARK_GRAFT_WARM. */
  val DefaultWarm = "/root/testdata/sf0.001:2,/root/testdata/sf0.01:1"

  /** Cumulative GC time of this JVM, ms — bracketed around a timed
    * region, the GC debt that landed inside it. */
  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** Cumulative JIT compiler time of this JVM, ms (0 if unsupported). */
  def jitMs: Long = {
    val c = java.lang.management.ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported)
      c.getTotalCompilationTime else 0L
  }

  /** 1-minute host load average from /proc/loadavg (-1.0 if
    * unreadable). Bench records it as JSON fields, Verify on stderr —
    * both drivers' artifacts attribute contention the same way
    * (VERDICT r8 item 3). */
  def load1: Double = try {
    java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split(" ")(0).toDouble
  } catch { case scala.util.control.NonFatal(_) => -1.0 }

  /** Cumulative (steal, total) CPU ticks from /proc/stat's aggregate
    * cpu line ((-1,-1) if unreadable). Guest loadavg is blind to
    * hypervisor steal — round 10 measured same-code bench totals
    * spreading 63→91 s while loadavg looked quiet, with steal at ~42%
    * of user ticks in the slow window — so Bench brackets the run
    * with these and emits the window's steal fraction next to
    * load_start/load_end, making a stolen window attributable from
    * the artifact alone. */
  def cpuTicks: (Long, Long) = try {
    val parts = java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/stat"))
      .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
    // Total = first 8 fields only (user nice system idle iowait irq
    // softirq steal): the kernel folds guest/guest_nice into user/nice
    // already, so summing all 10 would double-count guest time and
    // understate steal_frac on hosts running nested VMs (ADVICE r10).
    (if (parts.length > 7) parts(7) else 0L, parts.take(8).sum)
  } catch { case scala.util.control.NonFatal(_) => (-1L, -1L) }

  /** Steal fraction of all CPU ticks between two cpuTicks() brackets;
    * -1.0 when either bracket was unreadable or the window is empty. */
  def stealFrac(start: (Long, Long), end: (Long, Long)): Double =
    if (start._2 < 0 || end._2 < 0 || end._2 <= start._2) -1.0
    else (end._1 - start._1).toDouble / (end._2 - start._2)

  /** Per-query seconds parsed out of a Bench artifact line's
    * `"queries":{...}` object (r11 — feeds `ratio_median`). The
    * artifact is machine-written flat JSON (no nesting inside the
    * object, keys are bare query names), so a scan to the next '}'
    * plus comma/colon splits is exact, not approximate; anything
    * unparsable yields an empty map rather than a throw — a missing
    * or malformed committed artifact must never fail a bench run. */
  private[graft] def parseBenchQueries(txt: String): Map[String, Double] = {
    val i = txt.indexOf("\"queries\":{")
    if (i < 0) Map.empty else {
      val end = txt.indexOf('}', i)
      if (end < 0) Map.empty
      else txt.substring(i + 11, end).split(',')
        .flatMap { e =>
          e.split(':') match {
            case Array(k, v) =>
              try Some(k.trim.stripPrefix("\"").stripSuffix("\"") -> v.toDouble)
              catch { case _: NumberFormatException => None }
            case _ => None
          }
        }.toMap
    }
  }

  /** Driver-artifact variant of [[parseBenchQueries]] (r13, VERDICT
    * r12 item 4): the driver re-serializes our bench line through
    * Python's json.dump, which inserts a space after every colon
    * (`"queries": {`), defeating the exact-scan above. This variant
    * tolerates whitespace between the key, the colon and the brace;
    * the escaped `\"queries\"` copies inside the artifact's "tail"
    * string can never match an UNESCAPED `"queries"` probe, so the
    * first hit is the parsed per-query object. */
  private[graft] def parseBenchQueriesLoose(txt: String): Map[String, Double] = {
    val i = txt.indexOf("\"queries\"")
    if (i < 0) Map.empty else {
      val open = txt.indexOf('{', i)
      val end = if (open < 0) -1 else txt.indexOf('}', open)
      if (end < 0) Map.empty
      else txt.substring(open + 1, end).split(',')
        .flatMap { e =>
          e.split(':') match {
            case Array(k, v) =>
              try Some(k.trim.stripPrefix("\"").stripSuffix("\"") -> v.trim.toDouble)
              catch { case _: NumberFormatException => None }
            case _ => None
          }
        }.toMap
    }
  }

  /** Bench's warm schedule parsed from "dir[:passes],dir[:passes],…"
    * (r11). A malformed stage fails loudly — a silently dropped warm
    * stage would move JIT compilation back inside the timed regions,
    * which reads as a regression. */
  private[graft] def parseWarmSchedule(spec: String): Seq[(String, Int)] =
    spec.split(',').toSeq.filter(_.nonEmpty).map { stage =>
      // split with -1 keeps trailing empties: "dir:" must be a loud
      // error (a typo'd pass count), not a silent 1-pass stage.
      stage.split(":", -1) match {
        case Array(dir) if dir.nonEmpty => (dir, 1)
        case Array(dir, n) if dir.nonEmpty && n.nonEmpty &&
            n.length <= 3 && n.forall(_.isDigit) => (dir, n.toInt)
        case _ => sys.error(s"SPARK_GRAFT_WARM stage '$stage' is not dir[:passes]")
      }
    }

  /** Median of per-query time ratios current/committed over the keys
    * both runs measured; -1.0 when no keys are shared. The host-shift
    * attribution statistic: uniform ratios ≈ the median mean "window",
    * a lone outlier against a ~1 median means "this query". */
  private[graft] def ratioMedian(current: Seq[(String, Double)],
      committed: Map[String, Double]): Double = {
    val ratios = current.flatMap { case (k, v) =>
      committed.get(k).filter(_ > 0.0).map(v / _) }.sorted
    if (ratios.isEmpty) -1.0
    else if (ratios.size % 2 == 1) ratios(ratios.size / 2)
    else (ratios(ratios.size / 2 - 1) + ratios(ratios.size / 2)) / 2.0
  }

  /** Core count a Bench artifact was measured at: our own `"cores"`
    * field, or the `"cpus"` field of the wrapped round artifacts
    * (BENCH_r*.json; whitespace-tolerant, since those are
    * re-serialized, and the escaped copies inside their "tail" string
    * never match). None if absent. */
  private[graft] def artifactCores(txt: String): Option[Int] =
    """"(?:cores|cpus)"\s*:\s*(\d+)""".r.findFirstMatchIn(txt).map(_.group(1).toInt)

  /** [[ratioMedian]] against an artifact, refused (-1.0) unless the
    * artifact was measured at the same core count: a ratio between a
    * 32-core and an 8-core run is the scaling curve wearing the
    * host-shift attribution field's name (the same reasoning as the
    * scale-factor guard). A missing field refuses too. */
  private[graft] def ratioMedianAt(current: Seq[(String, Double)],
      committed: Map[String, Double], artifact: String, cores: Int): Double =
    if (artifactCores(artifact) != Some(cores)) -1.0
    else ratioMedian(current, committed)

  /** Burst-outlier selection for Bench's second-chance pass (r14,
    * VERDICT r13 item 1) — pure so the policy is unit-testable: a key
    * is a retime suspect when its ratio vs the committed same-code
    * artifact exceeds 2× the run's own shared-key median AND the
    * absolute excess over the window-adjusted expectation tops 0.2 s
    * (sub-0.2 s wobbles on fast keys are noise, not bursts). Worst
    * first, capped so a pathological run can't double its own wall
    * time re-timing itself. Empty when there is no committed artifact
    * to compare against (ratioMedian ≤ 0). */
  private[graft] def retimeSuspects(current: Seq[(String, Double)],
      committed: Map[String, Double], ratioMedian: Double,
      cap: Int = 20): Seq[String] =
    if (ratioMedian <= 0.0) Seq.empty
    else current.filter { case (k, dt) =>
      committed.get(k).exists(c => c > 0.0 &&
        dt / c > 2.0 * ratioMedian && dt - c * ratioMedian > 0.2)
    }.sortBy(-_._2).take(cap).map(_._1)
}
