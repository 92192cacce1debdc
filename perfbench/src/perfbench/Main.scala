package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run in its own JVM: set up the Bench regime, warm,
  * time passes over the workload's keys, check their results, and print
  * one JSON line of raw measurements for `run.py` to reduce.
  *
  * Modes (first argument):
  *  - `bench <fixtures> <keys,..> <seed> <seconds> <trace>`
  *  - `fingerprint <dumpDir> <keys,..>`: fingerprints of the parquet
  *    result dumps `graft.Verify` wrote, for the expected values.
  *  - `selftest`: checks of the fingerprint normalisation.
  */
object Main {
  val Cores = 4
  /** Passes a run makes however short `seconds` is: the first pass and
    * two steady ones, so that a steady median exists. At the declared
    * run length every workload makes more. */
  val MinPasses = 3

  /** The Bench regime: `local[4]`, AQE off, the graft extensions, and
    * the confs `graft.Bench` sets. `PartitionPolicy` is applied per key. */
  def session(): SparkSession = {
    val tmp = sys.props("java.io.tmpdir")
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("spark.local.dir", s"$tmp/local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "bench" :: fixtures :: keys :: seed :: seconds :: trace :: Nil =>
      println(Json(bench(fixtures, keys.split(',').toSeq, seed.toLong,
        seconds.toDouble, trace == "1")))
    case "fingerprint" :: dir :: keys :: Nil =>
      val spark = session()
      println(Json(keys.split(',').toSeq.map { k =>
        val (n, h) = Fingerprint.of(spark.read.parquet(s"$dir/$k"))
        k -> Map("rows" -> n, "hash" -> h)
      }.toMap))
      spark.stop()
    case "selftest" :: Nil =>
      val spark = session()
      val failures = SelfTest.run(spark)
      spark.stop()
      failures.foreach(f => System.err.println(s"FAIL $f"))
      println(Json(Map("failures" -> failures)))
    case _ =>
      System.err.println("usage: perfbench.Main bench|fingerprint|selftest ...")
      sys.exit(2)
  }

  private def ms(ns: Long): Double = ns / 1e6

  /** Waits until no JIT compilation has finished for a second (at most
    * 20 s). The warm leaves a queue of hot code behind, and until the
    * compiler threads work it off they take cores from the queries:
    * measured on harmonize, process CPU per pass fell from 6.5 to 3.1 s
    * over eight back-to-back passes without a drain, and how fast it
    * fell differed from run to run. Draining once after the warm keeps
    * that backlog out of the timed passes. Draining before every pass
    * as well did not narrow the run-to-run spread of pass_s on
    * harmonize (0.17 with, 0.16-0.18 without, five and ten seeds), so
    * what a pass itself triggers stays in its time. */
  def drainJit(): Double = {
    val t0 = System.nanoTime()
    val deadline = t0 + 20000000000L
    var last = Probe.jitMs
    var quiet = 0
    while (quiet < 1000 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val now = Probe.jitMs
      quiet = if (now == last) quiet + 100 else 0
      last = now
    }
    ms(System.nanoTime() - t0)
  }

  def bench(fixtures: String, keys: Seq[String], seed: Long, seconds: Double,
      traced: Boolean): Map[String, Any] = {
    val runStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val load1Start = graft.HarnessConf.load1
    val ticksStart = graft.HarnessConf.cpuTicks
    val queries = graft.SparkEntry.queries
    val missing = keys.filterNot(queries.contains)
    require(missing.isEmpty, s"unknown keys: ${missing.mkString(",")}")

    val s0 = System.nanoTime()
    val s0Epoch = System.currentTimeMillis().toDouble
    val spark = session()
    val sessionMs = ms(System.nanoTime() - s0)
    val trace = if (traced) Some(new Trace(spark)) else None
    def span[T](name: String, parent: Int, key: String = "")(body: Int => T): T =
      trace.fold(body(-1))(_.span(name, parent, key)(body))
    val runId = trace.fold(-1)(_.record("run", -1, runStartMs.toDouble, Double.NaN))
    val setupId = trace.fold(-1)(_.record("setup", runId, runStartMs.toDouble, Double.NaN))
    trace.foreach(_.record("session", setupId, s0Epoch, s0Epoch + sessionMs))

    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    def applyPolicy(key: String): Unit = spark.conf.set("spark.sql.shuffle.partitions",
      graft.PartitionPolicy.forKey(key, sessionParts).toString)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    // Warm schedule, as graft.Bench runs it: two passes at sf0.001 then
    // one at sf0.01 compile each key's generated classes and push its
    // hot loops through the JIT before anything is timed. The warm runs
    // the timed action, so it compiles the classes the timed run uses.
    val warmFailed = mutable.LinkedHashSet[String]()
    val compiles0 = Probe.compiles
    val w0 = System.nanoTime()
    span("warm", setupId) { _ =>
      for ((sf, n) <- Seq("sf0.001" -> 2, "sf0.01" -> 1); _ <- 1 to n; k <- keys) {
        applyPolicy(k)
        try noop(queries(k)(spark, s"$fixtures/$sf"))
        catch { case NonFatal(e) => warmFailed += s"$k: ${e.getClass.getSimpleName}" }
        spark.catalog.clearCache()
      }
    }
    val warmMs = ms(System.nanoTime() - w0)
    val warmCompiles = Probe.compiles - compiles0
    System.gc()
    val setupDrainMs = span("jit_drain", setupId)(_ => drainJit())
    trace.foreach(_.close(setupId))
    val firstQueryEpochMs = System.currentTimeMillis()

    // Timed passes. Each execution is `build` (QDef.run, which may
    // launch jobs eagerly) plus `action`: every row and column written
    // through the noop sink. Never count(): it let Catalyst prune work
    // the result needs — 12 LLM keys read 15.5 s per pass under count()
    // against 21.8 s fully materialised, and dedup_near_jaccard alone
    // 1.1 s against 3.8 s.
    // Passes repeat until `seconds` have gone by in the timed phase.
    // Between keys the session's caches are cleared, as in graft.Bench,
    // but the heap is not collected (graft.Bench does): a collection the
    // queries make happens where it falls, inside a pass, so allocation
    // shows in the walls and in jvm.gc_ms.
    val sf = s"$fixtures/sf0.1"
    // The seed rotates the key order: it picks the key the cycle starts
    // at, and every pass repeats the cycle. Every seed thus gives the
    // codegen cache the same steady access cycle. A free permutation
    // did not: on etl_star, with the host quiet, one order's steady
    // pass took 6.7 s and another's 5.4-5.7 s.
    val start = new java.util.SplittableRandom(seed).nextInt(keys.size)
    val order = keys.drop(start) ++ keys.take(start)
    val execs = mutable.ArrayBuffer[Map[String, Any]]()
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val timed0 = System.nanoTime()
    var p = 0
    while (p < MinPasses || (ms(System.nanoTime() - timed0) < seconds * 1000 && p < 200)) {
      // The traced run alternates traced and untraced passes so that the
      // tracing overhead is measured in the same JVM and window.
      val tracedPass = trace.isDefined && p % 2 == 0
      trace.foreach(_.setOn(tracedPass))
      val p0 = System.nanoTime()
      span("pass", runId) { passId =>
        for (k <- order) span("query", passId, k) { qId =>
          applyPolicy(k)
          val probe0 = if (tracedPass) Probe.snap() else null
          val c0 = Probe.cpuNs
          val b0 = System.nanoTime()
          var b1 = b0
          val err = try {
            val df = span("build", qId, k)(_ => queries(k)(spark, sf))
            b1 = System.nanoTime()
            trace.foreach(_.recordPhases(df.queryExecution.tracker))
            span("action", qId, k)(_ => noop(df))
            None
          } catch { case NonFatal(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
          val a1 = System.nanoTime()
          val cpu = ms(Probe.cpuNs - c0)
          val extra = if (!tracedPass) Map.empty[String, Double] else {
            val d = Probe.snap().zip(probe0).map { case (a, b) => (a - b).toDouble }
            val storage = spark.sparkContext.getRDDStorageInfo
            Probe.names.zip(d).toMap ++ Map(
              "cache.peak_bytes" -> storage.map(r => (r.memSize + r.diskSize).toDouble).sum,
              "cache.blocks" -> storage.map(_.numCachedPartitions.toDouble).sum)
          }
          trace.foreach(_.count(qId, extra.toSeq: _*))
          execs += Map("pass" -> p, "key" -> k, "traced" -> tracedPass,
            "build_ms" -> ms(b1 - b0), "action_ms" -> ms(a1 - b1), "cpu_ms" -> cpu,
            "span" -> qId, "error" -> err.orNull)
          spark.catalog.clearCache()
        }
      }
      passes += Map("pass" -> p, "traced" -> tracedPass, "wall_ms" -> ms(System.nanoTime() - p0))
      p += 1
    }

    // Correctness gate, untimed: one more execution of every key,
    // fingerprinted for comparison with the expected values.
    val fingerprints = keys.map { k =>
      applyPolicy(k)
      val fp = try {
        val (n, h) = Fingerprint.of(queries(k)(spark, sf))
        Map("rows" -> n, "hash" -> h)
      } catch { case NonFatal(e) => Map("error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
      spark.catalog.clearCache()
      k -> fp
    }.toMap

    val spans = trace.map { t => t.close(runId); t.finish() }.getOrElse(Seq.empty)
    val conf = Seq("spark.master", "spark.sql.adaptive.enabled",
      "spark.sql.codegen.cache.maxEntries", "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k).orElse(spark.sparkContext.getConf.getOption(k))
        .getOrElse("default")).toMap + ("spark.sql.shuffle.partitions" -> sessionParts.toString)
    val out = Map(
      "provenance" -> Map(
        "cores" -> Cores, "nproc" -> Runtime.getRuntime.availableProcessors,
        "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20), "seed" -> seed,
        "keys" -> keys, "conf" -> conf,
        "java" -> sys.props("java.version"), "spark" -> spark.version,
        "load1_start" -> load1Start, "load1_end" -> graft.HarnessConf.load1,
        "steal_frac" -> graft.HarnessConf.stealFrac(ticksStart, graft.HarnessConf.cpuTicks)),
      "first_query_epoch_ms" -> firstQueryEpochMs,
      "setup" -> Map("session.build_ms" -> sessionMs, "warm.ms" -> warmMs,
        "warm.compiles" -> warmCompiles, "jit_drain.ms" -> setupDrainMs,
        "warm_failed" -> warmFailed.toSeq),
      "passes" -> passes.toSeq,
      "execs" -> execs.toSeq,
      "fingerprints" -> fingerprints,
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "key" -> s.key, "start" -> s.start, "end" -> s.end, "counts" -> s.counts)),
      "peak_rss_kb" -> Probe.vmHwmKb)
    spark.stop()
    out
  }
}

/** Minimal JSON rendering for the raw record (maps, sequences, strings,
  * numbers, booleans, null). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case a: Array[_] => apply(a.toSeq)
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
