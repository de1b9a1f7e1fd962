package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query at the configured scale
  * factor and prints ONE JSON line for the driver.
  *
  * Methodology (noted in the emitted line):
  *  - Each query is fully materialized via `queryExecution.toRdd` — a plain
  *    `count()` would let Catalyst prune the projections and measure only
  *    the parquet scan.
  *  - Queries run in CHUNKS, each chunk in a FRESH CHILD JVM (same
  *    classpath/JVM flags as the parent). Within the chunk each query runs
  *    ADAPTIVELY (the r11 lesson: warming all 32 chunk queries before any
  *    timed pass spent 1,111 s of the 2,400 s budget on warmup alone and
  *    still left 128 queries at a single timed pass):
  *      pass 1 (cold)  — pays Janino codegen + JIT; measured, recorded
  *                       per query under `cold`, never the headline time.
  *                       ALL of a chunk's cold passes run before ANY
  *                       timed pass (the shared-machinery JIT warm —
  *                       interleaving them measured ~+2 s on every
  *                       slow query's only timed pass), and they run
  *                       CONCURRENTLY (`GRAFT_BENCH_COLD_PAR` workers,
  *                       default 6, each on its own `newSession()`) —
  *                       the r12 lesson: serialized colds cost ~1,100 s
  *                       of the 2,400 s budget (latency-bound driver
  *                       work on an otherwise idle 32-core box), which
  *                       is what forced a loaded host down to a
  *                       single timed pass for 234/341 queries.
  *      pass 2 (timed) — first steady pass, strictly serial/exclusive.
  *      pass 3 (timed) — run ONLY if pass 2 came in under the fast
  *                       threshold (`GRAFT_BENCH_FAST_SEC`, default 4 s)
  *                       and the ladder level allows 2 passes.
  *    Scan-shaped queries (~90% of the set) report min(pass2, pass3) —
  *    the same 2-steady-pass min as the record rounds. Over-threshold
  *    lifecycle queries ALSO get a second timed pass at non-degraded
  *    ladder levels (`slow2`, r13) with the min over the two STEADY
  *    passes; only at the two floor levels do they stop at the single
  *    timed pass 2 (the cold pass is never a headline sample: it runs
  *    beside other queries' colds on one shared cache).
  *    The per-query timed-pass count is recorded in bench_detail.json
  *    (`passes`), alongside the ladder level (`lvl`) — so a downstream
  *    reader can tell a steady-state number from a degraded one without
  *    re-running. Round-1/2 investigation showed a single
  *    long-lived local[32] JVM intermittently degrades whole-process
  *    (identical binaries measured 17 s / 29 s / 443 s for the full set;
  *    stuck tasks burned 100x the CPU of healthy runs inside generated
  *    code, with `ThreadLocalMap.getEntryAfterMiss` hot in stacks) — a
  *    fresh JVM per chunk bounds any cumulative JVM/thread state to one
  *    chunk, and the per-query cold pass keeps every timed pass
  *    steady-state.
  *  - The whole run operates under a WALL-CLOCK BUDGET
  *    (`GRAFT_BENCH_BUDGET_SEC`, default 2400 s): round 8's full
  *    median-of-3 × 2-pass methodology over 278 queries outran the
  *    driver's window and the run was killed before ANY output (rc=124,
  *    `parsed: null` — zero signal beats a slow plan every time). After
  *    every chunk the remaining cost is projected from measured
  *    per-query wall (warmup priced separately from steady passes — the
  *    r9 model folded warmup into the steady estimate and over-degraded);
  *    on pressure the methodology degrades down a
  *    deterministic ladder — repeats 3→2→1, then chunk size 8→…→128
  *    (fewer JVM spawns) with cold concurrency climbing 6→12 (a cheaper
  *    warmup), and only at the LAST TWO rungs do slow queries, then all
  *    queries, fall to a single steady pass — every such measurement is
  *    flagged `contended` (r13 verdict: a degraded number must never
  *    silently read as steady-state) — and RE-UPGRADES to a less-degraded level when
  *    measurement comes in under the prior (r9's degrade-only ladder left
  *    1,143 s of its budget unspent) — recorded in the emitted JSON under
  *    `levels` ("levelxqueries" pairs, level 0 included; `warmup_sec`
  *    and `spent_sec` ride alongside). If even the floor level cannot
  *    fit, the remaining queries are SKIPPED and listed under `skipped`
  *    (never silently dropped), and the final JSON line ALWAYS prints.
  *  - JVM/session startup and the cold passes are excluded from fast
  *    queries' times and reported in aggregate under the `warmup_sec`
  *    key (whole seconds, the WALL-CLOCK the concurrent cold phases
  *    spent — what warmup actually cost the budget, not the per-query
  *    sum, which overlap makes larger); 1-minute load
  *    averages before;after go to the stderr `[bench]` line and to
  *    `bench_detail.json`, so external CPU contention on a shared host is
  *    visible.
  *  - Failing queries are listed by name under `failed` (empty list when
  *    all pass), so a failing query can't masquerade as a fast one.
  *  - If spawning children fails (restricted environments), everything
  *    falls back to one in-process pass with session restarts per chunk,
  *    and the count appears as `fallbacks` on the stderr line and in
  *    `bench_detail.json`.
  *
  * Emitted line (driver-parsed from the output tail, window ~2000 chars),
  * built by [[stdoutLine]]:
  * `{"metric":"total","value":S,"unit":"sec","queries":{key:sec,...},
  * "failed":[...],"levels":"LxN,...","warmup_sec":W,"spent_sec":E,
  * "contended":C,"sf":dir}`. The headline total keeps 2 decimals; each
  * query is keyed by its base-36 ORDINAL in the sorted query list (≤2
  * chars to 1296 queries; `bench_detail.json` carries every query's `key`)
  * with whole-second times, and passing queries that round to 0 s are
  * left out (a missing key means "ran, passed, <0.5 s"; failed queries
  * always keep their entry and the failed list always prints). The line
  * thus grows with the slow-query count, not the set size. If it still
  * runs past 1800 chars, passing queries at 1 or 2 s are left out too
  * (missing key = "ran, passed, <2.5 s"). A budget-skipped suffix prints
  * as `skipped` keys, or as `skipped_n` + `skipped_from` past 8 names.
  * Load, fallbacks and elapsed-vs-budget go to stderr as one `[bench]`
  * line. A sub-second time is never written as `.2`: that is
  * not a valid JSON number and the driver json-parses the line.
  *
  * Independently of the compressed stdout line, the parent run writes
  * `bench_detail.json` (override path via `GRAFT_BENCH_DETAIL`, empty
  * disables): full query names, 2-decimal seconds, ok flags, and the run
  * diagnostics — the machine-readable bench of record that makes
  * same-query regression tracking across rounds possible. Commit it
  * alongside each record run.
  */
object Bench {

  /** Stdout key of each query: its index in the SORTED query list,
    * base-36 — ≤2 chars to 1296 queries. Reversible: re-sort the query
    * list and number it. */
  private[graft] def ordinalAbbrev(names: Seq[String]): Map[String, String] =
    names.sorted.zipWithIndex
      .map { case (n, i) => n -> java.lang.Long.toString(i.toLong, 36) }.toMap

  private def consume(spark: SparkSession, sfDir: String, name: String): (Double, Boolean) = {
    val t0 = System.nanoTime()
    val ok =
      try {
        val rdd = SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd
        rdd.foreachPartition(it => while (it.hasNext) it.next())
        true
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        false
      }
    ((System.nanoTime() - t0) / 1e9, ok)
  }

  /** (machine-wide busy CPU seconds since boot, THIS process's CPU
    * seconds) — the instantaneous contention probe. The 1-minute loadavg
    * is a backward-looking EMA, so right after the 6-way cold phase it
    * still reads OUR OWN decaying load and can't tell a spiked host from
    * a hard-working bench; /proc/stat deltas are exact over any window
    * and subtracting our own process CPU leaves exactly the EXTERNAL
    * work that contended the pass. Either value is -1 when unavailable
    * (non-Linux) — callers must treat that as "unknown", never "quiet". */
  private def cpuStat(): (Double, Double) = {
    val busy =
      try {
        val f = scala.io.Source.fromFile("/proc/stat")
        try {
          val v = f.getLines().next().trim.split("\\s+").drop(1).map(_.toDouble)
          // user+nice+system+irq+softirq+steal; idle(3)+iowait(4) excluded
          (v(0) + v(1) + v(2) + v.lift(5).getOrElse(0.0) +
            v.lift(6).getOrElse(0.0) + v.lift(7).getOrElse(0.0)) / 100.0
        } finally f.close()
      } catch { case _: Throwable => -1.0 }
    val self =
      try java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
        case os: com.sun.management.OperatingSystemMXBean =>
          val t = os.getProcessCpuTime; if (t < 0) -1.0 else t / 1e9
        case _ => -1.0
      } catch { case _: Throwable => -1.0 }
    (busy, self)
  }

  /** [[consume]] plus the external-cores-during-the-pass probe: average
    * CPU cores of NON-bench work that ran concurrently with this pass
    * (machine busy minus own process), or -1 when /proc/stat or process
    * CPU time is unavailable. */
  private def consumeExt(spark: SparkSession, sfDir: String, name: String)
      : (Double, Boolean, Double) = {
    val (b0, s0) = cpuStat()
    val (t, ok) = consume(spark, sfDir, name)
    val (b1, s1) = cpuStat()
    val ext =
      if (b0 < 0 || s0 < 0 || b1 < 0 || s1 < 0 || t <= 0) -1.0
      else math.max(0.0, ((b1 - b0) - (s1 - s0)) / t)
    (t, ok, ext)
  }

  /** One query's measurement within a chunk: the reported seconds, ok
    * flag, number of STEADY timed passes behind the min (2 means the min
    * of two timed passes; 1 means the single timed pass of a floor-level
    * slow query), whether the query measured
    * OVER the fast threshold on its first timed pass (`slow` — the
    * cost-model classification, independent of where its min landed),
    * the cold-pass seconds (wall of THIS query's cold execution, recorded
    * only: the concurrent cold phase shares one CacheManager that it
    * never clears, so another query's leaked CacheScope can make a cold
    * pass read cached data and flatter it), the `contended` flag, and
    * `ext` — external (non-bench) CPU cores measured DURING the winning
    * timed pass (see [[consumeExt]]; -1 = probe unavailable).
    *
    * `contended` is the r13-verdict ask ("a spiked measurement must
    * never silently become a headline"): it is set when EITHER the
    * winning pass ran against external load over the threshold
    * (`GRAFT_BENCH_CONTENDED_CORES`, default 4 cores) OR the headline
    * rests on a single steady sample (passes=1) — so every single-pass
    * number is flagged by construction, and a two-pass min taken under
    * a host spike is flagged too. */
  private[graft] final case class QMeasure(
      sec: Double, ok: Boolean, passes: Int, slow: Boolean, cold: Double,
      contended: Boolean, ext: Double)

  /** Time a chunk of queries on a fresh session with the ADAPTIVE pass
    * scheme (see the file scaladoc); returns (per-query measures, the
    * WALL-CLOCK seconds the cold phase spent). TWO PHASES over the chunk:
    * first every query's cold pass runs (codegen + the JIT warm for the
    * shared Spark machinery the whole chunk exercises), THEN the timed
    * passes run. The phase split is load-bearing: interleaving cold and
    * timed per query puts each first timed pass early in the chunk's JIT
    * curve, which measured ~+2 s on every slow query (and misclassified
    * borderline ones as slow, costing them their second steady pass).
    *
    * The cold phase runs CONCURRENTLY (`GRAFT_BENCH_COLD_PAR` workers,
    * default 6): a cold pass at toy scale is latency-bound — Catalyst
    * analysis and Janino compilation on one driver thread, rounds of
    * 32 tiny tasks, filesystem commit protocol — so running colds
    * serially left ~30 of 32 cores idle for the ~1,100 s the r11/r12
    * warmups measured, which was ~45% of the whole wall budget and THE
    * structural reason a loaded host degraded 234/341 queries to a
    * single timed pass (BENCH_r12). Each worker thread gets its own
    * `spark.newSession()` — same SparkContext, shared Janino cache (so
    * the warm still transfers to the parent session's timed passes,
    * which re-use the identical generated code), but a PRIVATE SQLConf,
    * so the one conf-mutating harness helper (`withStreamingShuffle`)
    * cannot cross-talk into a concurrently planning query. Timed passes
    * stay strictly serial and exclusive on the parent session. A cold
    * pass that fails under concurrency is retried once serially before
    * the timed phase (restores the every-timed-pass-is-post-warm
    * invariant; a genuine failure fails again and is reported).
    *
    * In phase 2, a query whose first timed pass is under `fastSec` (and
    * `maxPasses` >= 2) gets a second steady pass with min-of-2 reported
    * (passes=2). An over-threshold query gets a second timed pass too
    * when the ladder level affords it (`slow2` — priced by the budget
    * model): the first post-cold-phase timed passes run while the JVM is
    * still settling from the 6-way-saturating cold phase (GC debt, JIT
    * threads), and for a slow query that contaminated single pass used
    * to be the headline, with only the now-CONTENDED cold as a fallback
    * sample — the r13 local A/B measured multi-second inflations healed
    * exactly by a second timed pass. At the floor levels the slow query
    * reports its one timed pass with passes=1. A System.gc()
    * barrier between the phases drains the cold phase's garbage before
    * anything is timed. */
  private def runChunk(sfDir: String, names: Seq[String],
      maxPasses: Int, fastSec: Double, slow2: Boolean, coldPar0: Int)
      : (Seq[(String, QMeasure)], Double) = {
    val spark = GraftSession(rawLocalFs = true)
    val coldPar = math.max(1, coldPar0)
    val contTh =
      sys.env.getOrElse("GRAFT_BENCH_CONTENDED_CORES", "4.0").toDouble
    val w0 = System.nanoTime()
    val colds0: Map[String, (Double, Boolean)] =
      if (coldPar <= 1 || names.size <= 1)
        names.map(n => n -> consume(spark, sfDir, n)).toMap
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(coldPar)
        // one child session per WORKER THREAD (not per query): private
        // SQLConf per in-flight cold, SessionState init paid coldPar
        // times per chunk, not |chunk| times
        val perThread = ThreadLocal.withInitial(
          new java.util.function.Supplier[SparkSession] {
            def get(): SparkSession = spark.newSession()
          })
        try {
          val futs = names.map { n =>
            n -> pool.submit(new java.util.concurrent.Callable[(Double, Boolean)] {
              def call(): (Double, Boolean) = consume(perThread.get(), sfDir, n)
            })
          }
          futs.map { case (n, f) => n -> f.get() }.toMap
        } finally { pool.shutdown(): Unit }
      }
    // serial retry of any cold that failed under concurrency
    val colds = colds0.map {
      case (n, (_, false)) => n -> consume(spark, sfDir, n)
      case kv              => kv
    }
    val coldWall = (System.nanoTime() - w0) / 1e9
    System.gc() // drain the cold phase's garbage before anything is timed
    // `contended` on a 2-pass min reflects the WINNING pass's external
    // load (a clean second pass heals a spiked first pass AND clears the
    // flag); on a 1-pass measurement it is always true — a single steady
    // sample is never certifiably steady-state. ext < 0 (probe
    // unavailable) conservatively flags too: "unknown" must not read as
    // "quiet".
    def flag(ext: Double): Boolean = ext < 0 || ext > contTh
    // Every TIMED pass starts with an empty Spark cache (r14 VERDICT
    // item 1: ops that persist through a fire-and-forget CacheScope —
    // docs_clean_pipeline, text_ndcg — never unpersist, the next pass's
    // re-built plan canonicalizes equal, and the shared CacheManager
    // serves the PREVIOUS pass's materialized InMemoryRelation; the
    // steady pass then skips even the one materialization the reuse is
    // supposed to pay). Clearing here (outside the timed region) makes
    // every pass pay its own materializations and future-proofs against
    // new leaks; within-pass reuse — the legitimate §5 win — is
    // untouched. Committed registries/fixtures are parquet on disk, not
    // Spark cache, so they are unaffected.
    def timedPass(n: String): (Double, Boolean, Double) = {
      spark.catalog.clearCache()
      consumeExt(spark, sfDir, n)
    }
    val results = names.map { n =>
      val (cold, okCold) = colds(n)
      val (t1, ok1, e1) = timedPass(n)
      val m =
        if (maxPasses >= 2 && t1 <= fastSec && ok1) {
          val (t2, ok2, e2) = timedPass(n)
          val (sec, ext) = if (t2 <= t1) (t2, e2) else (t1, e1)
          QMeasure(sec, okCold && ok1 && ok2, 2, slow = false, cold,
            contended = flag(ext), ext)
        } else if (slow2 && maxPasses >= 2 && ok1) {
          // min over the two STEADY passes only — never the contended
          // cold — so passes=2 keeps the record-round meaning
          val (t2, ok2, e2) = timedPass(n)
          val (sec, ext) = if (t2 <= t1) (t2, e2) else (t1, e1)
          QMeasure(sec, okCold && ok1 && ok2, 2, slow = true, cold,
            contended = flag(ext), ext)
        } else QMeasure(t1, okCold && ok1, 1,
          slow = t1 > fastSec, cold, contended = true, ext = e1)
      n -> m
    }
    spark.stop()
    (results, coldWall)
  }

  private def loadAvg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ").take(3).mkString(",")
    catch { case _: Throwable => "" }

  /** Child mode: run one chunk, print machine-parsable lines, exit. */
  private def childMain(sfDir: String, names: Seq[String]): Unit = {
    val passes = sys.env.getOrElse("GRAFT_BENCH_PASSES", "2").toInt
    val fastSec = sys.env.getOrElse("GRAFT_BENCH_FAST_SEC", "4.0").toDouble
    val slow2 = sys.env.getOrElse("GRAFT_BENCH_SLOW2", "1") == "1"
    val coldPar = sys.env.getOrElse("GRAFT_BENCH_COLD_PAR", "6").toInt
    val (results, warmup) =
      runChunk(sfDir, names, passes, fastSec, slow2, coldPar)
    results.foreach { case (n, m) =>
      println(s"GRAFT_BENCH_Q\t$n\t${m.sec}\t${m.ok}\t${m.passes}\t${m.slow}\t${m.cold}\t${m.contended}\t${m.ext}")
    }
    println(s"GRAFT_BENCH_WARMUP\t$warmup")
  }

  /** Spawn a child JVM (same java, flags, classpath) for one chunk; returns
    * parsed results, or None if the spawn/parse failed. */
  private def spawnChunk(sfDir: String, names: Seq[String],
      passes: Int, slow2: Boolean, coldPar: Int)
      : Option[(Seq[(String, QMeasure)], Double)] =
    try {
      val javaBin = new java.io.File(new java.io.File(
        System.getProperty("java.home"), "bin"), "java").getAbsolutePath
      val jvmArgs = scala.jdk.CollectionConverters.ListHasAsScala(
        java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments).asScala
        .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-Xlog"))
      val cmd = Seq(javaBin) ++ jvmArgs ++ Seq(
        "-cp", System.getProperty("java.class.path"), "graft.Bench")
      val pb = new ProcessBuilder(cmd: _*)
      pb.environment().put("GRAFT_BENCH_CHILD", names.mkString(","))
      pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
      pb.environment().put("GRAFT_BENCH_PASSES", passes.toString)
      pb.environment().put("GRAFT_BENCH_SLOW2", if (slow2) "1" else "0")
      pb.environment().put("GRAFT_BENCH_COLD_PAR", coldPar.toString)
      // Child stderr (Spark INFO startup logs, log4j banner) goes to a file,
      // NOT the parent's streams: the driver parses the tail of our combined
      // output, and a child's log flood must never push the final JSON line
      // out of that window.
      pb.redirectErrorStream(false)
      pb.redirectError(ProcessBuilder.Redirect.appendTo(
        new java.io.File(sys.props.getOrElse("java.io.tmpdir", "/tmp"), "graft_bench_children.log")))
      val proc = pb.start()
      val out = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toList
      val rc = proc.waitFor()
      if (rc != 0) { System.err.println(s"[bench] child exited rc=$rc"); return None }
      val qs = out.collect { case l if l.startsWith("GRAFT_BENCH_Q\t") =>
        val Array(_, n, sec, ok, passes, slow, cold, contended, ext) = l.split("\t")
        n -> QMeasure(sec.toDouble, ok.toBoolean, passes.toInt,
          slow.toBoolean, cold.toDouble, contended.toBoolean, ext.toDouble)
      }
      val warmup = out.collectFirst { case l if l.startsWith("GRAFT_BENCH_WARMUP\t") =>
        l.split("\t")(1).toDouble
      }.getOrElse(0.0)
      if (qs.map(_._1) == names) Some((qs, warmup)) else None
    } catch { case e: Throwable =>
      System.err.println(s"[bench] child spawn failed: ${e.getMessage}")
      None
    }

  /** The one JSON line [[main]] prints for the driver (format in the file
    * scaladoc). `results` are the measured queries in sorted-name order,
    * `skipped` the budget-skipped suffix after them, `levels` the ladder
    * summary ("levelxqueries" pairs in run order). Pure: same inputs, same
    * bytes. */
  def stdoutLine(results: Seq[(String, (Double, Boolean))], skipped: Seq[String],
      levels: String, warmupSec: Double, spentSec: Double, contended: Int,
      sfDir: String): String = {
    val key = ordinalAbbrev(results.map(_._1) ++ skipped)
    val failed = results.collect { case (k, (_, false)) => "\"" + k + "\"" }.mkString("[", ",", "]")
    def whole(d: Double) = "%.0f".format(d)
    // skipped queries are ALWAYS visible — a missing query must never read
    // as fast. Skipped is a contiguous SUFFIX of the sorted query list, so
    // a long list compresses losslessly to (count, first key).
    val skippedPart =
      if (skipped.isEmpty) ""
      else if (skipped.size <= 8)
        s""","skipped":${skipped.map(n => "\"" + key(n) + "\"").mkString("[", ",", "]")}"""
      else s""","skipped_n":${skipped.size},"skipped_from":"${key(skipped.head)}""""
    // passing queries whose whole-second time is in `omit` leave the map
    // (failed queries always stay), so the line tracks the slow-query count
    def assemble(omit: Set[String]): String = {
      val qs = results.filter { case (_, (v, ok)) => !omit(whole(v)) || !ok }
        .map { case (k, (v, _)) => "\"" + key(k) + "\":" + whole(v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${"%.2f".format(results.map(_._2._1).sum)},"unit":"sec",""" +
        s""""queries":$qs,"failed":$failed$skippedPart,"levels":"$levels",""" +
        s""""warmup_sec":${whole(warmupSec)},"spent_sec":${whole(spentSec)},""" +
        s""""contended":$contended,"sf":"$sfDir"}"""
    }
    val line = assemble(Set("0"))
    if (line.length <= 1800) line else assemble(Set("0", "1", "2"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    sys.env.get("GRAFT_BENCH_CHILD") match {
      case Some(list) =>
        childMain(sfDir, list.split(",").toSeq)
      case None =>
        // WALL-CLOCK BUDGET (round-8 lesson: BENCH_r08 rc=124 — the driver
        // killed the run before the JSON line printed; 278 queries ×
        // 3 fresh-JVM repeats × (warmup + 2 passes) outgrew its window).
        // The run must ALWAYS finish inside the budget and ALWAYS print
        // the line: after every chunk the remaining cost is projected
        // from measured per-query wall, and the least-degraded level that
        // fits is picked DETERMINISTICALLY from this ladder —
        // repeats 3→2→1, then chunk 8→16 keeping 2 timed passes, then
        // passes 2→1 and chunk →32 (fewer JVM spawns) — in BOTH
        // directions: the ladder climbs back up when measurements come in
        // under the prior. Degradation is
        // recorded in the emitted JSON
        // (`levels` lists [level, queries-run-at-it]); if even the
        // floor level cannot fit, remaining queries are SKIPPED and
        // listed, never silently dropped. Level 0 is the full
        // median-of-3 fresh-JVM methodology of rounds 3-7.
        val budgetSec = sys.env.getOrElse("GRAFT_BENCH_BUDGET_SEC", "2400").toDouble
        val t0 = System.nanoTime()
        def elapsed(): Double = (System.nanoTime() - t0) / 1e9
        // (repeats, max timed passes, chunkSize, slow2, coldPar) per
        // degradation level. THE r13-VERDICT INVARIANT: "2 timed passes
        // for every query" is the LAST thing the ladder sacrifices —
        // repeats drop first, then chunk freshness (fewer JVM spawns),
        // then the cold phase's budget share (coldPar climbs: a cold
        // pass is latency-bound driver work, and a 32-core box takes
        // 12-way colds), and only at the last two rungs do slow queries
        // (then all queries) fall to a single steady pass — in which
        // case runChunk FLAGS every such measurement `contended`, so a
        // degraded number can never silently read as steady-state. The
        // per-query min over 2 steady passes is what keeps recorded
        // times comparable to the record rounds (r9: 1-pass levels read
        // ~15% slower on identical plans; r12/r13: a loaded driver host
        // degraded 164-234 queries to one contended pass and the
        // official artifact overstated the engine 1.5-1.7x).
        val levels = Vector(
          (3, 2, 8, true, 6), (2, 2, 8, true, 6),
          (1, 2, 16, true, 6), (1, 2, 32, true, 8),
          (1, 2, 64, true, 10), (1, 2, 128, true, 12),
          (1, 2, 128, false, 12), (1, 1, 128, false, 12))
        val startLevel = sys.env.get("GRAFT_BENCH_REPEATS").map(_.toInt) match {
          case Some(n) => levels.indexWhere(_._1 <= n) match { case -1 => 0; case i => i }
          case None    => 0
        }
        // a-priori cost model, refined from measurement. Cold and steady
        // passes are priced SEPARATELY (r9 lesson: folding the expensive
        // cold pass into qEst via a (1+passes) divisor inflated the
        // steady estimate ~2x, so the ladder degraded 266/290 queries to a
        // single timed pass and still left 1,143 s of the budget unspent):
        //   one steady query pass         ≈ qEst s wall (r11 ~0.9)
        //   one cold pass (codegen+JIT)   ≈ wEst s wall (r11: 1111 s warmup)
        //   one JVM+session startup       ≈ startEst s
        //   extra fast-query pass         ≈ fAvg s, paid for fFrac of queries
        // costPerQuery(level) = repeats × (startup/chunk + cold + steady
        //                                  [+ fFrac × fAvg if 2 passes])
        // — the cold pass is paid once per repeat (each repeat is a fresh
        // JVM). The adaptive scheme means the second pass is only ever
        // paid for queries measured fast, so its price is fAvg (bounded
        // by the fast threshold), not qEst.
        val loadBefore = loadAvg()
        // LOAD-AWARE priors (r12 lesson, third-round bench ask): the
        // driver's host ran at 1-min load 5.5 and every serial,
        // latency-bound section inflated ~1.7x, so a quiet-host prior
        // under-projects and the ladder discovers the overrun only after
        // spending real budget at too optimistic a level. Scale the
        // INITIAL estimates by measured start load (~12%/unit, capped) —
        // the first chunk's measurements then take over as before.
        val startLoad =
          try loadBefore.split(",").headOption.getOrElse("0").toDouble
          catch { case _: Throwable => 0.0 }
        val loadFactor = math.min(2.5, 1.0 + math.max(0.0, startLoad) * 0.12)
        var qEst = 1.0 * loadFactor
        // wEst prices the PER-QUERY share of the chunk's PARALLEL cold
        // wall (runChunk reports the phase wall, not the per-query sum):
        // r12 measured ~3.2 s/query serial; 6-way concurrency projects
        // ~0.7 s/query quiet
        var wEst = 0.8 * loadFactor
        // the cold concurrency wEst was last MEASURED at — colds are
        // latency-bound, so projecting a level that runs them wider
        // scales the per-query cold share down ~linearly (floored at
        // 0.55x: the driver thread and codegen locks stop scaling well
        // before 12-way)
        var wPar = sys.env.get("GRAFT_BENCH_COLD_PAR").map(_.toInt)
          .getOrElse(levels(0)._5)
        var fFrac = 0.85
        var fAvg = 0.8
        // average steady seconds of an OVER-THRESHOLD query — prices the
        // slow second pass, paid for (1 - fFrac) of the set at slow2
        // levels; refined from measurement like the other terms
        var sAvg = 5.0 * loadFactor
        val startEst = 12.0
        // a global GRAFT_BENCH_COLD_PAR overrides every level's coldPar
        val coldParEnv = sys.env.get("GRAFT_BENCH_COLD_PAR").map(_.toInt)
        def levelColdPar(l: Int): Int = coldParEnv.getOrElse(levels(l)._5)
        def costPerQuery(l: Int): Double = {
          val (r, p, c, s2, _) = levels(l)
          val wProj = wEst * math.max(0.55, wPar.toDouble / levelColdPar(l))
          r * (startEst / c + wProj + qEst +
            (if (p >= 2) fFrac * fAvg else 0.0) +
            (if (s2) (1.0 - fFrac) * sAvg else 0.0))
        }
        val fastSec = sys.env.getOrElse("GRAFT_BENCH_FAST_SEC", "4.0").toDouble
        val names = SparkEntry.queries.keys.toSeq.sorted
        // the cold floor the fit starts from, priced explicitly (the r12
        // ask): what the model expects the whole set's warmup to cost
        // before a single timed pass runs — surfaced in bench_detail so
        // a budget post-mortem doesn't have to re-derive it
        val projectedFloor0 = names.size * wEst
        var warmupTotal = 0.0
        var fallbacks = 0
        var level = startLevel
        val levelCounts = scala.collection.mutable.LinkedHashMap.empty[Int, Int]
        // per query: (measure aggregated over repeats, ladder level it ran at)
        val acc = scala.collection.mutable.ArrayBuffer.empty[(String, (QMeasure, Int))]
        var remaining = names
        // Pick the LEAST-degraded level whose projected remaining cost fits
        // the room (pre-degrading on the prior before the first JVM spawns:
        // starting three chunks at level 0 only to discover the overrun
        // wastes minutes of the budget). Unlike r9's degrade-only loop,
        // this re-UPGRADES after every chunk when measurement comes in
        // under the prior — r9 left 1,143 s of its 2,400 s budget unspent
        // because the inflated early estimate pinned the ladder at the
        // single-pass floor for the rest of the run.
        def fitLevel(): Unit = {
          val room = (budgetSec - elapsed()) * 0.9
          level = (startLevel until levels.size)
            .find(l => remaining.size * costPerQuery(l) <= room)
            .getOrElse(levels.size - 1)
        }
        fitLevel()
        while (remaining.nonEmpty && elapsed() < budgetSec - 30.0) {
          fitLevel()
          val (repeats, passes, csize, slow2, _) = levels(level)
          val cpar = levelColdPar(level)
          val chunk = remaining.take(csize)
          remaining = remaining.drop(csize)
          val c0 = elapsed()
          var chunkWarm = 0.0
          val runs = (1 to repeats).map { _ =>
            val (rs, w) = spawnChunk(sfDir, chunk, passes, slow2, cpar)
              .getOrElse { fallbacks += 1
                runChunk(sfDir, chunk, passes, fastSec, slow2, cpar) }
            warmupTotal += w
            chunkWarm += w
            rs.toMap
          }
          acc ++= chunk.map { n =>
            val obs = runs.map(_(n))
            // median over repeats: the MEDIAN OBSERVATION carries its
            // own contended flag and ext probe, so a flag can never be
            // paired with a different repeat's seconds
            val bySec = obs.sortBy(_.sec)
            val med = bySec(bySec.size / 2)
            val agg = QMeasure(
              sec = med.sec,
              ok = obs.forall(_.ok),
              passes = obs.map(_.passes).min,
              slow = obs.exists(_.slow),
              cold = obs.map(_.cold).min,
              contended = med.contended,
              ext = med.ext)
            n -> (agg, level)
          }
          levelCounts(level) = levelCounts.getOrElse(level, 0) + chunk.size
          // refine the cost-model terms SEPARATELY from this chunk:
          // one chunk-run = startup + Σcold + Σsteady + Σ(extra fast pass).
          // The child reports cold passes directly, and each fast query's
          // reported sec prices its extra pass, so the steady estimate is
          // wall minus startup minus MEASURED cold minus MEASURED extra —
          // not a (1+passes) smear that prices cold as steady (r9's bug).
          val wAvg = chunkWarm / repeats
          val wObs = wAvg / chunk.size
          if (wObs > 0) { wEst = 0.5 * wEst + 0.5 * wObs; wPar = cpar }
          // classify by the measured ARM (t1 vs fastSec at run time), not
          // by where the reported min landed: a borderline slow query
          // whose second pass dipped under the threshold still spent a
          // slow query's wall and must price as one
          val fastObs = runs.head.values
            .filter(m => m.passes >= 2 && !m.slow).toSeq
          val slowObs = runs.head.values.filter(_.slow).toSeq
          fFrac = 0.5 * fFrac + 0.5 * (fastObs.size.toDouble / chunk.size)
          if (fastObs.nonEmpty)
            fAvg = 0.5 * fAvg + 0.5 * (fastObs.map(_.sec).sum / fastObs.size)
          if (slowObs.nonEmpty)
            sAvg = 0.5 * sAvg + 0.5 * (slowObs.map(_.sec).sum / slowObs.size)
          // extra-pass wall actually spent this chunk: fast queries'
          // second pass, plus (at slow2 levels) slow queries' second pass
          val extraWall = fastObs.map(_.sec).sum +
            (if (slow2) slowObs.filter(_.passes >= 2).map(_.sec).sum else 0.0)
          val qObs = ((elapsed() - c0) / repeats - startEst - wAvg -
            extraWall) / chunk.size
          if (qObs > 0) qEst = 0.5 * qEst + 0.5 * qObs
        }
        val skipped = remaining
        val rich: Seq[(String, (QMeasure, Int))] = acc.toSeq
        val results: Seq[(String, (Double, Boolean))] =
          rich.map { case (n, (m, _)) => n -> (m.sec, m.ok) }
        def f2(d: Double) = "%.2f".format(d)
        val failed = results.collect { case (k, (_, false)) => "\"" + k + "\"" }.mkString("[", ",", "]")
        val total = results.map(_._2._1).sum
        val contended = rich.count(_._2._1.contended)
        // 1-minute loadavg before;after — enough to flag host contention
        val load1 = s"${loadBefore.split(",").headOption.getOrElse("")};" +
          s"${loadAvg().split(",").headOption.getOrElse("")}"
        // Full-resolution per-query record, UNABBREVIATED: the emitted
        // stdout line compresses to fit the driver's tail window (whole
        // seconds, ordinal names, fast queries elided), which makes
        // same-query regression tracking across rounds impossible from
        // BENCH_r*.json alone. This file is the machine-readable bench of record —
        // commit it alongside each record run.
        val detailPath = sys.env.getOrElse("GRAFT_BENCH_DETAIL", "bench_detail.json")
        if (detailPath.nonEmpty) try {
          // `lvl` = ladder level the query ran at; `passes` = steady timed
          // passes behind the reported min (2 = record-round methodology;
          // 1 = the one timed pass of a floor-level slow query);
          // `cold` = the codegen+JIT first-execution seconds; `cont` =
          // the contended flag (winning pass ran against > threshold
          // external cores, or the headline rests on one steady sample);
          // `ext` = external (non-bench) CPU cores measured during the
          // winning pass (-1 = probe unavailable). These fields are what
          // let a reader separate "slow plan" from "single-pass or
          // load-spiked measurement" without a re-run (the r11-r13 gap).
          // `key` = the base-36 ordinal this query gets on the emitted
          // stdout line — committed here so a
          // PERF differ (or judge) resolves ordinal keys to stable names
          // by grep instead of re-deriving the sorted-list numbering
          // (r14 verdict item 6: 31/39 "common" ordinal keys compared
          // different queries across rounds when the set grew)
          val ordMap = ordinalAbbrev(names)
          val qjson = rich.sortBy(_._1).map { case (n, (m, lvl)) =>
            s"""    "$n": {"key": "${ordMap(n)}", "sec": ${f2(m.sec)}, "ok": ${m.ok}, "lvl": $lvl, "passes": ${m.passes}, "slow": ${m.slow}, "cold": ${f2(m.cold)}, "cont": ${m.contended}, "ext": ${f2(m.ext)}}"""
          }.mkString("{\n", ",\n", "\n  }")
          val lvlJson = levelCounts.toSeq
            .map { case (l, n) =>
              val (r, p, c, s2, _) = levels(l)
              s""""L$l": {"queries": $n, "repeats": $r, "passes": $p, "chunk": $c, "slow2": $s2, "cold_par": ${levelColdPar(l)}}"""
            }.mkString("{", ", ", "}")
          val skJson = skipped.map("\"" + _ + "\"").mkString("[", ",", "]")
          val body =
            s"""{
               |  "metric": "total",
               |  "value": ${f2(total)},
               |  "unit": "sec",
               |  "sf": "$sfDir",
               |  "cpus": "${GraftSession.cpus}",
               |  "budget_sec": ${"%.0f".format(budgetSec)},
               |  "fast_sec": $fastSec,
               |  "projected_floor_sec": ${"%.0f".format(projectedFloor0)},
               |  "load_factor": ${"%.2f".format(loadFactor)},
               |  "contended_cores": ${sys.env.getOrElse("GRAFT_BENCH_CONTENDED_CORES", "4.0")},
               |  "n_2pass": ${rich.count(_._2._1.passes >= 2)},
               |  "n_contended": $contended,
               |  "levels": $lvlJson,
               |  "skipped": $skJson,
               |  "warmup_sec": ${"%.0f".format(warmupTotal)},
               |  "load_1min": "$load1",
               |  "fallbacks": $fallbacks,
               |  "n_queries": ${results.size},
               |  "failed": $failed,
               |  "queries": $qjson
               |}
               |""".stripMargin
          java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
            body.getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
        } catch { case e: Throwable =>
          System.err.println(s"[bench] detail write failed: ${e.getMessage}")
        }
        val spent = elapsed()
        System.err.println(s"[bench] warmup=${"%.0f".format(warmupTotal)} load=$load1 " +
          s"fallbacks=$fallbacks elapsed=${"%.0f".format(spent)}s/" +
          s"${"%.0f".format(budgetSec)}s levels=${levelCounts.toSeq.map { case (l, n) => s"L$l:$n" }.mkString(",")}" +
          s" contended=$contended" +
          (if (skipped.nonEmpty) s" skipped=${skipped.size}" else ""))
        val line = stdoutLine(results, skipped,
          levelCounts.toSeq.map { case (l, n) => s"${l}x$n" }.mkString(","),
          warmupTotal, spent, contended, sfDir)
        if (line.length > 1800)
          System.err.println(s"[bench] WARNING: JSON line ${line.length} chars — may overflow the driver's tail window")
        println(line)
    }
  }
}
