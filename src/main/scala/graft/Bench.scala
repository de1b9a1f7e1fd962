package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query at the configured scale
  * factor and prints ONE JSON line for the driver.
  *
  * Methodology — the same for every query:
  *  - A pass ([[pass]]) builds the query's DataFrame, takes
  *    `queryExecution.toRdd` and drains every partition. A plain `count()`
  *    would let Catalyst prune the projections and measure only the
  *    parquet scan.
  *  - The sorted query list runs in chunks of [[ChunkSize]], each chunk in
  *    a FRESH CHILD JVM (same java, flags and classpath as the parent). A
  *    single long-lived `local[n]` JVM was seen to degrade
  *    nondeterministically (identical binaries measured 17 s and 443 s for
  *    the full set, stuck tasks burning CPU inside generated code); a fresh
  *    JVM bounds any such state to one chunk.
  *  - Within a chunk, every query first runs one COLD pass, which pays
  *    Janino codegen and the JIT warm-up. The cold passes run concurrently
  *    on [[ColdWorkers]] threads, each on its own `newSession()` (a private
  *    SQLConf, the shared codegen cache): at toy scale a cold pass is
  *    latency-bound driver work, and run serially the colds cost about
  *    half the budget. A cold that fails under concurrency is retried once
  *    serially. The cold seconds are recorded per query (`cold`), never
  *    reported as its time.
  *  - Then, serially, every query runs two STEADY passes, and the lower
  *    one is its time. The Spark cache is cleared before each steady pass
  *    (outside the timed region): an op that persists through a
  *    fire-and-forget CacheScope would otherwise let the next pass read
  *    the previous pass's materialized relation.
  *  - `ext` is the external (non-bench) CPU cores measured during the
  *    winning pass, from /proc/stat minus this process's CPU time (-1 when
  *    unavailable). `cont` flags a time whose winning pass ran against
  *    more than [[ContendedCores]] external cores, or an unknown `ext`.
  *  - A budget of [[BudgetSec]] guards the run: before each chunk, the mean
  *    wall per query measured so far projects the chunk's cost
  *    ([[withinBudget]]). The first chunk that would overrun and all that
  *    follow are listed under `skipped`, never silently dropped.
  *  - A child that exits non-zero or returns a short result reports every
  *    query of its chunk under `failed` ([[chunkResult]]); nothing is
  *    re-measured another way.
  *
  * Emitted line (driver-parsed from the output tail, window ~2000 chars),
  * built by [[stdoutLine]]:
  * `{"metric":"total","value":S,"unit":"sec","queries":{key:sec,...},
  * "failed":[...],"levels":"0xN","warmup_sec":W,"spent_sec":E,
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
  * `levels` is "0x" and the measured count (one methodology); `warmup_sec`
  * is the wall the cold phases spent. Load and elapsed-vs-budget go to
  * stderr as one `[bench]` line. A sub-second time is never written as
  * `.2`: that is not a valid JSON number, and the line is read as JSON.
  *
  * The parent also writes `bench_detail.json` (path `GRAFT_BENCH_DETAIL`,
  * empty disables): full query names with `key`, 2-decimal `sec`, `ok`,
  * `cold`, `cont` and `ext`, plus the run's diagnostics. It is the
  * machine-readable bench of record; `scripts/bench_diff.py` compares two.
  *
  * `GRAFT_BENCH_CHILD="q1,q2"` runs those queries as one chunk in this
  * JVM and prints their `bench_q` lines ([[qLine]]): the child mode,
  * also the way to time a few queries without the full run.
  */
object Bench {

  /** Queries per child JVM. */
  val ChunkSize = 32
  /** Concurrent cold passes per chunk. */
  val ColdWorkers = 8
  /** Wall-clock budget of the whole run. */
  val BudgetSec = 2400.0
  /** External cores above which a winning pass counts as contended. */
  val ContendedCores = 4.0

  /** Stdout key of each query: its index in the SORTED query list,
    * base-36 — ≤2 chars to 1296 queries. Reversible: re-sort the query
    * list and number it. */
  private[graft] def ordinalAbbrev(names: Seq[String]): Map[String, String] =
    names.sorted.zipWithIndex
      .map { case (n, i) => n -> java.lang.Long.toString(i.toLong, 36) }.toMap

  /** One pass of query `name`: build it, `toRdd`, drain every partition.
    * Returns (wall seconds, ok); a failure is logged to stderr. */
  private[graft] def pass(spark: SparkSession, sfDir: String, name: String): (Double, Boolean) = {
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
    * seconds). The 1-minute loadavg is a backward-looking average that
    * still reads the cold phase's own load; /proc/stat deltas are exact
    * over any window, and subtracting our own CPU leaves the external
    * work. Either value is -1 when unavailable (non-Linux). */
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

  /** A steady pass: the cache cleared, then [[pass]] with the average
    * external cores that ran beside it (-1 when unknown). */
  private def steadyPass(spark: SparkSession, sfDir: String, name: String)
      : (Double, Boolean, Double) = {
    spark.catalog.clearCache()
    val (b0, s0) = cpuStat()
    val (t, ok) = pass(spark, sfDir, name)
    val (b1, s1) = cpuStat()
    val ext =
      if (b0 < 0 || s0 < 0 || b1 < 0 || s1 < 0 || t <= 0) -1.0
      else math.max(0.0, ((b1 - b0) - (s1 - s0)) / t)
    (t, ok, ext)
  }

  /** One query's measurement: the lower of its two steady passes, ok when
    * the cold and both steady passes succeeded, the cold seconds, the
    * contended flag and the external cores of the winning pass. */
  private[graft] final case class QMeasure(
      sec: Double, ok: Boolean, cold: Double, contended: Boolean, ext: Double)

  /** What a query of a chunk whose child failed reports. */
  private[graft] val Failed = QMeasure(0.0, ok = false, 0.0, contended = false, -1.0)

  /** Time one chunk on a fresh session: the concurrent cold phase, then
    * two steady passes per query. Returns the measures in `names` order
    * and the cold phase's wall seconds. */
  private def runChunk(sfDir: String, names: Seq[String])
      : (Seq[(String, QMeasure)], Double) = {
    val spark = GraftSession(rawLocalFs = true)
    val w0 = System.nanoTime()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ColdWorkers)
    // one child session per worker thread, not per query
    val perThread = ThreadLocal.withInitial(
      new java.util.function.Supplier[SparkSession] {
        def get(): SparkSession = spark.newSession()
      })
    val colds =
      try {
        names.map { n =>
          n -> pool.submit(new java.util.concurrent.Callable[(Double, Boolean)] {
            def call(): (Double, Boolean) = pass(perThread.get(), sfDir, n)
          })
        }.map { case (n, f) => n -> f.get() }
      } finally { pool.shutdown(): Unit }
    val retried = colds.map {
      case (n, (_, false)) => n -> pass(spark, sfDir, n)
      case kv              => kv
    }.toMap
    val coldWall = (System.nanoTime() - w0) / 1e9
    System.gc() // drain the cold phase's garbage before anything is timed
    val results = names.map { n =>
      val (cold, okCold) = retried(n)
      val (t1, ok1, e1) = steadyPass(spark, sfDir, n)
      val (t2, ok2, e2) = steadyPass(spark, sfDir, n)
      val (sec, ext) = if (t2 <= t1) (t2, e2) else (t1, e1)
      n -> QMeasure(sec, okCold && ok1 && ok2, cold,
        contended = ext < 0 || ext > ContendedCores, ext)
    }
    spark.stop()
    (results, coldWall)
  }

  /** A child's result line for one query; [[parseQLine]] reads it back. */
  private[graft] def qLine(name: String, m: QMeasure): String =
    s"bench_q\t$name\t${m.sec}\t${m.ok}\t${m.cold}\t${m.contended}\t${m.ext}"

  private[graft] def parseQLine(line: String): Option[(String, QMeasure)] =
    line.split("\t") match {
      case Array("bench_q", n, sec, ok, cold, contended, ext) =>
        Some(n -> QMeasure(sec.toDouble, ok.toBoolean, cold.toDouble,
          contended.toBoolean, ext.toDouble))
      case _ => None
    }

  /** A chunk's measures and cold-phase wall from its child's exit code and
    * stdout. A non-zero exit, or result lines that do not name exactly
    * `names` in order, marks every query of the chunk failed. */
  private[graft] def chunkResult(names: Seq[String], rc: Int, out: Seq[String])
      : (Seq[(String, QMeasure)], Double) = {
    val qs = out.flatMap(parseQLine)
    val warmup = out.collectFirst { case l if l.startsWith("bench_warmup\t") =>
      l.split("\t")(1).toDouble
    }.getOrElse(0.0)
    if (rc == 0 && qs.map(_._1) == names) (qs, warmup)
    else {
      System.err.println(s"[bench] chunk ${names.head}.. failed: rc=$rc, " +
        s"${qs.size}/${names.size} results")
      (names.map(_ -> Failed), 0.0)
    }
  }

  /** Run `chunks` in order while the budget holds. Before each chunk the
    * mean wall per query measured so far (`elapsed()` over the queries
    * run) projects its cost; the first chunk whose projection overruns
    * `budgetSec`, and every chunk after it, is skipped. The first chunk
    * always runs. Returns each run chunk's result and the skipped names
    * in order. */
  private[graft] def withinBudget[A](chunks: Seq[Seq[String]], budgetSec: Double,
      elapsed: () => Double)(run: Seq[String] => A): (Seq[A], Seq[String]) = {
    val ran = Seq.newBuilder[A]
    var done = 0
    var rest = chunks
    // elapsed + (elapsed / done) × chunk size, the projected end
    while (rest.nonEmpty &&
        (done == 0 || elapsed() * (done + rest.head.size) / done <= budgetSec)) {
      ran += run(rest.head)
      done += rest.head.size
      rest = rest.tail
    }
    (ran.result(), rest.flatten)
  }

  /** Child mode: run one chunk, print machine-parsable lines, exit. */
  private def childMain(sfDir: String, names: Seq[String]): Unit = {
    val (results, warmup) = runChunk(sfDir, names)
    results.foreach { case (n, m) => println(qLine(n, m)) }
    println(s"bench_warmup\t$warmup")
  }

  /** Spawn a child JVM (same java, flags, classpath) for one chunk. */
  private def spawnChunk(sfDir: String, names: Seq[String])
      : (Seq[(String, QMeasure)], Double) =
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
      // Child stderr (Spark INFO startup logs, log4j banner) goes to a file,
      // NOT the parent's streams: the driver parses the tail of our combined
      // output, and a child's log flood must never push the final JSON line
      // out of that window.
      pb.redirectError(ProcessBuilder.Redirect.appendTo(
        new java.io.File(sys.props.getOrElse("java.io.tmpdir", "/tmp"), "graft_bench_children.log")))
      val proc = pb.start()
      val out = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toList
      chunkResult(names, proc.waitFor(), out)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] child spawn failed: ${e.getMessage}")
      (names.map(_ -> Failed), 0.0)
    }

  /** The one JSON line [[main]] prints for the driver (format in the file
    * scaladoc). `results` are the measured queries in sorted-name order,
    * `skipped` the budget-skipped suffix after them, `levels` the
    * methodology summary ("levelxqueries" pairs). Pure: same inputs, same
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

  private def loadAvg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ").head
    catch { case _: Throwable => "" }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sys.env.get("GRAFT_BENCH_CHILD") match {
      case Some(list) => childMain(sfDir, list.split(",").toSeq)
      case None =>
        val t0 = System.nanoTime()
        def elapsed(): Double = (System.nanoTime() - t0) / 1e9
        val loadBefore = loadAvg()
        val names = SparkEntry.queries.keys.toSeq.sorted
        val (runs, skipped) = withinBudget(names.grouped(ChunkSize).toSeq,
          BudgetSec, () => elapsed())(spawnChunk(sfDir, _))
        val rich = runs.flatMap(_._1)
        val warmup = runs.map(_._2).sum
        val results = rich.map { case (n, m) => n -> (m.sec, m.ok) }
        val contended = rich.count(_._2.contended)
        val load1 = s"$loadBefore;${loadAvg()}"
        def f2(d: Double) = "%.2f".format(d)
        def strs(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
        val detailPath = sys.env.getOrElse("GRAFT_BENCH_DETAIL", "bench_detail.json")
        if (detailPath.nonEmpty) try {
          // `key` = the query's base-36 ordinal on the stdout line, so a
          // reader resolves the line's keys by name without re-deriving
          // the sorted-list numbering
          val ordMap = ordinalAbbrev(names)
          val qjson = rich.map { case (n, m) =>
            s"""    "$n": {"key": "${ordMap(n)}", "sec": ${f2(m.sec)}, "ok": ${m.ok}, "cold": ${f2(m.cold)}, "cont": ${m.contended}, "ext": ${f2(m.ext)}}"""
          }.mkString("{\n", ",\n", "\n  }")
          val body =
            s"""{
               |  "metric": "total",
               |  "value": ${f2(results.map(_._2._1).sum)},
               |  "unit": "sec",
               |  "sf": "$sfDir",
               |  "cpus": "${GraftSession.cpus}",
               |  "budget_sec": ${"%.0f".format(BudgetSec)},
               |  "chunk": $ChunkSize,
               |  "cold_workers": $ColdWorkers,
               |  "contended_cores": $ContendedCores,
               |  "n_contended": $contended,
               |  "skipped": ${strs(skipped)},
               |  "warmup_sec": ${"%.0f".format(warmup)},
               |  "spent_sec": ${"%.0f".format(elapsed())},
               |  "load_1min": "$load1",
               |  "n_queries": ${results.size},
               |  "failed": ${strs(results.collect { case (n, (_, false)) => n })},
               |  "queries": $qjson
               |}
               |""".stripMargin
          java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
            body.getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
        } catch { case e: Throwable =>
          System.err.println(s"[bench] detail write failed: ${e.getMessage}")
        }
        val spent = elapsed()
        System.err.println(s"[bench] warmup=${"%.0f".format(warmup)} load=$load1 " +
          s"elapsed=${"%.0f".format(spent)}s/${"%.0f".format(BudgetSec)}s" +
          s" contended=$contended" +
          (if (skipped.nonEmpty) s" skipped=${skipped.size}" else ""))
        val line = stdoutLine(results, skipped, s"0x${results.size}",
          warmup, spent, contended, sfDir)
        if (line.length > 1800)
          System.err.println(s"[bench] WARNING: JSON line ${line.length} chars — may overflow the driver's tail window")
        println(line)
    }
  }
}
