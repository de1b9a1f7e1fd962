package perfbench

import graft.SparkEntry
import graft.plug.RuleReader._
import graft.plug.{PlugRule, SparkPlug}
import org.apache.spark.{PerfBenchAccess, SparkContext}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, XxHash64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{SQLExecution, SparkPlanInfo, WholeStageCodegenExec}
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** One benchmark run in one JVM: set up, a first pass, then steady passes
  * until the time is up, then an untimed check pass whose result is written
  * for the independent reference. Called by `perfbench/run.py` with
  * `key=value` arguments; writes everything it measured as one JSON file.
  *
  * Layers are timed from outside: spans around the calls into `graft.plug`
  * and `SparkEntry.queries`, a `SparkListener` for jobs, stages and tasks,
  * `queryExecution.tracker` for Catalyst phases and `CodegenMetrics` for
  * whole-stage code generation. Nothing in the engine is changed. */
object PerfBench {

  // ---------------------------------------------------------------- spans

  final case class Span(id: Long, name: String, parent: Long, start: Long, var end: Long)

  /** Nested spans on the driver thread. Each open span's id is set as a
    * local property, so the jobs it submits carry it to the listener. */
  final class Tracer(sc: SparkContext) {
    val spans = mutable.ArrayBuffer[Span]()
    var enabled = false
    private var stack: List[Long] = Nil
    private var nextId = 1L

    def apply[T](name: String)(body: => T): T =
      if (!enabled) body
      else {
        val s = Span(nextId, name, stack.headOption.getOrElse(0L), System.nanoTime(), 0L)
        nextId += 1
        spans += s
        stack = s.id :: stack
        sc.setLocalProperty(Tracer.Property, s.id.toString)
        try body
        finally {
          s.end = System.nanoTime()
          stack = stack.tail
          sc.setLocalProperty(Tracer.Property, stack.headOption.map(_.toString).orNull)
        }
      }
  }
  object Tracer { val Property = "perfbench.span" }

  // ------------------------------------------------------------- listener

  final class SpanStats {
    var jobs, stages, tasks, filesWritten = 0L
    var taskMs, cpuNs, gcMs, maxTaskMs, shuffleBytes, spillBytes = 0L
  }
  final case class Job(id: Int, span: Long, startMs: Long, var endMs: Long)

  /** Jobs, stages and tasks, each charged to the span that submitted it. */
  final class ExecListener extends SparkListener {
    val jobs = mutable.ArrayBuffer[Job]()
    val stats = mutable.Map[Long, SpanStats]()
    private val stageSpan = mutable.Map[Int, Long]()
    private val execSpan = mutable.Map[Long, Long]()
    private val fileMetricIds = mutable.Map[Long, Long]() // accumulator id -> execution id

    private def at(span: Long) = stats.getOrElseUpdate(span, new SpanStats)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(Tracer.Property))).map(_.toLong).getOrElse(0L)
      jobs += Job(e.jobId, span, e.time, -1L)
      e.stageIds.foreach(stageSpan(_) = span)
      at(span).jobs += 1
      props.flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
        .foreach(id => execSpan.getOrElseUpdate(id.toLong, span))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      at(stageSpan.getOrElse(e.stageInfo.stageId, 0L)).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val s = at(stageSpan.getOrElse(e.stageId, 0L))
      s.tasks += 1
      s.maxTaskMs = math.max(s.maxTaskMs, e.taskInfo.duration)
      Option(e.taskMetrics).foreach { m =>
        s.taskMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
      }
    }
    private def noteFileMetrics(exec: Long, info: SparkPlanInfo): Unit = {
      info.metrics.filter(_.name == "number of written files")
        .foreach(m => fileMetricIds(m.accumulatorId) = exec)
      info.children.foreach(noteFileMetrics(exec, _))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart => noteFileMetrics(s.executionId, s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate => noteFileMetrics(u.executionId, u.sparkPlanInfo)
        case d: SparkListenerDriverAccumUpdates =>
          d.accumUpdates.foreach { case (id, v) =>
            fileMetricIds.get(id).foreach { exec =>
              at(execSpan.getOrElse(exec, 0L)).filesWritten += v
            }
          }
        case _ =>
      }
    }
  }

  // -------------------------------------------------------------- codegen

  /** Samples of the codegen histograms. The default reservoir keeps every
    * sample up to 1028, so the multiset difference of two snapshots is the
    * exact set of new samples while a run stays below that. */
  object Codegen {
    private def hists = Seq(
      "compile_ms" -> CodegenMetrics.METRIC_COMPILATION_TIME,
      "method_bytes" -> CodegenMetrics.METRIC_GENERATED_METHOD_BYTECODE_SIZE)
    def snapshot(): Map[String, (Long, Seq[Long])] =
      hists.map { case (k, h) => k -> (h.getCount -> h.getSnapshot.getValues.toSeq) }.toMap
    def delta(a: Map[String, (Long, Seq[Long])], b: Map[String, (Long, Seq[Long])]): Map[String, Seq[Long]] =
      b.map { case (k, (_, vb)) => k -> vb.diff(a(k)._2) }
    def counts(a: Map[String, (Long, Seq[Long])], b: Map[String, (Long, Seq[Long])]): Map[String, Long] =
      b.map { case (k, (nb, _)) => k -> (nb - a(k)._1) }
  }

  // --------------------------------------------------------------- passes

  /** A pass's result digest is computed after its timed interval ends. */
  final case class PassOut(digest: () => String, info: Map[String, Double])

  trait Workload {
    def prepare(): Unit
    def pass(t: Tracer): PassOut
    /** Untimed: write the result for the reference and return its digest. */
    def check(resultDir: String): String
  }

  /** Order-independent digest of every column of every row of a plan: two
    * 32-bit halves of each row's xxhash64, summed. Runs the plan as one SQL
    * execution, the way an action does, so observations complete. */
  def digestRows(df: DataFrame, auditCol: Option[String]): (String, Long, Long) = {
    val qe = df.queryExecution
    val out = qe.executedPlan.output
    val hash = new XxHash64(out.zipWithIndex.map { case (a, i) => BoundReference(i, a.dataType, a.nullable) })
    val auditIdx = auditCol.map(c => out.indexWhere(_.name == c)).getOrElse(-1)
    val parts = SQLExecution.withNewExecutionId(qe, Some("perfbench digest")) {
      qe.toRdd.mapPartitions { rows =>
        val p = UnsafeProjection.create(Seq(hash))
        var n, lo, hi, audit = 0L
        rows.foreach { r =>
          val h = p(r).getLong(0)
          n += 1; lo += h & 0xFFFFFFFFL; hi += h >>> 32
          if (auditIdx >= 0 && !r.isNullAt(auditIdx)) audit += r.getArray(auditIdx).numElements()
        }
        Iterator((n, lo, hi, audit))
      }.collect()
    }
    val (n, lo, hi, audit) = parts.foldLeft((0L, 0L, 0L, 0L)) {
      case ((a, b, c, d), (w, x, y, z)) => (a + w, b + x, c + y, d + z)
    }
    (s"$n:$lo:$hi", n, audit)
  }

  final class PlugWorkload(spark: SparkSession, dataDir: String, rulesPath: String,
      cores: Int, audit: Boolean) extends Workload {
    private var input: DataFrame = _
    private var rules: List[PlugRule] = Nil
    private var last: DataFrame = _
    private val auditCol = if (audit) Some(SparkPlug.defaultPlugDetailsColumn) else None
    private def plugger =
      if (audit) SparkPlug.builder(spark).enablePlugDetails().enableAccumulators.create()
      else SparkPlug.builder(spark).enableLocalCheckpointing(50, cores).create()

    def prepare(): Unit = {
      if (input != null) input.unpersist(blocking = true)
      // one partition per core, as a large input's splits would give
      input = spark.read.parquet(s"$dataDir/lineitem_plug.parquet").repartition(cores).cache()
      input.count()
      rules = spark.readPlugRulesFrom(rulesPath).toList
    }

    private def build(t: Tracer, p: SparkPlug): DataFrame = {
      if (!audit) {
        val errs = t("plug.validate")(p.validate(input.schema, rules))
        require(errs.isEmpty, s"rule validation failed: ${errs.take(3).mkString("; ")}")
      }
      t("plug.build")(p.plug(input, rules)).fold(
        errs => throw new IllegalStateException(s"plug refused the rules: ${errs.take(3)}"), identity)
    }

    def pass(t: Tracer): PassOut = {
      val p = plugger
      val df = build(t, p)
      val plan = t("catalyst.plan")(df.queryExecution.executedPlan)
      val maxMethod = t("codegen.compile") {
        plan.collect { case w: WholeStageCodegenExec =>
          CodeGenerator.compile(w.doCodeGen()._2)._2.maxMethodCodeSize.toDouble
        }.foldLeft(0.0)(math.max)
      }
      val (digest, rows, auditLen) = t("exec.action")(digestRows(df, auditCol))
      last = df
      val changed = if (audit) p.changedRowCount.map(_.toDouble).getOrElse(-1.0) else -1.0
      val phases = df.queryExecution.tracker.phases
      def phase(k: String) = phases.get(k).map(_.durationMs / 1000.0).getOrElse(0.0)
      PassOut(() => digest, Map(
        "rows" -> rows.toDouble, "changed_rows" -> changed, "audit_len_sum" -> auditLen.toDouble,
        "max_method_bytes" -> maxMethod,
        "analysis_s" -> phase("analysis"), "optimization_s" -> phase("optimization"),
        "planning_s" -> phase("planning")))
    }

    def check(resultDir: String): String = {
      // the last pass's frame; a long chain's staged prefix is still checkpointed
      Option(last).getOrElse(build(new Tracer(spark.sparkContext), plugger))
        .write.mode("overwrite").parquet(resultDir)
      digestRows(spark.read.parquet(resultDir), None)._1
    }
  }

  final class MixWorkload(spark: SparkSession, dataDir: String, order: Seq[String]) extends Workload {
    private var lastRows: Map[String, (Array[Row], org.apache.spark.sql.types.StructType)] = Map.empty
    private val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")

    def prepare(): Unit =
      tables.foreach(t => spark.read.parquet(s"$dataDir/$t.parquet").schema)

    def pass(t: Tracer): PassOut = {
      val phases = mutable.Map[String, Double]().withDefaultValue(0.0)
      val got = order.map { q =>
        spark.catalog.clearCache()
        t(s"mix.$q") {
          val df = t(s"mix.$q.build")(SparkEntry.queries(q)(spark, dataDir))
          t(s"mix.$q.plan")(df.queryExecution.executedPlan)
          val rows = t(s"mix.$q.exec")(df.collect())
          df.queryExecution.tracker.phases.foreach { case (k, v) => phases(s"${k}_s") += v.durationMs / 1000.0 }
          q -> (rows -> df.schema)
        }
      }
      lastRows = got.toMap
      PassOut(() => got.map { case (q, (rows, _)) => s"$q=${canonicalDigest(rows)}" }.sorted.mkString(","),
        phases.toMap)
    }

    def check(resultDir: String): String = {
      order.foreach { q =>
        val (rows, schema) = lastRows(q)
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$resultDir/$q")
      }
      Files.writeString(Paths.get(s"$resultDir/oracle_sql.json"),
        order.map(q => s"${Json.str(q)}: ${Json.str(SparkEntry.oracleSql(q))}").mkString("{", ",", "}"))
      order.map(q => s"$q=${canonicalDigest(lastRows(q)._1)}").sorted.mkString(",")
    }
  }

  /** Order-independent digest of collected rows; doubles are rounded to 9
    * significant digits so that summation order inside Spark cannot flip it. */
  def canonicalDigest(rows: Array[Row]): String = {
    def canon(v: Any): String = v match {
      case null => "null"
      case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.9g"
      case f: Float => canon(f.toDouble)
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] => m.map { case (k, x) => canon(k) + ":" + canon(x) }.toSeq.sorted.mkString("{", ",", "}")
      case a: Array[_] => a.map(canon).mkString("[", ",", "]")
      case x => x.toString
    }
    val sum = rows.foldLeft(0L)((acc, r) => acc + scala.util.hashing.MurmurHash3.stringHash(canon(r)).toLong)
    s"${rows.length}:$sum"
  }

  // ----------------------------------------------------------------- main

  object Json {
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
    def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
    def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
  }

  /** The settings of the project's `Verify` session, with Spark's scratch
    * and warehouse directories kept inside the run's work directory. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.extensions", "graft.ext.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val cores = a("cores").toInt
    val traced = a("trace") == "1"
    val seconds = a("seconds").toDouble
    val t0Ms = a("t0_ms").toLong
    val spark = session(cores, a("work"))
    val sessionS = (System.currentTimeMillis() - t0Ms) / 1000.0
    val sc = spark.sparkContext
    val tracer = new Tracer(sc)
    val listener = new ExecListener
    if (traced) sc.addSparkListener(listener)
    val workload: Workload = a("workload") match {
      case "plug_audit" => new PlugWorkload(spark, a("data"), a("rules"), cores, audit = true)
      case "plug_long_chain" => new PlugWorkload(spark, a("data"), a("rules"), cores, audit = false)
      case "pipeline_mix" => new MixWorkload(spark, a("data"), a("order").split(",").toSeq)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    def timed[T](body: => T): (T, Double) = {
      val s = System.nanoTime(); val r = body; (r, (System.nanoTime() - s) / 1e9)
    }
    val prepS = (1 to a("prep_reps").toInt).map(_ => timed(workload.prepare())._2)
    val originNs = System.nanoTime()

    val cg0 = Codegen.snapshot()
    val passes = mutable.ArrayBuffer[String]()
    def runPass(kind: String, withSpans: Boolean): Unit = {
      if (traced) PerfBenchAccess.drainListenerBus(sc)
      tracer.enabled = withSpans
      val firstSpan = tracer.spans.size
      val (res, wall) = timed(scala.util.Try(tracer("pass")(workload.pass(tracer))))
      tracer.enabled = false
      val root = if (withSpans) tracer.spans(firstSpan).id else 0L
      val fields = Seq("kind" -> Json.str(kind), "traced" -> withSpans.toString,
        "wall_s" -> Json.num(wall), "span" -> root.toString) ++ (res match {
        case scala.util.Success(p) => Seq("ok" -> "true", "digest" -> Json.str(p.digest()),
          "info" -> Json.obj(p.info.toSeq.map { case (k, v) => k -> Json.num(v) }))
        case scala.util.Failure(e) => Seq("ok" -> "false",
          "error" -> Json.str(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(400)}"))
      })
      passes += Json.obj(fields)
    }
    runPass("first", traced)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val minSteady = a("min_steady").toInt
    var n = 0
    while (n < minSteady || System.nanoTime() < deadline) {
      // a traced run interleaves untraced and traced steady passes as
      // U T T U U T T U ..., so the tracing overhead is measured inside one
      // JVM without favouring either side with later, warmer passes
      runPass("steady", traced && (n % 4 == 1 || n % 4 == 2))
      n += 1
    }
    val cg1 = Codegen.snapshot()
    if (traced) PerfBenchAccess.drainListenerBus(sc)

    val check = scala.util.Try(workload.check(a("result")))
    val rss = peakRssMb()

    def rel(ns: Long) = Json.num((ns - originNs) / 1e9)
    val spans = tracer.spans.map(s => Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name),
      "parent" -> s.parent.toString, "start" -> rel(s.start), "end" -> rel(s.end))))
    // listener times are epoch milliseconds; map them onto the span clock
    val epochAtOrigin = System.currentTimeMillis() - (System.nanoTime() - originNs) / 1000000L
    def relMs(ms: Long) = Json.num((ms - epochAtOrigin) / 1000.0)
    val (jobs, stats) = listener.synchronized {
      (listener.jobs.filter(_.endMs >= 0).map(j => Json.obj(Seq("id" -> j.id.toString,
        "span" -> j.span.toString, "start" -> relMs(j.startMs), "end" -> relMs(j.endMs)))),
        listener.stats.toSeq.map { case (span, s) => span.toString -> Json.obj(Seq(
          "jobs" -> s.jobs.toString, "stages" -> s.stages.toString, "tasks" -> s.tasks.toString,
          "task_s" -> Json.num(s.taskMs / 1000.0), "cpu_s" -> Json.num(s.cpuNs / 1e9),
          "gc_s" -> Json.num(s.gcMs / 1000.0), "max_task_s" -> Json.num(s.maxTaskMs / 1000.0),
          "shuffle_bytes" -> s.shuffleBytes.toString, "spill_bytes" -> s.spillBytes.toString,
          "files_written" -> s.filesWritten.toString)) })
    }
    val cgDelta = Codegen.delta(cg0, cg1)
    val cgCount = Codegen.counts(cg0, cg1)
    val methodBytes = cgDelta("method_bytes")
    val codegen = Json.obj(Seq(
      "compile_s" -> Json.num(cgDelta("compile_ms").sum / 1000.0),
      "compiles" -> cgCount("compile_ms").toString,
      "methods" -> cgCount("method_bytes").toString,
      "sampled_methods" -> methodBytes.size.toString,
      "max_method_bytes" -> methodBytes.foldLeft(0L)(math.max).toString,
      "huge_methods" -> methodBytes.count(_ > 8000).toString))
    val out = Json.obj(Seq(
      "workload" -> Json.str(a("workload")), "cores" -> cores.toString,
      "session_s" -> Json.num(sessionS), "prep_s" -> Json.arr(prepS.map(Json.num)),
      "passes" -> Json.arr(passes.toSeq), "check_ok" -> check.isSuccess.toString,
      "check_digest" -> Json.str(check.getOrElse("")),
      "check_error" -> Json.str(check.failed.map(e => String.valueOf(e.getMessage).take(400)).getOrElse("")),
      "peak_rss_mb" -> Json.num(rss), "codegen" -> codegen,
      "spans" -> Json.arr(spans.toSeq), "jobs" -> Json.arr(jobs.toSeq),
      "span_stats" -> Json.obj(stats.toSeq)))
    Files.writeString(Paths.get(a("out")), out)
    spark.stop()
  }
}
