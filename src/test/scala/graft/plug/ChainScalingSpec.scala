package graft.plug

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Regression bounds for long rule chains.
  *
  * Plan growth: each rule is at most one Project, so a 100-rule chain must
  * plan in seconds; the 15-second bound catches a blow-up, not a constant
  * factor. That the build stays linear is pinned by a count, not a clock:
  * the analyzer's rule runs per call, which do not depend on the host's
  * load. A fresh JVM must be able to query a long chain's result, which
  * bounds the depth of the plan the caller gets.
  *
  * Generated code: HotSpot does not JIT-compile a method over 8000 bytes of
  * bytecode, so a whole-stage region that outgrows it runs interpreted. The
  * rule fold ends a region before that; these specs read every whole-stage
  * region's largest method after the plugged frame ran.
  */
class ChainScalingSpec extends AnyFlatSpec with Matchers {
  import ChainScalingSpec.lineitem

  /** The largest generated method of each whole-stage region; -1 for a
    * region whose class does not compile (it outgrew the JVM's 64 KB). */
  private def methodBytes(df: DataFrame): Seq[Int] = {
    df.collect()
    codegenStringSeq(df.queryExecution.executedPlan).map(_._3.maxMethodCodeSize)
  }

  "a 100-rule chain" should "analyze and optimize within the regression bound" in {
    implicit val spark = TestSpark.session
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val rules = (0 until 100).toList.map(i =>
      PlugRule(s"r$i", "v1", s"l_quantity > ${i % 50}",
        Seq(PlugAction("l_returnflag", s"F$i"), PlugAction("l_linenumber", s"$i"))))
    val t0 = System.nanoTime()
    val out = SparkPlug.builder.create().plug(li, rules).toOption.get
    out.queryExecution.executedPlan // force analysis + optimization
    val sec = (System.nanoTime() - t0) / 1e9
    sec should be < 15.0
  }

  "a 200-rule chain with plug details" should "keep every whole-stage method under 8000 bytes" in {
    implicit val spark = TestSpark.session
    val rules = (0 until 200).toList.map { i =>
      val cond =
        if (i % 2 == 0) s"(l_quantity > ${i % 50} AND l_discount < 0.0${i % 9}) OR l_returnflag = 'F$i'"
        else s"l_tax > 0.0${i % 8} AND (l_linestatus = 'O' OR l_shipdate < '1995-0${1 + i % 9}-01')"
      PlugRule(s"r$i", "v1", cond, Seq(
        PlugAction("l_returnflag", s"F${i % 7}"),
        PlugAction("l_linenumber", s"${i % 7}"),
        PlugAction("l_tax", "`l_tax + 0.01`")))
    }
    val out = SparkPlug.builder.enablePlugDetails().create().plug(lineitem, rules).toOption.get
    all(methodBytes(out)) should (be >= 0 and be < 8000)
  }

  /** The 200-rule chain of the spec above. */
  private def detailsChain = (0 until 200).toList.map { i =>
    val cond =
      if (i % 2 == 0) s"(l_quantity > ${i % 50} AND l_discount < 0.0${i % 9}) OR l_returnflag = 'F$i'"
      else s"l_tax > 0.0${i % 8} AND (l_linestatus = 'O' OR l_shipdate < '1995-0${1 + i % 9}-01')"
    PlugRule(s"r$i", "v1", cond, Seq(
      PlugAction("l_returnflag", s"F${i % 7}"),
      PlugAction("l_linenumber", s"${i % 7}"),
      PlugAction("l_tax", "`l_tax + 0.01`")))
  }

  it should "cost at most twice the analyzer rule runs of its 20-rule prefix, to build and to validate" in {
    implicit val spark = TestSpark.session
    val plugger = SparkPlug.builder.enablePlugDetails().create()
    val in = lineitem
    def ruleRuns(call: => Any): Long = {
      val before = RuleExecutor.getCurrentMetrics().numRuns
      call
      RuleExecutor.getCurrentMetrics().numRuns - before
    }
    def runs(rules: List[PlugRule]) =
      (ruleRuns(plugger.plug(in, rules)), ruleRuns(plugger.validate(in.schema, rules)))
    runs(detailsChain.take(20)) // warm-up
    val (build20, validate20) = runs(detailsChain.take(20))
    val (build200, validate200) = runs(detailsChain)
    withClue(s"rule runs at 20 and 200 rules: plug $build20, $build200; validate $validate20, $validate200:") {
      build200 should be <= 2 * build20
      validate200 should be <= 2 * validate20
    }
  }

  "a 40-rule first-match chain that keeps old values" should
    "keep every whole-stage method under 8000 bytes, with and without details" in {
    implicit val spark = TestSpark.session
    // two actions a rule: each rule's two old-value copies widen every later region
    val rules = detailsChain.take(40).map(r => r.copy(actions = r.actions.filterNot(_.key == "l_linenumber")))
    for (builder <- Seq(SparkPlug.builder.keepOldField, SparkPlug.builder.enablePlugDetails().keepOldField)) {
      val out = builder.create().plugFirstMatch(lineitem, rules).toOption.get
      withClue(s"${out.columns.length} columns:") {
        all(methodBytes(out)) should (be >= 0 and be < 8000)
      }
    }
  }

  "a 130-rule first-match chain" should "stack at most one Project per rule, with and without details" in {
    implicit val spark = TestSpark.session
    for (builder <- Seq(SparkPlug.builder, SparkPlug.builder.enablePlugDetails())) {
      val out = builder.create().plugFirstMatch(lineitem, detailsChain.take(130)).toOption.get
      out.queryExecution.analyzed.collect { case p: Project => p }.size should be <= 130 + 10
    }
  }

  "a 500-rule plain chain" should "keep every whole-stage method under 8000 bytes" in {
    implicit val spark = TestSpark.session
    val rules = (0 until 500).toList.map(i =>
      PlugRule(s"r$i", "v1", s"l_quantity > ${i % 50}",
        Seq(PlugAction("l_returnflag", s"F$i"), PlugAction("l_linenumber", s"$i"))))
    val out = SparkPlug.builder.create().plug(lineitem, rules).toOption.get
    all(methodBytes(out)) should (be >= 0 and be < 8000)
  }

  it should "leave a result that a fresh JVM can query on its own default stack" in {
    // The caller's next query re-analyzes the whole result on its own
    // thread, before the JIT has compiled the analyzer: a result one
    // Project per rule deep overflows a 1 MB stack there.
    val log = java.io.File.createTempFile("fresh-chain", ".log")
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
    val command = new java.util.ArrayList[String]()
    command.add(s"${sys.props("java.home")}/bin/java")
    command.addAll(jvmArgs)
    Seq("-Xmx1g", "-Xss1m", "-cp", sys.props("java.class.path"), "graft.plug.ChainScalingSpec")
      .foreach(command.add)
    val child = new ProcessBuilder(command).redirectErrorStream(true).redirectOutput(log).start()
    val finished = child.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)
    if (!finished) child.destroyForcibly()
    val output = scala.io.Source.fromFile(log).getLines().toList
    log.delete()
    withClue(output.filterNot(_.trim.startsWith("at ")).takeRight(20).mkString("\n")) {
      finished shouldBe true
      child.exitValue() shouldBe 0
      output should contain("counted 4000")
    }
  }
}

/** Run by the spec above in a fresh JVM: plugs a 500-rule plain chain
  * without staging, then counts a projection of the result on the main
  * thread. */
object ChainScalingSpec {
  /** 4000 lineitem-shaped rows: the columns the rules read. */
  private def lineitem = TestSpark.session.range(4000).selectExpr(
    "cast(id % 50 + 1 as double) as l_quantity",
    "cast(id % 11 as double) / 100 as l_discount",
    "cast(id % 9 as double) / 100 as l_tax",
    "substr('ANR', cast(id % 3 as int) + 1, 1) as l_returnflag",
    "if(id % 2 = 0, 'O', 'F') as l_linestatus",
    "date_add(date'1994-01-01', cast(id % 700 as int)) as l_shipdate",
    "cast(id % 7 + 1 as int) as l_linenumber")

  def main(args: Array[String]): Unit = {
    implicit val spark: SparkSession = TestSpark.session
    val rules = (0 until 500).toList.map(i =>
      PlugRule(s"r$i", "v1", s"l_quantity > ${i % 50}",
        Seq(PlugAction("l_returnflag", s"F$i"), PlugAction("l_linenumber", s"$i"))))
    val out = SparkPlug.builder.create().plug(lineitem, rules).toOption.get
    println(s"counted ${out.select("l_returnflag", "l_linenumber").count()}")
    spark.stop()
  }
}
