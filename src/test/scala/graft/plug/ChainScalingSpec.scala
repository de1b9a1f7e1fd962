package graft.plug

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Regression bounds for long rule chains.
  *
  * Plan growth: each rule is one `withColumns` Project, so a 100-rule chain
  * must stay analyzable in seconds. A regression that nests projections per
  * action, or re-analyzes the full chain per rule, blows past the bound
  * superlinearly and fails here instead of landing silently.
  *
  * Generated code: HotSpot does not JIT-compile a method over 8000 bytes of
  * bytecode, so a whole-stage region that outgrows it runs interpreted. The
  * rule fold ends a region before that; these specs read every whole-stage
  * region's largest method after the plugged frame ran.
  */
class ChainScalingSpec extends AnyFlatSpec with Matchers {

  /** 4000 lineitem-shaped rows: the columns the rules below read. */
  private def lineitem = TestSpark.session.range(4000).selectExpr(
    "cast(id % 50 + 1 as double) as l_quantity",
    "cast(id % 11 as double) / 100 as l_discount",
    "cast(id % 9 as double) / 100 as l_tax",
    "substr('ANR', cast(id % 3 as int) + 1, 1) as l_returnflag",
    "if(id % 2 = 0, 'O', 'F') as l_linestatus",
    "date_add(date'1994-01-01', cast(id % 700 as int)) as l_shipdate",
    "cast(id % 7 + 1 as int) as l_linenumber")

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

  "a 500-rule plain chain" should "keep every whole-stage method under 8000 bytes" in {
    implicit val spark = TestSpark.session
    val rules = (0 until 500).toList.map(i =>
      PlugRule(s"r$i", "v1", s"l_quantity > ${i % 50}",
        Seq(PlugAction("l_returnflag", s"F$i"), PlugAction("l_linenumber", s"$i"))))
    val out = SparkPlug.builder.create().plug(lineitem, rules).toOption.get
    all(methodBytes(out)) should (be >= 0 and be < 8000)
  }
}
