package graft

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** The bench harness's pure pieces: the budget guard, the child's result
  * lines and how a failed child reports its chunk. No Spark. */
class BenchSpec extends AnyFlatSpec with Matchers {
  import Bench.{QMeasure, chunkResult, parseQLine, qLine, withinBudget}

  behavior of "Bench"

  it should "skip exactly the chunks whose projection overruns, in order" in {
    val chunks = Seq(Seq("a", "b"), Seq("c", "d"), Seq("e"), Seq("f", "g"), Seq("h"))
    // every query costs 10 s of wall: the mean is exact, so a chunk runs
    // exactly when its queries still fit under the budget
    def runAt(budget: Double): (Seq[Seq[String]], Seq[String]) = {
      var clock = 0.0
      withinBudget(chunks, budget, () => clock) { c => clock += 10.0 * c.size; c }
    }
    runAt(80.0) shouldBe ((chunks, Nil))
    runAt(70.0) shouldBe ((chunks.take(4), Seq("h")))
    runAt(50.0) shouldBe ((chunks.take(3), Seq("f", "g", "h")))
    runAt(49.0) shouldBe ((chunks.take(2), Seq("e", "f", "g", "h")))
    // once a chunk is skipped so is every later one: "h" alone would end
    // at 60 s, but the skipped list stays a suffix of the query list
    runAt(65.0) shouldBe ((chunks.take(3), Seq("f", "g", "h")))
    // the first chunk always runs: nothing is measured to project from
    runAt(1.0) shouldBe ((chunks.take(1), Seq("c", "d", "e", "f", "g", "h")))
  }

  it should "round-trip a child's result line" in {
    val m = QMeasure(1.234567, ok = true, cold = 9.87, contended = false, ext = 0.031)
    parseQLine(qLine("dedup_exact", m)) shouldBe Some("dedup_exact" -> m)
    val bad = QMeasure(0.0, ok = false, cold = 12.5, contended = true, ext = -1.0)
    parseQLine(qLine("text_bm25", bad)) shouldBe Some("text_bm25" -> bad)
    parseQLine("bench_warmup\t12.0") shouldBe None
    parseQLine("[bench] dedup_exact failed: boom") shouldBe None
  }

  it should "mark every query of a failed or short child's chunk failed" in {
    val names = Seq("a", "b", "c")
    val ms = names.zipWithIndex.map { case (n, i) =>
      n -> QMeasure(i + 0.5, ok = true, cold = 3.0, contended = false, ext = 0.0)
    }
    val out = ms.map { case (n, m) => qLine(n, m) } :+ "bench_warmup\t7.5"
    chunkResult(names, 0, "noise" +: out) shouldBe ((ms, 7.5))
    val allFailed = (names.map(_ -> Bench.Failed), 0.0)
    chunkResult(names, 1, out) shouldBe allFailed
    chunkResult(names, 0, out.tail) shouldBe allFailed
    chunkResult(names, 0, Nil) shouldBe allFailed
    chunkResult(names, 0, out.reverse) shouldBe allFailed
    allFailed._1.map(_._2.ok).distinct shouldBe Seq(false)
  }
}
