package graft

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

class GraftSessionSpec extends AnyFlatSpec with Matchers {

  behavior of "GraftSession"

  it should "hold exactly the settings perfbench's session copies" in {
    // perfbench builds its own session and promises "the settings of the
    // project's Verify session"; if the two drift apart the benchmark
    // silently measures a differently configured engine. Read its literal
    // .config pairs and compare them with the checksummed settings, apart
    // from the two keys that keep Spark's scratch space in the work dir.
    val src = scala.io.Source.fromFile("perfbench/scala/perfbench/PerfBench.scala")
    val text = try src.mkString finally src.close()
    val start = text.indexOf("def session(")
    start should be >= 0
    val body = text.substring(start, text.indexOf(".getOrCreate()", start))
    val pairs = """\.config\("([^"]+)",\s*s?"([^"]*)"\)""".r.findAllMatchIn(body)
      .map(m => m.group(1) -> m.group(2)).toSeq
    pairs.map(_._1).distinct.size shouldBe pairs.size
    val workDirs = Set("spark.local.dir", "spark.sql.warehouse.dir")
    pairs.map(_._1).toSet should contain allElementsOf workDirs
    pairs.toMap -- workDirs shouldBe GraftSession.settings(rawLocalFs = false).toMap
    // cores set master and shuffle partitions together, as GraftSession does
    body should include (".master(s\"local[$cores]\")")
    body should include (""".config("spark.sql.shuffle.partitions", cores.toString)""")
  }

  it should "differ between the timing and checksummed sessions only in the file system" in {
    GraftSession.settings(rawLocalFs = true).toMap - "spark.hadoop.fs.file.impl" shouldBe
      GraftSession.settings(rawLocalFs = false).toMap
  }
}
