package graft.tools

/** Dump `.explain("formatted")` of named SparkEntry queries to files —
  * the optimization round's plan evidence (plans/r14/<query>_{before,
  * after}.txt). Building a lifecycle query's DataFrame executes its
  * staging phases; the dumped plan is the FINAL returned frame's, which
  * is where the join-strategy / exchange-count / pushed-filter claims
  * live.
  *
  * `QPlans <sfDir> <outDir> <suffix> <name> [name ...]`
  */
object QPlans {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args.drop(3).toSeq
    val spark = graft.GraftSession(rawLocalFs = true)
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
          plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"QPLAN $name ok")
      } catch { case e: Throwable =>
        println(s"QPLAN $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
