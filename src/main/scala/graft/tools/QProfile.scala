package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Optimization-round measurement harness (guide §1: measure first).
  *
  * `QProfile <sfDir> <name> [name ...]` runs each named SparkEntry query
  * once cold and once steady (each a [[graft.Bench.pass]]: build, `toRdd`,
  * drain) on a Bench-identical session, with a
  * SparkListener recording every job of the steady pass: start time
  * relative to the pass, duration, and the job's callsite — the
  * breakdown that says WHICH phase of a multi-action lifecycle query
  * owns its seconds (the Spark UI is disabled under the bench; this is
  * the headless equivalent of its Jobs page). Gaps between jobs are
  * driver-side work (planning, manifest metadata I/O, FS ops).
  */
object QProfile {
  private final case class Job(id: Int, t0: Long, var t1: Long, site: String)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val spark = graft.GraftSession(rawLocalFs = true)

    names.foreach { name =>
      val (cold, _) = graft.Bench.pass(spark, sfDir, name)
      val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
      val order = new java.util.concurrent.CopyOnWriteArrayList[Job]()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = {
          val site = Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
          val j = Job(e.jobId, e.time, -1L, site)
          jobs.put(e.jobId, j); order.add(j): Unit
        }
        override def onJobEnd(e: SparkListenerJobEnd): Unit = {
          Option(jobs.get(e.jobId)).foreach(_.t1 = e.time)
        }
      }
      spark.sparkContext.addSparkListener(listener)
      // match the bench: every timed pass starts with an empty Spark
      // cache (the r14 cross-pass CacheScope leak made steady profiles
      // of caching queries read the cold pass's materialized blocks)
      spark.catalog.clearCache()
      val w0 = System.currentTimeMillis()
      val (steady, ok) = graft.Bench.pass(spark, sfDir, name)
      Thread.sleep(300) // let the listener bus drain
      spark.sparkContext.removeSparkListener(listener)
      println(f"QPROF $name cold=$cold%.2f steady=$steady%.2f ok=$ok jobs=${order.size()}")
      import scala.jdk.CollectionConverters._
      var prevEnd = w0
      order.asScala.toSeq.sortBy(_.t0).foreach { j =>
        val gap = (j.t0 - prevEnd) / 1e3
        val dur = if (j.t1 < 0) -1.0 else (j.t1 - j.t0) / 1e3
        println(f"QPROF   +${(j.t0 - w0) / 1e3}%7.2f gap=$gap%6.2f dur=$dur%6.2f  ${j.site}")
        prevEnd = math.max(prevEnd, if (j.t1 < 0) j.t0 else j.t1)
      }
    }
    spark.stop()
  }
}
