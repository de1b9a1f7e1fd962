package graft

import graft.entry._
import graft.entry.Fixtures.{plugged, table}
import graft.plug._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bounded deterministic event feed for the streaming oracle queries. */
case class StreamEv(event_id: Long, user_id: Long, ts: java.sql.Timestamp,
    event_type: String, value: Double, props: String)

/** Bounded deterministic document feed for the streaming oracle queries. */
case class StreamDoc(doc_id: Long, text: String)

/** The query contract (SURVEY.md §7): the flagship `entry` plus every
  * implemented operator from SURVEY.md §2 as a Spark `queries` entry and a
  * DuckDB `oracleSql` entry over the same parquet tables. Each query is
  * declared once, with its oracle, in its family's file under
  * `graft.entry`. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's core operation: conditional columnar override (O4). */
  def entry(spark: SparkSession): DataFrame = {
    implicit val s: SparkSession = spark
    val rule = PlugRule("flagship", "v1", "l_discount > 0.05",
      Seq(PlugAction("l_returnflag", "D")))
    plugged(table(spark, "/root/testdata/sf0.001", "lineitem"), List(rule))
  }

  /** `qs`, failing loudly on a name declared twice: a map built from them
    * would silently keep only the last. */
  private[graft] def distinctNames(qs: Seq[Query]): Seq[Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"query names declared twice: ${dups.toSeq.sorted.mkString(", ")}")
    qs
  }

  private val declared: Seq[Query] = distinctNames(Seq(
    PlugQueries.all, DedupQueries.all, SimQueries.all, TextQueries.all,
    DocsQueries.all, EventsQueries.all, IngestQueries.all, StreamQueries.all,
    MultimodalQueries.all, StarQueries.all).flatten)

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    declared.map(q => q.name -> q.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  val oracleSql: Map[String, String] = declared.map(q => q.name -> q.oracleSql).toMap
}
