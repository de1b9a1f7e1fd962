package graft

import graft.plug.TestSpark
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Guards on the driver contract itself — the harness the correctness gate
  * runs through, so a wiring mistake here silently weakens every check. */
class SparkEntrySpec extends AnyFlatSpec with Matchers {
  lazy val spark = TestSpark.session
  private val sf = "/root/testdata/sf0.001"

  behavior of "SparkEntry"

  it should "provide an oracle for every query (and no orphan oracles)" in {
    // The driver records a weaker rows-only check for queries without an
    // oracle; keeping the sets equal means every operator stays on the
    // strong hash-match gate. An oracle without a query is dead SQL.
    SparkEntry.queries.keySet shouldBe SparkEntry.oracleSql.keySet
  }

  it should "smoke the flagship entry on sf0.001" in {
    SparkEntry.entry(spark).count() should be > 0L
  }

  it should "keep the stage-9 bench line parseable for the full live set" in {
    // The committed bench of record, fed through Bench.stdoutLine with the
    // record run's ladder summary: the line is pinned byte for byte (it was
    // recorded from the full 10-stage chain, before stages 1-8 were cut).
    // It differs from BENCH_r15_c8.json's live line only because the record
    // rounds to 2 decimals: the total reads 255.28, not 255.23, and "w" and
    // "3w" (recorded at 0.50 s, under 0.5 s live) keep their entries.
    val src = scala.io.Source.fromFile("bench_detail.json")
    val detail = try src.mkString finally src.close()
    val entry = """"([a-z0-9_]+)": \{"key": "[0-9a-z]+", "sec": ([0-9.]+), "ok": (true|false)""".r
    val record = entry.findAllMatchIn(detail)
      .map(m => m.group(1) -> (m.group(2).toDouble, m.group(3).toBoolean)).toSeq.sortBy(_._1)
    record.size shouldBe 355
    val sf = """"sf": "([^"]+)"""".r.findFirstMatchIn(detail).get.group(1)
    Bench.stdoutLine(record, Nil, "3x32,2x64,1x192,0x67", 753, 2281, 0, sf) shouldBe (
      """{"metric":"total","value":255.28,"unit":"sec","queries":{"0":2,"1":1,"2":1,"6":1,""" +
      """"7":1,"8":1,"9":1,"e":1,"f":1,"i":1,"m":2,"s":1,"t":2,"w":1,"z":1,"10":1,"12":2,""" +
      """"15":1,"1l":1,"1n":1,"1t":2,"1x":1,"27":1,"2c":1,"2d":1,"2e":1,"2i":1,"2l":1,"2p":1,""" +
      """"2s":1,"2x":1,"2z":1,"30":1,"35":1,"3c":1,"3e":1,"3k":1,"3l":1,"3m":1,"3n":2,"3o":1,""" +
      """"3p":1,"3q":1,"3r":1,"3t":1,"3u":1,"3v":1,"3w":1,"3x":2,"3y":1,"3z":1,"40":2,"41":1,""" +
      """"42":1,"43":1,"44":1,"45":2,"46":1,"47":1,"49":1,"4a":1,"4b":2,"4c":2,"4d":1,"4e":1,""" +
      """"4f":1,"4g":1,"4h":2,"4o":1,"4p":1,"4q":1,"4v":1,"4w":1,"55":1,"5l":1,"5y":2,"61":1,""" +
      """"62":1,"66":1,"68":1,"6a":1,"6b":1,"6c":1,"6d":1,"6e":2,"6g":3,"6h":2,"6i":1,"6j":1,""" +
      """"6l":1,"6m":1,"6o":1,"6p":1,"6q":2,"6r":1,"6s":1,"6t":1,"6w":1,"6x":2,"6z":1,"71":1,""" +
      """"72":1,"74":1,"7d":2,"7e":1,"7f":1,"7g":1,"7h":1,"7i":1,"7k":2,"7l":1,"7n":1,"7o":1,""" +
      """"7q":1,"7r":1,"7t":1,"7u":2,"7v":1,"7w":1,"7x":1,"7y":2,"7z":1,"80":1,"81":1,"82":1,""" +
      """"83":5,"84":1,"85":2,"86":2,"87":2,"88":4,"89":2,"8a":1,"8b":1,"8c":4,"8d":2,"8e":1,""" +
      """"8f":1,"8g":2,"8h":1,"8i":1,"8j":1,"8k":1,"8l":1,"8o":1,"8p":1,"8r":1,"8s":1,"8t":2,""" +
      """"8u":1,"8v":1,"8w":1,"8x":1,"8y":1,"91":2,"92":1,"93":2,"94":1,"95":3,"96":2,"97":1,""" +
      """"98":1,"99":1,"9a":1,"9b":2,"9c":1,"9d":1,"9e":1,"9f":1,"9g":2,"9h":1,"9m":1,"9n":1,""" +
      """"9q":1,"9s":1},"failed":[],"levels":"3x32,2x64,1x192,0x67","warmup_sec":753,""" +
      """"spent_sec":2281,"contended":0,"sf":"/root/testdata/sf0.1"}""")

    // ordinal keys are injective and decode by re-sorting the query list
    val names = SparkEntry.queries.keys.toSeq.sorted
    val m = Bench.ordinalAbbrev(names)
    m.values.toSeq.distinct.size shouldBe names.size
    names.zipWithIndex.foreach { case (n, i) =>
      java.lang.Long.parseLong(m(n), 36) shouldBe i.toLong
    }

    // Pessimistic projection: 80 slow queries at 3-char times plus 10
    // failed ones must parse no matter how large the registered set grows
    // — the line's length tracks the slow-query count, not the set size.
    val slow = names.take(80).toSet
    val failed = names.takeRight(10).toSet
    val projected = Bench.stdoutLine(
      names.map(n => n -> ((if (slow(n)) 888.0 else 0.1), !failed(n))), Nil,
      "0x88,1x888,2x888,3x888,4x888,5x888", 8888, 8888, 888, "/root/testdata/sf0.1")
    withClue(s"stage-9 line length ${projected.length} with 80 slow of ${names.size} queries: ") {
      projected.length should be < 1800
    }
  }

  it should "plan the round-5 operators with their claimed shuffle shapes" in {
    // Each claim here is one the scaladocs make about 100 TB posture; a
    // regression that adds an exchange or a cartesian product should fail
    // a test, not a bench read.
    def plan(n: String) =
      SparkEntry.queries(n)(spark, sf).queryExecution.executedPlan.toString
    def exchanges(p: String) = "Exchange hashpartitioning".r.findAllIn(p).size
    // rollup: Expand feeding ONE hash-agg shuffle
    val rollup = plan("events_rollup")
    withClue(rollup) {
      rollup should include ("Expand")
      exchanges(rollup) shouldBe 1
    }
    // sliding rate: one user shuffle, no join
    val rate = plan("events_rate_window")
    withClue(rate) {
      exchanges(rate) shouldBe 1
      rate should not include "Join"
    }
    // merge upsert: single key shuffle with the map-side group limit
    val merge = plan("docs_merge_upsert")
    withClue(merge) {
      merge should include ("WindowGroupLimit")
      exchanges(merge) shouldBe 1
    }
    // kNN graph: LSH equi-join candidates — never a cartesian product —
    // with the bounded per-node top-k
    val knn = plan("sim_knn_graph")
    withClue(knn) {
      knn should include ("WindowGroupLimit")
      knn should not include "CartesianProduct"
    }
    // prefix screen: candidates join on the blocking key, no cartesian
    val prefix = plan("dedup_prefix")
    withClue(prefix) { prefix should not include "CartesianProduct" }
    // interpolated LM: the corpus-sized bigram table must never be the
    // build side of a broadcast join
    val lm = plan("text_interp_lm")
    withClue(lm) { lm should include ("ShuffledHashJoin [bg") }
    // pivot: ONE conditional-aggregation pass — a single day shuffle, no
    // Expand, no join (the .pivot two-stage shape would add an aggregate)
    val pivot = plan("events_pivot")
    withClue(pivot) {
      exchanges(pivot) shouldBe 1
      pivot should not include "Expand"
      pivot should not include "Join"
    }
    // attribution: one user shuffle + in-partition sort, no join
    val attr = plan("events_attribution")
    withClue(attr) {
      exchanges(attr) shouldBe 1
      attr should not include "Join"
    }
    // sequence mining: the global cut is TakeOrderedAndProject (per-
    // partition heads), never a full sort of the count table
    val seqs = plan("events_top_sequences")
    withClue(seqs) { seqs should include ("TakeOrderedAndProject") }
    // decontamination: the benchmark gram set is the BROADCAST side of the
    // semi-join; the training side never shuffles for the probe
    val decon = plan("text_contam_ngram")
    withClue(decon) { decon should include ("BroadcastHashJoin") }
    // star rollup: the fixed-size nation dim broadcasts, the shipdate
    // window reaches the lineitem scan as pushed filters, and no join
    // degenerates to a cartesian product
    val star = plan("star_revenue_by_nation")
    withClue(star) {
      star should include ("BroadcastHashJoin")
      star should not include "CartesianProduct"
      "PushedFilters: \\[[^\\]]*l_shipdate[^\\]]*\\]".r.findFirstIn(star)
        .getOrElse("") should include ("GreaterThanOrEqual")
    }
    // top-orders: the k-cut is TakeOrderedAndProject over the per-order
    // aggregate, never a global sort of the fact join
    val topo = plan("star_top_orders")
    withClue(topo) { topo should include ("TakeOrderedAndProject") }
  }

  it should "prune unused columns all the way into the parquet scan" in {
    // text_token_stats touches only (doc_id, text); documents also carries
    // lang/source/n_chars. If the projection doesn't reach the scan, every
    // query pays full-width reads at 100 TB.
    val plan = SparkEntry.queries("text_token_stats")(spark, sf)
      .queryExecution.executedPlan.toString
    val readSchema = "ReadSchema: [^\n]*".r.findFirstIn(plan).getOrElse("")
    withClue(readSchema) {
      readSchema should include ("doc_id")
      readSchema should include ("text")
      readSchema should not include "n_chars"
      readSchema should not include "source"
    }
  }

  it should "plan per-group top-k with a partial window group limit" in {
    // rank <= 5 must become a map-side WindowGroupLimit (partial top-k per
    // partition BEFORE the exchange) — at 100 TB the alternative is a full
    // sort of every group.
    val plan = SparkEntry.queries("docs_topk_by_lang")(spark, sf)
      .queryExecution.executedPlan.toString
    withClue(plan) { plan should include ("WindowGroupLimit") }
  }

  it should "push partition-key filters into the scan for plug queries" in {
    // The rule engine is a projection chain: a caller's filter below it
    // must still reach PushedFilters in the parquet scan.
    val df = SparkEntry.queries("plug_flat_override")(spark, sf)
      .filter(org.apache.spark.sql.functions.col("l_orderkey") === 42L)
    val plan = df.queryExecution.executedPlan.toString
    val pushed = "PushedFilters: \\[[^\\]]*\\]".r.findFirstIn(plan).getOrElse("")
    withClue(plan) { pushed should include ("l_orderkey") }
  }
}
