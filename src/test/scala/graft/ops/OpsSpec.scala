package graft.ops

import graft.plug.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

case class Doc(doc_id: Long, text: String, source: String)
case class Vec(vec_id: Long, embedding: Seq[Float])

class OpsSpec extends AnyFlatSpec with Matchers {
  lazy val spark = TestSpark.session
  import spark.implicits._

  behavior of "TextFunctions"

  it should "tokenize on whitespace and count tokens" in {
    val out = Seq(("  a  b\tc ", 3), ("x", 1)).toDF("text", "expected")
      .select(TextFunctions.tokenCount(col("text")).as("n"), col("expected"))
      .collect()
    out.foreach(r => r.getInt(0) shouldBe r.getInt(1))
  }

  it should "fingerprint ignoring case and whitespace runs" in {
    val fps = Seq("Hello  World", "hello world", "HELLO\tWORLD", "helloworld")
      .toDF("text").select(TextFunctions.fingerprint(col("text"))).collect().map(_.getString(0))
    fps(0) shouldBe fps(1)
    fps(1) shouldBe fps(2)
    fps(3) should not be fps(0)
  }

  it should "build sliding word shingles with distinct + short-text collapse" in {
    val sh = Seq("a b c d", "a b c a b c", "a b").toDF("text")
      .select(TextFunctions.shingles(TextFunctions.tokens(col("text")), 3).as("sh"))
      .collect().map(_.getSeq[String](0))
    sh(0) shouldBe Seq("a b c", "b c d")
    sh(1) shouldBe Seq("a b c", "b c a", "c a b")  // distinct keeps first occurrences
    sh(2) shouldBe Seq("a b")                      // shorter than n -> whole text
  }

  it should "identify languages from marker words with priority tie-break" in {
    val preds = Seq("der hund und die katze ist", "le chat est pas la",
        "no es el problema y", "just words without markers", "the a of")
      .toDF("text")
      .select(TextFunctions.langId(TextFunctions.tokens(col("text"))).as("lang"))
      .collect().map(_.getString(0))
    preds shouldBe Array("de", "fr", "es", "und", "en")
  }

  behavior of "Dedup"

  it should "exact-dedup whitespace/case variants to one fingerprint group" in {
    val df = Seq(
      Doc(1, "Hello  World", "s1"), Doc(2, "hello world", "s1"), Doc(3, "other", "s2")
    ).toDS.toDF()
    val out = Dedup.exactDedup(df, "doc_id", "text")
      .orderBy("keep_id").collect()
    out.length shouldBe 2
    out.map(r => (r.getLong(1), r.getLong(2))) shouldBe Array((1L, 2L), (3L, 1L))
  }

  it should "plan PII scrubbing scan-side with no shuffle" in {
    // the docstring's claim, plan-proven: three regexp projections ride
    // the scan — no Exchange anywhere, and only (doc_id, text) are read
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val scrub = Corpus.piiScrub(docs, "doc_id", "text")
    Bucketing.hasNoShuffle(scrub) shouldBe true
    val scan = scrub.queryExecution.executedPlan.collectLeaves().head.toString
    val readSchema = "ReadSchema: [^\n]*".r.findFirstIn(scan).getOrElse("")
    withClue(readSchema) {
      readSchema should include ("text")
      readSchema should not include "n_chars"
    }
  }

  it should "plan radius search with zero shuffles and correct neighbor sets" in {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = Similarity.rangeSearch(
      emb, emb.filter(col("vec_id") < 3), "vec_id", "embedding", minSim = 0.2)
    // the scale claim, plan-proven: broadcast probes + map-side
    // threshold — no hashpartitioning exchange anywhere (no window, no
    // per-query rank)
    "Exchange hashpartitioning".r
      .findAllIn(out.queryExecution.executedPlan.toString).length shouldBe 0
    // correctness vs a local reference over the same vectors
    val vecs = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val expected = (for {
      q <- vecs.keys.filter(_ < 3)
      c <- vecs.keys if c != q
      s = cos(vecs(q), vecs(c)) if s >= 0.2
    } yield (q, c)).toSet
    out.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe expected
  }

  it should "run the boilerplate fraction on at most three exchanges" in {
    // shingle df count + join back + per-doc rollup — the TF-IDF posture;
    // more exchanges would mean the shingle frame shuffles redundantly
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = Corpus.boilerplateFraction(docs, "doc_id", "text")
    val n = "Exchange hashpartitioning".r
      .findAllIn(out.queryExecution.executedPlan.toString).length
    withClue(out.queryExecution.executedPlan.toString) { n should be <= 3 }
  }

  it should "bin by exact quartile boundaries without a global sort" in {
    val df = (1L to 8L).map(i => (i, i)).toDF("doc_id", "n_chars")
    val out = Corpus.lengthBins(df, "doc_id", "n_chars")
      .orderBy("doc_id").collect().map(_.getInt(2))
    // 1..8: p25=2.75, p50=4.5, p75=6.25 -> two docs per bin
    out shouldBe Array(0, 0, 1, 1, 2, 2, 3, 3)
    // scale posture: the per-row side never shuffles — the only exchange
    // feeds the 1-row boundary aggregate
    val plan = Corpus.lengthBins(df, "doc_id", "n_chars")
      .queryExecution.executedPlan.toString
    "Exchange hashpartitioning".r.findAllIn(plan).length shouldBe 0
  }

  it should "plan source mixing with capped keep probabilities" in {
    val df = Seq(
      (1L, "a", 100L), (2L, "a", 100L),  // source a: 200 units, over budget share
      (3L, "b", 30L)                      // source b: 30 units, under its 50 share
    ).toDF("doc_id", "source", "n_chars")
    val out = Corpus.mixPlan(df, "source", "n_chars", budget = 100L)
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
    // 2 sources -> 50 units each: a keeps 50/200=0.25, b keeps everything
    out shouldBe Array(("a", 2L, 200L, 0.25, 50L), ("b", 1L, 30L, 1.0, 30L))
  }

  it should "flag cross-document boilerplate shingles by document frequency" in {
    val df = Seq(
      (1L, "the quick brown fox runs"),   // shares "the quick brown"+tail with 2
      (2L, "the quick brown fox sleeps"),
      (3L, "completely different words here")
    ).toDF("doc_id", "text")
    val out = Corpus.boilerplateFraction(df, "doc_id", "text", shingleN = 3, dfThreshold = 1)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // docs 1/2: 3 trigrams each, the first two shared (df=2 > 1);
    // doc 3: 4 tokens -> 2 trigrams, none common
    out shouldBe Array((1L, 3L, 2L), (2L, 3L, 2L), (3L, 2L, 0L))
  }

  it should "keep the best-scoring duplicate in quality-survivor dedup" in {
    val df = Seq(
      (1L, "Hello  World", 5L), (2L, "hello world", 11L),  // dup pair: 2 wins on score
      (3L, "other", 7L), (4L, "OTHER", 7L),                // tie: smaller id wins
      (5L, "unique", 1L)
    ).toDF("doc_id", "text", "n_chars")
    val out = Dedup.exactDedupBest(df, "doc_id", "text", "n_chars")
      .orderBy("keep_id")
      .select("keep_id", "best_score", "n_dupes").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    out shouldBe Array((2L, 11L, 2L), (3L, 7L, 2L), (5L, 1L, 1L))
  }

  it should "give identical minhash signatures to identical shingle sets" in {
    val sigs = Seq("a b c d e", "a b c d e", "v w x y z").toDF("text")
      .select(Dedup.minhashSig(
        TextFunctions.shingles(TextFunctions.tokens(col("text")), 3), 16).as("sig"))
      .collect().map(_.getSeq[Long](0))
    sigs(0) shouldBe sigs(1)
    sigs(0) should not be sigs(2)
    sigs(0).length shouldBe 16
  }

  it should "find near-dup pairs via minhash LSH and score exact jaccard" in {
    val docs = Seq(
      Doc(1, "the quick brown fox jumps over the lazy dog today", "s"),
      Doc(2, "the quick brown fox jumps over the lazy dog tonight", "s"),
      Doc(3, "completely different words appear in this unrelated text", "s")
    ).toDS.toDF()
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text")
      .filter(col("is_dup")).collect()
    pairs.map(r => (r.getLong(0), r.getLong(1))) should contain ((1L, 2L))
    pairs.foreach(r => r.getDouble(2) should be >= 0.7)
  }

  it should "compute simhash with small hamming distance for similar texts" in {
    val df = Seq(
      Doc(1, "the quick brown fox jumps over the lazy dog today", "s"),
      Doc(2, "the quick brown fox jumps over the lazy dog tonight", "s"),
      Doc(3, "completely different words appear in this unrelated text", "s")
    ).toDS.toDF()
    val pairs = Dedup.simhashNearDupPairs(df, "doc_id", "text", maxHamming = 12).collect()
    pairs.map(r => (r.getLong(0), r.getLong(1))) should contain ((1L, 2L))
  }

  it should "score blocked n-gram jaccard pairs" in {
    val docs = Seq(
      Doc(1, "a b c d e f", "s1"), Doc(2, "a b c d e g", "s1"), Doc(3, "a b c d e f", "s2")
    ).toDS.toDF()
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "source", threshold = 0.3)
      .collect()
    pairs.length shouldBe 1 // (1,2) share block s1; (1,3) blocked apart
    pairs.head.getLong(0) shouldBe 1L
    pairs.head.getLong(1) shouldBe 2L
    pairs.head.getDouble(2) shouldBe (3.0 / 5.0) // {abc,bcd,cde} of {abc,bcd,cde,def|deg}
  }

  behavior of "Similarity"

  it should "compute exact cosine in double precision" in {
    val df = Seq(
      (1L, Seq(1f, 0f, 0f), 2L, Seq(0f, 1f, 0f)),
      (3L, Seq(1f, 2f, 2f), 4L, Seq(1f, 2f, 2f)),
      (5L, Seq(1f, 0f, 0f), 6L, Seq(-1f, 0f, 0f))
    ).toDF("a_id", "a", "b_id", "b")
    val sims = df.select(Similarity.cosine(col("a"), col("b"))).collect().map(_.getDouble(0))
    sims(0) shouldBe 0.0 +- 1e-12
    sims(1) shouldBe 1.0 +- 1e-12
    sims(2) shouldBe -1.0 +- 1e-12
  }

  it should "rank brute-force top-k neighbors excluding self" in {
    val vecs = Seq(
      Vec(0, Seq(1f, 0f)), Vec(1, Seq(0.9f, 0.1f)), Vec(2, Seq(0f, 1f)), Vec(3, Seq(0.8f, 0.3f))
    ).toDS.toDF()
    val out = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0), "vec_id", "embedding", 2)
      .orderBy("rank").collect()
    out.map(_.getInt(3)) shouldBe Array(1, 2)
    out.map(_.getLong(1)) shouldBe Array(1L, 3L) // nearest first, no self-match
  }

  it should "build a mutual-flagged kNN graph from LSH candidates" in {
    // two colinear clusters: scaling by a positive constant preserves every
    // hyperplane sign, so clusters share buckets; 7 nonzero components keep
    // each plane dot an odd multiple of the scale (never 0), so opposite
    // clusters NEVER collide. k=2 ≥ cluster-mates, so each node's top-k is
    // its whole cluster regardless of tie order among ~1.0 sims.
    val base = Seq(1f, 1f, 1f, 1f, 1f, 1f, 1f, 0f)
    val vecs = Seq(
      Vec(0, base), Vec(1, base.map(_ * 0.99f)), Vec(2, base.map(_ * 0.98f)),
      Vec(3, base.map(_ * -1f)), Vec(4, base.map(_ * -0.99f))
    ).toDS.toDF()
    val edges = Similarity.knnGraph(vecs, "vec_id", "embedding",
      dim = 8, planes = 8, bands = 1, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getBoolean(4)))
    edges.map(e => (e._1, e._2)).sorted shouldBe Array(
      (0L, 1L), (0L, 2L), (1L, 0L), (1L, 2L), (2L, 0L), (2L, 1L),
      (3L, 4L), (4L, 3L))
    all(edges.map(_._4)) shouldBe true // every edge lands in both top-ks
    edges.filter(_._1 <= 2).map(_._3).sorted shouldBe Array(1, 1, 1, 2, 2, 2)
    edges.filter(_._1 >= 3).map(_._3) shouldBe Array(1, 1)
  }

  it should "navigate the kNN graph to exact top-k when the beam covers it" in {
    // one tight cluster (signs never flip -> one LSH bucket -> the kNN
    // graph is complete at degree 5), so 2 beam rounds from the entry
    // point must reach every node and the graph-ANN answer equals brute
    // force exactly — the navigability contract, isolated from recall
    val vecs = (0L to 5L).map { i =>
      Vec(i, Seq(1f, 1f, 1f, 1f, 1f, 1f, 1f, 0.1f + i * 0.07f))
    }.toDS.toDF()
    val q = vecs.filter(col("vec_id") < 2)
    val ann = Similarity.graphAnnTopK(vecs, q, "vec_id", "embedding",
        dim = 8, planes = 8, bands = 1, degree = 5, beam = 8, rounds = 2, k = 3)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted
    val bf = Similarity.bruteForceTopK(vecs, q, "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted
    ann shouldBe bf
    // ranks dense from 1, no self-matches, deterministic under repartition
    val again = Similarity.graphAnnTopK(vecs.repartition(5), q, "vec_id",
        "embedding", dim = 8, planes = 8, bands = 1, degree = 5, beam = 8,
        rounds = 2, k = 3)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted
    again shouldBe ann
    ann.foreach { case (qid, nid, _) => nid should not be qid }
  }

  it should "probe a COMMITTED graph identically to an inline build and refuse a stale one" in {
    // the persisted graph-ANN lifecycle: edges committed with #indexof
    // binding navigate bit-identically to the inline build; a corpus
    // append makes the gate refuse; a rebuild+rebind heals it
    val M = graft.sources.ManifestTable
    val corpusDir = java.nio.file.Files.createTempDirectory("gann_corpus").toString
    val graphDir = java.nio.file.Files.createTempDirectory("gann_graph").toString
    try {
      val vecs = (0L to 5L).map { i =>
        Vec(i, Seq(1f, 1f, 1f, 1f, 1f, 1f, 1f, 0.1f + i * 0.07f))
      }.toDS.toDF()
      M.commit(spark, corpusDir, vecs)
      val v0 = M.currentVersion(spark, corpusDir)
      val corpus = M.read(spark, corpusDir)
      val edges = Similarity.knnGraph(corpus, "vec_id", "embedding",
        dim = 8, planes = 8, bands = 1, k = 5).select("src", "dst")
      M.commitIndex(spark, graphDir, edges, corpusDir, v0)
      M.requireIndexFresh(spark, graphDir)
      val q = vecs.filter(col("vec_id") < 2)
      def run(e: org.apache.spark.sql.DataFrame) =
        Similarity.graphAnnTopKFromEdges(vecs, q, e, "vec_id", "embedding",
            beam = 8, rounds = 2, k = 3)
          .select("query_id", "neighbor_id", "rank")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted
      run(M.read(spark, graphDir)) shouldBe run(edges)
      // corpus moves -> the committed graph is stale and the gate refuses
      M.append(spark, corpusDir,
        Seq(Vec(9L, Seq(1f, 1f, 1f, 1f, 1f, 1f, 1f, 0.9f))).toDS.toDF())
      an[IllegalStateException] should be thrownBy
        M.requireIndexFresh(spark, graphDir)
      // rebuild over the new corpus + rebind -> the gate passes again
      val edges2 = Similarity.knnGraph(M.read(spark, corpusDir), "vec_id",
        "embedding", dim = 8, planes = 8, bands = 1, k = 5).select("src", "dst")
      M.commitIndex(spark, graphDir, edges2, corpusDir,
        M.currentVersion(spark, corpusDir))
      M.requireIndexFresh(spark, graphDir)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(corpusDir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(graphDir))
    }
  }

  it should "bucket near-identical vectors together under sign-LSH" in {
    val vecs = Seq(
      Vec(0, Seq.fill(8)(1f)), Vec(1, Seq.fill(8)(0.99f)), Vec(2, Seq.fill(8)(-1f))
    ).toDS.toDF()
    val pairs = Similarity.lshCosineNearDupPairs(vecs, "vec_id", "embedding", dim = 8,
      threshold = 0.9).collect()
    pairs.map(r => (r.getLong(0), r.getLong(1))) shouldBe Array((0L, 1L))
  }

  it should "downsample evenly across cells with a stable hash order" in {
    val base = Seq(1f, 1f, 1f, 0f)
    val vecs = ((0L to 7L).map(i => Vec(i, base.map(_ * (1f + i * 0.01f)))) ++
      (8L to 15L).map(i => Vec(i, Seq(0f, 0f, 0f, 1f + i * 0.01f)))).toDS.toDF()
    val out = Similarity.cellBalancedSample(vecs, "vec_id", "embedding",
        numCentroids = 2, lloydRounds = 2, perCell = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // at most perCell per cell, ranks dense from 1
    out.groupBy(_._2).foreach { case (_, rows) =>
      rows.length should be <= 3
      rows.map(_._3).sorted shouldBe (1 to rows.length)
    }
    // both modes survive the cut: the colinear cluster and the e4 cluster
    out.count(_._1 <= 7) should be >= 1
    out.count(_._1 >= 8) should be >= 1
    // deterministic under repartitioning
    val again = Similarity.cellBalancedSample(vecs.repartition(5), "vec_id",
        "embedding", numCentroids = 2, lloydRounds = 2, perCell = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    again.sorted shouldBe out.sorted
  }

  it should "semantically dedup within cells keeping the lowest id" in {
    // two tight colinear groups (within-group cosine 1.0) plus a loner;
    // k=2 cells separate the groups, tau=0.9 prunes every higher-id member
    // of a group, and the loner (orthogonal to both) always survives
    val base = Seq(1f, 1f, 1f, 0f)
    val vecs = Seq(
      Vec(0, base), Vec(1, base.map(_ * 2f)), Vec(2, base.map(_ * 3f)),
      Vec(3, base.map(_ * -1f)), Vec(4, base.map(_ * -2f)),
      Vec(5, Seq(0f, 0f, 0f, 1f))
    ).toDS.toDF()
    val out = Similarity.semDedup(vecs, "vec_id", "embedding",
        numCentroids = 2, lloydRounds = 2, tau = 0.9)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).sortBy(_._1)
    val kept = out.filter(_._2).map(_._1)
    val pruned = out.filterNot(_._2).map(_._1)
    out.length shouldBe 6
    kept should contain(5L)                 // loner never pruned
    (kept ++ pruned).sorted shouldBe (0L to 5L)
    // within each colinear group only the lowest surviving id is kept:
    // every pruned id has a lower kept cell-mate with cosine 1.0
    pruned.foreach(p => kept.exists(_ < p) shouldBe true)
    Seq(1L, 2L).count(pruned.contains) should be >= 1
  }

  it should "score OOD by distance to the nearest centroid and flag the tail" in {
    val base = Seq(1f, 1f, 1f, 0f)
    // loner at id 5: the md5 seed order picks ids 6 and 9 from 0..9, so the
    // loner is never a seed (a loner-seed would be its own centroid, ood 0)
    val vecs = (0L to 9L).map {
      case 5L => Vec(5, Seq(0f, 0f, 0f, 1f)) // far from the dense region
      case i  => Vec(i, base.map(_ * (1f + i * 0.01f)))
    }
    // one Lloyd round: at convergence k-means would isolate the single
    // outlier into its own centroid (ood 0) — the documented k ≪ #outliers
    // caveat, irrelevant at corpus scale but dominant in a 10-row fixture
    val out = Similarity.centroidOodScores(vecs.toDS.toDF(), "vec_id", "embedding",
        numCentroids = 2, lloydRounds = 1, flagQuantile = 0.8)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
    out.length shouldBe 10
    // cosine is scale-invariant, so every colinear member scores the SAME
    // ood (0 against its own colinear centroid); nothing scores below 0 and
    // the loner is the sole value above the p80 cut
    val byId = out.map(t => t._1 -> t).toMap
    all(out.map(_._2)) should be >= 0.0
    byId(5L)._3 shouldBe true
    out.filter(_._1 != 5).count(_._3) shouldBe 0
  }

  behavior of "EventOps"

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  it should "sessionize by inactivity gap" in {
    val ev = Seq(
      (ts("2024-01-01 10:00:00"), 1L, "click", 1.0),
      (ts("2024-01-01 10:10:00"), 1L, "click", 1.0),
      (ts("2024-01-01 10:50:00"), 1L, "click", 1.0), // 40-min gap -> new session
      (ts("2024-01-01 09:00:00"), 2L, "view", 1.0)
    ).toDF("ts", "user_id", "event_type", "value")
    val out = EventOps.sessionize(ev, "user_id", "ts", 30 * 60 * 1000L)
      .orderBy("user_id", "session_id").collect()
    out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) shouldBe
      Array((1L, 1L, 2L), (1L, 2L, 1L), (2L, 1L, 1L))
  }

  it should "credit funnel conversions only inside the window" in {
    val ev = Seq(
      // user 1 converts fully within the 1 h window
      (ts("2024-01-01 10:00:00"), 1L, "view", 1.0),
      (ts("2024-01-01 10:10:00"), 1L, "click", 1.0),
      (ts("2024-01-01 10:20:00"), 1L, "purchase", 1.0),
      // user 2 clicks in-window but purchases 2 h after the view anchor
      (ts("2024-01-01 10:00:00"), 2L, "view", 1.0),
      (ts("2024-01-01 10:30:00"), 2L, "click", 1.0),
      (ts("2024-01-01 12:00:00"), 2L, "purchase", 1.0),
      // user 3: click precedes the view -> ordering still fails them
      (ts("2024-01-01 10:30:00"), 3L, "view", 1.0),
      (ts("2024-01-01 10:00:00"), 3L, "click", 1.0)
    ).toDF("ts", "user_id", "event_type", "value")
    val out = EventOps.funnelWindowed(ev, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"), 3600000L)
      .orderBy("stage_idx").collect().map(_.getLong(2))
    out shouldBe Array(3L, 2L, 1L)
    // the unbounded funnel credits user 2's late purchase
    EventOps.funnel(ev, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
      .orderBy("stage_idx").collect().map(_.getLong(2)) shouldBe Array(3L, 2L, 2L)
  }

  it should "rank kNN hubs by in-degree with mutual counts" in {
    // 4 near-colinear vectors + a hub-ish shared direction: just assert
    // structural properties — ranked by in-degree, counts bounded by k,
    // mutual <= in_degree
    val base = Seq(1f, 1f, 1f, 1f, 1f, 1f, 1f, 0f)
    val vecs = (0L to 4L).map(i => Vec(i, base.map(_ * (1f + i * 0.01f)))).toDS.toDF()
    val out = Similarity.hubnessReport(vecs, "vec_id", "embedding",
        dim = 8, planes = 8, bands = 1, k = 2, topN = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    out.length should be <= 3
    out.map(_._2).toSeq shouldBe out.map(_._2).sortBy(-_).toSeq // desc
    out.foreach { case (_, inDeg, mut) =>
      mut should be <= inDeg
      inDeg should be <= 4L // at most every other node lists it
    }
  }

  it should "measure event concentration as a Gini coefficient" in {
    def gini(counts: Seq[(Long, Int)]) = {
      val ev = counts.flatMap { case (u, k) =>
        (1 to k).map(i => (ts(f"2024-01-01 10:00:${i % 60}%02d"), u, "click", 1.0))
      }.toDF("ts", "user_id", "event_type", "value")
      EventOps.giniConcentration(ev, "user_id").collect()(0)
    }
    val uniform = gini(Seq((1L, 2), (2L, 2), (3L, 2)))
    uniform.getLong(0) shouldBe 3L
    uniform.getLong(1) shouldBe 6L
    uniform.getDouble(2) shouldBe 0.0 +- 1e-9
    // ascending counts [1, 3]: G = (2*7 - 3*4) / (2*4) = 0.25
    gini(Seq((1L, 1), (2L, 3))).getDouble(2) shouldBe 0.25 +- 1e-9
  }

  it should "surface users silent past the churn threshold" in {
    val ev = Seq(
      (ts("2024-01-10 10:00:00"), 1L, "click", 1.0), // 9 days silent
      (ts("2024-01-18 10:00:00"), 2L, "click", 1.0), // 1 day silent
      (ts("2024-01-19 10:00:00"), 3L, "click", 1.0), // anchors the corpus max
      (ts("2024-01-02 10:00:00"), 3L, "view", 1.0)
    ).toDF("ts", "user_id", "event_type", "value")
    val out = EventOps.inactivityChurn(ev, "user_id", "ts", 2L * 86400000)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    out shouldBe Array((1L, 1L, 9L * 86400000))
  }

  it should "report duplication rate per source against the whole corpus" in {
    // s1 is internally clean but wholly copied by s2's doc 3
    val docs = Seq(
      Doc(1, "alpha beta", "s1"), Doc(2, "unique one", "s1"),
      Doc(3, "Alpha  Beta", "s2"), Doc(4, "only here", "s2"), Doc(5, "more", "s2")
    ).toDS.toDF()
    val out = Dedup.dupRateBySource(docs, "text", "source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    out shouldBe Array(("s1", 2L, 1L, 0.5), ("s2", 3L, 1L, 0.333333))
  }

  it should "flag hour-of-day buckets that break the seasonal baseline" in {
    // type x at hour 10: 8 days of 2 events, day 9 spikes to 14
    //   n=9, s1=30, s2=228 -> mean=10/3, var=16, z_spike=(14-10/3)/4=2.6667
    // hour 05: constant count (var 0) -> excluded by the var > 0 gate
    val ev = (1 to 9).flatMap { d =>
      val spike = if (d == 9) 14 else 2
      (1 to spike).map(i => (ts(f"2024-01-0$d 10:0${i % 6}:0${i % 10}"), 1L, "x", 1.0)) ++
        Seq((ts(f"2024-01-0$d 05:00:00"), 1L, "x", 1.0))
    }.toDF("ts", "user_id", "event_type", "value")
    val out = EventOps.seasonalAnomaly(ev, "event_type", "ts")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(6)))
    out.length shouldBe 1
    val (_, hour, n, z) = out.head
    hour shouldBe 10L
    n shouldBe 14L
    z shouldBe 2.666667 +- 1e-6
  }

  it should "compute the Welch t readout from one aggregation pass" in {
    // arm A values {1,2,3}: n=3 mean=2 var=1; arm B {2,4}: n=2 mean=3 var=2
    // sa=1/3 sb=1 -> t=(2-3)/sqrt(4/3) = -0.866025; df=(4/3)^2/(1/18+1)
    val ev = Seq(
      (ts("2024-01-01 10:00:00"), 1L, "A", 1.0),
      (ts("2024-01-01 10:01:00"), 2L, "A", 2.0),
      (ts("2024-01-01 10:02:00"), 3L, "A", 3.0),
      (ts("2024-01-01 10:03:00"), 4L, "B", 2.0),
      (ts("2024-01-01 10:04:00"), 5L, "B", 4.0),
      (ts("2024-01-01 10:05:00"), 6L, "C", 99.0) // other arms ignored
    ).toDF("ts", "user_id", "event_type", "value")
    val r = EventOps.abTestLift(ev, "event_type", "value", "A", "B").collect()(0)
    r.getLong(0) shouldBe 3L
    r.getLong(1) shouldBe 2L
    r.getDouble(2) shouldBe 2.0
    r.getDouble(3) shouldBe 3.0
    r.getDouble(4) shouldBe -1.0
    r.getDouble(5) shouldBe -0.866025 +- 1e-6
    val df = math.pow(4.0 / 3.0, 2) / ((1.0 / 9) / 2 + 1.0)
    r.getDouble(6) shouldBe df +- 1e-6
  }

  it should "build a row-normalized Markov transition matrix" in {
    // user 1: A,B,A,C -> (A,B),(B,A),(A,C); user 2: C,A -> (C,A)
    val ev = Seq(
      (ts("2024-01-01 10:00:00"), 1L, "A", 1L),
      (ts("2024-01-01 10:01:00"), 1L, "B", 2L),
      (ts("2024-01-01 10:02:00"), 1L, "A", 3L),
      (ts("2024-01-01 10:03:00"), 1L, "C", 4L),
      (ts("2024-01-01 11:00:00"), 2L, "C", 5L),
      (ts("2024-01-01 11:01:00"), 2L, "A", 6L)
    ).toDF("ts", "user_id", "event_type", "event_id")
    val out = EventOps.transitionMatrix(ev, "user_id", "ts", "event_type", "event_id")
      .orderBy("from_type", "to_type").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    out shouldBe Array(
      ("A", "B", 1L, 0.5), ("A", "C", 1L, 0.5),
      ("B", "A", 1L, 1.0), ("C", "A", 1L, 1.0))
  }

  it should "aggregate tumbling windows with order-independent sums" in {
    val ev = Seq(
      (ts("2024-01-01 10:05:00"), 1L, "click", 0.1),
      (ts("2024-01-01 10:55:00"), 2L, "click", 0.2),
      (ts("2024-01-01 11:05:00"), 3L, "click", 0.4)
    ).toDF("ts", "user_id", "event_type", "value")
    val out = EventOps.windowedAgg(ev, "ts", "event_type", "value", "1 hour")
      .orderBy("window_start_ms").collect()
    out.map(r => (r.getLong(2), r.getDouble(3))) shouldBe Array((2L, 0.3), (1L, 0.4))
  }

  it should "profile numeric values with order-independent sums and exact median" in {
    val ev = Seq(
      (ts("2024-01-01 10:00:00"), 1L, "t", 1.0),
      (ts("2024-01-01 10:01:00"), 2L, "t", 2.0),
      (ts("2024-01-01 10:02:00"), 3L, "t", 4.0),
      (ts("2024-01-01 10:03:00"), 4L, "t", 10.0)
    ).toDF("ts", "user_id", "event_type", "value")
    val r = EventOps.valueProfile(ev, "event_type", "value").collect().head
    r.getLong(1) shouldBe 4L          // n
    r.getLong(2) shouldBe 0L          // n_null
    r.getDouble(3) shouldBe 1.0       // vmin
    r.getDouble(4) shouldBe 10.0      // vmax
    r.getDouble(5) shouldBe 17.0      // vsum
    r.getDouble(6) shouldBe 4.25      // vavg
    r.getDouble(7) shouldBe 3.0       // p50: interpolated between 2 and 4
  }

  it should "roll up (key, day) with grouping flags and 'ALL' labels" in {
    val ev = Seq(
      (ts("2024-01-01 10:00:00"), 1L, "a", 1.0),
      (ts("2024-01-01 11:00:00"), 2L, "a", 2.0),
      (ts("2024-01-02 10:00:00"), 3L, "a", 4.0),
      (ts("2024-01-01 10:00:00"), 4L, "b", 8.0)
    ).toDF("ts", "user_id", "event_type", "value")
    val out = EventOps.rollupProfile(ev, "event_type", "ts", "value")
      .orderBy("g_day", "g_key", "key", "day").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3),
        r.getLong(4), r.getDouble(5)))
    out shouldBe Array(
      ("a", "2024-01-01", 0, 0, 2L, 3.0),
      ("a", "2024-01-02", 0, 0, 1L, 4.0),
      ("b", "2024-01-01", 0, 0, 1L, 8.0),
      ("a", "ALL", 0, 1, 3L, 7.0),
      ("b", "ALL", 0, 1, 1L, 8.0),
      ("ALL", "ALL", 1, 1, 4L, 15.0))
  }

  it should "cube (key, day) adding the per-day marginal to the rollup sets" in {
    val ev = Seq(
      (ts("2024-01-01 10:00:00"), 1L, "a", 1.0),
      (ts("2024-01-02 10:00:00"), 2L, "a", 2.0),
      (ts("2024-01-01 10:00:00"), 3L, "b", 4.0)
    ).toDF("ts", "user_id", "event_type", "value")
    val out = EventOps.cubeProfile(ev, "event_type", "ts", "value").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(4), r.getDouble(5)))
      .toSet
    // rollup sets …
    out should contain allOf (("a", "2024-01-01", 1L, 1.0), ("a", "ALL", 2L, 3.0),
      ("ALL", "ALL", 3L, 7.0))
    // … plus the day marginals only CUBE emits
    out should contain allOf (("ALL", "2024-01-01", 2L, 5.0), ("ALL", "2024-01-02", 1L, 2.0))
    out.size shouldBe 8
  }

  it should "gap-fill silent buckets with explicit zero rows" in {
    val ev = Seq(
      (ts("2024-01-01 10:10:00"), 1L, "a", 1.0),
      (ts("2024-01-01 13:10:00"), 2L, "a", 2.0), // hours 11 and 12 silent
      (ts("2024-01-01 11:10:00"), 3L, "b", 4.0)
    ).toDF("ts", "user_id", "event_type", "value")
    val out = EventOps.gapFill(ev, "event_type", "ts", "value", 3600000L)
      .orderBy("event_type", "bucket").collect()
      .map(r => (r.getString(0), r.getLong(2), r.getDouble(3)))
    // range spans hours 10..13 for BOTH keys (corpus-wide bounds)
    out shouldBe Array(
      ("a", 1L, 1.0), ("a", 0L, 0.0), ("a", 0L, 0.0), ("a", 1L, 2.0),
      ("b", 0L, 0.0), ("b", 1L, 4.0), ("b", 0L, 0.0), ("b", 0L, 0.0))
  }

  it should "gate outliers on median absolute deviation" in {
    // nine values near 10 plus one wild outlier: med=10, sorted deviations
    // {0,0,0,0,0,1,1,1,1,990} -> p50 interpolates positions 4..5 (0 and 1)
    // -> MAD=0.5; threshold 3*1.4826*0.5 ≈ 2.22 -> only 990 is beyond it
    val vals = Seq(10.0, 10.0, 10.0, 10.0, 10.0, 9.0, 9.0, 11.0, 11.0, 1000.0)
    val ev = vals.zipWithIndex.map { case (v, i) =>
      (ts("2024-01-01 10:00:00"), i.toLong, "t", v)
    }.toDF("ts", "user_id", "event_type", "value")
    val r = EventOps.madOutlierGate(ev, "event_type", "value").collect().head
    r.getLong(1) shouldBe 10L      // n
    r.getDouble(2) shouldBe 10.0   // med
    r.getDouble(3) shouldBe 0.5    // mad
    r.getLong(4) shouldBe 1L       // n_outliers
  }

  it should "count trailing events in a sliding range window" in {
    val ev = Seq(
      (ts("2024-01-01 10:00:00"), 1L, "t", 1.0),
      (ts("2024-01-01 10:30:00"), 1L, "t", 1.0),
      (ts("2024-01-01 11:00:00"), 1L, "t", 1.0), // exactly 3600s after first: inclusive
      (ts("2024-01-01 13:00:00"), 1L, "t", 1.0), // outside any prior window
      (ts("2024-01-01 10:15:00"), 2L, "t", 1.0)
    ).toDF("ts", "user_id", "event_type", "value")
    val out = EventOps.slidingRate(ev, "user_id", "ts", 3600L)
      .orderBy("user_id", "ts").collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    out shouldBe Array((1L, 1L), (1L, 2L), (1L, 3L), (1L, 1L), (2L, 1L))
  }

  it should "debounce per (user, type) against the previous raw event" in {
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "click"),
      (2L, ts("2024-01-01 10:00:30"), 1L, "click"), // 30s after raw prev: dropped
      (3L, ts("2024-01-01 10:00:50"), 1L, "click"), // 20s after DROPPED prev: still dropped (raw-lag semantics)
      (4L, ts("2024-01-01 10:02:00"), 1L, "click"), // 70s gap: kept
      (5L, ts("2024-01-01 10:00:10"), 1L, "view"),  // other type: kept
      (6L, ts("2024-01-01 10:00:10"), 2L, "click")  // other user: kept
    ).toDF("event_id", "ts", "user_id", "event_type")
    val out = EventOps.debounce(ev, "user_id", "event_type", "ts", "event_id", 60000L)
      .select("event_id").orderBy("event_id").collect().map(_.getLong(0))
    out shouldBe Array(1L, 4L, 5L, 6L)
  }

  it should "recognize row patterns over time-ordered event sequences" in {
    val ev = Seq(
      // user 1: v v c p | e | v c c p  → two matches, longest = 4
      (1L, ts("2024-01-01 10:00:00"), 1L, "view"),
      (2L, ts("2024-01-01 10:00:01"), 1L, "view"),
      (3L, ts("2024-01-01 10:00:02"), 1L, "click"),
      (4L, ts("2024-01-01 10:00:03"), 1L, "purchase"),
      (5L, ts("2024-01-01 10:00:04"), 1L, "error"),
      (6L, ts("2024-01-01 10:00:05"), 1L, "view"),
      (7L, ts("2024-01-01 10:00:06"), 1L, "click"),
      (8L, ts("2024-01-01 10:00:07"), 1L, "click"),
      (9L, ts("2024-01-01 10:00:08"), 1L, "purchase"),
      // user 2: v p c — never v+c+p in order: no row
      (10L, ts("2024-01-01 10:00:00"), 2L, "view"),
      (11L, ts("2024-01-01 10:00:01"), 2L, "purchase"),
      (12L, ts("2024-01-01 10:00:02"), 2L, "click"),
      // user 3: equal timestamps — order pinned by event_id: v c p matches
      (13L, ts("2024-01-01 10:00:00"), 3L, "view"),
      (14L, ts("2024-01-01 10:00:00"), 3L, "click"),
      (15L, ts("2024-01-01 10:00:00"), 3L, "purchase"),
      // user 4: signup (unmapped-relevant char) splits the run: no match
      (16L, ts("2024-01-01 10:00:00"), 4L, "view"),
      (17L, ts("2024-01-01 10:00:01"), 4L, "signup"),
      (18L, ts("2024-01-01 10:00:02"), 4L, "click"),
      (19L, ts("2024-01-01 10:00:03"), 4L, "purchase")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val out = EventOps.sequencePattern(ev, "user_id", "event_type", "ts",
      "event_id",
      Seq("view" -> "v", "click" -> "c", "purchase" -> "p",
        "signup" -> "s", "error" -> "e"),
      pattern = "v+c+p")
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    out shouldBe Array((1L, 2L, 4L), (3L, 1L, 3L))
    // scale shape: ONE shuffle (the per-user fold), no join, regex
    // evaluated data-side
    val plan = EventOps.sequencePattern(ev, "user_id", "event_type", "ts",
      "event_id", Seq("view" -> "v"), pattern = "v+")
      .queryExecution.executedPlan.toString
    withClue(plan) {
      "Exchange".r.findAllIn(plan).size shouldBe 1
      plan should not include "Join"
    }
  }

  it should "count rolling 7-day distinct actives per observed day" in {
    def d(day: Int) = ts(f"2024-01-$day%02d 10:00:00")
    val ev = Seq(
      (d(1), 1L, "t", 1.0), (d(1), 1L, "t", 1.0), // same (day, user) twice: once
      (d(1), 2L, "t", 1.0),
      (d(3), 1L, "t", 1.0),                       // u1 again inside day-1's window
      (d(9), 3L, "t", 1.0)                        // beyond day 1+6, own window
    ).toDF("ts", "user_id", "event_type", "value")
    val out = EventOps.rollingActive(ev, "user_id", "ts", 7)
      .orderBy("day").collect().map(r => (r.getLong(0), r.getLong(1)))
    val day1 = out(0)._1
    // day 1: {u1,u2}; day 3: window [d-6,d] covers days 1+3 -> {u1,u2};
    // day 9: window covers day 3 (u1) + day 9 (u3) -> {u1,u3}
    out shouldBe Array((day1, 2L), (day1 + 2, 2L), (day1 + 8, 2L))
  }

  it should "build SCD2 change history over attribute transitions" in {
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "free"),
      (2L, ts("2024-01-01 11:00:00"), 1L, "free"), // no change: collapsed
      (3L, ts("2024-01-01 12:00:00"), 1L, "paid"), // transition
      (4L, ts("2024-01-01 13:00:00"), 1L, "free"), // back again: new version
      (5L, ts("2024-01-01 10:00:00"), 2L, "paid")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val out = EventOps.changeHistory(ev, "user_id", "event_type", "ts", "event_id")
      .orderBy("user_id", "version_n").collect()
      .map(r => (r.getLong(0), r.getString(1), r.isNullAt(3), r.getLong(4)))
    out shouldBe Array(
      (1L, "free", false, 1L), (1L, "paid", false, 2L), (1L, "free", true, 3L),
      (2L, "paid", true, 1L))
    // valid_to chains to the NEXT version's valid_from (no gaps)
    val u1 = EventOps.changeHistory(ev, "user_id", "event_type", "ts", "event_id")
      .filter($"user_id" === 1L).orderBy("version_n").collect()
    u1.map(_.getLong(2)).drop(1) shouldBe u1.flatMap(r =>
      if (r.isNullAt(3)) None else Some(r.getLong(3)))
  }

  it should "profile cardinality with exact and approximate distincts" in {
    val ev = (1 to 100).map(i => (ts("2024-01-01 10:00:00"), (i % 10).toLong, "t", 1.0))
      .toDF("ts", "user_id", "event_type", "value")
    val r = EventOps.cardinalityProfile(ev, "event_type", "user_id").collect().head
    r.getLong(1) shouldBe 100L
    r.getLong(2) shouldBe 10L
    r.getLong(3).toDouble shouldBe 10.0 +- 2.0 // HLL estimate
  }

  it should "cap hot shingles by in-block document frequency" in {
    // "a b c" appears in every doc of block s1; with a cap of 2 the hot
    // shingle is dropped from the posting list, so docs sharing ONLY it
    // never become candidates, while pairs sharing rarer shingles survive.
    val docs = Seq(
      Doc(1, "a b c d e f", "s1"), Doc(2, "a b c d e g", "s1"),
      Doc(3, "a b c x y z", "s1"), Doc(4, "a b c p q r", "s1")
    ).toDS.toDF()
    val all = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "source", threshold = 0.0)
    val capped = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "source",
      threshold = 0.0, maxShingleDf = 2)
    // uncapped: every pair shares at least "a b c" -> 6 pairs
    all.count() shouldBe 6
    // capped: "a b c" (df=4) is dropped; only (1,2) share {b c d, c d e}
    val rows = capped.collect()
    rows.map(r => (r.getLong(0), r.getLong(1))) shouldBe Array((1L, 2L))
    // denominator still uses FULL set sizes: inter=2, union=4+4-2
    rows.head.getDouble(2) shouldBe (2.0 / 6.0)
  }

  it should "probe IVF cells and rank exact cosine within them" in {
    // Two well-separated directions; k-means (k=2, 2 Lloyd rounds)
    // separates them whatever the md5-seeded start. Query 1 probes both
    // cells (nprobe=2) so IVF recall equals brute force here — ranks must
    // match bruteForceTopK exactly.
    val vecs = Seq(
      Vec(0, Seq(1f, 0f)), Vec(1, Seq(0.95f, 0.05f)),
      Vec(2, Seq(0f, 1f)), Vec(3, Seq(0.1f, 0.9f))
    ).toDS.toDF()
    val q = vecs.filter(col("vec_id") === 1)
    val ivf = Similarity.ivfTopK(vecs, q, "vec_id", "embedding",
        k = 3, numCentroids = 2, nprobe = 2)
      .orderBy("rank").collect()
    val bf = Similarity.bruteForceTopK(vecs, q, "vec_id", "embedding", 3)
      .orderBy("rank").collect()
    ivf.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))) shouldBe
      bf.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
  }

  it should "prune unprobed IVF cells" in {
    val vecs = Seq(
      Vec(0, Seq(1f, 0f)), Vec(1, Seq(0.95f, 0.05f)),
      Vec(2, Seq(0f, 1f)), Vec(3, Seq(0.1f, 0.9f))
    ).toDS.toDF()
    val q = vecs.filter(col("vec_id") === 1)
    // nprobe=1: only query 1's own (x-direction) cell is searched; the
    // y-direction vectors never appear even though k would admit them
    val out = Similarity.ivfTopK(vecs, q, "vec_id", "embedding",
        k = 3, numCentroids = 2, nprobe = 1).collect()
    out.map(_.getLong(1)).toSet shouldBe Set(0L)
  }

  it should "project deterministically onto the md5-parity plane family" in {
    val vecs = (0 until 20)
      .map(i => Vec(i.toLong, Seq.tabulate(8)(d => (i + d).toFloat))).toDS.toDF()
    val p1 = Similarity.randomProject(vecs, "vec_id", "embedding", dim = 8, proj = 4)
      .orderBy("vec_id").collect()
    p1.foreach(_.getSeq[Double](1).size shouldBe 4)
    // projection is a pure function of the vector — partitioning-invariant
    val p2 = Similarity.randomProject(vecs.repartition(5), "vec_id", "embedding", 8, 4)
      .orderBy("vec_id").collect()
    p2 shouldBe p1
    // a different family offset gives an independent projection
    val p3 = Similarity.randomProject(vecs, "vec_id", "embedding", 8, 4, firstPlane = 32)
      .orderBy("vec_id").collect()
    p3 should not be p1
  }

  it should "build a fixed number of k-means centroids independent of corpus size" in {
    def corpus(n: Int) = (0 until n)
      .map(i => Vec(i.toLong, Seq(i.toFloat, (n - i).toFloat, 1f))).toDS.toDF()
    val small = Similarity.kmeansCentroids(corpus(40), "vec_id", "embedding", k = 4)
    val big = Similarity.kmeansCentroids(corpus(200), "vec_id", "embedding", k = 4)
    small should have size 4
    big should have size 4
    all(small.map(_._2.size)) shouldBe 3
  }

  it should "degrade gracefully when k exceeds the corpus size" in {
    // 3 vectors, k=8: every vector seeds its own cell; with nprobe
    // covering all cells IVF recall equals brute force exactly
    val vecs = Seq(
      Vec(0, Seq(1f, 0f)), Vec(1, Seq(0f, 1f)), Vec(2, Seq(0.7f, 0.7f))
    ).toDS.toDF()
    Similarity.kmeansCentroids(vecs, "vec_id", "embedding", k = 8)
      .size should be <= 3
    val q = vecs.filter(col("vec_id") === 0)
    val ivf = Similarity.ivfTopK(vecs, q, "vec_id", "embedding",
        k = 2, numCentroids = 8, nprobe = 8)
      .orderBy("rank").collect()
    val bf = Similarity.bruteForceTopK(vecs, q, "vec_id", "embedding", 2)
      .orderBy("rank").collect()
    ivf.map(r => (r.getLong(1), r.getDouble(2))) shouldBe
      bf.map(r => (r.getLong(1), r.getDouble(2)))
  }

  it should "refuse ragged vectors instead of skewing a centroid" in {
    // a vector shorter than dim yields null from element_at — skipped by
    // the component sum but still counted in n, silently biasing that
    // centroid toward 0 (r12 ADVICE); the re-center pass must refuse
    val vecs = Seq(
      Vec(0, Seq(1f, 0f)), Vec(1, Seq(0.9f, 0.1f)), Vec(2, Seq(0.8f))
    ).toDS.toDF()
    val e = intercept[Exception] {
      Similarity.kmeansCentroids(vecs, "vec_id", "embedding", k = 2)
    }
    e.getMessage should include("ragged")
  }

  it should "build bit-identical centroids under any input partitioning" in {
    // DECIMAL-routed component sums make the Lloyd means independent of
    // partial-aggregation order — the property that lets the single-threaded
    // DuckDB oracle replicate a 32-way-parallel Spark build bit for bit.
    val base = (0 until 60)
      .map(i => Vec(i.toLong, Seq(math.sin(i).toFloat, math.cos(i).toFloat))).toDS.toDF()
    val a = Similarity.kmeansCentroids(base.repartition(7), "vec_id", "embedding", k = 3)
    val b = Similarity.kmeansCentroids(base.repartition(3), "vec_id", "embedding", k = 3)
    a shouldBe b
  }

  it should "plan IVF with no corpus-side broadcast and no join in cell assignment" in {
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val vecs = (0 until 40)
      .map(i => Vec(i.toLong, Seq(i.toFloat, 1f))).toDS.toDF()
    val q = vecs.filter(col("vec_id") < 2)
    val out = Similarity.ivfTopK(vecs, q, "vec_id", "embedding",
      k = 2, numCentroids = 4, nprobe = 2)
    out.count() // materialize so AQE finalizes the plan
    val plan = out.queryExecution.executedPlan
    val finalPlan = plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // centroids are plan literals: the ONLY broadcast allowed is the tiny
    // probes (query) side of the probe join — never anything corpus-shaped
    val broadcasts = finalPlan.collect { case b: BroadcastExchangeExec => b }
    broadcasts.foreach { b =>
      assert(b.output.map(_.name).contains("query_id"),
        s"unexpected corpus-side broadcast: ${b.output.map(_.name)}")
    }
    val s = finalPlan.toString
    s should not include "NestedLoop"
    s should not include "CartesianProduct"
  }

  it should "find pairs in any band under banded sign-LSH" in {
    val vecs = Seq(
      Vec(0, Seq.fill(8)(1f)), Vec(1, Seq.fill(8)(0.99f)), Vec(2, Seq.fill(8)(-1f))
    ).toDS.toDF()
    val pairs = Similarity.lshCosineNearDupPairs(vecs, "vec_id", "embedding", dim = 8,
      planes = 4, bands = 2, threshold = 0.9).collect()
    // identical-direction vectors collide in EVERY band; the distinct over
    // the band union must still emit the pair exactly once
    pairs.map(r => (r.getLong(0), r.getLong(1))) shouldBe Array((0L, 1L))
  }

  it should "pivot per-day type counts and sums with zeros for absent types" in {
    val ev = Seq(
      (ts("2024-01-01 10:00:00"), 1L, "click", 1.5),
      (ts("2024-01-01 11:00:00"), 2L, "click", 2.5),
      (ts("2024-01-02 10:00:00"), 1L, "view", 3.0)
    ).toDF("ts", "user_id", "event_type", "value")
    val out = EventOps.pivotProfile(ev, "ts", "event_type", "value",
      Seq("click", "view", "purchase")).orderBy("day").collect()
    out.map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3),
      r.getDouble(4), r.getLong(5), r.getDouble(6))) shouldBe Array(
      ("2024-01-01", 2L, 4.0, 0L, 0.0, 0L, 0.0),
      ("2024-01-02", 0L, 0.0, 1L, 3.0, 0L, 0.0))
  }

  it should "attribute conversions to the user's first touch" in {
    val ev = Seq(
      (10L, ts("2024-01-01 10:00:00"), 1L, "signup", 0.0),
      (11L, ts("2024-01-01 10:05:00"), 1L, "click", 0.0),
      (12L, ts("2024-01-01 10:10:00"), 1L, "purchase", 9.0),
      (20L, ts("2024-01-01 09:00:00"), 2L, "purchase", 5.0), // converts on first event
      (21L, ts("2024-01-01 09:30:00"), 2L, "purchase", 6.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = EventOps.firstTouchAttribution(ev, "user_id", "ts", "event_type",
      "event_id", "purchase").orderBy("event_id").collect()
    out.map(r => (r.getLong(0), r.getString(2), r.getLong(3), r.getLong(4))) shouldBe
      Array((12L, "signup", 600000L, 2L), (20L, "purchase", 0L, 0L),
        (21L, "purchase", 1800000L, 1L))
  }

  it should "mine top event-type sequences with deterministic tie order" in {
    val ev = (0 until 3).flatMap { u => // three users emit a>b>c>b>c
      Seq("a", "b", "c", "b", "c").zipWithIndex.map { case (t, i) =>
        (u * 10L + i, ts(f"2024-01-01 10:0$i:00"), u.toLong, t, 0.0)
      }
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = EventOps.topSequences(ev, "user_id", "ts", "event_type", "event_id",
      n = 3, k = 2).collect()
    // per user: a>b>c, b>c>b, c>b>c — all count 3; tie-break is the string
    out.map(r => (r.getString(0), r.getLong(1))) shouldBe
      Array(("a>b>c", 3L), ("b>c>b", 3L))
  }

  it should "flag training docs sharing any n-gram with the benchmark" in {
    val train = Seq(Doc(1, "u v w x y z", "s"), Doc(2, "p q r s t", "s"),
      Doc(3, "tiny", "s")).toDS.toDF()
    val bench = Seq(Doc(100, "a b u v w x y c", "s")).toDS.toDF()
    val res = Corpus.ngramDecontaminate(train, bench, "doc_id", "text", shingleN = 5)
      .orderBy("doc_id").collect()
    // doc 1 shares the 5-gram "u v w x y"; doc 2 shares nothing; doc 3 is
    // shorter than n (whole-text collapse, no benchmark hit)
    res.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))) shouldBe
      Array((1L, 2L, 1L, true), (2L, 1L, 0L, false), (3L, 1L, 0L, false))
    val shuffled = Corpus.ngramDecontaminate(train, bench, "doc_id", "text",
      shingleN = 5, broadcastBenchmark = false).orderBy("doc_id").collect()
    shuffled shouldBe res
  }

  it should "histogram duplicate-cluster sizes" in {
    val docs = Seq(Doc(1, "same text", "s"), Doc(2, "same  TEXT", "s"),
      Doc(3, "other", "s"), Doc(4, "third", "s")).toDS.toDF()
    val out = Dedup.dupSizeHistogram(docs, "doc_id", "text")
      .orderBy("cluster_size").collect()
    out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) shouldBe
      Array((1L, 2L, 2L), (2L, 1L, 2L))
  }

  it should "fit Holt level and trend exactly on a hand-computed series" in {
    // days: counts 2, 3, 5 for type a (one event per count unit)
    val rows = for {
      (day, n) <- Seq(("2024-01-01", 2), ("2024-01-02", 3), ("2024-01-03", 5))
      i <- 0 until n
    } yield ("a", java.sql.Timestamp.valueOf(s"$day 0$i:00:00"))
    val df = rows.toDF("event_type", "ts")
    val r = EventOps.holtForecast(df, "event_type", "ts",
      alpha = 0.5, beta = 0.3, horizonDays = 2).collect()(0)
    // l1=2, b1=1; t=2: l=.5*3+.5*3=3, b=.3*1+.7*1=1
    // t=3: l=.5*5+.5*4=4.5, b=.3*1.5+.7*1=1.15; forecast=4.5+2*1.15=6.8
    r.getLong(1) shouldBe 3L
    r.getDouble(2) shouldBe 4.5
    r.getDouble(3) shouldBe 1.15
    r.getDouble(4) shouldBe 6.8
    // a single-day key has no trend to fit and is excluded
    val single = Seq(("b", java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("event_type", "ts")
    EventOps.holtForecast(single, "event_type", "ts", 0.5, 0.3, 2)
      .count() shouldBe 0L
  }

  it should "flag EWMA excursions against a reference recursion" in {
    val counts = Seq(3, 3, 4, 3, 12, 3, 3) // day 5 spikes
    val rows = for {
      (n, di) <- counts.zipWithIndex
      i <- 0 until n
    } yield ("a", java.sql.Timestamp.valueOf(f"2024-01-${di + 1}%02d 00:$i%02d:00"))
    val r = EventOps.ewmaChart(rows.toDF("event_type", "ts"), "event_type", "ts",
      lambda = 0.2, limitL = 3.0).collect()(0)
    // reference recursion in plain Scala over the same series
    val ys = counts.map(_.toDouble)
    val n = ys.length.toDouble
    val mu = ys.sum / n
    val sigma = math.sqrt((ys.map(y => y * y).sum - n * mu * mu) / (n - 1.0))
    val limit = 3.0 * sigma * math.sqrt(0.2 / (2.0 - 0.2))
    var z = ys.head; var flags = 0L
    ys.tail.foreach { y =>
      if (math.abs(y - z) > limit) flags += 1
      z = 0.2 * y + (1.0 - 0.2) * z
    }
    r.getLong(1) shouldBe counts.length.toLong
    r.getDouble(2) shouldBe (math.rint(sigma * 1e6) / 1e6)
    r.getDouble(4) shouldBe (math.rint(z * 1e6) / 1e6)
    r.getLong(5) shouldBe flags
    flags should be >= 1L // the spike day actually flags
  }

  it should "accumulate CUSUM alarms exactly per a reference recursion" in {
    val counts = Seq.fill(10)(3) ++ Seq.fill(10)(9) // sustained upward shift
    val rows = for {
      (n, di) <- counts.zipWithIndex
      i <- 0 until n
    } yield ("a", java.sql.Timestamp.valueOf(f"2024-01-${di + 1}%02d 00:$i%02d:00"))
    val r = EventOps.cusumChart(rows.toDF("event_type", "ts"), "event_type", "ts")
      .collect()(0)
    val ys = counts.map(_.toDouble); val n = ys.length.toDouble
    val mu = ys.sum / n
    val sigma = math.sqrt((ys.map(y => y * y).sum - n * mu * mu) / (n - 1.0))
    val (kk, h) = (0.5 * sigma, 4.0 * sigma)
    var sp = 0.0; var sn = 0.0; var alarms = 0L
    ys.foreach { y =>
      sp = math.max(0.0, sp + y - mu - kk)
      sn = math.max(0.0, sn + mu - y - kk)
      if (sp > h || sn > h) alarms += 1
    }
    r.getLong(1) shouldBe counts.length.toLong
    r.getDouble(3) shouldBe (math.rint(sp * 1e6) / 1e6)
    r.getDouble(4) shouldBe (math.rint(sn * 1e6) / 1e6)
    r.getLong(5) shouldBe alarms
    alarms should be >= 1L // the shift actually alarms
  }

  it should "release seeded Laplace-noised counts reproducibly, never the true count" in {
    val df = (0L until 300L).map(i => (i, if (i % 3 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    val rel = graft.ops.Quality.dpNoisyCounts(df, "lang", seed = "s1", epsilon = 1.0)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // deterministic: the same seed replays the identical release
    graft.ops.Quality.dpNoisyCounts(df, "lang", seed = "s1", epsilon = 1.0)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap shouldBe rel
    // a different seed draws different noise
    val rel2 = graft.ops.Quality.dpNoisyCounts(df, "lang", "s2", 1.0)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    rel2 should not be rel
    // noise is small at eps = 1 but non-degenerate around the true counts
    math.abs(rel("en") - 100.0) should be < 20.0
    math.abs(rel("de") - 200.0) should be < 20.0
    rel("en") should not be 100.0
  }

  it should "assign stable stratified k-folds with leave-one-out complements" in {
    val df = (0L until 200L).map(i => (i, if (i % 4 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    val rep = graft.ops.Corpus.kFoldAssign(df, "doc_id", "lang", k = 5)
    val rows = rep.collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    // every (stratum, fold) complement is the stratum total minus the fold
    rows.filter(_._1._1 == "en").values.map { case (v, t) => v + t }
      .toSet shouldBe Set(50L)
    rows.filter(_._1._1 == "de").values.map { case (v, t) => v + t }
      .toSet shouldBe Set(150L)
    // assignment is the stable splitAssign hash: re-running can't move rows
    rep.collect().toSet shouldBe
      graft.ops.Corpus.kFoldAssign(df, "doc_id", "lang", k = 5).collect().toSet
  }

  behavior of "Multimodal"

  it should "round-trip a real BMP header through encode and decode" in {
    val content = "hello world".getBytes("UTF-8")
    val bmp = Multimodal.toBmp(content)
    bmp(0) shouldBe 'B'.toByte
    bmp(1) shouldBe 'M'.toByte
    val (w, h, c, feature) = Multimodal.decodePayload(bmp)
    w shouldBe 1 + content.length % 64
    h shouldBe 1 + content.length % 48
    c shouldBe 3
    feature shouldBe "68656c6c" // "hell" — first 4 pixel bytes
    val rowSize = ((w * 3 + 3) / 4) * 4
    bmp.length shouldBe 54 + rowSize * h
  }

  it should "reject non-BMP payloads" in {
    an[IllegalArgumentException] should be thrownBy
      Multimodal.decodePayload("not a bitmap".getBytes("UTF-8"))
  }

  it should "round-trip a JPEG through the SOF marker walk" in {
    val content = "hello jpeg world".getBytes("UTF-8")
    val jpeg = Multimodal.toJpeg(content)
    jpeg.length shouldBe 45 + content.length
    val (w, h, c, f) = Multimodal.decodeJpeg(jpeg)
    w shouldBe 1 + content.length % 64
    h shouldBe 1 + content.length % 48
    c shouldBe 3
    f shouldBe "sof0:" + content.take(4).map(b => f"${b & 0xff}%02x").mkString
  }

  it should "walk JPEG segments by length, not fixed offsets" in {
    // a COM payload containing 0xFF bytes must not derail the marker walk
    val tricky = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0x00)
    val (w, h, _, _) = Multimodal.decodeJpeg(Multimodal.toJpeg(tricky))
    w shouldBe 1 + tricky.length % 64
    h shouldBe 1 + tricky.length % 48
  }

  it should "reject non-JPEG payloads and scans without SOF" in {
    an[IllegalArgumentException] should be thrownBy
      Multimodal.decodeJpeg("plainly not a jpeg".getBytes("UTF-8"))
    // SOI immediately followed by EOI: valid JPEG framing, no frame header
    val noSof = Array(0xff, 0xd8, 0xff, 0xd9).map(_.toByte)
    an[IllegalArgumentException] should be thrownBy Multimodal.decodeJpeg(noSof)
    // truncated mid-SOF: the decoder's contract error, never an
    // uncontrolled out-of-bounds read inside an executor task
    val jpeg = Multimodal.toJpeg("x".getBytes("UTF-8"))
    an[IllegalArgumentException] should be thrownBy
      Multimodal.decodeJpeg(jpeg.take(jpeg.length - 12))
  }

  it should "fail fast on a corrupt PNG chunk length instead of looping" in {
    val png = Multimodal.toPng("some payload".getBytes("UTF-8"))
    // IDAT length field (offset 33) -> 0xFFFFFFF4 = -12: pos += 12 + len
    // would never advance without the overrun guard
    val bad = png.clone()
    bad(33) = 0xff.toByte; bad(34) = 0xff.toByte
    bad(35) = 0xff.toByte; bad(36) = 0xf4.toByte
    an[IllegalArgumentException] should be thrownBy Multimodal.decodePng(bad)
  }

  it should "round-trip a PNG through IHDR decode with CRC verification" in {
    val content = "png content here".getBytes("UTF-8")
    val png = Multimodal.toPng(content)
    png.length shouldBe 57 + content.length
    val (w, h, c, f) = Multimodal.decodePng(png)
    w shouldBe 1 + content.length % 64
    h shouldBe 1 + content.length % 48
    c shouldBe 3
    f shouldBe content.take(4).map(b => f"${b & 0xff}%02x").mkString
    // a corrupted IHDR byte must fail the CRC check, not decode garbage
    val bad = png.clone(); bad(17) = (bad(17) ^ 1).toByte // width byte
    an[IllegalArgumentException] should be thrownBy Multimodal.decodePng(bad)
  }

  it should "round-trip an MP4 through the ISO-BMFF box walk" in {
    val content = "movie bits here!".getBytes("UTF-8")
    val mp4 = Multimodal.toMp4(content)
    mp4.length shouldBe 244 + content.length
    val v = Multimodal.decodeMp4(mp4)
    v.byte_len shouldBe mp4.length
    v.width shouldBe 1 + content.length % 64
    v.height shouldBe 1 + content.length % 48
    v.timescale shouldBe 1000
    v.duration_ms shouldBe content.length.toLong
    v.feature shouldBe content.take(4).map(b => f"${b & 0xff}%02x").mkString
  }

  it should "fail fast on corrupt or truncated MP4 boxes" in {
    an[IllegalArgumentException] should be thrownBy
      Multimodal.decodeMp4("never was a movie".getBytes("UTF-8"))
    val mp4 = Multimodal.toMp4("content".getBytes("UTF-8"))
    // moov size field (offset 20) -> 4: size < 8 must fail the walk's
    // contract error, never stall (pos += size with size=4 loops) or
    // read out of bounds
    val bad = mp4.clone()
    bad(20) = 0; bad(21) = 0; bad(22) = 0; bad(23) = 4
    an[IllegalArgumentException] should be thrownBy Multimodal.decodeMp4(bad)
    // truncated inside moov: the declared size overruns the payload
    an[IllegalArgumentException] should be thrownBy
      Multimodal.decodeMp4(mp4.take(100))
    // a hostile size near Int.MaxValue must hit the bounds guard, not
    // wrap `pos + size` negative and slip past it
    val big = mp4.clone()
    big(20) = 0x7f.toByte; big(21) = 0xff.toByte
    big(22) = 0xff.toByte; big(23) = 0x00
    an[IllegalArgumentException] should be thrownBy Multimodal.decodeMp4(big)
    // an undersized mvhd (declared size 8, legal for the walk) must fail
    // the box-extent check, not read the next box's bytes as fields
    val tiny = mp4.clone()
    tiny(28) = 0; tiny(29) = 0; tiny(30) = 0; tiny(31) = 8
    an[IllegalArgumentException] should be thrownBy Multimodal.decodeMp4(tiny)
  }

  it should "round-trip a GIF through the variable-length block walk" in {
    val content = "gif pixels follow".getBytes("UTF-8")
    val gif = Multimodal.toGif(content)
    gif.length shouldBe 40 + content.length + (content.length + 254) / 255
    val (w, h, c, f) = Multimodal.decodeGif(gif)
    // the image descriptor's dims, NOT the logical screen's (+2/+1) canvas
    w shouldBe 1 + content.length % 64
    h shouldBe 1 + content.length % 48
    c shouldBe 3
    f shouldBe content.take(4).map(b => f"${b & 0xff}%02x").mkString
    // >255-byte content must chop into chained sub-blocks and still echo
    // the FIRST sub-block's first bytes
    val long = Array.tabulate[Byte](700)(i => (i % 251).toByte)
    val gif2 = Multimodal.toGif(long)
    gif2.length shouldBe 40 + 700 + 3
    Multimodal.decodeGif(gif2)._4 shouldBe
      long.take(4).map(b => f"${b & 0xff}%02x").mkString
  }

  it should "fail fast on corrupt or truncated GIF blocks" in {
    an[IllegalArgumentException] should be thrownBy
      Multimodal.decodeGif("definitely not a gif".getBytes("UTF-8"))
    val gif = Multimodal.toGif("animated nonsense".getBytes("UTF-8"))
    // truncated mid-extension: the sub-block walk must hit the bounds
    // guard, never read past the payload
    an[IllegalArgumentException] should be thrownBy
      Multimodal.decodeGif(gif.take(22))
    // GCE sub-block length 0xFF points past the end of the payload
    val bad = gif.clone()
    bad(21) = 0xff.toByte
    an[IllegalArgumentException] should be thrownBy Multimodal.decodeGif(bad)
    // trailer immediately after the GCT: no image descriptor to find
    val noImage = gif.take(19) :+ 0x3b.toByte
    an[IllegalArgumentException] should be thrownBy Multimodal.decodeGif(noImage)
    // an unknown block introducer must fail loudly, not walk blindly
    val junk = gif.clone(); junk(19) = 0x7e.toByte
    an[IllegalArgumentException] should be thrownBy Multimodal.decodeGif(junk)
  }

  it should "round-trip all three WebP container variants" in {
    def hex4(c: Array[Byte]) = c.take(4).map(b => f"${b & 0xff}%02x").mkString
    // L=12 → L%3=0 → lossy VP8, even L → no pad
    val vp8 = "abcdefghijkl".getBytes("UTF-8")
    Multimodal.decodeWebp(Multimodal.toWebp(vp8)) shouldBe
      (1 + 12 % 64, 1 + 12 % 48, 3, hex4(vp8))
    Multimodal.toWebp(vp8).length shouldBe 30 + 12
    // L=13 → L%3=1 → lossless VP8L (channels 4); 5+13 even → no pad
    val vp8l = "abcdefghijklm".getBytes("UTF-8")
    Multimodal.decodeWebp(Multimodal.toWebp(vp8l)) shouldBe
      (1 + 13 % 64, 1 + 13 % 48, 4, hex4(vp8l))
    Multimodal.toWebp(vp8l).length shouldBe 25 + 13
    // L=14 → L%3=2 → extended VP8X, even L → no alpha, no pad; the
    // feature must come from the EXIF chunk BEHIND the VP8X header
    val vp8x = "abcdefghijklmn".getBytes("UTF-8")
    Multimodal.decodeWebp(Multimodal.toWebp(vp8x)) shouldBe
      (1 + 14 % 64, 1 + 14 % 48, 3, hex4(vp8x))
    Multimodal.toWebp(vp8x).length shouldBe 38 + 14
    // L=17 → VP8X with alpha (odd L): channels 4 and the odd EXIF payload
    // forces the even-padding rule on the walk
    val alpha = "abcdefghijklmnopq".getBytes("UTF-8")
    Multimodal.decodeWebp(Multimodal.toWebp(alpha)) shouldBe
      (1 + 17 % 64, 1 + 17 % 48, 4, hex4(alpha))
    Multimodal.toWebp(alpha).length shouldBe 38 + 17 + 1
  }

  it should "fail fast on corrupt or truncated WebP containers" in {
    an[IllegalArgumentException] should be thrownBy
      Multimodal.decodeWebp("definitely not webp....".getBytes("UTF-8"))
    val good = Multimodal.toWebp("abcdefghijkl".getBytes("UTF-8"))
    // wrong declared RIFF size
    val badSize = good.clone(); badSize(4) = (badSize(4) + 1).toByte
    an[IllegalArgumentException] should be thrownBy Multimodal.decodeWebp(badSize)
    // clobbered VP8 start code
    val badStart = good.clone(); badStart(23) = 0
    an[IllegalArgumentException] should be thrownBy Multimodal.decodeWebp(badStart)
    // unknown first chunk fourcc
    val badCc = good.clone(); badCc(12) = 'X'.toByte
    an[IllegalArgumentException] should be thrownBy Multimodal.decodeWebp(badCc)
    // VP8X whose EXIF chunk is missing (truncate right after the header)
    val x = Multimodal.toWebp("abcdefghijklmn".getBytes("UTF-8"))
    val headerOnly = java.util.Arrays.copyOf(x, 30)
    headerOnly(4) = 22 // fix the RIFF size for the truncated container
    an[IllegalArgumentException] should be thrownBy Multimodal.decodeWebp(headerOnly)
  }

  it should "walk ZIP central directories and verify entry CRCs" in {
    val zip = Multimodal.toZip(Seq(
      "b.txt" -> "hello zip".getBytes("UTF-8"),
      "a.txt" -> "world".getBytes("UTF-8")))
    val (names, n, total, ok) = Multimodal.decodeZip(zip)
    (names, n, total, ok) shouldBe (("a.txt,b.txt", 2, 14L, true))
    // tamper the directory's CRC field → decoder flags the mismatch
    val cdAt = {
      var i = 0
      while (!(zip(i) == 'P' && zip(i + 1) == 'K' && zip(i + 2) == 1 &&
        zip(i + 3) == 2)) i += 1
      i
    }
    val tampered = zip.clone(); tampered(cdAt + 16) = (tampered(cdAt + 16) ^ 0x55).toByte
    Multimodal.decodeZip(tampered)._4 shouldBe false
    // clobbered EOCD magic fails loudly
    val noEocd = zip.clone()
    var j = noEocd.length - 22
    while (!(noEocd(j) == 'P' && noEocd(j + 1) == 'K' && noEocd(j + 2) == 5 &&
      noEocd(j + 3) == 6)) j -= 1
    noEocd(j + 2) = 9
    an[IllegalArgumentException] should be thrownBy Multimodal.decodeZip(noEocd)
  }

  it should "walk ustar blocks, group WebDataset samples, and verify header checksums" in {
    val tar = Multimodal.toTar(Seq(
      "7.txt" -> "hello tar".getBytes("UTF-8"),
      "7.json" -> """{"id":7}""".getBytes("UTF-8"),
      "9.txt" -> "second sample".getBytes("UTF-8")))
    // 3 headers + 3 one-block payloads + 1024 end marker
    tar.length shouldBe 3 * 512 + 3 * 512 + 1024
    val (names, n, groups, total, ok) = Multimodal.decodeTar(tar)
    (names, n, groups, total, ok) shouldBe
      (("7.json,7.txt,9.txt", 3, 2, 9L + 8L + 13L, true))
    // an exactly-block-sized payload gets no padding block
    val full = Multimodal.toTar(Seq("a.bin" -> new Array[Byte](512)))
    full.length shouldBe 512 + 512 + 1024
    Multimodal.decodeTar(full)._4 shouldBe 512L
    // full extraction returns every payload byte-exact, in archive order
    val entries = Multimodal.parseTarEntries(tar)
    entries.map(_._1) shouldBe Seq("7.txt", "7.json", "9.txt")
    new String(entries(0)._2, "UTF-8") shouldBe "hello tar"
    new String(entries(2)._2, "UTF-8") shouldBe "second sample"
    // tampering any header byte breaks that header's checksum
    val tampered = tar.clone(); tampered(0) = 'z'
    Multimodal.decodeTar(tampered)._5 shouldBe false
    // …and extraction (the trust boundary) refuses the same archive
    an[IllegalArgumentException] should be thrownBy Multimodal.parseTarEntries(tampered)
    // a clobbered magic fails loudly
    val badMagic = tar.clone(); badMagic(257) = 'x'
    an[IllegalArgumentException] should be thrownBy Multimodal.decodeTar(badMagic)
    // a truncated archive (end marker cut) fails loudly
    val truncated = java.util.Arrays.copyOf(tar, tar.length - 1024)
    an[IllegalArgumentException] should be thrownBy Multimodal.decodeTar(truncated)
  }

  it should "round-trip PDF structure through the xref walk" in {
    val text = "hello pdf corpus" // 16 bytes → 2 pages
    val pdf = Multimodal.toPdf(text.getBytes("UTF-8"))
    pdf.length shouldBe 317 + 16 + 97 * 2
    val (v, np, no, sl, f) = Multimodal.decodePdf(pdf)
    (v, np, no, sl) shouldBe (("1.4", 2, 5, 16L))
    f shouldBe "hello pdf co"
    // empty stream → 1 page, 4 objects
    Multimodal.decodePdf(Multimodal.toPdf(Array.empty[Byte])) shouldBe
      (("1.4", 1, 4, 0L, ""))
  }

  it should "fail fast on corrupt PDF containers" in {
    an[IllegalArgumentException] should be thrownBy
      Multimodal.decodePdf("not a pdf at all".getBytes("UTF-8"))
    val good = Multimodal.toPdf("abcdef".getBytes("UTF-8"))
    // startxref pointing into the middle of an object
    val s = new String(good, "US-ASCII")
    val at = s.lastIndexOf("startxref") + 10
    val bad = good.clone(); bad(at) = '9'.toByte
    an[IllegalArgumentException] should be thrownBy Multimodal.decodePdf(bad)
    // clobber one Page type tag → declared /Count no longer matches
    val pAt = s.indexOf("/Type /Page /Parent")
    val badPage = good.clone(); badPage(pAt + 7) = 'X'.toByte
    an[IllegalArgumentException] should be thrownBy Multimodal.decodePdf(badPage)
  }

  it should "round-trip a real WAV header through encode and decode" in {
    val content = "hello world".getBytes("UTF-8") // 11 bytes
    val wav = Multimodal.toWav(content)
    new String(wav, 0, 4, "US-ASCII") shouldBe "RIFF"
    val a = Multimodal.decodeWav(wav)
    a.byte_len shouldBe 44 + 22
    a.sample_rate shouldBe 8000 + (11 % 8) * 1000
    a.channels shouldBe 1
    a.bits_per_sample shouldBe 16
    a.n_samples shouldBe 11L
    a.duration_ms shouldBe 11L * 1000 / a.sample_rate
  }

  it should "decode audio batches with intact schema" in {
    val docs = Seq(Doc(7, "abc", "s")).toDS.toDF()
    val out = Multimodal.decodeAudioBatched(Multimodal.asAudio(docs, "doc_id", "text"))
      .collect()
    out shouldBe Array(DecodedAudio(7, 44 + 6, 11000, 1, 16, 3, 3 * 1000 / 11000))
  }

  it should "resize a BMP by nearest-neighbor resampling" in {
    // "hello": w=6, h=6, rowSize=20, data[i] = content[i % 5]
    val bmp = Multimodal.toBmp("hello".getBytes("US-ASCII"))
    val out = Multimodal.resizeBmp(bmp, 2, 2)
    val (w, h, c, feature) = Multimodal.decodePayload(out)
    (w, h, c) shouldBe ((2, 2, 3))
    out.length shouldBe 54 + 8 * 2 // dstRow = ((2*3+3)/4)*4 = 8
    // pixel(0,0) = src(0,0) = "hel"; pixel(1,0) = src(x=3,y=0) byte 9 = 'o'
    feature shouldBe "68656c6f"
  }

  it should "perceptually hash images and find planted near-dups via banded Hamming join" in {
    // identical payloads hash identically
    val bmp = Multimodal.toBmp("the quick brown fox jumps over the lazy dog".getBytes)
    Multimodal.aHash(bmp) shouldBe Multimodal.aHash(bmp.clone())
    // a hash is a genuine 64-bit split: both halves in [0, 2^32)
    val (lo, hi) = Multimodal.aHash(bmp)
    lo should be >= 0L; lo should be < (1L << 32)
    hi should be >= 0L; hi should be < (1L << 32)
    // planted near-dups: same text with a small overwrite, same length
    val texts = (0 until 20).map(i => s"document number $i with enough text to vary " * 3)
    val media = texts.zipWithIndex.flatMap { case (t, i) =>
      Seq(MediaRecord(i.toLong, Multimodal.toBmp(t.getBytes), "image"),
        MediaRecord(i.toLong + 1000, Multimodal.toBmp(("x" * 16 + t.drop(16)).getBytes), "image"))
    }.toDS
    val pairs = Multimodal.phashNearDupPairs(
      Multimodal.aHashBatched(media), maxHamming = 6).collect()
    // every pair's Hamming matches a direct bit-count recomputation
    val hs = Multimodal.aHashBatched(media).collect().map(h => h.id -> h).toMap
    pairs.foreach { r =>
      val (a, b) = (hs(r.getLong(0)), hs(r.getLong(1)))
      r.getInt(2) shouldBe (java.lang.Long.bitCount(a.phash_lo ^ b.phash_lo) +
        java.lang.Long.bitCount(a.phash_hi ^ b.phash_hi))
    }
    // pigeonhole guarantee: every true pair with Hamming <= 3 is found
    val all = hs.values.toSeq
    val truth = for {
      a <- all; b <- all if a.id < b.id
      d = java.lang.Long.bitCount(a.phash_lo ^ b.phash_lo) +
        java.lang.Long.bitCount(a.phash_hi ^ b.phash_hi)
      if d <= 3
    } yield (a.id, b.id)
    val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    truth.foreach(p => found should contain(p))
  }

  it should "window PCM samples into frames with exact means" in {
    val wav = Multimodal.toWav("ab".getBytes("US-ASCII")) // samples 97, 98
    val f = Multimodal.frameStats(wav, frameLen = 1)
    (f.n_samples, f.n_frames) shouldBe ((2L, 2L))
    f.first_mean shouldBe 97.0
    f.max_mean shouldBe 98.0
    val one = Multimodal.frameStats(wav, frameLen = 256)
    (one.n_frames, one.first_mean) shouldBe ((1L, 97.5))
  }

  it should "reject non-WAV payloads" in {
    an[IllegalArgumentException] should be thrownBy
      Multimodal.decodeWav(Multimodal.toBmp("x".getBytes))
  }

  it should "fuse rankings by reciprocal rank" in {
    val r1 = Seq((1L, 10L, 1), (1L, 11L, 2)).toDF("query_id", "neighbor_id", "rank")
    val r2 = Seq((1L, 11L, 1), (1L, 12L, 2)).toDF("query_id", "neighbor_id", "rank")
    val out = Similarity.rrfFuse(Seq(r1, r2), k = 3)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getInt(3)))
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    // B appears in both rankings and must win; A (rank 1 once) beats C
    out shouldBe Array(
      (11L, r6(1.0 / 62 + 1.0 / 61), 1),
      (10L, r6(1.0 / 61), 2),
      (12L, r6(1.0 / 62), 3))
  }

  it should "score BM25 with tf saturation and length normalization" in {
    val docs = Seq(
      Doc(1, "spark", "s"),
      Doc(2, "spark spark", "s"),
      Doc(3, "spark filler filler filler filler filler", "s"),
      Doc(4, "nothing relevant here", "s")
    ).toDS.toDF()
    val rows = Corpus.bm25Score(docs, "doc_id", "text", Seq("spark", "window"))
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    rows.keySet shouldBe Set(1L, 2L, 3L)        // doc 4 matches nothing
    rows(2L) should be > rows(1L)               // higher tf → higher score
    rows(2L) should be < rows(1L) * 2           // ...but saturated, not linear
    rows(3L) should be < rows(1L)               // longer doc penalized
  }

  it should "build a confusion matrix with per-actual shares" in {
    val preds = Seq(
      ("en", "en"), ("en", "en"), ("en", "de"), ("de", "de")
    ).toDF("lang", "lang_pred")
    val out = Corpus.confusionMatrix(preds, "lang", "lang_pred")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    out shouldBe Array(
      ("de", "de", 1L, 1.0),
      ("en", "de", 1L, math.rint(1.0 / 3 * 1e6) / 1e6),
      ("en", "en", 2L, math.rint(2.0 / 3 * 1e6) / 1e6))
  }

  it should "score LOF 1.0 across a duplicate cluster (duplicate-point guard)" in {
    // colinear scaled vectors: every pairwise cosine is 1, every distance
    // 0 — the 1e-12 reachability floor kicks in, all lrds are equal, so
    // every LOF is exactly 1.0 after rounding
    val base = Seq(1f, 1f, 1f, 1f, 1f, 1f, 1f, 0f)
    val vecs = (0L to 4L).map(i => Vec(i, base.map(_ * (1f + i)))).toDS.toDF()
    val out = Similarity.lofScores(vecs, "vec_id", "embedding",
        dim = 8, planes = 8, bands = 1, k = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    out.length shouldBe 5
    all(out.map(_._3)) shouldBe 1.0
    all(out.map(_._2)) should be > 1e11 // lrd = deg / 1e-12 floor
  }

  it should "verify banded candidates by prefix edit distance" in {
    val docs = Seq(
      Doc(1, "the quick brown fox jumps over the lazy dog today", "s"),
      Doc(2, "the quick brown fox jumps over the lazy dogs today", "s"),
      Doc(3, "completely unrelated words about spark shuffles here", "s")
    ).toDS.toDF()
    val out = Dedup.editDistanceNearDups(docs, "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 8, prefixChars = 200, maxDist = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getInt(2)), r.getBoolean(3)))
    val pair12 = out.find(p => p._1 == 1L && p._2 == 2L)
    pair12 should be (defined)   // one shared-shingle band must collide
    pair12.get._3 shouldBe Some(1) // dog → dogs
    pair12.get._4 shouldBe true
    // beyond-threshold pairs early-exit: null distance, not flagged
    out.filter(p => p._2 == 3L || p._1 == 3L).foreach { p =>
      p._3 shouldBe None
      p._4 shouldBe false
    }
  }

  it should "histogram within-cell pair cosines into fixed bins" in {
    // four colinear vectors: identical direction → every pair has cos 1,
    // all land in one cell, all pairs fall in the top bin
    val vecs = (1L to 4L).map(i =>
      Vec(i, Seq(i.toFloat, 0f, 0f))).toDS.toDF()
    val out = Similarity.cellPairHistogram(vecs, "vec_id", "embedding",
        numCentroids = 2, lloydRounds = 1, nBins = 10)
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getLong(2)))
    out shouldBe Array((9, 0.8, 6L))
  }

  it should "select the best documents until the token budget is spent" in {
    val docs = Seq(
      Doc(1, "the a and of to in is it that this", "s"),  // all stopwords
      Doc(2, "zig zag quux blorp", "s"),                  // no stopwords
      Doc(3, "the a and of zig zag", "s")
    ).toDS.toDF()
    val out = Corpus.tokenBudgetSelect(docs, "doc_id", "text", 15L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    // quality order: doc 1 (stopFrac 1) > doc 3 (stopFrac 4/6) > doc 2;
    // 10 + 6 = 16 > 15, so doc 3 is cut mid-budget and doc 2 never starts
    out.map(_._1) shouldBe Array(1L)
    out(0)._4 shouldBe 10L
    // raising the budget admits doc 3 next — order follows quality, not id
    val wide = Corpus.tokenBudgetSelect(docs, "doc_id", "text", 16L)
      .collect().map(r => (r.getLong(0), r.getLong(3)))
    wide shouldBe Array((1L, 10L), (3L, 16L))
  }

  it should "round-trip TIFF headers in both byte orders" in {
    val even = Multimodal.decodeTiff(Multimodal.toTiff("abcd".getBytes)) // II
    (even.endian, even.byte_len, even.width, even.height, even.samples,
      even.n_entries) shouldBe (("II", 66, 5, 5, 2, 4))
    val odd = Multimodal.decodeTiff(Multimodal.toTiff("abcde".getBytes)) // MM
    (odd.endian, odd.width, odd.height, odd.samples) shouldBe (("MM", 6, 6, 3))
    odd.bits shouldBe 8
  }

  it should "reject corrupt TIFF containers" in {
    an[IllegalArgumentException] should be thrownBy
      Multimodal.decodeTiff(Multimodal.toBmp("x".getBytes))
    val t = Multimodal.toTiff("hi".getBytes)
    an[IllegalArgumentException] should be thrownBy
      Multimodal.decodeTiff(t.take(20)) // truncated IFD
  }

  it should "walk every frame of an animated GIF to the trailer" in {
    // L=5 -> 3 frames (2,2,1 bytes), loop 0; L=4 -> 2 frames, loop 4
    val a = Multimodal.decodeGifFrames(Multimodal.toGifAnimated("abcde".getBytes))
    (a.n_frames, a.n_gce, a.loop_count, a.data_bytes) shouldBe ((3, 3, 0, 5))
    (a.width, a.height) shouldBe ((6, 6))
    a.byte_len shouldBe (39 + 20 * 3 + 5 + 3)
    val b = Multimodal.decodeGifFrames(Multimodal.toGifAnimated("abcd".getBytes))
    (b.n_frames, b.loop_count, b.data_bytes) shouldBe ((2, 4, 4))
    // the single-frame builder parses too (loop absent -> -1)
    val single = Multimodal.decodeGifFrames(Multimodal.toGif("abc".getBytes))
    (single.n_frames, single.loop_count) shouldBe ((1, -1))
    // truncation mid-walk fails loudly
    an[IllegalArgumentException] should be thrownBy
      Multimodal.decodeGifFrames(Multimodal.toGifAnimated("abcde".getBytes).dropRight(2))
  }

  it should "extract Exif orientation and SOF0 dims from the JPEG segment walk" in {
    val even = Multimodal.decodeExif(Multimodal.toExifJpeg("abcd".getBytes)) // II
    (even.endian, even.byte_len, even.n_entries) shouldBe (("II", 69, 2))
    (even.orientation, even.resolution_unit) shouldBe ((5, 2)) // 1+4%8, 1+4%3
    (even.width, even.height) shouldBe ((5, 5))
    val odd = Multimodal.decodeExif(Multimodal.toExifJpeg("abcde".getBytes)) // MM
    (odd.endian, odd.orientation, odd.resolution_unit) shouldBe (("MM", 6, 3))
    // a JPEG without APP1 (the plain fixture) refuses loudly
    an[IllegalArgumentException] should be thrownBy
      Multimodal.decodeExif(Multimodal.toExifJpeg("ab".getBytes).patch(2,
        Array[Byte](0xff.toByte, 0xfe.toByte), 2)) // APP1 -> COM marker
    // truncation inside the APP1 segment refuses loudly
    an[IllegalArgumentException] should be thrownBy
      Multimodal.decodeExif(Multimodal.toExifJpeg("abcd".getBytes).take(30))
  }

  it should "cap any source at the corpus share budget" in {
    // source A: 8 docs (80%), B: 2 — a 30% cap budgets A at 3, B at 2
    val docs = ((1L to 8L).map(i => Doc(i, s"doc $i", "A")) ++
      Seq(Doc(9, "doc 9", "B"), Doc(10, "doc 10", "B"))).toDS.toDF()
    val out = Corpus.domainCapSample(docs, "doc_id", "source", 0.3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    out.count(_._2 == "A") shouldBe 3
    out.count(_._2 == "B") shouldBe 2
    out.filter(_._2 == "A").map(_._4).distinct shouldBe Array(3L)
    // deterministic across reruns
    val again = Corpus.domainCapSample(docs, "doc_id", "source", 0.3)
      .collect().map(_.getLong(0)).sorted
    again shouldBe out.map(_._1).sorted
  }

  it should "round-trip FLAC STREAMINFO bit fields through encode and decode" in {
    // 11 bytes → odd length exercises the 2-channel parity arm
    val flac = Multimodal.toFlac("hello world".getBytes("UTF-8"))
    new String(flac, 0, 4, "US-ASCII") shouldBe "fLaC"
    val a = Multimodal.decodeFlac(flac)
    a.byte_len shouldBe 46 + 11
    a.sample_rate shouldBe 16000 + (11 % 4) * 4000
    a.channels shouldBe 2
    a.bits_per_sample shouldBe 16
    a.n_samples shouldBe 11L
    a.duration_ms shouldBe 11L * 1000 / a.sample_rate
    // even length → mono, different rate residue
    val b = Multimodal.decodeFlac(Multimodal.toFlac("abcd".getBytes))
    (b.channels, b.sample_rate) shouldBe ((1, 16000))
  }

  it should "reject corrupt FLAC containers" in {
    an[IllegalArgumentException] should be thrownBy
      Multimodal.decodeFlac(Multimodal.toWav("x".getBytes))
    val flac = Multimodal.toFlac("hello".getBytes)
    // truncating the vorbis block makes the chain walk overrun
    an[IllegalArgumentException] should be thrownBy
      Multimodal.decodeFlac(flac.take(flac.length - 2))
    // a non-STREAMINFO first block violates the spec ordering
    val wrong = flac.clone(); wrong(4) = 0x04.toByte
    an[IllegalArgumentException] should be thrownBy Multimodal.decodeFlac(wrong)
  }

  it should "decode FLAC batches with intact schema" in {
    val docs = Seq(Doc(7, "abc", "s")).toDS.toDF()
    val out = Multimodal.decodeFlacBatched(Multimodal.asFlac(docs, "doc_id", "text"))
      .collect()
    out shouldBe Array(DecodedAudio(7, 49, 28000, 2, 16, 3, 3 * 1000 / 28000))
  }

  it should "walk MP3 frames behind an ID3 tag and reject corrupt containers" in {
    // "hello world" = 11 bytes: kbps=160 (11%5=1), sr=32000 (11%3=2),
    // stereo (odd), 2+11%4=5 frames, id3 body = 11
    val mp3 = Multimodal.toMp3("hello world".getBytes("UTF-8"))
    new String(mp3, 0, 3, "US-ASCII") shouldBe "ID3"
    val d = Multimodal.decodeMp3(mp3)
    d.n_frames shouldBe 5
    d.bitrate_kbps shouldBe 160
    d.sample_rate shouldBe 32000
    d.channels shouldBe 2
    d.id3_bytes shouldBe 11
    d.byte_len shouldBe 10 + 11 + 5 * (144 * 160 * 1000 / 32000)
    d.duration_ms shouldBe 5L * 1152 * 1000 / 32000
    // truncation mid-frame loses sync / overruns
    an[IllegalArgumentException] should be thrownBy
      Multimodal.decodeMp3(mp3.take(mp3.length - 3))
    // a VBR frame (different bitrate index) violates the CBR contract
    val vbr = mp3.clone()
    val firstFrame = 10 + 11
    vbr(firstFrame + 2) = (((9 << 4) | (2 << 2)).toByte) // 128 kbps, not 160
    an[IllegalArgumentException] should be thrownBy Multimodal.decodeMp3(vbr)
    // not an MP3 at all
    an[IllegalArgumentException] should be thrownBy
      Multimodal.decodeMp3(Multimodal.toWav("x".getBytes))
  }

  behavior of "contrastive mining and coreset selection"

  it should "mine the hardest positive and negative per anchor with the margin" in {
    // labels: {1,2}=A, {3,4}=B; cos(1,2)≈0.994, cos(1,3)=0, cos(1,4)=-1
    val emb = Seq(
      (1L, Seq(1f, 0f), 1), (2L, Seq(0.9f, 0.1f), 1),
      (3L, Seq(0f, 1f), 2), (4L, Seq(-1f, 0f), 2)
    ).toDF("vec_id", "embedding", "label")
    val t = Similarity.tripletMine(
        emb, emb.filter($"vec_id" === 1), "vec_id", "embedding", "label")
      .collect()
    t.length shouldBe 1
    t(0).getAs[Long]("positive_id") shouldBe 2L
    t(0).getAs[Long]("negative_id") shouldBe 3L // cos 0 beats cos -1
    t(0).getAs[Double]("margin") should be > 0.9
    // hard negatives exclude the same-label near-twin entirely
    val hn = Similarity.hardNegatives(
        emb, emb.filter($"vec_id" === 1), "vec_id", "embedding", "label", 5)
      .collect().map(_.getAs[Long]("neighbor_id")).sorted
    hn shouldBe Array(3L, 4L)
  }

  it should "predict labels by neighbor majority with deterministic ties" in {
    val emb = Seq(
      (1L, Seq(1f, 0f), 1), (2L, Seq(0.9f, 0.1f), 1),
      (3L, Seq(0f, 1f), 2), (4L, Seq(-1f, 0f), 2)
    ).toDF("vec_id", "embedding", "label")
    // query 1's 3 neighbors vote: label 1 once (v2), label 2 twice
    val r = Similarity.knnLabelEval(
        emb, emb.filter($"vec_id" === 1), "vec_id", "embedding", "label", 3)
      .collect()
    r.length shouldBe 1
    r(0).getAs[Long]("predicted_label") shouldBe 2L
    r(0).getAs[Long]("n_votes") shouldBe 2L
    r(0).getAs[Boolean]("correct") shouldBe false
  }

  it should "select k spread centers whose coverage is self-consistent" in {
    val emb = (0L until 12L)
      .map(i => (i, Seq(math.cos(i / 12.0 * math.Pi).toFloat,
        math.sin(i / 12.0 * math.Pi).toFloat)))
      .toDF("vec_id", "embedding")
    val out = Similarity.kcenterCoreset(emb, "vec_id", "embedding", k = 3)
      .collect()
    out.length shouldBe 12
    val selected = out.filter(_.getAs[Boolean]("selected"))
    selected.length shouldBe 3
    // every selected point is its own center at cosine 1
    selected.foreach { r =>
      r.getAs[Long]("center_id") shouldBe r.getAs[Long]("vec_id")
      r.getAs[Double]("center_sim") shouldBe 1.0 +- 1e-9
    }
    // every point's coverage equals its best cosine to the chosen set
    val cents = selected.map(_.getAs[Long]("vec_id")).toSet
    val vecs = (0L until 12L).map(i =>
      i -> (math.cos(i / 12.0 * math.Pi), math.sin(i / 12.0 * math.Pi))).toMap
    def cos(a: (Double, Double), b: (Double, Double)) =
      (a._1 * b._1 + a._2 * b._2) /
        (math.sqrt(a._1 * a._1 + a._2 * a._2) * math.sqrt(b._1 * b._1 + b._2 * b._2))
    out.foreach { r =>
      val bestSim = cents.map(c => cos(vecs(r.getAs[Long]("vec_id")), vecs(c))).max
      r.getAs[Double]("center_sim") shouldBe bestSim +- 1e-5
    }
  }

  it should "export lag and trailing-mean features per observed user-day" in {
    import java.sql.Timestamp
    def ts(day: Int) = new Timestamp(day * 86400000L)
    val ev = Seq(
      (1L, ts(0), 1.0), (1L, ts(0), 1.0), // day 0: total 2.0, 2 events
      (1L, ts(1), 4.0),                   // day 1: 4.0
      (1L, ts(3), 6.0)                    // day 3 (day 2 skipped): 6.0
    ).toDF("user_id", "ts", "value")
    val r = EventOps.lagFeatures(ev, "user_id", "ts", "value")
      .orderBy("day").collect()
    r.map(_.getAs[Double]("day_value")).toSeq shouldBe Seq(2.0, 4.0, 6.0)
    r.map(_.getAs[Long]("n_events")).toSeq shouldBe Seq(2L, 1L, 1L)
    // row lags skip the unobserved day by design
    r(0).isNullAt(r(0).fieldIndex("lag1_value")) shouldBe true
    r(1).getAs[Double]("lag1_value") shouldBe 2.0
    r(2).getAs[Double]("lag1_value") shouldBe 4.0
    r.map(_.getAs[Double]("roll7_mean")).toSeq shouldBe Seq(2.0, 3.0, 4.0)
  }

  behavior of "empty inputs"

  it should "return empty results, not errors, across the dedup and similarity ops" in {
    val docs = spark.emptyDataset[Doc].toDF()
    val vecs = spark.emptyDataset[Vec].toDF()
    Dedup.exactDedup(docs, "doc_id", "text").count() shouldBe 0
    Dedup.minhashNearDupPairs(docs, "doc_id", "text").count() shouldBe 0
    Dedup.ngramJaccardPairs(docs, "doc_id", "text", "source").count() shouldBe 0
    Dedup.simhashNearDupPairs(docs, "doc_id", "text").count() shouldBe 0
    Similarity.bruteForceTopK(vecs, vecs, "vec_id", "embedding", 5).count() shouldBe 0
    Similarity.lshCosineNearDupPairs(vecs, "vec_id", "embedding", dim = 8).count() shouldBe 0
    Similarity.ivfTopK(vecs, vecs, "vec_id", "embedding", k = 5).count() shouldBe 0
  }

  it should "decode payload batches with intact schema" in {
    val docs = Seq(Doc(1, "hello", "s"), Doc(2, "x" * 1000, "s")).toDS.toDF()
    val out = Multimodal.decodeBatched(Multimodal.asMedia(docs, "doc_id", "text"))
      .orderBy("id").collect()
    out.length shouldBe 2
    // len=5: w=6, h=6, rowSize=20 -> 54 + 120 bytes; pixels start "hell"+pad
    out(0) shouldBe DecodedMedia(1, 174, 6, 6, 3, "68656c6c")
    // len=1000: w=41, h=41, rowSize=124
    out(1) shouldBe DecodedMedia(2, 54 + 124 * 41, 41, 41, 3, "78787878")
  }

  behavior of "Components"

  it should "propagate min labels through chains, not just stars" in {
    // 1-2, 2-3, 3-4 is a diameter-3 chain: label 1 must travel three hops;
    // 10 is a singleton that keeps its own id.
    val vertices = Seq(1L, 2L, 3L, 4L, 10L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val out = Components.connectedComponents(vertices, "id", edges, "a", "b")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    out shouldBe Array((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (10L, 10L))
  }

  it should "match hand-computed PageRank on a path graph with a singleton" in {
    // path 1-2-3 plus isolated 4; GraphX static convention, 3 iterations:
    //   iter1: pr = (0.575, 1.85, 0.575)
    //   iter2: pr = (0.93625, 1.1275, 0.93625)
    //   iter3: pr = (0.6291875, 1.741625, 0.6291875); singleton stays 0.15
    val vertices = Seq(1L, 2L, 3L, 4L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val out = Components.pageRank(vertices, "id", edges, "a", "b")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    out shouldBe Array((1L, 0.629188), (2L, 1.741625), (3L, 0.629188), (4L, 0.15))
  }

  it should "report full recall when banding catches every true pair" in {
    val docs = Seq(
      Doc(1, "alpha beta gamma delta epsilon zeta", "s"),
      Doc(2, "alpha beta gamma delta epsilon zeta", "s"), // exact dup of 1
      Doc(3, "one two three four five six seven", "s")
    ).toDS.toDF()
    val out = Dedup.lshRecallEval(docs, "doc_id", "text").collect()(0)
    (out.getLong(0), out.getLong(1), out.getLong(2),
      out.getDouble(3), out.getDouble(4)) shouldBe (1L, 1L, 1L, 1.0, 1.0)
  }

  it should "agree with brute-force closure on randomized graphs" in {
    val rng = new scala.util.Random(42) // fixed seed: deterministic cases
    (1 to 3).foreach { _ =>
      val n = 30
      val edges = Seq.fill(25)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // brute force: repeated relabel to min over edges until fixpoint
      var label = (0L until n).map(i => i -> i).toMap
      var changed = true
      while (changed) {
        changed = false
        edges.foreach { case (a, b) =>
          val m = math.min(label(a), label(b))
          if (label(a) != m || label(b) != m) {
            label += (a -> m); label += (b -> m); changed = true
          }
        }
      }
      val vertices = (0L until n).toDF("id")
      val out = Components.connectedComponents(
          vertices, "id", edges.toDF("a", "b"), "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      out shouldBe label
    }
  }

  it should "mark one keeper per duplicate cluster" in {
    val docs = Seq(Doc(1, "x", "s"), Doc(2, "x", "s"), Doc(3, "y", "s")).toDS.toDF()
    val pairs = Seq((1L, 2L)).toDF("a_id", "b_id")
    val out = Components.dedupClusters(docs, "doc_id", pairs, "a_id", "b_id")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    out shouldBe Array((1L, 1L, true), (2L, 1L, false), (3L, 3L, true))
  }

  it should "count triangles and wedges on a hand-checked graph" in {
    // triangle {1,2,3} plus pendant edge 3-4: degrees 2,2,3,1 ->
    // wedges = 1+1+3+0 = 5, cc = 3*1/5 = 0.6
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val out = triangleRow(pairs)
    out shouldBe ((4L, 1L, 5L, 0.6))
    // triangle-free graph: star 1-2, 1-3 has a wedge but no triangle
    triangleRow(Seq((1L, 2L), (1L, 3L)).toDF("a", "b")) shouldBe
      ((2L, 0L, 1L, 0.0))
    // empty edge set: all zeros, cc defined as 0
    triangleRow(Seq.empty[(Long, Long)].toDF("a", "b")) shouldBe
      ((0L, 0L, 0L, 0.0))
  }

  private def triangleRow(pairs: org.apache.spark.sql.DataFrame) = {
    val r = Components.triangleStats(pairs, "a", "b").collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
  }

  behavior of "Corpus text statistics"

  it should "score chi-square contributions against independence" in {
    // perfectly independent 2x2 grid: every cell matches its expectation
    val docs = Seq(
      Doc(1, "a", "s1"), Doc(2, "a", "s1"), Doc(3, "a", "s2"),
      Doc(4, "b", "s1"), Doc(5, "b", "s1"), Doc(6, "b", "s2")
    ).toDS.toDF().withColumn("lang", col("text"))
    val out = Corpus.mixChiSquare(docs, "lang", "source")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).sortBy(t => (t._1, t._2))
    out.length shouldBe 4
    out.foreach { case (_, _, n, e, chi2) =>
      e shouldBe n.toDouble +- 1e-9
      chi2 shouldBe 0.0 +- 1e-9
    }
    // skewed grid: the displaced cells carry the contribution
    val skew = Seq(
      Doc(1, "a", "s1"), Doc(2, "a", "s1"), Doc(3, "b", "s2"), Doc(4, "b", "s2")
    ).toDS.toDF().withColumn("lang", col("text"))
    val chi = Corpus.mixChiSquare(skew, "lang", "source")
      .collect().map(_.getDouble(4)).sum
    // observed cells only: the two populated cells contribute (2-1)^2/1
    // each; the two EMPTY cells' e=1 contributions are absent by design
    chi shouldBe 2.0 +- 1e-9
  }

  it should "profile readability with the Flesch formula" in {
    val docs = Seq(Doc(1, "the cat sat. it sat!", "s")).toDS.toDF()
    val r = Corpus.readability(docs, "doc_id", "text").collect()(0)
    r.getInt(1) shouldBe 5 // words
    r.getInt(2) shouldBe 2 // sentence runs: "." and "!"
    r.getInt(3) shouldBe 5 // vowel groups: e, a, a, i, a
    r.getDouble(4) shouldBe
      (206.835 - 1.015 * (5.0 / 2) - 84.6 * (5.0 / 5)) +- 1e-6
  }

  it should "credit novel spans to the introducing document only" in {
    // doc 1 introduces "a b c"; doc 2 repeats it and adds nothing new;
    // doc 3 introduces its own gram. spanN=3.
    val docs = Seq(
      Doc(1, "a b c", "s"),
      Doc(2, "a b c", "s"),
      Doc(3, "x y z", "s"),
      Doc(4, "xy", "s") // shorter than spanN -> zero spans, frac 0
    ).toDS.toDF()
    val out = Corpus.noveltyProfile(docs, "doc_id", "text", spanN = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    out shouldBe Array(
      (1L, 1L, 1L, 1.0), (2L, 1L, 0L, 0.0), (3L, 1L, 1L, 1.0), (4L, 0L, 0L, 0.0))
  }

  it should "build a deterministic shard manifest with shares summing to 1" in {
    val docs = (0L to 19L).map(i => Doc(i, s"tok$i one two", "s")).toDS.toDF()
    val out = Corpus.shardManifest(docs, "doc_id", "text", nShards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    out.map(_._2).sum shouldBe 20L
    out.map(_._3).sum shouldBe 60L // 3 tokens per doc
    math.abs(out.map(_._4).sum - 1.0) should be < 1e-4
    all(out.map(_._1)) should (be >= 0L and be < 4L)
    // stable under repartitioning
    val again = Corpus.shardManifest(docs.repartition(7), "doc_id", "text", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    again.sorted shouldBe out.sorted
  }

  it should "extract each document's top TF-IDF keywords" in {
    val docs = Seq(
      Doc(1, "apple apple banana", "s"),
      Doc(2, "banana cherry", "s"),
      Doc(3, "cherry cherry cherry cherry", "s")).toDS.toDF()
    val out = Corpus.topTfidfTerms(docs, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(3)))
    out.count(_._1 == 1L) shouldBe 2
    // the doc-specific term beats the one shared with another doc
    out.find(t => t._1 == 1L && t._3 == 1).get._2 shouldBe "apple"
    out.find(t => t._1 == 3L && t._3 == 1).get._2 shouldBe "cherry"
    out.filter(_._1 == 3L).length shouldBe 1 // single-term doc: only 1 keyword
  }

  it should "fit Heaps' law with beta 1 on linear vocabulary growth" in {
    // doc i contributes exactly one unique token -> V(N) = N at every
    // checkpoint -> ln V = ln N -> beta = 1, ln K = 0
    val docs = (1L to 100L).map(i => Doc(i, s"tok$i", "s")).toDS.toDF()
    val r = Corpus.heapsFit(docs, "doc_id", "text").collect()(0)
    r.getLong(0) shouldBe 10L
    r.getDouble(1) shouldBe 1.0 +- 1e-6
    r.getDouble(2) shouldBe 0.0 +- 1e-6
    // a fully saturated vocabulary reports beta 0 (never negative zero)
    val flat = (1L to 100L).map(i => Doc(i, "same words everywhere", "s")).toDS.toDF()
    val f = Corpus.heapsFit(flat, "doc_id", "text").collect()(0)
    f.getDouble(1) shouldBe 0.0
    (1.0 / f.getDouble(1)).isNegInfinity shouldBe false // +0.0, not -0.0
  }

  it should "score behavioral entropy per user" in {
    val ev = Seq(
      (ts("2024-01-01 10:00:00"), 1L, "view", 1.0),
      (ts("2024-01-01 10:01:00"), 1L, "click", 1.0),
      (ts("2024-01-01 10:02:00"), 2L, "view", 1.0),
      (ts("2024-01-01 10:03:00"), 2L, "view", 1.0)
    ).toDF("ts", "user_id", "event_type", "value")
    val out = EventOps.userTypeEntropy(ev, "user_id", "event_type")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    out(0) shouldBe ((1L, 2L, 2L, math.rint(math.log(2) * 1e6) / 1e6))
    out(1)._4 shouldBe 0.0 // single-action user
  }

  it should "fit per-type daily-volume trends from exact integer moments" in {
    def at(day: Int, i: Int) = new java.sql.Timestamp(day * 86400000L + i * 1000L)
    val ev = (
      (0 until 1).map(i => (at(0, i), 1L, "grow", 1.0)) ++   // day 0: 1
      (0 until 2).map(i => (at(1, i), 1L, "grow", 1.0)) ++   // day 1: 2
      (0 until 3).map(i => (at(2, i), 1L, "grow", 1.0)) ++   // day 2: 3
      Seq((at(5, 0), 2L, "oneday", 1.0))
    ).toDF("ts", "user_id", "event_type", "value")
    val out = EventOps.typeTrend(ev, "event_type", "ts")
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getDouble(3)))
      .sortBy(_._1)
    out(0) shouldBe (("grow", 3L, Some(1.0), 2.0))   // counts 1,2,3 → slope 1
    out(1) shouldBe (("oneday", 1L, None, 1.0))      // zero x-variance → null
  }

  it should "flag metronomic inter-arrival cadence and pass bursty users" in {
    def at(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val ev = (
      (0 to 5).map(i => (at(i * 60L), 1L, "ping", 1.0)) ++     // exact 60 s beat
      Seq(0L, 1L, 2L, 3L, 600L, 601L).map(s => (at(s), 2L, "view", 1.0)) ++
      Seq((at(0L), 3L, "view", 1.0), (at(9L), 3L, "view", 1.0)) // too few gaps
    ).toDF("ts", "user_id", "event_type", "value")
    val out = EventOps.interArrivalRegularity(ev, "user_id", "ts")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getBoolean(4))).sortBy(_._1)
    out.map(_._1) shouldBe Array(1L, 2L)       // user 3 below minGaps
    out(0) shouldBe ((1L, 5L, 60000.0, 0.0, true))
    out(1)._2 shouldBe 5L
    out(1)._3 shouldBe 120200.0               // (4*1000 + 597000) / 5
    out(1)._4 should be > 0.3                 // bursty → high CV
    out(1)._5 shouldBe false
  }

  it should "profile session shape in one row" in {
    val ev = Seq(
      (ts("2024-01-01 10:00:00"), 1L, "view", 1.0),
      (ts("2024-01-01 10:10:00"), 1L, "click", 1.0),
      (ts("2024-01-01 12:00:00"), 1L, "view", 1.0),   // new session after gap
      (ts("2024-01-01 10:00:00"), 2L, "view", 1.0)    // bounce
    ).toDF("ts", "user_id", "event_type", "value")
    val r = EventOps.sessionProfile(ev, "user_id", "ts", 30 * 60 * 1000L)
      .collect()(0)
    r.getLong(0) shouldBe 3L                           // sessions
    r.getLong(1) shouldBe 2L                           // bounces
    r.getDouble(2) shouldBe math.rint(2.0 / 3 * 1e6) / 1e6
    r.getDouble(3) shouldBe math.rint(4.0 / 3 * 1e6) / 1e6
    r.getDouble(4) shouldBe 0.0                        // p50 of [0,0,600000]
    r.getDouble(5) shouldBe 480000.0                   // interpolated p90
  }

  it should "calibrate quality quartiles against exact-dup membership" in {
    val docs = ((1L to 8L).map(i =>
      Doc(i, ("filler " * i.toInt) + s"unique$i", "s")) ++
      Seq(Doc(9, "copy of this", "s"), Doc(10, "copy of this", "s"))).toDS.toDF()
    val out = Corpus.qualityDupCalibration(docs, "doc_id", "text")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    out.map(_._2).sum shouldBe 10L        // every doc lands in a quartile
    out.map(_._3).sum shouldBe 2L         // exactly the two copies are dups
    all(out.map(_._1)) should (be >= 0 and be <= 3)
  }

  it should "measure per-source drift as Jensen-Shannon divergence" in {
    // A: {x:2, y:1} (N=3); B: {x:1, z:1} (N=2) — B is exactly A's
    // complement, so the two rows must agree (JSD is symmetric)
    val docs = Seq(Doc(1, "x x y", "A"), Doc(2, "x z", "B")).toDS.toDF()
    val out = Corpus.jsDivergenceBySource(docs, "text", "source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    val ln = (x: Double) => math.rint(math.log(x) * 1e12) / 1e12 // DECIMAL canon
    val px = 2.0 / 3; val qx = 1.0 / 2
    val jsdA = 0.5 * (px * ln(2.0 * px / (px + qx)) + (1.0 / 3) * ln(2.0)
      + qx * ln(2.0 * qx / (px + qx)) + (1.0 / 2) * ln(2.0))
    out(0)._1 shouldBe "A"
    out(0)._2 shouldBe 3L
    out(0)._3 shouldBe 2L
    out(0)._4 shouldBe (math.rint(jsdA * 1e6) / 1e6 +- 1e-9)
    out(1)._4 shouldBe out(0)._4
    // single source: only the p-side KL carries mass -> (ln 2)/2
    val solo = Corpus.jsDivergenceBySource(
        Seq(Doc(1, "a b", "S")).toDS.toDF(), "text", "source")
      .collect()(0).getDouble(3)
    solo shouldBe (math.rint(0.5 * ln(2.0) * 1e6) / 1e6 +- 1e-9)
  }

  it should "weight terms by smoothed tf-idf" in {
    val docs = Seq(Doc(1, "a a b", "s"), Doc(2, "a c", "s")).toDS.toDF()
    val out = Corpus.tfidf(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    out((1L, "a"))._1 shouldBe 2                     // tf
    out((1L, "a"))._2 shouldBe 2                     // df
    // term in every doc still gets positive weight (smoothed idf: ln(3/3)+1)
    out((2L, "a"))._3 shouldBe (0.5 * 1.0) +- 1e-6
    // rarer term: ln(3/2)+1
    out((1L, "b"))._3 shouldBe ((1.0 / 3) * (math.log(1.5) + 1)) +- 1e-6
  }

  it should "flag test documents contained in the training corpus" in {
    val train = Seq(Doc(1, "the quick brown fox jumps over dogs", "s")).toDS.toDF()
    val test = Seq(
      Doc(20, "the quick brown fox jumps", "s"),   // fully contained
      Doc(21, "completely novel text never seen before", "s")).toDS.toDF()
    val out = Corpus.contamination(train, test, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getDouble(3), r.getBoolean(4)))
    out(0) shouldBe ((20L, 1.0, true))
    out(1)._2 shouldBe 0.0
    out(1)._3 shouldBe false
  }

  it should "fit the Zipf rank-frequency slope on an exact power law" in {
    // exact linearity in ln-ln space needs f(r) = c·r^s: s=-1, c=60 gives
    // integer frequencies 60,30,20,15,12,10 at ranks 1..6
    val words = Seq("a" -> 60, "b" -> 30, "c" -> 20, "d" -> 15, "e" -> 12, "f" -> 10)
    val text = words.flatMap { case (w, n) => Seq.fill(n)(w) }.mkString(" ")
    val docs = Seq(Doc(1, text, "s")).toDS.toDF()
    val r = Corpus.zipfFit(docs, "text", 6).collect().head
    r.getLong(0) shouldBe 6L
    r.getDouble(1) shouldBe -1.0 +- 1e-4          // exact r^-1 law -> slope -1
    r.getDouble(2) shouldBe math.log(60.0) +- 1e-4 // intercept = ln c
  }

  it should "cut the Zipf top-k deterministically on count ties" in {
    // four tokens tie at count 2; k=3 must keep the lexicographically first
    val docs = Seq(Doc(1, "b b a a d d c c", "s")).toDS.toDF()
    val r = Corpus.zipfFit(docs, "text", 3).collect().head
    r.getLong(0) shouldBe 3L // a, b, c survive the tie cut; slope 0 (flat)
    r.getDouble(1) shouldBe 0.0 +- 1e-9
  }

  behavior of "Temporal"

  it should "as-of join the most recent right row at-or-before each left row" in {
    val left = Seq((1L, 10L, 100L), (1L, 20L, 101L), (2L, 5L, 102L))
      .toDF("k", "ts", "lid")
    val right = Seq((1L, 10L, "a"), (1L, 15L, "b"), (1L, 30L, "c"), (2L, 6L, "d"))
      .toDF("k", "ts", "v")
    val out = Temporal.asofJoin(left, right, "k", "ts", Seq("v"))
      .orderBy("lid").collect()
    // lid=100: right at equal ts matches (inclusive); lid=101: latest of
    // {10,15}; lid=102: right row is later -> no match
    out.map(r => (r.getLong(2), Option(r.getString(4)))) shouldBe
      Array((100L, Some("a")), (101L, Some("b")), (102L, None))
    out(0).getLong(3) shouldBe 10L // asof_ts carried from the matched row
  }

  it should "forward as-of join the earliest right row at-or-after each left row" in {
    val left = Seq((1L, 10L, 100L), (1L, 20L, 101L), (1L, 40L, 102L), (2L, 5L, 103L))
      .toDF("k", "ts", "lid")
    val right = Seq((1L, 10L, "a"), (1L, 15L, "b"), (1L, 30L, "c"), (2L, 4L, "d"))
      .toDF("k", "ts", "v")
    val out = Temporal.asofJoinForward(left, right, "k", "ts", Seq("v"))
      .orderBy("lid").collect()
    // lid=100: equal ts matches (inclusive); lid=101: earliest of {30};
    // lid=102: nothing after 40 -> null; lid=103: right row is earlier -> null
    out.map(r => (r.getLong(2), Option(r.getString(4)))) shouldBe
      Array((100L, Some("a")), (101L, Some("c")), (102L, None), (103L, None))
    out(1).getLong(3) shouldBe 30L // asof_ts carried from the matched row
  }

  it should "carry the last right value across as-of chunk boundaries" in {
    // right row in an EARLIER chunk (chunkMs=2000: 1000 -> chunk 0,
    // 10000 -> chunk 5); only the carry pass can deliver it
    val l = Seq((1L, 10000L, 7L)).toDF("k", "ts", "lid")
    val r = Seq((1L, 1000L, 2.5)).toDF("k", "ts", "v")
    val out = Temporal.asofJoinChunked(l, r, "k", "ts", Seq("v"), 2000L).collect()
    out should have size 1
    out.head.getLong(3) shouldBe 1000L // asof_ts
    out.head.getDouble(4) shouldBe 2.5 // asof_v
  }

  it should "chunked as-of equals plain as-of on randomized hot-key data" in {
    val rng = new scala.util.Random(7)
    // one celebrity key (0) holding ~2/3 of all rows + a few cold keys,
    // duplicate timestamps included — the exact skew shape the chunked
    // variant exists for
    def key() = if (rng.nextInt(3) == 0) 1L + rng.nextInt(4) else 0L
    def ts() = rng.nextInt(20000).toLong
    val l = Seq.fill(300)((key(), ts(), rng.nextInt(1000).toLong)).toDF("k", "ts", "lid")
    val r = Seq.fill(200)((key(), ts(), rng.nextInt(50) / 10.0)).toDF("k", "ts", "v")
    val plain = Temporal.asofJoin(l, r, "k", "ts", Seq("v"))
      .orderBy("k", "ts", "lid").collect()
    val chunked = Temporal.asofJoinChunked(l, r, "k", "ts", Seq("v"), chunkMs = 3000L)
      .orderBy("k", "ts", "lid").collect()
    chunked shouldBe plain
    val s = Temporal.asofJoinChunked(l, r, "k", "ts", Seq("v"), 3000L)
      .queryExecution.executedPlan.toString
    s should not include "NestedLoop"
    s should not include "CartesianProduct"
  }

  it should "count interval neighbors across bucket boundaries" in {
    import java.sql.Timestamp
    def ts(sec: Long) = new Timestamp(sec * 1000)
    // window 60s -> buckets of 60s; 55s and 65s sit in adjacent buckets but
    // are 10s apart; 200s is alone; type separation respected.
    val df = Seq((1L, ts(55), "a"), (2L, ts(65), "a"), (3L, ts(200), "a"),
        (4L, ts(60), "b"))
      .toDF("event_id", "ts", "event_type")
    val out = Temporal.rangeSelfCount(df, "event_id", "ts", "event_type", 60000L)
      .orderBy("event_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    out shouldBe Array((1L, 1L), (2L, 1L), (3L, 0L), (4L, 0L))
  }

  behavior of "Corpus sampling and Similarity quantization"

  it should "apply per-stratum rates with stable hash buckets" in {
    val df = (0L until 400L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("doc_id", "lang")
    val out = Corpus.stratifiedHashSample(df, "doc_id", "lang",
      Map("a" -> 0.0), defaultRate = 1.0)
    out.filter(col("lang") === "a").count() shouldBe 0
    out.filter(col("lang") === "b").count() shouldBe 200
    // nested-sample property: rate 0.5 subset of rate 1.0 sample
    val half = Corpus.stratifiedHashSample(df, "doc_id", "lang",
      Map.empty, defaultRate = 0.5)
    val fullBuckets = out.select("doc_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    half.collect().foreach { r =>
      fullBuckets.get(r.getLong(0)).foreach(_ shouldBe r.getLong(2))
    }
  }

  it should "pick exactly k rows per stratum in md5 order, stable under input order" in {
    val rows = (0L until 40L).map(i => (i, if (i % 2 == 0) "a" else "b"))
    val out = Corpus.fixedStratifiedSample(rows.toDF("doc_id", "lang"),
      "doc_id", "lang", k = 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    out.length shouldBe 6
    out.groupBy(_._1).view.mapValues(_.map(_._3).sorted.toSeq).toMap shouldBe
      Map("a" -> Seq(1L, 2L, 3L), "b" -> Seq(1L, 2L, 3L))
    // engine-independent expectation: the k smallest md5(id) per stratum
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String) = md.digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val expected = rows.groupBy(_._2).toSeq.flatMap { case (lang, rs) =>
      rs.map(_._1).sortBy(i => (md5hex(i.toString), i)).take(3).map(lang -> _)
    }.toSet
    out.map(t => t._1 -> t._2).toSet shouldBe expected
    // permutation invariance
    val shuffled = Corpus.fixedStratifiedSample(
      scala.util.Random.shuffle(rows).toDF("doc_id", "lang"),
      "doc_id", "lang", k = 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    shuffled shouldBe out.toSet
  }

  it should "bucket documents into exact terciles by LM score" in {
    // six docs with distinct unigram profiles -> 2 head, 2 middle, 2 tail;
    // every head score >= every middle score >= every tail score
    val docs = Seq(
      Doc(1, "the the the the", "s"), Doc(2, "the the the of", "s"),
      Doc(3, "the of of and", "s"), Doc(4, "of and and rare1", "s"),
      Doc(5, "rare1 rare2 the of", "s"), Doc(6, "rare3 rare4 rare5 rare6", "s")
    ).toDS.toDF()
    val out = Corpus.pplBuckets(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    out.length shouldBe 6
    val byBucket = out.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
    byBucket.keySet shouldBe Set("head", "middle", "tail")
    byBucket.values.foreach(_.size shouldBe 2)
    byBucket("head").min should be >= byBucket("middle").max
    byBucket("middle").min should be >= byBucket("tail").max
  }

  it should "compose hashSample into splitAssign without duplicate columns" in {
    val docs = (0 until 100).map(i => (i.toLong, s"d$i")).toDF("doc_id", "x")
    // hashSample keeps its own `bucket` column; splitAssign must REPLACE
    // it, not produce an ambiguous duplicate
    val out = Corpus.splitAssign(
      Corpus.hashSample(docs, "doc_id", keep = 5000),
      "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    out.columns.count(_ == "bucket") shouldBe 1
    out.select("split").distinct().count() should be >= 1L
    // idempotent under repeated application too
    val again = Corpus.splitAssign(out, "doc_id",
      Seq("a" -> 0.5, "b" -> 0.5))
    again.columns.count(_ == "bucket") shouldBe 1
    again.columns.count(_ == "split") shouldBe 1
  }

  it should "weight the Bernoulli sample by exact integer arithmetic" in {
    val docs = (0 until 200)
      .map(i => (i.toLong, Seq(0L, 50L, 100L)(i % 3))).toDF("doc_id", "w")
    val kept = Corpus.weightedHashSample(docs, "doc_id", "w")
    // p = w/max: zero-weight rows never survive, max-weight rows always do
    kept.filter(col("w") === 0).count() shouldBe 0
    kept.filter(col("w") === 100).count() shouldBe docs.filter(col("w") === 100).count()
    // half-weight keeps ~half (hash-deterministic, so an exact stable count)
    val mid = kept.filter(col("w") === 50).count()
    mid should be > 15L
    mid should be < 55L
    // membership is a pure function of the id — any partitioning agrees
    Corpus.weightedHashSample(docs.repartition(7), "doc_id", "w")
      .orderBy("doc_id").collect() shouldBe kept.orderBy("doc_id").collect()
  }

  it should "never miss a true hit in the Bloom contamination screen" in {
    val train = Seq(
      Doc(1, "alpha beta gamma delta", "s"),
      Doc(3, "one two three four five", "s")).toDS.toDF()
    val test = Seq(
      Doc(20, "alpha beta gamma delta", "s"),
      Doc(40, "totally novel words here now", "s")).toDS.toDF()
    val out = Corpus.contaminationBloom(train, test, "doc_id", "text")
      .orderBy("doc_id").collect()
    // fully-contained doc: every shingle flagged, exact == shingles
    out(0).getLong(1) shouldBe out(0).getLong(3)
    out(0).getLong(2) shouldBe out(0).getLong(1)
    // the Bloom superset property is structural — never a false negative
    all(out.map(_.getBoolean(4))) shouldBe true
  }

  it should "probe the Bloom filter row-locally, never via a word-table join" in {
    // r15 optimization: the filter is a constant-size plan literal, so
    // the ONLY joins left in the probe are the exact-truth semi-join and
    // the final per-doc assembly — no k-way position explode joined
    // against a broadcast word table
    val train = Seq(Doc(1, "alpha beta gamma delta", "s")).toDS.toDF()
    val test = Seq(Doc(20, "alpha beta gamma delta", "s")).toDS.toDF()
    val (grams, bloom) = Corpus.contaminationIndex(train, "text")
    val words = Corpus.collectBloomWords(bloom)
    words.length shouldBe 2 * 16384
    val probe = Corpus.contaminationProbeWords(grams, words, test, "doc_id", "text")
    val joins = probe.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    joins should have size 2
    // values match the frame-based entry point exactly
    probe.orderBy("doc_id").collect() shouldBe
      Corpus.contaminationProbe(grams, bloom, test, "doc_id", "text")
        .orderBy("doc_id").collect()
  }

  it should "flag nothing against an empty training corpus in the Bloom screen" in {
    val train = spark.emptyDataset[Doc].toDF()
    val test = Seq(Doc(20, "anything at all here", "s")).toDS.toDF()
    val out = Corpus.contaminationBloom(train, test, "doc_id", "text").collect()
    out should have size 1
    out.head.getLong(2) shouldBe 0 // n_exact
    out.head.getLong(3) shouldBe 0 // n_bloom: empty filter, no bits set
    out.head.getBoolean(4) shouldBe true
  }

  it should "quantize embeddings symmetrically with round-half-up" in {
    val df = Seq(Vec(1, Seq(1.0f, -0.5f, 0.25f))).toDS.toDF()
    val r = Similarity.quantizeInt8Profile(df, "vec_id", "embedding").collect()(0)
    r.getDouble(1) shouldBe (1.0 / 127) +- 1e-9      // scale
    r.getInt(2) shouldBe -63                          // qmin: floor(-63.5+0.5)
    r.getInt(3) shouldBe 127                          // qmax
    r.getLong(4) shouldBe (127L - 63L + 32L)          // qsum
    r.getDouble(5) should be < 0.005                  // worst recon error
  }

  it should "plan the as-of join as one window pass, never a nested-loop join" in {
    val left = Seq((1L, 10L, 100L)).toDF("k", "ts", "lid")
    val right = Seq((1L, 10L, 1.0)).toDF("k", "ts", "v")
    val plan = Temporal.asofJoin(left, right, "k", "ts", Seq("v"))
      .queryExecution.executedPlan.toString
    // the naive l.ts >= r.ts formulation plans as BroadcastNestedLoopJoin
    // (O(n*m)); the union + running-last form must contain NO join at all
    plan should not include "NestedLoop"
    plan should not include "CartesianProduct"
    plan should include ("Window")
  }

  it should "plan the range join as an equi-join on buckets, not a cross product" in {
    import java.sql.Timestamp
    val df = Seq((1L, new Timestamp(1000L), "a")).toDF("event_id", "ts", "event_type")
    val plan = Temporal.rangeSelfCount(df, "event_id", "ts", "event_type", 60000L)
      .queryExecution.executedPlan.toString
    plan should not include "NestedLoop"
    plan should not include "CartesianProduct"
  }

  it should "plan session attribution as an equi-join on the user, not a cross product" in {
    import java.sql.Timestamp
    val anchors = Seq((1L, new Timestamp(1000L))).toDF("user_id", "ts")
    // the single-anchor session spans [1000, 1000]; the side event at the
    // same ms lands in it
    val side = Seq((1L, new Timestamp(1000L), 5.0)).toDF("user_id", "ts", "value")
    val attached = EventOps.sessionAttach(
      anchors, side, "user_id", "ts", 60000L, "value")
    val plan = attached.queryExecution.executedPlan.toString
    // the user equi-key must be extracted; the range stays a residual
    plan should not include "NestedLoop"
    plan should not include "CartesianProduct"
    // semantics on a hand-checked row: the side event lands in-session
    val r = attached.collect()
    r.length shouldBe 1
    r(0).getAs[Long]("n_attached") shouldBe 1L
    r(0).getAs[Double]("attached_value") shouldBe 5.0
  }

  it should "roll up cohort retention by first-activity week" in {
    import java.sql.Timestamp
    def ts(day: Int) = new Timestamp(day * 86400000L)
    // user 1 first active week 0, returns week 1; user 2 only week 1
    val df = Seq((1L, ts(0)), (1L, ts(2)), (1L, ts(8)), (2L, ts(9)))
      .toDF("user_id", "ts")
    val out = EventOps.cohortRetention(df, "user_id", "ts")
      .orderBy("cohort_week", "active_week").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    out shouldBe Array((0L, 0L, 0L, 1L), (0L, 1L, 1L, 1L), (1L, 1L, 0L, 1L))
  }

  it should "histogram values into clamped fixed-width bins" in {
    val df = Seq(("a", -5.0), ("a", 5.0), ("a", 15.0), ("a", 200.0), ("b", 5.0))
      .toDF("k", "v")
    val out = EventOps.fixedHistogram(df, "k", "v", binWidth = 10.0, nBins = 10)
      .orderBy("k", "bin").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    out shouldBe Array(("a", 0, 2L), ("a", 1, 1L), ("a", 9, 1L), ("b", 0, 1L))
  }

  it should "profile nulls and distincts for every column in one pass" in {
    val df = Seq((Some(1), "x"), (None, "y"), (Some(1), "y"))
      .toDF("a", "b")
    val out = EventOps.schemaProfile(df, Seq("a", "b"))
      .orderBy("col_name").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    out shouldBe Array(("a", 3L, 1L, 1L), ("b", 3L, 0L, 2L))
  }

  it should "compose the cleaning pipeline end to end" in {
    val docs = Seq(
      Doc(1, "too short", "s"),                                  // quality-gated
      Doc(2, "alpha beta gamma delta epsilon zeta eta omega", "s"),   // kept
      Doc(3, "alpha beta gamma delta epsilon zeta eta omega", "s"),   // exact dup of 2
      Doc(4, "alpha beta gamma delta epsilon zeta eta psi", "s"),     // near-dup of 2 (jaccard 5/7)
      Doc(5, "completely different words appear in here", "s")   // kept
    ).toDS.toDF().withColumn("lang", lit("xx"))
    val out = Corpus.cleanPipeline(docs, "doc_id", "text", "lang",
        minTokens = 3, rates = Map.empty, defaultRate = 1.0)
      .orderBy("doc_id").collect().map(_.getLong(0))
    out shouldBe Array(2L, 5L)
  }

  behavior of "Skew"

  it should "salted-join identically to the plain join, spreading hot keys" in {
    val fact = (0L until 300L).map(i => (i, if (i % 10 == 0) "cold" else "hot"))
      .toDF("id", "k")
    val dim = Seq(("hot", 1.0), ("cold", 2.0), ("unmatched", 3.0)).toDF("k", "attr")
    val salted = Skew.saltedEquiJoin(fact, dim, Seq("k"), "id", salts = 4)
    val plain = fact.join(dim, Seq("k"))
    salted.count() shouldBe 300
    salted.exceptAll(plain).count() shouldBe 0
    plain.exceptAll(salted).count() shouldBe 0
    // the dim side is replicated once per salt
    Skew.saltedEquiJoin(fact, dim, Seq("k"), "id", salts = 1).count() shouldBe 300
  }

  it should "score documents under the corpus unigram LM" in {
    // corpus: "a a b" + "a" -> counts: a=3, b=1; total=4, vocab=2
    val docs = Seq(Doc(1, "a a b", "s"), Doc(2, "a", "s")).toDS.toDF()
    val out = Corpus.unigramLogProb(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val pa = math.log(4.0 / 6)  // (3+1)/(4+2)
    val pb = math.log(2.0 / 6)  // (1+1)/(4+2)
    out(0)._2 shouldBe 3
    out(0)._3 shouldBe ((2 * pa + pb) / 3) +- 1e-5
    out(1)._3 shouldBe pa +- 1e-5
  }

  it should "score bigram transitions under the corpus bigram LM" in {
    // corpus: "a b", "a b", "a c" -> C(a b)=2, C(a c)=1; C(a)=3, V=3
    val docs = Seq(Doc(1, "a b", "s"), Doc(2, "a b", "s"), Doc(3, "a c", "s"))
      .toDS.toDF()
    val out = Corpus.bigramLogProb(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    out(0)._2 shouldBe 1
    out(0)._3 shouldBe math.log(3.0 / 6) +- 1e-5 // p(b|a) = (2+1)/(3+3)
    out(2)._3 shouldBe math.log(2.0 / 6) +- 1e-5 // p(c|a) = (1+1)/(3+3)
    // a one-token document has no bigrams and is absent from the output
    val short = Seq(Doc(9, "solo", "s")).toDS.toDF()
    Corpus.bigramLogProb(docs.union(short), "doc_id", "text")
      .filter(col("doc_id") === 9).count() shouldBe 0
    // the shuffle-vocab mode is bit-identical to the broadcast mode, and
    // the corpus-sized bigram table is never broadcast in either
    val sh = Corpus.bigramLogProb(docs, "doc_id", "text", broadcastVocab = false)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    sh shouldBe out
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val q = Corpus.bigramLogProb(docs, "doc_id", "text")
    q.count()
    val plan = q.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collect { case b: BroadcastExchangeExec => b }.foreach { b =>
      assert(!b.output.map(_.name).contains("cb"),
        s"bigram-count table broadcast: ${b.output.map(_.name)}")
    }
  }

  it should "score bigrams under the Jelinek-Mercer interpolated LM" in {
    // corpus: "a b", "a b", "a c" -> C(a b)=2, C(a c)=1; C(a)=3, C(b)=2,
    // C(c)=1; N=6. p(b|a) = .5*2/3 + .5*2/6; p(c|a) = .5*1/3 + .5*1/6
    val docs = Seq(Doc(1, "a b", "s"), Doc(2, "a b", "s"), Doc(3, "a c", "s"))
      .toDS.toDF()
    val out = Corpus.interpolatedLogProb(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    out.map(_._2) shouldBe Array(1L, 1L, 1L)
    out(0)._3 shouldBe math.log(0.5 * 2 / 3 + 0.5 * 2 / 6) +- 1e-5
    out(2)._3 shouldBe math.log(0.5 * 1 / 3 + 0.5 * 1 / 6) +- 1e-5
    // the interpolation floors rare continuations above the pure-MLE
    // penalty: p_interp(c|a) > add-one p(c|a) = 2/6 would NOT hold for
    // common ones — check the ordering stays b > c either way
    out(0)._3 should be > out(2)._3
  }

  it should "keep the top half per language at the quality threshold" in {
    // one language, four docs with strictly increasing quality (longer =
    // higher lenScore; same punctuation/stopword profile of zero)
    val docs = Seq(
      Doc(1, "x", "s"), Doc(2, "x y z w", "s"),
      Doc(3, Seq.fill(10)("x").mkString(" "), "s"),
      Doc(4, Seq.fill(50)("x").mkString(" "), "s"))
      .toDS.toDF().withColumn("lang", lit("en"))
    val kept = Corpus.qualityThresholdFilter(docs, "doc_id", "text", "lang")
      .collect().map(_.getLong(0)).sorted
    // median threshold interpolates doc2..doc3 scores; docs 3 and 4 clear it
    kept shouldBe Array(3L, 4L)
    // keepFrac=1.0 keeps everything (threshold = per-lang minimum)
    Corpus.qualityThresholdFilter(docs, "doc_id", "text", "lang", keepFrac = 1.0)
      .count() shouldBe 4
  }

  it should "find truncation duplicates blocked on the 64-char prefix" in {
    val long = ("start " * 20).trim                  // 119 chars
    val docs = Seq(
      Doc(1, long, "s"),                             // full page
      Doc(2, long.take(80), "s"),                    // truncated copy (≥64)
      Doc(3, long.take(30), "s"),                    // too short: out of scope
      Doc(4, "completely different text " * 4, "s"), // same length ballpark, no match
      // shares the 64-char blocking prefix with docs 1/2 but diverges at
      // char 71 — a candidate the in-bucket exact verify MUST reject
      Doc(5, long.take(70) + " DIVERGENT TAIL", "s")
    ).toDS.toDF()
    val r = Dedup.prefixDups(docs, "doc_id", "text").collect().head
    r.getLong(0) shouldBe 4L  // docs 1, 2, 4, 5 are ≥64 chars
    r.getLong(1) shouldBe 1L  // (2 -> 1) only: doc 5's bucket hits fail verify
    r.getLong(2) shouldBe 1L
    // a corpus with no prefix relations reports zeros, not an empty frame
    val clean = Dedup.prefixDups(docs.filter(col("doc_id") === 4), "doc_id", "text")
      .collect().head
    (clean.getLong(1), clean.getLong(2)) shouldBe ((0L, 0L))
  }

  it should "merge upserts latest-wins with inserts and passthrough" in {
    val base = Seq((1L, "one", 0L), (2L, "two", 0L), (3L, "three", 5L))
      .toDF("doc_id", "text", "version")
    val updates = Seq(
      (2L, "two-v1", 1L),   // beats base v0
      (3L, "three-v1", 1L), // LOSES to base v5 (stale update)
      (3L, "three-v9", 9L), // beats base v5
      (9L, "nine", 1L)      // insert
    ).toDF("doc_id", "text", "version")
    val out = Corpus.mergeUpsert(base, updates, "doc_id", "version")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    out shouldBe Array(
      (1L, "one", 0L), (2L, "two-v1", 1L), (3L, "three-v9", 9L), (9L, "nine", 1L))
    // same version on both sides: the update wins the tie
    val tie = Corpus.mergeUpsert(base, Seq((1L, "one-upd", 0L))
        .toDF("doc_id", "text", "version"), "doc_id", "version")
      .filter(col("doc_id") === 1).collect().head.getString(1)
    tie shouldBe "one-upd"
  }

  it should "compute conversion delay from first signup to first purchase after it" in {
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000)
    val df = Seq(
      (1L, ts(5), "purchase"),  // BEFORE the signup: must not count
      (1L, ts(10), "signup"),
      (1L, ts(20), "purchase"), // first at-or-after -> delay 10 s
      (2L, ts(10), "signup"),   // never converts
      (3L, ts(10), "purchase")  // no signup: excluded entirely
    ).toDF("user_id", "ts", "event_type")
    val out = EventOps.conversionDelay(df, "user_id", "ts", "event_type",
        "signup", "purchase")
      .orderBy("user_id").collect()
    out.map(_.getLong(0)) shouldBe Array(1L, 2L)
    out(0).getLong(3) shouldBe 10000L
    out(0).getBoolean(4) shouldBe true
    out(1).isNullAt(2) shouldBe true
    out(1).getBoolean(4) shouldBe false
  }

  it should "profile OOV rates against a minCount vocabulary" in {
    // "common" appears 3x (>= 2 -> in vocab); rare tokens appear once
    val docs = Seq(
      Doc(1, "common common rare1", "s"),
      Doc(2, "common rare2", "s")).toDS.toDF()
    val out = Corpus.vocabOovRate(docs, "doc_id", "text", minCount = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    out shouldBe Array((1L, 3L, 1L, 0.333333), (2L, 2L, 1L, 0.5))
    // broadcast and shuffle-hash vocab joins agree exactly
    val sh = Corpus.vocabOovRate(docs, "doc_id", "text", 2, broadcastVocab = false)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    sh shouldBe out
  }

  it should "fingerprint invariantly under case and whitespace perturbations" in {
    val rng = new scala.util.Random(99)
    val words = Seq("alpha", "beta", "Gamma", "DELTA", "eps1")
    (1 to 20).foreach { _ =>
      val base = Seq.fill(1 + rng.nextInt(6))(words(rng.nextInt(words.size)))
        .mkString(" ")
      val perturbed = "  " + base.toUpperCase.replace(" ", "   ") + " "
      val df = Seq((1L, base), (2L, perturbed)).toDF("id", "t")
      val fps = df.select(TextFunctions.fingerprint(col("t")))
        .collect().map(_.getString(0))
      fps(0) shouldBe fps(1)
    }
  }

  it should "score bit-identically in broadcast-vocab and shuffle-vocab modes" in {
    val docs = (0 until 50)
      .map(i => Doc(i.toLong, s"w${i % 7} w${i % 11} w${i % 13} common", "s"))
      .toDS.toDF()
    val bc = Corpus.unigramLogProb(docs, "doc_id", "text", broadcastVocab = true)
      .orderBy("doc_id").collect()
    val sh = Corpus.unigramLogProb(docs, "doc_id", "text", broadcastVocab = false)
      .orderBy("doc_id").collect()
    bc shouldBe sh
  }

  it should "plan the big-vocab mode without broadcasting the term counts" in {
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val docs = Seq(Doc(1, "a a b", "s"), Doc(2, "a", "s")).toDS.toDF()
    val out = Corpus.unigramLogProb(docs, "doc_id", "text", broadcastVocab = false)
    out.count()
    val plan = out.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // the only broadcast allowed is the 1-row (total, vocab) scalar —
    // the term-count table must arrive via a shuffle, not the driver
    val broadcasts = plan.collect { case b: BroadcastExchangeExec => b }
    broadcasts.foreach { b =>
      assert(b.output.map(_.name).toSet.subsetOf(Set("total", "vocab")),
        s"vocab-shaped broadcast in big-vocab mode: ${b.output.map(_.name)}")
    }
    plan.toString should include ("ShuffledHashJoin")
  }

  behavior of "repetition signals"

  it should "measure top-token, top-bigram and duplicate-trigram fractions" in {
    val docs = Seq(
      Doc(1, "a a a b", "s"),       // top token 3/4; bigrams aa,aa,ab -> 2/3; trigrams aaa,aab distinct
      Doc(2, "x y x y x y", "s"),   // top token 3/6; bigrams xy,yx,xy,yx,xy -> 3/5; trigrams 4 total 2 distinct
      Doc(3, "a b", "s")            // no trigram -> dup_trigram_frac null; one bigram -> 1.0
    ).toDS.toDF()
    val out = Corpus.repetitionSignals(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    out(0).getLong(1) shouldBe 4
    out(0).getDouble(2) shouldBe 0.75
    out(0).getDouble(3) shouldBe 0.666667 +- 1e-6
    out(0).getDouble(4) shouldBe 0.0
    out(1).getDouble(2) shouldBe 0.5
    out(1).getDouble(3) shouldBe 0.6
    out(1).getDouble(4) shouldBe 0.5
    out(2).getDouble(3) shouldBe 1.0
    out(2).isNullAt(4) shouldBe true
  }

  behavior of "sequence packing"

  it should "pack every token exactly once into budgeted per-bucket chunks" in {
    val docs = (0L until 200L)
      .map(i => Doc(i, ("tok " * (5 + (i % 37).toInt)).trim, "s")).toDS.toDF()
    val totalTokens = docs
      .select(sum(TextFunctions.tokenCount(col("text")))).collect()(0).getLong(0)
    val packed = Packing.packSequences(docs, "doc_id", "text", budget = 64, buckets = 4)
    val rows = packed.collect()
    rows.map(_.getLong(3)).sum shouldBe totalTokens           // token-conserving
    rows.map(_.getLong(2)).sum shouldBe 200L                  // every doc placed once
    all(rows.map(_.getLong(1))) should be >= 0L
    rows.map(_.getLong(0)).distinct.length should be <= 4     // bucket domain respected
    // deterministic under any input partitioning
    val repartitioned = Packing
      .packSequences(docs.repartition(7), "doc_id", "text", budget = 64, buckets = 4)
    packed.exceptAll(repartitioned).count() shouldBe 0
    repartitioned.exceptAll(packed).count() shouldBe 0
  }

  it should "start each bucket's chunk ids at zero with bounded span" in {
    val docs = (0L until 100L).map(i => Doc(i, "w w w w w w w w", "s")).toDS.toDF()
    val packed = Packing.packSequences(docs, "doc_id", "text", budget = 32, buckets = 2)
      .collect()
    packed.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      rs.map(_.getLong(1)).min shouldBe 0L
      // 8-token docs, 32-token budget: chunks fill completely, ids contiguous
      val ids = rs.map(_.getLong(1)).sorted
      ids shouldBe (0L until ids.length).toArray
    }
  }

  behavior of "token chunking"

  it should "cut overlapping windows covering every token" in {
    // 10 tokens, window 4, stride 2 -> starts 0,2,4,6,8; last chunks truncate
    val docs = Seq(Doc(1, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9", "s"), Doc(2, "solo", "s")).toDS.toDF()
    val out = Packing.chunkTokens(docs, "doc_id", "text", window = 4, stride = 2)
      .orderBy("doc_id", "chunk_id").collect()
    val d1 = out.filter(_.getLong(0) == 1L)
    d1.map(_.getInt(1)) shouldBe Array(0, 1, 2, 3, 4)
    d1.map(_.getInt(2)) shouldBe Array(4, 4, 4, 4, 2)
    // chunk 1 = tokens 2..5; fingerprint matches direct md5 of the join
    val fp = Seq("x").toDF("x")
      .select(md5(lit("t2 t3 t4 t5"))).collect()(0).getString(0)
    d1(1).getString(3) shouldBe fp
    // single-token doc -> exactly one (possibly short) chunk
    out.filter(_.getLong(0) == 2L).map(r => (r.getInt(1), r.getInt(2))) shouldBe Array((0, 1))
  }

  it should "chunk without any shuffle in the plan" in {
    val docs = Seq(Doc(1, "a b c d e f", "s")).toDS.toDF()
    val plan = Packing.chunkTokens(docs, "doc_id", "text", 4, 2)
      .queryExecution.executedPlan.toString
    plan should not include "Exchange"
  }

  it should "pack and profile repetition with the minimal shuffle count" in {
    val docs = (0L until 50L).map(i => Doc(i, "a b c a b c", "s")).toDS.toDF()
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).length
    // packing: one shuffle on bucket serves both the window and the rollup
    // (HashPartitioning(bucket) satisfies clustering by (bucket, seq_id))
    exchanges(Packing.packSequences(docs, "doc_id", "text", 64, 4)) shouldBe 1
    // repetition: (id,n,g) count then per-id rollup - two shuffles, no joins
    exchanges(Corpus.repetitionSignals(docs, "doc_id", "text")) should be <= 2
  }

  behavior of "funnel"

  it should "count users per stage under strict first-touch ordering" in {
    val ts = (ms: Long) => new java.sql.Timestamp(ms)
    val events = Seq(
      (1L, "view", ts(1000)), (1L, "click", ts(2000)), (1L, "purchase", ts(3000)),
      (2L, "view", ts(1000)), (2L, "purchase", ts(2000)),       // skipped click
      (3L, "click", ts(1000)), (3L, "view", ts(2000)),          // click before view
      (4L, "error", ts(1000))                                   // no funnel stages
    ).toDF("user_id", "event_type", "ts")
    val out = EventOps.funnel(events, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
      .orderBy("stage_idx").collect()
      .map(r => (r.getString(0), r.getLong(2)))
    out shouldBe Array(("view", 3L), ("click", 1L), ("purchase", 1L))
  }

  behavior of "split assignment"

  it should "assign stable disjoint named splits with roughly the asked fractions" in {
    val docs = (0L until 2000L).map(i => Doc(i, s"text $i", "s")).toDS.toDF()
    val out = Corpus.splitAssign(docs, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val counts = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    counts.values.sum shouldBe 2000L
    counts("train").toDouble should be (1600.0 +- 100)
    counts("val").toDouble should be (200.0 +- 60)
    counts("test").toDouble should be (200.0 +- 60)
    // stability: membership is a pure function of the id
    val again = Corpus.splitAssign(docs.repartition(13), "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    out.exceptAll(again).count() shouldBe 0
    // nested refinement: widening val only grows it from train's boundary
    val wider = Corpus.splitAssign(docs, "doc_id",
      Seq("train" -> 0.7, "val" -> 0.2, "test" -> 0.1))
    wider.filter(col("split") === "test").select("doc_id")
      .exceptAll(out.filter(col("split") === "test").select("doc_id"))
      .count() shouldBe 0
  }

  behavior of "randomized references"

  // Seeded random corpora checked against independent driver-side Scala
  // implementations — the same pattern as the randomized CC closure test:
  // if the distributed formulation diverges from the obvious sequential
  // one anywhere in the input space, a 60-doc random sample catches it.
  private def randomDocs(seed: Int, nDocs: Int, maxTokens: Int): Seq[Doc] = {
    val rnd = new scala.util.Random(seed)
    (0L until nDocs.toLong).map { i =>
      val n = 1 + rnd.nextInt(maxTokens)
      Doc(i, Seq.fill(n)("w" + rnd.nextInt(8)).mkString(" "), "s")
    }
  }
  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  it should "chunk exactly like a sequential sliding-window reference" in {
    val docs = randomDocs(7, 60, 40)
    val expected = docs.flatMap { d =>
      val toks = d.text.trim.split("\\s+").toSeq
      (0 until toks.length by 3).zipWithIndex.map { case (st, ci) =>
        (d.doc_id, ci, toks.slice(st, st + 7).size)
      }
    }.toSet
    val got = Packing.chunkTokens(docs.toDS.toDF(), "doc_id", "text", 7, 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    got shouldBe expected
  }

  it should "pack exactly like a sequential per-bucket cumsum reference" in {
    val docs = randomDocs(11, 60, 40)
    val budget = 50; val buckets = 8
    val expected = docs
      .groupBy(d => java.lang.Long.parseLong(md5hex(d.doc_id.toString).take(7), 16) % buckets)
      .flatMap { case (b, ds) =>
        var off = 0L
        ds.sortBy(d => (md5hex(d.doc_id.toString), d.doc_id)).map { d =>
          val n = d.text.trim.split("\\s+").length
          val seq = off / budget; off += n
          (b, seq, d.doc_id, n.toLong)
        }
      }
      .groupBy(t => (t._1, t._2))
      .map { case ((b, sq), xs) =>
        (b, sq, xs.size.toLong, xs.map(_._4).sum, xs.map(_._3).min) }
      .toSet
    val got = Packing.packSequences(docs.toDS.toDF(), "doc_id", "text", budget, buckets)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    got shouldBe expected
  }

  it should "measure repetition exactly like a sequential n-gram reference" in {
    val docs = randomDocs(13, 60, 30)
    def gramFracs(text: String): (Long, Option[Double], Option[Double], Option[Double]) = {
      val toks = text.trim.split("\\s+").toSeq
      def grams(n: Int) = toks.sliding(n).filter(_.size == n).map(_.mkString(" ")).toSeq
      def topFrac(g: Seq[String]) =
        if (g.isEmpty) None
        else Some(g.groupBy(identity).values.map(_.size).max.toDouble / g.size)
      val g3 = grams(3)
      (toks.size.toLong, topFrac(grams(1)), topFrac(grams(2)),
        if (g3.isEmpty) None else Some((g3.size - g3.distinct.size).toDouble / g3.size))
    }
    val expected = docs.map(d => d.doc_id -> gramFracs(d.text)).toMap
    val rows = Corpus.repetitionSignals(docs.toDS.toDF(), "doc_id", "text").collect()
    rows.length shouldBe docs.size
    rows.foreach { r =>
      val (n, t1, t2, d3) = expected(r.getLong(0))
      r.getLong(1) shouldBe n
      def check(i: Int, exp: Option[Double]) = exp match {
        case Some(v) => r.getDouble(i) shouldBe v +- 1e-6
        case None    => r.isNullAt(i) shouldBe true
      }
      check(2, t1); check(3, t2); check(4, d3)
    }
  }

  it should "funnel exactly like a sequential per-user min-ts reference" in {
    val rnd = new scala.util.Random(17)
    val stages = Seq("view", "click", "purchase")
    val types = stages ++ Seq("error", "signup")
    val events = (0 until 400).map { _ =>
      (rnd.nextInt(40).toLong, types(rnd.nextInt(types.size)),
        new java.sql.Timestamp(1000L * rnd.nextInt(10000)))
    }
    val mins = events.groupBy(_._1).map { case (u, es) =>
      u -> stages.map(s => es.filter(_._2 == s).map(_._3.getTime).minOption)
    }
    val expected = stages.indices.map { k =>
      mins.values.count { ts =>
        (0 to k).forall(ts(_).isDefined) &&
          (1 to k).forall(i => ts(i - 1).get < ts(i).get)
      }.toLong
    }
    val got = EventOps.funnel(events.toDF("user_id", "event_type", "ts"),
        "user_id", "event_type", "ts", stages)
      .orderBy("stage_idx").collect().map(_.getLong(2)).toSeq
    got shouldBe expected
  }

  it should "winnow exactly like a sequential rightmost-min reference" in {
    val docs = randomDocs(13, 60, 40)
    val k = 3
    val w = 4
    def hash60(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(15), 16)
    val expected = docs.map { d =>
      val toks = d.text.trim.split("\\s+").toSeq
      val grams = if (toks.length < k) Seq(toks.mkString(" "))
        else toks.sliding(k).map(_.mkString(" ")).toSeq
      val h = grams.map(hash60)
      val nw = math.max(h.length - w + 1, 1)
      val pos = (0 until nw).map { i =>
        val win = h.slice(i, i + w)
        val m = win.min
        i + win.lastIndexOf(m) // rightmost minimum
      }.distinct
      val xor = pos.map(h(_)).foldLeft(0L)(_ ^ _)
      (d.doc_id, h.length, pos.length, xor,
        math.rint(pos.length.toDouble / nw * 1e6) / 1e6)
    }.toSet
    val got = Corpus.winnowingFingerprints(docs.toDS.toDF(), "doc_id", "text", k, w)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getDouble(4)))
      .toSet
    got shouldBe expected
  }

  it should "never let near-dup cluster members straddle a split" in {
    val docs = (0L to 9L).map(i => Doc(i, s"doc $i", "s")).toDS.toDF()
    // clusters: {0,1,2} (chain), {3,4}; 5..9 singletons
    val pairs = Seq((0L, 1L), (1L, 2L), (3L, 4L)).toDF("a_id", "b_id")
    val out = Corpus.leakageSafeSplit(docs, "doc_id", pairs, "a_id", "b_id",
        Seq("train" -> 0.5, "test" -> 0.5))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(3))).toSeq
    out.length shouldBe 10
    val byDoc = out.map(t => t._1 -> t).toMap
    // cluster labels are min reachable ids
    Seq(0L, 1L, 2L).map(byDoc(_)._2).distinct shouldBe Seq(0L)
    Seq(3L, 4L).map(byDoc(_)._2).distinct shouldBe Seq(3L)
    // every cluster is split as a unit
    Seq(0L, 1L, 2L).map(byDoc(_)._3).distinct.length shouldBe 1
    Seq(3L, 4L).map(byDoc(_)._3).distinct.length shouldBe 1
    // singletons split exactly as plain splitAssign on their own id
    val plain = Corpus.splitAssign(
        docs.filter(col("doc_id") >= 5), "doc_id", Seq("train" -> 0.5, "test" -> 0.5))
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    (5L to 9L).foreach(i => byDoc(i)._3 shouldBe plain(i))
  }

  behavior of "incremental dedup"

  it should "screen a new batch against the corpus without self-joining" in {
    val corpus = Seq(
      Doc(1, "alpha beta gamma delta epsilon zeta", "s"),
      Doc(2, "totally different content here now ok", "s")).toDS.toDF()
    val fresh = Seq(
      Doc(10, "alpha beta gamma delta epsilon zeta", "s"), // dup of 1
      Doc(11, "unique new material nothing shared at all", "s")).toDS.toDF()
    val out = Dedup.minhashNearDupsAgainst(fresh, corpus, "doc_id", "text")
      .filter(col("is_dup")).collect()
    out.map(r => (r.getLong(0), r.getLong(1))) shouldBe Array((10L, 1L))
    out(0).getDouble(2) shouldBe 1.0
  }

  behavior of "daily autocorrelation"

  it should "compute lag-1 r over consecutive-day count pairs" in {
    def ts(day: Int, i: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 10:0$i:00")
    def rows(t: String, counts: Seq[Int]) = counts.zipWithIndex.flatMap {
      case (c, d) => (0 until c).map(i => (t, ts(d + 1, i)))
    }
    val ev = (rows("up", Seq(1, 2, 3, 4)) ++ rows("flat", Seq(2, 2, 2)) ++
      rows("oneday", Seq(3))).toDF("event_type", "ts")
    val out = EventOps.dailyAutocorr(ev, "event_type", "ts").collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).sortBy(_._1)
    // strictly linear counts → perfect correlation; constant → null;
    // a single active day has no pair and is absent
    out shouldBe Array(("flat", 2L, None), ("up", 3L, Some(1.0)))
  }

  behavior of "value streaks"

  it should "count maximal strictly-increasing runs per user" in {
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val ev = Seq(
      (1L, 10L, ts(0), 1.0), (2L, 10L, ts(1), 2.0), (3L, 10L, ts(2), 3.0),
      (4L, 10L, ts(3), 2.0), (5L, 10L, ts(4), 3.0),   // runs: 2 steps, 1 step
      (6L, 20L, ts(0), 5.0), (7L, 20L, ts(1), 5.0),   // tie breaks the streak
      (8L, 20L, ts(2), 6.0),
      (9L, 30L, ts(0), 9.0), (10L, 30L, ts(1), 1.0)   // never increases → absent
    ).toDF("event_id", "user_id", "ts", "value")
    val out = EventOps.valueStreaks(ev, "user_id", "ts", "value", "event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    out shouldBe Array((10L, 3L, 3L), (20L, 2L, 1L))
  }

  behavior of "shard bloom probe"

  it should "always include the true shard for present ids" in {
    val df = (0L until 200L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val out = Corpus.shardBloomProbe(df, "doc_id",
        probeIds = (0L to 19L) ++ Seq(999999L), nShards = 4, words = 64, k = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    // every present id's true shard is a candidate (no false negatives)
    (0L to 19L).foreach { id =>
      val (n, ok) = out(id)
      withClue(s"probe $id:") { ok shouldBe true; n should be >= 1L }
    }
    // candidates never exceed the shard count
    out.values.foreach(_._1 should be <= 4L)
  }

  it should "drop probes no shard can contain" in {
    // 4 ids in a huge, sparse filter: an unknown id's bits are almost
    // surely not all set in any shard — with words=16384 the chance of a
    // 3-bit false positive in one of 2 shards is ~(12/2^20)^3·2 ≈ 0
    val df = Seq(1L, 2L, 3L, 4L).map(i => (i, "x")).toDF("doc_id", "text")
    val out = Corpus.shardBloomProbe(df, "doc_id",
        probeIds = Seq(123456789L), nShards = 2, words = 16384, k = 3)
      .collect()
    out shouldBe empty
  }

  behavior of "binary quantization"

  it should "pack sign bits into 32-bit words and rank by Hamming distance" in {
    val df = Seq(
      (1L, Seq(1f, -1f, 0f, 2f)),   // bits 1001 → 9
      (2L, Seq(1f, 1f, 0f, 2f)),    // bits 1011 → 11, Hamming(1,2)=1
      (3L, Seq(-1f, -1f, -1f, -1f)) // bits 0000 → 0,  Hamming(1,3)=2
    ).toDF("vec_id", "embedding")
    val codes = df.select(col("vec_id"),
        Similarity.bqCodes(col("embedding"), 4).head.as("c0"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    codes shouldBe Array((1L, 9L), (2L, 11L), (3L, 0L))
    val out = Similarity.bqTopK(df, df.filter(col("vec_id") === 1),
        "vec_id", "embedding", dim = 4, k = 2)
      .collect().map(r => (r.getLong(1), r.getInt(2), r.getInt(3))).sortBy(_._3)
    out shouldBe Array((2L, 1, 1), (3L, 2, 2))
  }

  it should "split codes past bit 32 into the second word" in {
    // dim 34, only dimension 34 positive → word0 = 0, word1 bit 1 → 2
    val v = Seq.fill(33)(-1f) :+ 1f
    val df = Seq((1L, v)).toDF("vec_id", "embedding")
    val words = Similarity.bqCodes(col("embedding"), 34)
    words.length shouldBe 2
    val r = df.select(words(0).as("c0"), words(1).as("c1")).collect().head
    (r.getLong(0), r.getLong(1)) shouldBe ((0L, 2L))
  }

  it should "pick diverse neighbors greedily under the MMR objective" in {
    // 1↔2 and 3↔4 are near-duplicate pairs; pure relevance for query 1
    // would return 2 then 6 then… MMR's diversity penalty demotes
    // redundant picks (hand-computed greedy: 2, 6, 5)
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.1f)),
      (2L, Seq(0.9f, 0.1f, 0.0f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.2f, 0.0f)),
      (4L, Seq(0.0f, 0.9f, 0.1f, 0.1f)),
      (5L, Seq(0.1f, 0.0f, 1.0f, 0.0f)),
      (6L, Seq(0.5f, 0.5f, 0.5f, 0.5f)))
    val df = vecs.toDF("vec_id", "embedding")
    val out = Similarity.mmrRerankTopK(df, df.filter(col("vec_id") === 1),
        "vec_id", "embedding", dim = 4, shortlist = 5, k = 3, lambdaRel = 0.7)
      .collect().map(r => (r.getInt(2), r.getLong(1), r.getDouble(3))).sorted
    out.map(_._2) shouldBe Array(2L, 6L, 5L)
    out.map(_._3) shouldBe Array(0.692266, 0.217442, -0.094874)
    // determinism
    val again = Similarity.mmrRerankTopK(df, df.filter(col("vec_id") === 1),
        "vec_id", "embedding", dim = 4, shortlist = 5, k = 3, lambdaRel = 0.7)
      .collect().map(r => (r.getInt(2), r.getLong(1))).sorted
    again.map(_._2) shouldBe Array(2L, 6L, 5L)
  }

  it should "rerank the Hamming shortlist by exact cosine without shuffling the corpus" in {
    // 40 corpus vectors in 4 dims; with shortlist = corpus size the
    // rerank must agree with the exact brute-force ranking
    val vecs = (1L to 40L).map { i =>
      (i, Seq((i % 5).toFloat - 2f, (i % 7).toFloat - 3f,
        (i % 3).toFloat - 1f, (i % 11).toFloat - 5f))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val q = df.filter(col("vec_id") <= 2)
    val reranked = Similarity
      .bqRerankTopK(df, q, "vec_id", "embedding", dim = 4, shortlist = 39, k = 5)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted
    val exact = Similarity.bruteForceTopK(df, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted
    reranked shouldBe exact
    // narrow shortlist: results are a subset of the shortlist pairs
    val short = Similarity.bqTopK(df, q, "vec_id", "embedding", dim = 4, k = 10)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val narrow = Similarity
      .bqRerankTopK(df, q, "vec_id", "embedding", dim = 4, shortlist = 10, k = 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    narrow.length shouldBe 10
    all(narrow.map(short.contains)) shouldBe true
    // plan shape: the rerank re-fetch is broadcast — the only
    // SortMergeJoin-free plan keeps the corpus unshuffled
    val plan = Similarity
      .bqRerankTopK(df, q, "vec_id", "embedding", dim = 4, shortlist = 10, k = 5)
      .queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
  }

  behavior of "DDSketch quantiles"

  it should "answer quantiles within the relative-error bound without sorting values" in {
    // values spanning 4 orders of magnitude — the regime rank sketches
    // with absolute error lose
    val vals = (1 to 2000).map(i => ("a", math.pow(1.004, i))) ++
      (1 to 100).map(i => ("b", i.toDouble))
    val df = vals.toDF("k", "value")
    val alpha = 0.02
    val out = EventOps.ddsketchQuantiles(df, "k", "value", alpha,
      Seq(0.5, 0.9, 0.99))
    val rows = out.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    rows("a")._1 shouldBe 2000L
    // exact type-lower quantiles for comparison
    def exact(xs: Seq[Double], q: Double): Double =
      xs.sorted.apply((math.floor(q * (xs.size - 1)) + 1).toInt - 1)
    val aVals = vals.filter(_._1 == "a").map(_._2)
    val bVals = vals.filter(_._1 == "b").map(_._2)
    for ((got, q) <- Seq(rows("a")._2 -> 0.5, rows("a")._3 -> 0.9,
        rows("a")._4 -> 0.99)) {
      val truth = exact(aVals, q)
      math.abs(got - truth) / truth should be <= alpha + 1e-6
    }
    math.abs(rows("b")._3 - exact(bVals, 0.9)) / exact(bVals, 0.9) should
      be <= alpha + 1e-6
    // plan shape: constant-state aggregation — no rank window, no
    // range-partitioned value sort anywhere
    val plan = out.queryExecution.executedPlan.toString
    plan should not include "Window"
    plan should not include "rangepartitioning"
  }

  behavior of "DSIR importance resampling"

  it should "upweight documents that look like the target slice, scoring without a shuffle" in {
    // target slice speaks "alpha beta"; off-target docs speak "zzz www"
    val docs = ((1L to 20L).map(i => (i, "alpha beta alpha beta", "en")) ++
      (21L to 40L).map(i => (i, "zzz www zzz www", "xx"))).toDF("doc_id", "text", "lang")
    val out = Corpus.dsirSample(docs, "doc_id", "text",
        col("lang") === "en", d = 16, n = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    out.length shouldBe 10
    // every target-vocabulary doc outweighs every off-target doc, and the
    // Gumbel perturbation (|g| bounded for these u) cannot cross the gap,
    // so the pick is entirely target-looking docs
    all(out.map(_._1)) should be <= 20L
    all(out.map(_._2)) should be > 0.0
    // deterministic: same input → identical draw
    val again = Corpus.dsirSample(docs, "doc_id", "text",
        col("lang") === "en", d = 16, n = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    again shouldBe out
    // plan shape: literal log-ratios → scoring joins nothing; the cut is
    // a map-side partial top-n, never a global sort
    val plan = Corpus.dsirSample(docs, "doc_id", "text",
        col("lang") === "en", d = 16, n = 10)
      .queryExecution.executedPlan.toString
    plan should include("TakeOrderedAndProject")
    plan should not include "Join"
  }

  behavior of "temperature mixing"

  it should "flatten source shares toward uniform with alpha < 1" in {
    // weights 9 and 1: raw shares 0.9/0.1; sqrt weights 3 and 1 → 0.75/0.25
    val df = Seq((1L, "big", 9L), (2L, "small", 1L))
      .toDF("doc_id", "source", "n_chars")
    val out = Corpus.temperatureMix(df, "source", "n_chars", alpha = 0.5)
      .collect().map(r => (r.getString(0), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .sortBy(_._1)
    out shouldBe Array(
      ("big", 0.9, 0.75, round6(0.75 / 0.9)),
      ("small", 0.1, 0.25, 2.5))
  }

  private def round6(d: Double) = math.rint(d * 1e6) / 1e6

  behavior of "training order"

  it should "rank contiguously within shards and reshuffle on a new salt" in {
    val df = (1L to 200L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val out = Corpus.trainingOrder(df, "doc_id", salt = "e1", nShards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    out.length shouldBe 200
    // every shard's positions are exactly 1..size(shard)
    out.groupBy(_._2).foreach { case (_, rows) =>
      rows.map(_._3).sorted shouldBe (1L to rows.length).toArray
    }
    // deterministic: same salt reproduces the exact coordinates
    val again = Corpus.trainingOrder(df, "doc_id", salt = "e1", nShards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    again.sortBy(_._1) shouldBe out.sortBy(_._1)
    // a new salt is a genuine reshuffle (some doc moves shard or position)
    val epoch2 = Corpus.trainingOrder(df, "doc_id", salt = "e2", nShards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    epoch2.sortBy(_._1) should not be out.sortBy(_._1)
  }

  behavior of "round-10 late operators"

  it should "beat or match by_residual=false recall at identical m/k (residual IVF-PQ)" in {
    // 4 well-separated 4-dim clusters: residual encoding centers the PQ
    // training on v - coarse_centroid, so at the SAME code budget the
    // reconstruction is finer. The scaladoc's claimed win, ASSERTED.
    val base = Seq(
      Seq(10f, 0f, 0f, 0f), Seq(0f, 10f, 0f, 0f),
      Seq(0f, 0f, 10f, 0f), Seq(0f, 0f, 0f, 10f))
    val vecs = (0L until 48L).map { i =>
      val c = base((i % 4).toInt)
      (i, c.zipWithIndex.map { case (x, j) =>
        x + ((i * 7 + j * 3) % 5).toFloat * 0.3f - 0.6f })
    }.toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") < 3)
    def recallOf(approx: org.apache.spark.sql.DataFrame): Double = {
      val exact = Similarity.bruteForceTopK(vecs, q, "vec_id", "embedding", 5)
        .select("query_id", "neighbor_id")
      val hit = exact.join(approx.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_semi").count()
      hit / 15.0
    }
    val resid = recallOf(Similarity.ivfPqResidualTopK(vecs, q, "vec_id",
      "embedding", dim = 4, k = 5, numCentroids = 4, lloydRounds = 2,
      nprobe = 2, m = 2, pqK = 4))
    val flat = recallOf(Similarity.ivfPqTopK(vecs, q, "vec_id",
      "embedding", dim = 4, k = 5, numCentroids = 4, lloydRounds = 2,
      nprobe = 2, m = 2, pqK = 4))
    withClue(s"residual=$resid flat=$flat: ") {
      resid should be >= flat
      resid should be > 0.5 // and genuinely useful, not vacuously equal
    }
  }

  it should "advise keep under a loose occupancy budget and retrain under a tight one" in {
    // 3 clusters of very different sizes: at curK=3 the hottest cell
    // holds ~2/3 of the corpus, so a loose budget keeps and a tight one
    // forces the retrain ladder upward
    val vecs = (0L until 60L).map { i =>
      val c = if (i < 40) Seq(10f, 0f, 0f, 0f)
        else if (i < 52) Seq(0f, 10f, 0f, 0f) else Seq(0f, 0f, 10f, 0f)
      (i, c.zipWithIndex.map { case (x, j) =>
        x + ((i * 7 + j * 3) % 5).toFloat * 0.1f })
    }.toDF("vec_id", "embedding")
    // columns: threshold_pct, cur_k, cur_max_n, decision, chosen_k,
    // chosen_max_n
    val rows = Similarity.ivfRebalanceAdvice(vecs, "vec_id", "embedding",
      curK = 3, candidates = Seq(3, 6, 12), thresholdsPct = Seq(300, 120))
      .collect()
    val byTau = rows.map(r => r.getInt(0) -> r).toMap
    byTau(300).getString(3) shouldBe "keep"
    byTau(300).getInt(4) shouldBe 3
    // tight budget: a hot ~40-row cell cannot fit 120% of uniform (24
    // rows); the ladder must move past curK
    byTau(120).getString(3) shouldBe "retrain"
    byTau(120).getInt(4) should be > 3
    // a keep verdict's hottest cell always fits the budget it was
    // judged against (integer-exact comparison)
    byTau(300).getLong(5) * 3 * 100 should be <= 300L * 60L
  }

  it should "apply the rebalance verdict as a committed, provably in-budget index" in {
    val vecs = (0L until 60L).map { i =>
      val c = if (i < 40) Seq(10f, 0f, 0f, 0f)
        else if (i < 52) Seq(0f, 10f, 0f, 0f) else Seq(0f, 0f, 10f, 0f)
      (i, c.zipWithIndex.map { case (x, j) =>
        x + ((i * 7 + j * 3) % 5).toFloat * 0.1f })
    }.toDF("vec_id", "embedding")
    val corpusDir = java.nio.file.Files.createTempDirectory("rebalc").toString
    val indexDir = java.nio.file.Files.createTempDirectory("rebali").toString
    try {
      val row = Similarity.ivfRebalanceApply(vecs, "vec_id", "embedding",
        corpusDir, indexDir, curK = 3, candidates = Seq(3, 6, 12),
        thresholdPct = 120).head()
      row.getString(1) shouldBe "retrain"
      val chosenK = row.getInt(2)
      chosenK should be > 3
      // the committed index IS at the chosen k, bound to the corpus
      // snapshot, and the in-row proof re-measured from it holds
      import graft.sources.ManifestTable
      ManifestTable.properties(spark, indexDir)
        .get("ivf.k") shouldBe Some(chosenK.toString)
      ManifestTable.indexSourceOf(spark, indexDir)
        .map(_._1) shouldBe Some(corpusDir)
      row.getBoolean(5) shouldBe true
      val post = ManifestTable.read(spark, indexDir)
        .groupBy(col("cell")).agg(count(lit(1)).as("n"))
        .agg(max(col("n"))).head().getLong(0)
      post shouldBe row.getLong(4)
      post * 3 * 100 should be <= 120L * 60L
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(corpusDir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(indexDir))
    }
  }

  it should "train paired PQ codebooks bit-identical to separate training" in {
    // pqCodebooksPaired exists so a flat-vs-residual eval pays ONE seed
    // job and ONE aggregate per Lloyd round for both arms — the whole
    // point dies if the shared jobs drift from separate training, so
    // the equality is exact, not approximate.
    val base = Seq(
      Seq(10f, 0f, 0f, 0f), Seq(0f, 10f, 0f, 0f),
      Seq(0f, 0f, 10f, 0f), Seq(0f, 0f, 0f, 10f))
    val vecs = (0L until 48L).map { i =>
      val c = base((i % 4).toInt)
      (i, c.zipWithIndex.map { case (x, j) =>
        x + ((i * 7 + j * 3) % 5).toFloat * 0.3f - 0.6f })
    }.toDF("vec_id", "embedding")
    val cent = Similarity.kmeansCentroids(vecs, "vec_id", "embedding",
      k = 4, rounds = 2)
    val (fb, rb) = Similarity.pqCodebooksPaired(vecs, "vec_id", "embedding",
      cent, dim = 4, m = 2, pqK = 4, lloydRounds = 2)
    val fbSep = Similarity.pqCodebooks(vecs, "vec_id", "embedding",
      dim = 4, m = 2, k = 4, lloydRounds = 2)
    fb shouldBe fbSep
    // the residual arm reproduces training over the residual frame: the
    // paired books must drive ivfPqResidualTopK to the same rows as its
    // own internal training
    val q = vecs.filter(col("vec_id") < 3)
    val own = Similarity.ivfPqResidualTopK(vecs, q, "vec_id", "embedding",
      dim = 4, k = 5, numCentroids = 4, lloydRounds = 2, nprobe = 2,
      m = 2, pqK = 4, coarse = Some(cent)).collect().map(_.toString).sorted
    val paired = Similarity.ivfPqResidualTopK(vecs, q, "vec_id", "embedding",
      dim = 4, k = 5, numCentroids = 4, lloydRounds = 2, nprobe = 2,
      m = 2, pqK = 4, coarse = Some(cent), pqBooks = Some(rb))
      .collect().map(_.toString).sorted
    paired shouldBe own
  }

  it should "report cell stats whose shares sum to 1 and uniform imbalance ~ 1" in {
    // 4 tight, equally-sized clusters -> each found cell holds ~12
    // vectors; shares are exact twelfths and imbalance sits at 1
    val base = Seq(
      Seq(10f, 0f, 0f, 0f), Seq(0f, 10f, 0f, 0f),
      Seq(0f, 0f, 10f, 0f), Seq(0f, 0f, 0f, 10f))
    val vecs = (0L until 48L).map { i =>
      val c = base((i % 4).toInt)
      (i, c.zipWithIndex.map { case (x, j) =>
        x + ((i * 7 + j * 3) % 5).toFloat * 0.1f })
    }.toDF("vec_id", "embedding")
    val stats = Similarity.ivfCellStats(vecs, "vec_id", "embedding",
      numCentroids = 4, lloydRounds = 4).collect()
    stats.map(_.getLong(1)).sum shouldBe 48L
    math.abs(stats.map(_.getDouble(2)).sum - 1.0) should be < 1e-4
    // every imbalance is share * numCentroids (the uniform ideal = 1)
    stats.foreach { r =>
      math.abs(r.getDouble(3) - r.getDouble(2) * 4.0) should be < 1e-4
    }
    val imbalances = stats.map(_.getDouble(3))
    withClue(imbalances.mkString(",")) {
      all(imbalances) should (be >= 0.2 and be <= 3.0)
      // the k-row frame: never more rows than centroids
      stats.length should be <= 4
    }
  }

  it should "embed deterministically with partition-independent values" in {
    val docs = Seq(Doc(1, "hello", "s"), Doc(2, "x" * 1000, "s")).toDS.toDF()
    val out = Multimodal.embedBatched(Multimodal.asMedia(docs, "doc_id", "text"))
      .collect().sortBy(_.id)
    out.length shouldBe 2
    // the known id/w/h fixture (same BMP dims decodeBatched pins):
    // doc 1 -> 6x6, doc 2 -> 41x41; embedding = md5("id|w|h|j") stub
    out(0).width shouldBe 6
    out(0).height shouldBe 6
    out(1).width shouldBe 41
    out(1).height shouldBe 41
    def stub(id: Long, w: Int, h: Int, j: Int): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$id|$w|$h|$j".getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString.take(7)
      java.lang.Long.parseLong(hex, 16) % 1000 / 1000.0
    }
    out(0).embedding shouldBe (0 until 8).map(j => stub(1L, 6, 6, j))
    all(out.flatMap(_.embedding)) should (be >= 0.0 and be < 1.0)
    // partition layout cannot change values (the per-partition model
    // seam must be stateless across batches)
    val repart = Multimodal.embedBatched(
      Multimodal.asMedia(docs, "doc_id", "text").repartition(5))
      .collect().sortBy(_.id)
    repart.map(_.embedding) shouldBe out.map(_.embedding)
  }

  behavior of "quantizer registry codec"

  it should "roundtrip coarse + both PQ arms through registry rows exactly" in {
    // the committed-registry path (fixPqBooks/loadPqBooks) is only
    // bit-identical to inline training if this codec is lossless and
    // order-restoring — pin it on unsorted, multi-subspace input
    val cent = Seq(3L -> Seq(0.5, -1.25), 1L -> Seq(2.0, 0.0))
    val flat = IndexedSeq(
      Seq(2L -> Seq(1.0), 1L -> Seq(-0.5)),
      Seq(9L -> Seq(0.125), 4L -> Seq(3.5)))
    val resid = IndexedSeq(
      Seq(7L -> Seq(0.0625), 2L -> Seq(-2.0)),
      Seq(1L -> Seq(1.5), 8L -> Seq(-0.25)))
    val rows = Similarity.pqBooksToRows(cent, flat, resid)
    rows.length shouldBe 2 + 4 + 4
    // shuffle the row order: the decoder must not depend on it
    val (c2, f2, r2) = Similarity.pqBooksFromRows(scala.util.Random
      .javaRandomToRandom(new java.util.Random(7)).shuffle(rows))
    c2 shouldBe cent.sortBy(_._1)
    f2 shouldBe flat.map(_.sortBy(_._1))
    r2 shouldBe resid.map(_.sortBy(_._1))
    // a registry missing an arm refuses instead of returning empties
    an[IllegalArgumentException] should be thrownBy
      Similarity.pqBooksFromRows(rows.filterNot(_._1 == "coarse"))
  }

  behavior of "preference, agreement, and calibration operators"

  it should "rank Bradley-Terry strengths by dominance and split ties evenly" in {
    // 1 beats 2 in all 4 games, 2 beats 3 in all 4, 1-3 split 2-2:
    // strength must order 1 > 2 > 3 regardless of iteration count
    val pairs = Seq.fill(4)((1L, 2L, 1)) ++ Seq.fill(4)((2L, 3L, 1)) ++
      Seq((1L, 3L, 1), (1L, 3L, 1), (1L, 3L, 0), (1L, 3L, 0))
    val out = EventOps.bradleyTerry(
        pairs.toDF("a", "b", "awin"), "a", "b", "awin")
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    out.map(_._1) shouldBe Array(1L, 2L, 3L)
    out.map(_._3) shouldBe Array(1, 2, 3)
    out.map(_._2).sum shouldBe 1.0 +- 1e-6
    // perfectly symmetric record -> exactly equal normalized strengths
    val even = Seq((7L, 8L, 1), (7L, 8L, 1), (7L, 8L, 0), (7L, 8L, 0))
    val sc = EventOps.bradleyTerry(
        even.toDF("a", "b", "awin"), "a", "b", "awin")
      .orderBy("item").collect().map(_.getDouble(1))
    sc shouldBe Array(0.5, 0.5)
  }

  it should "match hand-computed Krippendorff alpha at both extremes" in {
    // perfect agreement: every unit unanimous -> D_o = 0, alpha = 1
    val perfect = Seq((1L, "a"), (1L, "a"), (2L, "b"), (2L, "b"))
    val p = EventOps.krippendorffAlpha(perfect.toDF("u", "c"), "u", "c")
      .collect()(0)
    p.getDouble(4) shouldBe 1.0
    // systematic disagreement: units {a,b},{a,b} -> so = 4, N = 4,
    // se = 2*2 + 2*2 = 8 -> alpha = 1 - 3*4/8 = -0.5; d_obs = 4/4 = 1,
    // d_exp = 8/(4*3) = 0.666667
    val split = Seq((1L, "a"), (1L, "b"), (2L, "a"), (2L, "b"))
    val s = EventOps.krippendorffAlpha(split.toDF("u", "c"), "u", "c")
      .collect()(0)
    (s.getLong(0), s.getLong(1)) shouldBe ((2L, 4L))
    s.getDouble(2) shouldBe 1.0
    s.getDouble(3) shouldBe 0.666667
    s.getDouble(4) shouldBe -0.5
    // single-rating units are unpairable and must not contribute
    val withSingleton = split ++ Seq((3L, "a"))
    EventOps.krippendorffAlpha(withSingleton.toDF("u", "c"), "u", "c")
      .collect()(0).getDouble(4) shouldBe -0.5
  }

  it should "compute the unbiased pass@k estimator with boundary cases" in {
    // task 1: n=3 c=1 -> pass1 = 1 - 2/3; pass5/pass10 undefined (n < k)
    // task 2: n=10 c=0 -> all-fail: pass10 = 0
    // task 3: n=10 c=1 -> pass10 = 1 (a pass in every 10-draw);
    //   pass5 = 1 - (9*8*7*6*5)/(10*9*8*7*6) = 1 - 5/10 = 0.5
    val rows = Seq.fill(1)((1L, true)) ++ Seq.fill(2)((1L, false)) ++
      Seq.fill(10)((2L, false)) ++
      (Seq.fill(1)((3L, true)) ++ Seq.fill(9)((3L, false)))
    val out = EventOps.passAtK(rows.toDF("task", "pass"), "task", "pass")
      .orderBy("task_id").collect()
    val t1 = out(0)
    (t1.getLong(1), t1.getLong(2)) shouldBe ((3L, 1L))
    t1.getDouble(3) shouldBe 0.333333
    t1.isNullAt(4) shouldBe true
    t1.isNullAt(5) shouldBe true
    out(1).getDouble(5) shouldBe 0.0
    out(2).getDouble(4) shouldBe 0.5
    out(2).getDouble(5) shouldBe 1.0
  }

  it should "propagate labels with clamped seeds, plurality ties, and fallback" in {
    // seeds: 1 -> 10, 4 -> 20. Directed adoption edges: 2 adopts from 1,
    // 3 from 4, 6 ties between 1 and 4 (smaller label wins), 1 points at
    // 4 but stays clamped, 7 points only at never-labeled 8.
    val nodes = (1L to 8L).map(i =>
      (i, if (i == 1) Some(10) else if (i == 4) Some(20) else None))
      .toDF("id", "slabel")
    val edges = Seq((2L, 1L), (3L, 4L), (6L, 1L), (6L, 4L), (1L, 4L), (7L, 8L))
      .toDF("src", "dst")
    val out = Components.labelPropagate(
        nodes, "id", "slabel", edges, "src", "dst", rounds = 3)
      .collect().map(r =>
        r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    out shouldBe Map(1L -> Some(10), 2L -> Some(10), 3L -> Some(20),
      4L -> Some(20), 5L -> None, 6L -> Some(10), 7L -> None, 8L -> None)
  }

  it should "report an ECE consistent with its own reliability bins" in {
    // duplicate docs land uniq=false; singletons true — bins must
    // partition the corpus and the ECE total must equal the
    // Σ (n_b/N)|acc_b − conf_b| recomputed from the returned rows
    val docs = ((1L to 30L).map(i => Doc(i, ("w " * ((i % 11).toInt + 1)).trim, "s"))
      ++ Seq(Doc(31L, "w w w", "s"), Doc(32L, "w w w", "s"))).toDS.toDF()
    val rows = Corpus.calibrationEce(docs, "text").collect()
    rows.map(_.getLong(1)).sum shouldBe 32L
    val n = 32.0
    val expectedEce = rows.map(r =>
      r.getLong(1) / n * math.abs(r.getDouble(3) - r.getDouble(2))).sum
    all(rows.map(_.getDouble(4))) shouldBe expectedEce +- 1e-4
    // every bin's confidence and accuracy are probabilities
    rows.foreach { r =>
      r.getDouble(2) should (be >= 0.0 and be <= 1.0)
      r.getDouble(3) should (be >= 0.0 and be <= 1.0)
    }
  }

  it should "pick the exact conformal order statistic and report true coverage" in {
    val docs = (1L to 40L).map(i => Doc(i, ("w " * ((i % 13).toInt + 1)).trim, "s"))
      .toDS.toDF()
    val out = Corpus.conformalGate(docs, "doc_id", "text",
      calMod = 5, alpha = 0.5).collect()(0)
    val nCal = out.getLong(0)
    val k = out.getLong(1)
    nCal shouldBe 8L // doc_id % 5 == 0 within 1..40
    k shouldBe math.max(1L, math.floor(0.5 * (nCal + 1)).toLong)
    // tau must equal the k-th smallest calibration score of the same
    // scoring column the gate uses
    val scores = docs.filter(col("doc_id") % 5 === 0)
      .select(TextFunctions.qualityScore(col("text"),
        TextFunctions.tokens(col("text"))).as("q"))
      .collect().map(_.getDouble(0)).sorted
    out.getDouble(2) shouldBe (math.rint(scores(k.toInt - 1) * 1e6) / 1e6)
    // coverage is exactly n_pass / n_test over the non-calibration slice
    val nTest = out.getLong(3)
    val nPass = out.getLong(4)
    nTest shouldBe 32L
    out.getDouble(5) shouldBe (math.rint(nPass.toDouble / nTest * 1e6) / 1e6)
  }
}
