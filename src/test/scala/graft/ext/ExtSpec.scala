package graft.ext

import graft.ops.{CacheScope, Dedup, Similarity, TextFunctions}
import graft.plug.TestSpark
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

class ExtSpec extends AnyFlatSpec with Matchers {
  lazy val spark = TestSpark.session
  import spark.implicits._

  behavior of "GraftExtensions"

  it should "register the vector kernels in the session" in {
    Seq("graft_json_get", "graft_md5hex", "graft_hash60_arr", "graft_dot_double",
      "graft_cosine", "graft_simhash60", "graft_shingles", "graft_grams",
      "graft_minhash_sig", "graft_lsh_bucket").foreach { name =>
      withClue(name) { spark.catalog.functionExists(name) shouldBe true }
    }
    // each SQL name builds the same kernel as its graft.ops constructor
    val df = Seq(("""{"k": 7}""", "a b c d", Seq(1f, 2f, 3f), Seq(3f, 2f, 1f)))
      .toDF("j", "text", "a", "b")
      .withColumn("toks", TextFunctions.tokens(col("text")))
    val pairs = Seq(
      "graft_json_get(j, 'k')" -> TextFunctions.jsonGet(col("j"), "k"),
      "graft_md5hex(text)" -> TextFunctions.md5Hex(col("text")),
      "graft_hash60_arr(toks)" -> TextFunctions.hash60Arr(col("toks")),
      "graft_dot_double(a, b)" -> Similarity.dotDouble(col("a"), col("b")),
      "graft_cosine(a, b)" -> Similarity.cosine(col("a"), col("b")),
      "graft_simhash60(graft_hash60_arr(toks))" -> Dedup.simhash(col("toks")),
      "graft_shingles(toks, 3)" -> TextFunctions.shingles(col("toks"), 3),
      "graft_grams(toks, 2)" -> TextFunctions.gramsAll(col("toks"), 2),
      "graft_minhash_sig(toks, 8)" -> Dedup.minhashSig(col("toks"), 8),
      "graft_lsh_bucket(a, 4, 3, 0)" -> Similarity.lshBucket(col("a"), 4, 3))
    val row = df.select(pairs.flatMap { case (sql, c) => Seq(expr(sql), c) }: _*)
      .collect().head
    pairs.indices.foreach { i =>
      withClue(pairs(i)._1) { row.get(2 * i) shouldBe row.get(2 * i + 1) }
    }
  }

  it should "build the operators' kernels without the session's function registry" in {
    // the operators construct each kernel from its expression class, so a
    // session whose registry lacks the graft_* names plans the same kernels
    // and returns the same rows
    val bare = spark.newSession()
    val registry = bare.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    registry.listFunction().filter(_.funcName.startsWith("graft_"))
      .foreach(registry.dropFunction)
    bare.catalog.functionExists("graft_cosine") shouldBe false
    // real scans: local literals would constant-fold into a LocalRelation
    def frames(s: SparkSession, scope: CacheScope): Seq[(String, DataFrame)] = {
      val docs = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
      val vecs = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      Seq(
        "graft_shingles" -> docs.select(col("doc_id"),
          TextFunctions.shingles(TextFunctions.tokens(col("text")), 3).as("sh")),
        "graft_cosine" -> vecs.select(col("vec_id"),
          Similarity.cosine(col("embedding"), reverse(col("embedding"))).as("c")),
        "graft_minhash_sig" -> Dedup.minhashNearDupPairs(docs, "doc_id", "text", scope = scope))
    }
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    val (bareScope, refScope) = (new CacheScope, new CacheScope)
    try {
      frames(bare, bareScope).zip(frames(spark, refScope)).foreach {
        case ((kernel, got), (_, want)) =>
          withClue(kernel) {
            got.queryExecution.optimizedPlan.toString should include (kernel)
            rows(got) shouldBe rows(want)
          }
      }
    } finally { bareScope.release(); refScope.release() }
  }

  it should "produce bit-identical results to the HOF formulation" in {
    val df = Seq(
      (Seq(0.1f, -0.2f, 0.37f, 1.5f), Seq(0.9f, 0.04f, -2.2f, 0.001f)),
      (Seq(1f, 2f, 3f, 4f), Seq(4f, 3f, 2f, 1f)),
      (Seq(-1f, 1f, -1f, 1f), Seq(1f, -1f, 1f, -1f))
    ).toDF("a", "b")
    val out = df.select(
      expr("graft_dot_double(a, b)").as("kd"),
      Similarity.dotDouble(col("a"), col("b")).as("hd"),
      Similarity.cosine(col("a"), col("b")).as("kc"),
      HofModels.cosine(col("a"), col("b")).as("hc")
    ).collect()
    out.foreach { r =>
      java.lang.Double.doubleToLongBits(r.getDouble(0)) shouldBe
        java.lang.Double.doubleToLongBits(r.getDouble(1))
      java.lang.Double.doubleToLongBits(r.getDouble(2)) shouldBe
        java.lang.Double.doubleToLongBits(r.getDouble(3))
    }
  }

  it should "compile two kernels spliced into one codegen scope" in {
    // Regression: the dot/cosine loops once used literal `i`/`n` locals, so
    // a projection evaluating the kernel twice in one generated function
    // failed janino compilation ("Redefinition of local variable i") and
    // silently fell back to interpreted eval. freshName'd locals must keep
    // the plan compiling with fallback DISABLED.
    val prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val df = Seq(
        (Seq(1f, 2f, 3f), Seq(3f, 2f, 1f), Seq(0.5f, -1f, 2f))
      ).toDF("a", "b", "c")
      val r = df.select(
        expr("graft_dot_double(a, b)").as("d1"),
        expr("graft_dot_double(a, c)").as("d2"),
        Similarity.cosine(col("a"), col("b")).as("c1"),
        Similarity.cosine(col("b"), col("c")).as("c2")
      ).collect().head
      r.getDouble(0) shouldBe 10.0
      r.getDouble(1) shouldBe 4.5
      r.getDouble(2) should be > 0.0
      r.getDouble(3) should be < 1.0
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  it should "match the HOF minhash and simhash formulations exactly" in {
    val df = Seq("the quick brown fox jumps over the lazy dog", "a b c d e f g h")
      .toDF("text")
      .select(
        HofModels.shingles(TextFunctions.tokens(col("text")), 3).as("sh"),
        TextFunctions.tokens(col("text")).as("toks"))
    val out = df.select(
      Dedup.minhashSig(col("sh"), 16).as("ksig"),
      HofModels.minhashSignature(col("sh"), 16).as("hsig"),
      Dedup.simhash(col("toks")).as("ksim"),
      HofModels.simhash(col("toks")).as("hsim")
    ).collect()
    out.foreach { r =>
      r.getSeq[Long](0) shouldBe r.getSeq[Long](1)
      r.getLong(2) shouldBe r.getLong(3)
    }
  }

  it should "match the HOF gramsAll formulation exactly" in {
    val df = Seq("a b c d", "x y", "solo", "r r r r r").toDF("text")
      .select(TextFunctions.tokens(col("text")).as("toks"))
    val out = df.select(
      TextFunctions.gramsAll(col("toks"), 3).as("kg"),
      HofModels.gramsAll(col("toks"), 3).as("hg"),
      TextFunctions.gramsAll(col("toks"), 1).as("kg1"),
      HofModels.gramsAll(col("toks"), 1).as("hg1")
    ).collect()
    out.foreach { r =>
      r.getSeq[String](0) shouldBe r.getSeq[String](1)
      r.getSeq[String](2) shouldBe r.getSeq[String](3)
    }
    // duplicates kept, short input -> empty (NOT the shingles collapse)
    out(3).getSeq[String](0) shouldBe Seq("r r r", "r r r", "r r r")
    out(1).getSeq[String](0) shouldBe Seq.empty
    // null input propagates on both forms
    val nr = Seq(Option.empty[Seq[String]]).toDF("toks").select(
      TextFunctions.gramsAll(col("toks"), 2), HofModels.gramsAll(col("toks"), 2)
    ).collect().head
    nr.isNullAt(0) shouldBe true
    nr.isNullAt(1) shouldBe true
  }

  it should "propagate nulls exactly like the HOF formulations" in {
    val df = Seq((Option.empty[Seq[String]], Option.empty[Seq[Float]], Some(Seq(1f, 2f)), Some(Seq(1f, 2f, 3f))))
      .toDF("toks", "nv", "v2", "v3")
    val r = df.select(
      Dedup.minhashSig(col("toks"), 16).as("ksig"),
      HofModels.minhashSignature(col("toks"), 16).as("hsig"),
      TextFunctions.shingles(col("toks"), 3).as("ksh"),
      HofModels.shingles(col("toks"), 3).as("hsh"),
      expr("graft_dot_double(nv, v2)").as("kdn"),
      Similarity.dotDouble(col("nv"), col("v2")).as("hdn"),
      // mismatched lengths: HOF null-pads -> NULL; kernels must match
      expr("graft_dot_double(v2, v3)").as("kdm"),
      Similarity.dotDouble(col("v2"), col("v3")).as("hdm"),
      Similarity.cosine(col("v2"), col("v3")).as("kcm"),
      HofModels.cosine(col("v2"), col("v3")).as("hcm")
    ).collect().head
    (0 until 10).foreach(i => r.isNullAt(i) shouldBe true)
  }

  it should "match built-in md5 and the transform-hash60 formulation" in {
    val df = Seq("the quick brown fox", "", "ünïcode tëxt").toDF("text")
      .select(col("text"), TextFunctions.tokens(col("text")).as("toks"))
    df.select(
      TextFunctions.md5Hex(col("text")).as("k"),
      md5(col("text")).as("b")
    ).collect().foreach(r => r.getString(0) shouldBe r.getString(1))
    df.select(
      TextFunctions.hash60Arr(col("toks")).as("k"),
      transform(col("toks"), t => TextFunctions.hash60(t)).as("h")
    ).collect().foreach(r => r.getSeq[Long](0) shouldBe r.getSeq[Long](1))
  }

  it should "extract flat JSON scalars exactly like get_json_object" in {
    val df = Seq(
      """{"k": 69, "s": "hi"}""",
      """{"k":-12,"s":"a b","f":150.5,"t":true,"z":null}""",
      """{"other": 1}""",
      """{"s": "esc\"aped\nvalue", "k": 7}""",
      """not json at all""",
      """{"arr": [1,2,{"k": 99}], "k": 5}"""
    ).toDF("j")
    Seq("k", "s", "f", "t", "z", "missing").foreach { key =>
      val rows = df.select(
        TextFunctions.jsonGet(col("j"), key).as("mine"),
        get_json_object(col("j"), s"$$.$key").as("spark")
      ).collect()
      rows.foreach { r =>
        withClue(s"key=$key row=$r: ") { r.getString(0) shouldBe r.getString(1) }
      }
    }
    // null input propagates
    Seq(Option.empty[String]).toDF("j")
      .select(TextFunctions.jsonGet(col("j"), "k")).collect().head.isNullAt(0) shouldBe true
  }

  it should "match the HOF sign-LSH bucket bit for bit" in {
    val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val rows = df.select(
      Similarity.lshBucket(col("embedding"), 8, 64, firstPlane = 0).as("k0"),
      HofModels.lshBucket(col("embedding"), 8, 64, firstPlane = 0).as("h0"),
      Similarity.lshBucket(col("embedding"), 8, 64, firstPlane = 8).as("k1"),
      HofModels.lshBucket(col("embedding"), 8, 64, firstPlane = 8).as("h1")
    ).collect()
    rows should not be empty
    rows.foreach { r =>
      r.getInt(0) shouldBe r.getInt(1)
      r.getInt(2) shouldBe r.getInt(3)
    }
    // NULL and wrong-length vectors land in bucket -1 on both routes
    val edge = Seq((Option.empty[Seq[Float]], Some(Seq(1f, 2f))))
      .toDF("nv", "shortv")
    val e = edge.select(
      Similarity.lshBucket(col("nv"), 8, 64).as("kn"),
      HofModels.lshBucket(col("nv"), 8, 64).as("hn"),
      Similarity.lshBucket(col("shortv"), 8, 64).as("km"),
      HofModels.lshBucket(col("shortv"), 8, 64).as("hm")
    ).collect().head
    (0 until 4).foreach(i => e.getInt(i) shouldBe -1)
  }

  it should "match the HOF fold bit-for-bit on mixed float/double arrays" in {
    // the k-means centroid path compares float corpus vectors against
    // double centroid literals — the kernel must equal the portable HOF
    // cosine exactly in every type combination
    val df = Seq((Seq(1.5f, -2.25f, 3f), Seq(0.5d, 1.125d, -2.75d)))
      .toDF("fv", "dv")
    val r = df.select(
      Similarity.cosine(col("fv"), col("dv")).as("k_fd"),
      HofModels.cosine(col("fv"), col("dv")).as("h_fd"),
      Similarity.cosine(col("dv"), col("dv")).as("k_dd"),
      HofModels.cosine(col("dv"), col("dv")).as("h_dd")
    ).collect().head
    java.lang.Double.doubleToRawLongBits(r.getDouble(0)) shouldBe
      java.lang.Double.doubleToRawLongBits(r.getDouble(1))
    java.lang.Double.doubleToRawLongBits(r.getDouble(2)) shouldBe
      java.lang.Double.doubleToRawLongBits(r.getDouble(3))
  }

  it should "stay inside whole-stage codegen" in {
    // literals would constant-fold into a LocalTableScan; use a real scan
    val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(Similarity.cosine(col("embedding"), col("embedding")).as("c"))
    // a "*(n)" prefix marks a WholeStageCodegen stage; the kernel must not
    // demote its Project to interpreted evaluation
    val plan = df.queryExecution.executedPlan.toString
    plan should include ("*(1) Project [graft_cosine")
    // self-cosine of a non-zero vector is exactly 1 up to rounding
    df.limit(5).collect().foreach(_.getDouble(0) shouldBe 1.0 +- 1e-12)
    // the LSH bucket kernel must also stay codegen'd
    val bplan = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(Similarity.lshBucket(col("embedding"), 8, 64).as("b"))
      .queryExecution.executedPlan.toString
    bplan should include ("*(1) Project [graft_lsh_bucket")
  }
}
