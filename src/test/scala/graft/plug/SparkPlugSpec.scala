package graft.plug

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions, DataFrame, SparkSession}
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

// Fixture schemas ported from the reference test suite
// (reference: src/test/scala/sparkplug/SparkPlugSpec.scala:24-54).
case class TestRow(title: String, brand: String, price: Int)
case class TestRowWithPlugDetails(title: String, brand: String, price: Int,
    plugDetails: Seq[PlugDetail] = Seq())
case class TestPriceDetails(minPrice: Double, maxPrice: Double, availability: String = "available")
case class TestRowWithStruct(title: String, brand: String, price: Option[TestPriceDetails])
case class OverrideDetail(ruleId: Option[String], fieldNames: Seq[String], ruleVersion: Option[String])
case class TestDims(w: Int, h: Int)
case class TestItem(sku: String, price: Double, dims: TestDims)
case class TestRowWithItems(title: String, brand: String, items: Option[Seq[TestItem]])

class SparkPlugSpec extends AnyFlatSpec with Matchers {

  lazy val spark: SparkSession = TestSpark.session
  import spark.implicits._

  def df: DataFrame = Seq(TestRow("iPhone", "Apple", 300), TestRow("Galaxy", "Samsung", 200)).toDF()

  def structDf: DataFrame = Seq(
    TestRowWithStruct("iPhone", "Apple", Some(TestPriceDetails(100.0, 150.0))),
    TestRowWithStruct("Galaxy", "Samsung", Some(TestPriceDetails(10.0, 15.0, "not available"))),
    TestRowWithStruct("Lumia", "Nokia", None)
  ).toDF()

  "SparkPlug" should "return input df as is on empty rules" in {
    val out = SparkPlug.builder(spark).create().plug(df, List.empty)
    out.isRight shouldBe true
    out.toOption.get.collect() should contain theSameElementsAs df.collect()
  }

  it should "add the plugDetails column when enabled" in {
    val out = SparkPlug.builder(spark).enablePlugDetails().create().plug(df, List.empty)
    val frame = out.toOption.get
    frame.schema.fieldNames should contain("plugDetails")
    frame.as[TestRowWithPlugDetails].collect().foreach(_.plugDetails shouldBe Seq.empty)
  }

  it should "report a validation error for a field missing from the schema" in {
    val rules = List(PlugRule("rule1", "v1", "title like '%iPhone%'",
      Seq(PlugAction("nonexistent", "x"))))
    val out = SparkPlug.builder(spark).enableRulesValidation.create().plug(df, rules)
    out shouldBe Left(List(PlugRuleValidationError("rule1",
      """Field "nonexistent" not found in the schema.""")))
  }

  it should "report a validation error for a non-coercible literal" in {
    val rules = List(PlugRule("rule1", "v1", "title like '%iPhone%'",
      Seq(PlugAction("price", "too expensive"))))
    val out = SparkPlug.builder(spark).enableRulesValidation.create().plug(df, rules)
    out shouldBe Left(List(PlugRuleValidationError("rule1",
      """Value "too expensive" cannot be assigned to field price.""")))
  }

  it should "report a validation error for empty actions" in {
    val rules = List(PlugRule("rule1", "v1", "true", Seq.empty))
    val out = SparkPlug.builder(spark).enableRulesValidation.create().plug(df, rules)
    out shouldBe Left(List(PlugRuleValidationError("rule1",
      "At the least one action must be specified per rule.")))
  }

  it should "report duplicate rule versions" in {
    val rules = List(
      PlugRule("rule1", "v1", "true", Seq(PlugAction("title", "a"))),
      PlugRule("rule1", "v2", "true", Seq(PlugAction("title", "b"))))
    val out = SparkPlug.builder(spark).enableRulesValidation.create().plug(df, rules)
    out shouldBe Left(List(PlugRuleValidationError("rule1",
      "Only one version per rule should be applied.")))
  }

  it should "report SQL analysis errors from the dry-run" in {
    val rules = List(PlugRule("rule1", "v1", "conc(title, '-') like '%iPhone%'",
      Seq(PlugAction("title", "Apple iPhone"))))
    val out = SparkPlug.builder(spark).enableRulesValidation.create().plug(df, rules)
    out.isLeft shouldBe true
    val err = out.swap.toOption.get.head
    err.name shouldBe "rule1"
    err.error should startWith("[SQL Error]")
  }

  it should "report malformed backtick SQL via the dry-run, not a thrown ParseException" in {
    val rules = List(PlugRule("rule1", "v1", "title like '%iPhone%'",
      Seq(PlugAction("title", "`concat(brand,`"))))
    val out = SparkPlug.builder(spark).enableRulesValidation.create().plug(df, rules)
    out.isLeft shouldBe true
    val err = out.swap.toOption.get.head
    err.name shouldBe "rule1"
    err.error should startWith("[SQL Error]")
  }

  it should "apply rules sequentially, each seeing the previous output" in {
    val rules = List(
      PlugRule("rule1", "v1", "title like '%iPhone%'",
        Seq(PlugAction("title", "Apple iPhone"), PlugAction("price", "1000"))),
      PlugRule("rule2", "v1", "title = 'Apple iPhone'", Seq(PlugAction("brand", "Apple Inc"))))
    val out = SparkPlug.builder(spark).create().plug(df, rules).toOption.get
    val rows = out.as[TestRow].collect().sortBy(_.title)
    rows(0) shouldBe TestRow("Apple iPhone", "Apple Inc", 1000)
    rows(1) shouldBe TestRow("Galaxy", "Samsung", 200)
  }

  it should "apply only the first matching rule under plugFirstMatch" in {
    // both rules match the 300-price row; sequentially rule2 would win,
    // first-match keeps rule1's write and shields the row from rule2
    val rules = List(
      PlugRule("narrow", "v1", "price >= 300", Seq(PlugAction("brand", "Premium"))),
      PlugRule("broad", "v1", "price >= 100", Seq(PlugAction("brand", "Any"))))
    val out = SparkPlug.builder(spark).create().plugFirstMatch(df, rules).toOption.get
    out.schema.fieldNames should not contain "__graft_matched"
    val rows = out.as[TestRow].collect().sortBy(_.title)
    rows(0).brand shouldBe "Any"      // Galaxy (200): only rule2 matches
    rows(1).brand shouldBe "Premium"  // iPhone (300): rule1 claims it first
    // sequential semantics differ on the same input — both end up "Any"
    val seq = SparkPlug.builder(spark).create().plug(df, rules).toOption.get
    seq.as[TestRow].collect().map(_.brand).toSet shouldBe Set("Any")
  }

  it should "still validate rules and keep audit details under plugFirstMatch" in {
    val bad = List(PlugRule("r", "v1", "price > 0", Seq(PlugAction("missing", "x"))))
    SparkPlug.builder(spark).enableRulesValidation.create()
      .plugFirstMatch(df, bad).isLeft shouldBe true
    val rules = List(
      PlugRule("first", "v1", "price >= 300", Seq(PlugAction("brand", "Premium"))),
      PlugRule("second", "v1", "price >= 100", Seq(PlugAction("brand", "Any"))))
    val out = SparkPlug.builder(spark).enablePlugDetails().create()
      .plugFirstMatch(df, rules).toOption.get
    val details = out.select("title", "plugDetails.name").as[(String, Seq[String])]
      .collect().toMap
    details("iPhone") shouldBe Seq("first")  // not also "second"
    details("Galaxy") shouldBe Seq("second")
  }

  it should "preserve the input column order" in {
    val rules = List(PlugRule("rule1", "v1", "price > 250", Seq(PlugAction("price", "100"))))
    val out = SparkPlug.builder(spark).create().plug(df, rules).toOption.get
    out.schema.fieldNames.toSeq shouldBe Seq("title", "brand", "price")
  }

  it should "keep old values in <col>_<rule>_old columns when keepOldField" in {
    val rules = List(PlugRule("rule1", "v1", "title like '%iPhone%'",
      Seq(PlugAction("title", "Apple iPhone"), PlugAction("price", "1000"))))
    val out = SparkPlug.builder(spark).keepOldField.create().plug(df, rules).toOption.get
    out.schema.fieldNames should contain allOf ("title_rule1_old", "price_rule1_old")
    val r = out.filter($"brand" === "Apple")
      .select("title", "title_rule1_old", "price", "price_rule1_old").as[(String, String, Int, Int)]
      .collect().head
    r shouldBe (("Apple iPhone", "iPhone", 1000, 300))
  }

  it should "evaluate backtick values as SQL expressions" in {
    val rules = List(PlugRule("rule1", "v1", "title like '%iPhone%'",
      Seq(PlugAction("title", "`concat(brand, ' ', title)`"))))
    val out = SparkPlug.builder(spark).create().plug(df, rules).toOption.get
    out.filter($"brand" === "Apple").select("title").as[String].collect().head shouldBe "Apple iPhone"
  }

  it should "override struct fields and preserve null parents" in {
    val rules = List(PlugRule("rule1", "v1", "title like '%iPhone%' or title like '%Lumia%'",
      Seq(PlugAction("price.minPrice", "1000.0"), PlugAction("price.availability", "sold out"))))
    val out = SparkPlug.builder(spark).create().plug(structDf, rules).toOption.get
    // NB: "iPhone" (lowercase i) sorts AFTER "Lumia" — order is Galaxy, Lumia, iPhone.
    val rows = out.as[TestRowWithStruct].collect().sortBy(_.title)
    rows(0).price shouldBe Some(TestPriceDetails(10.0, 15.0, "not available")) // Galaxy untouched
    rows(1).price shouldBe None                                                 // Lumia null preserved
    rows(2).price shouldBe Some(TestPriceDetails(1000.0, 150.0, "sold out"))   // iPhone plugged
  }

  it should "assign backtick null to a struct field" in {
    val rules = List(PlugRule("rule1", "v1", "title like '%iPhone%'",
      Seq(PlugAction("price.minPrice", "`null`"))))
    val out = SparkPlug.builder(spark).create().plug(structDf, rules).toOption.get
    val iphone = out.filter($"title" === "iPhone").select("price.minPrice").collect().head
    iphone.isNullAt(0) shouldBe true
  }

  it should "append plug details only for changed rows" in {
    val rules = List(
      PlugRule("rule1", "v1", "title like '%iPhone%'", Seq(PlugAction("price", "1000"))),
      PlugRule("rule2", "v1", "brand = 'Apple'", Seq(PlugAction("brand", "Apple")))) // no-op change
    val out = SparkPlug.builder(spark).enablePlugDetails().create().plug(df, rules).toOption.get
    val rows = out.as[TestRowWithPlugDetails].collect().sortBy(_.title)
    rows(0).plugDetails shouldBe Seq.empty // Galaxy: no rule matched
    rows(1).plugDetails shouldBe Seq(PlugDetail("rule1", "v1", Seq("price"))) // rule2 changed nothing
  }

  it should "support a custom plug details column name" in {
    val rules = List(PlugRule("rule1", "v1", "title like '%iPhone%'", Seq(PlugAction("price", "1000"))))
    val out = SparkPlug.builder(spark).enablePlugDetails("overrideDetails").create()
      .plug(df, rules).toOption.get
    out.schema.fieldNames should contain("overrideDetails")
    out.filter($"title" === "iPhone").select(functions.size($"overrideDetails")).as[Int].collect().head shouldBe 1
  }

  it should "support custom audit record types" in {
    val appender = AuditAppender.forProduct[OverrideDetail] { (name, version, fields) =>
      struct(lit(name).as("ruleId"), typedlit(fields).as("fieldNames"), lit(version).as("ruleVersion"))
    }
    val rules = List(PlugRule("rule1", "v1", "title like '%iPhone%'", Seq(PlugAction("price", "1000"))))
    val out = SparkPlug.builder(spark).enablePlugDetails("overrideDetails", appender).create()
      .plug(df, rules).toOption.get
    val details = out.filter($"title" === "iPhone")
      .select(explode($"overrideDetails")).select("col.*")
      .as[OverrideDetail].collect()
    details shouldBe Array(OverrideDetail(Some("rule1"), Seq("price"), Some("v1")))
  }

  it should "overwrite a plugDetails column already present in the input" in {
    val in = Seq(TestRowWithPlugDetails("iPhone", "Apple", 300,
      Seq(PlugDetail("stale", "v0", Seq("price"))))).toDF()
    val out = SparkPlug.builder(spark).enablePlugDetails().create().plug(in, List.empty).toOption.get
    out.as[TestRowWithPlugDetails].collect().head.plugDetails shouldBe Seq.empty
  }

  it should "count changed rows via observe when accumulators are enabled" in {
    val rules = List(PlugRule("rule1", "v1", "title like '%iPhone%'", Seq(PlugAction("price", "1000"))))
    val out = SparkPlug.builder(spark).enableAccumulators.create().plug(df, rules).toOption.get
    import org.apache.spark.sql.Observation
    // Re-attach via the public Observation API for a deterministic read-back.
    val obs = Observation("spec")
    val observed = out.observe(obs,
      sum(when(functions.size(col("plugDetails")) > 0, 1L).otherwise(0L)).as("n"))
    observed.collect()
    obs.get("n") shouldBe 1L
  }

  it should "checkpoint and repartition on the configured cadence" in {
    val dir = java.nio.file.Files.createTempDirectory("plug-ckpt").toString
    val rules = List(
      PlugRule("rule1", "v1", "title like '%iPhone%'", Seq(PlugAction("price", "1000"))),
      PlugRule("rule2", "v1", "title like '%Galaxy%'", Seq(PlugAction("price", "500"))))
    val out = SparkPlug.builder(spark).enableCheckpointing(dir, 1, 2).create()
      .plug(df, rules).toOption.get
    val rows = out.as[TestRow].collect().sortBy(_.title)
    rows.map(_.price).toSeq shouldBe Seq(500, 1000)
    out.rdd.getNumPartitions shouldBe 2
  }

  it should "be idempotent when reapplied to its own output" in {
    val rules = List(PlugRule("rule1", "v1", "price > 250", Seq(PlugAction("price", "100"))))
    val plug = SparkPlug.builder(spark).create()
    val once = plug.plug(df, rules).toOption.get
    val twice = plug.plug(once, rules).toOption.get
    twice.collect() should contain theSameElementsAs once.collect()
  }

  it should "leave non-matching rows bit-identical" in {
    val rules = List(PlugRule("rule1", "v1", "false", Seq(PlugAction("price", "100"))))
    val out = SparkPlug.builder(spark).create().plug(df, rules).toOption.get
    out.collect() should contain theSameElementsAs df.collect()
  }

  it should "truncate lineage with localCheckpoint when no dir is configured" in {
    val rules = List(
      PlugRule("rule1", "v1", "title like '%iPhone%'", Seq(PlugAction("price", "1000"))),
      PlugRule("rule2", "v1", "title like '%Galaxy%'", Seq(PlugAction("price", "500"))))
    val out = SparkPlug.builder(spark).enableLocalCheckpointing(1, 2).create()
      .plug(df, rules).toOption.get
    val rows = out.as[TestRow].collect().sortBy(_.title)
    rows.map(_.price).toSeq shouldBe Seq(500, 1000)
    out.rdd.getNumPartitions shouldBe 2
  }

  it should "fail fast on a missing action field when validation is off" in {
    // The reference also fails (unresolved column at analysis); we raise the
    // validation message instead of silently adding a new column.
    val rules = List(PlugRule("rule1", "v1", "true", Seq(PlugAction("nonexistent", "x"))))
    val e = the[IllegalArgumentException] thrownBy
      SparkPlug.builder(spark).create().plug(df, rules)
    e.getMessage should include("""Field "nonexistent" not found in the schema.""")
  }

  it should "fail with a clear message on empty actions when validation is off" in {
    // The reference dies with an opaque SQL parse error; we name the rule.
    val rules = List(PlugRule("rule1", "v1", "true", Seq.empty))
    val e = the[IllegalArgumentException] thrownBy
      SparkPlug.builder(spark).create().plug(df, rules)
    e.getMessage should include("At the least one action must be specified per rule.")
  }

  it should "expose the changed-row count after an action when accumulators are enabled" in {
    val rules = List(PlugRule("rule1", "v1", "title like '%iPhone%'", Seq(PlugAction("price", "1000"))))
    val plug = SparkPlug.builder(spark).enableAccumulators.create()
    val out = plug.plug(df, rules).toOption.get
    out.count()
    plug.changedRowCount shouldBe Some(1L)
  }

  it should "report per-rule hits and changes under the chained frame state" in {
    // r1 reprices iPhone to 1000; r2 flags price = 1000 — which matches
    // the iPhone only BECAUSE r1 ran first (chained semantics), and its
    // brand action is a no-op on a row already branded "Flagged".
    val data = Seq(
      TestRow("iPhone", "Apple", 300),
      TestRow("Galaxy", "Samsung", 1000),
      TestRow("Lumia", "Flagged", 1000)).toDF()
      .withColumn("attrs", when($"title" === "iPhone", map(lit("color"), lit("black")))
        .when($"title" === "Galaxy", map(lit("color"), lit("red")))
        .otherwise(map(lit("size"), lit("L"))))
      .withColumn("items", when($"title" === "iPhone", array(struct(lit(5.0).as("price"))))
        .when($"title" === "Galaxy", array(struct(lit(9.5).as("price")), struct(lit(9.5).as("price"))))
        .otherwise(array().cast("array<struct<price:double>>")))
    val rules = List(
      PlugRule("r1", "v1", "title like '%iPhone%'", Seq(PlugAction("price", "1000"))),
      PlugRule("r2", "v1", "price = 1000", Seq(PlugAction("brand", "Flagged"))),
      // map entry: black -> red and an absent key are changes, red is not
      PlugRule("r3", "v1", "brand = 'Flagged'", Seq(PlugAction("attrs.color", "red"))),
      // array element: only the iPhone holds an element other than 9.5
      // (the Lumia's empty array has nothing to change)
      PlugRule("r4", "v1", "price = 1000", Seq(PlugAction("items.price", "9.5"))))
    val out = SparkPlug.builder(spark).create().ruleHitStats(data, rules)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // r1: 1 match, 1 change; r2: all three rows match post-r1, but the
    // pre-branded Lumia is not a change
    out shouldBe Array(("r1", 1L, 1L), ("r2", 3L, 2L), ("r3", 3L, 2L), ("r4", 3L, 1L))
  }

  it should "silently assign null for a non-coercible literal when validation is off" in {
    // Reference quirk parity: convertActions .getOrElse(null) (PlugRule.scala:129).
    val rules = List(PlugRule("rule1", "v1", "title like '%iPhone%'",
      Seq(PlugAction("price", "not a number"))))
    val out = SparkPlug.builder(spark).create().plug(df, rules).toOption.get
    val r = out.filter($"title" === "iPhone").select("price").collect().head
    r.isNullAt(0) shouldBe true
  }

  it should "fold two actions on the same struct parent into one rebuild" in {
    // Reference quirk #4 fix: duplicate `parent_new` columns would collide.
    val rules = List(PlugRule("rule1", "v1", "true",
      Seq(PlugAction("price.minPrice", "1.0"), PlugAction("price.maxPrice", "2.0"))))
    val out = SparkPlug.builder(spark).create().plug(structDf, rules).toOption.get
    out.schema.fieldNames.count(_ == "price") shouldBe 1
    val iphone = out.filter($"title" === "iPhone").select("price.minPrice", "price.maxPrice")
      .as[(Double, Double)].collect().head
    iphone shouldBe ((1.0, 2.0))
  }

  it should "override a depth-2 struct leaf, preserving siblings and null parents" in {
    // Extension past the reference: its SQL generator rebuilds only one
    // struct level (PlugRule.scala:102-121); withField handles any depth.
    val deep = structDf.withColumn("wrap", struct($"price".as("price"), lit(1L).as("v")))
    val rules = List(PlugRule("rule1", "v1", "wrap.price.minPrice < 50",
      Seq(PlugAction("wrap.price.minPrice", "42.5"))))
    val out = SparkPlug.builder(spark).create().plug(deep, rules).toOption.get
    val got = out.select($"title", $"wrap.price.minPrice", $"wrap.price.maxPrice", $"wrap.v")
      .collect().map(r => (r.getString(0), Option(r.get(1)), Option(r.get(2)), r.getLong(3)))
    got should contain theSameElementsAs Seq(
      ("iPhone", Some(100.0), Some(150.0), 1L),  // condition false -> untouched
      ("Galaxy", Some(42.5), Some(15.0), 1L),    // leaf overridden, sibling kept
      ("Lumia", None, None, 1L))                 // null struct parent stays null
  }

  it should "report per-column disagreement counts between two rule sets" in {
    import spark.implicits._
    val df = Seq(
      (1L, 10.0, "A"), (2L, 30.0, "A"), (3L, 60.0, "B")
    ).toDF("id", "amount", "tag")
    val v1 = List(PlugRule("r", "v1", "amount > 20", Seq(PlugAction("tag", "X"))))
    val v2 = List(PlugRule("r", "v2", "amount > 50", Seq(PlugAction("tag", "X"))))
    val diff = SparkPlug.builder(spark).create()
      .diffRuleSets(df, Seq("id"), v1, v2).toOption.get
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // only row 2 (20 < amount <= 50) flips between the sets
    diff shouldBe Map("amount" -> 0L, "tag" -> 1L)
    // identical sets → an all-zero report (behavior-preserving refactor)
    val same = SparkPlug.builder(spark).create()
      .diffRuleSets(df, Seq("id"), v1, v1).toOption.get
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    same.values.toSet shouldBe Set(0L)
    // with validation on, a failure in EITHER set surfaces as Left
    val bad = List(PlugRule("r", "v1", "nope > 1", Seq(PlugAction("tag", "X"))))
    SparkPlug.builder(spark).enableRulesValidation.create()
      .diffRuleSets(df, Seq("id"), v1, bad).isLeft shouldBe true
    // keep-old copies both sets make are compared in set A's column order,
    // the audit column never
    val setA = List(
      PlugRule("p", "v1", "amount > 50", Seq(PlugAction("tag", "P"))),
      PlugRule("r", "v1", "amount > 20", Seq(PlugAction("tag", "X"), PlugAction("amount", "1.0"))))
    val setB = List(PlugRule("r", "v2", "amount > 50", Seq(PlugAction("amount", "1.0"), PlugAction("tag", "X"))))
    val plugger = SparkPlug.builder(spark).enablePlugDetails().keepOldField.enableRulesValidation.create()
    plugger.diffRuleSets(df, Seq("id"), setA, setB).toOption.get
      .as[(String, Long)].collect().toSeq shouldBe
      Seq("amount" -> 1L, "tag" -> 1L, "tag_r_old" -> 1L, "amount_r_old" -> 0L)
    // with both sets bad, only set A's errors come back
    val badA = List(PlugRule("a", "v1", "nope > 1", Seq(PlugAction("tag", "X"))))
    val badB = List(PlugRule("b", "v1", "amount > 1", Seq(PlugAction("missing", "X"))))
    val errors = plugger.diffRuleSets(df, Seq("id"), badA, badB).left.toOption.get
    errors.map(_.name).distinct shouldBe Seq("a")
    errors.size shouldBe plugger.validate(df.schema, badA).size
  }

  // ---- array-of-struct actions (extension beyond the reference, which
  // supported only scalar-struct children — reference README.md:161) ----

  def itemsDf: DataFrame = Seq(
    TestRowWithItems("iPhone", "Apple",
      Some(Seq(TestItem("a1", 100.0, TestDims(1, 2)), TestItem("a2", 200.0, TestDims(3, 4))))),
    TestRowWithItems("Galaxy", "Samsung",
      Some(Seq(TestItem("s1", 50.0, TestDims(5, 6))))),
    TestRowWithItems("Lumia", "Nokia", None),
    TestRowWithItems("Pixel", "Google", Some(Seq.empty))
  ).toDF()

  it should "override a field inside every element of an array of structs" in {
    val rules = List(PlugRule("ra", "v1", "brand = 'Apple'",
      Seq(PlugAction("items.price", "9.5"))))
    val out = SparkPlug.builder(spark).create().plug(itemsDf, rules).toOption.get
    val rows = out.as[TestRowWithItems].collect().sortBy(_.title)
    rows.map(_.title) shouldBe Array("Galaxy", "Lumia", "Pixel", "iPhone")
    rows(0).items.get.map(_.price) shouldBe Seq(50.0)          // no match: untouched
    rows(1).items shouldBe None                                 // null array preserved
    rows(2).items shouldBe Some(Seq.empty)                      // empty array preserved
    rows(3).items.get.map(_.price) shouldBe Seq(9.5, 9.5)       // every element plugged
    rows(3).items.get.map(_.sku) shouldBe Seq("a1", "a2")       // siblings kept
  }

  it should "override a struct leaf nested inside array elements" in {
    val rules = List(PlugRule("rad", "v1", "brand = 'Apple'",
      Seq(PlugAction("items.dims.w", "0"))))
    val out = SparkPlug.builder(spark).create().plug(itemsDf, rules).toOption.get
    val apple = out.filter($"title" === "iPhone").as[TestRowWithItems].collect().head
    apple.items.get.map(_.dims.w) shouldBe Seq(0, 0)
    apple.items.get.map(_.dims.h) shouldBe Seq(2, 4) // sibling leaf kept
  }

  it should "audit array actions per element: only rows where some element changes" in {
    val rules = List(
      // every Galaxy item already costs 50.0 -> matched but NO change
      PlugRule("rg", "v1", "brand = 'Samsung'", Seq(PlugAction("items.price", "50.0"))),
      // Apple items cost 100/200 -> a real change
      PlugRule("ra", "v1", "brand = 'Apple'", Seq(PlugAction("items.price", "100.0"))))
    val out = SparkPlug.builder(spark).enablePlugDetails().create()
      .plug(itemsDf, rules).toOption.get
    val details = out.select($"title", functions.size($"plugDetails").as("n"))
      .as[(String, Int)].collect().toMap
    details("Galaxy") shouldBe 0 // no-op assignment: not audited
    details("iPhone") shouldBe 1 // one element differed (200 -> 100)
    details("Lumia") shouldBe 0  // null array: unchanged
    details("Pixel") shouldBe 0  // empty array: unchanged
  }

  it should "override one map entry, add absent keys, and preserve null maps" in {
    val df = Seq(
      ("iPhone", Map("region" -> "eu", "tier" -> "a")),
      ("Galaxy", Map("region" -> "us")),
      ("Lumia", null.asInstanceOf[Map[String, String]])
    ).toDF("title", "meta")
    val rules = List(PlugRule("rm", "v1", "title like '%iPhone%' or title like '%Galaxy%'",
      Seq(PlugAction("meta.region", "apac"), PlugAction("meta.src", "plug"))))
    val out = SparkPlug.builder(spark).create().plug(df, rules).toOption.get
      .as[(String, Map[String, String])].collect().sortBy(_._1).toMap
    out("iPhone") shouldBe Map("region" -> "apac", "tier" -> "a", "src" -> "plug")
    out("Galaxy") shouldBe Map("region" -> "apac", "src" -> "plug")
    out("Lumia") shouldBe null // null map preserved
  }

  it should "audit map-entry actions only when the entry value actually changes" in {
    val df = Seq(
      ("iPhone", Map("region" -> "eu")),
      ("Galaxy", Map("region" -> "us"))
    ).toDF("title", "meta")
    val rules = List(
      // Galaxy already has region=us -> matched but NO change
      PlugRule("r1", "v1", "title = 'Galaxy'", Seq(PlugAction("meta.region", "us"))),
      PlugRule("r2", "v1", "title = 'iPhone'", Seq(PlugAction("meta.region", "us"))))
    val out = SparkPlug.builder(spark).enablePlugDetails().create()
      .plug(df, rules).toOption.get
    val details = out.select($"title", functions.size($"plugDetails").as("n"))
      .as[(String, Int)].collect().toMap
    details("Galaxy") shouldBe 0
    details("iPhone") shouldBe 1
  }

  it should "validate map-entry actions against the map value type" in {
    val df = Seq(("a", Map("x" -> 1.5))).toDF("title", "scores")
    val ok = PlugRule("r1", "v1", "title = 'a'", Seq(PlugAction("scores.anykey", "2.5")))
    ok.validate(df.schema) shouldBe Nil
    val bad = PlugRule("r2", "v1", "title = 'a'", Seq(PlugAction("scores.x", "cheap")))
    bad.validate(df.schema) shouldBe List(
      PlugRuleValidationError("r2", """Value "cheap" cannot be assigned to field scores.x."""))
    // a missing top-level parent still fails
    val miss = PlugRule("r3", "v1", "title = 'a'", Seq(PlugAction("nope.x", "1")))
    miss.validate(df.schema) shouldBe List(
      PlugRuleValidationError("r3", """Field "nope.x" not found in the schema."""))
  }

  it should "validate element-field actions against the element schema" in {
    val ok = PlugRule("r1", "v1", "price > 0", Seq(PlugAction("items.price", "5.0")))
    ok.validate(itemsDf.schema.asInstanceOf[org.apache.spark.sql.types.StructType]) shouldBe Nil
    val missing = PlugRule("r2", "v1", "price > 0", Seq(PlugAction("items.nope", "5.0")))
    missing.validate(itemsDf.schema) shouldBe List(
      PlugRuleValidationError("r2", """Field "items.nope" not found in the schema."""))
    val badType = PlugRule("r3", "v1", "price > 0", Seq(PlugAction("items.price", "cheap")))
    badType.validate(itemsDf.schema) shouldBe List(
      PlugRuleValidationError("r3", """Value "cheap" cannot be assigned to field items.price."""))
  }

  // ---- differential audit spec: the engine against a row model ----

  it should "reject an audit record that reads the row, naming the rule" in {
    val appender = AuditAppender.forProduct[OverrideDetail] { (name, version, fields) =>
      struct((if (name == "reads") col("title") else lit(name)).as("ruleId"),
        typedlit(fields).as("fieldNames"), lit(version).as("ruleVersion"))
    }
    val rules = List(
      PlugRule("fine", "v1", "price > 0", Seq(PlugAction("price", "1"))),
      PlugRule("reads", "v1", "price > 0", Seq(PlugAction("price", "2"))))
    val e = the[IllegalArgumentException] thrownBy
      SparkPlug.builder(spark).enablePlugDetails("d", appender).create().plug(df, rules)
    e.getMessage should include("\"reads\"")
    e.getMessage should not include "\"fine\""
  }

  it should "evaluate audit records that read the session or draw a random value" in {
    val appender = AuditAppender.forProduct[OverrideDetail] { (name, version, fields) =>
      struct(concat(lit(s"$name@"), expr("current_user()")).as("ruleId"),
        typedlit(fields).as("fieldNames"), expr("uuid()").as("ruleVersion"))
    }
    val rules = List(PlugRule("rule1", "v1", "title like '%iPhone%'", Seq(PlugAction("price", "1000"))))
    // the records are read from a folded local relation, or collected
    // where a session excludes the rule that folds it
    val excluded = "spark.sql.optimizer.excludedRules"
    for (rule <- Seq(None, Some("org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"))) {
      rule.foreach(spark.conf.set(excluded, _))
      try {
        val out = SparkPlug.builder(spark).enablePlugDetails("d", appender).create().plug(df, rules).toOption.get
        val Array(detail) = out.filter($"title" === "iPhone")
          .select(explode($"d")).select("col.*").as[OverrideDetail].collect()
        detail.ruleId shouldBe Some("rule1@" + spark.sql("select current_user()").as[String].head())
        detail.ruleVersion.get should fullyMatch regex "[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}"
      } finally spark.conf.unset(excluded)
    }
  }

  it should "match a row model on a 130-rule chain with details, first-match and staging" in {
    import AuditModel._
    val rules = genRules(new scala.util.Random(20261017L), 130)
    val in = frame(genRows(new scala.util.Random(7L), 14))
    val inRows = genRows(new scala.util.Random(7L), 14)

    def check(out: DataFrame, firstMatch: Boolean, chain: List[Rule] = rules): Unit =
      read(out) shouldBe model(inRows, chain, firstMatch)

    val plugger = SparkPlug.builder(spark).enablePlugDetails().enableAccumulators.create()
    val plugged = plugger.plug(in, rules.map(_.rule)).toOption.get
    check(plugged, firstMatch = false)
    plugger.changedRowCount shouldBe Some(model(inRows, rules, false).count(_._2._2.nonEmpty).toLong)
    check(SparkPlug.builder(spark).enablePlugDetails().create()
      .plugFirstMatch(in, rules.map(_.rule)).toOption.get, firstMatch = true)

    // repartition every 40 rules and checkpoint every 80: staging cuts the
    // chain at points that do not line up with the codegen regions
    val staged = SparkPlug.builder(spark).enablePlugDetails().enableLocalCheckpointing(40, 3).create()
      .plug(in, rules.map(_.rule)).toOption.get
    check(staged, firstMatch = false)
    staged.queryExecution.analyzed.collect { case b: CodegenBoundary => b } should not be empty

    // an empty chain still overwrites a stale audit column with empty arrays
    val stale = in.withColumn("plugDetails",
      array(struct(lit("stale").as("name"), lit("v0").as("version"), array(lit("price")).as("fieldNames"))))
    check(SparkPlug.builder(spark).enablePlugDetails().create().plug(stale, Nil).toOption.get,
      firstMatch = false, chain = Nil)
    // a stale audit column is replaced, not appended to
    check(SparkPlug.builder(spark).enablePlugDetails().create().plug(stale, rules.map(_.rule)).toOption.get,
      firstMatch = false)
  }

  /** `body` with expression code generation forced on (whole-stage and
    * per-expression, failing rather than falling back) or off. */
  private def underCodegen[T](on: Boolean)(body: => T): T = {
    val confs = if (on) Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
      else Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN", "spark.sql.codegen.wholeStage" -> "false")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  it should "build the same audit arrays in generated code and in eval" in {
    import AuditModel._
    val rules = genRules(new scala.util.Random(20261017L), 130)
    val in = frame(genRows(new scala.util.Random(7L), 14))
    val expected = model(genRows(new scala.util.Random(7L), 14), rules, firstMatch = false)
    for (on <- Seq(true, false)) withClue(s"codegen $on:") {
      underCodegen(on) {
        val out = SparkPlug.builder(spark).enablePlugDetails().create().plug(in, rules.map(_.rule)).toOption.get
        read(out) shouldBe expected
      }
    }
  }

  it should "build custom records with null fields and empty arrays in generated code and in eval" in {
    import AuditModel._
    // odd rules record no rule id, every third rule no field names
    val appender = AuditAppender.forProduct[OverrideDetail] { (name, version, fields) =>
      val n = name.stripPrefix("rule").toInt
      struct((if (n % 2 == 1) lit(null).cast("string") else lit(name)).as("ruleId"),
        (if (n % 3 == 0) array() else array(fields.map(lit): _*)).as("fieldNames"),
        lit(version).as("ruleVersion"))
    }
    def record(d: PlugDetail): OverrideDetail = {
      val n = d.name.stripPrefix("rule").toInt
      OverrideDetail(if (n % 2 == 1) None else Some(d.name), if (n % 3 == 0) Nil else d.fieldNames, Some(d.version))
    }
    // every rule also needs a title, which no action nulls: rows without
    // one change under no rule, beside rows that many rules change
    val rules = genRules(new scala.util.Random(20261017L), 130)
      .map(r => r.copy(cond = And(Cmp("title", "<", "t9"), r.cond)))
    val rows = genRows(new scala.util.Random(7L), 14)
    val expected = model(rows, rules, firstMatch = false).map { case (id, (_, ds)) => id -> ds.map(record) }
    expected.values.map(_.size).toSet should (contain(0) and contain(expected.values.map(_.size).max))
    expected.values.map(_.size).max should be >= 20
    for (on <- Seq(true, false)) withClue(s"codegen $on:") {
      underCodegen(on) {
        val out = SparkPlug.builder(spark).enablePlugDetails("d", appender).create()
          .plug(frame(rows), rules.map(_.rule)).toOption.get
        out.select("id", "d").as[(Int, Seq[OverrideDetail])].collect().toMap shouldBe expected
      }
    }
  }

  it should "run the audit column inside the last codegen region, with the change count above it" in {
    import AuditModel._
    import org.apache.spark.sql.execution.{InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
    val rules = genRules(new scala.util.Random(20261017L), 130)
    val out = SparkPlug.builder(spark).enablePlugDetails().enableAccumulators.create()
      .plug(frame(genRows(new scala.util.Random(7L), 14)), rules.map(_.rule)).toOption.get
    out.collect()
    /** The nodes of `plan` with whether whole-stage codegen compiles each. */
    def nodes(plan: SparkPlan, fused: Boolean): Seq[(SparkPlan, Boolean)] = plan match {
      case w: WholeStageCodegenExec => nodes(w.child, fused = true)
      case i: InputAdapter => nodes(i.child, fused = false)
      case p => (p -> fused) +: p.children.flatMap(nodes(_, fused))
    }
    val all = nodes(out.queryExecution.executedPlan, fused = false)
    all.collect { case (p: ProjectExec, false) => p.simpleString(200) } shouldBe empty
    all.head._1.nodeName shouldBe "CollectMetrics"
    all.collect { case (p: ProjectExec, true) if p.projectList.exists(_.exists(_.isInstanceOf[FiredRecords])) => p }
      .size shouldBe 1
  }

  it should "order columns as input, plugDetails, then old-value copies in rule order" in {
    val rules = List(
      PlugRule("r1", "v1", "price > 250", Seq(PlugAction("price", "100"))),
      PlugRule("r2", "v1", "brand = 'Apple'", Seq(PlugAction("brand", "Apple Inc"))))
    val out = SparkPlug.builder(spark).enablePlugDetails().keepOldField.create()
      .plug(df, rules).toOption.get
    out.schema.fieldNames.toSeq shouldBe
      Seq("title", "brand", "price", "plugDetails", "price_r1_old", "brand_r2_old")
    out.filter($"title" === "iPhone").select("plugDetails.name").as[Seq[String]].head() shouldBe
      Seq("r1", "r2")
    // a two-action rule's copies follow its actions, whatever else its projection writes
    val two = List(PlugRule("r3", "v1", "price > 250",
      Seq(PlugAction("brand", "Apple Inc"), PlugAction("price", "100"))))
    for ((builder, audit) <- Seq(SparkPlug.builder(spark).keepOldField -> Nil,
        SparkPlug.builder(spark).enablePlugDetails().keepOldField -> Seq("plugDetails"))) {
      val plugger = builder.create()
      val expected = Seq("title", "brand", "price") ++ audit ++ Seq("brand_r3_old", "price_r3_old")
      plugger.plug(df, two).toOption.get.columns.toSeq shouldBe expected
      plugger.plugFirstMatch(df, two).toOption.get.columns.toSeq shouldBe expected
    }
  }

  // ---- chains whose later rules read what earlier rules changed or added ----

  /** Every row of `out` as a map from column name to value, sorted by title. */
  private def rowMaps(out: DataFrame): Seq[Map[String, Any]] =
    out.collect().toSeq.map(r => out.columns.map(c => c -> r.getAs[Any](c)).toMap)
      .sortBy(_("title").toString)

  /** `rules` under plug, plugFirstMatch and ruleHitStats with one builder. */
  private def underEveryEntry(builder: SparkPlugBuilder, rules: List[PlugRule])
      : (DataFrame, DataFrame, Seq[(String, Long, Long)]) = {
    val plugger = builder.create()
    (plugger.plug(df, rules).toOption.get, plugger.plugFirstMatch(df, rules).toOption.get,
      plugger.ruleHitStats(df, rules).as[(String, Long, Long)].collect().toSeq)
  }

  it should "resolve rules after a type-changing backtick action against the new type" in {
    val rules = List(
      PlugRule("halve", "v1", "price > 250", Seq(PlugAction("price", "`price / 2`"))),
      PlugRule("fix", "v1", "price < 180", Seq(PlugAction("price", "99.5"))))
    val (plugged, first, stats) = underEveryEntry(SparkPlug.builder(spark).enablePlugDetails(), rules)
    plugged.schema("price").dataType shouldBe org.apache.spark.sql.types.DoubleType
    rowMaps(plugged.select("title", "price", "plugDetails.name")) shouldBe Seq(
      Map("title" -> "Galaxy", "price" -> 200.0, "name" -> Seq()),
      Map("title" -> "iPhone", "price" -> 99.5, "name" -> Seq("halve", "fix")))
    first.schema("price").dataType shouldBe org.apache.spark.sql.types.DoubleType
    rowMaps(first.select("title", "price", "plugDetails.name")) shouldBe Seq(
      Map("title" -> "Galaxy", "price" -> 200.0, "name" -> Seq()),
      Map("title" -> "iPhone", "price" -> 150.0, "name" -> Seq("halve")))
    stats shouldBe Seq(("halve", 1L, 1L), ("fix", 1L, 1L))
  }

  it should "let a later rule read an earlier rule's old-value copy" in {
    val rules = List(
      PlugRule("r1", "v1", "price > 250", Seq(PlugAction("price", "100"))),
      PlugRule("r2", "v1", "price_r1_old > 250", Seq(PlugAction("brand", "Was premium"))))
    val (plugged, first, stats) = underEveryEntry(SparkPlug.builder(spark).keepOldField, rules)
    plugged.columns.toSeq shouldBe Seq("title", "brand", "price", "price_r1_old", "brand_r2_old")
    rowMaps(plugged) shouldBe Seq(
      Map("title" -> "Galaxy", "brand" -> "Samsung", "price" -> 200, "price_r1_old" -> 200,
        "brand_r2_old" -> "Samsung"),
      Map("title" -> "iPhone", "brand" -> "Was premium", "price" -> 100, "price_r1_old" -> 300,
        "brand_r2_old" -> "Apple"))
    rowMaps(first) shouldBe Seq(
      Map("title" -> "Galaxy", "brand" -> "Samsung", "price" -> 200, "price_r1_old" -> 200,
        "brand_r2_old" -> "Samsung"),
      Map("title" -> "iPhone", "brand" -> "Apple", "price" -> 100, "price_r1_old" -> 300,
        "brand_r2_old" -> "Apple"))
    stats shouldBe Seq(("r1", 1L, 1L), ("r2", 1L, 1L))
  }

  it should "fail analysis on a condition that reads a column only a later rule adds" in {
    val rules = List(
      PlugRule("r1", "v1", "price_r2_old > 0", Seq(PlugAction("price", "1"))),
      PlugRule("r2", "v1", "price > 0", Seq(PlugAction("price", "2"))))
    val plugger = SparkPlug.builder(spark).keepOldField.create()
    for (entry <- Seq[() => Any](() => plugger.plug(df, rules), () => plugger.plugFirstMatch(df, rules),
        () => plugger.ruleHitStats(df, rules)))
      (the[org.apache.spark.sql.AnalysisException] thrownBy entry()).getMessage should include("price_r2_old")
  }

  it should "carry types and earlier writes across local-checkpoint staging points" in {
    // repartition after r2 and r4, checkpoint after r4; r3 widens price to double
    val rules = List(
      PlugRule("r1", "v1", "price > 250", Seq(PlugAction("price", "400"))),
      PlugRule("r2", "v1", "price = 400", Seq(PlugAction("brand", "Apple Pro"))),
      PlugRule("r3", "v1", "brand = 'Apple Pro'", Seq(PlugAction("price", "`price / 4`"))),
      PlugRule("r4", "v1", "price < 150", Seq(PlugAction("title", "cheap"))),
      PlugRule("r5", "v1", "title = 'cheap'", Seq(PlugAction("price", "1.5"))))
    val (plugged, first, stats) = underEveryEntry(
      SparkPlug.builder(spark).enablePlugDetails().enableLocalCheckpointing(2, 2), rules)
    plugged.rdd.getNumPartitions shouldBe 2
    rowMaps(plugged.select("title", "brand", "price", "plugDetails.name")) shouldBe Seq(
      Map("title" -> "Galaxy", "brand" -> "Samsung", "price" -> 200.0, "name" -> Seq()),
      Map("title" -> "cheap", "brand" -> "Apple Pro", "price" -> 1.5,
        "name" -> Seq("r1", "r2", "r3", "r4", "r5")))
    rowMaps(first.select("title", "brand", "price", "plugDetails.name")) shouldBe Seq(
      Map("title" -> "Galaxy", "brand" -> "Samsung", "price" -> 200.0, "name" -> Seq()),
      Map("title" -> "iPhone", "brand" -> "Apple", "price" -> 400.0, "name" -> Seq("r1")))
    stats shouldBe Seq(("r1", 1L, 1L), ("r2", 1L, 1L), ("r3", 1L, 1L), ("r4", 1L, 1L), ("r5", 1L, 1L))
  }

  it should "resolve rules whose action needs a window or whose condition holds a subquery" in {
    val flat = Seq(("a", "x", 100), ("b", "x", 300), ("c", "y", 200)).toDF("title", "brand", "price")
    val rules = List(
      PlugRule("avg", "v1", "brand = 'x'",
        Seq(PlugAction("price", "`cast(avg(price) over (partition by brand) as int)`"))),
      PlugRule("sub", "v1", "title <> (select 'c')", Seq(PlugAction("brand", "Big"))),
      PlugRule("mark", "v1", "brand = 'Big'", Seq(PlugAction("title", "`concat(title, '!')`"))))
    SparkPlug.builder(spark).create().plug(flat, rules).toOption.get
      .as[(String, String, Int)].collect().sorted shouldBe
      Array(("a!", "Big", 200), ("b!", "Big", 200), ("c", "y", 200))
  }

  /** An independent model of the plug semantics (SURVEY §§1-4) over rows of
    * (id, title, brand, price, score): rules apply in order, each action
    * reads the row as the rule found it, a rule's record is appended when
    * its condition holds and some action changed its column (null-safe), and
    * under first-match a row is immune to every rule after the first one
    * that matched it. */
  object AuditModel {
    type Vals = Map[String, Any]
    val cols = Seq("title", "brand", "price", "score")

    sealed trait Cond { def sql: String; def eval(r: Vals): Option[Boolean] }
    case class Cmp(c: String, op: String, v: Any) extends Cond {
      def sql = s"$c $op ${sqlLit(v)}"
      def eval(r: Vals) = Option(r(c)).map { x =>
        val k = (x, v) match {
          case (a: Int, b: Int) => a.compare(b)
          case (a: Double, b: Double) => a.compare(b)
          case (a: String, b: String) => a.compareTo(b)
          case _ => sys.error(s"bad comparison $x $v")
        }
        op match { case "<" => k < 0; case ">" => k > 0; case "<=" => k <= 0; case "=" => k == 0 }
      }
    }
    case class IsNull(c: String) extends Cond {
      def sql = s"$c IS NULL"
      def eval(r: Vals) = Some(r(c) == null)
    }
    case class And(a: Cond, b: Cond) extends Cond {
      def sql = s"(${a.sql}) AND (${b.sql})"
      def eval(r: Vals) = (a.eval(r), b.eval(r)) match {
        case (Some(false), _) | (_, Some(false)) => Some(false)
        case (Some(true), Some(true)) => Some(true)
        case _ => None
      }
    }
    case class Or(a: Cond, b: Cond) extends Cond {
      def sql = s"(${a.sql}) OR (${b.sql})"
      def eval(r: Vals) = (a.eval(r), b.eval(r)) match {
        case (Some(true), _) | (_, Some(true)) => Some(true)
        case (Some(false), Some(false)) => Some(false)
        case _ => None
      }
    }
    def sqlLit(v: Any): String = v match { case s: String => s"'$s'"; case x => x.toString }

    case class Act(key: String, value: String, eval: Vals => Any)
    case class Rule(name: String, cond: Cond, acts: Seq[Act]) {
      def rule = PlugRule(name, "v1", cond.sql, acts.map(a => PlugAction(a.key, a.value)))
    }

    val titles = Seq("t0", "t1", "t2")
    val brands = Seq("A", "B", "C")
    val scores = Seq(0.5, 1.5, 2.5)
    def pick[T](rng: scala.util.Random, xs: Seq[T]): T = xs(rng.nextInt(xs.size))
    def orNull[T](rng: scala.util.Random, x: => T): Any = if (rng.nextInt(5) == 0) null else x

    def genRows(rng: scala.util.Random, n: Int): Seq[(Int, Vals)] = (0 until n).map(i => i -> Map(
      "title" -> orNull(rng, pick(rng, titles)), "brand" -> orNull(rng, pick(rng, brands)),
      "price" -> orNull(rng, rng.nextInt(10)), "score" -> orNull(rng, pick(rng, scores))))

    def genAtom(rng: scala.util.Random): Cond = rng.nextInt(6) match {
      case 0 => Cmp("price", ">", rng.nextInt(10))
      case 1 => Cmp("price", "<=", rng.nextInt(10))
      case 2 => Cmp("brand", "=", pick(rng, brands))
      case 3 => Cmp("score", "<", pick(rng, scores))
      case 4 => Cmp("title", "=", pick(rng, titles))
      case _ => IsNull(pick(rng, cols))
    }

    def genAct(rng: scala.util.Random, key: String): Act = rng.nextInt(4) match {
      case 0 => Act(key, s"`$key`", _(key)) // no-op: the change gate stays closed
      case 1 => key match { // backtick SQL over the row
        case "price" => Act(key, "`price + 1`", r => Option(r("price")).map(_.asInstanceOf[Int] + 1).orNull)
        case "score" => Act(key, "`score * 2`", r => Option(r("score")).map(_.asInstanceOf[Double] * 2).orNull)
        case "brand" => Act(key, "`concat(brand, 'x')`", r => Option(r("brand")).map(_.toString + "x").orNull)
        case _ => Act(key, "`upper(title)`", r => Option(r("title")).map(_.toString.toUpperCase).orNull)
      }
      case _ => key match { // a literal, often the value a row already holds
        case "price" => val v = rng.nextInt(10); Act(key, v.toString, _ => v)
        case "score" => val v = pick(rng, scores); Act(key, v.toString, _ => v)
        case "brand" => val v = pick(rng, brands); Act(key, v, _ => v)
        case _ => val v = pick(rng, titles); Act(key, v, _ => v)
      }
    }

    def genRules(rng: scala.util.Random, n: Int): List[Rule] = (0 until n).toList.map { i =>
      val cond = rng.nextInt(4) match {
        case 0 => And(genAtom(rng), genAtom(rng))
        case 1 => Or(genAtom(rng), genAtom(rng))
        case _ => genAtom(rng)
      }
      val keys = rng.shuffle(cols).take(1 + rng.nextInt(3))
      Rule(s"rule$i", cond, keys.map(genAct(rng, _)))
    }

    def frame(rows: Seq[(Int, Vals)]): DataFrame = {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(StructField("id", IntegerType), StructField("title", StringType),
        StructField("brand", StringType), StructField("price", IntegerType), StructField("score", DoubleType)))
      spark.createDataFrame(java.util.Arrays.asList(rows.map { case (id, v) =>
        Row(id +: cols.map(v): _*) }: _*), schema)
    }

    def model(rows: Seq[(Int, Vals)], rules: List[Rule], firstMatch: Boolean): Map[Int, (Vals, Seq[PlugDetail])] =
      rows.map { case (id, start) =>
        val (end, details, _) = rules.foldLeft((start, Vector.empty[PlugDetail], false)) {
          case ((r, ds, matched), rule) =>
            val hit = rule.cond.eval(r).contains(true) && !(firstMatch && matched)
            if (!hit) (r, ds, matched)
            else {
              val next = rule.acts.map(a => a.key -> a.eval(r)).toMap
              val changed = next.exists { case (k, v) => v != r(k) }
              (r ++ next, if (changed) ds :+ PlugDetail(rule.name, "v1", rule.acts.map(_.key)) else ds, true)
            }
        }
        id -> (end -> details)
      }.toMap

    def read(out: DataFrame): Map[Int, (Vals, Seq[PlugDetail])] = {
      import org.apache.spark.sql.Row
      out.schema.fieldNames.toSeq shouldBe Seq("id") ++ cols :+ "plugDetails"
      out.collect().map { r =>
        r.getInt(0) -> (cols.map(c => c -> r.getAs[Any](c)).toMap ->
          r.getSeq[Row](5).map(d => PlugDetail(d.getString(0), d.getString(1), d.getSeq[String](2))))
      }.toMap
    }
  }
}
