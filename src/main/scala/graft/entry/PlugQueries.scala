package graft
package entry

import Fixtures._
import graft.plug._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The paper's rule engine: `SparkPlug` overrides, type coercion, the
  * audit trail, rule governance and validation. */
private[graft] object PlugQueries {

  /** The per-column diff counts `plug_ruleset_diff` and
    * `plug_governed_rules` both expect. */
  private lazy val rulesetDiffOracleSql: String =
    """SELECT * FROM (VALUES
      |  ('l_quantity', CAST(0 AS BIGINT)),
      |  ('l_extendedprice', CAST(0 AS BIGINT)),
      |  ('l_discount', CAST(0 AS BIGINT)),
      |  ('l_tax', CAST(0 AS BIGINT)),
      |  ('l_returnflag', (SELECT count(*) FROM lineitem WHERE l_discount > 0.05 AND l_discount <= 0.10)),
      |  ('l_linestatus', (SELECT count(*) FROM lineitem WHERE l_quantity > 40)),
      |  ('l_shipdate', CAST(0 AS BIGINT))
      |) t("column", n_diff)""".stripMargin

  val all: Seq[Query] = Seq(
    // O4: conditional override of a flat string column.
    Query("plug_flat_override", (s, dir) => {
      implicit val sp: SparkSession = s
      val rule = PlugRule("r1", "v1", "l_discount > 0.05",
        Seq(PlugAction("l_returnflag", "D")))
      plugged(table(s, dir, "lineitem"), List(rule))
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_discount")
    },
      """SELECT l_orderkey, l_linenumber,
        |CASE WHEN l_discount > 0.05 THEN 'D' ELSE l_returnflag END AS l_returnflag,
        |l_discount FROM lineitem""".stripMargin),

    // Extension: per-rule hit/change telemetry under the SEQUENTIAL chain
    // semantics — r2's condition reads l_returnflag AFTER r1 rewrote it,
    // so its counts shift with r1 (the dry-run dashboard for rollouts).
    Query("plug_rule_hits", (s, dir) => {
      implicit val sp: SparkSession = s
      val rules = List(
        PlugRule("r1", "v1", "l_discount > 0.05",
          Seq(PlugAction("l_returnflag", "D"))),
        PlugRule("r2", "v1", "l_returnflag = 'D' AND l_quantity < 25",
          Seq(PlugAction("l_linestatus", "X"))))
      SparkPlug.builder.create().ruleHitStats(table(s, dir, "lineitem"), rules)
    },
      // Replays the chain: r2's counts are taken over l_returnflag AS
      // REWRITTEN by r1 (the CASE expression), not the raw column.
      """WITH s1 AS (SELECT l_quantity, l_linestatus, l_discount, l_returnflag,
        |    CASE WHEN l_discount > 0.05 THEN 'D' ELSE l_returnflag END AS rf2
        |  FROM lineitem)
        |SELECT 'r1' AS rule_name,
        |  count(*) FILTER (l_discount > 0.05) AS n_matched,
        |  count(*) FILTER (l_discount > 0.05 AND l_returnflag IS DISTINCT FROM 'D') AS n_changed
        |FROM s1
        |UNION ALL
        |SELECT 'r2',
        |  count(*) FILTER (rf2 = 'D' AND l_quantity < 25),
        |  count(*) FILTER (rf2 = 'D' AND l_quantity < 25 AND l_linestatus IS DISTINCT FROM 'X')
        |FROM s1""".stripMargin),

    // Extension: rule-set canary diff — per shared column, how many rows
    // the v1 and v2 rule outputs disagree on (null-safe); the release
    // gate run before replacing a live rule set.
    Query("plug_ruleset_diff", (s, dir) => {
      implicit val sp: SparkSession = s
      val rulesA = List(
        PlugRule("flag", "v1", "l_discount > 0.05",
          Seq(PlugAction("l_returnflag", "D"))))
      val rulesB = List(
        PlugRule("flag", "v2", "l_discount > 0.10",
          Seq(PlugAction("l_returnflag", "D"))),
        PlugRule("bigqty", "v1", "l_quantity > 40",
          Seq(PlugAction("l_linestatus", "Z"))))
      // (orderkey, linenumber) is NOT unique in the synthetic data; the
      // 4-column key is — diffRuleSets requires a unique row key.
      SparkPlug.builder.create().diffRuleSets(table(s, dir, "lineitem"),
          Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
          rulesA, rulesB)
        .fold(errs => throw new IllegalArgumentException(errs.mkString("; ")),
          identity)
    },
      rulesetDiffOracleSql),

    // Extension: GOVERNED rule rollout — rule sets live as manifest-table
    // snapshot versions (atomic publish, time travel, history), so a
    // rollout is: commit the candidate set, time-travel-load BOTH
    // versions, canary-diff them over real data before switching the
    // production pointer. Every piece (rule serde through parquet, table
    // versions, diffRuleSets) runs against the same bytes.
    Query("plug_governed_rules", (s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      val out = scratch("rules_table")
      val rulesV0 = List(
        PlugRule("flag", "v1", "l_discount > 0.05",
          Seq(PlugAction("l_returnflag", "D"))))
      val rulesV1 = List(
        PlugRule("flag", "v2", "l_discount > 0.10",
          Seq(PlugAction("l_returnflag", "D"))),
        PlugRule("bigqty", "v1", "l_quantity > 40",
          Seq(PlugAction("l_linestatus", "Z"))))
      graft.sources.ManifestTable.commit(s, out, rulesV0.toDS().toDF())
      graft.sources.ManifestTable.commit(s, out, rulesV1.toDS().toDF())
      val live = graft.sources.ManifestTable.readVersion(s, out, 0L)
        .as[PlugRule].collect().toList.sortBy(_.name)
      val candidate = graft.sources.ManifestTable.read(s, out)
        .as[PlugRule].collect().toList.sortBy(_.name)
      SparkPlug.builder.create().diffRuleSets(table(s, dir, "lineitem"),
          Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
          live, candidate)
        .fold(errs => throw new IllegalArgumentException(errs.mkString("; ")),
          identity)
    },
      // Tightening a condition un-flags the band between the thresholds;
      // the added rule touches only its own column; everything else is 0.
      // Same expected diffs as plug_ruleset_diff — the governance layer
      // (rule sets as table versions) must not change what the rules do.
      rulesetDiffOracleSql),

    // O6: Int literal coercion (bare int literal).
    Query("plug_int_coercion", (s, dir) => {
      implicit val sp: SparkSession = s
      val rule = PlugRule("rint", "v1", "l_quantity >= 49",
        Seq(PlugAction("l_linenumber", "99")))
      plugged(table(s, dir, "lineitem"), List(rule))
        .select("l_orderkey", "l_partkey", "l_linenumber", "l_quantity")
    },
      """SELECT l_orderkey, l_partkey,
        |CASE WHEN l_quantity >= 49 THEN 99 ELSE l_linenumber END AS l_linenumber,
        |l_quantity FROM lineitem""".stripMargin),

    // O6: Double literal coercion (cast to double; also the comparison operand).
    Query("plug_double_coercion", (s, dir) => {
      implicit val sp: SparkSession = s
      val rule = PlugRule("rdbl", "v1", "l_returnflag = 'A'",
        Seq(PlugAction("l_quantity", "0.5")))
      plugged(table(s, dir, "lineitem"), List(rule))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    },
      """SELECT l_orderkey, l_linenumber,
        |CASE WHEN l_returnflag = 'A' THEN 0.5 ELSE l_quantity END AS l_quantity,
        |l_returnflag FROM lineitem""".stripMargin),

    // O7: backtick value evaluated as a SQL expression over the row.
    Query("plug_backtick_expr", (s, dir) => {
      implicit val sp: SparkSession = s
      val rule = PlugRule("rbt", "v1", "l_quantity < 10",
        Seq(PlugAction("l_returnflag", "`concat(l_returnflag, '-', l_linestatus)`")))
      plugged(table(s, dir, "lineitem"), List(rule))
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus")
    },
      """SELECT l_orderkey, l_linenumber,
        |CASE WHEN l_quantity < 10 THEN concat(l_returnflag, '-', l_linestatus) ELSE l_returnflag END AS l_returnflag,
        |l_linestatus FROM lineitem""".stripMargin),

    // O3: sequential rule chain — rule 2 sees rule 1's output.
    Query("plug_rule_chain", (s, dir) => {
      implicit val sp: SparkSession = s
      val r1 = PlugRule("c1", "v1", "l_discount > 0.05",
        Seq(PlugAction("l_returnflag", "D")))
      val r2 = PlugRule("c2", "v1", "l_returnflag = 'D' and l_tax > 0.03",
        Seq(PlugAction("l_linestatus", "X")))
      plugged(table(s, dir, "lineitem"), List(r1, r2))
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus")
    },
      """WITH s1 AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CASE WHEN l_discount > 0.05 THEN 'D' ELSE l_returnflag END AS l_returnflag,
        |    l_linestatus, l_tax
        |  FROM lineitem)
        |SELECT l_orderkey, l_linenumber, l_returnflag,
        |  CASE WHEN l_returnflag = 'D' AND l_tax > 0.03 THEN 'X' ELSE l_linestatus END AS l_linestatus
        |FROM s1""".stripMargin),

    // Extension: first-match-only rule semantics — each row takes the
    // FIRST matching rule; a later broad rule cannot clobber an earlier
    // specific one (priority-list behavior).
    Query("plug_first_match", (s, dir) => {
      implicit val sp: SparkSession = s
      val r1 = PlugRule("narrow", "v1", "l_quantity < 30",
        Seq(PlugAction("l_returnflag", "X")))
      val r2 = PlugRule("broad", "v1", "l_quantity < 40",
        Seq(PlugAction("l_returnflag", "Y")))
      SparkPlug.builder.create().plugFirstMatch(table(s, dir, "lineitem"), List(r1, r2))
        .fold(errs => throw new IllegalArgumentException(errs.mkString("; ")), identity)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    },
      // First-match priority semantics: one CASE per row, first arm wins.
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |  CASE WHEN l_quantity < 30 THEN 'X'
        |       WHEN l_quantity < 40 THEN 'Y'
        |       ELSE l_returnflag END AS l_returnflag
        |FROM lineitem""".stripMargin),

    // §2.2 delegated expression surface: date + math functions pass through
    // the condition and backtick-value paths verbatim (the accepted input
    // language is all of Spark SQL's scalar surface).
    Query("plug_date_math_passthrough", (s, dir) => {
      implicit val sp: SparkSession = s
      val rule = PlugRule("rdm", "v1", "year(o_orderdate) >= 1997 and o_totalprice > 200000",
        Seq(PlugAction("o_totalprice", "`o_totalprice * 1.1`")))
      plugged(table(s, dir, "orders"), List(rule))
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
    },
      """SELECT o_orderkey,
        |CASE WHEN year(o_orderdate) >= 1997 AND o_totalprice > 200000
        |     THEN o_totalprice * 1.1 ELSE o_totalprice END AS o_totalprice,
        |o_orderstatus FROM orders""".stripMargin),

    // O11: keepOldField retains pre-rule values as <col>_<rule>_old.
    Query("plug_keep_old_field", (s, dir) => {
      implicit val sp: SparkSession = s
      val rule = PlugRule("rko", "v1", "l_tax > 0.04",
        Seq(PlugAction("l_linestatus", "X")))
      plugged(table(s, dir, "lineitem"), List(rule), _.keepOldField)
        .select("l_orderkey", "l_linenumber", "l_linestatus", "l_linestatus_rko_old")
    },
      """SELECT l_orderkey, l_linenumber,
        |CASE WHEN l_tax > 0.04 THEN 'X' ELSE l_linestatus END AS l_linestatus,
        |l_linestatus AS l_linestatus_rko_old FROM lineitem""".stripMargin),

    // O8+O9+O10: audit trail — append gated on null-safe change detection.
    // Exposed as the audit-array size (nested arrays of structs don't
    // round-trip through the driver's hash compare; the size captures the
    // full gate semantics: condition AND value-actually-changed).
    Query("plug_details_count", (s, dir) => {
      implicit val sp: SparkSession = s
      val rule = PlugRule("rpd", "v1", "l_discount > 0.05",
        Seq(PlugAction("l_returnflag", "D")))
      plugged(table(s, dir, "lineitem"), List(rule), _.enablePlugDetails())
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          size(col("plugDetails")).as("n_details"))
    },
      """SELECT l_orderkey, l_linenumber,
        |CASE WHEN l_discount > 0.05 THEN 'D' ELSE l_returnflag END AS l_returnflag,
        |CASE WHEN l_discount > 0.05 AND l_returnflag IS DISTINCT FROM 'D' THEN 1 ELSE 0 END AS n_details
        |FROM lineitem""".stripMargin),

    // O5: struct-field override (one child replaced, siblings preserved).
    Query("plug_struct_override", (s, dir) => {
      implicit val sp: SparkSession = s
      val df = table(s, dir, "part").withColumn("price",
        struct(col("p_retailprice").as("minPrice"),
          (col("p_retailprice") * 1.2).as("maxPrice")))
      val rule = PlugRule("rst", "v1", "p_size > 40",
        Seq(PlugAction("price.minPrice", "1000.5")))
      plugged(df, List(rule))
        .select(col("p_partkey"), col("price.minPrice").as("min_price"),
          col("price.maxPrice").as("max_price"))
    },
      """SELECT p_partkey,
        |CASE WHEN p_size > 40 THEN 1000.5 ELSE p_retailprice END AS min_price,
        |p_retailprice * 1.2 AS max_price FROM part""".stripMargin),

    // O5 extension: array-of-struct element override — an action key like
    // `items.price` where `items: array<struct>` compiles to
    // transform(items, x -> x.withField(...)) under the rule condition
    // (the reference supports only scalar-struct children, README.md:161).
    // Null arrays pass through untouched (transform(null) is null); the
    // explode at the end drops them, and the oracle mirrors that with the
    // p_size % 7 filter.
    Query("plug_array_struct_override", (s, dir) => {
      implicit val sp: SparkSession = s
      val df = table(s, dir, "part").withColumn("items",
        when(col("p_size") % 7 === 0, lit(null))
          .otherwise(array(
            struct(lit("std").as("sku"), col("p_retailprice").as("price")),
            struct(lit("promo").as("sku"), (col("p_retailprice") * 0.9).as("price")))))
      val rule = PlugRule("rarr", "v1", "p_size > 40",
        Seq(PlugAction("items.price", "0.0")))
      plugged(df, List(rule))
        .select(col("p_partkey"), explode(col("items")).as("item"))
        .select(col("p_partkey"), col("item.sku").as("sku"),
          round(col("item.price"), 6).as("price"))
    },
      """SELECT p_partkey, 'std' AS sku,
        |round(CASE WHEN p_size > 40 THEN 0.0 ELSE p_retailprice END, 6) AS price
        |FROM part WHERE p_size % 7 <> 0
        |UNION ALL
        |SELECT p_partkey, 'promo' AS sku,
        |round(CASE WHEN p_size > 40 THEN 0.0 ELSE p_retailprice * 0.9 END, 6) AS price
        |FROM part WHERE p_size % 7 <> 0""".stripMargin),

    // O5 extension: map-entry override — an action key whose parent is a
    // string-keyed map targets ONE entry: existing bindings replace,
    // absent keys get added, null maps pass through untouched. The entry
    // key is data (not schema), so validation checks only the map's value
    // type.
    Query("plug_map_override", (s, dir) => {
      implicit val sp: SparkSession = s
      val df = table(s, dir, "documents").withColumn("meta",
        map(lit("lang"), col("lang"), lit("src"), col("source")))
      val rule = PlugRule("rmap", "v1", "n_chars > 500",
        Seq(PlugAction("meta.lang", "xx"), PlugAction("meta.flag", "long")))
      plugged(df, List(rule))
        .select(col("doc_id"),
          element_at(col("meta"), "lang").as("m_lang"),
          element_at(col("meta"), "src").as("m_src"),
          element_at(col("meta"), "flag").as("m_flag"))
    },
      // The map rewrite: lang entry replaced, flag entry added, src kept.
      """SELECT doc_id,
        |CASE WHEN n_chars > 500 THEN 'xx' ELSE lang END AS m_lang,
        |source AS m_src,
        |CASE WHEN n_chars > 500 THEN 'long' ELSE NULL END AS m_flag
        |FROM documents""".stripMargin),

    // O5 extension: depth-2 struct-leaf override — the reference validates
    // deep paths but its SQL generator only rebuilds one level
    // (PlugRule.scala:102-121); `withField` lifts the limit (documented
    // divergence). The condition also resolves through the nested struct.
    Query("plug_nested_struct_override", (s, dir) => {
      implicit val sp: SparkSession = s
      val df = table(s, dir, "lineitem").withColumn("detail",
        struct(
          struct(col("l_quantity").as("qty"), col("l_discount").as("disc")).as("amounts"),
          col("l_tax").as("tax")))
      val rule = PlugRule("rnest", "v1", "detail.amounts.disc > 0.05",
        Seq(PlugAction("detail.amounts.qty", "0")))
      plugged(df, List(rule))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("detail.amounts.qty").as("qty"),
          col("detail.amounts.disc").as("disc"),
          col("detail.tax").as("tax"))
    },
      """SELECT l_orderkey, l_linenumber,
        |CASE WHEN l_discount > 0.05 THEN 0.0 ELSE l_quantity END AS qty,
        |l_discount AS disc, l_tax AS tax
        |FROM lineitem""".stripMargin),

    // O5: null struct parents stay null (withField null-propagation).
    Query("plug_null_struct_preserved", (s, dir) => {
      implicit val sp: SparkSession = s
      val df = table(s, dir, "part").withColumn("price",
        when(col("p_size") > 5,
          struct(col("p_retailprice").as("minPrice"),
            (col("p_retailprice") * 1.2).as("maxPrice"))))
      val rule = PlugRule("rnull", "v1", "p_size > 40",
        Seq(PlugAction("price.minPrice", "1000.5")))
      plugged(df, List(rule))
        .select(col("p_partkey"), col("price.minPrice").as("min_price"))
    },
      """SELECT p_partkey,
        |CASE WHEN p_size > 5 THEN (CASE WHEN p_size > 40 THEN 1000.5 ELSE p_retailprice END) END AS min_price
        |FROM part""".stripMargin),

    // O12+O13: validation — missing field surfaces an error (returned as a
    // one-row DataFrame so the oracle can assert the exact message).
    Query("plug_validation_missing_field", (s, dir) => {
      implicit val sp: SparkSession = s
      import sp.implicits._
      val rule = PlugRule("rv", "v1", "l_discount > 0.05",
        Seq(PlugAction("no_such_column", "D")))
      val errs = SparkPlug.builder.enableRulesValidation.create()
        .plug(table(s, dir, "lineitem"), List(rule))
        .fold(identity, _ => List.empty[PlugRuleValidationError])
      errs.toDF().select(col("name"), col("error"))
    },
      """SELECT 'rv' AS name, 'Field "no_such_column" not found in the schema.' AS error"""),

    // O12: validation — two versions of the same rule name are rejected
    // with the reference's exact message (reference SparkPlug.scala:67-73
    // "Only one version per rule should be applied.").
    Query("plug_dup_names", (s, dir) => {
      implicit val sp: SparkSession = s
      import sp.implicits._
      val rules = List(
        PlugRule("rdup", "v1", "l_discount > 0.05",
          Seq(PlugAction("l_returnflag", "D"))),
        PlugRule("rdup", "v2", "l_discount > 0.06",
          Seq(PlugAction("l_returnflag", "E"))))
      val errs = SparkPlug.builder.enableRulesValidation.create()
        .plug(table(s, dir, "lineitem"), rules)
        .fold(identity, _ => List.empty[PlugRuleValidationError])
      errs.toDF().select(col("name"), col("error"))
    },
      """SELECT 'rdup' AS name, 'Only one version per rule should be applied.' AS error"""),

    // O1: JSON-lines rule ingestion — read rules.json into driver-side rule
    // objects (a real distributed JSON scan + encoder decode; rules then
    // live on the driver and compile into plans as literals).
    Query("plug_rules_ingest", (s, dir) => {
      import RuleReader._
      import s.implicits._
      val rules = s.readPlugRulesFrom("data/rules.json").toSeq.sortBy(_.name)
      rules.toDF().select(
        col("name"), col("version"), col("condition").as("rule_condition"),
        size(col("actions")).as("n_actions"),
        element_at(col("actions"), 1).getField("key").as("key1"),
        element_at(col("actions"), 1).getField("value").as("value1"))
    },
      """SELECT 'rule1' AS name, 'v1' AS version, 'l_discount > 0.05' AS rule_condition,
        |  1 AS n_actions, 'l_returnflag' AS key1, 'D' AS value1
        |UNION ALL
        |SELECT 'rule2', 'v2', 'l_quantity < 10', 2, 'l_linestatus', 'X'""".stripMargin),

    // O14: SQL dry-run validation — an undefined function in a condition
    // passes static validation but fails the empty-frame dry-run with an
    // "[SQL Error] ..." message (exact analyzer text is version-specific, so
    // the oracle checks the stable prefix and that the function is named).
    Query("plug_sql_dryrun_error", (s, dir) => {
      implicit val sp: SparkSession = s
      import sp.implicits._
      val rule = PlugRule("rdry", "v1", "conc(l_returnflag, 'x') = 'Ax'",
        Seq(PlugAction("l_returnflag", "D")))
      val errs = SparkPlug.builder.enableRulesValidation.create()
        .plug(table(s, dir, "lineitem"), List(rule))
        .fold(identity, _ => List.empty[PlugRuleValidationError])
      errs.toDF().select(
        col("name"),
        substring(col("error"), 1, 11).as("err_prefix"),
        col("error").contains("conc").as("mentions_fn"))
    },
      """SELECT 'rdry' AS name, '[SQL Error]' AS err_prefix, true AS mentions_fn"""),

    // O15: change accumulator via Dataset.observe — the count rides on the
    // caller's action (zero extra jobs); read back after the action.
    Query("plug_observe_count", (s, dir) => {
      implicit val sp: SparkSession = s
      val rule = PlugRule("robs", "v1", "l_discount > 0.05",
        Seq(PlugAction("l_returnflag", "D")))
      val plug = SparkPlug.builder.enableAccumulators.create()
      val out = plug.plug(table(s, dir, "lineitem"), List(rule))
        .fold(errs => throw new IllegalArgumentException(errs.mkString("; ")), identity)
      out.count() // the action the observation rides on
      val changed = plug.changedRowCount.getOrElse(-1L)
      s.range(1).select(lit("robs").as("name"), lit(changed).as("changed_rows"))
    },
      """SELECT 'robs' AS name, count(*) AS changed_rows FROM lineitem
        |WHERE l_discount > 0.05 AND l_returnflag IS DISTINCT FROM 'D'""".stripMargin),

    // O16: checkpoint/repartition staging — with rulesPerStage=1 and two
    // rules the chain repartitions to 7 after each rule and checkpoints
    // after rule 2; the surviving partition count proves the staging ran.
    Query("plug_staging_partitions", (s, dir) => {
      implicit val sp: SparkSession = s
      val r1 = PlugRule("s1", "v1", "l_discount > 0.05", Seq(PlugAction("l_returnflag", "D")))
      val r2 = PlugRule("s2", "v1", "l_quantity < 10", Seq(PlugAction("l_linestatus", "X")))
      val ckpt = scratch("ckpt")
      val out = plugged(table(s, dir, "lineitem"), List(r1, r2),
        _.enableCheckpointing(ckpt, rulesPerStage = 1, numberOfPartitions = 7))
      s.range(1).select(lit("stage").as("name"),
        lit(out.rdd.getNumPartitions).as("n_partitions"))
    },
      """SELECT 'stage' AS name, 7 AS n_partitions"""),

    // Integration: plug rules over the documents corpus — the rule engine
    // and the pipeline ops share tables; a backtick regexp value scrubs
    // digits from short English docs (regex functions pass through like
    // any other Spark SQL scalar).
    Query("plug_scrub_documents", (s, dir) => {
      implicit val sp: SparkSession = s
      val rule = PlugRule("scrub", "v1", "lang = 'en' and length(text) < 300",
        Seq(PlugAction("text", "`regexp_replace(text, '[0-9]+', '<num>')`")))
      plugged(table(s, dir, "documents"), List(rule))
        .select(col("doc_id"), col("lang"),
          graft.ops.TextFunctions.md5For(s)(col("text")).as("text_md5"))
    },
      """SELECT doc_id, lang,
        |md5(CASE WHEN lang = 'en' AND length(text) < 300
        |    THEN regexp_replace(text, '[0-9]+', '<num>', 'g') ELSE text END) AS text_md5
        |FROM documents""".stripMargin)
  )
}
