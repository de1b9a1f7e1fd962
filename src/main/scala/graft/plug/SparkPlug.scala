package graft.plug

import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, ExprId, Expression, NamedExpression, SubqueryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.optimizer.CollapseProject
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, GraftPlanAccess, Row, SparkSession}

import scala.collection.immutable.ListMap
import scala.util.{Success, Try}

/** Plug-details config: audit array column name + record appender. */
case class SparkPlugDetails(column: String, appender: AuditAppender)

/** Lineage-control config: `repartition(numberOfPartitions)` every
  * `rulesPerStage` rules, checkpoint every `2*rulesPerStage` rules —
  * same cadence as the reference (SparkPlug.scala:109-122). Needed for
  * 100+-rule chains where Catalyst analysis time grows with plan depth.
  * With `checkpointDir` set the checkpoint is reliable (HDFS/object-store
  * durable, survives executor loss); with None it is `localCheckpoint()` —
  * same lineage truncation without the remote write, the right default for
  * lineage control alone. */
case class SparkPlugCheckpointDetails(checkpointDir: Option[String], rulesPerStage: Int, numberOfPartitions: Int)

/** Rule-based data-override ("plugging") engine, Spark-4-native.
  *
  * Same public surface as the reference engine (reference:
  * src/main/scala/sparkplug/SparkPlug.scala) — builder, `plug`, `validate` —
  * but each rule, under every entry point, compiles to `Column` expressions
  * applied as ONE projection: no temp views, no SQL string concatenation, no
  * UDFs, stable column order. All entry points share one rule fold
  * ([[foldRules]]), which resolves the rules with one analysis per chain,
  * not one per rule: the audit trail is a fired-rule bit per rule, assembled
  * into the audit array once after the chain, and a [[CodegenBoundary]] ends
  * each whole-stage codegen region before its generated method outgrows the
  * JIT limit.
  *
  * Scale posture (100 TB): rules are compiled into the plan as literals —
  * there is no data-side rule join and nothing to broadcast (the reference's
  * rules "broadcast" was a driver no-op, SparkPlug.scala:43-45). The rule
  * chain is narrow (no shuffles); only opt-in repartition/checkpoint staging
  * introduces exchanges. The change count uses `Dataset.observe` so it
  * piggybacks on the caller's action instead of an extra full-scan job.
  */
case class SparkPlug(
    private val plugDetails: Option[SparkPlugDetails],
    private val isValidateRulesEnabled: Boolean,
    private val checkpointDetails: Option[SparkPlugCheckpointDetails],
    private val isAccumulatorsEnabled: Boolean,
    isKeepOldField: Boolean
)(implicit val spark: SparkSession) {

  checkpointDetails.flatMap(_.checkpointDir)
    .foreach(dir => spark.sparkContext.setCheckpointDir(dir))

  /** Observation handle attached by the most recent [[plug]] call when
    * accumulators are enabled (one fresh handle per call — an Observation
    * can only ride one Dataset). */
  @transient private var lastObservation: Option[org.apache.spark.sql.Observation] = None

  /** Changed-row count from the most recent plug's observation. Call AFTER
    * running an action on the plugged frame (the metric is collected when
    * the action completes; this blocks until then). Replaces the
    * reference's eager accumulator read (SparkPlug.scala:52-62) without its
    * extra full-scan job. */
  def changedRowCount: Option[Long] =
    lastObservation.flatMap(_.get.get(SparkPlug.changedMetric)).map(_.asInstanceOf[Long])

  /** Validate (if enabled) then fold the rules over the input frame.
    * (reference: SparkPlug.scala:29-40) */
  def plug(in: DataFrame, rules: List[PlugRule]): Either[List[PlugRuleValidationError], DataFrame] =
    SparkPlug.onDeepStack(validated(in, rules)(chain(in, rules)))

  /** The rules folded over `in` with the audit trail, unvalidated. */
  private def chain(in: DataFrame, rules: List[PlugRule]): DataFrame =
    withAuditTrail(rules)(foldRules(in, rules)(ruleUpdate(_, _, _)))

  private def validated[T](in: DataFrame, rules: List[PlugRule])(
      plugged: => T): Either[List[PlugRuleValidationError], T] = {
    val validationResult =
      if (isValidateRulesEnabled) validate(in.schema, rules) else Nil
    if (validationResult.nonEmpty) Left(validationResult)
    else Right(plugged)
  }

  /** Duplicate-name check + static per-rule checks; the SQL dry-run only
    * runs when static validation is clean (reference: SparkPlug.scala:67-76). */
  def validate(schema: StructType, rules: List[PlugRule]): List[PlugRuleValidationError] = {
    val duplicates = rules
      .groupBy(_.name)
      .filter(_._2.size > 1)
      .keysIterator
      .map(r => PlugRuleValidationError(r, "Only one version per rule should be applied."))
      .toList
    val static = rules.flatMap(_.validate(schema))
    duplicates ++ (if (static.nonEmpty) static else validateRuleSql(schema, rules))
  }

  /** Dry-runs every rule against one empty frame of the schema, each rule
    * checked against the input as in the reference (SparkPlug.scala:78-86):
    * one analysis of all the rules' columns, no job. Only when it fails does
    * each rule run alone, to name the failing ones; their analysis errors
    * (bad function names, unresolved columns in conditions) surface as
    * "[SQL Error] ...". */
  private def validateRuleSql(schema: StructType, rules: List[PlugRule]): List[PlugRuleValidationError] = {
    val empty = preProcessInput(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema), 1)
    val allAtOnce = Try(empty.select(rules.flatMap(r => ruleUpdate(r, 0, empty.schema).cols.values)
      .zipWithIndex.map { case (c, k) => c.as(s"__graft_$k") }: _*))
    if (allAtOnce.isSuccess) Nil
    else rules.flatMap(r => Try(empty.withColumns(ruleUpdate(r, 0, empty.schema).cols)).failed.toOption
      .map(t => PlugRuleValidationError(r.name, s"[SQL Error] ${t.getMessage}")))
  }

  /** The rule fold shared by every entry point. Seeds the audit column and
    * the fired-rule masks, then stacks each rule's `step` (compiled against
    * the frame as the rule finds it) as one `Project` over the input plan,
    * ends a codegen region before a rule when it is full (its expressions
    * and the columns the fold has added so far), and stages a
    * repartition or checkpoint on the configured cadence. The rules up to
    * the next staging point are resolved together ([[resolveRun]]). A
    * `Project` merges into the fold's `Project` below it where the
    * optimizer's `CollapseProject` would merge the two, so a caller that
    * re-analyzes the result walks no deeper a plan than the optimizer
    * leaves. One analysis of the stacked plan makes the result, which still
    * carries the masks. */
  private def foldRules(in: DataFrame, rules: List[PlugRule])(step: SparkPlug.Step): DataFrame = {
    val ruleAt = rules.toIndexedSeq
    var plan = preProcessInput(in, rules.size).queryExecution.analyzed
    val inputWidth = plan.output.size
    var cost = SparkPlug.regionCost(plan)
    // the plan the fold's own stacked Projects sit on; they merge down to it
    var base = plan
    val alwaysInline = spark.sessionState.conf.getConf(SQLConf.COLLAPSE_PROJECT_ALWAYS_INLINE)
    var i = 0
    def endRegionIfFull(): Unit =
      if (cost + SparkPlug.widthCost(plan.output.size - inputWidth) > SparkPlug.regionBudget) {
        CodegenBoundary.setup(spark)
        plan = CodegenBoundary(plan)
        base = plan
        cost = 0
      }
    def stage(): Unit = {
      staged(plan, i).foreach { p => plan = p; base = p; cost = 0 }
      i += 1
    }
    while (i < ruleAt.size) {
      val stageEnd = checkpointDetails.fold(ruleAt.size)(cd =>
        math.min(ruleAt.size, (i / cd.rulesPerStage + 1) * cd.rulesPerStage))
      val run = resolveRun(plan.output, ruleAt, i, stageEnd, step)
      if (run.isEmpty) {
        // a rule no run can place resolves alone against the real frame,
        // as a Dataset call does, and fails the same way
        endRegionIfFull()
        val before = plan
        val df = GraftPlanAccess.ofRows(spark, plan)
        plan = df.withColumns(step(ruleAt(i), i, df.schema).cols).queryExecution.analyzed
        cost = SparkPlug.regionCost(plan, Some(before -> cost))
        base = plan
        stage()
      }
      run.foreach { list =>
        endRegionIfFull()
        plan = plan match {
          case lower: Project if (lower ne base) &&
              CollapseProject.canCollapseExpressions(list, lower.projectList, alwaysInline) =>
            lower.copy(projectList = CollapseProject.buildCleanedProjectList(list, lower.projectList))
          case _ => Project(list, plan)
        }
        cost += SparkPlug.listCost(list)
        stage()
      }
    }
    GraftPlanAccess.ofRows(spark, plan)
  }

  /** Resolves rules `from until until` over a plan with columns `output` in
    * one analysis and returns the projection of each rule it places, in
    * order. Each rule is compiled against the columns the earlier ones
    * leave (a column a rule adds is typed as the column it copies, or as a
    * boolean flag), and every column of every rule goes, under a unique
    * alias, into one `Project` over a [[ChainInput]] leaf of `output` and
    * the added columns. A run that does not analyze to one plain `Project`
    * (a window function or a generator in an action, a subquery, an
    * analysis error) is halved; a lone rule that still does not is left to
    * resolve alone (an empty result), as is a first rule that fails
    * [[placeRun]]'s checks. */
  private def resolveRun(output: Seq[Attribute], rules: IndexedSeq[PlugRule], from: Int, until: Int,
      step: SparkPlug.Step): Seq[Seq[NamedExpression]] = {
    val resolver = spark.sessionState.conf.resolver
    var columns = output
    var added = Vector.empty[Attribute]
    val puts = (from until until).map { i =>
      val put = step(rules(i), i, StructType(columns.map(a => StructField(a.name, a.dataType))))
      for (n <- put.cols.keys if !columns.exists(a => resolver(a.name, n))) {
        val copied = put.copies.get(n).flatMap(c => columns.find(a => resolver(a.name, c)))
        val fresh = AttributeReference(n, copied.fold[DataType](BooleanType)(_.dataType))()
        added :+= fresh
        columns :+= fresh
      }
      put
    }
    val leaf = ChainInput(output ++ added)
    Try(GraftPlanAccess.ofRows(spark, leaf)
      .select(puts.flatMap(_.cols.values).zipWithIndex.map { case (c, k) => c.as(s"__graft_$k") }: _*)
      .queryExecution.analyzed) match {
      case Success(Project(list, `leaf`)) if !list.exists(_.exists(_.isInstanceOf[SubqueryExpression])) =>
        placeRun(output, leaf, puts, list.collect { case a: Alias => a.child })
      case _ if until - from > 1 => resolveRun(output, rules, from, from + (until - from) / 2, step)
      case _ => Nil
    }
  }

  /** Turns a run's resolved columns (`resolved`, in rule order, over
    * `leaf`) into each rule's projection over a plan with columns `output`,
    * shaped as `withColumns` shapes it: a reference to a leaf column is
    * rebound to the latest attribute of that column. Stops before a rule
    * that reads a column not there yet (it resolved only because the leaf
    * holds every column of the run), and after a rule that changes a
    * column's type, since the later rules were resolved against the old
    * one. A column's type only widens (a `CASE` over the old value
    * keeps its shape), so the earlier compile of the later rules cannot
    * have failed on it. */
  private def placeRun(output: Seq[Attribute], leaf: ChainInput, puts: Seq[SparkPlug.Put],
      resolved: Seq[Expression]): Seq[Seq[NamedExpression]] = {
    val resolver = spark.sessionState.conf.resolver
    def named(attrs: Seq[Attribute], name: String) = attrs.filter(a => resolver(a.name, name))
    var binding: Map[ExprId, Attribute] = output.map(a => a.exprId -> a).toMap
    var columns = output
    var next = resolved
    val placed = Vector.newBuilder[Seq[NamedExpression]]
    var open = true
    for (put <- puts.iterator if open) {
      val (mine, rest) = next.splitAt(put.cols.size)
      next = rest
      var (fits, retyped) = (true, false)
      val outs = put.cols.keys.toSeq.zip(mine).map { case (n, e) =>
        fits &&= e.references.forall(r => binding.contains(r.exprId))
        retyped ||= named(leaf.output, n).exists(_.dataType != e.dataType)
        Alias(e.transform { case r: AttributeReference => binding.getOrElse(r.exprId, r) }, n)()
      }
      open = fits && !retyped
      if (fits) {
        outs.foreach(o => binding ++= named(leaf.output, o.name).map(_.exprId -> o.toAttribute))
        val list: Seq[NamedExpression] =
          columns.map(c => outs.find(o => resolver(c.name, o.name)).getOrElse(c)) ++
            outs.filter(o => named(columns, o.name).isEmpty)
        columns = list.map(_.toAttribute)
        placed += list
      }
    }
    placed.result()
  }

  /** Initialize the audit column to a schema-correct empty array and every
    * fired-rule mask to 0. The reference always overwrites a pre-existing
    * audit column (SparkPlug.scala:88-91) — kept for parity. */
  private def preProcessInput(in: DataFrame, nRules: Int): DataFrame =
    plugDetails.fold(in)(pd => in.withColumn(pd.column, pd.appender.emptyDetails)
      .withColumns(SparkPlug.maskColumns(nRules).map(_ -> lit(0L)).toMap))

  /** Evaluates the audit records first (so a bad record fails before any
    * plan is built), runs the fold, then replaces the audit column with the
    * records the row's masks select and drops the masks. The audit
    * projection merges into the chain's last `Project`, so it runs in the
    * last codegen region. The change count rides on an `observe` above it:
    * a row changed iff one of its mask bits is set, iff its audit array is
    * not empty. */
  private def withAuditTrail(rules: List[PlugRule])(chain: => DataFrame): DataFrame =
    plugDetails.fold(chain) { pd =>
      val records = auditRecords(pd.appender, rules)
      val masks = SparkPlug.maskColumns(rules.size)
      val audited =
        if (masks.isEmpty) chain
        else chain
          .withColumn(pd.column, GraftPlanAccess.column(
            FiredRecords(masks.map(UnresolvedAttribute.quoted), records, pd.appender.detailSchema)))
          .drop(masks: _*)
      withChangeCount(audited, size(GraftPlanAccess.column(UnresolvedAttribute.quoted(pd.column))) > 0)
    }

  /** Every rule's audit record, evaluated once on the driver over a
    * one-row frame with no columns, as one encoded array: the optimizer
    * folds that query into a local scan without a job (a session that
    * excludes the rule runs one). A record that reads the row cannot
    * resolve there and fails with the rule's name. */
  private def auditRecords(appender: AuditAppender, rules: List[PlugRule]): UnsafeArrayData = {
    val oneRow = spark.createDataFrame(java.util.List.of(Row.empty), new StructType())
    def evaluate(rs: List[PlugRule]) = oneRow.select(array(rs.map(r =>
      appender.record(r.name, r.version, r.actions.map(_.key)).cast(appender.detailSchema)): _*))
    val evaluated = Try(evaluate(rules)).recover { case e: AnalysisException =>
      val bad = rules.find(r => Try(evaluate(List(r))).isFailure).getOrElse(throw e)
      throw new IllegalArgumentException(
        s"""Rule "${bad.name}": an audit record must not read the row: ${e.getMessage}""", e)
    }.get
    val row = evaluated.queryExecution.executedPlan.executeCollect().head
    row.getArray(0).asInstanceOf[UnsafeArrayData].copy()
  }

  /** First-match-only variant of [[plug]]: each row takes the FIRST rule
    * whose condition matches it and is immune to every later rule — the
    * priority-list semantics rule authors often intend when overlapping
    * conditions would otherwise let a later broad rule clobber an earlier
    * specific one. Same validation, audit, keep-old and staging machinery;
    * the only change is a `__graft_matched` flag threaded through the
    * chain: each rule writes where its condition holds (against the frame
    * it sees, so conditions still read earlier rules' OUTPUT, exactly like
    * the sequential fold) and the row is not yet matched, and sets the flag
    * in the same projection. The chain costs the same single pass as
    * [[plug]]. */
  def plugFirstMatch(in: DataFrame, rules: List[PlugRule]): Either[List[PlugRuleValidationError], DataFrame] = {
    val flag = "__graft_matched"
    SparkPlug.onDeepStack(validated(in, rules)(withAuditTrail(rules) {
      foldRules(in.withColumn(flag, lit(false)), rules) { (rule, i, schema) =>
        // a NULL condition is a miss, not a match: it must not shield the row
        val matches = coalesce(expr(rule.condition), lit(false)) && !col(flag)
        ruleUpdate(rule, i, schema, Some(matches), _ => Seq(flag -> (matches || col(flag))))
      }.drop(flag)
    }))
  }

  /** Per-rule telemetry over the SAME sequential semantics as [[plug]]:
    * for each rule, how many rows its condition matched and how many it
    * actually CHANGED (null-safe `<=>` against the post-coercion value) —
    * evaluated against the frame state that rule actually saw, i.e. after
    * every earlier rule applied. The dry-run dashboard behind rule
    * rollouts: a rule with matches but no changes is a no-op, one with
    * zero matches is dead, and a later rule's numbers shift when an
    * earlier rule rewrites its inputs — which this catches and a
    * per-rule-in-isolation count would not.
    *
    * "Changed" is the same gate the audit trail uses
    * ([[RuleCompiler.Compiled.fired]]), so map-entry and array-element
    * actions count like any other. One pass: hit/changed FLAGS ride in
    * each rule's own projection (the chain stays narrow, no shuffle), and
    * one conditional aggregate at the end reads them all; the wide 1-row
    * result unpivots to a #rules-row frame. */
  def ruleHitStats(in: DataFrame, rules: List[PlugRule]): DataFrame = SparkPlug.onDeepStack {
    val flagged = foldRules(in, rules) { (rule, i, schema) =>
      ruleUpdate(rule, i, schema,
        extra = c => Seq(s"__hit_$i" -> expr(rule.condition), s"__chg_$i" -> c.fired))
    }
    val aggs = rules.indices.flatMap(i => Seq(
      sum(when(col(s"__hit_$i"), 1L).otherwise(0L)).as(s"__h_$i"),
      sum(when(col(s"__chg_$i"), 1L).otherwise(0L)).as(s"__c_$i")))
    flagged.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(rules.zipWithIndex.map { case (r, i) =>
        struct(lit(r.name).as("rule_name"),
          coalesce(col(s"__h_$i"), lit(0L)).as("n_matched"),
          coalesce(col(s"__c_$i"), lit(0L)).as("n_changed"))
      }: _*)).as("r"))
      .select(col("r.rule_name"), col("r.n_matched"), col("r.n_changed"))
  }

  /** Canary diff between two rule sets — "what would the v2 rules change
    * vs the v1 rules on this data": both sets plug the SAME input, and
    * every column both outputs share, except the caller's row key and the
    * audit column, reports how many rows the two outputs disagree on
    * (null-safe `<=>`, so null→value and value→null both count), in set
    * A's column order. An all-zero report shows a rewrite of the rules
    * changes nothing.
    *
    * One narrow pass over one input scan, then one conditional aggregate:
    * set A runs over the input beside a copy of its columns, its outputs
    * are stashed and the copy restored, and set B runs over that. The key
    * columns must be unique and rewritten by neither set. With validation
    * on, set A's errors come back if it has any, else set B's. */
  def diffRuleSets(
      in: DataFrame,
      keyCols: Seq[String],
      rulesA: List[PlugRule],
      rulesB: List[PlugRule]
  ): Either[List[PlugRuleValidationError], DataFrame] = SparkPlug.onDeepStack {
    validated(in, rulesA)(()).flatMap(_ => validated(in, rulesB) {
      val origCols = in.columns.toSeq
      val orig = origCols.map(c => c -> s"__graft_orig_$c").toMap
      val a = chain(in.select(origCols.map(col) ++ origCols.map(c => col(c).as(orig(c))): _*), rulesA)
      val aCols = a.columns.toSeq.filterNot(orig.values.toSet)
      val b = chain(a.select(aCols.map(c => col(c).as(s"__graft_a_$c")) ++
        origCols.map(c => col(orig(c)).as(c)): _*), rulesB)
      val compared = aCols.filter(b.columns.contains)
        .filterNot(keyCols.contains)
        .filterNot(c => plugDetails.exists(_.column == c))
      if (compared.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
          StructType(Seq(StructField("column", StringType), StructField("n_diff", LongType))))
      else {
        val aggs = compared.map(c =>
          sum(when(!(col(s"__graft_a_$c") <=> col(c)), 1L).otherwise(0L)).as(s"__d_$c"))
        b.agg(aggs.head, aggs.tail: _*)
          .select(explode(array(compared.map(c =>
            struct(lit(c).as("column"),
              coalesce(col(s"__d_$c"), lit(0L)).as("n_diff"))): _*)).as("d"))
          .select(col("d.column"), col("d.n_diff"))
      }
    })
  }

  /** The rule with the given chain position as one projection over a frame
    * of `schema`, writing where `cond` holds (the rule's condition by
    * default). With plug details on, a rule that fires ORs its bit into its
    * mask word; the reference appends a record per firing rule through a
    * UDF4 (SparkPlugUDFs.scala:14-31), copying the growing array every
    * time. `extra` adds columns computed from the same pre-rule frame. */
  private def ruleUpdate(rule: PlugRule, ruleNumber: Int, schema: StructType,
      cond: Option[Column] = None,
      extra: RuleCompiler.Compiled => Seq[(String, Column)] = _ => Nil): SparkPlug.Put = {
    val compiled = RuleCompiler.compile(rule, schema, isKeepOldField, cond.getOrElse(expr(rule.condition)))
    val maskUpdate = plugDetails.map { _ =>
      val mask = SparkPlug.maskColumn(ruleNumber)
      mask -> col(mask).bitwiseOR(
        when(compiled.fired, lit(1L << (ruleNumber % 64))).otherwise(lit(0L)))
    }
    SparkPlug.Put(ListMap(compiled.allUpdates ++ maskUpdate ++ extra(compiled): _*), compiled.oldCopies.toMap)
  }

  /** Changed-row count. The reference runs an extra eager full-scan job with
    * a LongAccumulator (SparkPlug.scala:52-62); we attach `Dataset.observe`
    * so the count rides on whatever action the caller runs — zero extra jobs.
    * Read it back via a QueryExecutionListener or `observedMetrics`. */
  private def withChangeCount(out: DataFrame, changed: Column): DataFrame =
    if (isAccumulatorsEnabled) {
      val obs = new org.apache.spark.sql.Observation(SparkPlug.observationName)
      lastObservation = Some(obs)
      out.observe(obs, sum(when(changed, 1L).otherwise(0L)).as(SparkPlug.changedMetric))
    } else out

  /** `plan` staged after rule `ruleNumber`, when the cadence stages there:
    * repartitioned, and checkpointed every second stage. */
  private def staged(plan: LogicalPlan, ruleNumber: Int): Option[LogicalPlan] =
    checkpointDetails.filter(cd => (ruleNumber + 1) % cd.rulesPerStage == 0).map { cd =>
      val repartitioned = GraftPlanAccess.ofRows(spark, plan).repartition(cd.numberOfPartitions)
      val out =
        if ((ruleNumber + 1) % (2 * cd.rulesPerStage) == 0) {
          if (cd.checkpointDir.isDefined) repartitioned.checkpoint()
          else repartitioned.localCheckpoint()
        } else repartitioned
      out.queryExecution.analyzed
    }
}

case class SparkPlugBuilder(
    plugDetails: Option[SparkPlugDetails] = None,
    isValidateRulesEnabled: Boolean = false,
    checkpointDetails: Option[SparkPlugCheckpointDetails] = None,
    isAccumulatorsEnabled: Boolean = false,
    isKeepOldField: Boolean = false
)(implicit val spark: SparkSession) {

  def enablePlugDetails(
      plugDetailsColumn: String = SparkPlug.defaultPlugDetailsColumn,
      appender: AuditAppender = AuditAppender.default
  ): SparkPlugBuilder =
    copy(plugDetails = Some(SparkPlugDetails(plugDetailsColumn, appender)))

  def enableRulesValidation: SparkPlugBuilder = copy(isValidateRulesEnabled = true)

  /** Reliable checkpointing to `checkpointDir` (reference-parity API). */
  def enableCheckpointing(checkpointDir: String, rulesPerStage: Int, numberOfPartitions: Int): SparkPlugBuilder =
    copy(checkpointDetails = Some(SparkPlugCheckpointDetails(Some(checkpointDir), rulesPerStage, numberOfPartitions)))

  /** Lineage truncation via `localCheckpoint()` — no checkpoint dir or
    * remote write; sufficient (and faster) when staging exists only to
    * bound Catalyst plan growth on long rule chains. */
  def enableLocalCheckpointing(rulesPerStage: Int, numberOfPartitions: Int): SparkPlugBuilder =
    copy(checkpointDetails = Some(SparkPlugCheckpointDetails(None, rulesPerStage, numberOfPartitions)))

  /** Changed-row counting; auto-couples plug details like the reference
    * (SparkPlug.scala:148-149). */
  def enableAccumulators: SparkPlugBuilder =
    if (plugDetails.nonEmpty) copy(isAccumulatorsEnabled = true)
    else copy(isAccumulatorsEnabled = true).enablePlugDetails()

  def keepOldField: SparkPlugBuilder = copy(isKeepOldField = true)

  def create(): SparkPlug =
    SparkPlug(plugDetails, isValidateRulesEnabled, checkpointDetails, isAccumulatorsEnabled, isKeepOldField)
}

object SparkPlug {
  val defaultPlugDetailsColumn = "plugDetails"
  val observationName          = "sparkplug"
  val changedMetric            = "changed"

  def builder(implicit spark: SparkSession): SparkPlugBuilder = SparkPlugBuilder()

  /** Runs `build` on a thread with a 128 MB stack. Spark's analyzer
    * recurses once per plan node, and a long chain stacks a `Project` per
    * rule before they merge: until the JIT has compiled the analyzer, some
    * 500 of them outgrow the default 1 MB thread stack. An interrupt of the caller interrupts the build, and
    * the caller waits for it to stop. */
  private def onDeepStack[T](build: => T): T = {
    var result: Either[Throwable, T] = Left(new IllegalStateException("plug build did not run"))
    val thread = new Thread(null, () => result = try Right(build) catch { case t: Throwable => Left(t) },
      "graft-plug-build", 128L << 20)
    thread.start()
    try thread.join()
    catch {
      case e: InterruptedException =>
        thread.interrupt()
        thread.join()
        throw e
    }
    result.fold(throw _, identity)
  }

  /** How a rule changes the frame: a `withColumns` of `cols`, in order, all
    * computed from the frame before it. A column a `Put` adds is a copy of
    * `copies(name)` when listed there, and a boolean flag otherwise. */
  private[plug] case class Put(cols: ListMap[String, Column], copies: Map[String, String])

  /** One rule's projection, at its chain position, over a frame of the
    * schema. */
  private[plug] type Step = (PlugRule, Int, StructType) => Put

  /** The fired-rule mask holding rule `ruleNumber`'s bit: 64 rules a word. */
  private def maskColumn(ruleNumber: Int): String = s"__graft_mask_${ruleNumber / 64}"

  private def maskColumns(nRules: Int): Seq[String] = (0 until nRules by 64).map(maskColumn)

  /** Computing expressions one whole-stage-codegen region may hold before
    * the fold ends it. Measured on Spark 4.1 over rule shapes from one
    * single-action comparison to three actions under AND/OR conditions with
    * plug details, one such expression compiles to 18-41 bytes of
    * `processNext`; this budget keeps a region under about 7000 bytes,
    * below HotSpot's 8000-byte JIT limit (ChainScalingSpec pins it). */
  private val regionBudget = 150

  /** What `added` columns beyond the fold's input cost a region, in
    * computing expressions: a region reads every column of its input and
    * writes every column of its output, about one and a half expressions'
    * worth of `processNext` per column. Columns the rules add (keep-old
    * copies) widen every later region, so each later region holds fewer
    * rules (ChainScalingSpec pins a keep-old first-match chain). */
  private def widthCost(added: Int): Int = 3 * added / 2

  /** Computing expressions in the `Project`s above the plan's last region
    * end (a boundary, checkpoint, exchange or scan); `known` stops the walk
    * at a plan whose cost is already counted. */
  private def regionCost(plan: LogicalPlan, known: Option[(LogicalPlan, Int)] = None): Int = plan match {
    case _ if known.exists(_._1 eq plan) => known.get._2
    case Project(list, child) => listCost(list) + regionCost(child, known)
    case _ => 0
  }

  /** Whole-stage codegen evaluates a subexpression shared within one
    * projection once, so a `Project` costs its distinct non-leaf
    * expressions. */
  private def listCost(list: Seq[NamedExpression]): Int =
    list.flatMap(_.collect { case e if e.children.nonEmpty && !e.isInstanceOf[Alias] => e.canonicalized })
      .distinct.size
}
