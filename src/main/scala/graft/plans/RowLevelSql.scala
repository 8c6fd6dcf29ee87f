package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, AttributeSet, EqualTo, Expression, GetStructField}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, InsertAction, LogicalPlan, MergeIntoTable, UpdateAction, UpdateTable}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.functions.{col, count, count_distinct, lit, monotonically_increasing_id}
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import graft.sources.{CommitLog, CommitLogCatalogTable}

/** SQL `UPDATE` and `MERGE INTO` on catalog commit-log tables (r14 —
  * VERDICT r13 #1): a planner strategy that intercepts the fully-analyzed
  * [[UpdateTable]] / [[MergeIntoTable]] commands over a
  * [[CommitLogCatalogTable]] (injected strategies run before Spark's
  * built-ins, whose BasicOperators otherwise reject both statements for
  * tables without SupportsRowLevelOperations) and compiles them onto the
  * SAME library verbs every other write face uses — `UPDATE` →
  * [[CommitLog.update]] (the prunedRewrite engine: evidence-pruned
  * copy-on-write, untouched dirs carried byte-identical), `MERGE INTO` →
  * [[CommitLog.mergeOn]] (keyed copy-on-write with bloom/stats dir pruning
  * and the persisted CDF changeset) — so the statement route produces
  * claim JSON shape-identical to the library route by construction
  * (spec-asserted), and NO second write engine exists.
  *
  * SOUND-OR-REFUSE (the r13 `SupportsDelete` translation discipline): a
  * statement shape whose semantics the verbs cannot reproduce EXACTLY is
  * refused at planning with an error naming the supported forms — never
  * a silently-different execution. Supported:
  *
  *  - `UPDATE t SET c1 = e1, s.f = e2, … [WHERE cond]` — top-level
  *    columns AND struct FIELDS (r15 — VERDICT r14 #4: `SET s.f = e`
  *    compiles to a whole-column `withField` replacement, sibling fields
  *    carried from the stored row; a NULL struct stays NULL — there is
  *    no row of fields to graft into — and assignments whose paths
  *    overlap, or mix a whole column with its own fields, are refused as
  *    order-ambiguous). Expressions over the table's own columns; rows
  *    where cond is TRUE update, NULL/false keep (the SQL rule, enforced
  *    by the verb).
  *  - `MERGE INTO t USING src ON <conjunction of equalities>` — each
  *    conjunct one equality between a bare target column and a source
  *    expression (r15 — VERDICT r14 #2: compound (id, date)-style keys;
  *    the column LIST keys [[CommitLog.mergeOn]]'s changeset and its
  *    per-column composed pruning evidence) — with any number of `WHEN
  *    MATCHED [AND cond] THEN UPDATE SET … / DELETE`, `WHEN NOT MATCHED
  *    [AND cond] THEN INSERT …`, and `WHEN NOT MATCHED BY SOURCE [AND
  *    cond] THEN UPDATE SET … / DELETE` clauses (r15 — VERDICT r14 #1:
  *    the retention/sync clause family; its changeset piece is the head
  *    anti-joined against the source's keys, head-scan-bounded, and its
  *    conditions/assignments may reference the TARGET only, the SQL
  *    rule), each list evaluated FIRST-MATCH-WINS (r14 close:
  *    conditional clauses are exact — a clause's effective condition is
  *    its own predicate TRUE and every earlier clause's NOT TRUE, and a
  *    row no clause fires for is simply absent from the changeset, so
  *    the verb leaves its key untouched). `WITH SCHEMA EVOLUTION` works
  *    through the ANALYZER (r15 — VERDICT r14 #5: the table declares
  *    AUTOMATIC_SCHEMA_EVOLUTION, so ResolveMergeIntoSchemaEvolution
  *    computes the source-vs-target column adds and routes them through
  *    GraftCatalog.alterTable, which STAGES the top-level adds instead
  *    of committing them ([[CommitLog.evolveColumns]] is the explicit
  *    ALTER TABLE face); the merge execution folds the widening into its
  *    one row-visible commit, and the analyzer re-resolves the target
  *    with the widened schema — old dirs read the new columns as typed
  *    NULLs; nested and non-additive changes refuse in alterTable).
  *    Refused: reassigning an ON key column to a new value
  *    (a key change is a DELETE plus an INSERT), assigning struct FIELDS
  *    of an ON key column, and MERGE-cardinality violations — a target
  *    key taking a matched UPDATE more than once (duplicate source keys
  *    matching one target key, or a stored-duplicate key) fails loudly
  *    rather than guessing; duplicate source rows that are all NOT
  *    MATCHED inserts are the standard SQL multi-insert and land as
  *    separate rows (r15, ADVICE r14).
  *
  * MERGE compiles to ONE changeset: matched-update rows come from an
  * inner join of the head snapshot (aliased `__t`) with the source
  * (`__s`) so SET expressions may reference BOTH sides (`SET p = __t.p +
  * src.p` works); not-matched inserts from the source anti-joined
  * against the head; not-matched-by-source rows from the head
  * anti-joined against the source; matched/by-source deletes as key
  * tuples flagged through the verb's deleteCol (duplicate deletes of one
  * key collapse — deleting a key twice is deleting it). The changeset is
  * computed against the head AT STATEMENT START (snapshot-isolated
  * read); the commit itself claims optimistically like every verb. A
  * head row whose key tuple contains a NULL can never equi-match, so it
  * is "not matched by source" — but a keyed changeset cannot address it
  * and the verb refuses null keys loudly rather than guessing.
  *
  * Scale: the statement inherits the verbs' measured economics — a MERGE
  * touching k of N bloomed/sorted dirs rewrites k dirs; an UPDATE whose
  * predicate the recorded evidence excludes from most dirs rewrites only
  * the possible ones. The pre-commit joins are changeset-bounded on the
  * source side and scan the head once each — broadcastable when the
  * source is small, exactly the Delta MERGE shape; the NOT MATCHED BY
  * SOURCE anti-join adds one head-scan-bounded pass only when the clause
  * family is present.
  */
object RowLevelSqlStrategy extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case UpdateTable(target, assignments, condition) =>
      commitLogTarget(target) match {
        case Some((table, targetAttrs)) =>
          refuseIfTravel(table, "UPDATE")
          val tSet = AttributeSet(targetAttrs)
          // values/condition may reference only the table's own columns
          // (Spark's analyzer guarantees it for UPDATE; re-checked so a
          // future analyzer change degrades loudly, not wrongly)
          (assignments.map(_.value) ++ condition.toSeq).foreach(e =>
            requireOnly(e, tSet, "UPDATE"))
          val pathed = assignments.map(a =>
            assignmentPath(a, "UPDATE") -> a.value)
          val assignCols = groupAssignments(pathed, "UPDATE").map {
            case (top, as) =>
              val base = GraftBridge.columnOf(UnresolvedAttribute.quoted(top))
              val dt = targetAttrs.find(_.name.equalsIgnoreCase(top))
                .map(_.dataType)
                .getOrElse(refuse(s"UPDATE assigns to unknown column $top"))
              top -> assembleColumn(top, dt, as, base,
                e => GraftBridge.columnOf(unresolve(e)), "UPDATE")
          }
          val condCol = condition.map(e =>
            GraftBridge.columnOf(unresolve(e))).getOrElse(lit(true))
          Seq(GraftRowLevelExec("GraftUpdate", () => {
            CommitLog.update(SparkSession.active, table.commitLogRoot,
              "catalog", condCol, assignCols)
            ()
          }))
        case None => Nil
      }

    // SQL DELETE with an ARBITRARY predicate (r15): the SupportsDelete
    // route only accepts filter-TRANSLATABLE conjuncts (canDeleteWhere
    // refuses `id % 3 = 0` and the statement dies at analysis) — here
    // the full analyzed condition compiles onto CommitLog.delete, the
    // same evidence-pruned rewrite engine, with the SQL NULL rule
    // (TRUE deletes, NULL/false keeps) enforced by the verb. Subqueries
    // refuse (requireOnly); SupportsDelete remains the fallback face.
    case org.apache.spark.sql.catalyst.plans.logical.DeleteFromTable(
        target, condition) =>
      commitLogTarget(target) match {
        case Some((table, targetAttrs)) =>
          refuseIfTravel(table, "DELETE")
          requireOnly(condition, AttributeSet(targetAttrs), "DELETE")
          val condCol = GraftBridge.columnOf(unresolve(condition))
          Seq(GraftRowLevelExec("GraftDelete", () => {
            CommitLog.delete(SparkSession.active, table.commitLogRoot,
              "catalog", condCol)
            ()
          }))
        case None => Nil
      }

    case MergeIntoTable(target, source, mergeCondition, matchedActions,
        notMatchedActions, notMatchedBySourceActions, _) =>
      // withSchemaEvolution (r16 — VERDICT r15 #4): the analyzer STAGED
      // the widening (AUTOMATIC_SCHEMA_EVOLUTION →
      // ResolveMergeIntoSchemaEvolution → GraftCatalog.alterTable →
      // pendingEvolve, no commit) and re-resolved the target against the
      // overlaid table — whose pendingEvolution this strategy reads off
      // the analyzed instance and FOLDS into the merge's one row-visible
      // commit. An EXPLAINed or failing statement therefore leaves no
      // commit at all (the Delta single-transaction shape).
      commitLogTarget(target) match {
        case Some((table, targetAttrs)) =>
          refuseIfTravel(table, "MERGE INTO")
          if (matchedActions.isEmpty && notMatchedActions.isEmpty &&
              notMatchedBySourceActions.isEmpty)
            refuse("MERGE needs at least one clause")
          val tSet = AttributeSet(targetAttrs)
          val sSet = source.outputSet
          // the ON condition: a conjunction of equalities, each with one
          // bare target column (a merge key the verb's composed pruning
          // evidence is keyed by) and one source-only expression
          val keyPairs: Seq[(AttributeReference, Expression)] =
            splitConjuncts(mergeCondition).map {
              case EqualTo(l: AttributeReference, r)
                  if tSet.contains(l) && r.references.subsetOf(sSet) => (l, r)
              case EqualTo(l, r: AttributeReference)
                  if tSet.contains(r) && l.references.subsetOf(sSet) => (r, l)
              case other => refuse("every ON conjunct must be one equality " +
                s"between a target column and a source expression, got $other")
            }
          val dupKeys = keyPairs.map(_._1.name)
            .groupBy(identity).filter(_._2.size > 1).keys
          if (dupKeys.nonEmpty)
            refuse(s"the ON condition equates target column " +
              s"${dupKeys.mkString(", ")} more than once")
          val keyByName: Map[String, (AttributeReference, Expression)] =
            keyPairs.map(p => p._1.name -> p).toMap
          // CONDITIONAL clauses (r14 close), translated EXACTLY: clause
          // conditions apply FIRST-MATCH-WINS per joined/source/head row,
          // and a row no clause fires for is simply absent from the
          // changeset — CommitLog.mergeOn leaves absent keys untouched, so
          // the SQL semantics fall out of key-absence. Matched conditions
          // may reference both sides; not-matched conditions the source
          // only; not-matched-by-source conditions the target only (the
          // SQL rules, re-checked).
          def checkUpdateAssigns(assigns: Seq[Assignment], allowed: AttributeSet,
              what: String): Seq[(Seq[String], Expression)] = {
            val named = assigns.map(a => assignmentPath(a, what) -> a.value)
            // overlap/duplicate refusal, same as UPDATE (code review r15:
            // without it, SET info = …, info.price = … silently dropped
            // the field assignment through the whole-column branch)
            groupAssignments(named, what)
            named.foreach { case (path, v) =>
              requireOnly(v, allowed, what)
              keyByName.get(path.head).foreach { case (keyAttr, srcKeyExpr) =>
                // reassigning the ON key would make the verb replace the
                // WRONG stored row (changes are keyed by that column):
                // only identity assignments are expressible, and a
                // struct FIELD of a key is part of the key
                if (path.size > 1)
                  refuse(s"$what must not assign into struct field " +
                    s"${path.mkString(".")} of ON key column '${path.head}'")
                if (!v.semanticEquals(srcKeyExpr) && !v.semanticEquals(keyAttr))
                  refuse(s"$what must not reassign the ON key column " +
                    s"'${path.head}' (got $v) — a key change is a DELETE " +
                    "plus an INSERT")
              }
            }
            named
          }
          val matched: Seq[(Option[Expression], Option[Seq[(Seq[String], Expression)]])] =
            matchedActions.map {
              case UpdateAction(c, assigns, _) =>
                c.foreach(requireOnly(_, tSet ++ sSet, "WHEN MATCHED AND"))
                (c, Some(checkUpdateAssigns(assigns, tSet ++ sSet,
                  "MERGE UPDATE")))
              case DeleteAction(c) =>
                c.foreach(requireOnly(_, tSet ++ sSet, "WHEN MATCHED AND"))
                (c, None)
              case a => refuse(s"unsupported WHEN MATCHED clause $a")
            }
          val notMatched: Seq[(Option[Expression], Seq[(String, Expression)])] =
            notMatchedActions.map {
              case InsertAction(c, assigns) =>
                val named = assigns.map { a =>
                  val p = assignmentPath(a, "MERGE INSERT")
                  if (p.size > 1) refuse("MERGE INSERT assigns whole " +
                    s"columns, not struct fields (got ${p.mkString(".")})")
                  p.head -> a.value
                }
                named.foreach { case (_, v) =>
                  requireOnly(v, sSet, "MERGE INSERT") }
                c.foreach(requireOnly(_, sSet, "WHEN NOT MATCHED AND"))
                (c, named)
              case a => refuse(s"unsupported WHEN NOT MATCHED clause $a")
            }
          val bySource: Seq[(Option[Expression], Option[Seq[(Seq[String], Expression)]])] =
            notMatchedBySourceActions.map {
              case UpdateAction(c, assigns, _) =>
                c.foreach(requireOnly(_, tSet,
                  "WHEN NOT MATCHED BY SOURCE AND"))
                (c, Some(checkUpdateAssigns(assigns, tSet,
                  "NOT MATCHED BY SOURCE UPDATE")))
              case DeleteAction(c) =>
                c.foreach(requireOnly(_, tSet,
                  "WHEN NOT MATCHED BY SOURCE AND"))
                (c, None)
              case a =>
                refuse(s"unsupported WHEN NOT MATCHED BY SOURCE clause $a")
            }
          val root = table.commitLogRoot
          Seq(GraftRowLevelExec("GraftMergeInto", () => runMerge(
            root, source, keyPairs, tSet, sSet,
            matched, notMatched, bySource, table.pendingEvolution)))
        case None => Nil
      }

    case _ => Nil
  }

  // ---- translation helpers (strategy time: refuse loudly, never guess) --

  private def refuse(why: String): Nothing =
    throw new UnsupportedOperationException(
      s"graft.commitlog row-level SQL: $why")

  private def refuseIfTravel(t: CommitLogCatalogTable, what: String): Unit =
    if (t.isTimeTravel) refuse(s"$what against a time-travel read — " +
      "committed history is immutable")

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  /** The commit-log table under a statement's target plan, with the
    * relation's output attributes (the side-classification anchor). */
  private def commitLogTarget(plan: LogicalPlan)
      : Option[(CommitLogCatalogTable, Seq[Attribute])] =
    plan.collectFirst {
      case r @ DataSourceV2Relation(t: CommitLogCatalogTable, _, _, _, _, _) =>
        (t, r.output)
      case DataSourceV2ScanRelation(
          r @ DataSourceV2Relation(t: CommitLogCatalogTable, _, _, _, _, _),
          _, output, _, _) => (t, output)
    }

  /** An assignment's target as a column PATH — `c` is Seq(c), `s.f.g` is
    * Seq(s, f, g) (r15 — struct-field assignment keys arrive as
    * GetStructField chains because this table has no
    * SupportsRowLevelOperations alignment). A path segment containing a
    * dot is refused: the `withField` compilation below addresses nested
    * fields by dot-joined name. */
  private def assignmentPath(a: Assignment, what: String): Seq[String] = {
    def unwind(e: Expression): Seq[String] = e match {
      case ar: AttributeReference => Seq(ar.name)
      case g: GetStructField => unwind(g.child) :+ g.extractFieldName
      case other =>
        refuse(s"$what assigns to $other — columns or struct fields only")
    }
    val p = unwind(a.key)
    // only NESTED segments feed withField's dot-joined addressing; a
    // top-level column literally named `a.b` resolves fine through
    // UnresolvedAttribute.quoted (code review r15: refusing it would
    // regress the r14 whole-column behavior)
    p.tail.filter(_.contains(".")).foreach(seg =>
      refuse(s"$what struct-field segment '$seg' contains a dot — quoted " +
        "dotted field names are not addressable through withField"))
    p
  }

  /** Group assignment paths by top-level column, refusing ambiguity: a
    * path that is a prefix of another (including duplicates), or a whole
    * column mixed with its own fields, has order-dependent semantics the
    * statement does not declare. */
  private def groupAssignments(pathed: Seq[(Seq[String], Expression)],
      what: String): Seq[(String, Seq[(Seq[String], Expression)])] = {
    val ps = pathed.map(_._1)
    for (i <- ps.indices; j <- ps.indices if i != j)
      if (ps(j).startsWith(ps(i)))
        refuse(s"$what assigns both ${ps(i).mkString(".")} and " +
          s"${ps(j).mkString(".")} — overlapping assignment targets are " +
          "order-ambiguous")
    pathed.groupBy(_._1.head).toSeq
  }

  /** The data type at `path` inside `dt` (case-insensitive, matching
    * Spark's resolution), if every segment names a struct field. */
  private def fieldTypeOf(dt: DataType, path: Seq[String]): Option[DataType] =
    path.foldLeft(Option(dt)) {
      case (Some(st: StructType), seg) =>
        st.find(_.name.equalsIgnoreCase(seg)).map(_.dataType)
      case _ => None
    }

  /** One top-level column's new value from its assignment group: a whole-
    * column assignment replaces it; struct-field assignments fold
    * `withField` over the ORIGINAL column (every RHS sees the stored
    * row's values — the SQL simultaneous-assignment rule — because each
    * value expression references `base`'s source row, never the
    * accumulated result), each value cast to the field's declared type.
    * A NULL struct stays NULL (the withField rule — there is no row of
    * fields to graft into). */
  private def assembleColumn(top: String, dt: DataType,
      as: Seq[(Seq[String], Expression)], base: Column,
      toCol: Expression => Column, what: String): Column =
    if (as.exists(_._1.size == 1)) {
      // groupAssignments guarantees a whole-column assignment is alone
      toCol(as.head._2)
    } else {
      as.foldLeft(base) { case (acc, (path, v)) =>
        val ft = fieldTypeOf(dt, path.tail).getOrElse(refuse(
          s"$what: ${path.mkString(".")} does not name a struct field " +
            s"inside $top (type ${dt.simpleString})"))
        acc.withField(path.tail.mkString("."), toCol(v).cast(ft))
      }
    }

  private def requireOnly(e: Expression, allowed: AttributeSet,
      what: String): Unit = {
    // subqueries resolve against the STATEMENT's plan; the verbs re-bind
    // expressions against their own head read, where a subplan's
    // attributes would dangle — refuse at planning, never mis-bind
    // (code review r15)
    if (e.exists(_.isInstanceOf[
        org.apache.spark.sql.catalyst.expressions.SubqueryExpression]))
      refuse(s"$what contains a subquery — materialize it into the " +
        "source/table first")
    if (!e.references.subsetOf(allowed))
      refuse(s"$what expression $e references columns outside the " +
        "statement's scope")
  }

  /** Re-resolvable copy of a statement expression: attribute references
    * become unresolved single-part names, so the Column re-binds against
    * the library verb's own head read. */
  private def unresolve(e: Expression): Expression = e.transform {
    case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
  }

  /** Same, for MERGE's two-sided expressions: target attrs re-bind under
    * the `__t` alias (the head snapshot), source attrs under `__s` —
    * exact even when both sides share column names. */
  private def unresolveSided(e: Expression, tSet: AttributeSet,
      sSet: AttributeSet): Expression = e.transform {
    case a: AttributeReference if tSet.contains(a) =>
      UnresolvedAttribute(Seq("__t", a.name))
    case a: AttributeReference if sSet.contains(a) =>
      UnresolvedAttribute(Seq("__s", a.name))
    case a: AttributeReference =>
      refuse(s"MERGE expression references $a, which is neither the " +
        "target nor the source")
  }

  /** True when two evaluations of the source subtree provably return the
    * same rows: every expression is deterministic and no order-unstable
    * operator (a LIMIT with no ORDER BY beneath it, a SAMPLE) appears —
    * the test deciding whether a multi-scan MERGE source must pin
    * (ADVICE r17). Conservative in the safe direction: an unstable shape
    * reads as non-deterministic and pins. */
  private def sourceDeterministic(p: LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, Sample, Sort}
    p.collectFirst {
      case n if n.expressions.exists(!_.deterministic) => n
      case l: GlobalLimit if l.collectFirst { case _: Sort => () }.isEmpty => l
      case sm: Sample => sm
    }.isEmpty
  }

  /** The MERGE body (exec time): build ONE changeset in the
    * [[CommitLog.mergeOn]] vocabulary — updates/inserts as full target
    * rows, deletes as flagged key tuples — then commit through the verb. */
  private def runMerge(root: String, source: LogicalPlan,
      keyPairs: Seq[(AttributeReference, Expression)],
      tSet: AttributeSet, sSet: AttributeSet,
      matched: Seq[(Option[Expression], Option[Seq[(Seq[String], Expression)]])],
      notMatched: Seq[(Option[Expression], Seq[(String, Expression)])],
      bySource: Seq[(Option[Expression], Option[Seq[(Seq[String], Expression)]])],
      pendingEvolution: Seq[StructField] = Nil)
      : Unit = {
    val spark = SparkSession.active
    // each source row carries a synthetic identity (ADVICE r15): the
    // matched-DELETE cardinality check below counts DISTINCT source rows
    // touching one target key, so two source rows deleting the same key
    // violate (the SQL/Delta rule) while one source row deleting a
    // stored-DUPLICATE key — several identical joined rows, one source
    // identity — stays legal (deleting a duplicated key is deleting it).
    // The id is non-deterministic per EVALUATION, and the changeset's
    // union re-evaluates the source subtree once PER PIECE — so the ids
    // are pinned HERE, on one materialization of the source, before any
    // piece is built (r16 code review: branch-local ids could differ for
    // one source row across two DELETE clauses, spuriously tripping — or
    // silently passing — the cardinality check). The source is
    // changeset-sized; the pin is released in the finally below.
    // The ids' ONLY consumer is that matched-DELETE check (ADVICE r16):
    // a merge with no matched DELETE clause keeps a typed-NULL id — so a
    // pure single-clause merge pays nothing for a rule it cannot trip.
    // The PIN itself is decided separately (ADVICE r17): the changeset
    // union scans the source subtree once per clause FAMILY (matched
    // inner join, insert anti-join, by-source anti-join), so a source
    // that is non-deterministic (rand(), LIMIT without ORDER BY,
    // sampling) — or ANY source scanned by more than one family, whose
    // backing files could change between scans — must evaluate exactly
    // once or a row could both update and insert, or silently vanish.
    // Only a single-scan deterministic source keeps the lazy plan (the
    // union and the verb each pin their own changeset-sized checkpoint
    // downstream).
    val srcIdCol = "__graft_src_id"
    val hasMatchedDelete = matched.exists(_._2.isEmpty)
    val scanFamilies = Seq(matched, notMatched, bySource).count(_.nonEmpty)
    val mustPin = hasMatchedDelete || scanFamilies > 1 ||
      !sourceDeterministic(source)
    val srcIded =
      if (hasMatchedDelete)
        GraftBridge.ofRows(spark, source)
          .withColumn(srcIdCol, monotonically_increasing_id())
      else GraftBridge.ofRows(spark, source)
        .withColumn(srcIdCol, lit(null).cast("long"))
    val srcPinned = if (mustPin) srcIded.localCheckpoint(true) else srcIded
    try {
    val srcDF = srcPinned.alias("__s")
    val headOpt = CommitLog.readLatest(spark, root)
    // MERGE into an EMPTY table with only matched / by-source clauses is
    // a valid SQL no-op (nothing can match, nothing is stored) — return,
    // don't refuse (code review r14 close)
    if (headOpt.isEmpty && notMatched.isEmpty) return
    // a STAGED evolution (r16) widens the statement's target schema; the
    // verb folds it into the one merge commit. Columns a concurrent
    // commit already landed drop out of the fold here and in the verb.
    val pendingEff = headOpt match {
      case Some(h) => pendingEvolution.filterNot(f =>
        h.schema.fieldNames.exists(_.equalsIgnoreCase(f.name)))
      case None => Nil
    }
    val headFields: Seq[StructField] = headOpt match {
      case Some(h) => h.schema.fields.toSeq ++ pendingEff
      case None =>
        // MERGE into an empty table: only insert clauses can produce
        // rows; their assignment targets define the created schema's
        // names, and the analyzer has coerced the values to the table's
        // declared types already
        notMatched.head._2.map { case (n, v) => StructField(n, v.dataType) }
    }
    def tCol(name: String): Column =
      GraftBridge.columnOf(UnresolvedAttribute(Seq("__t", name)))
    def sided(e: Expression): Column =
      GraftBridge.columnOf(unresolveSided(e, tSet, sSet))
    // FIRST-MATCH-WINS effective condition for clause i: its own
    // condition is TRUE and every earlier clause's is NOT TRUE (false or
    // NULL — the SQL rule); an unconditional clause is lit(true), which
    // makes later clauses dead by construction
    def effConds(conds: Seq[Option[Expression]]): Seq[Column] = {
      val fires = conds.map(c =>
        c.map(e => org.apache.spark.sql.functions.coalesce(
          sided(e), lit(false))).getOrElse(lit(true)))
      fires.zipWithIndex.map { case (f, i) =>
        fires.take(i).foldLeft(f)((acc, prior) => acc && !prior) }
    }
    val delCol = "__graft_del"
    val keyCols = keyPairs.map(_._1.name)
    val joinCond = keyPairs.map { case (k, se) => sided(EqualTo(k, se)) }
      .reduce(_ && _)

    /** Full-row changeset piece for an UPDATE-shaped clause over `rows`:
      * assigned columns take their (possibly withField-folded) new
      * values, everything else carries the stored value. */
    def updatePiece(rows: DataFrame, assigns: Seq[(Seq[String], Expression)],
        eff: Column): DataFrame = {
      val byTop = assigns.groupBy(_._1.head.toLowerCase)
      rows.filter(eff).select(headFields.map { f =>
        byTop.get(f.name.toLowerCase) match {
          case Some(as) =>
            assembleColumn(f.name, f.dataType, as, tCol(f.name), sided,
              "MERGE UPDATE").cast(f.dataType).as(f.name)
          case None => tCol(f.name).as(f.name)
        }
      } :+ lit(false).as(delCol): _*)
    }
    /** Key-tuple delete piece for ONE clause: only the key columns
      * matter. De-duplication happens ONCE across ALL delete clauses
      * (matched and by-source) after the union — per-clause distinct
      * would leave a key firing two different DELETE clauses duplicated,
      * and the verb's mixed/dup rule would refuse a legal all-delete
      * statement (code review r15). `srcId` (ADVICE r15) carries the
      * source row's synthetic identity for the cardinality check —
      * matched deletes pass the joined source id, by-source deletes
      * (touched by NO source row by definition) pass NULL (exempt). */
    def deletePiece(rows: DataFrame, eff: Column,
        srcId: Column): DataFrame =
      rows.filter(eff).select(headFields.map { f =>
        if (keyCols.contains(f.name)) tCol(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      } :+ lit(true).as(delCol) :+ srcId.cast("long").as(srcIdCol): _*)

    val updatePieces = Vector.newBuilder[DataFrame] // matched UPDATEs
    val deletePieces = Vector.newBuilder[DataFrame] // matched + by-source
    val otherPieces = Vector.newBuilder[DataFrame]  // inserts, by-source upd
    headOpt match {
      case Some(head) =>
        // pending columns read as typed NULL on the target side — the
        // stored rows hold no value for them (the evolve-append rule)
        val tA = pendingEff.foldLeft(head)((df, f) =>
          df.withColumn(f.name, lit(null).cast(f.dataType))).alias("__t")
        // one inner join feeds every matched clause; each clause keeps
        // the rows its effective condition fires for — a matched row no
        // clause fires for is ABSENT from the changeset, so the verb
        // leaves its key untouched (exactly the SQL semantics)
        if (matched.nonEmpty) {
          val joined = tA.join(srcDF, joinCond, "inner")
          matched.zip(effConds(matched.map(_._1))).foreach {
            case ((_, Some(assigns)), eff) =>
              updatePieces += updatePiece(joined, assigns, eff)
            case ((_, None), eff) =>
              deletePieces += deletePiece(joined, eff,
                col(s"__s.$srcIdCol"))
          }
        }
        // NOT MATCHED BY SOURCE (r15): head rows whose key tuple no
        // source row equi-matches — ONE anti-join feeds the clause list.
        // Conditions/assignments are target-only (checked at planning),
        // so every expression resolves on the anti side alone. A
        // by-source UPDATE duplicates a key only for stored-duplicate
        // rows, where its target-only assignments produce identical
        // updated rows — the multi-insert replace puts the duplicates
        // back themselves-updated, count preserved (the SQL semantics).
        if (bySource.nonEmpty) {
          val anti = tA.join(srcDF, joinCond, "left_anti")
          bySource.zip(effConds(bySource.map(_._1))).foreach {
            case ((_, Some(assigns)), eff) =>
              otherPieces += updatePiece(anti, assigns, eff)
            case ((_, None), eff) =>
              deletePieces += deletePiece(anti, eff, lit(null))
          }
        }
        if (notMatched.nonEmpty) {
          val anti = srcDF.join(tA, joinCond, "left_anti")
          notMatched.zip(effConds(notMatched.map(_._1))).foreach {
            case ((_, assigns), eff) =>
              val am = assigns.toMap
              otherPieces += anti.filter(eff)
                .select(headFields.map { f =>
                  val v = am.getOrElse(f.name, refuse(
                    s"MERGE INSERT must assign every column; '${f.name}' " +
                      "is missing"))
                  sided(v).cast(f.dataType).as(f.name)
                } :+ lit(false).as(delCol): _*)
          }
        }
      case None =>
        notMatched.zip(effConds(notMatched.map(_._1))).foreach {
          case ((_, assigns), eff) =>
            val am = assigns.toMap
            otherPieces += srcDF.filter(eff).select(headFields.map { f =>
              val v = am.getOrElse(f.name, refuse(
                s"MERGE INSERT must assign every column; '${f.name}' " +
                  "is missing"))
              sided(v).cast(f.dataType).as(f.name)
            } :+ lit(false).as(delCol): _*)
        }
    }
    // assemble ONE changeset, clause-tagged and checkpoint-PINNED before
    // any validation (code review r15: the cardinality check must read
    // the same materialized rows the verb commits — a non-deterministic
    // source could otherwise pass the check yet stage duplicate matched
    // updates, which the multi-insert opt-in would then accept
    // silently). Deletes de-dup ONCE across clauses: deleting a key
    // twice — even through two different DELETE clauses — is deleting it.
    val marker = "__graft_clause"
    val uParts = updatePieces.result().map(_.withColumn(marker, lit("mu"))
      .withColumn(srcIdCol, lit(null).cast("long")))
    // delete pieces stay RAW here (pre-distinct, source ids attached):
    // the cardinality check below must see every source row that fired a
    // DELETE; the de-dup to the verb's one-row-per-key shape happens on
    // the pinned changeset after the check (ADVICE r15)
    val dParts = {
      val ps = deletePieces.result()
      if (ps.isEmpty) Nil
      else Seq(ps.reduce(_.unionByName(_)).withColumn(marker, lit("del")))
    }
    val oParts = otherPieces.result().map(_.withColumn(marker, lit("other"))
      .withColumn(srcIdCol, lit(null).cast("long")))
    val parts = uParts ++ dParts ++ oParts
    if (parts.isEmpty) return // defensive: no clause produced a piece
    val all = parts.reduce(_.unionByName(_)).localCheckpoint(true)
    try {
      // SQL MERGE cardinality (r15 — the check the verb's multi-insert
      // opt-in no longer implies): a target key taking a matched UPDATE
      // more than once — duplicate source keys matching one stored row,
      // or a stored-duplicate key — fails loudly, the standard
      // MERGE_CARDINALITY_VIOLATION. Inserts and by-source updates are
      // exempt (the SQL multi-insert / stored-duplicate semantics); a
      // key splitting across an UPDATE and a DELETE is refused by the
      // verb's mixed-flag rule. Reads the pinned blocks — one tiny agg,
      // no re-execution of the join.
      if (uParts.nonEmpty) {
        val dup = all.filter(col(marker) === "mu")
          .groupBy(keyCols.map(col): _*)
          .agg(count(lit(1)).as("__n")).filter(col("__n") > 1)
          .limit(1).collect()
        if (dup.nonEmpty) throw new IllegalArgumentException(
          "graft.commitlog MERGE cardinality violation: target key " +
            keyCols.zipWithIndex.map { case (k, i) => s"$k=${dup.head.get(i)}" }
              .mkString("(", ", ", ")") +
            " takes a matched UPDATE more than once (duplicate source keys," +
            " or a stored-duplicate target key) — de-duplicate the source" +
            " or pre-aggregate (q_upsert_latest)")
      }
      // matched-DELETE cardinality (ADVICE r15 — the SQL/Delta rule the
      // update check alone left open): a target key DELETEd by more than
      // one DISTINCT source row violates. count_distinct ignores NULL
      // ids, so by-source deletes (no source row) and a stored-duplicate
      // key deleted by ONE source row (several joined rows, one id) both
      // stay legal — deleting a duplicated key is deleting it.
      if (dParts.nonEmpty) {
        val dup = all.filter(col(marker) === "del")
          .groupBy(keyCols.map(col): _*)
          .agg(count_distinct(col(srcIdCol)).as("__n"))
          .filter(col("__n") > 1).limit(1).collect()
        if (dup.nonEmpty) throw new IllegalArgumentException(
          "graft.commitlog MERGE cardinality violation: target key " +
            keyCols.zipWithIndex.map { case (k, i) => s"$k=${dup.head.get(i)}" }
              .mkString("(", ", ", ")") +
            " is DELETEd by more than one source row — de-duplicate the" +
            " source (each target row may be touched by at most one" +
            " source row)")
      }
      // the verb's changeset: deletes de-dup to one row per key ACROSS
      // clauses (reading the pinned blocks, post-check); everything else
      // passes through as built
      val deletes = all.filter(col(marker) === "del")
        .drop(marker, srcIdCol).distinct()
      val rest = all.filter(col(marker) =!= "del").drop(marker, srcIdCol)
      CommitLog.mergeOn(spark, root, "catalog", keyCols,
        rest.unionByName(deletes),
        deleteCol = Some(delCol), multiInsertKeys = true,
        evolveTo = pendingEff)
      // the staged widening is folded and committed: consume it so a
      // later statement on this table starts from the committed schema
      if (pendingEff.nonEmpty)
        graft.sources.GraftCatalog.pendingEvolve.remove(root)
    } finally all.unpersist()
    } finally srcPinned.unpersist()
    ()
  }
}

/** Eagerly-executed command node (the V2CommandExec shape): `run` fires
  * once, whichever action touches the plan first; the statement returns
  * no rows. */
private[graft] case class GraftRowLevelExec(name: String, run: () => Unit)
    extends LeafExecNode {
  override def output: Seq[Attribute] = Nil
  private lazy val result: Array[InternalRow] = { run(); Array.empty }
  override def executeCollect(): Array[InternalRow] = result
  override protected def doExecute(): RDD[InternalRow] = {
    result; sparkContext.emptyRDD
  }
  override def simpleString(maxFields: Int): String = name
}
