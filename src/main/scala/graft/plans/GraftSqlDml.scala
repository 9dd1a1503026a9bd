package graft.plans

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, EqualTo, Expression}
import org.apache.spark.sql.catalyst.parser.{ParserInterface, ParseException}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{DataType, LongType, StructType}

import graft.cdc.{CdcEnvelope, CdcPipeline, MergeInto}

/** Statement-level SQL DML on the versioned store (SURVEY.md §2 A69,
  * r9 verdict #2) — the syntax the reference's users actually write
  * (its pipeline IS a MERGE statement, merge.sql:403–436):
  *
  *   MERGE INTO graft.`/path` AS t USING (SELECT …) AS s
  *     ON t.id = s.id
  *     WHEN MATCHED AND s.__op = 'd' THEN DELETE
  *     WHEN MATCHED THEN UPDATE SET *            -- or SET col = expr
  *     WHEN NOT MATCHED THEN INSERT *            -- or (cols) VALUES (…)
  *   UPDATE graft.`/path` SET col = expr WHERE pred
  *   DELETE FROM graft.`/path` WHERE pred
  *
  * Design: Spark's own parser already has the full ANSI MERGE/UPDATE/
  * DELETE grammar — it parses them into `MergeIntoTable` /
  * `UpdateTable` / `DeleteFromTable`, which then fail analysis unless
  * the target is a DSv2 row-level-ops table. [[GraftSqlParser]]
  * therefore delegates ALL parsing to the session parser and only
  * REWRITES the parsed plan when the target relation is the 2-part
  * identifier `graft.{path}` (Delta's `delta.{path}` convention): the
  * statement becomes a `LeafRunnableCommand` executing the SAME Scala
  * ops as the procedure TVFs (A38 MergeInto / A41 update/delete —
  * one write path, two syntaxes). Commands execute eagerly on
  * `spark.sql(…)` like every Spark command — unlike the analysis-time
  * TVFs, an EXPLAIN does NOT perform the mutation.
  *
  * The PK comes from the store's `_PK` sidecar
  * ([[CdcPipeline.pkColumns]]); a MERGE's ON clause is validated
  * against it (the bucket layout is pk-hash, so merging on anything
  * else would be wrong, not just slow).
  *
  * Scale: identical to the TVF path — touched buckets from source
  * keys, delta-sized subset read, one-join-one-projection MergeInto
  * plan, `CdcPipeline.rewriteBuckets` carrying untouched buckets by
  * reference.
  */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {
  override def parsePlan(sqlText: String): LogicalPlan =
    // Maintenance verbs (OPTIMIZE/VACUUM/DESCRIBE HISTORY/RESTORE)
    // are NOT in the delegate's grammar — front-parse them (A92);
    // everything else delegates and rewrites as before.
    GraftSqlMaintenance.parse(sqlText).getOrElse(
      GraftSqlDml.rewrite(delegate.parsePlan(sqlText)))
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
}

object GraftSqlDml {

  /** Opaque payload holders. A command's `Expression`-typed
    * constructor fields are traversed by the analyzer (QueryPlan
    * collects them), and CheckAnalysis would then reject the still-
    * unresolved attribute references — these commands resolve their
    * expressions THEMSELVES at run time, against the store snapshot /
    * the MergeInto join, so the parsed trees ride along in wrappers
    * the analyzer does not recurse into.
    */
  final class ExprHolder(val exprs: Seq[Expression]) extends Serializable {
    override def toString: String = exprs.mkString(", ")
  }
  final class ActionsHolder(val actions: Seq[MergeAction]) extends Serializable {
    override def toString: String = actions.mkString("; ")
  }
  final class AssignsHolder(val assigns: Seq[Assignment]) extends Serializable {
    override def toString: String = assigns.mkString(", ")
  }
  /** The MERGE source plan, likewise analyzer-opaque (analysis runs
    * in [[GraftBridge.dataFrame]] at execution).
    */
  final class PlanHolder(val plan: LogicalPlan) extends Serializable {
    override def toString: String = plan.nodeName
  }

  /** (store path, alias) when `plan` is a graft.{path} target. */
  private def graftTarget(plan: LogicalPlan): Option[(String, Option[String])] =
    plan match {
      case SubqueryAlias(id, child) =>
        graftTarget(child).map { case (p, _) => (p, Some(id.name)) }
      case u: UnresolvedRelation
          if u.multipartIdentifier.length == 2 &&
            u.multipartIdentifier.head.equalsIgnoreCase("graft") =>
        Some((u.multipartIdentifier(1), None))
      case _ => None
    }

  /** Alias of a parsed source relation/subquery, if any. */
  private def aliasOf(plan: LogicalPlan): Option[String] = plan match {
    case SubqueryAlias(id, _) => Some(id.name)
    case _ => None
  }

  def rewrite(plan: LogicalPlan): LogicalPlan = plan match {
    // EXPLAIN <dml>: rewrite the child so the plan renders (and, the
    // command being lazy, the mutation does NOT run — the TVF
    // surface's documented EXPLAIN caveat does not apply here)
    case e: org.apache.spark.sql.execution.command.ExplainCommand =>
      e.copy(logicalPlan = rewrite(e.logicalPlan))
    case d: DeleteFromTable =>
      graftTarget(d.table).map { case (path, alias) =>
        GraftDeleteCommand(path, alias,
          new ExprHolder(Option(d.condition).toSeq)): LogicalPlan
      }.getOrElse(plan)
    case u: UpdateTable =>
      graftTarget(u.table).map { case (path, alias) =>
        GraftUpdateCommand(path, alias, new AssignsHolder(u.assignments),
          new ExprHolder(u.condition.toSeq)): LogicalPlan
      }.getOrElse(plan)
    case m: MergeIntoTable =>
      graftTarget(m.targetTable).map { case (path, alias) =>
        GraftMergeCommand(path, alias, aliasOf(m.sourceTable),
          new PlanHolder(rewriteRelations(m.sourceTable)),
          new ExprHolder(Seq(m.mergeCondition)),
          new ActionsHolder(m.matchedActions),
          new ActionsHolder(m.notMatchedActions),
          m.withSchemaEvolution,
          new ActionsHolder(m.notMatchedBySourceActions)): LogicalPlan
      }.getOrElse(plan)
    case i: InsertIntoStatement =>
      graftTarget(i.table).map { case (path, _) =>
        require(i.partitionSpec.isEmpty,
          "INSERT INTO graft.{path}: PARTITION spec is not supported — " +
            "the store's layout is pk-hash buckets, not directory partitions")
        GraftInsertCommand(path, i.overwrite, i.userSpecifiedCols, i.byName,
          new PlanHolder(rewriteRelations(i.query))): LogicalPlan
      }.getOrElse(plan)
    case other =>
      // DDL verbs (CREATE/DROP TABLE, ALTER TABLE …) route through
      // the A91 DDL rewrite; everything else gets the relation
      // rewrite (graft.{path} as a plain readable table)
      GraftSqlDdl.rewrite(other).getOrElse(rewriteRelations(other))
  }

  /** `graft.{path}` as a plain RELATION anywhere in a query — the
    * Delta `delta.{path}` read convention, without the
    * `graft_snapshot('…')` TVF ceremony — plus SQL time travel:
    * `SELECT … FROM graft.{path} VERSION AS OF 3` (A24) and
    * `… TIMESTAMP AS OF '2024-06-01'` (A67). Each occurrence
    * resolves at parse time to the same LogicalPlan the DataFrame
    * API produces (manifest pruning, DVs, virtual columns, defaults
    * all apply); `transformUpWithSubqueries` reaches relations
    * inside scalar/EXISTS subqueries too. Non-graft relations pass
    * through untouched.
    */
  private def rewriteRelations(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithSubqueries {
      case tt: org.apache.spark.sql.catalyst.analysis.RelationTimeTravel =>
        (tt.relation match {
          case u: UnresolvedRelation => graftTarget(u)
          case _ => None
        }).map { case (path, _) =>
          val spark = SparkSession.active
          val df = (tt.version, tt.timestamp) match {
            case (Some(v), _) =>
              CdcPipeline.readSnapshotAt(spark, path, v.toLong).getOrElse(
                throw new IllegalArgumentException(
                  s"no version $v at $path (vacuumed or never existed)"))
            case (_, Some(tsExpr)) =>
              val cast = org.apache.spark.sql.catalyst.expressions.Cast(
                tsExpr, org.apache.spark.sql.types.TimestampType,
                Option(spark.sessionState.conf.sessionLocalTimeZone))
              require(cast.foldable,
                s"TIMESTAMP AS OF must be a literal expression, got $tsExpr")
              val tsUs = cast.eval().asInstanceOf[Long]
              CdcPipeline.readSnapshotAsOfTime(spark, path, tsUs).getOrElse(
                throw new IllegalArgumentException(
                  s"no commit at or before timestamp $tsExpr at $path"))
            case _ => throw new IllegalArgumentException(
              "time travel needs VERSION AS OF or TIMESTAMP AS OF")
          }
          df.queryExecution.logical
        }.getOrElse(tt)
      case u: UnresolvedRelation =>
        graftTarget(u).map { case (path, _) =>
          CdcPipeline.readSnapshot(SparkSession.active, path).getOrElse(
            throw new IllegalArgumentException(s"no graft store at $path"))
            .queryExecution.logical
        }.getOrElse(u)
    }

  // ---- shared pieces ----

  private[plans] def pkOf(path: String): Seq[String] =
    CdcPipeline.pkColumns(path).getOrElse(throw new IllegalArgumentException(
      s"no PK sidecar at $path — the store predates the _PK record " +
        "(any publish heals it) or does not exist; use the graft_* " +
        "procedure TVFs, which take an explicit pk list"))

  /** Strip the target alias/`graft` qualifier from attribute
    * references so the predicate resolves against the bare snapshot
    * DataFrame (`t.id` → `id` when the statement aliased the target
    * as `t`).
    */
  private[plans] def dequalify(e: Expression, alias: Option[String]): Expression = {
    val quals = (alias.toSeq :+ "graft").map(_.toLowerCase).toSet
    e.transform {
      case a: UnresolvedAttribute if a.nameParts.length > 1 &&
          quals.contains(a.nameParts.head.toLowerCase) =>
        UnresolvedAttribute(a.nameParts.tail)
    }
  }

  private[plans] def toCol(e: Expression): Column = GraftBridge.column(e)

  private def longAttr(n: String) =
    AttributeReference(n, LongType, nullable = false)()

  private def assignName(key: Expression): String = key match {
    case a: UnresolvedAttribute => a.nameParts.last
    case other => throw new IllegalArgumentException(
      s"SET target must be a column name, got $other")
  }

  /** DELETE FROM graft.{path} [alias] WHERE pred → A41 copy-on-write
    * predicate delete; returns (version, deleted_rows).
    */
  final case class GraftDeleteCommand(path: String, alias: Option[String],
      condition: ExprHolder) extends LeafRunnableCommand {
    override val output: Seq[Attribute] =
      Seq(longAttr("version"), longAttr("deleted_rows"))
    override def run(spark: SparkSession): Seq[Row] = {
      val pred = condition.exprs.headOption
        .map(c => toCol(dequalify(c, alias))).getOrElse(lit(true))
      val (v, n) = CdcPipeline.deleteWhere(spark, path, pkOf(path), pred)
        .getOrElse(throw new IllegalArgumentException(s"no graft store at $path"))
      Seq(Row(v, n))
    }
  }

  /** UPDATE graft.{path} [alias] SET … WHERE pred → A41 predicate
    * update; returns (version, updated_rows).
    */
  final case class GraftUpdateCommand(path: String, alias: Option[String],
      assignments: AssignsHolder, condition: ExprHolder)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] =
      Seq(longAttr("version"), longAttr("updated_rows"))
    override def run(spark: SparkSession): Seq[Row] = {
      val pred = condition.exprs.headOption
        .map(c => toCol(dequalify(c, alias))).getOrElse(lit(true))
      val set = assignments.assigns.map { a =>
        assignName(a.key) -> toCol(dequalify(a.value, alias))
      }.toMap
      val (v, n) = CdcPipeline.updateWhere(spark, path, pkOf(path), pred, set)
        .getOrElse(throw new IllegalArgumentException(s"no graft store at $path"))
      Seq(Row(v, n))
    }
  }

  /** INSERT INTO / INSERT OVERWRITE graft.{path} — the remaining
    * classic DML verb. `INSERT INTO` is an insert-ONLY merge with
    * ANSI PK semantics: a source key already present in the store is
    * a duplicate-key ERROR (the store is PK-addressed — silently
    * upserting would make INSERT an alias for MERGE, and appending a
    * second row per key would corrupt the layout's
    * one-row-per-key invariant); cost is the usual touched-bucket
    * delta publish. `INSERT OVERWRITE` replaces the snapshot
    * entirely (Delta's table-overwrite semantics) as one full
    * publish; the table's CHECK constraints, generated columns and
    * properties stay declared (the new rows are checked first). A
    * column list (`INSERT INTO t (a, b)`) maps the query
    * positionally onto those columns, absent target columns take
    * NULL; `BY NAME` maps by name. Everything casts to the stored
    * column types. Returns (version, inserted_rows).
    */
  final case class GraftInsertCommand(path: String, overwrite: Boolean,
      cols: Seq[String], byName: Boolean, query: PlanHolder)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] =
      Seq(longAttr("version"), longAttr("inserted_rows"))

    override def run(spark: SparkSession): Seq[Row] = {
      import org.apache.spark.sql.functions.{col, lit}
      val pk = pkOf(path)
      val m = CdcPipeline.currentManifest(path).getOrElse(
        throw new IllegalArgumentException(s"no graft store at $path"))
      val stored = m.schema.fields.map(f => f.name -> f.dataType).toMap
      val tgtCols = m.schema.fieldNames.toSeq
      val q0 = GraftBridge.dataFrame(spark, query.plan)
      def fill(named: DataFrame): DataFrame = {
        val have = named.columns.toSet
        val missingPk = pk.filterNot(have.contains)
        require(missingPk.isEmpty,
          s"INSERT must supply the PK columns; missing: ${missingPk.mkString(",")}")
        named.select(tgtCols.map(c =>
          (if (have.contains(c)) col(c) else lit(null)).cast(stored(c)).as(c)): _*)
      }
      val source =
        if (cols.nonEmpty) {
          require(cols.length == q0.columns.length,
            s"INSERT column list has ${cols.length} columns, query produces ${q0.columns.length}")
          val unknown = cols.filterNot(tgtCols.contains)
          require(unknown.isEmpty, s"unknown INSERT columns: ${unknown.mkString(",")}")
          fill(q0.toDF(cols: _*))
        } else if (byName) fill(q0)
        else {
          require(q0.columns.length == tgtCols.length,
            s"INSERT query produces ${q0.columns.length} columns, table has ${tgtCols.length} " +
              "(use a column list or BY NAME for partial inserts)")
          fill(q0.toDF(tgtCols: _*))
        }
      CdcPipeline.enforceConstraints(m, source, path)
      if (overwrite) {
        val n = source.count()
        val v = CdcPipeline.publish(source, path, pk, op = "sql-insert-overwrite")
        Seq(Row(v, n))
      } else {
        // a key the query repeats is refused like one the store holds
        val batch = CdcPipeline.keyedBatch(source, pk, m.numBuckets, s"INSERT INTO $path source")
        val v =
          if (batch.buckets.isEmpty) m.readVersion
          else CdcPipeline.rewriteBuckets(spark, path, pk, m, batch.buckets, "sql-insert",
              deltaRows = Some(batch.rows)) { subset =>
            val dup = subset.join(
              org.apache.spark.sql.functions.broadcast(
                source.select(pk.map(col): _*)), pk, "left_semi")
              .limit(1).collect()
            require(dup.isEmpty,
              s"INSERT INTO $path: duplicate key " +
                s"(${pk.mkString(",")}) = (${dup.headOption.map(_.toSeq.mkString(",")).getOrElse("")}) " +
                "already exists — use MERGE INTO to upsert")
            CdcPipeline.KeyedDelta.Inserts(source)
          }.version
        Seq(Row(v, batch.rows))
      }
    }
  }

  /** MERGE INTO graft.{path} — executes through the A38 [[MergeInto]]
    * builder with the statement's clauses in ANSI order, then
    * `CdcPipeline.rewriteBuckets` (touched buckets only). Returns
    * (version, source_rows), matching the graft_merge TVF.
    */
  final case class GraftMergeCommand(path: String, targetAlias: Option[String],
      sourceAlias: Option[String], sourcePlan: PlanHolder,
      mergeCondition: ExprHolder, matchedActions: ActionsHolder,
      notMatchedActions: ActionsHolder,
      withSchemaEvolution: Boolean = false,
      bySourceActions: ActionsHolder = new ActionsHolder(Seq.empty))
    extends LeafRunnableCommand {
    override val output: Seq[Attribute] =
      Seq(longAttr("version"), longAttr("source_rows"))

    /** ON-clause equality columns: every conjunct must be
      * `a.col = b.col` with the same column name on both sides (the
      * pk-hash layout admits nothing else).
      */
    private def onColumns(e: Expression): Seq[String] = e match {
      case And(l, r) => onColumns(l) ++ onColumns(r)
      case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute)
          if a.nameParts.last.equalsIgnoreCase(b.nameParts.last) =>
        Seq(a.nameParts.last)
      case other => throw new IllegalArgumentException(
        "MERGE INTO graft.{path} ON must be a conjunction of " +
          s"t.col = s.col equalities on the PK, got: $other")
    }

    /** Rewrite a clause expression onto the MergeInto join's prefixed
      * columns: `t.c` → tgt(c), `s.c` → src(c); an unqualified name
      * resolves to the source when ONLY the source has it, to the
      * target when only the target has it, and is REFUSED when both
      * sides carry it — Spark/Delta raise an ambiguous-reference
      * error there, so silently preferring one side would let the
      * same statement return different results on this engine with
      * no diagnostic (`UPDATE SET v = v + 1` reading the source's v).
      */
    private def sideRewrite(e: Expression, srcCols: Set[String],
        tgtCols: Set[String]): Column =
      toCol(e.transform {
        case a: UnresolvedAttribute =>
          val parts = a.nameParts
          val (side, name) =
            if (parts.length >= 2 &&
                targetAlias.exists(_.equalsIgnoreCase(parts.head)))
              ("t", parts.last)
            else if (parts.length >= 2 &&
                sourceAlias.exists(_.equalsIgnoreCase(parts.head)))
              ("s", parts.last)
            else if (parts.length == 1) {
              val lc = parts.head.toLowerCase
              val inSrc = srcCols.exists(_.equalsIgnoreCase(lc))
              val inTgt = tgtCols.exists(_.equalsIgnoreCase(lc))
              if (inSrc && inTgt) throw new IllegalArgumentException(
                s"MERGE clause reference `${parts.head}` is ambiguous: " +
                  "both the target and the source carry it — qualify " +
                  s"with the target alias (${targetAlias.getOrElse("t")}.) " +
                  s"or the source alias (${sourceAlias.getOrElse("s")}.)")
              (if (inSrc) "s" else "t", parts.head)
            } else throw new IllegalArgumentException(
              s"MERGE clause reference $a matches neither the target " +
                s"alias $targetAlias nor the source alias $sourceAlias")
          val prefixed =
            if (side == "t") MergeInto.tgt(name) else MergeInto.src(name)
          GraftBridge.expression(prefixed)
      })

    override def run(spark: SparkSession): Seq[Row] = {
      val pk = pkOf(path)
      val onCols = onColumns(mergeCondition.exprs.head)
      require(onCols.map(_.toLowerCase).toSet == pk.map(_.toLowerCase).toSet,
        s"MERGE ON columns (${onCols.mkString(", ")}) must equal the " +
          s"store PK (${pk.mkString(", ")}) at $path — the bucket " +
          "layout is pk-hash-addressed")
      val m = CdcPipeline.currentManifest(path).getOrElse(
        throw new IllegalArgumentException(s"no graft store at $path"))
      val source = GraftBridge.dataFrame(spark, sourcePlan.plan)
      val srcCols = source.columns.toSet
      val srcRows = source.count()
      // WHEN NOT MATCHED BY SOURCE has WHOLE-TABLE scope: every
      // target row must meet the join to know it was NOT matched, so
      // touched-bucket pruning (valid for the matched/insert families,
      // whose effects land only in source-keyed buckets) would
      // silently skip rows the clause must see — widen to all buckets.
      val bySrc = bySourceActions.actions.nonEmpty
      val srcBuckets = CdcPipeline.bucketSet(source, CdcPipeline.bucketExpr(pk, m.numBuckets))
      // By-source merges widen to manifest ∪ source buckets, not the
      // manifest alone: into an EMPTY store (zero manifest buckets —
      // right after TRUNCATE or a full-sync that deleted every row)
      // the manifest set is empty, and gating on it would silently
      // drop the WHEN NOT MATCHED inserts while reporting success.
      val touched =
        if (bySrc) m.buckets.keySet.toSet ++ srcBuckets
        else srcBuckets
      val v =
        if (touched.isEmpty) m.readVersion
        else CdcPipeline.rewriteBuckets(spark, path, pk, m, touched, "sql-merge") { subset0 =>
          // MERGE WITH SCHEMA EVOLUTION (Delta's surface): source
          // columns the target lacks are ADDED — the subset widens
          // with NULL-typed columns before the merge, so UPDATE SET */
          // INSERT * carry them, and the write commits the widened
          // schema (carried buckets read the new columns as NULL —
          // the A19/A57 additive-evolution machinery). Without the
          // flag, unknown source columns are simply ignored (the
          // clause maps are target-column-driven).
          val subset = if (!withSchemaEvolution) subset0 else {
            val have = subset0.columns.map(_.toLowerCase).toSet
            source.schema.fields
              .filterNot(f => have.contains(f.name.toLowerCase) ||
                f.name == CdcEnvelope.OpCol)
              .foldLeft(subset0)((d, f) =>
                d.withColumn(f.name, org.apache.spark.sql.functions
                  .lit(null).cast(f.dataType)))
          }
          val mi = clauses(MergeInto(subset, source, pk).sourceRows(srcRows),
            srcCols, subset.columns.toSet)
          val merged = mi.run()
          // A71 induction: CHECK constraints gate the rewritten
          // subset (arbitrary SET expressions can violate them even
          // when every source row is clean)
          CdcPipeline.enforceConstraints(m, merged, path)
          // arbitrary clauses (by-source ones included) yield the
          // touched buckets' whole content: rewritten copy-on-write
          CdcPipeline.KeyedDelta.Content(merged)
        }.version
      Seq(Row(v, srcRows))
    }

    /** Statement clauses → builder clauses, ANSI order preserved
      * (MergeInto applies first-match-wins in insertion order).
      */
    private def clauses(mi0: MergeInto, srcCols: Set[String],
        tgtCols: Set[String]): MergeInto = {
      def cond(c: Option[Expression]): Column =
        c.map(sideRewrite(_, srcCols, tgtCols)).getOrElse(lit(true))
      val withMatched = matchedActions.actions.foldLeft(mi0) {
        case (mi, a: UpdateAction) =>
          mi.whenMatchedUpdate(
            a.assignments.map(as =>
              assignName(as.key) -> sideRewrite(as.value, srcCols, tgtCols)).toMap,
            cond(a.condition))
        case (mi, a: UpdateStarAction) => mi.whenMatchedUpdateAll(cond(a.condition))
        case (mi, a: DeleteAction) => mi.whenMatchedDelete(cond(a.condition))
        case (_, other) => throw new IllegalArgumentException(
          s"unsupported WHEN MATCHED action: $other")
      }
      val withInserts = notMatchedActions.actions.foldLeft(withMatched) {
        case (mi, a: InsertAction) =>
          mi.whenNotMatchedInsert(
            a.assignments.map(as =>
              assignName(as.key) -> sideRewrite(as.value, srcCols, tgtCols)).toMap,
            cond(a.condition))
        case (mi, a: InsertStarAction) => mi.whenNotMatchedInsertAll(cond(a.condition))
        case (_, other) => throw new IllegalArgumentException(
          s"unsupported WHEN NOT MATCHED action: $other")
      }
      // by-source SET/condition expressions see the target side only
      // (the source side is all-NULL on those rows by construction)
      bySourceActions.actions.foldLeft(withInserts) {
        case (mi, a: UpdateAction) =>
          mi.whenNotMatchedBySourceUpdate(
            a.assignments.map(as =>
              assignName(as.key) -> sideRewrite(as.value, Set.empty, tgtCols)).toMap,
            a.condition.map(sideRewrite(_, Set.empty, tgtCols)).getOrElse(lit(true)))
        case (mi, a: DeleteAction) =>
          mi.whenNotMatchedBySourceDelete(
            a.condition.map(sideRewrite(_, Set.empty, tgtCols)).getOrElse(lit(true)))
        case (_, other) => throw new IllegalArgumentException(
          s"unsupported WHEN NOT MATCHED BY SOURCE action: $other")
      }
    }
  }
}
