package graft.plans

import org.apache.spark.sql.{GraftBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedFieldName, UnresolvedIdentifier, UnresolvedRelation, UnresolvedTable, UnresolvedTableOrView}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, CheckConstraint}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{BooleanType, LongType}

import graft.cdc.{CdcPipeline, StoreFs}
import GraftSqlDml.PlanHolder

/** Statement-level SQL DDL on the versioned store (A91, r10) — the
  * lifecycle verbs around [[GraftSqlDml]]'s DML:
  *
  *   CREATE TABLE graft.`/p` TBLPROPERTIES('pk'='id'[, 'buckets'='8'])
  *     AS SELECT …                         -- bootstrap (graft_create)
  *   DROP TABLE [IF EXISTS] graft.`/p`    -- delete the store
  *   ALTER TABLE graft.`/p` ADD COLUMN c BIGINT DEFAULT 7   -- A57
  *   ALTER TABLE graft.`/p` DROP COLUMN c                   -- A49
  *   ALTER TABLE graft.`/p` RENAME COLUMN a TO b            -- A49
  *   ALTER TABLE graft.`/p` SET TBLPROPERTIES(…) / UNSET    -- A77
  *   ALTER TABLE graft.`/p` ADD CONSTRAINT n CHECK (…)      -- A71
  *   ALTER TABLE graft.`/p` DROP CONSTRAINT n
  *
  * Same design as the DML path: Spark's parser produces the
  * catalyst DDL nodes; a graft-qualified target rewrites onto a lazy
  * command executing the existing Scala op — one implementation,
  * TVF + statement veneers. The CTAS PK comes from TBLPROPERTIES
  * ('pk'), mirroring how every lakehouse smuggles layout through
  * properties; it is then recorded in the `_PK` sidecar so DML
  * statements need no repeat.
  */
object GraftSqlDdl {

  /** Store path when `plan` names a graft.{path} table (DDL nodes
    * wrap the identifier in UnresolvedTable / UnresolvedIdentifier /
    * UnresolvedTableOrView depending on the verb).
    */
  private def tablePath(plan: LogicalPlan): Option[String] = plan match {
    case t: UnresolvedTable if isGraft(t.multipartIdentifier) =>
      Some(t.multipartIdentifier(1))
    case i: UnresolvedIdentifier if isGraft(i.nameParts) =>
      Some(i.nameParts(1))
    case tv: UnresolvedTableOrView if isGraft(tv.multipartIdentifier) =>
      Some(tv.multipartIdentifier(1))
    case r: UnresolvedRelation if isGraft(r.multipartIdentifier) =>
      Some(r.multipartIdentifier(1))
    case _ => None
  }

  private def isGraft(parts: Seq[String]): Boolean =
    parts.length == 2 && parts.head.equalsIgnoreCase("graft")

  private def longAttr(n: String) =
    AttributeReference(n, LongType, nullable = false)()

  private def fieldName(f: org.apache.spark.sql.catalyst.analysis.FieldName): String =
    f match {
      case UnresolvedFieldName(parts) =>
        require(parts.length == 1,
          s"nested field ${parts.mkString(".")} is not supported — the store schema is flat")
        parts.head
      case other => throw new IllegalArgumentException(s"unexpected field ref: $other")
    }

  /** DDL rewrite hook — Some(command) when the statement targets a
    * graft store, None to fall through to the caller.
    */
  def rewrite(plan: LogicalPlan): Option[LogicalPlan] = plan match {
    case c: CreateTableAsSelect =>
      tablePath(c.name).map { path =>
        require(c.partitioning.isEmpty,
          "CREATE TABLE graft.{path}: PARTITIONED BY is not supported — " +
            "the layout is pk-hash buckets ('buckets' TBLPROPERTY)")
        val ifNotExists = c.ignoreIfExists
        // at parse time the spec is UnresolvedTableSpec; both impls
        // expose the TBLPROPERTIES map
        val props = c.tableSpec match {
          case s: TableSpec => s.properties
          case s: UnresolvedTableSpec => s.properties
          case other => throw new IllegalArgumentException(
            s"unexpected table spec: $other")
        }
        val pk = props.get("pk").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(throw new IllegalArgumentException(
            "CREATE TABLE graft.{path} needs TBLPROPERTIES('pk'='col[,col]') — " +
              "the store layout is pk-hash-addressed"))
        val buckets = props.get("buckets").map(_.trim.toInt)
        GraftCtasCommand(path, pk, buckets, props - "pk" - "buckets",
          ifNotExists, new PlanHolder(c.query)): LogicalPlan
      }
    case r: ReplaceTableAsSelect =>
      tablePath(r.name).map { path =>
        require(r.partitioning.isEmpty,
          "CREATE OR REPLACE TABLE graft.{path}: PARTITIONED BY is not supported")
        val props = r.tableSpec match {
          case s: TableSpec => s.properties
          case s: UnresolvedTableSpec => s.properties
          case other => throw new IllegalArgumentException(
            s"unexpected table spec: $other")
        }
        GraftReplaceCtasCommand(path,
          props.get("pk").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq),
          props.get("buckets").map(_.trim.toInt), r.orCreate,
          new PlanHolder(r.query)): LogicalPlan
      }
    case DropTable(child, ifExists, _) =>
      tablePath(child).map(GraftDropTableCommand(_, ifExists): LogicalPlan)
    case s: ShowCreateTable =>
      tablePath(s.child).map(GraftShowCreateCommand(_): LogicalPlan)
    case t: TruncateTable =>
      tablePath(t.table).map(GraftTruncateCommand(_): LogicalPlan)
    case ShowTableProperties(child, key, _) =>
      tablePath(child).map(GraftShowPropsCommand(_, key): LogicalPlan)
    case AnalyzeColumn(child, cols, allColumns) =>
      tablePath(child).map { path =>
        GraftAnalyzeCommand(path, cols.getOrElse(Seq.empty), allColumns): LogicalPlan
      }
    case a: AnalyzeTable =>
      tablePath(a.child).map(
        GraftAnalyzeCommand(_, Seq.empty, allColumns = true): LogicalPlan)
    case DescribeRelation(rel, _, isExtended, _) =>
      tablePath(rel).map(GraftDescribeCommand(_, isExtended): LogicalPlan)
    case ShowColumns(child, _, _) =>
      tablePath(child).map(GraftShowColumnsCommand(_): LogicalPlan)
    case a @ AddColumns(tbl, cols) =>
      tablePath(tbl).map { path =>
        val adds = cols.map { c =>
          require(c.path.isEmpty && c.position.isEmpty,
            "ADD COLUMN: nested fields / FIRST|AFTER positions are not supported")
          val default = c.default.map { d =>
            require(d.child.foldable,
              s"ADD COLUMN DEFAULT must be a literal, got ${d.originalSQL}")
            d.child.eval() match {
              case s: org.apache.spark.unsafe.types.UTF8String => s.toString
              case other => other
            }
          }
          (c.colName, c.dataType, default.getOrElse(throw new IllegalArgumentException(
            s"ADD COLUMN ${c.colName}: a DEFAULT literal is required — the " +
              "store fills carried buckets from the declared default " +
              "(A57's metadata-only contract); evolve nullable columns " +
              "through a schema-evolving MERGE instead")))
        }
        GraftAddColumnsCommand(path, adds): LogicalPlan
      }
    case DropColumns(tbl, fields, _) =>
      tablePath(tbl).map(path =>
        GraftDropColumnsCommand(path, fields.map(fieldName)): LogicalPlan)
    case RenameColumn(tbl, field, newName) =>
      tablePath(tbl).map(path =>
        GraftRenameColumnCommand(path, fieldName(field), newName): LogicalPlan)
    case SetTableProperties(tbl, props) =>
      tablePath(tbl).map(GraftSetPropsCommand(_, props, unset = Nil): LogicalPlan)
    case UnsetTableProperties(tbl, keys, _) =>
      tablePath(tbl).map(GraftSetPropsCommand(_, Map.empty, unset = keys): LogicalPlan)
    // the parser wraps the target under a Filter(NOT cond, relation)
    // (the analyzer's no-rows-violate probe) — dig the relation out
    case AddCheckConstraint(probe, cc) =>
      probe.collectFirst { case r: UnresolvedRelation => r }
        .flatMap(tablePath).map { path =>
        val name = Option(cc.userProvidedName).getOrElse(
          s"chk_${Integer.toHexString(cc.condition.hashCode).take(8)}")
        GraftAddConstraintCommand(path, name, cc.condition): LogicalPlan
      }
    case DropConstraint(tbl, name, ifExists, _) =>
      tablePath(tbl).map(GraftDropConstraintCommand(_, name, ifExists): LogicalPlan)
    case _ => None
  }

  final case class GraftCtasCommand(path: String, pk: Seq[String],
      buckets: Option[Int], props: Map[String, String], ifNotExists: Boolean,
      query: PlanHolder) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(longAttr("version"))
    override def run(spark: SparkSession): Seq[Row] = {
      CdcPipeline.currentVersion(path) match {
        case Some(v) if ifNotExists => Seq(Row(v))
        case Some(_) => throw new IllegalArgumentException(
          s"graft store already exists at $path — MERGE/INSERT into it instead")
        case None =>
          val df = GraftBridge.dataFrame(spark, query.plan)
          val missing = pk.filterNot(df.columns.contains)
          require(missing.isEmpty,
            s"CTAS query lacks the declared pk columns: ${missing.mkString(",")}")
          val v = CdcPipeline.publish(df, path, pk, buckets = buckets)
          if (props.nonEmpty) CdcPipeline.setTableProperties(path, props)
          Seq(Row(v))
      }
    }
  }

  final case class GraftDropTableCommand(path: String, ifExists: Boolean)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      AttributeReference("dropped", BooleanType, nullable = false)())
    override def run(spark: SparkSession): Seq[Row] =
      CdcPipeline.currentVersion(path) match {
        case Some(_) => StoreFs.deleteRecursive(path); Seq(Row(true))
        case None if ifExists => Seq(Row(false))
        case None => throw new IllegalArgumentException(s"no graft store at $path")
      }
  }

  final case class GraftAddColumnsCommand(path: String,
      adds: Seq[(String, org.apache.spark.sql.types.DataType, Any)])
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(longAttr("version"))
    override def run(spark: SparkSession): Seq[Row] = {
      val v = adds.map { case (name, dt, default) =>
        CdcPipeline.addColumnWithDefault(spark, path, name, dt, default)
          .getOrElse(throw new IllegalArgumentException(s"no graft store at $path"))
      }.last
      Seq(Row(v))
    }
  }

  final case class GraftDropColumnsCommand(path: String, cols: Seq[String])
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(longAttr("version"))
    override def run(spark: SparkSession): Seq[Row] = {
      val v = CdcPipeline.dropColumns(spark, path, GraftSqlDml.pkOf(path), cols)
        .getOrElse(throw new IllegalArgumentException(s"no graft store at $path"))
      Seq(Row(v))
    }
  }

  final case class GraftRenameColumnCommand(path: String, from: String, to: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(longAttr("version"))
    override def run(spark: SparkSession): Seq[Row] = {
      val pk = GraftSqlDml.pkOf(path)
      val v = CdcPipeline.renameColumn(spark, path, pk, from, to)
        .getOrElse(throw new IllegalArgumentException(s"no graft store at $path"))
      // the PK sidecar must follow a renamed key column (layout
      // invariant: values unchanged, name changed) — matched case-
      // insensitively, like Spark column resolution: RENAME COLUMN
      // USER_ID on a _PK recording user_id must still rewrite the
      // sidecar, or every later SQL DML trusts a stale key name
      if (pk.exists(_.equalsIgnoreCase(from)))
        StoreFs.writeString(s"$path/_PK",
          pk.map(c => if (c.equalsIgnoreCase(from)) to else c).mkString(","))
      Seq(Row(v))
    }
  }

  final case class GraftSetPropsCommand(path: String,
      props: Map[String, String], unset: Seq[String]) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(longAttr("version"))
    override def run(spark: SparkSession): Seq[Row] = {
      val v =
        if (unset.nonEmpty) CdcPipeline.unsetTableProperties(path, unset)
        else CdcPipeline.setTableProperties(path, props)
      Seq(Row(v.getOrElse(throw new IllegalArgumentException(
        s"no graft store at $path"))))
    }
  }

  final case class GraftAddConstraintCommand(path: String, name: String,
      predicate: String) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(longAttr("version"))
    override def run(spark: SparkSession): Seq[Row] =
      Seq(Row(CdcPipeline.addCheckConstraint(spark, path, name, predicate)
        .getOrElse(throw new IllegalArgumentException(s"no graft store at $path"))))
  }

  final case class GraftDropConstraintCommand(path: String, name: String,
      ifExists: Boolean) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(longAttr("version"))
    override def run(spark: SparkSession): Seq[Row] =
      CdcPipeline.dropCheckConstraint(path, name) match {
        case Some(v) => Seq(Row(v))
        case None if ifExists =>
          Seq(Row(CdcPipeline.currentVersion(path).getOrElse(
            throw new IllegalArgumentException(s"no graft store at $path"))))
        case None => throw new IllegalArgumentException(
          s"no constraint '$name' at $path")
      }
  }

  /** DESCRIBE [EXTENDED] graft.{path} — columns in Spark's
    * (col_name, data_type, comment) shape; EXTENDED appends the
    * store facts (pk, buckets, version, properties, constraints) as
    * the same-shaped metadata rows Spark emits for catalog tables.
    */
  final case class GraftDescribeCommand(path: String, extended: Boolean)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      AttributeReference("col_name", org.apache.spark.sql.types.StringType,
        nullable = false)(),
      AttributeReference("data_type", org.apache.spark.sql.types.StringType,
        nullable = false)(),
      AttributeReference("comment", org.apache.spark.sql.types.StringType,
        nullable = true)())
    override def run(spark: SparkSession): Seq[Row] = {
      val m = CdcPipeline.currentManifest(path).getOrElse(
        throw new IllegalArgumentException(s"no graft store at $path"))
      val cols = m.schema.fields.toSeq.map(f =>
        Row(f.name, f.dataType.sql.toLowerCase, null))
      if (!extended) cols
      else cols ++ Seq(
        Row("", "", null),
        Row("# Detailed Table Information", "", null),
        Row("Primary Key",
          CdcPipeline.pkColumns(path).map(_.mkString(",")).getOrElse(""), null),
        Row("Buckets", m.numBuckets.toString, null),
        Row("Current Version", m.readVersion.toString, null)) ++
        CdcPipeline.tableProperties(path).toSeq.sortBy(_._1)
          .map { case (k, v) => Row(s"Property: $k", v, null) } ++
        CdcPipeline.checkConstraints(path).toSeq.sortBy(_._1)
          .map { case (n, c) => Row(s"Constraint: $n", c, null) }
    }
  }

  /** SHOW COLUMNS IN graft.{path} — bare column names. */
  final case class GraftShowColumnsCommand(path: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      AttributeReference("col_name", org.apache.spark.sql.types.StringType,
        nullable = false)())
    override def run(spark: SparkSession): Seq[Row] = {
      CdcPipeline.currentManifest(path).getOrElse(
        throw new IllegalArgumentException(s"no graft store at $path"))
        .schema.fieldNames.toSeq.map(Row(_))
    }
  }

  /** CREATE OR REPLACE TABLE graft.{path} AS SELECT — a full
    * REDEFINITION committed as the next version of an existing store
    * (history stays time-travelable; Delta's replace semantics): the
    * new schema is the query's, declared metadata RESETS (a
    * redefinition must not silently carry constraints/defaults bound
    * to columns that may no longer exist), and the PK layout
    * invariant is enforced — replacing with a DIFFERENT pk is
    * refused (that is a rebucket, not a replace). Absent store +
    * OR REPLACE without IF NOT EXISTS semantics: creates when
    * `orCreate` (Spark parses CREATE OR REPLACE with orCreate=true).
    */
  final case class GraftReplaceCtasCommand(path: String,
      pkProp: Option[Seq[String]], buckets: Option[Int], orCreate: Boolean,
      query: GraftSqlDml.PlanHolder) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(longAttr("version"))
    override def run(spark: SparkSession): Seq[Row] = {
      val df = GraftBridge.dataFrame(spark, query.plan)
      CdcPipeline.currentManifest(path) match {
        case Some(m) =>
          val pk = CdcPipeline.pkColumns(path).getOrElse(
            throw new IllegalArgumentException(s"no _PK sidecar at $path"))
          pkProp.foreach(p => require(
            p.map(_.toLowerCase) == pk.map(_.toLowerCase),
            s"REPLACE cannot change the PK (store: ${pk.mkString(",")}, " +
              s"statement: ${p.mkString(",")}) — the bucket layout is " +
              "pk-hash-addressed; use a new table + CLONE/rebucket instead"))
          pk.foreach(k => require(df.columns.contains(k),
            s"REPLACE query must produce the PK column '$k'"))
          val v = CdcPipeline.publish(df, path, pk,
            buckets = Some(buckets.getOrElse(m.numBuckets)), op = CdcPipeline.ReplaceOp)
          Seq(Row(v))
        case None if orCreate =>
          val pk = pkProp.getOrElse(throw new IllegalArgumentException(
            "CREATE OR REPLACE on a new path needs TBLPROPERTIES('pk'='…')"))
          val v = CdcPipeline.publish(df, path, pk, buckets = buckets,
            op = "bootstrap")
          Seq(Row(v))
        case None => throw new IllegalArgumentException(
          s"no graft store at $path to replace")
      }
    }
  }

  /** TRUNCATE TABLE graft.{path} — a NEW empty version with the
    * schema, layout, and declared metadata intact (history stays:
    * time travel / RESTORE still reach the pre-truncate data until
    * vacuumed — the versioned-store semantics, not a file unlink).
    * Routed through the A41 predicate delete with an always-true
    * predicate, whose commit carries properties / constraints /
    * defaults / virtual columns across the rewrite.
    */
  final case class GraftTruncateCommand(path: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] =
      Seq(longAttr("version"), longAttr("deleted_rows"))
    override def run(spark: SparkSession): Seq[Row] = {
      val pk = CdcPipeline.pkColumns(path).getOrElse(
        throw new IllegalArgumentException(s"no graft store at $path"))
      val (v, n) = CdcPipeline.deleteWhere(spark, path, pk,
        org.apache.spark.sql.functions.lit(true)).getOrElse(
        throw new IllegalArgumentException(s"no graft store at $path"))
      Seq(Row(v, n))
    }
  }

  /** SHOW TBLPROPERTIES graft.{path} [('key')] — the A77 property
    * map as rows; a named key returns just that row (empty when
    * absent, matching Spark's v2 behavior of erroring only for
    * tables — a path-addressed store reports absence as no rows).
    */
  final case class GraftShowPropsCommand(path: String, key: Option[String])
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      AttributeReference("key", org.apache.spark.sql.types.StringType,
        nullable = false)(),
      AttributeReference("value", org.apache.spark.sql.types.StringType,
        nullable = false)())
    override def run(spark: SparkSession): Seq[Row] = {
      val props = CdcPipeline.tableProperties(path)
      key match {
        case Some(k) => props.get(k).map(v => Row(k, v)).toSeq
        case None => props.toSeq.sortBy(_._1).map { case (k, v) => Row(k, v) }
      }
    }
  }

  /** ANALYZE TABLE graft.{path} COMPUTE STATISTICS FOR [ALL] COLUMNS
    * … — routed onto the A83 per-bucket HLL NDV index (the store's
    * native column-statistics artifact, consumed by A88 join-size
    * estimation and A90 join admission). Emits the published index
    * version and the column list.
    */
  final case class GraftAnalyzeCommand(path: String, cols: Seq[String],
      allColumns: Boolean) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(longAttr("version"),
      AttributeReference("columns", org.apache.spark.sql.types.StringType,
        nullable = false)())
    override def run(spark: SparkSession): Seq[Row] = {
      val target =
        if (!allColumns) cols
        else CdcPipeline.currentManifest(path)
          .map(_.schema.fieldNames.toSeq)
          .getOrElse(throw new IllegalArgumentException(
            s"no graft store at $path"))
      val v = CdcPipeline.buildNdvIndex(spark, path, target).getOrElse(
        throw new IllegalArgumentException(s"no graft store at $path"))
      Seq(Row(v, target.mkString(",")))
    }
  }

  /** SHOW CREATE TABLE graft.{path} — renders a statement that would
    * REBUILD the store through this same SQL surface: CTAS skeleton
    * with the live schema, pk/buckets/properties folded into
    * TBLPROPERTIES (the layout rides properties on the way in, so it
    * rides them on the way out), plus one ALTER per CHECK constraint.
    * Column name matches Spark's own SHOW CREATE TABLE output.
    */
  final case class GraftShowCreateCommand(path: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      AttributeReference("createtab_stmt", org.apache.spark.sql.types.StringType,
        nullable = false)())
    override def run(spark: SparkSession): Seq[Row] = {
      val m = CdcPipeline.currentManifest(path).getOrElse(
        throw new IllegalArgumentException(s"no graft store at $path"))
      val cols = m.schema.fields
        .map(f => s"  ${f.name} ${f.dataType.sql}").mkString(",\n")
      val pk = CdcPipeline.pkColumns(path).map(_.mkString(",")).getOrElse("")
      val props = Seq(s"'pk'='$pk'", s"'buckets'='${m.numBuckets}'") ++
        CdcPipeline.tableProperties(path).toSeq.sortBy(_._1)
          .map { case (k, v) => s"'$k'='$v'" }
      val alters = CdcPipeline.checkConstraints(path).toSeq.sortBy(_._1)
        .map { case (n, cond) =>
          s"ALTER TABLE graft.`$path` ADD CONSTRAINT $n CHECK ($cond);" }
      val stmt = (Seq(s"CREATE TABLE graft.`$path` (", cols, ")",
        s"TBLPROPERTIES(${props.mkString(", ")});") ++ alters).mkString("\n")
      Seq(Row(stmt))
    }
  }
}
