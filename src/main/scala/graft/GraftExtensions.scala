package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.functions.{BoundedCollectLongPairs, CosineSimilarity, LatestByOrder, LshTableBuckets, MinHashBandBuckets, SimHash64, SortableDoubleBits, TopKByOrder, VectorAvg, WordShingles}

/** SQL surface of the graft function library, registered through the
  * sanctioned `SparkSessionExtensions` hook:
  *
  *   <session builder>.withExtensions(new GraftExtensions)  ([[Session.local]])
  *   — or —
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * gives `SELECT cosine_similarity(a, b)`, `simhash64(text)`,
  * `word_shingles(text, 3)`, `minhash_band_buckets(text, 8, 2)`,
  * `lsh_table_buckets(emb, tables, planes, dims)`,
  * `latest_by(value, ord1, ord2)`,
  * `top_k_by(value, ord1, ord2, k[, ord2_desc])`,
  * `sortable_double_bits(x)`, `vector_avg(emb)`, and
  * `bounded_collect_pairs(key, payload, limit)` in plain SQL, plus
  * the ROW_NUMBER-idiom optimizer rewrites.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    GraftExtensions.tableFunctions.foreach(ext.injectTableFunction)
    ext.injectOptimizerRule(_ => graft.plans.RowNumberToLatestBy)
    // Statement-level DML on graft stores (MERGE INTO / UPDATE /
    // DELETE FROM graft.`path`) — parser wrap, delegate-first; see
    // graft.plans.GraftSqlDml. Unlike functions/TVFs, a parser can
    // only be injected at session BUILD time (runtime register(s)
    // cannot add it).
    ext.injectParser((_, delegate) => new graft.plans.GraftSqlParser(delegate))
  }
}

object GraftExtensions {
  /** Int-range-checked integer literal — a BIGINT literal beyond Int
    * range must error, not `.toInt`-wrap into a nonsense (possibly
    * negative) value (r8 ADVICE on graft_vacuum_preview's keep
    * argument).
    */
  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) =>
      if (v < Int.MinValue || v > Int.MaxValue) throw new IllegalArgumentException(
        s"$what out of Int range: $v")
      else v.toInt
    case other => throw new IllegalArgumentException(s"$what must be an int literal, got $other")
  }

  /** (name, info, builder) triples — the shape injectFunction takes. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_similarity"),
      (args: Seq[Expression]) => CosineSimilarity(args(0), args(1))),
    (FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (args: Seq[Expression]) => SimHash64(args(0))),
    (FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      (args: Seq[Expression]) => WordShingles(args(0),
        if (args.length > 1) intLit(args(1), "w") else 3)),
    (FunctionIdentifier("minhash_band_buckets"),
      new ExpressionInfo(classOf[MinHashBandBuckets].getName, "minhash_band_buckets"),
      (args: Seq[Expression]) => MinHashBandBuckets(args(0),
        if (args.length > 1) intLit(args(1), "b") else 8,
        if (args.length > 2) intLit(args(2), "r") else 2)),
    (FunctionIdentifier("lsh_table_buckets"),
      new ExpressionInfo(classOf[LshTableBuckets].getName, "lsh_table_buckets"),
      (args: Seq[Expression]) => LshTableBuckets(args(0),
        if (args.length > 1) intLit(args(1), "tables") else 4,
        if (args.length > 2) intLit(args(2), "planes") else 4,
        if (args.length > 3) intLit(args(3), "dims") else 64)),
    (FunctionIdentifier("latest_by"),
      new ExpressionInfo(classOf[LatestByOrder].getName, "latest_by"),
      (args: Seq[Expression]) =>
        LatestByOrder(args(1), args(2), args(0)).toAggregateExpression()),
    (FunctionIdentifier("top_k_by"),
      new ExpressionInfo(classOf[TopKByOrder].getName, "top_k_by"),
      (args: Seq[Expression]) =>
        TopKByOrder(intLit(args(3), "k"), args(1), args(2), args(0),
          ord2Desc = args.length > 4 && (args(4) match {
            case Literal(b: Boolean, _) => b
            case other => throw new IllegalArgumentException(
              s"top_k_by ord2_desc must be a boolean literal, got $other")
          })).toAggregateExpression()),
    (FunctionIdentifier("sortable_double_bits"),
      new ExpressionInfo(classOf[SortableDoubleBits].getName, "sortable_double_bits"),
      (args: Seq[Expression]) => SortableDoubleBits(args(0))),
    (FunctionIdentifier("vector_avg"),
      new ExpressionInfo(classOf[VectorAvg].getName, "vector_avg"),
      (args: Seq[Expression]) => VectorAvg(args(0)).toAggregateExpression()),
    (FunctionIdentifier("bounded_collect_pairs"),
      new ExpressionInfo(classOf[BoundedCollectLongPairs].getName, "bounded_collect_pairs"),
      (args: Seq[Expression]) => BoundedCollectLongPairs(
        intLit(args(2), "limit"), args(0), args(1)).toAggregateExpression()),
    (FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(classOf[graft.functions.BloomMightContain].getName, "bloom_might_contain"),
      (args: Seq[Expression]) => graft.functions.BloomMightContain(args(0), args(1) match {
        // the serialized filter arrives as a binary literal (X'…' in
        // SQL text, or lit(bytes) from code) — driver-built state,
        // same contract as the DataFrame API
        case Literal(b: Array[Byte], org.apache.spark.sql.types.BinaryType) => b
        case other => throw new IllegalArgumentException(
          s"bloom_might_contain filter must be a binary literal, got $other")
      })))

  // ---- table-valued functions: the versioned store in plain SQL ----
  //
  // `SELECT * FROM graft_snapshot('/path')`, time travel via
  // `graft_snapshot_at(path, v)`, stat-pruned range reads via
  // `graft_range(path, col, lo, hi)`, bloom-pruned point lookups via
  // `graft_point(path, col, 'v1,v2')`, the commit-stamped feed via
  // `graft_change_feed(path, 'pk1,pk2', fromV, toV)`. Each builder
  // resolves at ANALYSIS time to the same LogicalPlan the DataFrame
  // API produces (SparkSession.active is the resolving session), so
  // predicates, projections, and joins written in SQL optimize
  // through the identical manifest/bucket machinery — SQL users get
  // data skipping without touching the Scala API.

  private def strLit(e: Expression, what: String): String = e match {
    case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) => s.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got $other")
  }
  private def longLit(e: Expression, what: String): Long = e match {
    case Literal(v: Int, _) => v.toLong
    case Literal(v: Long, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }
  /** A SQL literal as the plain JVM value readRange's bound builder
    * expects (UTF8String → String; numerics pass through).
    */
  private def boundLit(e: Expression, what: String): Option[Any] = e match {
    case Literal(null, _) => None
    case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) => Some(s.toString)
    case Literal(v, _) => Some(v)
    case other => throw new IllegalArgumentException(
      s"$what must be a literal, got $other")
  }
  private def active = org.apache.spark.sql.SparkSession.active
  private def plan(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.logical

  val tableFunctions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)] = Seq(
    (FunctionIdentifier("graft_snapshot"),
      new ExpressionInfo("graft.cdc.CdcPipeline", "graft_snapshot"),
      (args: Seq[Expression]) => {
        val path = strLit(args(0), "graft_snapshot path")
        plan(graft.cdc.CdcPipeline.readSnapshot(active, path).getOrElse(
          throw new IllegalArgumentException(s"no graft store at $path")))
      }),
    (FunctionIdentifier("graft_snapshot_at"),
      new ExpressionInfo("graft.cdc.CdcPipeline", "graft_snapshot_at"),
      (args: Seq[Expression]) => {
        val path = strLit(args(0), "graft_snapshot_at path")
        val v = longLit(args(1), "graft_snapshot_at version")
        plan(graft.cdc.CdcPipeline.readSnapshotAt(active, path, v).getOrElse(
          throw new IllegalArgumentException(s"no version $v at $path")))
      }),
    (FunctionIdentifier("graft_snapshot_ts"),
      new ExpressionInfo("graft.cdc.CdcPipeline", "graft_snapshot_ts"),
      (args: Seq[Expression]) => {
        val path = strLit(args(0), "graft_snapshot_ts path")
        val ts = longLit(args(1), "graft_snapshot_ts commit_us")
        plan(graft.cdc.CdcPipeline.readSnapshotAsOfTime(active, path, ts).getOrElse(
          throw new IllegalArgumentException(
            s"no commit at or before $ts µs at $path")))
      }),
    (FunctionIdentifier("graft_range"),
      new ExpressionInfo("graft.cdc.CdcPipeline", "graft_range"),
      (args: Seq[Expression]) => {
        val path = strLit(args(0), "graft_range path")
        val column = strLit(args(1), "graft_range column")
        plan(graft.cdc.CdcPipeline.readRange(active, path, column,
          boundLit(args(2), "graft_range lo"), boundLit(args(3), "graft_range hi"))
          .getOrElse(throw new IllegalArgumentException(s"no graft store at $path")))
      }),
    (FunctionIdentifier("graft_point"),
      new ExpressionInfo("graft.cdc.CdcPipeline", "graft_point"),
      (args: Seq[Expression]) => {
        val path = strLit(args(0), "graft_point path")
        val column = strLit(args(1), "graft_point column")
        val values = strLit(args(2), "graft_point values csv")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        plan(graft.cdc.CdcPipeline.readPoint(active, path, column, values)
          .getOrElse(throw new IllegalArgumentException(s"no graft store at $path")))
      }),
    (FunctionIdentifier("graft_history"),
      new ExpressionInfo("graft.cdc.CdcPipeline", "graft_history"),
      (args: Seq[Expression]) => {
        val path = strLit(args(0), "graft_history path")
        plan(graft.cdc.CdcPipeline.describeHistory(active, path).getOrElse(
          throw new IllegalArgumentException(s"no graft store at $path")))
      }),
    (FunctionIdentifier("graft_fsck"),
      new ExpressionInfo("graft.cdc.CdcPipeline", "graft_fsck"),
      (args: Seq[Expression]) => {
        val path = strLit(args(0), "graft_fsck path")
        plan(graft.cdc.CdcPipeline.fsck(active, path))
      }),
    // graft_secured(path, rowFilterSql, 'col = maskExpr; ...'): the
    // A86 policy read from pure SQL. Empty row filter = none; the
    // mask list uses the same semicolon/first-`=` assignment syntax
    // as graft_update_where's SET argument.
    (FunctionIdentifier("graft_secured"),
      new ExpressionInfo("graft.cdc.Security", "graft_secured"),
      (args: Seq[Expression]) => {
        val path = strLit(args(0), "graft_secured path")
        val rf = strLit(args(1), "graft_secured row filter").trim
        val masks = strLit(args(2), "graft_secured masks")
          .split(";").map(_.trim).filter(_.nonEmpty).map { a =>
            val i = a.indexOf('=')
            require(i > 0, s"graft_secured mask needs 'col = expr', got: $a")
            a.take(i).trim -> a.drop(i + 1).trim
          }.toMap
        val policy = graft.cdc.SecurityPolicy(
          rowFilter = if (rf.isEmpty) None else Some(rf), masks = masks)
        plan(graft.cdc.Security.readSecured(active, path, policy).getOrElse(
          throw new IllegalArgumentException(s"no graft store at $path")))
      }),
    // graft_estimate_join(pathA, pathB, col): the A88 metadata-only
    // join-size estimate from SQL — one row (rows/ndv/estimate/
    // coverage), errors when either side lacks the NDV index.
    (FunctionIdentifier("graft_estimate_join"),
      new ExpressionInfo("graft.cdc.CdcPipeline", "graft_estimate_join"),
      (args: Seq[Expression]) => {
        val a = strLit(args(0), "graft_estimate_join pathA")
        val b = strLit(args(1), "graft_estimate_join pathB")
        val c = strLit(args(2), "graft_estimate_join column")
        val spark = active
        val e = graft.cdc.CdcPipeline.estimateJoinRows(spark, a, b, c).getOrElse(
          throw new IllegalArgumentException(
            s"estimate unavailable: missing store, footer, or NDV index on '$c'"))
        import spark.implicits._
        plan(Seq((e.rowsA, e.rowsB, e.ndvA, e.ndvB, e.estimatedRows, e.fullCoverage))
          .toDF("rows_a", "rows_b", "ndv_a", "ndv_b", "estimated_rows",
            "full_coverage"))
      }),
    // graft_join(pathA, pathB, col): store-to-store equi-join with
    // the physical strategy chosen by the A90 metadata admission
    // (broadcast the smaller side when its footer bytes fit,
    // shuffled-hash otherwise) — the A88 estimate consuming itself.
    (FunctionIdentifier("graft_join"),
      new ExpressionInfo("graft.cdc.CdcPipeline", "graft_join"),
      (args: Seq[Expression]) => {
        val a = strLit(args(0), "graft_join pathA")
        val b = strLit(args(1), "graft_join pathB")
        val c = strLit(args(2), "graft_join column")
        plan(graft.cdc.CdcPipeline.readJoin(active, a, b, c).getOrElse(
          throw new IllegalArgumentException(
            s"graft_join: no store at $a or $b")))
      }),
    // graft_verify_chain(path): the A85 commit-chain audit from SQL —
    // one row per finding, zero rows = intact lineage.
    (FunctionIdentifier("graft_verify_chain"),
      new ExpressionInfo("graft.cdc.CdcPipeline", "graft_verify_chain"),
      (args: Seq[Expression]) => {
        val path = strLit(args(0), "graft_verify_chain path")
        val issues = graft.cdc.CdcPipeline.verifyChain(path)
        plan(active.createDataFrame(issues.map(i => (i.version, i.kind, i.detail)))
          .toDF("version", "kind", "detail"))
      }),
    (FunctionIdentifier("graft_schema_history"),
      new ExpressionInfo("graft.cdc.CdcPipeline", "graft_schema_history"),
      (args: Seq[Expression]) => {
        val path = strLit(args(0), "graft_schema_history path")
        plan(graft.cdc.CdcPipeline.describeSchemaHistory(active, path).getOrElse(
          throw new IllegalArgumentException(s"no graft store at $path")))
      }),
    (FunctionIdentifier("graft_audit"),
      new ExpressionInfo("graft.cdc.CdcPipeline", "graft_audit"),
      (args: Seq[Expression]) => {
        val path = strLit(args(0), "graft_audit path")
        val pk = strLit(args(1), "graft_audit pk list").split(",")
          .map(_.trim).filter(_.nonEmpty).toSeq
        plan(graft.cdc.CdcPipeline.auditData(active, path, pk).getOrElse(
          throw new IllegalArgumentException(s"no graft store at $path")))
      }),
    (FunctionIdentifier("graft_vacuum_preview"),
      new ExpressionInfo("graft.cdc.CdcPipeline", "graft_vacuum_preview"),
      (args: Seq[Expression]) => {
        val path = strLit(args(0), "graft_vacuum_preview path")
        val keep = if (args.length > 1)
          intLit(args(1), "graft_vacuum_preview keepVersions") else 2
        val spark = active
        import spark.implicits._
        plan(graft.cdc.CdcPipeline.vacuumPreview(path, keep)
          .toDF("version", "reclaimable_bytes"))
      }),
    (FunctionIdentifier("graft_change_feed"),
      new ExpressionInfo("graft.cdc.CdcPipeline", "graft_change_feed"),
      (args: Seq[Expression]) => {
        val path = strLit(args(0), "graft_change_feed path")
        val pk = strLit(args(1), "graft_change_feed pk list").split(",")
          .map(_.trim).filter(_.nonEmpty).toSeq
        val from = longLit(args(2), "graft_change_feed fromVersion")
        val to = longLit(args(3), "graft_change_feed toVersion")
        plan(graft.cdc.CdcPipeline.readChangeFeed(active, path, pk, from, to).getOrElse(
          throw new IllegalArgumentException(
            s"change feed ($from, $to] unavailable at $path (vacuumed or missing)")))
      })) ++ mutationFunctions

  // ---- procedure-style mutation TVFs: the store's WRITE surface in
  //      plain SQL (r8 verdict #4) ----
  //
  // The read TVFs above make the store queryable from SQL; these make
  // it MAINTAINABLE: `SELECT * FROM graft_merge(path, pks, sourceSql)`,
  // graft_delete_where / graft_update_where / graft_optimize /
  // graft_maintain / graft_vacuum. The reference's only user is a SQL
  // one — its whole pipeline is a stored procedure
  // (bigquery_syntex_merge_sql/merge.sql:1) — so without these a pure
  // SQL user could read the store but never change it. Each executes
  // the corresponding Scala op (A38/A41/A40/A64/A21 — same gates,
  // claims, and leases; SQL is a veneer, not a second write path) and
  // resolves to a LocalRelation of the op's report row(s).
  //
  // Procedure semantics, Delta-style caveat: the builder runs at
  // ANALYSIS time, so the op executes when the statement is analyzed
  // — an EXPLAIN of a mutation TVF performs the mutation. That is the
  // documented cost of procedure TVFs without a parser fork; Spark's
  // own DSv2 DELETE/MERGE commands would need the store to become a
  // DSv2 Table, the designed follow-up (SURVEY §7).

  private def csvArg(e: Expression, what: String): Seq[String] =
    strLit(e, what).split(",").map(_.trim).filter(_.nonEmpty).toSeq

  private def predArg(e: Expression, what: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.expr(strLit(e, what))

  /** `"colA = expr; colB = expr"` → SET map. Semicolon-separated so
    * assignment expressions may themselves contain commas
    * (`greatest(a, b)`); split on the FIRST `=` of each assignment so
    * `=` inside the expression (e.g. `<=`) survives — good enough
    * because a column name cannot contain `=`.
    */
  private def setArg(e: Expression, what: String): Map[String, org.apache.spark.sql.Column] =
    strLit(e, what).split(";").map(_.trim).filter(_.nonEmpty).map { a =>
      val i = a.indexOf('=')
      if (i <= 0) throw new IllegalArgumentException(
        s"$what assignment must be 'col = expr', got '$a'")
      a.substring(0, i).trim -> org.apache.spark.sql.functions.expr(a.substring(i + 1).trim)
    }.toMap

  // lazy: referenced by tableFunctions' initializer above it
  private lazy val mutationFunctions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)] = Seq(
    // graft_create(path, 'pk1,pk2', sourceSql[, numBuckets]) →
    // bootstrap a NEW store from a query — the CREATE TABLE AS of the
    // bucketed store, completing the pure-SQL lifecycle (create →
    // read → merge/delete/update → maintain → vacuum). Refuses to
    // overwrite an existing store. Returns (version).
    (FunctionIdentifier("graft_create"),
      new ExpressionInfo("graft.cdc.CdcPipeline", "graft_create"),
      (args: Seq[Expression]) => {
        val path = strLit(args(0), "graft_create path")
        val pk = csvArg(args(1), "graft_create pk list")
        val srcSql = strLit(args(2), "graft_create source SQL")
        val buckets = if (args.length > 3)
          Some(intLit(args(3), "graft_create numBuckets")) else None
        val spark = active
        if (graft.cdc.CdcPipeline.currentVersion(path).isDefined)
          throw new IllegalArgumentException(
            s"graft store already exists at $path — merge into it instead")
        val v = graft.cdc.CdcPipeline.publish(spark.sql(srcSql), path, pk,
          buckets = buckets)
        import spark.implicits._
        plan(Seq(v).toDF("version"))
      }),
    // graft_merge(path, 'pk1,pk2', sourceSql): UPSERT merge of the
    // sourceSql rows into the store — rows whose `__op` column (if
    // present) is 'd' delete their key instead. Touched buckets come
    // from the SOURCE keys, so I/O is delta-sized like every other
    // store merge; the MergeInto builder (A38) supplies the
    // one-join/one-projection plan and the ANSI duplicate-source
    // rejection. Returns (version, source_rows).
    (FunctionIdentifier("graft_merge"),
      new ExpressionInfo("graft.cdc.MergeInto", "graft_merge"),
      (args: Seq[Expression]) => {
        val path = strLit(args(0), "graft_merge path")
        val pk = csvArg(args(1), "graft_merge pk list")
        val srcSql = strLit(args(2), "graft_merge source SQL")
        val spark = active
        import graft.cdc.{CdcPipeline, MergeInto}
        import org.apache.spark.sql.functions.lit
        val m = CdcPipeline.currentManifest(path).getOrElse(
          throw new IllegalArgumentException(s"no graft store at $path"))
        val source = spark.sql(srcSql)
        val srcRows = source.count()
        // A71: CHECK constraints gate the introduced rows before the
        // merge plan even builds (same induction as the Scala path)
        CdcPipeline.enforceConstraints(m,
          if (source.columns.contains(graft.cdc.CdcEnvelope.OpCol))
            source.filter(org.apache.spark.sql.functions
              .col(graft.cdc.CdcEnvelope.OpCol) =!= lit("d"))
              .drop(graft.cdc.CdcEnvelope.OpCol)
          else source, path)
        val touched = CdcPipeline.bucketSet(source, CdcPipeline.bucketExpr(pk, m.numBuckets))
        val v =
          if (touched.isEmpty) m.readVersion
          else CdcPipeline.rewriteBuckets(spark, path, pk, m, touched, "sql-merge") { subset =>
            val hasOp = source.columns.contains(graft.cdc.CdcEnvelope.OpCol)
            val opCol = MergeInto.src(graft.cdc.CdcEnvelope.OpCol)
            val mi0 = MergeInto(subset, source, pk).sourceRows(srcRows)
            val mi =
              if (hasOp)
                mi0.whenMatchedDelete(opCol === lit("d"))
                  .whenMatchedUpdateAll()
                  .whenNotMatchedInsertAll(opCol =!= lit("d"))
              else mi0.whenMatchedUpdateAll().whenNotMatchedInsertAll()
            // __op is the verb, not a target column: drop it from the
            // UPDATE/INSERT column maps (updateAll/insertAll map only
            // TARGET columns, so nothing references it except the
            // clause conditions above)
            CdcPipeline.KeyedDelta.Content(mi.run())
          }.version
        import spark.implicits._
        plan(Seq((v, srcRows)).toDF("version", "source_rows"))
      }),
    // graft_merge_partial(path, 'pk1,pk2', 'a bigint, b double',
    // sourceSql) → A87 column-level-LWW sparse merge from pure SQL.
    // The source SQL must produce the envelope columns (__op,
    // __ts_us, __pos, data-JSON); fields declare name + Spark DDL
    // type, each cast through the standard projection rule.
    (FunctionIdentifier("graft_merge_partial"),
      new ExpressionInfo("graft.cdc.PartialMerge", "graft_merge_partial"),
      (args: Seq[Expression]) => {
        import graft.cdc.TypedProjection.{Cast, FieldSpec}
        val path = strLit(args(0), "graft_merge_partial path")
        val pk = csvArg(args(1), "graft_merge_partial pk list")
        val fields = csvArg(args(2), "graft_merge_partial fields").map { fs =>
          val parts = fs.trim.split("\\s+", 2)
          require(parts.length == 2,
            s"graft_merge_partial field needs 'name type', got: $fs")
          FieldSpec(parts(0),
            Cast(org.apache.spark.sql.types.DataType.fromDDL(parts(1))))
        }
        val spark = active
        val env = spark.sql(strLit(args(3), "graft_merge_partial source SQL"))
        val srcRows = env.count()
        val v = graft.cdc.PartialMerge.mergeAndPublish(spark, path, pk, fields, env)
        import spark.implicits._
        plan(Seq((v, srcRows)).toDF("version", "source_rows"))
      }),
    // graft_copy_into(path, 'pk1,pk2', landingDir[, format]) → A75
    // idempotent bulk file ingestion: every not-yet-ingested data
    // file under landingDir upserts by PK; re-running is a zero-job
    // no-op (the COPY INTO loop a scheduler drives in pure SQL).
    // Returns (version, files_ingested, files_skipped, rows_ingested).
    (FunctionIdentifier("graft_copy_into"),
      new ExpressionInfo("graft.cdc.CopyInto", "graft_copy_into"),
      (args: Seq[Expression]) => {
        val path = strLit(args(0), "graft_copy_into path")
        val pk = csvArg(args(1), "graft_copy_into pk list")
        val landing = strLit(args(2), "graft_copy_into landing dir")
        val fmt = if (args.length > 3)
          strLit(args(3), "graft_copy_into format") else "parquet"
        val spark = active
        val r = graft.cdc.CopyInto.copyIntoDir(spark, path, pk, landing, fmt)
        import spark.implicits._
        plan(Seq((r.version, r.filesIngested, r.filesSkipped, r.rowsIngested))
          .toDF("version", "files_ingested", "files_skipped", "rows_ingested"))
      }),
    // graft_delete_where(path, 'pk', predicateSql) → A41 copy-on-write
    // predicate DELETE. Returns (version, deleted_rows).
    (FunctionIdentifier("graft_delete_where"),
      new ExpressionInfo("graft.cdc.CdcPipeline", "graft_delete_where"),
      (args: Seq[Expression]) => {
        val path = strLit(args(0), "graft_delete_where path")
        val pk = csvArg(args(1), "graft_delete_where pk list")
        val pred = predArg(args(2), "graft_delete_where predicate")
        val spark = active
        val (v, n) = graft.cdc.CdcPipeline.deleteWhere(spark, path, pk, pred)
          .getOrElse(throw new IllegalArgumentException(s"no graft store at $path"))
        import spark.implicits._
        plan(Seq((v, n)).toDF("version", "deleted_rows"))
      }),
    // graft_update_where(path, 'pk', predicateSql, 'col = expr; …')
    // → A41 predicate UPDATE. Returns (version, updated_rows).
    (FunctionIdentifier("graft_update_where"),
      new ExpressionInfo("graft.cdc.CdcPipeline", "graft_update_where"),
      (args: Seq[Expression]) => {
        val path = strLit(args(0), "graft_update_where path")
        val pk = csvArg(args(1), "graft_update_where pk list")
        val pred = predArg(args(2), "graft_update_where predicate")
        val set = setArg(args(3), "graft_update_where SET")
        val spark = active
        val (v, n) = graft.cdc.CdcPipeline.updateWhere(spark, path, pk, pred, set)
          .getOrElse(throw new IllegalArgumentException(s"no graft store at $path"))
        import spark.implicits._
        plan(Seq((v, n)).toDF("version", "updated_rows"))
      }),
    // graft_optimize(path, 'pk'[, 'sortCol1,sortCol2']) → A40 file
    // clustering (sort default = the PK). Returns (version).
    (FunctionIdentifier("graft_optimize"),
      new ExpressionInfo("graft.cdc.CdcPipeline", "graft_optimize"),
      (args: Seq[Expression]) => {
        val path = strLit(args(0), "graft_optimize path")
        val pk = csvArg(args(1), "graft_optimize pk list")
        val sortCols = if (args.length > 2)
          csvArg(args(2), "graft_optimize sort list") else pk
        val spark = active
        val v = graft.cdc.CdcPipeline.optimize(spark, path, pk, sortCols)
          .getOrElse(throw new IllegalArgumentException(s"no graft store at $path"))
        import spark.implicits._
        plan(Seq(v).toDF("version"))
      }),
    // graft_zorder(path, 'pk', 'zcol1,zcol2') → A43 multi-dimension
    // Z-order clustering (2-4 numeric dims). Returns (version).
    (FunctionIdentifier("graft_zorder"),
      new ExpressionInfo("graft.cdc.CdcPipeline", "graft_zorder"),
      (args: Seq[Expression]) => {
        val path = strLit(args(0), "graft_zorder path")
        val pk = csvArg(args(1), "graft_zorder pk list")
        val zCols = csvArg(args(2), "graft_zorder z-column list")
        val spark = active
        val v = graft.cdc.CdcPipeline.optimizeZorder(spark, path, pk, zCols)
          .getOrElse(throw new IllegalArgumentException(s"no graft store at $path"))
        import spark.implicits._
        plan(Seq(v).toDF("version"))
      }),
    // graft_set_property(path, key, value) / graft_unset_property
    // (path, key) / graft_properties(path) → A77 TBLPROPERTIES.
    (FunctionIdentifier("graft_set_property"),
      new ExpressionInfo("graft.cdc.CdcPipeline", "graft_set_property"),
      (args: Seq[Expression]) => {
        val path = strLit(args(0), "graft_set_property path")
        val key = strLit(args(1), "graft_set_property key")
        val value = strLit(args(2), "graft_set_property value")
        val spark = active
        val v = graft.cdc.CdcPipeline.setTableProperties(path, Map(key -> value))
          .getOrElse(throw new IllegalArgumentException(s"no graft store at $path"))
        import spark.implicits._
        plan(Seq(v).toDF("version"))
      }),
    (FunctionIdentifier("graft_unset_property"),
      new ExpressionInfo("graft.cdc.CdcPipeline", "graft_unset_property"),
      (args: Seq[Expression]) => {
        val path = strLit(args(0), "graft_unset_property path")
        val key = strLit(args(1), "graft_unset_property key")
        val spark = active
        import spark.implicits._
        plan(graft.cdc.CdcPipeline.unsetTableProperties(path, Seq(key)).toSeq
          .toDF("version"))
      }),
    (FunctionIdentifier("graft_properties"),
      new ExpressionInfo("graft.cdc.CdcPipeline", "graft_properties"),
      (args: Seq[Expression]) => {
        val path = strLit(args(0), "graft_properties path")
        val spark = active
        import spark.implicits._
        plan(graft.cdc.CdcPipeline.tableProperties(path).toSeq.sorted
          .toDF("key", "value"))
      }),
    // graft_maintain(path, 'pk') → the A64 one-call driver; since r9
    // the policy resolves from the table's own `graft.maintain.*`
    // properties (A77 — Delta's table-flag auto modes), defaults when
    // unset. Returns the report as one row.
    (FunctionIdentifier("graft_maintain"),
      new ExpressionInfo("graft.cdc.CdcPipeline", "graft_maintain"),
      (args: Seq[Expression]) => {
        val path = strLit(args(0), "graft_maintain path")
        val pk = csvArg(args(1), "graft_maintain pk list")
        val spark = active
        val r = graft.cdc.CdcPipeline.maintainAuto(spark, path, pk)
          .getOrElse(throw new IllegalArgumentException(s"no graft store at $path"))
        import spark.implicits._
        plan(Seq((r.foldedDvVersion, r.optimizedBuckets.toSeq.sorted,
          r.optimizeVersion, r.bloomRebuilt, r.expired, r.vacuumed,
          r.manifestFiles))
          .toDF("folded_dv_version", "optimized_buckets", "optimize_version",
            "bloom_rebuilt", "expired", "vacuumed", "manifest_files"))
      }),
    // graft_vacuum(path[, keepVersions]) → A21 reclaim (the DRY RUN
    // twin is graft_vacuum_preview). One row per reclaimed version.
    (FunctionIdentifier("graft_vacuum"),
      new ExpressionInfo("graft.cdc.CdcPipeline", "graft_vacuum"),
      (args: Seq[Expression]) => {
        val path = strLit(args(0), "graft_vacuum path")
        val keep = if (args.length > 1)
          intLit(args(1), "graft_vacuum keepVersions") else 2
        val spark = active
        import spark.implicits._
        plan(graft.cdc.CdcPipeline.vacuum(path, keep).toDF("reclaimed_version"))
      }),
    // graft_restore(path, version) → A47 roll-forward RESTORE (a new
    // version carrying the old state's references; history preserved).
    // Returns (restored_as).
    (FunctionIdentifier("graft_restore"),
      new ExpressionInfo("graft.cdc.CdcPipeline", "graft_restore"),
      (args: Seq[Expression]) => {
        val path = strLit(args(0), "graft_restore path")
        val v = longLit(args(1), "graft_restore version")
        val spark = active
        val restored = graft.cdc.CdcPipeline.restoreSnapshot(path, v).getOrElse(
          throw new IllegalArgumentException(
            s"cannot restore $path to v$v (missing store, future version, " +
              "or vacuumed state)"))
        import spark.implicits._
        plan(Seq(restored).toDF("restored_as"))
      }),
    // graft_expire(path, olderThanUs) → A62 time-based snapshot
    // expiration. One row per reclaimed version.
    (FunctionIdentifier("graft_expire"),
      new ExpressionInfo("graft.cdc.CdcPipeline", "graft_expire"),
      (args: Seq[Expression]) => {
        val path = strLit(args(0), "graft_expire path")
        val ts = longLit(args(1), "graft_expire olderThanUs")
        val spark = active
        import spark.implicits._
        plan(graft.cdc.CdcPipeline.expireSnapshots(path, ts)
          .toDF("reclaimed_version"))
      }),
    // graft_bloom_index(path, column[, expectedPerBucket[, fpp
    // as 1/x]]) → A54 full index build; the point-lookup read side is
    // graft_point. Returns (version).
    (FunctionIdentifier("graft_bloom_index"),
      new ExpressionInfo("graft.cdc.CdcPipeline", "graft_bloom_index"),
      (args: Seq[Expression]) => {
        val path = strLit(args(0), "graft_bloom_index path")
        val column = strLit(args(1), "graft_bloom_index column")
        val expected = if (args.length > 2)
          longLit(args(2), "graft_bloom_index expectedPerBucket") else 100000L
        val spark = active
        val v = graft.cdc.CdcPipeline.buildBloomIndex(spark, path, column, expected)
          .getOrElse(throw new IllegalArgumentException(s"no graft store at $path"))
        import spark.implicits._
        plan(Seq(v).toDF("version"))
      }),
    // graft_replicate(srcPath, dstPath, 'pk1,pk2') → A82: converge
    // the replica at dstPath to srcPath's current committed version
    // (bootstrap on first call). Returns (mode, src_version,
    // dst_version, change_rows).
    (FunctionIdentifier("graft_replicate"),
      new ExpressionInfo("graft.cdc.Replication", "graft_replicate"),
      (args: Seq[Expression]) => {
        val src = strLit(args(0), "graft_replicate srcPath")
        val dst = strLit(args(1), "graft_replicate dstPath")
        val pk = strLit(args(2), "graft_replicate pk")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val spark = active
        val r = graft.cdc.Replication.replicate(spark, src, dst, pk)
          .getOrElse(throw new IllegalArgumentException(s"no graft store at $src"))
        import spark.implicits._
        plan(Seq((r.mode, r.srcVersion, r.dstVersion, r.changeRows))
          .toDF("mode", "src_version", "dst_version", "change_rows"))
      }),
    // graft_replica_status(dstPath) → the replica's committed
    // (source path, applied source version) cursor.
    (FunctionIdentifier("graft_replica_status"),
      new ExpressionInfo("graft.cdc.Replication", "graft_replica_status"),
      (args: Seq[Expression]) => {
        val dst = strLit(args(0), "graft_replica_status dstPath")
        val (src, v) = graft.cdc.Replication.appliedSource(dst)
          .getOrElse(throw new IllegalArgumentException(
            s"$dst is not a replica (no replication cursor)"))
        val spark = active
        import spark.implicits._
        plan(Seq((src, v)).toDF("source_path", "applied_src_version"))
      }),
    // graft_ndv_index(path, 'c1,c2,…') → A83 ANALYZE: build (or
    // rebuild) the per-bucket NDV sketch index for the listed
    // columns, published as a metadata version. Returns (version).
    (FunctionIdentifier("graft_ndv_index"),
      new ExpressionInfo("graft.cdc.CdcPipeline", "graft_ndv_index"),
      (args: Seq[Expression]) => {
        val path = strLit(args(0), "graft_ndv_index path")
        val cols = strLit(args(1), "graft_ndv_index columns")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val spark = active
        val v = graft.cdc.CdcPipeline.buildNdvIndex(spark, path, cols)
          .getOrElse(throw new IllegalArgumentException(s"no graft store at $path"))
        import spark.implicits._
        plan(Seq(v).toDF("version"))
      }),
    // graft_ndv(path, column) → the column's NDV estimate with honest
    // coverage: (column, estimate, covered_buckets, total_buckets).
    (FunctionIdentifier("graft_ndv"),
      new ExpressionInfo("graft.cdc.CdcPipeline", "graft_ndv"),
      (args: Seq[Expression]) => {
        val path = strLit(args(0), "graft_ndv path")
        val column = strLit(args(1), "graft_ndv column")
        val spark = active
        val r = graft.cdc.CdcPipeline.ndvStats(spark, path, column)
          .getOrElse(throw new IllegalArgumentException(
            s"column $column of $path is not NDV-indexed"))
        import spark.implicits._
        plan(Seq((r.column, r.estimate, r.coveredBuckets.toLong,
          r.totalBuckets.toLong))
          .toDF("column", "estimate", "covered_buckets", "total_buckets"))
      }),
    // graft_add_constraint(path, name, predicateSql) → A71 ALTER TABLE
    // ADD CONSTRAINT … CHECK: validates the whole current snapshot,
    // then publishes the declaration metadata-only. Returns (version).
    (FunctionIdentifier("graft_add_constraint"),
      new ExpressionInfo("graft.cdc.CdcPipeline", "graft_add_constraint"),
      (args: Seq[Expression]) => {
        val path = strLit(args(0), "graft_add_constraint path")
        val name = strLit(args(1), "graft_add_constraint name")
        val pred = strLit(args(2), "graft_add_constraint predicate")
        val spark = active
        val v = graft.cdc.CdcPipeline.addCheckConstraint(spark, path, name, pred)
          .getOrElse(throw new IllegalArgumentException(s"no graft store at $path"))
        import spark.implicits._
        plan(Seq(v).toDF("version"))
      }),
    // graft_drop_constraint(path, name) → A71 DROP CONSTRAINT,
    // metadata-only. Returns (version).
    (FunctionIdentifier("graft_drop_constraint"),
      new ExpressionInfo("graft.cdc.CdcPipeline", "graft_drop_constraint"),
      (args: Seq[Expression]) => {
        val path = strLit(args(0), "graft_drop_constraint path")
        val name = strLit(args(1), "graft_drop_constraint name")
        val v = graft.cdc.CdcPipeline.dropCheckConstraint(path, name)
          .getOrElse(throw new IllegalArgumentException(
            s"no constraint '$name' on graft store at $path"))
        val spark = active
        import spark.implicits._
        plan(Seq(v).toDF("version"))
      }),
    // graft_constraints(path) → the declared CHECK constraints of the
    // current version, one (name, predicate) row each.
    (FunctionIdentifier("graft_constraints"),
      new ExpressionInfo("graft.cdc.CdcPipeline", "graft_constraints"),
      (args: Seq[Expression]) => {
        val path = strLit(args(0), "graft_constraints path")
        val spark = active
        import spark.implicits._
        plan(graft.cdc.CdcPipeline.checkConstraints(path).toSeq.sorted
          .toDF("name", "predicate"))
      }),
    // graft_add_generated(path, name, typeDdl, exprSql) → A72 virtual
    // generated column (computed on read, zero stored bytes).
    // Returns (version).
    (FunctionIdentifier("graft_add_generated"),
      new ExpressionInfo("graft.cdc.CdcPipeline", "graft_add_generated"),
      (args: Seq[Expression]) => {
        val path = strLit(args(0), "graft_add_generated path")
        val name = strLit(args(1), "graft_add_generated name")
        val ddl = strLit(args(2), "graft_add_generated type DDL")
        val e = strLit(args(3), "graft_add_generated expression")
        val v = graft.cdc.CdcPipeline.addGeneratedColumn(path, name,
          org.apache.spark.sql.types.DataType.fromDDL(ddl), e)
          .getOrElse(throw new IllegalArgumentException(s"no graft store at $path"))
        val spark = active
        import spark.implicits._
        plan(Seq(v).toDF("version"))
      }),
    // graft_drop_generated(path, name) → drop the A72 declaration,
    // metadata-only. Returns (version).
    (FunctionIdentifier("graft_drop_generated"),
      new ExpressionInfo("graft.cdc.CdcPipeline", "graft_drop_generated"),
      (args: Seq[Expression]) => {
        val path = strLit(args(0), "graft_drop_generated path")
        val name = strLit(args(1), "graft_drop_generated name")
        val v = graft.cdc.CdcPipeline.dropGeneratedColumn(path, name)
          .getOrElse(throw new IllegalArgumentException(
            s"no generated column '$name' on graft store at $path"))
        val spark = active
        import spark.implicits._
        plan(Seq(v).toDF("version"))
      }),
    // graft_detail(path) → A73 DESCRIBE DETAIL: one-row operational
    // summary (layout, footer/live rows, metadata inventory) from
    // driver metadata + footers only.
    (FunctionIdentifier("graft_detail"),
      new ExpressionInfo("graft.cdc.CdcPipeline", "graft_detail"),
      (args: Seq[Expression]) => {
        val path = strLit(args(0), "graft_detail path")
        val spark = active
        plan(graft.cdc.CdcPipeline.describeDetail(spark, path)
          .getOrElse(throw new IllegalArgumentException(s"no graft store at $path")))
      }),
    // graft_symlink_manifest(path) → A74 GENERATE
    // symlink_format_manifest: one row per exported data-file path.
    (FunctionIdentifier("graft_symlink_manifest"),
      new ExpressionInfo("graft.cdc.CdcPipeline", "graft_symlink_manifest"),
      (args: Seq[Expression]) => {
        val path = strLit(args(0), "graft_symlink_manifest path")
        val spark = active
        import spark.implicits._
        plan(graft.cdc.CdcPipeline.generateSymlinkManifest(path)
          .getOrElse(throw new IllegalArgumentException(s"no graft store at $path"))
          .toDF("file"))
      }),
    // graft_generated(path) → declared generated columns, one
    // (name, type, expression) row each.
    (FunctionIdentifier("graft_generated"),
      new ExpressionInfo("graft.cdc.CdcPipeline", "graft_generated"),
      (args: Seq[Expression]) => {
        val path = strLit(args(0), "graft_generated path")
        val spark = active
        import spark.implicits._
        plan(graft.cdc.CdcPipeline.generatedColumns(path).toSeq
          .map { case (n, (t, e)) => (n, t.simpleString, e) }.sorted
          .toDF("name", "type", "expression"))
      }),
    // graft_files(path) → A80 per-file metadata listing (Iceberg's
    // table$files): bucket, version ref, path, footer rows, bytes.
    (FunctionIdentifier("graft_files"),
      new ExpressionInfo("graft.cdc.CdcPipeline", "graft_files"),
      (args: Seq[Expression]) => {
        val path = strLit(args(0), "graft_files path")
        plan(graft.cdc.CdcPipeline.describeFiles(active, path)
          .getOrElse(throw new IllegalArgumentException(
            s"no graft store at $path")))
      }),
    // graft_create_like(path, destPath) → A81 schema-only clone: a
    // NEW empty store carrying schema/buckets/constraints/virtual
    // columns/properties, none of the data. Returns (version).
    (FunctionIdentifier("graft_create_like"),
      new ExpressionInfo("graft.cdc.CdcPipeline", "graft_create_like"),
      (args: Seq[Expression]) => {
        val path = strLit(args(0), "graft_create_like path")
        val dest = strLit(args(1), "graft_create_like destPath")
        val v = graft.cdc.CdcPipeline.createLike(path, dest)
          .getOrElse(throw new IllegalArgumentException(
            s"no graft store at $path"))
        val spark = active
        import spark.implicits._
        plan(Seq(v).toDF("version"))
      }),
    // ---- A78 named refs: the tag/branch lifecycle in plain SQL ----
    // graft_refs(path) → every named ref, (kind, name, target).
    (FunctionIdentifier("graft_refs"),
      new ExpressionInfo("graft.cdc.CdcPipeline", "graft_refs"),
      (args: Seq[Expression]) => {
        val path = strLit(args(0), "graft_refs path")
        val spark = active
        import spark.implicits._
        plan(graft.cdc.CdcPipeline.listRefs(path).toDF("kind", "name", "target"))
      }),
    // graft_snapshot_tag(path, name) → time travel by NAME.
    (FunctionIdentifier("graft_snapshot_tag"),
      new ExpressionInfo("graft.cdc.CdcPipeline", "graft_snapshot_tag"),
      (args: Seq[Expression]) => {
        val path = strLit(args(0), "graft_snapshot_tag path")
        val name = strLit(args(1), "graft_snapshot_tag name")
        plan(graft.cdc.CdcPipeline.readSnapshotAtTag(active, path, name)
          .getOrElse(throw new IllegalArgumentException(
            s"no tag '$name' on graft store at $path")))
      }),
    // graft_create_tag(path, name[, version]) → pin a version by
    // name; vacuum keeps it readable until graft_drop_tag. Returns
    // (name, version).
    (FunctionIdentifier("graft_create_tag"),
      new ExpressionInfo("graft.cdc.CdcPipeline", "graft_create_tag"),
      (args: Seq[Expression]) => {
        val path = strLit(args(0), "graft_create_tag path")
        val name = strLit(args(1), "graft_create_tag name")
        val v = if (args.length > 2)
          Some(longLit(args(2), "graft_create_tag version")) else None
        val tagged = graft.cdc.CdcPipeline.createTag(path, name, v)
          .getOrElse(throw new IllegalArgumentException(
            s"no such version to tag on graft store at $path"))
        val spark = active
        import spark.implicits._
        plan(Seq((name, tagged)).toDF("name", "version"))
      }),
    // graft_drop_tag(path, name) → release the pin. Returns (dropped).
    (FunctionIdentifier("graft_drop_tag"),
      new ExpressionInfo("graft.cdc.CdcPipeline", "graft_drop_tag"),
      (args: Seq[Expression]) => {
        val path = strLit(args(0), "graft_drop_tag path")
        val name = strLit(args(1), "graft_drop_tag name")
        val spark = active
        import spark.implicits._
        plan(Seq(graft.cdc.CdcPipeline.dropTag(path, name)).toDF("dropped"))
      }),
    // graft_create_branch(path, branchPath, name) → zero-copy
    // writable fork (the W of WAP). Returns (fork_version).
    (FunctionIdentifier("graft_create_branch"),
      new ExpressionInfo("graft.cdc.CdcPipeline", "graft_create_branch"),
      (args: Seq[Expression]) => {
        val path = strLit(args(0), "graft_create_branch path")
        val branch = strLit(args(1), "graft_create_branch branchPath")
        val name = strLit(args(2), "graft_create_branch name")
        val v = graft.cdc.CdcPipeline.createBranch(path, branch, name)
          .getOrElse(throw new IllegalArgumentException(
            s"no graft store at $path"))
        val spark = active
        import spark.implicits._
        plan(Seq(v).toDF("fork_version"))
      }),
    // graft_publish_branch(branchPath) → fast-forward the audited
    // branch state upstream (the P of WAP); refuses if the upstream
    // moved since the fork. Returns (version).
    (FunctionIdentifier("graft_publish_branch"),
      new ExpressionInfo("graft.cdc.CdcPipeline", "graft_publish_branch"),
      (args: Seq[Expression]) => {
        val branch = strLit(args(0), "graft_publish_branch branchPath")
        val v = graft.cdc.CdcPipeline.publishBranch(branch)
          .getOrElse(throw new IllegalArgumentException(
            s"no branch store at $branch (missing _upstream record)"))
        val spark = active
        import spark.implicits._
        plan(Seq(v).toDF("version"))
      }),
    // graft_drop_branch(path, name) → drop the ref + the branch's
    // pins on the source. Returns (dropped).
    (FunctionIdentifier("graft_drop_branch"),
      new ExpressionInfo("graft.cdc.CdcPipeline", "graft_drop_branch"),
      (args: Seq[Expression]) => {
        val path = strLit(args(0), "graft_drop_branch path")
        val name = strLit(args(1), "graft_drop_branch name")
        val spark = active
        import spark.implicits._
        plan(Seq(graft.cdc.CdcPipeline.dropBranch(path, name)).toDF("dropped"))
      }))

  /** Register into an already-built session (tests, REPLs). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
    tableFunctions.foreach { case (id, info, builder) =>
      spark.sessionState.tableFunctionRegistry.registerFunction(id, info, builder)
    }
  }
}
