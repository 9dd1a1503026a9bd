package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Typed form of the reference's `config_file5` row
  * (reference: tables_list.sql `config_file5` DDL;
  * bigquery_syntex_merge_sql/config-file_5.sql): one entry per
  * (target database, target table, cdc source), the per-column
  * conversion-rule lists, and the `is_active` gate.
  *
  * The dynamic-SQL knobs of the reference (epoc_cols, epoc_nano_cols,
  * bit_to_int_col, ... as comma-joined strings) become
  * `TypedProjection.FieldSpec`s; the INFORMATION_SCHEMA lookup
  * becomes the target schema the caller already holds.
  */
/** A derived aggregate table the pipeline maintains *incrementally*
  * alongside its target (the reference refreshes its derived/job-log
  * tables inside the merge procedure — merge.sql:520–581; this
  * generalizes that to per-group count/sum rollups via
  * [[IncrementalAgg]]).
  *
  * `groupCols`/`valueCols` name columns of the target schema after
  * `derive` ran — `derive` (default identity) lets a rollup group on
  * computed columns (e.g. a bucketed timestamp) without widening the
  * target itself; each value column contributes a maintained
  * `sum_<col>` next to the shared `n_rows`. State lives in its own
  * small versioned bucketed store under the target (see
  * `CdcPipeline.rollupPath`), committed with the target-version
  * idempotence key, so crash replays never double-apply a delta.
  *
  * `derive` contract: it may add/compute columns but MUST pass
  * through the target's PK columns and (when its input carries one)
  * the `__op` envelope column — the incremental maintenance retires
  * old contributions by PK lookup and routes deletes by `__op`
  * (`IncrementalAgg.applyDelta`), so a derive that projects either
  * away has no delta path. `maintainRollups` validates this on every
  * maintenance pass and fails with the rollup's name rather than a
  * distant unresolved-column analysis error.
  */
final case class RollupSpec(
    name: String,
    groupCols: Seq[String],
    valueCols: Seq[String],
    derive: DataFrame => DataFrame = identity,
    numBuckets: Option[Int] = None,
    /** Columns maintained as `min_<col>`/`max_<col>` next to the sums.
      * Inserts fold in monotonically; a window that deletes/updates a
      * group's recorded extreme triggers a rescan of just that group
      * (see `IncrementalAgg.applyDelta`). Changing a rollup's measure
      * set later is safe: the next maintenance pass notices the state
      * schema mismatch and recomputes from the snapshot.
      */
    minCols: Seq[String] = Nil,
    maxCols: Seq[String] = Nil,
    /** Columns whose running average the rollup serves: the state
      * stores `sum_<col>` (shared with valueCols) plus the non-null
      * `cnt_<col>` — both invertible under deletes — and
      * `CdcPipeline.readRollup` derives `avg_<col>` at read time.
      * No extra state beyond the count; exact, not approximate.
      */
    avgCols: Seq[String] = Nil,
    /** Columns maintained as mergeable HLL distinct-count sketches
      * (`hll_<col>`, integral/string/binary input): inserts fold in
      * mergeably, a window that retires ANY row of a group rescans
      * that group (sketches support no removal — the A31 rescan
      * pattern, delta-bounded). `readRollup` derives the
      * `approx_distinct_<col>` estimate at read time.
      */
    distinctCols: Seq[String] = Nil,
    /** Columns whose population variance/stddev the rollup serves:
      * the state adds `sumsq_<col>` next to the shared `sum_<col>`/
      * `cnt_<col>` — the whole vector is invertible under deletes
      * (no rescan, unlike min/max/distinct). `readRollup` derives
      * `var_<col>`/`stddev_<col>` at read. Integral input expected
      * (the cents idiom): sumsq must not overflow a long.
      */
    varCols: Seq[String] = Nil,
    /** Group columns to track per-bucket min/max manifest stats for
      * (the same data-skipping index the target store carries —
      * [[CdcPipeline.readRange]] on the rollup's path prunes on it).
      * Group columns are the natural candidates: rollup range reads
      * filter on groups, measures change every advancement.
      */
    statsCols: Seq[String] = Nil) {
  require(name.matches("[A-Za-z0-9_-]+"), s"rollup name must be path-safe: $name")
  require(groupCols.nonEmpty, "rollup needs at least one group column")
  require(valueCols.nonEmpty || minCols.nonEmpty || maxCols.nonEmpty ||
    avgCols.nonEmpty || distinctCols.nonEmpty || varCols.nonEmpty,
    "rollup needs at least one measure column (value/min/max/avg/distinct/var)")

  /** The measure vector [[IncrementalAgg]] maintains for this spec. */
  def measures: IncrementalAgg.Measures =
    IncrementalAgg.Measures(valueCols, avgCols, minCols, maxCols, distinctCols, varCols)

  /** State schema this spec maintains (order is the published one). */
  def stateCols: Seq[String] = measures.stateCols(groupCols)
}

/** Declaration of a maintained SCD Type-2 history for a target (the
  * history-preserving companion of the snapshot merge — see [[Scd2]]
  * for the slice semantics and [[Scd2Store]] for the storage layout).
  * Declared on [[CdcTableConfig.scd2]], the pipeline then advances the
  * persisted history inside every batch `run` / streaming micro-batch
  * under a per-window idempotence key, with write I/O ∝ delta: closed
  * slices are append-only, only the open slices of touched PKs are
  * rewritten (bucket-granular).
  *
  * `payloadCols` — the columns carried per slice (empty = every
  * target column except the PK). `tsCol` — when a target predates its
  * SCD2 declaration, the bootstrap builds open slices from the current
  * snapshot and takes `valid_from_us` from this target column (absent
  * = 0, "valid since the beginning"). `numBuckets` — bucket count of
  * the open-slice store (default: the target's own).
  *
  * Contract: declare SCD2 when the target is created if the full
  * history matters — a later declaration bootstraps from the current
  * snapshot ("history begins here") because the pre-declaration
  * change events are gone; un-declaring and re-declaring likewise
  * loses the interim windows. A target is maintained by ONE mode
  * (batch or streaming) — the idempotence key is the watermark window
  * end in batch mode and the micro-batch id in streaming, and the two
  * sequences don't compare.
  */
final case class Scd2Spec(
    payloadCols: Seq[String] = Nil,
    tsCol: Option[String] = None,
    numBuckets: Option[Int] = None,
    /** When set, the maintenance pass compacts the closed-slice dirs
      * (`Scd2Store.compactClosed`) whenever more than this many are
      * live — bounding key-lookup fan-out at O(1) dirs however many
      * windows have run, the same way the job log bounds its file
      * count. Runs inside the single writer's slot; readers racing the
      * post-swap delete have the same (brief) exposure `vacuum` has.
      */
    autoCompactAt: Option[Int] = None)

final case class CdcTableConfig(
    cdcTable: String,
    sourcePath: String,
    targetDb: String,
    targetTable: String,
    targetPath: String,
    pk: Seq[String],
    fieldSpecs: Seq[TypedProjection.FieldSpec],
    passthrough: Seq[String] = Nil,
    partitionField: Option[String] = None,
    isActive: Boolean = true,
    /** PK-hash bucket count of the target's incremental-publish
      * layout — fixed at the target's first publish. None = the
      * session's shuffle parallelism. Size it like any file layout:
      * ~target_size / desired_file_size.
      */
    numBuckets: Option[Int] = None,
    /** Rollups the pipeline maintains automatically after every merge
      * window / micro-batch (batch `run` and streaming
      * `mergeBatchToTarget` both apply through `CdcPipeline.apply`).
      */
    rollups: Seq[RollupSpec] = Nil,
    /** When set, every successful publish vacuums the target AND each
      * rollup store down to this many recent versions — without it a
      * streaming merge leaks one superseded version per micro-batch
      * forever. Clamped to ≥ 2: the torn-publish rollup catch-up reads
      * version−1 by time travel, which must survive the GC window.
      */
    autoVacuumKeep: Option[Int] = None,
    /** When set, the pipeline maintains a persisted SCD Type-2
      * history under the target (see [[Scd2Spec]]/[[Scd2Store]]).
      */
    scd2: Option[Scd2Spec] = None,
    /** Non-key columns to track per-bucket min/max stats for in the
      * target's manifest (the data-skipping index behind
      * `CdcPipeline.readRange`). Numeric or string columns only;
      * maintenance cost is one delta-sized scan+agg per publish.
      */
    statsCols: Seq[String] = Nil,
    /** Write-time data-quality expectations ([[Expectations]], A39):
      * applied to every window's upsert rows after typed projection,
      * BEFORE the merge/rollups/SCD2 history — warn-counted, dropped,
      * quarantined under `_quarantine/w=<windowEnd>`, or batch-failing
      * per each declaration's action. Deletes pass ungated (PK-only
      * payload).
      */
    expectations: Seq[Expectations.Expectation] = Nil) {
  /** Target schema = pk ++ projected ++ passthrough columns. */
  def targetCols: Seq[String] =
    (pk ++ fieldSpecs.map(_.as) ++ passthrough).distinct

  /** Typed projection of an envelope frame (merge.sql:220–304): the
    * `fieldSpecs` rules parse the JSON payload, and the row keeps
    * `pk`, the envelope's `__op`/ts/pos/load_ts columns and
    * `passthrough`. Row-preserving and uncompacted, so one frame
    * feeds the merge's compaction and the SCD2 history alike.
    */
  def project(env: DataFrame): DataFrame =
    TypedProjection.project(env, CdcEnvelope.DataCol, fieldSpecs,
      keep = pk ++ Seq(CdcEnvelope.OpCol, CdcEnvelope.TsCol, CdcEnvelope.PosCol,
        CdcEnvelope.LoadTsCol) ++ passthrough)
}

object CdcConfig {

  /** Parse the reference's comma-separated pk string ("a,b , c" →
    * Seq(a, b, c); merge.sql:166–168 does the same TRIM/SPLIT).
    */
  def parsePk(pk: String): Seq[String] =
    pk.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** The reference's per-rule config lists, by rule name. The
    * `datetime_null` sentinel (a per-table scalar, step-8 §2)
    * upgrades every IsoDatetime column to the null-sentinel variant.
    */
  def specsFromLists(lists: Map[String, String],
      datetimeNull: Option[String] = None): Seq[TypedProjection.FieldSpec] = {
    import TypedProjection._
    val ruleOf: Map[String, Rule] = Map(
      "epoc_cols" -> EpochSeconds,
      "epoc_nano_cols" -> EpochNanos,
      "epoc_day_cols" -> EpochDays,
      "bit_to_int_col" -> BitToInt,
      "non_epoch_datetime_col" -> IsoDatetime,
      "datetime_to_int_val_col" -> DatetimeToInt,
      "epoc_datetime_ist" -> EpochSecondsIst,
      "col_value_as_current_time_ist" -> CurrentTimeIst,
      "row_key_binary" -> RowKeyBinary,
      "row_key_timestamp" -> RowKeyTimestamp)
    lists.toSeq.flatMap { case (list, cols) =>
      ruleOf.get(list).toSeq.flatMap { rule =>
        val effective = (rule, datetimeNull) match {
          case (IsoDatetime, Some(sentinel)) => IsoDatetimeNullIf(sentinel)
          case _ => rule
        }
        parsePk(cols).map(c => FieldSpec(c, effective))
      }
    }
  }

  /** Parse a config-table rollup list: entries separated by `;`, each
    * `name:grp1+grp2:val1+val2[:min=a+b][:max=c+d][:avg=e][:distinct=f]`
    * (the value list may be empty when a measure segment is present;
    * derive is identity — a config table can only name existing
    * target columns; computed-column rollups are declared in code via
    * [[RollupSpec]]).
    */
  def parseRollups(s: String): Seq[RollupSpec] =
    s.split(";").map(_.trim).filter(_.nonEmpty).toSeq.map { entry =>
      def split(v: String): Seq[String] =
        v.split("\\+").map(_.trim).filter(_.nonEmpty).toSeq
      entry.split(":").map(_.trim) match {
        case parts if parts.length >= 3 =>
          val extras = parts.drop(3)
          val kinds = Seq("min", "max", "avg", "distinct", "var", "stats")
          val bad = extras.filterNot(p => kinds.exists(k => p.startsWith(k + "=")))
          if (bad.nonEmpty) throw new IllegalArgumentException(
            s"rollup segments after the value list must be one of " +
              s"${kinds.map(_ + "=").mkString("/")}, got: $entry")
          def of(kind: String): Seq[String] = extras.toIndexedSeq.filter(_.startsWith(kind + "="))
            .flatMap(p => split(p.stripPrefix(kind + "=")))
          RollupSpec(parts(0), split(parts(1)), split(parts(2)),
            minCols = of("min"), maxCols = of("max"),
            avgCols = of("avg"), distinctCols = of("distinct"),
            varCols = of("var"), statsCols = of("stats"))
        case _ => throw new IllegalArgumentException(
          s"rollup entry must be name:grp1+grp2:val1+val2[:min=a][:max=b]" +
            s"[:avg=e][:distinct=f], got: $entry")
      }
    }

  /** Parse a config-table expectations list: entries separated by
    * `;`, each `name@action@predicate` with action one of
    * warn/drop/quarantine/fail — the predicate is everything after
    * the second `@`, so it may itself contain `@` (string literals)
    * but not `;`. Richer predicates are declared in code via
    * [[Expectations.Expectation]].
    */
  def parseExpectations(s: String): Seq[Expectations.Expectation] =
    s.split(";").map(_.trim).filter(_.nonEmpty).toSeq.map { entry =>
      entry.split("@", 3) match {
        case Array(name, action, pred) if pred.trim.nonEmpty =>
          val act = action.trim.toLowerCase match {
            case "warn" => Expectations.Warn
            case "drop" => Expectations.Drop
            case "quarantine" => Expectations.Quarantine
            case "fail" => Expectations.Fail
            case a => throw new IllegalArgumentException(
              s"expectation action must be warn/drop/quarantine/fail, got: $a")
          }
          Expectations.Expectation(name.trim, pred.trim, act)
        case _ => throw new IllegalArgumentException(
          s"expectation entry must be name@action@predicate, got: $entry")
      }
    }

  /** Parse a config-table SCD2 declaration: `*` (all non-PK target
    * columns) or `col1+col2`, with an optional `@tsCol` suffix naming
    * the bootstrap valid-from column — e.g. `*@updated_at`.
    */
  def parseScd2(s: String): Scd2Spec = {
    val (colsPart, ts) = s.split("@", 2) match {
      case Array(c, t) => (c.trim, Some(t.trim).filter(_.nonEmpty))
      case Array(c) => (c.trim, None)
    }
    val pays =
      if (colsPart == "*" || colsPart.isEmpty) Nil
      else colsPart.split("\\+").map(_.trim).filter(_.nonEmpty).toSeq
    Scd2Spec(payloadCols = pays, tsCol = ts)
  }

  /** The reference DDL's literal column names → the normalized names
    * this loader reads (tables_list.sql:5–22 `config_file5`: the
    * target columns are prefixed `mysql_`), so a config table shaped
    * exactly like the reference loads without renaming.
    */
  private val ColumnAliases = Map(
    "mysql_target_database" -> "target_db",
    "mysql_target_table" -> "target_table",
    "mysql_partition_field" -> "partition_field")

  /** Load active configs from a config table (parquet or DataFrame
    * with config_file5-shaped columns — either the normalized names
    * or the reference DDL's literal `mysql_*` names).
    */
  def loadActive(df0: DataFrame): Seq[CdcTableConfig] = {
    val df = ColumnAliases.foldLeft(df0) { case (d, (from, to)) =>
      if (d.columns.contains(from) && !d.columns.contains(to))
        d.withColumnRenamed(from, to)
      else d
    }
    df.filter(col("is_active") === 1).collect().toSeq.map { r =>
      def s(n: String): String = r.getAs[String](n)
      def opt(n: String): Option[String] =
        if (df.columns.contains(n)) Option(r.getAs[String](n)).filter(_.nonEmpty) else None
      // Optional bucket-count column (int or numeric string): lets a
      // config-table deployment size the fixed publish layout
      // deliberately instead of inheriting the session's
      // shuffle-partition count at first publish (after which the
      // manifest freezes it).
      def optBuckets(n: String): Option[Int] =
        if (!df.columns.contains(n)) None
        else Option(r.get(r.fieldIndex(n))).flatMap {
          case i: Int => Some(i)
          case l: Long => Some(l.toInt)
          case v => scala.util.Try(v.toString.trim.toInt).toOption
        }.filter(_ > 0)
      val lists = Seq("epoc_cols", "epoc_nano_cols", "epoc_day_cols", "bit_to_int_col",
        "non_epoch_datetime_col", "datetime_to_int_val_col", "row_key_binary",
        "row_key_timestamp", "epoc_datetime_ist", "col_value_as_current_time_ist")
        .flatMap(n => opt(n).map(n -> _)).toMap
      CdcTableConfig(
        cdcTable = s("cdc_table"),
        sourcePath = s("source_fp"),
        targetDb = s("target_db"),
        targetTable = s("target_table"),
        targetPath = s("target_fp"),
        pk = parsePk(s("pk")),
        fieldSpecs = specsFromLists(lists, opt("datetime_null")),
        passthrough = opt("passthrough").map(parsePk).getOrElse(Nil),
        partitionField = opt("partition_field"),
        isActive = true,
        numBuckets = optBuckets("num_buckets"),
        rollups = opt("rollups").map(parseRollups).getOrElse(Nil),
        autoVacuumKeep = optBuckets("auto_vacuum_keep"),
        scd2 = opt("scd2").map(parseScd2),
        // data-skipping stats columns, same comma-list shape as pk
        statsCols = opt("stats_cols").map(parsePk).getOrElse(Nil),
        expectations = opt("expectations").map(parseExpectations).getOrElse(Nil))
    }
  }
}
