package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables => T}
import TypedProjection.{FieldSpec, Cast}
import org.apache.spark.sql.types.LongType

/** Driver-gated correctness queries for the CDC core (SURVEY.md §2
  * A-series), run through the real library components over the
  * canonical events→CDC mapping (SURVEY.md §4). Each oracle restates
  * the same semantics in DuckDB SQL over the raw events table.
  *
  * DuckDB reads the ns-precision `ts` as µs-truncated TIMESTAMP;
  * Spark reads bigint nanos and floor-divides — identical µs values,
  * so `epoch_us(ts)` ⟷ `ts div 1000` everywhere.
  */
object CdcQueries {

  private val W0 = CdcEnvelope.epochUs("2024-01-10T00:00:00Z")
  private val W1 = CdcEnvelope.epochUs("2024-01-20T00:00:00Z")
  private val W2 = CdcEnvelope.epochUs("2024-01-30T00:00:00Z")

  /** Temp-dir lifecycle for the store-building gates (ADVICE r7):
    * each invocation gets fresh dirs, the PREVIOUS invocation's dirs
    * for the same gate are deleted (by re-invocation time the bench
    * protocol has materialized the earlier lazy result), and whatever
    * remains dies with the JVM — so 4+ bench passes and repeated
    * rounds no longer accumulate real multi-version stores on disk.
    * Deletion is deferred like this because the query functions
    * RETURN lazy DataFrames over the store files; a finally-block
    * delete would tear the files out before the driver materializes.
    */
  private object Fixtures {
    private val live = scala.collection.mutable.Map.empty[String, Seq[java.nio.file.Path]]
    locally {
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        synchronized { live.values.flatten.foreach(rm); live.clear() }))
    }
    private def rm(p: java.nio.file.Path): Unit = scala.util.Try {
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(q => java.nio.file.Files.deleteIfExists(q))
    }
    def dirs(gate: String, n: Int): Seq[String] = synchronized {
      live.remove(gate).foreach(_.foreach(rm))
      val ps = Seq.fill(n)(java.nio.file.Files.createTempDirectory(s"graft-$gate"))
      live(gate) = ps
      ps.map(_.toString)
    }

    /** Bootstrap cache (r9, SURVEY §6 — the fixture-tax bound): the
      * IMMUTABLE setup portion of a store gate (bootstrap publishes
      * that are identical every pass) builds ONCE per (gate, sfDir)
      * and is file-copied into fresh working dirs on every call, so
      * min-of-3 bench passes pay the Spark setup once while the
      * TIMED delta/maintenance publishes still execute against a
      * pristine copy each pass — per-pass timed work unchanged, wall
      * clock stops re-buying the fixture. The copy is driver file
      * I/O (no Spark jobs), orders cheaper than the publishes it
      * replaces.
      */
    private val boot =
      scala.collection.mutable.Map.empty[(String, String), Seq[java.nio.file.Path]]
    private def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit =
      java.nio.file.Files.walk(src).forEach { p =>
        val q = dst.resolve(src.relativize(p).toString)
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(q)
        else java.nio.file.Files.copy(p, q,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    def cachedDirs(gate: String, sfDir: String, n: Int)(
        build: Seq[String] => Unit): Seq[String] = synchronized {
      val src = boot.getOrElseUpdate((gate, sfDir), {
        val ps = Seq.fill(n)(java.nio.file.Files.createTempDirectory(s"graft-boot-$gate"))
        // cache dirs die with the JVM like working dirs, under a key
        // dirs() can never collide with (gates are bare names)
        live(s"$gate!boot!$sfDir") = ps
        build(ps.map(_.toString))
        ps
      })
      val work = dirs(gate, n)
      src.zip(work).foreach { case (a, b) =>
        copyTree(a, java.nio.file.Paths.get(b))
      }
      work
    }
  }

  /** The canonical events→CDC mapping (SURVEY.md §4) the store and
    * merge gates build from: `user_id` key, `k` cast to long,
    * `event_id`/`value` passthrough. Each gate still picks its own
    * target columns, bucket count and whether to pin its window.
    */
  private object EventsCdc {
    private val pk = Seq("user_id")
    private val mapping = CdcTableConfig(
      cdcTable = "events_cdc", sourcePath = "events", targetDb = "graft",
      targetTable = "events", targetPath = "", pk = pk,
      fieldSpecs = Seq(FieldSpec("k", Cast(LongType))),
      passthrough = Seq("event_id", "value"))

    /** A store of the mapping at `dir`. */
    def config(table: String, dir: String, buckets: Int,
        statsCols: Seq[String] = Nil, scd2: Boolean = false): CdcTableConfig =
      mapping.copy(targetTable = table, targetPath = dir, numBuckets = Some(buckets),
        statsCols = statsCols, scd2 = if (scd2) Some(Scd2Spec()) else None)

    /** Envelope rows with load_ts_us <= `upToUs`. Filtered on the RAW
      * nanosecond column before envelope and projection, so the scan
      * carries a pushable bound (filtering the derived load_ts_us
      * pushes nothing and re-scans history — VERDICT r1 #2):
      * floorDiv(ts, 1000) <= upToUs  ⇔  ts < (upToUs + 1) * 1000.
      */
    def envUpTo(ev: DataFrame, upToUs: Long): DataFrame =
      CdcEnvelope.fromEvents(ev.filter(col("ts") < lit((upToUs + 1) * 1000L)))

    /** The snapshot as of `upToUs` (default W0: the stores' v0);
      * `derive` runs on the projected history before the merge.
      */
    def snapshot(ev: DataFrame, cols: Seq[String], upToUs: Long = W0,
        derive: DataFrame => DataFrame = identity): DataFrame =
      SnapshotMerge.fromHistory(derive(mapping.project(envUpTo(ev, upToUs))), pk, cols)

    /** The compacted (lo, hi] change window; `derive` runs on the
      * projected rows before compaction.
      */
    def changes(ev: DataFrame, lo: Long, hi: Long,
        derive: DataFrame => DataFrame = identity): DataFrame =
      ChangeCompaction.compactForMerge(
        derive(mapping.project(CdcEnvelope.eventsWindowed(ev, lo, hi))), pk)

    /** [[changes]] pinned: a gate that counts, merges and checks the
      * same window reads it once instead of re-deriving scan, parse
      * and compaction per action.
      */
    def pinned(ev: DataFrame, lo: Long, hi: Long,
        derive: DataFrame => DataFrame = identity): DataFrame =
      changes(ev, lo, hi, derive).localCheckpoint(true)

    /** Merge the compacted `chg` into `cfg`'s store: one summary pass
      * (op counts and touched buckets), then the bucketed merge.
      */
    def merge(s: SparkSession, cfg: CdcTableConfig, chg: DataFrame,
        swapNow: Boolean = true): CdcPipeline.MergeOutcome =
      CdcPipeline.mergeAndPublish(s, cfg, chg, CdcPipeline.summarize(cfg, chg),
        swapNow = swapNow)
  }

  private def env(s: SparkSession, d: String): DataFrame =
    CdcEnvelope.fromEvents(T.events(s, d))

  // DuckDB fragments for the same canonical mapping.
  private val dOp = "CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END"
  private val dWin =
    "ts > TIMESTAMP '2024-01-10' AND ts <= TIMESTAMP '2024-01-20'"
  private val dK = "CAST(json_extract_string(props, '$.k') AS BIGINT)"

  // A1: envelope parse + default-cast typed projection.
  def cdcParse(s: SparkSession, d: String): DataFrame =
    // r15: the one-row-group scan pins the per-row JSON parse to a
    // single task, and the final orderBy's range sampler evaluates the
    // projection twice — spread the scan so both passes parallelize
    // (input-size-derived width; see graft.ops.Spread.byBytes).
    TypedProjection.project(graft.ops.Spread.byBytes(env(s, d), 128L << 10),
        CdcEnvelope.DataCol,
        Seq(FieldSpec("k", Cast(LongType))),
        keep = Seq("event_id", "user_id", CdcEnvelope.OpCol, CdcEnvelope.PosCol))
      .withColumnRenamed(CdcEnvelope.OpCol, "op")
      .withColumnRenamed(CdcEnvelope.PosCol, "pos")
      .orderBy(col("event_id"))

  private val oParse =
    s"""SELECT event_id, user_id, $dOp AS op, event_id AS pos, $dK AS k
       |FROM events ORDER BY event_id""".stripMargin

  // A2: incremental window (half-open (start, end]) — counts only,
  // the window members feed every other A-query.
  def cdcWindow(s: SparkSession, d: String): DataFrame =
    CdcEnvelope.eventsWindowed(T.events(s, d), W0, W1)
      .agg(count(lit(1)).as("n"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))

  private val oWindow =
    s"""SELECT count(*) AS n, min(event_id) AS min_id, max(event_id) AS max_id
       |FROM events WHERE $dWin""".stripMargin

  // A3: newest-change-per-key compaction inside the window.
  def cdcCompact(s: SparkSession, d: String): DataFrame =
    ChangeCompaction.latestPerKey(CdcEnvelope.eventsWindowed(T.events(s, d), W0, W1), Seq("user_id"))
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col(CdcEnvelope.OpCol).as("last_op"),
        get_json_object(col(CdcEnvelope.DataCol), "$.k").cast("bigint").as("last_k"))
      .orderBy(col("user_id"))

  private val oCompact =
    s"""SELECT user_id, event_id AS last_event_id, $dOp AS last_op, $dK AS last_k
       |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
       |        ORDER BY ts DESC, event_id DESC) AS rn
       |      FROM events WHERE $dWin) t
       |WHERE rn = 1 ORDER BY user_id""".stripMargin

  // A4: log_v_i — newest per key among non-deletes.
  def cdcUpserts(s: SparkSession, d: String): DataFrame =
    ChangeCompaction.upsertSet(CdcEnvelope.eventsWindowed(T.events(s, d), W0, W1), Seq("user_id"))
      .select(col("user_id"), col("event_id"),
        get_json_object(col(CdcEnvelope.DataCol), "$.k").cast("bigint").as("k"),
        col("value"))
      .orderBy(col("user_id"))

  private val oUpserts =
    s"""SELECT user_id, event_id, $dK AS k, value
       |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
       |        ORDER BY ts DESC, event_id DESC) AS rn
       |      FROM events WHERE $dWin AND event_type != 'error') t
       |WHERE rn = 1 ORDER BY user_id""".stripMargin

  // A5: log_v_d — newest delete per key, suppressed when a newer
  // upsert exists (merge.sql:335–349).
  def cdcDeletes(s: SparkSession, d: String): DataFrame =
    ChangeCompaction.deleteSet(CdcEnvelope.eventsWindowed(T.events(s, d), W0, W1), Seq("user_id"))
      .select(col("user_id"), col("event_id").as("delete_event_id"),
        col(CdcEnvelope.TsCol).as("del_ts_us"))
      .orderBy(col("user_id"))

  private val oDeletes =
    s"""WITH dels AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS del_ts_us
       |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
       |          ORDER BY ts DESC, event_id DESC) AS rn
       |        FROM events WHERE $dWin AND event_type = 'error') t
       |  WHERE rn = 1),
       |ups AS (
       |  SELECT user_id, epoch_us(ts) AS up_ts_us
       |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
       |          ORDER BY ts DESC, event_id DESC) AS rn
       |        FROM events WHERE $dWin AND event_type != 'error') t
       |  WHERE rn = 1)
       |SELECT d.user_id, d.event_id AS delete_event_id, d.del_ts_us
       |FROM dels d LEFT JOIN ups u ON d.user_id = u.user_id
       |WHERE u.user_id IS NULL OR u.up_ts_us < d.del_ts_us
       |ORDER BY d.user_id""".stripMargin

  // A6: full snapshot merge — pre-window history builds the target,
  // the window's compacted changes are merged in (upserts replace,
  // deletes remove). The end-to-end semantics of the reference
  // procedure's transaction (merge.sql:403–436).
  def cdcMerge(s: SparkSession, d: String): DataFrame = {
    val ev = T.events(s, d)
    val target = EventsCdc.snapshot(ev, Seq("user_id", "event_id", "k", "value"))
    val changes = EventsCdc.changes(ev, W0, W1)
    SnapshotMerge.merge(target, changes, Seq("user_id"))
      .withColumnRenamed("event_id", "src_event_id")
      .orderBy(col("user_id"))
  }

  private val oMerge =
    s"""WITH tgt AS (SELECT user_id, event_id, k, value FROM (
       |    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn2
       |    FROM (SELECT user_id, event_id, $dK AS k, value, $dOp AS op, ts
       |          FROM events WHERE ts <= TIMESTAMP '2024-01-10') h) hh
       |  WHERE rn2 = 1 AND op != 'd'),
       |chg AS (SELECT user_id, event_id, k, value, op FROM (
       |    SELECT user_id, event_id, $dK AS k, value, $dOp AS op,
       |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn3
       |    FROM events WHERE $dWin) w
       |  WHERE rn3 = 1)
       |SELECT user_id, event_id AS src_event_id, k, value
       |FROM (
       |  SELECT t.user_id, t.event_id, t.k, t.value FROM tgt t
       |  WHERE t.user_id NOT IN (SELECT user_id FROM chg)
       |  UNION ALL
       |  SELECT c.user_id, c.event_id, c.k, c.value FROM chg c WHERE c.op != 'd') m
       |ORDER BY user_id""".stripMargin

  // A44+A38 (r9): the SQL WRITE surface end-to-end — the same merge
  // as cdc_merge, but driven ENTIRELY through SQL statements the way
  // the reference's only user works (its whole pipeline is a stored
  // procedure, bigquery_syntex_merge_sql/merge.sql:1): graft_create
  // bootstraps the store from a query, graft_merge applies the
  // compacted change set (__op='d' deletes, the rest upsert),
  // graft_snapshot reads the result. Same DuckDB oracle as cdc_merge
  // — the SQL veneer must be bit-identical to the Scala path it
  // wraps.
  def cdcSqlMerge(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val ev = T.events(s, d)
    EventsCdc.snapshot(ev, Seq("user_id", "event_id", "k", "value"))
      .createOrReplaceTempView("sqlmerge_target")
    EventsCdc.changes(ev, W0, W1).createOrReplaceTempView("sqlmerge_changes")
    val Seq(dir) = Fixtures.dirs("sql_merge", 1)
    s.sql(s"SELECT * FROM graft_create('$dir', 'user_id', " +
      "'SELECT * FROM sqlmerge_target', 8)").collect()
    val merged = s.sql(s"SELECT * FROM graft_merge('$dir', 'user_id', " +
      "'SELECT * FROM sqlmerge_changes')").collect()(0)
    require(merged.getLong(0) == 1L, s"merge must publish v1: $merged")
    s.sql(s"""SELECT user_id, event_id AS src_event_id, k, value
             |FROM graft_snapshot('$dir') ORDER BY user_id""".stripMargin)
  }

  // A69 (r10): the statement-level SQL DML path — the SAME merge as
  // cdc_sql_merge, but written as a real ANSI `MERGE INTO
  // graft.{dir}` statement (the reference's actual UX,
  // bigquery_syntex_merge_sql/merge.sql:403–436) instead of the
  // graft_merge procedure TVF. The parser injected by GraftExtensions
  // rewrites the parsed MergeIntoTable onto the A38 MergeInto builder
  // + rewriteBuckets; the store PK comes from the `_PK` sidecar, and
  // the ON clause is validated against it. Same DuckDB oracle as
  // cdc_merge/cdc_sql_merge — parser veneer, TVF veneer, and Scala
  // path must be bit-identical.
  def cdcSqlDml(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val ev = T.events(s, d)
    EventsCdc.snapshot(ev, Seq("user_id", "event_id", "k", "value"))
      .createOrReplaceTempView("sqldml_target")
    EventsCdc.changes(ev, W0, W1).createOrReplaceTempView("sqldml_changes")
    val Seq(dir) = Fixtures.dirs("sql_dml", 1)
    s.sql(s"SELECT * FROM graft_create('$dir', 'user_id', " +
      "'SELECT * FROM sqldml_target', 8)").collect()
    val merged = s.sql(
      s"""MERGE INTO graft.`$dir` AS t USING sqldml_changes AS c
         |ON t.user_id = c.user_id
         |WHEN MATCHED AND c.${CdcEnvelope.OpCol} = 'd' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED AND c.${CdcEnvelope.OpCol} != 'd' THEN INSERT *"""
        .stripMargin).collect()(0)
    require(merged.getLong(0) == 1L, s"statement merge must publish v1: $merged")
    s.sql(s"""SELECT user_id, event_id AS src_event_id, k, value
             |FROM graft_snapshot('$dir') ORDER BY user_id""".stripMargin)
  }

  // A38b (r10): WHEN NOT MATCHED BY SOURCE — Delta's third MERGE
  // clause family, driven end-to-end as the classic FULL-SYNC
  // statement (upsert everything the source carries, DELETE whatever
  // it no longer does): after the merge the store must equal the
  // window's upsert set EXACTLY, which is precisely the oracle the
  // A4 upserts gate already states — so one oracle pins both the
  // upsert machinery and the by-source delete's WHOLE-TABLE scope
  // (the statement path widens to ALL buckets for it: W0-snapshot
  // keys live in buckets the source never touches, and a
  // touched-bucket-pruned plan would silently keep them).
  def cdcMergeFullSync(s: SparkSession, d: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val ev = T.events(s, d)
    EventsCdc.snapshot(ev, Seq("user_id", "event_id", "k", "value"))
      .createOrReplaceTempView("fullsync_target")
    ChangeCompaction.upsertSet(CdcEnvelope.eventsWindowed(ev, W0, W1), Seq("user_id"))
      .select(col("user_id"), col("event_id"),
        get_json_object(col(CdcEnvelope.DataCol), "$.k").cast("bigint").as("k"),
        col("value"))
      .createOrReplaceTempView("fullsync_src")
    val Seq(dir) = Fixtures.dirs("merge_full_sync", 1)
    s.sql(s"SELECT * FROM graft_create('$dir', 'user_id', " +
      "'SELECT * FROM fullsync_target', 8)").collect()
    val merged = s.sql(
      s"""MERGE INTO graft.`$dir` AS t USING fullsync_src AS c
         |ON t.user_id = c.user_id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin).collect()(0)
    require(merged.getLong(0) == 1L, s"full-sync merge must publish v1: $merged")
    s.sql(s"""SELECT user_id, event_id, k, value
             |FROM graft_snapshot('$dir') ORDER BY user_id""".stripMargin)
  }

  // A38: generic conditional-clause MERGE INTO (MergeInto) — same
  // target/changes fixture as cdc_merge, but the clauses go beyond
  // the reference's fixed upsert+delete pair: delete on 'd', update
  // only when the incoming k exceeds the target's (a
  // condition-carrying SET), insert only non-deleted even-k keys.
  // The oracle restates all three clauses as a DuckDB FULL OUTER
  // JOIN + CASE (the textbook MERGE re-expression).
  def cdcMergeInto(s: SparkSession, d: String): DataFrame = {
    import MergeInto.{src, tgt}
    val ev = T.events(s, d)
    val target = EventsCdc.snapshot(ev, Seq("user_id", "event_id", "k", "value"))
    val changes = EventsCdc.changes(ev, W0, W1)
    MergeInto(target, changes, Seq("user_id"))
      .skipDuplicateSourceCheck() // compactForMerge guarantees one row/key
      .whenMatchedDelete(src(CdcEnvelope.OpCol) === CdcEnvelope.Delete)
      .whenMatchedUpdate(
        Map("event_id" -> src("event_id"), "k" -> src("k"), "value" -> src("value")),
        src("k") > tgt("k"))
      .whenNotMatchedInsert(
        Map("user_id" -> src("user_id"), "event_id" -> src("event_id"),
          "k" -> src("k"), "value" -> src("value")),
        src(CdcEnvelope.OpCol) =!= CdcEnvelope.Delete && src("k") % 2 === 0)
      .run()
      .withColumnRenamed("event_id", "src_event_id")
      .orderBy(col("user_id"))
  }

  private val oMergeInto =
    s"""WITH tgt AS (SELECT user_id, event_id, k, value FROM (
       |    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn2
       |    FROM (SELECT user_id, event_id, $dK AS k, value, $dOp AS op, ts
       |          FROM events WHERE ts <= TIMESTAMP '2024-01-10') h) hh
       |  WHERE rn2 = 1 AND op != 'd'),
       |chg AS (SELECT user_id, event_id, k, value, op FROM (
       |    SELECT user_id, event_id, $dK AS k, value, $dOp AS op,
       |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn3
       |    FROM events WHERE $dWin) w
       |  WHERE rn3 = 1)
       |SELECT user_id, src_event_id, k, value FROM (
       |  SELECT COALESCE(t.user_id, c.user_id) AS user_id,
       |    CASE WHEN t.user_id IS NOT NULL AND c.user_id IS NOT NULL
       |              AND c.op != 'd' AND c.k > t.k THEN c.event_id
       |         WHEN t.user_id IS NOT NULL THEN t.event_id
       |         ELSE c.event_id END AS src_event_id,
       |    CASE WHEN t.user_id IS NOT NULL AND c.user_id IS NOT NULL
       |              AND c.op != 'd' AND c.k > t.k THEN c.k
       |         WHEN t.user_id IS NOT NULL THEN t.k
       |         ELSE c.k END AS k,
       |    CASE WHEN t.user_id IS NOT NULL AND c.user_id IS NOT NULL
       |              AND c.op != 'd' AND c.k > t.k THEN c.value
       |         WHEN t.user_id IS NOT NULL THEN t.value
       |         ELSE c.value END AS value,
       |    t.user_id AS tu, c.user_id AS cu, c.op AS cop, c.k AS ck
       |  FROM tgt t FULL OUTER JOIN chg c ON t.user_id = c.user_id) m
       |WHERE (tu IS NOT NULL AND cu IS NOT NULL AND cop != 'd')
       |   OR (tu IS NOT NULL AND cu IS NULL)
       |   OR (tu IS NULL AND cop != 'd' AND ck % 2 = 0)
       |ORDER BY user_id""".stripMargin

  // A7: typed projection rules (epoch-sec, epoch-day, bit→int,
  // datetime→int) through a JSON payload built in-flight — the Spark
  // path parses JSON with the real rules; the oracle computes the
  // expected value directly.
  def cdcTypedProjection(s: SparkSession, d: String): DataFrame = {
    import TypedProjection._
    // Hoist k into its own projection: referenced 4× below, and
    // CollapseProject won't inline a multiply-referenced non-cheap
    // expression — so props is JSON-scanned once, not 4×.
    // r15: spread the one-row-group scan — the JSON build+re-parse
    // kernel ran single-task, twice (orderBy range sampling).
    val e = graft.ops.Spread.byBytes(T.events(s, d), 128L << 10)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("bigint"))
    val k = col("k")
    val tsUtc = timestamp_micros(expr("ts div 1000"))
    val withJson = e.select(
      col("event_id"),
      to_json(struct(
        k.as("k"),
        when(k % 2 === 0, lit("true")).otherwise(lit("false")).as("flag"),
        date_format(tsUtc, "yyyy-MM-dd'T'HH:mm:ss'Z'").as("dt_iso"),
        when(k % 5 === 0, lit("0000-00-00 00:00:00"))
          .otherwise(date_format(tsUtc, "yyyy-MM-dd'T'HH:mm:ss'Z'")).as("dt_n"))).as("data"))
    project(withJson, "data", Seq(
        FieldSpec("k", EpochSeconds, "k_ts_raw"),
        FieldSpec("k", EpochDays, "k_day_raw"),
        FieldSpec("flag", BitToInt, "flag_int"),
        FieldSpec("dt_iso", DatetimeToInt, "dt_int"),
        FieldSpec("k", EpochSecondsIst, "k_ist_raw"),
        FieldSpec("dt_n", IsoDatetimeNullIf("0000-00-00 00:00:00"), "dt_null_raw")),
        keep = Seq("event_id"))
      .select(col("event_id"),
        date_format(col("k_ts_raw"), "yyyy-MM-dd HH:mm:ss").as("k_ts"),
        col("k_day_raw").cast("string").as("k_day"),
        col("flag_int"), col("dt_int"),
        date_format(col("k_ist_raw"), "yyyy-MM-dd HH:mm:ss").as("k_ist"),
        date_format(col("dt_null_raw"), "yyyy-MM-dd HH:mm:ss").as("dt_null"))
      .orderBy(col("event_id"))
  }

  private val oTypedProjection =
    s"""SELECT event_id,
       |  strftime(make_timestamp($dK * 1000000), '%Y-%m-%d %H:%M:%S') AS k_ts,
       |  CAST(CAST(DATE '1970-01-01' + INTERVAL ($dK) DAY AS DATE) AS VARCHAR) AS k_day,
       |  CASE WHEN $dK % 2 = 0 THEN 1 ELSE 0 END AS flag_int,
       |  CAST(strftime(ts, '%Y%m%d%H%M%S') AS BIGINT) AS dt_int,
       |  strftime(make_timestamp(($dK + 19800) * 1000000), '%Y-%m-%d %H:%M:%S') AS k_ist,
       |  CASE WHEN $dK % 5 = 0 THEN NULL
       |       ELSE strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S') END AS dt_null
       |FROM events ORDER BY event_id""".stripMargin

  // A7b: the remaining projection rules — constant end-of-time
  // datetime (merge.sql:224–225 SysEndTime), JSON-typed passthrough
  // (merge.sql:280–281 safe.parse_json), 'null'-string sentinel
  // (step-8:308–311 NULLIF(...,'null')), and bool parsing.
  def cdcTypedProjectionV2(s: SparkSession, d: String): DataFrame = {
    import TypedProjection._
    // r15: spread as in cdcTypedProjection — single-task JSON kernel,
    // evaluated twice by the orderBy sampler.
    val e = graft.ops.Spread.byBytes(T.events(s, d), 128L << 10)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("bigint"))
    val k = col("k")
    val withJson = e.select(
      col("event_id"),
      to_json(struct(
        struct(k.as("a"), (k % 7).as("b")).as("obj"),
        when(k % 3 === 0, lit("null")).otherwise(k.cast("string")).as("maybe"),
        when(k % 2 === 0, lit("1")).otherwise(lit("false")).as("flag"))).as("data"))
    project(withJson, "data", Seq(
        FieldSpec("obj", JsonPassthrough, "obj_json"),
        FieldSpec("maybe", CastNullIf(LongType), "maybe_k"),
        FieldSpec("flag", BoolParse, "flag_raw"),
        FieldSpec("sys_end", ConstantDatetime("9999-12-31 23:59:59"), "sys_end_raw")),
        keep = Seq("event_id"))
      .select(col("event_id"), col("obj_json"), col("maybe_k"),
        col("flag_raw").cast("int").as("flag_int"),
        date_format(col("sys_end_raw"), "yyyy-MM-dd HH:mm:ss").as("sys_end"))
      .orderBy(col("event_id"))
  }

  private val oTypedProjectionV2 =
    s"""SELECT event_id,
       |  '{"a":' || $dK || ',"b":' || ($dK % 7) || '}' AS obj_json,
       |  CASE WHEN $dK % 3 = 0 THEN NULL ELSE $dK END AS maybe_k,
       |  CASE WHEN $dK % 2 = 0 THEN 1 ELSE 0 END AS flag_int,
       |  '9999-12-31 23:59:59' AS sys_end
       |FROM events ORDER BY event_id""".stripMargin

  // A8: multi-PK compaction — composite key (user_id, event_type),
  // the step-7/8 multi-PK surface.
  def cdcMultipk(s: SparkSession, d: String): DataFrame =
    ChangeCompaction.latestPerKey(CdcEnvelope.eventsWindowed(T.events(s, d), W0, W1),
        Seq("user_id", "event_type"))
      .select(col("user_id"), col("event_type"), col("event_id").as("last_event_id"),
        get_json_object(col(CdcEnvelope.DataCol), "$.k").cast("bigint").as("last_k"))
      .orderBy(col("user_id"), col("event_type"))

  private val oMultipk =
    s"""SELECT user_id, event_type, event_id AS last_event_id, $dK AS last_k
       |FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
       |        ORDER BY ts DESC, event_id DESC) AS rn
       |      FROM events WHERE $dWin) t
       |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin

  // A9: the job-log record for one run — insert/UPDATE/delete counts
  // and the window actually observed (merge.sql:360–366 collects the
  // window; :520–534 logs records_inserted AND records_updated). An
  // upsert counts as updated iff its PK already exists in the
  // pre-merge target (here: the pre-window snapshot), inserted
  // otherwise — the MERGE's matched/not-matched split, computed by
  // SnapshotMerge.matchedUpsertKeys as a pk-pruned semi-join against
  // the broadcast delta keys.
  def cdcRunStats(s: SparkSession, d: String): DataFrame = {
    val ev = T.events(s, d)
    val env = CdcEnvelope.eventsWindowed(ev, W0, W1)
    val (ups, dels) = ChangeCompaction.routed(env, Seq("user_id"))
    val target = SnapshotMerge.fromHistory(EventsCdc.envUpTo(ev, W0), Seq("user_id"),
      Seq("user_id"))
    val changes = ChangeCompaction.compactForMerge(env, Seq("user_id"))
    val winAgg = env
      .agg(min(col(CdcEnvelope.LoadTsCol)).as("cdc_start_us"),
        max(col(CdcEnvelope.LoadTsCol)).as("cdc_end_us"))
    val upsN = ups.agg(count(lit(1)).as("n_ups"))
    val updN = SnapshotMerge.matchedUpsertKeys(target, changes, Seq("user_id"), Some(1L))
      .agg(count(lit(1)).as("records_updated"))
    val delsN = dels.agg(count(lit(1)).as("records_deleted"))
    upsN.crossJoin(updN).crossJoin(delsN).crossJoin(winAgg)
      .select((col("n_ups") - col("records_updated")).as("records_inserted"),
        col("records_updated"), col("records_deleted"),
        col("cdc_start_us"), col("cdc_end_us"))
  }

  private val oRunStats =
    s"""WITH latest AS (
       |  SELECT user_id, $dOp AS op FROM (SELECT *, row_number() OVER (PARTITION BY user_id
       |      ORDER BY ts DESC, event_id DESC) AS rn FROM events WHERE $dWin) t
       |  WHERE rn = 1),
       |tgt AS (SELECT user_id FROM (
       |    SELECT user_id, $dOp AS op, row_number() OVER (PARTITION BY user_id
       |        ORDER BY ts DESC, event_id DESC) AS rn2
       |    FROM events WHERE ts <= TIMESTAMP '2024-01-10') h
       |  WHERE rn2 = 1 AND op != 'd')
       |SELECT
       |  (SELECT count(*) FROM latest WHERE op != 'd'
       |     AND user_id NOT IN (SELECT user_id FROM tgt)) AS records_inserted,
       |  (SELECT count(*) FROM latest WHERE op != 'd'
       |     AND user_id IN (SELECT user_id FROM tgt)) AS records_updated,
       |  (SELECT count(*) FROM latest WHERE op = 'd') AS records_deleted,
       |  (SELECT min(epoch_us(ts)) FROM events WHERE $dWin) AS cdc_start_us,
       |  (SELECT max(epoch_us(ts)) FROM events WHERE $dWin) AS cdc_end_us""".stripMargin

  // A10: row-key conversions — epoch-nanos, base64 big-endian int64,
  // row-key timestamp (merge.sql:228–247).
  def cdcRowkey(s: SparkSession, d: String): DataFrame = {
    import TypedProjection._
    val e = T.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("bigint"))
    val k = col("k")
    val tsUtc = timestamp_micros(expr("ts div 1000"))
    val withJson = e.select(
      col("event_id"),
      to_json(struct(
        ((k + lit(1700000000L)) * lit(1000000000L)).as("ns"),
        base64(lpad(k.cast("string"), 8, "0").cast("binary")).as("rk"),
        date_format(tsUtc, "yyyy-MM-dd'T'HH:mm:ss'Z'").as("dt_iso"))).as("data"))
    project(withJson, "data", Seq(
        FieldSpec("ns", EpochNanos, "ns_ts_raw"),
        FieldSpec("rk", RowKeyBinary, "rowkeynum"),
        FieldSpec("dt_iso", RowKeyTimestamp, "rowkey_ts")),
        keep = Seq("event_id"))
      .select(col("event_id"),
        date_format(col("ns_ts_raw"), "yyyy-MM-dd HH:mm:ss").as("ns_ts"),
        col("rowkeynum"), col("rowkey_ts"))
      .orderBy(col("event_id"))
  }

  private val oRowkey = {
    val rkSum = (1 to 8).map(i =>
      s"ascii(substr(lpad(CAST($dK AS VARCHAR), 8, '0'), $i, 1)) * ${java.lang.Long.toString(1L << (8 * (8 - i)))}"
    ).mkString(" + ")
    s"""SELECT event_id,
       |  strftime(make_timestamp(($dK + 1700000000) * 1000000), '%Y-%m-%d %H:%M:%S') AS ns_ts,
       |  $rkSum AS rowkeynum,
       |  epoch(date_trunc('second', ts))::BIGINT AS rowkey_ts
       |FROM events ORDER BY event_id""".stripMargin
  }

  // A15b: the reference's landed CDC-table shape — data JSON carrying
  // __op/__ts_ns/__source_pos inline (merge.sql:307–349), parsed by
  // ChangeFeed.landedTable in one from_json pass.
  def cdcLandedParse(s: SparkSession, d: String): DataFrame = {
    // r15: spread as in cdcTypedProjection — the JSON round-trip ran
    // in the single scan task.
    val ev = graft.ops.Spread.byBytes(T.events(s, d), 128L << 10)
    val landed = ev.select(
      to_json(struct(
        col("user_id"),
        get_json_object(col("props"), "$.k").cast("bigint").as("k"),
        when(col("event_type") === "error", lit("d")).otherwise(lit("u")).as("__op"),
        col("ts").as("__ts_ns"),
        col("event_id").as("__source_pos"))).as("data"),
      expr("ts div 1000").as("load_us"))
    graft.sources.ChangeFeed.landedTable(landed, "data", "load_us", Seq("user_id"))
      .select(col("user_id"), col(CdcEnvelope.OpCol).as("op"),
        col(CdcEnvelope.TsCol).as("ts_us"), col(CdcEnvelope.PosCol).as("pos"),
        get_json_object(col(CdcEnvelope.DataCol), "$.k").cast("bigint").as("k"))
      .orderBy(col("pos"))
  }

  private val oLandedParse =
    s"""SELECT user_id, $dOp AS op, epoch_us(ts) AS ts_us, event_id AS pos, $dK AS k
       |FROM events ORDER BY pos""".stripMargin

  // A23 (r4): incremental aggregate maintenance — a per-group rollup
  // (count + exact cents sum) advanced across TWO merge windows by
  // deltas only (IncrementalAgg.applyDelta); the oracle recomputes
  // the same rollup from the fully-merged snapshot, so a hash match
  // proves increment ≡ recompute including group moves, deletes, and
  // group births/deaths.
  def cdcIncrAgg(s: SparkSession, d: String): DataFrame = {
    // the maintained measures: group = k % 8, value = exact cents
    def derive(df: DataFrame): DataFrame = df
      .withColumn("grp", col("k") % lit(8L))
      .withColumn("cents", round(col("value") * lit(100.0)).cast("long"))
    val ev = T.events(s, d)
    val pk = Seq("user_id")
    val targetCols = Seq("user_id", "event_id", "k", "value", "grp", "cents")
    val target0 = EventsCdc.snapshot(ev, targetCols, derive = derive)
    val chg1 = EventsCdc.changes(ev, W0, W1, derive)
    val chg2 = EventsCdc.changes(ev, W1, W2, derive)
    val state0 = IncrementalAgg.fromSnapshot(target0, Seq("grp"), "cents")
    val state1 = IncrementalAgg.applyDelta(state0, target0, chg1, pk, Seq("grp"), "cents")
    val target1 = SnapshotMerge.merge(target0, chg1, pk)
    val state2 = IncrementalAgg.applyDelta(state1, target1, chg2, pk, Seq("grp"), "cents")
    state2.orderBy(col("grp"))
  }

  private val oIncrAgg =
    s"""WITH tgt AS (SELECT user_id, k, value FROM (
       |    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn2
       |    FROM (SELECT user_id, event_id, $dK AS k, value, $dOp AS op, ts
       |          FROM events WHERE ts <= TIMESTAMP '2024-01-10') h) hh
       |  WHERE rn2 = 1 AND op != 'd'),
       |chg AS (SELECT user_id, k, value, op FROM (
       |    SELECT user_id, event_id, $dK AS k, value, $dOp AS op,
       |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn3
       |    FROM events
       |    WHERE ts > TIMESTAMP '2024-01-10' AND ts <= TIMESTAMP '2024-01-30') w
       |  WHERE rn3 = 1),
       |m AS (
       |  SELECT t.user_id, t.k, t.value FROM tgt t
       |  WHERE t.user_id NOT IN (SELECT user_id FROM chg)
       |  UNION ALL
       |  SELECT c.user_id, c.k, c.value FROM chg c WHERE c.op != 'd')
       |SELECT k % 8 AS grp, count(*) AS n_rows,
       |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
       |FROM m GROUP BY 1 ORDER BY grp""".stripMargin

  // A31 (r6): min/max rollup maintenance — the same two-window delta
  // advancement as cdc_incr_agg, now carrying min/max measures, which
  // are monotone on inserts but need a per-group rescan when a delete
  // or update retires the recorded extreme (IncrementalAgg.applyDelta
  // routes exactly those groups through the post-merge snapshot). The
  // oracle recomputes everything from the merged snapshot, so a hash
  // match proves increment ≡ recompute including extrema retirement.
  def cdcIncrAggMinmax(s: SparkSession, d: String): DataFrame = {
    def derive(df: DataFrame): DataFrame = df
      .withColumn("grp", col("k") % lit(8L))
      .withColumn("cents", round(col("value") * lit(100.0)).cast("long"))
    val ev = T.events(s, d)
    val pk = Seq("user_id")
    val grp = Seq("grp"); val vals = Seq("cents")
    val mins = Seq("cents", "k"); val maxs = Seq("cents", "k")
    val targetCols = Seq("user_id", "event_id", "k", "value", "grp", "cents")
    // The pipeline reads pre/post-merge targets from the bucketed
    // store (one scan each); here they are synthesized, so pin them —
    // otherwise every maintenance step (adjustments, rescan probe,
    // exact recompute) re-derives the whole merge chain from the raw
    // events and the query times the fixture, not the operator.
    val target0 = EventsCdc.snapshot(ev, targetCols, derive = derive).localCheckpoint(true)
    val chg1 = EventsCdc.pinned(ev, W0, W1, derive)
    val chg2 = EventsCdc.pinned(ev, W1, W2, derive)
    val target1 = SnapshotMerge.merge(target0, chg1, pk).localCheckpoint(true)
    val target2 = SnapshotMerge.merge(target1, chg2, pk).localCheckpoint(true)
    val state0 = IncrementalAgg.fromSnapshot(target0, grp, vals, mins, maxs)
    val state1 = IncrementalAgg.applyDelta(state0, target0, chg1, pk, grp,
      vals, mins, maxs, target1, None)
    val state2 = IncrementalAgg.applyDelta(state1, target1, chg2, pk, grp,
      vals, mins, maxs, target2, None)
    state2.orderBy(col("grp"))
  }

  private val oIncrAggMinmax =
    s"""WITH tgt AS (SELECT user_id, k, value FROM (
       |    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn2
       |    FROM (SELECT user_id, event_id, $dK AS k, value, $dOp AS op, ts
       |          FROM events WHERE ts <= TIMESTAMP '2024-01-10') h) hh
       |  WHERE rn2 = 1 AND op != 'd'),
       |chg AS (SELECT user_id, k, value, op FROM (
       |    SELECT user_id, event_id, $dK AS k, value, $dOp AS op,
       |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn3
       |    FROM events
       |    WHERE ts > TIMESTAMP '2024-01-10' AND ts <= TIMESTAMP '2024-01-30') w
       |  WHERE rn3 = 1),
       |m AS (
       |  SELECT t.user_id, t.k, t.value FROM tgt t
       |  WHERE t.user_id NOT IN (SELECT user_id FROM chg)
       |  UNION ALL
       |  SELECT c.user_id, c.k, c.value FROM chg c WHERE c.op != 'd')
       |SELECT k % 8 AS grp, count(*) AS n_rows,
       |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       |  CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS min_cents,
       |  CAST(min(k) AS BIGINT) AS min_k,
       |  CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS max_cents,
       |  CAST(max(k) AS BIGINT) AS max_k
       |FROM m GROUP BY 1 ORDER BY grp""".stripMargin

  // A33 (r7): avg + variance + HLL distinct rollup maintenance — the
  // same two-window delta advancement as cdc_incr_agg, now carrying a
  // non-null count and a sum of squares (avg = sum/cnt and var =
  // sumsq/cnt − mean², both derived at read from an
  // invertible-under-deletes vector) plus a mergeable HLL distinct
  // sketch, which folds inserts in mergeably but must rescan any
  // group a window retires rows from (sketches support no removal).
  // Gated per group: the exact avg/var vectors hash-match the
  // oracle's recompute, the maintained sketch's estimate EQUALS the
  // one-shot recompute's estimate (HLL merge is exact, so increment
  // ≡ recompute bit-for-bit), and the estimate sits within 5% of the
  // exact distinct count.
  def cdcIncrAggHll(s: SparkSession, d: String): DataFrame = {
    def derive(df: DataFrame): DataFrame = df
      .withColumn("grp", col("k") % lit(8L))
      .withColumn("cents", round(col("value") * lit(100.0)).cast("long"))
    val ev = T.events(s, d)
    val pk = Seq("user_id")
    val m = IncrementalAgg.Measures(valueCols = Seq("cents"), avgCols = Seq("cents"),
      distinctCols = Seq("k"), varCols = Seq("cents"))
    val targetCols = Seq("user_id", "event_id", "k", "value", "grp", "cents")
    // pinned fixture targets, as in cdc_incr_agg_minmax: the bench
    // must time the maintenance, not a re-derived merge chain
    val target0 = EventsCdc.snapshot(ev, targetCols, derive = derive).localCheckpoint(true)
    val chg1 = EventsCdc.pinned(ev, W0, W1, derive)
    val chg2 = EventsCdc.pinned(ev, W1, W2, derive)
    val target1 = SnapshotMerge.merge(target0, chg1, pk).localCheckpoint(true)
    val target2 = SnapshotMerge.merge(target1, chg2, pk).localCheckpoint(true)
    val state0 = IncrementalAgg.fromSnapshot(target0, Seq("grp"), m)
    val state1 = IncrementalAgg.applyDelta(state0, target0, chg1, pk, Seq("grp"),
      m, target1, None)
    val state2 = IncrementalAgg.applyDelta(state1, target1, chg2, pk, Seq("grp"),
      m, target2, None)
    val recompute = IncrementalAgg.fromSnapshot(target2, Seq("grp"), m)
      .select(col("grp"), hll_sketch_estimate(col("hll_k")).as("recompute_est"))
    val exact = target2.groupBy("grp")
      .agg(countDistinct(col("k")).as("exact_distinct_k"))
    val mean = col("sum_cents").cast("double") / col("cnt_cents").cast("double")
    state2.join(recompute, Seq("grp")).join(exact, Seq("grp"))
      .select(col("grp"), col("n_rows"), col("sum_cents"), col("cnt_cents"),
        col("sumsq_cents"),
        mean.as("avg_cents"),
        (col("sumsq_cents").cast("double") / col("cnt_cents").cast("double") -
          mean * mean).as("var_cents"),
        col("exact_distinct_k"),
        (hll_sketch_estimate(col("hll_k")) === col("recompute_est"))
          .as("maintained_eq_recompute"),
        (abs(hll_sketch_estimate(col("hll_k")) - col("exact_distinct_k")) <=
          greatest(lit(1.0), col("exact_distinct_k") * lit(0.05)))
          .as("distinct_within_5pct"))
      .orderBy(col("grp"))
  }

  private val oIncrAggHll =
    s"""WITH tgt AS (SELECT user_id, k, value FROM (
       |    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn2
       |    FROM (SELECT user_id, event_id, $dK AS k, value, $dOp AS op, ts
       |          FROM events WHERE ts <= TIMESTAMP '2024-01-10') h) hh
       |  WHERE rn2 = 1 AND op != 'd'),
       |chg AS (SELECT user_id, k, value, op FROM (
       |    SELECT user_id, event_id, $dK AS k, value, $dOp AS op,
       |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn3
       |    FROM events
       |    WHERE ts > TIMESTAMP '2024-01-10' AND ts <= TIMESTAMP '2024-01-30') w
       |  WHERE rn3 = 1),
       |m AS (
       |  SELECT t.user_id, t.k, t.value FROM tgt t
       |  WHERE t.user_id NOT IN (SELECT user_id FROM chg)
       |  UNION ALL
       |  SELECT c.user_id, c.k, c.value FROM chg c WHERE c.op != 'd')
       |SELECT k % 8 AS grp, count(*) AS n_rows,
       |  CAST(sum(cents) AS BIGINT) AS sum_cents,
       |  CAST(count(cents) AS BIGINT) AS cnt_cents,
       |  CAST(sum(cents * cents) AS BIGINT) AS sumsq_cents,
       |  CAST(sum(cents) AS DOUBLE) / CAST(count(cents) AS DOUBLE) AS avg_cents,
       |  CAST(sum(cents * cents) AS DOUBLE) / CAST(count(cents) AS DOUBLE) -
       |    (CAST(sum(cents) AS DOUBLE) / CAST(count(cents) AS DOUBLE)) *
       |    (CAST(sum(cents) AS DOUBLE) / CAST(count(cents) AS DOUBLE)) AS var_cents,
       |  CAST(count(DISTINCT k) AS BIGINT) AS exact_distinct_k,
       |  TRUE AS maintained_eq_recompute,
       |  TRUE AS distinct_within_5pct
       |FROM (SELECT k, CAST(round(value * 100) AS BIGINT) AS cents FROM m) mm
       |GROUP BY 1 ORDER BY grp""".stripMargin

  // A24 (r7): snapshotDiff change feed — the versioned store's
  // `table_changes` analogue: one op-tagged row (i/u/d) per PK whose
  // row changed between two committed versions, reading only the
  // buckets the two manifests disagree on. The query builds a REAL
  // two-version bucketed store from the fixture windows (publish v0
  // from the pre-W0 history, merge the (W0,W1] delta into v1), then
  // exports the diff; the oracle recomputes both states in SQL and
  // FULL OUTER JOINs them with null-safe column comparison.
  def cdcSnapshotDiff(s: SparkSession, d: String): DataFrame = {
    val ev = T.events(s, d)
    val pk = Seq("user_id")
    val cfg = EventsCdc.config("snapdiff", Fixtures.dirs("snapdiff", 1).head, buckets = 16)
    val target0 = EventsCdc.snapshot(ev, cfg.targetCols)
    CdcPipeline.publish(target0, cfg.targetPath, pk, buckets = cfg.numBuckets) // v0
    val chg1 = EventsCdc.pinned(ev, W0, W1)
    EventsCdc.merge(s, cfg, chg1) // v1
    CdcPipeline.snapshotDiff(s, cfg.targetPath, 0L, 1L, pk).get
      .withColumnRenamed(CdcEnvelope.OpCol, "op")
      .orderBy(col("user_id"))
  }

  private val oSnapshotDiff =
    s"""WITH before_s AS (SELECT user_id, k, event_id, value FROM (
       |    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
       |    FROM (SELECT user_id, event_id, $dK AS k, value, $dOp AS op, ts
       |          FROM events WHERE ts <= TIMESTAMP '2024-01-10') h) hh
       |  WHERE rn = 1 AND op != 'd'),
       |chg AS (SELECT user_id, k, event_id, value, op FROM (
       |    SELECT user_id, event_id, $dK AS k, value, $dOp AS op,
       |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
       |    FROM events WHERE $dWin) w
       |  WHERE rn = 1),
       |after_s AS (
       |  SELECT b.user_id, b.k, b.event_id, b.value FROM before_s b
       |  WHERE b.user_id NOT IN (SELECT user_id FROM chg)
       |  UNION ALL
       |  SELECT user_id, k, event_id, value FROM chg WHERE op != 'd')
       |SELECT coalesce(a.user_id, b.user_id) AS user_id,
       |  coalesce(a.k, b.k) AS k,
       |  coalesce(a.event_id, b.event_id) AS event_id,
       |  coalesce(a.value, b.value) AS value,
       |  CASE WHEN b.user_id IS NULL THEN 'i'
       |       WHEN a.user_id IS NULL THEN 'd'
       |       ELSE 'u' END AS op
       |FROM before_s b FULL OUTER JOIN after_s a ON b.user_id = a.user_id
       |WHERE b.user_id IS NULL OR a.user_id IS NULL
       |   OR b.k IS DISTINCT FROM a.k
       |   OR b.event_id IS DISTINCT FROM a.event_id
       |   OR b.value IS DISTINCT FROM a.value
       |ORDER BY user_id""".stripMargin

  // A82 (r9): incremental store-to-store replication — a replica
  // bootstrapped from the source's v0, then converged through the
  // committed change feed after the (W0, W1] merge window lands as
  // the source's v1. The EXPORT is the replica's served snapshot:
  // hash-equality against the recomputed merged source state proves
  // the feed-replay path (diff → final-per-key compaction →
  // touched-bucket apply) reproduces the merge it never saw.
  // require()s pin the modes and the delta shape LOUDLY: the
  // incremental commit must rewrite ONLY buckets holding changed keys
  // (≤ the change set's own bucket count — an unconditional full
  // rewrite would pass the hash and hide a broken incremental path;
  // the sparse-span strict-subset law lives in ReplicationSpec).
  def cdcReplicate(s: SparkSession, d: String): DataFrame = {
    val ev = T.events(s, d)
    val pk = Seq("user_id")
    val dirs = Fixtures.dirs("replicate", 2)
    val srcDir = dirs.head
    val dstDir = dirs(1) + "/replica"
    val cfg = EventsCdc.config("replicate", srcDir, buckets = 16)
    val target0 = EventsCdc.snapshot(ev, cfg.targetCols)
    CdcPipeline.publish(target0, cfg.targetPath, pk, buckets = cfg.numBuckets) // v0
    val r0 = Replication.replicate(s, srcDir, dstDir, pk).get
    require(r0.mode == "bootstrap" && r0.srcVersion == 0L,
      s"expected a bootstrap of src v0, got $r0")
    val chg1 = EventsCdc.pinned(ev, W0, W1)
    EventsCdc.merge(s, cfg, chg1) // v1
    val r1 = Replication.replicate(s, srcDir, dstDir, pk).get
    require(r1.mode == "incremental" && r1.srcVersion == 1L,
      s"expected an incremental replay to src v1, got $r1")
    val m = CdcPipeline.manifest(dstDir, r1.dstVersion).get
    val expectTouched = CdcPipeline.bucketSet(chg1, CdcPipeline.bucketExpr(pk, m.numBuckets)).size
    require(CdcPipeline.bucketsWrittenAt(m, s"v${r1.dstVersion}").size <= expectTouched,
      "the incremental replicate commit must rewrite ONLY buckets holding " +
        "changed keys (rewrite I/O ∝ delta, never the replica)")
    CdcPipeline.readSnapshot(s, dstDir).get
      .select(col("user_id"), col("event_id").as("src_event_id"),
        col("k"), col("value"))
      .orderBy(col("user_id"))
  }

  private val oReplicate = oMerge

  // A83 (r9): ANALYZE NDV statistics — per-bucket HLL sketches built
  // at v0, degraded honestly by the (W0, W1] merge (rewritten
  // buckets' entries drop — require-asserted), then healed through
  // maintain()'s policy trigger. The EXPORT pins the lifecycle with
  // engine-computed verdict booleans the oracle re-derives as
  // constants (the cdc_incr_agg_hll pattern): per column, the exact
  // NDV of the post-merge state (hash-matched against DuckDB's
  // count(DISTINCT)), estimate-within-5%-of-exact, and
  // full-coverage-after-heal. A stubbed estimate or a heal that
  // rescans nothing (stale sketches of pre-merge k values would miss
  // the +10000 shift and blow the 5% bound) fails the gate.
  def cdcNdv(s: SparkSession, d: String): DataFrame = {
    val ev = T.events(s, d)
    val pk = Seq("user_id")
    val cfg = EventsCdc.config("ndv", Fixtures.dirs("ndv", 1).head, buckets = 16)
    val target0 = EventsCdc.snapshot(ev, cfg.targetCols)
    CdcPipeline.publish(target0, cfg.targetPath, pk, buckets = cfg.numBuckets) // v0
    CdcPipeline.buildNdvIndex(s, cfg.targetPath, Seq("k", "event_id"))        // v1
    require(CdcPipeline.ndvStats(s, cfg.targetPath, "k").exists(_.fullCoverage))
    val chg1 = EventsCdc.pinned(ev, W0, W1)
    EventsCdc.merge(s, cfg, chg1)                                             // v2
    val degraded = CdcPipeline.ndvStats(s, cfg.targetPath, "k").get
    require(degraded.coveredBuckets < degraded.totalBuckets,
      "the merge must drop rewritten buckets' NDV entries")
    CdcPipeline.maintain(s, cfg.targetPath, pk, CdcPipeline.MaintenancePolicy(
      dvFoldPct = None, smallFilesPerBucket = None, keepVersions = None,
      bloomRebuildPct = None, ndvRebuildPct = Some(1)))
    val snap = CdcPipeline.readSnapshot(s, cfg.targetPath).get
    val exact = snap.agg(
      countDistinct(col("k")).as("k"),
      countDistinct(col("event_id")).as("e")).collect()(0)
    val reps = Seq("k" -> exact.getLong(0), "event_id" -> exact.getLong(1)).map {
      case (c, ex) =>
        val r = CdcPipeline.ndvStats(s, cfg.targetPath, c).get
        (c, ex, math.abs(r.estimate - ex) <= math.max(1L, ex / 20),
          r.fullCoverage)
    }
    import s.implicits._
    reps.toDF("column", "exact_ndv", "estimate_ok", "full_coverage")
      .orderBy("column")
  }

  private val oNdv =
    s"""WITH tgt AS (SELECT user_id, event_id, k, value FROM (
       |    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn2
       |    FROM (SELECT user_id, event_id, $dK AS k, value, $dOp AS op, ts
       |          FROM events WHERE ts <= TIMESTAMP '2024-01-10') h) hh
       |  WHERE rn2 = 1 AND op != 'd'),
       |chg AS (SELECT user_id, event_id, k, value, op FROM (
       |    SELECT user_id, event_id, $dK AS k, value, $dOp AS op,
       |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn3
       |    FROM events WHERE $dWin) w
       |  WHERE rn3 = 1),
       |m AS (
       |  SELECT t.user_id, t.event_id, t.k FROM tgt t
       |  WHERE t.user_id NOT IN (SELECT user_id FROM chg)
       |  UNION ALL
       |  SELECT c.user_id, c.event_id, c.k FROM chg c WHERE c.op != 'd')
       |SELECT 'event_id' AS "column", count(DISTINCT event_id) AS exact_ndv,
       |  TRUE AS estimate_ok, TRUE AS full_coverage FROM m
       |UNION ALL
       |SELECT 'k', count(DISTINCT k), TRUE, TRUE FROM m
       |ORDER BY "column"""".stripMargin

  // A67 (r8): timestamp time travel — the same two-version store as
  // cdc_snapshot_diff, then the snapshot AS OF the wall-clock instant
  // v0 committed, read back from the manifest meta driver-side (the
  // data-derived-bounds discipline: no wall-clock literal could be
  // deterministic). The time-axis read must resolve to v0's state
  // even though v1 is current — an engine that rounds toward the
  // newest version, skips the carried-bucket resolution, or mis-picks
  // on the <= boundary breaks the hash. require()s pin the fixture
  // assumptions LOUDLY: v1 commits strictly after v0 (publishes are
  // seconds apart; an equal-microsecond collision would silently
  // serve v1) and the resolved version is 0.
  def cdcTimeTravelTs(s: SparkSession, d: String): DataFrame = {
    val ev = T.events(s, d)
    val pk = Seq("user_id")
    val cfg = EventsCdc.config("ttts", Fixtures.dirs("ttts", 1).head, buckets = 16)
    val target0 = EventsCdc.snapshot(ev, cfg.targetCols)
    CdcPipeline.publish(target0, cfg.targetPath, pk, buckets = cfg.numBuckets) // v0
    val chg1 = EventsCdc.pinned(ev, W0, W1)
    EventsCdc.merge(s, cfg, chg1) // v1
    val commits = CdcPipeline.describeHistory(s, cfg.targetPath).get
      .select(col("version"), col("commit_us")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap // 2-row driver metadata
    require(commits(1L) > commits(0L),
      s"fixture commits collided in one microsecond: $commits")
    require(CdcPipeline.versionAsOfTime(cfg.targetPath, commits(0L)).contains(0L),
      s"as-of ${commits(0L)} must resolve to v0, got " +
        CdcPipeline.versionAsOfTime(cfg.targetPath, commits(0L)))
    CdcPipeline.readSnapshotAsOfTime(s, cfg.targetPath, commits(0L)).get
      .select(col("user_id"), col("k"), col("event_id"), col("value"))
      .orderBy(col("user_id"))
  }

  private val oTimeTravelTs =
    s"""SELECT user_id, k, event_id, value FROM (
       |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
       |  FROM (SELECT user_id, event_id, $dK AS k, value, $dOp AS op, ts
       |        FROM events WHERE ts <= TIMESTAMP '2024-01-10') h) hh
       |WHERE rn = 1 AND op != 'd'
       |ORDER BY user_id""".stripMargin

  // A36 (r7): data-skipping stats — build a REAL two-version bucketed
  // store (v0 from the pre-W0 history with the stats index, v1 via an
  // incremental merge so the manifest mixes fresh and carried stat
  // entries), then read an event_id range through readRange. The
  // oracle recomputes the post-merge state and filters it directly:
  // the gate proves the stat-pruned read returns EXACTLY the filter
  // result whatever mix of rewritten/carried buckets serves it.
  def cdcStatsPrune(s: SparkSession, d: String): DataFrame = {
    val ev = T.events(s, d)
    val pk = Seq("user_id")
    val cfg = EventsCdc.config("statsprune", Fixtures.dirs("statsprune", 1).head,
      buckets = 16, statsCols = Seq("event_id"))
    val target0 = EventsCdc.snapshot(ev, cfg.targetCols)
    CdcPipeline.publish(target0, cfg.targetPath, pk, buckets = cfg.numBuckets,
      statsCols = cfg.statsCols) // v0: every bucket gets a stat entry
    val chg1 = EventsCdc.pinned(ev, W0, W1)
    EventsCdc.merge(s, cfg, chg1) // v1: fresh + carried
    // bounds = the middle third of the state's event_id span, derived
    // from the data so the range selects real rows at every SF
    val b = CdcPipeline.readSnapshot(s, cfg.targetPath).get
      .agg(min("event_id"), max("event_id")).collect()(0)
    val (mn, mx) = (b.getLong(0), b.getLong(1))
    CdcPipeline.readRange(s, cfg.targetPath, "event_id",
      Some(mn + (mx - mn) / 3), Some(mn + 2 * (mx - mn) / 3)).get
      .select("user_id", "k", "event_id", "value")
      .orderBy(col("user_id"))
  }

  private val oStatsPrune =
    s"""WITH snap AS (SELECT user_id, k, event_id, value FROM (
       |    SELECT user_id, event_id, $dK AS k, value, $dOp AS op,
       |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
       |    FROM events WHERE ts <= TIMESTAMP '2024-01-20') h
       |  WHERE rn = 1 AND op != 'd'),
       |b AS (SELECT min(event_id) AS mn, max(event_id) AS mx FROM snap)
       |SELECT user_id, k, event_id, value FROM snap, b
       |WHERE event_id BETWEEN mn + (mx - mn) // 3 AND mn + 2 * (mx - mn) // 3
       |ORDER BY user_id""".stripMargin

  // A42 (r8): multi-version change feed — THREE committed versions
  // (bootstrap publish + two incremental merges), then
  // readChangeFeed(0, 2) replays both commits in one op-tagged,
  // version-stamped frame. The oracle recomputes the three snapshots
  // and unions the two full-outer diffs, so the hash pins per-commit
  // membership, op tags, row images AND the version stamps.
  def cdcChangeFeed(s: SparkSession, d: String): DataFrame = {
    val ev = T.events(s, d)
    val pk = Seq("user_id")
    val cfg = EventsCdc.config("changefeed", Fixtures.dirs("changefeed", 1).head, buckets = 16)
    CdcPipeline.publish(EventsCdc.snapshot(ev, cfg.targetCols),
      cfg.targetPath, pk, buckets = cfg.numBuckets) // v0
    val chg1 = EventsCdc.pinned(ev, W0, W1)
    EventsCdc.merge(s, cfg, chg1) // v1
    val chg2 = EventsCdc.pinned(ev, W1, W2)
    EventsCdc.merge(s, cfg, chg2) // v2
    CdcPipeline.readChangeFeed(s, cfg.targetPath, pk, 0L, 2L).get
      .withColumnRenamed(CdcEnvelope.OpCol, "op")
      .select("user_id", "k", "event_id", "value", "op", "_commit_version")
      .orderBy(col("_commit_version"), col("user_id"))
  }

  /** One per-commit diff of the oracle: snapshots as of `t0`/`t1`
    * (ISO dates), full-outer joined on user_id, changed rows only,
    * stamped `cv`.
    */
  private def oDiffStep(t0: String, t1: String, cv: Int): String =
    s"""SELECT coalesce(a.user_id, b.user_id) AS user_id,
       |  coalesce(a.k, b.k) AS k,
       |  coalesce(a.event_id, b.event_id) AS event_id,
       |  coalesce(a.value, b.value) AS value,
       |  CASE WHEN b.user_id IS NULL THEN 'i'
       |       WHEN a.user_id IS NULL THEN 'd'
       |       ELSE 'u' END AS op,
       |  CAST($cv AS BIGINT) AS _commit_version
       |FROM (SELECT user_id, k, event_id, value FROM (
       |    SELECT user_id, event_id, $dK AS k, value, $dOp AS op,
       |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
       |    FROM events WHERE ts <= TIMESTAMP '$t0') h
       |  WHERE rn = 1 AND op != 'd') b
       |FULL OUTER JOIN (SELECT user_id, k, event_id, value FROM (
       |    SELECT user_id, event_id, $dK AS k, value, $dOp AS op,
       |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
       |    FROM events WHERE ts <= TIMESTAMP '$t1') h
       |  WHERE rn = 1 AND op != 'd') a
       |ON b.user_id = a.user_id
       |WHERE b.user_id IS NULL OR a.user_id IS NULL
       |   OR b.k IS DISTINCT FROM a.k
       |   OR b.event_id IS DISTINCT FROM a.event_id
       |   OR b.value IS DISTINCT FROM a.value""".stripMargin

  private val oChangeFeed =
    s"""SELECT * FROM (${oDiffStep("2024-01-10", "2024-01-20", 1)}
       |UNION ALL
       |${oDiffStep("2024-01-20", "2024-01-30", 2)}) t
       |ORDER BY _commit_version, user_id""".stripMargin

  // A40 (r8): OPTIMIZE — same real two-version store as
  // cdc_stats_prune but published WITHOUT any stats declaration, then
  // optimize() clusters every bucket by event_id (small
  // maxRecordsPerFile so buckets split into several range-tight
  // files) and the manifest LEARNS the clustering column. The range
  // read that follows can only prune through what optimize built, and
  // its hash must equal the plain filter over the recomputed state —
  // one compare covering content preservation, the learned stats
  // index, and pruning honesty on the rewritten layout.
  def cdcOptimize(s: SparkSession, d: String): DataFrame = {
    val ev = T.events(s, d)
    val pk = Seq("user_id")
    val cfg = EventsCdc.config("optimize", Fixtures.dirs("optimize", 1).head, buckets = 16)
    val target0 = EventsCdc.snapshot(ev, cfg.targetCols)
    CdcPipeline.publish(target0, cfg.targetPath, pk, buckets = cfg.numBuckets) // v0
    val chg1 = EventsCdc.pinned(ev, W0, W1)
    EventsCdc.merge(s, cfg, chg1) // v1
    CdcPipeline.optimize(s, cfg.targetPath, pk, Seq("event_id"),
      maxRecordsPerFile = 500L) // v2: clustered + learned stats
    val b = CdcPipeline.readSnapshot(s, cfg.targetPath).get
      .agg(min("event_id"), max("event_id")).collect()(0)
    val (mn, mx) = (b.getLong(0), b.getLong(1))
    CdcPipeline.readRange(s, cfg.targetPath, "event_id",
      Some(mn + (mx - mn) / 3), Some(mn + 2 * (mx - mn) / 3)).get
      .select("user_id", "k", "event_id", "value")
      .orderBy(col("user_id"))
  }

  private val oOptimize = oStatsPrune // same result contract, rebuilt layout

  // A41 (r8): predicate DELETE + UPDATE on a real bucketed store —
  // the GDPR/retention path the CDC merge can't express. Delete every
  // 5th event_id, then bump k by 1000 on every 7th: the final
  // snapshot must hash-match the oracle's filter+CASE over the
  // recomputed state, whatever mix of rewritten/carried buckets
  // serves it.
  def cdcDeleteUpdate(s: SparkSession, d: String): DataFrame = {
    val ev = T.events(s, d)
    val pk = Seq("user_id")
    val cfg = EventsCdc.config("delupd", Fixtures.dirs("delupd", 1).head, buckets = 16)
    val target0 = EventsCdc.snapshot(ev, cfg.targetCols)
    CdcPipeline.publish(target0, cfg.targetPath, pk, buckets = cfg.numBuckets) // v0
    val chg1 = EventsCdc.pinned(ev, W0, W1)
    EventsCdc.merge(s, cfg, chg1) // v1
    CdcPipeline.deleteWhere(s, cfg.targetPath, pk, col("event_id") % 5 === 0) // v2
    CdcPipeline.updateWhere(s, cfg.targetPath, pk, col("event_id") % 7 === 0,
      Map("k" -> (col("k") + lit(1000L)))) // v3
    CdcPipeline.readSnapshot(s, cfg.targetPath).get
      .select("user_id", "k", "event_id", "value")
      .orderBy(col("user_id"))
  }

  private val oDeleteUpdate =
    s"""WITH snap AS (SELECT user_id, k, event_id, value FROM (
       |    SELECT user_id, event_id, $dK AS k, value, $dOp AS op,
       |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
       |    FROM events WHERE ts <= TIMESTAMP '2024-01-20') h
       |  WHERE rn = 1 AND op != 'd')
       |SELECT user_id,
       |  CASE WHEN event_id % 7 = 0 THEN k + 1000 ELSE k END AS k,
       |  event_id, value
       |FROM snap WHERE event_id % 5 != 0
       |ORDER BY user_id""".stripMargin

  // A53 (r8): merge-on-read DELETE — the same retention deletes as
  // cdc_delete_update's first half but through DELETION VECTORS: two
  // successive MoR deletes publish versions that rewrite ZERO buckets
  // (require-asserted on the manifests — every bucket ref still
  // predates the deletes) and only append row positions; the served
  // snapshot must nevertheless hash-match the oracle's plain filters
  // over the recomputed state. One compare covering position capture,
  // vector accumulation across commits, and the read-side position filter.
  /** A64 gate: the one-call maintenance driver on a real store — v0
    * publish, v1 incremental merge, deliberate fragmentation (A40's
    * maxRecordsPerFile), a ~50% MoR delete, then ONE `maintain` pass:
    * the DV fold must fire (10% threshold; the ~50% `%2` delete clears
    * it at every SF — the tiny sf0.001 snapshot is only 12 rows, where
    * a sparser predicate lands under threshold), vacuum must reclaim, and
    * the SERVED CONTENT must be exactly what it was before maintenance
    * — the oracle recomputes the merged-minus-deleted state from the
    * raw events, so a maintenance pass that loses or resurrects a row
    * breaks the hash. Reference anchor: the scheduler slot around
    * merge.sql's procedure (maintenance between runs).
    */
  def cdcMaintain(s: SparkSession, d: String): DataFrame = {
    val ev = T.events(s, d)
    val pk = Seq("user_id")
    def cfgFor(dir: String) = EventsCdc.config("maint", dir, buckets = 16)
    // the v0..v3 setup (publish, merge, fragmenting optimize, MoR
    // delete) is identical every pass — build once per (gate, sf),
    // file-copy per pass; the gate TIMES maintain itself
    val cfg = cfgFor(Fixtures.cachedDirs("maint", d, 1) { case Seq(boot) =>
      val bcfg = cfgFor(boot)
      val target0 = EventsCdc.snapshot(ev, bcfg.targetCols)
      CdcPipeline.publish(target0, boot, pk, buckets = bcfg.numBuckets) // v0
      val chg1 = EventsCdc.changes(ev, W0, W1)
      EventsCdc.merge(s, bcfg, chg1) // v1
      CdcPipeline.optimize(s, boot, pk, sortCols = Seq("event_id"),
        maxRecordsPerFile = 20L) // v2: fragmented layout
      val Some((_, nDel)) =
        CdcPipeline.deleteWhereMoR(s, boot, pk, col("event_id") % 2 === 0) // v3
      require(nDel > 0, "fixture must delete something")
    }.head)
    val rep = CdcPipeline.maintain(s, cfg.targetPath, pk,
      CdcPipeline.MaintenancePolicy(dvFoldPct = Some(10),
        smallFilesPerBucket = Some(2), keepVersions = Some(1))).get
    require(rep.foldedDvVersion.isDefined, s"~50% DV must fold: $rep")
    require(CdcPipeline.dvStats(cfg.targetPath).isEmpty, "vector must be retired")
    require(rep.vacuumed.nonEmpty, "keepVersions=1 must reclaim")
    require(CdcPipeline.fastCount(cfg.targetPath).contains(
      CdcPipeline.readSnapshot(s, cfg.targetPath).get.count()),
      "footer count must agree after maintenance")
    CdcPipeline.readSnapshot(s, cfg.targetPath).get
      .select("user_id", "k", "event_id", "value")
      .orderBy(col("user_id"))
  }

  private val oMaintain =
    s"""SELECT user_id, k, event_id, value FROM (
       |    SELECT user_id, event_id, $dK AS k, value, $dOp AS op,
       |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
       |    FROM events WHERE ts <= TIMESTAMP '2024-01-20') h
       |  WHERE rn = 1 AND op != 'd' AND event_id % 2 != 0
       |ORDER BY user_id""".stripMargin

  def cdcDeleteMor(s: SparkSession, d: String): DataFrame = {
    val ev = T.events(s, d)
    val pk = Seq("user_id")
    val cfg = EventsCdc.config("delmor", Fixtures.dirs("delmor", 1).head, buckets = 16)
    val target0 = EventsCdc.snapshot(ev, cfg.targetCols)
    CdcPipeline.publish(target0, cfg.targetPath, pk, buckets = cfg.numBuckets) // v0
    val chg1 = EventsCdc.pinned(ev, W0, W1)
    EventsCdc.merge(s, cfg, chg1) // v1
    // %2 then %3: both non-empty even in the 12-row sf0.001 snapshot
    // (a %5/%11 pair leaves the second vector commit empty there)
    val Some((v2, n2)) =
      CdcPipeline.deleteWhereMoR(s, cfg.targetPath, pk, col("event_id") % 2 === 0)
    val Some((v3, n3)) =
      CdcPipeline.deleteWhereMoR(s, cfg.targetPath, pk, col("event_id") % 3 === 0)
    require(n2 > 0 && n3 > 0, "fixture must exercise both vector commits")
    Seq(v2, v3).foreach { v =>
      val m = CdcPipeline.manifest(cfg.targetPath, v).get
      require(CdcPipeline.bucketsWrittenAt(m, s"v$v").isEmpty,
        s"v$v must carry every bucket by reference (merge-on-read), but wrote buckets " +
          CdcPipeline.bucketsWrittenAt(m, s"v$v").toSeq.sorted.mkString(","))
    }
    CdcPipeline.readSnapshot(s, cfg.targetPath).get
      .select("user_id", "k", "event_id", "value")
      .orderBy(col("user_id"))
  }

  private val oDeleteMor =
    s"""SELECT user_id, k, event_id, value FROM (
       |    SELECT user_id, event_id, $dK AS k, value, $dOp AS op,
       |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
       |    FROM events WHERE ts <= TIMESTAMP '2024-01-20') h
       |  WHERE rn = 1 AND op != 'd'
       |    AND event_id % 2 != 0 AND event_id % 3 != 0
       |ORDER BY user_id""".stripMargin

  // A54 (r8): secondary bloom-filter point lookup — the merged store
  // (PK user_id) gets a bloom index on event_id (high-cardinality,
  // NON-key: hash routing can't find it, min/max stats can't prune a
  // point probe), then three concrete event_ids — those of users
  // 10/20/30, fetched via the bounded readKeys path — are looked up
  // through readPoint. Pruning is require-asserted (strictly fewer
  // files than the full snapshot read); the oracle re-derives the
  // same probe set with a subquery over the recomputed state, so the
  // compare covers index build, driver-side probing, the must-read
  // degradation rule, and the exact residual filter in one hash.
  def cdcBloomLookup(s: SparkSession, d: String): DataFrame = {
    val ev = T.events(s, d)
    val pk = Seq("user_id")
    val cfg = EventsCdc.config("bloomidx", Fixtures.dirs("bloomidx", 1).head, buckets = 16)
    val target0 = EventsCdc.snapshot(ev, cfg.targetCols)
    CdcPipeline.publish(target0, cfg.targetPath, pk, buckets = cfg.numBuckets) // v0
    val chg1 = EventsCdc.pinned(ev, W0, W1)
    EventsCdc.merge(s, cfg, chg1) // v1
    CdcPipeline.buildBloomIndex(s, cfg.targetPath, "event_id",
      expectedPerBucket = 1000L) // v2
    val keyDf = { import s.implicits._; Seq(10L, 20L, 30L).toDF(pk.head) }
    val probes = CdcPipeline.readKeys(s, cfg.targetPath, pk, keyDf).get
      .select("event_id").collect().map(_.getLong(0)).toSeq.sorted
    require(probes.nonEmpty, "fixture users must exist in the snapshot")
    val res = CdcPipeline.readPoint(s, cfg.targetPath, "event_id", probes).get
    val fullFiles = CdcPipeline.readSnapshot(s, cfg.targetPath).get.inputFiles.length
    require(res.inputFiles.length < fullFiles,
      s"bloom probe must prune buckets: read ${res.inputFiles.length} of $fullFiles files")
    res.select("user_id", "k", "event_id", "value").orderBy(col("user_id"))
  }

  private val oBloomLookup =
    s"""WITH snap AS (SELECT user_id, k, event_id, value FROM (
       |    SELECT user_id, event_id, $dK AS k, value, $dOp AS op,
       |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
       |    FROM events WHERE ts <= TIMESTAMP '2024-01-20') h
       |  WHERE rn = 1 AND op != 'd')
       |SELECT user_id, k, event_id, value FROM snap
       |WHERE event_id IN (SELECT event_id FROM snap WHERE user_id IN (10, 20, 30))
       |ORDER BY user_id""".stripMargin

  // A55 (r8): multi-table atomic commit — ONE logical run merges the
  // same change window into TWO stores (events split by user parity,
  // the facts+dim shape), STAGED (files + manifests written, claims
  // held, pointers untouched — require-asserted: both snapshots still
  // serve the old version after staging), then Txn.commit flips both.
  // The export unions the two committed snapshots, so the hash only
  // matches if both tables landed their window — a half-commit fails
  // the compare. Oracle = latest-per-key over the full window (the
  // parity split is a partition of the key space, so the union IS
  // the single-table answer).
  def cdcTxnCommit(s: SparkSession, d: String): DataFrame = {
    val ev = T.events(s, d)
    val pk = Seq("user_id")
    val dirs = Fixtures.dirs("txn", 3)
    def cfgFor(i: Int) = EventsCdc.config(s"txn$i", dirs(i), buckets = 8)
    val coord = dirs(2)
    val chg = EventsCdc.pinned(ev, W0, W1)
    val staged = (0 to 1).map { i =>
      val cfg = cfgFor(i)
      val side = col("user_id") % 2 === i
      val t0 = EventsCdc.snapshot(ev, cfg.targetCols, derive = _.filter(side))
      CdcPipeline.publish(t0, cfg.targetPath, pk, buckets = cfg.numBuckets) // v0
      val part = chg.filter(side)
      val out = EventsCdc.merge(s, cfg, part, swapNow = false)
      Txn.Staged(cfg.targetPath, out.version)
    }
    require(staged.forall(st => CdcPipeline.currentVersion(st.targetDir).contains(0L)),
      "staged merges must be invisible until the transaction commits")
    Txn.commit(coord, staged)
    require(staged.forall(st =>
      CdcPipeline.currentVersion(st.targetDir).contains(st.version)),
      "commit must flip every table")
    CdcPipeline.readSnapshot(s, dirs(0)).get
      .unionByName(CdcPipeline.readSnapshot(s, dirs(1)).get)
      .select("user_id", "k", "event_id", "value")
      .orderBy(col("user_id"))
  }

  private val oTxnCommit =
    s"""SELECT user_id, k, event_id, value FROM (
       |    SELECT user_id, event_id, $dK AS k, value, $dOp AS op,
       |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
       |    FROM events WHERE ts <= TIMESTAMP '2024-01-20') h
       |  WHERE rn = 1 AND op != 'd'
       |ORDER BY user_id""".stripMargin

  // A57 (r8): metadata-only ADD COLUMN with initial DEFAULT — widen
  // the merged store by a `score` column (zero bytes moved,
  // require-asserted: the declaring version dir holds no bucket
  // data), then a predicate UPDATE sets score on every 3rd event_id —
  // which rewrites ONLY the touched buckets, materializing the
  // default there, while untouched buckets keep resolving it at read
  // time from the meta entry. The export therefore mixes all three
  // row provenances (updated / materialized / meta-resolved) and the
  // oracle is one CASE over the recomputed state.
  def cdcAddColumn(s: SparkSession, d: String): DataFrame = {
    val ev = T.events(s, d)
    val pk = Seq("user_id")
    val cfg = EventsCdc.config("addcol", Fixtures.dirs("addcol", 1).head, buckets = 16)
    val target0 = EventsCdc.snapshot(ev, cfg.targetCols)
    CdcPipeline.publish(target0, cfg.targetPath, pk, buckets = cfg.numBuckets) // v0
    val chg1 = EventsCdc.pinned(ev, W0, W1)
    EventsCdc.merge(s, cfg, chg1) // v1
    val v2 = CdcPipeline.addColumnWithDefault(s, cfg.targetPath, "score",
      LongType, 7L).get
    require(CdcPipeline.listedBuckets(s"${cfg.targetPath}/v$v2").isEmpty,
      "ADD COLUMN must move zero data bytes")
    CdcPipeline.updateWhere(s, cfg.targetPath, pk, col("event_id") % 3 === 0,
      Map("score" -> (col("k") + lit(1L)))) // v3
    CdcPipeline.readSnapshot(s, cfg.targetPath).get
      .select("user_id", "k", "event_id", "value", "score")
      .orderBy(col("user_id"))
  }

  private val oAddColumn =
    s"""SELECT user_id, k, event_id, value,
       |  CASE WHEN event_id % 3 = 0 THEN k + 1 ELSE 7 END AS score
       |FROM (
       |    SELECT user_id, event_id, $dK AS k, value, $dOp AS op,
       |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
       |    FROM events WHERE ts <= TIMESTAMP '2024-01-20') h
       |  WHERE rn = 1 AND op != 'd'
       |ORDER BY user_id""".stripMargin

  // A71+A72 (r9): CHECK constraints + virtual generated columns on
  // the real merged store. The gate EXERCISES enforcement, not just
  // declaration: a violating merge must refuse with the pointer
  // unmoved (require-asserted), the clean merge then lands, and the
  // exported snapshot carries a computed column no file stores — the
  // oracle re-derives the merged state AND the expression in SQL, so
  // constraint survival, refusal semantics, and read-side compute all
  // ride one hash.
  def cdcConstraintsGenerated(s: SparkSession, d: String): DataFrame = {
    val ev = T.events(s, d)
    val pk = Seq("user_id")
    val cfg = EventsCdc.config("congen", Fixtures.dirs("congen", 1).head, buckets = 16)
    val target0 = EventsCdc.snapshot(ev, cfg.targetCols)
    CdcPipeline.publish(target0, cfg.targetPath, pk, buckets = cfg.numBuckets) // v0
    CdcPipeline.addCheckConstraint(s, cfg.targetPath, "nonneg_event",
      "event_id >= 0") // v1 — validates the whole v0 snapshot
    val chg1 = EventsCdc.pinned(ev, W0, W1)
    // a poisoned delta must refuse the COMMIT and move nothing
    val bad = chg1.filter(col(CdcEnvelope.OpCol) =!= CdcEnvelope.Delete)
      .limit(1).withColumn("event_id", lit(-5L))
    val before = CdcPipeline.currentVersion(cfg.targetPath).get
    val refused =
      try { EventsCdc.merge(s, cfg, bad); false }
      catch { case _: CdcPipeline.ConstraintViolationException => true }
    require(refused, "violating merge must throw")
    require(CdcPipeline.currentVersion(cfg.targetPath).get == before,
      "refused merge must not publish")
    EventsCdc.merge(s, cfg, chg1) // v2 — clean
    require(CdcPipeline.checkConstraints(cfg.targetPath).contains("nonneg_event"),
      "constraint must survive the delta publish")
    CdcPipeline.addGeneratedColumn(cfg.targetPath, "k2e", LongType,
      "k * 2 + event_id % 7") // v3 — metadata-only
    CdcPipeline.readSnapshot(s, cfg.targetPath).get
      .select("user_id", "k", "event_id", "value", "k2e")
      .orderBy(col("user_id"))
  }

  private val oConstraintsGenerated =
    s"""SELECT user_id, k, event_id, value, k * 2 + event_id % 7 AS k2e
       |FROM (
       |    SELECT user_id, event_id, $dK AS k, value, $dOp AS op,
       |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
       |    FROM events WHERE ts <= TIMESTAMP '2024-01-20') h
       |  WHERE rn = 1 AND op != 'd'
       |ORDER BY user_id""".stripMargin

  // A47 (r8): RESTORE — roll the store back to a pre-mistake version
  // by publishing a new version that carries the old manifest's
  // references (one manifest write, zero data bytes). The gate makes
  // a REAL mistake first: a predicate delete of a third of the keys
  // (require-asserted non-vacuous), then restores past it; the served
  // snapshot must hash-match the pre-delete state, and the restore
  // must be a roll-FORWARD (version 3, not a pointer rewind — history
  // keeps the bad version readable for forensics).
  def cdcRestore(s: SparkSession, d: String): DataFrame = {
    val ev = T.events(s, d)
    val pk = Seq("user_id")
    val cfg = EventsCdc.config("restore", Fixtures.dirs("restore", 1).head, buckets = 16)
    val target0 = EventsCdc.snapshot(ev, cfg.targetCols)
    CdcPipeline.publish(target0, cfg.targetPath, pk, buckets = cfg.numBuckets) // v0
    val chg1 = EventsCdc.pinned(ev, W0, W1)
    EventsCdc.merge(s, cfg, chg1) // v1
    val Some((_, deleted)) =
      CdcPipeline.deleteWhere(s, cfg.targetPath, pk, col("user_id") % 3 === 0) // v2
    require(deleted > 0, "fixture must actually lose rows before the restore")
    require(CdcPipeline.restoreSnapshot(cfg.targetPath, 1L).contains(3L),
      "restore must publish a NEW version (roll-forward), not rewind the pointer")
    CdcPipeline.readSnapshot(s, cfg.targetPath).get
      .select("user_id", "k", "event_id", "value")
      .orderBy(col("user_id"))
  }

  private val oRestore =
    s"""SELECT user_id, k, event_id, value FROM (
       |    SELECT user_id, event_id, $dK AS k, value, $dOp AS op,
       |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
       |    FROM events WHERE ts <= TIMESTAMP '2024-01-20') h
       |WHERE rn = 1 AND op != 'd'
       |ORDER BY user_id""".stripMargin

  // A78 (r9): write-audit-publish through a named branch. The gate
  // drives the full WAP lifecycle on real store machinery: bootstrap
  // (v0) → tag → branch (zero-copy fork) → the W0..W1 CDC window
  // merged INTO THE BRANCH while the upstream provably stays at v0 →
  // fsck audit on the branch → fast-forward publish. The served
  // upstream snapshot must hash-match the oracle's one-shot
  // latest-per-PK over BOTH windows — a leaked branch write, a
  // mis-rewired bucket ref, or a publish that lost the branch delta
  // each breaks the hash. Intermediate invariants (upstream pinned at
  // v0 pre-publish, tag still naming v0 after) are require-asserted.
  def cdcBranchWap(s: SparkSession, d: String): DataFrame = {
    val ev = T.events(s, d)
    val pk = Seq("user_id")
    val Seq(srcDir, brDir) = Fixtures.dirs("branchwap", 2)
    // the MERGE lands on the branch
    val cfg = EventsCdc.config("branchwap", brDir, buckets = 16)
    val target0 = EventsCdc.snapshot(ev, cfg.targetCols)
    CdcPipeline.publish(target0, srcDir, pk, buckets = cfg.numBuckets) // v0
    require(CdcPipeline.createTag(srcDir, "pre-wap").contains(0L),
      "tag must name the bootstrap version")
    require(CdcPipeline.createBranch(srcDir, brDir + "/b", "ingest").contains(0L),
      "branch must fork at v0")
    val bcfg = cfg.copy(targetPath = brDir + "/b")
    val chg1 = EventsCdc.pinned(ev, W0, W1)
    EventsCdc.merge(s, bcfg, chg1) // branch v1
    require(CdcPipeline.currentVersion(srcDir).contains(0L),
      "branch writes must not move the upstream pointer")
    require(CdcPipeline.fsck(s, bcfg.targetPath)
      .filter(col("severity") === "error").isEmpty,
      "branch must audit clean before publish")
    require(CdcPipeline.publishBranch(bcfg.targetPath).contains(1L),
      "fast-forward must publish upstream v1")
    require(CdcPipeline.tagVersion(srcDir, "pre-wap").contains(0L),
      "the tag still names the pre-WAP state")
    CdcPipeline.readSnapshot(s, srcDir).get
      .select("user_id", "k", "event_id", "value")
      .orderBy(col("user_id"))
  }

  private val oBranchWap =
    s"""SELECT user_id, k, event_id, value FROM (
       |    SELECT user_id, event_id, $dK AS k, value, $dOp AS op,
       |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
       |    FROM events WHERE ts <= TIMESTAMP '2024-01-20') h
       |WHERE rn = 1 AND op != 'd'
       |ORDER BY user_id""".stripMargin

  // A50 (r8): incrementally maintained JOIN view — the enrichment
  // star-join kept as a materialized store with delta-cost
  // maintenance on BOTH sides. The gate drives the full lifecycle:
  // bootstrap (fact ⨝ customer), a fact window merged through
  // applyFactDelta, then a dim delta (segment rewrite on every 10th
  // customer + DELETE of a disjoint ninth) through the fk index. The
  // served view must hash-match the oracle's one-shot join of the
  // recomputed fact state against the mutated dim — deleted dim keys
  // must read as NULL dim columns, never drop fact rows.
  def cdcJoinView(s: SparkSession, d: String): DataFrame = {
    def withFk(df: DataFrame): DataFrame =
      df.withColumn("cust_fk", expr("event_id % 1500"))
    val ev = T.events(s, d)
    val cust = T.customer(s, d)
    def specFor(dir: String) = JoinView.JoinViewSpec(
      viewDir = dir,
      factPk = Seq("user_id"), fkCol = "cust_fk", dimPk = "c_custkey",
      dimCols = Seq("c_mktsegment", "c_nationkey"), numBuckets = 16)
    // the two bootstrap publishes (view + fk index) are identical
    // every pass — build once per (gate, sf), file-copy per pass; the
    // gate TIMES the fact/dim delta maintenance
    val spec = specFor(Fixtures.cachedDirs("joinview", d, 1) { case Seq(boot) =>
      val fact0 = withFk(EventsCdc.snapshot(ev, Seq("user_id", "k", "event_id", "value")))
      JoinView.bootstrap(s, specFor(boot), fact0, cust)
      ()
    }.head)
    val chg1 = withFk(EventsCdc.changes(ev, W0, W1)).localCheckpoint(true)
    JoinView.applyFactDelta(s, spec, chg1, cust, Some(chg1.count()))
    val dimUp = cust.filter(col("c_custkey") % 10 === 0)
      .withColumn("c_mktsegment", lit("MOVED"))
      .withColumn(CdcEnvelope.OpCol, lit("u"))
    val dimDel = cust.filter(col("c_custkey") % 10 =!= 0 && col("c_custkey") % 9 === 4)
      .withColumn(CdcEnvelope.OpCol, lit("d"))
    JoinView.applyDimDelta(s, spec,
      dimUp.unionByName(dimDel)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"),
          col(CdcEnvelope.OpCol)))
    JoinView.read(s, spec).get
      .select("user_id", "cust_fk", "k", "event_id", "value",
        "c_mktsegment", "c_nationkey")
      .orderBy(col("user_id"))
  }

  private val oJoinView =
    s"""WITH snap AS (SELECT user_id, k, event_id, value FROM (
       |    SELECT user_id, event_id, $dK AS k, value, $dOp AS op,
       |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
       |    FROM events WHERE ts <= TIMESTAMP '2024-01-20') h
       |  WHERE rn = 1 AND op != 'd'),
       |dim AS (
       |  SELECT c_custkey,
       |    CASE WHEN c_custkey % 10 = 0 THEN 'MOVED' ELSE c_mktsegment END AS c_mktsegment,
       |    c_nationkey
       |  FROM customer
       |  WHERE NOT (c_custkey % 10 != 0 AND c_custkey % 9 = 4))
       |SELECT s.user_id, s.event_id % 1500 AS cust_fk, s.k, s.event_id, s.value,
       |  d.c_mktsegment, d.c_nationkey
       |FROM snap s LEFT JOIN dim d ON s.event_id % 1500 = d.c_custkey
       |ORDER BY s.user_id""".stripMargin

  // A29 (r5): SCD Type-2 history — every version of every PK with its
  // half-open validity interval; a delete closes the current slice
  // and opens none. The one-shot build (window-lead per PK) is the
  // oracle-gated surface; the incremental applyDelta is spec-gated
  // against it (CdcPipelineSpec).
  def cdcScd2(s: SparkSession, d: String): DataFrame = {
    val envK = env(s, d)
      .withColumn("k", get_json_object(col(CdcEnvelope.DataCol), "$.k").cast("bigint"))
    Scd2.fromHistory(envK, Seq("user_id"), Seq("event_id", "k", "value"))
      .orderBy(col("user_id"), col("valid_from_us"), col("event_id"))
  }

  private val oScd2 =
    s"""SELECT user_id, event_id, k, value, valid_from_us, valid_to_us FROM (
       |  SELECT user_id, event_id, $dK AS k, value, event_type,
       |    epoch_us(ts) AS valid_from_us,
       |    lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |      AS valid_to_us
       |  FROM events) t
       |WHERE event_type <> 'error'
       |ORDER BY user_id, valid_from_us, event_id""".stripMargin

  // A32 (r7): the PERSISTED SCD2 history store, oracle-gated end to
  // end — two incremental pipeline runs advance the on-disk history
  // (append-only closed dirs + delta-published open store), and
  // `readHistory` must hash-match the one-shot window-lead build over
  // the whole span (cdc_scd2's oracle). This gates the maintained
  // STORE itself — crash contract aside, every slice the two-window
  // advancement closed or left open — not just the Scd2 operator.
  def cdcScd2Store(s: SparkSession, d: String): DataFrame = {
    val endUs = CdcEnvelope.epochUs("2025-01-01T00:00:00Z")
    val Seq(storeDir, logDir) = Fixtures.dirs("scd2store", 2)
    // 8 buckets: the fixture's cost is per-file overhead (two full
    // publishes + two closed dirs per pass), not data volume — at a
    // real deployment's sizes the bucket count is a data-volume
    // knob, here it only multiplies 4-row parquet files
    val cfg = EventsCdc.config("scd2store", storeDir, buckets = 8, scd2 = true)
    val log = logDir
    // a deterministic quarter of the keyspace: the gate's strength is
    // the two-window STORE advancement ≡ one-shot equality, not the
    // fixture volume — the store build is real disk I/O per bench
    // pass, so the fixture is bounded like the other declared ones.
    // Pinned: run() launches many small jobs (counts, bounds, merge,
    // maintain), and without the pin each re-derives the scan+parse
    // lineage, so the query times the fixture instead of the store.
    val quarter = env(s, d).filter(col("user_id") % 4 === 0).localCheckpoint(true)
    CdcPipeline.run(s, cfg, quarter, log, W1)
    CdcPipeline.run(s, cfg, quarter, log, endUs)
    Scd2Store.readHistory(s, cfg).get
      .select(col("user_id"), col("event_id"), col("k"), col("value"),
        col(Scd2.From), col(Scd2.To))
      .orderBy(col("user_id"), col(Scd2.From), col("event_id"))
  }

  private val oScd2Store =
    s"""SELECT user_id, event_id, k, value, valid_from_us, valid_to_us FROM (
       |  SELECT user_id, event_id, $dK AS k, value, event_type,
       |    epoch_us(ts) AS valid_from_us,
       |    lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |      AS valid_to_us
       |  FROM events WHERE user_id % 4 = 0) t
       |WHERE event_type <> 'error'
       |ORDER BY user_id, valid_from_us, event_id""".stripMargin

  // A93 (r11): bitemporal point read — valid time × transaction time
  // over the SCD2 store: "the rows live at valid instant V, as the
  // store knew them at load watermark T". The fixture advances a real
  // on-disk history across TWO windows, then reads back through the
  // FINAL store with tx = the FIRST watermark — the reconstruction
  // must re-open every closure the second advancement added
  // (valid_to > T → null) and drop every slice it introduced
  // (valid_from > T). Exact by the window contract (see
  // Scd2Store.readHistoryAsKnownAt); the oracle re-derives the same
  // state from the raw events truncated at T.
  def cdcBitemporal(s: SparkSession, d: String): DataFrame = {
    val endUs = CdcEnvelope.epochUs("2025-01-01T00:00:00Z")
    val vUs = CdcEnvelope.epochUs("2024-01-15T00:00:00Z")
    val Seq(storeDir, logDir) = Fixtures.dirs("bitemporal", 2)
    // 8 buckets: the per-file-overhead bound, as cdc_scd2_store
    val cfg = EventsCdc.config("bitemporal", storeDir, buckets = 8, scd2 = true)
    // a third deterministic quarter (scd2store uses %4=0, range %4=1)
    val quarter = env(s, d).filter(col("user_id") % 4 === 2).localCheckpoint(true)
    CdcPipeline.run(s, cfg, quarter, logDir, W1)
    CdcPipeline.run(s, cfg, quarter, logDir, endUs)
    Scd2Store.readBitemporal(s, cfg, W1, vUs).get
      .select(col("user_id"), col("event_id"), col("k"), col("value"),
        col(Scd2.From), col(Scd2.To))
      .orderBy(col("user_id"))
  }

  private val oBitemporal =
    s"""SELECT user_id, event_id, k, value, valid_from_us, valid_to_us FROM (
       |  SELECT user_id, event_id, $dK AS k, value, event_type,
       |    epoch_us(ts) AS valid_from_us,
       |    lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |      AS valid_to_us
       |  FROM events
       |  WHERE user_id % 4 = 2 AND ts <= TIMESTAMP '2024-01-20') t
       |WHERE event_type <> 'error'
       |  AND valid_from_us <= epoch_us(TIMESTAMP '2024-01-15')
       |  AND (valid_to_us IS NULL
       |       OR valid_to_us > epoch_us(TIMESTAMP '2024-01-15'))
       |ORDER BY user_id""".stripMargin

  // A32's TIME axis (r8, r7 verdict #5): `readHistoryRange` was
  // spec-only — this gate advances a REAL on-disk history across
  // THREE windows (so the store holds ≥3 closed advancement dirs
  // with `_RANGE` sidecars), then reads a middle time interval,
  // data-derived bounds (middle third of the fixture's event-time
  // span, the cdc_stats_prune pattern). The oracle applies the same
  // interval predicate to the one-shot window-lead history: the gate
  // proves `_RANGE`-pruned reading returns EXACTLY `readHistory`
  // filtered — pruning skips whole pre-horizon dirs, never rows.
  def cdcScd2Range(s: SparkSession, d: String): DataFrame = {
    val endUs = CdcEnvelope.epochUs("2025-01-01T00:00:00Z")
    // 8 buckets: the same per-file-overhead bound as cdc_scd2_store
    def cfgFor(dir: String) = EventsCdc.config("scd2range", dir, buckets = 8, scd2 = true)
    // a different deterministic quarter than cdc_scd2_store, pinned
    // for the same reason (the gate times the store, not the fixture)
    val quarter = env(s, d).filter(col("user_id") % 4 === 1).localCheckpoint(true)
    // the W1 bootstrap + W2 advance are identical every pass — cached;
    // the gate TIMES one real history-advancing incremental run (the
    // third window), which is the store cost being graded
    val Seq(storeDir, logDir) = Fixtures.cachedDirs("scd2range", d, 2) {
      case Seq(bootStore, bootLog) =>
        val bcfg = cfgFor(bootStore)
        CdcPipeline.run(s, bcfg, quarter, bootLog, W1)
        CdcPipeline.run(s, bcfg, quarter, bootLog, W2)
        ()
    }
    val cfg = cfgFor(storeDir)
    CdcPipeline.run(s, cfg, quarter, logDir, endUs)
    val b = quarter.agg(min(col(CdcEnvelope.TsCol)), max(col(CdcEnvelope.TsCol)))
      .collect()(0)
    val (mn, mx) = (b.getLong(0), b.getLong(1))
    Scd2Store.readHistoryRange(s, cfg,
      mn + (mx - mn) / 3, Some(mn + 2 * (mx - mn) / 3)).get
      .select(col("user_id"), col("event_id"), col("k"), col("value"),
        col(Scd2.From), col(Scd2.To))
      .orderBy(col("user_id"), col(Scd2.From), col("event_id"))
  }

  private val oScd2Range =
    s"""WITH h AS (
       |  SELECT user_id, event_id, $dK AS k, value, event_type,
       |    epoch_us(ts) AS valid_from_us,
       |    lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |      AS valid_to_us
       |  FROM events WHERE user_id % 4 = 1),
       |b AS (SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx
       |      FROM events WHERE user_id % 4 = 1)
       |SELECT user_id, event_id, k, value, valid_from_us, valid_to_us
       |FROM h, b
       |WHERE event_type <> 'error'
       |  AND (valid_to_us IS NULL OR valid_to_us >= mn + (mx - mn) // 3)
       |  AND valid_from_us <= mn + 2 * (mx - mn) // 3
       |ORDER BY user_id, valid_from_us, event_id""".stripMargin

  // A39: write-time expectations over the window's envelope rows —
  // one quarantine-actioned, one drop-actioned, one warn-actioned
  // declaration, all deterministic arithmetic so the oracle can
  // restate them. The quarantine view carries EVERY violated name
  // (sorted), the clean view proves warn keeps / drop removes.
  private val expSpecs = Seq(
    Expectations.Expectation("ev_mod10", "event_id % 10 != 0", Expectations.Quarantine),
    Expectations.Expectation("ev_user97", "user_id % 97 != 13", Expectations.Drop),
    Expectations.Expectation("ev_value_low", "value < 300", Expectations.Warn))

  def cdcExpectations(s: SparkSession, d: String): DataFrame =
    Expectations.split(CdcEnvelope.eventsWindowed(T.events(s, d), W0, W1), expSpecs)
      .quarantined
      .select(col("event_id"), col("user_id"), col("value"),
        array_join(col(Expectations.ViolationsCol), ",").as("violations"))
      .orderBy(col("event_id"))

  private val oExpectations =
    s"""SELECT event_id, user_id, value,
       |  concat_ws(',',
       |    CASE WHEN NOT (event_id % 10 != 0) THEN 'ev_mod10' END,
       |    CASE WHEN NOT (user_id % 97 != 13) THEN 'ev_user97' END,
       |    CASE WHEN NOT (value < 300) THEN 'ev_value_low' END) AS violations
       |FROM events WHERE $dWin AND event_id % 10 = 0
       |ORDER BY event_id""".stripMargin

  def cdcExpectationsClean(s: SparkSession, d: String): DataFrame =
    Expectations.split(CdcEnvelope.eventsWindowed(T.events(s, d), W0, W1), expSpecs)
      .clean
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_id"),
        sum(when(col("value") >= 300, 1L).otherwise(0L)).as("warn_kept"))

  private val oExpectationsClean =
    s"""SELECT count(*) AS n, CAST(sum(event_id) AS BIGINT) AS sum_id,
       |  CAST(sum(CASE WHEN value >= 300 THEN 1 ELSE 0 END) AS BIGINT) AS warn_kept
       |FROM events
       |WHERE $dWin AND event_id % 10 != 0 AND user_id % 97 != 13""".stripMargin

  // A75 (r9): COPY INTO — idempotent bulk file ingestion. The gate
  // drives the full loader loop on a real store: bootstrap (even
  // doc_ids) → copy TWO landed parquet files (disjoint PK sets —
  // %3==0 upserts, %3==1 inserts) → re-copy the same files (the
  // require pins the no-op: 2 skipped, pointer unmoved) → an
  // updateWhere bumps the %3==0 rows → a third copy offers a NEW
  // file (%7==2) PLUS the first file again. The ledger honesty is
  // OBSERVABLE in the final state: if the re-offered file were
  // re-applied it would revert the update's +10, so the oracle's
  // CASE arithmetic only matches when the skip actually happened.
  def cdcCopyInto(s: SparkSession, d: String): DataFrame = {
    val docs = T.documents(s, d)
    val dirs = Fixtures.dirs("copyinto", 4)
    val (store, land1, land2, land3) = (dirs(0), dirs(1), dirs(2), dirs(3))
    def landing(df: DataFrame, dir: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(dir)
    val pk = Seq("doc_id")
    CdcPipeline.publish(
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"), col("n_chars").as("v")),
      store, pk, buckets = Some(8))
    landing(docs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("lang"), (col("n_chars") + 1000L).as("v")), land1)
    landing(docs.filter(col("doc_id") % 3 === 1)
      .select(col("doc_id"), col("lang"), (col("n_chars") + 2000L).as("v")), land2)
    val f1 = StoreFs.listFilePaths(land1, ".parquet")
    val f2 = StoreFs.listFilePaths(land2, ".parquet")
    val r1 = CopyInto.copyInto(s, store, pk, f1 ++ f2)
    require(r1.filesIngested == (f1 ++ f2).size.toLong,
      s"copy1 must ingest all fresh files, got $r1")
    val r2 = CopyInto.copyInto(s, store, pk, f1 ++ f2)
    require(r2.filesIngested == 0L && r2.filesSkipped == (f1 ++ f2).size.toLong
        && r2.version == r1.version && r2.rowsIngested == 0L,
      s"re-copy must be a full no-op, got $r2")
    CdcPipeline.updateWhere(s, store, pk, col("doc_id") % 3 === 0,
      Map("v" -> (col("v") + lit(10L))))
    landing(docs.filter(col("doc_id") % 7 === 2)
      .select(col("doc_id"), col("lang"), (col("n_chars") + 7000L).as("v")), land3)
    val f3 = StoreFs.listFilePaths(land3, ".parquet")
    val r3 = CopyInto.copyInto(s, store, pk, f3 ++ f1)
    require(r3.filesIngested == f3.size.toLong
        && r3.filesSkipped == f1.size.toLong,
      s"copy3 must skip the re-offered ingested file, got $r3")
    CdcPipeline.readSnapshot(s, store).get
      .select("doc_id", "lang", "v").orderBy("doc_id")
  }

  private val oCopyInto =
    """SELECT doc_id, lang,
      |  CAST(CASE WHEN doc_id % 7 = 2 THEN n_chars + 7000
      |            WHEN doc_id % 3 = 0 THEN n_chars + 1010
      |            WHEN doc_id % 3 = 1 THEN n_chars + 2000
      |            ELSE n_chars END AS BIGINT) AS v
      |FROM documents
      |WHERE doc_id % 2 = 0 OR doc_id % 3 IN (0, 1) OR doc_id % 7 = 2
      |ORDER BY doc_id""".stripMargin

  // A76 (r9): identity columns — GENERATED ALWAYS surrogate keys.
  // Bootstrap (even doc_ids, sid dense 1..n by doc_id via the C74
  // two-pass form) → declare (high-water seeds from max) → merge 1
  // (%3 docs, NO sid in the source: even ones keep their sid and
  // update payload, odd ones allocate n+1.. in pk order) → merge 2
  // (%5==1 docs: previously-inserted rows keep their merge-1 ids —
  // the "ids are forever" half of the law — new ones continue above).
  // The oracle re-derives every sid from set arithmetic alone
  // (row_numbers over the three disjoint insert cohorts), so a
  // re-allocation, a rewound high-water, or an unstable order each
  // break the hash.
  def cdcIdentity(s: SparkSession, d: String): DataFrame = {
    val docs = T.documents(s, d)
    val store = Fixtures.dirs("identity", 1).head
    val pk = Seq("doc_id")
    val evens = docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("n_chars").as("v"))
    CdcPipeline.publish(
      graft.ops.Packing.materializePositions(evens, Seq(col("doc_id")))
        .select(col("doc_id"), (col("pos") + 1L).as("sid"), col("v")),
      store, pk, buckets = Some(8))
    IdentityColumns.declare(s, store, "sid")
    IdentityColumns.mergeWithIdentity(s, store, pk,
      docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), (col("n_chars") + 1000L).as("v")), "sid")
    IdentityColumns.mergeWithIdentity(s, store, pk,
      docs.filter(col("doc_id") % 5 === 1)
        .select(col("doc_id"), (col("n_chars") + 5000L).as("v")), "sid")
    CdcPipeline.readSnapshot(s, store).get
      .select("doc_id", "sid", "v").orderBy("doc_id")
  }

  private val oIdentity =
    """WITH evens AS (
      |  SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS sid
      |  FROM documents WHERE doc_id % 2 = 0),
      |n0 AS (SELECT count(*) AS n FROM evens),
      |ins1 AS (
      |  SELECT doc_id, (SELECT n FROM n0) + row_number() OVER (ORDER BY doc_id)
      |    AS sid
      |  FROM documents WHERE doc_id % 2 = 1 AND doc_id % 3 = 0),
      |n1 AS (SELECT count(*) AS n FROM ins1),
      |ins2 AS (
      |  SELECT doc_id, (SELECT n FROM n0) + (SELECT n FROM n1)
      |    + row_number() OVER (ORDER BY doc_id) AS sid
      |  FROM documents
      |  WHERE doc_id % 2 = 1 AND doc_id % 3 != 0 AND doc_id % 5 = 1),
      |sids AS (
      |  SELECT * FROM evens UNION ALL SELECT * FROM ins1
      |  UNION ALL SELECT * FROM ins2)
      |SELECT d.doc_id, CAST(s.sid AS BIGINT) AS sid,
      |  CAST(CASE WHEN d.doc_id % 5 = 1 THEN d.n_chars + 5000
      |            WHEN d.doc_id % 3 = 0 THEN d.n_chars + 1000
      |            ELSE d.n_chars END AS BIGINT) AS v
      |FROM documents d JOIN sids s ON d.doc_id = s.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // A86 (r9): policy-secured snapshot read — a row filter evaluated
  // on RAW rows (pushed into the scan) plus column masks that see the
  // raw row and cast back to the stored type: k generalizes to its
  // decade bucket, event_id redacts to -1 for high user ids THROUGH a
  // cross-column mask, value nulls out entirely. The store is the
  // real bucketed snapshot of the full canonical history; the oracle
  // recomputes the merged state and applies the same policy in SQL.
  def cdcSecuredRead(s: SparkSession, d: String): DataFrame = {
    val ev = T.events(s, d)
    val pk = Seq("user_id")
    val target = Fixtures.dirs("secured", 1).head
    val snap = EventsCdc.snapshot(ev, Seq("user_id", "k", "event_id", "value"), upToUs = W1)
    CdcPipeline.publish(snap, target, pk, buckets = Some(16)) // v0
    Security.readSecured(s, target, SecurityPolicy(
      rowFilter = Some("user_id % 7 != 0"),
      masks = Map(
        "k" -> "k DIV 10 * 10",
        "event_id" -> "CASE WHEN user_id < 50 THEN event_id ELSE -1 END",
        "value" -> "CAST(NULL AS DOUBLE)"))).get
      .orderBy(col("user_id"))
  }

  private val oSecuredRead =
    s"""WITH snap AS (SELECT user_id, k, event_id, value FROM (
       |    SELECT user_id, event_id, $dK AS k, value, $dOp AS op,
       |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
       |    FROM events WHERE ts <= TIMESTAMP '2024-01-20') h
       |  WHERE rn = 1 AND op != 'd')
       |SELECT user_id, k // 10 * 10 AS k,
       |  CASE WHEN user_id < 50 THEN event_id ELSE CAST(-1 AS BIGINT) END AS event_id,
       |  CAST(NULL AS DOUBLE) AS value
       |FROM snap WHERE user_id % 7 != 0 ORDER BY user_id""".stripMargin

  // A87 (r9): partial-update (sparse) merge — column-level LWW. The
  // base snapshot is the full-field state at W0; the delta window's
  // events are rewritten into SPARSE patches (field `a` = k only on
  // even event_ids, field `b` = value cents only on event_ids
  // divisible by 3 — so patches carry {a}, {b}, {a,b}, or nothing),
  // deletes stay tombstones. Each field must independently take the
  // latest event that SET it, deletes must not leak pre-delete
  // values into resurrected rows, and untouched base rows carry.
  def cdcMergePartial(s: SparkSession, d: String): DataFrame = {
    val ev = T.events(s, d)
    val base = SnapshotMerge.fromHistory(
      EventsCdc.envUpTo(ev, W0)
        .withColumn("a", get_json_object(col(CdcEnvelope.DataCol), "$.k").cast("long"))
        .withColumn("b", expr("CAST(round(value * 100) AS BIGINT)")),
      Seq("user_id"), Seq("user_id", "a", "b"))
    val sparse = CdcEnvelope.eventsWindowed(ev, W0, W1)
      .withColumn(CdcEnvelope.DataCol, to_json(struct(
        when(col("event_id") % 2 === 0,
          get_json_object(col(CdcEnvelope.DataCol), "$.k").cast("long")).as("a"),
        when(col("event_id") % 3 === 0,
          expr("CAST(round(value * 100) AS BIGINT)")).as("b")),
        Map("ignoreNullFields" -> "true")))
    PartialMerge.merge(sparse, base, Seq("user_id"),
      Seq(FieldSpec("a", Cast(LongType)), FieldSpec("b", Cast(LongType))))
      .orderBy(col("user_id"))
  }

  private val oMergePartial =
    s"""WITH win AS (
       |  SELECT user_id, epoch_us(ts) AS t, event_id AS pos,
       |    $dOp AS op,
       |    CASE WHEN event_id % 2 = 0 THEN $dK END AS a_val,
       |    CASE WHEN event_id % 3 = 0
       |         THEN CAST(round(value * 100) AS BIGINT) END AS b_val
       |  FROM events WHERE $dWin),
       |base AS (
       |  SELECT user_id, a, b FROM (
       |    SELECT user_id, $dK AS a, CAST(round(value * 100) AS BIGINT) AS b,
       |      $dOp AS op,
       |      row_number() OVER (PARTITION BY user_id
       |        ORDER BY ts DESC, event_id DESC) AS rn
       |    FROM events WHERE ts <= TIMESTAMP '2024-01-10') h
       |  WHERE rn = 1 AND op != 'd'),
       |ld AS (
       |  SELECT user_id, t AS ld_t, pos AS ld_pos FROM (
       |    SELECT user_id, t, pos, row_number() OVER (PARTITION BY user_id
       |      ORDER BY t DESC, pos DESC) AS rn
       |    FROM win WHERE op = 'd') x WHERE rn = 1),
       |aft AS (
       |  SELECT w.* FROM win w LEFT JOIN ld ON w.user_id = ld.user_id
       |  WHERE w.op = 'u' AND (ld_t IS NULL OR (w.t, w.pos) > (ld_t, ld_pos))),
       |lwa AS (
       |  SELECT user_id, a_val FROM (
       |    SELECT user_id, a_val, row_number() OVER (PARTITION BY user_id
       |      ORDER BY t DESC, pos DESC) AS rn
       |    FROM aft WHERE a_val IS NOT NULL) x WHERE rn = 1),
       |lwb AS (
       |  SELECT user_id, b_val FROM (
       |    SELECT user_id, b_val, row_number() OVER (PARTITION BY user_id
       |      ORDER BY t DESC, pos DESC) AS rn
       |    FROM aft WHERE b_val IS NOT NULL) x WHERE rn = 1),
       |touch AS (SELECT DISTINCT user_id FROM aft),
       |live AS (
       |  SELECT coalesce(t.user_id, b.user_id) AS user_id,
       |    b.user_id IS NOT NULL AS has_base,
       |    t.user_id IS NOT NULL AS touched,
       |    ld.ld_t IS NOT NULL AS deleted,
       |    b.a AS base_a, b.b AS base_b
       |  FROM base b FULL JOIN touch t ON b.user_id = t.user_id
       |  LEFT JOIN ld ON coalesce(t.user_id, b.user_id) = ld.user_id)
       |SELECT user_id,
       |  coalesce(lwa.a_val,
       |    CASE WHEN NOT deleted AND has_base THEN base_a END) AS a,
       |  coalesce(lwb.b_val,
       |    CASE WHEN NOT deleted AND has_base THEN base_b END) AS b
       |FROM live LEFT JOIN lwa USING (user_id) LEFT JOIN lwb USING (user_id)
       |WHERE touched OR (has_base AND NOT deleted)
       |ORDER BY user_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("cdc_merge_partial", cdcMergePartial, Some(oMergePartial)),
    QueryDef("cdc_secured_read", cdcSecuredRead, Some(oSecuredRead)),
    QueryDef("cdc_identity", cdcIdentity, Some(oIdentity)),
    QueryDef("cdc_copy_into", cdcCopyInto, Some(oCopyInto)),
    QueryDef("cdc_parse", cdcParse, Some(oParse)),
    QueryDef("cdc_scd2", cdcScd2, Some(oScd2)),
    QueryDef("cdc_window", cdcWindow, Some(oWindow)),
    QueryDef("cdc_compact", cdcCompact, Some(oCompact)),
    QueryDef("cdc_upserts", cdcUpserts, Some(oUpserts)),
    QueryDef("cdc_deletes", cdcDeletes, Some(oDeletes)),
    QueryDef("cdc_merge", cdcMerge, Some(oMerge)),
    QueryDef("cdc_sql_merge", cdcSqlMerge, Some(oMerge)),
    QueryDef("cdc_sql_dml", cdcSqlDml, Some(oMerge)),
    QueryDef("cdc_merge_full_sync", cdcMergeFullSync, Some(oUpserts)),
    QueryDef("cdc_merge_into", cdcMergeInto, Some(oMergeInto)),
    QueryDef("cdc_typed_projection", cdcTypedProjection, Some(oTypedProjection)),
    QueryDef("cdc_typed_projection_v2", cdcTypedProjectionV2, Some(oTypedProjectionV2)),
    QueryDef("cdc_multipk", cdcMultipk, Some(oMultipk)),
    QueryDef("cdc_run_stats", cdcRunStats, Some(oRunStats)),
    QueryDef("cdc_rowkey", cdcRowkey, Some(oRowkey)),
    QueryDef("cdc_landed_parse", cdcLandedParse, Some(oLandedParse)),
    QueryDef("cdc_incr_agg", cdcIncrAgg, Some(oIncrAgg)),
    QueryDef("cdc_incr_agg_minmax", cdcIncrAggMinmax, Some(oIncrAggMinmax)),
    QueryDef("cdc_incr_agg_hll", cdcIncrAggHll, Some(oIncrAggHll)),
    QueryDef("cdc_snapshot_diff", cdcSnapshotDiff, Some(oSnapshotDiff)),
    QueryDef("cdc_replicate", cdcReplicate, Some(oReplicate)),
    QueryDef("cdc_ndv", cdcNdv, Some(oNdv)),
    QueryDef("cdc_time_travel_ts", cdcTimeTravelTs, Some(oTimeTravelTs)),
    QueryDef("cdc_stats_prune", cdcStatsPrune, Some(oStatsPrune)),
    QueryDef("cdc_scd2_store", cdcScd2Store, Some(oScd2Store)),
    QueryDef("cdc_scd2_range", cdcScd2Range, Some(oScd2Range)),
    QueryDef("cdc_bitemporal", cdcBitemporal, Some(oBitemporal)),
    QueryDef("cdc_optimize", cdcOptimize, Some(oOptimize)),
    QueryDef("cdc_delete_update", cdcDeleteUpdate, Some(oDeleteUpdate)),
    QueryDef("cdc_delete_mor", cdcDeleteMor, Some(oDeleteMor)),
    QueryDef("cdc_maintain", cdcMaintain, Some(oMaintain)),
    QueryDef("cdc_bloom_lookup", cdcBloomLookup, Some(oBloomLookup)),
    QueryDef("cdc_txn_commit", cdcTxnCommit, Some(oTxnCommit)),
    QueryDef("cdc_add_column", cdcAddColumn, Some(oAddColumn)),
    QueryDef("cdc_constraints_generated", cdcConstraintsGenerated,
      Some(oConstraintsGenerated)),
    QueryDef("cdc_restore", cdcRestore, Some(oRestore)),
    QueryDef("cdc_branch_wap", cdcBranchWap, Some(oBranchWap)),
    QueryDef("cdc_join_view", cdcJoinView, Some(oJoinView)),
    QueryDef("cdc_change_feed", cdcChangeFeed, Some(oChangeFeed)),
    QueryDef("cdc_expectations", cdcExpectations, Some(oExpectations)),
    QueryDef("cdc_expectations_clean", cdcExpectationsClean, Some(oExpectationsClean)),
  )
}
