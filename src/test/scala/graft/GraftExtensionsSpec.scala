package graft

import org.scalatest.funsuite.AnyFunSuite

/** The SQL surface registered by GraftExtensions. */
class GraftExtensionsSpec extends AnyFunSuite {
  private lazy val spark = { val s = LocalSpark.spark; GraftExtensions.register(s); s }
  import spark.implicits._

  test("cosine_similarity in SQL") {
    val got = spark.sql(
      "SELECT cosine_similarity(array(cast(1.0 as float), cast(0.0 as float)), " +
        "array(cast(1.0 as float), cast(0.0 as float))) AS c").as[Double].collect()(0)
    assert(math.abs(got - 1.0) < 1e-12)
  }

  test("simhash64 / word_shingles / minhash_band_buckets in SQL") {
    val row = spark.sql(
      "SELECT simhash64('a b c') AS sh, word_shingles('a b c d', 3) AS ws, " +
        "size(minhash_band_buckets('a b c d', 8, 2)) AS nb")
      .collect()(0)
    assert(row.getAs[Long]("sh") === row.getAs[Long]("sh")) // deterministic call ok
    assert(row.getAs[Seq[String]]("ws") === Seq("a b c", "b c d"))
    assert(row.getAs[Int]("nb") === 8)
  }

  test("lsh_table_buckets in SQL") {
    val row = spark.sql(
      "SELECT lsh_table_buckets(array(cast(0.5 as float), cast(-0.25 as float)), 3, 4, 2) AS tb")
      .selectExpr("size(tb) AS n", "tb[0].tbl AS t0", "tb[2].tbl AS t2")
      .collect()(0)
    assert(row.getAs[Int]("n") === 3)
    assert(row.getAs[Int]("t0") === 0 && row.getAs[Int]("t2") === 2)
  }

  test("latest_by aggregate in SQL") {
    Seq((1L, 10L, 1L, "old"), (1L, 20L, 2L, "new"), (2L, 5L, 1L, "only"))
      .toDF("id", "ts", "pos", "v").createOrReplaceTempView("lb_in")
    val got = spark.sql(
      "SELECT id, latest_by(struct(v), ts, pos).v AS v FROM lb_in GROUP BY id ORDER BY id")
      .as[(Long, String)].collect().toSeq
    assert(got === Seq((1L, "new"), (2L, "only")))
  }

  test("top_k_by aggregate in SQL") {
    Seq((1L, 10L, 1L), (1L, 30L, 2L), (1L, 20L, 3L), (2L, 7L, 4L))
      .toDF("id", "v", "pos").createOrReplaceTempView("tk_in")
    val got = spark.sql(
      "SELECT id, transform(top_k_by(struct(v), v, pos, 2), r -> r.v) AS vs " +
        "FROM tk_in GROUP BY id ORDER BY id")
      .as[(Long, Seq[Long])].collect().toSeq
    assert(got === Seq((1L, Seq(30L, 20L)), (2L, Seq(7L))))
  }

  test("top_k_by with ord2_desc; sortable_double_bits order embedding") {
    // all ord1 tie -> membership decided by the tiebreak direction
    Seq((1L, 100L, 1L), (1L, 100L, 2L), (1L, 100L, 3L))
      .toDF("id", "o1", "o2").createOrReplaceTempView("tkd_in")
    val asc = spark.sql(
      "SELECT transform(top_k_by(struct(o2), o1, o2, 2), r -> r.o2) AS vs FROM tkd_in GROUP BY id")
      .as[Seq[Long]].collect()(0)
    val desc = spark.sql(
      "SELECT transform(top_k_by(struct(o2), o1, o2, 2, true), r -> r.o2) AS vs FROM tkd_in GROUP BY id")
      .as[Seq[Long]].collect()(0)
    assert(asc === Seq(1L, 2L) && desc === Seq(3L, 2L))
    // sortable bits: signed-long order == double order across signs
    val bits = spark.sql(
      "SELECT sortable_double_bits(cast(-1.5 as double)) AS a, " +
        "sortable_double_bits(cast(-0.1 as double)) AS b, " +
        "sortable_double_bits(cast(0.0 as double)) AS c, " +
        "sortable_double_bits(cast(2.5 as double)) AS d")
      .as[(Long, Long, Long, Long)].collect()(0)
    assert(bits._1 < bits._2 && bits._2 < bits._3 && bits._3 < bits._4)
  }

  test("bloom_might_contain in SQL with a binary-literal filter") {
    val filter = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
    Seq("alpha", "beta", "gamma").foreach(filter.putString)
    val hex = graft.functions.BloomMightContain.serialize(filter)
      .map(b => f"$b%02X").mkString
    val got = spark.sql(
      s"SELECT v, bloom_might_contain(v, X'$hex') AS hit FROM " +
        "(SELECT explode(array('alpha', 'beta', 'nope_1', 'nope_2')) AS v)")
      .as[(String, Boolean)].collect().toMap
    assert(got("alpha") && got("beta"), "members always hit")
  }

  test("vector_avg and bounded_collect_pairs aggregates in SQL") {
    Seq((1L, Array(1f, 3f)), (1L, Array(3f, 5f)), (2L, Array(2f, 2f)))
      .toDF("id", "emb").createOrReplaceTempView("va_in")
    val avg = spark.sql(
      "SELECT id, vector_avg(emb) AS m FROM va_in GROUP BY id ORDER BY id")
      .as[(Long, Seq[Float])].collect().toSeq
    assert(avg === Seq((1L, Seq(2f, 4f)), (2L, Seq(2f, 2f))))

    Seq((10L, 7L, 0L), (11L, 8L, 0L), (12L, 9L, 0L))
      .toDF("k", "p", "g").createOrReplaceTempView("bc_in")
    val pairs = spark.sql(
      "SELECT bounded_collect_pairs(k, p, 10) AS ms, bounded_collect_pairs(k, p, 2) AS cap " +
        "FROM bc_in GROUP BY g")
    val row = pairs.selectExpr("transform(ms, x -> x.a) AS ks", "cap IS NULL AS overflowed")
      .as[(Seq[Long], Boolean)].collect()(0)
    assert(row._1 === Seq(10L, 11L, 12L), "sorted member list")
    assert(row._2, "over-limit group collapses to NULL")
  }

  test("store table functions: snapshot / time travel / stat-pruned range / change feed in SQL") {
    import graft.cdc.CdcPipeline
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    val dir = java.nio.file.Files.createTempDirectory("graft-tvf").toString
    // v0: bucket-correlated v so graft_range has something to prune;
    // v1: shift ids 0-9 so the feed and time travel see real changes
    val df0 = spark.range(0, 4000).select(col("id"),
      (pmod(hash(col("id")), lit(8)) * 1000L + pmod(col("id"), lit(1000L))).as("v"))
    CdcPipeline.publish(df0, dir, Seq("id"), buckets = Some(8), statsCols = Seq("v"))
    CdcPipeline.updateWhere(spark, dir, Seq("id"),
      col("id") < 10, Map("v" -> (col("v") + 100000L)))

    val n = spark.sql(s"SELECT count(*) AS n FROM graft_snapshot('$dir')")
      .as[Long].collect()(0)
    assert(n === 4000L)
    // SQL composes: join the snapshot against itself through a filter
    val joined = spark.sql(
      s"""SELECT count(*) FROM graft_snapshot('$dir') a
         |JOIN graft_snapshot('$dir') b ON a.id = b.id WHERE a.v >= 100000""".stripMargin)
      .as[Long].collect()(0)
    assert(joined === 10L)
    // time travel reads v0's values
    val oldSum = spark.sql(
      s"SELECT sum(v) FROM graft_snapshot_at('$dir', 0) WHERE id < 10")
      .as[Long].collect()(0)
    val newSum = spark.sql(
      s"SELECT sum(v) FROM graft_snapshot('$dir') WHERE id < 10")
      .as[Long].collect()(0)
    assert(newSum === oldSum + 10L * 100000L)
    // timestamp time travel (A67): as-of v0's own commit instant reads
    // v0's values; a pre-creation instant refuses at analysis
    val t0 = CdcPipeline.manifest(dir, 0L).get.meta("commit_us").toLong
    val tsSum = spark.sql(
      s"SELECT sum(v) FROM graft_snapshot_ts('$dir', $t0) WHERE id < 10")
      .as[Long].collect()(0)
    assert(tsSum === oldSum)
    intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_snapshot_ts('$dir', ${t0 - 1})").collect()
    }
    // vacuum dry run through SQL ≡ the Scala preview (and deletes nothing)
    val pv = spark.sql(
      s"SELECT version, reclaimable_bytes FROM graft_vacuum_preview('$dir', 1)")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pv === CdcPipeline.vacuumPreview(dir, 1))
    assert(spark.sql(s"SELECT count(*) FROM graft_snapshot_at('$dir', 0)")
      .as[Long].collect()(0) === 4000L, "the preview must not have vacuumed v0")
    // stat-pruned range: equals the filter, touches only matching buckets
    val ranged = spark.sql(
      s"SELECT id, v FROM graft_range('$dir', 'v', 3000, 3999)")
    val expect = CdcPipeline.readSnapshot(spark, dir).get
      .filter(col("v") >= 3000 && col("v") <= 3999)
      .collect().map(_.toSeq).toSet
    assert(ranged.collect().map(_.toSeq).toSet === expect)
    assert(ranged.inputFiles.length < CdcPipeline.readSnapshot(spark, dir).get
      .inputFiles.length, "range TVF must bucket-prune through the manifest stats")
    // the change feed, commit-stamped
    val feed = spark.sql(
      s"""SELECT _commit_version, `__op`, count(*) AS n
         |FROM graft_change_feed('$dir', 'id', 0, 1)
         |GROUP BY 1, 2""".stripMargin).collect()
    assert(feed.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet ===
      Set((1L, "u", 10L)))
    // DESCRIBE HISTORY: v0 full publish, v1 bounded update rewrite
    val hist = spark.sql(
      s"""SELECT version, op, rewritten_buckets, carried_buckets
         |FROM graft_history('$dir') ORDER BY version""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3)))
    assert(hist(0) === ((0L, "publish", 8, 0)))
    assert(hist(1)._2 === "update" && hist(1)._3 < 8 && hist(1)._3 + hist(1)._4 === 8,
      s"update must rewrite only the matching buckets: ${hist(1)}")
    assert(spark.sql(s"SELECT commit_us FROM graft_history('$dir')")
      .collect().forall(!_.isNullAt(0)))
    // footer-sourced snapshot sizes (A45, late r8): both versions hold all 4000
    // rows (the update rewrote values, not cardinality), bytes > 0
    val sizes = spark.sql(
      s"SELECT version, rows, bytes FROM graft_history('$dir') ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(sizes.map(_._2).toSeq === Seq(4000L, 4000L), sizes.mkString(","))
    assert(sizes.forall(_._3 > 0L))
    // graft_point: bloom-pruned secondary lookup through SQL; string
    // probes coerce to the stored bigint type
    CdcPipeline.buildBloomIndex(spark, dir, "v", expectedPerBucket = 1000L)
    val vs = CdcPipeline.readSnapshot(spark, dir).get
      .filter(col("id").isin(200L, 300L)).collect().map(_.getLong(1)).sorted
    val pointRows = spark.sql(
      s"SELECT id, v FROM graft_point('$dir', 'v', '${vs.mkString(", ")}')")
    assert(pointRows.collect().map(_.getLong(1)).toSet === vs.toSet)
    assert(pointRows.inputFiles.length < CdcPipeline.readSnapshot(spark, dir).get
      .inputFiles.length, "point TVF must bloom-prune")
    // graft_fsck: healthy store reports nothing; a planted orphan shows
    assert(spark.sql(s"SELECT count(*) FROM graft_fsck('$dir')")
      .collect()(0).getLong(0) === 0L)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/v99"))
    val finding = spark.sql(
      s"SELECT check, subject FROM graft_fsck('$dir')").collect()
    assert(finding.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("orphan_inflight", "v99")))
    // graft_schema_history: the A63 evolution audit through SQL — this
    // fixture never altered its schema, so every version reads
    // initial/kept and nothing else
    val sh = spark.sql(s"SELECT DISTINCT change FROM graft_schema_history('$dir')")
      .collect().map(_.getString(0)).toSet
    assert(sh === Set("initial", "kept"), sh.toString)
    // graft_audit: the data-level audit through SQL — both checks ok
    val audit = spark.sql(
      s"SELECT check, severity, violations FROM graft_audit('$dir', 'id')")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted
    assert(audit.toSeq === Seq(("duplicate_pks", "ok", 0L),
      ("misrouted_rows", "ok", 0L)))
    graft.cdc.StoreFs.deleteRecursive(dir)
  }

  test("SQL policy read and commit-chain audit: graft_secured / graft_verify_chain") {
    import graft.cdc.{CdcPipeline, StoreFs}
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-sec").toString
    val df = spark.range(0, 100).select(col("id"),
      (col("id") % 10).as("region"), (col("id") * 7).as("salary"))
    CdcPipeline.publish(df, dir, Seq("id"), buckets = Some(4))
    CdcPipeline.updateWhere(spark, dir, Seq("id"),
      col("id") === 5, Map("salary" -> (col("salary") + 1L)))

    // policy read from pure SQL: raw-row filter + two masks
    val sec = spark.sql(
      s"""SELECT * FROM graft_secured('$dir', 'id < 50',
         |  'salary = CASE WHEN region < 5 THEN salary ELSE -1 END; region = 99')
         |ORDER BY id""".stripMargin).collect()
    assert(sec.length === 50)
    assert(sec.forall(_.getLong(1) === 99L))
    assert(sec.filter(_.getLong(0) % 10 >= 5).forall(_.getLong(2) === -1L))
    assert(sec.find(_.getLong(0) === 3L).get.getLong(2) === 21L)

    // intact two-version chain audits clean from SQL
    assert(spark.sql(s"SELECT * FROM graft_verify_chain('$dir')").count() === 0L)
    // tamper a manifest byte → the SQL audit reports it
    val m = s"$dir/v0/_MANIFEST"
    StoreFs.writeString(m, StoreFs.readString(m)
      .replaceFirst("numBuckets=4", "numBuckets=5"))
    val bad = spark.sql(
      s"SELECT version, kind FROM graft_verify_chain('$dir')").collect()
    assert(bad.map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((0L, "body-tampered")))
  }

  test("SQL sparse merge: graft_merge_partial bootstraps and patches column-wise") {
    import graft.cdc.CdcPipeline
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-pm-sql").toString
    // bootstrap: two PKs, each field set by a different event
    Seq((1L, "u", 100L, 1L, """{"a":10}"""),
        (1L, "u", 200L, 2L, """{"b":20}"""),
        (2L, "u", 100L, 3L, """{"a":7,"b":8}"""))
      .toDF("id", "__op", "__ts_us", "__pos", "data")
      .createOrReplaceTempView("pm_src1")
    spark.sql(
      s"""SELECT * FROM graft_merge_partial('$dir', 'id', 'a bigint, b bigint',
         |  'SELECT * FROM pm_src1')""".stripMargin).collect()
    // patch window: b on PK 1, delete PK 2
    Seq((1L, "u", 300L, 4L, """{"b":99}"""),
        (2L, "d", 300L, 5L, "{}"))
      .toDF("id", "__op", "__ts_us", "__pos", "data")
      .createOrReplaceTempView("pm_src2")
    val rep = spark.sql(
      s"""SELECT * FROM graft_merge_partial('$dir', 'id', 'a bigint, b bigint',
         |  'SELECT * FROM pm_src2')""".stripMargin).collect()(0)
    assert(rep.getLong(0) === 1L && rep.getLong(1) === 2L)
    val snap = CdcPipeline.readSnapshot(spark, dir).get.orderBy("id").collect()
    assert(snap.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq((1L, 10L, 99L)), "a carried column-wise, b patched, PK 2 deleted")
  }

  test("pure-SQL store lifecycle: create → merge → delete → update → optimize → maintain → vacuum") {
    import graft.cdc.CdcPipeline
    val dir = java.nio.file.Files.createTempDirectory("graft-sqlw").toString

    // CREATE TABLE AS — SQL only, 8 buckets
    val v0 = spark.sql(
      s"""SELECT version FROM graft_create('$dir', 'id',
         |  'SELECT id, id * 3 AS v, CAST(id % 5 AS STRING) AS tag FROM range(0, 1000)', 8)"""
        .stripMargin).collect()(0).getLong(0)
    assert(v0 === 0L)
    assert(CdcPipeline.fastCount(dir).contains(1000L))
    // refuses to clobber
    intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_create('$dir', 'id', 'SELECT 1 AS id')").collect()
    }

    // MERGE: 10 updates, 5 inserts, 3 __op='d' deletes — one statement
    // (string literals inside the nested source SQL use double quotes
    // so they survive the outer single-quoted argument)
    val mr = spark.sql(
      s"""SELECT * FROM graft_merge('$dir', 'id',
         |  'SELECT id, id * 100 AS v, CAST("m" AS STRING) AS tag,
         |          CASE WHEN id >= 20 AND id < 23 THEN "d" ELSE "u" END AS __op
         |   FROM range(10, 23) UNION ALL
         |   SELECT id, id * 100, "new", "u" FROM range(1000, 1005)')"""
        .stripMargin).collect()(0)
    assert(mr.getLong(1) === 18L, "source_rows")
    val afterMerge = spark.sql(
      s"SELECT count(*), sum(CASE WHEN v = id * 100 AND id >= 10 THEN 1 ELSE 0 END) " +
        s"FROM graft_snapshot('$dir')").collect()(0)
    assert(afterMerge.getLong(0) === 1000L + 5 - 3)
    assert(afterMerge.getLong(1) === 15L, "10 updated + 5 inserted rows carry v = id*100")
    assert(spark.sql(s"SELECT count(*) FROM graft_snapshot('$dir') WHERE id IN (20, 21, 22)")
      .collect()(0).getLong(0) === 0L, "__op='d' rows must delete")

    // DELETE FROM … WHERE
    val dr = spark.sql(
      s"SELECT * FROM graft_delete_where('$dir', 'id', 'id >= 900 AND id < 1000')")
      .collect()(0)
    assert(dr.getLong(1) === 100L)
    // UPDATE … SET (semicolon-separated assignments, commas inside)
    val ur = spark.sql(
      s"""SELECT * FROM graft_update_where('$dir', 'id', 'id < 5',
         |  'v = greatest(v, 7); tag = upper(tag)')""".stripMargin).collect()(0)
    assert(ur.getLong(1) === 5L)
    val updated = spark.sql(
      s"SELECT v, tag FROM graft_snapshot('$dir') WHERE id = 0").collect()(0)
    assert(updated.getLong(0) === 7L && updated.getString(1) === "0")

    // OPTIMIZE clusters by tag; maintain under defaults is then idle
    // (no DV, nothing fragmented); vacuum reclaims the old versions
    spark.sql(s"SELECT * FROM graft_optimize('$dir', 'id', 'tag')").collect()
    val main = spark.sql(s"SELECT * FROM graft_maintain('$dir', 'id')").collect()(0)
    assert(main.isNullAt(0) && main.getSeq[Int](1).isEmpty,
      s"fresh-optimized store: maintain must not re-fold or re-compact: $main")
    val reclaimed = spark.sql(s"SELECT * FROM graft_vacuum('$dir', 1)")
      .collect().map(_.getLong(0))
    assert(reclaimed.nonEmpty, "vacuum to keep=1 must reclaim superseded versions")

    // the state that survived all SQL verbs is exactly the model
    val expect = (0L until 1000L).filterNot(i => i >= 900 || (i >= 20 && i < 23))
      .map { i =>
        val v0 = if (i >= 10 && i < 20) i * 100 else i * 3
        val v = if (i < 5) math.max(v0, 7L) else v0
        val tag = if (i >= 10 && i < 20) "m" else (i % 5).toString
        (i, v, tag)
      } ++ (1000L until 1005L).map(i => (i, i * 100, "new"))
    val got = spark.sql(s"SELECT id, v, tag FROM graft_snapshot('$dir')")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got === expect.toSet)

    // graft_zorder: 2-dim clustering from SQL; content unchanged and
    // the range TVF still stat-prunes on the clustered column
    spark.sql(s"SELECT * FROM graft_zorder('$dir', 'id', 'v,id')").collect()
    assert(spark.sql(s"SELECT count(*) FROM graft_snapshot('$dir')")
      .collect()(0).getLong(0) === got.size.toLong)

    // graft_bloom_index + pruned graft_point from SQL only
    spark.sql(s"SELECT * FROM graft_bloom_index('$dir', 'v', 2000)").collect()
    val pt = spark.sql(s"SELECT id FROM graft_point('$dir', 'v', '123')")
    assert(pt.collect().map(_.getLong(0)).toSet === Set(41L)) // 41*3 = 123
    assert(pt.inputFiles.length <
      CdcPipeline.readSnapshot(spark, dir).get.inputFiles.length,
      "SQL-built bloom index must prune")
    // graft_restore: roll back to the pre-bloom state by version,
    // then the snapshot still reads (references carried forward)
    val curBefore = CdcPipeline.currentVersion(dir).get
    val restoredAs = spark.sql(
      s"SELECT * FROM graft_restore('$dir', ${curBefore - 1})")
      .collect()(0).getLong(0)
    assert(restoredAs === curBefore + 1, "restore publishes a NEW version")
    assert(spark.sql(s"SELECT count(*) FROM graft_snapshot('$dir')")
      .collect()(0).getLong(0) === got.size.toLong)
    // future version refuses
    intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_restore('$dir', 99)").collect()
    }
    // graft_expire: everything older than now except what the kept
    // window references — at minimum it must not touch the current
    // version and the table must still read
    spark.sql(s"SELECT * FROM graft_expire('$dir', ${System.currentTimeMillis * 1000L})")
      .collect()
    assert(spark.sql(s"SELECT count(*) FROM graft_snapshot('$dir')")
      .collect()(0).getLong(0) === got.size.toLong)
    graft.cdc.StoreFs.deleteRecursive(dir)
  }

  test("SQL COPY INTO: create → copy landing dir → no-op re-copy → incremental landing") {
    import graft.cdc.CdcPipeline
    val dir = java.nio.file.Files.createTempDirectory("graft-sqlcopy").toString
    val land = java.nio.file.Files.createTempDirectory("graft-sqlland").toString
    spark.sql(s"""SELECT * FROM graft_create('$dir', 'id',
      'SELECT id, id * 2 AS v FROM range(0, 100)', 8)""").collect()
    spark.range(100, 110).selectExpr("id", "id * 5 AS v")
      .coalesce(1).write.mode("append").parquet(land)
    val r1 = spark.sql(
      s"SELECT * FROM graft_copy_into('$dir', 'id', '$land')").collect()(0)
    assert(r1.getLong(1) === 1L && r1.getLong(3) === 10L, s"copy1: $r1")
    assert(CdcPipeline.fastCount(dir).contains(110L))
    // re-copy: everything skipped, version unchanged
    val r2 = spark.sql(
      s"SELECT * FROM graft_copy_into('$dir', 'id', '$land')").collect()(0)
    assert(r2.getLong(0) === r1.getLong(0) && r2.getLong(1) === 0L
      && r2.getLong(2) === 1L, s"re-copy: $r2")
    // a later landing file: only it ingests
    spark.range(110, 115).selectExpr("id", "id * 5 AS v")
      .coalesce(1).write.mode("append").parquet(land)
    val r3 = spark.sql(
      s"SELECT * FROM graft_copy_into('$dir', 'id', '$land')").collect()(0)
    assert(r3.getLong(1) === 1L && r3.getLong(2) === 1L && r3.getLong(3) === 5L)
    assert(CdcPipeline.fastCount(dir).contains(115L))
  }

  test("SQL table properties: set → list → maintain reads them → unset") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sqlprop").toString
    spark.sql(s"""SELECT * FROM graft_create('$dir', 'id',
      'SELECT id, id * 2 AS v FROM range(0, 200)', 4)""").collect()
    spark.sql(s"SELECT * FROM graft_set_property('$dir', 'owner', 'sql-team')").collect()
    spark.sql(
      s"SELECT * FROM graft_set_property('$dir', 'graft.maintain.keepVersions', 'off')")
      .collect()
    val props = spark.sql(s"SELECT * FROM graft_properties('$dir')")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(props === Map("owner" -> "sql-team",
      "graft.maintain.keepVersions" -> "off"))
    // graft_maintain resolves policy from the properties (all-off here
    // apart from defaults that have no work): must be a clean no-op row
    val rep = spark.sql(s"SELECT * FROM graft_maintain('$dir', 'id')").collect()
    assert(rep.length === 1)
    spark.sql(s"SELECT * FROM graft_unset_property('$dir', 'owner')").collect()
    val after = spark.sql(s"SELECT * FROM graft_properties('$dir')")
      .collect().map(_.getString(0)).toSet
    assert(after === Set("graft.maintain.keepVersions"))
  }

  test("SQL CHECK constraints: add → list → refuse violating merge/update → drop re-opens") {
    import graft.cdc.CdcPipeline
    val dir = java.nio.file.Files.createTempDirectory("graft-sqlc").toString
    spark.sql(
      s"""SELECT * FROM graft_create('$dir', 'id',
         |  'SELECT id, id * 2 AS v FROM range(0, 100)', 4)""".stripMargin).collect()
    // declaration validates the snapshot: a predicate current rows
    // violate refuses and declares nothing
    intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_add_constraint('$dir', 'big_v', 'v > 10')")
        .collect()
    }
    assert(spark.sql(s"SELECT * FROM graft_constraints('$dir')").count() === 0L)
    val v = spark.sql(
      s"SELECT * FROM graft_add_constraint('$dir', 'nonneg_v', 'v >= 0')")
      .collect()(0).getLong(0)
    assert(v === 1L)
    val listed = spark.sql(s"SELECT * FROM graft_constraints('$dir')").collect()
    assert(listed.map(r => (r.getString(0), r.getString(1))).toSeq
      === Seq(("nonneg_v", "v >= 0")))
    // violating SQL merge refuses and publishes nothing
    intercept[Exception] {
      spark.sql(
        s"""SELECT * FROM graft_merge('$dir', 'id',
           |  'SELECT CAST(500 AS BIGINT) AS id, CAST(-1 AS BIGINT) AS v')"""
          .stripMargin).collect()
    }
    assert(CdcPipeline.currentVersion(dir) === Some(1L))
    assert(spark.sql(s"SELECT count(*) FROM graft_snapshot('$dir')")
      .collect()(0).getLong(0) === 100L)
    // clean merge passes and carries the declaration
    spark.sql(
      s"""SELECT * FROM graft_merge('$dir', 'id',
         |  'SELECT CAST(500 AS BIGINT) AS id, CAST(9 AS BIGINT) AS v')"""
        .stripMargin).collect()
    assert(spark.sql(s"SELECT count(*) FROM graft_constraints('$dir')")
      .collect()(0).getLong(0) === 1L)
    // violating SQL update refuses; after DROP it goes through
    intercept[Exception] {
      spark.sql(
        s"SELECT * FROM graft_update_where('$dir', 'id', 'id = 0', 'v = -5')")
        .collect()
    }
    spark.sql(s"SELECT * FROM graft_drop_constraint('$dir', 'nonneg_v')").collect()
    spark.sql(
      s"SELECT * FROM graft_update_where('$dir', 'id', 'id = 0', 'v = -5')")
      .collect()
    assert(spark.sql(s"SELECT v FROM graft_snapshot('$dir') WHERE id = 0")
      .collect()(0).getLong(0) === -5L)
    graft.cdc.StoreFs.deleteRecursive(dir)
  }

  test("SQL generated columns: add → read computes → list → drop") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sqlg").toString
    spark.sql(
      s"""SELECT * FROM graft_create('$dir', 'id',
         |  'SELECT id, id * 2 AS v FROM range(0, 50)', 4)""".stripMargin).collect()
    val ver = spark.sql(
      s"SELECT * FROM graft_add_generated('$dir', 'v10', 'BIGINT', 'v * 10')")
      .collect()(0).getLong(0)
    assert(ver === 1L)
    assert(spark.sql(s"SELECT v10 FROM graft_snapshot('$dir') WHERE id = 3")
      .collect()(0).getLong(0) === 60L)
    val listed = spark.sql(s"SELECT * FROM graft_generated('$dir')").collect()
    assert(listed.map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
      === Seq(("v10", "bigint", "v * 10")))
    spark.sql(s"SELECT * FROM graft_drop_generated('$dir', 'v10')").collect()
    assert(!spark.sql(s"SELECT * FROM graft_snapshot('$dir')")
      .columns.contains("v10"))
    intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_drop_generated('$dir', 'v10')").collect()
    }
    graft.cdc.StoreFs.deleteRecursive(dir)
  }

  test("SQL refs: tag → snapshot_tag → branch → merge on branch → publish → drop (A78 WAP)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sqlrefs").toString
    val br = java.nio.file.Files.createTempDirectory("graft-sqlrefs-b").toString + "/b"
    spark.sql(
      s"""SELECT version FROM graft_create('$dir', 'id',
         |  'SELECT id, id * 2 AS v FROM range(0, 500)', 8)""".stripMargin).collect()
    // tag the bootstrap, then fork a branch — all SQL
    val tag = spark.sql(s"SELECT * FROM graft_create_tag('$dir', 'rc1')").collect()(0)
    assert(tag.getString(0) === "rc1" && tag.getLong(1) === 0L)
    assert(spark.sql(s"SELECT * FROM graft_create_branch('$dir', '$br', 'wap')")
      .collect()(0).getLong(0) === 0L)
    assert(spark.sql(s"SELECT kind, name FROM graft_refs('$dir') ORDER BY kind")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("branch", "wap"), ("tag", "rc1")))
    // write on the BRANCH; upstream must not see it
    spark.sql(
      s"""SELECT * FROM graft_merge('$br', 'id',
         |  'SELECT id, id * 1000 AS v, "u" AS __op FROM range(0, 50)')"""
        .stripMargin).collect()
    assert(spark.sql(s"SELECT max(v) FROM graft_snapshot('$dir')")
      .collect()(0).getLong(0) === 998L, "branch write must not leak upstream")
    // publish, then the upstream serves the branch state and the tag
    // still time-travels to the pre-WAP state
    assert(spark.sql(s"SELECT * FROM graft_publish_branch('$br')")
      .collect()(0).getLong(0) === 1L)
    assert(spark.sql(s"SELECT max(v) FROM graft_snapshot('$dir')")
      .collect()(0).getLong(0) === 49000L)
    assert(spark.sql(s"SELECT max(v) FROM graft_snapshot_tag('$dir', 'rc1')")
      .collect()(0).getLong(0) === 998L)
    // drop both refs; snapshot_tag then refuses
    assert(spark.sql(s"SELECT * FROM graft_drop_branch('$dir', 'wap')")
      .collect()(0).getBoolean(0))
    assert(spark.sql(s"SELECT * FROM graft_drop_tag('$dir', 'rc1')")
      .collect()(0).getBoolean(0))
    intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_snapshot_tag('$dir', 'rc1')").collect()
    }
    graft.cdc.StoreFs.deleteRecursive(dir)
    graft.cdc.StoreFs.deleteRecursive(br)
  }

  test("statement-level DML: MERGE INTO / UPDATE / DELETE FROM / EXPLAIN on graft.`path`") {
    import graft.cdc.CdcPipeline
    val dir = java.nio.file.Files.createTempDirectory("graft-dml").toString
    spark.sql(
      s"""SELECT * FROM graft_create('$dir', 'id',
         |  'SELECT id, id * 3 AS v, CAST(id % 5 AS STRING) AS tag FROM range(0, 100)', 8)"""
        .stripMargin).collect()
    // the _PK sidecar is written by the bootstrap publish — it is
    // what lets the statements below omit a pk-list argument
    assert(CdcPipeline.pkColumns(dir).contains(Seq("id")))

    // source: updates for 10..19, deletes for 20..22, inserts 100..104
    spark.sql(
      """SELECT id, id * 100 AS v, 'm' AS tag,
        |  CASE WHEN id >= 20 AND id < 23 THEN 'd' ELSE 'u' END AS __op
        |FROM range(10, 23)
        |UNION ALL SELECT id, id * 100, 'new', 'u' FROM range(100, 105)"""
        .stripMargin).createOrReplaceTempView("dml_src")

    // EXPLAIN first: must render the command WITHOUT mutating
    val explained = spark.sql(s"EXPLAIN DELETE FROM graft.`$dir` WHERE id >= 0")
      .collect()(0).getString(0)
    assert(explained.contains("GraftDeleteCommand"), explained)
    assert(CdcPipeline.currentVersion(dir).contains(0L), "EXPLAIN must not run the delete")

    val mr = spark.sql(
      s"""MERGE INTO graft.`$dir` AS t USING dml_src AS s
         |ON t.id = s.id
         |WHEN MATCHED AND s.__op = 'd' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = s.v, tag = upper(t.tag)
         |WHEN NOT MATCHED AND s.__op != 'd' THEN INSERT (id, v, tag) VALUES (s.id, s.v, s.tag)"""
        .stripMargin).collect()(0)
    assert(mr.getLong(0) === 1L && mr.getLong(1) === 18L, s"(version, source_rows): $mr")
    // matched updates keep the TARGET tag (uppercased), take the source v
    val u10 = spark.sql(s"SELECT v, tag FROM graft_snapshot('$dir') WHERE id = 10").collect()(0)
    assert(u10.getLong(0) === 1000L && u10.getString(1) === "0")
    assert(spark.sql(s"SELECT count(*) FROM graft_snapshot('$dir') WHERE id IN (20, 21, 22)")
      .collect()(0).getLong(0) === 0L, "WHEN MATCHED … THEN DELETE")
    assert(spark.sql(s"SELECT count(*) FROM graft_snapshot('$dir') WHERE id >= 100")
      .collect()(0).getLong(0) === 5L, "insert clause")

    // UPDATE statement (unqualified refs resolve against the snapshot)
    val ur = spark.sql(s"UPDATE graft.`$dir` SET v = v + 1, tag = 'x' WHERE id < 3")
      .collect()(0)
    assert(ur.getLong(1) === 3L)
    assert(spark.sql(s"SELECT v, tag FROM graft_snapshot('$dir') WHERE id = 0")
      .collect()(0).getLong(0) === 1L)

    // DELETE statement with a target alias in the predicate
    val dr = spark.sql(s"DELETE FROM graft.`$dir` AS t WHERE t.id >= 90 AND t.id < 100")
      .collect()(0)
    assert(dr.getLong(1) === 10L)

    // final state vs the scalar model of all three statements
    val got = spark.sql(s"SELECT id, v FROM graft_snapshot('$dir') ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expect = ((0L until 100L) ++ (100L until 105L))
      .filterNot(i => (i >= 20 && i < 23) || (i >= 90 && i < 100))
      .map { i =>
        val v0 = if ((i >= 10 && i < 23) || i >= 100) i * 100 else i * 3
        val v1 = if (i < 3) v0 + 1 else v0
        (i, v1)
      }
    assert(got === expect)

    // a MERGE whose ON clause is not the store PK is refused
    val e = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO graft.`$dir` AS t USING dml_src AS s ON t.v = s.v
           |WHEN MATCHED THEN UPDATE SET *""".stripMargin).collect()
    }
    assert(e.getMessage.contains("must equal the store PK"))
    graft.cdc.StoreFs.deleteRecursive(dir)
  }

  test("statement MERGE: WHEN NOT MATCHED BY SOURCE (full-sync + conditional stale-mark)") {
    import graft.cdc.CdcPipeline
    val dir = java.nio.file.Files.createTempDirectory("graft-bysrc").toString
    spark.sql(
      s"""SELECT * FROM graft_create('$dir', 'id',
         |  'SELECT id, id * 3 AS v, CAST(''live'' AS STRING) AS tag FROM range(0, 40)', 8)"""
        .stripMargin).collect()

    // full-sync: upsert the source and DELETE whatever it no longer
    // carries — the classic snapshot-replace MERGE (whole-table scope:
    // rows 0..9 live in buckets the source never touches, so a
    // touched-bucket-pruned plan would silently keep them)
    spark.sql("SELECT id, id * 7 AS v FROM range(10, 45)")
      .createOrReplaceTempView("bysrc_src")
    val r1 = spark.sql(
      s"""MERGE INTO graft.`$dir` AS t USING bysrc_src AS s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (id, v, tag) VALUES (s.id, s.v, 'new')
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin).collect()(0)
    assert(r1.getLong(0) === 1L)
    val got = spark.sql(s"SELECT id, v FROM graft_snapshot('$dir') ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === (10L until 45L).map(i => (i, i * 7)),
      "store must equal the source exactly after a full-sync MERGE")

    // conditional by-source UPDATE: mark (not delete) the stale rows
    spark.sql("SELECT id, id * 9 AS v FROM range(20, 45)")
      .createOrReplaceTempView("bysrc_src2")
    spark.sql(
      s"""MERGE INTO graft.`$dir` AS t USING bysrc_src2 AS s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED BY SOURCE AND t.id < 15 THEN UPDATE SET tag = 'stale'"""
        .stripMargin).collect()
    val tags = spark.sql(
      s"""SELECT tag, count(*) FROM graft_snapshot('$dir')
         |GROUP BY tag ORDER BY tag""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // 10..14 -> stale; 15..19 unmatched but condition false -> carry
    // their 'live' tag (matched rows 15..39 also keep it; only the
    // first merge's inserts carry 'new')
    assert(tags === Seq(("live", 25L), ("new", 5L), ("stale", 5L)),
      s"got $tags")
    assert(spark.sql(s"SELECT count(*) FROM graft_snapshot('$dir') WHERE v = id * 9")
      .collect()(0).getLong(0) === 25L)
    graft.cdc.StoreFs.deleteRecursive(dir)
  }

  test("statement MERGE: by-source into an EMPTY store still inserts; ambiguous refs refused") {
    import graft.cdc.CdcPipeline
    val dir = java.nio.file.Files.createTempDirectory("graft-bysrc-empty").toString
    spark.sql(
      s"""SELECT * FROM graft_create('$dir', 'id',
         |  'SELECT id, id * 3 AS v FROM range(0, 20)', 8)""".stripMargin).collect()
    // empty the store: zero manifest buckets, exactly the TRUNCATE /
    // full-sync-deleted-everything state the r10 advice flagged
    spark.sql(s"DELETE FROM graft.`$dir` WHERE id >= 0").collect()
    assert(spark.sql(s"SELECT count(*) FROM graft_snapshot('$dir')")
      .collect()(0).getLong(0) === 0L)
    spark.sql("SELECT id, id * 11 AS v FROM range(5, 9)")
      .createOrReplaceTempView("bysrc_empty_src")
    val r = spark.sql(
      s"""MERGE INTO graft.`$dir` AS t USING bysrc_empty_src AS s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin).collect()(0)
    assert(r.getLong(1) === 4L)
    val got = spark.sql(s"SELECT id, v FROM graft_snapshot('$dir') ORDER BY id")
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSeq
    assert(got === (5L until 9L).map(i => (i, i * 11)),
      "a by-source MERGE into an empty store must not drop the inserts")

    // an unqualified SET reference carried by BOTH sides is ambiguous
    // (Spark/Delta refuse it; silently reading the source's v here
    // would make the same statement mean different things)
    val e = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO graft.`$dir` AS t USING bysrc_empty_src AS s
           |ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET v = v + 1""".stripMargin).collect()
    }
    assert(e.getMessage.contains("ambiguous"), e.getMessage)
    // source-only and target-only unqualified names still resolve
    spark.sql("SELECT id, id * 13 AS w FROM range(5, 7)")
      .createOrReplaceTempView("bysrc_empty_src2")
    spark.sql(
      s"""MERGE INTO graft.`$dir` AS t USING bysrc_empty_src2 AS s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = w""".stripMargin).collect()
    assert(spark.sql(s"SELECT v FROM graft_snapshot('$dir') WHERE id = 5")
      .collect()(0).getLong(0) === 65L)
    graft.cdc.StoreFs.deleteRecursive(dir)
  }

  test("statement-level INSERT, direct graft.`path` relations, and SQL time travel") {
    import graft.cdc.CdcPipeline
    val dir = java.nio.file.Files.createTempDirectory("graft-ins").toString
    spark.sql(
      s"""SELECT * FROM graft_create('$dir', 'id',
         |  'SELECT id, id * 3 AS v, CAST(id % 5 AS STRING) AS tag FROM range(0, 50)', 4)"""
        .stripMargin).collect()

    // graft.`path` as a plain relation — no TVF ceremony
    assert(spark.sql(s"SELECT count(*) FROM graft.`$dir`").collect()(0).getLong(0) === 50L)
    // …anywhere in a query, including a scalar subquery
    assert(spark.sql(
      s"SELECT (SELECT max(v) FROM graft.`$dir`) - (SELECT min(v) FROM graft.`$dir`) AS span")
      .collect()(0).getLong(0) === 147L)

    // INSERT INTO: positional, new keys only
    val ins = spark.sql(
      s"INSERT INTO graft.`$dir` SELECT id, id * 3 AS v, 'n' AS tag FROM range(50, 60)")
      .collect()(0)
    assert(ins.getLong(0) === 1L && ins.getLong(1) === 10L)
    assert(spark.sql(s"SELECT count(*) FROM graft.`$dir`").collect()(0).getLong(0) === 60L)

    // duplicate PK refused (ANSI semantics on a PK-addressed store)
    val dup = intercept[Exception] {
      spark.sql(s"INSERT INTO graft.`$dir` SELECT 5 AS id, 1 AS v, 'x' AS tag").collect()
    }
    assert(dup.getMessage.contains("duplicate key"), dup.getMessage)

    // column-list insert: absent target columns take NULL
    spark.sql(s"INSERT INTO graft.`$dir` (id, v) SELECT id, id FROM range(100, 103)").collect()
    val partial = spark.sql(
      s"SELECT v, tag FROM graft.`$dir` WHERE id = 100").collect()(0)
    assert(partial.getLong(0) === 100L && partial.isNullAt(1))

    // SQL time travel: the bootstrap version still reads as published
    assert(spark.sql(s"SELECT count(*) FROM graft.`$dir` VERSION AS OF 0")
      .collect()(0).getLong(0) === 50L)
    // a timestamp far in the future serves the latest committed state
    assert(spark.sql(
      s"SELECT count(*) FROM graft.`$dir` TIMESTAMP AS OF '2099-01-01 00:00:00'")
      .collect()(0).getLong(0) === 63L)

    // INSERT OVERWRITE replaces the snapshot wholesale
    spark.sql(s"ALTER TABLE graft.`$dir` ADD CONSTRAINT v_nonneg CHECK (v >= 0)").collect()
    spark.sql(s"SELECT * FROM graft_add_generated('$dir', 'v10', 'BIGINT', 'v * 10')").collect()
    spark.sql(s"ALTER TABLE graft.`$dir` SET TBLPROPERTIES('retention'='30d')").collect()
    val ow = spark.sql(
      s"INSERT OVERWRITE graft.`$dir` SELECT id, id AS v, 'o' AS tag FROM range(0, 7)")
      .collect()(0)
    assert(ow.getLong(1) === 7L)
    assert(spark.sql(s"SELECT count(*) FROM graft.`$dir`").collect()(0).getLong(0) === 7L)
    // …but keeps the table's declared metadata
    assert(CdcPipeline.checkConstraints(dir) === Map("v_nonneg" -> "v >= 0"))
    assert(CdcPipeline.generatedColumns(dir).keySet === Set("v10"))
    assert(CdcPipeline.tableProperties(dir) === Map("retention" -> "30d"))
    assert(spark.sql(s"SELECT sum(v10) FROM graft.`$dir`").collect()(0).getLong(0) === 210L)
    intercept[Exception] {
      spark.sql(s"INSERT OVERWRITE graft.`$dir` SELECT -1 AS id, -1 AS v, 'x' AS tag").collect()
    }
    // …and the pre-overwrite state is still one VERSION AS OF away
    assert(spark.sql(s"SELECT count(*) FROM graft.`$dir` VERSION AS OF 2")
      .collect()(0).getLong(0) === 63L)
    graft.cdc.StoreFs.deleteRecursive(dir)
  }

  test("MERGE WITH SCHEMA EVOLUTION adds source columns; plain MERGE ignores them") {
    import graft.cdc.CdcPipeline
    val dir = java.nio.file.Files.createTempDirectory("graft-sev").toString
    spark.sql(s"SELECT * FROM graft_create('$dir', 'id', 'SELECT id, id * 2 AS v FROM range(0, 30)', 4)")
      .collect()
    spark.sql("SELECT id, id * 100 AS v, concat('w', id) AS w FROM range(25, 35)")
      .createOrReplaceTempView("sev_src")

    // plain MERGE: the unknown column `w` is ignored (target-driven maps)
    spark.sql(
      s"""MERGE INTO graft.`$dir` AS t USING sev_src AS s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    assert(CdcPipeline.readSnapshot(spark, dir).get.columns.toSet === Set("id", "v"))

    // WITH SCHEMA EVOLUTION: `w` joins the schema; untouched rows read NULL
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO graft.`$dir` AS t USING sev_src AS s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    val snap = CdcPipeline.readSnapshot(spark, dir).get
    assert(snap.columns.toSet === Set("id", "v", "w"))
    assert(snap.count() === 35L)
    val evolved = snap.orderBy("id").collect()
    assert(evolved(26).getString(2) === "w26", "merged rows carry the new column")
    assert(evolved(3).isNullAt(2), "pre-evolution rows read NULL for the new column")
    graft.cdc.StoreFs.deleteRecursive(dir)
  }
}
