package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Identity columns — `GENERATED ALWAYS AS IDENTITY` surrogate keys
  * on the versioned bucketed store (SURVEY.md §2 A76; the Delta
  * identity-column surface): writers never supply the column, the
  * merge path assigns monotone unique BIGINTs to inserted rows, and
  * matched rows keep the value they were born with forever.
  *
  * Identity state is deliberately a SIDECAR (`_identity/<name>`),
  * not manifest meta: the high-water mark is monotone GLOBAL state,
  * not per-version state — Delta documents the same law: RESTORE
  * rolls data back but identity allocation NEVER rewinds (a rewound
  * high-water would re-issue ids the restored-away rows already
  * handed to downstream systems). The sidecar survives restore,
  * clone-divergence, and every publish kind with zero carry sites.
  *
  * Allocation contract:
  *  - RESERVE-THEN-PUBLISH: the high-water advances by `step·n_new`
  *    BEFORE the merge publishes. A crash in between burns a range —
  *    identity guarantees uniqueness, never density (Delta's
  *    documented gap semantics; the reverse order would re-issue ids
  *    on replay, which is the unrecoverable failure).
  *  - fresh ids are assigned in PRIMARY-KEY order over the inserted
  *    set via the C74 two-pass dense-position form (range partition +
  *    per-partition offsets — no single-task window at any insert
  *    size). The pk-order pin is stronger than Delta promises
  *    (it promises nothing) and makes allocation engine-exact for
  *    the oracle.
  *  - a source that already carries the identity column refuses:
  *    GENERATED ALWAYS means always.
  *
  * Scale shape: the merge is the ordinary delta-sized A38 path
  * (touched buckets from source keys); allocation adds one
  * insert-set-sized count + the two-pass position job; the sidecar
  * read/write is driver metadata I/O. Single-writer contract as
  * everywhere (bracket with the A46 lease when schedulers overlap).
  */
object IdentityColumns {

  final case class Spec(start: Long, step: Long, highWater: Long)

  private def sidecar(targetDir: String, name: String): String =
    s"$targetDir/_identity/$name"

  /** The declared spec, or None. */
  def identitySpec(targetDir: String, name: String): Option[Spec] =
    if (!StoreFs.exists(sidecar(targetDir, name))) None
    else {
      val parts = StoreFs.readString(sidecar(targetDir, name)).trim.split('|')
      Some(Spec(parts(0).toLong, parts(1).toLong, parts(2).toLong))
    }

  private def write(targetDir: String, name: String, s: Spec): Unit =
    StoreFs.writeString(sidecar(targetDir, name),
      s"${s.start}|${s.step}|${s.highWater}")

  /** Declare `name` (an existing BIGINT column whose initial values
    * the bootstrap publish supplied) as the store's identity column.
    * The high-water seeds from the CURRENT maximum (one column-pruned
    * scan), so allocation continues above whatever the bootstrap
    * loaded; an empty store seeds at `start − step`.
    */
  def declare(spark: SparkSession, targetDir: String, name: String,
      start: Long = 1L, step: Long = 1L): Spec = {
    require(step > 0, s"identity step must be positive, got $step")
    require(identitySpec(targetDir, name).isEmpty,
      s"identity column $name already declared at $targetDir")
    val m = CdcPipeline.currentManifest(targetDir).getOrElse(
      throw new IllegalArgumentException(s"no graft store at $targetDir"))
    val field = m.schema.fields.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"identity column $name does not exist in the store schema — " +
          "bootstrap must supply the column"))
    require(field.dataType == LongType,
      s"identity column $name must be BIGINT, is ${field.dataType.sql}")
    val mx = CdcPipeline.readSnapshot(spark, targetDir).get
      .agg(max(col(name))).collect()(0)
    val hw = if (mx.isNullAt(0)) start - step else math.max(mx.getLong(0), start - step)
    val s0 = Spec(start, step, hw)
    write(targetDir, name, s0)
    s0
  }

  /** UPSERT `source` (which must NOT contain the identity column) by
    * `pkCols`: matched rows update their payload and KEEP their
    * identity value; inserted rows receive fresh ids in pk order from
    * the reserved range. Returns (new version, ids allocated).
    */
  def mergeWithIdentity(spark: SparkSession, targetDir: String,
      pkCols: Seq[String], source: DataFrame, name: String): (Long, Long) = {
    require(!source.columns.contains(name),
      s"identity column $name is GENERATED ALWAYS — the source must not supply it")
    val spec = identitySpec(targetDir, name).getOrElse(
      throw new IllegalArgumentException(
        s"no identity column $name declared at $targetDir"))
    val m = CdcPipeline.currentManifest(targetDir).getOrElse(
      throw new IllegalArgumentException(s"no graft store at $targetDir"))
    // a repeated key would take two rows, and two fresh ids
    val batch = CdcPipeline.keyedBatch(source, pkCols, m.numBuckets, "identity merge source")
    if (batch.buckets.isEmpty) return (m.readVersion, 0L)
    var nNew = 0L
    val v = CdcPipeline.rewriteBuckets(spark, targetDir, pkCols, m, batch.buckets,
        "merge-identity", deltaRows = Some(batch.rows)) { stored =>
      val subset = stored.localCheckpoint()
      val existing = subset.select((pkCols :+ name).map(col): _*)
      val withId = source.join(existing, pkCols, "left")
      val fresh = withId.filter(col(name).isNull).drop(name).localCheckpoint()
      nNew = fresh.count()
      // RESERVE first (see object doc): a crash past this line burns
      // the range instead of ever re-issuing it.
      if (nNew > 0)
        write(targetDir, name, spec.copy(highWater = spec.highWater + spec.step * nNew))
      val freshIdd =
        if (nNew == 0) fresh.withColumn(name, lit(null).cast(LongType)).limit(0)
        else graft.ops.Packing.materializePositions(fresh, pkCols.map(col))
          .withColumn(name, lit(spec.highWater) + lit(spec.step) * (col("pos") + 1))
          .drop("pos")
      val matched = withId.filter(col(name).isNotNull)
      val source2 = matched.unionByName(freshIdd.select(matched.columns.map(col): _*))
      // every row replaces its PK's stored row (UPDATE SET * / INSERT *)
      CdcPipeline.KeyedDelta.Upserts(source2.select(subset.columns.map(col): _*))
    }.version
    (v, nNew)
  }
}
