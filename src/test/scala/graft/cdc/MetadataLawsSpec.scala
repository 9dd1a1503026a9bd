package graft.cdc

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.LocalSpark
import java.nio.file.Files
import scala.util.Random

/** A71/A72 randomized MODEL test (the DeletionVectorLawsSpec idiom):
  * a seeded interleaving of merges (some deliberately violating),
  * predicate updates, constraint add/drop, generated-column
  * add/drop, and RESTOREs runs against the real store and a
  * driver-side model of (rows, constraint set, generated set). After
  * EVERY step: the served snapshot — including computed columns —
  * must equal the model, the declared metadata must equal the
  * model's sets, and every REFUSED write must leave all three
  * exactly unchanged. This is the class of interleaving
  * (declare → merge → restore-past-the-declaration → redeclare)
  * where a carry bug or a half-published refusal surfaces as a
  * mismatch within a step or two.
  */
class MetadataLawsSpec extends AnyFunSuite {
  private lazy val spark = LocalSpark.spark
  import spark.implicits._

  test("random merge/update/constraint/generated/restore interleavings match the model at every step") {
    val dir = Files.createTempDirectory("graft").toString
    val rnd = new Random(20260814L)
    val n = 800L

    val cfg = CdcTableConfig(
      cdcTable = "t", sourcePath = "t", targetDb = "g", targetTable = "laws",
      targetPath = dir, pk = Seq("id"), fieldSpecs = Nil,
      passthrough = Seq("grp", "payload"), numBuckets = Some(8))

    // model state
    val rows = scala.collection.mutable.Map[Long, Long]() // id -> payload
    (0L until n).foreach(id => rows(id) = id * 10L)
    var constraints = Map.empty[String, Long] // name -> min payload bound
    var generated = Set.empty[String] // only ever "g1" (payload*2+1)

    CdcPipeline.publish(
      spark.range(0, n).select(col("id"), (col("id") % 97).as("grp"),
        (col("id") * 10L).as("payload")),
      dir, Seq("id"), buckets = Some(8))

    // per committed version: full model snapshot (for RESTORE)
    val history = scala.collection.mutable.Map[Long, (Map[Long, Long], Map[String, Long], Set[String])]()
    def record(): Unit =
      history(CdcPipeline.currentVersion(dir).get) =
        ((rows.toMap, constraints, generated))
    record()

    def changes(ups: Seq[(Long, Long)], dels: Seq[Long]) =
      (ups.map { case (id, p) => (id, id % 97, Some(p), "u") } ++
        dels.map(id => (id, id % 97, None: Option[Long], "d")))
        .toDF("id", "grp", "payload", "__op")

    def check(step: Int): Unit = {
      val snap = CdcPipeline.readSnapshot(spark, dir).get
      val got = snap.select("id", "payload").as[(Long, Long)].collect().toMap
      assert(got === rows.toMap, s"step $step: snapshot != model")
      assert(snap.columns.contains("g1") === generated.contains("g1"),
        s"step $step: generated column presence")
      if (generated.contains("g1")) {
        val g = snap.select("id", "g1").as[(Long, Long)].collect().toMap
        assert(g === rows.map { case (id, p) => id -> (p * 2 + 1) }.toMap,
          s"step $step: computed values")
      }
      assert(CdcPipeline.checkConstraints(dir).keySet === constraints.keySet,
        s"step $step: constraint set")
      assert(CdcPipeline.generatedColumns(dir).keySet === generated,
        s"step $step: generated set")
    }

    (1 to 22).foreach { step =>
      val verBefore = CdcPipeline.currentVersion(dir).get
      rnd.nextInt(7) match {
        case 0 | 1 => // merge: upserts (+ a delete), possibly violating
          val bound = constraints.values.maxOption
          val violate = bound.isDefined && rnd.nextBoolean()
          val ups = (1 to 20).map { _ =>
            val id = rnd.nextLong(n + 200)
            val p = if (violate) bound.get - 1 - rnd.nextInt(50)
              else math.abs(rnd.nextLong(1000000L)) + bound.getOrElse(0L)
            (id, p)
          }
          val dels = rows.keys.take(3).toSeq
          val chg = changes(ups, dels)
          if (violate) {
            intercept[CdcPipeline.ConstraintViolationException] {
              CdcPipeline.mergeAndPublish(spark, cfg, chg, CdcPipeline.summarize(cfg, chg))
            }
            assert(CdcPipeline.currentVersion(dir).get === verBefore,
              s"step $step: refused merge must not publish")
          } else {
            CdcPipeline.mergeAndPublish(spark, cfg, chg, CdcPipeline.summarize(cfg, chg))
            ups.foreach { case (id, p) => rows(id) = p }
            dels.foreach(rows.remove)
          }
        case 2 => // predicate update of one grp, possibly violating
          val g = rnd.nextInt(97)
          val bound = constraints.values.maxOption
          val hits = rows.keys.filter(_ % 97 == g)
          val violate = bound.isDefined && hits.nonEmpty && rnd.nextBoolean()
          if (violate) {
            intercept[CdcPipeline.ConstraintViolationException] {
              CdcPipeline.updateWhere(spark, dir, Seq("id"), col("grp") === g,
                Map("payload" -> lit(bound.get - 7L)))
            }
            assert(CdcPipeline.currentVersion(dir).get === verBefore)
          } else {
            CdcPipeline.updateWhere(spark, dir, Seq("id"), col("grp") === g,
              Map("payload" -> (col("payload") + lit(5L))))
            if (hits.nonEmpty) hits.foreach(id => rows(id) = rows(id) + 5L)
          }
        case 3 => // add a constraint at/below the current min (succeeds)
          // or above it (refuses, declares nothing)
          val name = s"c$step"
          val minP = rows.values.minOption.getOrElse(0L)
          if (rnd.nextBoolean() && rows.nonEmpty) {
            intercept[CdcPipeline.ConstraintViolationException] {
              CdcPipeline.addCheckConstraint(spark, dir, name,
                s"payload >= ${minP + 1}")
            }
            assert(CdcPipeline.currentVersion(dir).get === verBefore)
          } else {
            CdcPipeline.addCheckConstraint(spark, dir, name, s"payload >= $minP")
            constraints += name -> minP
          }
        case 4 => // drop a random constraint (or no-op when none)
          constraints.keys.toSeq.sorted.headOption match {
            case Some(name) =>
              CdcPipeline.dropCheckConstraint(dir, name)
              constraints -= name
            case None =>
              assert(CdcPipeline.dropCheckConstraint(dir, "absent") === None)
          }
        case 5 => // toggle the generated column
          if (generated.contains("g1")) {
            CdcPipeline.dropGeneratedColumn(dir, "g1")
            generated -= "g1"
          } else {
            CdcPipeline.addGeneratedColumn(dir, "g1", LongType, "payload * 2 + 1")
            generated += "g1"
          }
        case 6 => // RESTORE to a random recorded version: all three revert
          val vs = history.keys.toSeq.sorted
          val target = vs(rnd.nextInt(vs.length))
          CdcPipeline.restoreSnapshot(dir, target)
          val (r, c, g) = history(target)
          rows.clear(); rows ++= r
          constraints = c; generated = g
      }
      record()
      check(step)
    }
    StoreFs.deleteRecursive(dir)
  }

  // ── Metadata-family law table ─────────────────────────────────────
  //
  // Every publish kind × every metadata family, with the outcome
  // written down: the family is CARRIED (identical to the manifest
  // the op derived from), PRUNED (kept exactly for the buckets the
  // op did not touch; an index key survives with zero sidecars),
  // DROPPED on purpose, or the op REFUSES a store that has it. One
  // fixture store declares every family; each kind runs on a copy.

  private sealed trait Law
  private case object Carried extends Law
  private case object Pruned extends Law
  private case object Dropped extends Law
  private case object Refused extends Law

  private val families =
    Seq("coldefault", "constraint", "colvirt", "prop", "dv", "bloom", "ndv", "stats", "segments")

  private val C = Carried; private val P = Pruned; private val D = Dropped
  // `update` is merge-on-read: its bucket keeps its vector (plus the
  // replaced row) and gains a segment, whose rows no sidecar covers.
  // The fixture holds a multi-segment bucket with a vector, so every
  // kind runs over one (the segments family: CARRIED = every bucket's
  // segments resolve to the same dirs; PRUNED = a bucket keeps them,
  // gains one segment of the op's version, or is rewritten into it).
  //                               dflt constr virt prop dv bloom ndv stats segs
  private val table: Seq[(String, Seq[Law])] = Seq(
    "publish"          -> Seq(D, C, C, C, P, P, P, P, P),
    "rewriteBuckets"   -> Seq(C, C, C, C, P, P, P, P, P),
    "rebucket"         -> Seq(D, C, C, C, P, P, P, P, P),
    "delete"           -> Seq(C, C, C, C, P, P, P, P, P),
    "update"           -> Seq(C, C, C, C, C, P, P, P, P),
    "delete-mor"       -> Seq(C, C, C, C, C, C, P, C, C),
    "optimize"         -> Seq(C, C, C, C, P, P, P, P, P),
    "zorder"           -> Seq(C, C, C, C, P, P, P, P, P),
    "bloom-index"      -> Seq(C, C, C, C, C, C, C, C, C),
    "ndv-index"        -> Seq(C, C, C, C, C, C, C, C, C),
    "add-column"       -> Seq(C, C, C, C, C, C, C, C, C),
    "drop-columns"     -> Seq(C, C, C, C, C, C, C, C, C),
    "rename-column"    -> Seq(D, C, C, C, P, P, P, P, P),
    "add-constraint"   -> Seq(C, C, C, C, C, C, C, C, C),
    "drop-constraint"  -> Seq(C, C, C, C, C, C, C, C, C),
    "set-properties"   -> Seq(C, C, C, C, C, C, C, C, C),
    "unset-properties" -> Seq(C, C, C, C, C, C, C, C, C),
    "add-generated"    -> Seq(C, C, C, C, C, C, C, C, C),
    "drop-generated"   -> Seq(C, C, C, C, C, C, C, C, C),
    "restore"          -> Seq(C, C, C, C, C, C, C, C, C),
    "clone"            -> Seq(Refused, C, C, C, C, C, C, C, C),
    "deep-clone"       -> Seq(Refused, C, C, C, C, C, C, C, P),
    "create-like"      -> Seq(D, C, C, C, D, P, P, D, D),
    "branch-publish"   -> Seq(Refused, C, C, C, C, C, C, C, C))

  /** Keys an op edits on purpose (they are its job, not a carry). */
  private val edited: Map[String, Set[String]] = Map(
    "drop-constraint" -> Set("constraint.c2"),
    "unset-properties" -> Set("prop.p2"),
    "drop-generated" -> Set("colvirt.g2"))

  private def tmpDir(): String = Files.createTempDirectory("graft").toString

  private def copyStore(src: String): String = {
    val dst = tmpDir()
    val from = java.nio.file.Paths.get(src)
    val walk = Files.walk(from)
    try walk.forEach { p =>
      val t = java.nio.file.Paths.get(dst).resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally walk.close()
    dst
  }

  /** (full fixture, the same store before its column default) */
  private lazy val fixtures: (String, String) = {
    val dir = tmpDir()
    CdcPipeline.publish(
      spark.range(0, 400).select(col("id"), (col("id") % 7).as("grp"),
        (col("id") * 10L).as("payload"), (col("id") % 3).as("extra")),
      dir, Seq("id"), buckets = Some(8), statsCols = Seq("payload", "grp"))
    CdcPipeline.deleteWhereMoR(spark, dir, Seq("id"), col("id") % 50 === 1L)
    // a merge-on-read update: its bucket holds two segments and a vector
    CdcPipeline.updateWhere(spark, dir, Seq("id"), col("id") === 10L, Map("payload" -> lit(101L)))
    CdcPipeline.addCheckConstraint(spark, dir, "c1", "payload >= 0")
    CdcPipeline.addCheckConstraint(spark, dir, "c2", "id >= 0")
    CdcPipeline.addGeneratedColumn(dir, "g1", LongType, "payload * 2 + 1")
    CdcPipeline.addGeneratedColumn(dir, "g2", LongType, "id + 1")
    CdcPipeline.setTableProperties(dir, Map("p1" -> "x", "p2" -> "y"))
    CdcPipeline.buildBloomIndex(spark, dir, "payload", expectedPerBucket = 100L)
    CdcPipeline.buildNdvIndex(spark, dir, Seq("payload"))
    val noDefault = copyStore(dir)
    CdcPipeline.addColumnWithDefault(spark, dir, "dflt", LongType, 7L)
    (dir, noDefault)
  }

  private def head(dir: String): CdcPipeline.Manifest =
    CdcPipeline.manifest(dir, CdcPipeline.currentVersion(dir).get).get

  /** Run `kind` on store `dir`; returns (source store, result store). */
  private def runKind(kind: String, dir: String): (String, String) = {
    val pk = Seq("id")
    def dest = tmpDir() + "/out"
    kind match {
      case "publish" =>
        val m = head(dir)
        CdcPipeline.publish(CdcPipeline.readBuckets(spark, dir, m, m.buckets.keySet), dir, pk)
      case "rewriteBuckets" =>
        val m = head(dir)
        CdcPipeline.rewriteBuckets(spark, dir, pk, m, Set(m.buckets.keys.min))(s =>
          CdcPipeline.KeyedDelta.Content(s.withColumn("payload", col("payload") + 1L))).version
      case "rebucket" => CdcPipeline.rebucket(spark, dir, pk, 4)
      case "delete" => CdcPipeline.deleteWhere(spark, dir, pk, col("id") === 5L)
      case "update" =>
        CdcPipeline.updateWhere(spark, dir, pk, col("id") === 6L, Map("payload" -> lit(12345L)))
      case "delete-mor" => CdcPipeline.deleteWhereMoR(spark, dir, pk, col("id") === 7L)
      case "optimize" =>
        CdcPipeline.optimize(spark, dir, pk, Seq("payload"), buckets = Some(Set(0, 1)))
      case "zorder" =>
        CdcPipeline.optimizeZorder(spark, dir, pk, Seq("payload", "grp"), buckets = Some(Set(2)))
      case "bloom-index" => CdcPipeline.buildBloomIndex(spark, dir, "grp", expectedPerBucket = 100L)
      case "ndv-index" => CdcPipeline.buildNdvIndex(spark, dir, Seq("grp"))
      case "add-column" => CdcPipeline.addColumnWithDefault(spark, dir, "d2", LongType, 1L)
      case "drop-columns" => CdcPipeline.dropColumns(spark, dir, pk, Seq("extra"))
      case "rename-column" => CdcPipeline.renameColumn(spark, dir, pk, "extra", "extra2")
      case "add-constraint" => CdcPipeline.addCheckConstraint(spark, dir, "c3", "grp >= 0")
      case "drop-constraint" => CdcPipeline.dropCheckConstraint(dir, "c2")
      case "set-properties" => CdcPipeline.setTableProperties(dir, Map("p3" -> "z"))
      case "unset-properties" => CdcPipeline.unsetTableProperties(dir, Seq("p2"))
      case "add-generated" => CdcPipeline.addGeneratedColumn(dir, "g3", LongType, "grp + 1")
      case "drop-generated" => CdcPipeline.dropGeneratedColumn(dir, "g2")
      case "restore" => CdcPipeline.restoreSnapshot(dir, CdcPipeline.currentVersion(dir).get)
      case "clone" | "deep-clone" | "create-like" =>
        val out = dest
        if (kind == "create-like") CdcPipeline.createLike(dir, out)
        else CdcPipeline.cloneSnapshot(dir, out, deep = kind == "deep-clone")
        return (dir, out)
      case "branch-publish" =>
        val br = dest
        CdcPipeline.createBranch(dir, br, "b1")
        CdcPipeline.publishBranch(br)
        return (br, dir)
    }
    (dir, dir)
  }

  /** One store state, as the family checks see it. */
  private final class Snap(val dir: String, val m: CdcPipeline.Manifest) {
    def root(ref: String): String = if (ref.contains("/")) ref else s"$dir/$ref"
    def family(prefix: String): Map[String, String] = m.meta.filter(_._1.startsWith(prefix))
    lazy val dv: Set[(Int, String, Long)] = m.dvs.toSeq.flatMap { case (b, refs) =>
      refs.flatMap(ref =>
        StoreFs.readPositions(s"${root(ref)}/_dv/$b.parquet").map { case (f, p) => (b, f, p) })
    }.toSet
    /** Each bucket's segments, as the dirs they resolve to. */
    def segments: Map[Int, Seq[String]] = m.buckets.map { case (b, segs) => b -> segs.map(root) }
    def own: String = root(s"v${m.readVersion}")
    /** Buckets holding a sidecar of the `payload` index; None = no key. */
    def sidecars(kind: String, ext: String): Option[Set[Int]] =
      m.meta.get(s"$kind.payload").map(ref => m.buckets.keySet.filter(b =>
        Files.exists(java.nio.file.Paths.get(s"${root(ref)}/_$kind/payload/$b.$ext"))))
  }

  /** Mismatches of one (kind, family) cell; empty when the law holds. */
  private def violations(kind: String, family: String, law: Law,
      before: Snap, after: Snap): Seq[String] = {
    val sameRef = (b: Int) => before.m.buckets.get(b) == after.m.buckets.get(b)
    val stable = (b: Int) => sameRef(b) &&
      before.dv.filter(_._1 == b) == after.dv.filter(_._1 == b)
    def expect(ok: Boolean, what: => String): Seq[String] =
      if (ok) Nil else Seq(s"$kind × $family ($law): $what")
    family match {
      case "coldefault" | "constraint" | "colvirt" | "prop" =>
        val had = before.family(family + ".") -- edited.getOrElse(kind, Set.empty)
        val has = after.family(family + ".")
        law match {
          case Carried => expect(had.nonEmpty && had.toSet.subsetOf(has.toSet), s"$had -> $has")
          case Dropped => expect(has.isEmpty, s"still $has")
          case _ => expect(false, "no such law for a declaration family")
        }
      case "dv" => law match {
        case Carried => expect(before.dv.nonEmpty && before.dv.subsetOf(after.dv),
          s"${before.dv.size} rows -> ${after.dv.size}")
        case Pruned => expect(after.dv == before.dv.filter(r => sameRef(r._1)),
          s"${after.dv.size} rows")
        case _ => expect(after.m.dvs.isEmpty, "dv still advertised")
      }
      case "segments" =>
        val (had, has) = (before.segments, after.segments)
        law match {
          case Carried => expect(had.values.exists(_.size > 1) && has == had, s"$had -> $has")
          case Pruned => expect(has.forall { case (b, segs) =>
            had.get(b).contains(segs) || segs == Seq(after.own) ||
              had.get(b).exists(_ :+ after.own == segs)
          }, s"$had -> $has")
          case _ => expect(has.isEmpty, s"still $has")
        }
      case "bloom" | "ndv" =>
        val ext = if (family == "bloom") "bf" else "hll"
        val had = before.sidecars(family, ext)
        val has = after.sidecars(family, ext)
        law match {
          case Carried => expect(had.exists(_.nonEmpty) && has == had, s"$had -> $has")
          case Pruned => expect(has == had.map(_.filter(stable)), s"$had -> $has")
          case _ => expect(has.isEmpty, s"still $has")
        }
      case "stats" => law match {
        case Carried => expect(before.m.stats.nonEmpty && after.m.stats == before.m.stats,
          s"${before.m.stats} -> ${after.m.stats}")
        case Pruned => expect(after.m.stats.filter(kv => stable(kv._1)) ==
          before.m.stats.filter(kv => stable(kv._1)), s"${before.m.stats} -> ${after.m.stats}")
        case _ => expect(after.m.stats.isEmpty, s"still ${after.m.stats}")
      }
    }
  }

  test("law table: every publish kind carries, prunes or drops every metadata family on purpose") {
    val (full, noDefault) = fixtures
    val bad = table.flatMap { case (kind, laws) =>
      val refuses = laws.head == Refused
      if (refuses) intercept[IllegalArgumentException](runKind(kind, copyStore(full)))
      val (srcDir, outDir) = runKind(kind, copyStore(if (refuses) noDefault else full))
      // the source state the op derived from: the store head before
      // the op (a branch publishes the branch's own head)
      val before = new Snap(srcDir, CdcPipeline.manifest(srcDir,
        if (srcDir == outDir) CdcPipeline.currentVersion(srcDir).get - 1
        else CdcPipeline.currentVersion(srcDir).get).get)
      val after = new Snap(outDir, head(outDir))
      families.zip(laws).flatMap {
        case (_, Refused) => Nil
        case (family, law) => violations(kind, family, law, before, after)
      }
    }
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
  }
}
