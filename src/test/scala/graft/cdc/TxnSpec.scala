package graft.cdc

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.LocalSpark
import java.nio.file.Files

/** A55: multi-table atomic commit. Laws:
  *
  *  - staging is invisible: readers see the old snapshots until
  *    commit, and the staged table rejects competing writers;
  *  - commit flips every table;
  *  - crash between intent and done: recover rolls FORWARD (both
  *    tables end new), is idempotent, and marks done;
  *  - crash before intent: nothing committed, abort reclaims;
  *  - sweep drops only aged completed pairs.
  */
class TxnSpec extends AnyFunSuite {
  private lazy val spark = LocalSpark.spark

  private def tmp(): String = Files.createTempDirectory("graft").toString

  private def fx(n: Int, tag: String) =
    spark.range(0, n).select(col("id"), lit(tag).as("tag"))

  test("stage → commit flips all tables; staging blocks competing writers") {
    val (a, b, coord) = (tmp(), tmp(), tmp())
    CdcPipeline.publish(fx(100, "a0"), a, Seq("id"), buckets = Some(4))
    CdcPipeline.publish(fx(100, "b0"), b, Seq("id"), buckets = Some(4))
    val va = CdcPipeline.publish(fx(100, "a1"), a, Seq("id"), swapNow = false)
    val vb = CdcPipeline.publish(fx(100, "b1"), b, Seq("id"), swapNow = false)
    // invisible while staged
    assert(CdcPipeline.readSnapshot(spark, a).get.select("tag").first.getString(0) === "a0")
    // the held claim rejects a competing writer on the staged table
    intercept[CdcPipeline.ConcurrentWriteException] {
      CdcPipeline.publish(fx(10, "rogue"), a, Seq("id"))
    }
    val id = Txn.commit(coord, Seq(Txn.Staged(a, va), Txn.Staged(b, vb)))
    assert(StoreFs.exists(s"$coord/$id.done"))
    assert(CdcPipeline.readSnapshot(spark, a).get.select("tag").first.getString(0) === "a1")
    assert(CdcPipeline.readSnapshot(spark, b).get.select("tag").first.getString(0) === "b1")
    // post-commit the table accepts writers again
    CdcPipeline.publish(fx(10, "later"), a, Seq("id"))
  }

  test("crash between intent and done: recover rolls both forward, idempotently") {
    val (a, b, coord) = (tmp(), tmp(), tmp())
    CdcPipeline.publish(fx(50, "a0"), a, Seq("id"), buckets = Some(4))
    CdcPipeline.publish(fx(50, "b0"), b, Seq("id"), buckets = Some(4))
    val va = CdcPipeline.publish(fx(50, "a1"), a, Seq("id"), swapNow = false)
    val vb = CdcPipeline.publish(fx(50, "b1"), b, Seq("id"), swapNow = false)
    // simulate the crash: intent written, ONE table swapped, no done
    StoreFs.writeString(s"$coord/txn-0000000000001-000.intent",
      s"$a\t$va\t-1\n$b\t$vb\t-1")
    CdcPipeline.completeStaged(a, va, -1L)
    assert(CdcPipeline.readSnapshot(spark, a).get.select("tag").first.getString(0) === "a1")
    assert(CdcPipeline.readSnapshot(spark, b).get.select("tag").first.getString(0) === "b0",
      "torn state before recovery")
    assert(Txn.recover(coord) === Seq("txn-0000000000001-000"))
    assert(CdcPipeline.readSnapshot(spark, b).get.select("tag").first.getString(0) === "b1")
    assert(Txn.recover(coord) === Seq.empty, "recovery is idempotent")
  }

  test("a staged version is refused by tags, clones, the diff and the change feed") {
    val (dir, dst) = (tmp(), tmp() + "/clone")
    CdcPipeline.publish(fx(20, "v0"), dir, Seq("id"), buckets = Some(4))
    assert(CdcPipeline.publish(fx(20, "staged"), dir, Seq("id"), swapNow = false) === 1L)
    assert(CdcPipeline.createTag(dir, "t", Some(1L)) === None)
    assert(CdcPipeline.cloneSnapshot(dir, dst, atVersion = Some(1L)) === None)
    assert(CdcPipeline.snapshotDiff(spark, dir, 0L, 1L, Seq("id")) === None)
    assert(CdcPipeline.readChangeFeed(spark, dir, Seq("id"), 0L, 1L) === None)
    // the staged v1 is thrown away and a different v1 commits: a tag
    // taken now names the committed rows
    CdcPipeline.abortStaged(dir, 1L)
    assert(CdcPipeline.publish(fx(20, "v1"), dir, Seq("id")) === 1L)
    assert(CdcPipeline.createTag(dir, "t", Some(1L)) === Some(1L))
    assert(CdcPipeline.readSnapshotAtTag(spark, dir, "t").get
      .select("tag").distinct().collect().map(_.getString(0)).toSeq === Seq("v1"))
  }

  test("abort before intent reclaims the staged versions") {
    val (a, coord) = (tmp(), tmp())
    CdcPipeline.publish(fx(50, "a0"), a, Seq("id"), buckets = Some(4))
    val va = CdcPipeline.publish(fx(50, "a1"), a, Seq("id"), swapNow = false)
    Txn.abort(Seq(Txn.Staged(a, va)))
    assert(!StoreFs.exists(s"$a/v$va"), "aborted version dir must be gone")
    assert(CdcPipeline.readSnapshot(spark, a).get.select("tag").first.getString(0) === "a0")
    // the table accepts writers again and reuses the version number
    assert(CdcPipeline.publish(fx(50, "a2"), a, Seq("id")) === va)
    assert(Txn.recover(coord) === Seq.empty)
  }

  test("consistent read pins the latest covering transaction, immune to later single-table writes") {
    val (a, b, coord) = (tmp(), tmp(), tmp())
    CdcPipeline.publish(fx(40, "a0"), a, Seq("id"), buckets = Some(4))
    CdcPipeline.publish(fx(40, "b0"), b, Seq("id"), buckets = Some(4))
    // txn 1 covers both tables
    val va1 = CdcPipeline.publish(fx(40, "a1"), a, Seq("id"), swapNow = false)
    val vb1 = CdcPipeline.publish(fx(40, "b1"), b, Seq("id"), swapNow = false)
    Txn.commit(coord, Seq(Txn.Staged(a, va1), Txn.Staged(b, vb1)))
    // a later SINGLE-table write advances `a` outside any transaction
    CdcPipeline.publish(fx(40, "a2-solo"), a, Seq("id"))
    assert(CdcPipeline.readSnapshot(spark, a).get
      .select("tag").first.getString(0) === "a2-solo")
    // the consistent read still serves the txn-1 PAIR
    val pins = Txn.consistentVersions(coord, Seq(a, b)).get
    assert(pins === Map(a -> va1, b -> vb1))
    val frames = Txn.readConsistent(spark, coord, Seq(a, b)).get
    assert(frames(a).select("tag").first.getString(0) === "a1")
    assert(frames(b).select("tag").first.getString(0) === "b1")
    // txn 2 over both: the pin advances
    val va2 = CdcPipeline.publish(fx(40, "a3"), a, Seq("id"), swapNow = false)
    val vb2 = CdcPipeline.publish(fx(40, "b2"), b, Seq("id"), swapNow = false)
    Txn.commit(coord, Seq(Txn.Staged(a, va2), Txn.Staged(b, vb2)))
    assert(Txn.consistentVersions(coord, Seq(a, b)).get === Map(a -> va2, b -> vb2))
    // a table never covered by any transaction → None, not a partial mix
    val c = tmp()
    CdcPipeline.publish(fx(10, "c0"), c, Seq("id"), buckets = Some(2))
    assert(Txn.consistentVersions(coord, Seq(a, c)) === None)
    // empty coordinator → None
    assert(Txn.consistentVersions(tmp(), Seq(a)) === None)
  }

  test("retryOnConflict serializes a loser behind a racing staged commit") {
    import org.apache.spark.sql.functions.col
    val dir = tmp()
    CdcPipeline.publish(fx(200, "base"), dir, Seq("id"), buckets = Some(4))
    // writer A stages v1 and HOLDS the claim (mid-commit)
    val va = CdcPipeline.publish(fx(200, "a1"), dir, Seq("id"), swapNow = false)
    // writer B races a predicate delete: first attempts lose the claim,
    // the retry after A's commit applies on top of A's state
    val b = scala.concurrent.Future {
      CdcPipeline.retryOnConflict(maxRetries = 60, backoffMs = 100L) {
        CdcPipeline.deleteWhere(spark, dir, Seq("id"), col("id") < 50L)
      }
    }(scala.concurrent.ExecutionContext.global)
    // a plain (un-retried) competing write fails immediately meanwhile
    intercept[CdcPipeline.ConcurrentWriteException] {
      CdcPipeline.publish(fx(10, "rogue"), dir, Seq("id"))
    }
    Thread.sleep(300)
    CdcPipeline.completeStaged(dir, va, -1L)
    val res =
      scala.concurrent.Await.result(b, scala.concurrent.duration.Duration("240s"))
    // a None here means deleteWhere observed no readable pointer or
    // manifest. ROOT-CAUSED (r13): Hadoop's local-scheme 3-arg rename
    // implements OVERWRITE as delete-then-rename, so completeStaged's
    // pointer swap had a window where the pointer file was ABSENT —
    // under full-suite FS load a retry's pointer() read landed in it.
    // Fixed in StoreFs.atomicReplace (nio ATOMIC_MOVE on file://);
    // PointerVisibilitySpec and the pointer_visibility probe gate the regression.
    // The assert stays as a diagnosable tripwire.
    assert(res.isDefined,
      s"deleteWhere returned None under retry; pointer=" +
        s"${CdcPipeline.currentVersion(dir)} staged=$va")
    val (vb, nDel) = res.get
    assert(vb > va && nDel === 50L)
    // serial equivalence: B's delete ran against A's committed state
    val fin = CdcPipeline.readSnapshot(spark, dir).get
    assert(fin.count() === 150L)
    assert(fin.select("tag").distinct.collect().map(_.getString(0)).toSeq === Seq("a1"))
    // exhausted retries rethrow: stage a new claim and pin retries at 0
    val vc = CdcPipeline.publish(fx(10, "c"), dir, Seq("id"), swapNow = false)
    intercept[CdcPipeline.ConcurrentWriteException] {
      CdcPipeline.retryOnConflict(maxRetries = 0) {
        CdcPipeline.deleteWhere(spark, dir, Seq("id"), col("id") >= 190L)
      }
    }
    CdcPipeline.abortStaged(dir, vc)
  }

  test("N concurrent writers under retryOnConflict serialize: every delete lands exactly once") {
    import org.apache.spark.sql.functions.col
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val dir = tmp()
    CdcPipeline.publish(fx(900, "base"), dir, Seq("id"), buckets = Some(8))
    // three writers race disjoint predicate deletes (id mod 3 classes
    // of the low range) with NO external coordination — only the
    // stale-base refusal + retry. Any lost update leaves extra rows.
    val writers = (0 until 3).map { r =>
      Future {
        CdcPipeline.retryOnConflict(maxRetries = 100, backoffMs = 150L) {
          CdcPipeline.deleteWhere(spark, dir, Seq("id"),
            col("id") < 300L && col("id") % 3 === r.toLong)
        }
      }
    }
    val results = writers.map(Await.result(_, Duration("300s")))
    assert(results.flatten.map(_._2).sum === 300L,
      s"each writer deletes its full class exactly once: $results")
    assert(CdcPipeline.readSnapshot(spark, dir).get.count() === 600L)
    // three committed versions, one per writer, strictly ordered
    assert(CdcPipeline.currentVersion(dir).get === 3L)
    // the audit agrees nothing was torn
    val audit = CdcPipeline.auditData(spark, dir, Seq("id")).get.collect()
    assert(audit.forall(_.getString(0) == "ok"), audit.mkString(";"))
  }

  /** The lost-update interleaving, made deterministic: writer A's
    * whole commit runs at the moment writer B, having derived its
    * state from v0, takes its commit claim. B must refuse; under
    * [[CdcPipeline.retryOnConflict]] it re-derives from A's state.
    */
  private def race[T](writerA: => Any)(writerB: => T): T =
    CommitRaceFs.install(spark) {
      CommitRaceFs.arm(writerA)
      try writerB
      finally assert(CommitRaceFs.fired, "the interleaving never happened")
    }

  test("a commit landing between a delete's base read and its claim fails that delete; retry serializes") {
    def deleteA(dir: String) = CdcPipeline.deleteWhere(spark, dir, Seq("id"), col("id") < 100L)
    def deleteB(dir: String) = CdcPipeline.deleteWhere(spark, dir, Seq("id"), col("id") >= 800L)
    val dir = tmp()
    CdcPipeline.publish(fx(1000, "base"), dir, Seq("id"), buckets = Some(4))
    var a: Option[(Long, Long)] = None
    intercept[CdcPipeline.ConcurrentWriteException] {
      race { a = deleteA(dir) } { deleteB(dir) }
    }
    assert(a === Some((1L, 100L)))
    assert(CdcPipeline.currentVersion(dir) === Some(1L))
    assert(CdcPipeline.readSnapshot(spark, dir).get.count() === 900L, "A's delete must stand")

    val dir2 = tmp()
    CdcPipeline.publish(fx(1000, "base"), dir2, Seq("id"), buckets = Some(4))
    val b = race(deleteA(dir2)) {
      CdcPipeline.retryOnConflict(maxRetries = 3, backoffMs = 10L)(deleteB(dir2))
    }
    assert(b === Some((2L, 200L)))
    // serial execution (A, then B) leaves 700 rows
    assert(CdcPipeline.readSnapshot(spark, dir2).get.count() === 700L)
  }

  test("a commit landing between a full publish's base read and its claim fails that publish; retry serializes") {
    def deleteA(dir: String) = CdcPipeline.deleteWhere(spark, dir, Seq("id"), col("id") < 100L)
    def publishB(dir: String) = CdcPipeline.publish(fx(1000, "b"), dir, Seq("id"))
    val dir = tmp()
    CdcPipeline.publish(fx(1000, "base"), dir, Seq("id"), buckets = Some(4))
    intercept[CdcPipeline.ConcurrentWriteException] {
      race(deleteA(dir))(publishB(dir))
    }
    assert(CdcPipeline.currentVersion(dir) === Some(1L))
    assert(CdcPipeline.manifest(dir, 1L).get.meta("op") === "delete")
    assert(CdcPipeline.readSnapshot(spark, dir).get.count() === 900L, "A's delete must stand")

    val dir2 = tmp()
    CdcPipeline.publish(fx(1000, "base"), dir2, Seq("id"), buckets = Some(4))
    val vb = race(deleteA(dir2)) {
      CdcPipeline.retryOnConflict(maxRetries = 3, backoffMs = 10L)(publishB(dir2))
    }
    assert(vb === 2L)
    // serial execution: A's delete is v1, B's full snapshot v2 replaces it
    assert(CdcPipeline.readSnapshotAt(spark, dir2, 1L).get.count() === 900L)
    val fin = CdcPipeline.readSnapshot(spark, dir2).get
    assert(fin.count() === 1000L)
    assert(fin.select("tag").distinct.collect().map(_.getString(0)).toSeq === Seq("b"))
  }

  test("a merge-on-read merge racing a vector fold: one commits, the other refuses, no row is lost") {
    import spark.implicits._
    val cfgOf = (dir: String) => CdcTableConfig(cdcTable = "t", sourcePath = "t", targetDb = "g",
      targetTable = "race", targetPath = dir, pk = Seq("id"), fieldSpecs = Nil,
      passthrough = Seq("tag"), numBuckets = Some(4))
    def chg(ups: Seq[Long], tag: String, dels: Seq[Long]) =
      (ups.map(id => (id, Option(tag), "u")) ++ dels.map(id => (id, Option.empty[String], "d")))
        .toDF("id", "tag", CdcEnvelope.OpCol)
    def merge(dir: String, c: org.apache.spark.sql.DataFrame) =
      CdcPipeline.mergeAndPublish(spark, cfgOf(dir), c, CdcPipeline.summarize(cfgOf(dir), c))
    def fold(dir: String) = CdcPipeline.foldDv(spark, dir, Seq("id"))
    def rows(dir: String): Map[Long, String] =
      CdcPipeline.readSnapshot(spark, dir).get.select("id", "tag").as[(Long, String)].collect().toMap
    // a store with vectors: ids 0..199 tagged "base", then a merge-on-read merge
    def store(): String = {
      val dir = tmp()
      CdcPipeline.publish(fx(200, "base"), dir, Seq("id"), buckets = Some(4))
      merge(dir, chg(Seq(1L, 2L, 3L), "m1", Seq(4L)))
      assert(CdcPipeline.currentManifest(dir).get.dvs.nonEmpty)
      dir
    }
    val m1 = (0L until 200L).map(_ -> "base").toMap ++ Seq(1L, 2L, 3L).map(_ -> "m1") - 4L
    val m2 = m1 ++ Seq(5L, 300L).map(_ -> "m2") - 6L
    val c2 = chg(Seq(5L, 300L), "m2", Seq(6L))

    // the fold lands while the merge takes its claim: the merge refuses
    val a = store()
    intercept[CdcPipeline.ConcurrentWriteException](race(fold(a))(merge(a, c2)))
    assert(CdcPipeline.currentManifest(a).get.dvs.isEmpty, "the fold stands")
    assert(rows(a) === m1)
    CdcPipeline.retryOnConflict(maxRetries = 3, backoffMs = 10L)(merge(a, c2))
    assert(rows(a) === m2)

    // the merge lands while the fold takes its claim: the fold refuses
    val b = store()
    intercept[CdcPipeline.ConcurrentWriteException](race(merge(b, c2))(fold(b)))
    assert(rows(b) === m2)
    CdcPipeline.retryOnConflict(maxRetries = 3, backoffMs = 10L)(fold(b))
    assert(CdcPipeline.currentManifest(b).get.dvs.isEmpty)
    assert(rows(b) === m2)
    Seq(a, b).foreach(d =>
      assert(CdcPipeline.fsck(spark, d).filter(col("severity") === "error").count() === 0L))
  }

  test("sweep drops only aged completed pairs") {
    val (a, coord) = (tmp(), tmp())
    CdcPipeline.publish(fx(20, "a0"), a, Seq("id"), buckets = Some(2))
    val va = CdcPipeline.publish(fx(20, "a1"), a, Seq("id"), swapNow = false)
    val id = Txn.commit(coord, Seq(Txn.Staged(a, va)))
    assert(Txn.sweep(coord, keepMs = 3600 * 1000L) === Seq.empty, "fresh pair kept")
    assert(Txn.sweep(coord, keepMs = -1L) === Seq(id))
    assert(!StoreFs.exists(s"$coord/$id.intent") && !StoreFs.exists(s"$coord/$id.done"))
  }
}

/** A local filesystem whose `_VERSION` opens can run a one-shot hook:
  * the deterministic interleaving behind the lost-update specs.
  * Installed through `fs.file.impl` with the FS cache disabled, so
  * every store operation gets a fresh instance that consults the
  * shared hook. The hook fires on the armed thread, at its first
  * pointer read made while taking a commit claim — after the writer
  * has derived its state, before the claim exists.
  */
class CommitRaceFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def open(f: org.apache.hadoop.fs.Path,
      bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    if (f.getName == "_VERSION") CommitRaceFs.fire()
    super.open(f, bufferSize)
  }
}

object CommitRaceFs {
  @volatile private var armed: Option[(Thread, () => Any)] = None

  def arm(hook: => Any): Unit = armed = Some((Thread.currentThread(), () => hook))

  def fired: Boolean = armed.isEmpty

  private def fire(): Unit = armed match {
    case Some((t, hook)) if (t eq Thread.currentThread()) &&
        t.getStackTrace.exists(_.getMethodName.contains("claimVersion")) =>
      armed = None
      hook()
      ()
    case _ => ()
  }

  def install[T](spark: org.apache.spark.sql.SparkSession)(body: => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val saved = keys.map(k => k -> Option(conf.get(k)))
    conf.set("fs.file.impl", classOf[CommitRaceFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    try body
    finally {
      armed = None
      saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
    }
  }
}
