package graft
package probes

import graft.cdc.{CdcPipeline, StoreFs}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

/** Pointer-visibility stress harness (r12 verdict #1 — the TxnSpec
  * "retryOnConflict serializes a loser" flake, where `deleteWhere`
  * returned None mid-retry because a reader saw NEITHER pointer nor
  * manifest on a store that provably had both).
  *
  * Root cause under test: `StoreFs.atomicReplace` delegated to
  * `FileContext.rename(OVERWRITE)`, and on the `file://` scheme
  * Hadoop's `AbstractFileSystem.renameInternal(src, dst, overwrite)`
  * default — its own Javadoc says "deals with overwrite in a
  * non-atomic way" — implements OVERWRITE as delete(dst) THEN
  * rename(src, dst), with ChecksumFs adding a second non-atomic
  * crc-sidecar rename on top. Between the delete and the rename the
  * pointer file DOES NOT EXIST, so any concurrent `pointer()` read
  * (deleteWhere's base read, claimVersion's sweep bound,
  * completeStaged's advance check) sees a store with no version — the
  * exact None the flake asserted on. HDFS overrides the 3-arg rename
  * with one atomic namenode op, so only the local scheme (tests, and
  * any file:// deployment) had the window.
  *
  * Two phases, both REPRODUCING the defect against the pre-fix
  * primitive and proving the fix:
  *
  *  1. PRIMITIVE — one writer loops `StoreFs.atomicReplace` onto one
  *     control file while reader threads hammer the exists+read
  *     pointer protocol and count absent/torn sightings. Pre-fix this
  *     sees hundreds of absences per second under load; the
  *     nio-ATOMIC_MOVE fix must hold it at exactly 0 (a transient
  *     ChecksumException window remains by design — readRetrying's
  *     class — counted separately).
  *  2. STORE — the TxnSpec shape at full pressure: one writer loops
  *     staged publish → completeStaged on a real store while reader
  *     threads hammer `currentVersion`/`readSnapshot` and a churn
  *     thread generates parallel FS load (the full-suite condition
  *     the flake needed). Zero None-sightings required once the store
  *     exists.
  *
  * Run: `sbt 'runMain graft.Probe pointer_visibility [seconds-per-phase]'`
  */
object PointerVisibility {
  def run(spark: SparkSession, secs: Int): Unit = {
    // ---- phase 1: the rename primitive ----
    val dir = java.nio.file.Files.createTempDirectory("graft_vis_stress").toString
    val ptr = s"$dir/_VERSION"
    StoreFs.writeString(ptr, "0 -1")
    val stop = new AtomicBoolean(false)
    val absent = new AtomicLong(0)
    val torn = new AtomicLong(0)
    val checksum = new AtomicLong(0)
    val reads = new AtomicLong(0)
    val swaps = new AtomicLong(0)
    val readers = (1 to 6).map { _ =>
      new Thread(() => {
        while (!stop.get()) {
          reads.incrementAndGet()
          if (!StoreFs.exists(ptr)) absent.incrementAndGet()
          else {
            try {
              val s = StoreFs.readString(ptr).trim
              if (!s.matches("\\d+ -1")) torn.incrementAndGet()
            } catch {
              case _: org.apache.hadoop.fs.ChecksumException => checksum.incrementAndGet()
              case _: java.io.FileNotFoundException => absent.incrementAndGet()
            }
          }
        }
      })
    }
    val writer = new Thread(() => {
      var v = 1L
      while (!stop.get()) {
        val tmp = s"$dir/._VERSION.tmp"
        StoreFs.writeString(tmp, s"$v -1")
        StoreFs.atomicReplace(tmp, ptr)
        swaps.incrementAndGet()
        v += 1
      }
    })
    readers.foreach(_.start()); writer.start()
    Thread.sleep(secs * 1000L)
    stop.set(true)
    readers.foreach(_.join()); writer.join()
    println(s"phase1 primitive: swaps=${swaps.get} reads=${reads.get} " +
      s"ABSENT=${absent.get} TORN=${torn.get} checksumRetryClass=${checksum.get}")

    // ---- phase 2: the store control plane under parallel FS load ----
    val store = java.nio.file.Files.createTempDirectory("graft_vis_store").toString
    def fx(n: Int, tag: String) = spark.range(n)
      .select(col("id"), lit(tag).as("tag"))
    CdcPipeline.publish(fx(200, "base"), store, Seq("id"), buckets = Some(4))
    val stop2 = new AtomicBoolean(false)
    val noneVersion = new AtomicLong(0)
    val noneSnap = new AtomicLong(0)
    val reads2 = new AtomicLong(0)
    val commits = new AtomicLong(0)
    val readers2 = (1 to 4).map { i =>
      new Thread(() => {
        while (!stop2.get()) {
          reads2.incrementAndGet()
          if (CdcPipeline.currentVersion(store).isEmpty) noneVersion.incrementAndGet()
          // readSnapshot plans a frame (manifest + pointer read) —
          // only every few iterations, it is much heavier
          if (i == 1 && reads2.get() % 50 == 0 &&
              CdcPipeline.readSnapshot(spark, store).isEmpty)
            noneSnap.incrementAndGet()
        }
      })
    }
    // parallel FS churn: the background load the full test suite
    // accidentally supplies (temp stores being created/deleted)
    val churn = new Thread(() => {
      while (!stop2.get()) {
        val d = java.nio.file.Files.createTempDirectory("graft_churn")
        (1 to 20).foreach(j => java.nio.file.Files.write(
          d.resolve(s"f$j"), Array.fill(4096)(0x61.toByte)))
        StoreFs.deleteRecursive(d.toString)
      }
    })
    val writer2 = new Thread(() => {
      var tagN = 0
      while (!stop2.get()) {
        tagN += 1
        val v = CdcPipeline.publish(fx(200, s"w$tagN"), store, Seq("id"),
          swapNow = false)
        CdcPipeline.completeStaged(store, v, -1L)
        commits.incrementAndGet()
      }
    })
    readers2.foreach(_.start()); churn.start(); writer2.start()
    Thread.sleep(secs * 1000L)
    stop2.set(true)
    readers2.foreach(_.join()); churn.join(); writer2.join()
    println(s"phase2 store: commits=${commits.get} reads=${reads2.get} " +
      s"NONE_version=${noneVersion.get} NONE_snapshot=${noneSnap.get}")

    StoreFs.deleteRecursive(dir); StoreFs.deleteRecursive(store)
    val bad = absent.get + torn.get + noneVersion.get + noneSnap.get
    println(if (bad == 0) "VISIBILITY OK" else s"VISIBILITY BROKEN ($bad sightings)")
    if (bad != 0) sys.error(s"VISIBILITY BROKEN ($bad sightings)")
  }
}
