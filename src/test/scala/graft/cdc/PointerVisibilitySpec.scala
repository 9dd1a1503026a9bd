package graft.cdc

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

/** Regression gate for the r12 TxnSpec flake's root cause: on the
  * local scheme, `StoreFs.atomicReplace` used to go through Hadoop's
  * default 3-arg rename, whose OVERWRITE is delete(dst) THEN
  * rename(src, dst) — a window where the pointer file is ABSENT and
  * any concurrent `pointer()` read returns None on a store that has
  * a committed version ("deleteWhere returned None under retry").
  * Pre-fix, two seconds of this loop saw ~10⁵ absent sightings; the
  * nio ATOMIC_MOVE path must hold it at exactly 0. The full-pressure
  * version (real store, publish/completeStaged/readSnapshot, parallel
  * FS churn) is the `pointer_visibility` probe of `graft.Probe`.
  */
class PointerVisibilitySpec extends AnyFunSuite {

  test("atomicReplace never leaves the destination absent or torn") {
    // an active session lets StoreFs reuse the cached hadoopConfiguration;
    // without it every exists() parses a fresh Configuration and the
    // loop degrades from ~10⁵ reads/s to ~10² — no stress power
    graft.LocalSpark.spark
    val dir = Files.createTempDirectory("graft_vis").toString
    val ptr = s"$dir/_VERSION"
    StoreFs.writeString(ptr, "0 -1")
    val stop = new AtomicBoolean(false)
    val absent = new AtomicLong(0)
    val torn = new AtomicLong(0)
    val reads = new AtomicLong(0)
    val readers = (1 to 4).map { _ =>
      new Thread(() => {
        while (!stop.get()) {
          reads.incrementAndGet()
          if (!StoreFs.exists(ptr)) absent.incrementAndGet()
          else try {
            if (!StoreFs.readString(ptr).trim.matches("\\d+ -1"))
              torn.incrementAndGet()
          } catch {
            // transient crc sub-window: readString retries through it
            // internally; only a FNF counts as the absence defect
            case _: java.io.FileNotFoundException => absent.incrementAndGet()
          }
        }
      })
    }
    val swaps = new AtomicLong(0)
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
    Thread.sleep(2000)
    stop.set(true)
    readers.foreach(_.join()); writer.join()
    StoreFs.deleteRecursive(dir)
    assert(swaps.get > 10 && reads.get > 1000, "stress loop did not run")
    assert(absent.get === 0,
      s"pointer absent ${absent.get}/${reads.get} reads across ${swaps.get} swaps")
    assert(torn.get === 0, s"torn pointer reads: ${torn.get}")
  }

  test("atomicReplace with an unchecksummed tmp retires the stale dst crc") {
    // writeString goes through the checksummed local FS, so dst has a
    // .crc sidecar; a tmp written RAW (no sidecar) must not leave the
    // old crc behind — new bytes under the stale checksum would fail
    // every later read permanently, the one poisoning case the
    // crc-first move order cannot fix by ordering alone
    graft.LocalSpark.spark // cached hadoopConfiguration, as above
    val dir = Files.createTempDirectory("graft_crc").toString
    val dst = s"$dir/_VERSION"
    StoreFs.writeString(dst, "1 -1")
    assert(Files.exists(java.nio.file.Paths.get(dir, "._VERSION.crc")),
      "precondition: checksummed write creates the sidecar")
    val tmp = java.nio.file.Paths.get(dir, "raw.tmp")
    Files.write(tmp, "2 -1".getBytes("UTF-8")) // raw: no .crc sidecar
    StoreFs.atomicReplace(tmp.toString, dst)
    assert(!Files.exists(java.nio.file.Paths.get(dir, "._VERSION.crc")),
      "stale crc must be deleted when the replacement is unchecksummed")
    assert(StoreFs.readString(dst).trim === "2 -1")
    StoreFs.deleteRecursive(dir)
  }
}
