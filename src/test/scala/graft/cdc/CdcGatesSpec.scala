package graft.cdc

import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark

/** Every `cdc_*` gate at the test scale factor, run to completion
  * through the noop sink the bench times with. The store gates assert
  * their own laws with `require` while they build (an incremental
  * replicate rewrites only the buckets of changed keys, a MoR delete
  * carries every bucket by reference, staged commits stay invisible
  * until `Txn.commit`, ...), so those laws hold in the test suite and
  * not only under `Verify` and `Bench`. The oracle compare itself is
  * `Verify` + `tools/check.py`.
  */
class CdcGatesSpec extends AnyFunSuite {
  private lazy val spark = LocalSpark.spark

  CdcQueries.defs.foreach { q =>
    test(s"${q.name} runs to completion with its require laws") {
      q.fn(spark, LocalSpark.sf).write.mode("overwrite").format("noop").save()
    }
  }
}
