package graft

import org.apache.spark.sql.SparkSession
import scala.collection.immutable.ListMap
import scala.util.control.NonFatal
import graft.probes._

/** Scale probes: one main over a registry of named probes, each run on
  * [[Session.local]] at volumes beyond the test parquet.
  *
  *   sbt 'runMain graft.Probe <name>[,<name>…]|all [multiplier] [outPath]'
  *
  * The multiplier scales every probe's synthetic input: 100 (the
  * default) is the 10 M-row protocol, 1 is a 100 k-row smoke run.
  * `pointer_visibility` reads the number as seconds per phase instead
  * (default 8). `outPath` is where `ann_frontier` writes its JSON
  * frontier record (e.g. STRESS_ANN_FRONTIER.json). Each probe gets
  * its own session on the shared context, so a runtime conf it sets
  * cannot leak into the next. A probe prints `[probe] <name> OK <secs>`
  * or `[probe] <name> FAILED <class>: <msg>`; the run continues past
  * a failure and exits 1 if any probe failed.
  *
  * Probe names and the mains they replace (older notes cite these):
  * {{{
  *   name                     object                       was
  *   core_scale               probes.CoreScale             StressBench
  *   pagerank_copy_identity   probes.PageRankCopyIdentity  StressBenchNew
  *   branch_bfs_patterns      probes.BranchBfsPatterns     StressBenchNew2
  *   replication_delta        probes.ReplicationDelta      StressBenchNew3
  *   broadcast_admission      probes.BroadcastAdmission    StressBenchNew4
  *   sweep_clamped_balance    probes.SweepClampedBalance   StressBenchNew5
  *   hot_key_balance          probes.HotKeyBalance         StressBenchNew6
  *   coverage_sweep           probes.CoverageSweep         StressBenchNew7
  *   actives_mann_whitney     probes.ActivesMannWhitney    StressBenchNew8
  *   vocab_growth             probes.VocabGrowth           StressBenchNew9
  *   prefix_rank              probes.PrefixRank            StressBenchNew10
  *   pointer_visibility       probes.PointerVisibility     StressBenchNew11
  *   naive_bayes              probes.NaiveBayes            StressBenchNew12
  *   ann_frontier             probes.AnnFrontier           StressBenchNew13
  * }}}
  */
object Probe {
  /** Result of `f` and the wall-clock seconds it took. */
  def secs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Probe name → body at the given multiplier, in `all` order. */
  def registry(out: Option[String]): ListMap[String, (SparkSession, Long) => Unit] = {
    def rows(m: Long) = 100000L * m
    ListMap(
      "core_scale" -> ((s, m) => CoreScale.run(s, m.toInt)),
      "pagerank_copy_identity" -> ((s, m) => PageRankCopyIdentity.run(s, rows(m))),
      "branch_bfs_patterns" -> ((s, m) => BranchBfsPatterns.run(s, rows(m))),
      "replication_delta" -> ((s, m) => ReplicationDelta.run(s, rows(m))),
      "broadcast_admission" -> ((s, m) => BroadcastAdmission.run(s, rows(m))),
      "sweep_clamped_balance" -> ((s, m) => SweepClampedBalance.run(s, rows(m))),
      "hot_key_balance" -> ((s, m) => HotKeyBalance.run(s, rows(m))),
      "coverage_sweep" -> ((s, m) => CoverageSweep.run(s, rows(m))),
      "actives_mann_whitney" -> ((s, m) => ActivesMannWhitney.run(s, rows(m))),
      "vocab_growth" -> ((s, m) => VocabGrowth.run(s, rows(m))),
      // N mod 4 = 1 keeps the uneven ntile branch in play
      "prefix_rank" -> ((s, m) => PrefixRank.run(s, rows(m) + 1)),
      "pointer_visibility" -> ((s, m) => PointerVisibility.run(s, m.toInt)),
      "naive_bayes" -> ((s, m) => NaiveBayes.run(s, rows(m))),
      "ann_frontier" -> ((s, m) => AnnFrontier.run(s, rows(m), out)))
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Probe <name>[,<name>…]|all [multiplier] [outPath]")
    val probes = registry(args.lift(2))
    val names =
      if (args(0) == "all") probes.keys.toSeq
      else args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.filterNot(probes.contains)
    require(unknown.isEmpty,
      s"unknown probe(s) ${unknown.mkString(",")}; known: ${probes.keys.mkString(",")}")
    val spark = Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    val failed = names.filterNot { name =>
      val m = args.lift(1).map(_.toLong)
        .getOrElse(if (name == "pointer_visibility") 8L else 100L)
      try {
        val (_, t) = secs(probes(name)(spark.newSession(), m))
        println(f"[probe] $name OK $t%.1f s")
        true
      } catch { case NonFatal(e) =>
        println(s"[probe] $name FAILED ${e.getClass.getName}: ${e.getMessage}")
        false
      }
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
