package graft.cdc

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Guards the one way from a store to its files (the store-layout
  * section of [[CdcPipeline]] and [[StoreFs]]) and the one keyed write
  * back, by scanning src/main/scala with comments stripped:
  *
  *  - a manifest ref resolves (`contains("/")`) only in `versionRoot`;
  *  - a bucket directory name is built or parsed only in `bucketDir`,
  *    `bucketGlob` and `listedBuckets`;
  *  - no `spark.read…parquet` reads a `v<N>` directory as a flat table;
  *  - the current manifest is read only through `currentManifest` (no
  *    pointer read whose version then feeds `manifest(dir, v)`), except
  *    by `fsck`, whose job is to report that pair disagreeing;
  *  - parquet footers are opened in one loop, `StoreFs.walkFooters`;
  *  - a touched-bucket rewrite goes through `rewriteBuckets`, and a
  *    bucket set is aggregated only by `bucketSet` (no
  *    `distinct().collect()`, and the `cdc_replicate` gate's expected
  *    rewrite is a `bucketSet` too);
  *  - a bucket entry (its segment list) and a bucket's deletion-vector
  *    ref are decoded only by the manifest codec and the store-layout
  *    functions.
  *
  * When a bucket entry comes to name something else, or a keyed write
  * comes to land differently, the change is then made in those
  * functions and the manifest codec only.
  */
class StoreLayoutSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  /** (path relative to src/main/scala, source with comments blanked,
    * line numbers kept).
    */
  private lazy val sources: Seq[(String, String)] = {
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.sorted
      .map((p: Path) => root.relativize(p).toString -> stripComments(Files.readString(p)))
    finally walk.close()
  }

  private def stripComments(src: String): String = {
    val blanked = "(?m)^\\s*/\\*[\\s\\S]*?\\*/".r.replaceAllIn(src,
      m => java.util.regex.Matcher.quoteReplacement(m.matched.replaceAll("[^\n]", " ")))
    "(?m)(^|\\s)//.*$".r.replaceAllIn(blanked, m => java.util.regex.Matcher.quoteReplacement(m.group(1)))
  }

  private val DefRe = "\\bdef\\s+(\\w+)".r

  /** (file:line, enclosing def) of every match of `re`, which may span
    * lines.
    */
  private def hits(re: scala.util.matching.Regex): Seq[(String, String)] =
    sources.flatMap { case (file, text) =>
      val defs = DefRe.findAllMatchIn(text).toSeq
      re.findAllMatchIn(text).map { m =>
        val fn = defs.takeWhile(_.start < m.start).lastOption.fold("<object>")(_.group(1))
        s"$file:${text.substring(0, m.start).count(_ == '\n') + 1}" -> fn
      }.toSeq.distinct
    }

  private def outside(re: scala.util.matching.Regex, allowed: Set[String]): Seq[String] =
    hits(re).collect { case (at, fn) if !allowed(fn) => s"$at (in $fn)" }

  /** Pointer reads whose version then names the manifest to read, per
    * def body: `currentVersion(d).flatMap(manifest(d, _))`-style chains,
    * `manifest(d, currentVersion(d)…)`, and a version bound from
    * `currentVersion(d)` (val, `<-`, lambda or `case Some(v)`) that
    * later reaches `manifest(d, v)`.
    */
  private def currentManifestReads: Seq[String] = {
    val cv = "[\\w.]*currentVersion\\((\\S+?)\\)"
    // (pattern, group of the store dir, group of the bound version)
    val bindings = Seq(
      (s"val (\\w+) = $cv".r, 2, 1),
      (s"(\\w+) <- $cv".r, 2, 1),
      (s"$cv\\s*(?:\\.toSeq)?\\s*\\.(?:map|flatMap|foreach)\\s*[({]\\s*(\\w+)\\s*=>".r, 1, 2),
      (s"$cv\\s*match\\s*\\{\\s*case None[^\\n]*\\n(?:[^\\n]*\\n){0,8}?\\s*case Some\\((\\w+)\\)".r, 1, 2))
    val chained = s"$cv\\s*\\.flatMap\\(\\s*(?:\\w+\\s*=>\\s*)?[\\w.]*manifest\\(".r
    sources.flatMap { case (file, text) =>
      val starts = DefRe.findAllMatchIn(text).toSeq
      starts.zipWithIndex.flatMap { case (d, i) =>
        val body = text.substring(d.start, if (i + 1 < starts.size) starts(i + 1).start else text.length)
        def at(offset: Int) =
          s"$file:${text.substring(0, d.start + offset).count(_ == '\n') + 1} (in ${d.group(1)})"
        val direct = chained.findAllMatchIn(body).map(m => at(m.start)).toSeq
        val nested = s"manifest\\(\\s*(\\S+?)\\s*,\\s*$cv".r.findAllMatchIn(body)
          .filter(m => m.group(1) == m.group(2)).map(m => at(m.start)).toSeq
        val bound = for {
          (re, dirGroup, versionGroup) <- bindings
          m <- re.findAllMatchIn(body).toSeq
          dir = java.util.regex.Pattern.quote(m.group(dirGroup))
          use <- s"manifest\\(\\s*$dir\\s*,\\s*${m.group(versionGroup)}\\s*\\)".r
            .findFirstMatchIn(body.substring(m.start))
        } yield at(m.start + use.start)
        if (Set("currentManifest", "fsck")(d.group(1))) Nil else (direct ++ nested ++ bound).distinct
      }
    }
  }

  private def report(rule: String, found: Seq[String]): Unit =
    assert(found.isEmpty, s"$rule: ${found.size} site(s)\n  ${found.mkString("\n  ")}")

  test("manifest refs resolve only in CdcPipeline.versionRoot") {
    report("contains(\"/\") outside versionRoot",
      outside("""contains\("/"\)""".r, Set("versionRoot")))
  }

  test("bucket directory names are built and parsed only in the store-layout functions") {
    report("bucket dir name outside bucketDir/bucketGlob/listedBuckets",
      outside("""_graft_bucket=|BucketCol\}?=|BucketCol \+ "="""".r,
        Set("bucketDir", "bucketGlob", "listedBuckets")))
  }

  test("no reader takes a version directory for a flat table") {
    report("spark.read of a v<N> dir", hits("""\.parquet\(s"[^"]*/v\$\{?\w+\}?"\)""".r).map(_._1))
  }

  test("the current manifest is read only through CdcPipeline.currentManifest") {
    report("pointer read feeding manifest(dir, v)", currentManifestReads)
  }

  test("StoreFs opens parquet footers in one loop") {
    report("ParquetFileReader.open outside StoreFs.walkFooters",
      hits("""ParquetFileReader\.open\(""".r).collect {
        case (at, fn) if !(at.startsWith("graft/cdc/StoreFs.scala:") && fn == "walkFooters") =>
          s"$at (in $fn)"
      })
  }

  test("every keyed rewrite goes through rewriteBuckets and every bucket set through bucketSet") {
    report("publishDelta", hits("""\bpublishDelta\b""".r).map(_._1))
    report("distinct().collect() outside bucketSet",
      outside("""distinct\(\)\s*\.collect\(""".r, Set("bucketSet")))
  }

  test("bucket entries and deletion-vector refs are decoded only by the codec and the layout functions") {
    // reading a segment list or a vector ref out of a manifest; ids
    // alone (`keySet`, `contains`, `size`, `isEmpty`) are not decoding
    val decode = ("""\.buckets\s*(\(|\.\s*(values|get|getOrElse|apply|toSeq|toList|foreach|map|""" +
      """flatMap|collect|count|filter|exists|forall|iterator|head|find|foldLeft)\b)|""" +
      """\.dvs\s*(\(|\.\s*(values|get|getOrElse|apply|toSeq|toList|foreach|map|flatMap|""" +
      """collect|count|filter|exists|forall|iterator|head|find|foldLeft)\b)""").r
    // the enclosing member of the object, not a helper nested in it
    val memberRe = "(?m)^  (?:(?:private|final|override)(?:\\[\\w+\\])? )*def\\s+(\\w+)".r
    val allowed = Set("manifest", "writeManifest", "commit", "manifestBuckets", "segmentDirs",
      "manifestRefs", "bucketsWrittenAt", "dvFiles", "dvPositions", "scanSegments",
      "changedBuckets", "publishBranch")
    val found = sources.flatMap { case (file, text) =>
      val members = memberRe.findAllMatchIn(text).toSeq
      decode.findAllMatchIn(text).toSeq.flatMap { m =>
        val fn = members.takeWhile(_.start < m.start).lastOption.fold("<object>")(_.group(1))
        Option.when(!allowed(fn))(
          s"$file:${text.substring(0, m.start).count(_ == '\n') + 1} (in $fn)")
      }
    }
    report("segment list or vector ref decoded outside the layout functions", found)
  }

  test("the cdc_replicate gate sizes its expected rewrite with bucketSet") {
    val text = sources.collectFirst { case ("graft/cdc/CdcQueries.scala", t) => t }.get
    val start = text.indexOf("def cdcReplicate(")
    assert(start >= 0, "cdcReplicate not found in CdcQueries")
    val body = text.substring(start, text.indexOf("\n  def ", start + 1))
    assert(body.contains("bucketSet("), "cdc_replicate must count buckets with bucketSet")
    assert(!body.contains("distinct().count()"), "cdc_replicate still counts distinct buckets")
  }
}
