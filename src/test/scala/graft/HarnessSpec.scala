package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.tools.Sweep

/** The shared pieces of the suite mains: the sweep harness's row loop
  * and the JSON string escaper Bench and Verify write their output with;
  * and the guard against public defs nothing but tests reaches.
  */
class HarnessSpec extends SparkSpec {

  /** Public defs in `src/main` that no other line of `src/main` or
    * `perfbench/` names, kept on purpose: the "keep" rows of the
    * decision table in COVERAGE.md ("Unreached public defs").
    */
  private val keepUnreached = Set(
    // reference implementations the tests compare the product paths to
    "jaccardPairsWithinBlock", "tokenEntropyMicroHof", "vecCosineHof",
    "topNgramStatsStrings",
    // the reference repo's ETL and query surface
    "readJdbcTable", "ensureSnapshot", "readSkipState",
    "fetchTranscriptsDetailed", "writeStoreJdbc", "cleanVideosWithStats",
    "parseQueryResponse", "toParsedQuery", "formatContext",
    // the IVF index's append half (OpsSpec pins append then search)
    "appendToIvfIndex")

  test("every public def in src/main has a caller in src/main or perfbench, or a recorded keep") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val root = Iterator.iterate(Paths.get("").toAbsolutePath)(_.getParent)
      .takeWhile(_ != null).find(d => Files.isDirectory(d.resolve("src/main/scala/graft")))
      .getOrElse(fail("no src/main/scala/graft above the working directory"))
    def sources(dir: Path, exts: String*): Seq[Path] =
      if (!Files.isDirectory(dir)) Nil
      else Files.walk(dir).iterator().asScala
        .filter(f => Files.isRegularFile(f) && exts.exists(f.toString.endsWith)).toSeq
    val main = sources(root.resolve("src/main/scala"), ".scala")
    val text = (main ++ sources(root.resolve("perfbench"), ".scala", ".py"))
      .map(f => f -> Files.readString(f)).toMap
    val ident = "[A-Za-z_][A-Za-z0-9_]*".r
    val mentions = text.values.flatMap(ident.findAllIn).toSeq
      .groupMapReduce(identity)(_ => 1)(_ + _)
    // A public def: no access modifier or `override` before `def`.
    val defLine = """^\s*(?:(?:final|implicit|@\w+)\s+)*def\s+([A-Za-z_][A-Za-z0-9_]*)""".r
    val unreached = for {
      f <- main
      line <- text(f).linesIterator.toSeq
      m <- defLine.findPrefixMatchOf(line)
      name = m.group(1)
      if mentions(name) == ident.findAllIn(line).count(_ == name)
    } yield name -> root.relativize(f).toString
    val unkept = unreached.filterNot(u => keepUnreached(u._1))
    assert(unkept.isEmpty, "public defs with no caller in src/main or perfbench " +
      "(call them, delete them, or add a keep row to COVERAGE.md and keepUnreached):\n" +
      unkept.map { case (n, f) => s"$f: $n" }.sorted.mkString("\n"))
    val stale = keepUnreached -- unreached.map(_._1)
    assert(stale.isEmpty, s"keepUnreached names that now have a caller or are gone: $stale")
  }

  test("Sweep.overQueries: counts Left and thrown rows, prints the ERR message, releases between rows") {
    var tracked: DataFrame = null
    var levelInNextRow: StorageLevel = null
    val rows: Seq[Sweep.Row] = Seq(
      "a_pass" -> ((s, _) => {
        tracked = graft.core.Caches.persistTracked(s.range(5).toDF("id"))
        tracked.count()
        s.range(3).toDF("id")
      }),
      "b_left" -> ((s, _) => {
        levelInNextRow = tracked.storageLevel
        s.range(0).toDF("id")
      }),
      "c_throw" -> ((_, _) => throw new IllegalStateException("stub row exploded")))
    val out = new java.io.ByteArrayOutputStream()
    val bad = Console.withOut(out) {
      Sweep.overQueries(rows, "stub sweep") { (name, fn) =>
        val n = fn(spark, "unused").count()
        if (n > 0) Right(s"OK   $name") else Left(s"FLAG $name: no rows")
      }
    }
    val lines = out.toString("UTF-8").linesIterator.toSeq
    assert(bad == 2)
    assert(lines == Seq("OK   a_pass", "FLAG b_left: no rows",
      "ERR  c_throw: stub row exploded", "stub sweep: 1/3 clean"))
    assert(tracked.storageLevel == StorageLevel.NONE)
    assert(levelInNextRow == StorageLevel.NONE,
      "a row's persistTracked relation must be released before the next row runs")
  }

  test("Verify.jsonString: Jackson parses quote, backslash, every control char and non-ASCII back") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val controls = (0 until 0x20).map(_.toChar).mkString
    val samples = Seq("", "plain", "say \"hi\"", "C:\\dir\\", controls,
      "naïve café — 東京 \uD83D\uDE00", s"mixed\"\\$controls\u00e9end")
    for (s <- samples) {
      val lit = Verify.jsonString(s)
      assert(!lit.exists(_ < ' '), s"raw control char in $lit")
      assert(mapper.readValue(lit, classOf[String]) == s)
    }
    val obj = mapper.readTree(
      s"{${Verify.jsonString("k\t1")}: ${Verify.jsonString("v\u0000\"")}}")
    assert(obj.get("k\t1").asText() == "v\u0000\"")
  }
}
