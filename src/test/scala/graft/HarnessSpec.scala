package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.tools.Sweep

/** The shared pieces of the suite mains: the sweep harness's row loop,
  * the JSON string escaper Bench and Verify write their output with and
  * the query registry's duplicate-name check; and the source guards:
  * no public def that nothing but tests reaches, no file over 1,500
  * lines.
  */
class HarnessSpec extends SparkSpec {

  /** Public defs in `src/main` that no other line of `src/main` or
    * `perfbench/` names outside a comment, kept on purpose: the "keep"
    * rows of the decision table in COVERAGE.md ("Unreached public defs").
    */
  private val keepUnreached = Set(
    // reference implementations the tests compare the product paths to
    "jaccardPairsWithinBlock", "tokenEntropyMicroHof", "vecCosineHof",
    "topNgramStatsStrings", "topNgramStatsHashed", "tokenHashes",
    "tokenizeFold", "chunkDF", "editDistanceJoin", "bm25TopK",
    "tokenIdNgramOverlap", "repeatedSpans", "hardTripletsAnn",
    "hardTripletsAnnAdc", "saltedJoin",
    // the reference repo's ETL and query surface
    "readJdbcTable", "ensureSnapshot", "readSkipState", "writeSkipState",
    "fetchTranscriptsDetailed", "writeStoreJdbc", "cleanVideosWithStats",
    "integrityCheck", "parseQueryResponse", "toParsedQuery", "formatContext",
    // the multimodal decode, sampling and image near-dup surface
    "decodeImages", "sampleFrames", "imageNearDuplicates",
    // the append halves of the standing indexes (OpsSpec pins append
    // then search, and append == rebuild)
    "appendToIvfIndex", "appendToCorpusIndex")

  private lazy val root: java.nio.file.Path = {
    import java.nio.file.{Files, Paths}
    Iterator.iterate(Paths.get("").toAbsolutePath)(_.getParent)
      .takeWhile(_ != null).find(d => Files.isDirectory(d.resolve("src/main/scala/graft")))
      .getOrElse(fail("no src/main/scala/graft above the working directory"))
  }

  /** The files under `dir` (relative to the repo root) ending in one of `exts`. */
  private def sources(dir: String, exts: String*): Seq[java.nio.file.Path] = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val d = root.resolve(dir)
    if (!Files.isDirectory(d)) Nil
    else Files.walk(d).iterator().asScala
      .filter(f => Files.isRegularFile(f) && exts.exists(f.toString.endsWith)).toSeq
  }

  /** Scala source with its `//` and `/* */` comments blanked (newlines
    * kept); string and char literals stay whole, so the `//` inside
    * `"https://..."` is not taken for a comment.
    */
  private def stripComments(src: String): String = {
    val out = new StringBuilder
    val n = src.length
    var i = 0
    while (i < n) {
      if (src.startsWith("\"\"\"", i)) {
        var j = src.indexOf("\"\"\"", i + 3)
        j = if (j < 0) n else j + 3
        while (j < n && src(j) == '"') j += 1
        out ++= src.substring(i, j); i = j
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < n && src(j) != '"' && src(j) != '\n') j += (if (src(j) == '\\') 2 else 1)
        j = math.min(j + 1, n)
        out ++= src.substring(i, j); i = j
      } else if (src(i) == '\'' && i + 2 < n && (src(i + 2) == '\'' ||
          (src(i + 1) == '\\' && i + 3 < n && src(i + 3) == '\''))) {
        val j = i + (if (src(i + 1) == '\\') 4 else 3)
        out ++= src.substring(i, j); i = j
      } else if (src.startsWith("//", i)) {
        val j = src.indexOf('\n', i)
        i = if (j < 0) n else j
      } else if (src.startsWith("/*", i)) {
        var depth = 1
        var j = i + 2
        while (j < n && depth > 0) {
          if (src.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (src.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        out.append("\n" * src.substring(i, j).count(_ == '\n')); i = j
      } else { out.append(src(i)); i += 1 }
    }
    out.toString
  }

  test("stripComments blanks comments and keeps string and char literals") {
    val src = "val u = \"https://x\" // note\n/* a\n b */ val q = '\"' // c\nval t = \"\"\"//raw\"\"\""
    assert(stripComments(src) ==
      "val u = \"https://x\" \n\n val q = '\"' \nval t = \"\"\"//raw\"\"\"")
  }

  test("every public def in src/main has a caller in src/main or perfbench, or a recorded keep") {
    import java.nio.file.Files
    val main = sources("src/main/scala", ".scala")
    val text = (main ++ sources("perfbench", ".scala", ".py")).map { f =>
      val src = Files.readString(f)
      f -> (if (f.toString.endsWith(".scala")) stripComments(src) else src)
    }.toMap
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

  test("no src/main Scala file is over 1,500 lines") {
    import java.nio.file.Files
    val long = sources("src/main/scala", ".scala")
      .map(f => root.relativize(f).toString -> Files.readAllLines(f).size)
      .filter(_._2 > 1500)
    assert(long.isEmpty, s"split these files by family: ${long.sorted.mkString(", ")}")
  }

  test("the query registry fails on a name given to two rows") {
    import graft.suite.QuerySpec
    val a = QuerySpec("q_dup", (s, _) => s.range(1).toDF("id"), "SELECT 1 AS id")
    val b = QuerySpec("q_dup", (s, _) => s.range(2).toDF("id"), "SELECT 2 AS id")
    val c = QuerySpec("q_other", (s, _) => s.range(1).toDF("id"), "SELECT 1 AS id")
    assert(QuerySpec.byName(Seq(a, c)).keySet == Set("q_dup", "q_other"))
    val e = intercept[IllegalArgumentException](QuerySpec.byName(Seq(a, c, b)))
    assert(e.getMessage.contains("q_dup") && !e.getMessage.contains("q_other"))
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
