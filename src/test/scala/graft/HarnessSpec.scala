package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.tools.Sweep

/** The shared pieces of the suite mains: the sweep harness's row loop
  * and the JSON string escaper Bench and Verify write their output with.
  */
class HarnessSpec extends SparkSpec {

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
