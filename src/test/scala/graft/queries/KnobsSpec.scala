package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** Pins the strict 0/1 contract of the A/B env knobs' parser. The knobs
  * themselves can't be exercised here (tests can't mutate the JVM's env), so
  * this pins the one behavior that matters: only "0"/"1" are meaningful, and
  * the production sites all route through [[Knobs]] — before round 14,
  * `SPARK_GRAFT_RETIRE_PAIRS=true` silently force-DISABLED the retirement
  * prepass (parsed `map(_ == "1")`) while another knob parsed `contains("0")`
  * and so silently forced its feature ON — opposite conventions that could
  * misrun an A/B leg with no tell in the log.
  */
class KnobsSpec extends AnyFunSuite {

  test("unset knobs fall through (None)") {
    assert(Knobs.bool("GRAFT_TEST_KNOB_THAT_IS_NEVER_SET").isEmpty)
    assert(Knobs.int("GRAFT_TEST_KNOB_THAT_IS_NEVER_SET").isEmpty)
  }

  test("production knob sites all parse via Knobs.bool") {
    // structural net: grep the knob names' use sites in main sources — each
    // must appear only inside a Knobs.bool/int(...) call (plus docs/strings)
    val root = java.nio.file.Paths.get("src/main/scala")
    val scalaFiles = {
      val s = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      } finally s.close()
    }
    val knobs = Seq("SPARK_GRAFT_RETIRE_PAIRS", "SPARK_GRAFT_D11_CACHE",
      "SPARK_GRAFT_D09_STAGED", "SPARK_GRAFT_E06_WINDOW_STAGE1",
      "SPARK_GRAFT_VEC_BANDS_CACHE", "SPARK_GRAFT_PREFLIGHT", "SPARK_GRAFT_REP_DRAIN",
      "SPARK_GRAFT_BUCKET_CAP", "SPARK_GRAFT_BUCKET_STATE_CAP", "SPARK_GRAFT_SIMHASH_BITS")
    for (f <- scalaFiles) {
      val src = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      for (k <- knobs) {
        // any sys.env read of a knob must be the Knobs.bool implementation
        // itself (Knobs.scala) — nowhere else
        val rawRead = raw"""sys\.env\.get\("$k"\)""".r
        assert(rawRead.findFirstIn(src).isEmpty,
          s"$f reads $k via sys.env directly; route it through Knobs.bool")
      }
    }
  }
}
