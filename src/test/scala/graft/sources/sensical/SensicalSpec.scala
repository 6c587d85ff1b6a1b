package graft.sources.sensical

import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** S4 — Sensical report parser: full fixture parse, F6 numeric gate,
  * End termination, decimal commas, optional-meta fallbacks, and error
  * paths (file_analysis.py:7-86 semantics). */
class SensicalSpec extends SparkSpec {

  test("parses title, timestamp, quantiles, count, and gated crack rows") {
    val r = Sensical.parseReport("f", SensicalFixtures.ReportText)
    assert(r.title == "Bauwerk R6-07 - Sensor Nord")
    assert(r.report_ts.toInstant.toString == "2025-04-22T12:26:43Z")
    assert(r.q50_mm.contains(0.12))
    assert(r.q90_mm.contains(0.45))
    assert(r.wcr_max_mm.contains(1.08))
    assert(r.crack_count.contains(6))
    assert(r.cracks.map(c => (c.x, c.y, c.z, c.wCr)) == SensicalFixtures.ExpectedCracks)
  }

  test("junk, blank, and post-End lines are excluded; extra tokens truncated to 4") {
    val r = Sensical.parseReport("f", SensicalFixtures.ReportText)
    // the '7,0 ... 0,80 99' row keeps only its first four numbers
    assert(r.cracks(4) == Sensical.Crack(7.0, 2.2, 0.3, 0.80))
    // the post-End row (x=5.5 wCr=9.99) must not appear
    assert(!r.cracks.exists(_.wCr == 9.99))
    assert(r.cracks.length == 6)
  }

  test("missing optional metadata yields nulls, not failure") {
    val text =
      """Titel ohne Meta
        |Rissposition (m) vs. Rissbreite (mm)
        |X Y Z wCr
        |1,0 1,0 1,0 0,5
        |End
        |""".stripMargin
    val r = Sensical.parseReport("f", text)
    assert(r.report_ts == null)
    assert(r.q50_mm.isEmpty && r.crack_count.isEmpty)
    assert(r.cracks.length == 1)
  }

  test("missing data block header fails like the reference") {
    val e = intercept[IllegalArgumentException] {
      Sensical.parseReport("f", "Nur Titel\nZeit 1-Jan-2025 00:00:00\n")
    }
    assert(e.getMessage.contains("data block"))
  }

  test("no data rows before End fails like the reference") {
    val text =
      """T
        |Rissposition (m) vs. Rissbreite (mm)
        |X Y Z wCr
        |End
        |""".stripMargin
    val e = intercept[IllegalArgumentException](Sensical.parseReport("f", text))
    assert(e.getMessage.contains("No data rows"))
  }

  test("reports() and cracks() read a directory of files distributively") {
    val dir = tempDir("sensical_spec").toString
    Files.writeString(Paths.get(dir, "a.txt"), SensicalFixtures.ReportText)
    Files.writeString(Paths.get(dir, "b.txt"),
      SensicalFixtures.ReportText.replace("Sensor Nord", "Sensor Sued"))
    val reports = Sensical.reports(spark, dir)
    assert(reports.count() == 2)
    val cracks = Sensical.cracks(spark, dir)
    assert(cracks.count() == 12)
    assert(cracks.schema("wcr_mm").metadata.getString("unit") == "mm")
    val titles = cracks.select("title").distinct().collect().map(_.getString(0)).sorted
    assert(titles.sameElements(Array("Bauwerk R6-07 - Sensor Nord",
      "Bauwerk R6-07 - Sensor Sued")))
  }
}
