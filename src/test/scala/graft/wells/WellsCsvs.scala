package graft.wells

import java.nio.file.{Files, Path}

/** The header/stimulation CSV pair read by the wells mechanics tests: the
  * tests whose assertions hold for any extractor-shaped input (serve status
  * codes, payload cache, single-flight, the DECIMAL(12,9) schema, `--limit`).
  *
  * The reference's shipped extractor output at `/root/reference` when both
  * of its files exist, so a host that has it runs those tests on the
  * golden corpus; otherwise the committed 12-row fixture under
  * `src/test/resources/wells` (FIXTURES.md §1a), which reproduces the dirty
  * shapes of FIXTURES.md §1–2 under fixture-only `FIXnn.pdf` names. The
  * golden-value legs do not use this: they keep the literal reference
  * paths, because their assertions are facts of those files. */
private[wells] object WellsCsvs {

  private val reference =
    ("/root/reference/well_header.csv", "/root/reference/well_stimulation.csv")

  private def fixture(name: String): String =
    Path.of(getClass.getResource(s"/wells/$name").toURI).toString

  /** (header CSV, stimulation CSV). */
  lazy val pair: (String, String) =
    if (Files.isRegularFile(Path.of(reference._1)) &&
        Files.isRegularFile(Path.of(reference._2))) reference
    else (fixture("well_header.csv"), fixture("well_stimulation.csv"))
}
