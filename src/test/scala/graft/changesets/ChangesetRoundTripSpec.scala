package graft.changesets

import java.nio.file.Files

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Property-based round-trip (SURVEY.md §5.2): random Changeset values
  * rendered to XML must convert back to exactly themselves. Covers the
  * attribute/entity/timestamp/nullability space the golden fixtures
  * sample point-wise. Generators driven directly with fixed seeds
  * (the scalatest-scalacheck bridge isn't in the offline cache, and
  * fixed seeds make failures reproducible anyway). Generator + XML
  * renderer live in RoundTripXml (shared with FastParserSpec).
  */
class ChangesetRoundTripSpec extends SparkSpec {

  test("random changesets survive XML -> parquet round trip exactly") {
    import spark.implicits._
    (1 to 15).foreach { i =>
      val cs = RoundTripXml.genChangesets
        .apply(Gen.Parameters.default, Seed(42L + i))
        .getOrElse(fail(s"generator exhausted at iteration $i"))
      val f = Files.createTempFile("prop", ".osm")
      Files.writeString(f, RoundTripXml.render(cs))
      val got = ChangesetConverter.parse(spark, f.toString)
        .as[Changeset].collect().sortBy(_.id).toList
      // ms-truncated timestamps: the schema stores epoch millis
      assert(got === cs.sortBy(_.id).toList, s"round-trip mismatch at seed ${42L + i}")
      Files.deleteIfExists(f)
    }
  }
}
