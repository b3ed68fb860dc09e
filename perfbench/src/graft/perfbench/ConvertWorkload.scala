package graft.perfbench

import java.nio.file.Path

import graft.changesets.ChangesetConverter

/** `convert`: `ChangesetConverter.convert` with the default options
  * over seeded changeset XML split across several files. Parse and
  * write do all the work: no shuffle, native function, operator or
  * Pipeline code runs, so this is the bypass workload for those layers.
  *
  * Each traced operation is followed by the parse layer alone, once
  * per parser, written to the `noop` sink: `count()` would let Catalyst
  * prune the 13-column projection and time a cheaper plan.
  */
final class ConvertWorkload extends Workload {
  val rows = 60000
  val files = 8
  private var in: String = _
  private var out: String = _
  private var expected: ChangesetXml.Expected = _

  def setup(h: Harness, work: Path, seed: Long): Unit = {
    val dir = work.resolve("convert-in")
    expected = ChangesetXml.write(dir, seed, rows, files)
    in = dir.toString
    out = work.resolve("convert-out").toString
    warmUp(h, passes = 4, capS = 20)
  }

  def step(h: Harness, i: Int): Unit = {
    val spark = h.spark
    h.op("convert")(ChangesetConverter.convert(spark, in, out)) { n =>
      require(n == expected.rows, s"convert reported $n rows, generated ${expected.rows}")
      val got = RowHash.changesets(spark.read.parquet(out))
      require(got == (expected.rows, expected.checksum),
        s"output (rows, checksum) $got, expected (${expected.rows}, ${expected.checksum})")
    }.foreach(h.record("op_s", _))
    if (h.traced) {
      parseOnly(h, "parse:default", "changesets.parse_s", ChangesetConverter.Options())
      parseOnly(h, "parse:fast", "changesets.parse_fast_s", ChangesetConverter.Options(fastParser = true))
    }
  }

  private def parseOnly(h: Harness, name: String, layer: String, opts: ChangesetConverter.Options): Unit =
    h.op(name, layerProbe = true) {
      h.span(layer)(FunctionScans.noop(ChangesetConverter.parse(h.spark, in, opts)))
    } { n =>
      require(n == expected.rows, s"$layer saw $n rows, generated ${expected.rows}")
    }

  override def derived(h: Harness): Map[String, Double] = {
    val op = h.median("op_s").get
    val outBytes = java.nio.file.Files.walk(java.nio.file.Paths.get(out)).toArray
      .map(_.asInstanceOf[Path]).filter(p => p.toString.endsWith(".parquet"))
      .map(p => java.nio.file.Files.size(p)).sum
    Map(
      "changesets.write_s" -> (op - h.median("changesets.parse_s").getOrElse(0.0)),
      "changesets.out_bytes_per_row" -> outBytes.toDouble / expected.rows,
      "convert.rows_per_s" -> expected.rows / op)
  }
}
