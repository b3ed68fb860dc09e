package graft

import java.nio.file.{Files, Paths}

import graft.operators.{ArtifactStamp, Quality}
import graft.sources.{Export, Robots}

/** Every commit record graft reads back — export manifests, the MG,
  * count-min, CDC and recrawl heads, artifact stamps, ANN model
  * manifests, Bench's prior `bench_detail.json` — is parsed as
  * JSON, not matched with patterns: keys in another order, a decoy
  * field nested in an object before the real one, and escaped quotes
  * and backslashes in strings all read as what the record says.
  */
class JsonReadersSpec extends SparkSpec {
  import spark.implicits._

  private def put(dir: String, name: String, json: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, name), json)
  }

  /** A state dir whose committed generation 3 holds `rows`, with a head
    * naming it after a nested decoy naming generation 99.
    */
  private def stateDir(head: String, extra: String = "")(rows: => org.apache.spark.sql.DataFrame) = {
    val d = tmpDir("json-head")
    rows.write.parquet(s"$d/gen-3")
    put(d, head, s"""{"decoy": {"gen": 99, "last_batch_id": 99, "d": 9, "w": 9},
      | "note": "an \\"escaped\\" \\\\ string: \\"gen\\": 99",$extra
      | "last_batch_id": 5, "gen": 3}""".stripMargin)
    d
  }

  test("export manifest: reordered keys, escaped strings, a decoy shard list") {
    val d = tmpDir("json-export")
    put(d, "manifest.json",
      """{"shards": [{"rows": 7, "shard": 1, "checksum": -4}, {"shard": 0, "rows": 6}],
        | "note": "{\"shard\": 9, \"rows\": 9} \\ \"total_rows\": 1",
        | "decoy": {"seed": 0, "shards": [{"shard": 8, "rows": 8}]},
        | "total_rows": 13, "n_shards": 2, "rows_per_shard": 7, "seed": 42}""".stripMargin)
    val m = Export.readManifest(d)
    assert((m.seed, m.rowsPerShard, m.nShards, m.totalRows) === ((42L, 7L, 2, 13L)))
    assert(m.shards === Seq((1, 7L), (0, 6L)))
    assert(m.checksums === Map(1 -> -4L))
    assert(m.lastBatch === -1L)
    val e = intercept[IllegalStateException] {
      put(d, "manifest.json", """{"seed": 1, "rows_per_shard": 2, "n_shards": 1}""")
      Export.readManifest(d)
    }
    assert(e.getMessage === "manifest missing total_rows")
  }

  test("bench prior detail: reordered keys, an escaped quote in the sf path, a decoy sf") {
    val d = tmpDir("json-bench")
    val sf = s"$d/sf \"0.1\""
    val p = Paths.get(d, "bench_detail.json")
    put(d, "bench_detail.json",
      s"""{"queries": {"q2_b": {"runs": [1.5], "sec": 1.5}, "q10_a": {"storage_mb": 0.0, "sec": 0.25},
        | "converter": {"sec": 9}}, "note": "\\"sf\\":\\"elsewhere\\"", "sf2": "x",
        | "sf": ${graft.Json.Mapper.writeValueAsString(sf)}, "metric": "total"}""".stripMargin)
    assert(Bench.priorSeconds(p, sf) === Map("q2_b" -> 1.5, "q10_a" -> 0.25))
    assert(Bench.priorSeconds(p, "elsewhere") === Map.empty)
    assert(Bench.priorSeconds(Paths.get(d, "missing.json"), sf) === Map.empty)
  }

  test("MG heavy-hitter head") {
    val d = stateDir("_mg_head.json")(Seq(("x", 1L)).toDF("term", "residual"))
    assert(Quality.readSketch(spark, d).count() === 1L)
  }

  test("count-min head") {
    val d = stateDir("_cms_head.json", """ "w": 4, "d": 2,""")(Seq(Seq.fill(8)(1L)).toDF("sk"))
    assert(Quality.readCmsSketch(spark, d).count() === 1L)
    // the shape check reads d and w, not the decoy's
    val e = intercept[IllegalArgumentException] {
      Quality.countMinIncrement(spark, d, Seq("a b").toDF("text"), "text", d = 9, w = 9, batchId = 6)
    }
    assert(e.getMessage.contains("state at " + d + " is 2x4"))
  }

  test("CDC head") {
    val d = stateDir("_cdc_head.json")(Seq((1L, "h")).toDF("id", "h"))
    val log = tmpDir("json-cdc-log")
    // batch 4 is at or below the committed last_batch_id 5: a no-op
    Quality.cdcAbsorb(spark, d, log, Seq((1L, "x")).toDF("id", "text"), "id", "text", batchId = 4)
    assert(!Files.exists(Paths.get(log, "batch_id=4")))
    assert(!Files.exists(Paths.get(d, "gen-4")))
  }

  test("recrawl head") {
    val d = stateDir("_rc_head.json")(Seq((1L, 1L, 0L, "h")).toDF("id", "n_obs", "n_changes", "last_hash"))
    assert(Robots.readRecrawlState(spark, d).count() === 1L)
  }

  test("ANN model manifest: reordered keys, a nested decoy, a missing field") {
    val d = tmpDir("json-model")
    val coarse = Array(Array(1.0, 2.0), Array(3.0, 4.0))
    val codebooks = Array(Array(Array(1.0), Array(2.0)), Array(Array(3.0), Array(4.0)))
    graft.operators.AnnModel.save(spark, d, coarse, codebooks)
    put(d, "manifest.json",
      """{"decoy": {"nlist": 99, "dims": 99, "num_subspaces": 99, "codebook_size": 99, "sub_dim": 99},
        | "note": "\"nlist\": 99", "sub_dim": 1, "codebook_size": 2, "num_subspaces": 2,
        | "dims": 2, "nlist": 2, "version": 1, "format": "graft-ann-model"}""".stripMargin)
    val m = graft.operators.AnnModel.load(spark, d)
    assert(m.coarse.map(_.toSeq).toSeq === coarse.map(_.toSeq).toSeq)
    put(d, "manifest.json", """{"dims": 2, "num_subspaces": 2, "codebook_size": 2, "sub_dim": 1}""")
    val e = intercept[IllegalArgumentException](graft.operators.AnnModel.load(spark, d))
    assert(e.getMessage.startsWith("requirement failed: AnnModel.load: manifest missing 'nlist'"))
  }

  test("artifact stamp: escaped quotes and backslashes round-trip; key order is free") {
    val conf = spark.sessionState.newHadoopConf()
    val d = tmpDir("json-stamp")
    val scheme = "bloom|note=\"quoted\"|path=a\\b"
    ArtifactStamp.write(d, conf, "_s.json", scheme)
    assert(ArtifactStamp.read(d, conf, "_s.json") === Some(scheme))
    ArtifactStamp.require(d, conf, "_s.json", scheme, "test index")
    put(d, "_t.json", """{"v": {"scheme": "decoy"}, "scheme": "mg|cap=\"8\"", "w": 1}""")
    assert(ArtifactStamp.read(d, conf, "_t.json") === Some("mg|cap=\"8\""))
    put(d, "_u.json", "not json")
    val e = intercept[IllegalStateException] {
      ArtifactStamp.require(d, conf, "_u.json", "x", "test index")
    }
    assert(e.getMessage.contains("was built with scheme '<unparseable>'"))
  }
}
