package graft.io

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.ReferenceSample
import graft.core.VectorRecord

/** Envelope parity against the reference's on-disk format
  * (FIXTURES.md §A1; writer /root/reference/src/vectordb.cpp:158-178). */
class EnvelopeSpec extends AnyFunSuite {

  private val refDb = ReferenceSample.committed

  test("load parses the reference sample db") {
    ReferenceSample.all.foreach { refDb =>
      withClue(s"$refDb: ") {
        val db = Envelope.load(refDb).get
        assert(db.dim == 2)
        assert(db.nextId == 5)
        assert(db.records.map(_.id) == Seq(1L, 2L, 3L, 4L))
        assert(db.records.head.embedding.toSeq == Seq(1.0f, 1.0f))
        // float32 artifacts narrow back exactly
        assert(db.records(1).embedding.toSeq == Seq(1.1f, 1.2f))
        assert(db.records.head.metadata == """{"name":"point_A"}""")
      }
    }
  }

  test("save round-trips the reference sample db byte-for-byte") {
    val db = Envelope.load(refDb).get
    val out = Files.createTempDirectory("env").resolve("rt.json").toString
    Envelope.save(db, out)
    val expected = Files.readString(Paths.get(refDb), StandardCharsets.UTF_8)
    val actual = Files.readString(Paths.get(out), StandardCharsets.UTF_8)
    assert(actual == expected)
    // the committed copy must be the reference's own file, byte for byte
    ReferenceSample.reference.foreach { ref =>
      assert(Files.mismatch(Paths.get(refDb), Paths.get(ref)) == -1L,
        s"(first differing byte) $refDb vs $ref")
    }
  }

  test("num matches nlohmann dump() byte-for-byte across its format regimes") {
    // expected strings produced by compiling the vendored json.hpp and
    // dumping each value (format_buffer rules: kMinExp=-4, kMaxExp=15)
    val cases = Seq(
      12345678.0 -> "12345678.0",
      1e7 -> "10000000.0",
      123456789012345.0 -> "123456789012345.0",
      1e15 -> "1e+15",
      1e20 -> "1e+20",
      0.0001 -> "0.0001",
      1e-5 -> "1e-05",
      0.00012345 -> "0.00012345",
      1.5e-7 -> "1.5e-07",
      3.4028234663852886e38 -> "3.4028234663852886e+38",
      1.100000023841858 -> "1.100000023841858",
      1.0 -> "1.0",
      -0.5 -> "-0.5",
      100.0 -> "100.0",
      0.1 -> "0.1",
      990000000000000.0 -> "990000000000000.0")
    cases.foreach { case (d, want) =>
      assert(Envelope.num(d) == want, s"for $d")
    }
  }

  test("missing file is a fresh start (None), matching vectordb.cpp:183-186") {
    assert(Envelope.load("/tmp/does_not_exist_graft.json").isEmpty)
  }

  test("malformed JSON throws, matching vectordb.cpp:191-194") {
    val p = Files.createTempDirectory("env").resolve("bad.json")
    Files.writeString(p, "{not json")
    assertThrows[Exception](Envelope.load(p.toString))
  }

  test("missing fields throw, matching vectordb.cpp:212-214") {
    val p = Files.createTempDirectory("env").resolve("missing.json")
    Files.writeString(p, """{"dim": 2}""")
    assertThrows[Exception](Envelope.load(p.toString))
  }

  test("empty db emits vectors: null like nlohmann (vectordb.cpp:162)") {
    // `json& j_vectors = j["vectors"]` stays null when nothing is pushed —
    // verified by running the compiled reference's init
    val out = Files.createTempDirectory("env").resolve("empty.json").toString
    Envelope.save(Envelope.Db(3, 1L, Seq.empty), out)
    val s = Files.readString(Paths.get(out))
    assert(s == "{\n  \"dim\": 3,\n  \"nextId\": 1,\n  \"vectors\": null\n}")
    val back = Envelope.load(out).get
    assert(back.dim == 3 && back.nextId == 1 && back.records.isEmpty)
  }

  test("arbitrary nested metadata round-trips semantically") {
    val meta = """{"b":[1,2.5,{"x":null}],"a":"s\"tr","c":true}"""
    val out = Files.createTempDirectory("env").resolve("meta.json").toString
    Envelope.save(Envelope.Db(1, 2L, Seq(VectorRecord(1L, Array(0.5f), meta))), out)
    val back = Envelope.load(out).get
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    assert(mapper.readTree(back.records.head.metadata) == mapper.readTree(meta))
  }

  test("saveDataset refuses an over-cap store with the parquet path named") {
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    val ds = Seq(
      VectorRecord(1L, Array(0.1f), "{}"),
      VectorRecord(2L, Array(0.2f), "{}"),
      VectorRecord(3L, Array(0.3f), "{}")).toDS()
    val out = Files.createTempDirectory("envcap").resolve("db.json").toString
    val e = intercept[IllegalArgumentException] {
      Envelope.saveDataset(1, 4L, ds, out, maxRows = 2L)
    }
    assert(e.getMessage.contains("envelope save refused") &&
      e.getMessage.contains("saveParquet"),
      s"refusal must name the scale path: ${e.getMessage}")
    assert(!Files.exists(Paths.get(out)), "a refused save must write nothing")
    // under the cap the same call succeeds
    Envelope.saveDataset(1, 4L, ds, out, maxRows = 3L)
    assert(Files.exists(Paths.get(out)))
  }
}
