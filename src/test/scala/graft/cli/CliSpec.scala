package graft.cli

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.scalatest.funsuite.AnyFunSuite

import graft.{ReferenceSample, SparkTestSession}

class CliSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def captureOut(body: => Int): (Int, String) = {
    val bos = new ByteArrayOutputStream()
    val code = Console.withOut(new PrintStream(bos, true, "UTF-8")) {
      val old = System.out
      System.setOut(new PrintStream(bos, true, "UTF-8"))
      try body finally System.setOut(old)
    }
    (code, bos.toString("UTF-8"))
  }

  // the CLI mirrors the reference's path semantics: the on-disk file is
  // <path>.json (vectordb.cpp:10), so pass the path WITHOUT the suffix
  private def tmpDb(): String =
    Files.createTempDirectory("graft_cli").resolve("db").toString

  test("search over the reference sample db prints the verified fixture bytes") {
    // FIXTURES §A2 [verified against the compiled reference]:
    // query (1.0,1.05) k=2 → "- ID: 1, Dist: 0.05" / "- ID: 2, Dist: 0.180278"
    ReferenceSample.all.foreach { sample =>
      withClue(s"$sample: ") {
        val db = tmpDb()
        Files.copy(Paths.get(sample), Paths.get(db + ".json"),
          StandardCopyOption.REPLACE_EXISTING)
        val (code, out) = captureOut(Cli.run(spark, Array(db, "search", "2", "1.0,1.05")))
        assert(code == 0)
        assert(out ==
          "Search results (ID, Distance):\n- ID: 1, Dist: 0.05\n- ID: 2, Dist: 0.180278\n")
      }
    }
  }

  test("full lifecycle: init → add → get → update → delete with reference messages") {
    val db = tmpDb()
    val (c1, o1) = captureOut(Cli.run(spark, Array(db, "init", "2")))
    assert(c1 == 0 && o1 == s"Database initialized at '$db' with dimension 2\n")

    val (c2, o2) = captureOut(Cli.run(spark, Array(db, "add", "1.0,2.0", """{"tag": "a"}""")))
    assert(c2 == 0 && o2 == "Vector added with ID: 1. Run 'rebuild' to index.\n")

    val (c3, o3) = captureOut(Cli.run(spark, Array(db, "get", "1")))
    assert(c3 == 0)
    assert(o3 == "ID: 1\nMetadata: {\n  \"tag\": \"a\"\n}\nVector: [1, 2]\n")

    val (c4, o4) = captureOut(Cli.run(spark, Array(db, "update", "1", "3.0,4.0", """{"tag": "b"}""")))
    assert(c4 == 0 && o4 == "Vector 1 updated. Run 'rebuild' to update index.\n")

    val (c5, o5) = captureOut(Cli.run(spark, Array(db, "delete", "1")))
    assert(c5 == 0 && o5 == "Vector 1 deleted. Run 'rebuild' to update index.\n")

    // miss after delete: error to stderr, exit 0 (reference falls through)
    val (c6, o6) = captureOut(Cli.run(spark, Array(db, "get", "1")))
    assert(c6 == 0 && o6.isEmpty)
  }

  test("init refuses an existing file; dim mismatch and unknown command error") {
    val db = tmpDb()
    assert(Cli.run(spark, Array(db, "init", "2")) == 0)
    assert(Cli.run(spark, Array(db, "init", "2")) == 1)
    assert(Cli.run(spark, Array(db, "add", "1.0,2.0,3.0", "{}")) == 1)
    assert(Cli.run(spark, Array(db, "frobnicate")) == 1)
    assert(Cli.run(spark, Array(db)) == 1)
  }

  test("cppNum matches C++ default float formatting") {
    assert(Cli.cppNum(0.05000000074505806) == "0.05")
    assert(Cli.cppNum(0.18027755737304688) == "0.180278")
    assert(Cli.cppNum(1.0) == "1")
    assert(Cli.cppNum(1.100000023841858) == "1.1")
    // %g switches to scientific at exponent 6 even for integral values
    // (verified against the compiled reference: 15000000.0f → "1.5e+07")
    assert(Cli.cppNum(15000000.0) == "1.5e+07")
    assert(Cli.cppNum(1000000.0) == "1e+06")
    assert(Cli.cppNum(999999.0) == "999999")
  }

  test("dedup removes exact-duplicate vectors, keeps the lowest id, persists") {
    val db = tmpDb()
    assert(Cli.run(spark, Array(db, "init", "2")) == 0)
    assert(Cli.run(spark, Array(db, "add", "1.0,2.0", "{}")) == 0) // id 1
    assert(Cli.run(spark, Array(db, "add", "3.0,4.0", "{}")) == 0) // id 2
    assert(Cli.run(spark, Array(db, "add", "1.0,2.0", "{}")) == 0) // id 3 (dup of 1)
    assert(Cli.run(spark, Array(db, "add", "1.0,2.0", "{}")) == 0) // id 4 (dup of 1)
    val (cd, od) = captureOut(Cli.run(spark, Array(db, "dedup")))
    assert(cd == 0 && od == "Removed 2 duplicate vectors. Run 'rebuild' to index.\n")
    // the survivors are persisted: lowest id kept, duplicates gone
    val (c1, o1) = captureOut(Cli.run(spark, Array(db, "get", "1")))
    assert(c1 == 0 && o1.startsWith("ID: 1\n"))
    val (c3, o3) = captureOut(Cli.run(spark, Array(db, "get", "3")))
    assert(c3 == 0 && o3.isEmpty) // miss goes to stderr
    // idempotent: a second pass removes nothing
    val (cd2, od2) = captureOut(Cli.run(spark, Array(db, "dedup")))
    assert(cd2 == 0 && od2 == "Removed 0 duplicate vectors. Run 'rebuild' to index.\n")
  }

  test("search --approx routes through the selector and matches exact output") {
    val db = tmpDb()
    assert(Cli.run(spark, Array(db, "init", "4")) == 0)
    // build an 80-row store directly (80 CLI adds would dominate the
    // suite); five exact copies of the query vector are planted, so the
    // dist-0 top-6 is a guaranteed candidate set under EVERY selector
    // config (identical hashes / same nearest centroid) — the approx
    // output must equal the exact scan's bytes regardless of which
    // config the measured frontier picks
    val store = graft.ops.VectorStore.load(spark, db + ".json")
    val rnd = new scala.util.Random(7)
    val base = Seq.fill(75)((Array.fill(4)(rnd.nextFloat()), "{}"))
    store.addBatch(base)
    store.addBatch(Seq.fill(5)((base.head._1.clone(), "{}")))
    store.save(db + ".json")
    val qstr = base.head._1.mkString(",")
    val (ce, oe) = captureOut(Cli.run(spark, Array(db, "search", "6", qstr)))
    val (ca, oa) = captureOut(Cli.run(spark, Array(db, "search", "--approx", "6", qstr)))
    assert(ce == 0 && ca == 0)
    assert(oe.linesIterator.size == 7) // header + 6 results
    assert(oa == oe, s"approx output diverged:\n$oa\nvs exact:\n$oe")
  }

  test("search --approx survives a store whose low ids were deleted") {
    val db = tmpDb()
    assert(Cli.run(spark, Array(db, "init", "4")) == 0)
    val store = graft.ops.VectorStore.load(spark, db + ".json")
    val rnd = new scala.util.Random(11)
    val base = Seq.fill(75)((Array.fill(4)(rnd.nextFloat()), "{}"))
    store.addBatch(base) // ids 1..75
    store.addBatch(Seq.fill(5)((base.last._1.clone(), "{}"))) // dist-0 copies
    (1L to 12L).foreach(store.delete) // churn: the low ids are gone
    store.save(db + ".json")
    val qstr = base.last._1.mkString(",")
    val (ce, oe) = captureOut(Cli.run(spark, Array(db, "search", "6", qstr)))
    val (ca, oa) = captureOut(Cli.run(spark, Array(db, "search", "--approx", "6", qstr)))
    assert(ce == 0 && ca == 0)
    assert(oa == oe, s"approx output diverged after id churn:\n$oa\nvs exact:\n$oe")
  }

  test("search --approx on a tiny store falls back to the exact scan") {
    val db = tmpDb()
    assert(Cli.run(spark, Array(db, "init", "2")) == 0)
    assert(Cli.run(spark, Array(db, "add", "1.0,2.0", "{}")) == 0)
    assert(Cli.run(spark, Array(db, "add", "5.0,6.0", "{}")) == 0)
    val (ca, oa) = captureOut(Cli.run(spark, Array(db, "search", "--approx", "1", "1.0,2.1")))
    assert(ca == 0)
    // (2.1f − 2.0f)² ≈ 0.00999998 → √ prints as 0.0999999 under %g6
    assert(oa == "Search results (ID, Distance):\n- ID: 1, Dist: 0.0999999\n")
    // malformed arity still errors like plain search
    assert(Cli.run(spark, Array(db, "search", "--approx", "1")) == 1)
  }
}
