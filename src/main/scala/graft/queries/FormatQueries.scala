package graft
package queries

import org.apache.spark.sql.functions._

import graft.core.VectorRecord
import graft.io.Envelope

import Fixtures._

/** Formats: ORC, CSV, XML, JSONL and envelope round-trips, and
  * partition-pruned event reads. */
object FormatQueries {
  private val declare = new Declared.Family("format")

  /** The one scratch dir of `tag` over `sfDir` in this process: work
    * a query may reuse across its runs (a format round-trip's written
    * files), removed with the other scratch dirs at exit. */
  private def processDir(tag: String, sfDir: String): String =
    scratchDirs.computeIfAbsent(s"${tag}_${dirKey(sfDir)}", _ => newScratch(tag)).toString

  /** The oracle shared by `orc_roundtrip`, `csv_roundtrip`. */
  private lazy val RoundtripOracleSql: String =
    s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
       |       CAST(sum(doc_id) AS BIGINT) AS id_sum,
       |       CAST(sum(n_chars) AS BIGINT) AS chars_sum,
       |       CAST(bit_xor(CAST(list_sum([(CAST(strpos('0123456789abcdef', md5(text)[i]) AS BIGINT) - 1)
       |                                   * (CAST(1 AS BIGINT) << (4*(8-i))) FOR i IN range(1, 9)]) AS BIGINT)) AS BIGINT) AS text_hash_xor
       |FROM documents""".stripMargin

  val declared: Seq[Declared] = Seq(
    // O8+O9 save/load: full envelope round-trip — corpus → reference
    // JSON envelope → back, then join against the original and count
    // any id/embedding mismatches (must be 0: float32→double→float32
    // widening is lossless).
    declare("envelope_roundtrip")((s, dir) => {
      import s.implicits._
      val orig = emb(s, dir)
        .select(col("vec_id").as("id"), col("embedding"),
          concat(lit("{\"label\": "), col("label"), lit("}")).as("metadata"))
        .as[VectorRecord]
      val tmp = scratchDir("env", dir)
      Envelope.saveDataset(EmbDim, orig.count() + 1, orig, s"$tmp/db.json")
      val (_, _, loaded) = Envelope.loadDataset(s, s"$tmp/db.json").get
      val joined = loaded.toDF("id", "embedding2", "metadata2")
        .join(orig.toDF(), "id")
      joined.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("embedding") =!= col("embedding2"), 1L).otherwise(0L)).as("n_mismatch"))
    })(
      """SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_mismatch
        |FROM embeddings""".stripMargin),

    // ORC sink/source roundtrip (the "other formats" row of SURVEY §2.4
    // — free via Spark's DataSource V2, demonstrated rather than
    // claimed): documents write to ORC and read back; the declared
    // output is an order-free content summary (counts, id/char sums,
    // xor of a 32-bit md5 deviate of the raw text) that the oracle
    // recomputes from the PARQUET original — any loss or corruption in
    // the ORC path breaks the hash match.
    declare("orc_roundtrip")((s, dir) => {
      val tmp = processDir("orcwork", dir) + "/docs"
      docs(s, dir).write.mode("overwrite").orc(tmp)
      s.read.orc(tmp)
        .withColumn("h",
          conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("doc_id")).cast("long").as("id_sum"),
          sum(col("n_chars")).cast("long").as("chars_sum"),
          expr("bit_xor(h)").as("text_hash_xor"))
    })(
      // Recomputed from the parquet original: equality proves the ORC
      // write+read preserved every row bit-for-bit (md5 of the raw text).
      RoundtripOracleSql),

    // Hive-style partitioned layout: write events partitioned by type
    // once per process, then read ONE partition back — the filter
    // becomes a PartitionFilter (directory pruning: 1/|types| of the
    // bytes ever read, the same lever the IVF layout uses for cluster
    // probes, here as a first-class relational surface). Plan-audited
    // in PlanAuditSpec; checksum recomputed by the oracle from the
    // unpartitioned original.
    declare("events_partitioned_prune")((s, dir) => {
      val tmp = processDir("evpart", dir) + "/events"
      // _SUCCESS (written last) gates reuse, so a crashed partial write
      // is re-done rather than read
      if (!new java.io.File(s"$tmp/_SUCCESS").exists()) {
        events(s, dir)
          .withColumn("ts_us", unix_micros(col("ts"))).drop("ts")
          .write.mode("overwrite").partitionBy("event_type").parquet(tmp)
      }
      // checksum sums micros-within-second, not raw epoch micros: a sum
      // of ~1.7e15-scale epochs overflows Long past ~5k rows (ANSI mode
      // faults) — caught at sf0.1, sf0.01 squeaked under Long.Max
      s.read.parquet(tmp)
        .filter(col("event_type") === "click")
        .agg(
          count(lit(1)).as("n_clicks"),
          sum(col("event_id")).cast("long").as("id_sum"),
          sum(col("ts_us") % 1000000L).cast("long").as("ts_sum"),
          sum(floor(col("value") * 1000).cast("long")).as("value_milli"))
    })(
      """SELECT CAST(count(*) AS BIGINT) AS n_clicks,
        |       CAST(sum(event_id) AS BIGINT) AS id_sum,
        |       CAST(sum(epoch_us(ts) % 1000000) AS BIGINT) AS ts_sum,
        |       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_milli
        |FROM events WHERE event_type = 'click'""".stripMargin),

    // CSV sink/source path (the interchange format the parquet-native
    // stack still meets at ingest boundaries): write with an explicit
    // escape discipline, read back with a declared schema (no inference
    // pass — at 100 TB schema inference is a full extra scan), then the
    // same content checksum as orc_roundtrip, recomputed by the oracle
    // from the parquet original — a lossy writer, reader, or null/empty
    // conflation would shift it.
    declare("csv_roundtrip")((s, dir) => {
      val tmp = processDir("csvwork", dir) + "/docs"
      // explicit RFC-4180 escape (doubled quotes) on BOTH sides plus a
      // multiLine read: the default reader splits records on raw
      // newlines, so any document containing '\n' would break the
      // roundtrip silently (the fixture gap CsvNewlineSpec pins)
      docs(s, dir).write.mode("overwrite")
        .option("header", "true").option("nullValue", "\\N")
        .option("escape", "\"")
        .csv(tmp)
      s.read.schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
        .option("header", "true").option("nullValue", "\\N")
        .option("escape", "\"").option("multiLine", "true")
        .csv(tmp)
        .withColumn("h",
          conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("doc_id")).cast("long").as("id_sum"),
          sum(col("n_chars")).cast("long").as("chars_sum"),
          expr("bit_xor(h)").as("text_hash_xor"))
    })(RoundtripOracleSql),

    // XML sink/source roundtrip (Spark 4 built-in xml datasource, the
    // spark-xml donation): events project to XML-safe scalars — the
    // double `value` quantizes to integer cents BEFORE the write so no
    // float ever round-trips through XML text formatting — written with
    // an explicit rowTag, read back with a DECLARED schema (no sampling
    // inference scan), and reduced to checksums the oracle replays from
    // the parquet the XML was derived from.
    declare("xml_roundtrip")((s, dir) => {
      val tmp = processDir("xmlwork", dir) + "/events"
      events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          floor(col("value") * 100.0 + 0.5).cast("long").as("value_cents"))
        .write.mode("overwrite")
        .option("rowTag", "event").option("rootTag", "events")
        .format("xml").save(tmp)
      s.read
        .schema("event_id BIGINT, user_id BIGINT, event_type STRING, value_cents BIGINT")
        .option("rowTag", "event")
        .format("xml").load(tmp)
        .withColumn("h",
          conv(substring(md5(col("event_type")), 1, 8), 16, 10).cast("long"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("event_id")).cast("long").as("id_sum"),
          sum(col("user_id")).cast("long").as("user_sum"),
          sum(col("value_cents")).cast("long").as("cents_sum"),
          expr("bit_xor(h)").as("type_hash_xor"))
    })(
      s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(sum(event_id) AS BIGINT) AS id_sum,
         |       CAST(sum(user_id) AS BIGINT) AS user_sum,
         |       CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS cents_sum,
         |       CAST(bit_xor(CAST(list_sum([(CAST(strpos('0123456789abcdef', md5(event_type)[i]) AS BIGINT) - 1)
         |                                   * (CAST(1 AS BIGINT) << (4*(8-i))) FOR i IN range(1, 9)]) AS BIGINT)) AS BIGINT) AS type_hash_xor
         |FROM events""".stripMargin),

    // Interchange-format round trip: embeddings → JSONL → back, then a
    // checksum the oracle recomputes from the source table — a lossy
    // writer, reader, or float re-parse would shift the sums.
    declare("emb_jsonl_roundtrip")((s, dir) => {
      import s.implicits._
      val src = emb(s, dir).select(col("vec_id").as("id"),
        col("embedding"), lit("""{"tag":"rt"}""").as("metadata"))
        .as[graft.core.VectorRecord]
      val out = artifactDir("jsonl_rt", dir)
      graft.io.Formats.writeJsonl(src, out)
      graft.io.Formats.readJsonl(s, out).toDF()
        .agg(count(lit(1)).as("n_rows"),
          sum(col("id")).cast("long").as("id_sum"),
          sum(size(col("embedding"))).cast("long").as("dims_total"),
          sum(floor(element_at(col("embedding"), 1).cast("double") * 1e6).cast("long")).as("first_dim_micro"))
    })(
      // the round trip must preserve every id and every float32 exactly
      """SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(vec_id) AS BIGINT) AS id_sum,
        |       CAST(sum(len(embedding)) AS BIGINT) AS dims_total,
        |       CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 1e6) AS BIGINT)) AS BIGINT) AS first_dim_micro
        |FROM embeddings""".stripMargin)
  )
}
