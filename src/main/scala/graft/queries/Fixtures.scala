package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The fixtures and oracle-SQL fragments more than one query family
  * uses: the driver tables, per-run scratch and build-once artifact
  * dirs, CDC stream replay, and the shared SQL twins of the distance
  * and text kernels. A helper only one family uses lives, private,
  * in that family's file. */
object Fixtures {
  /** Embedding dimensionality of the driver fixtures
    * (`embeddings.parquet`, FIXTURES.md §B1). */
  private[queries] val EmbDim = 64

  private[graft] def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** HNSW build params for the declared queries: `parts` DERIVED from
    * the corpus row count ([[graft.index.Hnsw.autoParts]]) instead of
    * hardcoded, so a 100× corpus automatically gets smaller shards
    * that stay under the scan split size (the probe-time part-count
    * check would otherwise fail loudly). The count is a parquet
    * metadata-only job. At the driver fixtures' sizes autoParts floors
    * at 4 — the engine's historical value, so layouts and hashes are
    * unchanged. */
  private[queries] def hnswParams(e: DataFrame): graft.index.Hnsw.Params =
    graft.index.Hnsw.Params(m = 8, efConstruction = 64,
      parts = graft.index.Hnsw.autoParts(e.count(), EmbDim, m = 8))

  private[queries] def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** Some fixture generations store `ts` as parquet TIMESTAMP(NANOS)
    * (which Spark 4 refuses by default — the nanosAsLong shim reads it
    * as a long), others as plain TIMESTAMP(MICROS) (which arrives as
    * TIMESTAMP_NTZ). Normalize either to a session-tz TIMESTAMP so
    * every downstream query sees one type. DuckDB reads both as the
    * same naive µs timestamp (ns truncate ≡ the integer division). */
  private[queries] def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    fixEventTs(s.read.parquet(s"$dir/events.parquet"))
  }

  /** ts normalization (ns-long → µs timestamp; NTZ → session-tz
    * timestamp, an identity instant under the pinned UTC session),
    * shared by the batch reader, the streaming replay, and ScaleProbe
    * so the conversion can never diverge. */
  private[graft] def fixEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  /** TPC-H-style star-schema table (ms timestamps — no nanos shim
    * needed, unlike `events`). */
  private[queries] def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Left-associative squared-L2 sum over explicit 1-based SQL array
    * indexes — bit-identical to Distances.l2Sq's fold. */
  private[queries] def l2SqSql(a: String, b: String, dim: Int = EmbDim): String =
    (1 to dim)
      .map(i => s"(CAST($a[$i] AS DOUBLE) - CAST($b[$i] AS DOUBLE)) * (CAST($a[$i] AS DOUBLE) - CAST($b[$i] AS DOUBLE))")
      .mkString(" + ")

  /** Left-associative dot product over explicit 1-based SQL indexes —
    * bit-identical to Distances.dot's fold. */
  private[queries] def dotSql(a: String, b: String, dim: Int = EmbDim): String =
    (1 to dim)
      .map(i => s"(CAST($a[$i] AS DOUBLE) * CAST($b[$i] AS DOUBLE))")
      .mkString(" + ")

  /** Binary-signature CTEs shared by the knn_hamming_* oracles:
    * per-dimension MIDRANGE thresholds (order-independent min/max —
    * bit-identical to [[graft.index.Binary.fitThresholds]] under any
    * partitioning), the bit_or signature build, and the query row's
    * signature. The sign bit is special-cased: DuckDB's checked `<<`
    * overflows at shift 63, so bit 64 is the BIGINT min literal. */
  private[queries] def hammingSigCtes: String =
    s"""thr AS MATERIALIZED (
       |  SELECT u.i AS i,
       |    (CAST(min(e.embedding[u.i]) AS DOUBLE) + CAST(max(e.embedding[u.i]) AS DOUBLE)) / 2.0 AS t
       |  FROM embeddings e, unnest(range(1, ${EmbDim + 1})) AS u(i) GROUP BY u.i),
       |sigs AS MATERIALIZED (
       |  SELECT e.vec_id,
       |    bit_or(CASE WHEN CAST(e.embedding[t.i] AS DOUBLE) > t.t
       |           THEN (CASE WHEN t.i - 1 = 63 THEN (-9223372036854775807 - 1)
       |                 ELSE (CAST(1 AS BIGINT) << (t.i - 1)) END)
       |           ELSE CAST(0 AS BIGINT) END) AS sig
       |  FROM embeddings e, thr t GROUP BY e.vec_id),
       |qs AS (SELECT sig AS qsig FROM sigs WHERE vec_id = 0)""".stripMargin

  /** DuckDB normalization/tokenization identical to
    * TextAnalysis.normalizeText / tokens (note the 'g' flag — DuckDB
    * regexp_replace is first-match-only by default). */
  private[queries] val NormSql = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"

  private[queries] val ToksSql = s"string_split($NormSql, ' ')"

  /** The lang-id kernel's five per-language scores over a `toks` word
    * list and a `norm` string, as SELECT columns `score_en` … `score_zh`
    * (the SQL twin of `TextAnalysis.langScores`). */
  private[queries] val LangScoresSql: String =
    s"""CAST(len(list_filter(toks, x -> x IN ('the','and','of','is','with'))) AS BIGINT) AS score_en,
       |  CAST(len(list_filter(toks, x -> x IN ('el','la','de','que','con'))) AS BIGINT) AS score_es,
       |  CAST(len(list_filter(toks, x -> x IN ('der','die','und','ist','mit'))) AS BIGINT) AS score_de,
       |  CAST(len(list_filter(toks, x -> x IN ('le','la','et','est','avec'))) AS BIGINT) AS score_fr,
       |  CAST(length(norm) - length(regexp_replace(norm, '[\\x{4e00}-\\x{9fff}]', '', 'g')) AS BIGINT) AS score_zh""".stripMargin

  /** The language a row's [[LangScoresSql]] columns pick: `'und'` when
    * every score is 0, else the first of en, es, de, fr, zh with the
    * top score. */
  private[queries] val LangCaseSql: String =
    """CASE WHEN greatest(score_en, score_es, score_de, score_fr, score_zh) <= 0 THEN 'und'
      |       WHEN score_en = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'en'
      |       WHEN score_es = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'es'
      |       WHEN score_de = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'de'
      |       WHEN score_fr = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'fr'
      |       ELSE 'zh' END""".stripMargin

  /** Oracle CTE chain replaying [[graft.text.LogReg]]'s full-batch GD:
    * the data-derived top-`vocabK` vocabulary, the (bias + relative
    * frequency) feature table, then `iters` unrolled weight layers —
    * each one gradient aggregate (per-row contributions floored to
    * micro-Longs BEFORE the sum, so the reduction is exact integer
    * arithmetic) and one truncating-division update (DuckDB `//` and
    * Scala Long `/` both round toward zero). z accumulates strictly
    * left-to-right in ascending feature order on both engines; the
    * rational sigmoid is pure +,×,/,abs — no libm variance. Layers
    * and the feature table are MATERIALIZED (multi-referenced CTE
    * discipline). Ends with `w<iters>` in scope. */
  private[queries] def lrOracleCtes(
      iters: Int, vocabK: Int, labelLang: String,
      lrNum: Long, lrDen: Long): String = {
    val dim = vocabK + 1
    val xs = (0 until dim).map(j => f"x$j%02d")
    val ws = (0 until dim).map(j => f"w$j%02d")
    val gs = (0 until dim).map(j => f"g$j%02d")
    val featExprs = (1 to vocabK).map { j =>
      s"(10.0 * CAST(coalesce(sum(CASE WHEN c.fidx = $j THEN c.cnt END), 0) AS DOUBLE))" +
        s" / CAST(max(len(t.toks)) AS DOUBLE) AS ${xs(j)}"
    }.mkString(",\n|     ")
    val zSum = (0 until dim).map(j => s"(${ws(j)} / 1000000.0) * ${xs(j)}").mkString(" + ")
    val sb = new StringBuilder
    sb ++= s"""t AS (SELECT doc_id, lang, $ToksSql AS toks FROM documents),
       |vc AS (SELECT tok, CAST(count(*) AS BIGINT) AS c
       |       FROM t, unnest(toks) AS u(tok) GROUP BY 1),
       |vocab AS MATERIALIZED (
       |  SELECT tok, CAST(row_number() OVER (ORDER BY c DESC, tok) AS INT) AS fidx
       |  FROM vc ORDER BY c DESC, tok LIMIT $vocabK),
       |cnts AS (SELECT dt.doc_id, v.fidx, CAST(count(*) AS BIGINT) AS cnt
       |         FROM (SELECT doc_id, unnest(toks) AS tok FROM t) dt
       |         JOIN vocab v USING (tok) GROUP BY 1, 2),
       |f AS MATERIALIZED (
       |  SELECT t.doc_id,
       |     CASE WHEN max(t.lang) = '$labelLang' THEN 1.0 ELSE 0.0 END AS y,
       |     1.0 AS x00,
       |     $featExprs
       |  FROM t LEFT JOIN cnts c USING (doc_id) GROUP BY t.doc_id),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f),
       |w0 AS MATERIALIZED (SELECT ${ws.map(w => s"CAST(0 AS BIGINT) AS $w").mkString(", ")}),
       |""".stripMargin
    for (k <- 1 to iters) {
      val gCols = (0 until dim).map { j =>
        s"CAST(sum(CAST(floor(1000000.0 * ((y - p) * ${xs(j)})) AS BIGINT)) AS BIGINT) AS ${gs(j)}"
      }.mkString(", ")
      val wCols = (0 until dim).map { j =>
        s"${ws(j)} + ($lrNum * ${gs(j)}) // ($lrDen * n) AS ${ws(j)}"
      }.mkString(", ")
      sb ++= s"g$k AS (SELECT $gCols\n"
      sb ++= s"  FROM (SELECT q.*, 0.5 + (0.5 * (z / (1.0 + abs(z)))) AS p\n"
      sb ++= s"        FROM (SELECT f.*, $zSum AS z FROM f CROSS JOIN w${k - 1}) q) r),\n"
      sb ++= s"w$k AS MATERIALIZED (SELECT $wCols FROM w${k - 1} CROSS JOIN g$k CROSS JOIN nn)"
      sb ++= (if (k < iters) ",\n" else "\n")
    }
    sb.toString
  }

  /** The same substring oracle over an arbitrary (doc_id, text)
    * relation — `stream_substring_append` passes the base ∪ planted
    * union. */
  private[queries] def substringSqlOver(src: String): String =
    s"""WITH t AS (SELECT doc_id, $NormSql AS n FROM $src)
       |SELECT doc_id,
       |       CAST((len(n) - len(replace(n, 'merge batch', ''))) // 11 AS BIGINT) AS n_hits
       |FROM t WHERE contains(n, 'merge batch')
       |ORDER BY doc_id""".stripMargin

  /** The same phrase oracle over an arbitrary (doc_id, text) relation —
    * `stream_phrase_append` passes the base ∪ planted union so the
    * delta-aware probe is checked against a from-scratch definition. */
  private[queries] def phraseSqlOver(src: String): String =
    s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM $src),
       |occ AS (SELECT doc_id,
       |          CAST(len([i FOR i IN range(1, len(toks))
       |                    IF toks[i] = 'hash' AND toks[i+1] = 'join']) AS BIGINT)
       |            AS n_occurrences
       |        FROM t)
       |SELECT doc_id, n_occurrences FROM occ
       |WHERE n_occurrences > 0 ORDER BY doc_id""".stripMargin

  /** The BM25 oracle over an arbitrary (doc_id, text) relation —
    * `stream_bm25_append` passes the base ∪ planted union so the
    * delta-aware probe is scored against a from-scratch definition. */
  private[queries] def bm25SqlOver(src: String, topN: Int): String =
    s"""WITH d AS (SELECT doc_id, len($ToksSql) AS dl, $ToksSql AS toks FROM $src),
       |occ AS (SELECT doc_id, dl, tok AS token, CAST(count(*) AS BIGINT) AS tf
       |        FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM d)
       |        WHERE tok IN ('spark', 'join', 'merge', 'window')
       |        GROUP BY 1, 2, 3),
       |dft AS (SELECT token, CAST(count(*) AS BIGINT) AS dft FROM occ GROUP BY 1),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM d),
       |comp AS (SELECT doc_id,
       |           CAST(floor((ln(1.0 + (CAST(n_docs - dft AS DOUBLE) + 0.5) / (CAST(dft AS DOUBLE) + 0.5))
       |             * ((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 1.2
       |                 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))))
       |             * 1e6) AS BIGINT) AS comp
       |         FROM occ JOIN dft USING (token), st)
       |SELECT doc_id, CAST(sum(comp) AS BIGINT) AS bm25_micro, CAST(count(*) AS BIGINT) AS n_terms
       |FROM comp GROUP BY 1 ORDER BY bm25_micro DESC, doc_id LIMIT $topN""".stripMargin

  /** Scratch directories for queries that must materialize through
    * disk (streaming sinks and checkpoints, store copies, envelope
    * files), keyed by tag + dataset. Every dir is a fresh temp dir, so
    * concurrent processes never share one. [[scratchDir]] hands out a
    * new dir per run and deletes the same key's PREVIOUS dir — safe
    * because by then its contents have been fully consumed (Verify
    * writes the returned DataFrame to parquet and Bench noop-saves it
    * before the query is ever re-invoked); [[processDir]] hands out
    * one dir per process. A JVM shutdown hook removes whatever is
    * left, so neither repeated bench warm runs nor exited processes
    * leave corpus-sized temp trees behind. Concurrent use of the SAME
    * key is the caller's race, not supported; distinct keys never
    * interact. */
  private[queries] val scratchDirs =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  sys.addShutdownHook(scratchDirs.values.forEach(graft.io.MutableStore.deleteDir(_)))

  /** Stable per-dataset key: md5 of the FULL dir path — String.hashCode
    * can collide across dataset dirs, silently churning (or
    * cross-reading) a store built for different data. */
  private[queries] def dirKey(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString

  private[queries] def scratchDir(tag: String, sfDir: String): String = {
    val fresh = newScratch(tag)
    val prev = scratchDirs.put(s"${tag}_${dirKey(sfDir)}", fresh)
    if (prev != null) graft.io.MutableStore.deleteDir(prev)
    fresh.toString
  }

  /** The dir name carries the tag only, not the dataset key: Spark
    * abbreviates a scan's `Location` to 100 characters in the plan
    * text, so a longer scratch path would change the plan fingerprints
    * Bench records for the queries that read from scratch. */
  private[queries] def newScratch(tag: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(s"graft_$tag")

  /** Build-once artifact dir of `kind` over one dataset, shared by
    * every query and process: `<java.io.tmpdir>/graft_<kind>_<key>`.
    * Kept across runs on purpose — the seeded builds make rebuilds
    * identical, so bench iterations and verify reruns reuse the files;
    * build races between processes are serialized by
    * [[graft.io.Artifact.ensure]]'s dir lock. */
  private[graft] def artifactDir(kind: String, sfDir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_${kind}_${dirKey(sfDir)}"

  /** A fresh [[scratchDir]] holding a file copy of the build-once
    * `seed` at `<scratch>/<sub>`, for queries that MUTATE their store:
    * each run works on its own copy while the cached original stays
    * the pristine seed. Returns (scratch, copy). */
  private[queries] def seedCopy(tag: String, sfDir: String, seed: String,
      sub: String): (String, String) = {
    val scratch = scratchDir(tag, sfDir)
    val copy = s"$scratch/$sub"
    graft.io.MutableStore.copyDir(
      java.nio.file.Paths.get(seed), java.nio.file.Paths.get(copy))
    (scratch, copy)
  }

  /** The embedding of vector `id` — the probe of most vector queries
    * (one bounded head() action). */
  private[queries] def vecOf(corpus: DataFrame, id: Long): Array[Float] =
    corpus.filter(col("vec_id") === id)
      .select(col("embedding")).head().getSeq[Float](0).toArray

  /** Stages a CDC replay's micro-batches under `<scratch>/in`
    * ([[writeBatchInputs]]) and opens the file stream over them with
    * the first batch's schema, one file — one micro-batch — per
    * trigger. */
  private[queries] def replayStream(s: SparkSession, scratch: String,
      batches: Seq[DataFrame]): DataFrame = {
    val inDir = s"$scratch/in"
    writeBatchInputs(inDir, batches)
    s.readStream.schema(batches.head.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
  }

  /** Awaits a started streaming query and records its measured state
    * bound under `name`: peak rows-in-state across micro-batches
    * (summed over the query's stateful operators). The bench emits
    * these per round so the claimed watermark bounds are observed
    * numbers, not a one-time spec assertion — unbounded state growth
    * would show up here long before it OOMs a 100 TB deployment. */
  private[queries] def awaitStream(name: String,
      q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    q.awaitTermination()
    val peak = q.recentProgress.iterator
      .map(_.stateOperators.map(_.numRowsTotal).sum)
      .foldLeft(0L)(math.max)
    streamStateRows.merge(name, peak, (a: Long, b: Long) => math.max(a, b))
  }

  /** Peak state-store rows per streaming query, recorded by
    * [[awaitStream]] — the max over every run (and, for a query that
    * restarts from its checkpoint, every restart) in this process —
    * surfaced in the bench detail (`stream_state`). */
  val streamStateRows =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** Write a CDC replay's micro-batch input files in ONE overlapped
    * pass instead of N serial single-file write jobs: each batch writes
    * concurrently into its own staging dir (independent jobs — the
    * guide's job-overlap device), then the single part files are moved
    * into `inDir` under ascending names (`b00.parquet`, `b01…`) with
    * strictly ascending modification times (2 s apart), so the file
    * stream source's batch ORDER — the CDC semantics — is preserved
    * whichever of (modTime, path) it sorts by. */
  private def writeBatchInputs(inDir: String, batches: Seq[DataFrame]): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val stage = s"${inDir}_stage"
    val futs = batches.zipWithIndex.map { case (df, i) =>
      Future(df.coalesce(1).write.mode("overwrite").parquet(s"$stage/$i"))
    }
    futs.foreach(Await.result(_, Duration.Inf))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
    val t0 = System.currentTimeMillis() - 2000L * (batches.size + 1)
    batches.indices.foreach { i =>
      val part = new java.io.File(s"$stage/$i").listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(
          s"no part file staged for batch $i under $stage"))
      val dst = java.nio.file.Paths.get(inDir, f"b$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(t0 + 2000L * i))
    }
    graft.io.MutableStore.deleteDir(java.nio.file.Paths.get(stage))
  }
}
