package graft
package queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

import Fixtures._

/** Media: decode and resize statistics, image features and dHash, audio
  * fingerprints, and the near-duplicate passes over each. */
object MediaQueries {
  private val declare = new Declared.Family("media")

  /** Deterministic synthetic media corpus: 200 REAL minimal files built
    * by [[graft.multimodal.MediaCodecs]] — JPEG and PNG stills
    * (alternating), PCM WAV audio, and MJPEG multi-frame video, with
    * dimensions / channel counts / frame counts derived from the row id.
    * The decode side re-extracts those values by parsing the actual
    * container headers (SOF0 / IHDR+CRC / RIFF chunks / marker walk),
    * and `oracleSql("media_decode_stats")` recomputes the expected
    * values from the same id arithmetic — so the oracle check proves
    * the header WRITER and PARSER agree through real byte formats (an
    * endianness or offset bug on either side breaks the hash match). */
  private def mediaFixture(s: SparkSession): org.apache.spark.sql.Dataset[graft.multimodal.Multimodal.MediaRecord] = {
    import s.implicits._
    import graft.multimodal.{MediaCodecs, Multimodal}
    val meta = """{"src":"synthetic"}"""
    s.range(200).map { id =>
      val w = 64 + (id * 13 % 960).toInt
      val h = 64 + (id * 7 % 540).toInt
      (id % 3) match {
        case 0 =>
          val bytes = if ((id / 3) % 2 == 0) MediaCodecs.jpegBytes(w, h)
                      else MediaCodecs.pngBytes(w, h)
          Multimodal.MediaRecord(id, "image", bytes, meta)
        case 1 =>
          val channels = 1 + (id % 2).toInt
          val audioFrames = 100 + (id % 400).toInt
          Multimodal.MediaRecord(id, "audio",
            MediaCodecs.wavBytes(channels, 8000, 16, audioFrames), meta)
        case _ =>
          val videoFrames = 1 + (id % 5).toInt
          Multimodal.MediaRecord(id, "video",
            MediaCodecs.mjpegBytes(w, h, videoFrames), meta)
      }
    }
  }

  /** Deterministic media-features corpus: 100 REAL P6 rasters with
    * id-parameterized arithmetic pixels — ids 80–99 near-duplicate ids
    * 0–19 (same raster with a +1 red bump, the visual-near-dup plant) —
    * and 100 REAL mono 16-bit PCM WAVs with id-parameterized sample
    * values. [[graft.multimodal.Multimodal.extractFeatures]] does actual
    * pixel / PCM arithmetic on these bytes, and the oracle SQL replays
    * the identical integer arithmetic from the id formulas, so the
    * feature path (build → container parse → subsample / frame stats)
    * is hash-pinned end to end. */
  private def mediaFeatFixture(s: SparkSession): org.apache.spark.sql.Dataset[graft.multimodal.Multimodal.MediaRecord] = {
    import s.implicits._
    import graft.multimodal.{MediaCodecs, Multimodal}
    s.range(200).map { id =>
      if (id < 100) {
        val base = (if (id < 80) id.toLong else id - 80).toInt
        val bump = if (id < 80) 0 else 1
        val w = 8 + base % 23
        val h = 8 + base % 19
        val a = 5 + base % 11
        val bmul = 7 + base % 13
        Multimodal.MediaRecord(id, "image",
          MediaCodecs.ppmBytes(w, h, (x, y) =>
            ((a * x + bmul * y + 3 * base) % 251 + bump,
             (bmul * x + a * y + 5 * base) % 241,
             ((a + bmul) * x + 2 * base) % 239)),
          """{"fmt":"ppm"}""")
      } else {
        val n = 120 + (id % 80).toInt
        val samples = Array.tabulate(n)(i => (((i * 37L + id * 101L) % 4001L) - 2000L).toShort)
        Multimodal.MediaRecord(id, "audio",
          MediaCodecs.wavPcmBytes(8000, samples), """{"fmt":"wav"}""")
      }
    }
  }

  /** Deterministic audio-fingerprint corpus: 100 REAL mono 16-bit PCM
    * WAVs with id-parameterized sample values — ids 80–99 are ids 0–19
    * at DOUBLE volume (every sample ×2; |s| ≤ 1500 so 16-bit never
    * clips), the loudness-normalized-duplicate plant. The oracle
    * replays the identical integer sample/energy arithmetic from the
    * id formulas. */
  private def audioFpFixture(s: SparkSession): org.apache.spark.sql.Dataset[graft.multimodal.Multimodal.MediaRecord] = {
    import s.implicits._
    import graft.multimodal.{MediaCodecs, Multimodal}
    s.range(100).map { id =>
      val base = (id % 80L).toInt // ids 80–99 clone ids 0–19
      val vol = if (id < 80) 1 else 2
      val n = 150 + base % 60
      val samples = Array.tabulate(n)(j =>
        (vol * (((j * 37L + base * 101L) % 3001L) - 1500L)).toShort)
      Multimodal.MediaRecord(id, "audio",
        MediaCodecs.wavPcmBytes(8000, samples), """{"fmt":"wav"}""")
    }
  }

  /** One image-feature dimension of the media-features oracle: dim `d`
    * (0–47, row-major cell-y/cell-x/channel) sampled at the
    * resizePpmNearest floor map sx = cx·w//4, sy = cy·h//4, replaying
    * [[mediaFeatFixture]]'s pixel-channel formulas. References columns
    * media_id/base/bump/w/h/a/bm of the `ic` CTE and the comprehension
    * variable `d`. */
  /** CTE chain replaying [[graft.multimodal.Multimodal.dHash]] from the
    * media-features fixture's id-parameterized pixel formulas: the 9×8
    * nearest-neighbor gray-sum grid, the 64 row-adjacent comparisons,
    * and the HUGEINT→signed-BIGINT bit accumulation (bit 63 is the Long
    * sign bit — the established SimHash-oracle device). Ends with
    * `dh(media_id, w, h, dhash)`. */
  private val DHashCteSql =
    """ip AS (SELECT i AS media_id,
      |         CASE WHEN i < 80 THEN i ELSE i - 80 END AS base,
      |         CASE WHEN i < 80 THEN 0 ELSE 1 END AS bump
      |       FROM range(100) t(i)),
      |ic AS (SELECT media_id, base, bump,
      |         8 + base % 23 AS w, 8 + base % 19 AS h,
      |         5 + base % 11 AS a, 7 + base % 13 AS bm
      |       FROM ip),
      |gr AS (SELECT media_id, gx, gy,
      |         (a*((gx*w)//9) + bm*((gy*h)//8) + 3*base) % 251 + bump
      |       + (bm*((gx*w)//9) + a*((gy*h)//8) + 5*base) % 241
      |       + ((a+bm)*((gx*w)//9) + 2*base) % 239 AS gray
      |       FROM ic, range(9) xs(gx), range(8) ys(gy)),
      |bt AS (SELECT l.media_id, l.gy*8 + l.gx AS bit
      |       FROM gr l JOIN gr r ON r.media_id = l.media_id
      |         AND r.gy = l.gy AND r.gx = l.gx + 1
      |       WHERE l.gx < 8 AND r.gray > l.gray),
      |hv AS (SELECT media_id, sum(CAST(1 AS HUGEINT) << bit) AS s
      |       FROM bt GROUP BY 1),
      |dh AS (SELECT ic.media_id, ic.w, ic.h,
      |         CAST(CASE WHEN coalesce(hv.s, 0) < 9223372036854775808
      |              THEN coalesce(hv.s, 0)
      |              ELSE coalesce(hv.s, 0) - 18446744073709551616 END
      |           AS BIGINT) AS dhash
      |       FROM ic LEFT JOIN hv USING(media_id))""".stripMargin

  /** CTE chain replaying [[graft.multimodal.Multimodal.audioFingerprint]]
    * from the audio-fingerprint fixture's id-parameterized PCM formulas:
    * per-clip sample list, 65 frame-energy slices (1-based INCLUSIVE
    * `list_slice` = the kernel's `[f·n/65, (f+1)·n/65)` window), 64
    * adjacent comparisons, HUGEINT→signed-BIGINT packing. Ends with
    * `afp(media_id, n, fp)`. */
  private val AudioFpCteSql =
    """ap AS (SELECT i AS media_id,
      |         CASE WHEN i < 80 THEN i ELSE i - 80 END AS base,
      |         CASE WHEN i < 80 THEN 1 ELSE 2 END AS vol
      |       FROM range(100) t(i)),
      |sm AS (SELECT media_id, 150 + base % 60 AS n,
      |         [ vol * (((j*37 + base*101) % 3001) - 1500)
      |           FOR j IN range(0, 150 + base % 60) ] AS smp
      |       FROM ap),
      |en AS (SELECT media_id, n,
      |         [ list_sum([abs(x) FOR x IN
      |             list_slice(smp, (f*n)//65 + 1, ((f+1)*n)//65)])
      |           FOR f IN range(0, 65) ] AS e
      |       FROM sm),
      |ahv AS (SELECT media_id, n,
      |          list_sum([ CASE WHEN e[f+2] > e[f+1]
      |                     THEN CAST(1 AS HUGEINT) << f
      |                     ELSE CAST(0 AS HUGEINT) END
      |                     FOR f IN range(0, 64) ]) AS s
      |        FROM en),
      |afp AS (SELECT media_id, n,
      |          CAST(CASE WHEN s < 9223372036854775808 THEN s
      |               ELSE s - 18446744073709551616 END AS BIGINT) AS fp
      |        FROM ahv)""".stripMargin

  private val ImgFeatDimSql = {
    val sx = "((((d % 12) // 3) * w) // 4)"
    val sy = "(((d // 12) * h) // 4)"
    s"""CASE d % 3
       |  WHEN 0 THEN (a * $sx + bm * $sy + 3*base) % 251 + bump
       |  WHEN 1 THEN (bm * $sx + a * $sy + 5*base) % 241
       |  ELSE ((a + bm) * $sx + 2*base) % 239 END""".stripMargin.replaceAll("\\s+", " ")
  }

  /** The four per-quarter mean-|sample| band energies of the audio
    * feature oracle (floor division, quarter q = j·4//n), over the `ab`
    * abs-sample list and frame count `n` of the `ast` CTE. */
  private val BandEnergySql = (0 until 4).map { q =>
    s"list_sum([ab[j+1] FOR j IN range(0, n) IF (j*4)//n = $q])" +
      s" // len([j FOR j IN range(0, n) IF (j*4)//n = $q])"
  }.mkString(", ")

  val declared: Seq[Declared] = Seq(
    // Multimodal decode + frame-sample over a binary column: per-media
    // descriptor (dimensions, frame counts, byte totals) joined with the
    // sampled-frame summary. The decode kernel is a REAL container
    // parse (JPEG SOF0, PNG IHDR + CRC, WAV RIFF chunks, MJPEG marker
    // walk — MediaCodecs) over real minimal files the fixture encodes;
    // the oracle recomputes the expected values from the fixture's id
    // arithmetic, so writer and parser must agree through the actual
    // byte formats for the hash to match.
    declare("media_decode_stats")((s, dir) => {
      val media = mediaFixture(s)
      val decoded = graft.multimodal.Multimodal.decode(media).toDF()
      val frames = graft.multimodal.Multimodal.sampleFrames(media, maxFrames = 4).toDF()
        .groupBy("media_id")
        .agg(count(lit(1)).as("frames_sampled"),
          sum(length(col("frame_bytes")).cast("long")).as("frame_bytes"))
      decoded.join(frames, "media_id")
        .select(col("media_id"), col("modality"), col("width"), col("height"),
          col("n_frames"), col("n_bytes"), col("frames_sampled"), col("frame_bytes"))
        .orderBy(col("media_id"))
    })(
      // Recomputes the expected decode output from the fixture's id
      // arithmetic: dims w = 64+(i*13)%960, h = 64+(i*7)%540; WAV sample
      // frames 100+i%400 at 16-bit × (1+i%2) channels; MJPEG 1+i%5
      // frames. Byte sizes are the container constants — header-only JPEG
      // = 23 bytes (SOI + SOF0[17] + EOI), minimal PNG = 45 (sig + IHDR +
      // IEND), canonical WAV header = 44 + data. The Spark side gets these
      // numbers by PARSING the real headers MediaCodecs wrote, so the
      // match proves writer and parser agree through the byte format.
      """WITH t AS (SELECT i AS media_id,
        |    CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
        |    64 + (i*13) % 960 AS w, 64 + (i*7) % 540 AS h,
        |    1 + i % 2 AS ch, 100 + i % 400 AS af, 1 + i % 5 AS vf,
        |    (i // 3) % 2 AS png  -- image rows alternate JPEG (0) / PNG (1)
        |  FROM range(200) t(i))
        |SELECT media_id, modality,
        |  CAST(CASE modality WHEN 'audio' THEN 0 ELSE w END AS INTEGER) AS width,
        |  CAST(CASE modality WHEN 'audio' THEN 0 ELSE h END AS INTEGER) AS height,
        |  CAST(CASE modality WHEN 'image' THEN 1 WHEN 'audio' THEN af ELSE vf END AS INTEGER) AS n_frames,
        |  CAST(CASE modality WHEN 'image' THEN CASE WHEN png = 1 THEN 45 ELSE 23 END
        |       WHEN 'audio' THEN 44 + af*ch*2 ELSE 23*vf END AS BIGINT) AS n_bytes,
        |  CAST(CASE modality WHEN 'video' THEN least(4, vf) ELSE 1 END AS BIGINT) AS frames_sampled,
        |  CAST(CASE modality WHEN 'image' THEN CASE WHEN png = 1 THEN 45 ELSE 23 END
        |       WHEN 'audio' THEN 44 + af*ch*2 ELSE 23*least(4, vf) END AS BIGINT) AS frame_bytes
        |FROM t
        |ORDER BY media_id""".stripMargin),

    // REAL image resize: PPM rasters with arithmetic pixels, downscaled
    // fit-within-32×32 by actual nearest-neighbor resampling
    // (MediaCodecs.resizePpmNearest); the oracle recomputes output
    // dims, byte counts, AND the full raster checksum from the same
    // integer arithmetic — every output pixel byte is pinned.
    declare("media_resize_stats")((s, dir) => {
      import s.implicits._
      val src = s.range(200).map { id =>
        val w = 8 + (id % 97).toInt
        val h = 8 + (id % 89).toInt
        graft.multimodal.Multimodal.MediaRecord(id, "image",
          graft.multimodal.MediaCodecs.ppmBytes(w, h, (x, y) =>
            ((7 * x + 13 * y) % 251, (3 * x + 5 * y) % 241, (11 * x + 2 * y) % 239)),
          """{"fmt":"ppm"}""")
      }
      graft.multimodal.Multimodal.ppmStats(
          graft.multimodal.Multimodal.resizeImages(src, maxW = 32, maxH = 32))
        .toDF()
        .orderBy(col("media_id"))
    })(
      // Replays the whole resize pipeline arithmetically: fit-within dims
      // via the same floor divisions, header length from the dims' digit
      // counts, and the raster checksum as a sum over every output pixel
      // of the source-pixel channel formulas at (⌊x·w/dw⌋, ⌊y·h/dh⌋).
      """WITH t AS (SELECT i AS media_id, 8 + i % 97 AS w, 8 + i % 89 AS h FROM range(200) t(i)),
        |d AS (SELECT media_id, w, h,
        |        CASE WHEN w <= 32 AND h <= 32 THEN w
        |             WHEN w >= h THEN 32 ELSE greatest(1, (w*32)//h) END AS dw,
        |        CASE WHEN w <= 32 AND h <= 32 THEN h
        |             WHEN w >= h THEN greatest(1, (h*32)//w) ELSE 32 END AS dh
        |      FROM t),
        |s AS (SELECT media_id, dw, dh,
        |        list_sum([  (7*(((p % dw)*w)//dw) + 13*(((p // dw)*h)//dh)) % 251
        |                  + (3*(((p % dw)*w)//dw) +  5*(((p // dw)*h)//dh)) % 241
        |                  + (11*(((p % dw)*w)//dw) + 2*(((p // dw)*h)//dh)) % 239
        |                  FOR p IN range(0, dw*dh)]) AS rgb_sum
        |      FROM d)
        |SELECT media_id, CAST(dw AS INTEGER) AS width, CAST(dh AS INTEGER) AS height,
        |       CAST(9 + length(CAST(dw AS VARCHAR)) + length(CAST(dh AS VARCHAR)) + 3*dw*dh AS BIGINT) AS n_bytes,
        |       CAST(rgb_sum AS BIGINT) AS rgb_sum
        |FROM s ORDER BY media_id""".stripMargin),

    // REAL feature extraction over decoded media content: P6 rasters →
    // 4×4×3 subsampled-RGB vectors (actual pixel bytes via the
    // nearest-neighbor thumbnail), PCM WAVs → 8 amplitude frame stats —
    // all integer arithmetic the oracle replays from the fixture's id
    // formulas. Declared output is the exact integer projection of every
    // feature vector (dim count, sum, min, max).
    declare("media_features")((s, dir) => {
      val feats = graft.multimodal.Multimodal
        .extractFeatures(mediaFeatFixture(s), grid = 4).toDF()
      feats.select(col("media_id"),
          size(col("embedding")).as("n_dims"),
          aggregate(col("embedding"), lit(0L), (acc, x) => acc + x.cast("long")).as("f_sum"),
          array_min(col("embedding")).cast("long").as("f_min"),
          array_max(col("embedding")).cast("long").as("f_max"))
        .orderBy(col("media_id"))
    })(
      // Replays the whole feature-extraction path arithmetically: the
      // image vectors as the 4×4-grid subsampled pixel-channel formulas
      // (sx = cx·w//4, sy = cy·h//4 — the resizePpmNearest floor map),
      // the audio vectors as integer frame stats over the replayed PCM
      // sample list. The Spark side gets the same numbers by PARSING the
      // real PPM/WAV bytes the fixture encodes.
      s"""WITH ip AS (SELECT i AS media_id,
         |         CASE WHEN i < 80 THEN i ELSE i - 80 END AS base,
         |         CASE WHEN i < 80 THEN 0 ELSE 1 END AS bump
         |       FROM range(100) t(i)),
         |ic AS (SELECT media_id, base, bump,
         |         8 + base % 23 AS w, 8 + base % 19 AS h,
         |         5 + base % 11 AS a, 7 + base % 13 AS bm
         |       FROM ip),
         |iv AS (SELECT media_id, [ $ImgFeatDimSql FOR d IN range(0, 48) ] AS v FROM ic),
         |aud AS (SELECT i AS media_id, 120 + i % 80 AS n FROM range(100, 200) t(i)),
         |asmp AS (SELECT media_id, n,
         |           [ ((j*37 + media_id*101) % 4001) - 2000 FOR j IN range(0, n) ] AS smp
         |         FROM aud),
         |ast AS (SELECT media_id, n, [abs(x) FOR x IN smp] AS ab,
         |          list_sum([ CASE WHEN (smp[j+1] < 0) <> (smp[j] < 0) THEN 1 ELSE 0 END
         |                     FOR j IN range(1, n) ]) AS zc
         |        FROM asmp),
         |av AS (SELECT media_id,
         |         [ n, list_sum(ab) // n, zc, list_max(ab), $BandEnergySql ] AS v
         |       FROM ast),
         |allv AS (SELECT media_id, v FROM iv UNION ALL SELECT media_id, v FROM av)
         |SELECT media_id, CAST(len(v) AS INTEGER) AS n_dims,
         |       CAST(list_sum(v) AS BIGINT) AS f_sum,
         |       CAST(list_min(v) AS BIGINT) AS f_min,
         |       CAST(list_max(v) AS BIGINT) AS f_max
         |FROM allv ORDER BY media_id""".stripMargin),

    // The extracted image features feed the embedding-dedup ANN operator
    // directly: SRP-banded near-dup over the 48-dim grid vectors
    // surfaces the 20 planted red-bump near-duplicates (cos ≥ 0.99993)
    // plus 15 genuinely similar low-id gradient rasters that sit above
    // the 0.999 gate — all deterministic (fixed fixture, seeded SRP;
    // band-miss probability at the gate ≈ 1e-11). The oracle recomputes
    // the features AND the brute-force cosine join in SQL — media bytes
    // to ANN verdict, one hash-pinned path.
    declare("media_feature_dups")((s, dir) => {
      val imgs = mediaFeatFixture(s).filter(_.modality == "image")
      val feats = graft.multimodal.Multimodal.extractFeatures(imgs, grid = 4).toDF()
        .select(col("media_id").as("vec_id"), col("embedding"))
      Dedup.embeddingNearDups(feats, minCosine = 0.999)
        .orderBy(col("id_a"), col("id_b"))
    })(
      // Brute-force cosine join over the REPLAYED image feature vectors at
      // the same 0.999 gate: equals the SRP-banded Spark search — the 20
      // planted red-bump pairs sit at cos ≥ 0.99993 and the 15 natural
      // gradient pairs above the gate are found with band-miss probability
      // ≈ 1e-11 under the fixed seed (verified: 35/35 hash-match).
      // Integer-valued features make every dot product exact, so cos_sim
      // is bit-identical across engines.
      s"""WITH ip AS (SELECT i AS media_id,
         |         CASE WHEN i < 80 THEN i ELSE i - 80 END AS base,
         |         CASE WHEN i < 80 THEN 0 ELSE 1 END AS bump
         |       FROM range(100) t(i)),
         |ic AS (SELECT media_id, base, bump,
         |         8 + base % 23 AS w, 8 + base % 19 AS h,
         |         5 + base % 11 AS a, 7 + base % 13 AS bm
         |       FROM ip),
         |iv AS (SELECT media_id, [ $ImgFeatDimSql FOR d IN range(0, 48) ] AS v FROM ic)
         |SELECT a.media_id AS id_a, b.media_id AS id_b,
         |       (${dotSql("a.v", "b.v", 48)})
         |         / (sqrt(${dotSql("a.v", "a.v", 48)}) * sqrt(${dotSql("b.v", "b.v", 48)})) AS cos_sim
         |FROM iv a JOIN iv b ON a.media_id < b.media_id
         |WHERE (${dotSql("a.v", "b.v", 48)})
         |        / (sqrt(${dotSql("a.v", "a.v", 48)}) * sqrt(${dotSql("b.v", "b.v", 48)})) >= 0.999
         |ORDER BY id_a, id_b""".stripMargin),

    // 64-bit perceptual DIFFERENCE HASH per image (dHash, the standard
    // image near-dup signature): real P6 raster bytes → 9×8
    // nearest-neighbor gray-sum grid → 64 row-adjacent comparisons.
    // All-integer arithmetic, so the oracle rebuilds the identical
    // hash from the fixture's id-parameterized pixel formulas —
    // container bytes to signature, hash-pinned. One narrow map, 8
    // bytes out per image; at 100 TB the signature table is 32,000,000×
    // smaller than a 1 MB-image corpus.
    declare("media_dhash")((s, dir) => {
      val imgs = mediaFeatFixture(s).filter(_.modality == "image")
      graft.multimodal.Multimodal.dHash(imgs).toDF()
        .orderBy(col("media_id"))
    })(
      // Rebuilds every image's 64-bit dHash from the fixture's pixel
      // formulas — grid sampling, gray sums, comparisons, and bit packing
      // all in integer SQL — so the Spark path from real P6 container
      // bytes to signature must agree bit for bit.
      s"""WITH $DHashCteSql
         |SELECT CAST(media_id AS BIGINT) AS media_id,
         |       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
         |       dhash
         |FROM dh ORDER BY media_id""".stripMargin),

    // Perceptual image near-dup pairs: the banded signature join
    // (complete for hamming ≤ 3 by pigeonhole — shared with SimHash,
    // never all-pairs) over the dHash table. The planted red-bump
    // near-dups (ids 80–99 = ids 0–19 with a uniform +1 brightness
    // shift) land at hamming 0 — dHash compares ADJACENT pixels, so a
    // uniform shift cancels — exactly the duplicate class byte-exact
    // dedup can never see. The oracle replays hashes AND the
    // brute-force pair truth; banded candidates must equal it exactly.
    declare("media_dhash_dedup")((s, dir) => {
      val imgs = mediaFeatFixture(s).filter(_.modality == "image")
      val sigs = graft.multimodal.Multimodal.dHash(imgs).toDF()
        .select(col("media_id"), col("dhash"))
      Dedup.sigNearDups(sigs, maxHamming = 3,
          idCol = "media_id", sigCol = "dhash")
        .orderBy(col("id_a"), col("id_b"))
    })(
      // Brute-force O(n²) pair truth over the replayed hashes at
      // hamming ≤ 3: the Spark side's banded candidate join (pigeonhole
      // complete for the threshold) must return exactly this set — the 20
      // planted +1-brightness near-dups at hamming 0 included.
      s"""WITH $DHashCteSql
         |SELECT a.media_id AS id_a, b.media_id AS id_b,
         |       CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming
         |FROM dh a JOIN dh b ON a.media_id < b.media_id
         |WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
         |ORDER BY id_a, id_b""".stripMargin),

    // 64-bit energy-delta AUDIO fingerprint per clip (the Shazam-family
    // shape reduced to one word): real RIFF/PCM bytes → 65 frame
    // energies (Σ|sample|, integer) → 64 adjacent comparisons.
    // Volume-invariant by construction — both sides of every comparison
    // scale together under uniform gain. The oracle replays sample
    // values, frame slicing, and bit packing from the id formulas.
    declare("media_audio_fp")((s, dir) => {
      graft.multimodal.Multimodal.audioFingerprint(audioFpFixture(s)).toDF()
        .orderBy(col("media_id"))
    })(
      // Rebuilds every clip's energy-delta fingerprint from the fixture's
      // integer PCM formulas — the Spark path from real RIFF/PCM bytes to
      // signature must agree bit for bit.
      s"""WITH $AudioFpCteSql
         |SELECT CAST(media_id AS BIGINT) AS media_id,
         |       CAST(n AS INTEGER) AS n_samples, fp
         |FROM afp ORDER BY media_id""".stripMargin),

    // Audio near-dup pairs over the fingerprints — the same banded
    // signature join as SimHash/dHash (complete for hamming ≤ 3, never
    // all-pairs). The planted double-volume clips (ids 80–99 = ids 0–19
    // at gain 2×) land at hamming 0: the loudness-normalized duplicate
    // class exact byte dedup cannot see. Oracle: brute-force pair truth
    // over the replayed fingerprints.
    declare("media_audio_fp_dedup")((s, dir) => {
      val sigs = graft.multimodal.Multimodal
        .audioFingerprint(audioFpFixture(s)).toDF()
        .select(col("media_id"), col("fp"))
      Dedup.sigNearDups(sigs, maxHamming = 3,
          idCol = "media_id", sigCol = "fp")
        .orderBy(col("id_a"), col("id_b"))
    })(
      // Brute-force pair truth over the replayed fingerprints at
      // hamming ≤ 3 — the banded Spark join must equal it, planted
      // double-volume clips at hamming 0 included.
      s"""WITH $AudioFpCteSql
         |SELECT a.media_id AS id_a, b.media_id AS id_b,
         |       CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
         |FROM afp a JOIN afp b ON a.media_id < b.media_id
         |WHERE bit_count(xor(a.fp, b.fp)) <= 3
         |ORDER BY id_a, id_b""".stripMargin),

    // STORE-backed streaming PERCEPTUAL media dedup — the crawl loop's
    // multimodal leg: seed a 16-byte/image signature store from the
    // first 50 rasters, stream the full media fixture through per-batch
    // dHash + banded Hamming verdicts against the store, append novel
    // signatures as batch-keyed overwrite deltas. Raster bytes never
    // persist and never shuffle; executor state is ZERO (measured via
    // stream_state); non-image rows drop with the signature. The
    // oracle replays the seed store and the single-file micro-batch:
    // verdict = min-(hamming, id) seed match within ≤ 3.
    declare("stream_media_dedup")((s, dir) => {
      val seedDir = artifactDir("seedsig", dir)
      val imgs = mediaFeatFixture(s).filter(_.modality == "image")
      Dedup.ensureSigStore(s,
        graft.multimodal.Multimodal.dHash(imgs.filter(_.media_id < 50)).toDF()
          .select(col("media_id"), col("dhash").as("sig")),
        seedDir)
      val (scratch, storeDir) = seedCopy("stream_media_dedup", dir, seedDir, "store")
      // the media corpus as ONE parquet file → one deterministic
      // micro-batch (the stream_incremental replay discipline)
      val mediaPath = s"$scratch/media"
      mediaFeatFixture(s).toDF().coalesce(1).write.parquet(mediaPath)
      val schema = s.read.parquet(mediaPath).schema
      val stream = s.readStream.schema(schema).parquet(mediaPath)
      val q = graft.streaming.StreamingIngest.streamingMediaDedup(
        stream, storeDir, s"$scratch/sink", s"$scratch/chk")
      awaitStream("stream_media_dedup", q)
      s.read.option("recursiveFileLookup", "true").parquet(s"$scratch/sink")
        .select(col("media_id"), col("is_novel"), col("near_dup_of"),
          col("hamming"))
        .orderBy(col("media_id"))
    })(
      // Replays the seed signature store (ids < 50) and the single-file
      // micro-batch's banded-Hamming verdicts: near_dup_of = the seed id
      // at minimal (hamming, id) within ≤ 3, novel otherwise.
      s"""WITH $DHashCteSql,
         |seed AS (SELECT media_id AS s_id, dhash AS ssig FROM dh WHERE media_id < 50),
         |m AS (SELECT b.media_id, s.s_id,
         |        CAST(bit_count(xor(b.dhash, s.ssig)) AS INTEGER) AS hm
         |      FROM dh b JOIN seed s ON bit_count(xor(b.dhash, s.ssig)) <= 3),
         |r AS (SELECT media_id, s_id, hm,
         |        row_number() OVER (PARTITION BY media_id ORDER BY hm, s_id) AS rn
         |      FROM m)
         |SELECT CAST(d.media_id AS BIGINT) AS media_id,
         |       CASE WHEN r.s_id IS NULL THEN CAST(1 AS BIGINT)
         |            ELSE CAST(0 AS BIGINT) END AS is_novel,
         |       CAST(r.s_id AS BIGINT) AS near_dup_of,
         |       r.hm AS hamming
         |FROM dh d LEFT JOIN (SELECT * FROM r WHERE rn = 1) r USING (media_id)
         |ORDER BY media_id""".stripMargin)
  )
}
