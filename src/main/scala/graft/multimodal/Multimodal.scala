package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing for LLM training-data pipelines.
  *
  * Media (image/audio/video) are opaque `binary` columns plus typed JSON
  * metadata; decode / feature-extract / frame-sample run per-partition so
  * decoder state initializes once per partition, not per row. The decode
  * kernel is a REAL container-header parse ([[MediaCodecs]]: JPEG SOF,
  * PNG IHDR with CRC check, WAV fmt/data chunk walk, MJPEG marker walk),
  * so any correctly-encoded file decodes; feature extraction
  * ([[extractFeatures]]) computes REAL content-derived vectors from the
  * decoded pixels / PCM samples (grid-subsampled RGB, amplitude frame
  * stats) — a learned vision/audio encoder would slot into the same
  * partition pass without changing any plan.
  *
  * Scale notes: media rows are large and skewed — repartition by byte
  * budget, not row count ([[repartitionByBytes]]); frame sampling is a
  * flatMap (narrow, no shuffle); extracted features are small and flow
  * into the ANN/dedup operators in [[graft.index.Ann]]/[[graft.dedup.Dedup]].
  */
object Multimodal {

  /** One media row: id, modality discriminator, raw bytes, JSON metadata. */
  final case class MediaRecord(media_id: Long, modality: String, content: Array[Byte], meta: String)

  /** Decoded descriptor. Images/video: pixel dims + frame count (1 for a
    * still). Audio: width = height = 0, n_frames = PCM sample frames.
    * Unrecognized/corrupt container: (-1, -1, 0) — flagged, never thrown,
    * so one bad blob in 100 TB degrades to a filterable row. */
  final case class Decoded(media_id: Long, modality: String, width: Int, height: Int,
      n_frames: Int, n_bytes: Long)

  /** Extracted feature row — embedding ready for the ANN operators. */
  final case class MediaFeature(media_id: Long, embedding: Array[Float])

  /** One sampled frame of a video row. */
  final case class Frame(media_id: Long, frame_idx: Int, frame_bytes: Array[Byte])

  /** Real header decode, format-sniffed from the bytes (the modality
    * column is a routing hint, not trusted for parsing): PNG IHDR, JPEG/
    * MJPEG SOF + frame walk, WAV fmt/data. */
  private def decodeBytes(r: MediaRecord): Decoded = {
    val n = r.content.length.toLong
    if (MediaCodecs.isPng(r.content))
      MediaCodecs.parsePng(r.content) match {
        case Some(i) => Decoded(r.media_id, r.modality, i.width, i.height, 1, n)
        case None    => Decoded(r.media_id, r.modality, -1, -1, 0, n)
      }
    else if (MediaCodecs.isJpeg(r.content)) {
      val frames = MediaCodecs.mjpegFrameOffsets(r.content)
      if (frames.isEmpty) Decoded(r.media_id, r.modality, -1, -1, 0, n)
      else {
        val dims = MediaCodecs.parseJpeg(r.content).getOrElse(MediaCodecs.ImageInfo(-1, -1))
        Decoded(r.media_id, r.modality, dims.width, dims.height, frames.length, n)
      }
    } else if (MediaCodecs.isWav(r.content))
      MediaCodecs.parseWav(r.content) match {
        case Some(w) =>
          // frame counts are clamped by parseWav to the bytes present;
          // saturate the Long→Int anyway so no input can wrap negative
          Decoded(r.media_id, r.modality, 0, 0,
            math.min(w.nSampleFrames, Int.MaxValue.toLong).toInt, n)
        case None    => Decoded(r.media_id, r.modality, -1, -1, 0, n)
      }
    else Decoded(r.media_id, r.modality, -1, -1, 0, n)
  }

  /** Decode every media row into its descriptor. mapPartitions so
    * per-decoder state (scratch buffers, a native handle if one is
    * plugged in) initializes once per partition. */
  def decode(media: Dataset[MediaRecord]): Dataset[Decoded] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map(decodeBytes)
    }
  }

  /** REAL content-derived feature extraction over the decoded media —
    * no model, no fake, every dimension computed from actual pixel /
    * PCM values by integer arithmetic an oracle replays from the bytes:
    *
    *  - P6 PPM rasters → `grid`×`grid`×3 subsampled-RGB vector: the
    *    raster bytes of [[MediaCodecs.resizePpmNearest]] at grid² (a
    *    real thumbnail — the fixed-grid pooling every visual near-dup
    *    pipeline starts from), row-major (y, x, RGB), values 0–255.
    *  - 16-bit PCM WAV → 8 frame-stats dims `[n, mean|s|, zero-
    *    crossings, max|s|, e₀…e₃]` where eₖ is the mean |s| of the k-th
    *    time quarter (floor division throughout) — amplitude envelope +
    *    rate-of-change, the classic audio fingerprint features.
    *  - anything else (header-only containers, corrupt blobs) → an
    *    EMPTY vector: a filterable flagged row, never a throw.
    *
    * The outputs feed the ANN / embedding-dedup operators directly
    * ([[graft.dedup.Dedup.embeddingNearDups]] — see the
    * `media_feature_dups` declared query). Narrow mapPartitions, scan
    * speed at 100 TB; a learned encoder slots into the same partition
    * pass without changing the plan. */
  def extractFeatures(media: Dataset[MediaRecord], grid: Int = 4): Dataset[MediaFeature] = {
    require(grid >= 1, s"grid must be positive, got $grid")
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        if (MediaCodecs.isPpm(r.content)) {
          MediaCodecs.resizePpmNearest(r.content, grid, grid) match {
            case Some(thumb) =>
              val off = thumb.length - 3 * grid * grid
              val v = new Array[Float](3 * grid * grid)
              var i = 0
              while (i < v.length) { v(i) = (thumb(off + i) & 0xff).toFloat; i += 1 }
              MediaFeature(r.media_id, v)
            case None => MediaFeature(r.media_id, Array.emptyFloatArray)
          }
        } else if (MediaCodecs.isWav(r.content)) {
          MediaCodecs.wavChannel0Samples(r.content) match {
            case Some(s) if s.nonEmpty =>
              val n = s.length
              var sumAbs, maxAbs, zc = 0L
              val bandSum = new Array[Long](4)
              val bandCnt = new Array[Long](4)
              var i = 0
              while (i < n) {
                val a = math.abs(s(i)).toLong
                sumAbs += a
                if (a > maxAbs) maxAbs = a
                if (i > 0 && ((s(i) < 0) != (s(i - 1) < 0))) zc += 1
                val q = i * 4 / n
                bandSum(q) += a
                bandCnt(q) += 1
                i += 1
              }
              def bandMean(q: Int): Float =
                if (bandCnt(q) == 0) 0f else (bandSum(q) / bandCnt(q)).toFloat
              MediaFeature(r.media_id, Array(n.toFloat, (sumAbs / n).toFloat,
                zc.toFloat, maxAbs.toFloat,
                bandMean(0), bandMean(1), bandMean(2), bandMean(3)))
            case _ => MediaFeature(r.media_id, Array.emptyFloatArray)
          }
        } else MediaFeature(r.media_id, Array.emptyFloatArray)
      }
    }
  }

  /** Sample up to `maxFrames` evenly spaced frames per multi-frame row —
    * a narrow flatMap. MJPEG streams split at REAL frame boundaries
    * (marker walk), so each emitted `frame_bytes` is a valid standalone
    * JPEG; single-frame rows (stills, audio, unrecognized) pass through
    * whole as frame 0. */
  def sampleFrames(media: Dataset[MediaRecord], maxFrames: Int = 4): Dataset[Frame] = {
    require(maxFrames >= 1, s"maxFrames must be positive, got $maxFrames")
    import media.sparkSession.implicits._
    media.flatMap { r =>
      val offsets =
        if (MediaCodecs.isJpeg(r.content)) MediaCodecs.mjpegFrameOffsets(r.content)
        else IndexedSeq.empty
      if (offsets.length <= 1) Seq(Frame(r.media_id, 0, r.content))
      else {
        val nf = offsets.length
        val n = math.min(maxFrames, nf)
        (0 until n).map { k =>
          val idx = if (n == 1) 0 else (k.toLong * (nf - 1) / (n - 1)).toInt
          val (start, end) = offsets(idx)
          Frame(r.media_id, idx, java.util.Arrays.copyOfRange(r.content, start, end))
        }
      }
    }
  }

  /** Aspect-preserving fit-within target dims, INTEGER arithmetic only
    * (floor division) so an oracle can replay the exact output shape:
    * inputs already inside the bounds return unchanged (no upscale —
    * the contract the name implies), otherwise the tighter side pins to
    * its max and the other scales by the same ratio, floored, min 1. */
  def fitWithin(w: Int, h: Int, maxW: Int, maxH: Int): (Int, Int) =
    if (w <= maxW && h <= maxH) (w, h)
    else if (w.toLong * maxH >= h.toLong * maxW)
      (maxW, math.max(1, (h.toLong * maxW / w).toInt))
    else
      (math.max(1, (w.toLong * maxH / h).toInt), maxH)

  /** REAL image resize over PPM rows: any P6 raster larger than
    * `maxW`×`maxH` is downscaled with nearest-neighbor resampling
    * ([[MediaCodecs.resizePpmNearest]] — actual pixel work on actual
    * bytes) to the [[fitWithin]] shape; smaller rasters and non-PPM
    * rows pass through unchanged. A narrow mapPartitions pass — no
    * shuffle; at 100 TB this is the standard normalize-before-encode
    * step and runs at scan speed. */
  def resizeImages(media: Dataset[MediaRecord], maxW: Int, maxH: Int): Dataset[MediaRecord] = {
    require(maxW >= 1 && maxH >= 1, s"bad bounds: ${maxW}x$maxH")
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      val resized = MediaCodecs.parsePpm(r.content) match {
        case Some((info, _)) if info.width > maxW || info.height > maxH =>
          val (dw, dh) = fitWithin(info.width, info.height, maxW, maxH)
          MediaCodecs.resizePpmNearest(r.content, dw, dh).map(out => r.copy(content = out))
        case _ => None
      }
      resized.getOrElse(r)
    })
  }

  /** Per-row PPM descriptor for parity checks: dims, total bytes, and
    * the raster checksum (sum of all RGB channel bytes). Non-PPM rows
    * flag as (-1, -1, len, -1). */
  final case class PpmStats(media_id: Long, width: Int, height: Int, n_bytes: Long, rgb_sum: Long)

  def ppmStats(media: Dataset[MediaRecord]): Dataset[PpmStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      MediaCodecs.parsePpm(r.content) match {
        case Some((info, off)) =>
          val end = off + 3 * info.width * info.height
          var s = 0L
          var i = off
          while (i < end) { s += (r.content(i) & 0xff); i += 1 }
          PpmStats(r.media_id, info.width, info.height, r.content.length.toLong, s)
        case None => PpmStats(r.media_id, -1, -1, r.content.length.toLong, -1L)
      }
    })
  }

  /** Per-image 64-bit DIFFERENCE HASH (dHash — the standard perceptual
    * near-dup signature for image corpora, cf. pHash/blockhash family):
    * nearest-neighbor-sample the raster to a `gridW × gridH` grid of
    * integer gray values (the channel SUM r+g+b — monotone in
    * brightness, so no division/rounding enters the comparison), then
    * bit `gy*(gridW-1)+gx` = 1 iff gray(gx+1, gy) > gray(gx, gy). The
    * default 9×8 grid yields exactly 64 row-adjacent comparisons. The
    * hash is invariant under any uniform per-pixel brightness shift
    * (both sides of every comparison move together) — the visual
    * near-dup class exact byte dedup can never catch. All-integer
    * arithmetic end to end, so the oracle replays it exactly.
    * One narrow map over the corpus, 8 bytes out per image; non-PPM
    * rows drop (signature ops are image-only). */
  final case class DHash(media_id: Long, width: Int, height: Int, dhash: Long)

  def dHash(media: Dataset[MediaRecord], gridW: Int = 9, gridH: Int = 8): Dataset[DHash] = {
    require((gridW - 1) * gridH <= 64,
      s"dHash bits (gridW-1)*gridH must fit a Long, got ${(gridW - 1) * gridH}")
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      MediaCodecs.parsePpm(r.content).map { case (info, off) =>
        val w = info.width
        val h = info.height
        val gray = Array.ofDim[Int](gridH * gridW)
        var gy = 0
        while (gy < gridH) {
          val ys = gy * h / gridH
          var gx = 0
          while (gx < gridW) {
            val xs = gx * w / gridW
            val p = off + 3 * (ys * w + xs)
            gray(gy * gridW + gx) = (r.content(p) & 0xff) +
              (r.content(p + 1) & 0xff) + (r.content(p + 2) & 0xff)
            gx += 1
          }
          gy += 1
        }
        var bits = 0L
        var bit = 0
        gy = 0
        while (gy < gridH) {
          var gx = 0
          while (gx < gridW - 1) {
            if (gray(gy * gridW + gx + 1) > gray(gy * gridW + gx))
              bits |= (1L << bit)
            bit += 1
            gx += 1
          }
          gy += 1
        }
        DHash(r.media_id, w, h, bits)
      }
    })
  }

  /** Per-clip 64-bit ENERGY-DELTA audio fingerprint (the Shazam-family
    * shape reduced to one word): split channel-0 PCM into `frames`
    * contiguous windows, frame energy = Σ|sample| (integer), bit `f` =
    * 1 iff energy(f+1) > energy(f). Volume-INVARIANT under any positive
    * uniform gain (both sides of every comparison scale together) — the
    * re-encoded/normalized-loudness duplicate class byte-exact dedup
    * can never see, the audio twin of [[dHash]]'s brightness
    * invariance. All-integer end to end; one narrow map, 8 bytes out
    * per clip. Non-WAV rows and clips shorter than `frames` samples
    * drop (signature ops are audio-only, and sub-frame clips have no
    * stable energy contour). */
  final case class AudioFp(media_id: Long, n_samples: Int, fp: Long)

  def audioFingerprint(media: Dataset[MediaRecord], frames: Int = 65): Dataset[AudioFp] = {
    require(frames >= 2 && frames - 1 <= 64,
      s"fingerprint bits frames-1 must fit a Long, got ${frames - 1}")
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      MediaCodecs.wavChannel0Samples(r.content)
        .filter(_.length >= frames)
        .map { s =>
          val n = s.length
          val energy = new Array[Long](frames)
          var f = 0
          while (f < frames) {
            var i = f * n / frames
            val end = (f + 1) * n / frames
            var e = 0L
            while (i < end) { e += math.abs(s(i)).toLong; i += 1 }
            energy(f) = e
            f += 1
          }
          var bits = 0L
          f = 0
          while (f < frames - 1) {
            if (energy(f + 1) > energy(f)) bits |= (1L << f)
            f += 1
          }
          AudioFp(r.media_id, n, bits)
        }
    })
  }

  /** Typed metadata access over the JSON `meta` column. */
  def withMeta(df: DataFrame, fields: Map[String, String]): DataFrame =
    fields.foldLeft(df) { case (acc, (name, jsonPath)) =>
      acc.withColumn(name, get_json_object(col("meta"), jsonPath))
    }

  /** Media rows are large and size-skewed: repartition by CUMULATIVE
    * byte ranges so every output partition carries ≈`targetBytes` of
    * actual blob bytes — one partition of 4K-thumbnails and one of
    * 4GB-videos get comparable work. (At 100 TB this is the difference
    * between a balanced stage and a straggler.)
    *
    * Mechanics: pass 1 sums bytes per INPUT partition (the collect is
    * one long per partition, never row data) and prefix-scans them into
    * global offsets; pass 2 assigns each row `bin = cumBytes / target`
    * from its partition offset plus a running local sum, then an
    * explicit identity [[org.apache.spark.Partitioner]] places each bin
    * in exactly its own output partition — an id-HASH into a
    * size-derived count (the previous form) balances only expected
    * bytes and collapses under size-vs-id correlation or hash
    * collisions. A single row ≥ `targetBytes` is bumped to a fresh bin
    * boundary so a giant blob lands ALONE rather than dragging
    * neighbors over budget (skew-pinned in MultimodalSpec). The RDD
    * round-trip is deliberate: Spark SQL has no "place rows at exact
    * computed partition" operator, and this is genuine per-partition
    * imperative logic (the running byte sum). Input is scanned twice
    * (size pass + shuffle pass); `localCheckpoint` pins ONE materialized
    * snapshot for both passes — a nondeterministic upstream (sampled
    * read, changed source files) can therefore never hand pass 2 rows
    * whose sizes disagree with pass 1's offsets: lineage is truncated,
    * so lost blocks fail loudly instead of silently recomputing, and
    * the blocks are freed by the context cleaner when the RDD is GC'd. */
  def repartitionByBytes(df: DataFrame, targetBytes: Long = 128L << 20): DataFrame = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val spark = df.sparkSession
    val schema = df.schema
    val contentIdx = schema.fieldIndex("content")
    def rowBytes(r: org.apache.spark.sql.Row): Long = {
      val v = r.get(contentIdx)
      if (v == null) 0L else v.asInstanceOf[Array[Byte]].length.toLong
    }
    val rdd = df.rdd.localCheckpoint() // materialized by the size pass below
    val partTotals = rdd
      .mapPartitionsWithIndex { (i, it) =>
        var s = 0L; it.foreach(s += rowBytes(_)); Iterator((i, s))
      }
      .collect().sortBy(_._1).map(_._2)
    val offsets = partTotals.scanLeft(0L)(_ + _)
    val total = offsets.last
    val nParts = math.max(1L, (total + targetBytes - 1) / targetBytes).toInt
    val keyed = rdd.mapPartitionsWithIndex { (i, it) =>
      var cum = offsets(i)
      it.map { r =>
        val sz = rowBytes(r)
        // an over-budget blob starts its own bin: alone beats straggler
        if (sz >= targetBytes && cum % targetBytes != 0)
          cum = (cum / targetBytes + 1) * targetBytes
        val bin = math.min(nParts - 1L, cum / targetBytes).toInt
        cum += sz
        (bin, r)
      }
    }
    val parted = keyed
      .partitionBy(new org.apache.spark.Partitioner {
        override def numPartitions: Int = nParts
        override def getPartition(key: Any): Int = key.asInstanceOf[Int]
      })
      .values
    spark.createDataFrame(parted, schema)
  }
}
