package graft.operators

import graft.{QueryScope, Tables}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column operators (north star, BASELINE.json:6): media as
  * opaque `binary` payloads with typed metadata, plus decode /
  * feature-extract / resize / frame-sample stages.
  *
  * The sandbox has no image/audio codecs, so the DECODE step is a
  * clearly-marked deterministic stub (`StubCodec`) — but everything
  * Spark-side is real and is what matters at 100 TB:
  *   - payloads live in a `binary` column next to a typed metadata
  *     struct, the layout that lets Parquet keep blobs out of the
  *     column-pruned path (a metadata-only query never reads bytes);
  *   - per-item work runs in `mapPartitions` over a typed Dataset —
  *     one codec instance per partition (the expensive init amortizes
  *     across the partition's rows, the same batch shape a Python
  *     `mapInPandas` or a JNI decoder would use);
  *   - frame sampling is pure column arithmetic (`sequence`/`explode`)
  *     so the planner sees cardinality and can push the stride math
  *     into codegen — no row-at-a-time driver logic anywhere.
  *
  * The media table derives deterministically from `documents` (the
  * driver ships no binary table): payload = utf-8 bytes of `text`,
  * media_type cycles image/audio/video by doc_id. The derivation is
  * SQL-expressible, so EVERY query here carries a full DuckDB oracle —
  * including the stub decode, whose byte math (histogram, mean,
  * strided resize) DuckDB reproduces over `hex(encode(text))`. When a
  * real codec replaces the stub, that one oracle reverts to rows-only;
  * the Spark-side plumbing it verifies is unchanged.
  */
object MultimodalOps {

  /** documents → (doc_id, media_type, payload: binary, meta struct).
    * Metadata is deterministic from doc_id so oracles can reproduce it. */
  def mediaTable(spark: SparkSession, sfDir: String): DataFrame = {
    val mt = element_at(
      array(lit("image"), lit("audio"), lit("video")),
      (col("doc_id") % 3 + 1).cast("int"))
    Tables.documents(spark, sfDir).select(
      col("doc_id"),
      mt.as("media_type"),
      col("text").cast("binary").as("payload"),
      struct(
        (col("doc_id") % 4 * 160 + 320).cast("int").as("width"),
        (col("doc_id") % 4 * 90 + 180).cast("int").as("height"),
        lit(16000).as("sample_rate")).as("meta"))
  }

  // ---- 1. metadata projection (never touches payload bytes) ----

  /** Typed-metadata scan: size + checksum + dims. In a real layout the
    * payload column is not read for width/height/type queries — Parquet
    * column pruning skips the blobs entirely; md5/octet_length is the
    * only part that reads bytes. */
  def qMetadata(spark: SparkSession, sfDir: String): DataFrame =
    mediaTable(spark, sfDir).select(
        col("doc_id"), col("media_type"),
        length(col("payload")).as("n_bytes"),
        md5(col("payload")).as("checksum"),
        col("meta.width").as("width"),
        col("meta.height").as("height"))

  val qMetadataOracle: String =
    """SELECT doc_id,
      |  ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
      |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
      |  md5(text) AS checksum,
      |  CAST(doc_id % 4 * 160 + 320 AS INT) AS width,
      |  CAST(doc_id % 4 * 90 + 180 AS INT) AS height
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- 2. stub decode + feature extraction (mapPartitions batch) ----

  /** STUB CODEC — stands in for a real image/audio decoder (none in
    * this container). Deterministic features over raw payload bytes:
    * an 8-bin byte histogram and the unsigned mean. A real codec slots
    * in here without touching the surrounding plumbing. */
  object StubCodec {
    def features(payload: Array[Byte]): (Array[Long], Double) = {
      val hist = new Array[Long](8)
      var sum = 0L
      var i = 0
      while (i < payload.length) {
        val u = payload(i) & 0xff
        hist(u >> 5) += 1
        sum += u
        i += 1
      }
      (hist, if (payload.length == 0) 0.0 else sum.toDouble / payload.length)
    }

    /** STUB "resize": strided byte sampling down to `target` samples —
      * the plumbing twin of a real thumbnail/downsample kernel. */
    def resize(payload: Array[Byte], target: Int): Array[Int] = {
      val n = math.min(target, payload.length)
      val out = new Array[Int](n)
      val stride = math.max(1, payload.length / target)
      var i = 0
      while (i < n) { out(i) = payload(i * stride) & 0xff; i += 1 }
      out
    }

    /** STUB frame energies: fixed-size frames (tail remainder
      * dropped), each reduced to its unsigned byte sum — the plumbing
      * twin of a per-frame luma/histogram reduction in a real video
      * decoder. */
    def frameEnergies(payload: Array[Byte], frameBytes: Int): Array[Long] = {
      val nf = payload.length / frameBytes
      Array.tabulate(nf) { f =>
        var e = 0L
        var j = 0
        while (j < frameBytes) { e += payload(f * frameBytes + j) & 0xff; j += 1 }
        e
      }
    }

    /** Integer DCT-II basis, u ∈ [0,4): T(x)(u) =
      * round(128·cos((2x+1)uπ/16)) — the rounded-integer cosine
      * table every production codec ships (JPEG/H.264 use integer
      * DCT approximations for exactly this reason: float cosines and
      * summation order vary across libm builds; a shared integer
      * table makes the transform bit-exact everywhere). The SAME 32
      * literals appear in the DuckDB oracle. */
    private[MultimodalOps] val DctT: Array[Array[Long]] = Array(
      Array(128L, 126L, 118L, 106L), Array(128L, 106L, 49L, -25L),
      Array(128L, 71L, -49L, -126L), Array(128L, 25L, -118L, -71L),
      Array(128L, -25L, -118L, 71L), Array(128L, -71L, -49L, 126L),
      Array(128L, -106L, 49L, 25L), Array(128L, -126L, 118L, -106L))

    /** REAL pHash (r10, r9 verdict #6): 2-D integer DCT-II over the
      * 8×8 strided downsample, 4×4 low-frequency block, bit i = 4u+v
      * set when coefficient (u,v) exceeds the mean of the 15 AC
      * coefficients (integer cross-multiply — no division). This IS
      * the published pHash construction (downsample → DCT → low-band
      * threshold against the AC average), at 16-bit width; only the
      * DECODE to grayscale remains stubbed (raw payload bytes stand
      * in for pixels). Requires ≥ 64 payload bytes. */
    def dctHash(payload: Array[Byte]): Long = {
      val px = resize(payload, 64) // 8×8 strided "grayscale"
      val c = new Array[Long](16)
      var u = 0
      while (u < 4) {
        var v = 0
        while (v < 4) {
          var acc = 0L
          var x = 0
          while (x < 8) {
            var y = 0
            while (y < 8) {
              acc += px(8 * x + y).toLong * DctT(x)(u) * DctT(y)(v)
              y += 1
            }
            x += 1
          }
          c(4 * u + v) = acc
          v += 1
        }
        u += 1
      }
      var sac = 0L
      var i = 1
      while (i < 16) { sac += c(i); i += 1 }
      var h = 0L
      i = 0
      while (i < 16) { if (c(i) * 15L > sac) h |= 1L << i; i += 1 }
      h
    }

    /** STUB segment energies: the payload split into `nSeg` equal
      * stride-sized segments (tail remainder dropped), each reduced to
      * its unsigned byte sum — the plumbing twin of a real framed
      * energy/spectral reduction (fbank, chroma). Returns empty when
      * the payload is shorter than `nSeg`. */
    def segEnergies(payload: Array[Byte], nSeg: Int): Array[Long] = {
      if (payload.length < nSeg) return Array.emptyLongArray
      val stride = payload.length / nSeg
      val out = new Array[Long](nSeg)
      var s = 0
      while (s < nSeg) {
        var e = 0L
        var j = 0
        while (j < stride) { e += payload(s * stride + j) & 0xff; j += 1 }
        out(s) = e
        s += 1
      }
      out
    }
  }

  // public: Spark's generated encoder code must reach these
  case class MediaRow(doc_id: Long, payload: Array[Byte])
  case class ThumbStats(doc_id: Long, n: Int, sx: Long, sxx: Long)
  case class FeatureRow(doc_id: Long, n_bytes: Int,
      mean_byte: Double, hist: Array[Long], thumb: Array[Int])

  /** Decode + feature-extract over partitions of binary payloads: the
    * iterator shape gives one codec per partition and streaming memory
    * (never materializes a partition of blobs). The stub codec's byte
    * math is DuckDB-reproducible (see [[qDecodeFeaturesOracle]]), so
    * even the mapPartitions path gets a full hash-match gate. */
  def qDecodeFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val media: Dataset[MediaRow] = mediaTable(spark, sfDir)
      .select(col("doc_id"), col("payload")).as[MediaRow]
    media.mapPartitions { rows =>
      // per-partition codec init would go here (amortized, as with
      // a JNI decoder or an Arrow batch worker)
      rows.map { m =>
        val (hist, mean) = StubCodec.features(m.payload)
        FeatureRow(m.doc_id, m.payload.length, mean, hist,
          StubCodec.resize(m.payload, 16))
      }
    }.toDF()
      // arrays are emitted as sortable scalar digests: the driver's
      // rows-only compare sorts columns in pandas, which cannot
      // factorize ndarray cells — a string digest keeps the codec
      // plumbing verifiable without changing what was computed
      .select(col("doc_id"), col("n_bytes"), round(col("mean_byte"), 4).as("mean_byte_r"),
        concat_ws(",", col("hist")).as("hist_csv"),
        concat_ws(",", col("thumb")).as("thumb_csv"))
  }

  // ---- 3. frame sampling (pure column arithmetic, full oracle) ----

  private val FrameBytes = 256
  private val SampleEvery = 4

  /** Video frame sampling: fixed-size frames, keep every 4th frame.
    * `sequence`+`explode` keeps the fan-out declarative — the planner
    * knows the output cardinality and the whole stage stays in codegen
    * (a 100 TB video corpus fans out to frame work items this way). */
  def qFrameSample(spark: SparkSession, sfDir: String): DataFrame =
    mediaTable(spark, sfDir)
      .filter(col("media_type") === "video")
      .withColumn("n_frames",
        expr(s"length(payload) DIV $FrameBytes").cast("int"))
      .filter(col("n_frames") > 0)
      .select(col("doc_id"), col("n_frames"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(SampleEvery))).as("frame_idx"))
      .withColumn("byte_offset", col("frame_idx") * FrameBytes)

  val qFrameSampleOracle: String =
    s"""WITH v AS (
       |  SELECT doc_id,
       |    CAST(octet_length(encode(text)) // $FrameBytes AS INT) AS n_frames
       |  FROM documents WHERE doc_id % 3 = 2),
       |f AS (
       |  SELECT doc_id, n_frames, unnest(generate_series(0, n_frames - 1, $SampleEvery)) AS frame_idx
       |  FROM v WHERE n_frames > 0)
       |SELECT doc_id, n_frames, CAST(frame_idx AS INT) AS frame_idx,
       |  CAST(frame_idx * $FrameBytes AS INT) AS byte_offset
       |FROM f ORDER BY doc_id, frame_idx""".stripMargin

  private val WinSamples = 400  // 25 ms @ 16 kHz
  private val HopSamples = 160  // 10 ms @ 16 kHz

  /** Audio feature-frame math: 25 ms windows with 10 ms hop at the
    * metadata's sample rate (payload bytes stand in for samples).
    * Pure arithmetic on sizes — the planner-visible prelude every
    * audio featurizer (MFCC, fbank) fans work out from; the decode
    * inside each window would be the stub codec's job. */
  def qAudioWindows(spark: SparkSession, sfDir: String): DataFrame =
    mediaTable(spark, sfDir)
      .filter(col("media_type") === "audio")
      .select(col("doc_id"),
        col("meta.sample_rate").as("sample_rate"),
        length(col("payload")).as("n_samples"))
      .withColumn("duration_ms",
        expr("n_samples * 1000 DIV sample_rate").cast("long"))
      .withColumn("n_windows",
        when(col("n_samples") < WinSamples, 0)
          .otherwise(expr(s"(n_samples - $WinSamples) DIV $HopSamples + 1"))
          .cast("int"))

  val qAudioWindowsOracle: String =
    s"""SELECT doc_id, 16000 AS sample_rate,
       |  CAST(octet_length(encode(text)) AS INT) AS n_samples,
       |  CAST(octet_length(encode(text)) * 1000 // 16000 AS BIGINT) AS duration_ms,
       |  CAST(CASE WHEN octet_length(encode(text)) < $WinSamples THEN 0
       |       ELSE (octet_length(encode(text)) - $WinSamples) // $HopSamples + 1
       |       END AS INT) AS n_windows
       |FROM documents WHERE doc_id % 3 = 1
       |ORDER BY doc_id""".stripMargin

  /** BLUR / FLATNESS screening — the cheap image-quality gate a vision
    * corpus runs before spending decode+embed on every crawl image
    * (the variance-of-Laplacian test's plumbing twin): a low-variance
    * thumbnail is a flat/blurry/solid-color image and gets dropped.
    * Score = the EXACT integer variance lane n·Σs² − (Σs)² over the
    * 16-sample strided thumbnail (the q_zscore/GramMoments numerator
    * convention — no division, no float), flagged when below
    * 1000·n² (variance < 1000 in pixel² units). Same mapPartitions
    * stub-decode plumbing as every decoder stage; a real
    * Laplacian-of-Gaussian slots into the codec without touching the
    * plan. Map-only per image; no shuffle (output order unspecified —
    * the driver compare is order-insensitive). */
  def qBlurScores(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val media: Dataset[MediaRow] = mediaTable(spark, sfDir)
      .filter(col("media_type") === "image")
      .select(col("doc_id"), col("payload")).as[MediaRow]
    media.mapPartitions { rows =>
      rows.map { m =>
        val t = StubCodec.resize(m.payload, 16)
        ThumbStats(m.doc_id, t.length,
          t.map(_.toLong).sum, t.map(x => x.toLong * x).sum)
      }
    }.toDF()
      .filter(col("n") >= 2)
      .select(col("doc_id"), col("n"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("var_lane"),
        ((col("n") * col("sxx") - col("sx") * col("sx")) <
          lit(1000L) * col("n") * col("n")).as("is_flat"))
  }

  /** The resize oracle's strided byte math + the same variance lane. */
  val qBlurScoresOracle: String =
    """WITH m AS (
      |  SELECT doc_id, hex(encode(text)) AS h,
      |         CAST(octet_length(encode(text)) AS INT) AS nb
      |  FROM documents WHERE doc_id % 3 = 0),
      |t AS (
      |  SELECT m.doc_id, LEAST(16, m.nb) AS n,
      |    CAST('0x' || substr(m.h, 2*(i.i * GREATEST(1, m.nb // 16)) + 1, 2) AS INT) AS s
      |  FROM m, unnest(generate_series(0, LEAST(16, m.nb) - 1)) AS i(i)),
      |agg AS (
      |  SELECT doc_id, CAST(MAX(n) AS INT) AS n,
      |    CAST(SUM(s) AS BIGINT) AS sx, CAST(SUM(s * s) AS BIGINT) AS sxx
      |  FROM t GROUP BY 1)
      |SELECT doc_id, n,
      |  CAST(n * sxx - sx * sx AS BIGINT) AS var_lane,
      |  n * sxx - sx * sx < 1000 * n * n AS is_flat
      |FROM agg WHERE n >= 2 ORDER BY doc_id""".stripMargin

  private val TrimFrameBytes = 32

  /** AUDIO SILENCE TRIM — the lead-in/lead-out removal every speech
    * pipeline runs before transcription or training (sox/ffmpeg
    * `silenceremove`, WebRTC VAD's coarse tier): frame the payload,
    * score per-frame energy, and trim the silent RUN at each end.
    * "Silent" = frame energy under half the doc's own mean frame
    * energy, as the integer cross-multiplication 2·e·nf < Σe — the
    * adaptive threshold a fixed constant can't give across loud and
    * quiet recordings, with no float anywhere. The max-energy frame
    * always clears the bar, so the kept span is never empty.
    *
    * Plumbing: the SAME mapPartitions batch decode as the scene-cut
    * detector (a real VAD slots into [[StubCodec]] without touching
    * the plan); the head/tail run lengths are HOF FOLDS over the
    * per-doc energy array (`aggregate` with a (still-in-run, count)
    * state) — map-only per document, embarrassingly parallel,
    * shuffle-free (output order unspecified). */
  def qSilenceTrim(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val media: Dataset[MediaRow] = mediaTable(spark, sfDir)
      .filter(col("media_type") === "audio")
      .select(col("doc_id"), col("payload")).as[MediaRow]
    val silent = (e: Column) =>
      lit(2) * e * size(col("en")) < col("total_e")
    def leadingRun(flags: Column): Column =
      aggregate(flags,
        struct(lit(true).as("run"), lit(0).as("n")),
        (st, f) => struct(
          (st.getField("run") && f).as("run"),
          (st.getField("n") +
            when(st.getField("run") && f, 1).otherwise(0)).as("n")),
        st => st.getField("n"))
    media.mapPartitions { rows =>
      rows.map(m => EnergyRow(m.doc_id,
        StubCodec.frameEnergies(m.payload, TrimFrameBytes)))
    }.toDF()
      .filter(size(col("en")) >= 1)
      .withColumn("total_e",
        aggregate(col("en"), lit(0L), (acc, x) => acc + x))
      .withColumn("flags", transform(col("en"), e => silent(e)))
      .withColumn("head_silent", leadingRun(col("flags")))
      .withColumn("tail_silent", leadingRun(reverse(col("flags"))))
      .select(col("doc_id"),
        size(col("en")).as("n_frames"),
        col("total_e"),
        col("head_silent"), col("tail_silent"),
        (size(col("en")) - col("head_silent") - col("tail_silent"))
          .as("kept_frames"),
        expr(s"(size(en) - head_silent - tail_silent) * $TrimFrameBytes * 1000 DIV 16000")
          .cast("long").as("kept_ms"))
  }

  /** Frame energies over `hex(encode(text))` (the scene-cut oracle's
    * byte math at trim granularity); head/tail runs via min/max loud
    * frame index. */
  val qSilenceTrimOracle: String =
    s"""WITH m AS (
       |  SELECT doc_id, hex(encode(text)) AS h,
       |         CAST(octet_length(encode(text)) AS INT) AS nb
       |  FROM documents WHERE doc_id % 3 = 1),
       |v AS (SELECT doc_id, h, nb, nb // $TrimFrameBytes AS nf FROM m
       |      WHERE nb // $TrimFrameBytes >= 1),
       |en AS (
       |  SELECT v.doc_id, v.nf, f.f AS f,
       |    SUM(CAST('0x' || substr(v.h, 2*(f.f*$TrimFrameBytes + j.j) + 1, 2) AS INT)) AS e
       |  FROM v,
       |       unnest(generate_series(0, v.nf - 1)) AS f(f),
       |       unnest(generate_series(0, ${TrimFrameBytes - 1})) AS j(j)
       |  GROUP BY 1, 2, 3),
       |tot AS (SELECT doc_id, nf, SUM(e) AS total_e FROM en GROUP BY 1, 2),
       |loud AS (
       |  SELECT en.doc_id,
       |    MIN(en.f) AS first_loud, MAX(en.f) AS max_loud
       |  FROM en JOIN tot USING (doc_id)
       |  WHERE 2 * en.e * tot.nf >= tot.total_e
       |  GROUP BY 1)
       |SELECT t.doc_id, CAST(t.nf AS INT) AS n_frames,
       |  CAST(t.total_e AS BIGINT) AS total_e,
       |  CAST(l.first_loud AS INT) AS head_silent,
       |  CAST(t.nf - 1 - l.max_loud AS INT) AS tail_silent,
       |  CAST(l.max_loud - l.first_loud + 1 AS INT) AS kept_frames,
       |  CAST((l.max_loud - l.first_loud + 1) * $TrimFrameBytes * 1000 // 16000 AS BIGINT)
       |    AS kept_ms
       |FROM tot t JOIN loud l USING (doc_id)
       |ORDER BY t.doc_id""".stripMargin

  private val TileSize = 64

  /** Image tiling: each image fans out to its 64×64 tile grid with
    * clipped edge-tile dimensions — the work-item decomposition every
    * vision preprocessor (patch embedding, tiled decode, OCR) starts
    * from. Pure arithmetic from the metadata (`sequence`×`explode`,
    * declarative cardinality, whole-stage codegen); the payload column
    * is never read, so the scan stays metadata-only — at 100 TB the
    * tile PLAN costs nothing and only the selected tiles' bytes move. */
  def qImageTiles(spark: SparkSession, sfDir: String): DataFrame =
    mediaTable(spark, sfDir)
      .filter(col("media_type") === "image")
      .select(col("doc_id"),
        col("meta.width").as("width"), col("meta.height").as("height"))
      .withColumn("tx", explode(sequence(lit(0), expr(s"(width - 1) DIV $TileSize"))))
      .withColumn("ty", explode(sequence(lit(0), expr(s"(height - 1) DIV $TileSize"))))
      .select(col("doc_id"), col("width"), col("height"),
        col("tx").cast("int").as("tile_x"), col("ty").cast("int").as("tile_y"),
        least(lit(TileSize), col("width") - col("tx") * TileSize).cast("int").as("tile_w"),
        least(lit(TileSize), col("height") - col("ty") * TileSize).cast("int").as("tile_h"))

  val qImageTilesOracle: String =
    s"""WITH img AS (
       |  SELECT doc_id,
       |    CAST(doc_id % 4 * 160 + 320 AS INT) AS width,
       |    CAST(doc_id % 4 * 90 + 180 AS INT) AS height
       |  FROM documents WHERE doc_id % 3 = 0),
       |tx AS (SELECT doc_id, width, height,
       |  unnest(generate_series(0, (width - 1) // $TileSize)) AS tile_x FROM img),
       |txy AS (SELECT doc_id, width, height, tile_x,
       |  unnest(generate_series(0, (height - 1) // $TileSize)) AS tile_y FROM tx)
       |SELECT doc_id, width, height,
       |  CAST(tile_x AS INT) AS tile_x, CAST(tile_y AS INT) AS tile_y,
       |  CAST(least($TileSize, width - tile_x * $TileSize) AS INT) AS tile_w,
       |  CAST(least($TileSize, height - tile_y * $TileSize) AS INT) AS tile_h
       |FROM txy ORDER BY doc_id, tile_x, tile_y""".stripMargin

  /** The STUB codec's byte math, reproduced over DuckDB's
    * `hex(encode(text))` (two hex chars per payload byte): histogram
    * buckets are byte//32, the mean is an exact integer-sum ratio, and
    * the strided thumbnail samples byte i·max(1, n/16) for
    * i < min(16, n) — all integer arithmetic, so the stub-decode query
    * is a full hash-match, not rows-only. A real codec would revert
    * this to rows-only; the plumbing under test is identical. */
  val qDecodeFeaturesOracle: String =
    """WITH m AS (
      |  SELECT doc_id, hex(encode(text)) AS h,
      |         CAST(octet_length(encode(text)) AS INT) AS n
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, CAST('0x' || substr(h, 2*i - 1, 2) AS INT) AS byte
      |  FROM m, unnest(generate_series(1, n)) AS u(i)),
      |hist0 AS (
      |  SELECT doc_id, byte // 32 AS bkt, COUNT(*) AS c FROM b GROUP BY 1, 2),
      |kk AS (SELECT unnest(generate_series(0, 7)) AS k),
      |scaffold AS (SELECT doc_id, k FROM m CROSS JOIN kk),
      |hist AS (
      |  SELECT s.doc_id, string_agg(COALESCE(h0.c, 0), ',' ORDER BY s.k) AS hist_csv
      |  FROM scaffold s LEFT JOIN hist0 h0 ON h0.doc_id = s.doc_id AND h0.bkt = s.k
      |  GROUP BY s.doc_id),
      |mean AS (
      |  SELECT doc_id, round(CAST(SUM(byte) AS DOUBLE) / COUNT(*), 4) AS mean_byte_r
      |  FROM b GROUP BY doc_id),
      |th AS (
      |  SELECT m.doc_id,
      |         string_agg(CAST('0x' || substr(m.h, 2*(i.i * GREATEST(1, m.n // 16)) + 1, 2) AS INT),
      |                    ',' ORDER BY i.i) AS thumb_csv
      |  FROM m, unnest(generate_series(0, LEAST(16, m.n) - 1)) AS i(i)
      |  GROUP BY m.doc_id)
      |SELECT m.doc_id, m.n AS n_bytes,
      |  COALESCE(mean.mean_byte_r, 0.0) AS mean_byte_r,
      |  hist.hist_csv,
      |  COALESCE(th.thumb_csv, '') AS thumb_csv
      |FROM m
      |JOIN hist USING (doc_id)
      |LEFT JOIN mean USING (doc_id)
      |LEFT JOIN th USING (doc_id)
      |ORDER BY m.doc_id""".stripMargin

  // ---- 5. perceptual image near-dup (aHash over the stub thumbnail) ----

  // public: Spark's generated encoder code must reach this
  case class ThumbRow(doc_id: Long, thumb: Array[Int])

  // public: Spark's generated encoder code must reach this
  case class HashRow(doc_id: Long, phash: Long)

  /** 16-bit PERCEPTUAL fingerprint per IMAGE — a real DCT pHash
    * (r10): 8×8 strided downsample → 2-D integer DCT-II → 4×4
    * low-frequency block thresholded against the AC mean
    * ([[StubCodec.dctHash]] — the published pHash construction with
    * a shared integer cosine table, so both engines produce the
    * identical hash). Runs through the same mapPartitions decode
    * plumbing as [[qDecodeFeatures]]; only pixel DECODE stays
    * stubbed (payload bytes as grayscale). Images shorter than the
    * 64-sample window carry no hash (none exist in the fixture;
    * matches the oracle's n >= 64 filter). */
  private def phashes(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val media: Dataset[MediaRow] = mediaTable(spark, sfDir)
      .filter(col("media_type") === "image" && length(col("payload")) >= 64)
      .select(col("doc_id"), col("payload")).as[MediaRow]
    media.mapPartitions { rows =>
      rows.map(m => HashRow(m.doc_id, StubCodec.dctHash(m.payload)))
    }.toDF()
  }

  /** Image NEAR-dup pairs by perceptual hash: the multimodal member of
    * the dedup family (web-scale image corpora are full of re-encoded
    * or lightly-retouched copies an exact checksum misses). Candidates
    * come from the SimHash pigeonhole discipline — any two 16-bit
    * hashes within Hamming distance ≤ 1 agree exactly on one of their
    * two 8-bit chunks, so the candidate set is an EQUI-join on
    * (chunk_idx, chunk_value) and only candidates pay the exact
    * `bit_count(xor)` verification. Never a quadratic scan; candidate
    * volume scales with n²/2^width per chunk, the width being the
    * recall/cost knob exactly as in `DedupOps.qDedupSimhashHamming`.
    * Hamming 0 (identical fingerprint) is INCLUDED — for perceptual
    * hashes equality is the strongest near-dup signal, not an exact
    * dup already handled elsewhere. */
  def qPhashNearDup(spark: SparkSession, sfDir: String): DataFrame =
    hamming1Pairs(phashes(spark, sfDir).withColumnRenamed("phash", "fp"))

  /** Hamming ≤ 1 pairs over a 16-bit fingerprint column `fp` via the
    * SimHash pigeonhole discipline: two hashes within distance 1 agree
    * exactly on one of their two 8-bit chunks, so candidates are an
    * EQUI-join on (chunk_idx, chunk_value) and only candidates pay the
    * exact `bit_count(xor)` verification — never a quadratic scan.
    * Shared verbatim by the image (aHash) and audio (energy-delta)
    * near-dup members of the multimodal dedup family. */
  private def hamming1Pairs(fps: DataFrame): DataFrame = {
    val maxHamming = 1
    val chunks = fps.select(col("doc_id"), col("fp"),
        explode(sequence(lit(0), lit(1))).as("c"))
      .withColumn("cv", expr("(fp >> (c * 8)) & 255"))
    val cand = chunks.as("a")
      .join(chunks.as("b"),
        col("a.c") === col("b.c") && col("a.cv") === col("b.cv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("a.fp").as("ha"),
        col("b.doc_id").as("b_id"), col("b.fp").as("hb"))
      .distinct()
    cand
      .withColumn("hamming", bit_count(expr("ha ^ hb")).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming"))
  }

  // public: Spark's generated encoder code must reach this
  case class EnergyRow(doc_id: Long, en: Array[Long])

  /** 16-bit acoustic fingerprint per AUDIO doc: the payload framed
    * into 17 equal segments by the stub codec, each reduced to its
    * energy (unsigned byte sum); bit i is set when energy rises from
    * segment i to i+1. Temporal DELTA-SIGN coding — the shape of real
    * acoustic fingerprints (chromaprint's filter signs, Shazam's band
    * deltas), deliberately different from the image aHash's spatial
    * mean threshold: robust to gain (a constant offset cancels in the
    * delta) rather than to brightness. Pure integer compares — engine
    * exact. Docs shorter than 17 bytes have no fingerprint. */
  private def audioFingerprints(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val media: Dataset[MediaRow] = mediaTable(spark, sfDir)
      .filter(col("media_type") === "audio")
      .select(col("doc_id"), col("payload")).as[MediaRow]
    media.mapPartitions { rows =>
      rows.map(m => EnergyRow(m.doc_id, StubCodec.segEnergies(m.payload, 17)))
    }.toDF()
      .filter(size(col("en")) === 17)
      .select(col("doc_id"),
        aggregate(
          transform(sequence(lit(0), lit(15)), i =>
            when(element_at(col("en"), i + 2) > element_at(col("en"), i + 1),
              pow(lit(2.0), i).cast("long")).otherwise(lit(0L))),
          lit(0L), (acc, x) => acc + x).as("fp"))
  }

  /** Audio NEAR-dup pairs by acoustic fingerprint — the audio member
    * of the dedup family (re-encoded/re-gained copies of the same
    * recording collide here, not on a checksum). Same pigeonhole
    * candidate join + exact verification as the image path; Hamming 0
    * included for the same reason. */
  def qAudioFingerprintNearDup(spark: SparkSession, sfDir: String): DataFrame =
    hamming1Pairs(audioFingerprints(spark, sfDir))

  private val SceneFrameBytes = 64
  private val SceneCutFactor = 32 // cut when |Δe| > e_prev / 32 (~3%)

  /** VIDEO scene-cut detection: per-frame energies from the stub
    * codec (64-byte frames standing in for decoded luma planes), a
    * boundary is a CUT when the energy jumps by more than 1/32 of the
    * previous frame's — the integer form of the luma-delta threshold
    * every shot-boundary detector starts from. Emits every boundary
    * with its flag (the downstream sampler picks cut-aligned clips).
    * The per-frame fan-out is `transform`+`explode` over the energy
    * array — declarative cardinality, MAP-ONLY end to end (no window
    * function, no shuffle; output order unspecified): the previous
    * frame's energy is already adjacent in the array, so a 100 TB
    * video corpus scene-segments in a single scan. All integer
    * compares — engine-exact. */
  def qSceneCuts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val media: Dataset[MediaRow] = mediaTable(spark, sfDir)
      .filter(col("media_type") === "video")
      .select(col("doc_id"), col("payload")).as[MediaRow]
    media.mapPartitions { rows =>
      rows.map(m => EnergyRow(m.doc_id,
        StubCodec.frameEnergies(m.payload, SceneFrameBytes)))
    }.toDF()
      .filter(size(col("en")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("en")) - 1), f =>
          struct(f.as("frame_idx"),
            element_at(col("en"), f).as("e_prev"),
            element_at(col("en"), f + 1).as("e_cur")))).as("b"))
      .select(col("doc_id"),
        col("b.frame_idx").cast("int").as("frame_idx"),
        col("b.e_prev").as("e_prev"),
        col("b.e_cur").as("e_cur"),
        (abs(col("b.e_cur") - col("b.e_prev")) * SceneCutFactor >
          col("b.e_prev")).as("is_cut"))
  }

  /** Frame energies + boundary deltas over `hex(encode(text))`. */
  val qSceneCutsOracle: String =
    s"""WITH m AS (
       |  SELECT doc_id, hex(encode(text)) AS h,
       |         CAST(octet_length(encode(text)) AS INT) AS nb
       |  FROM documents WHERE doc_id % 3 = 2),
       |v AS (SELECT doc_id, h, nb, nb // $SceneFrameBytes AS nf FROM m
       |      WHERE nb // $SceneFrameBytes >= 2),
       |en AS (
       |  SELECT v.doc_id, f.f AS f,
       |    SUM(CAST('0x' || substr(v.h, 2*(f.f*$SceneFrameBytes + j.j) + 1, 2) AS INT)) AS e
       |  FROM v,
       |       unnest(generate_series(0, v.nf - 1)) AS f(f),
       |       unnest(generate_series(0, ${SceneFrameBytes - 1})) AS j(j)
       |  GROUP BY 1, 2)
       |SELECT a.doc_id, CAST(b.f AS INT) AS frame_idx,
       |  CAST(a.e AS BIGINT) AS e_prev, CAST(b.e AS BIGINT) AS e_cur,
       |  abs(b.e - a.e) * $SceneCutFactor > a.e AS is_cut
       |FROM en a JOIN en b ON b.doc_id = a.doc_id AND b.f = a.f + 1
       |ORDER BY a.doc_id, frame_idx""".stripMargin

  /** The DCT pHash + pigeonhole join reproduced byte-for-byte in
    * DuckDB over `hex(encode(text))`: same 8×8 strided downsample,
    * same 32-literal integer cosine table, same AC-mean
    * cross-multiply threshold, same chunk equi-join. */
  val qPhashNearDupOracle: String =
    """WITH m AS (
      |  SELECT doc_id, hex(encode(text)) AS h,
      |         CAST(octet_length(encode(text)) AS INT) AS nb
      |  FROM documents WHERE doc_id % 3 = 0 AND octet_length(encode(text)) >= 64),
      |dct(x, u, t) AS (VALUES
      |  (0,0,128), (0,1,126), (0,2,118), (0,3,106),
      |  (1,0,128), (1,1,106), (1,2,49), (1,3,-25),
      |  (2,0,128), (2,1,71), (2,2,-49), (2,3,-126),
      |  (3,0,128), (3,1,25), (3,2,-118), (3,3,-71),
      |  (4,0,128), (4,1,-25), (4,2,-118), (4,3,71),
      |  (5,0,128), (5,1,-71), (5,2,-49), (5,3,126),
      |  (6,0,128), (6,1,-106), (6,2,49), (6,3,25),
      |  (7,0,128), (7,1,-126), (7,2,118), (7,3,-106)),
      |t AS (
      |  SELECT m.doc_id, i.i AS i,
      |         CAST('0x' || substr(m.h, 2*(i.i * (m.nb // 64)) + 1, 2) AS INT) AS s
      |  FROM m, unnest(generate_series(0, 63)) AS i(i)),
      |co AS (
      |  SELECT t.doc_id, tu.u AS u, tv.u AS v,
      |         SUM(CAST(t.s AS BIGINT) * tu.t * tv.t) AS c
      |  FROM t
      |  JOIN dct tu ON tu.x = t.i // 8
      |  JOIN dct tv ON tv.x = t.i % 8
      |  GROUP BY 1, 2, 3),
      |ac AS (
      |  SELECT doc_id,
      |         SUM(CASE WHEN u = 0 AND v = 0 THEN 0 ELSE c END) AS sac
      |  FROM co GROUP BY 1),
      |ph AS (
      |  SELECT co.doc_id,
      |         CAST(SUM(CASE WHEN co.c * 15 > ac.sac
      |                       THEN CAST(1 AS BIGINT) << (co.u * 4 + co.v)
      |                       ELSE 0 END) AS BIGINT) AS phash
      |  FROM co JOIN ac USING (doc_id) GROUP BY 1),
      |ch AS (
      |  SELECT doc_id, phash, c.c AS c, (phash >> (c.c * 8)) & 255 AS cv
      |  FROM ph, (SELECT unnest(generate_series(0, 1)) AS c) c),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS a_id, a.phash AS ha,
      |                  b.doc_id AS b_id, b.phash AS hb
      |  FROM ch a JOIN ch b
      |    ON a.c = b.c AND a.cv = b.cv AND a.doc_id < b.doc_id)
      |SELECT a_id, b_id, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
      |FROM cand WHERE bit_count(xor(ha, hb)) <= 1
      |ORDER BY a_id, b_id""".stripMargin

  // public: Spark's generated encoder code must reach this
  case class FrameHashRow(doc_id: Long, frame: Int, phash: Long)

  /** Per-FRAME perceptual hashes of the video docs: the payload cut
    * into fixed 128-byte frames (the stub stand-in for decoded video
    * frames), each hashed with the SAME integer-DCT pHash the image
    * family uses ([[StubCodec.dctHash]]). 128 bytes → the 8×8
    * downsample strides every 2nd byte. */
  private def framePhashes(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val fb = 128
    val media: Dataset[MediaRow] = mediaTable(spark, sfDir)
      .filter(col("media_type") === "video" && length(col("payload")) >= fb)
      .select(col("doc_id"), col("payload")).as[MediaRow]
    media.mapPartitions { rows =>
      rows.flatMap { m =>
        val nf = m.payload.length / fb
        (0 until nf).iterator.map { f =>
          FrameHashRow(m.doc_id, f, StubCodec.dctHash(
            java.util.Arrays.copyOfRange(m.payload, f * fb, (f + 1) * fb)))
        }
      }
    }.toDF()
  }

  /** VIDEO near-dup mining at FRAME granularity — the cross-video
    * shared-footage detector (re-uploads, intros, stock clips):
    * near-identical frames BETWEEN different videos, found by the
    * same 16-bit pHash + pigeonhole equi-join as the image family,
    * with the key widened to (video, frame). Within-video pairs are
    * excluded (`a.doc_id < b.doc_id` — self-similarity is
    * [[qSceneCuts]]' job); candidate volume stays n²/2^width per
    * 8-bit chunk, never a quadratic frame scan. At 100 TB of video
    * this is the shape that matters: frames explode 10³× over docs,
    * so anything not an equi-join on a hash prefix is unrunnable. */
  def qFramePhashNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    val fps = framePhashes(spark, sfDir)
    val chunks = fps.select(col("doc_id"), col("frame"), col("phash"),
        explode(sequence(lit(0), lit(1))).as("c"))
      .withColumn("cv", expr("(phash >> (c * 8)) & 255"))
    val cand = chunks.as("a")
      .join(chunks.as("b"),
        col("a.c") === col("b.c") && col("a.cv") === col("b.cv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("a.frame").as("a_frame"),
        col("a.phash").as("ha"),
        col("b.doc_id").as("b_id"), col("b.frame").as("b_frame"),
        col("b.phash").as("hb"))
      .distinct()
    cand
      .withColumn("hamming", bit_count(expr("ha ^ hb")).cast("int"))
      .filter(col("hamming") <= 1)
      .select(col("a_id"), col("a_frame"), col("b_id"), col("b_frame"),
        col("hamming"))
  }

  /** VIDEO-level near-dup verdicts rolled up from the frame matches:
    * for each video pair with at least one matched frame, how many of
    * the smaller video's frames found a near-identical partner —
    * containment in permille (the re-upload / clip-embedding score;
    * 1000 = every frame of the shorter video appears in the longer).
    * Distinct matched frames are counted on the SMALLER side so a
    * single hot frame matching many partners can't inflate the score.
    * Pure rollup of the (already equi-join-mined) frame pair
    * relation plus a frames-per-video count join — metadata-sized
    * inputs at any corpus scale, integer permille (no float). */
  def qVideoDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = qFramePhashNearDup(spark, sfDir)
    val counts = framePhashes(spark, sfDir)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("nf"))
    pairs
      .groupBy(col("a_id"), col("b_id"))
      .agg(countDistinct(col("a_frame")).as("ma"),
        countDistinct(col("b_frame")).as("mb"))
      .join(counts.select(col("doc_id").as("a_id"), col("nf").as("nfa")), "a_id")
      .join(counts.select(col("doc_id").as("b_id"), col("nf").as("nfb")), "b_id")
      .select(col("a_id"), col("b_id"), col("nfa"), col("nfb"),
        when(col("nfa") <= col("nfb"), col("ma")).otherwise(col("mb"))
          .as("matched_min_side"),
        expr("(CASE WHEN nfa <= nfb THEN ma ELSE mb END) * 1000 DIV " +
          "(CASE WHEN nfa <= nfb THEN nfa ELSE nfb END)")
          .as("containment_pm"))
  }

  /** The frame slicing + integer-DCT pHash + pigeonhole join
    * reproduced in DuckDB over `hex(encode(text))`: frame f's 8×8
    * downsample reads bytes f·128 + 2i, i ∈ [0, 64). */
  val qFramePhashNearDupOracle: String =
    """WITH m AS (
      |  SELECT doc_id, hex(encode(text)) AS h,
      |         CAST(octet_length(encode(text)) AS INT) AS nb
      |  FROM documents
      |  WHERE doc_id % 3 = 2 AND octet_length(encode(text)) >= 128),
      |dct(x, u, t) AS (VALUES
      |  (0,0,128), (0,1,126), (0,2,118), (0,3,106),
      |  (1,0,128), (1,1,106), (1,2,49), (1,3,-25),
      |  (2,0,128), (2,1,71), (2,2,-49), (2,3,-126),
      |  (3,0,128), (3,1,25), (3,2,-118), (3,3,-71),
      |  (4,0,128), (4,1,-25), (4,2,-118), (4,3,71),
      |  (5,0,128), (5,1,-71), (5,2,-49), (5,3,126),
      |  (6,0,128), (6,1,-106), (6,2,49), (6,3,25),
      |  (7,0,128), (7,1,-126), (7,2,118), (7,3,-106)),
      |fr AS (
      |  SELECT doc_id, h, CAST(f.f AS INT) AS frame
      |  FROM m, unnest(generate_series(0, nb // 128 - 1)) AS f(f)),
      |t AS (
      |  SELECT fr.doc_id, fr.frame, i.i AS i,
      |         CAST('0x' || substr(fr.h, 2 * (fr.frame * 128 + i.i * 2) + 1, 2)
      |           AS INT) AS s
      |  FROM fr, unnest(generate_series(0, 63)) AS i(i)),
      |co AS (
      |  SELECT t.doc_id, t.frame, tu.u AS u, tv.u AS v,
      |         SUM(CAST(t.s AS BIGINT) * tu.t * tv.t) AS c
      |  FROM t
      |  JOIN dct tu ON tu.x = t.i // 8
      |  JOIN dct tv ON tv.x = t.i % 8
      |  GROUP BY 1, 2, 3, 4),
      |ac AS (
      |  SELECT doc_id, frame,
      |         SUM(CASE WHEN u = 0 AND v = 0 THEN 0 ELSE c END) AS sac
      |  FROM co GROUP BY 1, 2),
      |ph AS (
      |  SELECT co.doc_id, co.frame,
      |         CAST(SUM(CASE WHEN co.c * 15 > ac.sac
      |                       THEN CAST(1 AS BIGINT) << (co.u * 4 + co.v)
      |                       ELSE 0 END) AS BIGINT) AS phash
      |  FROM co JOIN ac USING (doc_id, frame) GROUP BY 1, 2),
      |ch AS (
      |  SELECT doc_id, frame, phash, c.c AS c, (phash >> (c.c * 8)) & 255 AS cv
      |  FROM ph, (SELECT unnest(generate_series(0, 1)) AS c) c),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS a_id, a.frame AS a_frame, a.phash AS ha,
      |                  b.doc_id AS b_id, b.frame AS b_frame, b.phash AS hb
      |  FROM ch a JOIN ch b
      |    ON a.c = b.c AND a.cv = b.cv AND a.doc_id < b.doc_id)
      |SELECT a_id, a_frame, b_id, b_frame,
      |  CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
      |FROM cand WHERE bit_count(xor(ha, hb)) <= 1
      |ORDER BY a_id, a_frame, b_id, b_frame""".stripMargin

  /** Same CTE chain as [[qFramePhashNearDupOracle]] with the final
    * rollup: matched-frame counts per video pair, frames-per-video
    * from the same 128-byte framing, containment in permille. */
  val qVideoDedupOracle: String = {
    val prefix = qFramePhashNearDupOracle
      .stripSuffix("""
SELECT a_id, a_frame, b_id, b_frame,
  CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= 1
ORDER BY a_id, a_frame, b_id, b_frame""")
    prefix + """,
      |pairs AS (
      |  SELECT a_id, a_frame, b_id, b_frame
      |  FROM cand WHERE bit_count(xor(ha, hb)) <= 1),
      |pm AS (
      |  SELECT a_id, b_id,
      |    CAST(COUNT(DISTINCT a_frame) AS BIGINT) AS ma,
      |    CAST(COUNT(DISTINCT b_frame) AS BIGINT) AS mb
      |  FROM pairs GROUP BY 1, 2),
      |nf AS (
      |  SELECT doc_id, CAST(nb // 128 AS BIGINT) AS nf FROM m)
      |SELECT pm.a_id, pm.b_id, fa.nf AS nfa, fb.nf AS nfb,
      |  CASE WHEN fa.nf <= fb.nf THEN ma ELSE mb END AS matched_min_side,
      |  (CASE WHEN fa.nf <= fb.nf THEN ma ELSE mb END) * 1000 //
      |    (CASE WHEN fa.nf <= fb.nf THEN fa.nf ELSE fb.nf END)
      |    AS containment_pm
      |FROM pm
      |JOIN nf fa ON fa.doc_id = pm.a_id
      |JOIN nf fb ON fb.doc_id = pm.b_id
      |ORDER BY a_id, b_id""".stripMargin
  }

  /** The segment-energy fingerprint + pigeonhole join reproduced in
    * DuckDB over `hex(encode(text))`: same stride = n/17 framing, same
    * unsigned byte sums, same rising-delta bit coding, same chunk
    * equi-join. */
  val qAudioFingerprintNearDupOracle: String =
    """WITH m AS (
      |  SELECT doc_id, hex(encode(text)) AS h,
      |         CAST(octet_length(encode(text)) AS INT) AS nb
      |  FROM documents WHERE doc_id % 3 = 1),
      |f AS (SELECT doc_id, h, nb, nb // 17 AS stride FROM m WHERE nb >= 17),
      |en AS (
      |  SELECT f.doc_id, s.s AS s,
      |         SUM(CAST('0x' || substr(f.h, 2*(s.s * f.stride + j.j) + 1, 2) AS INT)) AS e
      |  FROM f,
      |       unnest(generate_series(0, 16)) AS s(s),
      |       unnest(generate_series(0, f.stride - 1)) AS j(j)
      |  GROUP BY 1, 2),
      |fp AS (
      |  SELECT a.doc_id,
      |         CAST(SUM(CASE WHEN b.e > a.e THEN CAST(1 AS BIGINT) << a.s
      |                       ELSE 0 END) AS BIGINT) AS fp
      |  FROM en a JOIN en b ON b.doc_id = a.doc_id AND b.s = a.s + 1
      |  WHERE a.s < 16
      |  GROUP BY 1),
      |ch AS (
      |  SELECT doc_id, fp, c.c AS c, (fp >> (c.c * 8)) & 255 AS cv
      |  FROM fp, (SELECT unnest(generate_series(0, 1)) AS c) c),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS a_id, a.fp AS ha,
      |                  b.doc_id AS b_id, b.fp AS hb
      |  FROM ch a JOIN ch b
      |    ON a.c = b.c AND a.cv = b.cv AND a.doc_id < b.doc_id)
      |SELECT a_id, b_id, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
      |FROM cand WHERE bit_count(xor(ha, hb)) <= 1
      |ORDER BY a_id, b_id""".stripMargin

  /** The gated text×image pair body over an already-prepared
    * (doc_id, shingle) relation — shared by the miner and the recall
    * eval so the candidate definition cannot drift between them.
    * Returns (text_id, img_id, inter, nt, ni) rows passing the
    * integer-cross-multiplied Jaccard gate. */
  private def crossmodalGated(rel: DataFrame): DataFrame = {
    val counts = rel.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    rel.filter(col("doc_id") % 3 =!= 0).as("t")
      .join(rel.filter(col("doc_id") % 3 === 0).as("i"),
        col("t.shingle") === col("i.shingle"))
      .groupBy(col("t.doc_id").as("text_id"), col("i.doc_id").as("img_id"))
      .agg(count(lit(1)).as("inter"))
      .join(counts.withColumnRenamed("doc_id", "text_id")
        .withColumnRenamed("n", "nt"), "text_id")
      .join(counts.withColumnRenamed("doc_id", "img_id")
        .withColumnRenamed("n", "ni"), "img_id")
      .filter(col("inter") * 10 >= col("nt") + col("ni") - col("inter"))
  }

  /** CROSS-MODAL (text ↔ image) PAIR MINING — the alt-text/page-text
    * matching that builds image–caption corpora for vision-language
    * contrastive training (the public CLIP/LAION data-prep shape): a
    * TEXT document pairs with an IMAGE item when the document's
    * content overlaps the image's caption. Caption = the stub codec's
    * decode of the image payload (with the deterministic fixture
    * derivation, caption text IS the underlying document's text — so
    * the candidate generation, verification, and oracle are exact;
    * a real captioner slots into the caption projection without
    * touching the join shape, and this one oracle reverts to
    * rows-only).
    *
    * Scale shape: the same DF-capped inverted-index discipline as the
    * text near-dup miner — ONE shingle explode over the corpus
    * (`array_distinct` before explode, the shuffleless per-doc
    * dedup), rare-shingle cap (DF ≤ 20, the skew guard), one
    * equi-join on the shingle key restricted to (text-side ×
    * image-side) rows, per-pair intersection counts, and an integer
    * cross-multiplied Jaccard gate (10·inter ≥ union — no double
    * compare). Never all-pairs; a modality predicate on each join
    * side is the only delta from the unimodal miner. */
  def qCrossmodalPairs(spark: SparkSession, sfDir: String): DataFrame = QueryScope(spark) { scope =>
    val maxDf = 20
    val sh = DedupOps.shingles(graft.Tables.documents(spark, sfDir))
      .transform(scope.persist)
    val rare = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("shingle")
    // one kept relation serves both sides: with the stub codec the
    // image caption's shingles equal the source document's, so a
    // second decode+explode pass would scan the corpus twice to
    // produce identical rows (mediaTable pins media_type = image ⇔
    // doc_id % 3 = 0)
    val kept = sh.join(rare, "shingle")
      .transform(scope.persist)
    crossmodalGated(kept)
      .select(col("text_id"), col("img_id"), col("inter"),
        col("nt"), col("ni"),
        round(col("inter").cast("double") /
          (col("nt") + col("ni") - col("inter")), 6).as("jaccard_r"))
  }

  /** Bounded image sample for the recall eval's brute-force truth —
    * the multimodal mirror of [[SimilarityOps]]' `NumQueries`: at
    * 100 TB the exact side runs over this fixed sample only. */
  private val RecallImgCap = 900L

  /** CROSS-MODAL RECALL@K — the eval that closes the mining loop
    * (mirror of `sim_truncation_recall`): for each image in a BOUNDED
    * sample, the TRUE top-[[RecallK]] caption matches are ranked by
    * exact UNCAPPED shingle-Jaccard (brute-force truth: every text
    * sharing at least one shingle competes, no DF cap, no gate), and
    * recall measures how many of them the production miner
    * ([[qCrossmodalPairs]]'s DF-capped + gated candidate set, built
    * by the SHARED [[crossmodalGated]] body) actually surfaced. This
    * is the number that justifies the DF-cap/threshold choices the
    * way `dedup_lsh_band_tuning` justifies band geometry.
    *
    * Scale shape: the truth side is the expensive exact citizen,
    * bounded by the image sample ([[RecallImgCap]]) — shared-shingle
    * equi-join only, never all-pairs; the candidate side is the
    * production miner's own plan. Ranking divides exact integers in
    * IEEE doubles (correctly-rounded in both engines, text_id
    * tiebreak). */
  def qCrossmodalRecall(spark: SparkSession, sfDir: String): DataFrame = QueryScope(spark) { scope =>
    import org.apache.spark.sql.expressions.Window
    val k = 3
    val sh = DedupOps.shingles(graft.Tables.documents(spark, sfDir))
      .transform(scope.persist)
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val truth = sh.filter(col("doc_id") % 3 =!= 0).as("t")
      .join(sh.filter(col("doc_id") % 3 === 0 &&
          col("doc_id") < RecallImgCap).as("i"),
        col("t.shingle") === col("i.shingle"))
      .groupBy(col("t.doc_id").as("text_id"), col("i.doc_id").as("img_id"))
      .agg(count(lit(1)).as("inter"))
      .join(counts.withColumnRenamed("doc_id", "text_id")
        .withColumnRenamed("n", "nt"), "text_id")
      .join(counts.withColumnRenamed("doc_id", "img_id")
        .withColumnRenamed("n", "ni"), "img_id")
      .withColumn("j", col("inter").cast("double") /
        (col("nt") + col("ni") - col("inter")))
      .withColumn("rk", row_number().over(Window.partitionBy(col("img_id"))
        .orderBy(col("j").desc, col("text_id"))))
      .filter(col("rk") <= k)
      .select(col("img_id"), col("text_id"))
      // r17: truth feeds TWO consumers (the overlap semi-join and the
      // per-image n_true rollup); unpersisted, each re-ran the whole
      // exact truth subtree — the uncapped shingle self-join, the
      // query's dominant cost. The relation itself is bounded
      // (≤ RecallImgCap × k rows), so caching it is free and the
      // expensive exact side computes once per run (guide §5).
      .transform(scope.persist)
    val rare = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= 20).select("shingle")
    val mined = crossmodalGated(sh.join(rare, "shingle"))
      .select("text_id", "img_id")
    val overlap = truth.join(mined, Seq("text_id", "img_id"), "left_semi")
      .groupBy(col("img_id")).agg(count(lit(1)).as("overlap"))
    truth.groupBy(col("img_id")).agg(count(lit(1)).as("n_true"))
      .join(overlap, Seq("img_id"), "left")
      .select(col("img_id"), col("n_true"),
        coalesce(col("overlap"), lit(0L)).as("overlap"),
        round(coalesce(col("overlap"), lit(0L)) /
          col("n_true").cast("double"), 6).as("recall_r"))
  }

  val qCrossmodalRecallOracle: String =
    """WITH sh AS (
      |  SELECT DISTINCT doc_id, ts[g] || ' ' || ts[g+1] || ' ' || ts[g+2] AS shingle
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents) t,
      |       unnest(generate_series(1, len(ts)-2)) AS u(g)),
      |sc AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      |tp AS (
      |  SELECT t.doc_id AS text_id, i.doc_id AS img_id, COUNT(*) AS inter
      |  FROM sh t JOIN sh i ON t.shingle = i.shingle
      |  WHERE t.doc_id % 3 != 0 AND i.doc_id % 3 = 0 AND i.doc_id < 900
      |  GROUP BY 1, 2),
      |tr AS (
      |  SELECT img_id, text_id,
      |    row_number() OVER (PARTITION BY img_id
      |      ORDER BY CAST(inter AS DOUBLE) / (a.n + b.n - inter) DESC,
      |               text_id) AS rk
      |  FROM tp JOIN sc a ON a.doc_id = text_id JOIN sc b ON b.doc_id = img_id),
      |truth AS (SELECT img_id, text_id FROM tr WHERE rk <= 3),
      |rare AS (SELECT shingle FROM sh GROUP BY 1 HAVING COUNT(*) <= 20),
      |kept AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
      |kc AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY 1),
      |mp AS (
      |  SELECT t.doc_id AS text_id, i.doc_id AS img_id, COUNT(*) AS inter
      |  FROM kept t JOIN kept i ON t.shingle = i.shingle
      |  WHERE t.doc_id % 3 != 0 AND i.doc_id % 3 = 0
      |  GROUP BY 1, 2),
      |mined AS (
      |  SELECT text_id, img_id FROM mp
      |  JOIN kc a ON a.doc_id = text_id
      |  JOIN kc b ON b.doc_id = img_id
      |  WHERE inter * 10 >= a.n + b.n - inter),
      |ov AS (
      |  SELECT t.img_id, COUNT(*) AS c
      |  FROM truth t JOIN mined m
      |    ON m.text_id = t.text_id AND m.img_id = t.img_id
      |  GROUP BY 1),
      |nt AS (SELECT img_id, COUNT(*) AS n_true FROM truth GROUP BY 1)
      |SELECT nt.img_id, nt.n_true, COALESCE(ov.c, 0) AS overlap,
      |  round(COALESCE(ov.c, 0) / CAST(nt.n_true AS DOUBLE), 6) AS recall_r
      |FROM nt LEFT JOIN ov USING (img_id)
      |ORDER BY img_id""".stripMargin

  /** Same shingle CTEs as the unimodal miner + the modality split. */
  val qCrossmodalPairsOracle: String =
    """WITH sh AS (
      |  SELECT DISTINCT doc_id, ts[g] || ' ' || ts[g+1] || ' ' || ts[g+2] AS shingle
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents) t,
      |       unnest(generate_series(1, len(ts)-2)) AS u(g)),
      |rare AS (SELECT shingle FROM sh GROUP BY 1 HAVING COUNT(*) <= 20),
      |kept AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
      |sc AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY 1),
      |p AS (
      |  SELECT t.doc_id AS text_id, i.doc_id AS img_id, COUNT(*) AS inter
      |  FROM kept t JOIN kept i ON t.shingle = i.shingle
      |  WHERE t.doc_id % 3 != 0 AND i.doc_id % 3 = 0
      |  GROUP BY 1, 2)
      |SELECT text_id, img_id, inter, a.n AS nt, b.n AS ni,
      |  round(CAST(inter AS DOUBLE) / (a.n + b.n - inter), 6) AS jaccard_r
      |FROM p
      |JOIN sc a ON a.doc_id = text_id
      |JOIN sc b ON b.doc_id = img_id
      |WHERE inter * 10 >= a.n + b.n - inter
      |ORDER BY text_id, img_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_crossmodal_pairs" -> (qCrossmodalPairs _),
    "mm_crossmodal_recall" -> (qCrossmodalRecall _),
    "mm_scene_cuts" -> (qSceneCuts _),
    "mm_silence_trim" -> (qSilenceTrim _),
    "mm_blur_scores" -> (qBlurScores _),
    "mm_audio_fingerprint_neardup" -> (qAudioFingerprintNearDup _),
    "mm_phash_neardup" -> (qPhashNearDup _),
    "mm_frame_phash_neardup" -> (qFramePhashNearDup _),
    "mm_video_dedup" -> (qVideoDedup _),
    "mm_metadata" -> (qMetadata _),
    "mm_decode_features" -> (qDecodeFeatures _),
    "mm_frame_sample" -> (qFrameSample _),
    "mm_audio_windows" -> (qAudioWindows _),
    "mm_image_tiles" -> (qImageTiles _))

  val oracles: Map[String, String] = Map(
    "mm_crossmodal_pairs" -> qCrossmodalPairsOracle,
    "mm_crossmodal_recall" -> qCrossmodalRecallOracle,
    "mm_scene_cuts" -> qSceneCutsOracle,
    "mm_silence_trim" -> qSilenceTrimOracle,
    "mm_blur_scores" -> qBlurScoresOracle,
    "mm_audio_fingerprint_neardup" -> qAudioFingerprintNearDupOracle,
    "mm_phash_neardup" -> qPhashNearDupOracle,
    "mm_frame_phash_neardup" -> qFramePhashNearDupOracle,
    "mm_video_dedup" -> qVideoDedupOracle,
    "mm_metadata" -> qMetadataOracle,
    "mm_decode_features" -> qDecodeFeaturesOracle,
    "mm_frame_sample" -> qFrameSampleOracle,
    "mm_audio_windows" -> qAudioWindowsOracle,
    "mm_image_tiles" -> qImageTilesOracle)
}
