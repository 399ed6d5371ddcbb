package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.PolyHash

import QueryDef.table
import graft.queries.Staged

/** Multimodal-column plumbing over `documents`: binary casting,
  * byte-level metadata, content hashing, frame sampling, and REAL image
  * decode (mm3 — JDK javax.imageio, see [[graft.operators.Multimodal]]).
  * The Column-expression paths carry full DuckDB oracles; mm3's oracle
  * works because the PNG bytes are generated with arithmetically-known
  * dims, so DuckDB recomputes the ground truth without decoding — a
  * wrong decode hash-mismatches.
  */
object MultimodalQueries {

  /** mm9's perceptual-hash near-dup pair pipeline, shared with mm12's
    * cluster step. The sketch table feeds both band sides of the pair
    * join — and each sketch row costs a PNG encode + a real ImageIO
    * decode, so it is staged once under the session lifecycle rather
    * than re-rasterized per consumer (unstaged, the sf0.1 run measured
    * 38.7 s vs 5.7 s staged). Sketches stay 64-bit LONGS end to end:
    * banding and popcount verify are native codegen'd expressions
    * (Dedup.hammingPairsFromLongs, the Hamming join d3 shares).
    */
  private def mm9Pairs(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val docs = QueryDef.docManifest(s, dir)
    val sketches = Staged.cached(s, s"mm9sketch:$dir") {
      docs.mapPartitions(_.flatMap { case (id, nChars) =>
        val w = 9 + (id % 8).toInt
        val h = 8 + (nChars % 8).toInt
        val base = graft.operators.Multimodal.dHash(
          graft.operators.Multimodal.encodePngMixed(w, h, id))
        val twin = graft.operators.Multimodal.dHash(
          graft.operators.Multimodal.encodePngMixed(w, h, id, invertFirst = true))
        base.map(b => (id, b._3)) ++ twin.map(t => (id + 1000000L, t._3))
      }).toDF("__id", "__h")
    }
    graft.operators.Dedup.hammingPairsFromLongs(sketches, "__id", "__h", maxDist = 3)
  }

  val defs: Map[String, QueryDef] = Map(

    // REAL image decode: per-row deterministic PNG (dims derived from
    // doc_id / n_chars) encoded AND header-decoded with JDK ImageIO
    // inside one mapPartitions pass — bytes never leave the partition,
    // only (id, meta) rows move. The oracle recomputes the dims
    // arithmetically: a decode bug cannot hash-match.
    "mm3_image_decode" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val docs = QueryDef.docManifest(s, dir)
        val blobs = docs.map { case (id, nChars) =>
          (id, graft.operators.Multimodal.encodePng(
            1 + (id % 16).toInt, 1 + (nChars % 16).toInt, id))
        }
        graft.operators.Multimodal.decodeAll(s, blobs).toDF()
          .select(col("id").as("doc_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("channels").cast("long").as("channels"),
            col("format"))
      },
      Some("""SELECT doc_id,
             |  CAST(1 + doc_id % 16 AS BIGINT) AS width,
             |  CAST(1 + n_chars % 16 AS BIGINT) AS height,
             |  CAST(3 AS BIGINT) AS channels,
             |  'image/png' AS format
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // REAL audio header decode: per-row deterministic 16-bit PCM WAV
    // (channels/rate/frames derived from doc_id / n_chars) encoded with
    // the JDK WAV writer and header-decoded with javax.sound.sampled in
    // one partition-local pass. The oracle recomputes every field
    // arithmetically, including the RIFF byte size (44-byte header +
    // frames*channels*2) — a decode bug cannot hash-match.
    "mm4_audio_decode" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val docs = QueryDef.docManifest(s, dir)
        val metas = docs.mapPartitions(_.flatMap { case (id, nChars) =>
          val bytes = graft.operators.Multimodal.encodeWav(
            channels = 1 + (id % 2).toInt,
            sampleRateHz = 8000 * (1 + (id % 3).toInt),
            nFrames = 1 + (nChars % 500).toInt, seed = id)
          graft.operators.Multimodal.decodeAudio(id, bytes)
        })
        metas.toDF()
          .select(col("id").as("doc_id"),
            col("nBytes").as("n_bytes"),
            col("channels").cast("long").as("channels"),
            col("sampleRateHz").cast("long").as("sample_rate_hz"),
            col("nFrames").as("n_frames"),
            col("format"))
      },
      Some("""SELECT doc_id,
             |  CAST(44 + (1 + n_chars % 500) * (1 + doc_id % 2) * 2 AS BIGINT) AS n_bytes,
             |  CAST(1 + doc_id % 2 AS BIGINT) AS channels,
             |  CAST(8000 * (1 + doc_id % 3) AS BIGINT) AS sample_rate_hz,
             |  CAST(1 + n_chars % 500 AS BIGINT) AS n_frames,
             |  'audio/wav' AS format
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // REAL pixel processing: full-raster ImageIO decode + nearest-
    // neighbor resample to 4x4 in one partition-local pass. The PNGs
    // use the position-addressable pixel pattern (Multimodal.addrPixel),
    // so the oracle recomputes the resampled checksum arithmetically
    // without decoding — a raster or index-arithmetic bug cannot
    // hash-match. This is the op beyond header decode: actual pixels.
    "mm6_image_resize" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val docs = QueryDef.docManifest(s, dir)
        val rows = docs.mapPartitions(_.flatMap { case (id, nChars) =>
          val bytes = graft.operators.Multimodal.encodePngAddr(
            1 + (id % 16).toInt, 1 + (nChars % 16).toInt, id)
          graft.operators.Multimodal.resizeNearest(bytes, 4, 4)
            .map { case (w, h, sum) => (id, w.toLong, h.toLong, sum) }
        })
        rows.toDF("doc_id", "in_w", "in_h", "checksum")
      },
      Some("""WITH dims AS (
             |  SELECT doc_id, 1 + doc_id % 16 AS w, 1 + n_chars % 16 AS h
             |  FROM documents),
             |px AS (
             |  SELECT doc_id, w, h,
             |    (((doc_id % 1000003) * 31
             |      + ((j.j * h // 4) * w + (i.i * w // 4))) * 2654435761)
             |      % 16777216 AS p
             |  FROM dims CROSS JOIN range(0, 4) i(i) CROSS JOIN range(0, 4) j(j))
             |SELECT doc_id, CAST(any_value(w) AS BIGINT) AS in_w,
             |  CAST(any_value(h) AS BIGINT) AS in_h,
             |  CAST(sum(p) AS BIGINT) AS checksum
             |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // REAL perceptual image hash (dHash) over decoded rasters: the
    // image near-dup primitive — generate the addressable PNG, decode
    // it with ImageIO for real, gray-downsample 9x8 by nearest-neighbor
    // index arithmetic, difference-hash to 64 bits. Emitted as two
    // 32-bit halves so the oracle's register arithmetic never touches
    // the BIGINT sign bit. Oracle recomputes the sampled pixels, integer
    // milli-luma, and bit pack from the addrPixel formula — the decode
    // path is real, the pixels are arithmetic.
    "mm7_image_phash" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val docs = QueryDef.docManifest(s, dir)
        val rows = docs.mapPartitions(_.flatMap { case (id, nChars) =>
          val bytes = graft.operators.Multimodal.encodePngAddr(
            1 + (id % 16).toInt, 1 + (nChars % 16).toInt, id)
          graft.operators.Multimodal.dHash(bytes).map { case (w, h, hash) =>
            (id, w.toLong, h.toLong, hash >>> 32, hash & 0xffffffffL)
          }
        })
        rows.toDF("doc_id", "w", "h", "phash_hi", "phash_lo")
      },
      Some("""WITH dims AS (
             |  SELECT doc_id, 1 + doc_id % 16 AS w, 1 + n_chars % 16 AS h
             |  FROM documents),
             |px AS (
             |  SELECT doc_id, j.r AS r, i.c AS c,
             |    (((doc_id % 1000003) * 31
             |      + ((j.r * h // 8) * w + (i.c * w // 9))) * 2654435761)
             |      % 16777216 AS p
             |  FROM dims CROSS JOIN range(0, 9) i(c) CROSS JOIN range(0, 8) j(r)),
             |lum AS (
             |  SELECT doc_id, r, c,
             |    299 * ((p // 65536) % 256) + 587 * ((p // 256) % 256)
             |      + 114 * (p % 256) AS l
             |  FROM px),
             |bits AS (
             |  SELECT a.doc_id, a.r, a.c,
             |    CASE WHEN a.l < b.l THEN 1 ELSE 0 END AS bit
             |  FROM lum a JOIN lum b
             |    ON a.doc_id = b.doc_id AND a.r = b.r AND b.c = a.c + 1
             |  WHERE a.c < 8),
             |hs AS (
             |  SELECT doc_id,
             |    sum(CASE WHEN r * 8 + c >= 32
             |      THEN bit * (CAST(1 AS BIGINT) << CAST(r * 8 + c - 32 AS INTEGER))
             |      ELSE 0 END) AS hi,
             |    sum(CASE WHEN r * 8 + c < 32
             |      THEN bit * (CAST(1 AS BIGINT) << CAST(r * 8 + c AS INTEGER))
             |      ELSE 0 END) AS lo
             |  FROM bits GROUP BY 1)
             |SELECT d.doc_id, CAST(d.w AS BIGINT) AS w, CAST(d.h AS BIGINT) AS h,
             |  CAST(hs.hi AS BIGINT) AS phash_hi, CAST(hs.lo AS BIGINT) AS phash_lo
             |FROM dims d JOIN hs USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // REAL image statistics over full decoded rasters: generate the
    // addressable PNG, decode it with ImageIO for real, and compute
    // the 16-bin integer milli-luma histogram summary — min/max luma,
    // dominant bin (highest count, lowest-bin tie-break), and the
    // flat-image flag (the blank/broken-image filter every image
    // ingest pipeline runs before spending embedding compute). The
    // oracle recomputes every pixel's luma, bin, and the per-doc
    // argmax from the addrPixel formula — the decode path is real,
    // the pixels are arithmetic, and a histogram or tie-break bug
    // cannot hash-match. Partition-local batched decode; one row out
    // per image, no shuffle before the final orderBy.
    "mm11_image_stats" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val docs = QueryDef.docManifest(s, dir)
        val rows = docs.mapPartitions(_.flatMap { case (id, nChars) =>
          val bytes = graft.operators.Multimodal.encodePngAddr(
            1 + (id % 16).toInt, 1 + (nChars % 16).toInt, id)
          graft.operators.Multimodal.lumaStats(bytes).map {
            case (w, h, nPx, lo, hi, dom, nDom, flat) =>
              (id, w.toLong, h.toLong, nPx, lo, hi, dom.toLong, nDom,
                if (flat) 1L else 0L)
          }
        })
        rows.toDF("doc_id", "w", "h", "n_px", "lum_min", "lum_max",
            "dom_bin", "n_dom", "is_flat")
      },
      Some("""WITH dims AS (
             |  SELECT doc_id, 1 + doc_id % 16 AS w, 1 + n_chars % 16 AS h
             |  FROM documents),
             |px AS (
             |  SELECT doc_id, w, h,
             |    (((doc_id % 1000003) * 31 + t.pos) * 2654435761)
             |      % 16777216 AS p
             |  FROM dims, UNNEST(range(0, w * h)) AS t(pos)),
             |lum AS (
             |  SELECT doc_id, w, h,
             |    299 * ((p // 65536) % 256) + 587 * ((p // 256) % 256)
             |      + 114 * (p % 256) AS l
             |  FROM px),
             |binned AS (
             |  SELECT doc_id, least(15, l * 16 // 255000) AS bin, count(*) AS n
             |  FROM lum GROUP BY 1, 2),
             |dom AS (
             |  SELECT doc_id, bin, n,
             |    row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, bin) AS rn
             |  FROM binned),
             |mm AS (
             |  SELECT doc_id, any_value(w) AS w, any_value(h) AS h,
             |    count(*) AS n_px, min(l) AS lum_min, max(l) AS lum_max
             |  FROM lum GROUP BY 1)
             |SELECT mm.doc_id, CAST(mm.w AS BIGINT) AS w,
             |  CAST(mm.h AS BIGINT) AS h, CAST(mm.n_px AS BIGINT) AS n_px,
             |  CAST(mm.lum_min AS BIGINT) AS lum_min,
             |  CAST(mm.lum_max AS BIGINT) AS lum_max,
             |  CAST(dom.bin AS BIGINT) AS dom_bin,
             |  CAST(dom.n AS BIGINT) AS n_dom,
             |  CAST(CASE WHEN mm.lum_max - mm.lum_min < 10000
             |    THEN 1 ELSE 0 END AS BIGINT) AS is_flat
             |FROM mm JOIN dom ON mm.doc_id = dom.doc_id AND dom.rn = 1
             |ORDER BY mm.doc_id""".stripMargin)),

    // REAL audio fingerprint over decoded PCM: generate the
    // addressable WAV, decode it with javax.sound for real, bin the
    // frames into 9 windows, integer energy per bin, 8-bit
    // rising/falling contour — the audio near-dup primitive. Oracle
    // recomputes samples, bin assignment, energies, and the contour
    // from the addrSample formula; the decode path is real, the
    // samples are arithmetic.
    "mm8_audio_fingerprint" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val docs = QueryDef.docManifest(s, dir)
        val rows = docs.mapPartitions(_.flatMap { case (id, nChars) =>
          val ch = 1 + (id % 2).toInt
          val nf = 64 + (nChars % 256).toInt
          val bytes = graft.operators.Multimodal.encodeWavAddr(ch, 8000, nf, id)
          graft.operators.Multimodal.audioFingerprint(bytes).map {
            case (c, f, contour, energy) => (id, c.toLong, f, contour, energy)
          }
        })
        rows.toDF("doc_id", "channels", "n_frames", "contour", "energy")
      },
      Some("""WITH dims AS (
             |  SELECT doc_id, 1 + doc_id % 2 AS cc, 64 + n_chars % 256 AS nf
             |  FROM documents),
             |smp AS (
             |  SELECT doc_id, cc, nf, i,
             |    ((((doc_id % 1000003) * 37 + i) * 2654435761) % 65536)
             |      - 32768 AS s,
             |    ((i // cc) * 9) // nf AS b
             |  FROM dims, unnest(range(0, nf * cc)) AS t(i)),
             |eb AS (
             |  SELECT doc_id, b, sum(s * s) AS e
             |  FROM smp GROUP BY 1, 2),
             |ct AS (
             |  SELECT a.doc_id,
             |    sum(CASE WHEN a.e < c.e
             |      THEN CAST(1 AS BIGINT) << CAST(a.b AS INTEGER) ELSE 0 END)
             |      AS contour
             |  FROM eb a JOIN eb c ON a.doc_id = c.doc_id AND c.b = a.b + 1
             |  WHERE a.b < 8 GROUP BY 1),
             |tot AS (SELECT doc_id, sum(e) AS energy FROM eb GROUP BY 1)
             |SELECT d.doc_id, CAST(d.cc AS BIGINT) AS channels,
             |  CAST(d.nf AS BIGINT) AS n_frames,
             |  CAST(ct.contour AS BIGINT) AS contour,
             |  CAST(tot.energy AS BIGINT) AS energy
             |FROM dims d JOIN ct USING (doc_id) JOIN tot USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    // REAL video container metadata: per-row deterministic minimal MP4
    // (ISO-BMFF ftyp+moov(mvhd+trak(tkhd))+mdat, dims/duration derived
    // from doc_id / n_chars) parsed back by the box-walking decoder in
    // one partition-local pass. Oracle recomputes all fields
    // arithmetically (the box tree is fixed-size: 240 bytes).
    // REAL PNG tEXt caption extraction — the image-text PAIR
    // construction step of a multimodal training pipeline: captions
    // travel inside the container (tEXt "Description" chunk) and are
    // harvested at ingest WITHOUT materializing pixels (the JDK
    // metadata tree parses chunk structure only). Captions here are
    // deterministic ASCII from (doc_id, n_chars), so the oracle
    // recomputes every extracted string + header dims arithmetically —
    // a chunk-walk bug cannot hash-match.
    "mm16_png_captions" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val docs = QueryDef.docManifest(s, dir)
        val metas = docs.mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.flatMap { case (id, nChars) =>
            val bytes = graft.operators.Multimodal.encodePngCaptioned(
              8 + (id % 5).toInt, 8 + (nChars % 3).toInt, id,
              s"doc $id len $nChars")
            graft.operators.Multimodal.pngCaption(bytes)
              .map { case (w, h, cap) => (id, w.toLong, h.toLong, cap) }
          }
        }
        metas.toDF("doc_id", "width", "height", "caption")
          .withColumn("caption_chars", length(col("caption")).cast("long"))
      },
      Some("""SELECT doc_id,
             |  CAST(8 + doc_id % 5 AS BIGINT) AS width,
             |  CAST(8 + n_chars % 3 AS BIGINT) AS height,
             |  'doc ' || doc_id || ' len ' || n_chars AS caption,
             |  CAST(length('doc ' || doc_id || ' len ' || n_chars) AS BIGINT)
             |    AS caption_chars
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // REAL decode + ViT-style patch extraction: per-doc PNGs (position-
    // addressable addrPixel raster) decoded with ImageIO and cut into
    // the non-overlapping 8×8 patch grid — one row per patch with the
    // tile's 24-bit pixel checksum (the tensorization step before a
    // vision encoder; the multimodal analog of t24's RAG chunking).
    // The oracle recomputes every tile sum from the pixel formula: a
    // decode or index-arithmetic bug in any single tile cannot
    // hash-match.
    "mm15_image_patches" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val docs = QueryDef.docManifest(s, dir)
        val patches = docs.mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.flatMap { case (id, nChars) =>
            val w = 16 + (id % 3).toInt * 8
            val h = 16 + (nChars % 2).toInt * 8
            val bytes = graft.operators.Multimodal.encodePngAddr(w, h, id)
            graft.operators.Multimodal.imagePatches(bytes).toSeq.flatten
              .map { case (pr, pc, sum) => (id, pr.toLong, pc.toLong, sum) }
          }
        }
        patches.toDF("doc_id", "patch_row", "patch_col", "pixel_checksum")
      },
      Some("""WITH geo AS (SELECT doc_id, 16 + doc_id % 3 * 8 AS w,
             |    16 + n_chars % 2 * 8 AS h
             |  FROM documents),
             |pt AS (SELECT doc_id, w, h, pr, pc
             |  FROM geo, UNNEST(range(0, h // 8)) AS a(pr),
             |    UNNEST(range(0, w // 8)) AS b(pc)),
             |px AS (SELECT doc_id, pr, pc,
             |    ((doc_id % 1000003) * 31 + (pr * 8 + dy) * w + pc * 8 + dx)
             |      * 2654435761 % 16777216 AS v
             |  FROM pt, UNNEST(range(0, 8)) AS c(dy), UNNEST(range(0, 8)) AS d(dx))
             |SELECT doc_id, CAST(pr AS BIGINT) AS patch_row,
             |  CAST(pc AS BIGINT) AS patch_col,
             |  CAST(sum(v) AS BIGINT) AS pixel_checksum
             |FROM px GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // REAL animated-GIF frame extraction: per-doc multi-frame GIFs
    // (grayscale — GIF's 256-entry palette holds 256 grays exactly, so
    // the round-trip is bit-exact where RGB would quantize), decoded
    // frame by frame with the JDK ImageIO GIF reader in one
    // partition-local pass. One output row per (doc, frame) with the
    // decoded luma checksum; the oracle recomputes frame count, dims,
    // and every checksum from the grayPixel formula — a reader that
    // drops a frame or mis-decodes one pixel cannot hash-match. This
    // is mm2's frame sampling upgraded from offset arithmetic to REAL
    // frames out of a real animated container.
    "mm14_gif_frames" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val docs = QueryDef.docManifest(s, dir)
        val frames = docs.mapPartitions(_.flatMap { case (id, nChars) =>
          val w = 8 + (id % 9).toInt
          val h = 8 + (nChars % 7).toInt
          val nf = 2 + (id % 5).toInt
          val bytes = graft.operators.Multimodal.encodeGifAnimated(w, h, nf, id)
          graft.operators.Multimodal.gifFrames(bytes).toSeq.flatten
            .map { case (f, fw, fh, sum) => (id, f.toLong, fw.toLong, fh.toLong, sum) }
        })
        frames.toDF("doc_id", "frame_ix", "width", "height", "luma_checksum")
      },
      Some("""WITH geo AS (SELECT doc_id, 8 + doc_id % 9 AS w,
             |    8 + n_chars % 7 AS h, 2 + doc_id % 5 AS nf
             |  FROM documents),
             |fr AS (SELECT doc_id, w, h, f FROM geo, UNNEST(range(0, nf)) AS t(f)),
             |px AS (SELECT doc_id, f, w, h,
             |    ((doc_id % 1000003) * 131 + f * 31 + p) % 1000003
             |      * 2654435761 % 256 AS g
             |  FROM fr, UNNEST(range(0, w * h)) AS t2(p))
             |SELECT doc_id, CAST(f AS BIGINT) AS frame_ix,
             |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(sum(g) AS BIGINT) AS luma_checksum
             |FROM px GROUP BY 1, 2, 3, 4 ORDER BY 1, 2""".stripMargin)),

    // Scene-cut segmentation over REAL animated-GIF decode (mm14's
    // temporal sibling): per video, decode every frame, lag the exact
    // per-frame luma sums, declare a cut where the mean-luma delta
    // exceeds a tenth of full scale (|Δsum|·10 > w·h·128 — exact
    // integers), report frames/cuts/scenes/max delta — the keyframe-
    // selection pass before a vision encoder samples one frame per
    // scene. Decode is partition-local; the lag window is per-doc over
    // ≤10 frame rows. The oracle recomputes every frame sum from the
    // fixture's pixel formula and replays the lag + threshold: a
    // decoder that merges, drops, or reorders one frame cannot match.
    "mm21_scene_cuts" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val docs = QueryDef.docManifest(s, dir)
        val frames = docs.mapPartitions(_.flatMap { case (id, nChars) =>
          val w = 8 + (id % 9).toInt
          val h = 8 + (nChars % 7).toInt
          val nf = 4 + (id % 7).toInt
          val bytes = graft.operators.Multimodal.encodeGifAnimated(w, h, nf, id)
          graft.operators.Multimodal.gifFrames(bytes).toSeq.flatten
            .map { case (f, fw, fh, sum) => (id, f.toLong, fw.toLong, fh.toLong, sum) }
        })
        val wOrd = Window.partitionBy("doc_id").orderBy("frame_ix")
        frames.toDF("doc_id", "frame_ix", "width", "height", "luma_sum")
          .withColumn("prev", lag("luma_sum", 1).over(wOrd))
          .withColumn("cut",
            when(col("prev").isNotNull &&
              abs(col("luma_sum") - col("prev")) * 10 >
                col("width") * col("height") * 128, 1L).otherwise(0L))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_frames"),
            sum("cut").as("n_cuts"),
            (sum("cut") + 1).as("n_scenes"),
            max(when(col("prev").isNotNull,
              abs(col("luma_sum") - col("prev"))).otherwise(0L)).as("max_delta"))
      },
      Some("""WITH geo AS (SELECT doc_id, 8 + doc_id % 9 AS w,
             |    8 + n_chars % 7 AS h, 4 + doc_id % 7 AS nf
             |  FROM documents),
             |fr AS (SELECT doc_id, w, h, f FROM geo, UNNEST(range(0, nf)) AS t(f)),
             |px AS (SELECT doc_id, f, w, h,
             |    CAST(sum(((doc_id % 1000003) * 131 + f * 31 + p) % 1000003
             |      * 2654435761 % 256) AS BIGINT) AS s
             |  FROM fr, UNNEST(range(0, w * h)) AS t2(p)
             |  GROUP BY 1, 2, 3, 4),
             |lg AS (SELECT doc_id, w, h, s,
             |    lag(s) OVER (PARTITION BY doc_id ORDER BY f) AS prev
             |  FROM px)
             |SELECT doc_id, count(*) AS n_frames,
             |  CAST(sum(CASE WHEN prev IS NOT NULL
             |      AND abs(s - prev) * 10 > w * h * 128 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_cuts,
             |  CAST(sum(CASE WHEN prev IS NOT NULL
             |      AND abs(s - prev) * 10 > w * h * 128 THEN 1 ELSE 0 END) + 1
             |    AS BIGINT) AS n_scenes,
             |  CAST(max(CASE WHEN prev IS NOT NULL THEN abs(s - prev)
             |    ELSE 0 END) AS BIGINT) AS max_delta
             |FROM lg GROUP BY 1 ORDER BY 1""".stripMargin)),

    // REAL PCM decode + voice-activity segmentation: per-doc WAVs with
    // a planted multi-segment geometry (loud utterance blocks
    // separated by silent gaps), decoded and scanned with javax.sound
    // — the per-utterance splitting step of an audio ingest pipeline
    // (mm13 trims the edges; this counts and sizes the interior). The
    // oracle recomputes segment count and active frames from the
    // plant's closed-form block lengths: a scanner that merges or
    // splits one run cannot hash-match.
    "mm17_audio_segments" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val docs = QueryDef.docManifest(s, dir)
        val metas = docs.mapPartitions(_.flatMap { case (id, nChars) =>
          val bytes = graft.operators.Multimodal.encodeWavSegments(
            channels = 1 + (id % 2).toInt, sampleRateHz = 8000,
            lead = (id % 6).toInt, nSeg = 1 + (nChars % 4).toInt,
            trail = (id % 3).toInt, id = id)
          graft.operators.Multimodal.audioSegments(bytes)
            .map { case (ch, nf, sg, af) => (id, ch.toLong, nf, sg, af) }
        })
        metas.toDF("doc_id", "channels", "n_frames", "n_segments", "active_frames")
      },
      Some("""WITH geo AS (SELECT doc_id, n_chars,
             |    1 + n_chars % 4 AS nseg FROM documents),
             |loud AS (SELECT doc_id, sum(20 + (doc_id + i) % 30) AS act
             |  FROM geo, UNNEST(range(0, nseg)) AS t(i) GROUP BY 1),
             |gaps AS (SELECT doc_id, CASE nseg WHEN 1 THEN 0 WHEN 2 THEN 8
             |    WHEN 3 THEN 17 ELSE 27 END AS gap
             |  FROM geo)
             |SELECT g.doc_id,
             |  CAST(1 + g.doc_id % 2 AS BIGINT) AS channels,
             |  CAST(g.doc_id % 6 + g.doc_id % 3 + l.act + p.gap AS BIGINT)
             |    AS n_frames,
             |  CAST(g.nseg AS BIGINT) AS n_segments,
             |  CAST(l.act AS BIGINT) AS active_frames
             |FROM geo g JOIN loud l USING (doc_id) JOIN gaps p USING (doc_id)
             |ORDER BY 1""".stripMargin)),

    // REAL PCM decode + silence trim: per-doc WAVs with a PLANTED
    // lead/active/trail geometry (active frames guaranteed above the
    // threshold — Multimodal.loudSample), decoded and scanned with
    // javax.sound inside one partition-local pass. The oracle
    // recomputes the geometry arithmetically: a trimmer that
    // miscounts a single frame cannot hash-match. active_ms is exact
    // integer (frames·1000 DIV rate).
    "mm13_audio_silence" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val docs = QueryDef.docManifest(s, dir)
        val metas = docs.mapPartitions(_.flatMap { case (id, nChars) =>
          val lead = (id % 7).toInt
          val active = 5 + (nChars % 90).toInt
          val trail = (id % 5).toInt
          val bytes = graft.operators.Multimodal.encodeWavSilence(
            channels = 1 + (id % 2).toInt, sampleRateHz = 8000,
            lead = lead, active = active, trail = trail, id = id)
          graft.operators.Multimodal.trimSilence(bytes)
            .map { case (ch, nf, ls, ts) => (id, ch.toLong, nf, ls, ts) }
        })
        metas.toDF("doc_id", "channels", "n_frames", "lead_silence", "trail_silence")
          .withColumn("active_ms",
            expr("(n_frames - lead_silence - trail_silence) * 1000 DIV 8000"))
      },
      Some("""SELECT doc_id,
             |  CAST(1 + doc_id % 2 AS BIGINT) AS channels,
             |  CAST(doc_id % 7 + 5 + n_chars % 90 + doc_id % 5 AS BIGINT) AS n_frames,
             |  CAST(doc_id % 7 AS BIGINT) AS lead_silence,
             |  CAST(doc_id % 5 AS BIGINT) AS trail_silence,
             |  CAST((5 + n_chars % 90) * 1000 // 8000 AS BIGINT) AS active_ms
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Loudness-normalization audit: decode REAL 16-bit PCM, measure
    // peak and the exact integer Σsample², report mean-square loudness
    // and the peak-normalization gain — the per-clip gain pass an
    // audio corpus runs before training. The fixture amplitude is
    // planted per clip (±amp square wave), so the oracle predicts
    // every measurement arithmetically while the engine decodes real
    // bytes. Decode is partition-local (mm3's mapPartitions class):
    // no shuffle before the final sort.
    "mm20_loudness" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val docs = QueryDef.docManifest(s, dir)
        val rows = docs.mapPartitions(_.flatMap { case (id, nChars) =>
          val amp = 1000 + (id % 20).toInt * 1500
          val bytes = graft.operators.Multimodal.encodeWavTone(
            channels = 1 + (id % 2).toInt, sampleRateHz = 8000,
            nFrames = 50 + (nChars % 200).toInt, amp = amp)
          graft.operators.Multimodal.loudnessStats(bytes)
            .map { case (ch, nf, peak, sumSq) => (id, ch.toLong, nf, peak, sumSq) }
        })
        rows.toDF("doc_id", "channels", "n_frames", "peak", "sum_sq")
          .withColumn("ms_loudness", expr("sum_sq DIV (n_frames * channels)"))
          .withColumn("gain_permille", expr("32767000 DIV peak"))
      },
      Some("""SELECT doc_id,
             |  CAST(1 + doc_id % 2 AS BIGINT) AS channels,
             |  CAST(50 + n_chars % 200 AS BIGINT) AS n_frames,
             |  CAST(1000 + (doc_id % 20) * 1500 AS BIGINT) AS peak,
             |  CAST((50 + n_chars % 200) * (1 + doc_id % 2)
             |    * (1000 + (doc_id % 20) * 1500) * (1000 + (doc_id % 20) * 1500)
             |    AS BIGINT) AS sum_sq,
             |  CAST((1000 + (doc_id % 20) * 1500) * (1000 + (doc_id % 20) * 1500)
             |    AS BIGINT) AS ms_loudness,
             |  CAST(32767000 // (1000 + (doc_id % 20) * 1500) AS BIGINT)
             |    AS gain_permille
             |FROM documents ORDER BY doc_id""".stripMargin)),

    "mm5_video_meta" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val docs = QueryDef.docManifest(s, dir)
        val metas = docs.mapPartitions(_.flatMap { case (id, nChars) =>
          val bytes = graft.operators.Multimodal.encodeMp4(
            width = 16 * (1 + (id % 32).toInt),
            height = 16 * (1 + (nChars % 18).toInt),
            durationMs = 1 + nChars % 100000)
          graft.operators.Multimodal.decodeMp4(id, bytes)
        })
        metas.toDF()
          .select(col("id").as("doc_id"),
            col("nBytes").as("n_bytes"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("durationMs").as("duration_ms"),
            col("format"))
      },
      Some("""SELECT doc_id,
             |  CAST(240 AS BIGINT) AS n_bytes,
             |  CAST(16 * (1 + doc_id % 32) AS BIGINT) AS width,
             |  CAST(16 * (1 + n_chars % 18) AS BIGINT) AS height,
             |  CAST(1 + n_chars % 100000 AS BIGINT) AS duration_ms,
             |  'video/mp4' AS format
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // binary column + typed metadata + content hash + stub decode dims
    "mm1_binary_meta" -> QueryDef(
      (s, dir) => table(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("blob"), col("text"))
        .select(col("doc_id"),
          length(col("blob")).cast("long").as("n_bytes"),
          sha2(col("blob"), 256).as("sha_hex"),
          (lit(64) + (ascii(col("text").substr(lit(1), lit(1))) % 64) * 4).cast("long").as("width"),
          (lit(64) + (ascii(col("text").substr(lit(2), lit(1))) % 64) * 4).cast("long").as("height"),
          lit(3L).as("channels")),
      Some("""SELECT doc_id,
             |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             |  sha256(text) AS sha_hex,
             |  CAST(64 + (ascii(substr(text, 1, 1)) % 64) * 4 AS BIGINT) AS width,
             |  CAST(64 + (ascii(substr(text, 2, 1)) % 64) * 4 AS BIGINT) AS height,
             |  CAST(3 AS BIGINT) AS channels
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // frame sampling: one row per sampled frame offset (explode)
    "mm2_frame_sample" -> QueryDef(
      (s, dir) => table(s, dir, "documents")
        .withColumn("n_frames", (lit(1L) + (col("n_chars") / 1000).cast("long")))
        .select(col("doc_id"), col("n_chars"), col("text"),
          explode(sequence(lit(0L), col("n_frames") - 1)).as("frame_i"))
        .withColumn("frame_off", (col("frame_i") * 997L) % col("n_chars"))
        .select(col("doc_id"), col("frame_i"), col("frame_off"),
          ascii(col("text").substr((col("frame_off") + 1).cast("int"), lit(1)))
            .cast("long").as("sample_code")),
      Some("""WITH f AS (
             |  SELECT doc_id, n_chars, text,
             |    1 + n_chars // 1000 AS n_frames
             |  FROM documents)
             |SELECT doc_id, CAST(t.i AS BIGINT) AS frame_i,
             |  CAST((t.i * 997) % n_chars AS BIGINT) AS frame_off,
             |  CAST(ascii(substr(text, CAST((t.i * 997) % n_chars + 1 AS INTEGER), 1)) AS BIGINT)
             |    AS sample_code
             |FROM f, UNNEST(range(0, n_frames)) AS t(i)
             |ORDER BY doc_id, frame_i""".stripMargin)),

    // VIDEO near-dup JOIN via frame-fingerprint sets: each "video"
    // (the document blob) is fingerprinted by hashing 24 sampled
    // fixed-offset frame windows (mm2's stride sampling; poly-hash as
    // the per-frame perceptual hash stand-in); two videos are
    // near-dups when their frame-hash SETS overlap at jaccard >= 1/2 —
    // the re-encoded-copy detection shape (a re-encode/trim changes
    // some frames, not most). Planted twins: every 7th doc re-ingested
    // with an appended banner — long docs keep all 24 windows
    // identical, short ones diverge where sampling passes the original
    // end, both deterministically. The pair join is d5's EXACT
    // prefix-filtered jaccard machinery on a non-text column (frame
    // hashes move as short strings, never blob bytes); the oracle
    // replays sampling, hashing, and all-pairs jaccard via the shared
    // CTE rendering.
    "mm10_video_neardup" -> QueryDef(
      (s, dir) => {
        val docs = table(s, dir, "documents").select(col("doc_id"), col("text"))
        val twins = docs.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 500000).as("doc_id"),
            concat(col("text"), lit(" appended re-encode banner x")).as("text"))
        val nF = 24
        // offsets are compile-time constants → a flat 24-expression
        // projection, not a HOF (custom expressions inside lambda
        // bodies cannot bind captured attributes; flat arrays also
        // stay inside whole-stage codegen)
        // COMPLETE frames only: an offset past the blob's end has no
        // frame. Without this guard every short doc emits poly_hash of
        // the SAME empty/truncated slices — one hot shared token whose
        // inverted-index bucket makes the pair join quadratic in the
        // number of short docs (measured 73 s at sf1, 6.9 s guarded)
        // AND semantically pairs unrelated shorts at jaccard 1.
        val fhs = docs.unionByName(twins).select(col("doc_id"),
          array_distinct(array_compact(array((0 until nF).map { i =>
            when(length(col("text")) >= i * 997 % 1000 + 16,
              PolyHash.col(
                col("text").substr(lit(i * 997 % 1000 + 1), lit(16))).cast("string"))
          }: _*))).as("__sh"))
        graft.operators.Dedup.ngramJaccardPairs(fhs, "doc_id", "__sh",
            num = 1, den = 2)
      },
      Some(s"""WITH allv AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 500000, text || ' appended re-encode banner x'
             |  FROM documents WHERE doc_id % 7 = 0),
             |sh AS (SELECT DISTINCT doc_id,
             |    CAST(${QueryDef.polyHashSql(
                      "substr(text, CAST((t.i*997)%1000+1 AS INTEGER), 16)")}
             |      AS VARCHAR) AS s
             |  FROM allv, UNNEST(range(0, 24)) AS t(i)
             |  WHERE length(text) >= (t.i*997)%1000+16),
             |${QueryDef.jaccardPairCtes(1, 2)}
             |SELECT da AS doc_a, db AS doc_b, jacc_pct FROM qp
             |ORDER BY 1, 2""".stripMargin)),

    // IMAGE near-dup JOIN over real decoded rasters: every document
    // yields a base image (>= 9x8, so the dHash grid is informative —
    // degenerate 1-wide rasters all hash to 0 and would pair
    // quadratically; pixels use the position-DEcorrelated mixedPixel,
    // see its scaladoc for why addrPixel's affine structure would make
    // pair counts super-linear) plus a planted twin whose first pixel
    // is inverted (Hamming distance <= 1 by construction).
    // Encode + REAL ImageIO decode + dHash happen partition-local; only
    // (id, 64-bit sketch) rows move. Pairing is d3's pigeonhole idea
    // over native LONGS (4 even 16-bit shift/mask chunks for distance
    // <= 3 → banding recall 1.0), exact popcount verify over
    // candidates only — every pairing expression codegen'd.
    // The oracle recomputes both sketches from the mixedPixel formula
    // and brute-forces all pairs with xor/bit_count — the decode path
    // is real, the pixels are arithmetic, and a raster, hash-pack, or
    // banding bug cannot hash-match.
    "mm9_phash_neardup" -> QueryDef(
      (s, dir) => mm9Pairs(s, dir),
      Some(s"""WITH $mm9SketchCtes
             |SELECT a.id AS doc_a, b.id AS doc_b,
             |  CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
             |    AS BIGINT) AS hamming
             |FROM ids a JOIN ids b ON a.id < b.id
             |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3
             |ORDER BY 1, 2""".stripMargin)),

    // Image dup CLUSTERS: connected components over the mm9 pair graph
    // — pairwise hamming matches turned into actual keep/drop families
    // (a re-encode chain A~B~C clusters even when A!~C), the same
    // pairwise→decision step d6 performs for text. Reuses the staged
    // mm9 sketch pipeline AND the d6 CC operator — cross-modality
    // operator composition, not a re-implementation. Oracle: the same
    // recursive-CTE closure as d6 over the mm9 pair rendering.
    "mm12_image_dup_clusters" -> QueryDef(
      (s, dir) => graft.operators.Dedup.connectedComponents(mm9Pairs(s, dir))
        .select(col("id"), col("rep")),
      Some(s"""WITH RECURSIVE $mm9SketchCtes,
             |prs AS (
             |  SELECT a.id AS doc_a, b.id AS doc_b
             |  FROM ids a JOIN ids b ON a.id < b.id
             |  WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3),
             |edges AS (SELECT doc_a AS src, doc_b AS dst FROM prs
             |          UNION SELECT doc_b, doc_a FROM prs),
             |reach(a, b) AS (
             |  SELECT src, dst FROM edges
             |  UNION
             |  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b),
             |verts AS (SELECT DISTINCT src AS id FROM edges)
             |SELECT v.id AS id, least(v.id, min(r.b)) AS rep
             |FROM verts v LEFT JOIN reach r ON r.a = v.id
             |GROUP BY v.id ORDER BY 1""".stripMargin)),

    // ASPECT-RATIO BUCKETING — the vision-training batch-construction
    // step (variable-aspect corpora train in buckets of similar shape
    // so crops stay minimal): REAL ImageIO header decode of per-row
    // generated PNGs, quantized aspect = clamp(4·w DIV h, 1, 8) in
    // exact integer arithmetic (no float ratio), per-bucket counts +
    // dim ranges. Header-only decode: at 100 TB this is a metadata
    // pass over blob headers, never a raster materialization; the agg
    // is dimension-sized (8 buckets). Oracle recomputes dims AND the
    // bucket rule arithmetically — a decode or bucketing bug cannot
    // hash-match.
    "mm19_aspect_buckets" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val docs = QueryDef.docManifest(s, dir)
        val blobs = docs.map { case (id, nChars) =>
          (id, graft.operators.Multimodal.encodePng(
            1 + (id % 16).toInt, 1 + (nChars % 16).toInt, id))
        }
        graft.operators.Multimodal.decodeAll(s, blobs).toDF()
          .select(col("width").cast("long").as("w"), col("height").cast("long").as("h"))
          .withColumn("bucket",
            least(greatest(expr("(4 * w) DIV h"), lit(1L)), lit(8L)))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_images"),
            min("w").as("min_w"), max("w").as("max_w"),
            min("h").as("min_h"), max("h").as("max_h"))
          .orderBy("bucket")
      },
      Some("""WITH dims AS (
             |  SELECT CAST(1 + doc_id % 16 AS BIGINT) AS w,
             |    CAST(1 + n_chars % 16 AS BIGINT) AS h
             |  FROM documents),
             |b AS (SELECT w, h,
             |    least(greatest((4 * w) // h, 1), 8) AS bucket FROM dims)
             |SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n_images,
             |  min(w) AS min_w, max(w) AS max_w,
             |  min(h) AS min_h, max(h) AS max_h
             |FROM b GROUP BY 1 ORDER BY 1""".stripMargin)),

    // COMPRESSED-STREAM FALLBACK CONTRACT (the COVERAGE.md permanent
    // exemption, oracle-tested): no mp3/aac/h264 codec ships with the
    // JDK and this build can add no dependency, so compressed-stream
    // payloads route through the LABELED deterministic fallback
    // (Multimodal.decodeStub, format 'fake/raw'). This query pins that
    // ROUTE end to end on a mixed corpus: every 3rd doc is an
    // MPEG-audio-sync-framed blob (0xFF 0xEx — 0xD8 excluded, so no
    // registered ImageIO reader can claim it), the rest real PNGs. A
    // dispatcher bug sending a PNG to the stub (or a compressed frame
    // to a codec) changes dims AND format and cannot hash-match.
    "mm18_stub_fallback" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val docs = QueryDef.docManifest(s, dir)
        val blobs = docs.map { case (id, nChars) =>
          if (id % 3 == 0) {
            val len = (4 + nChars % 100).toInt
            val b = Array.tabulate[Byte](len)(i => (i * 37 + id).toByte)
            b(0) = 0xFF.toByte
            b(1) = (0xE0 + (id % 32)).toByte
            (id, b)
          } else
            (id, graft.operators.Multimodal.encodePng(
              1 + (id % 16).toInt, 1 + (nChars % 16).toInt, id))
        }
        graft.operators.Multimodal.decodeAll(s, blobs).toDF()
          .select(col("id").as("doc_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("channels").cast("long").as("channels"),
            col("format"))
      },
      Some("""SELECT doc_id,
             |  CASE WHEN doc_id % 3 = 0 THEN CAST(316 AS BIGINT)
             |       ELSE CAST(1 + doc_id % 16 AS BIGINT) END AS width,
             |  CASE WHEN doc_id % 3 = 0 THEN CAST(192 + (doc_id % 32) * 4 AS BIGINT)
             |       ELSE CAST(1 + n_chars % 16 AS BIGINT) END AS height,
             |  CAST(3 AS BIGINT) AS channels,
             |  CASE WHEN doc_id % 3 = 0 THEN 'fake/raw'
             |       ELSE 'image/png' END AS format
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // REAL WAV decode + integer cross-correlation offset alignment —
    // the A/V sync-detection pass (align audio to a reference before
    // pairing with transcripts/video): each doc's clip vs a copy
    // delayed by a planted k = doc_id % 16 zero frames; the operator
    // scans lags 0..16 and the argmax recovers k exactly (the matched
    // lag correlates Σa², pseudo-random samples decorrelate every
    // other lag). All-integer correlations (16-bit products ≤ 2^30),
    // so the oracle replays every lag's sum bit-for-bit and the argmax
    // tie-break (smallest lag) deterministically. Per-doc work is
    // partition-local (decode + O(nf·lags) mults); the doc_id % 5
    // subset caps oracle volume, the operator itself streams at any
    // corpus size.
    "mm22_audio_align" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val docs = QueryDef.docManifest(s, dir).filter(col("doc_id") % 5 === 0)
        val rows = docs.mapPartitions(_.flatMap { case (id, nChars) =>
          val nf = 64 + (nChars % 256).toInt
          val k = (id % 16).toInt
          val orig = graft.operators.Multimodal.encodeWavAddr(1, 8000, nf, id)
          val delayed = graft.operators.Multimodal.encodeWavDelayed(8000, nf, id, k)
          graft.operators.Multimodal.audioAlign(orig, delayed, maxLag = 16)
            .map { case (lag, corr) =>
              (id, nf.toLong, k.toLong, lag.toLong, corr) }
        })
        rows.toDF("doc_id", "n_frames", "planted_k", "detected_k", "corr_max")
      },
      Some("""WITH dims AS (
             |  SELECT doc_id, 64 + n_chars % 256 AS nf, doc_id % 16 AS k
             |  FROM documents WHERE doc_id % 5 = 0),
             |smp AS (
             |  SELECT doc_id, i,
             |    ((((doc_id % 1000003) * 37 + i) * 2654435761) % 65536)
             |      - 32768 AS s
             |  FROM dims, unnest(range(0, nf)) AS t(i)),
             |lags AS (
             |  SELECT doc_id, nf, k, l
             |  FROM dims, unnest(range(0, 17)) AS t(l)),
             |corr AS (
             |  SELECT g.doc_id, g.l, sum(a.s * b.s) AS c
             |  FROM lags g
             |  JOIN smp a ON a.doc_id = g.doc_id
             |  JOIN smp b ON b.doc_id = g.doc_id AND b.i = a.i + g.l - g.k
             |  GROUP BY 1, 2),
             |best AS (
             |  SELECT doc_id, l, c,
             |    max(c) OVER (PARTITION BY doc_id) AS cmax
             |  FROM corr)
             |SELECT d.doc_id, CAST(d.nf AS BIGINT) AS n_frames,
             |  CAST(d.k AS BIGINT) AS planted_k,
             |  CAST(min(b.l) AS BIGINT) AS detected_k,
             |  CAST(max(b.cmax) AS BIGINT) AS corr_max
             |FROM dims d JOIN best b ON b.doc_id = d.doc_id AND b.c = b.cmax
             |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin))
  )

  /** The ONE rendering of the mm9 sketch derivation (mixedPixel raster
    * → milli-luma → dHash bit pack → twin ids), shared by the mm9 pair
    * oracle and the mm12 closure oracle.
    */
  private def mm9SketchCtes: String =
    """dims AS (
      |  SELECT doc_id, 9 + doc_id % 8 AS w, 8 + n_chars % 8 AS h
      |  FROM documents),
      |sides AS (SELECT 0 AS twin UNION ALL SELECT 1),
      |px AS (
      |  SELECT d.doc_id, s.twin, j.r AS r, i.c AS c,
      |    CASE WHEN s.twin = 1 AND (j.r * h // 8) * w + (i.c * w // 9) = 0
      |      THEN xor(((xor((d.doc_id % 1000003) * 2654435761, 0) % 16777216)
      |        * 2654435761) % 16777216, 16777215)
      |      ELSE ((xor((d.doc_id % 1000003) * 2654435761,
      |          ((j.r * h // 8) * w + (i.c * w // 9)) * 40503) % 16777216)
      |        * 2654435761) % 16777216 END AS p
      |  FROM dims d CROSS JOIN sides s
      |    CROSS JOIN range(0, 9) i(c) CROSS JOIN range(0, 8) j(r)),
      |lum AS (
      |  SELECT doc_id, twin, r, c,
      |    299 * ((p // 65536) % 256) + 587 * ((p // 256) % 256)
      |      + 114 * (p % 256) AS l
      |  FROM px),
      |bits AS (
      |  SELECT a.doc_id, a.twin, a.r, a.c,
      |    CASE WHEN a.l < b.l THEN 1 ELSE 0 END AS bit
      |  FROM lum a JOIN lum b
      |    ON a.doc_id = b.doc_id AND a.twin = b.twin
      |      AND a.r = b.r AND b.c = a.c + 1
      |  WHERE a.c < 8),
      |hs AS (
      |  SELECT doc_id, twin,
      |    sum(CASE WHEN r * 8 + c >= 32
      |      THEN bit * (CAST(1 AS BIGINT) << CAST(r * 8 + c - 32 AS INTEGER))
      |      ELSE 0 END) AS hi,
      |    sum(CASE WHEN r * 8 + c < 32
      |      THEN bit * (CAST(1 AS BIGINT) << CAST(r * 8 + c AS INTEGER))
      |      ELSE 0 END) AS lo
      |  FROM bits GROUP BY 1, 2),
      |ids AS (
      |  SELECT doc_id + CASE WHEN twin = 1 THEN 1000000 ELSE 0 END AS id,
      |    hi, lo
      |  FROM hs)""".stripMargin
}
