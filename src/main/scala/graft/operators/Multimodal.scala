package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column plumbing for a training-data
  * pipeline: media as an opaque `binary` column plus typed metadata,
  * processed either by codegen'd expressions (metadata extract / resize /
  * frame sampling — all deterministic, oracle-checkable) or by a batched
  * per-partition decoder ([[extractFeatures]]) — the Scala analogue of a
  * `mapInPandas` batch UDF.
  *
  * Byte-level decode plugs in behind [[MediaDecoder]]. IMAGES decode for
  * real via [[ImageIoDecoder]] (the JDK's own `javax.imageio` — PNG/JPEG/
  * BMP/GIF); AUDIO decodes for real via [[WavDecoder]] (the JDK's own
  * `javax.sound.sampled` — WAV/AU/AIFF PCM). Video and compressed-audio
  * codecs (ffmpeg / MP3 / AAC) are not in this environment, so those
  * routes use [[StubDecoder]]'s deterministic byte statistics. The
  * Spark-side plumbing — binary columns, schema, batch iteration,
  * partition distribution — is real and tested either way.
  *
  * Scale: content bytes never shuffle in any of these operators; metadata
  * extraction and frame sampling are narrow (per-row) transforms, and
  * [[extractFeatures]] is embarrassingly parallel over partitions with
  * bounded per-batch memory (`batchSize` rows decoded at a time, modeling
  * batched accelerator calls).
  */
object Multimodal {

  /** Ingest documents as fake media rows: the utf-8 bytes of `text` become
    * the opaque `content` blob, mime cycles deterministically. At 100 TB the
    * source would be parquet/tar shards of real bytes; everything downstream
    * of this ingest is agnostic to where the bytes came from. */
  def ingestDocsAsMedia(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      col("text").cast("binary").as("content"),
      element_at(
        array(lit("image/png"), lit("audio/wav"), lit("video/mp4")),
        (col("doc_id") % 3 + 1).cast("int")).as("mime"))

  private def hexSeg(c: org.apache.spark.sql.Column, from: Int): org.apache.spark.sql.Column =
    conv(substring(md5(c), from, 15), 16, 10).cast("long")

  /** "Decode" the media header into typed metadata. The real decoder would
    * parse PNG/WAV/MP4 headers; the stub derives deterministic fake
    * dimensions from the content hash (so the full pipeline remains
    * end-to-end verifiable against the oracle). Pure codegen'd expressions —
    * no UDF, no shuffle. */
  def decodeMeta(media: DataFrame): DataFrame =
    media
      .withColumn("n_bytes", length(col("content")).cast("long"))
      .withColumn("width", (lit(64L) + hexSeg(col("content"), 1) % 1857L))
      .withColumn("height", (lit(64L) + hexSeg(col("content"), 17) % 1857L))
      .withColumn("duration_ms",
        when(col("mime") =!= "image/png", col("n_bytes") * 10L))

  /** Resize plan: fit into `target`×`target` preserving aspect ratio.
    * Emits the output dims the (stubbed) resampler would produce. */
  def resizePlan(meta: DataFrame, target: Int = 224): DataFrame = {
    val scale = lit(target.toDouble) / greatest(col("width"), col("height")).cast("double")
    meta
      .withColumn("out_w", greatest(lit(1L), floor(col("width").cast("double") * scale).cast("long")))
      .withColumn("out_h", greatest(lit(1L), floor(col("height").cast("double") * scale).cast("long")))
  }

  /** Frame sampling for video rows: n_frames derived from the fake header,
    * one output row per sampled frame with a byte-range fingerprint (the
    * real pipeline would hand each range to the decoder). `posexplode` of a
    * `sequence` — narrow, codegen'd, no shuffle. */
  def sampleFrames(meta: DataFrame): DataFrame = {
    val nFrames = (lit(1L) + col("n_bytes") % 7L)
    meta.where(col("mime") === "video/mp4")
      .withColumn("n_frames", nFrames)
      .select(col("media_id"), col("n_frames"), col("n_bytes"), col("content"),
        explode(sequence(lit(0L), col("n_frames") - 1L)).as("frame_no"))
      .withColumn("frame_off", col("frame_no") * expr("n_bytes div n_frames"))
      .withColumn("frame_fp",
        md5(col("content").cast("string")
          .substr((col("frame_off") + 1L).cast("int"), lit(32))))
      .select(col("media_id"), col("frame_no"), col("frame_fp"))
  }

  // ----------------------------------------------------- batched decoding --

  /** The decode contract. Real implementations plug in here: the JDK's
    * own codecs cover images ([[ImageIoDecoder]]) and PCM audio
    * ([[WavDecoder]]); video and compressed-audio libraries don't exist
    * in this environment, so those routes fall back to [[StubDecoder]]. */
  trait MediaDecoder extends Serializable {
    /** Decode one batch of media payloads into fixed-width feature vectors.
      * Batched on purpose: real decoders amortize model/codec setup per
      * batch (the `mapInPandas` batch shape). */
    def decodeBatch(contents: Seq[Array[Byte]], mimes: Seq[String]): Seq[Array[Float]]
  }

  /** Deterministic fake: 8 byte-statistics features. Stands in for
    * `??? // real codec` so the distributed plumbing is testable. */
  object StubDecoder extends MediaDecoder {
    override def decodeBatch(contents: Seq[Array[Byte]], mimes: Seq[String]): Seq[Array[Float]] =
      contents.zip(mimes).map { case (bytes, mime) =>
        // null reads as empty: every decoder's dirty route funnels here
        // (Image/Wav/Mp4Meta pass unparseable payloads through verbatim),
        // and a real parquet media column can legitimately carry NULL —
        // the never-throw contract must hold for it too
        if (bytes == null || bytes.isEmpty) Array.fill(8)(0f)
        else {
          val n = bytes.length
          val mean = bytes.map(b => (b & 0xff).toDouble).sum / n
          // (d * d), not math.pow(d, 2): pow's rounding is libm-specific,
          // plain multiplication is the same IEEE op in any engine — keeps
          // the feature oracle-replicable bit-for-bit
          val varr = bytes.map { b =>
            val d = (b & 0xff) - mean; d * d
          }.sum / n
          Array(
            n.toFloat, mean.toFloat, math.sqrt(varr).toFloat,
            (bytes.head & 0xff).toFloat, (bytes.last & 0xff).toFloat,
            bytes.map(b => b & 0xff).min.toFloat,
            bytes.map(b => b & 0xff).max.toFloat,
            (if (mime == null) 0 else mime.length).toFloat)
        }
      }
  }

  /** REAL image decode on the JDK's built-in `javax.imageio.ImageIO`
    * (PNG/JPEG/BMP/GIF — the formats the JDK ships readers for; audio/
    * video codecs remain genuinely absent from this environment and stay
    * on [[StubDecoder]]). Feature layout (9 floats, all but the means
    * integer-valued so a gate can pin them exactly):
    *
    *   f0=width  f1=height  f2=bands(source raster)  f3=min  f4=max
    *   f5=meanR  f6=meanG   f7=meanB                 f8=decode_ok flag
    *
    * min/max/means are over the ARGB-normalized channels (`getRGB`), so
    * they are layout-independent (gray/indexed sources expand to RGB the
    * same way in any JDK). Unknown mimes and corrupt/truncated payloads
    * DEGRADE, never throw: the row routes to [[StubDecoder]]'s byte
    * statistics with `f8 = 0` — the P1 dirty-routing idiom (reference
    * `app/dwd/BaseLogApp.java` routes unparseable JSON to a dirty side
    * output instead of failing the job). Reference anchor: the multimodal
    * ingest brief; plumbing at [[extractFeatures]]. */
  object ImageIoDecoder extends MediaDecoder {
    override def decodeBatch(contents: Seq[Array[Byte]], mimes: Seq[String]): Seq[Array[Float]] = {
      // stream-decode without ImageIO's disk-backed cache: one temp file
      // per decode would be executor-local I/O churn at corpus scale
      javax.imageio.ImageIO.setUseCache(false)
      contents.zip(mimes).map { case (bytes, mime) =>
        val img =
          if (bytes != null && bytes.nonEmpty && mime != null && mime.startsWith("image/"))
            try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
            catch { case _: Exception => None } // corrupt payload → dirty route
          else None
        img match {
          case Some(im) =>
            val w = im.getWidth
            val h = im.getHeight
            val bands = im.getRaster.getNumBands
            val rgb = im.getRGB(0, 0, w, h, null, 0, w)
            var sr = 0L; var sg = 0L; var sb = 0L
            var mn = 255; var mx = 0
            var i = 0
            while (i < rgb.length) {
              val p = rgb(i)
              val r = (p >> 16) & 0xff; val g = (p >> 8) & 0xff; val b = p & 0xff
              sr += r; sg += g; sb += b
              mn = math.min(mn, math.min(r, math.min(g, b)))
              mx = math.max(mx, math.max(r, math.max(g, b)))
              i += 1
            }
            // integer channel sums divided ONCE in double: exact to 2^53,
            // order-independent, and bit-replicable by the oracle
            val n = (w.toLong * h).toDouble
            Array(w.toFloat, h.toFloat, bands.toFloat, mn.toFloat, mx.toFloat,
              (sr / n).toFloat, (sg / n).toFloat, (sb / n).toFloat, 1f)
          case None =>
            StubDecoder.decodeBatch(Seq(bytes), Seq(mime)).head :+ 0f
        }
      }
    }
  }

  /** REAL audio decode on the JDK's built-in `javax.sound.sampled`
    * (WAV/AU/AIFF — the PCM container formats the JDK ships readers
    * for; compressed codecs like MP3/AAC remain genuinely absent from
    * this environment and stay on [[StubDecoder]]). Feature layout
    * (9 floats, all but mean/RMS integer-valued so a gate can pin them
    * exactly):
    *
    *   f0=sampleRate  f1=channels  f2=bitsPerSample  f3=frames
    *   f4=min sample  f5=max sample  f6=mean sample  f7=RMS
    *   f8=decode_ok flag
    *
    * Statistics are over SIGNED 16-bit samples POOLED across channels
    * (every interleaved sample counts once in min/max/mean/RMS), while
    * f3 counts FRAMES (= samples/channels) — deliberately different
    * grains: frames is the duration-bearing number a user filters on,
    * pooled sample stats are channel-layout independent and what a
    * loudness/clipping screen wants. MultimodalSpec pins a stereo case
    * to this contract. Integer sums (sum ≤ 2^15·n, sum-of-squares ≤
    * 2^30·n — exact to ~2^23 frames) divided ONCE in double, so the
    * oracle can replicate them bit-for-bit. Non-PCM-16 encodings,
    * unknown mimes, and
    * corrupt/truncated payloads DEGRADE, never throw: the row routes to
    * [[StubDecoder]]'s byte statistics with `f8 = 0` — the same P1
    * dirty-routing idiom as [[ImageIoDecoder]]. */
  object WavDecoder extends MediaDecoder {
    override def decodeBatch(contents: Seq[Array[Byte]], mimes: Seq[String]): Seq[Array[Float]] =
      contents.zip(mimes).map { case (bytes, mime) =>
        val parsed =
          if (bytes != null && bytes.nonEmpty && mime != null && mime.startsWith("audio/"))
            try {
              val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
                new java.io.ByteArrayInputStream(bytes))
              val fmt = ais.getFormat
              if (fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
                  && fmt.getSampleSizeInBits == 16)
                Some((fmt, ais.readAllBytes()))
              else None // non-PCM-16 → dirty route
            } catch { case _: Exception => None } // corrupt payload → dirty route
          else None
        parsed match {
          case Some((fmt, raw)) if raw.length >= 2 =>
            val big = fmt.isBigEndian
            val nSamp = raw.length / 2
            var i = 0; var sum = 0L; var sumSq = 0L
            var mn = Int.MaxValue; var mx = Int.MinValue
            while (i < nSamp) {
              val b0 = raw(2 * i) & 0xff; val b1 = raw(2 * i + 1) & 0xff
              val s = (if (big) (b0 << 8) | b1 else (b1 << 8) | b0).toShort.toInt
              sum += s; sumSq += s.toLong * s
              mn = math.min(mn, s); mx = math.max(mx, s)
              i += 1
            }
            val n = nSamp.toDouble
            Array(fmt.getSampleRate, fmt.getChannels.toFloat, 16f,
              (nSamp / fmt.getChannels).toFloat, mn.toFloat, mx.toFloat,
              (sum / n).toFloat, math.sqrt(sumSq / n).toFloat, 1f)
          case _ =>
            StubDecoder.decodeBatch(Seq(bytes), Seq(mime)).head :+ 0f
        }
      }
  }

  /** Deterministic synthetic WAV corpus for gating [[WavDecoder]]: one
    * REAL (AudioSystem-encoded, losslessly round-trippable) PCM-16 mono
    * WAV per doc, frame count / rate / sample pattern closed-form in
    * `doc_id` so a SQL oracle can recompute every sample statistic
    * without a codec:
    *
    *   frames = 64 + id%97, rate = 8000 + (id%5)·1000
    *   s(t) = (t·(521 + 97·(id%23)) + id) % 65536 − 32768
    *   (step ≥ 521 so the ramp wraps the 16-bit range several times per
    *   clip — min/max/RMS exercise the full signed span, not one band)
    *
    * Every `corruptEvery`-th id instead carries deterministic NON-audio
    * bytes under the audio/wav mime — the dirty rows that must route to
    * the stub path with `f8 = 0`. Encoding runs executor-side per
    * partition, same discipline as [[synthesizeImages]]. */
  def synthesizeWavs(docs: DataFrame, corruptEvery: Int = 97): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { id =>
        if (corruptEvery > 0 && id % corruptEvery == 0)
          (id, s"notawav:$id".getBytes("UTF-8"), "audio/wav")
        else {
          val frames = (64 + id % 97).toInt
          val rate = (8000 + (id % 5) * 1000).toInt
          val k = (521 + 97 * (id % 23)).toInt
          val pcm = new Array[Byte](frames * 2)
          var t = 0
          while (t < frames) {
            val s = ((t.toLong * k + id) % 65536L - 32768L).toInt
            pcm(2 * t) = (s & 0xff).toByte // little-endian per WAV spec
            pcm(2 * t + 1) = ((s >> 8) & 0xff).toByte
            t += 1
          }
          val fmt = new javax.sound.sampled.AudioFormat(
            rate.toFloat, 16, 1, true, false)
          val ais = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
          val baos = new java.io.ByteArrayOutputStream()
          javax.sound.sampled.AudioSystem.write(
            ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
          (id, baos.toByteArray, "audio/wav")
        }
      }
    }.toDF("media_id", "content", "mime")
  }

  /** Deterministic synthetic PNG corpus for gating [[ImageIoDecoder]]:
    * one REAL (ImageIO-encoded, losslessly round-trippable) PNG per doc,
    * dimensions and per-channel gradient pattern closed-form in `doc_id`
    * so a SQL oracle can recompute every channel statistic without a
    * decoder:
    *
    *   w = 16 + id%17, h = 8 + id%13
    *   R(x,y) = (x+id)%256, G(x,y) = (y+2id)%256, B(x,y) = (x+y+3id)%256
    *
    * Every `corruptEvery`-th id instead carries deterministic NON-image
    * bytes under the image/png mime — the dirty rows that must route to
    * the stub path with `f8 = 0`. Encoding runs executor-side per
    * partition (narrow, no shuffle, no driver rows — the same discipline
    * as every feed in this repo). */
  def synthesizeImages(docs: DataFrame, corruptEvery: Int = 97): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
      javax.imageio.ImageIO.setUseCache(false)
      ids.map { id =>
        if (corruptEvery > 0 && id % corruptEvery == 0)
          (id, s"corrupt:$id".getBytes("UTF-8"), "image/png")
        else {
          val w = (16 + id % 17).toInt
          val h = (8 + id % 13).toInt
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val r = ((x + id) % 256).toInt
              val g = ((y + 2 * id) % 256).toInt
              val b = ((x + y + 3 * id) % 256).toInt
              img.setRGB(x, y, (r << 16) | (g << 8) | b)
              x += 1
            }
            y += 1
          }
          val baos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", baos)
          (id, baos.toByteArray, "image/png")
        }
      }
    }.toDF("media_id", "content", "mime")
  }

  /** REAL MP4 container metadata on pure JDK byte reading — no codec
    * needed: the ISO BMFF box structure (`ftyp`/`moov`/`mvhd`/`trak`/
    * `tkhd`/`mdat`) is length-prefixed, so width/height/duration parse
    * out of the header walk alone (the frame DATA would need a codec;
    * this is the metadata pass a 100 TB video-ingest pipeline runs first
    * to route/filter before any GPU decode). Feature layout (9 floats,
    * ALL integer-valued so a gate pins them exactly):
    *
    *   f0=width  f1=height  f2=mvhd timescale  f3=mvhd duration(units)
    *   f4=duration ms  f5=top-level box count  f6=mdat payload bytes
    *   f7=total file bytes  f8=decode_ok flag
    *
    * Width/height come from `tkhd`'s 16.16 fixed-point fields (integer
    * part); duration_ms = duration·1000/timescale computed in LONG
    * arithmetic (exact whenever timescale divides 1000·duration — true
    * for standard 125/250/500/1000 Hz movie timescales). Truncated
    * boxes, non-MP4 bytes, size fields that overrun the payload, or a
    * missing moov/mvhd/tkhd DEGRADE, never throw: the row routes to
    * [[StubDecoder]]'s byte statistics with `f8 = 0` — the P1
    * dirty-routing idiom, same as [[ImageIoDecoder]]/[[WavDecoder]]. */
  object Mp4MetaDecoder extends MediaDecoder {
    private def be32(b: Array[Byte], off: Int): Long =
      if (off + 4 > b.length) -1L
      else ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
        ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)

    private def boxType(b: Array[Byte], off: Int): String =
      if (off + 8 > b.length) ""
      else new String(b, off + 4, 4, "ISO-8859-1")

    /** Walk the children of [start, end): (type, payloadStart, payloadEnd)
      * triples, stopping at the first malformed size. */
    private def children(b: Array[Byte], start: Int, end: Int): Seq[(String, Int, Int)] = {
      val out = Seq.newBuilder[(String, Int, Int)]
      var off = start
      var ok = true
      while (ok && off + 8 <= end) {
        val sz = be32(b, off)
        // size==1 (64-bit largesize) and size==0 (to-EOF) exist in the
        // spec; this parser treats them as out-of-profile → malformed
        if (sz < 8 || off + sz > end) { ok = false }
        else {
          out += ((boxType(b, off), off + 8, off + sz.toInt))
          off += sz.toInt
        }
      }
      if (ok) out.result() else Seq.empty
    }

    override def decodeBatch(contents: Seq[Array[Byte]], mimes: Seq[String]): Seq[Array[Float]] =
      contents.zip(mimes).map { case (bytes, mime) =>
        val parsed =
          if (bytes != null && bytes.length >= 16 && mime != null
              && mime.startsWith("video/") && boxType(bytes, 0) == "ftyp") {
            val top = children(bytes, 0, bytes.length)
            val moov = top.find(_._1 == "moov")
            val mdatBytes = top.filter(_._1 == "mdat").map(c => (c._3 - c._2).toLong).sum
            moov.flatMap { case (_, ms, me) =>
              val kids = children(bytes, ms, me)
              val mvhd = kids.find(_._1 == "mvhd")
              val tkhd = kids.find(_._1 == "trak").flatMap { case (_, ts, te) =>
                children(bytes, ts, te).find(_._1 == "tkhd")
              }
              (mvhd, tkhd) match {
                // version-0 layouts only (version byte 0 at payload start);
                // v1 (64-bit times) is out of this profile → dirty route
                case (Some((_, hs, _)), Some((_, ks, ke)))
                    if bytes(hs) == 0 && bytes(ks) == 0 && ke - ks >= 84 =>
                  val timescale = be32(bytes, hs + 12)
                  val duration = be32(bytes, hs + 16)
                  val width = be32(bytes, ks + 76) >> 16 // 16.16 fixed
                  val height = be32(bytes, ks + 80) >> 16
                  if (timescale <= 0) None
                  else Some(Array(width.toFloat, height.toFloat,
                    timescale.toFloat, duration.toFloat,
                    (duration * 1000L / timescale).toFloat,
                    top.size.toFloat, mdatBytes.toFloat,
                    bytes.length.toFloat, 1f))
                case _ => None
              }
            }
          } else None
        parsed.getOrElse(StubDecoder.decodeBatch(Seq(bytes), Seq(mime)).head :+ 0f)
      }
  }

  /** Deterministic synthetic MP4 corpus for gating [[Mp4MetaDecoder]]:
    * one minimal VALID ISO BMFF file per doc (ftyp + moov(mvhd,
    * trak(tkhd)) + mdat), every header field closed-form in `doc_id` so
    * a SQL oracle can recompute all 9 features with integer arithmetic:
    *
    *   width  = 160 + (id%28)·16     height = 96 + (id%17)·16
    *   timescale = 125·2^(id%4)      duration = 100 + id%9000 units
    *   mdat payload = id%41 bytes    (total file = 248 + id%41 bytes)
    *
    * Every `corruptEvery`-th id instead carries deterministic NON-MP4
    * bytes under the video/mp4 mime — the dirty rows that must route to
    * the stub path with `decode_ok = 0`. Byte assembly runs
    * executor-side per partition, same discipline as
    * [[synthesizeImages]]/[[synthesizeWavs]]. */
  def synthesizeMp4s(docs: DataFrame, corruptEvery: Int = 97): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { id =>
        if (corruptEvery > 0 && id % corruptEvery == 0)
          (id, s"notanmp4:$id".getBytes("UTF-8"), "video/mp4")
        else {
          val width = (160 + (id % 28) * 16).toInt
          val height = (96 + (id % 17) * 16).toInt
          val timescale = 125 << (id % 4).toInt
          val duration = (100 + id % 9000).toInt
          val mdatLen = (id % 41).toInt
          val buf = java.nio.ByteBuffer.allocate(248 + mdatLen)
          def box(sz: Int, typ: String): Unit = {
            buf.putInt(sz); buf.put(typ.getBytes("ISO-8859-1"))
          }
          box(24, "ftyp")
          buf.put("isom".getBytes("ISO-8859-1")).putInt(0x200)
          buf.put("isom".getBytes("ISO-8859-1")).put("mp41".getBytes("ISO-8859-1"))
          box(216, "moov")
          box(108, "mvhd") // v0: 8 hdr + 100 payload
          buf.putInt(0) // version+flags
            .putInt(0).putInt(0) // creation, modification
            .putInt(timescale).putInt(duration)
            .putInt(0x00010000).putShort(0x0100.toShort) // rate, volume
            .putShort(0).putLong(0L) // reserved(2 + 8)
          // unity matrix (36 bytes)
          buf.putInt(0x00010000).putInt(0).putInt(0)
            .putInt(0).putInt(0x00010000).putInt(0)
            .putInt(0).putInt(0).putInt(0x40000000)
          (0 until 6).foreach(_ => buf.putInt(0)) // pre_defined(24)
          buf.putInt(2) // next_track_ID
          box(100, "trak")
          box(92, "tkhd") // v0: 8 hdr + 84 payload
          buf.putInt(0x00000007) // version 0 + flags (enabled|in movie|in preview)
            .putInt(0).putInt(0) // creation, modification
            .putInt(1).putInt(0) // track_ID, reserved
            .putInt(duration).putLong(0L) // duration, reserved(8)
            .putShort(0).putShort(0) // layer, alternate_group
            .putShort(0).putShort(0) // volume(video=0), reserved
          buf.putInt(0x00010000).putInt(0).putInt(0)
            .putInt(0).putInt(0x00010000).putInt(0)
            .putInt(0).putInt(0).putInt(0x40000000)
          buf.putInt(width << 16).putInt(height << 16) // 16.16 fixed
          box(8 + mdatLen, "mdat")
          var i = 0
          while (i < mdatLen) { buf.put(((i + id) % 256).toByte); i += 1 }
          (id, buf.array(), "video/mp4")
        }
      }
    }.toDF("media_id", "content", "mime")
  }

  /** Run the decoder over the corpus: per partition, pull `batchSize` rows
    * at a time through [[MediaDecoder.decodeBatch]]. Iterator-to-iterator
    * (no partition materialization), so executor memory is bounded by one
    * batch of payloads regardless of partition size. */
  def extractFeatures(
      media: DataFrame,
      decoder: MediaDecoder = StubDecoder,
      batchSize: Int = 64): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val in: Dataset[(Long, Array[Byte], String)] = media
      .select(col("media_id"), col("content"), col("mime"))
      .as[(Long, Array[Byte], String)]
    in.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        val feats = decoder.decodeBatch(batch.map(_._2), batch.map(_._3))
        batch.zip(feats).map { case ((id, _, mime), f) => (id, mime, f) }
      }
    }.toDF("media_id", "mime", "features")
  }

  /** Content-addressed dedup accounting per mime — the blob-store audit a
    * multimodal corpus runs before ingest: how many payloads, how many
    * DISTINCT payloads (by content md5), and the byte savings a CAS/
    * hardlink layout would realize. Purely a storage diagnostic; the
    * actual dedup apply is the same keeper semantics as [[Dedup.exact]].
    *
    * Scale: content bytes are hashed AT THE SCAN and never shuffle — only
    * (mime, fp, len) rows move; two map-side-combined aggregates. */
  def dedupAccounting(media: DataFrame): DataFrame = {
    val g = media
      .select(col("mime"), md5(col("content")).as("fp"),
        length(col("content")).cast("long").as("len"))
      .groupBy(col("mime"), col("fp"))
      .agg(count(lit(1)).as("c"), max(col("len")).as("blen"))
    g.groupBy(col("mime"))
      .agg(sum(col("c")).as("n_blobs"),
        count(lit(1)).as("n_distinct"),
        sum(col("c") * col("blen")).as("bytes_total"),
        sum(col("blen")).as("bytes_distinct"))
      .withColumn("savings_frac",
        round(lit(1.0) -
          col("bytes_distinct").cast("double") / col("bytes_total").cast("double"), 6))
  }
}
