package graft.operators

import org.apache.spark.sql.functions._
import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

/** Multimodal column handling: opaque `binary` payloads + typed metadata,
  * with a REAL decode stage: payloads are genuine PNG bytes and the decoder
  * is `javax.imageio` (ships inside the JDK — zero extra dependencies).
  *
  * The sf tables carry no image payloads, so each row *synthesizes* a real
  * PNG whose dimensions are pure functions of the row
  * (width = 1 + byte_len(text) % 31, height = 1 + doc_id % 17); the DuckDB
  * oracle re-derives those dims independently, so the gate only passes if
  * the encode→decode round-trip through a genuine codec preserves them.
  *
  * Scale notes: synth+decode run as `mapPartitions` over the binary column —
  * same batch shape as a Pandas-UDF/mapInPandas pipeline (iterator of
  * batches in, iterator out), one narrow stage, no shuffle; partition
  * sizing is controlled by files.maxPartitionBytes on the scan.
  */
case class MmRow(doc_id: Long, payload: Array[Byte])

object Multimodal extends OpModule {

  // ImageIO defaults to a DISK-backed stream cache: one temp file created
  // and deleted per encode/decode. At thousands of tiny images per
  // executor that is pure filesystem churn (measured: per-row cost DRIFTS
  // upward run over run as the temp dir fills). Byte-array streams fit in
  // memory by construction here — cache in heap.
  javax.imageio.ImageIO.setUseCache(false)

  /** Deterministic PNG fixture: a real `BufferedImage` rendered from the
    * row (dims + pixel fill are pure functions of doc_id and the payload
    * bytes) and encoded through the JDK PNG writer. Stands in for the image
    * column a production table would already carry.
    */
  def synthPng(docId: Long, textBytes: Array[Byte]): Array[Byte] = {
    // floorMod, not %: planted fixture rows use NEGATIVE doc_ids, and a
    // Java remainder would hand BufferedImage a non-positive height
    val w = 1 + (textBytes.length % 31)
    val h = 1 + java.lang.Math.floorMod(docId, 17L).toInt
    val img = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, ((docId + x * 31 + y) & 0xffffff).toInt)
        x += 1
      }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** High-entropy sibling of [[synthPng]] for the scale harness's
    * EXTENDED content classes (`spark.graft.mmClasses` beyond the
    * oracle-pinned 100): same shape distribution (w = 8 + key%24,
    * h = 1 + key%17), but per-pixel values come from a splitmix64-style
    * integer mixer instead of the linear gradient, so the 8×8
    * grid-sample aHash sees ~independent pixels and every class gets a
    * decorrelated ~Bernoulli(1/2) hash. This is what actually uncaps the
    * fixture's content space: the gradient's aHash collapses to ~55
    * patterns regardless of class count, the mixer's does not. Real PNG
    * encode stays — the operator under test is decode+hash.
    */
  private[graft] def synthMixedPng(key: Long): Array[Byte] = {
    val w = 8 + (key % 24L).toInt
    val h = 1 + (key % 17L).toInt
    def mix(a: Long): Long = {
      var x = a + -7046029254386353131L // splitmix64 finalizer
      x = (x ^ (x >>> 30)) * -4658895280553007687L
      x = (x ^ (x >>> 27)) * -7723592293110705685L
      x ^ (x >>> 31)
    }
    val img = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y,
          (mix(key * 100003L + x * 131L + y) & 0xffffff).toInt)
        x += 1
      }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** REAL image decode (JDK `ImageIO`): PNG/BMP/GIF bytes in →
    * (width, height, raster bands) out. Swapping in a heavier codec
    * (JPEG-XL, video keyframes) keeps this signature and the mapPartitions
    * batch shape unchanged.
    */
  def decodeImage(bytes: Array[Byte]): (Int, Int, Int) = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    (img.getWidth, img.getHeight, img.getRaster.getNumBands)
  }

  /** Deterministic multi-frame GIF fixture — the "video" sibling of
    * [[synthPng]]: k = 1 + floorMod(doc_id, 4) frames, every frame a real
    * grayscale image (dims pure functions of the row, fill gray a pure
    * function of (doc_id, frame_idx)) written through the JDK GIF encoder
    * as ONE animated-GIF byte stream (`ImageWriter.writeToSequence`).
    * Grayscale fills round-trip GIF's palette quantization exactly, which
    * is what lets the oracle re-derive the decoded pixel value.
    */
  def synthGif(docId: Long, textBytes: Array[Byte]): Array[Byte] = {
    val w = 1 + (textBytes.length % 31)
    val h = 1 + java.lang.Math.floorMod(docId, 17L).toInt
    val k = 1 + java.lang.Math.floorMod(docId, 4L).toInt
    val bos = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    var i = 0
    while (i < k) {
      val g = java.lang.Math.floorMod(docId * 31 + i * 7, 256L).toInt
      val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { img.getRaster.setSample(x, y, 0, g); x += 1 }
        y += 1
      }
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      i += 1
    }
    writer.endWriteSequence()
    ios.flush(); writer.dispose(); ios.close()
    bos.toByteArray
  }

  /** REAL multi-frame decode (JDK `ImageIO` GIF reader): one animated-GIF
    * byte stream in → one (width, height, gray-of-pixel-0,0) per DECODED
    * frame out, frame count discovered from the stream itself
    * (`ImageReader.getNumImages(true)` + per-frame `read(i)`).
    */
  def decodeGifFrames(bytes: Array[Byte]): IndexedSeq[(Int, Int, Int)] = {
    val reader = ImageIO.getImageReadersByFormatName("gif").next()
    val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
    try {
      reader.setInput(iis)
      (0 until reader.getNumImages(true)).map { i =>
        val img = reader.read(i)
        (img.getWidth, img.getHeight, img.getRGB(0, 0) & 0xff)
      }
    } finally { reader.dispose(); iis.close() }
  }

  /** Parallelism floor for codec stages (VERDICT r14 #4). A decode is
    * compute-bound, so its task count must track CORES, not the scan's
    * split count — yet it inherits the latter: the bench fixture's
    * documents table is one ~600 KB file = ONE split, so every codec
    * query ran serially on 1 of 32 threads, which is both a 32×
    * parallelism loss and the source of the mm_decode_features bench
    * instability (a single-task stage has zero cross-task averaging, so
    * one thread's scheduling jitter IS the query time; spread 1.9× even
    * on a quiet host, 4× under load).
    * When the input already carries >= defaultParallelism splits — any
    * real corpus, where files.maxPartitionBytes controls sizing — this
    * is a no-op and NO shuffle is added; below it, the thin
    * (doc_id, payload) relation hash-repartitions once (deterministic,
    * unlike round-robin), which costs ~the relation's size and buys a
    * cores-wide codec stage.
    */
  private def spreadToCores(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val s = df.sparkSession
    val cores = s.sparkContext.defaultParallelism
    val n = df.queryExecution.toRdd.getNumPartitions
    if (n < cores) df.repartition(cores, col("doc_id")) else df
  }

  /** The (doc_id, payload) relation every codec stage decodes — factored
    * so all of them share [[spreadToCores]]'s parallelism floor. */
  private def payloadRows(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[MmRow] = {
    import s.implicits._
    spreadToCores(t(s, dir, "documents")
      .select(col("doc_id"), encode(col("text"), "utf-8").as("payload")))
      .as[MmRow]
  }

  def queries: Map[String, Q] = Map(
    "mm_binary_features" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("payload", encode(col("text"), "utf-8"))
        .select(col("doc_id"),
          length(col("payload")).as("byte_len"),
          md5(col("payload")).as("payload_md5"),
          lower(hex(substring(col("payload"), 1, 4))).as("head_hex"))
    }),
    // frame sampling over a REAL multi-frame codec: each row synthesizes
    // an animated GIF (frame count a pure function of doc_id), the JDK GIF
    // reader decodes every frame, and one row per DECODED frame comes back
    // with the decoded dims, the decoded pixel value, and a fingerprint of
    // all three. The oracle re-derives k / dims / pixel independently, so
    // the gate passes only if a genuine encode→multi-frame-decode
    // round-trip happened (same contract as mm_decode_features).
    "mm_frame_sample" -> ((s, dir) => {
      import s.implicits._
      payloadRows(s, dir)
        .mapPartitions { it =>
          it.flatMap { r =>
            decodeGifFrames(synthGif(r.doc_id, r.payload)).zipWithIndex
              .map { case ((w, h, px), i) => (r.doc_id, i.toLong, w, h, px) }
          }
        }
        .toDF("doc_id", "frame_idx", "width", "height", "frame_px")
        // fingerprint of the DECODED values, hashed by the codegen'd md5
        .withColumn("frame_fp", md5(concat_ws("_",
          col("frame_px"), col("width"), col("height"))))
    }),
    "mm_decode_features" -> ((s, dir) => {
      import s.implicits._
      payloadRows(s, dir)
        .mapPartitions { it =>
          it.map { r =>
            val (w, h, c) = decodeImage(synthPng(r.doc_id, r.payload))
            (r.doc_id, w, h, c)
          }
        }
        .toDF("doc_id", "width", "height", "channels")
    }),
    // resize stage: decode → REAL pixel resample (Graphics2D bilinear
    // draw into the aspect-preserving fit-to-224 target) → re-decode the
    // resampled PNG and report ITS dims. The oracle re-derives the target
    // dims with integer math from the row alone, so the gate passes only
    // if decode, resample, re-encode, and re-decode all really happened
    // and preserved the geometry. One narrow mapPartitions stage.
    "mm_resize" -> ((s, dir) => {
      import s.implicits._
      payloadRows(s, dir)
        .mapPartitions { it =>
          it.map { r =>
            val png = synthPng(r.doc_id, r.payload)
            val (w, h, _) = decodeImage(png)
            val m = math.max(w, h)
            val resized = resizePng(png, w * 224 / m, h * 224 / m)
            val (ow, oh, _) = decodeImage(resized)
            (r.doc_id, w, h, ow, oh)
          }
        }
        .toDF("doc_id", "width", "height", "out_w", "out_h")
    }),
    // Perceptual-hash image dedup — the multimodal member of the dedup
    // family: an 8x8 grid-sample average-hash over the DECODED pixels
    // (nearest-grid sampling + integer grays + integer mean, instead of
    // the classic bilinear shrink, so every bit is exact integer
    // arithmetic the oracle re-derives analytically — while the Spark
    // side reads pixels from a genuine PNG decode, keeping the
    // gate-proves-the-codec contract). Image content is keyed by
    // floorMod(doc_id, 100), so the corpus carries ~5 copies of each
    // image at sf0.01 and the hash-groupBy forms REAL dup groups with a
    // keep-first survivor. Scale shape: narrow mapPartitions decode +
    // ONE hash-groupBy (map-side combine) — the exact-dedup plan with a
    // decoded-content key.
    "mm_phash_dedup" -> ((s, dir) =>
      phashes(s, dir)
        .groupBy(col("phash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_ct"))),
    // Perceptual NEAR-dup over the decoded-image hash — the banded
    // Hamming join (the simhash trick applied to the 64-bit aHash):
    // split each hash into 4 x 16-bit bands, candidates meet only
    // through an exact band match, then the Hamming verify runs on
    // candidates alone. By pigeonhole, any pair within Hamming 3 agrees
    // on >= 1 of the 4 bands — so unlike LSH this blocking has ZERO
    // false negatives at t = 3 while still never going all-pairs
    // (candidate volume is band-occupancy-bounded). The per-pair verify
    // is a 64-step codegen'd HOF over the hash strings.
    "mm_phash_neardup" -> ((s, dir) => phashNearPairs(s, dir)),
    // Band-coverage audit — the EXACT-coverage counterpart of
    // dedup_lsh_scurve, and the contrast is the lesson: probabilistic
    // minhash banding obeys an S-curve and can sag when the hashed set
    // mismatches the graded axis, while the 4×16-bit pigeonhole banding
    // is a THEOREM — any pair within Hamming 3 agrees on ≥1 band, so
    // measured coverage must read exactly 10⁶ ppm through the
    // guarantee radius (spec-pinned) and decays only beyond it, where
    // the blocking makes no promise. One row per observed Hamming
    // distance over DISTINCT hash classes: pair count, band-hit count,
    // hit ppm, and the guarantee bit. Like the other calibration
    // reports the all-pairs truth is sample-scale BY DESIGN (hash
    // CLASSES, not docs — the method_matrix rationale), absent from
    // the sweep.
    "mm_phash_band_coverage" -> ((s, dir) => {
      import graft.core.Barrier.BarrierOps
      val hc = phashes(s, dir).select(col("phash")).distinct()
        .barrier() // all-pairs sides + band sides
      bandAudit(hc)
    }),
    // The SCALE tier of the band-coverage audit (r16): the exact audit
    // above is all-pairs over distinct hash classes BY DESIGN, and the
    // r16 content-diversity fix makes distinct classes grow with the
    // corpus — so the sweepable form runs the SAME audit over a
    // universe sample of classes (the correlated-sampling device from
    // q_join_size_sketches: BOTH pair sides come from the one kept set,
    // so within-sample pair structure is exact, and the pigeonhole
    // guarantee — hamming ≤ 3 ⇒ ≥ 1 band hit — is a theorem on every
    // pair, sampled or not). `spark.graft.bandAuditMod` keeps 1/mod of
    // the classes; the oracle pins the default 2 (the ivfCentroids
    // precedent), and the scale harness sets mod ∝ k so kept classes —
    // and audit cost — stay CONSTANT at any corpus size.
    "mm_phash_band_coverage_sampled" -> ((s, dir) => {
      import graft.core.Barrier.BarrierOps
      // validated like storeBuckets (ADVICE r16): a typo'd conf fails
      // naming its key, not as a bare NumberFormatException
      val mod = s.conf.getOption("spark.graft.bandAuditMod")
        .map(raw => raw.trim.toIntOption.filter(_ > 0).getOrElse(sys.error(
          s"spark.graft.bandAuditMod must be a positive int, got '$raw'")))
        .getOrElse(2)
      val hc = phashes(s, dir).select(col("phash")).distinct()
        .filter(expr("pmod(CAST(conv(substring(md5(concat('bc|', phash))" +
          s", 1, 15), 16, 10) AS BIGINT), $mod) = 0"))
        .barrier() // all-pairs sides + band sides
      bandAudit(hc)
    }),
    // image-dedup clusters — the CONSUMER of the near-dup pairs: the
    // LARGE-STAR/SMALL-STAR edge-rewrite fixpoint from the dedup family
    // (O(log diameter) rounds over the thin pair relation only) labels
    // every doc with its min-id perceptual cluster; singletons label
    // themselves via one left join. Same 100 TB shape as
    // dedup_cc_clusters / sim_graph_components.
    "mm_phash_clusters" -> ((s, dir) => {
      import graft.core.Barrier.BarrierOps
      // fully collapse-first: CC runs over the distinct-HASH near graph
      // (one node per hash CLASS, keyed by the class's min doc id), and
      // docs attach to their class's component by one hash join — no
      // doc-pair relation is ever materialized, so clone-class size
      // never enters any join (the scale-safe consumer of the family).
      val hs = phashes(s, dir).barrier() // class reps + the final attach
      val reps = hs.groupBy(col("phash"))
        .agg(min(col("doc_id")).as("rep")).barrier()
      val edges = nearHashPairs(s, dir)
        .join(reps.select(col("phash").as("ha"), col("rep").as("doc_a")),
          "ha")
        .join(reps.select(col("phash").as("hb"), col("rep").as("doc_b")),
          "hb")
        .select(col("doc_a"), col("doc_b"))
      val (labels, _) = Dedup.ccLabelsFromEdges(edges)
      hs.join(reps, "phash")
        .join(labels.select(col("doc_id").as("rep"),
          col("cluster_id").as("m_lbl")), Seq("rep"), "left")
        .select(col("doc_id"),
          coalesce(col("m_lbl"), col("rep")).as("cluster_id"))
    }),
    // Scene-cut detection over the decoded frame sequence — the temporal
    // video op (shot segmentation for frame-dedup / clip extraction):
    // consecutive DECODED frame values compare through one lag window
    // PARTITIONED by doc (bounded by the per-doc frame count — never a
    // global window), boundaries with |Δgray| ≥ 64 flag as cuts. The
    // synthetic fill steps by 7 mod 256, so real cuts are exactly the
    // wraparound boundaries — data-dependent, not vacuous. The oracle
    // re-derives every frame value analytically; only a genuine
    // multi-frame decode makes the Spark side agree. Narrow decode +
    // one per-doc window — the 100 TB shape for per-asset sequences.
    "mm_scene_cuts" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
      decodedFrames(s, dir)
        .withColumn("prev_px", lag(col("px"), 1).over(w))
        .filter(col("prev_px").isNotNull)
        .select(col("doc_id"), col("frame_idx"),
          abs(col("px") - col("prev_px")).as("delta"),
          (abs(col("px") - col("prev_px")) >= 64).as("is_cut"))
    }),
    // The shot TABLE — the consumer of the cut boundaries (clip
    // extraction / per-shot sampling operates on segments, not cuts):
    // each frame's segment id is the running count of cut boundaries at
    // or before it (cut attaches to the LATER frame), one per-doc
    // cumulative window over the bounded frame sequence, then a
    // per-(doc, segment) rollup. Same narrow decode + per-doc window
    // shape as the cuts.
    "mm_scene_segments" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
      val cut = decodedFrames(s, dir)
        .withColumn("prev_px", lag(col("px"), 1).over(w))
        .withColumn("is_cut",
          when(col("prev_px").isNotNull &&
            abs(col("px") - col("prev_px")) >= 64, 1L).otherwise(0L))
      cut
        .withColumn("segment_id", sum(col("is_cut"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("doc_id"), col("segment_id"))
        .agg(min(col("frame_idx")).as("start_frame"),
          count(lit(1)).as("n_frames"))
    }),
    // Voice-activity detection over the DECODED PCM stream — the
    // windowed-energy segmentation every audio-curation pass runs before
    // transcription: 64-sample windows, integer mean-abs energy (one
    // truncating DIV — bit-exact in the oracle), gate at 64 (the
    // uniform-fill expectation, so windows flip by phase — the output
    // is data-dependent in both directions). The samples come off a real
    // JDK AudioSystem read (sign-normalized: WAV stores 8-bit unsigned),
    // while the oracle re-derives each sample from the row alone — the
    // gate passes only if the full PCM payload round-trips the codec.
    // Narrow decode + map-side-combinable per-(doc, window) aggregate.
    "mm_audio_vad" -> ((s, dir) => {
      import s.implicits._
      payloadRows(s, dir)
        .mapPartitions { it =>
          it.flatMap { r =>
            val pcm = decodeWavSamples(synthWav(r.doc_id, r.payload))
            pcm.grouped(64).zipWithIndex.map { case (wnd, wi) =>
              (r.doc_id, wi.toLong, wnd.length,
                wnd.map(v => math.abs(v.toLong)).sum)
            }
          }
        }
        .toDF("doc_id", "win_idx", "n_samples", "sum_abs")
        .select(col("doc_id"), col("win_idx"), col("n_samples"),
          expr("sum_abs DIV n_samples").as("mean_abs"),
          (expr("sum_abs DIV n_samples") >= 64).as("is_voiced"))
    }),
    // audio modality, same contract as decode: a real WAV round-trips
    // through the JDK codec and the reported frame count / rate / channel
    // / duration columns come from the DECODED header, while the oracle
    // re-derives them from the row alone
    "mm_audio_features" -> ((s, dir) => {
      import s.implicits._
      payloadRows(s, dir)
        .mapPartitions { it =>
          it.map { r =>
            val (rate, frames, ch) = decodeWav(synthWav(r.doc_id, r.payload))
            (r.doc_id, rate, frames, ch, frames * 1000L / rate)
          }
        }
        .toDF("doc_id", "sample_rate", "n_frames", "channels", "duration_ms")
    }))

  /** Deterministic WAV fixture: real 8 kHz mono 8-bit PCM rendered from
    * the row (frame count + samples are pure functions of doc_id and the
    * payload bytes), written through the JDK WAVE encoder — the audio
    * sibling of [[synthPng]].
    */
  def synthWav(docId: Long, textBytes: Array[Byte]): Array[Byte] = {
    // hand-rolled RIFF container, byte-identical to what the JDK
    // WaveFileWriter produced (8-bit WAV stores samples UNSIGNED, i.e.
    // signed ^ 0x80): `AudioSystem.write` serializes every call through
    // the provider registry — measured 20k rows in 4.5 s single-thread
    // and 3.3 s on THIRTY-TWO (1.4× from 32×: pure lock convoy), which
    // made every audio op super-linear in the scale sweep. The fixture
    // is synthesis, not the codec under test — DECODE stays on the real
    // JDK reader, which still parses this container for real.
    val n = 500 + textBytes.length % 1000
    val out = new Array[Byte](44 + n)
    val bb = java.nio.ByteBuffer.wrap(out)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(36 + n)
    bb.put("WAVE".getBytes("US-ASCII")); bb.put("fmt ".getBytes("US-ASCII"))
    bb.putInt(16); bb.putShort(1); bb.putShort(1)
    bb.putInt(8000); bb.putInt(8000); bb.putShort(1); bb.putShort(8)
    bb.put("data".getBytes("US-ASCII")); bb.putInt(n)
    var i = 0
    while (i < n) {
      val v = ((docId + i * 7) % 256 - 128).toByte // the signed sample
      bb.put((v ^ 0x80).toByte)                    // WAV's unsigned form
      i += 1
    }
    out
  }

  /** The JDK WAV codec, resolved ONCE through the public SPI instead of
    * per-call through `AudioSystem`'s synchronized registry (the same
    * lock convoy as the writer — see [[synthWav]]). Same decoder class
    * the registry would pick; the codec-proving contract is unchanged.
    */
  private lazy val wavReader: javax.sound.sampled.spi.AudioFileReader = {
    val it = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
    var found: javax.sound.sampled.spi.AudioFileReader = null
    while (found == null && it.hasNext) {
      val r = it.next()
      try { r.getAudioInputStream(new ByteArrayInputStream(
        synthWav(0L, Array.emptyByteArray))); found = r }
      catch { case _: Exception => }
    }
    require(found != null, "no JDK AudioFileReader accepts WAV")
    found
  }

  private def wavStream(bytes: Array[Byte])
      : javax.sound.sampled.AudioInputStream =
    wavReader.getAudioInputStream(new ByteArrayInputStream(bytes))

  /** REAL audio decode (JDK `AudioSystem`): WAV bytes in →
    * (sampleRate, frameLength, channels) out.
    */
  def decodeWav(bytes: Array[Byte]): (Int, Long, Int) = {
    val ais = wavStream(bytes)
    val f = ais.getFormat
    (f.getSampleRate.toInt, ais.getFrameLength, f.getChannels)
  }

  /** The decoded per-frame gray relation (doc_id, frame_idx, px) every
    * temporal video op starts from — one narrow mapPartitions through
    * the real multi-frame GIF decode. */
  private def decodedFrames(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    payloadRows(s, dir)
      .mapPartitions { it =>
        it.flatMap { r =>
          decodeGifFrames(synthGif(r.doc_id, r.payload)).zipWithIndex
            .map { case ((_, _, px), i) => (r.doc_id, i.toLong, px) }
        }
      }
      .toDF("doc_id", "frame_idx", "px")
  }

  /** REAL PCM payload decode: the full signed-8-bit sample stream off a
    * JDK `AudioSystem` read. WAV stores 8-bit audio UNSIGNED (the JDK
    * writer converts on encode), so samples normalize back to the signed
    * values the fixture rendered — checked via the DECODED stream's
    * encoding, not assumed.
    */
  def decodeWavSamples(bytes: Array[Byte]): Array[Byte] = {
    val ais = wavStream(bytes)
    val unsigned = ais.getFormat.getEncoding ==
      javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    var n = ais.read(buf)
    while (n > 0) { out.write(buf, 0, n); n = ais.read(buf) }
    val raw = out.toByteArray
    if (unsigned) raw.map(b => ((b & 0xff) - 128).toByte) else raw
  }

  /** 8x8 grid-sample average-hash of a decoded image: sample pixel
    * (i*w/8, j*h/8) for i,j in 0..7 (j-major), integer gray =
    * (r+g+b)/3, bit = gray >= integer mean of the 64 samples. All
    * integer arithmetic — the oracle reproduces every bit analytically.
    */
  /** The corpus's decoded-image hash relation (doc_id, phash) — REAL
    * PNG decode per row (the [[synthPng]] fixture contract), shared by
    * exact phash dedup and the banded near-dup join. */
  private[graft] def phashes(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    // Content-class space: floorMod(doc_id, classes). The default 100 is
    // the ORACLE contract — oraPhashCtes mirrors it analytically, and the
    // driver's gate runs at the default. The scale harness raises it ∝ k
    // (`spark.graft.mmClasses`, tools/Scaling.scala) so clone density
    // stays CONSTANT as the corpus scales: with the cap fixed at 100, a
    // k× corpus has k× members per class and the neardup sweep row
    // measures the fixture's k² clone growth, not the operator
    // (VERDICT r15 #2). Captured as a value — the closure must not drag
    // the session into the task.
    // validated like storeBuckets (ADVICE r16): fail naming the conf key
    val classes = s.conf.getOption("spark.graft.mmClasses")
      .map(raw => raw.trim.toLongOption.filter(_ > 0).getOrElse(sys.error(
        s"spark.graft.mmClasses must be a positive long, got '$raw'")))
      .getOrElse(100L)
    spreadToCores(t(s, dir, "documents").select(col("doc_id"))).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val key = java.lang.Math.floorMod(id, classes)
          // payload length 7 + key%24 → width 8 + key%24: wide enough
          // that the 8x8 grid samples distinct columns (w >= 8), so
          // different keys produce different hashes instead of
          // collapsing into a handful of degenerate patterns.
          // Classes BEYOND the oracle-pinned first 100 render through
          // [[synthMixedPng]] instead: aHash over synthPng's linear
          // gradient is intrinsically DEGENERATE — mean-thresholding a
          // near-constant-slope ramp yields ~55 distinct bit patterns
          // total (the mm_phash_dedup gate row IS that count), so any
          // corpus growth collapses onto the same few hashes and the
          // pair relation is quadratic no matter how many gradient
          // classes exist (measured r16: classes ∝ k alone moved 64×
          // rows 2.27 B → 0.86 B, still ~k²). The mixed renderer gives
          // every extended class a decorrelated ~Bernoulli(1/2) hash;
          // keys < 100 stay bit-identical to the oracle contract.
          val png = if (key < 100L)
            synthPng(key, new Array[Byte](7 + (key % 24L).toInt))
          else synthMixedPng(key)
          (id, aHash(ImageIO.read(new ByteArrayInputStream(png))))
        }
      }
      .toDF("doc_id", "phash")
  }

  /** Banded near (Hamming <= 3) DISTINCT-hash pairs (ha, hb, hamming),
    * ha < hb — the whole near-dup computation runs HERE, over one row
    * per distinct hash. Exact-dup clones collapse before any join, so
    * clone-class size (which the 64x-cloned scale fixture inflates, and
    * which real corpora inflate with boilerplate images) never enters
    * the band join's cost. */
  private[graft] def nearHashPairs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import graft.core.Barrier.BarrierOps
    val hc = phashes(s, dir).select(col("phash")).distinct()
      .barrier() // both band sides read it
    val bands = hc.select(col("phash"),
      posexplode(array((0 until 4).map(b =>
        substring(col("phash"), 1 + 16 * b, 16)): _*))
        .as(Seq("band_idx", "band")))
    bands.select(col("band_idx"), col("band"), col("phash").as("ha"))
      .join(bands.select(col("band_idx"), col("band"),
        col("phash").as("hb")), Seq("band_idx", "band"))
      .filter(col("ha") < col("hb"))
      .select(col("ha"), col("hb")).distinct()
      .select(col("ha"), col("hb"),
        expr("size(filter(sequence(1, 64), i -> " +
          "substring(ha, i, 1) != substring(hb, i, 1)))")
          .cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
  }

  /** The band-coverage audit body over a (possibly sampled) distinct-hash
    * relation: 4×16-bit band split, band-match candidates, all-pairs
    * hamming histogram with per-distance hit ppm and the pigeonhole
    * guarantee bit. Caller barriers `hc` (read by three sides).
    */
  private def bandAudit(
      hc: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val bands = hc.select(col("phash"),
      posexplode(array((0 until 4).map(b =>
        substring(col("phash"), 1 + 16 * b, 16)): _*))
        .as(Seq("band_idx", "band")))
    val cand = bands.select(col("band_idx"), col("band"),
        col("phash").as("ha"))
      .join(bands.select(col("band_idx"), col("band"),
        col("phash").as("hb")), Seq("band_idx", "band"))
      .filter(col("ha") < col("hb"))
      .select(col("ha"), col("hb")).distinct()
      .withColumn("hit", lit(1L))
    hc.select(col("phash").as("ha"))
      .join(hc.select(col("phash").as("hb")), col("ha") < col("hb"))
      .select(col("ha"), col("hb"),
        expr("size(filter(sequence(1, 64), i -> " +
          "substring(ha, i, 1) != substring(hb, i, 1)))")
          .cast("long").as("hamming"))
      .join(cand, Seq("ha", "hb"), "left")
      .groupBy(col("hamming"))
      .agg(count(lit(1)).as("n_pairs"),
        coalesce(sum(col("hit")), lit(0L)).as("n_band_hits"))
      .select(col("hamming"), col("n_pairs"), col("n_band_hits"),
        expr("(n_band_hits * 1000000) DIV n_pairs").as("hit_ppm"),
        (col("hamming") <= 3).as("guaranteed"))
  }

  /** Doc-level near-dup pair relation (doc_a, doc_b, hamming <= 3) —
    * the collapse-first expansion of [[nearHashPairs]]: within-class
    * pairs are the exact-dup (hamming 0) expansion, cross-class pairs
    * attach members to each side of a near HASH pair. The only
    * clone-class-quadratic step is writing the pair LIST itself (output
    * size is the semantics); every join input is distinct-hash-sized or
    * output-sized. */
  private[graft] def phashNearPairs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import graft.core.Barrier.BarrierOps
    val hs = phashes(s, dir).barrier() // read by both expansions (3x)
    val within = hs.select(col("phash"), col("doc_id").as("doc_a"))
      .join(hs.select(col("phash"), col("doc_id").as("doc_b")), "phash")
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), lit(0L).as("hamming"))
    val cross = nearHashPairs(s, dir)
      .join(hs.select(col("phash").as("ha"), col("doc_id").as("da")), "ha")
      .join(hs.select(col("phash").as("hb"), col("doc_id").as("db")), "hb")
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("hamming"))
    within.unionByName(cross)
  }

  def aHash(img: BufferedImage): String = {
    val w = img.getWidth
    val h = img.getHeight
    val gs = for (j <- 0 until 8; i <- 0 until 8) yield {
      val v = img.getRGB(i * w / 8, j * h / 8) & 0xffffff
      (((v >> 16) & 255) + ((v >> 8) & 255) + (v & 255)) / 3
    }
    val mean = gs.sum / 64
    gs.map(g => if (g >= mean) '1' else '0').mkString
  }

  /** Real resample: decode → bilinear Graphics2D draw into (outW, outH) →
    * PNG re-encode. JDK-only, per-row pure, no shuffle.
    */
  def resizePng(png: Array[Byte], outW: Int, outH: Int): Array[Byte] = {
    val src = ImageIO.read(new ByteArrayInputStream(png))
    val dst = new BufferedImage(outW, outH, BufferedImage.TYPE_3BYTE_BGR)
    val g = dst.createGraphics()
    g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
      java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
    g.drawImage(src, 0, 0, outW, outH, null)
    g.dispose()
    val bos = new ByteArrayOutputStream()
    ImageIO.write(dst, "png", bos)
    bos.toByteArray
  }

  /** Arithmetic mirror of [[phashes]] (the synthPng pixel formula through
    * the aHash grid sample, channel average, mean threshold) — emits the
    * `hs(doc_id, phash)` CTE, shared by the exact-dedup and banded
    * near-dup oracles. */
  private val oraPhashCtes: String =
    """d AS (
      |  SELECT doc_id, ((doc_id % 100) + 100) % 100 AS key
      |  FROM documents),
      |dims AS (
      |  SELECT doc_id, key,
      |    1 + (7 + key % 24) % 31 AS w,
      |    1 + key % 17 AS h
      |  FROM d),
      |gr AS (
      |  SELECT doc_id, j, i,
      |    (((v // 65536) % 256) + ((v // 256) % 256) + (v % 256)) // 3
      |      AS gray
      |  FROM (
      |    SELECT doc_id, j, i,
      |      (key + (i * w // 8) * 31 + (j * h // 8)) % 16777216 AS v
      |    FROM dims,
      |      unnest(generate_series(0, 7)) AS a(i),
      |      unnest(generate_series(0, 7)) AS b(j))),
      |m AS (SELECT doc_id, sum(gray) // 64 AS mean FROM gr GROUP BY 1),
      |hs AS (
      |  SELECT gr.doc_id,
      |    string_agg(CASE WHEN gray >= mean THEN '1' ELSE '0' END, ''
      |      ORDER BY j, i) AS phash
      |  FROM gr JOIN m ON m.doc_id = gr.doc_id GROUP BY 1)""".stripMargin

  def oracles: Map[String, String] = Map(
    "mm_binary_features" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS INT) AS byte_len,
        |  md5(text) AS payload_md5,
        |  lower(hex(encode(substring(text, 1, 4)))) AS head_hex
        |FROM documents""".stripMargin,
    // frame count, dims, and the per-frame gray fill all re-derived with
    // integer math, independently of the codec ((x % m + m) % m mirrors
    // Java's floorMod so negative planted doc_ids agree): only a genuine
    // multi-frame GIF encode→decode round-trip makes the Spark side agree
    "mm_frame_sample" ->
      """SELECT doc_id, f.frame_idx,
        |  CAST(1 + octet_length(encode(text)) % 31 AS INT) AS width,
        |  CAST(1 + ((doc_id % 17) + 17) % 17 AS INT) AS height,
        |  CAST(((doc_id * 31 + f.frame_idx * 7) % 256 + 256) % 256 AS INT)
        |    AS frame_px,
        |  md5(CAST(((doc_id * 31 + f.frame_idx * 7) % 256 + 256) % 256
        |        AS VARCHAR)
        |      || '_' || CAST(1 + octet_length(encode(text)) % 31 AS VARCHAR)
        |      || '_' || CAST(1 + ((doc_id % 17) + 17) % 17 AS VARCHAR))
        |    AS frame_fp
        |FROM documents,
        |  UNNEST(generate_series(0, ((doc_id % 4) + 4) % 4)) AS f(frame_idx)
        |""".stripMargin,
    // dims re-derived independently of the codec: only a correct
    // PNG encode→decode round-trip makes the Spark side agree
    "mm_decode_features" ->
      """SELECT doc_id,
        |  CAST(1 + octet_length(encode(text)) % 31 AS INT) AS width,
        |  CAST(1 + ((doc_id % 17) + 17) % 17 AS INT) AS height,
        |  3 AS channels
        |FROM documents""".stripMargin,
    // every sampled pixel re-derived analytically (synth fill =
    // (key + x*31 + y) & 0xffffff; PNG is lossless and the BGR int
    // round-trip is exact), grays and the mean in pure integer math —
    // only a faithful decode makes the Spark-side hash agree bit-for-bit
    "mm_phash_dedup" ->
      s"""WITH $oraPhashCtes
         |SELECT phash, min(doc_id) AS keep_id, count(*) AS dup_ct
         |FROM hs GROUP BY 1""".stripMargin,
    // mirrors the band-coverage audit: distinct hash classes, the same
    // 4×16 band split, all-pairs Hamming histogram with a band-hit flag
    "mm_phash_band_coverage" ->
      s"""WITH $oraPhashCtes,
         |hc AS MATERIALIZED (SELECT DISTINCT phash FROM hs),
         |bands AS MATERIALIZED (
         |  SELECT phash, b AS band_idx,
         |    substring(phash, 1 + 16 * b, 16) AS band
         |  FROM hc, (SELECT unnest(generate_series(0, 3)) AS b)),
         |cand AS MATERIALIZED (
         |  SELECT DISTINCT a.phash AS ha, b.phash AS hb
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band = b.band
         |   AND a.phash < b.phash),
         |pr AS MATERIALIZED (
         |  SELECT a.phash AS ha, b.phash AS hb,
         |    CAST(len(list_filter(generate_series(1, 64), i ->
         |      substring(a.phash, i, 1) <> substring(b.phash, i, 1)))
         |      AS BIGINT) AS hamming
         |  FROM hc a JOIN hc b ON a.phash < b.phash)
         |SELECT pr.hamming, count(*) AS n_pairs,
         |  CAST(coalesce(sum(CASE WHEN cand.ha IS NOT NULL
         |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_band_hits,
         |  (CAST(coalesce(sum(CASE WHEN cand.ha IS NOT NULL
         |    THEN 1 ELSE 0 END), 0) AS BIGINT) * 1000000) // count(*)
         |    AS hit_ppm,
         |  pr.hamming <= 3 AS guaranteed
         |FROM pr LEFT JOIN cand ON cand.ha = pr.ha AND cand.hb = pr.hb
         |GROUP BY 1""".stripMargin,
    // the sampled scale tier: identical audit over the universe-sampled
    // class set (md5-bucket gate, both pair sides from the one kept set;
    // the oracle pins the default mod 2)
    "mm_phash_band_coverage_sampled" ->
      s"""WITH $oraPhashCtes,
         |hc AS MATERIALIZED (
         |  SELECT phash FROM (SELECT DISTINCT phash FROM hs)
         |  WHERE ('0x' || substring(md5('bc|' || phash), 1, 15))::BIGINT
         |    % 2 = 0),
         |bands AS MATERIALIZED (
         |  SELECT phash, b AS band_idx,
         |    substring(phash, 1 + 16 * b, 16) AS band
         |  FROM hc, (SELECT unnest(generate_series(0, 3)) AS b)),
         |cand AS MATERIALIZED (
         |  SELECT DISTINCT a.phash AS ha, b.phash AS hb
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band = b.band
         |   AND a.phash < b.phash),
         |pr AS MATERIALIZED (
         |  SELECT a.phash AS ha, b.phash AS hb,
         |    CAST(len(list_filter(generate_series(1, 64), i ->
         |      substring(a.phash, i, 1) <> substring(b.phash, i, 1)))
         |      AS BIGINT) AS hamming
         |  FROM hc a JOIN hc b ON a.phash < b.phash)
         |SELECT pr.hamming, count(*) AS n_pairs,
         |  CAST(coalesce(sum(CASE WHEN cand.ha IS NOT NULL
         |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_band_hits,
         |  (CAST(coalesce(sum(CASE WHEN cand.ha IS NOT NULL
         |    THEN 1 ELSE 0 END), 0) AS BIGINT) * 1000000) // count(*)
         |    AS hit_ppm,
         |  pr.hamming <= 3 AS guaranteed
         |FROM pr LEFT JOIN cand ON cand.ha = pr.ha AND cand.hb = pr.hb
         |GROUP BY 1""".stripMargin,
    // same hash chain → 4 x 16-bit bands → exact-band candidate join →
    // per-pair Hamming over the hash strings (<= 3)
    "mm_phash_neardup" ->
      s"""WITH $oraPhashCtes,
         |bands AS (
         |  SELECT doc_id, phash, b AS band_idx,
         |    substr(phash, 1 + 16 * b, 16) AS band
         |  FROM hs, unnest(generate_series(0, 3)) AS t(b)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    a.phash AS ha, b.phash AS hb
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band = b.band
         |      AND a.doc_id < b.doc_id),
         |ham AS (
         |  SELECT doc_a, doc_b,
         |    CAST(len(list_filter(generate_series(1, 64),
         |      i -> substr(ha, i, 1) <> substr(hb, i, 1))) AS BIGINT)
         |      AS hamming
         |  FROM cand)
         |SELECT doc_a, doc_b, hamming FROM ham
         |WHERE hamming <= 3""".stripMargin,
    // same pair chain → transitive closure → min-id cluster labels (the
    // dedup_cc oracle pattern over the perceptual pair relation)
    "mm_phash_clusters" ->
      s"""WITH RECURSIVE $oraPhashCtes,
         |bands AS (
         |  SELECT doc_id, phash, b AS band_idx,
         |    substr(phash, 1 + 16 * b, 16) AS band
         |  FROM hs, unnest(generate_series(0, 3)) AS t(b)),
         |pairs AS (
         |  SELECT doc_a, doc_b FROM (
         |    SELECT doc_a, doc_b,
         |      len(list_filter(generate_series(1, 64),
         |        i -> substr(ha, i, 1) <> substr(hb, i, 1))) AS hamming
         |    FROM (
         |      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |        a.phash AS ha, b.phash AS hb
         |      FROM bands a JOIN bands b
         |        ON a.band_idx = b.band_idx AND a.band = b.band
         |          AND a.doc_id < b.doc_id))
         |  WHERE hamming <= 3),
         |edges AS (
         |  SELECT doc_a AS x, doc_b AS y FROM pairs
         |  UNION
         |  SELECT doc_b, doc_a FROM pairs),
         |reach(x, y) AS (
         |  SELECT x, y FROM edges
         |  UNION
         |  SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x),
         |minr AS (SELECT x AS doc_id, min(y) AS mn FROM reach GROUP BY 1)
         |SELECT d.doc_id,
         |  CASE WHEN m.mn IS NULL OR d.doc_id < m.mn THEN d.doc_id
         |       ELSE m.mn END AS cluster_id
         |FROM documents d LEFT JOIN minr m ON m.doc_id = d.doc_id""".stripMargin,
    // per-frame gray re-derived analytically (the mm_frame_sample
    // formula), the lag comparison in plain SQL — a cut exists exactly
    // where the +7 fill wraps mod 256
    "mm_scene_cuts" ->
      """WITH fr AS (
        |  SELECT doc_id, f.frame_idx,
        |    CAST(((doc_id * 31 + f.frame_idx * 7) % 256 + 256) % 256
        |      AS INT) AS px
        |  FROM documents,
        |    UNNEST(generate_series(0, ((doc_id % 4) + 4) % 4))
        |      AS f(frame_idx))
        |SELECT doc_id, frame_idx, CAST(abs(px - prev_px) AS INT) AS delta,
        |  abs(px - prev_px) >= 64 AS is_cut
        |FROM (SELECT doc_id, frame_idx, px,
        |        lag(px) OVER (PARTITION BY doc_id ORDER BY frame_idx)
        |          AS prev_px
        |      FROM fr)
        |WHERE prev_px IS NOT NULL""".stripMargin,
    // the same frame CTE, cumulative cut count as the segment id, then
    // the per-(doc, segment) rollup
    "mm_scene_segments" ->
      """WITH fr AS (
        |  SELECT doc_id, f.frame_idx,
        |    CAST(((doc_id * 31 + f.frame_idx * 7) % 256 + 256) % 256
        |      AS INT) AS px
        |  FROM documents,
        |    UNNEST(generate_series(0, ((doc_id % 4) + 4) % 4))
        |      AS f(frame_idx)),
        |cuts AS (
        |  SELECT doc_id, frame_idx,
        |    CASE WHEN prev_px IS NOT NULL AND abs(px - prev_px) >= 64
        |         THEN 1 ELSE 0 END AS is_cut
        |  FROM (SELECT doc_id, frame_idx, px,
        |          lag(px) OVER (PARTITION BY doc_id ORDER BY frame_idx)
        |            AS prev_px
        |        FROM fr)),
        |segs AS (
        |  SELECT doc_id, frame_idx,
        |    CAST(sum(is_cut) OVER (PARTITION BY doc_id ORDER BY frame_idx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS segment_id
        |  FROM cuts)
        |SELECT doc_id, segment_id,
        |  CAST(min(frame_idx) AS BIGINT) AS start_frame,
        |  CAST(count(*) AS BIGINT) AS n_frames
        |FROM segs GROUP BY 1, 2""".stripMargin,
    // every sample re-derived from the fixture formula (non-negative
    // parquet doc_ids keep the Java remainder in [0, 255], so the signed
    // value is (x % 256) - 128 exactly); windowed integer mean-abs with
    // one truncating // mirroring Spark's DIV
    "mm_audio_vad" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    CAST(500 + octet_length(encode(text)) % 1000 AS BIGINT) AS n
        |  FROM documents),
        |smp AS (
        |  SELECT doc_id, i.i AS i,
        |    abs(((doc_id + i.i * 7) % 256) - 128) AS a
        |  FROM base, UNNEST(generate_series(0, n - 1)) AS i(i)),
        |wins AS (
        |  SELECT doc_id, i // 64 AS win_idx,
        |    CAST(count(*) AS INT) AS n_samples,
        |    CAST(sum(a) AS BIGINT) AS sum_abs
        |  FROM smp GROUP BY 1, 2)
        |SELECT doc_id, win_idx, n_samples,
        |  CAST(sum_abs // n_samples AS BIGINT) AS mean_abs,
        |  sum_abs // n_samples >= 64 AS is_voiced
        |FROM wins""".stripMargin,
    "mm_audio_features" ->
      """SELECT doc_id, 8000 AS sample_rate,
        |  CAST(500 + octet_length(encode(text)) % 1000 AS BIGINT) AS n_frames,
        |  1 AS channels,
        |  CAST((500 + octet_length(encode(text)) % 1000) * 1000 // 8000
        |    AS BIGINT) AS duration_ms
        |FROM documents""".stripMargin,
    "mm_resize" ->
      """SELECT doc_id, width, height,
        |  CAST(width * 224 // greatest(width, height) AS INT) AS out_w,
        |  CAST(height * 224 // greatest(width, height) AS INT) AS out_h
        |FROM (SELECT doc_id,
        |        CAST(1 + octet_length(encode(text)) % 31 AS INT) AS width,
        |        CAST(1 + ((doc_id % 17) + 17) % 17 AS INT) AS height
        |      FROM documents)""".stripMargin)
}
