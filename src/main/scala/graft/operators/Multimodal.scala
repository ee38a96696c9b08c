package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** Multimodal-column pipeline — beyond-reference extension (SURVEY §2.5
  * north star): media (image/audio/video) carried as opaque `binary` columns
  * with a typed metadata struct, plus decode / feature-extract / frame-sample
  * stages.
  *
  * The test substrate has no media files and this container has no codec
  * libraries, so the DECODE step is a clearly-marked deterministic stub
  * ([[StubDecoder]]); everything around it — the binary payload column, the
  * metadata schema, frame slicing, per-frame feature extraction, the
  * partition-batched decode plumbing — is real and is what carries over
  * unchanged when a JNI/py codec replaces the stub.
  *
  * Two execution paths, deliberately:
  *   - [[frameFeatures]]: native Catalyst expressions (binary substr +
  *     xxhash64) — the right path when the "feature" is expressible, keeps
  *     whole-stage codegen;
  *   - [[decodeWithStub]]: `mapPartitions` over a typed Dataset with a
  *     per-partition decoder instance — the Spark-idiomatic shape for real
  *     codec libraries (heavy init amortized per partition, rows streamed per
  *     batch; the Scala analogue of a Pandas `mapInPandas` decode). Kept off
  *     the oracle path and benchmarked separately: it breaks codegen by
  *     design, which is the price of arbitrary native decoders.
  */
object Multimodal {

  val FrameBytes = 256

  /** Derive the multimodal asset table from `documents`: the UTF-8 bytes of
    * `text` stand in for media bytes; mime type is assigned deterministically
    * so all three media kinds appear. Schema is the real thing:
    * (doc_id, payload binary, meta struct<mime,byte_len,n_frames>).
    */
  def assets(docs: DataFrame): DataFrame = {
    val payload = col("text").cast("binary")
    // pmod, not %: Spark's % keeps the dividend's sign, so a negative
    // doc_id would hit element_at index 0 (error) or -1 (silent wrap)
    val mime = element_at(
      array(lit("image/png"), lit("audio/wav"), lit("video/mp4")),
      (pmod(col("doc_id"), lit(3)) + 1).cast("int"))
    docs.select(
      col("doc_id"),
      payload.as("payload"),
      struct(
        mime.as("mime"),
        length(payload).as("byte_len"),
        ceil(length(payload).cast("double") / FrameBytes).cast("int").as("n_frames")
      ).as("meta"))
  }

  /** Metadata projection (oracle-checkable): typed per-asset facts derived
    * from the opaque payload without decoding it.
    */
  def metadata(docs: DataFrame): DataFrame =
    assets(docs).select(
      col("doc_id"),
      col("meta.mime").as("mime"),
      col("meta.byte_len").as("byte_len"),
      col("meta.n_frames").as("n_frames"))

  /** Native-expression feature path: slice the payload into fixed-size
    * frames (binary substring), hash each frame (the stand-in for a per-frame
    * feature vector), optionally sample every `stride`-th frame. No UDF —
    * stays inside whole-stage codegen.
    * Returns (doc_id, n_frames, n_sampled, first_frame_feature).
    */
  def frameFeatures(docs: DataFrame, stride: Int = 2): DataFrame = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    val a = assets(docs)
    // guard the empty payload: sequence(0, -1) yields [0, -1] (descending
    // step default), which would fabricate two phantom frames
    val frames = when(col("meta.n_frames") >= 1,
      transform(
        sequence(lit(0), col("meta.n_frames") - 1),
        i => xxhash64(col("payload").substr(i * FrameBytes + 1, lit(FrameBytes)))))
      .otherwise(array().cast("array<bigint>"))
    val sampled = filter(frames, (_, i) => i % stride === 0)
    a.select(
      col("doc_id"),
      col("meta.n_frames").as("n_frames"),
      size(sampled).as("n_sampled"),
      try_element_at(frames, lit(1)).as("first_frame_feature"))
  }

  /** ENGINE-PORTABLE frame features: frames are [[FrameBytes]]-CODEPOINT
    * windows of the text (the char-sliced twin of [[frameFeatures]]'s byte
    * frames — the same substitution [[graft.operators.Dedup.chunkDedup]]
    * makes for its content blocks, since `substr` character semantics agree
    * across engines while byte slicing of UTF-8 does not), and the per-frame
    * feature is the md5 hex of the frame text. Registered, oracle-checked
    * form; the byte/xxhash64 [[frameFeatures]] stays spec-pinned as the
    * binary-payload path.
    *
    * Returns (doc_id, n_frames, n_sampled, first_frame_feature).
    */
  def frameFeaturesPortable(docs: DataFrame, stride: Int = 2): DataFrame = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    val nFrames = ceil(length(col("text")).cast("double") / FrameBytes).cast("int")
    // same empty-payload guard as frameFeatures: sequence(0, -1) descends
    val frames = when(nFrames >= 1,
      transform(
        sequence(lit(0), nFrames - 1),
        i => md5(col("text").substr(i * FrameBytes + 1, lit(FrameBytes)))))
      .otherwise(array().cast("array<string>"))
    val sampled = filter(frames, (_, i) => i % stride === 0)
    docs.select(
      col("doc_id"),
      nFrames.as("n_frames"),
      size(sampled).as("n_sampled"),
      try_element_at(frames, lit(1)).as("first_frame_feature"))
  }

  /** A decoded media frame batch row. */
  final case class DecodedFrames(docId: Long, mime: String, nFrames: Int, features: Array[Long])

  /** The decoder seam a real codec plugs into: payload bytes → per-frame
    * feature values, and payload bytes → re-encoded smaller payload
    * (image resize / audio downsample / video transcode — whatever "smaller
    * representation" means for the mime type).
    */
  trait MediaDecoder extends Serializable {
    def decode(mime: String, payload: Array[Byte]): Array[Long]

    /** Re-encode the payload at 1/factor resolution. */
    def resize(mime: String, payload: Array[Byte], factor: Int): Array[Byte]
  }

  /** STUB — deterministic fake decode/resize. A real implementation would
    * hand the bytes to an image/audio/video library; none exists in this
    * environment, so frames are fixed-size byte slices, the "feature" is a
    * 64-bit hash of each slice, and "resize" keeps every factor-th byte
    * (yielding ceil(len/factor) bytes — the size contract a real resizer's
    * stand-in must honor so the pipeline arithmetic stays checkable).
    * Deterministic, so tests and parity checks are stable.
    */
  object StubDecoder extends MediaDecoder {
    def decode(mime: String, payload: Array[Byte]): Array[Long] =
      payload.grouped(FrameBytes).map { frame =>
        // FNV-1a over the frame bytes — cheap, deterministic, dependency-free
        var h = 0xcbf29ce484222325L
        var i = 0
        while (i < frame.length) { h ^= (frame(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
        h
      }.toArray

    def resize(mime: String, payload: Array[Byte], factor: Int): Array[Byte] = {
      require(factor >= 1, s"resize factor must be >= 1, got $factor")
      val out = new Array[Byte]((payload.length + factor - 1) / factor)
      var i = 0
      while (i < out.length) { out(i) = payload(i * factor); i += 1 }
      out
    }
  }

  /** REAL image codec behind the same seam — the JDK's built-in
    * `javax.imageio` (PNG/BMP/GIF/JPEG readers ship with the JRE, so no new
    * dependency): `decode` parses the actual image and emits one feature per
    * PIXEL ROW (FNV-1a over the row's packed ARGB values — a deterministic
    * stand-in for a per-row embedding), `resize` rescales to 1/factor
    * dimensions (floor, min 1) and re-encodes as PNG. Headless-safe:
    * BufferedImage raster work needs no display. The stub remains the
    * default for the registered queries (their payloads are text bytes, and
    * its output arithmetic is oracle-checkable); this proves the SEAM —
    * schema, partition batching, typed output — carries a real codec
    * unchanged (MultimodalSpec decodes generated PNG fixtures through
    * [[decodeAssets]] with it).
    */
  object ImageIoDecoder extends MediaDecoder {
    private def readImage(payload: Array[Byte]): java.awt.image.BufferedImage = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      require(img != null, "payload is not a decodable image")
      img
    }

    def decode(mime: String, payload: Array[Byte]): Array[Long] = {
      val img = readImage(payload)
      Array.tabulate(img.getHeight) { y =>
        var h = 0xcbf29ce484222325L
        var x = 0
        while (x < img.getWidth) {
          h ^= (img.getRGB(x, y) & 0xffffffffL); h *= 0x100000001b3L
          x += 1
        }
        h
      }
    }

    def resize(mime: String, payload: Array[Byte], factor: Int): Array[Byte] = {
      require(factor >= 1, s"resize factor must be >= 1, got $factor")
      val img = readImage(payload)
      val w = math.max(1, img.getWidth / factor)
      val h = math.max(1, img.getHeight / factor)
      val out = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      // drawImage over a BufferedImage source is synchronous — never the
      // async getScaledInstance, whose null-observer draw can miss pixels
      try g.drawImage(img, 0, 0, w, h, null)
      finally g.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(out, "png", bos)
      bos.toByteArray
    }
  }

  /** Partition-batched decode over an (doc_id, mime, payload binary) asset
    * table: one decoder per partition (where a real codec initializes its
    * native context once), rows streamed through it. This is the
    * `mapInPandas`-shaped seam; use [[frameFeatures]] whenever the feature
    * is expressible natively.
    */
  def decodeAssets(
      assetRows: DataFrame, decoder: MediaDecoder): Dataset[DecodedFrames] = {
    val a = assetRows.select(col("doc_id"), col("mime"), col("payload"))
    implicit val enc = Encoders.product[DecodedFrames]
    a.as(Encoders.tuple(Encoders.scalaLong, Encoders.STRING, Encoders.BINARY))
      .mapPartitions { rows =>
        // real codecs initialize per-partition state here (native handles,
        // thread pools); the stub needs none
        rows.map { case (id, mime, payload) =>
          val feats = decoder.decode(mime, payload)
          DecodedFrames(id, mime, feats.length, feats)
        }
      }
  }

  /** [[decodeAssets]] over the documents-derived asset table with the stub
    * codec — the registered, oracle-checkable form.
    */
  def decodeWithStub(docs: DataFrame, decoder: MediaDecoder = StubDecoder): Dataset[DecodedFrames] =
    decodeAssets(
      assets(docs).select(col("doc_id"), col("meta.mime").as("mime"), col("payload")),
      decoder)

  /** A resized asset row: the re-encoded payload plus the size accounting
    * the oracle checks.
    */
  final case class ResizedAsset(docId: Long, mime: String, byteLen: Int,
      byteLenResized: Int, resized: Array[Byte])

  /** Resize every asset through the decoder seam (same `mapPartitions`
    * shape as [[decodeWithStub]]). The stub's output length contract
    * (ceil(len/factor)) is SQL-expressible, so the size accounting is
    * oracle-checked; the resized CONTENT is pinned by `MultimodalSpec`.
    */
  def resizeWithStub(
      docs: DataFrame, factor: Int = 4,
      decoder: MediaDecoder = StubDecoder): Dataset[ResizedAsset] =
    resizeAssets(
      assets(docs).select(col("doc_id"), col("meta.mime").as("mime"), col("payload")),
      factor, decoder)

  /** [[resizeWithStub]]'s seam over an arbitrary (doc_id, mime, payload)
    * asset table — the entry point a real codec (e.g. [[ImageIoDecoder]])
    * plugs into.
    */
  def resizeAssets(
      assetRows: DataFrame, factor: Int,
      decoder: MediaDecoder): Dataset[ResizedAsset] = {
    val a = assetRows.select(col("doc_id"), col("mime"), col("payload"))
    implicit val enc = Encoders.product[ResizedAsset]
    a.as(Encoders.tuple(Encoders.scalaLong, Encoders.STRING, Encoders.BINARY))
      .mapPartitions { rows =>
        rows.map { case (id, mime, payload) =>
          val r = decoder.resize(mime, payload, factor)
          ResizedAsset(id, mime, payload.length, r.length, r)
        }
      }
  }
}
