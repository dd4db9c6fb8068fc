package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Multimodal-column plumbing: opaque `binary` payloads + typed metadata,
  * with decode / feature-extraction as batched per-partition functions.
  *
  * The container has no image/audio codecs, so the decode step is a
  * clearly-marked deterministic STUB ([[FakeDecoder]]); everything around
  * it — binary column handling, schema, partition-batched UDF shape,
  * output metadata — is real and tested. Swapping FakeDecoder.decode for a
  * JNI/codec call changes nothing structurally.
  *
  * Scale notes: payloads stay opaque binary end-to-end (never stringified),
  * decode runs per partition (amortized setup — exactly the mapInPandas
  * batching rationale), and metadata-only queries never touch the payload
  * column thanks to parquet column pruning.
  */
object Multimodal {

  /** Feature-vector width every [[MediaCodec]] must emit. */
  val FeatureDim = 4

  final case class Decoded(width: Int, height: Int, features: Array[Double])

  /** The ONLY error type a codec may surface for undecodable bytes: the
    * pipeline routes it to a quarantine verdict instead of failing the
    * task (an arbitrary crash type can't be told apart from an engine
    * bug).
    */
  final class MediaDecodeException(msg: String, cause: Throwable = null)
    extends RuntimeException(msg, cause)

  /** THE CODEC BOUNDARY — the one swap point between this library's
    * multimodal plumbing and a real image/audio codec (JNI/FFI in a
    * real deployment; this container ships none, so [[FakeDecoder]] is
    * the honest stand-in). The contract a real implementation must
    * satisfy — machine-checked by MultimodalSpec.codecConformance,
    * which runs against ANY MediaCodec instance:
    *
    *  1. DETERMINISM: `decode` is a pure function of the input bytes —
    *     equal inputs give field-identical outputs across calls and
    *     JVMs. This is what makes re-ingest/replayed micro-batches
    *     idempotent (the q_stream_* batchId-keyed overwrite contract)
    *     and decode outputs oracle-able.
    *  2. TOTALITY: ANY byte array (empty, truncated, non-UTF8, random)
    *     either returns a Decoded or throws [[MediaDecodeException]] —
    *     never an undocumented crash type.
    *  3. SHAPE: width >= 1, height >= 1, features.length == FeatureDim,
    *     every feature finite (no NaN/Inf reaches the feature store).
    *  4. SERIALIZABLE: instances ship inside task closures — decoder
    *     init cost amortizes per PARTITION (mapPartitions / the
    *     mapInPandas batching rationale), never per row.
    */
  trait MediaCodec extends Serializable {
    def decode(bytes: Array[Byte]): Decoded
  }

  /** STUB decoder: stands in for an image/audio codec. Deterministic pure
    * function of the bytes so specs can pin outputs. A real deployment
    * replaces this object only (see [[MediaCodec]] for the contract +
    * the conformance spec a replacement must pass).
    */
  object FakeDecoder extends MediaCodec {

    /** ??? — real codec goes here. The fake derives a stable pseudo-image:
      * dimensions from the byte sum and length, "features" from positional
      * byte means — exact integer arithmetic, so the whole decode is
      * SQL-expressible and the query carries a real DuckDB oracle.
      */
    def decode(bytes: Array[Byte]): Decoded = {
      val n = bytes.length
      var byteSum = 0L
      val feats = new Array[Double](FeatureDim)
      var i = 0
      while (i < n) {
        byteSum += (bytes(i) & 0xFF)
        feats(i % 4) += (bytes(i) & 0xFF).toDouble
        i += 1
      }
      Decoded(width = 16 + (byteSum % 16).toInt, height = 16 + (n % 16),
        features = feats.map(f => if (n == 0) 0.0 else f / n))
    }
  }

  /** Second in-repo [[MediaCodec]] instance — a REAL (if minimal)
    * pure-JVM decoder: binary PPM (Netpbm P6). Exists to prove the
    * codec boundary is genuinely swappable, not a trait with one
    * implementation: a decoder with completely different parsing
    * semantics (an actual header grammar + raster, hard rejects) passes
    * the SAME conformance contract and drives the SAME dedup path
    * (MultimodalSpec runs codecConformance against it and re-verifies
    * the banded q_dedup_media pipeline under it at sf0.01 over
    * PPM-wrapped payloads). Grammar: "P6", whitespace/`#`-comments,
    * width, height, maxval (1..255), ONE whitespace, then w·h·3 raw
    * RGB bytes (truncated rasters reject). Features: mean R, mean G,
    * mean B, mean Rec.601 luma — FeatureDim = 4 like every codec.
    * All malformed inputs throw [[MediaDecodeException]] (totality).
    */
  object PpmDecoder extends MediaCodec {
    def decode(bytes: Array[Byte]): Decoded = {
      var i = 0
      def fail(msg: String): Nothing = throw new MediaDecodeException(s"PPM: $msg")
      def isWs(b: Byte): Boolean =
        b == ' ' || b == '\n' || b == '\r' || b == '\t'
      def skipWs(): Unit = {
        var run = true
        while (run && i < bytes.length) {
          if (isWs(bytes(i))) i += 1
          else if (bytes(i) == '#') {
            while (i < bytes.length && bytes(i) != '\n') i += 1
          } else run = false
        }
      }
      def token(): Long = {
        skipWs()
        if (i >= bytes.length || bytes(i) < '0' || bytes(i) > '9')
          fail("expected unsigned integer in header")
        var v = 0L
        while (i < bytes.length && bytes(i) >= '0' && bytes(i) <= '9') {
          v = v * 10 + (bytes(i) - '0')
          if (v > Int.MaxValue) fail("header integer overflow")
          i += 1
        }
        v
      }
      if (bytes.length < 2 || bytes(0) != 'P' || bytes(1) != '6')
        fail("bad magic (want P6)")
      i = 2
      val w = token(); val h = token(); val maxv = token()
      if (w < 1 || h < 1) fail("non-positive dimensions")
      if (maxv < 1 || maxv > 255) fail("unsupported maxval (want 1..255)")
      if (i >= bytes.length || !isWs(bytes(i))) fail("missing raster separator")
      i += 1
      // bound w*h BEFORE multiplying by 3: w and h are each <= Int.MaxValue
      // after token(), so w*h fits a Long (< 2^62) but w*h*3 can overflow
      // to negative and skip the truncation guard (round-13 ADVICE). Any
      // raster larger than the remaining bytes is truncated by definition.
      if (w * h > (bytes.length.toLong - i) / 3) fail("truncated raster")
      val need = w * h * 3L
      if (bytes.length - i < need) fail("truncated raster")
      var r = 0L; var g = 0L; var b = 0L
      var p = i
      val end = i + need.toInt
      while (p < end) {
        r += (bytes(p) & 0xFF); g += (bytes(p + 1) & 0xFF)
        b += (bytes(p + 2) & 0xFF)
        p += 3
      }
      val n = (w * h).toDouble
      val mr = r / n; val mg = g / n; val mb = b / n
      Decoded(w.toInt, h.toInt,
        Array(mr, mg, mb, 0.299 * mr + 0.587 * mg + 0.114 * mb))
    }
  }

  final case class MediaRow(doc_id: Long, payload: Array[Byte])
  final case class FeatureRow(doc_id: Long, width: Int, height: Int,
      f0: Double, f1: Double, f2: Double, f3: Double)

  /** One-time GENUINE-binary media side table (closes the round-4 "real
    * BinaryType fixture" gap): per doc, 1 + doc_id % 8 blocks of
    * unhex(md5(text || blockIdx)) — 16..128 bytes of arbitrary non-UTF8
    * binary (md5 bytes are uniform, so ~half are >= 0x80), written to
    * parquet once per sf dir and read back as a true BinaryType column.
    * The construction is deterministic and SQL-expressible, so a DuckDB
    * oracle can rebuild the identical blob without reading the fixture.
    */
  def ensureMediaStore(s: SparkSession, dir: String): DataFrame = {
    // v2: metadata columns (nbytes, format) land BESIDE the blob at
    // ingest, the lakehouse convention that lets catalog queries prune
    // the payload column entirely (ReadSchema without `payload` — pinned
    // in PlanShapeSpec via q_multimodal_catalog)
    Sources.parquetStore(s, dir, "media_v2") {
      val blocks = (0 to 7).map { i =>
        when(lit(i) <= col("doc_id") % 8,
          unhex(md5(concat(col("text"), lit(i.toString)))))
          .otherwise(lit(Array.emptyByteArray))
      }
      Tables(s, dir, "documents")
        .select(col("doc_id"), concat(blocks: _*).as("payload"))
        .withColumn("nbytes", octet_length(col("payload")))
        .withColumn("format",
          when(col("nbytes") % 3 === 0, "png")
            .when(col("nbytes") % 3 === 1, "jpeg")
            .otherwise("webp"))
    }
  }

  /** Decoded signature of any (doc_id, payload) frame — ONE decode
    * definition (the MediaCodec boundary, FakeDecoder in this offline
    * container) shared by the signature-store build and the streaming
    * ingest door: (doc_id, nbytes, width, height, f0..f3) plus the
    * centered hyperplane `code` the banded LSH path joins on. The
    * mapPartitions block is the deliberate codec boundary (real
    * decoders are JVM libraries), not a missed Catalyst expression.
    */
  def decodedSig(df: DataFrame, codec: MediaCodec = FakeDecoder): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    df.select(col("doc_id"), col("payload")).as[MediaRow].mapPartitions { it =>
      it.map { r =>
        val d = codec.decode(r.payload)
        (r.doc_id, r.payload.length, d.width, d.height,
          d.features(0), d.features(1), d.features(2), d.features(3))
      }
    }.toDF("doc_id", "nbytes", "width", "height", "f0", "f1", "f2", "f3")
      .withColumn("code", call_function("hyperplane_bits", centeredFvec))
  }

  /** One-time decoded media SIGNATURE store: every blob in the media
    * store decoded ONCE (the production asset-catalog shape — decode is
    * the expensive scan at media scale, so it runs at ingest and every
    * dedup/search consumer reads the compact signature table, never the
    * petabyte of payloads). Content is a deterministic function of the
    * media store (codec determinism pinned by MultimodalSpec's
    * conformance law), so every oracle is unchanged.
    */
  def ensureMediaSigStore(s: SparkSession, dir: String): DataFrame =
    Sources.parquetStore(s, dir, "media_sig_v1")(decodedSig(ensureMediaStore(s, dir)))

  /** THE media band-join block keys and verify-side signature struct —
    * ONE definition each, shared by q_dedup_media, the ingest-door
    * index, and the per-batch survivor pass: the batch/door equivalence
    * (StreamingSpec's streamed == one-shot law, and the oracle's
    * "same signature-equality rule" argument) rests on these never
    * diverging between sites.
    */
  private[graft] val mediaBlockKeys = Seq("band", "bv", "nbytes", "width", "height")
  private[graft] def mediaSigStruct: Column =
    struct(col("nbytes"), col("width"), col("height"),
      col("f0"), col("f1"), col("f2"), col("f3"))

  private def mediaBandsOf(sig: DataFrame, side: String, bandBits: Int): DataFrame =
    Lsh.explodeBands(
      sig.select("doc_id", "code", "nbytes", "width", "height"),
      "code", bandBits)
      .select((col("doc_id").as(s"doc_id_$side") +: mediaBlockKeys.map(col)): _*)

  /** The banded signature-equality pair set over ANY decoded-signature
    * frame — q_dedup_media's body, factored (round-13) so the
    * second-codec law can drive the identical pipeline over
    * PpmDecoder-decoded signatures. Metadata-BLOCKED banding (the
    * asset-dedup convention: block on container metadata, LSH on
    * content features): the band join key carries (nbytes, width,
    * height) beside the band value — sound for the signature-equality
    * contract (equal signatures share all three) and necessary for
    * candidate volume: a 6-dim code leaves the band geometry clumpy
    * (measured at sf0.1: max bucket 1029, 4.0M candidates on bands
    * alone; blocked: bucket ~tens, linear). The sig frame is persisted
    * here — count + both band sides + the verify joins: ONE input read
    * (the q_dedup_minhash discipline); block keys + verify struct are
    * the SHARED single definitions (mediaBlockKeys / mediaSigStruct) —
    * the door equivalence law rests on batch and door never diverging.
    */
  def mediaDupPairsOnSigs(sigIn: DataFrame): DataFrame = {
    val sig = sigIn.persist()
    val bands = Lsh.explodeBands(
      sig.select("doc_id", "code", "nbytes", "width", "height"), "code",
      Lsh.bandBits(sig.count()))
      .persist()
    val blockKeys = mediaBlockKeys
    // ids-only band join: signatures join back from the persisted
    // frame, one verify per distinct pair
    val cand = bands.select((col("doc_id").as("doc_id_a") +: blockKeys.map(col)): _*)
      .join(bands.select((col("doc_id").as("doc_id_b") +: blockKeys.map(col)): _*),
        blockKeys)
      .filter(col("doc_id_a") < col("doc_id_b"))
      .select("doc_id_a", "doc_id_b").distinct()
    def sigOf(side: String) = sig.select(col("doc_id").as(s"doc_id_$side"),
      mediaSigStruct.as(s"sig_$side"))
    cand.join(sigOf("a"), "doc_id_a").join(sigOf("b"), "doc_id_b")
      .filter(col("sig_a") === col("sig_b"))
      .select("doc_id_a", "doc_id_b")
  }

  /** Pre-banded, persisted view of the base signature store for the
    * ingest door: the block-keyed band explode and the verify-side
    * signature struct, each built ONCE beside the store and reused by
    * every micro-batch (the IvfSeedIndex convention — without this the
    * door re-explodes the whole catalog per batch, and per-batch cost
    * silently becomes O(catalog × bands) instead of
    * O(batch decode + collisions)). `bandBits` comes from the BASE
    * count so batch and base codes band identically. Release with
    * [[MediaIndex.unpersist]] when the stream ends.
    */
  final case class MediaIndex(bands: DataFrame, sigs: DataFrame, bandBits: Int) {
    def unpersist(): Unit = { bands.unpersist(); sigs.unpersist(); () }
  }

  def buildMediaIndex(base: DataFrame, bandBits: Int): MediaIndex =
    MediaIndex(
      mediaBandsOf(base, "a", bandBits)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      base.select(col("doc_id").as("doc_id_a"), mediaSigStruct.as("sig_a"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      bandBits)

  /** Loan form of [[mediaSurvivors]] for ONE batch of (doc_id, payload):
    * decodes the batch (the only decode at the door — the base is
    * touched purely through its compact signature store), hands the
    * survivors to `use`, then releases the decode. */
  def withMediaSurvivors[T](batch: DataFrame, index: MediaIndex)(
      use: DataFrame => T): T = {
    val bsig = decodedSig(batch).persist()
    try use(mediaSurvivors(bsig, index)) finally { bsig.unpersist(); () }
  }

  /** Ingest-time exact-dup media filter: the survivors of a decoded
    * batch `bsig` (persisted by the caller — the band and verify sides
    * both read it) against the base [[MediaIndex]]: band-join BLOCKED on
    * (nbytes, width, height) (the q_dedup_media convention), verify on
    * full signature equality, anti-join verified dups away. */
  def mediaSurvivors(bsig: DataFrame, index: MediaIndex): DataFrame = {
    val dupIds = index.bands
      .join(mediaBandsOf(bsig, "b", index.bandBits), mediaBlockKeys)
      .select("doc_id_a", "doc_id_b").distinct()
      .join(index.sigs, "doc_id_a")
      .join(bsig.select(col("doc_id").as("doc_id_b"),
        mediaSigStruct.as("sig_b")), "doc_id_b")
      .filter(col("sig_a") === col("sig_b"))
      .select(col("doc_id_b").as("doc_id")).distinct()
    bsig.join(dupIds, Seq("doc_id"), "left_anti")
  }

  /** The ingest door's arrival fixture — ONE definition shared by
    * q_stream_media_filter, its StreamingSpec one-shot twin, and the
    * DuckDB oracle (which rebuilds it as a CTE): byte-identical copies
    * of the doc_id%10==0 assets (must be dropped at the door) and
    * %10==5 assets extended by one extra content block (genuinely new —
    * must survive), both under the +10^9 planted-id convention.
    */
  def mediaArrivals(s: SparkSession, dir: String): DataFrame = {
    val m = ensureMediaStore(s, dir)
    val copies = m.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + lit(1000000000L)).as("doc_id"), col("payload"))
    val fresh = m.join(Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")), "doc_id")
      .filter(col("doc_id") % 10 === 5)
      .select((col("doc_id") + lit(1000000000L)).as("doc_id"),
        concat(col("payload"),
          unhex(md5(concat(col("text"), lit("x"))))).as("payload"))
    copies.unionAll(fresh)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Metadata + decode over the REAL BinaryType column from the media
    // side table (not a text-derived pseudo-payload): byte length, a
    // byte-exact digest (md5 of the uppercase hex rendering — DuckDB's
    // md5 only takes VARCHAR, and both engines hex() identically), and a
    // format tag. The require() pins that parquet round-trips the column
    // as true BinaryType; MultimodalSpec additionally runs FakeDecoder
    // over these payloads and checks non-UTF8 bytes are present.
    "q_multimodal_binary" -> ((s, dir) => {
      val m = ensureMediaStore(s, dir)
      require(m.schema("payload").dataType == BinaryType,
        s"media store payload must be BinaryType, got ${m.schema("payload").dataType}")
      m.select(col("doc_id"),
        octet_length(col("payload")).as("nbytes"),
        md5(hex(col("payload"))).as("payload_md5"),
        when(octet_length(col("payload")) % 3 === 0, "png")
          .when(octet_length(col("payload")) % 3 === 1, "jpeg")
          .otherwise("webp").as("format"))
    }),

    // Catalog rollup over the media store's METADATA columns only — the
    // "how much of each format do we hold" question an asset catalog
    // serves constantly. Reads nbytes/format, never the blob: parquet
    // column pruning keeps the payload bytes on disk (ReadSchema pinned
    // payload-free in PlanShapeSpec), so at 100 TB of media this scans
    // megabytes of metadata, not the petabyte of blobs.
    "q_multimodal_catalog" -> ((s, dir) =>
      ensureMediaStore(s, dir)
        .groupBy("format")
        .agg(count(lit(1)).as("n_assets"),
          sum(col("nbytes").cast(LongType)).as("total_bytes"),
          min(col("nbytes")).as("min_bytes"),
          max(col("nbytes")).as("max_bytes"))),

    // Metadata-only pass over the binary column: byte length, content
    // hash, a derived format tag. Never decodes. Oracle-checkable since
    // the metadata is pure SQL over the payload bytes.
    "q_multimodal_meta" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .select(
          col("doc_id"),
          octet_length(col("text")).as("nbytes"),
          md5(col("text")).as("content_hash"),
          when(octet_length(col("text")) % 3 === 0, "png")
            .when(octet_length(col("text")) % 3 === 1, "jpeg")
            .otherwise("webp").as("format"))),

    // Frame sampling: the video-pipeline shape — segment the payload into
    // fixed-size frames, keep every 4th, fingerprint each. One explode per
    // kept frame; the payload column is read once and never shuffled (the
    // per-frame projection happens map-side before any exchange). Exact
    // char/hash ops -> fully oracled.
    "q_multimodal_frames" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .withColumn("n_frames", ceil(length(col("text")) / lit(256.0)).cast(IntegerType))
        // empty payload => no frames; without this, sequence(0, -1) yields a
        // descending [0, -1] and a phantom frame_idx=0 row
        .filter(col("n_frames") > 0)
        .select(col("doc_id"), col("text"),
          explode(expr("sequence(0, n_frames - 1)")).as("frame_idx"))
        .filter(col("frame_idx") % 4 === 0)
        .withColumn("frame", expr("substring(text, frame_idx * 256 + 1, 256)"))
        .select(col("doc_id"), col("frame_idx"),
          md5(col("frame")).as("frame_hash"),
          length(col("frame")).as("frame_len"))),

    // Resize / downsample: keep every 4th payload byte — the thumbnail
    // shape of the decode->resize pipeline (a real codec would do the same
    // per-pixel). Map-only; exact char ops -> fully oracled.
    "q_multimodal_resize" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .withColumn("n_out", ceil(length(col("text")) / lit(4.0)).cast(IntegerType))
        .select(col("doc_id"), col("n_out"),
          expr("array_join(transform(sequence(0, n_out - 1), " +
            "i -> substring(text, i * 4 + 1, 1)), '')").as("resized"))
        .filter(col("n_out") > 0)
        .select(col("doc_id"), col("n_out"),
          length(col("resized")).as("resized_len"),
          md5(col("resized")).as("resized_md5"))),

    // Batched decode + feature extraction: binary payload -> per-partition
    // decoder -> typed feature rows. Scalar-only top-level schema (the
    // driver's comparator can't hash array cells); the stub decode is exact
    // integer arithmetic, so the query is fully oracled. MultimodalSpec
    // additionally pins decode on literal (incl. non-UTF8-text) bytes.
    "q_multimodal_features" -> ((s, dir) => {
      import s.implicits._
      // the codec is referenced ONLY through the MediaCodec boundary —
      // a real deployment rebinds this val and nothing else changes
      val codec: MediaCodec = FakeDecoder
      val media = Tables(s, dir, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        .as[MediaRow]
      media.mapPartitions { it =>
        // One decoder per partition: amortizes codec init across the batch
        // (same reason mapInPandas hands whole Arrow batches to Python).
        it.map { m =>
          val d = codec.decode(m.payload)
          FeatureRow(m.doc_id, d.width, d.height,
            d.features(0), d.features(1), d.features(2), d.features(3))
        }
      }.toDF()
    }),

    // CROSS-MODAL DEDUP — the multimodal column riding the SAME banded
    // LSH path as text/embeddings: decoded feature vectors (through the
    // MediaCodec boundary, off the REAL BinaryType store) are
    // hyperplane-coded and band-joined exactly like q_dedup_embedding's
    // vectors, then candidates verify against the full decoded
    // signature. Every 10th asset's payload is planted again VERBATIM
    // under doc_id + 10^9 (the q_dedup_embedding_recall convention,
    // clear of the ScaleSmoke replica stride), so the query is
    // simultaneously the planted-copy recall proof: an identical
    // payload decodes to an identical feature vector => identical
    // hyperplane code => collides on EVERY band — recovery is
    // structural, which is what makes the plain-SQL signature-equality
    // oracle sound (and the verify filter guarantees precision).
    // The NEAR-dup form (perturbed payloads through
    // Dedup.embeddingNearDup over these feature vectors) is law-pinned
    // in MultimodalSpec — band recall there is probabilistic, so it is
    // spec-covered rather than oracled, same split as the embedding
    // family. At 100 TB: decode is a scan-rate per-partition map, the
    // band join's candidate volume is bounded by Lsh.bandBits'
    // adaptive width, and the signature verify touches candidates only.
    "q_dedup_media" -> ((s, dir) => {
      // Store-fed since the ingest door landed: base signatures come
      // from the one-time media_sig_v1 store (decode-once-at-ingest, the
      // production asset-catalog shape), and the planted +10^9 copies
      // reuse the store rows of their originals — sound because an
      // identical payload decodes to an identical signature BY
      // DEFINITION of a deterministic codec (the exact structural
      // argument that licenses this query's equality oracle; decode
      // determinism itself is pinned by MultimodalSpec's conformance
      // law and exercised per-batch by the streaming door). Output and
      // oracle are unchanged.
      val st = ensureMediaSigStore(s, dir)
      mediaDupPairsOnSigs(st.unionAll(
        st.filter(col("doc_id") % 10 === 0)
          .withColumn("doc_id", col("doc_id") + lit(1000000000L))))
    })
  )

  /** The LSH-side view of a decoded signature: features CENTERED by the
    * decoder's a-priori midpoints BEFORE hyperplane coding — width/height
    * land in [16,31] → 23.5; each positional feature is a sum over n/4
    * uniform bytes divided by the TOTAL length n, so its midpoint is
    * 255/8 = 31.875. Raw (uncentered, or wrongly-centered) vectors all
    * sit in one tight cone, so their hyperplane codes are near-identical
    * and every band bucket holds ~the whole corpus — the band join
    * degenerates to n² candidates (measured at sf0.1: 27 buckets,
    * max-bucket 5491, 15.1M candidates, 34 s). Centering is a fixed
    * affine shift: identical signatures still map to identical vectors →
    * identical codes, so the structural-recall argument is untouched.
    * Shared by q_dedup_media and the MultimodalSpec near-dup law
    * (single-sourced).
    */
  private[graft] def centeredFvec: Column = array(
    (col("width") - lit(23.5d)).cast(FloatType),
    (col("height") - lit(23.5d)).cast(FloatType),
    (col("f0") - lit(31.875d)).cast(FloatType),
    (col("f1") - lit(31.875d)).cast(FloatType),
    (col("f2") - lit(31.875d)).cast(FloatType),
    (col("f3") - lit(31.875d)).cast(FloatType))

  /** DuckDB positional byte mean for features j: bytes at 1-based positions
    * with (i-1) % 4 = j, summed and divided by total length (ASCII fixture:
    * codepoint == byte). Empty payload => 0.0, matching FakeDecoder.
    */
  private def sqlFeat(j: Int): String =
    s"""CASE WHEN len(bytes) = 0 THEN 0.0
       | ELSE CAST(COALESCE(list_sum(list_transform(
       |   list_filter(range(1, len(bytes) + 1), i -> (i - 1) % 4 = $j),
       |   i -> bytes[i])), 0) AS DOUBLE) / len(bytes) END AS f$j""".stripMargin

  val oracles: Map[String, String] = Map(
    // rebuilds the media store's blob from the same deterministic
    // construction (concat of unhex(md5(text || i)) blocks), then checks
    // the byte-exact digest — any byte difference in the parquet
    // round-trip changes the hex rendering and fails the hash
    "q_multimodal_binary" ->
      """WITH p AS (
           SELECT doc_id,
             CASE WHEN doc_id % 8 >= 0 THEN unhex(md5(text || '0')) ELSE ''::BLOB END ||
             CASE WHEN doc_id % 8 >= 1 THEN unhex(md5(text || '1')) ELSE ''::BLOB END ||
             CASE WHEN doc_id % 8 >= 2 THEN unhex(md5(text || '2')) ELSE ''::BLOB END ||
             CASE WHEN doc_id % 8 >= 3 THEN unhex(md5(text || '3')) ELSE ''::BLOB END ||
             CASE WHEN doc_id % 8 >= 4 THEN unhex(md5(text || '4')) ELSE ''::BLOB END ||
             CASE WHEN doc_id % 8 >= 5 THEN unhex(md5(text || '5')) ELSE ''::BLOB END ||
             CASE WHEN doc_id % 8 >= 6 THEN unhex(md5(text || '6')) ELSE ''::BLOB END ||
             CASE WHEN doc_id % 8 >= 7 THEN unhex(md5(text || '7')) ELSE ''::BLOB END
               AS payload
           FROM documents)
         SELECT doc_id,
           CAST(octet_length(payload) AS INTEGER) AS nbytes,
           md5(hex(payload)) AS payload_md5,
           CASE WHEN octet_length(payload) % 3 = 0 THEN 'png'
                WHEN octet_length(payload) % 3 = 1 THEN 'jpeg'
                ELSE 'webp' END AS format
         FROM p""",

    // rebuilds the metadata from the store's deterministic construction:
    // payload = (doc_id % 8 + 1) blocks of 16 md5 bytes, so
    // nbytes = 16 * (doc_id % 8 + 1) without touching any blob
    "q_multimodal_catalog" ->
      """WITH p AS (
           SELECT doc_id, CAST(16 * (doc_id % 8 + 1) AS INTEGER) AS nbytes
           FROM documents),
         f AS (
           SELECT nbytes,
             CASE WHEN nbytes % 3 = 0 THEN 'png'
                  WHEN nbytes % 3 = 1 THEN 'jpeg'
                  ELSE 'webp' END AS format
           FROM p)
         SELECT format, CAST(count(*) AS BIGINT) AS n_assets,
           CAST(sum(nbytes) AS BIGINT) AS total_bytes,
           CAST(min(nbytes) AS INTEGER) AS min_bytes,
           CAST(max(nbytes) AS INTEGER) AS max_bytes
         FROM f GROUP BY format""",

    "q_multimodal_features" ->
      s"""WITH b AS (
           SELECT doc_id,
             list_transform(range(1, length(text) + 1),
               i -> ascii(substring(text, i, 1))) AS bytes
           FROM documents)
         SELECT doc_id,
           CAST(16 + COALESCE(list_sum(bytes), 0) % 16 AS INTEGER) AS width,
           CAST(16 + len(bytes) % 16 AS INTEGER) AS height,
           ${sqlFeat(0)}, ${sqlFeat(1)}, ${sqlFeat(2)}, ${sqlFeat(3)}
         FROM b""",

    // rebuilds the blob as its HEX string (byte j = parsed hex pair), the
    // plant as the same union the query does, and the decoded signature
    // as exact integers + one double division per feature (the identical
    // IEEE sequence FakeDecoder runs) — the pair set is then a plain
    // signature-equality self-join; band recall is structural (identical
    // payload => identical code on every band), verify gives precision
    "q_dedup_media" ->
      """WITH base AS (
           SELECT doc_id,
             md5(text || '0') ||
             CASE WHEN doc_id % 8 >= 1 THEN md5(text || '1') ELSE '' END ||
             CASE WHEN doc_id % 8 >= 2 THEN md5(text || '2') ELSE '' END ||
             CASE WHEN doc_id % 8 >= 3 THEN md5(text || '3') ELSE '' END ||
             CASE WHEN doc_id % 8 >= 4 THEN md5(text || '4') ELSE '' END ||
             CASE WHEN doc_id % 8 >= 5 THEN md5(text || '5') ELSE '' END ||
             CASE WHEN doc_id % 8 >= 6 THEN md5(text || '6') ELSE '' END ||
             CASE WHEN doc_id % 8 >= 7 THEN md5(text || '7') ELSE '' END
               AS hx
           FROM documents),
         u AS (
           SELECT doc_id, hx FROM base
           UNION ALL
           SELECT doc_id + 1000000000, hx FROM base WHERE doc_id % 10 = 0),
         b AS (
           SELECT doc_id, CAST(len(hx) // 2 AS BIGINT) AS n,
             list_transform(range(1, len(hx) // 2 + 1),
               j -> CAST(('0x' || substring(hx, CAST(2*j - 1 AS INTEGER), 2))
                 AS BIGINT)) AS bytes
           FROM u),
         sig AS (
           SELECT doc_id, n,
             CAST(16 + list_sum(bytes) % 16 AS BIGINT) AS width,
             CAST(16 + n % 16 AS BIGINT) AS height,
             CAST(list_sum(list_transform(
               list_filter(range(1, n + 1), i -> (i - 1) % 4 = 0),
               i -> bytes[CAST(i AS INTEGER)])) AS DOUBLE) / n AS f0,
             CAST(list_sum(list_transform(
               list_filter(range(1, n + 1), i -> (i - 1) % 4 = 1),
               i -> bytes[CAST(i AS INTEGER)])) AS DOUBLE) / n AS f1,
             CAST(list_sum(list_transform(
               list_filter(range(1, n + 1), i -> (i - 1) % 4 = 2),
               i -> bytes[CAST(i AS INTEGER)])) AS DOUBLE) / n AS f2,
             CAST(list_sum(list_transform(
               list_filter(range(1, n + 1), i -> (i - 1) % 4 = 3),
               i -> bytes[CAST(i AS INTEGER)])) AS DOUBLE) / n AS f3
           FROM b)
         SELECT a.doc_id AS doc_id_a, c.doc_id AS doc_id_b
         FROM sig a JOIN sig c
           ON a.n = c.n AND a.width = c.width AND a.height = c.height
          AND a.f0 = c.f0 AND a.f1 = c.f1 AND a.f2 = c.f2 AND a.f3 = c.f3
         WHERE a.doc_id < c.doc_id""",

    "q_multimodal_resize" ->
      """WITH r AS (
           SELECT doc_id,
             CAST(ceil(length(text) / 4.0) AS INTEGER) AS n_out,
             array_to_string(list_transform(
               range(0, CAST(ceil(length(text) / 4.0) AS BIGINT)),
               i -> substring(text, CAST(i * 4 + 1 AS INTEGER), 1)), '') AS resized
           FROM documents)
         SELECT doc_id, n_out,
           CAST(length(resized) AS INTEGER) AS resized_len,
           md5(resized) AS resized_md5
         FROM r WHERE n_out > 0""",

    "q_multimodal_frames" ->
      """WITH f AS (
           SELECT doc_id, text,
             unnest(range(0, CAST(ceil(length(text) / 256.0) AS BIGINT))) AS frame_idx
           FROM documents)
         SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
           md5(substring(text, CAST(frame_idx * 256 + 1 AS INTEGER), 256)) AS frame_hash,
           CAST(length(substring(text, CAST(frame_idx * 256 + 1 AS INTEGER), 256)) AS INTEGER)
             AS frame_len
         FROM f WHERE frame_idx % 4 = 0""",

    "q_multimodal_meta" ->
      """SELECT doc_id,
         CAST(octet_length(encode(text)) AS INTEGER) AS nbytes,
         md5(text) AS content_hash,
         CASE WHEN octet_length(encode(text)) % 3 = 0 THEN 'png'
              WHEN octet_length(encode(text)) % 3 = 1 THEN 'jpeg'
              ELSE 'webp' END AS format
         FROM documents"""
  )
}
