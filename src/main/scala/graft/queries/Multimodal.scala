package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Query, Tables}
import graft.Query.ArgOps

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * payloads + typed metadata, processed by partition-local batch stages —
  * the Spark-side shape of a decode / feature-extract / frame-sample
  * pipeline over 100 TB of media.
  *
  * The container has no image/audio codecs, so the decode step is a
  * DETERMINISTIC FAKE (clearly marked below): it "decodes" the payload
  * bytes themselves. Everything around it is the real production shape:
  *  - `binary` column + metadata struct schema (what a parquet media lake
  *    stores);
  *  - `repartitionByRange(modality, doc_id)` + `sortWithinPartitions` so
  *    work spreads across ALL shuffle partitions (hash-partitioning on
  *    modality alone collapses a 2-modality corpus to 2 tasks at 100 TB)
  *    while each partition still sees long contiguous same-modality runs;
  *  - typed `Dataset.mapPartitions` with (a) decoder init once per
  *    modality per partition (cached, re-looked-up per batch — range
  *    boundaries may mix modalities) and (b) fixed-size batch iteration
  *    (`grouped(64)`) — the Scala analog of `mapInPandas`'s Arrow-batch
  *    contract;
  *  - features emitted as columns + fixed-length Array[Double] vector.
  *
  * All four registered queries are value-exact DuckDB-oracle'd: the fake
  * decode/resize/sample kernels are pure integer byte math DuckDB
  * reproduces from the text column (byte k == ascii(char k) on this
  * ASCII corpus). The raw sampled frame bytes (binary, not
  * hash-oracle-able) stay spec-checked via [[mmFrameSampleBytes]].
  */
object Multimodal {

  /** The media-lake row: payload is what a real pipeline would read as
    * image/audio bytes; width/height/sample_rate are the typed metadata. */
  case class Asset(doc_id: Long, modality: String, payload: Array[Byte],
                   width: Int, height: Int, sample_rate: Int)

  case class Features(doc_id: Long, modality: String, n_bytes: Int,
                      checksum: Long, mean_byte: Double, width: Int, height: Int,
                      feat: Array[Double])

  case class Frames(doc_id: Long, modality: String, n_bytes: Int,
                    n_frames: Int, first_frame: Int, checksum_frames: Long,
                    frame_bytes: Array[Byte])

  /** Deterministic asset table derived from `documents` (payload = UTF-8
    * text bytes — ASCII in this corpus, so byte k == ascii(char k), which
    * is what makes the DuckDB twin exact). Metadata is a pure function of
    * doc_id, as a stand-in for stored media headers. */
  def assets(spark: SparkSession, sfDir: String): Dataset[Asset] = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        when(col("doc_id") % 2 === 0, "image").otherwise("audio").as("modality"),
        encode(col("text"), "UTF-8").as("payload"),
        (lit(64) + (col("doc_id") % 8) * 16).cast("int").as("width"),
        (lit(64) + (col("doc_id") % 4) * 32).cast("int").as("height"),
        when(col("doc_id") % 2 === 0, 0).otherwise(16000).as("sample_rate"))
      .as[Asset]
  }

  /** ==== STUBBED DECODER ====
    * Stands in for e.g. JPEG decode + CNN features or PCM decode + FFT.
    * Pure function of the payload bytes: 4 strided byte sums (the "feature
    * vector"), total checksum, mean byte. Replace `decodeBatch` with a
    * real codec + model call in production; the init/batch plumbing around
    * it is what this module actually demonstrates. */
  private final class FakeDecoder(val modality: String) {
    def decodeBatch(batch: Seq[Asset]): Seq[Features] = batch.map { a =>
      val bytes = a.payload.map(b => (b & 0xFF).toLong)
      val checksum = bytes.sum
      val strided = (0 until 4).map(r =>
        bytes.zipWithIndex.collect { case (v, i) if i % 4 == r => v }.sum.toDouble)
      Features(a.doc_id, a.modality, a.payload.length, checksum,
        math.floor(checksum.toDouble / math.max(a.payload.length, 1) * 10000 + 0.5) / 10000,
        a.width, a.height, strided.toArray)
    }
  }

  /** Decode + feature-extract: decoder init once per modality per
    * partition, 64-row batches — the exact execution shape of a GPU/codec
    * UDF at scale. Range partitioning on (modality, doc_id) keeps every
    * shuffle partition busy; the sort gives contiguous modality runs so a
    * partition touching the range boundary pays at most one extra decoder
    * init, and each batch is split per-modality so a decoder never sees a
    * foreign asset. */
  def mmFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    assets(spark, sfDir)
      .repartitionByRange(col("modality"), col("doc_id"))
      .sortWithinPartitions("modality", "doc_id")
      .mapPartitions { it =>
        val decoders = scala.collection.mutable.HashMap.empty[String, FakeDecoder]
        it.grouped(64).flatMap { batch =>
          batch.groupBy(_.modality).toSeq.sortBy(_._1).flatMap { case (m, run) =>
            decoders.getOrElseUpdate(m, new FakeDecoder(m)).decodeBatch(run)
          }
        }
      }
      .toDF()
      .select(col("doc_id"), col("modality"), col("n_bytes"), col("checksum"),
        col("mean_byte"), col("width"), col("height"),
        col("feat")(0).as("feat0"), col("feat")(1).as("feat1"),
        col("feat")(2).as("feat2"), col("feat")(3).as("feat3"))
      .orderBy("doc_id")
  }

  /** DuckDB twin: byte k of the ASCII payload == ascii(substr(text,k,1)). */
  val mmFeaturesSql: String = {
    def strideSum(r: Int) =
      s"CAST(list_sum(list_transform(range(${r + 1}, length(text)+1, 4), i -> ascii(substr(text, i, 1)))) AS DOUBLE)"
    s"""SELECT doc_id,
       |       CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS modality,
       |       length(text) AS n_bytes,
       |       CAST(list_sum(list_transform(range(1, length(text)+1), i -> ascii(substr(text, i, 1)))) AS BIGINT) AS checksum,
       |       CAST(floor(CAST(list_sum(list_transform(range(1, length(text)+1), i -> ascii(substr(text, i, 1)))) AS DOUBLE)
       |                  / greatest(length(text), 1) * 10000 + 0.5) AS DOUBLE) / 10000 AS mean_byte,
       |       CAST(64 + (doc_id % 8) * 16 AS INTEGER) AS width,
       |       CAST(64 + (doc_id % 4) * 32 AS INTEGER) AS height,
       |       coalesce(${strideSum(0)}, 0) AS feat0,
       |       coalesce(${strideSum(1)}, 0) AS feat1,
       |       coalesce(${strideSum(2)}, 0) AS feat2,
       |       coalesce(${strideSum(3)}, 0) AS feat3
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  case class Resized(doc_id: Long, modality: String, n_bytes: Int,
                     new_w: Int, new_h: Int, new_rate: Int,
                     stride: Int, n_resized: Int, checksum_resized: Long)

  /** ==== STUBBED RESIZER ==== — the resize/resample verb of the media
    * pipeline (thumbnail an image to fit 64×64, halve an audio sample
    * rate), stubbed the same way [[FakeDecoder]] stubs decode: the
    * geometry is REAL integer math on the stored metadata
    * (aspect-preserving fit, floor division — exactly what a thumbnailer
    * computes) and the payload "resample" is a stride decimation to a
    * ≤256-byte budget whose checksum the oracle reproduces byte-for-byte.
    * Swap `resizeBatch` for libvips/ffmpeg in production; the
    * init-per-modality / fixed-batch plumbing is the contract. */
  private final class FakeResizer(val modality: String) {
    def resizeBatch(batch: Seq[Asset]): Seq[Resized] = batch.map { a =>
      val n = a.payload.length
      val (nw, nh, nr) =
        if (a.modality == "image") {
          val s = math.max(a.width, a.height)
          (math.max(1, a.width * 64 / s), math.max(1, a.height * 64 / s), 0)
        } else (0, 0, a.sample_rate / 2)
      val stride = math.max(1, (n + 255) / 256)
      var i = 0; var cnt = 0; var sum = 0L
      while (i < n) { sum += (a.payload(i) & 0xFF); cnt += 1; i += stride }
      Resized(a.doc_id, a.modality, n, nw, nh, nr, stride, cnt, sum)
    }
  }

  /** Resize/resample over the media lake — same scale shape as
    * [[mmFeatures]]: range partition on (modality, doc_id), one resizer
    * per modality per partition, 64-row batches. Fully value-oracled:
    * every output is integer arithmetic over metadata and ASCII payload
    * bytes. */
  def mmResize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    assets(spark, sfDir)
      .repartitionByRange(col("modality"), col("doc_id"))
      .sortWithinPartitions("modality", "doc_id")
      .mapPartitions { it =>
        val resizers = scala.collection.mutable.HashMap.empty[String, FakeResizer]
        it.grouped(64).flatMap { batch =>
          batch.groupBy(_.modality).toSeq.sortBy(_._1).flatMap { case (m, run) =>
            resizers.getOrElseUpdate(m, new FakeResizer(m)).resizeBatch(run)
          }
        }
      }
      .toDF()
      .select("doc_id", "modality", "n_bytes", "new_w", "new_h", "new_rate",
        "stride", "n_resized", "checksum_resized")
      .orderBy("doc_id")
  }

  val mmResizeSql: String =
    """WITH a AS (
      |  SELECT doc_id, text, CAST(length(text) AS INTEGER) AS n,
      |         CAST(64 + (doc_id % 8) * 16 AS INTEGER) AS w,
      |         CAST(64 + (doc_id % 4) * 32 AS INTEGER) AS h,
      |         doc_id % 2 = 0 AS is_img
      |  FROM documents),
      |b AS (SELECT doc_id, text, n, w, h, is_img,
      |             greatest(1, CAST(floor((n + 255) / 256) AS INTEGER)) AS stride
      |      FROM a)
      |SELECT doc_id,
      |       CASE WHEN is_img THEN 'image' ELSE 'audio' END AS modality,
      |       n AS n_bytes,
      |       CASE WHEN is_img
      |            THEN greatest(1, CAST(floor(w * 64 / greatest(w, h)) AS INTEGER))
      |            ELSE 0 END AS new_w,
      |       CASE WHEN is_img
      |            THEN greatest(1, CAST(floor(h * 64 / greatest(w, h)) AS INTEGER))
      |            ELSE 0 END AS new_h,
      |       CASE WHEN is_img THEN 0 ELSE 8000 END AS new_rate,
      |       stride,
      |       CAST(len(range(1, n + 1, stride)) AS INTEGER) AS n_resized,
      |       CAST(coalesce(list_sum(list_transform(range(1, n + 1, stride),
      |                     i -> ascii(substr(text, CAST(i AS INT), 1)))), 0) AS BIGINT)
      |         AS checksum_resized
      |FROM b ORDER BY doc_id""".stripMargin

  /** Frame sampling: keep every 16th payload byte ("1 fps of a 16 fps
    * stream") — the decimation shape of video frame-sampling / audio
    * downsampling. The registered query emits only integer summaries of
    * the sampled frames (count, first byte, byte checksum) — all exact
    * ASCII arithmetic the DuckDB twin reproduces, same pattern as
    * [[mmResize]]; the raw sampled bytes stay available via
    * [[mmFrameSampleBytes]] and are property-checked in MultimodalSpec. */
  private def frameSampleDs(spark: SparkSession, sfDir: String,
                            stride: Int): Dataset[Frames] = {
    require(stride > 0, s"stride must be positive, got $stride")
    import spark.implicits._
    assets(spark, sfDir)
      .repartitionByRange(col("modality"), col("doc_id"))
      .mapPartitions { it =>
        it.map { a =>
          val sampled = a.payload.zipWithIndex.collect {
            case (b, i) if i % stride == 0 => b
          }
          val first = if (sampled.isEmpty) -1 else sampled(0) & 0xFF
          val checksum = sampled.foldLeft(0L)((s, b) => s + (b & 0xFF))
          Frames(a.doc_id, a.modality, a.payload.length, sampled.length,
            first, checksum, sampled)
        }
      }
  }

  private val FrameStride = 16

  def mmFrameSample(spark: SparkSession, sfDir: String,
                    stride: Int = FrameStride): DataFrame =
    frameSampleDs(spark, sfDir, stride)
      .toDF()
      .select("doc_id", "modality", "n_bytes", "n_frames", "first_frame",
        "checksum_frames")
      .orderBy("doc_id")

  /** Spec-facing variant keeping the raw sampled bytes (binary column —
    * not hash-oracle-able, which is why the registered query drops it). */
  def mmFrameSampleBytes(spark: SparkSession, sfDir: String,
                         stride: Int = 16): DataFrame =
    frameSampleDs(spark, sfDir, stride)
      .toDF()
      .select("doc_id", "modality", "n_bytes", "n_frames", "frame_bytes")
      .orderBy("doc_id")

  /** DuckDB twin of [[mmFrameSample]]: sampled positions are
    * `range(1, n+1, 16)` 1-indexed; byte k == ascii(char k) on this ASCII
    * corpus (same identity [[mmResizeSql]] uses). */
  val mmFrameSampleSql: String =
    """SELECT doc_id,
      |       CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS modality,
      |       CAST(length(text) AS INTEGER) AS n_bytes,
      |       CAST(len(range(1, length(text) + 1, 16)) AS INTEGER) AS n_frames,
      |       CASE WHEN length(text) = 0 THEN -1
      |            ELSE ascii(substr(text, 1, 1)) END AS first_frame,
      |       CAST(coalesce(list_sum(list_transform(range(1, length(text) + 1, 16),
      |                     i -> ascii(substr(text, CAST(i AS INT), 1)))), 0) AS BIGINT)
      |         AS checksum_frames
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Cross-modal fusion: text metadata joined to the embedding modality
    * (doc_id ≙ vec_id in the fixtures) — the "one row, many modalities"
    * frame every multimodal trainer consumes. Inner join keeps ids with
    * both modalities; the embedding contributes its L2 norm and a
    * quantized first component as compact per-modality features. */
  def mmFusion(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        col("label"))
    docs.join(emb, col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        col("label"),
        Det.r(sqrt(graft.functions.VectorFunctions.array_dot(col("v"), col("v"))), 4)
          .as("emb_norm"),
        Det.r(element_at(col("v"), 1), 4).as("emb_c0"))
      .orderBy("doc_id")
  }

  val mmFusionSql: String =
    """SELECT doc_id, lang, source, n_chars, label,
      |       CAST(floor(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
      |                                        CAST(embedding AS DOUBLE[]))) * 10000 + 0.5) AS DOUBLE)/10000 AS emb_norm,
      |       CAST(floor(CAST(embedding[1] AS DOUBLE) * 10000 + 0.5) AS DOUBLE)/10000 AS emb_c0
      |FROM documents JOIN embeddings ON doc_id = vec_id
      |ORDER BY doc_id""".stripMargin

  /** ASSET CONTENT-HASH DEDUP: groups of byte-identical payloads within
    * a modality (md5 over the binary column), reporting group size and
    * the min/max doc ids — the "same JPEG uploaded twice" detector every
    * media lake runs at ingest. Hash-groupBy on a 16-byte digest: the
    * shuffle carries (modality, md5, doc_id) — never the payload bytes
    * (at 100 TB the payloads are the table; the digest projection is
    * the only thing that moves). One scan, one agg; oracle hashes the
    * identical UTF-8 bytes DuckDB-side. */
  def mmDedup(spark: SparkSession, sfDir: String): DataFrame =
    assets(spark, sfDir).toDF()
      .select(col("modality"), md5(col("payload")).as("payload_md5"),
        col("doc_id"))
      .groupBy("modality", "payload_md5")
      .agg(count(lit(1)).as("n_assets"),
        min("doc_id").as("keeper_doc_id"), max("doc_id").as("dup_max_id"))
      .filter(col("n_assets") > 1)
      .orderBy("modality", "payload_md5")

  val mmDedupSql: String =
    """SELECT CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END
      |         AS modality,
      |       md5(text) AS payload_md5, count(*) AS n_assets,
      |       min(doc_id) AS keeper_doc_id, max(doc_id) AS dup_max_id
      |FROM documents
      |GROUP BY 1, 2
      |HAVING count(*) > 1
      |ORDER BY modality, payload_md5""".stripMargin

  /** ASSET NEAR-DUP: the perceptual-hash production pattern (pHash/PDQ)
    * re-expressed deterministically — a 48-bit simhash over the
    * payload's byte 4-grams pairs assets whose BYTES are mostly shared
    * (same media re-encoded with a small patch, a retimed header, a
    * cropped tail) that the byte-exact [[mmDedup]] digest misses. Pairs
    * restrict to the same modality (an image is never a near-dup of an
    * audio clip) and verify at Hamming ≤ 3.
    *
    * Scale shape: the signature kernel is one JIT'd pass over the
    * payload (the shuffle carries 8-byte sigs, NEVER payload bytes —
    * the [[mmDedup]] rule), and candidate pairing reuses the dedup
    * family's banded-Hamming engine ([[Dedup.bandedHammingPairs]]:
    * 4×12-bit pigeonhole bands, recall exactly 1 at ≤ 3, hot-bucket
    * recursive sub-banding) — same machinery, new column type. A real
    * deployment swaps the byte-4-gram vote for a decoded perceptual
    * feature (DCT for images, chroma for audio) inside the same
    * signature kernel; everything downstream is unchanged. */
  def mmNearDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sigs = assets(spark, sfDir).mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.flatMap { a =>
        val p = a.payload
        // < 4 bytes: no 4-gram to vote with — the vote emits nothing
        // (sig=0 would pair all tiny assets)
        Dedup.DupKernel.simhash(math.max(p.length - 3, 0)) { i =>
          md.update(p, i, 4)
          md.digest()
        }.map(sig => (a.doc_id, a.modality, sig))
      }
    }.toDF("doc_id", "modality", "simhash")
    Dedup.bandedHammingPairs(sigs, sigs,
        col("x.modality") === col("y.modality") &&
          col("x.doc_id") < col("y.doc_id"))
      .orderBy("doc_a", "doc_b")
  }

  /** DuckDB twin of [[mmNearDedup]] — byte k of the ASCII payload ==
    * ascii char k, so the 4-gram md5 votes replay over substr(text). */
  val mmNearDedupSql: String = {
    val bitSumSql = (0 until Dedup.DupKernel.SimBits).map(b =>
      s"sum((h >> $b) & 1) AS b$b").mkString(",\n      |             ")
    val simhashSql = (0 until Dedup.DupKernel.SimBits).map(b =>
      s"(CASE WHEN b$b * 2 > n_g THEN ${1L << b} ELSE 0 END)").mkString(" + ")
    s"""WITH g AS (
       |  SELECT doc_id, unnest(list_transform(range(1, length(text) - 2),
       |                        i -> substr(text, i, 4))) AS gram
       |  FROM documents WHERE length(text) >= 4),
       |gh AS (SELECT doc_id,
       |              CAST(CAST('0x' || substr(md5(gram), 1, 12) AS UBIGINT) AS BIGINT) AS h
       |       FROM g),
       |bs AS (SELECT doc_id,
       |             $bitSumSql,
       |             count(*) AS n_g
       |       FROM gh GROUP BY doc_id),
       |sig AS (SELECT doc_id,
       |               CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS modality,
       |               $simhashSql AS simhash
       |        FROM bs)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       bit_count(xor(a.simhash, b.simhash)) AS hamming
       |FROM sig a JOIN sig b
       |  ON a.doc_id < b.doc_id AND a.modality = b.modality
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** PAYLOAD INTEGRITY GATE — the audit a media lake runs BEFORE paying
    * for decode: per modality, how many assets violate their declared
    * metadata contract. Checks (data-dependent on this corpus — the
    * fixture genuinely splits, MultimodalSpec pins 0 < violations < n):
    *  - `n_empty`: zero-byte payload (nothing to decode);
    *  - `n_undersized` (image): payload bytes · 256 < width · height —
    *    the payload cannot hold the declared raster even at maximum
    *    256:1 compression (a real lake compares against the codec's
    *    floor; the constant is the contract, shared with the oracle);
    *  - `n_misaligned` (audio): odd byte length — PCM16 frames cannot
    *    align (the classic truncated-write symptom).
    * `n_ok` / `ok_share` summarize the decodable fraction — the number
    * that decides whether a shard ships to the decode fleet or goes
    * back to ingestion.
    *
    * Scale: one scan of the asset table (checks are pure per-row byte
    * arithmetic — length only, the payload is never copied), one
    * |modalities|-bounded agg. Oracle replays the length math on the
    * text column (ASCII corpus: bytes == chars, the module contract). */
  def mmIntegrity(spark: SparkSession, sfDir: String): DataFrame = {
    val a = assets(spark, sfDir).toDF()
      .withColumn("nb", length(col("payload")))
      .withColumn("empty", col("nb") === 0)
      // hierarchical: an empty payload reports ONLY as empty, so the
      // four counters always partition n_assets exactly
      .withColumn("undersized",
        !col("empty") && col("modality") === "image" &&
          col("nb") * 256 < col("width") * col("height"))
      .withColumn("misaligned",
        col("modality") === "audio" && col("nb") % 2 === 1)
    def cnt(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
    a.groupBy("modality")
      .agg(count(lit(1)).as("n_assets"),
        cnt(col("empty")).as("n_empty"),
        cnt(col("undersized")).as("n_undersized"),
        cnt(col("misaligned")).as("n_misaligned"),
        cnt(!col("empty") && !col("undersized") && !col("misaligned")).as("n_ok"))
      .withColumn("ok_share",
        Det.r(col("n_ok").cast("double") / col("n_assets"), 6))
      .orderBy("modality")
  }

  /** Oracle byte semantics: the engine measures the BINARY payload's
    * byte length, so the twin uses octet_length(encode(text)) — UTF-8
    * BYTES, not characters — and the counts agree on any corpus, not
    * just while the ASCII fixture keeps bytes == chars (ADVICE r10). */
  val mmIntegritySql: String =
    s"""WITH a AS (SELECT doc_id,
       |                  CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS modality,
       |                  octet_length(encode(text)) AS nb,
       |                  64 + (doc_id % 8) * 16 AS w,
       |                  64 + (doc_id % 4) * 32 AS h
       |           FROM documents),
       |f AS (SELECT modality,
       |             nb = 0 AS empty,
       |             nb > 0 AND modality = 'image' AND nb * 256 < w * h AS undersized,
       |             modality = 'audio' AND nb % 2 = 1 AS misaligned
       |      FROM a)
       |SELECT modality, count(*) AS n_assets,
       |       CAST(coalesce(sum(CASE WHEN empty THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_empty,
       |       CAST(coalesce(sum(CASE WHEN undersized THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_undersized,
       |       CAST(coalesce(sum(CASE WHEN misaligned THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_misaligned,
       |       CAST(coalesce(sum(CASE WHEN NOT empty AND NOT undersized AND NOT misaligned
       |                          THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_ok,
       |       ${Det.rSql(
          "CAST(sum(CASE WHEN NOT empty AND NOT undersized AND NOT misaligned" +
            " THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 6)} AS ok_share
       |FROM f GROUP BY modality ORDER BY modality""".stripMargin

  private val XmodalNProbe = 4
  private val XmodalTopK = 5

  private val XmodalModality = "image"

  /** CROSS-MODAL RETRIEVAL — the first retrieval CONSUMER of the
    * multimodal family (r12 verdict #6): "find the top-k `modality`
    * assets for this text query", joining the TEXT-side ANN substrate
    * (the shared IVF coarse quantizer — [[Similarity.ivfAssigned]]'s
    * persisted cells, probed exactly like `ann_cosine_ivf`) to ASSET
    * rows ([[assets]]' modality + stored metadata). This is the query a
    * multimodal training pipeline runs constantly: caption/query text →
    * candidate images, with the asset metadata in the result so the
    * downstream pairing job never re-joins the media lake. (Concept
    * twin: `bm25_topk` is RETRIEVAL too, but lexical — token match over
    * an inverted index; this one is embedding-space and cross-modal.)
    *
    * The fixture models the standard shared-embedding-space setup (CLIP
    *-style): text doc_id and its asset share one embedding row; the
    * cross-modal part is structural — queries are TEXT rows, results
    * are ASSET rows of the requested modality with their metadata, and
    * the modality FILTER prunes candidates before ranking (rank k among
    * images ≠ rank k overall — the per-qid window sees the filtered
    * candidate stream only).
    *
    * Scale shape: identical to `ann_cosine_ivf` (broadcast ≤|Q|·nprobe
    * probe list against the bucketed cell assignment, score inside the
    * join, per-qid window on a |Q|-cardinality key) plus one broadcast
    * asset-metadata join — the modality filter drops ~half the
    * candidate stream before the window. The ranking is
    * [[Similarity.exactRerank]], with the asset columns carried and
    * vec_id renamed to doc_id above the sorted result. MultimodalSpec
    * pins recall vs the brute-force cross-modal leg. */
  def crossmodalRetrieval(spark: SparkSession, sfDir: String,
                          modality: String = XmodalModality,
                          k: Int = XmodalTopK): DataFrame = {
    Args.lit("modality", modality)
    require(k > 0, s"k must be positive, got $k")
    val asset = assets(spark, sfDir).toDF()
      .filter(col("modality") === modality)
      .select(col("doc_id").as("vec_id"), col("modality"), col("width"), col("height"))
    val cands = Similarity.ivfCandidates(spark, sfDir, XmodalNProbe).join(asset, "vec_id")
    Similarity.exactRerank(spark, sfDir, cands, k,
        col("modality"), col("width"), col("height"))
      .withColumnRenamed("vec_id", "doc_id")
  }

  /** DuckDB twin — the shared IVF chain's `cand`/`nv` CTEs + the asset
    * metadata expressions (pure functions of doc_id) + the
    * modality-filtered per-qid ranking (WHERE applies before the window
    * on both engines, so rank is within the filtered stream). */
  def crossmodalRetrievalSqlFor(modality: String, k: Int): String = {
    Args.lit("modality", modality)
    require(k > 0, s"k must be positive, got $k")
    s"""WITH ${Similarity.ivfChainSql},
       |ast AS (SELECT doc_id,
       |               CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS modality,
       |               CAST(64 + (doc_id % 8) * 16 AS INTEGER) AS width,
       |               CAST(64 + (doc_id % 4) * 32 AS INTEGER) AS height
       |        FROM documents),
       |scored AS (
       |  SELECT c.qid, c.vec_id, t.modality, t.width, t.height,
       |         list_dot_product(a.v, q.v) / (a.norm * q.norm) AS cosine_raw,
       |         row_number() OVER (PARTITION BY c.qid
       |            ORDER BY list_dot_product(a.v, q.v) / (a.norm * q.norm) DESC,
       |                     c.vec_id ASC) AS rank
       |  FROM cand c JOIN nv a ON c.vec_id = a.vec_id
       |              JOIN nv q ON c.qid = q.vec_id
       |              JOIN ast t ON t.doc_id = c.vec_id
       |  WHERE t.modality = '$modality')
       |SELECT qid, CAST(rank AS INT) AS rank, vec_id AS doc_id, modality,
       |       width, height,
       |       CAST(floor(cosine_raw * 10000 + 0.5) AS DOUBLE) / 10000 AS cosine
       |FROM scored WHERE rank <= $k ORDER BY qid, rank""".stripMargin
  }

  val queries: Seq[Query] = Seq(
    Query.templated("crossmodal_retrieval",
        a => crossmodalRetrievalSqlFor(a.str("modality", XmodalModality),
        a.int("k", XmodalTopK))) { (s, d, a) =>
      crossmodalRetrieval(s, d, a.str("modality", XmodalModality), a.int("k", XmodalTopK)) },
    Query("mm_integrity", mmIntegritySql)(mmIntegrity),
    Query("mm_dedup", mmDedupSql)(mmDedup),
    Query("mm_near_dedup", mmNearDedupSql)(mmNearDedup),
    Query("mm_features", mmFeaturesSql)(mmFeatures),
    Query.args("mm_frame_sample", mmFrameSampleSql) { (s, d, a) =>
      mmFrameSample(s, d, a.int("stride", FrameStride)) },
    Query("mm_fusion", mmFusionSql)(mmFusion),
    Query("mm_resize", mmResizeSql)(mmResize),
  )
}
