package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/**
 * Multimodal column plumbing: media payloads are opaque BINARY
 * columns with typed metadata extracted by a batch decode stage.
 *
 * The decode itself is STUBBED (deterministic header math — the
 * container has no image/audio codecs); everything around it is the
 * real 100 TB shape:
 *  - media rides as BINARY next to its keys (parquet keeps it
 *    columnar; scans that don't touch `media` never read those pages);
 *  - decode runs via `mapPartitions` over iterator batches — the same
 *    contract as an Arrow/pandas batch UDF: one JVM-side buffer per
 *    batch, no per-row driver anything;
 *  - output is a typed metadata struct usable by downstream
 *    relational ops.
 */
object BinaryMeta {

  final case class MediaRow(doc_id: Long, media: Array[Byte])
  final case class MetaRow(doc_id: Long, media_len: Int, width: Int, height: Int, n_frames: Int)

  val BatchSize = 256

  /**
   * The stub container format produced by [[resize]] / [[asVideo]]:
   * magic "GRFT" + width/height/n_frames as big-endian int32, then the
   * frame body. A real deployment's codec replaces this 16-byte header
   * parse with a JPEG/MP4 probe — same signature, same batching.
   */
  private val Magic = Array[Byte]('G', 'R', 'F', 'T')
  private val HeaderLen = 16

  private def putInt(a: Array[Byte], off: Int, v: Int): Unit = {
    a(off) = (v >>> 24).toByte; a(off + 1) = (v >>> 16).toByte
    a(off + 2) = (v >>> 8).toByte; a(off + 3) = v.toByte
  }
  private def getInt(a: Array[Byte], off: Int): Int =
    ((a(off) & 0xff) << 24) | ((a(off + 1) & 0xff) << 16) |
      ((a(off + 2) & 0xff) << 8) | (a(off + 3) & 0xff)

  /** Field-sanity bound: a raw payload that happens to start with the
    * magic bytes carries arbitrary data in the int fields — printable
    * ASCII there decodes to >= 0x20202020, far above any sane stub
    * dimension — so bounding w/h/frames rejects the collision instead
    * of reporting garbage metadata (and diverging from the len-math
    * oracle for that row). */
  private val MaxDim = 32768

  private def hasHeader(m: Array[Byte]): Boolean =
    m.length >= HeaderLen && m(0) == Magic(0) && m(1) == Magic(1) &&
      m(2) == Magic(2) && m(3) == Magic(3) && {
        val w = getInt(m, 4); val h = getInt(m, 8); val f = getInt(m, 12)
        w >= 0 && w <= MaxDim && h >= 0 && h <= MaxDim && f >= 1 && f <= MaxDim
      }

  private[graft] def header(w: Int, h: Int, frames: Int, body: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](HeaderLen + body.length)
    Magic.copyToArray(out)
    putInt(out, 4, w); putInt(out, 8, h); putInt(out, 12, frames)
    body.copyToArray(out, HeaderLen)
    out
  }

  /**
   * STUB decode of one batch: payloads carrying the stub container
   * header report its true fields (what a codec's header probe does);
   * raw payloads fall back to deterministic header math. A real
   * deployment swaps the body for a codec call with identical batching
   * and signature; the rest of the pipeline is unchanged.
   */
  def decodeBatch(batch: Seq[MediaRow]): Seq[MetaRow] =
    batch.map { r =>
      val len = r.media.length
      if (hasHeader(r.media))
        MetaRow(r.doc_id, len, getInt(r.media, 4), getInt(r.media, 8), getInt(r.media, 12))
      else MetaRow(r.doc_id, len, len % 640 + 16, (len * 7) % 480 + 16, 1)
    }

  /** Batched decode over a (doc_id, media BINARY) DataFrame. */
  def decode(spark: SparkSession, mediaDf: DataFrame): DataFrame = {
    import spark.implicits._
    mediaDf.select(col("doc_id").cast("long"), col("media")).as[MediaRow]
      .mapPartitions(_.grouped(BatchSize).flatMap(decodeBatch))
      .toDF()
  }

  // ---- columnar header decode (no object round-trip) ----

  /** Big-endian int32 at byte offset `off` of a BINARY column, read as
    * LONG (unsigned-safe) via codegen'd built-ins: slice -> hex -> conv. */
  private def beInt(media: org.apache.spark.sql.Column, off: Int): org.apache.spark.sql.Column =
    conv(hex(substring(media, off + 1, 4)), 16, 10).cast("long")

  /**
   * Header-only decode as pure columnar expressions — the metadata
   * read needs no codec, so it should not pay the typed-row round-trip
   * [[decode]]'s mapPartitions contract costs (DeserializeToObject
   * breaks whole-stage codegen): slice/hex/conv built-ins with the
   * SAME validation as [[hasHeader]], identical output row-for-row
   * (asserted in MultimodalSpec; plan shape in PlanPostureSpec).
   * [[decode]] remains the batch contract where a real codec runs
   * (frames, embed, resize bodies).
   */
  def decodeMeta(mediaDf: DataFrame): DataFrame = {
    val m = col("media")
    val len = length(m)
    val w = beInt(m, 4)
    val h = beInt(m, 8)
    val f = beInt(m, 12)
    val valid = len >= HeaderLen && substring(m, 1, 4) === lit(Magic) &&
      w.between(0, MaxDim) && h.between(0, MaxDim) && f.between(1, MaxDim)
    mediaDf.select(
      col("doc_id").cast("long"),
      len.as("media_len"),
      when(valid, w).otherwise(len % 640 + 16).cast("int").as("width"),
      when(valid, h).otherwise((len * 7) % 480 + 16).cast("int").as("height"),
      when(valid, f).otherwise(1L).cast("int").as("n_frames"))
  }

  /** SparkEntry query: documents' text bytes standing in for media payloads. */
  def multimodalMeta(spark: SparkSession, sfDir: String): DataFrame = {
    val media = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text").cast("binary").as("media"))
    decodeMeta(media)
  }

  val multimodalMetaSql: String =
    """SELECT doc_id,
      |  CAST(octet_length(encode(text)) AS INTEGER) AS media_len,
      |  CAST(octet_length(encode(text)) % 640 + 16 AS INTEGER) AS width,
      |  CAST((octet_length(encode(text)) * 7) % 480 + 16 AS INTEGER) AS height,
      |  1 AS n_frames
      |FROM documents""".stripMargin

  // ---- resize / frame-sample (stub codec, real batch plumbing) ----

  /**
   * STUB resize: media -> a stub-container payload declaring the
   * target dimensions, body "downsampled" to every 4th byte — the
   * deterministic stand-in for an image scaler. Contract (the real
   * part): BINARY in, BINARY out, map-only over iterator batches;
   * [[decode]] of the output reports exactly (w, h).
   */
  def resizeBatch(batch: Seq[MediaRow], w: Int, h: Int): Seq[MediaRow] =
    batch.map { r =>
      val body = Array.tabulate(r.media.length / 4)(i => r.media(i * 4))
      MediaRow(r.doc_id, header(w, h, 1, body))
    }

  def resize(spark: SparkSession, mediaDf: DataFrame, w: Int, h: Int): DataFrame = {
    import spark.implicits._
    mediaDf.select(col("doc_id").cast("long"), col("media")).as[MediaRow]
      .mapPartitions(_.grouped(BatchSize).flatMap(resizeBatch(_, w, h)))
      .toDF()
  }

  /** STUB video wrap: payload -> stub container with `len % 7 + 1`
    * frames (variety without changing raw-payload decode semantics);
    * frames are the equal byte slices of the body, remainder to the
    * last frame. */
  def asVideoBatch(batch: Seq[MediaRow]): Seq[MediaRow] =
    batch.map { r =>
      MediaRow(r.doc_id, header(0, 0, r.media.length % 7 + 1, r.media))
    }

  final case class FrameRow(doc_id: Long, frame_idx: Int, frame_len: Int)

  /**
   * Frame sampling: keep every `everyN`-th frame of each stub-container
   * video. One output row per sampled frame (doc_id, frame_idx,
   * frame_len) — the real contract a vision pipeline needs before
   * per-frame feature extraction; swapping the slice math for a codec's
   * frame iterator keeps the batching and the explode shape.
   */
  def frameSampleBatch(batch: Seq[MediaRow], everyN: Int): Seq[FrameRow] =
    batch.flatMap { r =>
      if (!hasHeader(r.media)) Seq.empty
      else {
        val frames = getInt(r.media, 12)
        val bodyLen = r.media.length - HeaderLen
        val per = bodyLen / math.max(frames, 1)
        (0 until frames by everyN).map { idx =>
          val len = if (idx == frames - 1) bodyLen - per * (frames - 1) else per
          FrameRow(r.doc_id, idx, len)
        }
      }
    }

  def frameSample(spark: SparkSession, mediaDf: DataFrame, everyN: Int): DataFrame = {
    import spark.implicits._
    mediaDf.select(col("doc_id").cast("long"), col("media")).as[MediaRow]
      .mapPartitions(_.grouped(BatchSize).flatMap(frameSampleBatch(_, everyN)))
      .toDF()
  }

  /** SparkEntry query: resize the text-byte payloads to 224x224 and
    * decode the result — the decoded metadata proves the header
    * roundtrip (body = every 4th byte of the original). */
  def multimodalResize(spark: SparkSession, sfDir: String): DataFrame = {
    val media = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text").cast("binary").as("media"))
    // the resize body is codec work (batched mapPartitions); reading the
    // result's header back is not — columnar decode on the output
    decodeMeta(resize(spark, media, 224, 224))
  }

  val multimodalResizeSql: String =
    """SELECT doc_id,
      |  CAST(16 + octet_length(encode(text)) // 4 AS INTEGER) AS media_len,
      |  224 AS width, 224 AS height, 1 AS n_frames
      |FROM documents""".stripMargin

  /** SparkEntry query: wrap payloads as stub videos (len%7+1 frames),
    * sample every 2nd frame. */
  def multimodalFrames(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val media = Tables.documents(spark, sfDir)
      .select(col("doc_id").cast("long"), col("text").cast("binary").as("media"))
      .as[MediaRow]
      .mapPartitions(_.grouped(BatchSize).flatMap(asVideoBatch))
      .toDF()
    frameSample(spark, media, everyN = 2)
  }

  val multimodalFramesSql: String =
    """WITH v AS (
      |  SELECT doc_id, octet_length(encode(text)) AS blen,
      |    octet_length(encode(text)) % 7 + 1 AS frames
      |  FROM documents)
      |SELECT doc_id, CAST(idx AS INTEGER) AS frame_idx,
      |  CAST(CASE WHEN idx = frames - 1 THEN blen - (blen // frames) * (frames - 1)
      |       ELSE blen // frames END AS INTEGER) AS frame_len
      |FROM v, LATERAL (SELECT unnest(range(0, frames, 2)) AS idx)""".stripMargin

  // ---- stub feature extraction: media -> embedding ----

  /** Fixed stub-embedding dimensionality (one sha-256 digest = 8 x 32 bits). */
  val EmbedDim = 8

  /**
   * Deterministic STUB feature extractor: media bytes -> 8-dim float
   * embedding (8 x 32-bit digest words of sha-256, scaled to [0, 1)).
   * The real deployment swaps the digest for a model forward pass with
   * the identical contract (BINARY in, ARRAY<FLOAT> out, map-only);
   * everything downstream — `Dedup.neardupPairs`, `IvfSearch`, the
   * full ANN stack — consumes it unchanged, which is the point: the
   * multimodal column feeds the similarity pipeline through the same
   * plumbing text embeddings use. Pure codegen built-ins (sha2 + conv),
   * no UDF.
   */
  def embedStub(mediaDf: DataFrame): DataFrame = {
    val sha = sha2(col("media"), 256)
    val feats = (0 until EmbedDim).map { j =>
      (conv(substring(sha, j * 8 + 1, 8), 16, 10).cast("long") / lit(4294967296.0))
        .cast("float")
    }
    mediaDf.select(col("doc_id"), array(feats: _*).as("embedding"))
  }

  /** SparkEntry query: stub features as scalar columns (exact dyadic
    * doubles — engine-portable without rounding). */
  def multimodalEmbed(spark: SparkSession, sfDir: String): DataFrame = {
    val media = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text").cast("binary").as("media"))
    val sha = sha2(col("media"), 256)
    media.select(col("doc_id") +:
      (0 until EmbedDim).map(j =>
        (conv(substring(sha, j * 8 + 1, 8), 16, 10).cast("long") / lit(4294967296.0))
          .as(s"f$j")): _*)
  }

  val multimodalEmbedSql: String = {
    val feats = (0 until EmbedDim).map(j =>
      s"('0x' || substr(sha256(text), ${j * 8 + 1}, 8))::UBIGINT / 4294967296.0 AS f$j")
    s"""SELECT doc_id, ${feats.mkString(",\n  ")}
       |FROM documents""".stripMargin
  }

  /**
   * `multimodal_neardup`: media dedup through the embedding stack —
   * BINARY media -> stub features ([[embedStub]]; a real encoder
   * drops into the same signature) -> the IVF co-probe near-dup join
   * ([[graft.dedup.Dedup.neardupPairs]], reused untouched). The
   * image/video recrawl-dedup rung: a pipeline that embeds media
   * dedups it with exactly this composition, and the stub keeps every
   * Spark-side stage (binary column, feature projection, centroid
   * fit, bucketed pair join, cosine verify) real and hash-checked.
   *
   * Media planted as a MOSTLY-UNIQUE corpus (every doc its own bytes)
   * with a 20% recrawl minority — docs with doc_id ≡ 0 (mod 5) share
   * bytes per (source, doc_id mod 40) class — so identical media map
   * to identical stub vectors (cosine-1.0 pairs the join must
   * surface) against an uncorrelated background. The unique majority
   * matters for the PLAN, not just realism: an all-duplicate corpus
   * has a handful of distinct points, which no centroid fit can
   * spread — identical vectors pile into the same cells and the
   * within-cell pair join degenerates (measured 9.3s vs 0.9s at
   * sf0.1 for the all-classes plant).
   */
  def mediaPlant: org.apache.spark.sql.Column =
    when(col("doc_id") % 5 === 0,
      concat(col("source"), lit("-dup-"), (col("doc_id") % 40).cast("string")))
      .otherwise(concat(col("source"), lit("-"), col("doc_id").cast("string")))
      .cast("binary")

  /** [[embedStub]] features CENTERED at zero (x - 0.5 in exact double
    * arithmetic, one float rounding at the end). Raw stub features
    * live in [0,1]^d — the positive orthant, where every pair's
    * cosine is ~0.9+ and direction-partitioning indexes (IVF cells)
    * cannot prune: the co-probe join degenerates toward all-pairs
    * (measured 8.8s vs 0.9s at sf0.1). Real encoders emit centered
    * features for exactly this reason; the stub mirrors that contract. */
  def embedStubCentered(mediaDf: DataFrame): DataFrame = {
    val sha = sha2(col("media"), 256)
    val feats = (0 until EmbedDim).map { j =>
      ((conv(substring(sha, j * 8 + 1, 8), 16, 10).cast("long") / lit(4294967296.0))
        - lit(0.5)).cast("float")
    }
    mediaDf.select(col("doc_id"), array(feats: _*).as("embedding"))
  }

  def multimodalNeardup(spark: SparkSession, sfDir: String): DataFrame = {
    val media = Tables.documents(spark, sfDir)
      .select(col("doc_id"), mediaPlant.as("media"))
    val e = embedStubCentered(media).select(col("doc_id").as("vec_id"), col("embedding"))
    // cells ~ sqrt(N) (the SemDeDup sizing discipline): a FIXED cell
    // count makes the within-cell pair join quadratic in corpus/cells
    // — at sf0.1 the 16-cell default put ~312 docs in every cell
    // (~780k pair rows, 8.8s); sqrt-sizing keeps pairs ~ N^1.5/cells
    // bounded (0.9s, and the ratio holds as N grows). Count memoized
    // per (session, corpus) like every other sqrt-N sizing call site —
    // repeated invocations should not pay a corpus count job each.
    val cells = graft.query.IvfSearch.scaledCells(
      graft.query.IvfSearch.memoCount(media, s"mm-neardup:$sfDir"))
    val cents = graft.query.IvfSearch.fitCentroids(
      e, cells, Some(s"mm-neardup:$cells:$sfDir"))
    // cacheSource: the embedding column here is a COMPUTED sha256
    // stub-feature projection — uncached it would evaluate 3x (probe
    // pass + both verify endpoints); plain parquet readers skip it
    graft.dedup.Dedup.neardupPairs(e, cents, graft.dedup.Dedup.NeardupProbes,
      graft.config.GraftConfig.active.neardup.topN, cacheSource = true)
  }

  /** DuckDB twin: replay the media plant + stub features (through the
    * FLOAT rounding the array form carries), then the all-pairs
    * cosine top list (the neardup_embedding oracle shape). Parity
    * with the approximate co-probe plan relies on the top-N being
    * SATURATED by cosine-1.0 exact-duplicate pairs, which always
    * co-probe (identical vectors share a cell under any centroid
    * fit); DedupTextSpec asserts that saturation — Nth-ranked exact
    * pair == 1.0 — and bucketed==exact at every oracle-gated SF, so
    * a plant or sizing change that breaks the invariant fails the
    * suite before it reds the driver's gate. */
  def multimodalNeardupSql: String = {
    val feats = (0 until EmbedDim).map(j =>
      s"CAST(CAST(('0x' || substr(sha256(media), ${j * 8 + 1}, 8))::UBIGINT / 4294967296.0 - 0.5 AS FLOAT) AS DOUBLE)")
    val topN = graft.config.GraftConfig.active.neardup.topN
    s"""WITH m AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 5 = 0 THEN source || '-dup-' || (doc_id % 40)
       |         ELSE source || '-' || doc_id END AS media
       |  FROM documents),
       |e AS (SELECT doc_id AS vec_id,
       |  [${feats.mkString(",\n   ")}] AS embedding
       |  FROM m)
       |SELECT a, b, cosine FROM (
       |  SELECT x.vec_id AS a, y.vec_id AS b,
       |    ROUND(list_cosine_similarity(x.embedding, y.embedding), 4) + 0.0 AS cosine
       |  FROM e x JOIN e y ON x.vec_id < y.vec_id)
       |ORDER BY cosine DESC, a, b LIMIT $topN""".stripMargin
  }

  // ---- incremental multimodal dedup (the recrawl delta) ----

  val MmDeltaCentroidExportPath: String =
    graft.FixturePaths.fixture("mm_delta_centroids.parquet")
  val MmDeltaAssignExportPath: String =
    graft.FixturePaths.fixture("mm_delta_base_assign.parquet")
  /** The staged copy of the multimodal delta pair report — what the
    * `_staged` apply/compact twins route off instead of re-running the
    * delta chain (the [[graft.dedup.SemDedup.SemDeltaPairsExportPath]]
    * discipline applied to the media family). */
  val MmDeltaPairsExportPath: String =
    graft.FixturePaths.fixture("mm_delta_pairs.parquet")

  /** Exact-dup verify threshold for the delta twin: recrawl copies of
    * identical media bytes read cosine 1.0 through the stub features;
    * uncorrelated background pairs sit near 0 at [[EmbedDim]] dims. */
  val MmDeltaTau: Double = 0.99

  /**
   * `multimodal_neardup_delta`: incremental multimodal dedup for
   * RECRAWLS — the [[graft.dedup.SemDedup]] delta discipline applied
   * to the media embedding stack, so a recrawl with images pays
   * delta-sized work instead of the full [[multimodalNeardup]]
   * re-pair. Resident state: the base's cell assignments + the frozen
   * base-fitted centroids, staged once when the base corpus was
   * deduped (the base is never re-assigned — the never-re-signed
   * rule). Only the recrawl delta (every [[graft.Carves.DeltaMod]]-th
   * doc) is embedded-and-assigned map-side; ONE within-cell probe
   * join covers both legs (delta×base and delta×delta) under the
   * base∪delta `maxCell` guard; exact-cosine verify is
   * candidate-bounded; `leg` labels feed the merge report.
   *
   * Scale posture: identical to `dedup_semantic_delta` — the only
   * data-sized shuffle is the cell probe join with a recrawl-sized
   * delta side; the quadratic term is cell-guard-bounded; embeddings
   * are fetched only for candidate ids.
   */
  def multimodalNeardupDelta(spark: SparkSession, sfDir: String): DataFrame = {
    val (e, base, delta, cents) = mmDeltaParts(spark, sfDir)
    val key = s"mmdelta:$sfDir|c=${cents.length}"
    graft.dedup.Dedup.exportFixture(key, MmDeltaCentroidExportPath)(
      graft.query.IvfSearch.centroidsDf(spark, cents))
    graft.dedup.Dedup.exportFixture(key, MmDeltaAssignExportPath)(
      graft.dedup.SemDedup.assignWithCentSim(base, cents).select(col("vec_id"), col("cell")))
    val baseAssign = spark.read.parquet(MmDeltaAssignExportPath)
    val deltaAssign = graft.dedup.SemDedup.assignWithCentSim(delta, cents)
      .select(col("vec_id"), col("cell"))
    // stage the (already materialized) pair report ONCE per JVM — the
    // read the staged apply/compact twins route off
    MmReport.stage(sfDir, graft.dedup.SemDedup.semanticPairsDelta(baseAssign, deltaAssign, e,
      tau = MmDeltaTau,
      maxCell = graft.config.GraftConfig.active.semdedup.maxCell))
  }

  private val MmReport = new graft.dedup.DeltaMerge.PairReport("mmdelta-pairs",
    MmDeltaPairsExportPath, multimodalNeardupDelta)

  /** The recrawl carve: every [[graft.Carves.DeltaMod]]-th doc. */
  private def isRecrawl(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    id % graft.Carves.DeltaMod === 0

  /** The media embedding corpus `(vec_id, embedding)`, its base and
    * recrawl slices, and the frozen base-fitted centroids (memoized —
    * the delta entry and both compact forms see the same fit). */
  private def mmDeltaParts(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame, DataFrame, Array[Array[Float]]) = {
    val e = embedStubCentered(Tables.documents(spark, sfDir)
        .select(col("doc_id"), mediaPlant.as("media")))
      .select(col("doc_id").as("vec_id"), col("embedding"))
    val base = e.filter(!isRecrawl(col("vec_id")))
    val cells = graft.query.IvfSearch.scaledCells(
      graft.query.IvfSearch.memoCount(base, s"mmdelta:$sfDir"))
    (e, base, e.filter(isRecrawl(col("vec_id"))),
      graft.query.IvfSearch.fitCentroids(base, cells, Some(s"mmdelta:$cells:$sfDir")))
  }

  /**
   * `multimodal_neardup_delta_apply`: the merge drop policy over the
   * multimodal delta pair report — the [[graft.dedup.SemDedup]] admit
   * rule verbatim: a `delta_base` pair keeps the BASE copy (the
   * resident corpus is authoritative; the arriving re-crawl of the
   * same media is dropped), a `delta_delta` pair keeps the lower id.
   * Emits the SURVIVING delta — the media rows a merge actually
   * admits — with the media byte length as the hashable payload
   * stand-in. Scale posture: the pair report is pair-bounded, so the
   * drop set broadcasts; one anti-join over the recrawl-sized delta.
   */
  def multimodalNeardupDeltaApply(spark: SparkSession, sfDir: String): DataFrame =
    mmApplyFrom(spark, sfDir, multimodalNeardupDelta(spark, sfDir))

  /** The admit decision shared by the in-plan apply and its staged
    * twin: recrawl delta anti-joined against the drop set of either
    * pair source ([[graft.dedup.DeltaMerge.drops]] — PAIR-BOUNDED, so
    * its broadcast is safe at recrawl scale, unlike the admitted set,
    * which is delta-sized). */
  private def mmApplyFrom(spark: SparkSession, sfDir: String,
      pairs: DataFrame): DataFrame = {
    val media = Tables.documents(spark, sfDir)
      .select(col("doc_id"), mediaPlant.as("media"))
    media.filter(isRecrawl(col("doc_id")))
      .join(broadcast(graft.dedup.DeltaMerge.drops(pairs, isRecrawl, "doc_id")),
        Seq("doc_id"), "left_anti")
      .select(col("doc_id"),
        octet_length(col("media")).cast("long").as("media_bytes"))
  }

  /** `multimodal_neardup_apply_staged`: the SAME admit decision routed
    * off the STAGED pair report — a recrawl pipeline's per-merge
    * marginal cost: no embedding, no assignment, no cell join
    * (spec-asserted verdict-identical to the in-plan form). */
  def multimodalNeardupApplyStaged(spark: SparkSession, sfDir: String): DataFrame =
    mmApplyFrom(spark, sfDir, MmReport.staged(spark, sfDir))

  /** Oracle: the identical drop policy over the STAGED pair parquet —
    * no chain CTEs (that absence is the point). */
  def multimodalNeardupApplyStagedSql: String =
    s"""WITH pairs AS (SELECT a, b, leg FROM read_parquet('$MmDeltaPairsExportPath/*.parquet')),
       |drops AS (
       |  SELECT DISTINCT CASE WHEN leg = 'delta_delta' THEN b
       |                       WHEN a % ${graft.Carves.DeltaMod} = 0 THEN a ELSE b END AS id
       |  FROM pairs),
       |m2 AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 5 = 0 THEN source || '-dup-' || (doc_id % 40)
       |         ELSE source || '-' || doc_id END AS media
       |  FROM documents)
       |SELECT doc_id, CAST(strlen(media) AS BIGINT) AS media_bytes
       |FROM m2
       |WHERE doc_id % ${graft.Carves.DeltaMod} = 0
       |  AND doc_id NOT IN (SELECT id FROM drops)""".stripMargin

  /** Oracle: the delta chain nested once (nested-WITH CTE — the
    * semantic apply discipline) + the identical drop policy. */
  def multimodalNeardupDeltaApplySql: String =
    s"""WITH pairs AS (
       |${multimodalNeardupDeltaSql}
       |),
       |m2 AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 5 = 0 THEN source || '-dup-' || (doc_id % 40)
       |         ELSE source || '-' || doc_id END AS media
       |  FROM documents)
       |SELECT doc_id, CAST(strlen(media) AS BIGINT) AS media_bytes
       |FROM m2
       |WHERE doc_id % ${graft.Carves.DeltaMod} = 0
       |  AND doc_id NOT IN (
       |    SELECT CASE WHEN leg = 'delta_delta' THEN b
       |                WHEN a % ${graft.Carves.DeltaMod} = 0 THEN a ELSE b END
       |    FROM pairs)""".stripMargin

  /**
   * `multimodal_neardup_delta_compact`: fold the ADMITTED recrawl into
   * the resident multimodal dedup state — the `dedup_semantic_compact`
   * discipline, completing the delta/apply/compact trilogy on the
   * multimodal family: every resident base row CARRIED verbatim from
   * the assignment fixture (frozen centroids make re-assignment a
   * no-op, so carrying is exact — spec-asserted), plus one FRESH
   * frozen-centroid assignment row per admitted media doc (dropped
   * near-dups never enter the resident state); `src` labels
   * provenance. The compacted table is what the NEXT recrawl's delta
   * probes. Scale posture: the only corpus-touching work is the
   * delta-sized map-only assignment; the base is never rescanned.
   */
  def multimodalNeardupDeltaCompact(spark: SparkSession, sfDir: String): DataFrame =
    // the delta entry stages the fixtures this fold carries
    mmCompactFrom(spark, sfDir, multimodalNeardupDelta(spark, sfDir))

  /** The fold shared by the in-plan compact and its staged twin:
    * carried base fixture + ONE map-only frozen-centroid assignment
    * of the delta, anti-joined against the pair-bounded drop set
    * (dropped near-dups never enter the resident state; semi-joining
    * the ADMITTED set instead would broadcast ~the whole recrawl). */
  private def mmCompactFrom(spark: SparkSession, sfDir: String,
      pairs: DataFrame): DataFrame = {
    val (_, _, delta, cents) = mmDeltaParts(spark, sfDir)
    val carried = spark.read.parquet(MmDeltaAssignExportPath)
      .select(col("vec_id").as("doc_id"), col("cell"), lit("carried").as("src"))
    val fresh = graft.dedup.SemDedup.assignWithCentSim(delta, cents)
      .join(broadcast(graft.dedup.DeltaMerge.drops(pairs, isRecrawl, "vec_id")),
        Seq("vec_id"), "left_anti")
      .select(col("vec_id").as("doc_id"), col("cell"), lit("fresh").as("src"))
    carried.unionByName(fresh)
  }

  /** `multimodal_neardup_compact_staged`: the same fold off the STAGED
    * pair report — the production per-merge cost, whose only
    * corpus-touching work is the delta-sized map-only assignment
    * (spec-asserted verdict-identical to the in-plan recompute). */
  def multimodalNeardupCompactStaged(spark: SparkSession, sfDir: String): DataFrame =
    mmCompactFrom(spark, sfDir, MmReport.staged(spark, sfDir))

  /** Oracle: carried base fixture + frozen-centroid assignment of the
    * delta restricted to the staged-report survivors — no chain CTEs. */
  def multimodalNeardupCompactStagedSql: String = {
    val feats = (0 until EmbedDim).map(j =>
      s"CAST(CAST(('0x' || substr(sha256(media), ${j * 8 + 1}, 8))::UBIGINT / 4294967296.0 - 0.5 AS FLOAT) AS DOUBLE)")
    s"""WITH m4 AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 5 = 0 THEN source || '-dup-' || (doc_id % 40)
       |         ELSE source || '-' || doc_id END AS media
       |  FROM documents),
       |ec AS (SELECT doc_id AS vec_id,
       |  [${feats.mkString(",\n   ")}] AS embedding
       |  FROM m4),
       |cc AS (SELECT cell, cv FROM read_parquet('$MmDeltaCentroidExportPath/*.parquet')),
       |pairs AS (SELECT a, b, leg FROM read_parquet('$MmDeltaPairsExportPath/*.parquet')),
       |drops AS (
       |  SELECT DISTINCT CASE WHEN leg = 'delta_delta' THEN b
       |                       WHEN a % ${graft.Carves.DeltaMod} = 0 THEN a ELSE b END AS id
       |  FROM pairs),
       |adm AS (
       |  SELECT vec_id FROM ec
       |  WHERE vec_id % ${graft.Carves.DeltaMod} = 0
       |    AND vec_id NOT IN (SELECT id FROM drops)),
       |delta_assign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, cc.cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]),
       |                               CAST(cc.cv AS DOUBLE[])), cc.cell) AS r
       |    FROM ec e JOIN adm USING (vec_id) CROSS JOIN cc)
       |  WHERE r = 1)
       |SELECT vec_id AS doc_id, cell, 'carried' AS src
       |FROM read_parquet('$MmDeltaAssignExportPath/*.parquet')
       |UNION ALL
       |SELECT vec_id AS doc_id, cell, 'fresh' AS src FROM delta_assign""".stripMargin
  }

  /** Oracle: resident base assignment carried verbatim from the
    * fixture + the admitted survivors' fresh frozen-centroid
    * assignment (the apply chain nested once). */
  def multimodalNeardupDeltaCompactSql: String = {
    val feats = (0 until EmbedDim).map(j =>
      s"CAST(CAST(('0x' || substr(sha256(media), ${j * 8 + 1}, 8))::UBIGINT / 4294967296.0 - 0.5 AS FLOAT) AS DOUBLE)")
    s"""WITH adm AS MATERIALIZED (
       |${multimodalNeardupDeltaApplySql}
       |),
       |m3 AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 5 = 0 THEN source || '-dup-' || (doc_id % 40)
       |         ELSE source || '-' || doc_id END AS media
       |  FROM documents),
       |ecorp AS (SELECT doc_id AS vec_id,
       |  [${feats.mkString(",\n   ")}] AS embedding
       |  FROM m3),
       |cc AS (SELECT cell, cv FROM read_parquet('$MmDeltaCentroidExportPath/*.parquet')),
       |dd AS (SELECT vec_id FROM ecorp
       |      WHERE vec_id % ${graft.Carves.DeltaMod} = 0),
       |delta_assign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, cc.cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]),
       |                               CAST(cc.cv AS DOUBLE[])), cc.cell) AS r
       |    FROM ecorp e JOIN dd USING (vec_id) CROSS JOIN cc)
       |  WHERE r = 1)
       |SELECT vec_id AS doc_id, cell, 'carried' AS src
       |FROM read_parquet('$MmDeltaAssignExportPath/*.parquet')
       |UNION ALL
       |SELECT da.vec_id AS doc_id, da.cell, 'fresh' AS src
       |FROM delta_assign da JOIN adm ON adm.doc_id = da.vec_id""".stripMargin
  }

  /** DuckDB twin: the `dedup_semantic_delta` decision chain over the
    * media stub corpus — media plant + FLOAT stub features, resident
    * base-assignment fixture, map-side delta assignment replayed from
    * the centroid fixture (L2 argmin, cell tiebreak), base∪delta
    * guard, one probe join, exact cosine ≥ τ, leg labels. */
  def multimodalNeardupDeltaSql: String = {
    val feats = (0 until EmbedDim).map(j =>
      s"CAST(CAST(('0x' || substr(sha256(media), ${j * 8 + 1}, 8))::UBIGINT / 4294967296.0 - 0.5 AS FLOAT) AS DOUBLE)")
    val maxCell = graft.config.GraftConfig.active.semdedup.maxCell
    s"""WITH m AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 5 = 0 THEN source || '-dup-' || (doc_id % 40)
       |         ELSE source || '-' || doc_id END AS media
       |  FROM documents),
       |corpus AS MATERIALIZED (SELECT doc_id AS vec_id,
       |  [${feats.mkString(",\n   ")}] AS embedding
       |  FROM m),
       |c AS (SELECT cell, cv FROM read_parquet('$MmDeltaCentroidExportPath/*.parquet')),
       |base_assign AS (SELECT vec_id, cell FROM read_parquet('$MmDeltaAssignExportPath/*.parquet')),
       |d AS MATERIALIZED (SELECT vec_id FROM corpus
       |      WHERE vec_id % ${graft.Carves.DeltaMod} = 0),
       |delta_assign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]),
       |                               CAST(c.cv AS DOUBLE[])), c.cell) AS r
       |    FROM corpus e JOIN d USING (vec_id) CROSS JOIN c)
       |  WHERE r = 1),
       |assign_all AS (SELECT * FROM base_assign UNION ALL SELECT * FROM delta_assign),
       |guarded AS MATERIALIZED (
       |  SELECT vec_id, cell FROM assign_all
       |  QUALIFY COUNT(*) OVER (PARTITION BY cell) <= $maxCell),
       |cands AS (
       |  SELECT DISTINCT LEAST(x.vec_id, y.vec_id) AS a,
       |                  GREATEST(x.vec_id, y.vec_id) AS b
       |  FROM guarded x JOIN guarded y
       |    ON x.cell = y.cell AND x.vec_id <> y.vec_id
       |  WHERE x.vec_id IN (SELECT vec_id FROM d)),
       |verify AS (
       |  SELECT c2.a, c2.b,
       |    ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
       |                                 CAST(eb.embedding AS DOUBLE[])), 4) AS cos
       |  FROM cands c2
       |  JOIN corpus ea ON ea.vec_id = c2.a
       |  JOIN corpus eb ON eb.vec_id = c2.b)
       |SELECT a, b, cos,
       |  CASE WHEN a IN (SELECT vec_id FROM d) AND b IN (SELECT vec_id FROM d)
       |       THEN 'delta_delta' ELSE 'delta_base' END AS leg
       |FROM verify WHERE cos >= $MmDeltaTau""".stripMargin
  }
}
