package graft.operators

import graft.{Q, Tables}
import org.apache.spark.Partitioner
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads as opaque
  * BINARY columns with typed metadata, decoded per partition in
  * batches — the Scala twin of `mapInPandas` over Arrow batches.
  *
  * The container has no media libraries and the testdata has no real
  * media, so the payload is `cast(text AS BINARY)` and the DECODE STEP
  * IS A DETERMINISTIC STUB (`StubDecoder`): it computes (n_bytes,
  * 60-bit content digest) where a real decoder would produce pixels or
  * PCM frames. Everything around the stub is the real production
  * shape:
  *
  *  - payloads stay opaque bytes end to end; no driver-side collect
  *  - deterministic partitioning (doc_id mod N via an explicit
  *    [[Partitioner]]) + in-partition key order, so batch membership
  *    is reproducible and oracle-checkable — the same guarantee a
  *    replayable media pipeline needs
  *  - fixed-size batches (32) inside `mapPartitions`: the decoder is
  *    invoked once per batch with an iterator, exactly the Arrow
  *    batch shape, so swapping in a JNI/TorchScript decoder is a
  *    one-function change
  *
  * At 100 TB: media payloads dominate bytes, so the scan must prune
  * columns (payload read only where decoded) and partition counts must
  * size batches to decoder memory; both knobs are surfaced here.
  */
object MultimodalOps {

  private val NumParts = 4
  private val BatchSize = 32

  /** Media fixture population: doc_id < 200 exists at every SF, so
    * the decode gates are scale-constant by construction. */
  private val BmpAssets = 200
  private val WavAssets = 200
  private val ToneAssets = 200

  /** q_phash_dup shape: 32 byte samples → 32-bit signature, 2×16-bit
    * bands, hamming radius 4. Declared before `val all` — the oracle
    * strings are built eagerly at object init. */
  private val PhK = 32
  private val PhMaxHamming = 4

  /** Shared oracle CTE chain ending in `pairs(doc_a, doc_b, hamming)`
    * (and exposing `sig(doc_id, sig)`) — spliced by q_phash_dup AND
    * q_phash_cluster. A def: oracle texts interpolated into registry
    * vals must not race object init (the EventsOps PermDraws lesson). */
  private def phashPairsSqlCtes: String = {
    val bytesExpr = (0 until PhK).map(k =>
      s"ascii(substr(text, CAST(floor($k * (length(text) - 1) / ${PhK - 1}) AS BIGINT) + 1, 1))")
      .mkString("[", ", ", "]")
    s"""b AS (
       |  SELECT doc_id, $bytesExpr AS bs
       |  FROM documents WHERE length(text) >= $PhK
       |), m AS (
       |  SELECT doc_id, bs, CAST(list_sum(bs) AS BIGINT) / $PhK.0 AS mean FROM b
       |), sig AS (
       |  SELECT doc_id, CAST(list_sum(list_transform(range($PhK),
       |    k -> CASE WHEN bs[k+1] > mean THEN 2**k ELSE 0 END)) AS BIGINT) AS sig
       |  FROM m
       |), bands AS (
       |  SELECT doc_id, sig, 0 AS band_id, sig & 65535 AS bv FROM sig
       |  UNION ALL
       |  SELECT doc_id, sig, 1 AS band_id, (sig >> 16) & 65535 AS bv FROM sig
       |), cand AS (
       |  SELECT DISTINCT l.doc_id AS doc_a, l.sig AS sa,
       |                  r.doc_id AS doc_b, r.sig AS sb
       |  FROM bands l JOIN bands r ON l.band_id = r.band_id
       |    AND l.bv = r.bv AND l.doc_id < r.doc_id
       |), pairs AS (
       |  SELECT doc_a, doc_b,
       |    CAST(bit_count(CAST(xor(sa, sb) AS BIGINT)) AS BIGINT) AS hamming
       |  FROM cand
       |  WHERE bit_count(CAST(xor(sa, sb) AS BIGINT)) <= $PhMaxHamming
       |)""".stripMargin
  }

  /** Per-payload sign-bit signatures (doc_id, sig) — the stubbed
    * byte-sample stand-in for a DCT phash; see q_phash_dup's doc. */
  private[graft] def phashSigs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val bs = array((0 until PhK).map { k =>
      ascii(col("text").substr(
        (floor(lit(k) * (length(col("text")) - 1) / (PhK - 1)) + 1).cast("int"),
        lit(1)))
    }: _*)
    Tables.documents(s, dir)
      .filter(length(col("text")) >= PhK)
      .select(col("doc_id"), bs.as("bs"))
      .withColumn("mean",
        aggregate(col("bs"), lit(0L), (a, x) => a + x).cast("double") / PhK)
      .withColumn("sig", (0 until PhK).map { k =>
        when(element_at(col("bs"), k + 1) > col("mean"), lit(1L << k))
          .otherwise(lit(0L))
      }.reduce(_ + _))
      .select("doc_id", "sig")
  }

  /** Band-blocked near-dup pairs (doc_a, doc_b, hamming ≤ cap) over a
    * (doc_id, sig) frame — the O(collisions) candidate join. */
  private[graft] def phashPairs(sigDf: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val bands = sigDf.select(col("doc_id"), col("sig"),
      posexplode(array(
        col("sig").bitwiseAND(lit(65535L)),
        shiftright(col("sig"), 16).bitwiseAND(lit(65535L))))
        .as(Seq("band_id", "bv")))
    bands.as("l").join(bands.as("r"),
        col("l.band_id") === col("r.band_id")
          && col("l.bv") === col("r.bv")
          && col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
        bit_count(col("l.sig").bitwiseXOR(col("r.sig"))).cast("long")
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= PhMaxHamming)
  }

  /** Keys are (doc_id % NumParts, doc_id); placement is the first
    * component literally — no hash — so the oracle can name each
    * row's partition. */
  private class ModPartitioner(n: Int) extends Partitioner {
    def numPartitions: Int = n
    def getPartition(key: Any): Int = key.asInstanceOf[(Long, Long)]._1.toInt
  }

  /** THE BATCH-DECODE SEAM — the one pipeline both decoder queries
    * share: deterministic mod-N placement + in-partition key order +
    * fixed-size batches via `mapPartitions` (the mapInPandas/Arrow
    * shape). The decoder is an ARGUMENT: swapping the digest stub for
    * the real BMP parser changes this one function value and nothing
    * about placement, ordering, or batching — BmpSwapSpec pins batch
    * membership identical under both decoders. */
  private[graft] def decodedBatches[T: scala.reflect.ClassTag](
      payloads: org.apache.spark.rdd.RDD[(Long, Array[Byte])],
      decode: Seq[(Long, Array[Byte])] => Seq[T])
      : org.apache.spark.rdd.RDD[(Long, Long, T)] =
    payloads.map { case (id, p) => (id % NumParts, id) -> ((id, p)) }
      .repartitionAndSortWithinPartitions(new ModPartitioner(NumParts))
      .mapPartitionsWithIndex { (part, it) =>
        it.map(_._2).grouped(BatchSize).zipWithIndex.flatMap { case (batch, bi) =>
          decode(batch).map(t => (part.toLong, bi.toLong, t))
        }
      }

  /** The stubbed media decoder: one call per batch, like a real
    * vectorized decoder. Returns (doc_id, n_bytes, digest60) — byte
    * digests standing where features would. [[BmpDecoder]] is the
    * REAL decoder behind the same seam. */
  private object StubDecoder {
    def decodeBatch(batch: Seq[(Long, Array[Byte])]): Seq[(Long, Long, Long)] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      batch.map { case (id, payload) =>
        val hex = md.digest(payload).map("%02x".format(_)).mkString.take(15)
        (id, payload.length.toLong, java.lang.Long.parseLong(hex, 16))
      }
    }
  }

  /** Deterministic BMP FIXTURE — the salted-asset convention (the
    * q_pii_scrub precedent): each doc_id maps to a closed-form 24bpp
    * bottom-up Windows BMP (BITMAPINFOHEADER, BI_RGB, 4-byte-padded
    * row stride — widths 5/6/7 genuinely pad), with a planted vertical
    * brightness edge in the red channel. The ORACLE recomputes the
    * same closed form directly from doc_id, so any decoder misparse —
    * stride, data offset, bottom-up order (caught by the y-weighted
    * moment), BGR vs RGB (channels use distinct formulas) — breaks the
    * hash compare. Public format facts only (the BMP layout is
    * published in every imaging reference). */
  private[graft] object BmpFixture {
    def width(d: Long): Int = 4 + (d % 5).toInt    // [4, 8]
    def height(d: Long): Int = 3 + (d % 4).toInt   // [3, 6]
    def edge(d: Long): Int = 1 + (d % (width(d) - 1)).toInt // [1, W-1]
    def b(d: Long, x: Int, y: Int): Int = ((d + 3 * x + 7 * y) % 256).toInt
    def g(d: Long, x: Int, y: Int): Int = ((2 * d + 5 * x + 11 * y) % 256).toInt
    /** Red: small texture mod 50 plus a +200 step at x ≥ edge — the
      * adjacent-column sum jump is ≥ 163·H at the edge and ≤ 37·H
      * elsewhere, so the argmax is provably the planted position. */
    def r(d: Long, x: Int, y: Int): Int =
      ((3 * d + 13 * x + 17 * y) % 50).toInt + (if (x >= edge(d)) 200 else 0)

    def encode(d: Long): Array[Byte] = {
      val w = width(d)
      val h = height(d)
      val stride = ((3 * w + 3) / 4) * 4
      val size = 54 + stride * h
      val bb = java.nio.ByteBuffer.allocate(size)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put('B'.toByte).put('M'.toByte).putInt(size)
        .putShort(0).putShort(0).putInt(54)          // reserved, data offset
      bb.putInt(40).putInt(w).putInt(h)              // header size, dims
        .putShort(1).putShort(24)                    // planes, bpp
        .putInt(0).putInt(stride * h)                // BI_RGB, image size
        .putInt(2835).putInt(2835).putInt(0).putInt(0)
      var y = h - 1                                  // bottom-up row order
      while (y >= 0) {
        var x = 0
        while (x < w) {
          bb.put(b(d, x, y).toByte).put(g(d, x, y).toByte).put(r(d, x, y).toByte)
          x += 1
        }
        var pad = 3 * w
        while (pad < stride) { bb.put(0.toByte); pad += 1 }
        y -= 1
      }
      bb.array()
    }
  }

  /** Per-asset decoded-pixel statistics (all exact BIGINTs — no float
    * discipline needed at the gate). */
  private[graft] final case class BmpStats(
      doc_id: Long, width: Long, height: Long, n_pixels: Long,
      sum_b: Long, sum_g: Long, sum_r: Long, y_moment: Long, edge_x: Long)

  /** Unsigned little-endian field reads at a byte offset: the one
    * reader the BMP, RLE8 and WAV container parsers share. */
  private object LittleEndian {
    def le32(p: Array[Byte], off: Int): Int =
      (p(off) & 0xff) | ((p(off + 1) & 0xff) << 8) |
        ((p(off + 2) & 0xff) << 16) | ((p(off + 3) & 0xff) << 24)
    def le16(p: Array[Byte], off: Int): Int =
      (p(off) & 0xff) | ((p(off + 1) & 0xff) << 8)
  }

  /** The REAL decoder behind the batch seam: parses the BMP container
    * from its published byte layout — magic, little-endian data offset
    * (10), width (18), height (22), bpp (28), compression (30),
    * 4-byte-aligned row stride, bottom-up row order, BGR pixel order —
    * and emits per-asset statistics where the stub emitted digests.
    * Offset/stride arithmetic only; no imaging library. */
  private[graft] object BmpDecoder {
    import LittleEndian.{le16, le32}

    def decodeBatch(batch: Seq[(Long, Array[Byte])]): Seq[BmpStats] =
      batch.map { case (id, p) => decodeOne(id, p) }

    def decodeOne(id: Long, p: Array[Byte]): BmpStats = {
      require(p(0) == 'B'.toByte && p(1) == 'M'.toByte, s"asset $id: not a BMP")
      val dataOff = le32(p, 10)
      val w = le32(p, 18)
      val h = le32(p, 22) // positive ⇒ bottom-up, per the format
      require(h > 0, s"asset $id: top-down BMPs not produced by this fixture")
      require(le16(p, 28) == 24, s"asset $id: only 24bpp supported")
      require(le32(p, 30) == 0, s"asset $id: only BI_RGB supported")
      val stride = ((3 * w + 3) / 4) * 4
      var sumB = 0L; var sumG = 0L; var sumR = 0L; var yMom = 0L
      val colR = new Array[Long](w)
      var y = 0
      while (y < h) {
        val rowOff = dataOff + (h - 1 - y) * stride
        var x = 0
        while (x < w) {
          val o = rowOff + 3 * x
          val bv = p(o) & 0xff
          val gv = p(o + 1) & 0xff
          val rv = p(o + 2) & 0xff
          sumB += bv; sumG += gv; sumR += rv
          yMom += (y + 1).toLong * bv
          colR(x) += rv
          x += 1
        }
        y += 1
      }
      var bestX = 1
      var bestD = Long.MinValue
      var x = 1
      while (x < w) {
        val d = colR(x) - colR(x - 1)
        if (d > bestD) { bestD = d; bestX = x }
        x += 1
      }
      BmpStats(id, w.toLong, h.toLong, w.toLong * h,
        sumB, sumG, sumR, yMom, bestX.toLong)
    }
  }

  /** Deterministic RLE8 BMP FIXTURE — the COMPRESSED-codec twin of
    * [[BmpFixture]]: each doc_id maps to a closed-form 8bpp
    * palettized Windows BMP with BI_RLE8 run-length compression
    * (public byte layout: 1078-byte data offset past the 256-entry
    * BGRA palette; encoded runs, absolute-mode literals with 2-byte
    * alignment padding, delta escapes, end-of-line and end-of-bitmap
    * markers). Every published RLE8 control path is exercised by
    * construction: each row opens with a RUN, continues with an
    * ABSOLUTE segment of 3 or 4 literals by row parity (length 3
    * forces the pad byte), and closes with either another run + EOL
    * (even rows) or a DELTA skip + EOL (odd rows — skipped pixels
    * decode as index 0, the format's defined background); the TOP
    * row terminates with an EARLY EOB after its opening run, leaving
    * its tail at the background. The decoded pixel grid therefore has a
    * pure closed form the oracle recomputes directly from doc_id —
    * any misparse of run lengths, absolute padding, delta cursor
    * moves, row order, or the palette breaks the hash. This is the
    * property a compressed container actually stresses that raw BMP
    * cannot: VARIABLE-LENGTH decode, where output position is a
    * function of every byte consumed so far. */
  private[graft] object RleFixture {
    def width(d: Long): Int = 8 + (d % 5).toInt     // [8, 12]
    def height(d: Long): Int = 3 + (d % 4).toInt    // [3, 6]
    /** Opening-run length on row y (visual, 0 = top): ∈ [1, W−6], so
      * run + absolute (≤ 4) always leave ≥ 2 trailing columns. */
    def a(d: Long, y: Int): Int = 1 + ((d + 3 * y) % (width(d) - 6)).toInt
    def k(y: Int): Int = 3 + (y % 2)
    def v1(d: Long, y: Int): Int = ((d + 7 * y) % 256).toInt
    def lit(d: Long, x: Int, y: Int): Int = ((3 * d + 5 * x + 11 * y) % 256).toInt
    def v2(d: Long, y: Int): Int = ((2 * d + 13 * y) % 256).toInt

    /** The decoded grid's closed form (visual y = 0 is the top row). */
    def pix(d: Long, x: Int, y: Int): Int =
      if (y == 0) { if (x < a(d, 0)) v1(d, 0) else 0 }
      else if (x < a(d, y)) v1(d, y)
      else if (x < a(d, y) + k(y)) lit(d, x, y)
      else if (y % 2 == 0) v2(d, y)
      else 0

    def palB(d: Long, i: Int): Int = ((d + 2 * i) % 256).toInt
    def palG(d: Long, i: Int): Int = ((2 * d + 3 * i) % 256).toInt
    def palR(d: Long, i: Int): Int = ((3 * d + 5 * i) % 256).toInt

    def encode(d: Long): Array[Byte] = {
      val w = width(d)
      val h = height(d)
      val body = scala.collection.mutable.ArrayBuffer.empty[Byte]
      // File order is bottom-up: visual rows h−1 … 1, then the top
      // row, which ends the bitmap early with EOB.
      var y = h - 1
      while (y >= 1) {
        val av = a(d, y)
        val kv = k(y)
        body += av.toByte += v1(d, y).toByte          // encoded run
        body += 0 += kv.toByte                        // absolute mode
        var j = 0
        while (j < kv) { body += lit(d, av + j, y).toByte; j += 1 }
        if (kv % 2 == 1) body += 0                    // word alignment
        val rem = w - av - kv                         // ≥ 2 by design
        if (y % 2 == 0) body += rem.toByte += v2(d, y).toByte
        else body += 0 += 2 += rem.toByte += 0        // delta (dx, 0)
        body += 0 += 0                                // end of line
        y -= 1
      }
      body += a(d, 0).toByte += v1(d, 0).toByte
      body += 0 += 1                                  // end of bitmap
      val dataOff = 14 + 40 + 256 * 4
      val size = dataOff + body.length
      val bb = java.nio.ByteBuffer.allocate(size)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put('B'.toByte).put('M'.toByte).putInt(size)
        .putShort(0).putShort(0).putInt(dataOff)
      bb.putInt(40).putInt(w).putInt(h)
        .putShort(1).putShort(8)                      // planes, 8bpp
        .putInt(1).putInt(body.length)                // BI_RLE8, data size
        .putInt(2835).putInt(2835).putInt(256).putInt(0)
      var i = 0
      while (i < 256) {                               // BGRA palette
        bb.put(palB(d, i).toByte).put(palG(d, i).toByte)
          .put(palR(d, i).toByte).put(0.toByte)
        i += 1
      }
      bb.put(body.toArray)
      bb.array()
    }
  }

  /** Per-asset RLE8-decoded statistics (exact BIGINTs). sum_idx /
    * y_moment read the raw palette indices (row-order sensitive);
    * the channel sums go through the file's palette. */
  private[graft] final case class RleStats(
      doc_id: Long, width: Long, height: Long, n_pixels: Long,
      sum_idx: Long, sum_b: Long, sum_g: Long, sum_r: Long, y_moment: Long)

  /** The REAL RLE8 decoder behind the same batch seam: a cursor walk
    * over the variable-length stream — encoded runs, absolute-mode
    * literals (2-byte aligned), delta cursor moves, EOL/EOB escapes —
    * onto a zero-initialized canvas (the format's defined background
    * for skipped pixels), then palette-mapped statistics. Offset
    * arithmetic only; no imaging library. */
  private[graft] object RleDecoder {
    import LittleEndian.{le16, le32}

    def decodeBatch(batch: Seq[(Long, Array[Byte])]): Seq[RleStats] =
      batch.map { case (id, p) => decodeOne(id, p) }

    def decodeOne(id: Long, p: Array[Byte]): RleStats = {
      require(p(0) == 'B'.toByte && p(1) == 'M'.toByte, s"asset $id: not a BMP")
      val dataOff = le32(p, 10)
      val w = le32(p, 18)
      val h = le32(p, 22)
      require(h > 0, s"asset $id: top-down BMPs cannot be RLE-compressed")
      require(le16(p, 28) == 8, s"asset $id: RLE8 requires 8bpp")
      require(le32(p, 30) == 1, s"asset $id: not BI_RLE8")
      val palOff = 14 + le32(p, 14)
      val canvas = new Array[Int](w * h)             // index 0 background
      var xc = 0
      var yf = 0                                     // file row: 0 = bottom
      var o = dataOff
      var done = false
      while (!done && o + 1 < p.length) {
        val n = p(o) & 0xff
        val v = p(o + 1) & 0xff
        o += 2
        if (n > 0) {
          var i = 0
          while (i < n) {
            if (xc < w && yf < h) canvas(yf * w + xc) = v
            xc += 1; i += 1
          }
        } else v match {
          case 0 => xc = 0; yf += 1                  // end of line
          case 1 => done = true                      // end of bitmap
          case 2 =>                                  // delta
            xc += p(o) & 0xff; yf += p(o + 1) & 0xff; o += 2
          case cnt =>                                // absolute mode
            var i = 0
            while (i < cnt) {
              if (xc < w && yf < h) canvas(yf * w + xc) = p(o + i) & 0xff
              xc += 1; i += 1
            }
            o += cnt + (cnt & 1)                     // alignment pad
        }
      }
      var sumIdx = 0L; var sumB = 0L; var sumG = 0L; var sumR = 0L
      var yMom = 0L
      var fy = 0
      while (fy < h) {
        val y = h - 1 - fy                           // visual: 0 = top
        var x = 0
        while (x < w) {
          val idx = canvas(fy * w + x)
          sumIdx += idx
          sumB += p(palOff + 4 * idx) & 0xff
          sumG += p(palOff + 4 * idx + 1) & 0xff
          sumR += p(palOff + 4 * idx + 2) & 0xff
          yMom += (y + 1).toLong * idx
          x += 1
        }
        fy += 1
      }
      RleStats(id, w.toLong, h.toLong, w.toLong * h,
        sumIdx, sumB, sumG, sumR, yMom)
    }
  }

  /** Deterministic PNG FIXTURE — the ENTROPY-CODED twin of
    * [[RleFixture]]: each doc_id maps to a closed-form 8-bit
    * grayscale PNG (public byte layout, RFC 2083 / the PNG spec:
    * 8-byte signature; big-endian length-type-data-CRC32 chunks;
    * IHDR with width/height/bitdepth 8/colortype 0; IDAT carrying a
    * ZLIB (RFC 1950) stream whose DEFLATE (RFC 1951) payload is the
    * filtered scanlines — one filter-type byte per row, here cycling
    * the FULL §6 set None/Sub/Up/Average/Paeth; IEND terminator).
    * The container deliberately
    * stresses the published invariants a naive parser skips: an
    * ancillary tEXt chunk sits BEFORE the image data (fixed offsets
    * fail), and the zlib stream is SPLIT ACROSS TWO IDAT CHUNKS at
    * its midpoint (the spec requires consumers to concatenate IDAT
    * data before inflating — half the corpus decodes garbage if each
    * chunk is inflated alone). RLE8 proved variable-length decode;
    * PNG proves genuine ENTROPY CODING behind the same seam — the
    * byte stream is a Huffman-coded DEFLATE member (inflated with
    * the public java.util.zip.Inflater), which is what real corpora
    * (PNG, gzip, zip) actually arrive in. Filters are exact integer
    * arithmetic, so the decoded grid keeps the pure closed form the
    * oracle recomputes from doc_id. */
  private[graft] object PngFixture {
    def width(d: Long): Int = 5 + (d % 5).toInt     // [5, 9]
    def height(d: Long): Int = 3 + (d % 4).toInt    // [3, 6]
    def v(d: Long, x: Int, y: Int): Int = ((d + 3 * x + 7 * y) % 256).toInt

    private[graft] def chunk(tpe: String, data: Array[Byte]): Array[Byte] = {
      val t = tpe.getBytes("US-ASCII")
      val bb = java.nio.ByteBuffer.allocate(12 + data.length) // BE default
      bb.putInt(data.length).put(t).put(data)
      val crc = new java.util.zip.CRC32
      crc.update(t)
      crc.update(data)
      bb.putInt(crc.getValue.toInt)
      bb.array()
    }

    private[graft] val Signature: Array[Byte] =
      Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

    /** RFC 2083 §6.6: nearest of left/up/upper-left to a + b − c,
      * ties broken a, then b. (The decoder carries its OWN copy —
      * the hand-laid PngSpec literal, with its pre-computed Paeth
      * data bytes, is what keeps the pair honest, not symmetry.) */
    private def paethPredictor(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val pa = math.abs(p - a)
      val pb = math.abs(p - b)
      val pc = math.abs(p - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }

    def encode(d: Long): Array[Byte] = {
      val w = width(d)
      val h = height(d)
      val raw = Array.tabulate(h, w)((y, x) => v(d, x, y))
      // Filtered scanlines: row y uses filter y % 5 — the FULL RFC
      // 2083 §6 set. 0 None, 1 Sub (left neighbour, 0 at x = 0),
      // 2 Up, 3 Average (floor of left+up), 4 Paeth (the published
      // three-way predictor). Filters 2-4 need the row above, which
      // always exists (y % 5 == k implies y >= k >= 2); heights run
      // [3, 6], so every corpus asset exercises None/Sub/Up, heights
      // >= 4 add Average, heights >= 5 add Paeth.
      val scan = new Array[Byte](h * (1 + w))
      var o = 0
      var y = 0
      while (y < h) {
        val f = y % 5
        scan(o) = f.toByte
        o += 1
        var x = 0
        while (x < w) {
          val cur = raw(y)(x)
          val left = if (x == 0) 0 else raw(y)(x - 1)
          val filt = f match {
            case 0 => cur
            case 1 => (cur - left) & 0xff
            case 2 => (cur - raw(y - 1)(x)) & 0xff
            case 3 => (cur - (left + raw(y - 1)(x)) / 2) & 0xff
            case _ =>
              val up = raw(y - 1)(x)
              val ul = if (x == 0) 0 else raw(y - 1)(x - 1)
              (cur - paethPredictor(left, up, ul)) & 0xff
          }
          scan(o) = filt.toByte
          o += 1
          x += 1
        }
        y += 1
      }
      val defl = new java.util.zip.Deflater()
      defl.setInput(scan)
      defl.finish()
      val buf = new Array[Byte](scan.length * 2 + 128)
      val n = defl.deflate(buf)
      defl.end()
      val z = java.util.Arrays.copyOf(buf, n)
      val ihdr = java.nio.ByteBuffer.allocate(13)
        .putInt(w).putInt(h).put(8.toByte).put(0.toByte)
        .put(0.toByte).put(0.toByte).put(0.toByte).array()
      val txt = (s"note asset $d").getBytes("US-ASCII")
      val cut = z.length / 2
      Signature ++ chunk("IHDR", ihdr) ++ chunk("tEXt", txt) ++
        chunk("IDAT", java.util.Arrays.copyOfRange(z, 0, cut)) ++
        chunk("IDAT", java.util.Arrays.copyOfRange(z, cut, z.length)) ++
        chunk("IEND", Array.emptyByteArray)
    }
  }

  /** Per-asset PNG-decoded statistics (exact BIGINTs). x_moment and
    * y_moment weight by column/row + 1, so Sub/Up filter misparses
    * (which smear errors rightward/downward) and any transposition
    * break different columns. */
  private[graft] final case class PngStats(
      doc_id: Long, width: Long, height: Long, n_pixels: Long,
      sum_v: Long, x_moment: Long, y_moment: Long)

  /** The REAL PNG decoder behind the same batch seam: chunk walk with
    * CRC32 verification (loud failure on corruption — the format's
    * own integrity contract), IDAT concatenation, one
    * java.util.zip.Inflater pass over the zlib member, then per-row
    * filter reconstruction over the FULL RFC 2083 §6 set
    * (None/Sub/Up/Average/Paeth); out-of-spec filter types fail
    * loudly rather than decode wrong. Offset arithmetic + the public
    * JDK inflater; no imaging library. */
  private[graft] object PngDecoder {
    /** Independent twin of the fixture's predictor — see the note
      * there; PngSpec's hand-laid Paeth bytes pin THIS copy. */
    private def paethPredictor(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val pa = math.abs(p - a)
      val pb = math.abs(p - b)
      val pc = math.abs(p - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }

    private def be32(p: Array[Byte], off: Int): Int =
      ((p(off) & 0xff) << 24) | ((p(off + 1) & 0xff) << 16) |
        ((p(off + 2) & 0xff) << 8) | (p(off + 3) & 0xff)

    def decodeBatch(batch: Seq[(Long, Array[Byte])]): Seq[PngStats] =
      batch.map { case (id, p) => decodeOne(id, p) }

    def decodeOne(id: Long, p: Array[Byte]): PngStats = {
      require(p.length > 8 &&
        java.util.Arrays.equals(
          java.util.Arrays.copyOf(p, 8), PngFixture.Signature),
        s"asset $id: not a PNG")
      var o = 8
      var w = -1
      var h = -1
      val idat = new java.io.ByteArrayOutputStream()
      var ended = false
      while (!ended) {
        require(o + 12 <= p.length, s"asset $id: truncated chunk stream")
        val len = be32(p, o)
        val tpe = new String(p, o + 4, 4, "US-ASCII")
        require(o + 12 + len <= p.length, s"asset $id: truncated $tpe chunk")
        val crc = new java.util.zip.CRC32
        crc.update(p, o + 4, 4 + len)
        require(crc.getValue.toInt == be32(p, o + 8 + len),
          s"asset $id: CRC mismatch in $tpe chunk")
        tpe match {
          case "IHDR" =>
            w = be32(p, o + 8)
            h = be32(p, o + 12)
            require((p(o + 16) & 0xff) == 8, s"asset $id: only 8-bit depth")
            require((p(o + 17) & 0xff) == 0, s"asset $id: only grayscale")
            require((p(o + 18) & 0xff) == 0 && (p(o + 19) & 0xff) == 0
              && (p(o + 20) & 0xff) == 0,
              s"asset $id: only deflate/adaptive/non-interlaced")
          case "IDAT" =>
            require(w > 0, s"asset $id: IDAT before IHDR")
            idat.write(p, o + 8, len)
          case "IEND" => ended = true
          case _ => () // ancillary chunk (tEXt and friends): skip
        }
        o += 12 + len
      }
      require(w > 0 && h > 0, s"asset $id: missing IHDR")
      val z = idat.toByteArray
      val inf = new java.util.zip.Inflater()
      inf.setInput(z)
      val scan = new Array[Byte](h * (1 + w))
      var got = 0
      while (got < scan.length && !inf.finished()) {
        val n = inf.inflate(scan, got, scan.length - got)
        require(n > 0 || inf.finished(),
          s"asset $id: truncated zlib stream in IDAT")
        got += n
      }
      inf.end()
      require(got == scan.length,
        s"asset $id: inflated ${got} of ${scan.length} scanline bytes")
      var sumV = 0L
      var xMom = 0L
      var yMom = 0L
      val prev = new Array[Int](w)
      var y = 0
      while (y < h) {
        val rowOff = y * (1 + w)
        val f = scan(rowOff) & 0xff
        var left = 0
        var upLeft = 0
        var x = 0
        while (x < w) {
          val filt = scan(rowOff + 1 + x) & 0xff
          val up = prev(x) // 0 on row 0: the spec's virtual zero row
          val cur = f match {
            case 0 => filt
            case 1 => (filt + left) & 0xff
            case 2 => (filt + up) & 0xff
            case 3 => (filt + (left + up) / 2) & 0xff
            case 4 => (filt + paethPredictor(left, up, upLeft)) & 0xff
            case other => throw new IllegalArgumentException(
              s"asset $id: unsupported PNG filter $other")
          }
          sumV += cur
          xMom += (x + 1).toLong * cur
          yMom += (y + 1).toLong * cur
          upLeft = up
          left = cur
          prev(x) = cur
          x += 1
        }
        y += 1
      }
      PngStats(id, w.toLong, h.toLong, w.toLong * h, sumV, xMom, yMom)
    }
  }

  /** Deterministic WAV FIXTURE — the audio twin of [[BmpFixture]]:
    * each doc_id maps to a closed-form RIFF/WAVE container (PCM16 LE,
    * mono or stereo by parity, 8 kHz) with a planted +20000 loudness
    * burst on channel 0 over the last 8 frames. Odd doc_ids carry a
    * LIST chunk between fmt and data, so the data chunk is NOT at the
    * fixed offset 44 — a parser that skips chunk-walking (the classic
    * naive-WAV bug) breaks half the corpus. Public format facts only
    * (the RIFF layout is published in every audio reference). */
  private[graft] object WavFixture {
    def channels(d: Long): Int = 1 + (d % 2).toInt
    def frames(d: Long): Int = 32 + (d % 33).toInt      // [32, 64]
    def burstStart(d: Long): Int = frames(d) - 8
    /** Base sample in [−1000, 1000]; channel formulas differ and the
      * burst rides channel 0 only, so interleave/channel misparses
      * shift the stats. */
    def sample(d: Long, i: Int, c: Int): Int = {
      val base = ((d * 31 + i * 17 + c * 7) % 2001).toInt - 1000
      base + (if (c == 0 && i >= burstStart(d)) 20000 else 0)
    }

    def encode(d: Long): Array[Byte] =
      encodeWith(d, channels(d), frames(d), (i, c) => sample(d, i, c))

    /** Container assembly alone, sample values injected — the tone
      * fixture reuses the byte layout (incl. the odd-id LIST chunk
      * the parser must walk past) with its own signal. */
    private[operators] def encodeWith(d: Long, nc: Int, n: Int,
        sample: (Int, Int) => Int): Array[Byte] = {
      val dataBytes = n * nc * 2
      val listChunk = if (d % 2 == 1) 8 + 6 else 0 // "LIST" + size + 6 B
      val riffSize = 4 + 24 + listChunk + 8 + dataBytes
      val bb = java.nio.ByteBuffer.allocate(8 + riffSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(riffSize)
        .put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1)                                  // PCM
        .putShort(nc.toShort)
        .putInt(8000)                                 // sample rate
        .putInt(8000 * nc * 2)                        // byte rate
        .putShort((nc * 2).toShort)                   // block align
        .putShort(16)                                 // bits per sample
      if (d % 2 == 1) {
        // An unknown chunk the decoder must WALK PAST (even length —
        // the RIFF odd-size pad rule is exercised by the size field
        // arithmetic either way).
        bb.put("LIST".getBytes("US-ASCII")).putInt(6)
          .put("INFOxy".getBytes("US-ASCII"))
      }
      bb.put("data".getBytes("US-ASCII")).putInt(dataBytes)
      var i = 0
      while (i < n) {
        var c = 0
        while (c < nc) { bb.putShort(sample(i, c).toShort); c += 1 }
        i += 1
      }
      bb.array()
    }
  }

  /** Per-asset decoded-PCM statistics (exact BIGINTs). `sum_ch1` is 0
    * for mono; `moment` = Σ (i+1)·s(i, ch0) catches frame-order
    * misparse (plain sums are order-invariant); `burst_start` = first
    * frame with |s(i, ch0)| > 10000 recovers the planted loudness
    * onset, pinning frame/channel deinterleaving. */
  private[graft] final case class WavStats(
      doc_id: Long, n_channels: Long, n_frames: Long, sample_rate: Long,
      sum_ch0: Long, sum_ch1: Long, abs_sum_ch0: Long, moment: Long,
      burst_start: Long)

  /** The REAL audio decoder behind the batch seam: parses the RIFF
    * container from its published byte layout — RIFF/WAVE magics,
    * little-endian chunk walk (unknown chunks skipped, odd sizes
    * padded), fmt fields (PCM, channels, rate, 16-bit), interleaved
    * PCM16 frames — and emits per-asset statistics. Offset/stride
    * arithmetic only; no audio library. */
  private[graft] object WavDecoder {
    import LittleEndian.{le16, le32}
    private def s16(p: Array[Byte], off: Int): Int = le16(p, off).toShort.toInt
    private def tag(p: Array[Byte], off: Int): String =
      new String(p, off, 4, "US-ASCII")

    def decodeBatch(batch: Seq[(Long, Array[Byte])]): Seq[WavStats] =
      batch.map { case (id, p) => decodeOne(id, p) }

    /** The chunk walk alone: (channels, rate, dataOff, dataLen) — the
      * container grammar shared by every PCM face (stats, tone). */
    private[operators] def parseHeader(id: Long, p: Array[Byte])
        : (Int, Int, Int, Int) = {
      require(tag(p, 0) == "RIFF" && tag(p, 8) == "WAVE",
        s"asset $id: not a RIFF/WAVE container")
      var off = 12
      var nc = -1; var rate = -1; var bits = -1
      var dataOff = -1; var dataLen = -1
      while (off + 8 <= p.length && (nc < 0 || dataOff < 0)) {
        val ck = tag(p, off)
        val len = le32(p, off + 4)
        ck match {
          case "fmt " =>
            require(le16(p, off + 8) == 1, s"asset $id: only PCM supported")
            nc = le16(p, off + 10)
            rate = le32(p, off + 12)
            bits = le16(p, off + 22)
            require(bits == 16, s"asset $id: only 16-bit supported")
          case "data" =>
            dataOff = off + 8
            dataLen = len
          case _ => () // unknown chunk: walk past
        }
        off += 8 + len + (len & 1) // RIFF pads odd chunk sizes
      }
      require(nc > 0 && dataOff >= 0, s"asset $id: fmt/data chunk missing")
      (nc, rate, dataOff, dataLen)
    }

    /** Signed 16-bit LE sample at a byte offset (shared with the
      * tone face). */
    private[operators] def sampleAt(p: Array[Byte], off: Int): Int = s16(p, off)

    def decodeOne(id: Long, p: Array[Byte]): WavStats = {
      val (nc, rate, dataOff, dataLen) = parseHeader(id, p)
      val n = dataLen / (nc * 2)
      var sum0 = 0L; var sum1 = 0L; var abs0 = 0L; var mom = 0L
      var burst = -1L
      var i = 0
      while (i < n) {
        val base = dataOff + i * nc * 2
        val v0 = s16(p, base)
        sum0 += v0
        abs0 += math.abs(v0)
        mom += (i + 1).toLong * v0
        if (burst < 0 && math.abs(v0) > 10000) burst = i.toLong
        if (nc > 1) sum1 += s16(p, base + 2)
        i += 1
      }
      WavStats(id, nc.toLong, n.toLong, rate.toLong,
        sum0, sum1, abs0, mom, burst)
    }
  }

  /** Tone assets: mono PCM16 with a square wave of period 4/8/16
    * frames (by doc_id % 3) at amplitude 6000 riding the ±1000
    * texture — same RIFF layout as [[WavFixture]] (odd ids keep the
    * LIST chunk, so the parser still genuinely chunk-walks).
    * n ∈ [48, 64] frames makes the matched-filter argmax provably
    * unique: the true-period correlation is ≥ 6000n − 1000n = 5000n,
    * while any other candidate collects at most one incomplete
    * cross-period cycle (≤ 6000·16) plus the texture bound 1000n —
    * 5000n > 96000 + 1000n for every n ≥ 48 (square waves at
    * period P and 2P are orthogonal over complete cycles). */
  private[graft] object ToneWavFixture {
    def period(d: Long): Int = 4 << (d % 3).toInt            // {4, 8, 16}
    def frames(d: Long): Int = 48 + (d % 17).toInt           // [48, 64]
    def sq(i: Int, p: Int): Int = if ((i / (p / 2)) % 2 == 0) 1 else -1
    def sample(d: Long, i: Int): Int =
      (((d * 31 + i * 17) % 2001).toInt - 1000) + 6000 * sq(i, period(d))
    def encode(d: Long): Array[Byte] =
      WavFixture.encodeWith(d, 1, frames(d), (i, _) => sample(d, i))
  }

  /** Matched-filter correlations (exact BIGINT Σ s_i·sq_P(i)) at the
    * three candidate periods plus the argmax (ties to the shortest
    * period — unreachable by the fixture margin, pinned anyway). */
  private[graft] final case class ToneStats(
      doc_id: Long, n_frames: Long, corr4: Long, corr8: Long, corr16: Long,
      period_hat: Long)

  /** Pitch-class detection over the decoded PCM: the same chunk walk
    * as [[WavDecoder]], then one pass correlating against ±1 square
    * templates — the integer matched filter a real pipeline runs as
    * a DFT bin. Offset/stride arithmetic only; no audio library. */
  private[graft] object ToneDecoder {
    def decodeBatch(batch: Seq[(Long, Array[Byte])]): Seq[ToneStats] =
      batch.map { case (id, p) => decodeOne(id, p) }

    def decodeOne(id: Long, p: Array[Byte]): ToneStats = {
      val (nc, _, dataOff, dataLen) = WavDecoder.parseHeader(id, p)
      require(nc == 1, s"asset $id: tone assets are mono")
      val n = dataLen / 2
      var c4 = 0L; var c8 = 0L; var c16 = 0L
      var i = 0
      while (i < n) {
        val v = WavDecoder.sampleAt(p, dataOff + i * 2).toLong
        c4 += v * ToneWavFixture.sq(i, 4)
        c8 += v * ToneWavFixture.sq(i, 8)
        c16 += v * ToneWavFixture.sq(i, 16)
        i += 1
      }
      val hat = Seq((4L, c4), (8L, c8), (16L, c16))
        .sortBy { case (per, c) => (-c, per) }.head._1
      ToneStats(id, n.toLong, c4, c8, c16, hat)
    }
  }

  val all: Seq[Q] = Seq(
    Q(
      "q_multimodal_batch",
      "batched stub-decode over opaque binary payloads: explicit mod-N " +
        "partitioner + in-partition key sort makes batch membership " +
        "deterministic; decoder sees fixed-size batches via " +
        "mapPartitions (the mapInPandas/Arrow shape); features are " +
        "(n_bytes, md5-60bit digest) where pixels would be",
      Some(
        s"""SELECT doc_id,
           |  CAST(doc_id % $NumParts AS BIGINT) AS part_id,
           |  CAST(floor((row_number() OVER (PARTITION BY doc_id % $NumParts
           |        ORDER BY doc_id) - 1) / $BatchSize) AS BIGINT) AS batch_seq,
           |  CAST(strlen(text) AS BIGINT) AS n_bytes,
           |  CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS digest
           |FROM documents
           |ORDER BY doc_id""".stripMargin),
    ) { (s, dir) =>
      import s.implicits._
      val payloads = Tables.documents(s, dir)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        .as[(Long, Array[Byte])].rdd
      val decoded = decodedBatches(payloads, StubDecoder.decodeBatch)
        .map { case (part, bi, (id, n, digest)) => (id, part, bi, n, digest) }
      s.createDataset(decoded)
        .toDF("doc_id", "part_id", "batch_seq", "n_bytes", "digest")
        .orderBy("doc_id")
    },

    Q(
      "q_image_decode",
      "the REAL decoder behind the q_multimodal_batch seam — the stub " +
        "retired on an actual container format: deterministic 24bpp " +
        "BMPs (public byte layout: LE header fields, 4-byte-padded " +
        "stride — widths 5/6/7 genuinely pad — bottom-up rows, BGR " +
        "order) are salted per doc_id (the q_pii_scrub closed-form " +
        "convention), batched through the IDENTICAL placement/order/" +
        "batch pipeline (decodedBatches — one function value swapped, " +
        "BmpSwapSpec pins batch membership unchanged), and parsed by " +
        "offset/stride arithmetic into exact-BIGINT pixel statistics: " +
        "per-channel sums, a y-weighted moment (catches top-down " +
        "misparse — plain sums are row-order invariant), and the " +
        "planted red-channel edge recovered as the argmax adjacent-" +
        "column jump (≥163·H at the edge vs ≤37·H of texture — " +
        "provably unique). The oracle recomputes every statistic from " +
        "the closed form, so stride/offset/channel/row-order bugs all " +
        "break the hash. At 100 TB this is the production shape: " +
        "decode cost rides map-side in payload-pruned batches, only " +
        "KB-sized stats ever shuffle",
      Some(
        s"""WITH a AS (
           |  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h,
           |    1 + doc_id % (3 + doc_id % 5) AS edge
           |  FROM documents WHERE doc_id < $BmpAssets
           |)
           |SELECT doc_id,
           |  CAST(doc_id % $NumParts AS BIGINT) AS part_id,
           |  CAST(floor((row_number() OVER (PARTITION BY doc_id % $NumParts
           |        ORDER BY doc_id) - 1) / $BatchSize) AS BIGINT) AS batch_seq,
           |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           |  CAST(w * h AS BIGINT) AS n_pixels,
           |  CAST(list_sum(list_transform(range(w * h),
           |    i -> (doc_id + 3 * (i % w) + 7 * (i // w)) % 256)) AS BIGINT)
           |    AS sum_b,
           |  CAST(list_sum(list_transform(range(w * h),
           |    i -> (2 * doc_id + 5 * (i % w) + 11 * (i // w)) % 256)) AS BIGINT)
           |    AS sum_g,
           |  CAST(list_sum(list_transform(range(w * h),
           |    i -> (3 * doc_id + 13 * (i % w) + 17 * (i // w)) % 50
           |         + CASE WHEN i % w >= edge THEN 200 ELSE 0 END)) AS BIGINT)
           |    AS sum_r,
           |  CAST(list_sum(list_transform(range(w * h),
           |    i -> ((i // w) + 1) * ((doc_id + 3 * (i % w) + 7 * (i // w)) % 256)))
           |    AS BIGINT) AS y_moment,
           |  CAST(edge AS BIGINT) AS edge_x
           |FROM a ORDER BY doc_id""".stripMargin),
    ) { (s, dir) =>
      import s.implicits._
      // Salt the BMP payloads (fixture synthesis, executor-side); the
      // operator under test is everything after this line.
      val payloads = Tables.documents(s, dir)
        .filter(col("doc_id") < BmpAssets)
        .select(col("doc_id")).as[Long].rdd
        .map(id => (id, BmpFixture.encode(id)))
      val decoded = decodedBatches(payloads, BmpDecoder.decodeBatch)
        .map { case (part, bi, st) =>
          (st.doc_id, part, bi, st.width, st.height, st.n_pixels,
            st.sum_b, st.sum_g, st.sum_r, st.y_moment, st.edge_x)
        }
      s.createDataset(decoded)
        .toDF("doc_id", "part_id", "batch_seq", "width", "height",
          "n_pixels", "sum_b", "sum_g", "sum_r", "y_moment", "edge_x")
        .orderBy("doc_id")
    },

    Q(
      "q_image_rle",
      "a COMPRESSED codec behind the same decode seam — BI_RLE8 BMP " +
        "(public run-length layout: encoded runs, absolute-mode " +
        "literals with 2-byte alignment, delta cursor skips, EOL/EOB " +
        "escapes, 256-entry BGRA palette at a 1078-byte data offset). " +
        "Raw BMP and WAV prove the seam on headered formats; RLE8 " +
        "proves the property compressed containers actually stress: " +
        "VARIABLE-LENGTH decode, where each pixel's position depends " +
        "on every byte consumed before it. The fixture exercises " +
        "every published control path per row (run, odd-length " +
        "absolute segment forcing the pad byte, delta-skipped pixels " +
        "decoding as background 0, early EOB on the top row), and " +
        "the decoded grid keeps a pure closed form the oracle " +
        "recomputes from doc_id — run-length, padding, delta, " +
        "row-order or palette misparses all break the hash. " +
        "RleBmpSpec pins the decoder against a hand-laid byte " +
        "literal (delta with dy > 0 included) plus the fixture " +
        "roundtrip. At 100 TB: same q_image_decode economics — " +
        "decode rides map-side in payload-pruned batches, only stats " +
        "shuffle; variable-length formats decode row-local with no " +
        "global offset table, so the batch seam needs nothing new",
      Some(
        s"""WITH a AS (
           |  SELECT doc_id, 8 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
           |  FROM documents WHERE doc_id < $BmpAssets
           |), px AS (
           |  SELECT doc_id, w, h,
           |    list_transform(range(w * h), i ->
           |      CASE WHEN i // w = 0 THEN
           |        CASE WHEN i % w < 1 + doc_id % (w - 6)
           |             THEN doc_id % 256 ELSE 0 END
           |      WHEN i % w < 1 + (doc_id + 3 * (i // w)) % (w - 6)
           |        THEN (doc_id + 7 * (i // w)) % 256
           |      WHEN i % w < 1 + (doc_id + 3 * (i // w)) % (w - 6)
           |                   + 3 + (i // w) % 2
           |        THEN (3 * doc_id + 5 * (i % w) + 11 * (i // w)) % 256
           |      WHEN (i // w) % 2 = 0 THEN (2 * doc_id + 13 * (i // w)) % 256
           |      ELSE 0 END) AS pix
           |  FROM a
           |)
           |SELECT doc_id,
           |  CAST(doc_id % $NumParts AS BIGINT) AS part_id,
           |  CAST(floor((row_number() OVER (PARTITION BY doc_id % $NumParts
           |        ORDER BY doc_id) - 1) / $BatchSize) AS BIGINT) AS batch_seq,
           |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           |  CAST(w * h AS BIGINT) AS n_pixels,
           |  CAST(list_sum(pix) AS BIGINT) AS sum_idx,
           |  CAST(list_sum(list_transform(pix, q -> (doc_id + 2 * q) % 256))
           |    AS BIGINT) AS sum_b,
           |  CAST(list_sum(list_transform(pix, q -> (2 * doc_id + 3 * q) % 256))
           |    AS BIGINT) AS sum_g,
           |  CAST(list_sum(list_transform(pix, q -> (3 * doc_id + 5 * q) % 256))
           |    AS BIGINT) AS sum_r,
           |  CAST(list_sum(list_transform(range(w * h),
           |    i -> ((i // w) + 1) * pix[i + 1])) AS BIGINT) AS y_moment
           |FROM px ORDER BY doc_id""".stripMargin),
    ) { (s, dir) =>
      import s.implicits._
      // Salt the RLE8 payloads (fixture synthesis, executor-side); the
      // operator under test is everything after this line.
      val payloads = Tables.documents(s, dir)
        .filter(col("doc_id") < BmpAssets)
        .select(col("doc_id")).as[Long].rdd
        .map(id => (id, RleFixture.encode(id)))
      val decoded = decodedBatches(payloads, RleDecoder.decodeBatch)
        .map { case (part, bi, st) =>
          (st.doc_id, part, bi, st.width, st.height, st.n_pixels,
            st.sum_idx, st.sum_b, st.sum_g, st.sum_r, st.y_moment)
        }
      s.createDataset(decoded)
        .toDF("doc_id", "part_id", "batch_seq", "width", "height",
          "n_pixels", "sum_idx", "sum_b", "sum_g", "sum_r", "y_moment")
        .orderBy("doc_id")
    },

    Q(
      "q_image_png",
      "an ENTROPY-CODED container behind the same decode seam — " +
        "grayscale PNG (public layout: signed 8-byte magic; " +
        "big-endian length-type-data-CRC32 chunks; IHDR; IDAT " +
        "carrying a ZLIB/DEFLATE stream of per-row-filtered " +
        "scanlines; IEND). RLE8 proved variable-length decode; PNG " +
        "proves the step real corpora actually arrive in: a " +
        "Huffman-coded DEFLATE member, inflated with the public JDK " +
        "Inflater, then per-row filter reconstruction over the FULL " +
        "RFC 2083 filter set (None/Sub/Up/Average/Paeth, cycling by " +
        "row — every asset exercises the first three, heights >= 4 " +
        "add Average, >= 5 add Paeth). " +
        "The fixture stresses the published invariants naive parsers " +
        "skip: an ancillary tEXt chunk BEFORE the image data, the " +
        "zlib stream SPLIT ACROSS TWO IDAT chunks (the spec requires " +
        "concatenation before inflating), and every chunk CRC32 " +
        "verified — corruption fails loudly, the format's own " +
        "integrity contract. Filters are exact integer arithmetic, " +
        "so the decoded grid keeps a closed form the oracle " +
        "recomputes from doc_id; x/y moments catch Sub/Up " +
        "reconstruction bugs that plain sums cancel. PngSpec pins a " +
        "HAND-LAID byte literal (stored-block zlib spelled out by " +
        "hand, two IDATs, all five filters with the Paeth data " +
        "bytes hand-computed across all three predictor branches, " +
        "a corrupted-CRC rejection) plus the fixture roundtrip. " +
        "At 100 TB: same " +
        "seam economics — inflate+reconstruct ride map-side in " +
        "payload-pruned batches, only KB stats shuffle; DEFLATE " +
        "members are asset-local, so no cross-row state exists to " +
        "shuffle in the first place",
      Some(
        s"""WITH a AS (
           |  SELECT doc_id, 5 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
           |  FROM documents WHERE doc_id < $BmpAssets
           |)
           |SELECT doc_id,
           |  CAST(doc_id % $NumParts AS BIGINT) AS part_id,
           |  CAST(floor((row_number() OVER (PARTITION BY doc_id % $NumParts
           |        ORDER BY doc_id) - 1) / $BatchSize) AS BIGINT) AS batch_seq,
           |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           |  CAST(w * h AS BIGINT) AS n_pixels,
           |  CAST(list_sum(list_transform(range(w * h),
           |    i -> (doc_id + 3 * (i % w) + 7 * (i // w)) % 256)) AS BIGINT)
           |    AS sum_v,
           |  CAST(list_sum(list_transform(range(w * h),
           |    i -> ((i % w) + 1) * ((doc_id + 3 * (i % w) + 7 * (i // w)) % 256)))
           |    AS BIGINT) AS x_moment,
           |  CAST(list_sum(list_transform(range(w * h),
           |    i -> ((i // w) + 1) * ((doc_id + 3 * (i % w) + 7 * (i // w)) % 256)))
           |    AS BIGINT) AS y_moment
           |FROM a ORDER BY doc_id""".stripMargin),
    ) { (s, dir) =>
      import s.implicits._
      // Salt the PNG payloads (fixture synthesis, executor-side); the
      // operator under test is everything after this line.
      val payloads = Tables.documents(s, dir)
        .filter(col("doc_id") < BmpAssets)
        .select(col("doc_id")).as[Long].rdd
        .map(id => (id, PngFixture.encode(id)))
      val decoded = decodedBatches(payloads, PngDecoder.decodeBatch)
        .map { case (part, bi, st) =>
          (st.doc_id, part, bi, st.width, st.height, st.n_pixels,
            st.sum_v, st.x_moment, st.y_moment)
        }
      s.createDataset(decoded)
        .toDF("doc_id", "part_id", "batch_seq", "width", "height",
          "n_pixels", "sum_v", "x_moment", "y_moment")
        .orderBy("doc_id")
    },

    Q(
      "q_audio_decode",
      "the REAL audio decoder behind the same batch seam — the BMP " +
        "contract on the other media type: deterministic RIFF/WAVE " +
        "containers (PCM16 LE, mono/stereo by doc parity, 8 kHz; odd " +
        "doc_ids carry a LIST chunk between fmt and data, so the " +
        "data chunk is NOT at the naive fixed offset 44 and the " +
        "parser must genuinely chunk-walk — magics, LE sizes, " +
        "odd-size padding, unknown-chunk skip) are salted per doc_id " +
        "and parsed by offset/stride arithmetic into exact-BIGINT " +
        "PCM statistics: per-channel sums (channel formulas differ — " +
        "interleave misparse shifts them), an |s| sum, a frame-" +
        "weighted moment (catches frame-order misparse), and the " +
        "planted +20000 loudness burst recovered as the first frame " +
        "with |s| > 10000 (base texture is ±1000, so the threshold " +
        "is clean by construction). Same decodedBatches pipeline, " +
        "third decoder behind the one seam; the oracle recomputes " +
        "every statistic from the closed form. At 100 TB: decode " +
        "rides map-side in payload-pruned batches, only KB stats " +
        "shuffle",
      Some(
        s"""SELECT doc_id,
           |  CAST(doc_id % $NumParts AS BIGINT) AS part_id,
           |  CAST(floor((row_number() OVER (PARTITION BY doc_id % $NumParts
           |        ORDER BY doc_id) - 1) / $BatchSize) AS BIGINT) AS batch_seq,
           |  CAST(1 + doc_id % 2 AS BIGINT) AS n_channels,
           |  CAST(32 + doc_id % 33 AS BIGINT) AS n_frames,
           |  CAST(8000 AS BIGINT) AS sample_rate,
           |  CAST(list_sum(list_transform(range(32 + doc_id % 33),
           |    i -> (doc_id * 31 + i * 17) % 2001 - 1000
           |      + CASE WHEN i >= 24 + doc_id % 33 THEN 20000 ELSE 0 END))
           |    AS BIGINT) AS sum_ch0,
           |  CAST(CASE WHEN doc_id % 2 = 1 THEN list_sum(list_transform(
           |      range(32 + doc_id % 33),
           |      i -> (doc_id * 31 + i * 17 + 7) % 2001 - 1000))
           |    ELSE 0 END AS BIGINT) AS sum_ch1,
           |  CAST(list_sum(list_transform(range(32 + doc_id % 33),
           |    i -> abs((doc_id * 31 + i * 17) % 2001 - 1000
           |      + CASE WHEN i >= 24 + doc_id % 33 THEN 20000 ELSE 0 END)))
           |    AS BIGINT) AS abs_sum_ch0,
           |  CAST(list_sum(list_transform(range(32 + doc_id % 33),
           |    i -> (i + 1) * ((doc_id * 31 + i * 17) % 2001 - 1000
           |      + CASE WHEN i >= 24 + doc_id % 33 THEN 20000 ELSE 0 END)))
           |    AS BIGINT) AS moment,
           |  CAST(24 + doc_id % 33 AS BIGINT) AS burst_start
           |FROM documents WHERE doc_id < $WavAssets
           |ORDER BY doc_id""".stripMargin),
    ) { (s, dir) =>
      import s.implicits._
      val payloads = Tables.documents(s, dir)
        .filter(col("doc_id") < WavAssets)
        .select(col("doc_id")).as[Long].rdd
        .map(id => (id, WavFixture.encode(id)))
      val decoded = decodedBatches(payloads, WavDecoder.decodeBatch)
        .map { case (part, bi, st) =>
          (st.doc_id, part, bi, st.n_channels, st.n_frames, st.sample_rate,
            st.sum_ch0, st.sum_ch1, st.abs_sum_ch0, st.moment,
            st.burst_start)
        }
      s.createDataset(decoded)
        .toDF("doc_id", "part_id", "batch_seq", "n_channels", "n_frames",
          "sample_rate", "sum_ch0", "sum_ch1", "abs_sum_ch0", "moment",
          "burst_start")
        .orderBy("doc_id")
    },

    Q(
      "q_audio_tone",
      "pitch-class detection over decoded PCM — the spectral-feature " +
        "face of the real audio decoder: mono RIFF/WAVE assets carry " +
        "a planted square tone (period 4/8/16 frames, amplitude 6000 " +
        "over ±1000 texture; odd ids still interleave the LIST chunk " +
        "so the parser genuinely chunk-walks), and the decoder " +
        "correlates the samples against ±1 square templates at the " +
        "three candidate periods — the integer matched filter a real " +
        "pipeline runs as a DFT bin (Goertzel without the libm). The " +
        "argmax is PROVABLY unique by fixture margin (true-period " +
        "correlation ≥ 5000n vs ≤ 96000 + 1000n elsewhere, n ≥ 48 — " +
        "square waves at P and 2P are orthogonal over complete " +
        "cycles), ties pinned to the shortest period anyway. Exact " +
        "BIGINT correlations; the oracle recomputes all three from " +
        "the closed form, so a frame-order or sign misparse breaks " +
        "the hash. Same decodedBatches placement/order/batch " +
        "pipeline — at 100 TB feature extraction rides map-side in " +
        "payload-pruned batches, only the per-asset feature row " +
        "shuffles",
      Some(
        s"""WITH a AS (
           |  SELECT doc_id,
           |    CASE doc_id % 3 WHEN 0 THEN 4 WHEN 1 THEN 8 ELSE 16 END AS p,
           |    48 + doc_id % 17 AS n
           |  FROM documents WHERE doc_id < $ToneAssets
           |), c AS (
           |  SELECT doc_id, n,
           |    CAST(list_sum(list_transform(range(n), i ->
           |      ((doc_id * 31 + i * 17) % 2001 - 1000
           |        + 6000 * (CASE WHEN (i // (p // 2)) % 2 = 0
           |                  THEN 1 ELSE -1 END))
           |      * (CASE WHEN (i // 2) % 2 = 0 THEN 1 ELSE -1 END)))
           |      AS BIGINT) AS corr4,
           |    CAST(list_sum(list_transform(range(n), i ->
           |      ((doc_id * 31 + i * 17) % 2001 - 1000
           |        + 6000 * (CASE WHEN (i // (p // 2)) % 2 = 0
           |                  THEN 1 ELSE -1 END))
           |      * (CASE WHEN (i // 4) % 2 = 0 THEN 1 ELSE -1 END)))
           |      AS BIGINT) AS corr8,
           |    CAST(list_sum(list_transform(range(n), i ->
           |      ((doc_id * 31 + i * 17) % 2001 - 1000
           |        + 6000 * (CASE WHEN (i // (p // 2)) % 2 = 0
           |                  THEN 1 ELSE -1 END))
           |      * (CASE WHEN (i // 8) % 2 = 0 THEN 1 ELSE -1 END)))
           |      AS BIGINT) AS corr16
           |  FROM a
           |)
           |SELECT doc_id,
           |  CAST(doc_id % $NumParts AS BIGINT) AS part_id,
           |  CAST(floor((row_number() OVER (PARTITION BY doc_id % $NumParts
           |        ORDER BY doc_id) - 1) / $BatchSize) AS BIGINT) AS batch_seq,
           |  CAST(n AS BIGINT) AS n_frames, corr4, corr8, corr16,
           |  CAST(CASE WHEN corr4 >= corr8 AND corr4 >= corr16 THEN 4
           |       WHEN corr8 >= corr16 THEN 8 ELSE 16 END AS BIGINT)
           |    AS period_hat
           |FROM c ORDER BY doc_id""".stripMargin),
    ) { (s, dir) =>
      import s.implicits._
      val payloads = Tables.documents(s, dir)
        .filter(col("doc_id") < ToneAssets)
        .select(col("doc_id")).as[Long].rdd
        .map(id => (id, ToneWavFixture.encode(id)))
      val decoded = decodedBatches(payloads, ToneDecoder.decodeBatch)
        .map { case (part, bi, st) =>
          (st.doc_id, part, bi, st.n_frames, st.corr4, st.corr8, st.corr16,
            st.period_hat)
        }
      s.createDataset(decoded)
        .toDF("doc_id", "part_id", "batch_seq", "n_frames", "corr4", "corr8",
          "corr16", "period_hat")
        .orderBy("doc_id")
    },

    Q(
      "q_payload_resize",
      "resize to a fixed-size representation: stride-sample the payload " +
        "byte stream down to ≤32 'pixels' (a real pipeline bilinearly " +
        "resizes decoded images to a fixed resolution; the fixed OUTPUT " +
        "size is the property that matters for downstream batching) — " +
        "pure per-row expression work",
      Some(
        """SELECT doc_id,
          |  CAST(strlen(text) AS BIGINT) AS n_bytes,
          |  thumb,
          |  CAST(strlen(thumb) AS BIGINT) AS n_out
          |FROM (
          |  SELECT doc_id, text,
          |    array_to_string(list_transform(
          |      list_filter(range(32), i -> i * CAST(ceil(strlen(text)/32.0) AS BIGINT) < strlen(text)),
          |      i -> substr(text, CAST(i * CAST(ceil(strlen(text)/32.0) AS BIGINT) + 1 AS INTEGER), 1)), '') AS thumb
          |  FROM documents)
          |ORDER BY doc_id""".stripMargin),
    ) { (s, dir) =>
      val len = length(col("text"))
      val stride = ceil(len / 32.0).cast("long")
      val thumb = array_join(transform(
        filter(sequence(lit(0L), lit(31L)), i => i * stride < len),
        i => col("text").substr((i * stride + 1).cast("int"), lit(1))), "")
      Tables.documents(s, dir).select(
        col("doc_id"),
        len.cast("long").as("n_bytes"),
        thumb.as("thumb"),
        length(thumb).cast("long").as("n_out"),
      ).orderBy("doc_id")
    },

    Q(
      "q_frame_sample",
      "frame sampling over the payload byte stream: every 16th byte is " +
        "a 'frame' (a real pipeline samples every k-th video frame) — " +
        "pure per-row expression work, payload column pruned at the " +
        "scan when not selected",
      Some(
        """SELECT doc_id,
          |  CAST(ceil(strlen(text) / 16.0) AS BIGINT) AS n_frames,
          |  array_to_string(list_transform(
          |    range(CAST(ceil(strlen(text) / 16.0) AS BIGINT)),
          |    i -> substr(text, CAST(i*16+1 AS INTEGER), 1)), '') AS thumbnail
          |FROM documents ORDER BY doc_id""".stripMargin),
    ) { (s, dir) =>
      val nFrames = ceil(length(col("text")) / 16.0).cast("long")
      Tables.documents(s, dir).select(
        col("doc_id"),
        nFrames.as("n_frames"),
        array_join(transform(
          sequence(lit(0L), nFrames - 1),
          i => col("text").substr((i * 16 + 1).cast("int"), lit(1))), "").as("thumbnail"),
      ).orderBy("doc_id")
    },

    Q(
      "q_shot_boundary",
      "shot-boundary detection over the sampled frame stream: each " +
        "16-byte payload window is a 'frame', its intensity the exact " +
        "integer byte sum (a real pipeline's per-frame luma mean — " +
        "the decode is the stub, the dataflow is real); a boundary " +
        "fires where the frame-to-frame intensity delta exceeds 2× " +
        "the asset's mean delta, the classic adaptive-threshold cut " +
        "detector. Everything — framing, intensities, deltas, the " +
        "threshold test — is per-row ARRAY expression work in exact " +
        "BIGINT arithmetic (threshold as d·cnt > 2·Σd, no division): " +
        "zero shuffles before the output sort, the q_winnow class, " +
        "so at 100 TB it scans payload bytes once and moves only " +
        "(doc_id, counts)",
      Some(
        """WITH f AS (
          |  SELECT doc_id,
          |    list_transform(range(CAST(ceil(strlen(text) / 16.0) AS BIGINT)),
          |      i -> substr(text, CAST(i * 16 + 1 AS INT), 16)) AS frames
          |  FROM documents
          |), it AS (
          |  SELECT doc_id,
          |    list_transform(frames, f -> CAST(list_sum(
          |      list_transform(range(len(f)),
          |        j -> ord(substr(f, CAST(j + 1 AS INT), 1)))) AS BIGINT)) AS ints
          |  FROM f
          |), d AS (
          |  SELECT doc_id, len(ints) AS nf,
          |    list_transform(range(len(ints) - 1),
          |      i -> abs(ints[i + 2] - ints[i + 1])) AS diffs
          |  FROM it
          |)
          |SELECT doc_id, CAST(nf AS BIGINT) AS n_frames,
          |  CAST(1 + len(list_filter(diffs,
          |    x -> x * len(diffs) > 2 * list_sum(diffs))) AS BIGINT) AS n_shots
          |FROM d ORDER BY doc_id""".stripMargin),
    ) { (s, dir) =>
      shotBoundaries(Tables.documents(s, dir)).orderBy("doc_id")
    },

    Q(
      "q_binary_ingest",
      "file-per-asset ingestion via the binaryFile source (the on-disk " +
        "media shape: one image/audio file per asset): payloads written " +
        "as docNNNN.bin by executors, re-listed and read as (path, " +
        "content) binary rows, id parsed from the filename, then " +
        "length + digest verified against the originals. binaryFile " +
        "parallelizes per file; bounded to 500 assets here because a " +
        "file-per-row layout is exactly what you COMPACT away at scale " +
        "— the q_multimodal_batch parquet layout is the destination",
      Some(
        s"""SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
           |  ${graft.functions.Portable.md5Hash60Sql("text")} AS digest
           |FROM documents WHERE doc_id < 500 ORDER BY doc_id""".stripMargin),
    ) { (s, dir) =>
      s.read.format("binaryFile").load(writeAssets(s, dir))
        .select(
          regexp_extract(col("path"), "doc(\\d+)\\.bin$", 1).cast("long").as("doc_id"),
          col("length").as("n_bytes"),
          graft.functions.Portable.md5Hash60(col("content")).as("digest"))
        .orderBy("doc_id")
    },

    Q(
      "q_compact_assets",
      "small-file compaction — the mandatory step between a media " +
        "crawl's file-per-asset output and any analytical scan: the " +
        "500 .bin files are read via binaryFile, compacted into a " +
        "4-file parquet dataset (range-partitioned by doc_id, sorted " +
        "within each file, so downstream scans prune by id range), " +
        "then read back and digest-verified — 4 file opens where the " +
        "raw layout cost 500; same roundtrip oracle as q_binary_ingest " +
        "proves compaction is lossless",
      Some(
        s"""SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
           |  ${graft.functions.Portable.md5Hash60Sql("text")} AS digest
           |FROM documents WHERE doc_id < 500 ORDER BY doc_id""".stripMargin),
    ) { (s, dir) =>
      val compactDir = s"${Scratch.dir()}/compact"
      s.read.format("binaryFile").load(writeAssets(s, dir))
        .select(
          regexp_extract(col("path"), "doc(\\d+)\\.bin$", 1).cast("long").as("doc_id"),
          col("content"))
        .repartitionByRange(4, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(compactDir)
      s.read.parquet(compactDir)
        .select(col("doc_id"),
          octet_length(col("content")).cast("long").as("n_bytes"),
          graft.functions.Portable.md5Hash60(col("content")).as("digest"))
        .orderBy("doc_id")
    },

    Q(
      "q_phash_dup",
      s"perceptual-hash-style near-dup over media payloads: $PhK " +
        "evenly-spaced byte samples per payload → mean-threshold sign " +
        s"bits → a $PhK-bit signature; candidates via a 2×16-bit band " +
        "self-join (only same-band payloads ever meet), verdict = " +
        s"signature hamming ≤ $PhMaxHamming. The sampling step is the " +
        "STUB standing where a real pipeline puts the DCT low-pass of " +
        "the decoded pixels (same 'decode is a stub, plumbing is " +
        "real' contract as q_multimodal_batch); everything around it " +
        "is the production shape — per-row signature (zero shuffle), " +
        "band-keyed candidate join O(collisions) never all-pairs, " +
        "hamming check on 8-byte sigs not payloads. The mean " +
        "threshold divides by the power-of-two sample count, so the " +
        "float compare is dyadic-exact in both engines",
      Some(
        s"""WITH $phashPairsSqlCtes
           |SELECT doc_a, doc_b, hamming FROM pairs
           |ORDER BY doc_a, doc_b""".stripMargin),
    ) { (s, dir) =>
      phashPairs(phashSigs(s, dir)).orderBy("doc_a", "doc_b")
    },

    Q(
      "q_phash_cluster",
      "asset-level near-dup CLUSTERS: connected components over the " +
        "q_phash_dup pair graph (pointer-jumping CC — the O(log " +
        "diameter) GraphOps machinery reused across modules), every " +
        "asset assigned a cluster whose canonical keeper is the min " +
        "doc_id — the DECISION q_phash_dup's pair list only implies: " +
        "which asset do you keep, how many do you drop, per cluster. " +
        "Singleton assets (no near-dup) keep themselves — the grid " +
        "completes, absence of pairs is a verdict too. The oracle is " +
        "the recursive-CTE reachability fixpoint over the same " +
        "pairs, so the driver's hash compare proves the distributed " +
        "CC equals the declarative closure. At 100 TB: pair graph " +
        "is O(band collisions), CC state is node-sized, rounds " +
        "O(log diameter); output bounded by assets",
      Some(
        s"""WITH RECURSIVE $phashPairsSqlCtes, und AS (
           |  SELECT doc_a AS u, doc_b AS v FROM pairs
           |  UNION SELECT doc_b, doc_a FROM pairs
           |), reach(u, t) AS (
           |  SELECT u, v FROM und
           |  UNION
           |  SELECT r.u, e.v FROM reach r JOIN und e ON e.u = r.t
           |), lab AS (
           |  SELECT s.doc_id,
           |    least(s.doc_id, coalesce(min(r.t), s.doc_id)) AS cluster
           |  FROM sig s LEFT JOIN reach r ON r.u = s.doc_id
           |  GROUP BY s.doc_id
           |)
           |SELECT cluster AS keep_doc, CAST(count(*) AS BIGINT) AS n_assets,
           |  CAST(count(*) - 1 AS BIGINT) AS n_dropped
           |FROM lab GROUP BY cluster
           |ORDER BY n_assets DESC, keep_doc""".stripMargin),
    ) { (s, dir) =>
      val sigs = phashSigs(s, dir).localCheckpoint() // pairs + singleton scan
      val pairs = phashPairs(sigs)
      val und = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
      val (labels, _) = GraphOps.ccPointerJump(und)
      val singles = sigs.join(labels.select(col("node")), // assets w/o pairs
          sigs("doc_id") === col("node"), "left_anti")
        .select(col("doc_id").as("node"), col("doc_id").as("label"))
      labels.unionAll(singles)
        .groupBy(col("label").as("keep_doc"))
        .agg(count(lit(1)).as("n_assets"),
          (count(lit(1)) - 1).cast("long").as("n_dropped"))
        .orderBy(col("n_assets").desc, col("keep_doc"))
    },

    Q(
      "q_image_tiles",
      "ViT-style patch extraction over the payload byte stream: each " +
        "asset splits into fixed 16-byte tiles (full tiles only — the " +
        "ragged tail is dropped, the crop-to-patch-grid convention) " +
        "and every tile emits (tile_id, 60-bit content digest) where " +
        "a real pipeline would emit the patch tensor. Pure per-row " +
        "explode — row count multiplies by len/16 MAP-side with zero " +
        "shuffles before the output sort, which is exactly how patch " +
        "extraction must behave at 100 TB: the heavy payload column " +
        "is read once, patches stream straight into the downstream " +
        "writer/encoder, and nothing re-partitions by patch. The " +
        "digest stands where pixels would (the container has no " +
        "media libs); swapping in a real slicer changes one " +
        "expression, not the plan",
      Some(
        """WITH t AS (
          |  SELECT doc_id,
          |    unnest(list_transform(range(CAST(length(text) // 16 AS BIGINT)),
          |      i -> {'tid': i,
          |            'tile': substr(text, CAST(i*16 + 1 AS INT), 16)})) AS u
          |  FROM documents WHERE length(text) >= 16
          |)
          |SELECT doc_id, CAST(u.tid AS BIGINT) AS tile_id,
          |  CAST('0x' || substr(md5(u.tile), 1, 15) AS BIGINT) AS digest
          |FROM t ORDER BY doc_id, tile_id""".stripMargin),
    ) { (s, dir) =>
      Tables.documents(s, dir)
        .filter(length(col("text")) >= 16)
        .select(col("doc_id"),
          posexplode(transform(
            sequence(lit(0L), floor(length(col("text")) / 16.0).cast("long") - 1),
            i => col("text").substr((i * 16 + 1).cast("int"), lit(16))))
            .as(Seq("tile_id", "tile")))
        .select(col("doc_id"), col("tile_id").cast("long").as("tile_id"),
          graft.functions.Portable.md5Hash60(col("tile")).as("digest"))
        .orderBy("doc_id", "tile_id")
    },

    Q(
      "q_audio_vad",
      "energy-threshold voice-activity segmentation over the payload " +
        "frame stream — the audio-pipeline op that cuts silence " +
        "before transcription/training: 8-byte frames, frame energy = " +
        "vowel count (the stub where a real pipeline puts RMS of PCM " +
        "samples), voiced iff energy >= 2, and maximal voiced runs " +
        "become segments via the gap-and-island pattern (lag marks " +
        "run starts, a running sum numbers them, one agg emits " +
        "[start, end] per segment). Frames explode map-side; the " +
        "island windows and the segment agg share ONE asset-keyed " +
        "shuffle — per-asset cost is frame count, cross-asset cost is " +
        "zero, so 100 TB of audio segments asset-parallel. Both " +
        "engines count vowels with the same alternation-free regex " +
        "class, so the threshold cannot drift",
      Some(
        """WITH f AS (
          |  SELECT doc_id,
          |    unnest(list_transform(range(CAST(length(text) // 8 AS BIGINT)),
          |      i -> {'fid': i,
          |            'fr': substr(text, CAST(i*8 + 1 AS INT), 8)})) AS u
          |  FROM documents WHERE length(text) >= 8
          |), voiced AS (
          |  SELECT doc_id, CAST(u.fid AS BIGINT) AS fid
          |  FROM f
          |  WHERE length(regexp_replace(u.fr, '[^aeiou]', '', 'g')) >= 2
          |), runs AS (
          |  SELECT doc_id, fid,
          |    CASE WHEN fid = lag(fid) OVER (PARTITION BY doc_id ORDER BY fid) + 1
          |      THEN 0 ELSE 1 END AS new_seg
          |  FROM voiced
          |), segs AS (
          |  SELECT doc_id, fid,
          |    sum(new_seg) OVER (PARTITION BY doc_id ORDER BY fid
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_id
          |  FROM runs
          |)
          |SELECT doc_id, CAST(seg_id AS BIGINT) AS seg_id,
          |  min(fid) AS start_frame, max(fid) AS end_frame,
          |  count(*) AS n_frames
          |FROM segs GROUP BY doc_id, seg_id
          |ORDER BY doc_id, seg_id""".stripMargin),
    ) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val voiced = Tables.documents(s, dir)
        .filter(length(col("text")) >= 8)
        .select(col("doc_id"),
          posexplode(transform(
            sequence(lit(0L), floor(length(col("text")) / 8.0).cast("long") - 1),
            i => col("text").substr((i * 8 + 1).cast("int"), lit(8))))
            .as(Seq("fid", "fr")))
        .filter(length(regexp_replace(col("fr"), "[^aeiou]", "")) >= 2)
        .select(col("doc_id"), col("fid").cast("long").as("fid"))
      val byDoc = Window.partitionBy("doc_id").orderBy("fid")
      voiced
        .withColumn("new_seg",
          when(col("fid") === lag(col("fid"), 1).over(byDoc) + 1, 0L)
            .otherwise(1L))
        .withColumn("seg_id", sum(col("new_seg"))
          .over(byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("doc_id", "seg_id")
        .agg(min(col("fid")).as("start_frame"), max(col("fid")).as("end_frame"),
          count(lit(1)).as("n_frames"))
        .orderBy("doc_id", "seg_id")
    },
  )

  /** Writes the ≤500-asset file-per-doc .bin layout (executor-side)
    * and returns its directory — the shared fixture of the binaryFile
    * queries. */
  /** q_shot_boundary core (planted-scene spec entry point) over any
    * (doc_id, text) frame: 16-byte frames → integer intensities →
    * adaptive-threshold cuts, all per-row array expressions.
    * Unordered; the Q adds the output sort. */
  private[graft] def shotBoundaries(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs
      .withColumn("frames", expr(
        "transform(sequence(0, cast(ceil(length(text) / 16.0) as int) - 1), " +
          "i -> substring(text, i * 16 + 1, 16))"))
      .withColumn("ints", expr(
        "transform(frames, f -> aggregate(transform(sequence(1, length(f)), " +
          "j -> cast(ascii(substring(f, j, 1)) as bigint)), " +
          "cast(0 as bigint), (a, x) -> a + x))"))
      // sequence(1, 0) would yield a DESCENDING ramp in Spark — an
      // explicit empty array guards the single-frame case.
      .withColumn("diffs", expr(
        "if(size(ints) < 2, array(), transform(sequence(1, size(ints) - 1), " +
          "i -> abs(element_at(ints, i + 1) - element_at(ints, i))))"))
      .select(col("doc_id"), size(col("ints")).cast("long").as("n_frames"),
        (lit(1) + size(expr(
          "filter(diffs, x -> x * size(diffs) > 2 * aggregate(diffs, " +
            "cast(0 as bigint), (a, y) -> a + y))"))).cast("long")
          .as("n_shots"))

  private def writeAssets(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    import s.implicits._
    val assetDir = s"${Scratch.dir()}/assets"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(assetDir))
    Tables.documents(s, dir).filter(col("doc_id") < 500)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, Array[Byte])].rdd
      .foreachPartition { it =>
        it.foreach { case (id, bytes) =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(assetDir, f"doc$id%06d.bin"), bytes)
        }
      }
    assetDir
  }
}
