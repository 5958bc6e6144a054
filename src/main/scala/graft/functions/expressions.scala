package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Character-trigram language identification as a native Catalyst
  * expression (north-star text-analysis op; custom Expression because
  * profile lookup isn't expressible with built-in functions).
  *
  * Method (public, textbook — Cavnar & Trenkle, "N-Gram-Based Text
  * Categorization", 1994): score = fraction of the text's character
  * trigrams found in a per-language profile of frequent trigrams;
  * CJK codepoint ratio short-circuits to zh/ja. Returns the best
  * language code, or "und" below a floor.
  */
case class LangIdExpression(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def prettyName: String = "lang_id"

  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      LangId.detect(input.asInstanceOf[UTF8String].toString))

  override protected def withNewChildInternal(newChild: Expression): LangIdExpression =
    copy(child = newChild)
}

object LangId {
  // Frequent trigrams (spaces significant) derived from common function
  // words of each language — knowledge-level profiles, no external data.
  private val profiles: Map[String, Set[String]] = Map(
    "en" -> Set(" th", "the", "he ", " an", "and", "nd ", " of", "of ",
      " to", "to ", "ing", "ng ", " in", "in ", "ion", " is", "is ",
      "ed ", " be", "at ", "er ", " a ", " it", "hat", " ha", " re",
      "tha", " wi", "ith", "th "),
    "de" -> Set(" de", "der", "er ", "ie ", " di", "die", "und", " un",
      "nd ", "ich", "ch ", "ein", " ei", "ne ", "in ", " ge", "sch",
      "che", "en ", "das", " da", "it ", "mit", " mi", "ung", "ten"),
    "fr" -> Set(" de", "de ", " le", "le ", "es ", " la", "la ", "ent",
      "nt ", "et ", " et", "que", " qu", "ue ", " pa", "par", "les",
      " le", "ais", "ait", "our", " po", "ion", "un ", " un", "re "),
    "es" -> Set(" de", "de ", " la", "la ", "os ", " el", "el ", "que",
      " qu", "ue ", "ar ", " co", "con", "ent", " en", "en ", "as ",
      "ión", "ció", "aci", "los", " lo", "del", " se", "es ", "ado"),
    "it" -> Set(" di", "di ", " de", "del", "la ", " la", "to ", "re ",
      "che", " ch", "he ", "no ", " co", "con", "one", "ion", "zio",
      "ne ", " pe", "per", "er ", "ell", "lla", " un", "na ", "ato"),
    "pt" -> Set(" de", "de ", " a ", "os ", " co", "ão ", "ção", "açã",
      " qu", "que", "ue ", "ar ", " pa", "par", "ra ", " do", "do ",
      "da ", " da", "ent", " se", "es ", "ado", " um", "em ", " em"))

  private def isCjk(cp: Int): Boolean =
    (cp >= 0x4E00 && cp <= 0x9FFF) || (cp >= 0x3400 && cp <= 0x4DBF) ||
    (cp >= 0x3040 && cp <= 0x30FF) // hiragana/katakana

  private def isHangul(cp: Int): Boolean =
    (cp >= 0xAC00 && cp <= 0xD7AF) || (cp >= 0x1100 && cp <= 0x11FF)

  def detect(text: String): String = {
    if (text == null || text.isEmpty) return "und"
    val cps = text.codePoints().toArray
    if (cps.length >= 4) {
      val cjk = cps.count(isCjk)
      val hangul = cps.count(isHangul)
      if (hangul.toDouble / cps.length > 0.25) return "ko"
      if (cjk.toDouble / cps.length > 0.25) {
        val kana = cps.count(cp => cp >= 0x3040 && cp <= 0x30FF)
        return if (kana.toDouble / cps.length > 0.05) "ja" else "zh"
      }
    }
    val t = " " + text.toLowerCase.replaceAll("[^\\p{L} ]", " ")
      .replaceAll(" +", " ").trim + " "
    if (t.length < 3) return "und"
    val grams = (0 to t.length - 3).map(i => t.substring(i, i + 3))
    var best = "und"
    var bestScore = 0.0
    profiles.foreach { case (lang, prof) =>
      val hits = grams.count(prof.contains)
      val score = hits.toDouble / grams.size
      if (score > bestScore) { best = lang; bestScore = score }
    }
    if (bestScore >= 0.05) best else "und"
  }
}

/** Winnowing document fingerprint (Schleimer, Wilkerson, Aiken,
  * "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
  * 2003): rolling-hash every k-gram of tokens, slide a window of w
  * hashes, keep each window's minimum → a compact, position-robust
  * fingerprint set. Returns array<long> (sorted, distinct).
  */
case class WinnowFingerprint(child: Expression, k: Int, w: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fingerprint"

  private val Mod = 1000000007L
  private val Base = 131L

  private def tokenHash(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) { h = (h * Base + s.charAt(i)) % Mod; i += 1 }
    h
  }

  override protected def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[UTF8String].toString.split(" ")
    // rolling hash over token k-grams
    val n = math.max(1, toks.length - k + 1)
    val grams = new Array[Long](n)
    var i = 0
    while (i < n) {
      var h = 0L
      var j = 0
      while (j < k && i + j < toks.length) {
        h = (h * Base + tokenHash(toks(i + j))) % Mod
        j += 1
      }
      grams(i) = h
      i += 1
    }
    // winnow: min of each window of w gram-hashes
    val sel = scala.collection.mutable.SortedSet[Long]()
    val wn = math.max(1, grams.length - w + 1)
    var s = 0
    while (s < wn) {
      var m = Long.MaxValue
      var j = 0
      while (j < w && s + j < grams.length) {
        if (grams(s + j) < m) m = grams(s + j)
        j += 1
      }
      sel += m
      s += 1
    }
    new GenericArrayData(sel.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprint =
    copy(child = newChild)
}

/** MinHash signature as a native expression: the HOF composition
  * (`transform(sequence, j -> aggregate(...))`) is semantically right
  * but runs on the interpreted lambda path — measured 190 s for 5 000
  * docs × 128 hashes at sf0.1 versus <1 s for this tight primitive
  * loop. This is preference order (b) from the build rules: built-ins
  * first, custom Expression when the built-in path can't perform.
  * Family: h_j(x) = a_j·x + b_j over the 2^64 ring (Broder '97).
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  private lazy val (as, bs) = HashFamilies.affine(numHashes)

  override protected def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData].toLongArray()
    val out = new Array[Long](numHashes)
    var j = 0
    while (j < numHashes) {
      val a = as(j)
      val b = bs(j)
      var m = Long.MaxValue
      var i = 0
      while (i < hs.length) {
        val v = a * hs(i) + b
        if (v < m) m = v
        i += 1
      }
      out(j) = m
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** 64-bit SimHash over an array of feature hashes — native loop for
  * the same interpreted-HOF reason as [[MinHashSignature]]
  * (Charikar 2002 bit-vote construction). */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData].toLongArray()
    var result = 0L
    var i = 0
    while (i < 64) {
      var vote = 0
      var k = 0
      while (k < hs.length) {
        if (((hs(k) >>> i) & 1L) == 1L) vote += 1 else vote -= 1
        k += 1
      }
      if (vote > 0) result |= (1L << i)
      i += 1
    }
    java.lang.Long.valueOf(result)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** All LSH table buckets for one embedding in a single pass — native
  * for the same interpreted-HOF reason as [[MinHashSignature]] (the
  * lambda path paid ~0.6 µs per multiply; this loop does
  * tables×bits×dim fused multiply-adds per row). Bucket b of table t =
  * sign-bit signature of `bitsPerTable` Gaussian hyperplanes seeded
  * `1000+t` (Charikar 2002; OR-construction Indyk–Motwani).
  */
case class HyperplaneBuckets(child: Expression, dim: Int,
    numTables: Int, bitsPerTable: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hyperplane_buckets"

  // planes[t*bitsPerTable + b][d], identical to the Column-API
  // hyperplaneSignature(seed = 1000 + t) generation order
  private lazy val planes: Array[Array[Double]] =
    (0 until numTables).flatMap { t =>
      val rnd = new java.util.Random(1000L + t)
      Seq.fill(bitsPerTable)(Array.fill(dim)(rnd.nextGaussian()))
    }.toArray

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = math.min(arr.numElements(), dim)
    val v = new Array[Double](n)
    child.dataType match {
      case ArrayType(FloatType, _) =>
        var i = 0; while (i < n) { v(i) = arr.getFloat(i).toDouble; i += 1 }
      case _ =>
        var i = 0; while (i < n) { v(i) = arr.getDouble(i); i += 1 }
    }
    val out = new Array[Long](numTables)
    var t = 0
    while (t < numTables) {
      var bucket = 0L
      var b = 0
      while (b < bitsPerTable) {
        val p = planes(t * bitsPerTable + b)
        var d = 0.0
        var i = 0
        while (i < n) { d += v(i) * p(i); i += 1 }
        if (d >= 0) bucket |= (1L << b)
        b += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBuckets =
    copy(child = newChild)
}

/** nProbe nearest centroids (by SQUARED L2 distance) for a vector
  * against a fixed centroid table — the IVF coarse-quantizer
  * assignment step, native for the usual interpreted-HOF reason.
  * Returns array<int> of centroid indexes, nearest first (ties by
  * index).
  *
  * L2, NOT cosine: the centroids everywhere in this engine are
  * Lloyd/k-means MEANS, whose training objective is squared-L2 —
  * and the Pq/IvfPq stack probes and reconstructs under L2. An
  * earlier cosine (dot/‖c‖) formulation here silently disagreed with
  * both: a vector could be assigned to a scaled collinear centroid
  * instead of its Euclidean nearest (breaking Pq's lossless-encode
  * contract: a subvector identical to one centroid could take
  * another's code), and IvfPq's L2 probe could scan a different list
  * than the one the corpus row was filed under. */
case class NearestCentroids(child: Expression,
    centroids: Array[Array[Double]], nProbe: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "nearest_centroids"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val v = new Array[Double](n)
    child.dataType match {
      case ArrayType(FloatType, _) =>
        var i = 0; while (i < n) { v(i) = arr.getFloat(i).toDouble; i += 1 }
      case _ =>
        var i = 0; while (i < n) { v(i) = arr.getDouble(i); i += 1 }
    }
    new GenericArrayData(NearestCentroids.nearest(v, centroids, nProbe))
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroids =
    copy(child = newChild)
}

object NearestCentroids {
  /** Indices of the `nProbe` centroids nearest `v`: squared L2 over the
    * common prefix, ties to the lowest index. The one probe rule of the
    * IVF index, on executors (the expression) and on the driver. */
  def nearest(v: Array[Double], centroids: Array[Array[Double]],
      nProbe: Int): Array[Int] = {
    val dists = centroids.indices.map { c =>
      val cv = centroids(c)
      var d = 0.0
      var i = 0
      val m = math.min(v.length, cv.length)
      while (i < m) { val t = v(i) - cv(i); d += t * t; i += 1 }
      (d, c)
    }
    dists.sortBy { case (d, c) => (d, c) }.take(nProbe).map(_._2).toArray
  }
}

/** Squared L2 distance from a vector to its NEAREST centroid — the
  * assignment-quality statistic behind the IVF drift monitor
  * ([[graft.operators.IvfPq.append]]): a rising batch mean relative to
  * the build-time mean says the frozen coarse quantizer no longer fits
  * the incoming distribution. Same metric as [[NearestCentroids]]
  * (L2 end to end — the round-21 unification), same plan-resident
  * centroid table. */
case class NearestCentroidDist(child: Expression,
    centroids: Array[Array[Double]])
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "nearest_centroid_dist"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val v = new Array[Double](n)
    child.dataType match {
      case ArrayType(FloatType, _) =>
        var i = 0; while (i < n) { v(i) = arr.getFloat(i).toDouble; i += 1 }
      case _ =>
        var i = 0; while (i < n) { v(i) = arr.getDouble(i); i += 1 }
    }
    var best = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      val cv = centroids(c)
      var d = 0.0
      var i = 0
      val m = math.min(n, cv.length)
      while (i < m) { val t = v(i) - cv(i); d += t * t; i += 1 }
      if (d < best) best = d
      c += 1
    }
    best
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroidDist =
    copy(child = newChild)
}

/** REAL image-dimension extraction from raw bytes — PNG IHDR and JPEG
  * SOF parsing are pure byte arithmetic, no codec library needed:
  *
  *  - PNG: 8-byte signature, then the mandatory first chunk must be
  *    IHDR (`len=13, "IHDR"`); width/height are big-endian u32 at
  *    byte offsets 16/20 (PNG spec §11.2.2).
  *  - JPEG: `FF D8`, then marker segments; scan `FF xx [len₁₆ …]`
  *    skipping non-SOF segments (standalone RST/TEM/EOI markers carry
  *    no length) until a start-of-frame marker (C0–CF minus C4/C8/CC);
  *    height/width are big-endian u16 at SOF payload offsets 3/5
  *    (ITU T.81 §B.2.2).
  *
  * Returns struct(format, width, height): `("png"|"jpeg", w, h)` only
  * when the header parses COMPLETELY; anything else — truncated
  * signature, missing IHDR, no SOF before the bytes run out —
  * degrades to `("unknown", null, null)`, never throws (corrupt blobs
  * are data, not errors, in a crawl). Map-only; the multimodal gate
  * hash-matches it against DuckDB re-parsing the same blobs by hex
  * arithmetic. */
case class ImageDims(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true)))
  override def prettyName: String = "image_dims"

  private def unknown: Any = org.apache.spark.sql.catalyst.InternalRow(
    UTF8String.fromString("unknown"), null, null)
  private def dims(fmt: String, w: Int, h: Int): Any =
    org.apache.spark.sql.catalyst.InternalRow(UTF8String.fromString(fmt), w, h)

  override protected def nullSafeEval(input: Any): Any = {
    val b = input.asInstanceOf[Array[Byte]]
    def u8(i: Int): Int = b(i) & 0xff
    def be32(i: Int): Int =
      (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def be16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    val pngSig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
    if (b.length >= 24 && pngSig.indices.forall(i => u8(i) == pngSig(i))) {
      // first chunk must be IHDR: 4-byte length then "IHDR"
      if (u8(12) == 'I' && u8(13) == 'H' && u8(14) == 'D' && u8(15) == 'R') {
        val w = be32(16); val h = be32(20)
        if (w > 0 && h > 0) dims("png", w, h) else unknown
      } else unknown
    } else if (b.length >= 4 && u8(0) == 0xff && u8(1) == 0xd8) {
      var pos = 2
      while (pos + 1 < b.length) {
        if (u8(pos) != 0xff) return unknown
        var marker = u8(pos + 1)
        // fill bytes: consecutive FFs before a marker are padding
        while (marker == 0xff && pos + 2 < b.length) {
          pos += 1; marker = u8(pos + 1)
        }
        if (marker >= 0xc0 && marker <= 0xcf &&
            marker != 0xc4 && marker != 0xc8 && marker != 0xcc) {
          // SOF: len(2) precision(1) height(2) width(2)
          if (pos + 8 >= b.length) return unknown
          val h = be16(pos + 5); val w = be16(pos + 7)
          return if (w > 0 && h > 0) dims("jpeg", w, h) else unknown
        } else if ((marker >= 0xd0 && marker <= 0xd9) || marker == 0x01) {
          pos += 2 // standalone marker, no length field
        } else {
          if (pos + 3 >= b.length) return unknown
          val len = be16(pos + 2)
          if (len < 2) return unknown
          pos += 2 + len
        }
      }
      unknown
    } else unknown
  }

  override protected def withNewChildInternal(newChild: Expression): ImageDims =
    copy(child = newChild)
}

/** REAL audio-metadata extraction from raw WAV/RIFF bytes — like
  * [[ImageDims]], pure byte arithmetic, no codec library:
  *
  *  - container: `"RIFF" <size u32-LE> "WAVE"`, then a CHUNK CHAIN of
  *    `<id 4cc> <size u32-LE> <payload>` (odd payloads pad one byte);
  *  - the `"fmt "` chunk carries channels (u16-LE @ +2), sample rate
  *    (u32-LE @ +4), byte rate (u32-LE @ +8), bits/sample (u16-LE
  *    @ +14);
  *  - the `"data"` chunk's SIZE over the byte rate gives the duration:
  *    `duration_ms = dataSize * 1000 / byteRate` (integer division).
  *
  * The scan walks chunks by size (a LIST/INFO chunk before `fmt ` must
  * be skipped, not tripped over). Returns struct(format, channels,
  * sample_rate, bits_per_sample, duration_ms); anything not a complete
  * WAV — wrong magic, truncated chain, missing fmt/data, zero byte
  * rate — degrades to ("unknown", null, …), never throws. */
case class AudioMeta(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("channels", IntegerType, nullable = true),
    StructField("sample_rate", IntegerType, nullable = true),
    StructField("bits_per_sample", IntegerType, nullable = true),
    StructField("duration_ms", LongType, nullable = true)))
  override def prettyName: String = "audio_meta"

  private def unknown: Any = org.apache.spark.sql.catalyst.InternalRow(
    UTF8String.fromString("unknown"), null, null, null, null)

  override protected def nullSafeEval(input: Any): Any = {
    val b = input.asInstanceOf[Array[Byte]]
    def u8(i: Int): Int = b(i) & 0xff
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Long =
      (u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16)).toLong |
        (u8(i + 3).toLong << 24)
    def fourcc(i: Int, s: String): Boolean =
      u8(i) == s.charAt(0) && u8(i + 1) == s.charAt(1) &&
      u8(i + 2) == s.charAt(2) && u8(i + 3) == s.charAt(3)
    if (b.length < 12 || !fourcc(0, "RIFF") || !fourcc(8, "WAVE"))
      return unknown
    // pos is a Long and sizes are validated BEFORE advancing: a corrupt
    // chunk declaring size near 2^31 must degrade to unknown, not wrap
    // the cursor negative and index out of bounds (never-throws contract)
    var pos = 12L
    var fmtPos = -1L
    var dataSize = -1L
    while (pos + 8 <= b.length && (fmtPos < 0 || dataSize < 0)) {
      val size = le32(pos.toInt + 4)
      if (size < 0 || size > Int.MaxValue - 16) return unknown
      if (fourcc(pos.toInt, "fmt ")) {
        if (size < 16 || pos + 8 + 16 > b.length) return unknown
        fmtPos = pos + 8
      } else if (fourcc(pos.toInt, "data")) {
        dataSize = size
      }
      // RIFF pads odd-sized payloads to even offsets
      pos += 8L + size + (size & 1L)
    }
    if (fmtPos < 0 || dataSize < 0) return unknown
    val fp = fmtPos.toInt // bounded by b.length (checked at discovery)
    val channels = le16(fp + 2)
    val rate = le32(fp + 4)
    val byteRate = le32(fp + 8)
    val bits = le16(fp + 14)
    // u32 rates above Int.MaxValue would go negative on .toInt and
    // diverge from the oracle's positive BIGINT — degrade instead
    if (channels <= 0 || rate <= 0 || rate > Int.MaxValue || byteRate <= 0)
      return unknown
    org.apache.spark.sql.catalyst.InternalRow(
      UTF8String.fromString("wav"), channels, rate.toInt, bits,
      dataSize * 1000L / byteRate)
  }

  override protected def withNewChildInternal(newChild: Expression): AudioMeta =
    copy(child = newChild)
}

/** REAL video-metadata extraction from MP4/ISO-BMFF bytes — the third
  * leg of the multimodal family ([[ImageDims]], [[AudioMeta]]): pure
  * byte arithmetic over the box structure (ISO 14496-12):
  *
  *  - a box is `[size u32-BE][type 4cc][payload]`; size 1 means a
  *    64-bit size follows, size 0 means "to end of file";
  *  - the file signature is a leading `ftyp` box;
  *  - `moov` (a container box) holds `mvhd`, whose version-0 payload
  *    carries timescale (u32-BE @ +12) and duration (u32-BE @ +16) —
  *    version 1 widens creation/modification/duration to 64 bits, so
  *    timescale sits @ +20 and duration (u64) @ +24;
  *  - `duration_ms = duration * 1000 / timescale` (integer division).
  *
  * Two-level scan (top-level boxes for `moov`, its children for
  * `mvhd`); anything that does not parse completely degrades to
  * ("unknown", null, null) — never throws. */
case class VideoMeta(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("timescale", IntegerType, nullable = true),
    StructField("duration_ms", LongType, nullable = true)))
  override def prettyName: String = "video_meta"

  private def unknown: Any = org.apache.spark.sql.catalyst.InternalRow(
    UTF8String.fromString("unknown"), null, null)

  override protected def nullSafeEval(input: Any): Any = {
    val b = input.asInstanceOf[Array[Byte]]
    def u8(i: Long): Int = b(i.toInt) & 0xff
    def be32(i: Long): Long =
      (u8(i).toLong << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def be64(i: Long): Long = (be32(i) << 32) | be32(i + 4)
    def fourcc(i: Long, s: String): Boolean =
      u8(i) == s.charAt(0) && u8(i + 1) == s.charAt(1) &&
      u8(i + 2) == s.charAt(2) && u8(i + 3) == s.charAt(3)
    // (start of box, payload start, end) for the box at pos, or null
    def boxBounds(pos: Long, limit: Long): (Long, Long) = {
      // returns (payloadStart, boxEnd); (-1,-1) when malformed. The
      // 64-bit size is bounded to the blob length BEFORE any addition:
      // a crafted largesize near 2^63 would overflow pos + s64 to a
      // negative "end" that passes the limit check and traps the walk
      // in a cycle (never-throws AND always-terminates contract).
      if (pos + 8 > limit) return (-1L, -1L)
      val size = be32(pos)
      if (size == 0L) (pos + 8, limit) // "to end"
      else if (size == 1L) {
        if (pos + 16 > limit) return (-1L, -1L)
        val s64 = be64(pos + 8)
        if (s64 < 16 || s64 > limit || pos + s64 > limit) (-1L, -1L)
        else (pos + 16, pos + s64)
      } else if (size < 8 || pos + size > limit) (-1L, -1L)
      else (pos + 8, pos + size)
    }
    if (b.length < 12 || !fourcc(4, "ftyp")) return unknown
    var pos = 0L
    while (pos + 8 <= b.length) {
      val (pay, end) = boxBounds(pos, b.length)
      if (pay < 0) return unknown
      if (fourcc(pos + 4, "moov")) {
        var q = pay
        while (q + 8 <= end) {
          val (qpay, qend) = boxBounds(q, end)
          if (qpay < 0) return unknown
          if (fourcc(q + 4, "mvhd")) {
            if (qpay + 4 > qend) return unknown
            val version = u8(qpay)
            val (ts, dur) =
              if (version == 0) {
                if (qpay + 20 > qend) return unknown
                (be32(qpay + 12), be32(qpay + 16))
              } else if (version == 1) {
                if (qpay + 32 > qend) return unknown
                (be32(qpay + 20), be64(qpay + 24))
              } else return unknown
            // u32 timescale above Int.MaxValue would go negative on
            // .toInt and diverge from the oracle's positive BIGINT
            if (ts <= 0 || ts > Int.MaxValue || dur < 0) return unknown
            return org.apache.spark.sql.catalyst.InternalRow(
              UTF8String.fromString("mp4"), ts.toInt, dur * 1000L / ts)
          }
          q = qend
        }
        return unknown // moov without mvhd
      }
      pos = end
    }
    unknown
  }

  override protected def withNewChildInternal(newChild: Expression): VideoMeta =
    copy(child = newChild)
}

/** Deterministic stand-in codec for multimodal binary columns: parses
  * a tiny fake header (`[format:1][width:2][height:2]` big-endian) the
  * test fixture writer emits. A real deployment replaces exactly this
  * object with a JNI/JavaCV binding; the expressions wrapping it don't
  * change. */
object FakeCodec {
  def imageMeta(bytes: Array[Byte]): (String, Int, Int, Boolean) = {
    if (bytes == null || bytes.length < 5) ("unknown", 0, 0, true)
    else {
      val fmt = bytes(0) match {
        case 1 => "png"; case 2 => "jpeg"; case 3 => "webp"; case _ => "unknown"
      }
      val w = ((bytes(1) & 0xff) << 8) | (bytes(2) & 0xff)
      val h = ((bytes(3) & 0xff) << 8) | (bytes(4) & 0xff)
      (fmt, w, h, fmt == "unknown")
    }
  }

  /** Stub "resize": deterministic byte fold standing in for pixel
    * work, so tests can assert the batch plumbing end-to-end. */
  def thumbnailChecksum(bytes: Array[Byte], maxSide: Int): Long = {
    var h = maxSide.toLong
    var i = 0
    while (i < bytes.length) { h = h * 31 + (bytes(i) & 0xff); i += 1 }
    h
  }

  /** Feature extraction that is REAL, not stubbed: an L1-normalized
    * `bins`-bin byte-value histogram of the payload — the deterministic
    * stand-in for a learned image/audio embedding with the same shape
    * contract (binary in, fixed-width float vector out). Good enough to
    * drive the embedding-dedup/ANN operators over binary columns;
    * a deployment swaps in model inference without changing the type.
    * Null/empty payloads embed to the zero vector (kept, not dropped —
    * the corrupt-row contract matches [[imageMeta]]). */
  def embed(bytes: Array[Byte], bins: Int = 16): Array[Float] = {
    val counts = new Array[Int](bins)
    if (bytes != null) {
      var i = 0
      while (i < bytes.length) {
        counts((bytes(i) & 0xff) * bins / 256) += 1
        i += 1
      }
    }
    val n = if (bytes == null || bytes.isEmpty) 1 else bytes.length
    val out = new Array[Float](bins)
    var j = 0
    while (j < bins) { out(j) = counts(j).toFloat / n; j += 1 }
    out
  }

  /** Batch form of [[embed]] — the signature a GPU/model codec has
    * (setup amortized per batch, one call per `batchSize` rows). The
    * fake computes per-row, but the CONTRACT (input order preserved,
    * one output per input) is what [[graft.operators.Multimodal
    * .mapBinaryBatches]] tests end-to-end. */
  def embedBatch(batch: Seq[Array[Byte]], bins: Int = 16): Seq[Array[Float]] =
    batch.map(embed(_, bins))
}

/** Image-metadata decode over a `binary` column as a NATIVE expression
  * (round 1 used a df.rdd Row round-trip, which dropped whole-stage
  * codegen and columnar batches for every downstream operator; as an
  * expression the decode composes with pushdown, pruning and
  * partitioning like any built-in). Null/short input yields a corrupt
  * marker, never a null struct — the pipeline contract for dirty
  * multimodal data. */
case class ImageMetaExpression(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ImageMetaExpression.schema
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    val bytes = if (v == null) null else v.asInstanceOf[Array[Byte]]
    val (fmt, w, h, corrupt) = FakeCodec.imageMeta(bytes)
    val n = if (bytes == null) 0L else bytes.length.toLong
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](UTF8String.fromString(fmt), w, h, n, corrupt))
  }

  override protected def withNewChildInternal(newChild: Expression): ImageMetaExpression =
    copy(child = newChild)
}

object ImageMetaExpression {
  val schema: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_bytes", LongType),
    StructField("corrupt", BooleanType)))
}

/** Stubbed resize/feature pass → checksum long, same native-expression
  * rationale as [[ImageMetaExpression]]. */
case class ThumbnailChecksumExpression(child: Expression, maxSide: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    val bytes = if (v == null) Array.empty[Byte] else v.asInstanceOf[Array[Byte]]
    FakeCodec.thumbnailChecksum(bytes, maxSide)
  }

  override protected def withNewChildInternal(newChild: Expression): ThumbnailChecksumExpression =
    copy(child = newChild)
}

/** [[FakeCodec.embed]] as a native expression — the in-plan scalar
  * twin of the batched [[graft.operators.Multimodal.mapBinaryBatches]]
  * path: same feature values, but evaluated row-at-a-time inside the
  * scan's stage (no typed-Dataset boundary), so it composes with
  * pushdown/pruning. Use THIS when the codec is cheap CPU work; use
  * the batched path when per-call setup (model weights, GPU transfer)
  * must amortize. Equivalence of the two paths is spec-asserted. */
case class ByteHistogramExpression(child: Expression, bins: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    val bytes = if (v == null) null else v.asInstanceOf[Array[Byte]]
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      FakeCodec.embed(bytes, bins))
  }

  override protected def withNewChildInternal(newChild: Expression): ByteHistogramExpression =
    copy(child = newChild)
}

/** Deterministic affine hash families shared by the Column API and the
  * native expressions. */
object HashFamilies {
  def affine(numHashes: Int): (Array[Long], Array[Long]) = {
    val rnd = new java.util.Random(42)
    val as = Array.fill(numHashes)(rnd.nextLong() | 1L) // odd → bijective
    val bs = Array.fill(numHashes)(rnd.nextLong())
    (as, bs)
  }
}

/** Column-side entry points + SQL registration for the custom
  * expressions (Column wrapping via the classic ExpressionUtils
  * bridge; [[register]] additionally exposes them to SQL text). */
/** Distinct word-k-shingle hashes as ONE native expression — the
  * fused equivalent of
  * `transform(array_distinct(transform(sequence(...), i ->
  * concat_ws(' ', slice(split(text, ' '), i, k)))), g -> xxhash64(g))`.
  * That tree is interpreted per row (transform/slice are
  * CodegenFallback) and is the per-document floor of every shingle
  * pipeline (minhash dedup's signature pass, the n-gram verifier).
  * This expression produces IDENTICAL values by calling the same
  * primitives the built-ins use: `UTF8String.split(" ", -1)` (what
  * StringSplit evaluates), `UTF8String.concatWs` (what ConcatWs
  * evaluates), first-occurrence string dedupe (array_distinct), and
  * `XXH64.hashUnsafeBytes(..., seed=42)` (what xxhash64 evaluates).
  * Short docs (< k tokens) yield their whole token list as one
  * shingle, like the `greatest(1, n-k+1)` bound. */
case class ShingleHashes(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {
  require(k >= 1, s"shingle size must be >= 1, got $k")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  @transient private lazy val space = UTF8String.fromString(" ")

  override protected def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[UTF8String].split(space, -1)
    val n = toks.length
    val m = math.max(1, n - k + 1)
    val seen = new java.util.HashSet[UTF8String](m * 2)
    val out = new Array[Long](m)
    var written = 0
    var i = 0
    while (i < m) {
      val end = math.min(i + k, n)
      val gram =
        if (end - i == n) UTF8String.concatWs(space, toks: _*)
        else UTF8String.concatWs(space,
          java.util.Arrays.copyOfRange(toks, i, end).toIndexedSeq: _*)
      if (seen.add(gram)) {
        out(written) = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUnsafeBytes(gram.getBaseObject, gram.getBaseOffset,
            gram.numBytes, 42L)
        written += 1
      }
      i += 1
    }
    new GenericArrayData(
      if (written == m) out else java.util.Arrays.copyOf(out, written))
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** Word k-shingle STRINGS fused per row — the string-valued sibling
  * of [[ShingleHashes]] (same tokenize/slice/short-doc semantics,
  * but the grams themselves are the output): one Java loop replaces
  * the interpreted `transform(sequence, i -> concat_ws(slice))` HOF
  * tree wherever the gram string survives into the result (heavy
  * hitters, containment, decontamination). `distinct = true` is the
  * `array_distinct` composition (first-occurrence order preserved);
  * `false` keeps multiplicity (the TF twin). Parity with the HOF
  * formulation is pinned in Round19Spec. */
case class WordShingleStrings(child: Expression, k: Int, distinct: Boolean)
    extends UnaryExpression with CodegenFallback {
  require(k >= 1, s"shingle size must be >= 1, got $k")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingle_strings"

  @transient private lazy val space = UTF8String.fromString(" ")

  override protected def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[UTF8String].split(space, -1)
    val n = toks.length
    val m = math.max(1, n - k + 1)
    val out = new Array[AnyRef](m)
    val seen = if (distinct) new java.util.HashSet[UTF8String](m * 2) else null
    var written = 0
    var i = 0
    while (i < m) {
      val end = math.min(i + k, n)
      val gram =
        if (end - i == n) UTF8String.concatWs(space, toks: _*)
        else UTF8String.concatWs(space,
          java.util.Arrays.copyOfRange(toks, i, end).toIndexedSeq: _*)
      if (seen == null || seen.add(gram)) {
        out(written) = gram
        written += 1
      }
      i += 1
    }
    new GenericArrayData(
      if (written == m) out else java.util.Arrays.copyOf(out, written))
  }

  override protected def withNewChildInternal(newChild: Expression): WordShingleStrings =
    copy(child = newChild)
}

/** DSIR feature buckets fused per row: unigrams ++ adjacent bigrams,
  * each mapped to `(first 16 md5 bits) mod numBuckets`. One Java loop
  * per document replaces the interpreted HOF tree
  * (`concat(toks, transform(sequence, i -> concat_ws(slice)))` +
  * per-element `conv(substring(md5))`) that dominated the DSIR stats
  * pass (~1.5 s/pass at sf0.1 for array construction alone).
  * Bit-identical to that HOF formulation (parity-tested in
  * Round18Spec) and to the DuckDB oracle idiom
  * `('0x' || substr(md5(t), 1, 4))::BIGINT % B`. */
case class TermBuckets(child: Expression, numBuckets: Int)
    extends UnaryExpression with CodegenFallback {
  require(numBuckets > 0 && numBuckets <= (1 << 16),
    s"numBuckets must be in [1, 65536], got $numBuckets")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "term_buckets"

  @transient private lazy val space = UTF8String.fromString(" ")
  // MessageDigest is stateful; one per evaluating thread
  @transient private lazy val md =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  private def bucket(s: UTF8String): Long = {
    val d = md.get(); d.reset()
    val digest = d.digest(s.getBytes)
    (((digest(0) & 0xff) << 8) | (digest(1) & 0xff)).toLong % numBuckets
  }

  override protected def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[UTF8String].split(space, -1)
    val n = toks.length
    val out = new Array[Long](if (n > 1) 2 * n - 1 else n)
    var i = 0
    while (i < n) { out(i) = bucket(toks(i)); i += 1 }
    i = 0
    while (i < n - 1) {
      out(n + i) = bucket(UTF8String.concatWs(space, toks(i), toks(i + 1)))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): TermBuckets =
    copy(child = newChild)
}

/** Unicode NFC normalization (canonical composition) — the
  * multilingual-corpus prerequisite the ASCII-only normalizers skip:
  * decomposed sequences (e + U+0301) fold to their composed forms
  * (é) so downstream hashing/dedup/tokenizing see one spelling.
  * Backed by `java.text.Normalizer` (the JDK's Unicode NFC);
  * DuckDB's `nfc_normalize` implements the same standard, which is
  * what makes the p61 gate's cross-engine hash compare meaningful.
  * Per-row, stateless — composes with streaming like the rest of the
  * curation family. */
case class NfcNormalize(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    // fast path: Normalizer.isNormalized is a cheap scan; most real
    // text is already NFC and skips the rebuild allocation
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) input
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

/** Membership-hit counter against a broadcast [[GraftBloom]]: how many
  * elements of the input long-array might be in the filter. The filter
  * travels as a BROADCAST (fetched once per executor — it can be up to
  * the 256 MB guard at full eval-set scale, too big to ride the plan),
  * so a bloom-gated filter pass is MAP-ONLY, no join, no shuffle.
  * Sketch semantics (no false negatives, bounded false-positive rate)
  * are spec-asserted against the exact operator in Round19Spec; the
  * independently-seeded probe scheme that makes tiny-fpp gates sound
  * is documented on [[GraftBloom]]. */
case class BloomHitCount(child: Expression,
    filter: org.apache.spark.broadcast.Broadcast[GraftBloom])
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "bloom_hit_count"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val f = filter.value
    var hits = 0L
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (f.mightContain(arr.getLong(i))) hits += 1L
      i += 1
    }
    hits
  }

  override protected def withNewChildInternal(newChild: Expression): BloomHitCount =
    copy(child = newChild)
}

/** Count of token OCCURRENCES absent from the broadcast vocabulary —
  * the OOV numerator of [[graft.operators.Curation.oovRate]]. The
  * vocabulary travels as a Broadcast (metadata-scale, V ≪ corpus;
  * fetched once per executor) and the probe hash set builds once per
  * JVM, cached by broadcast id — so the scan is tokens × O(1),
  * replacing the interpreted
  * `filter(ws, w -> !array_contains(vocabLit, w))` HOF, which was
  * tokens × O(V) per row in CodegenFallback code (invisible at the
  * gate's V=20, pathological at a real 100k–4M vocabulary).
  * Tokenization contract matches `split(text, " ")` exactly (literal
  * single-space split, trailing empties kept), so values are
  * bit-identical to the HOF formulation — parity-spec'd. */
case class OovCount(child: Expression,
    vocab: org.apache.spark.broadcast.Broadcast[Array[String]])
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "oov_count"

  @transient private lazy val space = UTF8String.fromString(" ")
  // genuinely once per executor: the vocab travels as a BROADCAST
  // (fetched once per executor, not per task like a plan-resident
  // array would deserialize) and the built set caches JVM-wide by
  // broadcast id — a 4M-entry vocabulary pays its hash-set build
  // once, not once per task
  @transient private lazy val set = OovCount.setFor(vocab)

  override protected def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[UTF8String].split(space, -1)
    var oov = 0L
    var i = 0
    while (i < toks.length) {
      if (!set.contains(toks(i))) oov += 1L
      i += 1
    }
    oov
  }

  override protected def withNewChildInternal(newChild: Expression): OovCount =
    copy(child = newChild)
}

object OovCount {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[Long, java.util.HashSet[UTF8String]]()

  private[functions] def setFor(
      bc: org.apache.spark.broadcast.Broadcast[Array[String]]): java.util.HashSet[UTF8String] = {
    // bounded: distinct vocabularies per JVM are few; evict wholesale
    // rather than leak when a long session churns through many
    if (cache.size > 8) cache.clear()
    cache.computeIfAbsent(bc.id, _ => {
      val v = bc.value
      val s = new java.util.HashSet[UTF8String](v.length * 2)
      v.foreach(w => s.add(UTF8String.fromString(w)))
      s
    })
  }
}

/** Viterbi unigram-LM segmentation DP (Kudo '18, the SentencePiece
  * unigram model) shared by [[UnigramEncodeStat]] and
  * [[UnigramSegment]]: segment a word into vocabulary pieces
  * minimizing total piece cost, with the (cost, n_pieces) pair
  * compared LEXICOGRAPHICALLY — encoded as one long
  * `cost · 1024 + n_pieces` so the DP value is engine-reproducible
  * integer arithmetic (the DuckDB oracle carries the same encoding;
  * n_pieces ≤ word length, and words of ≥ 1024 letters are DECLARED
  * unsegmentable — see [[UnigramDp.MaxWordLen]]). Ties beyond (cost,
  * n_pieces) break
  * to the longest piece ending at each position (smallest start index
  * — only observable in [[UnigramSegment]]'s piece array, which no
  * oracle consumes). Costs are integer micronats supplied with the
  * broadcast vocabulary; a word with an unreachable position (a
  * character outside the vocabulary) yields null.
  *
  * The vocabulary travels as a Broadcast and builds its probe map once
  * per JVM keyed by broadcast id — the [[OovCount]] discipline. */
object UnigramDp {
  // keyed by the Broadcast OBJECT, not its id: broadcast ids restart at
  // 0 with a new SparkContext in the same JVM, and an id-keyed cache
  // would silently serve a previous context's vocabulary (a count-skew
  // nuisance for OovCount, but a wrong-tokenization bug here). Weak
  // keys let destroyed broadcasts age out with GC.
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.broadcast.Broadcast[Array[(String, Long)]],
      java.util.HashMap[String, Long]]())

  private[functions] def mapFor(
      bc: org.apache.spark.broadcast.Broadcast[Array[(String, Long)]])
      : java.util.HashMap[String, Long] =
    cache.synchronized {
      val got = cache.get(bc)
      if (got != null) got
      else {
        val m = new java.util.HashMap[String, Long](bc.value.length * 2)
        bc.value.foreach { case (p, c) => m.put(p, c); () }
        cache.put(bc, m)
        m
      }
    }

  /** The radix guard: `n_pieces` rides the low 10 bits of the
    * `cost · 1024 + n_pieces` encoding, so a segmentation of ≥ 1024
    * pieces would bleed into the cost field and silently break the
    * documented (cost, n_pieces) lexicographic tie-break — undetectably,
    * because the DuckDB oracle does the same arithmetic. Words this
    * long (n_pieces ≤ word length) are therefore DECLARED unsegmentable
    * → null, and every oracle filters `len(w) < 1024` identically. */
  private[functions] val MaxWordLen = 1024

  /** (enc, choice array) — enc = Long.MaxValue when unreachable or the
    * word is ≥ [[MaxWordLen]] letters (radix guard above). */
  private[functions] def solve(w: String,
      costs: java.util.HashMap[String, Long],
      maxPieceLen: Int): (Long, Array[Int]) = {
    val n = w.length
    if (n >= MaxWordLen) return (Long.MaxValue, Array.empty[Int])
    val best = Array.fill(n + 1)(Long.MaxValue)
    val choice = Array.fill(n + 1)(-1)
    best(0) = 0L
    var i = 1
    while (i <= n) {
      var j = math.max(0, i - maxPieceLen)
      while (j < i) {
        if (best(j) != Long.MaxValue) {
          val sub = w.substring(j, i)
          if (costs.containsKey(sub)) {
            val cand = best(j) + costs.get(sub) * 1024L + 1L
            if (cand < best(i)) { best(i) = cand; choice(i) = j }
          }
        }
        j += 1
      }
      i += 1
    }
    (best(n), choice)
  }
}

/** Per-word unigram-LM Viterbi statistic: the encoded
  * `min_cost · 1024 + n_pieces` long ([[UnigramDp]]), null when the
  * word cannot be segmented from the vocabulary. Applied to the
  * DISTINCT-word relation and joined back (the Bpe.encodeTokenCounts
  * amortization note made real), so the corpus pays one bounded-vocab
  * shuffle, not a per-occurrence DP. */
case class UnigramEncodeStat(child: Expression,
    vocab: org.apache.spark.broadcast.Broadcast[Array[(String, Long)]],
    maxPieceLen: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "unigram_encode_stat"

  @transient private lazy val costs = UnigramDp.mapFor(vocab)

  override protected def nullSafeEval(input: Any): Any = {
    val (enc, _) = UnigramDp.solve(
      input.asInstanceOf[UTF8String].toString, costs, maxPieceLen)
    if (enc == Long.MaxValue) null else enc
  }

  override protected def withNewChildInternal(newChild: Expression): UnigramEncodeStat =
    copy(child = newChild)
}

/** Per-DOC unigram encode statistics under a FROZEN vocabulary — the
  * streaming deployment shape of [[graft.operators.Unigram.encodeStats]]
  * (which learns its vocabulary from the corpus and amortizes the DP
  * over a distinct-word relation — both corpus-wide moves a streaming
  * micro-batch cannot make). Here the whole computation is MAP-ONLY
  * per row: extract the `[a-z]+` words, Viterbi-encode each against
  * the broadcast vocabulary, and fold (n_words, n_pieces,
  * cost_micronats) in-row. The distinct-word amortization becomes a
  * per-executor word→enc memo keyed by the broadcast (bounded; past
  * the cap it computes uncached rather than growing without limit).
  *
  * Same word semantics as the join path: unsegmentable words — the
  * ≥ 1024-letter radix guard, or (frozen-vocab-specific) a character
  * the vocabulary never saw — are EXCLUDED from all three stats, as
  * the inner join excludes them; a doc with no countable word yields
  * null (the omission contract). */
case class UnigramDocStats(child: Expression,
    vocab: org.apache.spark.broadcast.Broadcast[Array[(String, Long)]],
    maxPieceLen: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("n_pieces", LongType, nullable = false),
    StructField("cost_micronats", LongType, nullable = false)))
  override def prettyName: String = "unigram_doc_stats"

  @transient private lazy val costs = UnigramDp.mapFor(vocab)
  @transient private lazy val memo = UnigramDocStats.memoFor(vocab)

  override protected def nullSafeEval(input: Any): Any = {
    // Locale.ROOT, not the JVM default: under e.g. a tr_TR default
    // locale "I".toLowerCase is dotless-ı, silently diverging from
    // Spark's locale-independent lower() and the DuckDB oracle
    val text = input.asInstanceOf[UTF8String].toString
      .toLowerCase(java.util.Locale.ROOT)
    val m = UnigramDocStats.WordRe.matcher(text)
    var nWords = 0L; var nPieces = 0L; var cost = 0L
    while (m.find()) {
      val w = m.group()
      var enc = memo.get(w)
      if (enc == null) {
        enc = Long.box(UnigramDp.solve(w, costs, maxPieceLen)._1)
        if (memo.size < UnigramDocStats.MemoCap) { memo.put(w, enc); () }
      }
      if (enc.longValue() != Long.MaxValue) {
        nWords += 1
        nPieces += enc.longValue() % 1024L
        cost += enc.longValue() / 1024L
      }
    }
    if (nWords == 0L) null
    else org.apache.spark.sql.catalyst.InternalRow(nWords, nPieces, cost)
  }

  override protected def withNewChildInternal(newChild: Expression): UnigramDocStats =
    copy(child = newChild)
}

object UnigramDocStats {
  private[functions] val WordRe = java.util.regex.Pattern.compile("[a-z]+")
  private[functions] val MemoCap = 1 << 20

  // per-broadcast word→enc memo — the UnigramDp cache discipline
  // (keyed by the Broadcast OBJECT, weak keys age out with GC)
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.broadcast.Broadcast[Array[(String, Long)]],
      java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]]())

  private def memoFor(
      bc: org.apache.spark.broadcast.Broadcast[Array[(String, Long)]])
      : java.util.concurrent.ConcurrentHashMap[String, java.lang.Long] =
    cache.synchronized {
      val got = cache.get(bc)
      if (got != null) got
      else {
        val m = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
        cache.put(bc, m)
        m
      }
    }
}

/** The optimal piece sequence itself — the E-step of hard-EM unigram
  * training ([[graft.operators.Unigram.learn]]) and the apply half of
  * the tokenizer. Same DP and tie rules as [[UnigramEncodeStat]];
  * null when unreachable. */
case class UnigramSegment(child: Expression,
    vocab: org.apache.spark.broadcast.Broadcast[Array[(String, Long)]],
    maxPieceLen: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "unigram_segment"

  @transient private lazy val costs = UnigramDp.mapFor(vocab)

  override protected def nullSafeEval(input: Any): Any = {
    val w = input.asInstanceOf[UTF8String].toString
    val (enc, choice) = UnigramDp.solve(w, costs, maxPieceLen)
    if (enc == Long.MaxValue) return null
    var i = w.length
    var pieces = List.empty[UTF8String]
    while (i > 0) {
      val j = choice(i)
      pieces = UTF8String.fromString(w.substring(j, i)) :: pieces
      i = j
    }
    new GenericArrayData(pieces.toArray[Any])
  }

  override protected def withNewChildInternal(newChild: Expression): UnigramSegment =
    copy(child = newChild)
}

/** Pairwise cosine similarity over two embedding arrays as a native
  * expression. Bit-identical arithmetic contract with the HOF
  * formulation it replaces (and the DuckDB oracle): every element
  * widens float→double BEFORE multiplying, each of the three dot
  * products is an independent sequential left fold, and the result is
  * `ab / (sqrt(aa) * sqrt(bb))` — so threshold and ordering decisions
  * can never diverge from the oracle.
  *
  * Native for the usual reason, but this one was load-bearing: the
  * `aggregate(zip_with(…))` tree is CodegenFallback — interpreted
  * per ROW — and it ran as the CONDITION of the all-pairs verifier's
  * BroadcastNestedLoopJoin (p5), i.e. interpreted HOF eval × O(N²)
  * pairs. Null semantics match the HOF tree: null array, null
  * element, or mismatched lengths (zip_with null-pads) → null. */
case class CosineSim(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"cosine_sim needs array<float|double>, got $other")
  }
  @transient private lazy val leftFloat = elemIsFloat(left)
  @transient private lazy val rightFloat = elemIsFloat(right)

  override protected def nullSafeEval(l: Any, r: Any): Any =
    CosineSim.of(l.asInstanceOf[ArrayData], leftFloat,
      r.asInstanceOf[ArrayData], rightFloat)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  /** The cosine of two non-null vectors, each read as float or double
    * elements; null on a null element or unequal lengths. The loop every
    * cosine score runs, so scores agree bit for bit wherever computed. */
  def of(a: ArrayData, aFloat: Boolean, b: ArrayData,
      bFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var sab = 0.0
    var saa = 0.0
    var sbb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      sab += x * y
      saa += x * x
      sbb += y * y
      i += 1
    }
    sab / (math.sqrt(saa) * math.sqrt(sbb))
  }
}

/** Query-SET ADC score ([[graft.operators.IvfPq.topKBatch]]): the
  * per-query m×k lookup table cannot ride as a plan literal when there
  * are thousands of queries, so the query VECTORS travel as one small
  * broadcast (Q × dim doubles) and each executor materializes a
  * query's LUT lazily on first use, cached per (broadcast, qid) — the
  * LUT build is dim×k multiplies amortized over every code row the
  * executor scans for that query. Scoring itself stays m table
  * lookups per row, the PQ economics unchanged.
  *
  * Arithmetic contract (oracle-exact, the p64 discipline): each LUT
  * entry is a sequential left-fold dot product within its subspace,
  * and the row score sums the m entries in subspace order — identical
  * grouping to the single-query [[graft.operators.Pq.adcTopK]] plan
  * literals and to the oracle's per-subspace partial sums. Unknown
  * qid (not in the broadcast) is a loud error, never a null score. */
case class PqAdcScoreSet(left: Expression, right: Expression,
    qvecs: org.apache.spark.broadcast.Broadcast[Map[Long, Array[Double]]],
    books: Array[Array[Array[Double]]], subDim: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc_score_set"

  @transient private lazy val luts = PqAdcScoreSet.lutsFor(qvecs, books, subDim)
  // one mapping-function instance per expression, NOT per scored row —
  // computeIfAbsent's mapper argument is evaluated on every call, and
  // this eval is the inner loop of the batch ADC scan
  @transient private lazy val lutBuilder =
    PqAdcScoreSet.build(qvecs, books, subDim)

  override protected def nullSafeEval(qidAny: Any, codesAny: Any): Any = {
    val qid = qidAny.asInstanceOf[Long]
    val lut = luts.computeIfAbsent(qid, lutBuilder)
    val codes = codesAny.asInstanceOf[ArrayData]
    var s = 0.0
    var sub = 0
    while (sub < lut.length) {
      s += lut(sub)(codes.getInt(sub))
      sub += 1
    }
    s
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcScoreSet =
    copy(left = newLeft, right = newRight)
}

object PqAdcScoreSet {
  // per-(broadcast object) LUT cache — the UnigramDp discipline: keyed
  // by the Broadcast OBJECT (ids restart with a new SparkContext),
  // weak keys age destroyed broadcasts out with GC
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.broadcast.Broadcast[Map[Long, Array[Double]]],
      java.util.concurrent.ConcurrentHashMap[Long, Array[Array[Double]]]]())

  private def lutsFor(
      bc: org.apache.spark.broadcast.Broadcast[Map[Long, Array[Double]]],
      books: Array[Array[Array[Double]]], subDim: Int)
      : java.util.concurrent.ConcurrentHashMap[Long, Array[Array[Double]]] =
    cache.synchronized {
      val got = cache.get(bc)
      if (got != null) got
      else {
        val m = new java.util.concurrent.ConcurrentHashMap[Long, Array[Array[Double]]]()
        cache.put(bc, m)
        m
      }
    }

  private def build(
      bc: org.apache.spark.broadcast.Broadcast[Map[Long, Array[Double]]],
      books: Array[Array[Array[Double]]], subDim: Int)
      : java.util.function.Function[Long, Array[Array[Double]]] =
    (qid: Long) => {
      val q = bc.value.getOrElse(qid, throw new IllegalStateException(
        s"pq_adc_score_set: query id $qid not in the broadcast query set"))
      Array.tabulate(books.length) { sub =>
        val off = sub * subDim
        books(sub).map { c =>
          var d = 0.0; var j = 0
          while (j < subDim) { d += q(off + j) * c(j); j += 1 }
          d
        }
      }
    }
}

/** Query-SET exact inner product (the re-rank half of
  * [[graft.operators.IvfPq.topKBatch]]): dot(query(qid), vec) with the
  * query vectors in one broadcast — the [[CosineSim]] arithmetic
  * contract (each element widens float→double BEFORE multiplying, one
  * sequential left fold) so scores hash-match the oracle's
  * `list_sum(list_transform(...))`. Unknown qid is a loud error;
  * a dimension mismatch returns null (the zip_with convention). */
case class DotProductSet(left: Expression, right: Expression,
    qvecs: org.apache.spark.broadcast.Broadcast[Map[Long, Array[Double]]])
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product_set"

  @transient private lazy val vecIsFloat = right.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"dot_product_set needs array<float|double>, got $other")
  }

  override protected def nullSafeEval(qidAny: Any, vecAny: Any): Any = {
    val q = qvecs.value.getOrElse(qidAny.asInstanceOf[Long],
      throw new IllegalStateException(
        s"dot_product_set: query id $qidAny not in the broadcast query set"))
    val v = vecAny.asInstanceOf[ArrayData]
    if (v.numElements() != q.length) return null
    var s = 0.0
    var i = 0
    while (i < q.length) {
      if (v.isNullAt(i)) return null
      val x = if (vecIsFloat) v.getFloat(i).toDouble else v.getDouble(i)
      s += q(i) * x
      i += 1
    }
    s
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductSet =
    copy(left = newLeft, right = newRight)
}

object GraftExpressions {
  import org.apache.spark.sql.graft.ColumnBridge.{column, expression}

  def cosine_sim(a: Column, b: Column): Column =
    column(CosineSim(expression(a), expression(b)))

  def pq_adc_score_set(qid: Column, codes: Column,
      qvecs: org.apache.spark.broadcast.Broadcast[Map[Long, Array[Double]]],
      books: Array[Array[Array[Double]]], subDim: Int): Column =
    column(PqAdcScoreSet(expression(qid), expression(codes), qvecs, books, subDim))

  def dot_product_set(qid: Column, vec: Column,
      qvecs: org.apache.spark.broadcast.Broadcast[Map[Long, Array[Double]]]): Column =
    column(DotProductSet(expression(qid), expression(vec), qvecs))

  def shingle_hashes(text: Column, k: Int): Column =
    column(ShingleHashes(expression(text), k))

  def term_buckets(text: Column, numBuckets: Int): Column =
    column(TermBuckets(expression(text), numBuckets))

  def word_shingle_strings(text: Column, k: Int, distinct: Boolean): Column =
    column(WordShingleStrings(expression(text), k, distinct))

  def oov_count(text: Column,
      vocab: org.apache.spark.broadcast.Broadcast[Array[String]]): Column =
    column(OovCount(expression(text), vocab))

  def bloom_hit_count(hashes: Column,
      filter: org.apache.spark.broadcast.Broadcast[GraftBloom]): Column =
    column(BloomHitCount(expression(hashes), filter))

  def nfc_normalize(text: Column): Column =
    column(NfcNormalize(expression(text)))

  def unigram_encode_stat(word: Column,
      vocab: org.apache.spark.broadcast.Broadcast[Array[(String, Long)]],
      maxPieceLen: Int): Column =
    column(UnigramEncodeStat(expression(word), vocab, maxPieceLen))

  def unigram_doc_stats(text: Column,
      vocab: org.apache.spark.broadcast.Broadcast[Array[(String, Long)]],
      maxPieceLen: Int): Column =
    column(UnigramDocStats(expression(text), vocab, maxPieceLen))

  def unigram_segment(word: Column,
      vocab: org.apache.spark.broadcast.Broadcast[Array[(String, Long)]],
      maxPieceLen: Int): Column =
    column(UnigramSegment(expression(word), vocab, maxPieceLen))

  def lang_id(c: Column): Column = column(LangIdExpression(expression(c)))

  def winnow_fingerprint(c: Column): Column =
    column(WinnowFingerprint(expression(c), 3, 4))

  def minhash_signature(hashes: Column, numHashes: Int): Column =
    column(MinHashSignature(expression(hashes), numHashes))

  def simhash64(featureHashes: Column): Column =
    column(SimHash64(expression(featureHashes)))

  def hyperplane_buckets(vec: Column, dim: Int, numTables: Int,
      bitsPerTable: Int): Column =
    column(HyperplaneBuckets(expression(vec), dim, numTables, bitsPerTable))

  def nearest_centroids(vec: Column, centroids: Array[Array[Double]],
      nProbe: Int): Column =
    column(NearestCentroids(expression(vec), centroids, nProbe))

  def nearest_centroid_dist(vec: Column,
      centroids: Array[Array[Double]]): Column =
    column(NearestCentroidDist(expression(vec), centroids))

  def image_meta(bin: Column): Column =
    column(ImageMetaExpression(expression(bin)))

  def image_dims(bin: Column): Column =
    column(ImageDims(expression(bin)))

  def audio_meta(bin: Column): Column =
    column(AudioMeta(expression(bin)))

  def video_meta(bin: Column): Column =
    column(VideoMeta(expression(bin)))

  def thumbnail_checksum(bin: Column, maxSide: Int): Column =
    column(ThumbnailChecksumExpression(expression(bin), maxSide))

  def byte_histogram(bin: Column, bins: Int = 16): Column =
    column(ByteHistogramExpression(expression(bin), bins))

  /** Register as SQL functions (`SELECT lang_id(text) ...`,
    * `cosine_sim(a, b)` for embedding similarity in SQL). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "lang_id", exprs => LangIdExpression(exprs.head), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "winnow_fingerprint", exprs => WinnowFingerprint(exprs.head, 3, 4), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_sim", exprs => CosineSim(exprs(0), exprs(1)), "scala_udf")
  }
}
