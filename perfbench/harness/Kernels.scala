package perfbench

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import org.roaringbitmap.longlong.Roaring64NavigableMap

import graft.functions.{BitmapOps, CdcBoundariesExpr, CompressKernels, Kmv, SequenceMatch,
  TextKernels, VectorKernels}

/** Kernel layer: direct calls into the `graft.functions` per-row
  * kernels on seeded in-memory rows, no Spark. Each kernel's output on
  * every row is first compared with a plain reference written here, so a
  * faster but wrong kernel fails the run; then it is timed, and the
  * result is the median ns per row over several repetitions. */
object Kernels {
  private final val Rows = 512
  private final val Reps = 5
  private final val RepMs = 25.0

  /** (kernel name, per-row call, per-row reference check) */
  private final case class K(name: String, call: Int => Any, ok: Int => Boolean)

  def run(seed: Long): Map[String, Any] = {
    val rnd = new scala.util.Random(seed)
    val vocab = Array.fill(4000)(Iterator.fill(2 + rnd.nextInt(8))(('a' + rnd.nextInt(26)).toChar).mkString)
    def doc(): String = {
      val sb = new StringBuilder
      while (sb.length < 300) { if (sb.nonEmpty) sb += ' '; sb ++= vocab(rnd.nextInt(vocab.length)) }
      sb.toString
    }
    val texts = Array.fill(Rows)(doc())
    val utf = texts.map(UTF8String.fromString)
    val embs = Array.fill(Rows)(Array.fill(64)((rnd.nextGaussian() * 0.5).toFloat))
    val embData: Array[ArrayData] = embs.map(e => new GenericArrayData(e.map(x => x: Any)))
    val tokens: Array[ArrayData] = texts.map(t =>
      new GenericArrayData(t.split(" ").map(w => UTF8String.fromString(w): Any)))
    val shingles: Array[ArrayData] = texts.map { t =>
      val w = t.split(" ")
      new GenericArrayData(w.sliding(3).map(g => UTF8String.fromString(g.mkString(" ")): Any).toArray)
    }
    val sortedSets: Array[ArrayData] = Array.fill(Rows)(
      new GenericArrayData(Array.fill(200)(rnd.nextInt(2000).toLong).distinct.sorted.map(x => x: Any)))
    val accented = "àáâäçèéêëìíîïñòóôöùúûüýÿ"
    val composed = Array.fill(Rows)(texts(rnd.nextInt(Rows)).map(c =>
      if (rnd.nextInt(6) == 0) accented(rnd.nextInt(accented.length)) else c))
    val decomposed = composed.map(s =>
      UTF8String.fromString(java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD)))
    val events = Array.fill(Rows) {
      val n = 40
      val ts = Array.tabulate(n)(i => i * 1000000L + rnd.nextInt(999999))
      val mask = Array.fill(n)(rnd.nextInt(8))
      (ts, mask)
    }
    val pattern = SequenceMatch.parse("(?1).*(?2).*(?3)")
    val units = Array.fill(Rows)(Array.fill(1000)(rnd.nextInt(5000) / 5000.0))
    val bitmaps = Array.fill(Rows) {
      val vals = Array.fill(500)(rnd.nextInt(1 << 20).toLong)
      val bm = new Roaring64NavigableMap()
      vals.foreach(bm.addLong)
      (vals.toSet, BitmapOps.ser(bm))
    }

    val mhK = 64
    val mhSeed = rnd.nextLong()
    val mhA = Array.tabulate(mhK)(j => mix(mhSeed * 0x100000001b3L + j) | 1L)
    val mhB = Array.tabulate(mhK)(j => mix(mhSeed ^ (j * 0xff51afd7ed558ccdL)))
    val shA = Array.fill(63)(rnd.nextLong() | 1L)
    val shB = Array.fill(63)(rnd.nextLong())
    val shSeed = rnd.nextLong()
    val planes = 8
    val tables = 4
    val weights = Array.fill(planes * tables)(Array.fill(64)(rnd.nextDouble() * 2 - 1))
    val winK = 24
    val winW = 8
    val winBk = pow(FnvPrime, winK - 1)
    val cdcW = 16
    val cdcDiv = 64L
    val cdcBw = (0 until cdcW - 1).foldLeft(1L)((r, _) => r * CdcBoundariesExpr.Base % CdcBoundariesExpr.Mod)
    val kmvK = 256
    val grams = 5

    def longs(a: ArrayData): Seq[Long] = (0 until a.numElements()).map(a.getLong)
    def ints(a: ArrayData): Seq[Int] = (0 until a.numElements()).map(a.getInt)
    def close(a: Double, b: Double): Boolean = math.abs(a - b) <= 1e-12 * math.max(1.0, math.abs(b))

    val kernels = Seq(
      K("cosine",
        i => VectorKernels.cosine(embData(i), embData((i + 1) % Rows)),
        i => close(VectorKernels.cosine(embData(i), embData((i + 1) % Rows)),
          refCosine(embs(i).map(_.toDouble), embs((i + 1) % Rows).map(_.toDouble)))),
      K("minhash_signature",
        i => VectorKernels.minhashSignature(shingles(i), mhK, mhSeed, mhA, mhB),
        i => longs(VectorKernels.minhashSignature(shingles(i), mhK, mhSeed, mhA, mhB)) ==
          refMinhash(shingles(i), mhSeed, mhA, mhB)),
      K("shingle_hashes",
        i => VectorKernels.shingleHashes(utf(i), 5),
        i => longs(VectorKernels.shingleHashes(utf(i), 5)) == refShingles(texts(i), 5)),
      K("winnowing",
        i => VectorKernels.winnowing(utf(i), winK, winW, winBk),
        i => longs(VectorKernels.winnowing(utf(i), winK, winW, winBk)) == refWinnow(texts(i), winK, winW)),
      K("cdc_boundaries",
        i => VectorKernels.cdcBoundaries(utf(i), cdcW, CdcBoundariesExpr.Base, CdcBoundariesExpr.Mod, cdcDiv, cdcBw),
        i => ints(VectorKernels.cdcBoundaries(utf(i), cdcW, CdcBoundariesExpr.Base,
          CdcBoundariesExpr.Mod, cdcDiv, cdcBw)) == refCdc(texts(i), cdcW, cdcDiv)),
      K("sorted_intersect_count",
        i => VectorKernels.sortedIntersectCount(sortedSets(i), sortedSets((i + 1) % Rows)),
        i => VectorKernels.sortedIntersectCount(sortedSets(i), sortedSets((i + 1) % Rows)) ==
          (longs(sortedSets(i)).toSet intersect longs(sortedSets((i + 1) % Rows)).toSet).size),
      K("simhash64",
        i => VectorKernels.simhash64(tokens(i), shSeed, shA, shB),
        i => VectorKernels.simhash64(tokens(i), shSeed, shA, shB) == refSimhash(tokens(i), shSeed, shA, shB)),
      K("hyperplane_buckets",
        i => VectorKernels.hyperplaneBuckets(embData(i), 64, planes, tables, weights),
        i => longs(VectorKernels.hyperplaneBuckets(embData(i), 64, planes, tables, weights)) ==
          refBuckets(embs(i), planes, tables, weights)),
      K("int8_cos",
        i => VectorKernels.int8CosQ(embData(i), VectorKernels.int8Scale(embData(i))),
        i => close(VectorKernels.int8CosQ(embData(i), VectorKernels.int8Scale(embData(i))), refInt8Cos(embs(i)))),
      K("nfc",
        i => TextKernels.nfc(decomposed(i)),
        i => TextKernels.nfc(decomposed(i)).toString == composed(i)),
      K("deflate_ratio",
        i => CompressKernels.deflateRatio(utf(i)),
        i => CompressKernels.deflateRatio(utf(i)) == refDeflate(texts(i))),
      K("distinct_grams",
        i => CompressKernels.distinctGrams(utf(i), grams),
        i => CompressKernels.distinctGrams(utf(i), grams) == texts(i).sliding(grams).toSet.size),
      K("sequence_match",
        i => SequenceMatch.matches(events(i)._1, events(i)._2, pattern),
        i => SequenceMatch.matches(events(i)._1, events(i)._2, pattern) == refSequence(events(i)._2, Seq(1, 2, 3))),
      K("kmv_offer",
        i => { val s = new Kmv.Sketch(kmvK); units(i).foreach(s.offer); s.result },
        i => { val s = new Kmv.Sketch(kmvK); units(i).foreach(s.offer)
               val ref = units(i).distinct.sorted.take(kmvK)
               s.result == ((ref.length.toLong, if (ref.length >= kmvK) Some(ref.last) else None)) }),
      K("bitmap_or",
        i => BitmapOps.or(bitmaps(i)._2, bitmaps((i + 1) % Rows)._2),
        i => BitmapOps.count(BitmapOps.or(bitmaps(i)._2, bitmaps((i + 1) % Rows)._2)) ==
          (bitmaps(i)._1 ++ bitmaps((i + 1) % Rows)._1).size))

    val wrong = kernels.filterNot(k => (0 until Rows).forall(k.ok)).map(_.name)
    val ns = kernels.map(k => s"functions.${k.name}_ns" -> time(k.call)).toMap
    Map("metrics" -> ns, "checked" -> kernels.size, "wrong" -> wrong)
  }

  /** Median over [[Reps]] repetitions of ns per row; each repetition
    * sweeps all rows until at least [[RepMs]] have passed. */
  private def time(call: Int => Any): Double = {
    var sink = 0
    (0 until Rows).foreach(i => sink ^= call(i).hashCode)
    val reps = (0 until Reps).map { _ =>
      var n = 0L
      val t0 = System.nanoTime()
      while ((System.nanoTime() - t0) < RepMs * 1e6) {
        var i = 0
        while (i < Rows) { sink ^= call(i).hashCode; i += 1 }
        n += Rows
      }
      (System.nanoTime() - t0).toDouble / n
    }.sorted
    if (sink == 42) print("")
    reps(Reps / 2)
  }

  // ---------------------------------------------------------- references

  private final val FnvPrime = 0x100000001b3L

  private def pow(b: Long, e: Int): Long = (0 until e).foldLeft(1L)((r, _) => r * b)

  private def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  private def xxh(s: UTF8String, seed: Long): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, seed)

  private def xxh(s: String, seed: Long): Long = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, seed)
  }

  private def refCosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    for (i <- a.indices) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
    if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def refMinhash(sh: ArrayData, seed: Long, as: Array[Long], bs: Array[Long]): Seq[Long] = {
    val hs = (0 until sh.numElements()).map(i => xxh(sh.getUTF8String(i), seed))
    as.indices.map(j => hs.map(h => as(j) * h + bs(j)).foldLeft(Long.MaxValue)(math.min))
  }

  private def refShingles(text: String, n: Int): Seq[Long] = {
    val toks = text.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
    toks.sliding(n).filter(_.length == n).map { g =>
      mix(g.foldLeft(-3750763034362895579L)((h, t) => h * FnvPrime + xxh(t, 42L)))
    }.toSeq.distinct.sorted
  }

  private def refWinnow(text: String, k: Int, w: Int): Seq[Long] = {
    val s = text.toLowerCase(java.util.Locale.ROOT)
    if (s.length < k) return Nil
    val hs = (0 to s.length - k).map(i => mix(s.substring(i, i + k).foldLeft(0L)((h, c) => h * FnvPrime + c)))
    val out = mutable.LinkedHashSet[Long]()
    for (j <- hs.indices if j >= w - 1 || j == hs.length - 1)
      out += hs.slice(math.max(0, j - w + 1), j + 1).min
    out.toSeq
  }

  private def refCdc(text: String, w: Int, div: Long): Seq[Int] = {
    val (b, m) = (CdcBoundariesExpr.Base, CdcBoundariesExpr.Mod)
    (w - 1 until text.length).filter { i =>
      val h = (0 until w).foldLeft(0L) { (acc, j) =>
        (acc + text.charAt(i - j).toLong * (0 until j).foldLeft(1L)((r, _) => r * b % m)) % m
      }
      h % div == 0
    }
  }

  private def refSimhash(toks: ArrayData, seed: Long, as: Array[Long], bs: Array[Long]): Long = {
    val hs = (0 until toks.numElements()).map(i => xxh(toks.getUTF8String(i), seed))
    (0 until 63).foldLeft(0L) { (sig, j) =>
      val votes = hs.map(h => if (as(j) * h + bs(j) < 0) -1 else 1).sum
      if (votes > 0) sig | (1L << j) else sig
    }
  }

  private def refBuckets(x: Array[Float], planes: Int, tables: Int, w: Array[Array[Double]]): Seq[Long] =
    (0 until tables).map { t =>
      (0 until planes).foldLeft(0L) { (b, p) =>
        val dot = x.indices.foldLeft(0.0)((acc, d) => acc + x(d).toDouble * w(t * planes + p)(d))
        if (dot > 0) b | (1L << p) else b
      }
    }

  private def refInt8Cos(x: Array[Float]): Double = {
    val xs = x.map(_.toDouble)
    val scale = math.max(xs.map(math.abs).max, 1e-12) / 127.0
    refCosine(xs, xs.map(v => math.floor(v / scale + 0.5) * scale))
  }

  private def refDeflate(text: String): Double = {
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.DeflaterOutputStream(bos)
    z.write(bytes); z.close()
    bos.size().toDouble / bytes.length
  }

  /** Anchors in order, each on a later event (timestamps are distinct and
    * increasing here), any events between: greedy earliest match. */
  private def refSequence(mask: Array[Int], anchors: Seq[Int]): Boolean =
    anchors.foldLeft(0) { (from, a) =>
      if (from < 0) -1
      else {
        val q = (from until mask.length).find(i => (mask(i) & (1 << (a - 1))) != 0)
        q.map(_ + 1).getOrElse(-1)
      }
    } >= 0
}
