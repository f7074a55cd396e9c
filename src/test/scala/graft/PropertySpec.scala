package graft

import graft.functions.Aggregators
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** Property-based checks of the pure kernels (no Spark session needed —
  * these are the laws the distributed versions rely on). */
object PropertySpec extends Properties("graft.kernels") {

  property("fix6 quantization is order/partitioning independent") =
    forAll(Gen.listOf(Gen.chooseNum(-1e9, 1e9)), Gen.chooseNum(1, 7)) {
      (xs: List[Double], k: Int) =>
        def q(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong
        val whole = xs.map(q).sum
        val parts = xs.grouped(k).map(_.map(q).sum).sum
        whole == parts
    }

  property("KMin merge is commutative, bounded, equals model") =
    forAll(Gen.listOf(Gen.chooseNum(Long.MinValue, Long.MaxValue)),
      Gen.listOf(Gen.chooseNum(Long.MinValue, Long.MaxValue))) {
      (a: List[Long], b: List[Long]) =>
        val agg = Aggregators.KMin(5)
        val ba = a.foldLeft(agg.zero)(agg.reduce)
        val bb = b.foldLeft(agg.zero)(agg.reduce)
        val m1 = agg.merge(ba, bb)
        val m2 = agg.merge(bb, ba)
        m1 == m2 && m1.size <= 5 && m1 == (a ++ b).distinct.sorted.take(5)
    }

  property("TopKBy merge is commutative, bounded, equals sort-take model") =
    forAll(
      Gen.listOf(Gen.zip(Gen.chooseNum(-10.0, 10.0), Gen.chooseNum(0L, 50L))),
      Gen.listOf(Gen.zip(Gen.chooseNum(-10.0, 10.0), Gen.chooseNum(0L, 50L)))) {
      (a: List[(Double, Long)], b: List[(Double, Long)]) =>
        val agg = Aggregators.TopKBy(4)
        def rows(l: List[(Double, Long)]) = l.map { case (s, i) => (s, i, i * 2) }
        val ba = rows(a).foldLeft(agg.zero)(agg.reduce)
        val bb = rows(b).foldLeft(agg.zero)(agg.reduce)
        val m1 = agg.merge(ba, bb)
        val m2 = agg.merge(bb, ba)
        // model: global sort by (score desc, id asc), distinct rows, take 4
        val model = (rows(a) ++ rows(b)).distinct
          .sortBy { case (s, i, _) => (-s, i) }.take(4)
        m1 == m2 && m1.size <= 4 && m1 == model
    }

  property("universal minhash variant stays in [0, P)") = {
    val P = 1000000007L
    forAll(Gen.chooseNum(0L, P - 1), Gen.chooseNum(0, 15)) { (v: Long, s: Int) =>
      val h = (v * (2 * s + 1) + s * 7919) % P
      h >= 0 && h < P
    }
  }

  property("concat-and-slice packing laws (t_pack_sequences kernel)") =
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(1L, 5000L)),
      Gen.chooseNum(64L, 4096L)) { (toks: List[Long], budget: Long) =>
        // model the query's integer math: start = running sum before,
        // window of a doc = start div budget, straddle iff last token's
        // window differs
        val starts = toks.scanLeft(0L)(_ + _).init
        val firstW = starts.map(_ / budget)
        val lastW = starts.zip(toks).map { case (s, n) => (s + n - 1) / budget }
        val straddling = firstW.zip(lastW).count { case (a, b) => a != b }
        val tot = toks.sum
        val nWindows = (tot + budget - 1) / budget
        val claims = Seq(
          straddling <= toks.size, // a doc straddles at most once per count
          nWindows >= 1 && nWindows <= tot, // ceil-division sanity
          firstW.head == 0L, // first doc starts in window 0
          // every doc's windows are within the total window count
          lastW.forall(_ <= nWindows - 1 + 1), // last token may touch final window
          firstW == firstW.sorted) // windows are monotone in doc order
        claims.forall(identity)
    }

  property("affine int8 quantization error is bounded by half a step") =
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(-1e3, 1e3))) { (xs: List[Double]) =>
      val lo = xs.min
      val hi = xs.max
      xs.forall { v =>
        val q = if (hi > lo) math.floor((v - lo) / (hi - lo) * 255.0 + 0.5) else 0.0
        val deq = lo + q * (hi - lo) / 255.0
        // floor(x+0.5) quantization ⇒ |err| ≤ step/2 (+ double round-off)
        math.abs(v - deq) <= (if (hi > lo) (hi - lo) / 255.0 / 2.0 else 0.0) + 1e-9
      }
    }

  property("SimHash60.compute equals the hex-string reference model") = {
    // reference model: the legacy pipeline's exact arithmetic — Java
    // split-keeping-trailing-empties, md5 HEX string, first 15 hex chars
    // parsed base-16, +1/-1 votes per occurrence. The production kernel
    // does a byte-level space scan and reads the digest's top 60 bits
    // directly (be64 >>> 4); this property pins those two shortcuts.
    def model(text: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val toks = {
        // split(" ", -1) semantics: ALL empty tokens kept
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var start = 0
        val s = text
        var i = 0
        while (i <= s.length) {
          if (i == s.length || s.charAt(i) == ' ') {
            out += s.substring(start, i); start = i + 1
          }
          i += 1
        }
        out.toSeq
      }
      val votes = new Array[Int](60)
      toks.foreach { t =>
        val hex = md.digest(t.getBytes("UTF-8"))
          .map(b => f"${b & 0xff}%02x").mkString
        val h = java.lang.Long.parseLong(hex.take(15), 16)
        (0 until 60).foreach(b => votes(b) += (if (((h >> b) & 1L) == 1L) 1 else -1))
      }
      (0 until 60).foldLeft(0L)((acc, b) => if (votes(b) > 0) acc | (1L << b) else acc)
    }
    val token = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(12)), Gen.const(""),
      Gen.oneOf("tökn", "日本語", "naïve", "émoji🙂", "tab\tchar"))
    val doc = Gen.chooseNum(0, 40).flatMap(n =>
      Gen.listOfN(n, token).map(_.mkString(" ")))
    forAll(doc) { text =>
      graft.functions.SimHash60.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(text)) == model(text)
    }
  }
}
