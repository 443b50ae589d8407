package graft

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{BloomNgramHits, ClsFeatures, ClsProbFold, DsirFold, NgramSetHits,
  ShingleArray}

/** Property-based cross-checks for the native codegen'd expressions'
  * `compute` cores — each checked against an INDEPENDENT reference
  * implementation: the reference derives the 60-bit portable hash by
  * parsing the first 15 hex characters of the digest (the oracle's
  * `conv(substr(sha2(x,256),1,15),16,10)` form), where the expressions
  * read digest bytes with shifts — so a bit error in either derivation
  * fails here, not in a cross-engine hash mismatch at the gate.
  */
class PropertyExprSpec extends AnyFunSuite {

  private def check(p: Prop, n: Int = 200): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  private def arr(toks: Seq[String]): ArrayData =
    new GenericArrayData(toks.map(t => UTF8String.fromString(t): Any).toArray)
  private def larr(v: Seq[Long]): ArrayData =
    new GenericArrayData(v.toArray[Any])

  /** Hex-parse derivation of the 60-bit portable hash. */
  private def hex60(s: String): Long = {
    val md = MessageDigest.getInstance("SHA-256")
    val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  private val token: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr.map(_.take(6)),
    Gen.const(""),
    Gen.oneOf("the", "a", "b", "spam", "München", "naïve", "x y"))
  private val tokens: Gen[List[String]] = Gen.listOf(token)

  test("ShingleArray == sliding-window reference (all n)") {
    val gen = for { ts <- tokens; n <- Gen.chooseNum(1, 5) } yield (ts, n)
    check(Prop.forAll(gen) { case (ts, n) =>
      val got = ShingleArray(null, n).compute(arr(ts))
        .toObjectArray(org.apache.spark.sql.types.StringType)
        .map(_.toString).toSeq
      val want =
        if (ts.length < n) Seq.empty[String]
        else ts.sliding(n).map(_.mkString(" ")).toSeq
      got == want
    })
  }

  test("DsirFold == hex-parse reference mean") {
    val gen = for {
      ts <- tokens
      b <- Gen.chooseNum(1, 64)
      lr <- Gen.listOfN(b, Gen.chooseNum(-20000000L, 20000000L))
    } yield (ts, lr)
    check(Prop.forAll(gen) { case (ts, lr) =>
      val got = DsirFold(null, null).compute(arr(ts), larr(lr))
      val want =
        if (ts.isEmpty) 0.0
        else {
          val acc = ts.map(t => lr((hex60(t) % lr.length).toInt)).sum
          BigDecimal(java.lang.Double.toString((acc / 1e6) / ts.length))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        }
      got == want
    })
  }

  test("ClsProbFold == BigDecimal reference probability") {
    val gen = for {
      ts <- tokens
      b <- Gen.chooseNum(1, 48)
      w <- Gen.listOfN(b + 1, Gen.chooseNum(-5000000L, 5000000L))
    } yield (ts, w)
    check(Prop.forAll(gen) { case (ts, w) =>
      val buckets = w.length - 1
      val got = ClsProbFold(null, null)
        .compute(ClsFeatures.row(arr(ts), buckets), larr(w))
      var picos = BigInt(w(buckets)) * 1000000
      if (ts.nonEmpty && buckets > 0) {
        ts.groupBy(t => (hex60(t) % buckets).toInt).foreach { case (b, grp) =>
          val x = BigDecimal(java.lang.Double.toString(
            grp.length.toDouble / ts.length))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          picos += BigInt(w(b)) * math.round(x * 1e6)
        }
      }
      val sMicros = (BigDecimal(picos) / 1000000)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      val pMicros = math.min(1000000L,
        math.max(0L, 500000L + Math.floorDiv(sMicros, 4)))
      // bit-equality against pMicros/1e6 IS the 1e-6-grid guarantee — a
      // naive `got*1e6 == rint(got*1e6)` check false-fails on doubles like
      // 0.500002 whose *1e6 lands a few ulps off the integer
      got == pMicros.toDouble / 1e6 && got >= 0.0 && got <= 1.0
    })
  }

  test("NgramSetHits == distinct sliding n-grams found in the set") {
    // one instance per n across every case: its hash set is cached per set
    // array, so each new set must be probed afresh
    val kernels = (1 to 3).map(n => n -> NgramSetHits(null, null, n)).toMap
    def grams(ts: Seq[String], n: Int) =
      if (ts.length < n) Seq.empty[String]
      else ts.sliding(n).map(_.mkString(" ")).toSeq
    val gen = for {
      ts <- tokens
      n <- Gen.chooseNum(1, 3)
      other <- tokens
      picked <- Gen.someOf(grams(ts, n))
    } yield (ts, n, grams(other, n) ++ picked)
    check(Prop.forAll(gen) { case (ts, n, set) =>
      kernels(n).compute(arr(ts), arr(set)) ==
        grams(ts, n).distinct.count(set.contains).toLong
    })
  }

  test("BloomNgramHits == hex-parse set-membership reference") {
    val gen = for {
      ts <- tokens
      n <- Gen.chooseNum(1, 4)
      nh <- Gen.chooseNum(1, 3)
      words <- Gen.listOfN(4, Gen.chooseNum(Long.MinValue, Long.MaxValue))
    } yield (ts, n, nh, words)
    check(Prop.forAll(gen) { case (ts, n, nh, words) =>
      val got = BloomNgramHits(null, null, n, nh).compute(arr(ts), larr(words))
      val mBits = words.length * 64L
      val grams = if (ts.length < n) Seq.empty[String]
                  else ts.sliding(n).map(_.mkString(" ")).toSeq.distinct
      val want = grams.count { g =>
        (0 until nh).forall { i =>
          val p = hex60(s"bloom$i:" + g) % mBits
          (words((p / 64).toInt) & (1L << (p % 64).toInt)) != 0L
        }
      }.toLong
      got == want
    })
  }

  test("SliceL2 == sequential slice/zip_with/aggregate reference") {
    val darr = (v: Seq[Double]) => new GenericArrayData(v.toArray[Any])
    val gen = for {
      n <- Gen.chooseNum(0, 12)
      a <- Gen.listOfN(n, Gen.chooseNum(-5.0, 5.0))
      bLen <- Gen.oneOf(Gen.const(n), Gen.chooseNum(0, 12))
      b <- Gen.listOfN(bLen, Gen.chooseNum(-5.0, 5.0))
      st <- Gen.chooseNum(1, 14)
      ln <- Gen.chooseNum(0, 14)
    } yield (a, b, st, ln)
    check(Prop.forAll(gen) { case (a, b, st, ln) =>
      val got = graft.functions.SliceL2(null, null, null, null)
        .compute(darr(a), darr(b), st, ln)
      // the HOF chain: slice (1-based, clamped), zip_with null-padding,
      // sequential fold, HALF_UP round 6
      def slice(v: Seq[Double]) = {
        val from = st - 1
        if (from < 0 || from >= v.length) Seq.empty[Double]
        else v.slice(from, from + math.min(ln, v.length - from))
      }
      val (sa, sb) = (slice(a), slice(b))
      val want: java.lang.Double =
        if (sa.length != sb.length) null
        else {
          var acc = 0.0
          sa.indices.foreach { i =>
            val d = sa(i) - sb(i); acc += d * d
          }
          java.math.BigDecimal.valueOf(acc)
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        }
      got == want
    })
  }

  // Text mixing every boundary class the token counters must respect: the
  // six ASCII `\s` whitespace chars, lowercase/uppercase runs, digits,
  // ASCII punctuation, non-ASCII whitespace (NBSP — NOT Java `\s`),
  // accented and CJK letters, and supplementary-plane emoji (4-byte UTF-8,
  // one code point each).
  private val tokenText: Gen[String] = Gen.listOf(Gen.oneOf(
    Gen.oneOf(" ", "\t", "\n", "", "\f", "\r"),
    Gen.oneOf("a", "bc", "def", "A", "Ab", "XYz", "0", "42", ".", "!?", ","),
    Gen.oneOf(" ", "é", "ß", "的", "😀", "💩x"),
    Gen.alphaNumStr.map(_.take(8)))).map(_.mkString)

  test("WsTokenCount / BpeTokenCount == regexp_count reference") {
    import graft.functions.{Text, TokenCounts}
    val wsRe = java.util.regex.Pattern.compile("\\S+")
    val bpeRe = java.util.regex.Pattern.compile(Text.BpeTokenPattern)
    def reCount(p: java.util.regex.Pattern, s: String): Int = {
      val m = p.matcher(s)
      var n = 0
      while (m.find()) n += 1
      n
    }
    check(Prop.forAll(tokenText) { s =>
      val u = UTF8String.fromString(s)
      TokenCounts.countWs(u) == reCount(wsRe, s) &&
        TokenCounts.countBpe(u) == reCount(bpeRe, s)
    }, n = 500)
  }

  test("CmsPositions == hex-window reference (the oracle's substr form)") {
    // window i = hex chars [1+15i, 15+15i] of sha256, mod w — exactly
    // Sketches.cmsPosSql; the expression reads nibbles with shifts
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def ref(tok: String, h: Int, w: Long): Seq[Long] = {
      md.reset()
      val hex = md.digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (0 until h).map(i =>
        java.lang.Long.parseLong(hex.substring(15 * i, 15 * i + 15), 16) % w)
    }
    val gen = for {
      t <- tokenText; h <- Gen.chooseNum(1, 4)
      w <- Gen.oneOf(1L, 7L, 64L, 4096L, 1L << 40)
    } yield (t, h, w)
    check(Prop.forAll(gen) { case (t, h, w) =>
      graft.functions.CmsPositions(null, h, w)
        .compute(UTF8String.fromString(t))
        .toLongArray.toSeq == ref(t, h, w)
    }, n = 400)
  }
}
