package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._

/** ScalaCheck property identities (SURVEY §5: "we add ScalaCheck
  * generators for expression-level identities" — the reference has no
  * property testing; this is our addition). Each property runs through
  * ScalaCheck's own driver; failure messages carry the shrunk
  * counterexample. */
class PropertiesSpec extends AnyFunSuite {

  private def check(name: String, prop: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, s"$name: $res")
  }

  test("MATCH_RECOGNIZE NFA segmentation equals regex backtracking") {
    // SQL row-pattern preferment order IS regex backtracking order
    // (greedy tries longer first, reluctant shorter, alternation
    // left-to-right), so on context-free disjoint single-char classes
    // the NFA's (start, labels) segmentation under SKIP PAST LAST ROW
    // must equal java.util.regex's repeated leftmost match. Quantified
    // GROUP bodies are kept non-nullable (bare atoms) — the one corner
    // where engines' empty-iteration conventions legitimately differ.
    val atom = Gen.oneOf("A", "B", "C")
    val quant = Gen.oneOf("", "*", "+", "?", "*?", "+?", "??", "{1,2}", "{2,3}?", "{0,2}")
    val basic = for { a <- atom; q <- quant } yield a + q
    val bareSeq = Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, atom)).map(_.mkString(" "))
    val groupCore = Gen.oneOf(
      bareSeq,
      for { a <- bareSeq; b <- bareSeq } yield s"$a | $b")
    val group = for {
      c <- groupCore
      q <- Gen.oneOf("", "*", "+", "?", "*?", "+?", "{1,3}")
    } yield s"( $c )$q"
    val pattern = Gen.choose(1, 3)
      .flatMap(n => Gen.listOfN(n, Gen.frequency(3 -> basic, 2 -> group)))
      .map(_.mkString(" "))
    val input = Gen.listOf(Gen.oneOf('a', 'b', 'c')).map(_.mkString)

    def regexOf(p: String): String =
      p.replace("A", "a").replace("B", "b").replace("C", "c")
        .replace(" ", "").replace("(", "(?:")

    check("mr-vs-regex", Prop.forAll(pattern, input) { (p, s) =>
      val nfa = graft.operators.MatchRecognize.segmentForTest(p, s.length,
        (i, v) => s.charAt(i) == v.toLowerCase.charAt(0))
      val m = java.util.regex.Pattern.compile(regexOf(p)).matcher(s)
      val ref = scala.collection.mutable.ArrayBuffer[(Int, String)]()
      var i = 0
      var go = true
      while (go && i < s.length && m.find(i)) {
        if (m.end > m.start) { ref += ((m.start, s.substring(m.start, m.end))); i = m.end }
        else if (m.start >= s.length) go = false
        else i = m.start + 1
      }
      val nfaView = nfa.map { case (st, labels) => (st, labels.mkString.toLowerCase) }
      nfaView == ref.toSeq
    })
  }

  test("luhn: appending the computed check digit always validates") {
    val digits = Gen.nonEmptyListOf(Gen.choose(0, 9)).map(_.mkString)
    check("luhn", Prop.forAll(digits) { body =>
      // find the check digit by trying all ten
      (0 to 9).exists(d => GraftFunctions.luhnCheck(body + d)) &&
        (0 to 9).count(d => GraftFunctions.luhnCheck(body + d)) == 1
    })
  }

  test("quantile sketch: merge is order-insensitive and bounds hold") {
    val values = Gen.nonEmptyListOf(Gen.choose(0.01, 1e6))
    check("sketch-merge", Prop.forAll(values) { vs =>
      val a = new LogQuantileSketch(0.01)
      val b = new LogQuantileSketch(0.01)
      vs.zipWithIndex.foreach { case (v, i) => (if (i % 2 == 0) a else b).add(v) }
      val ab = new LogQuantileSketch(0.01); ab.merge(a); ab.merge(b)
      val ba = new LogQuantileSketch(0.01); ba.merge(b); ba.merge(a)
      val whole = new LogQuantileSketch(0.01); vs.foreach(whole.add)
      java.util.Arrays.equals(ab.serialize(), ba.serialize()) &&
        java.util.Arrays.equals(ab.serialize(), whole.serialize())
    })
    check("sketch-bound", Prop.forAll(values) { vs =>
      val sk = new LogQuantileSketch(0.01)
      vs.foreach(sk.add)
      val sorted = vs.sorted
      Seq(0.1, 0.5, 0.9).forall { q =>
        val rank = math.max(1, math.ceil(q * vs.length).toInt)
        val exact = sorted(rank - 1)
        math.abs(sk.quantile(q) - exact) <= math.abs(exact) * 0.011 + 1e-9
      }
    })
  }

  test("bigint qdigest: degraded state survives serialize/deserialize and merge") {
    // Force degradation: > DefaultMaxExact (4096) distinct values.
    val sk = new LongExactQuantileSketch()
    (1L to 10000L).foreach(sk.add)
    assert(sk.approx != null, "sketch should have degraded past maxExact")
    val bytes = sk.serialize()
    val rt = LongExactQuantileSketch.deserialize(bytes)
    assert(rt.approx != null)
    assert(java.util.Arrays.equals(rt.serialize(), bytes),
      "degraded round-trip must be byte-identical")
    assert(rt.count == 10000L)
    for (q <- Seq(0.1, 0.5, 0.9)) {
      val exact = math.max(1L, math.ceil(q * 10000).toLong).toDouble
      assert(math.abs(rt.quantile(q) - exact) <= exact * 0.011 + 1.0,
        s"q=$q got ${rt.quantile(q)} want ~$exact")
    }
    // merge paths crossing the exact/degraded boundary (the shuffle shape)
    val small = new LongExactQuantileSketch()
    (1L to 100L).foreach(small.add)
    val degPlusExact = LongExactQuantileSketch.deserialize(bytes)
    degPlusExact.mergeDigest(small)
    assert(degPlusExact.count == 10100L)
    val exactPlusDeg = new LongExactQuantileSketch()
    (1L to 100L).foreach(exactPlusDeg.add)
    exactPlusDeg.mergeDigest(QuantileDigest.deserialize(bytes))
    assert(exactPlusDeg.count == 10100L)
  }

  test("space-saving: counts never underestimate") {
    val keys = Gen.nonEmptyListOf(Gen.choose(0, 30).map(i => s"k$i"))
    check("space-saving", Prop.forAll(keys) { ks =>
      val ss = new SpaceSaving(10)
      ks.foreach(k => ss.add(k))
      val exact = ks.groupBy(identity).view.mapValues(_.size.toLong).toMap
      ss.top(10).forall { case (k, c) => c >= exact.getOrElse(k, 0L) }
    })
  }

  test("ngrams: count identity |ngrams(w,n)| == max(1, |w|-n+1)") {
    val words = Gen.listOf(Gen.alphaLowerStr.suchThat(_.nonEmpty))
    val ns = Gen.choose(1, 5)
    // reference semantics (TestArrayNgramsFunction): n past the array
    // length yields ONE n-gram holding the whole array
    check("ngrams", Prop.forAll(words, ns) { (w, n) =>
      GraftFunctions.ngrams(w, n).size == math.max(1, w.size - n + 1)
    })
  }

  test("simhash: permutation-insensitive under identical token multisets") {
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    val words = Gen.nonEmptyListOf(Gen.oneOf("alpha", "beta", "gamma", "delta", "eps"))
    check("simhash-perm", Prop.forAll(words) { ws =>
      // simhash sums per-token bit votes → independent of token order
      SimHashUtil.compute(u(ws.mkString(" "))) ==
        SimHashUtil.compute(u(ws.reverse.mkString(" ")))
    })
  }

  test("wilson: interval is monotone in z and contains the proportion") {
    val g = for {
      n <- Gen.choose(1L, 10000L)
      pos <- Gen.choose(0L, n)
    } yield (pos, n)
    check("wilson", Prop.forAll(g) { case (pos, n) =>
      val l1 = GraftFunctions.wilsonLower(pos, n, 1.0)
      val l2 = GraftFunctions.wilsonLower(pos, n, 2.0)
      val u1 = GraftFunctions.wilsonUpper(pos, n, 1.0)
      val u2 = GraftFunctions.wilsonUpper(pos, n, 2.0)
      val p = pos.toDouble / n
      l2 <= l1 + 1e-12 && u1 <= u2 + 1e-12 &&
        l1 <= p + 1e-12 && p <= u1 + 1e-12
    })
  }

  test("min_by_n/max_by_n: partitioned heap merge == sort-slice, serde-stable") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.types.{IntegerType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val gen = for {
      raw <- Gen.nonEmptyListOf(
        Gen.zip(Gen.alphaStr.map(_.take(6)), Gen.choose(-1000, 1000)))
      n <- Gen.choose(1, 8)
      parts <- Gen.choose(1, 4)
    } yield (raw.distinctBy(_._2), n, parts) // unique keys → deterministic
    def run(pairs: List[(String, Int)], n: Int, parts: Int,
        mk: (BoundReference, BoundReference, Literal) => MinMaxByNBase): Seq[String] = {
      val agg = mk(BoundReference(0, StringType, nullable = true),
        BoundReference(1, IntegerType, nullable = false), Literal(n))
      val bufs = pairs.grouped(math.max(1, pairs.size / parts)).map { g =>
        val b = agg.createAggregationBuffer()
        g.foreach { case (v, k) =>
          agg.update(b, InternalRow(UTF8String.fromString(v), k)) }
        agg.deserialize(agg.serialize(b)) // partial buffers survive serde
      }.toSeq
      agg.eval(bufs.reduce(agg.merge))
        .asInstanceOf[org.apache.spark.sql.catalyst.util.GenericArrayData]
        .array.map(_.asInstanceOf[UTF8String].toString).toSeq
    }
    check("min_by_n", Prop.forAll(gen) { case (pairs, n, parts) =>
      run(pairs, n, parts, MinByN(_, _, _)) ==
        pairs.sortBy(_._2).take(n).map(_._1) &&
      run(pairs, n, parts, MaxByN(_, _, _)) ==
        pairs.sortBy(-_._2).take(n).map(_._1)
    })
  }

  test("exact_quantiles buffer: partitioned merge + serde == single-pass sort") {
    val gen = for {
      vs <- Gen.nonEmptyListOf(Gen.choose(-1e6, 1e6))
      parts <- Gen.choose(1, 5)
    } yield (vs, parts)
    check("exact-quantiles-merge", Prop.forAll(gen) { case (vs, parts) =>
      val whole = new DoubleBuffer
      vs.foreach(whole.add)
      val merged = vs.grouped(math.max(1, vs.size / parts))
        .map { g =>
          val b = new DoubleBuffer; g.foreach(b.add)
          DoubleBuffer.deserialize(b.serialize()) // partials survive serde
        }
        .reduce { (a, b) => a.merge(b); a }
      java.util.Arrays.sort(whole.arr, 0, whole.n)
      java.util.Arrays.sort(merged.arr, 0, merged.n)
      merged.n == whole.n &&
        (0 until whole.n).forall(i => merged.arr(i) == whole.arr(i))
    })
  }

  test("decimal boundary: DOUBLE output cast is lossless for gate-bound values") {
    // The driver's hash compares STRING representations across engines:
    // pyarrow renders parquet DECIMAL(28,2) as Decimal('x.00') while the
    // DuckDB oracle frame holds float64 'x.0' — equal values, divergent
    // strings (the round-9 dc1/dc3 escape). The fix keeps arithmetic
    // decimal but casts final outputs to DOUBLE on both sides; this
    // property pins the "lossless" claim: any decimal whose unscaled
    // units fit 2^52 round-trips decimal → double → decimal exactly
    // (2^52, not 2^53: nearest-double error is ≤ |v|·2^-53, which only
    // stays under half a decimal ulp while |unscaled| < 2^52; the dc
    // suite's real sums are ~10^10 scaled units, far inside the bound).
    val g = for {
      unscaled <- Gen.choose(-(1L << 52) + 1, (1L << 52) - 1)
      scale <- Gen.choose(0, 6)
    } yield (unscaled, scale)
    check("decimal-double-roundtrip", Prop.forAll(g) { case (u, s) =>
      val dec = java.math.BigDecimal.valueOf(u, s)
      val back = new java.math.BigDecimal(dec.doubleValue()).setScale(
        s, java.math.RoundingMode.HALF_UP)
      back.compareTo(dec) == 0
    })
  }

  test("dialect translation is idempotent") {
    import graft.sqlcompat.Dialect
    val sqls = Gen.oneOf(
      "SELECT approx_distinct(x) FROM t",
      "SELECT strpos(a, 'b'), CAST(x AS VARBINARY) FROM t WHERE y LIKE '%strpos%'",
      "SELECT TRY(a / b), now() FROM t",
      // r18 passes: char pad-space comparisons, length-parametric
      // casts, UUID/IPADDRESS canonical casts + typed literals
      "SELECT CAST('a' AS CHAR(2)) = CAST('a ' AS CHAR(3))",
      "SELECT CAST('banana' AS VARCHAR(3)), CAST(x AS CHAR(5)) FROM t",
      "SELECT CAST('1.2.3.4' AS IPADDRESS), TRY_CAST(u AS UUID) FROM t",
      "SELECT UUID 'AB000000-0000-0000-0000-000000000001'",
      "SELECT 1")
    check("dialect-idempotent", Prop.forAll(sqls) { s =>
      val once = Dialect.translate(s)
      Dialect.translate(once) == once
    })
  }

  test("IPADDRESS canonical text round-trips its 16 bytes (RFC 5952)") {
    // for EVERY 16-byte value: render -> parse is the identity, and
    // re-rendering the parsed bytes is a fixed point (the canonical
    // form is canonical). Exercises v4-mapped collapse, the
    // longest/leftmost zero-run compression, and '::' for all-zeros.
    val byteGen = Gen.oneOf(Gen.const(0), Gen.const(255), Gen.choose(0, 255))
    val bytes16 = Gen.listOfN(16, byteGen).map(_.map(_.toByte).toArray)
    // bias zero RUNS in the group positions so compression paths hit
    val zeroRun = for {
      start <- Gen.choose(0, 7)
      len <- Gen.choose(1, 8 - start)
      base <- bytes16
    } yield {
      val b = base.clone()
      (start until (start + len)).foreach { g => b(2 * g) = 0; b(2 * g + 1) = 0 }
      b
    }
    check("ip round-trip", Prop.forAll(Gen.oneOf(bytes16, zeroRun)) { b =>
      val text = UuidIpCompat.ipRender(b)
      val back = UuidIpCompat.ipBytes(text)
      java.util.Arrays.equals(back, b) &&
        UuidIpCompat.ipRender(back) == text
    })
  }

  test("UUID binary -> text -> canonical is the identity on 16 bytes") {
    val bytes16 = Gen.listOfN(16, Gen.choose(0, 255)).map(_.map(_.toByte).toArray)
    check("uuid round-trip", Prop.forAll(bytes16) { b =>
      val text = UuidIpCompat.uuidFromBytes(b)
      UuidIpCompat.uuidCanon(text) == text &&
        UuidIpCompat.uuidCanon(text.toUpperCase) == text
    })
  }

  test("translate() never alters string-literal or quoted-identifier content") {
    // The lex-and-mask contract: the statement is lexed once and every
    // dialect pass runs over sentinel-masked text, so SQL-looking
    // content inside a string literal, a double-quoted identifier or a
    // comment can never be rewritten. Literal content survives
    // verbatim modulo the ONE documented transform (backslash doubling
    // — the reference has no backslash escapes, Spark does);
    // identifier content restores unescaped inside backticks, any
    // inner backtick doubled. Contents are drawn from the nastiest
    // corpus we know: the exact fragments the dialect's passes rewrite.
    val sqlish = Gen.oneOf(
      "CAST(q AS CHAR(2)) = z", "greatest(5, 4, NULL)", "skewness kurtosis",
      "listagg(v, x ON OVERFLOW ERROR)", "ORDER BY x DESC NULLS FIRST",
      "ROW(1, 2)", "MAP(ARRAY 1)", "substr(a, 0)", "strpos split repeat",
      "WITH RECURSIVE t AS", "GROUP BY ()", "date_add 1 day",
      "AT TIME ZONE", "count() FILTER", "a ,, (( b )) [ 1 ]",
      "CURRENT_PATH CURRENT_USER", "TRY(a / b)", "x = ANY", "LIMIT ALL",
      "bitwise_and(a, b)", "from_utf8(x)", "1 BETWEEN 2 AND 3")
    val junk = Gen.listOf(Gen.frequency(
      8 -> Gen.alphaNumChar,
      2 -> Gen.oneOf(' ', '.', ',', '(', ')', '[', ']', '=', '<', '>',
        '-', '+', '*', '/', '%', '|', '&', ':', ';', '!', '#', '@'),
      1 -> Gen.const('\\'))).map(_.mkString)
    val litGen = Gen.frequency(3 -> sqlish, 2 -> junk)
    // identifier CONTENT (unescaped): nonempty, no backslash (Spark
    // reads the restored backtick identifier verbatim anyway); quotes,
    // apostrophes and backticks included — the SQL spelling doubles
    // each '"', the restored Spark spelling doubles each '`'
    val identGen = Gen.frequency(3 -> sqlish, 2 -> junk,
      1 -> Gen.oneOf("it's", "a`b", "say \"hi\"", "`", "'", "\"\""))
      .map(s => ("c" + s).replace("\\", ""))
    def quoted(i: String) = "\"" + i.replace("\"", "\"\"") + "\""
    // comments holding a quote of each kind, placed before, between and
    // after the literals
    val commentGen = Gen.oneOf("", " -- it's\n", " /* it's \"x\" */ ")
    val templates: Seq[(String, String, String, String, String) => String] = Seq(
      (l1, l2, i1, i2, c) =>
        s"""${c}SELECT '$l1' AS c1,$c ${quoted(i1)} FROM (SELECT 1 AS ${quoted(i1)}, '$l2' AS ${quoted(i2)}) t WHERE ${quoted(i2)} = '$l2'$c""",
      (l1, l2, i1, i2, c) =>
        s"""SELECT greatest(length('$l1'),$c 2), ${quoted(i1)} ${quoted(i2)} FROM (VALUES ('$l2', 1)) AS ${quoted(i1)} (${quoted(i2)}, c2)$c""",
      (l1, l2, i1, i2, c) =>
        s"""SELECT CASE WHEN '$l1' = '$l2'$c THEN ${quoted(i1)} ELSE ${quoted(i2)} END FROM (SELECT 1 AS ${quoted(i1)}, 2 AS ${quoted(i2)}) t""")
    val tmplGen = Gen.oneOf(templates)
    check("translate-preserves-quoted-content",
      Prop.forAll(litGen, litGen, identGen, identGen, commentGen, tmplGen) {
        (l1, l2, i1, i2, c, t) =>
          val in = t(l1, l2, i1, i2, c)
          val out = graft.sqlcompat.Dialect.translate(in)
          val lit1 = "'" + l1.replace("\\", "\\\\") + "'"
          val lit2 = "'" + l2.replace("\\", "\\\\") + "'"
          val id1 = "`" + i1.replace("`", "``") + "`"
          val id2 = "`" + i2.replace("`", "``") + "`"
          val ok = out.contains(lit1) && out.contains(lit2) &&
            out.contains(id1) && out.contains(id2) &&
            (c.isEmpty || out.contains(c.trim))
          if (!ok) println(s"TRANSLATE CORRUPTION:\n  in : $in\n  out: $out")
          ok
      })
  }
}
