package graft

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.functions._

/** Unit tests for the function registry's pure kernels (SURVEY §5:
  * per-function tests + property-style identities; reference keeps 89
  * per-operator unit files under `core/trino-main/src/test/.../operator/`). */
class FunctionsSpec extends AnyFunSuite {

  // ------------------------------------------------------------- luhn
  test("luhn_check validates known numbers") {
    assert(GraftFunctions.luhnCheck("79927398713"))
    assert(!GraftFunctions.luhnCheck("79927398714"))
    assert(GraftFunctions.luhnCheck("4539148803436467"))
    assert(!GraftFunctions.luhnCheck(""))
    assert(!GraftFunctions.luhnCheck("12a4"))
  }

  // ------------------------------------------------------------- stem
  test("word_stem is the full Porter algorithm (paper vectors)") {
    // step 1 mechanics
    assert(GraftFunctions.wordStem("caresses") == "caress")
    assert(GraftFunctions.wordStem("ponies") == "poni")
    assert(GraftFunctions.wordStem("cats") == "cat")
    assert(GraftFunctions.wordStem("feed") == "feed")
    assert(GraftFunctions.wordStem("agreed") == "agre")
    assert(GraftFunctions.wordStem("motoring") == "motor")
    assert(GraftFunctions.wordStem("hopping") == "hop") // double-consonant undouble
    assert(GraftFunctions.wordStem("filing") == "file") // cvc restores the e
    assert(GraftFunctions.wordStem("happy") == "happi")
    // steps 2-5 chains
    assert(GraftFunctions.wordStem("relational") == "relat")
    assert(GraftFunctions.wordStem("conditional") == "condit")
    assert(GraftFunctions.wordStem("triplicate") == "triplic")
    assert(GraftFunctions.wordStem("dependent") == "depend")
    assert(GraftFunctions.wordStem("adjustable") == "adjust")
    assert(GraftFunctions.wordStem("effective") == "effect")
    assert(GraftFunctions.wordStem("controller") == "control") // -er then -ll
    assert(GraftFunctions.wordStem("class") == "class")
  }

  // ----------------------------------------------------------- wilson
  test("wilson interval brackets the sample proportion") {
    for (pos <- Seq(0L, 1L, 5L, 10L, 19L, 20L)) {
      val lo = GraftFunctions.wilsonLower(pos, 20, 1.96)
      val hi = GraftFunctions.wilsonUpper(pos, 20, 1.96)
      val p = pos / 20.0
      assert(lo >= 0.0 && hi <= 1.0 && lo <= p + 1e-12 && p <= hi + 1e-12,
        s"pos=$pos lo=$lo hi=$hi")
    }
    // symmetric: lower(k,n) == 1 - upper(n-k,n)
    val l = GraftFunctions.wilsonLower(7, 20, 1.96)
    val u = GraftFunctions.wilsonUpper(13, 20, 1.96)
    assert(math.abs(l - (1 - u)) < 1e-12)
  }

  // -------------------------------------------------------------- url
  test("url_encode/url_decode: reference form encoding (space ↔ '+')") {
    assert(GraftFunctions.urlEncode("a b/c") == "a+b%2Fc")
    assert(GraftFunctions.urlEncode("~@:.-*_+ ☃") ==
      "%7E%40%3A.-*_%2B+%E2%98%83") // TestUrlFunctions testUrlEncode
    val s = "key=va l&x=1/2?q"
    assert(GraftFunctions.urlDecode(GraftFunctions.urlEncode(s)) == s)
  }

  // --------------------------------------------------------------- ip
  test("ip_prefix_contains handles IPv4 CIDR") {
    assert(GraftFunctions.ipPrefixContains("10.0.0.0/8", "10.1.2.3"))
    assert(!GraftFunctions.ipPrefixContains("192.168.1.0/24", "192.168.2.1"))
    assert(GraftFunctions.ipPrefixContains("0.0.0.0/0", "8.8.8.8"))
    assert(GraftFunctions.ipPrefixContains("192.168.1.7/32", "192.168.1.7"))
  }

  // ------------------------------------------------------------ ngrams
  test("ngrams slides over word sequences (reference array-of-arrays form)") {
    assert(GraftFunctions.ngrams(Seq("a", "b", "c"), 2) ==
      Seq(Seq("a", "b"), Seq("b", "c")))
    // n past the length yields one n-gram holding the whole array
    // (reference TestArrayNgramsFunction n=5..100000000 vectors)
    assert(GraftFunctions.ngrams(Seq("a"), 2) == Seq(Seq("a")))
    assert(GraftFunctions.ngrams(Seq("a", "b", "c"), 3) == Seq(Seq("a", "b", "c")))
    intercept[IllegalArgumentException](GraftFunctions.ngrams(Seq("a"), 0))
  }

  // ----------------------------------------------------------- lang id
  test("lang_id classifies stop-word profiles and CJK") {
    assert(GraftFunctions.langId("the cat sat on the mat and it is happy") == "en")
    assert(GraftFunctions.langId("der hund ist nicht zu haus und die katze") == "de")
    assert(GraftFunctions.langId("le chat est dans la maison et les oiseaux") == "fr")
    assert(GraftFunctions.langId("el perro es una mascota que vive por aqui") == "es")
    assert(GraftFunctions.langId("你好世界这是中文") == "zh")
    assert(GraftFunctions.langId("") == "und")
    assert(GraftFunctions.langId("zzz qqq xxx") == "und")
  }

  // ----------------------------------------------------------- simhash
  test("simhash: identical texts collide, near-dups stay close, unrelated diverge") {
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    val rnd = new Random(42)
    def doc(): Array[String] = Array.fill(40)(s"w${rnd.nextInt(500)}")
    var nearSum = 0
    var farMin = Int.MaxValue
    for (_ <- 1 to 20) {
      val a = doc()
      val b = a.clone(); b(rnd.nextInt(a.length)) = "changed"
      val c = doc()
      val ha = SimHashUtil.compute(u(a.mkString(" ")))
      val hb = SimHashUtil.compute(u(b.mkString(" ")))
      val hc = SimHashUtil.compute(u(c.mkString(" ")))
      assert(ha == SimHashUtil.compute(u(a.mkString(" "))))
      nearSum += java.lang.Long.bitCount(ha ^ hb)
      farMin = math.min(farMin, java.lang.Long.bitCount(ha ^ hc))
    }
    assert(nearSum / 20.0 <= 8.0, s"near-dup mean hamming ${nearSum / 20.0}")
    assert(farMin >= 10, s"unrelated min hamming $farMin")
  }

  // --------------------------------------------------- quantile sketch
  test("quantile sketch: relative error bound and order-independent merge") {
    val rnd = new Random(7)
    val data = Array.fill(50000)(math.exp(rnd.nextGaussian() * 2)) ++
      Array.fill(500)(-math.exp(rnd.nextGaussian())) ++ Array.fill(100)(0.0)
    val whole = new LogQuantileSketch(0.01)
    data.foreach(whole.add)
    val sorted = data.sorted
    for (q <- Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)) {
      val est = whole.quantile(q)
      val rank = math.max(1, math.ceil(q * data.length).toInt)
      val exact = sorted(rank - 1)
      assert(math.abs(est - exact) <= math.abs(exact) * 0.011 + 1e-9,
        s"q=$q est=$est exact=$exact")
    }
    // merge determinism: any split/order produces identical bytes
    val parts = data.grouped(777).toSeq
    val m1 = new LogQuantileSketch(0.01)
    parts.foreach { p => val s = new LogQuantileSketch(0.01); p.foreach(s.add); m1.merge(s) }
    val m2 = new LogQuantileSketch(0.01)
    parts.reverse.foreach { p => val s = new LogQuantileSketch(0.01); p.foreach(s.add); m2.merge(s) }
    assert(java.util.Arrays.equals(m1.serialize(), m2.serialize()))
    assert(java.util.Arrays.equals(m1.serialize(), whole.serialize()))
    // round-trip
    val rt = LogQuantileSketch.deserialize(whole.serialize())
    assert(rt.quantile(0.5) == whole.quantile(0.5) && rt.count == whole.count)
  }

  // ------------------------------------------------------ space-saving
  test("space-saving: exact when NDV <= capacity, finds heavy hitter when not") {
    // exact regime
    val ss = new SpaceSaving(25)
    val rnd = new Random(3)
    val exact = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    for (_ <- 1 to 10000) {
      val k = s"k${rnd.nextInt(20)}"
      ss.add(k); exact(k) += 1
    }
    ss.top(5).foreach { case (k, c) => assert(c == exact(k), s"$k $c != ${exact(k)}") }
    // approximate regime with a planted heavy hitter
    val ss2 = new SpaceSaving(25)
    for (i <- 1 to 20000) {
      ss2.add(if (i % 3 == 0) "HEAVY" else s"x${rnd.nextInt(5000)}")
    }
    assert(ss2.top(1).head._1 == "HEAVY")
    // overestimate-only guarantee: reported >= true count
    assert(ss2.top(1).head._2 >= 20000 / 3)
    // merge keeps the heavy hitter
    val h1 = new SpaceSaving(25); val h2 = new SpaceSaving(25)
    for (i <- 1 to 10000) {
      h1.add(if (i % 3 == 0) "HEAVY" else s"a${rnd.nextInt(2000)}")
      h2.add(if (i % 3 == 0) "HEAVY" else s"b${rnd.nextInt(2000)}")
    }
    h1.merge(h2)
    assert(h1.top(1).head._1 == "HEAVY")
  }

  test("quantile_at_value inverts value_at_quantile within sketch error") {
    val sk = new LogQuantileSketch(0.01)
    val rnd = new Random(7)
    for (_ <- 1 to 20000) sk.add(math.exp(rnd.nextGaussian())) // lognormal
    for (q <- Seq(0.1, 0.25, 0.5, 0.75, 0.9)) {
      val v = sk.quantile(q)
      val r = sk.rankOf(v)
      assert(math.abs(r - q) < 0.05, s"q=$q v=$v rank=$r")
    }
    assert(sk.rankOf(Double.MaxValue) == 1.0)
    assert(sk.rankOf(0.0) == 0.0) // all samples are positive
  }

  test("numeric histogram: exact regime, weight conservation, bucket bound") {
    // exact regime: distinct values fit in the buckets
    val h = new NumericHistogram(16)
    for (v <- Seq(1.0, 2.0, 2.0, 5.0, 5.0, 5.0)) h.add(v)
    assert(h.values.toSeq == Seq(1.0, 2.0, 5.0))
    assert(h.weights.toSeq == Seq(1.0, 2.0, 3.0))

    // overflow regime: bucket bound holds, total weight is conserved,
    // the weighted mean survives centroid merging
    val big = new NumericHistogram(32)
    val rnd = new Random(13)
    val xs = Seq.fill(10000)(rnd.nextDouble() * 100)
    xs.foreach(big.add(_))
    assert(big.size <= 32)
    assert(math.abs(big.totalWeight - 10000) < 1e-6)
    val approxMean =
      big.values.zip(big.weights).map { case (v, w) => v * w }.sum / big.totalWeight
    assert(math.abs(approxMean - xs.sum / xs.size) < 0.5)

    // merge conserves weight across partitionings
    val a = new NumericHistogram(32); val b = new NumericHistogram(32)
    xs.zipWithIndex.foreach { case (v, i) => (if (i % 2 == 0) a else b).add(v) }
    a.merge(b)
    assert(a.size <= 32 && math.abs(a.totalWeight - 10000) < 1e-6)
  }

  test("t-digest: rank-accurate quantiles, trimmed mean, mergeable, compact") {
    val n = 50000
    // deterministic pseudo-shuffled uniform values (LCG over a prime)
    val xs = Array.tabulate(n)(i => ((i.toLong * 48271) % 100003).toDouble)
    val td = new TDigest(200)
    xs.foreach(td.add(_))
    for (q <- Seq(0.01, 0.25, 0.5, 0.75, 0.99)) {
      val est = td.quantile(q)
      val rank = xs.count(_ <= est).toDouble / n
      assert(math.abs(rank - q) < 0.01, s"q=$q est=$est rank=$rank")
    }
    // trimmed mean vs the exact middle-half mean
    val exact = xs.sorted.slice(n / 4, 3 * n / 4).sum / (n / 2)
    val tm = td.trimmedMean(0.25, 0.75)
    assert(math.abs(tm - exact) <= exact * 0.01, s"tm=$tm exact=$exact")
    // 4-way partitioned build + merge stays within the same rank bound
    val parts = (0 until 4).map { p =>
      val d = new TDigest(200)
      var i = p
      while (i < n) { d.add(xs(i)); i += 4 }
      d
    }
    val m = new TDigest(200)
    parts.foreach(m.merge)
    val estM = m.quantile(0.5)
    assert(math.abs(xs.count(_ <= estM).toDouble / n - 0.5) < 0.01)
    // serialization round-trips; state is O(compression), not O(n)
    val rt = TDigest.deserialize(td.serialize())
    assert(rt.quantile(0.5) == td.quantile(0.5))
    assert(rt.trimmedMean(0.1, 0.9) == td.trimmedMean(0.1, 0.9))
    assert(td.centroidCount < 500, s"centroids=${td.centroidCount}")
    // tagged dispatch: t-digest bytes are recognized, qdigest bytes not
    assert(TDigest.isTDigest(td.serialize()))
    val lq = new LogQuantileSketch(0.01); lq.add(1.0)
    assert(!TDigest.isTDigest(lq.serialize()))
  }

  test("t-digest: single-centroid quantiles anchor at observed min/max") {
    // compression=2 makes the k1 weight limit equal the total weight,
    // so every point greedily merges into ONE centroid — the smallest
    // state the sketch can hold. Extreme quantiles must still return
    // the recorded bounds, not the collapsed mean.
    val td = new TDigest(2)
    (0 to 100).foreach(v => td.add(v.toDouble))
    assert(td.centroidCount == 1)
    assert(td.quantile(0.0) == 0.0)
    assert(td.quantile(1.0) == 100.0)
    assert(td.quantile(0.5) == 50.0) // centroid mean at the median
    val q25 = td.quantile(0.25)
    assert(q25 > 0.0 && q25 < 50.0, s"q25=$q25")
  }

  test("KMV set digest: exact regime, estimator bounds, merge determinism") {
    // exact regime: sets smaller than k
    val a = new KmvDigest(KmvDigest.DefaultK)
    val b = new KmvDigest(KmvDigest.DefaultK)
    (1L to 100L).foreach(a.add)
    (51L to 150L).foreach(b.add) // |A∩B|=50, |A∪B|=150
    assert(a.estimate() == 100.0)
    assert(KmvDigest.jaccard(a, b) == 50.0 / 150.0)
    assert(math.abs(KmvDigest.intersectionCardinality(a, b) - 50.0) < 1e-9)

    // estimator regime: 20k distinct through a k=256 sketch
    val big = new KmvDigest(256)
    (1L to 20000L).foreach(big.add)
    assert(math.abs(big.estimate() - 20000) < 20000 * 0.25,
      s"estimate=${big.estimate()}")

    // merge is order-independent: same set, different partitionings
    val m1 = new KmvDigest(64); val m2 = new KmvDigest(64)
    val p1 = new KmvDigest(64); val p2 = new KmvDigest(64)
    (1L to 5000L).foreach(v => (if (v % 2 == 0) m1 else m2).add(v))
    (1L to 5000L).foreach(v => (if (v % 3 == 0) p1 else p2).add(v))
    m1.merge(m2); p2.merge(p1)
    assert(m1.serialize().toSeq == p2.serialize().toSeq)
  }

  test("KMV jaccard estimates asymmetric set sizes (bounded scan, subset case)") {
    // small A (unsaturated) ⊂ big B (saturated): the estimator must
    // classify only hashes below the saturated sketch's k-th smallest
    // (the bottom-k bound) — true jaccard = |A|/|B| = 200/2000 = 0.1,
    // expected shared-hash count under the bound ≈ 26 so the estimate
    // is stable.
    val a = new KmvDigest(256)
    val b = new KmvDigest(256)
    (1L to 200L).foreach(a.add)
    (1L to 2000L).foreach(b.add)
    val j = KmvDigest.jaccard(a, b)
    assert(math.abs(j - 0.1) < 0.06, s"jaccard=$j, want ~0.1")
  }

  // ------------------------------------------- string distance / unicode
  test("hamming_distance counts differing positions; requires equal length") {
    assert(GraftFunctions.hammingDistance("karolin", "kathrin") == 3L)
    assert(GraftFunctions.hammingDistance("abc", "abc") == 0L)
    intercept[IllegalArgumentException](GraftFunctions.hammingDistance("ab", "abc"))
    assert(GraftFunctions.hammingDistance(null, "abc") == null)
    assert(GraftFunctions.parseDataSize(null) == null)
  }

  test("normalize composes and decomposes unicode forms") {
    val decomposed = "é" // e + combining acute
    assert(GraftFunctions.normalizeStr(decomposed, "NFC") == "é")
    assert(GraftFunctions.normalizeStr("é", "NFD") == decomposed)
    assert(GraftFunctions.normalizeStr("ﬁ", "NFKC") == "fi") // ﬁ ligature
  }

  test("combinations are index-ordered and keep duplicate values") {
    assert(GraftFunctions.combinations(Seq("a", "b", "c"), 2) ==
      Seq(Seq("a", "b"), Seq("a", "c"), Seq("b", "c")))
    // duplicate VALUES are not collapsed (Scala's .combinations would)
    assert(GraftFunctions.combinations(Seq("x", "x"), 1) == Seq(Seq("x"), Seq("x")))
    assert(GraftFunctions.combinations(Seq("a", "b"), 0) == Seq(Seq()))
    intercept[IllegalArgumentException](GraftFunctions.combinations(Seq("a"), 6))
  }

  test("json_size counts object keys and array elements at a path") {
    val j = """{"a": {"x": 1, "y": 2}, "b": [1, 2, 3], "c": 7}"""
    assert(GraftFunctions.jsonSize(j, "$") == 3L)
    assert(GraftFunctions.jsonSize(j, "$.a") == 2L)
    assert(GraftFunctions.jsonSize(j, "$.b") == 3L)
    assert(GraftFunctions.jsonSize(j, "$.c") == 0L) // scalar
    assert(GraftFunctions.jsonSize(j, "$.missing") == null)
    assert(GraftFunctions.jsonSize(j, "$.b[0]") == 0L)
    assert(GraftFunctions.jsonSize("not json", "$") == null)
  }

  // ------------------------------------------------- data size / duration
  test("contains_sequence finds contiguous runs only") {
    import graft.functions.GraftFunctions.containsSequence
    val arr = Seq("a", "b", "c", "b", "c", "d")
    assert(containsSequence(arr, Seq("b", "c", "d")) == true)
    assert(containsSequence(arr, Seq("a", "b", "c")) == true)
    assert(containsSequence(arr, Seq("a", "c")) == false) // subsequence, not a run
    assert(containsSequence(arr, Seq.empty) == true)
    assert(containsSequence(arr, arr) == true)
    assert(containsSequence(arr, arr :+ "e") == false)
    assert(containsSequence(null, Seq("a")) == null)
  }

  test("split_to_multimap keeps duplicate keys in encounter order") {
    import graft.functions.GraftFunctions.splitToMultimap
    assert(splitToMultimap("a=1;b=2;a=3", ";", "=") ==
      Map("a" -> Seq("1", "3"), "b" -> Seq("2")))
    // reference throws when the kv delimiter appears more than once in
    // an entry (SplitToMultimapFunction.java:84-86)
    intercept[IllegalArgumentException](splitToMultimap("k=v=w", ";", "="))
    // a single trailing entry delimiter is tolerated
    assert(splitToMultimap("a=1;", ";", "=") == Map("a" -> Seq("1")))
    assert(splitToMultimap("", ";", "=") == Map.empty)
    intercept[IllegalArgumentException](splitToMultimap("novalue", ";", "="))
    // delimiter validation: non-empty and distinct
    intercept[IllegalArgumentException](splitToMultimap("a=1", "", "="))
    intercept[IllegalArgumentException](splitToMultimap("a=1", ";", ""))
    intercept[IllegalArgumentException](splitToMultimap("a=1", "=", "="))
  }

  test("format_number humanizes with reference quirks") {
    import graft.functions.GraftFunctions.formatNumber
    assert(formatNumber(0) == "0")
    assert(formatNumber(123) == "123")
    assert(formatNumber(1234) == "1.23K")
    assert(formatNumber(12345) == "12.3K")
    assert(formatNumber(123456) == "123K")
    assert(formatNumber(1000000) == "1M")
    assert(formatNumber(12345678901L) == "12.3B")
    // quirk: 999999/1000 = 999.999 -> "#" rounds to 1000K, not 1M
    assert(formatNumber(999999) == "1000K")
    // quirk: value<10 test is not abs(), negatives get 2 decimals
    assert(formatNumber(-12345) == "-12.35K")
    assert(formatNumber(-5) == "-5")
    // tie-adjacent inputs: DecimalFormat HALF_UP rounds on the EXACT
    // binary value (12.35 is stored as 12.34999..., 1.005 as 1.00499...)
    // — a shortest-decimal-repr round would give 12.4K / 1.01K
    assert(formatNumber(12350) == "12.3K")
    assert(formatNumber(1005) == "1K")
  }

  test("parse_data_size uses binary units, truncating toward zero") {
    // the reference's OWN test vectors truncate (2.2kB → 2252, not
    // 2253 — TestDataSizeFunctions), so 2.3MB = 2411724.8 → 2411724;
    // the published doc example rounds, the engine does not
    assert(GraftFunctions.parseDataSize("2.3MB") == 2411724L)
    assert(GraftFunctions.parseDataSize("0B") == 0L)
    assert(GraftFunctions.parseDataSize("1kB") == 1024L)
    assert(GraftFunctions.parseDataSize("4.5GB") == 4831838208L)
    intercept[IllegalArgumentException](GraftFunctions.parseDataSize("5XB"))
    intercept[IllegalArgumentException](GraftFunctions.parseDataSize("kB"))
  }

  test("human_readable_seconds formats pluralized nonzero units") {
    assert(GraftFunctions.humanReadableSeconds(96) == "1 minute, 36 seconds")
    assert(GraftFunctions.humanReadableSeconds(3600) == "1 hour")
    assert(GraftFunctions.humanReadableSeconds(0) == "0 seconds")
    assert(GraftFunctions.humanReadableSeconds(694861) ==
      "1 week, 1 day, 1 hour, 1 minute, 1 second")
    assert(GraftFunctions.humanReadableSeconds(172800) == "2 days")
  }

  // -------------------------------------------------- base32 / hmac
  test("base32 matches RFC 4648 vectors and round-trips") {
    assert(GraftFunctions.toBase32("foobar".getBytes("UTF-8")) == "MZXW6YTBOI======")
    assert(GraftFunctions.toBase32("f".getBytes("UTF-8")) == "MY======")
    assert(GraftFunctions.toBase32(Array.emptyByteArray) == "")
    for (s <- Seq("", "a", "ab", "abc", "abcd", "abcde", "hello world"))
      assert(new String(GraftFunctions.fromBase32(
        GraftFunctions.toBase32(s.getBytes("UTF-8"))), "UTF-8") == s)
  }

  test("hmac_sha256 matches the RFC 4231 test vector") {
    val key = Array.fill[Byte](20)(0x0b)
    val out = GraftFunctions.hmacSha256("Hi There".getBytes("UTF-8"), key)
    assert(out.map("%02x".format(_)).mkString ==
      "b0344c61d8db38535ca8afceaf0bf12b881dc200c9833da726e9376c2e32cff7")
  }

  // ------------------------------------------------ distribution functions
  test("normal_cdf matches known quantiles") {
    assert(math.abs(StatFunctions.normalCdf(0, 1, 1.96) - 0.9750021048517795) < 1e-9)
    assert(math.abs(StatFunctions.normalCdf(0, 1, 0) - 0.5) < 1e-15)
    assert(math.abs(StatFunctions.normalCdf(10, 9, 10) - 0.5) < 1e-15)
    assert(math.abs(StatFunctions.normalCdf(0, 1, -1) - 0.15865525393145707) < 1e-9)
    intercept[IllegalArgumentException](StatFunctions.normalCdf(0, 0, 1))
  }

  test("inverse_normal_cdf inverts the cdf to high precision") {
    assert(math.abs(StatFunctions.inverseNormalCdf(0, 1, 0.975) - 1.959963984540054) < 1e-9)
    for (p <- Seq(0.001, 0.01, 0.3, 0.5, 0.77, 0.99, 0.9999)) {
      val x = StatFunctions.inverseNormalCdf(3, 2, p)
      assert(math.abs(StatFunctions.normalCdf(3, 2, x) - p) < 1e-12, s"p=$p x=$x")
    }
    intercept[IllegalArgumentException](StatFunctions.inverseNormalCdf(0, 1, 0))
  }

  test("inverse_beta_cdf inverts beta_cdf across the parameter space") {
    for {
      (a, b) <- Seq((2.0, 5.0), (0.5, 0.5), (1.0, 1.0), (10.0, 3.0))
      p <- Seq(0.01, 0.2, 0.5, 0.8, 0.99)
    } {
      val x = StatFunctions.inverseBetaCdf(a, b, p)
      assert(math.abs(StatFunctions.betaCdf(a, b, x) - p) < 1e-10,
        s"a=$a b=$b p=$p x=$x")
    }
    assert(StatFunctions.inverseBetaCdf(2, 5, 0) == 0.0)
    assert(StatFunctions.inverseBetaCdf(2, 5, 1) == 1.0)
    // uniform distribution: identity
    assert(math.abs(StatFunctions.inverseBetaCdf(1, 1, 0.37) - 0.37) < 1e-12)
  }

  test("beta_cdf matches the closed form for integer parameters") {
    // I_x(2,5) = 1 - (1-x)^6 - 6x(1-x)^5
    for (x <- Seq(0.0, 0.1, 0.3, 0.5, 0.7, 0.9, 1.0)) {
      val expect = 1 - math.pow(1 - x, 6) - 6 * x * math.pow(1 - x, 5)
      assert(math.abs(StatFunctions.betaCdf(2, 5, x) - expect) < 1e-12, s"x=$x")
    }
    assert(math.abs(StatFunctions.betaCdf(2, 2, 0.5) - 0.5) < 1e-14)
    assert(math.abs(StatFunctions.betaCdf(0.5, 0.5, 0.5) - 0.5) < 1e-12) // arcsine law
    intercept[IllegalArgumentException](StatFunctions.betaCdf(-1, 1, 0.5))
  }

  // ----------------------------------------------- cosine kernel parity
  test("cosine kernel matches naive double fold") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    val rnd = new Random(11)
    for (_ <- 1 to 50) {
      val a = Array.fill(64)(rnd.nextFloat() * 2 - 1)
      val b = Array.fill(64)(rnd.nextFloat() * 2 - 1)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- 0 until 64) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      val expected = dot / (math.sqrt(na) * math.sqrt(nb))
      val got = VectorOps.cosine(
        ArrayData.toArrayData(a), ArrayData.toArrayData(b), true, true)
      assert(got == expected)
      assert(got >= -1.0000001 && got <= 1.0000001)
    }
  }

  // ---------------------------------------------- rolling fingerprint
  private def rfp(s: String, k: Int, top: Int): Seq[Long] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    RollingFingerprint(Literal(s), Literal(k), Literal(top))
      .eval(null).asInstanceOf[ArrayData].toLongArray().toSeq
  }

  test("rolling_fingerprint: known vectors, dedup, n<k empty, top-k truncation") {
    assert(rfp("ab", 3, 4).isEmpty) // text shorter than k
    // all three "aa" grams collide: (97*257+97) % P = 25026, kept once
    assert(rfp("aaaa", 2, 8) == Seq(25026L))
    // first value is the closed-form Horner fold of "abc":
    // ((97*257+98)*257+99) % 1000000007 = 6432038; 8 grams, top-4 kept
    assert(rfp("abcdefghij", 3, 4) ==
      Seq(6432038L, 6498345L, 6564652L, 6630959L))
    // oracle cross-checked vector (same values DuckDB's list_reduce fold
    // produces — the p13 gate relies on this equality)
    assert(rfp("graft engine rolling hash", 8, 4) ==
      Seq(28773149L, 116035191L, 130847215L, 149745308L))
    assertThrows[IllegalArgumentException](rfp("abc", 0, 4))
    assertThrows[IllegalArgumentException](rfp("abc", 2, 0))
  }

  test("word_ngrams kernel matches split-then-slide semantics") {
    import org.apache.spark.unsafe.types.UTF8String
    def ng(s: String, n: Int): Seq[String] = {
      val a = graft.functions.TextOps.wordNGrams(UTF8String.fromString(s), n)
      (0 until a.numElements()).map(i => a.getUTF8String(i).toString)
    }
    assert(ng("a b c d", 2) == Seq("a b", "b c", "c d"))
    assert(ng("a b c d", 3) == Seq("a b c", "b c d"))
    assert(ng("one", 1) == Seq("one"))
    assert(ng("one two", 3) == Seq.empty) // fewer words than n
    // split semantics: empty tokens from doubled spaces are preserved,
    // exactly like split(text, ' ') / DuckDB string_split
    assert(ng("a  b", 2) == Seq("a ", " b"))
    assert(ng("", 1) == Seq("")) // split of "" is [""], one unigram
    assertThrows[IllegalArgumentException](ng("a b", 0))
    // property: equals the reference formulation on random word seqs
    val rnd = new Random(7)
    for (_ <- 1 to 20) {
      val words = Seq.fill(2 + rnd.nextInt(40))(
        Seq.fill(1 + rnd.nextInt(5))(('a' + rnd.nextInt(26)).toChar).mkString)
      val n = 1 + rnd.nextInt(4)
      val expected = words.sliding(n).filter(_.length == n).map(_.mkString(" ")).toSeq
      assert(ng(words.mkString(" "), n) == expected)
    }
  }

  test("rolling_fingerprint: rolling recurrence equals naive per-gram fold") {
    val rnd = new Random(42)
    for (trial <- 1 to 10) {
      val n = 20 + rnd.nextInt(300)
      val s = Seq.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
      val naive = s.sliding(5)
        .map(_.foldLeft(0L)((a, c) => (a * 257 + c) % 1000000007L))
        .toSeq.distinct.sorted.take(6)
      assert(rfp(s, 5, 6) == naive, s"trial $trial")
    }
  }

  // ---------------------------------------------------- spooky hash v2
  test("spooky_hash_v2 matches the reference's published test vectors") {
    // reference TestVarbinaryFunctions.java:780-795 (seed 0, value
    // emitted big-endian)
    def hex32(s: String): String =
      f"${SpookyHashV2.hash32(s.getBytes("UTF-8"), 0)}%08X"
    def hex64(s: String): String =
      f"${SpookyHashV2.hash64(s.getBytes("UTF-8"), 0L)}%016X"
    assert(hex32("") == "6BF50919")
    assert(hex32("hello") == "D382E6CA")
    assert(hex64("") == "232706FC6BF50919")
    assert(hex64("hello") == "3768826AD382E6CA")
    // every short-path remainder class (1..31 plus 16+ block boundary)
    // and the long path (>=192) must be deterministic and sensitive to
    // the last byte
    for (n <- Seq(1, 7, 8, 12, 15, 16, 23, 31, 32, 64, 191, 192, 200, 400)) {
      val a = Array.tabulate[Byte](n)(i => (i * 7 + 3).toByte)
      val h1 = SpookyHashV2.hash64(a, 0L)
      assert(h1 == SpookyHashV2.hash64(a.clone(), 0L))
      val b = a.clone(); b(n - 1) = (b(n - 1) ^ 1).toByte
      assert(h1 != SpookyHashV2.hash64(b, 0L), s"length $n: last-byte blind")
    }
  }

  // ------------------------------------------------------ real qdigest
  test("real qdigest: exact float quantiles, merge, serde, degradation") {
    // exact mode returns the ingested float (widened) at the rank walk
    val sk = new FloatExactQuantileSketch()
    val vals = Seq(0.04f, 0.01f, 0.1f, 0.04f, 0.07f)
    vals.foreach(sk.add)
    // sorted: 0.01 0.04 0.04 0.07 0.1; rank(0.5·5)=3 → 0.04f
    assert(sk.quantile(0.5) == 0.04f.toDouble)
    assert(sk.quantile(0.0) == 0.01f.toDouble)
    assert(sk.quantile(1.0) == 0.1f.toDouble)
    // serde round-trip preserves exactness; merge accumulates counts
    val bytes = sk.serialize()
    assert(FloatExactQuantileSketch.isFloatDigest(bytes))
    val back = QuantileDigest.deserialize(bytes)
    assert(back.isInstanceOf[FloatExactQuantileSketch])
    assert(back.quantile(0.5) == 0.04f.toDouble)
    back.mergeDigest(sk)
    assert(back.asInstanceOf[FloatExactQuantileSketch].count == 10)
    // degradation past the distinct budget stays within the log-bucket
    // relative-error bound and survives serde
    val big = new FloatExactQuantileSketch(maxExact = 100)
    (1 to 10000).foreach(i => big.add(i.toFloat))
    assert(big.approx != null)
    val med = QuantileDigest.deserialize(big.serialize()).quantile(0.5)
    assert(math.abs(med - 5000) <= 5000 * 0.011, s"degraded median $med")
    // families never mix
    val longSk = new LongExactQuantileSketch()
    longSk.add(1L)
    intercept[IllegalArgumentException](sk.mergeDigest(longSk))
  }

  // --------------------------------------------- listagg capped state
  test("ListaggCappedAgg: bounded state, finish-kernel parity, merge, ERROR raise") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
    import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
    import org.apache.spark.unsafe.types.UTF8String

    val st = StructType(Seq(StructField("k", IntegerType, nullable = false),
      StructField("v", StringType, nullable = true)))
    def agg(isError: Boolean = false, withCount: Boolean = true) =
      ListaggCappedAgg(BoundReference(0, st, nullable = false), ",",
        isError, "#", withCount, Seq(false), Seq(false))
    def row(k: Int, v: String): InternalRow =
      new GenericInternalRow(Array[Any](new GenericInternalRow(
        Array[Any](k, if (v == null) null else UTF8String.fromString(v)))))

    // parity with the reference finish kernel on shuffled input,
    // including NULL-value invisibility
    val a1 = agg()
    val small = Seq(3 -> "ccc", 1 -> "a", 4 -> null, 2 -> "bb", 5 -> "dddd")
    val b1 = a1.createAggregationBuffer()
    small.foreach { case (k, v) => a1.update(b1, row(k, v)) }
    val want = ListaggOverflow.finish(Seq("a", "bb", "ccc", "dddd"), ",",
      isError = false, "#", withCount = true)
    assert(a1.eval(b1).toString == want)

    // state stays bounded while 100 x 200KB entries stream in
    // (un-capped buffering would hold ~20 MB; the cap is 1 MiB)
    val big = "x" * 200000
    val a2 = agg()
    val b2 = a2.createAggregationBuffer()
    val order = new scala.util.Random(7).shuffle((1 to 100).toList)
    order.foreach(k => a2.update(b2, row(k, big + k)))
    assert(b2.keptBytes <= ListaggOverflow.MaxOutputBytes + big.length + 16,
      s"kept ${b2.keptBytes} bytes")
    assert(a2.serialize(b2).length <=
      ListaggOverflow.MaxOutputBytes + 2 * big.length,
      "serialized partial state must stay ~cap-bounded")
    val out2 = a2.eval(b2).toString
    // 5 entries of ~200KB fit under 1 MiB; 95 are counted, not kept
    assert(out2.endsWith(",#(95)"), out2.takeRight(40))
    assert(out2.startsWith(big + "1,"), "emission order is the sort order")

    // merge of two partial states == single-state result
    val a3 = agg()
    val (left, right) = order.splitAt(40)
    val bl = a3.createAggregationBuffer()
    val br = a3.createAggregationBuffer()
    left.foreach(k => a3.update(bl, row(k, big + k)))
    right.foreach(k => a3.update(br, row(k, big + k)))
    val merged = a3.merge(bl, a3.deserialize(a3.serialize(br)))
    assert(a3.eval(merged).toString == out2)

    // ON OVERFLOW ERROR raises with the reference's message
    val a4 = agg(isError = true)
    val b4 = a4.createAggregationBuffer()
    (1 to 12).foreach(k => a4.update(b4, row(k, big)))
    val e = intercept[IllegalStateException](a4.eval(b4))
    assert(e.getMessage.contains("maximum output length"), e.getMessage)
  }
}
