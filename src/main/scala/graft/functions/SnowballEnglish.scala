package graft.functions

/** The Snowball English ("Porter2") stemming algorithm, implemented
  * from the published specification (snowballstem.org/algorithms/
  * english/stemmer.html) — the algorithm behind the reference's
  * `word_stem` (`operator/scalar/WordStemFunction.java` binds Lucene's
  * generated EnglishStemmer for the `'en'` / default overloads;
  * vectors in `TestWordStemFunction.java`): the successor of the
  * classic Porter (1980) algorithm, with revised suffix tables, R1/R2
  * regions and exception lists.
  *
  * Input is assumed lowercase (like the reference — no case folding).
  */
object SnowballEnglish {

  private def isV(c: Char): Boolean =
    c == 'a' || c == 'e' || c == 'i' || c == 'o' || c == 'u' || c == 'y'

  private val doubles =
    Set("bb", "dd", "ff", "gg", "mm", "nn", "pp", "rr", "tt")
  private val liEnding = "cdeghkmnrt".toSet

  // exception list 1 (applies to the whole word, pre-algorithm)
  private val exception1 = Map(
    "skis" -> "ski", "skies" -> "sky", "dying" -> "die", "lying" -> "lie",
    "tying" -> "tie", "idly" -> "idl", "gently" -> "gentl", "ugly" -> "ugli",
    "early" -> "earli", "only" -> "onli", "singly" -> "singl",
    "sky" -> "sky", "news" -> "news", "howe" -> "howe", "atlas" -> "atlas",
    "cosmos" -> "cosmos", "bias" -> "bias", "andes" -> "andes")

  // exception list 2 (applies after step 1a — stop stemming)
  private val exception2 = Set(
    "inning", "outing", "canning", "herring", "earring",
    "proceed", "exceed", "succeed")

  def stem(input: String): String = {
    if (input == null) return null
    var w = input
    if (w.startsWith("'")) w = w.substring(1)
    if (w.length <= 2) return w
    exception1.get(w) match {
      case Some(out) => return out
      case None =>
    }

    // mark consonant y's as Y: initial y, or y after a vowel
    val sb = new StringBuilder(w)
    if (sb.charAt(0) == 'y') sb.setCharAt(0, 'Y')
    var i = 1
    while (i < sb.length) {
      if (sb.charAt(i) == 'y' && isV(sb.charAt(i - 1))) sb.setCharAt(i, 'Y')
      i += 1
    }
    w = sb.toString

    // R1 / R2 (gener-/commun-/arsen- prefixes pin R1 per the spec)
    def regionAfterFirstVC(s: String, from: Int): Int = {
      var j = from
      while (j < s.length && !isV(s.charAt(j))) j += 1
      while (j < s.length && isV(s.charAt(j))) j += 1
      if (j < s.length) j + 1 else s.length
    }
    var r1 =
      if (w.startsWith("gener") || w.startsWith("arsen")) 5
      else if (w.startsWith("commun")) 6
      else regionAfterFirstVC(w, 0)
    var r2 = regionAfterFirstVC(w, r1)

    def inR1(s: String, suffix: Int): Boolean = s.length - suffix >= r1
    def inR2(s: String, suffix: Int): Boolean = s.length - suffix >= r2
    def hasVowel(s: String, until: Int): Boolean =
      (0 until until).exists(k => isV(s.charAt(k)))

    // short syllable at the END of s
    def endsShortSyllable(s: String): Boolean = {
      val n = s.length
      if (n == 2) isV(s.charAt(0)) && !isV(s.charAt(1))
      else if (n >= 3) {
        val c = s.charAt(n - 1)
        isV(s.charAt(n - 2)) && !isV(s.charAt(n - 3)) &&
          !isV(c) && c != 'w' && c != 'x' && c != 'Y'
      } else false
    }
    def isShortWord(s: String): Boolean =
      endsShortSyllable(s) && r1 >= s.length

    // ---- step 0: longest of ', 's, 's'
    if (w.endsWith("'s'")) w = w.dropRight(3)
    else if (w.endsWith("'s")) w = w.dropRight(2)
    else if (w.endsWith("'")) w = w.dropRight(1)

    // ---- step 1a
    if (w.endsWith("sses")) w = w.dropRight(2)
    else if (w.endsWith("ied") || w.endsWith("ies"))
      w = if (w.length > 4) w.dropRight(2) else w.dropRight(1)
    else if (w.endsWith("us") || w.endsWith("ss")) ()
    else if (w.endsWith("s") && hasVowel(w, w.length - 2)) w = w.dropRight(1)

    if (exception2(w)) return w

    // ---- step 1b
    if (w.endsWith("eedly")) {
      if (inR1(w, 5)) w = w.dropRight(3)
    } else if (w.endsWith("eed")) {
      if (inR1(w, 3)) w = w.dropRight(1)
    } else {
      val cut =
        if (w.endsWith("ingly") || w.endsWith("edly"))
          Some(if (w.endsWith("ingly")) 5 else 4)
        else if (w.endsWith("ing")) Some(3)
        else if (w.endsWith("ed")) Some(2)
        else None
      cut match {
        case Some(k) if hasVowel(w, w.length - k) =>
          w = w.dropRight(k)
          if (w.endsWith("at") || w.endsWith("bl") || w.endsWith("iz"))
            w = w + "e"
          else if (w.length >= 2 && doubles(w.takeRight(2)))
            w = w.dropRight(1)
          else if (isShortWord(w)) w = w + "e"
        case _ =>
      }
    }

    // ---- step 1c: y/Y → i after a non-vowel that isn't the first char
    if (w.length > 2) {
      val last = w.charAt(w.length - 1)
      if ((last == 'y' || last == 'Y') && !isV(w.charAt(w.length - 2)))
        w = w.dropRight(1) + "i"
    }

    // ---- step 2 (longest suffix, in R1)
    val step2 = Seq(
      "ization" -> "ize", "ational" -> "ate", "fulness" -> "ful",
      "ousness" -> "ous", "iveness" -> "ive", "tional" -> "tion",
      "biliti" -> "ble", "lessli" -> "less", "entli" -> "ent",
      "ation" -> "ate", "alism" -> "al", "aliti" -> "al", "ousli" -> "ous",
      "iviti" -> "ive", "fulli" -> "ful", "enci" -> "ence",
      "anci" -> "ance", "abli" -> "able", "izer" -> "ize", "ator" -> "ate",
      "alli" -> "al", "bli" -> "ble")
    var done2 = false
    for ((suf, rep) <- step2 if !done2) {
      if (w.endsWith(suf)) {
        done2 = true
        if (inR1(w, suf.length)) w = w.dropRight(suf.length) + rep
      }
    }
    if (!done2) {
      if (w.endsWith("ogi")) {
        done2 = true
        if (inR1(w, 3) && w.length > 3 && w.charAt(w.length - 4) == 'l')
          w = w.dropRight(1)
      } else if (w.endsWith("li")) {
        done2 = true
        if (inR1(w, 2) && w.length > 2 && liEnding(w.charAt(w.length - 3)))
          w = w.dropRight(2)
      }
    }

    // ---- step 3 (longest suffix, in R1)
    if (w.endsWith("ational")) {
      if (inR1(w, 7)) w = w.dropRight(7) + "ate"
    } else if (w.endsWith("tional")) {
      if (inR1(w, 6)) w = w.dropRight(2)
    } else if (w.endsWith("alize")) {
      if (inR1(w, 5)) w = w.dropRight(3)
    } else if (w.endsWith("icate") || w.endsWith("iciti")) {
      if (inR1(w, 5)) w = w.dropRight(3)
    } else if (w.endsWith("ative")) {
      if (inR1(w, 5) && inR2(w, 5)) w = w.dropRight(5)
    } else if (w.endsWith("ical")) {
      if (inR1(w, 4)) w = w.dropRight(2)
    } else if (w.endsWith("ness")) {
      if (inR1(w, 4)) w = w.dropRight(4)
    } else if (w.endsWith("ful")) {
      if (inR1(w, 3)) w = w.dropRight(3)
    }

    // ---- step 4 (longest suffix, in R2)
    val step4 = Seq("ement", "ance", "ence", "able", "ible", "ment",
      "ant", "ent", "ism", "ate", "iti", "ous", "ive", "ize",
      "al", "er", "ic")
    var done4 = false
    for (suf <- step4 if !done4) {
      if (w.endsWith(suf)) {
        done4 = true
        if (inR2(w, suf.length)) w = w.dropRight(suf.length)
      }
    }
    if (!done4 && w.endsWith("ion")) {
      if (inR2(w, 3) && w.length > 3 &&
        (w.charAt(w.length - 4) == 's' || w.charAt(w.length - 4) == 't'))
        w = w.dropRight(3)
    }

    // ---- step 5
    if (w.endsWith("e") &&
      (inR2(w, 1) || (inR1(w, 1) && !endsShortSyllable(w.dropRight(1)))))
      w = w.dropRight(1)
    else if (w.endsWith("l") && inR2(w, 1) && w.length > 1 &&
      w.charAt(w.length - 2) == 'l')
      w = w.dropRight(1)

    w.replace('Y', 'y')
  }
}
