package graft.text

import java.util.regex.Pattern

/** Entity-class-dispatched string normalization — rule-for-rule re-expression
  * of the reference normalizer semantics (kazu/utils/string_normalizer.py:43-585,
  * greek/dash tables kazu/language/language_phenomena.py:1-57). This is the
  * single most correctness-critical kernel: every synonym lookup keys on its
  * output (SURVEY.md §7.4 risk 1).
  *
  * Pure functions — usable inside typed maps, `mapPartitions`, and as UDFs.
  * Nothing is cached. Linking needs no cache: Spark amortizes via the
  * group-by-distinct-mention pattern before linking (SURVEY.md D1). NER
  * does not amortize: TrieNer and TokenClassifier normalize every mention
  * they emit, tens of thousands per thousand documents, so a surface string
  * is normalized again at each of its occurrences.
  */
object Normalizer {

  // --- character-class helpers matching Python str semantics -------------

  @inline private def isAlpha(c: Char): Boolean = Character.isLetter(c)
  @inline private def isNumericChar(c: Char): Boolean = {
    if (Character.isDigit(c)) true
    else {
      val t = Character.getType(c)
      t == Character.LETTER_NUMBER || t == Character.OTHER_NUMBER
    }
  }
  @inline private def isAlnum(c: Char): Boolean =
    Character.isLetterOrDigit(c) || {
      val t = Character.getType(c)
      t == Character.LETTER_NUMBER || t == Character.OTHER_NUMBER
    }

  private val Root = java.util.Locale.ROOT

  private val Whitespace = Pattern.compile("(?U)\\s+")

  /** Python `" ".join(s.upper().split())` */
  private def collapseUpper(s: String): String =
    Whitespace.split(s.toUpperCase(Root)).filter(_.nonEmpty).mkString(" ")

  // --- GREEK_SUBS (language_phenomena.py:1-54), insertion order preserved --

  val GreekSubs: Seq[(String, String)] = Seq(
    "Α" -> "alpha", "Β" -> "beta", "Γ" -> "gamma",
    "Δ" -> "delta", "Ε" -> "epsilon", "Ζ" -> "zeta",
    "Η" -> "eta", "Θ" -> "theta", "Ι" -> "iota",
    "Κ" -> "kappa", "Λ" -> "lambda", "Μ" -> "mu",
    "Ν" -> "nu", "Ξ" -> "xi", "Ο" -> "omicron",
    "Π" -> "pi", "Ρ" -> "rho", "Σ" -> "sigma",
    "Τ" -> "tau", "Υ" -> "upsilon", "Φ" -> "phi",
    "Χ" -> "chi", "Ψ" -> "psi", "Ω" -> "omega",
    "ϴ" -> "theta", "α" -> "alpha", "ϐ" -> "beta",
    "β" -> "beta", "γ" -> "gamma", "δ" -> "delta",
    "ε" -> "epsilon", "ζ" -> "zeta", "η" -> "eta",
    "θ" -> "theta", "ι" -> "iota", "κ" -> "kappa",
    "λ" -> "lambda", "μ" -> "mu", "ν" -> "nu",
    "ξ" -> "xi", "ο" -> "omicron", "π" -> "pi",
    "ρ" -> "rho", "ς" -> "final sigma", "σ" -> "sigma",
    "τ" -> "tau", "υ" -> "upsilon", "φ" -> "phi",
    "ϕ" -> "phi", "χ" -> "chi", "ψ" -> "psi",
    "ω" -> "omega"
  )
  private val greekSubsUpper: Seq[(String, String)] =
    GreekSubs.map { case (k, v) => k -> s" ${v.toUpperCase(java.util.Locale.ROOT)} " }

  /** All dash codepoints (language_phenomena.py:56-57). */
  val Dashes: Set[Char] =
    Set('−', '-') ++ (0x2010 to 0x2015).map(_.toChar)

  // --- DefaultStringNormalizer (string_normalizer.py:43-237) -------------

  object Default {
    val allowedAdditionalChars: Set[Char] = Set(' ', '(', ')', '+', '-', '‐')

    /** Ordered substring substitutions (string_normalizer.py:52-66). */
    val otherSubs: Seq[(String, String)] = Seq(
      "(" -> " (", ")" -> ") ", "," -> " ", "/" -> " ",
      "VIII" -> " 8 ", "VII" -> " 7 ", "XII" -> " 12 ", "III" -> " 3 ",
      "VI" -> " 6 ", "IV" -> " 4 ", "IX" -> " 9 ", "XI" -> " 11 ",
      "II" -> " 2 "
    )
    private val reSubs: Seq[(Pattern, String)] = Seq(
      Pattern.compile("(?<!\\()-(?!\\))")      -> " ",
      Pattern.compile("(?<!\\()‐(?!\\))") -> " ",
      // (?U): the reference's python \s and \d are Unicode-aware (NBSP is
      // reachable via Html.unescape &#160;); Java defaults to ASCII classes
      Pattern.compile("(?U)\\sI\\s|\\sI$")     -> " 1 ",
      Pattern.compile("(?U)\\sV\\s|\\sV$")     -> " 5 "
    )
    private val reSubs2: Seq[(Pattern, String)] = Seq(
      Pattern.compile("(?U)\\sA\\s|\\sA$|^A\\s") -> " ALPHA ",
      Pattern.compile("(?U)\\sB\\s|\\sB$|^B\\s") -> " BETA "
    )
    private val numberSplit = Pattern.compile("(?U)(\\d+)")
    private val outerWhitespace = Pattern.compile("(?U)^\\s+|\\s+$")

    /** Upper/lower + numeric/alpha ratio heuristic
      * (string_normalizer.py:80-120). */
    def isSymbolLike(s: String): Boolean = {
      val tokens = s.split(" ", -1)
      val tokenCount = tokens.length
      if (tokenCount == 1 && s.length <= 3) return true
      var upper = 0; var lower = 0; var numeric = 0
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (isAlpha(c)) {
          if (Character.isUpperCase(c)) {
            upper += 1
            // single token: any upper past first char ⇒ symbol
            if (i > 0 && tokenCount == 1) return true
          } else lower += 1
        } else if (isNumericChar(c)) {
          // single token containing a digit ⇒ symbol
          if (tokenCount == 1) return true
          numeric += 1
        }
        i += 1
      }
      if (upper >= lower) true
      else numeric >= (upper + lower)
    }

    def normalizeSymbol(s: String): String = collapseUpper(s)

    def normalizeNounPhrase(s: String): String = {
      var x = replaceSubstrings(s)
      x = splitOnNumbers(x)
      x = replaceGreek(x)
      x = removeNonAlphanum(x)
      x = depluralizeWholeString(x)
      x = subGreekCharAbbreviations(x)
      collapseUpper(x)
    }

    def depluralizeWholeString(s: String): String =
      if (s.length > 3) Gilda.depluralize(s)._1 else s

    def subGreekCharAbbreviations(s: String): String =
      reSubs2.foldLeft(s) { case (acc, (p, r)) => p.matcher(acc).replaceAll(r) }

    def removeNonAlphanum(s: String): String =
      s.filter(c => isAlnum(c) || allowedAdditionalChars.contains(c))

    def replaceGreek(s: String): String =
      greekSubsUpper.foldLeft(s) { case (acc, (k, v)) =>
        if (acc.contains(k)) acc.replace(k, v) else acc
      }

    /** Split on digit runs, keeping them as their own tokens
      * (string_normalizer.py:211-220). */
    def splitOnNumbers(s: String): String = {
      val m = numberSplit.matcher(s)
      val parts = scala.collection.mutable.ArrayBuffer.empty[String]
      var last = 0
      while (m.find()) {
        parts += s.substring(last, m.start()); parts += m.group(1)
        last = m.end()
      }
      parts += s.substring(last)
      // python str.strip() strips Unicode whitespace; Java trim only <= U+0020
      parts.map(outerWhitespace.matcher(_).replaceAll("")).mkString(" ")
    }

    def replaceSubstrings(s: String): String = {
      var x = otherSubs.foldLeft(s) { case (acc, (k, v)) =>
        if (acc.contains(k)) acc.replace(k, v) else acc
      }
      x = reSubs.foldLeft(x) { case (acc, (p, r)) => p.matcher(acc).replaceAll(r) }
      x
    }
  }

  // --- Gilda-derived helpers (string_normalizer.py:446-585) --------------

  object Gilda {
    private val allCapsPattern = Pattern.compile("^\\p{Lu}+$")

    /** Depluralize with status flag (string_normalizer.py:528-568). */
    def depluralize(word: String): (String, String) = {
      if (!word.endsWith("s")) (word, "non_plural")
      else if (word.endsWith("sis")) (word, "non_plural")
      else if (word.endsWith("oes")) (word.dropRight(2), "plural_oes")
      else if (word.endsWith("ies")) (word.dropRight(3) + "y", "plural_ies")
      else if (word.endsWith("xes") || word.endsWith("ses") ||
               word.endsWith("ches") || word.endsWith("shes"))
        (word.dropRight(2), "plural_es")
      else if (allCapsPattern.matcher(word.dropRight(1)).matches())
        (word.dropRight(1), "plural_caps_s")
      else (word.dropRight(1), "plural_s")
    }

    private val dashesOrSpace =
      Pattern.compile("[ " + Dashes.toSeq.sorted.map {
        case '-' => "\\-"
        case c   => c.toString
      }.mkString + "]+")

    /** Split on spaces or any dash codepoint (string_normalizer.py:574-585).
      * Matches Python re.split: leading separators yield an empty first
      * element; trailing separators yield an empty last element.
      */
    def splitOnDashesOrSpace(s: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      val m = dashesOrSpace.matcher(s)
      var last = 0
      while (m.find()) { out += s.substring(last, m.start()); last = m.end() }
      out += s.substring(last)
      out.toSeq
    }
  }

  // --- entity-class normalizers (string_normalizer.py:239-413) -----------

  object Disease {
    val knownShortNouns: Set[String] = Set("flu", "Flu", "HIV", "STI", "NSCLC")
    def isSymbolLike(s: String): Boolean =
      !knownShortNouns.contains(s) && Default.isSymbolLike(s)
  }

  object Gene {
    val nameSuffixes: Seq[String] = Seq("in", "ase", "an", "gen", "gon")

    def isSymbolLike(s: String): Boolean = {
      val tokens = Gilda.splitOnDashesOrSpace(s)
      if (tokens.size == 1 && !nameSuffixes.exists(tokens.head.endsWith))
        true
      else tokens.forall(t => t.length < 4 || geneTokenClassifier(t))
    }

    /** Per-token symbol test; lower→upper casing change ⇒ symbol (erbB2)
      * (string_normalizer.py:320-348). */
    def geneTokenClassifier(s: String): Boolean = {
      var upper = 0; var lower = 0; var numeric = 0
      val firstIsLower = s.nonEmpty && Character.isLowerCase(s.charAt(0))
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (isAlpha(c)) {
          if (Character.isUpperCase(c)) {
            if (firstIsLower) return true
            upper += 1
          } else lower += 1
        } else if (isNumericChar(c)) numeric += 1
        i += 1
      }
      if (upper >= lower) true else numeric >= (upper + lower)
    }

    /** Strip plural 's' only after an uppercase char ("ERBBs"→"ERBB", but
      * "MDH-s" kept) (string_normalizer.py:351-362). */
    def removeTrailingSIfOtherwiseCapitalised(s: String): String =
      if (s.length >= 3 && Character.isUpperCase(s.charAt(s.length - 2)))
        s.stripSuffix("s")
      else s

    def normalizeSymbol(s: String): String = {
      var x = removeTrailingSIfOtherwiseCapitalised(s)
      x = Default.replaceSubstrings(x)
      x = Default.splitOnNumbers(x)
      x = Default.replaceGreek(x)
      x = Default.removeNonAlphanum(x)
      x = Default.subGreekCharAbbreviations(x)
      collapseUpper(x)
    }
  }

  object Company {
    def isSymbolLike(s: String): Boolean =
      s.forall(c => !isAlpha(c) || Character.isUpperCase(c))
    def normalizeSymbol(s: String): String = s.toUpperCase(Root)
  }

  // --- dispatch (string_normalizer.py:416-443) ---------------------------

  /** Symbol ("EGFR") vs noun phrase ("breast cancer") classification,
    * dispatched on entity class. */
  def classifySymbolic(s: String, entityClass: String): Boolean =
    entityClass match {
      case "gene"    => Gene.isSymbolLike(s)
      case "anatomy" => false
      case "disease" => Disease.isSymbolLike(s)
      case "company" => Company.isSymbolLike(s)
      case _         => Default.isSymbolLike(s)
    }

  /** The normalization entry point: `syn_norm = normalize(syn, entityClass)`. */
  def normalize(s: String, entityClass: String): String =
    entityClass match {
      case "gene" =>
        if (Gene.isSymbolLike(s)) Gene.normalizeSymbol(s)
        else Default.normalizeNounPhrase(s)
      case "anatomy" =>
        Default.normalizeNounPhrase(s)
      case "disease" =>
        if (Disease.isSymbolLike(s)) Default.normalizeSymbol(s)
        else Default.normalizeNounPhrase(s)
      case "company" =>
        if (Company.isSymbolLike(s)) Company.normalizeSymbol(s)
        else Default.normalizeNounPhrase(s)
      case _ =>
        if (Default.isSymbolLike(s)) Default.normalizeSymbol(s)
        else Default.normalizeNounPhrase(s)
    }
}
