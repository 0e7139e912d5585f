package graft.core

/** Character-trigram language identification (Cavnar & Trenkle 1994's
  * rank-ordered n-gram profiles, simplified to a fixed-weight match score
  * so the computation has an exact SQL mirror).
  *
  * Each language carries a rank-ordered profile of its most frequent
  * character trigrams (drawn from the published frequency literature for
  * the six languages). A document scores, per language,
  * `sum over profile index i of (K - i) * count_i`, where `count_i` is the
  * number of NON-OVERLAPPING left-to-right occurrences of trigram i in the
  * lower-cased text — exactly the count `(len(t) - len(replace(t, tri, '')))
  * / 3` yields in SQL, which is what the DuckDB oracle mirrors. Argmax wins;
  * ties resolve to the first language in sorted order; all-zero scores
  * return "und".
  *
  * This replaces nothing: the stopword heuristic (`lang_pred` of
  * TextOps.profile, q42) stays; this is the heavier-duty classifier a real
  * pipeline would use (still a single codegen'd pass per row — no explode,
  * no shuffle).
  */
object LangId {

  /** Rank-ordered trigram profiles (highest-frequency first), sorted by
    * language code. Every trigram is exactly 3 characters. The 20 languages
    * follow the Cavnar-Trenkle construction (top function-word trigrams,
    * space-padded, from the published frequency literature); close pairs
    * (da/no/sv, cs/sk, es/pt/ca) lean on their distinctive markers — e.g.
    * Danish "af " vs Norwegian "av ", Czech "se "/"ře " vs Slovak "sa ",
    * Catalan "els" — so the argmax separates them on ordinary prose.
    *
    * Unicode envelope (same as the winnow kernel): scoring lower-cases via
    * Java's ROOT-locale mapping and counts literal substring occurrences;
    * SQL-oracle parity is exact for ASCII and simple-case BMP text. */
  val Profiles: Vector[(String, Array[String])] = Vector(
    "ca" -> Array(
      " de", "es ", "de ", " la", "la ", "els", "ls ", " el", "el ", "que",
      " qu", "ue ", " pe", "per", "ció", "ió ", "amb", "nt ", " ca", "ta "),
    "cs" -> Array(
      " po", " na", "na ", " pr", "se ", " se", "ní ", "ho ", "že ", " že",
      "pro", " je", "je ", " do", "ře ", "pře", "ých", "em ", "to ", " to"),
    "da" -> Array(
      "er ", "en ", " de", "de ", "et ", "der", " og", "og ", "at ", " at",
      "til", " ti", "af ", " af", "ikk", "kke", "for", " fo", "den", "ede"),
    "de" -> Array(
      "er ", "en ", "ch ", "der", "ie ", "ein", "sch", "ich", "nde", "die",
      " de", "und", "nd ", "ung", " di", " un", "cht", "ge ", " ge", "ten"),
    "en" -> Array(
      " th", "the", "he ", "ed ", "nd ", " an", "and", " of", "of ", " to",
      "to ", "ing", "ng ", " in", "ion", "ent", " is", "is ", "at ", "es "),
    "es" -> Array(
      " de", "de ", "os ", "la ", " la", "es ", "el ", " el", " co", "ón ",
      "ión", "nte", "en ", " en", "ado", "que", " qu", "ue ", "ar ", "al "),
    "fi" -> Array(
      "en ", "in ", "an ", "on ", " on", "ta ", "ja ", " ja", "sta", "aan",
      "ään", "lla", "llä", "ssa", "ssä", "ist", "ksi", "nen", "sia", "tä "),
    "fr" -> Array(
      " de", "es ", "de ", "ent", "le ", "nt ", " le", "la ", " la", "on ",
      "re ", " pa", "ion", " et", "et ", "que", " qu", "ue ", "les", "ais"),
    "hr" -> Array(
      " na", "na ", "je ", " je", " pr", " po", "ije", "ja ", "ti ", "da ",
      " da", " za", "za ", "ost", "sti", "ako", "ih ", "om ", "anj", "ko "),
    "hu" -> Array(
      " az", "az ", " me", "en ", "ek ", "tt ", "et ", "gy ", " eg", "egy",
      "sze", "nek", "nak", "ság", "és ", " és", "ele", "min", "hog", "ogy"),
    "id" -> Array(
      "an ", " me", "kan", "ang", "ng ", " di", "di ", "ada", " ke", "ah ",
      "eng", "men", "ber", " be", "nya", "ya ", "ter", "dan", " da", "ata"),
    "it" -> Array(
      " di", "di ", "re ", "la ", " la", "to ", "no ", "one", "zio", "del",
      "che", " ch", "he ", "ell", "are", " pe", "ent", "ta ", "ato", " co"),
    "nl" -> Array(
      "en ", "de ", " de", "et ", " he", "het", "an ", "van", " va", "een",
      " ee", "er ", "ij ", "aar", "ijk", "oor", " vo", "nde", "ver", " ve"),
    "no" -> Array(
      "er ", "en ", "et ", " de", "det", " og", "og ", "til", " ti", "av ",
      " av", "som", " so", "ikk", "kke", "ing", "ter", "ene", " fo", "ke "),
    "pl" -> Array(
      "ie ", "nie", " ni", " po", " pr", "na ", " na", "ego", "ch ", "ych",
      "owa", "prz", "rze", "ej ", "że ", " że", "ani", "się", " si", "ać "),
    "pt" -> Array(
      " de", "de ", "os ", "ão ", "ção", "ent", "da ", " da", "do ", " do",
      "que", " qu", "ue ", "ar ", "em ", " em", " co", "res", "as ", "ra "),
    "ro" -> Array(
      " de", "de ", " în", "în ", "ul ", "re ", "ea ", " co", "are", " ca",
      "te ", "ate", "ale", " al", "lor", "lui", "ste", " pe", "ent", "tat"),
    "sk" -> Array(
      " po", " na", "na ", " pr", "ch ", "je ", " je", "sa ", " sa", "ho ",
      "om ", "to ", " to", "ých", "pre", "ova", "ení", "ké ", " ko", "ne "),
    "sv" -> Array(
      "en ", "er ", "et ", " de", "det", "att", " at", "tt ", "och", " oc",
      "ch ", "för", " fö", "om ", " om", "ar ", "ing", "ng ", "som", " so"),
    "tr" -> Array(
      " bi", "bir", "ir ", "lar", "ler", "in ", "an ", "de ", " de", "da ",
      " da", "ın ", "eri", "ara", " ka", "en ", "nda", "ini", "ık ", "dır"))

  /** Non-overlapping left-to-right occurrence count — the semantics of
    * SQL's replace-and-measure idiom, so the oracle mirrors bit-for-bit. */
  private def countOcc(t: String, tri: String): Long = {
    var cnt = 0L
    var idx = t.indexOf(tri)
    while (idx >= 0) { cnt += 1; idx = t.indexOf(tri, idx + tri.length) }
    cnt
  }

  /** Language code with the highest rank-weighted trigram score, "und" when
    * nothing matches. Null-safe. */
  def classify(text: String): String = {
    if (text == null) return null
    val t = text.toLowerCase(java.util.Locale.ROOT)
    var bestLang = "und"
    var bestScore = 0L
    var li = 0
    while (li < Profiles.length) {
      val (lang, tris) = Profiles(li)
      var score = 0L
      var i = 0
      while (i < tris.length) {
        score += (tris.length - i).toLong * countOcc(t, tris(i))
        i += 1
      }
      // strict > : the first sorted language keeps ties
      if (score > bestScore) { bestScore = score; bestLang = lang }
      li += 1
    }
    bestLang
  }
}
