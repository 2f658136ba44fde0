package graft.functions

import java.util.Locale

import org.apache.spark.unsafe.types.UTF8String

/** Character-trigram language identifier (Cavnar & Trenkle 1994,
  * "N-Gram-Based Text Categorization" — public knowledge) as a native
  * codegen'd Catalyst expression (a [[Natives]] row). Replaces the 6-language
  * stopword-cascade heuristic ([[graft.ops.TextOps.langIdGuess]], kept
  * for the stable q_langid oracle) with a 25-language classifier whose
  * per-language profiles are TRAINED at class-load time from the seeded
  * public word lists in [[TrigramLangId.Seeds]] — no external data, no
  * model files, deterministic on every JVM.
  *
  * Semantics (pinned char-for-char by the independent plain twin
  * `PlainOracles.langIdTrigramPlain` — driver-gate expected table):
  *  1. Script shortcut, in fixed priority order (kana before CJK so
  *     Japanese prose with kanji resolves to `ja`): any hiragana/katakana
  *     -> ja; else any CJK unified ideograph -> zh; hangul -> ko;
  *     cyrillic -> ru; arabic -> ar; greek -> el; hebrew -> he;
  *     devanagari -> hi; thai -> th.
  *  2. No letter at all (Character.isLetter, BMP semantics) -> "und".
  *  3. Otherwise: lowercase (Locale.ROOT), tokens = maximal runs of
  *     letters, each token t padded to " t ", trigrams = all length-3
  *     windows of the padded token; doc profile = top-300 trigrams by
  *     (count desc, trigram asc); language profiles likewise from the
  *     seed lists. Score vs a language = (hits, outOfPlace) where hits
  *     = number of doc-profile trigrams present in the language
  *     profile and outOfPlace = sum of |docRank - langRank| with
  *     missing trigrams costing 300 (the paper's measure). Result =
  *     max hits, ties broken by min outOfPlace, then language code
  *     ascending. Hit count leads because the profiles are trained
  *     from WORD LISTS (each word once): rank order beyond the first
  *     few is alphabetical noise, and pure rank distance structurally
  *     favors languages whose profile happens to be SMALL (fewer
  *     entries ⇒ all ranks low ⇒ small |i-j|), which coverage-counting
  *     is immune to.
  *
  * Scale: O(len) trigram counting + O(U log U) doc-profile sort per
  * document (U = distinct trigrams, bounded by len), one static-call
  * codegen'd expression inside whole-stage codegen — no UDF, no
  * broadcast, profiles are JVM statics (~3.6k map entries). The
  * reference has no language-ID step at all; this serves the
  * training-data-pipeline role (corpus routing / per-language stats)
  * that its corpus lacks.
  */
object TrigramLangId {

  /** Profile depth K: both the max profile length and the miss penalty. */
  final val K = 300

  /** Seed word lists — small public common-word/stopword vocabularies
    * (the classic per-language function-word sets; public knowledge).
    * These are DATA shared with the plain twin; the profile-building and
    * scoring CODE is implemented independently on each side.
    */
  object Seeds {
    // Latin-script languages: classified by trigram profile. ~85 common
    // words each (standard function-word/stopword vocabularies plus a
    // few very-high-frequency content words — public knowledge; ASCII-
    // folded, diacritics dropped, consistently per language).
    val latin: Seq[(String, Seq[String])] = Seq(
      "cs" -> Seq("a", "se", "na", "je", "v", "ze", "to", "s", "do",
        "o", "ale", "pro", "za", "jako", "po", "co", "tak", "jsem",
        "jsou", "byl", "byla", "bylo", "jeho", "jen", "uz", "pak",
        "kdyz", "nebo", "tim", "pred", "pri", "od", "podle", "roku",
        "take", "muze", "rekl", "velmi", "dnes", "jeste", "letech",
        "dva", "tri", "byt", "nez", "ktery", "ktera", "ktere", "tento",
        "teto", "svou", "svym", "vsak", "mezi", "jsme", "neni", "bude",
        "lidi", "clovek", "zivot", "doba", "prace", "den", "svet",
        "czech", "praha", "tady", "proto", "protoze", "tomu", "toho"),
      "da" -> Seq("og", "i", "jeg", "det", "at", "en", "den", "til",
        "er", "som", "paa", "de", "med", "han", "af", "for", "ikke",
        "der", "var", "mig", "sig", "men", "et", "har", "om", "vi",
        "min", "havde", "ham", "hun", "nu", "over", "da", "fra", "du",
        "ud", "sin", "dem", "os", "op", "man", "hans", "hvor", "eller",
        "hvad", "skal", "selv", "her", "alle", "vil", "blev", "kunne",
        "ind", "naar", "vaere", "dog", "noget", "ville", "jo", "deres",
        "efter", "ned", "skulle", "denne", "end", "dette", "mit",
        "ogsaa", "under", "have", "dig", "anden", "hende", "mine",
        "alt", "meget", "sit", "sine", "vor", "mod", "disse", "hvis",
        "din", "nogle", "hos", "blive", "mange", "ad", "bliver",
        "hendes", "vaeret", "thi", "jer", "saadan"),
      "fi" -> Seq("ja", "on", "ei", "se", "etta", "han", "oli", "ovat",
        "mutta", "niin", "kun", "joka", "hanen", "myos", "sen", "olla",
        "mita", "sita", "tama", "taman", "mina", "sina", "me", "te",
        "he", "jos", "vain", "nyt", "siis", "kuin", "sitten", "viela",
        "jo", "voi", "kaikki", "ollut", "sille", "mikaan", "itse",
        "vuoden", "vuonna", "hyvin", "sanoi", "jalkeen", "kaksi",
        "kolme", "paljon", "taalla", "siella", "miksi", "koska",
        "aivan", "ennen", "mukaan", "nain", "yksi", "toinen", "uusi",
        "suuri", "oma", "hyva", "paiva", "aika", "vuosi", "ihminen",
        "asia", "maa", "tyo", "osa", "kanssa", "ilman", "kautta",
        "asti", "saakka", "kohti", "takia", "vuoksi"),
      "hu" -> Seq("a", "az", "es", "hogy", "nem", "is", "egy", "ez",
        "de", "meg", "mar", "csak", "volt", "el", "ki", "mi", "van",
        "te", "ha", "o", "en", "lesz", "ezt", "itt", "most", "majd",
        "mint", "olyan", "akkor", "ott", "annak", "arra", "azt",
        "ebben", "ennek", "erre", "ezek", "ezen", "ezert", "fel",
        "hanem", "hat", "igen", "igy", "ilyen", "jo", "kell", "ket",
        "kozott", "lehet", "le", "magyar", "mert", "minden", "mindig",
        "nagy", "nagyon", "neki", "nincs", "pedig", "soha", "sok",
        "szerint", "tobb", "tudom", "ugy", "utan", "vagy", "valami",
        "vele", "vissza", "ember", "elet", "ido", "nap", "orszag",
        "varos", "munka", "mond", "tud", "all"),
      "de" -> Seq("der", "die", "und", "in", "den", "von", "zu", "das",
        "mit", "sich", "des", "auf", "ist", "im", "dem", "nicht", "ein",
        "eine", "als", "auch", "es", "an", "werden", "aus", "er", "hat",
        "dass", "sie", "nach", "wird", "bei", "einer", "um", "am", "sind",
        "noch", "wie", "einem", "einen", "so", "zum", "war", "haben",
        "nur", "oder", "aber", "vor", "zur", "bis", "mehr", "durch",
        "man", "sein", "wurde", "sei", "wenn", "kann", "mich", "ihr",
        "dann", "unter", "wir", "doch", "ihm", "ihn", "du", "mein",
        "gegen", "vom", "schon", "ihre", "jetzt", "immer", "hier",
        "alle", "wieder", "meine", "gut", "muss", "sehr", "hatte",
        "diese", "seine", "ohne", "selbst", "jahr", "zeit", "neue",
        "beim", "seit", "zwei", "heute", "gibt", "jahren", "keine"),
      "en" -> Seq("the", "of", "and", "to", "in", "that", "it", "is",
        "was", "for", "on", "are", "with", "as", "his", "they", "be",
        "at", "one", "have", "this", "from", "or", "had", "by", "not",
        "word", "but", "what", "some", "we", "can", "out", "other",
        "were", "all", "there", "when", "up", "use", "your", "how",
        "said", "an", "each", "she", "which", "do", "their", "time",
        "will", "about", "if", "would", "so", "no", "him", "than",
        "who", "may", "been", "more", "these", "two", "her", "like",
        "them", "see", "could", "now", "way", "people", "my", "over",
        "did", "down", "only", "its", "just", "know", "take", "into",
        "year", "good", "very", "after", "our", "most", "me", "through",
        "back", "much", "before", "also", "around", "another"),
      "es" -> Seq("de", "la", "que", "el", "en", "y", "a", "los", "del",
        "se", "las", "por", "un", "para", "con", "no", "una", "su", "al",
        "lo", "como", "mas", "pero", "sus", "le", "ya", "o", "este",
        "si", "porque", "esta", "entre", "cuando", "muy", "sin", "sobre",
        "tambien", "me", "hasta", "hay", "donde", "quien", "desde",
        "todo", "nos", "durante", "todos", "uno", "les", "ni", "fue",
        "era", "anos", "dos", "tiene", "hacer", "cada", "vez", "hace",
        "bien", "poco", "esto", "ella", "ser", "son", "tan", "vida",
        "puede", "tiempo", "mismo", "ese", "ahora", "otros", "despues",
        "dia", "antes", "gran", "pais", "segun", "menos", "mundo",
        "casa", "parte", "tres", "aunque", "nada", "estaba", "estos",
        "mientras", "cual"),
      "fr" -> Seq("de", "la", "le", "et", "les", "des", "en", "un", "du",
        "une", "que", "est", "pour", "qui", "dans", "a", "par", "plus",
        "pas", "au", "sur", "ne", "se", "ce", "il", "sont", "comme",
        "mais", "avec", "tout", "nous", "sa", "son", "ont", "cette",
        "aux", "vous", "leur", "bien", "ou", "sans", "peut", "elle",
        "deux", "meme", "nos", "ses", "fait", "aussi", "etre", "ete",
        "etait", "ils", "si", "faire", "dont", "encore", "temps",
        "tres", "quand", "ans", "autres", "apres", "notre", "depuis",
        "celle", "donc", "fois", "toutes", "autre", "jour", "monde",
        "pendant", "contre", "tous", "moins", "alors", "sous", "peu",
        "dire", "avant", "grand", "ainsi", "toujours", "moi", "annee",
        "entre", "ici", "cela"),
      "id" -> Seq("yang", "dan", "di", "itu", "dengan", "untuk", "tidak",
        "ini", "dari", "dalam", "akan", "pada", "juga", "saya", "ke",
        "karena", "tersebut", "bisa", "ada", "mereka", "lebih", "kata",
        "tahun", "sudah", "atau", "saat", "oleh", "menjadi", "orang",
        "ia", "telah", "adalah", "seperti", "sebagai", "bahwa", "dua",
        "satu", "banyak", "hanya", "masih", "kami", "kita", "anda",
        "dia", "namun", "tetapi", "jika", "maka", "setelah", "sebelum",
        "antara", "tanpa", "selama", "hingga", "sekitar", "kembali",
        "masing", "melalui", "terhadap", "terjadi", "melakukan",
        "memiliki", "merupakan", "sangat", "paling", "beberapa",
        "semua", "setiap", "baru", "besar", "kecil", "baik", "waktu",
        "hari", "bagi", "secara", "dapat", "harus", "belum", "lain"),
      "it" -> Seq("di", "che", "la", "il", "un", "a", "per", "in", "una",
        "sono", "mi", "ho", "non", "lo", "ha", "le", "con", "si", "ti",
        "i", "del", "tu", "al", "ma", "della", "se", "come", "da",
        "questo", "qui", "bene", "quando", "io", "dei", "piu", "anche",
        "sei", "nel", "cosa", "questa", "era", "fatto", "essere", "suo",
        "gli", "alla", "tutto", "ci", "molto", "sulla", "hanno",
        "nella", "loro", "prima", "stato", "dopo", "ancora", "fare",
        "tempo", "anni", "due", "cosi", "altri", "parte", "senza",
        "dove", "solo", "grande", "ogni", "tra", "quindi", "mentre",
        "perche", "tutti", "anno", "primo", "stata", "fino", "oggi",
        "casa", "giorno", "questi", "queste", "noi", "voi", "poi"),
      "nl" -> Seq("de", "en", "van", "ik", "te", "dat", "die", "in",
        "een", "hij", "het", "niet", "zijn", "is", "was", "op", "aan",
        "met", "als", "voor", "had", "er", "maar", "om", "hem", "dan",
        "zou", "of", "wat", "mijn", "men", "dit", "zo", "door", "over",
        "ze", "zich", "bij", "ook", "tot", "je", "mij", "uit", "der",
        "daar", "haar", "naar", "heb", "hoe", "heeft", "worden",
        "wordt", "werd", "deze", "geen", "nog", "nu", "veel", "moet",
        "goed", "hier", "wel", "tegen", "onder", "omdat", "twee",
        "onze", "hun", "meer", "alle", "andere", "grote", "tussen",
        "eerste", "toen", "ging", "weer", "weg", "zelf", "kunnen",
        "jaar", "tijd", "nieuwe", "maken", "na", "werden", "hebben",
        "moeten", "waar", "dus", "al", "iets", "huis", "snel",
        "elkaar", "zij", "wij", "vrij", "bijna", "altijd", "tijdens",
        "eigen", "krijgen", "kijken", "blijven", "schrijven", "school",
        "mensen", "kinderen", "nieuw", "vrouw", "water", "weten",
        "zeggen", "zien", "gaan", "staan", "komen", "doen", "ons",
        "uur", "jaren", "goede", "groot", "klein", "buiten", "binnen",
        "achter", "zonder", "samen", "steeds", "toch", "wanneer",
        "waarom", "springen", "bruin", "honderd", "vijf", "tien"),
      "pl" -> Seq("w", "i", "na", "z", "do", "to", "ze", "a", "o", "jak",
        "jest", "nie", "sie", "co", "tak", "po", "za", "od", "przez",
        "przy", "czy", "tylko", "juz", "byc", "dla", "moze", "go", "ale",
        "jego", "ja", "tym", "przed", "nad", "tego", "byl", "pod",
        "bedzie", "oraz", "bardzo", "kiedy", "jeszcze", "ich", "ten",
        "roku", "ktory", "jednak", "ma", "sa", "byla", "bylo", "byly",
        "lat", "dwa", "trzy", "wszystko", "swoje", "czasie", "miejsce",
        "domu", "teraz", "potem", "gdzie", "gdy", "ktora", "ktore",
        "ktorych", "nawet", "wiec", "zawsze", "wszystkich", "wlasnie",
        "innych", "miedzy", "podczas", "takze", "wiele", "temu",
        "mozna", "rowniez", "jego", "nich", "nimi", "tych"),
      "pt" -> Seq("de", "a", "o", "que", "e", "do", "da", "em", "um",
        "para", "com", "nao", "uma", "os", "no", "se", "na", "por",
        "mais", "as", "dos", "como", "mas", "foi", "ao", "ele", "das",
        "tem", "seu", "sua", "ou", "ser", "quando", "muito", "ha",
        "nos", "ja", "esta", "eu", "tambem", "so", "pelo", "pela",
        "ate", "isso", "ela", "entre", "depois", "sem", "mesmo",
        "anos", "sobre", "ainda", "dois", "pode", "hoje", "apos",
        "onde", "bem", "fazer", "governo", "dia", "durante", "todos",
        "era", "vez", "caso", "tempo", "mesma", "parte", "contra",
        "ano", "grande", "outro", "qual", "suas", "seus", "pois",
        "porque", "tres", "desde", "cidade", "apenas", "forma",
        "todas", "outra", "foram", "essa", "este"),
      "ro" -> Seq("de", "si", "in", "a", "la", "cu", "pe", "este", "un",
        "o", "care", "mai", "din", "ce", "se", "nu", "le", "al", "lui",
        "pentru", "dar", "sunt", "sa", "are", "fost", "fi", "dupa",
        "ei", "cand", "noi", "ea", "avea", "foarte", "unde", "intre",
        "ca", "fiind", "acest", "prin", "ale", "sau", "fara", "spre",
        "doar", "aceasta", "acestei", "catre", "asupra", "astfel",
        "atunci", "acum", "aici", "acolo", "toate", "toti", "fiecare",
        "alte", "alta", "primul", "prima", "ultima", "tara", "zi",
        "ani", "an", "timp", "poate", "trebuie", "face", "spune",
        "spus", "avut", "dat", "inca", "chiar", "numai", "doua",
        "trei", "mult", "multe", "putin", "bine", "fara", "cele",
        "unui", "unei", "lor"),
      "sv" -> Seq("och", "det", "att", "i", "en", "jag", "hon", "som",
        "han", "pa", "den", "med", "var", "sig", "for", "sa", "till",
        "ar", "men", "ett", "om", "hade", "de", "av", "icke", "mig",
        "du", "henne", "da", "sin", "nu", "har", "inte", "hans",
        "honom", "skulle", "hennes", "dar", "min", "man", "ej", "vid",
        "kunde", "nagot", "fran", "ut", "nar", "efter", "upp", "vi",
        "kommer", "kan", "sina", "hela", "andra", "finns", "varit",
        "blir", "bara", "sedan", "mycket", "utan", "aven", "detta",
        "genom", "ligger", "alla", "tva", "tre", "nya", "gora",
        "eller", "vara", "mellan", "bland", "under", "fick", "bade",
        "battre", "sitt", "denna", "dessa", "sager", "ocksa", "ska",
        "over", "nagra"),
      "tr" -> Seq("bir", "bu", "ne", "ve", "icin", "ile", "da", "de",
        "mi", "ama", "ben", "o", "cok", "daha", "var", "gibi", "kadar",
        "sonra", "her", "sey", "sen", "onun", "bana", "beni", "biz",
        "nasil", "diye", "sana", "zaman", "en", "su", "ki", "yok",
        "olan", "olarak", "butun", "neden", "kendi", "hic", "iki",
        "seni", "bunu", "simdi", "bile", "once", "degil", "ancak",
        "bunlar", "oldu", "olur", "sadece", "hem", "artik", "hep",
        "seyler", "yine", "boyle", "soyle", "ayni", "cunku", "eger",
        "kim", "hangi", "bazi", "diger", "yeni", "buyuk", "kucuk",
        "uzun", "yillar", "gun", "yil", "olmak", "etmek", "yapmak",
        "demek", "gelmek", "gitmek", "bize", "onlar", "burada",
        "sonra", "insan", "kez", "yer"))

    // Script-detected languages: the word lists only feed the synthetic
    // sentence generator (and document which scripts map where).
    val script: Seq[(String, Seq[String])] = Seq(
      "ru" -> Seq("и", "в", "не", "на",
        "я", "быть", "он", "с",
        "что", "а", "по",
        "это", "она", "к",
        "но", "они", "мы",
        "как", "из", "у",
        "за", "весь", "год",
        "от", "так", "о",
        "для", "ты", "же",
        "все", "тот", "вы"),
      "zh" -> Seq("的", "一", "是", "不", "了",
        "在", "人", "有", "我", "他", "这",
        "个", "们", "中", "来", "上", "大",
        "为", "和", "国", "地", "到", "以",
        "说", "时", "要", "就", "出", "会",
        "可", "也", "你", "对", "生", "能",
        "而", "子", "那", "得", "于"),
      "ja" -> Seq("の", "に", "は", "を", "た",
        "が", "で", "て", "と", "し", "れ",
        "さ", "ある", "いる", "も",
        "する", "から", "な", "こと",
        "として", "い", "や", "れる",
        "など", "ない", "この",
        "ため", "その", "よう",
        "また", "もの", "という"),
      "ko" -> Seq("이", "그", "저", "것", "수",
        "등", "들", "및", "에서",
        "그리고", "하다", "있다",
        "되다", "나", "너", "우리",
        "사람", "때", "말", "일",
        "생각", "집", "살", "좋다"),
      "ar" -> Seq("في", "من", "على",
        "أن", "إلى", "عن",
        "مع", "هذا", "هذه",
        "التي", "الذي",
        "كان", "قد", "لا",
        "ما", "هو", "هي", "أو",
        "ثم", "بعد", "كل",
        "عند", "غير",
        "بين", "يوم", "لم"),
      "el" -> Seq("και", "το",
        "την", "της", "να",
        "του", "με", "τα",
        "που", "από",
        "στο", "για",
        "είναι", "τον",
        "στη", "ως",
        "αλλά", "ένα",
        "μια", "δεν", "οι",
        "θα", "αυτό",
        "ότι", "κατά"),
      "he" -> Seq("של", "את", "על",
        "לא", "זה", "הוא",
        "עם", "כי", "אני",
        "מה", "אם", "היא",
        "גם", "אבל", "יש",
        "כל", "או", "רק",
        "עוד", "היה",
        "אין", "כך", "אחד"),
      "hi" -> Seq("के", "का", "एक",
        "में", "की", "है",
        "यह", "और", "से",
        "हैं", "को", "पर",
        "इस", "कि", "जो",
        "कर", "गया", "ने",
        "बनी", "नहीं",
        "तो", "ही", "या",
        "था", "हो"),
      "th" -> Seq("ที่", "การ",
        "และ", "เป็น",
        "ใน", "ของ", "มี",
        "ได้", "ให้",
        "ว่า", "ไม่", "จะ",
        "ไป", "มา", "กับ",
        "นี้", "แต่",
        "หรือ", "คน",
        "ก็", "ความ"))

    /** All language codes in generator order (latin then script). */
    val all: Seq[(String, Seq[String])] = latin ++ script
  }

  /** Deterministic synthetic sentence: 12 words picked from the
    * language's seed list by a pure index formula — reproducible on the
    * driver (expected twin) and executors (query) with no Random.
    */
  def seedSentence(langIdx: Int, j: Int): String = {
    val words = Seeds.all(langIdx)._2
    (0 until 12).map(k => words((j * 31 + k * 7 + langIdx) % words.size))
      .mkString(" ")
  }

  // ---- profile construction (engine side; the twin rebuilds these
  // ---- independently from the same Seeds data) ----

  /** Trigram counts of one text: lowercase, letter-run tokens, each
    * padded " t ", all length-3 windows. While-loop implementation; the
    * twin uses split/sliding/groupBy.
    */
  private def trigramCounts(text: String): java.util.HashMap[String, Int] = {
    val s = text.toLowerCase(Locale.ROOT)
    val m = new java.util.HashMap[String, Int]()
    val n = s.length
    var i = 0
    while (i < n) {
      while (i < n && !Character.isLetter(s.charAt(i))) i += 1
      val start = i
      while (i < n && Character.isLetter(s.charAt(i))) i += 1
      if (i > start) {
        val padded = new java.lang.StringBuilder(i - start + 2)
          .append(' ').append(s, start, i).append(' ').toString
        var k = 0
        while (k + 3 <= padded.length) {
          val tri = padded.substring(k, k + 3)
          m.put(tri, m.getOrDefault(tri, 0) + 1)
          k += 1
        }
      }
    }
    m
  }

  /** Top-K trigrams by (count desc, trigram asc). */
  private def topK(m: java.util.HashMap[String, Int]): Array[String] = {
    val entries = new java.util.ArrayList[java.util.Map.Entry[String, Int]](
      m.entrySet())
    entries.sort((a, b) => {
      val d = Integer.compare(b.getValue, a.getValue)
      if (d != 0) d else a.getKey.compareTo(b.getKey)
    })
    val k = math.min(K, entries.size)
    val out = new Array[String](k)
    var i = 0
    while (i < k) { out(i) = entries.get(i).getKey; i += 1 }
    out
  }

  /** Latin language codes, ascending (the argmin tie-break order). */
  private val latinCodes: Array[String] =
    Seeds.latin.map(_._1).sorted.toArray

  /** trigram -> per-latin-language rank (K when absent). */
  private val profileRanks: java.util.HashMap[String, Array[Int]] = {
    val m = new java.util.HashMap[String, Array[Int]]()
    val byCode = Seeds.latin.toMap
    var li = 0
    while (li < latinCodes.length) {
      val ranked = topK(trigramCounts(byCode(latinCodes(li)).mkString(" ")))
      var r = 0
      while (r < ranked.length) {
        var a = m.get(ranked(r))
        if (a == null) {
          a = Array.fill(latinCodes.length)(K)
          m.put(ranked(r), a)
        }
        a(li) = r
        r += 1
      }
      li += 1
    }
    m
  }

  // Script ranges checked in priority order (see scaladoc). Explicit hex
  // code-point ranges (BMP): kana 3040-30FF, CJK 4E00-9FFF, hangul
  // AC00-D7AF + jamo 1100-11FF, cyrillic 0400-04FF, arabic 0600-06FF,
  // greek 0370-03FF, hebrew 0590-05FF, devanagari 0900-097F, thai
  // 0E00-0E7F.
  private def scriptOf(s: String): String = {
    var kana, cjk, hangul, cyr, arab, greek, hebr, deva, thai = false
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i).toInt
      if (c >= 0x3040 && c <= 0x30FF) kana = true
      else if (c >= 0x4E00 && c <= 0x9FFF) cjk = true
      else if ((c >= 0xAC00 && c <= 0xD7AF) ||
               (c >= 0x1100 && c <= 0x11FF)) hangul = true
      else if (c >= 0x0400 && c <= 0x04FF) cyr = true
      else if (c >= 0x0600 && c <= 0x06FF) arab = true
      else if (c >= 0x0370 && c <= 0x03FF) greek = true
      else if (c >= 0x0590 && c <= 0x05FF) hebr = true
      else if (c >= 0x0900 && c <= 0x097F) deva = true
      else if (c >= 0x0E00 && c <= 0x0E7F) thai = true
      i += 1
    }
    if (kana) "ja" else if (cjk) "zh" else if (hangul) "ko"
    else if (cyr) "ru" else if (arab) "ar" else if (greek) "el"
    else if (hebr) "he" else if (deva) "hi" else if (thai) "th"
    else null
  }

  /** Classify a Java string (shared by eval, codegen, and tests). */
  def classify(text: String): String = {
    val script = scriptOf(text)
    if (script != null) return script
    var hasLetter = false
    var i = 0
    while (i < text.length && !hasLetter) {
      if (Character.isLetter(text.charAt(i))) hasLetter = true
      i += 1
    }
    if (!hasLetter) return "und"
    val doc = topK(trigramCounts(text))
    val hits = new Array[Int](latinCodes.length)
    val dist = new Array[Long](latinCodes.length)
    var r = 0
    while (r < doc.length) {
      val ranks = profileRanks.get(doc(r))
      var li = 0
      while (li < latinCodes.length) {
        val rank = if (ranks == null) K else ranks(li)
        if (rank < K) hits(li) += 1
        dist(li) += math.abs(r - rank)
        li += 1
      }
      r += 1
    }
    var best = 0
    var li = 1
    while (li < latinCodes.length) { // ties keep the earlier (asc) code
      if (hits(li) > hits(best) ||
          (hits(li) == hits(best) && dist(li) < dist(best))) best = li
      li += 1
    }
    latinCodes(best)
  }

  /** Codegen/eval entry point. */
  def classifyUtf8(s: UTF8String): UTF8String =
    UTF8String.fromString(classify(s.toString))
}
