package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis expression library for large-scale training-data
  * pipelines: tokenization, quality scoring, language ID, document
  * fingerprinting. All pure Column compositions (codegen'd, no UDFs) —
  * designed to run inside one WholeStageCodegen span over a 100 TB
  * `documents` scan.
  *
  * Oracle-parity notes: counting uses occurrence semantics
  * (`filter`+`size`, not distinct intersection) and md5-based
  * fingerprints, both of which DuckDB reproduces exactly.
  */
object Text {

  /** Whitespace tokens of the trimmed text (empty text → [""] guard:
    * size(...)=0 for blank input). */
  def tokens(c: Column): Column =
    when(length(trim(c)) === 0, array().cast(ArrayType(StringType)))
      .otherwise(split(trim(c), "\\s+"))

  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish subword proxy: letter runs, single digits, or single
    * punctuation marks — a deterministic stand-in for a real BPE
    * vocabulary with the same scaling shape (regex over the text). */
  def bpeishTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))

  def charCount(c: Column): Column = length(c)

  private val PunctClass = "[.,!?;:]"

  def punctCount(c: Column): Column =
    size(regexp_extract_all(c, lit(PunctClass), lit(0)))

  def punctRatio(c: Column): Column =
    punctCount(c).cast(DoubleType) / greatest(length(c), lit(1)).cast(DoubleType)

  def digitRatio(c: Column): Column =
    size(regexp_extract_all(c, lit("[0-9]"), lit(0))).cast(DoubleType) /
      greatest(length(c), lit(1)).cast(DoubleType)

  def avgTokenLen(c: Column): Column =
    length(c).cast(DoubleType) / greatest(tokenCount(c), lit(1)).cast(DoubleType)

  /** Occurrence count of `words` over an ALREADY-MATERIALIZED tokens
    * column (staging contract — see [[Dedup.shinglesFromTokens]]). */
  def markerCountFromTokens(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(lit(_)): _*)))

  /** Occurrence count of `words` among the text's tokens. */
  def markerCount(c: Column, words: Seq[String]): Column =
    markerCountFromTokens(tokens(c), words)

  val EnglishStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "on", "for", "with")

  /** Per-language function-word tables for the multilingual stopword
    * floor (r17, the r16 verdict's #4; r18: 51 of the 55 LangId
    * languages): curated high-frequency function-word subsets of the
    * public stopword lists (the stopwords-iso / NLTK families) for
    * the languages the trained [[graft.operators.LangId]] serves.
    * ~20 words per language is plenty for a FLOOR (the jusText
    * discriminator asks "does this block contain function words at
    * all", not "which ones"); keyword spam scores 0 under every
    * list. Hit-rates on real prose VARY BY MORPHOLOGY — measured on
    * the langid fixture corpus (TextStopwordsSpec pins the floors):
    * analytic languages clear 0.2–0.35, while agglutinative /
    * heavily case-suffixing ones (Dravidian, Turkic, Uralic,
    * Georgian) sit at 0.10–0.15 because their function morphemes
    * attach to content words — so a single 0.25 floor false-rejects
    * Kannada prose that a 0.10 floor serves correctly; use
    * [[graft.operators.Corpus.extractContentByLang]]'s `floorByLang`
    * override for those rows. Structural exclusions, each DISABLING
    * the floor for its rows (never false-rejects): zh/ja/th write
    * without word spaces (a token-fraction floor needs segmentation
    * first), and ko space-separates eojeol that bundle particles
    * onto content words, so standalone function-word tokens are too
    * rare to floor on. Lists are lowercase; probes lowercase
    * tokens. */
  val StopwordLists: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "an", "and", "or", "of", "to", "in", "is",
      "it", "on", "for", "with", "as", "at", "by", "from", "was",
      "were", "not", "that", "this", "be", "are"),
    "de" -> Seq("der", "die", "das", "und", "oder", "ein", "eine",
      "einem", "einer", "dem", "den", "des", "ist", "sind", "war",
      "mit", "für", "auf", "in", "zu", "von", "nicht", "als", "auch",
      "bei", "es"),
    "fr" -> Seq("le", "la", "les", "un", "une", "des", "et", "ou",
      "de", "du", "dans", "est", "sont", "était", "pour", "avec",
      "sur", "au", "aux", "que", "qui", "ne", "pas", "par", "ce",
      "cette", "il", "elle"),
    "es" -> Seq("el", "la", "los", "las", "un", "una", "unos", "unas",
      "y", "o", "de", "del", "en", "es", "son", "era", "para", "con",
      "por", "que", "no", "se", "su", "al", "lo", "como", "más",
      "pero"),
    "pt" -> Seq("o", "a", "os", "as", "um", "uma", "uns", "umas", "e",
      "ou", "de", "do", "da", "em", "é", "são", "para", "com", "por",
      "que", "não", "se", "seu", "ao", "como", "mais"),
    "it" -> Seq("il", "lo", "la", "i", "gli", "le", "un", "una", "e",
      "o", "di", "del", "della", "in", "è", "sono", "per", "con",
      "su", "che", "non", "si", "al", "come", "più", "da"),
    "nl" -> Seq("de", "het", "een", "en", "of", "van", "in", "is",
      "zijn", "was", "voor", "met", "op", "aan", "dat", "niet", "te",
      "ook", "als", "bij", "naar", "door"),
    "sv" -> Seq("och", "att", "det", "som", "en", "på", "är", "av",
      "för", "med", "den", "till", "i", "inte", "har", "de", "om",
      "ett", "men", "var"),
    "da" -> Seq("og", "i", "det", "at", "en", "den", "til", "er",
      "som", "på", "de", "med", "han", "af", "for", "ikke", "der",
      "var", "et"),
    "no" -> Seq("og", "i", "det", "at", "en", "den", "til", "er",
      "som", "på", "de", "med", "av", "for", "ikke", "der", "var",
      "han", "om", "et"),
    "fi" -> Seq("ja", "on", "ei", "se", "että", "hän", "oli", "ovat",
      "mutta", "kun", "niin", "kuin", "myös", "jos", "tai", "sitä",
      "joka", "mikä"),
    "pl" -> Seq("i", "w", "na", "z", "do", "że", "się", "nie", "jest",
      "są", "był", "to", "po", "o", "jak", "za", "od", "ale", "dla",
      "przez", "co"),
    "cs" -> Seq("a", "v", "na", "se", "je", "že", "s", "z", "do",
      "to", "byl", "jsou", "o", "jako", "ale", "po", "za", "od",
      "pro", "když"),
    "ro" -> Seq("și", "în", "de", "la", "cu", "pe", "un", "o", "este",
      "sunt", "că", "nu", "se", "din", "pentru", "a", "mai", "care",
      "dar"),
    "hu" -> Seq("a", "az", "és", "hogy", "nem", "is", "egy", "van",
      "volt", "de", "el", "ki", "meg", "mint", "már", "csak", "ha",
      "vagy"),
    "tr" -> Seq("ve", "bir", "bu", "da", "de", "için", "ile",
      "olarak", "en", "çok", "daha", "ama", "gibi", "ne", "o", "ki",
      "var"),
    "id" -> Seq("yang", "dan", "di", "ke", "dari", "untuk", "pada",
      "dengan", "ini", "itu", "adalah", "tidak", "atau", "juga",
      "akan", "sudah", "bisa", "ada"),
    "vi" -> Seq("và", "của", "là", "có", "trong", "cho", "không",
      "được", "một", "những", "với", "này", "để", "đã", "khi",
      "người"),
    "ru" -> Seq("и", "в", "не", "на", "я", "что", "он", "с", "как",
      "это", "был", "она", "они", "к", "у", "же", "за", "от", "по",
      "но", "а", "для", "мы", "вы"),
    "uk" -> Seq("і", "в", "не", "на", "що", "я", "з", "до", "як",
      "це", "був", "вона", "вони", "у", "за", "від", "по", "але",
      "для"),
    "bg" -> Seq("и", "в", "не", "на", "че", "той", "с", "как", "това",
      "е", "са", "за", "от", "по", "но", "а", "до", "се"),
    "af" -> Seq("die", "en", "van", "het", "is", "in", "nie", "wat", "om",
      "te", "op", "se", "vir", "met", "dat", "was", "aan", "by", "as", "sy",
      "hy", "ons", "maar", "ek"),
    "ar" -> Seq("في", "من", "على", "إلى", "أن", "عن", "مع", "هذا", "هذه",
      "التي", "الذي", "كان", "لا", "ما", "هو", "هي", "قد", "كل", "بين",
      "أو", "بعد", "حتى", "ثم", "لم", "إن", "أنه", "كانت", "هناك", "قبل",
      "أكثر", "عند", "منذ"),
    "be" -> Seq("і", "у", "не", "на", "з", "што", "я", "ён", "яна", "як",
      "гэта", "да", "па", "за", "ад", "але", "для", "быў", "была", "яго",
      "вельмі", "мы", "ў", "калі", "яны", "мне"),
    "bn" -> Seq("এবং", "ও", "এই", "যে", "করে", "থেকে", "তার", "সে", "না",
      "একটি", "হয়", "কিন্তু", "তিনি", "এর", "জন্য", "আমি", "আর", "হবে",
      "ছিল", "এক", "আমরা", "তা", "খুব", "আগে", "আমাদের", "তারা", "আমার",
      "আজ"),
    "ca" -> Seq("el", "la", "els", "les", "un", "una", "i", "o", "de",
      "del", "en", "és", "són", "era", "per", "amb", "que", "no", "es",
      "al", "com", "més", "hi", "ha", "molt", "avui"),
    "el" -> Seq("και", "το", "η", "ο", "τα", "της", "του", "των", "με",
      "σε", "για", "από", "που", "δεν", "να", "είναι", "ήταν", "αυτό",
      "ένα", "μια", "στο", "στη", "ως", "αλλά", "πολύ", "θα"),
    "et" -> Seq("ja", "on", "ei", "et", "ta", "see", "oli", "aga", "ka",
      "kui", "mis", "oma", "või", "siis", "ning", "üle", "kes", "nagu",
      "veel", "väga", "me", "täna", "ma", "nad", "enne", "sa"),
    "fa" -> Seq("در", "به", "از", "که", "را", "با", "این", "است", "آن",
      "برای", "بود", "تا", "بر", "یک", "هم", "او", "ما", "نه", "اما", "یا",
      "شد", "می", "بسیار", "و", "امروز", "ها", "باید", "روی", "کرد"),
    "gu" -> Seq("અને", "છે", "આ", "તે", "ના", "ની", "નો", "માં", "થી", "કે",
      "પર", "હતી", "હતું", "એક", "પણ", "માટે", "સાથે", "જે", "હતો", "અમે",
      "ખૂબ", "હું", "પહેલાં", "મને", "જોઈએ", "સૌથી", "આજે"),
    "he" -> Seq("של", "את", "על", "הוא", "היא", "זה", "לא", "עם", "גם",
      "כי", "אבל", "או", "יש", "אם", "כל", "היה", "הם", "אני", "מה", "רק",
      "מאוד", "אנחנו", "היום", "בכל", "לפני", "אחר", "ביותר", "הזה"),
    "hi" -> Seq("और", "का", "की", "के", "में", "है", "हैं", "को", "से",
      "पर", "यह", "वह", "था", "थी", "एक", "नहीं", "भी", "कि", "तो", "ही",
      "हो", "इस", "उस", "हम", "बहुत", "आज", "ने", "रहे", "पहले"),
    "hr" -> Seq("i", "u", "je", "se", "na", "za", "da", "su", "od", "s",
      "a", "kao", "ali", "ili", "po", "što", "koji", "bio", "nije", "do",
      "iz", "vrlo", "mi", "smo", "danas", "kad", "prije", "bilo", "bi"),
    "hy" -> Seq("եւ", "և", "է", "են", "որ", "այս", "այն", "մի", "չի", "ես",
      "նա", "իր", "հետ", "մեջ", "վրա", "համար", "որպես", "էր", "կամ",
      "բայց", "շատ", "մենք", "այսօր", "պետք", "ավելի", "երբ", "նրանք"),
    "is" -> Seq("og", "að", "í", "á", "er", "það", "sem", "en", "var", "um",
      "við", "ekki", "af", "til", "hann", "hún", "með", "fyrir", "eru",
      "þá", "mjög", "ég", "dag", "hefur", "áður", "þegar", "þau", "eftir",
      "þetta"),
    "ka" -> Seq("და", "არის", "რომ", "ეს", "ის", "არ", "იყო", "მისი", "თუ",
      "ან", "მაგრამ", "როგორც", "უფრო", "იმ", "ამ", "ერთი", "შემდეგ", "მას",
      "მან", "ძალიან", "ჩვენ", "დღეს", "უნდა", "როცა"),
    "kk" -> Seq("және", "бұл", "мен", "бір", "да", "де", "үшін", "емес",
      "болды", "бар", "жоқ", "ол", "осы", "сол", "не", "егер", "бірақ",
      "немесе", "кейін", "өте", "біз", "бүгін", "олар", "ең", "бұрын",
      "алдында", "керек"),
    "kn" -> Seq("ಮತ್ತು", "ಈ", "ಆ", "ಒಂದು", "ಅವರು", "ಇದು", "ಅದು", "ಎಂದು",
      "ಇದೆ", "ಆಗಿ", "ಅಥವಾ", "ಆದರೆ", "ನಾನು", "ಅವರ", "ಮೇಲೆ", "ಹಾಗೂ", "ಇಲ್ಲ",
      "ತನ್ನ", "ನಾವು", "ತುಂಬಾ", "ಇಂದು", "ಅವಳು", "ಅವನು", "ಮೊದಲು"),
    "lt" -> Seq("ir", "yra", "kad", "tai", "į", "iš", "su", "bet", "kaip",
      "jis", "ji", "buvo", "ar", "apie", "per", "po", "prie", "nuo", "bei",
      "dar", "jau", "tik", "labai", "mes", "šiandien", "kai", "jie",
      "prieš", "visą"),
    "lv" -> Seq("un", "ir", "ka", "tas", "par", "ar", "no", "uz", "bet",
      "kā", "viņš", "viņa", "bija", "vai", "jau", "tikai", "pēc", "pie",
      "šis", "arī", "ļoti", "mēs", "šodien", "kad", "viņi", "mums", "visu",
      "šī", "pirms"),
    "mk" -> Seq("и", "на", "во", "не", "се", "од", "за", "со", "што", "е",
      "да", "тој", "таа", "како", "но", "или", "беше", "ова", "тоа", "по",
      "многу", "ние", "денес", "ги", "го", "кога", "дека", "пред"),
    "ml" -> Seq("ഒരു", "ഈ", "ആ", "അത്", "ഇത്", "എന്ന്", "അവൻ", "അവൾ",
      "ഉണ്ട്", "ഇല്ല", "എന്നാൽ", "അല്ലെങ്കിൽ", "വേണ്ടി", "ആണ്", "ആയി",
      "തന്റെ", "അവർ", "നാം", "വളരെ", "ഞാൻ", "മുമ്പ്", "ഞങ്ങൾ", "ഏറ്റവും",
      "ഇന്ന്", "വേണം"),
    "mr" -> Seq("आणि", "आहे", "या", "तो", "ती", "ते", "एक", "नाही", "होते",
      "होता", "पण", "किंवा", "मध्ये", "वर", "साठी", "त्या", "हा", "ही",
      "हे", "असे", "आम्ही", "खूप", "आज", "होती", "सर्वात"),
    "ms" -> Seq("yang", "dan", "di", "ke", "dari", "untuk", "pada",
      "dengan", "ini", "itu", "adalah", "tidak", "atau", "juga", "akan",
      "telah", "boleh", "ada", "kami", "sangat", "hari", "saya", "dia",
      "mereka", "sebelum", "lebih"),
    "pa" -> Seq("ਅਤੇ", "ਦੇ", "ਦੀ", "ਦਾ", "ਵਿੱਚ", "ਹੈ", "ਹਨ", "ਨੂੰ", "ਤੋਂ",
      "ਇਹ", "ਉਹ", "ਸੀ", "ਇੱਕ", "ਨਹੀਂ", "ਵੀ", "ਕਿ", "ਤੇ", "ਨਾਲ", "ਲਈ",
      "ਅਸੀਂ", "ਬਹੁਤ", "ਅੱਜ", "ਨੇ", "ਰਹੇ", "ਪਹਿਲਾਂ", "ਸਾਨੂੰ"),
    "sk" -> Seq("a", "v", "na", "sa", "je", "že", "s", "z", "do", "to",
      "bol", "sú", "o", "ako", "ale", "po", "za", "od", "pre", "keď", "aj",
      "my", "sme", "dnes", "veľmi", "pred", "bolo", "či"),
    "sl" -> Seq("in", "je", "se", "na", "za", "da", "so", "v", "ki", "pa",
      "ne", "bil", "kot", "ali", "po", "do", "iz", "tudi", "še", "zelo",
      "mi", "smo", "danes", "bo", "ko", "ob", "bi", "tem"),
    "sr" -> Seq("и", "у", "је", "се", "на", "за", "да", "су", "од", "с",
      "а", "као", "али", "или", "по", "што", "који", "био", "није", "до",
      "из", "веома", "ми", "данас", "i", "u", "je", "se", "na", "za", "da",
      "su", "od", "kao", "ali", "ili", "би", "било", "пре", "кад"),
    "sw" -> Seq("na", "ya", "wa", "kwa", "ni", "za", "la", "katika", "hii",
      "hiyo", "kama", "lakini", "au", "yake", "wake", "kuwa", "bila",
      "sana", "pia", "hata", "sisi", "leo", "kwenye", "kabla", "cha",
      "hili", "zaidi", "wao"),
    "ta" -> Seq("ஒரு", "இந்த", "அந்த", "என்று", "மற்றும்", "இது", "அது",
      "உள்ள", "என", "ஆனால்", "அல்லது", "அவர்", "அவள்", "இல்லை", "உள்ளது",
      "என்ன", "அவர்கள்", "தன்", "நாம்", "மிகவும்", "இன்று", "நான்", "முன்",
      "முழுவதும்", "வேண்டும்", "நாங்கள்"),
    "te" -> Seq("మరియు", "ఈ", "ఆ", "ఒక", "అది", "ఇది", "అని", "ఉంది",
      "లేదు", "కానీ", "లేదా", "అతను", "ఆమె", "వారు", "కోసం", "తన", "పై",
      "గా", "మేము", "చాలా", "ఈరోజు", "నేను", "ముందు", "మా", "నా"))

  /** English bad-words gate list for [[graft.operators.Corpus.c4Clean]]'s
    * `blockWords` arm (r17) — a curated subset of the public LDNOOBW
    * list C4 (Raffel 2020 §2.2) filters with; production swaps in the
    * full list (it is corpus policy, and the gate takes any Seq).
    * Word-boundary semantics live in the gate, not here. */
  val BadWordsEnglish: Seq[String] = Seq(
    "shit", "fuck", "fucking", "fucker", "cunt", "bitch", "asshole",
    "bastard", "dick", "cock", "pussy", "whore", "slut", "nigger",
    "faggot", "blowjob", "handjob", "cumshot", "dildo", "porn",
    "porno", "pornography", "xxx", "hentai", "milf", "bukkake",
    "gangbang", "deepthroat")

  def stopwordRatio(c: Column, stopwords: Seq[String] = EnglishStopwords): Column =
    markerCount(c, stopwords).cast(DoubleType) /
      greatest(tokenCount(c), lit(1)).cast(DoubleType)

  /** Composite quality score in [0,1]: length sweet-spot, low
    * punctuation/digit noise, healthy stopword density. Weights are
    * heuristic; the shape (bounded monotone pieces) is what matters. */
  def qualityScore(c: Column): Column = {
    val lenScore = least(tokenCount(c).cast(DoubleType) / lit(50.0), lit(1.0))
    val punctPenalty = least(punctRatio(c) * lit(5.0), lit(1.0))
    val digitPenalty = least(digitRatio(c) * lit(5.0), lit(1.0))
    val stopScore = least(stopwordRatio(c) * lit(4.0), lit(1.0))
    // no rounding: the raw double from this exact expression tree is
    // bit-reproducible across engines; rounding would reintroduce
    // half-way-tie divergence
    lit(0.4) * lenScore + lit(0.3) * stopScore +
      lit(0.15) * (lit(1.0) - punctPenalty) + lit(0.15) * (lit(1.0) - digitPenalty)
  }

  /** CJK characters per character — the zh signal. */
  def cjkCount(c: Column): Column =
    size(regexp_extract_all(c, lit("[\\u4e00-\\u9fff]"), lit(0)))

  /** Marker words per language for the n-gram/stopword language-ID
    * heuristic (latin scripts); zh is detected by CJK char density. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "una"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "mit"),
    "fr" -> Seq("le", "la", "les", "de", "et", "est", "un", "une"))

  /** The argmax/tie-break over ALREADY-NAMED per-language score
    * columns: zh when CJK chars dominate, "und" when nothing scores,
    * ties break by [[LangMarkers]] order (deterministic). Feed
    * attribute references, not raw marker-count trees — each score is
    * referenced ~2× per language branch here, and HOF lambdas get no
    * CSE (the [[Dedup.shinglesFromTokens]] staging contract). */
  def langIdFromScores(scores: Seq[(String, Column)], cjkCnt: Column, len: Column): Column = {
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    val pick = scores.foldRight(lit("und")) { case ((lang, s), els) =>
      when(s === best && s > 0, lit(lang)).otherwise(els)
    }
    when(cjkCnt * 4 > len, lit("zh")).otherwise(pick)
  }

  /** Staged DataFrame-level language ID — the hot-path form: tokens
    * materialize once, the four marker counts become named columns,
    * and the argmax runs over attribute references. The one-shot
    * Column form ([[langId]]) embeds the token split ~20× across its
    * branches (no CSE inside HOF lambdas), which melts on a 100 TB
    * `documents` scan; this form evaluates it once per row.
    *
    * `trained` (r13) swaps the 4-language marker argmax for a trained
    * [[graft.operators.LangId]] model (hashed char-n-gram NB,
    * integer-quantized serving) — same column contract, real breadth.
    * The marker form stays the zero-model default. */
  def withLangId(df: org.apache.spark.sql.DataFrame, textCol: String,
      outCol: String = "lang_guess",
      trained: Option[graft.operators.LangId.Quantized] = None)
      : org.apache.spark.sql.DataFrame = trained match {
    case Some(q) => graft.operators.LangId.withLang(df, textCol, q, outCol)
    case None => withLangIdMarkers(df, textCol, outCol)
  }

  private def withLangIdMarkers(df: org.apache.spark.sql.DataFrame,
      textCol: String, outCol: String): org.apache.spark.sql.DataFrame = {
    val scoreCols = LangMarkers.map { case (lang, _) => lang -> s"_langid_$lang" }
    val staged = df.withColumn("_langid_toks", tokens(col(textCol)))
    val scored = LangMarkers.foldLeft(staged) { case (d, (lang, words)) =>
      d.withColumn(s"_langid_$lang", markerCountFromTokens(col("_langid_toks"), words))
    }
    scored
      .withColumn(outCol, langIdFromScores(
        scoreCols.map { case (lang, c) => lang -> col(c) },
        cjkCount(col(textCol)), length(col(textCol))))
      .drop("_langid_toks" +: scoreCols.map(_._2): _*)
  }

  /** Language-ID, one-shot Column form (convenience; argmax of
    * marker-word hits). Hot paths use [[withLangId]] — this tree
    * re-evaluates the token split per branch. */
  def langId(c: Column): Column =
    langIdFromScores(
      LangMarkers.map { case (lang, words) => lang -> markerCount(c, words) },
      cjkCount(c), length(c))

  /** Compression-ratio quality signal: DEFLATE(text)/|text| via the
    * native [[DeflateRatio]] expression (codegen'd static call,
    * map-side, no UDF). Repetitive/templated text sinks below ~0.4;
    * natural prose ≈ 0.5–0.7. Deterministic within a cluster (zlib of
    * the shared JVM build) but not across engines — spec'd and gated
    * rows-only, never hash-oracled. */
  def compressionRatio(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(DeflateRatio(ColumnBridge.expression(c)))
  }

  // ---- HTML stripping ----------------------------------------------

  /** Crawl-to-text boilerplate stripping: drop script/style elements
    * WITH their bodies (non-greedy, dot-matches-newline via inline
    * (?s) — identical in Java and RE2; one pass PER tag name, since
    * RE2 has no backreferences and a combined alternation would let a
    * stray `</style>` inside a script body close the script span
    * early), drop remaining tags, decode HTML character references
    * (r14: one left-to-right [[HtmlEntities.decodeEntities]] pass —
    * numeric `&#233;`/`&#x2014;` refs to the full Unicode range plus
    * the HTML4 named repertoire, replacing the r13 six-entity
    * replace fold that leaked `&eacute;`-class junk into non-English
    * corpora; `&amp;lt;` still yields the literal "&lt;", the
    * standard single-pass contract), collapse whitespace via an
    * explicit class (Java's \s includes \x0B, RE2's does not — the
    * explicit class keeps both engines identical). NBSP (U+00A0),
    * which `&nbsp;` now decodes to faithfully, is folded into the
    * whitespace collapse — visible text keeps plain spaces, and the
    * twin mirrors the class. Tag names are boundary-anchored so
    * `<scriptlet>` is a tag, not a script opener, and matched
    * case-insensitively (inline (?i), identical in Java and RE2) —
    * HTML tag names are case-insensitive, and a case-sensitive
    * pattern would strip a `<SCRIPT>` element's tags in the generic
    * pass while leaking its JS body into the text. Pure codegen'd
    * projection. */
  def stripHtml(c: Column): Column = {
    val noScript = regexp_replace(c,
      "(?is)<script([ \\t\\n\\x0B\\f\\r][^>]*)?>.*?</script>", " ")
    val noStyle = regexp_replace(noScript,
      "(?is)<style([ \\t\\n\\x0B\\f\\r][^>]*)?>.*?</style>", " ")
    val noTags = regexp_replace(noStyle, "<[^>]*>", " ")
    val decoded = HtmlEntities.decodeEntities(noTags)
    // \x{00A0} (not \uXXXX): the brace form parses identically in
    // Java regex and RE2 — the oracle twin carries the same class
    trim(regexp_replace(decoded, "[ \\t\\n\\x0B\\f\\r\\x{00A0}]+", " "))
  }

  // ---- URL canonicalization ----------------------------------------
  //
  // The CommonCrawl-pipeline dedup key: two fetches of the same page
  // differ in case, default ports, duplicate slashes, tracking params,
  // param order, and fragments — canonicalize before grouping or URL
  // dedup undercounts badly. Pattern syntax stays in the Java∩RE2
  // subset; list ops (split/filter/sort/join) exist in both engines.

  private val UrlSchemeRe = "^([A-Za-z][A-Za-z0-9+.-]*)://.*$"
  private val UrlHostRe = "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*).*$"
  private val UrlPathRe = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*).*$"
  private val UrlQueryRe = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*[^?#]*\\?([^#]*).*$"
  private val TrackingParamRe = "^(utm_[^=]*|ref|fbclid|gclid)(=.*)?$"

  /** Canonical URL from STAGED component columns (see
    * [[withCanonicalUrl]] for the staging): lowercase scheme and host,
    * default ports stripped per scheme, duplicate slashes collapsed,
    * trailing slashes trimmed (root stays "/"), tracking params
    * dropped, surviving params sorted, fragment dropped. Non-URLs
    * (no scheme) pass through unchanged. */
  def canonicalUrlFromParts(url: Column, scheme: Column, host: Column,
      path: Column, query: Column): Column = {
    val lscheme = lower(scheme)
    val lhost0 = lower(host)
    val lhost = when(lscheme === "http", regexp_replace(lhost0, ":80$", ""))
      .when(lscheme === "https", regexp_replace(lhost0, ":443$", ""))
      .otherwise(lhost0)
    val cpath0 = regexp_replace(path, "/{2,}", "/")
    val cpath1 = rtrim(cpath0, "/")
    val cpath = when(length(cpath1) === 0, lit("/")).otherwise(cpath1)
    val params = filter(split(query, "&"),
      p => !(p.rlike(TrackingParamRe)) && length(p) > 0)
    val cquery = array_join(array_sort(params), "&")
    when(length(scheme) === 0, url).otherwise(concat(
      lscheme, lit("://"), lhost, cpath,
      when(length(cquery) > 0, concat(lit("?"), cquery)).otherwise(lit(""))))
  }

  /** Stage URL components as named columns, then canonicalize —
    * regexp_extract runs once per component per row instead of once
    * per use inside the combined tree (the HOF-staging contract). */
  def withCanonicalUrl(df: org.apache.spark.sql.DataFrame, urlCol: String,
      outCol: String = "canonical_url"): org.apache.spark.sql.DataFrame =
    df.withColumn("_u_scheme", regexp_extract(col(urlCol), UrlSchemeRe, 1))
      .withColumn("_u_host", regexp_extract(col(urlCol), UrlHostRe, 1))
      .withColumn("_u_path", regexp_extract(col(urlCol), UrlPathRe, 1))
      .withColumn("_u_query", regexp_extract(col(urlCol), UrlQueryRe, 1))
      .withColumn(outCol, canonicalUrlFromParts(col(urlCol), col("_u_scheme"),
        col("_u_host"), col("_u_path"), col("_u_query")))
      .drop("_u_scheme", "_u_host", "_u_path", "_u_query")

  /** One-shot Column form (stages nothing — hot paths use
    * [[withCanonicalUrl]]). */
  def canonicalUrl(c: Column): Column =
    canonicalUrlFromParts(c,
      regexp_extract(c, UrlSchemeRe, 1), regexp_extract(c, UrlHostRe, 1),
      regexp_extract(c, UrlPathRe, 1), regexp_extract(c, UrlQueryRe, 1))

  // ---- PII detection / redaction -----------------------------------
  //
  // Patterns stay inside the syntax subset Java regex and RE2 (the
  // oracle's engine) interpret identically: character classes, bounded
  // repetition, optional groups — no lookaround, no backreferences.
  // Both engines use leftmost-first matching with greedy quantifiers,
  // so match spans (and thus redacted output strings) are identical.

  /** RFC-casual email: local part @ dotted domain with a ≥2-letter TLD. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Separated phone number: +C<sep>NNN<sep>NNN(<sep>NNNN) with
    * dash/dot/space separators, or a parenthesized area code
    * ("(555) 123-4567"). At least three separated groups — bare
    * 7-digit locals and digit ranges ("pages 123-456") don't match.
    * `\b` guards (ASCII word boundary — identical in Java and RE2)
    * keep matches out of longer digit runs, so "90210-555-123456"
    * redacts nothing rather than a mid-ID slice; the flip side is
    * that a trailing extension glued on without a separator
    * ("...4567x99") suppresses the match. Space separators trade some
    * precision for recall: space-grouped numerals ("1 234 567") are
    * phone-shaped and get redacted — the safe direction for a
    * scrubber. Non-separated internationals (+15551234567) are out of
    * scope: a bare 10-11 digit run is indistinguishable from an ID. */
  val PhonePattern =
    "(\\+?\\b[0-9]{1,3}[-. ]|\\([0-9]{3}\\) ?)[0-9]{3}[-. ][0-9]{3,4}([-. ][0-9]{3,4})?\\b"

  /** Dotted-quad IPv4 (syntactic — no 0-255 range check, matching
    * standard scrubber practice; range-checking needs alternations
    * that RE2 and Java still share, but adds nothing for redaction). */
  val Ipv4Pattern = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  def redactEmails(c: Column): Column = regexp_replace(c, EmailPattern, "<EMAIL>")
  def redactIpv4(c: Column): Column = regexp_replace(c, Ipv4Pattern, "<IP>")
  def redactPhones(c: Column): Column = regexp_replace(c, PhonePattern, "<PHONE>")

  /** Redact all PII classes. Order is load-bearing: emails first
    * (their local parts/domains contain digit runs the other patterns
    * could clip), then IPv4 (dotted digits), then phones (dashed
    * digits, which neither earlier replacement reintroduces). */
  def redactPii(c: Column): Column = redactPhones(redactIpv4(redactEmails(c)))

  def piiCount(c: Column, pattern: String): Column =
    size(regexp_extract_all(c, lit(pattern), lit(0)))

  /** Per-row PII counts + redacted text, staged so each intermediate
    * redaction evaluates once (counts are defined over the
    * progressively-redacted text, mirroring [[redactPii]]'s order, so
    * a span never counts under two classes). */
  def withPiiSignals(df: org.apache.spark.sql.DataFrame, textCol: String): org.apache.spark.sql.DataFrame =
    df.withColumn("n_emails", piiCount(col(textCol), EmailPattern))
      .withColumn("_r1", redactEmails(col(textCol)))
      .withColumn("n_ips", piiCount(col("_r1"), Ipv4Pattern))
      .withColumn("_r2", redactIpv4(col("_r1")))
      .withColumn("n_phones", piiCount(col("_r2"), PhonePattern))
      .withColumn("redacted", redactPhones(col("_r2")))
      .drop("_r1", "_r2")

  /** Normalized form used for fingerprinting: lowercase, collapse
    * whitespace, strip punctuation noise. */
  def normalized(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9\\s]", ""), "\\s+", " "))

  /** Whole-document fingerprint (md5 of the normalized text — robust
    * to case/punct/whitespace edits). */
  def fingerprint(c: Column): Column = md5(normalized(c))

  /** Unicode NFC (canonical composition) via the native
    * [[NfcNormalize]] expression — composed vs decomposed spellings
    * of the same text ("é" as U+00E9 vs U+0065+U+0301) become one
    * byte sequence. */
  def nfc(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(NfcNormalize(ColumnBridge.expression(c)))
  }

  /** Unicode-robust whole-document fingerprint (r16): NFC first, so
    * canonically-equivalent spellings dedup together — [[normalized]]
    * strips to `[a-z0-9\s]`, which erases the distinction for Latin
    * accents but NOT for scripts it passes through untouched; real
    * web corpora carry both NFC and NFD spellings of the same page
    * (editor- and entity-decoder-dependent), and a byte fingerprint
    * without this layer counts them as distinct documents. The md5
    * is over `lower(nfc(text))` with whitespace collapsed — scripts
    * preserved (the LangId normalization lesson: an ASCII strip
    * erases every non-Latin document). */
  def fingerprintUnicode(c: Column): Column =
    md5(trim(regexp_replace(lower(nfc(c)),
      "[ \\t\\n\\x0B\\f\\r\\x{00A0}]+", " ")))

  /** Character k-grams of an ALREADY-MATERIALIZED normalized column.
    * Inside the transform lambda `n` re-evaluates per element; a raw
    * `normalized(text)` tree there would re-run its regexes for every
    * gram (see Dedup.shinglesFromTokens performance contract) — stage
    * the normalized text as a named column first. */
  def charNgramsFromNormalized(n: Column, k: Int): Column = {
    val cnt = greatest(length(n) - lit(k - 1), lit(0))
    slice(
      transform(sequence(lit(1), greatest(cnt, lit(1))), i => n.substr(i, lit(k))),
      lit(1), cnt)
  }

  /** Character k-grams of the normalized text (one-shot convenience). */
  def charNgrams(c: Column, k: Int): Column =
    charNgramsFromNormalized(normalized(c), k)

  /** Character k-grams at every `stride`-th position (winnowing
    * sample; stride=1 = all grams). */
  def stridedNgramsFromNormalized(n: Column, k: Int, stride: Int): Column = {
    val cnt = greatest(length(n) - lit(k - 1), lit(0))
    filter(
      transform(sequence(lit(1), greatest(cnt, lit(1)), lit(stride)),
        i => n.substr(i, lit(k))),
      g => length(g) === k)
  }

  /** Rolling-hash fingerprint from a materialized normalized column:
    * the minimum sampled k-gram hash (one winnowing band with a
    * position stride) — equal fingerprints ⇒ shared k-gram after
    * normalization. md5-based so the oracle can reproduce it. */
  def rollingFingerprintFromNormalized(n: Column, k: Int = 16, stride: Int = 4): Column =
    array_min(transform(stridedNgramsFromNormalized(n, k, stride), g => md5(g)))
}
