package graft.functions

import graft.ref.RefLangId
import org.scalatest.funsuite.AnyFunSuite

class TextAnalysisSpec extends AnyFunSuite {

  test("simhash: identical texts collide, similar texts are close") {
    val a = TextAnalysis.simhash64("the quick brown fox jumps over dogs")
    val b = TextAnalysis.simhash64("the quick brown fox jumps over dogs")
    val c = TextAnalysis.simhash64("the quick brown fox jumps over cats")
    val d = TextAnalysis.simhash64("entirely unrelated words here xyzzy")
    assert(a == b)
    assert(TextAnalysis.hamming64(a, c) < TextAnalysis.hamming64(a, d))
  }

  test("min shingle hash: shared shingles can share fingerprints") {
    val a = TextAnalysis.minShingleHash("a b c d e f g h")
    val b = TextAnalysis.minShingleHash("a b c d e f g h")
    assert(a == b)
    // shorter than k words falls back to whole-text hash
    val s = TextAnalysis.minShingleHash("one two")
    assert(s == MinHashF.fnv64("one two"))
  }

  test("wordpiece: greedy longest match with ## continuations and [UNK]") {
    val vocab = Set("un", "##aff", "##able", "##ab", "hello", "##lo", "hel")
    assert(TextAnalysis.wordpiece("unaffable", vocab) ==
      Seq("un", "##aff", "##able"))
    assert(TextAnalysis.wordpiece("hello", vocab) == Seq("hello"))
    assert(TextAnalysis.wordpiece("unknownword", vocab) == Seq("[UNK]"))
    assert(TextAnalysis.wordpiece("hello unaffable", vocab) ==
      Seq("hello", "un", "##aff", "##able"))
    // greedy: 'hello' wins over 'hel'+'##lo'
    assert(TextAnalysis.wordpiece("", vocab) == Seq.empty)
  }

  test("langid markers count literally (non-overlapping replace)") {
    // column form parity is covered in CrawlParitySpec; here the
    // marker-table shape: 124 languages (22 original + four breadth
    // waves), priority order starts with the original four, every
    // language has >= 2 markers, and no marker embeds a quote that
    // would break the generated oracle SQL literal. Markers must also
    // be BMP-only: the oracle divides by the Scala String length
    // (UTF-16 units) while DuckDB counts code points — equal only
    // without surrogate pairs.
    val langs = TextAnalysis.LangMarkers.map(_._1)
    assert(langs.take(4) == Seq("en", "de", "fr", "es"))
    assert(langs.length == 124 && langs.distinct.length == 124)
    assert(TextAnalysis.LangMarkers.forall(_._2.length >= 2))
    assert(TextAnalysis.LangMarkers.forall(_._2.forall(w =>
      !w.contains("'") && !w.contains(" "))))
    assert(TextAnalysis.LangMarkers.forall(_._2.forall(w =>
      w.length == w.codePointCount(0, w.length))))
  }

  test("langIdCol classifies sample sentences across all 124 languages") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val samples = Seq(
      "en" -> "the cat sat on a mat and the dog barked",
      "de" -> "der hund und der mann gehen und reden",
      "fr" -> "le chien et le chat et la maison",
      "es" -> "el perro y el gato y la casa",
      "pt" -> "não temos uma casa mas uma vida boa não ruim",
      "it" -> "il cane che corre e il gatto che dorme",
      "nl" -> "het huis is een mooi huis en het leven is een feest",
      "ru" -> "я и ты не знаем и не видим",
      "pl" -> "to się nie dzieje i się nie stanie",
      "cs" -> "to se nestalo že se to stane",
      "sv" -> "hunden och katten vet att huset och livet",
      "no" -> "hunden og katten er ikke hjemme og ikke ute",
      "da" -> "det er en del af det store hus af sten",
      "fi" -> "koira ja kissa ei tiedä ja ei näe",
      "hu" -> "a kutya és a macska nem tudja és nem látja",
      "ro" -> "câinele și pisica nu știu și nu văd",
      "tr" -> "bir köpek ve bir kedi ve bir ev",
      "id" -> "rumah yang besar dan anjing yang kecil dan kucing",
      "vi" -> "con chó và con mèo của tôi và của bạn",
      "el" -> "το σπίτι και ο σκύλος να τρέχει και να παίζει",
      "ar" -> "البيت في المدينة من الحجر في الشارع من هنا",
      "he" -> "הבית של האיש את הכלב של הילד את החתול",
      "uk" -> "що це добре що це так",
      "bg" -> "това е към града и това е към дома",
      "sr" -> "пас је добар и мачке су добре је су ту",
      "hr" -> "čovjek koji radi ili koji spava ili pjeva",
      "sk" -> "čo je to ktorý deň a čo je ktorý čas",
      "sl" -> "to je tudi lahko res tudi lahko prav",
      "lt" -> "tai ir yra gerai ir yra taip",
      "lv" -> "tas arī nav labi arī nav slikti",
      "et" -> "see ning too või see ning too või",
      "be" -> "гэта што трэба гэта што было",
      "mk" -> "дека во градот дека во домот",
      "fa" -> "گفت که از خانه که از شهر",
      "ur" -> "اس کے گھر ہے اور اس کے پاس ہے",
      "hi" -> "यह है और उस के घर है के पास",
      "bn" -> "সে এবং তারা করে এবং আবার করে",
      "ta" -> "அது மற்றும் இது ஒரு வீடு மற்றும் ஒரு நாய்",
      "te" -> "అది మరియు ఇది ఒక ఇల్లు మరియు ఒక కుక్క",
      "ml" -> "അത് ഒരു വീട് എന്ന് ഒരു നായ എന്ന് പറഞ്ഞു",
      "tl" -> "ito ang bahay ng tao ang aso ng bata",
      "sw" -> "nyumba kwa watu ya mbwa kwa paka ya mtu",
      "af" -> "die huis en die hond is nie hier nie",
      "ca" -> "amb els gossos amb els gats",
      "gl" -> "unha casa e máis unha vida e máis",
      "eu" -> "eta bat etxe eta bat txakur",
      "sq" -> "dhe një shtëpi dhe një qen",
      "az" -> "ev və it üçün və pişik üçün",
      "kk" -> "үй және ит бір мысық және бір",
      "uz" -> "uy va it bilan va mushuk bilan",
      "ky" -> "үй жана ит менен жана мышык менен",
      "hy" -> "տուն և շուն որ և կատու որ",
      "ka" -> "სახლი და ძაღლი რომ და კატა რომ",
      "mn" -> "байшин нь байна нохой нь байна",
      "ne" -> "घर छ गरेको र कुकुर छ गरेको",
      "si" -> "ගෙය සහ බල්ලා ඇත සහ පූසා ඇත",
      "is" -> "við erum það hér við það þar",
      "ga" -> "tá sé anseo agus tá sé ansin agus",
      "cy" -> "mae wedi bod yma wedi bod yno",
      "mt" -> "dan huwa dar jew huwa kelb jew",
      "am" -> "ቤት ነው እና ውሻ ነው እና",
      "mr" -> "घर आहे आणि कुत्रा आहे आणि",
      "gu" -> "ઘર છે અને કૂતરો છે અને",
      "pa" -> "ਘਰ ਹੈ ਅਤੇ ਕੁੱਤਾ ਹੈ ਅਤੇ",
      "kn" -> "ಮನೆ ಮತ್ತು ಒಂದು ನಾಯಿ ಮತ್ತು ಒಂದು",
      "or" -> "ଘର ଏବଂ ଅଛି କୁକୁର ଏବଂ ଅଛି",
      "yo" -> "ilé àti ajá jẹ́ dára àti jẹ́",
      "ha" -> "gida kuma yana nan kare kuma yana",
      "zu" -> "indlu futhi ukuthi inja futhi ukuthi",
      "xh" -> "indlu kwaye ukuba inja kwaye ukuba",
      "so" -> "guriga iyo eyga waa fiican iyo waa",
      "rw" -> "inzu kandi imbwa cyane nziza kandi cyane",
      "mg" -> "trano dia izay alika dia izay",
      "ceb" -> "balay ug kini iro ug kini",
      "jv" -> "omah lan iku asu lan iku",
      "su" -> "imah jeung anu anjing jeung anu",
      "tg" -> "хона аст ва саг аст ва",
      "ps" -> "کور دی او سپی دی او",
      "ku" -> "mal heye û kûçik heye û",
      "ms" -> "rumah itu cantik kerana anda boleh datang kerana boleh",
      "la" -> "hoc est quod est quod erat",
      "eo" -> "la domo estas granda kaj la hundo estas eta kaj",
      "ht" -> "li gen yon kay nan lavil la yon chen nan lakou",
      "lb" -> "dat ass e schéint haus vun him ass vun mir",
      "fy" -> "it hûs fan de man sil wurde boud fan hout wurde",
      "gd" -> "tha an taigh anns a bhaile tha an cù anns",
      "br" -> "an ti hag ar chi eo bras hag eo bihan",
      "oc" -> "aquò es una casa dins la vila aquò dins",
      "mi" -> "kei te whare ngā tāngata kei te kura ngā tamariki",
      "ny" -> "nyumba ndipo galu chifukwa ndipo chifukwa",
      "sn" -> "imba uye imbwa zvino uye zvino",
      "st" -> "ntlo e ntle hore empa ntja e kgolo hore empa",
      "tn" -> "ntlo e ntle gore mme ntsa gore mme",
      "ig" -> "ụlọ nke m bụ ukwu nke a bụ",
      "om" -> "mana keessa jira kana sareen keessa kana",
      "ti" -> "እቲ ገዛ እዩ ናይ ሰብኣይ እዩ ናይ",
      "sd" -> "گهر جي ڀرسان ڪتو آهي اهو جي آهي",
      "ug" -> "ئۆي ۋە ئىت بىلەن مۈشۈك ۋە بىلەن",
      "tt" -> "йорт һәм эт белән мәче һәм белән",
      "tk" -> "öý bilen it üçin pişik bilen üçin",
      "yi" -> "דאָס הויז איז גרויס און דער הונט איז קליין און",
      "sa" -> "गृहम् अस्ति एव श्वानः अस्ति एव",
      "as" -> "ঘৰ আৰু কুকুৰ হয় আৰু হয়",
      "fo" -> "báturin hevur teirra hús hevur teirra vatn",
      "sco" -> "he wis gaun tae thon toun an wis gled tae be",
      "gv" -> "jannoo obbyr ayns shen as jannoo ayns shoh",
      "co" -> "induve hè u casale chì canta induve chì dorme",
      "sc" -> "custu logu paret comente su mare custu comente su chelu",
      "rm" -> "quai è ina chasa e quai è ina via",
      "an" -> "enta o lugar con atros ninos e enta atros días",
      "ast" -> "nesti pueblu asina ye nesti sitiu asina foi",
      "ilo" -> "dagiti balay ken kadagiti tao dagiti aso kadagiti purok",
      "hmn" -> "lawv mus thiab lawv los thiab nyob",
      "qu" -> "chaymanta hamuni kaypi tiyani chaymanta rini kaypi",
      "ay" -> "ukat jutäna ukhama luräna ukat ukhama",
      "gn" -> "avei oho guive ou avei opyta guive",
      "wo" -> "dafa dem loolu la dafa ñëw loolu",
      "ln" -> "bango bakei mpe bango bayei mpe bazali",
      "ts" -> "leswaku vanhu naswona leswaku vana naswona ta",
      "ss" -> "kutsi bantfu ngako kutsi bantfwana ngako",
      "ve" -> "ngauri vhathu havha ngauri vhana havha",
      "nso" -> "gomme batho bjalo gomme bana bjalo tla",
      "cv" -> "вăл тата килет пулать тата каять пулать",
      "os" -> "æмæ уыцы лæг æмæ уыцы сывæллон")
    val got = samples.map(_._2).toDF("text")
      .select(RefLangId.langIdCol(col("text")).as("lang"))
      .as[String].collect().toSeq
    val want = samples.map(_._1)
    assert(got == want, samples.map(_._1).zip(got)
      .filter { case (w, g) => w != g }.mkString(", "))
    // no markers at all -> unk
    val unk = Seq("zzz qqq xxx").toDF("text")
      .select(RefLangId.langIdCol(col("text")).as("lang"))
      .as[String].head()
    assert(unk == "unk")
  }

  test("native graft_lang_id matches the Column-algebra scorer exactly") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // adversarial cases: adjacent repeats (non-overlapping replace counts
    // fewer than token counts — both sides must agree), ties (priority
    // order), empty, markers at string edges, unicode markers
    val texts = Seq(
      "the the the cat", "x the the y", "", "the", "a", "und der",
      "le et el y", "și nu și nu", "и не и не", "tiny und a the",
      "the a der und le et el y") ++
      (0 until 50).map(i => s"w$i the a${" der" * (i % 3)} x ${i % 7}")
    val df = texts.toDF("text")
    val both = df.select(
        RefLangId.langIdCol(col("text")).as("portable"),
        graft.expressions.LangExpressions.langIdCol(col("text")).as("native"))
      .as[(String, String)].collect()
    both.zip(texts).foreach { case ((p, n), t) =>
      assert(p == n, s"mismatch on '$t': portable=$p native=$n")
    }
  }
}
