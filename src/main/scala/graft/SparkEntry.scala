package graft

import graft.functions.{Money, Normalize, RowHash}
import graft.operators._
import graft.pipeline.{Runner, Sinks, TableSpec}
import graft.pipeline.CorpusPipeline.spread
import graft.streaming.Streams
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 plus the LLM-data-pipeline extensions, each with equivalent
  * DuckDB SQL in `oracleSql` (omitted only for operators built on
  * xxhash64/splitmix64, which DuckDB cannot reproduce — those get the
  * driver's rows-only check).
  *
  * Determinism rules applied throughout (so Spark and DuckDB hash-match):
  *  - money sums go through DECIMAL(18,4) and are cast to double at the edge
  *    (exact, partition-order-independent — SURVEY.md §7.4 trap 8);
  *  - every row-level result has a total ORDER BY;
  *  - top-k orderings carry a unique tiebreak column;
  *  - vector scores use quantized integer dot products (Similarity.dotQuantized);
  *  - every integer `sum()` an oracle outputs is wrapped in CAST(... AS BIGINT):
  *    DuckDB widens sum(BIGINT) to HUGEINT (plain and windowed), which breaks
  *    the driver's byte-level hash on values that are actually equal.
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    TableSpec.read(spark, dir, name)

  /** Test/diagnostic hook: the constructed FineWeb crawl-page fixture
    * over the documents table (see [[fineWebPages]]).
    */
  private[graft] def fineWebPagesForProfile(spark: SparkSession,
                                            dir: String): DataFrame =
    fineWebPages(t(spark, dir, "documents"))

  /** Flagship query (SURVEY.md §3.3 reconciliation): monthly row-count
    * alignment of lineitem vs orders — scan, null-filter, derived month key,
    * hash-agg both sides, full-outer align, diff.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val li = Reconcile.monthlyAgg(t(spark, dir, "lineitem"), "l_shipdate", Seq("l_extendedprice"))
    val or = Reconcile.monthlyAgg(t(spark, dir, "orders"), "o_orderdate", Seq("o_totalprice"))
    Reconcile.alignDiff(li, or, "month", "n_rows").orderBy("month")
  }

  /** Exact decimal sum rendered as double — the one money-sum shape both
    * engines agree on bit-for-bit. */
  private def moneySum(c: String): Column =
    Money.sum(col(c)).cast("double").as(s"sum_$c")

  // ---- constructed HTML fixture pages (r12) -------------------------
  // Both engines build the IDENTICAL page string from the documents
  // fixture (the redact_pii/web_recipe convention), exercising every
  // extractor surface: title/nav/heading/content/footer blocks,
  // script+style+comment invisibility, nested inline tags, and the
  // entity-decode edges (&amp; in a DROPPED nav block, &amp;/&lt;/&gt;
  // in a KEPT content block so decoding lands in the hash comparison).
  // No single quotes anywhere — the constants interpolate into SQL
  // string literals verbatim.
  private val HtmlPagePrefix =
    "<html><head><title>Doc page</title>" +
      "<style>body { margin: 0; }</style>" +
      "<script>var n = 1; if (n &lt; 2) track();</script></head><body>" +
      "<!-- header boilerplate <p>not text</p> -->" +
      "<div class=\"nav\"><ul><li><a href=\"/home\">Home</a></li>" +
      "<li><a href=\"/about\">About the company</a></li>" +
      "<li><a href=\"/contact\">Contact &amp; help</a></li></ul></div>" +
      "<h1>A heading of the page</h1><p>"
  private val HtmlPara1Pad =
    " and it was the case that all of the people in the story would " +
      "have been there with some of those words to read.</p>"
  private val HtmlPara2 =
    "<p>It was a second paragraph of the page and it had the usual " +
      "amount of the words that a block of this kind would have in it, " +
      "so that the rules of the extractor would see it as the content " +
      "of the page.</p>"
  private val HtmlPara3A = // doc_id % 3 == 0: entities inside KEPT text
    "<p>Fish &amp; chips &lt;for&gt; dinner it was, and all of them " +
      "were there to have <b>some of it</b> that day.</p>"
  private val HtmlPara3B =
    "<p>A third block of the text appears in some of the pages and it " +
      "is also one of the blocks that the rules would keep for the " +
      "corpus.</p>"
  private val HtmlPageSuffix =
    "<div class=\"footer\"><a href=\"/privacy\">The privacy policy</a>" +
      " | <a href=\"/terms\">All of the terms of use</a></div>" +
      "</body></html>"

  private def htmlPages(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(
      lit(HtmlPagePrefix),
      substring(coalesce(col("text"), lit("")), 1, 120),
      lit(HtmlPara1Pad), lit(HtmlPara2),
      when(col("doc_id") % 3 === 0, lit(HtmlPara3A))
        .otherwise(lit(HtmlPara3B)),
      lit(HtmlPageSuffix)).as("html"))

  // ---- multilingual HTML fixture (r14, VERDICT r13 §next-2) ---------
  // A Spanish page whose content paragraphs are function-word-dense
  // UNDER THE SPANISH LIST but nearly stopword-free under the English
  // one (the only collision is the shared word "a") — the page a
  // monolingual extractor silently destroys. Nav/heading boilerplate
  // still dies on link density / min chars under EVERY list. No single
  // quotes in any constant (they interpolate into SQL literals).
  private val HtmlLangHeadEs =
    "<html><head><title>Pagina</title></head><body>" +
      "<div class=\"nav\"><ul><li><a href=\"/inicio\">Inicio</a></li>" +
      "<li><a href=\"/ayuda\">La ayuda del sitio</a></li></ul></div>" +
      "<h1>Un titulo de la pagina</h1>"
  private val HtmlParaEs1 =
    "<p>El texto de la pagina era uno de los que la gente de la casa " +
      "iba a leer en el dia, y era uno de los que todos los de la " +
      "villa tenian en la mano para leer con el resto de las personas " +
      "del lugar.</p>"
  private val HtmlParaEs2 =
    "<p>La segunda parte del texto era como la primera, con las " +
      "palabras de todos los dias, y por eso las reglas del extractor " +
      "la iban a tomar como el contenido de la pagina.</p>"

  // ---- accent-decided fixture (r15, VERDICT r14 §next-1) ------------
  // A Portuguese page whose content paragraphs' stopword density
  // crosses the 0.2 keep threshold ONLY when accented function words
  // count: full-pt density 0.344/0.270, ASCII-subset density
  // 0.094/0.054, English density 0 — so the page survives under the
  // accent-complete list, dies under the r14 ASCII-only behavior
  // (keep_ascii) AND under the English list (keep_en). Measured with
  // the shared WordLetterBlocks tokenizer; no single quotes (the SQL
  // interpolation rule).
  private val HtmlLangHeadPt =
    "<html><head><title>Cidade</title></head><body>" +
      "<div class=\"nav\"><ul><li><a href=\"/inicio\">Entrada</a></li>" +
      "<li><a href=\"/mapa\">O mapa do lugar</a></li></ul></div>" +
      "<h1>Uma cidade antiga do vale</h1>"
  private val HtmlParaPt1 =
    "<p>Aquele lugar não é grande, já foi capital antiga e até hoje " +
      "guarda praças, torres, pontes, fontes, muros, jardins, " +
      "mercados, ruelas, claustros, também chafarizes; tudo está ali " +
      "há séculos, são marcas visíveis.</p>"
  private val HtmlParaPt2 =
    "<p>Quem visita percebe logo que não há pressa: tudo é calmo, já " +
      "desde cedo; cafés abrem, vendem doces típicos, pães quentes, " +
      "licores raros, queijos curados, frutas maduras, também mel, " +
      "azeite, vinho; assim está até hoje, são hábitos.</p>"

  // ---- script-routed fixture (r16, VERDICT r15 §next-3) --------------
  // Non-Latin-script pages the r15 extractor silently destroyed: a
  // RUSSIAN page whose survival is DECIDED by Cyrillic stopwords (kept
  // under the ru list, dead under the English list because no Cyrillic
  // token is an English stopword — and dead outright under the r15
  // Latin-only tokenizer, which found zero words), a GREEK page
  // likewise, and a CJK page that cannot take the density rule at all
  // (no whitespace segmentation) and survives via the link-density-only
  // fallback. All body text LOWERCASE (the Σ→ς/σ cross-engine
  // lowercasing note on WordLetterBlocks); no single quotes (the SQL
  // interpolation rule). Nav/heading boilerplate still dies on link
  // density / min chars in every arm.
  private val HtmlScriptHeadRu =
    "<html><head><title>Reka</title></head><body>" +
      "<div class=\"nav\"><ul><li><a href=\"/main\">главная</a></li>" +
      "<li><a href=\"/help\">помощь по сайту</a></li></ul></div>" +
      "<h1>старый дом у реки</h1>"
  private val HtmlParaRu1 =
    "<p>в доме было тихо и тепло когда мы пришли с реки и все сидели " +
      "у окна а потом пили чай с медом и хлебом и говорили о том как " +
      "было летом в деревне у бабушки за лесом.</p>"
  private val HtmlParaRu2 =
    "<p>он был там еще до нас и ждал у ворот а мы шли по тропе от " +
      "реки и несли все грибы из леса и никто не знал где будет " +
      "ночлег и кто нас там ждет после дороги.</p>"
  private val HtmlScriptHeadEl =
    "<html><head><title>Nisi</title></head><body>" +
      "<div class=\"nav\"><ul><li><a href=\"/main\">αρχική</a></li>" +
      "<li><a href=\"/help\">βοήθεια για τον τόπο</a></li></ul></div>" +
      "<h1>το παλιό σπίτι</h1>"
  private val HtmlParaEl1 =
    "<p>το σπίτι ήταν παλιό και η αυλή με τα δέντρα ήταν πολύ μεγάλη " +
      "και όλοι οι γείτονες έρχονταν εδώ το βράδυ για να δουν τη " +
      "θάλασσα από την πέτρα στην άκρη του δρόμου.</p>"
  private val HtmlParaEl2 =
    "<p>μετά το φαγητό όλα τα παιδιά πήγαν κάτω στην παραλία και " +
      "έπαιζαν εκεί ως το βράδυ και εμείς μέναμε πάνω με τους φίλους " +
      "μας που είχαν έρθει από την πόλη για λίγο.</p>"
  private val HtmlScriptHeadZh =
    "<html><head><title>Chengshi</title></head><body>" +
      "<div class=\"nav\"><ul><li><a href=\"/main\">Home 首页</a></li>" +
      "<li><a href=\"/help\">Help 帮助中心页面</a></li></ul></div>" +
      "<h1>老城的记忆</h1>"
  private val HtmlParaZh1 =
    "<p>这个地方的历史可以追溯到很多年以前那时候这里还是一个小村庄" +
      "人们在田里种地在河边打鱼生活虽然简单但是大家都很满足后来城市" +
      "慢慢发展起来道路变宽了房子变高了但是老人们还记得从前的样子。</p>"
  private val HtmlParaZh2 =
    "<p>每天早上市场里都很热闹卖菜的人很早就来了新鲜的蔬菜和水果摆" +
      "满了摊位人们一边挑选一边聊天孩子们在旁边跑来跑去老街的味道就" +
      "在这些平常的日子里慢慢流传下来成为这座城市最温暖的记忆。</p>"

  // Late-r16 pages: ARABIC and HEBREW (space-delimited RTL scripts —
  // the tokenizer covers their letters now and the density rule
  // applies; survival DECIDED by the ar/he lists, dead under English),
  // and THAI (written WITHOUT inter-word spaces — the SegFree fallback
  // route, the zh treatment). Unvocalized MSA / plain Hebrew (no
  // harakat/niqqud — web text norm); no single quotes.
  private val HtmlScriptHeadAr =
    "<html><head><title>Bayt</title></head><body>" +
      "<div class=\"nav\"><ul><li><a href=\"/main\">الرئيسية</a></li>" +
      "<li><a href=\"/help\">مساعدة حول الموقع</a></li></ul></div>" +
      "<h1>البيت القديم</h1>"
  private val HtmlParaAr1 =
    "<p>كان البيت قديما في وسط المدينة وكان كل من في الحي يعرف هذا " +
      "المكان لأن الناس كانوا يأتون إليه من كل جهة في الصباح وفي " +
      "المساء مع الأولاد بعد يوم طويل.</p>"
  private val HtmlParaAr2 =
    "<p>هذا المكان لم يكن مثل غيره فقد كان فيه ماء وظل وكان كل ضيف " +
      "يجد فيه ما يريد من راحة بعد تعب وكان هناك من يروي عن تلك " +
      "الأيام أخبارا لا تنتهي حتى الليل.</p>"
  private val HtmlScriptHeadHe =
    "<html><head><title>Bait</title></head><body>" +
      "<div class=\"nav\"><ul><li><a href=\"/main\">ראשי</a></li>" +
      "<li><a href=\"/help\">עזרה על האתר</a></li></ul></div>" +
      "<h1>הבית הישן</h1>"
  private val HtmlParaHe1 =
    "<p>הבית היה ישן מאוד אבל כל מי שגר שם אהב את המקום כי היה בו " +
      "אור רב וגם גינה קטנה עם עצים ורק מעט רעש מן הרחוב של העיר " +
      "הגדולה שמעבר לחומה.</p>"
  private val HtmlParaHe2 =
    "<p>אחרי שנים רבות עוד היו באים אל הבית מי שגרו בו פעם והיו " +
      "יושבים שם עם חברים עד הערב כי לא היה להם מקום אחר כמו זה " +
      "ולא היה עוד בית כזה בכל העיר.</p>"
  private val HtmlScriptHeadTh =
    "<html><head><title>Baan</title></head><body>" +
      "<div class=\"nav\"><ul><li><a href=\"/main\">หน้าแรก</a></li>" +
      "<li><a href=\"/help\">ความช่วยเหลือของเว็บไซต์</a></li></ul></div>" +
      "<h1>บ้านริมแม่น้ำ</h1>"
  private val HtmlParaTh1 =
    "<p>บ้านหลังนี้อยู่ริมแม่น้ำมานานหลายปีผู้คนในหมู่บ้านมักมาพบกันที่นี่ใน" +
      "ตอนเย็นเพื่อพูดคุยและพักผ่อนหลังจากทำงานมาทั้งวันเด็กๆวิ่งเล่นอยู่ริมน้ำ" +
      "จนพระอาทิตย์ตกดิน.</p>"
  private val HtmlParaTh2 =
    "<p>ตลาดเช้าของหมู่บ้านมีของกินมากมายทั้งผักผลไม้และขนมพื้นบ้านชาวบ้าน" +
      "ต่างทักทายกันอย่างเป็นกันเองกลิ่นอาหารลอยมาตามลมทำให้ทุกคนรู้สึก" +
      "อบอุ่นเหมือนครอบครัวเดียวกัน.</p>"
  // Korean (late r17, ADVICE r16): the page ships with lang='xx' —
  // UNKNOWN — so its survival is decided by the SCRIPT-routed ko list
  // (hangul-majority blocks), not the lang column; the nav dies by link
  // density, proving Korean boilerplate now actually dies too.
  private val HtmlScriptHeadKo =
    "<html><head><title>Gang</title></head><body>" +
      "<div class=\"nav\"><ul><li><a href=\"/main\">첫 화면으로 가기</a></li>" +
      "<li><a href=\"/help\">사이트 도움말 안내</a></li></ul></div>" +
      "<h1>강가의 집</h1>"
  private val HtmlParaKo1 =
    "<p>이 집은 강가에 오래 서 있었다 그리고 마을 사람들은 저녁 때 " +
      "이곳에 모여 함께 이야기를 나누는 것을 좋아했다 아이들은 해가 질 " +
      "때 까지 강가에서 뛰어 놀았다 모든 날들이 같은 모습으로 흘러 갔다</p>"
  private val HtmlParaKo2 =
    "<p>아침 시장에는 먹을 것이 많이 있었다 과일 과 채소 등 여러 가지 " +
      "물건을 파는 사람들이 있었다 그리고 서로 반갑게 인사를 나누며 " +
      "하루 를 여는 모습은 언제나 같은 풍경이었다 모두가 한 가족 같이 " +
      "지냈다</p>"

  // ---- two-phase jusText fixture (late r16) ---------------------------
  // An engineered block sequence where the context-sensitive revision
  // CHANGES outcomes in both directions: a short caption between good
  // paragraphs joins the content, a near-good next to a good anchor
  // joins, the same classes inside a dead zone die. No single quotes.
  private val HtmlJxNav =
    "<div class=\"nav\"><ul><li><a href=\"/a\">Home page link</a></li>" +
      "<li><a href=\"/b\">Another link here</a></li></ul></div>"
  private val HtmlJxH1 = "<h1>a short headline</h1>"
  private val HtmlJxGoodA =
    "<p>it was the house that all of them had known from the days " +
      "when they were young and it was there that we would go in the " +
      "evening to talk of all that had been and of all that would be " +
      "in the years that were still to come to us all.</p>"
  private val HtmlJxCaption = "<p>a stone bridge at dawn</p>"
  private val HtmlJxGoodB =
    "<p>and it was in that house that the best of those days would " +
      "come back to them all as if they had never gone away at all " +
      "and there was not one of them who did not know that this was " +
      "the reason they would all return every year.</p>"
  private val HtmlJxNear =
    "<p>and it was there that they would sit with all of them in the " +
      "evening light.</p>"
  private val HtmlJxBad =
    "<p>granite towers marble fountains copper roofs cobbled lanes " +
      "ancient bridges walled gardens stone cloisters painted chapels " +
      "quiet courtyards narrow stairways weathered statues</p>"
  private val HtmlJxNear2 =
    "<p>but it was not the same for any of them after all of that " +
      "had gone away from here.</p>"
  private val HtmlJxTail = "<p>the end of the story</p>"

  /** Two page variants so the window replay sees different sequences:
    * odd docs the full engineered page, even docs a dead-zone-only page
    * (nav + noun pile + trailing short — nothing survives).
    */
  private def htmlPagesJustext(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), lit("en").as("lang"),
      when(col("doc_id") % 2 === 1,
          lit("<html><body>" + HtmlJxNav + HtmlJxH1 + HtmlJxGoodA +
            HtmlJxCaption + HtmlJxGoodB + HtmlJxNear + HtmlJxBad +
            HtmlJxNear2 + HtmlJxTail + "</body></html>"))
        .otherwise(
          lit("<html><body>" + HtmlJxNav + HtmlJxBad + HtmlJxTail +
            "</body></html>")).as("html"))

  /** Static pages keyed by language for the SCRIPT-ROUTED extraction
    * gate, eight scripts: %8==1 → Russian, %8==2 → Greek, %8==3 → CJK,
    * %8==4 → Arabic, %8==5 → Hebrew, %8==6 → Thai, %8==7 → Korean
    * (late r17 — deliberately lang='xx', the script-DECIDED case),
    * %8==0 → the English control. Static literals only (the
    * htmlPagesLang convention).
    */
  private def htmlPagesScript(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(col("doc_id") % 8 === 1, lit("ru"))
        .when(col("doc_id") % 8 === 2, lit("el"))
        .when(col("doc_id") % 8 === 3, lit("zh"))
        .when(col("doc_id") % 8 === 4, lit("ar"))
        .when(col("doc_id") % 8 === 5, lit("he"))
        .when(col("doc_id") % 8 === 6, lit("th"))
        .when(col("doc_id") % 8 === 7, lit("xx"))
        .otherwise(lit("en")).as("lang"),
      when(col("doc_id") % 8 === 1,
          lit(HtmlScriptHeadRu + HtmlParaRu1 + HtmlParaRu2 + HtmlPageSuffix))
        .when(col("doc_id") % 8 === 2,
          lit(HtmlScriptHeadEl + HtmlParaEl1 + HtmlParaEl2 + HtmlPageSuffix))
        .when(col("doc_id") % 8 === 3,
          lit(HtmlScriptHeadZh + HtmlParaZh1 + HtmlParaZh2 + HtmlPageSuffix))
        .when(col("doc_id") % 8 === 4,
          lit(HtmlScriptHeadAr + HtmlParaAr1 + HtmlParaAr2 + HtmlPageSuffix))
        .when(col("doc_id") % 8 === 5,
          lit(HtmlScriptHeadHe + HtmlParaHe1 + HtmlParaHe2 + HtmlPageSuffix))
        .when(col("doc_id") % 8 === 6,
          lit(HtmlScriptHeadTh + HtmlParaTh1 + HtmlParaTh2 + HtmlPageSuffix))
        .when(col("doc_id") % 8 === 7,
          lit(HtmlScriptHeadKo + HtmlParaKo1 + HtmlParaKo2 + HtmlPageSuffix))
        .otherwise(lit(HtmlPagePrefix + HtmlPara1Pad + HtmlPara2 +
          HtmlPageSuffix)).as("html"))

  /** Static pages keyed by a language column: %5==0 docs carry
    * lang='xx' (unknown → English fallback) over the English page;
    * %5==2 docs are the ACCENT-DECIDED Portuguese page (r15); other
    * odd docs are the Spanish page; the rest are English pages. Pages
    * are static literals only (no doc-text splice — the SQL replay
    * stays a pure literal CASE).
    */
  private def htmlPagesLang(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(col("doc_id") % 5 === 0, lit("xx"))
        .when(col("doc_id") % 5 === 2, lit("pt"))
        .when(col("doc_id") % 2 === 1, lit("es"))
        .otherwise(lit("en")).as("lang"),
      when(col("doc_id") % 5 === 2,
          lit(HtmlLangHeadPt + HtmlParaPt1 + HtmlParaPt2 + HtmlPageSuffix))
        .when(col("doc_id") % 5 =!= 0 && col("doc_id") % 2 === 1,
          lit(HtmlLangHeadEs + HtmlParaEs1 + HtmlParaEs2 + HtmlPageSuffix))
        .otherwise(lit(HtmlPagePrefix + HtmlPara1Pad + HtmlPara2 +
          HtmlPageSuffix)).as("html"))

  // ---- script-profile fixture (r14) ----------------------------------
  // Mixed-script corpus constructed identically in both engines: a short
  // Latin prefix from the document text plus a per-residue non-Latin
  // sample long enough to DOMINATE it (the oracle interpolates the same
  // literals — no single quotes in any sample). The ja sample is pure
  // kana so kana (not han) dominates.
  private val ScriptSampleRu =
    " Привет мир как дела сегодня Привет мир совсем другое дело"
  private val ScriptSampleZh = " 你好世界欢迎光临再见朋友们这是一个测试页面"
  private val ScriptSampleAr = " مرحبا بالعالم هذه صفحة اختبار طويلة جدا هنا"
  private val ScriptSampleJa = " こんにちはせかいハローこれはテストですよろしく"

  private def scriptDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      concat(substring(coalesce(col("text"), lit("")), 1, 20),
        when(col("doc_id") % 5 === 1, lit(ScriptSampleRu))
          .when(col("doc_id") % 5 === 2, lit(ScriptSampleZh))
          .when(col("doc_id") % 5 === 3, lit(ScriptSampleAr))
          .when(col("doc_id") % 5 === 4, lit(ScriptSampleJa))
          .otherwise(lit(""))).as("text"))

  // SQL generators for the html oracle (shared by both html queries so
  // the replayed chain cannot drift between them). Single quotes in
  // replacements are SQL-doubled.
  // GENERATED from TextAnalysis.HtmlEntities (order included) so the
  // decode chain genuinely cannot drift between the engines — the hand
  // copy this replaced was the one unshared piece (code-review r12).
  private def sqlDecodeEntities(expr: String): String =
    TextAnalysis.HtmlEntities.foldLeft(expr) { case (acc, (e, r)) =>
      s"replace($acc, '${e.replace("'", "''")}', '${r.replace("'", "''")}')"
    }

  private def sqlHtmlRaw(b: String): String =
    sqlDecodeEntities(s"regexp_replace($b, '<[^>]*>', '', 'g')")

  private def sqlHtmlText(raw: String): String =
    s"trim(regexp_replace($raw, '\\s+', ' ', 'g'))"

  /** Shared CTE prefix: constructed pages → raw block segments → one row
    * per block with every feature the keep rule needs.
    */
  private def htmlPagesCte: String =
    s"""pages AS (
       |  SELECT doc_id,
       |    '$HtmlPagePrefix' || substring(coalesce(text, ''), 1, 120) ||
       |    '$HtmlPara1Pad' || '$HtmlPara2' ||
       |    CASE WHEN doc_id % 3 = 0 THEN '$HtmlPara3A'
       |         ELSE '$HtmlPara3B' END ||
       |    '$HtmlPageSuffix' AS html
       |  FROM documents)""".stripMargin

  /** The block-segmentation + feature + keep-rule CTE chain over ANY
    * source of html strings, parameterized by source CTE name, key
    * column list, and html column — so the same replay (byte-identical
    * when instantiated at `("pages", "doc_id", "html")`) also runs over
    * WARC response payloads keyed by (chunk_id, record_idx).
    */
  private def htmlSegCtes(src: String, keys: String,
                          htmlCol: String): String =
    s"""seg AS (
       |  SELECT $keys, list_filter(
       |    string_split(regexp_replace(regexp_replace($htmlCol,
       |      '${TextAnalysis.HtmlInvisibleRe}', '', 'g'),
       |      '${TextAnalysis.HtmlBlockBoundaryRe}', chr(10), 'g'), chr(10)),
       |    b -> ${sqlHtmlText(sqlHtmlRaw("b"))} <> '') AS blocks
       |  FROM $src),
       |ex AS (
       |  SELECT $keys, unnest(list_transform(range(1, len(blocks) + 1),
       |    i -> {'i': i, 'b': blocks[i]})) AS u
       |  FROM seg),
       |fr AS (
       |  SELECT $keys, u.i - 1 AS block_idx, u.b AS b,
       |    ${sqlHtmlRaw("u.b")} AS raw
       |  FROM ex),
       |ft AS (
       |  SELECT $keys, block_idx, ${sqlHtmlText("raw")} AS txt,
       |    len(raw) AS n_raw,
       |    coalesce(list_sum(list_transform(
       |      regexp_extract_all(b, '${TextAnalysis.HtmlAnchorRe}'),
       |      s -> len(${sqlHtmlRaw("s")}))), 0) AS link_chars
       |  FROM fr),
       |fw AS (
       |  SELECT $keys, block_idx, txt, n_raw, link_chars,
       |    len(txt) AS n_chars,
       |    regexp_extract_all(lower(txt),
       |      '${TextAnalysis.wordClassRe2}+') AS aw
       |  FROM ft)""".stripMargin

  private def sqlStopList(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString(", ")

  private def htmlKeptCtes(src: String, keys: String,
                           htmlCol: String): String =
    s"""${htmlSegCtes(src, keys, htmlCol)},
       |blk AS (
       |  SELECT $keys, block_idx, txt, n_raw, link_chars, n_chars,
       |    len(aw) AS n_words,
       |    len(list_filter(aw, w -> w IN (${
            sqlStopList(TextAnalysis.StopwordsWebEn)})))
       |      AS n_stop
       |  FROM fw),
       |kept AS (
       |  SELECT $keys, block_idx, txt, n_raw, link_chars, n_chars,
       |    n_words, n_stop,
       |    (n_chars >= 70
       |     AND CAST(link_chars AS DOUBLE) / CAST(n_raw AS DOUBLE) <= 0.2
       |     AND n_words > 0
       |     AND CAST(n_stop AS DOUBLE) / CAST(n_words AS DOUBLE) >= 0.2)
       |      AS keep
       |  FROM blk)""".stripMargin

  /** The language-keyed n_stop CASE, generated from the GIVEN list map
    * (the SAME [[TextAnalysis.StopwordsWeb]] /
    * [[TextAnalysis.StopwordsWebAscii]] maps the Spark chain keys on;
    * branch order = sorted language keys, English fallback — mirror of
    * langStopCount).
    */
  private def sqlLangStopCase(awExpr: String, langExpr: String,
                              lists: Map[String, Seq[String]]): String = {
    val branches = lists.toSeq.sortBy(_._1)
      .map { case (lg, ws) =>
        s"WHEN lower($langExpr) = '$lg' THEN len(list_filter($awExpr, " +
          s"w -> w IN (${sqlStopList(ws)})))"
      }.mkString("\n      ")
    s"""CASE $branches
       |      ELSE len(list_filter($awExpr, w -> w IN (${
            sqlStopList(lists("en"))}))) END""".stripMargin
  }

  /** [[htmlKeptCtes]] with the stopword list keyed by a `lang` column
    * carried in `keys`, PLUS the English-list decision (`keep_en`) and
    * the ASCII-subset decision (`keep_ascii`, r15) alongside — the
    * multilingual query pins "survives under the right list", "dies
    * under the English one", and "kept BY its accented function words"
    * (keeps under the full list, dies under the ASCII subset) in one
    * hash.
    */
  private def htmlKeptCtesLang(src: String, keys: String,
                               htmlCol: String): String =
    s"""${htmlSegCtes(src, keys, htmlCol)},
       |blk AS (
       |  SELECT $keys, block_idx, txt, n_raw, link_chars, n_chars,
       |    len(aw) AS n_words,
       |    ${sqlLangStopCase("aw", "lang", TextAnalysis.StopwordsWeb)}
       |      AS n_stop,
       |    ${sqlLangStopCase("aw", "lang", TextAnalysis.StopwordsWebAscii)}
       |      AS n_stop_ascii,
       |    len(list_filter(aw, w -> w IN (${
            sqlStopList(TextAnalysis.StopwordsWebEn)})))
       |      AS n_stop_en
       |  FROM fw),
       |kept AS (
       |  SELECT $keys, block_idx, txt, n_raw, link_chars, n_chars,
       |    n_words, n_stop, n_stop_ascii, n_stop_en,
       |    (n_chars >= 70
       |     AND CAST(link_chars AS DOUBLE) / CAST(n_raw AS DOUBLE) <= 0.2
       |     AND n_words > 0
       |     AND CAST(n_stop AS DOUBLE) / CAST(n_words AS DOUBLE) >= 0.2)
       |      AS keep,
       |    (n_chars >= 70
       |     AND CAST(link_chars AS DOUBLE) / CAST(n_raw AS DOUBLE) <= 0.2
       |     AND n_words > 0
       |     AND CAST(n_stop_ascii AS DOUBLE) / CAST(n_words AS DOUBLE) >= 0.2)
       |      AS keep_ascii,
       |    (n_chars >= 70
       |     AND CAST(link_chars AS DOUBLE) / CAST(n_raw AS DOUBLE) <= 0.2
       |     AND n_words > 0
       |     AND CAST(n_stop_en AS DOUBLE) / CAST(n_words AS DOUBLE) >= 0.2)
       |      AS keep_en
       |  FROM blk)""".stripMargin

  /** [[htmlKeptCtesLang]] for the SCRIPT-ROUTED rule (r16): per block,
    * the CJK vs word-letter character counts (both classes generated
    * from the same shared ints as the Spark side), the routed keep
    * (CJK-dominant blocks waive the density clause), the plain
    * lang-keyed keep, and the English-list keep.
    */
  private def htmlKeptCtesRouted(src: String, keys: String,
                                 htmlCol: String): String =
    s"""${htmlSegCtes(src, keys, htmlCol)},
       |blk AS (
       |  SELECT $keys, block_idx, txt, n_raw, link_chars, n_chars,
       |    len(aw) AS n_words,
       |    ${sqlLangStopCase("aw", "lang", TextAnalysis.StopwordsWeb)}
       |      AS n_stop,
       |    len(list_filter(aw, w -> w IN (${
            sqlStopList(TextAnalysis.StopwordsWeb("ko"))})))
       |      AS n_stop_ko,
       |    len(list_filter(aw, w -> w IN (${
            sqlStopList(TextAnalysis.StopwordsWebEn)})))
       |      AS n_stop_en,
       |    len(txt) - len(regexp_replace(txt,
       |      '${TextAnalysis.segFreeClassRe2}', '', 'g')) AS n_cjk,
       |    len(txt) - len(regexp_replace(txt,
       |      '${TextAnalysis.wordClassRe2}', '', 'g')) AS n_wl,
       |    len(txt) - len(regexp_replace(txt,
       |      '${TextAnalysis.hangulClassRe2}', '', 'g')) AS n_hang
       |  FROM fw),
       |blk2 AS (
       |  SELECT *,
       |    CASE WHEN n_hang * 2 > n_wl THEN n_stop_ko ELSE n_stop END
       |      AS n_stop_sa
       |  FROM blk),
       |kept AS (
       |  SELECT $keys, block_idx, txt, n_raw, link_chars, n_chars,
       |    n_words, n_stop, n_stop_en, n_cjk, n_wl,
       |    (n_chars >= 70
       |     AND CAST(link_chars AS DOUBLE) / CAST(n_raw AS DOUBLE) <= 0.2
       |     AND (n_cjk > n_wl OR (n_words > 0
       |       AND CAST(n_stop_sa AS DOUBLE) / CAST(n_words AS DOUBLE) >= 0.2)))
       |      AS keep,
       |    (n_chars >= 70
       |     AND CAST(link_chars AS DOUBLE) / CAST(n_raw AS DOUBLE) <= 0.2
       |     AND n_words > 0
       |     AND CAST(n_stop AS DOUBLE) / CAST(n_words AS DOUBLE) >= 0.2)
       |      AS keep_plain,
       |    (n_chars >= 70
       |     AND CAST(link_chars AS DOUBLE) / CAST(n_raw AS DOUBLE) <= 0.2
       |     AND n_words > 0
       |     AND CAST(n_stop_en AS DOUBLE) / CAST(n_words AS DOUBLE) >= 0.2)
       |      AS keep_en
       |  FROM blk2)""".stripMargin

  private def htmlOracleCtes: String =
    s"""WITH $htmlPagesCte,
       |${htmlKeptCtes("pages", "doc_id", "html")}""".stripMargin

  // ---- WARC fixture chunks (r12) ------------------------------------
  // Constructed WARC chunks over the html fixture pages: per doc a
  // request + a 200 text/html response record (the html payload IS
  // pages.html), five docs per chunk behind a warcinfo record — every
  // record carrying true Content-Length, ISO date, decorated URI. Both
  // engines build the IDENTICAL chunk string from the shared constants
  // below (the htmlPages convention: no single quotes anywhere), and
  // the oracle replays the parse chain CTE-for-CTE.
  private val WarcRespH1 = "WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "
  private val WarcH2Date = "\r\nWARC-Date: "
  private val WarcRespH3 = "\r\nWARC-Record-ID: <urn:uuid:rec-"
  private val WarcRespH4 =
    ">\r\nContent-Type: application/http; msgtype=response\r\nContent-Length: "
  private val WarcHttpHead = "HTTP/1.1 200 OK\r\nContent-Type: text/html; " +
    "charset=UTF-8\r\nServer: graft-demo\r\n\r\n"
  private val WarcReqH1 = "WARC/1.0\r\nWARC-Type: request\r\nWARC-Target-URI: "
  private val WarcReqH3 = "\r\nWARC-Record-ID: <urn:uuid:req-"
  private val WarcReqH4 =
    ">\r\nContent-Type: application/http; msgtype=request\r\nContent-Length: "
  private val WarcInfoH1 = "WARC/1.0\r\nWARC-Type: warcinfo\r\nWARC-Date: " +
    "2024-01-01T00:00:00Z\r\nWARC-Record-ID: <urn:uuid:info-"
  private val WarcInfoH2 =
    ">\r\nContent-Type: application/warc-fields\r\nContent-Length: "
  private val WarcInfoBody1 = "software: graft-fixture\r\nisPartOf: chunk-"
  private val WarcGet1 = "GET /page/"
  private val WarcGet2 = " HTTP/1.1\r\nHost: site"
  private val WarcGet3 = ".example\r\nUser-Agent: graft\r\n\r\n"

  private def warcChunks(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    val idS = id.cast("string")
    // Decorated crawl URIs — the q_dedup_by_url fixture shape (mixed
    // scheme case, default ports, trailing slashes, utm junk), so the
    // crawl-to-corpus recipe's canonical-URL dedup genuinely bites
    // (even ids collide mod 350 after canonicalization).
    val uri = concat(
      when(id % 2 === 0, lit("https://")).otherwise(lit("HTTPS://")),
      lit("Site"), (id % 7).cast("string"), lit(".Example.COM"),
      when(id % 3 === 0, lit(":443")).otherwise(lit("")),
      lit("/page/"), (id % 50).cast("string"),
      when(id % 5 === 0, lit("/")).otherwise(lit("")),
      when(id % 2 === 1,
        concat(lit("?utm_source=feed&x="), (id % 4).cast("string")))
        .otherwise(lit("")))
    val date = concat(lit("2024-01-"),
      lpad((id % 28 + 1).cast("string"), 2, "0"), lit("T00:00:00Z"))
    val reqBlock = concat(lit(WarcGet1), idS, lit(WarcGet2),
      (id % 7).cast("string"), lit(WarcGet3))
    val httpBlock = concat(lit(WarcHttpHead), col("html"))
    val rec = concat(
      lit(WarcReqH1), uri, lit(WarcH2Date), date, lit(WarcReqH3), idS,
      lit(WarcReqH4), octet_length(reqBlock).cast("string"), lit(Warc.Sep),
      reqBlock, lit(Warc.Sep),
      lit(WarcRespH1), uri, lit(WarcH2Date), date, lit(WarcRespH3), idS,
      lit(WarcRespH4), octet_length(httpBlock).cast("string"), lit(Warc.Sep),
      httpBlock, lit(Warc.Sep))
    val cIdS = col("chunk_id").cast("string")
    val infoBody = concat(lit(WarcInfoBody1), cIdS, lit("\r\n"))
    htmlPages(docs)
      .select(expr("doc_id div 5").as("chunk_id"), col("doc_id"), rec.as("rec"))
      .groupBy("chunk_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("doc_id"), col("rec")))),
        s => s.getField("rec")), "").as("__recs"))
      .select(col("chunk_id"), concat(
        lit(WarcInfoH1), cIdS, lit(WarcInfoH2),
        octet_length(infoBody).cast("string"), lit(Warc.Sep), infoBody,
        lit(Warc.Sep), col("__recs")).as("warc"))
  }

  /** A Scala string constant as a DuckDB concat expression, CRLFs
    * spliced as `chr(13) || chr(10)` (DuckDB string literals do not
    * process backslash escapes). Constants are single-quote-free.
    */
  private def wq(s: String): String =
    "'" + s.replace("\r\n", "' || chr(13) || chr(10) || '") + "'"

  /** The WARC oracle CTE prefix: chunk construction (mirroring
    * [[warcChunks]] from the same constants) + the parse chain replayed
    * stage-for-stage (split on the marker, head/block at the first empty
    * line, header extraction with the shared `(?im)` patterns, the HTTP
    * envelope, the single terminator strip).
    */
  private def warcOracleCtes: String = {
    val infoSql = s"${wq(WarcInfoBody1)} || CAST(chunk_id AS VARCHAR) || " +
      s"${wq("\r\n")}"
    s"""WITH $htmlPagesCte,
       |rb AS (
       |  SELECT doc_id, doc_id // 5 AS chunk_id,
       |    CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTPS://' END ||
       |      'Site' || (doc_id % 7) || '.Example.COM' ||
       |      CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END ||
       |      '/page/' || (doc_id % 50) ||
       |      CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END ||
       |      CASE WHEN doc_id % 2 = 1
       |           THEN '?utm_source=feed&x=' || (doc_id % 4)
       |           ELSE '' END AS uri,
       |    '2024-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') ||
       |      'T00:00:00Z' AS dt,
       |    ${wq(WarcGet1)} || CAST(doc_id AS VARCHAR) || ${wq(WarcGet2)} ||
       |      CAST(doc_id % 7 AS VARCHAR) || ${wq(WarcGet3)} AS req_block,
       |    ${wq(WarcHttpHead)} || html AS http_block
       |  FROM pages),
       |recs AS (
       |  SELECT doc_id, chunk_id,
       |    ${wq(WarcReqH1)} || uri || ${wq(WarcH2Date)} || dt ||
       |    ${wq(WarcReqH3)} || CAST(doc_id AS VARCHAR) || ${wq(WarcReqH4)} ||
       |    CAST(octet_length(encode(req_block)) AS VARCHAR) || ${wq(Warc.Sep)} ||
       |    req_block || ${wq(Warc.Sep)} ||
       |    ${wq(WarcRespH1)} || uri || ${wq(WarcH2Date)} || dt ||
       |    ${wq(WarcRespH3)} || CAST(doc_id AS VARCHAR) || ${wq(WarcRespH4)} ||
       |    CAST(octet_length(encode(http_block)) AS VARCHAR) || ${wq(Warc.Sep)} ||
       |    http_block || ${wq(Warc.Sep)} AS rec
       |  FROM rb),
       |chunks AS (
       |  SELECT chunk_id,
       |    ${wq(WarcInfoH1)} || CAST(chunk_id AS VARCHAR) || ${wq(WarcInfoH2)} ||
       |    CAST(octet_length(encode($infoSql)) AS VARCHAR) || ${wq(Warc.Sep)} ||
       |    $infoSql || ${wq(Warc.Sep)} ||
       |    string_agg(rec, '' ORDER BY doc_id) AS warc
       |  FROM recs GROUP BY chunk_id),
       |rl AS (
       |  SELECT chunk_id, u.i - 1 AS record_idx, u.r AS r FROM (
       |    SELECT chunk_id, unnest(list_transform(range(1, len(rs) + 1),
       |      i -> {'i': i, 'r': rs[i]})) AS u FROM (
       |      SELECT chunk_id, list_filter(
       |        string_split(warc, ${wq(Warc.RecordMarker)}), x -> x <> '') AS rs
       |      FROM chunks))),
       |hb AS (
       |  SELECT chunk_id, record_idx, r,
       |    strpos(r, ${wq(Warc.Sep)}) AS p
       |  FROM rl),
       |hb2 AS (
       |  SELECT chunk_id, record_idx,
       |    CASE WHEN p > 0 THEN substring(r, 1, p - 1) ELSE r END AS head,
       |    CASE WHEN p > 0 THEN substring(r, p + 4) ELSE '' END AS block
       |  FROM hb),
       |wf AS (
       |  SELECT chunk_id, record_idx, block,
       |    regexp_extract(head, '${Warc.WarcTypeRe}', 1) AS warc_type,
       |    regexp_extract(head, '${Warc.TargetUriRe}', 1) AS target_uri,
       |    regexp_extract(head, '${Warc.WarcDateRe}', 1) AS warc_date,
       |    regexp_extract(head, '${Warc.RecordIdRe}', 1) AS record_id,
       |    regexp_extract(head, '${Warc.ContentTypeRe}', 1) AS content_type,
       |    regexp_extract(head, '${Warc.ContentLengthRe}', 1) AS cl_raw
       |  FROM hb2),
       |hf AS (
       |  SELECT chunk_id, record_idx, warc_type, target_uri, warc_date,
       |    record_id, content_type, cl_raw,
       |    (block LIKE 'HTTP/1.%') AS is_http,
       |    strpos(block, ${wq(Warc.Sep)}) AS hp, block
       |  FROM wf),
       |pf AS (
       |  SELECT chunk_id, record_idx, warc_type, target_uri, warc_date,
       |    record_id, content_type, cl_raw,
       |    CASE WHEN is_http
       |         THEN regexp_extract(block, '${Warc.HttpStatusRe}', 1)
       |         ELSE '' END AS st_raw,
       |    CASE WHEN is_http AND hp > 0 THEN substring(block, 1, hp - 1)
       |         ELSE '' END AS http_head,
       |    CASE WHEN is_http AND hp > 0 THEN substring(block, hp + 4)
       |         ELSE block END AS body_raw
       |  FROM hf),
       |parsed AS (
       |  SELECT chunk_id, record_idx, warc_type, target_uri, warc_date,
       |    record_id, content_type,
       |    try_cast(cl_raw AS BIGINT) AS content_length,
       |    try_cast(st_raw AS BIGINT) AS http_status,
       |    regexp_extract(http_head, '${Warc.ContentTypeRe}', 1)
       |      AS http_content_type,
       |    regexp_replace(body_raw, '\\r\\n\\r\\n$$', '') AS payload
       |  FROM pf)""".stripMargin
  }

  // ---- Link-graph fixture pages (r12) --------------------------------
  // Per doc a page on host site{doc_id%7} carrying four anchor shapes —
  // absolute (decorated case/port/entity-encoded query), protocol-
  // relative, root-relative (a host-level self-loop by construction),
  // and residue-gated mailto / no-href anchors — so extraction,
  // resolution, self-loop drop, and the NULL fallthrough all land in
  // the oracle hash. No single quotes anywhere (the htmlPages
  // convention); both engines build the identical string.
  private def linkPages(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    val idS = id.cast("string")
    val url = concat(lit("https://site"), (id % 7).cast("string"),
      lit(".example.com/page/"), idS)
    val html = concat(
      lit("<html><body><p>Intro text of the page.</p>"),
      lit("<a href=\"https://Site"), ((id * 3 + 1) % 7).cast("string"),
      lit(".Example.COM:443/art/"), (id % 20).cast("string"),
      lit("?utm_source=x&amp;ref=1\">Read <b>article</b> "), idS,
      lit(" now</a>"),
      lit("<a href=\"//site"), ((id * 5 + 2) % 7).cast("string"),
      lit(".example.com/p/"), (id % 9).cast("string"),
      lit("\">Mirror &amp; more</a>"),
      lit("<a href=\"/local/"), (id % 5).cast("string"),
      lit("\">Local page</a>"),
      // external hosts with no pages of their own — genuinely DANGLING
      // nodes (dst-only), so the per-iteration dangling-mass
      // redistribution carries real load in the PageRank hash (r13)
      lit("<a href=\"https://ext"), (id % 3).cast("string"),
      lit(".example.org/r/"), (id % 11).cast("string"),
      lit("\">External ref</a>"),
      when(id % 4 === 0,
        lit("<a href=\"mailto:me@example.com\">mail us</a>"))
        .otherwise(lit("")),
      when(id % 5 === 0, lit("<a name=\"top\">no href</a>"))
        .otherwise(lit("")),
      lit("</body></html>"))
    docs.select(col("doc_id"), url.as("url"), html.as("html"))
  }

  /** Link-extraction + resolution oracle CTEs over the [[linkPages]]
    * construction: anchors → href (double- then single-quoted, entity-
    * decoded) + visible anchor text → the resolveUrl rule chain. Every
    * regex interpolates the SAME constant the Spark plan compiles.
    */
  private def linkChainCtes: String = {
    val hostRe = "^[a-z][a-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)"
    s"""lp AS (
       |  SELECT doc_id,
       |    'https://site' || CAST(doc_id % 7 AS VARCHAR) ||
       |      '.example.com/page/' || CAST(doc_id AS VARCHAR) AS url,
       |    '<html><body><p>Intro text of the page.</p>' ||
       |    '<a href="https://Site' || CAST((doc_id * 3 + 1) % 7 AS VARCHAR) ||
       |      '.Example.COM:443/art/' || CAST(doc_id % 20 AS VARCHAR) ||
       |      '?utm_source=x&amp;ref=1">Read <b>article</b> ' ||
       |      CAST(doc_id AS VARCHAR) || ' now</a>' ||
       |    '<a href="//site' || CAST((doc_id * 5 + 2) % 7 AS VARCHAR) ||
       |      '.example.com/p/' || CAST(doc_id % 9 AS VARCHAR) ||
       |      '">Mirror &amp; more</a>' ||
       |    '<a href="/local/' || CAST(doc_id % 5 AS VARCHAR) ||
       |      '">Local page</a>' ||
       |    '<a href="https://ext' || CAST(doc_id % 3 AS VARCHAR) ||
       |      '.example.org/r/' || CAST(doc_id % 11 AS VARCHAR) ||
       |      '">External ref</a>' ||
       |    CASE WHEN doc_id % 4 = 0
       |      THEN '<a href="mailto:me@example.com">mail us</a>'
       |      ELSE '' END ||
       |    CASE WHEN doc_id % 5 = 0 THEN '<a name="top">no href</a>'
       |      ELSE '' END ||
       |    '</body></html>' AS html
       |  FROM documents),
       |an AS (
       |  SELECT doc_id, url, unnest(list_transform(range(1, len(a) + 1),
       |    i -> {'i': i, 'a': a[i]})) AS u
       |  FROM (SELECT doc_id, url,
       |      regexp_extract_all(regexp_replace(html,
       |        '${TextAnalysis.HtmlInvisibleRe}', '', 'g'),
       |        '${TextAnalysis.HtmlAnchorRe}') AS a
       |    FROM lp)),
       |lk AS (
       |  SELECT doc_id, url, CAST(u.i - 1 AS INT) AS link_idx,
       |    ${sqlDecodeEntities(
             "CASE WHEN dq <> '' THEN dq ELSE sq END")} AS href,
       |    ${sqlHtmlText(sqlHtmlRaw("u.a"))} AS anchor_text
       |  FROM (SELECT doc_id, url, u,
       |      regexp_extract(ot, '${WebGraph.HrefDoubleQuotedRe}', 1) AS dq,
       |      regexp_extract(ot,
       |        '${WebGraph.HrefSingleQuotedRe.replace("'", "''")}', 1) AS sq
       |    FROM (SELECT doc_id, url, u,
       |        regexp_extract(u.a,
       |          '${WebGraph.AnchorOpenTagRe.replace("'", "''")}', 0) AS ot
       |      FROM an))),
       |rl AS (
       |  SELECT doc_id, url, link_idx, href, anchor_text,
       |    CASE WHEN regexp_matches(href, '${WebGraph.AbsoluteWebUrlRe}')
       |           THEN href
       |         WHEN regexp_matches(href, '${WebGraph.ProtocolRelativeRe}')
       |           AND scheme <> '' THEN scheme || ':' || href
       |         WHEN regexp_matches(href, '${WebGraph.RootRelativeRe}')
       |           AND origin <> '' THEN origin || href
       |         END AS resolved
       |  FROM (SELECT *,
       |      lower(regexp_extract(url, '${WebGraph.UrlOriginRe}', 0)) AS origin,
       |      lower(regexp_extract(url, '${WebGraph.UrlSchemeRe}', 1)) AS scheme
       |    FROM lk)),
       |hosts AS (
       |  SELECT doc_id, link_idx, anchor_text,
       |    regexp_extract(lower(url), '$hostRe', 1) AS src_host,
       |    regexp_extract(lower(resolved), '$hostRe', 1) AS dst_host
       |  FROM rl),
       |edges AS (
       |  SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS weight
       |  FROM hosts
       |  WHERE src_host <> '' AND dst_host <> '' AND src_host <> dst_host
       |  GROUP BY 1, 2)""".stripMargin
  }

  /** The integer fixed-point PageRank oracle: nodes + base, then the
    * iteration unrolled as one CTE per round — the identical
    * `(15·base + 85·Σ (rank·w // ow)) // 100` update both [[WebGraph
    * .pageRank]] paths compute (DuckDB `//` floors, Spark `div`
    * truncates: equal on the non-negative values here).
    */
  /** The PageRank CTE body (composable after [[linkChainCtes]], which
    * provides `edges`): outw/nodes/base, then the iteration unrolled as
    * one CTE per round, ending in `pr{iterations}`.
    */
  private def pageRankCtes(iterations: Int): String = {
    val rounds = (0 until iterations).map { i =>
      // dm$i: the round's dangling share — ONE scalar row (rank mass on
      // hosts with no outlinks, integer-divided by n), mirroring the
      // per-iteration anti-join scalar both Spark paths compute (r13)
      // MATERIALIZED: dm$i makes pr$i referenced TWICE per round, and
      // DuckDB inlines plain CTEs — without materialization the replay
      // re-evaluates the whole upstream chain per reference (2^rounds
      // blowup; the compare run went from seconds to unbounded)
      s"""dm$i AS MATERIALIZED (
         |  SELECT CAST(coalesce(sum(CASE WHEN o.src_host IS NULL
         |    THEN r.rank END), 0) // min(p.n) AS BIGINT) AS dshare
         |  FROM pr$i r
         |  LEFT JOIN outw o ON o.src_host = r.host
         |  CROSS JOIN params p),
         |pr${i + 1} AS MATERIALIZED (
         |  SELECT n.host,
         |    CAST((15 * p.base + 85 * (coalesce(s.m, 0) + d.dshare)) // 100
         |      AS BIGINT) AS rank
         |  FROM nodes n CROSS JOIN params p CROSS JOIN dm$i d LEFT JOIN (
         |    SELECT e.dst_host AS host,
         |      CAST(sum((r.rank * e.weight) // o.ow) AS BIGINT) AS m
         |    FROM edges e
         |    JOIN outw o ON o.src_host = e.src_host
         |    JOIN pr$i r ON r.host = e.src_host
         |    GROUP BY 1) s ON s.host = n.host)""".stripMargin
    }.mkString(",\n")
    s"""outw AS MATERIALIZED (
       |  SELECT src_host, CAST(sum(weight) AS BIGINT) AS ow
       |  FROM edges GROUP BY 1),
       |nodes AS MATERIALIZED (
       |  SELECT DISTINCT host FROM (
       |    SELECT src_host AS host FROM edges
       |    UNION ALL SELECT dst_host FROM edges)),
       |params AS MATERIALIZED (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(${WebGraph.RankScale} // count(*) AS BIGINT) AS base
       |  FROM nodes),
       |pr0 AS MATERIALIZED (
       |  SELECT host, base AS rank FROM nodes CROSS JOIN params),
       |$rounds""".stripMargin
  }

  /** The exact duplicate-group closure (ngram-Jaccard pairs → recursive
    * reachability → min label) — shared verbatim by the scratch
    * components query and (late r16) the incremental index gate.
    */
  private def dedupGroupsOracleSql: String =
    """WITH toks AS (
      |  SELECT doc_id AS id,
      |    unnest(list_distinct(list_filter(string_split_regex(lower(text), '\s+'),
      |      x -> x <> ''))) AS w
      |  FROM documents WHERE doc_id < 120),
      |sizes AS (SELECT id, count(*) AS n FROM toks GROUP BY id),
      |inter AS (
      |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
      |  FROM toks a JOIN toks b ON a.w = b.w AND a.id < b.id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT id_a, id_b FROM (
      |    SELECT id_a, id_b,
      |      CAST(i AS DOUBLE) / CAST(na.n + nb.n - i AS DOUBLE) AS jaccard
      |    FROM inter JOIN sizes na ON id_a = na.id JOIN sizes nb ON id_b = nb.id)
      |  WHERE jaccard >= 0.5),
      |edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION ALL SELECT id_b, id_a FROM pairs),
      |reach AS (
      |  WITH RECURSIVE r(id, label) AS (
      |    SELECT DISTINCT src, src FROM edges
      |    UNION
      |    SELECT e.dst, r.label FROM r JOIN edges e ON e.src = r.id)
      |  SELECT * FROM r)
      |SELECT id, min(label) AS group_id FROM reach GROUP BY id ORDER BY id""".stripMargin

  private def pageRankOracleSql(iterations: Int): String =
    s"""WITH $linkChainCtes,
       |${pageRankCtes(iterations)}
       |SELECT host, CAST(rank AS BIGINT) AS rank_scaled
       |FROM pr$iterations ORDER BY host""".stripMargin

  /** The full-PSL resolution CTE chain over ANY source of hosts (r15):
    * rules as VALUES generated from the SAME parsed fixture lines the
    * Spark operator broadcasts, candidate label-suffixes (literal +
    * leftmost-label-wildcarded), exception-first/longest-wins
    * resolution, registrable slice — ending in
    * `psl_reg(<keys>, reg_domain)`. Parameterized so compositions
    * (the registrant budget) splice the identical chain; all CTE
    * names psl_-prefixed (the shared-namespace rule).
    */
  private def pslCtes(src: String, keys: Seq[String],
                      hostCol: String): String = {
    val ruleValues = WebGraph.parsePsl(WebGraph.PslFixtureLines)
      .map(r => s"('${r.rule}', '${r.kind}', '${r.section}')")
      .mkString(",\n        ")
    val ks = keys.mkString(", ")
    val fks = keys.map("f." + _).mkString(", ")
    s"""psl_rules(rule, kind, section) AS (VALUES
       |        $ruleValues),
       |psl_pp AS MATERIALIZED (
       |  SELECT $ks,
       |    lower(regexp_replace($hostCol, '\\.$$', '')) AS __h,
       |    string_split(lower(regexp_replace($hostCol, '\\.$$', '')), '.')
       |      AS __parts,
       |    len(string_split(lower(regexp_replace($hostCol, '\\.$$', '')),
       |      '.')) AS __n
       |  FROM $src),
       |psl_cand AS (
       |  SELECT $ks, __parts, __n, unnest(generate_series(1, __n)) AS __d
       |  FROM psl_pp),
       |psl_forms AS (
       |  SELECT $ks, __d,
       |    array_to_string(__parts[__n - __d + 1:__n], '.') AS __lit,
       |    CASE WHEN __d >= 2
       |      THEN '*.' || array_to_string(__parts[__n - __d + 2:__n], '.')
       |    END AS __wc
       |  FROM psl_cand),
       |psl_m AS (
       |  SELECT $fks, r.kind = 'exception' AS __exc,
       |    CASE WHEN r.kind = 'exception' THEN f.__d - 1 ELSE f.__d END
       |      AS __eff
       |  FROM psl_forms f JOIN psl_rules r ON
       |    (r.kind = 'wildcard' AND f.__wc = r.rule) OR
       |    (r.kind <> 'wildcard' AND f.__lit = r.rule)),
       |psl_win AS (
       |  SELECT $ks,
       |    CASE WHEN bool_or(__exc) THEN max(__eff) FILTER (WHERE __exc)
       |         ELSE max(__eff) END AS __sl
       |  FROM psl_m GROUP BY $ks),
       |psl_reg AS (
       |  SELECT ${keys.map("p." + _).mkString(", ")},
       |    CASE WHEN p.__n > coalesce(w.__sl, 1)
       |      THEN array_to_string(
       |        p.__parts[p.__n - coalesce(w.__sl, 1):p.__n], '.')
       |      ELSE p.__h END AS reg_domain
       |  FROM psl_pp p LEFT JOIN psl_win w USING ($ks))""".stripMargin
  }

  /** HITS unrolled (r14): aa0/hh0 at base, per round an authority
    * half-step off the PREVIOUS hubs then a hub half-step off the NEW
    * authorities, each renormalized by the single integer division
    * `x div greatest(1, Σx div RankScale)` — the exact WebGraph.hits
    * arithmetic, truncation included. Every frame MATERIALIZED (the
    * pageRankCtes inlining lesson: 2^rounds blowup otherwise).
    */
  private def hitsCtes(iterations: Int): String = {
    val S = WebGraph.RankScale
    val rounds = (0 until iterations).map { i =>
      s"""har$i AS MATERIALIZED (
         |  SELECT e.dst_host AS host,
         |    CAST(sum(h.score * e.weight) AS BIGINT) AS raw
         |  FROM edges e JOIN hh$i h ON h.host = e.src_host
         |  GROUP BY 1),
         |had$i AS MATERIALIZED (
         |  SELECT greatest(CAST(1 AS BIGINT),
         |    CAST(coalesce(sum(raw), 0) // $S AS BIGINT)) AS dv
         |  FROM har$i),
         |haa${i + 1} AS MATERIALIZED (
         |  SELECT n.host,
         |    CAST(coalesce(r.raw, 0) // d.dv AS BIGINT) AS score
         |  FROM nodes n LEFT JOIN har$i r ON r.host = n.host
         |  CROSS JOIN had$i d),
         |hhr$i AS MATERIALIZED (
         |  SELECT e.src_host AS host,
         |    CAST(sum(a.score * e.weight) AS BIGINT) AS raw
         |  FROM edges e JOIN haa${i + 1} a ON a.host = e.dst_host
         |  GROUP BY 1),
         |hhd$i AS MATERIALIZED (
         |  SELECT greatest(CAST(1 AS BIGINT),
         |    CAST(coalesce(sum(raw), 0) // $S AS BIGINT)) AS dv
         |  FROM hhr$i),
         |hh${i + 1} AS MATERIALIZED (
         |  SELECT n.host,
         |    CAST(coalesce(r.raw, 0) // d.dv AS BIGINT) AS score
         |  FROM nodes n LEFT JOIN hhr$i r ON r.host = n.host
         |  CROSS JOIN hhd$i d)""".stripMargin
    }.mkString(",\n")
    s"""nodes AS MATERIALIZED (
       |  SELECT DISTINCT host FROM (
       |    SELECT src_host AS host FROM edges
       |    UNION ALL SELECT dst_host FROM edges)),
       |hparams AS MATERIALIZED (
       |  SELECT CAST($S // count(*) AS BIGINT) AS base FROM nodes),
       |hh0 AS MATERIALIZED (
       |  SELECT host, base AS score FROM nodes CROSS JOIN hparams),
       |$rounds""".stripMargin
  }

  private def hitsOracleSql(iterations: Int): String =
    s"""WITH $linkChainCtes,
       |${hitsCtes(iterations)}
       |SELECT a.host, CAST(a.score AS BIGINT) AS auth_scaled,
       |  CAST(h.score AS BIGINT) AS hub_scaled
       |FROM haa$iterations a JOIN hh$iterations h ON h.host = a.host
       |ORDER BY a.host""".stripMargin

  // ---- FineWeb recipe fixture pages (r12) ---------------------------
  // Multi-line crawl pages constructed from the documents fixture, with
  // a decorated URL per page and planted pathologies per doc_id residue
  // (see the q_pipeline_fineweb_recipe comment). DESIGN RULES the
  // construction must keep (the oracle replays bit-for-bit, but the
  // SEMANTICS ride on these):
  //  - no 4 consecutive constant tokens in any line that can survive to
  //    the MinHash stage (so unrelated docs share zero 4-shingles and
  //    banding pairs only the planted copies);
  //  - no 8 consecutive constant tokens anywhere surviving (so
  //    ExactSubstr excises only the planted intra-doc echo);
  //  - C4-surviving lines end in '.', carry >= 5 words, avoid
  //    'javascript'; Spanish variants outvote English stopwords.
  private def fineWebPages(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    val idS = id.cast("string")
    val salad1 = substring(coalesce(col("text"), lit("")), 1, 100)
    val salad2 = substring(coalesce(col("text"), lit("")), 101, 80)
    val es = id % 13 === 0
    val url = concat(
      when(id % 2 === 0, lit("https://")).otherwise(lit("HTTPS://")),
      lit("Site"), (id % 7).cast("string"), lit(".Example.COM"),
      when(id % 3 === 0, lit(":443")).otherwise(lit("")),
      lit("/page/"), (id % 50).cast("string"),
      when(id % 5 === 0, lit("/")).otherwise(lit("")),
      when(id % 2 === 1,
        concat(lit("?utm_source=feed&x="), (id % 4).cast("string")))
        .otherwise(lit("")))
    val l1 = concat(salad1,
      when(es, lit(" la gente de la casa y la calle."))
        .otherwise(concat(lit(" told page "), idS, lit(" the story."))))
    val l2 = when(es, concat(lit("pagina "), idS, lit(" dice que "), salad2,
        lit(" y la casa es una linea.")))
      .otherwise(concat(lit("page "), idS, lit(" says that "), salad2,
        lit(" and the "), idS, lit(" ended there.")))
    val l3 = when(id % 3 === 0,
        lit("please enable javascript to view this page."))
      .when(es, concat(lit("nota "), idS,
        lit(" de esas palabras en la casa.")))
      .otherwise(concat(lit("note "), idS, lit(" of those "), idS,
        lit(" words here.")))
    val l4 = when(id % 17 === 0, lit("### ### ### ### ### ### ### ###"))
      .otherwise(lit("trailing boilerplate without punctuation"))
    val l5 = when(id % 7 === 0, lit("lorem ipsum dolor sit amet."))
      .otherwise(concat(lit("mail user"), idS,
        lit("@example.com about page "), idS,
        when(es, lit(" y el fin de la casa.")).otherwise(lit(" is fine."))))
    val l6 = when(id % 9 === 0,
      concat(salad1, lit(" and "), idS, lit(" said so.")))
    val base = docs.select(id,
      url.as("url"),
      concat_ws("\n", l1, l2, l3, l4, l5, l6).as("text"))
    base.unionByName(base.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(lit("https://copies.example.com/copy/"),
          col("doc_id").cast("string")).as("url"),
        // the id interleaves every <=2 constant tokens: the old tail
        // "appears here of course." was 4 consecutive constants —
        // violating the fixture's own no-4-constant-run rule, so every
        // planted copy shared a 4-shingle and UNRELATED copies could
        // band-pair through it (code-review r12)
        concat(col("text"), lit("\ncopy "), col("doc_id").cast("string"),
          lit(" appears here "), col("doc_id").cast("string"),
          lit(" of course "), col("doc_id").cast("string"), lit("."))
          .as("text")))
  }

  /** The FineWeb recipe replayed stage-for-stage in DuckDB: page/url
    * construction (mirrors [[fineWebPages]] literal-for-literal), the
    * q_dedup_by_url canon chain, the q_text_quality language votes, the
    * q_text_gopher_rules predicate, the q_text_c4_rules line filter +
    * page gates + rewrite, the q_dedup_minhash_portable md5 banding (at
    * shingle 4) + the recursive-CTE components, the q_dedup_substring
    * interval-merge rebuild (at k = 8), the q_text_redact_pii chain, and
    * the token floor. `s1`..`s8` are the post-step corpora the audit
    * counts.
    */
  private lazy val fineWebOracleCtes: String =
    """WITH fwbase AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTPS://' END
      |    || 'Site' || (doc_id % 7) || '.Example.COM'
      |    || CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END
      |    || '/page/' || (doc_id % 50)
      |    || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END
      |    || CASE WHEN doc_id % 2 = 1
      |         THEN '?utm_source=feed&x=' || (doc_id % 4) ELSE '' END AS url,
      |    concat_ws(chr(10),
      |      substr(coalesce(text, ''), 1, 100) ||
      |        CASE WHEN doc_id % 13 = 0
      |          THEN ' la gente de la casa y la calle.'
      |          ELSE ' told page ' || doc_id || ' the story.' END,
      |      CASE WHEN doc_id % 13 = 0
      |        THEN 'pagina ' || doc_id || ' dice que '
      |          || substr(coalesce(text, ''), 101, 80)
      |          || ' y la casa es una linea.'
      |        ELSE 'page ' || doc_id || ' says that '
      |          || substr(coalesce(text, ''), 101, 80)
      |          || ' and the ' || doc_id || ' ended there.' END,
      |      CASE WHEN doc_id % 3 = 0
      |        THEN 'please enable javascript to view this page.'
      |        WHEN doc_id % 13 = 0
      |        THEN 'nota ' || doc_id || ' de esas palabras en la casa.'
      |        ELSE 'note ' || doc_id || ' of those ' || doc_id
      |          || ' words here.' END,
      |      CASE WHEN doc_id % 17 = 0 THEN '### ### ### ### ### ### ### ###'
      |        ELSE 'trailing boilerplate without punctuation' END,
      |      CASE WHEN doc_id % 7 = 0 THEN 'lorem ipsum dolor sit amet.'
      |        ELSE 'mail user' || doc_id || '@example.com about page '
      |          || doc_id
      |          || CASE WHEN doc_id % 13 = 0 THEN ' y el fin de la casa.'
      |               ELSE ' is fine.' END END,
      |      CASE WHEN doc_id % 9 = 0
      |        THEN substr(coalesce(text, ''), 1, 100) || ' and ' || doc_id
      |          || ' said so.' END) AS text
      |  FROM documents),
      |fwpages AS (
      |  SELECT doc_id, url, text FROM fwbase
      |  UNION ALL
      |  SELECT doc_id + 1000000,
      |    'https://copies.example.com/copy/' || doc_id,
      |    text || chr(10) || 'copy ' || doc_id || ' appears here ' ||
      |      doc_id || ' of course ' || doc_id || '.'
      |  FROM fwbase WHERE doc_id % 10 = 0),
      |fwcu1 AS (SELECT doc_id, text,
      |  regexp_replace(url, '#.*', '', 'g') AS cu FROM fwpages),
      |fwcu2 AS (SELECT doc_id, text,
      |  lower(regexp_extract(cu, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', 0))
      |  || regexp_replace(cu, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '', 'g')
      |  AS cu FROM fwcu1),
      |fwcu3 AS (SELECT doc_id, text, regexp_replace(regexp_replace(cu,
      |  '^(http://[^/?#:]+):80([/?#].*)?$', '\1\2', 'g'),
      |  '^(https://[^/?#:]+):443([/?#].*)?$', '\1\2', 'g') AS cu FROM fwcu2),
      |fwcu4 AS (SELECT doc_id, text, regexp_replace(cu,
      |  '([?&])(utm_[A-Za-z0-9_]*|fbclid|gclid)=[^&#]*', '\1', 'g') AS cu
      |  FROM fwcu3),
      |fwcu5 AS (SELECT doc_id, text, regexp_replace(regexp_replace(
      |  regexp_replace(cu, '&&+', '&', 'g'), '\?&', '?', 'g'),
      |  '[?&]+$', '', 'g') AS cu FROM fwcu4),
      |s1 AS (
      |  SELECT doc_id, text FROM (
      |    SELECT doc_id, text,
      |      regexp_replace(cu, '/$', '', 'g') AS url_canon FROM fwcu5)
      |  QUALIFY row_number() OVER (PARTITION BY url_canon
      |    ORDER BY doc_id ASC) = 1),
      |fwlv AS (SELECT doc_id, text,
      |  len(list_filter(string_split_regex(lower(text), '\s+'),
      |    w -> w IN ('the','a','an','of','to','and','in','is'))) AS en,
      |  len(list_filter(string_split_regex(lower(text), '\s+'),
      |    w -> w IN ('el','la','de','y','que','en','un','una'))) AS es,
      |  len(list_filter(string_split_regex(lower(text), '\s+'),
      |    w -> w IN ('le','la','de','et','un','une','du','des'))) AS fr
      |  FROM s1),
      |s2 AS (SELECT doc_id, text FROM fwlv
      |  WHERE NOT (en = 0 AND es = 0 AND fr = 0)
      |    AND en >= es AND en >= fr),
      |fwg0 AS (SELECT doc_id, text,
      |  list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w,
      |  list_filter(string_split(text, chr(10)), l -> l <> '') AS ls
      |  FROM s2),
      |fwg1 AS (SELECT doc_id, text,
      |  len(w) AS nw,
      |  coalesce(list_sum(list_transform(w, x -> len(x))), 0) AS cs,
      |  len(regexp_extract_all(text, '[#…]')) AS nsym,
      |  len(ls) AS nl,
      |  len(list_filter(ls, l -> trim(l) LIKE '•%'
      |    OR trim(l) LIKE '- %' OR trim(l) LIKE '* %')) AS nb,
      |  len(list_filter(ls, l -> trim(l) LIKE '%...'
      |    OR trim(l) LIKE '%…')) AS ne,
      |  len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS na,
      |  len(list_intersect(list_transform(w, x -> lower(x)),
      |    ['the','be','to','of','and','that','have','with'])) AS nstop
      |  FROM fwg0),
      |s3 AS (SELECT doc_id, text FROM fwg1
      |  WHERE (nw >= 50 AND nw <= 100000)
      |   AND (nw > 0 AND CAST(cs AS DOUBLE) / CAST(nw AS DOUBLE) >= 3.0
      |        AND CAST(cs AS DOUBLE) / CAST(nw AS DOUBLE) <= 10.0)
      |   AND (nw > 0 AND CAST(nsym AS DOUBLE) / CAST(nw AS DOUBLE) <= 0.1)
      |   AND (nl = 0 OR CAST(nb AS DOUBLE) / CAST(nl AS DOUBLE) < 0.9)
      |   AND (nl = 0 OR CAST(ne AS DOUBLE) / CAST(nl AS DOUBLE) <= 0.3)
      |   AND (nw > 0 AND CAST(na AS DOUBLE) / CAST(nw AS DOUBLE) >= 0.8)
      |   AND (nstop >= 2)),
      |fwc40 AS (SELECT doc_id, text,
      |  list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS ls
      |  FROM s3),
      |fwc41 AS (SELECT doc_id, text,
      |  list_filter(ls, l ->
      |    (ends_with(trim(l), '.') OR ends_with(trim(l), '!')
      |      OR ends_with(trim(l), '?') OR ends_with(trim(l), '"'))
      |    AND len(list_filter(regexp_split_to_array(trim(l), '\s+'),
      |      x -> x <> '')) >= 5
      |    AND NOT contains(lower(trim(l)), 'javascript')) AS kept
      |  FROM fwc40),
      |s4 AS (SELECT doc_id, array_to_string(kept, chr(10)) AS text
      |  FROM fwc41
      |  WHERE len(kept) >= 3 AND NOT contains(lower(text), 'lorem ipsum')
      |    AND NOT contains(text, '{')),
      |fwmt AS (SELECT doc_id,
      |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')
      |    AS tk FROM s4),
      |fwmsh AS (SELECT DISTINCT doc_id,
      |  array_to_string(tk[i+1:i+4], ' ') AS shingle
      |  FROM fwmt, unnest(generate_series(0, len(tk) - 4)) u(i)
      |  WHERE len(tk) >= 4),
      |fwmmh AS (SELECT doc_id, j,
      |  min(CAST(concat('0x', substr(md5(shingle || ':' || (j // 4)),
      |    1 + 8 * (j % 4), 8)) AS BIGINT)) AS mh
      |  FROM fwmsh, unnest(generate_series(0, 7)) v(j)
      |  GROUP BY doc_id, j),
      |fwmb AS (SELECT doc_id, j // 2 AS band,
      |  string_agg(mh, ',' ORDER BY j) AS sig
      |  FROM fwmmh GROUP BY doc_id, j // 2),
      |fwmp AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
      |  FROM fwmb a JOIN fwmb c
      |  ON a.band = c.band AND a.sig = c.sig AND a.doc_id < c.doc_id),
      |fwme AS (SELECT id_a AS src, id_b AS dst FROM fwmp
      |  UNION ALL SELECT id_b, id_a FROM fwmp),
      |fwmr AS (
      |  WITH RECURSIVE r(id, label) AS (
      |    SELECT DISTINCT src, src FROM fwme
      |    UNION
      |    SELECT e.dst, r.label FROM r JOIN fwme e ON e.src = r.id)
      |  SELECT * FROM r),
      |fwmc AS (SELECT id, min(label) AS group_id FROM fwmr GROUP BY id),
      |s5 AS (SELECT doc_id, text FROM s4
      |  WHERE doc_id NOT IN (SELECT id FROM fwmc WHERE id <> group_id)),
      |fwst AS (SELECT doc_id,
      |  list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS tk
      |  FROM s5),
      |fwsw AS (SELECT doc_id, i AS s,
      |  array_to_string(tk[i+1:i+8], ' ') AS win
      |  FROM fwst, unnest(range(0, len(tk) - 7)) r(i)
      |  WHERE len(tk) >= 8),
      |fwsdup AS (SELECT win FROM fwsw GROUP BY win HAVING count(*) >= 2),
      |fwsds AS (SELECT doc_id, s FROM fwsw
      |  WHERE win IN (SELECT win FROM fwsdup)),
      |fwsiv AS (SELECT doc_id, s, CASE WHEN s > coalesce(max(s + 8) OVER (
      |    PARTITION BY doc_id ORDER BY s
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
      |  THEN 1 ELSE 0 END AS ng FROM fwsds),
      |fwsgr AS (SELECT doc_id, s,
      |  sum(ng) OVER (PARTITION BY doc_id ORDER BY s) AS g FROM fwsiv),
      |fwsmg AS (SELECT doc_id, g, min(s) AS lo, max(s) + 7 AS hi
      |  FROM fwsgr GROUP BY doc_id, g),
      |fwscov AS (SELECT DISTINCT doc_id, p AS pos
      |  FROM fwsmg, unnest(range(lo, hi + 1)) u(p)),
      |fwstokr AS (SELECT doc_id, i - 1 AS pos, tk[i] AS tok
      |  FROM fwst, unnest(generate_series(1, len(tk))) u(i)),
      |fwskept AS (SELECT t.doc_id, t.pos, t.tok FROM fwstokr t
      |  LEFT JOIN fwscov c ON t.doc_id = c.doc_id AND t.pos = c.pos
      |  WHERE c.doc_id IS NULL),
      |s6 AS (SELECT s5.doc_id, coalesce(a.text_clean, '') AS text
      |  FROM s5 LEFT JOIN (
      |    SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_clean
      |    FROM fwskept GROUP BY doc_id) a USING (doc_id)),
      |s7 AS (SELECT doc_id,
      |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
      |    '(?i:https?)://[^\s]+', '<URL>', 'g'),
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
      |    '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g') AS text
      |  FROM s6),
      |s8 AS (SELECT doc_id, text FROM s7
      |  WHERE len(list_filter(regexp_split_to_array(text, '\s+'),
      |    x -> x <> '')) >= 10)""".stripMargin

  // Deterministic fake mime assignment for the multimodal fixtures.
  private def mime: Column =
    when(col("doc_id") % 3 === 0, "image/png")
      .when(col("doc_id") % 3 === 1, "audio/wav")
      .otherwise("video/mp4")

  // Perturbed "target" snapshot of orders for the CDC-merge demos: rows with
  // key % 7 == 0 are missing (-> insert) and rows with key % 5 == 0 carry a
  // stale o_totalprice (-> hash mismatch -> update).
  private def ordersTargetData(orders: DataFrame): DataFrame =
    orders.filter(col("o_orderkey") % 7 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 5 === 0, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice")))

  private val mergeNow = to_timestamp(lit("2026-01-01 00:00:00"))

  // Pre-staged merge fixtures, cached per sf-dir for the process lifetime:
  // a real deployment's CDC target EXISTS before the merge runs, so the
  // q_merge_* entries should bill the classify/apply work, not the repeated
  // construction of their synthetic target (VERDICT r3: ~2/3 of the merge
  // family's bench cost was fixture building). Deterministic, so caching
  // cannot change any result. Tiny (key+hash / audited orders rows).
  // A cached DataFrame is bound to the session that built it, so the cache
  // holds ONE session's fixtures at a time, compared by reference: a lookup
  // from a different session unpersists and drops the old entries before
  // rebuilding. Dead sessions are therefore never retained past the next
  // lookup, and reference equality cannot collide the way identityHashCode
  // keys could. (Verify/bench/tests all run one active session at a time;
  // a second concurrent session would rebuild, never corrupt.)
  private val mergeFixtureCache = new java.util.concurrent.atomic.AtomicReference[
    (SparkSession, scala.collection.concurrent.TrieMap[String, DataFrame])](null)

  private def fixtureCacheFor(s: SparkSession) = mergeFixtureCache.synchronized {
    val cur = mergeFixtureCache.get
    if (cur != null && (cur._1 eq s)) cur._2
    else {
      if (cur != null) cur._2.values.foreach { df =>
        // best-effort: the owning session may already be stopped
        try df.unpersist() catch { case scala.util.control.NonFatal(_) => () }
      }
      val m = scala.collection.concurrent.TrieMap.empty[String, DataFrame]
      mergeFixtureCache.set((s, m))
      m
    }
  }

  /** Cache-entry accessor that survives `spark.catalog.clearCache()`: the
    * bench clears ALL cached plans between queries (leaked operator-internal
    * persists otherwise accumulate across 80+ queries and the storage churn
    * taxes unrelated aggregates — r6's q_a2 4× regression), which also
    * evicts these fixtures. Re-persist + re-materialize when that happened;
    * the median-of-N bench timing absorbs the one first-run rebuild.
    */
  private def cachedFixture(s: SparkSession, key: String)
                           (build: => DataFrame): DataFrame = {
    val df = fixtureCacheFor(s).getOrElseUpdate(key, {
      val d = build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      d.count() // materialize once, outside any timed run but the first
      d
    })
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) {
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count()
    }
    df
  }

  /** Hashed target state (classify build side), cached + persisted. */
  private def mergeTargetState(s: SparkSession, d: String): DataFrame =
    cachedFixture(s, s"state:$d")(
      RowHash.withRowHash(ordersTargetData(t(s, d, "orders"))))

  /** Audited target table (apply's base), cached + persisted. */
  private def mergeTargetAudited(s: SparkSession, d: String): DataFrame =
    cachedFixture(s, s"audited:$d")(
      RowHash.withAuditColumns(ordersTargetData(t(s, d, "orders")),
        Seq("o_orderkey"), mergeNow))

  /** Cache key of an sf-dir for the process-lifetime index/model temp
    * dirs: the FULL canonical path, sanitized, plus an md5 prefix of the
    * unsanitized path — keying on the basename alone silently reused one
    * dataset's index for another whose path shared a final component
    * (ADVICE r12), and the sanitization alone is non-injective ('sf a'
    * vs 'sf_a' collapse; second-pass review r13), so the hash makes the
    * key collision-free while the readable prefix keeps dirs debuggable.
    */
  private def sfKey(d: String): String = {
    val canon = new java.io.File(d).getCanonicalPath
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(4).map(b => f"${b & 0xff}%02x").mkString
    canon.replaceAll("[^A-Za-z0-9._-]", "_") + "-" + h
  }

  // One static shutdown hook draining a queue — per-invocation hooks
  // accumulated live Threads over a long process (second-pass review r13).
  private val cleanupDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val cleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val cs = f.listFiles(); if (cs != null) cs.foreach(rm)
        f.delete(): Unit
      }
      var p = cleanupDirs.poll()
      while (p != null) { rm(p.toFile); p = cleanupDirs.poll() }
    }))

  /** A per-invocation temp dir registered for recursive delete at JVM
    * exit — the append-gate queries build a fresh throwaway index per
    * run, and those dirs used to accumulate for the process lifetime
    * (ADVICE r12).
    */
  private def tempDirCleaned(prefix: String): String = {
    cleanupHook
    val p = java.nio.file.Files.createTempDirectory(prefix)
    cleanupDirs.add(p)
    p.toString
  }

  // Unique per process: concurrent verify/bench runs never race on the
  // same index directory.
  private lazy val ivfTmpDir =
    java.nio.file.Files.createTempDirectory("graft-ivf").toString

  // PQ codes index for the indexed-probe query: built once per process per
  // sf-dir (the ivfEnsureIndex convention; the append gate uses its OWN
  // temp dir so this shared index stays append-free).
  private lazy val pqTmpDir =
    java.nio.file.Files.createTempDirectory("graft-pq").toString

  private def pqEnsureIndex(s: SparkSession, d: String): String = {
    val path = s"$pqTmpDir/${sfKey(d)}"
    // gate on the last-written artifact (the _books sidecar), not the
    // bare dir (same interrupted-write class as opqEnsureIndex)
    if (!graft.pipeline.Sinks.exists(s, s"$path/_books"))
      graft.operators.ProductQuantization.pqWriteIndex(
        t(s, d, "embeddings"), "vec_id", "embedding", dim = 64, path,
        m = 8, kCodewords = 16)
    path
  }

  // OPQ (rotated-PQ) index for the indexed-probe row (r14): rotation +
  // books persisted once per process per sf-dir, the pqEnsureIndex
  // convention; the append gate uses its OWN temp dir.
  private lazy val opqTmpDir =
    java.nio.file.Files.createTempDirectory("graft-opq").toString

  private def opqEnsureIndex(s: SparkSession, d: String): String = {
    val path = s"$opqTmpDir/${sfKey(d)}"
    // gate on the LAST-written artifact (_rotation), not the bare dir —
    // an interrupted write must regenerate, not strand every later probe
    // on a missing sidecar (the warcGzEnsure lesson; code-review r14)
    if (!graft.pipeline.Sinks.exists(s, s"$path/_rotation"))
      graft.operators.ProductQuantization.opqWriteIndex(
        t(s, d, "embeddings"), "vec_id", "embedding", dim = 64, path,
        m = 8, kCodewords = 16)
    path
  }

  private lazy val jsonlTmpDir =
    java.nio.file.Files.createTempDirectory("graft-jsonl").toString

  // Embedded Derby database for the genuine-JDBC CDC cycle
  // (q_pipeline_jdbc_roundtrip): in-memory, one database per
  // (process, sf-dir), created on first connect. The query overwrites its
  // tables on every run, so repeated bench runs are idempotent. Derby is
  // the zero-infra stand-in for the reference's MySQL — same JDBC code
  // path, dialect-mapped DDL.
  private def derbyUrl(d: String): String =
    s"jdbc:derby:memory:graft_${sfKey(d)};create=true"
  private def derbyProps: java.util.Properties = {
    val p = new java.util.Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }
  // The JDBC cycle's merge instant — strictly after the fixture's
  // created_at (mergeNow), so the read-back audit columns distinguish
  // kept (created@t0, updated@t0), updated (created@t0, updated@t1), and
  // inserted (created@t1) rows.
  private val jdbcNow = to_timestamp(lit("2026-02-01 00:00:00"))
  // The SAME instant as a java.sql.Timestamp for the JDBC-side writers.
  // Instant-parsed, NOT Timestamp.valueOf: valueOf interprets the wall
  // time in the JVM DEFAULT timezone, while jdbcNow parses in the
  // UTC-pinned session — on a non-UTC JVM the two would differ by the
  // offset and the timestamp-equality audits would match zero rows
  // (code-review r14).
  private val jdbcNowTs =
    java.sql.Timestamp.from(java.time.Instant.parse("2026-02-01T00:00:00Z"))
  // The exactly-once gate's ledger must reset with its re-bootstrapped
  // target: the Derby db lives for the (process, sf-dir), so a stale
  // ledger from a previous in-process run (bench median-of-3) would
  // skip every replayed batch id against a FRESH target.
  private def derbyDropIfExists(url: String, table: String): Unit = {
    val c = java.sql.DriverManager.getConnection(url, derbyProps)
    try {
      val st = c.createStatement()
      try st.executeUpdate(s"DROP TABLE $table"): Unit
      catch {
        case e: java.sql.SQLException if e.getSQLState == "42Y55" => ()
      } finally st.close()
    } finally c.close()
  }
  // Shared sink DDL for the Derby targets (the reference's inferred
  // VARCHAR types) — one definition, three queries.
  private val jdbcOrdersDdl =
    "o_orderstatus VARCHAR(8), o_orderpriority VARCHAR(32), " +
      "row_hash VARCHAR(64)"

  /** The JDBC-convergence check shared by the roundtrip, incremental,
    * and streaming-CDC gates: the final target's counts, money sum,
    * audit-timestamp classification, dense-id max, and the all-skip
    * reclassification — one definition so the three gates cannot drift.
    */
  private def jdbcConvergenceAgg(back: DataFrame,
                                 reclassified: DataFrame): DataFrame =
    back.agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("o_orderkey")).as("n_keys"),
        max(col("id")).as("max_id"),
        moneySum("o_totalprice"),
        sum(when(col("updated_at") === jdbcNow && col("created_at") === mergeNow,
          1L).otherwise(0L)).as("n_updated"),
        sum(when(col("created_at") === jdbcNow, 1L).otherwise(0L))
          .as("n_inserted"))
      .crossJoin(broadcast(reclassified.agg(
        sum(when(col(Merge.ActionCol) === Merge.Skip, 1L).otherwise(0L))
          .as("n_skip_after"))))

  /** The matching oracle: after any of the three JDBC write paths the
    * target converges to orders exactly (target keys ⊆ source keys,
    * no-delete never fires), updates are the %5-drifted keys still in
    * the target, inserts the dropped %7 keys, ids dense, re-classify
    * all-skip.
    */
  private val jdbcConvergenceOracleSql: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
      |  CAST(count(*) AS BIGINT) AS max_id,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_o_totalprice,
      |  CAST(sum(CASE WHEN o_orderkey % 7 <> 0 AND o_orderkey % 5 = 0
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
      |  CAST(sum(CASE WHEN o_orderkey % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_inserted,
      |  CAST(count(*) AS BIGINT) AS n_skip_after
      |FROM orders""".stripMargin

  private lazy val compactTmpDir =
    java.nio.file.Files.createTempDirectory("graft-compact").toString

  private def ivfIndexPath(sfDir: String): String =
    s"$ivfTmpDir/${sfKey(sfDir)}"

  private def ivfEnsureIndex(s: SparkSession, d: String): String = {
    val path = ivfIndexPath(d)
    if (!graft.pipeline.Sinks.exists(s, path))
      Similarity.ivfWriteIndex(t(s, d, "embeddings"), "vec_id", "embedding",
        dim = 64, nCentroids = 16, path = path)
    path
  }

  // Two-sided IVF indexes for the indexed margin-mining row (r15):
  // even vec_ids = source corpus, odd = target (the q_ret_margin_mine
  // split), persisted once per process per sf-dir — the amortized
  // bitext-mining steady state.
  private lazy val marginIdxTmpDir =
    java.nio.file.Files.createTempDirectory("graft-mmidx").toString

  private def marginIdxEnsure(s: SparkSession, d: String): (String, String) = {
    val base = s"$marginIdxTmpDir/${sfKey(d)}"
    val (srcP, tgtP) = (s"$base/src", s"$base/tgt")
    if (!graft.pipeline.Sinks.exists(s, srcP)) {
      val emb = t(s, d, "embeddings")
      Similarity.ivfWriteIndex(emb.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", dim = 64, nCentroids = 16, path = srcP)
      Similarity.ivfWriteIndex(emb.filter(col("vec_id") % 2 =!= 0),
        "vec_id", "embedding", dim = 64, nCentroids = 16, path = tgtP)
    }
    (srcP, tgtP)
  }

  // MinHash dedup index for the incremental-probe gate: corpus half
  // (doc_id >= 120) indexed once per process per sf-dir.
  private lazy val mhIdxTmpDir =
    java.nio.file.Files.createTempDirectory("graft-mhidx").toString

  private def mhIdxEnsure(s: SparkSession, d: String): String = {
    val path = s"$mhIdxTmpDir/${sfKey(d)}"
    if (!graft.pipeline.Sinks.exists(s, path))
      Dedup.minHashWriteIndex(
        t(s, d, "documents").filter(col("doc_id") >= 120), "doc_id", "text", path)
    path
  }

  // SemDeDup assignment index for the amortized semantic-dedup probe:
  // the q_dedup_semantic_text chain (text → hashed vector → quantize →
  // sampled k-means train → cell assign) paid once per process per
  // sf-dir at write time; the benched probe then runs only the
  // within-cell pair stage + components over the stored assignments.
  private lazy val semIdxTmpDir =
    java.nio.file.Files.createTempDirectory("graft-semidx").toString

  private def semIdxEnsure(s: SparkSession, d: String): String = {
    val path = s"$semIdxTmpDir/${sfKey(d)}"
    if (!graft.pipeline.Sinks.exists(s, path)) {
      val vecs = t(s, d, "documents").select(col("doc_id"),
          TextAnalysis.hashedTextVector(col("text"), 64).as("hv"))
        .filter(col("hv").isNotNull)
      val q = Similarity.quantizeEmbeddings(vecs, "doc_id", "hv")
        .select(col("id").as("doc_id"), col("qvec"))
      SemDedup.semDedupWriteIndex(q, "doc_id", "qvec", dim = 64,
        nCentroids = 32, path = path)
    }
    path
  }

  // Materialized WARC chunks for the streaming-ingest query (a file
  // stream needs files on disk); written once per process per sf-dir.
  private lazy val warcStreamTmpDir =
    java.nio.file.Files.createTempDirectory("graft-warcstream").toString

  private def warcStreamEnsure(s: SparkSession, d: String): String = {
    val path = s"$warcStreamTmpDir/${sfKey(d)}"
    if (!graft.pipeline.Sinks.exists(s, path))
      warcChunks(t(s, d, "documents")).write.parquet(path)
    path
  }

  // Real .warc.gz ARCHIVE FILES on disk for the file-ingest query (r13,
  // VERDICT r12 §next-1): each fixture chunk written as its own
  // multi-member chunk-<id>.warc.gz, once per process per sf-dir.
  private lazy val warcGzTmpDir =
    java.nio.file.Files.createTempDirectory("graft-warcgz").toString

  private def warcGzEnsure(s: SparkSession, d: String): String = {
    val path = s"$warcGzTmpDir/${sfKey(d)}"
    // gate on the _SUCCESS marker writeWarcGzFiles itself writes after
    // every partition's archives landed (ADVICE r13: the marker moved
    // INTO the operator, so every caller gets the completion signal) —
    // a bare directory-existence gate let an interrupted write leave a
    // dir that skipped regeneration forever and read a partial set
    val marker = java.nio.file.Paths.get(path, "_SUCCESS")
    if (!java.nio.file.Files.exists(marker)) {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
      Warc.writeWarcGzFiles(warcChunks(t(s, d, "documents")),
        "chunk_id", "warc", path)
    }
    path
  }

  // HLL sketch-index fixtures (r15): base corpus = documents' sketchable
  // columns; the synthetic ingest batch re-keys every 5th doc (new ids,
  // new sources, langs unchanged) so the append moves every column's
  // distinct count differently. Both gates rebuild a throwaway index per
  // run (append mutates — the tempDirCleaned convention).
  private def hllProfileBase(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select("doc_id", "lang", "source")

  private def hllProfileBatch(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("lang"),
        concat(col("source"), lit("_x")).as("source"))

  private def hllIndexEstimate(s: SparkSession, d: String): DataFrame = {
    val dir = tempDirCleaned("graft-hllidx")
    graft.operators.Profile.hllWriteIndex(
      hllProfileBase(s, d), Seq("doc_id", "lang", "source"), dir)
    graft.operators.Profile.hllAppendIndex(hllProfileBatch(s, d), dir)
    graft.operators.Profile.hllEstimateIndex(s, dir)
  }

  // Substring-fingerprint index for the incremental ExactSubstr probe:
  // corpus half (doc_id >= 120) indexed once per process per sf-dir (the
  // mhIdxEnsure convention).
  private lazy val subIdxTmpDir =
    java.nio.file.Files.createTempDirectory("graft-subidx").toString

  private def subIdxEnsure(s: SparkSession, d: String): String = {
    val path = s"$subIdxTmpDir/${sfKey(d)}"
    if (!graft.pipeline.Sinks.exists(s, s"$path/meta"))
      Dedup.substringWriteIndex(
        t(s, d, "documents").filter(col("doc_id") >= 120), "doc_id", "text",
        minTokens = 4, path)
    path
  }

  // BM25 inverted index for the retrieval probe: full corpus indexed once
  // per process per sf-dir (the ivfEnsureIndex convention); the append
  // gate uses its OWN temp dir so this shared index stays append-free.
  private lazy val bm25TmpDir =
    java.nio.file.Files.createTempDirectory("graft-bm25").toString

  private def bm25EnsureIndex(s: SparkSession, d: String): String = {
    val path = s"$bm25TmpDir/${sfKey(d)}"
    if (!graft.pipeline.Sinks.exists(s, s"$path/stats"))
      TextAnalysis.bm25WriteIndex(t(s, d, "documents"), "doc_id", "text",
        path, nBuckets = 16)
    path
  }

  /** Literal retrieval query batch — mirrored verbatim by the oracle's
    * VALUES list. Query 3's terms are absent from the corpus vocabulary,
    * pinning the no-match path (absent from the output, both engines).
    */
  private def bm25Queries(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((1L, "hash join table"), (2L, "window merge stream"),
      (3L, "zebra quantum")).toDF("query_id", "qtext")
  }

  /** Graded relevance judgments for the retrieval-eval queries,
    * constructed from embedding ids by pure residue arithmetic (both
    * engines build the identical set): every 13th (id, query) pair is
    * judged, grade `(id + query_id) % 4` (0 = judged-not-relevant rows
    * exercise the rel>0 filter). Query 3 is deliberately ABSENT from
    * the qrels so the 0/0-undefined NULL branch of recall/ndcg lands in
    * the oracle hash, not just the spec.
    */
  private def evalQrels(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val q = Seq(1L, 2L).toDF("query_id")
    t(s, d, "embeddings").select(col("vec_id").as("id")).crossJoin(q)
      .filter((col("id") * 7 + col("query_id")) % 13 === 0 &&
        col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"),
        ((col("id") + col("query_id")) % 4).cast("int").as("rel"))
  }

  /** Dense-arm oracle CTEs — [[Retrieval.denseTopKQuantized]] for query
    * ids 1,2,3 at k=10 as SQL (the q_sim_bruteforce_topk quantized-dot
    * contract, multi-query): shared verbatim by the hybrid-RRF and the
    * retrieval-eval oracles so the ranking replay cannot drift.
    */
  private val denseArmCtes: String =
    """emb_s AS (
      |  SELECT vec_id, CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS x,
      |    generate_subscripts(embedding, 1) AS i
      |  FROM embeddings),
      |dq AS (
      |  SELECT vec_id AS query_id, CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS qx,
      |    generate_subscripts(embedding, 1) AS i
      |  FROM embeddings WHERE vec_id IN (1, 2, 3)),
      |dd AS (
      |  SELECT dq.query_id, emb_s.vec_id AS id, CAST(sum(emb_s.x * dq.qx) AS BIGINT) AS score
      |  FROM emb_s JOIN dq USING (i) WHERE emb_s.vec_id <> dq.query_id
      |  GROUP BY 1, 2),
      |den AS (
      |  SELECT query_id, id, rank FROM (
      |    SELECT query_id, id,
      |      CAST(row_number() OVER (PARTITION BY query_id
      |        ORDER BY score DESC, id) AS INT) AS rank
      |    FROM dd)
      |  WHERE rank <= 10)""".stripMargin

  /** The retrieval-eval oracle: dense-arm ranking + residue-built qrels
    * + the fixed-point metric arithmetic of
    * [[Retrieval.evaluateRanking]], discounts injected as the SAME
    * Scala-generated literals the Spark plan uses.
    */
  private val evalMetricsOracleSql: String = {
    val discRows = graft.operators.Retrieval.ndcgDiscounts(10)
      .map { case (r, v) => s"($r, CAST($v AS BIGINT))" }.mkString(", ")
    "WITH " + denseArmCtes + ",\n" +
      s"""disc(drank, d) AS (VALUES $discRows),
        |""".stripMargin +
      """qrels AS (
        |  SELECT q.query_id, e.vec_id AS id,
        |    CAST((e.vec_id + q.query_id) % 4 AS INT) AS rel
        |  FROM embeddings e
        |  CROSS JOIN (VALUES (CAST(1 AS BIGINT)), (CAST(2 AS BIGINT))) q(query_id)
        |  WHERE (e.vec_id * 7 + q.query_id) % 13 = 0 AND e.vec_id <> q.query_id),
        |rel AS (
        |  SELECT query_id, id, CAST(rel AS BIGINT) AS rel
        |  FROM qrels WHERE rel > 0),
        |nrel AS (
        |  SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
        |  FROM rel GROUP BY 1),
        |hit AS (
        |  SELECT r.query_id, CAST(count(*) AS BIGINT) AS hits,
        |    max(CAST(round(1000000000000.0 / r.rank) AS BIGINT)) AS mrr_scaled,
        |    CAST(sum(rel.rel * disc.d) AS BIGINT) AS dcg_scaled
        |  FROM den r JOIN rel USING (query_id, id)
        |    JOIN disc ON disc.drank = r.rank
        |  GROUP BY 1),
        |ideal AS (
        |  SELECT query_id, CAST(sum(rel * d) AS BIGINT) AS idcg_scaled FROM (
        |    SELECT query_id, rel,
        |      CAST(row_number() OVER (PARTITION BY query_id
        |        ORDER BY rel DESC, id) AS INT) AS irank
        |    FROM rel) i JOIN disc ON disc.drank = i.irank
        |  WHERE irank <= 10 GROUP BY 1)
        |SELECT q.query_id,
        |  coalesce(n_rel, 0) AS n_rel,
        |  coalesce(hits, 0) AS hits_at_k,
        |  CASE WHEN n_rel IS NOT NULL THEN
        |    CAST(round(1000000000000.0 * (CAST(coalesce(hits, 0) AS DOUBLE)
        |      / CAST(n_rel AS DOUBLE))) AS BIGINT) END AS recall_scaled,
        |  CASE WHEN n_rel IS NOT NULL
        |    THEN coalesce(mrr_scaled, 0) END AS mrr_scaled,
        |  coalesce(dcg_scaled, 0) AS dcg_scaled,
        |  coalesce(idcg_scaled, 0) AS idcg_scaled,
        |  CASE WHEN idcg_scaled IS NOT NULL THEN
        |    CAST(round(1000000000000.0 * (CAST(coalesce(dcg_scaled, 0) AS DOUBLE)
        |      / CAST(idcg_scaled AS DOUBLE))) AS BIGINT) END AS ndcg_scaled
        |FROM (SELECT query_id FROM den UNION SELECT query_id FROM rel) q
        |LEFT JOIN nrel USING (query_id)
        |LEFT JOIN hit USING (query_id)
        |LEFT JOIN ideal USING (query_id)
        |ORDER BY query_id""".stripMargin
  }

  // Staged link pages for the streaming-ingest twin (the
  // warcStreamEnsure convention): the file-stream source needs a
  // directory of files, written once per process per sf-dir.
  private lazy val webStreamTmpDir =
    java.nio.file.Files.createTempDirectory("graft-webstream").toString

  private def webStreamEnsure(s: SparkSession, d: String): String = {
    val path = s"$webStreamTmpDir/${sfKey(d)}"
    if (!graft.pipeline.Sinks.exists(s, path))
      linkPages(t(s, d, "documents")).write.parquet(path)
    path
  }

  // Orders as a 4-file parquet copy so maxFilesPerTrigger=1 yields FOUR
  // genuine micro-batches for the streaming-CDC gate (one file would
  // collapse the stream into a single batch and prove nothing about
  // cross-batch state evolution).
  private lazy val ordersStreamTmpDir =
    java.nio.file.Files.createTempDirectory("graft-ordstream").toString

  private def ordersStreamEnsure(s: SparkSession, d: String): String = {
    val path = s"$ordersStreamTmpDir/${sfKey(d)}"
    // gate on the _SUCCESS marker, not the bare dir (the opqEnsureIndex
    // ruling — an interrupted write must regenerate)
    if (!graft.pipeline.Sinks.exists(s, s"$path/_SUCCESS"))
      t(s, d, "orders").repartition(4).write
        .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
    path
  }

  // Odd-orderkey lineitem keys as grp=<k>/ partitions with ONE file per
  // group (repartition by grp puts each group in one task), so the file
  // stream yields one micro-batch per group and a batch's content is
  // restart-deterministic — the CMS replay gate keys its exactly-once
  // tags off the group, not the engine's batch numbering.
  private lazy val cmsStreamTmpDir =
    java.nio.file.Files.createTempDirectory("graft-cmsstream").toString

  private def cmsStreamEnsure(s: SparkSession, d: String): String = {
    val path = s"$cmsStreamTmpDir/${sfKey(d)}"
    if (!graft.pipeline.Sinks.exists(s, s"$path/_SUCCESS"))
      t(s, d, "lineitem").filter(col("l_orderkey") % 2 =!= 0)
        .select(col("l_suppkey"),
          pmod(col("l_suppkey"), lit(4)).cast("int").as("grp"))
        .repartition(4, col("grp"))
        .write.partitionBy("grp")
        .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
    path
  }

  // Web link-graph index: built ONCE per process per sf-dir as TWO
  // batches (even doc_ids written, odd appended — the additive-partials
  // append is part of what the probe gate proves; batches partition the
  // pages, so summed partials equal the all-at-once graph).
  private lazy val webIdxTmpDir =
    java.nio.file.Files.createTempDirectory("graft-webidx").toString

  private def webIdxEnsure(s: SparkSession, d: String): String = {
    val path = s"$webIdxTmpDir/${sfKey(d)}"
    if (!graft.pipeline.Sinks.exists(s, s"$path/edges")) {
      def edgesOf(cond: Column): DataFrame = {
        val links = WebGraph.extractLinks(
            linkPages(t(s, d, "documents").filter(cond)),
            Seq("doc_id", "url"), "html")
          .withColumn("resolved",
            WebGraph.resolveUrl(col("url"), col("href")))
        WebGraph.hostLinkGraph(links, "url", "resolved")
      }
      WebGraph.writeIndex(edgesOf(col("doc_id") % 2 === 0), path)
      WebGraph.appendIndex(edgesOf(col("doc_id") % 2 =!= 0), path)
    }
    path
  }

  // ---- robots.txt fixture (r12) --------------------------------------
  // One robots document per fixture host: a `*` group with a wildcard
  // disallow + anchored allow, an even-host exact-agent group opened by
  // TWO consecutive User-agent lines (grouping semantics in the hash),
  // an every-third-host empty Disallow (the RFC no-op), a comment line,
  // and a Sitemap directive. No single quotes (the htmlPages
  // convention); both engines build the identical text.
  private def robotsDocs(s: SparkSession, d: String): DataFrame = {
    val h = col("h")
    val hS = h.cast("string")
    val txt = concat(
      lit("# robots for the host\nUser-agent: *\n"),
      lit("Disallow: /private/*\nAllow:\t/private/open$\n"),
      // star-group crawl delay on most hosts (h%3==1 hosts have NONE —
      // the default-delay branch of the scheduler lands in the hash)
      when(h % 3 =!= 1, lit("Crawl-delay: 9\n")).otherwise(lit("")),
      when(h % 2 === 0, concat(
        lit("User-agent: graftbot\nUser-agent: altbot\n"),
        lit("Disallow: /page/"), hS, lit("*\n"),
        lit("Allow: /page/"), hS, lit("0\n"),
        // exact-group delay OVERRIDES the star group's for graftbot —
        // delay extraction must share the eval's group selection
        lit("Crawl-delay: 0.5\n"))).otherwise(lit("")),
      when(h % 3 === 0, lit("Disallow:\n")).otherwise(lit("")),
      lit("Sitemap: https://site"), hS, lit(".example.com/sitemap.xml"))
    // odd hosts serve CRLF line endings (common in the wild; the parse
    // must be EOL-agnostic — RFC 9309 §2.1; the tab-padded Allow above
    // exercises the tab-aware value trim in the hash too)
    val eolTxt = when(h % 2 === 1,
      replace(txt, lit("\n"), lit("\r\n"))).otherwise(txt)
    t(s, d, "documents").select((col("doc_id") % 7).as("h")).distinct()
      .select(concat(lit("site"), hS, lit(".example.com")).as("host"),
        eolTxt.as("txt"))
  }

  /** Frontier URLs per doc: host from the doc residue, path shapes that
    * exercise the wildcard disallow, the anchored allow (exact and
    * near-miss), the exact-agent page rules, and the no-match default.
    */
  private def robotsUrls(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    t(s, d, "documents").select(id.as("doc_id"),
      concat(lit("site"), (id % 7).cast("string"), lit(".example.com"))
        .as("host"),
      when(id % 4 === 0, concat(lit("/page/"), (id % 40).cast("string")))
        .when(id % 4 === 1, concat(lit("/private/"), (id % 9).cast("string")))
        .when(id % 4 === 2, lit("/private/open"))
        .otherwise(concat(lit("/other/"), (id % 5).cast("string")))
        .as("url_path"))
  }

  /** robots parse chain as oracle CTEs (construction + line explode +
    * directive extraction + the two window passes), ending in `gr`
    * (host, line_idx, directive, value, group_id).
    */
  private val robotsParseCtes: String =
    """rb0 AS (
      |  SELECT h, 'site' || CAST(h AS VARCHAR) || '.example.com' AS host,
      |    '# robots for the host' || chr(10) || 'User-agent: *' || chr(10) ||
      |    'Disallow: /private/*' || chr(10) ||
      |    'Allow:' || chr(9) || '/private/open$' || chr(10) ||
      |    CASE WHEN h % 3 <> 1 THEN 'Crawl-delay: 9' || chr(10)
      |      ELSE '' END ||
      |    CASE WHEN h % 2 = 0 THEN
      |      'User-agent: graftbot' || chr(10) || 'User-agent: altbot' || chr(10) ||
      |      'Disallow: /page/' || CAST(h AS VARCHAR) || '*' || chr(10) ||
      |      'Allow: /page/' || CAST(h AS VARCHAR) || '0' || chr(10) ||
      |      'Crawl-delay: 0.5' || chr(10)
      |      ELSE '' END ||
      |    CASE WHEN h % 3 = 0 THEN 'Disallow:' || chr(10) ELSE '' END ||
      |    'Sitemap: https://site' || CAST(h AS VARCHAR) ||
      |      '.example.com/sitemap.xml' AS txt
      |  FROM (SELECT DISTINCT doc_id % 7 AS h FROM documents)),
      |rb AS (
      |  SELECT host, CASE WHEN h % 2 = 1
      |    THEN replace(txt, chr(10), chr(13) || chr(10)) ELSE txt END AS txt
      |  FROM rb0),
      |ln AS (
      |  SELECT host, u.i - 1 AS line_idx, u.l AS raw FROM (
      |    SELECT host, unnest(list_transform(range(1, len(ls) + 1),
      |      i -> {'i': i, 'l': ls[i]})) AS u
      |    FROM (SELECT host,
      |        regexp_split_to_array(txt, '\r\n|\r|\n') AS ls FROM rb))),
      |dr AS (
      |  SELECT host, line_idx,
      |    lower(regexp_extract(clean, '^([A-Za-z-]+)\s*:', 1)) AS directive,
      |    regexp_replace(regexp_replace(clean,
      |      '^[A-Za-z-]+\s*:[ \t]*', ''), '[ \t]+$', '') AS value
      |  FROM (SELECT host, line_idx,
      |      trim(regexp_replace(raw, '#.*', '')) AS clean FROM ln)),
      |kp AS (SELECT * FROM dr WHERE directive <> ''),
      |st AS (
      |  SELECT host, line_idx, directive, value,
      |    CASE WHEN directive = 'user-agent' AND coalesce(
      |        lag(CASE WHEN directive = 'user-agent' THEN 1 ELSE 0 END)
      |          OVER (PARTITION BY host ORDER BY line_idx), 0) = 0
      |      THEN 1 ELSE 0 END AS gs
      |  FROM kp),
      |gr AS (
      |  SELECT host, line_idx, directive, value,
      |    CAST(sum(gs) OVER (PARTITION BY host ORDER BY line_idx) AS INT)
      |      AS group_id
      |  FROM st)""".stripMargin

  /** The evaluation CTE body (composable after [[robotsParseCtes]]):
    * agent/group selection, rule regex translation GENERATED from
    * [[Robots.RegexEscapes]], frontier URLs, longest-match/allow-wins
    * pick into `bm` and the frontier into `uu` — rule CTEs prefixed
    * `rb_` so the body composes with [[linkChainCtes]] (which owns
    * `rl`) in the crawl-frontier showcase.
    */
  private def robotsEvalCtes: String = {
    val esc = Robots.RegexEscapes.foldLeft("body") { (acc, c) =>
      val lit = if (c == "\\") "\\" else c
      s"replace($acc, '$lit', '\\$lit')"
    }
    s"""ag AS (
       |  SELECT host, group_id, lower(value) AS agent FROM gr
       |  WHERE directive = 'user-agent' AND group_id > 0),
       |ex AS (SELECT DISTINCT host FROM ag WHERE agent = 'graftbot'),
       |cg AS (
       |  SELECT DISTINCT ag.host, ag.group_id
       |  FROM ag LEFT JOIN (SELECT host, 1 AS he FROM ex) e
       |    ON e.host = ag.host
       |  WHERE CASE WHEN e.he IS NOT NULL THEN ag.agent = 'graftbot'
       |        ELSE ag.agent = '*' END),
       |rb_rl0 AS (
       |  SELECT gr.host, gr.directive AS rule_type, gr.value,
       |    CASE WHEN gr.value LIKE '%$$' THEN 1 ELSE 0 END AS anch,
       |    CASE WHEN gr.value LIKE '%$$'
       |      THEN substring(gr.value, 1, length(gr.value) - 1)
       |      ELSE gr.value END AS body
       |  FROM gr JOIN cg ON cg.host = gr.host AND cg.group_id = gr.group_id
       |  WHERE gr.directive IN ('allow', 'disallow') AND gr.value <> ''),
       |rb_rl AS (
       |  SELECT host, rule_type, value,
       |    '^' || replace($esc, '*', '.*') ||
       |      CASE WHEN anch = 1 THEN '$$' ELSE '' END AS re,
       |    length(value) AS rlen
       |  FROM rb_rl0),
       |uu AS (
       |  SELECT doc_id,
       |    'site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS host,
       |    CASE CAST(doc_id % 4 AS INT)
       |      WHEN 0 THEN '/page/' || CAST(doc_id % 40 AS VARCHAR)
       |      WHEN 1 THEN '/private/' || CAST(doc_id % 9 AS VARCHAR)
       |      WHEN 2 THEN '/private/open'
       |      ELSE '/other/' || CAST(doc_id % 5 AS VARCHAR) END AS url_path
       |  FROM documents),
       |bm AS (
       |  SELECT doc_id, rule_type, value FROM (
       |    SELECT u.doc_id, r.rule_type, r.value,
       |      row_number() OVER (PARTITION BY u.doc_id
       |        ORDER BY r.rlen DESC, r.rule_type ASC, r.value ASC) AS rk
       |    FROM uu u JOIN rb_rl r ON r.host = u.host
       |    WHERE regexp_matches(u.url_path, r.re)) WHERE rk = 1),
       |rb_cd AS (
       |  SELECT gr.host,
       |    CAST(round(max(try_cast(gr.value AS DOUBLE)) * 1000) AS BIGINT)
       |      AS crawl_delay_ms
       |  FROM gr JOIN cg ON cg.host = gr.host AND cg.group_id = gr.group_id
       |  WHERE gr.directive = 'crawl-delay'
       |    AND try_cast(gr.value AS DOUBLE) IS NOT NULL
       |  GROUP BY 1)""".stripMargin
  }

  private def robotsAllowedOracleSql: String =
    s"""WITH $robotsParseCtes,
       |$robotsEvalCtes
       |SELECT u.doc_id, u.host, u.url_path,
       |  coalesce(b.rule_type = 'allow', TRUE) AS allowed,
       |  b.rule_type, b.value AS rule_path
       |FROM uu u LEFT JOIN bm b ON b.doc_id = u.doc_id
       |ORDER BY u.doc_id""".stripMargin

  /** One sitemap per fixture host listing its pages (entries ordered by
    * doc_id — the warcChunks grouping), with residue-gated lastmod /
    * priority elements, an `&amp;`-escaped query string per the
    * protocol, and one `<sitemap>` index entry per host.
    */
  private def sitemapDocs(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val idS = id.cast("string")
    val host = concat(lit("site"), (id % 7).cast("string"),
      lit(".example.com"))
    val entry = concat(
      lit("<url><loc>https://"), host, lit("/page/"), idS,
      lit("?s=1&amp;v="), (id % 4).cast("string"), lit("</loc>"),
      when(id % 3 === 0, concat(lit("<lastmod>2024-01-"),
        lpad((id % 28 + 1).cast("string"), 2, "0"),
        lit("</lastmod>"))).otherwise(lit("")),
      // changefreq on every 4th-residue-1 entry, cycling all seven
      // protocol values (r13 — the recrawl scheduler's input)
      when(id % 4 === 1, concat(lit("<changefreq>"),
        element_at(typedlit(Robots.ChangefreqValues), (id % 7 + 1).cast("int")),
        lit("</changefreq>"))).otherwise(lit("")),
      when(id % 5 === 0, concat(lit("<priority>0."),
        (id % 10).cast("string"), lit("</priority>"))).otherwise(lit("")),
      lit("</url>"))
    t(s, d, "documents")
      .select(host.as("host"), id.as("doc_id"), entry.as("e"))
      .groupBy("host")
      .agg(concat(lit("<urlset>"),
        array_join(transform(
          array_sort(collect_list(struct(col("doc_id"), col("e")))),
          s0 => s0.getField("e")), ""),
        lit("</urlset><sitemap><loc>https://"), col("host"),
        lit("/more.xml</loc><lastmod>2024-01-15</lastmod></sitemap>"))
        .as("xml"))
  }

  /** Sitemap construction + parse as composable oracle CTEs (r13 —
    * extracted from the q_web_sitemap oracle verbatim), ending in `sm_p`
    * (host, entry_idx, kind, loc, lastmod_raw, lastmod_date, changefreq,
    * priority). Names prefixed `sm` so the body composes with the
    * robots CTE families.
    */
  /** The recrawl-policy CTE (rc) over `sm_p`, generated from the SAME
    * Scala changefreq mapping the operator uses — shared by
    * q_web_recrawl and the q_web_crawl_plan splice (r14).
    */
  private def recrawlRcCte: String = {
    val cases = Robots.ChangefreqHours.map { case (cf, h) =>
      s"WHEN lower(changefreq) = '$cf' THEN CAST($h AS BIGINT)"
    }.mkString(" ")
    s"""rc AS (
       |  SELECT host, entry_idx, loc, changefreq, lastmod_date, priority,
       |    CASE WHEN lower(changefreq) = 'never' THEN NULL
       |      $cases
       |      ELSE CAST(${Robots.DefaultRecrawlHours} AS BIGINT)
       |      END AS interval_hours,
       |    CASE WHEN lastmod_date IS NULL THEN NULL
       |      ELSE greatest(CAST(0 AS BIGINT),
       |        CAST(datediff('day', lastmod_date, DATE '2024-02-15') * 24
       |          AS BIGINT)) END AS stale_hours
       |  FROM sm_p WHERE kind = 'url')""".stripMargin
  }

  private lazy val sitemapParseCtes: String = {
    val loc = "regexp_extract(e, '(?is)<loc>\\s*(.*?)\\s*</loc>', 1)"
    val lm = "regexp_extract(e, '(?is)<lastmod>\\s*(.*?)\\s*</lastmod>', 1)"
    s"""sm0 AS (
       |  SELECT doc_id,
       |    'site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS host,
       |    '<url><loc>https://site' || CAST(doc_id % 7 AS VARCHAR) ||
       |    '.example.com/page/' || CAST(doc_id AS VARCHAR) ||
       |    '?s=1&amp;v=' || CAST(doc_id % 4 AS VARCHAR) || '</loc>' ||
       |    CASE WHEN doc_id % 3 = 0 THEN '<lastmod>2024-01-' ||
       |      lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || '</lastmod>'
       |      ELSE '' END ||
       |    CASE WHEN doc_id % 4 = 1 THEN '<changefreq>' ||
       |      (['${Robots.ChangefreqValues.mkString("', '")}'])[
       |        CAST(doc_id % 7 + 1 AS INT)] || '</changefreq>'
       |      ELSE '' END ||
       |    CASE WHEN doc_id % 5 = 0 THEN '<priority>0.' ||
       |      CAST(doc_id % 10 AS VARCHAR) || '</priority>' ELSE '' END ||
       |    '</url>' AS entry
       |  FROM documents),
       |sm AS (
       |  SELECT host,
       |    '<urlset>' || string_agg(entry, '' ORDER BY doc_id) ||
       |    '</urlset><sitemap><loc>https://' || host ||
       |    '/more.xml</loc><lastmod>2024-01-15</lastmod></sitemap>' AS xml
       |  FROM sm0 GROUP BY host),
       |en AS (
       |  SELECT host, u.i - 1 AS entry_idx, u.e AS e FROM (
       |    SELECT host, unnest(list_transform(range(1, len(es) + 1),
       |      i -> {'i': i, 'e': es[i]})) AS u
       |    FROM (SELECT host, regexp_extract_all(xml,
       |      '${Robots.SitemapEntryRe}') AS es FROM sm))),
       |sm_p AS (
       |  SELECT host, entry_idx,
       |    CASE WHEN lower(e) LIKE '<url>%' THEN 'url' ELSE 'sitemap' END
       |      AS kind,
       |    ${sqlDecodeEntities(loc)} AS loc,
       |    $lm AS lastmod_raw,
       |    try_cast(substring($lm, 1, 10) AS DATE) AS lastmod_date,
       |    regexp_extract(e,
       |      '(?is)<changefreq>\\s*(.*?)\\s*</changefreq>', 1) AS changefreq,
       |    try_cast(regexp_extract(e,
       |      '(?is)<priority>\\s*(.*?)\\s*</priority>', 1) AS DOUBLE)
       |      AS priority
       |  FROM en)""".stripMargin
  }

  /** Candidate/reference pairs for the generation metrics, constructed
    * from the documents fixture by token slicing: candidate = first 12
    * raw tokens (with ` extra` appended every 3rd doc — genuine
    * mismatch) or empty every 11th doc (the NULL-denominator branch in
    * the hash); reference = first 15 tokens. Both engines slice the
    * identical token lists.
    */
  private def metricPairs(s: SparkSession, d: String): DataFrame = {
    val tk = TextAnalysis.words(coalesce(col("text"), lit("")))
    t(s, d, "documents").select(col("doc_id"),
      when(col("doc_id") % 11 === 0, lit(""))
        .when(col("doc_id") % 3 === 0,
          concat(array_join(slice(tk, 1, 12), " "), lit(" extra")))
        .otherwise(array_join(slice(tk, 1, 12), " ")).as("cand"),
      array_join(slice(tk, 1, 15), " ").as("ref"))
  }

  /** The [[metricPairs]] construction + per-n clipped-overlap counting
    * as oracle CTEs: explode grams of both sides, count per (doc, gram),
    * join and take `least` — the relational form of the one-pass
    * native kernel. Emits `p` (pairs), `tok`, and per n in `ns`:
    * `m{n}` (doc_id, m) clipped matches and the totals are computed
    * from token lengths in the consumer.
    */
  private def metricPairCtes(ns: Seq[Int]): String = {
    val perN = ns.map { n =>
      s"""cg$n AS (
         |  SELECT doc_id, g, count(*) AS cc FROM (
         |    SELECT doc_id, unnest(list_transform(
         |      range(1, greatest(len(ct) - ${n - 1}, 0) + 1),
         |      i -> array_to_string(ct[i:i+${n - 1}], ' '))) AS g
         |    FROM tok) GROUP BY 1, 2),
         |rg$n AS (
         |  SELECT doc_id, g, count(*) AS rc FROM (
         |    SELECT doc_id, unnest(list_transform(
         |      range(1, greatest(len(rt) - ${n - 1}, 0) + 1),
         |      i -> array_to_string(rt[i:i+${n - 1}], ' '))) AS g
         |    FROM tok) GROUP BY 1, 2),
         |m$n AS (
         |  SELECT doc_id, CAST(sum(least(cc, rc)) AS BIGINT) AS m
         |  FROM cg$n JOIN rg$n USING (doc_id, g) GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    """p AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 11 = 0 THEN ''
      |         WHEN doc_id % 3 = 0
      |           THEN array_to_string(tk[1:12], ' ') || ' extra'
      |         ELSE array_to_string(tk[1:12], ' ') END AS cand,
      |    array_to_string(tk[1:15], ' ') AS ref
      |  FROM (SELECT doc_id, list_filter(
      |      regexp_split_to_array(coalesce(text, ''), '\s+'),
      |      x -> x <> '') AS tk
      |    FROM documents)),
      |tok AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(cand), '\s+'),
      |      x -> x <> '') AS ct,
      |    list_filter(regexp_split_to_array(lower(ref), '\s+'),
      |      x -> x <> '') AS rt
      |  FROM p),
      |""".stripMargin + perN
  }

  /** Literal phrase batch (ORDERED sequences): a frequent fixture bigram,
    * a rarer trigram, and an impossible phrase for the no-match path.
    */
  private def phraseQueries(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((1L, "table hash"), (2L, "slow hash batch"),
      (3L, "zebra quantum leap")).toDF("query_id", "qtext")
  }

  // Persisted text-model artifacts (r11, VERDICT r10 §next-2): train once
  // per (process, sf-dir) and write the model TABLE to parquet; the
  // benched `*_scored` rows then LOAD + score — the production steady
  // state, where a trained classifier/tokenizer serves many batches and
  // training is an occasional separate job (the reference's incremental
  // sync analogue: load state, don't rebuild it — sync_INCREMENTAL.py
  // :226-268). Exact precedent: ivfEnsureIndex / q_sim_ivf_indexed vs
  // q_sim_ivf_index_write. The one-time training runs inside whichever
  // probe touches the family first — always that query's UNTIMED warm-up
  // run, since Bench clears caches but never this directory.
  private lazy val modelTmpDir =
    java.nio.file.Files.createTempDirectory("graft-models").toString

  private def ensureModel(s: SparkSession, d: String, name: String)
                         (train: => DataFrame): String = {
    val path = s"$modelTmpDir/${sfKey(d)}/$name"
    if (!graft.pipeline.Sinks.exists(s, path)) train.write.parquet(path)
    path
  }

  /** PCA model artifact (r12): 16-component model trained once per
    * (process, sf-dir); the benched q_emb_pca_scored row loads + projects
    * (the *_scored amortized-probe convention).
    */
  private def pcaEnsureModel(s: SparkSession, d: String): String =
    ensureModel(s, d, "pca16")(
      Pca.modelTable(s, Pca.pcaTrain(t(s, d, "embeddings"), "vec_id",
        "embedding", dim = 64, k = 16)))

  /** BPE tokenizer artifact = vocab + merges tables (two sinks, one
    * train): [[graft.operators.Bpe.readVocab]]'s own layout.
    */
  private def bpeEnsureModel(s: SparkSession, d: String): (String, String) = {
    val base = s"$modelTmpDir/${sfKey(d)}"
    val vp = s"$base/bpe_vocab"
    val mp = s"$base/bpe_merges"
    if (!graft.pipeline.Sinks.exists(s, vp) ||
        !graft.pipeline.Sinks.exists(s, mp)) {
      val vocab = Bpe.trainBpeModel(t(s, d, "documents"), "text", numMerges = 20)
      Bpe.vocabTable(s, vocab).write.mode("overwrite").parquet(vp)
      Bpe.mergesTable(s, vocab.merges).write.mode("overwrite").parquet(mp)
    }
    (vp, mp)
  }

  /** Byte-level BPE artifact (r12) — same layout, byte-trained. */
  private def byteBpeEnsureModel(s: SparkSession, d: String): (String, String) = {
    val base = s"$modelTmpDir/${sfKey(d)}"
    val vp = s"$base/bpe_bytes_vocab"
    val mp = s"$base/bpe_bytes_merges"
    if (!graft.pipeline.Sinks.exists(s, vp) ||
        !graft.pipeline.Sinks.exists(s, mp)) {
      val vocab = Bpe.trainByteBpeModel(t(s, d, "documents"), "text",
        numMerges = 20)
      Bpe.vocabTable(s, vocab).write.mode("overwrite").parquet(vp)
      Bpe.mergesTable(s, vocab.merges).write.mode("overwrite").parquet(mp)
    }
    (vp, mp)
  }

  // Bucketed-table fixtures for q_j7: written once per (session, sf-dir)
  // into a temp-dir database (never the working directory's warehouse).
  private lazy val bktTmpDir =
    java.nio.file.Files.createTempDirectory("graft-bkt").toString

  private def bktEnsure(s: SparkSession, d: String): (String, String) = {
    val sfName = sfKey(d).replaceAll("[^A-Za-z0-9_]", "_")
    val db = s"graft_bkt_$sfName"
    s.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$bktTmpDir/$db'")
    val (to, tc) = (s"$db.orders_bkt", s"$db.customer_bkt")
    if (!s.catalog.tableExists(to))
      graft.pipeline.Sinks.writeBucketed(t(s, d, "orders"), to, 16, Seq("o_custkey"))
    if (!s.catalog.tableExists(tc))
      graft.pipeline.Sinks.writeBucketed(t(s, d, "customer"), tc, 16, Seq("c_custkey"))
    (to, tc)
  }

  /** Run a streaming execution with the state-partition count sized to the
    * STREAM, not the batch shuffle width. A stateful streaming query opens
    * and commits state stores per partition per micro-batch (a stream-stream
    * join holds FOUR stores per partition) — that fixed machinery, not data,
    * dominated the local executions: 32 partitions cost ~5.5 s where 8 cost
    * ~2.3 s on the identical query. The partition count is pinned at the
    * query's FIRST run from this conf, so it wraps only `start()` +
    * `awaitTermination()`; batch queries (and the post-drain readback) keep
    * the session's width. At production rates this knob goes UP with
    * key-cardinality × rate — the point is that it is sized to the state,
    * not inherited.
    */
  private def withStreamStatePartitions[T](s: SparkSession, n: Int = 8)(f: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = s.conf.getOption(provKey)
    sys.env.get("SPARK_GRAFT_STATE_PROVIDER").foreach(p =>
      s.conf.set(provKey, p))
    try f finally {
      s.conf.set("spark.sql.shuffle.partitions", prev)
      if (sys.env.contains("SPARK_GRAFT_STATE_PROVIDER"))
        prevProv match {
          case Some(p) => s.conf.set(provKey, p)
          case None => s.conf.unset(provKey)
        }
    }
  }

  /** Quality-gate queries: full members of the correctness contract (Verify
    * runs them; the driver oracle-checks them), but excluded from Bench —
    * a gate re-derives exact ground truth (bounded cartesians, multi-query
    * brute force) every run, so its wall time measures truth construction,
    * not the engine.
    */
  val verifyOnlyQueries: Set[String] =
    Set("q_sim_recall_gate", "q_dedup_simhash_gate", "q_dedup_minhash_gate",
      "q_dedup_minhash_probe_gate", "q_dedup_embed_gate", "q_sim_quantize_gate",
      "q_dedup_decontam_bloom_gate",
      // Portable-oracle twins (r8): these replay the engine-private hash
      // pipelines in DuckDB-expressible arithmetic (md5-chunked signatures,
      // integer-exact dots) so the driver can hash-check the relational
      // shape. They measure DuckDB-replayability, not engine speed — the
      // production paths (xxhash64 natives) are benched separately — so they
      // stay in the correctness contract but out of the bench set, same
      // ruling as the quality gates above (VERDICT r7 §next-2).
      "q_dedup_minhash_portable", "q_dedup_simhash_portable",
      "q_sim_ann_portable", "q_sim_ivf_portable", "q_sim_pq_portable",
      "q_sim_ivfpq_portable", "q_sim_pq_gate",
      "q_dedup_semdedup_portable", "q_dedup_semdedup_gate",
      "q_text_bpe_gate",
      // r9 (VERDICT r8 §next-4): these two feed the O(n²) maxId-bounded
      // Jaccard pair generator — oracle-replayable truth construction, not
      // an engine shape — so timing them benched the truth generator (6.85 s,
      // the most expensive r8 row). They stay oracled here; the BENCHED
      // split-family row is q_cur_split_noleak_prod, which runs the
      // production LSH pair source end-to-end.
      "q_cur_split_leakage", "q_cur_split_by_cluster",
      // r10 (VERDICT r9 §next-1): the same ruling's last two violators.
      // Both feed ngramJaccardPairs(maxId=120) — the bounded cartesian
      // truth generator — so their wall time was half truth construction
      // (q_dedup_groups was the top r9 driver row at 5.1 s). They stay
      // hash-green here; the BENCHED components-on-production-edges shape
      // is q_cur_split_noleak_prod (LSH candidates → one shared components
      // pass) and q_dedup_keepbest (LSH candidates → survivor window).
      "q_dedup_ngram_jaccard", "q_dedup_groups",
      // r10: gate rows for the BPE id-sequence and pack-by-BPE surfaces —
      // exact-integer conservation checks (truth re-derivation, not engine
      // shapes), same ruling as q_text_bpe_gate.
      "q_text_bpe_ids_gate", "q_cur_pack_bpe_gate",
      // r12: the macro mean re-runs the benched q_ret_eval_metrics chain
      // and adds one metadata-scale agg — superset ruling.
      "q_ret_eval_macro",
      // r12: re-runs the benched q_web_links chain + one host agg —
      // superset ruling (pagerank is NOT a superset row: its cost is
      // the edge agg + 10 iterations, benched).
      "q_web_anchor_text",
      // r10: runWithAudit is already benched (q_pipeline_curate_audit);
      // this variant oracles the margin-classifier and tokenizer steps'
      // counts, and its per-stage prefix recompute re-trains NB/BPE
      // repeatedly — audit-tool cost, not a per-batch engine shape.
      "q_pipeline_tokenize_audit",
      // r10: q_text_nb_margin runs a strict SUPERSET of this query's
      // machinery (same train+score chain, plus the margin window), so
      // benching both just double-bills NB training; the argmax form
      // stays hash-green here (the portable-twin bench ruling).
      "q_text_nb_classify",
      // r10: q_cur_dsir_sample is the same superset relation over the
      // weights leg (both models + weights, plus the Gumbel top-k), so
      // only the sample form is benched; the weights stay hash-green here.
      "q_cur_dsir_weights",
      // r10: bills the same NB train+score chain as the benched
      // q_text_nb_margin; the Pareto-keep delta is a filter, not a new
      // engine shape — membership stays oracled here.
      "q_text_nb_pareto",
      // late r10: gate with planted-copy truth construction (the quality-
      // gate ruling); the production cross-corpus LSH probe shape is
      // already benched via q_dedup_minhash_candidates / the probe gate.
      "q_dedup_decontam_fuzzy_gate",
      // late r10: the hashed-text-vector gate (double-vectorizes the
      // corpus for the planted-copy invariant) and its md5 portable twin
      // — the standing quality-gate / portable-twin ruling.
      "q_text_hashvec_gate", "q_text_hashvec_portable",
      // late r10: the unigram gate (exact conservation re-derivation) and
      // seed twin (the seeding stage is already billed inside the benched
      // q_text_unigram_ids' own training) — the standing rulings.
      "q_text_unigram_gate", "q_text_unigram_seed_portable",
      // late r10: q_text_ppl_buckets runs a strict superset of this
      // query's machinery (same LM train+score chain, plus cutoffs and
      // assignment) — the NB classify->margin bench-dedup ruling; the
      // perplexity values stay hash-green here.
      "q_text_lm_perplexity",
      // late r10: planted-copy truth-construction degeneracy (the
      // decontam-fuzzy-gate ruling): every fixture image/clip in a
      // pattern class shares one hash, so the banded self-join emits
      // ~(class size)^2 pairs — 13.3/8.7 s at sf0.1 timing the planted
      // density, not an engine shape. The banding core stays benched via
      // q_dedup_simhash_neardup, the codecs via the other q_mm rows;
      // both stay hash-green here.
      "q_mm_phash_groups", "q_mm_audiohash_groups",
      // r15: the dHash / DCT-hash group rows share the identical fixture
      // pair-blowup shape (every image in a class hashes identically, so
      // banded candidates are ~(class size)^2) — same ruling; the benched
      // image rows stay the codec decodes.
      "q_mm_dhash_groups", "q_mm_dcthash_groups",
      // r11 (VERDICT r10 §next-2): every text-model family now benches its
      // amortized `*_scored` probe row — load the persisted model table,
      // score/encode — which is the production steady state; the
      // train-per-run forms below stay hash-green (or gate-pinned) here
      // but no longer bill model TRAINING to every benched run. The
      // one-shot training cost is still benched once per family via the
      // model-write precedent (q_sim_ivf_index_write) where it was
      // already separate; for these families it lands in the probe row's
      // untimed warm-up.
      "q_text_nb_margin", "q_text_langid_ct", "q_text_bpe_ids",
      "q_text_bpe_encode", "q_text_unigram_ids", "q_cur_pack_bpe",
      "q_cur_dsir_sample",
      // r11: the WordPiece family follows the same policy from day one —
      // the benched row is the loaded-vocab probe; the train form and
      // the exact-invariant gate stay in the correctness contract only.
      "q_text_wordpiece_ids", "q_text_wordpiece_gate",
      // r11: measured gate for the (JDK-side, non-replayable) deflate
      // compression-ratio signal — the standing quality-gate ruling.
      "q_text_compress_gate",
      // r12 (VERDICT r11 §next-3): the amortized-probe ruling applied to
      // the vector families — these two train codebooks per run while the
      // persisted-books probes (q_sim_pq_indexed / q_sim_ivf_indexed) are
      // already benched and cover the steady state. No benched row trains
      // a codebook; both stay hash-green (portable twins + recall gates).
      "q_sim_pq_topk", "q_sim_ivfpq_topk",
      // r13: the OPQ rotation gate trains PCA + codebooks per run
      // (quality-gate ruling).
      "q_sim_opq_gate",
      // r14: the OPQ append gate trains rotation + books per run (the
      // q_sim_pq_append ruling); the benched OPQ row is the persisted
      // probe q_sim_opq_indexed.
      "q_sim_opq_append",
      // r12: the byte-BPE conservation gate trains per run (quality-gate
      // ruling); the benched row is the loaded-vocab probe
      // q_text_bpe_bytes_scored.
      "q_text_bpe_bytes_gate",
      // r13: the framing gate re-runs all four encoders + the pack replay
      // (quality-gate ruling); the framed-ids row re-bills the benched
      // encode plus map-side framing (superset ruling).
      "q_text_specials_gate", "q_text_bpe_ids_framed",
      // r14: the pack-spans gate re-encodes the corpus, re-materializes
      // the packs, and re-derives every invariant (quality-gate ruling);
      // the benched pack-materialization row is q_cur_pack_spans.
      "q_cur_pack_spans_gate",
      // r12: the fineweb audit's per-stage prefix recompute re-runs the
      // eager MinHash/components stages repeatedly (the tokenize_audit
      // ruling); the recipe row itself stays benched.
      "q_pipeline_fineweb_audit",
      // r12 (VERDICT r11 §next-8): the amortized-probe ruling applied to
      // the last train-per-run bench row — q_dedup_semantic_text
      // re-vectorizes the corpus and re-trains cells every run (4.9 s
      // local, the top bench row); the benched steady state is now
      // q_dedup_semantic_indexed (persisted assignments → pair stage +
      // components only), whose survivor set the oracled idx gate pins
      // equal to this form's. The gate itself runs both sides, so it is
      // verify-only too (the quality-gate ruling).
      "q_dedup_semantic_text", "q_dedup_semantic_idx_gate",
      // r12: the composed WARC→text chain re-bills q_warc_records'
      // parse under the bench's count action while its extraction
      // projection prunes away — the superset ruling; both stay
      // hash-green. The gz gate is a codec round trip (quality-gate
      // ruling).
      "q_warc_to_text", "q_warc_gz_gate",
      // r12: stateless streaming twin of the benched parse — see its
      // registration comment.
      "q_stream_warc_ingest",
      // r12: same ruling, link-side — stateless streaming map work over
      // the already-benched extraction chain.
      "q_stream_web_links",
      // r13: the stream-append gate is a write-then-read equality check
      // re-running that same extraction twice (quality-gate ruling).
      "q_stream_web_append_gate",
      // r12: the crawl-frontier showcase recomputes the benched robots
      // evaluation AND the benched PageRank chain — superset ruling.
      // r13: the delay-aware scheduler row recomputes the benched robots
      // evaluation too (same ruling); its novelty is window arithmetic.
      // The budget row recomputes the benched indexed PageRank; the
      // sitemap frontier recomputes the benched sitemap parse + robots
      // evaluation.
      "q_web_frontier", "q_web_frontier_sched", "q_web_crawl_budget",
      "q_web_frontier_sitemap", "q_web_recrawl",
      // r15: the registrant-budget composition recomputes the benched
      // indexed PageRank (same ruling); its novelty is the PSL-group →
      // apportion splice, pinned in the hash.
      "q_web_budget_registrant",
      // r14: the unified crawl plan recomputes the benched indexed
      // PageRank plus the sitemap/robots parses (same ruling); its
      // novelty is the due→quota→slot composition.
      "q_web_crawl_plan",
      // r12: BM25 index-maintenance gate builds its index per run (the
      // q_sim_pq_append ruling); the benched retrieval rows are the
      // scratch search and the persisted-index probe.
      "q_text_bm25_append_gate",
      // r14: the three compaction gates build + append + compact their
      // index per run (the append-gate ruling); compaction itself is
      // pure maintenance layout work, probe-equal by construction.
      "q_text_bm25_compact_gate", "q_web_pagerank_compacted",
      "q_dedup_substring_compact_gate",
      // r14: the incremental JDBC write re-bootstraps its Derby target
      // per run (append-gate ruling); the benched JDBC row is the
      // roundtrip cycle, the O(changes) scaling lives in MergeBench.
      "q_pipeline_jdbc_incremental",
      // r14: the streaming-CDC gate re-bootstraps its Derby target and
      // streams the whole source per run (same ruling).
      "q_stream_jdbc_cdc_gate",
      // r12: full-rank PCA gate trains per run and re-derives exact
      // ground truth (quality-gate ruling); the benched PCA row is the
      // persisted-model probe q_emb_pca_scored. The planted-low-rank
      // ANN recall gate is the same ruling (bounded cartesian truth).
      "q_emb_pca_gate", "q_emb_pca_ann_gate",
      // r15: the sketch-index gate re-runs the benched q_prof_hll_indexed
      // chain and adds the exact-distinct truth pass (superset ruling —
      // the benched row is the estimate-only path, the index's reason to
      // exist).
      "q_prof_hll_gate",
      // r16: the warm-start maintenance gate converges the same graph
      // three times per run (maintenance-gate ruling); the benched
      // reconvergence measurement lives in MergeBench.
      "q_web_pagerank_warm_gate",
      // r16 (the bench-budget policy's first application, BENCH_NOTES):
      // both multilingual-extraction gates run THREE counterfactual
      // extraction arms per page (lang/ascii/en, routed/plain/en) —
      // gate construction, not an engine shape; the benched extraction
      // rows remain q_text_html_blocks / q_text_html_extract, whose
      // chain is the production cost.
      "q_text_html_extract_lang", "q_text_html_extract_script",
      // r16 policy application, amortized-probe ruling (the r11/r12
      // precedent applied to the last three scratch forms still
      // benched): each re-derives per run what its benched steady-state
      // twin loads — the brute margin miner (indexed twin
      // q_ret_margin_mine_indexed, spec-pinned bit-identical at full
      // probe recall), the scratch BM25 search (persisted-index twin
      // q_text_bm25_probe), and the scratch PageRank whose extraction
      // chain is benched via q_web_links and whose iteration cost via
      // q_web_pagerank_indexed/_dist. All three stay hash-green here.
      "q_ret_margin_mine", "q_text_bm25_search", "q_web_pagerank",
      // late r16: builds + appends + compacts its CMS index per run
      // (the append-gate ruling); the benched CMS row is q_skew_cms_hot.
      "q_skew_cms_indexed",
      // late r16: re-runs the benched q_text_html_blocks chain plus
      // metadata-scale windows (superset ruling).
      "q_text_justext_smooth",
      // late r16: bounded-cartesian truth generator + index-per-run
      // (the q_dedup_groups ruling applied to the incremental twin).
      "q_dedup_groups_indexed",
      // r17: the streaming CMS replay gate re-streams its whole source
      // and builds its index per run (append-gate ruling); the benched
      // CMS row stays q_skew_cms_hot.
      "q_stream_cms_replay_gate",
      // r17: the retrain gates train repeatedly per run (quality-gate
      // ruling); the benched rows are the index writes and probes.
      "q_sim_ivf_retrain_gate", "q_sim_pq_retrain_gate",
      // r17: fixture constructor + map-only charset natives (quality-
      // gate ruling); the decode rides every real ingest recipe.
      "q_warc_charset",
      // late r17: index-per-run maintenance gates (append-gate ruling);
      // the benched near-dup rows stay the candidates/probe pairs.
      "q_dedup_minhash_append_gate", "q_dedup_simhash_append_gate",
      // late r17: delete-lifecycle gates (index-per-run; the takedown
      // verbs ride the probes the benched rows already price).
      "q_dedup_minhash_delete_gate", "q_text_bm25_delete_gate")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- filters / predicates -------------------------------------------
    "q_f1_eq_filter" -> ((s, d) =>
      t(s, d, "lineitem").filter(Filters.eq("l_returnflag", "R"))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber")),
    "q_f2_excl_keepnull" -> ((s, d) =>
      t(s, d, "events").filter(Filters.neqKeepNull("event_type", "click"))
        .select("event_id", "event_type").orderBy("event_id")),
    "q_f3_conj_dates" -> ((s, d) =>
      t(s, d, "lineitem").filter(Filters.all(Seq(
          Filters.eq("l_returnflag", "A"),
          year(col("l_shipdate")) >= 1995,
          col("l_discount") > 0.05)))
        .select("l_orderkey", "l_linenumber", "l_shipdate")
        .orderBy("l_orderkey", "l_linenumber")),
    "q_f4_semijoin" -> ((s, d) =>
      Filters.semiJoinIn(
          t(s, d, "lineitem"), "l_orderkey",
          t(s, d, "orders").filter(Filters.eq("o_orderstatus", "O")), "o_orderkey")
        .select("l_orderkey", "l_linenumber").orderBy("l_orderkey", "l_linenumber")),
    "q_f9_nonempty" -> ((s, d) =>
      t(s, d, "documents").filter(Filters.nonEmpty("text"))
        .groupBy("source").agg(count(lit(1)).as("n")).orderBy("source")),
    // ---- joins ----------------------------------------------------------
    "q_j4_inner_join_agg" -> ((s, d) =>
      t(s, d, "orders").join(t(s, d, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), moneySum("o_totalprice"))
        .orderBy("c_mktsegment")),
    "q_j5_left_outer_agg" -> ((s, d) =>
      t(s, d, "customer").join(t(s, d, "orders"),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"),
          coalesce(Money.sum(col("o_totalprice")), lit(0).cast("decimal(18,4)"))
            .cast("double").as("sum_o_totalprice"))
        .orderBy("c_custkey")),
    "q_j6_align_diff" -> ((s, d) => {
      val li = Reconcile.monthlyAgg(t(s, d, "lineitem"), "l_shipdate", Nil)
      val or = Reconcile.monthlyAgg(t(s, d, "orders"), "o_orderdate", Nil)
      Reconcile.alignDiff(li, or, "month", "n_rows").orderBy("month")
    }),
    // Bucketed co-located join, gate-checked: both sides pre-shuffled at
    // write time (Sinks.writeBucketed), so the sort-merge join itself
    // plans with NO Exchange — the 100 TB recipe for repeatedly-joined
    // fact tables. The query MEASURES that property from the executed
    // plan and emits it as a boolean the oracle pins true; the aggregate
    // values are matched against a plain relational join.
    "q_j7_bucketed_join" -> ((s, d) => {
      val (to, tc) = bktEnsure(s, d)
      val j = s.table(to).hint("merge")
        .join(s.table(tc).hint("merge"), col("o_custkey") === col("c_custkey"))
      val plan = j.queryExecution.executedPlan.toString
      j.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          Money.sum(col("o_totalprice"))
            .cast("double").as("sum_price"))
        .withColumn("bucketed_no_exchange_ok", lit(!plan.contains("Exchange")))
        .orderBy("c_mktsegment")
    }),
    // As-of join (J8): every event labeled with the latest purchase
    // snapshot at or before its timestamp, per user — union+running-window
    // shape (one shuffle per side, no theta-join blowup); value-matched
    // against DuckDB's native ASOF LEFT JOIN. Right side deduped to one
    // row per (user, ts) first (the operator's uniqueness contract).
    "q_j8_asof_join" -> ((s, d) => {
      val ev = t(s, d, "events")
      val snaps = Dedup.latestPerKeyOrdered(
          ev.filter(col("event_type") === "purchase"),
          Seq("user_id", "ts"), Seq(col("event_id").desc))
        .select(col("user_id"), col("ts"),
          col("event_id").as("snap_id"), col("value").as("snap_value"))
      AsofJoin.asofJoin(ev, snaps, Seq("user_id"), "ts", "ts",
          Seq("snap_id", "snap_value"))
        .select("event_id", "user_id", "ts", "asof_snap_id", "asof_snap_value")
        .orderBy("event_id")
    }),
    // Interval join (J9): every event matched to the session whose
    // [start, end] contains its timestamp — the bucketized containment
    // join (equi on (user, day-bucket) + exact filter), value-matched
    // against DuckDB's BETWEEN theta join over the same sessionization.
    "q_j9_interval_join" -> ((s, d) => {
      val ev = t(s, d, "events")
      val sess = Sessionize.sessions(ev, "user_id", "ts", "event_id",
          gapSeconds = 86400)
        .select(col("user_id"), col("session_id"),
          col("session_start"), col("session_end"))
      RangeJoin.intervalJoin(ev.select("event_id", "user_id", "ts"), sess,
          Seq("user_id"), "ts", "session_start", "session_end",
          bucketWidth = 86400, maxBucketsPerInterval = 1 << 16)
        .select("event_id", "user_id", "session_id").orderBy("event_id")
    }),
    // ---- aggregations ---------------------------------------------------
    "q_a1_monthly_agg" -> ((s, d) =>
      Reconcile.monthlyAgg(t(s, d, "lineitem"), "l_shipdate",
        Seq("l_extendedprice", "l_discount")).orderBy("month")),
    "q_a2_month_state" -> ((s, d) =>
      Aggregates.monthStateCounts(t(s, d, "lineitem"), "l_shipdate", "l_returnflag")
        .orderBy("month", "state")),
    "q_a2_pivot_wide" -> ((s, d) =>
      Aggregates.monthStatePivot(t(s, d, "lineitem"), "l_shipdate", "l_returnflag",
        Seq("A", "N", "R")).orderBy("month")),
    "q_a2_rollup" -> ((s, d) =>
      Aggregates.monthStateRollup(t(s, d, "lineitem"), "l_shipdate",
        "l_returnflag", "l_extendedprice").orderBy("month", "state")),
    // Salted two-phase aggregate must equal the plain GROUP BY — the skew
    // control is internal, so DuckDB oracles the same plain aggregation.
    "q_skew_salted_agg" -> ((s, d) =>
      Skew.saltedCountSum(t(s, d, "lineitem"), Seq("l_returnflag"),
        Seq("l_quantity"), salt = 8).orderBy("l_returnflag")),
    // Hot/cold split join: threshold 600 puts roughly half the suppliers
    // (median ~599 lines at both SFs) on the broadcast-hot path and half
    // on the shuffle-cold path, so BOTH branches and the union are
    // exercised; the oracle is the plain join — result equality IS the
    // operator's contract.
    "q_skew_hotcold_join" -> ((s, d) =>
      Skew.hotColdJoin(t(s, d, "lineitem"),
          t(s, d, "supplier").withColumnRenamed("s_suppkey", "l_suppkey"),
          Seq("l_suppkey"), hotThreshold = 600)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_lines"), moneySum("l_quantity"))
        .orderBy("s_nationkey")),
    // Count-Min hot-key probe (r15): the skew diagnostic WITHOUT the
    // per-key shuffle — one CMS pass over the fact table (map-side
    // partial merges of fixed-size tables), then the dimension keys
    // probed against the sketch driver-side. CMS never undercounts and
    // at these candidate cardinalities the fixed-seed estimates land
    // EXACT (collision across every depth row is the only error source)
    // — the oracle replays the true left-join group counts, so estimate
    // == exact is the hash match itself.
    "q_skew_cms_hot" -> ((s, d) =>
      graft.operators.Skew.hotKeyEstimates(
          t(s, d, "lineitem"), "l_suppkey",
          t(s, d, "supplier"), "s_suppkey")
        .orderBy(col("est_count").desc, col("key").asc)
        .limit(20)),
    // Persisted CMS frequency index (late r16): the incremental form of
    // the probe above — per-batch sketch rows (even/odd orderkey split),
    // estimates from the stored sketches alone. CMS is LINEAR, so the
    // merged batches ARE the one-shot sketch, and at these candidate
    // cardinalities the fixed-seed estimates land EXACT — the oracle
    // replays the true per-supplier counts over the FULL fact table.
    // Verify-only (builds its index per run — the append-gate ruling);
    // the benched CMS row stays q_skew_cms_hot. r17: the append runs
    // TAGGED and is re-delivered before AND after compaction (the
    // marker survives the staged swap) — CMS is additive, so any
    // double-append inflates the exact-oracled estimates and breaks
    // this hash.
    "q_skew_cms_indexed" -> ((s, d) => {
      val path = tempDirCleaned("graft-cmsidx")
      val li = t(s, d, "lineitem")
      val batch2 = li.filter(col("l_orderkey") % 2 =!= 0)
        .select(col("l_suppkey"))
      graft.operators.Skew.cmsWriteIndex(
        li.filter(col("l_orderkey") % 2 === 0), "l_suppkey", path)
      graft.operators.Skew.cmsAppendIndex(batch2, path, Some("1"))
      graft.operators.Skew.cmsAppendIndex(batch2, path, Some("1")) // replay
      graft.operators.Skew.cmsCompactIndex(s, path)
      graft.operators.Skew.cmsAppendIndex(batch2, path, Some("1")) // post-compact replay
      graft.operators.Skew.cmsEstimateIndex(s, path,
          t(s, d, "supplier"), "s_suppkey")
        .orderBy(col("est_count").desc, col("key").asc)
        .limit(20)
    }),
    "q_a3_value_counts" -> ((s, d) =>
      Aggregates.valueCounts(t(s, d, "events"), col("event_type")).orderBy("value")),
    // One-pass table profile (the count-verify QA step generalized to
    // per-column stats). The double column is excluded from the ORACLED
    // set (Java and DuckDB render floats differently); approx_distinct is
    // engine-private HLL, so the driver row projects the exact columns.
    "q_profile_orders" -> ((s, d) =>
      graft.operators.Profile.profileTable(t(s, d, "orders"),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate",
            "o_orderpriority"))
        .select("col_name", "n_rows", "n_nulls", "n_distinct", "min_value",
          "max_value")
        .orderBy("col_name")),
    // Persisted mergeable-sketch distinct-count index (r15): the
    // INCREMENTAL form of the profile above — per-batch DataSketches HLL
    // rows, estimates from the stored sketches alone (zero corpus
    // rescans; the 100 TB "how many distinct URLs ever" path). Rows-only:
    // the estimate is engine-private sketch arithmetic; pinned by
    // q_prof_hll_gate, which oracles the exact counts and bounds the
    // estimates.
    "q_prof_hll_indexed" -> ((s, d) =>
      hllIndexEstimate(s, d).orderBy("col_name")),
    // KLL quantile profile (r15): corpus length distribution through the
    // mergeable quantile sketch — one sketch pass, no sort, every rank
    // read from the same k-bounded value. Fully ORACLED: below k the
    // sketch retains every item, so INCLUSIVE getQuantile(q) is the true
    // order statistic at position ceil(q·n), which DuckDB replays with
    // row_number.
    // Exact-regime contract (ADVICE r15): the oracle replays TRUE order
    // statistics, which holds only while n <= k — so k is DERIVED from
    // the corpus (exact through KLL's 65535 ceiling, i.e. to ~sf1) and a
    // scale bump past the ceiling fails with this message instead of an
    // opaque hash mismatch. The count is one column-pruned agg over a
    // 5k-row table — noise next to the sketch pass it guards.
    "q_prof_kll_quantiles" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val n = docs.count()
      require(n <= 65535,
        s"q_prof_kll_quantiles: corpus n=$n exceeds KLL's max k=65535 — " +
          "the sketch would leave its exact regime and the DuckDB " +
          "order-statistic oracle would hash-mismatch. Re-scope the row " +
          "(profile a bounded slice, or demote to a bounded-error gate) " +
          "before raising the scale factor")
      graft.operators.Profile.quantileProfile(
          docs, "n_chars",
          Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99),
          k = math.max(8L, n).toInt)
        .orderBy("q")
    }),
    // Theta-sketch overlap report (r15): the distinct-set question HLL
    // cannot answer — |A∩B| / |A\B| across two crawl snapshots — via the
    // custom ThetaSketchAgg (one sketch pass per side, no data-row
    // shuffle). Fully ORACLED: below 2^lgK the theta sketch holds raw
    // hashes, so every estimate is exact and DuckDB's true set algebra
    // IS the expected output.
    // Exact-regime contract (ADVICE r15): exact set algebra holds only
    // while each sketch's distincts stay under 2^lgK, so lgK is DERIVED
    // from the row-count bound on distincts (exact through theta's
    // lgK=21 ceiling ≈ 2M, i.e. well past sf1) and a bump beyond that
    // fails with this message instead of an opaque hash mismatch.
    "q_prof_theta_overlap" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val a = docs.select(col("doc_id"))
      val b = docs.filter(col("doc_id") % 3 === 0).select(col("doc_id"))
        .unionByName(docs.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id")))
      // |a|+|b| bounds every sketch in the algebra, UNION included
      val bound = a.count() + b.count()
      val lgK = math.max(14,
        64 - java.lang.Long.numberOfLeadingZeros(bound) + 1)
      require(lgK <= 21,
        s"q_prof_theta_overlap: distinct bound $bound needs lgK=$lgK > " +
          "theta's 21 ceiling — the sketches would leave their raw-hash " +
          "exact regime and the DuckDB set-algebra oracle would " +
          "hash-mismatch. Re-scope the row before raising the scale factor")
      graft.operators.Profile.distinctOverlap(a, "doc_id", b, "doc_id", lgK)
    }),
    // Gate (verify-only): truth side = exact per-column non-NULL counts
    // and distincts of the SAME base+batch union, replayed in DuckDB;
    // engine side = the index's n_values tally (must land exactly) and
    // the bounded-error estimate booleans (equality in the low-
    // cardinality coupon-exact regime — lang/source — and <=1% for
    // doc_id, whose ~6k distincts sit past the exact regime's edge).
    "q_prof_hll_gate" -> ((s, d) => {
      val est = hllIndexEstimate(s, d)
      val u = hllProfileBase(s, d).unionByName(hllProfileBatch(s, d))
      val exact = u.agg(
          count(col("doc_id")).as("__n_doc_id"),
          countDistinct(col("doc_id")).as("__d_doc_id"),
          count(col("lang")).as("__n_lang"),
          countDistinct(col("lang")).as("__d_lang"),
          count(col("source")).as("__n_source"),
          countDistinct(col("source")).as("__d_source"))
        .select(explode(array(Seq("doc_id", "lang", "source").map(c => struct(
          lit(c).as("col_name"),
          col(s"__n_$c").as("n_values_exact"),
          col(s"__d_$c").as("n_distinct_exact"))): _*)).as("__p"))
        .select(col("__p.*"))
      est.join(exact, "col_name")
        .select(col("col_name"),
          col("n_values").cast("long").as("n_values"),
          col("n_distinct_exact"),
          when(col("col_name") === "doc_id",
              abs(col("n_distinct_est") - col("n_distinct_exact")) * 100
                <= col("n_distinct_exact"))
            .otherwise(col("n_distinct_est") === col("n_distinct_exact"))
            .as("est_ok"))
        .orderBy("col_name")
    }),
    "q_a4_global_sums" -> ((s, d) =>
      Aggregates.globalSums(t(s, d, "lineitem"), "l_extendedprice", "l_tax")
        .select(col("total_charged").cast("double").as("total_charged"),
          col("total_paid").cast("double").as("total_paid"),
          col("n_rows"), col("total_debt").cast("double").as("total_debt"))),
    "q_a5_a6_date_profile" -> ((s, d) =>
      Aggregates.dateProfile(t(s, d, "lineitem"), "l_shipdate")),
    "q_a7_distinct_proj" -> ((s, d) =>
      t(s, d, "lineitem").select("l_returnflag", "l_linestatus").distinct()
        .orderBy("l_returnflag", "l_linestatus")),
    "q_a8_global_count" -> ((s, d) =>
      t(s, d, "lineitem").agg(count(lit(1)).as("n"))),
    // ---- sorts / limits / top-k -----------------------------------------
    "q_o1_sort_limit" -> ((s, d) =>
      t(s, d, "events").select("event_id", "ts")
        .orderBy(col("ts").asc, col("event_id").asc).limit(100)),
    "q_o3_topk_days" -> ((s, d) =>
      Reconcile.topKByCount(
        t(s, d, "lineitem").filter(col("l_shipdate").isNotNull),
        to_date(col("l_shipdate")), 5)),
    "q_o4_last12_months" -> ((s, d) =>
      Aggregates.lastKMonths(
        Reconcile.monthlyAgg(t(s, d, "lineitem"), "l_shipdate", Seq("l_extendedprice")),
        "month", 12)),
    // ---- set ops --------------------------------------------------------
    "q_e1_orphan_keys" -> ((s, d) =>
      Reconcile.orphanKeys(t(s, d, "customer"), "c_custkey",
        t(s, d, "orders"), "o_custkey").orderBy("c_custkey")),
    // E1 both directions in one report, like the reference's paired orphan
    // lists — events×customer so BOTH sides contribute orphans.
    "q_e1_orphans_both" -> ((s, d) =>
      Reconcile.orphanKeysBoth(
        t(s, d, "events").select(col("user_id")), "user_id",
        t(s, d, "customer"), "c_custkey").orderBy("direction", "key")),
    "q_e3_intersect_keys" -> ((s, d) =>
      Aggregates.intersectKeys(
        t(s, d, "events").select(col("user_id")),
        t(s, d, "customer").select(col("c_custkey").as("user_id")),
        "user_id").orderBy("user_id")),
    // ---- scalar functions -----------------------------------------------
    "q_c1_date_parse" -> ((s, d) =>
      t(s, d, "lineitem")
        .withColumn("s", date_format(col("l_shipdate"), "MM/dd/yyyy HH:mm:ss"))
        .select(col("l_orderkey"), col("l_linenumber"),
          Normalize.parseTimestampMulti(col("s"),
            Seq("yyyy-MM-dd HH:mm:ss", "MM/dd/yyyy HH:mm:ss"))
            .cast("timestamp_ntz").as("parsed"))
        .orderBy("l_orderkey", "l_linenumber")),
    "q_c4_row_hash" -> ((s, d) =>
      RowHash.withRowHash(
          t(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
            col("l_returnflag"), col("l_linestatus"),
            date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_day")))
        .select("l_orderkey", "l_linenumber", "row_hash")
        .orderBy("l_orderkey", "l_linenumber")),
    "q_c5_norm_key" -> ((s, d) =>
      t(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          Normalize.normalizeKey(col("l_quantity").cast("string")).as("norm_qty"),
          Normalize.normalizeKey(col("l_returnflag")).as("norm_flag"))
        .orderBy("l_orderkey", "l_linenumber")),
    "q_c7_c8_money_parse" -> ((s, d) =>
      t(s, d, "events").select(col("event_id"),
          Normalize.moneyOrZero(regexp_extract(col("props"), "\"k\": (\\d+)", 1))
            .as("k_val"))
        .orderBy("event_id")),
    "q_c_json_extract" -> ((s, d) =>
      t(s, d, "events").select(col("event_id"),
          from_json(col("props"), lit("k INT")).getField("k").as("k"))
        .orderBy("event_id")),
    // ---- CDC merge (J2/J3/A9/A10) ---------------------------------------
    "q_merge_classify_rows" -> ((s, d) =>
      Merge.classify(t(s, d, "orders"), mergeTargetState(s, d), Seq("o_orderkey"))
        .select(col("o_orderkey"), col(Merge.ActionCol))
        .orderBy("o_orderkey")),
    "q_merge_classify_tally" -> ((s, d) =>
      Merge.outcomeTally(
          Merge.classify(t(s, d, "orders"), mergeTargetState(s, d), Seq("o_orderkey")))
        .orderBy(Merge.ActionCol)),
    // SCD2 history merge over the same synthetic target (%7 keys missing →
    // insert, %5 price drift → update): changed keys get a closed 2025
    // version + an open 2026 one. row_hash is engine-private, so the
    // oracle projection carries key/price/validity only.
    "q_merge_scd2" -> ((s, d) => {
      val hist = mergeTargetState(s, d)
        .withColumn("valid_from", to_timestamp(lit("2025-01-01 00:00:00")))
        .withColumn("valid_to", lit(null).cast("timestamp"))
      Merge.scd2Apply(t(s, d, "orders"), hist, Seq("o_orderkey"), mergeNow)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("valid_from"), col("valid_to"),
          col("valid_to").isNull.as("is_current"))
        .orderBy("o_orderkey", "valid_from")
    }),
    // Point-in-time read of the scd2 history at an instant BEFORE the
    // merge: every pre-existing key resolves to its (now closed) 2025
    // version at its pre-merge price; keys first inserted by the merge
    // (%7) don't exist yet. One row per key by interval disjointness.
    "q_merge_scd2_asof" -> ((s, d) => {
      val hist = mergeTargetState(s, d)
        .withColumn("valid_from", to_timestamp(lit("2025-01-01 00:00:00")))
        .withColumn("valid_to", lit(null).cast("timestamp"))
      val merged = Merge.scd2Apply(t(s, d, "orders"), hist,
        Seq("o_orderkey"), mergeNow)
      Merge.scd2AsOf(merged, to_timestamp(lit("2025-06-01 00:00:00")))
        .select(col("o_orderkey"), col("o_totalprice"),
          col("valid_from"), col("valid_to"))
        .orderBy("o_orderkey")
    }),
    "q_merge_apply_stats" -> ((s, d) => {
      val merged = Merge.apply(t(s, d, "orders"), mergeTargetAudited(s, d),
        Seq("o_orderkey"), mergeNow)
      merged.agg(count(lit(1)).as("n_rows"),
        countDistinct(col("o_orderkey")).as("n_keys"),
        max(col("id")).as("max_id"), moneySum("o_totalprice"))
    }),
    "q_a10_dup_null_audit" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      Merge.duplicateKeyAudit(li, Seq("l_orderkey")).orderBy("l_orderkey")
    }),
    // ---- window (W1) ----------------------------------------------------
    "q_w1_latest_per_key" -> ((s, d) =>
      Dedup.latestPerKeyOrdered(t(s, d, "events"), Seq("user_id"),
          Seq(col("ts").desc, col("event_id").desc))
        .select("user_id", "event_id", "event_type").orderBy("user_id")),
    "q_w2_sessionize" -> ((s, d) =>
      Sessionize.sessions(t(s, d, "events"), "user_id", "ts", "event_id",
          gapSeconds = 86400)
        .orderBy("user_id", "session_id")),
    // ---- pipeline end-to-end (S1/F-chain/C12/C13) -----------------------
    // orders, not lineitem: the synthetic lineitem has duplicate
    // (l_orderkey, l_linenumber) pairs, so it is a full-refresh-only table
    // (the reference's PlaCobranzas case); orders has a unique natural key.
    "q_pipeline_full_load" -> ((s, d) =>
      Runner.loadTable(s, d, TableSpec("orders",
          keys = Seq("o_orderkey"),
          filters = Seq(Filters.neqKeepNull("o_orderstatus", "F"))))
        .select("id", "o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("id")),
    // JSONL egress -> ingest round trip: write the documents table as
    // gzip JSON Lines (the LLM-corpus interchange format), scan it back
    // schema-enforced, and aggregate — values must equal the parquet
    // truth exactly, with zero corrupt records. Proves the interchange
    // path preserves every document and character.
    "q_pipeline_jsonl_roundtrip" -> ((s, d) => {
      val path = s"$jsonlTmpDir/${sfKey(d)}/documents"
      Sinks.writeJsonl(t(s, d, "documents"), path)
      Sinks.jsonlScan(s, path,
          "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"),
          sum(length(col("text")).cast("bigint")).as("sum_text_len"),
          count(col("_corrupt_record")).as("n_corrupt"))
        .orderBy("lang")
    }),
    // ORC round trip (r10): documents → ORC (zstd) → scan → aggregate;
    // values must equal the parquet truth exactly — the format carries
    // the data, never changes it. The read side filters on lang so the
    // scan exercises ORC predicate pushdown (pinned in SinksSpec).
    "q_pipeline_orc_roundtrip" -> ((s, d) => {
      val path = s"$jsonlTmpDir/${sfKey(d)}/documents_orc"
      Sinks.writeOrc(t(s, d, "documents"), path)
      Sinks.orcScan(s, path)
        .filter(col("lang") =!= "zz")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"),
          sum(length(col("text")).cast("bigint")).as("sum_text_len"))
        .orderBy("lang")
    }),
    // Small-file compaction round trip: scatter the documents table
    // across 16 per-batch partition dirs (the streaming ingest's
    // accretion pattern), run Sinks.compact — which collapses the
    // bookkeeping partitions into the reserved __ingest_batch=-1 and
    // rewrites toward the target file size — and aggregate what comes
    // back. Values must equal the parquet truth exactly: compaction is
    // pure layout, never data. (Probe-stability across compaction is
    // additionally pinned in StreamingSpec's compact test.)
    "q_pipeline_compact_roundtrip" -> ((s, d) => {
      val path = s"$compactTmpDir/${sfKey(d)}/docs"
      Sinks.drop(s, path) // idempotent across verify+bench in one process
      t(s, d, "documents")
        .withColumn("__ingest_batch", col("doc_id") % 16)
        .write.partitionBy("__ingest_batch").parquet(path)
      Sinks.compact(s, path)
      s.read.parquet(path)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("doc_id")).as("n_ids"),
          sum("n_chars").as("sum_chars"),
          sum(length(col("text")).cast("bigint")).as("sum_text_len"),
          max(col("__ingest_batch")).as("batch_tag"))
        .orderBy("lang")
    }),
    // Genuine JDBC round trip (r14, VERDICT r13 §next-1): the full CDC
    // cycle against a REAL database — the reference's actual I/O surface
    // (MySQL, sync_ALL.py:259-320 / sync_INCREMENTAL.py:226-268), stood
    // in by embedded Derby. Bootstrap-load the synthetic target via
    // jdbcWrite (truncate overwrite, batchsize 1000), merge orders into
    // it reading the target state over JDBC, swap the result in with the
    // staged RENAME protocol, then read it back over JDBC and aggregate:
    // values must equal the parquet truth (the target converges to
    // orders — its keys are a subset of the source's), the audit
    // timestamps must classify kept/updated/inserted rows exactly, and a
    // post-merge classify against jdbcTargetState (the pruned remote
    // SELECT) must be all-skip (idempotence through the database).
    "q_pipeline_jdbc_roundtrip" -> ((s, d) => {
      val url = derbyUrl(d)
      val props = derbyProps
      // Inferred sink DDL (the reference's CREATE TABLE with typed
      // columns, sync_ALL.py:99-126): VARCHAR, not Derby's CLOB default —
      // CLOB halves insert throughput and loses comparability.
      Sinks.jdbcWrite(mergeTargetAudited(s, d), url,
        "ORDERS_TGT", props, columnTypes = Some(jdbcOrdersDdl))
      // Range-parallel remote reads (8 concurrent cursors on the dense id)
      // — the cluster-side scan form; Merge.apply's plan reads the target
      // three times (kept/updated join, insert anti-join, max-id scalar),
      // so cursor parallelism is the knob that matters here. Loose upper
      // bound is fine: stride partitioning sends out-of-range rows to the
      // edge partitions.
      def tgtScan = Sinks.jdbcScan(s, url, "ORDERS_TGT", props,
        partitionColumn = Some("id"), lowerBound = 1L,
        upperBound = 1000000L, numPartitions = 8)
      // Delta-ship the staged rebuild (r18, VERDICT r17 §next-1): the
      // merge's kept rows are byte-identical target rows, so only the
      // updated+inserted slice crosses JDBC; the staging table is
      // completed store-side (INSERT..SELECT with a NOT EXISTS key probe)
      // and swapped in by the same RENAME protocol. Final table contents
      // are exactly Merge.apply's (spec-pinned in SinksSpec; the
      // convergence agg + oracle hash below prove it end-to-end).
      // ONE pre-swap remote read (guide §5 reused subtree): applyChanged's
      // plan reads the target three times (update join, insert anti-join,
      // max-id scalar), and each partitioned JDBC read is 8 remote range
      // queries — persist the key+audit projection (all applyChanged
      // needs; the kept rows' data columns never leave the store) so the
      // remote fetch happens once. Post-swap reads (convergence agg +
      // idempotence classify) stay fresh reads of the swapped table.
      val tgtSnap = tgtScan
        .select((Seq("o_orderkey") ++ Merge.AuditCols).map(col): _*)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val changed = Merge.applyChanged(t(s, d, "orders"), tgtSnap,
        Seq("o_orderkey"), jdbcNow)
      Sinks.overwriteJdbcViaStagingDelta(changed, url, "ORDERS_TGT",
        Seq("o_orderkey"), props, columnTypes = Some(jdbcOrdersDdl))
      tgtSnap.unpersist()
      jdbcConvergenceAgg(tgtScan,
        Merge.classify(t(s, d, "orders"),
          Sinks.jdbcTargetState(s, url, "ORDERS_TGT", Seq("o_orderkey"),
            props),
          Seq("o_orderkey")))
    }),
    // The INCREMENTAL JDBC write path (r14): where the roundtrip row
    // rebuilds the whole table through the staged swap, this is the
    // reference's daily write — classify against the remote state, then
    // batched per-row UPDATE of the changed keys + batched INSERT of
    // the new ones, target rows otherwise untouched (S7 on a real
    // database, sync_INCREMENTAL.py:437-502). Same convergence truth:
    // the final table equals orders exactly, with the audit timestamps
    // classifying kept/updated/inserted. Verify-only: it re-bootstraps
    // its target fixture per run (the append-gate ruling); the benched
    // JDBC row is the roundtrip, and the O(changes) scaling is
    // MergeBench's jdbc_changed_* scenarios.
    "q_pipeline_jdbc_incremental" -> ((s, d) => {
      val url = derbyUrl(d)
      val props = derbyProps
      Sinks.jdbcWrite(mergeTargetAudited(s, d), url, "ORDERS_INC", props,
        columnTypes = Some(jdbcOrdersDdl))
      Sinks.jdbcApplyIncremental(t(s, d, "orders"), url, "ORDERS_INC",
        Seq("o_orderkey"), props, now = jdbcNowTs)
      jdbcConvergenceAgg(
        Sinks.jdbcScan(s, url, "ORDERS_INC", props),
        Merge.classify(t(s, d, "orders"),
          Sinks.jdbcTargetState(s, url, "ORDERS_INC", Seq("o_orderkey"),
            props),
          Seq("o_orderkey")))
    }),
    // The declarative curation pipeline itself under the gate: a 3-step
    // recipe (scrub -> intra-doc span dedup -> quality floor) whose
    // oracle composes the same three proven transformations in SQL —
    // pinning the EXECUTOR (step order, schema preservation through the
    // text-rewrite rejoin), not just the operators.
    // spread(): scrub + span-dedup shingling are map chains on the
    // single-split fixture scan (r17 opt)
    "q_pipeline_curate_recipe" -> ((s, d) =>
      graft.pipeline.CorpusPipeline.run(
          spread(t(s, d, "documents").select("doc_id", "text", "lang")),
          "doc_id", "text", Seq(
            graft.pipeline.CorpusPipeline.RedactPii,
            graft.pipeline.CorpusPipeline.DedupSpansWithin(spanTokens = 2),
            graft.pipeline.CorpusPipeline.QualityFloor(minTokens = 5)))
        .select("doc_id", "text", "lang").orderBy("doc_id")),
    // Per-step attrition audit (r9): runWithAudit answers "which step ate
    // my corpus" as data — one row per stage with the surviving count.
    // The recipe here has REAL attrition (rewrite → token floor dropping
    // the short half → mixture toward en/es at a row budget), and every
    // stage is individually-oracled arithmetic, so the oracle replays
    // each prefix count exactly.
    "q_pipeline_curate_audit" -> ((s, d) => {
      val (_, audit) = graft.pipeline.CorpusPipeline.runWithAudit(
        t(s, d, "documents").select("doc_id", "text", "lang"),
        "doc_id", "text", Seq(
          graft.pipeline.CorpusPipeline.RedactPii,
          graft.pipeline.CorpusPipeline.QualityFloor(minTokens = 60),
          graft.pipeline.CorpusPipeline.MixRows("lang",
            Map("en" -> 0.6, "es" -> 0.4), targetRows = 120)))
      audit.orderBy("step_idx")
    }),
    // Trainer-facing recipe (r10): token floor -> margin-thresholded
    // quality classifier (the GPT-3 score-keep form, minMargin=1.0 —
    // real attrition on this corpus: 225 floored docs -> 65 confident
    // 'en') -> terminal BPE tokenization appending the id columns. The
    // oracle replays floor + NB margin membership end-to-end in DuckDB;
    // the emitted id/count pair is pinned mutually consistent here and
    // bit-exactly by the q_text_bpe_ids_gate invariants.
    // Target-domain selection recipe (r10): token floor, then DSIR-select
    // the 150 docs most resembling the Spanish slice. Replays end-to-end
    // in DuckDB (floor + bag models + DECIMAL weight sums + Gumbel top-k).
    // The target model trains on the UNFLOORED Spanish slice; the floored
    // corpus is its own background model — the paper's raw-vs-target
    // asymmetry.
    "q_pipeline_dsir_recipe" -> ((s, d) => {
      val docs = t(s, d, "documents").select("doc_id", "text", "lang",
        "n_chars")
      graft.pipeline.CorpusPipeline.run(docs, "doc_id", "text", Seq(
          graft.pipeline.CorpusPipeline.QualityFloor(minTokens = 30),
          graft.pipeline.CorpusPipeline.DsirSelect(
            docs.filter(col("lang") === "es"), "doc_id", "text",
            buckets = 512, k = 150, seed = "7")))
        .select("doc_id", "lang", "n_chars").orderBy("doc_id")
    }),
    // Web-cleaning recipe (late r10): constructed multi-line pages (the
    // redact_pii convention — both engines build identical input, and
    // unlike the single-line fixture docs these exercise the LINE rules
    // non-degenerately) -> C4Clean (drops the no-terminal boilerplate
    // line and javascript lines, rewrites text) -> DropBlockedTerms
    // (casino pages) -> QualityFloor. The oracle replays construction,
    // line filter, page gates, term containment, and the floor.
    "q_pipeline_web_recipe" -> ((s, d) => {
      val pages = t(s, d, "documents").select(col("doc_id"),
        concat_ws("\n",
          concat(substring(col("text"), 1, 60), lit(" end of line one.")),
          lit("the second line has plenty of words and that makes it clean!"),
          when(col("doc_id") % 3 === 0,
              lit("please enable javascript to view this page."))
            .otherwise(lit("a third ordinary sentence with the usual words of text.")),
          lit("trailing boilerplate without punctuation"),
          when(col("doc_id") % 5 === 0,
              lit("casino night special offer now."))
            .otherwise(lit("a clean bonus sentence appears right here.")),
          when(col("doc_id") % 7 === 0,
              lit("lorem ipsum dolor sit amet."))
            .otherwise(lit("closing sentence with a full stop here.")))
          .as("text"))
      graft.pipeline.CorpusPipeline.run(pages, "doc_id", "text", Seq(
          graft.pipeline.CorpusPipeline.C4Clean,
          graft.pipeline.CorpusPipeline.DropBlockedTerms(
            Seq("casino", "spam phrase")),
          graft.pipeline.CorpusPipeline.QualityFloor(minTokens = 10)))
        .select(col("doc_id"),
          TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_words"))
        .orderBy("doc_id")
    }),
    // FineWeb-shaped END-TO-END recipe (r12, VERDICT r11 §next-6): the
    // whole raw-web chain — URL canon+dedup → language gate → Gopher →
    // C4 → MinHash near-dup (portable) → exact substring dedup → PII
    // redact → quality floor — as ONE CorpusPipeline.run, every step
    // DuckDB-replayable, so the oracle replays the ENTIRE chain and
    // hash-checks the final corpus (md5 of each surviving text).
    //
    // Constructed fixture (both engines build the identical pages):
    //  - urls with decoration (the q_dedup_by_url regimes) → ~30% URL cut
    //  - %13 docs get Spanish affixes → dropped by the en gate
    //  - %17 docs get a '###' line → Gopher symbol-ratio drop
    //  - %7 docs get a lorem line → C4 page drop; boilerplate/js lines
    //    are C4 line-dropped everywhere
    //  - %10 docs get a planted near-copy (id+1e6, unique url, one extra
    //    line) → caught by MinHash banding, min-id original survives
    //  - %9 docs repeat their own salad (scraper echo) → ExactSubstr
    //    excises both occurrences (visible in n_words)
    //  - every surviving line embeds doc_id so unrelated docs share NO
    //    4-token shingle (banding stays quiet) and no 8-token run
    //    (ExactSubstr stays surgical); doc-unique emails survive to the
    //    redact stage and leave as <EMAIL>.
    "q_pipeline_fineweb_recipe" -> ((s, d) =>
      graft.pipeline.CorpusPipeline.run(fineWebPages(t(s, d, "documents")),
          "doc_id", "text", graft.pipeline.CorpusPipeline.fineWebRecipe())
        .select(col("doc_id"),
          TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_words"),
          md5(col("text")).as("text_md5"))
        .orderBy("doc_id")),
    // Attrition audit over the same recipe (verify-only: the per-stage
    // prefix recompute re-runs the eager MinHash/components stages
    // repeatedly — audit-tool cost, the q_pipeline_tokenize_audit
    // ruling). One row per stage, every count replayed.
    "q_pipeline_fineweb_audit" -> ((s, d) => {
      val (_, audit) = graft.pipeline.CorpusPipeline.runWithAudit(
        fineWebPages(t(s, d, "documents")), "doc_id", "text",
        graft.pipeline.CorpusPipeline.fineWebRecipe())
      audit.orderBy("step_idx")
    }),
    "q_pipeline_tokenize_recipe" -> ((s, d) => {
      val out = graft.pipeline.CorpusPipeline.run(
        t(s, d, "documents").select("doc_id", "text", "lang"),
        "doc_id", "text", Seq(
          graft.pipeline.CorpusPipeline.QualityFloor(minTokens = 60),
          graft.pipeline.CorpusPipeline.ClassifierKeep("lang", "en",
            minMargin = 1.0),
          graft.pipeline.CorpusPipeline.TokenizeBpe(numMerges = 20)))
      out.select(col("doc_id"), col("lang"),
          (size(col("token_ids")).cast("long") === col("n_bpe_tokens"))
            .as("ids_consistent"))
        .orderBy("doc_id")
    }),
    // Attrition audit over the same recipe (verify-only: the runWithAudit
    // machinery is already BENCHED via q_pipeline_curate_audit; this
    // variant exists to oracle the two new steps' counts, and its
    // per-stage prefix recompute re-trains NB and BPE several times —
    // audit-tool cost, not a per-batch engine shape).
    "q_pipeline_tokenize_audit" -> ((s, d) => {
      val (_, audit) = graft.pipeline.CorpusPipeline.runWithAudit(
        t(s, d, "documents").select("doc_id", "text", "lang"),
        "doc_id", "text", Seq(
          graft.pipeline.CorpusPipeline.QualityFloor(minTokens = 60),
          graft.pipeline.CorpusPipeline.ClassifierKeep("lang", "en",
            minMargin = 1.0),
          graft.pipeline.CorpusPipeline.TokenizeBpe(numMerges = 20)))
      audit.orderBy("step_idx")
    }),
    // Sharded training export round trip: write the corpus as bounded
    // shard=<k>/ dirs in the seeded shuffle order, read BACK from the
    // filesystem, and emit per-shard stats the oracle re-derives from the
    // row_number arithmetic alone — pins the full export layout (shard
    // membership, intra-shard positions, no loss/dup through the writer).
    "q_pipeline_shard_export" -> ((s, d) => {
      val path = s"$compactTmpDir/${sfKey(d)}/shards"
      Sinks.drop(s, path) // idempotent across verify+bench in one process
      Sinks.writeSharded(t(s, d, "documents").select("doc_id", "lang"),
        "doc_id", path, seed = "exp", rowsPerShard = 128)
      s.read.parquet(path)
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(count(lit(1)).as("n_rows"),
          min("shuffle_pos").as("min_pos"),
          max("shuffle_pos").as("max_pos"),
          sum("doc_id").as("sum_ids"))
        .orderBy("shard")
    }),
    // ---- dedup family ---------------------------------------------------
    "q_dedup_exact_groups" -> ((s, d) =>
      Dedup.exactGroups(t(s, d, "documents"), "doc_id", "text").orderBy("fp")),
    "q_dedup_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text",
        maxId = 120, minJaccard = 0.5).orderBy("id_a", "id_b")),
    "q_dedup_groups" -> ((s, d) =>
      Dedup.duplicateGroups(
        Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text",
          maxId = 120, minJaccard = 0.5)).orderBy("id")),
    // Incremental component maintenance (late r16): the SAME pair set
    // split into two arbitrary batches through the full index lifecycle
    // — build, O(batch) contracted append (old components merge via
    // relabel rows, never a corpus-scale recompute), compact, resolve.
    // Shares q_dedup_groups' recursive-closure oracle outright, so the
    // hash IS the increment == rebuild gate. Verify-only (the bounded
    // cartesian truth generator + index-per-run, the q_dedup_groups
    // ruling). r17: the append runs TAGGED and is re-delivered twice —
    // once before compaction and once after (the marker survives the
    // staged swap) — so the exactly-once replay protocol sits inside
    // this oracled hash: a double-append would duplicate label rows and
    // break the row count, a post-compact replay would re-add folded
    // labels.
    "q_dedup_groups_indexed" -> ((s, d) => {
      val path = tempDirCleaned("graft-ccidx")
      val pairs = Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id",
        "text", maxId = 120, minJaccard = 0.5)
      val batch2 = pairs.filter(col("id_a") % 2 =!= 0)
      Dedup.componentsWriteIndex(pairs.filter(col("id_a") % 2 === 0), path)
      Dedup.componentsAppendIndex(batch2, path, batchTag = Some("1"))
      Dedup.componentsAppendIndex(batch2, path, batchTag = Some("1")) // replay
      Dedup.componentsCompactIndex(s, path)
      Dedup.componentsAppendIndex(batch2, path, batchTag = Some("1")) // post-compact replay
      Dedup.componentsIndexedGroups(s, path).orderBy("id")
    }),
    "q_dedup_minhash_candidates" -> ((s, d) =>
      Dedup.minHashCandidates(t(s, d, "documents"), "doc_id", "text",
        shingleN = 3, bands = 8, rowsPerBand = 4, minJaccard = 0.3)
        .orderBy("id_a", "id_b")),
    // SemDeDup (r9): cluster-sharded semantic dedup — trained k-means
    // cells, within-cell integer-cosine pairs, min-id survivors. Trained
    // float centroids → rows-only; the portable twin below pins the
    // cell-sharded pair machinery hash-green and the gate pins the
    // planted-cluster collapse.
    // Threshold 3/10 on this fixture: its vectors are random floats whose
    // near-dup structure lives at cosine ≥ 0.3 (the q_dedup_embed_groups
    // convention) — 0.3 here plays the role 0.9 plays on real embeddings;
    // the arithmetic is identical.
    "q_dedup_semdedup" -> ((s, d) =>
      SemDedup.dedupSemantic(t(s, d, "embeddings"), "vec_id", "embedding",
          dim = 64, nCentroids = 16, minCosNum = 3, minCosDen = 10)
        .select("vec_id").orderBy("vec_id")),
    // Portable twin: md5 ±1 cells (the IVF twin's family) + integer-dot
    // argmax assignment + the rational-cosine pair threshold — the entire
    // cell-sharded candidate generation replayed bit-for-bit in DuckDB.
    "q_dedup_semdedup_portable" -> ((s, d) =>
      SemDedup.candidatesPortable(t(s, d, "embeddings"), "vec_id",
          "embedding", dim = 64, nCentroids = 16, minCosNum = 3,
          minCosDen = 10)
        .orderBy("id_a", "id_b")),
    // Gate: 32 planted clusters of 8 must collapse toward one survivor
    // each under trained cells — ≥75% of the corpus removed, no planted
    // cluster losing ALL members (coverage). Truth side (vector count) is
    // the deterministic fixture size.
    "q_dedup_semdedup_gate" -> ((s, d) => {
      val fixture = Similarity.clusteredEmbeddings(s, nClusters = 32,
        perCluster = 8, dim = 64, noise = 0.05)
      val surv = SemDedup.dedupSemantic(fixture, "vec_id", "embedding",
        dim = 64, nCentroids = 16)
      fixture.agg(count(lit(1)).as("n_vectors"))
        .crossJoin(surv.agg(count(lit(1)).as("__n"),
          countDistinct(expr("vec_id div 8")).as("__c")))
        .select(col("n_vectors"),
          (col("__n") >= 32 && col("__n") <= 64).as("collapse_ok"),
          (col("__c") === 32).as("coverage_ok"))
    }),
    // Portable-hash LSH twin: same pipeline shape as the xxhash production
    // path above, but an md5-derived hash family the DuckDB oracle replays
    // bit-for-bit — the banding/bucket-join machinery gets a hash-green
    // row, not just a rows-only count.
    "q_dedup_minhash_portable" -> ((s, d) =>
      Dedup.minHashCandidatesPortable(t(s, d, "documents"), "doc_id", "text",
        shingleN = 3, bands = 4, rowsPerBand = 2).orderBy("id_a", "id_b")),
    "q_dedup_simhash_groups" -> ((s, d) =>
      Dedup.simHashGroups(t(s, d, "documents"), "doc_id", "text")
        .orderBy("simhash")),
    // Portable-hash SimHash twin (the q_dedup_minhash_portable pattern):
    // md5-prefix token hashes the oracle replays bit-for-bit, pinning the
    // token-hash → bit-vote → signature-assembly pipeline hash-green.
    "q_dedup_simhash_portable" -> ((s, d) =>
      Dedup.simHashPortable(t(s, d, "documents"), "doc_id", "text")
        .orderBy("id")),
    "q_dedup_simhash_neardup" -> ((s, d) =>
      Dedup.simHashNearDupPairs(t(s, d, "documents"), "doc_id", "text",
        maxHamming = 7).orderBy("id_a", "id_b")),
    // SimHash quality gate (the q_sim_recall_gate pattern applied to text
    // dedup). Two measured booleans, thresholds from this corpus:
    //  - exact recall: docs with IDENTICAL normalized token multisets get
    //    identical simhash signatures, so every such pair MUST surface as a
    //    candidate (hamming 0 <= 3) — a theorem when banding is correct,
    //    false the moment the band join or signature is broken.
    //  - precision: candidates at hamming<=3 average >= 0.85 exact
    //    token-set Jaccard (measured 0.954 at sf0.01 and 0.898 at sf0.1;
    //    random/broken buckets measure ~0.6 on this dupe-heavy corpus, so
    //    0.85 separates working from broken at every fixture SF).
    // SimHash is NOT gated on moderate-similarity recall: measured recall
    // of 0.5-Jaccard pairs at hamming<=7 is ~0.004 — an intrinsic simhash
    // property (it detects near-identical token profiles), so such a gate
    // would pin a number the algorithm does not promise.
    "q_dedup_simhash_gate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val tk = docs.filter(col("doc_id") < 120)
        .select(col("doc_id").as("id"),
          sort_array(filter(split(lower(col("text")), "\\s+"), t => t =!= "")).as("tk"))
        .filter(size(col("tk")) > 0) // empty docs have no signature (by design)
      val truth = tk.select(col("id").as("id_a"), col("tk").as("tka"))
        .join(tk.select(col("id").as("id_b"), col("tk").as("tkb")),
          col("id_a") < col("id_b") && col("tka") === col("tkb"))
        .select("id_a", "id_b")
      val cand = Dedup.simHashNearDupPairs(docs, "doc_id", "text", maxHamming = 3)
        .select("id_a", "id_b")
      val hits = truth.join(cand, Seq("id_a", "id_b"), "left_semi")
      val toks = docs.select(col("doc_id").as("id"),
        array_distinct(filter(split(lower(col("text")), "\\s+"), t => t =!= "")).as("dtk"))
      val prec = cand
        .join(toks.select(col("id").as("id_a"), col("dtk").as("ta")), Seq("id_a"))
        .join(toks.select(col("id").as("id_b"), col("dtk").as("tb")), Seq("id_b"))
        .agg(avg(size(array_intersect(col("ta"), col("tb"))).cast("double") /
          size(array_union(col("ta"), col("tb"))).cast("double")).as("__avg_j"))
      truth.agg(count(lit(1)).as("n_truth_pairs"))
        .crossJoin(hits.agg(count(lit(1)).as("__n_hit")))
        .crossJoin(prec)
        .select(col("n_truth_pairs"),
          (col("__n_hit") === col("n_truth_pairs")).as("simhash_exact_recall_ok"),
          // no candidates at tiny SFs -> vacuously precise
          coalesce(col("__avg_j") >= 0.85, lit(true)).as("simhash_precision_ok"))
    }),
    // Incremental-dedup probe gate: new docs (doc_id < 120) probed against
    // the PERSISTED signature index of the corpus half (doc_id >= 120) —
    // corpus text is never touched. Identical cross-split token sequences
    // must surface (equal shingle sets => equal signatures => every band
    // bucket shared) with the MinHash estimator exactly 1.0; the oracle
    // recomputes the cross-split truth count and pins both booleans.
    "q_dedup_minhash_probe_gate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val probe = Dedup.minHashProbeIndex(s, mhIdxEnsure(s, d),
        docs.filter(col("doc_id") < 120), "doc_id", "text", minEstJaccard = 0.0)
      val tk = docs.filter(col("doc_id") < 240)
        .select(col("doc_id").as("id"),
          filter(split(lower(col("text")), "\\s+"), t => t =!= "").as("tk"))
        .filter(size(col("tk")) >= 3)
      val truth = tk.filter(col("id") < 120)
          .select(col("id").as("new_id"), col("tk").as("tka"))
        .join(tk.filter(col("id") >= 120)
          .select(col("id").as("corpus_id"), col("tk").as("tkb")),
          col("tka") === col("tkb"))
        .select("new_id", "corpus_id")
      val hits = truth.join(probe, Seq("new_id", "corpus_id"), "left_semi")
      val ests = truth.join(probe, Seq("new_id", "corpus_id"))
      truth.agg(count(lit(1)).as("n_cross_exact_pairs"))
        .crossJoin(hits.agg(count(lit(1)).as("__n_hit")))
        .crossJoin(ests.agg(min(col("jaccard_est")).as("__min_est")))
        .select(col("n_cross_exact_pairs"),
          (col("__n_hit") === col("n_cross_exact_pairs")).as("probe_exact_recall_ok"),
          coalesce(col("__min_est") === 1.0, lit(true)).as("probe_est_exact_ok"))
    }),
    // MinHash index MAINTENANCE gate (late r17): build the index on half
    // the corpus slice, append the other half TAGGED and re-delivered
    // (exactly-once — a double-append doubles n_corpus_sigs, which the
    // oracle pins to the exact signature-eligible doc count), then probe —
    // the probe booleans must match the fresh-built-index behavior
    // exactly. Verify-only (index-per-run, the append-gate ruling).
    "q_dedup_minhash_append_gate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val path = tempDirCleaned("graft-mh-append") + "/idx"
      Dedup.minHashWriteIndex(
        docs.filter(col("doc_id") >= 120 && col("doc_id") < 180),
        "doc_id", "text", path)
      val batch = docs.filter(col("doc_id") >= 180 && col("doc_id") < 240)
      Dedup.minHashAppendIndex(batch, "doc_id", "text", path, Some("1"))
      Dedup.minHashAppendIndex(batch, "doc_id", "text", path, Some("1")) // replay
      val probe = Dedup.minHashProbeIndex(s, path,
        docs.filter(col("doc_id") < 120), "doc_id", "text",
        minEstJaccard = 0.0)
      val tk = docs.filter(col("doc_id") < 240)
        .select(col("doc_id").as("id"),
          filter(split(lower(col("text")), "\\s+"), t => t =!= "").as("tk"))
        .filter(size(col("tk")) >= 3)
      val truth = tk.filter(col("id") < 120)
          .select(col("id").as("new_id"), col("tk").as("tka"))
        .join(tk.filter(col("id") >= 120)
          .select(col("id").as("corpus_id"), col("tk").as("tkb")),
          col("tka") === col("tkb"))
        .select("new_id", "corpus_id")
      val hits = truth.join(probe, Seq("new_id", "corpus_id"), "left_semi")
      val ests = truth.join(probe, Seq("new_id", "corpus_id"))
      truth.agg(count(lit(1)).as("n_cross_exact_pairs"))
        .crossJoin(hits.agg(count(lit(1)).as("__n_hit")))
        .crossJoin(ests.agg(min(col("jaccard_est")).as("__min_est")))
        .crossJoin(s.read.parquet(path)
          .agg(count(lit(1)).as("n_corpus_sigs")))
        .select(col("n_cross_exact_pairs"),
          (col("__n_hit") === col("n_cross_exact_pairs"))
            .as("probe_exact_recall_ok"),
          coalesce(col("__min_est") === 1.0, lit(true))
            .as("probe_est_exact_ok"),
          col("n_corpus_sigs"))
    }),
    // SimHash index MAINTENANCE gate (late r17 — the minhash append
    // gate's Hamming-family twin): write half the corpus slice, append
    // the other half TAGGED and re-delivered, probe at radius 0 —
    // identical token multisets MUST surface at hamming 0 (equal bags →
    // equal bit votes → equal signatures), and the oracle pins the
    // signature-eligible row count a double-append would double.
    // Verify-only (index-per-run, the append-gate ruling).
    "q_dedup_simhash_append_gate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val path = tempDirCleaned("graft-sh-append") + "/idx"
      Dedup.simHashWriteIndex(
        docs.filter(col("doc_id") >= 120 && col("doc_id") < 180),
        "doc_id", "text", path)
      val batch = docs.filter(col("doc_id") >= 180 && col("doc_id") < 240)
      Dedup.simHashAppendIndex(batch, "doc_id", "text", path, Some("1"))
      Dedup.simHashAppendIndex(batch, "doc_id", "text", path, Some("1")) // replay
      val probe = Dedup.simHashProbeIndex(s, path,
        docs.filter(col("doc_id") < 120), "doc_id", "text", maxHamming = 0)
      val tk = docs.filter(col("doc_id") < 240)
        .select(col("doc_id").as("id"),
          filter(split(lower(col("text")), "\\s+"), t => t =!= "").as("tk"))
        .filter(size(col("tk")) >= 1)
      val truth = tk.filter(col("id") < 120)
          .select(col("id").as("new_id"), col("tk").as("tka"))
        .join(tk.filter(col("id") >= 120)
          .select(col("id").as("corpus_id"), col("tk").as("tkb")),
          col("tka") === col("tkb"))
        .select("new_id", "corpus_id")
      val hits = truth.join(probe, Seq("new_id", "corpus_id"), "left_semi")
      val hams = truth.join(probe, Seq("new_id", "corpus_id"))
      truth.agg(count(lit(1)).as("n_cross_exact_pairs"))
        .crossJoin(hits.agg(count(lit(1)).as("__n_hit")))
        .crossJoin(hams.agg(max(col("hamming")).as("__max_ham")))
        .crossJoin(s.read.parquet(path)
          .agg(count(lit(1)).as("n_corpus_sigs")))
        .select(col("n_cross_exact_pairs"),
          (col("__n_hit") === col("n_cross_exact_pairs"))
            .as("probe_exact_recall_ok"),
          coalesce(col("__max_ham") === 0, lit(true)).as("probe_ham0_ok"),
          col("n_corpus_sigs"))
    }),
    // Near-dup index DELETE gate (late r17 — the takedown lifecycle):
    // build the MinHash index on the full [120,240) corpus slice, delete
    // [180,200) TAGGED and re-delivered, probe (tombstone exclusion),
    // purge (physical removal), probe again — both probes must match the
    // truth computed WITHOUT the deleted docs, and the oracle pins the
    // removed-row and live-row counts exactly. Verify-only
    // (index-per-run, the append-gate ruling).
    "q_dedup_minhash_delete_gate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val path = tempDirCleaned("graft-mh-delete") + "/idx"
      Dedup.minHashWriteIndex(
        docs.filter(col("doc_id") >= 120 && col("doc_id") < 240),
        "doc_id", "text", path)
      val doomed = docs.filter(col("doc_id") >= 180 && col("doc_id") < 200)
        .select("doc_id")
      graft.pipeline.Tombstones.delete(doomed, "doc_id", path, Some("1"))
      graft.pipeline.Tombstones.delete(doomed, "doc_id", path, Some("1")) // replay
      // minHashProbeIndex is EAGER (localCheckpoint), so probeDel is the
      // pre-purge answer even though the purge rewrites the index after
      def probe() = Dedup.minHashProbeIndex(s, path,
        docs.filter(col("doc_id") < 120), "doc_id", "text",
        minEstJaccard = 0.0).select("new_id", "corpus_id")
      val probeDel = probe()
      val nRemoved = graft.pipeline.Tombstones.purge(s, path)
      val probePurged = probe()
      val purgeSame =
        probeDel.exceptAll(probePurged)
          .unionAll(probePurged.exceptAll(probeDel)).isEmpty
      val tk = docs.filter(col("doc_id") < 240)
        .select(col("doc_id").as("id"),
          filter(split(lower(col("text")), "\\s+"), t => t =!= "").as("tk"))
        .filter(size(col("tk")) >= 3)
      val truth = tk.filter(col("id") < 120)
          .select(col("id").as("new_id"), col("tk").as("tka"))
        .join(tk.filter(col("id") >= 120 &&
            !(col("id") >= 180 && col("id") < 200))
          .select(col("id").as("corpus_id"), col("tk").as("tkb")),
          col("tka") === col("tkb"))
        .select("new_id", "corpus_id")
      val hits = truth.join(probeDel, Seq("new_id", "corpus_id"), "left_semi")
      val noDeleted = probeDel
        .filter(col("corpus_id") >= 180 && col("corpus_id") < 200).isEmpty
      truth.agg(count(lit(1)).as("n_cross_exact_pairs"))
        .crossJoin(hits.agg(count(lit(1)).as("__n_hit")))
        .crossJoin(s.read.parquet(path)
          .agg(count(lit(1)).as("n_live_sigs")))
        .select(col("n_cross_exact_pairs"),
          (col("__n_hit") === col("n_cross_exact_pairs"))
            .as("probe_delete_recall_ok"),
          lit(noDeleted).as("no_deleted_candidates"),
          lit(purgeSame).as("purge_probe_unchanged"),
          col("n_live_sigs"),
          lit(nRemoved).as("n_removed"))
    }),
    // MinHash quality gate: measured exact-recall (identical token
    // sequences MUST share every band bucket — a theorem when the banded
    // signature join is correct) and high-Jaccard recall vs the banding's
    // analytic expectation. Oracle pins both booleans to true and
    // recomputes n_exact_pairs relationally.
    "q_dedup_minhash_gate" -> ((s, d) =>
      Dedup.minHashGateStats(t(s, d, "documents"), "doc_id", "text",
        maxId = 120)),
    // Decontamination: per-doc distinct 3-gram overlap against a pretend
    // benchmark (doc_id < 50) — cross-corpus containment, value-matched
    // n-gram-for-n-gram against DuckDB. Eval docs themselves surface as
    // trivially contaminated (they contain their own n-grams): expected,
    // and the removal form anti-joins them away with everything else hit.
    "q_dedup_decontaminate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.contaminationHits(docs, docs.filter(col("doc_id") < 50),
          "doc_id", "text", "text", ngramN = 3)
        .withColumn("contaminated", col("n_hits") >= 3L)
        .orderBy("doc_id")
    }),
    // Per-benchmark contamination attribution: the eval set is split into
    // two labeled suites; output is (doc, suite, distinct shared 3-grams)
    // for every overlapping pair — the report a per-suite ban policy reads.
    "q_dedup_contam_report" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val evals = docs.filter(col("doc_id") < 50)
        .withColumn("bench",
          when(col("doc_id") < 25, lit("benchA")).otherwise(lit("benchB")))
      Dedup.contaminationReport(docs, evals, "doc_id", "text", "text",
          "bench", ngramN = 3)
        .orderBy("doc_id", "bench")
    }),
    // Quality-aware survivor selection: same component construction the
    // oracle can replay (n-gram Jaccard pairs + recursive closure), winner
    // per cluster by n_chars (ties: min id) — survivors of the whole corpus.
    "q_dedup_keepbest" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        maxId = 120, minJaccard = 0.5).select("id_a", "id_b")
      val losers = Dedup.keepBestLosers(pairs,
        docs.select(col("doc_id"), col("n_chars")))
      docs.join(losers.select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
        .select("doc_id", "n_chars").orderBy("doc_id")
    }),
    // C4-style cross-doc span removal: 2-token spans (the fixture's word
    // soup makes short spans collide across docs, exercising real
    // removal), banned at >= 5 distinct docs, every document rebuilt —
    // the oracle reconstructs each cleaned text character-for-character.
    // Exact substring dedup (r11, VERDICT r10 §next-6 — Lee et al. 2022
    // ExactSubstr): duplicate >= 4-token substrings at ARBITRARY
    // alignment removed from every occurrence; seeded on rolling window
    // fingerprints, extended by a per-doc coverage merge. The oracle
    // replays the full chain — stride-1 windows, duplicate counting,
    // interval merge via the running-max rule, rebuild — on the window
    // STRINGS (the engine's 122-bit fingerprint is an internal key for
    // the same relation, the dedupSpansAcross precedent).
    "q_dedup_substring" -> ((s, d) =>
      Dedup.dedupSubstrings(t(s, d, "documents"), "doc_id", "text",
        minTokens = 4).orderBy("doc_id")),
    // dedupSubstringsFast forwards to dedupSubstrings, so this row shares
    // its oracle.
    "q_dedup_substring_fast" -> ((s, d) =>
      Dedup.dedupSubstringsFast(t(s, d, "documents"), "doc_id", "text",
        minTokens = 4).orderBy("doc_id")),
    // Cross-corpus exact-substring decontamination (r11): every corpus
    // token run >= 4 appearing anywhere in the eval slice (doc_id < 50,
    // the decontamination convention) excised at arbitrary alignment —
    // the surgical alternative to whole-doc decontaminate. Broadcast
    // semi-join probe (eval is benchmark-sized); oracle replays windows,
    // the eval fingerprint set, interval merge, and rebuild.
    "q_dedup_substring_decontam" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.dedupSubstringsAgainst(docs, docs.filter(col("doc_id") < 50),
        "doc_id", "text", "text", minTokens = 4).orderBy("doc_id")
    }),
    // Incremental ExactSubstr (r11): a NEW batch (doc_id < 120) probed
    // against the persisted window-fingerprint index of the corpus half
    // (doc_id >= 120) — runs known to the indexed corpus are excised
    // without touching its text (the minHashProbeIndex convention). The
    // oracle rebuilds the index side's distinct window set from the same
    // slice and replays probe + merge + rebuild.
    "q_dedup_substring_probe" -> ((s, d) =>
      Dedup.substringProbeIndex(s, subIdxEnsure(s, d),
          t(s, d, "documents").filter(col("doc_id") < 120), "doc_id", "text")
        .orderBy("doc_id")),
    // Compaction gate, substring family (r14): the >=120 corpus half
    // indexed as TWO batches (even/odd), fp partials folded to one row
    // per fingerprint, then the same <120 probe — shares
    // q_dedup_substring_probe's oracle outright.
    "q_dedup_substring_compact_gate" -> ((s, d) => {
      val path = tempDirCleaned("graft-subidx-compact")
      val docs = t(s, d, "documents")
      Dedup.substringWriteIndex(
        docs.filter(col("doc_id") >= 120 && col("doc_id") % 2 === 0),
        "doc_id", "text", minTokens = 4, path)
      // r17: tagged + re-delivered around the compaction — fp counts are
      // additive partials, a double append would double-count windows
      val batch2 =
        docs.filter(col("doc_id") >= 120 && col("doc_id") % 2 =!= 0)
      Dedup.substringAppendIndex(batch2, "doc_id", "text", path, Some("1"))
      Dedup.substringAppendIndex(batch2, "doc_id", "text", path, Some("1"))
      Dedup.substringCompactIndex(s, path)
      Dedup.substringAppendIndex(batch2, "doc_id", "text", path, Some("1"))
      Dedup.substringProbeIndex(s, path,
          docs.filter(col("doc_id") < 120), "doc_id", "text")
        .orderBy("doc_id")
    }),
    "q_dedup_spans_across" -> ((s, d) =>
      Dedup.dedupSpansAcross(t(s, d, "documents"), "doc_id", "text",
          spanTokens = 2, minDocs = 5)
        .orderBy("doc_id")),
    // Intra-doc span dedup: first occurrence of each 2-token span kept,
    // verbatim repeats dropped; the fixture's small vocabulary makes
    // within-doc repeats common, so real removal is exercised. Oracle
    // rebuilds every cleaned text character-for-character.
    "q_dedup_spans_within" -> ((s, d) =>
      Dedup.dedupSpansWithinDoc(t(s, d, "documents"), "doc_id", "text",
          spanTokens = 2)
        .orderBy("doc_id")),
    // Deterministic per-row-weighted Bernoulli sample: weight rises with
    // doc length, capped at 1 — the quality-weighted mix step. md5-derived
    // uniform, so the oracle replays the exact keep set.
    "q_cur_weighted_sample" -> ((s, d) =>
      Curation.sampleWeighted(t(s, d, "documents"), "doc_id",
          col("n_chars").cast("double") / lit(400.0))
        .select("doc_id", "n_chars").orderBy("doc_id")),
    // DSIR importance resampling (arXiv:2302.03169): hashed-n-gram bag
    // models over md5 buckets (target = the Spanish slice, raw = the whole
    // corpus), per-doc Lidstone log-ratio weight summed under the
    // LM-perplexity DECIMAL(38,18) contract. Replays end-to-end in DuckDB:
    // bucket ids, counts and totals are integer-exact; only the two lns
    // per bucket are transcendental, on arguments exact in double.
    "q_cur_dsir_weights" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val tm = Dsir.featureModel(docs.filter(col("lang") === "es"),
        "doc_id", "text", buckets = 512)
      val rm = Dsir.featureModel(docs, "doc_id", "text", buckets = 512)
      Dsir.importanceWeights(docs, "doc_id", "text", tm, rm, buckets = 512)
        .orderBy("doc_id")
    }),
    // The resample leg: Gumbel top-k over the same weights, noise from the
    // house md5 uniform (seedable, engine-independent), TakeOrdered plan —
    // driver traffic O(k). Oracle replays weight + noise + top-k exactly.
    "q_cur_dsir_sample" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dsir.selectByImportance(docs, docs.filter(col("lang") === "es"),
          "doc_id", "text", buckets = 512, k = 100, seed = "42")
        .orderBy(col("gumbel_key").desc, col("doc_id"))
    }),
    // Amortized probe form (r11) — the BENCHED DSIR row: both hashed-bag
    // feature models loaded from parquet (each ≤ buckets rows, counts are
    // exact longs), then one score + Gumbel top-k pass over the corpus.
    // Train-per-run form above → verify-only, same oracle both rows.
    "q_cur_dsir_scored" -> ((s, d) => {
      // spread(): the importance-weight tokenize pass is map-side on the
      // single-split fixture scan (r17 opt); the persisted models load as-is
      val docs = spread(t(s, d, "documents"))
      val tm = s.read.parquet(ensureModel(s, d, "dsir_target")(
        Dsir.featureModel(docs.filter(col("lang") === "es"),
          "doc_id", "text", buckets = 512)))
      val rm = s.read.parquet(ensureModel(s, d, "dsir_raw")(
        Dsir.featureModel(docs, "doc_id", "text", buckets = 512)))
      Dsir.resampleTopK(
          Dsir.importanceWeights(docs, "doc_id", "text", tm, rm,
            buckets = 512),
          "doc_id", "log_weight", k = 100, seed = "42")
        .orderBy(col("gumbel_key").desc, col("doc_id"))
    }),
    // Bloom-decontamination gate (verify-only): the scale path folds the
    // eval n-gram set into a Catalyst BloomFilterAggregate bitmap instead
    // of a broadcast set. Pinned relations: (a) every exactly-contaminated
    // doc is bloom-contaminated — the no-false-negative Bloom theorem, so
    // any miss means broken insert/probe hashing; (b) over-removal stays
    // under 2% of the corpus (at minHits=3 a clean doc needs THREE phantom
    // hits at fpp 1e-4 — vanishingly unlikely, and deterministic for a
    // fixed corpus since both sides hash with seedless xxhash64). The truth
    // side (exact removal count) is oracle-checkable.
    "q_dedup_decontam_bloom_gate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val eval = docs.filter(col("doc_id") < 50)
      val exact = Dedup.contaminationHits(docs, eval, "doc_id", "text", "text",
          ngramN = 3).filter(col("n_hits") >= 3L).select(col("doc_id"))
      val bloom = Dedup.contaminationHitsBloom(docs, eval, "doc_id", "text",
          "text", ngramN = 3).filter(col("n_hits_bloom") >= 3L).select(col("doc_id"))
      val missed = exact.join(bloom, Seq("doc_id"), "left_anti")
      val extra = bloom.join(exact, Seq("doc_id"), "left_anti")
      exact.agg(count(lit(1)).as("n_removed_exact"))
        .crossJoin(missed.agg(count(lit(1)).as("__miss")))
        .crossJoin(extra.agg(count(lit(1)).as("__extra")))
        .crossJoin(docs.agg(count(lit(1)).as("__n")))
        .select(col("n_removed_exact"),
          (col("__miss") === 0L).as("no_false_negatives"),
          (col("__extra") <= greatest(lit(1L), (col("__n") * lit(0.02)).cast("long")))
            .as("overremoval_bounded"))
    }),
    // Fuzzy-decontamination gate (verify-only, the bloom-gate pattern):
    // plant verbatim copies of the eval slice into the corpus under
    // shifted ids, run the MinHash-similarity decontamination, and pin
    // (a) every planted copy AND every in-corpus eval original is dropped
    // — identical text has an identical signature, so est = 1.0 ≥ any
    // threshold, an engine invariant not a probabilistic hope — and
    // (b) clean-doc over-removal stays under 2% (deterministic for a
    // fixed corpus: seedless xxhash both sides). Counts oracle-exact.
    "q_dedup_decontam_fuzzy_gate" -> ((s, d) => {
      val docs = t(s, d, "documents").select("doc_id", "text")
      val eval = docs.filter(col("doc_id") % 25 === 0)
      val planted = eval.select((col("doc_id") + 1000000L).as("doc_id"),
        col("text"))
      val corpus = docs.unionByName(planted)
      val kept = Dedup.decontaminateFuzzy(corpus, eval, "doc_id", "text",
        "text", minEstJaccard = 0.5)
      val keptEvalish = kept.filter(col("doc_id") >= 1000000L ||
        col("doc_id") % 25 === 0)
      val cleanDropped = docs.filter(col("doc_id") % 25 =!= 0)
        .join(kept, Seq("doc_id"), "left_anti")
      corpus.agg(count(lit(1)).as("n_corpus"))
        .crossJoin(eval.agg(count(lit(1)).as("n_planted")))
        .crossJoin(keptEvalish.agg(count(lit(1)).as("__ev")))
        .crossJoin(cleanDropped.agg(count(lit(1)).as("__cd")))
        .crossJoin(docs.filter(col("doc_id") % 25 =!= 0)
          .agg(count(lit(1)).as("__nc")))
        .select(col("n_corpus"), col("n_planted"),
          (col("__ev") === 0L).as("evalish_all_dropped"),
          (col("__cd") <= greatest(lit(1L),
            (col("__nc") * lit(0.02)).cast("long")))
            .as("clean_overremoval_bounded"))
    }),
    // ---- embedding near-dup dedup (end-to-end) --------------------------
    // Vector-similarity duplicate groups: exact-cosine pairs -> connected
    // components on the oracle-bounded id range, value-matched against
    // DuckDB's recursive closure over the same quantized-cosine pairs.
    "q_dedup_embed_groups" -> ((s, d) =>
      Dedup.duplicateGroups(
        Similarity.cosineNearDupPairs(t(s, d, "embeddings"), "vec_id",
          "embedding", maxId = 150, minCos = 0.30)).orderBy("id")),
    // End-to-end embedding-dedup gate: the REAL scale pipeline (banded
    // hyperplane LSH candidates -> exact-cosine re-rank -> components ->
    // keep-min-id survivor) must reproduce EXACTLY the survivor set of the
    // exact all-pairs form on the bounded range. The oracle recomputes the
    // exact survivor count relationally and pins the equality boolean.
    "q_dedup_embed_gate" -> ((s, d) => {
      val emb = t(s, d, "embeddings").filter(col("vec_id") < 150)
      val exLosers = Dedup.duplicateGroups(
          Similarity.cosineNearDupPairs(emb, "vec_id", "embedding",
            maxId = 150, minCos = 0.30))
        .filter(col("id") =!= col("group_id")).select(col("id").as("vec_id"))
      val exSurv = emb.select("vec_id").join(exLosers, Seq("vec_id"), "left_anti")
      // 64x4 banding: at the cos=0.30 decision boundary p(bit agrees) is
      // ~0.60, so a pair misses ALL bands with prob (1-0.6^4)^64 ~ 1.4e-4 —
      // strong enough that the survivor sets must coincide exactly on this
      // fixture (deterministic hyperplanes: measured once, stable forever).
      val lshSurv = Dedup.dedupCorpusByEmbedding(emb, "vec_id", "embedding",
          dim = 64, bands = 64, bitsPerBand = 4, minCosine = 0.30)
        .select("vec_id")
      // Set equality via side-tag sum in ONE aggregation chain. Neither
      // exceptAll-of-shared-children nor a crossJoin that re-references a
      // frame already inside the union survives DeduplicateRelations here:
      // both silently mis-resolve the duplicated subtree (an anti-join
      // branch degrades to comparing a side against itself) and report a
      // false mismatch — observed on Spark 4.1.2. Referencing each survivor
      // frame EXACTLY once sidesteps the rewrite. Sides are id-distinct, so
      // per-id side-sum: 1 = LSH-only, 2 = exact-only, 3 = both.
      lshSurv.withColumn("__side", lit(1L))
        .unionByName(exSurv.withColumn("__side", lit(2L)))
        .groupBy("vec_id").agg(sum("__side").as("__t"))
        .agg(count(when(col("__t") >= 2L, 1)).as("n_survivors"),
          (count(when(col("__t") =!= 3L, 1)) === 0L).as("survivors_match"))
    }),
    // ---- text analysis --------------------------------------------------
    // Embedding-free ANN (late r10): signed feature-hashing vectors from
    // raw text composed with the integer-exact cosine pair machinery —
    // rows-only (xxhash vectors), pinned by the gate + md5 portable twin.
    "q_sim_text_ann" -> ((s, d) =>
      Similarity.cosineNearDupPairs(
        t(s, d, "documents").select(col("doc_id"),
            TextAnalysis.hashedTextVector(col("text"), 128).as("vec"))
          .filter(col("vec").isNotNull),
        "doc_id", "vec", maxId = 150, minCos = 0.7)
        .orderBy("id_a", "id_b")),
    // Embedding-free SemDeDup (late r10): raw text → hashed vector →
    // int8 quantize → cluster-sharded semantic dedup — the full semantic
    // dedup pipeline with NO model embeddings anywhere. Rows-only
    // (xxhash vectors + trained cells); every stage is pinned separately
    // (hashvec gate/portable, semdedup gate/portable).
    "q_dedup_semantic_text" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val vecs = docs.select(col("doc_id"),
          TextAnalysis.hashedTextVector(col("text"), 64).as("hv"))
        .filter(col("hv").isNotNull)
      val q = Similarity.quantizeEmbeddings(vecs, "doc_id", "hv")
        .select(col("id").as("doc_id"), col("qvec"))
      // The computed text→hash→quantize chain must be pinned across the
      // chain's several references (the TokenizeBpe materialize-before-
      // iterative-stage trade; unpinned this ran 97 s at r10) — but a
      // body-level persist leaked a MEMORY_AND_DISK entry past the call
      // (VERDICT r11 §wrong-2). The SCOPED form owns the pin and
      // releases it in a finally; the eager localCheckpoint inside the
      // action materializes the survivor ids (a distributed, id-only
      // frame, KB-scale) while the pin is live and truncates lineage,
      // so the returned frame never re-runs the chain and no
      // CacheManager entry outlives the call (SemDedupSpec pins this).
      // nCentroids 8 → 32 (r11): the paper's own scale knob — k grows
      // with the corpus so cells stay constant-sized. At 8 cells the
      // within-cell pair join had 8 busy tasks on 32 cores and Σ|cell|²
      // ≈ 3.3M row-pairs; 32 cells cut the quadratic term ~4× and give
      // the join full parallelism (~156 rows/cell at sf0.1).
      SemDedup.dedupSemanticScoped(q, "doc_id", "qvec", dim = 64,
          nCentroids = 32, minCosNum = 9, minCosDen = 10)(
        _.select("doc_id").orderBy("doc_id").localCheckpoint(true))
    }),
    // Amortized probe (r12, VERDICT r11 §next-8) — the BENCHED semantic-
    // dedup row: the text→vector→quantize→train chain is paid once at
    // index-write time (semIdxEnsure, in this row's untimed warm-up);
    // each timed run reads the stored (id, qvec, cell) assignments and
    // runs ONLY the within-cell pair stage + components — the production
    // steady state where a corpus index serves many dedup/append cycles.
    // Same survivor set as q_dedup_semantic_text (deterministic sampled
    // train), pinned by the oracled idx gate below plus the family's
    // hashvec/semdedup gates and portable twins.
    "q_dedup_semantic_indexed" -> ((s, d) =>
      SemDedup.dedupSemanticIndexed(s, semIdxEnsure(s, d),
          minCosNum = 9, minCosDen = 10)
        .select(col("id").as("doc_id")).orderBy("doc_id")),
    // Oracled equality gate (verify-only): the indexed probe's survivor
    // set must EQUAL the train-per-run form's — set equality via the
    // side-tag sum (the q_dedup_embed_gate convention; each frame
    // referenced exactly once, see that query's DeduplicateRelations
    // note). n_docs anchors the row to the corpus; the booleans replay
    // as constants.
    "q_dedup_semantic_idx_gate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val vecs = docs.select(col("doc_id"),
          TextAnalysis.hashedTextVector(col("text"), 64).as("hv"))
        .filter(col("hv").isNotNull)
      val q = Similarity.quantizeEmbeddings(vecs, "doc_id", "hv")
        .select(col("id").as("doc_id"), col("qvec"))
      val trainSurv = SemDedup.dedupSemanticScoped(q, "doc_id", "qvec",
          dim = 64, nCentroids = 32, minCosNum = 9, minCosDen = 10)(
        _.select("doc_id").localCheckpoint(true))
      val probeSurv = SemDedup.dedupSemanticIndexed(s, semIdxEnsure(s, d),
          minCosNum = 9, minCosDen = 10)
        .select(col("id").as("doc_id"))
      docs.agg(count(lit(1)).as("n_docs"))
        .crossJoin(probeSurv.withColumn("__side", lit(1L))
          .unionByName(trainSurv.withColumn("__side", lit(2L)))
          .groupBy("doc_id").agg(sum("__side").as("__t"))
          .agg(count(lit(1)).as("__n"),
            count(when(col("__t") =!= 3L, 1)).as("__m")))
        .select(col("n_docs"), (col("__n") > 0L).as("nonempty"),
          (col("__m") === 0L).as("probe_equals_train"))
    }),
    // Gate (verify-only): (a) identical text ⇒ identical vector — exact,
    // an engine invariant; (b) consecutive-id docs (different texts) stay
    // well below cosine 1 on average — the discrimination side;
    // (c) unvectorizable docs = docs with zero tokens, count oracled.
    "q_text_hashvec_gate" -> ((s, d) => {
      val docs = t(s, d, "documents").select("doc_id", "text")
      val vec = TextAnalysis.hashedTextVector(col("text"), 64)
      val v = docs.select(col("doc_id"), vec.as("v"))
      val copies = docs.select((col("doc_id") + 1000000L).as("cid"),
        col("text")).select((col("cid") - 1000000L).as("doc_id"),
        vec.as("v2"))
      val mism = v.join(copies, Seq("doc_id"))
        .filter(col("v").isNotNull && not(col("v") === col("v2")))
      val nb = v.select(col("doc_id").as("ida"), col("v").as("va"))
        .join(v.select((col("doc_id") - 1L).as("ida"), col("v").as("vb")),
          Seq("ida"))
        .filter(col("va").isNotNull && col("vb").isNotNull)
        .select((Similarity.dotQuantized(col("va"), col("vb")).cast("double") /
          (sqrt(Similarity.dotQuantized(col("va"), col("va")).cast("double")) *
           sqrt(Similarity.dotQuantized(col("vb"), col("vb")).cast("double"))))
          .as("cos"))
      docs.agg(count(lit(1)).as("n_docs"))
        .crossJoin(mism.agg(count(lit(1)).as("__m")))
        .crossJoin(nb.agg(avg(col("cos")).as("__c")))
        .crossJoin(v.filter(col("v").isNull).agg(count(lit(1))
          .as("n_unvectorizable")))
        .select(col("n_docs"),
          (col("__m") === 0L).as("identical_vectors_exact"),
          (col("__c") < 0.8).as("neighbor_mean_cos_bounded"),
          col("n_unvectorizable"))
    }),
    // md5 portable twin (verify-only): the sparse signed feature rows
    // replayed bit-for-bit in DuckDB, including exact zero cancellations.
    "q_text_hashvec_portable" -> ((s, d) =>
      TextAnalysis.signedHashedFeaturesPortable(
          t(s, d, "documents"), "doc_id", "text", dim = 64)
        .orderBy("doc_id", "bucket")),
    // The full named Gopher §A1.1 document-quality rule set (late r10):
    // per-rule booleans + the conjunction, all exact integer counting and
    // single IEEE comparisons — replayed rule-for-rule in DuckDB.
    "q_text_gopher_rules" -> ((s, d) => {
      val feats = TextAnalysis.gopherRules(col("text"))
      val pass = feats.collect {
        case (n, c) if n.startsWith("r_") => c
      }.reduce(_ && _)
      t(s, d, "documents")
        .select(col("doc_id") +: feats.map { case (n, c) => c.as(n) } :+
          pass.as("pass"): _*)
        .orderBy("doc_id")
    }),
    // C4 line-level cleaning (Raffel et al. 2020 §2.2): per-line terminal-
    // punctuation / min-words / javascript rules plus the page-level
    // lorem-ipsum / brace / min-sentences pass. The fixture's single-line
    // unpunctuated docs all fail the line rules (n_kept_lines=0) — the
    // oracle still hash-pins the full per-rule computation, and
    // TextAnalysisSpec exercises the discriminating multiline cases.
    "q_text_c4_rules" -> ((s, d) => {
      val feats = TextAnalysis.c4Rules(col("text"))
      val pass = feats.collect {
        case (n, c) if n.startsWith("r_") => c
      }.reduce(_ && _)
      t(s, d, "documents")
        .select(col("doc_id") +: feats.map { case (n, c) => c.as(n) } :+
          pass.as("pass"): _*)
        .orderBy("doc_id")
    }),
    // HTML main-content extraction (r12, VERDICT r11 §next-1): the
    // raw-web pipeline's FIRST stage. Constructed multi-block pages
    // (title/nav/heading/3 content paras/footer + script/style/comment
    // + entities), then the full jusText-shaped chain — invisible drop,
    // block segmentation, per-block link/stopword-density features,
    // keep rule — replayed feature-for-feature in DuckDB. Per-block
    // rows here; the page rewrite (extracted text itself, hash-compared
    // including decoded entities) in q_text_html_extract.
    // spread(): the block-feature parse is a map chain on the single-split
    // fixture scan — one task parsed every page while 31 cores idled (r17 opt)
    "q_text_html_blocks" -> ((s, d) =>
      htmlPages(spread(t(s, d, "documents")))
        .select(col("doc_id"),
          posexplode(TextAnalysis.htmlBlockFeatures(col("html"))))
        .select(col("doc_id"), col("pos").cast("long").as("block_idx"),
          col("col.block_text"), col("col.n_chars"), col("col.n_words"),
          col("col.n_stop"), col("col.link_chars"), col("col.n_raw_chars"),
          col("col.keep"))
        .orderBy("doc_id", "block_idx")),
    "q_text_html_extract" -> ((s, d) => {
      val feats = TextAnalysis.htmlBlockFeatures(col("html"))
      htmlPages(t(s, d, "documents"))
        .select(col("doc_id"),
          size(feats).cast("long").as("n_blocks"),
          size(filter(feats, f => f.getField("keep"))).cast("long")
            .as("n_kept_blocks"),
          TextAnalysis.extractMainContent(col("html")).as("content"))
        .withColumn("n_content_chars", length(col("content")).cast("long"))
        .orderBy("doc_id")
    }),
    // Unicode script profiling (r14): which WRITING SYSTEM each doc is
    // in — exact codepoint-class counts over shared BMP ranges plus the
    // first-max-wins dominant script, over a constructed mixed-script
    // corpus (Cyrillic/Han/Arabic/Kana samples dominating a short Latin
    // prefix). Counts and the dominance CASE replay from the SAME
    // codepoint ints (Java \\uXXXX vs RE2 \\x{XXXX} spellings both
    // generated, so the ranges cannot drift).
    "q_text_scripts" -> ((s, d) => {
      val counts = TextAnalysis.scriptCounts(col("text"))
      scriptDocs(t(s, d, "documents"))
        .select(col("doc_id") +:
          counts.map { case (n, c) => c.as(n) } :+
          TextAnalysis.dominantScript(col("text")).as("dominant"): _*)
        .orderBy("doc_id")
    }),
    // Multilingual jusText (r14, VERDICT r13 §next-2; accent-decided
    // since r15, VERDICT r14 §next-1): the SAME block chain with the
    // stopword list keyed by a language column, now over the shared
    // Unicode word-letter tokenizer. The Spanish fixture page's
    // content blocks SURVIVE under the Spanish list (n_kept_lang) and
    // DIE under the English list (n_kept_en = 0); the PORTUGUESE page
    // survives ONLY because accented function words count —
    // n_kept_lang = 2 under the full list, n_kept_ascii = 0 under the
    // r14 ASCII-subset counterfactual, n_kept_en = 0 — all three
    // decisions plus the extracted accented content land in the hash;
    // lang='xx' pages pin the unknown→English fallback.
    "q_text_html_extract_lang" -> ((s, d) => {
      val featsL = TextAnalysis.htmlBlockFeaturesByLang(col("html"),
        col("lang"))
      val featsA = TextAnalysis.htmlBlockFeaturesByLangAscii(col("html"),
        col("lang"))
      val featsEn = TextAnalysis.htmlBlockFeatures(col("html"))
      htmlPagesLang(t(s, d, "documents"))
        .select(col("doc_id"), col("lang"),
          size(featsL).cast("long").as("n_blocks"),
          size(filter(featsL, f => f.getField("keep"))).cast("long")
            .as("n_kept_lang"),
          size(filter(featsA, f => f.getField("keep"))).cast("long")
            .as("n_kept_ascii"),
          size(filter(featsEn, f => f.getField("keep"))).cast("long")
            .as("n_kept_en"),
          TextAnalysis.extractMainContentByLang(col("html"), col("lang"))
            .as("content"))
        .withColumn("n_content_chars", length(col("content")).cast("long"))
        .orderBy("doc_id")
    }),
    // Two-phase jusText (late r16, Pomikálek 2011): the context-free
    // four-way classification (two stopword thresholds, two length
    // thresholds) plus the CONTEXT-SENSITIVE neighbor revision —
    // short/near-good blocks reclassified by the nearest decided
    // neighbors (simultaneous reading, window-expressible). The fixture
    // page's revision changes outcomes in BOTH directions and every
    // per-block feature, both classes, and the block text land in the
    // hash. Verify-only: re-runs the benched q_text_html_blocks chain
    // plus metadata-scale windows (superset ruling).
    "q_text_justext_smooth" -> ((s, d) =>
      TextAnalysis.justextBlocks(
          htmlPagesJustext(t(s, d, "documents")),
          Seq("doc_id"), "html", "lang")
        .select("doc_id", "block_idx", "block_text", "n_chars", "n_words",
          "n_stop", "link_chars", "n_raw_chars", "cf_class", "cs_class")
        .orderBy("doc_id", "block_idx")),
    // Script-routed jusText (r16, VERDICT r15 §next-3): the Cyrillic
    // and Greek pages' survival is DECIDED by non-Latin stopwords
    // (n_kept_routed = n_kept_plain = 2 under the ru/el lists, 0 under
    // the English list — and under the r15 Latin-only tokenizer they
    // had zero words at all); the CJK page cannot take the density rule
    // (no segmentation → n_words = 0) and survives ONLY via the routed
    // link-density fallback (n_kept_routed = 2, n_kept_plain = 0). The
    // Korean page (late r17) ships lang='xx' on purpose: hangul-majority
    // blocks are scored against the ko list BY SCRIPT, so
    // n_kept_routed = 2 while the lang-keyed plain rule (English
    // fallback) keeps 0 — and its nav dies by link density, pinning
    // that Korean boilerplate no longer rides the segmentation-free
    // waiver. The extracted content itself lands in the hash.
    "q_text_html_extract_script" -> ((s, d) => {
      val featsR = TextAnalysis.htmlBlockFeaturesRouted(col("html"),
        col("lang"))
      val featsP = TextAnalysis.htmlBlockFeaturesByLang(col("html"),
        col("lang"))
      val featsEn = TextAnalysis.htmlBlockFeatures(col("html"))
      htmlPagesScript(t(s, d, "documents"))
        .select(col("doc_id"), col("lang"),
          size(featsR).cast("long").as("n_blocks"),
          size(filter(featsR, f => f.getField("keep"))).cast("long")
            .as("n_kept_routed"),
          size(filter(featsP, f => f.getField("keep"))).cast("long")
            .as("n_kept_plain"),
          size(filter(featsEn, f => f.getField("keep"))).cast("long")
            .as("n_kept_en"),
          TextAnalysis.extractMainContentRouted(col("html"), col("lang"))
            .as("content"))
        .withColumn("n_content_chars", length(col("content")).cast("long"))
        .orderBy("doc_id")
    }),
    // WARC ingest (r12) — the crawl FRONT DOOR, one stage before
    // ExtractHtml: constructed chunks (warcinfo + per-doc request/
    // response records with true Content-Lengths, the response payloads
    // being the html fixture pages) parsed into per-record rows. The
    // ENTIRE chain — chunk construction, marker split, head/block
    // separation, header extraction, HTTP envelope, terminator strip —
    // replays CTE-for-CTE in DuckDB from the same shared constants,
    // and the payload strings land in the hash comparison verbatim.
    "q_warc_records" -> ((s, d) =>
      Warc.parseRecords(warcChunks(t(s, d, "documents")), "chunk_id", "warc")
        .orderBy("chunk_id", "record_idx")),
    // Real .warc.gz FILE ingestion (r13, VERDICT r12 §next-1) — the one
    // missing hop between a CommonCrawl dump on disk and the crawl
    // recipe: multi-member archives (one gzip member per record, the
    // real layout) written once per process, read back through Spark's
    // binaryFile source, member-split by the concatenated-member gunzip,
    // and parsed by the SAME warcRecords chain. chunk_id recovers from
    // the archive file name. Shares q_warc_records' oracle outright —
    // which IS the gate: the disk round trip (gzip encode → file write →
    // binaryFile read → gunzip) must reproduce every parsed field and
    // payload hash-exactly. BENCHED: the gunzip + file IO is this row's
    // own cost, the real front-door price of a crawl dump.
    "q_warc_file_ingest" -> ((s, d) =>
      Warc.parseRecords(
        Warc.readWarcGzFiles(s, warcGzEnsure(s, d) + "/*.warc.gz")
          .select(regexp_extract(col("path"), "chunk-([0-9]+)\\.warc\\.gz$", 1)
            .cast("long").as("chunk_id"), col("warc")),
        "chunk_id", "warc")
        .orderBy("chunk_id", "record_idx")),
    // The composed front door (verify-only: its benched time would
    // re-bill q_warc_records' parse while the extraction projection is
    // pruned under the bench's count action — the superset ruling):
    // WARC chunks → 200 text/html responses → main-content extraction,
    // i.e. raw crawl bytes to training text in ONE lazy plan. The
    // oracle re-derives content over the REPLAYED response payloads via
    // the parameterized html CTE chain.
    "q_warc_to_text" -> ((s, d) =>
      Warc.responseDocuments(warcChunks(t(s, d, "documents")), "chunk_id",
          "warc")
        .select(col("chunk_id"), col("record_idx"), col("url"),
          col("fetched_at"),
          TextAnalysis.extractMainContent(col("html")).as("content"))
        .withColumn("n_content_chars", length(col("content")).cast("long"))
        .orderBy("chunk_id", "record_idx")),
    // The END-TO-END crawl showcase (r12): raw WARC bytes → 200
    // text/html responses → jusText main-content extraction →
    // canonical-URL dedup (the decorated fixture URIs collide after
    // canonicalization) → word-count floor — the CommonCrawl front half
    // of a corpus build as ONE lazy plan, every stage replayed in
    // DuckDB (the parse CTEs + the parameterized html chain + the
    // canon chain + the floor). doc_id derives from the WARC record's
    // own identity (record_id "rec-<n>"), the natural key a crawl
    // pipeline carries forward.
    "q_pipeline_crawl_recipe" -> ((s, d) => {
      // spread() AFTER chunk construction: the WARC parse + jusText chain
      // is CPU-dense per chunk but the chunk agg's output is KB-small, so
      // AQE's byte-based coalescing would funnel it into one task (r17 opt)
      val resp = Warc.responseDocuments(
        spread(warcChunks(t(s, d, "documents"))), "chunk_id", "warc")
      val extracted = TextAnalysis.extractHtmlDf(
        resp.select(col("record_id"), col("url"), col("html")), "html")
      val withId = extracted.withColumn("doc_id",
        regexp_extract(col("record_id"), "rec-([0-9]+)", 1).cast("long"))
      Dedup.dedupByUrl(withId, "url", prefer = Seq(col("doc_id").asc))
        .select(col("doc_id"), col("url_canon"),
          col("html").as("content"),
          TextAnalysis.tokenCountWs(col("html")).cast("long").as("n_words"))
        .filter(col("n_words") >= 105L)
        .orderBy("doc_id")
    }),
    // GENUINE STREAMING crawl ingest (r12): the same responseDocuments
    // transform, unchanged, over a file-stream source drained
    // AvailableNow into a memory sink — the front door is map-only, so
    // it runs in Structured Streaming micro-batches with no state; the
    // oracle replays the batch derivation (the q_stream_daily_window
    // convention). Verify-only: stateless map work over the already-
    // benched parse (q_warc_records) plus the micro-batch floor the
    // three stateful streaming rows already price.
    "q_stream_warc_ingest" -> ((s, d) => {
      val src = warcStreamEnsure(s, d)
      val schema = s.read.parquet(src).schema
      val docs = Warc.responseDocuments(
        s.readStream.schema(schema).parquet(src), "chunk_id", "warc")
      val out = docs.select(col("chunk_id"), col("record_idx"), col("url"),
        md5(col("html")).as("html_md5"),
        length(col("html")).cast("long").as("n_html_chars"))
      val sink = "q_stream_warc_ingest_sink"
      withStreamStatePartitions(s) {
        val q = out.writeStream.format("memory").queryName(sink)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.table(sink).orderBy("chunk_id", "record_idx")
    }),
    // The .warc.gz codec gate (verify-only, the quality-gate ruling):
    // gunzip(gzip(chunk)) must round-trip every chunk EXACTLY (JDK-side
    // codec — not DuckDB-replayable, so the oracle pins constants), and
    // the record count parsed FROM THE GUNZIPPED side replays as
    // arithmetic over documents (1 warcinfo per chunk + request +
    // response per doc) — the gunzip output carries real load in the
    // comparison, not just a boolean.
    "q_warc_gz_gate" -> ((s, d) => {
      val chunks = warcChunks(t(s, d, "documents"))
      val rt = chunks.select(col("chunk_id"), col("warc").as("orig"),
        Warc.gunzipChunk(Warc.gzipChunk(col("warc"))).as("warc"))
      chunks.agg(count(lit(1)).as("n_chunks"))
        .crossJoin(rt.filter(col("warc").isNull ||
            col("warc") =!= col("orig"))
          .agg(count(lit(1)).as("__m")))
        .crossJoin(Warc.parseRecords(rt.select("chunk_id", "warc"),
            "chunk_id", "warc")
          .agg(count(lit(1)).as("n_records")))
        .select(col("n_chunks"), (col("__m") === 0L).as("roundtrip_exact"),
          col("n_records"))
    }),
    // Charset-sniffing ingest stage (r17, VERDICT r16 §next-5): twelve
    // deterministic payload variants per doc — UTF-8 with BOM, UTF-8
    // with an HTML meta, windows-1252 declared as iso-8859-1 (the WHATWG
    // label mapping), Shift_JIS with a meta, undeclared valid UTF-8,
    // undeclared windows-1252 (invalid as UTF-8 → fallback), GBK with a
    // meta, an HTTP-header-only declaration, and (late r17) the four
    // UNDECLARED legacy-CJK cases — Shift_JIS, GBK, EUC-KR, Big5 with
    // no BOM, no header, no meta, detected by the deterministic
    // script-coherence stage ('stat') — ENCODED to real bytes
    // engine-side and decoded back through the sniffing chain (BOM →
    // header → meta → XML decl → UTF-8 validation → script coherence →
    // cp1252). The decoded text must round-trip to the constructed
    // truth EXACTLY; DuckDB replays truth/charset/method per case, so
    // every detector stage and all five legacy decodes land in the
    // hash. Verify-only (fixture constructor + map-only natives — the
    // quality-gate ruling).
    "q_warc_charset" -> ((s, d) => {
      val k = pmod(col("doc_id"), lit(12)).cast("int")
      val idStr = col("doc_id").cast("string")
      def page(meta: String, body: Column): Column =
        concat(lit("<html><head>" + meta + "</head><body>"), body,
          lit("</body></html>"))
      val bodyUtf8 = concat(lit("café Grün 東京 #"), idStr)
      val bodyCp = concat(lit("café Grün £ © #"), idStr)
      val bodySjis = concat(lit("こんにちは世界 SJIS #"), idStr)
      val bodyGbk = concat(lit("中文网页内容 GBK #"), idStr)
      // the UNDECLARED legacy-CJK cases (late r17): no BOM, no header, no
      // meta — only the script-coherence stage ('stat') can save these
      // from the cp1252-fallback mojibake
      val bodyStatJa = concat(lit("こんにちは、世界のページです #"), idStr)
      val bodyStatZh = concat(lit("中文网页的内容测试数据示例 #"), idStr)
      val bodyStatKo = concat(lit("한국어 웹 페이지 내용 예시 #"), idStr)
      val bodyStatB5 = concat(lit("中文網頁的內容測試資料範例 #"), idStr)
      val truth =
        when(k === 1, page("<meta charset=\"utf-8\">", bodyUtf8))
          .when(k === 2, page("<meta http-equiv=\"Content-Type\" " +
            "content=\"text/html; charset=iso-8859-1\">", bodyCp))
          .when(k === 3, page("<meta charset=\"shift_jis\">", bodySjis))
          .when(k === 5 || k === 7, page("", bodyCp))
          .when(k === 6, page("<meta charset=\"gbk\">", bodyGbk))
          .when(k === 8, page("", bodyStatJa))
          .when(k === 9, page("", bodyStatZh))
          .when(k === 10, page("", bodyStatKo))
          .when(k === 11, page("", bodyStatB5))
          .otherwise(page("", bodyUtf8)) // cases 0 (BOM) and 4 (bare UTF-8)
      val enc =
        when(k === 2 || k === 5 || k === 7, lit("windows-1252"))
          .when(k === 3 || k === 8, lit("Shift_JIS"))
          .when(k === 6 || k === 9, lit("GBK"))
          .when(k === 10, lit("EUC-KR"))
          .when(k === 11, lit("Big5"))
          .otherwise(lit("UTF-8"))
      val enc0 = graft.expressions.CharsetExpressions.encodeCharset(truth, enc)
      val bytes =
        when(k === 0, concat(unhex(lit("EFBBBF")), enc0)).otherwise(enc0)
      // case 7 carries the charset in the HTTP Content-Type header only
      // (no BOM, no meta — the transport-layer declaration the WARC
      // chain's http_content_type field exists for)
      val hint = when(k === 7, lit("text/html; charset=iso-8859-1"))
        .otherwise(lit(""))
      t(s, d, "documents").select(col("doc_id"),
          Warc.payloadCharsetWithHint(bytes, hint).as("charset"),
          Warc.payloadCharsetMethodWithHint(bytes, hint).as("method"),
          Warc.decodePayloadWithHint(bytes, hint).as("text"))
        .orderBy("doc_id")
    }),
    // Trained Cavnar–Trenkle rank-profile language ID (late r10): profiles
    // from the labeled fixture, out-of-place scoring of every doc — all
    // exact-integer (row_number ranks, abs-diff sums, label-asc ties), so
    // the full train+score chain hash-replays in DuckDB. The fixture's
    // synthetic text makes the PREDICTIONS noise (labels don't correlate
    // with text — same caveat as the NB rows); what the oracle pins is the
    // rank/distance machinery.
    "q_text_langid_ct" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // classify consumes the model in one bounded collect (r11)
      val model = LangIdNgram.trainProfiles(docs, "lang", "text", topK = 64)
      LangIdNgram.classify(docs, "doc_id", "text", model).orderBy("doc_id")
    }),
    // Amortized probe form (r11) — the BENCHED langid row: load persisted
    // profiles, score every doc; classify self-pins the loaded model.
    // Train-per-run form above → verify-only, same oracle both rows.
    "q_text_langid_scored" -> ((s, d) => {
      val model = s.read.parquet(ensureModel(s, d, "langid")(
        LangIdNgram.trainProfiles(t(s, d, "documents"), "lang", "text",
          topK = 64)))
      LangIdNgram.classify(t(s, d, "documents"), "doc_id", "text", model)
        .orderBy("doc_id")
    }),
    "q_text_quality" -> ((s, d) => {
      val doc = t(s, d, "documents")
      val feats = TextAnalysis.qualityFeatures(col("text"))
      doc.select(col("doc_id") +: TextAnalysis.langId(col("text")).as("lang_id") +:
          TextAnalysis.tokenCountRegex(col("text")).as("n_tok_regex") +:
          feats.map { case (n, c) => c.as(n) }: _*)
        .orderBy("doc_id")
    }),
    "q_text_fingerprint" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fp"),
          TextAnalysis.rollingHash(col("text")).as("rh"))
        .orderBy("doc_id")),
    "q_text_top_ngrams" -> ((s, d) =>
      TextAnalysis.topNgrams(t(s, d, "documents"), "doc_id", "text", n = 3, k = 50)),
    "q_text_tfidf" -> ((s, d) =>
      TextAnalysis.tfIdf(t(s, d, "documents"), "doc_id", "text")
        .filter(col("id") < 20).orderBy("id", "term")),
    "q_text_bm25" -> ((s, d) =>
      TextAnalysis.bm25(t(s, d, "documents"), "doc_id", "text")
        .filter(col("id") < 20).orderBy("id", "term")),
    // BM25 retrieval (r12): query-batch top-k search. The scratch form
    // derives postings/df/stats from the corpus per run (the engine
    // shape: two hash-aggs + term-keyed join + per-query top-k window);
    // the probe form runs against the persisted term-bucketed inverted
    // index — partition-pruned to the query terms' buckets, O(query
    // terms) not O(corpus) — and must match the scratch form bit-for-bit
    // (both replay the SAME oracle SQL; DECIMAL(38,18) score sums make
    // the addition order-free across engines).
    "q_text_bm25_search" -> ((s, d) =>
      TextAnalysis.bm25Search(t(s, d, "documents"), "doc_id", "text",
        bm25Queries(s), "query_id", "qtext", k = 10)
        .orderBy("query_id", "rank")),
    "q_text_bm25_probe" -> ((s, d) =>
      TextAnalysis.bm25Probe(s, bm25EnsureIndex(s, d),
        bm25Queries(s), "query_id", "qtext", k = 10)
        .orderBy("query_id", "rank")),
    // BM25 DELETE gate (late r17 — the takedown verb, oracled to full
    // score precision): index the whole corpus, delete [50,80) TAGGED
    // and re-delivered, probe — the scores must equal the SAME score
    // replay run over documents MINUS the deleted range, so the
    // tombstone anti-join and the id-deduped df/N/avgdl corrections all
    // land in the hash at full value. Verify-only (index-per-run).
    "q_text_bm25_delete_gate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val path = tempDirCleaned("graft-bm25-delete") + "/idx"
      TextAnalysis.bm25WriteIndex(docs, "doc_id", "text", path,
        nBuckets = 16)
      val doomed = docs.filter(col("doc_id") >= 50 && col("doc_id") < 80)
        .select("doc_id")
      TextAnalysis.bm25DeleteIndex(doomed, "doc_id", path, Some("1"))
      TextAnalysis.bm25DeleteIndex(doomed, "doc_id", path, Some("1")) // replay
      TextAnalysis.bm25Probe(s, path, bm25Queries(s), "query_id", "qtext",
          k = 10)
        .orderBy("query_id", "rank")
    }),
    // Index-maintenance gate: index the first corpus half, APPEND the
    // second, probe — the result must equal full-corpus search exactly
    // (stale df/avgdl partials or bucket drift would surface here). Same
    // oracle SQL as the pair above; verify-only (builds its index per
    // run — the append-gate ruling, q_sim_pq_append precedent).
    "q_text_bm25_append_gate" -> ((s, d) => {
      val path = tempDirCleaned("graft-bm25-append") + "/idx"
      val docs = t(s, d, "documents")
      TextAnalysis.bm25WriteIndex(docs.filter(col("doc_id") < 120),
        "doc_id", "text", path, nBuckets = 16)
      // r17: the append runs TAGGED and is re-delivered — the BM25
      // postings/dfreq/stats rows are all additive, so a double append
      // would shift every probe score and break the shared oracle
      val batch2 = docs.filter(col("doc_id") >= 120)
      TextAnalysis.bm25AppendIndex(batch2, "doc_id", "text", path,
        Some("1"))
      TextAnalysis.bm25AppendIndex(batch2, "doc_id", "text", path,
        Some("1")) // replay
      TextAnalysis.bm25Probe(s, path, bm25Queries(s), "query_id", "qtext",
        k = 10).orderBy("query_id", "rank")
    }),
    // Compaction gate (r14, VERDICT r13 §next-5): write half, append
    // half, COMPACT the per-batch partials (terms → one row per
    // (term,bucket), stats → one row, postings → bucket-preserving
    // small-file rewrite, all atomically staged), then probe — shares
    // the full-rebuild oracle outright: N appends + compact must equal
    // the single rebuild for the hash to match. r17: the append is
    // tagged and re-delivered AFTER the compaction too (the marker
    // survives the staged swap).
    "q_text_bm25_compact_gate" -> ((s, d) => {
      val path = tempDirCleaned("graft-bm25-compact") + "/idx"
      val docs = t(s, d, "documents")
      TextAnalysis.bm25WriteIndex(docs.filter(col("doc_id") < 120),
        "doc_id", "text", path, nBuckets = 16)
      val batch2 = docs.filter(col("doc_id") >= 120)
      TextAnalysis.bm25AppendIndex(batch2, "doc_id", "text", path,
        Some("1"))
      TextAnalysis.bm25CompactIndex(s, path)
      TextAnalysis.bm25AppendIndex(batch2, "doc_id", "text", path,
        Some("1")) // post-compact replay: still a no-op
      TextAnalysis.bm25Probe(s, path, bm25Queries(s), "query_id", "qtext",
        k = 10).orderBy("query_id", "rank")
    }),
    // Phrase search (r12): exact consecutive-token lookup — the
    // decontamination-investigation query ("where does this benchmark
    // sentence appear"). Scratch form posexplodes the corpus; the probe
    // reads the SAME persisted BM25 index (its postings carry sorted
    // token positions) bucket-pruned to the phrase's terms. Pure integer
    // relational algebra (anchor trick), one shared oracle for both.
    "q_text_phrase_search" -> ((s, d) =>
      TextAnalysis.phraseSearch(t(s, d, "documents"), "doc_id", "text",
        phraseQueries(s), "query_id", "qtext")
        .orderBy("query_id", "doc_id")),
    "q_text_phrase_probe" -> ((s, d) =>
      TextAnalysis.phraseProbe(s, bm25EnsureIndex(s, d),
        phraseQueries(s), "query_id", "qtext")
        .orderBy("query_id", "doc_id")),
    // Hybrid retrieval (r12): the two-arm search stack every production
    // retrieval pipeline runs — BM25 over the persisted inverted index
    // (lexical arm, amortized-probe form) + integer-exact quantized
    // brute-force cosine over embeddings (dense arm, the
    // q_sim_bruteforce_topk contract; query vectors are the embeddings
    // whose vec_id equals the text query_id — the aligned-fixture
    // bridge for "a query has both text and an embedding") — fused by
    // reciprocal rank fusion (Cormack et al. 2009, k=60). The fused
    // score is fixed-point BIGINT (Σ round(1e12/(60+rank)) — order-free
    // integer sum), so the WHOLE hybrid chain replays hash-green in
    // DuckDB: both arms' rankings AND the fusion arithmetic.
    "q_ret_hybrid_rrf" -> ((s, d) => {
      val lex = TextAnalysis.bm25Probe(s, bm25EnsureIndex(s, d),
          bm25Queries(s), "query_id", "qtext", k = 10)
        .select(col("query_id"), col("doc_id").as("id"), col("rank"))
      val dense = Retrieval.denseTopKQuantized(t(s, d, "embeddings"),
        "vec_id", "embedding", Seq(1L, 2L, 3L), k = 10)
      Retrieval.rrfFuse(Seq(lex, dense), topK = 10)
        .orderBy("query_id", "rank")
    }),
    // Retrieval evaluation (r12): recall@10 / MRR@10 / nDCG@10 of the
    // dense-arm ranking against residue-constructed graded qrels — all
    // fixed-point BIGINT (discount table generated ONCE in Scala and
    // injected into both engines as literals), query 3 judgment-free so
    // the NULL 0/0 branch is in the hash. Macro = the mean over defined
    // queries; verify-only (it re-aggregates the benched metrics chain).
    "q_ret_eval_metrics" -> ((s, d) =>
      Retrieval.evaluateRanking(
        Retrieval.denseTopKQuantized(t(s, d, "embeddings"),
          "vec_id", "embedding", Seq(1L, 2L, 3L), k = 10),
        evalQrels(s, d), k = 10)
        .orderBy("query_id")),
    "q_ret_eval_macro" -> ((s, d) =>
      Retrieval.macroAverages(Retrieval.evaluateRanking(
        Retrieval.denseTopKQuantized(t(s, d, "embeddings"),
          "vec_id", "embedding", Seq(1L, 2L, 3L), k = 10),
        evalQrels(s, d), k = 10))),
    // MMR diversification (r12): rerank each query's dense-arm top-8 by
    // λ·rel − (1−λ)·max-sim-to-selected (λ=0.70), all quantized-dot
    // units — the greedy selection replayed step-for-step in DuckDB.
    "q_ret_mmr_rerank" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cand = Retrieval.denseTopKQuantized(emb, "vec_id", "embedding",
          Seq(1L, 2L, 3L), k = 8)
        .select(col("query_id"), col("id"), col("score").as("rel"))
        .join(emb.select(col("vec_id").as("id"),
          col("embedding").as("vec")), Seq("id"))
      Retrieval.mmrRerank(cand, k = 4, lambdaPct = 70)
        .orderBy("query_id", "pos")
    }),
    // Web link graph (r12): outlink extraction from the constructed
    // link pages (href quoting + entity decode + visible anchor text),
    // the resolveUrl rule chain (absolute / protocol-relative /
    // root-relative / NULL), host-graph construction, and integer
    // fixed-point PageRank — every stage replayed in DuckDB. The
    // anchor-text aggregation re-runs the links chain + one agg —
    // verify-only per the superset ruling; pagerank's graph stages are
    // its own (edges + 10 iterations), so both stay benched.
    "q_web_links" -> ((s, d) => {
      val links = WebGraph.extractLinks(
        linkPages(t(s, d, "documents")), Seq("doc_id", "url"), "html")
      links.withColumn("resolved",
          WebGraph.resolveUrl(col("url"), col("href")))
        .orderBy("doc_id", "link_idx")
    }),
    "q_web_pagerank" -> ((s, d) => {
      val links = WebGraph.extractLinks(
          linkPages(t(s, d, "documents")), Seq("doc_id", "url"), "html")
        .withColumn("resolved", WebGraph.resolveUrl(col("url"), col("href")))
      WebGraph.pageRank(WebGraph.hostLinkGraph(links, "url", "resolved"),
          iterations = 10)
        .orderBy("host")
    }),
    "q_web_anchor_text" -> ((s, d) => {
      val links = WebGraph.extractLinks(
          linkPages(t(s, d, "documents")), Seq("doc_id", "url"), "html")
        .withColumn("resolved", WebGraph.resolveUrl(col("url"), col("href")))
      WebGraph.anchorTextByHost(links, "url", "resolved", "anchor_text")
        .orderBy("dst_host")
    }),
    // The amortized probe: PageRank over the PERSISTED graph (built
    // once as write + additive append across an even/odd page split) —
    // shares the scratch query's oracle outright, which IS the
    // probe==scratch gate: summed partials must equal the all-at-once
    // graph for the hash to match.
    "q_web_pagerank_indexed" -> ((s, d) =>
      WebGraph.pageRankIndexed(s, webIdxEnsure(s, d), iterations = 10)
        .orderBy("host")),
    // The DISTRIBUTED PageRank twin, benched (r15, VERDICT r14
    // §next-7): same persisted graph and iterations with
    // localEdgeLimit = 0 forcing the per-iteration edge-join + dst-agg
    // loop — the 100 TB path finally lands in a bench artifact (it was
    // previously only spec-pinned bit-identical to the driver loop).
    // Shares the scratch oracle outright: bit-identical by the
    // fixed-point construction, so the hash IS the twin-equality gate
    // re-proven per round.
    // r16 (VERDICT r15 §next-1b): benched at 3 iterations, not 10 — at
    // fixture scale the twin's cost is ~30 scheduler jobs of FIXED
    // overhead on a tens-of-hosts graph (~11 s of the r15 record's
    // discretionary spend), and 3 iterations exercise the identical
    // per-iteration plan. Twin equality at FULL depth stays proven: the
    // WebGraphSpec driver==distributed pins run unchanged, and the
    // 10-iteration driver-loop rows stay oracled. The oracle here
    // unrolls the same 3 rounds — still a bit-exact hash gate.
    "q_web_pagerank_dist" -> ((s, d) =>
      WebGraph.pageRankIndexed(s, webIdxEnsure(s, d), iterations = 3,
          localEdgeLimit = 0L)
        .orderBy("host")),
    // Compaction gate, graph family (r14): per-batch edge partials
    // folded to one row per host pair, then the SAME 10-iteration
    // PageRank — shares the scratch oracle outright (append + compact
    // == single rebuild, to the bit).
    "q_web_pagerank_compacted" -> ((s, d) => {
      val path = tempDirCleaned("graft-webidx-compact")
      def edgesOf(cond: Column): DataFrame = {
        val links = WebGraph.extractLinks(
            linkPages(t(s, d, "documents").filter(cond)),
            Seq("doc_id", "url"), "html")
          .withColumn("resolved",
            WebGraph.resolveUrl(col("url"), col("href")))
        WebGraph.hostLinkGraph(links, "url", "resolved")
      }
      WebGraph.writeIndex(edgesOf(col("doc_id") % 2 === 0), path)
      WebGraph.appendIndex(edgesOf(col("doc_id") % 2 =!= 0), path)
      WebGraph.compactIndex(s, path)
      WebGraph.pageRankIndexed(s, path, iterations = 10).orderBy("host")
    }),
    // Warm-start rank maintenance gate (r16, VERDICT r15 §next-4):
    // build the persisted graph from the even half of a synthetic
    // residue edge set (src = doc_id%7 host, dst = (doc_id²+3)%11 host
    // — non-regular in-degrees, every dst dangling, so the fixpoint is
    // non-uniform and the dangling leg is exercised), converge + store
    // the rank snapshot, append the odd half (additive weight partials
    // on the SAME pairs — the steady-state crawl shape), then
    // warm-converge from the stored vector. Hash pins: the fixed-budget
    // 200-iteration cold vector bit-equals the unrolled oracle, the
    // warm fixpoint sits within the tolerance-stop band of it, and the
    // warm probe stopped early. Verify-only: converges the same graph
    // three times per run (maintenance-gate ruling); the benched
    // reconvergence measurement is MergeBench's pagerank_warm_* rows.
    "q_web_pagerank_warm_gate" -> ((s, d) => {
      val path = tempDirCleaned("graft-warmgate")
      val docs = t(s, d, "documents")
      def eOf(cond: Column): DataFrame = docs.filter(cond)
        .select(
          concat(lit("s"), (col("doc_id") % 7).cast("string"))
            .as("src_host"),
          concat(lit("t"), ((col("doc_id") * col("doc_id") + 3) % 11)
            .cast("string")).as("dst_host"))
        .groupBy("src_host", "dst_host")
        .agg(count(lit(1)).as("weight"))
      WebGraph.writeIndex(eOf(col("doc_id") % 2 === 0), path)
      WebGraph.pageRankIndexedWarm(s, path) // cold converge + snapshot
      WebGraph.appendIndex(eOf(col("doc_id") % 2 =!= 0), path)
      val (warm, itW) = WebGraph.pageRankIndexedWarm(s, path)
      val cold200 = WebGraph.pageRank(
        WebGraph.readIndexEdges(s, path), iterations = 200)
      cold200
        .join(warm.select(col("host"), col("rank_scaled").as("__warm")),
          Seq("host"))
        .select(col("host"), col("rank_scaled"),
          (abs(col("__warm") - col("rank_scaled")) <= 1024L)
            .as("warm_in_band"),
          lit(itW < 200).as("warm_converged_early"))
        .orderBy("host")
    }),
    // Registered-domain (eTLD+1) extraction (r14; LOWERCASED since r15
    // per ADVICE r14 — case-variant hosts of one registrant are one
    // group): the registrant-level key crawl budgets and mirror
    // policies group on. Constructed hosts exercise every branch per
    // row: plain 3-label (→ eTLD+1), multi-label public suffix at 3
    // and 5 labels (case-insensitive suffix match AND case-folded
    // output), 2-label pass-through, single-label pass-through.
    "q_web_registered_domain" -> ((s, d) => {
      val id = col("doc_id")
      val host = when(id % 6 === 0,
          concat(lit("site"), (id % 7).cast("string"), lit(".example.com")))
        .when(id % 6 === 1,
          concat(lit("www.shop"), (id % 5).cast("string"), lit(".CO.UK")))
        .when(id % 6 === 2,
          concat(lit("a.b.news"), (id % 3).cast("string"), lit(".com.au")))
        .when(id % 6 === 3,
          concat(lit("example"), (id % 4).cast("string"), lit(".org")))
        .when(id % 6 === 4,
          concat(lit("cdn"), (id % 5).cast("string"), lit(".img.example.co.jp")))
        .otherwise(lit("localhost"))
      t(s, d, "documents")
        .select(id, host.as("host"))
        .withColumn("reg_domain", WebGraph.registeredDomain(col("host")))
        .orderBy("doc_id")
    }),
    // FULL public-suffix-list evaluation (r15, VERDICT r14 §next-2):
    // the publicsuffix.org algorithm — longest-suffix match, wildcard
    // (*.ck, *.kawasaki.jp), exception (!www.ck, !city.kawasaki.jp),
    // private suffixes (github.io), implicit-* default, trailing-dot
    // strip, case folding — over a rules TABLE parsed from verbatim
    // PSL-format lines. Every rule class exercised per row (doc_id %
    // 12 branches); the oracle replays candidate generation → rule
    // join → exception-first/longest-wins resolution from the SAME
    // parsed rules as VALUES.
    "q_web_psl_domain" -> ((s, d) => {
      val id = col("doc_id")
      val host = when(id % 12 === 0,
          concat(lit("www.site"), (id % 7).cast("string"),
            lit(".example.com")))
        .when(id % 12 === 1,
          concat(lit("shop"), (id % 5).cast("string"),
            lit(".example.CO.UK")))
        .when(id % 12 === 2,
          concat(lit("user"), (id % 9).cast("string"), lit(".github.io")))
        .when(id % 12 === 3,
          concat(lit("a.user"), (id % 9).cast("string"), lit(".github.io")))
        .when(id % 12 === 4, lit("www.ck"))
        .when(id % 12 === 5,
          concat(lit("shop"), (id % 3).cast("string"), lit(".www.ck")))
        .when(id % 12 === 6,
          concat(lit("a"), (id % 4).cast("string"), lit(".b.ck")))
        .when(id % 12 === 7,
          concat(lit("b"), (id % 4).cast("string"), lit(".ck")))
        .when(id % 12 === 8, lit("city.kawasaki.jp"))
        .when(id % 12 === 9,
          concat(lit("x"), (id % 6).cast("string"),
            lit(".town.kawasaki.jp")))
        .when(id % 12 === 10,
          concat(lit("sub.example"), (id % 5).cast("string"),
            lit(".unlisted")))
        .otherwise(concat(lit("www.example"), (id % 5).cast("string"),
          lit(".com.")))
      WebGraph.registeredDomainPsl(
          t(s, d, "documents").select(id, host.as("host")),
          "host", WebGraph.pslRulesDf(s))
        .select(col("doc_id"), col("host"), col("reg_domain"))
        .orderBy("doc_id")
    }),
    // Host-level mirror detection (r14): hosts sharing exact content
    // fingerprints pair through an fp-keyed join (never host×host) —
    // consecutive fixture hosts share every even/odd content pair, and
    // the planted boilerplate page (every host, %13 docs) is EXCLUDED
    // by the hot-fp guard (maxHostsPerFp=6 < the 7 fixture hosts), so
    // the guard's effect lands in the hash. Exact fixed-point Jaccard
    // over full per-host fp set sizes.
    "q_web_mirrors" -> ((s, d) => {
      val md = t(s, d, "documents").select(
        concat(lit("site"), (col("doc_id") % 7).cast("string"),
          lit(".example.com")).as("host"),
        when(col("doc_id") % 13 === 0, lit("boilerplate footer page"))
          .otherwise(concat(lit("content-"), expr("doc_id div 2")))
          .as("text"))
      WebGraph.mirrorCandidates(md, "host", "text", minShared = 2,
          maxHostsPerFp = 6)
        .orderBy("host_a", "host_b")
    }),
    // HITS hubs & authorities (r14): the other link-quality signal
    // beside PageRank, over the SAME persisted graph — 8 mutual-
    // reinforcement rounds in integer fixed-point, each half-step
    // renormalized by one integer division, replayed round-for-round
    // in DuckDB (the pageRank unrolled-CTE convention). BENCHED: the
    // double half-step iteration (2 joins + 2 aggs + 2 scalars per
    // round) is its own engine shape, distinct from PageRank's single
    // contrib join.
    "q_web_hits" -> ((s, d) =>
      WebGraph.hitsIndexed(s, webIdxEnsure(s, d), iterations = 8)
        .orderBy("host")),
    // The DISTRIBUTED HITS twin, benched (r15 — the q_web_pagerank_dist
    // symmetry): localEdgeLimit = 0 forces the per-iteration
    // two-join + two-agg + two-scalar loop; shares the scratch oracle
    // (bit-identical integer fixed point), so the hash re-proves the
    // twin equality per round.
    // r16: 3 iterations for the same fixed-overhead reason as
    // q_web_pagerank_dist (the per-iteration plan is what the bench
    // must price; depth multiplies only scheduler overhead at fixture
    // scale); the oracle unrolls the same 3 rounds.
    "q_web_hits_dist" -> ((s, d) =>
      WebGraph.hitsIndexed(s, webIdxEnsure(s, d), iterations = 3,
          localEdgeLimit = 0L)
        .orderBy("host")),
    // Crawl-budget apportionment (r13): split 1000 fetch slots across
    // hosts ∝ their PageRank by the largest-remainder method — exact
    // integers summing to the budget precisely, replayed quota-for-quota
    // in DuckDB (floor quotas + remainder rank with host-asc ties), with
    // the per-host cap branch in the hash. Runs over the PERSISTED graph
    // (the amortized probe form); verify-only — it recomputes the
    // benched indexed PageRank (superset ruling).
    "q_web_crawl_budget" -> ((s, d) =>
      WebGraph.apportionBudget(
          WebGraph.pageRankIndexed(s, webIdxEnsure(s, d), iterations = 10),
          "host", "rank_scaled", total = 1000L, maxPerHost = 400L)
        .orderBy("host")),
    // Crawl budget at the REGISTRANT level (r15): the
    // quota-multiplication fix composed end-to-end — per-host PageRank
    // mass groups by the full-PSL registrable domain (the seven
    // site*.example.com subdomains collapse into example.com, the
    // dangling ext*.example.org targets into example.org), then the
    // SAME largest-remainder apportionment splits the global budget
    // per REGISTRANT, so a host farm cannot multiply its quota by
    // minting subdomains. Oracle splices the PageRank CTEs, the shared
    // PSL chain, and the Hamilton replay. Verify-only (recomputes the
    // benched indexed PageRank — the q_web_crawl_budget ruling).
    "q_web_budget_registrant" -> ((s, d) => {
      val ranks = WebGraph.pageRankIndexed(s, webIdxEnsure(s, d),
        iterations = 10)
      val byReg = WebGraph.registeredDomainPsl(ranks, "host",
          WebGraph.pslRulesDf(s))
        .groupBy("reg_domain").agg(sum("rank_scaled").as("rank_scaled"))
      WebGraph.apportionBudget(byReg, "reg_domain", "rank_scaled",
          total = 1000L, maxPerHost = 400L)
        .orderBy("reg_domain")
    }),
    // Streaming link extraction: the SAME extractLinks + resolveUrl
    // transform over a file-stream source drained AvailableNow into a
    // memory sink — a genuine streaming execution oracled against the
    // batch chain (shares q_web_links' oracle outright). The front door
    // is map-only, so streaming crawl-link ingest needs no new code:
    // the q_stream_warc_ingest argument, link-side. Verify-only
    // (stateless map work over the already-benched extraction).
    "q_stream_web_links" -> ((s, d) => {
      val src = webStreamEnsure(s, d)
      val schema = s.read.parquet(src).schema
      val links = WebGraph.extractLinks(
          s.readStream.schema(schema).parquet(src),
          Seq("doc_id", "url"), "html")
        .withColumn("resolved", WebGraph.resolveUrl(col("url"), col("href")))
      val sink = "q_stream_web_links_sink"
      withStreamStatePartitions(s) {
        val q = links.writeStream.format("memory").queryName(sink)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.table(sink).orderBy("doc_id", "link_idx")
    }),
    // The incremental crawl loop end-to-end (r13, VERDICT r12 §next-7):
    // half the pages land as the index's batch base, the other half
    // STREAM in — each micro-batch's host-pair counts appended as
    // additive partials via foreachBatch — and the summed index must
    // equal the batch-rebuilt graph over all pages, hash-exact against
    // the DuckDB edges replay (integer partial counts commute; a lost,
    // doubled, or mis-keyed batch breaks the weight sums). Verify-only:
    // a write-then-read gate re-running the benched extraction
    // (quality-gate ruling).
    "q_stream_web_append_gate" -> ((s, d) => {
      val idx = tempDirCleaned("graft-webappend") + "/idx"
      def linksOf(df: DataFrame): DataFrame =
        WebGraph.extractLinks(df, Seq("doc_id", "url"), "html")
          .withColumn("resolved",
            WebGraph.resolveUrl(col("url"), col("href")))
      WebGraph.writeIndex(WebGraph.hostLinkGraph(
        linksOf(linkPages(
          t(s, d, "documents").filter(col("doc_id") % 2 === 0))),
        "url", "resolved"), idx)
      val src = webStreamEnsure(s, d)
      val schema = s.read.parquet(src).schema
      val stream = linksOf(s.readStream.schema(schema).parquet(src)
        .filter(col("doc_id") % 2 =!= 0))
      withStreamStatePartitions(s) {
        val q = stream.writeStream
          .foreachBatch { (b: DataFrame, id: Long) =>
            // r17: tagged — edge weights are additive partials, so the
            // exactly-once marker protocol guards the genuine
            // foreachBatch path inside this oracled hash
            WebGraph.appendIndex(
              WebGraph.hostLinkGraph(b, "url", "resolved"), idx,
              batchTag = Some(id.toString))
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      WebGraph.readIndexEdges(s, idx).orderBy("src_host", "dst_host")
    }),
    // Streaming CDC into a DATABASE (r14, EXACTLY-ONCE since r15): the
    // orders source arrives as FOUR genuine micro-batches
    // (maxFilesPerTrigger=1 over a 4-file copy), each shipping only its
    // deltas over JDBC into the Derby target through the transactional
    // batch-ledger sink (VERDICT r14 §next-4 — replayed batch ids are
    // no-ops, conditional INSERTs close the task-retry residue). The
    // final table must converge to the SAME orders truth as the
    // one-shot batch apply — per-key convergence is
    // batch-split-invariant because the batches partition the keys —
    // and the post-stream reclassify must be all-skip. Verify-only
    // (re-bootstraps its Derby target per run, the append-gate ruling).
    "q_stream_jdbc_cdc_gate" -> ((s, d) => {
      val url = derbyUrl(d)
      val props = derbyProps
      Sinks.jdbcWrite(mergeTargetAudited(s, d), url, "ORDERS_STRM", props,
        columnTypes = Some(jdbcOrdersDdl))
      // ledger resets WITH its target (in-process re-runs replay ids 0-3)
      derbyDropIfExists(url, Sinks.jdbcLedgerTable("ORDERS_STRM"))
      val src = ordersStreamEnsure(s, d)
      val schema = s.read.parquet(src).schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
      withStreamStatePartitions(s) {
        val q = stream.writeStream
          .foreachBatch(Streams.cdcToJdbcEachBatchExactlyOnce(url,
            "ORDERS_STRM", Seq("o_orderkey"), props,
            (_: Long) => jdbcNowTs))
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      jdbcConvergenceAgg(
        Sinks.jdbcScan(s, url, "ORDERS_STRM", props),
        Merge.classify(t(s, d, "orders"),
          Sinks.jdbcTargetState(s, url, "ORDERS_STRM", Seq("o_orderkey"),
            props),
          Seq("o_orderkey")))
    }),
    // Exactly-once CMS appends under a GENUINE foreachBatch stream (r17,
    // VERDICT r16 §next-3): even-orderkey keys create the index, the odd
    // half STREAMS in as one micro-batch per grp partition, each batch
    // appended through the per-batch-marker protocol with a tag derived
    // from the batch's own partition key (restart-stable, unlike the
    // engine's batch numbering). After the stream drains, the ENTIRE odd
    // half is re-delivered through the same function — the double
    // delivery every crash-replay reduces to — and every group must
    // no-op: CMS is additive, so one duplicated batch inflates the
    // exact-oracled per-supplier counts and breaks this hash.
    // Verify-only (index-per-run, the append-gate ruling).
    "q_stream_cms_replay_gate" -> ((s, d) => {
      val path = tempDirCleaned("graft-cmsreplay")
      val li = t(s, d, "lineitem")
      graft.operators.Skew.cmsWriteIndex(
        li.filter(col("l_orderkey") % 2 === 0), "l_suppkey", path)
      val src = cmsStreamEnsure(s, d)
      val schema = s.read.parquet(src).schema
      val appendBatch: (DataFrame, Long) => Unit = { (b, _) =>
        val groups = b.select(col("grp")).distinct().collect()
          .map(_.getInt(0)).sorted
        groups.foreach { g =>
          graft.operators.Skew.cmsAppendIndex(
            b.filter(col("grp") === g).select(col("l_suppkey")), path,
            Some(s"g$g"))
        }
      }
      withStreamStatePartitions(s) {
        val q = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(src)
          .writeStream.foreachBatch(appendBatch)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      appendBatch(s.read.parquet(src), -1L) // the double delivery: all no-op
      graft.operators.Skew.cmsEstimateIndex(s, path,
          t(s, d, "supplier"), "s_suppkey")
        .orderBy(col("est_count").desc, col("key").asc)
        .limit(20)
    }),
    // robots.txt (r12): crawl politeness — the stage BEFORE fetching.
    // Parse: line explode + two host-keyed window passes (grouping per
    // RFC 9309, consecutive User-agent lines share a group). Evaluate:
    // exact-agent-else-star group selection, longest-match with allow
    // winning ties, default allow — the rule regexes generated by the
    // SAME fixed-order escape chain in both engines.
    "q_web_robots_rules" -> ((s, d) =>
      Robots.parseRobots(robotsDocs(s, d), Seq("host"), "txt")
        .orderBy("host", "line_idx")),
    "q_web_robots_allowed" -> ((s, d) =>
      Robots.evaluateRobots(
          Robots.parseRobots(robotsDocs(s, d), Seq("host"), "txt"),
          "host", robotsUrls(s, d), Seq("doc_id"), "graftbot")
        .orderBy("doc_id")),
    // Sitemap parsing (r12): the other half of crawl discovery —
    // per-host sitemaps (entries + one index entry) to (kind, loc,
    // lastmod, changefreq, priority) rows, loc entity-decoded per the
    // protocol, dates via try_cast.
    "q_web_sitemap" -> ((s, d) =>
      Robots.parseSitemap(sitemapDocs(s, d), Seq("host"), "xml")
        .orderBy("host", "entry_idx")),
    // Sitemap-DISCOVERED frontier (r13): the full discovery → politeness
    // → schedule chain over URLs the sitemaps name (not a constructed
    // frontier) — parse sitemaps, derive each loc's path+query, evaluate
    // robots for the agent, space the allowed URLs into delay-aware
    // fetch slots ordered by the sitemap's own priority hints (nulls
    // last, entry order ties). Verify-only: recomputes the benched
    // sitemap parse + robots evaluation (superset ruling); its novelty
    // is the composition being hash-exact end-to-end.
    // Recrawl scheduling from sitemap freshness hints (r13): changefreq
    // → integer recrawl interval (never → NULL, unknown → the default),
    // due = stale by at least the interval since lastmod OR lastmod
    // unknown — all exact date/integer arithmetic, the incremental
    // crawl's "what to refetch this cycle" policy. Verify-only
    // (recomputes the benched sitemap parse — superset ruling).
    "q_web_recrawl" -> ((s, d) =>
      Robots.recrawlSchedule(
          Robots.parseSitemap(sitemapDocs(s, d), Seq("host"), "xml"),
          asOfDate = "2024-02-15")
        .select(col("host"), col("entry_idx"), col("loc"),
          col("changefreq"), col("lastmod_date"), col("interval_hours"),
          col("stale_hours"), col("due"))
        .orderBy("host", "entry_idx")),
    // Unified crawl plan (r14, VERDICT r13 §next-7): the r13 pieces
    // composed end-to-end in ONE lazy plan — the recrawl DUE set
    // (sitemap freshness policy) is the frontier source, per-host
    // quotas come from the PageRank-proportional budget apportionment
    // over the persisted graph (capped at 400), and each host's due
    // URLs are ranked (priority desc nulls last, sitemap entry order)
    // into delay-aware fetch slots with only the top-quota kept. Slot
    // times are rank arithmetic, so the cap never perturbs surviving
    // slots. Replayed due→quota→slot in DuckDB (the frontier-sitemap
    // splice pattern). Verify-only: recomputes the benched indexed
    // PageRank + sitemap parse + robots delays (superset ruling).
    "q_web_crawl_plan" -> ((s, d) => {
      val due = Robots.recrawlSchedule(
          Robots.parseSitemap(sitemapDocs(s, d), Seq("host"), "xml"),
          asOfDate = "2024-02-15")
        .filter(col("due"))
        .select(col("host"), col("entry_idx"), col("loc"), col("priority"))
      val quota = WebGraph.apportionBudget(
          WebGraph.pageRankIndexed(s, webIdxEnsure(s, d), iterations = 10),
          "host", "rank_scaled", total = 1000L, maxPerHost = 400L)
        .select(col("host"), col("budget"))
      Robots.scheduleFrontier(due.join(quota, Seq("host")), "host",
          Robots.crawlDelays(
            Robots.parseRobots(robotsDocs(s, d), Seq("host"), "txt"),
            "host", "graftbot"),
          orderCols = Seq(col("priority").desc_nulls_last, col("entry_idx")))
        .filter(col("fetch_rank") <= col("budget"))
        .select(col("host"), col("entry_idx").cast("int").as("entry_idx"),
          col("loc"), col("priority"), col("budget"),
          col("crawl_delay_ms"), col("fetch_rank"), col("fetch_slot_ms"))
        .orderBy("host", "fetch_rank")
    }),
    "q_web_frontier_sitemap" -> ((s, d) => {
      val parsed = Robots.parseRobots(robotsDocs(s, d), Seq("host"), "txt")
      val urls = Robots.parseSitemap(sitemapDocs(s, d), Seq("host"), "xml")
        .filter(col("kind") === "url")
        .select(col("host"), col("entry_idx"), col("loc"), col("priority"),
          concat(col("host"), lit("#"), col("entry_idx").cast("string"))
            .as("uid"),
          // the SHARED origin pattern (WebGraph.UrlOriginRe) — inline
          // copies drift (second-pass review r13)
          coalesce(nullif(regexp_replace(col("loc"),
            WebGraph.UrlOriginRe, ""), lit("")), lit("/"))
            .as("url_path"))
      val allowed = Robots.evaluateRobots(parsed, "host",
          urls.select("uid", "host", "url_path"), Seq("uid"), "graftbot")
        .filter(col("allowed"))
        .join(urls.select("uid", "entry_idx", "loc", "priority"), Seq("uid"))
      Robots.scheduleFrontier(allowed, "host",
          Robots.crawlDelays(parsed, "host", "graftbot"),
          orderCols = Seq(col("priority").desc_nulls_last,
            col("entry_idx").asc))
        .select(col("host"), col("entry_idx"), col("loc"), col("url_path"),
          col("priority"), col("crawl_delay_ms"), col("fetch_rank"),
          col("fetch_slot_ms"))
        .orderBy("host", "fetch_rank")
    }),
    // The crawl-frontier showcase: politeness × quality in ONE plan —
    // robots-allowed frontier URLs ordered by their host's PageRank
    // (fetch the best-ranked permitted pages first, the crawl-scheduler
    // query). Verify-only: it recomputes the benched robots evaluation
    // and the benched PageRank chain (superset ruling); its value is
    // the composed END-TO-END replay.
    // Crawl-delay-aware frontier scheduling (r13, VERDICT r12 §next-2):
    // per-host delays from the agent's SELECTED groups (the eval's own
    // group-selection rule — exact beats star, pinned by the fixture's
    // conflicting star/exact delays), each host's allowed URLs spaced
    // into fetch slots `(rank−1) × delay_ms` by pure window arithmetic.
    // Verify-only: it recomputes the benched robots evaluation (the
    // superset ruling); the scheduling window is its own hash-green
    // novelty, including the no-delay default branch (h%3==1 hosts).
    "q_web_frontier_sched" -> ((s, d) => {
      val parsed = Robots.parseRobots(robotsDocs(s, d), Seq("host"), "txt")
      val allowed = Robots.evaluateRobots(parsed, "host", robotsUrls(s, d),
          Seq("doc_id"), "graftbot")
        .filter(col("allowed"))
        .select("doc_id", "host", "url_path")
      Robots.scheduleFrontier(allowed, "host",
          Robots.crawlDelays(parsed, "host", "graftbot"),
          orderCols = Seq(col("doc_id").asc))
        .orderBy("doc_id")
    }),
    "q_web_frontier" -> ((s, d) => {
      val parsed = Robots.parseRobots(robotsDocs(s, d), Seq("host"), "txt")
      val allowed = Robots.evaluateRobots(parsed, "host", robotsUrls(s, d),
          Seq("doc_id"), "graftbot")
        .filter(col("allowed"))
        .select("doc_id", "host", "url_path")
      val links = WebGraph.extractLinks(
          linkPages(t(s, d, "documents")), Seq("doc_id", "url"), "html")
        .withColumn("resolved", WebGraph.resolveUrl(col("url"), col("href")))
      val ranks = WebGraph.pageRank(
        WebGraph.hostLinkGraph(links, "url", "resolved"), iterations = 10)
      val ranked = allowed.join(ranks, Seq("host"), "left")
        .select(col("doc_id"), col("host"), col("url_path"),
          coalesce(col("rank_scaled"), lit(0L)).as("rank_scaled"))
      // politeness × quality: within each host fetch best-ranked pages
      // first; the slot spacing rides the host's crawl delay (r13)
      Robots.scheduleFrontier(ranked, "host",
          Robots.crawlDelays(parsed, "host", "graftbot"),
          orderCols = Seq(col("rank_scaled").desc, col("doc_id").asc))
        .orderBy(col("rank_scaled").desc, col("doc_id")).limit(100)
    }),
    // Sentence segmentation (r12): the line-below-document granularity
    // every chunker/quality rule ultimately wants — constructed text
    // planting abbreviations, a quoted terminator, a question boundary,
    // and the raw fixture tail; one row per (doc, sentence) with its
    // word count. The whole protect/mark/split chain replays in DuckDB
    // from the same constants.
    "q_text_sentences" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"), concat(
          lit("Dr. Smith read doc "), col("doc_id").cast("string"),
          lit(". It was e.g. quite long! Case "),
          (col("doc_id") % 5).cast("string"),
          lit(" came up? Yes. "),
          substring(coalesce(col("text"), lit("")), 1, 60)).as("txt"))
        .select(col("doc_id"),
          posexplode(TextAnalysis.splitSentences(col("txt")))
            .as(Seq("sent_idx", "sentence")))
        .select(col("doc_id"), col("sent_idx").cast("int").as("sent_idx"),
          col("sentence"),
          size(TextAnalysis.words(col("sentence"))).as("n_words"))
        .orderBy("doc_id", "sent_idx")),
    // Generation-eval metrics (r12): ROUGE-2 per pair and corpus
    // BLEU-4 over token-sliced candidate/reference pairs — the clipped
    // n-gram counts come from ONE codegen'd per-row pass; the oracle
    // replays them as explode + count + least. The every-11th empty
    // candidate puts the NULL-denominator branch in the hash.
    "q_text_rouge2" -> ((s, d) =>
      TextMetrics.rougeN(metricPairs(s, d), Seq("doc_id"),
        "cand", "ref", n = 2).orderBy("doc_id")),
    "q_text_bleu" -> ((s, d) =>
      TextMetrics.bleuCorpus(metricPairs(s, d), "cand", "ref", maxN = 4)),
    "q_text_repetition" -> ((s, d) =>
      TextAnalysis.repetitionStats(t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")),
    // Deflate compression ratio (r11) — the cheap repetition/noise
    // signal complementing repetitionStats (compression catches longer-
    // period and near-repeats bigram counting can't). Rows-only: deflate
    // output is JDK-side, not DuckDB-replayable; pinned by the measured
    // gate below.
    "q_text_compress_ratio" -> ((s, d) => {
      val r = TextAnalysis.compressionRatio(col("text"))
      t(s, d, "documents").select(col("doc_id"),
          round(r, 6).as("compress_ratio"),
          (r.isNotNull && r >= 0.2 && r <= 0.9).as("keep"))
        .orderBy("doc_id")
    }),
    // Gate (verify-only): (a) a looping page built from each doc's own
    // prefix must compress strictly harder on average than the doc's
    // natural text — the signal's reason to exist, measured; (b) ratios
    // stay in (0, 1.1] corpus-wide (deflate overhead can exceed 1 only
    // slightly on tiny inputs). Truth side: the doc count.
    "q_text_compress_gate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val loop = TextAnalysis.compressionRatio(
        concat_ws(" ", Seq.fill(30)(substring(col("text"), 1, 12)): _*))
      val nat = TextAnalysis.compressionRatio(col("text"))
      docs.agg(
        count(lit(1)).as("n_docs"),
        (avg(loop) < avg(nat)).as("loop_compresses_harder"),
        (min(nat) > 0.0 && max(nat) <= 1.1).as("ratio_bounded"))
    }),
    // Bigram-LM perplexity filter (CCNet/KenLM stage): train on the corpus,
    // score every doc. The per-doc log sum runs in DECIMAL(38,18) so the
    // value is summation-order-independent; the only float ops are one
    // ln per distinct (doc, bigram) and one exp per doc. The driver row
    // projects both scores rounded to 6 decimals: the raw doubles agree
    // to ~1e-15 relative but the comparator PRINTS 13 significant digits,
    // and across 5000 rows one value landed on a 13th-digit rounding
    // boundary (measured at sf0.1) — rounding makes the boundary
    // exposure ~1e-8 per row instead of ~1e-3.
    "q_text_lm_perplexity" -> ((s, d) =>
      graft.operators.LanguageModel.perplexitySelf(
        t(s, d, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_bigrams"),
          round(col("cross_entropy"), 6).as("cross_entropy"),
          round(col("perplexity"), 6).as("perplexity"))
        .orderBy("doc_id")),
    // Interpolated Kneser-Ney perplexity (late r10): the smoothing KenLM
    // actually uses — absolute discount + continuation-probability
    // interpolation, every input an exact integer aggregate of the model
    // table, the probability a fixed IEEE expression replayed with
    // identical association, logs summed in DECIMAL(38,18), rounded-6
    // edges (the q_text_lm_perplexity contract). Hash-checked end-to-end.
    "q_text_lm_kn" -> ((s, d) =>
      graft.operators.LanguageModel.perplexityKneserNeySelf(
        t(s, d, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_bigrams"),
          round(col("cross_entropy"), 6).as("cross_entropy"),
          round(col("perplexity"), 6).as("perplexity"))
        .orderBy("doc_id")),
    // Order-3 interpolated KN (late r10): the KenLM recursion one order
    // up — trigram discounting backed by the bigram-KN estimate, five
    // model-keyed joins, both model tables integer aggregates. Same
    // portability contract; hash-checked end-to-end.
    "q_text_lm_kn3" -> ((s, d) =>
      graft.operators.LanguageModel.perplexityKneserNey3Self(
        t(s, d, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_trigrams"),
          round(col("cross_entropy"), 6).as("cross_entropy"),
          round(col("perplexity"), 6).as("perplexity"))
        .orderBy("doc_id")),
    // Stupid backoff (late r10): the web-scale smoothing — trigram count
    // ratios with fixed 0.4 backoff penalties, no continuation
    // statistics, deliberately unnormalized (Brants et al. 2007). Same
    // portability contract; hash-checked end-to-end.
    "q_text_lm_sb" -> ((s, d) =>
      graft.operators.LanguageModel.stupidBackoffScoreSelf(
        t(s, d, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_trigrams"),
          round(col("neg_log_score"), 6).as("neg_log_score"))
        .orderBy("doc_id")),
    // CCNet head/middle/tail perplexity bucketing (late r10): exact
    // interpolated third-percentile cutoffs over the rounded perplexity
    // (percentile == quantile_cont bit-for-bit, the quantile_filter
    // precedent), broadcast threshold assignment. Replays end-to-end in
    // DuckDB including the cutoff interpolation.
    "q_text_ppl_buckets" -> ((s, d) =>
      graft.operators.LanguageModel.perplexityBucketsSelf(
        t(s, d, "documents"), "doc_id", "text")
        .select("doc_id", "n_bigrams", "perplexity", "bucket")
        .orderBy("doc_id")),
    // BPE tokenizer (r9): one corpus pass to word counts, driver-side
    // merge loop over the vocab-scale table (guarded), native codegen'd
    // encode. Per-doc counts are rows-only (the merge table is an
    // engine-side artifact); the gate below pins the Σ self-consistency
    // invariant (encode(train corpus) = initial symbols − Σ applied
    // merges — exact, not approximate) with the initial-symbol total
    // oracled against DuckDB.
    "q_text_bpe_encode" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val merges = Bpe.trainBpe(docs, "text", numMerges = 20)
      docs.select(col("doc_id"),
          Bpe.bpeTokenCount(col("text"), merges).as("n_bpe_tokens"))
        .orderBy("doc_id")
    }),
    "q_text_bpe_gate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val merges = Bpe.trainBpe(docs, "text", numMerges = 20)
      docs.agg(
          sum(Bpe.initialTokenCount(col("text"))).as("n_init_tokens"),
          sum(Bpe.bpeTokenCount(col("text"), merges)).as("__after"))
        .select(col("n_init_tokens"),
          (col("n_init_tokens") ===
            col("__after") + lit(merges.map(_.appliedCount).sum)).as("consistency_ok"),
          lit(merges.length >= 10).as("trained_ok"))
    }),
    // BPE id sequences (r10, VERDICT r9 §next-3): the tokenizer stage a
    // trainer actually consumes — vocab-indexed id sequence per document
    // from the codegen'd native encode. Rows-only (ids are engine-side
    // model artifacts); the _gate below ties the sequences to the DuckDB
    // oracle through three EXACT integer invariants. The sequence is
    // projected through array_join (r7 q_sim_quantize ruling, re-affirmed
    // VERDICT r10 §wrong-1): the driver's comparator lexsorts every output
    // column with pandas and crashes on raw array cells.
    "q_text_bpe_ids" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val vocab = Bpe.trainBpeModel(docs, "text", numMerges = 20)
      docs.select(col("doc_id"),
          array_join(Bpe.bpeEncodeIds(col("text"), vocab)
            .cast("array<string>"), " ").as("ids"))
        .orderBy("doc_id")
    }),
    // Amortized probe form (r11) — the BENCHED tokenize row: rebuild the
    // vocab from its persisted vocab+merges tables (driver-bounded: vocab
    // scale) and run only the codegen'd encode. Train-per-run form above
    // → verify-only; both emit identical sequences (readVocab is the
    // exact inverse of vocabTable/mergesTable, spec-pinned in BpeSpec),
    // so the same gate pins both.
    "q_text_bpe_ids_scored" -> ((s, d) => {
      val (vp, mp) = bpeEnsureModel(s, d)
      val vocab = Bpe.readVocab(s, vp, mp)
      t(s, d, "documents").select(col("doc_id"),
          array_join(Bpe.bpeEncodeIds(col("text"), vocab)
            .cast("array<string>"), " ").as("ids"))
        .orderBy("doc_id")
    }),
    // Gate (verify-only): (1) per-doc size(ids) == bpeTokenCount — the
    // sequence and count natives agree on EVERY document; (2) base-length
    // conservation — each id spans a known number of initial symbols, and
    // the weighted sum over all emitted ids must rebuild the oracled
    // initial-symbol total exactly (encoding is a partition of the initial
    // sequence); (3) every id >= 0 on the training corpus (no token can be
    // out-of-vocabulary for the corpus that trained it).
    "q_text_bpe_ids_gate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val vocab = Bpe.trainBpeModel(docs, "text", numMerges = 20)
      val blLit = typedlit(vocab.baseLengths.toSeq)
      docs.select(
          Bpe.bpeEncodeIds(col("text"), vocab).as("ids"),
          Bpe.bpeTokenCount(col("text"), vocab.merges).as("__cnt"),
          Bpe.initialTokenCount(col("text")).as("__init"))
        .agg(
          sum(col("__init")).as("n_init_tokens"),
          sum(when(size(col("ids")).cast("long") === col("__cnt"), lit(0))
            .otherwise(lit(1))).as("__len_mismatch"),
          sum(aggregate(transform(col("ids"), i => element_at(blLit, i + 1)),
            lit(0L), (a, v) => a + v)).as("__span"),
          min(coalesce(array_min(col("ids")), lit(0))).as("__min_id"))
        .select(col("n_init_tokens"),
          (col("__len_mismatch") === 0).as("ids_len_ok"),
          (col("__span") === col("n_init_tokens")).as("conservation_ok"),
          (col("__min_id") >= 0).as("ids_known_ok"))
    }),
    // Byte-level BPE (r12, VERDICT r11 §next-2): the byte-fallback form
    // production trainers ship — train over UTF-8 bytes with the full
    // 256-symbol base alphabet, so NO input ever UNKs; unseen characters
    // (emoji/CJK/accents, injected below as out-of-training-distribution
    // rows both engines construct identically) degrade to their bytes.
    // The gate pins the family's cleanest conservation invariant: Σ base
    // spans of the emitted ids == Σ UTF-8 byte length of the whitespace
    // words (DuckDB octet_length — replayed exactly), zero unknown ids,
    // all ids in-vocab. Train-per-run, so verify-only (quality-gate
    // ruling); the benched row is the loaded-vocab probe below.
    "q_text_bpe_bytes_gate" -> ((s, d) => {
      import s.implicits._
      val fixture = t(s, d, "documents").select("doc_id", "text")
      val docs = fixture.unionByName(Seq(
        (9000001L, "naïve café déjà-vu 你好世界 🌍🚀 emoji"),
        (9000002L, "ひらがな καλημέρα здравствуйте"),
        (9000003L, "MiXeD AsCiI and 漢字 with ümlaut")).toDF("doc_id", "text"))
      // trained on the FIXTURE ONLY: the injected rows are exactly the
      // never-seen-a-character case byte fallback exists for
      val vocab = Bpe.trainByteBpeModel(fixture, "text", numMerges = 20)
      val blLit = typedlit(vocab.baseLengths.toSeq)
      docs.select(
          Bpe.byteBpeEncodeIds(col("text"), vocab).as("ids"),
          Bpe.wordByteLength(col("text")).as("__bytes"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("__bytes")).as("n_word_bytes"),
          sum(aggregate(transform(col("ids"), i => element_at(blLit, i + 1)),
            lit(0L), (a, v) => a + v)).as("__span"),
          sum(size(filter(col("ids"), i => i < 0)).cast("long"))
            .as("n_unknown_ids"),
          max(coalesce(array_max(col("ids")), lit(0))).as("__max_id"))
        .select(col("n_docs"), col("n_word_bytes"),
          (col("__span") === col("n_word_bytes")).as("conservation_ok"),
          col("n_unknown_ids"),
          (col("__max_id") < vocab.vocabSize).as("ids_in_vocab"))
    }),
    // Amortized probe form — the BENCHED byte-BPE row: rebuild the vocab
    // from its persisted tables, run only the codegen'd byte encode.
    // Ids projected through array_join (the comparator-stability ruling).
    "q_text_bpe_bytes_scored" -> ((s, d) => {
      val (vp, mp) = byteBpeEnsureModel(s, d)
      val vocab = Bpe.readVocab(s, vp, mp)
      t(s, d, "documents").select(col("doc_id"),
          array_join(Bpe.byteBpeEncodeIds(col("text"), vocab)
            .cast("array<string>"), " ").as("ids"))
        .orderBy("doc_id")
    }),
    // Trainer-ready framed sequences (r13, VERDICT r12 §next-3): BOS/EOS
    // from the reserved block above the vocab, truncation to a context
    // bound — the form sequence packing and sharded token exports
    // actually consume. Rows-only (ids are engine-side model artifacts);
    // pinned by q_text_specials_gate. Verify-only: it re-runs the
    // benched encode (q_text_bpe_ids_scored) plus map-side framing.
    "q_text_bpe_ids_framed" -> ((s, d) => {
      val (vp, mp) = bpeEnsureModel(s, d)
      val vocab = Bpe.readVocab(s, vp, mp)
      val sp = SpecialTokens.Ids(vocab.vocabSize)
      t(s, d, "documents").select(col("doc_id"),
          array_join(SpecialTokens.padTo(
              SpecialTokens.addSpecials(
                Bpe.bpeEncodeIds(col("text"), vocab), sp, 32), sp, 32)
            .cast("array<string>"), " ").as("ids"))
        .orderBy("doc_id")
    }),
    // Gate (verify-only): special-token framing + truncation invariants
    // over ALL FOUR id encoders (BPE, byte-BPE, WordPiece, unigram), each
    // under a loaded persisted vocab. Per doc and per encoder: framed
    // length = raw + 2 (and = min(raw+2, maxLen) when truncating), BOS
    // first / EOS last (EOS survives truncation), stripSpecials inverts
    // the framing exactly, padding is pure tail fill to the fixed shape.
    // Tied to the oracle through exact integers: n_special = 2·n_docs,
    // and Σ base spans of the framed BPE sequence's CONTENT ids rebuilds
    // the oracled initial-symbol total (framing adds ids, never disturbs
    // content). The EOS-terminated form also drives packSequencesByCount:
    // the distributed two-pass prefix sum must equal a single-partition
    // window replay row-for-row, and the packed total must equal
    // (oracled initial total − trainer applied merges + 2·n_docs).
    "q_text_specials_gate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val (bvp, bmp) = bpeEnsureModel(s, d)
      val bpeV = Bpe.readVocab(s, bvp, bmp)
      val (yvp, ymp) = byteBpeEnsureModel(s, d)
      val byteV = Bpe.readVocab(s, yvp, ymp)
      val uniV = Unigram.readVocab(s, ensureModel(s, d, "unigram")(
        Unigram.vocabTable(s, Unigram.trainUnigramModel(
          docs, "text", targetVocab = 300))))
      val wpV = WordPiece.readVocab(s, ensureModel(s, d, "wordpiece")(
        WordPiece.vocabTable(s, WordPiece.trainWordPiece(
          docs, "text", numMerges = 20))))
      val Big = 1 << 20
      def frameOk(raw: Column, v: Int): Column = {
        val sp = SpecialTokens.Ids(v)
        val framed = SpecialTokens.addSpecials(raw, sp, Big)
        val short = SpecialTokens.addSpecials(raw, sp, 16)
        val padded = SpecialTokens.padTo(short, sp, 16)
        size(framed) === size(raw) + 2 &&
          element_at(framed, 1) === sp.bosId &&
          element_at(framed, -1) === sp.eosId &&
          SpecialTokens.stripSpecials(framed, sp) === raw &&
          size(short) === least(size(raw) + 2, lit(16)) &&
          element_at(short, 1) === sp.bosId &&
          element_at(short, -1) === sp.eosId &&
          size(padded) === 16 &&
          SpecialTokens.stripSpecials(padded, sp) === slice(raw, 1, 14) &&
          slice(padded, lit(1), size(short)) === short
      }
      val sp = SpecialTokens.Ids(bpeV.vocabSize)
      val framedBpe = SpecialTokens.addSpecials(
        Bpe.bpeEncodeIds(col("text"), bpeV), sp, Big)
      val blLit = typedlit(bpeV.baseLengths.toSeq)
      val perDoc = docs.select(col("doc_id"),
        frameOk(Bpe.bpeEncodeIds(col("text"), bpeV), bpeV.vocabSize)
          .as("__bok"),
        frameOk(Bpe.byteBpeEncodeIds(col("text"), byteV), byteV.vocabSize)
          .as("__yok"),
        frameOk(WordPiece.wordPieceEncodeIds(col("text"), wpV),
          wpV.vocabSize).as("__wok"),
        frameOk(Unigram.unigramEncodeIds(col("text"), uniV),
          uniV.vocabSize).as("__uok"),
        framedBpe.as("__fb"),
        Bpe.initialTokenCount(col("text")).as("__init"))
      val packed = Curation.packSequencesByCount(docs, "doc_id",
        size(framedBpe).cast("long"), budgetTokens = 2048)
      val w = org.apache.spark.sql.expressions.Window.orderBy("doc_id")
        .rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val appliedSum = bpeV.merges.map(_.appliedCount).sum
      packed
        .join(perDoc.withColumn("__n", size(col("__fb")).cast("long"))
          .withColumn("__cum", coalesce(sum(col("__n")).over(w), lit(0L))),
          Seq("doc_id"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("__init")).as("n_init_tokens"),
          sum(when(col("__bok"), 0).otherwise(1)).as("__mb"),
          sum(when(col("__yok"), 0).otherwise(1)).as("__my"),
          sum(when(col("__wok"), 0).otherwise(1)).as("__mw"),
          sum(when(col("__uok"), 0).otherwise(1)).as("__mu"),
          sum(size(filter(col("__fb"), i => i >= lit(sp.vocabSize)))
            .cast("long")).as("__nspec"),
          sum(aggregate(transform(
              filter(col("__fb"), i => i < lit(sp.vocabSize)),
              i => element_at(blLit, i + 1)),
            lit(0L), (a, v) => a + v)).as("__span"),
          sum(when(col("pack_id") === expr("__cum div 2048L") &&
              col("pack_offset") === col("__cum") % 2048L, 0)
            .otherwise(1)).as("__mpack"),
          sum(col("n_tok")).as("__ptotal"))
        .select(col("n_docs"), col("n_init_tokens"),
          (col("__mb") === 0).as("bpe_frame_ok"),
          (col("__my") === 0).as("byte_frame_ok"),
          (col("__mw") === 0).as("wp_frame_ok"),
          (col("__mu") === 0).as("uni_frame_ok"),
          (col("__nspec") === col("n_docs") * 2).as("n_special_ok"),
          (col("__span") === col("n_init_tokens"))
            .as("framed_conservation_ok"),
          (col("__mpack") === 0).as("pack_replay_ok"),
          (col("__ptotal") ===
            col("n_init_tokens") - lit(appliedSum) + col("n_docs") * 2)
            .as("pack_total_ok"))
    }),
    // Unigram-LM (SentencePiece) tokenizer (late r10): distributed seed +
    // driver EM/prune + codegen'd Viterbi encode. The ids are engine-side
    // model artifacts (rows-only); pinned by the oracled _gate invariants
    // and the hash-green _seed_portable (the ENTIRE distributed stage —
    // word counts, substring explode, weighted counts, rank selection —
    // replayed bit-for-bit in DuckDB).
    // ids projected through array_join — same comparator-stability ruling
    // as q_text_bpe_ids above (raw array cells crash the driver lexsort).
    "q_text_unigram_ids" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val vocab = Unigram.trainUnigramModel(docs, "text", targetVocab = 300)
      docs.select(col("doc_id"),
          array_join(Unigram.unigramEncodeIds(col("text"), vocab)
            .cast("array<string>"), " ").as("ids"))
        .orderBy("doc_id")
    }),
    // Amortized probe form (r11) — the BENCHED unigram row: load the
    // persisted piece table (parquet round-trips the log-probs
    // bit-exactly), run only the codegen'd Viterbi encode. Train-per-run
    // form above → verify-only; same gate + seed twin pin both.
    "q_text_unigram_ids_scored" -> ((s, d) => {
      val vocab = Unigram.readVocab(s, ensureModel(s, d, "unigram")(
        Unigram.vocabTable(s, Unigram.trainUnigramModel(
          t(s, d, "documents"), "text", targetVocab = 300))))
      t(s, d, "documents").select(col("doc_id"),
          array_join(Unigram.unigramEncodeIds(col("text"), vocab)
            .cast("array<string>"), " ").as("ids"))
        .orderBy("doc_id")
    }),
    "q_text_unigram_seed_portable" -> ((s, d) =>
      Unigram.seedCandidates(t(s, d, "documents"), "text",
        maxPieceLen = 4, seedSize = 512).orderBy("piece")),
    // Gate (verify-only): (1) character conservation — each emitted piece
    // spans its own length in word characters (unknowns span 1), and the
    // weighted sum over all ids must rebuild the oracled corpus word-char
    // total exactly (Viterbi segmentation is a partition of every word);
    // (2) zero unknown ids on the training corpus (its alphabet is always
    // in-vocab); (3) every id inside the vocabulary.
    "q_text_unigram_gate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val vocab = Unigram.trainUnigramModel(docs, "text", targetVocab = 300)
      // piece span in CODE POINTS — the oracle's len() unit (a UTF-16
      // .length would over-count astral characters; code-review r10)
      val pieceLens = typedlit(vocab.pieces.map(p =>
        p.piece.codePointCount(0, p.piece.length).toLong))
      docs.select(Unigram.unigramEncodeIds(col("text"), vocab).as("ids"))
        .agg(
          count(lit(1)).cast("long").as("n_docs"),
          sum(aggregate(transform(col("ids"),
            i => when(i < 0, lit(1L)).otherwise(element_at(pieceLens, i + 1))),
            lit(0L), (a, v) => a + v)).as("total_piece_chars"),
          sum(size(filter(col("ids"), i => i < 0)).cast("long"))
            .as("n_unknown_ids"),
          sum(size(filter(col("ids"), i => i >= vocab.vocabSize))
            .cast("long")).as("n_oversized_ids"))
    }),
    // WordPiece tokenizer (r11) — the third tokenizer family: BPE-like
    // training RANKED BY the likelihood score cnt(pair)/(cnt(l)·cnt(r))
    // (exact cross-multiplied integers), greedy longest-match-first
    // encode with whole-word UNK (BERT semantics). Rows-only (ids are
    // engine-side model artifacts), array_join-projected per the
    // standing comparator ruling; the _gate pins exact invariants with
    // the corpus word-char total oracled.
    "q_text_wordpiece_ids" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val vocab = WordPiece.trainWordPiece(docs, "text", numMerges = 20)
      docs.select(col("doc_id"),
          array_join(WordPiece.wordPieceEncodeIds(col("text"), vocab)
            .cast("array<string>"), " ").as("ids"))
        .orderBy("doc_id")
    }),
    // Amortized probe form — the BENCHED wordpiece row (the r11 policy):
    // vocab from its persisted (id, piece, is_cont) table, encode only.
    "q_text_wordpiece_ids_scored" -> ((s, d) => {
      val vocab = WordPiece.readVocab(s, ensureModel(s, d, "wordpiece")(
        WordPiece.vocabTable(s, WordPiece.trainWordPiece(
          t(s, d, "documents"), "text", numMerges = 20))))
      t(s, d, "documents").select(col("doc_id"),
          array_join(WordPiece.wordPieceEncodeIds(col("text"), vocab)
            .cast("array<string>"), " ").as("ids"))
        .orderBy("doc_id")
    }),
    // Gate (verify-only): (1) per-doc size(ids) == wordPieceTokenCount —
    // the sequence and count natives agree on EVERY document; (2) char
    // conservation — each id spans its piece's code points and the sum
    // rebuilds the ORACLED corpus word-char total exactly (greedy
    // segmentation partitions every word; possible only because the
    // training alphabet covers both forms, so nothing UNKs); (3) zero
    // unknown ids on the training corpus; (4) every id in-vocab.
    "q_text_wordpiece_gate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val vocab = WordPiece.trainWordPiece(docs, "text", numMerges = 20)
      val spanLit = typedlit(vocab.spans)
      docs.select(
          WordPiece.wordPieceEncodeIds(col("text"), vocab).as("ids"),
          WordPiece.wordPieceTokenCount(col("text"), vocab).as("__cnt"))
        .agg(
          count(lit(1)).cast("long").as("n_docs"),
          sum(when(size(col("ids")).cast("long") === col("__cnt"), lit(0))
            .otherwise(lit(1))).as("__len_mismatch"),
          sum(aggregate(transform(col("ids"),
            i => when(i < 0, lit(0L)).otherwise(element_at(spanLit, i + 1))),
            lit(0L), (a, v) => a + v)).as("total_piece_chars"),
          sum(size(filter(col("ids"), i => i < 0)).cast("long"))
            .as("n_unknown_ids"),
          sum(size(filter(col("ids"), i => i >= vocab.vocabSize))
            .cast("long")).as("n_oversized_ids"))
        .select(col("n_docs"),
          (col("__len_mismatch") === 0).as("ids_len_ok"),
          col("total_piece_chars"), col("n_unknown_ids"),
          col("n_oversized_ids"))
    }),
    // Tokenizer DECODE (r12) — the detokenization half every tokenizer
    // ships, closed for all four families in ONE directly-oracled query:
    // each family encodes then decodes every document with its persisted
    // model (the amortized loaded-vocab convention — benched), and the
    // decoded STRINGS are hash-compared against DuckDB computing each
    // family's documented roundtrip expectation from the raw text:
    //   char BPE   — `</w>` markers close words → lowercased words
    //                joined by single spaces;
    //   WordPiece  — continuation flags are the boundaries → same
    //                space-joined form (nothing UNKs on the corpus the
    //                model was trained on — the conservation gates'
    //                argument);
    //   Unigram    — no boundary marker in the id stream → lowercased
    //                words joined WITHOUT spaces;
    //   byte BPE   — byte reassembly, case-preserved, boundaries dropped
    //                by pre-tokenization → words joined WITHOUT spaces.
    // A decode bug of ANY kind (wrong symbol table, marker mishandling,
    // byte-order, boundary logic) lands as a VALUE-DIFF here — a far
    // stronger pin than the integer conservation gates alone.
    "q_text_decode_roundtrip" -> ((s, d) => {
      val (bvp, bmp) = bpeEnsureModel(s, d)
      val bpeV = Bpe.readVocab(s, bvp, bmp)
      val (yvp, ymp) = byteBpeEnsureModel(s, d)
      val byteV = Bpe.readVocab(s, yvp, ymp)
      val uniV = Unigram.readVocab(s, ensureModel(s, d, "unigram")(
        Unigram.vocabTable(s, Unigram.trainUnigramModel(
          t(s, d, "documents"), "text", targetVocab = 300))))
      val wpV = WordPiece.readVocab(s, ensureModel(s, d, "wordpiece")(
        WordPiece.vocabTable(s, WordPiece.trainWordPiece(
          t(s, d, "documents"), "text", numMerges = 20))))
      t(s, d, "documents").select(col("doc_id"),
          Bpe.bpeDecodeIds(Bpe.bpeEncodeIds(col("text"), bpeV), bpeV)
            .as("bpe_text"),
          WordPiece.wordPieceDecodeIds(
            WordPiece.wordPieceEncodeIds(col("text"), wpV), wpV)
            .as("wp_text"),
          Unigram.unigramDecodeIds(
            Unigram.unigramEncodeIds(col("text"), uniV), uniV)
            .as("unigram_text"),
          Bpe.byteBpeDecodeIds(Bpe.byteBpeEncodeIds(col("text"), byteV),
            byteV).as("byte_text"))
        .orderBy("doc_id")
    }),
    // Naive Bayes classifier (r9) — the GPT-3/CCNet quality-classifier
    // stage shape, self-trained here on the corpus's own lang labels and
    // replayed end-to-end in DuckDB (train counts, add-k log-likelihoods
    // in DECIMAL(38,18), priors, argmax with label-asc ties). The output
    // row carries integers and strings only; floats decide the argmax but
    // never reach the comparator.
    "q_text_nb_classify" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val model = Classifier.trainNaiveBayes(docs, "lang", "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Classifier.classifyNaiveBayes(docs, "doc_id", "text", model)
        .orderBy("doc_id")
    }),
    // NB with the log-odds margin surfaced (r10, VERDICT r9 §next-5): the
    // best-vs-runner-up score gap as a round(·,6) double — the
    // q_text_lm_perplexity float-portability contract (DECIMAL evidence
    // sums, one ln per term, one subtraction) — so the quality filter can
    // threshold on CONFIDENCE instead of hard argmax. Hash-checked
    // end-to-end in DuckDB including the margin values.
    // GPT-3-style Pareto-sampled keep (verify-only: it bills the same NB
    // train+score chain q_text_nb_margin already benches; the delta — the
    // signed margin aggregate and the log-domain stochastic-keep filter —
    // is what membership pins). Oracle replays scoring, the margin toward
    // 'en', the md5-uniform Pareto draw and the rounded log-domain
    // comparison exactly.
    "q_text_nb_pareto" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Classifier.filterByClassifierPareto(docs, "doc_id", "lang", "text",
          keepLabel = "en", alpha = 9.0, seed = "p")
        .select("doc_id", "lang").orderBy("doc_id")
    }),
    "q_text_nb_margin" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val model = Classifier.trainNaiveBayes(docs, "lang", "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Classifier.classifyNaiveBayesWithMargin(docs, "doc_id", "text", model)
        .orderBy("doc_id")
    }),
    // Amortized probe form (r11, VERDICT r10 §next-2) — the BENCHED row
    // for the NB family: load the persisted model table and score. The
    // train-per-run form above moves to verify-only (both stay hash-green
    // against the same oracle; the model round-trips parquet bit-exactly).
    "q_text_nb_margin_scored" -> ((s, d) => {
      // persist the loaded model (r18): scoreFrame reads it from five
      // subtrees (label totals, vocab, prior rows ×2, the evidence join) —
      // unpinned, each subtree re-scanned the model parquet per run. Same
      // trade the train-per-run form above already makes; vocabulary-scale
      // frame, the filterByClassifier accepted residue.
      val model = s.read.parquet(ensureModel(s, d, "nb")(
        Classifier.trainNaiveBayes(t(s, d, "documents"), "lang", "text")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // spread(): the scoring tokenize+explode is map-side on the
      // single-split fixture scan (r17 opt); training input is untouched
      Classifier.classifyNaiveBayesWithMargin(
          spread(t(s, d, "documents")), "doc_id", "text", model)
        .orderBy("doc_id")
    }),
    // PII scrub over fixture-derived text with injected synthetic PII
    // (email/IP/phone/URL built from doc_id, so both engines construct
    // the identical input) — the oracle replays the same regex chain in
    // DuckDB/RE2, pinning cross-engine pattern parity character-for-
    // character.
    "q_text_redact_pii" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
          TextAnalysis.redactPii(concat_ws(" ",
            substring(col("text"), 1, 40),
            lit("contact"),
            concat(lit("user"), col("doc_id"), lit("@mail.example.com")),
            lit("at"),
            concat(lit("10.0."), col("doc_id") % 256, lit(".7")),
            lit("tel 555-123-4567 see"),
            concat(lit("https://ex.example/p/"), col("doc_id"))))
            .as("redacted"))
        .orderBy("doc_id")),
    // Aho-Corasick blocked-TERM stats (late r10): the C4 bad-word content
    // filter's matching core over deterministic constructed text (the
    // redact_pii convention). The term set pins the tricky semantics:
    // overlapping occurrences ("aa" in "aaa" counts twice) and nested
    // patterns ("spam phrase" hits both "spam" and itself via the dict
    // chain). The oracle replays all-occurrence counting by scanning
    // every position.
    "q_text_blockterms" -> ((s, d) => {
      val terms = Seq("aa", "spam", "spam phrase", "casino")
      val txt = concat_ws(" ",
        substring(col("text"), 1, 30),
        when(col("doc_id") % 4 === 0, lit("aaa and more aaa"))
          .when(col("doc_id") % 4 === 1, lit("a Spam Phrase here"))
          .when(col("doc_id") % 4 === 2, lit("clean content"))
          .otherwise(lit("CASINO casino night")))
      val feats = TextAnalysis.blockedTermStats(txt, terms)
      t(s, d, "documents").select(col("doc_id"),
          feats.head._2.as("n_blocked_hits"),
          array_join(feats(1)._2, ",").as("blocked_ids"))
        .orderBy("doc_id")
    }),
    // Domain blocklist filter with suffix semantics: five host regimes by
    // doc_id residue — two blocked via a PARENT domain (subdomain
    // blocking), one blocked exactly, one clean, one URL-less row (kept:
    // absence of a domain is not list membership). The oracle replays the
    // full suffix explosion and membership in DuckDB.
    "q_text_domain_filter" -> ((s, d) => {
      val withUrl = t(s, d, "documents").select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
            concat(lit("https://Ads.Spam.Example/p/"), col("doc_id")))
          .when(col("doc_id") % 5 === 1,
            concat(lit("http://deep.Sub.spam.example/q/"), col("doc_id")))
          .when(col("doc_id") % 5 === 2,
            concat(lit("https://good.example/r/"), col("doc_id")))
          .when(col("doc_id") % 5 === 3,
            concat(lit("https://user@Tracker.NET:8443/s/"), col("doc_id")))
          .otherwise(lit("no url in this row")).as("url"))
      val blocklist = {
        import s.implicits._
        Seq("spam.example", "tracker.net").toDF("domain")
      }
      TextAnalysis.filterByBlockedDomains(withUrl, "doc_id", "url", blocklist)
        .orderBy("doc_id")
    }),
    // Unicode dedup normalization over accented text constructed from the
    // fixture (composed NFC literals, mixed case, double spaces): the
    // oracle replays with nfc_normalize + strip_accents + lower + collapse
    // — cross-engine parity of the accent strip pinned character-for-
    // character on genuinely non-ASCII input.
    "q_text_normalize" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
          TextAnalysis.normalizeText(concat_ws("  ",
            lit("Café ÜBER naïve señor"),
            substring(col("text"), 1, 30),
            concat(lit("Ítem-"), col("doc_id"), lit(" crème brûlée"))))
            .as("norm"))
        .orderBy("doc_id")),
    // Unicode NFC hygiene (r15): the canonical-composition pass run
    // before any text hashing. Corpus rows plus injected denormalized
    // fixtures (combining accents, Hangul jamo, the U+212B singleton —
    // both engines construct them via explicit codepoints); the oracle
    // replays DuckDB's utf8proc nfc_normalize against our
    // java.text.Normalizer native, hash-checking the two Unicode
    // implementations against each other end-to-end.
    "q_text_nfc" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents").select("doc_id", "text")
        .unionByName(Seq(
          (9100001L, "café du parc"),
          (9100002L, "Ångström"),
          (9100003L, "각 ok"),
          (9100004L, "Å angstrom sign"),
          (9100005L, "plain ascii stays")).toDF("doc_id", "text"))
      docs.select(col("doc_id"),
          TextAnalysis.nfcNormalize(col("text")).as("text_nfc"),
          (TextAnalysis.nfcNormalize(col("text")) =!= col("text"))
            .as("changed"))
        .orderBy("doc_id")
    }),
    // NFKC compatibility folding (r15): DuckDB has no NFKC function, but
    // the fixture folds are KNOWN literals (ligature fi->fi, fullwidth
    // ->ASCII, superscript->digit, U+2460 circled one->1, NFC composition
    // riding along), so the row is fully oracled the q_text_mojibake way:
    // expected outputs as explicit-codepoint literals, ASCII corpus
    // passthrough structural (NFKC is identity on ASCII).
    "q_text_nfkc" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents").select("doc_id", "text")
        .unionByName(Seq(
          (9300001L, "ﬁnancial ﬂow"),
          (9300002L, "ｆｕｌｌｗｉｄｔｈ ｏｋ"),
          (9300003L, "x² plus ① item"),
          (9300004L, "café mix"),
          (9300005L, "plain ascii stays")).toDF("doc_id", "text"))
      docs.select(col("doc_id"),
          TextAnalysis.nfkcNormalize(col("text")).as("text_nfkc"),
          (TextAnalysis.nfkcNormalize(col("text")) =!= col("text"))
            .as("changed"))
        .orderBy("doc_id")
    }),
    // Mojibake repair (r15): UTF-8-read-as-legacy-charset damage undone
    // by sloppy-cp1252 re-encode + strict UTF-8 re-decode (accepted only
    // when valid and strictly shorter — legitimate accents pass through
    // byte-identical). The charset tables are JDK-side, but the fixture
    // repairs are KNOWN literals, so the row is fully oracled: DuckDB
    // emits the expected outputs (built from explicit codepoints) and
    // the ASCII corpus must pass through untouched — identity on ASCII
    // is structural (no high bytes, nothing to re-decode).
    "q_text_mojibake" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents").select("doc_id", "text")
        .unionByName(Seq(
          (9200001L, "cafÃ© dÃ©jÃ  vu"),
          (9200002L, "dash â€” here"),
          (9200003L, "ÃƒÂ© twice"),
          (9200004L, "naïve café"),
          (9200005L, "plain ascii")).toDF("doc_id", "text"))
      docs.select(col("doc_id"),
          TextAnalysis.fixMojibake(col("text")).as("text_fixed"),
          (TextAnalysis.fixMojibake(col("text")) =!= col("text"))
            .as("changed"))
        .orderBy("doc_id")
    }),
    // URL canonicalization over messy URLs constructed from doc_id (mixed-
    // case scheme/host, default and non-default ports, trailing slash,
    // utm tracking params, fragment — each regime hit by a doc_id
    // residue). The oracle rebuilds the identical input and replays the
    // identical regex chain in RE2, pinning the full rule order
    // character-for-character.
    // URL-keyed dedup (late r10): fixture URLs constructed so decoration
    // varies (scheme case, :443, trailing slash, utm) while ~350 canonical
    // pages collide across the corpus; keep best by n_chars desc, doc_id
    // tiebreak. Oracle replays the canon chain + the window exactly.
    "q_dedup_by_url" -> ((s, d) => {
      val url = concat(
        when(col("doc_id") % 2 === 0, lit("https://"))
          .otherwise(lit("HTTPS://")),
        lit("Site"), col("doc_id") % 7, lit(".Example.COM"),
        when(col("doc_id") % 3 === 0, lit(":443")).otherwise(lit("")),
        lit("/page/"), col("doc_id") % 50,
        when(col("doc_id") % 5 === 0, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 2 === 1, concat(lit("?utm_source=feed&x="),
          col("doc_id") % 4)).otherwise(lit("")))
      Dedup.dedupByUrl(
          t(s, d, "documents").select(col("doc_id"), col("n_chars"),
            url.as("url")),
          "url", prefer = Seq(col("n_chars").desc, col("doc_id").asc))
        .select("doc_id", "n_chars", "url_canon").orderBy("doc_id")
    }),
    "q_text_canon_url" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
          TextAnalysis.canonicalizeUrl(concat(
            when(col("doc_id") % 4 === 0, lit("http://"))
              .when(col("doc_id") % 4 === 1, lit("HTTPS://"))
              .when(col("doc_id") % 4 === 2, lit("https://"))
              .otherwise(lit("HTTP://")),
            lit("Site"), col("doc_id") % 7, lit(".Example.COM"),
            when(col("doc_id") % 4 === 0, lit(":80"))
              .when(col("doc_id") % 4 === 1, lit(":443"))
              .when(col("doc_id") % 4 === 2, lit(""))
              .otherwise(lit(":8080")),
            lit("/Path/"), col("doc_id"),
            when(col("doc_id") % 3 === 0, lit("/")).otherwise(lit("")),
            when(col("doc_id") % 2 === 0,
              concat(lit("?utm_source=feed&id="), col("doc_id"),
                lit("&utm_campaign=x"))).otherwise(lit("")),
            when(col("doc_id") % 5 === 0, lit("#frag")).otherwise(lit(""))))
            .as("url_canon"))
        .orderBy("doc_id")),
    // ---- semi-structured (JSON property extraction) ---------------------
    "q_ev_json_extract" -> ((s, d) =>
      SemiStructured.parseJson(t(s, d, "events"), "props", "k INT")
        .filter(col("k") >= 90)
        .select("event_id", "event_type", "k").orderBy("event_id")),
    "q_ev_json_agg" -> ((s, d) =>
      SemiStructured.parseJson(t(s, d, "events"), "props", "k INT")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), sum("k").as("sum_k"),
          min("k").as("min_k"), max("k").as("max_k"))
        // derived, not avg(): sum is exact (long), so sum/count is ONE
        // IEEE division — bit-identical across engines
        .withColumn("avg_k",
          col("sum_k").cast("double") / col("n_events").cast("double"))
        .orderBy("event_type")),
    // ---- curation (splits / packing) ------------------------------------
    "q_cur_hash_split" -> ((s, d) =>
      Curation.hashSplit(t(s, d, "documents"), "doc_id", trainPct = 90)
        .select("doc_id", "split_bucket", "split").orderBy("doc_id")),
    // Split-leakage control: the report finds near-dup clusters straddling
    // the id-keyed split (the fixture has exactly one — 113 docs across
    // both splits), and the cluster-granular split makes it empty by
    // construction (CurationSpec pins that). Pairs come from the bounded
    // oracle-replayable Jaccard generator, the same source q_dedup_groups
    // verifies components against.
    "q_cur_split_leakage" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Curation.splitLeakage(
        Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          maxId = 120, minJaccard = 0.5),
        Curation.hashSplit(docs, "doc_id", trainPct = 90),
        "doc_id", "split").orderBy("group_id")
    }),
    "q_cur_split_by_cluster" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Curation.hashSplitByCluster(docs, "doc_id",
        Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          maxId = 120, minJaccard = 0.5), trainPct = 90)
        .select("doc_id", "split_key", "split_bucket", "split")
        .orderBy("doc_id")
    }),
    // The BENCHED split-family shape (the two above are verify-only —
    // their Jaccard pair source is oracle truth construction, not the
    // engine): production LSH candidates → cluster-granular split →
    // leakage audit over the SAME pairs. hashSplitByCluster guarantees no
    // cluster straddles the boundary by construction, so the audit count
    // is exactly 0 — a constructive invariant the oracle can assert —
    // while every timed operator (minhash banding, components, label
    // join, leakage agg) is the pipeline a user runs at scale.
    "q_cur_split_noleak_prod" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // ONE candidate run + ONE components pass feed both the split and
      // the audit (the FromLabels forms): pairs are consumed exactly once,
      // so the LSH pipeline isn't re-executed per consumer.
      val labels = Dedup.duplicateGroups(
        Dedup.minHashCandidates(docs, "doc_id", "text",
          shingleN = 3, bands = 8, rowsPerBand = 4, minJaccard = 0.3))
      Curation.splitLeakageFromLabels(labels,
          Curation.hashSplitByClusterFromLabels(docs, "doc_id", labels,
            trainPct = 90),
          "doc_id", "split")
        .agg(count(lit(1)).as("leak_groups"))
    }),
    "q_cur_pack_sequences" -> ((s, d) =>
      Curation.packSequences(t(s, d, "documents"), "doc_id", "text",
        budgetTokens = 2048).orderBy("doc_id")),
    // Pack by BPE tokens (r10, VERDICT r9 §next-3): the budget a trainer
    // cares about is denominated in TOKENIZER tokens — train the vocab,
    // count via the codegen'd native, pack with the same two-pass
    // distributed prefix sum. Rows-only (counts depend on the engine-side
    // merge table); the _gate below replays the prefix sum through an
    // independent implementation and ties the total to the oracle.
    "q_cur_pack_bpe" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val merges = Bpe.trainBpe(docs, "text", numMerges = 20)
      Curation.packSequencesByCount(docs, "doc_id",
          Bpe.bpeTokenCount(col("text"), merges), budgetTokens = 2048)
        .orderBy("doc_id")
    }),
    // Amortized probe form (r11) — the BENCHED pack row: count tokens
    // under the LOADED merge table, pack with the two-pass prefix sum.
    // Train-per-run form above → verify-only; same gate pins both.
    "q_cur_pack_bpe_scored" -> ((s, d) => {
      val (_, mp) = bpeEnsureModel(s, d)
      val merges = Bpe.readMerges(s, mp)
      Curation.packSequencesByCount(t(s, d, "documents"), "doc_id",
          Bpe.bpeTokenCount(col("text"), merges), budgetTokens = 2048)
        .orderBy("doc_id")
    }),
    // Gate (verify-only): (1) the distributed two-pass prefix sum must
    // equal a plain single-partition Window running sum on every row — a
    // genuine cross-implementation replay, not self-consistency; (2) the
    // packed total must equal the ORACLED initial-symbol total minus the
    // trainer's applied-merge total (exact integers end-to-end).
    "q_cur_pack_bpe_gate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val merges = Bpe.trainBpe(docs, "text", numMerges = 20)
      val cnt = Bpe.bpeTokenCount(col("text"), merges)
      val packed = Curation.packSequencesByCount(docs, "doc_id", cnt,
        budgetTokens = 2048)
      val w = org.apache.spark.sql.expressions.Window.orderBy("doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val replay = docs.select(col("doc_id"), cnt.as("__n"),
          Bpe.initialTokenCount(col("text")).as("__init"))
        .withColumn("__cum", coalesce(sum(col("__n")).over(w), lit(0L)))
      packed.join(replay, Seq("doc_id"))
        .agg(
          sum(col("__init")).as("n_init_tokens"),
          sum(when(col("pack_id") === expr("__cum div 2048L") &&
              col("pack_offset") === col("__cum") % 2048L, lit(0))
            .otherwise(lit(1))).as("__mismatch"),
          sum(col("n_tok")).as("__total"))
        .select(col("n_init_tokens"),
          (col("__mismatch") === 0).as("pack_replay_ok"),
          (col("__total") ===
            col("n_init_tokens") - lit(merges.map(_.appliedCount).sum))
            .as("total_ok"))
    }),
    // Materialized trainer packs with doc-boundary spans (r14, VERDICT
    // r13 §next-3): the pack ROWS a trainer loads — framed sequences
    // laid end-to-end in doc order, cut at the 2048-token budget,
    // padded to shape, each pack carrying its (doc_id, start, len)
    // span table for cross-document attention masking. Rows-only (ids
    // are model artifacts); pinned by q_cur_pack_spans_gate. BENCHED:
    // the pack-materialization shuffle (explode → hash shuffle on
    // pack_id → ordered concat) is a genuinely new engine shape — the
    // arithmetic-only pack rows never build the tensors.
    "q_cur_pack_spans" -> ((s, d) => {
      val (vp, mp) = bpeEnsureModel(s, d)
      val vocab = Bpe.readVocab(s, vp, mp)
      val sp = SpecialTokens.Ids(vocab.vocabSize)
      val fdocs = t(s, d, "documents").select(col("doc_id"),
        SpecialTokens.addSpecials(
          Bpe.bpeEncodeIds(col("text"), vocab), sp, 1 << 20).as("fids"))
        .persist()
      Curation.packSequencesWithSpans(fdocs, "doc_id", "fids", sp,
          budgetTokens = 2048)
        .select(col("pack_id"),
          array_join(col("input_ids").cast("array<string>"), " ")
            .as("ids"),
          array_join(transform(col("doc_spans"), m => concat_ws(":",
            m.getField("doc_id").cast("string"),
            m.getField("start").cast("string"),
            m.getField("len").cast("string"))), " ").as("spans"))
        .orderBy("pack_id")
    }),
    // Gate (verify-only): the pack materialization's full contract.
    // Per pack: spans tile [0, content) contiguously, input_ids is
    // exactly budget-shaped, content carries no PAD and the tail is all
    // PAD. Per doc: concatenating its pieces ACROSS packs (sliced out
    // of the materialized input_ids, pack order) rebuilds its framed
    // encode exactly. Totals: Σ span lengths == Σ framed lengths ==
    // oracled initial-symbol total − applied merges + 2·n_docs, and
    // pack count == ceil(total / budget) — so padding is accounted to
    // the token (Σ lens + n_pad == n_packs · budget by construction).
    "q_cur_pack_spans_gate" -> ((s, d) => {
      val (vp, mp) = bpeEnsureModel(s, d)
      val vocab = Bpe.readVocab(s, vp, mp)
      val sp = SpecialTokens.Ids(vocab.vocabSize)
      val docs = t(s, d, "documents")
      val fdocs = docs.select(col("doc_id"),
        SpecialTokens.addSpecials(
          Bpe.bpeEncodeIds(col("text"), vocab), sp, 1 << 20).as("fids"))
        .persist()
      val packs = Curation.packSequencesWithSpans(fdocs, "doc_id", "fids",
          sp, budgetTokens = 2048)
        .persist()
      val walked = packs.select(col("pack_id"),
          size(col("input_ids")).as("n_ids"), col("input_ids"),
          aggregate(col("doc_spans"),
            struct(lit(true).as("ok"), lit(0).as("pos")),
            (acc, m) => struct(
              (acc.getField("ok") &&
                m.getField("start") === acc.getField("pos")).as("ok"),
              (acc.getField("pos") + m.getField("len")).as("pos")))
            .as("walk"))
        .select(col("pack_id"), col("n_ids"),
          col("walk").getField("ok").as("contig_ok"),
          col("walk").getField("pos").as("content_len"),
          forall(slice(col("input_ids"),
              col("walk").getField("pos") + 1,
              lit(2048) - col("walk").getField("pos")),
            i => i === sp.padId).as("tail_pad_ok"),
          forall(slice(col("input_ids"), lit(1),
              col("walk").getField("pos")),
            i => i =!= sp.padId).as("content_nopad_ok"))
      val packChecks = walked.agg(
        count(lit(1)).as("n_packs"),
        sum(when(col("contig_ok"), 0).otherwise(1)).as("__mc"),
        sum(when(col("n_ids") === 2048, 0).otherwise(1)).as("__mshape"),
        sum(when(col("tail_pad_ok") && col("content_nopad_ok"), 0)
          .otherwise(1)).as("__mpad"),
        sum(col("content_len").cast("long")).as("__content_total"))
      val rebuilt = packs
        .select(col("pack_id"), col("input_ids"),
          explode(col("doc_spans")).as("u"))
        .select(col("u").getField("doc_id").as("doc_id"),
          struct(col("pack_id"),
            slice(col("input_ids"), col("u").getField("start") + 1,
              col("u").getField("len")).as("piece")).as("__p"))
        .groupBy("doc_id")
        .agg(flatten(transform(sort_array(collect_list(col("__p"))),
          m => m.getField("piece"))).as("rb"))
      val docChecks = rebuilt.join(fdocs, Seq("doc_id"), "full_outer")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("rb").isNotNull && col("fids").isNotNull &&
            col("rb") === col("fids"), 0).otherwise(1)).as("__mrec"),
          sum(size(col("fids")).cast("long")).as("__ftotal"))
      val init = docs.agg(
        sum(Bpe.initialTokenCount(col("text"))).as("n_init_tokens"))
      val appliedSum = vocab.merges.map(_.appliedCount).sum
      packChecks.crossJoin(docChecks).crossJoin(init)
        .select(col("n_docs"), col("n_init_tokens"),
          (col("__mc") === 0).as("spans_contiguous_ok"),
          (col("__mshape") === 0).as("pack_shape_ok"),
          (col("__mpad") === 0).as("padding_ok"),
          (col("__mrec") === 0).as("reconstruction_ok"),
          (col("__content_total") === col("__ftotal"))
            .as("content_total_ok"),
          (col("__ftotal") ===
            col("n_init_tokens") - lit(appliedSum) + col("n_docs") * 2)
            .as("framed_total_ok"),
          (col("n_packs") === expr("(__ftotal + 2047L) div 2048L"))
            .as("pack_count_ok"))
    }),
    "q_cur_cap_per_group" -> ((s, d) =>
      Curation.capPerGroup(t(s, d, "documents"), "lang", "doc_id", cap = 80)
        .select("doc_id", "lang").orderBy("doc_id")),
    "q_cur_stratified_sample" -> ((s, d) =>
      Curation.sampleStratified(t(s, d, "documents"), "lang", "doc_id",
          Map("en" -> 0.5, "es" -> 0.25), defaultFraction = 0.1)
        .select("doc_id", "lang").orderBy("doc_id")),
    // Source-mixture resample toward 50/30/20 over three sources at a
    // 60-row target. At sf0.01 (the correctness gate's scale, 25 docs per
    // source) src0's target share exceeds its population so its fraction
    // caps at 1.0 (keep-all) while src1/src2 sample fractionally — both
    // regimes of the operator under oracle check in one query.
    "q_cur_mixture_sample" -> ((s, d) =>
      Curation.mixtureSample(t(s, d, "documents"), "source", "doc_id",
          Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2), targetRows = 60)
        .select("doc_id", "source").orderBy("doc_id")),
    // mT5 temperature sampling (α=0.3, the paper's value): weights n^α
    // derived from the data's own group masses, Σw order-independent via
    // DECIMAL(38,18), then the same md5-prefix threshold machinery as
    // q_cur_mixture_sample. Oracle replays pow, the DECIMAL sum and the
    // left-associated fraction chain verbatim.
    "q_cur_mixture_temp" -> ((s, d) =>
      Curation.mixtureSampleTemperature(t(s, d, "documents"), "source",
          "doc_id", alpha = 0.3, targetRows = 200)
        .select("doc_id", "source").orderBy("doc_id")),
    // Z-order layout key over (custkey, order day): exact integer min/max
    // normalization to a 16-bit grid + bit interleave — the multi-column
    // clustering key writeZOrdered sorts by so parquet min/max stats prune
    // on BOTH columns. Bit-exact by construction; the oracle replays the
    // grid division and the 32 shift/mask terms verbatim.
    "q_layout_zorder" -> ((s, d) => {
      val o = t(s, d, "orders")
        .filter(col("o_custkey").isNotNull && col("o_orderdate").isNotNull)
        .select(col("o_orderkey"), col("o_custkey"),
          datediff(col("o_orderdate").cast("date"),
            to_date(lit("1970-01-01"))).cast("long").as("o_day"))
      Layout.withZValue(o, Seq("o_custkey", "o_day"), bits = 16)
        .select(col("o_orderkey"), col("__z").as("zval"))
        .orderBy("o_orderkey")
    }),
    // Deterministic training-order shuffle + shard assignment: global
    // positions minted over the md5(seed:id) order by the two-pass
    // columnar mint (no single-partition window), shards of 128. The
    // oracle replays the order with row_number over the same key.
    "q_cur_shuffle_shards" -> ((s, d) => {
      val pos = Curation.shuffleDeterministic(
        t(s, d, "documents").select("doc_id"), "doc_id", seed = "s8")
      pos.select(col("doc_id"), col("shuffle_pos"),
          floor((col("shuffle_pos") - 1) / lit(128.0)).cast("long").as("shard"))
        .orderBy("doc_id")
    }),
    // Token-budget mixture: 8000 chars at 5/0.5/0.5 weights over three
    // sources — src0's share exceeds its sf0.01 token mass (cap regime)
    // while src1/src2 sample fractionally; at sf0.1 all three are
    // fractional. The oracle replays the sum + fraction arithmetic.
    "q_cur_mixture_tokens" -> ((s, d) =>
      Curation.mixtureSampleByTokens(t(s, d, "documents"), "source",
          "doc_id", "n_chars",
          Map("src0" -> 5.0, "src1" -> 0.5, "src2" -> 0.5),
          targetTokens = 8000)
        .select("doc_id", "source", "n_chars").orderBy("doc_id")),
    "q_cur_topk_per_group" -> ((s, d) =>
      Aggregates.topKPerGroup(t(s, d, "documents"), Seq("lang"),
          Seq(col("n_chars").desc, col("doc_id").asc), k = 10)
        .select("doc_id", "lang", "n_chars").orderBy("doc_id")),
    // The end-to-end mix a real training pipeline runs ("N tokens at
    // 50/30/20, packed to 2048-token windows"): token-budget mixture
    // resample feeding sequence packing — the two operators' INTERACTION
    // under one oracle (each was only oracled in isolation before r9).
    // At sf0.01 src0's 10k-token share exceeds its mass (keep-all regime)
    // while src1/src2 sample fractionally, so both regimes flow into the
    // packer's prefix sums.
    "q_cur_mix_pack_pipeline" -> ((s, d) =>
      Curation.packSequences(
        Curation.mixtureSampleByTokens(t(s, d, "documents"), "source",
          "doc_id", "n_chars",
          Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2),
          targetTokens = 20000),
        "doc_id", "text", budgetTokens = 2048)
        .orderBy("doc_id")),
    "q_cur_quantile_filter" -> ((s, d) =>
      Curation.filterByGroupQuantile(t(s, d, "documents"), "lang", "n_chars",
          quantile = 0.3)
        .select("doc_id", "lang", "n_chars").orderBy("doc_id")),
    "q_cur_chunk_documents" -> ((s, d) =>
      Curation.chunkDocuments(t(s, d, "documents"), "doc_id", "text",
          chunkTokens = 64, strideTokens = 32)
        .orderBy("doc_id", "chunk_id")),
    // ---- similarity search ----------------------------------------------
    "q_sim_bruteforce_topk" -> ((s, d) =>
      Similarity.bruteForceTopK(t(s, d, "embeddings"), "vec_id", "embedding",
        queryId = 1, k = 20)),
    "q_sim_cosine_pairs" -> ((s, d) =>
      Similarity.cosineNearDupPairs(t(s, d, "embeddings"), "vec_id", "embedding",
        maxId = 150, minCos = 0.30).orderBy("id_a", "id_b")),
    // qvec is projected as a space-joined string, NOT a raw array: the
    // driver's comparator lexsorts every output column and dies on
    // array-typed cells (r6's only red row). Same house pattern as
    // q_cur_chunk_documents; the DuckDB twin uses array_to_string.
    "q_sim_quantize" -> ((s, d) =>
      Similarity.quantizeEmbeddings(t(s, d, "embeddings"), "vec_id", "embedding")
        .select(col("id"),
          array_join(transform(col("qvec"), _.cast("string")), " ").as("qvec"),
          col("scale"))
        .orderBy("id")),
    // Semantic round-trip gate for quantization (verify-only): dequantize
    // q/scale and demand cosine(original, dequantized) ≥ 0.999 for EVERY
    // vector with a defined scale. A wrong scale, transposed rounding, or
    // clipped range drops the min cosine far below the bar and flips the
    // boolean; the truth side (vector count) is oracle-checkable.
    "q_sim_quantize_gate" -> ((s, d) => {
      val q = Similarity.quantizeEmbeddings(t(s, d, "embeddings"), "vec_id",
        "embedding")
      val cos = Similarity.cosine(col("embedding"),
        transform(col("qvec"), x => x.cast("double") / col("scale")))
      t(s, d, "embeddings").select(col("vec_id").as("id"), col("embedding"))
        .join(q, "id")
        .agg(count(lit(1)).as("n_vectors"),
          (min(when(col("scale").isNotNull, cos)) >= 0.999).as("roundtrip_ok"))
    }),
    "q_sim_ann_lsh" -> ((s, d) =>
      Similarity.annLsh(t(s, d, "embeddings"), "vec_id", "embedding", dim = 64,
        bands = 8, bitsPerBand = 10, minCosine = 0.25).orderBy("id_a", "id_b")),
    // Portable ANN twin: md5-parity hyperplane signs + integer-exact
    // verify over int8-quantized vectors — the whole LSH relational shape
    // (signature -> band -> bucket join -> threshold verify) replayed
    // bit-for-bit by the DuckDB oracle. cos >= 1/4 matches the production
    // q_sim_ann_lsh threshold.
    "q_sim_ann_portable" -> ((s, d) =>
      Similarity.annLshPortable(t(s, d, "embeddings"), "vec_id", "embedding",
        dim = 64, bands = 4, bitsPerBand = 8, minCosNum = 1, minCosDen = 4)
        .orderBy("id_a", "id_b")),
    // ---- product quantization (compressed ANN) --------------------------
    // PQ-ADC with exact re-rank: the corpus scan reads 8 int codes per row
    // (not 64 floats), scores are m table lookups, and only the k*refine
    // shortlist touches full vectors. Trained (k-means, float) codebooks
    // make these two rows-only for the driver; the gate and the
    // integer-exact portable twin below pin the semantics.
    "q_sim_pq_topk" -> ((s, d) =>
      ProductQuantization.pqTopK(t(s, d, "embeddings"), "vec_id", "embedding",
        dim = 64, queryId = 1, k = 20, m = 8, kCodewords = 16)),
    // IVF-PQ (the FAISS composition): residual-coded cells, nProbe/16 of
    // the corpus scanned, global ADC table via the dot decomposition.
    "q_sim_ivfpq_topk" -> ((s, d) =>
      ProductQuantization.ivfPqTopK(t(s, d, "embeddings"), "vec_id",
        "embedding", dim = 64, queryId = 1, k = 20, nCentroids = 16,
        nProbe = 4, m = 8, kCodewords = 16)),
    // Integer-exact portable twin (annLshPortable's role for ADC): md5 ±64
    // codebooks over int8-quantized vectors — encode argmin, lookup table,
    // and summed scores all replayed bit-for-bit by the oracle.
    "q_sim_pq_portable" -> ((s, d) =>
      ProductQuantization.pqTopKPortable(t(s, d, "embeddings"), "vec_id",
        "embedding", dim = 64, queryId = 1, k = 20, m = 8, kCodewords = 16)),
    // Portable IVF-PQ twin (r9): the FULL ivfPqTopK composition — coarse
    // cells, residual codes, probed-cell ADC with the dot decomposition —
    // integer-exact and DuckDB-replayed, so the trained-codebook trio's
    // every structural stage has a hash-green pin, not just the PQ and IVF
    // halves separately.
    "q_sim_ivfpq_portable" -> ((s, d) =>
      ProductQuantization.ivfPqTopKPortable(t(s, d, "embeddings"), "vec_id",
        "embedding", dim = 64, queryId = 1, k = 20, nCentroids = 16,
        nProbe = 4, m = 8, kCodewords = 16)),
    // PQ quality gate (verify-only): (a) decode(encode(v)) cosine over the
    // whole corpus clears the reconstruction bar; (b) ADC-shortlist +
    // exact-rerank top-10 on the planted-cluster fixture recovers >= 9 of
    // the brute-force top-10. Truth side (vector count) is oracled.
    "q_sim_pq_gate" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val books = ProductQuantization.trainCodebooks(emb, "vec_id",
        "embedding", dim = 64, m = 8, k = 16)
      val codes = ProductQuantization.encode(emb, "vec_id", "embedding", books)
      val recon = emb.select(col("vec_id").as("id"), col("embedding"))
        .join(codes, "id")
        .select(Similarity.cosine(col("embedding"),
          ProductQuantization.decodeColumn(col("codes"), books)).as("cos"))
        .agg(count(lit(1)).as("n_vectors"), avg("cos").as("__avg"))
      val fix = Similarity.clusteredEmbeddings(s, nClusters = 32,
        perCluster = 32, dim = 64)
      val exact = Similarity.bruteForceTopK(fix, "vec_id", "embedding",
        queryId = 1, k = 10).select("vec_id")
      val approx = ProductQuantization.pqTopK(fix, "vec_id", "embedding",
        dim = 64, queryId = 1, k = 10, m = 8, kCodewords = 16)
        .select("vec_id")
      val hits = exact.join(approx, "vec_id")
      // The IVF-PQ leg runs TRAINED cells + exact re-rank: measured
      // 10/10 on this fixture vs 6/10 with pseudo-centroids (probe
      // misses) and 4/10 without re-rank (ADC blur inside the cluster) —
      // the gate therefore rejects skipping either ingredient, the
      // q_sim_recall_gate philosophy.
      val trained = Similarity.kMeansCentroids(fix, "embedding", dim = 64,
        k = 16)
      val approx2 = ProductQuantization.ivfPqTopK(fix, "vec_id",
        "embedding", dim = 64, queryId = 1, k = 10, nCentroids = 16,
        nProbe = 4, m = 8, kCodewords = 16, centroids = trained)
        .select("vec_id")
      val hits2 = exact.join(approx2, "vec_id")
      // Thresholds: measured 0.673 avg cosine on the sf0.01 corpus (random
      // 64-dim floats at 32x compression: m=8 codes from k=16 codebooks)
      // and 10/10 planted-cluster recall on both probe paths; gate at
      // 0.6 / 9 / 9 leaves margin for double-sum order drift in k-means
      // training.
      recon.crossJoin(hits.agg(count(lit(1)).as("__hits")))
        .crossJoin(hits2.agg(count(lit(1)).as("__hits2")))
        .select(col("n_vectors"), (col("__avg") >= 0.6).as("recon_ok"),
          (col("__hits") >= 9).as("recall_ok"),
          (col("__hits2") >= 9).as("ivfpq_recall_ok"))
    }),
    // OPQ-style rotation gate (r13, VERDICT r12 §next-8): full-rank PCA
    // rotation before PQ (Ge et al. 2013's initialization). Measures (1)
    // reconstruction: encode in the rotated space, decode, rotate BACK
    // (exact full-rank inverse, pinned by q_emb_pca_gate) — avg cosine
    // vs the original vectors must clear the SAME 0.6 floor the
    // unrotated gate holds; (2) planted-cluster recall of the rotated
    // ADC-shortlist + exact-re-rank path at the unrotated ≥9/10 floor.
    // Train-per-run → verify-only (quality-gate ruling).
    "q_sim_opq_gate" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val model = Pca.pcaTrain(emb, "vec_id", "embedding", dim = 64, k = 64)
      val rot = emb.select(col("vec_id").as("id"),
        Pca.projectCol(col("embedding"), model).as("rvec"))
      val books = ProductQuantization.trainCodebooks(rot, "id", "rvec",
        dim = 64, m = 8, k = 16)
      val codes = ProductQuantization.encode(rot, "id", "rvec", books)
      val recon = emb.select(col("vec_id").as("id"), col("embedding"))
        .join(codes, "id")
        .select(Similarity.cosine(col("embedding"),
          Pca.reconstructCol(
            ProductQuantization.decodeColumn(col("codes"), books), model))
          .as("cos"))
        .agg(count(lit(1)).as("n_vectors"), avg("cos").as("__avg"))
      val fix = Similarity.clusteredEmbeddings(s, nClusters = 32,
        perCluster = 32, dim = 64)
      val exact = Similarity.bruteForceTopK(fix, "vec_id", "embedding",
        queryId = 1, k = 10).select("vec_id")
      val approx = ProductQuantization.pqTopKRotated(fix, "vec_id",
          "embedding", dim = 64, queryId = 1, k = 10, m = 8, kCodewords = 16)
        .select("vec_id")
      val hits = exact.join(approx, "vec_id")
      recon.crossJoin(hits.agg(count(lit(1)).as("__hits")))
        .select(col("n_vectors"), (col("__avg") >= 0.6).as("recon_ok"),
          (col("__hits") >= 9).as("recall_ok"))
    }),
    // Persisted-PQ probe: codes-only scan (8 ints/row vs 64 floats), ADC
    // scoring from the sidecar codebooks — the production "train once,
    // probe many" shape. Trained float codebooks → rows-only (the
    // integer-exact q_sim_pq_portable pins the ADC semantics).
    "q_sim_pq_indexed" -> ((s, d) => {
      val path = pqEnsureIndex(s, d)
      val q = t(s, d, "embeddings").filter(col("vec_id") === 1)
        .select(col("embedding").cast("array<double>")).limit(1)
        .collect()(0).getSeq[Double](0).toArray
      graft.operators.ProductQuantization.pqTopKIndexed(s, path, q, k = 20,
        excludeId = 1)
    }),
    // Incremental PQ maintenance (the q_sim_ivf_append pattern): fresh
    // index in its own temp dir, append the same corpus under shifted ids
    // via the SIDECAR codebooks, verify from one readback that every
    // vector appears exactly twice with IDENTICAL codes — the invariant
    // that proves the sidecar round-trips the books exactly (drifted
    // books would re-encode some vector differently somewhere).
    // Persisted-OPQ probe (r14, VERDICT r13 §next-6): the rotated-PQ
    // path's amortized form — rotation + codebooks loaded from the
    // index's sidecars, the query rotated into the stored geometry,
    // codes-only ADC scan. Rows-only (trained rotation + float books);
    // pinned by the oracled q_sim_opq_gate (rotated recall >= the
    // unrotated floor, reconstruction band).
    "q_sim_opq_indexed" -> ((s, d) => {
      val path = opqEnsureIndex(s, d)
      val q = t(s, d, "embeddings").filter(col("vec_id") === 1)
        .select(col("embedding").cast("array<double>")).limit(1)
        .collect()(0).getSeq[Double](0).toArray
      graft.operators.ProductQuantization.opqTopKIndexed(s, path, q, k = 20,
        excludeId = 1)
    }),
    // OPQ sidecar round trip (r14, the q_sim_pq_append invariant):
    // fresh index, append the same corpus under shifted ids via the
    // SIDECAR rotation + books — every vector must appear exactly twice
    // with IDENTICAL codes (a drifted rotation or book would re-encode
    // some vector differently somewhere).
    "q_sim_opq_append" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val path = tempDirCleaned("graft-opq-append") + "/idx"
      graft.operators.ProductQuantization.opqWriteIndex(emb, "vec_id",
        "embedding", dim = 64, path, m = 8, kCodewords = 16)
      // tagged + re-delivered (the q_sim_ivf_append note)
      val batch = emb.withColumn("vec_id", col("vec_id") + 1000000L)
      graft.operators.ProductQuantization.opqAppendIndex(
        batch, "vec_id", "embedding", path, Some("1"))
      graft.operators.ProductQuantization.opqAppendIndex(
        batch, "vec_id", "embedding", path, Some("1")) // replay
      s.read.parquet(path)
        .select(pmod(col("id"), lit(1000000L)).as("k"),
          array_join(col("codes").cast("array<string>"), ",").as("cs"))
        .groupBy("k")
        .agg(count(lit(1)).as("__n"), countDistinct(col("cs")).as("__nc"))
        .agg(sum("__n").as("n_rows"),
          (max(col("__nc")) === 1L && min(col("__n")) === 2L &&
            max(col("__n")) === 2L).as("codes_consistent"))
    }),
    "q_sim_pq_append" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val path = tempDirCleaned("graft-pq-append") + "/idx"
      graft.operators.ProductQuantization.pqWriteIndex(emb, "vec_id",
        "embedding", dim = 64, path, m = 8, kCodewords = 16)
      // tagged + re-delivered (the q_sim_ivf_append note)
      val batch = emb.withColumn("vec_id", col("vec_id") + 1000000L)
      graft.operators.ProductQuantization.pqAppendIndex(
        batch, "vec_id", "embedding", path, Some("1"))
      graft.operators.ProductQuantization.pqAppendIndex(
        batch, "vec_id", "embedding", path, Some("1")) // replay
      s.read.parquet(path)
        .select(pmod(col("id"), lit(1000000L)).as("k"),
          array_join(col("codes").cast("array<string>"), ",").as("cs"))
        .groupBy("k")
        .agg(count(lit(1)).as("__n"), countDistinct(col("cs")).as("__nc"))
        .agg(sum("__n").as("n_rows"),
          (max(col("__nc")) === 1L && min(col("__n")) === 2L &&
            max(col("__n")) === 2L).as("codes_consistent"))
    }),
    // Margin-based neighbor mining (r14): the CCMatrix/bitext scorer —
    // pair quality RELATIVE to each side's k-NN neighborhood mass
    // (hubness-killed), over a two-sided split of the embeddings
    // fixture (even ids = source side, odd = target side). Integer
    // fixed-point ratio margin on quantized dots, replayed
    // forward-pass/backward-pass/margin in DuckDB. BENCHED: the
    // two-broadcast-scan + margin shape is its own engine form.
    "q_ret_margin_mine" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Retrieval.marginMine(
          emb.filter(col("vec_id") % 2 === 0),
          emb.filter(col("vec_id") % 2 =!= 0),
          "vec_id", "embedding", queryIds = Seq(2L, 4L, 6L), k = 8,
          topM = 5)
        .orderBy("src_id", "rank")
    }),
    // Indexed margin mining (r15, VERDICT r14 §next-3): the
    // corpus×corpus composition the brute form's scaladoc promised —
    // both neighborhood passes ride the persisted two-sided IVF
    // indexes (forward probe on the target index, backward probe on
    // the source index, cell IN (...) partition pruning). Probes run
    // at nProbe = nCentroids here, so recall is exact and the row
    // SHARES the brute q_ret_margin_mine oracle outright (the
    // q_warc_file_ingest shared-oracle gate pattern): the index round
    // trip must reproduce every margin pair hash-exactly. BENCHED as
    // the amortized row — index writes paid once per process, the
    // probe chain is the per-batch steady-state cost.
    "q_ret_margin_mine_indexed" -> ((s, d) => {
      val (srcP, tgtP) = marginIdxEnsure(s, d)
      Retrieval.marginMineIndexed(s, srcP, tgtP,
          queryIds = Seq(2L, 4L, 6L), k = 8, topM = 5, nProbe = 16)
        .orderBy("src_id", "rank")
    }),
    // PQ/OPQ retrain compaction gate (r17 — the q_sim_ivf_retrain_gate
    // verb for the codes-only families): codebooks (and the OPQ
    // rotation) frozen at write time drift as appends shift the corpus;
    // retrain re-trains from the source-of-truth table and swaps
    // codes + sidecars as one staged unit. Both trainers are
    // deterministic (driver-side md5 samples sorted by id), so
    // build-half → append-half → retrain must equal a fresh build over
    // the union CODE-FOR-CODE — pinned for PQ and OPQ in one row.
    // Verify-only (trains repeatedly per run — the append-gate ruling).
    "q_sim_pq_retrain_gate" -> ((s, d) => {
      val emb = t(s, d, "embeddings").filter(size(col("embedding")) === 64)
      val dir = tempDirCleaned("graft-pqretrain")
      val half = emb.filter(col("vec_id") % 2 === 0)
      val other = emb.filter(col("vec_id") % 2 =!= 0)
      val pq = graft.operators.ProductQuantization
      def codesOf(p: String) = s.read.parquet(p)
        .select(col("id"),
          array_join(col("codes").cast("array<string>"), ",").as("cs"))
      def equalCodes(a: String, b: String): Boolean =
        codesOf(a).exceptAll(codesOf(b)).isEmpty &&
          codesOf(b).exceptAll(codesOf(a)).isEmpty
      val (pA, pB) = (s"$dir/pq_incr", s"$dir/pq_rebuild")
      pq.pqWriteIndex(half, "vec_id", "embedding", dim = 64, pA)
      pq.pqAppendIndex(other, "vec_id", "embedding", pA)
      pq.pqRetrainCompact(emb, "vec_id", "embedding", dim = 64, pA)
      pq.pqWriteIndex(emb, "vec_id", "embedding", dim = 64, pB)
      val pqEq = equalCodes(pA, pB)
      val (oA, oB) = (s"$dir/opq_incr", s"$dir/opq_rebuild")
      pq.opqWriteIndex(half, "vec_id", "embedding", dim = 64, oA)
      pq.opqAppendIndex(other, "vec_id", "embedding", oA)
      pq.opqRetrainCompact(emb, "vec_id", "embedding", dim = 64, oA)
      pq.opqWriteIndex(emb, "vec_id", "embedding", dim = 64, oB)
      val opqEq = equalCodes(oA, oB)
      emb.agg(count(lit(1)).as("n_vectors"))
        .select(col("n_vectors"),
          lit(pqEq).as("pq_retrain_equals_rebuild"),
          lit(opqEq).as("opq_retrain_equals_rebuild"))
    }),
    "q_sim_ivf_topk" -> ((s, d) =>
      Similarity.ivfTopK(t(s, d, "embeddings"), "vec_id", "embedding", dim = 64,
        queryId = 1, k = 20, nCentroids = 16, nProbe = 4)),
    // Portable IVF twin: md5-parity centroids + integer-exact assignment,
    // probe selection, and ranking with total tie-breaks — the assign ->
    // probe -> cell-pruned scan -> top-k shape replayed bit-for-bit by
    // the DuckDB oracle (q_sim_ann_portable's role for IVF).
    "q_sim_ivf_portable" -> ((s, d) =>
      Similarity.ivfTopKPortable(t(s, d, "embeddings"), "vec_id", "embedding",
        dim = 64, queryId = 1, k = 20, nCentroids = 16, nProbe = 4)),
    // IVF index write and probe are separate entries so the bench bills the
    // (one-time) sink cost and the (per-query, partition-pruned) probe cost
    // apart. The write's readback count is oracle-checkable; the probe is
    // rows-only (splitmix64 centroids). The probe builds the index when it
    // runs first (map order is unspecified) — median-of-3 bench timing
    // absorbs that one-time cost.
    "q_sim_ivf_index_write" -> ((s, d) => {
      val path = ivfIndexPath(d)
      Similarity.ivfWriteIndex(t(s, d, "embeddings"), "vec_id", "embedding",
        dim = 64, nCentroids = 16, path = path)
      s.read.parquet(path).agg(count(lit(1)).as("n_rows"))
    }),
    "q_sim_ivf_indexed" -> ((s, d) =>
      Similarity.ivfTopKIndexed(s, ivfEnsureIndex(s, d), dim = 64,
        queryId = 1, k = 20, nCentroids = 16, nProbe = 4)),
    // IVF retrain compaction gate (r17, VERDICT r16 §next-2): appends
    // assign to FROZEN centroids, so the index family's third verb is
    // retrain-recluster. The trainer is deterministic (md5 sample sorted
    // by id, fixed init, fixed update order), so build-on-half + append-
    // half + retrainCompact must train THE SAME centroids as a fresh
    // build over the union — the gate pins probe-after-retrain ==
    // probe-after-rebuild row-for-row, plus the drift gate reading
    // exactly 1.0 recall at full probe width on the retrained index. The
    // oracled scalar is the corpus vector count; recall-decay-then-
    // restore on a deliberately drifted append lives in SimilaritySpec.
    // Verify-only (trains per run — the append-gate ruling).
    "q_sim_ivf_retrain_gate" -> ((s, d) => {
      val emb = t(s, d, "embeddings").filter(size(col("embedding")) === 64)
      val dir = tempDirCleaned("graft-ivfretrain")
      val pA = s"$dir/incr"
      val pB = s"$dir/rebuild"
      val trainedHalf = Similarity.kMeansCentroidsSampled(
        emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
        dim = 64, k = 16, sampleFraction = 1.0)
      Similarity.ivfWriteIndex(emb.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", dim = 64, nCentroids = 16, pA,
        centroids = trainedHalf)
      Similarity.ivfAppendIndex(emb.filter(col("vec_id") % 2 =!= 0),
        "vec_id", "embedding", pA)
      Similarity.ivfRetrainCompact(s, pA, dim = 64)
      val trainedAll = Similarity.kMeansCentroidsSampled(emb, "vec_id",
        "embedding", dim = 64, k = 16, sampleFraction = 1.0)
      Similarity.ivfWriteIndex(emb, "vec_id", "embedding", dim = 64,
        nCentroids = 16, pB, centroids = trainedAll)
      val probeA = Similarity.ivfTopKIndexed(s, pA, dim = 64, queryId = 1,
        k = 20)
      val probeB = Similarity.ivfTopKIndexed(s, pB, dim = 64, queryId = 1,
        k = 20)
      val probesEqual = probeA.exceptAll(probeB).isEmpty &&
        probeB.exceptAll(probeA).isEmpty
      val gate = Similarity.ivfRecallGate(s, pA,
        queryIds = Seq(1L, 3L, 5L, 7L), k = 10, nProbe = 16,
        minRecall = 1.0)
      emb.agg(count(lit(1)).as("n_vectors"))
        .crossJoin(gate.select(col("pass").as("__recall_exact")))
        .select(col("n_vectors"),
          lit(probesEqual).as("retrain_equals_rebuild"),
          col("__recall_exact").as("recall_exact_ok"))
    }),
    // PCA dimensionality reduction (r12): the standard pre-ANN /
    // pre-clustering transform. The benched row is the amortized
    // persisted-model probe — load the 16-component model table, ONE
    // codegen'd AffineMatVec pass per row, scalar projections out
    // (rows-only: eigenvectors are not SQL-derivable; pinned by the
    // oracled full-rank gate below).
    "q_emb_pca_scored" -> ((s, d) => {
      val m = Pca.readModel(s, pcaEnsureModel(s, d))
      t(s, d, "embeddings").filter(size(col("embedding")) === 64)
        .select(col("vec_id"),
          Pca.projectCol(col("embedding"), m).as("pv"))
        .select(col("vec_id"),
          round(element_at(col("pv"), 1), 6).as("pc1"),
          round(sqrt(graft.expressions.VectorExpressions
            .dotProduct(col("pv"), col("pv"))), 6).as("pnorm"))
        .orderBy("vec_id")
    }),
    // PCA-for-ANN recall gate (planted low-rank, the q_sim_recall_gate
    // planted-cluster convention): the raw embeddings fixture is
    // deliberately isotropic (measured top eigenvalue 0.0275 vs the
    // 1/64 ≈ 0.0156 isotropic floor; reduced-space recall 5/20) — the one
    // regime where dropping dimensions MUST lose neighbors, so a recall
    // gate there would pin noise. The gate instead plants intrinsic
    // dimension 4 (damp all but the first 4 coordinates 20×), trains
    // PCA-8, and demands (a) ≥ 90% variance captured (measured 96.7%)
    // and (b) reduced-space L2 top-20 recall ≥ 16/20 vs full-space exact
    // (measured 18/20 at sf0.01, 20/20 at sf0.1). The reduced ranking
    // runs DISTRIBUTED through the same AffineMatVec/DotProduct natives
    // the probe uses (d² = pv·pv − 2·pv·q up to the constant ‖q‖²);
    // the full-space truth is driver-derived from the bounded fixture
    // (quality-gate ruling — verify-only).
    "q_emb_pca_ann_gate" -> ((s, d) => {
      val emb = t(s, d, "embeddings").filter(size(col("embedding")) === 64)
      val lowRank = emb.select(col("vec_id"),
        expr("transform(embedding, (x, i) -> CASE WHEN i < 4 " +
          "THEN CAST(x AS DOUBLE) ELSE CAST(x AS DOUBLE) * 0.05 END)")
          .as("v"))
      val mFull = Pca.pcaTrain(lowRank, "vec_id", "v", dim = 64, k = 64)
      val varOk = mFull.eigenvalues.take(8).sum >= 0.9 * mFull.eigenvalues.sum
      val m = Pca.PcaModel(mFull.mean, mFull.eigenvalues.take(8),
        mFull.components.take(8))
      val pr = lowRank.collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      val qv = pr.find(_._1 == 1L).getOrElse(
        throw new IllegalStateException("fixture has no vec_id = 1"))._2
      def l2(a: Array[Double], b: Array[Double]): Double = {
        var s2 = 0.0; var i = 0
        while (i < a.length) { val dd = a(i) - b(i); s2 += dd * dd; i += 1 }
        s2
      }
      val truth = pr.filter(_._1 != 1L)
        .sortBy(r => (l2(r._2, qv), r._1)).take(20).map(_._1).toSet
      val qp = m.components.map(cr =>
        (0 until 64).map(i => (qv(i) - m.mean(i)) * cr(i)).sum)
      val dot = graft.expressions.VectorExpressions.dotProduct _
      val hits = lowRank.filter(col("vec_id") =!= 1L)
        .select(col("vec_id"), Pca.projectCol(col("v"), m).as("pv"))
        .withColumn("d2", dot(col("pv"), col("pv")) -
          lit(2.0) * dot(col("pv"), typedLit(qp.toIndexedSeq)))
        .orderBy(col("d2").asc, col("vec_id").asc).limit(20)
        .filter(col("vec_id").isin(truth.toSeq: _*)).count()
      emb.agg(count(lit(1)).as("n_vectors"))
        .select(col("n_vectors"), lit(varOk).as("var_ok"),
          lit(hits >= 16).as("recall_ok"))
    }),
    // Full-rank PCA gate (constructive-zero oracle, the noleak_prod
    // pattern): train k = dim on the full fixture, then pin (a)
    // orthonormal components + descending eigenvalues (driver-checked
    // booleans), (b) Σ eigenvalues == the DISTRIBUTED total variance —
    // which cross-checks the driver-side mean/covariance against an
    // independent Spark aggregation — and (c) project→reconstruct is the
    // identity for EVERY vector, distributed through the same natives
    // the probe uses. Verify-only: trains per run (quality-gate ruling).
    "q_emb_pca_gate" -> ((s, d) => {
      val emb = t(s, d, "embeddings").filter(size(col("embedding")) === 64)
      val m = Pca.pcaTrain(emb, "vec_id", "embedding", dim = 64, k = 64)
      val orthoOk = {
        var worst = 0.0
        for (a <- 0 until 64; b <- 0 until 64) {
          val dot = (0 until 64).map(i =>
            m.components(a)(i) * m.components(b)(i)).sum
          worst = math.max(worst,
            math.abs(dot - (if (a == b) 1.0 else 0.0)))
        }
        worst < 1e-8
      }
      val orderOk = m.eigenvalues.zip(m.eigenvalues.tail)
        .forall { case (hi, lo) => hi >= lo }
      val distVar = emb
        .select(posexplode(col("embedding").cast("array<double>"))
          .as(Seq("pos", "x")))
        .groupBy("pos")
        .agg(count(lit(1)).as("n"), sum("x").as("s"),
          sum(col("x") * col("x")).as("ss"))
        .select((col("ss") / col("n") -
          (col("s") / col("n")) * (col("s") / col("n"))).as("v"))
        .agg(sum("v")).collect()(0).getDouble(0)
      val varOk = math.abs(m.eigenvalues.sum - distVar) <=
        1e-6 * math.max(1.0, math.abs(distVar))
      val dot = graft.expressions.VectorExpressions.dotProduct _
      val x = col("embedding")
      val recon = Pca.reconstructCol(Pca.projectCol(x, m), m)
      emb.select((dot(x, x) - lit(2.0) * dot(x, recon) +
          dot(recon, recon)).as("e2"))
        .agg(count(lit(1)).as("n_vectors"),
          sum((col("e2") > 1e-8).cast("long")).as("recon_violations"))
        .select(col("n_vectors"), col("recon_violations"),
          lit(orthoOk).as("ortho_ok"), lit(orderOk).as("order_ok"),
          lit(varOk).as("var_ok"))
    }),
    // Incremental index maintenance: write a fresh index (own temp dir —
    // the shared probe index must stay append-free), append the same
    // corpus under shifted ids via the SIDECAR centroids, and verify from
    // one readback scan that (a) every vector now appears exactly twice
    // and (b) both copies landed in the SAME cell — the invariant that
    // keeps probe recall intact across appends. Oracle recomputes the
    // doubled row count and pins the consistency boolean.
    "q_sim_ivf_append" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val path = tempDirCleaned("graft-ivf-append") + "/idx"
      Similarity.ivfWriteIndex(emb, "vec_id", "embedding",
        dim = 64, nCentroids = 16, path = path)
      // late r17: the append runs TAGGED and is re-delivered — a
      // double-append would duplicate every batch row (min __n becomes 3)
      // and break this exact-count hash
      val batch = emb.withColumn("vec_id", col("vec_id") + 1000000L)
      Similarity.ivfAppendIndex(batch, "vec_id", "embedding", path, Some("1"))
      Similarity.ivfAppendIndex(batch, "vec_id", "embedding", path, Some("1")) // replay
      s.read.parquet(path)
        .select(pmod(col("id"), lit(1000000L)).as("k"), col("cell"))
        .groupBy("k")
        .agg(count(lit(1)).as("__n"), countDistinct(col("cell")).as("__nc"))
        .agg(sum("__n").as("n_rows"),
          (max(col("__nc")) === 1L && min(col("__n")) === 2L &&
            max(col("__n")) === 2L).as("cells_consistent"))
    }),
    // ANN quality gate: the truth side (exact strong-cosine pairs over a
    // bounded id range, and its count) is oracle-checkable; the booleans
    // assert measured recall — a plausible-but-poor ANN (broken planes,
    // misaligned probe cells) flips them to false and fails the hash gate.
    // ANN params are sized for the 0.3-cosine radius at this corpus size
    // (recall ~0.93 at every SF). The IVF leg runs on the deterministic
    // planted-cluster fixture with TRAINED (Lloyd's k-means) centroids and
    // a tight probe budget (nProbe 2 of 32 cells). Measured on this
    // deterministic fixture: trained recall 1.0, untrained pseudo-centroids
    // 0.85, random/broken probing ~0.06 — the 0.9 threshold therefore
    // rejects not just a broken probe but also skipping training, unlike
    // the r3 gate whose 0.45 sat below the uniform-corpus no-structure
    // floor.
    "q_sim_recall_gate" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val truth = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding",
        maxId = 500, minCos = 0.30).select("id_a", "id_b")
      val ann = Similarity.annLsh(emb, "vec_id", "embedding", dim = 64,
          bands = 32, bitsPerBand = 5, minCosine = 0.30)
        .filter(col("id_a") < 500 && col("id_b") < 500)
      val annHits = truth.join(ann, Seq("id_a", "id_b"), "left_semi")
      val fix = Similarity.clusteredEmbeddings(s, nClusters = 32,
        perCluster = 32, dim = 64)
      val trained = Similarity.kMeansCentroids(fix, "embedding", dim = 64,
        k = 32, maxIter = 5)
      val qids = (0 until 8).map(c => c.toLong * 4 * 32 + 1) // 8 spread clusters
      val ivfAvg = Similarity.recallAtK(
          Similarity.bruteForceTopKMulti(fix, "vec_id", "embedding", qids, k = 10),
          Similarity.ivfTopKMulti(fix, "vec_id", "embedding", dim = 64, qids,
            k = 10, nCentroids = 32, nProbe = 2, centroids = trained))
        .agg(avg(col("recall")).as("__ivf_avg"))
      truth.agg(count(lit(1)).as("n_truth_pairs"))
        .crossJoin(annHits.agg(count(lit(1)).as("__n_hit")))
        .crossJoin(ivfAvg)
        .select(col("n_truth_pairs"),
          (col("__n_hit").cast("double") / col("n_truth_pairs").cast("double")
            >= 0.9).as("ann_recall_ok"),
          (col("__ivf_avg") >= 0.9).as("ivf_recall_ok"))
    }),
    // ---- multimodal -----------------------------------------------------
    "q_mm_asset_meta" -> ((s, d) =>
      Multimodal.withAssetMetadata(
          t(s, d, "documents")
            .select(col("doc_id"), Multimodal.fakePayloadFromText(col("text")).as("payload"),
              mime.as("mime")),
          "payload", "mime")
        .select("doc_id", "n_bytes", "content_sha", "media_type")
        .orderBy("doc_id")),
    // REAL resize path: decode -> 2x nearest-neighbor pixel replication ->
    // PNG re-encode -> decode again; integral replication preserves channel
    // means bit-exactly, so the oracle checks the full round trip.
    "q_mm_resize_real" -> ((s, d) =>
      Multimodal.decodeBatched(
          Multimodal.resizeImageBatched(
            Multimodal.synthPngFromId(
              spread(t(s, d, "documents").select("doc_id")), "doc_id"),
            "png", scale = 2),
          "resized", dim = 5, decodeBatch = Multimodal.decodeImageBatch)
        .select(col("doc_id"),
          element_at(col("features"), 1).cast("long").as("width"),
          element_at(col("features"), 2).cast("long").as("height"),
          element_at(col("features"), 3).as("mean_r"),
          element_at(col("features"), 4).as("mean_g"))
        .orderBy("doc_id")),
    "q_mm_resize" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          length(Multimodal.stubResize(
            Multimodal.fakePayloadFromText(col("text")), 64)).cast("long").as("n_resized"))
        .orderBy("doc_id")),
    "q_mm_frame_counts" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          size(Multimodal.frameSample(
            Multimodal.fakePayloadFromText(col("text")), 16, 8)).as("n_frames"))
        .orderBy("doc_id")),
    // REAL codec path: synthesized PNGs (size + fill color derived from
    // doc_id) decoded by javax.imageio — width/height/channel means are
    // oracle-predictable in plain SQL.
    "q_mm_png_decode" -> ((s, d) =>
      Multimodal.decodeBatched(
          Multimodal.synthPngFromId(
            spread(t(s, d, "documents").select("doc_id")), "doc_id"),
          "png", dim = 5, decodeBatch = Multimodal.decodeImageBatch)
        .select(col("doc_id"),
          element_at(col("features"), 1).cast("long").as("width"),
          element_at(col("features"), 2).cast("long").as("height"),
          element_at(col("features"), 3).as("mean_r"),
          element_at(col("features"), 4).as("mean_g"))
        .orderBy("doc_id")),
    // REAL codec path, JPEG (r15, VERDICT r14 §next-5): the most common
    // web image format finally exercised end-to-end — the two-tone
    // fixture encoded LOSSY through the JDK JPEG writer, decoded by
    // javax.imageio, perceptually hashed. Assertions are decoded-pixel
    // INVARIANTS robust to lossy encoding (never byte equality):
    // exact dimensions, aHash within 4 bits of the image's own class
    // representative (docs 0-4), and more than 8 bits from every OTHER
    // class's representative — class recovery through the lossy round
    // trip, pinned per row in the hash.
    "q_mm_jpeg_decode" -> ((s, d) => {
      val jp = Multimodal.synthJpeg2ToneFromId(
        spread(t(s, d, "documents").select("doc_id")), "doc_id", classes = 5)
      val hashed = Multimodal.withImageAHash(jp, "jpg", "phash")
      val feats = Multimodal.decodeBatched(hashed, "jpg", dim = 5,
        decodeBatch = Multimodal.decodeImageBatch)
      // reps from a 5-row subtree: the filter can't push through the
      // opaque MapPartitions hash/synth nodes, so filtering `hashed`
      // re-encoded and re-hashed ALL rows a second time just to keep 5
      // (r17 plan audit); synth is per-row deterministic, so building the
      // representatives from the pre-filtered ids is value-identical.
      val reps = Multimodal.withImageAHash(
          Multimodal.synthJpeg2ToneFromId(
            t(s, d, "documents").select("doc_id").filter(col("doc_id") < 5),
            "doc_id", classes = 5),
          "jpg", "phash")
        .select((col("doc_id") % 5).as("rep_cls"),
          col("phash").as("rep_hash"))
      feats.select(col("doc_id"),
          element_at(col("features"), 1).cast("long").as("width"),
          element_at(col("features"), 2).cast("long").as("height"),
          col("phash"), (col("doc_id") % 5).as("cls"))
        .crossJoin(broadcast(reps))
        .withColumn("ham", expr("bit_count(phash ^ rep_hash)"))
        .groupBy("doc_id", "width", "height")
        .agg(
          (max(when(col("rep_cls") === col("cls"), col("ham"))) <= 4)
            .as("near_class_rep"),
          (min(when(col("rep_cls") =!= col("cls"), col("ham"))) > 8)
            .as("class_separated"))
        .orderBy("doc_id")
    }),
    // Perceptual-hash image near-dup dedup (late r10): two-tone patterned
    // PNGs (pattern class = doc_id % 5, odd ids carry one bit of noise)
    // run the FULL encode -> imageio decode -> 8x8 aHash -> banded
    // Hamming LSH -> connected components pipeline; the oracle predicts
    // the resulting groups from id arithmetic alone (group = min id of
    // the class = doc_id % 5 on the 0-based fixture ids).
    "q_mm_phash_groups" -> ((s, d) =>
      Multimodal.imageNearDupGroups(
          Multimodal.withImageAHash(
            Multimodal.synthPng2ToneFromId(
              t(s, d, "documents").select("doc_id"), "doc_id", classes = 5),
            "png", "phash"),
          "doc_id", "phash", maxHamming = 2)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),
    // Gradient twin (r15): the same two-tone classes recovered through
    // the 9×8 difference hash — gradients survive the global-luma shifts
    // that move aHash's mean, so near-dup stacks carry both. Same
    // planted-class oracle, same pair-blowup ruling (verify-only).
    "q_mm_dhash_groups" -> ((s, d) =>
      Multimodal.imageNearDupGroups(
          Multimodal.withImageDHash(
            Multimodal.synthPng2ToneFromId(
              t(s, d, "documents").select("doc_id"), "doc_id", classes = 5),
            "png", "dhash"),
          "doc_id", "dhash", maxHamming = 2)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),
    // Frequency twin (r15): classic DCT pHash over the dense-spectrum
    // fixture (images built IN the DCT basis, so the hash bits ARE the
    // planted class signs and the odd-id impulse pixel moves nothing —
    // the robustness the frequency domain buys). Classes land identical,
    // cross-class >= 24 bits apart (measured); planted-class oracle.
    "q_mm_dcthash_groups" -> ((s, d) =>
      Multimodal.imageNearDupGroups(
          Multimodal.withImagePHashDct(
            Multimodal.synthPngSpectrumFromId(
              t(s, d, "documents").select("doc_id"), "doc_id", classes = 5),
            "png", "dct_hash"),
          "doc_id", "dct_hash", maxHamming = 2)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),
    // Audio twin of the perceptual-hash pipeline (late r10): two-tone
    // WAVs (loud/quiet window pattern = doc_id % 4, odd ids one window
    // of noise) through decode -> 64-window energy hash -> banded
    // Hamming -> components; groups again predicted by id arithmetic.
    "q_mm_audiohash_groups" -> ((s, d) =>
      Multimodal.audioNearDupGroups(
          Multimodal.withAudioEnergyHash(
            Multimodal.synthWav2ToneFromId(
              t(s, d, "documents").select("doc_id"), "doc_id", classes = 4),
            "wav", "ahash"),
          "doc_id", "ahash", maxHamming = 2)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),
    // REAL codec path #2: synthesized PCM16 WAVs (frame count + constant
    // amplitude derived from doc_id) decoded by javax.sound.sampled —
    // sample rate/frames/duration/RMS are oracle-predictable in plain SQL
    // (constant-amplitude RMS and /32768 are IEEE-exact on both engines).
    // deliberately NOT spread: javax.sound's AudioSystem serializes its
    // SPI provider lookup on a global monitor, so 32-way parallel decode
    // measured SLOWER than the single-task scan (0.37→0.63 s; same for
    // the downsample/µ-law rows) — the audio rows keep the natural scan
    // partitioning. See OPTIMIZATION_r17.md (multimodal).
    "q_mm_wav_decode" -> ((s, d) =>
      Multimodal.decodeBatched(
          Multimodal.synthWavFromId(t(s, d, "documents").select("doc_id"), "doc_id"),
          "wav", dim = 5, decodeBatch = Multimodal.decodeAudioBatch)
        .select(col("doc_id"),
          element_at(col("features"), 1).cast("long").as("sample_rate"),
          element_at(col("features"), 2).cast("long").as("n_channels"),
          element_at(col("features"), 3).cast("long").as("n_frames"),
          element_at(col("features"), 4).as("duration_sec"),
          element_at(col("features"), 5).as("rms"))
        .orderBy("doc_id")),
    // REAL audio downsample path (r15 — the resize_real contract,
    // audio side): decode → integral frame decimation → JDK WAV
    // re-encode → decode again. Constant-amplitude fixtures preserve
    // RMS bit-exactly through decimation and map frame counts to
    // ceil(n/2), so the oracle value-checks the full
    // decode→transform→re-encode→decode round trip from id arithmetic.
    // COMPRESSED audio chain (r16, VERDICT r15 §next-6 — the JPEG
    // treatment for audio): PCM16 → G.711 µ-law (8-bit companded, half
    // the bytes, genuinely lossy) → decode back → analyze. Unlike JPEG,
    // µ-law's loss is SPEC-DEFINED integer arithmetic, so the oracle
    // replays the exact quantization (segment exponent + 4-bit
    // mantissa) and the RMS hash-checks the decoded SAMPLE VALUES, not
    // just class invariants. MultimodalSpec pins the codec against the
    // JDK's independent ULAW converter sample-for-sample inside G.711's
    // linear domain.
    "q_mm_mulaw_roundtrip" -> ((s, d) =>
      Multimodal.decodeBatched(
          Multimodal.decodeMulawWavBatched(
            Multimodal.transcodeWavMulawBatched(
              Multimodal.synthWavFromId(
                t(s, d, "documents").select("doc_id"), "doc_id"),
              "wav"),
            "mulaw"),
          "pcm", dim = 5, decodeBatch = Multimodal.decodeAudioBatch)
        .select(col("doc_id"),
          element_at(col("features"), 1).cast("long").as("sample_rate"),
          element_at(col("features"), 2).cast("long").as("n_channels"),
          element_at(col("features"), 3).cast("long").as("n_frames"),
          element_at(col("features"), 4).as("duration_sec"),
          element_at(col("features"), 5).as("rms"))
        .orderBy("doc_id")),
    "q_mm_wav_downsample" -> ((s, d) =>
      Multimodal.decodeBatched(
          Multimodal.downsampleWavBatched(
            Multimodal.synthWavFromId(
              t(s, d, "documents").select("doc_id"), "doc_id"),
            "wav", factor = 2),
          "down", dim = 5, decodeBatch = Multimodal.decodeAudioBatch)
        .select(col("doc_id"),
          element_at(col("features"), 1).cast("long").as("sample_rate"),
          element_at(col("features"), 2).cast("long").as("n_channels"),
          element_at(col("features"), 3).cast("long").as("n_frames"),
          element_at(col("features"), 4).as("duration_sec"),
          element_at(col("features"), 5).as("rms"))
        .orderBy("doc_id")),
    // REAL codec path #3: synthesized animated GIFs (frame count, size and
    // per-frame solid colors derived from doc_id) decoded frame-by-frame by
    // javax.imageio's GIF reader — the all-frame channel means are short
    // modular sums both engines round identically in IEEE doubles.
    "q_mm_gif_decode" -> ((s, d) =>
      Multimodal.decodeBatched(
          Multimodal.synthGifFromId(
            spread(t(s, d, "documents").select("doc_id")), "doc_id"),
          "gif", dim = 5, decodeBatch = Multimodal.decodeVideoBatch)
        .select(col("doc_id"),
          element_at(col("features"), 1).cast("long").as("n_frames"),
          element_at(col("features"), 2).cast("long").as("width"),
          element_at(col("features"), 3).cast("long").as("height"),
          element_at(col("features"), 4).as("mean_r"),
          element_at(col("features"), 5).as("mean_g"))
        .orderBy("doc_id")),
    "q_mm_decode_features" -> ((s, d) =>
      Multimodal.decodeBatched(
          t(s, d, "documents")
            .select(col("doc_id"), Multimodal.fakePayloadFromText(col("text")).as("payload")),
          "payload", dim = 8)
        .select(col("doc_id"), element_at(col("features"), 1).as("f0"))
        .orderBy("doc_id")),
    // per-language quality percentiles: exact + t-digest sketch side by side
    // (rows-only: interpolation ULPs and sketch internals are engine-specific)
    // Exact percentiles are value-matched by the oracle (DuckDB
    // quantile_cont uses the same linear interpolation); the t-digest
    // sketch is engine-specific by construction, so its CONTRACT — close
    // to exact — is what gets checked: a boolean the oracle pins true.
    "q_text_quality_percentiles" -> ((s, d) =>
      t(s, d, "documents")
        .groupBy("lang")
        .agg(expr("percentile(n_chars, 0.5)").as("p50_chars"),
          expr("percentile(n_chars, 0.95)").as("p95_chars"),
          expr("percentile_approx(n_chars, 0.5)").cast("double").as("__p50_sk"))
        .select(col("lang"), col("p50_chars"), col("p95_chars"),
          (abs(col("__p50_sk") - col("p50_chars")) <=
            greatest(lit(1.0), col("p50_chars") * 0.05)).as("sketch_close_ok"))
        .orderBy("lang")),
    // approx distinct (HLL sketch — the 100 TB form of A6). The estimate
    // itself is engine-specific by construction, so the oracle pins the
    // sketch's CONTRACT instead: the exact count value-matches DuckDB and
    // the HLL estimate must land within its configured error envelope
    // (rsd=0.05 default; envelope 2x that) — the q_sim_recall_gate pattern
    // applied to sketch accuracy.
    "q_a6_approx_distinct_days" -> ((s, d) =>
      t(s, d, "lineitem").filter(col("l_shipdate").isNotNull)
        .agg(approx_count_distinct(to_date(col("l_shipdate"))).as("__approx"),
          countDistinct(to_date(col("l_shipdate"))).as("n_days_exact"))
        .select(col("n_days_exact"),
          (abs(col("__approx") - col("n_days_exact")).cast("double") <=
            col("n_days_exact").cast("double") * 0.10).as("approx_within_10pct"))),
    // rolling daily trend (A11): corpus-scale hash agg to per-day totals,
    // then a trailing 7-day RANGE window over day-cardinality rows
    "q_a11_rolling_daily" -> ((s, d) =>
      Aggregates.rollingDailyAgg(t(s, d, "lineitem"), "l_shipdate",
        "l_quantity", days = 7).orderBy("day")),
    // ---- SQL API surface (spark.sql over temp views) --------------------
    "q_sql_pricing_summary" -> ((s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(
        """SELECT l_returnflag, l_linestatus, count(*) AS n,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
          |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
          |    AS sum_disc_price
          |FROM lineitem
          |WHERE l_shipdate <= TIMESTAMP_NTZ '1997-09-02 00:00:00'
          |GROUP BY l_returnflag, l_linestatus
          |ORDER BY l_returnflag, l_linestatus""".stripMargin)
    }),
    // ---- time-series continuity -----------------------------------------
    // Daily per-user sums densified onto each user's own date spine with
    // forward fill — "no row for the day" made explicit for downstream
    // rolling windows and as-of joins.
    "q_ts_gapfill" -> ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("user_id"), col("ts").cast("date").as("day"))
        .agg(moneySum("value"))
      TimeSeries.gapFillDaily(daily, "user_id", "day", "sum_value")
        .orderBy("user_id", "day")
    }),
    // Rolling z-score metric monitor: each event type's daily value total
    // scored against its own trailing 14 observed days. The float tail is
    // correctly-rounded IEEE, but the squared-sum DECIMAL(38,8) has a
    // mantissa beyond 2^53 and the engines CONVERT it to double
    // differently (Spark: one correctly-rounded BigDecimal conversion;
    // DuckDB: int128→double then /10^scale — double rounding), so z picks
    // up a last-ulp wobble at sf0.1 — the driver row rounds it to 6
    // decimals (the q_text_lm_perplexity ruling).
    "q_ts_anomaly" -> ((s, d) =>
      TimeSeries.anomaliesZScore(t(s, d, "events"), "event_type", "ts",
          "value", days = 14, minPoints = 5, threshold = 2.0)
        .withColumn("z_score", round(col("z_score"), 6))
        .orderBy("event_type", "day")),
    // ---- event-time windowed aggregation (streaming shape) --------------
    "q_events_daily_window" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(window(col("ts"), "1 day").getField("start").cast("date").as("day"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), moneySum("value"))
        .orderBy("day", "event_type")),
    // GENUINE Structured Streaming execution, DuckDB-oracled: file-stream
    // source over the same events parquet, watermarked windowed agg,
    // AvailableNow trigger drained into a memory sink — the streaming
    // engine's answer must value-match the batch oracle exactly. (Complete
    // output mode + single-batch drain: the watermark cannot drop rows,
    // because it only advances after the batch that carries them.)
    "q_stream_daily_window" -> ((s, d) => {
      val agg = Streams.windowedCounts(Streams.readTableStream(s, d, "events"),
        "ts", "event_type", windowLen = "1 day", lateness = "1 hour",
        amountCol = Some("value"))
      val sink = "q_stream_daily_window_sink"
      withStreamStatePartitions(s) {
        val q = agg.writeStream.format("memory").queryName(sink)
          .outputMode("complete")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.table(sink)
        .select(col("window_start").cast("date").as("day"), col("event_type"),
          col("n"), col("sum_value"))
        .orderBy("day", "event_type")
    }),
    // GENUINE stream-STREAM join execution, DuckDB-oracled: two file-stream
    // sources over the same events parquet (clicks / views), equi on user
    // with a 30-minute event-time horizon, drained AvailableNow into a
    // memory sink and value-matched against the batch theta join. Lateness
    // exceeds the fixture's time span so watermark eviction cannot race the
    // source's batch split — inner-join matches don't need the watermark to
    // EMIT, only to evict, and the gate must be deterministic; the spec
    // pins the state-cleanup semantics at realistic lateness instead.
    "q_stream_join_horizon" -> ((s, d) => {
      val clicks = Streams.readTableStream(s, d, "events")
        .filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
      val views = Streams.readTableStream(s, d, "events")
        .filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"),
          col("ts").as("view_ts"))
      val joined = Streams.joinWithinHorizon(clicks, views, Seq("user_id"),
        "click_ts", "view_ts", maxLag = "30 minutes", lateness = "3650 days")
      val sink = "q_stream_join_horizon_sink"
      withStreamStatePartitions(s) {
        val q = joined.writeStream.format("memory").queryName(sink)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.table(sink).select("click_id", "view_id", "user_id")
        .orderBy("click_id", "view_id")
    })
  )

  /** DuckDB-equivalent SQL per query (same parquet tables, same column
    * names/aliases). Omitted: minhash/simhash/LSH/IVF queries — their hash
    * families (xxhash64, splitmix64) aren't reproducible in DuckDB SQL; the
    * driver records rows-only checks for them, and the oracled quality
    * gates (`q_dedup_*_gate`, `q_sim_recall_gate`, `q_dedup_embed_gate`)
    * pin their semantics instead.
    */
  /** Shared tail of the three substring-dedup oracles (code-review r11:
    * three verbatim copies of the interval-merge/rebuild SQL could
    * silently de-synchronize): takes the marked-starts CTE chain (must
    * end in `ds(doc_id, s)`) and an optional doc-slice condition
    * restricting which documents rebuild, and replays
    * `Dedup.rebuildUncovered` — the lag/cummax new-interval rule, the
    * coverage explode, and the position-ordered rebuild — identically
    * for every family.
    */
  private def substrRebuildSql(headCtes: String, docCond: String): String = {
    val w = if (docCond.isEmpty) "" else s"\n  WHERE $docCond"
    val wOuter = if (docCond.isEmpty) "" else s"\nWHERE d.$docCond"
    s"""$headCtes,
       |iv AS (
       |  SELECT doc_id, s, CASE WHEN s > coalesce(max(s + 4) OVER (
       |      PARTITION BY doc_id ORDER BY s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
       |    THEN 1 ELSE 0 END AS ng
       |  FROM ds),
       |grp AS (
       |  SELECT doc_id, s,
       |    sum(ng) OVER (PARTITION BY doc_id ORDER BY s) AS g
       |  FROM iv),
       |merged AS (
       |  SELECT doc_id, g, min(s) AS lo, max(s) + 3 AS hi
       |  FROM grp GROUP BY doc_id, g),
       |cov AS (
       |  SELECT DISTINCT doc_id, p AS pos
       |  FROM merged, unnest(range(lo, hi + 1)) AS u(p)),
       |tokrows AS (
       |  SELECT doc_id, i - 1 AS pos, tk[i] AS tok
       |  FROM w, unnest(generate_series(1, len(tk))) AS u(i)$w),
       |kept AS (
       |  SELECT t.doc_id, t.pos, t.tok FROM tokrows t
       |  LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
       |  WHERE c.doc_id IS NULL),
       |agg AS (
       |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_clean,
       |    count(*) AS nk
       |  FROM kept GROUP BY doc_id),
       |n AS (SELECT doc_id, len(tk) AS nt FROM w$w)
       |SELECT d.doc_id, coalesce(a.text_clean, '') AS text_clean,
       |  CAST(coalesce(a.nk, 0) AS BIGINT) AS n_tokens_kept,
       |  CAST(n.nt - coalesce(a.nk, 0) AS BIGINT) AS n_tokens_removed
       |FROM documents d JOIN n USING (doc_id) LEFT JOIN agg a USING (doc_id)$wOuter
       |ORDER BY d.doc_id""".stripMargin
  }

  /** The shared windows head of the substring oracles (tokenize +
    * stride-1 4-token windows).
    */
  private val substrWindowsCte: String =
    """WITH w AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS tk
      |  FROM documents),
      |wins AS (
      |  SELECT doc_id, i AS s, array_to_string(tk[i+1 : i+4], ' ') AS win
      |  FROM w, unnest(range(0, len(tk) - 3)) AS r(i)
      |  WHERE len(tk) >= 4)""".stripMargin

  private lazy val baseOracleSql: Map[String, String] = Map(
    "q_f1_eq_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem WHERE l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_f2_excl_keepnull" ->
      """SELECT event_id, event_type FROM events
        |WHERE event_type <> 'click' OR event_type IS NULL
        |ORDER BY event_id""".stripMargin,
    "q_f3_conj_dates" ->
      """SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem
        |WHERE l_returnflag = 'A' AND year(l_shipdate) >= 1995 AND l_discount > 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_f4_semijoin" ->
      """SELECT l_orderkey, l_linenumber FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'O')
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_f9_nonempty" ->
      """SELECT source, count(*) AS n FROM documents
        |WHERE text IS NOT NULL AND CAST(text AS VARCHAR) <> ''
        |GROUP BY source ORDER BY source""".stripMargin,
    "q_j4_inner_join_agg" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_j5_left_outer_agg" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        |  CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,4))), 0) AS DOUBLE) AS sum_o_totalprice
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "q_j6_align_diff" ->
      """WITH a AS (SELECT strftime(l_shipdate, '%Y-%m') AS month, count(*) AS n
        |           FROM lineitem WHERE l_shipdate IS NOT NULL GROUP BY 1),
        |     b AS (SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS n
        |           FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1)
        |SELECT coalesce(a.month, b.month) AS month,
        |  coalesce(a.n, 0) AS n_rows_a, coalesce(b.n, 0) AS n_rows_b,
        |  coalesce(a.n, 0) - coalesce(b.n, 0) AS diff
        |FROM a FULL OUTER JOIN b ON a.month = b.month
        |ORDER BY month""".stripMargin,
    "q_j7_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
        |  true AS bucketed_no_exchange_ok
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_j8_asof_join" ->
      """WITH s AS (
        |  SELECT user_id, ts, event_id AS snap_id, value AS snap_value
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, ts
        |                     ORDER BY event_id DESC) AS rk
        |        FROM events WHERE event_type = 'purchase')
        |  WHERE rk = 1)
        |SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts,
        |  s.snap_id AS asof_snap_id, s.snap_value AS asof_snap_value
        |FROM events e
        |ASOF LEFT JOIN s ON e.user_id = s.user_id AND e.ts >= s.ts
        |ORDER BY e.event_id""".stripMargin,
    "q_a1_monthly_agg" ->
      """SELECT strftime(l_shipdate, '%Y-%m') AS month, count(*) AS n_rows,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_l_extendedprice,
        |  CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS sum_l_discount
        |FROM lineitem WHERE l_shipdate IS NOT NULL
        |GROUP BY 1 ORDER BY month""".stripMargin,
    "q_a2_month_state" ->
      """SELECT strftime(l_shipdate, '%Y-%m') AS month, l_returnflag AS state,
        |  count(*) AS n
        |FROM lineitem WHERE l_shipdate IS NOT NULL
        |GROUP BY 1, 2 ORDER BY month, state""".stripMargin,
    "q_skew_salted_agg" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_l_quantity
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // Per-column profile replayed literally: one SELECT per column,
    // count(DISTINCT) excludes NULLs on both engines, min/max rendered
    // through VARCHAR casts (bigint/varchar/timestamp render identically;
    // doubles deliberately not in the set).
    "q_profile_orders" ->
      """WITH p AS (
        |  SELECT 'o_custkey' AS col_name, count(*) AS n_rows,
        |    count(*) - count(o_custkey) AS n_nulls,
        |    count(DISTINCT o_custkey) AS n_distinct,
        |    CAST(min(o_custkey) AS VARCHAR) AS min_value,
        |    CAST(max(o_custkey) AS VARCHAR) AS max_value FROM orders
        |  UNION ALL
        |  SELECT 'o_orderdate', count(*), count(*) - count(o_orderdate),
        |    count(DISTINCT o_orderdate), CAST(min(o_orderdate) AS VARCHAR),
        |    CAST(max(o_orderdate) AS VARCHAR) FROM orders
        |  UNION ALL
        |  SELECT 'o_orderkey', count(*), count(*) - count(o_orderkey),
        |    count(DISTINCT o_orderkey), CAST(min(o_orderkey) AS VARCHAR),
        |    CAST(max(o_orderkey) AS VARCHAR) FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
        |    count(DISTINCT o_orderpriority), CAST(min(o_orderpriority) AS VARCHAR),
        |    CAST(max(o_orderpriority) AS VARCHAR) FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
        |    count(DISTINCT o_orderstatus), CAST(min(o_orderstatus) AS VARCHAR),
        |    CAST(max(o_orderstatus) AS VARCHAR) FROM orders)
        |SELECT col_name, CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(n_nulls AS BIGINT) AS n_nulls,
        |  CAST(n_distinct AS BIGINT) AS n_distinct, min_value, max_value
        |FROM p ORDER BY col_name""".stripMargin,
    // KLL truth side: the true order statistics — INCLUSIVE quantile at
    // q is the value at sorted position ceil(q·n) (ties collapse to the
    // same value regardless of row_number's arbitrary tie order).
    "q_prof_kll_quantiles" ->
      """WITH s AS (SELECT n_chars AS v FROM documents),
        |n AS (SELECT count(*) AS cnt FROM s),
        |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM s)
        |SELECT CAST(q AS DOUBLE) AS q,
        |  (SELECT v FROM r, n WHERE rn = CAST(ceil(q * cnt) AS BIGINT))
        |    AS value,
        |  (SELECT cnt FROM n) AS n
        |FROM (VALUES (0.1),(0.25),(0.5),(0.75),(0.9),(0.99)) AS qv(q)
        |ORDER BY q""".stripMargin,
    // Theta overlap truth side: the exact distinct-set algebra — the
    // raw-hash regime (distincts < 2^14 at both scales) makes the sketch
    // estimates LAND on these, so the set identities are hash-checked,
    // not approximated.
    "q_prof_theta_overlap" ->
      """WITH a AS (SELECT doc_id FROM documents),
        |b AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0
        |      UNION ALL
        |      SELECT doc_id + 10000000 FROM documents WHERE doc_id % 7 = 0)
        |SELECT
        |  CAST((SELECT count(DISTINCT doc_id) FROM a) AS BIGINT) AS n_a,
        |  CAST((SELECT count(DISTINCT doc_id) FROM b) AS BIGINT) AS n_b,
        |  CAST((SELECT count(DISTINCT doc_id) FROM
        |    (SELECT doc_id FROM a UNION ALL SELECT doc_id FROM b))
        |    AS BIGINT) AS n_union,
        |  CAST((SELECT count(DISTINCT a.doc_id) FROM a
        |    JOIN b ON a.doc_id = b.doc_id) AS BIGINT) AS n_intersect,
        |  CAST((SELECT count(DISTINCT doc_id) FROM a
        |    WHERE doc_id NOT IN (SELECT doc_id FROM b)) AS BIGINT) AS n_a_only,
        |  CAST((SELECT count(DISTINCT doc_id) FROM b
        |    WHERE doc_id NOT IN (SELECT doc_id FROM a)) AS BIGINT)
        |    AS n_b_only""".stripMargin,
    // Truth side of the sketch-index gate: the identical base+batch union
    // rebuilt relationally, exact non-NULL counts and distincts per
    // column; the estimate booleans are the engine-measured signal
    // (DataSketches arithmetic is engine-private — the compress-gate
    // convention).
    "q_prof_hll_gate" ->
      """WITH batch AS (
        |  SELECT doc_id + 10000000 AS doc_id, lang, source || '_x' AS source
        |  FROM documents WHERE doc_id % 5 = 0),
        |u AS (
        |  SELECT doc_id, lang, source FROM documents
        |  UNION ALL SELECT doc_id, lang, source FROM batch),
        |p AS (
        |  SELECT 'doc_id' AS col_name, count(doc_id) AS n_values,
        |    count(DISTINCT doc_id) AS n_distinct_exact FROM u
        |  UNION ALL
        |  SELECT 'lang', count(lang), count(DISTINCT lang) FROM u
        |  UNION ALL
        |  SELECT 'source', count(source), count(DISTINCT source) FROM u)
        |SELECT col_name, CAST(n_values AS BIGINT) AS n_values,
        |  CAST(n_distinct_exact AS BIGINT) AS n_distinct_exact,
        |  TRUE AS est_ok
        |FROM p ORDER BY col_name""".stripMargin,
    // The plain join — hotColdJoin's result must be indistinguishable.
    "q_skew_hotcold_join" ->
      """SELECT s_nationkey, count(*) AS n_lines,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_l_quantity
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Truth side of the CMS probe: the exact per-supplier line counts —
    // the sketch estimates must LAND on these (fixed seed, bounded
    // candidates: any depth-wide collision would hash-fail the row).
    "q_skew_cms_hot" ->
      """SELECT CAST(s_suppkey AS BIGINT) AS key,
        |  CAST(count(l_suppkey) AS BIGINT) AS est_count
        |FROM supplier LEFT JOIN lineitem ON l_suppkey = s_suppkey
        |GROUP BY s_suppkey
        |ORDER BY est_count DESC, key ASC LIMIT 20""".stripMargin,
    // The indexed form shares the exact-counts truth outright: merged
    // per-batch sketches == the one-shot sketch (CMS linearity), and
    // the fixed-seed estimates land on the true counts — so the hash IS
    // the write+append+compact==rebuild gate (late r16).
    "q_skew_cms_indexed" ->
      """SELECT CAST(s_suppkey AS BIGINT) AS key,
        |  CAST(count(l_suppkey) AS BIGINT) AS est_count
        |FROM supplier LEFT JOIN lineitem ON l_suppkey = s_suppkey
        |GROUP BY s_suppkey
        |ORDER BY est_count DESC, key ASC LIMIT 20""".stripMargin,
    // The streaming replay gate shares the same exact-counts truth: the
    // batch-split appends must sum to the one-shot sketch AND every
    // re-delivered batch must no-op — a double append inflates counts.
    "q_stream_cms_replay_gate" ->
      """SELECT CAST(s_suppkey AS BIGINT) AS key,
        |  CAST(count(l_suppkey) AS BIGINT) AS est_count
        |FROM supplier LEFT JOIN lineitem ON l_suppkey = s_suppkey
        |GROUP BY s_suppkey
        |ORDER BY est_count DESC, key ASC LIMIT 20""".stripMargin,
    // Charset-sniffing round trip: DuckDB replays the constructed truth
    // text (concat arithmetic — charset-invariant), the detected charset,
    // and the detector stage per case; the Spark side must decode its
    // REAL encoded bytes back to exactly this.
    "q_warc_charset" ->
      """WITH c AS (SELECT doc_id, CAST(doc_id % 12 AS INT) AS k FROM documents)
        |SELECT doc_id,
        |  CASE WHEN k IN (0, 1, 4) THEN 'UTF-8'
        |       WHEN k IN (3, 8) THEN 'Shift_JIS'
        |       WHEN k IN (6, 9) THEN 'GBK'
        |       WHEN k = 10 THEN 'EUC-KR'
        |       WHEN k = 11 THEN 'Big5'
        |       ELSE 'windows-1252' END AS charset,
        |  CASE k WHEN 0 THEN 'bom' WHEN 1 THEN 'meta' WHEN 2 THEN 'meta'
        |         WHEN 3 THEN 'meta' WHEN 4 THEN 'utf8' WHEN 6 THEN 'meta'
        |         WHEN 7 THEN 'header'
        |         WHEN 8 THEN 'stat' WHEN 9 THEN 'stat' WHEN 10 THEN 'stat'
        |         WHEN 11 THEN 'stat'
        |         ELSE 'fallback' END AS method,
        |  CASE
        |    WHEN k = 0 OR k = 4 THEN concat('<html><head></head><body>café Grün 東京 #',
        |      CAST(doc_id AS VARCHAR), '</body></html>')
        |    WHEN k = 1 THEN concat('<html><head><meta charset="utf-8"></head><body>café Grün 東京 #',
        |      CAST(doc_id AS VARCHAR), '</body></html>')
        |    WHEN k = 2 THEN concat('<html><head><meta http-equiv="Content-Type" content="text/html; charset=iso-8859-1"></head><body>café Grün £ © #',
        |      CAST(doc_id AS VARCHAR), '</body></html>')
        |    WHEN k = 3 THEN concat('<html><head><meta charset="shift_jis"></head><body>こんにちは世界 SJIS #',
        |      CAST(doc_id AS VARCHAR), '</body></html>')
        |    WHEN k = 6 THEN concat('<html><head><meta charset="gbk"></head><body>中文网页内容 GBK #',
        |      CAST(doc_id AS VARCHAR), '</body></html>')
        |    WHEN k = 8 THEN concat('<html><head></head><body>こんにちは、世界のページです #',
        |      CAST(doc_id AS VARCHAR), '</body></html>')
        |    WHEN k = 9 THEN concat('<html><head></head><body>中文网页的内容测试数据示例 #',
        |      CAST(doc_id AS VARCHAR), '</body></html>')
        |    WHEN k = 10 THEN concat('<html><head></head><body>한국어 웹 페이지 내용 예시 #',
        |      CAST(doc_id AS VARCHAR), '</body></html>')
        |    WHEN k = 11 THEN concat('<html><head></head><body>中文網頁的內容測試資料範例 #',
        |      CAST(doc_id AS VARCHAR), '</body></html>')
        |    ELSE concat('<html><head></head><body>café Grün £ © #',
        |      CAST(doc_id AS VARCHAR), '</body></html>')
        |  END AS text
        |FROM c ORDER BY doc_id""".stripMargin,
    // Truth side of the IVF retrain gate: the vector count is oracled;
    // retrain==rebuild row equality and the full-width recall boolean
    // are engine-side invariants (the q_sim_pq_gate convention).
    "q_sim_ivf_retrain_gate" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_vectors,
        |  true AS retrain_equals_rebuild, true AS recall_exact_ok
        |FROM embeddings WHERE len(embedding) = 64""".stripMargin,
    // Same convention for the codes-only families: count oracled, the
    // code-for-code retrain==rebuild booleans engine-side.
    "q_sim_pq_retrain_gate" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_vectors,
        |  true AS pq_retrain_equals_rebuild,
        |  true AS opq_retrain_equals_rebuild
        |FROM embeddings WHERE len(embedding) = 64""".stripMargin,
    "q_a2_rollup" ->
      """SELECT strftime(l_shipdate, '%Y-%m') AS month, l_returnflag AS state,
        |  count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_amt
        |FROM lineitem WHERE l_shipdate IS NOT NULL
        |GROUP BY ROLLUP(1, 2) ORDER BY month, state""".stripMargin,
    "q_a2_pivot_wide" ->
      """SELECT strftime(l_shipdate, '%Y-%m') AS month,
        |  count(CASE WHEN l_returnflag = 'A' THEN 1 END) AS A,
        |  count(CASE WHEN l_returnflag = 'N' THEN 1 END) AS N,
        |  count(CASE WHEN l_returnflag = 'R' THEN 1 END) AS R
        |FROM lineitem WHERE l_shipdate IS NOT NULL
        |GROUP BY 1 ORDER BY month""".stripMargin,
    "q_a3_value_counts" ->
      """SELECT event_type AS value, count(*) AS n FROM events
        |GROUP BY 1 ORDER BY value""".stripMargin,
    "q_a4_global_sums" ->
      """SELECT
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS total_charged,
        |  CAST(sum(CAST(l_tax AS DECIMAL(18,4))) AS DOUBLE) AS total_paid,
        |  count(*) AS n_rows,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)))
        |     - sum(CAST(l_tax AS DECIMAL(18,4))) AS DOUBLE) AS total_debt
        |FROM lineitem""".stripMargin,
    "q_a5_a6_date_profile" ->
      """SELECT min(CAST(l_shipdate AS DATE)) AS first_day,
        |  max(CAST(l_shipdate AS DATE)) AS last_day,
        |  count(DISTINCT CAST(l_shipdate AS DATE)) AS n_days,
        |  count(*) AS n_rows
        |FROM lineitem WHERE l_shipdate IS NOT NULL""".stripMargin,
    "q_a6_approx_distinct_days" ->
      """SELECT count(DISTINCT CAST(l_shipdate AS DATE)) AS n_days_exact,
        |  TRUE AS approx_within_10pct
        |FROM lineitem WHERE l_shipdate IS NOT NULL""".stripMargin,
    "q_a11_rolling_daily" ->
      """WITH daily AS (
        |  SELECT CAST(l_shipdate AS DATE) AS day,
        |    sum(CAST(l_quantity AS DECIMAL(18,4))) AS q
        |  FROM lineitem WHERE l_shipdate IS NOT NULL GROUP BY 1)
        |SELECT day, CAST(q AS DOUBLE) AS day_total,
        |  CAST(sum(q) OVER w AS DOUBLE) AS total_7d,
        |  CAST(sum(q) OVER w AS DOUBLE) / CAST(count(*) OVER w AS DOUBLE)
        |    AS avg_7d
        |FROM daily
        |WINDOW w AS (ORDER BY day
        |  RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
        |ORDER BY day""".stripMargin,
    "q_a7_distinct_proj" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_a8_global_count" -> "SELECT count(*) AS n FROM lineitem",
    "q_o1_sort_limit" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        |ORDER BY ts ASC, event_id ASC LIMIT 100""".stripMargin,
    "q_o3_topk_days" ->
      """SELECT CAST(l_shipdate AS DATE) AS key, count(*) AS n
        |FROM lineitem WHERE l_shipdate IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, key ASC LIMIT 5""".stripMargin,
    "q_o4_last12_months" ->
      """SELECT * FROM (
        |  SELECT strftime(l_shipdate, '%Y-%m') AS month, count(*) AS n_rows,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_l_extendedprice
        |  FROM lineitem WHERE l_shipdate IS NOT NULL
        |  GROUP BY 1 ORDER BY month DESC LIMIT 12)
        |ORDER BY month ASC""".stripMargin,
    "q_e1_orphan_keys" ->
      """SELECT DISTINCT c_custkey FROM customer
        |WHERE c_custkey IS NOT NULL
        |  AND c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL)
        |ORDER BY c_custkey""".stripMargin,
    "q_e1_orphans_both" ->
      """WITH a AS (SELECT DISTINCT user_id AS k FROM events
        |           WHERE user_id IS NOT NULL),
        |     b AS (SELECT DISTINCT c_custkey AS k FROM customer
        |           WHERE c_custkey IS NOT NULL)
        |SELECT * FROM (
        |  SELECT CAST(k AS VARCHAR) AS key, 'only_in_a' AS direction FROM a
        |  WHERE k NOT IN (SELECT k FROM b)
        |  UNION ALL
        |  SELECT CAST(k AS VARCHAR) AS key, 'only_in_b' AS direction FROM b
        |  WHERE k NOT IN (SELECT k FROM a))
        |ORDER BY direction, key""".stripMargin,
    "q_e3_intersect_keys" ->
      """SELECT user_id FROM events
        |INTERSECT SELECT c_custkey FROM customer
        |ORDER BY user_id""".stripMargin,
    "q_c1_date_parse" ->
      """SELECT l_orderkey, l_linenumber,
        |  coalesce(
        |    try_strptime(strftime(l_shipdate, '%m/%d/%Y %H:%M:%S'), '%Y-%m-%d %H:%M:%S'),
        |    try_strptime(strftime(l_shipdate, '%m/%d/%Y %H:%M:%S'), '%m/%d/%Y %H:%M:%S')
        |  ) AS parsed
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_c4_row_hash" ->
      """SELECT l_orderkey, l_linenumber,
        |  sha256(concat_ws('|',
        |    coalesce(nullif(CAST(l_linenumber AS VARCHAR), ''), 'NULL'),
        |    coalesce(nullif(l_linestatus, ''), 'NULL'),
        |    coalesce(nullif(CAST(l_orderkey AS VARCHAR), ''), 'NULL'),
        |    coalesce(nullif(l_returnflag, ''), 'NULL'),
        |    coalesce(nullif(strftime(l_shipdate, '%Y-%m-%d'), ''), 'NULL'))) AS row_hash
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_c5_norm_key" ->
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN trim(CAST(l_quantity AS VARCHAR)) IS NULL THEN 'NULL'
        |       WHEN try_cast(trim(CAST(l_quantity AS VARCHAR)) AS DOUBLE) IS NOT NULL
        |            AND try_cast(trim(CAST(l_quantity AS VARCHAR)) AS DOUBLE)
        |              = CAST(trunc(try_cast(trim(CAST(l_quantity AS VARCHAR)) AS DOUBLE)) AS DOUBLE)
        |       THEN CAST(CAST(trunc(try_cast(trim(CAST(l_quantity AS VARCHAR)) AS DOUBLE)) AS BIGINT) AS VARCHAR)
        |       WHEN try_cast(trim(CAST(l_quantity AS VARCHAR)) AS DOUBLE) IS NOT NULL
        |       THEN CAST(try_cast(trim(CAST(l_quantity AS VARCHAR)) AS DOUBLE) AS VARCHAR)
        |       ELSE trim(CAST(l_quantity AS VARCHAR)) END AS norm_qty,
        |  CASE WHEN trim(l_returnflag) IS NULL THEN 'NULL'
        |       WHEN try_cast(trim(l_returnflag) AS DOUBLE) IS NOT NULL
        |            AND try_cast(trim(l_returnflag) AS DOUBLE)
        |              = CAST(trunc(try_cast(trim(l_returnflag) AS DOUBLE)) AS DOUBLE)
        |       THEN CAST(CAST(trunc(try_cast(trim(l_returnflag) AS DOUBLE)) AS BIGINT) AS VARCHAR)
        |       WHEN try_cast(trim(l_returnflag) AS DOUBLE) IS NOT NULL
        |       THEN CAST(try_cast(trim(l_returnflag) AS DOUBLE) AS VARCHAR)
        |       ELSE trim(l_returnflag) END AS norm_flag
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_c7_c8_money_parse" ->
      """SELECT event_id,
        |  coalesce(try_cast(regexp_extract(props, '"k": (\d+)', 1) AS DOUBLE), 0.0) AS k_val
        |FROM events ORDER BY event_id""".stripMargin,
    "q_c_json_extract" ->
      """SELECT event_id,
        |  try_cast(regexp_extract(props, '"k": (\d+)', 1) AS INT) AS k
        |FROM events ORDER BY event_id""".stripMargin,
    "q_merge_classify_rows" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 7 = 0 THEN 'insert'
        |       WHEN o_orderkey % 5 = 0 THEN 'update'
        |       ELSE 'skip' END AS cdc_action
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_merge_classify_tally" ->
      """SELECT CASE WHEN o_orderkey % 7 = 0 THEN 'insert'
        |            WHEN o_orderkey % 5 = 0 THEN 'update'
        |            ELSE 'skip' END AS cdc_action, count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY cdc_action""".stripMargin,
    "q_merge_scd2" ->
      """WITH tgt AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 7 <> 0),
        |rows AS (
        |  -- unchanged keys: the open 2025 version passes through
        |  SELECT o_orderkey, o_totalprice,
        |    TIMESTAMP '2025-01-01 00:00:00' AS valid_from,
        |    CAST(NULL AS TIMESTAMP) AS valid_to
        |  FROM tgt WHERE o_orderkey % 5 <> 0
        |  UNION ALL
        |  -- updated keys: old version closed at the merge instant
        |  SELECT o_orderkey, o_totalprice,
        |    TIMESTAMP '2025-01-01 00:00:00',
        |    TIMESTAMP '2026-01-01 00:00:00'
        |  FROM tgt WHERE o_orderkey % 5 = 0
        |  UNION ALL
        |  -- new open versions: updates (source price) + inserts (%7 keys)
        |  SELECT o_orderkey, o_totalprice,
        |    TIMESTAMP '2026-01-01 00:00:00', CAST(NULL AS TIMESTAMP)
        |  FROM orders
        |  WHERE o_orderkey % 7 = 0 OR o_orderkey % 5 = 0)
        |SELECT o_orderkey, o_totalprice, valid_from, valid_to,
        |  valid_to IS NULL AS is_current
        |FROM rows ORDER BY o_orderkey, valid_from""".stripMargin,
    // Same history CTE as q_merge_scd2, filtered to the versions valid at
    // 2025-06-01 (pre-merge): closed 2025 versions qualify (valid_to =
    // 2026-01-01 > t), open post-merge versions don't (valid_from > t).
    "q_merge_scd2_asof" ->
      """WITH tgt AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 7 <> 0),
        |rows AS (
        |  SELECT o_orderkey, o_totalprice,
        |    TIMESTAMP '2025-01-01 00:00:00' AS valid_from,
        |    CAST(NULL AS TIMESTAMP) AS valid_to
        |  FROM tgt WHERE o_orderkey % 5 <> 0
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice,
        |    TIMESTAMP '2025-01-01 00:00:00',
        |    TIMESTAMP '2026-01-01 00:00:00'
        |  FROM tgt WHERE o_orderkey % 5 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice,
        |    TIMESTAMP '2026-01-01 00:00:00', CAST(NULL AS TIMESTAMP)
        |  FROM orders
        |  WHERE o_orderkey % 7 = 0 OR o_orderkey % 5 = 0)
        |SELECT o_orderkey, o_totalprice, valid_from, valid_to
        |FROM rows
        |WHERE valid_from <= TIMESTAMP '2025-06-01 00:00:00'
        |  AND (valid_to IS NULL OR valid_to > TIMESTAMP '2025-06-01 00:00:00')
        |ORDER BY o_orderkey""".stripMargin,
    "q_merge_apply_stats" ->
      """SELECT count(*) AS n_rows, count(DISTINCT o_orderkey) AS n_keys,
        |  count(*) AS max_id,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_o_totalprice
        |FROM orders""".stripMargin,
    "q_a10_dup_null_audit" ->
      """SELECT l_orderkey, count(*) AS n FROM lineitem
        |GROUP BY 1 HAVING count(*) > 1 ORDER BY l_orderkey""".stripMargin,
    "q_w1_latest_per_key" ->
      """SELECT user_id, event_id, event_type FROM (
        |  SELECT user_id, event_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1
        |ORDER BY user_id""".stripMargin,
    "q_w2_sessionize" ->
      """WITH base AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |tagged AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
        |              > 86400000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM base),
        |sess AS (
        |  SELECT user_id, ts,
        |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM tagged)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(ts) AS session_start, max(ts) AS session_end
        |FROM sess GROUP BY 1, 2 ORDER BY user_id, session_id""".stripMargin,
    "q_j9_interval_join" ->
      """WITH base AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |tagged AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
        |              > 86400000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM base),
        |sess AS (
        |  SELECT user_id, ts,
        |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM tagged),
        |s AS (
        |  SELECT user_id, session_id,
        |    min(ts) AS session_start, max(ts) AS session_end
        |  FROM sess GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, s.session_id
        |FROM base e
        |JOIN s ON e.user_id = s.user_id
        |  AND e.ts BETWEEN s.session_start AND s.session_end
        |ORDER BY e.event_id""".stripMargin,
    "q_pipeline_jsonl_roundtrip" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc,
        |  CAST(sum(len(text)) AS BIGINT) AS sum_text_len,
        |  CAST(0 AS BIGINT) AS n_corrupt
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_pipeline_orc_roundtrip" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc,
        |  CAST(sum(len(text)) AS BIGINT) AS sum_text_len
        |FROM documents WHERE lang <> 'zz' GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_pipeline_full_load" ->
      """SELECT row_number() OVER (ORDER BY o_orderkey) AS id,
        |  o_orderkey, o_custkey, o_totalprice
        |FROM orders WHERE o_orderstatus <> 'F' OR o_orderstatus IS NULL
        |ORDER BY id""".stripMargin,
    // batch_tag = -1 proves every row landed in the reserved compaction
    // partition; the aggregates prove no row or character was lost
    "q_pipeline_compact_roundtrip" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_ids,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(len(text)) AS BIGINT) AS sum_text_len,
        |  CAST(-1 AS BIGINT) AS batch_tag
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // All three JDBC write paths (rebuild, incremental, streamed CDC)
    // converge to the same orders-arithmetic truth — ONE shared oracle
    // (jdbcConvergenceOracleSql) so the gates cannot drift.
    "q_stream_jdbc_cdc_gate" -> jdbcConvergenceOracleSql,
    "q_pipeline_jdbc_incremental" -> jdbcConvergenceOracleSql,
    "q_pipeline_jdbc_roundtrip" -> jdbcConvergenceOracleSql,
    // Composes the redact chain, the spans-within dedup, and the token
    // floor in one SQL pipeline — same step order as the recipe.
    // Prefix counts of the audit recipe: redaction is a rewrite (count
    // unchanged), the floor counts tokens of the REDACTED text, and the
    // mixture replays the q_cur_mixture_sample fraction arithmetic over
    // the floor's survivors.
    "q_pipeline_curate_audit" ->
      """WITH red AS (
        |  SELECT doc_id, lang,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |      '(?i:https?)://[^\s]+', '<URL>', 'g'),
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |      '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g') AS text
        |  FROM documents),
        |flo AS (
        |  SELECT doc_id, lang,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |      AS BIGINT) AS pri
        |  FROM red
        |  WHERE len(list_filter(regexp_split_to_array(text, '\s+'),
        |    x -> x <> '')) >= 60),
        |c AS (SELECT lang, count(*) AS n FROM flo
        |      WHERE lang IN ('en', 'es') GROUP BY 1),
        |mix AS (
        |  SELECT flo.doc_id FROM flo JOIN c USING (lang)
        |  WHERE pri < round(least(1.0,
        |      120.0 * CASE flo.lang WHEN 'en' THEN 0.6 ELSE 0.4 END
        |        / (0.6 + 0.4) / c.n) * 4294967296.0))
        |SELECT * FROM (VALUES
        |  (0, 'input', (SELECT count(*) FROM documents)),
        |  (1, 'RedactPii', (SELECT count(*) FROM red)),
        |  (2, 'QualityFloor', (SELECT count(*) FROM flo)),
        |  (3, 'MixRows', (SELECT count(*) FROM mix))) AS a(step_idx, step, n_rows)
        |ORDER BY step_idx""".stripMargin,
    // Floor + NB-margin membership replayed end-to-end (the
    // q_text_nb_margin arithmetic trained on the FLOORED corpus — the
    // recipe trains on the frame as curated so far), then the kept rows;
    // the id/count consistency boolean is engine-side, pinned true.
    // Floor on RAW-text whitespace tokens (QualityFloor semantics), then
    // the DSIR chain: features over ALL documents once; the target model
    // sums the Spanish slice (unfloored), the background model and the
    // scored set restrict to floored docs; Gumbel top-150, semi-join back.
    "q_pipeline_dsir_recipe" ->
      """WITH fl AS (
        |  SELECT doc_id FROM documents
        |  WHERE len(list_filter(regexp_split_to_array(text, '\s+'),
        |    x -> x <> '')) >= 30),
        |tk AS (
        |  SELECT doc_id, lang,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> x <> '') AS t
        |  FROM documents),
        |gr AS (
        |  SELECT doc_id, lang, unnest(t) AS g FROM tk
        |  UNION ALL
        |  SELECT doc_id, lang,
        |    unnest(list_transform(generate_series(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i + 1])) AS g
        |  FROM tk WHERE len(t) >= 2),
        |f AS (
        |  SELECT doc_id, lang,
        |    CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % 512 AS bucket,
        |    count(*) AS cnt
        |  FROM gr GROUP BY 1, 2, 3),
        |tm AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS tc
        |       FROM f WHERE lang = 'es' GROUP BY 1),
        |rm AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS rc
        |       FROM f WHERE doc_id IN (SELECT doc_id FROM fl) GROUP BY 1),
        |tt AS (SELECT CAST(sum(tc) AS BIGINT) AS t FROM tm),
        |rt AS (SELECT CAST(sum(rc) AS BIGINT) AS t FROM rm),
        |ev AS (
        |  SELECT f.doc_id,
        |    sum(CAST(f.cnt * (ln((coalesce(tm.tc, 0) + 0.5) / (tt.t + 256.0))
        |                    - ln((coalesce(rm.rc, 0) + 0.5) / (rt.t + 256.0)))
        |        AS DECIMAL(38,18))) AS s
        |  FROM f LEFT JOIN tm USING (bucket) LEFT JOIN rm USING (bucket)
        |  CROSS JOIN tt CROSS JOIN rt
        |  WHERE f.doc_id IN (SELECT doc_id FROM fl)
        |  GROUP BY 1),
        |w AS (
        |  SELECT fl.doc_id,
        |    round(coalesce(CAST(ev.s AS DOUBLE), 0.0), 6) AS log_weight
        |  FROM fl LEFT JOIN ev ON ev.doc_id = fl.doc_id),
        |pick AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id,
        |      round(log_weight + -ln(-ln(
        |        (CAST(CAST(concat('0x', substr(md5('7:' || CAST(doc_id AS VARCHAR)),
        |           1, 8)) AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0)), 6)
        |        AS gumbel_key
        |    FROM w)
        |  ORDER BY gumbel_key DESC, doc_id
        |  LIMIT 150)
        |SELECT d.doc_id, d.lang, d.n_chars
        |FROM documents d JOIN pick USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // Construction + C4 line filter + page gates (on the RAW page) +
    // blocked-term containment (on the CLEANED text) + word floor.
    "q_pipeline_web_recipe" ->
      """WITH pages AS (
        |  SELECT doc_id,
        |    concat_ws(chr(10),
        |      substring(text, 1, 60) || ' end of line one.',
        |      'the second line has plenty of words and that makes it clean!',
        |      CASE WHEN doc_id % 3 = 0
        |        THEN 'please enable javascript to view this page.'
        |        ELSE 'a third ordinary sentence with the usual words of text.'
        |      END,
        |      'trailing boilerplate without punctuation',
        |      CASE WHEN doc_id % 5 = 0
        |        THEN 'casino night special offer now.'
        |        ELSE 'a clean bonus sentence appears right here.' END,
        |      CASE WHEN doc_id % 7 = 0
        |        THEN 'lorem ipsum dolor sit amet.'
        |        ELSE 'closing sentence with a full stop here.' END) AS page
        |  FROM documents),
        |cleaned AS (
        |  SELECT doc_id, page,
        |    array_to_string(list_filter(
        |      list_filter(string_split(page, chr(10)), l -> trim(l) <> ''),
        |      l -> (ends_with(trim(l), '.') OR ends_with(trim(l), '!')
        |          OR ends_with(trim(l), '?') OR ends_with(trim(l), '"'))
        |        AND len(list_filter(regexp_split_to_array(trim(l), '\s+'),
        |          x -> x <> '')) >= 5
        |        AND NOT contains(lower(trim(l)), 'javascript')),
        |      chr(10)) AS ct
        |  FROM pages)
        |SELECT doc_id,
        |  CAST(len(list_filter(regexp_split_to_array(ct, '\s+'),
        |    x -> x <> '')) AS BIGINT) AS n_words
        |FROM cleaned
        |WHERE len(list_filter(string_split(ct, chr(10)),
        |        l -> trim(l) <> '')) >= 3
        |  AND NOT contains(lower(page), 'lorem ipsum')
        |  AND NOT contains(page, '{')
        |  AND NOT contains(lower(ct), 'casino')
        |  AND NOT contains(lower(ct), 'spam phrase')
        |  AND len(list_filter(regexp_split_to_array(ct, '\s+'),
        |        x -> x <> '')) >= 10
        |ORDER BY doc_id""".stripMargin,
    "q_pipeline_tokenize_recipe" ->
      """WITH docs AS (
        |  SELECT * FROM documents
        |  WHERE len(list_filter(regexp_split_to_array(text, '\s+'),
        |    x -> x <> '')) >= 60),
        |tkx AS (
        |  SELECT doc_id, lang,
        |    unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> x <> '')) AS token
        |  FROM docs),
        |m AS (SELECT lang AS label, token, count(*) AS cnt FROM tkx GROUP BY 1, 2),
        |pr AS (SELECT lang AS label, count(*) AS dl FROM docs GROUP BY 1),
        |ct AS (SELECT label, CAST(sum(cnt) AS BIGINT) AS c FROM m GROUP BY 1),
        |v AS (SELECT count(DISTINCT token) AS vs FROM m),
        |d AS (SELECT CAST(sum(dl) AS BIGINT) AS ds FROM pr),
        |db AS (SELECT doc_id, token, count(*) AS n FROM tkx GROUP BY 1, 2),
        |dbv AS (SELECT * FROM db WHERE token IN (SELECT token FROM m)),
        |ev AS (
        |  SELECT dbv.doc_id, ct.label, CAST(sum(dbv.n) AS BIGINT) AS ns,
        |    sum(CAST(dbv.n * ln((coalesce(m.cnt, 0) + 0.5) / (ct.c + 0.5 * v.vs))
        |        AS DECIMAL(38,18))) AS s
        |  FROM dbv CROSS JOIN ct
        |  LEFT JOIN m ON m.label = ct.label AND m.token = dbv.token
        |  CROSS JOIN v
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT dd.doc_id, pr.label,
        |    coalesce(CAST(ev.s AS DOUBLE), 0.0)
        |      + ln(CAST(pr.dl AS DOUBLE) / CAST(d.ds AS DOUBLE)) AS score
        |  FROM (SELECT doc_id FROM docs) dd CROSS JOIN pr
        |  LEFT JOIN ev ON ev.doc_id = dd.doc_id AND ev.label = pr.label
        |  CROSS JOIN d),
        |top AS (
        |  SELECT doc_id, label AS pred_label,
        |    round(score - lead(score) OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, label ASC), 6) AS margin
        |  FROM sc
        |  QUALIFY row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, label ASC) = 1)
        |SELECT docs.doc_id, docs.lang, true AS ids_consistent
        |FROM docs JOIN top USING (doc_id)
        |WHERE top.pred_label = 'en' AND top.margin >= 1.0
        |ORDER BY doc_id""".stripMargin,
    // Same membership CTEs; per-stage counts as VALUES (the
    // q_pipeline_curate_audit pattern). TokenizeBpe appends columns, so
    // its stage count equals the classifier stage's.
    "q_pipeline_tokenize_audit" ->
      """WITH docs AS (
        |  SELECT * FROM documents
        |  WHERE len(list_filter(regexp_split_to_array(text, '\s+'),
        |    x -> x <> '')) >= 60),
        |tkx AS (
        |  SELECT doc_id, lang,
        |    unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> x <> '')) AS token
        |  FROM docs),
        |m AS (SELECT lang AS label, token, count(*) AS cnt FROM tkx GROUP BY 1, 2),
        |pr AS (SELECT lang AS label, count(*) AS dl FROM docs GROUP BY 1),
        |ct AS (SELECT label, CAST(sum(cnt) AS BIGINT) AS c FROM m GROUP BY 1),
        |v AS (SELECT count(DISTINCT token) AS vs FROM m),
        |d AS (SELECT CAST(sum(dl) AS BIGINT) AS ds FROM pr),
        |db AS (SELECT doc_id, token, count(*) AS n FROM tkx GROUP BY 1, 2),
        |dbv AS (SELECT * FROM db WHERE token IN (SELECT token FROM m)),
        |ev AS (
        |  SELECT dbv.doc_id, ct.label, CAST(sum(dbv.n) AS BIGINT) AS ns,
        |    sum(CAST(dbv.n * ln((coalesce(m.cnt, 0) + 0.5) / (ct.c + 0.5 * v.vs))
        |        AS DECIMAL(38,18))) AS s
        |  FROM dbv CROSS JOIN ct
        |  LEFT JOIN m ON m.label = ct.label AND m.token = dbv.token
        |  CROSS JOIN v
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT dd.doc_id, pr.label,
        |    coalesce(CAST(ev.s AS DOUBLE), 0.0)
        |      + ln(CAST(pr.dl AS DOUBLE) / CAST(d.ds AS DOUBLE)) AS score
        |  FROM (SELECT doc_id FROM docs) dd CROSS JOIN pr
        |  LEFT JOIN ev ON ev.doc_id = dd.doc_id AND ev.label = pr.label
        |  CROSS JOIN d),
        |top AS (
        |  SELECT doc_id, label AS pred_label,
        |    round(score - lead(score) OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, label ASC), 6) AS margin
        |  FROM sc
        |  QUALIFY row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, label ASC) = 1),
        |kept AS (
        |  SELECT doc_id FROM top
        |  WHERE pred_label = 'en' AND margin >= 1.0)
        |SELECT * FROM (VALUES
        |  (0, 'input', (SELECT count(*) FROM documents)),
        |  (1, 'QualityFloor', (SELECT count(*) FROM docs)),
        |  (2, 'ClassifierKeep', (SELECT count(*) FROM kept)),
        |  (3, 'TokenizeBpe', (SELECT count(*) FROM kept)))
        |  AS a(step_idx, step, n_rows)
        |ORDER BY step_idx""".stripMargin,
    "q_pipeline_curate_recipe" ->
      """WITH red AS (
        |  SELECT doc_id, lang,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |      '(?i:https?)://[^\s]+', '<URL>', 'g'),
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |      '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g') AS text
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, lang,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS tk
        |  FROM red),
        |spans AS (
        |  SELECT doc_id, i AS span_id,
        |    array_to_string(tk[i*2+1 : i*2+2], ' ') AS span
        |  FROM w, unnest(range(0, CAST(ceil(len(tk)/2.0) AS BIGINT))) AS r(i)),
        |firsts AS (
        |  SELECT doc_id, span, min(span_id) AS keep_id
        |  FROM spans GROUP BY doc_id, span),
        |agg AS (
        |  SELECT doc_id, string_agg(span, ' ' ORDER BY keep_id) AS text
        |  FROM firsts GROUP BY doc_id)
        |SELECT w.doc_id, a.text, w.lang
        |FROM w JOIN agg a USING (doc_id)
        |WHERE len(list_filter(regexp_split_to_array(a.text, '\s+'),
        |  x -> x <> '')) >= 5
        |ORDER BY doc_id""".stripMargin,
    // Re-derives the export layout from row_number over the md5 order —
    // matching means the filesystem round trip preserved exactly the
    // computed shard membership and positions.
    "q_pipeline_shard_export" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY md5('exp:' || doc_id), doc_id) AS pos
        |  FROM documents)
        |SELECT CAST(floor((pos - 1) / 128.0) AS BIGINT) AS shard,
        |  count(*) AS n_rows, min(pos) AS min_pos, max(pos) AS max_pos,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_dedup_exact_groups" ->
      """SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin,
    "q_dedup_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id AS id,
        |    unnest(list_distinct(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> ''))) AS w
        |  FROM documents WHERE doc_id < 120),
        |sizes AS (SELECT id, count(*) AS n FROM toks GROUP BY id),
        |inter AS (
        |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
        |  FROM toks a JOIN toks b ON a.w = b.w AND a.id < b.id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, jaccard FROM (
        |  SELECT id_a, id_b,
        |    CAST(i AS DOUBLE) / CAST(na.n + nb.n - i AS DOUBLE) AS jaccard
        |  FROM inter JOIN sizes na ON id_a = na.id JOIN sizes nb ON id_b = nb.id)
        |WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin,
    // the incremental index shares the scratch closure outright: any
    // batch split must resolve to the identical min-label groups
    "q_dedup_groups_indexed" -> dedupGroupsOracleSql,
    "q_dedup_groups" -> dedupGroupsOracleSql,
    // Exact counts + the two pinned booleans (the bloom-gate convention:
    // the oracle asserts the invariants as constants; a Spark-side false
    // hash-mismatches the row).
    "q_dedup_decontam_fuzzy_gate" ->
      """SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents)
        |    + (SELECT CAST(count(*) AS BIGINT) FROM documents
        |       WHERE doc_id % 25 = 0) AS n_corpus,
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents
        |   WHERE doc_id % 25 = 0) AS n_planted,
        |  true AS evalish_all_dropped,
        |  true AS clean_overremoval_bounded""".stripMargin,
    "q_dedup_decontam_bloom_gate" ->
      """WITH ct AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> x <> '') AS t
        |  FROM documents),
        |cg AS (
        |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
        |  FROM ct, unnest(generate_series(1, len(t) - 2)) AS u(i)),
        |eg AS (SELECT DISTINCT g FROM cg WHERE doc_id < 50),
        |hits AS (SELECT cg.doc_id AS hid, count(*) AS nh
        |         FROM cg JOIN eg USING (g) GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_removed_exact,
        |  true AS no_false_negatives, true AS overremoval_bounded
        |FROM hits WHERE nh >= 3""".stripMargin,
    "q_dedup_simhash_portable" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS w
        |  FROM documents),
        |th AS (
        |  SELECT doc_id, CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT) AS h
        |  FROM tok),
        |votes AS (
        |  SELECT doc_id, b,
        |    sum(CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END) AS v
        |  FROM th, unnest(generate_series(0, 31)) u(b)
        |  GROUP BY doc_id, b)
        |SELECT doc_id AS id,
        |  CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
        |FROM votes GROUP BY doc_id ORDER BY id""".stripMargin,
    "q_dedup_minhash_portable" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(tk[i+1:i+3], ' ') AS shingle
        |  FROM tok, unnest(generate_series(0, len(tk) - 3)) u(i)
        |  WHERE len(tk) >= 3),
        |h AS (
        |  SELECT doc_id, j,
        |    min(CAST(concat('0x',
        |      substr(md5(shingle || ':' || (j // 4)), 1 + 8 * (j % 4), 8)) AS BIGINT)) AS mh
        |  FROM sh, unnest(generate_series(0, 7)) v(j)
        |  GROUP BY doc_id, j),
        |b AS (
        |  SELECT doc_id, j // 2 AS band, string_agg(mh, ',' ORDER BY j) AS sig
        |  FROM h GROUP BY doc_id, j // 2)
        |SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
        |FROM b a JOIN b c ON a.band = c.band AND a.sig = c.sig AND a.doc_id < c.doc_id
        |ORDER BY id_a, id_b""".stripMargin,
    "q_dedup_keepbest" ->
      """WITH toks AS (
        |  SELECT doc_id AS id,
        |    unnest(list_distinct(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> ''))) AS w
        |  FROM documents WHERE doc_id < 120),
        |sizes AS (SELECT id, count(*) AS n FROM toks GROUP BY id),
        |inter AS (
        |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
        |  FROM toks a JOIN toks b ON a.w = b.w AND a.id < b.id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT id_a, id_b,
        |      CAST(i AS DOUBLE) / CAST(na.n + nb.n - i AS DOUBLE) AS jaccard
        |    FROM inter JOIN sizes na ON id_a = na.id JOIN sizes nb ON id_b = nb.id)
        |  WHERE jaccard >= 0.5),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  WITH RECURSIVE r(id, label) AS (
        |    SELECT DISTINCT src, src FROM edges
        |    UNION
        |    SELECT e.dst, r.label FROM r JOIN edges e ON e.src = r.id)
        |  SELECT * FROM r),
        |grp AS (SELECT id, min(label) AS group_id FROM reach GROUP BY id),
        |ranked AS (
        |  SELECT g.id,
        |    row_number() OVER (PARTITION BY g.group_id
        |      ORDER BY d.n_chars DESC, g.id ASC) AS rk
        |  FROM grp g JOIN documents d ON d.doc_id = g.id)
        |SELECT doc_id, n_chars FROM documents
        |WHERE doc_id NOT IN (SELECT id FROM ranked WHERE rk > 1)
        |ORDER BY doc_id""".stripMargin,
    "q_cur_weighted_sample" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |        AS BIGINT) AS DOUBLE) / 4294967296.0
        |      < least(greatest(CAST(n_chars AS DOUBLE) / 400.0, 0.0), 1.0)
        |ORDER BY doc_id""".stripMargin,
    // Replays the DSIR chain end-to-end: same tokenization, same
    // unigram+bigram feature space, the house md5 bucket (mod 512), both
    // bag models with Lidstone k=0.5 (k·B = 256), per-doc DECIMAL(38,18)
    // sum of cnt·(ln p̂_t − ln p̂_r), rounded once at the edge.
    "q_cur_dsir_weights" ->
      """WITH tk AS (
        |  SELECT doc_id, lang,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> x <> '') AS t
        |  FROM documents),
        |gr AS (
        |  SELECT doc_id, lang, unnest(t) AS g FROM tk
        |  UNION ALL
        |  SELECT doc_id, lang,
        |    unnest(list_transform(generate_series(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i + 1])) AS g
        |  FROM tk WHERE len(t) >= 2),
        |f AS (
        |  SELECT doc_id, lang,
        |    CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % 512 AS bucket,
        |    count(*) AS cnt
        |  FROM gr GROUP BY 1, 2, 3),
        |tm AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS tc
        |       FROM f WHERE lang = 'es' GROUP BY 1),
        |rm AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS rc FROM f GROUP BY 1),
        |tt AS (SELECT CAST(sum(tc) AS BIGINT) AS t FROM tm),
        |rt AS (SELECT CAST(sum(rc) AS BIGINT) AS t FROM rm),
        |ev AS (
        |  SELECT f.doc_id, CAST(sum(f.cnt) AS BIGINT) AS n_features,
        |    sum(CAST(f.cnt * (ln((coalesce(tm.tc, 0) + 0.5) / (tt.t + 256.0))
        |                    - ln((coalesce(rm.rc, 0) + 0.5) / (rt.t + 256.0)))
        |        AS DECIMAL(38,18))) AS s
        |  FROM f LEFT JOIN tm USING (bucket) LEFT JOIN rm USING (bucket)
        |  CROSS JOIN tt CROSS JOIN rt
        |  GROUP BY 1)
        |SELECT d.doc_id, coalesce(ev.n_features, 0) AS n_features,
        |  round(coalesce(CAST(ev.s AS DOUBLE), 0.0), 6) AS log_weight
        |FROM documents d LEFT JOIN ev ON ev.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // Same weights, plus the Gumbel leg: noise −ln(−ln u) from the house
    // md5 uniform u = (first-8-hex('42:'||id) + 0.5)/2^32, key rounded to
    // 6 decimals, ties on doc_id, top-100.
    "q_cur_dsir_sample" ->
      """WITH tk AS (
        |  SELECT doc_id, lang,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> x <> '') AS t
        |  FROM documents),
        |gr AS (
        |  SELECT doc_id, lang, unnest(t) AS g FROM tk
        |  UNION ALL
        |  SELECT doc_id, lang,
        |    unnest(list_transform(generate_series(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i + 1])) AS g
        |  FROM tk WHERE len(t) >= 2),
        |f AS (
        |  SELECT doc_id, lang,
        |    CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % 512 AS bucket,
        |    count(*) AS cnt
        |  FROM gr GROUP BY 1, 2, 3),
        |tm AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS tc
        |       FROM f WHERE lang = 'es' GROUP BY 1),
        |rm AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS rc FROM f GROUP BY 1),
        |tt AS (SELECT CAST(sum(tc) AS BIGINT) AS t FROM tm),
        |rt AS (SELECT CAST(sum(rc) AS BIGINT) AS t FROM rm),
        |ev AS (
        |  SELECT f.doc_id, CAST(sum(f.cnt) AS BIGINT) AS n_features,
        |    sum(CAST(f.cnt * (ln((coalesce(tm.tc, 0) + 0.5) / (tt.t + 256.0))
        |                    - ln((coalesce(rm.rc, 0) + 0.5) / (rt.t + 256.0)))
        |        AS DECIMAL(38,18))) AS s
        |  FROM f LEFT JOIN tm USING (bucket) LEFT JOIN rm USING (bucket)
        |  CROSS JOIN tt CROSS JOIN rt
        |  GROUP BY 1),
        |w AS (
        |  SELECT d.doc_id, coalesce(ev.n_features, 0) AS n_features,
        |    round(coalesce(CAST(ev.s AS DOUBLE), 0.0), 6) AS log_weight
        |  FROM documents d LEFT JOIN ev ON ev.doc_id = d.doc_id)
        |SELECT doc_id, n_features, log_weight,
        |  round(log_weight + -ln(-ln(
        |    (CAST(CAST(concat('0x', substr(md5('42:' || CAST(doc_id AS VARCHAR)),
        |       1, 8)) AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0)), 6)
        |    AS gumbel_key
        |FROM w
        |ORDER BY gumbel_key DESC, doc_id
        |LIMIT 100""".stripMargin,
    // Replays dedupSubstrings exactly: stride-1 4-token windows, >= 2
    // occurrences anywhere (across or within docs), per-doc interval
    // merge with the identical running-max new-interval rule, rebuild of
    // uncovered tokens in position order. Docs shorter than 4 tokens
    // produce no windows and survive untouched.
    "q_dedup_substring" -> substrRebuildSql(
      substrWindowsCte +
        """,
          |dup AS (SELECT win FROM wins GROUP BY win HAVING count(*) >= 2),
          |ds AS (SELECT doc_id, s FROM wins WHERE win IN (SELECT win FROM dup))""".stripMargin,
      docCond = ""),
    // Replays substringProbeIndex: the batch slice's windows probed
    // against the DISTINCT window set of the indexed slice (doc_id >=
    // 120 — rebuilt by the oracle from the same rows the index was
    // written from), then the identical merge/rebuild over batch docs.
    "q_dedup_substring_probe" -> substrRebuildSql(
      substrWindowsCte +
        """,
          |idx AS (SELECT DISTINCT win FROM wins WHERE doc_id >= 120),
          |ds AS (
          |  SELECT doc_id, s FROM wins
          |  WHERE doc_id < 120 AND win IN (SELECT win FROM idx))""".stripMargin,
      docCond = "doc_id < 120"),
    // r14 compaction gate: append + compact must equal the single
    // rebuild — the probe oracle is shared verbatim.
    "q_dedup_substring_compact_gate" -> substrRebuildSql(
      substrWindowsCte +
        """,
          |idx AS (SELECT DISTINCT win FROM wins WHERE doc_id >= 120),
          |ds AS (
          |  SELECT doc_id, s FROM wins
          |  WHERE doc_id < 120 AND win IN (SELECT win FROM idx))""".stripMargin,
      docCond = "doc_id < 120"),
    // Replays dedupSubstringsAgainst: corpus windows probed against the
    // DISTINCT eval-slice window set, then the identical merge/rebuild.
    "q_dedup_substring_decontam" -> substrRebuildSql(
      substrWindowsCte +
        """,
          |ev AS (SELECT DISTINCT win FROM wins WHERE doc_id < 50),
          |ds AS (SELECT doc_id, s FROM wins WHERE win IN (SELECT win FROM ev))""".stripMargin,
      docCond = ""),
    // Replays dedupSpansAcross exactly: same 0-based span starts
    // (i*2 < n_tokens), same clamped final short span, bans at >= 5
    // distinct docs, rebuilds in span order; docs with every span banned
    // survive with empty text.
    "q_dedup_spans_across" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS tk
        |  FROM documents),
        |spans AS (
        |  SELECT doc_id, i AS span_id,
        |    array_to_string(tk[i*2+1 : i*2+2], ' ') AS span
        |  FROM w, unnest(range(0, CAST(ceil(len(tk)/2.0) AS BIGINT))) AS r(i)),
        |banned AS (
        |  SELECT span FROM spans GROUP BY span
        |  HAVING count(DISTINCT doc_id) >= 5),
        |kept AS (
        |  SELECT doc_id, span_id, span FROM spans
        |  WHERE span NOT IN (SELECT span FROM banned)),
        |agg AS (
        |  SELECT doc_id, string_agg(span, ' ' ORDER BY span_id) AS text_clean,
        |    count(*) AS n
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.text_clean, '') AS text_clean,
        |  CAST(coalesce(a.n, 0) AS BIGINT) AS n_spans_kept
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // Same span construction as q_dedup_spans_across; keeps min(span_id)
    // per distinct (doc, span) and rebuilds in first-occurrence order.
    "q_dedup_spans_within" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS tk
        |  FROM documents),
        |spans AS (
        |  SELECT doc_id, i AS span_id,
        |    array_to_string(tk[i*2+1 : i*2+2], ' ') AS span
        |  FROM w, unnest(range(0, CAST(ceil(len(tk)/2.0) AS BIGINT))) AS r(i)),
        |firsts AS (
        |  SELECT doc_id, span, min(span_id) AS keep_id
        |  FROM spans GROUP BY doc_id, span),
        |agg AS (
        |  SELECT doc_id, string_agg(span, ' ' ORDER BY keep_id) AS text_clean,
        |    count(*) AS n
        |  FROM firsts GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.text_clean, '') AS text_clean,
        |  CAST(coalesce(a.n, 0) AS BIGINT) AS n_spans_kept
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q_dedup_decontaminate" ->
      """WITH ct AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> x <> '') AS t
        |  FROM documents),
        |cg AS (
        |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
        |  FROM ct, unnest(generate_series(1, len(t) - 2)) AS u(i)),
        |eg AS (SELECT DISTINCT g FROM cg WHERE doc_id < 50),
        |hits AS (SELECT cg.doc_id AS hid, count(*) AS nh
        |         FROM cg JOIN eg USING (g) GROUP BY 1)
        |SELECT d.doc_id, CAST(coalesce(nh, 0) AS BIGINT) AS n_hits,
        |  coalesce(nh, 0) >= 3 AS contaminated
        |FROM documents d LEFT JOIN hits ON d.doc_id = hits.hid
        |ORDER BY doc_id""".stripMargin,
    // Same 3-gram construction as q_dedup_decontaminate; the eval side
    // carries a suite label and the count is per (doc, suite).
    "q_dedup_contam_report" ->
      """WITH ct AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> x <> '') AS t
        |  FROM documents),
        |cg AS (
        |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
        |  FROM ct, unnest(generate_series(1, len(t) - 2)) AS u(i)),
        |eg AS (
        |  SELECT DISTINCT CASE WHEN doc_id < 25 THEN 'benchA'
        |    ELSE 'benchB' END AS bench, g
        |  FROM cg WHERE doc_id < 50)
        |SELECT cg.doc_id, eg.bench, CAST(count(*) AS BIGINT) AS n_hits
        |FROM cg JOIN eg USING (g)
        |GROUP BY 1, 2 ORDER BY doc_id, bench""".stripMargin,
    "q_dedup_embed_groups" ->
      """WITH b AS (
        |  SELECT vec_id AS id, CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS x,
        |    generate_subscripts(embedding, 1) AS i
        |  FROM embeddings WHERE vec_id < 150),
        |norms AS (SELECT id, sum(x * x) AS nrm FROM b GROUP BY id),
        |dots AS (
        |  SELECT a.id AS id_a, c.id AS id_b, sum(a.x * c.x) AS d
        |  FROM b a JOIN b c ON a.i = c.i AND a.id < c.id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT id_a, id_b,
        |      CAST(d AS DOUBLE) / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))) AS cos
        |    FROM dots JOIN norms na ON id_a = na.id JOIN norms nb ON id_b = nb.id)
        |  WHERE cos >= 0.30),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  WITH RECURSIVE r(id, label) AS (
        |    SELECT DISTINCT src, src FROM edges
        |    UNION
        |    SELECT e.dst, r.label FROM r JOIN edges e ON e.src = r.id)
        |  SELECT * FROM r)
        |SELECT id, min(label) AS group_id FROM reach GROUP BY id ORDER BY id""".stripMargin,
    "q_dedup_embed_gate" ->
      """WITH b AS (
        |  SELECT vec_id AS id, CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS x,
        |    generate_subscripts(embedding, 1) AS i
        |  FROM embeddings WHERE vec_id < 150),
        |norms AS (SELECT id, sum(x * x) AS nrm FROM b GROUP BY id),
        |dots AS (
        |  SELECT a.id AS id_a, c.id AS id_b, sum(a.x * c.x) AS d
        |  FROM b a JOIN b c ON a.i = c.i AND a.id < c.id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT id_a, id_b,
        |      CAST(d AS DOUBLE) / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))) AS cos
        |    FROM dots JOIN norms na ON id_a = na.id JOIN norms nb ON id_b = nb.id)
        |  WHERE cos >= 0.30),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  WITH RECURSIVE r(id, label) AS (
        |    SELECT DISTINCT src, src FROM edges
        |    UNION
        |    SELECT e.dst, r.label FROM r JOIN edges e ON e.src = r.id)
        |  SELECT * FROM r),
        |groups AS (SELECT id, min(label) AS group_id FROM reach GROUP BY id),
        |losers AS (SELECT id FROM groups WHERE id <> group_id)
        |SELECT
        |  (SELECT count(*) FROM embeddings WHERE vec_id < 150)
        |    - (SELECT count(*) FROM losers) AS n_survivors,
        |  TRUE AS survivors_match""".stripMargin,
    "q_dedup_simhash_gate" ->
      """WITH t AS (
        |  SELECT doc_id AS id,
        |    list_sort(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '')) AS tk
        |  FROM documents WHERE doc_id < 120),
        |ne AS (SELECT * FROM t WHERE len(tk) > 0)
        |SELECT CAST(count(*) AS BIGINT) AS n_truth_pairs,
        |  true AS simhash_exact_recall_ok, true AS simhash_precision_ok
        |FROM ne a JOIN ne b ON a.id < b.id AND a.tk = b.tk""".stripMargin,
    // Token SEQUENCE equality (no list_sort — shingling is order-sensitive)
    // and len >= 3 (shingleN: shorter docs carry no signature by design).
    "q_dedup_minhash_gate" ->
      """WITH t AS (
        |  SELECT doc_id AS id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '') AS tk
        |  FROM documents WHERE doc_id < 120),
        |ne AS (SELECT * FROM t WHERE len(tk) >= 3)
        |SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs,
        |  true AS minhash_exact_recall_ok, true AS minhash_highj_recall_ok
        |FROM ne a JOIN ne b ON a.id < b.id AND a.tk = b.tk""".stripMargin,
    "q_dedup_minhash_probe_gate" ->
      """WITH t AS (
        |  SELECT doc_id AS id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '') AS tk
        |  FROM documents WHERE doc_id < 240),
        |ne AS (SELECT * FROM t WHERE len(tk) >= 3)
        |SELECT CAST(count(*) AS BIGINT) AS n_cross_exact_pairs,
        |  true AS probe_exact_recall_ok, true AS probe_est_exact_ok
        |FROM ne a JOIN ne b
        |ON a.id < 120 AND b.id >= 120 AND a.tk = b.tk""".stripMargin,
    // The delete-lifecycle gate: truth re-computed WITHOUT the deleted
    // range, both count columns exact (live signatures after the purge,
    // rows the purge physically removed), booleans engine-side.
    "q_dedup_minhash_delete_gate" ->
      """WITH t AS (
        |  SELECT doc_id AS id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '') AS tk
        |  FROM documents WHERE doc_id < 240),
        |ne AS (SELECT * FROM t WHERE len(tk) >= 3)
        |SELECT
        |  CAST((SELECT count(*) FROM ne a JOIN ne b
        |    ON a.id < 120 AND b.id >= 120
        |    AND NOT (b.id >= 180 AND b.id < 200)
        |    AND a.tk = b.tk) AS BIGINT) AS n_cross_exact_pairs,
        |  true AS probe_delete_recall_ok,
        |  true AS no_deleted_candidates,
        |  true AS purge_probe_unchanged,
        |  CAST((SELECT count(*) FROM ne WHERE id >= 120
        |    AND NOT (id >= 180 AND id < 200)) AS BIGINT) AS n_live_sigs,
        |  CAST((SELECT count(*) FROM ne WHERE id >= 180 AND id < 200)
        |    AS BIGINT) AS n_removed""".stripMargin,
    // The Hamming-family maintenance gate: same truth shape at the ≥1
    // token eligibility (any tokenized doc has a SimHash signature;
    // MinHash needs a full shingle), the radius-0 max-hamming pin, and
    // the double-append-detecting exact count.
    "q_dedup_simhash_append_gate" ->
      """WITH t AS (
        |  SELECT doc_id AS id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '') AS tk
        |  FROM documents WHERE doc_id < 240),
        |ne AS (SELECT * FROM t WHERE len(tk) >= 1)
        |SELECT
        |  CAST((SELECT count(*) FROM ne a JOIN ne b
        |    ON a.id < 120 AND b.id >= 120 AND a.tk = b.tk) AS BIGINT)
        |    AS n_cross_exact_pairs,
        |  true AS probe_exact_recall_ok,
        |  true AS probe_ham0_ok,
        |  CAST((SELECT count(*) FROM ne WHERE id >= 120) AS BIGINT)
        |    AS n_corpus_sigs""".stripMargin,
    // The maintenance gate shares the probe gate's truth, restricted to
    // the [120,240) corpus the write+append pair covers, and adds the
    // exact signature-eligible count — the column a replayed
    // double-append would double.
    "q_dedup_minhash_append_gate" ->
      """WITH t AS (
        |  SELECT doc_id AS id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '') AS tk
        |  FROM documents WHERE doc_id < 240),
        |ne AS (SELECT * FROM t WHERE len(tk) >= 3)
        |SELECT
        |  CAST((SELECT count(*) FROM ne a JOIN ne b
        |    ON a.id < 120 AND b.id >= 120 AND a.tk = b.tk) AS BIGINT)
        |    AS n_cross_exact_pairs,
        |  true AS probe_exact_recall_ok,
        |  true AS probe_est_exact_ok,
        |  CAST((SELECT count(*) FROM ne WHERE id >= 120) AS BIGINT)
        |    AS n_corpus_sigs""".stripMargin,
    // Exact doc count + the two pinned booleans + the oracled
    // zero-token count (the quality-gate convention).
    "q_text_hashvec_gate" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  true AS identical_vectors_exact,
        |  true AS neighbor_mean_cos_bounded,
        |  CAST(sum(CASE WHEN len(list_filter(
        |      regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) = 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_unvectorizable
        |FROM documents""".stripMargin,
    // Same gram space, house md5 bucket, sign from md5('s:'||gram) parity,
    // per-(doc,bucket) BIGINT sums — exact rows.
    "q_text_hashvec_portable" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> x <> '') AS t
        |  FROM documents),
        |gr AS (
        |  SELECT doc_id, unnest(t) AS g FROM tk
        |  UNION ALL
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i + 1])) AS g
        |  FROM tk WHERE len(t) >= 2)
        |SELECT doc_id,
        |  CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % 64 AS bucket,
        |  CAST(sum(CASE WHEN CAST(concat('0x',
        |      substr(md5('s:' || g), 1, 8)) AS BIGINT) % 2 = 0
        |    THEN 1 ELSE -1 END) AS BIGINT) AS v
        |FROM gr GROUP BY 1, 2
        |ORDER BY doc_id, bucket""".stripMargin,
    // Rule-for-rule Gopher replay: same tokenization, same line split,
    // same regexes (Java∩RE2 char classes), same decimal thresholds.
    "q_text_gopher_rules" ->
      """WITH t0 AS (
        |  SELECT doc_id, text,
        |    list_filter(regexp_split_to_array(text, '\s+'),
        |      x -> x <> '') AS w,
        |    list_filter(string_split(text, chr(10)), l -> l <> '') AS ls
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    len(w) AS nw,
        |    coalesce(list_sum(list_transform(w, x -> len(x))), 0) AS cs,
        |    len(regexp_extract_all(text, '[#…]')) AS nsym,
        |    len(ls) AS nl,
        |    len(list_filter(ls, l -> trim(l) LIKE '•%'
        |      OR trim(l) LIKE '- %' OR trim(l) LIKE '* %')) AS nb,
        |    len(list_filter(ls, l -> trim(l) LIKE '%...'
        |      OR trim(l) LIKE '%…')) AS ne,
        |    len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS na,
        |    len(list_intersect(list_transform(w, x -> lower(x)),
        |      ['the','be','to','of','and','that','have','with'])) AS nstop
        |  FROM t0)
        |SELECT doc_id, CAST(nw AS BIGINT) AS n_words,
        |  (nw >= 50 AND nw <= 100000) AS r_word_count,
        |  (nw > 0 AND CAST(cs AS DOUBLE) / CAST(nw AS DOUBLE) >= 3.0
        |     AND CAST(cs AS DOUBLE) / CAST(nw AS DOUBLE) <= 10.0)
        |    AS r_avg_word_len,
        |  (nw > 0 AND CAST(nsym AS DOUBLE) / CAST(nw AS DOUBLE) <= 0.1)
        |    AS r_symbol_ratio,
        |  (nl = 0 OR CAST(nb AS DOUBLE) / CAST(nl AS DOUBLE) < 0.9)
        |    AS r_bullet_lines,
        |  (nl = 0 OR CAST(ne AS DOUBLE) / CAST(nl AS DOUBLE) <= 0.3)
        |    AS r_ellipsis_lines,
        |  (nw > 0 AND CAST(na AS DOUBLE) / CAST(nw AS DOUBLE) >= 0.8)
        |    AS r_alpha_words,
        |  (nstop >= 2) AS r_stopwords,
        |  ((nw >= 50 AND nw <= 100000)
        |   AND (nw > 0 AND CAST(cs AS DOUBLE) / CAST(nw AS DOUBLE) >= 3.0
        |        AND CAST(cs AS DOUBLE) / CAST(nw AS DOUBLE) <= 10.0)
        |   AND (nw > 0 AND CAST(nsym AS DOUBLE) / CAST(nw AS DOUBLE) <= 0.1)
        |   AND (nl = 0 OR CAST(nb AS DOUBLE) / CAST(nl AS DOUBLE) < 0.9)
        |   AND (nl = 0 OR CAST(ne AS DOUBLE) / CAST(nl AS DOUBLE) <= 0.3)
        |   AND (nw > 0 AND CAST(na AS DOUBLE) / CAST(nw AS DOUBLE) >= 0.8)
        |   AND (nstop >= 2)) AS pass
        |FROM m ORDER BY doc_id""".stripMargin,
    // The unigram tokenizer's distributed stage, replayed exactly: word
    // counts, substring explode (lengths 1..4; range() end-exclusive
    // matches the Scala length guards), weighted integer counts, global
    // (cnt desc, piece asc) rank, keep rank<=512 or single chars.
    "q_text_unigram_seed_portable" ->
      """WITH wc AS (
        |  SELECT x AS word, count(*) AS wcnt FROM (
        |    SELECT unnest(list_filter(regexp_split_to_array(lower(text),
        |      '\s+'), w -> w <> '')) AS x FROM documents) GROUP BY 1),
        |subs AS (
        |  SELECT piece, CAST(sum(wcnt) AS BIGINT) AS cnt FROM (
        |    SELECT wcnt, unnest(list_concat(list_concat(list_concat(
        |      list_transform(range(1, len(word) + 1),
        |        i -> substring(word, i, 1)),
        |      list_transform(range(1, len(word)),
        |        i -> substring(word, i, 2))),
        |      list_transform(range(1, len(word) - 1),
        |        i -> substring(word, i, 3))),
        |      list_transform(range(1, len(word) - 2),
        |        i -> substring(word, i, 4)))) AS piece
        |    FROM wc) GROUP BY 1),
        |r AS (
        |  SELECT piece, cnt,
        |    row_number() OVER (ORDER BY cnt DESC, piece ASC) AS rank
        |  FROM subs)
        |SELECT piece, cnt, CAST(rank AS INT) AS rank FROM r
        |WHERE rank <= 512 OR len(piece) = 1
        |ORDER BY piece""".stripMargin,
    // Character conservation from the raw corpus: Viterbi output must span
    // exactly the word characters, know every id, and stay in-vocab.
    "q_text_unigram_gate" ->
      """WITH w AS (
        |  SELECT unnest(list_filter(regexp_split_to_array(lower(text),
        |    '\s+'), x -> x <> '')) AS x
        |  FROM documents)
        |SELECT CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_docs,
        |  CAST(sum(len(x)) AS BIGINT) AS total_piece_chars,
        |  CAST(0 AS BIGINT) AS n_unknown_ids,
        |  CAST(0 AS BIGINT) AS n_oversized_ids
        |FROM w""".stripMargin,
    // Truth side of the compression gate: doc count; the booleans are
    // the engine-measured signal (deflate is JDK-side).
    "q_text_compress_gate" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  TRUE AS loop_compresses_harder,
        |  TRUE AS ratio_bounded
        |FROM documents""".stripMargin,
    // The FineWeb end-to-end recipe replayed stage-for-stage (r12): the
    // final curated corpus, hash-checked per doc via md5(text) — the
    // strongest claim the engine makes about a composed chain.
    // NOTE: the CTE block is concatenated AFTER its own stripMargin —
    // interpolating it inside another stripMargin string would re-strip
    // the `||` concatenation lines down to a single `|` (binary OR).
    "q_pipeline_fineweb_recipe" ->
      (fineWebOracleCtes + "\n" +
        """SELECT doc_id,
          |  CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
          |    x -> x <> '')) AS BIGINT) AS n_words,
          |  md5(text) AS text_md5
          |FROM s8 ORDER BY doc_id""".stripMargin),
    "q_pipeline_fineweb_audit" ->
      (fineWebOracleCtes + "\n" +
        """SELECT * FROM (VALUES
          |  (0, 'input', (SELECT count(*) FROM fwpages)),
          |  (1, 'DedupByUrl', (SELECT count(*) FROM s1)),
          |  (2, 'KeepLangHeuristic', (SELECT count(*) FROM s2)),
          |  (3, 'GopherQuality', (SELECT count(*) FROM s3)),
          |  (4, 'C4Clean', (SELECT count(*) FROM s4)),
          |  (5, 'DedupNearPortable', (SELECT count(*) FROM s5)),
          |  (6, 'DedupSubstringsStep', (SELECT count(*) FROM s6)),
          |  (7, 'RedactPii', (SELECT count(*) FROM s7)),
          |  (8, 'QualityFloor', (SELECT count(*) FROM s8)))
          |  AS a(step_idx, step, n_rows)
          |ORDER BY step_idx""".stripMargin),
    // The byte-BPE conservation gate's truth side (r12): corpus word
    // BYTE total over the fixture plus the injected non-ASCII rows
    // (both engines construct the identical union — the redact_pii
    // convention; octet_length == Java UTF-8 byte length on every
    // input), with the engine booleans/zero-counts pinned to their
    // exact expected values — byte fallback means zero unknowns BY
    // CONSTRUCTION, so the pinned constants are the whole claim.
    "q_text_bpe_bytes_gate" ->
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT 9000001, 'naïve café déjà-vu 你好世界 🌍🚀 emoji'
        |  UNION ALL SELECT 9000002, 'ひらがな καλημέρα здравствуйте'
        |  UNION ALL SELECT 9000003, 'MiXeD AsCiI and 漢字 with ümlaut'),
        |w AS (
        |  SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |    x -> x <> '')) AS x
        |  FROM docs)
        |SELECT CAST((SELECT count(*) FROM docs) AS BIGINT) AS n_docs,
        |  CAST(coalesce(sum(octet_length(encode(x))), 0) AS BIGINT)
        |    AS n_word_bytes,
        |  TRUE AS conservation_ok,
        |  CAST(0 AS BIGINT) AS n_unknown_ids,
        |  TRUE AS ids_in_vocab
        |FROM w""".stripMargin,
    // Tokenizer decode roundtrip: DuckDB computes each family's
    // documented expectation DIRECTLY from the raw text (normalized
    // word joins — no engine model involved), so the hash compare pins
    // the decoded strings themselves, not just integer invariants.
    "q_text_decode_roundtrip" ->
      """SELECT doc_id,
        |  array_to_string(list_filter(regexp_split_to_array(lower(text),
        |    '\s+'), x -> x <> ''), ' ') AS bpe_text,
        |  array_to_string(list_filter(regexp_split_to_array(lower(text),
        |    '\s+'), x -> x <> ''), ' ') AS wp_text,
        |  array_to_string(list_filter(regexp_split_to_array(lower(text),
        |    '\s+'), x -> x <> ''), '') AS unigram_text,
        |  array_to_string(list_filter(regexp_split_to_array(text,
        |    '\s+'), x -> x <> ''), '') AS byte_text
        |FROM documents ORDER BY doc_id""".stripMargin,
    // The wordpiece conservation gate's truth side: corpus word-char
    // total (code points of lowercased whitespace tokens) + the engine
    // booleans/zero-counts pinned to their exact expected values.
    "q_text_wordpiece_gate" ->
      """WITH w AS (
        |  SELECT unnest(list_filter(regexp_split_to_array(lower(text),
        |    '\s+'), x -> x <> '')) AS x
        |  FROM documents)
        |SELECT CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_docs,
        |  TRUE AS ids_len_ok,
        |  CAST(sum(len(x)) AS BIGINT) AS total_piece_chars,
        |  CAST(0 AS BIGINT) AS n_unknown_ids,
        |  CAST(0 AS BIGINT) AS n_oversized_ids
        |FROM w""".stripMargin,
    // Full train+score replay: n-gram explode (range() is end-exclusive and
    // empty when end <= start, matching the Scala length guards), per-lang
    // and per-doc row_number rank profiles, out-of-place distance with the
    // topK=64 penalty (the model's max rank — every fixture lang has ≥64
    // distinct grams), argmin with label-asc ties.
    "q_text_langid_ct" ->
      """WITH t0 AS (
        |  SELECT doc_id, lang,
        |    regexp_replace(trim(lower(text)), '\s+', '_', 'g') AS t
        |  FROM documents),
        |ga AS (
        |  SELECT doc_id, lang, unnest(list_concat(list_concat(
        |    list_transform(range(1, len(t) + 1), i -> substring(t, i, 1)),
        |    list_transform(range(1, len(t)), i -> substring(t, i, 2))),
        |    list_transform(range(1, len(t) - 1), i -> substring(t, i, 3))))
        |    AS gram
        |  FROM t0),
        |prof AS (
        |  SELECT lang AS label, gram,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY count(*) DESC, gram ASC) AS rank
        |  FROM ga GROUP BY lang, gram
        |  QUALIFY rank <= 64),
        |dg AS (
        |  SELECT doc_id, gram,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY count(*) DESC, gram ASC) AS dr
        |  FROM ga GROUP BY doc_id, gram
        |  QUALIFY dr <= 64),
        |labels AS (SELECT DISTINCT label FROM prof),
        |dist AS (
        |  SELECT dg.doc_id, l.label,
        |    sum(coalesce(abs(dg.dr - p.rank), 64)) AS d
        |  FROM dg CROSS JOIN labels l
        |  LEFT JOIN prof p ON p.label = l.label AND p.gram = dg.gram
        |  GROUP BY 1, 2),
        |best AS (
        |  SELECT doc_id, label, d,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY d ASC, label ASC) AS rn
        |  FROM dist QUALIFY rn = 1)
        |SELECT d0.doc_id, coalesce(b.label, 'und') AS pred_label,
        |  CAST(b.d AS BIGINT) AS oop_dist
        |FROM documents d0 LEFT JOIN best b USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q_text_c4_rules" ->
      """WITH t0 AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split(text, chr(10)),
        |      l -> trim(l) <> '') AS ls
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, text, ls,
        |    list_filter(ls, l ->
        |      (ends_with(trim(l), '.') OR ends_with(trim(l), '!')
        |        OR ends_with(trim(l), '?') OR ends_with(trim(l), '"'))
        |      AND len(list_filter(regexp_split_to_array(trim(l), '\s+'),
        |        x -> x <> '')) >= 5
        |      AND NOT contains(lower(trim(l)), 'javascript')) AS kept
        |  FROM t0)
        |SELECT doc_id,
        |  CAST(len(ls) AS BIGINT) AS n_lines,
        |  CAST(len(kept) AS BIGINT) AS n_kept_lines,
        |  CAST(coalesce(len(array_to_string(kept, chr(10))), 0) AS BIGINT)
        |    AS cleaned_chars,
        |  (len(kept) >= 3) AS r_min_sentences,
        |  (NOT contains(lower(text), 'lorem ipsum')) AS r_no_lorem,
        |  (NOT contains(text, '{')) AS r_no_brace,
        |  ((len(kept) >= 3) AND NOT contains(lower(text), 'lorem ipsum')
        |    AND NOT contains(text, '{')) AS pass
        |FROM k ORDER BY doc_id""".stripMargin,
    // The full HTML extraction chain replayed block-for-block: page
    // construction, invisible-content drop, block segmentation, tag
    // strip + fixed-order entity decode, link/stopword densities, keep
    // rule (r12). The CTE prefix is GENERATED from the same Scala
    // constants the Spark side uses, so the two engines cannot drift.
    "q_text_html_blocks" ->
      s"""$htmlOracleCtes
        |SELECT doc_id, CAST(block_idx AS BIGINT) AS block_idx,
        |  txt AS block_text,
        |  CAST(n_chars AS BIGINT) AS n_chars,
        |  CAST(n_words AS BIGINT) AS n_words,
        |  CAST(n_stop AS BIGINT) AS n_stop,
        |  CAST(link_chars AS BIGINT) AS link_chars,
        |  CAST(n_raw AS BIGINT) AS n_raw_chars,
        |  keep
        |FROM kept ORDER BY doc_id, block_idx""".stripMargin,
    "q_text_html_extract" ->
      s"""$htmlOracleCtes
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_blocks,
        |  CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_kept_blocks,
        |  coalesce(string_agg(txt, chr(10) ORDER BY block_idx)
        |    FILTER (WHERE keep), '') AS content,
        |  CAST(coalesce(len(string_agg(txt, chr(10) ORDER BY block_idx)
        |    FILTER (WHERE keep)), 0) AS BIGINT) AS n_content_chars
        |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Script profile replayed: same fixture CASE, per-script counts via
    // the replace-difference trick over RE2 classes generated from the
    // SAME codepoint ints, dominant via greatest + the fixed-order CASE.
    "q_text_scripts" -> {
      val countCols = TextAnalysis.ScriptBlocks.map { case (n, blocks) =>
        s"CAST(len(text) - len(regexp_replace(text, " +
          s"'${TextAnalysis.scriptClassRe2(blocks)}', '', 'g')) AS BIGINT) " +
          s"AS n_$n"
      }
      val names = TextAnalysis.ScriptBlocks.map(_._1)
      val mx = s"greatest(${names.map("n_" + _).mkString(", ")})"
      val domCases = names.map(n => s"WHEN n_$n = __mx THEN '$n'")
        .mkString("\n      ")
      s"""WITH sd AS (
         |  SELECT doc_id,
         |    substring(coalesce(text, ''), 1, 20) ||
         |    CASE WHEN doc_id % 5 = 1 THEN '$ScriptSampleRu'
         |         WHEN doc_id % 5 = 2 THEN '$ScriptSampleZh'
         |         WHEN doc_id % 5 = 3 THEN '$ScriptSampleAr'
         |         WHEN doc_id % 5 = 4 THEN '$ScriptSampleJa'
         |         ELSE '' END AS text
         |  FROM documents),
         |sc AS (
         |  SELECT doc_id, ${countCols.mkString(",\n    ")}
         |  FROM sd),
         |sm AS (SELECT *, $mx AS __mx FROM sc)
         |SELECT doc_id, ${names.map("n_" + _).mkString(", ")},
         |  CASE WHEN __mx = 0 THEN 'none'
         |      $domCases
         |      ELSE 'none' END AS dominant
         |FROM sm ORDER BY doc_id""".stripMargin
    },
    // Multilingual extraction replayed: the static language-keyed page
    // CASE, then the shared segmentation chain with BOTH the
    // lang-selected and the English stop counts — keep and keep_en per
    // block, aggregated per page with the lang-kept content.
    "q_text_html_extract_lang" ->
      s"""WITH lpages AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN 'xx'
        |         WHEN doc_id % 5 = 2 THEN 'pt'
        |         WHEN doc_id % 2 = 1 THEN 'es' ELSE 'en' END AS lang,
        |    CASE WHEN doc_id % 5 = 2
        |      THEN '$HtmlLangHeadPt' || '$HtmlParaPt1' || '$HtmlParaPt2'
        |        || '$HtmlPageSuffix'
        |      WHEN doc_id % 5 <> 0 AND doc_id % 2 = 1
        |      THEN '$HtmlLangHeadEs' || '$HtmlParaEs1' || '$HtmlParaEs2'
        |        || '$HtmlPageSuffix'
        |      ELSE '$HtmlPagePrefix' || '$HtmlPara1Pad' || '$HtmlPara2'
        |        || '$HtmlPageSuffix' END AS html
        |  FROM documents),
        |${htmlKeptCtesLang("lpages", "doc_id, lang", "html")}
        |SELECT doc_id, lang,
        |  CAST(count(*) AS BIGINT) AS n_blocks,
        |  CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_kept_lang,
        |  CAST(count(*) FILTER (WHERE keep_ascii) AS BIGINT) AS n_kept_ascii,
        |  CAST(count(*) FILTER (WHERE keep_en) AS BIGINT) AS n_kept_en,
        |  coalesce(string_agg(txt, chr(10) ORDER BY block_idx)
        |    FILTER (WHERE keep), '') AS content,
        |  CAST(coalesce(len(string_agg(txt, chr(10) ORDER BY block_idx)
        |    FILTER (WHERE keep)), 0) AS BIGINT) AS n_content_chars
        |FROM kept GROUP BY doc_id, lang ORDER BY doc_id""".stripMargin,
    // Two-phase jusText replayed: same page CASE, the four-way
    // classification from the same thresholds/lists/codepoint ints, and
    // the neighbor revision as IGNORE-NULLS window fills (late r16).
    "q_text_justext_smooth" ->
      s"""WITH jxpages AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 1
        |      THEN '<html><body>' || '$HtmlJxNav' || '$HtmlJxH1'
        |        || '$HtmlJxGoodA' || '$HtmlJxCaption' || '$HtmlJxGoodB'
        |        || '$HtmlJxNear' || '$HtmlJxBad' || '$HtmlJxNear2'
        |        || '$HtmlJxTail' || '</body></html>'
        |      ELSE '<html><body>' || '$HtmlJxNav' || '$HtmlJxBad'
        |        || '$HtmlJxTail' || '</body></html>' END AS html
        |  FROM documents),
        |${htmlSegCtes("jxpages", "doc_id", "html")},
        |jx_blk AS (
        |  SELECT doc_id, block_idx, txt, n_raw, link_chars, n_chars,
        |    len(aw) AS n_words,
        |    len(list_filter(aw, w -> w IN (${
            sqlStopList(TextAnalysis.StopwordsWebEn)}))) AS n_stop,
        |    len(txt) - len(regexp_replace(txt,
        |      '${TextAnalysis.segFreeClassRe2}', '', 'g')) AS n_cjk,
        |    len(txt) - len(regexp_replace(txt,
        |      '${TextAnalysis.wordClassRe2}', '', 'g')) AS n_wl
        |  FROM fw),
        |jx_cf AS (
        |  SELECT *, CASE
        |    WHEN CAST(link_chars AS DOUBLE) / CAST(n_raw AS DOUBLE) > 0.2
        |      THEN 'bad'
        |    WHEN n_cjk > n_wl THEN (CASE WHEN n_chars >= 70 THEN 'good'
        |      WHEN link_chars = 0 THEN 'short' ELSE 'bad' END)
        |    WHEN n_chars < 70 THEN (CASE WHEN link_chars = 0 THEN 'short'
        |      ELSE 'bad' END)
        |    WHEN (CASE WHEN n_words > 0 THEN CAST(n_stop AS DOUBLE) /
        |        CAST(n_words AS DOUBLE) ELSE 0.0 END) >= 0.32
        |      THEN (CASE WHEN n_chars > 200 THEN 'good' ELSE 'neargood' END)
        |    WHEN (CASE WHEN n_words > 0 THEN CAST(n_stop AS DOUBLE) /
        |        CAST(n_words AS DOUBLE) ELSE 0.0 END) >= 0.30
        |      THEN 'neargood'
        |    ELSE 'bad' END AS cf_class
        |  FROM jx_blk),
        |jx_w AS (
        |  SELECT *,
        |    coalesce(last_value(CASE WHEN cf_class IN ('good', 'bad')
        |        THEN cf_class END IGNORE NULLS)
        |      OVER (PARTITION BY doc_id ORDER BY block_idx
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 'bad')
        |      AS prev_a,
        |    coalesce(first_value(CASE WHEN cf_class IN ('good', 'bad')
        |        THEN cf_class END IGNORE NULLS)
        |      OVER (PARTITION BY doc_id ORDER BY block_idx
        |        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 'bad')
        |      AS next_a,
        |    coalesce(last_value(CASE WHEN cf_class <> 'short'
        |        THEN cf_class END IGNORE NULLS)
        |      OVER (PARTITION BY doc_id ORDER BY block_idx
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 'bad')
        |      AS prev_n,
        |    coalesce(first_value(CASE WHEN cf_class <> 'short'
        |        THEN cf_class END IGNORE NULLS)
        |      OVER (PARTITION BY doc_id ORDER BY block_idx
        |        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 'bad')
        |      AS next_n
        |  FROM jx_cf)
        |SELECT doc_id, CAST(block_idx AS BIGINT) AS block_idx,
        |  txt AS block_text,
        |  CAST(n_chars AS BIGINT) AS n_chars,
        |  CAST(n_words AS BIGINT) AS n_words,
        |  CAST(n_stop AS BIGINT) AS n_stop,
        |  CAST(link_chars AS BIGINT) AS link_chars,
        |  CAST(n_raw AS BIGINT) AS n_raw_chars,
        |  cf_class,
        |  CASE WHEN cf_class = 'good' THEN 'good'
        |       WHEN cf_class = 'bad' THEN 'bad'
        |       WHEN cf_class = 'neargood' THEN
        |         (CASE WHEN prev_a = 'good' OR next_a = 'good'
        |            THEN 'good' ELSE 'bad' END)
        |       WHEN prev_a = 'good' AND next_a = 'good' THEN 'good'
        |       WHEN prev_a = 'bad' AND next_a = 'bad' THEN 'bad'
        |       WHEN prev_n = 'neargood' OR next_n = 'neargood' THEN 'good'
        |       ELSE 'bad' END AS cs_class
        |FROM jx_w ORDER BY doc_id, block_idx""".stripMargin,
    // Script-routed extraction replayed: the same literal page CASE,
    // the routed/plain/English keeps from the shared stop lists and the
    // shared CJK/word-letter codepoint ints, extracted content in the
    // hash (r16).
    "q_text_html_extract_script" ->
      s"""WITH spages AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 8 = 1 THEN 'ru'
        |         WHEN doc_id % 8 = 2 THEN 'el'
        |         WHEN doc_id % 8 = 3 THEN 'zh'
        |         WHEN doc_id % 8 = 4 THEN 'ar'
        |         WHEN doc_id % 8 = 5 THEN 'he'
        |         WHEN doc_id % 8 = 6 THEN 'th'
        |         WHEN doc_id % 8 = 7 THEN 'xx' ELSE 'en' END AS lang,
        |    CASE WHEN doc_id % 8 = 1
        |      THEN '$HtmlScriptHeadRu' || '$HtmlParaRu1' || '$HtmlParaRu2'
        |        || '$HtmlPageSuffix'
        |      WHEN doc_id % 8 = 2
        |      THEN '$HtmlScriptHeadEl' || '$HtmlParaEl1' || '$HtmlParaEl2'
        |        || '$HtmlPageSuffix'
        |      WHEN doc_id % 8 = 3
        |      THEN '$HtmlScriptHeadZh' || '$HtmlParaZh1' || '$HtmlParaZh2'
        |        || '$HtmlPageSuffix'
        |      WHEN doc_id % 8 = 4
        |      THEN '$HtmlScriptHeadAr' || '$HtmlParaAr1' || '$HtmlParaAr2'
        |        || '$HtmlPageSuffix'
        |      WHEN doc_id % 8 = 5
        |      THEN '$HtmlScriptHeadHe' || '$HtmlParaHe1' || '$HtmlParaHe2'
        |        || '$HtmlPageSuffix'
        |      WHEN doc_id % 8 = 6
        |      THEN '$HtmlScriptHeadTh' || '$HtmlParaTh1' || '$HtmlParaTh2'
        |        || '$HtmlPageSuffix'
        |      WHEN doc_id % 8 = 7
        |      THEN '$HtmlScriptHeadKo' || '$HtmlParaKo1' || '$HtmlParaKo2'
        |        || '$HtmlPageSuffix'
        |      ELSE '$HtmlPagePrefix' || '$HtmlPara1Pad' || '$HtmlPara2'
        |        || '$HtmlPageSuffix' END AS html
        |  FROM documents),
        |${htmlKeptCtesRouted("spages", "doc_id, lang", "html")}
        |SELECT doc_id, lang,
        |  CAST(count(*) AS BIGINT) AS n_blocks,
        |  CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_kept_routed,
        |  CAST(count(*) FILTER (WHERE keep_plain) AS BIGINT) AS n_kept_plain,
        |  CAST(count(*) FILTER (WHERE keep_en) AS BIGINT) AS n_kept_en,
        |  coalesce(string_agg(txt, chr(10) ORDER BY block_idx)
        |    FILTER (WHERE keep), '') AS content,
        |  CAST(coalesce(len(string_agg(txt, chr(10) ORDER BY block_idx)
        |    FILTER (WHERE keep)), 0) AS BIGINT) AS n_content_chars
        |FROM kept GROUP BY doc_id, lang ORDER BY doc_id""".stripMargin,
    // The WARC parse chain replayed record-for-record; the payload
    // strings themselves land in the hash (r12).
    "q_warc_records" ->
      s"""$warcOracleCtes
        |SELECT chunk_id, CAST(record_idx AS BIGINT) AS record_idx,
        |  warc_type, target_uri, warc_date, record_id, content_type,
        |  content_length, http_status, http_content_type, payload,
        |  CAST(len(payload) AS BIGINT) AS n_payload_chars
        |FROM parsed ORDER BY chunk_id, record_idx""".stripMargin,
    // The .warc.gz file-ingest row shares the records oracle outright:
    // the archive round trip must reproduce every parsed field exactly.
    "q_warc_file_ingest" ->
      s"""$warcOracleCtes
        |SELECT chunk_id, CAST(record_idx AS BIGINT) AS record_idx,
        |  warc_type, target_uri, warc_date, record_id, content_type,
        |  content_length, http_status, http_content_type, payload,
        |  CAST(len(payload) AS BIGINT) AS n_payload_chars
        |FROM parsed ORDER BY chunk_id, record_idx""".stripMargin,
    // Raw crawl bytes → training text: the replayed response payloads
    // fed through the SAME parameterized block/keep CTE chain the html
    // queries replay, re-keyed by (chunk_id, record_idx).
    "q_warc_to_text" ->
      s"""$warcOracleCtes,
        |resp AS (
        |  SELECT chunk_id, record_idx, target_uri, warc_date,
        |    payload AS html
        |  FROM parsed
        |  WHERE warc_type = 'response' AND http_status = 200
        |    AND http_content_type LIKE 'text/html%'),
        |${htmlKeptCtes("resp", "chunk_id, record_idx", "html")},
        |agg AS (
        |  SELECT chunk_id, record_idx,
        |    coalesce(string_agg(txt, chr(10) ORDER BY block_idx)
        |      FILTER (WHERE keep), '') AS content
        |  FROM kept GROUP BY chunk_id, record_idx)
        |SELECT r.chunk_id, CAST(r.record_idx AS BIGINT) AS record_idx,
        |  r.target_uri AS url, r.warc_date AS fetched_at,
        |  coalesce(a.content, '') AS content,
        |  CAST(len(coalesce(a.content, '')) AS BIGINT) AS n_content_chars
        |FROM resp r LEFT JOIN agg a
        |  ON a.chunk_id = r.chunk_id AND a.record_idx = r.record_idx
        |ORDER BY r.chunk_id, r.record_idx""".stripMargin,
    // The crawl showcase: parse chain + parameterized html chain +
    // canon chain + floor, replayed end-to-end.
    "q_pipeline_crawl_recipe" ->
      s"""$warcOracleCtes,
        |resp AS (
        |  SELECT chunk_id, record_idx, record_id, target_uri,
        |    payload AS html
        |  FROM parsed
        |  WHERE warc_type = 'response' AND http_status = 200
        |    AND http_content_type LIKE 'text/html%'),
        |${htmlKeptCtes("resp", "chunk_id, record_idx", "html")},
        |cagg AS (
        |  SELECT chunk_id, record_idx,
        |    coalesce(string_agg(txt, chr(10) ORDER BY block_idx)
        |      FILTER (WHERE keep), '') AS content
        |  FROM kept GROUP BY chunk_id, record_idx),
        |cdoc AS (
        |  SELECT CAST(regexp_extract(r.record_id, 'rec-([0-9]+)', 1)
        |      AS BIGINT) AS doc_id,
        |    r.target_uri AS url, a.content
        |  FROM resp r JOIN cagg a
        |    ON a.chunk_id = r.chunk_id AND a.record_idx = r.record_idx
        |  WHERE a.content <> ''),
        |cu1 AS (SELECT doc_id, content,
        |  regexp_replace(url, '#.*', '', 'g') AS cu FROM cdoc),
        |cu2 AS (SELECT doc_id, content,
        |  lower(regexp_extract(cu, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', 0))
        |  || regexp_replace(cu, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '', 'g')
        |  AS cu FROM cu1),
        |cu3 AS (SELECT doc_id, content, regexp_replace(regexp_replace(cu,
        |  '^(http://[^/?#:]+):80([/?#].*)?$$', '\\1\\2', 'g'),
        |  '^(https://[^/?#:]+):443([/?#].*)?$$', '\\1\\2', 'g') AS cu
        |  FROM cu2),
        |cu4 AS (SELECT doc_id, content, regexp_replace(cu,
        |  '([?&])(utm_[A-Za-z0-9_]*|fbclid|gclid)=[^&#]*', '\\1', 'g') AS cu
        |  FROM cu3),
        |cu5 AS (SELECT doc_id, content, regexp_replace(regexp_replace(
        |  regexp_replace(cu, '&&+', '&', 'g'), '\\?&', '?', 'g'),
        |  '[?&]+$$', '', 'g') AS cu FROM cu4),
        |cdd AS (
        |  SELECT doc_id, url_canon, content FROM (
        |    SELECT doc_id, content,
        |      regexp_replace(cu, '/$$', '', 'g') AS url_canon FROM cu5)
        |  QUALIFY row_number() OVER (PARTITION BY url_canon
        |    ORDER BY doc_id ASC) = 1)
        |SELECT doc_id, url_canon, content,
        |  CAST(len(list_filter(string_split_regex(content, '\\s+'),
        |    w -> w <> '')) AS BIGINT) AS n_words
        |FROM cdd
        |WHERE len(list_filter(string_split_regex(content, '\\s+'),
        |  w -> w <> '')) >= 105
        |ORDER BY doc_id""".stripMargin,
    // Streaming crawl ingest: the batch derivation replayed — the
    // stream must deliver exactly the batch parse's responses.
    "q_stream_warc_ingest" ->
      s"""$warcOracleCtes,
        |resp AS (
        |  SELECT chunk_id, record_idx, target_uri, payload AS html
        |  FROM parsed
        |  WHERE warc_type = 'response' AND http_status = 200
        |    AND http_content_type LIKE 'text/html%')
        |SELECT chunk_id, CAST(record_idx AS BIGINT) AS record_idx,
        |  target_uri AS url, md5(html) AS html_md5,
        |  CAST(len(html) AS BIGINT) AS n_html_chars
        |FROM resp ORDER BY chunk_id, record_idx""".stripMargin,
    // Codec gate: the round trip is a JDK-side engine invariant; the
    // record count replays as arithmetic over documents (one warcinfo
    // per chunk, a request + a response per doc).
    "q_warc_gz_gate" ->
      """SELECT count(DISTINCT doc_id // 5) AS n_chunks,
        |  true AS roundtrip_exact,
        |  CAST(count(DISTINCT doc_id // 5) + 2 * count(*) AS BIGINT)
        |    AS n_records
        |FROM documents""".stripMargin,
    "q_text_quality" ->
      """SELECT doc_id,
        |  CASE WHEN en = 0 AND es = 0 AND fr = 0 THEN 'und'
        |       WHEN en >= es AND en >= fr THEN 'en'
        |       WHEN es >= fr THEN 'es' ELSE 'fr' END AS lang_id,
        |  n_tok_regex, n_chars, n_words,
        |  CASE WHEN n_words = 0 THEN NULL
        |       ELSE CAST(n_chars AS DOUBLE) / CAST(n_words AS DOUBLE) END AS avg_word_len,
        |  CASE WHEN n_words = 0 THEN NULL
        |       ELSE CAST(en AS DOUBLE) / CAST(n_words AS DOUBLE) END AS stopword_ratio,
        |  CASE WHEN n_chars = 0 THEN NULL
        |       ELSE CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) END AS punct_ratio
        |FROM (
        |  SELECT doc_id,
        |    len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_tok_regex,
        |    length(text) AS n_chars,
        |    len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_words,
        |    len(list_filter(string_split_regex(lower(text), '\s+'),
        |      w -> w IN ('the','a','an','of','to','and','in','is'))) AS en,
        |    len(list_filter(string_split_regex(lower(text), '\s+'),
        |      w -> w IN ('el','la','de','y','que','en','un','una'))) AS es,
        |    len(list_filter(string_split_regex(lower(text), '\s+'),
        |      w -> w IN ('le','la','de','et','un','une','du','des'))) AS fr,
        |    len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS n_punct
        |  FROM documents) base
        |ORDER BY doc_id""".stripMargin,
    "q_text_top_ngrams" ->
      """WITH docs AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> x <> '') AS arr
        |  FROM documents
        |), toks AS (
        |  SELECT doc_id, r.i AS ord, arr[r.i] AS term
        |  FROM docs, unnest(range(1, len(arr) + 1)) AS r(i)
        |), grams AS (
        |  SELECT term || ' ' || lead(term, 1) OVER w
        |           || ' ' || lead(term, 2) OVER w AS gram
        |  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY ord)
        |)
        |SELECT gram, count(*) AS n FROM grams WHERE gram IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, gram LIMIT 50""".stripMargin,
    "q_text_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id AS id, t.term
        |  FROM documents, unnest(regexp_split_to_array(lower(text), '\s+')) AS t(term)
        |  WHERE t.term <> ''
        |), tf AS (SELECT id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS dfreq FROM tf GROUP BY 1),
        |n AS (SELECT count(DISTINCT id) AS n_docs FROM tf)
        |SELECT tf.id, tf.term, tf.tf, dfreq.dfreq,
        |  tf.tf * ln(CAST(n.n_docs AS DOUBLE) / CAST(dfreq.dfreq AS DOUBLE)) AS tfidf
        |FROM tf JOIN dfreq USING (term) CROSS JOIN n
        |WHERE tf.id < 20 ORDER BY id, term""".stripMargin,
    "q_text_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id AS id, t.term
        |  FROM documents, unnest(regexp_split_to_array(lower(text), '\s+')) AS t(term)
        |  WHERE t.term <> ''
        |), tf AS (SELECT id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dl AS (SELECT id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
        |dfreq AS (SELECT term, count(*) AS dfreq FROM tf GROUP BY 1),
        |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl)
        |SELECT tf.id, tf.term, tf.tf, dfreq.dfreq,
        |  ln((n_docs - dfreq + 0.5) / (dfreq + 0.5) + 1.0)
        |    * (tf.tf * (1.2 + 1)) /
        |    (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl)) AS bm25
        |FROM tf JOIN dl USING (id) JOIN dfreq USING (term) CROSS JOIN stats
        |WHERE tf.id < 20 ORDER BY id, term""".stripMargin,
    "q_text_repetition" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS tk
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, tk[i] || ' ' || tk[i + 1] AS bigram
        |  FROM w, unnest(range(1, len(tk))) AS r(i)
        |  WHERE len(tk) >= 2),
        |c AS (SELECT doc_id, bigram, count(*) AS n FROM b GROUP BY 1, 2),
        |s AS (
        |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS nb,
        |    CAST(count(*) AS BIGINT) AS nd, max(n) AS mx
        |  FROM c GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(s.nb, 0) AS n_bigrams,
        |  coalesce(s.nd, 0) AS n_distinct_bigrams,
        |  1.0 - s.nd / CAST(s.nb AS DOUBLE) AS dup_bigram_frac,
        |  s.mx / CAST(s.nb AS DOUBLE) AS top_bigram_frac
        |FROM documents d LEFT JOIN s USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // Replays the add-k bigram LM end-to-end: same lowercased tokenizer
    // as tfidf, bigrams by list index, smoothed log-prob per distinct
    // (doc, bigram), exact DECIMAL(38,18) sum, single double division +
    // exp at the end. coalesce mirrors the engine's left joins (self-
    // trained scoring can't miss, but the operator contract allows it).
    "q_text_lm_perplexity" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        |  FROM tk, unnest(range(1, len(t))) AS r(i)
        |  WHERE len(t) >= 2),
        |lm AS (SELECT w1, w2, count(*) AS cnt FROM bg GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS c1 FROM lm GROUP BY 1),
        |v AS (SELECT count(DISTINCT w) AS vs
        |      FROM (SELECT w1 AS w FROM lm UNION ALL SELECT w2 FROM lm)),
        |db AS (SELECT doc_id, w1, w2, count(*) AS n FROM bg GROUP BY 1, 2, 3),
        |sc AS (
        |  SELECT db.doc_id, db.n,
        |    ln((coalesce(lm.cnt, 0) + 0.5)
        |       / (coalesce(ctx.c1, 0) + 0.5 * v.vs)) AS lp
        |  FROM db LEFT JOIN lm USING (w1, w2) LEFT JOIN ctx USING (w1)
        |  CROSS JOIN v),
        |agg AS (
        |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS nb,
        |    sum(CAST(n * lp AS DECIMAL(38,18))) AS s
        |  FROM sc GROUP BY 1)
        |SELECT d.doc_id, coalesce(agg.nb, 0) AS n_bigrams,
        |  round(-(CAST(agg.s AS DOUBLE) / agg.nb), 6) AS cross_entropy,
        |  round(exp(-(CAST(agg.s AS DOUBLE) / agg.nb)), 6) AS perplexity
        |FROM documents d LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // Interpolated KN replay: counts, forward/backward continuation
    // tables, the discount/interpolation formula with matched literal
    // typing and association, DECIMAL sums, rounded-6 edges.
    "q_text_lm_kn" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        |  FROM tk, unnest(range(1, len(t))) AS r(i)
        |  WHERE len(t) >= 2),
        |lm AS (SELECT w1, w2, count(*) AS cnt FROM bg GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS c1,
        |        count(*) AS n1f FROM lm GROUP BY 1),
        |bwd AS (SELECT w2, count(*) AS n1b FROM lm GROUP BY 1),
        |tot AS (SELECT count(*) AS nb FROM lm),
        |v AS (SELECT count(DISTINCT w) AS vs
        |      FROM (SELECT w1 AS w FROM lm UNION ALL SELECT w2 FROM lm)),
        |db AS (SELECT doc_id, w1, w2, count(*) AS n FROM bg GROUP BY 1, 2, 3),
        |sc AS (
        |  SELECT db.doc_id, db.n,
        |    ln(CAST(0.999999 AS DOUBLE) * (
        |      (CASE WHEN ctx.c1 IS NOT NULL
        |        THEN greatest(CAST(coalesce(lm.cnt, 0) AS DOUBLE) - 0.75, 0.0)
        |             / CAST(ctx.c1 AS DOUBLE) ELSE 0.0 END)
        |      + (CASE WHEN ctx.c1 IS NOT NULL
        |          THEN 0.75 * CAST(ctx.n1f AS DOUBLE) / CAST(ctx.c1 AS DOUBLE)
        |          ELSE 1.0 END)
        |        * (CAST(coalesce(bwd.n1b, 0) AS DOUBLE)
        |           / CAST(tot.nb AS DOUBLE)))
        |      + CAST(0.000001 AS DOUBLE) / CAST(v.vs AS DOUBLE)) AS lp
        |  FROM db LEFT JOIN lm USING (w1, w2) LEFT JOIN ctx USING (w1)
        |  LEFT JOIN bwd USING (w2) CROSS JOIN tot CROSS JOIN v),
        |agg AS (
        |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS nb2,
        |    sum(CAST(n * lp AS DECIMAL(38,18))) AS s
        |  FROM sc GROUP BY 1)
        |SELECT d.doc_id, coalesce(agg.nb2, 0) AS n_bigrams,
        |  round(-(CAST(agg.s AS DOUBLE) / agg.nb2), 6) AS cross_entropy,
        |  round(exp(-(CAST(agg.s AS DOUBLE) / agg.nb2)), 6) AS perplexity
        |FROM documents d LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // Stupid-backoff replay: three count tables, nested 0.4 penalties,
    // matched literal typing and association.
    "q_text_lm_sb" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |tg AS (
        |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3
        |  FROM tk, unnest(range(1, len(t) - 1)) AS r(i)
        |  WHERE len(t) >= 3),
        |bgr AS (
        |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        |  FROM tk, unnest(range(1, len(t))) AS r(i)
        |  WHERE len(t) >= 2),
        |un AS (SELECT doc_id, unnest(t) AS w FROM tk),
        |lm3 AS (SELECT w1, w2, w3, count(*) AS cnt FROM tg GROUP BY 1, 2, 3),
        |lm2 AS (SELECT w1, w2, count(*) AS cnt FROM bgr GROUP BY 1, 2),
        |lm1 AS (SELECT w, count(*) AS cnt FROM un GROUP BY 1),
        |ctx3 AS (SELECT w1, w2, CAST(sum(cnt) AS BIGINT) AS c3
        |         FROM lm3 GROUP BY 1, 2),
        |ctx2 AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS c2
        |         FROM lm2 GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n1 FROM lm1),
        |v AS (SELECT count(*) AS vs FROM lm1),
        |db AS (SELECT doc_id, w1, w2, w3, count(*) AS n
        |       FROM tg GROUP BY 1, 2, 3, 4),
        |sc AS (
        |  SELECT db.doc_id, db.n,
        |    ln(CAST(0.999999 AS DOUBLE) * (
        |      CASE WHEN lm3.cnt IS NOT NULL
        |        THEN CAST(lm3.cnt AS DOUBLE) / CAST(ctx3.c3 AS DOUBLE)
        |        ELSE 0.4 * (CASE WHEN bg.cnt IS NOT NULL
        |          THEN CAST(bg.cnt AS DOUBLE) / CAST(ctx2.c2 AS DOUBLE)
        |          ELSE 0.4 * (CAST(coalesce(lm1.cnt, 0) AS DOUBLE)
        |                      / CAST(tot.n1 AS DOUBLE)) END) END)
        |      + CAST(0.000001 AS DOUBLE) / CAST(v.vs AS DOUBLE)) AS lp
        |  FROM db LEFT JOIN lm3 USING (w1, w2, w3)
        |  LEFT JOIN ctx3 USING (w1, w2)
        |  LEFT JOIN lm2 bg ON bg.w1 = db.w2 AND bg.w2 = db.w3
        |  LEFT JOIN ctx2 ON ctx2.w1 = db.w2
        |  LEFT JOIN lm1 ON lm1.w = db.w3
        |  CROSS JOIN tot CROSS JOIN v),
        |agg AS (
        |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS ntri,
        |    sum(CAST(n * lp AS DECIMAL(38,18))) AS s
        |  FROM sc GROUP BY 1)
        |SELECT d.doc_id, coalesce(agg.ntri, 0) AS n_trigrams,
        |  round(-(CAST(agg.s AS DOUBLE) / agg.ntri), 6) AS neg_log_score
        |FROM documents d LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // Order-3 KN replay: trigram + bigram tables, both context tables,
    // continuation counts, the two-level recursion with matched literal
    // typing and association.
    "q_text_lm_kn3" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |tg AS (
        |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3
        |  FROM tk, unnest(range(1, len(t) - 1)) AS r(i)
        |  WHERE len(t) >= 3),
        |bgr AS (
        |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        |  FROM tk, unnest(range(1, len(t))) AS r(i)
        |  WHERE len(t) >= 2),
        |lm3 AS (SELECT w1, w2, w3, count(*) AS cnt FROM tg GROUP BY 1, 2, 3),
        |lm2 AS (SELECT w1, w2, count(*) AS cnt FROM bgr GROUP BY 1, 2),
        |ctx3 AS (SELECT w1, w2, CAST(sum(cnt) AS BIGINT) AS c3,
        |         count(*) AS n3f FROM lm3 GROUP BY 1, 2),
        |ctx2 AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS c2,
        |         count(*) AS n2f FROM lm2 GROUP BY 1),
        |bwd AS (SELECT w2, count(*) AS n1b FROM lm2 GROUP BY 1),
        |tot AS (SELECT count(*) AS nb FROM lm2),
        |v AS (SELECT count(DISTINCT w) AS vs
        |      FROM (SELECT w1 AS w FROM lm2 UNION ALL SELECT w2 FROM lm2)),
        |db AS (SELECT doc_id, w1, w2, w3, count(*) AS n
        |       FROM tg GROUP BY 1, 2, 3, 4),
        |sc AS (
        |  SELECT db.doc_id, db.n,
        |    ln(CAST(0.999999 AS DOUBLE) * (
        |      CASE WHEN ctx3.c3 IS NOT NULL
        |        THEN greatest(CAST(coalesce(lm3.cnt, 0) AS DOUBLE) - 0.75, 0.0)
        |             / CAST(ctx3.c3 AS DOUBLE)
        |           + 0.75 * CAST(ctx3.n3f AS DOUBLE) / CAST(ctx3.c3 AS DOUBLE)
        |             * (CASE WHEN ctx2.c2 IS NOT NULL
        |                THEN greatest(CAST(coalesce(bg.cnt, 0) AS DOUBLE)
        |                       - 0.75, 0.0) / CAST(ctx2.c2 AS DOUBLE)
        |                   + 0.75 * CAST(ctx2.n2f AS DOUBLE)
        |                     / CAST(ctx2.c2 AS DOUBLE)
        |                     * (CAST(coalesce(bwd.n1b, 0) AS DOUBLE)
        |                        / CAST(tot.nb AS DOUBLE))
        |                ELSE CAST(coalesce(bwd.n1b, 0) AS DOUBLE)
        |                     / CAST(tot.nb AS DOUBLE) END)
        |        ELSE (CASE WHEN ctx2.c2 IS NOT NULL
        |              THEN greatest(CAST(coalesce(bg.cnt, 0) AS DOUBLE)
        |                     - 0.75, 0.0) / CAST(ctx2.c2 AS DOUBLE)
        |                 + 0.75 * CAST(ctx2.n2f AS DOUBLE)
        |                   / CAST(ctx2.c2 AS DOUBLE)
        |                   * (CAST(coalesce(bwd.n1b, 0) AS DOUBLE)
        |                      / CAST(tot.nb AS DOUBLE))
        |              ELSE CAST(coalesce(bwd.n1b, 0) AS DOUBLE)
        |                   / CAST(tot.nb AS DOUBLE) END) END)
        |      + CAST(0.000001 AS DOUBLE) / CAST(v.vs AS DOUBLE)) AS lp
        |  FROM db LEFT JOIN lm3 USING (w1, w2, w3)
        |  LEFT JOIN ctx3 USING (w1, w2)
        |  LEFT JOIN lm2 bg ON bg.w1 = db.w2 AND bg.w2 = db.w3
        |  LEFT JOIN ctx2 ON ctx2.w1 = db.w2
        |  LEFT JOIN bwd ON bwd.w2 = db.w3
        |  CROSS JOIN tot CROSS JOIN v),
        |agg AS (
        |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS ntri,
        |    sum(CAST(n * lp AS DECIMAL(38,18))) AS s
        |  FROM sc GROUP BY 1)
        |SELECT d.doc_id, coalesce(agg.ntri, 0) AS n_trigrams,
        |  round(-(CAST(agg.s AS DOUBLE) / agg.ntri), 6) AS cross_entropy,
        |  round(exp(-(CAST(agg.s AS DOUBLE) / agg.ntri)), 6) AS perplexity
        |FROM documents d LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // The perplexity pipeline plus quantile_cont cutoffs and threshold
    // CASE — the whole CCNet bucketing chain replayed.
    "q_text_ppl_buckets" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        |  FROM tk, unnest(range(1, len(t))) AS r(i)
        |  WHERE len(t) >= 2),
        |lm AS (SELECT w1, w2, count(*) AS cnt FROM bg GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS c1 FROM lm GROUP BY 1),
        |v AS (SELECT count(DISTINCT w) AS vs
        |      FROM (SELECT w1 AS w FROM lm UNION ALL SELECT w2 FROM lm)),
        |db AS (SELECT doc_id, w1, w2, count(*) AS n FROM bg GROUP BY 1, 2, 3),
        |sc AS (
        |  SELECT db.doc_id, db.n,
        |    ln((coalesce(lm.cnt, 0) + 0.5)
        |       / (coalesce(ctx.c1, 0) + 0.5 * v.vs)) AS lp
        |  FROM db LEFT JOIN lm USING (w1, w2) LEFT JOIN ctx USING (w1)
        |  CROSS JOIN v),
        |agg AS (
        |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS nb,
        |    sum(CAST(n * lp AS DECIMAL(38,18))) AS s
        |  FROM sc GROUP BY 1),
        |p AS (
        |  SELECT d.doc_id, coalesce(agg.nb, 0) AS n_bigrams,
        |    round(exp(-(CAST(agg.s AS DOUBLE) / agg.nb)), 6) AS r
        |  FROM documents d LEFT JOIN agg USING (doc_id)),
        |cuts AS (
        |  SELECT quantile_cont(r, 0.3333333333333333) AS ca,
        |         quantile_cont(r, 0.6666666666666666) AS cb
        |  FROM p WHERE r IS NOT NULL)
        |SELECT doc_id, n_bigrams, r AS perplexity,
        |  CASE WHEN r IS NULL THEN 'unscored'
        |       WHEN r <= ca THEN 'head'
        |       WHEN r <= cb THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM p CROSS JOIN cuts ORDER BY doc_id""".stripMargin,
    // BPE gate truth: the initial symbol total (chars + one </w> marker
    // per word) is pure tokenization arithmetic DuckDB replays exactly;
    // the consistency and trained booleans are engine-side (the
    // q_sim_pq_gate pattern) — but consistency is an EXACT integer
    // equality, not a threshold.
    "q_text_bpe_gate" ->
      """WITH tk AS (
        |  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |    x -> x <> '')) AS w
        |  FROM documents)
        |SELECT CAST(sum(len(w) + 1) AS BIGINT) AS n_init_tokens,
        |  true AS consistency_ok, true AS trained_ok
        |FROM tk""".stripMargin,
    // Same initial-symbol truth; the three id-sequence invariants are
    // engine-side exact-integer equalities the oracle pins true.
    "q_text_bpe_ids_gate" ->
      """WITH tk AS (
        |  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |    x -> x <> '')) AS w
        |  FROM documents)
        |SELECT CAST(sum(len(w) + 1) AS BIGINT) AS n_init_tokens,
        |  true AS ids_len_ok, true AS conservation_ok, true AS ids_known_ok
        |FROM tk""".stripMargin,
    // Framing truth (r13): the initial-symbol total again (framing must
    // not disturb content conservation), n_docs for the 2-specials-per-
    // doc arithmetic; the per-encoder frame/strip/pad equalities and the
    // pack replay are engine-side exact integers pinned true.
    "q_text_specials_gate" ->
      """WITH tk AS (
        |  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |    x -> x <> '')) AS w
        |  FROM documents)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
        |  CAST(sum(len(w) + 1) AS BIGINT) AS n_init_tokens,
        |  true AS bpe_frame_ok, true AS byte_frame_ok,
        |  true AS wp_frame_ok, true AS uni_frame_ok,
        |  true AS n_special_ok, true AS framed_conservation_ok,
        |  true AS pack_replay_ok, true AS pack_total_ok
        |FROM tk""".stripMargin,
    // Initial-symbol truth again; every pack/span/padding/reconstruction
    // invariant is an engine-side exact equality pinned true (r14).
    "q_cur_pack_spans_gate" ->
      """WITH tk AS (
        |  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |    x -> x <> '')) AS w
        |  FROM documents)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
        |  CAST(sum(len(w) + 1) AS BIGINT) AS n_init_tokens,
        |  true AS spans_contiguous_ok, true AS pack_shape_ok,
        |  true AS padding_ok, true AS reconstruction_ok,
        |  true AS content_total_ok, true AS framed_total_ok,
        |  true AS pack_count_ok
        |FROM tk""".stripMargin,
    // Initial-symbol truth again; the window-replay and applied-total
    // equalities are engine-side exact integers pinned true.
    "q_cur_pack_bpe_gate" ->
      """WITH tk AS (
        |  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |    x -> x <> '')) AS w
        |  FROM documents)
        |SELECT CAST(sum(len(w) + 1) AS BIGINT) AS n_init_tokens,
        |  true AS pack_replay_ok, true AS total_ok
        |FROM tk""".stripMargin,
    // NB replay: token counts per label, add-k log-likelihood with the
    // same one-division arguments (exact in double), DECIMAL(38,18)
    // evidence sums, prior log-odds, row_number argmax with label-asc
    // ties — the q_text_lm_perplexity decimal contract applied to
    // classification.
    "q_text_nb_classify" ->
      """WITH tkx AS (
        |  SELECT doc_id, lang,
        |    unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> x <> '')) AS token
        |  FROM documents),
        |m AS (SELECT lang AS label, token, count(*) AS cnt FROM tkx GROUP BY 1, 2),
        |pr AS (SELECT lang AS label, count(*) AS dl FROM documents GROUP BY 1),
        |ct AS (SELECT label, CAST(sum(cnt) AS BIGINT) AS c FROM m GROUP BY 1),
        |v AS (SELECT count(DISTINCT token) AS vs FROM m),
        |d AS (SELECT CAST(sum(dl) AS BIGINT) AS ds FROM pr),
        |db AS (SELECT doc_id, token, count(*) AS n FROM tkx GROUP BY 1, 2),
        |dbv AS (SELECT * FROM db WHERE token IN (SELECT token FROM m)),
        |ev AS (
        |  SELECT dbv.doc_id, ct.label, CAST(sum(dbv.n) AS BIGINT) AS ns,
        |    sum(CAST(dbv.n * ln((coalesce(m.cnt, 0) + 0.5) / (ct.c + 0.5 * v.vs))
        |        AS DECIMAL(38,18))) AS s
        |  FROM dbv CROSS JOIN ct
        |  LEFT JOIN m ON m.label = ct.label AND m.token = dbv.token
        |  CROSS JOIN v
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT dd.doc_id, pr.label,
        |    coalesce(ev.ns, 0) AS ns,
        |    coalesce(CAST(ev.s AS DOUBLE), 0.0)
        |      + ln(CAST(pr.dl AS DOUBLE) / CAST(d.ds AS DOUBLE)) AS score
        |  FROM (SELECT doc_id FROM documents) dd CROSS JOIN pr
        |  LEFT JOIN ev ON ev.doc_id = dd.doc_id AND ev.label = pr.label
        |  CROSS JOIN d)
        |SELECT doc_id, label AS pred_label, CAST(ns AS BIGINT) AS n_scored
        |FROM sc
        |QUALIFY row_number() OVER (PARTITION BY doc_id
        |  ORDER BY score DESC, label ASC) = 1
        |ORDER BY doc_id""".stripMargin,
    // Same replay plus the margin: lead(score) over the identical
    // (score desc, label asc) per-doc window, one double subtraction,
    // round 6 — every term bit-identical to the Spark side.
    // Same scoring CTE chain as q_text_nb_margin, then the margin TOWARD
    // 'en' (conditional max aggregate, not the best-vs-runner-up window)
    // and the Pareto keep: -ln(1-u)/9 > ln(2 - sigmoid(margin)), both
    // sides rounded to 6 before the strict compare.
    "q_text_nb_pareto" ->
      """WITH tkx AS (
        |  SELECT doc_id, lang,
        |    unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> x <> '')) AS token
        |  FROM documents),
        |m AS (SELECT lang AS label, token, count(*) AS cnt FROM tkx GROUP BY 1, 2),
        |pr AS (SELECT lang AS label, count(*) AS dl FROM documents GROUP BY 1),
        |ct AS (SELECT label, CAST(sum(cnt) AS BIGINT) AS c FROM m GROUP BY 1),
        |v AS (SELECT count(DISTINCT token) AS vs FROM m),
        |d AS (SELECT CAST(sum(dl) AS BIGINT) AS ds FROM pr),
        |db AS (SELECT doc_id, token, count(*) AS n FROM tkx GROUP BY 1, 2),
        |dbv AS (SELECT * FROM db WHERE token IN (SELECT token FROM m)),
        |ev AS (
        |  SELECT dbv.doc_id, ct.label, CAST(sum(dbv.n) AS BIGINT) AS ns,
        |    sum(CAST(dbv.n * ln((coalesce(m.cnt, 0) + 0.5) / (ct.c + 0.5 * v.vs))
        |        AS DECIMAL(38,18))) AS s
        |  FROM dbv CROSS JOIN ct
        |  LEFT JOIN m ON m.label = ct.label AND m.token = dbv.token
        |  CROSS JOIN v
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT dd.doc_id, pr.label,
        |    coalesce(CAST(ev.s AS DOUBLE), 0.0)
        |      + ln(CAST(pr.dl AS DOUBLE) / CAST(d.ds AS DOUBLE)) AS score
        |  FROM (SELECT doc_id FROM documents) dd CROSS JOIN pr
        |  LEFT JOIN ev ON ev.doc_id = dd.doc_id AND ev.label = pr.label
        |  CROSS JOIN d),
        |mk AS (
        |  SELECT doc_id,
        |    round(max(CASE WHEN label = 'en' THEN score END)
        |        - max(CASE WHEN label <> 'en' THEN score END), 6) AS margin_keep
        |  FROM sc GROUP BY 1)
        |SELECT mk.doc_id, dd.lang
        |FROM mk JOIN documents dd ON dd.doc_id = mk.doc_id
        |WHERE round(-ln(1 - CAST(CAST(concat('0x',
        |      substr(md5('p:' || CAST(mk.doc_id AS VARCHAR)), 1, 8))
        |      AS BIGINT) AS DOUBLE) / 4294967296.0) / 9.0, 6)
        |    > round(ln(2 - 1 / (1 + exp(-margin_keep))), 6)
        |ORDER BY mk.doc_id""".stripMargin,
    "q_text_nb_margin" ->
      """WITH tkx AS (
        |  SELECT doc_id, lang,
        |    unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> x <> '')) AS token
        |  FROM documents),
        |m AS (SELECT lang AS label, token, count(*) AS cnt FROM tkx GROUP BY 1, 2),
        |pr AS (SELECT lang AS label, count(*) AS dl FROM documents GROUP BY 1),
        |ct AS (SELECT label, CAST(sum(cnt) AS BIGINT) AS c FROM m GROUP BY 1),
        |v AS (SELECT count(DISTINCT token) AS vs FROM m),
        |d AS (SELECT CAST(sum(dl) AS BIGINT) AS ds FROM pr),
        |db AS (SELECT doc_id, token, count(*) AS n FROM tkx GROUP BY 1, 2),
        |dbv AS (SELECT * FROM db WHERE token IN (SELECT token FROM m)),
        |ev AS (
        |  SELECT dbv.doc_id, ct.label, CAST(sum(dbv.n) AS BIGINT) AS ns,
        |    sum(CAST(dbv.n * ln((coalesce(m.cnt, 0) + 0.5) / (ct.c + 0.5 * v.vs))
        |        AS DECIMAL(38,18))) AS s
        |  FROM dbv CROSS JOIN ct
        |  LEFT JOIN m ON m.label = ct.label AND m.token = dbv.token
        |  CROSS JOIN v
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT dd.doc_id, pr.label,
        |    coalesce(ev.ns, 0) AS ns,
        |    coalesce(CAST(ev.s AS DOUBLE), 0.0)
        |      + ln(CAST(pr.dl AS DOUBLE) / CAST(d.ds AS DOUBLE)) AS score
        |  FROM (SELECT doc_id FROM documents) dd CROSS JOIN pr
        |  LEFT JOIN ev ON ev.doc_id = dd.doc_id AND ev.label = pr.label
        |  CROSS JOIN d)
        |SELECT doc_id, label AS pred_label, CAST(ns AS BIGINT) AS n_scored,
        |  round(score - lead(score) OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, label ASC), 6) AS margin
        |FROM sc
        |QUALIFY row_number() OVER (PARTITION BY doc_id
        |  ORDER BY score DESC, label ASC) = 1
        |ORDER BY doc_id""".stripMargin,
    // Same regex chain, RE2 dialect, 'g' (global) flag = Spark's
    // replace-all default; input text constructed identically from the
    // fixture on both sides.
    "q_text_redact_pii" ->
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    concat_ws(' ', substr(text, 1, 40), 'contact',
        |      'user' || doc_id || '@mail.example.com', 'at',
        |      '10.0.' || (doc_id % 256) || '.7',
        |      'tel 555-123-4567 see',
        |      'https://ex.example/p/' || doc_id),
        |    '(?i:https?)://[^\s]+', '<URL>', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g') AS redacted
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Replays the suffix semantics in DuckDB: same host extraction regex,
    // same dot-suffix explosion, membership against the same two-entry
    // list; URL-less rows survive (their extracted domain is '').
    // All-occurrence counting replayed positionally: for each (doc, term),
    // count the positions where the term appears in the lowercased
    // constructed text; matched ids aggregate ascending.
    "q_text_blockterms" ->
      """WITH t0 AS (
        |  SELECT doc_id,
        |    lower(concat_ws(' ', substring(text, 1, 30),
        |      CASE WHEN doc_id % 4 = 0 THEN 'aaa and more aaa'
        |           WHEN doc_id % 4 = 1 THEN 'a Spam Phrase here'
        |           WHEN doc_id % 4 = 2 THEN 'clean content'
        |           ELSE 'CASINO casino night' END)) AS t
        |  FROM documents),
        |hits AS (
        |  SELECT doc_id, p.pid,
        |    len(list_filter(range(1, len(t) - len(p.pat) + 2),
        |      i -> substring(t, i, len(p.pat)) = p.pat)) AS cnt
        |  FROM t0 CROSS JOIN (VALUES (0, 'aa'), (1, 'spam'),
        |    (2, 'spam phrase'), (3, 'casino')) AS p(pid, pat))
        |SELECT doc_id,
        |  CAST(sum(cnt) AS BIGINT) AS n_blocked_hits,
        |  coalesce(string_agg(CASE WHEN cnt > 0
        |      THEN CAST(pid AS VARCHAR) END, ',' ORDER BY pid), '')
        |    AS blocked_ids
        |FROM hits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_text_domain_filter" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 5 AS INT)
        |      WHEN 0 THEN 'https://Ads.Spam.Example/p/' || doc_id
        |      WHEN 1 THEN 'http://deep.Sub.spam.example/q/' || doc_id
        |      WHEN 2 THEN 'https://good.example/r/' || doc_id
        |      WHEN 3 THEN 'https://user@Tracker.NET:8443/s/' || doc_id
        |      ELSE 'no url in this row' END AS url
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, url,
        |    string_split(regexp_extract(lower(url),
        |      '^[a-z][a-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)', 1), '.') AS parts
        |  FROM u),
        |sfx AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(parts)),
        |      i -> array_to_string(parts[i:], '.'))) AS s
        |  FROM d),
        |blocked AS (
        |  SELECT DISTINCT doc_id FROM sfx
        |  WHERE s IN ('spam.example', 'tracker.net'))
        |SELECT doc_id, url FROM d
        |WHERE doc_id NOT IN (SELECT doc_id FROM blocked)
        |ORDER BY doc_id""".stripMargin,
    // nfc_normalize recomposes any decomposed input, strip_accents then
    // matches Java's NFD+mark-removal on composed text; same trim +
    // whitespace collapse on both sides.
    "q_text_normalize" ->
      """SELECT doc_id,
        |  regexp_replace(trim(lower(strip_accents(nfc_normalize(
        |    concat_ws('  ', 'Café ÜBER naïve señor', substr(text, 1, 30),
        |      'Ítem-' || doc_id || ' crème brûlée'))))),
        |    '\s+', ' ', 'g') AS norm
        |FROM documents ORDER BY doc_id""".stripMargin,
    // DuckDB's utf8proc NFC replayed against the Java Normalizer native —
    // fixture inputs built from explicit codepoints (chr) so the SQL text
    // carries no raw combining marks: U+0301 combining acute, U+030A ring,
    // U+0308 diaeresis, Hangul jamo U+1100/1161/11A8, U+212B ANGSTROM SIGN.
    "q_text_nfc" ->
      """WITH fx AS (SELECT * FROM (VALUES
        |    (9100001, 'cafe' || chr(769) || ' du parc'),
        |    (9100002, 'A' || chr(778) || 'ngstro' || chr(776) || 'm'),
        |    (9100003, chr(4352) || chr(4449) || chr(4520) || ' ok'),
        |    (9100004, chr(8491) || ' angstrom sign'),
        |    (9100005, 'plain ascii stays')) AS f(doc_id, text)),
        |u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id, text FROM fx)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  nfc_normalize(text) AS text_nfc,
        |  text <> nfc_normalize(text) AS changed
        |FROM u ORDER BY doc_id""".stripMargin,
    // NFKC truth side: the compatibility folds are known literals (the
    // mojibake convention — DuckDB has no NFKC, but ligatures, fullwidth
    // forms, superscripts and circled digits fold to fixed outputs, and
    // NFKC is structurally the identity on the ASCII corpus).
    "q_text_nfkc" ->
      """WITH fx AS (SELECT * FROM (VALUES
        |    (9300001, chr(64257) || 'nancial ' || chr(64258) || 'ow',
        |     'financial flow'),
        |    (9300002, chr(65350) || chr(65365) || chr(65356) || chr(65356) ||
        |       chr(65367) || chr(65353) || chr(65348) || chr(65364) ||
        |       chr(65352) || ' ' || chr(65359) || chr(65355),
        |     'fullwidth ok'),
        |    (9300003, 'x' || chr(178) || ' plus ' || chr(9312) || ' item',
        |     'x2 plus 1 item'),
        |    (9300004, 'cafe' || chr(769) || ' mix',
        |     'caf' || chr(233) || ' mix'),
        |    (9300005, 'plain ascii stays', 'plain ascii stays'))
        |    AS f(doc_id, text, folded)),
        |u AS (
        |  SELECT doc_id, text, text AS folded FROM documents
        |  UNION ALL SELECT doc_id, text, folded FROM fx)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, folded AS text_nfkc,
        |  text <> folded AS changed
        |FROM u ORDER BY doc_id""".stripMargin,
    // Mojibake truth side: the fixture REPAIRS are known literals (built
    // from explicit codepoints — chr(195)=Ã etc. for the damaged inputs,
    // chr(233)=é etc. for the expected outputs); the ASCII corpus passes
    // through unchanged structurally (no high bytes, nothing to
    // re-decode), so `text` IS its expected repair.
    "q_text_mojibake" ->
      """WITH fx AS (SELECT * FROM (VALUES
        |    (9200001, 'caf' || chr(195) || chr(169) || ' d' || chr(195) ||
        |       chr(169) || 'j' || chr(195) || chr(160) || ' vu',
        |     'caf' || chr(233) || ' d' || chr(233) || 'j' || chr(224) || ' vu'),
        |    (9200002, 'dash ' || chr(226) || chr(8364) || chr(8221) || ' here',
        |     'dash ' || chr(8212) || ' here'),
        |    (9200003, chr(195) || chr(402) || chr(194) || chr(169) || ' twice',
        |     chr(233) || ' twice'),
        |    (9200004, 'na' || chr(239) || 've caf' || chr(233),
        |     'na' || chr(239) || 've caf' || chr(233)),
        |    (9200005, 'plain ascii', 'plain ascii'))
        |    AS f(doc_id, text, fixed)),
        |u AS (
        |  SELECT doc_id, text, text AS fixed FROM documents
        |  UNION ALL SELECT doc_id, text, fixed FROM fx)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, fixed AS text_fixed,
        |  text <> fixed AS changed
        |FROM u ORDER BY doc_id""".stripMargin,
    // Same input construction and the same rule chain (fragment, lower
    // authority, default ports, tracking params, separator repair,
    // trailing slash) in RE2 with global flags; \1\2 is RE2's spelling
    // of Java's $1$2 and both substitute "" for an unmatched group.
    // Same canon rule chain as q_text_canon_url (carried n_chars through),
    // then the keep-best window per canonical URL.
    "q_dedup_by_url" ->
      """WITH u AS (
        |  SELECT doc_id, n_chars,
        |    CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTPS://' END
        |    || 'Site' || (doc_id % 7) || '.Example.COM'
        |    || CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END
        |    || '/page/' || (doc_id % 50)
        |    || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END
        |    || CASE WHEN doc_id % 2 = 1
        |         THEN '?utm_source=feed&x=' || (doc_id % 4) ELSE '' END AS url
        |  FROM documents),
        |s1 AS (SELECT doc_id, n_chars,
        |  regexp_replace(url, '#.*', '', 'g') AS u FROM u),
        |s2 AS (SELECT doc_id, n_chars,
        |  lower(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', 0))
        |    || regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '', 'g')
        |    AS u FROM s1),
        |s3 AS (SELECT doc_id, n_chars, regexp_replace(regexp_replace(u,
        |  '^(http://[^/?#:]+):80([/?#].*)?$', '\1\2', 'g'),
        |  '^(https://[^/?#:]+):443([/?#].*)?$', '\1\2', 'g') AS u FROM s2),
        |s4 AS (SELECT doc_id, n_chars, regexp_replace(u,
        |  '([?&])(utm_[A-Za-z0-9_]*|fbclid|gclid)=[^&#]*', '\1', 'g') AS u
        |  FROM s3),
        |s5 AS (SELECT doc_id, n_chars, regexp_replace(regexp_replace(
        |  regexp_replace(u, '&&+', '&', 'g'), '\?&', '?', 'g'),
        |  '[?&]+$', '', 'g') AS u FROM s4),
        |c AS (SELECT doc_id, n_chars,
        |  regexp_replace(u, '/$', '', 'g') AS url_canon FROM s5)
        |SELECT doc_id, n_chars, url_canon FROM c
        |QUALIFY row_number() OVER (PARTITION BY url_canon
        |  ORDER BY n_chars DESC, doc_id ASC) = 1
        |ORDER BY doc_id""".stripMargin,
    "q_text_canon_url" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'http://'
        |      WHEN 1 THEN 'HTTPS://' WHEN 2 THEN 'https://'
        |      ELSE 'HTTP://' END
        |    || 'Site' || (doc_id % 7) || '.Example.COM'
        |    || CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN ':80'
        |      WHEN 1 THEN ':443' WHEN 2 THEN '' ELSE ':8080' END
        |    || '/Path/' || doc_id
        |    || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END
        |    || CASE WHEN doc_id % 2 = 0
        |         THEN '?utm_source=feed&id=' || doc_id || '&utm_campaign=x'
        |         ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END AS url
        |  FROM documents),
        |s1 AS (SELECT doc_id, regexp_replace(url, '#.*', '', 'g') AS u FROM u),
        |s2 AS (SELECT doc_id,
        |  lower(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', 0))
        |    || regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '', 'g')
        |    AS u FROM s1),
        |s3 AS (SELECT doc_id, regexp_replace(regexp_replace(u,
        |  '^(http://[^/?#:]+):80([/?#].*)?$', '\1\2', 'g'),
        |  '^(https://[^/?#:]+):443([/?#].*)?$', '\1\2', 'g') AS u FROM s2),
        |s4 AS (SELECT doc_id, regexp_replace(u,
        |  '([?&])(utm_[A-Za-z0-9_]*|fbclid|gclid)=[^&#]*', '\1', 'g') AS u
        |  FROM s3),
        |s5 AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(u,
        |  '&&+', '&', 'g'), '\?&', '?', 'g'), '[?&]+$', '', 'g') AS u FROM s4)
        |SELECT doc_id, regexp_replace(u, '/$', '', 'g') AS url_canon
        |FROM s5 ORDER BY doc_id""".stripMargin,
    "q_ev_json_extract" ->
      """SELECT event_id, event_type,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) >= 90
        |ORDER BY event_id""".stripMargin,
    "q_ev_json_agg" ->
      """WITH p AS (
        |  SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |  FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(k) AS BIGINT) AS sum_k, min(k) AS min_k, max(k) AS max_k,
        |  CAST(sum(k) AS DOUBLE) / count(*) AS avg_k
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_text_quality_percentiles" ->
      """SELECT lang,
        |  quantile_cont(n_chars, 0.5) AS p50_chars,
        |  quantile_cont(n_chars, 0.95) AS p95_chars,
        |  true AS sketch_close_ok
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_text_fingerprint" ->
      """SELECT doc_id,
        |  sha256(trim(lower(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
        |  list_reduce(
        |    list_prepend(CAST(7 AS BIGINT),
        |      list_transform(range(1, length(text) + 1),
        |        i -> CAST(ord(text[i]) AS BIGINT))),
        |    (acc, c) -> (acc * 31 + c) % 1000000007) AS rh
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_cur_cap_per_group" ->
      """WITH p AS (
        |  SELECT doc_id, lang,
        |    CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |      AS BIGINT) AS BIGINT) AS pri
        |  FROM documents),
        |r AS (SELECT doc_id, lang,
        |        row_number() OVER (PARTITION BY lang ORDER BY pri, doc_id) AS rk
        |      FROM p)
        |SELECT doc_id, lang FROM r WHERE rk <= 80 ORDER BY doc_id""".stripMargin,
    "q_cur_stratified_sample" ->
      """WITH p AS (
        |  SELECT doc_id, lang,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |      AS BIGINT) AS pri
        |  FROM documents)
        |SELECT doc_id, lang FROM p
        |WHERE pri < CASE lang WHEN 'en' THEN 2147483648
        |                      WHEN 'es' THEN 1073741824
        |                      ELSE 429496730 END
        |ORDER BY doc_id""".stripMargin,
    // Replays mixtureSample's fraction arithmetic EXACTLY, including the
    // left-associated double ops (60*w, /wSum, /n) and the half-up round
    // to the 2^32 threshold — any reordering would drift an ulp and flip
    // boundary rows.
    "q_cur_mixture_sample" ->
      """WITH c AS (
        |  SELECT source, count(*) AS n FROM documents
        |  WHERE source IN ('src0', 'src1', 'src2') GROUP BY 1),
        |p AS (
        |  SELECT doc_id, source,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |      AS BIGINT) AS pri
        |  FROM documents)
        |SELECT doc_id, p.source FROM p JOIN c USING (source)
        |WHERE pri < round(least(1.0,
        |    60.0 * CASE p.source WHEN 'src0' THEN 0.5
        |                         WHEN 'src1' THEN 0.3
        |                         ELSE 0.2 END
        |      / (0.5 + 0.3 + 0.2) / c.n) * 4294967296.0)
        |ORDER BY doc_id""".stripMargin,
    // Temperature mixture: pow on exact integer masses, DECIMAL Σw, the
    // same prefix-threshold machinery.
    "q_cur_mixture_temp" ->
      """WITH c AS (
        |  SELECT source AS g, count(*) AS n FROM documents
        |  WHERE source IS NOT NULL GROUP BY 1),
        |w AS (SELECT g, n, pow(CAST(n AS DOUBLE), 0.3) AS w FROM c),
        |s AS (SELECT CAST(sum(CAST(w AS DECIMAL(38,18))) AS DOUBLE) AS ws
        |      FROM w),
        |p AS (
        |  SELECT doc_id, source,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |      AS BIGINT) AS pri
        |  FROM documents)
        |SELECT doc_id, p.source FROM p JOIN w ON w.g = p.source CROSS JOIN s
        |WHERE pri < round(least(1.0,
        |    200.0 * w.w / s.ws / CAST(w.n AS DOUBLE)) * 4294967296.0)
        |ORDER BY doc_id""".stripMargin,
    // Same threshold machinery as q_cur_mixture_sample but fractions
    // derived from per-group BIGINT token sums; left-associated double
    // ops replayed exactly.
    "q_cur_mixture_tokens" ->
      """WITH c AS (
        |  SELECT source, sum(n_chars) AS t FROM documents
        |  WHERE source IN ('src0', 'src1', 'src2') GROUP BY 1),
        |p AS (
        |  SELECT doc_id, source, n_chars,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |      AS BIGINT) AS pri
        |  FROM documents)
        |SELECT doc_id, p.source, n_chars FROM p JOIN c USING (source)
        |WHERE c.t > 0 AND pri < round(least(1.0,
        |    8000.0 * CASE p.source WHEN 'src0' THEN 5.0
        |                           WHEN 'src1' THEN 0.5
        |                           ELSE 0.5 END
        |      / (5.0 + 0.5 + 0.5) / c.t) * 4294967296.0)
        |ORDER BY doc_id""".stripMargin,
    // q_cur_mixture_tokens' keep-set arithmetic composed with
    // q_cur_pack_sequences' running-sum replay, over the kept rows only.
    "q_cur_mix_pack_pipeline" ->
      """WITH c AS (
        |  SELECT source, sum(n_chars) AS t FROM documents
        |  WHERE source IN ('src0', 'src1', 'src2') GROUP BY 1),
        |kept AS (
        |  SELECT doc_id, text FROM documents p JOIN c USING (source)
        |  WHERE c.t > 0 AND CAST(concat('0x',
        |      substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |    < round(least(1.0,
        |        20000.0 * CASE p.source WHEN 'src0' THEN 0.5
        |                                WHEN 'src1' THEN 0.3
        |                                ELSE 0.2 END
        |          / (0.5 + 0.3 + 0.2) / c.t) * 4294967296.0)),
        |d AS (
        |  SELECT doc_id,
        |    coalesce(len(list_filter(string_split_regex(text, '\s+'),
        |      x -> x <> '')), 0) AS n_tok
        |  FROM kept),
        |cc AS (
        |  SELECT doc_id, n_tok,
        |    coalesce(sum(n_tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum0
        |  FROM d)
        |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
        |  CAST(cum0 // 2048 AS BIGINT) AS pack_id,
        |  CAST(cum0 % 2048 AS BIGINT) AS pack_offset
        |FROM cc ORDER BY doc_id""".stripMargin,
    // Exact-integer Z-value replay: same grid division (// is floor
    // division; operands non-negative, so it matches Spark's truncating
    // `div`) and the same 32 interleave terms.
    "q_layout_zorder" ->
      """WITH b AS (
        |  SELECT o_orderkey, CAST(o_custkey AS BIGINT) AS x,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |      AS BIGINT) AS y
        |  FROM orders
        |  WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL),
        |mm AS (SELECT min(x) AS xmin, max(x) AS xmax,
        |              min(y) AS ymin, max(y) AS ymax FROM b),
        |g AS (
        |  SELECT o_orderkey,
        |    CASE WHEN xmax = xmin THEN 0
        |         ELSE ((x - xmin) * 65535) // (xmax - xmin) END AS gx,
        |    CASE WHEN ymax = ymin THEN 0
        |         ELSE ((y - ymin) * 65535) // (ymax - ymin) END AS gy
        |  FROM b, mm)
        |SELECT o_orderkey,
        |  CAST(list_sum(list_transform(range(0, 16), i ->
        |    (((gx >> i) & 1) << (2 * i)) + (((gy >> i) & 1) << (2 * i + 1))))
        |    AS BIGINT) AS zval
        |FROM g ORDER BY o_orderkey""".stripMargin,
    // row_number over (md5('s8:'||id), id) replays the mint's total
    // order; positions are 1-based like the operator's.
    "q_cur_shuffle_shards" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY md5('s8:' || doc_id), doc_id)
        |      AS shuffle_pos
        |  FROM documents)
        |SELECT doc_id, shuffle_pos,
        |  CAST(floor((shuffle_pos - 1) / 128.0) AS BIGINT) AS shard
        |FROM p ORDER BY doc_id""".stripMargin,
    "q_cur_topk_per_group" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY n_chars DESC, doc_id ASC) AS rk
        |  FROM documents)
        |WHERE rk <= 10 ORDER BY doc_id""".stripMargin,
    "q_cur_quantile_filter" ->
      """WITH c AS (
        |  SELECT lang, quantile_cont(n_chars, 0.3) AS cut
        |  FROM documents GROUP BY lang)
        |SELECT doc_id, d.lang, n_chars
        |FROM documents d JOIN c ON d.lang = c.lang
        |WHERE n_chars >= cut ORDER BY doc_id""".stripMargin,
    "q_cur_chunk_documents" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS tk
        |  FROM documents)
        |SELECT doc_id, i AS chunk_id,
        |  array_to_string(tk[i*32+1 : i*32+64], ' ') AS chunk_text,
        |  CAST(least(64, len(tk) - i*32) AS BIGINT) AS n_chunk_tokens
        |FROM t, unnest(generate_series(0,
        |  CAST(floor((len(tk)-1) / 32.0) AS INT))) AS u(i)
        |WHERE len(tk) > 0
        |ORDER BY doc_id, chunk_id""".stripMargin,
    "q_sim_quantize" ->
      """WITH b AS (
        |  SELECT vec_id AS id, embedding,
        |    CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS ma
        |  FROM embeddings WHERE len(embedding) > 0)
        |SELECT id,
        |  array_to_string(
        |    CASE WHEN ma > 0 THEN list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) AS INT))
        |         ELSE list_transform(embedding, x -> 0) END, ' ') AS qvec,
        |  CASE WHEN ma > 0 THEN 127.0 / ma ELSE NULL END AS scale
        |FROM b ORDER BY id""".stripMargin,
    "q_sim_quantize_gate" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_vectors, true AS roundtrip_ok
        |FROM embeddings WHERE len(embedding) > 0""".stripMargin,
    "q_sim_ann_portable" ->
      """WITH base AS (
        |  SELECT vec_id AS id, embedding,
        |    CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS ma
        |  FROM embeddings WHERE len(embedding) = 64),
        |q AS (
        |  SELECT id,
        |    CASE WHEN ma > 0 THEN list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) AS BIGINT))
        |         ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END AS qv
        |  FROM base),
        |sgn AS (
        |  SELECT b.b, j.j, i.i,
        |    CASE WHEN CAST(concat('0x',
        |        substr(md5(b.b || ':' || j.j || ':' || i.i), 1, 1)) AS INT) % 2 = 0
        |      THEN 1 ELSE -1 END AS s
        |  FROM range(0, 4) b(b), range(0, 8) j(j), range(0, 64) i(i)),
        |bits AS (
        |  SELECT q.id, sgn.b, sgn.j,
        |    CASE WHEN sum(sgn.s * qv[sgn.i + 1]) >= 0
        |      THEN CAST(1 AS BIGINT) << sgn.j ELSE CAST(0 AS BIGINT) END AS bitv
        |  FROM q, sgn GROUP BY q.id, sgn.b, sgn.j),
        |keys AS (SELECT id, b, CAST(sum(bitv) AS BIGINT) AS sig
        |  FROM bits GROUP BY 1, 2),
        |cand AS (
        |  SELECT DISTINCT ka.id AS id_a, kb.id AS id_b
        |  FROM keys ka JOIN keys kb
        |    ON ka.b = kb.b AND ka.sig = kb.sig AND ka.id < kb.id),
        |scored AS (
        |  SELECT c.id_a, c.id_b,
        |    list_sum(list_transform(range(1, 65), i -> qa.qv[i] * qb.qv[i])) AS dot,
        |    list_sum(list_transform(qa.qv, x -> x * x)) AS na,
        |    list_sum(list_transform(qb.qv, x -> x * x)) AS nb
        |  FROM cand c
        |  JOIN q qa ON qa.id = c.id_a
        |  JOIN q qb ON qb.id = c.id_b)
        |SELECT id_a, id_b FROM scored
        |WHERE na > 0 AND nb > 0 AND dot > 0 AND 16 * dot * dot >= na * nb
        |ORDER BY id_a, id_b""".stripMargin,
    "q_sim_ivf_portable" ->
      """WITH base AS (
        |  SELECT vec_id AS id, embedding,
        |    CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS ma
        |  FROM embeddings WHERE len(embedding) = 64),
        |q AS (
        |  SELECT id,
        |    CASE WHEN ma > 0 THEN list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) AS BIGINT))
        |         ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END AS qv
        |  FROM base),
        |sgn AS (
        |  SELECT c.c, i.i,
        |    CASE WHEN CAST(concat('0x',
        |        substr(md5('c' || c.c || ':' || i.i), 1, 1)) AS INT) % 2 = 0
        |      THEN 1 ELSE -1 END AS s
        |  FROM range(0, 16) c(c), range(0, 64) i(i)),
        |cellscore AS (
        |  SELECT q.id, sgn.c, sum(sgn.s * qv[sgn.i + 1]) AS sc
        |  FROM q, sgn GROUP BY 1, 2),
        |assign AS (
        |  SELECT id, c AS cell FROM cellscore
        |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY sc DESC, c) = 1),
        |qcells AS (
        |  SELECT c AS cell FROM cellscore WHERE id = 1
        |  ORDER BY sc DESC, c LIMIT 4),
        |qvec AS (SELECT qv AS qq FROM q WHERE id = 1),
        |cand AS (
        |  SELECT q.id, q.qv FROM assign a JOIN q ON q.id = a.id
        |  WHERE a.cell IN (SELECT cell FROM qcells) AND a.id <> 1),
        |scored AS (
        |  SELECT c.id AS vec_id,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> c.qv[i] * qvec.qq[i])) AS BIGINT) AS score
        |  FROM cand c CROSS JOIN qvec)
        |SELECT vec_id, score FROM scored
        |ORDER BY score DESC, vec_id LIMIT 20""".stripMargin,
    // Replays pqTopKPortable bit-for-bit: int8 quantize, md5-parity ±64
    // codebooks (key "pq:s:c:i", m=8 subspaces × k=16 codewords × sub=8),
    // per-subspace squared-L2 argmin with ties to the lowest codeword,
    // ADC table = query-subvector · codeword, score = sum of m lookups.
    // All integer-valued, exact in BIGINT and in double.
    "q_sim_pq_portable" ->
      """WITH base AS (
        |  SELECT vec_id AS id, embedding,
        |    CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS ma
        |  FROM embeddings WHERE len(embedding) = 64),
        |q AS (
        |  SELECT id,
        |    CASE WHEN ma > 0 THEN list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) AS BIGINT))
        |         ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END AS qv
        |  FROM base),
        |cw AS (
        |  SELECT s.s, c.c, i.i,
        |    CASE WHEN CAST(concat('0x',
        |        substr(md5('pq:' || s.s || ':' || c.c || ':' || i.i), 1, 1)) AS INT) % 2 = 0
        |      THEN CAST(64 AS BIGINT) ELSE CAST(-64 AS BIGINT) END AS w
        |  FROM range(0, 8) s(s), range(0, 16) c(c), range(0, 8) i(i)),
        |dist AS (
        |  SELECT q.id, cw.s, cw.c,
        |    sum((q.qv[cw.s * 8 + cw.i + 1] - cw.w)
        |      * (q.qv[cw.s * 8 + cw.i + 1] - cw.w)) AS d
        |  FROM q, cw GROUP BY 1, 2, 3),
        |codes AS (
        |  SELECT id, s, c FROM dist
        |  QUALIFY row_number() OVER (PARTITION BY id, s ORDER BY d ASC, c ASC) = 1),
        |lut AS (
        |  SELECT cw.s, cw.c, sum(qq.qv[cw.s * 8 + cw.i + 1] * cw.w) AS l
        |  FROM cw CROSS JOIN (SELECT qv FROM q WHERE id = 1) qq(qv)
        |  GROUP BY 1, 2)
        |SELECT codes.id AS vec_id, CAST(sum(lut.l) AS BIGINT) AS score
        |FROM codes JOIN lut ON codes.s = lut.s AND codes.c = lut.c
        |WHERE codes.id <> 1
        |GROUP BY 1 ORDER BY score DESC, vec_id ASC LIMIT 20""".stripMargin,
    // SemDeDup portable twin: the q_sim_ivf_portable cell machinery (±1
    // md5 "c<cell>:<i>" planes, integer-dot argmax with min-cell ties)
    // feeding a within-cell self-join with the annLshPortable rational
    // threshold (100·dot² ≥ 9·‖a‖²·‖b‖² — cosine 3/10, the fixture's
    // near-dup range — with dot > 0) — integers throughout.
    "q_dedup_semdedup_portable" ->
      """WITH base AS (
        |  SELECT vec_id AS id, embedding,
        |    CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS ma
        |  FROM embeddings WHERE len(embedding) = 64),
        |q AS (
        |  SELECT id,
        |    CASE WHEN ma > 0 THEN list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) AS BIGINT))
        |         ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END AS qv
        |  FROM base),
        |sgn AS (
        |  SELECT c.c, i.i,
        |    CASE WHEN CAST(concat('0x',
        |        substr(md5('c' || c.c || ':' || i.i), 1, 1)) AS INT) % 2 = 0
        |      THEN 1 ELSE -1 END AS s
        |  FROM range(0, 16) c(c), range(0, 64) i(i)),
        |cellscore AS (
        |  SELECT q.id, sgn.c, sum(sgn.s * qv[sgn.i + 1]) AS sc
        |  FROM q, sgn GROUP BY 1, 2),
        |assign AS (
        |  SELECT id, CAST(c AS INT) AS cell FROM cellscore
        |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY sc DESC, c) = 1),
        |norms AS (
        |  SELECT id, CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nn
        |  FROM q),
        |cand AS (
        |  SELECT a1.id AS id_a, a2.id AS id_b, a1.cell
        |  FROM assign a1 JOIN assign a2 ON a1.cell = a2.cell AND a1.id < a2.id),
        |pairs AS (
        |  SELECT c.id_a, c.id_b, c.cell,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> a.qv[i] * b.qv[i])) AS BIGINT) AS dot,
        |    na.nn AS na, nb.nn AS nb
        |  FROM cand c JOIN q a ON a.id = c.id_a JOIN q b ON b.id = c.id_b
        |  JOIN norms na ON na.id = c.id_a JOIN norms nb ON nb.id = c.id_b)
        |SELECT id_a, id_b, cell FROM pairs
        |WHERE na > 0 AND nb > 0 AND dot > 0 AND 100 * dot * dot >= 9 * na * nb
        |ORDER BY id_a, id_b""".stripMargin,
    // Truth side of the SemDeDup gate: the fixture size is deterministic
    // (32 planted clusters × 8); collapse and coverage are engine-side
    // quality booleans (the q_sim_pq_gate pattern).
    "q_dedup_semdedup_gate" ->
      """SELECT CAST(256 AS BIGINT) AS n_vectors, true AS collapse_ok,
        |  true AS coverage_ok""".stripMargin,
    // The indexed-probe equality gate: survivor-set identity is an
    // engine-internal fact (xxhash vectors, trained cells) asserted
    // Spark-side; the oracle pins the expected constants plus the
    // replayable corpus anchor (the q_dedup_semdedup_gate convention).
    "q_dedup_semantic_idx_gate" ->
      """SELECT count(*) AS n_docs, true AS nonempty,
        |  true AS probe_equals_train FROM documents""".stripMargin,
    // Replays ivfPqTopKPortable bit-for-bit: the q_sim_ivf_portable coarse
    // machinery (±1 md5 "c<cell>:<i>" planes, argmax assign with min-cell
    // ties, top-4 probe) composed with the q_sim_pq_portable codebooks
    // ("pq:s:c:i" ±64) over RESIDUALS qv − 64·sign, scored as
    // 64·(q·sign_cell) + Σ lut — integer throughout.
    "q_sim_ivfpq_portable" ->
      """WITH base AS (
        |  SELECT vec_id AS id, embedding,
        |    CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS ma
        |  FROM embeddings WHERE len(embedding) = 64),
        |q AS (
        |  SELECT id,
        |    CASE WHEN ma > 0 THEN list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) AS BIGINT))
        |         ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END AS qv
        |  FROM base),
        |sgn AS (
        |  SELECT c.c, i.i,
        |    CASE WHEN CAST(concat('0x',
        |        substr(md5('c' || c.c || ':' || i.i), 1, 1)) AS INT) % 2 = 0
        |      THEN 1 ELSE -1 END AS s
        |  FROM range(0, 16) c(c), range(0, 64) i(i)),
        |cellscore AS (
        |  SELECT q.id, sgn.c, sum(sgn.s * qv[sgn.i + 1]) AS sc
        |  FROM q, sgn GROUP BY 1, 2),
        |assign AS (
        |  SELECT id, c AS cell FROM cellscore
        |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY sc DESC, c) = 1),
        |qcells AS (
        |  SELECT c AS cell FROM cellscore WHERE id = 1
        |  ORDER BY sc DESC, c LIMIT 4),
        |cw AS (
        |  SELECT s.s, c.c, i.i,
        |    CASE WHEN CAST(concat('0x',
        |        substr(md5('pq:' || s.s || ':' || c.c || ':' || i.i), 1, 1)) AS INT) % 2 = 0
        |      THEN CAST(64 AS BIGINT) ELSE CAST(-64 AS BIGINT) END AS w
        |  FROM range(0, 8) s(s), range(0, 16) c(c), range(0, 8) i(i)),
        |cand AS (
        |  SELECT q.id, q.qv, a.cell FROM assign a JOIN q ON q.id = a.id
        |  WHERE a.cell IN (SELECT cell FROM qcells) AND a.id <> 1),
        |res AS (
        |  SELECT cand.id, sgn.i, cand.qv[sgn.i + 1] - 64 * sgn.s AS r
        |  FROM cand JOIN sgn ON sgn.c = cand.cell),
        |dist AS (
        |  SELECT res.id, cw.s, cw.c, sum((res.r - cw.w) * (res.r - cw.w)) AS d
        |  FROM res JOIN cw ON cw.s * 8 + cw.i = res.i GROUP BY 1, 2, 3),
        |codes AS (
        |  SELECT id, s, c FROM dist
        |  QUALIFY row_number() OVER (PARTITION BY id, s ORDER BY d ASC, c ASC) = 1),
        |lut AS (
        |  SELECT cw.s, cw.c, sum(qq.qv[cw.s * 8 + cw.i + 1] * cw.w) AS l
        |  FROM cw CROSS JOIN (SELECT qv FROM q WHERE id = 1) qq(qv)
        |  GROUP BY 1, 2),
        |centdot AS (
        |  SELECT cand.id, 64 * cs.sc AS cd FROM cand
        |  JOIN cellscore cs ON cs.id = 1 AND cs.c = cand.cell)
        |SELECT codes.id AS vec_id, CAST(cd.cd + sum(lut.l) AS BIGINT) AS score
        |FROM codes JOIN lut ON codes.s = lut.s AND codes.c = lut.c
        |JOIN centdot cd ON cd.id = codes.id
        |GROUP BY codes.id, cd.cd
        |ORDER BY score DESC, vec_id ASC LIMIT 20""".stripMargin,
    // Truth side of the PQ gate: the vector count is oracled; the
    // reconstruction-cosine and planted-recall booleans are engine-side
    // quality assertions (same pattern as q_sim_quantize_gate).
    "q_sim_pq_gate" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_vectors, true AS recon_ok,
        |  true AS recall_ok, true AS ivfpq_recall_ok
        |FROM embeddings WHERE len(embedding) = 64""".stripMargin,
    // Rotated-PQ truth: same corpus count, booleans measured engine-side
    // at the unrotated gate's own floors (r13).
    "q_sim_opq_gate" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_vectors, true AS recon_ok,
        |  true AS recall_ok
        |FROM embeddings WHERE len(embedding) = 64""".stripMargin,
    "q_cur_hash_split" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |      AS BIGINT) % 100 AS INT) AS split_bucket
        |  FROM documents)
        |SELECT doc_id, split_bucket,
        |  CASE WHEN split_bucket < 90 THEN 'train' ELSE 'eval' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,
    // Constructive invariant of hashSplitByCluster: the cluster-granular
    // split cannot leak, whatever the pair source — the Spark side audits
    // the production LSH pipeline's own output and must land on exactly 0
    // (same gate style as q_sim_recall_gate's `true AS recall_ok`).
    "q_cur_split_noleak_prod" ->
      "SELECT CAST(0 AS BIGINT) AS leak_groups",
    // Components replayed exactly as in q_dedup_groups (recursive CTE over
    // the bounded Jaccard pairs), then the q_cur_hash_split md5 arithmetic
    // on top — leakage report and cluster-granular split respectively.
    "q_cur_split_leakage" ->
      """WITH toks AS (
        |  SELECT doc_id AS id,
        |    unnest(list_distinct(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> ''))) AS w
        |  FROM documents WHERE doc_id < 120),
        |sizes AS (SELECT id, count(*) AS n FROM toks GROUP BY id),
        |inter AS (
        |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
        |  FROM toks a JOIN toks b ON a.w = b.w AND a.id < b.id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT id_a, id_b,
        |      CAST(i AS DOUBLE) / CAST(na.n + nb.n - i AS DOUBLE) AS jaccard
        |    FROM inter JOIN sizes na ON id_a = na.id JOIN sizes nb ON id_b = nb.id)
        |  WHERE jaccard >= 0.5),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  WITH RECURSIVE r(id, label) AS (
        |    SELECT DISTINCT src, src FROM edges
        |    UNION
        |    SELECT e.dst, r.label FROM r JOIN edges e ON e.src = r.id)
        |  SELECT * FROM r),
        |comp AS (SELECT id, min(label) AS group_id FROM reach GROUP BY id),
        |split AS (
        |  SELECT doc_id AS id,
        |    CASE WHEN CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |      AS BIGINT) % 100 AS INT) < 90 THEN 'train' ELSE 'eval' END AS split
        |  FROM documents)
        |SELECT c.group_id, count(*) AS n_docs,
        |  count(DISTINCT s.split) AS n_splits,
        |  array_to_string(list_sort(list(DISTINCT s.split)), ',') AS splits
        |FROM comp c JOIN split s ON c.id = s.id
        |GROUP BY 1 HAVING count(DISTINCT s.split) > 1
        |ORDER BY group_id""".stripMargin,
    "q_cur_split_by_cluster" ->
      """WITH toks AS (
        |  SELECT doc_id AS id,
        |    unnest(list_distinct(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> ''))) AS w
        |  FROM documents WHERE doc_id < 120),
        |sizes AS (SELECT id, count(*) AS n FROM toks GROUP BY id),
        |inter AS (
        |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
        |  FROM toks a JOIN toks b ON a.w = b.w AND a.id < b.id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT id_a, id_b,
        |      CAST(i AS DOUBLE) / CAST(na.n + nb.n - i AS DOUBLE) AS jaccard
        |    FROM inter JOIN sizes na ON id_a = na.id JOIN sizes nb ON id_b = nb.id)
        |  WHERE jaccard >= 0.5),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  WITH RECURSIVE r(id, label) AS (
        |    SELECT DISTINCT src, src FROM edges
        |    UNION
        |    SELECT e.dst, r.label FROM r JOIN edges e ON e.src = r.id)
        |  SELECT * FROM r),
        |comp AS (SELECT id, min(label) AS group_id FROM reach GROUP BY id),
        |base AS (
        |  SELECT d.doc_id, coalesce(c.group_id, d.doc_id) AS split_key
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
        |b AS (
        |  SELECT doc_id, split_key,
        |    CAST(CAST(concat('0x', substr(md5(CAST(split_key AS VARCHAR)), 1, 8))
        |      AS BIGINT) % 100 AS INT) AS split_bucket
        |  FROM base)
        |SELECT doc_id, split_key, split_bucket,
        |  CASE WHEN split_bucket < 90 THEN 'train' ELSE 'eval' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,
    "q_cur_pack_sequences" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    coalesce(len(list_filter(string_split_regex(text, '\s+'),
        |      x -> x <> '')), 0) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tok,
        |    coalesce(sum(n_tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum0
        |  FROM d)
        |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
        |  CAST(cum0 // 2048 AS BIGINT) AS pack_id,
        |  CAST(cum0 % 2048 AS BIGINT) AS pack_offset
        |FROM c ORDER BY doc_id""".stripMargin,
    "q_sim_bruteforce_topk" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 1),
        |s AS (SELECT vec_id, CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS x,
        |        generate_subscripts(embedding, 1) AS i
        |      FROM embeddings),
        |qs AS (SELECT CAST(round(CAST(unnest(qe) AS DOUBLE) * 1000) AS BIGINT) AS qx,
        |        generate_subscripts(qe, 1) AS i FROM q)
        |SELECT s.vec_id, CAST(sum(s.x * qs.qx) AS BIGINT) AS score
        |FROM s JOIN qs USING (i) WHERE s.vec_id <> 1
        |GROUP BY s.vec_id ORDER BY score DESC, vec_id ASC LIMIT 20""".stripMargin,
    // Margin mining replayed: quantized forward dots query-batch×odd
    // side, top-k + mass per query, backward dots candidates×even side,
    // top-k mass per candidate, then the integer ratio margin and the
    // per-query top-m — tie-breaks total everywhere, all BIGINT.
    // The INDEXED row shares this oracle outright (full-probe recall is
    // exact, so the persisted-index round trip must reproduce every
    // margin pair hash-exactly — the q_warc_file_ingest gate pattern).
    "q_ret_margin_mine_indexed" ->
      """WITH b AS MATERIALIZED (
        |  SELECT vec_id AS id, vec_id % 2 = 0 AS is_src,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS x,
        |    generate_subscripts(embedding, 1) AS i
        |  FROM embeddings WHERE len(embedding) > 0),
        |qd AS MATERIALIZED (
        |  SELECT q.id AS src_id, t.id AS tgt_id,
        |    CAST(sum(t.x * q.x) AS BIGINT) AS s
        |  FROM b t JOIN b q ON q.i = t.i
        |  WHERE q.id IN (2, 4, 6) AND q.is_src AND NOT t.is_src
        |  GROUP BY 1, 2),
        |fk AS MATERIALIZED (
        |  SELECT src_id, tgt_id, s FROM (
        |    SELECT src_id, tgt_id, s,
        |      row_number() OVER (PARTITION BY src_id
        |        ORDER BY s DESC, tgt_id ASC) AS r
        |    FROM qd) WHERE r <= 8),
        |fm AS (SELECT src_id, CAST(sum(s) AS BIGINT) AS fwd_mass
        |       FROM fk GROUP BY 1),
        |bd AS MATERIALIZED (
        |  SELECT c.id AS tgt_id, xx.id AS xs,
        |    CAST(sum(xx.x * c.x) AS BIGINT) AS s
        |  FROM b xx JOIN b c ON c.i = xx.i
        |  WHERE xx.is_src AND NOT c.is_src
        |    AND c.id IN (SELECT DISTINCT tgt_id FROM fk)
        |  GROUP BY 1, 2),
        |bm AS (
        |  SELECT tgt_id, CAST(sum(s) AS BIGINT) AS bwd_mass FROM (
        |    SELECT tgt_id, s,
        |      row_number() OVER (PARTITION BY tgt_id
        |        ORDER BY s DESC, xs ASC) AS r
        |    FROM bd) WHERE r <= 8 GROUP BY 1),
        |mg AS (
        |  SELECT f.src_id, f.tgt_id, f.s,
        |    CAST((16 * f.s * 1000) // (fm.fwd_mass + bm.bwd_mass)
        |      AS BIGINT) AS margin_scaled
        |  FROM fk f
        |  JOIN fm ON fm.src_id = f.src_id
        |  JOIN bm ON bm.tgt_id = f.tgt_id
        |  WHERE f.s >= 0 AND fm.fwd_mass + bm.bwd_mass > 0)
        |SELECT src_id, tgt_id, s AS score, margin_scaled,
        |  CAST(rank AS INT) AS rank
        |FROM (
        |  SELECT src_id, tgt_id, s, margin_scaled,
        |    row_number() OVER (PARTITION BY src_id
        |      ORDER BY margin_scaled DESC, tgt_id ASC) AS rank
        |  FROM mg)
        |WHERE rank <= 5 ORDER BY src_id, rank""".stripMargin,
    "q_ret_margin_mine" ->
      """WITH b AS MATERIALIZED (
        |  SELECT vec_id AS id, vec_id % 2 = 0 AS is_src,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS x,
        |    generate_subscripts(embedding, 1) AS i
        |  FROM embeddings WHERE len(embedding) > 0),
        |qd AS MATERIALIZED (
        |  SELECT q.id AS src_id, t.id AS tgt_id,
        |    CAST(sum(t.x * q.x) AS BIGINT) AS s
        |  FROM b t JOIN b q ON q.i = t.i
        |  WHERE q.id IN (2, 4, 6) AND q.is_src AND NOT t.is_src
        |  GROUP BY 1, 2),
        |fk AS MATERIALIZED (
        |  SELECT src_id, tgt_id, s FROM (
        |    SELECT src_id, tgt_id, s,
        |      row_number() OVER (PARTITION BY src_id
        |        ORDER BY s DESC, tgt_id ASC) AS r
        |    FROM qd) WHERE r <= 8),
        |fm AS (SELECT src_id, CAST(sum(s) AS BIGINT) AS fwd_mass
        |       FROM fk GROUP BY 1),
        |bd AS MATERIALIZED (
        |  SELECT c.id AS tgt_id, xx.id AS xs,
        |    CAST(sum(xx.x * c.x) AS BIGINT) AS s
        |  FROM b xx JOIN b c ON c.i = xx.i
        |  WHERE xx.is_src AND NOT c.is_src
        |    AND c.id IN (SELECT DISTINCT tgt_id FROM fk)
        |  GROUP BY 1, 2),
        |bm AS (
        |  SELECT tgt_id, CAST(sum(s) AS BIGINT) AS bwd_mass FROM (
        |    SELECT tgt_id, s,
        |      row_number() OVER (PARTITION BY tgt_id
        |        ORDER BY s DESC, xs ASC) AS r
        |    FROM bd) WHERE r <= 8 GROUP BY 1),
        |mg AS (
        |  SELECT f.src_id, f.tgt_id, f.s,
        |    CAST((16 * f.s * 1000) // (fm.fwd_mass + bm.bwd_mass)
        |      AS BIGINT) AS margin_scaled
        |  FROM fk f
        |  JOIN fm ON fm.src_id = f.src_id
        |  JOIN bm ON bm.tgt_id = f.tgt_id
        |  WHERE f.s >= 0 AND fm.fwd_mass + bm.bwd_mass > 0)
        |SELECT src_id, tgt_id, s AS score, margin_scaled,
        |  CAST(rank AS INT) AS rank
        |FROM (
        |  SELECT src_id, tgt_id, s, margin_scaled,
        |    row_number() OVER (PARTITION BY src_id
        |      ORDER BY margin_scaled DESC, tgt_id ASC) AS rank
        |  FROM mg)
        |WHERE rank <= 5 ORDER BY src_id, rank""".stripMargin,
    "q_sim_cosine_pairs" ->
      """WITH b AS (
        |  SELECT vec_id AS id, CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS x,
        |    generate_subscripts(embedding, 1) AS i
        |  FROM embeddings WHERE vec_id < 150),
        |norms AS (SELECT id, sum(x * x) AS nrm FROM b GROUP BY id),
        |dots AS (
        |  SELECT a.id AS id_a, c.id AS id_b, sum(a.x * c.x) AS d
        |  FROM b a JOIN b c ON a.i = c.i AND a.id < c.id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, cos FROM (
        |  SELECT id_a, id_b,
        |    CAST(d AS DOUBLE) / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))) AS cos
        |  FROM dots JOIN norms na ON id_a = na.id JOIN norms nb ON id_b = nb.id)
        |WHERE cos >= 0.30 ORDER BY id_a, id_b""".stripMargin,
    "q_sim_ivf_index_write" -> "SELECT count(*) AS n_rows FROM embeddings",
    "q_sim_ivf_append" ->
      """SELECT CAST(2 * count(*) AS BIGINT) AS n_rows,
        |  TRUE AS cells_consistent FROM embeddings""".stripMargin,
    // Truth side of the OPQ append gate (r14): same doubled-row-count
    // oracle; identical codes through the rotation+books sidecars is
    // the engine-side invariant.
    "q_sim_opq_append" ->
      """SELECT CAST(2 * count(*) AS BIGINT) AS n_rows,
        |  TRUE AS codes_consistent
        |FROM embeddings WHERE len(embedding) = 64""".stripMargin,
    // Truth side of the PQ append gate: the doubled row count is oracled;
    // the identical-codes boolean is the engine-side invariant.
    "q_sim_pq_append" ->
      """SELECT CAST(2 * count(*) AS BIGINT) AS n_rows,
        |  TRUE AS codes_consistent
        |FROM embeddings WHERE len(embedding) = 64""".stripMargin,
    "q_sim_recall_gate" ->
      """WITH b AS (
        |  SELECT vec_id AS id, CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS x,
        |    generate_subscripts(embedding, 1) AS i
        |  FROM embeddings WHERE vec_id < 500),
        |norms AS (SELECT id, sum(x * x) AS nrm FROM b GROUP BY id),
        |dots AS (
        |  SELECT a.id AS id_a, c.id AS id_b, sum(a.x * c.x) AS d
        |  FROM b a JOIN b c ON a.i = c.i AND a.id < c.id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT id_a, id_b,
        |    CAST(d AS DOUBLE) / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))) AS cos
        |  FROM dots JOIN norms na ON id_a = na.id JOIN norms nb ON id_b = nb.id)
        |SELECT count(*) AS n_truth_pairs, true AS ann_recall_ok, true AS ivf_recall_ok
        |FROM pairs WHERE cos >= 0.30""".stripMargin,
    "q_mm_asset_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  sha256(text) AS content_sha,
        |  string_split(CASE WHEN doc_id % 3 = 0 THEN 'image/png'
        |       WHEN doc_id % 3 = 1 THEN 'audio/wav'
        |       ELSE 'video/mp4' END, '/')[1] AS media_type
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_mm_decode_features" ->
      """SELECT doc_id,
        |  CAST(CAST(concat('0x', substr(md5(text || ':0'), 1, 8)) AS BIGINT)
        |    % 1000000 AS DOUBLE) / 1000000.0 AS f0
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_mm_png_decode" ->
      """SELECT doc_id, 1 + doc_id % 16 AS width, 1 + doc_id % 8 AS height,
        |  CAST(doc_id % 256 AS DOUBLE) AS mean_r,
        |  CAST((doc_id * 7) % 256 AS DOUBLE) AS mean_g
        |FROM documents ORDER BY doc_id""".stripMargin,
    // JPEG decode (r15): constructive-truth oracle — dimensions are
    // exact through the lossy codec, and the per-row class-recovery
    // booleans (near own class rep, far from every other) must be
    // TRUE for every document; the engine earns them through the real
    // encode → decode → aHash → hamming chain.
    "q_mm_jpeg_decode" ->
      """SELECT doc_id, CAST(16 AS BIGINT) AS width,
        |  CAST(8 AS BIGINT) AS height,
        |  true AS near_class_rep, true AS class_separated
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_mm_phash_groups" ->
      """SELECT doc_id, CAST(doc_id % 5 AS BIGINT) AS group_id
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_mm_dhash_groups" ->
      """SELECT doc_id, CAST(doc_id % 5 AS BIGINT) AS group_id
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_mm_dcthash_groups" ->
      """SELECT doc_id, CAST(doc_id % 5 AS BIGINT) AS group_id
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_mm_audiohash_groups" ->
      """SELECT doc_id, CAST(doc_id % 4 AS BIGINT) AS group_id
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_mm_resize_real" ->
      """SELECT doc_id, 2 * (1 + doc_id % 16) AS width,
        |  2 * (1 + doc_id % 8) AS height,
        |  CAST(doc_id % 256 AS DOUBLE) AS mean_r,
        |  CAST((doc_id * 7) % 256 AS DOUBLE) AS mean_g
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_mm_gif_decode" ->
      """SELECT doc_id, 2 + doc_id % 6 AS n_frames,
        |  1 + doc_id % 8 AS width, 1 + doc_id % 4 AS height,
        |  CAST(list_sum(list_transform(range(2 + doc_id % 6),
        |      f -> (doc_id * 13 + 17 * f) % 256)) AS DOUBLE)
        |    / (2 + doc_id % 6) AS mean_r,
        |  CAST(list_sum(list_transform(range(2 + doc_id % 6),
        |      f -> (doc_id * 29 + 31 * f) % 256)) AS DOUBLE)
        |    / (2 + doc_id % 6) AS mean_g
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_mm_wav_decode" ->
      """SELECT doc_id, CAST(8000 AS BIGINT) AS sample_rate,
        |  CAST(1 AS BIGINT) AS n_channels,
        |  8 + doc_id % 64 AS n_frames,
        |  CAST(8 + doc_id % 64 AS DOUBLE) / 8000.0 AS duration_sec,
        |  CAST(abs((doc_id * 37) % 20000 - 10000) AS DOUBLE) / 32768.0 AS rms
        |FROM documents ORDER BY doc_id""".stripMargin,
    // µ-law round trip replayed: the container survives (rate, frames,
    // duration unchanged) and the RMS is the G.711-QUANTIZED amplitude —
    // clip to 32635, add the 132 bias, take the segment exponent
    // (floor(log2) via threshold CASE), truncate to the 4-bit mantissa,
    // reconstruct ((mant·8 + 132)·2^exp − 132) — integer-exact on both
    // engines, then the constant-signal RMS is |amp_q|/32768 in IEEE
    // doubles (perfect-square mean, exact).
    "q_mm_mulaw_roundtrip" ->
      """WITH mu_m AS (
        |  SELECT doc_id, 8 + doc_id % 64 AS nf,
        |    least(abs((doc_id * 37) % 20000 - 10000), 32635) + 132 AS m
        |  FROM documents),
        |mu_e AS (
        |  SELECT doc_id, nf, m,
        |    CASE WHEN m >= 16384 THEN 7 WHEN m >= 8192 THEN 6
        |         WHEN m >= 4096 THEN 5 WHEN m >= 2048 THEN 4
        |         WHEN m >= 1024 THEN 3 WHEN m >= 512 THEN 2
        |         WHEN m >= 256 THEN 1 ELSE 0 END AS seg
        |  FROM mu_m),
        |mu_q AS (
        |  SELECT doc_id, nf,
        |    (((m // (1 << (seg + 3))) % 16) * 8 + 132) * (1 << seg) - 132
        |      AS mag
        |  FROM mu_e)
        |SELECT doc_id, CAST(8000 AS BIGINT) AS sample_rate,
        |  CAST(1 AS BIGINT) AS n_channels,
        |  nf AS n_frames,
        |  CAST(nf AS DOUBLE) / 8000.0 AS duration_sec,
        |  CAST(mag AS DOUBLE) / 32768.0 AS rms
        |FROM mu_q ORDER BY doc_id""".stripMargin,
    // Downsample round trip replayed: rate halves, frames become
    // ceil(n/2), duration follows the new rate, constant-signal RMS is
    // decimation-invariant.
    "q_mm_wav_downsample" ->
      """SELECT doc_id, CAST(4000 AS BIGINT) AS sample_rate,
        |  CAST(1 AS BIGINT) AS n_channels,
        |  (8 + doc_id % 64 + 1) // 2 AS n_frames,
        |  CAST((8 + doc_id % 64 + 1) // 2 AS DOUBLE) / 4000.0
        |    AS duration_sec,
        |  CAST(abs((doc_id * 37) % 20000 - 10000) AS DOUBLE) / 32768.0 AS rms
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_mm_resize" ->
      """SELECT doc_id,
        |  CAST(least(octet_length(encode(text)), 64) AS BIGINT) AS n_resized
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_mm_frame_counts" ->
      """SELECT doc_id,
        |  1 + CAST(greatest(octet_length(encode(text)) - 16, 0) // 8 AS INT) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_sql_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
        |    AS sum_disc_price
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1997-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    // Replays the z-score pipeline with the engine's exact float-op order:
    // decimal daily sums, decimal trailing sums (current day excluded via
    // RANGE ... 1 PRECEDING), then mean = s/n, var = s2/n - mean*mean,
    // std = sqrt(greatest(var, 0)). z is rounded to 6 decimals on both
    // sides: the s2 decimal's mantissa exceeds 2^53, and decimal→double
    // conversion of such values is engine-dependent (double rounding in
    // DuckDB) — one last-ulp z wobble surfaced at sf0.1.
    "q_ts_anomaly" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    sum(CAST(value AS DECIMAL(18,4))) AS q
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, day, q,
        |    count(*) OVER win AS n,
        |    CAST(sum(q) OVER win AS DOUBLE) AS s,
        |    CAST(sum(q * q) OVER win AS DOUBLE) AS s2
        |  FROM daily
        |  WINDOW win AS (PARTITION BY event_type
        |    ORDER BY date_diff('day', DATE '1970-01-01', day)
        |    RANGE BETWEEN 14 PRECEDING AND 1 PRECEDING)),
        |z AS (
        |  SELECT event_type, day, CAST(q AS DOUBLE) AS day_value,
        |    CAST(n AS BIGINT) AS n_prior,
        |    CASE WHEN n >= 5 AND sqrt(greatest(s2 / n - (s / n) * (s / n), 0.0)) > 0
        |      THEN (CAST(q AS DOUBLE) - s / n)
        |           / sqrt(greatest(s2 / n - (s / n) * (s / n), 0.0)) END AS z_score
        |  FROM w)
        |SELECT event_type, day, day_value, n_prior,
        |  round(z_score, 6) AS z_score,
        |  CASE WHEN z_score IS NOT NULL THEN abs(z_score) >= 2.0 END AS is_anomaly
        |FROM z ORDER BY event_type, day""".stripMargin,
    "q_ts_gapfill" ->
      """WITH d AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT user_id, min(day) AS lo, max(day) AS hi FROM d GROUP BY 1),
        |spine AS (
        |  SELECT b.user_id, CAST(u.day AS DATE) AS day
        |  FROM b, unnest(generate_series(b.lo, b.hi, INTERVAL 1 DAY)) AS u(day)),
        |j AS (
        |  SELECT s.user_id, s.day, d.sum_value
        |  FROM spine s LEFT JOIN d USING (user_id, day))
        |SELECT user_id, day,
        |  last_value(sum_value IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sum_value,
        |  sum_value IS NOT NULL AS is_observed
        |FROM j ORDER BY user_id, day""".stripMargin,
    "q_events_daily_window" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
        |  count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    "q_stream_daily_window" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
        |  count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    "q_stream_join_horizon" ->
      """SELECT c.event_id AS click_id, v.event_id AS view_id, c.user_id
        |FROM events c JOIN events v ON c.user_id = v.user_id
        |  AND c.event_type = 'click' AND v.event_type = 'view'
        |  AND v.ts BETWEEN c.ts - INTERVAL 30 MINUTE AND c.ts
        |ORDER BY click_id, view_id""".stripMargin
  )

  /** The `*_scored` probe rows load a model PERSISTED by the exact
    * training the SQL replays (model tables round-trip parquet
    * bit-exactly: integers, strings, DECIMAL(38,18), IEEE doubles), so
    * each probe shares its train-form's oracle verbatim — one SQL text,
    * two hash-checked rows (trained chain verify-only, loaded chain
    * benched).
    */
  /** One oracle body for the BM25 retrieval family: the scratch search,
    * the persisted-index probe, and the append gate are all contracted to
    * produce THIS result exactly (probe == scratch is the index-layout
    * invariant; the SQL replays the scratch derivation). Float contract:
    * the per-(doc,term) weight is one IEEE-double expression replayed
    * symbolically (the q_text_bm25 precedent — `(1.2 + 1)` etc. evaluate
    * to the identical doubles in both engines), and the per-(query,doc)
    * sum runs in DECIMAL(38,18) (the perplexity precedent), so addition
    * order cannot drift the hash.
    */
  /** The BM25 score replay, parameterized by an extra corpus predicate —
    * '' for the full corpus; the delete gate replays the SAME math over
    * `documents` minus the deleted range (late r17).
    */
  private def bm25OracleSqlOver(docPredicate: String): String =
    s"""WITH toks AS (
      |  SELECT doc_id AS id, t.term
      |  FROM documents, unnest(regexp_split_to_array(lower(text), '\\s+')) AS t(term)
      |  WHERE t.term <> ''$docPredicate
      |), tf AS (SELECT id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      |dl AS (SELECT id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
      |dfreq AS (SELECT term, count(*) AS dfreq FROM tf GROUP BY 1),
      |stats AS (SELECT count(*) AS n_docs,
      |  CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
      |queries(query_id, qtext) AS (VALUES
      |  (CAST(1 AS BIGINT), 'hash join table'),
      |  (CAST(2 AS BIGINT), 'window merge stream'),
      |  (CAST(3 AS BIGINT), 'zebra quantum')),
      |qterms AS (
      |  SELECT DISTINCT query_id, t.term
      |  FROM queries, unnest(regexp_split_to_array(lower(qtext), '\\s+')) AS t(term)
      |  WHERE t.term <> ''),
      |scored AS (
      |  SELECT q.query_id, tf.id,
      |    CAST(ln((n_docs - dfreq + 0.5) / (dfreq + 0.5) + 1.0)
      |      * (tf.tf * (1.2 + 1))
      |      / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))
      |      AS DECIMAL(38, 18)) AS w
      |  FROM qterms q JOIN tf USING (term) JOIN dl USING (id)
      |    JOIN dfreq USING (term) CROSS JOIN stats),
      |agg AS (
      |  SELECT query_id, id AS doc_id,
      |    round(CAST(sum(w) AS DOUBLE), 6) AS score
      |  FROM scored GROUP BY 1, 2)
      |SELECT * FROM (
      |  SELECT query_id, doc_id,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY score DESC, doc_id) AS INT) AS rank,
      |    score
      |  FROM agg)
      |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  private val bm25SearchOracleSql: String = bm25OracleSqlOver("")

  /** One oracle for the phrase family: scratch search and index probe are
    * contracted equal (the bm25 pair's ruling); every value is an exact
    * integer, so there is no float contract at all.
    */
  private val phraseSearchOracleSql: String =
    """WITH w AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS tk
      |  FROM documents),
      |toks AS (
      |  SELECT doc_id AS id, i - 1 AS pos, tk[i] AS term
      |  FROM w, unnest(range(1, len(tk) + 1)) AS r(i)),
      |queries(query_id, qtext) AS (VALUES
      |  (CAST(1 AS BIGINT), 'table hash'),
      |  (CAST(2 AS BIGINT), 'slow hash batch'),
      |  (CAST(3 AS BIGINT), 'zebra quantum leap')),
      |qw AS (
      |  SELECT query_id,
      |    list_filter(regexp_split_to_array(lower(qtext), '\s+'), x -> x <> '') AS tk
      |  FROM queries),
      |qterms AS (
      |  SELECT query_id, i - 1 AS qi, tk[i] AS term
      |  FROM qw, unnest(range(1, len(tk) + 1)) AS r(i)),
      |qn AS (SELECT query_id, count(*) AS qn FROM qterms GROUP BY 1),
      |anchors AS (
      |  SELECT q.query_id, t.id, t.pos - q.qi AS anchor, count(*) AS c
      |  FROM toks t JOIN qterms q USING (term)
      |  GROUP BY 1, 2, 3)
      |SELECT a.query_id, a.id AS doc_id, CAST(count(*) AS BIGINT) AS n_matches
      |FROM anchors a JOIN qn USING (query_id)
      |WHERE a.c = qn.qn
      |GROUP BY 1, 2
      |ORDER BY query_id, doc_id""".stripMargin

  def oracleSql: Map[String, String] = baseOracleSql ++ Map(
    "q_text_phrase_search" -> phraseSearchOracleSql,
    "q_text_phrase_probe" -> phraseSearchOracleSql,
    // Constructive-zero oracle for the PCA gate: the Spark side computes
    // real violation counts / invariant booleans; the oracle pins them at
    // zero/true with the row count recomputed from the fixture.
    "q_emb_pca_gate" ->
      """SELECT count(*) AS n_vectors, CAST(0 AS BIGINT) AS recon_violations,
        |  true AS ortho_ok, true AS order_ok, true AS var_ok
        |FROM embeddings WHERE len(embedding) = 64""".stripMargin,
    "q_emb_pca_ann_gate" ->
      """SELECT count(*) AS n_vectors, true AS var_ok, true AS recall_ok
        |FROM embeddings WHERE len(embedding) = 64""".stripMargin,
    "q_text_bm25_search" -> bm25SearchOracleSql,
    "q_text_bm25_probe" -> bm25SearchOracleSql,
    "q_text_bm25_append_gate" -> bm25SearchOracleSql,
    // r14: append + compact == single rebuild, same shared oracle
    "q_text_bm25_compact_gate" -> bm25SearchOracleSql,
    // late r17: the SAME score replay over the corpus minus the deleted
    // range — full-precision truth for the delete corrections
    "q_text_bm25_delete_gate" ->
      bm25OracleSqlOver(" AND NOT (doc_id >= 50 AND doc_id < 80)"),
    // Hybrid RRF: the bm25SearchOracleSql chain (lexical arm) + the
    // q_sim_bruteforce_topk quantized-dot contract (dense arm, multi-
    // query) + the fixed-point fusion arithmetic, replayed end-to-end.
    // The dense-arm CTEs (emb_s/dq/dd/den) are the shared
    // `denseArmCtes` constant — the eval oracle ranks the SAME arm, so
    // the replay cannot drift between the retrieval queries.
    "q_ret_hybrid_rrf" ->
      ("""WITH toks AS (
        |  SELECT doc_id AS id, t.term
        |  FROM documents, unnest(regexp_split_to_array(lower(text), '\s+')) AS t(term)
        |  WHERE t.term <> ''
        |), tf AS (SELECT id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dl AS (SELECT id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
        |dfreq AS (SELECT term, count(*) AS dfreq FROM tf GROUP BY 1),
        |stats AS (SELECT count(*) AS n_docs,
        |  CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
        |queries(query_id, qtext) AS (VALUES
        |  (CAST(1 AS BIGINT), 'hash join table'),
        |  (CAST(2 AS BIGINT), 'window merge stream'),
        |  (CAST(3 AS BIGINT), 'zebra quantum')),
        |qterms AS (
        |  SELECT DISTINCT query_id, t.term
        |  FROM queries, unnest(regexp_split_to_array(lower(qtext), '\s+')) AS t(term)
        |  WHERE t.term <> ''),
        |scored AS (
        |  SELECT q.query_id, tf.id,
        |    CAST(ln((n_docs - dfreq + 0.5) / (dfreq + 0.5) + 1.0)
        |      * (tf.tf * (1.2 + 1))
        |      / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))
        |      AS DECIMAL(38, 18)) AS w
        |  FROM qterms q JOIN tf USING (term) JOIN dl USING (id)
        |    JOIN dfreq USING (term) CROSS JOIN stats),
        |agg AS (
        |  SELECT query_id, id,
        |    round(CAST(sum(w) AS DOUBLE), 6) AS score
        |  FROM scored GROUP BY 1, 2),
        |lex AS (
        |  SELECT query_id, id, rank FROM (
        |    SELECT query_id, id,
        |      CAST(row_number() OVER (PARTITION BY query_id
        |        ORDER BY score DESC, id) AS INT) AS rank
        |    FROM agg)
        |  WHERE rank <= 10),
        |""".stripMargin + denseArmCtes +
      """,
        |u AS (SELECT query_id, id, rank FROM lex
        |  UNION ALL SELECT query_id, id, rank FROM den),
        |f AS (
        |  SELECT query_id, id,
        |    CAST(sum(CAST(round(1000000000000.0 / (60 + rank)) AS BIGINT)) AS BIGINT) AS rrf_scaled,
        |    CAST(count(*) AS INT) AS n_lists
        |  FROM u GROUP BY 1, 2)
        |SELECT query_id, rank, id, rrf_scaled, n_lists FROM (
        |  SELECT query_id,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY rrf_scaled DESC, id) AS INT) AS rank,
        |    id, rrf_scaled, n_lists
        |  FROM f)
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin),
    "q_ret_eval_metrics" -> evalMetricsOracleSql,
    // MMR: the greedy selection unrolled as one CTE trio per step over
    // the dense-arm top-8 (candidate pairwise dots in pd; maxsim via a
    // join to the previous step's selected set; argmax by (score desc,
    // id)) — all integer arithmetic, k = 4 steps, λ = 70/100.
    "q_ret_mmr_rerank" -> {
      val steps = (1 to 4).map { n =>
        s"""ms$n AS (
           |  SELECT c.query_id, c.id, max(p.s) AS ms
           |  FROM cands c
           |  JOIN sel${n - 1} t ON t.query_id = c.query_id
           |  JOIN pd p ON p.query_id = c.query_id AND p.ia = c.id
           |    AND p.ib = t.id
           |  GROUP BY 1, 2),
           |sc$n AS (
           |  SELECT c.query_id, c.id,
           |    70 * c.rel - 30 * coalesce(m.ms, 0) AS score
           |  FROM cands c LEFT JOIN ms$n m
           |    ON m.query_id = c.query_id AND m.id = c.id
           |  WHERE NOT EXISTS (SELECT 1 FROM sel${n - 1} t
           |    WHERE t.query_id = c.query_id AND t.id = c.id)),
           |pk$n AS (
           |  SELECT query_id, id, CAST(score AS BIGINT) AS mmr_scaled,
           |    $n AS pos FROM (
           |    SELECT query_id, id, score,
           |      row_number() OVER (PARTITION BY query_id
           |        ORDER BY score DESC, id) AS rk
           |    FROM sc$n) WHERE rk = 1),
           |sel$n AS (SELECT query_id, id FROM sel${n - 1}
           |  UNION ALL SELECT query_id, id FROM pk$n)""".stripMargin
      }.mkString(",\n")
      "WITH " + denseArmCtes + ",\n" +
        """cands AS (
          |  SELECT query_id, id, score AS rel FROM (
          |    SELECT query_id, id, score,
          |      row_number() OVER (PARTITION BY query_id
          |        ORDER BY score DESC, id) AS rk
          |    FROM dd) WHERE rk <= 8),
          |pd AS (
          |  SELECT ca.query_id, ca.id AS ia, cb.id AS ib,
          |    CAST(sum(ea.x * eb.x) AS BIGINT) AS s
          |  FROM cands ca
          |  JOIN cands cb ON cb.query_id = ca.query_id AND cb.id <> ca.id
          |  JOIN emb_s ea ON ea.vec_id = ca.id
          |  JOIN emb_s eb ON eb.vec_id = cb.id AND eb.i = ea.i
          |  GROUP BY 1, 2, 3),
          |sel0 AS (SELECT CAST(NULL AS BIGINT) AS query_id,
          |  CAST(NULL AS BIGINT) AS id WHERE 1 = 0),
          |""".stripMargin + steps + "\n" +
        """SELECT query_id, CAST(pos AS INT) AS pos, id, mmr_scaled
          |FROM (SELECT * FROM pk1 UNION ALL SELECT * FROM pk2
          |  UNION ALL SELECT * FROM pk3 UNION ALL SELECT * FROM pk4)
          |ORDER BY query_id, pos""".stripMargin
    },
    // Macro mean over the defined queries — count/sum skip the NULL
    // recall/ndcg of the judgment-free query, matching Spark agg
    // null-skipping; one division + round per mean on exact-in-double
    // integer sums.
    "q_ret_eval_macro" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_queries,
        |  CAST(round(CAST(sum(recall_scaled) AS DOUBLE)
        |    / count(recall_scaled)) AS BIGINT) AS mean_recall_scaled,
        |  CAST(round(CAST(sum(mrr_scaled) AS DOUBLE)
        |    / count(mrr_scaled)) AS BIGINT) AS mean_mrr_scaled,
        |  CAST(round(CAST(sum(ndcg_scaled) AS DOUBLE)
        |    / count(ndcg_scaled)) AS BIGINT) AS mean_ndcg_scaled
        |FROM ($evalMetricsOracleSql) m""".stripMargin,
    "q_web_links" ->
      (s"WITH $linkChainCtes\n" +
        """SELECT doc_id, url, link_idx, href, anchor_text, resolved
          |FROM rl ORDER BY doc_id, link_idx""".stripMargin),
    "q_web_pagerank" -> pageRankOracleSql(10),
    "q_web_pagerank_indexed" -> pageRankOracleSql(10),
    // the distributed twin shares the scratch oracle's CHAIN at its own
    // depth — bit-identical fixed-point by construction (r15; 3
    // iterations since r16, the fixture-scale fixed-overhead cut)
    "q_web_pagerank_dist" -> pageRankOracleSql(3),
    // r14: edge partials folded + same iteration count == scratch ranks
    "q_web_pagerank_compacted" -> pageRankOracleSql(10),
    // r16 (VERDICT r15 §next-4): the warm-start maintenance gate. Truth
    // side = the synthetic residue graph's weights (count per host pair
    // over ALL documents — the engine's even-write + odd-append partials
    // sum to exactly this) and 200 unrolled PageRank rounds, far past
    // the measured ~104–170-iteration convergence horizon, so pr200 IS
    // the fixpoint. Engine side hashes its fixed-budget 200-iteration
    // cold vector (bit-equal by the fixed-point construction) plus two
    // measured booleans pinned as literals: the warm-started converged
    // vector lands within 1024 fixed-point units (1e-9 of RankScale —
    // the tolerance-stop tail bound, measured single digits) and the
    // warm probe stopped before the fixed budget.
    "q_web_pagerank_warm_gate" -> (
      s"""WITH edges AS MATERIALIZED (
         |  SELECT 's' || CAST(doc_id % 7 AS VARCHAR) AS src_host,
         |    't' || CAST((doc_id * doc_id + 3) % 11 AS VARCHAR) AS dst_host,
         |    CAST(count(*) AS BIGINT) AS weight
         |  FROM documents GROUP BY 1, 2),
         |${pageRankCtes(200)}
         |SELECT host, CAST(rank AS BIGINT) AS rank_scaled,
         |  TRUE AS warm_in_band, TRUE AS warm_converged_early
         |FROM pr200 ORDER BY host""".stripMargin),
    // r14: HITS replayed round-for-round over the same link chain
    "q_web_hits" -> hitsOracleSql(8),
    // the distributed twin at its own depth (3 since r16)
    "q_web_hits_dist" -> hitsOracleSql(3),
    // Registered-domain replayed: the same host CASE, label split with
    // negative list indexing, the multi-label-suffix IN list generated
    // from the same Scala constant, lowercased suffix match.
    "q_web_registered_domain" -> {
      val suffixes = WebGraph.MultiLabelSuffixes
        .map(s0 => s"'$s0'").mkString(", ")
      s"""WITH hd AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 6 = 0
         |           THEN 'site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
         |         WHEN doc_id % 6 = 1
         |           THEN 'www.shop' || CAST(doc_id % 5 AS VARCHAR) || '.CO.UK'
         |         WHEN doc_id % 6 = 2
         |           THEN 'a.b.news' || CAST(doc_id % 3 AS VARCHAR) || '.com.au'
         |         WHEN doc_id % 6 = 3
         |           THEN 'example' || CAST(doc_id % 4 AS VARCHAR) || '.org'
         |         WHEN doc_id % 6 = 4
         |           THEN 'cdn' || CAST(doc_id % 5 AS VARCHAR) || '.img.example.co.jp'
         |         ELSE 'localhost' END AS host
         |  FROM documents),
         |hp AS (
         |  SELECT doc_id, host,
         |    lower(regexp_replace(host, '\\.$$', '')) AS h,
         |    string_split(lower(regexp_replace(host, '\\.$$', '')), '.')
         |      AS parts
         |  FROM hd)
         |SELECT doc_id, host,
         |  CASE WHEN len(parts) <= 2 THEN h
         |       WHEN parts[-2] || '.' || parts[-1] IN ($suffixes)
         |         THEN parts[-3] || '.' || parts[-2] || '.' || parts[-1]
         |       ELSE parts[-2] || '.' || parts[-1] END AS reg_domain
         |FROM hp ORDER BY doc_id""".stripMargin
    },
    // The full-PSL evaluation replayed: the SAME parsed rules as a
    // VALUES table, the same candidate forms (literal last-d suffix +
    // leftmost-label-wildcarded), the same exception-first /
    // longest-wins resolution, the same registrable slice (shared
    // pslCtes generator — the registrant-budget composition splices
    // the identical chain).
    "q_web_psl_domain" ->
      s"""WITH hd AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 12 = 0
         |           THEN 'www.site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
         |         WHEN doc_id % 12 = 1
         |           THEN 'shop' || CAST(doc_id % 5 AS VARCHAR) || '.example.CO.UK'
         |         WHEN doc_id % 12 = 2
         |           THEN 'user' || CAST(doc_id % 9 AS VARCHAR) || '.github.io'
         |         WHEN doc_id % 12 = 3
         |           THEN 'a.user' || CAST(doc_id % 9 AS VARCHAR) || '.github.io'
         |         WHEN doc_id % 12 = 4 THEN 'www.ck'
         |         WHEN doc_id % 12 = 5
         |           THEN 'shop' || CAST(doc_id % 3 AS VARCHAR) || '.www.ck'
         |         WHEN doc_id % 12 = 6
         |           THEN 'a' || CAST(doc_id % 4 AS VARCHAR) || '.b.ck'
         |         WHEN doc_id % 12 = 7
         |           THEN 'b' || CAST(doc_id % 4 AS VARCHAR) || '.ck'
         |         WHEN doc_id % 12 = 8 THEN 'city.kawasaki.jp'
         |         WHEN doc_id % 12 = 9
         |           THEN 'x' || CAST(doc_id % 6 AS VARCHAR) || '.town.kawasaki.jp'
         |         WHEN doc_id % 12 = 10
         |           THEN 'sub.example' || CAST(doc_id % 5 AS VARCHAR) || '.unlisted'
         |         ELSE 'www.example' || CAST(doc_id % 5 AS VARCHAR) || '.com.'
         |    END AS host
         |  FROM documents),
         |${pslCtes("hd", Seq("doc_id", "host"), "host")}
         |SELECT doc_id, host, reg_domain
         |FROM psl_reg ORDER BY doc_id""".stripMargin,
    // Mirror detection replayed: same fixture CASE, distinct (host, fp),
    // hot-fp exclusion, fp-keyed pair counts, full-size Jaccard.
    "q_web_mirrors" ->
      """WITH md AS (
        |  SELECT 'site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
        |      AS host,
        |    CASE WHEN doc_id % 13 = 0 THEN 'boilerplate footer page'
        |         ELSE 'content-' || CAST(doc_id // 2 AS VARCHAR) END AS text
        |  FROM documents),
        |fps AS MATERIALIZED (
        |  SELECT DISTINCT host, md5(coalesce(text, '')) AS fp FROM md),
        |sizes AS (SELECT host, CAST(count(*) AS BIGINT) AS n
        |          FROM fps GROUP BY 1),
        |hot AS (SELECT fp, count(*) AS c FROM fps GROUP BY 1),
        |el AS MATERIALIZED (
        |  SELECT f.host, f.fp FROM fps f JOIN hot ON hot.fp = f.fp
        |  WHERE hot.c BETWEEN 2 AND 6),
        |pr AS (
        |  SELECT a.host AS host_a, b.host AS host_b,
        |    CAST(count(*) AS BIGINT) AS shared
        |  FROM el a JOIN el b ON a.fp = b.fp AND a.host < b.host
        |  GROUP BY 1, 2)
        |SELECT host_a, host_b, shared, sa.n AS n_a, sb.n AS n_b,
        |  CAST((1000000 * shared) // (sa.n + sb.n - shared) AS BIGINT)
        |    AS jaccard_scaled
        |FROM pr
        |JOIN sizes sa ON sa.host = pr.host_a
        |JOIN sizes sb ON sb.host = pr.host_b
        |WHERE shared >= 2 ORDER BY host_a, host_b""".stripMargin,
    // Stream-appended index == batch-rebuilt graph: the summed partials
    // must reproduce the all-at-once edge counts exactly (r13).
    "q_stream_web_append_gate" ->
      (s"WITH $linkChainCtes\n" +
        """SELECT src_host, dst_host, weight
          |FROM edges ORDER BY src_host, dst_host""".stripMargin),
    // Hamilton apportionment over the PageRank weights, replayed
    // quota-for-quota: floor quotas, remainder rank (host-asc ties),
    // leftover distribution, per-host cap (r13).
    "q_web_crawl_budget" ->
      (s"WITH $linkChainCtes,\n${pageRankCtes(10)},\n" +
        """qa AS MATERIALIZED (SELECT host, rank AS w FROM pr10),
          |tot AS (SELECT CAST(sum(w) AS BIGINT) AS bw FROM qa),
          |fl AS MATERIALIZED (
          |  SELECT host, w, CAST((1000 * w) // bw AS BIGINT) AS fl,
          |    CAST((1000 * w) % bw AS BIGINT) AS rem
          |  FROM qa CROSS JOIN tot),
          |lo AS (SELECT CAST(1000 - sum(fl) AS BIGINT) AS l FROM fl),
          |rk AS (
          |  SELECT host, w, fl, rem,
          |    CAST(row_number() OVER (ORDER BY rem DESC, host ASC)
          |      AS BIGINT) AS r
          |  FROM fl)
          |SELECT host, w AS rank_scaled,
          |  CAST(fl + CASE WHEN r <= l THEN 1 ELSE 0 END AS BIGINT)
          |    AS budget_raw,
          |  least(CAST(fl + CASE WHEN r <= l THEN 1 ELSE 0 END AS BIGINT),
          |    400) AS budget
          |FROM rk CROSS JOIN lo ORDER BY host""".stripMargin),
    // Registrant-level budget replayed (r15): PageRank CTEs → the
    // shared PSL chain over pr10's hosts → group-by-registrant sum →
    // the SAME Hamilton apportionment keyed by reg_domain (ties
    // reg_domain-ascending, mirroring apportionBudget's key order).
    "q_web_budget_registrant" ->
      (s"WITH $linkChainCtes,\n${pageRankCtes(10)},\n" +
        s"""bqa AS MATERIALIZED (SELECT host, rank FROM pr10),
          |${pslCtes("bqa", Seq("host", "rank"), "host")},
          |bgr AS (
          |  SELECT reg_domain, CAST(sum(rank) AS BIGINT) AS w
          |  FROM psl_reg GROUP BY 1),
          |btot AS (SELECT CAST(sum(w) AS BIGINT) AS bw FROM bgr),
          |bfl AS MATERIALIZED (
          |  SELECT reg_domain, w, CAST((1000 * w) // bw AS BIGINT) AS fl,
          |    CAST((1000 * w) % bw AS BIGINT) AS rem
          |  FROM bgr CROSS JOIN btot),
          |blo AS (SELECT CAST(1000 - sum(fl) AS BIGINT) AS l FROM bfl),
          |brk AS (
          |  SELECT reg_domain, w, fl, rem,
          |    CAST(row_number() OVER (ORDER BY rem DESC, reg_domain ASC)
          |      AS BIGINT) AS r
          |  FROM bfl)
          |SELECT reg_domain, w AS rank_scaled,
          |  CAST(fl + CASE WHEN r <= l THEN 1 ELSE 0 END AS BIGINT)
          |    AS budget_raw,
          |  least(CAST(fl + CASE WHEN r <= l THEN 1 ELSE 0 END AS BIGINT),
          |    400) AS budget
          |FROM brk CROSS JOIN blo ORDER BY reg_domain""".stripMargin),
    "q_stream_web_links" ->
      (s"WITH $linkChainCtes\n" +
        """SELECT doc_id, url, link_idx, href, anchor_text, resolved
          |FROM rl ORDER BY doc_id, link_idx""".stripMargin),
    "q_web_robots_rules" ->
      (s"WITH $robotsParseCtes\n" +
        """SELECT host, CAST(line_idx AS INT) AS line_idx, group_id,
          |  directive, value
          |FROM gr ORDER BY host, line_idx""".stripMargin),
    "q_web_robots_allowed" -> robotsAllowedOracleSql,
    "q_web_sitemap" ->
      (s"WITH $sitemapParseCtes\n" +
        """SELECT host, CAST(entry_idx AS INT) AS entry_idx, kind, loc,
          |  lastmod_raw, lastmod_date, changefreq, priority
          |FROM sm_p ORDER BY host, entry_idx""".stripMargin),
    // Recrawl policy replayed: the changefreq→hours CASE generated from
    // the SAME Scala mapping, datediff·24 staleness, the never/unknown/
    // missing-lastmod branches all in the hash (r13; rc CTE shared with
    // the r14 crawl-plan splice so the policy cannot drift between the
    // two replays).
    "q_web_recrawl" ->
      s"""WITH $sitemapParseCtes,
         |$recrawlRcCte
         |SELECT host, CAST(entry_idx AS INT) AS entry_idx, loc, changefreq,
         |  lastmod_date, interval_hours, stale_hours,
         |  (lastmod_date IS NULL OR (interval_hours IS NOT NULL
         |    AND stale_hours >= interval_hours)) AS due
         |FROM rc ORDER BY host, entry_idx""".stripMargin,
    // The unified crawl plan replayed due→quota→slot (r14): the shared
    // recrawl rc CTE picks the due set, the link-chain + PageRank +
    // largest-remainder CTEs reproduce each host's quota, rb_cd the
    // politeness delay, and the final window ranks each host's due URLs
    // into slots with only the top-quota surviving. Every CTE family is
    // the one its standalone query already replays — the splice pins
    // the COMPOSITION.
    "q_web_crawl_plan" ->
      (s"WITH $linkChainCtes,\n${pageRankCtes(10)},\n" +
        s"$robotsParseCtes,\n$robotsEvalCtes,\n$sitemapParseCtes,\n" +
        s"$recrawlRcCte,\n" +
        """rdue AS (
          |  SELECT host, entry_idx, loc, priority FROM rc
          |  WHERE lastmod_date IS NULL OR (interval_hours IS NOT NULL
          |    AND stale_hours >= interval_hours)),
          |qa AS MATERIALIZED (SELECT host, rank AS w FROM pr10),
          |tot AS (SELECT CAST(sum(w) AS BIGINT) AS bw FROM qa),
          |fl AS MATERIALIZED (
          |  SELECT host, w, CAST((1000 * w) // bw AS BIGINT) AS fl,
          |    CAST((1000 * w) % bw AS BIGINT) AS rem
          |  FROM qa CROSS JOIN tot),
          |lo AS (SELECT CAST(1000 - sum(fl) AS BIGINT) AS l FROM fl),
          |rk AS (
          |  SELECT host, fl, rem,
          |    CAST(row_number() OVER (ORDER BY rem DESC, host ASC)
          |      AS BIGINT) AS r
          |  FROM fl),
          |bud AS (
          |  SELECT host,
          |    least(CAST(fl + CASE WHEN r <= l THEN 1 ELSE 0 END AS BIGINT),
          |      400) AS budget
          |  FROM rk CROSS JOIN lo),
          |pl AS (
          |  SELECT d.host, d.entry_idx, d.loc, d.priority, b.budget,
          |    coalesce(cd.crawl_delay_ms, 0) AS crawl_delay_ms,
          |    CAST(row_number() OVER (PARTITION BY d.host
          |      ORDER BY d.priority DESC NULLS LAST, d.entry_idx) AS INT)
          |      AS fetch_rank
          |  FROM rdue d JOIN bud b ON b.host = d.host
          |  LEFT JOIN rb_cd cd ON cd.host = d.host)
          |SELECT host, CAST(entry_idx AS INT) AS entry_idx, loc, priority,
          |  budget, crawl_delay_ms, fetch_rank,
          |  CAST((fetch_rank - 1) * crawl_delay_ms AS BIGINT)
          |    AS fetch_slot_ms
          |FROM pl WHERE fetch_rank <= budget
          |ORDER BY host, fetch_rank""".stripMargin),
    // Sitemap-discovered frontier: sitemap parse + robots rule selection
    // + longest-match eval + delay-aware scheduling, all four CTE
    // families spliced into one replay (r13). uu/bm from the robots eval
    // body go unused here (plain CTEs — never executed).
    "q_web_frontier_sitemap" ->
      (s"WITH $robotsParseCtes,\n$robotsEvalCtes,\n$sitemapParseCtes,\n" +
        s"""su AS (
          |  SELECT host, entry_idx, loc, priority,
          |    coalesce(nullif(regexp_replace(loc,
          |      '${WebGraph.UrlOriginRe}', ''), ''), '/')
          |      AS url_path
          |  FROM sm_p WHERE kind = 'url'),
          |sbm AS (
          |  SELECT host, entry_idx, rule_type FROM (
          |    SELECT u.host, u.entry_idx, r.rule_type,
          |      row_number() OVER (PARTITION BY u.host, u.entry_idx
          |        ORDER BY r.rlen DESC, r.rule_type ASC, r.value ASC) AS rk
          |    FROM su u JOIN rb_rl r ON r.host = u.host
          |    WHERE regexp_matches(u.url_path, r.re)) WHERE rk = 1),
          |sal AS (
          |  SELECT u.host, u.entry_idx, u.loc, u.url_path, u.priority
          |  FROM su u LEFT JOIN sbm b
          |    ON b.host = u.host AND b.entry_idx = u.entry_idx
          |  WHERE coalesce(b.rule_type = 'allow', TRUE)),
          |ssch AS (
          |  SELECT a.host, a.entry_idx, a.loc, a.url_path, a.priority,
          |    coalesce(cd.crawl_delay_ms, 0) AS crawl_delay_ms,
          |    CAST(row_number() OVER (PARTITION BY a.host
          |      ORDER BY a.priority DESC NULLS LAST, a.entry_idx) AS INT)
          |      AS fetch_rank
          |  FROM sal a LEFT JOIN rb_cd cd ON cd.host = a.host)
          |SELECT host, CAST(entry_idx AS INT) AS entry_idx, loc, url_path,
          |  priority, crawl_delay_ms, fetch_rank,
          |  CAST((fetch_rank - 1) * crawl_delay_ms AS BIGINT)
          |    AS fetch_slot_ms
          |FROM ssch ORDER BY host, fetch_rank""".stripMargin),
    // The composed frontier: robots parse+eval, link chain, PageRank
    // rounds — four CTE bodies spliced into ONE replay (hosts absent
    // from the graph — the isolated residue — rank 0).
    // Delay-aware fetch slots over the allowed frontier (r13): the
    // schedule arithmetic replayed — per-host row_number, (rank−1)×delay,
    // the exact-beats-star delay pick via rb_cd, default 0 where absent.
    "q_web_frontier_sched" ->
      (s"WITH $robotsParseCtes,\n$robotsEvalCtes,\n" +
        """sched AS (
          |  SELECT u.doc_id, u.host, u.url_path,
          |    coalesce(cd.crawl_delay_ms, 0) AS crawl_delay_ms,
          |    CAST(row_number() OVER (PARTITION BY u.host
          |      ORDER BY u.doc_id) AS INT) AS fetch_rank
          |  FROM uu u
          |  LEFT JOIN bm b ON b.doc_id = u.doc_id
          |  LEFT JOIN rb_cd cd ON cd.host = u.host
          |  WHERE coalesce(b.rule_type = 'allow', TRUE))
          |SELECT doc_id, host, url_path, crawl_delay_ms, fetch_rank,
          |  CAST((fetch_rank - 1) * crawl_delay_ms AS BIGINT)
          |    AS fetch_slot_ms
          |FROM sched ORDER BY doc_id""".stripMargin),
    "q_web_frontier" ->
      (s"WITH $robotsParseCtes,\n$robotsEvalCtes,\n$linkChainCtes,\n" +
        s"${pageRankCtes(10)}\n" +
        """SELECT doc_id, host, url_path, rank_scaled, crawl_delay_ms,
          |  fetch_rank,
          |  CAST((fetch_rank - 1) * crawl_delay_ms AS BIGINT)
          |    AS fetch_slot_ms
          |FROM (
          |  SELECT u.doc_id, u.host, u.url_path,
          |    coalesce(p.rank, 0) AS rank_scaled,
          |    coalesce(cd.crawl_delay_ms, 0) AS crawl_delay_ms,
          |    CAST(row_number() OVER (PARTITION BY u.host
          |      ORDER BY coalesce(p.rank, 0) DESC, u.doc_id) AS INT)
          |      AS fetch_rank
          |  FROM uu u
          |  LEFT JOIN bm b ON b.doc_id = u.doc_id
          |  LEFT JOIN pr10 p ON p.host = u.host
          |  LEFT JOIN rb_cd cd ON cd.host = u.host
          |  WHERE coalesce(b.rule_type = 'allow', TRUE))
          |ORDER BY rank_scaled DESC, doc_id LIMIT 100""".stripMargin),
    // Sentence chain replayed from the SAME Scala constants: abbrev
    // protect (dots -> chr(1)), boundary mark (chr(2), \1\2 is RE2's
    // $1$2), split, restore, trim, drop empties.
    "q_text_sentences" -> {
      val protect = TextAnalysis.SentenceAbbrevs.foldLeft("txt") {
        (acc, a) =>
          val repl = a.split("\\.", -1).map(p => s"'$p'")
            .mkString(" || chr(1) || ")
          s"replace($acc, '$a', $repl)"
      }
      val bre = TextAnalysis.SentenceBoundaryRe.replace("'", "''")
      s"""WITH t0 AS (
         |  SELECT doc_id,
         |    'Dr. Smith read doc ' || CAST(doc_id AS VARCHAR) ||
         |    '. It was e.g. quite long! Case ' ||
         |    CAST(doc_id % 5 AS VARCHAR) || ' came up? Yes. ' ||
         |    substring(coalesce(text, ''), 1, 60) AS txt
         |  FROM documents),
         |mk AS (
         |  SELECT doc_id, string_split(regexp_replace($protect,
         |    '$bre', '\\1' || chr(2) || '\\2', 'g'), chr(2)) AS segs
         |  FROM t0),
         |ss AS (
         |  SELECT doc_id, list_filter(list_transform(segs,
         |    s -> trim(replace(s, chr(1), '.'))), s -> s <> '') AS sents
         |  FROM mk),
         |ex AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(sents) + 1),
         |    i -> {'i': i, 's': sents[i]})) AS u
         |  FROM ss)
         |SELECT doc_id, CAST(u.i - 1 AS INT) AS sent_idx, u.s AS sentence,
         |  CAST(len(list_filter(regexp_split_to_array(u.s, '\\s+'),
         |    x -> x <> '')) AS INT) AS n_words
         |FROM ex ORDER BY doc_id, sent_idx""".stripMargin
    },
    "q_web_anchor_text" ->
      (s"WITH $linkChainCtes,\n" +
        """pa AS (
          |  SELECT dst_host, anchor_text, CAST(count(*) AS BIGINT) AS cnt
          |  FROM hosts
          |  WHERE src_host <> '' AND dst_host <> ''
          |    AND src_host <> dst_host AND anchor_text <> ''
          |  GROUP BY 1, 2),
          |tp AS (
          |  SELECT dst_host, anchor_text, cnt FROM (
          |    SELECT dst_host, anchor_text, cnt,
          |      row_number() OVER (PARTITION BY dst_host
          |        ORDER BY cnt DESC, anchor_text) AS rk
          |    FROM pa) WHERE rk <= 64)
          |SELECT t.dst_host, tot.n_inbound,
          |  string_agg(t.anchor_text, ' | '
          |    ORDER BY t.cnt DESC, t.anchor_text) AS anchor_texts
          |FROM tp t JOIN (
          |  SELECT dst_host, CAST(sum(cnt) AS BIGINT) AS n_inbound
          |  FROM pa GROUP BY 1) tot USING (dst_host)
          |GROUP BY 1, 2 ORDER BY t.dst_host""".stripMargin),
    "q_text_rouge2" ->
      (s"WITH ${metricPairCtes(Seq(2))},\n" +
        """tots AS (
          |  SELECT doc_id,
          |    CAST(greatest(len(ct) - 1, 0) AS BIGINT) AS nc,
          |    CAST(greatest(len(rt) - 1, 0) AS BIGINT) AS nr
          |  FROM tok)
          |SELECT t.doc_id,
          |  coalesce(m2.m, 0) AS match_ngrams,
          |  nc AS cand_ngrams, nr AS ref_ngrams,
          |  CASE WHEN nc > 0 THEN CAST(round(1000000000000.0 *
          |    (CAST(coalesce(m2.m, 0) AS DOUBLE) / CAST(nc AS DOUBLE)))
          |    AS BIGINT) END AS rouge_p_scaled,
          |  CASE WHEN nr > 0 THEN CAST(round(1000000000000.0 *
          |    (CAST(coalesce(m2.m, 0) AS DOUBLE) / CAST(nr AS DOUBLE)))
          |    AS BIGINT) END AS rouge_r_scaled,
          |  CASE WHEN nc + nr > 0 THEN CAST(round(1000000000000.0 *
          |    (CAST(coalesce(m2.m, 0) * 2 AS DOUBLE)
          |      / CAST(nc + nr AS DOUBLE))) AS BIGINT) END AS rouge_f1_scaled
          |FROM tots t LEFT JOIN m2 ON m2.doc_id = t.doc_id
          |ORDER BY t.doc_id""".stripMargin),
    "q_text_bleu" -> {
      val lens = (1 to 4).map(n =>
        s"""    CAST(sum(coalesce(m$n.m, 0)) AS BIGINT) AS mm$n,
           |    CAST(sum(greatest(len(ct) - ${n - 1}, 0)) AS BIGINT) AS cc$n""".stripMargin)
        .mkString(",\n")
      val joins = (1 to 4).map(n =>
        s"LEFT JOIN m$n ON m$n.doc_id = tok.doc_id").mkString(" ")
      val pns = (1 to 4).map(n =>
        s"""  CASE WHEN cc$n > 0 THEN CAST(round(1000000000000.0 *
           |    (CAST(mm$n AS DOUBLE) / CAST(cc$n AS DOUBLE))) AS BIGINT)
           |    END AS p${n}_scaled""".stripMargin).mkString(",\n")
      val logSum = (1 to 4).map(n =>
        s"ln(CAST(mm$n AS DOUBLE) / CAST(cc$n AS DOUBLE))").mkString(" + ")
      val allPos = (1 to 4).map(n => s"mm$n > 0 AND cc$n > 0")
        .mkString(" AND ")
      s"WITH ${metricPairCtes(1 to 4)},\n" +
        s"""s AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           |    CAST(sum(len(ct)) AS BIGINT) AS cand_len,
           |    CAST(sum(len(rt)) AS BIGINT) AS ref_len,
           |$lens
           |  FROM tok $joins)
           |SELECT n_pairs, cand_len, ref_len,
           |$pns,
           |  CASE WHEN cand_len > 0 AND $allPos THEN
           |    round((CASE WHEN cand_len >= ref_len THEN 1.0
           |        ELSE exp(1.0 - CAST(ref_len AS DOUBLE)
           |          / CAST(cand_len AS DOUBLE)) END)
           |      * exp(($logSum) / 4), 6)
           |    ELSE 0.0 END AS bleu_r6
           |FROM s""".stripMargin
    },
    "q_text_nb_margin_scored" -> baseOracleSql("q_text_nb_margin"),
    "q_text_langid_scored" -> baseOracleSql("q_text_langid_ct"),
    "q_cur_dsir_scored" -> baseOracleSql("q_cur_dsir_sample"),
    // The rolling-fingerprint twin's fingerprints are engine-internal —
    // its OUTPUT is the md5 form's exactly (122-bit keys: collision
    // probability ~1e-28 at sf0.01 window counts), so it shares the
    // replayed-chain oracle outright instead of settling for rows-only.
    "q_dedup_substring_fast" -> baseOracleSql("q_dedup_substring"))
}
