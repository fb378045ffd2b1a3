package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis operators for corpus pipelines (SURVEY.md §2.10): token
  * counting, quality scoring, language ID, winnowing fingerprints. All
  * pure column expressions (split / regexp / higher-order functions) —
  * one narrow map over the corpus, no shuffle, no UDFs.
  */
object Text {

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column = size(split(trim(text), "\\s+"))

  /** BPE-ish token count: letter runs, digit runs, single punctuation —
    * the standard pre-tokenizer shape.
    */
  val bpeishPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(bpeishPattern), lit(0)))

  // ------------------------------------------------------------ quality

  private val stopwords = Seq(
    "the", "and", "of", "to", "in", "is", "that", "it", "was", "for", "a", "on")

  def stopwordCount(text: Column): Column =
    graft.functions.FunctionDefs.call("stopword_count",
      split(text, " "), typedlit(stopwords))

  /** Composite quality score in [0,1] as a standalone column (rounded
    * 4dp — the same value [[quality]] emits), for threshold filters that
    * must agree bit-for-bit with an external oracle.
    */
  def qualityScore(t: Column): Column = {
    // Native one-byte-pass counts (GeomImpl.alnumSpaceCount /
    // spaceTokenCount) — exact integer twins of size(split(t, " ")) and
    // length(regexp_replace(t, "[^A-Za-z0-9 ]", "")), so every SQL
    // oracle keeps the regex spelling while the engine path skips the
    // regex engine and the per-row replacement-string allocation
    // (measured ~3× on the tx_threshold scoring scan at sf10).
    val nWords = graft.functions.FunctionDefs.call("space_token_count", t)
    val alnumR = graft.functions.FunctionDefs.call("alnum_space_count", t) *
      lit(1.0) / length(t)
    round(least(nWords * lit(1.0) / 50.0, lit(1.0)) * alnumR, 4)
  }

  /** Heuristic quality facets + a composite score in [0,1]; the formulas
    * are plain arithmetic so an external oracle can recompute them.
    */
  def quality(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    // native exact-integer twins — see qualityScore
    val nWords = graft.functions.FunctionDefs.call("space_token_count", t)
    val nChars = length(t)
    val stopR = stopwordCount(t) * lit(1.0) / nWords
    val alnumR = graft.functions.FunctionDefs.call("alnum_space_count", t) *
      lit(1.0) / nChars
    df.select(
      col(idCol),
      nChars.as("n_chars"),
      nWords.as("n_words"),
      // word characters / tokens — the same corrected mean-word-length
      // gopherFacets uses (r14: the old (nChars−nWords+1)/nWords
      // shortcut counted newlines and multi-space runs as word chars;
      // one facet name, one definition)
      round(length(replace(replace(t, lit("\n"), lit("")), lit(" "), lit("")))
        * lit(1.0) / nWords, 4).as("avg_word_len"),
      round(stopR, 4).as("stop_ratio"),
      round(alnumR, 4).as("alnum_ratio"),
      qualityScore(t).as("quality"))
  }

  /** Duplicated-n-gram fraction as a standalone column (rounded 4dp —
    * the same value [[repetition]] emits as `dup_<n>gram_frac`), for
    * oracle-exact threshold filters.
    */
  def dupNgramFrac(t: Column, n: Int = 3): Column = {
    val r = graft.functions.FunctionDefs.call("repetition_stats", split(t, " "), lit(n))
    round(when(r.getItem(4) === 0, lit(0.0))
      .otherwise(r.getItem(3) * lit(1.0) / r.getItem(4)), 4)
  }

  /** Duplicated-word fraction (1 − distinct/total, rounded 4dp — the
    * same value [[repetition]] emits as `dup_word_frac`).
    */
  def dupWordFrac(t: Column): Column = {
    val r = graft.functions.FunctionDefs.call("repetition_stats", split(t, " "), lit(2))
    round((r.getItem(2) - r.getItem(1)) * lit(1.0) / r.getItem(2), 4)
  }

  /** Gopher-style repetition signals (Rae et al. 2021, appendix A —
    * public): documents dominated by a single word, by repeated words,
    * or by repeated n-grams are low-quality training data. Emits
    * `top_word_frac` (most frequent word / total words), `dup_word_frac`
    * (1 − distinct/total) and `dup_<n>gram_frac` (word positions covered
    * by an n-gram occurring more than once / total n-grams). One native
    * single-pass expression per row ([[graft.functions.FunctionDefs]]
    * `repetition_stats`) — scan-side, no explode, no shuffle.
    */
  def repetition(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    df.withColumn("__r",
        graft.functions.FunctionDefs.call("repetition_stats", split(col(textCol), " "), lit(n)))
      .select(
        col(idCol),
        col("__r").getItem(2).as("n_words"),
        round(col("__r").getItem(0) * lit(1.0) / col("__r").getItem(2), 4).as("top_word_frac"),
        round((col("__r").getItem(2) - col("__r").getItem(1)) * lit(1.0) / col("__r").getItem(2), 4)
          .as("dup_word_frac"),
        round(when(col("__r").getItem(4) === 0, lit(0.0))
          .otherwise(col("__r").getItem(3) * lit(1.0) / col("__r").getItem(4)), 4)
          .as(s"dup_${n}gram_frac"))

  /** Gopher document-shape rules (Rae et al. 2021 appendix A — the
    * public rule family that complements [[repetition]]'s duplication
    * signals and [[quality]]'s composite score): per-document facets
    * plus a composite `gopher_pass` flag at the published defaults.
    * Facets (fractions rounded 4dp; the pass flag is computed on the
    * ROUNDED values so threshold decisions agree bit-for-bit with an
    * external SQL replay):
    *  - n_words — the [[quality]] spelling (space-split token count);
    *  - avg_word_len — word characters (chars that are neither the
    *    space separator nor the line delim) / n_words, the paper's
    *    mean-word-length (r13 ADVICE: the old (nChars−nWords+1)/nWords
    *    shortcut counted newlines and multi-space runs as word chars,
    *    drifting near the 3.0/10.0 thresholds on multi-line docs);
    *  - symbol_ratio — ('#' chars + '…' chars) / n_words, counted via
    *    non-regex replace so both engines count identically;
    *  - bullet_line_frac — lines whose ltrim starts with • ‣ - or *;
    *  - ellipsis_line_frac — lines whose rtrim ends with "..." or "…";
    *  - alpha_word_frac — words containing ≥1 ASCII letter / n_words
    *    (native one-byte-pass letter_count per token, NOT a per-word
    *    regex — the measured hot-path rule);
    *  - gopher_pass — n_words ∈ [minWords, maxWords], avg_word_len ∈
    *    [minAvgWord, maxAvgWord], symbol_ratio ≤ maxSymbolRatio,
    *    bullet ≤ maxBulletFrac, ellipsis ≤ maxEllipsisFrac,
    *    alpha ≥ minAlphaFrac (the paper's remove-thresholds).
    * Pure scan-side codegen chain — the word and line splits bind ONCE
    * in a projection (HOF lambda bodies get no subexpression
    * elimination), no shuffle; the 100 TB cost is one read of the
    * column.
    */
  /** The six rounded facet columns, from already-bound text/word/line
    * columns — shared by [[gopherRules]] (projection-bound splits) and
    * [[gopherPass]] (inline splits; top-level duplicates are collapsed
    * by codegen subexpression elimination — only HOF LAMBDA bodies lack
    * it, and the lambdas here each use their array exactly once).
    */
  private def gopherFacets(t: Column, ws: Column, ls: Column, delim: String)
      : (Column, Column, Column, Column, Column, Column) = {
    import graft.functions.FunctionDefs.call
    val nWords = size(ws)
    val nLines = size(ls)
    val nChars = length(t)
    // word characters: strip the line delim first (it may contain a
    // space), then the space separator — what remains is exactly the
    // tokens' own characters, so awl is the true mean word length.
    val wordChars = length(replace(replace(t, lit(delim), lit("")), lit(" "), lit("")))
    val symbols =
      (nChars - length(replace(t, lit("#"), lit("")))) +
        (nChars - length(replace(t, lit("…"), lit(""))))
    val bullets = size(filter(ls,
      l => substring(ltrim(l), 1, 1).isin("•", "‣", "-", "*")))
    val ellipses = size(filter(ls,
      l => endswith(rtrim(l), lit("...")) || endswith(rtrim(l), lit("…"))))
    val alphaWords = size(filter(ws, w => call("letter_count", w) > 0))
    (nWords,
      round(wordChars * lit(1.0) / nWords, 4),
      round(symbols * lit(1.0) / nWords, 4),
      round(bullets * lit(1.0) / nLines, 4),
      round(ellipses * lit(1.0) / nLines, 4),
      round(alphaWords * lit(1.0) / nWords, 4))
  }

  def gopherRules(df: DataFrame, idCol: String, textCol: String,
                  delim: String = "\n",
                  minWords: Int = 50, maxWords: Int = 100000,
                  minAvgWord: Double = 3.0, maxAvgWord: Double = 10.0,
                  maxSymbolRatio: Double = 0.1,
                  maxBulletFrac: Double = 0.9,
                  maxEllipsisFrac: Double = 0.3,
                  minAlphaFrac: Double = 0.8): DataFrame = {
    val q = java.util.regex.Pattern.quote(delim)
    val bound = df.select(col(idCol), col(textCol).as("__t"),
      split(col(textCol), " ").as("__ws"),
      split(col(textCol), q).as("__ls"))
    val (nWords, awl, sym, bull, ell, alpha) =
      gopherFacets(col("__t"), col("__ws"), col("__ls"), delim)
    bound.select(
        col(idCol),
        nWords.as("n_words"),
        awl.as("avg_word_len"),
        sym.as("symbol_ratio"),
        bull.as("bullet_line_frac"),
        ell.as("ellipsis_line_frac"),
        alpha.as("alpha_word_frac"))
      .withColumn("gopher_pass",
        col("n_words") >= minWords && col("n_words") <= maxWords &&
          col("avg_word_len") >= minAvgWord && col("avg_word_len") <= maxAvgWord &&
          col("symbol_ratio") <= maxSymbolRatio &&
          col("bullet_line_frac") <= maxBulletFrac &&
          col("ellipsis_line_frac") <= maxEllipsisFrac &&
          col("alpha_word_frac") >= minAlphaFrac)
  }

  /** [[gopherRules]]' pass flag as ONE composable Column — the fused
    * single-scan spelling for pipelines that combine several filters
    * over the same text read (evaluate it in a PROJECTION — e.g.
    * withColumn then filter — so codegen subexpression elimination
    * collapses the repeated splits; identical rounded-facet semantics
    * to the DataFrame form by construction, same thresholds).
    */
  def gopherPass(text: Column, delim: String = "\n",
                 minWords: Int = 50, maxWords: Int = 100000,
                 minAvgWord: Double = 3.0, maxAvgWord: Double = 10.0,
                 maxSymbolRatio: Double = 0.1,
                 maxBulletFrac: Double = 0.9,
                 maxEllipsisFrac: Double = 0.3,
                 minAlphaFrac: Double = 0.8): Column = {
    val q = java.util.regex.Pattern.quote(delim)
    val (nWords, awl, sym, bull, ell, alpha) =
      gopherFacets(text, split(text, " "), split(text, q), delim)
    nWords >= minWords && nWords <= maxWords &&
      awl >= minAvgWord && awl <= maxAvgWord &&
      sym <= maxSymbolRatio && bull <= maxBulletFrac &&
      ell <= maxEllipsisFrac && alpha >= minAlphaFrac
  }

  /** Content term-blocklist filter — the C4 curation step that drops a
    * page containing ANY term of a banned-word list (Raffel et al.
    * 2020's "Dirty/Naughty" list step; [[blocklistFlag]] is the
    * HOST-level sibling). Tokens are lowercase alnum runs (the langid
    * tokenization family); `n_hits` counts matching token OCCURRENCES
    * and `blocked` = any hit. The term set travels as a plan literal
    * into the native membership count (`stopword_count` — a linear
    * probe per token, right for the 1-10k-term production lists; a
    * list big enough to need a hash would move to the
    * [[blocklistFlagJoin]] broadcast shape). Scan-side, no shuffle.
    */
  def termBlocklistFlag(df: DataFrame, idCol: String, textCol: String,
                        terms: Seq[String]): DataFrame =
    df.select(col(idCol),
        termHits(col(textCol), terms).as("n_hits"))
      .withColumn("blocked", col("n_hits") > 0)

  /** Matching-token-occurrence count as a composable Column (the
    * [[termBlocklistFlag]] core; `termBlocked` = hits > 0) — for the
    * fused single-scan pipeline spelling.
    */
  def termHits(text: Column, terms: Seq[String]): Column = {
    require(terms.nonEmpty, "termBlocklistFlag: empty term list")
    val norm = terms.map(_.toLowerCase)
    graft.functions.FunctionDefs.call("stopword_count",
      split(lower(text), "[^a-z0-9]+"), typedlit(norm))
  }

  /** Any-banned-term flag as a Column. */
  def termBlocked(text: Column, terms: Seq[String]): Column =
    termHits(text, terms) > 0

  // ---------------------------------------------------------- language

  /** Stopword profiles for the language-ID heuristic (top function words
    * per language — public linguistic common knowledge). Order matters:
    * ties resolve to the EARLIER profile, so the r13 additions sit after
    * the original four (existing corpora keep their labels unless a new
    * profile strictly out-hits). Words are chosen to avoid the top
    * function words of earlier profiles where the languages share
    * cognates (pt avoids es's "de"/"que"; nl avoids de's "van" is its
    * own, etc.) — overlap only costs a stray hit, never the argmax,
    * because each profile's own ten dominate its language's text.
    */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "was", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "por", "con", "los"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein", "nicht", "mit", "den", "von"),
    "fr" -> Seq("le", "les", "et", "des", "une", "est", "dans", "pour", "qui", "pas"),
    // r13 breadth (verdict task 7): the next most common crawl languages
    // writable in the Latin-1/Latin-2 letters the tokenizer admits
    "it" -> Seq("il", "di", "che", "non", "per", "una", "sono", "del", "gli", "anche"),
    "pt" -> Seq("não", "uma", "para", "com", "mais", "como", "mas", "dos", "ele", "isso"),
    "nl" -> Seq("het", "een", "van", "dat", "niet", "aan", "met", "voor", "zijn", "maar"),
    "sv" -> Seq("och", "att", "det", "som", "på", "är", "av", "för", "med", "inte"),
    "da" -> Seq("og", "at", "til", "er", "ikke", "jeg", "han", "hun", "den", "har"),
    "pl" -> Seq("nie", "jest", "jak", "ale", "czy", "dla", "tak", "ten", "przez", "oraz"),
    "id" -> Seq("yang", "dan", "itu", "dengan", "untuk", "tidak", "ini", "dari", "akan", "pada"),
    "tr" -> Seq("bir", "ve", "bu", "için", "ile", "olarak", "çok", "daha", "gibi", "ama"))

  /** The tokenizer's letter class — ONE constant shared by [[langId]]
    * and the SQL oracles (the two spellings drifted apart would be a
    * silent hash mismatch; r13 made it a named value when the class
    * grew ã/å/ç/à/è/ì/ò/ù for the new profiles). Lowercase-only: the
    * split runs on lower(text).
    */
  val langTokenClass: String = "a-záéíóúüñäößãåçàèìòù"

  /** Argmax language by stopword hit count over lowercase tokens; ties
    * resolve in profile order; zero hits → "und" (undetermined).
    * Native single-pass expression (graft.functions.GeomImpl.langIdNative)
    * — profiles travel as plan literals, the text is tokenized once.
    */
  def langId(text: Column): Column =
    graft.functions.FunctionDefs.call("lang_id",
      split(lower(text), s"[^$langTokenClass]+"),
      typedlit(langProfiles.map(_._1)),
      typedlit(langProfiles.map(_._2)))

  // ------------------------------------------------- script-aware langid

  /** Non-Latin stopword profiles, one family per script the router can
    * land on (the [[langProfiles]] discipline: top function words,
    * public linguistic knowledge; ties resolve to the earlier profile,
    * and each language's own ten dominate its text even where script
    * siblings share words — ru/bg share и/в/не/на, but bg's да/се/е/за
    * out-hit them on Bulgarian text).
    */
  val cyrillicProfiles: Seq[(String, Seq[String])] = Seq(
    "ru" -> Seq("и", "в", "не", "на", "что", "он", "как", "это", "был", "его"),
    "uk" -> Seq("і", "в", "не", "на", "що", "це", "як", "до", "за", "але"),
    "bg" -> Seq("и", "в", "не", "на", "да", "се", "е", "за", "това", "той"))
  val arabicProfiles: Seq[(String, Seq[String])] = Seq(
    "ar" -> Seq("في", "من", "على", "أن", "إلى", "عن", "مع", "هذا", "كان", "لا"),
    "fa" -> Seq("در", "به", "از", "که", "این", "را", "با", "برای", "است", "آن"))
  val devanagariProfiles: Seq[(String, Seq[String])] = Seq(
    "hi" -> Seq("के", "में", "की", "है", "और", "से", "का", "पर", "यह", "को"))

  /** Per-script tokenizer letter classes (the [[langTokenClass]]
    * discipline — one constant per script shared by the Column form and
    * the oracle generator). Lowercase where the script has case; the
    * split runs on lower(text).
    */
  val cyrillicTokenClass: String = "а-яёіїєґў"
  val arabicTokenClass: String = "؀-ۿݐ-ݿ"
  val devanagariTokenClass: String = "ऀ-ॿ"

  /** Script-aware language ID (r13 verdict task 2 — the old [[langId]]
    * admits only Latin letters, so half the web tokenized to nothing
    * and returned "und"): one native codepoint pass
    * ([[graft.functions.GeomImpl.scriptCounts]]) histograms the text by
    * Unicode script, the DOMINANT script (first-max-wins in
    * latin/cyrillic/greek/arabic/devanagari/thai/hebrew/bengali/tamil/
    * CJK order) routes, and stopword profiles decide WITHIN the script
    * — the existing 12 Latin profiles, ru/uk/bg for Cyrillic, ar/fa
    * for Arabic script, hi for Devanagari. Script ≈ language families
    * identify at script level: Greek → "el", Thai → "th", Hebrew →
    * "he", Bengali → "bn", Tamil → "ta"; CJK resolves by block
    * evidence: any kana → "ja", hangul ≥ han → "ko", else "zh"
    * (the public script-routing heuristic). Zero letters of any script,
    * or zero stopword hits within a profile-routed script → "und", the
    * [[langId]] contract. All scan-side: one histogram pass + one
    * tokenization of the routed script's class, no shuffle.
    */
  def langIdScript(text: Column): Column =
    langIdScriptRouted(text,
      graft.functions.FunctionDefs.call("script_counts", text))

  /** [[langIdScript]] with the histogram supplied — BIND
    * `script_counts(text)` in a projection first (withColumn) and pass
    * the attribute: the routing CASE references the histogram in every
    * condition, and conditional branches are excluded from codegen
    * subexpression elimination, so the inline one-arg form re-runs the
    * codepoint pass per branch probed (measured 4.1 s vs 1.1 s at
    * sf0.1 — the one-arg form stays for one-off use, hot paths bind).
    */
  def langIdScriptRouted(text: Column, sc: Column): Column = {
    import graft.functions.FunctionDefs.call
    val cLat = sc.getItem(0); val cCyr = sc.getItem(1)
    val cEl = sc.getItem(2); val cAr = sc.getItem(3)
    val cDev = sc.getItem(4); val cHan = sc.getItem(5)
    val cHira = sc.getItem(6); val cKata = sc.getItem(7)
    val cHang = sc.getItem(8)
    val cTh = sc.getItem(9); val cHe = sc.getItem(10)
    val cBn = sc.getItem(11); val cTa = sc.getItem(12)
    val cCjk = cHan + cHira + cKata + cHang
    val g = greatest(cLat, cCyr, cEl, cAr, cDev, cTh, cHe, cBn, cTa, cCjk)
    def within(tokenClass: String, profs: Seq[(String, Seq[String])]) =
      call("lang_id", split(lower(text), s"[^$tokenClass]+"),
        typedlit(profs.map(_._1)), typedlit(profs.map(_._2)))
    // explicit null guard: with a null histogram every `when` condition
    // is null-false and the otherwise branch would mislabel null "zh"
    when(text.isNull, lit(null).cast("string"))
      .when(g === 0, "und")
      .when(cLat === g, within(langTokenClass, langProfiles))
      .when(cCyr === g, within(cyrillicTokenClass, cyrillicProfiles))
      .when(cEl === g, lit("el"))
      .when(cAr === g, within(arabicTokenClass, arabicProfiles))
      .when(cDev === g, within(devanagariTokenClass, devanagariProfiles))
      // script ≈ language families (the Greek treatment)
      .when(cTh === g, lit("th"))
      .when(cHe === g, lit("he"))
      .when(cBn === g, lit("bn"))
      .when(cTa === g, lit("ta"))
      .otherwise(when(cHira + cKata > 0, "ja")
        .when(cHang >= cHan, "ko")
        .otherwise("zh"))
  }

  // --------------------------------------------------------- curation

  /** Deterministic per-stratum downsampling for corpus curation (e.g.
    * per-language token budgets): keep a row iff
    * `(id·2654435761 + salt) mod 1000000007 < rate(stratum)·1000000007`.
    * A multiplicative hash instead of xxhash so the decision is exact
    * integer arithmetic an external oracle can replay; deterministic in
    * the id, so re-runs and incremental builds keep the same rows —
    * unlike `df.sample`, whose per-partition RNG reshuffles the kept set
    * whenever partitioning changes. Scan-side filter, no shuffle.
    */
  /** The shared sampling-family draw: (id·2654435761 + salt) mod p with
    * p = 1000000007, spelled with each factor pre-reduced mod p —
    * `((id mod p)·(2654435761 mod p) + salt) mod p` — which is the same
    * value for every id (mod distributes over the product) but keeps the
    * product under 2^60, so it never wraps 64-bit. The naive spelling
    * silently wraps in Spark (non-ANSI multiply) for ids above ~3.5e9
    * while a replaying oracle engine raises a BIGINT overflow — at
    * 100 TB id ranges the two would diverge; the reduced spelling is the
    * one BOTH engines compute exactly.
    */
  private[graft] def detDraw(id: Column, salt: Long): Column =
    pmod(pmod(id.cast("long"), lit(1000000007L)) * lit(2654435761L % 1000000007L) +
      lit(salt % 1000000007L), lit(1000000007L))

  /** The deterministic keep predicate [[sampleByStrata]] filters by,
    * exposed as a Column so funnel queries can count it in the same
    * aggregation pass instead of re-running the filter as its own scan.
    */
  def sampleKeep(strataCol: String, idCol: String,
                 rates: Map[String, Double], defaultRate: Double = 0.0,
                 salt: Long = 0L): Column = {
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (k, v)) =>
      when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    detDraw(col(idCol), salt).cast("double") < rate * lit(1000000007.0)
  }

  def sampleByStrata(df: DataFrame, strataCol: String, idCol: String,
                     rates: Map[String, Double], defaultRate: Double = 0.0,
                     salt: Long = 0L): DataFrame =
    df.filter(sampleKeep(strataCol, idCol, rates, defaultRate, salt))

  /** Exact-k deterministic reservoir per stratum: the k rows with the
    * SMALLEST [[detDraw]] values in each stratum — a uniform without-
    * replacement sample (the draw is a fixed hash of the id, so order
    * statistics over it are exchangeable), unlike [[sampleByStrata]]
    * which fixes the RATE and lets the count float. Deterministic in
    * (id, salt): re-runs, repartitioning and incremental rebuilds keep
    * the same rows, and an external engine replays the selection as
    * `row_number() OVER (PARTITION BY stratum ORDER BY draw, id) <= k`
    * — the bounded heap breaks draw ties by id ASC, matching exactly.
    *
    * Scale shape: ONE `topk_by_score` aggregate — map-side partials are
    * ≤ k rows per partition per stratum, the shuffle carries
    * |strata|·k (id, draw) pairs, never the corpus; no global or
    * per-stratum sort. Draw collisions (ids equal mod p) only engage
    * the id tie-break; for id ranges within one salt period (< p) the
    * draw is injective.
    */
  def reservoirByStrata(df: DataFrame, strataCol: String, idCol: String,
                        k: Int, salt: Long = 0L): DataFrame = {
    val draw = detDraw(col(idCol), salt)
    df.select(col(strataCol).as("stratum"), col(idCol).cast("long").as("__id"),
        draw.as("__d"))
      .groupBy(col("stratum"))
      .agg(graft.functions.FunctionDefs.callAgg("topk_by_score",
        col("__id"), -col("__d").cast("double"), lit(k)).as("__top"))
      .select(col("stratum"), explode(col("__top")).as("__t"))
      .select(col("stratum"), col("__t.id").as(idCol),
        (-col("__t.score")).cast("long").as("draw"))
  }

  /** Temperature-based mixture sampling rates (the Pile / GPT-3 recipe:
    * sample source s with weight ∝ n_s^α, α<1 flattens the source
    * distribution so rare-but-valuable sources are upsampled relative
    * to their share). Given a total document `budget`, the per-source
    * keep rate is
    *
    *   rate(s) = min(1, budget · n_s^α / Σ_t n_t^α / n_s).
    *
    * One partial-aggregated groupBy over the corpus (source cardinality
    * rows), a one-row total, and pure scalar math — the rates table is
    * source-cardinality-sized and broadcastable. Null strata are
    * EXCLUDED from the Σ n^α normalizer: [[sampleByMixture]] drops
    * null-stratum rows at its equi-join, so counting them here would
    * deflate every real source's rate and leave the kept count short of
    * `budget`. Returns (stratum, n, rate).
    */
  def mixtureRates(df: DataFrame, strataCol: String,
                   alpha: Double, budget: Double): DataFrame = {
    val c = df.filter(col(strataCol).isNotNull)
      .groupBy(col(strataCol)).agg(count(lit(1)).cast("double").as("n"))
    val t = c.agg(sum(pow(col("n"), lit(alpha))).as("__tp"))
    c.crossJoin(broadcast(t))
      .select(col(strataCol), col("n"),
        least(lit(1.0), lit(budget) * pow(col("n"), lit(alpha)) / col("__tp") / col("n"))
          .as("rate"))
  }

  /** Deterministic mixture sampling: [[mixtureRates]] broadcast onto the
    * corpus scan, each row kept by the same exact-integer hash decision
    * as [[sampleByStrata]] — re-runs, repartitions and incremental
    * builds all keep the identical row set. The only corpus-sized work
    * is one scan + one count-shuffle of (source) keys.
    *
    * Null-stratum rows are DROPPED (the rates equi-join has no null
    * key): a row with no source can't be budgeted. Coalesce the
    * stratum column to a sentinel first if such rows must survive.
    */
  def sampleByMixture(df: DataFrame, strataCol: String, idCol: String,
                      alpha: Double, budget: Double, salt: Long = 0L): DataFrame = {
    val rates = mixtureRates(df, strataCol, alpha, budget)
      .select(col(strataCol), col("rate"))
    df.join(broadcast(rates), strataCol)
      .filter(detDraw(col(idCol), salt).cast("double") < col("rate") * lit(1000000007.0))
      .drop("rate")
  }

  /** Leakage-safe train/validation split: assign WHOLE near-dup
    * components to a split, never individual documents — a plain
    * per-doc split leaks training data into eval whenever near-dups
    * straddle the boundary (the same failure benchmark decontamination
    * guards against, applied to one's own held-out set). The split
    * decision is the same exact-integer multiplicative hash as
    * [[sampleByStrata]], applied to the component label, so co-members
    * get identical verdicts by construction and re-runs are stable.
    * Output: (idCol, component, split ∈ {train, val}).
    *
    * Pair generation is pluggable because it is the only corpus-scale
    * stage: the DEFAULT is the MinHash-LSH banded path
    * ([[graft.ops.Dedup.minhashLsh]] at the given k/threshold) whose
    * candidate cost is bounded by band buckets — a hot boilerplate
    * shingle cannot go quadratic the way an uncapped exact posting
    * self-join does. `maxBucket` passes through to that path and
    * carries its leakage trade EXPLICITLY: at the computed default a
    * > √n-member band bucket is shed, and if such a bucket held a TRUE
    * near-dup family (it is near-always sub-threshold boilerplate —
    * run [[graft.ops.Dedup.exact]] first), co-duplicated docs could
    * straddle the split. Callers for whom any leak outweighs a
    * quadratic hot bucket pass `maxBucket = -1`; callers wanting the
    * exact closure (small corpora, oracle replays) pass
    * `pairs = Some(Dedup.jaccardJoin(...))` — any (id_a, id_b) pair
    * frame with the same id domain works. The split itself adds one
    * broadcast-size label join and a scan-side hash.
    */
  def leakSafeSplit(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 3, threshold: Double = 0.8,
                    valFrac: Double = 0.1, salt: Long = 0L,
                    pairs: Option[DataFrame] = None,
                    maxBucket: Int = 0): DataFrame = {
    val pairFrame = pairs.getOrElse(
      Dedup.minhashLsh(df, idCol, textCol, k = k, threshold = threshold,
        maxBucket = maxBucket))
    val cc = Dedup.connectedComponents(pairFrame)
      .select(col("id").as("__cc_id"), col("comp").as("__comp"))
    val comp = df.select(col(idCol))
      .join(cc, col(idCol) === col("__cc_id"), "left")
      .select(col(idCol), coalesce(col("__comp"), col(idCol)).as("component"))
    comp.withColumn("split",
      when(detDraw(col("component"), salt).cast("double") <
            lit(valFrac) * lit(1000000007.0), lit("val"))
        .otherwise(lit("train")))
  }

  /** Overlapping token-window chunking for long documents (the standard
    * pre-training shape: windows of `size` tokens every `stride`
    * tokens): one output row per window start 0, stride, 2·stride, …
    * below the token count, each carrying its index, clamped token
    * count and text. flatMap-shaped explode at the scan — rows fan out
    * before any wide operator, no shuffle.
    */
  def chunk(df: DataFrame, idCol: String, textCol: String,
            window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0, "window and stride must be positive")
    val toks = split(col(textCol), " ")
    df.select(col(idCol), toks.as("__toks"))
      .select(col(idCol),
        posexplode(sequence(lit(0), size(col("__toks")) - 1, lit(stride))).as(Seq("chunk_idx", "__s")),
        col("__toks"))
      .select(
        col(idCol), col("chunk_idx"),
        size(slice(col("__toks"), col("__s") + 1, lit(window))).as("n_chunk_tokens"),
        array_join(slice(col("__toks"), col("__s") + 1, lit(window)), " ").as("chunk_text"))
  }

  // ---------------------------------------------------------- packing

  /** Assign documents to contiguous token-budget chunks — the
    * distributable form of training-sequence packing: within each
    * shard (partition key), documents in a deterministic order are cut
    * into chunks of ≤ `budget` cumulative tokens (a document larger
    * than the budget gets its own chunk). chunk = floor(exclusive-
    * cumulative-tokens / budget) over the shard's running total.
    *
    * One window pass per shard (single shuffle on the shard key); true
    * first-fit bin packing is inherently sequential, while this
    * contiguous variant keeps the same budget guarantee per chunk
    * boundary and scales — pick shards (e.g. language, source) so each
    * holds what one training shard should.
    */
  def packByTokenBudget(
      df: DataFrame, shardCol: String, idCol: String, textCol: String,
      budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(shardCol).orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(shardCol), col(idCol), wsTokenCount(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("__cum", sum(col("n_tokens")).over(w))
      .withColumn("chunk", ((col("__cum") - col("n_tokens")) / budget).cast("long"))
      .drop("__cum")
  }

  // ------------------------------------------------------- fingerprint

  /** Winnowing document fingerprints: xxhash64 of word k-shingles, then
    * the minimum of each sliding window of `window` hashes, distinct.
    * Standard public winnowing scheme (Schleimer et al.'s approach):
    * shared substrings of length >= k+window-1 words always share a
    * fingerprint.
    */
  def fingerprints(text: Column, k: Int = 5, window: Int = 4): Column =
    graft.functions.FunctionDefs.call(
      "winnow_fingerprints", Dedup.shingles(text, k), lit(window))

  /** BM25 ranked retrieval (Robertson/Spärck Jones, the Lucene-variant
    * idf = ln(1 + (N − df + ½)/(df + ½))): top-k documents per keyword
    * query. `queries` is a small (qid, term) relation — one row per
    * query term, distinct per (qid, term).
    *
    * Designed for corpus ≫ queries: the exploded token stream is
    * semi-joined against the BROADCAST query vocabulary BEFORE any
    * aggregation, so the (id, term) tf pass and everything after it
    * touch only rows containing a query term — the full-corpus work is
    * one scan (plus a single (n_docs, avgdl) aggregate broadcast as a
    * one-row literal). Document frequencies are computed from that same
    * filtered tf relation (small, per-term) and broadcast back; final
    * per-query ranking goes through the bounded-heap `topk_by_score`
    * aggregate, never a window shuffle. Output: (qid, id, rank, score).
    */
  def bm25TopK(
      docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, qidCol: String, termCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val toks = docs
      .select(col(idCol).as("id"), split(col(textCol), " ").as("__toks"))
      .select(col("id"), size(col("__toks")).as("__dl"),
        explode(col("__toks")).as("term"))
    val q = queries.select(col(qidCol).as("qid"), col(termCol).as("term"))
    val tf = toks
      .join(broadcast(q.select("term").distinct()), "term")
      .groupBy("id", "term", "__dl").agg(count(lit(1)).as("__tf"))
    val stats = docs.agg(
      count(lit(1)).cast("double").as("__n_docs"),
      avg(size(split(col(textCol), " "))).as("__avgdl"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).cast("double").as("__df"))
    val scored = tf
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("__idf",
        log(lit(1.0) + (col("__n_docs") - col("__df") + 0.5) / (col("__df") + 0.5)))
      .withColumn("__w",
        col("__idf") * (col("__tf") * (k1 + 1.0)) /
          (col("__tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") / col("__avgdl"))))
      .join(broadcast(q), "term")
      .groupBy("qid", "id").agg(sum("__w").as("score"))
    scored
      .groupBy("qid")
      .agg(graft.functions.FunctionDefs.callAgg("topk_by_score",
        col("id"), col("score"), lit(k)).as("__top"))
      .select(col("qid"), posexplode(col("__top")).as(Seq("__r", "__t")))
      .select(col("qid"), col("__t.id").as("id"),
        (col("__r") + 1).cast("int").as("rank"), col("__t.score").as("score"))
  }

  /** Fuzzy dictionary canonicalization: match a dirty string column
    * against a SMALL broadcast dictionary by minimum Levenshtein edit
    * distance, ties broken lexicographically — the classic
    * metadata/entity normalization step (source labels, model names,
    * license strings) before stratified sampling or mixture weighting.
    *
    * Scale shape: the dictionary broadcasts, the codegen'd builtin
    * `levenshtein` scores all |dict| candidates scan-side, and the
    * argmin is a map-side-complete min(struct(dist, entry)) — one row
    * per input id crosses the shuffle regardless of dictionary size.
    * Edit distances are small integers computed by the same textbook DP
    * in every engine, so an oracle replays them exactly.
    * Output: (idCol, dirty, matched, dist).
    */
  def fuzzyMatch(df: DataFrame, idCol: String, dirtyCol: String,
                 dict: DataFrame, dictCol: String): DataFrame = {
    val d = dict.select(col(dictCol).as("__cand")).distinct()
    df.select(col(idCol), col(dirtyCol).as("__dirty"))
      .crossJoin(broadcast(d))
      .select(col(idCol), col("__dirty"),
        struct(levenshtein(col("__dirty"), col("__cand")).cast("int").as("dist"),
          col("__cand").as("entry")).as("__s"))
      .groupBy(idCol, "__dirty")
      .agg(min(col("__s")).as("__m"))
      .select(col(idCol), col("__dirty").as("dirty"),
        col("__m.entry").as("matched"), col("__m.dist").as("dist"))
  }

  // ------------------------------------------- benchmark decontamination

  /** Benchmark decontamination: flag training documents that share any
    * word n-gram with an evaluation/benchmark set (the standard public
    * methodology — n-gram collision against held-out eval suites).
    *
    * Shaped for corpus ≫ benchmarks: a real eval suite is megabytes
    * against a 100 TB corpus, so the distinct eval gram dictionary is
    * BROADCAST and the train side stays scan + broadcast-hash-semi-join
    * — the corpus is never shuffled. (If the eval side ever outgrew the
    * broadcast threshold the same plan works as a shuffled equi-join on
    * the gram.) Returns one row per train document:
    * (id, n_hit_grams, contaminated 0/1) where n_hit_grams counts the
    * doc's DISTINCT n-grams that appear anywhere in the eval set.
    */
  def decontaminate(train: DataFrame, eval: DataFrame, idCol: String,
                    textCol: String, n: Int): DataFrame = {
    val evalGrams = eval
      .select(explode(Dedup.shingles(col(textCol), n)).as("__gram"))
      .distinct()
    val trainGrams = train
      .select(col(idCol), explode(Dedup.shingles(col(textCol), n)).as("__gram"))
    val hits = trainGrams
      .join(broadcast(evalGrams), Seq("__gram"), "left_semi")
      .groupBy(idCol).agg(count(lit(1)).as("n_hit_grams"))
    train.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_hit_grams"), lit(0L)).as("n_hit_grams"),
        when(coalesce(col("n_hit_grams"), lit(0L)) > 0, 1).otherwise(0)
          .as("contaminated"))
  }

  /** Duplicate-span detection — substring-level dedup signal (flags the
    * boilerplate/duplicated passages exact doc-level dedup misses): a
    * word n-gram occurring in more than one document is a duplicated
    * span; each document reports how many of its distinct spans are
    * globally duplicated. The shuffle carries (span, id) postings like
    * [[Dedup.jaccardJoin]]'s inverted index, document frequency is a
    * partial (map-side-combining) aggregate, and the re-join back to
    * postings is an equi-join on the span. At 100 TB the span key would
    * be a 128-bit hash instead of the string (same plan, ~10× lighter
    * shuffle); the string key is kept here so an external oracle can
    * replay the computation exactly.
    */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     n: Int): DataFrame = {
    val spans = df.select(col(idCol),
      explode(Dedup.shingles(col(textCol), n)).as("__span"))
    val dupSpans = spans.groupBy("__span")
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2)
      .select("__span")
    val perDoc = spans
      .join(dupSpans, Seq("__span"), "left_semi")
      .groupBy(idCol).agg(count(lit(1)).as("n_dup_spans"))
    df.select(col(idCol), size(Dedup.shingles(col(textCol), n)).as("n_spans"))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
  }

  /** Duplicate-span COVERAGE — the corpus "duplication rate" number
    * large-scale curation runs report (Gopher/RefinedWeb-style): per
    * source, the fraction of word POSITIONS that sit inside a word
    * n-gram also appearing in ≥2 distinct documents. Complements
    * tx_repetition (within-doc fractions) and dd_spans (per-doc span
    * counts) with the corpus-level metric. Shape: gram occurrences
    * explode with their start positions (n-gram-count rows, scan-side
    * arithmetic), the cross-doc decision is ONE partial-agg
    * distinct-doc count per gram, and covered positions dedup per
    * (doc, position) before the per-source fraction — the dd_spans
    * posting shape, never all-pairs. Output: (source, n_docs, n_words,
    * n_covered, coverage).
    */
  def spanCoverage(df: DataFrame, idCol: String, textCol: String,
                   srcCol: String, n: Int): DataFrame = {
    require(n >= 2, "spanCoverage: n must be >= 2")
    val words = df
      .filter(col(textCol).isNotNull && col(srcCol).isNotNull)
      .select(col(idCol).as("__id"), col(srcCol).as("__src"),
        split(col(textCol), " ").as("__ws"))
    // grams travel as 64-bit hashes, never the n-word string (r11):
    // the cross-doc DF groupBy is corpus-sized by nature, and shuffling
    // 8-byte keys instead of n-word strings cuts its exchange ~10×
    // (SCALE_r11 decade row). r14: the hashes come from ONE O(len)
    // rolling pass (gram_hashes — per-word FNV-1a under a polynomial
    // slide) instead of an O(n) xxhash64(slice) per position, so the
    // Lee-et-al. n = 50 regime costs the same scan as n = 5. Same
    // 2⁻⁶⁴-collision contract: a collision could only merge two grams'
    // doc sets — the string-keyed oracle stays hash-green at every
    // verify sf. Empty array for docs shorter than n.
    val grams = words.select(col("__id"), col("__src"),
      posexplode(graft.functions.FunctionDefs.call(
        "gram_hashes", col("__ws"), lit(n))).as(Seq("__pos", "__g")))
      // pin the gram window's parallelism: its per-row work (sort +
      // min/max + interval collect) is CPU-heavy per BYTE, so AQE's
      // byte-floor coalescing serializes it on small-byte corpora —
      // an explicit-count repartition on the window key satisfies the
      // window's required distribution (no second exchange) and is the
      // cluster-configured width at any scale
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
        col("__g"))
    // "duplicated" = present in ≥ 2 DISTINCT docs ⟺ min(id) ≠ max(id)
    // over the gram's rows — as a WINDOW over __g, so dup detection and
    // dup-row routing ride ONE shuffle of the gram rows (r11: the
    // previous shape paid the gram explode twice — once into the
    // countDistinct DF aggregate, once into the semi-join probing it).
    // SKEW CAVEAT (r11 advice): the window has no map-side reduction,
    // so a single heavy-hitter gram (boilerplate shared by millions of
    // docs) lands every occurrence in ONE task. Bounded in practice:
    // the hot key's rows are (id, src, pos, g) — 32 bytes each — and
    // min/max windows stream without buffering the frame; if a corpus
    // ever produces a gram hot enough to matter, pre-aggregate to
    // (__g, __id) granularity first (restores partial aggregation at
    // the cost of a second shuffle) — the dd_spans aggregate+semi-join
    // shape, which this one-shuffle form beat 1.9× on real data.
    val w = org.apache.spark.sql.expressions.Window.partitionBy("__g")
    val dupRows = grams
      .withColumn("__mn", min(col("__id")).over(w))
      .withColumn("__mx", max(col("__id")).over(w))
      .filter(col("__mn") =!= col("__mx"))
    // covered positions per doc = union of [pos, pos+n) intervals over
    // the doc's duplicated grams. r10 shape: positions NEVER explode —
    // the r9 explode+distinct carried one shuffle row per covered WORD
    // POSITION (n× the gram count; measured exactly linear, 4.2 → 42 s
    // for 10× docs at sf10). Instead the dup grams' start positions
    // collect per doc (bounded by doc length — the same per-doc bound
    // chunking relies on) and a codegen'd fold merges the sorted
    // intervals: identical count by construction, the shuffle carries
    // one row per (doc, dup gram), and the distinct disappears.
    val covered = dupRows
      .groupBy(col("__id"), col("__src"))
      .agg(array_sort(collect_list(col("__pos"))).as("__ps"))
      .withColumn("__cov", expr(
        s"""aggregate(__ps,
           |  named_struct('total', CAST(0 AS BIGINT), 'e', CAST(-1 AS BIGINT)),
           |  (acc, p) -> IF(p + $n <= acc.e, acc,
           |    named_struct(
           |      'total', acc.total + (CAST(p AS BIGINT) + $n - greatest(CAST(p AS BIGINT), acc.e)),
           |      'e', CAST(p + $n AS BIGINT))),
           |  acc -> acc.total)""".stripMargin))
      .groupBy("__src").agg(sum("__cov").as("n_covered"))
    words.groupBy("__src")
      .agg(count(lit(1)).as("n_docs"), sum(size(col("__ws"))).as("n_words"))
      .join(covered, Seq("__src"), "left")
      .select(col("__src").as("source"), col("n_docs"), col("n_words"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        (round(coalesce(col("n_covered"), lit(0L)) / col("n_words"), 6) + lit(0.0))
          .as("coverage"))
      .orderBy("source")
  }

  /** Duplicate-span REMOVAL — the substring-level dedup curation step
    * (Lee et al. 2022 "Deduplicating Training Data Makes Language
    * Models Better": EXCISE duplicated passages instead of dropping
    * whole documents): every word position covered by a word n-gram
    * that also appears in ≥ 2 DISTINCT documents is removed, and the
    * document is rewritten from the surviving words. Within-doc
    * repeats survive (a gram repeated only inside one document is not
    * corpus duplication); overlapping and adjacent covered intervals
    * union before excision; documents shorter than n words are
    * untouched.
    *
    * Shape: the [[spanCoverage]] one-pass machinery verbatim — gram
    * occurrences explode ONCE with start positions under 64-bit
    * xxhash64 keys, the cross-doc decision is the same min≠max window
    * riding the single gram shuffle, and each doc's duplicated start
    * positions collect (bounded by doc length, the chunking bound)
    * into a sorted array. The rewrite itself is scan-side codegen:
    * a fold merges the sorted starts into disjoint [s, e) intervals
    * and a positional filter drops covered words — never a per-word
    * shuffle row. Exchanges: the gram routing shuffle spanCoverage
    * already pays, plus the one join the rewrite inherently needs
    * (words ⋈ per-doc dup starts on id). On a lightly-duplicated real
    * corpus the dup-start side is small and AQE converts that join to
    * a broadcast at runtime — the corpus text never shuffles; on a
    * heavily-duplicated corpus the join is one id-partitioned text
    * shuffle and the output itself is corpus-sized (SCALE_r12 measures
    * the replicated-corpus worst case). The string-keyed oracle
    * replays gram DF, covered-position union and the rewritten text
    * verbatim in SQL.
    *
    * Any-length semantics and the exact guarantee (r13 verdict task 5):
    * overlapping dup-gram starts CHAIN — a shared substring of length
    * L ≥ n puts a dup start at every one of its L−n+1 window positions,
    * and the interval fold merges them into exactly [start, start+L) —
    * so with `minLen` left at 0 the operator excises every maximal
    * cross-doc shared substring of length ≥ n with EXACT boundaries
    * (the stride is 1; nothing is gram-quantized). `minLen > n` is the
    * Lee-et-al. two-parameter form: detect with cheap n-word windows,
    * excise only merged chains spanning ≥ minLen words — duplicates of
    * length in [n, minLen) are detected but deliberately kept, matching
    * the paper's "substrings ≥ 50 tokens" rule at a fraction of the
    * per-position hash cost of n = 50 windows. The one documented
    * over-approximation of the chained form: two distinct shared
    * substrings (each < minLen, possibly with different partner docs)
    * whose extents overlap or touch merge into one chain and are
    * excised together when the union reaches minLen — a suffix-array
    * implementation would keep both. Measured (TextSpec's
    * tangent-merge fixture, n ∈ {5, 12}, minLen = 30): 100% of
    * tangent-pair positions excise (two adjacent 20-word runs with
    * different partner docs → the merged 40-word chain goes), 0% once
    * even ONE word separates the runs — the artifact requires exact
    * adjacency, so on real corpora it tracks templated boilerplate,
    * where excision is the intended outcome anyway. Duplicates
    * shorter than n stay invisible — the detection floor is n,
    * exactly.
    *
    * Output: (idCol, n_words, n_removed, removed_frac, text_scrubbed).
    */
  def scrubSpans(df: DataFrame, idCol: String, textCol: String,
                 n: Int, minLen: Int = 0): DataFrame = {
    require(n >= 2, "scrubSpans: n must be >= 2")
    require(minLen == 0 || minLen >= n,
      s"scrubSpans: minLen must be 0 (excise every dup window) or >= n, got $minLen")
    val words = df
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"), split(col(textCol), " ").as("__ws"))
    // the spanCoverage O(len) rolling gram-hash pass (see there)
    val grams = words.select(col("__id"),
      posexplode(graft.functions.FunctionDefs.call(
        "gram_hashes", col("__ws"), lit(n))).as(Seq("__pos", "__g")))
      // explicit-count repartition on the window key — see spanCoverage:
      // keeps the CPU-heavy gram window at the configured parallelism
      // instead of AQE's byte floor, without adding an exchange
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
        col("__g"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("__g")
    // cross-doc duplicated gram starts per doc (see spanCoverage for
    // the window-over-gram rationale and the heavy-hitter caveat)
    val dupStarts = grams
      .withColumn("__mn", min(col("__id")).over(w))
      .withColumn("__mx", max(col("__id")).over(w))
      .filter(col("__mn") =!= col("__mx"))
      .groupBy("__id")
      .agg(array_sort(collect_list(col("__pos"))).as("__ps"))
    // sorted starts → disjoint merged intervals [s, e); then keep word
    // i iff no interval covers it. Both steps are whole-stage-codegen
    // higher-order functions over per-doc arrays — O(doc length ×
    // merged intervals), no extra exchange.
    // The rebuild's per-row fold/filter work rides the words side of
    // this join: on a single-split input that is one core — fan it out
    // on the JOIN key when the scan yields fewer splits than cores
    // (keyed, so the join needs no further exchange; a no-op on real
    // multi-file layouts, where the broadcast/SMJ choice is AQE's).
    val par = df.sparkSession.sparkContext.defaultParallelism
    val wordsJ = if (words.rdd.getNumPartitions < par)
      words.repartition(
        df.sparkSession.sessionState.conf.numShufflePartitions, col("__id"))
    else words
    wordsJ.join(dupStarts, Seq("__id"), "left")
      .withColumn("__iv", expr(
        s"""CASE WHEN __ps IS NULL THEN CAST(array() AS array<struct<s:bigint,e:bigint>>)
           |ELSE aggregate(__ps,
           |  named_struct('ivs', CAST(array() AS array<struct<s:bigint,e:bigint>>),
           |               's', CAST(-1 AS BIGINT), 'e', CAST(-1 AS BIGINT)),
           |  (acc, p) -> IF(p <= acc.e,
           |    named_struct('ivs', acc.ivs, 's', acc.s, 'e', CAST(p + $n AS BIGINT)),
           |    named_struct('ivs', IF(acc.s < 0, acc.ivs,
           |        array_append(acc.ivs, named_struct('s', acc.s, 'e', acc.e))),
           |      's', CAST(p AS BIGINT), 'e', CAST(p + $n AS BIGINT))),
           |  acc -> IF(acc.s < 0, acc.ivs,
           |    array_append(acc.ivs, named_struct('s', acc.s, 'e', acc.e))))
           |END""".stripMargin))
      // the minLen chain gate: only merged chains spanning >= minLen
      // words excise (scan-side filter over the per-doc interval array)
      .withColumn("__iv",
        if (minLen <= 0) col("__iv")
        else expr(s"filter(__iv, v -> v.e - v.s >= $minLen)"))
      .withColumn("__kept", expr(
        "filter(__ws, (w, i) -> NOT exists(__iv, v -> i >= v.s AND i < v.e))"))
      .select(col("__id").as(idCol),
        size(col("__ws")).cast("long").as("n_words"),
        (size(col("__ws")) - size(col("__kept"))).cast("long").as("n_removed"),
        (round((size(col("__ws")) - size(col("__kept"))) / size(col("__ws")), 6) + lit(0.0))
          .as("removed_frac"),
        array_join(col("__kept"), " ").as("text_scrubbed"))
  }

  /** Domain-blocklist filter — the crawl-curation front-door step
    * (spam/adult/SEO-farm domain lists): flag every row whose URL's
    * canonical host IS a blocked domain or a SUBDOMAIN of one
    * (suffix semantics — blocking `spam.com` blocks `a.b.spam.com`,
    * never `notspam.com`). Real blocklists run 100k–4M domains
    * (UT1-class adult/spam lists) against a 100 TB corpus, so the
    * decision must cost O(rows × suffix-depth) hash probes, never
    * O(rows × |list|): each port-stripped host is reduced to its
    * dot-aligned suffixes at every label depth the blocklist actually
    * contains (depth = max label count over the list, a small
    * constant), and each depth is ONE broadcast hash-equality left
    * join against the deduplicated domain table — the corpus never
    * shuffles, the plan carries no list literal (the domains travel as
    * a broadcast relation), and a host is blocked iff any depth's
    * probe hit. Dot alignment makes the equality exact: suffix_ℓ(h)
    * == d ⟺ (h == d) ∨ h.endsWith("." + d) for d of ℓ labels, so
    * lookalikes (`notspam.com`) and infixes (`spam.com.evil.io`)
    * never collide. [[blocklistFlagScan]] keeps the per-row exists()
    * scan as the measured counter-baseline for tiny lists.
    * Output: input columns + (host, blocked) — pre-existing columns of
    * those two names are replaced (the documented output contract); no
    * other input column is touched.
    */
  def blocklistFlag(df: DataFrame, urlCol: Column,
                    blockedDomains: Seq[String]): DataFrame = {
    require(blockedDomains.nonEmpty, "blocklistFlag: empty blocklist")
    val spark = df.sparkSession
    import spark.implicits._
    val doms = blockedDomains.map(_.toLowerCase).distinct
    blocklistFlagJoin(df, urlCol, doms.toDF("domain"), "domain",
      maxDepth = doms.map(_.count(_ == '.') + 1).max)
  }

  /** [[blocklistFlag]] against a blocklist that lives as a TABLE — the
    * production shape (the list is data, not code). `maxDepth` (0 =
    * computed) is the deepest label count in the list; suffixes beyond
    * it cannot match and are never generated. The domain table is
    * deduplicated and lowercased before the joins, so the left joins
    * are at-most-one-hit and never multiply corpus rows.
    */
  def blocklistFlagJoin(df: DataFrame, urlCol: Column,
                        blocked: DataFrame, domainCol: String,
                        maxDepth: Int = 0): DataFrame = {
    // normalized + deduplicated ONCE, lineage truncated: each depth's
    // broadcast build reads the checkpointed rows instead of replaying
    // the lower/filter/distinct per level (r11 — the r10 shape also
    // re-broadcast the FULL table per depth; see the depth slicing
    // below)
    val bl = blocked.select(lower(col(domainCol)).as("__bl_dom"))
      .filter(col("__bl_dom").isNotNull && col("__bl_dom") =!= "")
      .distinct()
      .withColumn("__bl_depth", size(split(col("__bl_dom"), "\\.")))
      .localCheckpoint()
    val depth =
      if (maxDepth > 0) maxDepth
      else {
        // max over an EMPTY domain table is null — fail loudly rather
        // than NPE (an empty blocklist flagging nothing is almost
        // always a broken upstream read, the blocklistFlag require)
        val d = bl.agg(max(col("__bl_depth"))).head
        require(!d.isNullAt(0),
          "blocklistFlagJoin: empty blocklist table (after null/blank filtering)")
        d.getInt(0)
      }
    val inputCols = df.columns.toSeq.filterNot(c => c == "host" || c == "blocked")
    val base = df
      .withColumn("host", urlHost(urlCol))
      // a non-default port must not defeat the domain match
      .withColumn("__bl_ls",
        split(regexp_replace(col("host"), ":[0-9]+$", ""), "\\."))
    val probed = (1 to depth).foldLeft(base) { (cur, l) =>
      // last-l-labels suffix; null when the host is shorter (no match)
      val sfx = when(size(col("__bl_ls")) >= l,
        array_join(slice(col("__bl_ls"), -l, l), "."))
      // depth-ℓ suffixes have exactly ℓ labels, so only the list's
      // depth-ℓ domains can ever equal them: each level broadcasts its
      // DISJOINT slice of the list, and the total broadcast across all
      // levels is ≈ 1× the list (the r10 shape shipped depth × full
      // copies — ~6 few-hundred-MB broadcasts at UT1 scale)
      cur.join(broadcast(bl.filter(col("__bl_depth") === l)
          .select(col("__bl_dom").as(s"__bl_hit_$l"))),
        sfx === col(s"__bl_hit_$l"), "left")
    }
    val hits = (1 to depth).map(l => col(s"__bl_hit_$l"))
    probed
      .withColumn("blocked",
        when(coalesce(hits: _*).isNotNull, lit(1)).otherwise(lit(0)))
      .select((inputCols.map(col) :+ col("host") :+ col("blocked")): _*)
  }

  /** The per-row broadcast-literal exists() scan — correct and
    * shuffle-free, but O(rows × |list|) with the whole list embedded
    * in the plan: the measured counter-baseline for [[blocklistFlag]]
    * (see tools/BlocklistBench); use only for lists of at most a few
    * hundred domains.
    */
  def blocklistFlagScan(df: DataFrame, urlCol: Column,
                        blockedDomains: Seq[String]): DataFrame = {
    require(blockedDomains.nonEmpty, "blocklistFlagScan: empty blocklist")
    val domains = typedlit(blockedDomains.map(_.toLowerCase))
    df.withColumn("host", urlHost(urlCol))
      .withColumn("blocked", {
        val h = regexp_replace(col("host"), ":[0-9]+$", "")
        when(col("host").isNull, lit(0))
          .otherwise(exists(domains, d =>
            h === d || h.endsWith(concat(lit("."), d))).cast("int"))
      })
  }

  // ------------------------------------- importance weighting (DSIR-ish)

  /** Importance weights for data selection (after the public DSIR recipe
    * — Xie et al. 2023, "Data Selection for Language Models via
    * Importance Resampling"): per-document log likelihood ratio between
    * a target distribution (e.g. curated/wiki-like text) and the raw
    * corpus, under add-1-smoothed unigram models fit on the data itself:
    *
    *   logw(doc) = Σ_w c_doc(w) · [ln P̂_t(w) − ln P̂_r(w)],
    *   P̂(w) = (c(w) + 1) / (N + V).
    *
    * DSIR proper buckets features by hashing; the exact word-level form
    * here is the oracle-replayable variant, and at 100 TB the only
    * change is hashing `__w` to a fixed bucket count before the counts
    * (same plan, bounded vocab). Shape: one exploded scan feeds both
    * model counts (a single partial-aggregating groupBy with a
    * conditional target count); the per-word weight table is vocab-sized
    * and BROADCAST back onto the per-doc term counts — the corpus
    * shuffles once, on (id, word).
    *
    * `isTarget` must be a deterministic predicate column over the input
    * row (e.g. `col("lang") === "en"`).
    */
  def dsirWeights(df: DataFrame, idCol: String, textCol: String,
                  isTarget: Column): DataFrame = {
    val tok = df.select(col(idCol), isTarget.as("__is_t"),
      explode(split(col(textCol), " ")).as("__w"))
    val cw = tok.groupBy("__w").agg(
      count(lit(1)).as("__cr"),
      sum(when(col("__is_t"), 1L).otherwise(0L)).as("__ct"))
    val stats = cw.agg(
      sum("__cr").cast("double").as("__nr"),
      sum("__ct").cast("double").as("__nt"),
      count(lit(1)).cast("double").as("__v"))
    val lw = cw.crossJoin(broadcast(stats)).select(
      col("__w"),
      (log((col("__ct") + lit(1)) / (col("__nt") + col("__v"))) -
        log((col("__cr") + lit(1)) / (col("__nr") + col("__v")))).as("__lw"))
    val dt = tok.groupBy(col(idCol), col("__w")).agg(count(lit(1)).as("__c"))
    dt.join(broadcast(lw), "__w")
      .groupBy(idCol).agg(
        sum("__c").as("n_tokens"),
        round(sum(col("__c") * col("__lw")), 4).as("dsir_logw"))
  }

  // ----------------------------------------------- TF-IDF keywords

  /** Top-k TF-IDF keywords per document: tfidf(w, d) = tf · ln(N/df),
    * ranked per doc through the bounded-heap topn_rows aggregate (no
    * window shuffle), tie-broken by the word's FIRST OCCURRENCE
    * position — a deterministic long both engines can compute, unlike a
    * string collation order the heap can't hold. Scores are rounded to
    * 4 dp BEFORE ranking on both sides: equal-real scores from
    * different (tf, df) factorizations (2·ln(N/x) = ln(N/x²·N) exactly)
    * can differ in final ulp between libm implementations, and the
    * rounding collapses them onto the same value so the position
    * tie-break decides identically everywhere.
    *
    * Shape at 100 TB: one exploded scan → per-(doc, word) partial-agg
    * counts (the corpus' one shuffle), a vocab-sized df table joined
    * back on the word key, and the map-side-reducing top-k — no window,
    * no driver. Hash words to a bounded bucket count first if the raw
    * vocabulary outgrows the shuffle.
    */
  def tfidfKeywords(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 5): DataFrame = {
    val pw = df.select(col(idCol), posexplode(split(col(textCol), " ")).as(Seq("__pos", "__w")))
    val tf = pw.groupBy(col(idCol), col("__w"))
      .agg(count(lit(1)).as("__tf"), min("__pos").as("__fpos"))
    val dfreq = tf.groupBy("__w").agg(count(lit(1)).as("__df"))
    val n = df.agg(count(lit(1)).cast("double").as("__n"))
    tf.join(dfreq, "__w").crossJoin(broadcast(n))
      .withColumn("__tfidf", round(col("__tf") * log(col("__n") / col("__df")), 4))
      .groupBy(idCol)
      .agg(graft.functions.FunctionDefs.callAgg("topn_rows",
        col("__fpos"), struct(col("__w"), col("__tfidf")), col("__tfidf"), lit(k)).as("__top"))
      .select(col(idCol), posexplode(col("__top")).as(Seq("__r", "__t")))
      .select(col(idCol), (col("__r") + 1).cast("int").as("rank"),
        col("__t.payload.__w").as("word"), col("__t.payload.__tfidf").as("tfidf"))
  }

  // ------------------------------- LM perplexity filter (CCNet-style)

  /** Per-document cross-entropy under an interpolated add-1-smoothed
    * bigram language model fit on a target slice of the corpus itself
    * (after the public CCNet recipe — Wenzek et al. 2020 score Common
    * Crawl against a wiki-trained LM and keep the low-perplexity band;
    * here the "clean" slice is any deterministic predicate, e.g.
    * `lang === "en"`).
    *
    *   P(w|v) = λ·(c(v,w)+1)/(c(v)+V) + (1−λ)·(c(w)+1)/(N+V)
    *   nll(doc) = −Σ_{bigrams (v,w)} ln P(w|v)
    *
    * Shape at 100 TB: the model is two vocab-sized count tables (unigram
    * and bigram) built from ONE exploded pass over the target slice with
    * partial aggregation, then BROADCAST onto the scoring scan — the
    * corpus itself shuffles once, on doc_id, for the per-doc sum. Docs
    * with fewer than two tokens have no bigrams and drop out (both
    * engines agree). At web scale the bigram table is capped by hashing
    * the pair key to a fixed bucket count (same plan, bounded state),
    * exactly as DSIR's docstring describes for its vocabulary.
    */
  def lmCrossEntropy(df: DataFrame, idCol: String, textCol: String,
                     isTarget: Column, lambda: Double = 0.7): DataFrame = {
    val base = df.select(col(idCol), isTarget.as("__is_t"),
      split(col(textCol), " ").as("__toks"))
    // size>=2 guard: sequence(0, -1) would DESCEND for 1-token docs
    val bg = base.filter(size(col("__toks")) >= 2)
      .select(col(idCol), col("__is_t"), explode(expr(
        "transform(sequence(0, size(__toks) - 2), i -> struct(__toks[i] AS v, __toks[i+1] AS w))"
      )).as("__b")).select(col(idCol), col("__is_t"),
        col("__b.v").as("__v"), col("__b.w").as("__w"))
    // unigram counts over the target slice count every token, so the
    // last token of each doc is included: count(v of every bigram) +
    // one trailing token per doc != token count — count from the raw
    // explode instead
    val uni = base.filter(col("__is_t"))
      .select(explode(col("__toks")).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__cu"))
    val bi = bg.filter(col("__is_t"))
      .groupBy("__v", "__w").agg(count(lit(1)).as("__cb"))
    val stats = uni.agg(sum("__cu").cast("double").as("__n"),
      count(lit(1)).cast("double").as("__vo"))
    val biN = bi.select(col("__v"), col("__w"), col("__cb"))
    val uniW = uni.select(col("__w"), col("__cu"))
    val uniV = uni.select(col("__w").as("__v"), col("__cu").as("__cv"))
    bg.join(broadcast(uniW), Seq("__w"), "left")
      .join(broadcast(uniV), Seq("__v"), "left")
      .join(broadcast(biN), Seq("__v", "__w"), "left")
      .crossJoin(broadcast(stats))
      .withColumn("__p",
        lit(lambda) * (coalesce(col("__cb"), lit(0L)) + lit(1)) /
          (coalesce(col("__cv"), lit(0L)) + col("__vo")) +
        lit(1.0 - lambda) * (coalesce(col("__cu"), lit(0L)) + lit(1)) /
          (col("__n") + col("__vo")))
      .groupBy(idCol).agg(
        count(lit(1)).as("n_bigrams"),
        round(-sum(log(col("__p"))), 4).as("nll"))
  }

  // --------------------------------------------------- encoding repair

  /** Mojibake repair (the ftfy `fix_encoding` core, run BEFORE any
    * normalization or language ID): reverses UTF-8-misdecoded-as-
    * cp1252/latin-1 corruption per whitespace-delimited token, iterated
    * to a fixpoint so double-encoded fragments ("ÃƒÂ©") heal too. A
    * token is rewritten only when the full reversal round-trips through
    * a STRICT UTF-8 decode — plain ASCII, genuine non-Latin text and
    * isolated cp1252-range characters pass through untouched. Pure
    * codegen'd scan-side expression (native `fix_mojibake`,
    * GeomImpl.fixMojibake): no shuffle, no UDF — at 100 TB this fuses
    * into the ingest scan like [[scrubPii]].
    */
  def fixMojibake(text: Column): Column =
    graft.functions.FunctionDefs.call("fix_mojibake", text)

  // --------------------------------------------------- readability

  /** Flesch Reading Ease + Flesch-Kincaid grade with fully
    * deterministic, dictionary-free inputs (the replayable variant of
    * the classic battery — an educational-quality signal some curation
    * stacks filter on): words = whitespace-delimited runs, sentences =
    * max(1, count of `.` `!` `?`), syllables = ASCII vowel-group runs
    * ([aeiouy]+, case-folded) with a floor of ONE per word (all-
    * consonant tokens — numbers, initialisms, non-ASCII words — count
    * one syllable). All four counters come from ONE native byte pass
    * (`readability_counts`), bound ONCE in a projection before the
    * formulas (conditional branches get no subexpression elimination).
    * flesch = 206.835 − 1.015·(w/s) − 84.6·(syl/w);
    * fk_grade = 0.39·(w/s) + 11.8·(syl/w) − 15.59. Empty/whitespace
    * text reports zero words and NULL metrics.
    */
  def readability(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val c = graft.functions.FunctionDefs.call("readability_counts", col(textCol))
    df.select(col(idCol), c.as("__rc"))
      .select(col(idCol),
        col("__rc").getItem(0).as("n_words"),
        greatest(col("__rc").getItem(3), lit(1L)).as("n_sentences"),
        (col("__rc").getItem(2) + col("__rc").getItem(1)).as("n_syllables"))
      .select(col(idCol), col("n_words"), col("n_sentences"), col("n_syllables"),
        when(col("n_words") > 0, round(
          lit(206.835) - lit(1.015) * col("n_words") / col("n_sentences")
            - lit(84.6) * col("n_syllables") / col("n_words"), 4)).as("flesch"),
        when(col("n_words") > 0, round(
          lit(0.39) * col("n_words") / col("n_sentences")
            + lit(11.8) * col("n_syllables") / col("n_words") - lit(15.59), 4))
          .as("fk_grade"))
  }

  // ------------------------------------------------------ PII scrubbing

  /** PII patterns (public formats: simplified RFC-5322 email,
    * dotted-quad IPv4, +C-NNN-NNNN phone), written in the regex subset
    * shared by java.util.regex and RE2 (no lookaround, no backrefs) so
    * external engines replay them byte-for-byte.
    */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Pattern = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val phonePattern = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"

  /** Count of matches of one PII pattern. */
  def piiCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0)))

  /** Redact all three PII classes (emails first, so an address's dotted
    * domain can never be half-eaten by the IP pass). Pure codegen'd
    * scan-side column expression — no shuffle, no UDF; at 100 TB this is
    * one narrow map fused into the scan.
    */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailPattern, "<EMAIL>"),
        ipv4Pattern, "<IP>"),
      phonePattern, "<PHONE>")

  // ------------------------------------- adaptive quality thresholding

  /** Per-stratum adaptive quality filtering (the FineWeb / CCNet
    * pattern: a single global cutoff over-prunes low-resource strata, so
    * each language/source gets its own percentile cutoff). Keeps rows
    * whose [[qualityScore]] is ≥ their stratum's q-th DISCRETE
    * percentile (the smallest observed score s with
    * |{score ≤ s}| ≥ ceil(q·n) — integer semantics, no interpolation, so
    * an external engine replays the decision bit-for-bit on the 4-dp
    * contract scores).
    *
    * Scale shape: the quantile is computed on the HISTOGRAM, not by
    * sorting rows — one groupBy(stratum, score) whose result is
    * |strata| × |distinct 4-dp scores| rows (≤ 10k·strata,
    * driver-independent), a small-table window for the cumulative count,
    * and a broadcast join of the per-stratum cutoffs back onto the scan.
    * No corpus-sized sort, no corpus-sized window, no skewed-stratum
    * pinning. Two-pass by construction (the cutoff depends on the full
    * histogram), and each pass evaluates the regex-heavy score EXACTLY
    * once: the keep decision compares through `coalesce`, which is not
    * null-intolerant, so constraint propagation cannot infer an
    * `isnotnull(score)` and push the whole scoring expression down into
    * the probe scan's row filter (measured: that pushdown makes the
    * probe pass evaluate the score twice — 3 total — for ~5× wall at
    * sf1).
    *
    * Returns the kept rows as (idCol, stratum, score, cutoff).
    */
  def adaptiveQualityFilter(df: DataFrame, idCol: String, textCol: String,
                            strataCol: String, q: Double): DataFrame =
    adaptiveQualityFilterScored(
      df.select(col(idCol), col(strataCol),
        qualityScore(col(textCol)).as("score")),
      idCol, strataCol, q)

  /** [[adaptiveQualityFilter]] over an ALREADY-SCORED frame (idCol,
    * strataCol, `score`) — the composed-recipe entry point: when the
    * stratum label and the score are both expensive scans (language ID
    * + the regex-heavy quality score in [[graft.queries.Pipeline.txLangCurate]]),
    * the caller materializes the 3-column projection ONCE
    * (localCheckpoint — corpus-sized but narrow) and the two passes
    * here, plus any downstream mixture recomputation, read the
    * materialized rows instead of re-running the scoring scan per pass
    * (measured: the recompute spelling was 14.6 s vs 2.5 s at sf0.1).
    */
  def adaptiveQualityFilterScored(scored: DataFrame, idCol: String,
                                  strataCol: String, q: Double): DataFrame = {
    require(q > 0.0 && q < 1.0, s"quantile q=$q must be in (0,1)")
    // null scores (null text) are excluded from the histogram — Spark's
    // window default is NULLS FIRST, an external engine's is NULLS LAST,
    // so letting nulls into the cumulative counts would give the two
    // engines different per-stratum cutoffs; a null score can never be
    // kept anyway (the keep comparison below is null-rejecting), so
    // dropping it here keeps __n and __cum meaning "scored rows" in both.
    val hist = scored.filter(col("score").isNotNull)
      .groupBy(col(strataCol), col("score"))
      .agg(count(lit(1)).as("__c"))
    // cumulative count in score order within each stratum: the window
    // runs over the histogram (thousands of rows), never the corpus
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCol).orderBy("score")
    val cum = hist.select(col(strataCol), col("score"),
      sum(col("__c")).over(w).as("__cum"),
      sum(col("__c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(strataCol))
        .as("__n"))
    val cutoffs = cum
      .filter(col("__cum") >= ceil(lit(q) * col("__n")))
      .groupBy(col(strataCol)).agg(min(col("score")).as("cutoff"))
    scored.join(broadcast(cutoffs), strataCol)
      // coalesce = the pushdown guard documented above (a null score —
      // null text — never passes either way)
      .filter(coalesce(col("score"), lit(Double.MinValue)) >= col("cutoff"))
      .select(col(idCol), col(strataCol), col("score"), col("cutoff"))
  }

  // ------------------------- weighted sampling without replacement

  /** Efraimidis–Spirakis A-ES weighted sampling WITHOUT replacement:
    * each row gets key = ln(u) / w (u ∈ (0,1) uniform, w > 0 the row's
    * weight) and the k LARGEST keys are the sample — provably equivalent
    * to sequential weighted draws without replacement (Efraimidis &
    * Spirakis 2006, IPL 97(5); the ln form is the monotone transform of
    * their u^(1/w)). u comes from the same exact-integer multiplicative
    * hash as [[sampleByStrata]], so the draw is deterministic under
    * re-runs and repartitioning.
    *
    * Scale shape: scan-side key computation + one distributed
    * TakeOrdered top-k — ≤ k rows per partition cross the wire, no
    * global sort. k is a driver-sized artifact (a sample, not a corpus).
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: Column,
                     k: Int, salt: Long = 0L): DataFrame = {
    // map hash 0..p-1 into (0,1): (h+1)/(p+1) keeps u strictly positive
    // so ln(u) is finite
    val u = (detDraw(col(idCol), salt) + lit(1.0)) / lit(1000000008.0)
    df.withColumn("__es_key", log(u) / weightCol)
      .orderBy(col("__es_key").desc, col(idCol))
      .limit(k)
  }

  // --------------------------------------- vocabulary / Zipf coverage

  /** Token-frequency head with cumulative corpus coverage — the
    * tokenizer-design diagnostic (what fraction of all token occurrences
    * do the top-N types cover?). One explode + partial-aggregated
    * groupBy(token); the top-N cut is a distributed TakeOrdered (count
    * desc, token asc — total order, deterministic); the cumulative sum
    * runs over N rows on a single partition (N is driver-sized).
    * Returns (rank, token, n_occurrences, coverage) with coverage =
    * cumulative occurrences / total occurrences rounded 6dp.
    */
  def vocabCoverage(df: DataFrame, textCol: String, topN: Int): DataFrame = {
    val tokens = df.select(explode(split(col(textCol), " ")).as("token"))
    val counts = tokens.groupBy("token").agg(count(lit(1)).as("n_occurrences"))
    val total = counts.agg(sum(col("n_occurrences")).as("__total"))
    val top = counts.orderBy(col("n_occurrences").desc, col("token")).limit(topN)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_occurrences").desc, col("token"))
    top.crossJoin(broadcast(total))
      .select(
        row_number().over(w).as("rank"),
        col("token"), col("n_occurrences"),
        round(sum(col("n_occurrences")).over(w) / col("__total"), 6)
          .as("coverage"))
  }

  /** Collocation extraction via pointwise mutual information — the
    * classic corpus-linguistics signal for multi-word terms and for
    * spotting template/boilerplate word pairs in a training corpus:
    * PMI(a,b) = ln( p(ab) / (p(a)·p(b)) ) with p(ab) from adjacent-pair
    * counts and p(·) from unigram counts.
    *
    * Shape: TWO partial-aggregated count passes (unigrams, adjacent
    * bigrams — each a map-side-combined groupBy), the two 1-row totals
    * broadcast back, and a broadcast join of each bigram to its two
    * unigram counts (vocabulary-sized, alphabet-bounded — the same
    * broadcast argument as the edit-distance gram table). All counts
    * are exact longs; the PMI arithmetic is a fixed double expression
    * an oracle replays (long→double casts are deterministic).
    * `minCount` suppresses the noise pairs PMI is notorious for.
    */
  def pmiCollocations(df: DataFrame, textCol: String,
                      minCount: Long, topN: Int): DataFrame = {
    val toks = df.filter(col(textCol).isNotNull)
      .select(split(col(textCol), " ").as("__t"))
    val uni = toks.select(explode(col("__t")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("c_w"))
    val nUni = uni.agg(sum(col("c_w")).as("__nu"))
    val bi = toks.filter(size(col("__t")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(__t) - 1), " +
          "i -> struct(element_at(__t, i) AS w1, element_at(__t, i + 1) AS w2))"))
        .as("__p"))
      .select(col("__p.w1").as("w1"), col("__p.w2").as("w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "")
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
    // p(ab) normalizes over ALL bigrams — the total is taken before
    // the min-count noise filter
    val nBi = bi.agg(sum(col("c_ab")).as("__nb"))
    val biKept = bi.filter(col("c_ab") >= minCount)
    val joined = biKept
      .join(broadcast(uni.select(col("w").as("w1"), col("c_w").as("c_a"))), "w1")
      .join(broadcast(uni.select(col("w").as("w2"), col("c_w").as("c_b"))), "w2")
      .crossJoin(broadcast(nUni)).crossJoin(broadcast(nBi))
    joined.select(col("w1"), col("w2"), col("c_ab"),
        (round(log(
          (col("c_ab").cast("double") * col("__nu").cast("double") * col("__nu").cast("double")) /
            (col("c_a").cast("double") * col("c_b").cast("double") * col("__nb").cast("double"))), 6)
          + lit(0.0)).as("pmi_r"))
      .orderBy(col("pmi_r").desc, col("w1"), col("w2"))
      .limit(topN)
  }

  // -------------------------------------- entropy / repetition signals

  /** Byte-distribution curation signals — the "is this text actually
    * language" battery (filler, padding, base64 blobs, template spam):
    * Shannon entropy in bits/byte, alphabet size, top-byte dominance.
    * All scan-side native one-pass expressions
    * ([[graft.functions.GeomImpl.byteEntropy]] family), no explode, no
    * shuffle — the 100 TB cost is exactly one read of the text column.
    */
  def entropySignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    import graft.functions.FunctionDefs.call
    df.select(
      col(idCol),
      length(t).cast("long").as("n_chars"),
      call("distinct_byte_count", t).as("n_distinct_chars"),
      round(call("top_byte_count", t) * lit(1.0) / length(t), 6)
        .as("top_char_frac"),
      round(call("byte_entropy", t), 4).as("entropy_bits"))
  }

  /** Deflate compression ratio (compressed bytes / raw UTF-8 bytes) —
    * the Gopher/RefinedWeb repetitive-content detector: boilerplate,
    * template spam and repeated fragments compress far below prose
    * (ratio → 0), while encrypted/binary junk doesn't compress at all
    * (ratio → 1). One zlib pass per document on the scan side,
    * composed from the native `st_deflate` codec (r15: the earlier
    * Scala-UDF spelling replaced — native expressions stay inside
    * whole-stage codegen and off the UDF serialization path); empty
    * text → ratio 1.0, NULL → NULL. zlib output bytes are not
    * SQL-replayable, so the `tx_compress` query is rows-only with the
    * `tx_compress_check` invariants twin (roundtrip, worst-case bound,
    * self-similarity) oracle-green; thresholding belongs to the caller
    * (e.g. compose with [[adaptiveQualityFilter]]).
    */
  def compressionRatio(t: Column): Column = {
    val raw = octet_length(t)
    val comp = octet_length(graft.functions.st.deflate(t.cast("binary")))
    when(raw > 0, comp.cast("double") / raw.cast("double"))
      .when(raw === 0, 1.0)
  }

  // ------------------------------------------- URL canonicalization

  /** Canonical URL key for web-corpus dedup/grouping (the Common-Crawl
    * curation normalizations, each spelled as codegen'd builtins so an
    * external engine replays them): lowercase scheme+host, strip a
    * leading `www.`, drop default ports (:80/:443), drop the fragment,
    * drop tracking params (utm_*, fbclid, gclid, ref), sort surviving
    * query params byte-wise, strip one trailing `/` from the path.
    * Malformed inputs (no `://`) pass through lowercased-trimmed — a
    * dedup key must never throw. Pure scan-side expression: split /
    * array_sort / regexp in the java.util.regex∩RE2 subset, no UDF.
    */
  def canonicalUrl(url: Column): Column = {
    val trimmed = trim(url)
    val scheme = lower(regexp_extract(trimmed, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val rest = regexp_replace(trimmed, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    // authority = up to first '/', '?' or '#'; remainder keeps its marker
    val authority = regexp_extract(rest, "^([^/?#]*)", 1)
    val afterAuth = rest.substr(length(authority) + 1, length(rest))
    val host0 = lower(authority)
    val host1 = regexp_replace(host0, "^www\\.", "")
    val host = regexp_replace(host1, ":(80|443)$", "")
    val noFrag = regexp_replace(afterAuth, "#.*$", "")
    val path0 = regexp_extract(noFrag, "^([^?]*)", 1)
    val path = when(path0 === "" || path0 === "/", lit(""))
      .otherwise(regexp_replace(path0, "/$", ""))
    val query = regexp_extract(noFrag, "\\?(.*)$", 1)
    val keptParams = array_sort(filter(split(query, "&"), p =>
      !(p.rlike("^(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)=") || p === "")))
    val queryCanon = when(size(keptParams) > 0,
      concat(lit("?"), array_join(keptParams, "&"))).otherwise(lit(""))
    when(scheme === "", lower(trimmed))
      .otherwise(concat(scheme, lit("://"), host, path, queryCanon))
  }

  /** Registrable host of a canonical URL (the per-site grouping key for
    * host-level stats/blocklists); empty string when no scheme parses.
    */
  def urlHost(url: Column): Column = {
    val canon = canonicalUrl(url)
    when(canon.rlike("^[a-z][a-z0-9+.-]*://"),
      regexp_extract(canon, "^[a-z][a-z0-9+.-]*://([^/?#]*)", 1))
      .otherwise(lit(""))
  }

  // ------------------------------------------- line-level corpus dedup

  /** Keep-first LINE-level corpus dedup — the CCNet paragraph dedup
    * step (Wenzek et al. 2020: hash every paragraph, drop every
    * occurrence after the first seen anywhere in the corpus). The unit
    * is a `delim`-separated line; "first" is the global minimum of
    * (doc, position) over the line's occurrences — deterministic and
    * order-independent, so the operator is restart- and
    * partitioning-stable. Within-doc repeats of a line dedup too
    * (occurrence 2+ drops even when all occurrences share a doc) —
    * exactly the global-hash-set semantics of the reference pipeline.
    * EMPTY and whitespace-only lines are exempt (they always survive):
    * blank lines are document STRUCTURE, not content — deduping them
    * would collapse paragraph breaks corpus-wide after the first blank
    * line ever seen (the empty-paragraph carve-out real pipelines make).
    * Complements [[scrubSpans]] (word n-gram excision, ≥2-distinct-doc
    * rule) with the line-granular keep-ONE rule real crawl curation
    * runs first.
    *
    * Shape: lines explode once with positions; the keep decision is a
    * min(struct(doc, pos)) WINDOW over a 64-bit xxhash64 line key —
    * one corpus-sized shuffle that ALSO routes the line text needed
    * for reassembly (keying by hash instead of the line string keeps
    * the routing key 8 bytes; a 2⁻⁶⁴-per-pair collision could merge
    * two lines' groups — same accepted risk, same rationale as
    * [[spanCoverage]]'s gram keys; the string-keyed oracle stays
    * hash-green at every verify sf). min() windows stream without
    * buffering the frame, so a corpus-wide boilerplate line lands one
    * task but bounded memory (the spanCoverage heavy-hitter caveat).
    * BLANK lines — exempt by contract, a constant fraction of a web
    * corpus, and all sharing one hash — get (doc, pos) salted into
    * their window key, so each is its own singleton partition: no
    * guaranteed corpus-sized hot key from paragraph breaks (ADVICE
    * r12). Salting beats the route-around-the-window union spelling
    * because it keeps ONE pass over the corpus text (a filtered union
    * branch re-scans the source; the blank rows must reach the
    * reassembly shuffle regardless, so the only real saving on offer
    * was the hot key, which the salt removes).
    * Reassembly is one groupBy(doc): survivors collect (bounded by doc
    * length — the chunking bound) and rebuild in position order.
    * Total: two shuffles, no all-pairs anywhere.
    *
    * Output: (idCol, n_lines, n_removed, removed_frac, text_dedup).
    */
  def dedupLines(df: DataFrame, idCol: String, textCol: String,
                 delim: String = "\n"): DataFrame = {
    val lines = df
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(delim)))
          .as(Seq("__pos", "__l")))
    // blanks: unique (doc, pos) subkey → singleton groups (min = self ⇒
    // keep, matching the exemption); content: (hash, null) as before
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(xxhash64(col("__l")),
        when(trim(col("__l")) === "", struct(col("__id"), col("__pos"))))
    val flagged = lines
      .withColumn("__mn", min(struct(col("__id"), col("__pos"))).over(w))
      .withColumn("__keep",
        (col("__mn.__id") === col("__id") && col("__mn.__pos") === col("__pos"))
          || trim(col("__l")) === "")
    flagged.groupBy(col("__id").as(idCol))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("__keep"), 0L).otherwise(1L)).as("n_removed"),
        array_sort(collect_list(when(col("__keep"),
          struct(col("__pos"), col("__l"))))).as("__kept"))
      .select(col(idCol),
        col("n_lines"),
        col("n_removed"),
        (round(col("n_removed") / col("n_lines"), 6) + lit(0.0))
          .as("removed_frac"),
        array_join(transform(col("__kept"), s => s("__l")), delim)
          .as("text_dedup"))
  }

  /** MUTABLE history state for [[dedupLinesIncremental]]: the m-bit
    * Bloom filter and the MATERIALIZED (localCheckpoint) distinct line
    * digest table. Build ONCE per maintenance cycle via
    * [[prepareLineHistory]] — the foreachBatch streaming form must not
    * rescan a 100 TB history on every trigger; with this state each
    * micro-batch costs only its own lines plus the digest probe.
    * [[append]] folds a processed batch back in, closing the
    * probe→dedup→append lifecycle (the [[graft.streaming.NearDupStream]]
    * shape): with it the CCNet hash set survives across TRIGGERS, not
    * just across maintenance cycles — a line first seen in micro-batch
    * N is dropped from micro-batch N+1 (r12 verdict task 2). Release
    * with [[release]] when the cycle rolls (checkpoint blocks are
    * pinned until then). Single-writer, like every maintainer here.
    */
  final class LineHistory private[ops] (
      @volatile private var bloomBytes: Array[Byte],
      @volatile private var digestTable: DataFrame,
      val numHashes: Int) {
    /** Current filter bits (byte-OR-merged across appends). */
    def bloom: Array[Byte] = bloomBytes
    /** Current distinct (md5 digest, 1) membership table. */
    def digests: DataFrame = digestTable
    /** Effective filter geometry — implied by the buffer length, so
      * [[append]] can never disagree with the build (the `bloom_agg`
      * contract: effective m = 8 · buffer bytes).
      */
    def numBits: Long = bloomBytes.length.toLong * 8L

    /** Fold a batch's lines into the history. The Bloom side is exact
      * algebra: `bloom_agg` over the batch at THIS state's geometry,
      * byte-OR'd into the current bits (the aggregate's own merge op,
      * so filter(history ∪ batch) = filter(history) | filter(batch)
      * bit-for-bit). The digest side swaps generations:
      * union → distinct → localCheckpoint, then the PREVIOUS
      * generation's blocks release — a long-lived stream pins one
      * digest table, not one per trigger. Cost is the batch's own
      * lines (one batch read feeds both jobs); history is never
      * rescanned. Call AFTER deduping the batch — append-first would
      * flag the batch's own lines as historical and drop them all.
      */
    def append(batch: DataFrame, textCol: String,
               delim: String = "\n"): Unit = {
      import graft.functions.FunctionDefs.callAgg
      val q = java.util.regex.Pattern.quote(delim)
      val batchLines = batch.filter(col(textCol).isNotNull)
        .select(explode(split(col(textCol), q)).as("__l"))
        .filter(trim(col("__l")) =!= "")
        .localCheckpoint()
      val bf = batchLines
        .agg(callAgg("bloom_agg", xxhash64(col("__l")),
          lit(numBits), lit(numHashes)).as("bf"))
        .head().getAs[Array[Byte]]("bf")
      require(bf.length == bloomBytes.length,
        s"LineHistory.append: filter geometry drift (${bf.length} vs ${bloomBytes.length} bytes)")
      // new array + reference swap, never in-place: an in-flight dedup
      // plan holds the previous array as a literal
      val merged = new Array[Byte](bloomBytes.length)
      var i = 0
      while (i < merged.length) {
        merged(i) = (bloomBytes(i) | bf(i)).toByte; i += 1
      }
      val next = digestTable
        .unionByName(batchLines.select(md5(col("__l")).as("__hh"))
          .withColumn("__seen", lit(1)))
        .dropDuplicates("__hh")
        .localCheckpoint()
      val previous = digestTable
      digestTable = next
      bloomBytes = merged
      org.apache.spark.sql.GraftBridge.unpersistCheckpoint(previous)
      org.apache.spark.sql.GraftBridge.unpersistCheckpoint(batchLines)
    }

    def release(): Unit =
      org.apache.spark.sql.GraftBridge.unpersistCheckpoint(digestTable)
  }

  /** Assemble a [[LineHistory]] from externally-persisted state — the
    * [[graft.sources.LineIndex]] probe path (its digest frame reads
    * from parquet, so release() is a no-op there by design).
    */
  private[graft] def lineHistoryFrom(bloom: Array[Byte], digests: DataFrame,
                                     numHashes: Int): LineHistory =
    new LineHistory(bloom, digests, numHashes)

  /** Build the [[LineHistory]] state. ONE pass over the history corpus
    * feeds both halves: the exploded non-blank lines localCheckpoint
    * first (the corpus read happens exactly once, at that
    * materialization), then the `bloom_agg` head() and the
    * distinct-digest checkpoint run as two cheap jobs over the
    * materialized lines, whose blocks release before returning
    * (ADVICE r12 — the two actions previously each re-scanned history).
    * The trade is explicit: the line blocks hold one copy of the
    * corpus text in MEMORY_AND_DISK for the duration of this call,
    * which is what "read 100 TB once instead of twice" costs.
    */
  def prepareLineHistory(history: DataFrame, textCol: String,
                         delim: String = "\n",
                         numBits: Long = 1L << 23,
                         numHashes: Int = 5): LineHistory = {
    import graft.functions.FunctionDefs.callAgg
    val q = java.util.regex.Pattern.quote(delim)
    val histLines = history.filter(col(textCol).isNotNull)
      .select(explode(split(col(textCol), q)).as("__l"))
      .filter(trim(col("__l")) =!= "")
      .localCheckpoint()
    val bloom = histLines
      .agg(callAgg("bloom_agg", xxhash64(col("__l")),
        lit(numBits), lit(numHashes)).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val digests = histLines.select(md5(col("__l")).as("__hh")).distinct()
      .withColumn("__seen", lit(1))
      .localCheckpoint()
    org.apache.spark.sql.GraftBridge.unpersistCheckpoint(histLines)
    new LineHistory(bloom, digests, numHashes)
  }

  /** One-shot convenience form — for REPEATED batches (the foreachBatch
    * stream) use [[prepareLineHistory]] once + the [[LineHistory]]
    * overload (+ [[LineHistory.append]]) instead: this form pays the
    * history scan on every call AND intentionally never releases the
    * localCheckpoint'd digest table it builds (the returned frame reads
    * through it and a local checkpoint cannot recompute after
    * unpersist), so repeated calls in a long-lived session accumulate
    * pinned blocks until the frames are GC'd (ADVICE r12).
    */
  def dedupLinesIncremental(history: DataFrame, batch: DataFrame,
                            idCol: String, textCol: String,
                            delim: String = "\n",
                            numBits: Long = 1L << 23,
                            numHashes: Int = 5): DataFrame = {
    val st = prepareLineHistory(history, textCol, delim, numBits, numHashes)
    // no release() here: the returned frame reads THROUGH the
    // checkpointed digests and a local checkpoint cannot recompute
    // after unpersist — the blocks must outlive the caller's terminal
    // action (they are GC'd with the RDD when the frame is dropped)
    dedupLinesIncremental(st, batch, idCol, textCol, delim)
  }

  /** [[dedupLines]] against a PERSISTED history — the continuous-ingest
    * twin (the CCNet hash set survives across batches): a batch line is
    * removed when it already exists ANYWHERE in the history corpus, or
    * when it is a non-first occurrence within the batch itself; blank
    * lines stay structure-exempt. Flags are EXACT — history membership
    * goes through [[graft.ops.Dedup.incrementalNovel]]'s Bloom-gate
    * shape (one m-bit `bloom_agg` filter rides the plan as a literal;
    * a Bloom "no" has no false negatives, so definite-novel lines
    * never join; only the maybe minority pays the md5 verification
    * join against history's DISTINCT line digests), so the filter only
    * routes work, never decides it. Within-batch keep-first is the
    * dedupLines min-struct window on the batch's own (small) line set.
    * 100 TB: history is read once per maintenance cycle
    * ([[prepareLineHistory]]); each arriving batch costs its own lines
    * plus the digest probe against the MATERIALIZED table.
    * Output: (idCol, n_lines, n_removed_history, n_removed_batch,
    * text_dedup) for the BATCH docs.
    */
  def dedupLinesIncremental(state: LineHistory, batch: DataFrame,
                            idCol: String, textCol: String,
                            delim: String): DataFrame = {
    import graft.functions.FunctionDefs.call
    val q = java.util.regex.Pattern.quote(delim)
    val lines = batch.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
        posexplode(split(col(textCol), q)).as(Seq("__pos", "__l")))
    // blanks salt to singleton window groups — no paragraph-break hot
    // key, one scan (the dedupLines rationale)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(xxhash64(col("__l")),
        when(trim(col("__l")) === "", struct(col("__id"), col("__pos"))))
    val flagged = lines
      .withColumn("__blank", trim(col("__l")) === "")
      .withColumn("__mn", min(struct(col("__id"), col("__pos"))).over(w))
      .withColumn("__first",
        col("__mn.__id") === col("__id") && col("__mn.__pos") === col("__pos"))
      .withColumn("__maybe", !col("__blank") &&
        call("bloom_contains", lit(state.bloom), xxhash64(col("__l")),
          lit(state.numHashes)))
    val histDigests = state.digests
    // definite-novel lines never touch the digest join; the maybe
    // minority (true dups + the fp rate) verifies exactly on md5
    val noMaybe = flagged.filter(!col("__maybe"))
      .withColumn("__hist", lit(false))
    val maybes = flagged.filter(col("__maybe"))
      .withColumn("__hmd", md5(col("__l")))
      .join(histDigests, col("__hmd") === col("__hh"), "left")
      .withColumn("__hist", col("__seen").isNotNull)
      .drop("__hmd", "__hh", "__seen")
    noMaybe.unionByName(maybes)
      .withColumn("__keep",
        col("__blank") || (!col("__hist") && col("__first")))
      .groupBy(col("__id").as(idCol))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("__hist"), 1L).otherwise(0L)).as("n_removed_history"),
        sum(when(!col("__hist") && !col("__keep"), 1L).otherwise(0L))
          .as("n_removed_batch"),
        array_sort(collect_list(when(col("__keep"),
          struct(col("__pos"), col("__l"))))).as("__kept"))
      .select(col(idCol), col("n_lines"),
        col("n_removed_history"), col("n_removed_batch"),
        array_join(transform(col("__kept"), s => s("__l")), delim)
          .as("text_dedup"))
  }

  // ------------------------------------------- HTML text extraction

  /** HTML → plain-text extraction — the crawl-curation front door
    * (WET-file / trafilatura-class step, reduced to the part that is
    * exactly replayable in ANSI SQL): script and style elements drop
    * whole (their character data is code, not text), comments drop,
    * every remaining tag becomes a space, the five ubiquitous
    * character entities decode (`&lt; &gt; &quot; &#39; &nbsp;`, then
    * `&amp;` LAST so `&amp;lt;` correctly yields the literal `&lt;`),
    * and whitespace collapses to single spaces. Pure scan-side
    * codegen'd regexp chain in the java.util.regex ∩ RE2 subset (the
    * [[scrubPii]] contract) — no UDF, no shuffle; the 100 TB cost is
    * one read of the column. Not a full HTML5 parser by design:
    * malformed markup degrades to extra whitespace, never to a throw.
    */
  def extractHtml(html: Column): Column =
    trim(regexp_replace(decodeEntities(stripMarkup(html, blocks = false)),
      "\\s+", " "))

  /** [[extractHtml]] preserving BLOCK structure — the form the line
    * operators compose with (real WET extraction emits one line per
    * block): closing block tags (`</p> </div> </h1..6> </li> </tr>
    * </table> </ul> </ol> </blockquote>`) and `<br>`/`<hr>` become
    * newlines BEFORE the generic tag strip, so paragraphs survive as
    * lines; spaces/tabs collapse per line, spaces trim around
    * newlines, runs of 3+ newlines squeeze to a paragraph break, and
    * leading/trailing whitespace drops. Same scan-side
    * java.util.regex ∩ RE2 chain, same entity decoding. Feed the
    * result to [[dropBoilerplateLines]] / [[dedupLines]] — the
    * extraction → boilerplate → line-dedup web-curation path.
    */
  def extractHtmlBlocks(html: Column): Column = {
    val decoded = decodeEntities(stripMarkup(html, blocks = true))
    val sp = regexp_replace(decoded, "[ \t]+", " ")
    val nl = regexp_replace(sp, " ?\n ?", "\n")
    val squeezed = regexp_replace(nl, "\n{3,}", "\n\n")
    regexp_replace(squeezed, "^[\n ]+|[\n ]+$", "")
  }

  /** Shared markup strip: script/style/comment bodies drop whole
    * (DOTALL — they routinely span newlines), then either every tag
    * becomes a space (`blocks = false`) or block-closing tags become
    * newlines first (`blocks = true`).
    */
  private def stripMarkup(html: Column, blocks: Boolean): Column = {
    val noScript = regexp_replace(html, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val staged =
      if (blocks)
        regexp_replace(noComment,
          "(?i)<(?:br|hr)[^>]*>|</(?:p|div|h[1-6]|li|tr|table|ul|ol|blockquote)>",
          "\n")
      else noComment
    regexp_replace(staged, "<[^>]*>", " ")
  }

  /** The five ubiquitous entities + `&amp;` LAST (so `&amp;lt;`
    * correctly yields the literal text `&lt;`).
    */
  private def decodeEntities(c0: Column): Column =
    Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(c0) { case (c, (ent, ch)) =>
        // entity spellings contain no regex metacharacters; the
        // replacement backslash-escape covers the quote literal
        regexp_replace(c, ent, java.util.regex.Matcher.quoteReplacement(ch))
      }

  /** The line-keep predicate behind [[dropBoilerplateLines]], exposed
    * so callers can count kept lines on the ARRAY (join-then-resplit
    * cannot distinguish "no lines" from "one blank line"). A word is
    * an ALNUM-BEARING token — separator tokens (`|`, `---`, `»`) do
    * not count, so `Terms | Privacy | Sitemap` is 3 words, not 5: the
    * exact nav-crumb class the rule exists for.
    */
  def keepLine(l: Column, minWords: Int = 5,
               maxUpperFrac: Double = 0.5): Column = {
    // native one-byte-pass counts (GeomImpl.alnumTokenCount/
    // letterCount/upperCount) — exact integer twins of
    // size(filter(split(trim(l), " +"), w -> w rlike '[A-Za-z0-9]')),
    // length(regexp_replace(l, "[^A-Za-z]", "")) and the [^A-Z] form,
    // so SQL oracles keep the regex spelling while the engine path
    // runs no regex engine (the qualityScore hot-path contract;
    // measured 3.8 µs/line → ~0.1 µs/line on the 7M-line corpus)
    import graft.functions.FunctionDefs.call
    val words = call("alnum_token_count", l)
    val letters = call("letter_count", l)
    val uppers = call("upper_count", l)
    (trim(l) === "") || (words >= minWords && letters > 0 &&
      uppers.cast("double") / letters <= maxUpperFrac)
  }

  /** Boilerplate LINE filter — the justext/trafilatura rule core that
    * follows [[extractHtml]] in a real WET pipeline, reduced to the
    * exactly-SQL-replayable heuristics: a line is boilerplate when it
    * has fewer than `minWords` alnum-bearing words (nav crumbs,
    * buttons, copyright stubs — separator tokens don't count), or
    * when more than `maxUpperFrac` of its letters are uppercase
    * (SHOUTING headers/menus; a line with NO letters counts as
    * boilerplate — pure digits/punct separators). Pure scan-side
    * higher-order-function expression — split to lines, filter,
    * rejoin; NO shuffle, no UDF: the 100 TB cost is one read of the
    * column. Keeps blank lines (paragraph structure — the
    * [[dedupLines]] carve-out) so a later line-granular pass still
    * sees breaks.
    */
  def dropBoilerplateLines(text: Column, delim: String = "\n",
                           minWords: Int = 5,
                           maxUpperFrac: Double = 0.5): Column = {
    val q = java.util.regex.Pattern.quote(delim)
    array_join(
      filter(split(text, q), l => keepLine(l, minWords, maxUpperFrac)),
      delim)
  }

  // --------------------------------------- deterministic shuffle-shard

  /** Deterministic corpus shuffle + sharding — the last step of every
    * training-data pipeline: assign each row a pseudo-random but
    * REPRODUCIBLE position (shard, seq) so the training order is a
    * uniform permutation that any run, any engine, any partitioning
    * reproduces bit-for-bit from (corpus, seed). Key = md5(id ":"
    * seed) — cryptographic mixing, so sorting by it IS the
    * permutation; shard = first 32 key bits mod numShards (uniform,
    * key-derived, so a shard is itself a uniform sample of the
    * corpus); seq = rank of the key within the shard.
    *
    * Shape at 100 TB: ONE hash shuffle on shard + a per-shard
    * row_number window — parallelism = numShards, so size numShards to
    * at least the cluster's task slots (thousands of shards is the
    * production norm: shard files are also the unit of training-job
    * resume). No global sort, no driver sequencing; the window sorts
    * within each shard only. Ties cannot occur (the key embeds id via
    * md5 and id breaks any residual tie), so seq is total and stable.
    */
  def shuffleShards(df: DataFrame, idCol: String, numShards: Int,
                    seed: Long): DataFrame = {
    require(numShards > 0, "shuffleShards: numShards must be positive")
    // loud failure over silent clobber (the schema-collision contract
    // used across the sources): withColumn REPLACES same-named columns,
    // so a corpus already carrying shard/seq would lose them quietly
    val clash = Seq("shard", "seq", "__key").filter(df.columns.contains)
    require(clash.isEmpty,
      s"shuffleShards: input already has column(s) ${clash.mkString(", ")} — " +
        "rename them first (the output adds its own shard, seq)")
    val key = md5(concat(col(idCol).cast("string"), lit(":" + seed)))
    val shard = (conv(substring(key, 1, 8), 16, 10).cast("long")
      % numShards).cast("int")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("__key"), col(idCol))
    df.withColumn("__key", key)
      .withColumn("shard", shard)
      .withColumn("seq", row_number().over(w))
      .drop("__key")
  }
}
