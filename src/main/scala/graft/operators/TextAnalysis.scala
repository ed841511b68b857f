package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Text analysis for a training-data pipeline (SURVEY §2.9 L1):
 * token counting (whitespace + regex "BPE-ish"), quality scoring,
 * marker-word language ID, and document fingerprinting. All pure
 * column expressions — scan-only, codegen'd, no shuffle.
 */
object TextAnalysis {

  /** Whitespace token count. */
  def tokenCountWs(text: Column): Column =
    size(split(text, "\\s+")).cast("long")

  /**
   * Canonical text normalization — the cleaning stage ahead of
   * fingerprinting/dedup: lowercase, non-alphanumerics to spaces,
   * whitespace runs collapsed, ends trimmed. Three codegen'd regex passes,
   * portable (same result in any POSIX-class regex engine).
   */
  def cleanText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", " "), "\\s+", " "))

  /**
   * Regex token count: word runs or single non-space punctuation — the
   * shape of a byte-pair-encoding pretokenizer's split.
   */
  def tokenCountRe(text: Column): Column =
    size(regexp_extract_all(text, lit("\\w+|[^\\w\\s]"), lit(0))).cast("long")

  /** Count of non-overlapping occurrences of a literal marker in text. */
  def occurrences(text: Column, marker: String): Column =
    ((length(text) - length(call_function("replace", text, lit(marker), lit(""))))
      / marker.length).cast("long")

  /**
   * Marker-word language ID: score = summed occurrence mass of per-language
   * stopword markers over the space-padded text; argmax wins, ties resolved
   * in declaration order, all-zero scores → "unknown".
   */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " a "),
    "de" -> Seq(" der ", " und "),
    "es" -> Seq(" el ", " y "),
    "fr" -> Seq(" le ", " et "))

  def langScore(text: Column, markers: Seq[String]): Column = {
    val padded = concat(lit(" "), text, lit(" "))
    markers.map(m => occurrences(padded, m)).reduce(_ + _)
  }

  def langId(text: Column): Column = {
    val scores = langMarkers.map { case (lang, ms) => lang -> langScore(text, ms) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldLeft(when(best <= 0, lit("unknown"))) { case (acc, (lang, sc)) =>
      acc.when(sc === best, lit(lang))
    }.otherwise(lit("unknown"))
  }

  /** Mean token length (separators excluded); double, exact integer inputs. */
  def avgTokenLen(text: Column): Column = {
    val toks = tokenCountWs(text)
    (length(regexp_replace(text, "\\s+", "")).cast("double") / toks)
  }

  /**
   * Quality score in [0,1]: half point for a sane token count, half for a
   * sane mean token length — the shape of the usual heuristic prefilters.
   */
  def qualityScore(text: Column): Column = {
    val toks = tokenCountWs(text)
    val avgLen = avgTokenLen(text)
    (when(toks.between(20, 10000), 0.5).otherwise(0.0)
      + when(avgLen.between(3.0, 8.0), 0.5).otherwise(0.0))
  }

  /**
   * Intra-document repetition ratio over word n-grams: the fraction of
   * n-gram OCCURRENCES that repeat an earlier occurrence (0 = all
   * distinct, → 1 = highly repetitive) — the Gopher-style repetition
   * prefilter signal. Takes the tokenized word array (see the
   * Dedup.shingles hot-path note on projecting it separately).
   */
  def repetitionRatio(words: Column, n: Int): Column = {
    val grams = Dedup.rawShinglesFromWords(words, n)
    lit(1.0) - size(array_distinct(grams)).cast("double") / size(grams)
  }

  /**
   * Polynomial rolling hash (Rabin-Karp base 31, mod 1e9+7) over the
   * text's character codes — the classic incremental document fingerprint.
   * Pure integer arithmetic with a bounded accumulator (< 3.2e10, ANSI-
   * safe), so any engine folding left-to-right reproduces it exactly.
   */
  def rollingHash(text: Column): Column = {
    val chars = filter(split(text, ""), c => c =!= lit(""))
    aggregate(transform(chars, c => ascii(c).cast("long")), lit(0L),
      (acc, c) => (acc * 31 + c) % 1000000007L)
  }

  /** Email detector (ASCII pattern, same regex dialect in Java and RE2). */
  val emailPattern = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  /** North-American-style phone detector. */
  val phonePattern = "\\d{3}[-. ]\\d{3}[-. ]\\d{4}"

  def hasEmail(text: Column): Column = text.rlike(emailPattern)
  def hasPhone(text: Column): Column = text.rlike(phonePattern)

  /**
   * In-text PII redaction — the free-text twin of the reference's
   * column-level masking (query-builder.ts applies strategies to whole
   * columns; training text needs the PII scrubbed INSIDE the string):
   * every email / phone match is replaced by a typed placeholder. A
   * scan-local codegen'd projection (two regexp_replace passes), zero
   * shuffles — it composes into any pipeline the way q_clean_text does.
   * Both patterns are ASCII and dialect-portable (same semantics in
   * Java regex and RE2), so the transform oracle-checks wherever the
   * data actually carries PII.
   */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, emailPattern, "[EMAIL]"),
      phonePattern, "[PHONE]")

  /** Every http(s) URL in the text, in order (a URL runs to the next
    * whitespace — trailing punctuation is the caller's policy, as in C4's
    * line-based pipeline). Dialect-portable pattern. */
  def extractUrls(text: Column): Column =
    regexp_extract_all(text, lit("https?://[^\\s]+"), lit(0))

  /**
   * Canonical host of a URL for domain-level filtering/stats: the
   * authority component (up to the first `/`, `?` or `#`), lowercased,
   * with one leading `www.` stripped. A port is kept — `host:8080` and
   * `host` are different origins, and folding them is a policy choice the
   * caller can layer on. Non-URL input yields the empty string.
   */
  def canonicalHost(url: Column): Column =
    regexp_replace(
      lower(regexp_extract(url, "^https?://([^/?#]+)", 1)),
      "^www\\.", "")

  /** `<script>`/`<style>` elements WITH their bodies (dotall + lazy body so
    * a `<` inside inline code cannot end the match early). Two patterns, not
    * one backreferenced `</\1>` — RE2 engines (the DuckDB oracle's dialect)
    * have no backreferences, and portability is the contract here. */
  val scriptPattern = "(?is)<script[^>]*>.*?</script>"
  val stylePattern = "(?is)<style[^>]*>.*?</style>"
  /** Block-level elements (and <br>) become LINE BREAKS, not spaces — the
    * WET-extractor behavior that makes the output consumable by the
    * line-unit cleaning rules (Curation.filterLines). `\b` keeps `<p>`
    * from swallowing `<pre>`; ASCII word boundaries exist in both Java
    * regex and RE2. */
  val blockTagPattern = "(?i)</?(p|div|br|h[1-6]|li|ul|ol|tr|td|th|table|" +
    "section|article|blockquote)\\b[^>]*>"
  /** Any remaining tag. Attribute values containing a raw `>` are out of
    * scope — the same simplification the C4/WET extractors make. */
  val tagPattern = "<[^>]*>"

  /** The named entities the extractor decodes, in APPLICATION ORDER:
    * `&amp;` must decode LAST so `&amp;lt;` yields the literal `&lt;`
    * (single-pass unescape), never `<`. */
  val htmlEntities: Seq[(String, String)] = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
    "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")

  private def decodeEntities(c: Column): Column =
    htmlEntities.foldLeft(c) { case (acc, (from, to)) =>
      call_function("replace", acc, lit(from), lit(to))
    }

  /**
   * HTML → text extraction — the stage every web corpus starts from
   * (Common Crawl WET, C4, RefinedWeb): drop script/style elements with
   * their contents, turn block-level tags into line breaks (so the output
   * keeps the line structure the C4 line rules — [[graft.operators
   * .Curation.filterLines]] — operate on), drop every remaining tag,
   * decode the standard named entities, then normalize whitespace:
   * horizontal runs to one space, newline runs (with any surrounding
   * spaces) to one newline, ends trimmed. All codegen'd regexp/replace
   * passes fused into one scan-local projection — zero shuffles — and
   * every pattern constant is shared verbatim with the DuckDB oracle so
   * the two dialects cannot drift.
   */
  def stripHtml(html: Column): Column = {
    val noScript = regexp_replace(html, scriptPattern, " ")
    val noStyle = regexp_replace(noScript, stylePattern, " ")
    val blocks = regexp_replace(noStyle, blockTagPattern, "\n")
    val noTags = regexp_replace(blocks, tagPattern, " ")
    val decoded = decodeEntities(noTags)
    val hCollapsed = regexp_replace(decoded, "[ \\t\\r]+", " ")
    val nlCollapsed = regexp_replace(hCollapsed, " ?(\\n ?)+", "\n")
    regexp_replace(nlCollapsed, "^\\s+|\\s+$", "")
  }

  /**
   * Trained char-trigram naive-Bayes language identifier — the production
   * successor to [[langId]]'s marker-word heuristic, trained and served
   * in one distributed pass pair. Laplace-smoothed:
   * score(doc, lang) = Σ_occurrences ln(c_{lang,gram}+1) − n_grams·ln(t_lang+V).
   * The decomposition is the whole trick: an UNSEEN gram's first term is
   * ln(0+1) = 0, so the per-(doc,lang) sum needs only the grams the lang
   * HAS (an inner join, each occurrence × ≤|langs| rows), and the unseen
   * mass collapses into the closed-form penalty — no dense doc×vocab
   * anything. Every ln is of an integer, summed as decimal — exact,
   * order-independent, oracle-checkable (the bigramLmScore recipe).
   * Ties break toward the lexicographically smallest language. Returns
   * (idCol, actual, predicted), one row per non-null-text doc.
   */
  def langIdNaiveBayes(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, langCol: String): org.apache.spark.sql.DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol), col(langCol).as("actual"))
      .join(nbPredict(docs, idCol, textCol, langCol, unlabeledOnly = false),
        Seq(idCol))

  /**
   * CCNet-style language ASSIGNMENT (the composition a curation pipeline
   * runs before per-language stages): rows with a label keep it; rows
   * with a NULL label get the argmax of the trigram-NB model trained on
   * the labeled subset — the [[langIdNaiveBayes]] scorer with train and
   * serve sides split. An unlabeled row whose text is null (nothing to
   * score) or that ties nowhere keeps NULL. Returns `docs` with langCol
   * filled, schema unchanged.
   */
  def langIdAssign(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, langCol: String): org.apache.spark.sql.DataFrame =
    docs.join(nbPredict(docs, idCol, textCol, langCol, unlabeledOnly = true)
        .withColumnRenamed("predicted", "__pred"), Seq(idCol), "left")
      .withColumn(langCol, coalesce(col(langCol), col("__pred")))
      .drop("__pred")

  /**
   * Exploded char trigrams as (keepCols..., `as`): ONE primitive-int
   * position explode + a codegen'd `substring` — measured ~2× the
   * interpreted `transform(sequence → substring)` array form it replaces
   * (higher-order lambdas don't enter whole-stage codegen, and the
   * per-doc string-array allocation is gone; the int sequence is a
   * primitive array). Empty/short texts emit their one partial gram,
   * exactly like the array form, so oracles are unchanged.
   */
  def explodeTrigrams(df: org.apache.spark.sql.DataFrame,
      keepCols: Seq[String], textCol: String,
      as: String): org.apache.spark.sql.DataFrame =
    df.select(keepCols.map(col) ++ Seq(col(textCol),
        explode(expr(s"sequence(1, greatest(length($textCol) - 2, 1))"))
          .as("__tp")): _*)
      .select(keepCols.map(col) :+
        expr(s"substring($textCol, __tp, 3)").as(as): _*)

  /** Shared core of [[langIdNaiveBayes]]/[[langIdAssign]]: weights train
    * on the LABELED rows of the one collapsed gram frame; the serve side
    * is every non-null-text row (evaluation) or only the unlabeled ones
    * (assignment). Returns (idCol, predicted). */
  private def nbPredict(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, langCol: String,
      unlabeledOnly: Boolean): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // ln at decimal(17,10): long(20,0) × decimal(17,10) → decimal(38,10)
    // with NO precision loss under Spark's decimal multiply rule. At the
    // previous (28,10) the product was demoted to decimal(38,6), silently
    // rounding each term to 1e-6 — enough to flip a near-tie argmax away
    // from the scale-10-exact DuckDB oracle. ln values here are ≤ ln of a
    // corpus-total count (≈41 even at 1e18 grams), well inside 7 integer
    // digits.
    def lnDec(c: Column) = log(c.cast("double")).cast("decimal(17,10)")
    // ONE pass over the exploded trigrams: occurrences collapse straight
    // to (doc, lang, gram, multiplicity) — the lang column rides along
    // for free since it is functionally dependent on the doc — and BOTH
    // the per-language weights and the per-doc totals derive from this
    // collapsed frame by second, much smaller aggregates (input bound
    // |distinct (doc,gram)| ≤ |occurrences|, the term that matters on
    // repetitive real-world text). The raw explode is never aggregated
    // twice and never persisted.
    val docGrams = explodeTrigrams(
        Scale.spreadForCompute(docs.filter(col(textCol).isNotNull),
          col(idCol))
          .select(col(idCol), col(langCol).as("__actual"), col(textCol)),
        Seq(idCol, "__actual"), textCol, "__g")
      .groupBy(col(idCol), col("__actual"), col("__g"))
      .agg(count(lit(1)).as("__dn"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val weights = docGrams.filter(col("__actual").isNotNull)
      .groupBy(col("__actual").as("__lang"), col("__g"))
      .agg(sum(col("__dn")).as("__c"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val langTotals = weights.groupBy("__lang").agg(sum(col("__c")).as("__t"))
    val vocab = weights.select("__g").distinct().agg(count(lit(1)).as("__v"))
    val serveGrams =
      if (unlabeledOnly) docGrams.filter(col("__actual").isNull) else docGrams
    // Per-doc gram totals WITHOUT another pass over the gram frame: the
    // explode emits exactly one row per position 1..greatest(len−2, 1),
    // so Σ__dn per doc IS that closed form — one cheap scan of the doc
    // table replaces a shuffle+aggregate over the collapsed grams.
    val serveDocs =
      if (unlabeledOnly)
        docs.filter(col(textCol).isNotNull && col(langCol).isNull)
      else docs.filter(col(textCol).isNotNull)
    val docTotals = serveDocs.select(col(idCol),
      greatest(length(col(textCol)) - 2, lit(1)).cast("long").as("__n"))
    val firstTerm = serveGrams.drop("__actual")
      .join(weights.withColumnRenamed("__g", "__gw"),
        col("__g") === col("__gw"))
      .groupBy(col(idCol), col("__lang"))
      .agg(sum(col("__dn") * lnDec(col("__c") + 1)).as("__s1"))
    val base = docTotals
      .crossJoin(broadcast(langTotals.crossJoin(vocab)
        .select(col("__lang"), lnDec(col("__t") + col("__v")).as("__pen1"))))
      .select(col(idCol), col("__lang"), (col("__n") * col("__pen1")).as("__pen"))
    val scored = base.join(firstTerm, Seq(idCol, "__lang"), "left")
      .select(col(idCol), col("__lang"),
        (coalesce(col("__s1"), lit(0).cast("decimal(38,10)")) - col("__pen"))
          .as("__sc"))
    // argmax as a map-side-combining min(struct(−score, lang)) — the
    // (score desc, lang asc) pick without a window's exchange+sort;
    // decimal negation is exact, struct comparison is field-lexicographic
    val pred = scored
      .groupBy(col(idCol))
      .agg(min(struct((-col("__sc")).as("n"), col("__lang").as("l")))
        .as("__m"))
      .select(col(idCol), col("__m").getField("l").as("predicted"))
    Scale.releaseAfterUse(pred, Seq(docGrams, weights))
  }

  /**
   * BM25 relevance ranking (Robertson/Spärck Jones; the Lucene-default
   * scoring function) of every document against a FIXED literal term set —
   * the retrieval primitive a curation pipeline uses to pull
   * benchmark-relevant or topic-relevant subsets out of a corpus.
   *
   * Scale shape — two narrow passes, no per-token shuffle:
   *  1. one scan computes, per document, its length `dl` and a tf column
   *     PER QUERY TERM via `size(filter(tokens, _ == term))` —
   *     scan-local, codegen'd, no explode;
   *  2. ONE global aggregate row (N, Σdl, df per term) broadcasts back
   *     via a one-row cross join — the only shuffle is that single
   *     partial-agg reduction;
   *  3. the score is a fixed-order expression tree over the tf columns
   *     (idf(t)·tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)) summed
   *     left-to-right over the literal terms), so no float sum ever
   *     depends on row or shuffle order and any IEEE engine reproduces
   *     it bit-for-bit; top-k plans as TakeOrderedAndProject.
   *
   * idf uses the standard +1-smoothed form ln(1 + (N−df+0.5)/(df+0.5)),
   * non-negative for any df ≤ N.
   */
  /**
   * Hashing-trick linear classifier scoring — the serving shape of a
   * fastText-style quality filter (the model-based gate modern curation
   * pipelines run after rule-based filters; cf. DCLM / FineWeb-Edu).
   * Each token maps to a weight bucket via the portable md5 hash
   * ([[Dedup.portableHash64]] mod weights.size), and a document's margin
   * is the sum of its tokens' INTEGER weights — a broadcast weight
   * vector as plan literal, one scan, one hash aggregate; corpus size
   * never touches the driver. Integer weights keep the margin exact and
   * order-independent (a float dot product would depend on shuffle
   * order); `score` is the single IEEE division margin/n_tokens, and
   * `pass` the margin ≥ 0 verdict. Swapping in trained weights changes
   * only the literal array.
   *
   * Returns (idCol, n_tokens, margin, score, pass), one row per
   * document with at least one token (an empty or all-whitespace text
   * yields no tokens, so no row).
   */
  def linearClassifierScore(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String,
      weights: Seq[Long]): org.apache.spark.sql.DataFrame = {
    require(weights.nonEmpty, "linearClassifierScore needs weights")
    val toks = Scale.spreadForCompute(
        docs.filter(col(textCol).isNotNull), col(idCol))
      .select(col(idCol),
        explode(split(col(textCol), "\\s+")).as("__tok"))
      .filter(length(col("__tok")) > 0)
    toks
      .select(col(idCol), element_at(typedLit(weights),
        (Dedup.portableHash64(col("__tok")) % weights.size).cast("int") + 1)
        .as("__w"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"), sum(col("__w")).as("margin"))
      .withColumn("score",
        round(col("margin").cast("double") / col("n_tokens"), 6))
      .withColumn("pass", col("margin") >= 0)
  }

  /**
   * TRAIN the quality classifier: per-token naive-Bayes log-odds weights
   * from a boolean-labeled corpus — the training half
   * [[linearClassifierScore]]'s toy literal weights stand in for. Exactly
   * the multinomial NB log-likelihood ratio with add-one smoothing:
   * weight(t) = ln(n_pos(t)+1) − ln(Npos+V) − ln(n_neg(t)+1) + ln(Nneg+V),
   * where n_pos/n_neg are the token's occurrence counts in
   * positive/negative docs, Npos/Nneg total occurrences per class and V
   * the corpus vocabulary size.
   *
   * Engine-portable determinism, the [[graft.operators.Curation]]
   * bigramLmScore convention: ln is taken of INTEGERS only and each term
   * is cast to decimal(28,10) BEFORE combining, so the weight is an exact
   * decimal any faithful-ln engine reproduces — trained weights are
   * oracle-checkable the way BPE merges are.
   *
   * Scale: one tokenize pass feeding two hash aggregates (per-token class
   * counts; one-row class totals broadcast back) — corpus size never
   * touches the driver; the weights table is vocabulary-sized. Null
   * labels count toward neither class (declared; prefer non-null labels).
   * Returns (token, n_pos, n_neg, weight).
   */
  def trainTokenLogOdds(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, labelCol: String): org.apache.spark.sql.DataFrame = {
    val toks = Scale.spreadForCompute(
        docs.filter(col(textCol).isNotNull), col(idCol))
      .select(col(labelCol).as("__y"),
        explode(split(col(textCol), "\\s+")).as("__tok"))
      .filter(length(col("__tok")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = toks.groupBy(col("__tok"))
      .agg(sum(when(col("__y"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(!col("__y"), 1L).otherwise(0L)).as("n_neg"))
    val totals = toks.agg(
      sum(when(col("__y"), 1L).otherwise(0L)).as("__tp"),
      sum(when(!col("__y"), 1L).otherwise(0L)).as("__tn"),
      countDistinct(col("__tok")).as("__v"))
    def lnDec(c: org.apache.spark.sql.Column) =
      log(c.cast("double")).cast("decimal(28,10)")
    Scale.releaseAfterUse(
      counts.crossJoin(broadcast(totals))
        .select(col("__tok").as("token"), col("n_pos"), col("n_neg"),
          (lnDec(col("n_pos") + 1) - lnDec(col("__tp") + col("__v"))
            - lnDec(col("n_neg") + 1) + lnDec(col("__tn") + col("__v")))
            .as("weight")),
      Seq(toks))
  }

  /**
   * Score documents with a TRAINED weights table (the output of
   * [[trainTokenLogOdds]]) instead of [[linearClassifierScore]]'s
   * hash-bucketed literal: tokens left-join the (token, weight) table,
   * unseen tokens contribute 0 (declared — the discriminative-scoring
   * convention), and the margin sums the exact decimal weights, so it is
   * shuffle-order-independent like the integer-margin variant. The
   * weights side is vocabulary-scale → broadcast-hinted (its static size
   * estimate derives from the corpus scan and would otherwise block the
   * broadcast, the q_tfidf dfCounts move); at a vocabulary too big to
   * broadcast, drop the hint and this becomes a plain shuffle join.
   * Returns (idCol, n_tokens, score, pass), one row per document with at
   * least one token.
   */
  def scoreWithTokenWeights(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String,
      weights: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    Scale.spreadForCompute(
        docs.filter(col(textCol).isNotNull), col(idCol))
      .select(col(idCol), explode(split(col(textCol), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
      .join(broadcast(weights.select(col("token"), col("weight"))),
        Seq("token"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("weight"), lit(0).cast("decimal(28,10)")))
          .as("__margin"))
      .select(col(idCol), col("n_tokens"),
        round(col("__margin").cast("double") / col("n_tokens"), 6)
          .as("score"),
        (col("__margin") >= 0).as("pass"))

  def bm25TopK(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, terms: Seq[String], topK: Int,
      k1: Double = 1.2, b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    require(terms.nonEmpty, "bm25TopK needs at least one term")
    def tfCol(i: Int) = s"__tf_$i"
    val toks = split(col(textCol), "\\s+")
    // spread: perDoc is consumed twice (stats reduce + the score pass)
    // and its per-doc tokenize/filter work would otherwise run twice
    // inside the single-file scan task (the spreadForCompute contract)
    val perDoc = Scale.spreadForCompute(
        docs.filter(col(textCol).isNotNull), col(idCol))
      .select(Seq(col(idCol), size(toks).cast("double").as("__dl")) ++
        terms.zipWithIndex.map { case (term, i) =>
          size(filter(toks, tok => tok === lit(term)))
            .cast("double").as(tfCol(i))
        }: _*)
    val stats = perDoc.agg(
      count(lit(1)).cast("double").as("__n"),
      sum(col("__dl").cast("decimal(38,0)")).cast("double").as("__sumdl") +:
        terms.indices.map { i =>
          sum(when(col(tfCol(i)) > 0, 1L).otherwise(0L))
            .cast("double").as(s"__df_$i")
        }: _*)
    val score = terms.indices.map { i =>
      val tf = col(tfCol(i))
      val idf = log(lit(1.0) +
        (col("__n") - col(s"__df_$i") + lit(0.5)) / (col(s"__df_$i") + lit(0.5)))
      idf * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) +
          lit(b) * col("__dl") / (col("__sumdl") / col("__n"))))
    }.reduce(_ + _)
    perDoc.crossJoin(broadcast(stats))
      .select(col(idCol), round(score, 6).as("bm25"))
      .filter(col("bm25") > 0)
      .orderBy(col("bm25").desc, col(idCol))
      .limit(topK)
  }

  /**
   * BM25 retrieval for a QUERY TABLE — the real retrieval shape
   * ([[bm25TopK]] serves one literal term set; production scores a table
   * of queries against the corpus in one pass). Each query's candidates
   * are exactly the documents sharing ≥ 1 term with it, found through the
   * inverted-index core (the q_inverted_index (term, doc) tf aggregate),
   * never a corpus × queries product.
   *
   * Scale shape:
   *  1. ONE tokenize pass → the (term, doc, tf) hash aggregate, with the
   *     doc length riding through as a group constant (the ivfAdcTopK
   *     cell trick) — no corpus-scale doc-length join afterwards;
   *  2. corpus stats (N, Σdl) reduce off the per-doc collapse of that
   *     frame; per-term df aggregates only over CANDIDATE postings
   *     (tf semi-joined to the broadcast distinct query-term set);
   *  3. each candidate posting joins its querying q_ids and the one-row
   *     stats broadcast; the per-(query, doc) score sums term scores as
   *     decimal(28,10) — order-independent, oracle-exact;
   *  4. per-query top-k via [[graft.functions.TopKAgg]]: the map-side
   *     partial is already capped at k, so the final shuffle moves
   *     O(k · queries · partitions) rows, not every scored candidate —
   *     the bounded-merge property a window-rank over candidate postings
   *     would not have. Ties break (score desc, doc id desc), TopKAgg's
   *     deterministic order.
   *
   * Terms are scored once per query (duplicates in the query text are
   * collapsed); terms absent from the corpus contribute nothing (no
   * candidate rows). Returns (qIdCol, rnk, idCol, bm25) for documents
   * sharing at least one term with the query.
   */
  def bm25BatchTopK(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, queries: org.apache.spark.sql.DataFrame,
      qIdCol: String, qTextCol: String, topK: Int,
      k1: Double = 1.2, b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val toks = split(col(textCol), "\\s+")
    val tf = Scale.spreadForCompute(
        docs.filter(col(textCol).isNotNull), col(idCol))
      .select(col(idCol), size(toks).cast("double").as("__dl"),
        explode(toks).as("__t"))
      .filter(length(col("__t")) > 0)
      .groupBy(col("__t"), col(idCol))
      .agg(count(lit(1)).cast("double").as("__tf"),
        max(col("__dl")).as("__dl")) // constant within the group
      .persist(StorageLevel.MEMORY_AND_DISK)
    val stats = tf.groupBy(col(idCol)).agg(max(col("__dl")).as("__d"))
      .agg(count(lit(1)).cast("double").as("__n"),
        sum(col("__d").cast("decimal(38,0)")).cast("double").as("__sumdl"))
    val qt = queries.filter(col(qTextCol).isNotNull)
      .select(col(qIdCol),
        explode(array_distinct(split(col(qTextCol), "\\s+"))).as("__t"))
      .filter(length(col("__t")) > 0)
    val cand = tf.join(broadcast(qt.select("__t").distinct()), "__t")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val dfs = cand.groupBy(col("__t"))
      .agg(count(lit(1)).cast("double").as("__df"))
    val idf = log(lit(1.0) +
      (col("__n") - col("__df") + lit(0.5)) / (col("__df") + lit(0.5)))
    val termScore = idf * (col("__tf") * lit(k1 + 1.0)) /
      (col("__tf") + lit(k1) * (lit(1.0 - b) +
        lit(b) * col("__dl") / (col("__sumdl") / col("__n"))))
    val topk = udaf(new graft.functions.TopKAgg(topK))
    Scale.releaseAfterUse(
      cand.join(broadcast(dfs), "__t")
        .join(broadcast(qt), "__t")
        .crossJoin(broadcast(stats))
        .select(col(qIdCol), col(idCol),
          termScore.as("__ts"))
        .groupBy(col(qIdCol), col(idCol))
        .agg(graft.functions.ExactDecimalSum.of(col("__ts")).as("__sc"))
        .groupBy(col(qIdCol))
        .agg(topk(col("__sc").cast("double"), col(idCol).cast("long"))
          .as("__top"))
        .select(col(qIdCol), posexplode(col("__top")))
        .select(col(qIdCol), (col("pos") + 1).cast("long").as("rnk"),
          col("col._2").as(idCol), round(col("col._1"), 6).as("bm25")),
      Seq(tf, cand))
  }

  /**
   * Inverted-index build: (term, df, total_tf, doc_id, tf, rn) with
   * postings capped at `maxPostings` docs per term in doc-id order (the
   * smallest ids — see [[indexDelta]] for why that order matters). One
   * tokenize explode feeds ONE (term, doc) hash aggregate (map-side
   * combine; persisted — it feeds both the term-stats aggregate and the
   * postings window); term-level df/total_tf is a second,
   * vocabulary-sized aggregate broadcast back; the postings window
   * partitions per term over ALREADY-AGGREGATED rows, never raw
   * occurrences.
   */
  def invertedIndex(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, maxPostings: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxPostings >= 1, s"maxPostings must be >= 1, got $maxPostings")
    val tf = Scale.spreadForCompute(
        docs.filter(col(textCol).isNotNull), col(idCol))
      .select(col(idCol), explode(split(col(textCol), "\\s+")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("term"), col(idCol)).agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stats = tf.groupBy("term")
      .agg(count(lit(1)).as("df"), sum("tf").cast("long").as("total_tf"))
    val w = Window.partitionBy("term").orderBy(idCol)
    Scale.releaseAfterUse(
      tf.withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= maxPostings)
        .join(broadcast(stats), "term")
        .select(col("term"), col("df"), col("total_tf"), col(idCol),
          col("tf"), col("rn")),
      Seq(tf))
  }

  /**
   * Two-stage retrieval — BM25 candidate generation, then exact
   * embedding-cosine reranking of the candidates (the production RAG /
   * search shape: a cheap lexical recall stage bounds the candidate set,
   * an expensive semantic precision stage re-orders only that set).
   *
   * Stage 1 is [[bm25BatchTopK]] capped at `candK` per query (its TopKAgg
   * map-side bound), with self-retrieval dropped AFTER the cap — a query
   * document that retrieves itself spends one candidate slot, the
   * standard leave-one-in-then-mask evaluation convention. Stage 2
   * touches ONLY candidate-scale rows: the ≤ |queries|·candK candidate
   * list broadcasts into one embeddings scan (semi-join shape, never an
   * embeddings shuffle), queries' own vectors come from a second bounded
   * broadcast, and the rerank window partitions per query over ≤ candK
   * rows. At 100 TB the corpus is touched exactly twice — the stage-1
   * (term, doc) aggregate and the one embeddings probe — and everything
   * between is candidate-scale.
   *
   * Query ids must live in the embedding id space (`queries[qIdCol]` ∈
   * `emb[embIdCol]`); candidates without an embedding drop out of the
   * rerank (inner probe) — at production scale the embedding store
   * covers the corpus, and a missing vector is exactly a row you cannot
   * rerank. Cosine is [[graft.functions.VectorOps.cosine]] (the DotProduct
   * expression — left-to-right IEEE, oracle-portable). Returns
   * (qIdCol, rnk, idCol, bm25, cosine): rerank position, the stage-1
   * score it arrived with, and the cosine that placed it.
   */
  def retrieveRerank(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, queries: org.apache.spark.sql.DataFrame,
      qIdCol: String, qTextCol: String,
      emb: org.apache.spark.sql.DataFrame, embIdCol: String,
      embCol: String, candK: Int, topK: Int,
      k1: Double = 1.2, b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Fail misuse at the door, not with an ambiguous-reference analysis
    // error three joins deep: the corpus/query/embedding id columns must
    // be mutually distinct (the self-mask and the candidate joins compare
    // them by name), and no caller column may shadow an internal name.
    require(idCol != qIdCol && idCol != embIdCol,
      s"idCol '$idCol' must differ from qIdCol '$qIdCol' and embIdCol '$embIdCol'")
    val reserved = Set("__qe", "__qemb", "__cos", "rnk", "bm25")
    val clash = Set(idCol, textCol, qIdCol, qTextCol, embIdCol, embCol)
      .intersect(reserved)
    require(clash.isEmpty,
      s"column name(s) ${clash.mkString(", ")} collide with retrieveRerank internals ($reserved)")
    val cands = bm25BatchTopK(docs, idCol, textCol, queries, qIdCol,
        qTextCol, candK, k1, b)
      .filter(col(idCol) =!= col(qIdCol))
      .drop("rnk")
    val candE = emb.join(broadcast(cands), col(embIdCol) === col(idCol))
      .drop(embIdCol)
    val qe = emb
      .join(broadcast(queries.select(col(qIdCol).as("__qe"))),
        col(embIdCol) === col("__qe"))
      .select(col("__qe"), col(embCol).as("__qemb"))
    val w = Window.partitionBy(qIdCol)
      .orderBy(col("__cos").desc, col(idCol))
    candE.join(broadcast(qe), col(qIdCol) === col("__qe"))
      .withColumn("__cos",
        graft.functions.VectorOps.cosine(col(embCol), col("__qemb")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= topK)
      .select(col(qIdCol), col("rnk"), col(idCol), col("bm25"),
        round(col("__cos"), 6).as("cosine"))
  }

  /**
   * Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009) of a SPARSE
   * (lexical, e.g. BM25) and a DENSE (embedding-cosine) ranking — the
   * production hybrid-retrieval alternative to [[retrieveRerank]]'s
   * cascade: instead of the dense stage re-ordering only the sparse
   * stage's survivors, both rankings vote and a doc surfacing high in
   * EITHER list ranks high fused. score(d) = 1/(c + rank_sparse(d)) +
   * 1/(c + rank_dense(d)), each term 0 when d is absent from that
   * list; c = 60 is the paper's constant.
   *
   * Exact and oracle-portable by construction: each term is one IEEE
   * double division and the fuse is ONE two-term left-to-right sum on a
   * full-outer-joined row — never an aggregate whose addend order an
   * engine could permute — so any engine reproduces the score
   * bit-for-bit, and the (score DESC, id) window rank is deterministic.
   *
   * Scale: both inputs arrive ALREADY top-k-bounded per query
   * (candidate scale, ≤ |queries|·k rows — [[bm25BatchTopK]]'s TopKAgg
   * bound and [[Similarity.exactTopK]]'s window cap); the fuse itself
   * is a candidate-scale hash full-outer join on (q, id) plus one
   * per-query window over ≤ 2k rows. The corpus is never touched here —
   * at 100 TB the cost lives entirely in the two upstream rankers.
   *
   * Inputs both carry (qCol, idCol, rankCol); ranks must be ≥ 1
   * (row_number convention — both rankers emit that). Returns
   * (qCol, rnk, idCol, sparse_rnk, dense_rnk, rrf): the fused position,
   * each source rank (NULL when the doc was absent from that list), and
   * the fused score rounded for display (ranking used the exact value).
   */
  def rrfFuse(sparse: org.apache.spark.sql.DataFrame,
      dense: org.apache.spark.sql.DataFrame, qCol: String, idCol: String,
      rankCol: String, topK: Int, c: Int = 60)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topK >= 1, s"topK must be >= 1, got $topK")
    require(c >= 0, s"rrf constant c must be >= 0, got $c")
    val a = sparse.select(col(qCol), col(idCol),
      col(rankCol).cast("long").as("__ra"))
    val b = dense.select(col(qCol), col(idCol),
      col(rankCol).cast("long").as("__rb"))
    val w = Window.partitionBy(qCol).orderBy(col("__s").desc, col(idCol))
    a.join(b, Seq(qCol, idCol), "full_outer")
      .withColumn("__s",
        coalesce(lit(1.0) / (lit(c.toLong) + col("__ra")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c.toLong) + col("__rb")), lit(0.0)))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= topK)
      .select(col(qCol), col("rnk"), col(idCol),
        col("__ra").as("sparse_rnk"), col("__rb").as("dense_rnk"),
        round(col("__s"), 6).as("rrf"))
  }

  /**
   * Incremental inverted-index maintenance — the retrieval twin of
   * Scale.mergeCounts: fold a NEW batch into an EXISTING index WITHOUT
   * re-tokenizing the corpus. Cost is O(delta tokens + |index|), and the
   * index term is itself bounded (≤ maxPostings rows/term + one stats
   * row), so a daily batch against a 100 TB corpus never touches the
   * corpus again.
   *
   * Exactness contract: df/total_tf merge by addition unconditionally;
   * the capped postings merge EXACTLY when delta doc ids are all larger
   * than indexed ones (append-only monotone ids — the delta-batch
   * convention): the old postings hold each term's maxPostings SMALLEST
   * ids, so the merged smallest-ids set can only draw from old postings
   * first, then delta. mergeIndex(index(A), B) ≡ index(A ∪ B)
   * bit-for-bit under that contract — q_index_delta proves it against a
   * full-rebuild oracle.
   */
  def indexDelta(index: org.apache.spark.sql.DataFrame,
      delta: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      maxPostings: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxPostings >= 1, s"maxPostings must be >= 1, got $maxPostings")
    val deltaTf = Scale.spreadForCompute(
        delta.filter(col(textCol).isNotNull), col(idCol))
      .select(col(idCol), explode(split(col(textCol), "\\s+")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("term"), col(idCol)).agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deltaStats = deltaTf.groupBy("term")
      .agg(count(lit(1)).as("__dfd"), sum("tf").cast("long").as("__ttfd"))
    // every indexed term carries ≥ 1 posting row (df ≥ 1 ⇒ rn = 1
    // exists), so the stats project loses nothing
    val oldStats = index.filter(col("rn") === 1)
      .select(col("term"), col("df"), col("total_tf"))
    val stats = oldStats.join(deltaStats, Seq("term"), "full_outer")
      .select(col("term"),
        (coalesce(col("df"), lit(0L)) + coalesce(col("__dfd"), lit(0L)))
          .as("df"),
        (coalesce(col("total_tf"), lit(0L)) +
          coalesce(col("__ttfd"), lit(0L))).as("total_tf"))
    val w = Window.partitionBy("term").orderBy(idCol)
    Scale.releaseAfterUse(
      index.select(col("term"), col(idCol), col("tf"))
        .unionAll(deltaTf)
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= maxPostings)
        .join(broadcast(stats), "term")
        .select(col("term"), col("df"), col("total_tf"), col(idCol),
          col("tf"), col("rn")),
      Seq(deltaTf))
  }

  /**
   * Flesch reading-ease counts and score — the readability signal
   * curation recipes gate on (very low scores flag legalese/boilerplate,
   * implausibly high ones flag token soup). Heuristic syllables = vowel
   * groups `[aeiouy]+` in the lowercased text (whitespace breaks groups,
   * so per-text equals per-word counting); sentences = `[.!?]+` runs,
   * floored at 1; words = nonempty whitespace tokens. All three counts
   * are exact integers and the score is one fixed-order double formula,
   * so the whole thing oracle-checks. Scan-local codegen'd expressions —
   * no shuffle, no UDF. Zero-word rows report a null score.
   */
  def fleschCounts(text: Column): (Column, Column, Column) = (
    size(filter(split(text, "\\s+"), w => length(w) > 0)).cast("long"),
    greatest(size(regexp_extract_all(text, lit("[.!?]+"), lit(0))), lit(1))
      .cast("long"),
    size(regexp_extract_all(lower(text), lit("[aeiouy]+"), lit(0)))
      .cast("long"))

  /** Flesch reading ease from the [[fleschCounts]] integers:
    * 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words). */
  def fleschScore(nWords: Column, nSents: Column, nSyll: Column): Column =
    when(nWords === 0, lit(null).cast("double"))
      .otherwise(round(lit(206.835)
        - lit(1.015) * (nWords.cast("double") / nSents.cast("double"))
        - lit(84.6) * (nSyll.cast("double") / nWords.cast("double")), 6))

  /**
   * Zipf power-law fit of the token frequency spectrum: OLS slope and
   * intercept of ln(freq) over ln(rank) across the top `topRanks` ranks —
   * the corpus-health number (natural text sits near slope −1; template
   * spam and boilerplate floods bend it). ln values quantize to integer
   * micro-units (the PCA recipe — round(ln·10⁶), the one IEEE decision),
   * the five OLS sums are then EXACT integer aggregates, and the
   * closed-form slope/intercept are one fixed-order double expression
   * each — so the whole fit oracle-checks. Returns one row
   * (n_ranks, slope, intercept) with intercept reported in ln units.
   *
   * Scale: tokenize + frequency count is one hash aggregate; the ranked
   * head is TakeOrderedAndProject (top-R by count, never a global sort);
   * only the R-row head crosses a single partition — metadata scale by
   * construction.
   */
  def zipfFit(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, topRanks: Int = 200): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topRanks >= 2, s"need at least 2 ranks to fit: $topRanks")
    val freq = Scale.spreadForCompute(
        docs.filter(col(textCol).isNotNull), col(idCol))
      .select(explode(split(lower(col(textCol)), "\\s+")).as("__t"))
      .filter(length(col("__t")) > 0)
      .groupBy("__t").agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("__t")).limit(topRanks)
    // global window DELIBERATE: bounded to topRanks rows by the limit
    val w = Window.orderBy(col("__c").desc, col("__t"))
    def q(c: Column) = round(log(c.cast("double")) * lit(1e6), 0).cast("long")
    val sums = freq.withColumn("__r", row_number().over(w).cast("long"))
      .select(q(col("__r")).as("__x"), q(col("__c")).as("__y"))
      .agg(count(lit(1)).as("n_ranks"), sum(col("__x")).as("__sx"),
        sum(col("__y")).as("__sy"),
        sum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__x") * col("__x")).as("__sxx"))
    val n = col("n_ranks").cast("double")
    val (sx, sy, sxy, sxx) = (col("__sx").cast("double"),
      col("__sy").cast("double"), col("__sxy").cast("double"),
      col("__sxx").cast("double"))
    sums
      .withColumn("__slope", (n * sxy - sx * sy) / (n * sxx - sx * sx))
      .select(col("n_ranks"), round(col("__slope"), 6).as("slope"),
        round((sy - col("__slope") * sx) / n / lit(1e6), 6).as("intercept"))
  }

  /**
   * TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank over
   * the token co-occurrence graph. Tokens are lowercased words stripped
   * to [a-z0-9], kept at length ≥ `minLen`; an edge joins each pair of
   * tokens ADJACENT IN THE SURVIVING SEQUENCE (gaps left by dropped
   * tokens collapse — the standard windowed-cooccurrence convention at
   * window 2), self-pairs dropped, both directions materialized so
   * [[Graph.pageRank]]'s directed walk is symmetric. Ranks are that
   * operator's exact scaled integers, so the whole pipeline
   * oracle-checks. Returns the corpus-global top `topN` (term, rank).
   *
   * Scale: tokenize + strip is scan-local; the co-occurrence aggregate is
   * ONE hash shuffle on (src, dst) at vocabulary-pair scale (≪ corpus
   * tokens after the map-side combine); pageRank runs `iters` bounded
   * joins over that edge list; top-N is a TakeOrderedAndProject, never a
   * global sort.
   */
  def textrankKeywords(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, minLen: Int = 3, iters: Int = 2,
      topN: Int = 20): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Scale.spreadForCompute(
        docs.filter(col(textCol).isNotNull), col(idCol))
      .select(col(idCol).as("__d"),
        posexplode(split(lower(col(textCol)), "\\s+")).as(Seq("__p", "__w")))
      .select(col("__d"), col("__p"),
        regexp_replace(col("__w"), "[^a-z0-9]", "").as("__t"))
      .filter(length(col("__t")) >= minLen)
    val w = Window.partitionBy("__d").orderBy("__p")
    val pairs = toks.withColumn("__prev", lag(col("__t"), 1).over(w))
      .filter(col("__prev").isNotNull && col("__prev") =!= col("__t"))
      .select(col("__prev").as("src"), col("__t").as("dst"))
    val edges = pairs
      .unionAll(pairs.select(col("dst").as("src"), col("src").as("dst")))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
    Graph.pageRank(edges, iters)
      .orderBy(col("rank").desc, col("node"))
      .select(col("node").as("term"), col("rank"))
      .limit(topN)
  }
}
