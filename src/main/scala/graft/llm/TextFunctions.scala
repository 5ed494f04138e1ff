package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for large-scale training-data pipelines:
  * deterministic hashing, shingling, tokenization, language-ID, quality
  * scoring, and fingerprinting. Everything here is a pure Catalyst column
  * expression (codegen-friendly, no UDFs), and every hash is defined via
  * md5 so results are engine-portable (the same value is computable in any
  * SQL engine with md5 + hex parsing — the property the correctness oracle
  * relies on).
  */
object TextFunctions {

  /** The floor-rounding discipline every oracle-checked double passes
    * through: round6 pins outputs/per-term contributions at 1e-6;
    * round9 pins transcendental results (ln) at 1e-9 immediately after
    * the libm call. ONE definition — the cross-engine hash-compare
    * contract depends on both sides (and every operator here) computing
    * the identical formula.
    */
  def round6(x: Column): Column = floor(x * 1e6 + 0.5) / 1e6
  def round9(x: Column): Column = floor(x * 1e9 + 0.5) / 1e9

  /** Deterministic 60-bit hash of a string: the first 15 hex digits of its
    * md5, as a non-negative long. Stable across engines, versions, and
    * partitionings (unlike Spark's murmur `hash`, which is
    * implementation-specific). Backed by the native codegen'd
    * [[org.apache.spark.sql.graft.Md5Prefix64]] — bit-identical to
    * `conv(substring(md5(c),1,15),16,10)::long` but without the hex-string
    * round trip per value (the hot loop of every shingle/token hash).
    */
  def hash64(c: Column): Column =
    org.apache.spark.sql.graft.TextHashExpressions.md5Prefix64(c)

  /** Canonical text normalization (NFKD, strip combining marks,
    * codepoint lowercase, collapse whitespace) — native, one pass;
    * see [[org.apache.spark.sql.graft.NormalizeUtil.normalize]].
    * `exactDedup` over this column catches case/accent/width/ligature
    * variants the raw digest misses.
    */
  def normalizeText(c: Column): Column =
    org.apache.spark.sql.graft.NormalizeExpressions.normalizeText(c)

  /** A second independent hash stream (last 15 hex digits), native. */
  def hash64b(c: Column): Column =
    org.apache.spark.sql.graft.TextHashExpressions.md5Suffix60(c)

  /** HTML → text extraction as a fixed, engine-portable regex chain
    * (the step between WARC ingestion and the language/quality/dedup
    * gates): drop script/style subtrees and comments, strip tags,
    * decode the entity set that survives into prose (`&amp;lt;` first,
    * `&amp;amp;` LAST so entity-encoded markup stays text), collapse
    * whitespace. Deliberately NOT a DOM parse — the chain is pure RE2-
    * compatible regex (no backreferences), so the DuckDB oracle
    * replays it verbatim (`q_html_extract`); block-level boilerplate
    * scoring would sit downstream of this, on the extracted text's
    * line structure.
    */
  def htmlToText(c: Column): Column =
    stripTags(dropNonContent(c))

  /** Remove the subtrees that are never prose: script/style blocks and
    * comments. Run BEFORE any block split or tag strip — a bare tag
    * strip would leak javascript/css SOURCE into the text.
    */
  private def dropNonContent(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, "(?is)<script\\b.*?</script\\s*>", " "),
        "(?is)<style\\b.*?</style\\s*>", " "),
      "(?s)<!--.*?-->", " ")

  /** Tag strip + entity decode (`&amp;amp;` LAST, so entity-encoded
    * markup stays text) + whitespace collapse.
    */
  private def stripTags(c: Column): Column = {
    val noTag = regexp_replace(c, "(?s)<[^>]*>", " ")
    val ent = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTag) { case (col0, (e, r)) => replace(col0, lit(e), lit(r)) }
    trim(regexp_replace(ent, "\\s+", " "))
  }

  /** Main-content extraction with block-level boilerplate removal (the
    * boilerpipe/trafilatura idea reduced to its load-bearing features,
    * Kohlschütter et al. WSDM'10: block text length + link density):
    * split the page at block-level tags, keep blocks with at least
    * 20 chars of prose whose ANCHOR text is at most a third of it
    * (navigation/footer link farms fail exactly that test), join the
    * survivors. Exact integer arithmetic (`linkLen·3 ≤ textLen`), pure
    * regex + array ops — the DuckDB oracle replays it (`q_html_main`).
    */
  def htmlMainText(c: Column): Column = {
    val minChars = 20
    val blocks = split(dropNonContent(c),
      "(?i)</?(?:p|div|h[1-6]|li|br|td|th|tr|table|ul|ol|section|article|header|footer|nav|aside|blockquote)[^>]*>")
    val scored = transform(blocks, b => struct(
      stripTags(b).as("t"),
      aggregate(
        transform(
          regexp_extract_all(b, lit("(?is)<a\\b[^>]*>(.*?)</a\\s*>"), lit(1)),
          a => length(stripTags(a))),
        lit(0), (acc, x) => acc + x).as("l")))
    val kept = filter(scored, s =>
      length(s.getField("t")) >= minChars &&
        s.getField("l") * 3 <= length(s.getField("t")))
    array_join(transform(kept, _.getField("t")), " ")
  }

  /** hash64 of every word-n-gram shingle, fused into one native pass
    * (tokenize → shingle → hash without interpreted HOFs). n = 1 gives
    * per-token hashes. Equals `transform(wordShingles(text,n), hash64)`.
    */
  def shingleHashes(text: Column, n: Int): Column =
    org.apache.spark.sql.graft.TextHashExpressions.shingleHashes64(text, n)

  /** hash64 of every character n-gram, fused into one native pass.
    * Equals `transform(charShingles(text, n), hash64)`.
    */
  def charShingleHashes(text: Column, n: Int): Column =
    org.apache.spark.sql.graft.TextHashExpressions.charShingleHashes64(text, n)

  /** FAST shingle hashes: same fused pass, XXH64 (Spark's `xxhash64` seed)
    * instead of md5 — ~an order of magnitude cheaper per shingle, the
    * right default for pure-Spark corpus dedup at 100 TB. NOT
    * engine-portable: no md5-hex twin exists for a DuckDB/SQL oracle, so
    * use [[shingleHashes]] wherever results must be reproducible outside
    * Spark. Element i equals `xxhash64(wordShingles(text,n)[i])`.
    */
  def shingleHashesFast(text: Column, n: Int): Column =
    org.apache.spark.sql.graft.TextHashExpressions.xxShingleHashes64(text, n)

  /** Whitespace tokens. The corpus convention is single-space separation;
    * split on runs of whitespace and drop empties.
    */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => length(t) > 0)

  /** Word n-gram shingles: ["a b c", "b c d", ...] for n consecutive
    * tokens. Built with transform over token indices — no explode, no
    * shuffle; stays inside whole-stage codegen.
    */
  def wordShingles(text: Column, n: Int): Column = {
    val ts = tokens(text)
    when(size(ts) >= n,
      transform(sequence(lit(0), size(ts) - n),
        i => concat_ws(" ", slice(ts, i + 1, lit(n)))))
      .otherwise(array())
  }

  /** Collocation mining by PMI lift — the corpus-analysis pass that
    * surfaces multi-word expressions ("new york", "et al") for
    * tokenizer seeding and n-gram vocabulary curation (Church & Hanks,
    * CL 1990). Log-free on purpose: PMI = ln(lift) is MONOTONE in
    * `lift = c_ab·N / (c_a·c_b)`, so ranking by lift gives the PMI
    * order with no libm call. Evaluated as
    * `(c_ab / c_a) · (N / c_b)` — two IEEE divisions then one
    * multiply, the SAME operation sequence in every engine (the
    * replayability rule that keeps ln out of the n-gram LM oracles)
    * and exact while every count is below 2^53. The naive integer
    * products `c_ab·N` / `c_a·c_b` are NOT scale-safe: at the
    * trillion-token corpora this engine targets (N ≈ 1e12, frequent
    * bigrams ≈ 1e9) both products overflow Long — ANSI mode fails the
    * job, non-ANSI silently wraps to wrong lifts (ADVICE r15).
    * Floor-rounded at 1e-6. `minCount` drops hapax pairs, PMI's
    * classic failure mode (two singletons co-occurring once score the
    * corpus maximum).
    *
    * One row per surviving bigram: `gram`, `n_pair`, `n_left`,
    * `n_right`, `lift`. Scale shape: two hash-aggs (bigram and unigram
    * counts, both map-side combined); the unigram table is
    * vocabulary-sized, so both resolution joins broadcast — the corpus
    * is scanned twice and shuffled never (only count rows move).
    */
  def collocations(docs: DataFrame, textCol: String,
                   minCount: Int = 5): DataFrame = {
    val uni = docs.select(explode(tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val total = uni.agg(sum(col("c")).as("n_total"))
    val pairs = docs
      .select(explode(wordShingles(col(textCol), 2)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
    val w = split(col("gram"), " ")
    pairs
      .withColumn("__w1", w.getItem(0)).withColumn("__w2", w.getItem(1))
      .join(broadcast(uni.select(col("tok").as("__w1"), col("c").as("n_left"))),
        Seq("__w1"))
      .join(broadcast(uni.select(col("tok").as("__w2"), col("c").as("n_right"))),
        Seq("__w2"))
      .crossJoin(broadcast(total))
      .withColumn("lift", round6(
        (col("n_pair").cast("double") / col("n_left")) *
          (col("n_total").cast("double") / col("n_right"))))
      .select("gram", "n_pair", "n_left", "n_right", "lift")
  }

  /** Token count via a BPE-ish regex: alphanumeric runs and single
    * non-space symbols each count as one token — a cheap, deterministic
    * stand-in for subword tokenizers when budgeting corpus token counts.
    */
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Token statistics struct<n_words, sum_word_len, en_hits, nl_hits> in
    * ONE native codegen'd pass ([[org.apache.spark.sql.graft.TokenStats64]]).
    * Every quality/language signal below derives from it; identical
    * subtrees share a single evaluation under whole-stage codegen CSE
    * (the interpreted HOF chains it replaces re-split the text per column).
    */
  def tokenStats(text: Column): Column =
    org.apache.spark.sql.graft.TextHashExpressions.tokenStats64(text)

  /** Whitespace token count. */
  def wordCount(text: Column): Column = tokenStats(text).getField("n_words")

  /** English/Dutch stopword families — the n-gram-free heuristic
    * language-ID: classify by which stopword family covers more of the
    * text's tokens. (Matching runs inside [[tokenStats]]; these lists are
    * the canonical definition, mirrored in TokenStatsUtil.)
    */
  val enStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was",
    "for", "on", "with", "as", "at", "by", "it", "be", "this", "that")
  val nlStopwords: Seq[String] = Seq(
    "de", "het", "een", "en", "of", "van", "naar", "in", "is", "zijn",
    "was", "voor", "op", "met", "als", "bij", "dit", "dat", "te", "niet")

  private def stopwordRatio(text: Column, hitsField: String): Column = {
    val ts = tokenStats(text)
    val n = ts.getField("n_words")
    when(n > 0, ts.getField(hitsField).cast("double") / n).otherwise(lit(0.0))
  }

  def enStopwordRatio(text: Column): Column = stopwordRatio(text, "en_hits")
  def nlStopwordRatio(text: Column): Column = stopwordRatio(text, "nl_hits")

  /** Heuristic language id: "en" / "nl" / "und" by stopword coverage. */
  def langId(text: Column): Column = {
    val en = enStopwordRatio(text)
    val nl = nlStopwordRatio(text)
    when(en > nl && en > 0.0, lit("en"))
      .when(nl > en, lit("nl"))
      .otherwise(lit("und"))
  }

  /** Quality signals: length, word count, mean word length, punctuation
    * ratio, stopword ratio — the usual cheap filters ahead of expensive
    * dedup/training stages. Returns named columns via a struct.
    */
  def qualitySignals(text: Column): Seq[(String, Column)] = {
    val nChars = length(text)
    val ts = tokenStats(text)
    val nWords = ts.getField("n_words")
    val punct = size(regexp_extract_all(text, lit("[\\.,;:!\\?]"), lit(0)))
    Seq(
      "n_chars" -> nChars,
      "n_words" -> nWords,
      "mean_word_len" -> when(nWords > 0,
        ts.getField("sum_word_len").cast("double") / nWords),
      "punct_ratio" -> when(nChars > 0, punct.cast("double") / nChars),
      "stopword_ratio" -> enStopwordRatio(text))
  }

  /** Composite quality score in [0,1]: papers-standard shape (length gate,
    * stopword presence, punctuation sanity) with deterministic arithmetic.
    */
  def qualityScore(text: Column): Column = {
    val nWords = wordCount(text).cast("double")
    val lengthScore = least(nWords / 50.0, lit(1.0))
    val stopScore = least(enStopwordRatio(text) * 5.0, lit(1.0))
    round((lengthScore + stopScore) / 2.0, 6)
  }

  /** Character-bigram novelty statistics — the n-gram language-model
    * quality signal without cross-engine float risk: instead of log-prob
    * perplexity (libm log differs between engines), score each document by
    * its bigrams' CORPUS document frequencies. Low mean_df / high
    * rare_ratio = text unlike the rest of the corpus (garbled, wrong
    * language, binary spill) — the same ranking a bigram LM gives, in
    * exact integer/decimal arithmetic.
    *
    * Output per doc (docs shorter than 2 chars drop out, matching the
    * empty n-gram set): n_bigrams (distinct), mean_df (decimal-exact mean
    * of document frequencies), rare_ratio (share of bigrams appearing in
    * this document only).
    *
    * Scale shape: one explode (map-only) -> distinct on (doc, hash) ->
    * per-bigram document frequency as a COUNT WINDOW over the hash ->
    * per-doc hash agg. The window replaces the groupBy + self-join-back
    * formulation, which evaluated the explode+distinct on BOTH join
    * branches (exchange reuse caches only the shuffle, not the dedup agg)
    * and shuffled the gram table twice. Same shuffle keys (hash, then
    * doc), half the gram-table passes. All shuffles carry longs.
    *
    * CAVEAT at full corpus scale: the window partitions by the bigram
    * hash, whose DOMAIN is tiny (a few thousand distinct char bigrams in
    * natural text) — parallelism caps at the distinct-bigram count and
    * each window partition buffers every (doc, hash) row for its bigram.
    * Past ~10^8 documents set `broadcastDf = true`: the per-bigram counts
    * aggregate map-side-combined into a |distinct bigrams|-row frame that
    * broadcast-joins back — the dedup agg runs on both branches (one
    * extra pass over the shuffled gram table), but parallelism follows
    * the data and nothing buffers per key.
    */
  def bigramNoveltyStats(df: org.apache.spark.sql.DataFrame,
                         idCol: String, textCol: String,
                         broadcastDf: Boolean = false)
      : org.apache.spark.sql.DataFrame = {
    val grams = df
      .select(col(idCol), explode(charShingleHashes(col(textCol), 2)).as("__h"))
      .distinct()
    val f = lit(1000000)
    val withDf =
      if (broadcastDf) {
        val counts = grams.groupBy(col("__h")).agg(count(lit(1)).as("df"))
        grams.join(broadcast(counts), Seq("__h"))
      } else {
        val wh = org.apache.spark.sql.expressions.Window.partitionBy("__h")
        grams.withColumn("df", count(lit(1)).over(wh))
      }
    withDf
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        (floor((sum(col("df").cast("decimal(28,12)")).cast("double") / count(lit(1))) * f + 0.5) / f).as("mean_df"),
        (floor((sum(when(col("df") === 1, 1L).otherwise(0L)).cast("double") / count(lit(1))) * f + 0.5) / f).as("rare_ratio"))
  }

  /** Repetition statistics — the Gopher/C4-family curation signals that
    * catch boilerplate and templated spam: per document,
    *   - n_lines / n_uniq_lines (newline-split),
    *   - dup_line_ratio      = 1 - uniq/lines,
    *   - dup_line_char_ratio = chars in repeated lines / total line chars,
    *   - top_gram_ratio      = occurrences of the most frequent word
    *                           2-gram / total 2-grams (hash domain — the
    *                           fused shingle pass; collisions are
    *                           deterministic so both engines agree).
    * All ratios are exact-long divisions floor-rounded at 1e-6 —
    * engine-portable and partitioning-stable. Scale shape: two explode ->
    * hash-agg chains keyed by (doc, line/gram) then doc; shuffles carry
    * (id, hash/line, count) rows only, map-side combined.
    */
  def repetitionStats(df: org.apache.spark.sql.DataFrame,
                      idCol: String, textCol: String,
                      lineSep: String = "\n")
      : org.apache.spark.sql.DataFrame = {
    // empty segments (paragraph breaks, trailing separators) are NOT
    // lines: counting them gave every blank-line-separated document a
    // phantom duplicated "line" and a nonzero dup_line_ratio
    val lines = df
      .select(col(idCol),
        explode(split(col(textCol),
          java.util.regex.Pattern.quote(lineSep))).as("__line"))
      .filter(length(col("__line")) > 0)
      .groupBy(col(idCol), col("__line"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__len", length(col("__line")))
    val lineStats = lines.groupBy(col(idCol)).agg(
      sum("__c").as("n_lines"),
      count(lit(1)).as("n_uniq_lines"),
      sum(when(col("__c") > 1, col("__c") * col("__len")).otherwise(0L)).as("__dupChars"),
      sum(col("__c") * col("__len")).as("__chars"))
    val grams = df
      .select(col(idCol), explode(shingleHashes(col(textCol), 2)).as("__g"))
      .groupBy(col(idCol), col("__g")).agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol)).agg(max("__c").as("__maxG"), sum("__c").as("__nG"))
    // left join from the full id set: NULL/empty documents keep a row of
    // zero stats instead of vanishing (the hazard languageRebalance's
    // null-lang handling documents — absence reads as "filtered")
    df.select(col(idCol))
      .join(lineStats.join(grams, Seq(idCol), "left"), Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_uniq_lines"), lit(0L)).as("n_uniq_lines"),
        coalesce(
          when(col("n_lines") > 0,
            round6((col("n_lines") - col("n_uniq_lines")).cast("double") /
              col("n_lines"))),
          lit(0.0)).as("dup_line_ratio"),
        coalesce(
          when(col("__chars") > 0,
            round6(col("__dupChars").cast("double") / col("__chars"))),
          lit(0.0)).as("dup_line_char_ratio"),
        coalesce(
          when(col("__nG") > 0,
            round6(col("__maxG").cast("double") / col("__nG"))),
          lit(0.0)).as("top_gram_ratio"))
  }

  /** Deterministic hash-sampling predicate: keep a row iff
    * hash64(key || "sample") mod 1e6 < fraction * 1e6. Unlike `df.sample`
    * (RNG per partition — resample on retry/repartition), this is a pure
    * function of the row content: stable across runs, engines, cluster
    * sizes, and partitionings, so a 10% curation sample is reproducible
    * and auditable anywhere.
    */
  def hashSamplePredicate(key: Column, fraction: Double): Column = {
    require(fraction >= 0 && fraction <= 1, s"fraction must be in [0,1]: $fraction")
    pmod(hash64(concat(key, lit("sample"))), lit(1000000L)) <
      math.round(fraction * 1000000).toLong
  }

  /** EXACT-count per-group sampling: keep exactly min(n, |group|)
    * rows per group, chosen by content-hash order (ties impossible
    * within a group when keys are distinct; the id tiebreak covers
    * hash collisions). Deterministic on any engine/partitioning —
    * same corpus, same kept set — where rate-based predicates give
    * only EXPECTED counts. This is the hard-cap form of a UniMax
    * budget ("at most N documents per language"); fractional mixture
    * targets stay with [[stratifiedSamplePredicate]].
    *
    * Scale shape: one exchange keyed by the group (the same shuffle
    * any per-group cap needs); InferWindowGroupLimit bounds it to n
    * rows per group per map task (the measured top-k finisher
    * result).
    */
  def sampleExactPerGroup(df: org.apache.spark.sql.DataFrame, keyCol: String,
                          groupCol: String, n: Int): org.apache.spark.sql.DataFrame = {
    require(n > 0, "sampleExactPerGroup: n must be positive")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(groupCol)
      .orderBy(hash64(col(keyCol).cast("string")), col(keyCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .drop("__rn")
  }

  /** Per-stratum deterministic sampling — the data-mixing primitive: a
    * row keeps iff its content hash lands under ITS STRATUM's rate
    * (e.g. source-level mixture weights from an ablation plan). Same
    * hash domain and stability guarantees as [[hashSamplePredicate]];
    * strata absent from `rates` use `defaultFraction`. The rate lookup
    * is a literal map expression — no join, stays map-side.
    */
  def stratifiedSamplePredicate(key: Column, stratum: Column,
                                rates: Map[String, Double],
                                defaultFraction: Double): Column = {
    (rates.values.toSeq :+ defaultFraction).foreach(f =>
      require(f >= 0 && f <= 1, s"fraction must be in [0,1]: $f"))
    val rateExpr =
      if (rates.isEmpty) lit(math.round(defaultFraction * 1000000))
      else coalesce(
        element_at(
          map(rates.toSeq.sortBy(_._1).flatMap { case (k, f) =>
            Seq(lit(k), lit(math.round(f * 1000000))) }: _*),
          stratum),
        lit(math.round(defaultFraction * 1000000)))
    pmod(hash64(concat(key, lit("sample"))), lit(1000000L)) < rateExpr
  }

  /** Deterministic SPLIT assignment (train/validation/test — every
    * training-data pipeline's final fork): each document's label is the
    * first split whose cumulative micro-fraction exceeds its
    * content-hash bucket. Same hash domain and guarantees as
    * [[hashSamplePredicate]]: stable under corpus growth (a document
    * never changes split when new data arrives — the leakage-safety
    * property an RNG split lacks), engine-portable, order declared by
    * the caller (`splits` is a Seq, not a Map — boundaries depend on
    * it). Fractions must sum to 1 in micro-units (an implicit remainder
    * split would silently absorb rounding). Different salts give
    * independent partitions (cross-validation folds). One literal CASE
    * chain — map-side, no join, no RNG. A NULL key gets a NULL label
    * (null-keyed rows have no stable identity to keep split-stable;
    * assigning them anywhere would be an invisible leak surface — the
    * caller filters or keys them explicitly).
    */
  def splitAssign(key: Column, splits: Seq[(String, Double)],
                  salt: String = "split"): Column = {
    require(splits.nonEmpty, "splitAssign: splits must be non-empty")
    splits.foreach { case (n, f) =>
      require(f >= 0 && f <= 1, s"splitAssign: fraction out of [0,1]: $n=$f") }
    val micro = splits.map { case (n, f) => (n, math.round(f * 1000000)) }
    require(micro.map(_._2).sum == 1000000L,
      s"splitAssign: fractions must sum to 1 (micro-units), got " +
        s"${micro.map(_._2).sum}")
    val bucket = pmod(hash64(concat(key, lit(salt))), lit(1000000L))
    val cum = micro.scanLeft(0L)(_ + _._2).tail
    // CASE bucket < cum_1 → s_1 WHEN bucket < cum_2 → s_2 … — the final
    // otherwise(null) is unreachable (bucket < 1e6 = the last cum)
    micro.zip(cum).reverse.foldLeft(lit(null).cast("string")) {
      case (elseExpr, ((name, _), hi)) =>
        when(bucket < hi, lit(name)).otherwise(elseExpr)
    }
  }

  /** PER-ROW weighted (Poisson) sampling predicate — the continuous
    * extension of [[stratifiedSamplePredicate]]: each row keeps with
    * ITS OWN probability (a quality score, an importance weight, a
    * curriculum temperature), deterministically from the content hash.
    * Expected kept mass is sum(prob); inclusion decisions are
    * independent — the standard Poisson-sampling design (Särndal et
    * al., model-based survey sampling) and how importance weights
    * (DSIR-style) are actually APPLIED to select a corpus at scale.
    *
    * Arithmetic is exact cross-engine: prob clamps to [0,1] and rounds
    * half-up to millionths, the hash residue is an integer in
    * [0, 1e6) — no libm in the decision, so an oracle replays every
    * keep bit-for-bit (a null prob keeps nothing: the comparison is
    * null -> filter drops it).
    */
  def weightedSamplePredicate(key: Column, prob: Column): Column =
    pmod(hash64(concat(key, lit("wsample"))), lit(1000000L)) <
      floor(least(greatest(prob, lit(0.0)), lit(1.0)) * 1000000 + 0.5)
        .cast("long")

  /** Rolling polynomial fingerprint of the token stream (document
    * fingerprinting): fold acc = (acc * P + h(token) mod M) mod M. All
    * arithmetic stays < 2^60 so it is exact in any 64-bit integer engine
    * (no overflow wrap, which SQL engines reject).
    */
  def fingerprint(text: Column): Column = {
    val M = 1000000007L
    val P = 1000003L
    aggregate(shingleHashes(text, 1), lit(0L),
      (acc, h) => (acc * P + h % M) % M)
  }

  // ------------------------------------------------------------------
  // PII detection / redaction
  // ------------------------------------------------------------------

  /** PII patterns, deliberately restricted to the regex dialect subset
    * Java regex and RE2 (DuckDB/Go/most engines) execute identically —
    * no backrefs, no lookaround, simple bounded quantifiers — so a
    * redaction run is reproducible across the fleet and the oracle.
    * The strict phone form avoids the leftmost-match ambiguities loose
    * `[\d\s-]{7,}` patterns hit across engines.
    */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val phoneRe = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"

  /** Per-class PII hit counts (non-overlapping leftmost matches):
    * struct<emails, ips, phones>. Count-only — the cheap audit pass a
    * corpus runs before deciding to pay for redaction.
    */
  def piiCounts(text: Column): Column = struct(
    size(regexp_extract_all(text, lit(emailRe), lit(0))).as("emails"),
    size(regexp_extract_all(text, lit(ipv4Re), lit(0))).as("ips"),
    size(regexp_extract_all(text, lit(phoneRe), lit(0))).as("phones"))

  /** Redact PII with typed placeholder tokens. Order matters and is part
    * of the contract (emails first — their local parts can contain
    * digit runs; IPs before phones so dotted quads are never half-eaten
    * by the phone pattern): any engine replaying the same three
    * replacements in this order produces identical output.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailRe, "<EMAIL>"),
        ipv4Re, "<IP>"),
      phoneRe, "<PHONE>")

  /** Multilingual corpus rebalancing (UniMax/temperature-sampling shape,
    * downsample-only): post-sample language sizes target n_l^alpha —
    * alpha=1 keeps everything, alpha->0 flattens toward uniform. The
    * smallest language keeps 100% and larger ones keep
    * (n_min/n_l)^(1-alpha), so no upsampling/duplication is ever
    * introduced; membership is the deterministic content-hash predicate
    * ([[hashSamplePredicate]]'s domain), stable across runs, engines and
    * partitionings.
    *
    * Scale shape: language counts are a tiny groupBy (|languages| rows)
    * broadcast back; the keep decision is map-only. Returns the input
    * plus `keep_prob` and boolean `keep` (callers filter).
    *
    * alpha=0.5 makes the rate a single sqrt — correctly rounded in IEEE,
    * so any engine computes the identical threshold (the oracle pins
    * this); other alphas go through pow(), whose last-bit behavior is
    * libm-dependent across engines (fine in practice, not oracle-exact).
    */
  def languageRebalance(df: org.apache.spark.sql.DataFrame, textCol: String,
                        langCol: String,
                        alpha: Double = 0.5): org.apache.spark.sql.DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1]: $alpha")
    // rows with a NULL language (language-ID gave up) stay in the OUTPUT
    // with keep_prob NULL and keep=false — they are neither silently
    // dropped (an inner join on a null key would do that) nor allowed to
    // poison n_min (a tiny NULL group would over-downsample every real
    // language); route them to a dedicated handling pass instead
    val counts = df.filter(col(langCol).isNotNull)
      .groupBy(col(langCol)).agg(count(lit(1)).as("__n"))
    val minRow = counts.agg(min("__n").as("__nmin"))
    val rate =
      if (alpha == 0.5) sqrt(col("__nmin").cast("double") / col("__n"))
      else pow(col("__nmin").cast("double") / col("__n"), 1.0 - alpha)
    df.join(broadcast(counts), Seq(langCol), "left")
      .crossJoin(broadcast(minRow))
      .withColumn("keep_prob", rate)
      // coalesce(false): NULL lang AND NULL text both land in the
      // rejected partition, so kept + rejected == input always holds
      .withColumn("keep", coalesce(
        pmod(hash64(concat(col(textCol), lit("rebalance"))), lit(1000000L)) <
          floor(col("keep_prob") * 1000000).cast("long"),
        lit(false)))
      .drop("__n", "__nmin")
  }

  /** DSIR importance log-weights (Xie et al. 2023, arXiv:2302.03169):
    * score every document by how much more likely its hashed char-bigram
    * features are under the TARGET slice's distribution than under the
    * raw corpus distribution — the data-selection signal for
    * domain-matching a pretraining corpus to a target domain.
    * `targetPred` (any boolean Column over the input row) marks the
    * target slice.
    *
    *   log w(doc) = mean over the doc's gram OCCURRENCES g of
    *     ln p_tgt(g) − ln p_raw(g),   add-1 smoothed over the corpus
    *     gram vocabulary V.
    *
    * Documents too short for a bigram surface with n_grams = 0 and a NULL
    * weight (no features ⇒ no evidence), not silently dropped.
    *
    * Scale shape: one explode → the gram table shuffles (id, hash, flag)
    * rows once on the hash key, where two window counts (raw / target)
    * attach; corpus totals broadcast as a single row; the per-doc mean is
    * one hash-agg keyed by id. Engine-portable: each ln floor-rounds at
    * 1e-9, each per-gram diff at 1e-6, and the mean is an exact decimal
    * sum / count ([[bigramNoveltyStats]] discipline).
    */
  def dsirLogWeights(df: org.apache.spark.sql.DataFrame,
                     idCol: String, textCol: String,
                     targetPred: Column,
                     broadcastCounts: Boolean = false)
      : org.apache.spark.sql.DataFrame = {
    val grams = df
      .select(col(idCol), targetPred.cast("int").as("__tgt"),
        explode(charShingleHashes(col(textCol), 2)).as("__h"))
    // same tradeoff as bigramNoveltyStats.broadcastDf: the window form
    // counts on the one gram-hash exchange (no size limit, pays the
    // per-partition sort); the broadcast form hash-aggs the counts and
    // ships the |distinct grams| frame to every executor — right when
    // the gram vocabulary is small, wrong when it is corpus-sized
    val counted =
      if (broadcastCounts) {
        val cnt = grams.groupBy(col("__h"))
          .agg(count(lit(1)).as("raw_c"), sum(col("__tgt")).as("tgt_c"))
        grams.join(broadcast(cnt), Seq("__h"))
      } else {
        val wh = org.apache.spark.sql.expressions.Window.partitionBy("__h")
        grams
          .withColumn("raw_c", count(lit(1)).over(wh))
          .withColumn("tgt_c", sum(col("__tgt")).over(wh))
      }
    val totals = grams.agg(
      count(lit(1)).as("raw_total"),
      sum(col("__tgt")).as("tgt_total"),
      countDistinct(col("__h")).as("v"))
    val perDoc = counted
      .crossJoin(broadcast(totals))
      .withColumn("diff", round6(
        round9(log((col("tgt_c") + 1).cast("double") /
               (col("tgt_total") + col("v")).cast("double"))) -
        round9(log((col("raw_c") + 1).cast("double") /
               (col("raw_total") + col("v")).cast("double")))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        (floor((sum(col("diff").cast("decimal(28,12)")).cast("double") /
          count(lit(1))) * 1e6 + 0.5) / 1e6).as("log_w"))
    df.select(col(idCol)).distinct()
      .join(perDoc, Seq(idCol), "left")
      .withColumn("n_grams", coalesce(col("n_grams"), lit(0L)))
  }
}
