package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for large-scale training-data pipelines: token
 * statistics, quality scoring, language identification, fingerprinting.
 *
 * Everything here is a composition of built-in `org.apache.spark.sql.functions`
 * (whole-stage-codegen'd, no UDFs): per-row map-side work that scales linearly
 * with data volume and never shuffles — exactly what a 100 TB cleaning pass
 * needs.
 */
object TextAnalysis {

  /** Whitespace tokenization of trimmed text; empty string → empty array. */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  /** Number of whitespace-delimited tokens. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** Ratio of punctuation characters to all characters. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0)).otherwise(
      length(regexp_replace(text, "[^.,;:!?'\"()\\[\\]{}-]", "")).cast("double") /
        length(text).cast("double"))

  /** Fraction of tokens that are common English stopwords. */
  def stopwordRatio(text: Column): Column = {
    val stops = TextAnalysis.EnglishStopwords.map(lit): Seq[Column]
    val toks = tokens(text)
    when(size(toks) === 0, lit(0.0)).otherwise(
      size(filter(toks, t => lower(t).isin(TextAnalysis.EnglishStopwords: _*)))
        .cast("double") / size(toks).cast("double"))
  }

  /** Mean token length in characters. */
  def meanWordLength(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) === 0, lit(0.0)).otherwise(
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") /
        size(toks).cast("double"))
  }

  /**
   * Composite quality score in [0,1]: rewards mid-length documents with low
   * punctuation density and a healthy stopword ratio (the classic heuristic
   * trio used to pre-filter web text).
   */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / lit(500.0), lit(1.0))
    val punctScore = greatest(lit(1.0) - punctRatio(text) * 5.0, lit(0.0))
    val stopScore = least(stopwordRatio(text) * 4.0, lit(1.0))
    round((lenScore + punctScore + stopScore) / 3.0, 6)
  }

  /**
   * N-gram-heuristic language ID over a small marker vocabulary. Counts
   * marker-word hits per language and picks the argmax (ties → 'und').
   * Deterministic and SQL-expressible, hence oracle-checkable.
   */
  def langId(text: Column): Column = {
    def score(markers: Seq[String]): Column =
      size(filter(tokens(lower(text)), t => t.isin(markers: _*)))
    val en = score(LangMarkers("en"))
    val es = score(LangMarkers("es"))
    val fr = score(LangMarkers("fr"))
    val de = score(LangMarkers("de"))
    when(en >= es && en >= fr && en >= de && en > 0, lit("en"))
      .when(es >= fr && es >= de && es > 0, lit("es"))
      .when(fr >= de && fr > 0, lit("fr"))
      .when(de > 0, lit("de"))
      .otherwise(lit("und"))
  }

  /**
   * Canonical document fingerprint: md5 of case-folded, punctuation-stripped,
   * whitespace-collapsed text. Stable across formatting-only edits.
   */
  def fingerprint(text: Column): Column =
    md5(to_binary(
      trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " ")),
      lit("utf-8")))

  /**
   * 63-bit rolling hash over tokens — order-sensitive, unlike
   * [[fingerprint]]: two independent 32-bit polynomial accumulators over
   * md5-derived token values, packed into one non-negative long (see
   * [[graft.functions.Md5TokenPolyHash]]). Built from SQL-shared primitives
   * on purpose: the driver's DuckDB oracle recomputes the full output
   * (q32), where the previous xxhash64 chain could only be rows-only
   * checked. Native single-pass expression, not an interpreted HOF fold.
   */
  def rollingHash(text: Column): Column =
    graft.functions.TextHashFunctions.md5_token_poly_hash(text)

  /**
   * Gopher/C4-style composite quality gate: evaluates the classic web-text
   * heuristics and returns `(idCol, keep boolean, reasons string)` for
   * every input row — `reasons` is the comma-joined list of violated rules
   * in declaration order (empty when `keep`), so a pipeline can both filter
   * and account for WHY mass was dropped (the per-rule histogram is one
   * `groupBy(reasons)` away). Rows are never dropped here: the caller
   * filters on `keep`, keeping the decision auditable.
   *
   * Every signal is a map-side scalar over the text (no shuffle, no UDF);
   * null text coalesces each stat to 0 so the empty-document rules fire
   * deterministically instead of propagating null comparisons.
   */
  def qualityFilter(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minTokens: Int = 50,
      maxTokens: Int = 100000,
      minMeanWordLen: Double = 3.0,
      maxMeanWordLen: Double = 10.0,
      maxPunctRatio: Double = 0.2,
      minStopwordRatio: Double = 0.02,
      maxDupLineFraction: Double = 0.3): DataFrame = {
    val t = col(textCol)
    // Stats materialized in their own projection so each text pass runs
    // once, then rules in the next (the topNgramFraction lesson).
    val stats = df.select(
      col(idCol).as("id"),
      coalesce(tokenCount(t), lit(0)).as("tc"),
      coalesce(meanWordLength(t), lit(0.0)).as("mwl"),
      coalesce(punctRatio(t), lit(0.0)).as("pr"),
      coalesce(stopwordRatio(t), lit(0.0)).as("sr"),
      coalesce(duplicateLineFraction(t), lit(0.0)).as("dlf"))
    val rules: Seq[(Column, String)] = Seq(
      (col("tc") < minTokens) -> "too_short",
      (col("tc") > maxTokens) -> "too_long",
      (col("mwl") < minMeanWordLen || col("mwl") > maxMeanWordLen) -> "word_len",
      (col("pr") > maxPunctRatio) -> "punct",
      (col("sr") < minStopwordRatio) -> "stopwords",
      (col("dlf") > maxDupLineFraction) -> "dup_lines")
    stats.select(
      col("id").as(idCol),
      !rules.map(_._1).reduce(_ || _) as "keep",
      concat_ws(",", rules.map { case (c, tag) => when(c, lit(tag)) }: _*).as("reasons"))
  }

  /**
   * Exact global top-k token frequencies — vocabulary building / heavy
   * hitters over a corpus. One explode + one hash aggregation with map-side
   * partial counts (the shuffle moves one row per distinct token per task,
   * not one per occurrence), then `orderBy(...).limit(k)`, which Spark plans
   * as `TakeOrderedAndProject` — each task keeps a k-row heap and the driver
   * merges task heaps, so no global sort materializes at any scale. Ties at
   * the boundary break deterministically by token.
   *
   * `byDocFreq=true` counts documents containing the token (each token
   * counted once per document) instead of raw occurrences — the document-
   * frequency table an IDF weighting or stopword mining pass needs.
   */
  def topTokens(
      df: DataFrame,
      textCol: String,
      k: Int,
      byDocFreq: Boolean = false): DataFrame = {
    val toks = tokens(col(textCol))
    val exploded =
      if (byDocFreq) df.select(explode(array_distinct(toks)).as("token"))
      else df.select(explode(toks).as("token"))
    exploded.groupBy("token")
      .agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), asc("token"))
      .limit(k)
  }

  /**
   * Gopher-style line repetition: the fraction of nonempty trimmed lines
   * that repeat an earlier line (1 − distinct/total). Boilerplate-heavy web
   * pages (nav bars, cookie banners) score high; clean prose scores 0.
   */
  def duplicateLineFraction(text: Column): Column = {
    val lines = filter(transform(split(text, "\n"), l => trim(l)), l => length(l) > 0)
    when(size(lines) === 0, lit(0.0)).otherwise(
      lit(1.0) - size(array_distinct(lines)).cast("double") /
        size(lines).cast("double"))
  }

  /**
   * Gopher-style n-gram repetition: the fraction of the document's word
   * n-grams claimed by its single most repeated n-gram, via the native
   * one-pass `gram_stats` (tokenize, hash, sort, run-length — no per-gram
   * strings). NOTE the struct is referenced three times here, which
   * re-evaluates `gram_stats` per reference in a single projection; when
   * deriving several signals, materialize `gram_stats` to a column in one
   * select and apply [[fractionOfGramStats]] in the next (CollapseProject
   * keeps non-cheap multiply-referenced aliases in their own projection,
   * so that shape evaluates once).
   */
  def topNgramFraction(text: Column, n: Int): Column =
    fractionOfGramStats(graft.functions.SketchFunctions.gram_stats(text, n))

  /** `max_gram_count / total_grams` of a materialized `gram_stats` struct;
   *  0.0 for documents with no grams. */
  def fractionOfGramStats(stats: Column): Column =
    when(stats.getField("total_grams") === 0, lit(0.0))
      .otherwise(stats.getField("max_gram_count").cast("double") /
        stats.getField("total_grams").cast("double"))

  /**
   * PII scrub: replace emails, IPv4 addresses, and US-style phone numbers
   * with typed placeholder tokens. Pure map-side `regexp_replace` chain —
   * codegen'd, no shuffle, linear in bytes; the patterns avoid lookarounds
   * so the same regexes run identically under Java regex here and RE2
   * downstream (the oracle replays them in DuckDB). Replacement order
   * matters: emails first (their dotted hosts would otherwise be eaten by
   * the IP pass), then IPs, then phones.
   */
  def redactPii(text: Column): Column = {
    val noEmail = regexp_replace(text, EmailPattern, "<EMAIL>")
    val noIp = regexp_replace(noEmail, Ipv4Pattern, "<IP>")
    regexp_replace(noIp, PhonePattern, "<PHONE>")
  }

  /** Count of matches for one PII pattern (audit/reporting column). */
  def piiCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0)))

  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhonePattern = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"

  /**
   * HTML/markup strip — the step in FRONT of every text operator when the
   * corpus is a web crawl: script/style blocks (content and all), comments,
   * then tags drop; the six ubiquitous entities decode; whitespace
   * collapses to single spaces. A pure map-side chain of codegen'd
   * `regexp_replace`/`replace` calls — zero shuffle at any scale, and every
   * pattern is RE2-safe (no backreferences, no lookarounds) so an oracle
   * replays the chain verbatim.
   *
   * Order is semantic, not incidental:
   *  - script/style/comment BLOCKS go first (their payload may contain
   *    `<`/`>` that is not markup);
   *  - tag strip replaces with a SPACE (adjacent words must not fuse);
   *  - entity decode runs AFTER tag strip (an encoded `&lt;p&gt;` is
   *    content, not a tag, and must survive) with `&amp;` LAST (the
   *    double-escape rule: `&amp;lt;` decodes to `&lt;`, one level only);
   *  - whitespace collapse + trim last.
   * An unterminated `<tag` with no closing `>` is left as text (the
   * permissive reading; a truncated crawl record stays inspectable).
   */
  def stripMarkup(text: Column): Column = {
    val noScript = regexp_replace(text,
      """(?is)<script\b[^>]*>.*?</script\s*>""", " ")
    val noStyle = regexp_replace(noScript,
      """(?is)<style\b[^>]*>.*?</style\s*>""", " ")
    val noComment = regexp_replace(noStyle, """(?s)<!--.*?-->""", " ")
    val noTags = regexp_replace(noComment, """(?s)<[^>]*>""", " ")
    val decoded = Seq(
      "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (ent, ch)) => replace(c, lit(ent), lit(ch)) }
    trim(regexp_replace(decoded, """\s+""", " "))
  }

  /**
   * Vocabulary coverage curve — the tokenizer/vocab SIZING read: for each
   * candidate vocabulary size, the share of corpus token OCCURRENCES a
   * top-`size` vocabulary covers (types ranked by count DESC, token — the
   * deterministic tie), in exact permille. The elbow of this curve is
   * where another thousand vocab slots stops buying coverage.
   *
   * Scale shape: one map-side-combined token count builds the vocabulary;
   * the rank/cumsum windows see ONE ROW PER TYPE (the q73/q87 vocabulary-
   * window convention — never corpus rows); the sizes table fans out over
   * vocab rows only. Sizes beyond the vocabulary report the full corpus
   * (coverage 1000).
   */
  def vocabCoverage(
      df: DataFrame,
      textCol: String,
      sizes: Seq[Int]): DataFrame = {
    require(sizes.nonEmpty && sizes.forall(_ >= 1),
      s"sizes must be positive, got $sizes")
    import org.apache.spark.sql.expressions.Window
    val vocab = df.select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val ranked = vocab
      .withColumn("rank",
        row_number().over(Window.orderBy(desc("cnt"), asc("token"))))
      .withColumn("cum", sum(col("cnt")).over(Window.orderBy("rank")
        .rowsBetween(Window.unboundedPreceding, 0)))
    val tot = broadcast(vocab.agg(sum(col("cnt")).as("__total")))
    val sizesDf = broadcast(
      df.sparkSession.createDataFrame(sizes.distinct.sorted.map(s =>
        Tuple1(s.toLong))).toDF("vocab_size"))
    ranked.crossJoin(sizesDf)
      .where(col("rank") <= col("vocab_size"))
      .groupBy(col("vocab_size"))
      .agg(max(col("rank")).cast("long").as("n_types"),
        max(col("cum")).as("__cov"))
      .crossJoin(tot)
      .select(col("vocab_size"), col("n_types"),
        expr("__cov * 1000 div __total").as("coverage_permille"))
  }

  /**
   * Token-budget chunking: split each document into overlapping windows of
   * at most `chunkSize` tokens with stride `chunkSize - overlap` — the
   * sequence-packing precursor every context-window-bounded training run
   * needs. Emits `(id, chunk_idx, chunk_text, chunk_tokens)`, one row per
   * window. All native expressions (`sequence`/`posexplode`/`slice`): the
   * explode pipelines inside whole-stage codegen, nothing shuffles, and
   * output volume is input volume × (1 + overlap/stride). Empty documents
   * emit no chunks.
   */
  def chunkByTokens(
      df: DataFrame,
      idCol: String,
      textCol: String,
      chunkSize: Int,
      overlap: Int = 0): DataFrame = {
    require(chunkSize >= 1, s"chunkSize must be >= 1, got $chunkSize")
    require(overlap >= 0 && overlap < chunkSize,
      s"overlap must be in [0, chunkSize), got $overlap")
    val stride = chunkSize - overlap
    val toks = tokens(col(textCol))
    // sequence() rejects an empty (0 to -1) range, so guard zero-token docs
    // to an empty start list.
    val starts = when(size(toks) === 0, array().cast("array<int>"))
      .otherwise(sequence(lit(0), size(toks) - 1, lit(stride)))
    // posexplode_OUTER, then drop the null row empty docs produce: the
    // non-outer form trips InferFiltersFromGenerate, whose size(...)>0
    // filter re-runs the whole tokenize+sequence chain per row below the
    // Generate; the outer form is exempt from the rule and the null filter
    // tests a generate OUTPUT, recomputing nothing.
    df.select(col(idCol), toks.as("__toks"), starts.as("__starts"))
      .select(
        col(idCol),
        col("__toks"),
        posexplode_outer(col("__starts")).as(Seq("chunk_idx", "__start")))
      .filter(col("chunk_idx").isNotNull)
      .select(
        col(idCol),
        col("chunk_idx"),
        array_join(slice(col("__toks"), col("__start") + 1, lit(chunkSize)), " ")
          .as("chunk_text"),
        least(lit(chunkSize), size(col("__toks")) - col("__start"))
          .as("chunk_tokens"))
  }

  /**
   * Top-k TF-IDF terms per document: `tf × ln(N/df)` with the document
   * frequencies computed from the corpus itself. Emits
   * `(id, rank, term, score)`, ties broken by term for determinism.
   *
   * Shuffle shape: one aggregation by (doc, token) for term frequencies,
   * one by token for document frequencies (vocabulary-sized — Spark picks
   * broadcast vs shuffle join from stats; a web-scale vocabulary shuffles,
   * a domain vocabulary broadcasts), the corpus size as a 1-row broadcast
   * cross join (no driver-side count action), and one window by doc for
   * the top-k — which WindowGroupLimit bounds to k rows per doc per task
   * before the exchange.
   */
  def tfidfTopTerms(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val terms = df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
    val tf = terms.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = df.select(count_distinct(col(idCol)).as("n"))
    val w = Window.partitionBy(col(idCol)).orderBy(desc("score"), asc("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      // Rounded BEFORE ranking: JVM Math.log and other engines' libm ln
      // may differ in the last ulp, and a cross-engine-reproducible rank
      // must not depend on that bit.
      .withColumn("score",
        round(col("tf").cast("double") *
          log(col("n").cast("double") / col("df").cast("double")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"), col("score"))
  }

  /**
   * Per-group corpus report — the first panel a data engineer asks of a
   * new corpus: document/token/char volume, distinct-content count (the
   * exact-dup-rate signal), and the short-doc tail, grouped by the given
   * columns (source, language, ...). One aggregation shuffle with map-side
   * partial aggregation; every measure is INTEGER arithmetic on purpose —
   * a float sum's value depends on addition order across partitions, and a
   * cross-engine-reproducible report must not (ratios divide out of the
   * integer columns downstream). Null text counts toward `n_docs` only.
   */
  def corpusReport(df: DataFrame, textCol: String, groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "corpusReport needs at least one group column")
    val t = col(textCol)
    val tc = tokenCount(t).cast("long")
    // coalesce: a group of only-null texts must report 0 volume, not NULL
    df.groupBy(groupCols.map(col): _*).agg(
      count(lit(1)).as("n_docs"),
      coalesce(sum(tc), lit(0L)).as("total_tokens"),
      coalesce(sum(length(t).cast("long")), lit(0L)).as("total_chars"),
      count_distinct(md5(to_binary(t, lit("utf-8")))).as("n_distinct_texts"),
      sum(when(tc < 20, 1L).otherwise(0L)).as("n_short_docs"))
  }

  /**
   * EXACT token-count quantiles (type-1 / lower discontinuous: the
   * smallest value whose cumulative count reaches ⌈p·n⌉) — the length
   * distribution that tunes a packing budget or a truncation threshold.
   * Exact and integer-only, so any engine reproduces it bit-for-bit —
   * unlike `percentile_approx`, whose sketch merges are layout-dependent.
   *
   * Scale shape: the corpus aggregates to one row per DISTINCT token
   * count first (map-side partial counts; thousands of rows however many
   * documents), and the cumulative window + per-quantile pick run on that
   * tiny table — the unpartitioned window is a deliberate single-task
   * step over the distinct-count table, never over documents. Null text
   * is excluded (it has no length, and counting it as 0 would skew every
   * low quantile).
   */
  def tokenCountQuantiles(
      df: DataFrame, textCol: String, permille: Seq[Int]): DataFrame = {
    require(permille.nonEmpty && permille.forall(p => p > 0 && p <= 1000),
      s"quantiles must be permille in (0, 1000], got $permille")
    import org.apache.spark.sql.expressions.Window
    val counts = df
      .select(tokenCount(col(textCol)).cast("long").as("tc"))
      .filter(col("tc").isNotNull)
      .groupBy("tc").agg(count(lit(1)).as("c"))
    val w = Window.orderBy("tc")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts
      .withColumn("cum", sum(col("c")).over(w))
      .crossJoin(broadcast(counts.select(sum(col("c")).as("n"))))
    val pDf = df.sparkSession.createDataFrame(
      permille.map(p => Tuple1(p.toLong)).distinct).toDF("p_permille")
    // ⌈p·n⌉ in pure INTEGER arithmetic: (p·n + 999) div 1000. Quantiles
    // arrive as permille on purpose — ceil(0.9 * n) in binary doubles
    // rounds UP off the exact multiple (0.9·500 → 450.0000…011 → 451),
    // and whether another engine agrees depends on its decimal/double
    // choice. Integers have no such seam.
    cum.crossJoin(broadcast(pDf))
      .filter(col("cum") >= expr("(p_permille * n + 999) div 1000"))
      .groupBy("p_permille").agg(min(col("tc")).as("token_count"))
      .orderBy("p_permille")
  }

  /**
   * [[tokenCountQuantiles]] per group (source, lang, ...): the
   * length-distribution panel that decides per-source packing budgets and
   * length filters. Same exact-integer type-1 quantile rule, same
   * scale convention — the windows run over the distinct-count HISTOGRAM
   * (one row per distinct (group, token count)), partitioned by group, so
   * no single-task global window and no per-document rows past the first
   * aggregate. Groups with only null-text docs produce no rows.
   */
  def tokenCountQuantilesBy(
      df: DataFrame,
      textCol: String,
      groupCols: Seq[String],
      permille: Seq[Int]): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(permille.nonEmpty && permille.forall(p => p > 0 && p <= 1000),
      s"quantiles must be permille in (0, 1000], got $permille")
    import org.apache.spark.sql.expressions.Window
    val counts = df
      .select(groupCols.map(col) :+
        tokenCount(col(textCol)).cast("long").as("tc"): _*)
      .filter(col("tc").isNotNull)
      .groupBy((groupCols :+ "tc").map(col): _*).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy("tc")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts
      .withColumn("cum", sum(col("c")).over(w))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(groupCols.map(col): _*)))
    val pDf = df.sparkSession.createDataFrame(
      permille.map(p => Tuple1(p.toLong)).distinct).toDF("p_permille")
    cum.crossJoin(broadcast(pDf))
      .filter(col("cum") >= expr("(p_permille * n + 999) div 1000"))
      .groupBy((groupCols :+ "p_permille").map(col): _*)
      .agg(min(col("tc")).as("token_count"))
  }

  /**
   * Corpus-frequency boilerplate removal: drop every line whose trimmed
   * content appears in MORE than `maxDocs` distinct documents (nav bars,
   * cookie banners, license headers), keeping all other lines in original
   * order. Unlike [[graft.pipeline.Dedup.dedupParagraphs]] (keep-first),
   * boilerplate is removed from EVERY document including the first — a
   * line either is boilerplate corpus-wide or it isn't.
   *
   * Shape at scale: posexplode lines once; the doc-frequency aggregate runs
   * with map-side partial aggregation on the trimmed line; the frequent set
   * is inherently small (≤ total_lines / maxDocs entries), so the anti-join
   * broadcasts under AQE; the rebuild groups by doc id with an array_sort
   * on (pos, line) structs — one shuffle keyed by the id. The anti-join key
   * is the trimmed line ITSELF, not a hash: a hash collision here would
   * silently delete a real line, and the frequent side is small enough that
   * exactness costs nothing. Empty/whitespace-only lines are structural and
   * never counted or removed. Docs whose every line is boilerplate (or
   * whose text is empty) survive with `cleaned = ""` via the final left
   * join against the input ids.
   */
  def removeBoilerplateLines(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDocs: Int): DataFrame = {
    require(maxDocs >= 1, s"maxDocs must be >= 1, got $maxDocs")
    // Explicit space+tab trim: Spark's default trim() strips spaces only,
    // and the line key must normalize identically on any engine replaying
    // it (DuckDB mirror: trim(line, ' ' || chr(9))).
    def lineKey(c: Column): Column = trim(c, " \t")
    val lines = df.select(col(idCol).as("id"),
      posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    val frequent = lines
      .where(length(lineKey(col("line"))) > 0)
      .select(col("id"), lineKey(col("line")).as("tl")).distinct()
      .groupBy("tl").agg(count(lit(1)).as("doc_freq"))
      .where(col("doc_freq") > maxDocs)
      .select("tl")
    val kept = lines.join(frequent, lineKey(lines("line")) === frequent("tl"), "left_anti")
    val rebuilt = kept.groupBy("id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s.getField("line")), "\n").as("cleaned"))
    df.select(col(idCol).as("id")).join(rebuilt, Seq("id"), "left")
      .select(col("id"), coalesce(col("cleaned"), lit("")).as("cleaned"))
  }

  /**
   * WITHIN-document line dedup: keep each line's first occurrence, in
   * order (the per-doc counterpart of corpus-level
   * [[graft.pipeline.Dedup.dedupParagraphs]] — no corpus state, so this
   * is a PURE map expression: `array_distinct` preserves first-occurrence
   * order in Spark, zero shuffle at any scale). Empty lines dedup like
   * any other line: the first survives, later ones drop.
   */
  def dedupLinesWithinDoc(text: Column): Column =
    array_join(array_distinct(split(text, "\n")), "\n")

  /**
   * Mean token-rarity score in integer permille: rank the corpus
   * vocabulary by frequency (rarest = 1000), then average each document's
   * token rarity. A rarity-calibrated quality/novelty signal with NO float
   * seam — `rank()` ties share, all division is integer DIV — so the score
   * replays exactly on any engine.
   *
   * Shape: one token-count aggregate builds the vocabulary (map-side
   * combined; |vocab| rows), ranked with a single-partition window THAT
   * ONLY EVER SEES THE VOCABULARY (data-scale-independent, same
   * convention as the q73/q87 histograms), broadcast back to the exploded
   * corpus, one id-keyed aggregate for the per-doc mean. Tokenless docs
   * (empty/whitespace text) score null.
   */
  def tokenRarityScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vocab = df.select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cf"))
    val v = Window.partitionBy()
    val ranked = vocab
      .withColumn("__rank0", (rank().over(Window.orderBy(col("cf").desc)) - 1).cast("long"))
      .withColumn("__v", count(lit(1)).over(v))
      .withColumn("rarity_permille",
        expr("(__rank0 * 1000) DIV greatest(__v - 1, 1)"))
      .select("token", "rarity_permille")
    df.select(col(idCol).as("id"), explode(tokens(col(textCol))).as("token"))
      .join(broadcast(ranked), Seq("token"))
      .groupBy("id")
      .agg(expr("sum(rarity_permille) DIV count(1)").as("mean_rarity_permille"))
      .join(df.select(col(idCol).as("id")), Seq("id"), "right")
      .select(col("id"), col("mean_rarity_permille"))
  }

  // --- Encoding / script health -------------------------------------------

  /**
   * Count of characters inside an EXPLICIT codepoint-range character class
   * (a Java-regex class body like `"A-Za-zÀ-ɏ"`). Deliberately
   * range-based rather than `\p{script=...}`: library script tables track
   * the engine's Unicode version, so two engines can legitimately disagree
   * on a character's script — explicit ranges are versionless and replay
   * exactly anywhere. Counting is by CODEPOINT on both sides of the oracle
   * (Spark's `length` counts UTF-8 codepoints, as does DuckDB's).
   * Null text → null, empty → 0.
   */
  def charClassCount(text: Column, classBody: String): Column =
    length(regexp_replace(text, "[^" + classBody + "]", ""))

  /** Latin letters: ASCII plus Latin-1/Extended-A/B supplements. */
  val LatinClass = "A-Za-zÀ-ɏ"
  /** Cyrillic block. */
  val CyrillicClass = "Ѐ-ӿ"
  /** CJK Unified Ideographs (base block). */
  val CjkClass = "一-鿿"
  /** Arabic block. */
  val ArabicClass = "؀-ۿ"
  /** Printable ASCII (space..tilde). */
  val AsciiPrintableClass = " -~"
  /** C0 controls except \t\n\r, plus DEL — never legitimate in clean text. */
  val ControlClass = "\u0000-\u0008\u000B\u000C\u000E-\u001F\u007F"
  /** U+FFFD — the decoder's "this byte sequence was broken" marker. */
  val ReplacementClass = "\uFFFD"

  /**
   * Encoding/script health profile — the standard mojibake and
   * wrong-charset signals a web-scale ingest pass screens on: per-document
   * counts over explicit codepoint ranges (major scripts, printable ASCII,
   * stray control characters, U+FFFD replacement characters), a
   * dominant-script label, and a damage flag. All counts are integers and
   * every classification is a deterministic CASE over them, so the whole
   * profile replays exactly on any engine. Pure map-side codegen'd work —
   * zero shuffles at any scale. Ties in the dominant-script vote resolve
   * in fixed priority order (latin > cyrillic > cjk > arabic); documents
   * with no script characters at all label 'none'.
   */
  def withScriptProfile(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val out = df
      .withColumn("latin_cnt", charClassCount(t, LatinClass))
      .withColumn("cyrillic_cnt", charClassCount(t, CyrillicClass))
      .withColumn("cjk_cnt", charClassCount(t, CjkClass))
      .withColumn("arabic_cnt", charClassCount(t, ArabicClass))
      .withColumn("ascii_printable_cnt", charClassCount(t, AsciiPrintableClass))
      .withColumn("control_cnt", charClassCount(t, ControlClass))
      .withColumn("replacement_cnt", charClassCount(t, ReplacementClass))
      .withColumn("char_cnt", length(t))
    val (la, cy, cj, ar) =
      (col("latin_cnt"), col("cyrillic_cnt"), col("cjk_cnt"), col("arabic_cnt"))
    out
      .withColumn("dominant_script",
        when(la.isNull, lit(null).cast("string"))
          .when(greatest(la, cy, cj, ar) === 0, lit("none"))
          .when(la >= cy && la >= cj && la >= ar, lit("latin"))
          .when(cy >= cj && cy >= ar, lit("cyrillic"))
          .when(cj >= ar, lit("cjk"))
          .otherwise(lit("arabic")))
      .withColumn("mojibake",
        col("replacement_cnt") > 0 || col("control_cnt") > 0)
  }

  // --- Corpus-trained bigram LM scoring -----------------------------------

  /**
   * CCNet-style language-model quality score, self-trained on the corpus:
   * an add-one-smoothed bigram model — term(w1,w2) = ln((c2(w1,w2) + 1) /
   * (c1(w1) + V)) — scored as each document's mean bigram log-probability.
   * Fluent, corpus-typical text scores high; token salad and boilerplate
   * score low. (CCNet proper uses a pretrained KenLM; the corpus-trained
   * model is the model-free variant with the same plan shape — swapping in
   * external counts changes nothing structural.)
   *
   * Float seam handled the q57 way, but for SUMS rather than ranks: each
   * DISTINCT bigram's log term is rounded once to integer MICRO-NATS
   * (round(ln·10⁶)), so per-document aggregation is exact integer
   * arithmetic — a double sum's value depends on addition order across
   * partitions, an integer sum's does not, and JVM `Math.log` vs libm `ln`
   * can differ only in the last ulp, far below the rounding grain.
   *
   * Shape at scale: two vocabulary aggregates (map-side combined — one row
   * per distinct unigram/bigram per task crosses the wire), V as a 1-row
   * broadcast (no driver action), the score table joined once per corpus
   * bigram occurrence (AQE broadcasts it when small; shuffle-joins scale
   * when it isn't), then one id-keyed aggregate of (long, 1) pairs.
   * Documents with fewer than two tokens score null.
   */
  def bigramLmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = df.select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
    val bigrams = zip_with(
      slice(col("toks"), lit(1), size(col("toks")) - 1),
      slice(col("toks"), lit(2), size(col("toks")) - 1),
      (a, b) => concat(a, lit(" "), b))
    val occ = base.where(size(col("toks")) >= 2)
      .select(col("id"), explode(bigrams).as("bg"))
    val uni = base.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val bi = occ.groupBy("bg").agg(count(lit(1)).as("c2"))
    val vocab = uni.select(count(lit(1)).as("v"))
    // Per-DISTINCT-bigram score table: c1 keyed by the bigram's first
    // token, V folded in, the one ln() in the whole plan — rounded here,
    // before anything sums it.
    val scoreTable = bi
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(uni.withColumnRenamed("w", "w1"), "w1")
      .crossJoin(broadcast(vocab))
      .withColumn("term_micro", expr(
        "CAST(round(ln((c2 + 1) / CAST(c1 + v AS DOUBLE)) * 1e6, 0) AS BIGINT)"))
      .select("bg", "term_micro")
    occ.join(scoreTable, "bg")
      .groupBy("id")
      .agg(expr("sum(term_micro) DIV count(1)").as("lm_score_micronats"),
        count(lit(1)).as("n_bigrams"))
      .join(base.select("id"), Seq("id"), "right")
      .select(col("id"), col("lm_score_micronats"), col("n_bigrams"))
  }

  /**
   * The TRAINED form of [[bigramLmScore]]'s model, as one persistable
   * table — the real CCNet shape: fit the LM on a reference corpus once,
   * store it, score every later batch against the stored table with no
   * refit (the q102/q103/q104 persisted-artifact lifecycle, applied to a
   * model). Rows are `(kind, key, term_micro)`:
   *  - `bigram` — ln((c2+1)/(c1+V)) for every observed bigram,
   *  - `unigram` — the smoothed UNSEEN-bigram fallback ln(1/(c1+V)) for
   *    every observed first token,
   *  - `default` — ln(1/V), for bigrams whose first token the training
   *    corpus never saw.
   * Together the three kinds make the model total: any bigram of any
   * future batch gets exactly the add-one probability the one-shot scorer
   * would assign if that bigram had c2=0. All terms are pre-rounded
   * micro-nats (the one ln() happens at FIT time), so scoring is pure
   * integer arithmetic — and a stored model can never drift from a
   * recomputed one.
   */
  def bigramLmModel(df: DataFrame, textCol: String): DataFrame = {
    val base = df.select(tokens(col(textCol)).as("toks"))
    val bigrams = zip_with(
      slice(col("toks"), lit(1), size(col("toks")) - 1),
      slice(col("toks"), lit(2), size(col("toks")) - 1),
      (a, b) => concat(a, lit(" "), b))
    val uni = base.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val bi = base.where(size(col("toks")) >= 2)
      .select(explode(bigrams).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c2"))
    val vocab = uni.select(count(lit(1)).as("v"))
    val biRows = bi
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(uni.withColumnRenamed("w", "w1"), "w1")
      .crossJoin(broadcast(vocab))
      .select(lit("bigram").as("kind"), col("bg").as("key"), expr(
        "CAST(round(ln((c2 + 1) / CAST(c1 + v AS DOUBLE)) * 1e6, 0) AS BIGINT)")
        .as("term_micro"))
    val uniRows = uni.crossJoin(broadcast(vocab))
      .select(lit("unigram").as("kind"), col("w").as("key"), expr(
        "CAST(round(ln(1.0 / CAST(c1 + v AS DOUBLE)) * 1e6, 0) AS BIGINT)")
        .as("term_micro"))
    val defaultRow = vocab
      .select(lit("default").as("kind"), lit(null).cast("string").as("key"),
        expr("CAST(round(ln(1.0 / CAST(v AS DOUBLE)) * 1e6, 0) AS BIGINT)")
          .as("term_micro"))
    biRows.unionByName(uniRows).unionByName(defaultRow)
  }

  /**
   * Score a batch against a STORED [[bigramLmModel]] — no refit, no
   * training-corpus rescan. Per-bigram back-off: exact bigram term when
   * the model saw it, the first token's unseen-bigram fallback otherwise,
   * the vocabulary default when even that token is new. Two left joins on
   * compact string keys + the 1-row default broadcast, then the same
   * exact-integer per-doc mean as the one-shot scorer; scoring a corpus
   * against its OWN model reproduces [[bigramLmScore]] exactly (every
   * observed bigram hits the bigram table) — spec-pinned.
   */
  def bigramLmScoreWithModel(
      df: DataFrame,
      idCol: String,
      textCol: String,
      model: DataFrame): DataFrame = {
    val base = df.select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
    val bigrams = zip_with(
      slice(col("toks"), lit(1), size(col("toks")) - 1),
      slice(col("toks"), lit(2), size(col("toks")) - 1),
      (a, b) => concat(a, lit(" "), b))
    val occ = base.where(size(col("toks")) >= 2)
      .select(col("id"), explode(bigrams).as("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    val bi = model.filter(col("kind") === "bigram")
      .select(col("key").as("bg"), col("term_micro").as("t_bg"))
    val un = model.filter(col("kind") === "unigram")
      .select(col("key").as("w1"), col("term_micro").as("t_w1"))
    val dflt = model.filter(col("kind") === "default")
      .select(col("term_micro").as("t_def"))
    occ.join(bi, Seq("bg"), "left")
      .join(un, Seq("w1"), "left")
      .crossJoin(broadcast(dflt))
      .withColumn("term_micro", coalesce(col("t_bg"), col("t_w1"), col("t_def")))
      .groupBy("id")
      .agg(expr("sum(term_micro) DIV count(1)").as("lm_score_micronats"),
        count(lit(1)).as("n_bigrams"))
      .join(base.select("id"), Seq("id"), "right")
      .select(col("id"), col("lm_score_micronats"), col("n_bigrams"))
  }

  /** Convenience: attach the full stat block to a DataFrame. */
  def withTextStats(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("token_count", tokenCount(t))
      .withColumn("char_count", length(t))
      .withColumn("punct_ratio", punctRatio(t))
      .withColumn("stopword_ratio", stopwordRatio(t))
      .withColumn("mean_word_len", meanWordLength(t))
      .withColumn("quality_score", qualityScore(t))
      .withColumn("lang_pred", langId(t))
      .withColumn("fingerprint", fingerprint(t))
      .withColumn("dup_line_frac", duplicateLineFraction(t))
      // gram_stats materialized in its own projection so the byte pass runs
      // once, not three times for the struct's three field references.
      .withColumn("__gram_stats",
        graft.functions.SketchFunctions.gram_stats(t, 2))
      .withColumn("top_bigram_frac", fractionOfGramStats(col("__gram_stats")))
      .drop("__gram_stats")
  }

  /**
   * Lexical-diversity report per group: total and distinct token counts
   * with a type-token ratio in integer permille, and the same pair for
   * word bigrams. Template spam, boilerplate floods, and dedup failures
   * all show up as a falling TTR (especially the bigram one) long before
   * anyone reads the documents — this is the per-source panel that flags
   * them. Exact integer arithmetic end to end, so the report hashes
   * identically on any engine.
   *
   * Scale shape: tokens explode ONCE into a (group, token) partial-count
   * aggregate — map-side combining collapses repeats before the exchange,
   * so shuffle volume is the distinct-(group, token) set, not the corpus
   * token stream — then a per-group rollup of that compact table; same
   * two-level shape for bigrams (no `countDistinct` expand: each explode
   * is aggregated separately and the two group-level tables join at
   * group cardinality). Groups whose documents have no tokens at all
   * carry no signal and are absent from the report; a group with tokens
   * but no bigrams (all single-token docs) reports a null bigram TTR.
   */
  def lexicalDiversity(
      df: DataFrame,
      textCol: String,
      groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column required")
    val gs = groupCols.map(col)
    // Tokenize once into a projected column: element_at(<split expr>, i)
    // inside the bigram lambda would re-run the split per access —
    // O(len²) per document (the q147 lesson).
    val base = df.select(gs :+ tokens(col(textCol)).as("__toks"): _*)
    val toks = col("__toks")
    // bigram i joins slice element i (= token i+1, 1-based) with its successor
    val bgs = when(size(toks) < 2, array().cast("array<string>"))
      .otherwise(transform(slice(toks, lit(1), size(toks) - 1),
        (t, i) => concat_ws(" ", t, element_at(toks, i + 2))))
    def twoLevel(values: Column, totalName: String, distinctName: String) =
      base.select(gs :+ explode(values).as("__v"): _*)
        .groupBy(gs :+ col("__v"): _*)
        .agg(count(lit(1)).as("__c"))
        .groupBy(gs: _*)
        .agg(sum(col("__c")).as(totalName), count(lit(1)).as(distinctName))
    twoLevel(toks, "total_tokens", "distinct_tokens")
      .join(twoLevel(bgs, "total_bigrams", "distinct_bigrams"), groupCols, "left")
      .withColumn("ttr_permille",
        expr("distinct_tokens * 1000 div total_tokens"))
      .withColumn("bigram_ttr_permille",
        expr("distinct_bigrams * 1000 div total_bigrams"))
      .select((gs :+ col("total_tokens") :+ col("distinct_tokens") :+
        col("ttr_permille") :+ col("total_bigrams") :+ col("distinct_bigrams") :+
        col("bigram_ttr_permille")): _*)
  }

  /**
   * Per-group token Shannon entropy — the distribution-concentration
   * panel ("is source X a thousand templates or real prose?") next to
   * [[lexicalDiversity]]'s TTR. H = Σ (c/T)·ln(T/c) over the group's
   * token distribution, reported in integer MICRO-NATS via the q107 seam
   * rule: the one ln() per DISTINCT (count, total) evaluates once and
   * rounds to micro-nats BEFORE the weighted sum, the sum runs in exact
   * integers, and the final per-group division truncates — so the panel
   * replays bit-for-bit on any engine that agrees on ln to 1e-6 (both
   * do; the q107/q113/q131 gates already stand on it). Output per group:
   * (group..., total_tokens, distinct_tokens, entropy_micro_nats,
   * max_entropy_micro_nats = ln(distinct) in micro-nats, the uniform
   * ceiling a reader compares against).
   *
   * Scale shape: one token explode into a two-level aggregate — the
   * (group, token) partial counts collapse map-side, the shuffle carries
   * the distinct set; the entropy arithmetic then runs on (group, token)
   * COUNT rows only, never the stream. Same cost envelope as
   * [[lexicalDiversity]].
   */
  def tokenEntropyByGroup(
      df: DataFrame,
      textCol: String,
      groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column required")
    val gs = groupCols.map(col)
    val counts = df.select(gs :+ explode(tokens(col(textCol))).as("__w"): _*)
      .groupBy(gs :+ col("__w"): _*)
      .agg(count(lit(1)).as("__c"))
    val totals = counts.groupBy(gs: _*)
      .agg(sum(col("__c")).as("total_tokens"),
        count(lit(1)).as("distinct_tokens"))
    counts.join(totals, groupCols)
      .withColumn("__term",
        expr("CAST(round(ln(CAST(total_tokens AS DOUBLE) / __c) * 1e6, 0) AS BIGINT)"))
      .groupBy(gs: _*)
      .agg(max(col("total_tokens")).as("total_tokens"),
        max(col("distinct_tokens")).as("distinct_tokens"),
        // c·term products run in DECIMAL(38,0) (the systematicPpsSample
        // rule): at ~1e12 tokens per group the int64 product would
        // silently wrap under non-ANSI Spark. IntegralDivide returns the
        // result as BIGINT, so the output schema is unchanged.
        sum(col("__c").cast("decimal(38,0)") * col("__term")).as("__wsum"))
      .withColumn("entropy_micro_nats", expr("__wsum div total_tokens"))
      .withColumn("max_entropy_micro_nats",
        expr("CAST(round(ln(CAST(distinct_tokens AS DOUBLE)) * 1e6, 0) AS BIGINT)"))
      .select((gs :+ col("total_tokens") :+ col("distinct_tokens") :+
        col("entropy_micro_nats") :+ col("max_entropy_micro_nats")): _*)
  }

  /**
   * Per-DOCUMENT character-entropy screen — the binary/garbage detector
   * ([[tokenEntropyByGroup]]'s seam at document granularity, over
   * CHARACTERS): base64 blobs, hex dumps, and minified payloads betray
   * themselves by their character distribution long before tokenization
   * means anything. Same integer discipline: one micro-nat ln per
   * distinct (doc, char), DECIMAL weighted sum, one truncating division
   * by length — replays bit-for-bit. Characters come from positional
   * substr (both engines agree on 1-based char semantics); empty/null
   * docs carry no characters and are omitted.
   *
   * Scale shape: the char explode is linear in corpus BYTES (like every
   * gram operator here); the aggregate collapses map-side to one row per
   * distinct (doc, char) — at most |alphabet| rows per doc.
   */
  def charEntropyReport(
      df: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val chars = df.select(col(idCol).cast("long").as("id"),
        coalesce(col(textCol), lit("")).as("__t"))
      .where(length(col("__t")) > 0)
      .select(col("id"), col("__t"),
        explode(sequence(lit(1), length(col("__t")))).as("i"))
      .select(col("id"), expr("substring(__t, i, 1)").as("ch"))
    val counts = chars.groupBy(col("id"), col("ch"))
      .agg(count(lit(1)).as("__c"))
    val totals = counts.groupBy(col("id"))
      .agg(sum(col("__c")).as("n_chars"),
        count(lit(1)).as("distinct_chars"))
    counts.join(totals, "id")
      .withColumn("__term",
        expr("CAST(round(ln(CAST(n_chars AS DOUBLE) / __c) * 1e6, 0) AS BIGINT)"))
      .groupBy(col("id"))
      .agg(max(col("n_chars")).as("n_chars"),
        max(col("distinct_chars")).as("distinct_chars"),
        sum(col("__c").cast("decimal(38,0)") * col("__term")).as("__wsum"))
      .withColumn("entropy_micro_nats", expr("__wsum div n_chars"))
      .select(col("id"), col("n_chars"), col("distinct_chars"),
        col("entropy_micro_nats"))
  }

  /**
   * Per-group Jensen–Shannon divergence between two corpus slices' token
   * distributions — the text-side complement of the embedding centroid
   * drift monitor ("did source X's language shift between snapshots?").
   * For each group: P = slice A's token distribution, Q = slice B's,
   * M = (P+Q)/2, and
   *
   *   KL(P||M) = Σ_t (a_t/A)·ln(2·a_t·B / (a_t·B + b_t·A))
   *   JSD = (KL(P||M) + KL(Q||M)) / 2
   *
   * reported in integer MICRO-NATS via the q107 seam rule: each token's
   * ln evaluates ONCE on exact-integer-derived doubles and rounds to
   * micro-nats, the weighted sums run in DECIMAL(38,0) (counts × signed
   * micro-nat terms — int64 could wrap at ~1e12 tokens/group), and every
   * division truncates toward zero (Spark `div` ≡ DuckDB `//`), so any
   * engine agreeing on ln to 1e-6 replays the panel bit-for-bit. Range:
   * 0 (identical) to ln 2 ≈ 693 147 micro-nats (disjoint vocabularies).
   *
   * Groups missing from EITHER slice report NULL divergences — a single
   * slice is not a distribution pair, and a monitor should alert on the
   * absence, not fold it into a number.
   *
   * Scale shape: one token explode per slice into (group, token) partial
   * counts that collapse map-side; a full-outer equi-join on
   * (group, token) aligns the two count tables (one shuffle each); the
   * divergence arithmetic then runs on count rows only, never the
   * stream. Same cost envelope as two [[tokenEntropyByGroup]] passes.
   */
  def tokenJsDivergence(
      dfA: DataFrame,
      dfB: DataFrame,
      textCol: String,
      groupCols: Seq[String]): DataFrame =
    tokenJsDivergenceFromCounts(
      tokenCountsByGroup(dfA, textCol, groupCols),
      tokenCountsByGroup(dfB, textCol, groupCols),
      groupCols)

  /** The (group..., token, cnt) count table behind the divergence
   *  monitors — exposed so a persisted reference histogram (or a
   *  streaming sink's per-batch appends, summed) can stand in for a
   *  corpus slice in [[tokenJsDivergenceFromCounts]]. Partial counts
   *  collapse map-side; the shuffle carries the distinct set. */
  def tokenCountsByGroup(
      df: DataFrame,
      textCol: String,
      groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column required")
    val gs = groupCols.map(col)
    df.select(gs :+ explode(tokens(col(textCol))).as("token"): _*)
      .groupBy(gs :+ col("token"): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** [[tokenJsDivergence]] over pre-aggregated (group..., token, cnt)
   *  tables — counts are additive, so slices can come from a stored
   *  histogram, a streaming sink's summed batches, or any union of
   *  partial counts, and the result is identical to computing over the
   *  raw text. Same seam discipline and output schema as the raw-text
   *  entry point. */
  def tokenJsDivergenceFromCounts(
      countsA: DataFrame,
      countsB: DataFrame,
      groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column required")
    val gs = groupCols.map(col)
    val ca = countsA.select(gs ++ Seq(col("token").as("__w"),
      col("cnt").as("__a")): _*)
    val cb = countsB.select(gs ++ Seq(col("token").as("__w"),
      col("cnt").as("__b")): _*)
    val aligned = ca.join(cb, groupCols :+ "__w", "full_outer")
      .select(gs ++ Seq(col("__w"),
        coalesce(col("__a"), lit(0L)).as("__a"),
        coalesce(col("__b"), lit(0L)).as("__b")): _*)
    val totals = aligned.groupBy(gs: _*)
      .agg(sum(col("__a")).as("__ta"), sum(col("__b")).as("__tb"))
    // One micro-nat-rounded ln per (token, side); products/sums exact.
    val lnArg =
      "(CAST(2 AS DOUBLE) * CAST(%s AS DOUBLE) * CAST(%s AS DOUBLE)) / " +
        "(CAST(__a AS DOUBLE) * CAST(__tb AS DOUBLE) + " +
        "CAST(__b AS DOUBLE) * CAST(__ta AS DOUBLE))"
    val termed = aligned.join(totals, groupCols)
      .withColumn("__terma",
        when(col("__a") > 0 && col("__ta") > 0 && col("__tb") > 0,
          expr(s"CAST(round(ln(${lnArg.format("__a", "__tb")}) * 1e6, 0) AS BIGINT)"))
          .otherwise(lit(0L)))
      .withColumn("__termb",
        when(col("__b") > 0 && col("__ta") > 0 && col("__tb") > 0,
          expr(s"CAST(round(ln(${lnArg.format("__b", "__ta")}) * 1e6, 0) AS BIGINT)"))
          .otherwise(lit(0L)))
    termed.groupBy(gs: _*)
      .agg(max(col("__ta")).as("tokens_a"),
        max(col("__tb")).as("tokens_b"),
        sum(col("__a").cast("decimal(38,0)") * col("__terma")).as("__sa"),
        sum(col("__b").cast("decimal(38,0)") * col("__termb")).as("__sb"))
      .withColumn("kl_a_micro_nats",
        when(col("tokens_a") > 0 && col("tokens_b") > 0, expr("__sa div tokens_a")))
      .withColumn("kl_b_micro_nats",
        when(col("tokens_a") > 0 && col("tokens_b") > 0, expr("__sb div tokens_b")))
      .withColumn("jsd_micro_nats",
        expr("(kl_a_micro_nats + kl_b_micro_nats) div 2"))
      .select(gs :+ col("tokens_a") :+ col("tokens_b") :+
        col("kl_a_micro_nats") :+ col("kl_b_micro_nats") :+
        col("jsd_micro_nats"): _*)
  }

  /**
   * The first `k` BPE merges over the corpus vocabulary — tokenizer
   * training's core loop (Sennrich et al. 2016), run the Spark way.
   * Words (whitespace tokens) aggregate once into (word, freq) vocab
   * rows; each word's symbol sequence is encoded as a DELIMITED STRING
   * (`"abc"` → `"|a||b||c|"`), so a merge is one LITERAL string
   * replacement — `replace("|a||b|" → "|ab|")` — whose non-overlapping
   * left-to-right scan IS BPE's greedy merge order (the `"aaaa"` case:
   * first `"|a||a|"` wins, scan resumes after it, yielding `aa aa`, not
   * `aa a a`). Per iteration: one pair-count aggregate over vocab rows
   * weighted by word frequency, one driver-side top-1 (bounded — a
   * single row), one literal rewrite. Ties break (weight DESC, left
   * ASC, right ASC) so the merge table is a pure function of the
   * corpus.
   *
   * Returns the trained artifact itself: (merge_rank, lhs, rhs,
   * weight) — the merge table a BPE tokenizer executes. Words
   * containing the delimiter `|` are excluded (documented contract; a
   * production corpus escapes them upstream).
   *
   * Scale shape: everything iterates over VOCAB rows (one shuffle to
   * build them from the token stream), never the corpus; the k
   * per-iteration aggregates are map-side-partial counts over compact
   * (a, b, weight) rows. The merge loop's driver state is k rows.
   */
  def bpeMerges(df: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = df.sparkSession
    val vocab = df.select(explode(tokens(col(textCol))).as("__w"))
      .where(!col("__w").contains("|"))
      .groupBy(col("__w")).agg(count(lit(1)).as("__freq"))
      .select(regexp_replace(col("__w"), "(.)", "|$1|").as("__repr"),
        col("__freq"))
    var cur = vocab.localCheckpoint(eager = false)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var exhausted = false
    for (i <- 1 to k if !exhausted) {
      // symbols projected once before the pair lambda (the q147 lesson:
      // element_at on the raw split expression re-splits per access)
      val top = cur
        .select(col("__freq"),
          split(trim(col("__repr"), "|"), "\\|\\|").as("__syms"))
        .where(size(col("__syms")) >= 2)
        .select(col("__freq"), explode(transform(
          sequence(lit(1), size(col("__syms")) - 1),
          j => struct(element_at(col("__syms"), j).as("a"),
            element_at(col("__syms"), j + 1).as("b")))).as("__p"))
        .groupBy(col("__p.a").as("__a"), col("__p.b").as("__b"))
        .agg(sum(col("__freq")).as("__wgt"))
        .orderBy(desc("__wgt"), asc("__a"), asc("__b"))
        .limit(1).collect()
      if (top.isEmpty) {
        exhausted = true // corpus ran out of pairs before k merges
      } else {
        val (a, b, w) = (top.head.getString(0), top.head.getString(1),
          top.head.getLong(2))
        merges += ((i, a, b, w))
        // literal (regex-quoted) replacement: symbols may hold any char
        val pat = java.util.regex.Pattern.quote(s"|$a||$b|")
        val rep = java.util.regex.Matcher.quoteReplacement(s"|$a$b|")
        cur = cur.select(
          regexp_replace(col("__repr"), lit(pat), lit(rep)).as("__repr"),
          col("__freq")).localCheckpoint(eager = false)
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("merge_rank", "lhs", "rhs", "weight")
  }

  /**
   * BPE ENCODE, vocabulary side: applies a STORED merge table (the
   * [[bpeMerges]] artifact, persisted and re-read — the q113
   * stored-model convention) to a set of words. Each word encodes to
   * its delimited symbol string and the merges replay IN RANK ORDER as
   * the same literal `replace("|a||b|" → "|ab|")` rewrites training
   * used — non-overlapping left-to-right, so greedy order is identical
   * to the trainer's and to any engine replaying the table. Returns one
   * row per DISTINCT word: (word, bpe_tokens array, n_bpe).
   *
   * Scale shape: the rewrite chain runs over VOCAB rows, never the
   * corpus ([[bpeTokenCounts]] joins the corpus against this table on
   * the word key). The merge table is driver-side model state — k rows
   * by construction, like the bigram-LM and centroid models; it inlines
   * as literal rewrites in chunks of 64 with a `localCheckpoint`
   * between chunks, so a large table deepens the chain linearly without
   * handing Catalyst one k-deep expression tree. Words containing the
   * `|` delimiter are excluded — the [[bpeMerges]] contract.
   */
  def bpeEncodeVocab(words: DataFrame, wordCol: String, merges: DataFrame): DataFrame = {
    // The merge table is MODEL state (k rows by construction), but the
    // collect is still bounded with a loud refusal — the convention for
    // every driver-side materialization in this codebase: a caller who
    // passes a corpus-sized frame here gets an error, not a driver OOM.
    val maxMerges = 65536
    val ms = merges.orderBy(col("merge_rank"))
      .select(col("lhs").cast("string"), col("rhs").cast("string"))
      .limit(maxMerges + 1)
      .collect().map(r => (r.getString(0), r.getString(1)))
    require(ms.length <= maxMerges,
      s"merge table exceeds $maxMerges rows — not a bpeMerges artifact " +
        "(a real tokenizer's merge list is tens of thousands of rows at most)")
    require(ms.forall(m => m._1 != null && m._2 != null),
      "merge table holds null lhs/rhs — not a bpeMerges artifact")
    var cur = words.select(col(wordCol).cast("string").as("word"))
      .where(col("word").isNotNull && !col("word").contains("|"))
      .distinct()
      .select(col("word"), regexp_replace(col("word"), "(.)", "|$1|").as("__repr"))
    ms.grouped(64).foreach { chunk =>
      val rewritten = chunk.foldLeft(cur) { case (df, (a, b)) =>
        val pat = java.util.regex.Pattern.quote(s"|$a||$b|")
        val rep = java.util.regex.Matcher.quoteReplacement(s"|$a$b|")
        df.select(col("word"),
          regexp_replace(col("__repr"), lit(pat), lit(rep)).as("__repr"))
      }
      cur = rewritten.localCheckpoint(eager = false)
    }
    cur.select(col("word"),
        split(trim(col("__repr"), "|"), "\\|\\|").as("bpe_tokens"))
      .withColumn("n_bpe", size(col("bpe_tokens")).cast("long"))
  }

  /**
   * Per-document REAL token counts under a stored BPE merge table — the
   * number every packing/budget operator actually wants (whitespace
   * counts under-estimate subword streams). Corpus work is one explode
   * into (id, word, cnt) partial-aggregated rows and one join against
   * the [[bpeEncodeVocab]] table on the word key; the rewrite chain
   * itself never touches corpus-sized data. Returns (id, bpe_tokens)
   * for ids with at least one encodable token; duplicate ids merge like
   * any aggregate (callers wanting zero-token rows left-join from their
   * id table).
   */
  def bpeTokenCounts(
      df: DataFrame,
      idCol: String,
      textCol: String,
      merges: DataFrame): DataFrame = {
    Dedup.requireIntegralId(df, idCol, "bpeTokenCounts")
    val wordCounts = df.select(col(idCol).cast("long").as("id"),
        explode(tokens(col(textCol))).as("word"))
      .where(!col("word").contains("|"))
      .groupBy(col("id"), col("word")).agg(count(lit(1)).as("__cnt"))
    val enc = bpeEncodeVocab(wordCounts.select(col("word")), "word", merges)
    wordCounts.join(enc.select(col("word"), col("n_bpe")), "word")
      .groupBy(col("id"))
      .agg(sum(col("__cnt") * col("n_bpe")).as("bpe_tokens"))
  }

  /**
   * Tokenizer-fit evaluation: characters per subword token under a
   * STORED merge table, per group — the "does this tokenizer suit this
   * domain" number (a source whose chars-per-token is far below the
   * corpus norm is being shredded into byte-level pieces; one far above
   * is wasting the vocabulary). Reported as exact integer PERMILLE
   * (truncating div, both engines agree); groups with zero tokens
   * report NULL rather than a fake ratio. Costs one [[bpeTokenCounts]]
   * pass plus one |groups|-row aggregate.
   */
  def tokenizerFitReport(
      df: DataFrame,
      idCol: String,
      textCol: String,
      groupCol: String,
      merges: DataFrame): DataFrame = {
    val counts = bpeTokenCounts(df, idCol, textCol, merges)
    df.select(col(idCol).cast("long").as("id"), col(groupCol).as("__g"),
        coalesce(length(col(textCol)).cast("long"), lit(0L)).as("__chars"))
      .join(counts, Seq("id"), "left")
      .groupBy(col("__g").as(groupCol))
      .agg(sum(coalesce(col("bpe_tokens"), lit(0L))).as("bpe_tokens"),
        sum(col("__chars")).as("chars"))
      .withColumn("chars_per_token_permille",
        when(col("bpe_tokens") > 0, expr("chars * 1000 div bpe_tokens")))
  }

  /**
   * Top-`k` bigram collocations by pointwise mutual information — the
   * multi-word-expression miner ("new york", "machine learning") every
   * corpus vocabulary build wants before tokenizer training. With
   * unigram counts c_x over total Tu and bigram counts c_xy over total
   * Tb:
   *
   *   PMI(x,y) = ln( (c_xy · Tu · Tu) / (Tb · c_x · c_y) )
   *
   * in integer micro-nats (one rounded ln per surviving bigram on
   * exact-integer-derived doubles — the q107 seam). `minCount` floors
   * c_xy first: PMI is notoriously noisy on hapax pairs, and the floor
   * also keeps the ln argument well-conditioned. Ties order by bigram
   * text, so the top-k set is deterministic.
   *
   * Scale shape: two explodes (tokens, adjacent pairs) into partial-
   * aggregated count tables; the bigram table joins the unigram table
   * twice on compact token keys; totals are 1-row broadcasts. The
   * final top-k is a bounded TakeOrdered, never a full sort to disk.
   */
  def collocationsPmi(
      df: DataFrame,
      textCol: String,
      minCount: Long = 5L,
      k: Int = 20): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    require(k >= 1, s"k must be >= 1, got $k")
    // Tokenize ONCE into a projected column before the pair lambda:
    // `element_at(<split expr>, i)` inside a transform re-evaluates the
    // split per access — O(len²) tokenization per document (measured 2×
    // the whole query's cost at sf0.1). Against the materialized array,
    // each pair is one element read.
    val toksDf = df.select(tokens(col(textCol)).as("__toks"))
    val pairs = toksDf
      .where(size(col("__toks")) >= 2)
      .select(explode(transform(
        slice(col("__toks"), lit(1), size(col("__toks")) - 1),
        (tk, i) => struct(tk.as("w1"),
          element_at(col("__toks"), i + 2).as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    // Both count tables feed MULTIPLE consumers (the totals and the
    // joins — unigrams twice); localCheckpoint pins each corpus explode
    // to ONE execution instead of one per consumer. Vocab-sized frames.
    val bigramCounts = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c_xy"))
      .localCheckpoint(eager = false)
    val unigramCounts = toksDf.select(explode(col("__toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false)
    val tu = broadcast(unigramCounts.agg(sum(col("c")).as("__tu")))
    val tb = broadcast(bigramCounts.agg(sum(col("c_xy")).as("__tb")))
    bigramCounts.filter(col("c_xy") >= minCount)
      .join(unigramCounts.select(col("w").as("w1"), col("c").as("__cx")), "w1")
      .join(unigramCounts.select(col("w").as("w2"), col("c").as("__cy")), "w2")
      .crossJoin(tu).crossJoin(tb)
      .withColumn("pmi_micro_nats",
        expr("CAST(round(ln((CAST(c_xy AS DOUBLE) * CAST(__tu AS DOUBLE) * CAST(__tu AS DOUBLE)) / " +
          "(CAST(__tb AS DOUBLE) * CAST(__cx AS DOUBLE) * CAST(__cy AS DOUBLE))) * 1e6, 0) AS BIGINT)"))
      .select(concat_ws(" ", col("w1"), col("w2")).as("bigram"),
        col("c_xy").as("pair_count"), col("pmi_micro_nats"))
      .orderBy(desc("pmi_micro_nats"), asc("bigram"))
      .limit(k)
  }

  /**
   * The drill-down behind [[tokenJsDivergence]]: for each group, the
   * `k` tokens contributing MOST to the divergence — the "which words
   * drifted" answer a monitor alert needs next. Per-token contribution
   * (in the JSD sum's own micro-nat units):
   *
   *   contrib = (a·termA) div A + (b·termB) div B
   *
   * RANKING however uses the exact common-denominator integer
   * a·termA·B + b·termB·A (order-equivalent within a group, since
   * A·B > 0 is constant there) so tiny truncated display values can't
   * collapse the order into ties; remaining ties order by token. Groups
   * missing a side are dropped (no distribution pair — [[tokenJsDivergence]]
   * reports them as NULL rows; the drill-down has nothing to rank).
   *
   * Same aligned-count shape as the divergence itself, plus one
   * bounded per-group top-k window over (group, token) count rows.
   */
  def tokenJsDivergenceContributors(
      dfA: DataFrame,
      dfB: DataFrame,
      textCol: String,
      groupCols: Seq[String],
      k: Int = 5): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column required")
    require(k >= 1, s"k must be >= 1, got $k")
    val gs = groupCols.map(col)
    def counts(df: DataFrame, out: String): DataFrame =
      df.select(gs :+ explode(tokens(col(textCol))).as("__w"): _*)
        .groupBy(gs :+ col("__w"): _*)
        .agg(count(lit(1)).as(out))
    val aligned = counts(dfA, "__a").join(counts(dfB, "__b"),
        groupCols :+ "__w", "full_outer")
      .select(gs ++ Seq(col("__w"),
        coalesce(col("__a"), lit(0L)).as("__a"),
        coalesce(col("__b"), lit(0L)).as("__b")): _*)
    val totals = aligned.groupBy(gs: _*)
      .agg(sum(col("__a")).as("__ta"), sum(col("__b")).as("__tb"))
    val lnArg =
      "(CAST(2 AS DOUBLE) * CAST(%s AS DOUBLE) * CAST(%s AS DOUBLE)) / " +
        "(CAST(__a AS DOUBLE) * CAST(__tb AS DOUBLE) + " +
        "CAST(__b AS DOUBLE) * CAST(__ta AS DOUBLE))"
    val termed = aligned.join(totals, groupCols)
      .where(col("__ta") > 0 && col("__tb") > 0)
      .withColumn("__terma",
        when(col("__a") > 0,
          expr(s"CAST(round(ln(${lnArg.format("__a", "__tb")}) * 1e6, 0) AS BIGINT)"))
          .otherwise(lit(0L)))
      .withColumn("__termb",
        when(col("__b") > 0,
          expr(s"CAST(round(ln(${lnArg.format("__b", "__ta")}) * 1e6, 0) AS BIGINT)"))
          .otherwise(lit(0L)))
      .withColumn("__exact",
        expr("CAST(__a AS DECIMAL(38,0)) * __terma * __tb + " +
          "CAST(__b AS DECIMAL(38,0)) * __termb * __ta"))
      .withColumn("contribution_micro_nats",
        expr("(CAST(__a AS DECIMAL(38,0)) * __terma) div __ta + " +
          "(CAST(__b AS DECIMAL(38,0)) * __termb) div __tb"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(gs: _*)
      .orderBy(desc("__exact"), asc("__w"))
    termed.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(gs ++ Seq(col("rank"), col("__w").as("token"),
        col("__a").as("count_a"), col("__b").as("count_b"),
        col("contribution_micro_nats")): _*)
  }

  /**
   * Per-group Zipf slope: the least-squares slope of ln(freq) against
   * ln(rank) over the group's top-`topN` tokens — the one-number
   * naturalness check (real prose sits near −1; template spam and
   * boilerplate flatten toward 0, id dumps steepen). Ranks follow the
   * [[topTokens]] rule (freq desc, token asc). Seam discipline: x =
   * ln(rank) and y = ln(freq) each round ONCE to integer micro-nats,
   * the four regression sums (Σx, Σy, Σxy, Σx²) accumulate in
   * DECIMAL(38,0), and the final slope is one truncating division
   *
   *   slope_micro = (n·Σxy − Σx·Σy) · 1e6 div (n·Σx² − (Σx)²)
   *
   * (micro-units: −1 000 000 ≈ the canonical Zipf exponent). Groups
   * with fewer than 2 ranked tokens report NULL (a point has no slope).
   *
   * Scale shape: (group, token) counts collapse map-side; the rank
   * window runs per group over vocabulary rows only — the documented
   * per-group-vocabulary skew point shared with [[topTokens]]; the
   * regression is then one aggregate over ≤ topN rows per group.
   */
  def zipfSlopeByGroup(
      df: DataFrame,
      textCol: String,
      groupCols: Seq[String],
      topN: Int = 100): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column required")
    require(topN >= 2, s"topN must be >= 2, got $topN")
    val gs = groupCols.map(col)
    val counts = df.select(gs :+ explode(tokens(col(textCol))).as("__w"): _*)
      .groupBy(gs :+ col("__w"): _*)
      .agg(count(lit(1)).as("__c"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(gs: _*)
      .orderBy(desc("__c"), asc("__w"))
    val ranked = counts.withColumn("__r", row_number().over(w))
      .where(col("__r") <= topN)
      .withColumn("__x",
        expr("CAST(round(ln(CAST(__r AS DOUBLE)) * 1e6, 0) AS BIGINT)"))
      .withColumn("__y",
        expr("CAST(round(ln(CAST(__c AS DOUBLE)) * 1e6, 0) AS BIGINT)"))
    ranked.groupBy(gs: _*)
      .agg(count(lit(1)).as("n_terms"),
        sum(col("__x").cast("decimal(38,0)")).as("__sx"),
        sum(col("__y").cast("decimal(38,0)")).as("__sy"),
        sum(col("__x").cast("decimal(38,0)") * col("__y")).as("__sxy"),
        sum(col("__x").cast("decimal(38,0)") * col("__x")).as("__sxx"))
      .withColumn("slope_micro",
        when(col("n_terms") >= 2,
          expr("CAST(((n_terms * __sxy - __sx * __sy) * 1000000) div " +
            "(n_terms * __sxx - __sx * __sx) AS BIGINT)")))
      .select(gs :+ col("n_terms") :+ col("slope_micro"): _*)
  }

  /**
   * Vocabulary-coverage (OOV) report: fit the corpus's own top-`vocabSize`
   * token vocabulary (the [[topTokens]] rule — frequency desc, token asc
   * ties, so the fit is deterministic on any engine), then report per
   * group how much of the token stream falls OUTSIDE it — total tokens,
   * OOV occurrences, and the OOV rate in integer permille. The panel that
   * says which sources a fixed tokenizer vocabulary will shred into
   * fallback bytes, before any tokenizer is trained.
   *
   * Scale shape: the fit is one map-side-combined (token, count) aggregate
   * plus a bounded top-k collect (`vocabSize` rows); scoring is a ZERO-
   * shuffle map pass — the vocabulary rides with the task binary as a
   * sorted 60-bit md5 hash table and each document pays one
   * [[graft.functions.CountInLongSet]] membership scan over its hashed
   * token array (no corpus explode, no join) — then one compact per-group
   * aggregate. Membership is by 60-bit hash: a non-vocab token can only
   * miscount as covered on an md5 collision (odds ~ distinct-tokens ×
   * vocabSize / 2⁶⁰ — negligible, same convention as the q50 gram table).
   * Groups with no tokens report 0/0 and a null rate.
   */
  def oovReport(
      df: DataFrame,
      textCol: String,
      groupCols: Seq[String],
      vocabSize: Int): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column required")
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    import graft.functions.{KmvFunctions, SketchFunctions}
    // hashed with the engine's own md5 expression, so the scoring pass
    // below tests membership on the exact same bits
    val vocabHashes: Array[Long] = topTokens(df, textCol, vocabSize)
      .select(KmvFunctions.md5Hash60(col("token")).as("h"))
      .as(org.apache.spark.sql.Encoders.scalaLong)
      .collect()
    java.util.Arrays.sort(vocabHashes)
    val gs = groupCols.map(col)
    val toks = tokens(col(textCol))
    val hashes = transform(toks, t => KmvFunctions.md5Hash60(t))
    df.select(gs :+ coalesce(size(toks), lit(0)).cast("long").as("__n") :+
        coalesce(SketchFunctions.count_in_long_set(hashes, vocabHashes), lit(0))
          .cast("long").as("__in"): _*)
      .groupBy(gs: _*)
      .agg(sum(col("__n")).as("total_tokens"),
        sum(col("__n") - col("__in")).as("oov_tokens"))
      .withColumn("oov_permille",
        when(col("total_tokens") === 0, lit(null).cast("long"))
          .otherwise(expr("oov_tokens * 1000 div total_tokens")))
  }

  /**
   * Extracted http(s) link hosts per document: one output row per link
   * occurrence with its registered host, taken by the native codegen'd
   * `parse_url` expression over a whitespace-bounded URL match. Pure
   * map-side explode — no shuffle; this is the domain-mix input a crawl
   * pipeline aggregates (per-domain volumes, cap lists, blocklists).
   * Links whose authority `parse_url` cannot parse yield a null domain
   * rather than dropping silently.
   */
  def extractLinkDomains(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        explode(expr(s"regexp_extract_all($textCol, 'https?://[^\\\\s]+', 0)"))
          .as("url"))
      .select(col(idCol), expr("parse_url(url, 'HOST')").as("domain"), col("url"))

  /**
   * Canonical URL form for URL-keyed deduplication — the frontier/
   * re-crawl dedup key (the same page arrives as `HTTP://Host.Com:80/p/`,
   * `http://www.host.com/p`, `http://host.com/p#ref`; crawling all
   * three wastes a fetch and plants near-dup documents). Deterministic,
   * lookaround-free regex chain (the q52 RE2-parity rule, so a DuckDB/
   * RE2 engine replays it byte-for-byte):
   *
   *  1. trim, drop the fragment (`#...`);
   *  2. scheme and authority lowercase (ASCII — the case-insensitive
   *     URL components; path/query keep their case, they are not);
   *  3. leading `www.` dropped; default ports stripped (`:80` for http,
   *     `:443` for https);
   *  4. trailing slashes dropped from the path when there is no query.
   *
   * Non-URLs (no `scheme://`) canonicalize to NULL — callers filter or
   * route them, nothing silently passes as its own key. Pure map-side
   * column expression: no UDF, no shuffle, codegen'd regex.
   */
  def canonicalizeUrl(url: Column): Column = {
    val u = regexp_replace(trim(url), "#.*", "")
    val scheme = lower(regexp_extract(u, "^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    val auth0 = lower(regexp_extract(u, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1))
    val auth1 = regexp_replace(auth0, "^www\\.", "")
    val auth = when(scheme === "http", regexp_replace(auth1, ":80$", ""))
      .when(scheme === "https", regexp_replace(auth1, ":443$", ""))
      .otherwise(auth1)
    val rest = regexp_extract(u, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(.*)$", 1)
    val restNorm = when(rest.contains("?"), rest)
      .otherwise(regexp_replace(rest, "/+$", ""))
    when(scheme === "", lit(null).cast("string"))
      .otherwise(concat(scheme, lit("://"), auth, restNorm))
  }

  /**
   * URL-keyed dedup report: one row per canonical URL with the distinct
   * raw spellings collapsed onto it and the total occurrence count —
   * the fetch-budget savings a canonicalizing frontier banks. One
   * map-side canonicalization pass + one key aggregate (the distinct
   * count's partial aggregation collapses repeats map-side);
   * non-URL rows drop (NULL key). */
  def urlDedupReport(df: DataFrame, urlCol: String): DataFrame =
    df.select(canonicalizeUrl(col(urlCol)).as("canonical_url"),
        col(urlCol).as("__raw"))
      .where(col("canonical_url").isNotNull)
      .groupBy(col("canonical_url"))
      .agg(countDistinct(col("__raw")).as("n_variants"),
        count(lit(1)).as("n_urls"))

  /**
   * Content-defined-chunk duplication report per group: chunk every
   * document with the gear-hash CDC expression ([[graft.functions
   * .CdcChunks]] — boundaries re-align around edits, unlike fixed-width
   * blocks), then report corpus-level chunk volumes, distinct chunk
   * content, total code points, and the duplicated-chunk rate in integer
   * permille. This is sub-document dedup pressure: two near-identical
   * documents share most chunk hashes even when no whole paragraph
   * repeats verbatim — the storage/transfer-dedup view of the corpus.
   *
   * Scale shape: chunking is map-side (one shift-add per code point, one
   * md5 per ~`minLen + 2^maskBits` code points); the explode feeds a
   * two-level (group, hash) partial-count aggregate, so shuffle volume is
   * the distinct chunk-hash set per group, never the text.
   */
  def cdcChunkReport(
      df: DataFrame,
      textCol: String,
      groupCols: Seq[String],
      maskBits: Int = 5,
      minLen: Int = 16,
      maxLen: Int = 128): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column required")
    val gs = groupCols.map(col)
    val chunks = graft.functions.TextHashFunctions
      .cdc_chunks(col(textCol), maskBits, minLen, maxLen)
    df.select(gs :+ explode(chunks).as("__c"): _*)
      .select(gs :+ col("__c.hash").as("__h") :+
        col("__c.len").cast("long").as("__l"): _*)
      .groupBy(gs :+ col("__h"): _*)
      .agg(count(lit(1)).as("__n"), sum(col("__l")).as("__ls"))
      .groupBy(gs: _*)
      .agg(sum(col("__n")).as("n_chunks"),
        count(lit(1)).as("distinct_chunks"),
        sum(col("__ls")).as("total_cps"))
      .withColumn("dup_chunk_permille",
        expr("(n_chunks - distinct_chunks) * 1000 div n_chunks"))
  }

  /**
   * CDC transfer diff: how much of a NEW corpus version is genuinely new
   * bytes, chunk-wise, against the previous version. Both sides chunk with
   * [[graft.functions.CdcChunks]]; a v2 chunk instance is "reused" when a
   * chunk with the same md5 exists anywhere in the group's v1 — which CDC's
   * edit locality makes common even for edited documents (only the chunks
   * around each edit change). Per group: chunk instance counts, reused vs
   * new, code-point volumes, and the reuse rate in integer permille — the
   * storage/transfer bill of a re-crawl, which a doc-level diff
   * ([[Dedup.corpusDiff]]) cannot see because it counts an edited document
   * as wholly new.
   *
   * Scale shape: each side reduces map-side to compact (group, hash[,
   * count, len-sum]) rows — the old side to its DISTINCT chunk set — so
   * the one join moves hash-table-sized keys, never text.
   */
  def cdcTransferDiff(
      oldDf: DataFrame,
      newDf: DataFrame,
      textCol: String,
      groupCols: Seq[String],
      maskBits: Int = 5,
      minLen: Int = 16,
      maxLen: Int = 128): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column required")
    val gs = groupCols.map(col)
    def chunked(df: DataFrame) =
      df.select(gs :+ explode(graft.functions.TextHashFunctions
          .cdc_chunks(col(textCol), maskBits, minLen, maxLen)).as("__c"): _*)
        .select(gs :+ col("__c.hash").as("__h") :+
          col("__c.len").cast("long").as("__l"): _*)
    val oldSet = chunked(oldDf).select(gs :+ col("__h"): _*).distinct()
      .withColumn("__old", lit(1))
    chunked(newDf)
      .groupBy(gs :+ col("__h"): _*)
      .agg(count(lit(1)).as("__n"), sum(col("__l")).as("__ls"))
      .join(oldSet, groupCols :+ "__h", "left")
      .groupBy(gs: _*)
      .agg(sum(col("__n")).as("n_chunks"),
        sum(when(col("__old").isNotNull, col("__n")).otherwise(0L))
          .as("reused_chunks"),
        sum(col("__ls")).as("total_cps"),
        sum(when(col("__old").isNotNull, col("__ls")).otherwise(0L))
          .as("reused_cps"))
      .withColumn("new_chunks", col("n_chunks") - col("reused_chunks"))
      .withColumn("reuse_permille", expr("reused_cps * 1000 div total_cps"))
  }

  /**
   * The corpus's distinct CDC chunk-hash ledger: one row per distinct md5
   * chunk hash (hex string), persistable as parquet and probed later by
   * [[cdcReuseAgainstLedger]] without re-chunking the curated corpus —
   * the sub-document analogue of the MinHash signature index. Map-side
   * chunking, distinct collapses partially before the one exchange.
   */
  def cdcChunkLedger(
      df: DataFrame,
      textCol: String,
      maskBits: Int = 5,
      minLen: Int = 16,
      maxLen: Int = 128): DataFrame =
    df.select(explode(graft.functions.TextHashFunctions
        .cdc_chunks(col(textCol), maskBits, minLen, maxLen)).as("__c"))
      .select(col("__c.hash").as("hash"))
      .distinct()

  /** Ledger hashes as a sorted 60-bit table for the zero-shuffle probe:
   *  `('0x' || substr(hash, 1, 15))::BIGINT` — the established md5-prefix
   *  arithmetic, recomputable by any engine. Bounded collect (the ledger
   *  is the CURATED side); fails loudly past `maxLocal` like the eval
   *  gram table. */
  def cdcLedgerHashes(ledger: DataFrame, maxLocal: Int = 4000000): Array[Long] = {
    val arr = ledger
      .select(conv(substring(col("hash"), 1, 15), 16, 10).cast("long").as("h"))
      .limit(maxLocal + 1)
      .as(org.apache.spark.sql.Encoders.scalaLong)
      .collect()
    require(arr.length <= maxLocal,
      s"chunk ledger exceeds $maxLocal entries; probe via a join instead")
    java.util.Arrays.sort(arr)
    arr
  }

  /**
   * Per-document chunk-reuse probe against a (pre-collected) ledger table:
   * how much of each incoming document's content already exists in the
   * curated corpus, chunk-wise. ZERO-shuffle, stateless map work — chunk
   * hashes test membership with one [[graft.functions.CountInLongSet]]
   * scan per document — so it runs unchanged inside a streaming
   * micro-batch (no aggregation state, no join). A chunk can only
   * miscount as reused on a 60-bit md5-prefix collision (the documented
   * gram-table convention). Chunkless documents (empty/null text) report
   * 0 chunks and a null permille.
   */
  def cdcReuseAgainstLedger(
      df: DataFrame,
      idCol: String,
      textCol: String,
      ledgerHashes: Array[Long],
      maskBits: Int = 5,
      minLen: Int = 16,
      maxLen: Int = 128): DataFrame = {
    // chunks materialized in their own projection so the (CodegenFallback)
    // chunker runs once per row, not once per field reference — the same
    // rule as withTextStats' gram pass
    val hashes = transform(col("__ch"),
      c => conv(substring(c.getField("hash"), 1, 15), 16, 10).cast("long"))
    df.select(col(idCol), graft.functions.TextHashFunctions
        .cdc_chunks(col(textCol), maskBits, minLen, maxLen).as("__ch"))
      .select(col(idCol),
        coalesce(size(col("__ch")), lit(0)).cast("long").as("n_chunks"),
        coalesce(graft.functions.SketchFunctions
          .count_in_long_set(hashes, ledgerHashes), lit(0))
          .cast("long").as("reused_chunks"))
      .withColumn("reuse_permille",
        when(col("n_chunks") === 0, lit(null).cast("long"))
          .otherwise(expr("reused_chunks * 1000 div n_chunks")))
  }

  /**
   * Robust winnowing fingerprints (Schleimer–Wilkerson–Aiken, SIGMOD 2003
   * — the MOSS algorithm): hash every token `k`-gram, slide a window of
   * `w` consecutive gram hashes over the document, and keep each window's
   * minimum (rightmost position on ties). The selected set is position-
   * robust — any shared substring of at least `k + w − 1` tokens is
   * GUARANTEED to contribute at least one common fingerprint — at an
   * expected density of 2/(w+1) of the grams, which is what makes
   * fingerprint-overlap a sound contamination/clone detector where
   * [[fingerprint]] (whole-doc hash) only catches exact duplicates and
   * MinHash only estimates global Jaccard.
   *
   * Output: (idCol, pos, fp) — `pos` the 1-based gram position selected,
   * `fp` the 60-bit md5 gram hash ([[graft.functions.KmvFunctions
   * .md5Hash60]], the q76 hash family — SQL-replayable: DuckDB's
   * `('0x' || substr(md5(g), 1, 15))::BIGINT`). Documents with fewer than
   * `k` tokens yield no row; with fewer than `k + w − 1` tokens the
   * single clipped window selects the doc's global (rightmost) minimum,
   * so every tokenizable doc keeps at least one fingerprint.
   *
   * Scale shape: tokenize → gram-hash → ONE window pass per document
   * (`min(struct(hash, −pos))` over a `[0, w−1]` row frame gives the
   * rightmost-min in one expression — no per-window self-join) →
   * distinct. All map-side until the final per-document sort the window
   * imposes; no shuffle wider than (doc, gram) rows, nothing quadratic
   * in document length (the q147 `element_at` re-split trap avoided by
   * projecting the token array once).
   */
  def winnowingFingerprints(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      w: Int = 4): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(w >= 1, s"w must be >= 1, got $w")
    // The whole selection is per-document array arithmetic — ZERO
    // shuffles: gram hashes, the sliding rightmost-min (array_min over a
    // w-slice of (hash, −pos) structs — the same lexicographic rule a
    // window frame would apply), and the within-doc dedup
    // (array_distinct) all run map-side; only the selected fingerprints
    // (≈ 2/(w+1) of the grams) ever leave the task. The previous shape
    // exploded every gram through a per-doc window — one full shuffle
    // and sort of the gram table for the same answer.
    //
    // The explode(array(...)) wrapper is load-bearing: a Generate node
    // is a projection barrier, so the (tokenize → gram → md5 → struct)
    // chain is evaluated ONCE per document and the per-window slices
    // read a bound attribute. Without it CollapseProject inlines the
    // single-use array into the window lambda and the hash chain
    // re-evaluates per window — the O(len²) trap from the r11 bench
    // (element_at-over-split), one level up.
    df
      .where(col(textCol).isNotNull)
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .where(size(col("__toks")) >= k)
      .withColumn("__grams",
        expr(s"transform(sequence(1, size(__toks) - ${k} + 1), " +
          s"i -> concat_ws(' ', slice(__toks, i, ${k})))"))
      .withColumn("__hs",
        transform(col("__grams"),
          g => graft.functions.KmvFunctions.md5Hash60(g)))
      .select(col(idCol),
        explode(array(transform(col("__hs"),
          (h, i) => struct(h.as("__h"), (-(i + lit(1))).as("__np")))))
          .as("__ph"))
      .withColumn("__sel",
        expr(s"array_distinct(transform(" +
          s"sequence(1, greatest(1, size(__ph) - ${w - 1})), " +
          s"j -> array_min(slice(__ph, j, ${w}))))"))
      .select(col(idCol), explode(col("__sel")).as("__s"))
      .select(col(idCol), (-col("__s.__np")).as("pos"),
        col("__s.__h").as("fp"))
  }

  /**
   * Corpus-accretion novelty: for each document, how much of its
   * DISTINCT n-gram content appears in the corpus HERE FIRST — first
   * occurrence being the minimal doc id owning the gram (corpus order).
   * The dedup-diagnostics curve: a crawl refresh whose new documents
   * score near 0 is re-serving the tail, not adding content; near 1000
   * is genuinely new text. Output per input doc: (id, n_grams,
   * novel_grams, novelty_permille) — permille NULL when the doc is
   * shorter than the gram window (nothing to judge).
   *
   * Matching runs on 60-bit hashed grams (the q50/q109 decontamination
   * machinery — one byte pass, no per-gram strings); equals the
   * string-gram oracle absent a 64-bit collision. Shape at scale: one
   * explode to (id, gram-hash) longs, a gram-keyed min aggregate with
   * map-side partials, one join back on the hash, one id-keyed count —
   * only compact longs ever cross an exchange, no text, no arrays.
   */
  def ngramNoveltyReport(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int): DataFrame = {
    Dedup.requireIntegralId(df, idCol, "ngramNoveltyReport")
    val g = df.select(col(idCol).cast("long").as("id"),
        explode(coalesce(Decontaminate.hashedGrams(col(textCol), n),
          array().cast("array<long>"))).as("__g"))
    val first = g.groupBy(col("__g")).agg(min(col("id")).as("__first"))
    val per = g.join(first, "__g")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__first") === col("id"), 1L).otherwise(0L))
          .as("novel_grams"))
      .withColumn("novelty_permille",
        expr("novel_grams * 1000 DIV n_grams"))
    df.select(col(idCol).cast("long").as("id")).join(per, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("novel_grams"), lit(0L)).as("novel_grams"),
        col("novelty_permille"))
  }

  val EnglishStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was",
    "for", "on", "with", "as", "at", "by", "it", "this", "that")

  val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "a"),
    "es" -> Seq("el", "la", "los", "las", "es", "y"),
    "fr" -> Seq("le", "la", "les", "est", "et", "une"),
    "de" -> Seq("der", "die", "das", "ist", "und", "ein"))
}
