package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines: token
  * counting, quality scoring, document fingerprinting, language ID.
  *
  * Everything is a narrow per-row projection over codegen'd built-ins
  * (split / higher-order array functions / bit ops) — zero shuffle, so
  * throughput scales linearly with executors at 100 TB.
  */
object TextAnalysis {

  /** Whitespace tokenization. `sep` defaults to the single-space model of
    * the synthetic corpus; use `"(?U)\\s+"` for real text. */
  def tokens(text: Column, sep: String = " "): Column = split(text, sep)

  /** Token + char counts per document. */
  def tokenStats(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"),
      // long-typed: DuckDB len()/length() are BIGINT — keep schemas aligned
      size(tokens(col(textCol))).cast("long").as("n_tokens"),
      length(col(textCol)).cast("long").as("n_chars_measured"))

  /** BPE-ish pre-tokenizer: contractions, space-prefixed letter runs,
    * short digit groups, punctuation runs — the GPT-2 pre-tokenizer shape
    * minus lookahead, so the pattern is dialect-safe (Java regex and
    * DuckDB's RE2 both run ordered leftmost-first alternation on it). */
  val BpeTokenRe: String =
    "'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]{1,3}| ?[^A-Za-z0-9 ]+"

  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit(BpeTokenRe), lit(0))

  /** BPE-ish token count + a preview of the first five tokens — the
    * training-cost estimator's per-document statistic. Narrow projection,
    * no shuffle. */
  def bpeTokenStats(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = bpeTokens(col(textCol))
    docs.select(col("doc_id"),
      size(toks).cast("long").as("n_tokens_bpe"),
      concat_ws("|", slice(toks, 1, 5)).as("preview"))
  }

  /** Tokenizer fertility audit by language — the multilingual budgeting
    * metric: fertility = subword tokens per whitespace word (×1000) and
    * compression = chars per subword token (×1000), aggregated per
    * language. A language whose fertility runs 2–3× English (common for
    * underrepresented scripts under an English-heavy BPE) pays that
    * multiple in sequence length for the same content — this table is
    * what a token-budgeted mixing plan ([[graft.ops.Sampling.mixPlan]])
    * needs to budget in TOKENS rather than documents. Pure-integer
    * ratios; one narrow projection + a per-language aggregate (map-side
    * partials, |langs| rows out). */
  def tokenizerFertility(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("lang"),
        size(tokens(col(textCol))).cast("long").as("_w"),
        size(bpeTokens(col(textCol))).cast("long").as("_t"),
        length(col(textCol)).cast("long").as("_c"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("_w")).cast("long").as("n_words"),
        sum(col("_t")).cast("long").as("n_bpe_tokens"),
        sum(col("_c")).cast("long").as("n_chars"))
      // ANSI mode (Spark 4 default) turns `div 0` into a job-killing
      // error: a language whose every doc is empty (markup-only pages
      // after stripMarkup) has zero words/tokens — report 0, not crash
      .withColumn("fertility_x1000",
        expr("CASE WHEN n_words > 0 " +
          "THEN n_bpe_tokens * 1000 div n_words ELSE 0 END"))
      .withColumn("chars_per_tok_x1000",
        expr("CASE WHEN n_bpe_tokens > 0 " +
          "THEN n_chars * 1000 div n_bpe_tokens ELSE 0 END"))

  /** HTML/markup stripping — the extraction step every web-crawl corpus
    * runs before any text op sees a document: drop script/style blocks
    * wholesale (their content is code, not text), strip remaining tags,
    * decode the six common entities, collapse whitespace. Returns
    * (doc_id, n_tags_removed, clean_text). Entity decode order matters:
    * `&amp;` decodes LAST so `&amp;lt;` yields the literal `&lt;` rather
    * than double-decoding to `<` — the oracle replays the identical
    * cascade. Per-row regex projection, zero shuffle; at 100 TB this is
    * scan-bound like the Gopher gate it feeds. */
  def stripMarkup(docs: DataFrame, textCol: String = "text"): DataFrame = {
    // (?is): real script/style blocks span lines and vary case — without
    // DOTALL the block regex never matches a multi-line block and its
    // code content leaks through the tag-strip into clean_text
    val noBlocks = regexp_replace(
      regexp_replace(col(textCol), "(?is)<script[^>]*>.*?</script>", " "),
      "(?is)<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noBlocks, "<[^>]*>", " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, r)) => replace(c, lit(e), lit(r)) }
    docs.select(col("doc_id"),
      size(regexp_extract_all(col(textCol), lit("<[^>]*>"), lit(0)))
        .cast("long").as("n_tags_removed"),
      trim(regexp_replace(decoded, "\\s+", " ")).as("clean_text"))
  }

  /** Default stopword list used by quality scoring (function words of the
    * synthetic corpus; swap for a real list on real data). */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "to", "in")

  /** Quality signals: token count, stopword count, mean token length ×100
    * (integer — keeps oracle comparisons float-free), and a boolean
    * quality gate: 20 ≤ tokens ≤ 500 and stopword ratio < 1/4
    * (expressed as 4·stop < tokens in pure integer math). */
  def qualityScore(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = tokens(col(textCol))
    docs.select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(filter(toks, t => t.isin(Stopwords: _*))).cast("long")
          .as("n_stop"),
        floor(aggregate(toks, lit(0L), (acc, t) => acc + length(t)) * 100L
          / size(toks)).cast("long").as("mean_tok_len_x100"))
      .withColumn("is_quality",
        col("n_tokens") >= 20 && col("n_tokens") <= 500 &&
          col("n_stop") * 4 < col("n_tokens"))
  }

  /** Polynomial rolling-hash fingerprint over the document's characters:
    * fp = fold(acc·31 + codepoint) mod 1e9+7. Deterministic, order-
    * sensitive, cheap — the classic content fingerprint for exact/near
    * shift detection. Pure per-row fold, no shuffle. */
  def fingerprint(text: Column): Column =
    aggregate(
      transform(split(text, ""), ch => ascii(ch).cast("long")),
      lit(0L),
      (acc, cp) => (acc * 31L + cp) % 1000000007L)

  def fingerprints(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"), fingerprint(col(textCol)).as("fingerprint"))

  /** Lexical-diversity signals per document: token count, type count
    * (distinct tokens), hapax count (tokens occurring exactly once), and
    * the integer-scaled type-token / hapax ratios (×1000 — keeps oracle
    * comparisons float-free, like [[qualityScore]]). Low TTR flags
    * template/boilerplate-heavy documents; a collapsed hapax ratio flags
    * generated or looped text — both standard pretraining-quality gates.
    *
    * Per-row only: sort the token array once, then count run starts and
    * length-1 runs by comparing each position with its neighbours. The
    * LOW boundary is guarded STRUCTURALLY with a CaseWhen — only the
    * `i + 1 > n` side is a genuine null-returning out-of-bounds for
    * `try_element_at` (index 0 THROWS: SQL array indices start at 1), and
    * a guard that relied on Or/And short-circuit order would break under
    * operand reordering (ADVICE r10). Zero shuffle — linearly scalable
    * like [[tokenStats]]. */
  def lexicalDiversity(docs: DataFrame, textCol: String = "text")
      : DataFrame = {
    val sorted = array_sort(tokens(col(textCol)))
    val n = size(sorted)
    val idx = sequence(lit(1), n)
    def at(i: Column) = try_element_at(sorted, i)
    // CaseWhen evaluates the otherwise branch only when i =!= 1, so
    // at(i - 1) is structurally unreachable at i = 1 regardless of
    // boolean-operand order or optimizer rewrites
    val runStart = (i: Column) =>
      when(i === 1, lit(true)).otherwise(at(i) =!= at(i - 1))
    val isNew = transform(idx,
      i => when(runStart(i), 1L).otherwise(0L))
    val isHapax = transform(idx,
      i => when(runStart(i) && (i === n || at(i) =!= at(i + 1)), 1L)
        .otherwise(0L))
    docs.select(col("doc_id"),
        n.cast("long").as("n_tokens"),
        aggregate(isNew, lit(0L), _ + _).as("n_types"),
        aggregate(isHapax, lit(0L), _ + _).as("n_hapax"))
      .withColumn("ttr_x1000",
        floor(col("n_types") * 1000L / col("n_tokens")).cast("long"))
      .withColumn("hapax_x1000",
        floor(col("n_hapax") * 1000L / col("n_tokens")).cast("long"))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, "Winnowing:
    * Local Algorithms for Document Fingerprinting", SIGMOD 2003 — the
    * MOSS algorithm): hash every k-gram of the document with the same
    * 31-base polynomial fold as [[fingerprint]], slide a window of `w`
    * consecutive k-gram hashes, keep each window's minimum, and emit the
    * document's distinct selected hashes as `(doc_id, fp)` rows. Any
    * substring match of length ≥ w + k − 1 between two documents is
    * guaranteed to share a selected fingerprint, so an equality join on
    * `fp` is a complete candidate generator for local (partial-overlap)
    * plagiarism/near-dup detection — the sub-document complement to the
    * whole-document MinHash path.
    *
    * The whole selection runs as ONE native expression
    * ([[graft.functions.WinnowFps]] — O(len) rolling hash + monotonic-
    * deque window minima, a static call inside the codegen span); the
    * plan above it is a filter + explode. The first cut composed nested
    * higher-order built-ins instead, and their interpreted per-element
    * lambdas made it ~10× slower at bench scale — the textbook case for
    * the custom-Expression tier. Documents shorter than k have no
    * k-gram and are dropped; documents with fewer than w k-grams yield
    * the single overall minimum (one clipped window). */
  def winnow(docs: DataFrame, k: Int = 4, w: Int = 5,
      textCol: String = "text"): DataFrame =
    docs.filter(length(col(textCol)) >= k)
      .select(col("doc_id"),
        explode(graft.functions.GraftFunctions
          .winnowFps(col(textCol), k, w)).as("fp"))

  /** MOSS pairing step over [[winnow]] fingerprints: candidate document
    * pairs ranked by shared-fingerprint count. Fingerprints present in
    * more than `maxDf` documents are dropped FIRST — exactly MOSS's
    * boilerplate suppression (a fp shared by half the corpus is
    * template text, not evidence of copying) and simultaneously the
    * scale rail: after the filter, per-fp join fanout is ≤ maxDf², so
    * the fp-equality shuffle is bounded the same way the LSH band join
    * is by `maxBucket`. `minShared` then requires ≥ that many
    * independent shared regions before a pair is reported.
    *
    * 100 TB shape: two 8-byte-key hash shuffles (fp for the df count +
    * self-join, then the (doc_a, doc_b) pair agg with map-side
    * combine); no window, no driver collect. */
  def winnowCandidatePairs(docs: DataFrame, k: Int = 4, w: Int = 5,
      maxDf: Int = 50, minShared: Int = 2,
      textCol: String = "text"): DataFrame = {
    // staged: the fp relation feeds the df count AND both self-join
    // sides — unstaged, the plan evaluates winnow_fps over the corpus
    // four times (plan-audited in WinnowPlanSpec)
    val fps = Stage.barrier(winnow(docs, k, w, textCol))
    // winnow emits distinct (doc_id, fp), so count(*) per fp IS doc freq
    val keptFps = fps.groupBy("fp")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .select("fp")
    val kept = fps.join(keptFps, "fp")
    kept.as("a").join(kept.as("b"), "fp")
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** MOSS-family canonical map — the O(docs) cluster deliverable that
    * completes winnowing the way [[Dedup.simhashCanonical]] completes
    * SimHash. [[winnowCandidatePairs]] is already the verify step
    * (`n_shared` counts INDEPENDENT shared fingerprint regions after the
    * boilerplate df-rail), so the pipeline is: verified pairs →
    * connected components → `(doc_id, canonical_id)` for EVERY document,
    * where canonical_id is the smallest doc_id in the transitive
    * shared-fingerprint cluster; singletons — including documents too
    * short to fingerprint — label themselves.
    *
    * Because winnowing is LOCAL (any shared substring of length ≥
    * w + k − 1 shares a fingerprint), the clusters capture partial-
    * overlap plagiarism chains whole-document signatures miss: a doc
    * whose chunks were reordered still shares its region fingerprints
    * with the original and lands in the same cluster (spec-pinned).
    *
    * 100 TB shape: the pair relation is never a deliverable — it exists
    * only as input to the label propagation ([[Dedup.components]],
    * O(cluster eccentricity) rounds of 8-byte-key joins with checkpoint
    * truncation); the label attach is one final left join against the
    * corpus keyed on doc_id. Output is O(docs) regardless of cluster
    * density — the dense-corpus posture where the quadratic pair list
    * would explode. */
  def winnowCanonical(docs: DataFrame, k: Int = 4, w: Int = 5,
      maxDf: Int = 50, minShared: Int = 2,
      textCol: String = "text"): DataFrame = {
    val pairs = winnowCandidatePairs(docs, k, w, maxDf, minShared, textCol)
    // candidate pairs come out of a groupBy(doc_a, doc_b) with a < b —
    // one row per unordered pair, so components' edge dedup is skippable
    val labels = Dedup.components(pairs, assumeCanonical = true)
      .select(col("doc_id"), col("component"))
    docs.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("canonical_id"))
  }

  /** Pairwise vocabulary overlap between corpus sources: for every
    * source pair (a < b), the distinct-token intersection size, each
    * side's vocabulary size, and integer-scaled Jaccard ×1000 — the
    * mixture-planning diagnostic that says which sources are lexically
    * redundant before token budgets are allocated.
    *
    * 100 TB shape: one distinct over (source, token) — a map-side-
    * combining shuffle on the token-hash — then a self-join on token
    * whose per-token fanout is bounded by |sources|² (each source
    * contributes a token at most once after the distinct), then a
    * |sources|²-row aggregate. No window, no collect; output is
    * O(|sources|²) regardless of corpus size. */
  def vocabOverlap(docs: DataFrame, textCol: String = "text",
      sourceCol: String = "source"): DataFrame = {
    // staged: the distinct vocabulary feeds the size count AND both
    // self-join sides — one tokenize+distinct pass instead of three
    val toks = Stage.barrier(docs
      .select(col(sourceCol).as("source"),
        explode(tokens(col(textCol))).as("tok"))
      .distinct())
    val sizes = toks.groupBy("source").agg(count(lit(1)).as("n"))
    val counts = toks.as("a").join(toks.as("b"), "tok")
      .filter(col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"),
        col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_common"))
    // EVERY pair (a < b) gets a row, including zero-overlap pairs —
    // disjoint vocabularies are exactly the signal this diagnostic
    // exists to surface, and a missing row is indistinguishable from
    // "not computed". The pair skeleton is |sources|² rows off the tiny
    // sizes frame (broadcast class).
    sizes.select(col("source").as("source_a"), col("n").as("n_vocab_a"))
      .crossJoin(sizes.select(col("source").as("source_b"),
        col("n").as("n_vocab_b")))
      .filter(col("source_a") < col("source_b"))
      .join(counts, Seq("source_a", "source_b"), "left")
      .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
      .withColumn("jaccard_x1000",
        floor(col("n_common") * 1000L /
          (col("n_vocab_a") + col("n_vocab_b") - col("n_common")))
          .cast("long"))
      .select("source_a", "source_b", "n_common", "n_vocab_a",
        "n_vocab_b", "jaccard_x1000")
  }

  /** Per-language stopword profiles for the n-gram-free language-ID
    * heuristic. Public knowledge (most-frequent function words). */
  val LangProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "un", "una", "es"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein", "nicht", "mit"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "est", "que"))

  /** Language ID: CJK-codepoint ratio shortcut for zh, otherwise the
    * stopword profile with the highest hit count (ties → profile order,
    * en first, then unknown). One projection, no shuffle. */
  def langId(text: Column): Column = {
    val toks = transform(tokens(lower(text), "(?U)\\s+"),
      t => regexp_replace(t, "[\\p{Punct}]", ""))
    // one regex pass over the document (not a per-character rlike): CJK
    // ideographs are BMP code points, so match count == character count
    val nCjk = size(regexp_extract_all(text, lit("[\\u4e00-\\u9fff]"),
      lit(0)))
    val scores = Seq("en", "es", "de", "fr").map { lang =>
      lang -> size(filter(toks, t => t.isin(LangProfiles(lang): _*)))
    }
    val best = scores.tail.foldLeft(
      struct(scores.head._2.as("score"), lit(scores.head._1).as("lang"))) {
      case (acc, (lang, score)) =>
        when(score > acc.getField("score"),
          struct(score.as("score"), lit(lang).as("lang"))).otherwise(acc)
    }
    // the CJK-share shortcut must not fire on EMPTY text (0*5 >= 0):
    // a zero-content doc is 'unknown', not 'zh'
    when(length(text) > 0 && nCjk * 5 >= length(text), lit("zh"))
      .when(best.getField("score") > 0, best.getField("lang"))
      .otherwise(lit("unknown"))
  }

  def langIds(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"), langId(col(textCol)).as("lang_pred"))

  /** Deterministic train/validation/test split: bucket = portable hash of
    * the doc id mod 100 → train < 80 ≤ valid < 90 ≤ test. Hash-based (not
    * random) so the split is stable across runs, engines, and repartitions
    * — the property a reproducible data pipeline needs. */
  def splitAssign(docId: Column): Column = {
    val bucket = pmod(
      graft.functions.GraftFunctions.polyHash(docId.cast("string")), lit(100L))
    when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test")
  }

  def splitCounts(docs: DataFrame): DataFrame =
    docs.select(splitAssign(col("doc_id")).as("split"))
      .groupBy(col("split")).agg(count(lit(1)).as("n_docs"))

  /** Repetition signals (the Gopher-style quality rules): token and
    * bigram duplication per document. A doc whose duplicate-bigram share
    * reaches 20% is flagged repetitive — the boilerplate/spam shape that
    * poisons training data. Pure per-row array math (counts stay integer
    * for cross-engine parity); no shuffle, linear scale-out. Single-token
    * docs define zero bigrams (guarded identically in the SQL oracle). */
  def repetitionStats(docs: DataFrame, textCol: String = "text"): DataFrame = {
    // token array as a column: slicing a raw split() inside the position
    // lambda re-evaluates it per bigram (O(n²); see BENCH_NOTES r6)
    val toks = col("_toks")
    val bigrams = transform(sequence(lit(1), size(toks) - 1),
      i => concat_ws(" ", slice(toks, i, lit(2))))
    docs.select(col("doc_id"), tokens(col(textCol)).as("_toks"))
      .select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_distinct_tokens"),
        when(size(toks) < 2, lit(0L))
          .otherwise((size(toks) - 1).cast("long")).as("n_bigrams"),
        when(size(toks) < 2, lit(0L))
          .otherwise(size(array_distinct(bigrams)).cast("long"))
          .as("n_distinct_bigrams"))
      .withColumn("is_repetitive",
        col("n_bigrams") > 0 &&
          (col("n_bigrams") - col("n_distinct_bigrams")) * 5 >=
            col("n_bigrams"))
  }

  /** The Gopher-style composite quality gate (Rae et al. 2021 §A1.1, the
    * rule set C4/RefinedWeb-family pipelines apply before any model-based
    * scoring): token-count bounds, mean-word-length bounds, symbol-token
    * ratio, alphabetic-token ratio, and a minimum stopword count — each
    * signal surfaced as its own integer column plus the conjunction as
    * `gopher_pass`, so a pipeline can tune one rule without recomputing
    * the rest. Bounds are parameters; the defaults shrink Gopher's
    * 50-token floor to 20 for short-doc corpora.
    *
    * Pure per-row array math over one materialized token array (HOF
    * lambdas re-evaluate captured children — see BENCH_NOTES r6), all
    * counts integer for cross-engine parity; no shuffle.
    *
    * `carry` forwards caller columns (e.g. the text itself) through the
    * gate unchanged — the landing-zone chain screens and then still needs
    * the document downstream; default Nil keeps the audited signal-only
    * schema. */
  def gopherRules(docs: DataFrame, minTokens: Long = 20L,
      maxTokens: Long = 100000L, textCol: String = "text",
      carry: Seq[String] = Nil): DataFrame = {
    val toks = col("_toks")
    docs.select(col("doc_id") +: carry.map(col) :+
        tokens(col(textCol)).as("_toks"): _*)
      .select(col("doc_id") +: carry.map(col) :+
        size(toks).cast("long").as("n_tokens") :+
        expr("aggregate(_toks, 0L, (a, t) -> a + length(t)) * 100")
          .as("_chars100") :+
        size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("long")
          .as("n_alpha") :+
        size(filter(toks, t => t.rlike("^[^A-Za-z0-9]+$"))).cast("long")
          .as("n_sym") :+
        size(filter(toks, t => t.isin(Stopwords: _*))).cast("long")
          .as("n_stop"): _*)
      .withColumn("mean_tok_len_x100", expr("_chars100 div n_tokens"))
      .drop("_chars100")
      .withColumn("gopher_pass",
        col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens &&
          col("mean_tok_len_x100") >= 300L &&
          col("mean_tok_len_x100") <= 1000L &&
          col("n_sym") * 10L <= col("n_tokens") &&
          col("n_alpha") * 5L >= col("n_tokens") * 4L &&
          col("n_stop") >= 2L)
  }

  /** PII patterns — lookahead-free so Java regex and RE2 (DuckDB) agree.
    * The email local part includes %+- (plus-addressing, dashed names):
    * a charset gap redacts only the matching SUFFIX and leaks the rest
    * ("john-" surviving from john-doe@x.com). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
  val PhoneRe = "\\+[0-9]{2,3} [0-9]{7,11}"
  val IpRe = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** PII redaction: count then mask emails / intl phone numbers / IPv4
    * addresses (the minimum-viable scrub a public-web training corpus
    * runs before anything else). Counts are pattern counts on the
    * ORIGINAL text — a substring matching two patterns (an IP inside an
    * email's domain) counts once per pattern while the mask consumes it
    * once, in email → phone → ip order (no pattern matches inside
    * another's replacement token, so masking never cascades). Auditors
    * reconciling counts against masked tokens must use the original-text
    * reading. Narrow projection — regex state never leaves the row. */
  def redactPii(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs.select(col("doc_id"),
      size(regexp_extract_all(t, lit(EmailRe), lit(0))).cast("long")
        .as("n_emails"),
      size(regexp_extract_all(t, lit(PhoneRe), lit(0))).cast("long")
        .as("n_phones"),
      size(regexp_extract_all(t, lit(IpRe), lit(0))).cast("long")
        .as("n_ips"),
      regexp_replace(regexp_replace(regexp_replace(t,
          EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>"), IpRe, "<IP>")
        .as("redacted"))
  }

  /** Corpus vocabulary: the `limit` most frequent tokens (ties broken by
    * token) — one explode + one partial-aggregated count + a distributed
    * TakeOrdered, never a global sort of the vocabulary. */
  def vocabulary(docs: DataFrame, limit: Int = 100,
      textCol: String = "text"): DataFrame =
    docs.select(explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("token"))
      .limit(limit)

  /** Unigram-LM quality score, integer form: per document, the sum and
    * mean of each token's corpus-wide frequency. Low mean frequency =
    * rare-token-heavy document (OCR noise, codes, gibberish) — the
    * integer analogue of "average unigram log-probability", kept in exact
    * int64 so the cross-engine oracle is float-free.
    *
    * Two-pass shape: (1) the vocabulary count aggregation (partial
    * combine, shuffle is one row per distinct token per map task), (2)
    * tokens re-exploded and joined to the vocab on the token key, then
    * re-aggregated per doc. At 100 TB the vocab join stays a plain
    * shuffle join (the full vocabulary of a web corpus is ~10⁸ rows —
    * too big to broadcast, trivial to co-partition); a skew guard is
    * unnecessary because token frequency skew sits on the BUILD side
    * count, not the probe multiplicity. */
  def freqScore(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(tokens(col(textCol))).as("token"))
    val vocab = toks.groupBy(col("token")).agg(count(lit(1)).as("freq"))
    toks.join(vocab, "token")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        sum(col("freq")).cast("long").as("sum_freq"))
      .withColumn("mean_freq", expr("sum_freq div n_tokens"))
  }

  /** Per-document keyword extraction by tf-idf rank. The score is the
    * integer `tf · 10⁶ ÷ df` — document frequency `df` is how many docs
    * contain the token. The corpus size N that textbook idf multiplies in
    * is constant across one corpus, so it cannot change any per-document
    * ranking; dropping it keeps the score integral (no log, no float
    * drift) and saves the driver-side count.
    *
    * Shape: one (doc, token) aggregation, one token-level df aggregation
    * (a |vocab|-row frame joined back on the token key), one per-doc rank
    * window over ≤ |distinct tokens in doc| rows. At 100 TB the df frame
    * is the only broadcast-or-shuffle decision — vocabulary row counts are
    * millions, not billions, so it stays cheap relative to the corpus. */
  def keywords(docs: DataFrame, k: Int = 2,
      textCol: String = "text", broadcastVocab: Boolean = true): DataFrame = {
    // broadcastVocab: the df table is vocabulary-bounded (plateaus in
    // natural text — the designed build side, see the hint note below),
    // but a pathological vocabulary (random-token corpora, 1e8+ distinct
    // tokens) outgrows a broadcast: pass false there and take the
    // shuffle join — the same caller-owned knob as canonicalByScore's.
    val tf = docs
      .select(col("doc_id"), explode(tokens(col(textCol))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token"))
      .agg(count(lit(1)).as("df")) // tf rows are distinct (doc, token)
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(desc("score"), col("token"))
    // df is vocabulary-bounded (one row per distinct token — plateaus in
    // natural text) and the DESIGNED build side; the hint matters because
    // AQE otherwise flips the build to the corpus-sized tf side when its
    // materialized shuffle happens to sit under the adaptive threshold
    // (measured at sf2: a 3.3 s single-task broadcast build of millions
    // of (doc, token) rows against a 2.5 MB vocabulary)
    tf.join(if (broadcastVocab) broadcast(df) else df, "token")
      .withColumn("score", expr("tf * 1000000 div df"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("rk").cast("long").as("rk"),
        col("token"), col("score"))
  }

  /** Per-group z-score outliers over an integral measure — the "drop the
    * statistically weird documents" gate of a corpus pipeline.
    *
    * The group statistics are carried as EXACT integer sums (count, Σx,
    * Σx²) through the shuffle — int64-exact while the group's Σx² and
    * (Σx)² stay under 2⁶³ (n·maxval² < 9.2·10¹⁸; under ANSI mode an
    * overflow fails loudly rather than corrupting the variance gate —
    * rescale the measure or cast the sums to decimal(38,0) past that,
    * the same documented bound pattern as [[pmiBigrams]]/[[manifest]]);
    * the floating-point mean/variance/z are
    * derived per row in ONE fixed expression order, so the doubles are
    * bit-reproducible across engines and partitionings (a double `avg`/
    * `stddev` aggregate would be partition-order-dependent). The stats
    * side is |groups| rows → broadcast join back onto the rows; two scans,
    * one tiny shuffle, no window sort. */
  def zscoreOutliers(docs: DataFrame, groupCol: String = "lang",
      valueCol: String = "n_chars", idCol: String = "doc_id",
      threshold: Double = 2.0): DataFrame = {
    val stats = docs.groupBy(col(groupCol))
      .agg(count(lit(1)).cast("long").as("_n"),
        sum(col(valueCol)).cast("long").as("_s"),
        sum(col(valueCol) * col(valueCol)).cast("long").as("_s2"))
      // zero-variance groups produce z = 0/0 = NaN, and BOTH engines sort
      // NaN above every number, so abs(z) > t would flag every row of a
      // constant group; the n·Σx² > (Σx)² test is variance > 0 in exact
      // integer arithmetic — no epsilon, no float drift
      .filter(col("_n") > 1 &&
        col("_s2") * col("_n") > col("_s") * col("_s"))
    // sample variance from integer sums; same literal formula as the oracle
    val z = (col(valueCol).cast("double") -
        col("_s").cast("double") / col("_n").cast("double")) /
      sqrt((col("_s2").cast("double") -
        col("_s").cast("double") * col("_s").cast("double") /
          col("_n").cast("double")) /
        (col("_n") - lit(1L)).cast("double"))
    docs.join(broadcast(stats), groupCol)
      .withColumn("z", z)
      .filter(abs(col("z")) > lit(threshold))
      .select(col(idCol), col(groupCol), col(valueCol), col("z"))
  }

  /** Adjacent (w1, w2) pair rows, with the token array materialized as a
    * COLUMN before the position lambda runs — element_at inside a
    * higher-order function re-evaluates its child expression per
    * invocation (HOFs are interpreted, no subexpression elimination), so
    * indexing a raw split() is O(n²) per document; the measured fix took
    * q_skipgram from 10.5s to 2.8s (BENCH_NOTES r6). Short docs yield no
    * pairs (the sequence(1, 0)-descends trap is guarded). */
  private def adjacentPairRows(docs: DataFrame, textCol: String): DataFrame =
    docBigramRows(docs, textCol).select(col("w1"), col("w2"))

  /** [[adjacentPairRows]] carrying the document id — the per-doc bigram
    * relation [[lmScore]] both aggregates into the model and scores
    * against. */
  private def docBigramRows(docs: DataFrame, textCol: String): DataFrame = {
    val toks = col("_toks")
    val bigramArr = when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => struct(element_at(toks, i).as("w1"),
          element_at(toks, i + 1).as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    docs.select(col("doc_id"), tokens(col(textCol)).as("_toks"))
      .select(col("doc_id"), explode(bigramArr).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
  }

  /** Skip-gram co-occurrence counts — the word2vec/GloVe training
    * statistic: every ordered token pair within a ±`window` offset,
    * counted corpus-wide. The pair generation is a per-row nested array
    * fold (positions × offsets 1..window, flattened), so the corpus is
    * touched once and ONLY the aggregated pair counts shuffle — at 100 TB
    * the shuffle is |co-occurring vocab²|-bounded with partial combine,
    * never corpus-scale. Emits pairs with count ≥ minCount. */
  def skipgramCounts(docs: DataFrame, window: Int = 3, minCount: Long = 5,
      textCol: String = "text"): DataFrame = {
    // materialize the token array as a COLUMN first: element_at inside a
    // lambda re-evaluates its whole child expression per invocation (HOFs
    // run interpreted, no subexpression elimination), so referencing
    // split(text) directly costs O(tokens) per element — O(n²) per doc
    val toks = col("_toks")
    val n = size(toks)
    // one single-level transform per distance d; the pair multiset is
    // identical, and short docs fall out via the n > d guard
    val pairsByD = (1 to window).map { d =>
      when(n > d, transform(sequence(lit(1), n - d),
        i => struct(element_at(toks, i).as("w1"),
          element_at(toks, i + d).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    }
    docs.select(tokens(col(textCol)).as("_toks"))
      .select(explode(concat(pairsByD: _*)).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).cast("long").as("n_cooc"))
      .filter(col("n_cooc") >= minCount)
  }

  /** Hashing-trick featurization: each document becomes a fixed `dim`-
    * wide integer count vector, token → slot by the portable polynomial
    * hash — the featurizer of a cheap linear quality classifier, with no
    * vocabulary table to build, broadcast, or keep consistent across
    * increments. Pure per-row projection — zero shuffle (O(dim·tokens)
    * work per row, dim is small by design); CSV-serialized for flat
    * storage. */
  def hashFeatures(docs: DataFrame, dim: Int = 32,
      textCol: String = "text"): DataFrame = {
    // slots materialize as a column first: one split + one hash per
    // token; the per-slot filter below then reads an attribute (the HOF
    // re-evaluation rule, BENCH_NOTES r6)
    val slots = transform(tokens(col(textCol)),
      t => pmod(graft.functions.GraftFunctions.polyHash(t),
        lit(dim.toLong)))
    val feats = transform(sequence(lit(0), lit(dim - 1)),
      s => size(filter(col("_slots"), x => x === s)).cast("long"))
    docs.select(col("doc_id"), slots.as("_slots"))
      .select(col("doc_id"), concat_ws(",", feats).as("features_csv"))
  }

  /** Deterministic integer weight vector for [[linearScore]] — the stand-in
    * for a trained model's coefficients (same LCG family as the MinHash
    * coefficients; values in [−8, 8]). Exposed so the DuckDB oracle can
    * render the identical weights as SQL literals. */
  private[graft] def classifierWeights(dim: Int, seed: Long = 11L): Seq[Long] = {
    var state = seed
    Seq.fill(dim) {
      state = state * 6364136223846793005L + 1442695040888963407L
      (state >>> 33) % 17L - 8L
    }
  }

  /** Apply a PRETRAINED linear classifier over hashing-trick features —
    * the fasttext-style quality/domain classifier pass a curation
    * pipeline runs over every document (trained offline on labeled data;
    * inference is the at-scale part). score = Σ_t w[hash(t) mod dim]
    * in exact int64 (integer weights — the quantized-model form), so the
    * decision boundary is bit-identical across engines; `label` is the
    * sign thresholded at 0.
    *
    * Scale shape: tokens explode (bounded ×tokens/doc), each token maps
    * to its weight through a broadcast-literal array lookup (codegen'd
    * `element_at`, no join, no UDF), and one partial-aggregated groupBy
    * doc_id sums the contributions — the same shuffle class as token
    * counting. Equivalent to dotting [[hashFeatures]] with the weight
    * vector, without materializing the feature vector. */
  def linearScore(docs: DataFrame, dim: Int = 32,
      weights: Seq[Long] = null, textCol: String = "text"): DataFrame = {
    val w = Option(weights).getOrElse(classifierWeights(dim))
    require(w.size == dim, s"weight vector size ${w.size} != dim $dim")
    val slot = pmod(graft.functions.GraftFunctions.polyHash(col("t")),
      lit(dim.toLong))
    docs.select(col("doc_id"), explode_outer(tokens(col(textCol))).as("t"))
      .select(col("doc_id"), when(col("t").isNotNull,
          element_at(typedLit(w), (slot + 1L).cast("int")))
        .otherwise(lit(0L)).as("w"),
        when(col("t").isNotNull, 1L).otherwise(0L).as("one"))
      .groupBy(col("doc_id"))
      .agg(sum(col("one")).cast("long").as("n_tokens"),
        sum(col("w")).cast("long").as("score"))
      .select(col("doc_id"), col("n_tokens"), col("score"),
        (col("score") > 0L).as("label"))
  }

  /** Kneser-Ney sufficient statistics per token: the unigram count plus
    * the CONTINUATION counts — how many distinct tokens precede it
    * (N1+(•w), the numerator of the KN lower-order distribution) and how
    * many distinct tokens follow it (N1+(w•), the normalizer of its
    * discount mass). With these three tables an interpolated-KN bigram
    * LM is fully specified — the count-side artifact of LM training,
    * exact and engine-portable (no probabilities, no floats).
    *
    * Shape: one adjacent-pair projection feeding a distinct-pair
    * aggregation (shuffle = distinct bigrams, combiner-friendly), from
    * which both continuation counts derive WITHOUT re-touching the
    * corpus; unigram counts join on the token key. */
  def lmCounts(docs: DataFrame, textCol: String = "text"): DataFrame = {
    // distinct bigram TYPES (the continuation-count base), staged: both
    // direction aggregations below fold the same relation
    val pairTypes = Stage.barrier(
      adjacentPairRows(docs, textCol).distinct())
    val succ = pairTypes.groupBy(col("w1").as("token"))
      .agg(count(lit(1)).cast("long").as("n1p_succ"))
    val pred = pairTypes.groupBy(col("w2").as("token"))
      .agg(count(lit(1)).cast("long").as("n1p_pred"))
    docs.select(explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).cast("long").as("n"))
      .join(pred, Seq("token"), "left")
      .join(succ, Seq("token"), "left")
      .select(col("token"), col("n"),
        coalesce(col("n1p_pred"), lit(0L)).as("n1p_pred"),
        coalesce(col("n1p_succ"), lit(0L)).as("n1p_succ"))
  }

  /** Per-document fluency score under the corpus's own add-one-smoothed
    * bigram model — the model-based quality filter (the CCNet/perplexity
    * shape) a curation pipeline runs after the heuristic gates: documents
    * whose bigrams are systematically improbable under the corpus
    * distribution (boilerplate soup, scrambled text, wrong language) score
    * low and can be culled by threshold.
    *
    * EXACT INTEGER fixed point, no logs: each bigram contributes
    * fp = ⌊10⁶ · (c(w₁,w₂)+1) / (c(w₁)+V)⌋ — add-one-smoothed p(w₂|w₁)
    * scaled to parts-per-million and floor-divided in int64 (exact while
    * c₁₂ < 9·10¹²; switch the scale constant down beyond that), so the
    * per-doc sum is order-independent and bit-identical across engines —
    * no float summation, no libm. score_avg is the mean bigram
    * probability ×10⁶: a monotone fluency signal playing the role of
    * (anti-)perplexity without the cross-engine log hazard.
    *
    * Scale shape: the per-doc bigram relation is staged once and feeds
    * both the model aggregation (partial-aggregated groupBy on the bigram
    * key) and the scoring join; unigram counts join on the token key; the
    * vocab size is a one-row broadcast. The scoring joins are model-side
    * tiny per key (one count row), so a hot bigram inflates only the
    * streamed probe side. Docs with <2 tokens score 0 ("no evidence"),
    * kept explicitly by the final left join. */
  def lmScore(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val bg = Stage.barrier(docBigramRows(docs, textCol))
    val c12 = bg.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).cast("long").as("c12"))
    val uni = Stage.barrier(
      docs.select(explode(tokens(col(textCol))).as("w1"))
        .groupBy(col("w1")).agg(count(lit(1)).cast("long").as("c1")))
    val vocab = uni.agg(count(lit(1)).cast("long").as("vocab"))
    val scored = bg.join(c12, Seq("w1", "w2"))
      .join(uni, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        expr("((c12 + 1L) * 1000000L) DIV (c1 + vocab)").as("fp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        sum(col("fp")).cast("long").as("score_sum"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("score_sum"), lit(0L)).as("score_sum"),
        coalesce(expr("score_sum DIV n_bigrams"), lit(0L)).as("score_avg"))
  }

  /** Domain-relevance importance score — the DSIR/importance-resampling
    * shape (Xie et al. 2023): score raw-corpus documents by how much
    * more likely their tokens are under a TARGET domain's unigram
    * distribution than under the raw corpus's own, then keep/up-sample
    * high scorers to shift the training mix toward the domain. Per
    * token, the smoothed likelihood ratio in exact integer fixed point:
    * fp(t) = ⌊(c_target(t)+1) · 10⁶ / (c_raw(t)+1)⌋ — monotone in
    * p_target/p_raw up to the shared normalizer (which shifts every
    * doc's score identically, so ranking and thresholding are
    * unaffected), order-independent, bit-identical across engines.
    * Returns (doc_id, n_tokens, score_sum, score_avg).
    *
    * Scale shape: the target-domain count table is small (a domain
    * SAMPLE, not the corpus) — broadcast; raw counts join on the token
    * key with map-side-combined partials; the raw corpus streams once
    * through explode → join → per-doc sum. No floats, no vocabulary
    * collected to the driver. */
  def domainScore(raw: DataFrame, target: DataFrame,
      textCol: String = "text"): DataFrame = {
    def unigrams(df: DataFrame, cName: String): DataFrame =
      df.select(explode(tokens(col(textCol))).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).cast("long").as(cName))
    // staged: the exploded (doc_id, t) relation feeds BOTH the raw
    // unigram counts and the scoring probe — without the barrier the
    // raw corpus is tokenized and exploded twice (the lmScore pattern;
    // the "streams once" contract above is this cache)
    val tok = Stage.barrier(raw.select(col("doc_id"),
      explode(tokens(col(textCol))).as("t")))
    val rawCounts = tok.groupBy(col("t"))
      .agg(count(lit(1)).cast("long").as("c_raw"))
    val tgtCounts = unigrams(target, "c_tgt")
    val scored = tok
      .join(rawCounts, Seq("t"))
      .join(broadcast(tgtCounts), Seq("t"), "left")
      .select(col("doc_id"),
        expr("((coalesce(c_tgt, 0L) + 1L) * 1000000L) DIV (c_raw + 1L)")
          .as("fp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        sum(col("fp")).cast("long").as("score_sum"))
    raw.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("score_sum"), lit(0L)).as("score_sum"),
        coalesce(expr("score_sum DIV n_tokens"), lit(0L)).as("score_avg"))
  }

  /** Per-source corpus manifest — the integrity record an incremental
    * pipeline publishes with every increment so a consumer can verify a
    * delivery without re-reading it: row count, total size, id range,
    * and an ORDER-INDEPENDENT content checksum (the sum of per-document
    * rolling-hash fingerprints — any changed/missing/extra document
    * moves it, and it needs no sort to compute). One partial-aggregated
    * groupBy; int64-exact to ~9·10⁹ docs per source (switch the sum to
    * a modular fold beyond that). */
  def manifest(docs: DataFrame, groupCol: String = "source",
      textCol: String = "text"): DataFrame =
    docs.groupBy(col(groupCol))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(length(col(textCol))).cast("long").as("n_chars_total"),
        min(col("doc_id")).cast("long").as("min_id"),
        max(col("doc_id")).cast("long").as("max_id"),
        sum(fingerprint(col(textCol))).cast("long").as("checksum_sum"))

  /** Distributed BPE tokenizer training (merge induction): starting from
    * the corpus word-frequency table with words split into characters,
    * each round counts adjacent symbol pairs weighted by word frequency,
    * picks the most frequent pair (ties → lexicographic (l, r)), and
    * merges it across the vocabulary. Returns the merge table
    * (rank, l, r, pair_count) — the artifact a tokenizer ships.
    *
    * Conventions (identical in the DuckDB oracle, which replays the whole
    * induction INDEPENDENTLY — its own argmax chain, not rendered
    * literals): pair counting sees every adjacent pair; the merge applies
    * left-to-right non-overlapping on the delimited symbol string, so
    * occurrences sharing a delimiter space merge in a later round if
    * their pair wins again. EXECUTABLE, not just prose (r16): the
    * "abab" fixture — one merge this round, the shared-delimiter
    * survivor next round — is pinned engine-side in TextAnalysisSpec
    * ("bpe overlap convention") and cross-engine by `q_bpe_overlap`,
    * whose DuckDB replay runs the identical inline corpus.
    *
    * Scale shape: the corpus is touched ONCE (the word-frequency
    * aggregation — at web scale ~10⁷ rows); every round then runs one
    * partial-aggregated pair count plus a 1-row TakeOrdered over the
    * vocabulary table, CHECKPOINTED and swapped per round. The driver
    * holds only the argmax row per round — the same bounded-metadata
    * pattern as IVF centroid training.
    *
    * Per-round lineage is truncated with `localCheckpoint`, NOT
    * cache(): a cache leaves the round's logical plan nested inside the
    * next round's (InMemoryRelation keeps its child plan), and driver
    * analysis/canonicalization over the deepening tree grows
    * SUPER-LINEARLY — measured on a 247-word vocabulary, per-round wall
    * time doubled from round ~10 (0.5 s → 5.3 s by round 14; 16 rounds
    * cost 65 s, projected ~hours at tokenizer scale) while the
    * checkpointed form holds a flat per-round floor (BENCH_NOTES r14).
    * Same fix as the components pointer-jump loop (r12). At a
    * vocabulary-sized merge count (32k–100k rounds) the binding cost is
    * rounds × (one aggregation job + one materialization of the ~10⁷-row
    * vocab) — a driver-iteration shape by construction. `batchSize` is
    * the lever when that binds: each round takes the top-`batchSize`
    * pair candidates (cnt desc, l, r — the serial argmax order) and
    * accepts the PREFIX-DISJOINT subset — candidate i is accepted iff it
    * shares no symbol with ANY higher-ranked candidate of the round,
    * accepted or not. The rule is deliberately non-greedy (a rejected
    * candidate still shadows later ones sharing its symbols): acceptance
    * is then a pure per-candidate predicate over the ordered top-B list
    * — one NOT EXISTS in the DuckDB replay — instead of a sequential
    * fold no plain-SQL oracle could restate. Accepted merges apply
    * sequentially in rank order within the round; each reported
    * pair_count is the PRE-batch count (all candidates were counted
    * before any merge of the round applied). batchSize=1 is EXACTLY the
    * serial induction; batchSize>1 equals it whenever consecutive
    * serial winners are symbol-disjoint and merging one does not change
    * the counts that pick the next (the common case in a large
    * vocabulary — frequent pairs live in unrelated words), and may
    * otherwise pick a different (still frequency-ordered) merge table —
    * the standard batched-BPE trade, taken knowingly via the knob.
    * Rounds shrink from nMerges to ~nMerges/batchSize (measured in
    * BENCH_NOTES r15).
    *
    * OPERATING ENVELOPE (sf1, 256 merges — BENCH_NOTES r17): batchSize
    * 16 is the knee — wall 38.3 s → 9.9 s (−74%), 0.281 rounds/merge,
    * 22% per-round acceptance, and the highest merge-table fidelity
    * (99.2% of the serial merge SET; rank order interleaves immediately
    * by design). Past 64 the
    * prefix-disjoint rule caps admissions (batch 64 and 256 both take
    * 58 rounds, acceptance 6.9% → 1.7%, fidelity 96.1%): bigger
    * batches buy almost no rounds and only add drift. Ship 16–64; the
    * wall win saturates there and fidelity is strictly better at the
    * small end. */
  def bpeTrain(docs: DataFrame, nMerges: Int = 8,
      textCol: String = "text", batchSize: Int = 1): DataFrame = {
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs.select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    // LAZY checkpoints throughout (r21): each round's first action — the
    // top-B pair-count collect below — computes EVERY vocab partition, so
    // it materializes the round's checkpoint blocks and truncates lineage
    // in the SAME job; the former eager checkpoint was a second action
    // per round (2 → 1 action/round, ~halving the loop's job count at
    // bench scale where per-action round-trips dominate). Block release
    // ordering is preserved: a round's blocks are dropped only AFTER the
    // next round's collect materialized the frame whose lineage was
    // truncated onto them.
    var vocab = words.select(col("w"), col("freq"),
      concat_ws(" ", split(col("w"), "")).as("sym"))
      .localCheckpoint(false)
    // Dataset.unpersist is a NO-OP on a localCheckpoint'd frame (its
    // blocks are RDD-persisted, not cacheManager entries) — release
    // each round's blocks through the internal RDD, as the components
    // pointer-jump loop does, or 32k rounds pin 32k vocab copies until
    // a driver GC happens to run
    def releaser(df: DataFrame): () => Unit = {
      val ck = org.apache.spark.sql.graftbridge.Bridge.internalRdd(df)
      () => ck.foreach(_.unpersist(blocking = false))
    }
    // the PREVIOUS round's release, deferred until the collect that
    // materializes the current round has run
    var releasePrev: () => Unit = () => ()
    val merges =
      scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var done = false
    while (merges.size < nMerges && !done) {
      // symbol array materialized as a column before the lambda indexes
      // it (the HOF re-evaluation rule; see BENCH_NOTES r6)
      val s = col("_s")
      val pairArr = when(size(s) >= 2,
        transform(sequence(lit(1), size(s) - 1),
          i => struct(element_at(s, i).as("l"),
            element_at(s, i + 1).as("r"))))
        .otherwise(array().cast("array<struct<l:string,r:string>>"))
      val top = vocab
        .select(col("freq"), split(col("sym"), " ").as("_s"))
        .select(col("freq"), explode(pairArr).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).cast("long").as("cnt"))
        .orderBy(desc("cnt"), col("l"), col("r"))
        .limit(batchSize).collect()
      // this collect materialized `vocab`'s lazy checkpoint — the round
      // before it can release its blocks now
      releasePrev()
      releasePrev = () => ()
      if (top.isEmpty) done = true
      else {
        // prefix-disjoint acceptance over the ordered top-B candidates
        // (driver metadata — B rows; see scaladoc for why the rule is
        // a per-candidate predicate, not a greedy fold). The FULL batch
        // is accepted and applied even when it overshoots nMerges — the
        // per-round acceptance must not depend on how many merges are
        // still wanted, or the oracle's rank-truncated replay diverges;
        // the output below truncates to nMerges.
        val cands = top.toSeq.map(r =>
          (r.getString(0), r.getString(1), r.getLong(2)))
        val accepted = cands.zipWithIndex.collect {
          case ((l, r, c), i) if !cands.take(i).exists { case (lj, rj, _) =>
            l == lj || l == rj || r == lj || r == rj } => (l, r, c)
        }
        accepted.foreach { case (l, r, c) =>
          merges += ((merges.size + 1L, l, r, c))
        }
        // the round's merges apply sequentially in rank order, composed
        // into ONE projection; localCheckpoint truncates the plan to a
        // leaf so the next round's analysis cost stays CONSTANT instead
        // of re-walking every prior round (see scaladoc — measured
        // super-linear with cache())
        val symN = accepted.foldLeft(
            concat(lit(" "), col("sym"), lit(" "))) { case (e, (l, r, _)) =>
          regexp_replace(e,
            java.util.regex.Pattern.quote(s" $l $r "),
            java.util.regex.Matcher.quoteReplacement(s" $l$r "))
        }
        val next = vocab.withColumn("sym", trim(symN)).localCheckpoint(false)
        // vocab's blocks back next's truncated lineage until next is
        // materialized (the NEXT round's collect) — defer the release
        releasePrev = releaser(vocab)
        vocab = next
      }
    }
    releasePrev()
    releaser(vocab)() // final round's blocks (no-op if never materialized)
    merges.toSeq.take(nMerges).toDF("rank", "l", "r", "pair_count")
  }

  /** The encode side of [[bpeTrain]]: apply a trained merge table to the
    * corpus and report per-document word / BPE-token counts.
    *
    * The merges (driver-side metadata, like IVF centroids — a tokenizer
    * ships thousands of rows, not data-scale) apply to the DISTINCT-WORD
    * vocabulary, not to every occurrence: at web scale the vocabulary is
    * ~10⁷ rows while the corpus is ~10¹² running words, so encoding the
    * vocabulary once and joining occurrences to it saves five orders of
    * magnitude of per-word merge work — the classic encode-once shape.
    * The merge application is the same " l r " → " lr " left-to-right
    * convention as training (and the DuckDB oracle's replay). */
  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)],
      textCol: String = "text"): DataFrame = {
    val words = docs.select(col("doc_id"),
      explode(tokens(col(textCol))).as("w"))
    val sym0 = concat(lit(" "),
      concat_ws(" ", split(col("w"), "")), lit(" "))
    val symN = merges.foldLeft(sym0) { case (e, (l, r)) =>
      regexp_replace(e,
        lit(java.util.regex.Pattern.quote(s" $l $r ")),
        lit(java.util.regex.Matcher.quoteReplacement(s" $l$r ")))
    }
    val vocab = words.select(col("w")).distinct()
      .select(col("w"), trim(symN).as("sym"))
    words.join(vocab, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_words"),
        sum(size(split(col("sym"), " "))).cast("long").as("n_bpe_tokens"))
  }

  /** Bounded inverted-index posting lists: per token, its document
    * frequency and the `cap` lowest doc ids containing it — the
    * retrieval-side index a contamination/attribution audit probes.
    * The native TopKAgg (score = −doc_id) keeps every map task's buffer
    * at ≤ cap entries BEFORE the shuffle, so capped posting lists build
    * without ever materializing full postings for stopword-grade tokens
    * (the classic index-build skew: "the" posts in every document). */
  def postingLists(docs: DataFrame, cap: Int = 20,
      textCol: String = "text"): DataFrame =
    docs
      .select(col("doc_id"),
        explode(array_distinct(tokens(col(textCol)))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).cast("long").as("df"),
        graft.functions.TopKAgg
          .topKBy((-col("doc_id")).cast("double"), col("doc_id"), cap)
          .as("top"))
      .select(col("token"), col("df"),
        concat_ws(",", transform(col("top"), t => t.getField("id")))
          .as("postings_csv"))

  /** Reason-coded document gate — the composed keep/drop decision a
    * curation pipeline applies, with WHY preserved as a bitmask (audit
    * dashboards report drop counts per reason, so the gate must emit
    * codes, not just a boolean):
    *
    *   bit 0 (1)  too short (< 20 tokens)
    *   bit 1 (2)  too long (> 500 tokens)
    *   bit 2 (4)  stopword-heavy (4·stop ≥ tokens)
    *   bit 3 (8)  repetitive (duplicate-bigram share ≥ 20%)
    *   bit 4 (16) mean token length outside [2, 12] chars
    *
    * kept = reasons == 0. Pure per-row integer arithmetic over one token
    * array — no shuffle, engine-portable, linear scale-out; thresholds
    * mirror [[qualityScore]]/[[repetitionStats]] so the gate is exactly
    * their conjunction. */
  def documentGate(docs: DataFrame, textCol: String = "text"): DataFrame = {
    // token array as a column — the bigram lambda below would otherwise
    // re-evaluate the split per element (O(n²); see BENCH_NOTES r6)
    val toks = col("_toks")
    val nTok = size(toks).cast("long")
    val nStop = size(filter(toks, t => t.isin(Stopwords: _*))).cast("long")
    val meanLen = floor(
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)) * 100L /
        size(toks)).cast("long")
    val bigrams = transform(sequence(lit(1), size(toks) - 1),
      i => concat_ws(" ", slice(toks, i, lit(2))))
    val nBig = when(size(toks) < 2, lit(0L))
      .otherwise((size(toks) - 1).cast("long"))
    val nDistinctBig = when(size(toks) < 2, lit(0L))
      .otherwise(size(array_distinct(bigrams)).cast("long"))
    val reasons =
      when(nTok < 20, lit(1L)).otherwise(lit(0L)) +
        when(nTok > 500, lit(2L)).otherwise(lit(0L)) +
        when(nStop * 4 >= nTok, lit(4L)).otherwise(lit(0L)) +
        when(nBig > 0 && (nBig - nDistinctBig) * 5 >= nBig, lit(8L))
          .otherwise(lit(0L)) +
        when(meanLen < 200 || meanLen > 1200, lit(16L)).otherwise(lit(0L))
    docs.select(col("doc_id"), tokens(col(textCol)).as("_toks"))
      .select(col("doc_id"), reasons.as("reasons"))
      .withColumn("kept", col("reasons") === 0L)
  }

  /** Overlapping fixed-width character chunking — the context-window
    * preparation step of an embedding/RAG pipeline: each document yields
    * substrings of `chunkChars` characters starting every `stride`
    * characters, so consecutive chunks overlap by `chunkChars − stride`.
    * The chunk count is the integer closed form
    * `max(len − chunkChars + stride − 1, 0) div stride + 1` — exactly
    * enough windows to cover the last character, never an empty trailing
    * window. Every document (even an empty one) yields chunk 0.
    *
    * Pure per-row projection (sequence + posexplode + substring): no
    * shuffle, output rows ≈ len/stride per doc — linear scale-out, and
    * the explode is bounded by the document length so no task can
    * amplify beyond its input share. */
  def chunkDocs(docs: DataFrame, chunkChars: Int = 96,
      stride: Int = 64, textCol: String = "text"): DataFrame = {
    require(stride > 0 && chunkChars >= stride,
      s"need chunkChars >= stride > 0, got $chunkChars/$stride")
    // the text column is ALIASED before any expr() references it, so
    // arbitrary column names (spaces, dots) never reach the SQL parser;
    // coalesce(length, 0) keeps NULL-text docs in the output as chunk 0
    // (with NULL chunk_text) — a doc_id-keyed RAG join must not lose the
    // doc just because its text is missing
    val nChunks =
      expr(s"greatest(coalesce(length(_t), 0) - $chunkChars + " +
        s"$stride - 1, 0) div $stride + 1").cast("int")
    docs
      .select(col("doc_id"), col(textCol).as("_t"))
      .select(col("doc_id"), col("_t"),
        posexplode(sequence(lit(0), nChunks - 1)))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
        expr(s"substring(_t, pos * $stride + 1, $chunkChars)")
          .as("chunk_text"))
      .withColumn("chunk_len", length(col("chunk_text")).cast("long"))
  }

  /** Pointwise-mutual-information collocations over adjacent token pairs
    * — the phrase-mining statistic (which bigrams co-occur far above
    * chance). The score is the exact integer ratio
    * `n_xy · N · 1000 div (n_x · n_y)` (PMI without the log, ×1000): a
    * monotone transform of PMI, so rankings are identical, and int64-exact
    * so the cross-engine oracle is float-free. int64 holds while
    * `n_xy·N·1000 < 2⁶³` — corpus N up to ~4·10⁷ tokens in the worst
    * (single-bigram) case; a real 100 TB run computes `log` in double at
    * the end instead, where drift no longer matters because the counts
    * themselves stay exact.
    *
    * Shape: one bigram aggregation (partial combine, shuffle = distinct
    * bigrams per map task), one unigram aggregation, two joins of the
    * bigram table against the |vocab|-row unigram table (broadcast — the
    * distinct-token relation is always the small side), then a
    * distributed TakeOrdered for the top-k, never a global sort. */
  def pmiBigrams(docs: DataFrame, minCount: Long = 5, topK: Int = 25,
      textCol: String = "text"): DataFrame = {
    val bigrams = adjacentPairRows(docs, textCol)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_xy"))
    // staged: consumed three times below (n_x join, n_y join, total) —
    // one corpus scan instead of three for a vocabulary-bounded frame
    val unigrams = Stage.barrier(
      docs.select(explode(tokens(col(textCol))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("n")))
    val total = unigrams.agg(sum(col("n")).cast("long").as("n_total"))
    bigrams
      .join(broadcast(unigrams.select(col("w").as("w1"),
        col("n").as("n_x"))), "w1")
      .join(broadcast(unigrams.select(col("w").as("w2"),
        col("n").as("n_y"))), "w2")
      .filter(col("n_xy") >= minCount)
      .crossJoin(broadcast(total)) // single-row frame
      .select(col("w1"), col("w2"), col("n_xy").cast("long").as("n_xy"),
        col("n_x").cast("long").as("n_x"), col("n_y").cast("long").as("n_y"),
        expr("n_xy * n_total * 1000 div (n_x * n_y)").as("pmi_x1000"))
      .orderBy(desc("pmi_x1000"), col("w1"), col("w2"))
      .limit(topK)
  }
}
