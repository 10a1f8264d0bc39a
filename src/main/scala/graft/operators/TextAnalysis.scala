package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis column functions (SURVEY §2.8) — all built from codegen'd
  * `org.apache.spark.sql.functions`, no UDFs, so they stay inside
  * whole-stage codegen and scale linearly with input bytes.
  */
object TextAnalysis {

  /** Whitespace token count; empty/blank text counts 0. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** Feature hashing (the hashing trick — Weinberger et al., ICML 2009):
    * fixed-dimension bag-of-words vectors with NO vocabulary pass or
    * driver-side dictionary — bucket = md5(token) mod D, sign = a second
    * independent md5 bit (the signed variant keeps collision noise
    * zero-mean). One explode + one map-side-combined conditional-sum
    * aggregation per document; dimensions emitted as D scalar columns
    * (engine-sortable, unlike array outputs). Deterministic across
    * engines via the portable md5. */
  def featureHash(df: DataFrame, idCol: String, textCol: String,
      dims: Int): DataFrame = {
    require(dims >= 2 && dims <= 64, "dims must be in [2, 64]")
    val toks = df.select(col(idCol).as("doc_id"),
      explode(split(trim(lower(col(textCol))), "\\s+")).as("tok"))
      .where(col("tok") =!= "")
      .withColumn("bucket", Dedup.md5Long(col("tok")) % dims)
      .withColumn("sgn",
        when(Dedup.md5Long(concat(lit("s:"), col("tok"))) % 2 === 0, lit(1L))
          .otherwise(lit(-1L)))
    val sums = (0 until dims).map(d =>
      sum(when(col("bucket") === d, col("sgn")).otherwise(lit(0L)))
        .cast("long").as(s"f$d"))
    toks.groupBy("doc_id").agg(sums.head, sums.tail: _*)
  }

  /** BM25 ranked retrieval (Robertson/Spärck Jones; the Lucene-form
    * idf = ln((N − df + ½)/(df + ½) + 1), which never goes negative):
    * score the corpus against a fixed bag of query terms and return the
    * top-N documents. Every per-term score is 6dp-rounded then cast
    * DECIMAL(18,6) so the per-document sum is ORDER-INDEPENDENT (the
    * tx_unigram lesson — a double sum's last ulp depends on reduction
    * order) and the ranking comparison is exact in both engines; the
    * unrounded double chain before it is a fixed parse tree of
    * single-rounded IEEE ops replayed verbatim in the oracle.
    *
    * Scale shape: explode → (doc, term) counts map-side combined, but
    * only for rows matching the query terms (the `isin` filter sits
    * under the aggregation, so the shuffle carries matched terms only);
    * df and the corpus stats are broadcast scalars; doc length joins by
    * id. The global top-N goes through [[TopK.perKey]]'s local-heap
    * prune, so the final window sees ≤ partitions·N rows — no
    * corpus-sized single-partition sort. */
  def bm25Retrieval(df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
      topN: Int = 50): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    // toks feeds doc lengths AND query-term frequencies, and dl feeds
    // corpus stats AND the score join — pinned so the tokenize pass runs
    // once, not three times
    val toks = df.select(col(idCol).as("doc_id"),
      explode(split(trim(lower(col(textCol))), "\\s+")).as("term"))
      .where(col("term") =!= "")
      .localCheckpoint(true)
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      .localCheckpoint(true)
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))
    val tf = toks.where(col("term").isin(queryTerms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val k1p1 = k1 + 1.0
    val oneMinusB = 1.0 - b
    val scored = tf.join(broadcast(dfreq), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("score_t",
        round((log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
            * (col("tf") * lit(k1p1)))
          / (col("tf") + lit(k1) * (lit(oneMinusB)
             + lit(b) * col("dl") / (col("total_dl") / col("n_docs")))), 6)
          .cast("decimal(18,6)"))
    val totals = scored.groupBy("doc_id")
      .agg(sum(col("score_t")).as("bm25_dec"), count(lit(1)).as("n_matched"))
    TopK.perKey(totals.withColumn("__g", lit(1)), "__g", "bm25_dec", topN,
        tieBreak = Seq("doc_id"))
      .select(col("doc_id"), col("bm25_dec").cast("double").as("bm25"),
        col("n_matched"))
  }

  /** Corpus TF-IDF: per document, the top-k terms by tf · ln((1+N)/(1+df))
    * (add-one smoothed idf — no div-by-zero, no negative weights for
    * corpus-universal terms beyond −ln overshoot). Ranking compares the
    * 6dp-ROUNDED score (then term asc): unrounded doubles differ by a ulp
    * across engines and would flip near-ties, rounded ones cannot.
    *
    * Scale shape: explode → (doc, term) count (map-side combined), the
    * document-frequency table derives from the tf table (already one row
    * per (doc, term) — no second corpus scan), and the idf join is a
    * vocabulary-sized equi-join on term. The per-doc top-k is a window
    * over the doc's own terms. Nothing document-sized shuffles twice. */
  def tfIdf(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
      explode(split(trim(lower(col(textCol))), "\\s+")).as("term"))
      .where(col("term") =!= "")
    // tf feeds the document-frequency census and the score join-back —
    // pinned so the tokenize+explode+count pipeline runs once
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    tf.join(dfreq, "term").crossJoin(broadcast(nDocs))
      .withColumn("score",
        round(col("tf") * log((lit(1.0) + col("n_docs")) / (lit(1.0) + col("df"))), 6))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("score"), col("rank").cast("long").as("rank"))
  }

  /** Tokens of a BPE-ish segmentation: runs of word chars, runs of digits,
    * or single non-space punctuation — a cheap proxy for subword token
    * pressure. */
  def bpeishTokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))))

  def charCount(text: Column): Column = length(text)

  /** Count of characters matching a regex character class. */
  def classCount(text: Column, clazz: String): Column =
    length(text) - length(regexp_replace(text, clazz, ""))

  def punctCount(text: Column): Column = classCount(text, "[.,!?;:]")
  def digitCount(text: Column): Column = classCount(text, "[0-9]")
  def whitespaceCount(text: Column): Column = classCount(text, "\\s")

  /** Ratio helpers return NULL-safe doubles rounded to 6 digits so both
    * engines agree bit-for-bit after identical rounding. */
  private def ratio(num: Column, den: Column): Column =
    round(when(den === 0, lit(0.0)).otherwise(num.cast("double") / den.cast("double")), 6)

  def punctRatio(text: Column): Column = ratio(punctCount(text), charCount(text))
  def digitRatio(text: Column): Column = ratio(digitCount(text), charCount(text))
  def whitespaceRatio(text: Column): Column = ratio(whitespaceCount(text), charCount(text))

  /** Fraction of tokens that are in the given stopword list. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val toks = split(trim(text), "\\s+")
    val stops = array(stopwords.map(lit): _*)
    ratio(size(filter(toks, t => array_contains(stops, t))), tokenCount(text))
  }

  val EnglishStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that", "for", "on", "with", "as")

  /** Composite quality score in [0,1]: long-enough, low punctuation
    * density, has stopwords (fluent-text prior), few digits. */
  def qualityScore(text: Column, stopwords: Seq[String] = EnglishStopwords): Column = {
    val lenScore = least(charCount(text).cast("double") / 200.0, lit(1.0))
    val punctPenalty = least(punctRatio(text) * 5.0, lit(1.0))
    val digitPenalty = least(digitRatio(text) * 5.0, lit(1.0))
    val stopScore = least(stopwordRatio(text, stopwords) * 4.0, lit(1.0))
    round((lenScore * 0.4 + stopScore * 0.3 + (lit(1.0) - punctPenalty) * 0.15
      + (lit(1.0) - digitPenalty) * 0.15), 6)
  }

  // ---------------------------------------------------------- language id

  /** Stopword profiles for the language-ID heuristic: the most frequent
    * function words of each language (public lists). */
  val LanguageProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "that", "for", "on", "with", "was", "as"),
    "fr" -> Seq("le", "la", "les", "de", "des", "et", "un", "une", "du", "en", "est", "que", "qui", "dans", "pour"),
    "es" -> Seq("el", "la", "los", "las", "de", "y", "un", "una", "en", "es", "que", "del", "se", "por", "con"),
    "de" -> Seq("der", "die", "das", "und", "ein", "eine", "von", "zu", "mit", "ist", "den", "im", "für", "auf", "nicht"),
    "it" -> Seq("il", "la", "le", "di", "e", "un", "una", "che", "per", "del", "della", "con", "sono", "non", "in"))

  /** CJK-character ratio — script detection for zh/ja/ko, which stopword
    * lists cannot cover (no whitespace tokenization). */
  def cjkRatio(text: Column): Column =
    ratio(classCount(text, "[\\u4e00-\\u9fff\\u3040-\\u30ff\\uac00-\\ud7af]"), charCount(text))

  /** N-gram/stopword-profile language ID: score each profile by stopword
    * hit ratio; CJK script wins outright above 20% CJK characters;
    * `und` (undetermined) when no profile scores. All codegen'd column
    * math — per-language scores are parallel array ops over one token
    * split. */
  def languageId(text: Column, profiles: Map[String, Seq[String]] = LanguageProfiles): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    val scored = profiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      val stops = array(words.map(lit): _*)
      struct(ratio(size(filter(toks, t => array_contains(stops, t))), size(toks)).as("score"),
        lit(lang).as("lang"))
    }
    val best = greatest(scored: _*)
    when(cjkRatio(text) > 0.2, lit("zh"))
      .when(best.getField("score") > 0.0, best.getField("lang"))
      .otherwise(lit("und"))
  }

  // -------------------------------------------------- repetition quality

  /** Gopher-style repetition signals (Rae et al. 2021, "Scaling Language
    * Models", App. A quality filters): heavily repetitive documents are
    * low-quality training data even when every other signal looks fine.
    * Per document: token counts, duplicate-token fraction, and the most
    * frequent word bigram with its occurrence count and fraction of all
    * bigrams (ties → lexicographically smallest bigram, deterministic).
    * The bigram count is one explode + two aggregations keyed by (doc,
    * bigram) — shuffles carry (id, bigram) pairs, never documents. */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = df.select(col(idCol), split(trim(col(textCol)), "\\s+").as("__toks"))
      .withColumn("n_tokens", size(col("__toks")).cast("long"))
      .withColumn("n_distinct_tokens", size(array_distinct(col("__toks"))).cast("long"))
    val bigrams = base.select(col(idCol),
      explode(transform(
        slice(col("__toks"), lit(1), greatest(size(col("__toks")) - 1, lit(0))),
        (t, i) => concat(t, lit(" "), get(col("__toks"), i + 1)))).as("bigram"))
    // deterministic argmax: min(struct(-n, bigram)) = highest count, then
    // lexicographically smallest bigram. Deliberately NOT fused onto one
    // repartition(id) shuffle (the labelPropagationDF trick): the
    // (id, bigram) aggregation's map-side partial combine collapses
    // repeated bigrams BEFORE the exchange, and heavily repetitive
    // documents — the very thing this operator hunts — are where that
    // combine shrinks the shuffle the most. Two exchanges of combined
    // rows beat one exchange of raw explosion here.
    val top = bigrams
      .groupBy(col(idCol), col("bigram")).agg(count(lit(1)).as("n"))
      .groupBy(col(idCol))
      .agg(min(struct((-col("n")).as("negn"), col("bigram").as("bigram"))).as("m"))
      .select(col(idCol), col("m.bigram").as("top_bigram"), (-col("m.negn")).as("top_bigram_n"))
    base.join(top, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"), col("n_distinct_tokens"),
        ratio(col("n_tokens") - col("n_distinct_tokens"), col("n_tokens")).as("dup_token_frac"),
        col("top_bigram"),
        coalesce(col("top_bigram_n"), lit(0L)).as("top_bigram_n"),
        when(col("n_tokens") <= 1, lit(0.0))
          .otherwise(ratio(coalesce(col("top_bigram_n"), lit(0L)), col("n_tokens") - 1))
          .as("top_bigram_frac"))
  }

  // ----------------------------------------------------------- chunking

  /** Fixed-size overlapping character chunks — the RAG/pretraining
    * chunker. Chunk starts are 1, 1+stride, … while ≤ len (tail chunks run
    * shorter than `size`), so every character is covered and consecutive
    * chunks overlap by size − stride chars. One `sequence` + `explode`:
    * the expansion is columnar, codegen'd, and shuffles nothing. */
  def chunk(df: DataFrame, idCol: String, textCol: String,
      size: Int = 200, stride: Int = 150): DataFrame = {
    require(size > 0 && stride > 0, "size and stride must be positive")
    df.select(col(idCol), col(textCol).as("__t"))
      .where(length(col("__t")) > 0)
      .select(col(idCol), col("__t"),
        explode(sequence(lit(1), length(col("__t")), lit(stride))).as("__start"))
      .select(col(idCol),
        ((col("__start") - 1) / stride).cast("long").as("chunk_id"),
        length(col("__t").substr(col("__start"), lit(size))).cast("long").as("n_chars"),
        md5(col("__t").substr(col("__start"), lit(size))).as("chunk_md5"))
  }

  // ------------------------------------------------- character entropy

  /** Shannon character entropy per document, in nats — the low-cost
    * gibberish/boilerplate signal (Gopher-family repetition filters'
    * complement): natural prose lands ~3-4.5 nats, single-character spam
    * and base64 walls sit far outside. One explode to (id, char) — the
    * doc itself never shuffles; per-class counts map-side combine — then
    * −Σ p·ln p with each term quantized to 6dp and summed as DECIMAL
    * (order-independent, the [[unigramLogprob]] recipe), so the entropy
    * itself is oracle-exact. Characters surface via position explode +
    * substring (code-point semantics agree across engines; split-on-
    * empty-string does not). Empty documents score exactly 0. */
  def charEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = df.select(col(idCol), col(textCol).cast("string").as("__t"))
    val chars = base.where(length(col("__t")) > 0)
      .select(col(idCol), col("__t"), explode(expr("sequence(1, length(__t))")).as("__i"))
      .select(col(idCol), expr("substring(__t, __i, 1)").as("ch"))
    val counts = chars.groupBy(col(idCol), col("ch")).agg(count(lit(1)).as("n"))
    val tot = counts.groupBy(col(idCol)).agg(sum(col("n")).as("len"))
    val p = col("n").cast("double") / col("len").cast("double")
    val terms = counts.join(tot, Seq(idCol))
      .select(col(idCol), round(p * log(p), 6).cast("decimal(18,6)").as("t"))
    val ent = terms.groupBy(col(idCol))
      .agg((-sum(col("t"))).cast("double").as("char_entropy"))
    base.select(col(idCol)).join(ent, Seq(idCol), "left_outer")
      .select(col(idCol), coalesce(col("char_entropy"), lit(0.0)).as("char_entropy"))
  }

  // ------------------------------------------------- bigram LM scoring

  /** Corpus-bigram negative log-likelihood per document with add-one
    * smoothing — the next perplexity proxy above [[unigramLogprob]]:
    * unigram scoring can't see scrambled word ORDER, a bigram model can.
    * −ln((c(w₁w₂)+1) / (c(w₁)+V)) per adjacent pair, V = vocabulary
    * size; three corpus-bounded tables (bigram counts, unigram counts,
    * one-row V broadcast) joined back to the (id, w₁, w₂) stream —
    * shuffles carry token pairs, never documents. Terms 6dp-quantized
    * and DECIMAL-summed as in the unigram op. Documents under two
    * tokens have no bigrams and are excluded (mirrored in the oracle). */
  def bigramLogprob(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val arr = df.select(col(idCol), split(trim(col(textCol)), "\\s+").as("a"))
      .where(size(col("a")) >= 2)
    // bi feeds the bigram census AND the scored join-back — pinned so
    // the tokenize+explode pass runs once; c1 likewise (the unigram
    // census doubles as the vocabulary: count its rows instead of
    // re-exploding every token for a count_distinct)
    val bi = arr.select(col(idCol),
      explode(expr("transform(sequence(2, size(a)), i -> struct(a[i-2] AS w1, a[i-1] AS w2))")).as("p"))
      .select(col(idCol), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .localCheckpoint(true)
    val toks = df.select(explode(split(trim(col(textCol)), "\\s+")).as("tok"))
    val c1 = toks.groupBy(col("tok").as("w1")).agg(count(lit(1)).as("n1"))
      .localCheckpoint(true)
    val c2 = bi.groupBy("w1", "w2").agg(count(lit(1)).as("n2"))
    val vocab = c1.agg(count(lit(1)).as("v"))
    val scored = bi.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("neg_logp",
        round(-log((col("n2") + 1).cast("double") / (col("n1") + col("v")).cast("double")), 6)
          .cast("decimal(18,6)"))
    // the mean is deliberately UNROUNDED: the 6dp-decimal sum divided by
    // a small integer count lands on exact decimal half-boundaries
    // routinely (e.g. 327.752592/96 = 3.4140895 exactly), where Spark
    // (shortest-repr HALF_UP) and DuckDB (binary rint) round apart — one
    // unrounded IEEE division of identical inputs is bit-identical
    // instead (observed live at sf0.1)
    scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("neg_logp")).cast("double") / count(lit(1))).as("avg_neg_logprob"))
  }

  // ------------------------------------------------- unigram LM scoring

  /** Corpus-unigram negative log-likelihood per document — the perplexity
    * proxy pretraining pipelines filter on (high avg −log p(token) =
    * surprising/unnatural text). Two passes: a corpus-wide token
    * frequency table (one groupBy over exploded tokens), then per-doc
    * scoring via an equi-join on token.
    *
    * Cross-engine determinism: each token's −ln(p) is rounded to 6
    * decimals and summed as DECIMAL(18,6) — decimal addition is exact and
    * order-independent, where double summation would depend on
    * aggregation order and never hash-match another engine. */
  def unigramLogprob(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // toks feeds the frequency census and the score join-back — pinned
    // so the tokenize+explode pass runs once
    val toks = df.select(col(idCol),
      explode(split(trim(col(textCol)), "\\s+")).as("tok"))
      .localCheckpoint(true)
    val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
    val total = freq.agg(sum(col("n")).as("total"))
    val scored = toks.join(freq, "tok").crossJoin(broadcast(total))
      .withColumn("neg_logp",
        round(-log(col("n").cast("double") / col("total").cast("double")), 6)
          .cast("decimal(18,6)"))
    // unrounded mean — same half-boundary hazard as bigramLogprob's
    // scaladoc explains; the division itself is engine-identical
    scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        (sum(col("neg_logp")).cast("double") / count(lit(1))).as("avg_neg_logprob"))
  }

  // ------------------------------------------- temperature resampling

  /** Temperature-resampled corpus composition (the mT5/Pile recipe):
    * target language share q_l ∝ p_l^alpha flattens the natural
    * distribution p_l, upsampling rare languages. Realized as
    * deterministic per-document acceptance — md5-bucket(doc id) <
    * per-language threshold — where thresholds a_l = K·q_l/p_l (K sized
    * so the largest rate is 1) give expected composition ∝ q_l without
    * any rand(): the same documents survive on every run, reshard, and
    * engine. Returns per-language (n_in, accept_threshold, n_sampled). */
  /** Weighted sampling WITHOUT replacement (Efraimidis & Spirakis 2006,
    * A-Res): item i gets key ln(u_i)/w_i where u_i ∈ (0, 1] is a
    * DERANDOMIZED uniform from the portable md5 hash of (seed, id); the
    * global top-n by key is exactly a w-weighted sample without
    * replacement, reproducible across runs, reshards, and engines. Keys
    * are 6dp-ROUNDED before ranking (ties → id asc), so the selected SET
    * replays bit-for-bit in SQL despite the libm ln. Items with
    * non-positive weight are excluded (their inclusion probability is 0).
    * Plans as TakeOrderedAndProject — per-partition top-n + merge, never
    * a full sort: the 100 TB shape of "sample n docs ∝ quality". */
  def weightedSample(df: DataFrame, idCol: String, weight: Column, n: Int,
      seed: Long = 42L): DataFrame = {
    val h = Dedup.md5Long(concat(lit(s"$seed:"), col(idCol).cast("string")))
    // (h+1)/2^60 ∈ (0, 1]: the +1 avoids ln(0); division by a power of
    // two is exact scaling of the (identically) rounded double
    val u = (h + lit(1L)).cast("double") / lit(math.pow(2.0, 60))
    // + 0.0 normalizes IEEE negative zero: a key that rounds to -0.0
    // hash-compares differently from 0.0 across engines (caught at sf0.1,
    // where long docs push ln(u)/w inside the 6dp rounding radius of 0)
    val key = round(log(u) / weight, 6) + lit(0.0)
    // global window, bounded input: it ranks the n rows left by limit(n)
    val w = GlobalWindow.orderBy(col("sample_key").desc, col(idCol))
    df.where(weight > 0)
      .withColumn("sample_key", key)
      .orderBy(col("sample_key").desc, col(idCol)).limit(n)
      .withColumn("rank", row_number().over(w).cast("long"))
  }

  /** DSIR — Data Selection via Importance Resampling (Xie et al.,
    * NeurIPS 2023): score every RAW document by how much more likely its
    * hashed n-gram bag is under a TARGET corpus's bag-of-words model
    * than under the raw corpus's own, then resample ∝ weight by
    * Gumbel-top-k. The published recipe, distributed:
    *
    *   - features = unigrams ∪ bigrams, hashed into `buckets` buckets
    *     (the [[featureHash]] trick — no vocabulary pass, no driver
    *     dictionary; the portable md5 keeps buckets engine-identical);
    *   - two bucket-count models with add-one smoothing:
    *     p̂(b) = (n_b + 1)/(T + B) for target and raw;
    *   - per-bucket log-ratio L_b = round(ln p̂_t(b) − ln p̂_r(b), 6) as
    *     DECIMAL(18,6) — the unigramLogprob lesson: quantize each term
    *     once, then every downstream sum is exact and order-independent;
    *   - log weight(d) = Σ_b count_d(b) · L_b (exact decimal);
    *   - Gumbel-top-k: key = logw + round(−ln(−ln u), 6) with u the
    *     derandomized md5 uniform of (seed, id) ([[weightedSample]]'s
    *     trick — clamped one dyadic step below 1.0 so −ln(−ln u) cannot
    *     overflow), which samples WITHOUT replacement with
    *     P(i first) = softmax(logw) — the Gumbel-max theorem — while
    *     replaying bit-for-bit in SQL.
    *
    * Scale shape: shuffles carry (doc_id, bucket) pairs — never text;
    * both models are B-row aggregates broadcast back; the top-k is a
    * TakeOrderedAndProject (per-partition heaps + merge, no global
    * sort). `target` is typically a small exemplar set (the
    * distribution you want more of) and may be a filtered view of
    * `raw` — each side tokenizes its own input once. */
  def dsirSelect(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, buckets: Int = 4096, topK: Int = 100,
      seed: Long = 17L): DataFrame = {
    require(buckets >= 2 && buckets <= 65536, "buckets must be in [2, 65536]")
    def feats(df: DataFrame): DataFrame = {
      val toks = split(trim(lower(col(textCol))), "\\s+")
      df.select(col(idCol).as("doc_id"), toks.as("__toks"))
        .select(col("doc_id"), explode(concat(col("__toks"),
          transform(
            slice(col("__toks"), lit(1), greatest(size(col("__toks")) - 1, lit(0))),
            (t, i) => concat(t, lit(" "), get(col("__toks"), i + 1))))).as("f"))
        .where(col("f") =!= "")
        .select(col("doc_id"), (Dedup.md5Long(col("f")) % buckets).as("bucket"))
    }
    val spark = raw.sparkSession
    // (doc_id, bucket) pairs feed the raw model AND the per-doc scores —
    // pinned so tokenize+hash runs once
    val rawF = feats(raw).localCheckpoint(true)
    val rawModel = rawF.groupBy(col("bucket")).agg(count(lit(1)).as("nr"))
    val tgtModel = feats(target).groupBy(col("bucket")).agg(count(lit(1)).as("nt"))
    val ratios = spark.range(buckets).select(col("id").as("bucket"))
      .join(rawModel, Seq("bucket"), "left")
      .join(tgtModel, Seq("bucket"), "left")
      .crossJoin(broadcast(rawModel.agg(sum(col("nr")).as("tr"))))
      .crossJoin(broadcast(tgtModel.agg(sum(col("nt")).as("tt"))))
      .select(col("bucket"),
        round(log((coalesce(col("nt"), lit(0L)) + 1).cast("double") /
            (col("tt") + buckets).cast("double")) -
          log((coalesce(col("nr"), lit(0L)) + 1).cast("double") /
            (col("tr") + buckets).cast("double")), 6)
          .cast("decimal(18,6)").as("lb"))
    val scored = rawF.groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("c"))
      .join(broadcast(ratios), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_feats"), sum(col("c") * col("lb")).as("logw"))
    val h = Dedup.md5Long(concat(lit(s"$seed:"), col("doc_id").cast("string")))
    // u ∈ (0, 1): the +1 avoids ln(0) below; the clamp one dyadic step
    // under 1.0 (exact in both engines — a power-of-two subtraction)
    // avoids −ln(0) above, where the long→double rounding of h+1 can
    // land exactly on 2^60
    val u = least((h + lit(1L)).cast("double") / lit(math.pow(2.0, 60)),
      lit(1.0 - math.pow(2.0, -40)))
    val keyed = scored.withColumn("sample_key",
      (col("logw") + round(-log(-log(u)), 6).cast("decimal(18,6)"))
        .cast("double") + lit(0.0))
    // global window, bounded input: it ranks the topK rows left by limit(topK)
    val w = GlobalWindow.orderBy(col("sample_key").desc, col("doc_id"))
    keyed.orderBy(col("sample_key").desc, col("doc_id")).limit(topK)
      .select(col("doc_id"), col("n_feats"),
        col("logw").cast("double").as("log_weight"), col("sample_key"),
        row_number().over(w).cast("long").as("rank"))
  }

  def temperatureSample(df: DataFrame, idCol: String, langCol: String,
      alpha: Double = 0.3): DataFrame = {
    val counts = df.groupBy(col(langCol)).agg(count(lit(1)).as("n_in"))
    val withP = counts
      .withColumn("total", sum(col("n_in")).over(GlobalWindow.all))
      .withColumn("p", col("n_in").cast("double") / col("total").cast("double"))
      // q_raw quantized to 6dp and summed as decimal: exact,
      // order-independent normalization (a double sum would depend on
      // window aggregation order and diverge across engines)
      .withColumn("q_raw", round(pow(col("p"), lit(alpha)), 6).cast("decimal(18,6)"))
      .withColumn("q", col("q_raw").cast("double") /
        sum(col("q_raw")).over(GlobalWindow.all).cast("double"))
      .withColumn("ratio", col("q") / col("p"))
      .withColumn("rate", col("ratio") / max(col("ratio")).over(GlobalWindow.all))
      // integer threshold out of 256 md5 buckets, rounded half-up like
      // round(); 1-ulp pow differences cannot flip it off a .5 boundary
      .withColumn("accept_thr", round(col("rate") * 256).cast("long"))
    val bucket = conv(substring(md5(col(idCol).cast("string")), 1, 2), 16, 10).cast("int")
    val sampled = df.select(col(idCol), col(langCol))
      .withColumn("__bucket", bucket)
      .join(withP.select(col(langCol), col("accept_thr")), Seq(langCol))
      .where(col("__bucket") < col("accept_thr"))
      .groupBy(col(langCol)).agg(count(lit(1)).as("n_sampled"))
    withP.select(col(langCol), col("n_in"), col("accept_thr"))
      .join(sampled, Seq(langCol), "left")
      .select(col(langCol), col("n_in"), col("accept_thr"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
  }

  // ------------------------------------------------------- PII redaction

  /** PII patterns kept RE2-compatible (simple classes, no lookaround) so
    * the DuckDB oracle applies the identical regexes. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\+?[0-9][-0-9 ()]{6,}[0-9]"

  def emailCount(text: Column): Column =
    size(regexp_extract_all(text, lit(EmailPattern), lit(0))).cast("long")

  /** Phone counting runs on email-redacted text: digit runs inside an
    * email's local part must not double-count as phone numbers. */
  def phoneCount(emailRedacted: Column): Column =
    size(regexp_extract_all(emailRedacted, lit(PhonePattern), lit(0))).cast("long")

  def redactEmails(text: Column): Column =
    regexp_replace(text, EmailPattern, "<EMAIL>")

  /** Redact emails then phone numbers with typed sentinels — the
    * pre-training PII scrub pass. Pure regexp_replace: codegen'd,
    * linear in input bytes, no UDFs. */
  def redactPii(text: Column): Column =
    regexp_replace(redactEmails(text), PhonePattern, "<PHONE>")

  // -------------------------------------------------------- fingerprints

  /** Rolling-hash document fingerprint: xxhash64 over the document's
    * normalized (lowercased, whitespace-collapsed) content. Stable under
    * formatting noise, unlike a raw byte hash. */
  def fingerprint(text: Column): Column =
    xxhash64(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** md5 variant of the normalized-content fingerprint — same stability
    * properties, reproducible by engines without xxhash64 (DuckDB oracle). */
  def fingerprintMd5(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Winnowing-style k-gram min-sketch: the `sketchSize` smallest xxhash64
    * values over word k-grams — a compact, order-insensitive fingerprint
    * for containment/overlap detection at corpus scale. */
  def fingerprintSketch(text: Column, k: Int = 5, sketchSize: Int = 16): Column =
    slice(array_sort(Dedup.shingleHashes(text, k)), 1, sketchSize)

  // ------------------------------------------------------------- splits

  /** Deterministic train/val/test split assignment: md5 of the id's first
    * byte → bucket 0-255 → named split by cumulative bucket weights.
    * Hash-based (not random): the same document lands in the same split
    * on every run, across reshards, and across engines — the property a
    * reproducible training pipeline needs. All codegen'd column math. */
  def splitAssign(id: Column, weights: Seq[(String, Int)]): Column = {
    require(weights.map(_._2).sum == 256,
      s"split weights must sum to 256 buckets, got ${weights.map(_._2).sum}")
    val bucket = conv(substring(md5(id.cast("string")), 1, 2), 16, 10).cast("int")
    val bounds = weights.scanLeft(0) { case (acc, (_, w)) => acc + w }.tail
    weights.zip(bounds).foldRight(lit(weights.last._1): Column) {
      case (((name, _), upper), rest) => when(bucket < upper, lit(name)).otherwise(rest)
    }
  }

  /** Exact train-set contamination in an evaluation split: eval docs whose
    * normalized-content fingerprint also appears in the train split. ONE
    * equi-join on the 32-char digest — the decontamination primitive run
    * before every training job; near-dup contamination composes the same
    * way from [[Dedup.minHashLshPairs]] candidates. */
  def contamination(df: DataFrame, idCol: String, textCol: String,
      splitCol: String, trainSplit: String, evalSplit: String): DataFrame = {
    val fp = df.select(col(idCol), col(splitCol),
      fingerprintMd5(col(textCol)).as("__fp"))
    val train = fp.where(col(splitCol) === trainSplit)
      .select(col("__fp")).distinct()
    fp.where(col(splitCol) === evalSplit)
      .join(train, Seq("__fp"), "left_semi")
      .select(col(idCol), col("__fp").as("fingerprint_md5"))
  }

  /** Span-level exact-substring duplication — the signal behind
    * exact-substring deduplication (duplicated passages inside otherwise
    * distinct documents: boilerplate headers, licenses, quoted blocks —
    * which document-level dedup cannot see).
    *
    * Every `windowTokens`-token sliding window is hashed (engine-portable
    * md5 form); a window is DUPLICATED when the same hash occurs in at
    * least one OTHER document. The shuffle carries (hash, doc_id) pairs
    * only — never text — and the duplicate-hash set is computed with one
    * map-side-combined aggregation, so the operator is corpus-scale. Output
    * per doc: (id, n_windows, n_dup_windows, dup_fraction). Documents
    * shorter than one window count one whole-text window. */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      windowTokens: Int = 10): DataFrame = {
    // shingleHashesMd5 is DISTINCT per doc by construction, so windows
    // are (doc, distinct window) rows: a hash occurring in >= 2 rows
    // occurs in >= 2 docs, and n_windows counts distinct windows (self-
    // repetition inside one doc is repetitionStats' signal, not this one.
    // Checkpointed: both the duplicate-hash census and the per-doc
    // join-back read these rows — without the pin the whole
    // tokenize+hash+explode pass runs twice. (id, hash) pairs only, so
    // the pinned footprint is a small constant fraction of corpus bytes.
    val windows = df.select(col(idCol).as("doc_id"),
      explode(Dedup.shingleHashesMd5(col(textCol), windowTokens)).as("h"))
      .localCheckpoint(true)
    val dupHashes = windows
      .groupBy("h").agg(count(lit(1)).as("__docs"))
      .where(col("__docs") >= 2).select(col("h"))
    val perDoc = windows
      .join(dupHashes.withColumn("__dup", lit(1L)), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(coalesce(col("__dup"), lit(0L))).as("n_dup_windows"))
    perDoc.select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
      round(col("n_dup_windows").cast("double") / col("n_windows").cast("double"), 6)
        .as("dup_fraction"))
  }

  /** NEAR-DUP train-set contamination — the fuzzy variant of
    * [[contamination]]: an eval document leaks even when it was lightly
    * edited (truncated, re-tokenized, suffixed) before entering the
    * training corpus, which exact fingerprints cannot see.
    *
    * MinHash-banded blocking between the splits (the [[Dedup]] md5
    * family, so an external SQL oracle replays every bucket), bucket-size
    * cap, then an exact word-shingle Jaccard verify on the candidate
    * pairs only — the blocking join carries (id, split, band, bucket),
    * never text. Output: one row per EVAL doc — (id, n_near_dups,
    * contaminated), clean docs included with 0/false, so the result is
    * the decontamination worklist. */
  def contaminationFuzzy(df: DataFrame, idCol: String, textCol: String,
      splitCol: String, trainSplit: String, evalSplit: String,
      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
      jaccardThreshold: Double = 0.5, maxBucketSize: Int = 1000): DataFrame = {
    val rows = numHashes / bands
    val banded = df.select(col(idCol).as("doc_id"), col(splitCol).as("__split"),
      Dedup.minHashSignature(
        Dedup.shingleHashesMd5(col(textCol), shingleSize), numHashes).as("__sig"))
      .select(col("doc_id"), col("__split"),
        explode(Dedup.lshBandKeysMd5(col("__sig"), bands, rows)).as("bk"))
      .select(col("doc_id"), col("__split"), col("bk.band").as("band"), col("bk.bucket").as("bucket"))
    val sized = banded.withColumn("__n", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("band"), col("bucket"))))
      .where(col("__n") <= maxBucketSize)
    val evalB = sized.where(col("__split") === evalSplit)
      .select(col("band"), col("bucket"), col("doc_id").as("eval_id"))
    val trainB = sized.where(col("__split") === trainSplit)
      .select(col("band"), col("bucket"), col("doc_id").as("train_id"))
    val candidates = evalB.join(trainB, Seq("band", "bucket"))
      .select(col("eval_id"), col("train_id")).dropDuplicates("eval_id", "train_id")
    // exact verify: distinct word-shingle Jaccard, shingles fetched by id
    val sh = df.select(col(idCol).as("__sid"),
      array_distinct(Dedup.wordShingles(col(textCol), shingleSize)).as("__sh"))
    val verified = candidates
      .join(sh.select(col("__sid").as("eval_id"), col("__sh").as("sh_e")), Seq("eval_id"))
      .join(sh.select(col("__sid").as("train_id"), col("__sh").as("sh_t")), Seq("train_id"))
      .where(round(
        size(array_intersect(col("sh_e"), col("sh_t"))).cast("double") /
          size(array_union(col("sh_e"), col("sh_t"))).cast("double"), 6) >= jaccardThreshold)
    val counts = verified.groupBy(col("eval_id")).agg(count(lit(1)).as("n_near_dups"))
    df.where(col(splitCol) === evalSplit).select(col(idCol).as("eval_id"))
      .join(counts, Seq("eval_id"), "left")
      .select(col("eval_id").as(idCol),
        coalesce(col("n_near_dups"), lit(0L)).as("n_near_dups"))
      .withColumn("contaminated", col("n_near_dups") > 0)
  }
}
