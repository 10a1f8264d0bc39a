package graft.queries

import graft.Tables
import graft.cache.StageCache
import graft.operators.{Dedup, TextAnalysis => TA}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis + exact-dedup queries over the documents table
  * (SURVEY §2.6, §2.8) — the DuckDB-oracle-checked subset. The candidate-
  * pair near-dup operators (MinHash/SimHash/ngram) are rows-only checked
  * and spec-tested with hand-computed oracles.
  */
object TextQueries {

  def exactDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(Tables(s, dir, "documents"), "doc_id", "text")

  /** Top-3 TF-IDF terms per document (smoothed idf, 6dp-rounded score
    * ranking — see TextAnalysis.tfIdf for why rounding precedes rank). */
  def tfidf(s: SparkSession, dir: String): DataFrame =
    TA.tfIdf(Tables(s, dir, "documents"), "doc_id", "text", k = 3)

  /** BM25 top-50 documents for a fixed 3-term query (k1=1.2, b=0.75) —
    * ranked retrieval over the corpus, decimal-exact ranking (see
    * TextAnalysis.bm25Retrieval). */
  def bm25(s: SparkSession, dir: String): DataFrame =
    TA.bm25Retrieval(Tables(s, dir, "documents"), "doc_id", "text",
      Bm25Terms, k1 = Bm25K1, b = Bm25B, topN = 50)

  private val Bm25Terms = Seq("spark", "hash", "window")
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75

  /** BM25 retrieval over OVERLAPPING CHUNKS (size 200, stride 150) —
    * the RAG shape: the retrieval unit is the passage, not the
    * document, built by composing the chunker with the same
    * bm25Retrieval operator (chunk ids packed doc_id·10⁴+idx and
    * unpacked in the output). */
  def chunkBm25(s: SparkSession, dir: String): DataFrame = {
    val chunks = Tables(s, dir, "documents")
      .select(col("doc_id"), col("text").as("__t"))
      .where(length(col("__t")) > 0)
      .select(col("doc_id"), col("__t"),
        explode(sequence(lit(1), length(col("__t")), lit(ChunkStride))).as("__start"))
      .select(
        (col("doc_id") * 10000 +
          ((col("__start") - 1) / ChunkStride).cast("long")).as("cid"),
        col("__t").substr(col("__start"), lit(ChunkSize)).as("chunk_text"))
    TA.bm25Retrieval(chunks, "cid", "chunk_text", Bm25Terms,
      k1 = Bm25K1, b = Bm25B, topN = 50)
      .select(expr("doc_id div 10000").as("doc_id"),
        (col("doc_id") % 10000).as("chunk_id"), col("bm25"), col("n_matched"))
  }

  private val ChunkSize = 200
  private val ChunkStride = 150

  private val chunkBm25Oracle: String =
    s"""WITH d AS (SELECT doc_id, text AS t FROM documents WHERE length(text) > 0),
       |st AS (SELECT doc_id, unnest(generate_series(1, length(t), $ChunkStride)) AS s, t FROM d),
       |chunks AS (SELECT doc_id*10000 + (s-1)//$ChunkStride AS cid,
       |  substring(t, s, $ChunkSize) AS ct FROM st),
       |toks AS (
       |  SELECT cid, unnest(string_split_regex(trim(lower(ct)), '\\s+')) AS term FROM chunks),
       |tok AS (SELECT cid, term FROM toks WHERE term <> ''),
       |dl AS (SELECT cid, COUNT(*) AS dl FROM tok GROUP BY cid),
       |stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl FROM dl),
       |tf AS (SELECT cid, term, COUNT(*) AS tf FROM tok
       |       WHERE term IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")})
       |       GROUP BY cid, term),
       |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
       |scored AS (
       |  SELECT cid,
       |    CAST(round((ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * (tf * ${Bm25K1 + 1.0}))
       |      / (tf + $Bm25K1 * (${1.0 - Bm25B} + $Bm25B * dl / (total_dl / n_docs))), 6)
       |      AS DECIMAL(18,6)) AS score_t
       |  FROM tf JOIN dfreq USING (term) JOIN dl USING (cid) CROSS JOIN stats),
       |totals AS (
       |  SELECT cid, SUM(score_t) AS bm25_dec, COUNT(*) AS n_matched
       |  FROM scored GROUP BY cid),
       |ranked AS (
       |  SELECT cid, bm25_dec, n_matched,
       |    row_number() OVER (ORDER BY bm25_dec DESC, cid) AS rn
       |  FROM totals)
       |SELECT cid // 10000 AS doc_id, cid % 10000 AS chunk_id,
       |       CAST(bm25_dec AS DOUBLE) AS bm25,
       |       CAST(n_matched AS BIGINT) AS n_matched
       |FROM ranked WHERE rn <= 50""".stripMargin

  /** 16-dim signed hashed bag-of-words per document — the
    * no-vocabulary featurizer (see TextAnalysis.featureHash). */
  def featureHash(s: SparkSession, dir: String): DataFrame =
    TA.featureHash(Tables(s, dir, "documents"), "doc_id", "text", dims = FhDims)

  private val FhDims = 16

  private def featureHashOracle(dims: Int): String = {
    val sums = (0 until dims).map(d =>
      s"CAST(SUM(CASE WHEN bucket = $d THEN sgn ELSE 0 END) AS BIGINT) AS f$d")
      .mkString(",\n  ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
       |  FROM documents),
       |h AS (
       |  SELECT doc_id,
       |    ('0x' || substring(md5(tok), 1, 15))::BIGINT % $dims AS bucket,
       |    CASE WHEN ('0x' || substring(md5('s:' || tok), 1, 15))::BIGINT % 2 = 0
       |         THEN 1 ELSE -1 END AS sgn
       |  FROM toks WHERE tok <> '')
       |SELECT doc_id,
       |  $sums
       |FROM h GROUP BY doc_id""".stripMargin
  }

  /** 50 documents sampled without replacement ∝ length (A-Res keys over
    * derandomized uniforms — reproducible, engine-exact). */
  def weightedSample(s: SparkSession, dir: String): DataFrame =
    TA.weightedSample(Tables(s, dir, "documents")
      .select(col("doc_id"), col("n_chars")), "doc_id", col("n_chars"), n = 50)

  def tokenCount(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
    d.select(col("doc_id"),
      TA.tokenCount(col("text")).cast("long").as("n_tokens"),
      TA.bpeishTokenCount(col("text")).cast("long").as("n_bpeish_tokens"),
      TA.charCount(col("text")).cast("long").as("n_chars"))
  }

  def quality(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
    d.select(col("doc_id"),
      TA.punctRatio(col("text")).as("punct_ratio"),
      TA.digitRatio(col("text")).as("digit_ratio"),
      TA.whitespaceRatio(col("text")).as("ws_ratio"),
      TA.stopwordRatio(col("text"), TA.EnglishStopwords).as("stop_ratio"),
      TA.qualityScore(col("text")).as("quality"))
  }

  /** Corpus statistics per (lang, source) — groupBy over derived text
    * features; the shape of a corpus-curation report at 100 TB. */
  def corpusStats(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
    d.groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(TA.tokenCount(col("text")).cast("long")).cast("long").as("total_tokens"),
        sum(col("n_chars")).cast("long").as("total_chars"),
        count_distinct(Dedup.contentHash(col("text"))).as("n_distinct_texts"))
  }

  /** End-to-end corpus curation: exact-dedup (keep min id) then quality
    * filter, reporting per-language survivor counts — the composed
    * pipeline a 100 TB pretraining-data run executes, built from the same
    * oracle-checked operators. */
  def curation(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
    val keepIds = Dedup.exactGroups(d, "doc_id", "text").select(col("keep_id"))
    d.join(keepIds, d("doc_id") === keepIds("keep_id"), "left_semi")
      .where(TA.qualityScore(col("text")) >= 0.5)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(TA.tokenCount(col("text")).cast("long")).cast("long").as("total_tokens"))
  }

  /** Document-length histogram (100-char buckets) — the size profile any
    * corpus curation pass starts from. */
  def lengthHistogram(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .groupBy((floor(col("n_chars") / 100) * 100).cast("long").as("length_bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("total_chars"))

  /** Balanced per-language sample: the first `n` documents of each
    * language in id order — deterministic dataset rebalancing (the
    * random-sampling twin is `df.stat.sampleBy`, which no SQL oracle can
    * reproduce; this exact form is the CI-able variant). */
  def balancedSample(s: SparkSession, dir: String, n: Int = 50): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("doc_id"))
    Tables(s, dir, "documents")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= n)
      .select(col("doc_id"), col("lang"))
  }

  /** Greedy sequence packing: per language, documents in id order are
    * packed into ~512-token bins (bin = floor(running_tokens / 512)) —
    * the batch-shaping step before tokenized training data is written. */
  def tokenPacking(s: SparkSession, dir: String, binTokens: Int = 512): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    Tables(s, dir, "documents")
      .withColumn("n_tokens", TA.tokenCount(col("text")).cast("long"))
      .withColumn("bin", floor((sum(col("n_tokens")).over(w) - col("n_tokens")) / binTokens).cast("long"))
      .groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).cast("long").as("bin_tokens"))
  }

  /** Deterministic hash split: per (split, lang) document counts and token
    * sums for an 80/10/10 (204/26/26 of 256 buckets) assignment — the
    * same doc lands in the same split on every run and every engine. */
  def split(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .withColumn("split", TA.splitAssign(col("doc_id"),
        Seq("train" -> 204, "val" -> 26, "test" -> 26)))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TA.tokenCount(col("text")).cast("long")).as("n_tokens"))

  /** Exact eval-contamination detection on a deterministically
    * contaminated corpus: train = docs 0-399; eval = copies of docs 0-19
    * (id+10000 — the leaks) plus copies of docs 450-499 (id+20000 —
    * clean, absent from train). Exactly the 20 leaked docs must surface.
    * The testdata has no cross-doc duplicates, so the leak is constructed
    * — same approach as the triangle projection. */
  def contamination(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val train = docs.where(col("doc_id") < 400)
      .select(col("doc_id"), col("text"), lit("train").as("split"))
    val evalLeaked = docs.where(col("doc_id") < 20)
      .select((col("doc_id") + 10000).as("doc_id"), col("text"), lit("eval").as("split"))
    val evalClean = docs.where(col("doc_id") >= 450)
      .select((col("doc_id") + 20000).as("doc_id"), col("text"), lit("eval").as("split"))
    TA.contamination(train.unionAll(evalLeaked).unionAll(evalClean),
      "doc_id", "text", "split", trainSplit = "train", evalSplit = "eval")
  }

  /** NEAR-DUP contamination on a perturbed leak: train = docs 0-399; eval
    * leaks = docs 0-19 with a 3-token suffix appended (so their exact
    * fingerprints differ — [[contamination]] cannot see them) plus clean
    * copies of docs 450-499. MinHash-banded blocking between splits, then
    * an exact shingle-Jaccard verify at 0.5. The oracle replays shingles,
    * signatures, band buckets, the split-crossing candidate join AND the
    * verify in SQL. */
  def contaminationFuzzy(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val train = docs.where(col("doc_id") < 400)
      .select(col("doc_id"), col("text"), lit("train").as("split"))
    val evalLeaked = docs.where(col("doc_id") < 20)
      .select((col("doc_id") + 10000).as("doc_id"),
        concat(col("text"), lit(" extra trailing tokens")).as("text"), lit("eval").as("split"))
    val evalClean = docs.where(col("doc_id") >= 450)
      .select((col("doc_id") + 20000).as("doc_id"), col("text"), lit("eval").as("split"))
    TA.contaminationFuzzy(train.unionAll(evalLeaked).unionAll(evalClean),
      "doc_id", "text", "split", trainSplit = "train", evalSplit = "eval")
  }

  /** Span-level exact-substring duplication over a corpus with
    * constructed shared boilerplate: docs 0-99 get a fixed 12-token
    * header prepended (the license/banner shape), so their 10-token
    * windows overlap cross-doc; the operator must flag exactly those
    * spans. Natural near-dups in the corpus add real signal on top. */
  def dupSpans(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val boiler = "this document is provided as is without any warranty of any kind whatsoever"
    val withBoiler = docs.select(col("doc_id"),
      when(col("doc_id") < 100, concat(lit(boiler + " "), col("text")))
        .otherwise(col("text")).as("text"))
    TA.duplicatedSpans(withBoiler, "doc_id", "text", windowTokens = 10)
  }

  /** Gopher-style repetition quality signals per document (duplicate-token
    * fraction, dominant bigram) — the filter that catches boilerplate and
    * degenerate repetition that length/punctuation signals miss. */
  def repetition(s: SparkSession, dir: String): DataFrame =
    TA.repetitionStats(Tables(s, dir, "documents"), "doc_id", "text")

  /** PII scrub pass: the corpus has no natural PII, so a deterministic
    * email + phone per document is injected first (same constructed-
    * fixture approach as tx_contamination and the triangle projection),
    * then redacted — the oracle replays injection AND redaction, so a
    * regex or sentinel drift fails the hash. */
  def piiRedact(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
    val withPii = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com or call +1 555 010 "),
      lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
    val emailRedacted = TA.redactEmails(withPii)
    d.select(col("doc_id"),
      TA.emailCount(withPii).as("n_emails"),
      TA.phoneCount(emailRedacted).as("n_phones"),
      md5(regexp_replace(emailRedacted, TA.PhonePattern, "<PHONE>")).as("redacted_md5"),
      length(withPii).cast("long").as("n_chars_before"),
      length(regexp_replace(emailRedacted, TA.PhonePattern, "<PHONE>")).cast("long").as("n_chars_after"))
  }

  /** Fixed-size overlapping chunks (200 chars, stride 150) — the
    * RAG/pretraining chunker; digests instead of chunk text keep the
    * driver comparator scalar. */
  def chunk(s: SparkSession, dir: String): DataFrame =
    TA.chunk(Tables(s, dir, "documents"), "doc_id", "text")

  /** Corpus-unigram negative log-likelihood per document — the perplexity
    * proxy filter. */
  def unigramLogprob(s: SparkSession, dir: String): DataFrame =
    TA.unigramLogprob(Tables(s, dir, "documents"), "doc_id", "text")

  /** Corpus-bigram negative log-likelihood (add-one smoothed) — the
    * word-order-aware perplexity proxy above the unigram one. */
  def bigramLogprob(s: SparkSession, dir: String): DataFrame =
    TA.bigramLogprob(Tables(s, dir, "documents"), "doc_id", "text")

  /** Shannon character entropy per document (nats) — the cheap gibberish
    * and repetition-wall signal. */
  def charEntropy(s: SparkSession, dir: String): DataFrame =
    TA.charEntropy(Tables(s, dir, "documents"), "doc_id", "text")

  /** Temperature resampling (alpha = 0.3, the mT5 exponent) of the
    * language mix via deterministic md5-bucket acceptance. */
  def temperatureSample(s: SparkSession, dir: String): DataFrame =
    TA.temperatureSample(Tables(s, dir, "documents"), "doc_id", "lang")

  /** DSIR importance resampling: select raw documents whose hashed-ngram
    * distribution most resembles the English subset (the target
    * exemplar), Gumbel-top-100. */
  def dsir(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    TA.dsirSelect(docs, docs.where(col("lang") === "en"), "doc_id", "text",
      buckets = DsirBuckets, topK = DsirTopK, seed = DsirSeed)
  }

  private val DsirBuckets = 64
  private val DsirTopK = 100
  private val DsirSeed = 17L

  // --- BPE tokenizer training (SURVEY §2 row 33l) ---------------------
  // Trained once per corpus into StageCache (the offline-training shape,
  // like PipelineQueries' ANN models); the three queries share the model
  // and the oracle re-derives every training round from the parquet
  // post-hoc.
  private val BpeNumMerges = 32
  private val BpeTopTokens = 50
  private def bpeModel(s: SparkSession, dir: String): graft.operators.Bpe.BpeModel = {
    val docs = Tables(s, dir, "documents")
    StageCache.getOrCompute(s, "bpe", BpeNumMerges, docs)(
      graft.operators.Bpe.train(docs, "text", BpeNumMerges))
  }

  def bpeMerges(s: SparkSession, dir: String): DataFrame =
    graft.operators.Bpe.mergeTable(s, bpeModel(s, dir))

  def bpeTokenFreq(s: SparkSession, dir: String): DataFrame =
    graft.operators.Bpe.tokenFrequencies(
      Tables(s, dir, "documents"), "text", bpeModel(s, dir), BpeTopTokens)

  def bpeDocLen(s: SparkSession, dir: String): DataFrame =
    graft.operators.Bpe.docTokenCounts(
      Tables(s, dir, "documents"), "doc_id", "text", bpeModel(s, dir))

  // --- Naive Bayes classifier (SURVEY §2 row 34j) ---------------------
  // Trained on the derandomized md5 train split (204/256 buckets),
  // applied to the complement — the language classifier a curation
  // pipeline trains on labeled data and runs over everything. Both the
  // model stats and the full train→predict→confusion round trip are
  // exact (quantized-log decimals), so the oracle re-derives the
  // trained model AND every prediction in SQL.
  private val NbTrainBuckets = 204

  private def nbSplit(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val d = Tables(s, dir, "documents").withColumn("split",
      TA.splitAssign(col("doc_id"), Seq("train" -> NbTrainBuckets, "test" -> (256 - NbTrainBuckets))))
    (d.where(col("split") === "train"), d.where(col("split") === "test"))
  }

  def nbModel(s: SparkSession, dir: String): DataFrame = {
    val (train, _) = nbSplit(s, dir)
    // decimals surface as doubles: one exact cast of the 6dp-quantized
    // value on both engines (DuckDB returns decimals as float64 anyway)
    graft.operators.TextClassifier.nbClassStats(train, "text", "lang")
      .withColumn("prior", col("prior").cast("double"))
      .withColumn("dflt_logp", col("dflt_logp").cast("double"))
  }

  def nbConfusion(s: SparkSession, dir: String): DataFrame = {
    val (train, test) = nbSplit(s, dir)
    graft.operators.TextClassifier.nbPredict(train, test, "doc_id", "text", "lang")
      .join(test.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy(col("lang"), col("pred")).agg(count(lit(1)).as("n_docs"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "tx_nb_model" -> (nbModel _),
    "tx_nb_confusion" -> (nbConfusion _),
    "tx_bpe_merges" -> (bpeMerges _),
    "tx_bpe_tokens" -> (bpeTokenFreq _),
    "tx_bpe_doclen" -> (bpeDocLen _),
    "tx_tfidf" -> (tfidf _),
    "tx_bm25" -> (bm25 _),
    "tx_feature_hash" -> (featureHash _),
    "tx_chunk_bm25" -> (chunkBm25 _),
    "tx_weighted_sample" -> (weightedSample _),
    "tx_chunk" -> (chunk _),
    "tx_unigram_logprob" -> (unigramLogprob _),
    "tx_bigram_logprob" -> (bigramLogprob _),
    "tx_char_entropy" -> (charEntropy _),
    "tx_temperature_sample" -> (temperatureSample _),
    "tx_dsir" -> (dsir _),
    "tx_repetition" -> (repetition _),
    "tx_pii_redact" -> (piiRedact _),
    "tx_split" -> (split _),
    "tx_contamination" -> (contamination _),
    "tx_contamination_fuzzy" -> (contaminationFuzzy _),
    "tx_dup_spans" -> (dupSpans _),
    "tx_balanced_sample" -> ((s, dir) => balancedSample(s, dir)),
    "tx_token_packing" -> ((s, dir) => tokenPacking(s, dir)),
    "tx_length_histogram" -> (lengthHistogram _),
    "tx_curation" -> (curation _),
    "dd_exact" -> (exactDedup _),
    "tx_token_count" -> (tokenCount _),
    "tx_quality" -> (quality _),
    "tx_corpus_stats" -> (corpusStats _))

  private val stopList = TA.EnglishStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
  private val ntokens =
    """CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '\s+')) END"""

  /** Split buckets in SQL: first md5 hex pair → 0-255 via a generated
    * lookup (DuckDB has no base-16 conv). */
  /** Shared NB-oracle prefix: md5 train/test split, train token counts,
    * vocabulary, and the per-class constants (prior, unseen-token
    * default) — ln quantized to 6dp DECIMAL exactly as the engine does. */
  private val nbBaseCte: String = {
    val hexvals = (0 until 256).map(i => f"('$i%02x', $i)").mkString(", ")
    s"""hexmap(hx, val) AS (VALUES $hexvals),
       |assigned AS (
       |  SELECT d.*, CASE WHEN m.val < $NbTrainBuckets THEN 'train' ELSE 'test' END AS split
       |  FROM documents d
       |  JOIN hexmap m ON m.hx = substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 2)),
       |rawtok AS (SELECT doc_id, lang,
       |    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
       |  FROM assigned WHERE split = 'train'),
       |cnt AS (SELECT lang AS cls, tok, COUNT(*) AS c FROM rawtok
       |  WHERE tok <> '' GROUP BY 1, 2),
       |tot AS (SELECT cls, SUM(c) AS t FROM cnt GROUP BY 1),
       |vocab AS (SELECT COUNT(DISTINCT tok) AS v FROM cnt),
       |docs AS (SELECT lang AS cls, COUNT(*) AS nd FROM assigned
       |  WHERE split = 'train' GROUP BY 1),
       |ndt AS (SELECT SUM(nd) AS ndt FROM docs),
       |classes AS (SELECT cls, nd, COALESCE(t, 0) AS t, v,
       |    CAST(round(ln(CAST(nd AS DOUBLE) / CAST(ndt AS DOUBLE)), 6) AS DECIMAL(18,6)) AS prior,
       |    CAST(round(ln(1.0 / CAST(COALESCE(t, 0) + v AS DOUBLE)), 6) AS DECIMAL(18,6)) AS dflt
       |  FROM docs LEFT JOIN tot USING (cls) CROSS JOIN vocab CROSS JOIN ndt)""".stripMargin
  }

  private val nbModelOracle: String =
    s"""WITH $nbBaseCte
       |SELECT cls AS label, CAST(nd AS BIGINT) AS n_docs, CAST(t AS BIGINT) AS n_tokens,
       |  CAST(v AS BIGINT) AS vocab, prior, dflt AS dflt_logp
       |FROM classes""".stripMargin

  private val nbConfusionOracle: String =
    s"""WITH $nbBaseCte,
       |logp AS (SELECT cls, tok,
       |    CAST(round(ln(CAST(c + 1 AS DOUBLE) / CAST(t + v AS DOUBLE)), 6) AS DECIMAL(18,6)) AS lp
       |  FROM cnt JOIN tot USING (cls) CROSS JOIN vocab),
       |tstok AS (SELECT doc_id, tok FROM (
       |    SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
       |    FROM assigned WHERE split = 'test') WHERE tok <> ''),
       |contrib AS (SELECT s.doc_id, c.cls, SUM(COALESCE(l.lp, c.dflt)) AS sc
       |  FROM tstok s CROSS JOIN classes c
       |  LEFT JOIN logp l ON l.cls = c.cls AND l.tok = s.tok
       |  GROUP BY 1, 2),
       |scores AS (SELECT a.doc_id, a.lang, c.cls, c.prior + COALESCE(ct.sc, 0) AS score
       |  FROM assigned a CROSS JOIN classes c
       |  LEFT JOIN contrib ct ON ct.doc_id = a.doc_id AND ct.cls = c.cls
       |  WHERE a.split = 'test'),
       |pred AS (SELECT doc_id, lang, cls AS pred FROM (
       |    SELECT doc_id, lang, cls,
       |      row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cls ASC) AS rn
       |    FROM scores) WHERE rn = 1)
       |SELECT lang, pred, COUNT(*) AS n_docs FROM pred GROUP BY 1, 2""".stripMargin

  private val splitOracle: String = {
    val hexvals = (0 until 256).map(i => f"('$i%02x', $i)").mkString(", ")
    s"""WITH hexmap(hx, val) AS (VALUES $hexvals),
       |assigned AS (
       |  SELECT d.*, CASE WHEN m.val < 204 THEN 'train'
       |    WHEN m.val < 230 THEN 'val' ELSE 'test' END AS split
       |  FROM documents d
       |  JOIN hexmap m ON m.hx = substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 2))
       |SELECT split, lang, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
       |    ELSE len(string_split_regex(trim(text), '\\s+')) END) AS BIGINT) AS n_tokens
       |FROM assigned GROUP BY split, lang""".stripMargin
  }

  private val contaminationOracle: String =
    """WITH corpus AS (
      |  SELECT doc_id, text, 'train' AS split FROM documents WHERE doc_id < 400
      |  UNION ALL SELECT doc_id + 10000, text, 'eval' FROM documents WHERE doc_id < 20
      |  UNION ALL SELECT doc_id + 20000, text, 'eval' FROM documents WHERE doc_id >= 450),
      |fp AS (SELECT doc_id, split,
      |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint_md5
      |  FROM corpus)
      |SELECT e.doc_id, e.fingerprint_md5
      |FROM fp e
      |WHERE e.split = 'eval' AND EXISTS (
      |  SELECT 1 FROM fp t WHERE t.split = 'train'
      |    AND t.fingerprint_md5 = e.fingerprint_md5)""".stripMargin

  /** Replays TextAnalysis.contaminationFuzzy end to end on the perturbed
    * corpus: 3-word shingles, the 64-permutation minhash over md5 shingle
    * hashes (operator's own (a,b) constants), 16 md5 band buckets, the
    * split-crossing candidate join, and the exact distinct-shingle
    * Jaccard verify at 0.5 — then per-eval-doc counts with clean docs at
    * zero. */
  private val contaminationFuzzyOracle: String = {
    val p = graft.operators.Dedup.MinHashPrime
    val slots = graft.operators.Dedup.minHashParams(64).map { case (a, b) =>
      s"list_min(list_transform(hs, h -> (h * $a + $b) % $p))"
    }.mkString(",\n    ")
    val bandSelects = (0 until 16).map { b =>
      val joined = (1 to 4).map(r => s"CAST(sig[${b * 4 + r}] AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT doc_id, split, $b AS band, ('0x' || substring(md5($joined), 1, 15))::BIGINT AS bucket FROM sig"
    }.mkString("\nUNION ALL ")
    s"""WITH corpus AS (
       |  SELECT doc_id, text, 'train' AS split FROM documents WHERE doc_id < 400
       |  UNION ALL SELECT doc_id + 10000, text || ' extra trailing tokens', 'eval'
       |    FROM documents WHERE doc_id < 20
       |  UNION ALL SELECT doc_id + 20000, text, 'eval' FROM documents WHERE doc_id >= 450),
       |toks AS (SELECT doc_id, split, string_split_regex(trim(text), '\\s+') AS w FROM corpus),
       |sh AS MATERIALIZED (SELECT doc_id, split,
       |    CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
       |         ELSE list_transform(generate_series(0, len(w) - 3),
       |                i -> array_to_string(w[i+1:i+3], ' ')) END AS shingles
       |  FROM toks),
       |hs AS (SELECT doc_id, split,
       |    list_transform(list_distinct(shingles),
       |      s -> ('0x' || substring(md5(s), 1, 15))::BIGINT % $p) AS hs
       |  FROM sh),
       |sig AS MATERIALIZED (SELECT doc_id, split, [
       |    $slots] AS sig FROM hs),
       |bands AS MATERIALIZED ($bandSelects),
       |cand AS (
       |  SELECT DISTINCT e.doc_id AS eval_id, t.doc_id AS train_id
       |  FROM bands e JOIN bands t ON e.band = t.band AND e.bucket = t.bucket
       |  WHERE e.split = 'eval' AND t.split = 'train'),
       |ver AS (
       |  SELECT c.eval_id
       |  FROM cand c
       |  JOIN sh se ON se.doc_id = c.eval_id
       |  JOIN sh st ON st.doc_id = c.train_id
       |  WHERE round(CAST(len(list_intersect(list_distinct(se.shingles), list_distinct(st.shingles))) AS DOUBLE) /
       |        CAST(len(list_distinct(list_concat(list_distinct(se.shingles), list_distinct(st.shingles)))) AS DOUBLE), 6) >= 0.5),
       |counts AS (SELECT eval_id, COUNT(*) AS n FROM ver GROUP BY eval_id)
       |SELECT s.doc_id, CAST(COALESCE(c.n, 0) AS BIGINT) AS n_near_dups,
       |  COALESCE(c.n, 0) > 0 AS contaminated
       |FROM (SELECT doc_id FROM corpus WHERE split = 'eval') s
       |LEFT JOIN counts c ON c.eval_id = s.doc_id""".stripMargin
  }

  /** Replays duplicatedSpans: per-doc DISTINCT 10-token windows, 60-bit
    * md5 window hashes, the >=2-docs duplicate-hash set, per-doc counts.
    * The boilerplate injection is replayed in the corpus CTE. */
  private val dupSpansOracle: String =
    """WITH corpus AS (
      |  SELECT doc_id, CASE WHEN doc_id < 100
      |    THEN 'this document is provided as is without any warranty of any kind whatsoever ' || text
      |    ELSE text END AS text
      |  FROM documents),
      |toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM corpus),
      |sh AS (SELECT doc_id,
      |    list_distinct(CASE WHEN len(w) < 10 THEN [array_to_string(w, ' ')]
      |         ELSE list_transform(generate_series(0, len(w) - 10),
      |                i -> array_to_string(w[i+1:i+10], ' ')) END) AS shingles
      |  FROM toks),
      |win AS (SELECT doc_id,
      |    ('0x' || substring(md5(unnest(shingles)), 1, 15))::BIGINT AS h
      |  FROM sh),
      |dup AS (SELECT h FROM win GROUP BY h HAVING COUNT(*) >= 2)
      |SELECT w.doc_id,
      |  COUNT(*) AS n_windows,
      |  CAST(SUM(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
      |  round(CAST(SUM(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS dup_fraction
      |FROM win w LEFT JOIN dup d ON d.h = w.h
      |GROUP BY w.doc_id""".stripMargin

  private val repetitionOracle: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
      |base AS (
      |  SELECT doc_id, len(t) AS n_tokens, len(list_distinct(t)) AS n_distinct_tokens, t
      |  FROM toks),
      |bi AS (
      |  SELECT doc_id,
      |    unnest(list_transform(generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1])) AS bigram
      |  FROM base),
      |cnt AS (SELECT doc_id, bigram, count(*) AS n FROM bi GROUP BY 1, 2),
      |top AS (SELECT doc_id, bigram AS top_bigram, n AS top_bigram_n FROM (
      |  SELECT doc_id, bigram, n,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, bigram ASC) AS rn
      |  FROM cnt) WHERE rn = 1)
      |SELECT b.doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(n_distinct_tokens AS BIGINT) AS n_distinct_tokens,
      |  round(CASE WHEN n_tokens = 0 THEN 0.0
      |    ELSE CAST(n_tokens - n_distinct_tokens AS DOUBLE) / n_tokens END, 6) AS dup_token_frac,
      |  top.top_bigram,
      |  CAST(COALESCE(top.top_bigram_n, 0) AS BIGINT) AS top_bigram_n,
      |  round(CASE WHEN n_tokens <= 1 THEN 0.0
      |    ELSE CAST(COALESCE(top.top_bigram_n, 0) AS DOUBLE) / (n_tokens - 1) END, 6) AS top_bigram_frac
      |FROM base b LEFT JOIN top USING (doc_id)""".stripMargin

  private val piiOracle: String =
    """WITH pii AS (
      |  SELECT doc_id,
      |    text || ' contact user' || CAST(doc_id AS VARCHAR)
      |      || '@example.com or call +1 555 010 '
      |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS s
      |  FROM documents),
      |er AS (
      |  SELECT doc_id, s,
      |    regexp_replace(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS e
      |  FROM pii)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
      |  CAST(len(regexp_extract_all(e, '\+?[0-9][-0-9 ()]{6,}[0-9]')) AS BIGINT) AS n_phones,
      |  md5(regexp_replace(e, '\+?[0-9][-0-9 ()]{6,}[0-9]', '<PHONE>', 'g')) AS redacted_md5,
      |  CAST(length(s) AS BIGINT) AS n_chars_before,
      |  CAST(length(regexp_replace(e, '\+?[0-9][-0-9 ()]{6,}[0-9]', '<PHONE>', 'g')) AS BIGINT) AS n_chars_after
      |FROM er""".stripMargin

  private val chunkOracle: String =
    """SELECT doc_id, CAST((s - 1) // 150 AS BIGINT) AS chunk_id,
      |  CAST(length(substr(text, s, 200)) AS BIGINT) AS n_chars,
      |  md5(substr(text, s, 200)) AS chunk_md5
      |FROM (SELECT doc_id, text, unnest(generate_series(1, length(text), 150)) AS s
      |      FROM documents WHERE length(text) > 0)""".stripMargin

  /** Bigram replay: 1-based DuckDB array indexing (a[i-1], a[i]) mirrors
    * Spark's 0-based (a[i-2], a[i-1]); same tokenizer, same add-one
    * smoothing, same 6dp-quantized DECIMAL sum. */
  private val bigramLogprobOracle: String =
    """WITH arrs AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS a FROM documents),
      |bi AS (SELECT doc_id, a[i-1] AS w1, a[i] AS w2 FROM (
      |  SELECT doc_id, a, unnest(generate_series(2, len(a))) AS i
      |  FROM arrs WHERE len(a) >= 2)),
      |toks AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents),
      |c1 AS (SELECT tok AS w1, COUNT(*) AS n1 FROM toks GROUP BY tok),
      |c2 AS (SELECT w1, w2, COUNT(*) AS n2 FROM bi GROUP BY w1, w2),
      |vs AS (SELECT COUNT(DISTINCT tok) AS v FROM toks),
      |scored AS (SELECT doc_id,
      |    CAST(round(-ln(CAST(n2 + 1 AS DOUBLE) / CAST(n1 + vs.v AS DOUBLE)), 6) AS DECIMAL(18,6)) AS t
      |  FROM bi JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vs)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |  CAST(SUM(t) AS DOUBLE) / COUNT(*) AS avg_neg_logprob
      |FROM scored GROUP BY doc_id""".stripMargin

  /** Character entropy replay: position explode + substring (code-point
    * semantics agree across engines), per-class 6dp terms, DECIMAL sum. */
  private val charEntropyOracle: String =
    """WITH pos AS (SELECT doc_id, text, unnest(generate_series(1, length(text))) AS i
      |  FROM documents WHERE length(text) > 0),
      |counts AS (SELECT doc_id, substring(text, i, 1) AS ch, COUNT(*) AS n
      |  FROM pos GROUP BY 1, 2),
      |tot AS (SELECT doc_id, SUM(n) AS len FROM counts GROUP BY 1),
      |terms AS (SELECT c.doc_id,
      |    CAST(round((CAST(n AS DOUBLE) / CAST(len AS DOUBLE))
      |      * ln(CAST(n AS DOUBLE) / CAST(len AS DOUBLE)), 6) AS DECIMAL(18,6)) AS t
      |  FROM counts c JOIN tot USING (doc_id)),
      |ent AS (SELECT doc_id, CAST(CAST(-SUM(t) AS VARCHAR) AS DOUBLE) AS char_entropy
      |  FROM terms GROUP BY doc_id)
      |SELECT d.doc_id, COALESCE(e.char_entropy, 0.0) AS char_entropy
      |FROM documents d LEFT JOIN ent e USING (doc_id)""".stripMargin

  private val unigramLogprobOracle: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents),
      |freq AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
      |tot AS (SELECT SUM(n) AS total FROM freq),
      |scored AS (
      |  SELECT doc_id,
      |    CAST(round(-ln(CAST(n AS DOUBLE) / CAST(total AS DOUBLE)), 6) AS DECIMAL(18,6)) AS v
      |  FROM toks JOIN freq USING (tok) CROSS JOIN tot)
      |SELECT doc_id, count(*) AS n_tokens,
      |  CAST(SUM(v) AS DOUBLE) / count(*) AS avg_neg_logprob
      |FROM scored GROUP BY doc_id""".stripMargin

  /** Mirrors TextAnalysis.temperatureSample step for step; the md5 bucket
    * reuses the generated hexmap (DuckDB has no base-16 conv). */
  private val temperatureOracle: String = {
    val hexvals = (0 until 256).map(i => f"('$i%02x', $i)").mkString(", ")
    s"""WITH hexmap(hx, val) AS (VALUES $hexvals),
       |counts AS (SELECT lang, count(*) AS n_in FROM documents GROUP BY lang),
       |t1 AS (SELECT lang, n_in,
       |  CAST(n_in AS DOUBLE) / CAST(SUM(n_in) OVER () AS DOUBLE) AS p FROM counts),
       |t2 AS (SELECT lang, n_in, p,
       |  CAST(round(pow(p, 0.3), 6) AS DECIMAL(18,6)) AS q_raw FROM t1),
       |t3 AS (SELECT lang, n_in, p,
       |  CAST(q_raw AS DOUBLE) / CAST(SUM(q_raw) OVER () AS DOUBLE) AS q FROM t2),
       |t4 AS (SELECT lang, n_in, q / p AS ratio FROM t3),
       |t5 AS (SELECT lang, n_in,
       |  CAST(round(ratio / MAX(ratio) OVER () * 256) AS BIGINT) AS accept_thr FROM t4),
       |s AS (SELECT d.lang, count(*) AS n_sampled
       |  FROM documents d
       |  JOIN hexmap m ON m.hx = substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 2)
       |  JOIN t5 ON t5.lang = d.lang
       |  WHERE m.val < t5.accept_thr GROUP BY d.lang)
       |SELECT t5.lang, CAST(t5.n_in AS BIGINT) AS n_in, t5.accept_thr,
       |  CAST(COALESCE(s.n_sampled, 0) AS BIGINT) AS n_sampled
       |FROM t5 LEFT JOIN s ON s.lang = t5.lang""".stripMargin
  }

  /** DSIR oracle: the hashed unigram∪bigram featurization, both add-one
    * smoothed bucket models, the quantized log-ratio table over
    * range(B), the exact decimal per-doc weight sum, and the Gumbel key
    * — op for op the TextAnalysis.dsirSelect pipeline (`%` on the
    * nonnegative md5 prefix ≡ Spark's, 1152921504606846976 = 2^60,
    * pow(2,-40) the exact dyadic clamp). */
  private val dsirOracle: String = {
    val b = DsirBuckets
    s"""WITH tk AS (
       |  SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\\s+') AS t
       |  FROM documents),
       |f AS (
       |  SELECT doc_id, lang, unnest(list_concat(t,
       |    list_transform(generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1]))) AS f
       |  FROM tk),
       |fb AS MATERIALIZED (
       |  SELECT doc_id, lang, ('0x' || substring(md5(f), 1, 15))::BIGINT % $b AS bucket
       |  FROM f WHERE f <> ''),
       |rawm AS (SELECT bucket, count(*) AS nr FROM fb GROUP BY 1),
       |tgtm AS (SELECT bucket, count(*) AS nt FROM fb WHERE lang = 'en' GROUP BY 1),
       |tots AS (SELECT (SELECT count(*) FROM fb) AS tr,
       |  (SELECT count(*) FROM fb WHERE lang = 'en') AS tt),
       |lb AS (
       |  SELECT g.range AS bucket,
       |    CAST(round(ln(CAST(COALESCE(nt, 0) + 1 AS DOUBLE) / CAST(tt + $b AS DOUBLE))
       |      - ln(CAST(COALESCE(nr, 0) + 1 AS DOUBLE) / CAST(tr + $b AS DOUBLE)), 6)
       |      AS DECIMAL(18,6)) AS lb
       |  FROM range($b) g LEFT JOIN rawm ON rawm.bucket = g.range
       |  LEFT JOIN tgtm ON tgtm.bucket = g.range CROSS JOIN tots),
       |docf AS (SELECT doc_id, bucket, count(*) AS c FROM fb GROUP BY 1, 2),
       |sc AS (
       |  SELECT doc_id, SUM(c) AS n_feats, SUM(c * lb.lb) AS logw
       |  FROM docf JOIN lb USING (bucket) GROUP BY 1),
       |keyed AS (
       |  SELECT doc_id, n_feats, logw,
       |    CAST(logw + CAST(round(-ln(-ln(LEAST(
       |      (('0x' || substring(md5('${DsirSeed}:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT + 1)::DOUBLE
       |        / 1152921504606846976.0, 1.0 - pow(2.0, -40)))), 6) AS DECIMAL(18,6))
       |      AS DOUBLE) + 0.0 AS sample_key
       |  FROM sc),
       |ranked AS (
       |  SELECT doc_id, n_feats, logw, sample_key,
       |    row_number() OVER (ORDER BY sample_key DESC, doc_id) AS rank
       |  FROM keyed)
       |SELECT doc_id, CAST(n_feats AS BIGINT) AS n_feats,
       |  CAST(logw AS DOUBLE) AS log_weight, sample_key, CAST(rank AS BIGINT) AS rank
       |FROM ranked WHERE rank <= $DsirTopK""".stripMargin
  }

  // --- BPE oracles (generated post-training, the ivfOracle pattern) ---

  /** The shared word-table + double-delimiter-encoding CTEs (see
    * Bpe.scala's object doc for why `replace` on this encoding IS the BPE
    * merge pass in both engines). */
  private val bpeBaseCtes: String =
    """w AS (SELECT w, count(*) AS cnt FROM (
      |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+|[0-9]+')) AS w
      |    FROM documents) GROUP BY 1),
      |e AS MATERIALIZED (
      |  SELECT '||' || regexp_replace(w, '(.)', '\1||', 'g') || '>||' AS enc, cnt
      |  FROM w)""".stripMargin

  /** Nested literal-replace chain applying `merges` to SQL expression
    * `inner` — identical semantics to Bpe.applyMerges's Column fold. */
  private def bpeChainSql(inner: String, merges: Seq[graft.operators.Bpe.Merge]): String =
    merges.foldLeft(inner)((s, m) =>
      s"replace($s, '|${m.lhs}||${m.rhs}|', '|${m.merged}|')")

  /** tx_bpe_merges oracle: one CTE per training round k, each re-deriving
    * the round's argmax pair from the corpus with merges 1..k-1 applied —
    * the oracle VERIFIES training round by round, it does not merely
    * replay the learned table. */
  private def bpeMergesOracle(model: graft.operators.Bpe.BpeModel): String = {
    val rounds = model.merges.map { m =>
      val k = m.rank
      val chain = bpeChainSql("enc", model.merges.take(k - 1))
      s"""r$k AS (
         |  SELECT CAST($k AS INT) AS rank,
         |    string_split(pair, ' ')[1] AS lhs, string_split(pair, ' ')[2] AS rhs,
         |    replace(pair, ' ', '') AS merged, CAST(c AS BIGINT) AS pair_count
         |  FROM (
         |    SELECT pair, SUM(cnt) AS c FROM (
         |      SELECT cnt, unnest(list_transform(generate_series(1, len(t) - 1),
         |        i -> t[i] || ' ' || t[i+1])) AS pair
         |      FROM (SELECT cnt, list_filter(string_split($chain, '||'),
         |        x -> x <> '') AS t FROM e))
         |    GROUP BY pair ORDER BY c DESC, pair LIMIT 1))""".stripMargin
    }
    val union = model.merges.map(m => s"SELECT * FROM r${m.rank}").mkString("\nUNION ALL ")
    s"WITH $bpeBaseCtes,\n${rounds.mkString(",\n")}\n$union"
  }

  private def bpeTokensOracle(model: graft.operators.Bpe.BpeModel): String = {
    val chain = bpeChainSql("enc", model.merges)
    s"""WITH $bpeBaseCtes,
       |tok AS (SELECT cnt, unnest(list_filter(string_split($chain, '||'),
       |    x -> x <> '')) AS token FROM e)
       |SELECT token, CAST(SUM(cnt) AS BIGINT) AS n_occ FROM tok
       |GROUP BY token ORDER BY n_occ DESC, token LIMIT $BpeTopTokens""".stripMargin
  }

  private def bpeDocLenOracle(model: graft.operators.Bpe.BpeModel): String = {
    val chain = bpeChainSql(
      "'||' || regexp_replace(w, '(.)', '\\1||', 'g') || '>||'", model.merges)
    s"""WITH per AS (
       |  SELECT doc_id, SUM(len(list_filter(string_split($chain, '||'),
       |    x -> x <> ''))) AS n
       |  FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+|[0-9]+')) AS w
       |        FROM documents)
       |  GROUP BY doc_id)
       |SELECT d.doc_id, CAST(COALESCE(p.n, 0) AS BIGINT) AS n_tokens
       |FROM documents d LEFT JOIN per p USING (doc_id)""".stripMargin
  }

  /** Static oracles plus — once [[StageCache.only]] finds exactly one
    * trained BPE model (the Verify shape) — the three BPE replays.
    * Several corpora would make the right model ambiguous, so the keys
    * are withheld (driver falls back to rows-only) rather than risk
    * replaying the wrong merges. */
  def oracles: Map[String, String] =
    staticOracles ++ StageCache.only[graft.operators.Bpe.BpeModel]("bpe", BpeNumMerges)
      .toSeq.flatMap(m => Seq(
        "tx_bpe_merges" -> bpeMergesOracle(m),
        "tx_bpe_tokens" -> bpeTokensOracle(m),
        "tx_bpe_doclen" -> bpeDocLenOracle(m)))

  private val staticOracles: Map[String, String] = Map(
    "tx_dsir" -> dsirOracle,
    "tx_weighted_sample" ->
      """WITH keyed AS (
        |  SELECT doc_id, n_chars,
        |    round(ln((('0x' || substring(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT + 1)::DOUBLE
        |        / 1152921504606846976.0) / n_chars, 6) + 0.0 AS sample_key
        |  FROM documents WHERE n_chars > 0),
        |ranked AS (
        |  SELECT doc_id, n_chars, sample_key,
        |    row_number() OVER (ORDER BY sample_key DESC, doc_id) AS rank
        |  FROM keyed)
        |SELECT doc_id, n_chars, sample_key, CAST(rank AS BIGINT) AS rank
        |FROM ranked WHERE rank <= 50""".stripMargin,
    "tx_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks WHERE term <> '' GROUP BY doc_id, term),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, term,
        |    round(tf * ln((1.0 + n_docs) / (1.0 + df)), 6) AS score
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, term, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
        |  FROM scored)
        |SELECT doc_id, term, score, CAST(rank AS BIGINT) AS rank
        |FROM ranked WHERE rank <= 3""".stripMargin,
    "tx_feature_hash" -> featureHashOracle(FhDims),
    "tx_chunk_bm25" -> chunkBm25Oracle,
    "tx_bm25" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
         |  FROM documents),
         |tok AS (SELECT doc_id, term FROM toks WHERE term <> ''),
         |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
         |stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl FROM dl),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
         |       WHERE term IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")})
         |       GROUP BY doc_id, term),
         |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
         |scored AS (
         |  SELECT doc_id,
         |    CAST(round((ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * (tf * ${Bm25K1 + 1.0}))
         |      / (tf + $Bm25K1 * (${1.0 - Bm25B} + $Bm25B * dl / (total_dl / n_docs))), 6)
         |      AS DECIMAL(18,6)) AS score_t
         |  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats),
         |totals AS (
         |  SELECT doc_id, SUM(score_t) AS bm25_dec, COUNT(*) AS n_matched
         |  FROM scored GROUP BY doc_id),
         |ranked AS (
         |  SELECT doc_id, bm25_dec, n_matched,
         |    row_number() OVER (ORDER BY bm25_dec DESC, doc_id) AS rn
         |  FROM totals)
         |SELECT doc_id, CAST(bm25_dec AS DOUBLE) AS bm25,
         |       CAST(n_matched AS BIGINT) AS n_matched
         |FROM ranked WHERE rn <= 50""".stripMargin,
    "tx_nb_model" -> nbModelOracle,
    "tx_nb_confusion" -> nbConfusionOracle,
    "tx_chunk" -> chunkOracle,
    "tx_unigram_logprob" -> unigramLogprobOracle,
    "tx_bigram_logprob" -> bigramLogprobOracle,
    "tx_char_entropy" -> charEntropyOracle,
    "tx_temperature_sample" -> temperatureOracle,
    "tx_repetition" -> repetitionOracle,
    "tx_pii_redact" -> piiOracle,
    "tx_split" -> splitOracle,
    "tx_contamination" -> contaminationOracle,
    "tx_contamination_fuzzy" -> contaminationFuzzyOracle,
    "tx_dup_spans" -> dupSpansOracle,
    "tx_balanced_sample" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn <= 50""".stripMargin,
    "tx_token_packing" ->
      s"""WITH t AS (
         |  SELECT lang, doc_id, CAST($ntokens AS BIGINT) AS n_tokens FROM documents),
         |b AS (
         |  SELECT lang, n_tokens,
         |    CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) / 512) AS BIGINT) AS bin
         |  FROM t)
         |SELECT lang, bin, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
         |FROM b GROUP BY lang, bin""".stripMargin,
    "tx_length_histogram" ->
      """SELECT CAST(FLOOR(n_chars / 100) * 100 AS BIGINT) AS length_bucket,
        |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1""".stripMargin,
    "tx_curation" ->
      s"""WITH f AS (
         |  SELECT doc_id, lang, length(text) AS n_chars,
         |    length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
         |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
         |    len(list_filter(string_split_regex(trim(text), '\\s+'), x -> list_contains($stopList, x))) AS n_stop,
         |    $ntokens AS n_tokens
         |  FROM documents
         |  WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY sha256(text))),
         |r AS (
         |  SELECT doc_id, lang, n_tokens,
         |    round((least(CAST(n_chars AS DOUBLE) / 200.0, 1.0) * 0.4
         |      + least(round(CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) END, 6) * 4.0, 1.0) * 0.3
         |      + (1.0 - least(round(CASE WHEN n_chars = 0 THEN 0.0 ELSE CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) END, 6) * 5.0, 1.0)) * 0.15
         |      + (1.0 - least(round(CASE WHEN n_chars = 0 THEN 0.0 ELSE CAST(n_digit AS DOUBLE) / CAST(n_chars AS DOUBLE) END, 6) * 5.0, 1.0)) * 0.15), 6) AS quality
         |  FROM f)
         |SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
         |FROM r WHERE quality >= 0.5 GROUP BY lang""".stripMargin,
    "dd_exact" ->
      """SELECT sha256(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY sha256(text)""".stripMargin,
    "tx_token_count" ->
      s"""SELECT doc_id, $ntokens AS n_tokens,
         |  CASE WHEN length(trim(text)) = 0 THEN 0
         |    ELSE len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) END AS n_bpeish_tokens,
         |  length(text) AS n_chars
         |FROM documents""".stripMargin,
    "tx_quality" ->
      s"""WITH f AS (
         |  SELECT doc_id, length(text) AS n_chars,
         |    length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
         |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
         |    length(text) - length(regexp_replace(text, '\\s', '', 'g')) AS n_ws,
         |    len(list_filter(string_split_regex(trim(text), '\\s+'), x -> list_contains($stopList, x))) AS n_stop,
         |    $ntokens AS n_tokens
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, n_chars,
         |    round(CASE WHEN n_chars = 0 THEN 0.0 ELSE CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) END, 6) AS punct_ratio,
         |    round(CASE WHEN n_chars = 0 THEN 0.0 ELSE CAST(n_digit AS DOUBLE) / CAST(n_chars AS DOUBLE) END, 6) AS digit_ratio,
         |    round(CASE WHEN n_chars = 0 THEN 0.0 ELSE CAST(n_ws AS DOUBLE) / CAST(n_chars AS DOUBLE) END, 6) AS ws_ratio,
         |    round(CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) END, 6) AS stop_ratio
         |  FROM f)
         |SELECT doc_id, punct_ratio, digit_ratio, ws_ratio, stop_ratio,
         |  round((least(CAST(n_chars AS DOUBLE) / 200.0, 1.0) * 0.4
         |    + least(stop_ratio * 4.0, 1.0) * 0.3
         |    + (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.15
         |    + (1.0 - least(digit_ratio * 5.0, 1.0)) * 0.15), 6) AS quality
         |FROM r""".stripMargin,
    "tx_corpus_stats" ->
      s"""SELECT lang, source, count(*) AS n_docs,
         |  CAST(SUM($ntokens) AS BIGINT) AS total_tokens,
         |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         |  COUNT(DISTINCT sha256(text)) AS n_distinct_texts
         |FROM documents GROUP BY lang, source""".stripMargin)
}
