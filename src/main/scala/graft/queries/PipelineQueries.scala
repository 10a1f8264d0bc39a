package graft.queries

import graft.Tables
import graft.cache.StageCache
import graft.operators.{Multimodal, Similarity, TextAnalysis => TA}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data-pipeline queries (SURVEY §2.6–§2.9): near-dup sketches,
  * similarity search, language ID, fingerprinting, multimodal columns.
  * Everything here is oracle-checked — the sketch queries via their
  * engine-portable md5 variants (simHashMd5, minHashBandsMd5), ANN via
  * literal hyperplanes / list_dot_product. ss_ivf_topk's centroids are
  * data-dependent, so its oracle is generated AFTER training (the model
  * trained while the query ran embeds as literals — see [[ivfOracle]]).
  */
object PipelineQueries {

  private val Dim = 64 // embedding dimensionality of the test corpus

  // Trained models and encoded code tables live in [[StageCache]] under
  // (op, params, corpus fingerprint) — it stands in for the persisted
  // model store a production deployment reads. The oracles look the
  // models up by the same (op, params).

  /** (cells, seed, sample rows) of the ANN coarse quantizer shared by
    * ss_ivf_topk, ss_ivf_index_fold and ss_ivfpq_topk: 4096 samples is
    * ~256 points/cell for 16 cells, ample for a coarse partitioner. */
  private val IvfParams = (16, 42L, 4096)

  /** SemDeDup cluster model params — trained separately (own seed) so the
    * dedup clustering and the ANN quantizer stay independently tunable,
    * exactly as in a real pipeline. */
  private val SdParams = (16, 13L, 4096)
  private val SdThreshold = 0.3

  private def trainIvf(e: DataFrame, p: (Int, Long, Int)): Similarity.IvfModel =
    StageCache.getOrCompute(e.sparkSession, "trainIvf", p, e)(
      Similarity.trainIvf(e, "embedding", nCells = p._1, seed = p._2, sampleRows = p._3))

  /** Batch-slice count for the ss_ivf_index_fold generation fold. */
  private val IvfFoldGenerations = 3L

  private val PqM = 8
  private val PqK = 16
  private val PqParams = (PqM, PqK, 42L, 4096)

  private def trainPq(e: DataFrame): Similarity.PqModel =
    StageCache.getOrCompute(e.sparkSession, "trainPq", PqParams, e)(
      Similarity.trainPq(e, "embedding", m = PqM, nCentroids = PqK,
        seed = PqParams._3, sampleRows = PqParams._4))

  /** PQ/ADC approximate top-5: the corpus encoded to 8 codes/vector
    * (8× compression), queries scored by table lookup only. Codebooks
    * trained once per corpus on the deterministic content-hash sample;
    * the oracle embeds them as literals post-training (the ss_ivf_topk
    * technique). */
  def pqTopKQuery(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val model = trainPq(e)
    // encode ONCE per corpus and reuse — the at-rest compressed index a
    // production deployment stores (repeated runs re-plan only the tiny
    // ADC query, not the 128-expression encode)
    val codes = StageCache.getOrCompute(s, "pqEncode", PqParams, e)(
      Similarity.pqEncode(e, "vec_id", "embedding", model).localCheckpoint(true))
    Similarity.pqTopKEncoded(codes, e.where(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, model)
  }

  private val PcaK = 4

  /** PCA model (Pca.train — one zero-shuffle exact moment pass + driver
    * Jacobi; the model is a pure function of corpus content, so the
    * oracle can embed its components as literals). */
  private def pcaModel(s: SparkSession, dir: String): graft.operators.Pca.PcaModel = {
    val e = Tables(s, dir, "embeddings")
    StageCache.getOrCompute(s, "pca", PcaK, e)(graft.operators.Pca.train(e, "embedding", k = PcaK))
  }

  /** Mean-centered projection of the whole corpus onto the top-4
    * principal axes — exact pico-grid BIGINTs (see Pca.scala scaladoc). */
  def pcaProject(s: SparkSession, dir: String): DataFrame =
    graft.operators.Pca.project(Tables(s, dir, "embeddings"), "vec_id",
      "embedding", pcaModel(s, dir))

  /** Per-component projected sum of squares — the distributed
    * diagonalization audit; DECIMAL rendered as STRING for cross-engine
    * hashing (a 10²⁴-magnitude integer survives no float64 round trip). */
  def pcaVariance(s: SparkSession, dir: String): DataFrame =
    graft.operators.Pca.componentVariance(Tables(s, dir, "embeddings"),
      "vec_id", "embedding", pcaModel(s, dir))
      .select(col("component").cast("long").as("component"), col("n"),
        col("ss_pico2").cast("string").as("ss_pico2"))

  /** Hybrid retrieval: BM25 over the query docs' own terms ⊕ dense cosine
    * over their embeddings (doc_id ≡ vec_id in this corpus), fused by
    * reciprocal rank. Top-10 fused per query; absent-in-list ranks → 0. */
  def hybridRrf(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val emb = Tables(s, dir, "embeddings")
    val sparse = graft.operators.HybridRetrieval.bm25PerQuery(
      docs, "doc_id", "text", docs.where(col("doc_id") < 10), "doc_id", "text",
      topN = 20).select("query_id", "doc_id", "rank")
    val dense = Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 10),
      "vec_id", "embedding", k = 20)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    graft.operators.HybridRetrieval
      .rrfFuse(Seq("sparse" -> sparse, "dense" -> dense), "query_id", "doc_id", "rank")
      .where(col("fused_rank") <= 10)
      .select(col("query_id"), col("doc_id"),
        col("rrf_dec").cast("double").as("rrf"),
        coalesce(col("sparse_rank"), lit(0L)).as("sparse_rank"),
        coalesce(col("dense_rank"), lit(0L)).as("dense_rank"),
        col("fused_rank"))
  }

  private val KmK = 8
  private val KmIters = 4
  private val KmPerCell = 10

  /** Distributed k-means model (KMeans.train — full-corpus Lloyd, exact
    * integer grid, zero shuffles per round). */
  private def kmModel(s: SparkSession, dir: String): graft.operators.KMeans.KMeansModel = {
    val e = Tables(s, dir, "embeddings")
    StageCache.getOrCompute(s, "kmeans", (KmK, KmIters), e)(
      graft.operators.KMeans.train(e, "vec_id", "embedding", k = KmK, iters = KmIters))
  }

  /** Per-round k-means training audit: cluster sizes + exact integer
    * inertia for each Lloyd round — training itself, oracle-checked. */
  def kmeansRounds(s: SparkSession, dir: String): DataFrame =
    graft.operators.KMeans.roundStats(Tables(s, dir, "embeddings"),
      "vec_id", "embedding", kmModel(s, dir))

  /** Cluster-balanced curation sample: 10 vectors per final cluster. */
  def kmeansSample(s: SparkSession, dir: String): DataFrame =
    graft.operators.KMeans.balancedSample(Tables(s, dir, "embeddings"),
      "vec_id", "embedding", kmModel(s, dir), perCell = KmPerCell)

  /** IVFADC approximate top-5 (Jégou 2011's deployed system): the corpus
    * encoded ONCE to (cell, 8 PQ codes) — the at-rest index a 100 TB
    * deployment stores partitioned by cell — and each query ADC-scores
    * only its 4 probed cells instead of the whole code table
    * (ss_pq_topk's corpus-linear scan). Reuses the per-corpus trained
    * IVF coarse quantizer and PQ codebooks; oracle replays both model
    * literals. */
  def ivfPqTopKQuery(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val ivf = trainIvf(e, IvfParams)
    val pq = trainPq(e)
    val codes = StageCache.getOrCompute(s, "ivfPqEncode", (IvfParams, PqParams), e)(
      Similarity.ivfPqEncode(e, "vec_id", "embedding", ivf, pq).localCheckpoint(true))
    Similarity.ivfPqTopKEncoded(codes, e.where(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, ivf, pq, nProbe = 4)
  }

  /** IVFADC oracle: the [[ivfOracle]] cell-assignment CTEs (trained IVF
    * centroid literals, ties to the lower cell) composed with the
    * [[pqOracle]] pico-grid code/LUT CTEs — scored pairs are restricted
    * to each query's nProbe nearest cells, everything else term-for-term
    * identical to ss_pq_topk's replay. */
  private[graft] def ivfPqOracle(ivf: Similarity.IvfModel, pq: Similarity.PqModel,
      nProbe: Int, k: Int): String = {
    val cellSelects = ivfCellSelects(ivf, "vec_id, v")
    val (dCols, codeCols, pCols, approxPico) = pqTerms(pq)
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cd AS MATERIALIZED (
       |$cellSelects
       |),
       |corpus_cell AS (
       |  SELECT vec_id, v, cell
       |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM cd)
       |  WHERE rn = 1),
       |cdist AS (SELECT vec_id AS neighbor_id, cell,
       |    $dCols
       |  FROM corpus_cell),
       |codes AS (SELECT neighbor_id, cell, $codeCols FROM cdist),
       |probe AS (
       |  SELECT vec_id AS query_id, v AS qv, cell
       |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM cd WHERE vec_id < 10)
       |  WHERE rn <= $nProbe),
       |qp AS (SELECT query_id, cell,
       |    $pCols
       |  FROM probe),
       |scored AS (
       |  SELECT query_id, neighbor_id, $approxPico AS approx_pico
       |  FROM qp JOIN codes USING (cell) WHERE query_id <> neighbor_id),
       |ranked AS (SELECT query_id, neighbor_id, approx_pico,
       |  row_number() OVER (PARTITION BY query_id ORDER BY approx_pico DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id,
       |  CAST(approx_pico AS DOUBLE) / 1e12 AS approx_dot, CAST(rank AS BIGINT) AS rank
       |FROM ranked WHERE rank <= $k""".stripMargin
  }

  /** The PQ oracle terms as SQL select lists: per-subspace squared
    * distances to every codeword (`d$j`), the argmin codes (`code_$j`),
    * the query-side partial dot products (`p_$j`) and the ADC score —
    * pico-grid integers, mirroring pqCodeCols/pqTopK term for term. */
  private def pqTerms(model: Similarity.PqModel): (String, String, String, String) = {
    val sub = model.subDim
    def terms(j: Int)(term: (Double, Int) => String): String = model.codebooks(j)
      .map(_.zipWithIndex.map { case (cv, i) => term(cv, j * sub + i + 1) }.mkString(" + "))
      .mkString("[", ",\n      ", "]")
    def distList(j: Int): String = terms(j) { (cv, i) =>
      val x = s"(v[$i] - $cv)"
      s"CAST(floor($x * $x * 1e12 + 0.5) AS BIGINT)"
    }
    def partialList(j: Int): String = terms(j) { (cv, i) =>
      s"CAST(floor(qv[$i] * ${cv * 1e12} + 0.5) AS BIGINT)"
    }
    val js = 0 until model.m
    (js.map(j => s"${distList(j)} AS d$j").mkString(",\n    "),
      js.map(j => s"list_position(d$j, list_min(d$j)) AS code_$j").mkString(", "),
      js.map(j => s"${partialList(j)} AS p_$j").mkString(",\n    "),
      js.map(j => s"list_extract(p_$j, code_$j)").mkString(" + "))
  }

  private[graft] def pqOracle(model: Similarity.PqModel, k: Int): String = {
    val (dCols, codeCols, pCols, approxPico) = pqTerms(model)
    s"""WITH c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cd AS (SELECT neighbor_id,
       |    $dCols
       |  FROM c),
       |codes AS (SELECT neighbor_id, $codeCols FROM cd),
       |q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
       |  FROM embeddings WHERE vec_id < 10),
       |qp AS (SELECT query_id,
       |    $pCols
       |  FROM q),
       |scored AS (
       |  SELECT query_id, neighbor_id, $approxPico AS approx_pico
       |  FROM qp, codes WHERE query_id <> neighbor_id),
       |ranked AS (SELECT query_id, neighbor_id, approx_pico,
       |  row_number() OVER (PARTITION BY query_id ORDER BY approx_pico DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id,
       |  CAST(approx_pico AS DOUBLE) / 1e12 AS approx_dot, CAST(rank AS BIGINT) AS rank
       |FROM ranked WHERE rank <= $k""".stripMargin
  }

  /** SemDeDup semantic dedup over the embeddings corpus: k-means cluster
    * assignment + within-cluster cosine pruning (keep the lowest id of
    * every duplicate pair). Oracle: trained-centroid literals, the
    * ss_ivf_topk technique — emitted after training. */
  def semanticDedup(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val model = trainIvf(e, SdParams)
    Similarity.semanticDedup(e, "vec_id", "embedding", model, threshold = SdThreshold)
  }

  def cosineTopK(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    Similarity.bruteForceTopK(e, e.where(col("vec_id") < 10), "vec_id", "embedding", k = 5)
  }

  /** kNN classification over the embedding corpus — the
    * label-propagation form of a trained quality/topic classifier: each
    * held-out vector takes the majority `label` of its 5 nearest
    * labeled neighbors (vote ties → smaller label; the top-k boundary
    * itself ties on neighbor_id, both exact). Composes the proven
    * cosine top-k with one vote aggregation — candidates cross the wire
    * as (query, neighbor) ids, labels attach by an id join, and at
    * corpus scale the top-k leg swaps to the IVF index unchanged. */
  def knnClassify(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables(s, dir, "embeddings")
    val test = e.where(col("vec_id") < 10)
    val train = e.where(col("vec_id") >= 10)
    val topk = Similarity.bruteForceTopK(train, test, "vec_id", "embedding", k = 5)
    val votes = topk
      .join(train.select(col("vec_id").as("neighbor_id"), col("label")), Seq("neighbor_id"))
      .groupBy(col("query_id"), col("label")).agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("label").asc)
    votes.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .join(test.select(col("vec_id").as("query_id"), col("label").as("true_label")),
        Seq("query_id"))
      .select(col("query_id"), col("true_label"),
        col("label").as("pred_label"), col("votes"))
  }

  def lshTopK(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    Similarity.lshTopK(e, e.where(col("vec_id") < 10), "vec_id", "embedding",
      k = 5, dim = Dim, numBits = 6, numTables = 8)
  }

  def embedCosinePairs(s: SparkSession, dir: String): DataFrame =
    Similarity.embedCosinePairs(Tables(s, dir, "embeddings"), "vec_id", "embedding",
      dim = Dim, threshold = 0.3, numBits = 6, numTables = 8)

  def langId(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents").select(col("doc_id"), col("lang").as("lang_labeled"),
      TA.languageId(col("text")).as("lang_pred"))

  /** Fingerprint query output is deliberately scalar-only: the driver's
    * comparator sorts rows with pandas, which cannot sort array cells
    * (round-1 comparator crash). The winnowing sketch (array) stays in the
    * spec-level API (TextAnalysis.fingerprintSketch, FingerprintSpec); the
    * query emits the md5 content fingerprint (DuckDB-reproducible) plus the
    * distinct-shingle count the sketch is built from. */
  def fingerprint(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents").select(col("doc_id"),
      TA.fingerprintMd5(col("text")).as("fp_md5"),
      size(graft.operators.Dedup.shingleHashes(col("text"), 5)).cast("long").as("n_shingles"))

  def binaryMeta(s: SparkSession, dir: String): DataFrame = {
    val withBin = Multimodal.asBinaryColumn(Tables(s, dir, "documents"), "text")
    withBin.select(col("doc_id"), col("meta.format").as("format"),
      col("meta.n_bytes").as("n_bytes"), md5(col("content")).as("content_md5"))
  }

  /** Feature array flattened to one double column per dimension — pandas
    * can sort scalars but not array cells (round-1 comparator crash); the
    * array-valued API (Multimodal.decodeFeatures) stays for pipeline use. */
  def decodeFeatures(s: SparkSession, dir: String): DataFrame = {
    val dim = 8
    val feats = Multimodal.decodeFeatures(
      Multimodal.asBinaryColumn(Tables(s, dir, "documents"), "text"), "doc_id", dim)
    feats.select(col("id") +: (0 until dim).map(i =>
      element_at(col("features"), i + 1).cast("double").as(s"f$i")): _*)
  }

  /** REAL codec decode end to end: deterministic BMP (even doc ids) and
    * PCM-16 WAV (odd ids) payloads are built from each document's bytes
    * (pixel/sample bytes cycle through the text), then
    * Multimodal.decodeFeatures dispatches on magic bytes and parses the
    * containers — headers, bottom-up BMP rows, RIFF chunks, signed
    * samples. The oracle recomputes every feature from the SAME text
    * bytes in SQL, so a parse/encode bug anywhere breaks the hash. All
    * features are integer sums with one final division (bit-exact). */
  def codecFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val withBin = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val tb = text.getBytes("UTF-8")
        def cyc(i: Int): Byte = if (tb.isEmpty) 0 else tb(i % tb.length)
        val content = (id % 3) match {
          case 0 => graft.operators.Codec.encodeBmp(4, 4, Array.tabulate(48)(cyc))
          case 1 => graft.operators.Codec.encodeWavPcm16(8000, 1, Array.tabulate(24) { k =>
            ((cyc(2 * k) & 0xFF) | ((cyc(2 * k + 1) & 0xFF) << 8)).toShort
          })
          // real zlib round trip: the decoder must inflate + unfilter its
          // way back to these exact bytes for the oracle to hash-match
          case _ => graft.operators.Codec.encodePng(4, 4, 3, Array.tabulate(48)(cyc))
        }
        (id, content)
      }.toDF("doc_id", "content")
    Multimodal.decodeFeatures(withBin, "doc_id")
      .select(col("id") +: (0 until 8).map(i =>
        element_at(col("features"), i + 1).as(s"f$i")): _*)
  }

  /** Frame bytes surface as an md5-of-hex digest: raw binary cells are
    * representation-fragile in the driver's pandas comparator, and the
    * digest is what a dedup/caching pipeline stores per frame anyway. The
    * binary-frame API (Multimodal.sampleFrames) is unchanged. */
  def frameSample(s: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(
      Multimodal.asBinaryColumn(Tables(s, dir, "documents"), "text"), "doc_id",
      frameBytes = 64, stride = 2)
      .select(col("id"), col("frame_index"), md5(hex(col("frame"))).as("frame_md5"))

  /** REAL container frame sampling: deterministic multi-frame GIFs
    * (pixel(d, f, i) = (31d + 7f + 13i) mod 256 — pure integer math the
    * oracle recomputes directly) encoded through the LZW writer, decoded
    * back by [[Multimodal.sampleGifFrames]], every 2nd frame kept with
    * exact luminance statistics. A hash match PROVES the LZW
    * encode→decode round trip: the oracle reaches the pixel values only
    * through their formula, the engine only through the codec. */
  def gifFrames(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val gifs = Tables(s, dir, "documents").select(col("doc_id").cast("long"))
      .where(pmod(col("doc_id"), lit(17)) === 0).as[Long]
      .map { d =>
        val nF = (4 + d % 3).toInt
        val frames = (0 until nF).map { f =>
          Array.tabulate(256)(i => ((d * 31 + f * 7 + i * 13) % 256).toByte)
        }
        (d, graft.operators.Codec.encodeGif(16, 16,
          graft.operators.Codec.GrayPalette, frames))
      }.toDF("doc_id", "content")
    Multimodal.sampleGifFrames(gifs, "doc_id", stride = 2)
  }

  /** Near-dup clustering end to end: n-gram Jaccard candidate pairs →
    * connected components (large-star/small-star) → one canonical doc per
    * cluster. Oracle: DuckDB recursive-CTE transitive closure over the
    * same pair set — feasible because the query is capped to doc_id<50.
    * Screening at the LOW threshold 0.25 → 1-row blocking bands
    * (blockBands = blockHashes), per the ngramJaccardPairs recall note. */
  def cluster(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents").where(col("doc_id") < 50)
    val pairs = graft.operators.Dedup.ngramJaccardPairs(
      docs, "doc_id", "text", n = 4, threshold = 0.25,
      blockHashes = 16, blockBands = 16)
    graft.operators.Dedup.nearDupClusters(docs, "doc_id", pairs)
  }

  /** Johnson–Lindenstrauss random projection of the embedding corpus from
    * 64 to 8 dims — the bandwidth-side ANN lever next to int8
    * quantization (8× fewer coordinates vs 4× narrower ones): candidate
    * generation runs on the reduced vectors, exact rerank on the
    * originals. Pure per-row column math against literal planes (no
    * shuffle); oracle replays every projection bit-for-bit. */
  def rpReduce(s: SparkSession, dir: String): DataFrame =
    Similarity.randomProjection(
      Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", Dim, RpDim)

  private val RpDim = 8

  /** Top-k over int8-quantized embeddings — the 4×-compressed ANN path;
    * scales cancel in cosine so the ranking needs no dequantization. */
  def quantizedTopK(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    Similarity.quantizedTopK(e, e.where(col("vec_id") < 10), "vec_id", "embedding", k = 5)
  }

  /** SimHash signatures via the md5 token hash (Dedup.simHashMd5) — the
    * cross-engine-verifiable twin of the xxhash64 production form; the
    * oracle replays all 60 bit votes in SQL. */
  def simhash(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"), graft.operators.Dedup.simHashMd5(col("text")).as("simhash"))

  /** MinHash band-bucket assignment via the fully portable md5 form
    * (Dedup.minHashBandsMd5) — shingles, permutations AND band buckets
    * all replay in SQL, so the complete LSH banding structure is
    * hash-checked by the driver. */
  def minhashBands(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.minHashBandsMd5(Tables(s, dir, "documents"), "doc_id", "text")

  /** Blocked fuzzy-match ER over customer names: block on the name
    * minus its last two digits (~100 entities/block), verify with
    * thresholded levenshtein ≤ 1 — every pair differing in one digit. */
  def erFuzzyPairs(s: SparkSession, dir: String): DataFrame =
    graft.operators.EntityResolution.fuzzyPairs(
      Tables(s, dir, "customer"), "c_custkey", "c_name",
      blockExpr = expr("substr(c_name, 1, length(c_name)-2)"), maxDist = 1)

  /** Duplicate-heavy gate fixture for [[Similarity.embedCosinePairs]]'s
    * exact-duplicate collapse (the tx_contamination build-the-fixture-
    * inside-the-query recipe): the first 100 vectors replicated 10× —
    * replicas 0–7 bit-identical (8-way exact-dup groups, the collapse's
    * target), replicas 8–9 shifted by +0.001·k per component (near-dup
    * but NOT identical, so they must survive as their own
    * representatives and pair via the LSH path). The gate corpus is
    * duplicate-light, so without this key the collapse+expansion logic
    * is only spec-verified; the oracle below replays the NAIVE
    * block-and-verify form in SQL, making the hash discriminate the
    * rewrite itself. All arithmetic is double on both engines (float→
    * double cast first, then the shift) for bit-identical cosines. */
  def embedDupHeavy(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir, "embeddings").where(col("vec_id") < 100)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val fix = base.crossJoin(s.range(10).select(col("id").as("rep")))
      .select((col("vec_id") * 10 + col("rep")).as("vec_id"),
        expr("""CASE WHEN rep >= 8
                THEN transform(v, x -> x + CAST(0.001 AS DOUBLE) * (rep - 7))
                ELSE v END""").as("embedding"))
    Similarity.embedCosinePairs(fix, "vec_id", "embedding", dim = Dim,
      threshold = 0.3, numBits = 6, numTables = 8)
  }

  /** Duplicate-heavy gate fixture for [[graft.operators.EntityResolution
    * .fuzzyPairs]]'s (block, name) collapse: customers 1–99 replicated
    * 10× — replicas 0–7 with the verbatim name (8-way groups), replicas
    * 8–9 with the LAST character substituted ('x'/'y': same length, same
    * block after the strip-2 key, levenshtein 1 from the base). All ~990
    * fixture rows share ONE block, sitting just under the 1000-raw-row
    * bucket guard — the guard must count raw rows, not collapsed names,
    * for the oracle to agree. */
  def erFuzzyDupHeavy(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir, "customer").where(col("c_custkey") < 100)
      .select(col("c_custkey").as("bid"), col("c_name").as("bname"))
    val fix = base.crossJoin(s.range(10).select(col("id").as("rep")))
      .select((col("bid") * 10 + col("rep")).as("id"),
        expr("""CASE WHEN rep >= 8
                THEN concat(substr(bname, 1, length(bname)-1),
                            CASE WHEN rep = 8 THEN 'x' ELSE 'y' END)
                ELSE bname END""").as("name"))
    graft.operators.EntityResolution.fuzzyPairs(fix, "id", "name",
      blockExpr = expr("substr(name, 1, length(name)-2)"), maxDist = 1)
  }

  /** The merge step: connected components over the verified fuzzy
    * pairs, canonical minimum id per cluster, singletons canonical to
    * themselves. Restricted to custkey < 300 so the recursive-CTE
    * oracle's transitive closure stays small at every SF. */
  def erResolve(s: SparkSession, dir: String): DataFrame =
    graft.operators.EntityResolution.resolve(
      Tables(s, dir, "customer").where(col("c_custkey") < 300),
      "c_custkey", "c_name",
      blockExpr = expr("substr(c_name, 1, length(c_name)-2)"), maxDist = 1)

  /** Exact Jaccard set-similarity self-join (PPJoin prefix filtering,
    * no false negatives) at t=0.7 — the exact twin of dd_minhash_lsh's
    * probabilistic candidates. doc_id < 1000 keeps the oracle's
    * quadratic verify bounded at every SF. */
  def setsimJoin(s: SparkSession, dir: String): DataFrame =
    graft.operators.SetSimJoin.jaccardJoin(
      Tables(s, dir, "documents").where(col("doc_id") < 1000),
      "doc_id", "text", threshold = 0.7)

  /** Sorted-neighborhood ER pass: reversed-name suffix sort within
    * nation blocks, window 4 — adjacent reversed names differ in
    * LEADING digits, exactly the typo class the prefix block of
    * er_fuzzy_pairs cannot see. */
  def erSortedPairs(s: SparkSession, dir: String): DataFrame =
    graft.operators.EntityResolution.sortedNeighborPairs(
      Tables(s, dir, "customer"), "c_custkey", "c_name",
      sortExpr = reverse(col("c_name")), blockExpr = col("c_nationkey"),
      window = 4, maxDist = 1)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "er_sorted_pairs" -> (erSortedPairs _),
    "dd_setsim_join" -> (setsimJoin _),
    "er_fuzzy_pairs" -> (erFuzzyPairs _),
    "dd_embed_dupheavy" -> (embedDupHeavy _),
    "er_fuzzy_dupheavy" -> (erFuzzyDupHeavy _),
    "er_resolve" -> (erResolve _),
    "dd_simhash" -> (simhash _),
    "dd_minhash_lsh" -> (minhashBands _),
    "ss_quant_topk" -> (quantizedTopK _),
    "ss_rp_reduce" -> (rpReduce _),
    "dd_cluster" -> (cluster _),
    "ss_cosine_topk" -> (cosineTopK _),
    "ss_knn_classify" -> (knnClassify _),
    "ss_lsh_topk" -> (lshTopK _),
    "ss_ivf_topk" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      // quantizer trained once per corpus on a bounded sample and cached
      // — the offline-training shape (trainIvf doc)
      val model = trainIvf(e, IvfParams)
      Similarity.ivfTopK(e, e.where(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, model, nProbe = 4)
    }),
    // StreamingAnn index fold under the oracle (the q_hll_compacted
    // recipe, r14 item #6 / r15 verdict #8): the corpus lands in
    // IvfFoldGenerations batch-id slices through the real per-micro-batch
    // body (assignCells against the FIXED trained quantizer →
    // cell-partitioned publishBatch), then the probe runs over the
    // at-rest accumulated index. Same model ⇒ identical results to batch
    // ivfTopK over the whole corpus, so the ss_ivf_topk oracle replays it
    // verbatim; n_generations pins that the index really folded across
    // generations.
    "ss_ivf_index_fold" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val model = trainIvf(e, IvfParams)
      val indexDir = java.nio.file.Files.createTempDirectory("graft_ivf_index").toString
      (0L until IvfFoldGenerations).foreach { i =>
        graft.streaming.StreamingAnn.processIvfBatch(
          e.where(pmod(col("vec_id"), lit(IvfFoldGenerations)) === i), i,
          "vec_id", "embedding", model, indexDir)
      }
      val nGen = graft.streaming.StreamingDedup.listBatchDirs(s, indexDir).size
      val out = graft.streaming.StreamingAnn.ivfTopKFromIndex(
          s, indexDir, e.where(col("vec_id") < 10), "vec_id", "embedding",
          k = 5, model, nProbe = 4)
        .withColumn("n_generations", lit(nGen.toLong))
        .localCheckpoint(true)
      graft.tools.Fs.deleteRecursively(indexDir)
      out
    }),
    "dd_semantic" -> (semanticDedup _),
    "ss_kmeans" -> (kmeansRounds _),
    "ss_kmeans_sample" -> (kmeansSample _),
    "ss_pca_project" -> (pcaProject _),
    "ss_pca_var" -> (pcaVariance _),
    "ss_hybrid_rrf" -> (hybridRrf _),
    "ss_pq_topk" -> (pqTopKQuery _),
    "ss_ivfpq_topk" -> (ivfPqTopKQuery _),
    "dd_embed_cosine" -> (embedCosinePairs _),
    "tx_langid" -> (langId _),
    "tx_fingerprint" -> (fingerprint _),
    "mm_binary_meta" -> (binaryMeta _),
    "mm_decode_features" -> (decodeFeatures _),
    "mm_codec_features" -> (codecFeatures _),
    "mm_frame_sample" -> (frameSample _),
    "mm_gif_frames" -> (gifFrames _))

  /** tx_langid oracle is generated from TextAnalysis.LanguageProfiles so
    * the stopword lists cannot drift between engine and oracle. The CASE
    * chain checks languages in descending lexicographic order to replicate
    * Spark's greatest(struct(score, lang)) tie-break (max score, then max
    * lang string). */
  private val langIdOracle: String = {
    val langs = TA.LanguageProfiles.keys.toSeq.sorted
    val scoreCols = langs.map { lang =>
      val lst = TA.LanguageProfiles(lang).map(w => s"'$w'").mkString("[", ",", "]")
      s"round(CASE WHEN len(toks)=0 THEN 0.0 ELSE CAST(len(list_filter(toks, x -> list_contains($lst, x))) AS DOUBLE)/len(toks) END, 6) AS s_$lang"
    }.mkString(",\n    ")
    val sAll = langs.map(l => s"s_$l").mkString(",")
    val caseArms = langs.sorted.reverse
      .map(l => s"WHEN s_$l THEN '$l'").mkString(" ")
    s"""WITH t AS (
       |  SELECT doc_id, lang AS lang_labeled,
       |    string_split_regex(lower(trim(text)), '\\s+') AS toks,
       |    round(CASE WHEN length(text)=0 THEN 0.0 ELSE
       |      CAST(length(text) - length(regexp_replace(text, '[\\x{4e00}-\\x{9fff}\\x{3040}-\\x{30ff}\\x{ac00}-\\x{d7af}]', '', 'g')) AS DOUBLE) / length(text) END, 6) AS cjk
       |  FROM documents),
       |s AS (SELECT doc_id, lang_labeled, cjk,
       |    $scoreCols
       |  FROM t)
       |SELECT doc_id, lang_labeled,
       |  CASE WHEN cjk > 0.2 THEN 'zh'
       |    WHEN greatest($sAll) > 0.0 THEN
       |      CASE greatest($sAll) $caseArms END
       |    ELSE 'und' END AS lang_pred
       |FROM s""".stripMargin
  }

  /** LSH bucketing in SQL: the hyperplanes are deterministic constants,
    * so the oracle embeds them as DOUBLE[] literals (Double.toString
    * round-trips exactly through DuckDB's parser) and reproduces the
    * sign-bit bucket keys and double-precision cosine bit-for-bit. The
    * bucketed-table CTE is shared by both LSH oracles. */
  /** LSH banding CTEs over an `e(vec_id, v, nrm)` CTE; `eCte` defaults
    * to the raw embeddings table and is overridden by fixture-building
    * oracles (dd_embed_dupheavy). */
  private def lshTablesCte(numBits: Int, numTables: Int,
      eCte: String = """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
       |  FROM embeddings)""".stripMargin): String = {
    val tables = (0 until numTables).map { t =>
      val planes = Similarity.hyperplanes(Dim, numBits, seed = 7L + t)
      val bucket = planes.zipWithIndex.map { case (plane, i) =>
        val arr = plane.map(_.toString).mkString("[", ",", "]")
        s"(CASE WHEN list_dot_product(v, $arr) > 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, v, nrm, $t AS tbl, $bucket AS bucket FROM e"
    }.mkString("\nUNION ALL\n")
    s"""$eCte,
       |b AS (
       |$tables
       |)""".stripMargin
  }

  private val embedDupHeavyOracle: String = {
    val fixtureE =
      """fix AS (
        |  SELECT e0.vec_id * 10 + r.rep AS vec_id,
        |    CASE WHEN r.rep >= 8
        |      THEN list_transform(CAST(e0.embedding AS DOUBLE[]),
        |             x -> x + CAST(0.001 AS DOUBLE) * (r.rep - 7))
        |      ELSE CAST(e0.embedding AS DOUBLE[]) END AS v
        |  FROM embeddings e0 CROSS JOIN (SELECT unnest(range(10)) AS rep) r
        |  WHERE e0.vec_id < 100),
        |e AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM fix)""".stripMargin
    s"""WITH ${lshTablesCte(numBits = 6, numTables = 8, eCte = fixtureE)},
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, a.v AS v_a, a.nrm AS n_a,
       |    c.vec_id AS id_b, c.v AS v_b, c.nrm AS n_b
       |  FROM b a JOIN b c ON a.tbl = c.tbl AND a.bucket = c.bucket AND a.vec_id < c.vec_id)
       |SELECT id_a, id_b, cosine_sim FROM (
       |  SELECT id_a, id_b,
       |    CASE WHEN n_a * n_b = 0 THEN 0.0
       |      ELSE list_dot_product(v_a, v_b) / (n_a * n_b) END AS cosine_sim
       |  FROM cand)
       |WHERE cosine_sim >= 0.3""".stripMargin
  }

  private val embedCosineOracle: String =
    s"""WITH ${lshTablesCte(numBits = 6, numTables = 8)},
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, a.v AS v_a, a.nrm AS n_a,
       |    c.vec_id AS id_b, c.v AS v_b, c.nrm AS n_b
       |  FROM b a JOIN b c ON a.tbl = c.tbl AND a.bucket = c.bucket AND a.vec_id < c.vec_id)
       |SELECT id_a, id_b, cosine_sim FROM (
       |  SELECT id_a, id_b,
       |    CASE WHEN n_a * n_b = 0 THEN 0.0
       |      ELSE list_dot_product(v_a, v_b) / (n_a * n_b) END AS cosine_sim
       |  FROM cand)
       |WHERE cosine_sim >= 0.3""".stripMargin

  private val lshTopKOracle: String =
    s"""WITH ${lshTablesCte(numBits = 6, numTables = 8)},
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, q.v AS q_vec, q.nrm AS q_norm,
       |    c.vec_id AS neighbor_id, c.v AS c_vec, c.nrm AS c_norm
       |  FROM b q JOIN b c ON q.tbl = c.tbl AND q.bucket = c.bucket
       |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
       |scored AS (
       |  SELECT query_id, neighbor_id,
       |    CASE WHEN q_norm * c_norm = 0 THEN 0.0
       |      ELSE list_dot_product(q_vec, c_vec) / (q_norm * c_norm) END AS cosine_sim
       |  FROM cand),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cosine_sim,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS BIGINT) AS rank
       |FROM ranked WHERE rank <= 5""".stripMargin

  /** int8 quantization in SQL: same per-vector scale and half-away-from-
    * zero rounding (Spark round = BigDecimal HALF_UP = away from zero for
    * both signs; DuckDB round matches), then the proven cosine/rank SQL
    * over the integer-code vectors. */
  private val quantTopKOracle: String =
    """WITH raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q8 AS (
      |  SELECT vec_id,
      |    list_transform(v, x -> round(x / (CASE WHEN mx = 0 THEN 1.0 ELSE mx / 127.0 END))) AS qv
      |  FROM (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM raw)),
      |qq AS (SELECT vec_id AS query_id, qv AS q_vec FROM q8 WHERE vec_id < 10),
      |c AS (SELECT vec_id AS neighbor_id, qv AS c_vec FROM q8),
      |pairs AS (
      |  SELECT query_id, neighbor_id,
      |    CASE WHEN sqrt(list_dot_product(q_vec,q_vec)) * sqrt(list_dot_product(c_vec,c_vec)) = 0 THEN 0.0
      |      ELSE list_dot_product(q_vec, c_vec)
      |        / (sqrt(list_dot_product(q_vec,q_vec)) * sqrt(list_dot_product(c_vec,c_vec))) END AS cosine_sim
      |  FROM c, qq WHERE neighbor_id <> query_id),
      |ranked AS (
      |  SELECT query_id, neighbor_id, cosine_sim,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id) AS rank
      |  FROM pairs)
      |SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS BIGINT) AS rank
      |FROM ranked WHERE rank <= 5""".stripMargin

  /** stubDecode in SQL: per document, integer byte sums per dimension
    * (i mod 8) divided once by 255 — exact in a 64-bit sum, so the doubles
    * are bit-identical (Multimodal.stubDecode doc). Bytes are extracted by
    * hex-pair lookup against a generated 256-row VALUES map. */
  private val decodeFeaturesOracle: String = {
    val hexvals = (0 until 256).map(i => f"('$i%02X', $i)").mkString(", ")
    val dims = (0 until 8).map(d =>
      s"MAX(CASE WHEN dim = $d THEN f ELSE 0 END) AS f$d").mkString(",\n  ")
    s"""WITH hexmap(hx, val) AS (VALUES $hexvals),
       |t AS (SELECT doc_id AS id, hex(encode(text)) AS h, octet_length(encode(text)) AS n FROM documents),
       |b AS (SELECT id, unnest(generate_series(0, n - 1)) AS i, h FROM t),
       |v AS (SELECT b.id, b.i % 8 AS dim, m.val
       |  FROM b JOIN hexmap m ON m.hx = substring(b.h, b.i*2 + 1, 2)),
       |agg AS (SELECT id, dim, CAST(SUM(val) AS DOUBLE) / 255.0 AS f
       |  FROM v GROUP BY id, dim)
       |SELECT id,
       |  $dims
       |FROM agg GROUP BY id""".stripMargin
  }

  /** Replays Dedup.simHashMd5 bit for bit: per token, the first 15 md5
    * hex chars parse to a 60-bit BIGINT (`'0x' || hex` cast); 60 signed
    * bit-vote sums per document; positive votes set bits. */
  private val simhashOracle: String = {
    val votes = (0 until 60).map(i =>
      s"SUM(CASE WHEN ((h >> $i) & 1) = 1 THEN 1 ELSE -1 END) AS v$i").mkString(",\n  ")
    val assemble = (0 until 60).map(i =>
      s"CASE WHEN v$i > 0 THEN ${1L << i} ELSE 0 END").mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents),
       |h AS (SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h FROM toks),
       |v AS (SELECT doc_id,
       |  $votes
       |  FROM h GROUP BY doc_id)
       |SELECT doc_id, CAST($assemble AS BIGINT) AS simhash FROM v""".stripMargin
  }

  /** Replays Dedup.minHashBandsMd5 end to end: 3-word shingles (with the
    * short-text whole-string fallback), distinct, md5 60-bit hashes
    * folded mod p, the 64 (a,b) permutation minima with the SAME
    * constants the operator draws from its seed, and md5 band buckets
    * over comma-joined 4-slot slices. */
  private val minhashOracle: String = {
    val p = graft.operators.Dedup.MinHashPrime
    val slots = graft.operators.Dedup.minHashParams(64).map { case (a, b) =>
      s"list_min(list_transform(hs, h -> (h * $a + $b) % $p))"
    }.mkString(",\n    ")
    val bandSelects = (0 until 16).map { b =>
      val joined = (1 to 4).map(r => s"CAST(sig[${b * 4 + r}] AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, ('0x' || substring(md5($joined), 1, 15))::BIGINT AS bucket FROM sig"
    }.mkString("\nUNION ALL ")
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents),
       |sh AS (SELECT doc_id,
       |    CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
       |         ELSE list_transform(generate_series(0, len(w) - 3),
       |                i -> array_to_string(w[i+1:i+3], ' ')) END AS shingles
       |  FROM toks),
       |hs AS (SELECT doc_id,
       |    list_transform(list_distinct(shingles),
       |      s -> ('0x' || substring(md5(s), 1, 15))::BIGINT % $p) AS hs
       |  FROM sh),
       |sig AS MATERIALIZED (SELECT doc_id, [
       |    $slots] AS sig FROM hs)
       |$bandSelects""".stripMargin
  }

  /** Replays codecFeatures from the raw text bytes: the BMP path's
    * channel classes survive the encoder's bottom-up row order (rows are
    * 12 bytes = a multiple of 3, so byte j is channel j%3 in any row
    * permutation, and means/extrema are order-free); the WAV path
    * reassembles each signed 16-bit LE sample from its two cycled text
    * bytes. The PNG leg (id%3=2) shares the BMP formulas: the oracle
    * CANNOT inflate zlib, so it computes features from the SOURCE bytes
    * and the hash match asserts the decoder's inflate+unfilter round
    * trip returned exactly those bytes — a stronger check than replaying
    * the container walk. Byte extraction uses the hex-pair VALUES map
    * (as mm_decode_features does). */
  private val codecFeaturesOracle: String = {
    val hexvals = (0 until 256).map(i => f"('$i%02X', $i)").mkString(", ")
    s"""WITH hexmap(hx, val) AS (VALUES $hexvals),
       |t AS (SELECT doc_id AS id, hex(encode(text)) AS h,
       |  octet_length(encode(text)) AS L FROM documents),
       |bb AS (SELECT id, h, L, unnest(generate_series(0, 47)) AS j FROM t WHERE id % 3 IN (0, 2)),
       |bv AS (SELECT bb.id, bb.j % 3 AS ch, m.val
       |  FROM bb JOIN hexmap m ON m.hx = substring(bb.h, (bb.j % bb.L)*2 + 1, 2)),
       |bmp AS (SELECT id,
       |    4.0 AS f0, 4.0 AS f1, 16.0 AS f2,
       |    CAST(SUM(CASE WHEN ch = 0 THEN val ELSE 0 END) AS DOUBLE) / 16.0 AS f3,
       |    CAST(SUM(CASE WHEN ch = 1 THEN val ELSE 0 END) AS DOUBLE) / 16.0 AS f4,
       |    CAST(SUM(CASE WHEN ch = 2 THEN val ELSE 0 END) AS DOUBLE) / 16.0 AS f5,
       |    CAST(MAX(val) AS DOUBLE) AS f6, CAST(MIN(val) AS DOUBLE) AS f7
       |  FROM bv GROUP BY id),
       |wk AS (SELECT id, h, L, unnest(generate_series(0, 23)) AS k FROM t WHERE id % 3 = 1),
       |wv AS (SELECT wk.id,
       |    (lo.val + 256*hi.val) - (CASE WHEN lo.val + 256*hi.val >= 32768 THEN 65536 ELSE 0 END) AS s
       |  FROM wk
       |  JOIN hexmap lo ON lo.hx = substring(wk.h, ((2*wk.k) % wk.L)*2 + 1, 2)
       |  JOIN hexmap hi ON hi.hx = substring(wk.h, ((2*wk.k + 1) % wk.L)*2 + 1, 2)),
       |wav AS (SELECT id,
       |    24.0 AS f0, 8000.0 AS f1, 1.0 AS f2, 3.0 AS f3,
       |    CAST(SUM(s) AS DOUBLE) / 24.0 AS f4,
       |    CAST(SUM(abs(s)) AS DOUBLE) / 24.0 AS f5,
       |    CAST(MAX(s) AS DOUBLE) AS f6, CAST(MIN(s) AS DOUBLE) AS f7
       |  FROM wv GROUP BY id)
       |SELECT * FROM bmp UNION ALL SELECT * FROM wav""".stripMargin
  }

  /** Replays Dedup.ngramJaccardPairs end to end: distinct char 4-grams,
    * the log-1.1 length bucket, the `blockHashes`-slot minhash over md5
    * gram hashes (same (a,b) constants the operator draws from its seed),
    * folded "band:slots" md5 band keys, then the candidate join — adjacent
    * length bucket AND a shared band key — feeding the exact-Jaccard
    * computation. The bucket-size cap is a no-op at the ≤50-doc query
    * scale (it only trips on pathological boilerplate buckets). */
  private def ngramCandCte(filter: String, blockHashes: Int, blockBands: Int): String = {
    val p = graft.operators.Dedup.MinHashPrime
    val rows = blockHashes / blockBands
    val slots = graft.operators.Dedup.minHashParams(blockHashes).map { case (a, b) =>
      s"list_min(list_transform(hs, h -> (h * $a + $b) % $p))"
    }.mkString(",\n    ")
    val bandExprs = (0 until blockBands).map { b =>
      val joined = (1 to rows).map(r => s"CAST(sig[${b * rows + r}] AS VARCHAR)")
        .mkString(" || ',' || ")
      s"('0x' || substring(md5('$b:' || $joined), 1, 15))::BIGINT"
    }.mkString(",\n    ")
    s"""base AS (
       |  SELECT doc_id,
       |    list_distinct([substr(text, i, 4) FOR i IN generate_series(1, greatest(length(text)-3, 1))]) AS grams,
       |    floor(ln(CAST(greatest(length(text), 1) AS DOUBLE)) / ln(1.1)) AS bucket
       |  FROM documents $filter),
       |hs AS (SELECT doc_id, grams, bucket,
       |    list_transform(grams, g -> ('0x' || substring(md5(g), 1, 15))::BIGINT % $p) AS hs
       |  FROM base),
       |sig AS MATERIALIZED (SELECT doc_id, grams, bucket, [
       |    $slots] AS sig FROM hs),
       |blocked AS MATERIALIZED (SELECT doc_id, grams, bucket, [
       |    $bandExprs] AS bks FROM sig),
       |cand AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
       |          CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE), 6) AS jaccard
       |  FROM blocked a JOIN blocked b ON a.doc_id < b.doc_id
       |    AND abs(a.bucket - b.bucket) <= 1
       |    AND len(list_intersect(a.bks, b.bks)) > 0)""".stripMargin
  }

  /** Replays Similarity.ivfTopK against the TRAINED quantizer: the
    * centroids (and their precomputed squared norms) embed as SQL
    * literals — the same technique as the LSH hyperplanes — so cell
    * assignment (argmin of d² = v·v − 2·v·c + |c|², ties to the lower
    * cell), the nProbe query probes, and the in-cell exact rerank all
    * replay bit-for-bit (list_dot_product ≡ VecDot accumulation;
    * Double.toString round-trips through DuckDB's parser). Emitted only
    * once the quantizer has been trained: Verify dumps oracle_sql.json
    * AFTER running the queries, at which point the per-corpus model is
    * in [[StageCache]]. */
  private[graft] def ivfOracle(model: Similarity.IvfModel, nProbe: Int, k: Int): String = {
    val cellSelects = ivfCellSelects(model, "vec_id, v, nrm")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
       |  FROM embeddings),
       |cd AS MATERIALIZED (
       |$cellSelects
       |),
       |corpus AS (
       |  SELECT vec_id AS neighbor_id, v AS c_vec, nrm AS c_norm, cell
       |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM cd)
       |  WHERE rn = 1),
       |probe AS (
       |  SELECT vec_id AS query_id, v AS q_vec, nrm AS q_norm, cell
       |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM cd WHERE vec_id < 10)
       |  WHERE rn <= $nProbe),
       |scored AS (
       |  SELECT query_id, neighbor_id,
       |    CASE WHEN q_norm * c_norm = 0 THEN 0.0
       |      ELSE list_dot_product(q_vec, c_vec) / (q_norm * c_norm) END AS cosine_sim
       |  FROM probe JOIN corpus USING (cell)
       |  WHERE neighbor_id <> query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cosine_sim,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS BIGINT) AS rank
       |FROM ranked WHERE rank <= $k""".stripMargin
  }

  /** SemDeDup replay against the trained cluster centroids (same literal-
    * embedding technique as [[ivfOracle]]): argmin cell assignment (ties
    * to the lower cell — row_number ORDER BY d2, cell ≡ Spark's
    * array_min over struct(d2, cell)), then the within-cell pairwise
    * cosine prune keeping each pair's lower id. */
  private[graft] def semanticDedupOracle(model: Similarity.IvfModel, threshold: Double): String = {
    val cellSelects = ivfCellSelects(model, "vec_id, v, nrm")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
       |  FROM embeddings),
       |cd AS MATERIALIZED (
       |$cellSelects
       |),
       |assigned AS MATERIALIZED (
       |  SELECT vec_id, v, nrm, cell
       |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM cd)
       |  WHERE rn = 1),
       |dropped AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE (CASE WHEN a.nrm * b.nrm = 0 THEN 0.0
       |    ELSE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) END) >= $threshold)
       |SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell,
       |  (d.vec_id IS NULL) AS kept
       |FROM assigned a LEFT JOIN dropped d ON d.vec_id = a.vec_id""".stripMargin
  }

  /** One `SELECT <cols>, i AS cell, d2` per trained centroid, UNION ALL'd:
    * the squared distance d² = v·v − 2·v·c + |c|² to every cell, with the
    * centroid (and its squared norm) as literals. */
  private def ivfCellSelects(model: Similarity.IvfModel, cols: String): String =
    model.centroids.zipWithIndex.map { case (c, i) =>
      val arr = c.map(_.toString).mkString("[", ",", "]")
      val c2 = c.map(x => x * x).sum
      s"SELECT $cols, $i AS cell, list_dot_product(v, v) - 2.0 * list_dot_product(v, $arr) + $c2 AS d2 FROM e"
    }.mkString("\nUNION ALL\n")

  /** Static oracles plus the replays of the trained-model keys, each
    * against the one model [[StageCache.only]] finds for its (op,
    * params) — the Verify shape, where the queries ran before this is
    * called. With no model the key is simply absent (driver falls back to
    * its rows-only check); with models for SEVERAL corpora the right one
    * is ambiguous, so the key is withheld rather than risk replaying the
    * wrong centroids. */
  def oracles: Map[String, String] = {
    val ivf = StageCache.only[Similarity.IvfModel]("trainIvf", IvfParams)
    val pq = StageCache.only[Similarity.PqModel]("trainPq", PqParams)
    val sd = StageCache.only[Similarity.IvfModel]("trainIvf", SdParams)
    val km = StageCache.only[graft.operators.KMeans.KMeansModel]("kmeans", (KmK, KmIters))
    val pca = StageCache.only[graft.operators.Pca.PcaModel]("pca", PcaK)
    staticOracles ++
      ivf.toSeq.flatMap { m =>
        val base = ivfOracle(m, nProbe = 4, k = 5)
        // the index fold equals batch ivfTopK over the whole corpus (same
        // fixed quantizer); only the generation pin is extra
        Seq("ss_ivf_topk" -> base,
          "ss_ivf_index_fold" ->
            s"""SELECT *, CAST($IvfFoldGenerations AS BIGINT) AS n_generations FROM (
               |$base
               |)""".stripMargin)
      } ++
      sd.map(m => "dd_semantic" -> semanticDedupOracle(m, SdThreshold)) ++
      pq.map(m => "ss_pq_topk" -> pqOracle(m, k = 5)) ++
      (for (i <- ivf; p <- pq) yield "ss_ivfpq_topk" -> ivfPqOracle(i, p, nProbe = 4, k = 5)) ++
      km.toSeq.flatMap(m => Seq(
        "ss_kmeans" -> kmRoundsOracle(m),
        "ss_kmeans_sample" -> kmSampleOracle(m, KmPerCell))) ++
      pca.toSeq.flatMap(m => Seq(
        "ss_pca_project" -> pcaProjectOracle(m),
        "ss_pca_var" -> pcaVarOracle(m)))
  }

  // --- PCA oracles (pico-grid fixed-point replay; see Pca.scala) -------

  /** One `floor(v[i]·wᵢ + 0.5)` BIGINT per element per component —
    * VecDotFixedPoint's portable form with the TRAINED component weights
    * (pre-scaled ×10¹² driver-side, like the JL/PQ oracles) as literals,
    * minus the model's exact meanDotPico integer. */
  private def pcaPcExprs(m: graft.operators.Pca.PcaModel): Seq[String] =
    (0 until m.k).map { j =>
      val w = m.picoWeights(j)
      val terms = w.zipWithIndex.map { case (wi, i) =>
        s"CAST(floor(v[${i + 1}] * $wi + 0.5) AS BIGINT)"
      }.mkString(" + ")
      s"($terms) - (${m.meanDotPico(j)})"
    }

  private def pcaProjectOracle(m: graft.operators.Pca.PcaModel): String = {
    val cols = pcaPcExprs(m).zipWithIndex
      .map { case (e, j) => s"$e AS pc$j" }.mkString(",\n    ")
    s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
       |SELECT vec_id,
       |    $cols
       |FROM c""".stripMargin
  }

  private def pcaVarOracle(m: graft.operators.Pca.PcaModel): String = {
    val pcs = pcaPcExprs(m).zipWithIndex
      .map { case (e, j) => s"$e AS pc$j" }.mkString(",\n    ")
    val sums = (0 until m.k)
      .map(j => s"SUM(CAST(pc$j AS HUGEINT) * CAST(pc$j AS HUGEINT)) AS ss$j")
      .mkString(",\n    ")
    val rows = (0 until m.k).map { j =>
      s"SELECT CAST($j AS BIGINT) AS component, n, CAST(ss$j AS VARCHAR) AS ss_pico2 FROM s"
    }.mkString("\nUNION ALL ")
    s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |p AS (SELECT vec_id,
       |    $pcs
       |  FROM c),
       |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    $sums
       |  FROM p)
       |$rows""".stripMargin
  }

  // --- k-means oracles (integer-grid replay; see KMeans.scala) ---------

  private val kmQCte: String =
    "q AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(" +
      "CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS q FROM embeddings)"

  /** `list_sort([{d², cell} …])[1]` — the same (d, c) struct argmin the
    * Spark side's array_min-over-structs computes, with the round's
    * centroids inlined as BIGINT list literals. */
  private def kmBestExpr(cents: Array[Array[Long]], dim: Int): String = {
    val structs = cents.zipWithIndex.map { case (cc, i) =>
      val lst = cc.mkString("[", ",", "]")
      s"struct_pack(d := list_sum(list_transform(generate_series(1, $dim), " +
        s"i -> (q[i] - ($lst)[i]) * (q[i] - ($lst)[i]))), c := $i)"
    }
    s"list_sort([${structs.mkString(", ")}])[1]"
  }

  private def kmRoundsOracle(m: graft.operators.KMeans.KMeansModel): String = {
    val rounds = (1 to m.iters).map { r =>
      s"""SELECT CAST($r AS INT) AS round, best.c AS cell,
         |  CAST(COUNT(*) AS BIGINT) AS n_points, CAST(SUM(best.d) AS BIGINT) AS inertia
         |FROM (SELECT ${kmBestExpr(m.roundCentroids(r - 1), m.dim)} AS best FROM q)
         |GROUP BY best.c""".stripMargin
    }
    s"WITH $kmQCte\n${rounds.mkString("\nUNION ALL ")}"
  }

  private def kmSampleOracle(m: graft.operators.KMeans.KMeansModel,
      perCell: Int): String =
    s"""WITH $kmQCte,
       |a AS (SELECT vec_id, (${kmBestExpr(m.finalCentroids, m.dim)}).c AS cell FROM q),
       |r AS (SELECT cell, vec_id, row_number() OVER (PARTITION BY cell
       |    ORDER BY md5('ks:' || CAST(vec_id AS VARCHAR)), vec_id) AS rank FROM a)
       |SELECT cell, vec_id, CAST(rank AS INT) AS rank FROM r WHERE rank <= $perCell""".stripMargin

  /** The JL projection in SQL: the same pico-grid plane literals, each
    * dot replayed in VecDotFixedPoint's portable form — per-element
    * floor(v[i]·w + 0.5) BIGINTs summed (exact integers:
    * association-proof, which float sums are NOT — DuckDB's list kernel
    * reorders at ≥32 elements, rebalances explicit `+` chains AND
    * constant-folds p·10¹² subproducts; measured, see VecDotFixedPoint),
    * one double division, one scale multiply. Bit-identical by
    * construction. */
  private val rpReduceOracle: String = {
    val planes = Similarity.rpPlanes(Dim, 8, seed = 11L)
    val scale = 1.0 / math.sqrt(8.0)
    val cols = planes.zipWithIndex.map { case (plane, j) =>
      val picos = plane.zipWithIndex
        .map { case (p, i) => s"CAST(floor(v[${i + 1}]*${p * 1e12} + 0.5) AS BIGINT)" }
        .mkString(" + ")
      s"(CAST(($picos) AS DOUBLE) / 1e12) * $scale AS rp_$j"
    }.mkString(",\n  ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
       |SELECT vec_id,
       |  $cols
       |FROM e""".stripMargin
  }

  /** The GIF oracle reaches each pixel ONLY through its integer formula;
    * the engine reaches it only through LZW decode of the encoded GIF —
    * a hash match certifies the codec round trip. */
  private val gifFramesOracle: String =
    """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents WHERE doc_id % 17 = 0),
      |f AS (SELECT id, 4 + id % 3 AS n_frames,
      |    unnest(generate_series(0, 3 + id % 3)) AS frame_index FROM d),
      |kept AS (SELECT * FROM f WHERE frame_index % 2 = 0),
      |px AS (SELECT id, frame_index, n_frames,
      |    (id*31 + frame_index*7 + i) % 256 AS val
      |  FROM kept, (SELECT unnest(generate_series(0, 255)) * 13 AS i))
      |SELECT id, frame_index, n_frames,
      |  CAST(16 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
      |  CAST(SUM(val) AS BIGINT) AS lum_sum,
      |  CAST(MIN(val) AS BIGINT) AS lum_min,
      |  CAST(MAX(val) AS BIGINT) AS lum_max
      |FROM px GROUP BY id, frame_index, n_frames""".stripMargin

  /** Hybrid BM25 ⊕ dense RRF: the sparse leg replays the tx_bm25 recipe
    * with the query-term JOIN in place of the literal bag; the dense leg
    * is the ss_cosine_topk CTE at k = 20; fusion sums 9dp-DECIMAL
    * reciprocal ranks (order-independent, like every decimal score sum
    * in this file). */
  private val hybridRrfOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
       |  FROM documents),
       |tok AS (SELECT doc_id, term FROM toks WHERE term <> ''),
       |qterms AS (SELECT DISTINCT doc_id AS query_id, term FROM tok WHERE doc_id < 10),
       |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
       |stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl FROM dl),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
       |       WHERE term IN (SELECT DISTINCT term FROM qterms)
       |       GROUP BY doc_id, term),
       |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
       |scored AS (
       |  SELECT doc_id, term,
       |    CAST(round((ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * (tf * 2.2))
       |      / (tf + 1.2 * (0.25 + 0.75 * dl / (total_dl / n_docs))), 6)
       |      AS DECIMAL(18,6)) AS score_t
       |  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats),
       |sq AS (
       |  SELECT q.query_id, s.doc_id, SUM(s.score_t) AS bm25_dec
       |  FROM scored s JOIN qterms q USING (term) GROUP BY q.query_id, s.doc_id),
       |sparse AS (
       |  SELECT * FROM (SELECT query_id, doc_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY bm25_dec DESC, doc_id) AS rank
       |    FROM sq) WHERE rank <= 20),
       |qv AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_vec
       |  FROM embeddings WHERE vec_id < 10),
       |cv AS (SELECT vec_id AS doc_id, CAST(embedding AS DOUBLE[]) AS c_vec FROM embeddings),
       |dpairs AS (
       |  SELECT query_id, doc_id,
       |    CASE WHEN sqrt(list_dot_product(q_vec,q_vec)) * sqrt(list_dot_product(c_vec,c_vec)) = 0 THEN 0.0
       |      ELSE list_dot_product(q_vec, c_vec)
       |        / (sqrt(list_dot_product(q_vec,q_vec)) * sqrt(list_dot_product(c_vec,c_vec))) END AS cs
       |  FROM cv, qv WHERE doc_id <> query_id),
       |dense AS (
       |  SELECT * FROM (SELECT query_id, doc_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, doc_id) AS rank
       |    FROM dpairs) WHERE rank <= 20),
       |u AS (
       |  SELECT query_id, doc_id, 'sparse' AS src, rank FROM sparse
       |  UNION ALL SELECT query_id, doc_id, 'dense', rank FROM dense),
       |f AS (
       |  SELECT query_id, doc_id,
       |    SUM(CAST(round(1.0 / (60.0 + CAST(rank AS DOUBLE)), 9) AS DECIMAL(18,9))) AS rrf_dec,
       |    COALESCE(MAX(CASE WHEN src = 'sparse' THEN rank END), 0) AS sparse_rank,
       |    COALESCE(MAX(CASE WHEN src = 'dense' THEN rank END), 0) AS dense_rank
       |  FROM u GROUP BY query_id, doc_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rrf_dec DESC, doc_id) AS fused_rank FROM f)
       |SELECT query_id, doc_id, CAST(rrf_dec AS DOUBLE) AS rrf,
       |  CAST(sparse_rank AS BIGINT) AS sparse_rank,
       |  CAST(dense_rank AS BIGINT) AS dense_rank,
       |  CAST(fused_rank AS BIGINT) AS fused_rank
       |FROM r WHERE fused_rank <= 10""".stripMargin

  private val staticOracles: Map[String, String] = Map(
    "ss_hybrid_rrf" -> hybridRrfOracle,
    "mm_gif_frames" -> gifFramesOracle,
    "ss_rp_reduce" -> rpReduceOracle,
    "dd_minhash_lsh" -> minhashOracle,
    "dd_setsim_join" ->
      """WITH toks0 AS (
        |  SELECT DISTINCT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        |  FROM documents WHERE doc_id < 1000),
        |tok2 AS (SELECT doc_id, tok FROM toks0 WHERE tok <> ''),
        |freq AS (SELECT tok, COUNT(*) AS tf FROM tok2 GROUP BY tok),
        |pl AS (
        |  SELECT doc_id, list(t.tok ORDER BY f.tf, t.tok) AS toks, COUNT(*) AS n,
        |    CAST(COUNT(*) - ceil(0.7 * COUNT(*)) + 1 AS BIGINT) AS p
        |  FROM tok2 t JOIN freq f USING (tok) GROUP BY doc_id),
        |pre AS (SELECT doc_id, n, unnest(toks[1:p]) AS tok FROM pl),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM pre a JOIN pre b ON a.tok = b.tok
        |  WHERE a.doc_id < b.doc_id
        |    AND 0.7 * a.n <= b.n AND 0.7 * b.n <= a.n),
        |v AS (
        |  SELECT id_a, id_b, la.n AS n_a, lb.n AS n_b,
        |    CAST(len(list_intersect(la.toks, lb.toks)) AS BIGINT) AS inter
        |  FROM cand JOIN pl la ON la.doc_id = id_a JOIN pl lb ON lb.doc_id = id_b)
        |SELECT id_a, id_b, n_a, n_b, inter,
        |  CAST(inter AS DOUBLE) / (n_a + n_b - inter) AS jaccard
        |FROM v WHERE CAST(inter AS DOUBLE) / (n_a + n_b - inter) >= 0.7""".stripMargin,
    "er_sorted_pairs" ->
      """WITH c AS (SELECT c_custkey AS id, c_name AS name,
        |  reverse(c_name) AS sk, c_nationkey AS blk FROM customer),
        |nb AS (
        |  SELECT id, name,
        |    lead(id, 1) OVER (PARTITION BY blk ORDER BY sk, id) AS id_b,
        |    lead(name, 1) OVER (PARTITION BY blk ORDER BY sk, id) AS name_b FROM c
        |  UNION ALL
        |  SELECT id, name,
        |    lead(id, 2) OVER (PARTITION BY blk ORDER BY sk, id),
        |    lead(name, 2) OVER (PARTITION BY blk ORDER BY sk, id) FROM c
        |  UNION ALL
        |  SELECT id, name,
        |    lead(id, 3) OVER (PARTITION BY blk ORDER BY sk, id),
        |    lead(name, 3) OVER (PARTITION BY blk ORDER BY sk, id) FROM c),
        |v AS (SELECT id, id_b, levenshtein(name, name_b) AS dist
        |  FROM nb WHERE id_b IS NOT NULL)
        |SELECT LEAST(id, id_b) AS id_a, GREATEST(id, id_b) AS id_b,
        |  CAST(dist AS BIGINT) AS dist
        |FROM v WHERE dist <= 1""".stripMargin,
    "er_fuzzy_pairs" ->
      """WITH c AS (SELECT c_custkey AS id, c_name AS name,
        |  substr(c_name, 1, length(c_name)-2) AS blk FROM customer),
        |ok AS (SELECT blk FROM c GROUP BY blk HAVING COUNT(*) <= 1000),
        |p AS (SELECT a.id AS id_a, b.id AS id_b, a.name AS name_a, b.name AS name_b,
        |    levenshtein(a.name, b.name) AS dist
        |  FROM c a JOIN c b ON a.blk = b.blk JOIN ok ON ok.blk = a.blk
        |  WHERE a.id < b.id)
        |SELECT id_a, id_b, name_a, name_b, CAST(dist AS BIGINT) AS dist
        |FROM p WHERE dist <= 1""".stripMargin,
    "er_resolve" ->
      """WITH RECURSIVE c AS (SELECT c_custkey AS id, c_name AS name,
        |  substr(c_name, 1, length(c_name)-2) AS blk
        |  FROM customer WHERE c_custkey < 300),
        |ok AS (SELECT blk FROM c GROUP BY blk HAVING COUNT(*) <= 1000),
        |p AS (SELECT a.id AS id_a, b.id AS id_b
        |  FROM c a JOIN c b ON a.blk = b.blk JOIN ok ON ok.blk = a.blk
        |  WHERE a.id < b.id AND levenshtein(a.name, b.name) <= 1),
        |und AS (SELECT id_a AS a, id_b AS b FROM p UNION ALL SELECT id_b, id_a FROM p),
        |reach AS (
        |  SELECT a AS src, b AS dst FROM und
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN und e ON r.dst = e.a)
        |SELECT d.id,
        |  LEAST(d.id, COALESCE(MIN(r.dst), d.id)) AS canonical_id,
        |  (LEAST(d.id, COALESCE(MIN(r.dst), d.id)) = d.id) AS is_canonical
        |FROM c d LEFT JOIN reach r ON r.src = d.id
        |GROUP BY d.id""".stripMargin,
    "dd_embed_dupheavy" -> embedDupHeavyOracle,
    "er_fuzzy_dupheavy" ->
      """WITH base AS (SELECT c_custkey AS bid, c_name AS bname
        |  FROM customer WHERE c_custkey < 100),
        |fix AS (SELECT bid * 10 + r.rep AS id,
        |    CASE WHEN r.rep >= 8
        |      THEN substr(bname, 1, length(bname)-1) ||
        |           (CASE WHEN r.rep = 8 THEN 'x' ELSE 'y' END)
        |      ELSE bname END AS name
        |  FROM base CROSS JOIN (SELECT unnest(range(10)) AS rep) r),
        |c AS (SELECT id, name, substr(name, 1, length(name)-2) AS blk FROM fix),
        |ok AS (SELECT blk FROM c GROUP BY blk HAVING COUNT(*) <= 1000),
        |p AS (SELECT a.id AS id_a, b.id AS id_b, a.name AS name_a, b.name AS name_b,
        |    levenshtein(a.name, b.name) AS dist
        |  FROM c a JOIN c b ON a.blk = b.blk JOIN ok ON ok.blk = a.blk
        |  WHERE a.id < b.id)
        |SELECT id_a, id_b, name_a, name_b, CAST(dist AS BIGINT) AS dist
        |FROM p WHERE dist <= 1""".stripMargin,
    "dd_simhash" -> simhashOracle,
    "mm_decode_features" -> decodeFeaturesOracle,
    "mm_codec_features" -> codecFeaturesOracle,
    "ss_quant_topk" -> quantTopKOracle,
    "dd_embed_cosine" -> embedCosineOracle,
    "ss_lsh_topk" -> lshTopKOracle,
    "dd_cluster" ->
      s"""WITH RECURSIVE ${ngramCandCte("WHERE doc_id < 50", blockHashes = 16, blockBands = 16)},
        |pairs AS (SELECT id_a, id_b FROM cand WHERE jaccard >= 0.25),
        |und AS (SELECT id_a AS a, id_b AS b FROM pairs UNION ALL SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT a AS src, b AS dst FROM und
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN und e ON r.dst = e.a
        |)
        |SELECT d.doc_id,
        |  LEAST(d.doc_id, COALESCE(MIN(r.dst), d.doc_id)) AS canonical_id,
        |  (LEAST(d.doc_id, COALESCE(MIN(r.dst), d.doc_id)) = d.doc_id) AS is_canonical
        |FROM (SELECT doc_id FROM documents WHERE doc_id < 50) d
        |LEFT JOIN reach r ON r.src = d.doc_id
        |GROUP BY d.doc_id""".stripMargin,
    "ss_knn_classify" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_vec
        |  FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS c_vec, label
        |  FROM embeddings WHERE vec_id >= 10),
        |pairs AS (
        |  SELECT query_id, neighbor_id, label,
        |    CASE WHEN sqrt(list_dot_product(q_vec,q_vec)) * sqrt(list_dot_product(c_vec,c_vec)) = 0 THEN 0.0
        |      ELSE list_dot_product(q_vec, c_vec)
        |        / (sqrt(list_dot_product(q_vec,q_vec)) * sqrt(list_dot_product(c_vec,c_vec))) END AS cosine_sim
        |  FROM c, q WHERE neighbor_id <> query_id),
        |ranked AS (
        |  SELECT query_id, label,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id) AS rank
        |  FROM pairs),
        |votes AS (SELECT query_id, label, COUNT(*) AS votes FROM ranked
        |  WHERE rank <= 5 GROUP BY 1, 2),
        |best AS (SELECT query_id, label AS pred_label, votes FROM (
        |    SELECT query_id, label, votes,
        |      row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, label ASC) AS rn
        |    FROM votes) WHERE rn = 1)
        |SELECT b.query_id, t.label AS true_label, b.pred_label, b.votes
        |FROM best b JOIN (SELECT vec_id, label FROM embeddings WHERE vec_id < 10) t
        |  ON t.vec_id = b.query_id""".stripMargin,
    "ss_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_vec
        |  FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS c_vec FROM embeddings),
        |pairs AS (
        |  SELECT query_id, neighbor_id,
        |    CASE WHEN sqrt(list_dot_product(q_vec,q_vec)) * sqrt(list_dot_product(c_vec,c_vec)) = 0 THEN 0.0
        |      ELSE list_dot_product(q_vec, c_vec)
        |        / (sqrt(list_dot_product(q_vec,q_vec)) * sqrt(list_dot_product(c_vec,c_vec))) END AS cosine_sim
        |  FROM c, q WHERE neighbor_id <> query_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cosine_sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id) AS rank
        |  FROM pairs)
        |SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS BIGINT) AS rank
        |FROM ranked WHERE rank <= 5""".stripMargin,
    "dd_ngram_jaccard" ->
      s"""WITH ${ngramCandCte("WHERE doc_id < 50", blockHashes = 16, blockBands = 8)}
        |SELECT id_a, id_b, jaccard FROM cand""".stripMargin,
    "tx_langid" -> langIdOracle,
    "mm_frame_sample" ->
      """WITH t AS (SELECT doc_id AS id, hex(encode(text)) AS h,
        |  CAST(ceil(octet_length(encode(text)) / 64.0) AS BIGINT) AS n_frames FROM documents),
        |f AS (SELECT id, h, unnest(range(0, n_frames)) AS idx FROM t)
        |SELECT id, CAST(idx AS BIGINT) AS frame_index,
        |  md5(substring(h, CAST(idx*128+1 AS BIGINT), 128)) AS frame_md5
        |FROM f WHERE idx % 2 = 0""".stripMargin,
    "tx_fingerprint" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm,
        |    string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents)
        |SELECT doc_id, md5(norm) AS fp_md5,
        |  CAST(CASE WHEN len(toks) < 5 THEN 1
        |    ELSE len(list_distinct(list_transform(generate_series(1, len(toks)-4),
        |      i -> array_to_string(toks[i:i+4], ' '))))
        |  END AS BIGINT) AS n_shingles
        |FROM t""".stripMargin,
    "mm_binary_meta" ->
      """SELECT doc_id, 'text/plain' AS format,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS content_md5
        |FROM documents""".stripMargin)
}
