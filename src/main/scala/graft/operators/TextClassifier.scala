package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multinomial Naive Bayes text classification — the classic
  * counting-based quality/language classifier every large-scale curation
  * pipeline trains over its own corpus (CCNet's fastText gate, quality
  * tiers, language routing). Chosen over gradient-trained models because
  * its sufficient statistics are pure COUNTS: training is one
  * groupBy((class, token)) aggregation, scoring is one token join + one
  * per-doc aggregation, and with the repo's quantized-log algebra the
  * whole model (priors, smoothed token log-likelihoods, unseen-token
  * defaults) is exactly replayable in SQL — a hash-matchable oracle for
  * a trained-and-applied classifier, which no float-gradient model
  * offers.
  *
  * Determinism: every log-likelihood is `round(ln(·), 6)` cast to
  * DECIMAL(18,6) at the term level (the unigramLogprob lesson — quantize
  * once, then all sums are exact and order-independent); per-class
  * document scores are decimal sums, and the argmax breaks ties on the
  * smaller class label, so predictions replay bit-for-bit cross-engine.
  *
  * Scale shape: shuffles carry (doc, token) pairs and the (class, token)
  * count table — never document text. The model is vocab-sized and
  * broadcast under a width-scaled guard (k+1 columns); the per-doc
  * score aggregation is ONE map-side-combined exchange keyed by doc id.
  * The class list itself is semantically bounded (languages / quality
  * tiers) — the only driver-side collect, size-asserted.
  */
object TextClassifier {

  /** Laplace-smoothed per-class model constants, collected driver-side
    * (k rows): (label, nDocs, nTokens, prior, unseen-token default). */
  private[graft] final case class NbClass(label: String, nDocs: Long,
      nTokens: Long, prior: java.math.BigDecimal, dflt: java.math.BigDecimal)

  private[graft] val MaxClasses = 256

  private def toks(df: DataFrame, keyCols: Seq[Column], textCol: String): DataFrame =
    df.select(keyCols :+ explode(split(trim(lower(col(textCol))), "\\s+")).as("tok"): _*)
      .where(col("tok") =!= "")

  /** Train on `train` (must carry `labelCol`), returning the per-class
    * stats frame: (label, n_docs, n_tokens, vocab, prior, dflt_logp) —
    * the model's audit surface. Vocabulary size is the number of
    * distinct train tokens; prior = round(ln(n_docs/total),6); an
    * unseen token contributes dflt_logp = round(ln(1/(n_tokens+V)),6)
    * to that class's score. */
  def nbClassStats(train: DataFrame, textCol: String, labelCol: String): DataFrame = {
    val (cnt, docs) = trainCounts(train, textCol, labelCol)
    classStatsDF(cnt, vocabSize(cnt), docs)
  }

  /** The model's sufficient statistics — (class, token) counts and
    * per-class doc counts. Pure counts merge by ADDITION, which is what
    * makes the streaming twin ([[graft.streaming.StreamingNb]]) exact.
    * `cnt` is checkpointed — it feeds the vocab count, the totals, and
    * the per-token log-likelihoods. */
  private[graft] def trainCounts(train: DataFrame, textCol: String, labelCol: String)
      : (DataFrame, DataFrame) = {
    val cnt = toks(train, Seq(col(labelCol).cast("string").as("__cls")), textCol)
      .groupBy("__cls", "tok").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val docs = train.groupBy(col(labelCol).cast("string").as("__cls"))
      .agg(count(lit(1)).as("nd"))
    (cnt, docs)
  }

  private[graft] def vocabSize(cnt: DataFrame): Long =
    cnt.select("tok").distinct().count()

  private[graft] def classStatsDF(cnt: DataFrame, vocab: Long, docs: DataFrame): DataFrame = {
    val tot = cnt.groupBy("__cls").agg(sum(col("c")).as("t"))
    // a class whose every train doc is empty has docs but no tokens —
    // left join keeps it (t = 0; smoothing still defines its model)
    docs.join(tot, Seq("__cls"), "left")
      .select(col("__cls").as("label"), col("nd").as("n_docs"),
        coalesce(col("t"), lit(0L)).as("n_tokens"), lit(vocab).as("vocab"),
        round(log(col("nd").cast("double") /
          sum(col("nd")).over(GlobalWindow.all)
            .cast("double")), 6).cast("decimal(18,6)").as("prior"),
        round(log(lit(1.0) / (coalesce(col("t"), lit(0L)) + vocab).cast("double")), 6)
          .cast("decimal(18,6)").as("dflt_logp"))
  }

  /** Train on `train`, predict on `test`: returns one row per test doc
    * — (idCol, pred) with pred the argmax class (score ties → smaller
    * label). Test docs with zero tokens score exactly the priors. */
  def nbPredict(train: DataFrame, test: DataFrame, idCol: String,
      textCol: String, labelCol: String): DataFrame = {
    val (cnt, docs) = trainCounts(train, textCol, labelCol)
    nbPredictFromCounts(cnt, docs, vocabSize(cnt), test, idCol, textCol)
  }

  /** [[nbPredict]] from pre-aggregated sufficient statistics — the entry
    * point the streaming twin folds its per-batch count blocks into. */
  private[graft] def nbPredictFromCounts(cnt: DataFrame, docs: DataFrame,
      vocab: Long, test: DataFrame, idCol: String, textCol: String): DataFrame = {
    val stats = classStatsDF(cnt, vocab, docs)
      .select("label", "prior", "dflt_logp", "n_tokens")
      .collect()
      .map(r => NbClass(r.getString(0), 0L, r.getLong(3),
        r.getDecimal(1), r.getDecimal(2)))
      .sortBy(_.label)
    require(stats.nonEmpty, "naive Bayes needs at least one training class")
    require(stats.length <= MaxClasses,
      s"naive Bayes collects the class list driver-side; ${stats.length} classes " +
        s"exceed the $MaxClasses semantic bound — a class column this wide is a key, not a label")

    // per-(token, class) smoothed log-likelihood, pivoted to one
    // vocab-sized row per token with k decimal columns
    val tot = cnt.groupBy("__cls").agg(sum(col("c")).as("t"))
    val logp = cnt.join(broadcast(tot), "__cls")
      .select(col("__cls"), col("tok"),
        round(log((col("c") + 1).cast("double") / (col("t") + vocab).cast("double")), 6)
          .cast("decimal(18,6)").as("lp"))
    val labels = stats.map(_.label).toSeq
    val model = logp.groupBy("tok").pivot("__cls", labels).agg(first(col("lp")))
    val modelCols = col("tok") +: labels.zipWithIndex.map { case (l, i) =>
      model(l).as(s"lp_$i")
    }
    val modelW = model.select(modelCols: _*)

    // width-scaled broadcast guard: the model is (k+1)-column,
    // vocab rows (known exactly — no extra count)
    val fits = vocab <= GraphAnalytics.maxBroadcastRows(
      GraphAnalytics.maxBroadcastVerticesDyn, labels.length + 1)
    val modelSide = if (fits) broadcast(modelW) else modelW

    val testToks = toks(test, Seq(col(idCol)), textCol)
    val aggCols = stats.zipWithIndex.map { case (c, i) =>
      sum(coalesce(col(s"lp_$i"), lit(c.dflt))).as(s"s_$i")
    }
    val sums = testToks.join(modelSide, Seq("tok"), "left")
      .groupBy(col(idCol)).agg(aggCols.head, aggCols.tail: _*)

    // left join back so zero-token docs survive with prior-only scores;
    // argmax = array_min over (−score, label) structs — exact decimal
    // comparison, ties to the smaller label
    val scored = test.select(col(idCol)).join(sums, Seq(idCol), "left")
    val best = array_min(array(stats.zipWithIndex.map { case (c, i) =>
      struct(
        (-(lit(c.prior) + coalesce(col(s"s_$i"), lit(java.math.BigDecimal.ZERO))))
          .cast("decimal(38,6)").as("negscore"),
        lit(c.label).as("cls"))
    }: _*))
    scored.select(col(idCol), best.getField("cls").as("pred"))
  }
}
