package graft.ops

import graft.ops.Checkpoints.BarrierOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Model-based quality filtering — the fastText-style linear classifier the
  * CCNet / GPT-3 / LLaMA data pipelines train on weak labels and then apply
  * corpus-wide as a curation gate (Joulin et al. '16, arXiv:1607.01759;
  * Wenzek et al. '19, arXiv:1911.00359; Brown et al. '20 §A).
  *
  * The model here is hashed-unigram NAIVE BAYES, deliberately: training is
  * CLOSED-FORM (per-bucket class counts + priors), so the entire
  * train → score → evaluate loop is a handful of map-side-combinable
  * aggregations over one corpus explode — no gradient iterations, no driver
  * loop, no state beyond the B-row weight table. At 100 TB that means: one
  * shuffle of the (doc, bucket) spine keyed by doc, one vocabulary-sized
  * reduction to B buckets, and a broadcast of B+1 decimal weights back over
  * the corpus. (An SGD logistic model needs K sequential passes for the same
  * plumbing — the NB posterior is the standard seed/baseline for exactly
  * this reason.)
  *
  * Determinism: per-bucket log-likelihood-ratio weights and the class-prior
  * log-odds pin to DECIMAL(18,4) (exact, associative), so per-doc scores are
  * partitioning-independent and engine-portable — the same contract t23's
  * DSIR weights use. The weight table is dense over all B buckets (built
  * from `spark.range(B)`), so scoring never loses a term to an absent
  * train-side bucket.
  */
object Classifier {

  /** Per-doc NB scores: train on the non-holdout slice against the weak
    * label `labelPred`, score EVERY doc (train and holdout) with
    * prior-log-odds + Σ count·λ(bucket).
    *
    * Returns (idCol, is_holdout, label, n_words, nb_score, predicted); docs
    * with no words score at the bare prior. */
  def nbScores(df: DataFrame, idCol: String, textCol: String,
      labelPred: Column, holdoutPred: Column, buckets: Int = 1024): DataFrame = {
    val spark = df.sparkSession
    val dec = DecimalType(18, 4)
    // Label/holdout flags evaluated ONCE per doc (the t23 lesson: a
    // doc-level predicate projected through the explode gets re-evaluated
    // per word occurrence).
    // Checkpointed: three consumers (the spine join, the prior, the final
    // doc frame) must not each re-scan the corpus and re-evaluate the
    // label expression. Doc-count rows × 3 columns.
    val flags = df.select(col(idCol), labelPred.as("__t"), holdoutPred.as("__h"))
      .barrier()
    // (doc, bucket) count spine: md5 bucketing on the reduced distinct
    // (doc, word) pairs, not per occurrence; both aggs combine map-side.
    val docBuckets = df
      .select(col(idCol), explode(split(col(textCol), " ")).as("__w"))
      .filter(col("__w") =!= "")
      .groupBy(col(idCol), col("__w"))
      .agg(count(lit(1)).as("__c"))
      .select(col(idCol),
        Normalize.hashBucket(col("__w"), buckets).as("__b"), col("__c"))
      .groupBy(col(idCol), col("__b"))
      .agg(sum(col("__c")).as("__cnt"))
      .join(flags, Seq(idCol)).barrier()
    // Closed-form training on the train slice only.
    val trainB = docBuckets.filter(!col("__h")).groupBy(col("__b")).agg(
      sum(when(col("__t"), col("__cnt")).otherwise(0L)).as("__ct"),
      sum(when(!col("__t"), col("__cnt")).otherwise(0L)).as("__cr"))
    val tot = trainB.agg(
      sum(col("__ct")).as("__tt"), sum(col("__cr")).as("__tr"))
    // Dense Laplace-smoothed log-likelihood-ratio weights over ALL buckets:
    // a bucket unseen in training still contributes its smoothed weight.
    val lam = spark.range(buckets).select(col("id").as("__b"))
      .join(trainB, Seq("__b"), "left")
      .select(col("__b"), coalesce(col("__ct"), lit(0L)).as("__ct"),
        coalesce(col("__cr"), lit(0L)).as("__cr"))
      .crossJoin(broadcast(tot))
      .select(col("__b"), round(
        log((col("__ct") + 1).cast("double") /
          (col("__tt") + buckets).cast("double")) -
        log((col("__cr") + 1).cast("double") /
          (col("__tr") + buckets).cast("double")), 4)
        .cast(dec).as("__lam"))
    // Class-prior log-odds from train doc counts (add-one smoothed).
    val prior = flags.filter(!col("__h")).agg(
      sum(when(col("__t"), 1L).otherwise(0L)).as("__np"),
      sum(when(!col("__t"), 1L).otherwise(0L)).as("__nn"))
      .select(round(
        log((col("__np") + 1).cast("double") /
          (col("__np") + col("__nn") + 2).cast("double")) -
        log((col("__nn") + 1).cast("double") /
          (col("__np") + col("__nn") + 2).cast("double")), 4)
        .cast(dec).as("__lam0"))
    val perDoc = docBuckets.join(broadcast(lam), Seq("__b"))
      .groupBy(col(idCol))
      .agg(sum(col("__cnt")).as("__nw"),
        sum(col("__cnt") * col("__lam")).as("__s"))
    flags.join(perDoc, Seq(idCol), "left")
      .crossJoin(broadcast(prior))
      .select(col(idCol), col("__h").as("is_holdout"), col("__t").as("label"),
        coalesce(col("__nw"), lit(0L)).as("n_words"),
        (col("__lam0") + coalesce(col("__s"), lit(0).cast(dec)))
          .cast("double").as("nb_score"))
      .withColumn("predicted", col("nb_score") > 0.0)
  }

  /** Held-out confusion matrix + metrics for [[nbScores]] — one row:
    * (n_train, n_holdout, tp, fp, fn, tn, accuracy, precision, recall).
    * Ratio denominators guard to NULL, mirroring SQL division semantics. */
  def nbHoldoutEval(scored: DataFrame): DataFrame = {
    val h = scored.filter(col("is_holdout"))
    val cm = h.agg(
      sum(when(col("label") && col("predicted"), 1L).otherwise(0L)).as("tp"),
      sum(when(!col("label") && col("predicted"), 1L).otherwise(0L)).as("fp"),
      sum(when(col("label") && !col("predicted"), 1L).otherwise(0L)).as("fn"),
      sum(when(!col("label") && !col("predicted"), 1L).otherwise(0L)).as("tn"))
    val nTrain = scored.filter(!col("is_holdout"))
      .agg(count(lit(1)).as("n_train"))
    cm.crossJoin(broadcast(nTrain))
      .select(col("n_train"),
        (col("tp") + col("fp") + col("fn") + col("tn")).as("n_holdout"),
        col("tp"), col("fp"), col("fn"), col("tn"))
      .withColumn("accuracy", round((col("tp") + col("tn")).cast("double") /
        col("n_holdout"), 6))
      .withColumn("precision", when(col("tp") + col("fp") > 0,
        round(col("tp").cast("double") / (col("tp") + col("fp")), 6)))
      .withColumn("recall", when(col("tp") + col("fn") > 0,
        round(col("tp").cast("double") / (col("tp") + col("fn")), 6)))
  }

  /** Operating-point sweep over the held-out slice: one row per candidate
    * decision threshold with its confusion matrix and precision/recall/F1
    * — the artifact that picks the gate's threshold (a filter tuned for
    * recall keeps more data; tuned for precision keeps cleaner data). One
    * pass over the holdout: a thresholds-sized Generate then a ≤
    * |thresholds| aggregation. */
  def nbPrCurve(scored: DataFrame, thresholds: Seq[Double]): DataFrame =
    scored.filter(col("is_holdout"))
      .select(col("label"), col("nb_score"),
        explode(lit(thresholds.toArray)).as("threshold"))
      .groupBy(col("threshold"))
      .agg(
        sum(when(col("label") && col("nb_score") > col("threshold"), 1L)
          .otherwise(0L)).as("tp"),
        sum(when(!col("label") && col("nb_score") > col("threshold"), 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("label") && !(col("nb_score") > col("threshold")), 1L)
          .otherwise(0L)).as("fn"),
        sum(when(!col("label") && !(col("nb_score") > col("threshold")), 1L)
          .otherwise(0L)).as("tn"))
      .withColumn("precision", when(col("tp") + col("fp") > 0,
        round(col("tp").cast("double") / (col("tp") + col("fp")), 6)))
      .withColumn("recall", when(col("tp") + col("fn") > 0,
        round(col("tp").cast("double") / (col("tp") + col("fn")), 6)))
      .withColumn("f1", when(lit(2L) * col("tp") + col("fp") + col("fn") > 0,
        round(lit(2.0) * col("tp") /
          (lit(2L) * col("tp") + col("fp") + col("fn")), 6)))

  /** Reliability diagram (calibration bins) over the held-out slice — the
    * standard check BEFORE a score threshold is treated as a probability
    * (Guo et al. '17 "On Calibration of Modern Neural Networks" popularized
    * the ECE form; NB scores are famously over-confident, which is exactly
    * what this surfaces). Per equal-width probability bin of the sigmoid'd
    * NB score: document count, mean predicted probability, empirical
    * positive rate, and the signed gap — the Expected Calibration Error is
    * the count-weighted mean |gap|, which the spec derives from these rows.
    *
    * One filter + one B-bin aggregation over the scored frame: map-side
    * combinable, output is `bins` rows. Determinism: the sigmoid is rounded
    * to 6 decimals BEFORE binning and summing; sums run in DECIMAL(18,6)
    * (exact, associative) and each emitted ratio divides as double then
    * rounds — partitioning- and engine-independent. */
  def nbCalibration(scored: DataFrame, bins: Int = 10): DataFrame = {
    val dec6 = DecimalType(18, 6)
    val p = round(lit(1.0) / (lit(1.0) + exp(-col("nb_score"))), 6)
    scored.filter(col("is_holdout"))
      .withColumn("__p", p)
      .withColumn("bin",
        least(floor(col("__p") * bins), lit(bins - 1)).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("__p").cast(dec6)).as("__sp"),
        sum(when(col("label"), 1L).otherwise(0L)).as("__pos"))
      // exact integer HALF-UP ratios in micro-units (the t15/t34 half-tie
      // fix): round(S/n, 6) on the double quotient can land exactly on a
      // 1e-6 half-tie, where the engines' rounding algorithms disagree
      .select(col("bin"), col("n"),
        (expr("(2 * CAST(__sp * 1000000 AS BIGINT) + n) div (2 * n)")
          .cast("double") / 1000000.0).as("mean_p"),
        (expr("(2000000 * __pos + n) div (2 * n)")
          .cast("double") / 1000000.0).as("pos_rate"))
      .withColumn("gap", round(col("mean_p") - col("pos_rate"), 6))
  }

  /** Oracle-side spelling of [[nbCalibration]]. */
  def nbCalibrationSql(idExpr: String, textExpr: String, table: String,
      labelSql: String, holdoutSql: String, buckets: Int,
      bins: Int): String =
    s"""WITH ${scoredCtes(idExpr, textExpr, table, labelSql, holdoutSql, buckets)},
       |pr AS (
       |  SELECT label,
       |    round(1.0 / (1.0 + exp(-nb_score)), 6) AS p
       |  FROM scored WHERE is_holdout),
       |b AS (
       |  SELECT CAST(least(floor(p * $bins), $bins - 1) AS BIGINT) AS bin,
       |    CAST(COUNT(*) AS BIGINT) AS n,
       |    SUM(CAST(p AS DECIMAL(18,6))) AS sp,
       |    SUM(CASE WHEN label THEN 1 ELSE 0 END) AS pos
       |  FROM pr GROUP BY 1),
       |r AS (
       |  SELECT bin, n,
       |    CAST((2 * CAST(sp * 1000000 AS BIGINT) + n) // (2 * n) AS DOUBLE)
       |      / 1000000.0 AS mean_p,
       |    CAST((2000000 * pos + n) // (2 * n) AS DOUBLE) / 1000000.0 AS pos_rate
       |  FROM b)
       |SELECT bin, n, mean_p, pos_rate,
       |  round(mean_p - pos_rate, 6) AS gap
       |FROM r""".stripMargin

  /** The shared CTE block ending in `scored` (id, is_holdout, label,
    * n_words, nb_score) — the oracle replay of [[nbScores]]. */
  private def scoredCtes(idExpr: String, textExpr: String, table: String,
      labelSql: String, holdoutSql: String, buckets: Int): String =
      s"""flags AS MATERIALIZED (
         |  SELECT $idExpr AS id, ($labelSql) AS t, ($holdoutSql) AS h
         |  FROM $table),
         |w AS (
         |  SELECT $idExpr AS id, unnest(string_split($textExpr, ' ')) AS word
         |  FROM $table),
         |dw AS (
         |  SELECT id, word, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM w WHERE word <> '' GROUP BY 1, 2),
         |db AS MATERIALIZED (
         |  SELECT id, ${Normalize.hashBucketSql("word", buckets)} AS b,
         |    CAST(SUM(c) AS BIGINT) AS cnt
         |  FROM dw GROUP BY 1, 2),
         |trainb AS MATERIALIZED (
         |  SELECT b,
         |    SUM(CASE WHEN t THEN cnt ELSE 0 END) AS ct,
         |    SUM(CASE WHEN NOT t THEN cnt ELSE 0 END) AS cr
         |  FROM db JOIN flags USING (id) WHERE NOT h GROUP BY 1),
         |tot AS (SELECT SUM(ct) AS tt, SUM(cr) AS tr FROM trainb),
         |lam AS (
         |  SELECT r.range AS b, CAST(round(
         |    ln((COALESCE(ct, 0) + 1) / CAST(tt + $buckets AS DOUBLE)) -
         |    ln((COALESCE(cr, 0) + 1) / CAST(tr + $buckets AS DOUBLE)), 4)
         |    AS DECIMAL(18,4)) AS lam
         |  FROM range($buckets) r LEFT JOIN trainb ON r.range = trainb.b
         |  CROSS JOIN tot),
         |prior AS (
         |  SELECT CAST(round(
         |    ln((SUM(CASE WHEN t THEN 1 ELSE 0 END) + 1) /
         |      CAST(COUNT(*) + 2 AS DOUBLE)) -
         |    ln((SUM(CASE WHEN NOT t THEN 1 ELSE 0 END) + 1) /
         |      CAST(COUNT(*) + 2 AS DOUBLE)), 4) AS DECIMAL(18,4)) AS lam0
         |  FROM flags WHERE NOT h),
         |perdoc AS (
         |  SELECT id, SUM(cnt) AS nw, SUM(cnt * lam) AS s
         |  FROM db JOIN lam USING (b) GROUP BY 1),
         |scored AS (
         |  SELECT flags.id, h AS is_holdout, t AS label,
         |    CAST(COALESCE(nw, 0) AS BIGINT) AS n_words,
         |    CAST(lam0 + COALESCE(s, CAST(0 AS DECIMAL(18,4))) AS DOUBLE)
         |      AS nb_score
         |  FROM flags LEFT JOIN perdoc ON flags.id = perdoc.id
         |  CROSS JOIN prior)""".stripMargin

  /** Oracle-side spelling of [[nbScores]] + [[nbHoldoutEval]] as one DuckDB
    * statement; `labelSql`/`holdoutSql` are doc-level boolean expressions
    * over `table`'s columns. Emits the per-doc scored rows when
    * `perDoc = true`, else the 1-row eval. */
  def nbSql(idExpr: String, textExpr: String, table: String,
      labelSql: String, holdoutSql: String, buckets: Int,
      perDoc: Boolean): String = {
    val scored = scoredCtes(idExpr, textExpr, table, labelSql, holdoutSql,
      buckets)
    if (perDoc)
      s"""WITH $scored
         |SELECT id AS doc_id, is_holdout, label, n_words, nb_score,
         |  nb_score > 0.0 AS predicted
         |FROM scored""".stripMargin
    else
      s"""WITH $scored,
         |p AS MATERIALIZED (SELECT *, nb_score > 0.0 AS predicted FROM scored),
         |cm AS (
         |  SELECT
         |    SUM(CASE WHEN label AND predicted THEN 1 ELSE 0 END) AS tp,
         |    SUM(CASE WHEN NOT label AND predicted THEN 1 ELSE 0 END) AS fp,
         |    SUM(CASE WHEN label AND NOT predicted THEN 1 ELSE 0 END) AS fn,
         |    SUM(CASE WHEN NOT label AND NOT predicted THEN 1 ELSE 0 END) AS tn
         |  FROM p WHERE is_holdout),
         |ntr AS (SELECT COUNT(*) AS n_train FROM p WHERE NOT is_holdout)
         |SELECT CAST(n_train AS BIGINT) AS n_train,
         |  CAST(tp + fp + fn + tn AS BIGINT) AS n_holdout,
         |  CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
         |  CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
         |  round(CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn), 6) AS accuracy,
         |  CASE WHEN tp + fp > 0
         |    THEN round(CAST(tp AS DOUBLE) / (tp + fp), 6) END AS precision,
         |  CASE WHEN tp + fn > 0
         |    THEN round(CAST(tp AS DOUBLE) / (tp + fn), 6) END AS recall
         |FROM cm CROSS JOIN ntr""".stripMargin
  }

  /** Oracle-side spelling of [[nbPrCurve]]. */
  def nbPrCurveSql(idExpr: String, textExpr: String, table: String,
      labelSql: String, holdoutSql: String, buckets: Int,
      thresholds: Seq[Double]): String = {
    val thrList = thresholds.mkString(", ")
    s"""WITH ${scoredCtes(idExpr, textExpr, table, labelSql, holdoutSql, buckets)},
       |thr AS (SELECT CAST(unnest([$thrList]) AS DOUBLE) AS threshold),
       |cm AS (
       |  SELECT threshold,
       |    SUM(CASE WHEN label AND nb_score > threshold THEN 1 ELSE 0 END) AS tp,
       |    SUM(CASE WHEN NOT label AND nb_score > threshold THEN 1 ELSE 0 END) AS fp,
       |    SUM(CASE WHEN label AND NOT (nb_score > threshold) THEN 1 ELSE 0 END) AS fn,
       |    SUM(CASE WHEN NOT label AND NOT (nb_score > threshold) THEN 1 ELSE 0 END) AS tn
       |  FROM scored CROSS JOIN thr WHERE is_holdout GROUP BY 1)
       |SELECT threshold,
       |  CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       |  CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
       |  CASE WHEN tp + fp > 0
       |    THEN round(CAST(tp AS DOUBLE) / (tp + fp), 6) END AS precision,
       |  CASE WHEN tp + fn > 0
       |    THEN round(CAST(tp AS DOUBLE) / (tp + fn), 6) END AS recall,
       |  CASE WHEN 2 * tp + fp + fn > 0
       |    THEN round(2.0 * tp / (2 * tp + fp + fn), 6) END AS f1
       |FROM cm""".stripMargin
  }

  /** Batch perceptron over the same hashed-unigram features — the
    * ITERATIVE-training complement of [[nbScores]] (closed-form) and the
    * OLS probe (one-pass moments): K SYNCHRONOUS rounds where every
    * misclassified train doc contributes its update simultaneously
    * (Rosenblatt '58 made distributed-deterministic, the LPA discipline —
    * the sequential perceptron's doc-order dependence cannot be replayed
    * across partitionings, the synchronous batch variant can).
    *
    * Round k, train slice only: margin(d) = Σ_b cnt(d,b)·w(b); d is
    * misclassified iff y(d)·margin(d) <= 0 (round 1 thus updates on every
    * train doc — w starts at 0); w'(b) = w(b) + Σ_miscl y(d)·cnt(d,b).
    * A constant BIAS feature (bucket index `buckets`, count 1 per doc)
    * rides the same update, so even an empty doc carries a margin. ALL
    * arithmetic is int64 — margins and weights are exact, partitioning-
    * independent, engine-portable, and an unrolled-rounds SQL oracle
    * replays them bit-identically (the gr1/gr5 contract).
    *
    * Scale shape: the (doc, bucket) spine is built once and checkpointed;
    * each round is one broadcast join of the (B+1)-row weight table onto
    * the spine + two map-side-combinable integer sums; weight state is
    * B+1 rows (KB-sized) at any corpus. K is fixed and small — the whole
    * loop is K bounded passes, never data-dependent iteration.
    *
    * Returns (idCol, is_holdout, label, margin, predicted) for EVERY doc
    * (train and holdout) under the final weights. */
  def perceptronScores(df: DataFrame, idCol: String, textCol: String,
      labelPred: Column, holdoutPred: Column, buckets: Int = 256,
      rounds: Int = 4): DataFrame = {
    require(rounds >= 1 && buckets >= 1, "need rounds >= 1 and buckets >= 1")
    // label/holdout evaluated once per doc (the t23 lesson), y in {+1,-1}
    val flags = df.select(col(idCol).as("__id"),
        when(labelPred, 1).otherwise(-1).as("__y"), holdoutPred.as("__h"))
      .barrier()
    val wordBuckets = df
      .select(col(idCol).as("__id"), explode(split(col(textCol), " ")).as("__w"))
      .filter(col("__w") =!= "")
      .groupBy(col("__id"), col("__w")).agg(count(lit(1)).as("__c"))
      .select(col("__id"), Normalize.hashBucket(col("__w"), buckets).as("__b"),
        col("__c"))
      .groupBy(col("__id"), col("__b")).agg(sum(col("__c")).as("__cnt"))
    // spine = word features + the per-doc bias feature, with flags inlined
    // so each round's two aggregations re-read ONE checkpointed table
    val spine = wordBuckets
      .unionByName(flags.select(col("__id"), lit(buckets.toLong).as("__b"),
        lit(1L).as("__cnt")))
      .join(flags, Seq("__id")).barrier()
    // Weight state is B+1 longs — KB driver state (the BPE-table license),
    // so each round holds it as an ARRAY LITERAL instead of a joined
    // DataFrame: the margin is then a window sum over the doc partition and
    // the round's update aggregates IN THE SAME PASS (filter misclassified
    // rows by the doc margin the window just attached, sum y·cnt per
    // bucket). One shuffle per round replaces the former margin join +
    // second spine join + per-round weight checkpoint (3 jobs → 1); all
    // arithmetic stays int64 and order-independent, so the weights are
    // bit-identical to the joined form (r12, guide §1.2/§2.4).
    var wts = Array.fill(buckets + 1)(0L)
    def wtCol: org.apache.spark.sql.Column =
      expr(wts.mkString("element_at(array(", "L, ", "L), CAST(__b + 1 AS INT))"))
    val docW = org.apache.spark.sql.expressions.Window.partitionBy(col("__id"))
    for (_ <- 1 to rounds) {
      val upd = spine
        .withColumn("__m", sum(col("__cnt") * wtCol).over(docW))
        .filter(!col("__h") && col("__y") * col("__m") <= 0)
        .groupBy(col("__b"))
        .agg(sum(col("__y") * col("__cnt")).as("__d"))
        .collect()
      upd.foreach(r => wts(r.getLong(0).toInt) += r.getLong(1))
    }
    spine
      .groupBy(col("__id"), col("__y"), col("__h"))
      .agg(sum(col("__cnt") * wtCol).as("margin"))
      .select(col("__id").as(idCol), col("__h").as("is_holdout"),
        (col("__y") > 0).as("label"), col("margin"),
        (col("margin") > 0).as("predicted"))
  }

  /** Oracle-side spelling of [[perceptronScores]]: the identical integer
    * recurrence with the K rounds unrolled as chained CTEs (db/flags
    * pinned MATERIALIZED — each round re-reads both). */
  def perceptronSql(idExpr: String, textExpr: String, table: String,
      labelSql: String, holdoutSql: String, buckets: Int,
      rounds: Int): String = {
    val roundCtes = (1 to rounds).map { k =>
      val prev = if (k == 1) "w0" else s"w${k - 1}"
      s"""m$k AS (
         |  SELECT id, SUM(cnt * wt) AS m FROM db JOIN $prev USING (b)
         |  GROUP BY 1),
         |w$k AS MATERIALIZED (
         |  SELECT $prev.b, wt + COALESCE(u.d, 0) AS wt
         |  FROM $prev LEFT JOIN (
         |    SELECT b, SUM(y * cnt) AS d
         |    FROM db JOIN flags USING (id) JOIN m$k USING (id)
         |    WHERE NOT h AND y * m <= 0 GROUP BY 1) u ON $prev.b = u.b)""".stripMargin
    }.mkString(",\n")
    s"""WITH flags AS MATERIALIZED (
       |  SELECT $idExpr AS id, CASE WHEN ($labelSql) THEN 1 ELSE -1 END AS y,
       |    ($holdoutSql) AS h
       |  FROM $table),
       |wrd AS (
       |  SELECT $idExpr AS id, unnest(string_split($textExpr, ' ')) AS word
       |  FROM $table),
       |dw AS (
       |  SELECT id, word, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM wrd WHERE word <> '' GROUP BY 1, 2),
       |db AS MATERIALIZED (
       |  SELECT id, ${Normalize.hashBucketSql("word", buckets)} AS b,
       |    CAST(SUM(c) AS BIGINT) AS cnt
       |  FROM dw GROUP BY 1, 2
       |  UNION ALL
       |  SELECT id, CAST($buckets AS BIGINT) AS b, CAST(1 AS BIGINT) AS cnt
       |  FROM flags),
       |w0 AS MATERIALIZED (SELECT r.range AS b, CAST(0 AS BIGINT) AS wt
       |       FROM range(${buckets + 1}) r),
       |$roundCtes,
       |mf AS (SELECT id, SUM(cnt * wt) AS m FROM db JOIN w$rounds USING (b)
       |       GROUP BY 1)
       |SELECT flags.id AS $idExpr, h AS is_holdout, y > 0 AS label,
       |  CAST(m AS BIGINT) AS margin, m > 0 AS predicted
       |FROM flags JOIN mf ON flags.id = mf.id""".stripMargin
  }
}
