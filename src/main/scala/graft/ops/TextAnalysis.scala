package graft.ops

import graft.ops.Checkpoints.BarrierOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Text analysis for training-data pipelines: language-ID heuristic, quality
  * scoring, token counting, fingerprinting (BASELINE north star).
  * All pure column expressions — codegen'd, shuffle-free per row. */
object TextAnalysis {

  /** Stopword-marker hit counts per language; the language-ID heuristic picks
    * the best-scoring marker set (first-match-wins on ties). */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and"),
    "de" -> Seq("der", "die", "das", "und"),
    "es" -> Seq("el", "la", "de", "los"),
    "fr" -> Seq("le", "la", "les", "des"))

  private def hitCount(textCol: String, words: Seq[String]): String = {
    val set = words.map(w => s"'$w'").mkString(", ")
    s"size(filter(split(lower($textCol), ' '), w -> w IN ($set)))"
  }

  private def hitCountSql(textCol: String, words: Seq[String]): String = {
    val set = words.map(w => s"'$w'").mkString(", ")
    s"len(list_filter(string_split(lower($textCol), ' '), w -> w IN ($set)))"
  }

  /** Predicted language: the marker set with the most hits; 'und' if none. */
  def langId(textCol: String): Column = {
    val counts = langMarkers.map { case (lang, words) => lang -> expr(hitCount(textCol, words)) }
    val best = counts.map(_._2).reduce(greatest(_, _))
    counts.foldLeft(Option.empty[Column]) { case (acc, (lang, c)) =>
      val hit = c === best && best > 0
      Some(acc.fold(when(hit, lang))(_.when(hit, lang)))
    }.get.otherwise("und")
  }

  def langIdSql(textCol: String): String = {
    val counts = langMarkers.map { case (lang, words) => lang -> hitCountSql(textCol, words) }
    val best = counts.map(_._2).mkString("greatest(", ", ", ")")
    val whens = counts.map { case (lang, c) =>
      s"WHEN $c = $best AND $best > 0 THEN '$lang'"
    }.mkString(" ")
    s"CASE $whens ELSE 'und' END"
  }

  /** Whitespace token count. */
  def wsTokens(c: Column): Column = size(split(c, " ")).cast("long")

  def wsTokensSql(e: String): String = s"CAST(len(string_split($e, ' ')) AS BIGINT)"

  /** BPE-ish subword count: alpha runs, digit runs, single other chars. */
  def bpeTokens(c: Column): Column =
    size(regexp_extract_all(lower(c), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("long")

  def bpeTokensSql(e: String): String =
    s"CAST(len(regexp_extract_all(lower($e), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT)"

  /** Heuristic quality score in [0,1]: length, stopword share, token length. */
  def qualityScore(textCol: String): Column = {
    val nTok = expr(s"size(split($textCol, ' '))").cast("double")
    val stop = expr(hitCount(textCol, Seq("the", "a", "of", "and"))).cast("double")
    val avgLen = (length(col(textCol)) - (nTok - 1)) / nTok
    round(least(lit(1.0), nTok / 50) * 0.5 +
      (lit(1.0) - stop / nTok) * 0.3 +
      least(lit(1.0), avgLen / 6) * 0.2, 6)
  }

  def qualityScoreSql(textCol: String): String = {
    val nTok = s"CAST(len(string_split($textCol, ' ')) AS DOUBLE)"
    val stop = s"CAST(${hitCountSql(textCol, Seq("the", "a", "of", "and"))} AS DOUBLE)"
    s"""round(least(1.0, $nTok / 50) * 0.5 +
       |(1.0 - $stop / $nTok) * 0.3 +
       |least(1.0, ((length($textCol) - ($nTok - 1)) / $nTok) / 6) * 0.2, 6)""".stripMargin
  }

  /** Duplicate n-gram stats per document — the Gopher-style repetition
    * quality rule (fraction of word k-grams that are repeats). Two
    * map-side-combinable aggregations: the only shuffle is on
    * (id, shingle), and a fused countDistinct (which would expand and
    * shuffle the raw shingle stream twice) is deliberately avoided —
    * the (id, shingle) pre-aggregation IS the distinct. */
  def dupNgramStats(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    Dedup.shingles(df, idCol, textCol, k, dedup = false)
      .groupBy(col(idCol), col("shingle")).agg(count(lit(1)).as("__cnt"))
      .groupBy(col(idCol))
      .agg(sum(col("__cnt")).as("n_ngrams"), count(lit(1)).as("n_distinct"))
      .withColumn("dup_fraction", round(
        lit(1.0) - col("n_distinct").cast("double") / col("n_ngrams").cast("double"), 6))

  /** Deterministic per-row "uniform": the first 24 bits of a salted md5 as a
    * long in [0, 2^24). Cross-engine exact (DuckDB: `('0x' || substr(md5,1,6))
    * ::BIGINT`), reproducible across runs/partitionings — the property
    * `rand()` lacks — so sampling decisions are stable under reprocessing. */
  def hashUnit(c: Column, salt: String): Column =
    conv(substring(md5(concat(lit(salt + "|"), c.cast("string"))), 1, 6), 16, 10)
      .cast("long")

  def hashUnitSql(e: String, salt: String): String =
    s"('0x' || substr(md5('$salt|' || CAST($e AS VARCHAR)), 1, 6))::BIGINT"

  /** Corpus mixing rates per source (the training-data "data mixture"
    * config). Down-weights every fourth source family; unknown sources get
    * the floor rate. */
  val mixRates: Map[String, Double] =
    (0 until 20).map(i => s"src$i" -> (i % 4 match {
      case 0 => 1.0; case 1 => 0.5; case 2 => 0.25; case _ => 0.1
    })).toMap
  val mixDefaultRate = 0.1

  private def mixThreshold(rate: Double): Long = (rate * (1L << 24)).toLong

  /** Keep-threshold ladder for [[mixRates]] (compare [[hashUnit]] < thr).
    * A 20-arm when-ladder is pure codegen'd row-local work — no join, no
    * shuffle; at 100 TB the sampler runs at scan speed. */
  def mixThresholdCol(srcCol: Column): Column =
    mixRates.toSeq.sortBy(_._1).foldLeft(Option.empty[Column]) {
      case (acc, (src, rate)) =>
        val thr = lit(mixThreshold(rate))
        Some(acc.fold(when(srcCol === src, thr))(_.when(srcCol === src, thr)))
    }.get.otherwise(lit(mixThreshold(mixDefaultRate)))

  def mixThresholdSql(srcExpr: String): String = {
    val whens = mixRates.toSeq.sortBy(_._1).map { case (src, rate) =>
      s"WHEN '$src' THEN ${mixThreshold(rate)}"
    }.mkString(" ")
    s"CASE $srcExpr $whens ELSE ${mixThreshold(mixDefaultRate)} END"
  }

  /** Temperature-scaled source mixture resampling (the GPT-3 §2.2 /
    * data-mixture "temperature" step): target share per source ∝ n_s^α,
    * realized by acceptance sampling at the largest overall size that
    * requires no up-sampling. The per-source keep-rate then collapses to
    * `(n_min / n_s)^(1-α)` — the normalizing sum cancels, so no
    * order-dependent double summation crosses engines; the single pow is
    * rounded to 6 decimals before the 24-bit threshold compare. α = 1
    * keeps everything (natural mixture), α = 0 flattens every source to
    * the smallest one's size, 0 < α < 1 interpolates (α ≈ 0.3–0.7 is the
    * published range). Keep decisions ride on the salted [[hashUnit]], so
    * the resample is deterministic across runs, partitionings, and engines.
    *
    * Scale: the rate table is one row per SOURCE (bounded, tiny) built from
    * a count-agg; it broadcasts onto the doc stream, which is then filtered
    * row-locally at scan speed — one small shuffle for the counts, zero for
    * the data path. */
  def temperatureMix(df: DataFrame, srcCol: String, idCol: String,
      alpha: Double, salt: String): DataFrame = {
    val counts = df.groupBy(col(srcCol)).agg(count(lit(1)).as("n_docs"))
    val nMin = counts.agg(min(col("n_docs")).as("n_min"))
    val rates = counts.crossJoin(broadcast(nMin)) // 1-row min — whitelisted broadcast
      .withColumn("keep_rate", round(
        pow(col("n_min").cast("double") / col("n_docs").cast("double"), 1 - alpha), 6))
      .withColumn("__thr", round(col("keep_rate") * (1L << 24)).cast("long"))
    df.join(broadcast(rates.select(col(srcCol), col("keep_rate"), col("__thr"))),
        Seq(srcCol))
      .filter(hashUnit(col(idCol), salt) < col("__thr"))
      .drop("__thr")
  }

  def temperatureMixSql(srcExpr: String, idExpr: String, alpha: Double,
      salt: String, table: String): String =
    s"""WITH counts AS MATERIALIZED (
       |  SELECT $srcExpr, COUNT(*) AS n_docs FROM $table GROUP BY 1),
       |mn AS (SELECT MIN(n_docs) AS n_min FROM counts),
       |rates AS (
       |  SELECT $srcExpr, round(pow(CAST(n_min AS DOUBLE) / CAST(n_docs AS DOUBLE),
       |    ${1 - alpha}), 6) AS keep_rate,
       |    CAST(round(round(pow(CAST(n_min AS DOUBLE) / CAST(n_docs AS DOUBLE),
       |      ${1 - alpha}), 6) * ${1L << 24}) AS BIGINT) AS thr
       |  FROM counts CROSS JOIN mn)
       |SELECT t.*, keep_rate FROM (SELECT $srcExpr, $idExpr FROM $table) t
       |JOIN rates USING ($srcExpr)
       |WHERE ${hashUnitSql(idExpr, salt)} < thr""".stripMargin

  /** Per-source EXACT sample quotas (documents to keep, not a rate) — the
    * "give me exactly N docs from each source" counterpart of [[mixRates]]. */
  val quotaCounts: Map[String, Long] =
    (0 until 20).map(i => s"src$i" -> (i % 4 match {
      case 0 => 200L; case 1 => 100L; case 2 => 50L; case _ => 25L
    })).toMap
  val quotaDefault = 25L

  def quotaCol(srcCol: Column): Column =
    quotaCounts.toSeq.sortBy(_._1).foldLeft(Option.empty[Column]) {
      case (acc, (src, q)) =>
        Some(acc.fold(when(srcCol === src, q))(_.when(srcCol === src, q)))
    }.get.otherwise(lit(quotaDefault))

  def quotaSql(srcExpr: String): String = {
    val whens = quotaCounts.toSeq.sortBy(_._1).map { case (src, q) =>
      s"WHEN '$src' THEN $q"
    }.mkString(" ")
    s"CASE $srcExpr $whens ELSE $quotaDefault END"
  }

  /** Exact-quota stratified sample: keep the `quota(stratum)` documents with
    * the smallest salted hash per stratum (deterministic across runs,
    * partitionings, and engines), tagged with their 1-based `sample_rank`.
    *
    * Semantically `row_number() OVER (PARTITION BY stratum ORDER BY h, id)
    * <= quota` — but that window puts EVERY row of a stratum on one
    * partition, which dies when one source holds billions of docs. Instead
    * the rank is computed two-level (the [[packAssignSharded]] prefix-sum
    * pattern, keyed by hash RANGE so shard order == hash order): in-shard
    * row_number over (stratum, h div 2^16) — 256 uniform ranges per stratum
    * — plus the summed counts of lower shards, joined back from a frame of
    * at most 256 rows per stratum (AQE broadcasts it; no forced hint).
    * Equal hashes share a shard, so the two-level rank is exactly the
    * global rank. */
  def quotaSample(df: DataFrame, strataCol: String, idCol: String,
      quota: Column, salt: String): DataFrame =
    shardedPrefixSum(df, Seq(strataCol), idCol, lit(1L), salt, "sample_rank")
      .filter(col("sample_rank") <= quota)

  /** The two-level hash-shard prefix sum shared by [[quotaSample]] (weight
    * 1 → the rank), [[shuffleRank]] (single constant stratum), and
    * [[globalTokenBudget]] (weight = token count): per-(strata, shard)
    * running sums over the (hash, id) order, plus the summed totals of
    * lower shards joined back from a frame of at most 256 rows per stratum
    * (AQE broadcasts it; no forced hint). Equal hashes share a shard, so
    * shard order == hash order and the two-level sum is exactly the global
    * prefix sum — without ever holding a stratum on one partition. */
  private def shardedPrefixSum(df: DataFrame, strata: Seq[String], idCol: String,
      weight: Column, salt: String, outCol: String): DataFrame = {
    val sCols = strata.map(col)
    val base = df.withColumn("__w", weight)
      .withColumn("__h", hashUnit(col(idCol), salt))
      .withColumn("__shard", (col("__h") / 65536L).cast("int"))
    val wIn = Window.partitionBy(sCols :+ col("__shard"): _*)
      .orderBy(col("__h"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wCum = Window.partitionBy(sCols: _*).orderBy(col("__shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = base.groupBy(sCols :+ col("__shard"): _*)
      .agg(sum(col("__w")).as("__c"))
      .withColumn("__base", coalesce(sum(col("__c")).over(wCum), lit(0L)))
      .select(sCols :+ col("__shard") :+ col("__base"): _*)
    base.withColumn("__run", sum(col("__w")).over(wIn))
      .join(bases, strata :+ "__shard")
      .withColumn(outCol, col("__base") + col("__run"))
      .drop("__h", "__shard", "__run", "__base", "__w")
  }

  /** Content fingerprint: md5 of the whitespace/case-normalized text. */
  def fingerprint(c: Column): Column = md5(Normalize.normText(c))

  def fingerprintSql(e: String): String = s"md5(${Normalize.normTextSql(e)})"

  /** Deterministic global corpus shuffle: every row gets a reproducible
    * `shuffle_pos` (1-based) under the salted-hash order — the "shuffle the
    * corpus before training" step, with the property `ORDER BY rand()`
    * lacks: stable across runs, partitionings, engines, and reprocessing.
    * Rank is computed with [[quotaSample]]'s two-level hash-shard prefix
    * sum (a single constant stratum), so no partition ever holds the whole
    * corpus — the global sort a naive `row_number() OVER (ORDER BY h)`
    * would serialize stays fully parallel. */
  def shuffleRank(df: DataFrame, idCol: String, salt: String): DataFrame =
    quotaSample(df.withColumn("__g", lit(0)), "__g", idCol, lit(Long.MaxValue), salt)
      .withColumnRenamed("sample_rank", "shuffle_pos")
      .drop("__g")

  /** Global token-budget cut: keep documents in the deterministic
    * salted-hash order until a CORPUS-WIDE token budget is exhausted — the
    * "train on exactly N tokens" selection, reproducible across runs,
    * partitionings, and engines. Same two-level hash-shard decomposition as
    * [[shuffleRank]] but with a WEIGHTED prefix sum (token counts instead
    * of row counts): in-shard running sums + the ≤256-row shard-base frame,
    * so the global cumulative sum never serializes the corpus onto one
    * partition. Emits (input columns, n_tokens, cum_tokens). */
  def globalTokenBudget(df: DataFrame, idCol: String, tokens: Column,
      budget: Long, salt: String): DataFrame =
    shardedPrefixSum(df.withColumn("n_tokens", tokens), Nil, idCol,
      col("n_tokens"), salt, "cum_tokens")
      .filter(col("cum_tokens") <= budget)

  /** Per-stratum cumulative token rank under the salted-hash order — the
    * stratified form of [[globalTokenBudget]] (same two-level prefix sum,
    * keyed per stratum) with the budget cut left to the caller, for
    * per-stratum budgets like [[unimaxAllocation]]'s. Adds `n_tokens` and
    * `cum_tokens`. */
  def stratifiedTokenRank(df: DataFrame, strataCol: String, idCol: String,
      tokens: Column, salt: String): DataFrame =
    shardedPrefixSum(df.withColumn("n_tokens", tokens), Seq(strataCol), idCol,
      col("n_tokens"), salt, "cum_tokens")

  /** UniMax language-budget allocation (Chung et al. '23): spend a total
    * token budget as uniformly as possible across languages without
    * repeating any language more than `capNum/capDen` epochs. Languages
    * ascending by size (ties by name); language i of the L remaining gets
    * min(cap_i, remaining / L_left) — a language too small to absorb its
    * uniform share is capped at `cap` epochs of itself and the leftover
    * re-spreads over the rest. All-integer arithmetic (floor division), so
    * an oracle recursive CTE replays the recurrence exactly.
    *
    * Input sizes are LANGUAGE-count rows (KB driver state, the BPE-merge-
    * table pattern); returns (lang, size, alloc, rule) with rule =
    * epoch_cap | budget_share. */
  def unimaxAllocation(sizes: Seq[(String, Long)], budget: Long,
      capNum: Long, capDen: Long): Seq[(String, Long, Long, String)] = {
    require(budget >= 0 && capNum > 0 && capDen > 0)
    val ordered = sizes.sortBy { case (l, s) => (s, l) }
    var rem = budget
    ordered.zipWithIndex.map { case ((lang, s), i) =>
      val left = ordered.length - i
      val cap = s * capNum / capDen
      val share = rem / left
      val (a, rule) =
        if (cap <= share) (cap, "epoch_cap") else (share, "budget_share")
      rem -= a
      (lang, s, a, rule)
    }
  }

  /** Unigram-LM surprisal quality score (the CCNet perplexity-filter
    * analogue, with the corpus itself as the LM): mean bits of surprisal
    * -log2(cnt(w)/total) per word. Templated/boilerplate docs score LOW
    * (common words), garbage scores HIGH — gate on both tails.
    *
    * Scale: the unigram table is vocabulary-sized (bounded, unlike the doc
    * stream) — AQE broadcasts it when small, shuffle-joins otherwise; the
    * grand total is a 1-row broadcast. Per-addend DECIMAL(18,4)
    * quantization makes the per-doc mean order-independent (double
    * summation is not associative; decimal summation is — `Q.dsum`). */
  def unigramSurprisal(df: DataFrame, idCol: String, textCol: String): DataFrame =
    // ONE explode for the whole query: the (doc, word) pre-agg feeds the
    // vocab build, the grand total, AND the scorer (without materialization
    // each consumer replays the corpus explode — measured 3 Generate
    // subtrees in the static plan). Map-side combine shrinks the stream to
    // per-doc-distinct words before it ever shuffles.
    unigramSurprisalFromCounts(
      Dedup.wordCounts(df, idCol, textCol).barrier(), idCol)

  /** [[unigramSurprisal]] over a pre-built (already materialized)
    * [[Dedup.wordCounts]] frame — composite jobs share one corpus explode
    * across the word-side gates. */
  def unigramSurprisalFromCounts(dw: DataFrame, idCol: String): DataFrame = {
    val vocab = dw.groupBy(col("word")).agg(sum(col("dw_cnt")).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).as("total"))
    val scored = dw.join(vocab, "word")
      .crossJoin(broadcast(total)) // 1-row grand total — whitelisted broadcast
      .withColumn("__bits",
        -log(2.0, col("cnt").cast("double") / col("total").cast("double")))
      .groupBy(col(idCol))
      .agg(sum(col("dw_cnt")).as("n_words"),
        // exact decimal arithmetic (quantized bits × integer count, decimal
        // sum — both order-independent); the mean is then rounded HALF-UP
        // in pure INTEGER arithmetic — round(sum/n, 6) on the DOUBLE
        // quotient can land exactly on a 1e-6 half-tie (the sum has 4
        // decimals, n is arbitrary), where Spark's exact-binary rounding
        // and DuckDB's scaled-multiply rounding DISAGREE (observed on t34
        // at sf0.1: 2 of 5000 docs). (200·S4 + n) div (2n) micro-bits is
        // the same half-up value at every non-tie point (non-tie rationals
        // sit >= 1/(2n) micro-units from a boundary, ~500 ulp) and picks
        // the consistent side at ties.
        sum(col("__bits").cast(DecimalType(18, 4)) * col("dw_cnt")).as("__sb"))
      .withColumn("bits_per_word",
        expr("(200 * CAST(__sb * 10000 AS BIGINT) + n_words) div (2 * n_words)")
          .cast("double") / 1000000.0)
      .drop("__sb")
      // narrow eager checkpoint (the d6/c2 pattern): the band machinery
      // below consumes this frame four ways (histogram → in-band cum,
      // band totals, rank count, final flag join) — without it each
      // branch replays the vocab join + doc aggregation, a full
      // doc-stream shuffle per consumer at scale (audited: 124-node
      // static plan with 5 scored replays before, 3 columns × |docs|
      // after)
      .barrier()
    // SELF-CALIBRATING band: unusual = outside the corpus' own exact
    // [p5, p95] of bits_per_word. An absolute band goes stale under any
    // distribution shift — the round-5 sf1 probe showed a fixed band
    // emptying the whole curated corpus when the vocabulary grew 10×.
    // Exact quantiles without per-group buffering: a HISTOGRAM of the
    // rounded values (duplicates collapse), cumulated with the two-level
    // prefix-sum discipline — coarse value bands floor(b*10) give a base
    // frame hard-bounded at ~640 rows (bits_per_word < 64 for any corpus
    // under 2^64 tokens), the in-band window partitions by band. The
    // percentile ranks use pure integer ceil so both engines pick the
    // identical element of the identical value set.
    val hist = scored.groupBy(col("bits_per_word")).agg(count(lit(1)).as("__hc"))
      .withColumn("__band", floor(col("bits_per_word") * 10).cast("long"))
    // one global window over a provably band-bounded frame (~640 rows)
    val bandW = Window.orderBy(col("__band"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bandTot = hist.groupBy(col("__band")).agg(sum(col("__hc")).as("__bt"))
      .withColumn("__bprev", coalesce(sum(col("__bt")).over(bandW), lit(0L)))
      .select(col("__band"), col("__bprev"))
    val inBand = Window.partitionBy(col("__band")).orderBy(col("bits_per_word"))
    val cum = hist.join(bandTot, "__band")
      .withColumn("__cum", col("__bprev") + sum(col("__hc")).over(inBand))
    val ranks = scored.agg(count(lit(1)).as("__n"))
      .select(expr("(__n * 5 + 99) div 100").as("__rlo"),
        expr("(__n * 95 + 99) div 100").as("__rhi"))
    val thr = cum.crossJoin(broadcast(ranks)) // 1-row rank pair broadcast
      .agg(min(when(col("__cum") >= col("__rlo"), col("bits_per_word"))).as("__lo"),
        min(when(col("__cum") >= col("__rhi"), col("bits_per_word"))).as("__hi"))
    scored.crossJoin(broadcast(thr)) // 1-row threshold broadcast
      .withColumn("unusual",
        col("bits_per_word") < col("__lo") || col("bits_per_word") > col("__hi"))
      .drop("__lo", "__hi")
  }

  def unigramSurprisalSql(idExpr: String, textExpr: String, table: String): String =
    s"""WITH w AS MATERIALIZED (
       |  SELECT $idExpr AS id, unnest(string_split($textExpr, ' ')) AS word FROM $table),
       |dw AS MATERIALIZED (SELECT id, word, CAST(COUNT(*) AS BIGINT) AS dw_cnt FROM w GROUP BY 1, 2),
       |v AS MATERIALIZED (SELECT word, CAST(SUM(dw_cnt) AS BIGINT) AS cnt FROM dw GROUP BY 1),
       |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM v),
       |b AS MATERIALIZED (
       |  SELECT dw.id, dw_cnt,
       |    -ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)) / ln(2.0) AS bits
       |  FROM dw JOIN v USING (word) CROSS JOIN tot),
       |m AS MATERIALIZED (
       |  SELECT id, CAST(SUM(dw_cnt) AS BIGINT) AS n_words,
       |    CAST(SUM(CAST(bits AS DECIMAL(18,4)) * dw_cnt) * 10000 AS BIGINT) AS s4
       |  FROM b GROUP BY 1),
       |sc AS MATERIALIZED (SELECT id, n_words,
       |  CAST((200 * s4 + n_words) // (2 * n_words) AS DOUBLE) / 1000000.0 AS bpw
       |  FROM m),
       |hist AS (SELECT bpw, CAST(COUNT(*) AS BIGINT) AS hc FROM sc GROUP BY 1),
       |cum AS MATERIALIZED (SELECT bpw, SUM(hc) OVER (ORDER BY bpw) AS c FROM hist),
       |nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM sc),
       |thr AS (SELECT
       |  (SELECT MIN(bpw) FROM cum, nn WHERE c >= (n * 5 + 99) // 100) AS lo,
       |  (SELECT MIN(bpw) FROM cum, nn WHERE c >= (n * 95 + 99) // 100) AS hi)
       |SELECT id AS $idExpr, n_words, bpw AS bits_per_word,
       |  (bpw < lo OR bpw > hi) AS unusual
       |FROM sc CROSS JOIN thr""".stripMargin

  /** Bigram conditional surprisal: mean -log2 p(w2 | w1) per document,
    * p(w2 | w1) = c(w1 w2) / c(w1 ·) over the corpus bigram table — the
    * next model-quality rung above [[unigramSurprisal]]'s bag-of-words
    * (a doc of real words in scrambled order scores normal under the
    * unigram model; the conditional model catches it, the KenLM-gate idea
    * from CCNet at n=2). Docs with < 2 words have no bigrams and drop out.
    *
    * Shape: ONE explode to (doc, w1, w2) map-side-combined into per-doc
    * bigram counts; the corpus bigram table and the left-context totals
    * are two aggregations OVER that same materialized spine (never a
    * second corpus pass); the scorer joins back on the fixed-width bigram
    * key. Per-addend DECIMAL quantization (the t15 discipline) keeps the
    * mean independent of partial-aggregation order; the DOUBLE division
    * happens once at the end. */
  def bigramSurprisal(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val db = df.select(col(idCol), split(col(textCol), " ").as("__w"))
      .filter(size(col("__w")) >= 2)
      .select(col(idCol), expr(
        """explode(transform(sequence(0, size(__w) - 2),
          |  i -> struct(__w[i] AS w1, __w[i + 1] AS w2)))""".stripMargin).as("bg"))
      .select(col(idCol), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy(col(idCol), col("w1"), col("w2")).agg(count(lit(1)).as("db_cnt"))
      .barrier() // three consumers: corpus counts, contexts, scorer
    val corpus = db.groupBy(col("w1"), col("w2")).agg(sum(col("db_cnt")).as("c12"))
    val contexts = corpus.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    db.join(corpus, Seq("w1", "w2")).join(contexts, Seq("w1"))
      .withColumn("__bits",
        -log(2.0, col("c12").cast("double") / col("c1").cast("double")))
      .groupBy(col(idCol))
      .agg(sum(col("db_cnt")).as("n_bigrams"),
        // exact integer HALF-UP mean in micro-bits (the t15 half-tie fix)
        sum(col("__bits").cast(DecimalType(18, 4)) * col("db_cnt")).as("__sb"))
      .withColumn("bits_per_bigram",
        expr("(200 * CAST(__sb * 10000 AS BIGINT) + n_bigrams) div (2 * n_bigrams)")
          .cast("double") / 1000000.0)
      .drop("__sb")
  }

  def bigramSurprisalSql(idExpr: String, textExpr: String, table: String): String =
    s"""WITH bg AS (
       |  SELECT $idExpr AS id, unnest(list_transform(
       |    range(greatest(len(string_split($textExpr, ' ')) - 1, 0)),
       |    i -> {'w1': string_split($textExpr, ' ')[i + 1],
       |          'w2': string_split($textExpr, ' ')[i + 2]})) AS bgs
       |  FROM $table),
       |db AS MATERIALIZED (
       |  SELECT id, bgs.w1 AS w1, bgs.w2 AS w2, CAST(COUNT(*) AS BIGINT) AS db_cnt
       |  FROM bg GROUP BY 1, 2, 3),
       |corpus AS MATERIALIZED (SELECT w1, w2, CAST(SUM(db_cnt) AS BIGINT) AS c12 FROM db GROUP BY 1, 2),
       |ctx AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM corpus GROUP BY 1),
       |b AS (
       |  SELECT db.id, db_cnt,
       |    -ln(CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE)) / ln(2.0) AS bits
       |  FROM db JOIN corpus USING (w1, w2) JOIN ctx USING (w1)),
       |m AS (
       |  SELECT id, CAST(SUM(db_cnt) AS BIGINT) AS n_bigrams,
       |    CAST(SUM(CAST(bits AS DECIMAL(18,4)) * db_cnt) * 10000 AS BIGINT) AS s4
       |  FROM b GROUP BY 1)
       |SELECT id AS $idExpr, n_bigrams,
       |  CAST((200 * s4 + n_bigrams) // (2 * n_bigrams) AS DOUBLE) / 1000000.0
       |    AS bits_per_bigram
       |FROM m""".stripMargin

  /** Interpolated Kneser–Ney bigram surprisal under a HELD-OUT reference
    * model — the actual CCNet/KenLM gate shape, where t15/t18 use the corpus
    * itself as its own LM: the bigram model is trained only on the rows
    * where `modelPred` holds (the clean reference slice), then EVERY doc is
    * scored against it, so unseen bigrams, unseen contexts, and OOV words
    * genuinely occur and the smoothing/backoff chain is exercised — the
    * regime t18's maximum-likelihood model cannot enter (a corpus-trained
    * MLE never sees a zero count, and would emit -inf bits if it did).
    *
    * Model (Kneser–Ney '95, interpolated form, discount D = 3/4):
    *   P(w2|w1) = max(c(w1 w2) − D, 0)/c(w1 ·)
    *            + D·N1+(w1 ·)/c(w1 ·) · Pc(w2)      when c(w1 ·) > 0
    *   P(w2|w1) = Pc(w2)                            when w1 is unseen
    * with the CONTINUATION distribution Pc(w2) = (N1+(· w2) + 1)/(T + V + 1)
    * — add-one-floored over continuation counts (N1+(· w2) = distinct left
    * contexts of w2, T = total bigram types, V = continuation vocabulary),
    * so an OOV w2 scores the finite uniform floor 1/(T+V+1) instead of -inf:
    * the uniform-backoff rung of the KN chain collapsed into Laplace.
    *
    * Cross-engine exactness: D = 3/4 makes every probability a ratio of
    * INTEGERS — max(c12 − 3/4, 0) = (4·c12 − 3)/4 for c12 >= 1 — so p is one
    * fixed IEEE tree (div, div·mul, add) over exact-in-double longs, mirrored
    * verbatim in the oracle; per-addend DECIMAL(18,4) quantization (the t15
    * discipline) keeps the per-doc mean order-independent.
    *
    * Shape: ONE corpus explode builds the per-doc bigram spine; the model
    * tables are aggregations OVER that spine restricted to the model slice —
    * never a second corpus pass. Model state is bigram-type-sized (bounded
    * by vocabulary², in practice far smaller), totals are a 1-row broadcast;
    * the scorer is three LEFT equi-joins on fixed-width keys. Docs with < 2
    * words have no bigrams and drop out (the t18 contract).
    *
    * Output: (id, in_model, n_bigrams, n_oov_bigrams, bits_per_bigram) —
    * n_oov_bigrams counts score-side bigrams absent from the model, the
    * perplexity gate's coverage readout. */
  def knSurprisal(df: DataFrame, idCol: String, textCol: String,
      modelPred: Column): DataFrame = {
    val db = df.filter(col(textCol).isNotNull)
      .select(col(idCol), coalesce(modelPred, lit(false)).as("in_model"),
        split(col(textCol), " ").as("__w"))
      .filter(size(col("__w")) >= 2)
      .select(col(idCol), col("in_model"), expr(
        """explode(transform(sequence(0, size(__w) - 2),
          |  i -> struct(__w[i] AS w1, __w[i + 1] AS w2)))""".stripMargin).as("bg"))
      .select(col(idCol), col("in_model"),
        col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy(col(idCol), col("in_model"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("db_cnt"))
      .barrier() // two consumers: model build + scorer
    // model tables: bigram counts from the reference slice only; contexts,
    // continuation counts, and totals all derive from c12 (bounded state)
    val c12 = db.filter(col("in_model"))
      .groupBy(col("w1"), col("w2")).agg(sum(col("db_cnt")).as("c12"))
      .barrier() // three consumers: ctx, cont, scorer join
    val ctx = c12.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1f"))
    val cont = c12.groupBy(col("w2")).agg(count(lit(1)).as("n1p"))
    // an EMPTY model slice must degrade to the uniform floor (T=V=0 ->
    // Pc = 1, 0 bits), not to NULL: sum over an empty frame is NULL
    val tot = cont.agg(count(lit(1)).as("v"),
      coalesce(sum(col("n1p")), lit(0L)).as("bt"))
    val pc = (coalesce(col("n1p"), lit(0L)) + 1L).cast("double") /
      (col("bt") + col("v") + 1L).cast("double")
    val num1 = when(col("c12").isNull, 0L).otherwise(lit(4L) * col("c12") - 3L)
    val p = when(col("c1").isNull, pc).otherwise(
      num1.cast("double") / (lit(4L) * col("c1")).cast("double") +
        (lit(3L) * col("n1f")).cast("double") /
          (lit(4L) * col("c1")).cast("double") * pc)
    db.join(c12, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .join(cont, Seq("w2"), "left")
      .crossJoin(broadcast(tot)) // 1-row (T, V) totals — whitelisted broadcast
      .withColumn("__bits", -log(2.0, p))
      .groupBy(col(idCol), col("in_model"))
      .agg(sum(col("db_cnt")).as("n_bigrams"),
        sum(when(col("c12").isNull, col("db_cnt")).otherwise(0L))
          .as("n_oov_bigrams"),
        // quantized bits as INTEGER ten-thousandths, mean rounded HALF-UP
        // in pure integer arithmetic: round(sum/n, 6) on the DOUBLE
        // quotient can land exactly on a 1e-6 half-tie (sum has 4
        // decimals, n arbitrary), where Spark's exact-binary BigDecimal
        // round and DuckDB's scaled-multiply round disagree (observed
        // here first: 2 of 5000 docs at sf0.1; t15/t18 now share the fix)
        sum((col("__bits").cast(DecimalType(18, 4)) * 10000).cast("long") *
          col("db_cnt")).as("__s4"))
      .withColumn("bits_per_bigram",
        expr("(200 * __s4 + n_bigrams) div (2 * n_bigrams)")
          .cast("double") / 1000000.0)
      .drop("__s4")
  }

  def knSurprisalSql(idExpr: String, textExpr: String, table: String,
      modelPredSql: String): String =
    s"""WITH bg AS (
       |  SELECT $idExpr AS id, COALESCE(($modelPredSql), FALSE) AS in_model,
       |    unnest(list_transform(
       |      range(greatest(len(string_split($textExpr, ' ')) - 1, 0)),
       |      i -> {'w1': string_split($textExpr, ' ')[i + 1],
       |            'w2': string_split($textExpr, ' ')[i + 2]})) AS bgs
       |  FROM $table WHERE $textExpr IS NOT NULL),
       |db AS MATERIALIZED (
       |  SELECT id, in_model, bgs.w1 AS w1, bgs.w2 AS w2,
       |    CAST(COUNT(*) AS BIGINT) AS db_cnt
       |  FROM bg GROUP BY 1, 2, 3, 4),
       |c12 AS MATERIALIZED (SELECT w1, w2, CAST(SUM(db_cnt) AS BIGINT) AS c12
       |  FROM db WHERE in_model GROUP BY 1, 2),
       |ctx AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
       |  CAST(COUNT(*) AS BIGINT) AS n1f FROM c12 GROUP BY 1),
       |cont AS MATERIALIZED (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1p FROM c12 GROUP BY 1),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS v,
       |  CAST(COALESCE(SUM(n1p), 0) AS BIGINT) AS bt FROM cont),
       |pr AS (
       |  SELECT db.id, db.in_model, db.db_cnt, c12.c12,
       |    CASE WHEN ctx.c1 IS NULL
       |      THEN CAST(COALESCE(cont.n1p, 0) + 1 AS DOUBLE) /
       |           CAST(tot.bt + tot.v + 1 AS DOUBLE)
       |      ELSE CAST(CASE WHEN c12.c12 IS NULL THEN 0
       |                     ELSE 4 * c12.c12 - 3 END AS DOUBLE) /
       |             CAST(4 * ctx.c1 AS DOUBLE)
       |         + CAST(3 * ctx.n1f AS DOUBLE) / CAST(4 * ctx.c1 AS DOUBLE) *
       |             (CAST(COALESCE(cont.n1p, 0) + 1 AS DOUBLE) /
       |              CAST(tot.bt + tot.v + 1 AS DOUBLE))
       |    END AS p
       |  FROM db
       |  LEFT JOIN c12 USING (w1, w2)
       |  LEFT JOIN ctx USING (w1)
       |  LEFT JOIN cont USING (w2)
       |  CROSS JOIN tot),
       |b AS (SELECT id, in_model, db_cnt, c12, -ln(p) / ln(2.0) AS bits FROM pr),
       |agg AS (
       |  SELECT id, in_model,
       |    CAST(SUM(db_cnt) AS BIGINT) AS n_bigrams,
       |    CAST(SUM(CASE WHEN c12 IS NULL THEN db_cnt ELSE 0 END) AS BIGINT)
       |      AS n_oov_bigrams,
       |    CAST(SUM(CAST(CAST(bits AS DECIMAL(18,4)) * 10000 AS BIGINT) * db_cnt)
       |      AS BIGINT) AS s4
       |  FROM b GROUP BY 1, 2)
       |SELECT id AS $idExpr, in_model, n_bigrams, n_oov_bigrams,
       |  CAST((200 * s4 + n_bigrams) // (2 * n_bigrams) AS DOUBLE) / 1000000.0
       |    AS bits_per_bigram
       |FROM agg""".stripMargin

  /** Exact PHRASE search over a positional inverted index — the retrieval
    * primitive t25/t32's bag-of-words scoring cannot express: "these words,
    * adjacent, in this order". The index is the classic (doc, term, pos)
    * posting table; a k-word phrase match is k−1 consecutive-position
    * equi-joins (doc, pos+i), each join input FILTERED to one phrase word
    * before any shuffle (the t25 term-filtered-spine rule) — at scale the
    * positional index is a persisted warehouse table and a phrase query
    * touches only its k posting lists, never the corpus.
    *
    * The phrase itself is self-calibrating (the t15 band lesson): the
    * corpus' most frequent word `phraseLen`-gram, ties broken by the
    * smaller string — a fixed literal goes stale on any corpus shift. The
    * 1-row phrase frame broadcasts onto the postings.
    *
    * Output: one row per matching doc — (id, n_occurrences, first_pos,
    * phrase), pos 0-based word offsets. Pure integer/string arithmetic ⇒
    * full hash gate. */
  def phraseSearch(df: DataFrame, idCol: String, textCol: String,
      phraseLen: Int): DataFrame = {
    require(phraseLen >= 1, "phraseLen must be >= 1")
    val top = Dedup.shingles(df, idCol, textCol, phraseLen, dedup = false)
      .groupBy(col("shingle")).agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("shingle")).limit(1) // 1-row argmax
      .select(split(col("shingle"), " ").as("__pw"),
        col("shingle").as("phrase"))
    val postings = df.filter(col(textCol).isNotNull)
      .select(col(idCol), posexplode(split(col(textCol), " "))
        .as(Seq("pos", "word")))
    // filter the index to the phrase's words BEFORE the join chain; the
    // phrase frame is 1 row — whitelisted broadcast
    val spine = postings.crossJoin(broadcast(top))
      .filter(expr("array_contains(__pw, word)"))
      .barrier() // consumed once per phrase position
    val first = spine.filter(col("word") === col("__pw")(0))
      .select(col(idCol), col("pos"), col("phrase"), col("__pw"))
    val matched = (1 until phraseLen).foldLeft(first) { (acc, i) =>
      val next = spine.select(col(idCol).as("__nid"), col("pos").as("__npos"),
        col("word").as("__nword"))
      acc.join(next, col(idCol) === col("__nid") &&
          col("__npos") === col("pos") + i &&
          col("__nword") === col("__pw")(i))
        .select(col(idCol), col("pos"), col("phrase"), col("__pw"))
    }
    matched.groupBy(col(idCol), col("phrase"))
      .agg(count(lit(1)).as("n_occurrences"),
        min(col("pos")).cast("long").as("first_pos"))
      .select(col(idCol), col("n_occurrences"), col("first_pos"), col("phrase"))
  }

  def phraseSearchSql(idExpr: String, textExpr: String, table: String,
      phraseLen: Int): String =
    s"""WITH sh AS MATERIALIZED (
       |  SELECT $idExpr AS id,
       |    unnest(range(greatest(len(string_split($textExpr, ' ')) - ${phraseLen - 1}, 0)))
       |      AS pos,
       |    unnest(list_transform(
       |      range(greatest(len(string_split($textExpr, ' ')) - ${phraseLen - 1}, 0)),
       |      i -> array_to_string(
       |        string_split($textExpr, ' ')[i + 1:i + $phraseLen], ' ')))
       |      AS shingle
       |  FROM $table WHERE $textExpr IS NOT NULL),
       |cnt AS (SELECT shingle, COUNT(*) AS c FROM sh GROUP BY 1),
       |top AS (SELECT shingle FROM cnt ORDER BY c DESC, shingle LIMIT 1)
       |SELECT id AS $idExpr, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       |  CAST(MIN(pos) AS BIGINT) AS first_pos, shingle AS phrase
       |FROM sh JOIN top USING (shingle)
       |GROUP BY id, shingle""".stripMargin

  /** RAG-style passage chunking: explode each document into fixed-width
    * token windows with overlap (`stride` < `width`), emitting
    * (id, window_no, n_tokens, passage). Contract: window i covers tokens
    * [i·stride, i·stride + width); windows start while they still add NEW
    * tokens, so coverage is total, the final window may be short (>= 1
    * token), and a doc shorter than `width` yields exactly one window.
    * Unlike [[dedupPassages]] (disjoint width-aligned blocks, a DEDUP
    * keying scheme), these windows overlap — the retrieval-index shape,
    * where a fact straddling a block boundary must still land inside some
    * window.
    *
    * Shape: pure project + Generate off the tokenized column — ZERO
    * shuffles at any corpus size; the explode fan-out is bounded by
    * ceil(n_tokens / stride) per doc. */
  def passageWindows(df: DataFrame, idCol: String, textCol: String,
      width: Int, stride: Int): DataFrame = {
    require(stride >= 1 && stride <= width, s"need 1 <= stride <= width")
    df.select(col(idCol), split(col(textCol), " ").as("__w"))
      .select(col(idCol), size(col("__w")).as("__n"), col("__w"))
      .select(col(idCol), expr(
        s"""explode(transform(
           |  sequence(0, (greatest(__n - $width, 0) + $stride - 1) div $stride),
           |  i -> struct(CAST(i AS BIGINT) AS window_no,
           |    CAST(least($width, __n - i * $stride) AS BIGINT) AS n_tokens,
           |    array_join(slice(__w, i * $stride + 1, $width), ' ') AS passage)))"""
          .stripMargin).as("win"))
      .select(col(idCol), col("win.window_no").as("window_no"),
        col("win.n_tokens").as("n_tokens"), col("win.passage").as("passage"))
  }

  def passageWindowsSql(idExpr: String, textExpr: String, table: String,
      width: Int, stride: Int): String =
    s"""SELECT $idExpr, CAST(i AS BIGINT) AS window_no,
       |  CAST(least($width, len(w) - i * $stride) AS BIGINT) AS n_tokens,
       |  array_to_string(w[i * $stride + 1 : i * $stride + $width], ' ') AS passage
       |FROM (
       |  SELECT $idExpr, string_split($textExpr, ' ') AS w,
       |    unnest(range(
       |      (greatest(len(string_split($textExpr, ' ')) - $width, 0) + $stride - 1)
       |        // $stride + 1)) AS i
       |  FROM $table)""".stripMargin

  /** Gopher-style repetition metrics (Rae et al. '21, §A1.1): how much of a
    * document the single most frequent word / bigram accounts for, plus the
    * distinct-word ratio. Complements [[dupNgramStats]] (which measures the
    * duplicated TAIL across all n-grams) by measuring HEAD concentration —
    * boilerplate and keyword-stuffed documents spike these before they spike
    * the tail metric.
    *
    * Shape: two explode → (doc, gram) pre-agg → per-doc agg chains, joined
    * on the doc key. The heavy shuffle in each chain moves map-side-combined
    * (doc, gram) counts, not the raw gram stream; the per-doc re-shuffle
    * then moves only doc-count rows. (Partitioning the raw stream by doc
    * up-front would fuse the two exchanges but forfeit the partial
    * aggregation — strictly more bytes over the wire at corpus scale.) */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    repetitionStatsFromCounts(Dedup.wordCounts(df, idCol, textCol), df, idCol, textCol)

  /** [[repetitionStats]] with the word-side stats drawn from a pre-built
    * [[Dedup.wordCounts]] frame (the bigram side is its own explode either
    * way). Composite jobs pass the shared materialized frame. */
  def repetitionStatsFromCounts(dw: DataFrame, df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val words = dw.groupBy(col(idCol)).agg(
      sum(col("dw_cnt")).as("n_words"), max(col("dw_cnt")).as("__top_w"),
      count(lit(1)).as("n_distinct_words"))
    val bigrams = Dedup.shingles(df, idCol, textCol, 2, dedup = false)
      .groupBy(col(idCol), col("shingle")).agg(count(lit(1)).as("__cnt"))
      .groupBy(col(idCol)).agg(sum(col("__cnt")).as("__n_bg"),
        max(col("__cnt")).as("__top_b"))
    // single-word docs have no bigram row — their head concentration is 0
    words.join(bigrams, Seq(idCol), "left")
      .select(col(idCol), col("n_words"), col("n_distinct_words"),
        round(col("__top_w").cast("double") / col("n_words").cast("double"), 6)
          .as("top_word_frac"),
        round(col("n_distinct_words").cast("double") / col("n_words").cast("double"), 6)
          .as("distinct_word_ratio"),
        round(coalesce(col("__top_b").cast("double") / col("__n_bg").cast("double"),
          lit(0.0)), 6).as("top_bigram_frac"))
      .withColumn("repetitive",
        col("top_word_frac") > RepTopWordMax || col("top_bigram_frac") > RepTopBigramMax ||
          col("distinct_word_ratio") < RepDistinctMin)
  }

  /** Repetition-gate thresholds (head-concentration analogues of Gopher's
    * top-2-gram-fraction cut, calibrated to the synthetic corpus' p90s). */
  val RepTopWordMax = 0.14
  val RepTopBigramMax = 0.07
  val RepDistinctMin = 0.35

  def repetitionStatsSql(idExpr: String, textExpr: String, table: String): String =
    s"""WITH w AS MATERIALIZED (
       |  SELECT $idExpr AS id, unnest(string_split($textExpr, ' ')) AS gram FROM $table),
       |wg AS (SELECT id, gram, COUNT(*) AS cnt FROM w GROUP BY 1, 2),
       |wd AS (SELECT id, CAST(SUM(cnt) AS BIGINT) AS n_words,
       |         CAST(MAX(cnt) AS BIGINT) AS top_w, COUNT(*) AS n_distinct_words
       |       FROM wg GROUP BY 1),
       |t AS (SELECT $idExpr AS id, string_split($textExpr, ' ') AS ws FROM $table),
       |b AS MATERIALIZED (SELECT id, unnest(list_transform(range(len(ws) - 1),
       |         i -> ws[i+1] || ' ' || ws[i+2])) AS gram
       |      FROM t WHERE len(ws) >= 2),
       |bg AS (SELECT id, gram, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
       |bd AS (SELECT id, CAST(SUM(cnt) AS BIGINT) AS n_bg, CAST(MAX(cnt) AS BIGINT) AS top_b
       |       FROM bg GROUP BY 1),
       |m AS MATERIALIZED (SELECT wd.id, n_words, n_distinct_words,
       |        round(CAST(top_w AS DOUBLE) / n_words, 6) AS top_word_frac,
       |        round(CAST(n_distinct_words AS DOUBLE) / n_words, 6) AS distinct_word_ratio,
       |        round(COALESCE(CAST(top_b AS DOUBLE) / n_bg, 0.0), 6) AS top_bigram_frac
       |      FROM wd LEFT JOIN bd USING (id))
       |SELECT id AS $idExpr, n_words, n_distinct_words, top_word_frac,
       |  distinct_word_ratio, top_bigram_frac,
       |  (top_word_frac > $RepTopWordMax OR top_bigram_frac > $RepTopBigramMax
       |    OR distinct_word_ratio < $RepDistinctMin) AS repetitive
       |FROM m""".stripMargin

  /** Leakage-safe deterministic train/val/test split: the split key is the
    * CONTENT fingerprint, not the row id, so byte-identical duplicates land
    * in the same split by construction — the eval set can never leak a
    * training document through a dup. Boundaries are fixed 24-bit hash
    * thresholds ([[hashUnit]]), so the assignment is reproducible across
    * runs, partitionings, engines, and reprocessing — pure row-local codegen
    * at scan speed, zero shuffles at any corpus size. */
  val SplitTrainUpper: Long = (0.8 * (1L << 24)).toLong
  val SplitValUpper: Long = (0.9 * (1L << 24)).toLong

  def splitAssign(df: DataFrame, idCol: String, srcCol: String,
      textCol: String): DataFrame = {
    val h = hashUnit(fingerprint(col(textCol)), "split")
    df.select(col(idCol), col(srcCol), fingerprint(col(textCol)).as("fp"),
      when(h < SplitTrainUpper, "train")
        .when(h < SplitValUpper, "val")
        .otherwise("test").as("split"))
  }

  def splitAssignSql(textExpr: String): String = {
    val h = hashUnitSql(fingerprintSql(textExpr), "split")
    s"""CASE WHEN $h < $SplitTrainUpper THEN 'train'
       |     WHEN $h < $SplitValUpper THEN 'val'
       |     ELSE 'test' END""".stripMargin
  }

  /** Sequence packing, GPT-pretraining style: each source's documents are
    * concatenated in `idCol` order and the token stream is chunked into
    * fixed `budget`-token context windows. Adds `chunk_id` (which window the
    * doc STARTS in) and `chunk_offset` (token position there); a doc
    * straddles a boundary iff `chunk_offset + tokens > budget`.
    *
    * Pure window math — one shuffle on the source key, one sort, a ROWS-frame
    * running sum — so packing 100 TB of text is exactly as parallel as the
    * source partitioning (the reference's analogue would be a driver loop).
    * Integral `div`/`%` keep it exact beyond double's 2^53. */
  def packAssign(df: DataFrame, srcCol: String, idCol: String, tokens: Column,
      budget: Long): DataFrame = {
    val w = Window.partitionBy(col(srcCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("__cum_before", coalesce(sum(tokens).over(w), lit(0L)))
      .withColumn("chunk_id", expr(s"__cum_before div $budget"))
      .withColumn("chunk_offset", col("__cum_before") % budget)
      .drop("__cum_before")
  }

  /** [[packAssign]] with a two-level distributed prefix sum — the form that
    * survives a 100 TB corpus with FEW sources, where packAssign's
    * per-source window serializes each source into one sorted partition.
    *
    * Shards are id ranges (`idCol div idWidth`), so ordering by (shard, id)
    * IS ordering by id and the assignment is identical to packAssign's —
    * same oracle, different plan. Level 1 runs the cumulative sum inside
    * each (source, shard) — parallelism = #shards, not #sources. Level 2
    * prefix-sums the per-shard token totals (one ROW per shard) and joins
    * the bases back. Pick `idWidth` so the shard count lands in the
    * thousands (≈ #docs / desired-partition-rows) — the base table's size
    * is #shards rows, and the join is left un-hinted so AQE broadcasts it
    * only when it measures small (a forced hint here would be the
    * driver-OOM footgun at a billion-doc scale with a too-small width). */
  def packAssignSharded(df: DataFrame, srcCol: String, idCol: String, tokens: Column,
      budget: Long, idWidth: Long): DataFrame = {
    val withShard = df.withColumn("__shard", expr(s"$idCol div $idWidth"))
      .withColumn("__tok", tokens)
    val w1 = Window.partitionBy(col(srcCol), col("__shard")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val inShard = withShard.withColumn("__cum_in", coalesce(sum(col("__tok")).over(w1), lit(0L)))
    val w2 = Window.partitionBy(col(srcCol)).orderBy(col("__shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = withShard.groupBy(col(srcCol), col("__shard"))
      .agg(sum(col("__tok")).as("__shard_tot"))
      .withColumn("__base", coalesce(sum(col("__shard_tot")).over(w2), lit(0L)))
      .select(col(srcCol), col("__shard"), col("__base"))
    inShard.join(bases, Seq(srcCol, "__shard"))
      .withColumn("__cum_before", col("__base") + col("__cum_in"))
      .withColumn("chunk_id", expr(s"__cum_before div $budget"))
      .withColumn("chunk_offset", col("__cum_before") % budget)
      .drop("__shard", "__tok", "__cum_in", "__base", "__cum_before")
  }

  /** Corpus-level passage dedup — the CCNet/RefinedWeb line-dedup analogue
    * for unstructured text. Each document's token stream is chunked into
    * fixed `width`-word passages; a passage whose exact content occurs
    * >= `minDf` times CORPUS-WIDE is boilerplate and is dropped from every
    * document; survivors reassemble in order. Output: (idCol, n_passages,
    * n_dropped, clean_text).
    *
    * Scale shape: the membership side is reduced to the BOILERPLATE KEY SET
    * (distinct passages with df >= minDf) before the join — the frequency
    * count shuffles only the narrow md5 key (map-side combinable), and the
    * full-width passage table then LEFT-joins that set, which is usually
    * small enough for AQE's runtime broadcast (no forced hint: a corpus
    * where half the passages are boilerplate degrades to a shuffle join,
    * not an OOM). The full-width table thus shuffles ONCE, on the document
    * id for reassembly, ordering restored by array_sort on the
    * (idx, passage) struct — never a global sort. No driver-side state. */
  def dedupPassages(df: DataFrame, idCol: String, textCol: String, width: Int,
      minDf: Long): DataFrame = {
    val pass = df.select(col(idCol), split(col(textCol), " ").as("__words"))
      .select(col(idCol), posexplode(expr(
        s"""transform(sequence(0, (size(__words) + $width - 1) div $width - 1),
           |  i -> array_join(slice(__words, i * $width + 1, $width), ' '))""".stripMargin))
        .as(Seq("idx", "passage")))
      .withColumn("__k", md5(col("passage")))
    val boiler = pass.groupBy(col("__k")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDf).select(col("__k"), lit(true).as("__boiler"))
    pass.join(boiler, Seq("__k"), "left")
      .withColumn("__keep", col("__boiler").isNull)
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_passages"),
        sum(when(col("__keep"), 0L).otherwise(1L)).as("n_dropped"),
        // collect_list skips the nulls the CASE leaves for dropped passages;
        // array_sort on (idx, passage) restores document order exactly
        array_join(expr(
          """transform(array_sort(collect_list(
            |  CASE WHEN __keep THEN struct(idx, passage) END)), s -> s.passage)""".stripMargin),
          " ").as("clean_text"))
  }

  /** Benchmark decontamination: per training doc, how many of its distinct
    * word `k`-gram shingles also occur anywhere in the benchmark set.
    * Returns (idCol, n_shingles, n_contam, contam_ratio) — flag/filter is
    * the caller's policy.
    *
    * The benchmark side collapses to DISTINCT shingles before the join (its
    * per-doc identity is irrelevant — and a benchmark is tiny next to the
    * corpus, so it broadcasts). The train side explodes ONCE: a left join
    * marks each train shingle hit-or-not, and a single aggregation counts
    * totals and hits together — never a second pass over the corpus. */
  def contamination(train: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame = {
    val benchSh = Dedup.shingles(bench, idCol, textCol, k).select(col("shingle")).distinct()
    Dedup.shingles(train, idCol, textCol, k)
      .join(broadcast(benchSh.withColumn("__hit", lit(1))), Seq("shingle"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"), count(col("__hit")).as("n_contam"))
      .withColumn("contam_ratio",
        round(col("n_contam").cast("double") / col("n_shingles"), 6))
  }

  /** [[contamination]] with a Bloom-filter semi-join reduction — the shape
    * that survives a benchmark set too large to broadcast as strings.
    *
    * [[contamination]] ships every distinct benchmark shingle STRING to
    * every executor; at ~30 bytes a shingle that broadcast grows linearly
    * with the benchmark suite. Here the benchmark side collapses to a
    * Bloom filter (`~10 bits/item` at fpp 0.01 — 3 orders of magnitude
    * smaller), built with Spark's public sketch API
    * (`DataFrameStat.bloomFilter`, the same `util.sketch.BloomFilter` the
    * optimizer's runtime-filter injection uses). Train shingles probe the
    * broadcast filter map-side; only the surviving sliver (true overlap +
    * fpp of the corpus) reaches the exact verify join, which removes false
    * positives. Since a Bloom filter has NO false negatives, the result is
    * byte-identical to [[contamination]] — same oracle, hash-gated.
    *
    * The probe is a Scala UDF: sketch membership has no public codegen'd
    * function (`might_contain` is optimizer-internal), and the UDF sits
    * behind the Generate in a stage that is shingle-explode-bound, not
    * probe-bound. Per-doc totals aggregate map-side in the same pass shape
    * as the exact variant; the corpus text never re-ships. */
  def contaminationBloom(train: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, k: Int, fpp: Double = 0.01): DataFrame = {
    val (benchSh, bfBc) = benchShingleBloom(bench, idCol, textCol, k, fpp)
    contaminationVsBloom(train, benchSh, bfBc, idCol, textCol, k)
  }

  /** Build-once half of [[contaminationBloom]]: the benchmark's distinct
    * shingles (eagerly materialized) plus their broadcast Bloom filter.
    * Streaming ingest builds this once and applies it per micro-batch. */
  def benchShingleBloom(bench: DataFrame, idCol: String, textCol: String,
      k: Int, fpp: Double): (DataFrame,
        org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter]) = {
    val benchSh = Dedup.shingles(bench, idCol, textCol, k)
      .select(col("shingle")).distinct().barrier()
    val expected = math.max(benchSh.count(), 1L)
    val bf = benchSh.stat.bloomFilter("shingle", expected, fpp)
    (benchSh, bench.sparkSession.sparkContext.broadcast(bf))
  }

  /** Apply half of [[contaminationBloom]]: probe `train` against a prebuilt
    * benchmark bloom + exact verify set. */
  def contaminationVsBloom(train: DataFrame, benchSh: DataFrame,
      bfBc: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter],
      idCol: String, textCol: String, k: Int): DataFrame = {
    val mightContain = udf((s: String) => s != null && bfBc.value.mightContainString(s))
    val trainSh = Dedup.shingles(train, idCol, textCol, k)
    val totals = trainSh.groupBy(col(idCol)).agg(count(lit(1)).as("n_shingles"))
    val hits = trainSh.filter(mightContain(col("shingle")))
      .join(benchSh, Seq("shingle"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_contam"))
    totals.join(hits, Seq(idCol), "left")
      .withColumn("n_contam", coalesce(col("n_contam"), lit(0L)))
      .withColumn("contam_ratio",
        round(col("n_contam").cast("double") / col("n_shingles"), 6))
  }

  /** DSIR importance scores (Xie et al. '23, "Data Selection for Language
    * Models via Importance Resampling", arXiv:2302.03169): score every doc
    * by how target-like its hashed-unigram distribution is.
    *
    * Features are hashed word buckets (md5 bucket — engine-portable);
    * per-bucket Laplace-smoothed log-likelihood ratio
    * `ln((ct+1)/(T+B)) - ln((cr+1)/(R+B))` between the target slice
    * (`targetPred`) and the rest; a doc's score is its count-weighted sum
    * of bucket ratios. Positive = looks more like the target distribution.
    *
    * Cross-engine determinism: each bucket ratio rounds to 4 decimals and
    * is pinned to DECIMAL(18,4), so the count-weighted sum is exact
    * integer-scaled arithmetic — order-independent under Spark's partial
    * aggregation (the Q.dsum discipline).
    *
    * Scale shape: one corpus explode into the (doc, bucket, cnt) frame
    * (eagerly checkpointed — it is ≤ docs × B rows, corpus-INDEPENDENT per
    * doc, and feeds two consumers); the ratio table is exactly B rows and
    * broadcasts; totals are a whitelisted 1-row broadcast. No global
    * order anywhere. */
  def dsirScores(df: DataFrame, idCol: String, textCol: String,
      targetPred: Column, buckets: Int = 1024): DataFrame =
    dsirScoresFromCounts(Dedup.wordCounts(df, idCol, textCol),
      df.select(col(idCol), targetPred.as("__t")), idCol, buckets)

  /** [[dsirScores]] over a pre-built (possibly checkpointed)
    * [[Dedup.wordCounts]] spine — composite jobs (c4) share one corpus
    * explode across the word-side gates and the DSIR model. `flags` is
    * (idCol, `__t` boolean), the doc-level target predicate evaluated
    * ONCE per doc. */
  /** Oracle-side DSIR MODEL chain (hashed-unigram LLR, Xie '23): CTEs
    * `{p}w → {p}db → {p}bc → {p}tot → {p}lam` with every constant (bucket
    * count, +1/+B smoothing, 4-dp DECIMAL pin) stated ONCE — t23, t29, and
    * c4's oracles all compose this builder, so the model arithmetic cannot
    * drift between their hash gates. Consumers read `{p}db` (doc, t, b,
    * cnt) and `{p}lam` (b, lam). */
  def dsirModelCtesSql(p: String, labelSql: String, table: String,
      buckets: Int = 1024): String =
    s"""${p}w AS MATERIALIZED (
       |  SELECT doc_id,
       |    ($labelSql) AS t,
       |    unnest(string_split(text, ' ')) AS word
       |  FROM $table),
       |${p}db AS MATERIALIZED (
       |  SELECT doc_id, t, ${Normalize.hashBucketSql("word", buckets)} AS b,
       |    CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM ${p}w WHERE word <> '' GROUP BY 1, 2, 3),
       |${p}bc AS MATERIALIZED (
       |  SELECT b, SUM(CASE WHEN t THEN cnt ELSE 0 END) AS ct,
       |    SUM(CASE WHEN NOT t THEN cnt ELSE 0 END) AS cr
       |  FROM ${p}db GROUP BY 1),
       |${p}tot AS (SELECT SUM(ct) AS tt, SUM(cr) AS tr FROM ${p}bc),
       |${p}lam AS (
       |  SELECT b, CAST(round(
       |    ln((ct + 1) / CAST(tt + $buckets AS DOUBLE)) -
       |    ln((cr + 1) / CAST(tr + $buckets AS DOUBLE)), 4) AS DECIMAL(18,4)) AS lam
       |  FROM ${p}bc CROSS JOIN ${p}tot)""".stripMargin

  def dsirScoresFromCounts(dw: DataFrame, flags: DataFrame, idCol: String,
      buckets: Int = 1024): DataFrame = {
    // Two profiled traps shape this plan (3.2 s → ~1 s at sf0.1):
    //  - the target predicate must NOT ride through the explode — codegen
    //    inlines it into the post-Generate stage and re-evaluates the
    //    full-text expression once per word OCCURRENCE (~2.3 s of the
    //    original plan). It is evaluated once per doc in a separate
    //    projection and joined in after the bucket reduce, where the frame
    //    is smallest (≤ docs × B rows).
    //  - the md5 bucket runs on the reduced (doc, word) spine, once per
    //    DISTINCT pair instead of once per occurrence; both aggs combine
    //    map-side.
    val docBuckets = dw
      .filter(col("word") =!= "")
      .select(col(idCol),
        Normalize.hashBucket(col("word"), buckets).as("__b"),
        col("dw_cnt").as("__c"))
      .groupBy(col(idCol), col("__b"))
      .agg(sum(col("__c")).as("__cnt"))
      .join(flags, Seq(idCol)).barrier()
    val bucketCounts = docBuckets.groupBy(col("__b")).agg(
      sum(when(col("__t"), col("__cnt")).otherwise(0L)).as("__ct"),
      sum(when(!col("__t"), col("__cnt")).otherwise(0L)).as("__cr"))
    val tot = bucketCounts.agg(
      sum(col("__ct")).as("__tt"), sum(col("__cr")).as("__tr"))
    val lam = bucketCounts.crossJoin(broadcast(tot))
      .select(col("__b"), round(
        log((col("__ct") + 1).cast("double") /
          (col("__tt") + buckets).cast("double")) -
        log((col("__cr") + 1).cast("double") /
          (col("__tr") + buckets).cast("double")), 4)
        .cast(DecimalType(18, 4)).as("__lam"))
    docBuckets.join(broadcast(lam), Seq("__b"))
      .groupBy(col(idCol))
      .agg(expr("bool_or(__t)").as("is_target"),
        sum(col("__cnt")).as("n_words"),
        round(sum(col("__cnt") * col("__lam")).cast("double"), 6)
          .as("dsir_score"))
      .withColumn("target_like", col("dsir_score") > 0)
  }

  /** Importance-ranked token-budget selection — the actual SELECTION step
    * of DSIR (Xie et al. '23): keep the highest-[[dsirScores]] documents
    * until a corpus-wide token budget is exhausted (ties at the boundary
    * score admit by ascending id). The complement of [[globalTokenBudget]]:
    * that one buys N tokens in deterministic-RANDOM order (a sample), this
    * one buys the N most-target-like tokens (a selection).
    *
    * Scale: semantically `SUM(tokens) OVER (ORDER BY score DESC, id) <=
    * budget`, but that global window serializes the corpus onto one task.
    * Instead: (1) a HISTOGRAM of per-score token totals (state = distinct
    * scores, not docs), (2) the t15 two-level banded prefix sum over the
    * histogram gives each score tier its tokens-before, (3) whole tiers
    * that fit are kept with NO per-doc window at all, and (4) only the ONE
    * boundary tier that straddles the budget gets an in-tier id-ordered
    * running sum — a window over a single score-tie class, the only
    * doc-level ordering the semantics genuinely needs.
    * Output: (idCol, n_words, dsir_score, tier_before) for kept docs. */
  def importanceBudget(df: DataFrame, idCol: String, textCol: String,
      targetPred: Column, budget: Long, buckets: Int = 1024): DataFrame =
    importanceBudgetFromScores(
      dsirScores(df, idCol, textCol, targetPred, buckets), idCol, budget)

  /** [[importanceBudget]]'s selection step over a pre-built (possibly
    * materialized) [[dsirScores]] frame — pipeline jobs consume the
    * `dsir_scores` mart instead of re-scoring the corpus. */
  def importanceBudgetFromScores(dsir: DataFrame, idCol: String,
      budget: Long): DataFrame = {
    val scored = dsir
      .select(col(idCol), col("n_words"), col("dsir_score"))
      .barrier() // feeds the histogram AND the tier join
    val hist = scored.groupBy(col("dsir_score"))
      .agg(sum(col("n_words")).as("__vt"))
      .withColumn("__band", floor(-col("dsir_score") * 4).cast("long"))
    // one global window over a provably band-bounded frame (~640 rows)
    val bandW = Window.orderBy(col("__band"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bandTot = hist.groupBy(col("__band")).agg(sum(col("__vt")).as("__bt"))
      .withColumn("__bprev", coalesce(sum(col("__bt")).over(bandW), lit(0L)))
      .select(col("__band"), col("__bprev"))
    val inBandW = Window.partitionBy(col("__band"))
      .orderBy(col("dsir_score").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val tiers = hist.join(bandTot, Seq("__band"))
      .withColumn("tier_before",
        col("__bprev") + coalesce(sum(col("__vt")).over(inBandW), lit(0L)))
      .select(col("dsir_score"), col("tier_before"), col("__vt"))
    val joined = scored.join(tiers, Seq("dsir_score"))
    val full = joined.filter(col("tier_before") + col("__vt") <= budget)
    val tieW = Window.partitionBy(col("dsir_score")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val partial = joined
      .filter(col("tier_before") < budget && col("tier_before") + col("__vt") > budget)
      .withColumn("__tc", sum(col("n_words")).over(tieW))
      .filter(col("tier_before") + col("__tc") <= budget)
    full.select(col(idCol), col("n_words"), col("dsir_score"), col("tier_before"))
      .unionByName(partial.select(col(idCol), col("n_words"),
        col("dsir_score"), col("tier_before")))
  }

  /** Corpus-duplicated substring runs (the exact-substring-dedup signal of
    * Lee et al. '21, "Deduplicating Training Data Makes Language Models
    * Better", arXiv:2107.06499 — re-expressed relationally: k-gram anchors
    * + interval union instead of a suffix array, which has no natural
    * distributed form).
    *
    * A token position is "duplicated" when its k-gram occurs >= 2 times
    * corpus-WIDE (within-doc repeats count — a doc quoting itself is still
    * duplicated text). Per doc, the covered intervals `[pos, pos+k-1]` of
    * duplicated positions merge into maximal spans (classic interval-union
    * via a running-max window), giving exact duplicated-token coverage —
    * NOT `sum(runs) * k`, which over-counts overlaps.
    *
    * Returns one row per input doc: (idCol, n_tokens, n_dup_grams,
    * n_dup_spans, longest_dup_span, dup_token_frac, dup_heavy). Docs with
    * < k tokens or no duplicated grams report zeros.
    *
    * Scale shape: one corpus shingle explode; the frequency count shuffles
    * the narrow md5 key (map-side combinable); duplicated positions
    * semi-join on the same key; the window runs per-doc (partitioned, no
    * global order). The df >= 2 anchor set is the only corpus-global state
    * and it shrinks with dedup quality. */
  def dupSubstringRuns(df: DataFrame, idCol: String, textCol: String,
      k: Int, heavyFrac: Double = 0.5): DataFrame = {
    val segs = dupSpanSegs(df, idCol, textCol, k)
    val perDoc = segs.groupBy(col(idCol)).agg(
      sum(col("__grams")).as("n_dup_grams"),
      count(lit(1)).as("n_dup_spans"),
      max(col("__cover")).as("longest_dup_span"),
      sum(col("__cover")).as("__covered"))
    df.select(col(idCol), wsTokens(col(textCol)).as("n_tokens"))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("longest_dup_span"), lit(0L)).as("longest_dup_span"),
        round(coalesce(col("__covered"), lit(0L)).cast("double") /
          col("n_tokens"), 6).as("dup_token_frac"))
      .withColumn("dup_heavy", col("dup_token_frac") >= heavyFrac)
  }

  /** Shared span machinery for [[dupSubstringRuns]] / [[scrubDupSpans]]:
    * per doc, the maximal merged intervals of token positions whose k-gram
    * occurs >= 2 times corpus-wide. One row per span:
    * (idCol, __seg, __s, __e, __grams, __cover). */
  private def dupSpanSegs(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val sh = df.select(col(idCol), split(col(textCol), " ").as("__words"))
      .filter(size(col("__words")) >= k)
      .select(col(idCol), posexplode(expr(
        s"""transform(sequence(0, size(__words) - $k),
           |  i -> array_join(slice(__words, i + 1, $k), ' '))""".stripMargin))
        .as(Seq("__pos", "__gram")))
      .select(col(idCol), col("__pos").cast("long").as("__pos"),
        md5(col("__gram")).as("__k"))
    val dupKeys = sh.groupBy(col("__k")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2).select(col("__k"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val spans = sh.join(dupKeys, Seq("__k"), "left_semi")
      .withColumn("__end", col("__pos") + lit(k - 1).cast("long"))
      .withColumn("__pmax", max(col("__end"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new",
        when(col("__pmax").isNull || col("__pos") > col("__pmax") + 1L, 1L)
          .otherwise(0L))
      .withColumn("__seg", sum(col("__new"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    spans.groupBy(col(idCol), col("__seg"))
      .agg(min(col("__pos")).as("__s"), max(col("__end")).as("__e"),
        count(lit(1)).as("__grams"))
      .withColumn("__cover", col("__e") - col("__s") + 1L)
  }

  /** Corpus duplicated-span SCRUB — the rewrite half of [[dupSubstringRuns]]:
    * where t22 only MEASURES exact-substring duplication (Lee et al. '21),
    * this removes it, emitting each document's text with every token inside
    * a corpus-duplicated span deleted (the aggressive remove-all-occurrences
    * policy: a span is boilerplate evidence wherever it appears, including
    * its first occurrence). Docs with < k tokens or no duplicated grams pass
    * through verbatim; a fully-covered doc comes back as the empty string —
    * downstream gates (t2/c2) drop it by length, which is the pipeline's
    * decision, not this operator's.
    *
    * Returns one row per input doc: (idCol, n_tokens, n_removed, clean_text).
    *
    * Scale shape: t22's machinery (one shingle explode, md5-key frequency
    * shuffle, per-doc interval-union window) plus three doc-local stages —
    * spans explode back to covered positions (bounded by doc length), an
    * anti-join on (doc, pos), and one per-doc reassembly agg whose
    * collect_list state is a single document's tokens (docs are KB-sized by
    * contract; the corpus never concentrates in one group). No global order
    * anywhere. */
  def scrubDupSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val covered = dupSpanSegs(df, idCol, textCol, k)
      .select(col(idCol), explode(sequence(col("__s"), col("__e"))).as("__pos"))
    val words = df
      .select(col(idCol), posexplode(split(col(textCol), " "))
        .as(Seq("__pos", "__word")))
      .select(col(idCol), col("__pos").cast("long").as("__pos"), col("__word"))
    val kept = words.join(covered, Seq(idCol, "__pos"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("__pos"), col("__word")))),
          x => x.getField("__word")), " ").as("clean_text"))
    df.select(col(idCol), wsTokens(col(textCol)).as("n_tokens"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        (col("n_tokens") - coalesce(col("__kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Corpus vocabulary heavy hitters via a COUNT-MIN sketch (Cormode &
    * Muthukrishnan '05) — the mergeable fixed-size frequency summary that
    * completes the engine's sketch family (HLL a4b, KLL a17b, Bloom t6b,
    * MinHash d2, SimHash d3, SRP d7): `depth × width` counters total,
    * independent of corpus size, each a plain SUM — so per-partition
    * sketches merge by addition and a streaming ingest can fold batches
    * into the same counter table.
    *
    * Every hash is the engine-portable salted md5 bucket, so estimates are
    * DETERMINISTIC given the data — both engines replicate the sketch
    * exactly and the full hash gate applies (no tolerance verdict needed,
    * unlike the engine-specific HLL/KLL sketch values).
    *
    * Emits one row per candidate heavy hitter — est_count ≥ N/`den` (the
    * φ = 1/den support threshold as exact integer arithmetic) — with its
    * exact count and the `is_true_hh` ground-truth flag. CMS never
    * underestimates, so the candidate set is a SUPERSET of the true heavy
    * hitters (no false negatives — the property that makes sketch-then-
    * exact-verify safe); `overcount` exposes the collision inflation.
    *
    * Scale shape: one corpus explode map-side-combined to the distinct-word
    * spine; the counter table is depth×width rows (broadcast back for the
    * estimate join); candidate enumeration rides the vocabulary-sized
    * spine, never corpus-sized state. */
  /** Word-count spine (`__w`, `__c`) — the vocabulary-sized reduction of
    * one corpus explode, shared by the sketch builders below. */
  def cmsWordSpine(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(col(textCol), " ")).as("__w"))
      .filter(col("__w") =!= "")
      .groupBy(col("__w")).agg(count(lit(1)).as("__c"))

  private def cmsRows(words: DataFrame, depth: Int, width: Int): DataFrame =
    words.select(col("__w"), col("__c"),
      posexplode(array((0 until depth).map(j =>
        Normalize.hashBucket(concat(lit(s"cms$j|"), col("__w")), width)): _*))
        .as(Seq("__j", "__b")))

  /** The CMS counter table (`__j`, `__b`, `__cnt`) for a word spine —
    * depth×width SUMs, so two counter tables (two partitions, two
    * micro-batches, two days) merge by unioning and re-summing. This is
    * the frame a streaming ingest persists per batch (st10). */
  def cmsCountersFromSpine(words: DataFrame, depth: Int = 3,
      width: Int = 1024): DataFrame =
    cmsRows(words, depth, width).groupBy(col("__j"), col("__b"))
      .agg(sum(col("__c")).as("__cnt"))

  /** Heavy-hitter candidates for a word spine against a PRE-BUILT counter
    * table (possibly merged from many partial sketches): est = min over
    * the word's depth counters; emit words with est ≥ N/den. */
  def cmsHeavyHittersFromCounters(words: DataFrame, counters: DataFrame,
      depth: Int = 3, width: Int = 1024, den: Int = 100): DataFrame = {
    val total = words.agg(sum(col("__c")).as("__n"))
    cmsRows(words, depth, width).join(broadcast(counters), Seq("__j", "__b"))
      .groupBy(col("__w"), col("__c"))
      .agg(min(col("__cnt")).as("est_count"))
      .crossJoin(broadcast(total))
      .filter(col("est_count") * den >= col("__n"))
      .select(col("__w").as("word"), col("__c").as("exact_count"),
        col("est_count"), col("__n").as("n_total"),
        (col("__c") * den >= col("__n")).as("is_true_hh"),
        (col("est_count") - col("__c")).as("overcount"))
  }

  /** Per-source distribution drift vs the corpus baseline — the
    * data-mix monitoring artifact a production pipeline watches between
    * crawls/ingests: KL(P_source ‖ P_corpus) and total-variation distance
    * over B hashed-unigram buckets (add-one smoothed, so every bucket
    * contributes and the divergence is finite even on disjoint vocab).
    *
    * Determinism: each (source, bucket) term — p·ln(p/q) for KL,
    * |p − q|/2 for TVD — rounds to DECIMAL(18,8) before the per-source
    * sum, so the B-term reductions are order-independent and the full
    * hash gate applies.
    *
    * Scale shape: one corpus explode reduced map-side to (source, bucket)
    * counts; the dense term frame is sources × B rows (built from
    * `spark.range(B)`, never from corpus data); the corpus baseline is a
    * B-row broadcast. */
  def sourceDrift(df: DataFrame, srcCol: String, textCol: String,
      buckets: Int = 256, klFactor: Double = 1.5): DataFrame =
    sourceDriftFromBuckets(
      sourceBucketCounts(df, srcCol, textCol, buckets).barrier(),
      srcCol, buckets, klFactor)

  /** The drift monitor's STATE spine: per-(source, hashed-unigram-bucket)
    * word counts — additive, so per-batch partials of this frame land in a
    * stream's state dir and re-sum to the batch-exact spine
    * ([[graft.streaming.Streams]] `driftIngest`, the cmsIngest pattern). */
  def sourceBucketCounts(df: DataFrame, srcCol: String, textCol: String,
      buckets: Int = 256): DataFrame = df
    .select(col(srcCol), explode(split(col(textCol), " ")).as("__w"))
    .filter(col("__w") =!= "")
    .groupBy(col(srcCol),
      Normalize.hashBucket(col("__w"), buckets).as("__b"))
    .agg(count(lit(1)).as("__c"))

  /** Drift report off a prebuilt (srcCol, __b, __c) spine — shared by the
    * batch path and the streaming merged-state path, so the two cannot
    * drift from each other. */
  def sourceDriftFromBuckets(sb: DataFrame, srcCol: String,
      buckets: Int = 256, klFactor: Double = 1.5): DataFrame = {
    val spark = sb.sparkSession
    val dec = DecimalType(18, 8)
    val corpus = sb.groupBy(col("__b")).agg(sum(col("__c")).as("__cb"))
    val totals = sb.groupBy(col(srcCol)).agg(sum(col("__c")).as("__ns"))
    val grand = sb.agg(sum(col("__c")).as("__n"))
    val dense = totals.crossJoin(spark.range(buckets).select(col("id").as("__b")))
      .join(sb, Seq(srcCol, "__b"), "left")
      .select(col(srcCol), col("__b"), col("__ns"),
        coalesce(col("__c"), lit(0L)).as("__c"))
    // LEFT join + coalesce: a bucket empty corpus-wide must still
    // contribute its smoothed term on BOTH sides — dropping it loses
    // positive KL mass and can drive the (provably >= 0) divergence
    // negative.
    val bySrc = dense.join(broadcast(corpus), Seq("__b"), "left")
      .crossJoin(broadcast(grand))
      .select(col(srcCol), col("__ns"),
        ((col("__c") + 1).cast("double") /
          (col("__ns") + buckets).cast("double")).as("__p"),
        ((coalesce(col("__cb"), lit(0L)) + 1).cast("double") /
          (col("__n") + buckets).cast("double")).as("__q"))
      .select(col(srcCol), col("__ns"),
        round(col("__p") * log(col("__p") / col("__q")), 8).cast(dec).as("__kl"),
        round(abs(col("__p") - col("__q")) / 2, 8).cast(dec).as("__tv"))
      .groupBy(col(srcCol))
      .agg(first(col("__ns")).as("n_words"),
        round(sum(col("__kl")).cast("double"), 6).as("kl_nats"),
        round(sum(col("__tv")).cast("double"), 6).as("tvd"))
      .barrier() // sources-row frame; feeds the mean AND the output
    // SELF-CALIBRATING drift flag (the t15 lesson: an absolute KL
    // threshold breaks the moment vocabulary/bucket occupancy shifts —
    // every source carries a smoothing-mass floor that scales with
    // empty-bucket count). A source drifts when it is an OUTLIER vs the
    // source cohort: kl > factor × mean-kl. The mean is a decimal sum
    // over the sources-row frame — deterministic at any scale.
    val mean = bySrc.agg(round(
      (sum(col("kl_nats").cast(DecimalType(18, 6))) / count(lit(1)))
        .cast("double"), 6).as("mean_kl"))
    bySrc.crossJoin(broadcast(mean))
      .withColumn("drifted", col("kl_nats") > lit(klFactor) * col("mean_kl"))
  }

  /** Oracle-side spelling of [[sourceDrift]]. */
  def sourceDriftSql(srcExpr: String, textExpr: String, table: String,
      buckets: Int = 256, klFactor: Double = 1.5): String =
    s"""WITH w AS (
       |  SELECT $srcExpr AS src, unnest(string_split($textExpr, ' ')) AS word
       |  FROM $table),
       |sb AS MATERIALIZED (
       |  SELECT src, ${Normalize.hashBucketSql("word", buckets)} AS b,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM w WHERE word <> '' GROUP BY 1, 2),
       |corpus AS (SELECT b, CAST(SUM(c) AS BIGINT) AS cb FROM sb GROUP BY 1),
       |totals AS (SELECT src, CAST(SUM(c) AS BIGINT) AS ns FROM sb GROUP BY 1),
       |grand AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM sb),
       |dense AS (
       |  SELECT totals.src AS src, r.range AS b, ns, COALESCE(c, 0) AS c
       |  FROM totals CROSS JOIN range($buckets) r
       |  LEFT JOIN sb ON sb.src = totals.src AND sb.b = r.range),
       |terms AS (
       |  SELECT src, ns,
       |    CAST(round(p * ln(p / q), 8) AS DECIMAL(18,8)) AS kl,
       |    CAST(round(abs(p - q) / 2, 8) AS DECIMAL(18,8)) AS tv
       |  FROM (
       |    SELECT src, ns,
       |      (c + 1) / CAST(ns + $buckets AS DOUBLE) AS p,
       |      (COALESCE(cb, 0) + 1) / CAST(n + $buckets AS DOUBLE) AS q
       |    FROM dense LEFT JOIN corpus USING (b) CROSS JOIN grand)),
       |agg AS MATERIALIZED (
       |  SELECT src, MIN(ns) AS n_words,
       |    round(CAST(SUM(kl) AS DOUBLE), 6) AS kl_nats,
       |    round(CAST(SUM(tv) AS DOUBLE), 6) AS tvd
       |  FROM terms GROUP BY 1),
       |m AS (
       |  SELECT round(CAST(SUM(CAST(kl_nats AS DECIMAL(18,6))) / COUNT(*)
       |    AS DOUBLE), 6) AS mean_kl
       |  FROM agg)
       |SELECT src AS $srcExpr, CAST(n_words AS BIGINT) AS n_words,
       |  kl_nats, tvd, mean_kl, kl_nats > $klFactor * mean_kl AS drifted
       |FROM agg CROSS JOIN m""".stripMargin

  /** BM25 ranked retrieval (Robertson-Sparck Jones; the Lucene
    * `(1 + ln((N - df + 0.5)/(df + 0.5)))`-family scoring) for a FIXED
    * query-term set — the ranking half of the RAG story whose passage side
    * is t19: score = Σ_t idf_t · tf/(tf + k1·(1 − b + b·dl/avgdl)).
    *
    * Determinism: idf pins to DECIMAL(18,4) (the t23 weight contract) and
    * each per-term addend rounds to DECIMAL(18,6) before the per-doc sum,
    * so scores are partitioning- and engine-independent; ties break on id.
    *
    * Scale shape: the posting spine is (doc, term) for query terms only —
    * the explode filters to the term set BEFORE any shuffle, so the spine
    * is matches-sized, not corpus-sized. df/idf/avgdl are a terms-row and
    * a 1-row broadcast; top-k is TakeOrderedAndProject (no global sort
    * materialization), rank a post-limit bounded window. */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val dl = df.select(col(idCol), wsTokens(col(textCol)).as("__dl")).barrier()
    val stats = dl.agg(count(lit(1)).as("__nd"),
      (sum(col("__dl")).cast("double") / count(lit(1))).as("__avgdl"))
    val spine = df
      .select(col(idCol), explode(split(col(textCol), " ")).as("__t"))
      .filter(col("__t").isInCollection(terms))
      .groupBy(col(idCol), col("__t"))
      .agg(count(lit(1)).as("__tf"))
    val idf = spine.groupBy(col("__t")).agg(count(lit(1)).as("__df"))
      .crossJoin(broadcast(stats.select(col("__nd"))))
      .select(col("__t"), round(
        log((col("__nd") - col("__df") + 0.5) / (col("__df") + 0.5) + 1.0), 4)
        .cast(DecimalType(18, 4)).as("__idf"))
    val scored = spine.join(dl, Seq(idCol))
      .crossJoin(broadcast(stats.select(col("__avgdl"))))
      .join(broadcast(idf), Seq("__t"))
      .select(col(idCol), round(
        col("__idf") * col("__tf") /
          (col("__tf") + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("__dl") / col("__avgdl"))), 6)
        .cast(DecimalType(18, 6)).as("__a"))
      .groupBy(col(idCol))
      .agg(sum(col("__a")).cast("double").as("bm25"))
      .orderBy(col("bm25").desc, col(idCol)).limit(k)
    scored.withColumn("rank", row_number().over(
      org.apache.spark.sql.expressions.Window
        .orderBy(col("bm25").desc, col(idCol))).cast("long"))
  }

  /** Oracle-side spelling of [[bm25TopK]]. */
  def bm25Sql(idExpr: String, textExpr: String, table: String,
      terms: Seq[String], k: Int, k1: Double = 1.2,
      b: Double = 0.75): String = {
    val termList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH dl AS MATERIALIZED (
       |  SELECT $idExpr AS id,
       |    CAST(len(string_split($textExpr, ' ')) AS BIGINT) AS dl
       |  FROM $table),
       |stats AS MATERIALIZED (
       |  SELECT COUNT(*) AS nd,
       |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
       |spine AS MATERIALIZED (
       |  SELECT id, t, CAST(COUNT(*) AS BIGINT) AS tf FROM (
       |    SELECT $idExpr AS id, unnest(string_split($textExpr, ' ')) AS t
       |    FROM $table)
       |  WHERE t IN ($termList) GROUP BY 1, 2),
       |idf AS (
       |  SELECT t, CAST(round(
       |    ln((nd - df + 0.5) / (df + 0.5) + 1.0), 4) AS DECIMAL(18,4)) AS idf
       |  FROM (SELECT t, COUNT(*) AS df FROM spine GROUP BY 1)
       |  CROSS JOIN stats),
       |scored AS MATERIALIZED (
       |  SELECT id, CAST(SUM(a) AS DOUBLE) AS bm25 FROM (
       |    SELECT s.id, CAST(round(
       |      idf * tf / (tf + $k1 * ((1.0 - $b) + $b * dl / avgdl)),
       |      6) AS DECIMAL(18,6)) AS a
       |    FROM spine s JOIN dl ON s.id = dl.id
       |    CROSS JOIN stats JOIN idf USING (t))
       |  GROUP BY 1)
       |SELECT id AS $idExpr, bm25,
       |  CAST(row_number() OVER (ORDER BY bm25 DESC, id) AS BIGINT) AS rank
       |FROM scored
       |QUALIFY row_number() OVER (ORDER BY bm25 DESC, id) <= $k""".stripMargin
  }

  /** Query-likelihood retrieval with Dirichlet smoothing (Zhai & Lafferty
    * '01) — the LM-based scorer next to [[bm25TopK]]'s tf-idf family:
    * score(d) = Σ_t ln((tf_{t,d} + μ·P(t|C)) / (dl_d + μ)), P(t|C) the
    * corpus unigram probability. EVERY doc scores (absent terms get the
    * smoothing mass), so the scored frame is corpus × |terms| — linear.
    *
    * Determinism: tf/dl/ctf/|C| are exact BIGINTs and each per-term addend
    * runs through ONE fixed double expression tree then pins to
    * DECIMAL(18,6) before the order-free per-doc sum (the bm25 contract).
    * Top-k is TakeOrderedAndProject; rank a post-limit bounded window.
    *
    * Zero-ctf terms: a query term with ZERO corpus occurrences is DROPPED
    * from every doc's score (the inner join to `ctf` below; `qlSql` joins
    * the same way). This is intentional — true Dirichlet QL with P(t|C)=0
    * gives ln(tf/(dl+μ)) = −inf for docs lacking the term, which poisons
    * every score — but it means scores are only comparable across queries
    * whose terms ALL appear in the corpus; callers comparing absolute QL
    * scores across different term sets should pre-check corpus presence. */
  def qlTopK(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int, mu: Double = 2000.0): DataFrame = {
    val dl = df.select(col(idCol), wsTokens(col(textCol)).as("__dl")).barrier()
    val toks = df.select(col(idCol), explode(split(col(textCol), " ")).as("__t"))
    val corp = dl.agg(sum(col("__dl")).as("__ct"))
    val ctf = toks.filter(col("__t").isInCollection(terms))
      .groupBy(col("__t")).agg(count(lit(1)).as("__ctf"))
    val spine = toks.filter(col("__t").isInCollection(terms))
      .groupBy(col(idCol), col("__t")).agg(count(lit(1)).as("__tf"))
    val perTerm = dl
      .select(col(idCol), col("__dl"),
        explode(array(terms.map(lit): _*)).as("__t"))
      .join(spine, Seq(idCol, "__t"), "left")
      .join(broadcast(ctf), Seq("__t"))
      .crossJoin(broadcast(corp))
      .select(col(idCol), round(
        log((coalesce(col("__tf"), lit(0L)) +
          lit(mu) * (col("__ctf").cast("double") / col("__ct").cast("double"))) /
          (col("__dl") + lit(mu))), 6)
        .cast(DecimalType(18, 6)).as("__a"))
    val scored = perTerm.groupBy(col(idCol))
      .agg(sum(col("__a")).cast("double").as("ql"))
      .orderBy(col("ql").desc, col(idCol)).limit(k)
    scored.withColumn("rank", row_number().over(
      org.apache.spark.sql.expressions.Window
        .orderBy(col("ql").desc, col(idCol))).cast("long"))
  }

  /** Oracle-side spelling of [[qlTopK]]. */
  def qlSql(idExpr: String, textExpr: String, table: String,
      terms: Seq[String], k: Int, mu: Double = 2000.0): String = {
    val termList = terms.map(t => s"'$t'").mkString(", ")
    val termRows = terms.map(t => s"('$t')").mkString(", ")
    s"""WITH dl AS MATERIALIZED (
       |  SELECT $idExpr AS id,
       |    CAST(len(string_split($textExpr, ' ')) AS BIGINT) AS dl
       |  FROM $table),
       |corp AS (SELECT CAST(SUM(dl) AS BIGINT) AS ct FROM dl),
       |toks AS MATERIALIZED (
       |  SELECT $idExpr AS id, unnest(string_split($textExpr, ' ')) AS t
       |  FROM $table),
       |ctf AS (
       |  SELECT t, CAST(COUNT(*) AS BIGINT) AS ctf FROM toks
       |  WHERE t IN ($termList) GROUP BY 1),
       |spine AS MATERIALIZED (
       |  SELECT id, t, CAST(COUNT(*) AS BIGINT) AS tf FROM toks
       |  WHERE t IN ($termList) GROUP BY 1, 2),
       |per_term AS (
       |  SELECT dl.id, CAST(round(
       |    ln((COALESCE(s.tf, 0) + $mu * (CAST(c.ctf AS DOUBLE) / CAST(corp.ct AS DOUBLE)))
       |       / (dl.dl + $mu)), 6) AS DECIMAL(18,6)) AS a
       |  FROM dl CROSS JOIN (VALUES $termRows) q(t)
       |  LEFT JOIN spine s ON s.id = dl.id AND s.t = q.t
       |  JOIN ctf c ON c.t = q.t
       |  CROSS JOIN corp),
       |scored AS MATERIALIZED (
       |  SELECT id, CAST(SUM(a) AS DOUBLE) AS ql FROM per_term GROUP BY 1)
       |SELECT id AS $idExpr, ql,
       |  CAST(row_number() OVER (ORDER BY ql DESC, id) AS BIGINT) AS rank
       |FROM scored
       |QUALIFY row_number() OVER (ORDER BY ql DESC, id) <= $k""".stripMargin
  }

  def cmsHeavyHitters(df: DataFrame, textCol: String, depth: Int = 3,
      width: Int = 1024, den: Int = 100): DataFrame = {
    // The vocabulary spine feeds three consumers (counters, total, the
    // estimate join); checkpoint it so the corpus explode runs ONCE —
    // the frame is vocabulary-sized, never corpus-sized.
    val words = cmsWordSpine(df, textCol).barrier()
    cmsHeavyHittersFromCounters(words,
      cmsCountersFromSpine(words, depth, width), depth, width, den)
  }

  /** Oracle-side spelling of [[cmsHeavyHitters]]. */
  def cmsHeavyHittersSql(textExpr: String, table: String, depth: Int = 3,
      width: Int = 1024, den: Int = 100): String = {
    val salted = "'cms' || CAST(j AS VARCHAR) || '|' || word"
    s"""WITH w AS (
       |  SELECT unnest(string_split($textExpr, ' ')) AS word FROM $table),
       |wc AS MATERIALIZED (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM w WHERE word <> '' GROUP BY 1),
       |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM wc),
       |r AS MATERIALIZED (
       |  SELECT word, c, j, ${Normalize.hashBucketSql(salted, width)} AS b
       |  FROM wc CROSS JOIN (SELECT unnest(range($depth)) AS j)),
       |ctr AS (
       |  SELECT j, b, CAST(SUM(c) AS BIGINT) AS cnt FROM r GROUP BY 1, 2),
       |e AS (
       |  SELECT word, c, MIN(cnt) AS est_count
       |  FROM r JOIN ctr USING (j, b) GROUP BY 1, 2)
       |SELECT word, c AS exact_count, est_count, n AS n_total,
       |  c * $den >= n AS is_true_hh,
       |  est_count - c AS overcount
       |FROM e CROSS JOIN tot
       |WHERE est_count * $den >= n""".stripMargin
  }

  /** Content-defined chunking (CDC): split each document into variable-size
    * chunks whose boundaries are chosen by CONTENT (a rolling-window hash
    * hitting 0 mod `div`), not by position — the storage-dedup primitive
    * (Muthitacharoen et al. SOSP '01, LBFS) applied to text. Because a
    * boundary depends only on the `w` words ending at it, two documents
    * sharing a long region chunk that region IDENTICALLY regardless of
    * where it starts in each doc — which is exactly what fixed-offset
    * passage windows (t10/t19) cannot do, and what makes chunk-hash
    * equality a shift-invariant duplicated-region detector.
    *
    * Entirely row-local per document (array higher-order functions:
    * `filter` picks boundary positions, `transform` slices the chunks —
    * no window function, no per-doc shuffle, linear in doc length), then
    * one explode to (doc, chunk) rows. Expected chunk length ≈ `div`
    * words; the final partial chunk always closes at the doc end.
    * Output: (idCol, chunk ARRAY<string> exploded as `chunk`). */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
      w: Int = 3, div: Int = 16, salt: String = "cdc"): DataFrame = {
    val hashSql = s"CAST(conv(substring(md5(concat('$salt|', " +
      s"array_join(slice(__ws, i - ${w - 1}, $w), ' '))), 1, 6), 16, 10) AS BIGINT)"
    df.select(col(idCol), split(col(textCol), " ").as("__ws"))
      .withColumn("__b", expr(
        s"filter(sequence(1, size(__ws)), i -> i >= $w AND $hashSql % $div = 0)"))
      .withColumn("__e", expr(
        """IF(size(__b) > 0 AND element_at(__b, -1) = size(__ws),
          |   __b, concat(__b, array(size(__ws))))""".stripMargin))
      .select(col(idCol), expr(
        """explode(transform(__e, (p, j) ->
          |  array_join(slice(__ws, IF(j = 0, 1, element_at(__e, j) + 1),
          |    p - IF(j = 0, 0, element_at(__e, j))), ' ')))""".stripMargin)
        .as("chunk"))
  }

  /** Per-document CDC dedup stats: chunk the corpus ([[cdcChunks]]), count
    * corpus-wide occurrences of each chunk fingerprint, and roll up per
    * doc how much of it is made of chunks that occur more than once
    * anywhere (including within the same doc). The cross-doc state is one
    * md5-keyed count aggregation — shuffle proportional to chunk count
    * (≈ corpus words / div), never quadratic in document pairs. */
  def cdcChunkStats(df: DataFrame, idCol: String, textCol: String,
      w: Int = 3, div: Int = 16, salt: String = "cdc"): DataFrame = {
    val chunks = cdcChunkInstances(df, idCol, textCol, w, div, salt)
    cdcChunkStatsFromCensus(chunks,
      chunks.groupBy(col("__h")).agg(count(lit(1)).as("__occ")), idCol)
  }

  /** Chunk instances with fingerprint + word count — the frame both the
    * census build and the per-doc rollup consume. */
  def cdcChunkInstances(df: DataFrame, idCol: String, textCol: String,
      w: Int = 3, div: Int = 16, salt: String = "cdc"): DataFrame =
    cdcChunks(df, idCol, textCol, w, div, salt)
      .withColumn("__h", md5(col("chunk")))
      .withColumn("__cw", size(split(col("chunk"), " ")).cast("long"))

  /** The corpus chunk census (fingerprint → occurrence count) — additive,
    * so per-batch partials merge by summation (the streaming ingest seat). */
  def cdcCensus(df: DataFrame, idCol: String, textCol: String,
      w: Int = 3, div: Int = 16, salt: String = "cdc"): DataFrame =
    cdcChunkInstances(df, idCol, textCol, w, div, salt)
      .groupBy(col("__h")).agg(count(lit(1)).as("__occ"))

  /** [[cdcChunkStats]]'s per-doc rollup against an EXTERNAL census frame
    * (`(__h, __occ)`) — streaming ingest merges per-batch censuses and
    * reuses this rollup unchanged. */
  def cdcChunkStatsFromCensus(chunks: DataFrame, occ: DataFrame,
      idCol: String): DataFrame =
    chunks.join(occ, Seq("__h"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("__cw")).as("n_words"),
        sum(when(col("__occ") > 1, 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(when(col("__occ") > 1, col("__cw")).otherwise(0L)).as("dup_words"))
      .select(col(idCol), col("n_chunks"), col("n_words"),
        col("n_dup_chunks"), col("dup_words"),
        round(col("n_dup_chunks").cast("double") / col("n_chunks"), 6)
          .as("dup_chunk_frac"),
        round(col("dup_words").cast("double") / col("n_words"), 6)
          .as("dup_word_frac"))

  /** Oracle-side spelling of [[cdcChunkStats]]. */
  def cdcChunkStatsSql(idExpr: String, textExpr: String, table: String,
      w: Int = 3, div: Int = 16, salt: String = "cdc"): String = {
    val win = s"array_to_string(ws[i - ${w - 1}:i], ' ')"
    s"""WITH d AS (
       |  SELECT $idExpr AS id, string_split($textExpr, ' ') AS ws FROM $table),
       |bd AS (
       |  SELECT id, ws, list_filter(range(1, len(ws) + 1),
       |    i -> i >= $w AND ${hashUnitSql(win, salt)} % $div = 0) AS b
       |  FROM d),
       |ed AS (
       |  SELECT id, ws, CASE WHEN len(b) > 0 AND b[-1] = len(ws)
       |    THEN b ELSE list_append(b, len(ws)) END AS e
       |  FROM bd),
       |ch AS (
       |  SELECT id, unnest(list_transform(range(len(e)), j ->
       |    array_to_string(
       |      ws[(CASE WHEN j = 0 THEN 1 ELSE e[j] + 1 END):e[j + 1]], ' ')))
       |    AS chunk
       |  FROM ed),
       |cw AS MATERIALIZED (
       |  SELECT id, chunk, md5(chunk) AS h,
       |    CAST(len(string_split(chunk, ' ')) AS BIGINT) AS nw
       |  FROM ch),
       |occ AS (SELECT h, COUNT(*) AS occ FROM cw GROUP BY 1)
       |SELECT id AS $idExpr,
       |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |  CAST(SUM(nw) AS BIGINT) AS n_words,
       |  CAST(SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       |  CAST(SUM(CASE WHEN occ > 1 THEN nw ELSE 0 END) AS BIGINT) AS dup_words,
       |  round(CAST(SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / COUNT(*), 6) AS dup_chunk_frac,
       |  round(CAST(SUM(CASE WHEN occ > 1 THEN nw ELSE 0 END) AS DOUBLE)
       |    / SUM(nw), 6) AS dup_word_frac
       |FROM cw JOIN occ USING (h)
       |GROUP BY 1""".stripMargin
  }

  /** Weighted sampling without replacement (Efraimidis–Spirakis A-ES,
    * IPL '06): keep, per stratum, the k documents with the LARGEST
    * `u^(1/w)` where u is a per-doc uniform and w the doc's weight —
    * exactly the distribution of sequential weighted draws without
    * replacement. Ranking on `ln(u)/w` descending is order-equivalent
    * and numerically tamer than the k-th-root; `u` comes from the salted
    * [[hashUnit]] (shifted to (0,1]) so the sample is deterministic
    * across runs, partitionings, and engines, and the key is rounded to
    * 8 decimals before ranking (id tiebreak) so the two engines'
    * last-ulp `ln` cannot flip an ordering.
    *
    * This is the quality-WEIGHTED counterpart of [[quotaSample]]
    * (uniform-per-stratum): a doc with twice the weight is twice as
    * likely to be drawn at each step, the standard "sample by quality
    * score" curation primitive. Scale: the rank-filter window compiles
    * to WindowGroupLimit — every map partition pre-prunes to its own
    * top k before the shuffle, so at most k rows per input partition
    * move, and no stratum ever sits on one node. */
  def weightedSample(df: DataFrame, strataCol: String, idCol: String,
      weight: Column, k: Int, salt: String): DataFrame = {
    val u = (hashUnit(col(idCol), salt) + 1).cast("double") / (1L << 24).toDouble
    val keyed = df
      .withColumn("samp_weight", weight)
      // A-ES keys are only meaningful for w > 0: a negative w flips
      // ln(u)/w's sign (ranking the LEAST desirable rows first) and w = 0
      // can yield NaN. Drawing weight 0 rows with probability 0 = drop.
      .filter(col("samp_weight") > 0)
      .withColumn("samp_key", round(log(u) / col("samp_weight"), 8))
    val w = Window.partitionBy(col(strataCol))
      .orderBy(col("samp_key").desc, col(idCol))
    keyed
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= k)
  }

  /** Oracle-side spelling of [[weightedSample]]: `weightExpr` must mirror
    * the Column passed to the Scala side (e.g. quality score + floor). */
  def weightedSampleSql(strataExpr: String, idExpr: String, weightExpr: String,
      k: Int, salt: String, table: String): String =
    s"""WITH s AS (
       |  SELECT $strataExpr, $idExpr, ($weightExpr) AS samp_weight,
       |    round(ln((${hashUnitSql(idExpr, salt)} + 1) / ${(1L << 24).toDouble}) /
       |      ($weightExpr), 8) AS samp_key
       |  FROM $table WHERE ($weightExpr) > 0),
       |r AS (
       |  SELECT *, CAST(row_number() OVER (
       |    PARTITION BY $strataExpr ORDER BY samp_key DESC, $idExpr)
       |    AS BIGINT) AS sample_rank
       |  FROM s)
       |SELECT * FROM r WHERE sample_rank <= $k""".stripMargin

  /** WINNOWING fingerprint selection (Schleimer, Wilkerson, Aiken,
    * SIGMOD '03 — the MOSS algorithm): from every window of `w` consecutive
    * word `k`-gram hashes, keep the MINIMUM hash (ties → rightmost
    * position), then dedupe the selections. Guarantees: any shared run of
    * w + k - 1 words between two documents yields at least one SHARED
    * fingerprint (the detection guarantee t4's whole-doc fingerprint and
    * t10's fixed-grid passages lack — winnowing is shift-invariant), while
    * selecting only ~2/(w+1) of all k-grams (the density bound).
    *
    * The min-with-rightmost-tie pick is ONE window pass: each gram carries
    * the composite key hash ++ (999999999 - pos) zero-padded — lexicographic
    * min of that string IS (min hash, max pos). All windows are partitioned
    * per document with a w-row frame; everything is md5/string arithmetic,
    * so the DuckDB oracle replays the selection exactly.
    *
    * Output: (id, fp 16-hex-char, fp_pos) — distinct selected fingerprints
    * with the k-gram start position (docs shorter than w + k - 1 words have
    * no complete window and yield no rows). */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be >= 1: k=$k w=$w")
    // the min-selection key is a (hi, lo, −pos) struct of two 32-bit md5
    // lanes + the negated position — ordering-identical to the former
    // 25-char "hex ++ zero-padded (1e9 − pos)" string (unsigned lane
    // compare == hex-string compare; −pos descending == padded-complement
    // ascending), but the sliding-frame min now compares three longs per
    // step instead of re-walking 25-byte strings, and no per-gram string
    // concat/lpad is built at all (r12, guide §1.2 per-task work)
    val grams = df.select(col(idCol), split(col(textCol), " ").as("__words"))
      .filter(size(col("__words")) >= k)
      .select(col(idCol), posexplode(expr(
        s"""transform(sequence(0, size(__words) - $k),
           |  i -> array_join(slice(__words, i + 1, $k), ' '))""".stripMargin)))
      .select(col(idCol), col("pos"),
        struct(
          conv(substring(md5(col("col")), 1, 8), 16, 10).cast("long").as("hi"),
          conv(substring(md5(col("col")), 9, 8), 16, 10).cast("long").as("lo"),
          (-col("pos")).as("np")).as("key"))
    val win = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(-(w - 1), 0)
    grams.withColumn("wm", min(col("key")).over(win))
      .filter(col("pos") >= w - 1)
      .select(col(idCol),
        concat(lpad(lower(hex(col("wm.hi"))), 8, "0"),
          lpad(lower(hex(col("wm.lo"))), 8, "0")).as("fp"),
        (-col("wm.np")).cast("int").as("fp_pos"))
      .distinct()
  }

  /** Oracle-side spelling of [[winnowFingerprints]] as a CTE chain ending in
    * `wsel` (id, fp, fp_pos). */
  def winnowFingerprintsSql(idExpr: String, textExpr: String, table: String,
      k: Int, w: Int): String =
    s"""wgrams AS (
       |  SELECT $idExpr, u.pos AS pos,
       |    substr(md5(u.g), 1, 16) ||
       |      lpad(CAST(999999999 - u.pos AS VARCHAR), 9, '0') AS key
       |  FROM (SELECT $idExpr, unnest(list_transform(
       |      range(greatest(len(ws) - ${k - 1}, 0)),
       |      i -> struct_pack(pos := i,
       |        g := array_to_string(ws[i+1:i+$k], ' ')))) AS u
       |    FROM (SELECT $idExpr, string_split($textExpr, ' ') AS ws
       |          FROM $table) w0) w1),
       |wsel AS (
       |  SELECT DISTINCT $idExpr, substr(wm, 1, 16) AS fp,
       |    CAST(999999999 - CAST(substr(wm, 17, 9) AS BIGINT) AS INTEGER)
       |      AS fp_pos
       |  FROM (SELECT $idExpr, pos,
       |      MIN(key) OVER (PARTITION BY $idExpr ORDER BY pos
       |        ROWS BETWEEN ${w - 1} PRECEDING AND CURRENT ROW) AS wm
       |    FROM wgrams)
       |  WHERE pos >= ${w - 1})""".stripMargin
}
