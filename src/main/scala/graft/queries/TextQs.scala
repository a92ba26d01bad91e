package graft.queries

import graft.core.Tables
import graft.ops.Checkpoints.BarrierOps
import graft.ops.TextAnalysis
import org.apache.spark.sql.functions._

/** Text-analysis queries over `documents` (BASELINE north star ops). */
object TextQs {

  // Shared by t5 and t5b: both packing plans must produce the same
  // assignment, so they share one oracle verbatim.
  private val packingOracle: String =
    s"""WITH t AS (SELECT doc_id, source,
       |  ${TextAnalysis.wsTokensSql("text")} AS n_tokens FROM documents),
       |c AS (SELECT doc_id, source, n_tokens,
       |  COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |  FROM t)
       |SELECT doc_id, source, n_tokens,
       |  CAST(cum_before // 2048 AS BIGINT) AS chunk_id,
       |  CAST(cum_before % 2048 AS BIGINT) AS chunk_offset,
       |  cum_before % 2048 + n_tokens > 2048 AS straddles
       |FROM c""".stripMargin

  // Shared by t6, t6b, and st8: the bloom path is exact (no false
  // negatives + verify join) and the streaming upsert is per-doc
  // deterministic, so all three decontamination plans share one oracle.
  private[queries] val decontaminateOracle: String =
    """WITH bsh AS (
      |  SELECT DISTINCT unnest(list_transform(
      |    range(greatest(len(string_split(text, ' ')) - 4, 0)),
      |    i -> array_to_string(string_split(text, ' ')[i+1:i+5], ' '))) AS shingle
      |  FROM documents WHERE doc_id % 97 = 0 AND len(string_split(text, ' ')) >= 5),
      |tsh AS MATERIALIZED (
      |  SELECT DISTINCT doc_id, unnest(list_transform(
      |    range(greatest(len(string_split(text, ' ')) - 4, 0)),
      |    i -> array_to_string(string_split(text, ' ')[i+1:i+5], ' '))) AS shingle
      |  FROM documents WHERE doc_id % 97 <> 0 AND len(string_split(text, ' ')) >= 5),
      |ns AS (SELECT doc_id, COUNT(*) AS n_shingles FROM tsh GROUP BY 1),
      |hits AS (SELECT doc_id, COUNT(*) AS n_contam
      |         FROM tsh JOIN bsh USING (shingle) GROUP BY 1)
      |SELECT ns.doc_id, n_shingles,
      |  COALESCE(n_contam, 0) AS n_contam,
      |  round(CAST(COALESCE(n_contam, 0) AS DOUBLE) / n_shingles, 6) AS contam_ratio,
      |  COALESCE(n_contam, 0) > 0 AS flagged
      |FROM ns LEFT JOIN hits USING (doc_id)""".stripMargin

  val qs: Seq[Q] = Seq(

    // T1: n-gram/stopword language-ID heuristic vs the labeled lang column.
    Q("t1_lang_id",
      (s, d) => Tables.documents(s, d)
        .withColumn("predicted_lang", TextAnalysis.langId("text"))
        .groupBy(col("lang"), col("predicted_lang"))
        .agg(count(lit(1)).as("n")),
      Some(s"""SELECT lang, ${TextAnalysis.langIdSql("text")} AS predicted_lang, COUNT(*) AS n
              |FROM documents GROUP BY 1, 2""".stripMargin)),

    // T2: quality scoring (length / stopword share / token length).
    Q("t2_quality_score",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.qualityScore("text").as("quality"),
          TextAnalysis.wsTokens(col("text")).as("n_tokens")),
      Some(s"""SELECT doc_id, ${TextAnalysis.qualityScoreSql("text")} AS quality,
              |${TextAnalysis.wsTokensSql("text")} AS n_tokens
              |FROM documents""".stripMargin),
      bench = true),

    // T3: token counting — whitespace tokens + BPE-ish subword regex.
    Q("t3_token_counts",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.wsTokens(col("text")).as("ws_tokens"),
          TextAnalysis.bpeTokens(col("text")).as("bpe_tokens"),
          col("n_chars")),
      Some(s"""SELECT doc_id, ${TextAnalysis.wsTokensSql("text")} AS ws_tokens,
              |${TextAnalysis.bpeTokensSql("text")} AS bpe_tokens, n_chars
              |FROM documents""".stripMargin)),

    // U3: the external-enrichment seat (SURVEY §2.9 — LLM offer extraction /
    // vision analysis). The model's outputs live as a CACHED LOOKUP TABLE
    // keyed by input fingerprint; the engine's job is the relational part:
    // broadcast the cache, join, aggregate. Here the cache is a deterministic
    // pseudo-labeling of distinct sources (stands in for cached LLM calls).
    // Reference: `customer_events_builder.py:378-497`, `pipeline_handler.py:1230-1357`.
    Q("u3_enrichment_lookup",
      (s, d) => {
        val cache = Tables.documents(s, d).select(col("source")).distinct()
          .withColumn("llm_topic", concat(lit("topic_"), substring(md5(col("source")), 1, 4)))
        Tables.documents(s, d).join(broadcast(cache), Seq("source"))
          .groupBy(col("llm_topic"))
          .agg(count(lit(1)).as("n_docs"), Q.dsum(col("n_chars")).as("total_chars"))
      },
      Some(s"""WITH cache AS (
              |  SELECT DISTINCT source, 'topic_' || substr(md5(source), 1, 4) AS llm_topic
              |  FROM documents)
              |SELECT llm_topic, COUNT(*) AS n_docs, ${Q.dsumSql("n_chars")} AS total_chars
              |FROM documents JOIN cache USING (source)
              |GROUP BY llm_topic""".stripMargin)),

    // T4: document fingerprinting (normalized-content hash + shard bucket).
    Q("t4_fingerprint",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fingerprint"),
          substring(TextAnalysis.fingerprint(col("text")), 1, 2).as("shard")),
      Some(s"""SELECT doc_id, ${TextAnalysis.fingerprintSql("text")} AS fingerprint,
              |substr(${TextAnalysis.fingerprintSql("text")}, 1, 2) AS shard
              |FROM documents""".stripMargin)),

    // T5: GPT-style sequence packing — concat each source's docs in id order,
    // chunk the token stream into 2048-token context windows; per doc: which
    // chunk it starts in, at what offset, and whether it straddles a window
    // boundary. All window math, no driver loop.
    Q("t5_sequence_packing",
      (s, d) => {
        val docs = Tables.documents(s, d).select(col("doc_id"), col("source"),
          TextAnalysis.wsTokens(col("text")).as("n_tokens"))
        TextAnalysis.packAssign(docs, "source", "doc_id", col("n_tokens"), 2048L)
          .withColumn("straddles", col("chunk_offset") + col("n_tokens") > 2048L)
      },
      Some(packingOracle)),

    // T5b: the SAME packing assignment through the two-level distributed
    // prefix sum (`packAssignSharded`) — the plan that stays parallel when a
    // source holds billions of docs. Shards are doc_id ranges, so the
    // assignment is bit-identical: the query shares T5's oracle verbatim.
    Q("t5b_packing_sharded",
      (s, d) => {
        val docs = Tables.documents(s, d).select(col("doc_id"), col("source"),
          TextAnalysis.wsTokens(col("text")).as("n_tokens"))
        TextAnalysis.packAssignSharded(docs, "source", "doc_id", col("n_tokens"),
            2048L, idWidth = 16L)
          .withColumn("straddles", col("chunk_offset") + col("n_tokens") > 2048L)
      },
      Some(packingOracle)),

    // T7: repetition quality rule (Gopher-style): per doc, the fraction of
    // its word 3-grams that are repeats. The only shuffle is the (doc,
    // shingle) pre-aggregation — no fused countDistinct, no second pass
    // over the raw shingle stream.
    Q("t7_dup_ngrams",
      (s, d) => TextAnalysis.dupNgramStats(Tables.documents(s, d), "doc_id", "text", 3)
        .withColumn("repetitive", col("dup_fraction") > 0.2),
      Some("""WITH sh AS (
             |  SELECT doc_id, unnest(list_transform(
             |    range(greatest(len(string_split(text, ' ')) - 2, 0)),
             |    i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' '))) AS shingle
             |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
             |g AS (SELECT doc_id, shingle, COUNT(*) AS cnt FROM sh GROUP BY 1, 2)
             |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_ngrams, COUNT(*) AS n_distinct,
             |  round(1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE), 6)
             |    AS dup_fraction,
             |  round(1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE), 6) > 0.2
             |    AS repetitive
             |FROM g GROUP BY doc_id""".stripMargin)),

    // T8: deterministic corpus mixing — per-source sampling rates applied
    // via a salted-hash uniform, so the sample is reproducible across runs,
    // partitionings, and engines (rand() is none of those). Pure row-local
    // codegen: the sampler runs at scan speed with zero shuffles.
    Q("t8_source_mix",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          TextAnalysis.hashUnit(col("doc_id"), "mix").as("h"))
        .filter(col("h") < TextAnalysis.mixThresholdCol(col("source"))),
      Some(s"""SELECT doc_id, source,
              |  ${TextAnalysis.hashUnitSql("doc_id", "mix")} AS h
              |FROM documents
              |WHERE ${TextAnalysis.hashUnitSql("doc_id", "mix")} <
              |  ${TextAnalysis.mixThresholdSql("source")}""".stripMargin)),

    // T11: TF-IDF top terms per document — the relevance-scoring building
    // block (search indexing, keyword extraction, quality features). TF is
    // one (doc, term) aggregation; DF reuses those distinct rows (no fused
    // countDistinct); N is a 1-row aggregate broadcast into the scorer.
    // idf and score round to 6 decimals to pin the double across engines;
    // top-3 per doc under the total order (score desc, term asc).
    Q("t11_tfidf",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        val tf = docs
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
          .filter(col("term") =!= "")
          .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        val n = docs.agg(count(lit(1)).as("n_docs"))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("term").asc)
        tf.join(dfreq, "term")
          .crossJoin(broadcast(n)) // 1-row total — whitelisted broadcast
          .withColumn("idf", round(log(col("n_docs").cast("double") / col("df")), 6))
          .withColumn("score", round(col("tf") * col("idf"), 6))
          .withColumn("term_rank", row_number().over(w).cast("long"))
          .filter(col("term_rank") <= 3)
          .select(col("doc_id"), col("term"), col("tf"), col("df"),
            col("score"), col("term_rank"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
             |tf AS MATERIALIZED (
             |  SELECT doc_id, tok AS term, CAST(COUNT(*) AS BIGINT) AS tf
             |  FROM toks WHERE tok <> '' GROUP BY 1, 2),
             |dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
             |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
             |scored AS (
             |  SELECT doc_id, term, tf, df,
             |    round(tf * round(ln(CAST(n_docs AS DOUBLE) / df), 6), 6) AS score
             |  FROM tf JOIN dfreq USING (term) CROSS JOIN n)
             |SELECT doc_id, term, tf, df, score, rnk AS term_rank FROM (
             |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
             |    ORDER BY score DESC, term) AS rnk FROM scored)
             |WHERE rnk <= 3""".stripMargin)),

    // T9: exact-quota stratified sample — exactly quota(source) docs per
    // source, the smallest salted hashes winning (deterministic across
    // engines). The Spark side computes the rank TWO-LEVEL (hash-range
    // shards + prefix-summed shard counts, the t5b pattern) so no stratum
    // ever sits on one partition; the oracle is the naive single-window
    // row_number form — same answer by construction.
    Q("t9_quota_sample",
      (s, d) => TextAnalysis.quotaSample(
          Tables.documents(s, d).select(col("doc_id"), col("source")),
          "source", "doc_id", TextAnalysis.quotaCol(col("source")), "t9")
        .select(col("doc_id"), col("source"), col("sample_rank")),
      Some(s"""SELECT doc_id, source, rnk AS sample_rank FROM (
              |  SELECT doc_id, source,
              |    ROW_NUMBER() OVER (PARTITION BY source
              |      ORDER BY ${TextAnalysis.hashUnitSql("doc_id", "t9")}, doc_id) AS rnk
              |  FROM documents)
              |WHERE rnk <= ${TextAnalysis.quotaSql("source")}""".stripMargin)),

    // T10: corpus-level passage dedup (CCNet/RefinedWeb line-dedup analogue)
    // — 8-word passages occurring >= 3 times corpus-wide are boilerplate,
    // dropped from every doc, survivors reassembled in order. The frequency
    // join shuffles on md5(passage) — a fixed-width key — and reassembly is
    // one per-doc hash-partitioned aggregation.
    Q("t10_passage_dedup",
      (s, d) => TextAnalysis.dedupPassages(Tables.documents(s, d), "doc_id", "text",
        width = 8, minDf = 3L),
      Some("""WITH parts AS (SELECT doc_id, string_split(text, ' ') AS p FROM documents),
             |pass AS (SELECT doc_id,
             |   unnest(range((len(p) + 7) // 8)) AS idx,
             |   unnest(list_transform(range((len(p) + 7) // 8),
             |     i -> array_to_string(p[i*8+1:i*8+8], ' '))) AS passage
             | FROM parts),
             |keyed AS MATERIALIZED (SELECT doc_id, idx, passage, md5(passage) AS k FROM pass),
             |freq AS (SELECT k, COUNT(*) AS df FROM keyed GROUP BY 1)
             |SELECT doc_id,
             |  COUNT(*) AS n_passages,
             |  CAST(SUM(CASE WHEN df < 3 THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
             |  COALESCE(string_agg(passage, ' ' ORDER BY idx) FILTER (WHERE df < 3), '')
             |    AS clean_text
             |FROM keyed JOIN freq USING (k)
             |GROUP BY doc_id""".stripMargin),
      bench = true),

    // T22: corpus-duplicated substring runs (Lee et al. '21 exact-substring
    // dedup signal, k-gram anchors + interval union instead of a suffix
    // array). Cross-doc complement of t7's within-doc dup fraction: a
    // position is duplicated when its 8-gram occurs >= 2 times corpus-wide;
    // covered intervals merge per doc into maximal spans.
    Q("t22_dup_substring_runs",
      (s, d) => TextAnalysis.dupSubstringRuns(
        Tables.documents(s, d), "doc_id", "text", k = 8),
      Some("""WITH sh AS MATERIALIZED (
             |  SELECT doc_id, unnest(range(len(w) - 7)) AS pos,
             |    unnest(list_transform(range(len(w) - 7),
             |      i -> array_to_string(w[i+1:i+8], ' '))) AS gram
             |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
             |  WHERE len(w) >= 8),
             |freq AS (SELECT gram FROM sh GROUP BY 1 HAVING COUNT(*) >= 2),
             |sp AS (
             |  SELECT doc_id, pos, pos + 7 AS e,
             |    max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
             |  FROM sh JOIN freq USING (gram)),
             |seg AS (
             |  SELECT doc_id, pos, e,
             |    SUM(CASE WHEN pmax IS NULL OR pos > pmax + 1 THEN 1 ELSE 0 END)
             |      OVER (PARTITION BY doc_id ORDER BY pos
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_id
             |  FROM sp),
             |segs AS (
             |  SELECT doc_id, seg_id, MIN(pos) AS s, MAX(e) AS e,
             |    COUNT(*) AS grams
             |  FROM seg GROUP BY 1, 2),
             |per AS (
             |  SELECT doc_id, CAST(SUM(grams) AS BIGINT) AS n_dup_grams,
             |    CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
             |    CAST(MAX(e - s + 1) AS BIGINT) AS longest_dup_span,
             |    SUM(e - s + 1) AS covered
             |  FROM segs GROUP BY 1)
             |SELECT d.doc_id,
             |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
             |  COALESCE(n_dup_grams, 0) AS n_dup_grams,
             |  COALESCE(n_dup_spans, 0) AS n_dup_spans,
             |  COALESCE(longest_dup_span, 0) AS longest_dup_span,
             |  round(CAST(COALESCE(covered, 0) AS DOUBLE)
             |    / len(string_split(d.text, ' ')), 6) AS dup_token_frac,
             |  round(CAST(COALESCE(covered, 0) AS DOUBLE)
             |    / len(string_split(d.text, ' ')), 6) >= 0.5 AS dup_heavy
             |FROM documents d LEFT JOIN per USING (doc_id)""".stripMargin),
      bench = true),

    // T30: corpus duplicated-span SCRUB — the rewrite half of t22: every
    // token inside a corpus-duplicated 8-gram span (merged per doc) is
    // DELETED and the document re-emitted (remove-all-occurrences policy;
    // Lee et al. '21 exact-substring dedup as a text transform, not just a
    // signal). The oracle rebuilds clean_text with the same interval union
    // + ordered string_agg, so the hash gate covers the rewritten TEXT
    // itself, not only the counts.
    Q("t30_dup_span_scrub",
      (s, d) => TextAnalysis.scrubDupSpans(
        Tables.documents(s, d), "doc_id", "text", k = 8),
      Some("""WITH sh AS MATERIALIZED (
             |  SELECT doc_id, unnest(range(len(w) - 7)) AS pos,
             |    unnest(list_transform(range(len(w) - 7),
             |      i -> array_to_string(w[i+1:i+8], ' '))) AS gram
             |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
             |  WHERE len(w) >= 8),
             |freq AS (SELECT gram FROM sh GROUP BY 1 HAVING COUNT(*) >= 2),
             |sp AS (
             |  SELECT doc_id, pos, pos + 7 AS e,
             |    max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
             |  FROM sh JOIN freq USING (gram)),
             |seg AS (
             |  SELECT doc_id, pos, e,
             |    SUM(CASE WHEN pmax IS NULL OR pos > pmax + 1 THEN 1 ELSE 0 END)
             |      OVER (PARTITION BY doc_id ORDER BY pos
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_id
             |  FROM sp),
             |segs AS (
             |  SELECT doc_id, seg_id, MIN(pos) AS s, MAX(e) AS e
             |  FROM seg GROUP BY 1, 2),
             |cov AS (SELECT doc_id, unnest(range(s, e + 1)) AS pos FROM segs),
             |wrd AS (
             |  SELECT doc_id, unnest(range(len(w))) AS pos, unnest(w) AS word
             |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
             |agg AS (
             |  SELECT w.doc_id, string_agg(w.word, ' ' ORDER BY w.pos) AS clean_text,
             |    COUNT(*) AS n_kept
             |  FROM wrd w LEFT JOIN cov c ON w.doc_id = c.doc_id AND w.pos = c.pos
             |  WHERE c.pos IS NULL GROUP BY 1)
             |SELECT d.doc_id,
             |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
             |  CAST(len(string_split(d.text, ' ')) - COALESCE(n_kept, 0) AS BIGINT)
             |    AS n_removed,
             |  COALESCE(clean_text, '') AS clean_text
             |FROM documents d LEFT JOIN agg USING (doc_id)""".stripMargin)),

    // T6: benchmark decontamination — per training doc, the share of its
    // distinct 5-gram shingles that appear anywhere in the held-out
    // benchmark slice (here: doc_id % 97 == 0). One shingle equi-join,
    // bounded by true overlap.
    Q("t6_decontaminate",
      (s, d) => {
        val docs = Tables.documents(s, d)
        TextAnalysis.contamination(
            docs.filter(col("doc_id") % 97 =!= 0),
            docs.filter(col("doc_id") % 97 === 0), "doc_id", "text", 5)
          .withColumn("flagged", col("n_contam") > 0)
      },
      Some(decontaminateOracle)),

    // T6b: the same decontamination through the Bloom-filter semi-join
    // reduction — the benchmark side ships as a ~10-bits/shingle sketch
    // instead of a string broadcast, train shingles probe it map-side, and
    // only bloom survivors reach the exact verify join. No false
    // negatives, so the output (and oracle) is byte-identical to t6; the
    // bloom false-positive sliver is removed by the verify join.
    Q("t6b_decontaminate_bloom",
      (s, d) => {
        val docs = Tables.documents(s, d)
        TextAnalysis.contaminationBloom(
            docs.filter(col("doc_id") % 97 =!= 0),
            docs.filter(col("doc_id") % 97 === 0), "doc_id", "text", 5)
          .withColumn("flagged", col("n_contam") > 0)
      },
      Some(decontaminateOracle)),

    // T23: DSIR importance scores (Xie et al. '23) — hashed-unigram
    // log-likelihood ratio between the curated target slice (en + quality
    // >= 0.8, the c2 gate pair) and the rest; per-doc count-weighted sum.
    // The ratio table is exactly 1024 rows (broadcast); per-bucket ratios
    // pin to DECIMAL(18,4) so the weighted sum is order-independent.
    Q("t23_dsir_importance",
      (s, d) => TextAnalysis.dsirScores(Tables.documents(s, d), "doc_id", "text",
        col("lang") === "en" && TextAnalysis.qualityScore("text") >= 0.8),
      Some(s"""WITH ${TextAnalysis.dsirModelCtesSql("",
                s"lang = 'en' AND ${TextAnalysis.qualityScoreSql("text")} >= 0.8",
                "documents")}
              |SELECT doc_id, bool_or(t) AS is_target,
              |  CAST(SUM(cnt) AS BIGINT) AS n_words,
              |  round(CAST(SUM(cnt * lam) AS DOUBLE), 6) AS dsir_score,
              |  round(CAST(SUM(cnt * lam) AS DOUBLE), 6) > 0 AS target_like
              |FROM db JOIN lam USING (b)
              |GROUP BY 1""".stripMargin),
      bench = true),

    // T24: count-min-sketch vocabulary heavy hitters — the fixed-size
    // mergeable frequency summary (depth×width counters, corpus-size-
    // independent). Salted-md5 hashing makes the sketch deterministic, so
    // unlike HLL/KLL the estimates themselves carry the full hash gate;
    // the emitted candidates are provably a superset of the true ≥ N/100
    // heavy hitters (CMS never underestimates).
    Q("t24_cms_heavy_hitters",
      (s, d) => TextAnalysis.cmsHeavyHitters(Tables.documents(s, d), "text"),
      Some(TextAnalysis.cmsHeavyHittersSql("text", "documents")), bench = true),

    // T25: BM25 ranked retrieval for a fixed term query — the ranking half
    // of the RAG story (t19 builds the passage windows; this ranks the
    // candidate documents). Posting spine filtered to the query terms
    // BEFORE any shuffle; idf/avgdl are tiny broadcasts; top-k is
    // TakeOrderedAndProject. DECIMAL-pinned idf + addends ⇒ full hash gate.
    Q("t25_bm25_retrieval",
      (s, d) => TextAnalysis.bm25TopK(Tables.documents(s, d), "doc_id",
        "text", Seq("spark", "window", "merge"), k = 20),
      Some(TextAnalysis.bm25Sql("doc_id", "text", "documents",
        Seq("spark", "window", "merge"), k = 20)), bench = true),

    // T26: per-source distribution drift vs the corpus baseline — the
    // data-mix monitoring report a pipeline checks between crawls:
    // KL(P_src ‖ P_corpus) + total-variation over hashed-unigram buckets,
    // add-one smoothed. DECIMAL-pinned per-bucket terms ⇒ full hash gate;
    // the dense term frame is sources × B rows, never corpus-sized.
    Q("t26_source_drift",
      (s, d) => TextAnalysis.sourceDrift(Tables.documents(s, d), "source", "text"),
      Some(TextAnalysis.sourceDriftSql("source", "text", "documents"))),

    // T27: quality-weighted sampling without replacement (Efraimidis–
    // Spirakis) — per source, draw 40 docs with probability proportional
    // to quality score (floored at 0.05 so zero-quality docs stay
    // drawable). The deterministic-hash uniform makes the draw
    // reproducible and engine-exact; the rank window compiles to
    // WindowGroupLimit (map-side top-k, ≤ k rows per partition shuffle).
    Q("t27_weighted_sample",
      (s, d) => TextAnalysis.weightedSample(
          Tables.documents(s, d), "source", "doc_id",
          TextAnalysis.qualityScore("text") + 0.05, k = 40, salt = "t27")
        .select("source", "doc_id", "samp_weight", "samp_key", "sample_rank"),
      Some(TextAnalysis.weightedSampleSql("source", "doc_id",
        s"${TextAnalysis.qualityScoreSql("text")} + 0.05", k = 40,
        salt = "t27", table = "documents"))),

    // T28: content-defined chunking dedup (LBFS/CDC applied to text) —
    // boundaries picked by a rolling 3-word hash mod 16, so a shared
    // region chunks IDENTICALLY in every doc containing it regardless of
    // offset (shift-invariant, unlike fixed-stride t10/t19 windows).
    // Chunking is row-local array code; the only cross-doc state is one
    // md5-keyed occurrence count. Complements t22 (exact duplicated-
    // substring runs) with the storage-dedup formulation.
    Q("t28_cdc_chunk_dedup",
      (s, d) => TextAnalysis.cdcChunkStats(
        Tables.documents(s, d), "doc_id", "text"),
      Some(TextAnalysis.cdcChunkStatsSql("doc_id", "text", "documents")),
      bench = true),

    // T29: DSIR's SELECTION step — keep the highest-importance docs until
    // a 12k-token budget is exhausted (t23 scores the corpus; this buys
    // the budget's worth of the most target-like tokens, vs t16's
    // deterministic-random sample). Histogram + two-level banded prefix
    // sum per score TIER; only the one budget-straddling tier gets a
    // doc-level window (the id-ordered tie admit).
    Q("t29_dsir_budget_select",
      (s, d) => TextAnalysis.importanceBudget(Tables.documents(s, d),
        "doc_id", "text",
        col("lang") === "en" && TextAnalysis.qualityScore("text") >= 0.8,
        budget = 12000L),
      Some(s"""WITH ${TextAnalysis.dsirModelCtesSql("",
                s"lang = 'en' AND ${TextAnalysis.qualityScoreSql("text")} >= 0.8",
                "documents")},
              |d AS MATERIALIZED (
              |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_words,
              |    round(CAST(SUM(cnt * lam) AS DOUBLE), 6) AS dsir_score
              |  FROM db JOIN lam USING (b) GROUP BY 1),
              |ti AS (SELECT dsir_score, CAST(SUM(n_words) AS BIGINT) AS vt
              |       FROM d GROUP BY 1),
              |tt2 AS (
              |  SELECT dsir_score, vt, CAST(COALESCE(SUM(vt) OVER (
              |    ORDER BY dsir_score DESC
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
              |    AS tier_before
              |  FROM ti),
              |j AS MATERIALIZED (
              |  SELECT d.doc_id, d.n_words, d.dsir_score, tier_before, vt
              |  FROM d JOIN tt2 USING (dsir_score)),
              |fl AS (
              |  SELECT doc_id, n_words, dsir_score, tier_before FROM j
              |  WHERE tier_before + vt <= 12000),
              |bd AS (
              |  SELECT *, SUM(n_words) OVER (PARTITION BY dsir_score
              |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              |    AS tc
              |  FROM j WHERE tier_before < 12000 AND tier_before + vt > 12000)
              |SELECT doc_id, n_words, dsir_score, tier_before FROM fl
              |UNION ALL
              |SELECT doc_id, n_words, dsir_score, tier_before FROM bd
              |WHERE tier_before + tc <= 12000""".stripMargin)),

    // T12: Gopher-style repetition gate — head-concentration metrics
    // (top-word / top-bigram fraction, distinct-word ratio) complementing
    // t7's duplicated-tail fraction. Two map-side-combinable gram aggs,
    // doc-key join; no corpus-global state.
    Q("t12_repetition_stats",
      (s, d) => TextAnalysis.repetitionStats(Tables.documents(s, d), "doc_id", "text"),
      Some(TextAnalysis.repetitionStatsSql("doc_id", "text", "documents")),
      bench = true),

    // T14: deterministic global corpus shuffle — reproducible 1-based
    // shuffle_pos under the salted-hash order, computed with the two-level
    // hash-shard prefix sum so no partition ever holds the corpus (the
    // naive global row_number window would).
    Q("t14_corpus_shuffle",
      (s, d) => TextAnalysis.shuffleRank(
        Tables.documents(s, d).select(col("doc_id"), col("source")), "doc_id", "shuffle"),
      Some(s"""SELECT doc_id, source,
              |  CAST(row_number() OVER (ORDER BY
              |    ${TextAnalysis.hashUnitSql("doc_id", "shuffle")}, doc_id) AS BIGINT)
              |    AS shuffle_pos
              |FROM documents""".stripMargin)),

    // T16: global token-budget cut — "train on exactly this many tokens":
    // keep docs in the deterministic shuffled order until the corpus-wide
    // budget is hit. Weighted two-level prefix sum; no single-partition
    // global window.
    Q("t16_token_budget",
      (s, d) => TextAnalysis.globalTokenBudget(
        Tables.documents(s, d).select(col("doc_id"), col("source"), col("text")),
        "doc_id", TextAnalysis.wsTokens(col("text")), budget = 20000L, salt = "budget")
        .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens")),
      Some(s"""WITH t AS (
              |  SELECT doc_id, source, ${TextAnalysis.wsTokensSql("text")} AS n_tokens,
              |    ${TextAnalysis.hashUnitSql("doc_id", "budget")} AS h
              |  FROM documents),
              |c AS (
              |  SELECT doc_id, source, n_tokens,
              |    CAST(SUM(n_tokens) OVER (ORDER BY h, doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              |      AS cum_tokens
              |  FROM t)
              |SELECT doc_id, source, n_tokens, cum_tokens
              |FROM c WHERE cum_tokens <= 20000""".stripMargin)),

    // T15: unigram-LM surprisal quality gate (CCNet perplexity-filter
    // analogue) — mean -log2 p(word) per doc against the corpus unigram
    // table; decimal-quantized addends make the mean order-independent.
    Q("t15_unigram_surprisal",
      (s, d) => TextAnalysis.unigramSurprisal(Tables.documents(s, d), "doc_id", "text"),
      Some(TextAnalysis.unigramSurprisalSql("doc_id", "text", "documents")),
      bench = true),

    // T17: temperature-scaled mixture (α = 0.5) — down-samples big strata
    // toward the flat mixture; the keep-rate per stratum collapses to
    // (n_min/n_s)^(1-α) so no cross-engine double summation exists. The
    // stratum is the length band (the testdata's sources are uniform by
    // construction, so the band is where real skew lives).
    Q("t17_temperature_mix",
      (s, d) => TextAnalysis.temperatureMix(
        Tables.documents(s, d).select(col("doc_id"),
          floor(col("n_chars") / 150).cast("long").as("len_band")),
        "len_band", "doc_id", alpha = 0.5, salt = "mix2"),
      Some(TextAnalysis.temperatureMixSql("len_band", "doc_id", alpha = 0.5,
        salt = "mix2",
        table = "(SELECT doc_id, CAST(n_chars // 150 AS BIGINT) AS len_band FROM documents)"))),

    // T13: leakage-safe train/val/test split — assignment keyed on the
    // CONTENT fingerprint (not the row id), so exact duplicates can never
    // straddle the train/eval boundary; fixed 24-bit hash thresholds make
    // it reproducible across engines and reprocessing. Row-local codegen,
    // zero shuffles (SplitSpec pins the no-leak property).
    Q("t13_split_assign",
      (s, d) => TextAnalysis.splitAssign(Tables.documents(s, d), "doc_id", "source", "text"),
      Some(s"""SELECT doc_id, source,
              |  ${TextAnalysis.fingerprintSql("text")} AS fp,
              |  ${TextAnalysis.splitAssignSql("text")} AS split
              |FROM documents""".stripMargin)),

    // T18: bigram CONDITIONAL surprisal — mean -log2 p(w2|w1) per doc under
    // the corpus bigram model (the CCNet KenLM-gate idea at n=2). Catches
    // what t15's bag-of-words model can't: a scrambled-order doc scores
    // normal on unigrams but improbable conditionally. One explode; the
    // corpus model is two aggregations over the same materialized spine.
    Q("t18_bigram_surprisal",
      (s, d) => TextAnalysis.bigramSurprisal(Tables.documents(s, d), "doc_id", "text"),
      Some(TextAnalysis.bigramSurprisalSql("doc_id", "text", "documents"))),

    // T19: RAG-style passage chunking — overlapping fixed-width token
    // windows (width 32, stride 16), total coverage, final window short but
    // never empty. The retrieval-index shape (a fact straddling a block
    // boundary still lands inside some window), vs t10's disjoint blocks
    // which exist only as dedup keys. Pure Generate: zero shuffles.
    Q("t19_passage_windows",
      (s, d) => TextAnalysis.passageWindows(Tables.documents(s, d), "doc_id", "text",
        width = 32, stride = 16),
      Some(TextAnalysis.passageWindowsSql("doc_id", "text", "documents", 32, 16)),
      bench = false),

    // T20: distributed BPE vocabulary learning (Sennrich '16) — tokenizer
    // induction as a warehouse job. State is VOCABULARY-sized (the corpus
    // is read once for word counts); each round is one lead-window count +
    // a deterministic 1-row argmax + the closed-form greedy merge (no
    // recursion: an unequal pair can't overlap itself, an equal pair
    // merges the even offsets of each run). The oracle re-derives all 8
    // merges with 8 rounds of non-recursive CTEs — it checks the LOOP,
    // not one step.
    Q("t20_bpe_merges",
      (s, d) => graft.ops.Bpe.learnMerges(Tables.documents(s, d), "text", merges = 8),
      Some(graft.ops.Bpe.bpeMergesSql("text", "documents", merges = 8))),

    // T21: BPE ENCODING under the t20 merge table — the other half of the
    // tokenizer lifecycle (learn → encode). Vocabulary-granularity: the
    // loop's final symbol state already IS every distinct word's token
    // decomposition, so per-doc token counts are one join of the doc word
    // spine against a vocab-sized (word, n_tok) side — no per-doc
    // re-tokenization, AQE picks broadcast vs shuffle by actual vocab
    // size. n_chars re-derived from symbol lengths proves the encoding
    // partitions each word exactly (no char lost or duplicated). The
    // oracle replays the full 8-round loop, then the same join.
    Q("t21_bpe_encode",
      (s, d) => graft.ops.Bpe.encodeStats(Tables.documents(s, d), "doc_id", "text",
        merges = 8),
      Some(graft.ops.Bpe.bpeEncodeSql("doc_id", "text", "documents", merges = 8))),

    // T38: TOKENIZER FERTILITY report (Bpe.fertilityBySource) — the third
    // seat of the tokenizer lifecycle (learn t20 -> encode t21 -> JUDGE):
    // per source, BPE tokens per word (the words->tokens exchange rate the
    // t17/t33 budget mixers trade in), mean token length (compression),
    // and the share of word occurrences no merge ever fired on — the
    // "vocabulary has never seen this source" alarm that precedes a bad
    // fertility number. Exact integer milli floors; sources-sized output;
    // ONE vocab join over the learning loop's final symbol state, no
    // second corpus pass.
    Q("t38_tokenizer_fertility",
      (s, d) => graft.ops.Bpe.fertilityBySource(Tables.documents(s, d),
        "doc_id", "text", "source", merges = 8),
      Some(graft.ops.Bpe.bpeFertilitySql("doc_id", "text", "source",
        "documents", merges = 8))),

    // T32: HYBRID retrieval fusion — BM25 (t25's tf-idf family) and
    // Dirichlet query-likelihood (Zhai & Lafferty '01; TextAnalysis.qlTopK)
    // rank the same query independently, then Reciprocal Rank Fusion
    // (Cormack '09, k0 = 60) merges the lists: score = Σ 1/(60 + rank) over
    // the lists that returned the doc. The standard hybrid-search pattern
    // (lexical + second scorer fused by rank, not by incomparable scores);
    // both scorers and the fusion are deterministic, so the full pipeline
    // hash-matches. Ranks of 0 = absent from that scorer's top-20.
    Q("t32_hybrid_rrf",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val terms = Seq("spark", "window", "merge")
        val a = TextAnalysis.bm25TopK(docs, "doc_id", "text", terms, k = 20)
          .select(col("doc_id"), col("rank").as("bm25_rank"))
        val b = TextAnalysis.qlTopK(docs, "doc_id", "text", terms, k = 20)
          .select(col("doc_id"), col("rank").as("ql_rank"))
        val fused = a.join(b, Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            coalesce(col("bm25_rank"), lit(0L)).as("bm25_rank"),
            coalesce(col("ql_rank"), lit(0L)).as("ql_rank"))
          .withColumn("rrf_score", round(
            when(col("bm25_rank") > 0,
              lit(1.0) / (lit(60) + col("bm25_rank"))).otherwise(lit(0.0)) +
            when(col("ql_rank") > 0,
              lit(1.0) / (lit(60) + col("ql_rank"))).otherwise(lit(0.0)), 8))
          .orderBy(col("rrf_score").desc, col("doc_id")).limit(10)
        fused.withColumn("rrf_rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("rrf_score").desc, col("doc_id"))).cast("long"))
      },
      Some {
        val terms = Seq("spark", "window", "merge")
        s"""SELECT doc_id, bm25_rank, ql_rank, rrf_score,
           |  CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id)
           |    AS BIGINT) AS rrf_rank
           |FROM (
           |  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
           |    COALESCE(a.r, 0) AS bm25_rank, COALESCE(b.r, 0) AS ql_rank,
           |    round(CASE WHEN a.r IS NOT NULL THEN 1.0 / (60 + a.r) ELSE 0.0 END +
           |          CASE WHEN b.r IS NOT NULL THEN 1.0 / (60 + b.r) ELSE 0.0 END,
           |      8) AS rrf_score
           |  FROM (SELECT doc_id, rank AS r FROM (
           |    ${TextAnalysis.bm25Sql("doc_id", "text", "documents", terms, 20)})) a
           |  FULL JOIN (SELECT doc_id, rank AS r FROM (
           |    ${TextAnalysis.qlSql("doc_id", "text", "documents", terms, 20)})) b
           |    ON a.doc_id = b.doc_id)
           |QUALIFY row_number() OVER (ORDER BY rrf_score DESC, doc_id) <= 10"""
          .stripMargin
      }),

    // T31: winnowing fingerprint overlap (Schleimer '03, the MOSS
    // algorithm; TextAnalysis.winnowFingerprints). Shift-invariant copy
    // detection with a GUARANTEE the fixed-grid ops lack: any shared run of
    // w + k - 1 = 11 words between two docs produces >= 1 shared selected
    // fingerprint, at ~2/(w+1) storage density. Fingerprints with corpus
    // document-frequency > 32 are dropped before pairing (boilerplate
    // phrases would otherwise make a hot join key — the d9 df-cap
    // argument); pairs sharing >= 2 surviving fingerprints are reported.
    Q("t31_winnow_overlap",
      (s, d) => {
        val sel = graft.ops.TextAnalysis.winnowFingerprints(
          Tables.documents(s, d), "doc_id", "text", k = 4, w = 8)
        // checkpointed: the df-cap aggregation and the pairing both read
        // this frame — the former renamed self-join replayed the whole
        // winnow pipeline per branch (r12). Pairs come from a BOUNDED
        // collect_list + double explode (groups are <= 32 ids after the
        // df cap — the containmentPairs shape), not a renamed self-join.
        val fps = sel.select(col("doc_id"), col("fp")).distinct().barrier()
        val rare = fps.groupBy(col("fp")).agg(count(lit(1)).as("fdf"))
          .filter(col("fdf") <= 32).select(col("fp"))
        val grouped = fps.join(rare, "fp")
          .groupBy(col("fp")).agg(collect_list(col("doc_id")).as("__ids"))
        grouped
          .select(explode(col("__ids")).as("id_a"), col("__ids"))
          .select(col("id_a"), explode(col("__ids")).as("id_b"))
          .filter(col("id_a") < col("id_b"))
          .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 2)
      },
      Some(s"""WITH ${graft.ops.TextAnalysis.winnowFingerprintsSql(
                "doc_id", "text", "documents", 4, 8)},
              |fps AS MATERIALIZED (SELECT DISTINCT doc_id, fp FROM wsel),
              |rare AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 32),
              |kept AS MATERIALIZED (SELECT f.doc_id, f.fp FROM fps f JOIN rare r ON f.fp = r.fp)
              |SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
              |FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
              |GROUP BY 1, 2 HAVING COUNT(*) >= 2""".stripMargin),
      bench = true),

    // T33: UniMax language-budget allocation + cut (Chung et al. '23) —
    // the language-mixing counterpart of t17's temperature mix: spend a
    // 24k-token budget as uniformly as possible across languages, capping
    // every language at 1.2 epochs of itself (small languages hit the
    // epoch cap, the leftover re-spreads; big ones take the uniform
    // share). The allocation recurrence runs driver-side over
    // LANGUAGE-count rows (KB state, all-integer) and the oracle replays
    // it as a recursive CTE; the per-language cut is the t16 two-level
    // prefix sum stratified by lang — no language ever gathers on one
    // partition. Selected docs carry their lang's budget + binding rule.
    Q("t33_unimax_mix",
      (s, d) => {
        import graft.ops.TextAnalysis
        import s.implicits._
        // NULL-lang rows are excluded EXPLICITLY on both engines (the dq2
        // NULL-pinning rule: a null String key would NPE the driver-side
        // sortBy while the oracle carried the NULL group). The tokenized
        // frame is checkpointed: the sizes collect and the prefix-sum cut
        // are separate jobs, and without the frontier each re-tokenizes
        // the corpus.
        val docs = Tables.documents(s, d)
          .filter(col("lang").isNotNull && col("text").isNotNull)
          .select(col("doc_id"), col("lang"),
            TextAnalysis.wsTokens(col("text")).as("n_tok")).barrier()
        val sizes = docs.groupBy(col("lang"))
          .agg(sum(col("n_tok")).as("sz")).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toSeq
        val alloc = TextAnalysis.unimaxAllocation(sizes, budget = 24000L,
          capNum = 6, capDen = 5)
        val allocDf = alloc.map { case (l, _, a, rule) => (l, a, rule) }
          .toDF("lang", "lang_budget", "alloc_rule")
        TextAnalysis.stratifiedTokenRank(docs, "lang", "doc_id",
            col("n_tok"), "unimax")
          .join(broadcast(allocDf), Seq("lang"))
          .filter(col("cum_tokens") <= col("lang_budget"))
          .select(col("doc_id"), col("lang"), col("n_tokens"),
            col("cum_tokens"), col("lang_budget"), col("alloc_rule"))
      },
      Some(s"""WITH RECURSIVE t AS MATERIALIZED (
              |  SELECT doc_id, lang, ${TextAnalysis.wsTokensSql("text")} AS n_tokens,
              |    ${TextAnalysis.hashUnitSql("doc_id", "unimax")} AS h
              |  FROM documents
              |  WHERE lang IS NOT NULL AND text IS NOT NULL),
              |sz AS MATERIALIZED (SELECT lang, SUM(n_tokens) AS s FROM t GROUP BY 1),
              |ord AS MATERIALIZED (
              |  SELECT lang, s,
              |    CAST(row_number() OVER (ORDER BY s, lang) AS BIGINT) AS i,
              |    (SELECT COUNT(*) FROM sz) AS l
              |  FROM sz),
              |alloc AS (
              |  SELECT i, lang, s, l,
              |    least(s * 6 // 5, 24000 // l) AS a,
              |    24000 - least(s * 6 // 5, 24000 // l) AS rem
              |  FROM ord WHERE i = 1
              |  UNION ALL
              |  SELECT o.i, o.lang, o.s, o.l,
              |    least(o.s * 6 // 5, p.rem // (o.l - o.i + 1)),
              |    p.rem - least(o.s * 6 // 5, p.rem // (o.l - o.i + 1))
              |  FROM alloc p JOIN ord o ON o.i = p.i + 1),
              |cum AS (
              |  SELECT doc_id, lang, n_tokens,
              |    CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              |      AS cum_tokens
              |  FROM t)
              |SELECT c.doc_id, c.lang, c.n_tokens, c.cum_tokens,
              |  CAST(a.a AS BIGINT) AS lang_budget,
              |  CASE WHEN a.a = a.s * 6 // 5 THEN 'epoch_cap'
              |       ELSE 'budget_share' END AS alloc_rule
              |FROM cum c JOIN alloc a ON a.lang = c.lang
              |WHERE c.cum_tokens <= a.a""".stripMargin)),

    // T34: interpolated Kneser–Ney bigram surprisal under a HELD-OUT
    // reference model (the true CCNet/KenLM gate shape): the LM trains on
    // the clean reference slice (lang = 'en') and scores EVERY doc, so
    // unseen bigrams/contexts/words can genuinely occur — t18's
    // corpus-as-its-own-LM never sees a zero count. D = 3/4 keeps every
    // probability an integer ratio, so the fixed IEEE tree replays
    // exactly on both engines. Honest readout on THIS corpus: the
    // synthetic generator shares vocabulary across languages, so OOV is
    // rare (~0.1% of scored bigrams) and non-en docs separate by
    // conditional atypicality, not OOV mass; all three smoothing
    // branches (seen bigram / unseen bigram / unseen context) are pinned
    // by the OpsSpec fixture.
    Q("t34_kn_surprisal",
      (s, d) => TextAnalysis.knSurprisal(Tables.documents(s, d), "doc_id",
        "text", col("lang") === "en"),
      Some(TextAnalysis.knSurprisalSql("doc_id", "text", "documents",
        "lang = 'en'")),
      bench = true),

    // T35: exact PHRASE search over a positional inverted index — the
    // retrieval primitive bag-of-words scoring (t25/t32) cannot express:
    // adjacency and order. k−1 consecutive-position equi-joins over a
    // (doc, term, pos) posting table, each side filtered to one phrase
    // word BEFORE any shuffle; the phrase is the corpus' most frequent
    // 3-gram (self-calibrating, the t15 band lesson). The Spark side
    // runs the positional-index JOIN mechanism; the oracle counts the
    // 3-gram directly — the hash gate is a cross-formulation equivalence
    // check (positional chain == shingle equality), the gr2 discipline.
    Q("t35_phrase_search",
      (s, d) => TextAnalysis.phraseSearch(Tables.documents(s, d), "doc_id",
        "text", phraseLen = 3),
      Some(TextAnalysis.phraseSearchSql("doc_id", "text", "documents", 3))),

    // T36: N-GRAM NOVELTY — per document, the fraction of its distinct
    // 3-gram shingles whose corpus-wide FIRST appearance (min doc_id, the
    // ingest-order proxy) is this document: the "what does this doc add"
    // signal of incremental curation (the marginal-content complement of
    // d9's containment — containment asks how much of a doc is elsewhere,
    // novelty asks how much of it arrived here FIRST; duplicate docs score
    // 0, fresh material scores high). Floor milli-ratio finisher, the
    // engine-wide exact-integer discipline.
    // Scale: ONE shingle pass — first-seen is a whole-partition window MIN
    // on the gram key (an agg + join-back would re-run the shingle
    // Generate for the second reference, doubling the dominant cost; the
    // d2 double-pipeline lesson, solved structurally instead of by
    // checkpoint), then one doc-keyed agg. Linear in shingle volume,
    // nothing corpus². Docs under 3 words carry no shingle and drop out
    // (both engines).
    Q("t36_ngram_novelty",
      (s, d) => {
        import graft.ops.Dedup
        import org.apache.spark.sql.expressions.Window
        val sh = Dedup.shingles(Tables.documents(s, d), "doc_id", "text", 3)
        sh.withColumn("first_doc",
            min(col("doc_id")).over(Window.partitionBy(col("shingle"))))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
              .as("n_novel"))
          .withColumn("novelty_milli", expr("n_novel * 1000 div n_grams"))
      },
      Some(
        s"""WITH ${DedupQs.shinglesCte},
           |fs AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY 1)
           |SELECT s.doc_id, COUNT(*) AS n_grams,
           |  CAST(SUM(CASE WHEN fs.first_doc = s.doc_id THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_novel,
           |  CAST(SUM(CASE WHEN fs.first_doc = s.doc_id THEN 1 ELSE 0 END)
           |    AS BIGINT) * 1000 // COUNT(*) AS novelty_milli
           |FROM sh s JOIN fs USING (shingle)
           |GROUP BY 1""".stripMargin))
  )
}
