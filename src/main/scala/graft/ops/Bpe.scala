package graft.ops

import graft.ops.Checkpoints.BarrierOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed BPE vocabulary learning (Sennrich '16, within-word merges) —
  * tokenizer induction as a warehouse job.
  *
  * The algorithm is inherently iterative (each merge changes the
  * symbolization the next round counts), but each ROUND is pure relational
  * algebra over the VOCABULARY, not the corpus:
  *
  *  - state = (word, cnt, pos, sym) rows — vocabulary-sized (Heaps' law:
  *    distinct words ≪ corpus tokens); the corpus is touched exactly once,
  *    to build word counts. At 100 TB the state is a few-GB frame.
  *  - counting (Sennrich's get_stats): every adjacent occurrence, weighted
  *    by word count — one lead() window + one map-side-combinable groupBy.
  *  - selection: global argmax with (count DESC, left, right) tie-break —
  *    deterministic across engines and partitionings; a 1-row limit.
  *  - application: greedy left-to-right merge has a CLOSED FORM, no
  *    recursion — for left ≠ right the pattern can never overlap itself,
  *    so every match merges; for left == right, greedy merges exactly the
  *    EVEN offsets within each maximal equal-symbol run (gaps-and-islands
  *    window). A merged row consumes its successor (lag filter), positions
  *    re-sequence, and the round is done: three windows per round, all
  *    partitioned by word — never a global sort.
  *
  * The same formulation is emitted verbatim as (non-recursive) DuckDB SQL
  * by [[bpeMergesSql]] — K rounds of CTEs re-derive the merge table
  * independently, so the oracle checks the full learning loop, not just
  * one step.
  */
object Bpe {

  /** Per-word character symbolization: (word, cnt, pos, sym), pos dense
    * from 0. substring-based (not split-by-empty-regex), the form with
    * identical semantics in DuckDB. */
  private def initSymbols(vocab: DataFrame): DataFrame =
    vocab.select(col("word"), col("cnt"), expr(
      """posexplode(transform(sequence(1, length(word)),
        |  i -> substring(word, i, 1)))""".stripMargin).as(Seq("pos", "sym")))

  /** One greedy application of merge (a, b) -> ab over the symbol rows.
    * Returns re-sequenced (word, cnt, pos, sym). */
  private def applyMerge(sym: DataFrame, a: String, b: String): DataFrame = {
    val byPos = Window.partitionBy(col("word")).orderBy(col("pos"))
    val runW = Window.partitionBy(col("word"), col("sym")).orderBy(col("pos"))
    val marked = sym
      .withColumn("nxt", lead(col("sym"), 1).over(byPos))
      // gaps-and-islands: rows of one equal-symbol run share (pos - rn)
      .withColumn("grp", col("pos") - row_number().over(runW))
    val runStart = Window.partitionBy(col("word"), col("sym"), col("grp"))
    val withCand = marked
      .withColumn("run_start", min(col("pos")).over(runStart))
      .withColumn("cand", col("sym") === a && col("nxt") === b &&
        (lit(a != b) || (col("pos") - col("run_start")) % 2 === 0))
      .withColumn("consumed", coalesce(lag(col("cand"), 1).over(byPos), lit(false)))
    withCand.filter(!col("consumed"))
      .select(col("word"), col("cnt"),
        (row_number().over(byPos) - 1).as("pos"),
        when(col("cand"), lit(a + b)).otherwise(col("sym")).as("sym"))
  }

  /** The learning loop: returns the merge rows and the FINAL symbol state
    * (word, cnt, pos, sym) — i.e. every distinct word already encoded
    * under the learned merge table. Ends early if no adjacent pair
    * remains. */
  private def run(df: DataFrame, textCol: String, merges: Int)
      : (Seq[(Long, String, String, String, Long)], DataFrame) = {
    val vocab = df.select(explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    var sym = initSymbols(vocab).barrier()
    val out = Seq.newBuilder[(Long, String, String, String, Long)]
    val byPos = Window.partitionBy(col("word")).orderBy(col("pos"))
    var k = 1
    var exhausted = false
    while (k <= merges && !exhausted) {
      val best = sym
        .withColumn("nxt", lead(col("sym"), 1).over(byPos))
        .filter(col("nxt").isNotNull)
        .groupBy(col("sym"), col("nxt")).agg(sum(col("cnt")).as("pc"))
        .orderBy(col("pc").desc, col("sym").asc, col("nxt").asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b, pc) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        out += ((k.toLong, a, b, a + b, pc))
        sym = applyMerge(sym, a, b).barrier()
        k += 1
      }
    }
    (out.result(), sym)
  }

  /** Learn `merges` BPE merges from the corpus; returns the merge table
    * (merge_rank from 1, left, right, merged, pair_count). */
  def learnMerges(df: DataFrame, textCol: String, merges: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    run(df, textCol, merges)._1
      .toDF("merge_rank", "left", "right", "merged", "pair_count")
  }

  /** Encode the corpus under the learned merge table — at VOCABULARY
    * granularity: the loop's final symbol state already holds every
    * distinct word's token decomposition, so encoding a doc is a join of
    * its word spine against a (word, n_tok) side that is vocabulary-sized
    * (Heaps' law: a few GB at 100 TB corpus scale — AQE broadcasts it
    * while it fits and falls back to a shuffled join when it doesn't; no
    * per-doc re-tokenization ever happens). Returns per-doc
    * (id, n_words, n_chars, n_bpe_tokens) — all exact BIGINTs. */
  def encodeStats(df: DataFrame, idCol: String, textCol: String,
      merges: Int): DataFrame =
    statsFromSym(df, idCol, textCol, run(df, textCol, merges)._2)

  /** Encode under a STORED merge table (the warehouse lifecycle: the
    * tokenizer is learned once on its own cadence, then applied to any
    * corpus — including docs the learning corpus never saw). The table is
    * merge-rank-ordered and vocabulary-small (KBs even at production merge
    * counts), so collecting and broadcasting it is free; each distinct
    * word then encodes INDEPENDENTLY in one distributed pass (the
    * deliberately-procedural-region license: a per-word in-memory greedy
    * loop, not K Spark jobs — at production merge counts, K≈30k–100k, a
    * per-merge relational pass would be 100k+ sequential stages). Job
    * count is O(1) in the merge-table size; [[encodeWord]] carries the
    * rank-order-equivalence argument. */
  def encodeStatsWith(df: DataFrame, idCol: String, textCol: String,
      mergeTable: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ranks: Map[(String, String), Long] = mergeTable
      .select(col("left"), col("right"), col("merge_rank").cast("long"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val bc = spark.sparkContext.broadcast(ranks)
    // vocabulary-sized frame (Heaps' law); the procedural seat below is a
    // narrow map over it, not over the corpus
    val wordTokens = df.select(explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "").distinct()
      .as[String]
      .mapPartitions { it =>
        val rk = bc.value
        it.map { w =>
          val syms = encodeWord(w, rk)
          (w, syms.length.toLong, syms.iterator.map(_.length.toLong).sum)
        }
      }.toDF("word", "n_tok", "n_ch")
    statsFromWordTokens(df, idCol, textCol, wordTokens)
  }

  /** Greedy BPE encode of ONE word under the broadcast merge ranks — the
    * exact rank-order application semantics ("for each merge in rank
    * order, one greedy left-to-right pass"), computed without touching
    * ranks that can't fire:
    *
    * repeatedly pick the LOWEST-ranked pair ≥ a moving cursor that is
    * present in the word, apply its greedy pass, advance the cursor past
    * it. Equivalence (any table, by induction): if both procedures share a
    * state after applying ranks r1<…<rj, the sequential loop's next
    * firing rank is the smallest r > rj whose pair occurs in that state —
    * ranks in between never fire, so the state rank-order sees at r IS the
    * shared state — and that is precisely this loop's next pick. The
    * cursor also guards the adversarial direction: a pair whose rank is
    * BELOW an already-applied rank (possible only in hand-built tables;
    * learning always yields created-symbol rules with higher ranks) must
    * NOT fire, because the sequential loop already passed it.
    *
    * O(len²) per word, independent of table size K. */
  private[graft] def encodeWord(word: String,
      rank: Map[(String, String), Long]): Array[String] = {
    var syms: Array[String] =
      Array.tabulate(word.length)(i => word.substring(i, i + 1))
    var cursor = Long.MinValue
    var done = syms.length < 2
    while (!done) {
      var best = Long.MaxValue
      var bi = -1
      var i = 0
      while (i < syms.length - 1) {
        val r = rank.getOrElse((syms(i), syms(i + 1)), Long.MaxValue)
        if (r >= cursor && r < best) { best = r; bi = i }
        i += 1
      }
      if (bi < 0) done = true
      else {
        val a = syms(bi)
        val b = syms(bi + 1)
        val out = Array.newBuilder[String]
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
            out += (a + b); j += 2
          } else { out += syms(j); j += 1 }
        }
        syms = out.result()
        cursor = best + 1
        done = syms.length < 2
      }
    }
    syms
  }

  /** Shared tail: final symbol state → (word, n_tok, n_ch) → joined back
    * onto the per-doc word spine. */
  private def statsFromSym(df: DataFrame, idCol: String, textCol: String,
      finalSym: DataFrame): DataFrame =
    statsFromWordTokens(df, idCol, textCol,
      finalSym.groupBy(col("word"))
        .agg(count(lit(1)).as("n_tok"), sum(length(col("sym"))).as("n_ch")))

  /** Join the vocab-sized (word, n_tok, n_ch) side back onto the per-doc
    * word spine — AQE broadcasts it while it fits, shuffle-joins when it
    * doesn't. */
  private def statsFromWordTokens(df: DataFrame, idCol: String,
      textCol: String, wordTokens: DataFrame): DataFrame = {
    val docWords = df.select(col(idCol),
        explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
    docWords.join(wordTokens, "word")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_ch")).as("n_chars"),
        sum(col("n_tok")).as("n_bpe_tokens"))
  }

  /** Per-source tokenizer FERTILITY report over the learned merge table —
    * the readout data teams use to judge a tokenizer against a corpus mix
    * (and to set per-language budgets: fertility is the words→tokens
    * exchange rate UniMax/temperature mixing trade in):
    *  - fertility_milli: BPE tokens per word (1000 = one token per word);
    *  - chars_per_token_milli: mean token length — the compression axis;
    *  - unmerged_milli: share of word OCCURRENCES still fully
    *    character-split (no merge fired) — the "this tokenizer has never
    *    seen this source's vocabulary" alarm.
    * All exact integer milli floors on BIGINT sums (engine-wide
    * discipline). Shape: the learning loop's final symbol state is
    * vocabulary-sized; the doc word spine joins it once (AQE broadcast vs
    * shuffle by actual vocab size) and rolls up per source — sources-sized
    * output at any corpus, no second corpus pass. */
  def fertilityBySource(df: DataFrame, idCol: String, textCol: String,
      srcCol: String, merges: Int): DataFrame = {
    val wtok = run(df, textCol, merges)._2.groupBy(col("word"))
      .agg(count(lit(1)).as("n_tok"), sum(length(col("sym"))).as("n_ch"))
    val docWords = df.select(col(idCol), col(srcCol),
        explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
    docWords.join(wtok, "word")
      .groupBy(col(srcCol))
      .agg(countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_words"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("n_ch")).as("n_chars"),
        sum(when(col("n_tok") === length(col("word")), 1L).otherwise(0L))
          .as("n_unmerged"))
      .select(col(srcCol), col("n_docs"), col("n_words"), col("n_tokens"),
        col("n_chars"), col("n_unmerged"),
        expr("1000 * n_tokens div n_words").as("fertility_milli"),
        expr("1000 * n_chars div n_tokens").as("chars_per_token_milli"),
        expr("1000 * n_unmerged div n_words").as("unmerged_milli"))
  }

  /** DuckDB oracle for [[fertilityBySource]]: the same K learning rounds,
    * the same vocab join, the same integer milli floors. */
  def bpeFertilitySql(idCol: String, textExpr: String, srcCol: String,
      table: String, merges: Int): String = {
    val (ctes, sFinal) = bpeCtes(textExpr, table, merges)
    s"""WITH $ctes,
       |wtok AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS n_tok,
       |    CAST(SUM(length(sym)) AS BIGINT) AS n_ch
       |  FROM $sFinal GROUP BY 1),
       |docw AS (
       |  SELECT $idCol, $srcCol, word FROM (
       |    SELECT $idCol, $srcCol,
       |      unnest(string_split($textExpr, ' ')) AS word
       |    FROM $table)
       |  WHERE word <> ''),
       |agg AS (
       |  SELECT $srcCol,
       |    CAST(COUNT(DISTINCT $idCol) AS BIGINT) AS n_docs,
       |    CAST(COUNT(*) AS BIGINT) AS n_words,
       |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       |    CAST(SUM(n_ch) AS BIGINT) AS n_chars,
       |    CAST(SUM(CASE WHEN n_tok = length(word) THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_unmerged
       |  FROM docw JOIN wtok USING (word)
       |  GROUP BY 1)
       |SELECT $srcCol, n_docs, n_words, n_tokens, n_chars, n_unmerged,
       |  1000 * n_tokens // n_words AS fertility_milli,
       |  1000 * n_chars // n_tokens AS chars_per_token_milli,
       |  1000 * n_unmerged // n_words AS unmerged_milli
       |FROM agg""".stripMargin
  }

  /** DuckDB oracle: re-derives the same K merges with K rounds of
    * non-recursive CTEs (the closed-form application above, spelled in
    * SQL). `textExpr`/`table` name the corpus. */
  def bpeMergesSql(textExpr: String, table: String, merges: Int): String = {
    val (ctes, _) = bpeCtes(textExpr, table, merges)
    val finalSel = (1 to merges).map(k =>
      s"""SELECT CAST($k AS BIGINT) AS merge_rank, l AS "left", r AS "right", """ +
        s"l || r AS merged, pc AS pair_count FROM b$k")
      .mkString("\nUNION ALL\n")
    s"WITH $ctes\n$finalSel"
  }

  /** DuckDB oracle for [[encodeStats]]: the same K learning rounds, then
    * the final symbol state aggregated to (word, n_tok, n_ch) and joined
    * back onto the per-doc word spine. */
  def bpeEncodeSql(idCol: String, textExpr: String, table: String,
      merges: Int): String = {
    val (ctes, sFinal) = bpeCtes(textExpr, table, merges)
    s"""WITH $ctes,
       |wtok AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS n_tok,
       |    CAST(SUM(length(sym)) AS BIGINT) AS n_ch
       |  FROM $sFinal GROUP BY 1),
       |docw AS (
       |  SELECT $idCol, word FROM (
       |    SELECT $idCol, unnest(string_split($textExpr, ' ')) AS word
       |    FROM $table)
       |  WHERE word <> '')
       |SELECT $idCol, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(n_ch) AS BIGINT) AS n_chars,
       |  CAST(SUM(n_tok) AS BIGINT) AS n_bpe_tokens
       |FROM docw JOIN wtok USING (word)
       |GROUP BY 1""".stripMargin
  }

  /** The shared learning-loop CTE chain; returns (cte string, name of the
    * final symbol-state CTE). */
  private def bpeCtes(textExpr: String, table: String,
      merges: Int): (String, String) = {
    val init =
      s"""s0 AS MATERIALIZED (
         |  SELECT word, cnt, u.pos, u.sym FROM (
         |    SELECT word, cnt, unnest(list_transform(range(length(word)),
         |      i -> {'pos': i, 'sym': substr(word, CAST(i AS BIGINT) + 1, 1)})) AS u
         |    FROM (
         |      SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
         |        SELECT unnest(string_split($textExpr, ' ')) AS word FROM $table)
         |      WHERE word <> '' GROUP BY 1)))""".stripMargin
    val rounds = (1 to merges).map { k =>
      val p = k - 1
      s"""b$k AS MATERIALIZED (
         |  SELECT sym AS l, nxt AS r, CAST(SUM(cnt) AS BIGINT) AS pc FROM (
         |    SELECT sym, lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt, cnt
         |    FROM s$p)
         |  WHERE nxt IS NOT NULL GROUP BY 1, 2
         |  ORDER BY pc DESC, l, r LIMIT 1),
         |s$k AS MATERIALIZED (
         |  SELECT word, cnt,
         |    row_number() OVER (PARTITION BY word ORDER BY pos) - 1 AS pos,
         |    CASE WHEN cand THEN l || r ELSE sym END AS sym
         |  FROM (
         |    SELECT word, cnt, pos, sym, cand, l, r,
         |      coalesce(lag(cand) OVER (PARTITION BY word ORDER BY pos), false)
         |        AS consumed
         |    FROM (
         |      SELECT word, cnt, pos, sym, l, r,
         |        COALESCE(sym = l AND nxt = r AND (l <> r OR
         |          (pos - min(pos) OVER (PARTITION BY word, sym, grp)) % 2 = 0),
         |          false) AS cand
         |      FROM (
         |        -- LEFT JOIN ON true, not CROSS JOIN: when the learning
         |        -- loop exhausts before round k, b$k is empty and every
         |        -- row must pass through unchanged (l/r NULL -> cand
         |        -- false), matching the Scala loop's early stop
         |        SELECT s.word, s.cnt, s.pos, s.sym, b$k.l, b$k.r,
         |          lead(s.sym) OVER (PARTITION BY s.word ORDER BY s.pos) AS nxt,
         |          s.pos - row_number() OVER (PARTITION BY s.word, s.sym
         |            ORDER BY s.pos) AS grp
         |        FROM s$p s LEFT JOIN b$k ON true)))
         |  WHERE NOT consumed)""".stripMargin
    }
    (s"$init,\n${rounds.mkString(",\n")}", s"s$merges")
  }
}
