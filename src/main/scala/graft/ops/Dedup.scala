package graft.ops

import graft.ops.Checkpoints.BarrierOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication operators (BASELINE north star: LLM-data-pipeline
  * dedup at 100 TB).
  *
  * All hashing is md5-based (bit-identical across JVM/C engines) and every
  * stage is a hash-partitioned groupBy/join — shingling explodes documents to
  * (doc, shingle) rows, signatures reduce them back to (doc, seed) rows, and
  * LSH banding turns near-dup search into an equi-join on band signatures, so
  * candidate generation never compares all pairs. This is the
  * shingle→minhash→band→bucket-join pipeline from Broder '97 / the MMDS book,
  * expressed as Catalyst-friendly relational ops.
  */
object Dedup {

  /** Exact dedup: group identical normalized texts, keep the minimum id.
    * (Reference analogue: transaction-id dedup `pipeline_handler.py:331`.) */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), md5(Normalize.normText(col(textCol))).as("text_hash"))
      .groupBy(col("text_hash"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("group_size"))

  /** [[exactDupGroups]] with keeper election by PRIORITY, not id: when the
    * same text arrives from several sources, keep the copy from the most
    * trusted one (curated > crawled), id as the tiebreak — the real
    * cross-source curation rule. One min over a (rank, id) struct: still a
    * single map-side-combinable aggregation, identical shuffle shape.
    * A NULL rank (unparsable source) coalesces to Long.MaxValue =
    * least-preferred: Spark's struct-min would sort NULL first while SQL
    * ORDER BY defaults NULLS LAST, so the sentinel pins one cross-engine
    * answer (oracle SQL applies the same COALESCE). */
  def exactDupGroupsBy(df: DataFrame, idCol: String, textCol: String,
      rankCol: Column): DataFrame =
    df.select(col(idCol), md5(Normalize.normText(col(textCol))).as("text_hash"),
        coalesce(rankCol.cast("long"), lit(Long.MaxValue)).as("__rank"))
      .groupBy(col("text_hash"))
      .agg(min(struct(col("__rank"), col(idCol))).as("__best"),
        count(lit(1)).as("group_size"))
      .select(col("text_hash"), col(s"__best.$idCol").as("keeper_id"),
        col("group_size"))

  /** Word k-gram shingles per document: (id, shingle). `dedup = false` skips
    * the distinct shuffle — correct whenever the consumer is duplicate-
    * insensitive (min-hash, countDistinct). */
  def shingles(df: DataFrame, idCol: String, textCol: String, k: Int,
      dedup: Boolean = true): DataFrame = {
    // Project the split ONCE — inlining `split(text)` into the filter, the
    // sequence bound, and the slice makes Spark tokenize every row three
    // times (no subexpression elimination across the Generate boundary).
    val raw = df.select(col(idCol), split(col(textCol), " ").as("__words"))
      .filter(size(col("__words")) >= k)
      .select(col(idCol), expr(
        s"""explode(transform(sequence(0, size(__words) - $k),
           |  i -> array_join(slice(__words, i + 1, $k), ' ')))""".stripMargin)
        .as("shingle"))
    if (dedup) raw.distinct() else raw
  }

  /** Incremental near-dup: match a DELTA batch against an already-indexed
    * corpus — the production shape at 100 TB, where the corpus minhash
    * signatures are a persisted table and a new ingest batch must only pay
    * for ITS OWN shingling plus a banded join against the index (never a
    * corpus re-scan). Here the corpus side recomputes signatures from text
    * because the testdata has no persisted index; in production that subtree
    * is a parquet scan of the signature table — everything from `lshBands`
    * down is identical. Candidates are cross-side band collisions only
    * (delta × corpus, no intra-side pairs); exact Jaccard verifies.
    * PRECONDITION: delta and corpus id spaces must be DISJOINT — the
    * verify stage unions both sides' shingles keyed on idCol, so a shared
    * id with different text would merge two documents' shingle sets and
    * silently corrupt n_a/n_b/jaccard. Enforced below with an emptiness
    * check over the (already-materialized) band tables' ids, which covers
    * exactly the docs that can become candidates.
    *
    * `maxBucket` caps CORPUS-side bucket occupancy (the lshCandidatesCapped
    * discipline, cross-side form): a degenerate corpus signature bucket of
    * m docs otherwise multiplies every colliding delta doc by m. Oversized
    * buckets keep their `maxBucket` minimum-id rows as REPRESENTATIVES — a
    * delta copy of the boilerplate still collides and verifies against a
    * representative, at the trade that a delta doc near-dupping ONLY a
    * dropped member goes unmatched (such buckets are near-identical
    * content by construction). Default = [[DefaultLshMaxBucket]] — capped
    * is the production posture; pass Int.MaxValue to opt OUT.
    * Returns (id_a = delta doc, id_b = corpus doc, n_bands, jaccard). */
  def incrementalNearDup(delta: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String, k: Int, numHashes: Int, bandSize: Int,
      maxBucket: Int = Dedup.DefaultLshMaxBucket): DataFrame = {
    val shDelta = shingles(delta, idCol, textCol, k, dedup = false)
    val shCorpus = shingles(corpus, idCol, textCol, k, dedup = false)
    // each side's signature table materializes once (same frontier as d2)
    val bDelta = lshBands(minhash(shDelta, idCol, numHashes).barrier(),
      idCol, bandSize, numHashes)
    val bCorpusRaw = lshBands(minhash(shCorpus, idCol, numHashes).barrier(),
      idCol, bandSize, numHashes)
    val bCorpus =
      if (maxBucket == Int.MaxValue) bCorpusRaw
      else {
        // keep the bucket's maxBucket smallest ids as representatives; the
        // rank window serializes only the oversized bucket's rows (linear)
        val w = Window.partitionBy(col("band"), col("sig")).orderBy(col(idCol))
        bCorpusRaw.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= maxBucket).drop("__rn")
      }
    // disjoint-id guard: delta's distinct ids are batch-sized, and both
    // band tables sit on eager checkpoints — one cheap id-only pass
    val shared = bDelta.select(col(idCol)).distinct()
      .join(bCorpus.select(col(idCol)).distinct(), Seq(idCol)).limit(1).count()
    require(shared == 0L, s"incrementalNearDup: delta and corpus share " +
      s"$idCol values — id spaces must be disjoint")
    val cands = bDelta.toDF("id_a", "band_a", "sig_a")
      .join(bCorpus.toDF("id_b", "band_b", "sig_b"),
        col("band_a") === col("band_b") && col("sig_a") === col("sig_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_bands"))
      .barrier()
    // the exact-Jaccard verify re-shingles CANDIDATE docs only: semi-filter
    // each side's DOC TABLE to its candidate ids BEFORE the explode (a semi
    // join can't push through Generate, so filtering the shingle stream
    // after the fact would still explode the whole corpus — the contract is
    // that a batch never re-pays corpus-wide shingling)
    // candidate volume is data-dependent (hot buckets are quadratic) — no
    // forced broadcast; AQE converts the semi join at runtime when small
    def candDocs(side: DataFrame, pairCol: String) = {
      val ids = cands.select(col(pairCol).as("__cid")).distinct()
      side.join(ids, side(idCol) === col("__cid"), "left_semi")
    }
    val shVerify = shingles(candDocs(delta, "id_a"), idCol, textCol, k, dedup = false)
      .unionByName(shingles(candDocs(corpus, "id_b"), idCol, textCol, k, dedup = false))
    jaccardFor(cands, shVerify, idCol)
  }

  /** Near-containment pairs via RARE-SHINGLE BLOCKING: candidates are any
    * two docs sharing a shingle with document frequency <= `maxDf`, verified
    * by exact intersection/size counts. Containment |A∩B|/|A| is asymmetric
    * — a short doc quoted inside a long one scores ~1.0 at LOW Jaccard, the
    * regime symmetric minhash banding structurally misses (a 10%-Jaccard
    * pair collides on a 2-hash band w.p. ~1%). A quoted passage shares ALL
    * its shingles with the quoting doc, so any ONE rare shingle in the
    * quote surfaces the pair; per-shingle fanout is df-capped at maxDf², so
    * candidate volume stays bounded at any corpus size — the reason common
    * shingles must be excluded from blocking (not from verification).
    * Emits pairs with max-side containment >= `floor`. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String, k: Int,
      maxDf: Int, floor: Double): DataFrame = {
    val shDist = shingles(df, idCol, textCol, k)
      .barrier() // feeds df-count + candidate gen + verify
    val rare = shDist.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select(col("shingle"))
    // pairs per rare shingle via a BOUNDED collect_list + double explode:
    // only rare shingles survive the semi-join, so every group holds
    // <= maxDf ids — the list can never blow up (the reason this must stay
    // AFTER the rare filter). The former renamed self-join computed the
    // shDist⋈rare branch twice (renames defeat ReuseExchange) and paid two
    // extra exchanges on the shingle key (r12, guide §2.4).
    val grouped = shDist.join(rare, "shingle")
      .groupBy(col("shingle")).agg(collect_list(col(idCol)).as("__ids"))
    val cands = grouped
      .select(explode(col("__ids")).as("id_a"), col("__ids"))
      .select(col("id_a"), explode(col("__ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_shared_rare"))
    val ni = coalesce(col("n_inter"), lit(0L)).cast("double")
    jaccardFor(cands, shDist, idCol, shDeduped = true)
      .withColumn("containment_a", round(ni / col("n_a").cast("double"), 6))
      .withColumn("containment_b", round(ni / col("n_b").cast("double"), 6))
      .filter(col("containment_a") >= floor || col("containment_b") >= floor)
  }

  /** Cross-source contamination matrix: for every unordered pair of values
    * of `srcCol`, the exact shingle-set overlap between the two sources'
    * corpora — the benchmark-contamination / split-leakage audit at corpus
    * granularity (which sources share content with which), the provenance
    * complement of per-doc-pair dedup (reference corpus hygiene:
    * `deduplicate_*` in the reference only ever asks the DOC-pair question).
    *
    * Shape at 100 TB: the heavy pass is the distinct (source, shingle)
    * reduce — map-side-combinable, output vocabulary-sized (far below the
    * corpus). The self-join key is the shingle, whose fan-out is bounded by
    * source-count² per shingle (sources are a FIXED small domain — tens,
    * not data-sized), so pair volume is ≤ S²·vocab, never corpus². The
    * final matrix is S(S-1)/2 rows. Ratios are exact integer ppm (floor) —
    * full hash gate, no float summation anywhere.
    *
    * Emits one row per source pair (including zero-overlap pairs — a
    * contamination REPORT must show the clean pairs too): sizes,
    * intersection, Jaccard and max-containment in ppm, and a `contaminated`
    * verdict at `floorPpm` max-containment. The pair domain is built from
    * the DISTINCT sources of `df` itself, not from the shingle stream: a
    * source whose documents are all shorter than `k` words produces no
    * shingles but must still appear (as clean, n_sh = 0) — a report that
    * silently omits a source reads as coverage it didn't have. Zero-shingle
    * divisors floor to 0 ppm. */
  def sourceOverlap(df: DataFrame, srcCol: String, textCol: String, k: Int,
      floorPpm: Long): DataFrame = {
    // distinct (source, shingle): reused by totals AND both join sides
    val sh = shingles(df.select(col(srcCol), col(textCol)), srcCol, textCol, k)
      .barrier()
    val tot = df.select(col(srcCol)).distinct()
      .join(sh.groupBy(col(srcCol)).agg(count(lit(1)).as("n_sh")),
        Seq(srcCol), "left")
      .select(col(srcCol), coalesce(col("n_sh"), lit(0L)).as("n_sh"))
    val side = sh.toDF("src", "shingle")
    val inter = side.toDF("src_a", "sh_a")
      .join(side.toDF("src_b", "sh_b"),
        col("sh_a") === col("sh_b") && col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("n_inter"))
    // S-row × S-row non-equi join (broadcast NL over the fixed source
    // domain) builds the FULL upper-triangle matrix, zero-overlap included
    val matrix = tot.toDF("src_a", "n_a")
      .join(broadcast(tot.toDF("src_b", "n_b")), col("src_a") < col("src_b"))
      .join(inter, Seq("src_a", "src_b"), "left")
    val ni = coalesce(col("n_inter"), lit(0L))
    matrix.select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        ni.as("n_inter"),
        expr("""CASE WHEN n_a + n_b - coalesce(n_inter, 0L) = 0
               |  THEN CAST(0 AS BIGINT)
               |  ELSE (1000000 * coalesce(n_inter, 0L))
               |    div (n_a + n_b - coalesce(n_inter, 0L)) END""".stripMargin)
          .as("jaccard_ppm"),
        expr("""CASE WHEN least(n_a, n_b) = 0 THEN CAST(0 AS BIGINT)
               |  ELSE (1000000 * coalesce(n_inter, 0L))
               |    div least(n_a, n_b) END""".stripMargin)
          .as("containment_ppm"))
      .withColumn("contaminated", col("containment_ppm") >= floorPpm)
  }

  /** Largest 32-bit prime — the modulus of the minhash affine family. */
  val MinhashP = 4294967291L

  /** Fixed (a, b, c) coefficients per hash index. a, b < 2^15 keep
    * a*x1 + b*x2 + c under 2^49 — exact in 64-bit signed arithmetic in BOTH
    * engines (DuckDB BIGINT overflow is a hard error, so staying far from
    * 2^63 is a correctness requirement, not a nicety). Fixed seed: the
    * coefficients are part of the signature definition, and the oracle SQL
    * is generated from this same list so the two sides cannot drift. */
  val minhashCoeffs: IndexedSeq[(Long, Long, Long)] = {
    val r = new scala.util.Random(0x9e3779b9L)
    IndexedSeq.fill(64)((r.nextInt(32749).toLong + 16,
      r.nextInt(32749).toLong + 16, r.nextInt(Int.MaxValue).toLong))
  }

  /** MinHash signatures, wide form: `numHashes` minhashes per id as columns
    * mh_0..mh_{n-1} (BIGINT in [0, MinhashP)).
    *
    * Hash family: ONE md5 per shingle, split into two independent 32-bit
    * lanes x1, x2; hash i is the affine combination (a_i*x1 + b_i*x2 + c_i)
    * mod P — the standard one-strong-hash universal family (Indyk '99).
    * Arithmetic is codegen'd integer work, so n minhashes cost ONE digest
    * per shingle regardless of n — at 100 TB the shingle stream dominates
    * this pipeline and digest count is the unit of cost (halved vs the
    * 4-hashes-per-digest slicing this replaces; was n/4 md5 calls). The
    * whole signature still reduces in ONE map-side-combinable groupBy. */
  def minhash(sh: DataFrame, idCol: String, numHashes: Int): DataFrame = {
    require(numHashes <= minhashCoeffs.length, s"at most ${minhashCoeffs.length} hashes")
    val lanes = sh.select(col(idCol), md5(col("shingle")).as("__h"))
      .select(col(idCol),
        conv(substring(col("__h"), 1, 8), 16, 10).cast("long").as("__x1"),
        conv(substring(col("__h"), 9, 8), 16, 10).cast("long").as("__x2"))
    val mins = (0 until numHashes).map { i =>
      val (a, b, c) = minhashCoeffs(i)
      min((col("__x1") * a + col("__x2") * b + c) % MinhashP).as(s"mh_$i")
    }
    // min is duplicate-insensitive, so raw (non-distinct) shingles are fine —
    // and keeping countDistinct OUT of this aggregate matters: a fused
    // countDistinct forces Spark's expanded two-phase distinct aggregation,
    // which shuffles the full shingle set (measured slower than a separate
    // candidate-only size pass).
    lanes.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
  }

  /** Oracle-side spelling of [[minhash]]'s aggregate list (DuckDB; expects
    * columns x1, x2 = the two 32-bit md5 lanes). */
  def minhashMinsSql(numHashes: Int): String =
    (0 until numHashes).map { i =>
      val (a, b, c) = minhashCoeffs(i)
      s"    MIN(($a * x1 + $b * x2 + $c) % $MinhashP) AS mh_$i"
    }.mkString(",\n")

  /** LSH band signatures from the wide minhash table: (id, band, sig) with
    * `bandSize` consecutive minhashes concatenated per band. */
  def lshBands(mh: DataFrame, idCol: String, bandSize: Int, numHashes: Int): DataFrame = {
    val bandStructs = (0 until numHashes / bandSize).map { b =>
      struct(lit(b).as("band"),
        concat_ws("|", (0 until bandSize).map(r => col(s"mh_${b * bandSize + r}")): _*).as("sig"))
    }
    mh.select(col(idCol), explode(array(bandStructs: _*)).as("bs"))
      .select(col(idCol), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** Default per-bucket occupancy cap for the PRODUCTION LSH ingest paths
    * (d2's corpus pass, d8's incremental form, st7's streaming seat). One
    * degenerate band signature — mass-produced boilerplate, empty-ish docs,
    * an adversarial shingle — puts m docs in one bucket and makes the
    * candidate self-join emit m(m−1)/2 pairs: a single hot key that kills
    * the job at 100 TB no matter how many executors exist. 1024 is far
    * above every honestly-similar cluster observed in the synthetic corpus
    * (bucket max: 3 at sf0.01, 8 at sf0.1 — BENCH_NOTES "LSH bucket
    * occupancy"), so capped and uncapped candidates are bit-identical at
    * every gated and probed scale, while a true pathological bucket
    * degrades to 1023 star edges instead of 500k+ pairs. */
  val DefaultLshMaxBucket = 1024

  /** Candidate pairs sharing >= 1 band signature: (id_a, id_b, n_bands).
    * The equi-join on (band, sig) is what makes this scale: candidates are
    * bounded by bucket occupancy, never all-pairs. */
  def lshCandidates(bands: DataFrame, idCol: String): DataFrame = {
    val a = bands.toDF("id_a", "band_a", "sig_a")
    val b = bands.toDF("id_b", "band_b", "sig_b")
    a.join(b, col("band_a") === col("band_b") && col("sig_a") === col("sig_b") &&
        col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_bands"))
  }

  /** [[lshCandidates]] with a PER-BUCKET OCCUPANCY CAP — the
    * pathological-corpus guard a production dedup needs at 100 TB: one
    * degenerate band signature (mass-produced boilerplate, empty-ish docs,
    * an adversarial shingle) puts m documents in one bucket and makes the
    * self-join emit m(m−1)/2 pairs — a single hot key that can kill the
    * job no matter how many executors exist.
    *
    * Buckets at or under `maxBucket` pair exhaustively (bit-identical to
    * [[lshCandidates]]); an OVERSIZED bucket instead emits STAR edges from
    * its minimum id to every other member — m−1 pairs, linear in bucket
    * size. The star preserves the bucket's CONNECTIVITY (a CC consumer
    * still merges the cluster when the hub verifies against members — the
    * all-identical-boilerplate case that creates such buckets), at the
    * documented recall trade: member↔member pairs of an oversized bucket
    * that would verify only through each other are not emitted. This is
    * the standard capped-bucket discipline (same family as d9's df≤4
    * blocking and t31's fingerprint df-cap); leave uncapped only when the
    * corpus is known boilerplate-free.
    *
    * `n_bands` counts the bands in which the pair was generated (through
    * either path). */
  def lshCandidatesCapped(bands: DataFrame, idCol: String,
      maxBucket: Int): DataFrame = {
    require(maxBucket >= 2, s"maxBucket must be >= 2: $maxBucket")
    val occ = bands.groupBy(col("band"), col("sig"))
      .agg(count(lit(1)).as("__occ"), min(col(idCol)).as("__hub"))
    val withOcc = bands.join(occ, Seq("band", "sig"))
    val smallPairs = lshCandidates(
      withOcc.filter(col("__occ") <= maxBucket)
        .select(col(idCol), col("band"), col("sig")), idCol)
    val starPairs = withOcc
      .filter(col("__occ") > maxBucket && col(idCol) =!= col("__hub"))
      .select(col("__hub").as("id_a"), col(idCol).as("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_bands"))
    smallPairs.unionByName(starPairs)
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("n_bands")).as("n_bands"))
  }

  /** [[lshCandidates]] with a deterministic per-bucket SORTED-NEIGHBORHOOD
    * window — the kNN-shaped occupancy guard: buckets with occ <= window+1
    * pair exhaustively (bit-identical to [[lshCandidates]]); larger buckets
    * order members by a salted hash and pair each with its next `window`
    * successors only (u2c's SNM discipline), so per-bucket pair volume is
    * occ·window — LINEAR in occupancy — and EVERY member keeps a
    * ~2·window-candidate neighborhood. That last property is why a top-k
    * consumer (kNN join) needs this shape instead of
    * [[lshCandidatesCapped]]'s star edges, which preserve connectivity for
    * CC consumers but starve non-hub members of neighbors. The cost of a
    * dense SRP cell is the motivating case: a `bits`-bit band has only
    * 2^bits values, so candidate pairs have a floor of n²/2^(bits+1) per
    * band — quadratic in the corpus (measured: 595 s for 80k vectors at
    * sf10, bits = 6) where the windowed form is n·window.
    *
    * The successor join is TWO equi-joins on (band, sig, window-block) —
    * pos_b in (pos_a, pos_a+window] spans at most two window-sized blocks
    * (the j6 bucketed-proximity shape) — never a per-bucket cross.
    *
    * WEAKENED `n_bands` SEMANTICS: the output column counts bands where the
    * pair landed WITHIN the window of each other, not bands where they
    * share a signature — in an oversized bucket a pair colliding in 2 bands
    * can report n_bands = 1. Identical to [[lshCandidates]] while every
    * bucket fits window+1 (the oracle-gated regime); beyond that, do NOT
    * use it as an r-of-b band-vote threshold (the minhash pattern) — it
    * under-counts. Current consumers treat it as collide-at-least-once
    * evidence only.
    *
    * `orderCol`: optional SIMILARITY-CORRELATED sort key (e.g. a finer LSH
    * code of the same vector, from fresh hyperplanes — the Manku '07
    * rotate-and-sort discipline). Below the window it changes nothing (all
    * bucket pairs emit regardless of order); above it, ring neighbors
    * become LIKELY near-dups instead of a uniform hash sample — the sf10
    * d7 measurement: the same 71.5M-candidate budget surfaces 1.31× the
    * true edges, 190,243 vs 144,840 (BENCH_NOTES round-9 continuation).
    * Ties (and the default)
    * fall back to the salted hash, keeping the order total and
    * partition-invariant. */
  def lshCandidatesRing(bands: DataFrame, idCol: String,
      window: Int, orderCol: Option[String] = None): DataFrame = {
    require(window >= 1, s"window must be >= 1: $window")
    val order = orderCol.map(col).toSeq :+
      md5(col(idCol).cast("string")) :+ col(idCol)
    val w = Window.partitionBy(col("band"), col("sig"))
      .orderBy(order: _*)
    val pos = bands
      .select(col(idCol) +: col("band") +: col("sig") +:
        orderCol.map(col).toSeq: _*)
      .withColumn("__pos", row_number().over(w).cast("long"))
      .select(col(idCol), col("band"), col("sig"), col("__pos"))
    val a = pos.toDF("id_a", "band", "sig", "pos_a")
      .select(col("id_a"), col("band"), col("sig"), col("pos_a"),
        explode(array(expr(s"(pos_a - 1) div $window"),
          expr(s"(pos_a - 1) div $window + 1"))).as("__blk"))
    val b = pos.toDF("id_b", "band", "sig", "pos_b")
      .withColumn("__blk", expr(s"(pos_b - 1) div $window"))
    a.join(b, Seq("band", "sig", "__blk"))
      .filter(col("pos_b") > col("pos_a") &&
        col("pos_b") <= col("pos_a") + window)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_bands"))
  }

  /** Exact shingle-set Jaccard for given candidate pairs (verification stage
    * of the LSH pipeline). `shRaw` may contain duplicates — it's semi-filtered
    * to the candidate docs FIRST, then deduped and sized (tiny), so the full
    * corpus never pays a distinct shuffle. */
  /** Above this many candidate pairs the forced broadcast hints come off: a
    * hot LSH bucket makes candidates quadratic in bucket size, and a mandatory
    * hint overrides every size threshold — at warehouse scale a skewed corpus
    * would OOM the driver where a shuffle join just works. */
  val MaxBroadcastPairs = 2000000L

  /** `shDeduped = true` declares `shRaw` already distinct per (id, shingle)
    * — the semi-filtered candidate shingles then skip a pointless second
    * distinct shuffle (containmentPairs passes its checkpointed distinct
    * spine; the LSH callers pass raw shingles and keep the dedup). */
  def jaccardFor(pairs: DataFrame, shRaw: DataFrame, idCol: String,
      shDeduped: Boolean = false): DataFrame = {
    // candIds/pairs are NORMALLY tiny (bounded by LSH bucket occupancy), and
    // saying so with an explicit broadcast() beats waiting for an AQE runtime
    // re-plan: the semi-filter then never shuffles the raw shingles. But the
    // bound is statistical, not structural — so checkpoint the candidate set
    // (it is reused four times below anyway), measure it, and only force the
    // hint under MaxBroadcastPairs; beyond that fall back to AQE-planned
    // shuffle joins. Deliberate trade-off: building this DataFrame runs the
    // candidate job EAGERLY (plan-only consumers pay it too) — the measured
    // hint decision needs a real count, and every non-trivial caller
    // executes the result anyway.
    // d2's checkpointed pairs pass the barrier as-is; a join would re-run 5x.
    val pairsCk = pairs.barrier()
    val small = pairsCk.count() <= MaxBroadcastPairs
    def maybeB(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val candIds = pairsCk.select(col("id_a").as("cid"))
      .unionByName(pairsCk.select(col("id_b").as("cid"))).distinct()
    // the deduped candidate shingles feed THREE consumers (sizes, pair-A,
    // pair-B); without materialization each one replays the full corpus
    // shingle explode + semi-filter (measured: 4 Generate subtrees in the
    // static plan). The set itself is tiny — candidate docs only — so a
    // barrier turns the heavy explode into exactly one pass.
    val shCandRaw = shRaw.join(maybeB(candIds), shRaw(idCol) === candIds("cid"), "left_semi")
    val shCand = (if (shDeduped) shCandRaw else shCandRaw.distinct()).barrier()
    val sizes = shCand.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    val shA = shCand.toDF("sa_id", "sa_shingle")
    val shB = shCand.toDF("sb_id", "sb_shingle")
    val inter = maybeB(pairsCk.select(col("id_a"), col("id_b")))
      .join(shA, col("id_a") === col("sa_id"))
      .join(shB, col("id_b") === col("sb_id") && col("sa_shingle") === col("sb_shingle"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_inter"))
    pairsCk
      .join(inter, Seq("id_a", "id_b"), "left")
      .join(sizes.toDF("ja", "n_a"), col("id_a") === col("ja"))
      .join(sizes.toDF("jb", "n_b"), col("id_b") === col("jb"))
      .withColumn("jaccard", round(coalesce(col("n_inter"), lit(0L)).cast("double") /
        (col("n_a") + col("n_b") - coalesce(col("n_inter"), lit(0L))).cast("double"), 6))
      .drop("ja", "jb")
  }

  /** Per-document weighted bit-vote sums, columns s0..s{nBits-1}.
    *
    * SimHash votes factor as votes(doc, bit) = Σ_tok count(doc, tok) ×
    * vote(tok, bit) — so the per-bit hash work is done ONCE per DISTINCT
    * token (Heaps' law: vocabulary ≪ occurrences), the tiny vocab vote table
    * joins back (auto-broadcast under threshold, shuffle join beyond), and
    * the per-doc reduction is one map-side-combinable groupBy with nBits
    * sum columns. No per-bit row explosion: the naive (doc, bit) explode
    * shuffles nBits× the token count (measured 4-8x slower). */
  /** (doc, word, count) pre-agg: the shared spine of every token-weighted
    * signature and gate (simhash votes, unigram surprisal, repetition
    * stats). Composite jobs compute it ONCE (checkpointed) and fan out to
    * the `...FromCounts` variants instead of re-exploding the corpus per
    * consumer — the explode+combine here is the heaviest shuffle in each. */
  def wordCounts(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(split(col(textCol), " ")).as("word"))
      .groupBy(col(idCol), col("word")).agg(count(lit(1)).as("dw_cnt"))

  private def voteSums(df: DataFrame, idCol: String, textCol: String,
      nBits: Int, bitExpr: String): DataFrame =
    voteSumsFromCounts(wordCounts(df, idCol, textCol), idCol, nBits, bitExpr)

  private def voteSumsFromCounts(dw: DataFrame, idCol: String,
      nBits: Int, bitExpr: String): DataFrame = {
    val tokCounts = dw.filter(col("word") =!= "")
    val vocab = tokCounts.select(col("word")).distinct()
      .select(col("word"), md5(col("word")).as("h"))
      .select(col("word"),
        expr(s"transform(sequence(0, ${nBits - 1}), bit -> $bitExpr)").as("v"))
    val sums = (0 until nBits).map(i => sum(col("dw_cnt") * expr(s"v[$i]")).as(s"s$i"))
    tokCounts.join(vocab, "word")
      .groupBy(col(idCol)).agg(sums.head, sums.tail: _*)
  }

  /** 64-bit SimHash as four 16-bit band values b0..b3 (band b = bits
    * [16b, 16b+16) of the fingerprint). Bit i is derived from md5(token) hex
    * digit i%32, shift i/32 — two independent bits per hex digit, 64 from the
    * 128-bit digest. Keeping the fingerprint as four small ints instead of
    * one BIGINT sidesteps 2^63 sign overflow AND is exactly the shape banded
    * hamming-LSH needs: each band column is an equi-join key. Input: a
    * [[wordCounts]] frame. */
  def simhash64BandsFromCounts(dw: DataFrame, idCol: String): DataFrame = {
    val hx = "ascii(substr(h, bit % 32 + 1, 1))"
    val votes = voteSumsFromCounts(dw, idCol, 64,
      s"(shiftright($hx - CASE WHEN $hx >= 97 THEN 87 ELSE 48 END, bit div 32) & 1) * 2 - 1")
    val bands = (0 until 4).map { b =>
      (0 until 16).map(j => when(col(s"s${16 * b + j}") > 0, 1 << j).otherwise(0))
        .reduce(_ + _).cast("int").as(s"b$b")
    }
    votes.select(col(idCol) +: bands: _*)
  }

  /** The Manku '07 multi-table banding over the SAME 64-bit fingerprint:
    * 6 blocks (4×11 + 2×10 bits) and all C(6,3) = 20 tables, each keyed on
    * one 3-block subset (~32 bits). Pigeonhole: ≤ 3 flipped bits touch ≤ 3
    * blocks, so ≥ 3 blocks are clean and the pair collides in the table
    * keyed on a clean 3-subset — the same LOSSLESS hamming ≤ 3 guarantee as
    * the 4×16 banding, at a 2^16× lower CHANCE-collision rate: a 16-bit
    * band has 65,536 values, so random docs alone put n²/2^17 pairs per
    * band on the verify stage (the birthday effect — measured 176M
    * candidate pairs for 79k true edges at 500k docs, quadratic in the
    * corpus and the dominant cost of every simhash consumer at sf10);
    * ~32-bit table keys push that floor to n²/2^33, leaving candidate
    * volume ∝ dup-cluster structure (×20 table multiplicity), not corpus².
    * The price is a 20-way banded explode instead of 4 on the
    * doc-count-sized signature table — linear, and tiny next to the
    * quadratic it removes.
    *
    * Emits the sig frame (b0..b3 for exact hamming + the banded key rows)
    * consumers join; output pairs (after the exact hamming filter) are
    * BIT-IDENTICAL to [[simhash64NearDupFromCounts]] — both candidate
    * generators are supersets of the true hamming ≤ 3 pairs and the filter
    * is exact, which also makes the 4-band DuckDB oracle spelling a
    * cross-algorithm completeness check of this path (the gr2 discipline). */
  def simhash64NearDupManku(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int): DataFrame =
    simhash64NearDupMankuFromCounts(wordCounts(df, idCol, textCol), idCol,
      maxHamming)

  /** [[simhash64NearDupManku]] over a pre-built [[wordCounts]] frame. */
  def simhash64NearDupMankuFromCounts(dw: DataFrame, idCol: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming <= 3,
      s"6-block/20-table banding guarantees recall only to hamming 3: $maxHamming")
    // checkpointed: the self-join's two renamed branches defeat
    // ReuseExchange, so without the barrier the 64-column vote aggregation
    // would compute twice; the banded explode below is a cheap projection
    // over the checkpoint and may replay per branch
    val sig = simhash64BandsFromCounts(dw, idCol).barrier()
    // blocks: bits [0,11) [11,22) [22,33) [33,44) [44,54) [54,64) of the
    // fingerprint, re-sliced from the four 16-bit band ints b0..b3 (bit i
    // of the fingerprint = bit i%16 of band i/16)
    def fpBit(i: Int): Column =
      shiftright(col(s"b${i / 16}"), i % 16).bitwiseAND(lit(1))
    val blockBounds = Seq(0, 11, 22, 33, 44, 54, 64)
    val blocks = (0 until 6).map { b =>
      (blockBounds(b) until blockBounds(b + 1)).zipWithIndex
        .map { case (i, j) => fpBit(i) * lit(1 << j) }
        .reduce(_ + _).cast("int").as(s"k$b")
    }
    val keyed = sig.select(
      col(idCol) +: (0 until 4).map(k => col(s"b$k")) :++ blocks: _*)
    // one (table, key) row per 3-block subset; key packs (table, blkA,
    // blkB, blkC) into one BIGINT (blocks < 2^11, 20 tables: < 2^38).
    // The four band ints RIDE THROUGH the banded explode (+16 bytes on a
    // 20-rows-per-doc frame) so the exact hamming verify reads them off the
    // collision row itself — the former shape joined the doc-count sig
    // table back TWICE (two more shuffles) and had to CHECKPOINT it (a
    // barrier job); with one consumer the signature pipeline needs neither
    // (r12, guide §2.4: remove exchanges outright). The pair dedup is the
    // same (id_a, id_b) shuffle the old distinct paid; min() over the
    // band copies is deterministic (every copy carries identical values).
    val tables = (0 until 6).combinations(3).toSeq.zipWithIndex
    val keyExprs = tables.map { case (s3, t) =>
      s"(((CAST($t AS BIGINT) * 2048 + k${s3(0)}) * 2048 + k${s3(1)}) * 2048 + k${s3(2)})"
    }
    val banded = keyed.select(
      col(idCol) +: (0 until 4).map(k => col(s"b$k")) :+
        explode(expr(keyExprs.mkString("array(", ", ", ")"))).as("__tk"): _*)
    val a = banded.toDF("id_a" +: (0 until 4).map(k => s"a$k") :+ "tk_a": _*)
    val b = banded.toDF("id_b" +: (0 until 4).map(k => s"c$k") :+ "tk_b": _*)
    a.join(b, col("tk_a") === col("tk_b") && col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("a0")).as("a0"), min(col("a1")).as("a1"),
        min(col("a2")).as("a2"), min(col("a3")).as("a3"),
        min(col("c0")).as("c0"), min(col("c1")).as("c1"),
        min(col("c2")).as("c2"), min(col("c3")).as("c3"))
      .withColumn("hamming", expr(
        (0 until 4).map(k => s"bit_count(a$k ^ c$k)").mkString(" + ")).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Hamming-banded near-dup pairs over the 64-bit simhash: candidates share
    * at least one identical 16-bit band (any pair within hamming distance 3
    * MUST collide on a band, by pigeonhole over 4 bands), then the exact
    * hamming distance over all 64 bits filters to `maxHamming`. Four
    * equi-joins + a distinct — never an all-pairs comparison. */
  def simhash64NearDup(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int): DataFrame =
    simhash64NearDupFromCounts(wordCounts(df, idCol, textCol), idCol, maxHamming)

  /** [[simhash64NearDup]] over a pre-built [[wordCounts]] frame. */
  def simhash64NearDupFromCounts(dw: DataFrame, idCol: String,
      maxHamming: Int): DataFrame = {
    // sig is consumed SIX times (4 band joins + 2 verify sides); the frame
    // is doc-count rows of 5 ints, so materialize once rather than lean on
    // exchange reuse to dedupe the 64-column vote aggregation per consumer
    val sig = simhash64BandsFromCounts(dw, idCol).barrier()
    val a = sig.toDF("id_a", "a0", "a1", "a2", "a3")
    val b = sig.toDF("id_b", "c0", "c1", "c2", "c3")
    val pairs = (0 until 4).map { k =>
      a.join(b, col(s"a$k") === col(s"c$k") && col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
    }.reduce(_ unionByName _).distinct()
    pairs
      .join(sig.toDF("ja", "a0", "a1", "a2", "a3"), col("id_a") === col("ja"))
      .join(sig.toDF("jb", "c0", "c1", "c2", "c3"), col("id_b") === col("jb"))
      .withColumn("hamming", expr(
        (0 until 4).map(k => s"bit_count(a$k ^ c$k)").mkString(" + ")).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** 16-bit SimHash per document: per-token md5 hex-digit parities vote on
    * each bit, weighted by token frequency. Output: (id, simhash BIGINT). */
  def simhash16(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val votes = voteSums(df, idCol, textCol, 16,
      "(ascii(substr(h, bit + 1, 1)) % 2) * 2 - 1")
    val sig = (0 until 16).map(b => when(col(s"s$b") > 0, 1L << b).otherwise(0L))
      .reduce(_ + _).cast("long").as("simhash")
    votes.select(col(idCol), sig)
  }

  /** EXACT all-pairs Jaccard similarity join with LOSSLESS prefix filtering
    * (AllPairs, Bayardo et al. WWW '07) — the exact counterpart to the
    * MinHash-LSH pipeline: where LSH is probabilistic (a qualifying pair can
    * miss every band), prefix filtering guarantees EVERY pair with word-set
    * Jaccard >= tau is emitted, yet never compares all O(n²) pairs.
    *
    * Order the corpus vocabulary by (document frequency asc, token) — one
    * global, deterministic total order. A doc of n distinct tokens keeps
    * only its first n - ceil(tau·n) + 1 tokens under that order (its
    * PREFIX); two sets with J >= tau must overlap within their prefixes, so
    * the candidate join on prefix tokens is complete. Because prefixes are
    * dominated by RARE tokens, per-token fanout is small — the same reason
    * d9's rare-shingle blocking scales — and a size filter
    * (tau·|a| <= |b| <= |a|/tau) prunes before verification. Candidates are
    * then verified EXACTLY by [[jaccardFor]].
    *
    * Threshold semantics: EXACT — the filter is the integer cross-product
    * n_inter·tauDen >= |union|·tauNum (never the rounded double jaccard
    * column, which would drop boundary pairs for any tau not representable
    * in 6 decimals, e.g. 1/3).
    * Every window is partitioned per document (frame = doc token count);
    * the only corpus-wide shuffles are the two (token) aggregations.
    *
    * `shingleK` picks the set universe: 1 = word sets (the textbook
    * formulation; fine for short records like names/titles), 3 = word
    * 3-gram sets (d2's similarity basis — REQUIRED for document corpora:
    * unigram universes make every prefix dense with shared common words
    * and the candidate join quadratic; 3-gram prefixes are rare-shingle
    * dominated, so fanout stays bounded — measured 121 s → ~2 s at sf0.1). */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      tauNum: Int, tauDen: Int, shingleK: Int = 1): DataFrame = {
    val (ranked, _, cand) =
      prefixJaccardStages(df, idCol, textCol, tauNum, tauDen, shingleK)
    prefixJaccardVerify(ranked, cand, idCol, tauNum, tauDen)
  }

  /** The (ranked spine, prefix index, candidate pairs) stages of
    * [[prefixJaccardPairs]] — the stages of the d10 stage profile in
    * BENCH_NOTES ("Round-7: d10 buy-back"). */
  private def prefixJaccardStages(df: DataFrame, idCol: String,
      textCol: String, tauNum: Int, tauDen: Int, shingleK: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    require(tauNum > 0 && tauDen >= tauNum, s"tau must be in (0,1]: $tauNum/$tauDen")
    val tok = shingles(df, idCol, textCol, shingleK)
    val dfreq = tok.groupBy(col("shingle")).agg(count(lit(1)).as("dfq"))
    val wDoc = Window.partitionBy(col(idCol)).orderBy(col("dfq"), col("shingle"))
    // EVERY token ranked under the one global (dfq asc, shingle) order —
    // the spine both the prefix index AND the verify consume (checkpointed:
    // the corpus explode + df join + rank window run exactly once; the old
    // generic-verify path re-exploded and re-deduped the corpus a second
    // time, measured ~40% of the query). n_tok rides the SAME window
    // exchange as the rank (an unbounded count over the id partition) —
    // the former per-doc size aggregation + join back paid two more
    // exchanges for a value the window pass already had (r12, guide §2.4).
    val ranked = tok.join(dfreq, "shingle")
      .withColumn("rn", row_number().over(wDoc))
      .withColumn("n_tok", count(lit(1)).over(Window.partitionBy(col(idCol))))
      .select(col(idCol), col("shingle"), col("rn"), col("n_tok")).barrier()
    val pref = ranked.filter(col("rn") <=
      col("n_tok") - expr(s"(n_tok * $tauNum + ${tauDen - 1}) div $tauDen") + 1)
    val a = pref.select(col(idCol).as("id_a"), col("shingle"),
      col("n_tok").as("na"), col("rn").as("ra"))
    val b = pref.select(col(idCol).as("id_b"), col("shingle"),
      col("n_tok").as("nb"), col("rn").as("rb"))
    // PPJoin pair-level positional filter (Xiao '08), lossless: the shared
    // prefix tokens are a subset of the intersection, and because rn follows
    // ONE global (dfq, shingle) order on both sides, max(ra) and max(rb)
    // over a pair's shared prefix tokens are attained at the SAME token t*.
    // Any OTHER shared token u (not in both prefixes) must rank globally
    // after t*: were u before t*, u's position in a would be < ra_mx <= pa
    // and in b < rb_mx <= pb — i.e. inside BOTH prefixes, contradiction. So
    // overlap <= o_pref + min(na − ra*, nb − rb*); J >= tau needs overlap
    // >= ceil(tau/(1+tau)·(na+nb)). Aggregating per pair (one groupBy,
    // replacing the DISTINCT the candidate set needed anyway) is strictly
    // tighter than an any-one-token rule — measured 310k → 125k → 120k
    // candidates at sf0.1 (d10, tau=1/2).
    val sumND = tauNum + tauDen
    val cand = a.join(b, Seq("shingle"))
      .filter(col("id_a") < col("id_b") &&
        col("nb") * tauDen >= col("na") * tauNum &&
        col("na") * tauDen >= col("nb") * tauNum)
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("o_pref"),
        max(col("ra")).as("ra_mx"), max(col("rb")).as("rb_mx"),
        max(col("na")).as("na"), max(col("nb")).as("nb"))
      .filter(col("o_pref") +
          least(col("na") - col("ra_mx"), col("nb") - col("rb_mx")) >=
        expr(s"((na + nb) * $tauNum + ${sumND - 1}) div $sumND")).barrier()
    (ranked, pref, cand)
  }

  /** Exact verify FUSED with the filter state (stage 2 of
    * [[prefixJaccardPairs]]): the t* argument above says every shared token
    * is either both-prefix (counted EXACTLY by o_pref) or sits strictly
    * after t* in BOTH lists — so n_inter = o_pref + |{shared tokens with
    * rn_a > ra_mx AND rn_b > rb_mx}|, and the verify probes only each
    * pair's POST-t* suffix (~ceil(tau·n) tokens) instead of re-walking
    * whole token lists. The candidate frame already carries exact sizes,
    * so no extra sizing join. */
  private[graft] def prefixJaccardVerify(ranked: DataFrame, cand: DataFrame,
      idCol: String, tauNum: Int, tauDen: Int): DataFrame = {
    val sufA = ranked.select(col(idCol).as("sa_id"), col("shingle"),
      col("rn").as("rn_a"))
    val sufB = ranked.select(col(idCol).as("sb_id"), col("shingle").as("sb_shingle"),
      col("rn").as("rn_b"))
    val sufShared = cand
      .join(sufA, col("id_a") === col("sa_id") && col("rn_a") > col("ra_mx"))
      .join(sufB, col("id_b") === col("sb_id") &&
        col("sb_shingle") === col("shingle") && col("rn_b") > col("rb_mx"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_suf"))
    cand.join(sufShared, Seq("id_a", "id_b"), "left")
      .withColumn("n_inter", col("o_pref") + coalesce(col("n_suf"), lit(0L)))
      .filter(col("n_inter") * tauDen >=
        (col("na") + col("nb") - col("n_inter")) * tauNum)
      .select(col("id_a"), col("id_b"), col("n_inter"),
        col("na").as("n_a"), col("nb").as("n_b"),
        round(col("n_inter").cast("double") /
          (col("na") + col("nb") - col("n_inter")).cast("double"), 6)
          .as("jaccard"))
  }

  /** EXACT all-pairs tf-idf COSINE similarity join with LOSSLESS norm-bound
    * prefix filtering — the WEIGHTED complement of [[prefixJaccardPairs]]
    * (AllPairs, Bayardo et al. WWW '07, §4: the paper's primary target IS
    * weighted cosine; the Jaccard form in d10 is its set specialization).
    * Where Jaccard treats every shared token equally, cosine over tf-idf
    * weights scores shared RARE terms higher — the boilerplate-robust
    * similarity — and, unlike d10's shingle sets, the unigram universe is
    * fine here because idf downweights exactly the terms that made unigram
    * Jaccard prefixes dense.
    *
    * Weights are integer milli-units: wi = tf · round(1000·ln(N/df)) —
    * both engines derive them identically (ln's 1-ulp divergence cannot
    * move a transcendental off a .0005 boundary), and every downstream
    * dot/norm is then EXACT int64 arithmetic, so the final τ test is the
    * integer cross-product dot²·tauDen² >= n2a·n2b·tauNum² (computed in
    * DECIMAL(38,0): values bound by ~3.6e29 « 1e38) — the full hash gate,
    * no tolerance verdict needed. Terms with idf <= 0 (df = N) carry zero
    * weight and drop.
    *
    * Pruning (Spark-side only; the pair SET is decided by the exact
    * verify, so the bound needs to be correct, not cross-engine-replayed):
    * order the vocabulary by (df asc, term) — rare first. For doc x with
    * terms at ranks 1..n, the suffix potential pot(j) = Σ_{k>=j}
    * wi_x(k)·maxw(term_k) bounds the dot product any pair can collect
    * from x's ranks >= j. x's PREFIX keeps rank j iff pot(j) >=
    * τ·‖x‖·minNorm (corpus-min norm, 1-row broadcast; compared in double
    * with a 1e-9 conservative slack). If a qualifying pair (cos >= τ ⇒
    * dot >= τ‖x‖‖y‖ >= τ‖x‖·minNorm) shared NO prefix term of x, all
    * shared terms would sit past x's prefix end p, giving dot <= pot(p+1)
    * < τ‖x‖·minNorm — contradiction; symmetrically for y. So candidates =
    * prefix postings ⋈ FULL postings (either endpoint's prefix catches
    * the pair), and prefixes are rare-term-dominated (common terms have
    * low wi·maxw and fall past the cut), keeping per-term fanout small —
    * the d9/d10 reason. Every window is per-document; the corpus-wide
    * shuffles are the two vocabulary aggregations and the candidate join.
    *
    * `shingleK` picks the term universe (the d10 lesson, measured here
    * too): 1 = unigrams — fine for short records, but on a corpus whose
    * unigram-cosine body sits just below τ (every doc pair shares weighty
    * vocabulary) NO lossless filter can prune, because the pairs genuinely
    * have near-τ potential (measured at sf0.1/de: prefix kept 66% of
    * postings and candidates ≈ all pairs). 3 = word 3-gram terms: unrelated
    * pairs share NO term at all, so the candidate join touches only
    * genuinely-overlapping pairs and the prefix bound prunes the rest —
    * the document-corpus setting.
    *
    * Output: (id_a, id_b, dot, n2_a, n2_b, cosine) for every pair with
    * cosine >= tauNum/tauDen — guaranteed complete. */
  def cosinePrefixPairs(df: DataFrame, idCol: String, textCol: String,
      tauNum: Int, tauDen: Int, shingleK: Int = 1): DataFrame = {
    val (_, ranked, cand) =
      cosineStages(df, idCol, textCol, tauNum, tauDen, shingleK)
    cosineVerify(ranked, cand, idCol, tauNum, tauDen)
  }

  /** The (weighted postings, ranked spine, filtered candidates) stages of
    * [[cosinePrefixPairs]] — the stages of the d11 stage profile in
    * BENCH_NOTES ("d11 engineering record"). */
  private def cosineStages(df: DataFrame, idCol: String, textCol: String,
      tauNum: Int, tauDen: Int, shingleK: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val w = cosinePostings(df, idCol, textCol, shingleK)
    val ranked = cosineRanked(w, idCol)
    val cand = cosineCand(ranked, idCol, tauNum, tauDen)
    (w, ranked, cand)
  }

  /** Stage 1 of [[cosinePrefixPairs]]: the weighted posting spine.
    * Separate from [[cosineRanked]]/[[cosineCand]] because the stages
    * eagerly checkpoint: a stage profile times each one over a prebuilt
    * predecessor, or every upstream stage is charged to whichever stage runs
    * it (BENCH_NOTES, "d11 engineering record"). */
  private def cosinePostings(df: DataFrame, idCol: String,
      textCol: String, shingleK: Int): DataFrame = {
    // checkpointed at the NARROWEST frame (the (doc, term, count) pre-agg):
    // it feeds the vocabulary aggregation AND the postings join, and the
    // renamed-branch ReuseExchange gamble is not worth a second corpus
    // explode if it misses (r12)
    val tf = shingles(df, idCol, textCol, shingleK, dedup = false)
      .withColumnRenamed("shingle", "word")
      .filter(col("word") =!= "")
      .groupBy(col(idCol), col("word")).agg(count(lit(1)).as("dw_cnt"))
      .barrier()
    // ONE vocabulary aggregation carries df AND the max term count: the
    // corpus-max weight of a term factors as mw = max(dw_cnt)·idf (idf is
    // per-term constant and positive wherever any wi survives the wi > 0
    // cut), so the former separate max(wi) aggregation + join back are
    // free rides here (r12, guide §2.4: two aggregations keyed the same
    // way share one exchange — or better, one aggregation).
    val dfreq = tf.groupBy(col("word"))
      .agg(count(lit(1)).as("dfq"), max(col("dw_cnt")).as("__mc"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    tf.join(dfreq, "word")
      .crossJoin(broadcast(nDocs)) // 1-row corpus total — whitelisted
      .withColumn("__idf",
        round(log(col("n_docs").cast("double") / col("dfq").cast("double")) * 1000)
          .cast("long"))
      .withColumn("wi", col("dw_cnt") * col("__idf"))
      .withColumn("mw", col("__mc") * col("__idf"))
      .filter(col("wi") > 0)
      .select(col(idCol), col("word"), col("dfq"), col("wi"), col("mw"))
  }

  /** Stage 2 of [[cosinePrefixPairs]]: the globally-ranked spine with
    * per-term suffix potentials and doc norms, over a [[cosinePostings]]
    * frame. τ-independent. */
  private def cosineRanked(w: DataFrame, idCol: String): DataFrame = {
    val wDoc = Window.partitionBy(col(idCol)).orderBy(col("dfq"), col("word"))
    // EVERY term ranked under the one global (dfq asc, word) order, with its
    // remaining-suffix potential — the spine both the prefix index AND the
    // fused verify consume (the d10 staged structure). The doc norm n2 and
    // the potential total ride the SAME window exchange as the rank
    // (unbounded sums over the id partition) — the former per-doc n2
    // aggregation + join back paid two more exchanges for sums the window
    // pass already had (r12, guide §2.4).
    val ranked = w
      .withColumn("__pot", col("wi") * col("mw"))
      .withColumn("rn", row_number().over(wDoc))
      .withColumn("__cum", sum(col("__pot")).over(
        wDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__tot",
        sum(col("__pot")).over(Window.partitionBy(col(idCol))))
      .withColumn("__rem", col("__tot") - col("__cum")) // potential past rn
      // L2 tail state (Anastasiu & Karypis '14, L2AP): the doc's squared
      // norm past rn (__nxt2, EXCLUDING the current term) — Cauchy-Schwarz
      // over a rank-suffix is √(nxt2_a·nxt2_b), far tighter than the
      // max-weight potential __rem when corpus max weights are loose.
      // Rides the same window pass as __cum (one extra running sum).
      .withColumn("__cw2", sum(col("wi") * col("wi")).over(
        wDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n2",
        sum(col("wi") * col("wi")).over(Window.partitionBy(col(idCol))))
      .withColumn("__nxt2", col("n2") - col("__cw2"))
      .select(col(idCol), col("word"), col("wi"), col("rn"), col("__rem"),
        col("__pot"), col("__nxt2"), col("n2")).barrier()
    ranked
  }

  /** Stage 3 of [[cosinePrefixPairs]]: the prefix index and the
    * bound-filtered candidate pairs, over a [[cosineRanked]] spine. */
  private def cosineCand(ranked: DataFrame, idCol: String,
      tauNum: Int, tauDen: Int): DataFrame = {
    require(tauNum > 0 && tauDen >= tauNum, s"tau must be in (0,1]: $tauNum/$tauDen")
    // corpus norm envelope: ONE driver-side row (the t33 KB-state license);
    // min feeds the prefix bound, the rest enforce the exactness envelope
    // the verify arithmetic assumes (r7 ADVICE — fail LOUDLY instead of
    // silently wrapping int64 sums or NULLing the DECIMAL(38,0) product):
    //  - max(rn)·max(wi)² <= Long.Max certifies every per-doc n2 = Σwi²
    //    (and a fortiori every o_dot/__sdot partial, each <= dot <= maxN2)
    //    summed exactly — the wrap risk is bounded BEFORE trusting n2;
    //  - max(n2)·tauDen < 10^19 certifies dot²·tauDen² < 10^38, the
    //    DECIMAL(38,0) product in the final τ test (dot <= √(n2_a·n2_b)
    //    <= maxN2 by Cauchy-Schwarz).
    val env = ranked.agg(min(col("n2")), max(col("n2")),
      max(col("rn")), max(col("wi"))).collect().head
    def lv(i: Int): Long =
      Option(env.get(i)).map(_.asInstanceOf[Number].longValue).getOrElse(0L)
    val (minN2, maxN2, maxRn, maxWi) = (lv(0), lv(1), lv(2), lv(3))
    require(BigInt(maxRn) * BigInt(maxWi) * BigInt(maxWi) <= Long.MaxValue,
      s"cosinePrefixPairs: weight envelope maxTerms=$maxRn x maxWi=$maxWi" +
        " risks int64 overflow in the exact dot — rescale the idf quantum")
    require(BigInt(maxN2) * tauDen < BigInt(10).pow(19),
      s"cosinePrefixPairs: max doc norm^2 $maxN2 x tauDen=$tauDen overflows" +
        " the DECIMAL(38,0) tau test — rescale the idf quantum")
    // prefix index cut: max-weight potential (AllPairs) against the
    // corpus-min partner norm. (The L2AP partner-independent prefix cut —
    // tail2 incl. this row >= τ²·n2 — was measured and REJECTED here: a
    // SHORTER prefix moves t* earlier, which inflates rem_a/rem_b at the
    // pair level and WEAKENED the net filter — candidates grew 152k → 160k
    // at sf0.1 even with the L2 pair bound active.)
    val pref = ranked.filter(
      (col("__rem") + col("__pot")).cast("double") * tauDen >=
        sqrt(col("n2").cast("double") * minN2.toDouble) *
          tauNum * (1 - 1e-9))
    // two-sided prefix candidates (lossless, the d10 argument carried to
    // weights): the globally-FIRST shared term of a qualifying pair must
    // lie in BOTH prefixes — were it past x's prefix end, every shared
    // term would be, so dot <= pot(past prefix) < τ·‖x‖·minNorm <=
    // τ·‖x‖·‖y‖. The pair agg computes the shared-prefix dot contribution
    // EXACTLY (o_dot) plus the positional state (ra_mx/rb_mx, remaining
    // potentials), so the pair-level bound o_dot + min(rem_a, rem_b)
    // prunes before any suffix probe (the PPJoin idea, weighted).
    val a = pref.select(col(idCol).as("id_a"), col("word"), col("wi").as("__wa"),
      col("rn").as("ra"), col("__rem").as("__rema"), col("__nxt2").as("__nxa"),
      col("n2").as("n2_a"))
    val b = pref.select(col(idCol).as("id_b"), col("word"), col("wi").as("__wb"),
      col("rn").as("rb"), col("__rem").as("__remb"), col("__nxt2").as("__nxb"),
      col("n2").as("n2_b"))
    // Pair-level suffix bounds (the r7 buy-back, applied where it is NOT
    // already subsumed): the dot past the last shared-prefix term t* is
    // over shared terms ranking past ra_mx AND rb_mx, so it is bounded by
    //  (1) max-weight potential min(rem_a, rem_b) (PPJoin, r7), and
    //  (2) Cauchy-Schwarz √(l2_a·l2_b) over the two rank-suffix tails
    //      (L2AP) — l2_x = tail squared norm EXCLUDING t* (min of the
    //      non-increasing __nxt2 over shared rows = its value at t*).
    // (A first-shared-term Bayardo test max(__rem+__pot) was measured and
    // REJECTED: o_dot + min(rem) <= that bound always — each potential
    // term wa·mw over-covers the actual wa·wb — so it prunes nothing; a
    // row-level prune was also rejected: dropping rows shrinks o_dot and
    // inflates rem, and candidates GREW 152k → 170k at sf0.1.)
    val cand = a.join(b, Seq("word"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("__wa") * col("__wb")).as("o_dot"),
        max(col("ra")).as("ra_mx"), max(col("rb")).as("rb_mx"),
        min(col("__rema")).as("rem_a"), min(col("__remb")).as("rem_b"),
        min(col("__nxa")).as("l2_a"), min(col("__nxb")).as("l2_b"),
        max(col("n2_a")).as("n2_a"), max(col("n2_b")).as("n2_b"))
      .filter {
        val pairT =
          sqrt(col("n2_a").cast("double") * col("n2_b").cast("double")) *
            tauNum * (1 - 1e-9)
        (col("o_dot") + least(col("rem_a"), col("rem_b"))).cast("double") *
          tauDen >= pairT &&
        (col("o_dot").cast("double") +
          sqrt(col("l2_a").cast("double") * col("l2_b").cast("double"))) *
          tauDen >= pairT
      }
      .drop("l2_a", "l2_b").barrier()
    cand
  }

  /** Exact suffix-only verify of [[cosinePrefixPairs]] (stage 2). */
  private[graft] def cosineVerify(ranked: DataFrame, cand: DataFrame,
      idCol: String, tauNum: Int, tauDen: Int): DataFrame = {
    // exact verify FUSED with the filter state: every shared term is either
    // both-prefix (its wa·wb counted EXACTLY in o_dot — max(ra)/max(rb)
    // over shared prefix terms are attained at the SAME term t* under the
    // one global order, and any other shared term before t* would sit in
    // both prefixes) or ranks past t* on BOTH sides — so only each pair's
    // post-t* suffix is probed, never the whole term list
    val sufA = ranked.select(col(idCol).as("__sa"), col("word"),
      col("rn").as("__rna"), col("wi").as("__swa"))
    val sufB = ranked.select(col(idCol).as("__sb"), col("word").as("__sbw"),
      col("rn").as("__rnb"), col("wi").as("__swb"))
    val suf = cand
      .join(sufA, col("id_a") === col("__sa") && col("__rna") > col("ra_mx"))
      .join(sufB, col("id_b") === col("__sb") &&
        col("__sbw") === col("word") && col("__rnb") > col("rb_mx"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("__swa") * col("__swb")).as("__sdot"))
    cand.join(suf, Seq("id_a", "id_b"), "left")
      .withColumn("dot", col("o_dot") + coalesce(col("__sdot"), lit(0L)))
      .filter(expr(s"""CAST(dot AS DECIMAL(38,0)) * CAST(dot AS DECIMAL(38,0))
          * ${tauDen.toLong * tauDen} >=
        CAST(n2_a AS DECIMAL(38,0)) * CAST(n2_b AS DECIMAL(38,0))
          * ${tauNum.toLong * tauNum}"""))
      .select(col("id_a"), col("id_b"), col("dot"), col("n2_a"), col("n2_b"),
        round(col("dot").cast("double") /
          (sqrt(col("n2_a").cast("double")) * sqrt(col("n2_b").cast("double"))), 6)
          .as("cosine"))
  }
}
