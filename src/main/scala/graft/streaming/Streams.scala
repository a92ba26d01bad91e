package graft.streaming

import graft.ops.Checkpoints.BarrierOps
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming forms of the reference's micro-batch behaviors
  * (SURVEY.md §2.10).
  *
  * The reference has no true streams — its "incremental" pattern is
  * fetch-last-N-days → concat → drop_duplicates
  * (`/root/reference/pipeline_handler.py:299-355`) on a 3×/day cron. These
  * operators are the same semantics expressed as continuous queries, so the
  * engine can run them either as scheduled batches or as an always-on stream
  * without code changes downstream.
  */
object Streams {

  /** Run `df` to its end as an `AvailableNow` stream: process everything its
    * sources hold at start, then stop. `sink` sets the sink on the writer (a
    * memory table, or a checkpointed `foreachBatch` body). Returns the
    * terminated query, whose `recentProgress` holds one entry per
    * micro-batch; a failed batch rethrows here as the query's
    * `StreamingQueryException`. Every stream in the engine runs through this
    * one call. */
  def runToEnd(df: DataFrame)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): StreamingQuery = {
    val q = sink(df.writeStream).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }

  /** [[runToEnd]] into a `foreachBatch` body under a checkpoint at
    * `ckptDir`, so a restart resumes after the last committed batch. */
  private def eachBatch(stream: DataFrame, ckptDir: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    runToEnd(stream)(_.option("checkpointLocation", ckptDir)
      .foreachBatch((batch: Dataset[Row], id: Long) => body(batch.toDF(), id)))

  private def fsOf(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def exists(spark: SparkSession, dir: String): Boolean = {
    val (fs, p) = fsOf(spark, dir)
    fs.exists(p)
  }

  /** Parquet schema of the events table in its original generation (ts is
    * nanos-as-long under `spark.sql.legacy.parquet.nanosAsLong`). */
  val eventsRawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Regenerated-file schema: ts is TIMESTAMP(MICROS) (read as UTC-session
    * TimestampType — `inferTimestampNTZ` disabled everywhere). */
  val eventsMicrosSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** File-based event stream over a directory of parquet files, normalized to
    * a microsecond `ts` timestamp. Streaming sources need a declared schema;
    * sniff the footer with a driver-side batch read so both file generations
    * work (see [[graft.core.Tables.events]] for the two-generation story —
    * declaring the wrong one silently yields NULL event time, which a
    * watermark never advances past: append-mode output stays empty forever).
    */
  def eventStream(spark: SparkSession, dir: String): DataFrame =
    if (spark.read.parquet(dir).schema("ts").dataType == LongType)
      spark.readStream.schema(eventsRawSchema).parquet(dir)
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else
      spark.readStream.schema(eventsMicrosSchema).parquet(dir)

  /** Streaming read of the orders/transactions ledger (the cm2 waterfall's
    * front door). Same two-generation footer sniff as [[eventStream]]:
    * a nanos-long `o_orderdate` converts by the same integral division
    * DuckDB applies reading the file as TIMESTAMP. */
  def orderStream(spark: SparkSession, dir: String): DataFrame = {
    val micros = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType),
      StructField("o_orderpriority", StringType)))
    if (spark.read.parquet(dir).schema("o_orderdate").dataType == LongType)
      spark.readStream.schema(StructType(micros.map {
          case f if f.name == "o_orderdate" => f.copy(dataType = LongType)
          case f => f
        })).parquet(dir)
        .withColumn("o_orderdate", timestamp_micros(expr("o_orderdate div 1000")))
    else spark.readStream.schema(micros).parquet(dir)
  }

  /** Streaming read of the documents table (curation front door). */
  def documentStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(
      "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .parquet(dir)

  /** Streaming read of the embeddings table (the ANN/PCA front door). */
  def embeddingStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(
      "vec_id LONG, embedding ARRAY<FLOAT>, label INT")
      .parquet(dir)

  /** Incremental append + key dedup: the `drop_duplicates(transaction_id,
    * keep='first')` pattern with a watermark bounding the dedup state —
    * exactly-once per key within the lateness horizon.
    *
    * `dropDuplicatesWithinWatermark`, NOT plain `dropDuplicates`: with the
    * event-time column absent from the key subset, plain dropDuplicates
    * keeps its state forever (the watermark only evicts when the event-time
    * column is itself a dedup key) — unbounded state on an unbounded
    * stream. The WithinWatermark form evicts each key once the watermark
    * passes its first arrival's event time, so duplicates are suppressed
    * exactly when they arrive within the lateness horizon of the first —
    * the reference's operational reality (its 3x/day re-syncs re-send rows
    * hours apart, never 90 days). */
  def dedupByKey(stream: DataFrame, keyCol: String, lateness: String): DataFrame =
    stream.withWatermark("ts", lateness).dropDuplicatesWithinWatermark(keyCol)

  /** Tumbling-window per-type counts + value sums with watermarking —
    * the streaming form of A2's calendar-period aggregation. */
  def windowedCounts(stream: DataFrame, window_ : String, lateness: String): DataFrame =
    stream.withWatermark("ts", lateness)
      .groupBy(window(col("ts"), window_).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("total_value"))

  /** Merge one batch into a keyed parquet table: new keys append, existing
    * keys are replaced by the row with the highest (version, tiebreak).
    * Keep-newest is a per-key window — idempotent, so a replayed micro-batch
    * after a crash converges to the same table (the exactly-once story for
    * an overwrite sink). The read-union-overwrite body is the
    * format-agnostic merge (the reference's
    * `add_new_transactions_to_combined_df`, `pipeline_handler.py:299-355`);
    * on a table format with ACID upserts the same call site becomes a
    * MERGE INTO and drops the full rewrite. */
  def mergeUpsert(batch: DataFrame, tableDir: String,
      keyCol: String, versionCol: String, tiebreakCol: String): Unit = {
    val spark = batch.sparkSession
    // Commit via the shared atomic-swap protocol (graft.core.TableSwap):
    // recover any interrupted swap BEFORE reading the current table, build
    // the merge lazily against it, commit under rename-only replacement — a
    // crash never loses the table or replays into an empty one.
    graft.core.TableSwap.recover(spark, tableDir)
    val existing =
      if (exists(spark, tableDir)) Some(spark.read.parquet(tableDir)) else None
    val all = existing.fold(batch)(_.unionByName(batch))
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(versionCol).desc, col(tiebreakCol).desc)
    val merged = all.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    graft.core.TableSwap.commit(spark, tableDir)(merged.write.parquet(_))
  }

  /** Continuous upsert: every micro-batch of `stream` is merged into
    * `tableDir` via [[mergeUpsert]] under a checkpoint, so restarts resume
    * from the last committed batch. */
  def upsertByKey(stream: DataFrame, tableDir: String, ckptDir: String,
      keyCol: String, versionCol: String, tiebreakCol: String): StreamingQuery =
    eachBatch(stream, ckptDir)((batch, _) =>
      mergeUpsert(batch, tableDir, keyCol, versionCol, tiebreakCol))

  /** Merge one micro-batch of documents into the near-dup ingest state at
    * `stateDir` — the streaming seat of `Dedup.incrementalNearDup` (d8): a
    * batch pays for ITS OWN shingling plus a banded join against the
    * persisted corpus signatures, never a corpus re-shingle.
    *
    * State is ONE atomic table (doc_id, text, accepted, bands) where `bands`
    * is the doc's LSH band signatures as an array — signatures ride WITH the
    * row so a single `TableSwap` commit keeps docs and index consistent
    * across crashes (two tables would need a cross-table transaction).
    * EVERY seen doc persists, accepted or not: the gate compares a new doc
    * against all previously-arrived content, so a doc that near-dups a
    * REJECTED doc is still a duplicate of that content's cluster.
    *
    * Gate rule (arrival-order form of d2's keep-first): a doc is rejected
    * iff some band-collision candidate among (all previously-arrived docs ∪
    * smaller-id docs of its own batch) verifies at exact Jaccard >=
    * `threshold`. When docs arrive in doc_id order — one whole-corpus
    * replay, or id-ordered files — this is exactly "near-dups a smaller-id
    * doc", which batch SQL can name (the st7 oracle).
    *
    * Replay-idempotent: already-seen doc_ids are anti-joined away first, so
    * a micro-batch replayed after a crash (foreachBatch's at-least-once)
    * converges to the same table. The read-union-overwrite commit is the
    * format-agnostic merge (same trade as [[mergeUpsert]]); on an ACID table
    * format the same call site becomes an append + MERGE. */
  def nearDupIngestBatch(batchRaw: DataFrame, stateDir: String,
      threshold: Double, k: Int = 3, numHashes: Int = 8, bandSize: Int = 2,
      maxBucket: Int = graft.ops.Dedup.DefaultLshMaxBucket): Unit = {
    import graft.ops.Dedup
    val spark = batchRaw.sparkSession
    graft.core.TableSwap.recover(spark, stateDir)
    val seen = if (exists(spark, stateDir)) Some(spark.read.parquet(stateDir)) else None

    val fresh = seen.fold(
        batchRaw.select(col("doc_id"), col("text")).dropDuplicates("doc_id")) { sn =>
      batchRaw.select(col("doc_id"), col("text")).dropDuplicates("doc_id")
        .join(sn.select(col("doc_id")), Seq("doc_id"), "left_anti")
    }.barrier()
    if (fresh.isEmpty) return

    val freshBands = Dedup.lshBands(
      Dedup.minhash(Dedup.shingles(fresh, "doc_id", "text", k, dedup = false),
        "doc_id", numHashes), "doc_id", bandSize, numHashes).barrier()
    val seenBands = seen.map(_.select(col("doc_id"), explode(col("bands")).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.sig").as("sig")))

    // candidate pairs: new doc (id_a) × earlier doc (id_b) — earlier = any
    // previously-arrived doc, or a smaller-id doc of this same batch
    val aSide = freshBands.toDF("id_a", "band_a", "sig_a")
    val bFresh = freshBands.toDF("id_b", "band_b", "sig_b")
      .withColumn("__arrived", lit(false))
    val bSideRaw = seenBands.fold(bFresh)(sb =>
      sb.toDF("id_b", "band_b", "sig_b").withColumn("__arrived", lit(true))
        .unionByName(bFresh))
    // per-bucket occupancy cap on the EARLIER side (the index grows without
    // bound as batches accumulate — a degenerate boilerplate signature would
    // otherwise multiply every colliding fresh doc by the full bucket).
    // Representatives prefer already-arrived docs, then smallest id — the
    // gate only needs SOME verifying earlier candidate to reject, and the
    // boilerplate content that creates oversized buckets verifies against
    // any representative (the incrementalNearDup corpus-cap trade). The
    // rank window serializes only oversized buckets' rows (linear).
    val bSide =
      if (maxBucket == Int.MaxValue) bSideRaw
      else {
        val w = Window.partitionBy(col("band_b"), col("sig_b"))
          .orderBy(col("__arrived").desc, col("id_b"))
        bSideRaw.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= maxBucket).drop("__rn")
      }
    val cands = aSide.join(bSide,
        col("band_a") === col("band_b") && col("sig_a") === col("sig_b") &&
          (col("__arrived") || col("id_b") < col("id_a")))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_bands"))
      .barrier()

    // exact-Jaccard verify over CANDIDATE docs only: semi-filter the doc
    // tables to candidate ids BEFORE the shingle explode (the d8 contract —
    // a batch never re-pays corpus-wide shingling)
    val candIds = cands.select(col("id_a").as("__cid"))
      .unionByName(cands.select(col("id_b").as("__cid"))).distinct()
    val allDocs = seen.fold(fresh)(sn =>
      sn.select(col("doc_id"), col("text")).unionByName(fresh))
    val candDocs = allDocs.join(candIds, allDocs("doc_id") === col("__cid"), "left_semi")
    val rejected = Dedup.jaccardFor(cands,
        Dedup.shingles(candDocs, "doc_id", "text", k, dedup = false), "doc_id")
      .filter(col("jaccard") >= threshold)
      .select(col("id_a").as("doc_id")).distinct()

    val freshRows = fresh
      .join(rejected.withColumn("__rej", lit(true)), Seq("doc_id"), "left")
      .withColumn("accepted", col("__rej").isNull).drop("__rej")
      .join(freshBands.groupBy(col("doc_id"))
          .agg(collect_list(struct(col("band"), col("sig"))).as("bands")),
        Seq("doc_id"), "left")
      .withColumn("bands", coalesce(col("bands"),
        expr("CAST(array() AS ARRAY<STRUCT<band: INT, sig: STRING>>)")))
    val merged = seen.fold(freshRows)(_.unionByName(freshRows)).barrier()
    graft.core.TableSwap.commit(spark, stateDir)(merged.write.parquet(_))
  }

  /** Continuous near-dup ingest: every micro-batch of the document stream is
    * gated through [[nearDupIngestBatch]] under a checkpoint, so restarts
    * resume from the last committed batch and replays converge. */
  def nearDupIngest(stream: DataFrame, stateDir: String, ckptDir: String,
      threshold: Double, k: Int = 3, numHashes: Int = 8,
      bandSize: Int = 2,
      maxBucket: Int = graft.ops.Dedup.DefaultLshMaxBucket): StreamingQuery =
    eachBatch(stream, ckptDir)((batch, _) =>
      nearDupIngestBatch(batch, stateDir, threshold, k, numHashes, bandSize, maxBucket))

  /** Streaming append ingest with BOUNDED small files — the two-zone
    * (landing + compacted base) pattern a file-backed streaming sink needs
    * at scale, where "append one parquet file per trigger" otherwise grows
    * the table's file count without bound and per-file open/footer overhead
    * comes to dominate every downstream scan.
    *
    *  - Each micro-batch lands in its own `landing/b<id>` dir, stamped with
    *    an `ingest_batch` column and written with overwrite — a replayed
    *    batch after a crash rewrites the same dir (idempotent).
    *  - Once `mergeEvery` COMMITTED landing batches accumulate (ids below
    *    the current one — their checkpoint offsets are durable), they fold
    *    into the compacted `base` table under the TableSwap protocol. The
    *    merge anti-joins on the batch ids already present in base, so a
    *    crash between swap-commit and landing cleanup cannot double rows:
    *    the retried merge sees those ids in base and only deletes.
    *  - [[readIngested]] is the read view: base ∪ landing batches whose id
    *    is not yet in base — exactly-once visibility at every point.
    */
  def compactingIngest(stream: DataFrame, baseDir: String, ckptDir: String,
      mergeEvery: Int = 4, targetBytes: Long = 128L << 20): StreamingQuery =
    eachBatch(stream, ckptDir) { (batch, id) =>
      val spark = batch.sparkSession
      batch.withColumn("ingest_batch", lit(id))
        .write.mode("overwrite").parquet(s"$baseDir/landing/b$id")
      val committed = landingIds(spark, baseDir).filter(_ < id)
      if (committed.size >= mergeEvery)
        mergeLanding(spark, baseDir, committed, targetBytes)
    }

  private[graft] def landingIds(spark: SparkSession, baseDir: String): Seq[Long] = {
    val (fs, p) = fsOf(spark, s"$baseDir/landing")
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).map(_.getPath.getName)
      .collect { case n if n.startsWith("b") => n.drop(1).toLong }.toSeq.sorted
  }

  private[graft] def baseBatchIds(spark: SparkSession, baseDir: String): Set[Long] = {
    val (fs, p) = fsOf(spark, s"$baseDir/base")
    if (!fs.exists(p)) Set.empty
    else spark.read.parquet(s"$baseDir/base").select(col("ingest_batch"))
      .distinct().collect().map(_.getLong(0)).toSet
  }

  private[graft] def mergeLanding(spark: SparkSession, baseDir: String,
      ids: Seq[Long], targetBytes: Long): Unit = {
    graft.core.TableSwap.recover(spark, s"$baseDir/base")
    val inBase = baseBatchIds(spark, baseDir)
    val fresh = ids.filterNot(inBase)
    if (fresh.nonEmpty) {
      val landing = spark.read.parquet(fresh.map(i => s"$baseDir/landing/b$i"): _*)
      val existing =
        if (exists(spark, s"$baseDir/base")) Some(spark.read.parquet(s"$baseDir/base"))
        else None
      // size the rewrite like Tables.compact: one file per targetBytes
      val bytes = fresh.map { i =>
        val (fs, p) = fsOf(spark, s"$baseDir/landing/b$i")
        fs.listStatus(p).filter(_.isFile).map(_.getLen).sum
      }.sum + existing.fold(0L) { _ =>
        val (fs, p) = fsOf(spark, s"$baseDir/base")
        fs.listStatus(p).filter(_.isFile).map(_.getLen).sum
      }
      val target = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      val merged = existing.fold(landing)(_.unionByName(landing)).repartition(target)
      graft.core.TableSwap.commit(spark, s"$baseDir/base")(merged.write.parquet(_))
    }
    // cleanup only AFTER the ids are durably in base (swap committed above,
    // or they were already there from a pre-crash merge)
    ids.foreach { i =>
      val (fs, p) = fsOf(spark, s"$baseDir/landing/b$i")
      fs.delete(p, true)
    }
  }

  /** The exactly-once read view over [[compactingIngest]]'s two zones. */
  def readIngested(spark: SparkSession, baseDir: String): DataFrame = {
    val inBase = baseBatchIds(spark, baseDir)
    val pending = landingIds(spark, baseDir).filterNot(inBase)
      .map(i => s"$baseDir/landing/b$i")
    val parts =
      (if (exists(spark, s"$baseDir/base")) Seq(spark.read.parquet(s"$baseDir/base"))
       else Seq.empty) ++
        (if (pending.nonEmpty) Seq(spark.read.parquet(pending: _*)) else Seq.empty)
    require(parts.nonEmpty, s"nothing ingested under $baseDir")
    parts.reduce(_ unionByName _)
  }

  /** Continuous benchmark decontamination on ingest: the benchmark shingle
    * set collapses ONCE to (distinct-shingle frame, broadcast Bloom filter)
    * — `TextAnalysis.benchShingleBloom` — and every micro-batch of arriving
    * docs probes the bloom map-side, exact-verifies the survivors, and
    * upserts its per-doc report (n_shingles, n_contam, contam_ratio,
    * flagged) into `stateDir` keyed on the doc id.
    *
    * Per-doc results are independent of batching and arrival order, so the
    * committed state converges to the batch `contamination` result exactly;
    * [[mergeUpsert]]'s keyed keep-newest makes a replayed micro-batch after
    * a crash a no-op (per-doc rows are deterministic). The benchmark side
    * is paid once per STREAM, not once per batch — the build-once/apply-
    * many split that matters when the trigger fires every few seconds. */
  def decontaminateIngest(stream: DataFrame, bench: DataFrame,
      stateDir: String, ckptDir: String, k: Int = 5,
      fpp: Double = 0.01): StreamingQuery = {
    import graft.ops.TextAnalysis
    val (benchSh, bfBc) =
      TextAnalysis.benchShingleBloom(bench, "doc_id", "text", k, fpp)
    eachBatch(stream, ckptDir) { (batch, _) =>
      val report = TextAnalysis.contaminationVsBloom(
          batch, benchSh, bfBc, "doc_id", "text", k)
        .withColumn("flagged", col("n_contam") > 0)
      mergeUpsert(report, stateDir, "doc_id", "n_shingles", "n_contam")
    }
  }

  /** Streaming count-min ingest — the mergeability of t24's sketch made
    * operational: each micro-batch reduces to its OWN depth×width partial
    * counter table and lands it at `stateDir/batch_id=<id>/`. Replay-
    * idempotent BY CONSTRUCTION: a partial is a pure function of its batch,
    * and a replayed batch (foreachBatch's at-least-once) OVERWRITES the
    * same batch_id directory instead of double-adding — the commutative-
    * merge trap a single running counter table would fall into. The
    * current sketch is [[cmsMergedCounters]]: union the partials, re-SUM —
    * exactly how per-day partial sketches merge in a warehouse.
    *
    * State growth is batches × depth × width tiny rows, never corpus- or
    * vocabulary-sized; compaction is the same re-sum landed back as one
    * partial. */
  def cmsIngest(stream: DataFrame, stateDir: String, ckptDir: String,
      textCol: String = "text", depth: Int = 3,
      width: Int = 1024): StreamingQuery =
    landPartials(stream, stateDir, ckptDir) { batch =>
      import graft.ops.TextAnalysis
      TextAnalysis.cmsCountersFromSpine(
        TextAnalysis.cmsWordSpine(batch, textCol), depth, width)
    }

  /** [[eachBatch]] for the partial-landing sketch seats: each micro-batch's
    * reduction lands at `stateDir/batch_id=<id>` by overwrite, so a replayed
    * batch (foreachBatch is at-least-once) rewrites its own partial instead
    * of adding it twice. [[mergedState]] reads the partials back. */
  private def landPartials(stream: DataFrame, stateDir: String, ckptDir: String)(
      reduce: DataFrame => DataFrame): StreamingQuery =
    eachBatch(stream, ckptDir)((batch, id) =>
      reduce(batch).write.mode("overwrite").parquet(s"$stateDir/batch_id=$id"))

  /** Shared merged-state reader for the partial-landing ingest seats: read
    * every batch_id partial under `stateDir` and fold `mergeAgg` per
    * `keyCols` (each state's own merge operator — SUM for the additive
    * counter/histogram states, register-max `hll_merge` for HLL); a
    * missing state dir = an ingest that saw zero batches = the EMPTY
    * state, not an error. */
  private def mergedState(spark: SparkSession, stateDir: String,
      emptySchema: StructType, keyCols: Seq[String],
      mergeAgg: Column, moreAggs: Column*): DataFrame = {
    val parts =
      if (!exists(spark, stateDir))
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], emptySchema)
      else spark.read.parquet(stateDir)
    parts.groupBy(keyCols.map(col): _*).agg(mergeAgg, moreAggs: _*)
  }

  def cmsMergedCounters(spark: SparkSession, stateDir: String): DataFrame =
    mergedState(spark, stateDir, StructType(Seq(
        StructField("__j", IntegerType), StructField("__b", LongType),
        StructField("__cnt", LongType))),
      Seq("__j", "__b"), sum(col("__cnt")).as("__cnt"))

  /** Streaming quantile-histogram ingest — a18's deterministic mergeable
    * quantile sketch as an ingest seat, on the [[cmsIngest]]
    * partial-landing pattern: each micro-batch lands its OWN (bucket, cnt)
    * histogram partial at `stateDir/batch_id=<id>/` (a replayed batch
    * overwrites its dir — idempotent). Bucket counts are additive and the
    * bucketing is deterministic, so the merged state equals the one-pass
    * batch histogram BIT-FOR-BIT (the a18b property) — streaming ingest
    * loses nothing vs a batch rebuild. */
  def quantileIngest(stream: DataFrame, stateDir: String, ckptDir: String,
      valueCol: String = "value"): StreamingQuery =
    landPartials(stream, stateDir, ckptDir)(
      graft.ops.QuantileSketch.histogram(_, Seq.empty, valueCol))

  /** Merge the per-batch histogram partials into the current sketch state —
    * bucket-wise addition is the merge. Zero-batch ingest = empty sketch. */
  def quantileMergedHistogram(spark: SparkSession, stateDir: String): DataFrame =
    mergedState(spark, stateDir, StructType(Seq(
        StructField("bucket", IntegerType), StructField("cnt", LongType))),
      Seq("bucket"), sum(col("cnt")).as("cnt"))

  /** Streaming PCA-MOMENT ingest — the projection model's distributed
    * state (k14's exact integer moments) as the fourth mergeable ingest
    * seat next to CMS/quantile/HLL, on the same partial-landing pattern:
    * each micro-batch reduces to its OWN per-dimension (pos, n, Σq, Σq²)
    * BIGINT partial landed at `stateDir/batch_id=<id>/` (overwrite —
    * replay-idempotent, a partial is a pure function of its batch). The
    * moments are plain integer sums (the k14b merge), so the merged state
    * equals the one-pass batch moments integer-for-integer, and `Pca.fit`
    * can refresh the model from KB-sized stored partials as vectors
    * stream in — never a corpus re-scan. */
  def pcaMomentsIngest(stream: DataFrame, stateDir: String, ckptDir: String,
      vecCol: String = "embedding"): StreamingQuery =
    landPartials(stream, stateDir, ckptDir)(
      _.filter(col(vecCol).isNotNull)
        .select(posexplode(col(vecCol)).as(Seq("pos", "x")))
        .withColumn("qv", floor(col("x").cast("double") * 1024).cast("long"))
        .groupBy(col("pos"))
        .agg(count(lit(1)).as("n"), sum(col("qv")).as("m"),
          sum(col("qv") * col("qv")).as("g")))

  /** Merge the per-batch moment partials — per-dimension integer addition
    * is the merge. Zero-batch ingest = the empty moment state. */
  def pcaMergedMoments(spark: SparkSession, stateDir: String): DataFrame =
    mergedState(spark, stateDir, StructType(Seq(
        StructField("pos", IntegerType), StructField("n", LongType),
        StructField("m", LongType), StructField("g", LongType))),
      Seq("pos"), sum(col("n")).as("n"), sum(col("m")).as("m"),
      sum(col("g")).as("g"))

  /** Streaming HLL ingest — the DISTINCT-count sketch's ingest seat,
    * completing the sketch trio next to [[cmsIngest]] (counts) and
    * [[quantileIngest]] (quantiles): each micro-batch reduces to its OWN
    * per-group 256-byte `hll_state` register partial landed at
    * `stateDir/batch_id=<id>/`. Replay-idempotent TWICE over: a partial is
    * a pure function of its batch landed by overwrite (the cmsIngest
    * argument), and the register merge (element-wise max) is itself
    * idempotent — even a double-merged partial cannot change the union,
    * the property the additive CMS/quantile states do NOT have. State
    * growth is one 256-byte row per (batch, group). */
  def hllIngest(stream: DataFrame, stateDir: String, ckptDir: String,
      valueCol: String = "user_id",
      groupCol: String = "event_type"): StreamingQuery =
    landPartials(stream, stateDir, ckptDir) { batch =>
      graft.plans.HllSketch.register(batch.sparkSession)
      // null values are dropped BEFORE grouping (not just ignored by the
      // sketch update), so a group whose values are all NULL emits no
      // partial at all — pinning the group-existence semantics to the
      // oracle's `WHERE sv IS NOT NULL` exactly
      batch.filter(col(valueCol).isNotNull)
        .groupBy(col(groupCol).as("grp"))
        .agg(expr(s"hll_state(CAST($valueCol AS STRING))").as("st"))
    }

  /** Union the per-batch register partials into the current per-group
    * sketch readout — element-wise max (`hll_merge`) is the merge; sketch
    * union is exact, no error compounds. Zero-batch ingest = no groups =
    * the empty readout (not an error). Output: (grp, h struct(s_hi, s_lo,
    * zeros)) — the a4c/a4d int64-safe contract. */
  def hllMergedSketch(spark: SparkSession, stateDir: String): DataFrame = {
    graft.plans.HllSketch.register(spark)
    mergedState(spark, stateDir, StructType(Seq(
        StructField("grp", StringType), StructField("st", BinaryType))),
      Seq("grp"), expr("hll_merge(st)").as("h"))
  }

  /** Streaming CDC chunk-census ingest — t28's shift-invariant chunk
    * census as an ingest seat, on the [[cmsIngest]] partial-landing
    * pattern: each micro-batch chunks its documents and lands its OWN
    * (fingerprint → occurrences) partial at `stateDir/batch_id=<id>/`.
    * Counts are additive, so the current census is the re-summed union of
    * partials; a replayed batch (foreachBatch's at-least-once) OVERWRITES
    * its batch_id dir instead of double-counting. State is
    * distinct-chunks-sized per batch, never corpus-sized. */
  def cdcIngest(stream: DataFrame, stateDir: String, ckptDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      w: Int = 3, div: Int = 16, salt: String = "cdc"): StreamingQuery =
    landPartials(stream, stateDir, ckptDir)(
      graft.ops.TextAnalysis.cdcCensus(_, idCol, textCol, w, div, salt))

  /** Merge the per-batch partial censuses into the current chunk census —
    * summation is the merge. Zero-batch ingest = the empty census. */
  def cdcMergedCensus(spark: SparkSession, stateDir: String): DataFrame =
    mergedState(spark, stateDir, StructType(Seq(
        StructField("__h", StringType), StructField("__occ", LongType))),
      Seq("__h"), sum(col("__occ")).as("__occ"))

  /** Streaming corpus-mix drift ingest — t26's monitoring state kept
    * CURRENT between crawls: each micro-batch reduces to its own
    * (source, hashed-unigram-bucket) count partial
    * (`TextAnalysis.sourceBucketCounts` — additive, vocabulary-bounded at
    * sources × buckets rows per batch) landed at `stateDir/batch_id=<id>/`;
    * replay overwrites its own batch_id (the cmsIngest idempotence
    * discipline). The current drift report is `sourceDriftFromBuckets`
    * over [[driftMergedBuckets]] — the SAME report code as the batch path,
    * so streamed monitoring equals the batch t26 exactly and its oracle
    * carries over unchanged. */
  def driftIngest(stream: DataFrame, stateDir: String, ckptDir: String,
      srcCol: String = "source", textCol: String = "text",
      buckets: Int = 256): StreamingQuery =
    landPartials(stream, stateDir, ckptDir)(
      graft.ops.TextAnalysis.sourceBucketCounts(_, srcCol, textCol, buckets))

  /** Merge the per-batch (source, bucket) partials — counts are additive.
    * Zero-batch ingest = the empty spine. */
  def driftMergedBuckets(spark: SparkSession, stateDir: String,
      srcCol: String = "source"): DataFrame =
    mergedState(spark, stateDir, StructType(Seq(
        StructField(srcCol, StringType), StructField("__b", LongType),
        StructField("__c", LongType))),
      Seq(srcCol, "__b"), sum(col("__c")).as("__c"))

  /** Gap-based session windows per user: `session_window` keeps a window
    * open while events keep arriving within `gap` of the last one, merging
    * across micro-batches — the streaming form of `ops.Windows.sessionize`
    * (boundary nuance documented there: the window is half-open
    * [start, last+gap), so a step of exactly `gap` starts a new session). */
  def userSessions(stream: DataFrame, gap: String, lateness: String): DataFrame =
    stream.withWatermark("ts", lateness)
      .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"))

  final case class FlagState(lastPurchaseMs: Long)
  final case class FlagEvent(userId: Long, flag: String, active: Boolean, atMs: Long)

  /** Flag lifecycle with true streaming TTL (the batch twin is u1b's 14-day
    * merge filter): a purchase raises `recent_purchase` and arms an
    * event-time timeout at lastPurchase + ttl; when the WATERMARK passes it
    * with no newer purchase, the state expires and the flag-clear event is
    * emitted from the timeout callback — no scan ever revisits quiet users,
    * state size is one row per currently-flagged user. */
  def recentPurchaseFlags(spark: SparkSession, stream: DataFrame,
      ttlMs: Long): Dataset[FlagEvent] = {
    import spark.implicits._
    stream.withWatermark("ts", "0 seconds")
      .select(col("user_id"), col("event_type"), col("ts"))
      .as[(Long, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FlagState, FlagEvent](
          OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, _, state: GroupState[FlagState]) if state.hasTimedOut =>
          val out = FlagEvent(uid, "recent_purchase", active = false,
            state.get.lastPurchaseMs + ttlMs)
          state.remove()
          Iterator.single(out)
        case (uid, rows, state: GroupState[FlagState]) =>
          val purchases = rows.collect {
            case (_, "purchase", ts) => ts.getTime
          }.toSeq.sorted
          if (purchases.isEmpty) Iterator.empty
          else {
            // walk the purchase times and emit every OFF→ON edge, INCLUDING
            // gaps longer than the ttl that are bridged inside one batch
            // (the armed timeout never fires if the re-purchase arrives
            // first — the expiry must be synthesized here or it is lost)
            val out = Seq.newBuilder[FlagEvent]
            var last: Option[Long] = state.getOption.map(_.lastPurchaseMs)
            purchases.foreach { t =>
              last match {
                case None =>
                  out += FlagEvent(uid, "recent_purchase", active = true, t)
                case Some(prev) if t > prev + ttlMs =>
                  out += FlagEvent(uid, "recent_purchase", active = false, prev + ttlMs)
                  out += FlagEvent(uid, "recent_purchase", active = true, t)
                case _ => () // refresh inside the ttl window: silent
              }
              last = Some(math.max(t, last.getOrElse(Long.MinValue)))
            }
            state.update(FlagState(last.get))
            state.setTimeoutTimestamp(last.get + ttlMs)
            out.result().iterator
          }
      }
  }

  final case class UserTotals(userId: Long, n: Long, purchases: Long)

  /** Custom keyed state via mapGroupsWithState: running per-user totals —
    * the streaming seat of the flags engine's per-customer evaluation. */
  def runningUserTotals(spark: SparkSession, stream: DataFrame): Dataset[UserTotals] = {
    import spark.implicits._
    stream.select(col("user_id").as("userId"), col("event_type").as("eventType"))
      .as[(Long, String)]
      .groupByKey(_._1)
      .mapGroupsWithState[UserTotals, UserTotals](GroupStateTimeout.NoTimeout()) {
        case (uid, it, state: GroupState[UserTotals]) =>
          val prev = state.getOption.getOrElse(UserTotals(uid, 0L, 0L))
          val batch = it.toSeq
          val next = UserTotals(uid, prev.n + batch.size,
            prev.purchases + batch.count(_._2 == "purchase"))
          state.update(next)
          next
      }
  }
}
