package graft

import graft.core.Tables
import graft.streaming.Streams
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** Streaming semantics driven synchronously: parquet files feed each query via
  * a memory sink and `processAllAvailable`, and the results are reconciled
  * against the equivalent batch computation on the same data. */
class StreamsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val sf = TestSpark.data("sf0.001")

  private def batchEvents = Tables.events(spark, sf)

  test("dedupByKey keeps one row per key") {
    val q = Streams.dedupByKey(
        Tables.stream(spark, sf, "events").withColumn("dup_key", expr("event_id div 4")),
        "dup_key", "10 minutes")
      .writeStream.outputMode(OutputMode.Append).format("memory").queryName("dedup_out").start()
    q.processAllAvailable(); q.stop()
    val out = spark.table("dedup_out")
    val nKeys = batchEvents.select(expr("event_id div 4")).distinct().count()
    assert(out.count() == nKeys)
    assert(out.groupBy("dup_key").count().filter(col("count") > 1).count() == 0)
  }

  test("checkpointed file-sink stream resumes exactly-once across restarts") {
    import java.nio.file.{Files, Paths}
    val in = TestDirs("graft_ckpt_in")
    val outDir = TestDirs("graft_ckpt_out").toString
    val ckpt = TestDirs("graft_ckpt_state").toString
    val all = batchEvents.select("event_id", "user_id").orderBy("event_id")

    def startOnce(): Unit = {
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType)))
      val q = spark.readStream.schema(schema).parquet(in.toString)
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    // run 1: first half of the data
    all.filter(col("event_id") % 2 === 0)
      .write.parquet(in.resolve("part_a").toString) // a subdir won't be picked up
    Files.list(Paths.get(in.resolve("part_a").toString)).forEach { p =>
      if (p.toString.endsWith(".parquet"))
        Files.move(p, in.resolve("a_" + p.getFileName.toString))
    }
    startOnce()
    val n1 = spark.read.parquet(outDir).count()
    // run 2: second half arrives; the checkpoint must skip the already-read files
    all.filter(col("event_id") % 2 === 1)
      .write.parquet(in.resolve("part_b").toString)
    Files.list(Paths.get(in.resolve("part_b").toString)).forEach { p =>
      if (p.toString.endsWith(".parquet"))
        Files.move(p, in.resolve("b_" + p.getFileName.toString))
    }
    startOnce()
    val out = spark.read.parquet(outDir)
    assert(n1 > 0 && n1 < all.count())
    assert(out.count() == all.count()) // nothing dropped, nothing duplicated
    assert(out.select("event_id").distinct().count() == all.count())
  }

  test("session_window sessions reconcile with batch Windows.sessionize") {
    // session windows only support append mode; with zero lateness the
    // watermark reaches max(ts) and the post-batch no-data run flushes every
    // session that closed before it
    val q = Streams.userSessions(Tables.stream(spark, sf, "events"))
      .writeStream.outputMode(OutputMode.Append).format("memory").queryName("sessions").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("sessions")
      .select(col("user_id"), unix_micros(col("session_start")).as("start_us"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // batch equivalent: session_window is half-open [start, last+gap), so a
    // step of exactly gap starts a new session — maxGap = gap-1 reproduces it
    val gapUs = 30L * 60L * 1000000L
    val sessions = graft.ops.Windows.sessionize(
        batchEvents.select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us")),
        col("user_id"), col("us"), col("event_id"), gapUs - 1L)
      .groupBy(col("user_id"), col("session_no"))
      .agg(min(col("us")).as("start_us"), max(col("us")).as("last_us"),
        count(lit(1)).as("n_events"))
    val maxUs = batchEvents.agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getLong(3))
    val want = sessions.select("user_id", "start_us", "last_us", "n_events")
      .collect()
    val wantAll = want.map(key).toSet
    // sessions whose [last+gap) end is at or before the final watermark
    // MUST have been emitted (eviction is end <= watermark — pinned by
    // SessionBoundarySpec); nothing outside batch truth may ever appear
    val mustEmit = want.filter(r => r.getLong(2) + gapUs <= maxUs).map(key).toSet
    assert(got.nonEmpty)
    assert(got.subsetOf(wantAll), "every emitted session must match batch truth")
    assert(mustEmit.subsetOf(got), "every watermark-closed session must be emitted")
  }

  test("mergeUpsert refuses to reinitialize a destroyed table, and self-heals an interrupted swap") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    val root = TestDirs("graft_merge_atom").toString
    val table = s"$root/t"
    def batch(rows: (Long, Long, String)*) = rows.toDF("k", "version", "payload")
    Streams.mergeUpsert(batch((1L, 1L, "a")), table, "k", "version", "payload")
    assert(spark.read.parquet(table).count() == 1)
    assert(Files.exists(Paths.get(table + "._GRAFT_TABLE")), "commit marker written")
    // simulate a crash mid-overwrite: data dir destroyed, marker present,
    // no temp copy → the merge must ABORT, not rebuild from one micro-batch
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(table))
    val ex = intercept[RuntimeException] {
      Streams.mergeUpsert(batch((2L, 1L, "b")), table, "k", "version", "payload")
    }
    assert(ex.getMessage.contains("refusing to reinitialize"))
    // simulate a crash between aside and swap-in: complete temp copy present
    // → the merge finishes the swap, then merges the replayed batch on top
    batch((1L, 1L, "a"), (3L, 1L, "c")).write.parquet(table + "._GRAFT_TMP")
    Streams.mergeUpsert(batch((2L, 1L, "b")), table, "k", "version", "payload")
    val got = spark.read.parquet(table).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got == Map(1L -> "a", 2L -> "b", 3L -> "c"))
    // simulate a crash right after the previous table was set aside (no temp
    // copy yet): recovery must restore the aside copy, never reinitialize
    Files.move(Paths.get(table), Paths.get(table + "._GRAFT_OLD"))
    Streams.mergeUpsert(batch((4L, 1L, "d")), table, "k", "version", "payload")
    val got2 = spark.read.parquet(table).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got2 == Map(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"))
    assert(!Files.exists(Paths.get(table + "._GRAFT_OLD")), "aside copy dropped after commit")
    // keep-newest: a higher version of an existing key replaces its row
    Streams.mergeUpsert(batch((2L, 5L, "two_v5")), table, "k", "version", "payload")
    val got3 = spark.read.parquet(table).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(got3 == Map(1L -> ((1L, "a")), 2L -> ((5L, "two_v5")),
      3L -> ((1L, "c")), 4L -> ((1L, "d"))))
  }

  test("runningUserTotals accumulates keyed state across a batch") {
    val q = Streams.runningUserTotals(spark, Tables.stream(spark, sf, "events"))
      .writeStream.outputMode(OutputMode.Update).format("memory").queryName("totals").start()
    q.processAllAvailable(); q.stop()
    // Latest state per user must equal the batch per-user counts.
    val latest = spark.table("totals")
      .groupBy("userId").agg(max("n").as("n"), max("purchases").as("purchases"))
    val want = batchEvents.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("purchases"))
    val joined = latest.join(want, latest("userId") === want("user_id"))
      .filter(latest("n") =!= want("n") || latest("purchases") =!= want("purchases"))
    assert(latest.count() == want.count())
    assert(joined.count() == 0)
  }

  test("compactingIngest bounds file count and survives the crash windows") {
    import java.nio.file.Files
    val in = TestDirs("graft_ci_in")
    val base = TestDirs("graft_ci_base").toString + "/tbl"
    val ckpt = TestDirs("graft_ci_ckpt").toString
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text", "lang", "source", "n_chars").localCheckpoint(true)
    // six waves, one file each; maxFilesPerTrigger=1 → six micro-batches
    (0 until 6).foreach { w =>
      val sub = in.resolve(s"w$w")
      docs.filter(col("doc_id") % 6 === w).coalesce(1).write.parquet(sub.toString)
      Files.list(sub).forEach { p =>
        if (p.toString.endsWith(".parquet"))
          Files.move(p, in.resolve(s"w${w}_" + p.getFileName.toString))
      }
    }
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .option("maxFilesPerTrigger", 1).parquet(in.toString)
    Streams.compactingIngest(stream, base, ckpt)

    def canon(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_id", "n_chars").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = canon(docs)
    assert(canon(Streams.readIngested(spark, base)) == want)
    // merged base exists, is compact (one file at this size), and landing
    // holds only the tail batches
    val baseFiles = new java.io.File(s"$base/base").listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(baseFiles == 1, s"base should be compacted to 1 file, got $baseFiles")
    val pending = Streams.landingIds(spark, base)
    assert(pending.nonEmpty && pending.size < 4, s"landing tail: $pending")
    assert(Streams.baseBatchIds(spark, base) == Set(0L, 1L, 2L, 3L))

    // crash window 1: cleanup failed after a committed merge — a stale
    // landing dir whose id is already in base must not double rows
    docs.filter(col("doc_id") % 6 === 2).withColumn("ingest_batch", lit(2L))
      .write.mode("overwrite").parquet(s"$base/landing/b2")
    assert(canon(Streams.readIngested(spark, base)) == want)
    // ...and the retried merge only cleans it up
    Streams.mergeLanding(spark, base, Seq(2L))
    assert(!new java.io.File(s"$base/landing/b2").exists())
    assert(canon(Streams.readIngested(spark, base)) == want)

    // crash window 2: a replayed tail batch overwrites its own landing dir
    // with the same content (file→batch assignment order is the stream's)
    val tail = pending.head
    val replayed = spark.read.parquet(s"$base/landing/b$tail").localCheckpoint(true)
    replayed.write.mode("overwrite").parquet(s"$base/landing/b$tail")
    assert(canon(Streams.readIngested(spark, base)) == want)
  }

  test("decontaminateIngest resumes across restarts and equals the batch gate") {
    import java.nio.file.Files
    import graft.ops.TextAnalysis
    val in = TestDirs("graft_dc_in")
    val tbl = Files.createDirectories(in.resolve("documents.parquet"))
    val state = TestDirs("graft_dc_state").toString + "/t"
    val ckpt = TestDirs("graft_dc_ckpt").toString
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text", "lang", "source", "n_chars").localCheckpoint(true)
    val bench = docs.filter(col("doc_id") % 97 === 0)
    val train = docs.filter(col("doc_id") % 97 =!= 0)
    def arrive(tag: String, part: org.apache.spark.sql.DataFrame): Unit = {
      val sub = in.resolve(tag)
      part.coalesce(1).write.parquet(sub.toString)
      Files.list(sub).forEach { p =>
        if (p.toString.endsWith(".parquet"))
          Files.move(p, tbl.resolve(tag + "_" + p.getFileName.toString))
      }
    }
    def runOnce(): Unit =
      Streams.decontaminateIngest(
        Tables.stream(spark, in.toString, "documents")
          .filter(col("doc_id") % 97 =!= 0),
        bench, state, ckpt)

    def canon(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_id", "n_shingles", "n_contam", "contam_ratio")
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val want = canon(TextAnalysis.contamination(train, bench, "doc_id", "text", 5))

    val mid = 250L
    arrive("a", docs.filter(col("doc_id") < mid))
    runOnce()
    val n1 = spark.read.parquet(state).count()
    assert(n1 > 0 && n1 < want.size, "first wave only")
    arrive("b", docs.filter(col("doc_id") >= mid))
    runOnce()
    assert(canon(spark.read.parquet(state)) == want)

    // replayed batch after a crash mid-commit: keyed upsert is a no-op
    val report = TextAnalysis.contaminationBloom(
        train.filter(col("doc_id") < mid), bench, "doc_id", "text", 5)
      .withColumn("flagged", col("n_contam") > 0)
    Streams.mergeUpsert(report, state, "doc_id", "n_shingles", "n_contam")
    assert(canon(spark.read.parquet(state)) == want)
  }

  test("nearDupIngest resumes across restarts and matches the batch gate") {
    import java.nio.file.Files
    import graft.ops.Dedup
    val in = TestDirs("graft_nd_in")
    val tbl = Files.createDirectories(in.resolve("documents.parquet"))
    val state = TestDirs("graft_nd_state").toString + "/t"
    val ckpt = TestDirs("graft_nd_ckpt").toString
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text", "lang", "source", "n_chars").localCheckpoint(true)
    val mid = 250L
    def arrive(tag: String, part: org.apache.spark.sql.DataFrame): Unit = {
      val sub = in.resolve(tag)
      part.coalesce(1).write.parquet(sub.toString)
      Files.list(sub).forEach { p =>
        if (p.toString.endsWith(".parquet"))
          Files.move(p, tbl.resolve(tag + "_" + p.getFileName.toString))
      }
    }
    def runOnce(): Unit =
      Streams.nearDupIngest(Tables.stream(spark, in.toString, "documents"),
        state, ckpt)

    // wave 1: first half by doc_id; wave 2 arrives after a restart — id-
    // ordered arrival, so the gate must equal the batch smaller-id pair rule
    arrive("a", docs.filter(col("doc_id") < mid))
    runOnce()
    val n1 = spark.read.parquet(state).count()
    assert(n1 > 0 && n1 < docs.count(), "first wave only")
    arrive("b", docs.filter(col("doc_id") >= mid))
    runOnce()
    val got = spark.read.parquet(state)
    assert(got.count() == docs.count(), "every doc seen exactly once")
    val gotAccepted = got.filter(col("accepted")).select("doc_id")
      .collect().map(_.getLong(0)).toSet

    // batch reference: doc rejected iff some lshCandidates pair with a
    // smaller-id doc verifies at exact Jaccard >= 0.5
    val bands = Dedup.lshBands(Dedup.minhash(
      Dedup.shingles(docs, "doc_id", "text", 3, dedup = false), "doc_id", 8),
      "doc_id", 2, 8)
    val rejected = Dedup.jaccardFor(Dedup.lshCandidates(bands, "doc_id"),
        Dedup.shingles(docs, "doc_id", "text", 3), "doc_id")
      .filter(col("jaccard") >= 0.5)
      .select("id_b").collect().map(_.getLong(0)).toSet
    val wantAccepted = docs.select("doc_id").collect().map(_.getLong(0)).toSet -- rejected
    assert(gotAccepted == wantAccepted)

    // replay idempotence: re-merging an already-seen batch is a no-op (the
    // foreachBatch at-least-once contract after a crash mid-commit)
    Streams.nearDupIngestBatch(docs.filter(col("doc_id") < mid), state, 0.5)
    val replayed = spark.read.parquet(state)
    assert(replayed.count() == docs.count())
    assert(replayed.filter(col("accepted")).select("doc_id")
      .collect().map(_.getLong(0)).toSet == wantAccepted)
  }

  test("nearDupIngestBatch maxBucket: boilerplate storm still rejected via representatives") {
    import spark.implicits._
    val state = TestDirs("graft_nd_cap_state").toString + "/t"
    val boiler = "the same boilerplate paragraph repeated across many pages " * 3
    // wave 1: 40 identical docs — the degenerate one-signature bucket
    val wave1 = (100L until 140L).map(i => (i, boiler)).toDF("doc_id", "text")
    Streams.nearDupIngestBatch(wave1, state, 0.5, maxBucket = 4)
    val s1 = spark.read.parquet(state)
    assert(s1.count() == 40)
    // min-id doc accepted; every later boilerplate copy rejected even though
    // the bucket was capped at 4 — representatives carry the connectivity
    assert(s1.filter(col("accepted")).select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(100L))
    // wave 2: one more boilerplate copy + one genuinely fresh doc, against
    // the CAPPED persisted index
    val wave2 = Seq((200L, boiler),
      (201L, "a completely different unique document text here"))
      .toDF("doc_id", "text")
    Streams.nearDupIngestBatch(wave2, state, 0.5, maxBucket = 4)
    val s2 = spark.read.parquet(state)
    assert(s2.count() == 42)
    val acc2 = s2.filter(col("accepted")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(acc2 == Set(100L, 201L), s"got $acc2")
  }

  test("cmsIngest partial sketches merge to the batch sketch; replay overwrites") {
    import java.nio.file.Files
    import graft.ops.TextAnalysis
    val in = TestDirs("graft_cms_in")
    val tbl = Files.createDirectories(in.resolve("documents.parquet"))
    val state = TestDirs("graft_cms_state").toString + "/t"
    val ckpt = TestDirs("graft_cms_ckpt").toString
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text", "lang", "source", "n_chars").localCheckpoint(true)
    def arrive(tag: String, part: org.apache.spark.sql.DataFrame): Unit = {
      val sub = in.resolve(tag)
      part.coalesce(1).write.parquet(sub.toString)
      Files.list(sub).forEach { p =>
        if (p.toString.endsWith(".parquet"))
          Files.move(p, tbl.resolve(tag + "_" + p.getFileName.toString))
      }
    }
    def counters(d: org.apache.spark.sql.DataFrame) =
      d.select("__j", "__b", "__cnt").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val want = counters(TextAnalysis.cmsCountersFromSpine(
      TextAnalysis.cmsWordSpine(docs, "text")))

    // two arrival waves → two micro-batches → two partial sketches
    val mid = 250L
    arrive("a", docs.filter(col("doc_id") < mid))
    Streams.cmsIngest(Tables.stream(spark, in.toString, "documents"),
      state, ckpt)
    val partials1 = spark.read.parquet(state)
      .select("batch_id").distinct().count()
    arrive("b", docs.filter(col("doc_id") >= mid))
    Streams.cmsIngest(Tables.stream(spark, in.toString, "documents"),
      state, ckpt)
    assert(spark.read.parquet(state)
      .select("batch_id").distinct().count() > partials1)
    assert(counters(Streams.cmsMergedCounters(spark, state)) == want,
      "merged partials must equal the one-shot batch sketch")

    // crash-replay of a batch: the partial is a pure function of the batch
    // and lands by OVERWRITE of its batch_id dir, so re-running it cannot
    // double-add
    TextAnalysis.cmsCountersFromSpine(
        TextAnalysis.cmsWordSpine(docs.filter(col("doc_id") < mid), "text"))
      .write.mode("overwrite").parquet(s"$state/batch_id=0")
    assert(counters(Streams.cmsMergedCounters(spark, state)) == want)
  }

  test("quantileIngest partial histograms merge to the batch sketch; replay overwrites") {
    import java.nio.file.Files
    import graft.ops.QuantileSketch
    val in = TestDirs("graft_qs_in")
    val tbl = Files.createDirectories(in.resolve("events.parquet"))
    val state = TestDirs("graft_qs_state").toString + "/t"
    val ckpt = TestDirs("graft_qs_ckpt").toString
    val ev = Tables.events(spark, sf)
      .filter(col("value").isNotNull && col("value") >= 0).localCheckpoint(true)
    def arrive(tag: String, part: org.apache.spark.sql.DataFrame): Unit = {
      val sub = in.resolve(tag)
      part.coalesce(1).write.parquet(sub.toString)
      Files.list(sub).forEach { p =>
        if (p.toString.endsWith(".parquet"))
          Files.move(p, tbl.resolve(tag + "_" + p.getFileName.toString))
      }
    }
    def hist(d: org.apache.spark.sql.DataFrame) =
      d.select("bucket", "cnt").collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSet
    val want = hist(QuantileSketch.histogram(ev, Seq.empty, "value"))

    // zero-batch ingest reads as the EMPTY sketch, not an error
    assert(Streams.quantileMergedHistogram(spark, state).count() == 0)

    val mid = 500L
    arrive("a", ev.filter(col("event_id") < mid))
    Streams.quantileIngest(Tables.stream(spark, in.toString, "events")
        .filter(col("value").isNotNull && col("value") >= 0), state, ckpt)
    val partials1 = spark.read.parquet(state)
      .select("batch_id").distinct().count()
    arrive("b", ev.filter(col("event_id") >= mid))
    Streams.quantileIngest(Tables.stream(spark, in.toString, "events")
        .filter(col("value").isNotNull && col("value") >= 0), state, ckpt)
    assert(spark.read.parquet(state)
      .select("batch_id").distinct().count() > partials1)
    assert(hist(Streams.quantileMergedHistogram(spark, state)) == want,
      "merged partials must equal the one-pass batch histogram bit-for-bit")

    // crash-replay: the partial is a pure function of the batch, landed by
    // OVERWRITE of its batch_id dir — re-running cannot double-count
    QuantileSketch.histogram(ev.filter(col("event_id") < mid), Seq.empty, "value")
      .write.mode("overwrite").parquet(s"$state/batch_id=0")
    assert(hist(Streams.quantileMergedHistogram(spark, state)) == want)
  }

  test("driftIngest partial spines merge to the batch spine; replay overwrites") {
    import java.nio.file.Files
    import graft.ops.TextAnalysis
    val in = TestDirs("graft_drift_in")
    val tbl = Files.createDirectories(in.resolve("documents.parquet"))
    val state = TestDirs("graft_drift_state").toString + "/t"
    val ckpt = TestDirs("graft_drift_ckpt").toString
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text", "lang", "source", "n_chars").localCheckpoint(true)
    def arrive(tag: String, part: org.apache.spark.sql.DataFrame): Unit = {
      val sub = in.resolve(tag)
      part.coalesce(1).write.parquet(sub.toString)
      Files.list(sub).forEach { p =>
        if (p.toString.endsWith(".parquet"))
          Files.move(p, tbl.resolve(tag + "_" + p.getFileName.toString))
      }
    }
    def spine(d: org.apache.spark.sql.DataFrame) =
      d.select("source", "__b", "__c").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = spine(TextAnalysis.sourceBucketCounts(docs, "source", "text"))

    val mid = 250L
    arrive("a", docs.filter(col("doc_id") < mid))
    Streams.driftIngest(Tables.stream(spark, in.toString, "documents"),
      state, ckpt)
    arrive("b", docs.filter(col("doc_id") >= mid))
    Streams.driftIngest(Tables.stream(spark, in.toString, "documents"),
      state, ckpt)
    assert(spine(Streams.driftMergedBuckets(spark, state)) == want,
      "merged partials must equal the one-shot batch spine")

    // the report off the merged spine equals batch t26 row-for-row
    def report(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getBoolean(5))).toSet
    assert(
      report(TextAnalysis.sourceDriftFromBuckets(
        Streams.driftMergedBuckets(spark, state).localCheckpoint(true), "source")) ==
      report(TextAnalysis.sourceDrift(docs, "source", "text")))

    // crash-replay: re-landing batch 0's partial cannot double-add
    TextAnalysis.sourceBucketCounts(
        docs.filter(col("doc_id") < mid), "source", "text")
      .write.mode("overwrite").parquet(s"$state/batch_id=0")
    assert(spine(Streams.driftMergedBuckets(spark, state)) == want)
  }

  test("cdcIngest partial censuses merge to the batch census; replay overwrites") {
    import java.nio.file.Files
    import graft.ops.TextAnalysis
    val in = TestDirs("graft_cdc_in")
    val tbl = Files.createDirectories(in.resolve("documents.parquet"))
    val state = TestDirs("graft_cdc_state").toString + "/t"
    val ckpt = TestDirs("graft_cdc_ckpt").toString
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text", "lang", "source", "n_chars").localCheckpoint(true)
    def arrive(tag: String, part: org.apache.spark.sql.DataFrame): Unit = {
      val sub = in.resolve(tag)
      part.coalesce(1).write.parquet(sub.toString)
      Files.list(sub).forEach { p =>
        if (p.toString.endsWith(".parquet"))
          Files.move(p, tbl.resolve(tag + "_" + p.getFileName.toString))
      }
    }
    def census(d: org.apache.spark.sql.DataFrame) =
      d.select("__h", "__occ").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
    val want = census(TextAnalysis.cdcCensus(docs, "doc_id", "text"))

    val mid = 250L
    arrive("a", docs.filter(col("doc_id") < mid))
    Streams.cdcIngest(Tables.stream(spark, in.toString, "documents"),
      state, ckpt)
    arrive("b", docs.filter(col("doc_id") >= mid))
    Streams.cdcIngest(Tables.stream(spark, in.toString, "documents"),
      state, ckpt)
    assert(census(Streams.cdcMergedCensus(spark, state)) == want,
      "merged partial censuses must equal the one-shot batch census")
    // per-doc rollup against the merged census == the pure-batch t28 stats
    val statsStream = TextAnalysis.cdcChunkStatsFromCensus(
        TextAnalysis.cdcChunkInstances(docs, "doc_id", "text"),
        Streams.cdcMergedCensus(spark, state), "doc_id")
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    val statsBatch = TextAnalysis.cdcChunkStats(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(statsStream == statsBatch)
    // crash-replay: the partial lands by OVERWRITE of its batch_id dir
    TextAnalysis.cdcCensus(docs.filter(col("doc_id") < mid), "doc_id", "text")
      .write.mode("overwrite").parquet(s"$state/batch_id=0")
    assert(census(Streams.cdcMergedCensus(spark, state)) == want)
    // zero-batch ingest reads as the empty census, not an error
    assert(Streams.cdcMergedCensus(spark, state + "_nope").count() == 0)
  }

  test("hllIngest register partials merge to the batch sketch; double-merge is a no-op") {
    import java.nio.file.Files
    graft.plans.HllSketch.register(spark)
    val in = TestDirs("graft_hll_in")
    val tbl = Files.createDirectories(in.resolve("events.parquet"))
    val state = TestDirs("graft_hll_state").toString + "/t"
    val ckpt = TestDirs("graft_hll_ckpt").toString
    val ev = Tables.events(spark, sf)
      .localCheckpoint(true)
    def arrive(tag: String, part: org.apache.spark.sql.DataFrame): Unit = {
      val sub = in.resolve(tag)
      part.coalesce(1).write.parquet(sub.toString)
      Files.list(sub).forEach { p =>
        if (p.toString.endsWith(".parquet"))
          Files.move(p, tbl.resolve(tag + "_" + p.getFileName.toString))
      }
    }
    def readout(d: org.apache.spark.sql.DataFrame, h: String) =
      d.select(col("grp"), col(s"$h.s_hi"), col(s"$h.s_lo"), col(s"$h.zeros"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getInt(3)))).toMap
    val want = readout(ev.groupBy(col("event_type").as("grp"))
      .agg(expr("hll_sketch(CAST(user_id AS STRING))").as("h")), "h")

    val mid = ev.agg(expr("percentile_approx(event_id, 0.5)")).head.getLong(0)
    arrive("a", ev.filter(col("event_id") < mid))
    Streams.hllIngest(Tables.stream(spark, in.toString, "events"),
      state, ckpt)
    arrive("b", ev.filter(col("event_id") >= mid))
    Streams.hllIngest(Tables.stream(spark, in.toString, "events"),
      state, ckpt)
    assert(readout(Streams.hllMergedSketch(spark, state), "h") == want,
      "merged register partials must equal the one-shot batch sketch")

    // register max is IDEMPOTENT: merging a partial twice (the crash window
    // an additive state cannot survive) still cannot change the union
    spark.read.parquet(s"$state/batch_id=0")
      .write.mode("overwrite").parquet(s"$state/batch_id=99")
    assert(readout(Streams.hllMergedSketch(spark, state), "h") == want)
    // zero-batch ingest reads as the empty readout, not an error
    assert(Streams.hllMergedSketch(spark, state + "_nope").count() == 0)
  }
}
