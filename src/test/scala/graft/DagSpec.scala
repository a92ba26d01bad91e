package graft

import graft.pipeline.{Dag, Job}
import org.scalatest.funsuite.AnyFunSuite

class DagSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("jobs run in dependency order; failures poison dependents only") {
    val ran = scala.collection.mutable.ArrayBuffer.empty[String]
    val dag = new Dag(Seq(
      Job("a", Nil, _ => ran += "a"),
      Job("b", Seq("a"), _ => { ran += "b"; throw new RuntimeException("boom") }),
      Job("c", Seq("b"), _ => ran += "c"),      // skipped (b failed)
      Job("d", Seq("a"), _ => ran += "d"),      // independent of b — runs
      Job("e", Seq("c", "d"), _ => ran += "e")  // skipped (c skipped)
    ))
    val results = dag.runParallel(spark, parallelism = 1).map(r => r.name -> r.status).toMap
    assert(ran.toSeq == Seq("a", "b", "d"))
    assert(results == Map("a" -> "ok", "b" -> "failed", "c" -> "skipped",
      "d" -> "ok", "e" -> "skipped"))
  }

  test("DailyPipeline declares a well-formed warehouse DAG with the report marts") {
    val jobs = graft.pipeline.DailyPipeline.jobs("/root/testdata/sf0.001", "/tmp/never_run")
    val names = jobs.map(_.name)
    assert(names.distinct.length == names.length, "duplicate job names")
    assert(names.length >= 30, s"expected >= 30 warehouse jobs, got ${names.length}")
    // every declared dependency must be a declared job (no dangling lineage)
    val dangling = jobs.flatMap(j => j.deps.filterNot(names.contains).map(j.name -> _))
    assert(dangling.isEmpty, s"deps on undeclared jobs: $dangling")
    // the wide customer master (cm1) is the warehouse's customer_master,
    // and the flag run is downstream of it (the reference's read order)
    assert(names.contains("customer_master"))
    assert(jobs.find(_.name == "customer_flags").get.deps.contains("customer_master"))
    // the round-4 report marts are present, with leads consuming the
    // materialized latest_events
    assert(Set("latest_events", "leads_table", "new_members", "contact_preferences")
      .subsetOf(names.toSet))
    // leads consumes the materialized latest_events AND the date-partitioned
    // fact (its trailing-180d rollup reads prune on event_date)
    assert(jobs.find(_.name == "leads_table").get.deps ==
      Seq("latest_events", "events_fact"))
    assert(jobs.find(_.name == "new_members").get.deps == Seq("events_fact"))
    // training-data marts: splits feed the training order (real lineage)
    assert(Set("corpus_splits", "training_order", "embedding_dedup_clusters",
      "incremental_dedup_report").subsetOf(names.toSet))
    assert(jobs.find(_.name == "corpus_splits").get.deps == Seq("curated_corpus"))
    assert(jobs.find(_.name == "training_order").get.deps == Seq("corpus_splits"))
    // tokenizer + retrieval index are built FROM the curated corpus (the
    // gates run before induction/indexing)
    assert(jobs.find(_.name == "bpe_merge_table").get.deps == Seq("curated_corpus"))
    assert(jobs.find(_.name == "passage_index").get.deps == Seq("curated_corpus"))
    // encoding consumes the STORED tokenizer, not a re-learned one
    assert(jobs.find(_.name == "corpus_token_counts").get.deps ==
      Seq("curated_corpus", "bpe_merge_table"))
    // the experiment readout is downstream of the flag run that logs entries
    assert(jobs.find(_.name == "experiment_results").get.deps ==
      Seq("customer_flags"))
    // the CRM question queue reads the materialized master + family evidence
    assert(jobs.find(_.name == "data_questions").get.deps ==
      Seq("customer_master", "family_edges"))
    // model-eval AND calibration both consume the one materialized scores
    // mart — training runs once, not once per consumer
    assert(jobs.find(_.name == "nb_model_eval").get.deps == Seq("nb_quality_scores"))
    assert(jobs.find(_.name == "nb_calibration").get.deps == Seq("nb_quality_scores"))
    // quantile report answers FROM the stored daily states (the a18b
    // lifecycle as lineage); the winnow index runs over the curated corpus
    assert(jobs.find(_.name == "value_quantile_report").get.deps ==
      Seq("value_quantile_daily"))
    assert(jobs.find(_.name == "winnow_fp_index").get.deps == Seq("curated_corpus"))
    assert(names.contains("customer_priority_history"))
    // embedding health pair + CDC census + weighted sample are declared marts
    assert(Set("embedding_outliers", "cluster_quality", "cdc_chunk_report",
      "corpus_weighted_sample").subsetOf(names.toSet))
    // acyclic: Kahn's peeling must consume every job
    var remaining = jobs.map(j => j.name -> j.deps.toSet).toMap
    while (remaining.nonEmpty && remaining.exists(_._2.isEmpty)) {
      val ready = remaining.filter(_._2.isEmpty).keySet
      remaining = (remaining -- ready).view.mapValues(_ -- ready).toMap
    }
    assert(remaining.isEmpty, s"dependency cycle among: ${remaining.keys}")
  }

  test("runParallel: same statuses as sequential, independent jobs overlap") {
    val gate = new java.util.concurrent.CountDownLatch(2)
    def meet(): Unit = { // both must be in-flight simultaneously to pass
      gate.countDown()
      assert(gate.await(10, java.util.concurrent.TimeUnit.SECONDS),
        "independent jobs did not run concurrently")
    }
    val dag = new Dag(Seq(
      Job("a", Nil, _ => ()),
      Job("b", Seq("a"), _ => meet()),
      Job("c", Seq("a"), _ => meet()),
      Job("x", Seq("a"), _ => throw new RuntimeException("boom")),
      Job("y", Seq("x"), _ => ())))
    val results = dag.runParallel(spark, parallelism = 4)
      .map(r => r.name -> r.status).toMap
    assert(results == Map("a" -> "ok", "b" -> "ok", "c" -> "ok",
      "x" -> "failed", "y" -> "skipped"))
  }

  test("runParallel: a job starts once its deps finish, not when an unrelated sibling does") {
    // `slow` holds its slot until `b` has finished or 10 s have passed; a
    // scheduler that held `b` behind `slow` (a wave barrier) times it out
    val bDone = new java.util.concurrent.CountDownLatch(1)
    @volatile var slowSawB = false
    val dag = new Dag(Seq(
      Job("slow", Nil, _ => slowSawB = bDone.await(10, java.util.concurrent.TimeUnit.SECONDS)),
      Job("a", Nil, _ => ()),
      Job("b", Seq("a"), _ => bDone.countDown())))
    val results = dag.runParallel(spark, parallelism = 2)
    assert(results.map(r => r.name -> r.status) ==
      Seq("slow" -> "ok", "a" -> "ok", "b" -> "ok"))
    assert(slowSawB, "b did not start and finish while slow was still blocked")
  }

  test("a DailyPipeline job body that reads an undeclared table fails, naming it") {
    val out = TestDirs("graft_dag_deps").toString
    val wh = new graft.pipeline.Warehouse(TestSpark.data("sf0.001"), out)
    val dag = new Dag(Seq(
      wh.job("a")((s, t) => t.write("a", s.range(3).toDF("k"))),
      wh.job("b", Seq("a"))((_, t) => t.write("b", t.read("a"))),
      // `b` is on disk when `c` runs (one slot, declaration order), but `c`
      // never declared it
      wh.job("c", Seq("a"))((_, t) => t.write("c", t.read("b")))))
    val rs = dag.runParallel(spark, parallelism = 1).map(r => r.name -> r).toMap
    assert(rs("a").status == "ok" && rs("b").status == "ok")
    assert(rs("c").status == "failed")
    assert(rs("c").error.exists(e => e.contains("job c") && e.contains("table b")),
      rs("c").error)
    assert(!new java.io.File(s"$out/c").exists())
  }

  test("runParallel: two heavy-class jobs never co-schedule") {
    // round-10 lesson: two simhash pair builds running at once OOM'd
    // the 32-thread JVM at sf10 — the Dag's memory-class admission must make
    // that combination impossible regardless of the dependency shape.
    val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxInFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    def heavyBody(): Unit = {
      val n = inFlight.incrementAndGet()
      maxInFlight.getAndUpdate(m => math.max(m, n))
      Thread.sleep(50) // widen the overlap window
      inFlight.decrementAndGet()
    }
    val dag = new Dag(Seq(
      Job("h1", Nil, _ => heavyBody(), heavy = true),
      Job("h2", Nil, _ => heavyBody(), heavy = true),
      Job("h3", Nil, _ => heavyBody(), heavy = true),
      Job("l1", Nil, _ => ()),
      Job("l2", Seq("l1"), _ => ()),
      // a heavy job with a FAILED upstream is a no-op skip — it must not
      // hold a heavy slot (nor hold back other jobs) while being poisoned
      Job("x", Nil, _ => throw new RuntimeException("boom")),
      Job("h4", Seq("x"), _ => heavyBody(), heavy = true)))
    val results = dag.runParallel(spark, parallelism = 8)
      .map(r => r.name -> r.status).toMap
    assert(results == Map("h1" -> "ok", "h2" -> "ok", "h3" -> "ok",
      "l1" -> "ok", "l2" -> "ok", "x" -> "failed", "h4" -> "skipped"))
    assert(maxInFlight.get() == 1,
      s"heavy jobs co-scheduled: max ${maxInFlight.get()} in flight")
  }

  test("DailyPipeline tags every pair-machinery job heavy") {
    // the memory-class policy only protects jobs that DECLARE the class —
    // pin the tag on the known candidate-pair-scale plans so a retag slip
    // (or a new pair build landing untagged next to these) is a red test,
    // not an sf10 OOM midway through a nightly run
    val heavy = graft.pipeline.DailyPipeline
      .jobs("/root/testdata/sf0.001", "/tmp/never_run")
      .filter(_.heavy).map(_.name).toSet
    assert(Set("soft_dedup_weights", "dup_clustering_report",
      "embedding_dedup_clusters", "neardup_candidate_queue",
      "dup_farm_report", "incremental_dedup_report",
      "source_overlap_matrix").subsetOf(heavy),
      s"missing heavy tags; tagged: $heavy")
  }

  test("cycles and unknown deps are rejected at construction") {
    intercept[IllegalArgumentException] {
      new Dag(Seq(Job("a", Seq("missing"), _ => ())))
    }
    intercept[IllegalArgumentException] {
      new Dag(Seq(Job("a", Seq("b"), _ => ()), Job("b", Seq("a"), _ => ())))
    }
  }

  test("a cyclic DAG runs no job body, not even an independent one") {
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    val e = intercept[IllegalArgumentException] {
      new Dag(Seq(
        Job("free", Nil, _ => ran.incrementAndGet()),
        Job("a", Seq("free", "b"), _ => ran.incrementAndGet()),
        Job("b", Seq("a"), _ => ran.incrementAndGet()))).runParallel(spark)
    }
    assert(e.getMessage.contains("dependency cycle among: a,b"))
    assert(ran.get() == 0)
  }
}
