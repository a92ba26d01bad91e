package graft.pipeline

import graft.core.{Session, Sizing, Tables}
import graft.queries.Registry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The engine's EP1-shaped daily batch: materialize the warehouse's derived
  * tables from the raw tables in dependency order (SURVEY.md §3 EP1).
  * Each output table is one declared query; writes are full-overwrite parquet
  * exactly like the reference's whole-object S3 puts.
  *
  * Runnable: `runMain graft.pipeline.DailyPipeline <sfDir> <outDir>` */
object DailyPipeline {

  /** The warehouse build: raw → facts → derived reports → dashboard marts. */
  def jobs(sfDir: String, outDir: String): Seq[Job] = {
    val warehouse = new Warehouse(sfDir, outDir)
    import warehouse.job
    // the registry query is resolved here, so a mistyped name fails the
    // declaration rather than the run
    def materialize(query: String, table: String, deps: Seq[String] = Nil,
        heavy: Boolean = false): Job = {
      val q = Registry.named(query)
      job(table, deps, heavy)((s, t) => t.write(table, q.run(s, sfDir)))
    }

    Seq(
      materialize("o2_union_align", "combined_transactions"),
      materialize("a1_multi_agg", "customer_order_stats"),
      // the wide master (cm1): the reference's most-consumed table
      // (`build_customer_master.py:28-570`); j1's slim join-stats survive
      // inside it as n_orders/total_spend
      materialize("cm1_customer_master", "customer_master", Seq("customer_order_stats")),
      materialize("u1_flag_rules", "customer_flags", Seq("customer_master")),
      materialize("j6_proximity_pairs", "customer_interactions"),
      materialize("a16_edge_rollup", "customer_connections", Seq("customer_interactions")),
      materialize("a7_cohort_matrix", "conversion_cohorts"),
      // the conversion funnel pair (`build_conversion_rate_analysis.py`):
      // per-visit enrichment, then the cohort rollup chained from it
      materialize("cv1_enriched_visits", "day_pass_visits_enriched"),
      // A/B experiment readout: entries come from flag runs, so the mart
      // sits downstream of the materialized flag table (the reference
      // logs entries from the same runs that write flags)
      materialize("ab1_experiment_results", "experiment_results",
        Seq("customer_flags")),
      // the experiment-entry LEDGER the readouts analyze (`experiment_
      // tracking.py:15-103`'s accumulating CSV at the (customer,
      // experiment) grain): same flag-run provenance as ab1, so it sits
      // downstream of the materialized flag table too. Distinct from the
      // `experiment_entries` offer-flag log: that mart records the 2wk-offer
      // flag emissions; this one is the reference's dedup'd entry REGISTER.
      materialize("ab2_entry_ledger", "experiment_entry_ledger",
        Seq("customer_flags")),
      // per-experiment journey progress over the ledger's entrants —
      // reference read order: the journey audit runs after the ledger lands
      materialize("ab3_experiment_journeys", "experiment_journeys",
        Seq("experiment_entry_ledger")),
      // billing health: payment-failure rates by membership category
      // (`process_failed_payments.py:38-151`)
      materialize("rp6_failed_payment_rates", "failed_payment_rates"),
      // QuickBooks expense mart: category map + monthly rollup
      // (`categorize_expenses.py:40-143`)
      materialize("rp7_expense_categories", "expense_categories"),
      // the CRM review queue: health questions over the master + family
      // evidence, so it runs after both are materialized
      materialize("dq1_data_questions", "data_questions",
        Seq("customer_master", "family_edges")),
      // the Deequ-style publish gate over the raw tables — first in spirit,
      // no deps: constraint violations surface even if mart jobs fail
      materialize("dq2_constraint_report", "constraint_report"),
      // the health-tab freshness monitor (`dashboard/system_health.py`):
      // per-source staleness + flag-run recency + error surfacing — like
      // dq2, no deps, so arrival problems surface even when marts fail
      materialize("dq3_freshness_report", "freshness_report"),
      materialize("cv2_conversion_cohorts", "conversion_funnel",
        Seq("day_pass_visits_enriched")),
      materialize("j4_interval_active", "daily_active_timeline"),
      materialize("ep3_revenue_dashboard", "revenue_dashboard", Seq("combined_transactions")),
      materialize("a13_risk_buckets", "at_risk_members", Seq("customer_master")),
      materialize("u1b_flag_lifecycle", "customer_flags_lifecycle", Seq("customer_flags")),
      materialize("u2_identity_components", "identity_map"),
      // customer-grain variant: customers with orders but zero event
      // activity of any kind (the j10 semi+anti composite)
      materialize("j10_semi_anti", "ordered_never_active"),
      // high-priority follow-up list (`build_purchased_not_checkedin.py:
      // 22-109`): the PER-TRANSACTION recency-windowed report — recent
      // positive purchases with no visit since the purchase
      materialize("rp1_purchased_not_checkedin", "purchased_not_checkedin"),
      // per-membership conversion readout (`build_membership_conversion_
      // metrics.py:25-113`): check-ins before each customer's first
      // membership, bucketed — the third grain next to cv1 (per-visit)
      // and cv2 (per-cohort)
      materialize("cv3_membership_conversion", "membership_conversion_metrics"),
      // flag -> email-received cross-check (`build_flag_email_verification
      // .py`): one row per (flag, campaign) + the two sentinel classes,
      // downstream of the flag run only by data (re-derives via flagsAt)
      materialize("rp2_flag_email_verification", "flag_email_verification"),
      // families buying day passes together (`identify_family_day_passes
      // .py`): the targeted-marketing list — one row per qualifying
      // check-in with contact email
      materialize("rp3_family_day_passes", "family_day_passes"),
      // SMS-consent compliance register (`sms_consent_tracker.py`):
      // point-in-time consent status per phone, the legal gate every
      // outbound-SMS consumer checks before sending
      materialize("rp4_sms_consent_audit", "sms_consent_audit"),
      // SCD2 history of each customer's order priority — the accumulated
      // interval form of the dimension the daily re-sync would overwrite
      materialize("o7_scd2_history", "customer_priority_history"),
      // coalesced membership-coverage islands per customer — the
      // precomputation the dashboard's per-day interval re-scan wants
      materialize("o8_interval_merge", "membership_coverage"),
      // weekly cohort retention triangle — the attrition chart's cohort
      // extension, companion to the conversion_funnel mart
      materialize("rp5_retention_triangle", "retention_triangle"),
      // lookalike audience: personalized-PageRank proximity to high-value
      // buyers over the co-activity graph (marketing's expansion list)
      materialize("gr5_ppr_lookalike", "lookalike_audience"),
      materialize("d1_exact_dedup", "document_dedup_groups"),
      materialize("o3_dedup_keepfirst", "transactions_deduped", Seq("combined_transactions")),
      // training-data marts (BASELINE north star): sessionized user journeys,
      // the curated corpus, its packed context windows, and the
      // decontamination report. Packing and decontamination consume the
      // MATERIALIZED curated_corpus — their deps are real lineage, not just
      // ordering.
      materialize("w8_sessionize", "user_sessions"),
      materialize("c1_corpus_curation", "curated_corpus", Seq("document_dedup_groups")),
      job("packed_corpus", Seq("curated_corpus")) { (_, t) =>
        t.write("packed_corpus", graft.ops.TextAnalysis.packAssignSharded(
          t.read("curated_corpus"),
          "source", "doc_id", col("tok"), budget = 2048L, idWidth = 16L))
      },
      job("decontamination_report", Seq("curated_corpus")) { (s, t) =>
        val docs = Tables.documents(s, sfDir)
        val curated = t.read("curated_corpus").select(col("doc_id"))
        // train side excludes the benchmark slice (doc_id % 97 == 0), matching
        // t6_decontaminate — a bench doc that survives curation would otherwise
        // self-match at contam_ratio 1.0 and pollute the report
        t.write("decontamination_report", graft.ops.TextAnalysis.contamination(
          docs.join(curated, "doc_id").filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0), "doc_id", "text", 5))
      },
      // corpus-health twin of the decontamination report: duplicated-
      // substring coverage (Lee et al. '21 signal) over the raw corpus —
      // upstream of curation so heavy cross-doc duplication is visible
      // BEFORE the near-dup gates act on it
      job("dup_substring_report") { (s, t) =>
        t.write("dup_substring_report", graft.ops.TextAnalysis.dupSubstringRuns(
          Tables.documents(s, sfDir), "doc_id", "text", k = 8))
      },
      // marginal-content signal per doc (t36): what each doc ADDED first —
      // the containment report's complement, upstream of curation like the
      // dup-substring twin
      materialize("t36_ngram_novelty", "novelty_scores"),
      // DSIR importance scores against the curated target distribution —
      // the data-selection side-channel: which raw docs LOOK curated,
      // regardless of whether the gates kept them
      job("dsir_scores") { (s, t) =>
        t.write("dsir_scores", graft.ops.TextAnalysis.dsirScores(
          Tables.documents(s, sfDir), "doc_id", "text",
          col("lang") === "en" && graft.ops.TextAnalysis.qualityScore("text") >= 0.8))
      },
      // the DSIR SELECTION: buy a 12k-token budget of the most target-like
      // docs from the MATERIALIZED scores (rank + cut only — the corpus is
      // never re-scored; same consume-the-mart seam as nb_model_eval)
      job("dsir_selected_corpus", Seq("dsir_scores")) { (_, t) =>
        t.write("dsir_selected_corpus", graft.ops.TextAnalysis
          .importanceBudgetFromScores(t.read("dsir_scores"), "doc_id", budget = 12000L))
      },
      // train/val/test assignment for the MATERIALIZED curated corpus —
      // keyed on the content fingerprint (exact dups can never straddle
      // train/eval), so the assignment survives reprocessing verbatim.
      job("corpus_splits", Seq("curated_corpus")) { (s, t) =>
        val cur = t.read("curated_corpus").select(col("doc_id"))
        t.write("corpus_splits", graft.ops.TextAnalysis.splitAssign(
          Tables.documents(s, sfDir).join(cur, "doc_id"), "doc_id", "source", "text"))
      },
      // deterministic training order for the train split: reproducible
      // global shuffle positions (two-level prefix sum — no driver sort).
      job("training_order", Seq("corpus_splits")) { (_, t) =>
        val train = t.read("corpus_splits")
          .filter(col("split") === "train").select(col("doc_id"), col("source"))
        t.write("training_order",
          graft.ops.TextAnalysis.shuffleRank(train, "doc_id", "epoch0"))
      },
      // multi-strategy family edges (`build_family_relationships.py`), then
      // the child/parent flag pass fed from the DERIVED edges (high tier)
      // rather than the raw dim — the reference's read order
      materialize("fam1_family_edges", "family_edges"),
      job("customer_flags_enriched", Seq("family_edges", "customer_flags")) { (_, t) =>
        val fam = t.read("family_edges")
          .filter(col("confidence") === "high")
          .select(col("child_customer_id").as("child_id"),
            col("parent_customer_id").as("parent_id"))
        t.write("customer_flags_enriched",
          graft.flags.FlagPasses.childPass(t.read("customer_flags"), fam))
      },
      // embedding-space dedup decision (SemDeDup): keeper/cluster per vector.
      materialize("d7_semantic_dedup", "embedding_dedup_clusters", heavy = true),
      // model-based quality filter: the NB scores are a corpus-wide mart;
      // the holdout eval row is the rollout gate a curation pipeline
      // checks before trusting the scores. The eval CONSUMES the
      // materialized scores (real lineage, like packed_corpus) — training
      // runs once, not once per consumer.
      materialize("ml1_nb_quality_scores", "nb_quality_scores"),
      job("nb_model_eval", Seq("nb_quality_scores")) { (_, t) =>
        t.write("nb_model_eval",
          graft.ops.Classifier.nbHoldoutEval(t.read("nb_quality_scores")))
      },
      // calibration read of the SAME materialized scores: can nb_score be
      // trusted as a probability (soft-weighting) or only as a ranker?
      job("nb_calibration", Seq("nb_quality_scores")) { (_, t) =>
        t.write("nb_calibration",
          graft.ops.Classifier.nbCalibration(t.read("nb_quality_scores")))
      },
      // held-out LM gate scores (t34 Kneser–Ney): per-doc smoothed
      // conditional surprisal + OOV coverage vs the reference slice — the
      // model-based quality readout next to nb_quality_scores' classifier
      materialize("t34_kn_surprisal", "lm_gate_scores"),
      // iterative linear gate next to NB's closed form and the KN LM:
      // margins/predictions for every doc under the final batch-perceptron
      // weights (int64 — reproducible across reruns and partitionings)
      materialize("ml6_perceptron_gate", "perceptron_gate_scores"),
      // corpus-provenance hygiene: which sources share content with which
      // (split leakage / syndication audit at source granularity)
      materialize("d12_source_overlap", "source_overlap_matrix", heavy = true),
      // vocabulary heavy-hitters sketch report (mergeable CMS counters)
      materialize("t24_cms_heavy_hitters", "vocab_heavy_hitters"),
      // shift-invariant duplicated-region report (CDC chunk census) — the
      // storage-dedup complement of dup_substring_report's exact runs
      materialize("t28_cdc_chunk_dedup", "cdc_chunk_report"),
      // embedding-space health pair: per-vector centroid-cosine outliers
      // and the per-cell cohesion-vs-separation verdict — the go/no-go
      // checked before the ANN index cells or cluster quotas are trusted
      materialize("k11_embedding_outliers", "embedding_outliers"),
      materialize("k12_cluster_quality", "cluster_quality"),
      // quality-weighted corpus sample (A-ES draw ∝ quality score) — the
      // weighted counterpart of corpus_mix_sample's rate ladder
      materialize("t27_weighted_sample", "corpus_weighted_sample"),
      // per-source distribution-drift monitoring (KL/TVD vs corpus baseline)
      materialize("t26_source_drift", "source_drift_report"),
      // incremental ingest report: today's batch (delta) matched against the
      // indexed corpus — cross-side band collisions only, the shape that
      // never re-pays corpus-wide shingling at scale. The oracle-gated d8
      // query IS the mart (one definition, no drift).
      materialize("d8_incremental_minhash", "incremental_dedup_report",
        heavy = true),
      // dup-farm density report: docs in the near-dup graph's 2-core
      // (template farms / generated boilerplate — the density policy the
      // component and community marts can't express), with the in-query
      // convergence verdict downstream consumers must check before acting
      materialize("gr4_kcore_dupfarms", "dup_farm_report", heavy = true),
      // local-density companion: per-doc triangle counts + clustering
      // coefficient over the same near-dup graph — clique-like template
      // farms (milli ≈ 1000) vs hub-like boilerplate wrappers (milli ≈ 0),
      // the readout gr4's binary core membership can't grade
      materialize("gr6_triangle_count", "dup_clustering_report", heavy = true),
      // cross-sell affinity mart: brand-pair support/lift over order
      // baskets (the merchandising readout next to customer_connections)
      materialize("a20_basket_lift", "brand_affinity"),
      // audience-overlap mart: pairwise event-type user overlap from the
      // stored HLL states (union by register merge, intersection by
      // inclusion–exclusion) with the exact gated-scale audit columns
      materialize("a4e_hll_overlap", "audience_overlap"),
      // dedup re-examination queue: non-adjacent embedding pairs sharing
      // near-dup neighbors (gr7) — the cosine threshold's own likely false
      // negatives, surfaced by graph structure instead of a second
      // quadratic scan
      materialize("gr7_link_prediction", "neardup_candidate_queue", heavy = true),
      // cross-system email repair: orders missing contact email recovered
      // by normalized person-name match against the second record system
      // (match_shopify_to_capitan.py), with the opt-in/waiver flags the
      // subscribe step gates on
      materialize("u2d_email_recovery", "recovered_emails"),
      // journey health: per 2-week-pass purchaser, the first automated-
      // journey stage that broke (flag -> email -> commerce sync ->
      // campaigns), the diagnose_2week_pass_journey.py readout
      materialize("rp8_pass_journey_diagnostic", "pass_journey_diagnostic"),
      // tokenizer quality sheet: per-source fertility / compression /
      // unmerged-share over the learned BPE table — the judge step of the
      // learn->encode->judge tokenizer lifecycle, next to corpus_datacard
      materialize("t38_tokenizer_fertility", "tokenizer_fertility"),
      // transaction→customer match waterfall (build_customer_transactions
      // .py): membership # → entry pass # → email, confidence-tiered,
      // first match wins — the CRM's per-transaction customer link
      materialize("cm2_customer_transactions", "customer_transactions"),
      // typed signup events from the reservations ledger
      // (build_reservation_events.py): keyword-ladder classification with
      // booking-owner attribution
      materialize("ev1_reservation_events", "reservation_events"),
      // ONE table for all events for all people (build_events_table.py):
      // the 7-source union mart. The deps are DATA deps, not ordering: this
      // seat injects the two jobs' materialized parquet outputs into the
      // union body (EventsTable.eventsTableFrom), so the cm2 match
      // waterfall and the ev1 slot election run once per pipeline run —
      // the registry's self-contained ev2 query recomputes them only for
      // the standalone oracle gate.
      job("events_table", Seq("customer_transactions", "reservation_events")) { (s, t) =>
        t.write("events_table", graft.queries.EventsTable.eventsTableFrom(
          Tables.events(s, sfDir),
          t.read("customer_transactions"), t.read("reservation_events")))
      },
      // soft-dedup sampling weights: near-dup clusters down-weighted
      // 1/cluster_size (exact ppm) — the mixer-facing alternative to
      // dropping. heavy: rebuilds the d5/d6 simhash pair graph — round 10's
      // OOM was exactly this job co-resident with the clustering report's
      // pair build in one 32-thread JVM (the 93-job sf10 run died at
      // 3 min where the 92-job tree passed in 851 s). The round-10 fix was
      // an ordering dep on dup_clustering_report; the memory class replaces
      // it — the Dag keeps one heavy job in flight at a time, so no two pair
      // builds co-schedule, whoever adds the next one.
      materialize("d13_soft_dedup_weights", "soft_dedup_weights", heavy = true),
      // soft-weighted training mixture: the c5 UniMax budget cut run on
      // the MATERIALIZED soft-dedup weights (the ev2 injection pattern:
      // the dep is a data dep — the simhash pair graph + CC behind the
      // weights runs once per pipeline run, in the d13 job; this seat
      // only joins the weights to the doc spine for lang and cuts)
      job("soft_budget_mix", Seq("soft_dedup_weights")) { (s, t) =>
        val w = t.read("soft_dedup_weights")
          .select(col("doc_id"), col("weight_ppm"), col("eff_tokens_ppm"))
        val docs = Tables.documents(s, sfDir)
          .filter(col("lang").isNotNull && col("text").isNotNull)
          .select(col("doc_id"), col("lang"))
        t.write("soft_budget_mix",
          graft.queries.DedupQs.softCurationCut(s, docs.join(w, "doc_id")))
      },
      // index health: new arrivals probed against the stale ANN index —
      // recall verdict + per-probe structural rot floor (exact neighbors
      // the index cannot contain); pairs with ann_ivf_index's cadence
      materialize("k17_index_rot_audit", "ann_index_rot_audit"),
      // privacy mart: the shareable customer export (pseudonyms + k-anonymity
      // suppression) — the form that may leave the warehouse.
      materialize("u5_anonymize", "anonymized_customers"),
      // training mixture: down-sample the MATERIALIZED curated corpus with
      // the per-source rate ladder (salted-hash draws — reproducible across
      // reruns, so a resumed pipeline emits the identical sample).
      job("corpus_mix_sample", Seq("curated_corpus")) { (_, t) =>
        import graft.ops.TextAnalysis
        t.write("corpus_mix_sample", t.read("curated_corpus").filter(
          TextAnalysis.hashUnit(col("doc_id"), "mix") <
            TextAnalysis.mixThresholdCol(col("source"))))
      },
      // the corpus data card: per-source release stats (volume, language
      // purity, quality, dup rate) — shipped with every corpus build.
      materialize("ep4_corpus_datacard", "corpus_datacard"),
      // tokenizer induction as warehouse state (the ann-index precedent:
      // build-once/consume-many, rebuilt on corpus cadence) — BPE merges
      // learned from the CURATED corpus, not the raw table: the tokenizer
      // should never see what the gates dropped.
      job("bpe_merge_table", Seq("curated_corpus")) { (s, t) =>
        val cur = t.read("curated_corpus").select(col("doc_id"))
        t.write("bpe_merge_table", graft.ops.Bpe.learnMerges(
          Tables.documents(s, sfDir).join(cur, "doc_id"), "text", merges = 8))
      },
      // the other half of the tokenizer lifecycle: per-doc token counts
      // under the STORED merge table (not re-learned — the tokenizer is
      // state, encoding is a consumer), over the same curated slice.
      job("corpus_token_counts", Seq("curated_corpus", "bpe_merge_table")) { (s, t) =>
        val cur = t.read("curated_corpus").select(col("doc_id"))
        t.write("corpus_token_counts", graft.ops.Bpe.encodeStatsWith(
          Tables.documents(s, sfDir).join(cur, "doc_id"), "doc_id", "text",
          t.read("bpe_merge_table")))
      },
      // retrieval index: overlapping passage windows over the curated
      // corpus (t19's chunking contract) — the RAG-side consumable.
      job("passage_index", Seq("curated_corpus")) { (s, t) =>
        val cur = t.read("curated_corpus").select(col("doc_id"))
        t.write("passage_index", graft.ops.TextAnalysis.passageWindows(
          Tables.documents(s, sfDir).join(cur, "doc_id"), "doc_id", "text",
          width = 32, stride = 16))
      },
      // ANN index BUILD as warehouse state — the build-once/query-many
      // split the similarity ops are designed around: k-means cell
      // assignments + centroids (IVF probe tables) and per-block PQ codes +
      // codebook (ADC scan tables), with the same parameters the k2c/k6
      // query paths use. At production scale these rebuild on index
      // cadence, not per query.
      job("ann_ivf_index") { (s, t) =>
        import graft.ops.SimilaritySearch
        val (assign, cents) = SimilaritySearch.kmeansModel(
          Tables.embeddings(s, sfDir), "vec_id", "embedding", k = 8, iters = 3)
        t.write("ann_ivf_assignments", assign)
        t.write("ann_ivf_centroids", cents.select(col("cell"), col("__c").as("centroid")))
      },
      job("ann_pq_index") { (s, t) =>
        import graft.ops.SimilaritySearch
        val emb = Tables.embeddings(s, sfDir)
        val (codes, cents) = SimilaritySearch.pqModel(
          emb, "vec_id", "embedding", dim = 64, m = 4, k = 16, iters = 2)
        t.write("ann_pq_codes", codes)
        t.write("ann_pq_codebook", cents.select(col("block"), col("code"), col("centroid")))
      },
      job("ann_sq8_index") { (s, t) =>
        t.write("ann_sq8_codes", graft.ops.SimilaritySearch.sq8Codes(
          Tables.embeddings(s, sfDir), "vec_id", "embedding", keep = Seq("label")))
      },
      // Mergeable quantile-histogram STATE as warehouse state (the a18b
      // lifecycle): per-day KB-sized bucket histograms of event value, and
      // a report job that answers quantiles FROM the stored states — the
      // store-daily/merge-any-range read path, with real lineage.
      job("value_quantile_daily") { (s, t) =>
        import org.apache.spark.sql.functions._
        val ev = Tables.events(s, sfDir)
          .filter(col("value").isNotNull && col("value") >= 0)
          .withColumn("day", to_date(col("ts")))
        t.write("value_quantile_daily",
          graft.ops.QuantileSketch.histogram(ev, Seq("day"), "value"))
      },
      job("value_quantile_report", Seq("value_quantile_daily")) { (_, t) =>
        import org.apache.spark.sql.functions._
        val merged = t.read("value_quantile_daily")
          .groupBy(col("bucket")).agg(sum(col("cnt")).as("cnt"))
          .withColumn("grp", lit("all"))
        t.write("value_quantile_report", graft.ops.QuantileSketch.quantiles(merged,
          Seq("grp"), Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100))))
      },
      // Winnowed fingerprint INDEX over the curated corpus — the MOSS-style
      // stored state for incremental copy checks (t31's selection pass,
      // materialized once per corpus build).
      job("winnow_fp_index", Seq("curated_corpus")) { (s, t) =>
        val cur = t.read("curated_corpus").select(col("doc_id"))
        t.write("winnow_fp_index", graft.ops.TextAnalysis.winnowFingerprints(
          Tables.documents(s, sfDir).join(cur, "doc_id"), "doc_id", "text", k = 4, w = 8))
      },
      // the curated corpus re-clustered on the Morton curve by
      // (source, token count): downstream per-source slices AND
      // length-bounded reads both prune on native file stats — the
      // multi-dimensional companion to the date-partitioned fact layout
      job("corpus_layout", Seq("curated_corpus")) { (_, t) =>
        import graft.ops.Layout
        val cur = t.read("curated_corpus")
        t.write("curated_corpus_zorder", Layout.zorderBy(cur,
          Layout.stringRangeBucket(cur, "source"),
          Layout.quantileBucket(cur, "tok"), numFiles = 8))
      },
      // EP1's month-start dated snapshot (`pipeline_handler.py:343-354`):
      // live table + immutable dated copy of the MATERIALIZED dashboard mart
      // (its dep is a data dep: ep3 runs once per pipeline run)
      job("revenue_dashboard_snapshot", Seq("revenue_dashboard")) { (_, t) =>
        t.snapshot("revenue_dashboard_snap", t.read("revenue_dashboard"),
          asOfDate = "2024-02-01")
      },
      // report marts (reference DailyPipeline steps the engine was missing):
      materialize("a11_latest_per_key", "latest_events"),
      // the date-partitioned fact layout (SURVEY §7.4's 100 TB note): the
      // events fact written hive-style under event_date=... so every
      // clock-filtered mart below prunes to its trailing window at planning
      // time instead of scanning the full history. At warehouse scale this
      // is THE fact layout; the raw single-file parquet stands in for the
      // source extract only.
      job("events_fact") { (s, t) =>
        t.write("events_fact", Tables.events(s, sfDir)
          .withColumn("event_date", org.apache.spark.sql.functions.to_date(col("ts"))),
          partitionCols = Seq("event_date"))
      },
      // leads mart (`build_leads_table.py:30`): identity + trailing-180d
      // timeline rollup per user, enriched with the MATERIALIZED
      // latest_events (real lineage, like packed_corpus). Reads the
      // partitioned fact with a date predicate that is a strict superset of
      // the ts window — the scan prunes to the 180 trailing partitions, the
      // exact ts bound then filters rows within them.
      job("leads_table", Seq("latest_events", "events_fact")) { (_, t) =>
        import org.apache.spark.sql.functions._
        val asOfUs = 1706659200000000L // 2024-01-31T00:00Z, the flags clock
        val us = unix_micros(col("ts"))
        val rollup = t.read("events_fact")
          .filter(col("event_date") >= lit("2023-08-04") &&
            col("event_date") < lit("2024-01-31")) // partition prune (superset)
          .filter(us < asOfUs && us >= asOfUs - 180L * 86400000000L)
          .groupBy(col("user_id")).agg(
            count(lit(1)).as("n_events_180d"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("n_purchases_180d"),
            min(col("ts")).as("first_seen"), max(col("ts")).as("last_seen"),
            sort_array(collect_list(struct(unix_micros(col("ts")).as("us"),
              col("event_id"), col("event_type")))).as("tl"))
          // the reference's per-lead timeline JSON (`build_leads_table.py`:
          // "one row per lead, including timeline JSON") — deterministic
          // order via sort_array on (us, event_id), capped to the newest 100
          // events so the blob stays bounded at any per-user volume (slice
          // with a negative start yields [] on short arrays — hence the CASE)
          .withColumn("timeline_json", to_json(expr(
            "CASE WHEN size(tl) <= 100 THEN tl ELSE slice(tl, -100, 100) END")))
          .drop("tl")
        // the latest_events mart is unclocked (a11 over all events); keep
        // only rows at or before this mart's as-of clock so one lead row
        // never mixes two as-of semantics
        val latest = t.read("latest_events")
          .filter(unix_micros(to_timestamp(col("last_ts"))) < asOfUs)
        t.write("leads_table", rollup.join(latest, Seq("user_id")))
      },
      // new-members mart (`identify_new_members.py:52-127`): users whose most
      // recent membership start (signup) is inside the trailing 28 days,
      // with their activity totals ("checkins").
      job("new_members", Seq("events_fact")) { (_, t) =>
        import org.apache.spark.sql.functions._
        val asOfUs = 1706659200000000L
        val us = unix_micros(col("ts"))
        // event_date < asOf-date is a superset of ts < asOf: every pre-asOf
        // partition survives, future-dated partitions never get opened
        val ev = t.read("events_fact")
          .filter(col("event_date") < lit("2024-01-31")).filter(us < asOfUs)
        val starts = ev.filter(col("event_type") === "signup")
          .groupBy(col("user_id")).agg(max(unix_micros(col("ts"))).as("start_us"))
          .filter(col("start_us") >= asOfUs - 28L * 86400000000L)
        val totals = ev.groupBy(col("user_id")).agg(
          count(lit(1)).as("total_events"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("total_checkins"))
        t.write("new_members", starts.join(totals, Seq("user_id")))
      },
      // experiment-entries mart (`customer_flags_engine.py:268-290` +
      // `experiment_tracking.log_experiment_entry`): every emitted A/B-gated
      // offer flag logs an experiment entry with the customer's group.
      job("experiment_entries", Seq("customer_flags")) { (_, t) =>
        import org.apache.spark.sql.functions._
        val offers = t.read("customer_flags")
          .filter(col("flag_type") === "returning_offer_2wk")
        t.write("experiment_entries",
          offers.select(col("user_id"),
            lit("2wk_offer_v1").as("experiment_id"),
            // the offer rule only fires for group A; recompute the group
            // from the same hash so the mart is self-describing
            when(graft.ops.Normalize.abGroup(col("user_id").cast("string")) <= 4,
              lit("A")).otherwise(lit("B")).as("ab_group"),
            col("flag_type").as("entry_flag"), col("priority")))
      },
      // contact-preferences mart (`build_contact_preferences.py:445-497`):
      // most recent opt-in status per (user, channel) — clicks are the email
      // channel, views the sms channel, opt-in parity from the event props —
      // pivoted to one row per user with reference-style fill of missing
      // channels to opted-out.
      job("contact_preferences") { (s, t) =>
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions._
        val recs = Tables.events(s, sfDir)
          .filter(col("event_type").isin("click", "view"))
          .select(col("user_id"),
            when(col("event_type") === "click", lit("email")).otherwise(lit("sms"))
              .as("channel"),
            unix_micros(col("ts")).as("us"), col("event_id"),
            (get_json_object(col("props"), "$.k").cast("long") % 2 === 0)
              .as("opted_in"))
        val w = Window.partitionBy(col("user_id"), col("channel"))
          .orderBy(col("us").desc, col("event_id").desc)
        val current = recs.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
        val prefs = current.groupBy(col("user_id"))
          .pivot("channel", Seq("email", "sms"))
          .agg(first(col("opted_in")).as("opt_in"), first(col("us")).as("opt_in_us"))
          .withColumn("email_opt_in", coalesce(col("email_opt_in"), lit(false)))
          .withColumn("sms_opt_in", coalesce(col("sms_opt_in"), lit(false)))
        t.write("contact_preferences", prefs)
      })
  }

  def main(args: Array[String]): Unit = Warehouse.main(args)(jobs)
}

/** The warehouse at `outDir`, built from the raw tables at `sfDir`, as its
  * jobs see it. [[job]] is the one way a job is declared: its body runs on a
  * session in the execution mode `sfDir` calls for (`Sizing.mode`), scoped to
  * the job, with a [[Handle]] that reads only the job's declared deps and
  * commits every table it writes through [[Tables.write]]. */
private[graft] final class Warehouse(sfDir: String, outDir: String) {
  private val mode = Sizing.mode(sfDir)

  final class Handle private[Warehouse] (s: SparkSession, job: String,
      deps: Seq[String]) {
    private def dir(dep: String): String = {
      require(deps.contains(dep), s"job $job reads table $dep, which is not " +
        s"among its declared deps [${deps.mkString(", ")}]")
      s"$outDir/$dep"
    }
    /** The materialized table of `dep`, which must be a declared dep. */
    def read(dep: String): DataFrame = s.read.parquet(dir(dep))
    /** Bin-packs the files of `dep`, which must be a declared dep. */
    def compact(dep: String): Tables.CompactStats = Tables.compact(s, dir(dep))
    def write(table: String, df: DataFrame, partitionCols: Seq[String] = Nil): Unit =
      Tables.write(df, s"$outDir/$table", partitionCols = partitionCols)
    def snapshot(table: String, df: DataFrame, asOfDate: String): Unit =
      Tables.writeSnapshot(df, s"$outDir/$table", asOfDate)
  }

  // heavy = the declared memory class (see Job.heavy): plans whose shuffle
  // state is candidate-PAIR-sized (simhash/minhash band joins, embedding
  // ring joins), of which the Dag keeps at most one in flight
  def job(name: String, deps: Seq[String] = Nil, heavy: Boolean = false)(
      body: (SparkSession, Handle) => Unit): Job =
    Job(name, deps, { s =>
      val js = Sizing.session(s, mode)
      body(js, new Handle(js, name, deps))
    }, heavy)
}

/** The one runner of warehouse jobs, shared by both pipeline mains. */
private[graft] object Warehouse {
  /** Runs `jobs` on one [[Dag]] and prints one `[pipeline]` line per job and
    * the count of jobs ok. Results come back in declaration order. */
  def run(spark: SparkSession, jobs: Seq[Job], outDir: String): Seq[JobResult] = {
    val results = new Dag(jobs).runParallel(spark)
    results.foreach(r => println(
      s"[pipeline] ${r.name}: ${r.status} (${r.durationMs} ms)${r.error.map(" - " + _).getOrElse("")}"))
    println(s"[pipeline] ${results.count(_.status == "ok")}/${results.size} jobs ok -> $outDir")
    results
  }

  /** A pipeline main's exit status: 0 when every job is ok, else 1. */
  def exitCode(results: Seq[JobResult]): Int =
    if (results.forall(_.status == "ok")) 0 else 1

  /** `main <sfDir> <outDir>`: runs the jobs `jobsOf(sfDir, outDir)` declares
    * and exits 1 unless every one is ok. */
  def main(args: Array[String])(jobsOf: (String, String) => Seq[Job]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_warehouse"
    val spark = Session(sfDir)
    val code = try exitCode(run(spark, jobsOf(sfDir, outDir), outDir)) finally spark.stop()
    if (code != 0) sys.exit(code)
  }
}
