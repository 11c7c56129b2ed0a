package graft

/** Plan invariants over EVERY driver-contract query at sf0.001:
  * no accidental cartesian products, and the flagship scan behaviors
  * (filter pushdown, column pruning, broadcast dims) hold. Guards the
  * 100 TB story against silent plan regressions.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  // Intended broadcast nested loops, nothing else may plan one:
  // q_embed_topk is the labeled brute-force ANN baseline (non-equi join
  // against a broadcast query set); q_embed_ivf routes each query over
  // the broadcast centroid table, which is bounded at 2^cellPlanes
  // rows — the probe join itself is an equi-join on the cell id;
  // q_corpus_stopwords threads the ONE-row corpus count into the
  // vocabulary-sized DF frame (the scalar-aggregate cross join —
  // bounded at 1 × |vocabulary| rows); q_tfidf and q_bm25 thread the
  // same 1-row corpus-stats frame (N / avgdl) into per-term frames
  // the same way.
  // q_histogram and q_domain_mix broadcast a ONE-row global
  // min/max / corpus-total aggregate onto the per-row / per-source
  // frame — the same bounded scalar-broadcast shape as q_tfidf.
  // (q_psi and q_data_profile once carried the same fenced shape;
  // Catalyst now plans their 1-row carriers as hash joins / fused
  // aggregates, and the rot-guard test below evicts stale fences.)
  private val intendedNestedLoop =
    Set("q_embed_topk", "q_embed_ivf", "q_corpus_stopwords",
      "q_tfidf", "q_bm25", "q_histogram", "q_domain_mix",
      // (q_kmeans and q_semantic_dedup carried the fenced
      // centroid-scoring carrier until r18: their assignment frame
      // now stages — the bounded nested loop runs inside the
      // checkpoint's lineage and no longer appears in the final
      // plan, so the rot-guard evicted both.)
      // q_pmi / q_rfm thread a 1-row scalar (corpus size / global
      // max date) like q_histogram
      "q_pmi", "q_rfm",
      // q_perplexity threads the 1-row vocabulary count onto the
      // bigram-vocabulary frame (bounded, never corpus-sized);
      // q_survival threads the 1-row horizon/total onto user- and
      // day-grained frames
      "q_perplexity", "q_survival",
      // q_sql_q22 broadcasts the 1-row balance threshold across the
      // customer table; q_triangle cross-joins three 1-row aggregates
      // into its single output row
      "q_sql_q22", "q_triangle",
      // q_chi2 crossJoins the 1-row grand-total N onto the ≤35-cell
      // contingency frame — the q_histogram scalar-carrier shape
      "q_chi2",
      // q_ks_test crossJoins the 1-row (n0, n1) sample-size frame
      // onto the distinct-value ECDF frame — a scalar carrier like
      // q_histogram
      "q_ks_test",
      // q_basket_rules threads the 1-row basket total onto the
      // ≤ C(100,2)-row pair frame — the q_pmi scalar-carrier shape
      "q_basket_rules",
      // q_interpolate broadcasts the ~|days|-row calendar spine onto
      // the per-user frame — a bounded spine carrier, not a data join
      "q_interpolate",
      // q_growth_accounting threads the 1-row last-day scalar onto
      // the per-user gap frame (right-censoring the final day)
      "q_growth_accounting",
      // q_weighted_sample threads the 1-row max-weight scalar onto
      // the per-doc frame — the q_histogram normalization shape
      "q_weighted_sample",
      // q_benford threads the 1-row order total onto the 9-digit
      // frame; q_changepoint threads the 1-row grand event total
      // onto the day frame — both the q_histogram scalar-carrier
      // shape
      "q_benford", "q_changepoint",
      // q_seasonal_index threads the 1-row grand-mean (Σ, n) onto the
      // 12-row month frame — the q_histogram scalar-carrier shape
      "q_seasonal_index",
      // q_nearest_hub crossJoins the 5-row broadcast hub table onto
      // customers — the bounded centroid-table carrier (q_kmeans
      // shape; hubs are |regions| rows, never data-sized)
      "q_nearest_hub",
      // q_knn_classify rides bruteTopK — the same labeled brute-force
      // ANN baseline join as q_embed_topk
      "q_knn_classify",
      // q_delete_dv threads the 1-row deleted-stats aggregate of the
      // change feed onto the 3-row summary via
      // crossJoin(broadcast(feed)) — the standard fenced 1-row
      // scalar-carrier (IdentityBroadcastMode over one row)
      "q_delete_dv",
      // q_theilsen self-joins the calendar-bounded ≤181-row daily
      // frame on xa < xb (≤16k pairs) — a bounded frame×frame
      // carrier, never the fact table
      "q_theilsen",
      // q_cramers_v crossJoins the 1-row (N, r, c) grand-total onto
      // the ≤25-cell contingency frame — the q_chi2 scalar-carrier
      // shape; q_mix_waterfill threads the 1-row budget and the
      // 1-row water-level onto the |sources|-row frame (two fenced
      // scalar carriers in one plan)
      "q_cramers_v", "q_mix_waterfill",
      // q_best_split crossJoins the ≤|bands|-row distinct-band frame
      // with the broadcast ≤|segments|-row class frame to densify
      // the contingency grid — both sides bounded by feature range /
      // label cardinality, never row count (q_kmeans shape)
      "q_best_split",
      // q_did threads the 1-row date-range bounds onto the bounded
      // (group × day) frame — the q_histogram scalar-carrier shape
      "q_did",
      // q_sql_call CROSS JOINs the 1-row surviving-count aggregate
      // onto the ledger-sized (≤5-row) history frame — a scalar
      // carrier over a commits-sized side, never data-sized
      "q_sql_call")

  test("every intendedNestedLoop key exists and still plans one") {
    // keeps the allowlist from rotting: a key that stops planning a
    // BroadcastNestedLoopJoin (or leaves the contract) must be removed
    val gone = intendedNestedLoop.filterNot(SparkEntry.queries.contains)
    assert(gone.isEmpty, s"fenced but not in the contract: $gone")
    val stale = intendedNestedLoop.filterNot(n =>
      plan(n).contains("BroadcastNestedLoopJoin"))
    assert(stale.isEmpty,
      s"fenced but no longer plan a BroadcastNestedLoopJoin: $stale")
  }

  test("no query plans a cartesian product or unintended nested loop") {
    val cart = collection.mutable.Buffer.empty[String]
    val loops = collection.mutable.Buffer.empty[String]
    SparkEntry.queries.keys.foreach { name =>
      val p = plan(name)
      if (p.contains("CartesianProduct")) cart += name
      if (!intendedNestedLoop(name) &&
          p.contains("BroadcastNestedLoopJoin")) loops += name
    }
    assert(cart.isEmpty, s"CartesianProduct planned by: $cart")
    assert(loops.isEmpty, s"unfenced BroadcastNestedLoopJoin in: $loops")
  }

  test("no query plans an InMemoryRelation (persist-leak guard)") {
    // r3 lesson: a persist() inside a lazily-returned operator has no
    // release path and its cached blocks taint the rest of the
    // session. Identical self-join subtrees must ride ReuseExchange
    // instead. A cache anywhere in a driver-contract plan is a bug.
    SparkEntry.queries.keys.foreach { name =>
      val p = plan(name)
      assert(!p.contains("InMemoryRelation") &&
        !p.contains("InMemoryTableScan"),
        s"$name plans a cached relation")
    }
  }

  test("projection filters reach the parquet scan") {
    val p = plan("q_project_filter")
    assert(p.contains("PushedFilters: [IsNotNull"),
      "expected pushed filters in scan")
    assert(p.contains("StringContains(o_orderpriority"),
      "contains-filter not pushed")
  }

  test("the fused Q88 band report scans the fact table exactly once") {
    // the classic Q88 form is eight scalar-subquery scans; the
    // FILTER-clause form must stay ONE scan of orders — if a rewrite
    // ever splits it back into per-band scans, this fence trips
    val p = plan("q_sql_ds_bands")
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 1, s"q_sql_ds_bands plans $scans scans, expected 1")
  }

  test("star-join dims are broadcast, fact scans are column-pruned") {
    val p = plan("q5_multijoin")
    assert(p.contains("BroadcastHashJoin"), "expected broadcast joins")
    // lineitem scan must not read all 11 columns
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_suppkey:bigint," +
      "l_extendedprice:double,l_discount:double>"),
      "lineitem scan not pruned to 4 columns")
  }

  test("every oracle query has a matching queries entry and vice versa") {
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
  }

  test("SURVEY §2 rows and PLANAUDIT.md rows name exactly the registry") {
    // the row regexes of scripts/selfcheck.py's survey/planaudit syncs
    def rows(file: String, re: String): Set[String] = re.r
      .findAllMatchIn(java.nio.file.Files.readString(
        java.nio.file.Paths.get(file)))
      .map(_.group(1)).toSet
    val shipped = SparkEntry.queries.keySet
    for ((file, re) <- Seq(
        "SURVEY.md" -> """(?m)^\|\s*\d+\s*\|\s*`(q_?\w+)`""",
        "PLANAUDIT.md" -> """(?m)^\|\s*(q(?:_\w+|\d+\w*))\s*\|""")) {
      val documented = rows(file, re)
      assert(documented == shipped, s"$file: rows not shipped " +
        s"${(documented -- shipped).toSeq.sorted}, shipped rows missing " +
        s"${(shipped -- documented).toSeq.sorted}")
    }
  }

  // -------- r5/r6 row fences: the shapes their scale stories claim --------

  test("q_bigram_lm aggregates the hot token key — no window, no sort") {
    // the r5 form put TWO window functions over partitionBy(w1); at
    // corpus scale the hottest token owns the largest partition twice.
    // The r6 form is pure two-phase aggregation (partial combiners).
    val p = plan("q_bigram_lm")
    assert(!p.contains("Window"), s"q_bigram_lm still plans a window:\n$p")
    assert(p.contains("HashAggregate"), "expected hash aggregation")
  }

  test("q_bloom_join: bloom probe filter present and below the join") {
    val p = plan("q_bloom_join")
    assert(p.contains("might_contain"), "bloom probe missing from plan")
    val lines = p.linesIterator.toSeq
    val joinIdx = lines.indexWhere(l =>
      l.contains("HashJoin") || l.contains("SortMergeJoin"))
    val probeIdx = lines.indexWhere(_.contains("might_contain"))
    assert(joinIdx >= 0 && probeIdx > joinIdx,
      s"probe filter not below the join:\n$p")
  }

  test("text rows prune the documents scan to the columns they use") {
    // a scan reading all 6 documents columns for a text-only operator
    // is wrong at 100 TB — the text suite must project at the source
    val textOnly = Seq("q_bigram_lm")
    val docAndText = Seq("q_repetition", "q_inverted_index",
      "q_token_count", "q_fingerprint")
    textOnly.foreach { q =>
      assert(plan(q).contains("ReadSchema: struct<text:string>"),
        s"$q reads more than text")
    }
    docAndText.foreach { q =>
      assert(plan(q).contains(
        "ReadSchema: struct<doc_id:bigint,text:string>"),
        s"$q reads more than (doc_id, text)")
    }
    // r18: q_tfidf and q_quality_gate stage their tokenized frame (the
    // documents scan lives inside the checkpoint's lineage, so the
    // final plan shows Scan ExistingRDD, not the parquet ReadSchema).
    // Pruning is by construction of the staged select — fence it by
    // asserting no unused documents column ever reaches the final
    // plan (a stage that forgot to project would carry them through).
    Seq("q_tfidf", "q_quality_gate").foreach { q =>
      val p = plan(q)
      assert(p.contains("Scan ExistingRDD"),
        s"$q no longer stages its token frame — restore the ReadSchema check")
      Seq("lang#", "source#", "n_chars#").foreach { c =>
        assert(!p.contains(c), s"$q carries unused documents column $c")
      }
    }
  }

  test("approx twin rows stay single-scan (sketches ride the same agg)") {
    // q_distinct_approx: exact + HLL in ONE aggregate over ONE scan
    val p = plan("q_distinct_approx")
    assert("FileScan parquet".r.findAllIn(p).length == 1,
      s"q_distinct_approx re-scans lineitem:\n$p")
  }

  test("q_event_funnel builds stage times in one aggregate — no self-join") {
    // the naive funnel is a per-stage self-join on user_id (3 scans,
    // 3 shuffles); the conditional-min form is one scan, one shuffle
    val p = plan("q_event_funnel")
    assert(!p.contains("Join"), s"q_event_funnel plans a join:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"q_event_funnel should shuffle once, on user_id:\n$p")
  }

  test("q_moving_avg and q_fill_forward window frames share one exchange") {
    // trailing and following frames over the same (partition, order)
    // must not each pay a shuffle
    Seq("q_moving_avg", "q_fill_forward").foreach { q =>
      val p = plan(q)
      assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
        s"$q shuffles more than once for its window family:\n$p")
    }
  }

  test("r8 fence: rank/cap rows run no global-sort window over data-" +
      "sized frames") {
    // q_rfm / q_gini previously planned row_number()/ntile() over an
    // unpartitioned (or ~5-partition) Window — a single-task sort of
    // every customer at scale. The Ranking.withRank form keeps every
    // window either PARTITIONED (range slices / classes) or over the
    // tiny offsets frame (≤ #partitions × #groups rows). Assert it on
    // the EXECUTED plan's measured rows, not the plan text.
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // (query, max rows allowed through an UNPARTITIONED window,
    //  max rows allowed into ANY window)
    val fences = Seq(
      ("q_rfm", 200L, Long.MaxValue),
      ("q_gini", 200L, Long.MaxValue),
      // prefilter bound: ≈4·k per class + offset frames, sf0.001-sized
      ("q_class_balance", 200L, 4000L),
      // withPrefixSums: only the per-slice totals frame (≤ #parts
      // rows) may cross an unpartitioned window; the data-sized
      // cumsum windows are pid-partitioned
      ("q_ks_test", 200L, Long.MaxValue))
    fences.foreach { case (q, globalBound, anyBound) =>
      val df = SparkEntry.queries(q)(spark, dir)
      df.queryExecution.toRdd.foreach(_ => ())
      val nodes = PlanAudit.allNodes(df.queryExecution.executedPlan)
      val windows = nodes.collect { case w: WindowExec => w }
      assert(windows.nonEmpty, s"$q expected window operators")
      windows.foreach { w =>
        val inRows = PlanAudit.allNodes(w).collectFirst {
          case s: ShuffleExchangeLike =>
            s.metrics.get("shuffleRecordsWritten").map(_.value)
              .getOrElse(-1L)
        }.getOrElse(-1L)
        val bound = if (w.partitionSpec.isEmpty) globalBound else anyBound
        assert(inRows <= bound,
          s"$q window (partitionSpec=${w.partitionSpec.size} cols) " +
            s"consumed $inRows rows > bound $bound")
      }
    }
  }

  test("q_pii_redact and q_contamination never shuffle raw text wide") {
    // contamination joins on long gram hashes only: the join keys in
    // any exchange must be hash columns, never the text column
    val p = plan("q_contamination")
    assert(!p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning(text")),
      "q_contamination shuffles on raw text")
  }
}
