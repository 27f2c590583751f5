package graft

/** Registry-wide smoke: every registered query must execute and (with
  * one data-dependent exception) return rows at the smallest scale
  * factor, so a future edit can't silently break or empty a query the
  * driver grades. */
class RegistrySmokeSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  // at sf0.001 there are no purchase->error pairs within 5 minutes;
  // the band join is legitimately empty there (2 rows at sf0.01)
  private val mayBeEmpty = Set("q21_band_join")

  test("every registered query runs and returns rows at sf0.001") {
    val failures = SparkEntry.registry.flatMap { q =>
      try {
        val n = q.build(spark, dir).count()
        if (n == 0 && !mayBeEmpty(q.name)) Some(s"${q.name}: 0 rows") else None
      } catch { case e: Throwable => Some(s"${q.name}: ${e.getMessage.take(120)}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("every oracle key has a query and the flagship returns rows") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle defines each top-level CTE name at most once") {
    // oracles are composed from shared CTE fragments; a fragment that
    // redefines a name its caller already defines (a second `qv` or
    // `fv`) is an error only DuckDB reports, so catch it here
    val head = """(?is).*\b(\w+)\s+AS\s+(?:MATERIALIZED\s+)?\(""".r
    def topLevelCtes(sql: String): Seq[String] = {
      val names = Vector.newBuilder[String]
      var depth = 0
      var quoted = false
      for (i <- sql.indices) sql(i) match {
        case '\'' => quoted = !quoted
        case '(' if !quoted =>
          if (depth == 0) sql.substring(math.max(0, i - 120), i + 1) match {
            case head(name) => names += name.toLowerCase
            case _ =>
          }
          depth += 1
        case ')' if !quoted => depth -= 1
        case _ =>
      }
      names.result()
    }
    val q168 = topLevelCtes(SparkEntry.oracleSql("q168_ivf_sqrtn_recall"))
    assert(Seq("nn", "e2", "c1n", "asg", "qv", "pr", "cand", "lv", "top", "hits", "vol")
      .forall(q168.contains), q168)
    val dups = SparkEntry.oracleSql.toSeq.sortBy(_._1).flatMap { case (name, sql) =>
      val twice = topLevelCtes(sql).groupBy(identity).collect { case (c, g) if g.size > 1 => c }
      if (twice.isEmpty) None else Some(s"$name: ${twice.toSeq.sorted.mkString(", ")}")
    }
    assert(dups.isEmpty, dups.mkString("\n"))
  }

  test("registry names are unique (a duplicate would shadow a query in the Map)") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size == names.size,
      names.groupBy(identity).collect { case (n, g) if g.size > 1 => n }.mkString(", "))
  }

  test("filters and projections reach the parquet scan (pushdown guard)") {
    val plan = SparkEntry.queries("q02_filter_project")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity)"), plan.take(800))
    // projection pruned: the scan reads 5 of lineitem's 11 columns
    // (plan toString truncates, so assert on the scan column list)
    assert(plan.contains("FileScan parquet [l_orderkey#"), plan.take(800))
    assert(!plan.contains("l_shipdate"), "unpruned column in scan: " + plan.take(800))
  }

  test("dimension joins broadcast (q04 plan guard)") {
    val plan = SparkEntry.queries("q04_region_revenue")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
  }

  test("decontamination joins the benchmark gram set broadcast, never shuffling the corpus (q71 plan guard)") {
    val plan = SparkEntry.queries("q71_decontaminate")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
  }

  test("repetition ratios stay aggregate-free: doc spread + output sort are the only exchanges (q69 plan guard)") {
    // r14: the interpreted gram builds are deliberately spread across
    // cores with a doc_id hash repartition before the map (the
    // single-row-group scan ran them serially — OPTIMIZATION_r14.md),
    // so the intended shape is exactly TWO exchanges: the tiny
    // round-robin-free doc spread and the output range sort. The gram
    // work itself must still never shuffle or aggregate.
    val plan = SparkEntry.queries("q69_repetition_ratio")(spark, dir)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange ".r.findAllIn(plan).size
    assert(exchanges == 2, s"expected doc-spread + sort exchanges, got $exchanges:\n${plan.take(1500)}")
    assert(plan.contains("hashpartitioning(doc_id"), plan.take(1500))
    assert(plan.contains("rangepartitioning(doc_id"), plan.take(1500))
    assert(!plan.contains("HashAggregate"), plan.take(1500))
  }

  test("LSH pair construction reuses the distinct-shingle exchange (q27/q70 plan guard)") {
    // the shingle subtree feeds signatures/df-counts, candidates and
    // both verification probes; identical subplans must collapse into
    // ReusedExchange or the explode+hash scan runs multiple times.
    // (AQE materializes reuse at runtime, hence collect() first.)
    for (q <- Seq("q27_minhash_dup_pairs", "q70_ngram_jaccard")) {
      val df = SparkEntry.queries(q)(spark, dir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("ReusedExchange"), s"$q lost exchange reuse:\n${plan.take(1200)}")
    }
  }

  test("sign-pair candidates come from a band equi-join (q86 plan guard)") {
    // at test scale AQE broadcasts the tiny band side (no exchange to
    // reuse); at corpus scale the identical self-join inputs collapse
    // into ReusedExchange — either shape is the intended equi-join,
    // and a nested-loop join (all-pairs) is the failure mode
    val df = SparkEntry.queries("q86_sign_dup_pairs")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange") || plan.contains("BroadcastHashJoin"),
      plan.take(1200))
    assert(!plan.contains("NestedLoop"), plan.take(1200))
  }

  test("contamination levels broadcast the benchmark gram set (q81 plan guard)") {
    val plan = SparkEntry.queries("q81_contamination_levels")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
  }

  test("keyword top-k truncates map-side; one text scan; scalar broadcasts (q82 plan guard)") {
    // r5 one-pass shape: token_tf kernel -> df via tok-partitioned
    // count window -> 1-row n_docs scalar joined broadcast (BNLJ on a
    // 1-row aggregate, whitelisted in PlanLintSpec) -> partial
    // WindowGroupLimit truncates per-doc top-3 before the doc_id
    // exchange. The old shape (separate tf/df groupBys + broadcast df
    // map join) scanned text twice and shuffled the token frame twice.
    val plan = SparkEntry.queries("q82_keyword_scores")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(1500))
    assert("WindowGroupLimit .*Partial".r.findFirstIn(plan).nonEmpty, plan.take(1500))
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
    // exactly one scan reads the document text (the n_docs count scan
    // prunes to a zero-column footprint)
    assert("text:string".r.findAllIn(plan).size == 1, plan.take(1500))
  }

  test("sign sketch is map-only: the only exchange is the output sort (q85 plan guard)") {
    val plan = SparkEntry.queries("q85_sign_sketch")(spark, dir)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange ".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected only the sort exchange, got $exchanges:\n${plan.take(1500)}")
    assert(!plan.contains("HashAggregate"), plan.take(1500))
  }

  test("SCD-2 history is one window pass, no self-join (q91 plan guard)") {
    val plan = SparkEntry.queries("q91_scd2_history")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan.take(1200))
    assert("Window ".r.findAllIn(plan).size >= 1, plan.take(1200))
  }

  test("event funnel never self-joins the event stream (q93 plan guard)") {
    // the only nested-loop joins are the 1-row aggregate crossJoins;
    // a CartesianProduct over event-sized inputs is the failure mode
    val plan = SparkEntry.queries("q93_event_funnel")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
  }

  test("source caps truncate map-side before the shuffle (q72 plan guard)") {
    // the rn <= cap filter must plan as WindowGroupLimit(Partial)
    // UPSTREAM of the exchange: each map task forwards at most cap rows
    // per source, so a low-cardinality source column can't skew-wall
    // the window at corpus scale
    val plan = SparkEntry.queries("q72_source_caps")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(1500))
    assert("WindowGroupLimit .* row_number\\(\\), 10, Partial".r
      .findFirstIn(plan).isDefined, plan.take(1500))
  }

  test("bucketed join co-locates: no exchange on the join keys (q139 plan guard)") {
    // both scans carry the 8-bucket layout, so the merge join's
    // ClusteredDistribution is satisfied from storage: the ONLY
    // exchanges allowed are the post-join aggregate and the output
    // sort — an Exchange hashpartitioning on either join key means the
    // co-location was lost (e.g. bucket spec dropped or mismatched)
    val plan = SparkEntry.queries("q139_bucketed_join")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan.take(1500))
    assert(!"Exchange hashpartitioning\\((?:o_custkey|c_custkey)".r
      .findFirstIn(plan).isDefined, plan.take(2000))
    assert(plan.contains("Bucketed: true"), plan.take(2000))
  }

  test("q210 gap curve: monotone, event mass conserved, and the 30-min row counts exactly q65's sessions") {
    val got = SparkEntry.queries("q210_session_gap_curve")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toVector
    assert(got.map(_._1) == Vector(5L, 30L, 120L, 720L))
    // larger gaps can only merge sessions
    assert(got.map(_._2).sliding(2).forall(p => p(0) >= p(1)))
    assert(got.map(_._3).sliding(2).forall(p => p(0) <= p(1)))
    // the dial's 30-min row must count exactly the sessions q65
    // publishes — same `>=` boundary contract, different plan shape
    val q65 = SparkEntry.queries("q65_sessionize")(spark, dir).collect()
    assert(got(1)._2 == q65.length.toLong,
      s"30-min dial row ${got(1)._2} != q65 session count ${q65.length}")
    // mass conservation: sessions x avg = total events at every G
    val n = graft.operators.Tables.events(spark, dir).count()
    got.foreach { case (_, s2, a) =>
      assert(math.abs(s2 * a - n) < 0.5 * s2, s"mass drifted at $s2 x $a vs $n") }
  }
}
