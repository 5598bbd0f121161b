package graft

import graft.operators.Queries
import graft.ext.Extensions

/** Every declared query runs, returns its expected shape, and the physical
  * plans carry the scale-critical properties (pushdown, pruning, broadcast).
  * Value-level correctness is the driver's DuckDB oracle (CORRECTNESS_r*);
  * these specs pin what the oracle can't see: plan shape.
  */
class QueriesSpec extends SparkSpec {

  private def run(name: String) = {
    val q = (Queries.all ++ Extensions.all).find(_.name == name).get
    Tables.ensure(spark, sfDir)
    spark.sql(q.spark)
  }

  test("all declared queries execute and are non-empty (except known-empty)") {
    val knownEmpty = Set("q46_exact_dup") // no exact text dups in testdata
    (Queries.all ++ Extensions.all).foreach { q =>
      val n = run(q.name).count()
      if (knownEmpty(q.name)) assert(n >= 0, q.name)
      else assert(n > 0, s"${q.name} returned 0 rows")
    }
  }

  test("driver contract: entry() returns rows and every query has unique name") {
    assert(SparkEntry.entry(spark).count() > 0)
    val qs = SparkEntry.queries
    assert(qs.size == 163,
      s"expected 163 queries (q01-q95 + x49-x116), got ${qs.size}")
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs.keySet),
      "oracle entries without a matching query")
    assert(SparkEntry.oracleSql.keySet == qs.keySet,
      s"rows without an oracle: ${qs.keySet -- SparkEntry.oracleSql.keySet}")
  }

  test("every materialize name is a top-level CTE of its row's Spark text") {
    // parse only: a renamed CTE fails here, not first in the oracle sweep
    import org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith
    import org.apache.spark.sql.graft.GraftSql
    val rows = (Queries.all ++ Extensions.all).filter(_.materialize.nonEmpty)
    assert(rows.size >= 8, rows.map(_.name))
    rows.foreach { q =>
      val ctes = GraftSql.parsePlan(spark, q.spark) match {
        case w: UnresolvedWith => w.cteRelations.map(_._1).toSet
        case _ => Set.empty[String]
      }
      val missing = q.materialize.filterNot(ctes)
      assert(missing.isEmpty,
        s"${q.name}: no CTE named ${missing.mkString(", ")}")
    }
  }

  test("q55: SqlText.bind renders the template to exactly the oracle text") {
    import graft.command.Parameter
    val bound = graft.engine.SqlText.bind(Queries.q55ParamTemplate, Seq(
      Parameter.Text("BUILDING"), Parameter.Real(1000.0),
      Parameter.Text("o'brien")))
    assert(bound == Queries.q55ParamBound,
      s"bound:\n$bound\nexpected:\n${Queries.q55ParamBound}")
    Tables.ensure(spark, sfDir)
    assert(spark.sql(bound).count() > 0)
  }

  test("q53/q54: outer joins actually null-extend (non-vacuous fixtures)") {
    // at sf0.001 only the right-join side is guaranteed sparse; the full
    // join's two-sided nulls are pinned at sf0.01 by the driver oracle
    val r = run("q53_right_join").filter("s_suppkey IS NULL").count()
    assert(r > 0, "q53 never null-extends — fixture degenerated")
  }

  test("q02: column pruning reaches the parquet scan") {
    val plan = run("q02_prune").queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema"), plan)
    assert(!plan.contains("n_nationkey"), "pruned column still read:\n" + plan)
  }

  test("q03: filter is pushed down to the scan") {
    val plan = run("q03_filter").queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("c_mktsegment"),
      plan)
  }

  test("q09: dimension join broadcasts the small side") {
    val plan = run("q09_join").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q31: top-k uses TakeOrderedAndProject (no global sort)") {
    val plan = run("q31_limit_offset").queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  /** The plan the driver runs for `name` (materialized CTEs included). */
  private def driverPlan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("x85: global top-k is a distributed TakeOrderedAndProject") {
    // the rn window must see only the 20 survivors — the candidate set
    // (all support-filtered bigrams; millions at a real vocabulary) goes
    // through per-partition top-k heaps, never a single-partition window
    val plan = driverPlan("x85_collocations")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
  }

  test("q18: aggregation is partial (map-side) then final") {
    val plan = run("q18_tpch_q1").queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), plan)
    assert(plan.contains("partial"), "no map-side partial aggregation:\n" + plan)
  }

  test("q84: quantile sketch aggregates partially (bounded buffer per task)") {
    // the 100 TB point of q84 over q62: approx_percentile's GK summary is
    // fixed-size, so the partial/final split must survive — a plan that
    // shipped raw values to one final agg would void the bounded-memory
    // claim
    val plan = run("q84_quantile_approx").queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
      plan.take(2000))
    assert(plan.contains("partial"), "no map-side partial aggregation:\n" + plan)
  }

  test("x99/x102: normalization and classifier inference stay map-only") {
    // the 100 TB posture of both rows is "pure map over the corpus" — a
    // plan with more than the one output-ordering exchange would mean a
    // shuffle crept into what must stay embarrassingly parallel
    Seq("x99_normalize", "x102_quality_score").foreach { name =>
      val plan = run(name).queryExecution.executedPlan.toString
      val exchanges = "Exchange".r.findAllIn(plan).size
      assert(exchanges <= 2, s"$name must be map-only + final sort:\n$plan")
      assert(!plan.contains("SortMergeJoin") && !plan.contains("HashJoin"),
        s"$name must not join:\n$plan")
    }
  }

  test("x101: feature hashing is one partial-final hash aggregate") {
    val plan = run("x101_feature_hash").queryExecution.executedPlan.toString
    assert(plan.contains("partial"),
      "bucket counts must combine map-side:\n" + plan)
    assert(!plan.contains("Join"), "no join belongs in the hashing trick:\n" + plan)
  }

  test("x98: DSIR joins shuffle on token/doc keys, never nested-loop") {
    val plan = driverPlan("x98_dsir_sample")
    // the vocab-side joins are equi-joins; the two single-row totals
    // (nt/ns) broadcast — any BNLJ beyond those 1-row sides is a plan bug
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("q86: interval overlap join bands time, never nested-loops, matches theta") {
    Tables.ensure(spark, sfDir)
    val banded = SparkEntry.queries("q86_interval_join")(spark, sfDir)
    val plan = banded.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      "time-banded plan must be an equi-join:\n" + plan)
    val naive = spark.sql(
      """SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND a.event_id < b.event_id
        | AND abs(unix_micros(a.ts) - unix_micros(b.ts)) < 300000000
        |ORDER BY a.user_id, id_a, id_b""".stripMargin).collect().toSeq
    assert(banded.collect().toSeq == naive,
      "banded interval join diverges from the theta formulation")
    assert(naive.nonEmpty, "overlap fixture must be non-vacuous")
  }

  test("x105: pagerank is deterministic and mass stays within rounding") {
    val a = SparkEntry.queries("x105_pagerank")(spark, sfDir).collect()
    val b = SparkEntry.queries("x105_pagerank")(spark, sfDir).collect()
    assert(a.toSeq == b.toSeq, "pagerank must be run-deterministic")
    assert(a.length > 1, "host graph degenerated to <2 nodes")
    val mass = a.map(_.getDouble(1)).sum
    assert(mass > 0.9 && mass < 1.1,
      s"rank mass $mass drifted beyond rounding tolerance")
  }

  test("plan hygiene: no CartesianProduct anywhere except declared crosses") {
    // The blanket regression net over EVERY declared row: a
    // CartesianProduct (non-broadcast, partition-pairing cross) is the
    // one plan shape that cannot survive any scale-up. Broadcast
    // nested-loop joins are allowed — every 1-row-totals CROSS JOIN and
    // broadcast-query-side ANN row uses one by design; the broadcast
    // bound keeps them scale-safe. Exceptions are the rows whose DECLARED
    // semantics are a cross of two unbounded sides.
    val declaredCross = Set(
      "q11_cross" // declared CROSS JOIN row (SURVEY B19)
    )
    Tables.ensure(spark, sfDir)
    val offenders = (Queries.all ++ Extensions.all)
      .filterNot(q => declaredCross(q.name))
      .flatMap { q =>
        val plan = spark.sql(q.spark).queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct")) Some(q.name) else None
      }
    assert(offenders.isEmpty,
      s"CartesianProduct leaked into: ${offenders.mkString(", ")}")
  }

  test("x55: ANN scores the corpus against a broadcast query side") {
    val plan = run("x55_ann_topk").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
  }

  test("q56: banded theta join matches q12 exactly with no BNLJ in the plan") {
    val banded = SparkEntry.queries("q56_theta_banded")(spark, sfDir)
    val plan = banded.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "banded plan must not nested-loop:\n" + plan)
    assert(!plan.contains("CartesianProduct"),
      "banded plan must not be a cartesian product:\n" + plan)
    // value-identical to the declared q12 nested-loop plan
    val q12 = run("q12_theta").collect().map(r => (r.getLong(0), r.getLong(1)))
    val q56 = banded.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(q56.sameElements(q12),
      s"banded output diverges: ${q56.length} vs ${q12.length} rows")
  }

  test("q17 approx twin: approx_count_distinct within 5% of exact") {
    Tables.ensure(spark, sfDir)
    val exact = spark.sql(
      "SELECT COUNT(DISTINCT l_partkey) FROM lineitem").head.getLong(0)
    val approx = spark.sql(
      "SELECT approx_count_distinct(l_partkey) FROM lineitem").head.getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.05,
      s"approx=$approx exact=$exact")
  }

  test("x73: quantization is map-only — the sole exchange is the ORDER BY") {
    val plan = run("x73_quantize").queryExecution.executedPlan
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.size <= 1,
      s"expected only the final sort's range exchange, got:\n$plan")
  }

  test("x76: the benchmark gram side broadcasts (tiny by construction)") {
    val plan = run("x76_decontam").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "benchmark side should broadcast, not shuffle the training grams:\n" +
        plan)
  }

  test("q67/q68: windows are keyed — no single-partition WindowExec") {
    for (q <- Seq("q67_ts_range_frame", "q68_distinct_on")) {
      val plan = run(q).queryExecution.executedPlan.toString
      // an unkeyed window plans as 'Window [...] , SinglePartition'
      assert(!plan.contains("SinglePartition"),
        s"$q window moved all rows to one partition:\n$plan")
    }
  }

  test("q68: top-1-per-group pushes the rank limit into the shuffle") {
    val plan = run("q68_distinct_on").queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      "rn = 1 filter should prune rows before the full window sort:\n" +
        plan)
  }

  test("x92: occurrence counting is a fingerprint window, not a self-join") {
    // the window-instance occurrence count must come from COUNT OVER
    // (PARTITION BY wh) — a re-join of the exploded window table against
    // its own aggregate would shuffle the 8-token window payload twice
    val plan = run("x92_substring_dup").queryExecution.executedPlan.toString
    assert(!plan.contains("Join"),
      "x92 should not join the window table against itself:\n" +
        plan.take(2000))
    assert(!plan.contains("SinglePartition"),
      "x92 occurrence window must be keyed on the fingerprint:\n" +
        plan.take(2000))
  }

  test("x93: BPE pair top-20 is a distributed TakeOrderedAndProject") {
    val plan = run("x93_bpe_pairs").queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    assert(plan.contains("partial"),
      "pair counting should partially aggregate map-side:\n" +
        plan.take(2000))
  }

  test("x94/x96: sampling/filter windows are keyed per lang") {
    // x94's 5-row total-weight aggregate is a scalar subquery and MAY
    // single-partition (it is language-count-sized, not corpus-sized); the
    // corpus-sized stages must shuffle on lang and broadcast the quota dim
    val p94 = run("x94_temp_sample").queryExecution.executedPlan.toString
    assert(p94.contains("Exchange hashpartitioning(lang"),
      "x94 quota window must be keyed on lang:\n" + p94.take(2000))
    assert(p94.contains("BroadcastHashJoin"),
      "x94 per-lang quotas should broadcast, not shuffle the corpus:\n" +
        p94.take(2000))
    val p96 = run("x96_quality_filter").queryExecution.executedPlan.toString
    assert(!p96.contains("SinglePartition"),
      "x96 window moved all rows to one partition:\n" + p96.take(2000))
  }

  test("x97: rule filtering is map-only — the sole exchange is the ORDER BY") {
    val plan = run("x97_rule_filter").queryExecution.executedPlan
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.size <= 1,
      s"expected only the final sort's range exchange, got:\n$plan")
  }
}
