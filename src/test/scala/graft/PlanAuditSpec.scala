package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/**
 * Plan-shape regression guards for the scale-critical claims in
 * SCALE.md: predicate pushdown to the parquet scan, and the shuffle
 * budget of the flagship paths. A refactor that silently un-pushes a
 * filter or adds an exchange fails HERE, not in a 100× slower bench.
 * AQE is disabled per-assertion so the inspected plan is the real one
 * (AdaptiveSparkPlanExec hides exchanges from a naive collect).
 */
class PlanAuditSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = TestSpark.dataDir

  private def withPlainPlans[A](f: => A): A = {
    assume(TestSpark.hasData, s"dataset ${TestSpark.dataDir} not present — skipping plan audit")
    val old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try f finally spark.conf.set("spark.sql.adaptive.enabled", old)
  }

  private def shuffleCount(df: DataFrame): Int =
    df.queryExecution.executedPlan
      .collectWithSubqueries { case s: ShuffleExchangeExec => s }.size

  test("range_full pushes dataset and time predicates into the parquet scan") {
    withPlainPlans {
      val df = SparkEntry.queries("range_full")(spark, sf)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters:"), "no pushdown section in scan")
      // the physical-column pre-filter must reach the scan
      assert(
        plan.contains("IsNotNull(event_type)") || plan.contains("EqualTo(event_type"),
        s"event_type predicate not pushed:\n${plan.take(2000)}")
      // the flagship range read itself computes with ZERO shuffles
      // (scan + filter + project; the output orderBy is the only sort)
      assert(shuffleCount(df) <= 1, "range_full grew an unexpected exchange")
    }
  }

  test("rollup_1s is one partial-agg shuffle plus the output sort") {
    withPlainPlans {
      val df = SparkEntry.queries("rollup_1s")(spark, sf)
      val plan = df.queryExecution.executedPlan.toString
      // map-side partial aggregation present (two HashAggregate tiers)
      assert("HashAggregate".r.findAllIn(plan).size >= 2, "no partial aggregation")
      assert(shuffleCount(df) <= 2, "rollup gained an extra shuffle")
    }
  }

  test("asof_attribution computes with ONE data shuffle plus the output sort") {
    withPlainPlans {
      val df = SparkEntry.queries("asof_attribution")(spark, sf)
      // union + window = one exchange on user_id; the deterministic
      // output orderBy is the second — anything more is a regression
      assert(shuffleCount(df) <= 2, "as-of join no longer single-shuffle")
    }
  }

  test("m4_downsample is one partial-agg shuffle plus the output sort") {
    withPlainPlans {
      val df = SparkEntry.queries("m4_downsample")(spark, sf)
      val plan = df.queryExecution.executedPlan.toString
      // the struct min/max buffers force a sort/object aggregate rather
      // than whole-stage hash agg, but the partial/final SPLIT must
      // stay — that is what bounds the shuffle to ≤ 4·width rows/series
      assert("(Sort|ObjectHash|Hash)Aggregate".r.findAllIn(plan).size >= 2,
        s"no partial aggregation:\n${plan.take(1500)}")
      assert(shuffleCount(df) <= 2, "m4 gained an extra shuffle")
    }
  }

  test("manifest readLevel folds the monoid with one shuffle over live commits") {
    withPlainPlans {
      val root = TestSpark.tmpDir("mstore_plan")
      for (i <- 0 until 2)
        graft.store.ManifestStore.ingestBatchAtomic(spark, root, TestSpark.longDF(Seq(
          ("a", s"2024-01-01T00:00:0$i", 1.0))))
      val df = graft.store.ManifestStore.readLevel(spark, root, graft.model.Fidelity.S1)
      val plan = df.queryExecution.executedPlan.toString
      assert("HashAggregate".r.findAllIn(plan).size >= 2, "merge-on-read lost map-side partials")
      assert(shuffleCount(df) <= 1, "merge-on-read fold grew extra exchanges")
    }
  }

  test("the chart range read folds in one task over few live commits: no exchange, series and range bounds pushed into the scan; more commits keep the exchange") {
    withPlainPlans {
      val root = TestSpark.tmpDir("mstore_chart_plan")
      for (i <- 0 until 2)
        graft.store.ManifestStore.ingestBatchAtomic(spark, root, TestSpark.longDF(Seq(
          ("a", s"2024-01-01T00:00:0$i", 1.0), ("b", s"2024-01-01T00:00:0$i", 2.0))))
      val lo = TestSpark.isoUs("2024-01-01T00:00:00") / 1000000L
      val df = graft.store.ManifestStore.readLevelRange(
        spark, root, graft.model.Fidelity.S1, "a", lo, lo + 1)
      val plan = df.queryExecution.executedPlan.toString
      assert(shuffleCount(df) == 0, s"chart fold grew an exchange:\n${plan.take(2000)}")
      // the scan node's full pushed-filter list (the plan string
      // abbreviates long metadata)
      val pushed = df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metadata.getOrElse("PushedFilters", "")
      }.mkString
      for (c <- Seq("ds_b", "part_s", "bucket_s"))
        assert(s"(EqualTo|GreaterThanOrEqual|LessThanOrEqual)\\($c,".r
          .findFirstIn(pushed).isDefined, s"$c predicate not pushed: $pushed")
      assert(df.collect().map(r => (r.getLong(1), r.getDouble(4))).toSet ==
        Set((lo, 1.0), (lo + 1, 1.0)), "chart fold answer")
      // past four live level dirs the scan stays parallel and the fold
      // keeps its exchange
      for (i <- 2 until 5)
        graft.store.ManifestStore.ingestBatchAtomic(spark, root, TestSpark.longDF(Seq(
          ("a", s"2024-01-01T00:00:0$i", 1.0), ("b", s"2024-01-01T00:00:0$i", 2.0))))
      val wide = graft.store.ManifestStore.readLevelRange(
        spark, root, graft.model.Fidelity.S1, "a", lo, lo + 4)
      assert(shuffleCount(wide) == 1,
        s"a fragmented chart fold lost its exchange:\n${wide.queryExecution.executedPlan.toString.take(2000)}")
      assert(wide.collect().map(r => (r.getLong(1), r.getDouble(4))).toSet ==
        (0L to 4L).map(i => (lo + i, 1.0)).toSet, "distributed chart fold answer")
    }
  }

  test("inverted_index is two combine-capable aggregations, no window sort") {
    withPlainPlans {
      val df = SparkEntry.queries("inverted_index")(spark, sf)
      val plan = df.queryExecution.executedPlan.toString
      // posting prefix must come from the bounded min-k aggregate, not a
      // row_number window (which single-tasks a hot token's postings)
      assert(!plan.contains("Window"), "posting prefix regressed to a window sort")
      assert(plan.contains("min_k_distinct_longs"), "bounded min-k agg missing")
      // (token,doc) agg + vocabulary agg + output sort
      assert(shuffleCount(df) <= 3, "inverted index gained an extra shuffle")
    }
  }

  test("text index search prunes token buckets, broadcasts idf, rank-limits the top-k window") {
    withPlainPlans {
      val df = SparkEntry.queries("text_index_search")(spark, sf)
      val plan = df.queryExecution.executedPlan.toString
      // the posting scan must carry the token-bucket partition filter —
      // the directory-pruning contract that keeps a 3-term query from
      // scanning all 16 buckets
      assert(plan.contains("PartitionFilters") && plan.contains("tb#"),
        s"token-bucket pruning missing:\n${plan.take(2000)}")
      // idf is a |terms|-row literal frame — joining it any other way
      // than broadcast would shuffle the posting rows to serve 3 terms
      assert(plan.contains("BroadcastHashJoin"),
        "idf join regressed from broadcast")
      // the global top-k rank must stay bounded: either WindowGroupLimit
      // (local top-k per task, capped final window) or the stronger
      // TakeOrderedAndProject (per-partition top-k + driver merge, then
      // the window ranks only k rows) — without one of them the full
      // doc-grain score table single-tasks through one global sort
      assert(plan.contains("WindowGroupLimit") ||
          plan.contains("TakeOrderedAndProject"),
        s"rank window lost its group-limit pushdown:\n${plan.take(2000)}")
    }
  }

  test("a ranked BM25 partitions its rank window and adds no exchange above the top-k") {
    withPlainPlans {
      import org.apache.spark.sql.execution.{SparkPlan, TakeOrderedAndProjectExec}
      import org.apache.spark.sql.execution.window.WindowExec
      val idx = TestSpark.tmpDir("plan_bm25_rank")
      val s = spark
      import s.implicits._
      graft.text.TextIndex.ingestShard(spark, idx,
        Seq((0L, "merge sort merge"), (1L, "window merge"), (2L, "scan window"))
          .toDF("doc_id", "text"), "doc_id", "text")
      val df = graft.text.TextIndex.searchBm25(spark, idx, Seq("merge", "window"), 10)
      val plan = df.queryExecution.executedPlan
      val wins = plan.collectWithSubqueries { case w: WindowExec => w }
      // a partition-less WindowExec is the single-partition hazard Spark
      // warns about on every query, although this one ranks <= k rows
      assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
        s"rank window without a partition spec:\n${plan.toString.take(2000)}")
      def aboveTopK(p: SparkPlan): Seq[SparkPlan] = p match {
        case _: TakeOrderedAndProjectExec => Nil
        case o => o +: o.children.flatMap(aboveTopK)
      }
      assert(wins.forall(w => !aboveTopK(w.child).exists(_.isInstanceOf[ShuffleExchangeExec])),
        s"the rank window shuffles the top-k:\n${plan.toString.take(2000)}")
      assert(df.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L), "ranks 1..n")
    }
  }

  test("text_index_search_batch keeps the single-query plan shape: bucket pruning, broadcast legs, rank-limited per-query window") {
    withPlainPlans {
      val df = SparkEntry.queries("text_index_search_batch")(spark, sf)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("tb#"),
        s"token-bucket pruning missing:\n${plan.take(2000)}")
      assert(plan.contains("BroadcastHashJoin"),
        "idf/query-table joins regressed from broadcast")
      // the per-query top-k must stay rank-limited: one batch with a
      // hot query must not single-task a global sort
      assert(plan.contains("WindowGroupLimit"),
        s"per-query rank window lost its group-limit pushdown:\n${plan.take(2000)}")
    }
  }

  test("ivfIndexQuery prunes the posting scan to the probed cells") {
    withPlainPlans {
      import org.apache.spark.sql.functions._
      // a tiny 3-commit persisted index: the probe must carry a STATIC
      // cell partition filter on EVERY per-commit branch of the union —
      // the IVF twin of the text index's tb# guard. (Dynamic partition
      // pruning does not reliably propagate through the per-commit
      // union, so the contract is a driver-computed cell IN-set.)
      val idx = TestSpark.tmpDir("ivf_plan_idx")
      val base = spark.range(0, 300).select(
        col("id").as("vec_id"),
        transform(sequence(lit(0), lit(7)),
          i => (pmod(col("id") * (i + 3), lit(17))).cast("double") + 0.5)
          .as("v"))
      graft.sim.Similarity.ivfIndexBuild(spark, idx,
        base.where(pmod(col("vec_id"), lit(3)) === 0), centroidStep = 30L)
      for (i <- 1 until 3)
        graft.sim.Similarity.ivfIndexAppend(spark, idx,
          base.where(pmod(col("vec_id"), lit(3)) === i))
      val df = graft.sim.Similarity.ivfIndexQuery(spark, idx,
        base.where(col("vec_id") < 2), k = 5, nProbe = 2)
      val plan = df.queryExecution.executedPlan.toString
      val scans = "PartitionFilters: \\[[^\\]]*cell".r.findAllIn(plan).size
      assert(scans >= 3,
        s"every per-commit posting scan must carry a cell partition " +
          s"filter (got $scans of 3):\n${plan.take(3000)}")
      assert(df.count() > 0)
    }
  }

  test("distinct_sketch reduces at register grain with map-side partials") {
    withPlainPlans {
      val df = SparkEntry.queries("distinct_sketch")(spark, sf)
      val plan = df.queryExecution.executedPlan.toString
      assert("HashAggregate".r.findAllIn(plan).size >= 2, "no partial aggregation")
      // register agg + final reduction + exact-count distinct (2) — the
      // cross join of two 1-row sides must be broadcast, never an exchange
      assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
        "1-row cross join is not broadcast")
      assert(shuffleCount(df) <= 4, "sketch gained an extra shuffle")
    }
  }

  test("q3_join broadcasts the customer dimension") {
    withPlainPlans {
      val df = SparkEntry.queries("q3_join")(spark, sf)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
        "dimension join is not broadcast")
    }
  }

  test("round-11 TPC-H shapes: dims broadcast, q19's OR is one joined-row " +
      "filter, q22 plans a broadcast anti-join, q13's outer join is key-to-key") {
    withPlainPlans {
      import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
      def bhj(name: String): Seq[BroadcastHashJoinExec] =
        SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan
          .collectWithSubqueries { case j: BroadcastHashJoinExec => j }
      // q7/q8: every dimension chain broadcasts; the only
      // SortMergeJoin/shuffled join allowed is lineitem ⨝ orders
      for (q <- Seq("q7_volume", "q8_share")) {
        val joins = bhj(q)
        assert(joins.size >= 2, s"$q dimension joins are not broadcast")
        val sc = shuffleCount(SparkEntry.queries(q)(spark, sf))
        assert(sc <= 4,
          s"$q shuffles $sc times — the fact-fact join + agg budget is 4")
      }
      // q19: exactly one join (part broadcast); the OR bands are a
      // filter on the joined row, never a 3-way union of fact scans
      val q19 = SparkEntry.queries("q19_disjunct")(spark, sf)
      assert(bhj("q19_disjunct").size == 1 &&
        !q19.queryExecution.executedPlan.toString.contains("Union"),
        "q19 must be ONE broadcast join + filter, not unioned scans")
      // q22: the never-ordered test plans as a broadcast anti-join
      val q22 = SparkEntry.queries("q22_noorders")(spark, sf)
        .queryExecution.executedPlan.toString
      assert(q22.contains("LeftAnti"), "q22 must plan an anti-join")
      // q17: the correlated per-part cut joins back as a broadcast
      assert(bhj("q17_smallqty").nonEmpty,
        "q17's per-part average must broadcast back onto the fact")
    }
  }

  test("percolate_phrases is row-local: zero shuffles, zero joins — the " +
      "stateless streaming-safe percolation claim") {
    withPlainPlans {
      val df = SparkEntry.queries("percolate_phrases")(spark, sf)
      // the output orderBy is the only exchange allowed (a range
      // partitioning for the sort, not data-plane movement)
      val shuffles = df.queryExecution.executedPlan
        .collectWithSubqueries { case s: ShuffleExchangeExec => s }
      assert(shuffles.size <= 1,
        s"phrase percolation must be row-local, found ${shuffles.size} shuffles")
      assert(!df.queryExecution.executedPlan.toString.contains("Join"),
        "phrase rules must ride as literals, never a join")
    }
  }

  test("heavy_hitters probes the CMS grid via a broadcast, with map-side partials") {
    withPlainPlans {
      // inspect the CMS dataflow directly — the registered query's
      // scoped persist checkpoints the result, hiding the plan
      import org.apache.spark.sql.functions._
      val counts = spark.read.parquet(s"$sf/documents.parquet")
        .select(explode(split(col("text"), " ")).as("key"))
        .where(length(col("key")) > 0)
        .groupBy("key").agg(count(lit(1)).as("n_exact"))
      val df = graft.sketch.Sketches.cmsTopKFrom(counts, 20, 4, 11)
      val plan = df.queryExecution.executedPlan.toString
      // corpus→key counts and counts→grid must both partial-aggregate;
      // the k·d probe rows must broadcast against the grid, and the
      // exact top-k must be a TakeOrdered, never a global sort+limit
      assert("HashAggregate".r.findAllIn(plan).size >= 4, "lost map-side partials")
      assert(plan.contains("BroadcastHashJoin"), "probe join is not broadcast")
      assert(plan.contains("TakeOrdered"), "top-k regressed to a global sort")
    }
  }

  test("bloom_decontaminate probe side is scan → filter: no join, no explosion") {
    withPlainPlans {
      import org.apache.spark.sql.functions._
      val sh = spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id"), graft.text.TextOps.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          explode(graft.text.TextOps.shinglesOf(col("toks"), 3)).as("sh"))
        .distinct()
      val df = graft.sketch.Sketches.bloomMember(
        sh.where(col("doc_id") % 50 === 0).select("sh"), "sh",
        sh.where(col("doc_id") % 50 =!= 0), "sh")
      val plan = df.queryExecution.executedPlan.toString
      // membership is a literal-word bit test: the probe plan must have
      // NO join, and the filter must reference the literal word arrays
      // (element_at) — the shingle explode upstream belongs to the
      // CALLER's input, so Generate is not asserted on
      assert(!plan.contains("Join"), "bloom probe should not join")
      assert(plan.contains("element_at"), "literal-word membership filter missing")
    }
  }

  test("semantic_dedup is a broadcast centroid lookup plus one cell-grain agg") {
    withPlainPlans {
      val base = graft.sim.Similarity.asDouble(
        spark.read.parquet(s"$sf/embeddings.parquet"), "vec_id", "embedding")
      val df = graft.sim.Similarity.semanticDedup(
        base, graft.sim.Similarity.kmeansCentroids(base, 7L, iters = 2))
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), "centroid lookup is not broadcast")
      // assignment is narrow; the ONLY exchange is the cell-grain agg
      assert(shuffleCount(df) <= 1, "semantic dedup shuffles the corpus more than once")
      assert("(Sort|Object|Hash)Aggregate".r.findAllIn(plan).size >= 2,
        "survivor argmax lost its partial aggregation")
    }
  }

  test("pii_redact is a pure narrow projection — zero shuffles") {
    withPlainPlans {
      // unordered operator output (the registered query only adds the
      // deterministic output sort)
      val df = graft.text.TextOps.piiScan(
        spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text")
      assert(shuffleCount(df) == 0, "piiScan must not shuffle")
      // executedPlan.toString marks codegen stages with a "*(n)" prefix
      assert(df.queryExecution.executedPlan.toString.contains("*(1)"),
        "piiScan fell out of whole-stage codegen")
    }
  }

  test("histogram: a one-partition chart bins in its one task with no exchange or broadcast; the registered query's points never reach one partition") {
    withPlainPlans {
      import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
      import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
      import org.apache.spark.sql.execution.window.WindowExec
      val root = TestSpark.tmpDir("hist_plan")
      for (i <- 0 until 3)
        graft.store.ManifestStore.ingestBatchAtomic(spark, root, TestSpark.longDF(Seq(
          ("a", s"2024-01-01T00:00:0$i", i.toDouble), ("b", s"2024-01-01T00:00:0$i", 2.0))))
      val chart = new graft.api.GraftApi(spark, root, s"$root-comments").getData("a",
        TestSpark.isoUs("2024-01-01T00:00:00"), TestSpark.isoUs("2024-01-01T00:00:02"),
        Some(graft.model.Fidelity.S1))
      val one = graft.query.Histogram.histogram(chart, "mean_v", 30)
      val onePlan = one.queryExecution.executedPlan
      assert(shuffleCount(one) == 0 &&
        onePlan.collectWithSubqueries { case b: BroadcastExchangeExec => b }.isEmpty,
        s"the one-task histogram grew an exchange:\n${onePlan.toString.take(3000)}")
      assert(one.collect().map(r => (r.getLong(0), r.getLong(3))).toSet ==
        Set((0L, 1L), (1L, 1L), (2L, 1L)), "one-task histogram answer")

      val many = SparkEntry.queries("histogram")(spark, sf)
      val plan = many.queryExecution.executedPlan
      val windows = plan.collectWithSubqueries { case w: WindowExec => w }
      assert(windows.forall(_.partitionSpec.nonEmpty), "a single-partition window")
      // an exchange to one partition may only gather a global aggregate's
      // partial rows (one per task), never the points themselves
      val toOne = plan.collectWithSubqueries {
        case e: ShuffleExchangeExec if e.outputPartitioning.numPartitions == 1 => e
      }
      assert(toOne.forall(_.child match {
        case org.apache.spark.sql.execution.WholeStageCodegenExec(a: BaseAggregateExec) =>
          a.groupingExpressions.isEmpty
        case a: BaseAggregateExec => a.groupingExpressions.isEmpty
        case _ => false
      }), s"the points are exchanged to one partition:\n${plan.toString.take(3000)}")
      assert(plan.collectWithSubqueries { case b: BroadcastExchangeExec => b }.size == 1,
        "the stats pass is no longer a one-row broadcast")
    }
  }

  test("grouped quantile sketch never plans an un-partitioned window") {
    withPlainPlans {
      import org.apache.spark.sql.functions.col
      val v = CoreQueriesEv.ev(spark, sf)
        .select(col("dataset_id").as("k"), col("value").cast("double").as("v"))
        .where(col("v").isNotNull)
      val df = graft.sketch.Sketches.groupedQuantilePlan(v, Seq(0.5, 0.95), 1024)
      val windows = df.queryExecution.executedPlan
        .collectWithSubqueries {
          case w: org.apache.spark.sql.execution.window.WindowExec => w
        }
      assert(windows.nonEmpty, "expected the per-key cumulative window")
      assert(windows.forall(_.partitionSpec.nonEmpty),
        "cumulative window lost its key partitioning (global sort at scale)")
    }
  }

  test("memorization_risk shuffles 8-byte shingle hashes, never raw 5-grams") {
    withPlainPlans {
      val df = SparkEntry.queries("memorization_risk")(spark, sf)
      val exchanges = df.queryExecution.executedPlan
        .collectWithSubqueries { case s: ShuffleExchangeExec => s }
      assert(exchanges.nonEmpty, "expected the hash-partitioned df exchange")
      val stringKeyed = exchanges.filter {
        _.outputPartitioning match {
          case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
            h.expressions.exists(_.dataType ==
              org.apache.spark.sql.types.StringType)
          case _ => false
        }
      }
      assert(stringKeyed.isEmpty,
        "shingle df exchange regressed to raw 5-gram string keys")
    }
  }

  test("ccnet_buckets derives cutoffs from the bounded grid, not a corpus ntile") {
    withPlainPlans {
      val df = SparkEntry.queries("ccnet_buckets")(spark, sf)
      val windows = df.queryExecution.executedPlan
        .collectWithSubqueries {
          case w: org.apache.spark.sql.execution.window.WindowExec => w
        }
      // the only window is the cumulative count over the ≤1024-cell
      // grid — any window ranking the corpus itself (ntile/row_number
      // over all docs) would be a global-sort scale hazard
      assert(windows.forall(w => !w.windowExpression.exists(
        _.toString.contains("ntile"))),
        "ccnet_buckets must not rank the corpus with ntile")
    }
  }

  test("substring_dup_spans shuffles hashed 8-byte window keys, never raw strings") {
    withPlainPlans {
      val df = SparkEntry.queries("substring_dup_spans")(spark, sf)
      val exchanges = df.queryExecution.executedPlan
        .collectWithSubqueries { case s: ShuffleExchangeExec => s }
      assert(exchanges.nonEmpty, "expected the hashed-window exchange")
      val stringKeyed = exchanges.filter {
        _.outputPartitioning match {
          case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
            h.expressions.exists(_.dataType ==
              org.apache.spark.sql.types.StringType)
          case _ => false
        }
      }
      assert(stringKeyed.isEmpty,
        "window dedup exchange regressed to k-char string keys " +
          "(~6x shuffle volume at k=50)")
    }
  }

  test("series_similarity_100s carries the in-plan series-count guard") {
    withPlainPlans {
      val df = SparkEntry.queries("series_similarity_100s")(spark, sf)
      val plans = df.queryExecution.optimizedPlan.toString +
        df.queryExecution.executedPlan.toString
      // assert_true lowers to raise_error(USER_RAISED_EXCEPTION, …) in
      // the optimized/physical plan text
      assert(plans.contains("raise_error") && plans.contains("maxSeries"),
        "the maxSeries assert_true guard fell out of the pair-join plan")
    }
  }

  test("series_similarity_ann never plans an all-pairs join of the catalog") {
    withPlainPlans {
      val df = SparkEntry.queries("series_similarity_ann")(spark, sf)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        "series ANN planned a cartesian product")
    }
  }

  test("round-7 additions never plan a cartesian; bpe keeps map-side partials") {
    withPlainPlans {
      for (q <- Seq("incremental_dedup", "substring_dup_extract",
          "substring_dup_prune", "substring_dup_winnow", "rag_retrieval")) {
        val plan = SparkEntry.queries(q)(spark, sf)
          .queryExecution.executedPlan.toString
        assert(!plan.contains("CartesianProduct"), s"$q planned a cartesian")
      }
      val bpe = SparkEntry.queries("bpe_pair_topk")(spark, sf)
        .queryExecution.executedPlan.toString
      assert("HashAggregate".r.findAllIn(bpe).size >= 2,
        "bpe_pair_topk lost its partial aggregation")
    }
  }

  test("round-8 additions keep their scale shapes") {
    withPlainPlans {
      // sample_weighted is a pure narrow map + filter: the only
      // exchange allowed is the deterministic output sort
      val sw = SparkEntry.queries("sample_weighted")(spark, sf)
      assert(shuffleCount(sw) <= 1,
        s"sample_weighted grew a data shuffle: ${shuffleCount(sw)}")
      // embedding_centroids must keep map-side partial aggregation —
      // its shuffle carries (label × dim) partials, never corpus rows
      val ec = SparkEntry.queries("embedding_centroids")(spark, sf)
      val ecPlan = ec.queryExecution.executedPlan.toString
      assert("HashAggregate".r.findAllIn(ecPlan).size >= 2,
        "embedding_centroids lost its partial aggregation")
      // cusum: bucket-grain agg + bounded windows; no cartesian anywhere
      for (q <- Seq("series_cusum_100s", "series_autocorr_100s",
          "series_trend_100s", "containment_pairs", "mixture_plan",
          "epoch_shuffle", "series_xcorr_100s", "centroid_classify",
          "vocab_coverage", "value_winsorize", "event_transitions",
          "graph_pagerank")) {
        val plan = SparkEntry.queries(q)(spark, sf)
          .queryExecution.executedPlan.toString
        assert(!plan.contains("CartesianProduct"), s"$q planned a cartesian")
      }
    }
  }

  test("round-10 retrieval stages keep their scale shapes") {
    withPlainPlans {
      // proximity rerank: the candidate text fetch must be a PUSHED
      // point lookup on the corpus scan — a full corpus read here
      // would break the candidate-grain cost model
      val rr = SparkEntry.queries("rerank_proximity")(spark, sf)
      val rrPlan = rr.queryExecution.executedPlan.toString
      assert(rrPlan.contains("PushedFilters:") && rrPlan.contains("In(doc_id"),
        "rerank candidate lookup not pushed into the corpus scan")
      val sn = SparkEntry.queries("search_snippets")(spark, sf)
      val snPlan = sn.queryExecution.executedPlan.toString
      assert(snPlan.contains("In(doc_id"),
        "snippet candidate lookup not pushed into the corpus scan")
      // RM3's weighted re-probe must keep the token-bucket partition
      // pruning — expansion terms ride the same pruned-scan contract
      val rm = SparkEntry.queries("bm25_rm3")(spark, sf)
      val rmPlan = rm.queryExecution.executedPlan.toString
      assert(rmPlan.contains("PartitionFilters") && rmPlan.contains("tb#"),
        "rm3 re-probe lost the token-bucket partition filter")
      // percolation: rules BROADCAST onto the batch, never shuffled or
      // crossed; the row-local streaming formulation is shuffle-FREE
      val pc = SparkEntry.queries("percolate_queries")(spark, sf)
      val pcPlan = pc.queryExecution.executedPlan.toString
      assert(pcPlan.contains("BroadcastHashJoin"),
        "percolate rules no longer broadcast")
      assert(!pcPlan.contains("CartesianProduct"), "percolate went cartesian")
      val corpus = spark.read.parquet(s"$sf/documents.parquet")
      val rowLocal = graft.streaming.StreamPercolate.matches(
        corpus, Seq(1L -> Seq("merge", "scan"), 2L -> Seq("window")))
      assert(shuffleCount(rowLocal) == 0,
        "row-local percolation must plan ZERO exchanges")
      // phrase search: the verify stage must be a pushed point lookup
      // (the candidate set, not the corpus) and the candidate stage
      // must keep the token-bucket pruning
      val ph = SparkEntry.queries("phrase_search")(spark, sf)
      val phPlan = ph.queryExecution.executedPlan.toString
      assert(phPlan.contains("In(doc_id"),
        "phrase verify stage not pushed into the corpus scan")
      // mmr/recall: constant-size joins, never cartesian
      for (q <- Seq("mmr_diversify", "ann_recall_report",
          "dedup_soft_weights", "rag_context_pack")) {
        val plan = SparkEntry.queries(q)(spark, sf)
          .queryExecution.executedPlan.toString
        assert(!plan.contains("CartesianProduct"), s"$q planned a cartesian")
      }
    }
  }

  test("round-7 additions hold their shuffle budgets and stay cartesian-free") {
    withPlainPlans {
      // (query, maxShuffles, maxOneRowBroadcastNLJs): the NLJ allowance
      // is ONLY the 1-row corpus-total broadcasts (vocab LM / PMI
      // normalizers) — any other nested-loop join is a regression
      val budget = Seq(
        ("seasonal_anomaly_100s", 3, 0),
        ("char_entropy", 3, 0),
        ("mixture_alpha_weights", 2, 0),
        ("doc_bigram_logprob", 8, 1),
        ("collocations_topk", 4, 2))
      for ((q, maxSh, maxNlj) <- budget) {
        val df = SparkEntry.queries(q)(spark, sf)
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("CartesianProduct"), s"$q planned a cartesian")
        val nlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
        assert(nlj <= maxNlj, s"$q grew nested-loop joins: $nlj > $maxNlj")
        assert(shuffleCount(df) <= maxSh,
          s"$q exchange budget exceeded: ${shuffleCount(df)} > $maxSh")
        // vocabulary/bucket-grain states must keep map-side combine
        assert("HashAggregate".r.findAllIn(plan).size >= 2,
          s"$q lost partial aggregation")
      }
    }
  }

  test("funnel stages stay on the user_id partitioning — bounded exchanges") {
    withPlainPlans {
      val df = SparkEntry.queries("funnel_steps")(spark, sf)
      // 3 stage aggregations + the final 3-row union sort: anything
      // beyond 8 exchanges means a stage fell off the user_id key
      assert(shuffleCount(df) <= 8,
        s"funnel exchange budget exceeded: ${shuffleCount(df)}")
      assert(!df.queryExecution.executedPlan.toString.contains("CartesianProduct"),
        "funnel planned a cartesian product")
    }
  }

  test("series_despike_100s windows are all series-partitioned (no global window)") {
    withPlainPlans {
      val df = SparkEntry.queries("series_despike_100s")(spark, sf)
      val wins = df.queryExecution.executedPlan.collectWithSubqueries {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(wins.nonEmpty, "expected the rolling-median window in the plan")
      assert(wins.forall(_.partitionSpec.nonEmpty),
        "unpartitioned WindowExec — the single-partition scale-killer")
      // bucket agg + window repartition + output sort
      assert(shuffleCount(df) <= 3,
        s"despike exchange budget exceeded: ${shuffleCount(df)}")
    }
  }

  test("sorted-neighborhood ranking stays out of WindowExec (TeraSort shape)") {
    withPlainPlans {
      val d = spark.read.parquet(s"$sf/documents.parquet")
        .select("doc_id", "text")
      val df = graft.dedup.Dedup.sortedNeighborhoodPairs(d)
      val wins = df.queryExecution.executedPlan.collectWithSubqueries {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(wins.isEmpty,
        "SNM must rank via ops.Ranks, never a global row_number window")
    }
  }

  test("salted top-k plans two bounded window stages, both partitioned") {
    withPlainPlans {
      val df = SparkEntry.queries("salted_topk")(spark, sf)
      val wins = df.queryExecution.executedPlan.collectWithSubqueries {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(wins.size == 2, s"expected salt + merge stages, got ${wins.size}")
      assert(wins.forall(_.partitionSpec.nonEmpty),
        "a salted stage lost its partition spec")
    }
  }

  test("series_dtw_topk evaluates the DTW fold once per unordered pair") {
    withPlainPlans {
      val df = SparkEntry.queries("series_dtw_topk")(spark, sf)
      // exactly ONE ArrayAggregate (the DTW fold) in the whole plan:
      // symmetrization must explode the computed row, not union two
      // selects that each re-evaluate the fold subtree
      val folds = df.queryExecution.optimizedPlan.collect { case p =>
        p.expressions.map(_.collect {
          case a: org.apache.spark.sql.catalyst.expressions.ArrayAggregate => a
        }.size).sum
      }.sum
      assert(folds == 1, s"DTW fold subtree evaluated $folds times")
    }
  }

  test("bpe_encode segments at the vocab grain with a bounded shuffle budget") {
    withPlainPlans {
      val df = SparkEntry.queries("bpe_encode")(spark, sf)
      val plan = df.queryExecution.executedPlan.toString
      // all merge folds are native HOF expressions — no UDF eval nodes
      assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
        "bpe_encode plan contains a UDF")
      // vocab agg + word join + per-doc agg + output sort; anything
      // more means the encoder started folding per OCCURRENCE
      assert(shuffleCount(df) <= 4,
        s"bpe_encode shuffle budget exceeded: ${shuffleCount(df)}")
    }
  }

  test("q18_topk broadcasts the survivor chain — the big tables never shuffle to join") {
    withPlainPlans {
      val df = SparkEntry.queries("q18_topk")(spark, sf)
      val plan = df.queryExecution.executedPlan.toString
      assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
        s"survivor joins not broadcast:\n${plan.take(1500)}")
      assert(!plan.contains("SortMergeJoin"),
        "a fact-side join degenerated to sort-merge")
      // one partial-agg shuffle for the HAVING aggregate; the top-100
      // rides TakeOrderedAndProject, not a global sort exchange
      assert(shuffleCount(df) <= 2,
        s"q18 shuffle budget exceeded: ${shuffleCount(df)}")
    }
  }

  test("fuzzy_name_match joins on the blocking key, never cartesian") {
    withPlainPlans {
      val df = SparkEntry.queries("fuzzy_name_match")(spark, sf)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"blocked self-join degenerated to all-pairs:\n${plan.take(1500)}")
    }
  }

  test("multimodal_phash plan stays collapse-safe and blocks on band keys") {
    withPlainPlans {
      val df = SparkEntry.queries("multimodal_phash")(spark, sf)
      val opt = df.queryExecution.optimizedPlan.toString
      // the pre-fix plan inlined the 64-cell transform into every
      // signature lambda (64× duplication → a megabyte-scale plan and
      // a 43× slowdown); the explode+aggregate shape stays ~5 KB
      assert(opt.length < 50000,
        s"phash plan exploded to ${opt.length} chars — expression " +
          "duplication is back")
      val phys = df.queryExecution.executedPlan.toString
      assert(!phys.contains("CartesianProduct") &&
        !phys.contains("BroadcastNestedLoopJoin"),
        "banded self-join degenerated to all-pairs")
    }
  }

  test("manifest_range_asof pushes series and range predicates into the snapshot scan") {
    withPlainPlans {
      val df = SparkEntry.queries("manifest_range_asof_10s")(spark, sf)
      val plan = df.queryExecution.executedPlan.toString
      // the series-bucket and time predicates must reach the parquet
      // scan (row-group pruning below the merge fold), and the fold is
      // ONE aggregation exchange plus the output sort
      assert(plan.contains("PushedFilters") && plan.contains("ds_b"),
        "ds_b series predicate not pushed to the snapshot scan")
      assert(plan.contains("part_s") && plan.contains("bucket_s"),
        "part/bucket range predicates missing from the scan")
      assert(shuffleCount(df) <= 2,
        s"snapshot range read grew extra exchanges:\n$plan")
    }
  }

  test("no pure query's optimized plan exceeds the collapse-safety ceiling") {
    withPlainPlans {
      // Mechanical guard for the lambda-duplication hazard class: a
      // projection collapse that inlines an ARRAY-building expression
      // into every lambda of a later HOF multiplies the plan by the
      // array width (multimodal_phash hit 64× → a megabyte-scale plan
      // and a 43× slowdown before its explode+aggregate rewrite). The
      // honest plans all sit ≤ ~66 KB (largest: bloom_semi_join's
      // broadcast filter literal), so 150 KB separates "big but real"
      // from "an expression got duplicated per array cell". Fixture
      // queries (store/stream round-trips) are excluded because
      // BUILDING their frame runs the fixture, not because their plans
      // are exempt — their shapes are guarded by their own tests.
      def isFixture(n: String): Boolean =
        n.startsWith("stream_") || n.startsWith("ingest_") ||
          n.startsWith("store_") || n.startsWith("manifest_") ||
          n.startsWith("comments_") ||
          Set("self_metrics", "count_metrics", "rollup_repair",
            "incremental_refresh", "forget_series", "csv_roundtrip")(n)
      val oversized = SparkEntry.queries.toSeq
        .filterNot { case (n, _) => isFixture(n) }
        .flatMap { case (name, fn) =>
          val n = fn(spark, sf).queryExecution.optimizedPlan.toString.length
          if (n >= 150000) Some(s"$name ($n chars)") else None
        }
      assert(oversized.isEmpty,
        s"plans exploded past the 150 KB collapse ceiling: $oversized")
    }
  }

  test("tombstoned text-index reads anti-join the gone set as a BROADCAST " +
      "(never a shuffled anti-join) and stay pruned to the terms' buckets") {
    withPlainPlans {
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val idx = TestSpark.tmpDir("plan_forget_idx")
      graft.text.TextIndex.ingestShard(spark, idx,
        Seq((0L, "alpha beta gamma"), (1L, "beta gamma delta"),
          (2L, "gamma delta epsilon")).toDF("doc_id", "text"),
        "doc_id", "text")
      graft.text.TextIndex.forgetDocs(spark, idx, Seq(1L))
      val df = graft.text.TextIndex.searchBm25(spark, idx, Seq("gamma"), 5)
      val plan = df.queryExecution.executedPlan.toString
      // the gone filter is a broadcast anti-join — a SortMergeJoin here
      // would shuffle the whole posting scan to drop a takedown set
      assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
        s"gone-set anti-join not broadcast:\n${plan.take(2000)}")
      assert(!plan.contains("SortMergeJoin"),
        s"tombstone filter degenerated to a sort-merge join:\n${plan.take(2000)}")
      // token-bucket directory pruning must survive the tombstone path
      assert(plan.contains("PartitionFilters") && plan.contains("tb#"),
        s"term-bucket pruning lost under tombstones:\n${plan.take(2000)}")
      // and with NO live tombstones the read path adds ZERO join nodes
      graft.text.TextIndex.compact(spark, idx)
      val clean = graft.text.TextIndex
        .searchBm25(spark, idx, Seq("gamma"), 5)
        .queryExecution.executedPlan.toString
      assert(!clean.contains("LeftAnti"),
        s"tombstone-free read still carries an anti-join:\n${clean.take(2000)}")
    }
  }

  test("indexKnownIds probes membership with a BROADCAST semi-join of " +
      "the batch ids against the sig scan — never a shuffled join") {
    withPlainPlans {
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val idx = TestSpark.tmpDir("plan_known_idx")
      graft.dedup.Dedup.indexCheckAndIngest(spark, idx,
        Seq((0L, "alpha beta gamma delta epsilon zeta"),
          (1L, "beta gamma delta epsilon zeta eta"))
          .toDF("doc_id", "text"),
        "doc_id", "text", 0.6, deliveryKey = Some("s0")): Unit
      val probe = Seq(0L, 5L).toDF("doc_id")
      val df = graft.dedup.Dedup.indexKnownIds(spark, idx, probe, "doc_id")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
        s"membership probe not a broadcast semi-join:\n${plan.take(2000)}")
      assert(!plan.contains("SortMergeJoin"),
        s"membership probe shuffled the sig scan:\n${plan.take(2000)}")
    }
  }

  test("triangle counting closes wedges with hash/merge joins, never cartesian") {
    withPlainPlans {
      val und = spark.range(0L, 1000L)
        .select(org.apache.spark.sql.functions.col("id").as("a"),
          org.apache.spark.sql.functions.pmod(
            org.apache.spark.sql.functions.col("id") * 7 + 3,
            org.apache.spark.sql.functions.lit(1000L)).as("b"))
        .where(org.apache.spark.sql.functions.col("a") <
          org.apache.spark.sql.functions.col("b"))
      val plan = graft.ops.Graph.triangleCounts(und)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        "triangle join degenerated to a cartesian product")
    }
  }
}

/** Small indirection so the plan audit reuses the exact `ev` melt the
 *  queries run (CoreQueries.ev is the public long view).
 */
private object CoreQueriesEv {
  def ev(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    graft.api.CoreQueries.ev(spark, dir)
}
