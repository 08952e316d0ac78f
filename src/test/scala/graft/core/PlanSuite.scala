package graft.core

import graft.TestBase
import graft.SparkEntry
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}

/** Physical-plan regression net: the properties that make the headline
  * queries scale are asserted, not assumed. A refactor that silently
  * drops a pushed filter, loses a broadcast, or introduces a cartesian
  * product fails here before it ever reaches a cluster.
  */
class PlanSuite extends TestBase {

  private val sfDir = "/root/testdata/sf0.001"

  /** Every node of the physical plan, descending through the AQE wrapper
    * and subqueries (collect() alone stops at AdaptiveSparkPlanExec). */
  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.executedPlan) // pre-execution: initial plan with exchanges
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        Seq(q.plan)
      case other => other.children
    }
    (p +: kids.flatMap(flatten)) ++ p.subqueries.flatMap(flatten)
  }

  private def planOf(name: String): Seq[SparkPlan] =
    flatten(SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan)

  test("q3/q5 push their filters into the parquet scan") {
    for (q <- Seq("q3_shipping_priority", "q5_region_revenue")) {
      val scans = planOf(q).collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(scans.nonEmpty, s"$q: no parquet scans found")
      val pushed = scans.flatMap(_.metadata.get("PushedFilters")).mkString
      assert(pushed.exists(_.isLetter), s"$q: no pushed filters: $pushed")
    }
  }

  test("q1 scan reads only the columns it needs") {
    val scans = planOf("q1_pricing_summary").collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty, "q1: no parquet scans found")
    val readSchema = scans.map(_.metadata("ReadSchema")).mkString
    // 7 used columns, not lineitem's full 16
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_orderkey"),
      s"q1 reads more than it projects: $readSchema")
  }

  test("url_filter_table broadcasts the blocklist side of the anti join") {
    // the UT1-scale contract: the fact side never moves — the
    // normalized entry set ships as ONE broadcast variable and the
    // fact plan is a single suffix-chain-probe filter: no join, no
    // exchange anywhere in it (the blocklist's own normalize/distinct
    // runs as a separate bounded collect before the plan exists)
    val joins = planOf("url_filter_table").collect {
      case b: BroadcastHashJoinExec => b
    }
    assert(joins.isEmpty, s"expected no join at all, got $joins")
    val shuffles = planOf("url_filter_table").collect {
      case s: ShuffleExchangeExec => s
    }
    assert(shuffles.isEmpty,
      s"fact side must not shuffle: ${shuffles.size} exchanges")
  }

  test("token_budget_mixture fact plan is a narrow filter, no exchange") {
    // the two-pass contract: the bounded totals agg runs eagerly at
    // transform time; the RETURNED plan must be a plain md5-threshold
    // filter over the input — no join, no exchange, scale = scan splits
    val shuffles = planOf("token_budget_mixture").collect {
      case s: ShuffleExchangeExec => s
    }
    assert(shuffles.isEmpty,
      s"token-budget fact side must not shuffle: ${shuffles.size}")
    val joins = planOf("token_budget_mixture").collect {
      case b: BroadcastHashJoinExec => b
    }
    assert(joins.isEmpty, s"expected no join, got $joins")
  }

  test("recipe_embed_e2e plans as one narrow chain, zero exchanges") {
    // the FineWeb splice (extract -> embed -> head-score -> threshold)
    // adds NO exchange beyond the recipe's none: blocklist filter, html
    // extraction, embedding, and the head are all per-row projections
    val shuffles = planOf("recipe_embed_e2e").collect {
      case s: ShuffleExchangeExec => s
    }
    assert(shuffles.isEmpty,
      s"embed-gated extraction recipe must not shuffle: ${shuffles.size}")
  }

  test("dimension joins broadcast the small side") {
    val broadcasts = planOf("q5_region_revenue").collect {
      case b: BroadcastHashJoinExec => b
    }
    assert(broadcasts.size >= 2,
      s"q5 should broadcast nation/region, found ${broadcasts.size}")
  }

  test("hot narrow queries run inside whole-stage codegen") {
    // the per-document scalar paths are where 100 TB of text flows; they
    // must stay fused codegen'd projections — an interpreted fallback
    // (codegen limit blown, non-codegen expression introduced) fails here
    // (dedup_exact is excluded: min_by(struct) is a TypedImperativeAggregate
    // and ObjectHashAggregate never participates in whole-stage codegen)
    for (q <- Seq("doc_stats", "doc_token_count", "doc_chunks",
        "multi_ngram", "unicode_normalize", "page_splitter")) {
      val nodes = planOf(q)
      val wsc = nodes.collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
      }
      assert(wsc.nonEmpty, s"$q: no WholeStageCodegen span in the plan")
      // the parquet scan's downstream projection must be inside a span
      val fusedScan = wsc.exists(w => w.collectLeaves().exists {
        case _: org.apache.spark.sql.execution.FileSourceScanExec => true
        case i: org.apache.spark.sql.execution.InputAdapter =>
          i.child.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]
        case _ => false
      })
      assert(fusedScan, s"$q: scan-side projection not fused into codegen")
    }
  }

  test("no unintended cartesian products anywhere in the suite") {
    // broadcast-nested-loop is legitimate ONLY for the intentionally tiny
    // broadcast query sets of the similarity operators and the one-row
    // global-stats cross joins
    val allowedBnl = Set("knn_bruteforce", "knn_lsh", "knn_ivf",
      "knn_lsh_recall", "knn_ivf_recall", "knn_ivfpq_recall", // brute-force reference sides
      "image_knn", // same NearestNeighbors broadcast-query BNL over the
      // checkpointed image embeddings — 200 queries by design
      "image_ivf_recall", // its brute-force reference side, 20 queries
      "knn_graph", "knn_graph_recall", // brute mode IS all-pairs: the
      // constant-cell key folds away and the broadcast nested loop is
      // the designed oracle-baseline plan; ivf mode joins on a real
      // cell key (KNNGraphSuite covers it; no broadcast of the corpus)
      "dedup_simhash_exact", // O(n²) Hamming ground truth is the point
      "sr_anomalies", "per_instance_stats", "clean_missing_data")
    for ((name, fn) <- SparkEntry.queries) {
      val plan =
        try fn(spark, sfDir).queryExecution.executedPlan
        catch { case _: Throwable => null } // fit-at-plan-time queries
      if (plan != null) {
        val nodes = flatten(plan)
        val cartesian = nodes.collect { case c: CartesianProductExec => c }
        assert(cartesian.isEmpty, s"$name has a cartesian product")
        if (!allowedBnl(name)) {
          val bnl = nodes.collect { case b: BroadcastNestedLoopJoinExec => b }
          assert(bnl.isEmpty, s"$name has a broadcast-nested-loop join")
        }
      }
    }
  }

  test("bucketed co-located join plans with zero exchanges") {
    // big⋈big on the bucket key: bucketBy(n) carries the hash
    // partitioning into the scan, the SMJ needs no Exchange on either
    // side, and the co-partitioning propagates through the inner join so
    // the groupBy on the join key aggregates exchange-free too. Broadcast
    // is disabled so small-sf data can't hide a missing
    // bucket-partitioning behind a BHJ. (Spark 3+ no longer claims sort
    // order from bucketed scans — SQLConf.LEGACY_BUCKETED_TABLE_SCAN_
    // OUTPUT_ORDERING defaults off — so SortExec nodes remain in the
    // plan; with sortBy + one file per bucket they sort already-sorted
    // runs, and the expensive property, zero exchanges, is what we pin.)
    // fixed path: overwrite replaces files in place across runs (a fresh
    // temp dir per run would orphan the previous external-table files)
    val staging = new java.io.File(
      sys.props("java.io.tmpdir"), "graft_bjtest").toString
    import org.apache.spark.sql.functions.{col, sum}
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val o = spark.read.parquet(s"$sfDir/orders.parquet")
        .select(col("o_orderkey"), col("o_orderpriority"))
      val l = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_extendedprice"))
      val joined = graft.io.Bucketing
        .coLocatedJoin(l, "l_orderkey", o, "o_orderkey", 4, staging, "graft_bjt")
        .groupBy(col("o_orderkey"), col("o_orderpriority"))
        .agg(sum(col("l_extendedprice")).as("rev"))
      val nodes = flatten(joined.queryExecution.executedPlan)
      val exchanges = nodes.collect { case s: ShuffleExchangeExec => s }
      assert(exchanges.isEmpty,
        s"bucketed join still exchanges: ${exchanges.map(_.outputPartitioning)}")
      val smj = nodes.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }
      assert(smj.nonEmpty, "expected a sort-merge join over bucketed scans")
      // and the result is the plain join's result
      val plain = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderpriority"))
        .agg(sum(col("l_extendedprice")).as("rev"))
      assertDFEq(joined, plain)
    }
  }

  test("dedup candidate generation shuffles narrow payloads only") {
    // the minhash band explode must NOT carry the hashed-shingle array
    // through its shuffle: no shuffle in dedup_minhash's plan may carry
    // an array-typed shingle column
    val shuffles = planOf("dedup_minhash").collect {
      case s: ShuffleExchangeExec => s
    }
    assert(shuffles.nonEmpty, "dedup_minhash: no shuffles found")
    val wide = shuffles.filter(_.child.output.exists(a =>
      a.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] &&
        a.name.contains("__sh")))
    assert(wide.isEmpty,
      s"dedup_minhash shuffles the shingle array: ${wide.map(_.child.output.map(_.name))}")
  }
}
