package graft.dedup

import graft.TestBase
import org.apache.spark.sql.functions._

class IncrementalMinHashSuite extends TestBase {
  import spark.implicits._

  lazy val corpus = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "completely different content about database engines and query planners"),
    (2L, "a third curated document that is entirely unique in every way")
  ).toDF("doc_id", "text")

  // 10: near-dup of corpus 0 (one word changed, Jaccard ~0.71 at k=2);
  // 11+12: in-batch near-dup pair; 13: fresh
  lazy val batch = Seq(
    (10L, "the quick brown fox jumps over the lazy cat near the river bank today"),
    (11L, "a brand new page from this snapshot with plenty of words to shingle"),
    (12L, "a brand new page from this snapshot with plenty of words to mingle"),
    (13L, "another genuinely fresh document with nothing shared at all")
  ).toDF("doc_id", "text")

  // the attached corpus picks the verify rule: setCorpus (raw text) is
  // exact shingle Jaccard, setCorpusIndex is signature agreement
  private def op() = new IncrementalMinHashDeduplicator()
    .setInputCol("text").setIdCol("doc_id").setShingleSize(2)
    .setNumHashes(128).setBands(32).setThreshold(0.6)

  private lazy val idx = IncrementalMinHashDeduplicator.signatureIndex(
    corpus, "doc_id", "text", 2, 128)

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("doc_id").as[Long].collect().sorted.toSeq

  test("exact mode: corpus near-dups drop, in-batch pair collapses") {
    val out = op().setCorpus(corpus).transform(batch)
    assert(ids(out) == Seq(11L, 13L))
  }

  test("signature mode from the index alone agrees on clear margins") {
    val out = op().setCorpusIndex(idx).transform(batch)
    assert(ids(out) == Seq(11L, 13L))
  }

  test("signature mode from raw corpus equals index path") {
    // the raw corpus verifies exactly and the index by signature; on
    // this clear-margin fixture both rules decide alike
    val viaRaw = op().setCorpus(corpus).transform(batch)
    val viaIdx = op().setCorpusIndex(idx).transform(batch)
    assertDFEq(viaRaw, viaIdx)
  }

  test("a raw corpus means exact verification: streaming-identical " +
    "decisions at the cutoff, unlike the signature index") {
    val (gCorpus, gBatch) = IncrementalMinHashSuite.graded(spark)
    def stage() = new IncrementalMinHashDeduplicator().setInputCol("text")
      .setIdCol("doc_id").setNumHashes(32).setBands(16).setThreshold(0.5)
    val gIdx = IncrementalMinHashDeduplicator.signatureIndex(
      gCorpus, "doc_id", "text", 3, 32)
    val viaRaw = ids(stage().setCorpus(gCorpus).transform(gBatch))
    val streaming = new graft.streaming.StreamingMinHashDeduplicator()
      .setInputCol("text").setNumHashes(32).setBands(16).setThreshold(0.5)
      .setCorpusIndex(gIdx).setCorpus(gCorpus, "doc_id", "text")
    try {
      val viaStream = ids(streaming.transformMicroBatch(gBatch))
      assert(viaRaw == viaStream,
        s"incremental raw-corpus $viaRaw vs streaming exact $viaStream")
    } finally streaming.release()
    val viaIdx = ids(stage().setCorpusIndex(gIdx).transform(gBatch))
    assert(viaRaw != viaIdx,
      s"raw corpus decided like the signature index ($viaRaw)")
  }

  test("a clean batch passes through untouched") {
    val clean = Seq(
      (20L, "some words that exist nowhere else in any corpus fixture"),
      (21L, "yet another disjoint sentence carrying no shared shingles"))
      .toDF("doc_id", "text")
    assert(ids(op().setCorpus(corpus).transform(clean)) ==
      Seq(20L, 21L))
    assert(ids(op().setCorpusIndex(idx).transform(clean)) ==
      Seq(20L, 21L))
  }

  test("over-threshold candidate count falls back to shuffle joins") {
    // the broadcast hints on the candidate/drop id frames are gated on
    // the MEASURED candidate bytes against the session's
    // spark.sql.autoBroadcastJoinThreshold (the frames carry no stats):
    // over it — here -1, which also turns the planner's own broadcasts
    // off — no join may carry a broadcast HINT, the strategy is the
    // planner's again (a huge high-dup-rate delta could otherwise push a
    // forced broadcast past Spark's 8 GB cap; AQE re-broadcasting a
    // frame it MEASURED as tiny at runtime stays legitimate and is why
    // the assertion reads the optimized plan's join hints, not the
    // executed strategy), and the result must be unchanged.
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join,
      LogicalPlan}
    val plans = scala.collection.mutable.ArrayBuffer.empty[LogicalPlan]
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        plans.synchronized { plans += qe.optimizedPlan }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      // broadcast flags of every join in the survivor anti-join's plans
      def antiJoinBroadcastHints(): Seq[Boolean] = {
        org.apache.spark.graftshims.ListenerBridge
          .waitUntilEmpty(spark.sparkContext, 5000)
        val p = plans.synchronized { val s = plans.toSeq; plans.clear(); s }
        val joins = p.filter(_.exists {
          case j: Join => j.joinType == LeftAnti
          case _ => false
        }).flatMap(_.collect { case j: Join => j })
        assert(joins.nonEmpty, "expected the survivor anti-join to run")
        joins.map(j => Seq(j.hint.leftHint, j.hint.rightHint).flatten
          .exists(_.strategy.contains(BROADCAST)))
      }
      val small = withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        op().setCorpus(corpus).transform(batch)
      }
      assert(!antiJoinBroadcastHints().exists(identity),
        "over-threshold path must not hint a broadcast")
      val default = op().setCorpus(corpus).transform(batch)
      assert(antiJoinBroadcastHints().exists(identity),
        "under-threshold path should keep the broadcast hint")
      assert(ids(small) == Seq(11L, 13L) && ids(default) == Seq(11L, 13L),
        "fallback must not change decisions")
    } finally spark.listenerManager.unregister(l)
  }

  test("matches a from-scratch MinHashDeduplicator over the union") {
    // corpus already near-deduped with smaller ids: a full rebuild's
    // batch-side survivors must equal the incremental (exact-mode) result
    val full = new MinHashDeduplicator().setInputCol("text")
      .setIdCol("doc_id").setShingleSize(2).setNumHashes(128).setBands(32)
      .setThreshold(0.6).transform(corpus.unionByName(batch))
    val fullBatch = ids(full.filter(col("doc_id") >= 10))
    val inc = op().setCorpus(corpus).transform(batch)
    assert(ids(inc) == fullBatch)
  }
}

object IncrementalMinHashSuite {
  /** Graded fixture whose pairs straddle a 0.5 threshold: corpus doc i
    * holds 40 tokens c<i>_*, and batch doc i + 100 shares a prefix of
    * 10 + i of them, so exact Jaccard sweeps through the cutoff. At 32
    * hashes (se ~0.09 at t=0.5) the signature estimate and the exact
    * Jaccard decide at least one pair differently. */
  def graded(spark: org.apache.spark.sql.SparkSession)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    def ctext(i: Int): String =
      (1 to 40).map(j => s"c${i}_$j").mkString(" ")
    def btext(i: Int): String =
      ((1 to (10 + i)).map(j => s"c${i}_$j") ++
        ((10 + i + 1) to 40).map(j => s"b${i}_$j")).mkString(" ")
    ((0 until 20).map(i => (i.toLong, ctext(i))).toDF("doc_id", "text"),
      (0 until 20).map(i => (i + 100L, btext(i))).toDF("doc_id", "text"))
  }
}
