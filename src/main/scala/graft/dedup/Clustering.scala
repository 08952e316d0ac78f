package graft.dedup

import graft.core._
import org.apache.spark.HashPartitioner
import org.apache.spark.ml.Transformer
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Distributed connected components over an edge list — the transitive-
  * closure step a pairwise near-dup detector needs to become a CLUSTERER
  * (pair drop lists answer "is this a dup of something smaller"; training-
  * data curation also wants "which documents are the same underlying
  * document", i.e. the whole component, to pick one canonical doc or to
  * weight by cluster size).
  *
  * Algorithm: alternating large-star/small-star min-label contraction
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC'14 — public literature). Converges in O(log n) rounds to a star
  * forest (child → component-min edges). Each round is three shuffles of
  * the narrow (long, long) edge list (partition the undirected view,
  * partition the half view, distinct the output); the min reduces and
  * both joins are narrow on the pre-partitioned forms. No step ever
  * materializes a neighbor LIST, so a hub node of any degree streams
  * through reduce/join without skew blowup.
  *
  * The iteration runs on `RDD[(Long, Long)]` deliberately: iterative
  * self-derived plans need explicit lineage truncation (`localCheckpoint`)
  * and eager unpersist of the previous round — control the DataFrame API
  * does not expose. Input/output are DataFrames.
  */
object GraphFunctions {

  /** Per-round canonical form: self-loops dropped, (big, small) order. */
  private def canonical(e: RDD[(Long, Long)]): RDD[(Long, Long)] =
    e.filter(p => p._1 != p._2)
      .map(p => if (p._1 < p._2) (p._2, p._1) else p)

  /** Order-independent edge-set signature for convergence detection. */
  private def signature(e: RDD[(Long, Long)]): (Long, Long) =
    e.aggregate((0L, 0L))(
      (acc, p) => {
        var h = p._1 * 0x9E3779B97F4A7C15L + p._2
        h ^= h >>> 32; h *= 0xff51afd7ed558ccdL; h ^= h >>> 32
        (acc._1 + 1, acc._2 + h)
      },
      (a, b) => (a._1 + b._1, a._2 + b._2))

  /** Connected components of the undirected graph in `edges`. Returns one
    * row per DISTINCT vertex id appearing in `edges`, with `component` =
    * the smallest vertex id in its component. Deterministic: the fixpoint
    * is unique regardless of partitioning or iteration order.
    *
    * Cache residency: the result is backed by a materialized locally-
    * checkpointed RDD (an iterative computation cannot hand back a
    * recomputable lazy plan), holding one narrow (long, long) row per
    * edge-set vertex in the block cache until the app ends — for near-dup
    * clustering that is the candidate vertices only, ≪ the corpus. All
    * per-round intermediates ARE eagerly unpersisted.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 25): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val parts = spark.sessionState.conf.numShufflePartitions

    var e = canonical(
      edges.select(col(srcCol).cast("long"), col(dstCol).cast("long"))
        .as[(Long, Long)].rdd)
      .distinct(parts).persist(StorageLevel.MEMORY_AND_DISK)
    e.localCheckpoint()
    var prevSig = signature(e)
    // Size-adaptive round partitioning (the AQE-coalesce rule, applied by
    // hand because the iteration lives in RDD land where AQE cannot): a
    // round is three shuffles of a narrow 16-byte pair, and at the conf
    // partition count a small edge set pays `parts` tasks per shuffle for
    // microscopic blocks — measured 395 pinned tasks / 22 stages on the
    // sf0.1 near-dup gates. Derive the ROUND partitioner from the
    // measured edge count (signature() already materialized it): ~512k
    // pairs ≈ 8 MB per partition, never above the session conf (the
    // cluster operator's lever), never below 1. The fixpoint is
    // partition-independent (scaladoc), so the label output is unchanged.
    val roundParts = math.max(1L, math.min(parts.toLong,
      prevSig._1 / 524288L + 1L)).toInt
    val part = new HashPartitioner(roundParts)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      // Three shuffles per round, all on narrow (long, long) pairs:
      // partitionBy(und), partitionBy(half), distinct(next). The min
      // reduces and both joins are narrow on the pre-partitioned forms
      // (reduceByKey/join with the SAME partitioner), and each
      // partitionBy's shuffle files serve both of its consumers — no
      // recompute, no extra caching.
      // large-star: m(u) = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u), v > u
      val und = e.flatMap { case (a, b) => Iterator((a, b), (b, a)) }
        .partitionBy(part)
      val mins = und.reduceByKey(part, math.min(_: Long, _: Long)) // narrow
      val ls = und.filter { case (u, v) => v > u } // partitioner preserved
        .join(mins) // both sides on `part` — narrow
        .map { case (u, (v, mn)) => (v, math.min(mn, u)) }
      // small-star on (u, v<u): m(u) = min N(u); emit (v, m) ∀v∈N(u)∖{m}, + (u, m)
      val half = canonical(ls).partitionBy(part)
      val mins2 = half.reduceByKey(part, math.min(_: Long, _: Long)) // narrow
      val ss = half.join(mins2).flatMap { case (u, (v, m)) =>
        if (v == m) Iterator((u, m)) else Iterator((v, m), (u, m))
      }
      val next = canonical(ss).distinct(roundParts)
        .persist(StorageLevel.MEMORY_AND_DISK)
      next.localCheckpoint() // truncate lineage; freed round's RDD can go
      val sig = signature(next) // materializes next (and the checkpoint)
      converged = sig == prevSig
      prevSig = sig
      e.unpersist(blocking = false)
      e = next
      it += 1
    }
    require(converged,
      s"connectedComponents did not converge in $maxIter rounds — raise " +
        "maxIter (star contraction converges in O(log n) rounds)")
    // star forest: every child has exactly one (child, root) edge; roots
    // label themselves. Materialize labels standalone (checkpoint + count)
    // BEFORE freeing the final edge RDD they derive from — the returned
    // DataFrame is lazy and must not depend on unpersisted blocks.
    val labels = e
      .flatMap { case (v, m) => Iterator((v, m), (m, m)) }
      .reduceByKey(part, math.min(_: Long, _: Long))
      .persist(StorageLevel.MEMORY_AND_DISK)
    labels.localCheckpoint()
    labels.count()
    e.unpersist(blocking = false)
    labels.toDF("id", "component")
  }
}

/** Near-duplicate CLUSTER assignment: the MinHash+LSH candidate/verify
  * body of [[MinHashDeduplicator]] ([[MinHashLshParams.verifiedPairs]]:
  * same params, exact shingle Jaccard ≥ threshold) followed by
  * [[GraphFunctions.connectedComponents]] over the verified pairs. Adds
  * `outputCol` (default `cluster_id`) = the smallest id among all
  * documents transitively connected by verified Jaccard ≥ threshold;
  * documents with no verified near-dup keep their own id.
  *
  * Where [[MinHashDeduplicator]] answers "drop this doc?", this operator
  * answers "which docs are the same doc" — the form needed for canonical-
  * doc selection, cluster-size weighting, or dup-rate auditing in a
  * training-data pipeline.
  */
class DuplicateClusterer(override val uid: String) extends Transformer
    with HasInputCol with HasOutputCol with MinHashLshParams
    with graft.core.GraftWritable {
  def this() = this(Identifiable.randomUID("DuplicateClusterer"))
  setDefault(outputCol -> "cluster_id")

  final val idCol = new Param[String](this, "idCol", "unique row id column")
  def setIdCol(v: String): this.type = set(idCol, v)
  final val maxIter = new IntParam(this, "maxIter",
    "connected-components round bound", ParamValidators.gt(0))
  setDefault(maxIter -> 25)
  def setMaxIter(v: Int): this.type = set(maxIter, v)

  override def transform(ds: Dataset[_]): DataFrame = {
    transformSchema(ds.schema)
    val df = ds.toDF()
    val id = col($(idCol))
    val verified = verifiedPairs(df, id, col(getInputCol))
    // collision-proof label columns: the input frame may legitimately
    // carry a column named `component` or `id`
    val ccId = graft.core.DatasetExtensions.findUnusedColumnName("__cc_id", df)
    val ccComp = graft.core.DatasetExtensions.findUnusedColumnName("__cc_comp", df)
    val labels = GraphFunctions
      .connectedComponents(verified, "__id_l", "__id_r", $(maxIter))
      .withColumnRenamed("id", ccId)
      .withColumnRenamed("component", ccComp)
    df.join(labels, id.cast("long") === col(ccId), "left_outer")
      .withColumn(getOutputCol,
        coalesce(col(ccComp), id.cast("long")))
      .drop(ccId, ccComp)
  }
  override def transformSchema(schema: StructType): StructType = {
    SchemaChecks.requireCols(schema,
      "idCol" -> $(idCol), "inputCol" -> getInputCol)
    // withColumn would silently overwrite a pre-existing column of this
    // name (SequencePacker guards the analogous case); fail fast instead
    require(!schema.fieldNames.contains(getOutputCol),
      s"input already has a column named '$getOutputCol'; set outputCol " +
        "to an unused name")
    StructType(schema :+ StructField(getOutputCol, LongType))
  }
  override def copy(extra: ParamMap): DuplicateClusterer = defaultCopy(extra)
}
object DuplicateClusterer extends graft.core.GraftReadable[DuplicateClusterer]

/** Canonical-document selection: one row per cluster — the member with
  * the LARGEST `scoreCol` (ties to the smallest id) plus a
  * `cluster_size` count. Composed after [[DuplicateClusterer]] this is
  * the standard near-dup curation step: keep the best copy (longest /
  * highest-quality), drop the rest, and keep the multiplicity for
  * dup-rate-weighted sampling.
  *
  * Scale shape: ONE hash aggregation (`max_by` over the full row struct,
  * keyed by cluster) — partial-aggregating, so a giant duplicate
  * cluster combines map-side and only one candidate row per (cluster,
  * partition) reaches the exchange. Deliberately NOT a window: a
  * row_number over the cluster key ships every member of the largest
  * cluster to one task, which is exactly the skew a 100 TB dedup pass
  * cannot afford.
  */
class CanonicalSelector(override val uid: String) extends Transformer
    with graft.core.GraftWritable {
  def this() = this(Identifiable.randomUID("CanonicalSelector"))

  final val clusterCol = new Param[String](this, "clusterCol",
    "cluster label column")
  setDefault(clusterCol -> "cluster_id")
  def setClusterCol(v: String): this.type = set(clusterCol, v)
  final val idCol = new Param[String](this, "idCol", "unique row id column")
  setDefault(idCol -> "doc_id")
  def setIdCol(v: String): this.type = set(idCol, v)
  final val scoreCol = new Param[String](this, "scoreCol",
    "numeric goodness column; the cluster member with the largest value " +
      "(smallest id on ties) is kept")
  def setScoreCol(v: String): this.type = set(scoreCol, v)

  override def transform(ds: Dataset[_]): DataFrame = {
    val df = ds.toDF()
    require(!df.columns.contains("cluster_size"),
      "input already has a column named 'cluster_size'")
    // lexicographic (score, -id) max == argmax score with min-id ties;
    // ids are required non-negative for the negation to order correctly
    val ord = struct(col($(scoreCol)),
      (col($(idCol)).cast("long") * -1L).as("__negid"))
    val all = struct(df.columns.map(col).toIndexedSeq: _*)
    val agg = df.groupBy(col($(clusterCol)))
      .agg(max_by(all, ord).as("__best"), count(lit(1)).as("cluster_size"))
    val rest = df.columns.filterNot(_ == $(clusterCol))
    agg.select((col($(clusterCol)) +:
      rest.map(f => col(s"__best.`$f`").as(f)).toSeq :+
      col("cluster_size")): _*)
  }
  override def transformSchema(schema: StructType): StructType =
    StructType(
      schema($(clusterCol)) +:
      schema.filterNot(_.name == $(clusterCol)) :+
      StructField("cluster_size", LongType, nullable = false))
  override def copy(extra: ParamMap): CanonicalSelector = defaultCopy(extra)
}
object CanonicalSelector extends graft.core.GraftReadable[CanonicalSelector]
