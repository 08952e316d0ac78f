package graft.sim

import graft.core._
import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** IVF (inverted-file) approximate nearest neighbors — the classic
  * coarse-quantizer scale path (public design: Sivic/Zisserman "Video
  * Google" posting lists; FAISS IVF-Flat): k-means the corpus into
  * `nLists` cells, store each vector in its cell's posting list, and
  * answer a query by scanning only its `nProbe` closest cells.
  *
  * Spark-first plan: the quantizer trains driver-side on a bounded
  * hash-ordered sample (FAISS-style — one TakeOrdered job, then local
  * Lloyd); cell assignment is one narrow argmin pass over the broadcast
  * centroid matrix; queries broadcast with their probe lists; the probe
  * join shuffles only (cell, query) pairs; per-query top-k runs through
  * the map-side-combining [[TopKAggregator]]. Probe fraction
  * nProbe/nLists bounds the scanned corpus share — at 100 TB with
  * nLists=4096, nProbe=64 each query touches ~1.6% of vectors.
  */
class IVFNearestNeighbors(override val uid: String)
    extends Estimator[IVFNearestNeighborsModel] with HasInputCol
    with QuantizerParams with graft.core.GraftWritable {
  def this() = this(Identifiable.randomUID("IVFNearestNeighbors"))

  final val idCol = new Param[String](this, "idCol", "corpus id column")
  def setIdCol(v: String): this.type = set(idCol, v)
  final val nLists = new IntParam(this, "nLists", "k-means cells",
    ParamValidators.gt(0))
  setDefault(nLists -> 64)
  def setNLists(v: Int): this.type = set(nLists, v)

  override def fit(ds: Dataset[_]): IVFNearestNeighborsModel = {
    val df = ds.toDF()
    // spherical k-means (Dhillon & Modha '01): the ANN metric is cosine,
    // so the quantizer clusters DIRECTIONS — unit-normalized points and
    // centroids; L2-argmin on the unit sphere is exactly cosine-argmax
    val sample = IVF.sample(df.select(col($(idCol)).cast("long").as("__id"),
      col(getInputCol).cast(ArrayType(DoubleType)).as("__v")), $(trainSample))
    val m = new IVFNearestNeighborsModel(uid + "_model")
    m.set(m.inputCol, getInputCol).set(m.idCol, $(idCol))
    m.centroids = IVF.lloyd(sample, $(nLists), $(maxIter), $(seed))
    m
  }
  override def transformSchema(schema: StructType): StructType =
    IVFNearestNeighborsModel.outputSchema
  override def copy(extra: ParamMap): IVFNearestNeighbors = defaultCopy(extra)
}
object IVFNearestNeighbors extends graft.core.GraftReadable[IVFNearestNeighbors]


class IVFNearestNeighborsModel(override val uid: String)
    extends Model[IVFNearestNeighborsModel] with HasInputCol
    with org.apache.spark.ml.util.MLWritable {
  def this() = this(Identifiable.randomUID("IVFNearestNeighborsModel"))

  // queriesDf is per-run input, not model state; only params + centroids
  // persist, and the loader re-attaches queries via setQueries
  override def write: org.apache.spark.ml.util.MLWriter =
    new org.apache.spark.ml.util.MLWriter {
      override protected def saveImpl(path: String): Unit = {
        org.apache.spark.ml.graftshims.PipelineMetadataShim
          .save(IVFNearestNeighborsModel.this, path, sparkSession)
        graft.core.ModelIO.writeText(sparkSession, s"$path/params.json",
          graft.core.ModelIO.paramsJson(IVFNearestNeighborsModel.this))
        graft.core.ModelIO.writeObject(sparkSession, s"$path/centroids.bin",
          centroids)
      }
    }

  final val idCol = new Param[String](this, "idCol", "corpus id column")
  final val k = new IntParam(this, "k", "neighbors per query")
  setDefault(k -> 10)
  def setK(v: Int): this.type = set(k, v)
  final val nProbe = new IntParam(this, "nProbe", "cells scanned per query")
  setDefault(nProbe -> 8)
  def setNProbe(v: Int): this.type = set(nProbe, v)

  var centroids: Array[Array[Double]] = _

  private var queriesDf: DataFrame = _
  def setQueries(df: DataFrame, queryIdCol: String, vecCol: String): this.type = {
    queriesDf = df.select(col(queryIdCol).as("query_id"), col(vecCol).as("__qv"))
    this
  }

  override def transform(ds: Dataset[_]): DataFrame = {
    require(queriesDf != null, "setQueries first")
    val df = ds.toDF()
    val spark = df.sparkSession
    // broadcast centroid matrix is tiny (nLists × dim doubles)
    val ctr = spark.sparkContext.broadcast(centroids)
    val np = $(nProbe)
    // corpus -> cells: one narrow argmin pass over broadcast centroids
    // (no mllib transform, no extra lineage)
    val assignUdf = udf((v: Seq[Double]) =>
      IVF.nearest(ctr.value, IVF.normalize(v.toArray))._1)
    val corpus = df
      .select(col($(idCol)).cast("long").as("id"), col(getInputCol).as("__cv"))
      .withColumn("__cell",
        assignUdf(col("__cv").cast(ArrayType(DoubleType))))
    val probeUdf = udf((q: Seq[Double]) =>
      IVF.probeOrder(ctr.value, IVF.normalize(q.toArray), np))
    val qs = queriesDf
      .withColumn("__cell",
        explode(probeUdf(col("__qv").cast(ArrayType(DoubleType)))))
    val sim = SimilarityFunctions.cosine(col("__qv"), col("__cv"))
    val topk = udaf(new TopKAggregator($(k)), Encoders.product[Scored])
    corpus.join(broadcast(qs), Seq("__cell"))
      .select(col("query_id"), sim.as("score"), col("id"))
      .groupBy("query_id")
      .agg(topk(col("score"), col("id")).as("neighbors"))
  }
  override def transformSchema(schema: StructType): StructType =
    IVFNearestNeighborsModel.outputSchema
  override def copy(extra: ParamMap): IVFNearestNeighborsModel = {
    val c = new IVFNearestNeighborsModel(uid)
    c.centroids = centroids; c.queriesDf = queriesDf
    copyValues(c, extra)
  }
}

object IVFNearestNeighborsModel
    extends org.apache.spark.ml.util.MLReadable[IVFNearestNeighborsModel] {
  override def read: org.apache.spark.ml.util.MLReader[IVFNearestNeighborsModel] =
    new org.apache.spark.ml.util.MLReader[IVFNearestNeighborsModel] {
      override def load(path: String): IVFNearestNeighborsModel = {
        val m = new IVFNearestNeighborsModel()
        graft.core.ModelIO.setParamsFromJson(m,
          graft.core.ModelIO.readText(sparkSession, s"$path/params.json"))
        m.centroids = graft.core.ModelIO
          .readObject[Array[Array[Double]]](sparkSession, s"$path/centroids.bin")
        m
      }
    }

  val outputSchema: StructType = StructType(Seq(
    StructField("query_id", LongType),
    StructField("neighbors", ArrayType(StructType(Seq(
      StructField("score", DoubleType), StructField("id", LongType)))))))
}

/** The spherical quantizer's training params — `seed`, `maxIter` and
  * `trainSample`, declared once for every quantizer-based vector
  * operator (IVF, IVF-PQ, KNNGraph, EmbeddingClusterer, SemDeDup,
  * IncrementalSemDeDup). A stage with another iteration budget sets its
  * own default after mixing this in. */
private[graft] trait QuantizerParams extends Params {
  final val seed = new LongParam(this, "seed", "k-means seed")
  setDefault(seed -> 42L)
  def setSeed(v: Long): this.type = set(seed, v)
  // a coarse quantizer needs rough cells, not convergence: 10 Lloyd
  // iterations is the standard IVF training budget; recall at the gated
  // operating points is asserted by SimilaritySuite either way
  final val maxIter = new IntParam(this, "maxIter",
    "k-means iteration cap", ParamValidators.gt(0))
  setDefault(maxIter -> 10)
  def setMaxIter(v: Int): this.type = set(maxIter, v)
  // FAISS trains IVF quantizers on ~max(10k, 39*nLists) points; the cap
  // bounds the one collect job's output and driver memory at any corpus
  // size (65536 dim-64 doubles ≈ 34 MB)
  final val trainSample = new IntParam(this, "trainSample",
    "max vectors sampled for quantizer training", ParamValidators.gt(0))
  setDefault(trainSample -> 65536)
  def setTrainSample(v: Int): this.type = set(trainSample, v)
}

/** The one spherical quantizer shared by the vector family: the
  * training-sample draw, k-means training, nearest-cell assignment and
  * nProbe cell order. Batch, incremental and streaming faces agree on a
  * cell partition because they all call these. */
private[graft] object IVF {
  /** Unit-normalize (no-op for the zero vector). */
  def normalize(v: Array[Double]): Array[Double] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    if (s <= 0) v
    else {
      val inv = 1.0 / math.sqrt(s)
      val out = new Array[Double](v.length)
      i = 0
      while (i < v.length) { out(i) = v(i) * inv; i += 1 }
      out
    }
  }

  /** Squared L2 distance over the shorter of the two lengths (a vector
    * shorter than the centroids compares over its own length). */
  private def dist2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** The quantizer's training sample: up to `cap` non-null vectors of a
    * narrow `(__id: long, __v: array<double>)` frame, in xxhash64(__id)
    * order, unit-normalized. The draw is deterministic for a given
    * corpus; orderBy(hash) + limit compiles to one TakeOrderedAndProject
    * job (per-partition top-K, no global sort shuffle). Training
    * driver-side on this sample replaced the distributed KMeans fit,
    * whose k-means|| init and per-iteration collects cost ~35 tiny
    * sequential jobs for milliseconds of arithmetic; it is also how
    * FAISS trains IVF: cell balance needs a representative sample, not
    * the corpus. May be empty; each caller decides what that means. */
  def sample(narrow: DataFrame, cap: Int): Array[Array[Double]] =
    narrow
      .where(col("__v").isNotNull)
      .orderBy(xxhash64(col("__id")))
      .limit(cap)
      .collect().map(r => normalize(r.getSeq[Double](1).toArray))

  /** Nearest centroid: (cell, squared L2 distance). On the unit sphere
    * argmin L2 is argmax cosine, and cos = 1 - d2/2. Strict `<` sends
    * ties (and a NaN vector) to the lowest cell index. */
  def nearest(cs: Array[Array[Double]], v: Array[Double]): (Int, Double) = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      val d = dist2(v, cs(c))
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    (best, bestD)
  }

  /** The `n` cells closest to unit vector `v`, nearest first (a stable
    * sort on distance, so ties keep cell order); every cell when
    * `n` >= the cell count. */
  def probeOrder(cs: Array[Array[Double]], v: Array[Double],
                 n: Int): Seq[Int] =
    cs.indices.map(c => (dist2(v, cs(c)), c)).sortBy(_._1).take(n).map(_._2)

  /** Best-of-restarts quantizer training: seeded k-means++ init + bounded
    * Lloyd per restart, lowest within-cell SSE wins (standard
    * constructions: Arthur & Vassilvitskii '07; Lloyd '82). Restarts buy
    * back the cell balance k-means|| got from its multi-pass init — at
    * driver-side sample sizes each restart is microseconds, where the old
    * distributed fit paid ~35 sequential Spark jobs for one. Deterministic
    * for a given (sample, seed). */
  def lloyd(data: Array[Array[Double]], k: Int, iters: Int, seed: Long,
            restarts: Int = 5): Array[Array[Double]] = {
    var best: Array[Array[Double]] = null
    var bestSse = Double.MaxValue
    var r = 0
    while (r < restarts) {
      val cs = lloydOnce(data, k, iters, seed + r)
      var sse = 0.0
      var i = 0
      while (i < data.length) { sse += nearest(cs, data(i))._2; i += 1 }
      if (sse < bestSse) { bestSse = sse; best = cs }
      r += 1
    }
    best
  }

  private def lloydOnce(data: Array[Array[Double]], k: Int, iters: Int,
                        seed: Long): Array[Array[Double]] = {
    require(data.nonEmpty, "IVF quantizer: empty training sample")
    val rnd = new scala.util.Random(seed)
    val kk = math.min(k, data.length)
    // k-means++ D² seeding
    val centers = new Array[Array[Double]](kk)
    centers(0) = data(rnd.nextInt(data.length)).clone()
    val d2 = data.map(dist2(_, centers(0)))
    var c = 1
    while (c < kk) {
      val total = d2.sum
      var pick = 0
      if (total <= 0) pick = rnd.nextInt(data.length)
      else {
        var r = rnd.nextDouble() * total
        var i = 0
        while (i < data.length - 1 && r > d2(i)) { r -= d2(i); i += 1 }
        pick = i
      }
      centers(c) = data(pick).clone()
      var i = 0
      while (i < data.length) {
        val d = dist2(data(i), centers(c))
        if (d < d2(i)) d2(i) = d
        i += 1
      }
      c += 1
    }
    // Lloyd iterations
    val dim = data(0).length
    val assign = new Array[Int](data.length)
    var it = 0
    while (it < iters) {
      var changed = false
      var i = 0
      while (i < data.length) {
        val best = nearest(centers, data(i))._1
        if (assign(i) != best) { assign(i) = best; changed = true }
        i += 1
      }
      if (!changed && it > 0) it = iters // converged
      else {
        val sums = Array.fill(kk)(new Array[Double](dim))
        val counts = new Array[Int](kk)
        i = 0
        while (i < data.length) {
          val a = assign(i); counts(a) += 1
          val s = sums(a); val v = data(i)
          var j = 0
          while (j < dim) { s(j) += v(j); j += 1 }
          i += 1
        }
        var j = 0
        while (j < kk) {
          if (counts(j) > 0) {
            val s = sums(j)
            var x = 0
            while (x < dim) { s(x) /= counts(j); x += 1 }
            // spherical k-means: centroids live on the unit sphere too
            centers(j) = normalize(s)
          } // empty cell: keep previous centroid
          j += 1
        }
      }
      it += 1
    }
    centers
  }
}
