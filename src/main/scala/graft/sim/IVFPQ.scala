package graft.sim

import graft.core._
import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** IVF-PQ approximate nearest neighbors — the product-quantization scale
  * path (public design: Jégou/Douze/Schmid 2011, "Product Quantization
  * for Nearest Neighbor Search", TPAMI; the FAISS IVFPQ index): on top of
  * [[IVFNearestNeighbors]]'s coarse cells, each vector's RESIDUAL to its
  * cell centroid is split into `numSub` subvectors and each subvector
  * quantized to one of 2^`nBits` codebook entries — the corpus is scanned
  * as `numSub` BYTES per vector instead of `dim` floats (64-dim float:
  * 256 B -> 8 B, a 32x scan-size cut), with asymmetric distance
  * computation (ADC): per query and probed cell, one m x 256 lookup
  * table turns each distance into `numSub` table lookups.
  *
  * Spark-first plan, and why it scales:
  *  - training (coarse quantizer + per-subspace codebooks) runs
  *    driver-side on the same bounded hash-ordered sample as IVF — one
  *    TakeOrdered job, deterministic for (sample, seed);
  *  - corpus encoding is ONE narrow pass (assign cell, subtract
  *    centroid, argmin per subspace) — the corpus never shuffles;
  *  - queries broadcast with their probe lists and precomputed ADC
  *    tables (numSub x 2^nBits doubles per probed cell — 16 KB at
  *    8x256; bounded by |queries| x nProbe, the same query-broadcast
  *    contract as IVF);
  *  - the ADC scan feeds the map-side-combining [[TopKAggregator]]: only
  *    `rerankK` candidate rows per (query, partition) reach an exchange;
  *  - re-ranking joins the tiny candidate set BROADCAST against the
  *    corpus for exact cosine — the corpus again does not shuffle.
  *
  * With nProbe = nLists and rerankK >= corpus size the result is exactly
  * brute force (everything reaches the exact re-rank) — that is the
  * driver gate (`knn_ivfpq_recall`); the approximate operating point is
  * recall-gated in IVFPQSuite.
  */
class IVFPQNearestNeighbors(override val uid: String)
    extends Estimator[IVFPQNearestNeighborsModel] with HasInputCol
    with QuantizerParams with graft.core.GraftWritable {
  def this() = this(Identifiable.randomUID("IVFPQNearestNeighbors"))

  final val idCol = new Param[String](this, "idCol", "corpus id column")
  def setIdCol(v: String): this.type = set(idCol, v)
  final val nLists = new IntParam(this, "nLists", "coarse k-means cells",
    ParamValidators.gt(0))
  setDefault(nLists -> 64)
  def setNLists(v: Int): this.type = set(nLists, v)
  final val numSub = new IntParam(this, "numSub",
    "PQ subquantizers (code bytes per vector)", ParamValidators.gt(0))
  setDefault(numSub -> 8)
  def setNumSub(v: Int): this.type = set(numSub, v)
  final val nBits = new IntParam(this, "nBits",
    "bits per subquantizer (codebook size 2^nBits, max 8)",
    ParamValidators.inRange(1, 8))
  setDefault(nBits -> 8)
  def setNBits(v: Int): this.type = set(nBits, v)

  override def fit(ds: Dataset[_]): IVFPQNearestNeighborsModel = {
    val df = ds.toDF()
    val sample = IVF.sample(df.select(col($(idCol)).cast("long").as("__id"),
      col(getInputCol).cast(ArrayType(DoubleType)).as("__v")), $(trainSample))
    require(sample.nonEmpty, "IVFPQ: empty training sample")
    val coarse = IVF.lloyd(sample, $(nLists), $(maxIter), $(seed))
    // residual to the nearest coarse centroid (FAISS IVFPQ encodes
    // residuals, not raw vectors: residual energy is what PQ must cover)
    val residuals = sample.map { p =>
      val c = coarse(IVFPQ.argminDist2(p, coarse))
      val r = new Array[Double](p.length)
      var i = 0
      while (i < p.length) { r(i) = p(i) - (if (i < c.length) c(i) else 0.0); i += 1 }
      r
    }
    val dim = sample(0).length
    val m = $(numSub)
    val codes = 1 << $(nBits)
    val books = Array.tabulate(m) { sub =>
      val (lo, hi) = IVFPQ.subRange(dim, m, sub)
      val subData = residuals.map(_.slice(lo, hi))
      // single k-means run per codebook (the FAISS PQ training budget):
      // 2^nBits centroids x numSub books x restarts is the fit's cost
      // center, and restarts buy balance the 256-way codebooks don't need
      IVF.lloyd(subData, codes, $(maxIter), $(seed) + 1000 + sub,
        restarts = 1)
    }
    val model = new IVFPQNearestNeighborsModel(uid + "_model")
    model.set(model.inputCol, getInputCol).set(model.idCol, $(idCol))
    model.coarse = coarse
    model.codebooks = books
    model
  }
  override def transformSchema(schema: StructType): StructType =
    IVFNearestNeighborsModel.outputSchema
  override def copy(extra: ParamMap): IVFPQNearestNeighbors = defaultCopy(extra)
}
object IVFPQNearestNeighbors
    extends graft.core.GraftReadable[IVFPQNearestNeighbors]

class IVFPQNearestNeighborsModel(override val uid: String)
    extends Model[IVFPQNearestNeighborsModel] with HasInputCol
    with org.apache.spark.ml.util.MLWritable {
  def this() = this(Identifiable.randomUID("IVFPQNearestNeighborsModel"))

  final val idCol = new Param[String](this, "idCol", "corpus id column")
  final val k = new IntParam(this, "k", "neighbors per query")
  setDefault(k -> 10)
  def setK(v: Int): this.type = set(k, v)
  final val nProbe = new IntParam(this, "nProbe", "cells scanned per query")
  setDefault(nProbe -> 8)
  def setNProbe(v: Int): this.type = set(nProbe, v)
  final val rerankK = new IntParam(this, "rerankK",
    "ADC shortlist size per query fed to the exact cosine re-rank",
    ParamValidators.gt(0))
  setDefault(rerankK -> 100)
  def setRerankK(v: Int): this.type = set(rerankK, v)

  /** Coarse cell centroids (unit sphere). */
  var coarse: Array[Array[Double]] = _
  /** codebooks(sub)(code) = residual-subspace centroid. */
  var codebooks: Array[Array[Array[Double]]] = _

  private var queriesDf: DataFrame = _
  def setQueries(df: DataFrame, queryIdCol: String, vecCol: String): this.type = {
    queriesDf = df.select(col(queryIdCol).as("query_id"), col(vecCol).as("__qv"))
    this
  }

  override def transform(ds: Dataset[_]): DataFrame = {
    require(queriesDf != null, "setQueries first")
    val df = ds.toDF()
    val spark = df.sparkSession
    val bcCoarse = spark.sparkContext.broadcast(coarse)
    val bcBooks = spark.sparkContext.broadcast(codebooks)
    val np = $(nProbe)

    // corpus: ONE narrow pass -> (id, cell, numSub code bytes)
    val encodeUdf = udf { v: Seq[Double] =>
      val cs = bcCoarse.value; val books = bcBooks.value
      val p = IVF.normalize(v.toArray)
      val cell = IVFPQ.argminDist2(p, cs)
      val c = cs(cell)
      val r = new Array[Double](p.length)
      var i = 0
      while (i < p.length) { r(i) = p(i) - (if (i < c.length) c(i) else 0.0); i += 1 }
      val code = new Array[Byte](books.length)
      var sub = 0
      while (sub < books.length) {
        val (lo, hi) = IVFPQ.subRange(p.length, books.length, sub)
        code(sub) = IVFPQ.argminDist2(r.slice(lo, hi), books(sub)).toByte
        sub += 1
      }
      (cell, code)
    }
    val corpus = df
      .select(col($(idCol)).cast("long").as("id"), col(getInputCol).as("__cv"))
      .withColumn("__enc", encodeUdf(col("__cv").cast(ArrayType(DoubleType))))
      .select(col("id"), col("__cv"), col("__enc._1").as("__cell"),
        col("__enc._2").as("__code"))

    // queries: probe lists + one ADC table per probed cell
    val probeUdf = udf { q: Seq[Double] =>
      val cs = bcCoarse.value
      val qa = IVF.normalize(q.toArray)
      cs.indices.map(c => (IVFPQ.dist2Padded(qa, cs(c)), c))
        .sortBy(_._1).take(np).map(_._2)
    }
    val tableUdf = udf { (q: Seq[Double], cell: Int) =>
      val cs = bcCoarse.value; val books = bcBooks.value
      val qa = IVF.normalize(q.toArray)
      val c = cs(cell)
      val r = new Array[Double](qa.length)
      var i = 0
      while (i < qa.length) { r(i) = qa(i) - (if (i < c.length) c(i) else 0.0); i += 1 }
      val nCodes = books.map(_.length).max
      val tab = new Array[Double](books.length * nCodes)
      var sub = 0
      while (sub < books.length) {
        val (lo, hi) = IVFPQ.subRange(qa.length, books.length, sub)
        val rs = r.slice(lo, hi)
        var j = 0
        while (j < books(sub).length) {
          tab(sub * nCodes + j) = IVFPQ.dist2Padded(rs, books(sub)(j))
          j += 1
        }
        sub += 1
      }
      tab
    }
    val qs = queriesDf
      .withColumn("__cell",
        explode(probeUdf(col("__qv").cast(ArrayType(DoubleType)))))
      .withColumn("__tab",
        tableUdf(col("__qv").cast(ArrayType(DoubleType)), col("__cell")))

    // ADC scan: numSub table lookups per (corpus row, query); ranking by
    // ascending ADC distance == descending approx cosine on the unit
    // sphere, fed to the aggregator as score = -distance
    val adcUdf = udf { (code: Array[Byte], tab: Seq[Double]) =>
      val stride = tab.length / code.length
      var s = 0.0
      var sub = 0
      while (sub < code.length) {
        s += tab(sub * stride + (code(sub) & 0xFF))
        sub += 1
      }
      -s
    }
    val shortK = udaf(new TopKAggregator($(rerankK)), Encoders.product[Scored])
    val shortlist = corpus.join(broadcast(qs), Seq("__cell"))
      .select(col("query_id"),
        adcUdf(col("__code"), col("__tab")).as("score"), col("id"))
      .groupBy("query_id")
      .agg(shortK(col("score"), col("id")).as("__cand"))

    // exact re-rank: the candidate set (|queries| x rerankK rows) joins
    // BROADCAST against the corpus — the corpus stays un-shuffled
    val cand = shortlist
      .select(col("query_id"), explode(col("__cand.id")).as("id"))
      .join(queriesDf, "query_id")
    val sim = SimilarityFunctions.cosine(col("__qv"), col("__cv"))
    val topk = udaf(new TopKAggregator($(k)), Encoders.product[Scored])
    corpus.select(col("id"), col("__cv"))
      .join(broadcast(cand), Seq("id"))
      .select(col("query_id"), sim.as("score"), col("id"))
      .groupBy("query_id")
      .agg(topk(col("score"), col("id")).as("neighbors"))
  }
  override def transformSchema(schema: StructType): StructType =
    IVFNearestNeighborsModel.outputSchema
  override def copy(extra: ParamMap): IVFPQNearestNeighborsModel = {
    val c = new IVFPQNearestNeighborsModel(uid)
    c.coarse = coarse; c.codebooks = codebooks; c.queriesDf = queriesDf
    copyValues(c, extra)
  }
  override def write: org.apache.spark.ml.util.MLWriter =
    new org.apache.spark.ml.util.MLWriter {
      override protected def saveImpl(path: String): Unit = {
        org.apache.spark.ml.graftshims.PipelineMetadataShim
          .save(IVFPQNearestNeighborsModel.this, path, sparkSession)
        graft.core.ModelIO.writeText(sparkSession, s"$path/params.json",
          graft.core.ModelIO.paramsJson(IVFPQNearestNeighborsModel.this))
        graft.core.ModelIO.writeObject(sparkSession, s"$path/coarse.bin",
          coarse)
        graft.core.ModelIO.writeObject(sparkSession, s"$path/codebooks.bin",
          codebooks)
      }
    }
}

object IVFPQNearestNeighborsModel
    extends org.apache.spark.ml.util.MLReadable[IVFPQNearestNeighborsModel] {
  override def read: org.apache.spark.ml.util.MLReader[IVFPQNearestNeighborsModel] =
    new org.apache.spark.ml.util.MLReader[IVFPQNearestNeighborsModel] {
      override def load(path: String): IVFPQNearestNeighborsModel = {
        val m = new IVFPQNearestNeighborsModel()
        graft.core.ModelIO.setParamsFromJson(m,
          graft.core.ModelIO.readText(sparkSession, s"$path/params.json"))
        m.coarse = graft.core.ModelIO
          .readObject[Array[Array[Double]]](sparkSession, s"$path/coarse.bin")
        m.codebooks = graft.core.ModelIO
          .readObject[Array[Array[Array[Double]]]](sparkSession,
            s"$path/codebooks.bin")
        m
      }
    }
}

private[sim] object IVFPQ {
  /** [lo, hi) slice bounds of subspace `sub` out of `m` over `dim`. */
  def subRange(dim: Int, m: Int, sub: Int): (Int, Int) =
    (sub * dim / m, (sub + 1) * dim / m)

  /** L2 distance with implicit zero-padding for length mismatches. This
    * is NOT IVF's centroid distance: [[IVF.nearest]] and
    * [[IVF.probeOrder]] truncate to the shorter length, while this pads
    * the shorter vector with zeros, so the two agree only on vectors of
    * equal length. IVF-PQ keeps its own padded argmin and probe order
    * for that reason. */
  def dist2Padded(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    val n = math.max(a.length, b.length)
    var i = 0
    while (i < n) {
      val av = if (i < a.length) a(i) else 0.0
      val bv = if (i < b.length) b(i) else 0.0
      val d = av - bv
      s += d * d
      i += 1
    }
    s
  }

  def argminDist2(p: Array[Double], cs: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      val d = dist2Padded(p, cs(c))
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }
}
