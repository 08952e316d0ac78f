package graft.explain

import graft.TestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class ExplainSuite extends TestBase {
  import spark.implicits._

  // deterministic synthetic frame: y = 3*f1 - 2*f2 + 1 (f3 is noise-free
  // irrelevant), the black box is the exact linear function
  private def data: DataFrame = {
    val rnd = new scala.util.Random(7)
    (0 until 40).map { i =>
      (i.toLong, rnd.nextDouble() * 10, rnd.nextDouble() * 4, rnd.nextDouble())
    }.toDF("id", "f1", "f2", "f3")
  }
  private val scoreFn: DataFrame => DataFrame =
    df => df.withColumn("prediction",
      col("f1") * 3.0 - col("f2") * 2.0 + lit(1.0))

  test("weighted lasso recovers a linear model") {
    val x = Array(Array(1.0, 2.0), Array(2.0, 1.0), Array(3.0, 5.0),
      Array(4.0, 0.5), Array(0.0, 1.0))
    val y = x.map(r => 2.0 * r(0) - 1.0 * r(1) + 0.5)
    val w = Array.fill(5)(1.0)
    val (b0, beta) = WeightedLinearSolver.fit(x, y, w, lambda = 0.0)
    assert(math.abs(beta(0) - 2.0) < 1e-6)
    assert(math.abs(beta(1) + 1.0) < 1e-6)
    assert(math.abs(b0 - 0.5) < 1e-6)
    // heavy L1 zeroes everything
    val (_, sparse) = WeightedLinearSolver.fit(x, y, w, lambda = 1e9)
    assert(sparse.forall(_ == 0.0))
  }

  test("TabularLIME recovers local linear coefficients") {
    val out = new TabularLIME().setIdCol("id")
      .setInputCols(Seq("f1", "f2", "f3")).setNumSamples(64)
      .setScoringFn(scoreFn)
      .transform(data)
    assert(out.count() == 40)
    val row = out.filter(col("id") === 0L).head
    val coefs = row.getSeq[Double](2)
    // the surrogate of an exactly-linear model IS the model
    assert(math.abs(coefs(0) - 3.0) < 1e-6)
    assert(math.abs(coefs(1) + 2.0) < 1e-6)
    assert(math.abs(coefs(2)) < 1e-6)
    // deterministic across runs
    val again = new TabularLIME().setIdCol("id")
      .setInputCols(Seq("f1", "f2", "f3")).setNumSamples(64)
      .setScoringFn(scoreFn)
      .transform(data).filter(col("id") === 0L).head.getSeq[Double](2)
    assert(again == coefs)
  }

  test("TextLIME ranks the decisive token highest") {
    val docs = Seq(
      (1L, "the quick brown fox jumps spark"),
      (2L, "lazy dogs sleep all day long")
    ).toDF("id", "text")
    // black box: 1.0 iff the text mentions "spark"
    val hasSpark: DataFrame => DataFrame =
      d => d.withColumn("prediction",
        when(col("text").contains("spark"), 1.0).otherwise(0.0))
    val out = new TextLIME().setIdCol("id").setTextCol("text")
      .setNumSamples(64).setScoringFn(hasSpark).transform(docs)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](2)).toMap
    val imp1 = out(1L)
    assert(imp1.indexOf(imp1.max) == 5, s"'spark' should dominate: $imp1")
    assert(out(2L).forall(math.abs(_) < 1e-9)) // constant-zero scorer
  }

  test("lime_text gate margin: planted one-hot recovery is far from the threshold") {
    // mirror of the ExplainerGates lime_text fixture: 8 tokens, "key" planted
    // at position id % 8, rule model contains("key"). The gate rounds to
    // 4 decimals — assert the solver lands ORDERS of magnitude inside
    // that: planted coef within 1e-6 of 1, others within 1e-6 of 0.
    val docs = (0L until 16L).toDF("doc_id")
      .withColumn("text8", concat_ws(" ",
        (0 until 8).map(i => when(col("doc_id") % 8 === i, lit("key"))
          .otherwise(lit(s"tok$i"))): _*))
    val out = new TextLIME().setIdCol("doc_id").setTextCol("text8")
      .setNumSamples(64)
      .setScoringFn(df => df.withColumn("prediction",
        when(col("text8").contains("key"), 1.0).otherwise(0.0)))
      .transform(docs)
      .select("doc_id", "intercept", "token_importance").collect()
    assert(out.length == 16)
    out.foreach { r =>
      val id = r.getLong(0); val b0 = r.getDouble(1)
      val coefs = r.getSeq[Double](2)
      assert(coefs.length == 8)
      assert(math.abs(b0) < 1e-6, s"intercept $b0 off zero for doc $id")
      coefs.zipWithIndex.foreach { case (c, i) =>
        val want = if (i == (id % 8).toInt) 1.0 else 0.0
        assert(math.abs(c - want) < 1e-6,
          s"doc $id dim $i coef $c wanted $want")
      }
    }
  }

  test("lime_image gate margin: planted quadrant is one superpixel, one-hot recovered") {
    val docs = (0L until 8L).toDF("doc_id")
      .withColumn("image", struct(
        lit("synth").as("origin"), lit(32).as("height"),
        lit(32).as("width"), lit(3).as("nChannels"),
        lit(graft.image.ImageSchemaUtils.ocvType8UC3).as("mode"),
        udf((id: Long) => graft.gates.MediaFixtures.plantedImageBytes(id))
          .apply(col("doc_id")).as("data")))
    // structural precondition the gate's closed-form oracle rests on:
    // the bright 16x16 quadrant is EXACTLY one SLIC segment whose index
    // is the quadrant index
    (0L until 4L).foreach { id =>
      val data = graft.gates.MediaFixtures.plantedImageBytes(id)
      val (labels, k) = graft.image.Superpixel.segment(32, 32, data, 4)
      assert(k == 4)
      val bright = labels.indices.filter(p => data(p * 3) != 0)
      assert(bright.nonEmpty && bright.map(labels).distinct == Seq((id % 4).toInt),
        s"bright quadrant of doc $id not exactly segment ${id % 4}")
      assert(labels.indices.filterNot(p => data(p * 3) != 0)
        .forall(p => labels(p) != (id % 4).toInt),
        s"segment ${id % 4} leaks outside the bright quadrant for doc $id")
    }
    val bright = udf((img: org.apache.spark.sql.Row) =>
      if (img.getAs[Array[Byte]](5).exists(_ != 0)) 1.0 else 0.0)
    val out = new ImageLIME().setIdCol("doc_id").setImageCol("image")
      .setNumSamples(64).setNumSegments(4)
      .setScoringFn(df => df.withColumn("prediction", bright(col("image"))))
      .transform(docs)
      .select("doc_id", "intercept", "segment_importance").collect()
    assert(out.length == 8)
    out.foreach { r =>
      val id = r.getLong(0); val b0 = r.getDouble(1)
      val coefs = r.getSeq[Double](2)
      assert(coefs.length == 4)
      assert(math.abs(b0) < 1e-6, s"intercept $b0 off zero for doc $id")
      coefs.zipWithIndex.foreach { case (c, i) =>
        val want = if (i == (id % 4).toInt) 1.0 else 0.0
        assert(math.abs(c - want) < 1e-6,
          s"doc $id segment $i coef $c wanted $want")
      }
    }
  }

  test("TextSHAP pins the decisive token and satisfies additivity") {
    val docs = Seq(
      (1L, "the quick brown fox jumps spark"),
      (2L, "lazy dogs sleep all day long")
    ).toDF("id", "text")
    val hasSpark: DataFrame => DataFrame =
      d => d.withColumn("prediction",
        when(col("text").contains("spark"), 1.0).otherwise(0.0))
    val out = new TextSHAP().setIdCol("id").setTextCol("text")
      .setNumSamples(64).setScoringFn(hasSpark).transform(docs)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getSeq[Double](2)))).toMap
    val (b1, phi1) = out(1L)
    // pinned constraints: base ~ f(empty) = 0; base + sum(phi) ~ f(x) = 1
    assert(math.abs(b1) < 1e-3, s"base $b1")
    assert(math.abs(b1 + phi1.sum - 1.0) < 1e-3)
    // 'spark' (token 5) is a dictator game: its SHAP value carries ~all
    // of the attribution
    assert(phi1.indexOf(phi1.max) == 5, s"'spark' should dominate: $phi1")
    assert(phi1(5) > 0.5)
    // constant-zero scorer explains to exactly nothing
    val (b2, phi2) = out(2L)
    assert(math.abs(b2) < 1e-9 && phi2.forall(math.abs(_) < 1e-9))
  }

  test("TabularSHAP values sum to f(x) - E[f]") {
    val df = data
    val out = new TabularSHAP().setIdCol("id")
      .setInputCols(Seq("f1", "f2", "f3")).setNumSamples(64)
      .setScoringFn(scoreFn)
      .transform(df)
    val joined = out.join(scoreFn(df), "id")
      .select(col("id"), col("intercept"),
        aggregate(col("coefficients"), lit(0.0), _ + _).as("phi_sum"),
        col("prediction"))
      .collect()
    joined.foreach { r =>
      val additive = r.getDouble(1) + r.getDouble(2)
      assert(math.abs(additive - r.getDouble(3)) < 1e-4,
        s"id=${r.getLong(0)}: $additive vs ${r.getDouble(3)}")
    }
  }

  // vector twin of `data`: the same features assembled into one array /
  // VectorUDT column, scored by the same linear function over dimensions
  private def vecData: DataFrame = data
    .select(col("id"), array(col("f1"), col("f2"), col("f3")).as("features"))
  private val vecScoreFn: DataFrame => DataFrame =
    df => df.withColumn("prediction",
      element_at(col("features"), 1) * 3.0 -
        element_at(col("features"), 2) * 2.0 + lit(1.0))

  test("VectorLIME recovers per-dimension linear coefficients") {
    val out = new VectorLIME().setIdCol("id").setInputCol("features")
      .setNumSamples(64).setScoringFn(vecScoreFn)
      .transform(vecData)
    assert(out.count() == 40)
    val coefs = out.filter(col("id") === 0L).head.getSeq[Double](2)
    assert(math.abs(coefs(0) - 3.0) < 1e-6)
    assert(math.abs(coefs(1) + 2.0) < 1e-6)
    assert(math.abs(coefs(2)) < 1e-6)
  }

  test("VectorSHAP matches TabularSHAP on the same assembled features") {
    // identical model, identical per-feature backgrounds (decimal means),
    // identical coalition seeds => per-dimension phi must agree with the
    // tabular explainer's per-column phi to solver tolerance
    val tab = new TabularSHAP().setIdCol("id")
      .setInputCols(Seq("f1", "f2", "f3")).setNumSamples(64)
      .setScoringFn(scoreFn).transform(data)
      .select(col("id"), col("intercept"), col("coefficients"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getSeq[Double](2))))
      .toMap
    val vec = new VectorSHAP().setIdCol("id").setInputCol("features")
      .setNumSamples(64).setScoringFn(vecScoreFn)
      .transform(vecData)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getSeq[Double](2))))
      .toMap
    assert(tab.keySet == vec.keySet)
    tab.foreach { case (id, (b0, phis)) =>
      val (vb0, vphis) = vec(id)
      assert(math.abs(b0 - vb0) < 1e-6, s"id=$id intercept")
      phis.indices.foreach { j =>
        assert(math.abs(phis(j) - vphis(j)) < 1e-6, s"id=$id phi($j)")
      }
    }
  }

  test("VectorSHAP accepts VectorUDT input and keeps additivity") {
    val df = vecData.select(col("id"),
      org.apache.spark.ml.functions.array_to_vector(col("features"))
        .as("features"))
    val fn: DataFrame => DataFrame = d => d.withColumn("prediction",
      element_at(org.apache.spark.ml.functions.vector_to_array(
        col("features")), 1) * 3.0 -
        element_at(org.apache.spark.ml.functions.vector_to_array(
          col("features")), 2) * 2.0 + lit(1.0))
    val out = new VectorSHAP().setIdCol("id").setInputCol("features")
      .setNumSamples(64).setScoringFn(fn).transform(df)
    val joined = out.join(fn(df), "id")
      .select(col("id"), col("intercept"),
        aggregate(col("coefficients"), lit(0.0), _ + _).as("phi_sum"),
        col("prediction"))
      .collect()
    joined.foreach { r =>
      val additive = r.getDouble(1) + r.getDouble(2)
      assert(math.abs(additive - r.getDouble(3)) < 1e-4,
        s"id=${r.getLong(0)}: $additive vs ${r.getDouble(3)}")
    }
  }
}
