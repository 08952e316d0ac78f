package graft
package gates

import graft.gates.GateSupport.tbl
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Model-explainer gates (SURVEY.md §2.13): LIME and SHAP
  * over tabular, vector, text and image inputs. */
object ExplainerGates {
  val gates: Seq[Gate] = Seq(
    Gate("lime_tabular", { (s, dir) =>
      // exactly-linear black box => the surrogate recovers the true
      // coefficients to solver tolerance; rounded to 4 decimals (+0.0
      // normalizes -0.0) this is oracle-exact
      val ev = tbl(s, dir, "events").filter(col("event_id") < 200)
      new graft.explain.TabularLIME().setIdCol("event_id")
        .setInputCols(Seq("value", "user_id")).setNumSamples(64)
        .setScoringFn(df => df.withColumn("prediction",
          col("value") * 2.0 + col("user_id") * 0.5))
        .transform(ev)
        .select(col("event_id"),
          (round(col("intercept"), 4) + lit(0.0)).as("intercept"),
          (round(element_at(col("coefficients"), 1), 4) + lit(0.0)).as("c_value"),
          (round(element_at(col("coefficients"), 2), 4) + lit(0.0)).as("c_user"))
    }, oracle = Some(
      """SELECT event_id, CAST(0.0 AS DOUBLE) AS intercept,
        |  CAST(2.0 AS DOUBLE) AS c_value, CAST(0.5 AS DOUBLE) AS c_user
        |FROM events WHERE event_id < 200""".stripMargin)),

    Gate("shap_tabular", { (s, dir) =>
      // linear black box => SHAP values are exactly w_i (x_i - mean_i);
      // deterministic background means + exact WLS solve make this
      // oracle-checkable at 4 decimals
      val ev = tbl(s, dir, "events").filter(col("event_id") < 200)
      new graft.explain.TabularSHAP().setIdCol("event_id")
        .setInputCols(Seq("value", "user_id")).setNumSamples(64)
        .setScoringFn(df => df.withColumn("prediction",
          col("value") * 2.0 + col("user_id") * 0.5))
        .transform(ev)
        .select(col("event_id"),
          (round(col("intercept"), 4) + lit(0.0)).as("base"),
          (round(element_at(col("coefficients"), 1), 4) + lit(0.0)).as("phi_value"),
          (round(element_at(col("coefficients"), 2), 4) + lit(0.0)).as("phi_user"))
    }, oracle = Some( // background means over the SAME explained subset
      """WITH m AS (SELECT
        |    CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE) / COUNT(value) AS mv,
        |    CAST(SUM(CAST(user_id AS DECIMAL(30,8))) AS DOUBLE) / COUNT(user_id) AS mu
        |  FROM events WHERE event_id < 200)
        |SELECT event_id,
        |  ROUND(2 * m.mv + 0.5 * m.mu, 4) + 0.0 AS base,
        |  ROUND(2 * (value - m.mv), 4) + 0.0 AS phi_value,
        |  ROUND(0.5 * (user_id - m.mu), 4) + 0.0 AS phi_user
        |FROM events CROSS JOIN m WHERE event_id < 200""".stripMargin)),

    // linear per-dimension black box f(v) = sum_d c_d v_d with
    // c_d = ((d % 4) + 1) / 4: the vector explainers must recover c_d
    // (LIME) / c_d (x_d - mean_d) (SHAP) exactly, emitted long-form
    // (vec_id, dim, ...) so a 64-dim explanation stays oracle-checkable
    Gate("lime_vector", { (s, dir) =>
      val emb = tbl(s, dir, "embeddings").filter(col("vec_id") < 20)
      new graft.explain.VectorLIME().setIdCol("vec_id")
        .setInputCol("embedding").setNumSamples(160)
        .setScoringFn(df => df.withColumn("prediction",
          aggregate(zip_with(
            col("embedding").cast("array<double>"),
            sequence(lit(0), size(col("embedding")) - 1),
            (v, d) => v * ((d % 4 + 1).cast("double") * lit(0.25))),
            lit(0.0), (acc, x) => acc + x)))
        .transform(emb)
        .select(col("vec_id"), posexplode(col("coefficients")))
        .select(col("vec_id"), col("pos").cast("int").as("dim"),
          (round(col("col"), 4) + lit(0.0)).as("coef"))
    }, oracle = Some(
      // exactly-linear per-dimension model => VectorLIME's surrogate IS the
      // model: coef(d) = ((d % 4) + 1) / 4 for every explained vector
      """SELECT vec_id, CAST(d AS INTEGER) AS dim,
        |  CAST(((d % 4) + 1) * 0.25 AS DOUBLE) AS coef
        |FROM (SELECT vec_id, unnest(range(0, len(embedding))) AS d
        |      FROM embeddings WHERE vec_id < 20)""".stripMargin)),

    Gate("shap_vector", { (s, dir) =>
      val emb = tbl(s, dir, "embeddings").filter(col("vec_id") < 20)
      new graft.explain.VectorSHAP().setIdCol("vec_id")
        .setInputCol("embedding").setNumSamples(160)
        .setScoringFn(df => df.withColumn("prediction",
          aggregate(zip_with(
            col("embedding").cast("array<double>"),
            sequence(lit(0), size(col("embedding")) - 1),
            (v, d) => v * ((d % 4 + 1).cast("double") * lit(0.25))),
            lit(0.0), (acc, x) => acc + x)))
        .transform(emb)
        .select(col("vec_id"), (round(col("intercept"), 3) + lit(0.0)).as("base"),
          posexplode(col("coefficients")))
        .select(col("vec_id"), col("pos").cast("int").as("dim"),
          (round(col("col"), 4) + lit(0.0)).as("phi"), col("base"))
    }, oracle = Some(
      // linear model => phi_d = c_d (x_d - mean_d) with decimal-exact
      // per-dimension background means over the same explained subset
      """WITH u AS (SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim,
        |    CAST(embedding[i] AS DOUBLE) AS v
        |  FROM (SELECT vec_id, embedding,
        |        unnest(range(1, len(embedding) + 1)) AS i
        |        FROM embeddings WHERE vec_id < 20)),
        |m AS (SELECT dim,
        |    CAST(SUM(CAST(v AS DECIMAL(30,8))) AS DOUBLE) / COUNT(v) AS mv
        |  FROM u GROUP BY dim),
        |b AS (SELECT ROUND(SUM(((dim % 4) + 1) * 0.25 * mv), 3) + 0.0 AS base
        |  FROM m)
        |SELECT u.vec_id, u.dim,
        |  ROUND(((u.dim % 4) + 1) * 0.25 * (u.v - m.mv), 4) + 0.0 AS phi,
        |  b.base AS base
        |FROM u JOIN m ON u.dim = m.dim CROSS JOIN b""".stripMargin)),

    // Planted one-hot rule model for TextLIME: doc text is 8 fixed
    // tokens with the literal "key" planted at position doc_id % 8; the
    // black box is 1 iff the masked text still contains "key", so
    // y == mask bit p EXACTLY and the surrogate recovers the one-hot
    // coefficient vector (intercept 0) to solver tolerance. Margin-
    // tested in ExplainersSuite (planted coef ≥ 1 vs 0 elsewhere).
    Gate("lime_text", { (s, dir) =>
      val docs = tbl(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id").cast("long").as("doc_id"))
        .withColumn("text8", concat_ws(" ",
          (0 until 8).map(i => when(col("doc_id") % 8 === i, lit("key"))
            .otherwise(lit(s"tok$i"))): _*))
      new graft.explain.TextLIME().setIdCol("doc_id").setTextCol("text8")
        .setNumSamples(64)
        .setScoringFn(df => df.withColumn("prediction",
          when(col("text8").contains("key"), 1.0).otherwise(0.0)))
        .transform(docs)
        .select(col("doc_id"),
          (round(col("intercept"), 4) + lit(0.0)).as("intercept"),
          posexplode(col("token_importance")))
        .select(col("doc_id"), col("intercept"),
          col("pos").cast("int").as("dim"),
          (round(col("col"), 4) + lit(0.0)).as("coef"))
    }, oracle = Some(
      // planted one-hot rule models: coef 1 at the planted position/
      // quadrant, 0 elsewhere, intercept 0 (see the query comments)
      """SELECT doc_id, CAST(0.0 AS DOUBLE) AS intercept, CAST(d AS INTEGER) AS dim,
        |  CAST(CASE WHEN d = doc_id % 8 THEN 1.0 ELSE 0.0 END AS DOUBLE)
        |    AS coef
        |FROM documents CROSS JOIN (SELECT unnest(range(8)) AS d)
        |WHERE doc_id < 200""".stripMargin)),

    // Planted one-hot region model for ImageLIME: 32x32 black image with
    // ONE bright 16x16 quadrant (doc_id % 4). numSegments=4 puts the
    // SLIC init grid exactly on the quadrants, and the 255-vs-0 color
    // distance dwarfs the spatial term, so the bright quadrant is one
    // superpixel whose index IS the quadrant — the rule model (any
    // non-black pixel -> 1) makes y == mask bit q exactly, closed-form
    // one-hot recovery like lime_text. Margin-tested in ExplainersSuite.
    Gate("lime_image", { (s, dir) =>
      val data = udf((id: Long) => MediaFixtures.plantedImageBytes(id))
      val docs = tbl(s, dir, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id").cast("long").as("doc_id"))
        .withColumn("image", struct(
          lit("synth").as("origin"), lit(32).as("height"),
          lit(32).as("width"), lit(3).as("nChannels"),
          lit(graft.image.ImageSchemaUtils.ocvType8UC3).as("mode"),
          data(col("doc_id")).as("data")))
      val bright = udf((img: Row) =>
        if (img.getAs[Array[Byte]](5).exists(_ != 0)) 1.0 else 0.0)
      new graft.explain.ImageLIME().setIdCol("doc_id").setImageCol("image")
        .setNumSamples(64).setNumSegments(4)
        .setScoringFn(df => df.withColumn("prediction", bright(col("image"))))
        .transform(docs)
        .select(col("doc_id"),
          (round(col("intercept"), 4) + lit(0.0)).as("intercept"),
          posexplode(col("segment_importance")))
        .select(col("doc_id"), col("intercept"),
          col("pos").cast("int").as("dim"),
          (round(col("col"), 4) + lit(0.0)).as("coef"))
    }, oracle = Some(
      """SELECT doc_id, CAST(0.0 AS DOUBLE) AS intercept, CAST(d AS INTEGER) AS dim,
        |  CAST(CASE WHEN d = doc_id % 4 THEN 1.0 ELSE 0.0 END AS DOUBLE)
        |    AS coef
        |FROM documents CROSS JOIN (SELECT unnest(range(4)) AS d)
        |WHERE doc_id < 100""".stripMargin))
  )
}
