package graft.dedup

import graft.TestBase
import org.apache.spark.sql.functions._

/** The semantic incremental (snapshot-delta) face: corpus-vs-batch
  * decisions off the persisted quantizer + embedding index, the
  * corpus-always-survives rule, within-batch chaining, persistence of
  * the cell partition, and null handling. */
class IncrementalSemDeDupSuite extends TestBase {
  import spark.implicits._

  // the SemDeDupSuite geometry: two well-separated directions; corpus
  // holds a base vector of each, the batch carries near-dups of them
  // plus one genuinely novel direction and one batch-internal near-pair
  lazy val corpus = Seq(
    (0L, Array(1.0, 0.02, 0.0, 0.0)),
    (1L, Array(0.0, 0.02, 1.0, 0.0))
  ).toDF("doc_id", "embedding")
  lazy val batch = Seq(
    (10L, Array(1.0, 0.05, 0.0, 0.0)),  // near-dup of corpus 0 -> drop
    (11L, Array(0.0, 0.05, 1.0, 0.0)),  // near-dup of corpus 1 -> drop
    (12L, Array(0.0, 0.0, 0.0, 1.0)),   // novel direction -> keep
    (13L, Array(0.0, 0.01, 0.0, 1.0)),  // near-dup of 12 (in-batch) -> drop
    (14L, null.asInstanceOf[Array[Double]]) // no evidence -> keep
  ).toDF("doc_id", "embedding")

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("doc_id").as[Long].collect().sorted.toSeq

  test("exhaustive batch-vs-corpus: corpus survives, batch near-dups " +
    "drop, within-batch pass chains") {
    val m = new IncrementalSemDeDup().setInputCol("embedding")
      .setNClusters(1).setThreshold(0.99).fit(corpus)
    val out = m.setCorpusIndex(m.indexCorpus(corpus))
      .transform(batch)
    assert(ids(out) == Seq(12L, 14L))
    // corpus rows were never part of the batch output — the corpus
    // copy survives in the CORPUS, the batch sheds its duplicates
  }

  test("the persisted quantizer pins the cell partition: save/load " +
    "assigns and decides identically") {
    val many = (0 until 300).map { i =>
      val base = Array.fill(8)(0.0)
      base(i % 4) = 1.0; base((i % 4 + 1) % 8) = 0.01 * (i % 7)
      (i.toLong, base)
    }.toDF("doc_id", "embedding")
    val m = new IncrementalSemDeDup().setInputCol("embedding")
      .setTargetClusterSize(64).fit(many)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_isd").toString + "/m"
    m.write.overwrite().save(dir)
    val back = IncrementalSemDeDupModel.load(dir)
    val idx = m.indexCorpus(many)
      .select("__id", "__cell").as[(Long, Int)].collect().sorted.toSeq
    val idx2 = back.indexCorpus(many)
      .select("__id", "__cell").as[(Long, Int)].collect().sorted.toSeq
    assert(idx == idx2)
    val a = ids(m.setCorpusIndex(m.indexCorpus(many)).transform(batch))
    val b = ids(back.setCorpusIndex(back.indexCorpus(many)).transform(batch))
    assert(a == b)
  }

  test("SemDeDup on an empty or all-null frame returns it unchanged " +
    "(regression: crashed in the quantizer fit)") {
    val allNull = Seq((1L, null.asInstanceOf[Array[Double]]),
      (2L, null.asInstanceOf[Array[Double]])).toDF("doc_id", "embedding")
    val sd = new SemDeDup().setInputCol("embedding").setIdCol("doc_id")
    assert(ids(sd.transform(allNull)) == Seq(1L, 2L))
    assert(sd.transform(allNull.limit(0)).count() == 0)
  }

  test("null corpus embeddings never enter the index; fit fails fast " +
    "on an all-null corpus") {
    val withNull = corpus.unionByName(
      Seq((2L, null.asInstanceOf[Array[Double]]))
        .toDF("doc_id", "embedding"))
    val m = new IncrementalSemDeDup().setInputCol("embedding")
      .setNClusters(1).setThreshold(0.99).fit(withNull)
    assert(m.indexCorpus(withNull).count() == 2)
    val e = intercept[IllegalArgumentException] {
      new IncrementalSemDeDup().setInputCol("embedding").fit(
        Seq((1L, null.asInstanceOf[Array[Double]]))
          .toDF("doc_id", "embedding"))
    }
    assert(e.getMessage.contains("no non-null"))
  }

  test("clustered mode agrees with exhaustive on well-separated planted " +
    "geometry") {
    val m1 = new IncrementalSemDeDup().setInputCol("embedding")
      .setNClusters(2).setThreshold(0.99).fit(corpus)
    val out = m1.setCorpusIndex(m1.indexCorpus(corpus))
      .transform(batch)
    assert(ids(out) == Seq(12L, 14L))
  }

  test("recall contract: a threshold-near pair straddling a cell " +
    "boundary is MISSED in clustered mode, caught exhaustively") {
    // two blobs around e1 and e2 pin the k=2 centroids; the planted
    // pair sits astride the boundary: corpus (0.6, 0.4) lands in the
    // e1 cell, batch (0.4, 0.6) in the e2 cell, yet their cosine is
    // 0.48/0.52 ~ 0.923 >= the 0.9 threshold — the documented
    // cell-partition miss (scaladoc "Recall contract")
    val cps = Seq(
      (0L, Array(1.0, 0.0)), (1L, Array(0.98, 0.02)),
      (2L, Array(0.0, 1.0)), (3L, Array(0.02, 0.98)),
      (4L, Array(0.6, 0.4)) // the boundary-adjacent corpus member
    ).toDF("doc_id", "embedding")
    val bat = Seq((10L, Array(0.4, 0.6))).toDF("doc_id", "embedding")
    val m2 = new IncrementalSemDeDup().setInputCol("embedding")
      .setNClusters(2).setThreshold(0.9).fit(cps)
    // sanity: the pair really does land in different cells
    val cells = m2.indexCorpus(cps).select("__id", "__cell")
      .as[(Long, Int)].collect().toMap
    val bCell = m2.indexCorpus(bat).select("__cell").as[Int].head()
    assert(cells(4L) != bCell,
      s"fixture broken: corpus 4 and batch 10 share cell ${bCell}")
    val missed = m2.setCorpusIndex(m2.indexCorpus(cps))
      .transform(bat)
    assert(ids(missed) == Seq(10L), "cross-cell near pair must be missed")
    // nClusters=1 (exhaustive) catches the same pair
    val m1 = new IncrementalSemDeDup().setInputCol("embedding")
      .setNClusters(1).setThreshold(0.9).fit(cps)
    val caught = m1.setCorpusIndex(m1.indexCorpus(cps))
      .transform(bat)
    assert(ids(caught) == Seq())
  }

  test("a single-cell quantizer makes the within-batch pass exhaustive: " +
    "an in-batch near pair straddling auto-k cells drops") {
    // 300 batch vectors in two blobs (directions e0 and e1, noise in
    // dims 2..61) plus a planted pair astride the blob boundary:
    // (0.6, 0.4) and (0.4, 0.6), cosine ~0.923 >= 0.9. The corpus sits
    // on dim 62, orthogonal to every batch row, so all 302 rows survive
    // the corpus check and auto-k over them would pick 2 cells
    val dim = 63
    val rnd = new scala.util.Random(7)
    val blobs = (0 until 300).map { i =>
      val v = Array.fill(dim)(0.0)
      v(i % 2) = 1.0
      (2 until 62).foreach(d => v(d) = 0.15 * rnd.nextGaussian())
      (i.toLong, v)
    }
    def unit(a: Double, b: Double) = {
      val v = Array.fill(dim)(0.0); v(0) = a; v(1) = b; v
    }
    val bat = (blobs :+ ((1000L, unit(0.6, 0.4))) :+
      ((1001L, unit(0.4, 0.6)))).toDF("doc_id", "embedding")
    val cps = Seq((5000L, Array.tabulate(dim)(d => if (d == 62) 1.0 else 0.0)))
      .toDF("doc_id", "embedding")
    // sanity: an auto-k quantizer fitted on the survivors (the batch)
    // has 2+ cells and splits the planted pair
    val auto = new IncrementalSemDeDup().setInputCol("embedding")
      .setThreshold(0.9).fit(bat)
    assert(SemDeDup.cells(auto.getOrDefault(auto.quantizer)) >= 2)
    val pairCells = auto.indexCorpus(bat.filter(col("doc_id") >= 1000L))
      .select("__id", "__cell").as[(Long, Int)].collect().toMap
    assert(pairCells(1000L) != pairCells(1001L),
      s"fixture broken: the planted pair shares cell ${pairCells(1000L)}")
    val m = new IncrementalSemDeDup().setInputCol("embedding")
      .setNClusters(1).setThreshold(0.9).fit(cps)
    val out = ids(m.setCorpusIndex(m.indexCorpus(cps)).transform(bat))
    // minId keeps the smaller id of the pair
    assert(out.filter(_ >= 1000L) == Seq(1000L),
      "in-batch near pair across cells must drop its larger id")
  }

  test("single-cell default cap auto-raises: exhaustive mode stays " +
    "exact past the default maxClusterSize population") {
    // 2100 corpus copies of one direction (> the 2048 default cap) and
    // a batch twin: with the old fixed cap the corpus buffer would
    // truncate and/or the batch row could pass unchecked; the
    // auto-raise keeps every pair compared
    val big = (0 until 2100)
      .map(i => (i.toLong, Array(1.0, 0.0001 * (i % 3), 0.0)))
      .toDF("doc_id", "embedding")
    val m = new IncrementalSemDeDup().setInputCol("embedding")
      .setNClusters(1).setThreshold(0.99).fit(big)
    val out = m.setCorpusIndex(m.indexCorpus(big))
      .transform(Seq((9000L, Array(1.0, 0.0, 0.0)))
        .toDF("doc_id", "embedding"))
    assert(out.count() == 0, "batch twin of corpus member 2099 must drop")
  }

  test("transformSchema validates idCol/inputCol and the reserved " +
    "__drop_id (fail-fast, named errors)") {
    val e1 = intercept[IllegalArgumentException] {
      new IncrementalSemDeDup().setInputCol("embedding")
        .setIdCol("nope").fit(corpus)
    }
    assert(e1.getMessage.contains("idCol 'nope' not found"))
    val e2 = intercept[IllegalArgumentException] {
      new IncrementalSemDeDup().setInputCol("missing").fit(corpus)
    }
    assert(e2.getMessage.contains("inputCol 'missing' not found"))
    val m = new IncrementalSemDeDup().setInputCol("embedding")
      .setNClusters(1).fit(corpus)
    m.setCorpusIndex(m.indexCorpus(corpus))
    val e3 = intercept[IllegalArgumentException] {
      m.transform(batch.withColumn("__drop_id", lit(1)))
    }
    assert(e3.getMessage.contains("__drop_id"))
    val e4 = intercept[IllegalArgumentException] {
      m.transform(batch.withColumnRenamed("embedding", "emb2"))
    }
    assert(e4.getMessage.contains("inputCol 'embedding' not found"))
  }
}
