package graft.text

import graft.TestBase
import graft.gates.LanguageGateFixture
import org.apache.spark.sql.functions._

class LanguageIdentifierSuite extends TestBase {
  import spark.implicits._

  /** The language_id gate's planted-multilingual synthesis over a
    * small id range. */
  private def synth(n: Int) = {
    spark.range(n).select(col("id").as("doc_id"))
      .withColumn("lang", LanguageGateFixture.langCol)
      .withColumn("text", LanguageGateFixture.textCol)
  }

  test("recovers every planted language on a held-out split, with margin") {
    val docs = synth(400)
    val m = new LanguageIdentifier().setInputCol("text")
      .setLabelCol("lang").setNumBits(18).setMaxIter(30)
      .fit(docs.filter(col("doc_id") % 3 =!= 0))
    val scored = m.transform(docs)
    assert(scored.filter(col("lang_pred") =!= col("lang")).count() == 0)
    // confident, not borderline: every argmax probability past 0.5
    assert(scored.agg(min("lang_prob")).as[Double].head() > 0.5)
    assert(m.lrModel.numClasses == 5)
  }

  test("genuinely distinct scripts separate with margin; mixed page is unsure") {
    // real-script pools (the planted gate fixture is Latin-token-only):
    // CJK incl. an astral-plane char, Cyrillic, Arabic, Greek — the
    // codepoint-based grams and murmur hashing must hold outside ASCII
    val pools = Map(
      "zh" -> "的 是 不 我 了 人 在 有 他 这 個 們 𠀀好 中 文".split(" "),
      "ru" -> "и в не на я что он с это как его но по из у".split(" "),
      "ar" -> "في من على أن هذا إلى كان لا ما هو أو عن مع كل قد".split(" "),
      "el" -> "και να το που δεν από με για είναι στο των μια τον σε αυτό"
        .split(" "))
    def doc(lang: String, seed: Int): String = {
      val p = pools(lang)
      (0 until 30).map(i => p((seed * 7 + i) % p.length)).mkString(" ")
    }
    val rows = for {
      lang <- pools.keys.toSeq.sorted
      s <- 0 until 40
    } yield (lang, doc(lang, s))
    val df = rows.toDF("lang", "text")
    val m = new LanguageIdentifier().setInputCol("text")
      .setLabelCol("lang").setNumBits(16).setMaxIter(30).fit(df)
    val scored = m.transform(df)
    assert(scored.filter(col("lang_pred") =!= col("lang")).count() == 0)
    val pureMin = scored.agg(min("lang_prob")).as[Double].head()
    assert(pureMin > 0.7, s"pure-script margin too low: $pureMin")
    // a half-Cyrillic half-Greek page: argmax lands on one of the two
    // mixed scripts and confidence drops below every pure page — the
    // languageMinProb floor exists for exactly this class
    val mixed = ((0 until 15).map(i => pools("ru")(i)) ++
      (0 until 15).map(i => pools("el")(i))).mkString(" ")
    val mr = m.transform(Seq(("??", mixed)).toDF("lang", "text"))
      .select("lang_pred", "lang_prob").as[(String, Double)].head()
    assert(Set("ru", "el").contains(mr._1), s"mixed page -> $mr")
    assert(mr._2 < pureMin, s"mixed confidence $mr not below $pureMin")
  }

  test("coefficient-matrix ceiling fails fast with numBits named") {
    // 33 labels x 2^26 = 2.2B dense entries: past one JVM array. The
    // require fires right after the label census — no L-BFGS runs
    val df = (0 until 33).map(i => (f"l$i%02d", s"text $i"))
      .toDF("lang", "text")
    val ex = intercept[IllegalArgumentException] {
      new LanguageIdentifier().setInputCol("text").setLabelCol("lang")
        .setNumBits(26).fit(df)
    }
    assert(ex.getMessage.contains("numBits"))
  }

  test("labels index deterministically (sorted), output schema appended") {
    val docs = synth(100)
    val m = new LanguageIdentifier().setInputCol("text")
      .setLabelCol("lang").fit(docs)
    assert(m.get(m.labels).get.toSeq == Seq("de", "en", "es", "fr", "it"))
    val out = m.transform(docs)
    assert(out.columns.toSeq ==
      Seq("doc_id", "lang", "text", "lang_pred", "lang_prob"))
  }

  test("model save/load roundtrip reproduces predictions exactly") {
    val docs = synth(200)
    val m = new LanguageIdentifier().setInputCol("text")
      .setLabelCol("lang").setMaxIter(20).fit(docs)
    val path = java.nio.file.Files.createTempDirectory("li").toString + "/m"
    m.write.overwrite().save(path)
    val loaded = LanguageIdentifierModel.load(path)
    assertDFEq(
      m.transform(docs).select("doc_id", "lang_pred"),
      loaded.transform(docs).select("doc_id", "lang_pred"))
  }

  test("charNGrams: exact grams, short-text empty (not a descending sequence)") {
    val df = Seq("abcd", "ab", "", null).toDF("t")
    val got = df.select(
      LanguageIdentifierModel.charNGrams(col("t"), 3).as("g"))
      .as[Seq[String]].collect()
    assert(got(0) == Seq("abc", "bcd"))
    assert(got(1) == Seq.empty) // len < n: sequence(1,0) would DESCEND
    assert(got(2) == Seq.empty)
    assert(got(3) == Seq.empty) // null text -> no grams (when() guard)
  }

  test("webExtraction language gate drops other languages pre-C4, cols clean") {
    def page(body: String) =
      s"<html><body><p>$body</p></body></html>"
    // long enough to survive C4's line rules AND its 5-sentence page rule
    val en = ("the cat sat on the mat and it was happy there. " * 6).trim
    val fr = ("le chat est sur le tapis et vous avez une idée. " * 6).trim
    val df = Seq(
      ("https://ok.com/en", page(en)),
      ("https://ok.com/fr", page(fr))).toDF("url", "html")
    // train on the planted fixture (the recipes caller supplies any
    // fitted model); en/fr pools cover this page's vocabulary class
    val m = new LanguageIdentifier().setInputCol("text")
      .setLabelCol("lang").setMaxIter(30).fit(synth(300))
    val out = Recipes.webExtraction(
      languageGate = Some((m, Seq("en")))).fit(df).transform(df)
    assert(out.columns.toSeq == Seq("url", "text"))
    assert(out.select("url").as[String].collect().toSeq ==
      Seq("https://ok.com/en"))
    // a confidence floor above any attainable argmax drops everything
    // (CCNet's 0.5 rule, exaggerated so the test is margin-independent)
    val none = Recipes.webExtraction(
      languageGate = Some((m, Seq("en"))), languageMinProb = 1.1)
      .fit(df).transform(df)
    assert(none.count() == 0)
  }
  test("hashFeatures kernel == the charNGrams+VW expression composition") {
    // the kernel must stay BIT-exact with the original column chain so
    // models saved before the rewrite keep their coefficient indices
    val texts = Seq("The quick  Brown\tfox", "éàü  ñ", "a", "", null,
      "x 😀y z", "  padded  ", "multi\nline\ntext here")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "t")
    val kernel = LanguageIdentifierModel.featurize(df, "t", 14, 3)
      .select("id", "__li_features")
    val canon = regexp_replace(lower(col("t")), "\\s+", " ")
    val viaExprs = new graft.featurize.VowpalHashFeaturizer()
      .setInputCols(Array("__li_g1", "__li_g2", "__li_g3"))
      .setOutputCol("__li_features").setNumBits(14)
      .transform((1 to 3).foldLeft(df) { case (d, n) =>
        d.withColumn(s"__li_g$n",
          LanguageIdentifierModel.charNGrams(canon, n))
      }).select("id", "__li_features")
    assertDFEq(kernel, viaExprs)
  }

  test("trainSample: bounded deterministic fit still recovers the rule") {
    val docs = synth(400)
    // sample smaller than the corpus: exact rule recovery must survive
    val m = new LanguageIdentifier().setInputCol("text")
      .setLabelCol("lang").setNumBits(18).setMaxIter(30)
      .setTrainSample(150).fit(docs)
    assert(m.transform(docs)
      .filter(col("lang_pred") =!= col("lang")).count() == 0)
    // partitioning must not change the sampled set: same predictions
    val m2 = new LanguageIdentifier().setInputCol("text")
      .setLabelCol("lang").setNumBits(18).setMaxIter(30)
      .setTrainSample(150).fit(docs.repartition(7))
    assertDFEq(m.transform(docs).select("doc_id", "lang_pred"),
      m2.transform(docs).select("doc_id", "lang_pred"))
    // a sample too small to cover every language gets per-class
    // top-ups: every label still trains (each fixture doc carries its
    // full 12-word pool, so even one doc per class recovers the rule)
    val m3 = new LanguageIdentifier().setInputCol("text")
      .setLabelCol("lang").setNumBits(18).setMaxIter(30)
      .setTrainSample(2).fit(docs)
    assert(m3.get(m3.labels).get.toSeq == Seq("de", "en", "es", "fr", "it"))
    assert(m3.transform(docs)
      .filter(col("lang_pred") =!= col("lang")).count() == 0)
  }
}
