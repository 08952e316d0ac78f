package graft.text

import graft.TestBase
import graft.dedup._
import org.apache.spark.sql.functions._

class TextSuite extends TestBase {
  import spark.implicits._

  test("UnicodeNormalize NFC + lower") {
    val df = Seq("Café", "ABC").toDF("t") // e + combining acute
    val out = new UnicodeNormalize().setInputCol("t").setOutputCol("n")
      .setForm("NFC").transform(df).select("n").as[String].collect()
    assert(out.contains("café") && out.contains("abc"))
  }

  test("TextPreprocessor longest-match trie replace") {
    val df = Seq("the catfish sat on the cat").toDF("t")
    val out = new TextPreprocessor().setInputCol("t").setOutputCol("r")
      .setMap(Map("cat" -> "X", "catfish" -> "Y"))
      .transform(df).select("r").as[String].head()
    assert(out == "the Y sat on the X") // longest match wins
  }

  test("PageSplitter respects max length and preserves text") {
    val text = (1 to 100).map(i => s"word$i").mkString(" ")
    val df = Seq(text).toDF("t")
    val pages = new PageSplitter().setInputCol("t").setOutputCol("p")
      .setMaximumPageLength(100).setMinimumPageLength(50)
      .transform(df).select("p").as[Seq[String]].head()
    assert(pages.forall(_.length <= 100))
    assert(pages.mkString("") == text)
  }

  test("MultiNGram computes n-grams for each length") {
    val df = Seq(Seq("a", "b", "c", "d")).toDF("toks")
    val out = new MultiNGram().setInputCol("toks").setOutputCol("g")
      .setLengths(Seq(1, 2, 3)).transform(df).select("g").as[Seq[String]].head()
    assert(out.length == 4 + 3 + 2)
    assert(out.contains("a b") && out.contains("b c d"))
  }

  test("TextFunctions token counts and fingerprint") {
    val df = Seq("hello  world foo", "a").toDF("t")
    val counts = df.select(TextFunctions.tokenCount(col("t"))).as[Int].collect()
    assert(counts.sameElements(Array(3, 1)))
    val fps = df.select(TextFunctions.fingerprint(col("t"))).as[Long].collect()
    assert(fps.distinct.length == 2)
    // fingerprint is whitespace-insensitive
    val fp2 = Seq("hello world   foo").toDF("t")
      .select(TextFunctions.fingerprint(col("t"))).as[Long].head()
    assert(fp2 == fps(0))

    // the shared SQL word rules on edge inputs; expected values are
    // literals printed by DuckDB 1.0.0 for the oracle forms
    // string_split_regex(trim(t), '\s+') (tokens), its list_filter
    // x <> '' (words) and lower(regexp_replace(trim(t), '\s+', ' ', 'g'))
    // (canonical); tokenCount is len(tokens), and 0 for null text
    val edge = Seq[String]("", "   ", "\ta b", "a\r\nb",
      "\u0001 foo \u0001", null).toDF("t")
    val got = edge.select(Words.tokens(col("t")), Words.words(col("t")),
        DedupFunctions.canonical(col("t")), TextFunctions.tokenCount(col("t")))
      .as[(Seq[String], Seq[String], String, Int)].collect().toSeq
    assert(got == Seq(
      (Seq(""), Seq(), "", 1),
      (Seq(""), Seq(), "", 1),
      (Seq("", "a", "b"), Seq("a", "b"), " a b", 3),
      (Seq("a", "b"), Seq("a", "b"), "a b", 2),
      (Seq("\u0001", "foo", "\u0001"), Seq("\u0001", "foo", "\u0001"),
        "\u0001 foo \u0001", 3),
      (null, null, null, 0)))
  }

  test("languageId picks the stopword-matching language") {
    val df = Seq(
      "the cat and the dog went to the store",
      "le chat est dans les maisons des villes",
      "der hund ist nicht mit der katze und das haus").toDF("t")
    val langs = df.select(TextFunctions.languageId(col("t"))).as[String].collect()
    assert(langs(0) == "en" && langs(1) == "fr" && langs(2) == "de")
  }

  test("qualityScore in [0,1], higher for clean prose") {
    val df = Seq(
      "the quick brown fox jumps over the lazy dog and runs away",
      "!!!! ???? ,,,, @@@@ #### $$$$ %%%%").toDF("t")
    val qs = df.select(TextFunctions.qualityScore(col("t"))).as[Double].collect()
    assert(qs.forall(q => q >= 0 && q <= 1))
    assert(qs(0) > qs(1))
  }

  test("DocumentAnalyzer adds all stat columns") {
    val out = new DocumentAnalyzer().setInputCol("text")
      .transform(sfTable("documents"))
    assert(Seq("n_tokens", "n_tokens_est", "n_alpha", "n_punct", "n_stop",
      "quality", "quality_q4", "lang_pred", "fingerprint")
      .forall(out.columns.contains))
    assert(out.count() == 500)
    // scaled-int quality agrees with the rounded double within one ulp of
    // the 4th decimal (they share the same raw composite)
    val drift = out.selectExpr(
      "cast(max(abs(quality_q4 - round(quality * 10000))) as long)").head().getLong(0)
    assert(drift <= 1, s"quality_q4 drifted from quality: $drift")
  }

  test("shingles produce distinct word k-grams") {
    val df = Seq("a b c d").toDF("t")
    val sh = df.select(DedupFunctions.shingles(col("t"), 2)).as[Seq[String]].head()
    assert(sh.toSet == Set("a b", "b c", "c d"))
  }

  test("TokenChunker invariants hold for random doc/chunk/stride shapes") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(31415)
    val cases = Seq.fill(25) {
      val n = rnd.nextInt(120) // tokens, including 0
      val chunk = 1 + rnd.nextInt(20)
      val stride = 1 + rnd.nextInt(chunk) // stride <= chunk (overlap or abut)
      (n, chunk, stride)
    }
    for (((n, chunk, stride), ci) <- cases.zipWithIndex) {
      val doc = (1 to n).map(i => s"w$i").mkString(" ")
      val chunks = new TokenChunker().setInputCol("text").setOutputCol("c")
        .setChunkTokens(chunk).setStrideTokens(stride)
        .transform(Seq(doc).toDF("text"))
        .select(col("c")).as[Seq[String]].head()
      val expected = math.ceil(math.max(n - chunk, 0).toDouble / stride).toInt + 1
      assert(chunks.length == expected, s"case $ci ($n,$chunk,$stride)")
      val tokenLists = chunks.map(c => if (c.isEmpty) Seq.empty
        else c.split(" ").toSeq)
      // no chunk exceeds the window; every token is covered in order
      assert(tokenLists.forall(_.length <= chunk), s"case $ci oversized chunk")
      val all = (1 to n).map(i => s"w$i").toSet
      assert(tokenLists.flatten.toSet == all, s"case $ci lost tokens")
      // consecutive chunk starts advance by exactly the stride
      tokenLists.sliding(2).zipWithIndex.foreach {
        case (Seq(a, b), w) if a.nonEmpty && b.nonEmpty =>
          val sa = a.head.drop(1).toInt; val sb = b.head.drop(1).toInt
          assert(sb - sa == stride, s"case $ci window $w stride drift")
        case _ =>
      }
    }
  }

  test("TokenChunker windows overlap and cover every token") {
    import spark.implicits._
    val doc = (1 to 95).map(i => s"t$i").mkString(" ")
    val df = Seq((1L, doc), (2L, "short doc"), (3L, "")).toDF("id", "text")
    val out = new TokenChunker().setInputCol("text").setOutputCol("chunks")
      .setChunkTokens(40).setStrideTokens(30).transform(df)
      .select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("chunks"))
      .as[(Long, Seq[String])].collect().toMap
    // 95 tokens, chunk 40 stride 30 -> ceil(55/30)+1 = 3 chunks
    assert(out(1L).length == 3)
    assert(out(1L)(0).startsWith("t1 ") && out(1L)(0).endsWith(" t40"))
    assert(out(1L)(1).startsWith("t31 ") && out(1L)(1).endsWith(" t70"))
    assert(out(1L)(2).startsWith("t61 ") && out(1L)(2).endsWith(" t95"))
    // short and empty docs yield one chunk
    assert(out(2L) == Seq("short doc"))
    assert(out(3L).length == 1)
  }
}
