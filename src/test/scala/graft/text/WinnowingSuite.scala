package graft.text

import graft.TestBase
import org.apache.spark.sql.functions._

class WinnowingSuite extends TestBase {
  import spark.implicits._

  /** The oracle's canonical text,
    * `trim(regexp_replace(lower(text), '\s+', ' ', 'g'))`, written out
    * independently: DuckDB's `lower` maps each codepoint on its own and
    * its `trim` strips spaces only. */
  private def oracleCanon(text: String): String = {
    val low = text.codePoints().map(Character.toLowerCase(_: Int))
      .toArray
    new String(low, 0, low.length).replaceAll("\\s+", " ")
      .dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
  }

  private def reference(text: String, k: Int, w: Int): Set[(Int, String)] =
    grams(oracleCanon(text), k, w)

  /** Straight-from-the-paper reference over canonical text `t`: md5-hex
    * hashes of char k-grams, slide a w-window, keep each window's min
    * (rightmost on ties). Grams count CODEPOINTS (the Spark substring /
    * DuckDB substr unit), not UTF-16 chars. */
  private def grams(t: String, k: Int, w: Int): Set[(Int, String)] = {
    val cps = t.codePoints().toArray
    val m = cps.length - k + 1
    if (m < 1) return Set.empty
    val md = java.security.MessageDigest.getInstance("MD5")
    val hs = (1 to m).map { p =>
      md.reset()
      md.digest(new String(cps, p - 1, k).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    }.toArray
    val starts = 1 to math.max(1, m - w + 1)
    starts.map { q =>
      val win = hs.slice(q - 1, math.min(q - 1 + w, m))
      val mh = win.min
      val right = q + win.lastIndexOf(mh)
      (right, mh)
    }.toSet
  }

  private def run(text: String, k: Int, w: Int): Set[(Int, String)] = {
    val df = Seq((0L, text)).toDF("doc_id", "text")
    new DocumentFingerprinter().setInputCol("text").setK(k).setWindow(w)
      .transform(df)
      .select(explode(col("fingerprints")).as("fp"))
      .select(col("fp.pos"), col("fp.hash")).as[(Int, String)]
      .collect().toSet
  }

  test("matches the paper's algorithm on varied texts") {
    val texts = Seq(
      "A do run run run, a do run run",
      "the quick brown fox jumps over the lazy dog",
      "aaaaaaaaaaaaaaaaaaa",
      "abababababababab",
      "short",
      "exactly9!",
      "ten chars!!",
      "  spaces   collapse\tand   CASE  Folds  ",
      "z y x w v u t s r q p o n m l k j i h g f e d c b a")
    for (t <- texts; (k, w) <- Seq((9, 4), (5, 3), (3, 2), (4, 8)))
      assert(run(t, k, w) == reference(t, k, w),
        s"mismatch on '$t' k=$k w=$w")
  }

  test("canonical text is the oracle's: per-codepoint lowercase, " +
    "space-only trim") {
    // expected canonical strings are literals printed by DuckDB 1.0.0
    // for trim(regexp_replace(lower(t), '\s+', ' ', 'g')). Java's
    // toLowerCase maps 'İ' to two characters and a final 'Σ' to 'ς',
    // and Java's trim would strip the \u0001 ends
    val cases = Seq(
      "İx ΟΔΟΣ  ab" -> "ix οδοσ ab",
      "\u0001 Foo\tBAR \u0001" -> "\u0001 foo bar \u0001",
      "ΣΑΣ İİ  end" -> "σασ ii end")
    for ((t, canon) <- cases) {
      assert(oracleCanon(t) == canon)
      for ((k, w) <- Seq((3, 2), (4, 3)))
        assert(run(t, k, w) == grams(canon, k, w), s"mismatch on '$t'")
    }
  }

  test("pseudo-random texts agree with the reference") {
    val rnd = new scala.util.Random(42)
    val alpha = "abcd "
    for (_ <- 1 to 30) {
      val t = (1 to (5 + rnd.nextInt(60)))
        .map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      assert(run(t, 4, 5) == reference(t, 4, 5), s"mismatch on '$t'")
    }
  }

  test("guarantee: shared substrings of length >= k+w-1 share a fingerprint") {
    val k = 5; val w = 4
    val shared = "xqzvjwkpyhgf" // length 12 = k+w-1 plus margin
    val a = "aaaa bbbb " + shared + " cccc"
    val b = "dddd " + shared + " eeee ffff"
    val fa = run(a, k, w).map(_._2)
    val fb = run(b, k, w).map(_._2)
    assert((fa intersect fb).nonEmpty,
      "winnowing guarantee violated: no shared fingerprint")
  }

  test("density: expected 2/(w+1) of grams, bounded above") {
    val docs = sfTable("documents").select("doc_id", "text").limit(200)
    val w = 4
    val out = new DocumentFingerprinter().setInputCol("text")
      .setK(9).setWindow(w).transform(docs)
      .select(size(col("fingerprints")).as("nf"),
        greatest(length(trim(regexp_replace(lower(col("text")), "\\s+", " ")))
          - 9 + 1, lit(0)).as("ng"))
      .agg(sum("nf").cast("double"), sum("ng").cast("double")).head()
    val density = out.getDouble(0) / out.getDouble(1)
    // 2/(w+1) = 0.4 expected for random hashes; real text repeats, so
    // allow a broad band but catch keep-everything / keep-nothing bugs
    assert(density > 0.2 && density < 0.6, s"density $density out of band")
  }

  test("astral code points count as one character (oracle substr parity)") {
    // gram positions and boundaries must follow CODEPOINTS: DuckDB
    // substr and Spark substring both count them, UTF-16 would shift
    // every position after an emoji
    for ((k, w) <- Seq((3, 2), (4, 3)))
      assert(run("a😀b😀c defg hij", k, w) == reference("a😀b😀c defg hij", k, w))
  }

  test("null and whitespace-only text yield empty fingerprints") {
    val df = Seq((0L, null: String), (1L, "   \t  "), (2L, ""))
      .toDF("doc_id", "text")
    val out = new DocumentFingerprinter().setInputCol("text").transform(df)
      .select(size(col("fingerprints"))).as[Int].collect()
    assert(out.toSeq == Seq(0, 0, 0))
  }

  test("sub-k and sub-window documents degrade gracefully") {
    assert(run("ab", 9, 4).isEmpty)
    // 10 chars, k=9 -> 2 grams < w: single window, its min only
    val two = run("abcdefghij", 9, 4)
    assert(two.size == 1 && two == reference("abcdefghij", 9, 4))
  }
}
