package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Seeded input generation. Every input of every workload is a pure
  * function of (seed, scale): a base set, then replicated `scale` times
  * with the key-shifting and per-copy vocabulary relabeling of
  * `graft.tools.ScaleGen` (fact keys shift by `copy * stride`, ~30% of
  * the words of a copy are relabeled consistently, embeddings get
  * per-copy hash noise), salted with the seed. The fit base set is a
  * seeded sample of the sf0.01 test data's events plus its embeddings;
  * the document base sets are drawn in this JVM, so that every planted
  * copy is known. Planted structure (exact copies, near-copies, junk
  * pages, outliers, anomalous accesses) is recorded so each workload's
  * expected output is known without running the program. */
object Gen {
  val Langs: Seq[String] = Seq("en", "fr", "es", "de", "it")

  private val Syllables: Map[String, Array[String]] = Map(
    "en" -> "th er on an re he in ed nd ha at en es of or nt ea ti to it st io le is ou ar as rt ve ly wh".split(" "),
    "fr" -> "le es en de re nt on ou ai an qu eu oi ui ch au ir ne se ce ra la ée té ment eau".split(" "),
    "es" -> "de en el la qu ue os ar ci ad as or ra es ll co ta do se ción ía ño mo ja".split(" "),
    "de" -> "en er ch de ei ie in te ge un st be sch ung au nd ü ä ö lich keit zw".split(" "),
    "it" -> "di la ch re er to no zi on ta gl ia io li lo ne tt cc ll ri zz gn sc".split(" "))

  /** Function words per language; every document carries some, so the
    * stop-word evidence rules see real text. */
  val FunctionWords: Map[String, Array[String]] = Map(
    "en" -> "the and of to have that it is was for not with be".split(" "),
    "fr" -> "le et les des une dans pour que vous avec sur est".split(" "),
    "es" -> "el los las una para con por como pero sobre es que".split(" "),
    "de" -> "der und die das nicht ein mit auf ist sich von zu".split(" "),
    "it" -> "il di che per una con non sono della questo anche la".split(" "))
  val EnglishStops: Array[String] = Array("the", "a", "and", "of")

  final class Vocab(seed: Long, perLang: Int) {
    val words: Map[String, Array[String]] = Langs.map { l =>
      val r = new SplittableRandom(seed * 31 + l.hashCode)
      val syl = Syllables(l)
      val set = mutable.LinkedHashSet[String]()
      while (set.size < perLang) {
        val n = 2 + r.nextInt(2)
        set += (0 until n).map(_ => syl(r.nextInt(syl.length))).mkString
      }
      l -> set.toArray
    }.toMap
  }

  /** A document of `n` words: ~15% function words of its language, a
    * few English stop words, the rest Zipf-skewed vocabulary. */
  def text(r: SplittableRandom, v: Vocab, lang: String, n: Int): Array[String] = {
    val ws = v.words(lang)
    val fw = FunctionWords(lang)
    val out = Array.tabulate(n) { _ =>
      val u = r.nextDouble()
      if (u < 0.15) fw(r.nextInt(fw.length))
      else if (u < 0.18) EnglishStops(r.nextInt(EnglishStops.length))
      else { val x = r.nextDouble(); ws((ws.length * x * x).toInt) }
    }
    // guarantee the stop-word evidence both quality filters require
    out(0) = fw(0); out(1) = EnglishStops(0); out(n / 2) = fw(1)
    out(n - 1) = fw(2)
    out
  }

  /** Replace one word in every ~`every` with a fresh vocabulary word
    * (at least one): a near-copy well above a 0.85 3-shingle Jaccard. */
  def nearCopy(r: SplittableRandom, v: Vocab, lang: String,
      src: Array[String], every: Int): Array[String] = {
    val out = src.clone()
    val ws = v.words(lang)
    val k = math.max(1, src.length / every)
    (0 until k).foreach { _ =>
      val i = 2 + r.nextInt(src.length - 4)
      out(i) = ws(r.nextInt(ws.length)) + "x"
    }
    out
  }

  def shuffled(r: SplittableRandom, src: Array[String]): Array[String] = {
    val out = src.clone()
    var i = out.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = out(i); out(i) = out(j); out(j) = t
      i -= 1
    }
    out
  }

  /** Spark's `xxhash64(col)` of a long / string, for expected digests. */
  def hashLong(v: Long): Long = XXH64.hashLong(v, 42L) & 0x7fffffffL
  def hashStr(s: String): Long = {
    val u = UTF8String.fromString(s)
    XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L) &
      0x7fffffffL
  }

  private val DocSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  private def docRow(id: Long, t: String, lang: String, src: Int): Row =
    Row(id, t, lang, s"src$src", t.length.toLong)

  /** ScaleGen's replication of a base document table: doc ids shift by
    * `copy * stride`; within copy c > 0 about 30% of distinct words are
    * relabeled `w~c`, consistently, so within-copy duplicate structure is
    * preserved while copies are far apart. Function and stop words keep
    * their spelling, so every copy still reads as text of its language. */
  def replicateDocs(base: DataFrame, stride: Long, factor: Int,
      seed: Long): DataFrame = {
    val keep = (FunctionWords.values.flatten ++ EnglishStops).toSeq.distinct
      .map(w => s"'$w'").mkString(", ")
    val relabeled = expr(
      s"""array_join(transform(split(text, ' '), w ->
         |  CASE WHEN __copy > 0 AND NOT array_contains(array($keep), w)
         |        AND pmod(xxhash64(w, __copy, ${seed}L), 10) < 3
         |       THEN concat(w, '~', CAST(__copy AS STRING)) ELSE w END), ' ')
         |""".stripMargin)
    base.withColumn("__copy", explode(sequence(lit(0L), lit(factor - 1L))))
      .withColumn("doc_id", col("doc_id") + col("__copy") * stride)
      .withColumn("text", relabeled)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("__copy")
  }

  // ---------------------------------------------------------------- curate

  /** @param clean ids of the documents curation must keep */
  final case class CurateInputs(nDocs: Long, clean: Seq[Long])

  def curate(spark: SparkSession, seed: Long, base: Int, factor: Int,
      dir: String): CurateInputs = {
    val r = new SplittableRandom(seed ^ 0x5eedc0deL)
    val v = new Vocab(seed, 1500)
    val rows = mutable.ArrayBuffer[Row]()
    val clean = mutable.ArrayBuffer[Int]()
    val words = mutable.Map[Int, (String, Array[String])]()
    (0 until base).foreach { i =>
      val u = r.nextDouble()
      val src = r.nextInt(20)
      if (clean.size > 10 && u < 0.04) { // exact copy of a clean doc
        val (l, w) = words(clean(r.nextInt(clean.size)))
        rows += docRow(i, w.mkString(" "), l, src)
      } else if (clean.size > 10 && u < 0.12) { // near copy
        val (l, w) = words(clean(r.nextInt(clean.size)))
        rows += docRow(i, nearCopy(r, v, l, w, 60).mkString(" "), l, src)
      } else if (u < 0.17) { // junk a quality gate must drop
        val l = Langs(r.nextInt(Langs.size))
        val t = r.nextInt(3) match {
          case 0 => text(r, v, l, 15 + r.nextInt(15)).mkString(" ")
          case 1 => (text(r, v, l, 60 + r.nextInt(60)) ++
            Array.fill(20)("###")).mkString(" ")
          case _ =>
            val line = text(r, v, l, 8).mkString(" ")
            Seq.fill(12)(line).mkString("\n")
        }
        rows += docRow(i, t, l, src)
      } else {
        val l = Langs(r.nextInt(Langs.size))
        val w = text(r, v, l, 60 + r.nextInt(140))
        words(i) = (l, w)
        clean += i
        rows += docRow(i, w.mkString(" "), l, src)
      }
    }
    val stride = base.toLong
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 4), DocSchema)
    replicateDocs(df, stride, factor, seed)
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val cleanAll = for (c <- 0 until factor; i <- clean) yield i + c * stride
    CurateInputs(base.toLong * factor, cleanAll)
  }

  // ------------------------------------------------------------------- fit

  /** @param plantedOutliers event ids whose value the isolation-forest
    *        check inflates (inside the slice `event_id < outlierSlice`) */
  final case class FitInputs(nEvents: Long, nUsers: Long, nVecs: Long,
      queries: Seq[Long], vecs: Map[Long, Array[Float]],
      plantedAccess: Seq[(Int, Int)], plantedOutliers: Set[Long],
      outlierSlice: Long)

  /** Fit inputs from the base tables in `baseDir` (the sf0.01 test data's
    * `events` and `embeddings`): a seeded sample of `baseEvents` events
    * and all embeddings, each replicated `factor` times with ScaleGen's
    * scheme. Event and user keys shift by `copy * (max + 1)`; the
    * recommender's item is the event's `props.k`. Embedding copies get
    * per-element hash noise of ±0.05, as in ScaleGen, salted with the
    * seed. */
  def fit(spark: SparkSession, seed: Long, baseDir: String, baseEvents: Int,
      factor: Int, dir: String): FitInputs = {
    import spark.implicits._
    val evRows = spark.read.parquet(s"$baseDir/events.parquet")
      .select(col("event_id"), col("user_id"),
        concat(lit("i"), get_json_object(col("props"), "$.k")).as("item_id"),
        col("event_type"), col("value"), col("ts"))
      .as[(Long, Long, String, String, Double, java.sql.Timestamp)].collect()
    val evStride = evRows.map(_._1).max + 1
    val userStride = evRows.map(_._2).max + 1
    val base = evRows.sortBy(e => (XXH64.hashLong(e._1, seed), e._1)).take(baseEvents)
    val events = for (c <- 0 until factor; e <- base.toSeq)
      yield e.copy(_1 = e._1 + c * evStride, _2 = e._2 + c * userStride)
    events.toDF("event_id", "user_id", "item_id", "event_type", "value", "ts")
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val usersSeen = base.map(_._2).distinct.length.toLong * factor

    val embRows = spark.read.parquet(s"$baseDir/embeddings.parquet")
      .select("vec_id", "embedding", "label").as[(Long, Array[Float], Int)].collect()
    val vecStride = embRows.map(_._1).max + 1
    def noisy(id: Long, copy: Int, v: Array[Float]): Array[Float] =
      if (copy == 0) v
      else Array.tabulate(v.length)(d => (v(d) + (java.lang.Math.floorMod(
        XXH64.hashLong(id * 131 + d, seed * 31 + copy), 1001L) / 500.0 - 1.0) * 0.05).toFloat)
    val all = for (c <- 0 until factor; (id, v, l) <- embRows.toSeq)
      yield (id + c * vecStride, noisy(id, c, v), l)
    all.toDF("vec_id", "embedding", "label")
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val vecs = all.map(t => t._1 -> t._2).toMap
    val ids = vecs.keys.toSeq.sorted
    val qr = new SplittableRandom(seed ^ 0x9e3779b9L)
    val queries = Seq.fill(20)(ids(qr.nextInt(ids.size))).distinct

    // access graph: two communities plus four planted cross accesses
    // (the test data has no access log)
    val planted = {
      val pr = new SplittableRandom(seed ^ 0xacce55L)
      val s = mutable.LinkedHashSet[(Int, Int)]()
      while (s.size < 4) {
        val u = pr.nextInt(20)
        val res = (if (u < 10) 5 else 0) + pr.nextInt(5)
        s += ((u, res))
      }
      s.toSeq
    }
    val access = (0 until 1000).map { id =>
      (id % 20, (id / 20) % 5 + 5 * ((id % 20) / 10))
    } ++ planted
    access.toDF("user", "res").withColumn("tenant", lit(0))
      .write.mode("overwrite").parquet(s"$dir/access.parquet")

    // outliers planted into the first two copies' events
    val slice = 2 * evStride
    val salt = (seed % 97 + 97) % 97
    val outliers = (0 until math.min(2, factor)).flatMap { c =>
      base.map(_._1 + c * evStride)
    }.filter(i => (i + salt) % 97 == 0).toSet
    FitInputs(baseEvents.toLong * factor, usersSeen, vecs.size.toLong,
      queries, vecs, planted, outliers, slice)
  }

  // ---------------------------------------------------------------- stream

  /** Corpus documents (indexed in set-up) and fixed-size arrival batches,
    * one parquet file each. Each batch holds novel documents plus planted
    * copies: near-copies and word-shuffled copies of corpus documents,
    * of documents that arrived in earlier batches, and one exact repeat
    * inside the batch. Only the novel documents may survive. */
  final case class StreamInputs(nCorpus: Long, nArrivals: Long, batches: Int,
      survivors: Seq[String])

  def stream(spark: SparkSession, seed: Long, nCorpus: Int, batches: Int,
      novelPerBatch: Int, dir: String): StreamInputs = {
    import spark.implicits._
    val r = new SplittableRandom(seed ^ 0x57ea3L)
    val v = new Vocab(seed + 7, 1500)
    def doc(): (String, Array[String]) = {
      val l = Langs(r.nextInt(Langs.size))
      (l, text(r, v, l, 60 + r.nextInt(140)))
    }
    val corpus = IndexedSeq.fill(nCorpus)(doc())
    corpus.zipWithIndex.map { case ((_, w), i) => (i.toLong, w.mkString(" ")) }
      .toDF("doc_id", "text").repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$dir/corpus.parquet")
    val arrivedBefore = mutable.ArrayBuffer[(String, Array[String])]()
    val survivors = mutable.ArrayBuffer[String]()
    var nextId = 10000000L
    var total = 0L
    val arrDir = new java.io.File(s"$dir/arrivals")
    arrDir.mkdirs()
    val stage = s"$dir/arrivals_stage"
    (0 until batches).foreach { b =>
      val rows = mutable.ArrayBuffer[(Long, String)]()
      def emit(t: String): Unit = { rows += ((nextId, t)); nextId += 1 }
      val novel = IndexedSeq.fill(novelPerBatch)(doc())
      novel.foreach { case (_, w) => emit(w.mkString(" ")); survivors += w.mkString(" ") }
      val k = math.max(1, novelPerBatch / 8)
      (0 until k).foreach { _ =>
        val (l, w) = corpus(r.nextInt(corpus.size))
        emit(nearCopy(r, v, l, w, 80).mkString(" "))
        val (_, w2) = corpus(r.nextInt(corpus.size))
        emit(shuffled(r, w2).mkString(" "))
        if (arrivedBefore.nonEmpty) {
          val (l3, w3) = arrivedBefore(r.nextInt(arrivedBefore.size))
          emit(nearCopy(r, v, l3, w3, 80).mkString(" "))
          val (_, w4) = arrivedBefore(r.nextInt(arrivedBefore.size))
          emit(shuffled(r, w4).mkString(" "))
        }
      }
      emit(novel(r.nextInt(novel.size))._2.mkString(" ")) // in-batch repeat
      arrivedBefore ++= novel
      val order = shuffled(r, rows.indices.map(_.toString).toArray).map(_.toInt)
      order.map(rows(_)).toSeq.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      val dst = new java.io.File(arrDir, f"batch-$b%04d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + b * 1000L)
      total += rows.size
    }
    StreamInputs(nCorpus.toLong, total, batches, survivors.toSeq)
  }
}
