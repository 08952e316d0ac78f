package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Diagnostic for the signature-mode incremental MinHash gate: on the
  * driver fixture's snapshot split, (1) diff signature-mode survivors
  * against exact-mode survivors, and (2) for every batch-vs-corpus band
  * candidate pair print the MinHash agreement estimate next to the
  * exact shingle Jaccard, with each side's margin to the threshold —
  * the gate is sound only when no candidate pair has the two values on
  * opposite sides of the threshold at any driver scale factor.
  *
  * Usage: graft.tools.SigModeProbe <sfDir> [threshold]
  */
object SigModeProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val t = if (args.length > 1) args(1).toDouble else 0.8
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.dedup.DedupFunctions._

    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 4 =!= 0)
    val batch = docs.filter(col("doc_id") % 4 === 0)
      .unionByName(docs.filter(col("doc_id") % 8 === 1)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      .unionByName(docs.filter(col("doc_id") % 8 === 4)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))

    // the attached corpus picks the verify rule: an index verifies by
    // signature agreement, raw text by exact shingle Jaccard
    def run(attach: graft.dedup.IncrementalMinHashDeduplicator =>
        graft.dedup.IncrementalMinHashDeduplicator) = {
      val d = attach(new graft.dedup.IncrementalMinHashDeduplicator()
        .setInputCol("text").setIdCol("doc_id").setThreshold(t))
      d.transform(batch).select("doc_id").as[Long](
        org.apache.spark.sql.Encoders.scalaLong).collect().toSet
    }
    val sig = run(_.setCorpusIndex(graft.dedup.IncrementalMinHashDeduplicator
      .signatureIndex(corpus, "doc_id", "text", 3, 128)))
    val exact = run(_.setCorpus(corpus))
    println(s"survivors: signature=${sig.size} exact=${exact.size} " +
      s"symmetric-diff=${(sig diff exact).size + (exact diff sig).size}")
    ((sig diff exact) ++ (exact diff sig)).toSeq.sorted.take(20)
      .foreach(id => println(s"  DIFF doc_id=$id sigKept=${sig(id)}"))

    // candidate pairs (uncapped band join) with both verdicts
    val numHashes = 128; val bands = 32; val r = numHashes / bands
    val bSig = batch.select(col("doc_id").as("__id"),
      minHashSignature(hashedShingles(col("text"), 3), numHashes).as("__sig"),
      hashedShingles(col("text"), 3).as("__sh"))
    val cSig = corpus.select(col("doc_id").as("__cid"),
      minHashSignature(hashedShingles(col("text"), 3), numHashes).as("__csig"),
      hashedShingles(col("text"), 3).as("__csh"))
    val bk = bSig.select(col("__id"),
      explode(bandHashes(col("__sig"), bands, r)).as("__key"))
    val ck = cSig.select(col("__cid"),
      explode(bandHashes(col("__csig"), bands, r)).as("__key"))
    val cands = bk.join(ck, Seq("__key")).select("__id", "__cid").distinct()
    val agree = aggregate(
      zip_with(col("__sig"), col("__csig"),
        (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x).cast("double") / size(col("__sig"))
    val scored = cands.join(bSig, Seq("__id")).join(cSig, Seq("__cid"))
      .select(col("__id"), col("__cid"), agree.as("est"),
        jaccard(col("__sh"), col("__csh")).as("exact"))
      .cache()
    val n = scored.count()
    val flips = scored.filter((col("est") >= t) =!= (col("exact") >= t))
    val nf = flips.count()
    println(s"candidate pairs=$n threshold=$t flips=$nf")
    flips.orderBy(abs(col("exact") - t)).limit(20).collect().foreach(r =>
      println(f"  FLIP b=${r.getLong(1)} c=${r.getLong(0)} " +
        f"est=${r.getDouble(2)}%.4f exact=${r.getDouble(3)}%.4f"))
    // margin spectrum: nearest values to the threshold on each side
    println("nearest-to-threshold pairs (by exact):")
    scored.orderBy(abs(col("exact") - t)).limit(12).collect().foreach(r =>
      println(f"  b=${r.getLong(1)} c=${r.getLong(0)} " +
        f"est=${r.getDouble(2)}%.4f exact=${r.getDouble(3)}%.4f"))
    println("nearest-to-threshold pairs (by est):")
    scored.orderBy(abs(col("est") - t)).limit(12).collect().foreach(r =>
      println(f"  b=${r.getLong(1)} c=${r.getLong(0)} " +
        f"est=${r.getDouble(2)}%.4f exact=${r.getDouble(3)}%.4f"))
    spark.stop()
  }
}
