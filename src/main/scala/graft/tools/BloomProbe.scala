package graft.tools
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.dedup._

/** Diagnostic: measure the Bloom cascade's ACTUAL false-positive rate
  * on the sf0.001 snapshot split — definitively-new batch docs (exact
  * anti-join says new) that the filter flags "maybe seen". This probe
  * caught the double-hashing defect the BloomIncrementalDeduplicator
  * scaladoc records: with Kirsch-Mitzenmacher probing, the sf0.001
  * fixture's 256-bit buckets measured 4.8% FPR at the 10-bit budget
  * (theory 0.8%) and the 40-bit "5e-9" gate configuration produced 2
  * real false positives — the additive ~k/m arithmetic-progression
  * term. With the committed splitmix64 probe chain the same
  * measurement is on-theory. */
object BloomProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.ui.enabled", false)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 4 =!= 0)
    val batch = docs.filter(col("doc_id") % 4 === 0)
    val fpIdx = IncrementalDeduplicator.fingerprintIndex(corpus, "text")
    val n = fpIdx.count()
    val bloom = BloomIncrementalDeduplicator.buildIndex(fpIdx, 16)
    val row = bloom.head()
    println(s"corpus n=$n m=${row.getLong(2)} k=${row.getInt(3)}")
    val probes = IncrementalDeduplicator.fingerprintIndex(batch, "text")
    val newOnly = probes.join(fpIdx, Seq("__fp", "__fp2"), "left_anti")
      .withColumn("__bucket", pmod(col("__fp"), lit(16)).cast("int"))
      .join(bloom, Seq("__bucket"), "left_outer")
    val total = newOnly.count()
    val fps = newOnly.filter(BloomIncrementalDeduplicator.containsUdf(
      col("__bits"), col("__fp"), col("__fp2"), col("__m"), col("__k"))).count()
    println(s"new=$total falsePos=$fps fpr=${fps.toDouble/total}")
    spark.stop()
  }
}
