package graft.dedup

import org.apache.spark.ml.Transformer
import org.apache.spark.ml.param._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Shared shell of the binary-payload fingerprint deduplicators
  * ([[graft.image.ImagePHashDeduplicator]],
  * [[graft.io.binary.AudioFingerprintDeduplicator]]): decode each
  * payload ONCE into a checkpointed narrow (id, 64-bit fingerprint)
  * frame — optionally spreading the CPU-bound decode across every slot
  * first — then the Manku pigeonhole
  * ([[DedupFunctions.hammingDupIds]]) and the smallest-id-survives
  * anti-join. Null or undecodable payloads fingerprint as null — no
  * evidence — and are always KEPT. Subclasses supply the fingerprint
  * kernel and their measured `spreadDecode` constant (extracted round
  * 16: the two operators differed only in those, and single-sided
  * fixes to the shared mechanics kept missing the copy). `spreadDecode`
  * is fixed per class, not settable: it follows the payload's
  * decode-cost/byte ratio, which is a property of the format.
  */
abstract class FingerprintDeduplicatorBase extends Transformer
    with graft.core.HasInputCol with graft.core.GraftWritable {

  final val idCol = new Param[String](this, "idCol", "unique row id column")
  setDefault(idCol -> "doc_id")
  def setIdCol(v: String): this.type = set(idCol, v)
  final val maxHamming = new IntParam(this, "maxHamming",
    "hamming cutoff", ParamValidators.gtEq(0))
  setDefault(maxHamming -> 4)
  def setMaxHamming(v: Int): this.type = set(maxHamming, v)
  /** The block count is a scale lever, not a recall knob: candidates
    * bucket on blocks−maxHamming agreeing blocks, so the bucket key
    * carries ~64·(blocks−maxHamming)/blocks fingerprint bits.
    * Defaults (4, 6) = ~21-bit keys over C(6,2)=15 tables — the point
    * the round-16 100x sweep validated after (6, 8)'s 16-bit keys
    * spilled 54.8 GB of false candidates. At billion-item scale
    * tighten the hash rather than widen the ball past what the keys
    * can pay for. */
  final val blocks = new IntParam(this, "blocks",
    "pigeonhole blocks (> maxHamming; key width grows with blocks-maxHamming)",
    ParamValidators.gt(0))
  setDefault(blocks -> 6)
  def setBlocks(v: Int): this.type = set(blocks, v)
  final val maxBucketSize = new IntParam(this, "maxBucketSize",
    "per-bucket candidate cap (skew guard)", ParamValidators.gt(0))
  setDefault(maxBucketSize -> 1000)
  def setMaxBucketSize(v: Int): this.type = set(maxBucketSize, v)
  /** Repartition (id, bytes) across all slots before decoding when the
    * scan gave fewer partitions than slots — pays a payload shuffle to
    * parallelize the decode. Each subclass fixes it from its format's
    * measured decode-cost/byte ratio. */
  protected def spreadDecode: Boolean

  /** 64-bit fingerprint of one payload; null = undecodable/no evidence.
    * Must be a pure function (it runs inside a deterministic UDF). */
  protected def fingerprint(bytes: Array[Byte]): java.lang.Long

  override def transform(ds: Dataset[_]): DataFrame = {
    import DedupFunctions._
    // validate BEFORE the eager checkpoint decodes the corpus — the
    // require inside hammingDupIds would otherwise fire after minutes
    // of decode work at a 100x corpus
    transformSchema(ds.schema)
    require($(blocks) > $(maxHamming),
      s"blocks (${$(blocks)}) must exceed maxHamming (${$(maxHamming)})")
    val df = ds.toDF()
    val id = col($(idCol))
    val fpUdf = udf((b: Array[Byte]) => fingerprint(b))
    val narrow = df.select(id.cast("long").as("__id"),
      col(getInputCol).as("__bytes"))
    val slots = df.sparkSession.sparkContext.defaultParallelism
    val spread =
      if (spreadDecode && narrow.rdd.getNumPartitions < slots)
        narrow.repartition(slots)
      else narrow
    val fps = spread
      .select(col("__id"), fpUdf(col("__bytes")).as("__fp"))
      .filter(col("__fp").isNotNull)
      .localCheckpoint()
    val dupIds = hammingDupIds(fps, col("__id"), "__fp", $(maxHamming),
      $(blocks), $(maxBucketSize), s"${uid}_dropped")
    df.join(dupIds, id.cast("long") === col("__dup_id"), "left_anti")
  }
  override def transformSchema(schema: StructType): StructType = {
    // fail at plan-construction time with a named column, not minutes
    // into the decode with a raw unresolved-column error (round-16
    // advice: a forgotten setIdCol used to surface mid-transform)
    require(schema.fieldNames.contains($(idCol)),
      s"idCol '${$(idCol)}' not found in ${schema.fieldNames.mkString(", ")}")
    require(schema.fieldNames.contains(getInputCol),
      s"inputCol '$getInputCol' not found in " +
        schema.fieldNames.mkString(", "))
    schema
  }
}
