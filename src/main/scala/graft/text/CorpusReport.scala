package graft.text

import graft.core._
import org.apache.spark.ml.Transformer
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dataset-card summary of a document corpus — the one-row report a
  * curation run publishes next to its output (docs, token/char mass,
  * exact dup rate, language and domain breadth, length quantiles). One
  * map-side-combined aggregation pass; the exact-distinct counts use the
  * same 128-bit-fingerprint trick as [[graft.dedup.ExactDeduplicator]]
  * (count distinct over a 16-byte key, never the text), so the report
  * costs one shuffle of key-sized rows regardless of corpus bytes.
  *
  * Every emitted column is an exact integer — the report is
  * hash-gateable and engine-portable by construction (length quantiles
  * are exact: computed on BIGINT with percentile_approx avoided).
  */
class CorpusReport(override val uid: String) extends Transformer
    with HasInputCol with graft.core.GraftWritable {
  def this() = this(Identifiable.randomUID("CorpusReport"))

  final val langCol = new Param[String](this, "langCol", "language column")
  setDefault(langCol -> "lang")
  def setLangCol(v: String): this.type = set(langCol, v)
  final val domainCol = new Param[String](this, "domainCol", "domain column")
  setDefault(domainCol -> "source")
  def setDomainCol(v: String): this.type = set(domainCol, v)

  /** Composition-table mode (round 15): one report row PER value of
    * this column (e.g. the language or the registered domain) — the
    * per-source breakdown a data card tabulates ("X docs / Y tokens of
    * web, Z of code"). Same exact-integer columns, same single
    * aggregation pass (the shuffle key gains the group); '' (default) =
    * the one-row corpus-wide report. Null group values report as a
    * NULL-keyed row rather than being dropped. */
  final val groupByCol = new Param[String](this, "groupByCol",
    "optional grouping column: one report row per value ('' = one " +
      "corpus-wide row)")
  setDefault(groupByCol -> "")
  def setGroupByCol(v: String): this.type = set(groupByCol, v)

  override def transform(ds: Dataset[_]): DataFrame = {
    val df = ds.toDF()
    val (fp, fp2) = graft.dedup.DedupFunctions.fingerprintPair(
      graft.dedup.DedupFunctions.canonical(col(getInputCol)))
    val toks = UnigramLM.tokens(col(getInputCol))
    val grouped = $(groupByCol).nonEmpty
    if (grouped)
      require(df.columns.contains($(groupByCol)),
        s"groupByCol '${$(groupByCol)}' not in input")
    val groupSel =
      if (grouped) Seq(col($(groupByCol)).cast("string").as("__grp"))
      else Seq.empty
    val base = df.select(groupSel ++ Seq(
        length(col(getInputCol)).cast("long").as("__chars"),
        size(toks).cast("long").as("__ntok"),
        struct(fp, fp2).as("__fp"),
        col($(langCol)).cast("string").as("__lang"),
        col($(domainCol)).cast("string").as("__dom")): _*)
    val aggs = Seq(
        coalesce(sum(col("__ntok")), lit(0L)).as("n_tokens"),
        coalesce(sum(col("__chars")), lit(0L)).as("n_chars"),
        countDistinct(col("__fp")).as("n_unique_docs"),
        countDistinct(col("__lang")).as("n_langs"),
        countDistinct(col("__dom")).as("n_domains"),
        coalesce(min(col("__ntok")), lit(0L)).as("min_tokens"),
        coalesce(max(col("__ntok")), lit(0L)).as("max_tokens"),
        coalesce(sum(when(col("__ntok") === 0, 1L).otherwise(0L)), lit(0L))
          .as("n_empty_docs"))
    val head = count(lit(1)).as("n_docs")
    val report =
      if (grouped)
        base.groupBy(col("__grp").as($(groupByCol))).agg(head, aggs: _*)
      else base.agg(head, aggs: _*)
    report.withColumn("n_exact_dups", col("n_docs") - col("n_unique_docs"))
  }
  override def transformSchema(schema: StructType): StructType = {
    val metrics = Seq(
      StructField("n_docs", LongType), StructField("n_tokens", LongType),
      StructField("n_chars", LongType),
      StructField("n_unique_docs", LongType),
      StructField("n_langs", LongType), StructField("n_domains", LongType),
      StructField("min_tokens", LongType), StructField("max_tokens", LongType),
      StructField("n_empty_docs", LongType),
      StructField("n_exact_dups", LongType))
    if ($(groupByCol).nonEmpty)
      StructType(StructField($(groupByCol), StringType) +: metrics)
    else StructType(metrics)
  }
  override def copy(extra: ParamMap): CorpusReport = defaultCopy(extra)
}
object CorpusReport extends graft.core.GraftReadable[CorpusReport]
