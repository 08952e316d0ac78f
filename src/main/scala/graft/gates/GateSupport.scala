package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Helpers shared by several gate families. */
object GateSupport {
  /** Table `name` of the test-data directory `dir`. */
  def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")
}

/** Planted-multilingual fixture shared by the language_id and
  * trained-embedding gates, the trained_embed_chain dedup gate and
  * LanguageIdentifierSuite: five languages with characteristic word
  * pools; each doc's language is doc_id % 5 and its text is a
  * deterministic 16-word sample of the pool (word i =
  * pool[(doc_id*7 + i*13) % 12] — pure integer arithmetic, so the
  * synthesis is replayable anywhere, though the ORACLE only needs the
  * planted label: the gate is the quality_classifier pattern, pass =
  * the trained classifier recovers every planted language exactly).
  */
private[graft] object LanguageGateFixture {
  /** doc_id % 5 -> language code. */
  val LangByMod: Seq[String] = Seq("en", "fr", "es", "de", "it")
  val Pools: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "have", "that", "it", "is",
      "was", "for", "not", "with"),
    "fr" -> Seq("le", "et", "les", "des", "une", "dans", "pour", "que",
      "vous", "avec", "être", "sur"),
    "es" -> Seq("el", "los", "las", "una", "para", "con", "por", "como",
      "más", "pero", "sobre", "también"),
    "de" -> Seq("der", "und", "die", "das", "nicht", "ein", "mit", "für",
      "auf", "ist", "sich", "von"),
    "it" -> Seq("il", "di", "che", "per", "una", "con", "non", "sono",
      "della", "questo", "più", "anche"))

  def langCol: org.apache.spark.sql.Column =
    element_at(typedLit(LangByMod), (col("doc_id") % 5 + 1).cast("int"))

  private def poolText(pool: Seq[String]): org.apache.spark.sql.Column =
    concat_ws(" ", transform(sequence(lit(0), lit(15)),
      i => element_at(typedLit(pool),
        ((col("doc_id") * 7 + i * 13) % 12 + 1).cast("int"))))

  def textCol: org.apache.spark.sql.Column =
    LangByMod.zipWithIndex.foldLeft(
      lit(null).cast(org.apache.spark.sql.types.StringType)) {
      case (acc, (l, i)) =>
        when(col("doc_id") % 5 === i, poolText(Pools(l))).otherwise(acc)
    }
}
