package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (pattern ref:
  * core/src/test/scala/.../core/test/base/TestBase.scala:26-120).
  */
object TestSpark {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()
}

trait TestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.session
  lazy val sc = spark.sparkContext

  def assertDFEq(a: DataFrame, b: DataFrame): Unit = {
    assert(a.schema.fieldNames.sorted.sameElements(b.schema.fieldNames.sorted),
      s"schema mismatch: ${a.schema.fieldNames.mkString(",")} vs ${b.schema.fieldNames.mkString(",")}")
    val cols = a.schema.fieldNames.sorted.toIndexedSeq
    val av = a.select(cols.map(org.apache.spark.sql.functions.col): _*)
      .collect().map(_.toString).sorted
    val bv = b.select(cols.map(org.apache.spark.sql.functions.col): _*)
      .collect().map(_.toString).sorted
    assert(av.sameElements(bv),
      s"data mismatch:\n  a=${av.take(5).mkString(";")}\n  b=${bv.take(5).mkString(";")}")
  }

  /** Runs `f` with the given session confs set, restoring them after. */
  def withSQLConf[T](pairs: (String, String)*)(f: => T): T = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** sf0.001 table loader for suites that want realistic data. */
  def sfTable(name: String): DataFrame =
    spark.read.parquet(s"/root/testdata/sf0.001/$name.parquet")
}
