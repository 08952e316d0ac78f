package graft.gates

import graft.SparkEntry
import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the gate registry. Building it needs no Spark session:
  * queries are closures, oracles are strings. */
class GateRegistrySuite extends AnyFunSuite {

  private val rowsOnly = Set("access_anomaly", "dedup_simhash", "embed_chain",
    "image_embed_chain", "knn_ivf", "knn_ivfpq", "knn_lsh", "semdedup",
    "semdedup_incremental", "semdedup_stream_autok", "trained_embed_chain")

  test("the registry holds 180 uniquely named gates") {
    val names = GateRegistry.all.map(_.name)
    assert(names.size == 180)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.queries.keySet == names.toSet)
  }

  test("a repeated gate name is rejected") {
    val g = GateRegistry.all.head
    val e = intercept[IllegalArgumentException] {
      GateRegistry.of(Seq(g, GateRegistry.all(1), g.copy(oracle = None)))
    }
    assert(e.getMessage.contains(g.name))
  }

  test("exactly the 11 rows-only gates carry no oracle") {
    assert(GateRegistry.all.filter(_.oracle.isEmpty).map(_.name).toSet == rowsOnly)
  }

  test("every other gate has its oracle in oracleSql") {
    assert(SparkEntry.oracleSql.keySet ==
      GateRegistry.all.map(_.name).toSet -- rowsOnly)
    assert(SparkEntry.oracleSql.size == 169)
  }

  test("the streaming reruns share their base gate's oracle text") {
    val o = SparkEntry.oracleSql
    assert(o("dedup_minhash_stream_fb") == o("dedup_minhash_stream"))
    assert(o("semdedup_stream_fb") == o("semdedup_stream"))
    assert(o("semdedup_stream_chained") == o("semdedup_stream"))
  }
}
