package graft.queries

import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkEntry

/** The query registry, checked without Spark: the oracle SQL contract
  * pinned by hash, and the invariants of the merge that builds
  * `SparkEntry.queries` and `SparkEntry.oracleSql`.
  */
class RegistrySpec extends AnyFunSuite {

  test("oracle SQL strings hash to the pinned contract") {
    // SHA-256 over name, NUL, SQL, NUL for each oracle, in name order.
    // A changed, added or dropped oracle string (or one that read a
    // shared CTE before its declaration and so holds the text "null")
    // moves the hash.
    val md = java.security.MessageDigest.getInstance("SHA-256")
    SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (name, sql) =>
      md.update(name.getBytes(UTF_8)); md.update(0.toByte)
      md.update(sql.getBytes(UTF_8)); md.update(0.toByte)
    }
    val hex = md.digest().map(b => f"${b & 0xff}%02x").mkString
    assert(SparkEntry.oracleSql.size == 78)
    assert(hex == "b6535f15464804bc7b1cc1623149c11bb563fd0abdd714f60fa2b2d33d4b238a")
  }

  test("a name given twice fails the merge, naming it") {
    val a = Query("q99_twice", (s, _) => s.emptyDataFrame, Some("SELECT 1"))
    val b = Query("q98_once", (s, _) => s.emptyDataFrame, None)
    val e = intercept[IllegalArgumentException](
      SparkEntry.merge(Seq(a, b), Seq(a.copy(oracle = None))))
    assert(e.getMessage.contains("q99_twice"))
    assert(!e.getMessage.contains("q98_once"))
    assert(SparkEntry.merge(Seq(a), Seq(b)).map(_.name) == Seq("q99_twice", "q98_once"))
  }

  test("every query is in the maps once, and every oracle names a query") {
    assert(SparkEntry.registry.size == 82)
    assert(SparkEntry.queries.size == 82)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.registry.forall(_.name.matches("q\\d\\d_[a-z0-9_]+")))
  }

  test("exactly q30, q32, q34 and q37 have no oracle") {
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet ==
      Set("q30_ann_cosine_topk", "q32_encode_lineage", "q34_ann_lsh", "q37_embed_neardup"))
  }

  test("the maps are built once") {
    assert(SparkEntry.queries eq SparkEntry.queries)
    assert(SparkEntry.oracleSql eq SparkEntry.oracleSql)
  }
}
