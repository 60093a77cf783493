package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.StarSchema

class StarSchemaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("buildDim: distinct natural keys, deterministic unique surrogates") {
    val src = Seq("a", "b", "a", "c").toDF("k")
    val dim = StarSchema.buildDim(src, "id", Seq("k"))
    assert(dim.count() == 3)
    assert(dim.select($"id").distinct().count() == 3)
    // deterministic: rebuilding yields identical (k, id) assignments
    val again = StarSchema.buildDim(src, "id", Seq("k"))
    assert(dim.as[(String, Long)].collect().toSet ==
      again.as[(String, Long)].collect().toSet)
  }

  test("resolveFk is null-safe on partially-null composite keys") {
    // Dim_Event-style composite key with optional components
    // (merge_to_dw.py:242-251): rows with SOME null components are real
    // dim rows (buildDim keeps any-present keys) and must resolve facts.
    val facts = Seq(("ev1", Some("2020")), ("ev2", None), ("ev3", Some("x")))
      .toDF("title", "published")
    val dim = StarSchema.buildDim(
      Seq(("ev1", Some("2020")), ("ev2", None)).toDF("title", "published"),
      "id", Seq("title", "published"))
    val resolved = StarSchema.resolveFk(facts, dim,
      Seq("title", "published"), "id")
    val byKey = resolved.select($"title", $"id").as[(String, Option[Long])]
      .collect().toMap
    assert(byKey("ev1").isDefined)
    assert(byKey("ev2").isDefined)    // null component joined via <=>
    assert(byKey("ev3").isEmpty)      // no dim row -> null FK
    // gate drops the unresolved fact only
    assert(StarSchema.gateComplete(resolved, Seq("id")).count() == 2)
  }

  test("surrogateKey derives the id resolveFk finds when the dim holds the key") {
    // The resolveFk fixture above, plus an all-null key: the dimension is
    // built from the same rows as the facts, except ev3.
    val key = Seq("title", "published")
    val dimRows = Seq((Some("ev1"), Some("2020")), (Some("ev2"), None),
      (None, None))
    val dim = StarSchema.buildDim(dimRows.toDF(key: _*), "id", key)
    assert(!dim.schema("id").nullable) // a dimension row always has an id
    val facts = (dimRows :+ ((Some("ev3"), Some("x")))).toDF(key: _*)
    val ids = StarSchema.resolveFk(facts, dim, key, "id")
      .select($"title", $"id", StarSchema.surrogateKey(key).as("derived"))
      .as[(Option[String], Option[Long], Option[Long])]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    for (title <- Seq(Some("ev1"), Some("ev2"))) { // full and partial key
      val (joined, derived) = ids(title)
      assert(joined.isDefined && derived == joined, title)
    }
    assert(ids(None) == ((None, None)))            // all-null key: no id
    // A key the dimension lacks: the join finds no row, the hash still
    // derives a (dangling) id — why resolveFk stays for foreign dims.
    val (joined, derived) = ids(Some("ev3"))
    assert(joined.isEmpty && derived.isDefined)
  }

  test("upsertDim is stateless and idempotent (hash surrogates)") {
    val d1 = StarSchema.buildDim(Seq("a", "b").toDF("k"), "id", Seq("k"))
    val up = StarSchema.upsertDim(d1, Seq("b", "c").toDF("k"), "id", Seq("k"))
    assert(up.count() == 3)
    // ids equal a from-scratch build: no id re-negotiation across loads
    val scratch = StarSchema.buildDim(
      Seq("a", "b", "c").toDF("k"), "id", Seq("k"))
    assert(up.as[(String, Long)].collect().toSet ==
      scratch.as[(String, Long)].collect().toSet)
    // re-applying the same increment changes nothing
    val again = StarSchema.upsertDim(up, Seq("b", "c").toDF("k"), "id", Seq("k"))
    assert(again.as[(String, Long)].collect().toSet ==
      up.as[(String, Long)].collect().toSet)
  }
}
