package graft

import graft.update.Statements

/** Statement construction value cases (mirror of tests/test_mongo.py:23-54,
  * :125-151 — null-skip shape, guard drops, map+filter composition). */
class StatementsSpec extends SparkSpec {
  import spark.implicits._

  test("statement holds only non-null payload fields (test_mongo.py:23-35)") {
    val df = Seq(("id1", java.lang.Double.valueOf(1.5), null.asInstanceOf[java.lang.Double]))
      .toDF("_id", "f1", "f2")
    val out = Statements.build(df, "_id", Seq("f1", "f2")).collect()
    assert(out.length == 1)
    val m = out.head.getAs[Map[String, Double]]("set_fields")
    assert(m == Map("f1" -> 1.5))
  }

  test("missing key and all-null payload rows are dropped (test_mongo.py:37-54, :125-151)") {
    val df = Seq(
      (null.asInstanceOf[String], java.lang.Double.valueOf(1.0)),
      ("id2", null.asInstanceOf[java.lang.Double]),
      ("id3", java.lang.Double.valueOf(2.0))
    ).toDF("_id", "f1")
    val out = Statements.build(df, "_id", Seq("f1")).collect()
    assert(out.map(_.getAs[String]("key")).toSet == Set("id3"))
  }

  test("empty field list is rejected (mongo.py:52-57)") {
    val df = Seq(("id1", 1.0)).toDF("_id", "f1")
    intercept[IllegalArgumentException] {
      Statements.build(df, "_id", Seq.empty)
    }
  }

  test("widen equals build plus element_at widening, on every rung of the ladder") {
    import org.apache.spark.sql.functions._
    def d(x: Double): java.lang.Double = java.lang.Double.valueOf(x)
    def i(x: Int): java.lang.Integer = java.lang.Integer.valueOf(x)
    def l(x: Long): java.lang.Long = java.lang.Long.valueOf(x)
    // f2 is an int payload column (cast to double by the ladder); seq is
    // a passthrough column and may itself be null
    val rows = Seq[(String, java.lang.Double, java.lang.Integer, java.lang.Long)](
      (null, d(1.0), i(1), l(1L)),      // null key → dropped
      ("all_null", null, null, l(2L)),   // nothing to $set → dropped
      ("f1_only", d(2.5), null, l(3L)),  // partly null
      ("f2_only", null, i(7), null),     // partly null, null passthrough
      ("full", d(-0.5), i(-3), l(5L)),
      ("full", d(4.0), i(0), l(6L)))     // duplicate key: both kept here
    val df = rows.toDF("_id", "f1", "f2", "seq")
    val fields = Seq("f1", "f2")
    val widened = Statements.widen(df, "_id", fields, passthrough = Seq("seq"))
    val viaMap = Statements.build(df, "_id", fields, passthrough = Seq("seq"))
      .select(col("key").as("_id") +:
        fields.map(f => element_at(col("set_fields"), f).as(f)) :+ col("seq"): _*)
    assert(widened.schema == viaMap.schema, s"${widened.schema} vs ${viaMap.schema}")
    assert(widened.schema("f2").dataType == org.apache.spark.sql.types.DoubleType)
    def bag(x: org.apache.spark.sql.DataFrame) = x.collect().map(_.toSeq).toSeq
      .groupBy(identity).map { case (k, v) => k -> v.size }
    assert(bag(widened) == bag(viaMap))
    val expected = Seq(
      Seq("f1_only", 2.5, null, 3L), Seq("f2_only", null, 7.0, null),
      Seq("full", -0.5, -3.0, 5L), Seq("full", 4.0, 0.0, 6L))
      .groupBy(identity).map { case (k, v) => k -> v.size }
    assert(bag(widened) == expected)
    // a passthrough column that is the key or a field is not repeated
    assert(Statements.widen(df, "_id", fields, passthrough = Seq("_id", "f1", "seq"))
      .columns.toSeq == Seq("_id", "f1", "f2", "seq"))
  }
}
