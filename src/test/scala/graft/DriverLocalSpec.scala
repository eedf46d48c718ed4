package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
import org.apache.spark.sql.functions._
import graft.operators.DriverLocal

/** [[DriverLocal.keyCut]]: a left-semi join on one string key against a
  * driver-local relation within the broadcast budget becomes an `InSet`
  * filter with the semi-join's rows; every other join is left alone. */
class DriverLocalSpec extends SparkSpec {
  import spark.implicits._

  private val threshold = "spark.sql.autoBroadcastJoinThreshold"

  // duplicated and null keys on the left
  private lazy val left = Seq[(String, Int)](("a", 1), ("a", 2), (null, 3), ("b", 4),
    ("c", 5), ("d", 6)).toDF("k", "v")
  // duplicated and null keys on the right, and a key with no left row
  private lazy val right = Seq[(String, Long)](("a", 10L), ("a", 11L), (null, 12L),
    ("c", 13L), ("z", 14L)).toDF("k", "n")

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def semi(r: DataFrame, cond: (DataFrame, DataFrame) => Column,
                   how: String = "left_semi"): DataFrame = {
    val (l, rr) = (left.alias("__l"), r.alias("__r"))
    l.join(rr, cond(l, rr), how)
  }

  private def cutsTo(q: DataFrame, want: Seq[String]): Unit = {
    val cut = DriverLocal.keyCut(q)
    val plan = cut.queryExecution.analyzed
    assert(!plan.exists(_.isInstanceOf[Join]), s"the semi-join is still there:\n$plan")
    assert(plan.exists {
      case f: Filter => f.condition.isInstanceOf[InSet]
      case _ => false
    }, s"no InSet filter:\n$plan")
    assert(cut.schema == q.schema)
    assert(rows(cut) == rows(q) && rows(q) == want, s"${rows(cut)} / ${rows(q)}, want $want")
  }

  private def untouched(q: DataFrame, what: String): Unit =
    assert(DriverLocal.keyCut(q) eq q, s"$what was rewritten")

  test("keyCut gives the semi-join's rows for duplicate and null keys, empty, aliased and extra columns") {
    val ab = Seq("[a,1]", "[a,2]", "[c,5]")
    cutsTo(semi(right, (l, r) => l("k") === r("k")), ab)
    // the key on either side of the equality
    cutsTo(semi(right, (l, r) => r("k") === l("k")), ab)
    // an empty LocalRelation cuts every row
    cutsTo(semi(Seq.empty[String].toDF("k"), (l, r) => l("k") === r("k")), Nil)
    // an aliased key among extra columns, the relation folded from a projection
    val aliased = right.select($"n", upper($"k").as("K2"), lower($"k").as("key"), lit(1).as("one"))
    cutsTo(semi(aliased, (l, r) => l("k") === r("key")), ab)
    // a semi-join below other operators is cut in place
    val nested = semi(right, (l, r) => l("k") === r("k")).where($"v" > 1).select($"v")
    val cut = DriverLocal.keyCut(nested)
    assert(!cut.queryExecution.analyzed.exists(_.isInstanceOf[Join]))
    assert(rows(cut) == Seq("[2]", "[5]"))
  }

  test("keyCut leaves every other join as it is") {
    val eq = (l: DataFrame, r: DataFrame) => l("k") === r("k")
    untouched(semi(right, eq, "left_anti"), "an anti-join")
    untouched(semi(right, eq, "inner"), "an inner join")
    untouched(semi(right, (l, r) => l("k") === r("k") && l("v") === r("n")), "a two-key condition")
    untouched(semi(right, (l, r) => l("k") < r("k")), "a non-equality condition")
    untouched(semi(right, (l, r) => l("k") <=> r("k")), "a null-safe equality")
    untouched(semi(spark.range(3).select($"id".cast("string").as("k")), eq), "a non-local right side")
    withSQLConf(threshold -> "1") {
      untouched(semi(right, eq), "a LocalRelation over the budget")
    }
    withSQLConf(threshold -> "-1") {
      untouched(semi(right, eq), "a semi-join with the budget disabled")
    }
    untouched(semi(right.select($"n".cast("int").as("v")), (l, r) => l("v") === r("v")),
      "a non-string key")
    untouched(semi(right, (l, r) => upper(l("k")) === r("k")), "a key expression")
  }
}
