package graft

import graft.queries.QuerySpec

/** Contract hygiene: every query is declared once, with its oracle
  * (a [[QuerySpec]] cannot be built without one), and every path Verify
  * runs executes here too — nothing can silently drift out of the
  * correctness gate. */
class ContractSpec extends SparkSpecBase {

  test("query names are unique") {
    // SparkEntry's maps would keep only the last of two specs with one name
    val names = QuerySpec.all.map(_.name)
    assert(names.diff(names.distinct).isEmpty, s"declared twice: ${names.diff(names.distinct)}")
    assert(SparkEntry.queries.size == names.size && SparkEntry.oracleSql.size == names.size)
  }

  // also runs each declared Verify path and checks each planMust
  test("every query executes at sf0.001 (row counts are the sf0.01 gate's job)") {
    val dir = "/root/testdata/sf0.001"
    // some selective queries legitimately yield 0 rows at the smallest SF
    // (e.g. q7's nation pair is absent among 10 suppliers) — this check is
    // about execution, the DuckDB gate at sf0.01 checks content
    QuerySpec.all.foreach { q =>
      val built = q.build(spark, dir)
      assert(built.count() >= 0, s"${q.name} failed to execute at sf0.001")
      val verified = q.verify.fold(built) { v =>
        val df = v(spark, dir)
        assert(df.count() >= 0, s"${q.name}: Verify path failed to execute at sf0.001")
        assert(df.columns.sorted.sameElements(built.columns.sorted),
          s"${q.name}: Verify path columns ${df.columns.mkString(",")} vs ${built.columns.mkString(",")}")
        df
      }
      q.checkPlan(verified)
    }
  }
}
