package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** `Tables.load` resolves each `(session, path)` once and wraps the kept
  * relation on every call. Locked three ways: loads of one table stay
  * distinct relations (self-joins resolve), a repeat load launches no
  * job, and a second session never gets the first session's relation.
  */
class TablesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private def dir = TestData.sf("0.001")

  private def relation(df: DataFrame): HadoopFsRelation =
    df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation.asInstanceOf[HadoopFsRelation]
    }.get

  test("two loads of one table are distinct relations; a self-join resolves") {
    assume(TestData.available("0.001"))
    val n1 = Tables.nation(spark, dir)
    val n2 = Tables.nation(spark, dir)
    val ids1 = n1.queryExecution.analyzed.output.map(_.exprId).toSet
    val ids2 = n2.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids1.intersect(ids2).isEmpty, s"shared expression ids: ${ids1 & ids2}")
    val p1 = spark.read.parquet(s"$dir/nation.parquet")
    val p2 = spark.read.parquet(s"$dir/nation.parquet")
    val want = p1.join(p2, p1("n_regionkey") === p2("n_regionkey")).count()
    assert(want == 125L)
    assert(n1.join(n2, n1("n_regionkey") === n2("n_regionkey")).count() == want)
  }

  test("a repeat load launches no Spark job") {
    assume(TestData.available("0.001"))
    val sc = spark.sparkContext
    Tables.lineitem(spark, dir)
    sc.setJobGroup("tables-repeat", "repeat load")
    try Tables.lineitem(spark, dir)
    finally sc.clearJobGroup()
    // A plain read runs its schema-inference job afterwards. Once that
    // job is visible, every job started before it is visible too (the
    // status store is fed in event order), so the repeat load's count
    // is final.
    sc.setJobGroup("tables-control", "plain read")
    try spark.read.parquet(s"$dir/lineitem.parquet")
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup("tables-control").isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(20)
    assert(sc.statusTracker.getJobIdsForGroup("tables-control").nonEmpty)
    assert(sc.statusTracker.getJobIdsForGroup("tables-repeat").isEmpty)
  }

  test("a load from another session resolves against that session") {
    assume(TestData.available("0.001"))
    val first = relation(Tables.nation(spark, dir))
    assert(first.sparkSession eq spark)
    val other = spark.newSession()
    val df = Tables.nation(other, dir)
    assert(df.sparkSession eq other)
    assert(relation(df).sparkSession eq other)
    assert(relation(Tables.nation(spark, dir)).sparkSession eq spark)
  }
}
