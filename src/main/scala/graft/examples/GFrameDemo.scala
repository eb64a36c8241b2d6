package graft.examples

import graft.api.GFrame

/** Consumer-style demo of the GFrame façade (also serves as the verify
  * drive for the library surface): port of a typical cudf-classic
  * call-site chain onto the testdata. */
object GFrameDemo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session.local(4)
    val orders = GFrame.readParquet(spark, s"$dir/orders.parquet")
    val cust = GFrame.readParquet(spark, s"$dir/customer.parquet")
      .rename("c_custkey" -> "o_custkey")
    val out = orders
      .query("o_totalprice > 100000")
      .merge(cust, Seq("o_custkey"))
      .groupby("c_mktsegment")
      .agg("o_totalprice" -> "sum", "o_orderkey" -> "count")
      .toDF.orderBy("c_mktsegment")
    out.show(10, truncate = false)
    println("GFRAME_DEMO_ROWS=" + out.count())
    spark.stop()
  }
}
