package graft

import graft.sources.Bucketing
import org.apache.spark.sql.functions._

class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("co-located join on bucketed tables plans without a shuffle") {
    val ord = Tables(spark, sf, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    val li = Tables(spark, sf, "lineitem")
      .select($"l_orderkey", $"l_quantity")
    Bucketing.writeBucketed(ord, "b_orders", Seq("o_orderkey"), 4)
    Bucketing.writeBucketed(li, "b_lineitem", Seq("l_orderkey"), 4)
    try {
      // force the co-located path: no broadcast, no AQE replan
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val joined = Bucketing.table(spark, "b_orders")
          .join(Bucketing.table(spark, "b_lineitem"),
            $"o_orderkey" === $"l_orderkey")
        val plan = joined.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin"))
        assert(!plan.contains("Exchange hashpartitioning"),
          s"bucketed join still shuffles:\n$plan")
        // and it computes the right thing
        val expected = ord.join(li, $"o_orderkey" === $"l_orderkey").count()
        assert(joined.count() == expected)
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }
}
