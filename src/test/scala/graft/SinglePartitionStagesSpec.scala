package graft

import graft.core.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{broadcast, col, count, lit, row_number, when}
import org.scalatest.funsuite.AnyFunSuite

/** `SinglePartitionStages` runs small single-input stages and small
  * broadcast joins on one partition. It must give every query's rows in
  * the order Spark's exchanges give them, save shuffle-map and broadcast
  * jobs only under its gate, and leave Spark's exchanges and broadcasts
  * in place when the gate fails. The rule is forced off with Spark's own
  * conf: partition coalescing off, under which it is inert. A byte
  * target cannot force it off, as a stage over one file that Spark reads
  * as one task fits any target.
  */
class SinglePartitionStagesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def target(size: String) = "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> size
  private val sparkExchanges = "spark.sql.adaptive.coalescePartitions.enabled" -> "false"

  private def query(name: String) = SparkEntry.inventory.find(_.name == name).get

  /** Runs `df` and returns the plan AQE finished with; the adaptive
    * node's own string would also print the initial plan. */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    val adaptive = df.queryExecution.executedPlan.asInstanceOf[AdaptiveSparkPlanExec]
    assert(adaptive.isFinalPlan)
    adaptive.executedPlan.toString
  }

  /** Runs `df` and returns its final plan, once its ordered rows are
    * checked against Spark's exchanges. */
  private def checkedPlan(df: => DataFrame): String = {
    val ruled = df
    val plan = finalPlan(ruled)
    assert(ruled.collect().toSeq === TestSpark.withConf(sparkExchanges)(df.collect().toSeq), plan)
    plan
  }

  /** Execution jobs of each query, with the rule and with Spark's exchanges. */
  private def jobs(names: String*): (Seq[Int], Seq[Int]) = {
    def run(tag: String): Seq[Int] = names.map { name =>
      TestSpark.jobsLaunchedBy(s"stage-jobs:$tag:$name") {
        query(name).fn(spark, TestSpark.sfDir).collect()
      }
    }
    (run("one-partition"), TestSpark.withConf(sparkExchanges)(run("exchanges")))
  }

  /** `events` written as two files, which the gate never counts. */
  private def withTwoFileEvents[T](body: DataFrame => T): T = TestSpark.withTempDir { dir =>
    Tables.events(spark, TestSpark.sfDir).repartition(2).write.parquet(s"$dir/events")
    val twoFiles = spark.read.parquet(s"$dir/events")
    assert(twoFiles.inputFiles.length === 2)
    body(twoFiles)
  }

  private def sorted(df: DataFrame): DataFrame = df.orderBy(df.columns.map(col).toSeq: _*)

  test("the session runs with AQE, partition coalescing and skew join on, Spark's defaults") {
    // GraftSession leaves these three unset; the rule is inert without
    // the first two, so a Spark upgrade that flips a default fails here
    Seq("spark.sql.adaptive.enabled", "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.adaptive.skewJoin.enabled").foreach { k =>
      assert(spark.conf.get(k) === "true", k)
    }
  }

  test("the session runs in ANSI mode, Spark's default") {
    // GraftSession leaves it unset; the exact sums' digit `sum`s throw on
    // overflow only in ANSI mode, so a default that turns it off fails
    // here instead of letting a sum wrap
    assert(spark.conf.get("spark.sql.ansi.enabled") === "true")
  }

  test("the session lowers text with ICU case mappings, Spark's default") {
    // TextKernelUtil.cleanText lowers non-ASCII text with ICU, as Spark's
    // `lower` does only under this default
    assert(spark.conf.get("spark.sql.icu.caseMappings.enabled") === "true")
  }

  test("every query's ordered output equals Spark's exchanges at sf0.001") {
    val changed = SparkEntry.inventory.filter { q =>
      val onePartition = q.fn(spark, TestSpark.sfDir).collect().toSeq
      val exchanged = TestSpark.withConf(sparkExchanges)(q.fn(spark, TestSpark.sfDir).collect().toSeq)
      onePartition != exchanged
    }.map(_.name)
    assert(changed.isEmpty)
  }

  test("q20, q30, q40 and q46 launch 1 job each; 3, 4, 4 and 5 with Spark's exchanges") {
    assert(jobs("q20_clean_text", "q30_dedup_exact", "q40_tumbling_hourly", "q46_class_report") ===
      ((Seq(1, 1, 1, 1), Seq(3, 4, 4, 5))))
  }

  test("q05 and q35 launch 1 job each; 9 and 6 with Spark's exchanges and broadcasts") {
    // q35's 6: its probe row is an aggregate, whose shuffle stage precedes its broadcast
    assert(jobs("q05_revenue_by_nation", "q35_knn_bruteforce") === ((Seq(1, 1), Seq(9, 6))))
  }

  test("q30, q40 and q46 plan no exchange; Spark's stay when the gate fails") {
    Seq("q30_dedup_exact", "q40_tumbling_hourly", "q46_class_report").foreach { name =>
      def plan(): String = finalPlan(query(name).fn(spark, TestSpark.sfDir))
      assert(!plan().contains("Exchange"), name)
      val exchanged = TestSpark.withConf(sparkExchanges)(plan())
      assert(exchanged.contains("hashpartitioning") && exchanged.contains("rangepartitioning"), name)
    }
  }

  test("a sort over a user's repartition(n) or repartitionByRange keeps its range partitioning") {
    val events = Tables.events(spark, TestSpark.sfDir).select("event_id")
    Seq(events.repartition(4), events.repartitionByRange(4, col("event_id"))).foreach { input =>
      val plan = finalPlan(input.orderBy("event_id"))
      assert(plan.contains("rangepartitioning") && !plan.contains("Coalesce 1"), plan)
    }
  }

  test("a global sort over an empty input returns no rows") {
    val perType = Tables.events(spark, TestSpark.sfDir)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
    // the optimizer folds `lit(false)` away; `n < 0` is empty only at run time
    assert(perType.filter(lit(false)).orderBy("event_type").collect().isEmpty)
    assert(perType.filter(col("n") < 0).orderBy("event_type").collect().isEmpty)
  }

  test("a sort-merge join keeps both input exchanges; its rows equal Spark's exchanges") {
    def perNation(): DataFrame = {
      val customer = Tables.customer(spark, TestSpark.sfDir)
      val orders = Tables.orders(spark, TestSpark.sfDir)
      customer.hint("merge").join(orders, col("c_custkey") === col("o_custkey"))
        .groupBy("c_nationkey").agg(count(lit(1)).as("n")).orderBy("c_nationkey")
    }
    val plan = finalPlan(perNation())
    assert(plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("hashpartitioning(c_custkey") && plan.contains("hashpartitioning(o_custkey"),
      plan)
    assert(perNation().collect() === TestSpark.withConf(sparkExchanges)(perNation().collect()))
  }

  test("an aggregate under a join keeps the exchange the join's other side is partitioned like") {
    val events = Tables.events(spark, TestSpark.sfDir)
    def joined(hint: String, how: String): Array[String] =
      events.groupBy("event_type").count().hint(hint).join(events, Seq("event_type"), how)
        .orderBy("event_type").collect().map(_.toString).sorted
    Seq("merge" -> "inner", "merge" -> "left", "shuffle_hash" -> "full").foreach { case (hint, how) =>
      assert(joined(hint, how) === TestSpark.withConf(sparkExchanges)(joined(hint, how)), s"$hint $how")
    }
  }

  test("an aggregate on a broadcast join's stream side still runs on one partition") {
    // a build side the gate does not count keeps the join a broadcast join
    withTwoFileEvents { twoFiles =>
      val perType = Tables.events(spark, TestSpark.sfDir).groupBy("event_type").count()
      val plan = finalPlan(perType.join(broadcast(twoFiles.select("event_type")), "event_type")
        .orderBy("event_type"))
      assert(plan.contains("BroadcastHashJoin") && !plan.contains("partitioning("), plan)
    }
  }

  test("a small broadcast join of each shape runs on one partition, with Spark's rows") {
    val customer = Tables.customer(spark, TestSpark.sfDir)
      .select("c_custkey", "c_nationkey", "c_acctbal")
    val orders = Tables.orders(spark, TestSpark.sfDir).filter(col("o_totalprice") > 150000)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val nation = Tables.nation(spark, TestSpark.sfDir)
    val region = Tables.region(spark, TestSpark.sfDir)
    val byCustomer = col("c_custkey") === col("o_custkey")
    // NULL keys on both sides: every third customer, every other order
    val customerNulls = customer.select(when(col("c_custkey") % 3 =!= 0, col("c_custkey")).as("ck"))
    val orderNulls = orders.select(col("o_orderkey"),
      when(col("o_custkey") % 2 =!= 0, col("o_custkey")).as("ok"))
    val byNullableKey = col("ck") === col("ok")
    val joins: Seq[(String, () => DataFrame)] = Seq(
      "inner" -> (() => customer.join(broadcast(orders), byCustomer)),
      "left outer" -> (() => customer.join(broadcast(orders), byCustomer, "left")),
      "right outer" -> (() => broadcast(customer.filter(col("c_nationkey") < 10))
        .join(orders, byCustomer, "right")),
      "left semi" -> (() => customer.join(broadcast(orders), byCustomer, "left_semi")),
      "left anti" -> (() => customer.join(broadcast(orders), byCustomer, "left_anti")),
      "except" -> (() => customer.select("c_nationkey")
        .except(nation.filter(col("n_regionkey") =!= 1).select("n_nationkey"))),
      "NULL keys, inner" -> (() => customerNulls.join(broadcast(orderNulls), byNullableKey)),
      "NULL keys, left outer" -> (() =>
        customerNulls.join(broadcast(orderNulls), byNullableKey, "left")),
      "non-equi residual" -> (() => customer.join(broadcast(orders),
        byCustomer && col("o_totalprice") > col("c_acctbal") * 50)),
      "cross" -> (() => nation.crossJoin(broadcast(region))),
      "inner nested-loop" -> (() =>
        nation.join(broadcast(region), col("n_regionkey") < col("r_regionkey"))))
    joins.foreach { case (shape, join) =>
      val plan = checkedPlan(sorted(join()))
      assert(plan.contains("ShuffledHashJoin") || plan.contains("CartesianProduct"),
        s"$shape\n$plan")
      assert(!plan.contains("Broadcast"), s"$shape\n$plan")
    }
  }

  test("a broadcast join the rule cannot run on one partition keeps its broadcast") {
    val customer = Tables.customer(spark, TestSpark.sfDir).select("c_custkey", "c_nationkey")
    val nation = Tables.nation(spark, TestSpark.sfDir)
    // NULL for nations 0-4
    val withNulls = nation.select(when(col("n_nationkey") > 4, col("n_nationkey")).as("nk"))
    val events = Tables.events(spark, TestSpark.sfDir)
    def kept(join: String, df: => DataFrame): Unit = {
      val plan = checkedPlan(sorted(df))
      assert(plan.contains(join) && !plan.contains("ShuffledHashJoin") &&
        !plan.contains("CartesianProduct"), plan)
    }
    // NOT IN is a null-aware anti join, which a shuffled hash join cannot
    // run; once the broadcast has found a NULL key, AQE empties the join
    kept("EmptyRelation Join LeftAnti", customer.filter(!col("c_nationkey").isin(withNulls)))
    kept("BroadcastHashJoin",
      customer.filter(!col("c_nationkey").isin(nation.select("n_nationkey"))))
    // a cartesian product is inner only
    kept("BroadcastNestedLoopJoin",
      nation.join(broadcast(Tables.region(spark, TestSpark.sfDir)),
        col("n_regionkey") < col("r_regionkey"), "left"))
    withTwoFileEvents { twoFiles =>
      // the gate does not count a scan of two files
      kept("BroadcastHashJoin", twoFiles.select("event_id", "event_type")
        .join(broadcast(events.select("event_type").distinct()), "event_type"))
      // once the shuffle both sides reuse has run, the gate counts both
      // sides, but the sort-merge join above relies on the broadcast join's
      // hash partitioning
      val perType = twoFiles.groupBy("event_type").count()
      val joined = perType.join(broadcast(perType.withColumnRenamed("count", "n")), "event_type")
      val plan = checkedPlan(sorted(joined.hint("merge")
        .join(events.select("event_type", "event_id"), "event_type")))
      assert(plan.contains("SortMergeJoin") && plan.contains("BroadcastHashJoin"), plan)
    }
  }

  /** `nation` by region key: five rows per key, so a join with it that
    * ran twice would multiply the rows. */
  private def perRegion: DataFrame = broadcast(Tables.nation(spark, TestSpark.sfDir)
    .select(col("n_regionkey").as("rk"), col("n_name")))

  test("a small join under a sort-merge join's exchange returns Spark's rows") {
    val customer = Tables.customer(spark, TestSpark.sfDir).select("c_custkey", "c_nationkey")
    val orders = Tables.orders(spark, TestSpark.sfDir).select("o_orderkey", "o_custkey")
    val plan = checkedPlan(sorted(
      customer.join(perRegion, col("c_nationkey") % 5 === col("rk")).hint("merge")
        .join(orders, col("c_custkey") === col("o_custkey"))))
    assert(plan.contains("SortMergeJoin") && plan.contains("ShuffledHashJoin"), plan)
  }

  test("a small join on the build side of a broadcast join that stays returns Spark's rows") {
    withTwoFileEvents { twoFiles =>
      // the gate does not count the stream side, so the outer join keeps
      // its broadcast of the small join, keyed like the small join's
      // stream side
      val byRegion = Tables.nation(spark, TestSpark.sfDir).select("n_nationkey", "n_regionkey")
        .join(perRegion, col("n_regionkey") === col("rk"))
      val plan = checkedPlan(sorted(twoFiles.select("event_id")
        .join(broadcast(byRegion), col("event_id") % 5 === col("n_regionkey"))))
      assert(plan.contains("BroadcastHashJoin") && plan.contains("ShuffledHashJoin"), plan)
    }
  }

  test("a join whose build or stream side is empty only at run time returns Spark's rows") {
    val events = Tables.events(spark, TestSpark.sfDir)
    // the optimizer cannot fold `n < 0` away; it is empty only at run time
    val none = events.groupBy("event_type").agg(count(lit(1)).as("n")).filter(col("n") < 0)
    val ids = events.select("event_id", "event_type")
    Seq("inner", "left").foreach { how =>
      val emptyBuild = checkedPlan(sorted(ids.join(broadcast(none), Seq("event_type"), how)))
      val emptyStream = checkedPlan(sorted(none.join(broadcast(ids), Seq("event_type"), how)))
      Seq(emptyBuild, emptyStream).foreach(plan => assert(plan.contains("ShuffledHashJoin"), plan))
    }
  }

  test("a user's repartition(8, cols) folded into an aggregate's exchange keeps 8 partitions") {
    val perType = Tables.events(spark, TestSpark.sfDir).groupBy("event_type").count()
    assert(perType.repartition(8, col("event_type")).rdd.getNumPartitions === 8)
  }

  test("a one-file stage fits any target; a union's inputs are summed against it") {
    val events = Tables.events(spark, TestSpark.sfDir) // one file of about 27 KB
    def perType(input: DataFrame): String =
      finalPlan(input.groupBy("event_type").count().orderBy("event_type"))
    Seq("20k", "1b").foreach { size =>
      TestSpark.withConf(target(size))(assert(!perType(events).contains("Exchange"), size))
    }
    // two scans are never one task: about 54 KB against the target
    TestSpark.withConf(target("40k")) {
      assert(perType(events.union(events)).contains("hashpartitioning"))
    }
    TestSpark.withConf(target("60k")) {
      assert(!perType(events.union(events)).contains("Exchange"))
    }
  }

  test("a scan of two small files keeps its aggregate exchange") {
    withTwoFileEvents { twoFiles =>
      assert(finalPlan(twoFiles.groupBy("event_type").count().orderBy("event_type"))
        .contains("hashpartitioning"))
    }
  }

  // sf0.1: events (2.0 MB) and orders (2.7 MB) are one file each, above
  // the 1 MB target but under the 4 MB open cost, so Spark reads each as
  // one task
  private val sf01 = TestSpark.sf01Dir

  test("q40 at sf0.1 launches 1 job and plans no exchange") {
    val q40 = query("q40_tumbling_hourly")
    assert(TestSpark.jobsLaunchedBy("stage-jobs:sf0.1:q40")(q40.fn(spark, sf01).collect()) === 1)
    val plan = finalPlan(q40.fn(spark, sf01))
    assert(!plan.contains("Exchange"), plan)
  }

  test("at sf0.1, a file that Spark splits into two tasks keeps its exchange") {
    TestSpark.withConf("spark.sql.files.openCostInBytes" -> "1m") {
      val events = Tables.events(spark, sf01)
      assert(events.rdd.getNumPartitions === 2)
      val plan = finalPlan(query("q40_tumbling_hourly").fn(spark, sf01))
      assert(plan.contains("hashpartitioning"), plan)
    }
  }

  test("at sf0.1, a one-file scan joined to a second scan over the target runs in one task") {
    // each side is one file that Spark reads as one task, though the two
    // sum past the 1 MB target
    val orders = Tables.orders(spark, sf01).select("o_orderkey", "o_custkey")
    val customer = Tables.customer(spark, sf01).select("c_custkey", "c_nationkey")
    val plan = checkedPlan(orders.join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .groupBy("c_nationkey").agg(count(lit(1)).as("n")).orderBy("c_nationkey"))
    assert(plan.contains("ShuffledHashJoin") && !plan.contains("BroadcastHashJoin"), plan)
    // the aggregate's stage is the join, which runs as one task
    assert(!plan.contains("partitioning("), plan)
  }

  test("a build side that Spark reads as two tasks keeps its broadcast") {
    val nation = Tables.nation(spark, TestSpark.sfDir).select("n_nationkey", "n_name")
    def kept(events: DataFrame): Unit = {
      val plan = checkedPlan(sorted(nation.join(broadcast(events.select("event_id", "event_type")),
        col("n_nationkey") === col("event_id"))))
      assert(plan.contains("BroadcastHashJoin") && !plan.contains("ShuffledHashJoin"), plan)
    }
    withTwoFileEvents(kept)
    TestSpark.withConf("spark.sql.files.openCostInBytes" -> "1m") {
      val events = Tables.events(spark, sf01)
      assert(events.rdd.getNumPartitions === 2)
      kept(events)
    }
  }

  test("at sf0.1, an aggregate over a broadcast join that stays runs in its stream side's task") {
    withTwoFileEvents { twoFiles =>
      // the stream side is one orders file over the 1 MB target; the
      // build side is two files, so its broadcast stays
      val orders = Tables.orders(spark, sf01).select("o_orderkey", "o_custkey")
      val plan = checkedPlan(orders.join(broadcast(twoFiles.select("user_id", "event_type")),
        col("o_custkey") === col("user_id"))
        .groupBy("event_type").agg(count(lit(1)).as("n")).orderBy("event_type"))
      assert(plan.contains("BroadcastHashJoin") && !plan.contains("partitioning("), plan)
    }
  }

  test("at sf0.1, a cross join of two one-file scans runs with its window in one task") {
    // embeddings is one file of 0.8 MB: the two scans sum past the target
    val ids = Tables.embeddings(spark, sf01).select("vec_id")
    val queries = ids.filter(col("vec_id") < 5).select(col("vec_id").as("q_id"))
    val byQuery = Window.partitionBy("q_id").orderBy(col("vec_id").desc)
    val plan = checkedPlan(ids.crossJoin(broadcast(queries))
      .withColumn("rank", row_number().over(byQuery)).filter(col("rank") <= 3)
      .orderBy("q_id", "rank"))
    assert(plan.contains("CartesianProduct") && !plan.contains("Exchange"), plan)
  }

  test("the one-file queries give Spark's ordered rows at sf0.1") {
    val changed = Seq("q02_event_histogram", "q09_top_orders_per_customer", "q10_rollup_orders",
      "q11_cube_events", "q16_above_avg_orders", "q17_latest_event_per_user", "q18_props_sum",
      "q40_tumbling_hourly", "q41_sliding_two_hour", "q42_sessionize", "q43_running_totals")
      .filter { name =>
        def rows() = query(name).fn(spark, sf01).collect().toSeq
        rows() != TestSpark.withConf(sparkExchanges)(rows())
      }
    assert(changed.isEmpty)
  }

  test("the queries whose broadcast joins run in one task give Spark's ordered rows") {
    val changed = Seq(TestSpark.sf001Dir -> Seq("q05_revenue_by_nation", "q06_parts_by_brand"),
      sf01 -> Seq("q07_semi_join_big_spenders", "q08_anti_join_no_big_orders", "q35_knn_bruteforce",
        "q36_embedding_neardup", "q37_ann_ivf")).flatMap { case (dir, names) =>
      names.filter { name =>
        def rows() = query(name).fn(spark, dir).collect().toSeq
        rows() != TestSpark.withConf(sparkExchanges)(rows())
      }
    }
    assert(changed.isEmpty)
  }
}
