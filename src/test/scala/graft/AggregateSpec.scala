package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Aggregate
import graft.ops.Aggregate.{AggSpec, Metric}

class AggregateSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val date = "2025-10-15"

  test("run: grouped aggregation with metric expressions and tag") {
    val out = Aggregate.run(
      TestSpark.table("orders"),
      AggSpec(Seq("o_orderstatus"), Seq(Metric("n", "count(*)")), "by_status"))
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[String]("aggregation") == "by_status"))
    val total = rows.map(_.getAs[Long]("n")).sum
    assert(total == TestSpark.table("orders").count())
  }

  test("run: global (no group-by) aggregation") {
    val out = Aggregate.run(
      TestSpark.table("orders"),
      AggSpec(Nil, Seq(Metric("n", "count(*)")), "global")).collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("n") == TestSpark.table("orders").count())
  }

  test("unionRollups pads missing grouping columns with null and orders columns canonically") {
    val out = Aggregate.unionRollups(
      TestSpark.table("orders"),
      Seq(
        AggSpec(Seq("o_orderstatus"), Seq(Metric("n", "count(*)")), "a"),
        AggSpec(Seq("o_orderstatus", "o_orderpriority"), Seq(Metric("n", "count(*)")), "b")),
      date)
    assert(out.columns.toSeq ==
      Seq("o_orderstatus", "o_orderpriority", "n", "aggregation", "transformation_date"))
    val byTag = out.collect().groupBy(_.getAs[String]("aggregation"))
    assert(byTag("a").forall(_.isNullAt(1)), "branch 'a' must null-pad o_orderpriority")
    assert(byTag("b").forall(!_.isNullAt(1)))
    assert(out.collect().forall(_.getAs[String]("transformation_date") == date))
  }

  test("groupingSetsRollup produces the same rows as unionRollups (single-scan twin)") {
    val orders = TestSpark.table("orders")
    val sets = Seq(
      "g_status" -> Seq("o_orderstatus"),
      "g_ps" -> Seq("o_orderstatus", "o_orderpriority"))
    val metrics = Seq(Metric("n", "count(*)"))
    val viaUnion = Aggregate.unionRollups(
      orders,
      sets.map { case (tag, cols) => AggSpec(cols, metrics, tag) },
      date)
    val viaGs = Aggregate.groupingSetsRollup(orders, sets, metrics, date)
      .select(viaUnion.columns.map(col): _*)
    val key = (r: org.apache.spark.sql.Row) => r.toSeq.map(String.valueOf).mkString("|")
    assert(viaGs.collect().map(key).sorted.toSeq ==
      viaUnion.collect().map(key).sorted.toSeq)
  }

  test("unionRollups == groupingSetsRollup for random grouping-set combinations") {
    val orders = TestSpark.table("orders")
    val candidates = Seq(Seq("o_orderstatus"), Seq("o_orderpriority"),
      Seq("o_orderstatus", "o_orderpriority"))
    val metrics = Seq(Metric("n", "count(*)"))
    val key = (r: org.apache.spark.sql.Row) => r.toSeq.map(String.valueOf).mkString("|")
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val sets = rnd.shuffle(candidates).take(1 + rnd.nextInt(candidates.length))
        .zipWithIndex.map { case (cols, i) => s"g$i" -> cols }
      val viaUnion = Aggregate.unionRollups(
        orders, sets.map { case (t, c) => AggSpec(c, metrics, t) }, date)
      val viaGs = Aggregate.groupingSetsRollup(orders, sets, metrics, date)
        .select(viaUnion.columns.map(col): _*)
      assert(viaGs.collect().map(key).sorted.toSeq ==
        viaUnion.collect().map(key).sorted.toSeq, s"seed=$seed sets=$sets")
    }
  }

  /** The per-spec shape [[Aggregate.unionRollups]] must reproduce: one
    * `groupBy` per spec, unioned by name with null padding. */
  private def perSpecUnion(df: org.apache.spark.sql.DataFrame, specs: Seq[AggSpec]) = {
    val unioned = specs.map { s =>
      val ms = s.metrics.map(m => expr(m.expression).as(m.name))
      (if (s.groupBy.isEmpty) df.agg(ms.head, ms.tail: _*)
       else df.groupBy(s.groupBy.map(col): _*).agg(ms.head, ms.tail: _*))
        .withColumn("aggregation", lit(s.tag))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
    val order = specs.flatMap(_.groupBy).distinct ++
      specs.flatMap(_.metrics.map(_.name)).distinct :+ "aggregation"
    unioned.withColumn("transformation_date", lit(date))
      .select((order :+ "transformation_date").map(col): _*)
  }

  test("unionRollups: one pass == per-spec groupBy union (nulls, repeated sets, globals, empty)") {
    val df = Seq(
      (Some("a"), "x", "r1", 1.0), (Some("a"), "x", "r1", 2.0), (None, "x", "r2", 3.0),
      (None, "y", "r2", 4.0), (Some("b"), "y", "r1", 5.0), (Some("b"), "x", "r3", 6.0))
      .toDF("p", "q", "r", "v")
    val specs = Seq(
      AggSpec(Seq("p", "q"), Seq(Metric("n", "count(*)"), Metric("s", "sum(v)")), "pq"),
      AggSpec(Seq("q", "p"), Seq(Metric("n", "count(*)")), "qp"),
      // reads q, which other specs group by; "n" is a double here
      AggSpec(Seq("r"), Seq(Metric("dq", "count(distinct q)"), Metric("n", "sum(v)")), "by_r"),
      AggSpec(Nil, Seq(Metric("n", "count(*)"), Metric("top", "max(v)")), "all"))
    val key = (r: org.apache.spark.sql.Row) => r.toSeq.map(String.valueOf).mkString("|")
    for ((input, label) <- Seq(df -> "rows", df.filter(lit(false)) -> "empty");
         set <- Seq(specs, specs.take(3), specs.drop(2), specs.takeRight(1))) {
      val got = Aggregate.unionRollups(input, set, date)
      val want = perSpecUnion(input, set)
      assert(got.schema == want.schema, s"$label ${set.map(_.tag)}")
      assert(got.collect().map(key).sorted.toSeq == want.collect().map(key).sorted.toSeq,
        s"$label ${set.map(_.tag)}")
    }
    val byTag = Aggregate.unionRollups(df, specs, date).collect()
      .groupBy(_.getAs[String]("aggregation"))
    assert(byTag("pq").length == 5 && byTag("qp").length == 5)
    assert(byTag("pq").count(_.isNullAt(0)) == 2, "a real null key is its own group")
    assert(byTag("by_r").map(r => r.getAs[String]("r") -> r.getAs[Long]("dq")).toMap ==
      Map("r1" -> 2L, "r2" -> 2L, "r3" -> 1L))
    assert(byTag("all").map(_.getAs[Double]("n")).toSeq == Seq(6.0))
    assert(Aggregate.unionRollups(df.filter(lit(false)), specs, date).collect()
      .map(_.getAs[String]("aggregation")).toSeq == Seq("all"))
  }

  test("groupingSetsRollup tags each of two same-column sets with its own tag") {
    val orders = TestSpark.table("orders")
    val out = Aggregate.groupingSetsRollup(orders,
      Seq("g_sp" -> Seq("o_orderstatus", "o_orderpriority"),
        "g_ps" -> Seq("o_orderpriority", "o_orderstatus")),
      Seq(Metric("n", "count(*)")), date).collect()
    val groups = orders.select("o_orderstatus", "o_orderpriority").distinct().count()
    val byTag = out.groupBy(_.getAs[String]("aggregation")).map { case (t, rs) => t -> rs.length }
    assert(byTag == Map("g_sp" -> groups, "g_ps" -> groups))
  }

  test("saltedRollup matches the plain groupBy for any bucket count") {
    val li = TestSpark.table("lineitem")
    val plain = li.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("s"), max("l_discount").as("m"),
        min("l_orderkey").as("mn"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))).toMap
    for (buckets <- Seq(1, 7, 32)) {
      val salted = Aggregate.saltedRollup(li, Seq("l_returnflag"), Seq(
        Aggregate.SaltedMetric("n", "count", "*"),
        Aggregate.SaltedMetric("s", "sum", "l_quantity"),
        Aggregate.SaltedMetric("m", "max", "l_discount"),
        Aggregate.SaltedMetric("mn", "min", "l_orderkey")),
        saltBuckets = buckets)
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))).toMap
      assert(salted.keySet == plain.keySet, s"buckets=$buckets")
      salted.foreach { case (k, (n, s, m, mn)) =>
        val (pn, ps, pm, pmn) = plain(k)
        assert(n == pn && m == pm && mn == pmn, s"buckets=$buckets key=$k")
        assert(math.abs(s - ps) < 1e-6, s"buckets=$buckets key=$k sum")
      }
    }
  }

  test("saltedRollup rejects non-decomposable metrics") {
    intercept[IllegalArgumentException](Aggregate.SaltedMetric("a", "avg", "x"))
  }

  test("metric expressions run through Catalyst expr (derived metrics)") {
    val out = Aggregate.run(
      TestSpark.table("lineitem"),
      AggSpec(Seq("l_returnflag"),
        Seq(Metric("avg_qty", "sum(l_quantity) / count(*)")), "t"))
    assert(out.collect().forall(_.getAs[Double]("avg_qty") > 0))
  }
}
