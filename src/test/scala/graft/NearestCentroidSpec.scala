package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, Expression, LambdaFunction, Literal, ZipWith}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.NearestCentroidKernel
import graft.io.VectorIndex
import graft.ops.{Clustering, Similarity}

/** The fused nearest-centroid kernel vs the composable formulation it
  * replaced — `greatest` over (round(HOF cosine, 6), −cid) structs,
  * kept here as the reference: assignments must be bit-identical on
  * every path Spark can evaluate the kernel on. */
class NearestCentroidSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val emb = TestSpark.table("embeddings")

  /** The reference: three `aggregate(zip_with …)` dot products per
    * centroid, argmax by `greatest` over (sim, −cid). */
  private def hofNearest(v: Column, cents: Seq[(Long, Seq[Double])]): Column = {
    def dot(a: Column, b: Column) = aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    -greatest(cents.map { case (cid, c) =>
      val cl = typedlit(c)
      struct(
        round(try_divide(dot(v, cl), sqrt(dot(v, v)) * sqrt(dot(cl, cl))), 6).as("sim"),
        lit(-cid).as("negcid"))
    }: _*).getField("negcid")
  }

  /** Runs `body` under whole-stage codegen, generated projections
    * without it, and the interpreted evaluator. The codegen paths may
    * not fall back to interpretation: a kernel whose generated code
    * fails to compile fails the test. */
  private def everyPath[T](body: => T): Seq[(String, T)] = {
    val modes = Seq(
      "whole-stage codegen" -> Seq("spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.fallback" -> "false"),
      "codegen projection" -> Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        "spark.sql.codegen.fallback" -> "false"),
      "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    modes.map { case (name, confs) =>
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try name -> body
      finally confs.foreach { case (k, _) => spark.conf.unset(k) }
    }
  }

  /** key → value of `value` over `df`, keyed by the `keys` columns. */
  private def byKey(df: DataFrame, keys: Seq[String], value: Column): Map[Seq[Any], Any] =
    df.select(keys.map(col) :+ value: _*).collect()
      .map(r => r.toSeq.init -> r.toSeq.last).toMap

  /** (id → kernel cluster, id → reference cluster) over `df`, each from
    * its own query: a lambda function in the same projection would keep
    * the kernel out of whole-stage codegen. */
  private def both(df: DataFrame, cents: Seq[(Long, Seq[Double])]) = {
    def ids(m: Map[Seq[Any], Any]) = m.map { case (k, v) => k.head -> v }
    (ids(byKey(df, Seq("id"), Clustering.nearestCentroid(spark, col("v"), cents))),
      ids(byKey(df, Seq("id"), hofNearest(col("v"), cents))))
  }

  test("fixture embeddings: fused assignments == the HOF argmax on every evaluation path") {
    val vecs = emb.select(col("vec_id").as("id"), col("embedding").as("v"))
    val trained = Clustering.train(emb, "vec_id", "embedding", k = 8, iters = 3)
    // scaled copies tie their originals exactly: one above the highest
    // id (loses the tie), one below the lowest (wins it)
    val cents = trained ++ Seq(
      (trained.map(_._1).max + 1) -> trained(1)._2.map(_ * 2),
      (trained.map(_._1).min - 1) -> trained(4)._2.map(_ * 3))
    val runs = everyPath(both(vecs, cents))
    runs.foreach { case (path, (fused, hof)) =>
      assert(fused.size == emb.count(), path)
      assert(fused == hof, s"$path: fused assignment differs from the HOF argmax")
    }
    assert(runs.map(_._2._1).distinct.size == 1)
    // the scaled copies change the answer, so the tie rule is exercised
    assert(runs.head._2._1.values.toSet.contains(trained.map(_._1).min - 1))
  }

  test("coarse seeded vectors: exact cosine ties everywhere, fused == HOF") {
    val rnd = new scala.util.Random(42)
    val df = (0 until 2000).map { i =>
      (i.toLong, Array.fill(16)((rnd.nextInt(5) - 2).toFloat))
    }.toDF("id", "v")
    val cents = (0 until 12).map { j =>
      (11L - j) * 7 -> Seq.fill(16)((rnd.nextInt(3) - 1).toDouble)
    }
    everyPath(both(df, cents)).foreach { case (path, (fused, hof)) =>
      assert(fused == hof, s"$path: fused assignment differs from the HOF argmax")
    }
  }

  test("null, zero-norm, null-element, NaN and wrong-width vectors get the lowest cid") {
    val cents = Seq(7L -> Seq(1.0, 0.0, 0.0, 0.0), 3L -> Seq(0.0, 1.0, 0.0, 0.0),
      9L -> Seq(0.0, 0.0, 1.0, 1.0))
    val nan = Float.NaN
    val df = Seq[(Long, Option[Seq[Option[Float]]])](
      (1L, None),
      (2L, Some(Seq(Some(0f), Some(0f), Some(0f), Some(0f)))),
      (3L, Some(Seq(Some(1f), None, Some(0f), Some(0f)))),
      (4L, Some(Seq(Some(1f), Some(0f), Some(0f)))),
      (5L, Some(Seq())),
      (6L, Some(Seq(Some(1f), Some(nan), Some(0f), Some(0f)))),
      (7L, Some(Seq(Some(0f), Some(0f), Some(5f), Some(5f))))
    ).toDF("id", "v")
    everyPath(both(df, cents)).foreach { case (path, (fused, hof)) =>
      assert(fused == hof, path)
      assert((1L to 6L).forall(fused(_) == 3L), s"$path: $fused")
      assert(fused(7L) == 9L, path) // the control row
    }
    // the expression's own eval, outside any plan
    def lit(xs: Float*) = Literal.create(xs.toArray, ArrayType(FloatType))
    val k = NearestCentroidKernel(_: Expression, cents.map(_._1), cents.map(_._2))
    assert(k(Literal.create(null, ArrayType(FloatType))).eval(null) == 3L)
    assert(k(lit(0f, 0f, 0f, 0f)).eval(null) == 3L)
    assert(k(lit(1f, 0f)).eval(null) == 3L)
    assert(k(lit(0f, 0f, 2f, 2f)).eval(null) == 9L)
  }

  test("ties go to the lowest cid, in any centroid order") {
    val df = Seq((1L, Array(1f, 1f)), (2L, Array(-1f, -1f))).toDF("id", "v")
    val cents = Seq(9L -> Seq(0.5, 0.5), 3L -> Seq(2.0, 2.0), 5L -> Seq(1.0, 1.0),
      8L -> Seq(-1.0, -1.0), 4L -> Seq(-3.0, -3.0))
    everyPath(both(df, cents)).foreach { case (path, (fused, hof)) =>
      assert(fused == Map(1L -> 3L, 2L -> 4L), path)
      assert(hof == fused, path)
    }
  }

  test("registered in SQL: constant ids and centroids, checked when the call is built") {
    val got = spark.sql(
      """SELECT graft_nearest_centroid(v, array(7L, 3L, 9L),
        |  array(array(1D, 0D), array(0D, 1D), array(1D, 1D))) AS c
        |FROM VALUES (array(CAST(2 AS FLOAT), CAST(0.1 AS FLOAT))),
        |  (array(CAST(1 AS FLOAT), CAST(1 AS FLOAT))), (NULL) AS t(v)""".stripMargin)
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(7L, 9L, 3L))
    def fails(sql: String) = intercept[Exception](spark.sql(sql).collect()).getMessage
    assert(fails("SELECT graft_nearest_centroid(v, array(id), array(array(1D))) " +
      "FROM VALUES (array(1D), 1L) AS t(v, id)").contains("must be a constant"))
    assert(fails("SELECT graft_nearest_centroid(array(1D), array(1L, NULL), " +
      "array(array(1D), array(2D)))").contains("null"))
  }

  test("graft_cosine on array<double> against array<float> == the HOF cosine, bit for bit") {
    val cents = Clustering.train(emb, "vec_id", "embedding", k = 4, iters = 2)
    val pairs = emb.filter(col("vec_id") < 300)
      .select(col("vec_id"), col("embedding").as("f"),
        col("embedding").cast("array<double>").as("d"))
      .crossJoin(broadcast(cents.toDF("cid", "c")))
    val keys = Seq("vec_id", "cid")
    val cols = Seq(("d", "f"), ("f", "c"), ("c", "f"), ("d", "c"), ("f", "f"))
    everyPath {
      cols.map { case (a, b) =>
        val hof = byKey(pairs, keys, Similarity.cosine(col(a), col(b)))
        val fast = byKey(pairs, keys, Similarity.cosineFast(spark, col(a), col(b)))
        (a, b) -> (hof.size, hof == fast)
      }
    }.foreach { case (path, results) =>
      results.foreach { case (ab, (n, same)) =>
        assert(n == 300 * 4 && same, s"$path: $ab")
      }
    }
  }

  /** Names of the lambda-function nodes in `plan` (AQE stages and
    * subqueries included). */
  private def lambdaNodes(plan: SparkPlan): Seq[String] = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
    }
    def exprs(e: Expression): Seq[Expression] = e +: e.children.flatMap(exprs)
    def isLambda(e: Expression) = e.isInstanceOf[ArrayAggregate] ||
      e.isInstanceOf[ZipWith] || e.isInstanceOf[LambdaFunction]
    nodes(plan).flatMap(_.expressions).flatMap(exprs).filter(isLambda).map(_.nodeName)
  }

  test("plan pin: assignment and the probeBatch centroid ranking run no lambda functions") {
    val cents = Clustering.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    val assigned = Clustering.assign(emb, "vec_id", "embedding", cents)
    assigned.collect()
    val plan = assigned.queryExecution.executedPlan
    assert(lambdaNodes(plan).isEmpty, s"lambda functions in the assignment plan:\n$plan")
    assert(plan.toString.contains("graft_nearest_centroid"))

    val dir = TestSpark.tmpDir("nearest_plan")
    VectorIndex.build(emb, "vec_id", "embedding", dir, nlist = 8, iters = 2)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      VectorIndex.probeBatch(emb.filter($"vec_id" < 8), "vec_id", dir, k = 5, nprobe = 2)
        .collect()
      org.apache.spark.TestBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val ran = plans.asScala.toSeq
    val ranking = ran.filter(_.toString.contains("__csim"))
    assert(ranking.nonEmpty, s"no centroid ranking among ${ran.size} executed plans")
    ran.foreach { p =>
      assert(lambdaNodes(p).isEmpty, s"lambda functions in a probeBatch plan:\n$p")
    }
  }
}
