package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Gold-layer aggregation (reference:
 * `src/pipelines/breweries_aggregate_gold_notebook.py:32-68`) plus the
 * declarative aggregation DSL the reference *declared* but never executed
 * (`configs/breweries_gold_pipeline.yml:41-51`, SURVEY §2.6 A4).
 *
 * The reference's "union of roll-ups" has one implementation,
 * [[unionRollups]]: a single scan feeds ONE aggregate for every grouped
 * roll-up (each row replicated once per roll-up, keyed by its index),
 * so N roll-ups cost one scan and one shuffle, not N of each.
 */
object Aggregate {

  /** One named metric, expressed in Spark-SQL (Catalyst `expr`) syntax —
    * honoring the reference's `{name, expr}` config surface. */
  final case class Metric(name: String, expression: String) {
    def toColumn: Column = expr(expression).as(name)
  }

  /** One roll-up: grouping columns + metrics + the `aggregation` tag the
    * reference stamps per branch
    * (`breweries_aggregate_gold_notebook.py:40,46,52`). */
  final case class AggSpec(groupBy: Seq[String], metrics: Seq[Metric], tag: String)

  /** A4 — run one declarative aggregation spec. */
  def run(df: DataFrame, spec: AggSpec): DataFrame = {
    val metricCols = spec.metrics.map(_.toColumn)
    val grouped =
      if (spec.groupBy.isEmpty) df.agg(metricCols.head, metricCols.tail: _*)
      else df.groupBy(spec.groupBy.map(col): _*).agg(metricCols.head, metricCols.tail: _*)
    grouped.withColumn("aggregation", lit(spec.tag))
  }

  /**
   * A1-A3 + U1 + P3 + P4 parity — the union of roll-ups aligned by name,
   * grouping columns absent from a roll-up null-padded, stamped with a
   * caller-supplied (deterministic) transformation date. Rows, column
   * names, column order, types and nullability are those of one
   * [[run]] per spec joined by `unionByName(allowMissingColumns)`.
   *
   * The grouped specs share one pass: each row is replicated once per
   * spec index; grouping column j is aliased `__k<j>` and nulled on the
   * rows of specs that do not group by it; one `groupBy(index, keys…)`
   * evaluates every distinct metric expression once, on the ORIGINAL
   * columns (so `count(distinct state)` in a spec without `state` is
   * unaffected by another spec grouping on it); a final projection
   * picks each row's metrics and tag by its spec index. A global spec
   * (empty `groupBy`) keeps its own [[run]] branch: over empty input a
   * global aggregate returns one row, a grouped one none. A metric of a
   * grouped spec is therefore an aggregate expression: a bare grouping
   * column is not among the one-pass grouping keys.
   */
  def unionRollups(df: DataFrame, specs: Seq[AggSpec], transformationDate: String): DataFrame = {
    require(specs.nonEmpty, "at least one AggSpec")
    val (grouped, global) = specs.partition(_.groupBy.nonEmpty)
    val branches = (if (grouped.isEmpty) Nil else Seq(onePass(df, grouped.toIndexedSeq))) ++
      global.map(run(df, _))
    val unioned = branches.reduce(_.unionByName(_, allowMissingColumns = true))
    // Canonical column order: all grouping cols (first-appearance order),
    // then metrics, then tags — explicit select so the output contract is
    // stable regardless of spec order (SURVEY §7.4 risk 3).
    val groupCols = specs.flatMap(_.groupBy).distinct
    val metricCols = specs.flatMap(_.metrics.map(_.name)).distinct
    val ordered = (groupCols ++ metricCols :+ "aggregation").map(col)
    unioned
      .withColumn("transformation_date", lit(transformationDate))
      .select(ordered :+ col("transformation_date"): _*)
  }

  /** The grouped specs of [[unionRollups]] in one aggregate. */
  private def onePass(df: DataFrame, specs: IndexedSeq[AggSpec]): DataFrame = {
    val keys = specs.flatMap(_.groupBy).distinct
    val exprs = specs.flatMap(_.metrics.map(_.expression)).distinct
    val keyed = df
      .withColumn("__spec", explode(array(specs.indices.map(lit): _*)))
      .select(col("*") +: keys.zipWithIndex.map { case (c, j) =>
        perSpec(specs.map(s => Some(c).filter(s.groupBy.contains)))(col).as(s"__k$j")
      }: _*)
    val metricCols = exprs.zipWithIndex.map { case (e, i) => expr(e).as(s"__m$i") }
    val agged = keyed
      .groupBy(col("__spec") +: keys.indices.map(j => col(s"__k$j")): _*)
      .agg(metricCols.head, metricCols.tail: _*)
    val names = specs.flatMap(_.metrics.map(_.name)).distinct
    agged.select(
      keys.indices.map(j => col(s"__k$j").as(keys(j))) ++
        names.map(m => perSpec(specs.map(_.metrics.find(_.name == m)
          .map(x => exprs.indexOf(x.expression))))(i => col(s"__m$i")).as(m)) :+
        perSpec(specs.map(s => Some(s.tag)))(lit).as("aggregation"): _*)
  }

  /** `values(i)` on the rows of spec `i` (None: null). A value every
    * spec shares stays bare, and a CASE covering every spec ends in
    * ELSE, so nullability matches the per-spec union's. */
  private def perSpec[V](values: IndexedSeq[Option[V]])(toCol: V => Column): Column =
    values.distinct match {
      case Seq(Some(v)) => toCol(v)
      case _ =>
        val spec = col("__spec")
        val defined = values.zipWithIndex.collect { case (Some(v), i) => i -> toCol(v) }
        val total = defined.size == values.size
        val cased = if (total) defined.init else defined
        val chain = cased.tail.foldLeft(when(spec === cased.head._1, cased.head._2)) {
          case (c, (i, v)) => c.when(spec === i, v)
        }
        if (total) chain.otherwise(defined.last._2) else chain
    }

  /** One decomposable metric for [[saltedRollup]]: `func` must be an
    * algebraic aggregate that recombines by itself (`sum`, `min`, `max`)
    * or `count` (recombines by sum). */
  final case class SaltedMetric(name: String, func: String, expression: String) {
    require(Set("count", "sum", "min", "max")(func),
      s"'$func' is not decomposable; salted aggregation needs count/sum/min/max")
  }

  /**
   * Two-stage salted aggregation for SKEWED grouping keys — the 100 TB
   * escape hatch when one key holds a disproportionate share of rows and
   * its single reducer becomes the straggler. Stage 1 aggregates on
   * (keys, salt) so the hot key's rows spread over `saltBuckets`
   * reducers; stage 2 recombines the per-salt partials on the true keys
   * (a shuffle of at most keys × saltBuckets tiny rows). Results are
   * bit-identical to the plain `groupBy` for decomposable metrics —
   * verified by the oracle twin.
   *
   * The salt hashes ALL input columns (`xxhash64`), so it is independent
   * of scan layout; prefer a high-cardinality column subset in `saltOn`
   * when the full row is wide.
   */
  def saltedRollup(
      df: DataFrame,
      groupBy: Seq[String],
      metrics: Seq[SaltedMetric],
      saltBuckets: Int,
      saltOn: Seq[String] = Nil): DataFrame = {
    require(groupBy.nonEmpty && metrics.nonEmpty && saltBuckets > 0)
    val saltCols = (if (saltOn.nonEmpty) saltOn else df.columns.toSeq).map(col)
    val salted = df.withColumn("__salt", pmod(xxhash64(saltCols: _*), lit(saltBuckets)))
    val partial = metrics.map { m =>
      (m.func match {
        case "count" if m.expression == "*" => count(lit(1))
        case "count"                        => count(expr(m.expression))
        case "sum"                          => sum(expr(m.expression))
        case "min"                          => min(expr(m.expression))
        case "max"                          => max(expr(m.expression))
      }).as(m.name)
    }
    val stage1 = salted
      .groupBy((groupBy :+ "__salt").map(col): _*)
      .agg(partial.head, partial.tail: _*)
    val merge = metrics.map { m =>
      (m.func match {
        case "count" | "sum" => sum(col(m.name))
        case "min"           => min(col(m.name))
        case "max"           => max(col(m.name))
      }).as(m.name)
    }
    stage1.groupBy(groupBy.map(col): _*).agg(merge.head, merge.tail: _*)
  }

  /** [[unionRollups]] over `sets` (tag → grouping columns), every set
    * carrying the same `metrics`. */
  def groupingSetsRollup(
      df: DataFrame,
      sets: Seq[(String, Seq[String])],
      metrics: Seq[Metric],
      transformationDate: String): DataFrame =
    unionRollups(df, sets.map { case (tag, cols) => AggSpec(cols, metrics, tag) },
      transformationDate)
}
