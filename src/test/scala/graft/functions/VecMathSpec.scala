package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Focused pins for the r7 codegen dot product ([[VecMath.vec_dot]]):
  * the optimization replaced the interpreted zip_with+aggregate chain in
  * [[graft.queries.TrainingOps.cosineCol]], so this spec proves (1) BIT
  * identity against that exact legacy expression — same IEEE fold order,
  * not merely approximate equality — (2) null propagation, including
  * the legacy fold's null on a length mismatch or a null element, and
  * (3) that the expression runs inside whole-stage codegen (the point of
  * the change; an interpreted fallback would silently reintroduce the
  * q28 per-pair cost).
  */
class VecMathSpec extends SparkSpec {

  private def legacyDot(x: org.apache.spark.sql.Column,
      y: org.apache.spark.sql.Column) =
    aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)

  test("vec_dot is bit-identical to the legacy zip_with+aggregate fold") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // adversarial values: mixed magnitudes so the fold ORDER matters —
    // any reordering would change the rounded partial sums
    val rows = (1 to 200).map { i =>
      (i.toLong,
        Seq.fill(64)(rnd.nextGaussian() * math.pow(10, rnd.nextInt(7) - 3)),
        Seq.fill(64)(rnd.nextGaussian() * math.pow(10, rnd.nextInt(7) - 3)))
    }
    val df = rows.toDF("id", "a", "b")
    val cmp = df.select(
      VecMath.vec_dot(col("a"), col("b")).as("fast"),
      legacyDot(col("a"), col("b")).as("slow"))
    val mismatches = cmp.filter(
      // bit compare, not epsilon: the contract is identical rounding
      expr("NOT (cast(fast AS string) = cast(slow AS string))") ||
        col("fast") =!= col("slow")).count()
    assert(mismatches === 0L)
  }

  test("cosineCol over vec_dot matches the legacy formulation bitwise") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (1 to 100).map { i =>
      (i.toLong, Seq.fill(32)(rnd.nextGaussian()),
        Seq.fill(32)(rnd.nextGaussian()))
    }
    val df = rows.toDF("id", "a", "b")
    def legacyCos(x: org.apache.spark.sql.Column,
        y: org.apache.spark.sql.Column) =
      legacyDot(x, y) / (sqrt(legacyDot(x, x)) * sqrt(legacyDot(y, y)))
    val cmp = df.select(
      graft.queries.TrainingOps.cosineCol(col("a"), col("b")).as("fast"),
      legacyCos(col("a"), col("b")).as("slow"))
    assert(cmp.filter(col("fast") =!= col("slow")).count() === 0L)
  }

  test("null inputs propagate null") {
    import spark.implicits._
    val df = Seq((Some(Seq(1.0, 2.0)), Option.empty[Seq[Double]]))
      .toDF("a", "b")
    val r = df.select(VecMath.vec_dot(col("a"), col("b"))).head()
    assert(r.isNullAt(0))
  }

  test("length mismatch or a null element gives null, like the legacy fold, in codegen and interpreted paths") {
    // spark.range source so the projection really runs (no constant
    // folding): (a, b, expected) per id
    val cases = Seq(
      ("array(1.0D, 2.0D, 3.0D)", "array(1.0D, 2.0D)", None),
      ("array(1.0D)", "array(1.0D, 2.0D)", None),
      ("array(1.0D, CAST(NULL AS DOUBLE))", "array(1.0D, 2.0D)", None),
      ("array(1.0D, 2.0D)", "array(CAST(NULL AS DOUBLE), 2.0D)", None),
      ("array(1.0D, 2.0D)", "array(3.0D, 4.0D)", Some(11.0)),
      ("CAST(array() AS array<double>)", "CAST(array() AS array<double>)",
        Some(0.0)))
    def pick(side: Seq[String]) = expr(side.zipWithIndex
      .map { case (e, i) => s"WHEN $i THEN $e" }
      .mkString("CASE id ", " ", " END"))
    val ab = spark.range(cases.size).select(col("id"),
      pick(cases.map(_._1)).as("a"), pick(cases.map(_._2)).as("b"))
    // two frames: the legacy HOFs would pull a shared projection out of
    // whole-stage codegen
    val fast = ab.select(col("id"), VecMath.vec_dot(col("a"), col("b")).as("d"))
    val slow = ab.select(col("id"), legacyDot(col("a"), col("b")).as("d"))
    def run(df: org.apache.spark.sql.DataFrame): Seq[Option[Double]] =
      df.orderBy("id").collect().toSeq
        .map(r => Option(r.getAs[java.lang.Double]("d")).map(_.doubleValue))
    val expected = cases.map(_._3)

    assert(run(slow) === expected)
    assert(run(fast) === expected)
    val fastLine = fast.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("vec_dot")).getOrElse(fail("vec_dot not in plan"))
    assert(fastLine.contains("*("), s"not codegen'd: $fastLine")

    val keys = Seq("spark.sql.codegen.wholeStage",
      "spark.sql.codegen.factoryMode")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      assert(run(fast) === expected)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("vec_dot runs inside whole-stage codegen") {
    // spark.range source, not a literal local frame — Catalyst constant-
    // folds literals into a LocalTableScan and the projection vanishes
    val df = spark.range(10)
      .select(array(col("id").cast("double"), lit(2.0)).as("a"),
        array(lit(3.0), col("id").cast("double")).as("b"))
      .select(VecMath.vec_dot(col("a"), col("b")).as("d"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val line = plan.linesIterator.find(_.contains("vec_dot"))
      .getOrElse(fail(s"vec_dot not in plan:\n$plan"))
    assert(line.contains("*("), s"vec_dot projection not codegen'd: $line")
  }
}
