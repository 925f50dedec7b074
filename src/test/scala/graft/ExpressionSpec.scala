package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions

class ExpressionSpec extends AnyFunSuite {
  import TestSpark._

  test("native float_dot is bit-identical to the HOF formulation") {
    GraftExtensions.install(spark)
    val e = graft.sources.Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val pairs = e.as("a").crossJoin(e.as("b").limit(5))
      .select(col("a.embedding").as("x"), col("b.embedding").as("y"))
    val diff = pairs.select(
      (VectorFunctions.dotNative(col("x"), col("y")) -
        VectorFunctions.dot(col("x"), col("y"))).as("d"))
      .filter(col("d") =!= 0.0) // bit-identical ⇒ exact zero, no tolerance
    assert(diff.count() == 0)
  }

  test("float_dot handles nulls and is usable from SQL") {
    GraftExtensions.install(spark)
    val r = spark.sql(
      "SELECT float_dot(array(cast(1.0 as float), cast(2.0 as float)), " +
        "array(cast(3.0 as float), cast(4.0 as float))) AS d," +
        " float_dot(cast(null as array<float>), array(cast(1.0 as float))) AS n")
      .head
    assert(r.getDouble(0) == 11.0)
    assert(r.isNullAt(1))
  }

  test("min_rolling_hash matches brute-force recomputation and edge cases") {
    GraftExtensions.install(spark)
    val docs = graft.sources.Tables(spark, sf, "documents")
      .selectExpr("doc_id", "split(text, ' ') AS t")
      .filter(expr("size(t) >= 8")).limit(50).cache()
    val fast = docs.selectExpr("doc_id", "min_rolling_hash(t, 8) AS f")
    // brute force: recompute every window hash independently in Scala
    def fnv(s: String): Long = {
      var h = 0xcbf29ce484222325L
      s.getBytes("UTF-8").foreach { b => h ^= b; h *= 0x100000001b3L }
      h
    }
    val exp = docs.collect().map { r =>
      val toks = r.getSeq[String](1)
      val mins = toks.sliding(8).map(w =>
        w.map(fnv).foldLeft(0L)((acc, x) => acc * 1000003L + x)).min
      r.getLong(0) -> mins
    }.toMap
    fast.collect().foreach { r =>
      assert(r.getLong(1) == exp(r.getLong(0)), s"doc ${r.getLong(0)}")
    }
    // short doc -> null; duplicate docs -> identical fingerprints
    val edge = spark.sql(
      "SELECT min_rolling_hash(array('a','b'), 8) AS short_doc").head
    assert(edge.isNullAt(0))
  }

  test("welford aggregator matches var_samp and is partition-invariant") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val li = graft.sources.Tables(spark, sf, "lineitem")
    val xs = li.select(col("l_extendedprice")).as[Double]
    val got = xs.select(graft.functions.Aggregators.welfordCol).head
    val exp = li.agg(avg("l_extendedprice"), var_samp("l_extendedprice"),
      count(lit(1))).head
    assert(got.n == exp.getLong(2))
    assert(math.abs(got.mean - exp.getDouble(0)) < 1e-6)
    assert(math.abs(got.variance - exp.getDouble(1)) / exp.getDouble(1) < 1e-9)
    // partition-invariance: different parallelism, same moments
    val got2 = xs.repartition(17).select(graft.functions.Aggregators.welfordCol).head
    assert(got2.n == got.n && math.abs(got2.variance - got.variance) < 1e-4)
  }

  test("deterministic per-group sample is layout-independent") {
    import spark.implicits._
    val docs = graft.sources.Tables(spark, sf, "documents")
      .selectExpr("source", "cast(doc_id as string) AS id")
      .as[(String, String)]
    def sample(parts: Int) = docs.repartition(parts)
      .groupByKey(_._1).mapValues(_._2)
      .agg(graft.functions.Aggregators.deterministicSample(5).toColumn)
      .collect().toMap
    val a = sample(3)
    val b = sample(13)
    assert(a == b) // same keep-set regardless of physical layout
    assert(a.values.forall(_.size <= 5))
  }

  test("native hyperplane_sketch is bit-identical to the HOF formulation") {
    val e = graft.sources.Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    Seq(16, 32).foreach { bits =>
      val native = operators.Similarity.hyperplaneSketch(e, "embedding", bits, 64)
        .select(col("vec_id"), col("sketch"))
      val hof = operators.Similarity.hyperplaneSketchHof(e, "embedding", bits, 64)
        .select(col("vec_id"), col("sketch").as("sketch_hof"))
      val diff = native.join(hof, "vec_id")
        .filter(col("sketch") =!= col("sketch_hof"))
      assert(diff.count() == 0, s"sketch mismatch at bits=$bits")
    }
    // mismatched vector length => sketch 0 (the HOF's null-padded dots)
    val zero = spark.range(1)
      .select(expr("array(cast(1.0 as float))").as("v"))
    assert(operators.Similarity.hyperplaneSketch(zero, "v", 16, 64)
      .head.getLong(1) == 0L)
  }

  test("float_dot yields null on length-mismatched vectors (codegen + interpreted)") {
    GraftExtensions.install(spark)
    // codegen path (whole-stage over a real plan)
    val r = spark.range(1).selectExpr(
      "float_dot(array(cast(1.0 as float), cast(2.0 as float)), " +
        "array(cast(3.0 as float))) AS d").head
    assert(r.isNullAt(0), "mismatched lengths must be null, not a partial dot")
    // interpreted path (direct eval, no codegen)
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val lit2 = Literal(ArrayData.toArrayData(Array(1.0f, 2.0f)), ArrayType(FloatType))
    val lit1 = Literal(ArrayData.toArrayData(Array(3.0f)), ArrayType(FloatType))
    assert(graft.plans.FloatVectorDot(lit2, lit1).eval(null) == null)
    assert(graft.plans.FloatVectorDot(lit2, lit2).eval(null) == 5.0)
  }

  test("native function registration validates arity with a descriptive error") {
    GraftExtensions.install(spark)
    val e1 = intercept[Exception] { spark.sql("SELECT simhash64()").collect() }
    assert(e1.getMessage.contains("simhash64"))
    val e2 = intercept[Exception] {
      spark.sql("SELECT float_dot(array(cast(1.0 as float)))").collect()
    }
    assert(e2.getMessage.contains("float_dot"))
  }

  test("float_dot rejects wrong input types at analysis time") {
    GraftExtensions.install(spark)
    val err = intercept[Exception] {
      spark.sql("SELECT float_dot(array(1.0D), array(2.0D))").collect()
    }
    assert(err.getMessage.contains("float_dot") ||
      err.getMessage.toLowerCase.contains("data type"))
  }

  test("native quality_margin is bit-identical to the Catalyst fold (corpus + edges)") {
    import graft.operators.{QualityCoefficients, Sampling}
    GraftExtensions.install(spark)
    // planted edges: empty text, multi/leading/trailing spaces, case
    // folding, vocab words embedded in longer words (must NOT count),
    // repeated vocab words, and a vocab-free document
    import spark.implicits._
    val edges = Seq(
      (-1L, ""),
      (-2L, "  join  hash   JOIN  "),
      (-3L, "joinx xjoin join join"),
      (-4L, "zzz yyy xxx"),
      (-5L, "Sort QUERY fast dup dup dup"))
      .toDF("doc_id", "text")
    val corpus = graft.sources.Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
      .unionByName(edges)
    val fold = Sampling.marginOf(col("text"), QualityCoefficients.vocab,
      QualityCoefficients.idf, QualityCoefficients.coef,
      QualityCoefficients.intercept)
    // bit-identical ⇒ exact equality, no tolerance
    val diff = corpus
      .select(col("doc_id"), Sampling.modelMargin(col("text")).as("native"),
        fold.as("fold"))
      .filter(col("native") =!= col("fold") ||
        col("native").isNull =!= col("fold").isNull)
    assert(diff.count() == 0)
    // null text propagates to a null margin, like the fold
    val n = spark.sql("SELECT quality_margin(cast(null as string)) AS m").head
    assert(n.isNullAt(0))
    // interpreted path agrees with codegen (direct eval, no codegen)
    import org.apache.spark.sql.catalyst.expressions.Literal
    val direct = graft.plans.QualityMargin(Literal("join hash join"))
      .eval(null).asInstanceOf[Double]
    val viaSql = spark.sql("SELECT quality_margin('join hash join') AS m")
      .head.getDouble(0)
    assert(direct == viaSql)
  }
}
