package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sim.Similarity

/**
 * Native vector expressions (graft.functions): the codegen'd
 * DotProduct/CosineSimilarity must match the higher-order-function
 * formulation bit-for-bit (same sequential accumulation order), handle
 * nulls, and be callable from SQL via the session extension hook.
 */
class FunctionsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private lazy val vecs = {
    val rnd = new scala.util.Random(11)
    (0L until 50L).map(i => (i, Seq.fill(64)(rnd.nextGaussian())))
      .toDF("vec_id", "v")
      .select(col("vec_id"), col("v").cast("array<double>").as("v"))
  }

  test("native dot/cosine are bit-identical to the fold formulation") {
    val pairs = vecs.as("a").crossJoin(vecs.as("b"))
      .where(col("a.vec_id") < col("b.vec_id"))
      .select(
        Similarity.dot(col("a.v"), col("b.v")).as("dn"),
        Similarity.dotFold(col("a.v"), col("b.v")).as("df"),
        Similarity.cosine(col("a.v"), col("b.v")).as("cn"),
        Similarity.cosineFold(col("a.v"), col("b.v")).as("cf"))
    val bad = pairs.where(col("dn") =!= col("df") || col("cn") =!= col("cf")).count()
    assert(bad == 0)
  }

  test("null inputs yield null") {
    val df = Seq((Some(Seq(1.0, 2.0)), Option.empty[Seq[Double]]))
      .toDF("a", "b")
    val r = df.select(Similarity.dot(col("a"), col("b"))).head()
    assert(r.isNullAt(0))
  }

  test("TopCentroids matches a reference argmax/top-n over the same cosines") {
    import org.apache.spark.sql.graftbridge.GraftColumnBridge.{column => toCol, expression => toExpr}
    val cents = vecs.where(col("vec_id") % 5 === 0).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
    val ids = cents.map(_._1)
    val flat = cents.flatMap(_._2.toArray)
    // reference: per (vec, centroid) cosine ranked by (cos desc, id)
    val centDf = vecs.where(col("vec_id") % 5 === 0)
      .select(col("vec_id").as("c_id"), col("v").as("cv"))
    val want = vecs.crossJoin(centDf)
      .select(col("vec_id"), col("c_id"),
        Similarity.cosine(col("v"), col("cv")).as("cos"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("vec_id")
          .orderBy(col("cos").desc, col("c_id"))))
      .where(col("rk") <= 3)
      .collect().groupBy(_.getLong(0))
      .map { case (v, rows) => v -> rows.sortBy(_.getInt(3)).map(_.getLong(1)).toSeq }
    val got = vecs.select(col("vec_id"),
        toCol(graft.functions.TopCentroids(toExpr(col("v")), ids, flat, 3)).as("top"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(got === want)
    // interpreted eval agrees with the codegen'd path
    val expr = graft.functions.TopCentroids(toExpr(col("v")), ids, flat, 3)
    val one = vecs.where(col("vec_id") === 7L).head().getSeq[Double](1)
    val interp = expr.nullSafeEval(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(one.toArray))
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray().toSeq
    assert(interp === got(7L))
  }

  test("LshBandBuckets matches the per-plane sign-bit formulation") {
    import org.apache.spark.sql.graftbridge.GraftColumnBridge.{column => toCol, expression => toExpr}
    val planes = Similarity.hyperplanes(32, 64)
    val bands = 4
    val r = 32 / bands
    // reference: explicit sign bits + bit-sum per band via signBits
    val want = vecs
      .withColumn("bits", Similarity.signBits(col("v"), planes))
      .select(col("vec_id"),
        array((0 until bands).map { b =>
          (0 until r)
            .map(j => element_at(col("bits"), b * r + j + 1).cast("long") * lit(1L << j))
            .reduce(_ + _)
        }: _*).as("bk"))
      .collect().map(row => row.getLong(0) -> row.getSeq[Long](1).toSeq).toMap
    val got = vecs.select(col("vec_id"),
        toCol(graft.functions.LshBandBuckets(
          toExpr(col("v")), planes.flatten.toArray, 32, bands)).as("bk"))
      .collect().map(row => row.getLong(0) -> row.getSeq[Long](1).toSeq).toMap
    assert(got === want)
  }

  test("SQL registration via GraftExtensions function builders") {
    // same injection the extension performs, applied to the live session
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_cosine",
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.CosineSimilarity(args(0), args(1)),
      "scala_udf")
    vecs.createOrReplaceTempView("fn_vecs")
    val r = spark.sql(
      """SELECT a.vec_id, b.vec_id, vec_cosine(a.v, b.v) AS c
        |FROM fn_vecs a JOIN fn_vecs b ON a.vec_id = 0 AND b.vec_id = 0""".stripMargin)
      .head()
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-12)
  }

  test("WinnowSelect equals the SQL window-min formulation, ties included") {
    import org.apache.spark.sql.graftbridge.GraftColumnBridge.{column => toCol, expression => toExpr}
    val (k, w) = (10, 4)
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaa"), // all-equal digests: every position ties
      (3L, "short"),                          // below k: no windows
      (4L, "exactly10!"))                     // single window
      .toDF("doc_id", "text")
    val native = docs
      .select(col("doc_id"),
        explode(toCol(graft.functions.WinnowSelect(toExpr(col("text")), k, w))).as("win"))
      .groupBy("doc_id", "win").count()
      .orderBy("doc_id", "win").collect().toSeq
    val sql = docs.where(length(col("text")) >= k)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(1), length(col("text")) - (k - 1)),
          i => struct(md5(col("text").substr(i, lit(k))).as("m"),
            xxhash64(col("text").substr(i, lit(k))).as("h")))).as(Seq("pos", "mh")))
      .withColumn("wmin", min(col("mh.m")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
          .orderBy("pos").rowsBetween(-(w - 1), 0)))
      .where(col("mh.m") === col("wmin"))
      .select(col("doc_id"), col("mh.h").as("win"))
      .groupBy("doc_id", "win").count()
      .orderBy("doc_id", "win").collect().toSeq
    assert(native == sql)
    assert(native.map(_.getLong(0)).distinct.toSet == Set(1L, 2L, 4L))
  }

  test("CharHistogram equals the length(replace(...)) SQL formulation") {
    import org.apache.spark.sql.graftbridge.GraftColumnBridge.{column => toCol, expression => toExpr}
    val alpha = "abcdefghijklmnopqrstuvwxyz 0."
    val docs = Seq(
      "the quick brown fox 99.5",
      "",
      "no digits here",
      "ünïcode high-bytes must not corrupt ascii counts: aaa 000 ...",
      "a" * 5000)
      .toDF("s")
    val cmp = docs.select(
      toCol(graft.functions.CharHistogram(toExpr(col("s")), alpha)).as("nat"),
      expr(
        s"transform(sequence(1, ${alpha.length}), i -> cast(length(s) - " +
          s"length(replace(s, substr('$alpha', i, 1), '')) as double))").as("sql"))
    assert(cmp.where(not(col("nat") === col("sql"))).count() == 0)
    // null propagates
    val nr = Seq(Option.empty[String]).toDF("s")
      .select(toCol(graft.functions.CharHistogram(toExpr(col("s")), alpha)))
      .head()
    assert(nr.isNullAt(0))
  }
}
