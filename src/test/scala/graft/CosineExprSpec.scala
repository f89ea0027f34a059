package graft

import graft.functions.CosineSimilarity
import org.apache.spark.sql.functions._

/** The native cosine expression: bit-parity with the composed
  * zip_with/aggregate form, codegen participation, SQL registration,
  * edge cases, and the IVF pipeline built on it. */
class CosineExprSpec extends SparkSuite {
  import spark.implicits._

  test("x31 int8 quantization: reconstruction error bounded by half a quantization step") {
    val q = SparkEntry.queries("x31_quantize_int8")(spark, sf)
    val x = Tables.embeddings(spark, sf)
      .select($"vec_id", posexplode($"embedding").as(Seq("pos", "x")))
      .select($"vec_id", $"pos".cast("long").as("pos"), $"x".cast("double").as("x"))
    // dequant q/scale must sit within half a step (max|x|/254) of x;
    // small fp slack for the scale division
    val bad = q.filter($"scale" > 0).join(x, Seq("vec_id", "pos"))
      .withColumn("err", abs($"q" / $"scale" - $"x"))
      .withColumn("halfStep", lit(0.5) / $"scale" + lit(1e-9))
      .filter($"err" > $"halfStep")
    assert(bad.isEmpty, bad.collect().take(3).mkString(","))
  }

  test("sign_buckets equals the composed 16x64-term projection select bit-for-bit") {
    import graft.functions.SignBuckets
    val e = Tables.embeddings(spark, sf).limit(200)
    val native = e.select($"vec_id",
        posexplode(SignBuckets.signBuckets($"embedding")).as(Seq("tbl", "bucket")))
    // the composed form the expression replaced: explicit left-assoc sums
    val projs = (0 until SignBuckets.NumTables * SignBuckets.BitsPerTable).map { p =>
      (0 until SignBuckets.Dim).map(d =>
        $"embedding".getItem(d).cast("double") * lit(SignBuckets.weight(p, d)))
        .reduce(_ + _).as(s"proj$p")
    }
    val composed = e.select(($"vec_id" +: projs): _*)
      .select($"vec_id", explode(array((0 until SignBuckets.NumTables).map { t =>
        struct(lit(t).as("tbl"),
          (0 until SignBuckets.BitsPerTable).map { b =>
            when(col(s"proj${t * SignBuckets.BitsPerTable + b}") >= 0, lit(1 << b))
              .otherwise(lit(0))
          }.reduce(_ + _).cast("int").as("bucket"))
      }: _*)).as("tb"))
      .select($"vec_id", $"tb.tbl", $"tb.bucket")
    assert(native.exceptAll(composed).isEmpty && composed.exceptAll(native).isEmpty)
  }

  private def vectors = Tables.embeddings(spark, sf)
    .select($"vec_id", transform($"embedding", x => x.cast("double")).as("vd"))

  test("cosine_sim equals the composed zip_with/aggregate form bit-for-bit") {
    CosineSimilarity.register(spark)
    val v = vectors.limit(50)
    val pairs = v.as("a").crossJoin(v.as("b"))
      .select($"a.vd".as("x"), $"b.vd".as("y"))
    val composedDot = aggregate(zip_with($"x", $"y", (p, q) => p * q), lit(0.0), (acc, z) => acc + z)
    val norm = (c: org.apache.spark.sql.Column) =>
      sqrt(aggregate(transform(c, p => p * p), lit(0.0), (acc, z) => acc + z))
    val composed = composedDot / (norm($"x") * norm($"y"))
    val diff = pairs
      .select(CosineSimilarity.cosineSim($"x", $"y").as("native"), composed.as("composed"))
      .filter($"native" =!= $"composed") // exact inequality — bit parity required
    assert(diff.isEmpty, diff.collect().take(3).mkString(","))
  }

  test("cosine_sim is available from SQL after registration and runs inside codegen") {
    CosineSimilarity.register(spark)
    vectors.limit(10).createOrReplaceTempView("v_cos_test")
    val df = spark.sql(
      """SELECT a.vec_id, b.vec_id AS other, cosine_sim(a.vd, b.vd) AS c
        |FROM v_cos_test a JOIN v_cos_test b ON a.vec_id < b.vec_id""".stripMargin)
    assert(df.count() === 45)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("*("), s"expression fell out of codegen:\n$plan")
    assert(!plan.toLowerCase.contains("codegenfallback"), "fell back to interpreted eval")
  }

  test("cosine_sim edges: zero vector → NULL, null input → NULL, self → 1.0") {
    CosineSimilarity.register(spark)
    val df = Seq(
      (Array(1.0, 2.0), Array(1.0, 2.0)),
      (Array(0.0, 0.0), Array(1.0, 2.0))).toDF("a", "b")
    val r = df.select(CosineSimilarity.cosineSim($"a", $"b")).as[Option[Double]].collect()
    assert(math.abs(r(0).get - 1.0) < 1e-15)
    assert(r(1).isEmpty) // zero norm → NULL, no NaN leak
    val withNull = Seq((Some(Array(1.0)), Option.empty[Array[Double]])).toDF("a", "b")
    assert(withNull.select(CosineSimilarity.cosineSim($"a", $"b"))
      .as[Option[Double]].head().isEmpty)
  }

  test("cosine_sim: length mismatch → NULL, null element → NULL (codegen and interpreted)") {
    CosineSimilarity.register(spark)
    val mismatched = Seq((Array(1.0, 2.0, 3.0), Array(1.0, 2.0))).toDF("a", "b")
    assert(mismatched.select(CosineSimilarity.cosineSim($"a", $"b"))
      .as[Option[Double]].head().isEmpty)
    val withNullElem = Seq((Seq(Some(1.0), None), Seq(Some(1.0), Some(2.0))))
      .toDF("a", "b")
    assert(withNullElem.select(CosineSimilarity.cosineSim($"a", $"b"))
      .as[Option[Double]].head().isEmpty)
    // interpreted path (nullSafeEval) must agree with codegen
    import org.apache.spark.sql.catalyst.util.ArrayData
    val expr = graft.functions.CosineSimilarity(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(1.0, 2.0, 3.0), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(1.0, 2.0), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)))
    assert(expr.nullSafeEval(
      ArrayData.toArrayData(Array(1.0, 2.0, 3.0)),
      ArrayData.toArrayData(Array(1.0, 2.0))) == null)
  }

  test("x12 IVF: cosines on hits are exactly x5's, rows shaped top-k") {
    val ivf = SparkEntry.queries("x12_ivf_ann_topk")(spark, sf)
    assert(ivf.count() > 0)
    val exact = SparkEntry.queries("x5_cosine_topk")(spark, sf)
      .select($"query_id", $"neighbor_id", $"cos".as("cos_exact"))
    val joined = ivf.join(exact, Seq("query_id", "neighbor_id"))
    assert(joined.filter($"cos" =!= $"cos_exact").isEmpty, "IVF cosine drifted from exact")
    val perQuery = ivf.groupBy("query_id").agg(max("rank").as("mr"), count(lit(1)).as("n"))
    assert(perQuery.filter($"n" =!= $"mr").isEmpty, "rank not contiguous")
  }

  test("VectorMeanFloor aggregator: centroids are element-wise floor-means") {
    // cell = label, vectors fixed-point quantized like the x12 pipeline;
    // the Aggregator's output must equal the declarative floor(sum/cnt)
    // EXACTLY (integer arithmetic — no tolerance).
    val df = Tables.embeddings(spark, sf).select($"label".as("cell"),
      transform($"embedding", x => floor(x.cast("double") * lit(1048576.0))).as("q"))
    val cents = ext.Ivf.meanByCell(df)
    val expected = df.groupBy($"cell")
      .agg(array((0 until 64).map(i =>
        floor(sum(element_at($"q", i + 1)).cast("double") / count(lit(1)))
          .cast("long")): _*).as("q_exp"))
    val bad = cents.join(expected, "cell").filter($"q" =!= $"q_exp")
    assert(bad.isEmpty, s"floor-mean centroid mismatch: ${bad.count()}")
  }
}
