package graft

import org.apache.spark.sql.functions._

/** Custom-function surface: Catalyst expression correctness + SQL
  * registration (SURVEY.md §2.L, §4).
  */
class ExtensionsSpec extends GraftSuite {

  test("CosineSimilarity expression matches the higher-order formulation bit-for-bit") {
    val e = T.embeddings(spark, sf).limit(50)
    val pairs = e.select(col("vec_id").as("ida"), col("embedding").as("ea"))
      .crossJoin(e.select(col("vec_id").as("idb"), col("embedding").as("eb")))
      .where(col("ida") < col("idb"))
    val hof = expr(
      """aggregate(zip_with(ea, eb, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)
        | / (sqrt(aggregate(ea, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
        |    * sqrt(aggregate(eb, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))""".stripMargin)
    val diff = pairs
      .select(functions.CosineSimilarity(col("ea"), col("eb")).as("cg"), hof.as("ho"))
      .where(col("cg") =!= col("ho")) // bitwise double equality
      .count()
    assert(diff == 0, "codegen'd loop must reproduce the fold exactly")
  }

  test("CosineSimilarity handles nulls and identical vectors") {
    import spark.implicits._
    val df = Seq(
      (Some(Array(1.0f, 0.0f)), Some(Array(1.0f, 0.0f))),
      (Some(Array(1.0f, 0.0f)), Some(Array(0.0f, 1.0f))),
      (None, Some(Array(1.0f, 2.0f)))
    ).toDF("a", "b")
    val out = df.select(functions.CosineSimilarity(col("a"), col("b")).as("c")).collect()
    assert(math.abs(out(0).getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(out(1).getDouble(0)) < 1e-12)
    assert(out(2).isNullAt(0))
  }

  test("GraftExtensions.register exposes hll_distinct and cosine_sim to SQL") {
    GraftExtensions.register(spark)
    T.lineitem(spark, sf).createOrReplaceTempView("li")
    val approx = spark.sql("SELECT hll_distinct(l_partkey) FROM li").head.getLong(0)
    val exact = T.lineitem(spark, sf).select(countDistinct(col("l_partkey"))).head.getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.06, s"$approx vs $exact")
    T.embeddings(spark, sf).createOrReplaceTempView("emb")
    val c = spark.sql(
      """SELECT cosine_sim(a.embedding, a.embedding) FROM emb a WHERE a.vec_id = 0""").head.getDouble(0)
    assert(math.abs(c - 1.0) < 1e-9)
  }

  test("the full custom-expression library is SQL-callable through the extension") {
    GraftExtensions.register(spark)
    // minhash_sig: identical gram sets -> identical 64-lane signatures
    val sigs = spark.sql(
      """SELECT minhash_sig(array(CAST(1 AS BIGINT), 2, 3)) AS a,
        |       minhash_sig(array(CAST(3 AS BIGINT), 2, 1)) AS b""".stripMargin).head
    assert(sigs.getSeq[Long](0) == sigs.getSeq[Long](1), "minhash is set-order invariant")
    assert(sigs.getSeq[Long](0).length == 64)
    // simhash64: deterministic, token-frequency sensitive
    val sh = spark.sql(
      """SELECT simhash64(array('a', 'b')) AS x, simhash64(array('b', 'a')) AS y,
        |       simhash64(array('c', 'c', 'c')) AS z""".stripMargin).head
    assert(sh.getLong(0) == sh.getLong(1), "simhash is bag-order invariant")
    assert(sh.getLong(0) != sh.getLong(2))
    // point_in_ring: unit square contains (5,5), not (15,5)
    val pir = spark.sql(
      """SELECT point_in_ring(array(CAST(0 AS BIGINT), 10, 10, 0, 0),
        |                     array(CAST(0 AS BIGINT), 0, 10, 10, 0),
        |                     CAST(5 AS BIGINT), CAST(5 AS BIGINT)) AS inside,
        |       point_in_ring(array(CAST(0 AS BIGINT), 10, 10, 0, 0),
        |                     array(CAST(0 AS BIGINT), 0, 10, 10, 0),
        |                     CAST(15 AS BIGINT), CAST(5 AS BIGINT)) AS outside""".stripMargin).head
    assert(pir.getBoolean(0) && !pir.getBoolean(1))
    // wkb_linestring: header + 2 points = 9 + 32 bytes, NDR, type 2
    val wkb = spark.sql(
      """SELECT wkb_linestring(array(CAST(1 AS DOUBLE), 2), array(CAST(3 AS DOUBLE), 4))""")
      .head.getAs[Array[Byte]](0)
    assert(wkb.length == 9 + 2 * 16)
    assert(wkb(0) == 1 && wkb(1) == 2, "little-endian LineString header")
  }

  test("a session built with GraftExtensions carries the AsofJoin and RangeJoin strategies") {
    val strategies = org.apache.spark.sql.GraftExtensionsProbe.plannerStrategies(spark)
    assert(strategies.contains(org.apache.spark.sql.graft.AsofJoinStrategy), strategies)
    assert(strategies.contains(org.apache.spark.sql.graft.RangeJoinStrategy), strategies)
  }
}
