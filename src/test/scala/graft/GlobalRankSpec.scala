package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [[GlobalRank]] against ranks computed on the driver. The inputs have
  * ties in the leading order key that straddle range boundaries, more
  * shuffle partitions than distinct leading keys, and no rows at all. */
class GlobalRankSpec extends GraftSuite {
  import spark.implicits._

  private val rows: Seq[(Int, Long, Long)] = {
    val rnd = new scala.util.Random(7)
    // (g, k, id): 3 groups, 3 leading keys, unique ids in shuffled order
    rnd.shuffle((1L to 600L).toList).map(id => (rnd.nextInt(3), rnd.nextInt(3).toLong, id))
  }

  test("row numbers equal a driver rank, with and without a group key") {
    val df = rows.toDF("g", "k", "id")
    withConf("spark.sql.shuffle.partitions" -> "16") {
      val all = GlobalRank(df, Seq(col("k").desc, col("id")))
        .select("id", "rank", "total").as[(Long, Long, Long)].collect()
      val want = rows.sortBy(r => (-r._2, r._3)).map(_._3).zipWithIndex
        .map { case (id, i) => (id, i + 1L, rows.size.toLong) }
      assert(all.sorted.toSeq == want.sorted)

      val byG = GlobalRank(df, Seq(col("k"), col("id")), by = Seq("g"))
        .select("id", "rank", "total").as[(Long, Long, Long)].collect()
      val wantG = rows.groupBy(_._1).values.flatMap { rs =>
        rs.sortBy(r => (r._2, r._3)).zipWithIndex.map { case (r, i) => (r._3, i + 1L, rs.size.toLong) }
      }
      assert(byG.sorted.toSeq == wantG.toSeq.sorted)
    }
  }

  test("running sums keep the RANGE frame: a tie group counts as one step") {
    // value = dlt in (t, dlt) order with duplicate (t, dlt) keys, as in
    // event_concurrency's sweep line
    val edges = rows.map { case (_, k, id) => (id % 40, if (k == 0) -1L else 1L) }
    val df = edges.toDF("t", "dlt")
    val got = withConf("spark.sql.shuffle.partitions" -> "64") {
      GlobalRank(df, Seq(col("t"), col("dlt")), value = col("dlt"))
        .select("t", "dlt", "rank").as[(Long, Long, Long)].collect()
    }
    var run = 0L
    val want = edges.groupBy(identity).toSeq.sortBy(_._1).flatMap { case (e, g) =>
      run += e._2 * g.size
      g.map(x => (x._1, x._2, run))
    }
    assert(got.sorted.toSeq == want.sorted)
  }

  test("an empty input yields no rows") {
    val df = rows.toDF("g", "k", "id").limit(0)
    assert(GlobalRank(df, Seq(col("k"), col("id")), by = Seq("g")).collect().isEmpty)
    assert(GlobalRank(df, Seq(col("k"), col("id"))).collect().isEmpty)
  }

  test("ntile equals SQL NTILE for n < k, n % k == 0 and n % k != 0") {
    // one case per n, windowed per case, against the built-in ntile(5)
    val cases = Seq(3, 10, 11, 1).flatMap(n => (1 to n).map(i => (n, i.toLong)))
    val got = cases.toDF("n", "i")
      .withColumn("rank", row_number().over(Window.partitionBy("n").orderBy("i")).cast("long"))
      .select(col("n"), col("i"),
        GlobalRank.ntile(col("rank"), col("n").cast("long"), 5).as("mine"),
        ntile(5).over(Window.partitionBy("n").orderBy("i")).cast("long").as("sql"))
      .as[(Int, Long, Long, Long)].collect()
    assert(got.length == cases.size)
    got.foreach { case (n, i, mine, sqlTile) => assert(mine == sqlTile, s"n=$n rank=$i") }
  }

  test("spark_partition_id appears under src/main only in the device") {
    val needle = "spark_partition" + "_id("
    val hits = SourceLines.hits("src/main", needle)
    assert(hits.nonEmpty && hits.forall(_.startsWith("src/main/scala/graft/core.scala:")),
      s"partition-id ranks belong in GlobalRank: $hits")
  }
}
