package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up corpus synthesizer for the heavy-key scale lane (VERDICT
  * r18 #2): replicate an sf directory `factor`× with FK-consistent key
  * offsets, producing the next measured decade (sf0.1 ×10 → "sf1",
  * ~6 M lineitem) without any driver-side data dependency.
  *
  * Replication is the honest 10× shape for this corpus:
  *  - fact/dim tables replicate with offset primary AND foreign keys
  *    (replica i's orders reference replica i's customers), so join
  *    fan-outs, group cardinalities and skew profiles scale the way a
  *    10× ingest would (10× groups for key-grouped aggs, 10× rows per
  *    categorical group);
  *  - `region`/`nation` stay fixed (TPC-H semantics: nations don't
  *    multiply with volume);
  *  - `events` offsets user_id too — 10× users with unchanged per-user
  *    stream shapes, which is how traffic actually grows;
  *  - `documents` gets a 3-char replica tag appended to `text`
  *    (n_chars adjusted) so replicas are NOT exact duplicates of each
  *    other — otherwise every dedup key would face an artificial 10-way
  *    dup explosion no real 10× corpus has, and the lane would measure
  *    that artifact instead of scaling. Planted intra-fixture dup pairs
  *    still replicate (both sides get the same tag), so recall
  *    workloads scale linearly;
  *  - `embeddings` offsets `label` per replica: cluster/IVF-blocked
  *    operators see 10× blocks of unchanged size (the √n-cells rule —
  *    a bigger corpus has more clusters, not quadratically fatter
  *    ones).
  *
  * Layout matches the driver's testdata (single parquet FILE per
  * table) so Verify + tools/check.py accept the result as a table dir.
  */
object ScaleCorpus {

  def write(spark: SparkSession, srcDir: String, outDir: String, factor: Int): Unit = {
    require(factor >= 1, "factor must be >= 1")
    val reps = spark.range(factor).select(col("id").cast("long").as("rep"))

    def scaled(t: String)(f: (DataFrame, org.apache.spark.sql.Column) => DataFrame): DataFrame = {
      val base = T(spark, srcDir, t)
      f(base.crossJoin(reps), col("rep")).drop("rep")
    }
    def off(c: String, span: Long, rep: org.apache.spark.sql.Column) =
      (col(c) + rep * span).as(c)

    // spans: one fixed stride per key family, larger than any fixture id
    val C = 1000000L; val S = 100000L; val P = 1000000L; val O = 10000000L
    val E = 10000000L; val U = 1000000L; val D = 1000000L; val V = 1000000L
    val LBL = 1000L

    def emit(df: DataFrame, t: String): Unit = {
      val tmp = s"$outDir/.stage_$t"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file under $tmp"))
      java.nio.file.Files.move(part.toPath,
        new java.io.File(s"$outDir/$t.parquet").toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      new java.io.File(tmp).listFiles().foreach(_.delete())
      new java.io.File(tmp).delete()
    }

    new java.io.File(outDir).mkdirs()
    emit(T(spark, srcDir, "region"), "region")
    emit(T(spark, srcDir, "nation"), "nation")
    emit(scaled("customer") { (d, r) =>
      d.select(off("c_custkey", C, r) +: d.columns.filter(c => c != "c_custkey" && c != "rep").map(col): _*)
    }, "customer")
    emit(scaled("supplier") { (d, r) =>
      d.select(off("s_suppkey", S, r) +: d.columns.filter(c => c != "s_suppkey" && c != "rep").map(col): _*)
    }, "supplier")
    emit(scaled("part") { (d, r) =>
      d.select(off("p_partkey", P, r) +: d.columns.filter(c => c != "p_partkey" && c != "rep").map(col): _*)
    }, "part")
    emit(scaled("orders") { (d, r) =>
      d.select(off("o_orderkey", O, r), off("o_custkey", C, r),
               col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
               col("o_orderpriority"))
    }, "orders")
    emit(scaled("lineitem") { (d, r) =>
      d.select(off("l_orderkey", O, r), off("l_partkey", P, r),
               off("l_suppkey", S, r),
               col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
               col("l_discount"), col("l_tax"), col("l_returnflag"),
               col("l_linestatus"), col("l_shipdate"))
    }, "lineitem")
    emit({
      val base = T.events(spark, srcDir).crossJoin(reps)
      base.select(off("event_id", E, col("rep")), col("ts"),
                  off("user_id", U, col("rep")),
                  col("event_type"), col("value"), col("props"))
    }, "events")
    emit(scaled("documents") { (d, r) =>
      d.select(off("doc_id", D, r),
               concat(col("text"), lit(" r"), r).as("text"),
               col("lang"), col("source"),
               (col("n_chars") + lit(2L) + length(r.cast("string"))).as("n_chars"))
    }, "documents")
    emit(scaled("embeddings") { (d, r) =>
      d.select(off("vec_id", V, r), col("embedding"),
               (col("label") + (r * LBL).cast("int")).cast("int").as("label"))
    }, "embeddings")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleCorpus <srcDir> <outDir> [factor=10]")
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = Sessions.get()
    try write(spark, args(0), args(1), factor)
    finally spark.stop()
  }
}
