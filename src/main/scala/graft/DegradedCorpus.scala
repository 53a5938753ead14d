package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Degraded-corpus generator: clones an sf directory with ~10% NULLs
  * injected into every nullable PAYLOAD column (never join/identity
  * keys — broken FKs are a different failure class with fail-loud
  * semantics). Two consumers:
  *
  *  - `NullInputSpec` (crash lane): every batch key must still EXECUTE
  *    on the degraded clone.
  *  - the ORACLE-PARITY lane (r19, VERDICT r18 #1): `graft.Verify` +
  *    `tools/check.py` run against the degraded clone, so Spark and
  *    DuckDB must agree on the RESULTS under planted NULL langs/texts/
  *    embeddings — the class of silent engine/oracle divergence that
  *    ADVICE keeps surfacing (null-lang ntile partitions, greatest(NULL)
  *    chunk rows) is caught mechanically instead of by audit.
  *    Drive it: `sbt "runMain graft.DegradedCorpus <sfDir> <outDir>"`,
  *    then Verify/check.py with <outDir> as the table dir.
  *
  * Injection is deterministic: one-in-ten rows chosen by a
  * content-independent hash of the row's key column and the column
  * name, so the lane is reproducible run-to-run and engine-independent.
  */
object DegradedCorpus {

  /** Null out ~10% of each listed column, keyed on `keyCol`. */
  def nullify(df: DataFrame, keyCol: String, cols: Seq[String]): DataFrame =
    cols.foldLeft(df) { (acc, c) =>
      acc.withColumn(c,
        when(abs(xxhash64(col(keyCol), lit(c))) % 10 === 0, lit(null))
          .otherwise(col(c)))
    }

  /** Payload columns per table (key column first). `events` is special:
    * ts/user_id are identity, value/event_type/props are payload. */
  val payload: Map[String, (String, Seq[String])] = Map(
    "region"   -> (("r_regionkey", Seq("r_comment"))),
    "nation"   -> (("n_nationkey", Seq("n_comment"))),
    "customer" -> (("c_custkey", Seq("c_comment", "c_phone", "c_mktsegment"))),
    "supplier" -> (("s_suppkey", Seq("s_comment", "s_phone"))),
    "part"     -> (("p_partkey", Seq("p_comment", "p_mfgr", "p_brand"))),
    "orders"   -> (("o_orderkey", Seq("o_comment", "o_clerk"))),
    "lineitem" -> (("l_orderkey", Seq("l_comment", "l_shipinstruct", "l_shipmode"))),
    "documents" -> (("doc_id", Seq("text", "lang", "source"))),
    "embeddings" -> (("vec_id", Seq("embedding", "label"))))

  /** Write the degraded clone of `sfDir` into `outDir`. Layout matches
    * the driver's testdata exactly — one single parquet FILE per table
    * named `<table>.parquet` (not a Spark output directory), because the
    * DuckDB side of the parity lane reads the same literal paths. */
  def write(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    def flatten(tmpDir: String, target: java.io.File): Unit = {
      val part = new java.io.File(tmpDir).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file under $tmpDir"))
      java.nio.file.Files.move(part.toPath, target.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      new java.io.File(tmpDir).listFiles().foreach(_.delete())
      new java.io.File(tmpDir).delete()
    }
    def emit(df: DataFrame, t: String): Unit = {
      val tmp = s"$outDir/.stage_$t"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      flatten(tmp, new java.io.File(s"$outDir/$t.parquet"))
    }
    new java.io.File(outDir).mkdirs()
    for ((t, (key, cols)) <- payload) {
      val base = T(spark, sfDir, t)
      val avail = cols.filter(base.columns.contains)
      emit(nullify(base, key, avail), t)
    }
    emit(nullify(T.events(spark, sfDir), "event_id",
                 Seq("value", "event_type", "props")), "events")
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: DegradedCorpus <sfDir> <outDir>")
    val spark = Sessions.get()
    try write(spark, args(0), args(1))
    finally spark.stop()
  }
}
