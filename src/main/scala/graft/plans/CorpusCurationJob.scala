package graft.plans

import graft.T
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The training-corpus counterpart of [[OsmEtlJob]]: one Airflow-invokable
  * `spark-submit` that turns a raw document drop into a training-ready,
  * deduplicated, token-budget-packed shard lake — the §2.K operators
  * chained as one pipeline (BASELINE.json north_star surface).
  *
  * Stages:
  *   1. normalize   — casefold, strip non-alnum, collapse whitespace
  *                    (`text_normalize`): the canonical form all dedup
  *                    keys on.
  *   2. quality     — Gopher/C4-style gates (`text_quality`): token band
  *                    + stopword floor; rejected docs are quarantined, not
  *                    dropped silently.
  *   3. exact dedup — md5(norm) keep-min-doc_id (`dedup_exact`).
  *   4. near dedup  — word-3-gram Jaccard ≥ τ pairs via frequency-ordered
  *                    prefix filtering (`dedup_ngram_jaccard`), closed to
  *                    CONNECTED COMPONENTS (`dedup_clusters`' star
  *                    contraction — one-hop pair-dropping under-merges
  *                    chains a-b-c); only each component's min-id
  *                    representative survives, CARRYING the component
  *                    size as `sample_weight` (`dedup_soft_weight`): a
  *                    doc crawled 40× keeps its evidence of importance
  *                    instead of being flattened to 1.
  *   5. split       — leakage-safe train/val/test (`split_leakage_safe`):
  *                    md5-prefix of the component REPRESENTATIVE
  *                    ('e6'/'f3' hex ≈ 90/5/5), so no ≥ τ pair can ever
  *                    straddle a boundary — contamination prevented by
  *                    construction.
  *   6. pack        — ceil(len/4) token estimate, 2048-token packs by
  *                    running budget per shard (`text_pack_sequences`).
  *   7. shard       — serpentine deal on the per-lang size-sorted rank
  *                    (`shard_balanced`): 8 loader shards per lang with
  *                    near-equal token totals.
  *   8. write       — lake partitioned by (lang, pgosm-style snapshot
  *                    date), rows sorted within files by the epoch-1
  *                    shuffle key (`shuffle_epoch`) so the training order
  *                    is baked in and reproducible; pack/shard assignment
  *                    stays within a partition so shards rebuild
  *                    independently at 100 TB.
  *
  * Every keep/drop/split/order decision keys on content (hashes), never
  * rand() — the same corpus rebuilds identically under any partitioning.
  *
  * Usage: CorpusCurationJob <sfDir> <outDir> [snapshotDate]
  */
object CorpusCurationJob {

  val Tau = 0.8

  def normalize(docs: DataFrame): DataFrame =
    docs.withColumn("norm_text",
      trim(regexp_replace(regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " ")))

  /** Quality gate column (true = keep). */
  def qualityGate: Column = {
    val nTokens = size(split(col("norm_text"), " "))
    val stopHits = expr("size(filter(split(norm_text, ' '), t -> t IN ('the','a','of','and','to','is','in')))")
    nTokens.between(5, 100000) && (stopHits * 100 >= nTokens) // ≥1% stopwords
  }

  def dedupExact(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("h")).orderBy(col("doc_id"))
    docs.withColumn("h", md5(col("norm_text")))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1).drop("rn", "h")
  }

  /** Verified word-3-gram Jaccard ≥ τ pairs (doc_a < doc_b), candidates
    * from PPJoin-style frequency-ordered prefix filtering (never
    * all-pairs; see LlmOps.dedup_ngram_jaccard for the measured
    * rationale).
    */
  def nearDupPairs(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = docs.select(col("doc_id"),
      expr("""array_distinct(transform(
             |  sequence(1, greatest(size(split(norm_text, ' ')) - 2, 1)),
             |  i -> xxhash64(array_join(slice(split(norm_text, ' '), i, 3), ' '))))""".stripMargin)
        .as("grams")).cache()
    val exN = grams.select(col("doc_id"), size(col("grams")).as("n"), explode(col("grams")).as("g"))
    val freq = exN.groupBy(col("g")).agg(count(lit(1)).as("f"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("f"), col("g"))
    val prefix = exN.join(freq, "g")
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= col("n") - ceil(col("n") * lit(BigDecimal(Tau))) + 1)
      .select(col("doc_id"), col("n"), col("g"))
    val cand = prefix.as("a")
      .join(prefix.as("b"),
            col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id") &&
              least(col("a.n"), col("b.n")) >= lit(BigDecimal(Tau)) * greatest(col("a.n"), col("b.n")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val ga = grams.select(col("doc_id").as("doc_a"), col("grams").as("ga"), size(col("grams")).as("na"))
    val gb = grams.select(col("doc_id").as("doc_b"), col("grams").as("gb"), size(col("grams")).as("nb"))
    cand.join(ga, "doc_a").join(gb, "doc_b")
      .withColumn("common", size(array_intersect(col("ga"), col("gb"))))
      .where(col("common").cast("double") / (col("na") + col("nb") - col("common")) >= Tau)
      .select(col("doc_a"), col("doc_b"))
  }

  /** Near-dup component label per document: (doc_id, rep) where rep is
    * the min-id member of the doc's ≥ τ pair-graph component (identity
    * for docs in no pair). One-hop victim-dropping under-merges chains
    * (a~b, b~c but a!~c keeps both a and c only if you close the
    * components); the star contraction closes them in O(log n) rounds.
    */
  def nearDupComponents(docs: DataFrame): DataFrame = {
    val pairs = nearDupPairs(docs)
    val (labels, _) = graft.operators.LlmOps.connectedComponents(
      docs.select(col("doc_id").as("id")),
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
    labels.select(col("id").as("doc_id"), col("lbl").as("rep"))
  }

  /** Leakage-safe split column off the component representative — every
    * member of a near-dup cluster hashes identically, so no ≥ τ pair
    * straddles train/test (split_leakage_safe's md5-prefix device,
    * 'e6'/'f3' hex thresholds ≈ 90/5/5). */
  def splitOf(rep: Column): Column = {
    val h = md5(rep.cast("string"))
    when(h < "e6", "train").when(h < "f3", "val").otherwise("test")
  }

  /** 0=train, 1=val, 2=test — folded into pack/shard ids so the id
    * alone names a split-pure unit (see [[packSequences]]). */
  private def splitIx: Column =
    when(col("split") === "train", 0L).when(col("split") === "val", 1L).otherwise(2L)

  /** 8-way serpentine shard off a per-(lang, split) size-sorted rank
    * (shard_balanced's deal, per-partition form: the per-lang window is
    * the documented per-shard scale path, embarrassingly parallel).
    * Windows by (lang, split) — not lang alone — so a loader shard never
    * mixes train/val/test docs: the shard is the unit a trainer mounts,
    * and a split-impure shard would leak test docs into training even
    * though each doc's own split column is correct. The split index is
    * folded into the shard id (local*3 + splitIx) so (lang, shard) alone
    * identifies a pure unit — a consumer cannot mix splits even if it
    * ignores the split column. */
  def shardSequences(docs: DataFrame, n: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"), col("split")).orderBy(col("n_tokens").desc, col("doc_id"))
    docs.withColumn("rk", row_number().over(w).cast("long") - 1)
      .withColumn("shard",
        expr(s"CASE WHEN (rk DIV $n) % 2 = 0 THEN rk % $n ELSE ${n - 1} - rk % $n END") * 3
          + splitIx)
      .drop("rk")
  }

  /** 2048-token pack assignment by running budget in doc order, computed
    * WITHIN each (lang, split) partition (a global window would funnel
    * 100 TB through one task; per-shard packing is embarrassingly
    * parallel). The split column joins lang in the partition key so a
    * single 2048-token pack — the loader's training-sequence unit, with
    * epoch order baked in — can never mix train/val/test docs; packing
    * by lang alone would put test-cluster docs inside training packs and
    * undo the leakage-safe split upstream. The split index is folded
    * into the pack id (local*3 + splitIx) so (lang, pack_id) alone names
    * a split-pure pack — purity does not depend on consumers also keying
    * on the split column (CorpusCurationJobSpec asserts it at exactly
    * that grain).
    */
  def packSequences(docs: DataFrame, budget: Int = 2048): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"), col("split")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("n_tokens",
        expr("aggregate(split(norm_text, ' '), 0L, (acc, x) -> acc + CAST(ceil(length(x) / 4.0) AS BIGINT))"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("pack_id",
        floor((col("cum") - col("n_tokens")) / budget) * 3 + splitIx)
      .drop("cum")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val snapshotDate = if (args.length > 2) args(2) else "2024-07-25"
    val spark = graft.Sessions.get(s"corpus-curation-$snapshotDate")

    val raw = normalize(T.documents(spark, sfDir))
    val (kept, quarantined) = {
      val gated = raw.withColumn("passes", qualityGate).cache()
      (gated.where(col("passes")).drop("passes"),
       gated.where(!col("passes")).drop("passes"))
    }
    val exact = dedupExact(kept).cache()
    val comps = nearDupComponents(exact)
    val weights = comps.groupBy(col("rep")).agg(count(lit(1)).as("sample_weight"))
    // survivors = component representatives, carrying the cluster mass
    val unique = exact
      .join(weights.withColumnRenamed("rep", "doc_id"), Seq("doc_id"))
      .withColumn("split", splitOf(col("doc_id")))
    val packed = shardSequences(packSequences(unique))
      .withColumn("shuffle_key", md5(concat(lit("epoch1:"), col("doc_id").cast("string"))))
      .withColumn("snapshot_date", lit(snapshotDate))

    packed
      .sortWithinPartitions(col("shuffle_key")) // epoch-1 training order, baked into the files
      .write.mode("overwrite")
      .partitionBy("lang", "snapshot_date")
      .parquet(s"$outDir/corpus")
    quarantined.withColumn("snapshot_date", lit(snapshotDate))
      .write.mode("overwrite").partitionBy("snapshot_date")
      .parquet(s"$outDir/quarantine")

    val out = spark.read.parquet(s"$outDir/corpus")
    println(s"""{"job":"corpus_curation","date":"$snapshotDate","in":${raw.count()},""" +
            s""""kept":${out.count()},"quarantined":${spark.read.parquet(s"$outDir/quarantine").count()},""" +
            s""""packs":${out.select(col("lang"), col("split"), col("pack_id")).distinct().count()},""" +
            s""""tokens":${out.agg(coalesce(sum(col("n_tokens")), lit(0L))).head.getLong(0)},""" +
            s""""mass":${out.agg(coalesce(sum(col("sample_weight")), lit(0L))).head.getLong(0)}}""")
    spark.stop()
  }
}
