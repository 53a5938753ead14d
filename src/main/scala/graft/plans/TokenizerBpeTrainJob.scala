package graft.plans

import graft.T
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer training as the driver loop the
  * `tokenizer_bpe_pairs` operator's Scaladoc promises: each iteration is
  * exactly that bounded corpus query — count adjacent SYMBOL pairs, pick
  * the most frequent (deterministic (count desc, pair asc) tie-break) —
  * followed by a map-only rewrite of the symbol streams, repeated k
  * times (Sennrich et al., "Neural Machine Translation of Rare Words
  * with Subword Units").
  *
  * Scale shape per iteration: the pair count is a generator fan-out onto
  * a vocab²-bounded key (partial+final agg, corpus never shuffles), the
  * winner is ONE collected row, and the merge applies as a single
  * codegen'd `regexp_replace` projection — so a k-merge training run is
  * k bounded aggregates + k map passes, embarrassingly parallel at any
  * corpus size. The merge itself is BPE's standard greedy left-to-right
  * non-overlapping pass: the pattern consumes the LEADING symbol
  * boundary and looks ahead at the trailing one, so back-to-back
  * occurrences ("a b a b") all merge while overlapping runs ("l l l")
  * merge left-first — byte-identical to the reference algorithm.
  *
  * Determinism: symbol streams derive from content only, the tie-break
  * totals the candidate order, and each rewrite is a pure projection —
  * the same corpus yields the same merge table on any partitioning,
  * engine, or re-run.
  *
  * Usage: TokenizerBpeTrainJob <sfDir> [nMerges]
  */
object TokenizerBpeTrainJob {

  /** token → space-joined character symbols (" l o w"-style, the BPE
    * starting state); empty tokens from repeated spaces are dropped. */
  def symbolize(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("tok"))
      .where(length(col("tok")) > 0)
      .select(array_join(split(col("tok"), ""), " ").as("sym"))

  /** Most frequent adjacent symbol pair, or None when no pair remains
    * (every token fully merged). One bounded aggregate + one collect. */
  def topPair(sym: DataFrame): Option[(String, String, Long)] = {
    val pairs = sym.select(split(col("sym"), " ").as("a"))
      .where(size(col("a")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(a) - 2), i -> struct(a[i] AS s1, a[i + 1] AS s2))")).as("p"))
      .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("s1").asc, col("s2").asc)
      .limit(1)
      .collect()
    pairs.headOption.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
  }

  /** Greedy left-to-right merge of one (s1, s2) pair across every symbol
    * stream: pad with sentinel spaces, consume the leading boundary,
    * LOOK AHEAD at the trailing one (consuming it would skip the next
    * back-to-back occurrence), unpad. Pattern and replacement are
    * regex-quoted — merged symbols can contain any corpus byte. */
  def applyMerge(sym: DataFrame, s1: String, s2: String): DataFrame = {
    val pat = java.util.regex.Pattern.quote(s" $s1 $s2") + "(?=[ ])"
    val rep = java.util.regex.Matcher.quoteReplacement(s" $s1$s2")
    sym.select(expr("concat(' ', sym, ' ')").as("p"))
      .select(regexp_replace(col("p"), pat, rep).as("p"))
      .select(expr("substring(p, 2, length(p) - 2)").as("sym"))
  }

  /** Run k merge iterations; returns the merge table (pair + its count
    * at selection time) and the final symbol streams. Stops early when
    * no pair remains. */
  def train(docs: DataFrame, nMerges: Int): (Seq[(String, String, Long)], DataFrame) = {
    var sym = symbolize(docs).localCheckpoint() // k rewrites: truncate lineage up front
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var it = 0
    var done = false
    while (it < nMerges && !done) {
      topPair(sym) match {
        case Some((s1, s2, cnt)) =>
          merges += ((s1, s2, cnt))
          sym = applyMerge(sym, s1, s2).localCheckpoint()
        case None => done = true
      }
      it += 1
    }
    (merges.toSeq, sym)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val nMerges = if (args.length > 1) args(1).toInt else 10
    val spark = graft.Sessions.get(s"bpe-train-$nMerges")
    val (merges, sym) = train(T.documents(spark, sfDir), nMerges)
    val vocab = sym.select(explode(split(col("sym"), " ")).as("s")).distinct().count()
    val mj = merges.map { case (a, b, c) => s"""["$a","$b",$c]""" }.mkString("[", ",", "]")
    println(s"""{"job":"bpe_train","merges":$mj,"n_merges":${merges.size},"vocab":$vocab}""")
    spark.stop()
  }
}
