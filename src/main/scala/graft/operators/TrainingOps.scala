package graft.operators

import graft.{Gate, GlobalRank, Q, T}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-corpus preparation operators beyond §2.K's dedup/similarity
  * rows: text canonicalization, deterministic stratified sampling, and
  * URL handling — the remaining plumbing of a C4/Gopher-style cleaning
  * pipeline, each a pure per-row projection (no shuffle until the sink)
  * so it scales linearly with input splits.
  */
object TrainingOps {

  /** The `text_mtld` DuckDB oracle: the same scalar-state factor walk
    * as the Spark fold, as two lockstep recursive CTEs (forward /
    * backward) over the prev-occurrence item tables. The completion
    * test and the readout rational are generated from one template so
    * the two engines' spellings cannot drift. */
  private[operators] def mtldOracleSql: String = {
    // completion test on state s and item it: 25·t' < 18·tokens
    def done(s: String, it: String) =
      s"25 * ($s.t + CASE WHEN $it.v < $s.start THEN 1 ELSE 0 END) < 18 * ($it.p - $s.start + 1)"
    def rec(name: String, items: String) =
      s"""$name(doc_id, i, start, t, f) AS (
         |  SELECT doc_id, CAST(-1 AS BIGINT), CAST(0 AS BIGINT),
         |         CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM nn
         |  UNION ALL
         |  SELECT s.doc_id, s.i + 1,
         |         CASE WHEN ${done("s", "it")} THEN it.p + 1 ELSE s.start END,
         |         CASE WHEN ${done("s", "it")} THEN 0
         |              ELSE s.t + CASE WHEN it.v < s.start THEN 1 ELSE 0 END END,
         |         s.f + CASE WHEN ${done("s", "it")} THEN 1 ELSE 0 END
         |  FROM $name s JOIN $items it ON it.doc_id = s.doc_id AND it.p = s.i + 1)""".stripMargin
    def readout(a: String) =
      s"""CASE WHEN n - $a.start = 0
         |     THEN CAST(((2 * (1000000 * n) + $a.f) // (2 * $a.f)) AS DOUBLE) / 1000000
         |     WHEN 7 * (n - $a.start) * $a.f + 25 * ((n - $a.start) - $a.t) = 0
         |     THEN CAST(NULL AS DOUBLE)
         |     ELSE CAST(((2 * (1000000 * n * 7 * (n - $a.start))
         |                 + (7 * (n - $a.start) * $a.f + 25 * ((n - $a.start) - $a.t)))
         |                // (2 * (7 * (n - $a.start) * $a.f + 25 * ((n - $a.start) - $a.t))))
         |               AS DOUBLE) / 1000000 END""".stripMargin
    s"""WITH RECURSIVE base AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
       |         generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
       |  FROM documents WHERE text IS NOT NULL),
       |occ AS (
       |  SELECT doc_id, pos,
       |         coalesce(lag(pos) OVER (PARTITION BY doc_id, tok ORDER BY pos), -1) AS prv,
       |         lead(pos) OVER (PARTITION BY doc_id, tok ORDER BY pos) AS nxt
       |  FROM base),
       |nn AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM occ GROUP BY 1),
       |fitems AS (SELECT doc_id, CAST(pos AS BIGINT) AS p, CAST(prv AS BIGINT) AS v FROM occ),
       |bitems AS (SELECT o.doc_id, CAST(nn.n - 1 - o.pos AS BIGINT) AS p,
       |                  CAST(CASE WHEN o.nxt IS NULL THEN -1
       |                            ELSE nn.n - 1 - o.nxt END AS BIGINT) AS v
       |           FROM occ o JOIN nn ON nn.doc_id = o.doc_id),
       |${rec("fst", "fitems")},
       |${rec("bst", "bitems")},
       |ff AS (SELECT f.doc_id, f.start, f.t, f.f
       |       FROM fst f JOIN nn ON nn.doc_id = f.doc_id WHERE f.i = nn.n - 1),
       |bf AS (SELECT b.doc_id, b.start, b.t, b.f
       |       FROM bst b JOIN nn ON nn.doc_id = b.doc_id WHERE b.i = nn.n - 1)
       |SELECT nn.doc_id AS doc_id, nn.n AS n_tokens,
       |       ${readout("ff")} AS mtld_fwd,
       |       ${readout("bf")} AS mtld_bwd
       |FROM nn JOIN ff ON ff.doc_id = nn.doc_id JOIN bf ON bf.doc_id = nn.doc_id
       |ORDER BY doc_id""".stripMargin
  }

  /** Polynomial rolling hash of a string column, mod 1e9+7 (the same
    * cross-engine-exact construction as `text_fingerprint`: the fold
    * stays in 63-bit range — Spark wraps silently on overflow, DuckDB
    * errors, staying small keeps both exact).
    */
  private def fpSql(c: String): String = {
    // NULL text hashes as the empty string (0) in BOTH engines — without
    // the coalesce, DuckDB's list fold degenerates to 0 while Spark's
    // RollingHash is null-propagating, and every fp-keyed sampler
    // diverges the moment the corpus carries a null payload (degraded
    // -fixture lane, r19)
    val col = s"coalesce($c, '')"
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  list_transform(range(1, length($col) + 1), i -> CAST(ascii(substring($col, i, 1)) AS BIGINT))),
       |  (acc, c) -> (acc * 131 + c) % 1000000007)""".stripMargin
  }

  // codegen'd fused loop (graft.functions.RollingHash) — the equivalent
  // aggregate/transform lambda fold runs interpreted (measured ~25×);
  // RollingHashSpec pins both formulations equal over the real corpus
  private def fpSpark(c: String): org.apache.spark.sql.Column =
    graft.functions.RollingHash(coalesce(col(c), lit("")))

  /** Bit-deterministic ln over a probability-valued double t ∈ (0, 1] —
    * the same shared-template discipline as `osm_project_mercator`'s
    * range-reduced ln (OsmKernels.mercLn), extended downward: a CASE
    * ladder over the exact binary boundaries 0.75·2⁻ʲ picks k so that
    * m = t·2ᵏ ∈ [0.75, 1.5) (both the boundary literals and the 2ᵏ scale
    * factors are exact doubles, so the branch choice and the scaling are
    * identical on identical inputs in both engines), then
    * ln t = 2·atanh(z) − k·ln2 with z = (m−1)/(m+1) ∈ [−1/7, 1/5) and a
    * 5-term odd series (truncation ≤ z¹¹/11 ≈ 1.9e-9). Rendered ONCE and
    * spliced verbatim into the Spark expr and the DuckDB SQL, so every
    * IEEE intermediate agrees bit-for-bit. Covers t ≥ 0.75·2⁻³² ≈ 1.7e-10
    * (a single unigram occurring > 5×10⁹ times); below that the deepest
    * branch loses the m-range invariant — accuracy degrades gracefully
    * but cross-engine equality still holds (same template both sides).
    */
  private[operators] def lnProbTpl(t: String): String = {
    val ks = (0 to 31).map { j =>
      val bound = 0.75 / math.pow(2, j) // exact: 3·2^(−2−j)
      (s"$t >= $bound", s"-$j.0", s"${math.pow(2, j)}")
    }
    val kk = ks.init.map { case (c, k, _) => s"WHEN $c THEN $k" }
      .mkString("CASE ", " ", " ELSE -32.0 END")
    val sc = ks.init.map { case (c, _, s) => s"WHEN $c THEN $s" }
      .mkString("CASE ", " ", s" ELSE ${math.pow(2, 32)} END")
    val m = s"(($t) * ($sc))"
    val z = s"(($m - 1.0) / ($m + 1.0))"
    s"(2.0 * ($z * (1.0 + ($z * $z) * (0.3333333333333333 + ($z * $z) * (0.2 + " +
      s"($z * $z) * (0.14285714285714285 + ($z * $z) * 0.1111111111111111))))) + " +
      s"($kk) * 0.6931471805599453)"
  }

  /** doc_id → one row per bigram POSITION (multiplicity kept): h1 =
    * xxhash64 of the first token, h2 = xxhash64 of the space-joined
    * bigram — tokens cannot contain the separator, so h2 uniquely keys
    * the (w1, w2) PAIR. Both streams come from the fused byte-scan
    * hasher (functions.HashedWordGramsSeq) and stay aligned by
    * position: bigram i starts at token i. Docs under 2 tokens emit no
    * bigram (empty array → explode drops), mirroring the oracles'
    * `len(w) >= 2`. The bigram-LM keys group and join ONLY on these
    * hashes — outputs are per-doc counts and count ratios, so they are
    * hash-invariant up to the standard 2^-64 per-pair collision. */
  private def hashedBigramStream(s: org.apache.spark.sql.SparkSession,
                                 d: String): org.apache.spark.sql.DataFrame =
    T.documents(s, d)
      .select(col("doc_id"),
        explode(graft.functions.HashedBigramPairs(col("text"))).as("bg"))
      .select(col("doc_id"), col("bg.h1").as("h1"), col("bg.h2").as("h2"))

  val all: Seq[Q] = Seq(
    Q(
      "text_normalize",
      """SELECT doc_id,
        |       trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |                           ' +', ' ', 'g')) AS norm_text,
        |       length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |                                  ' +', ' ', 'g')))
        |         - length(replace(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |                                              ' +', ' ', 'g')), ' ', '')) + 1 AS n_norm_tokens
        |FROM documents
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      // C4-style canonicalization: casefold, strip non-alnum, collapse
      // whitespace. The normalized text is what exact/fuzzy dedup keys on —
      // run it once, reuse everywhere downstream.
      val norm = trim(regexp_replace(regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
      T.documents(s, d)
        .withColumn("norm_text", norm)
        .select(col("doc_id"), col("norm_text"),
          (length(col("norm_text")) - length(regexp_replace(col("norm_text"), " ", "")) + 1)
            .as("n_norm_tokens"))
        .orderBy(col("doc_id"))
    },

    Q(
      "sample_stratified",
      s"""SELECT doc_id, lang, ${fpSql("text")} % 100 AS bucket
         |FROM documents
         |WHERE ${fpSql("text")} % 100 <
         |      CASE WHEN lang = 'en' THEN 20 ELSE 50 END
         |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      // Deterministic stratified sampling: a content-hash bucket in [0,100)
      // with a per-stratum keep-rate (downsample the over-represented
      // language, keep more of the rest). Content-hash (not rand()) makes
      // the sample reproducible across runs, partitionings, and engines —
      // the property a 100 TB corpus rebuild needs. Pure projection+filter,
      // pushed to the scan.
      T.documents(s, d)
        .withColumn("bucket", fpSpark("text") % 100)
        .where(col("bucket") < when(col("lang") === "en", 20).otherwise(50))
        .select(col("doc_id"), col("lang"), col("bucket"))
        .orderBy(col("doc_id"))
    },

    Q(
      "sample_fixed_k",
      """WITH r AS (
        |  SELECT doc_id, lang,
        |         CAST(row_number() OVER (PARTITION BY lang
        |              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
        |  FROM documents)
        |SELECT doc_id, lang, rk FROM r WHERE rk <= 20
        |ORDER BY lang NULLS FIRST, doc_id""".stripMargin
    ) { (s, d) =>
      // Exact-k-per-stratum sample (the reservoir-sampling contract, made
      // reproducible): rank each stratum by a content-independent keyed
      // hash (md5 of the id — uniform over insertion order, identical in
      // both engines) and keep the first k. Unlike `sample_stratified`'s
      // keep-RATE, this guarantees an exact stratum SIZE — what a
      // balanced eval-set draw needs. rand() would re-sample on every
      // retry/repartition; the hash ranking never does. The rk <= 20
      // filter makes Catalyst plan a WindowGroupLimit BELOW the lang
      // exchange (per-partition partial top-k map-side, PlanSpec pins
      // it), so each input split ships at most k rows per stratum —
      // O(k·strata)/partition at 100 TB, never a full stratum sort.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      T.documents(s, d)
        .select(col("doc_id"), col("lang"),
                row_number().over(w).cast("long").as("rk"))
        .where(col("rk") <= 20)
        .orderBy(col("lang"), col("doc_id"))
    },

    Q(
      "data_expectations",
      """WITH a AS (
        |  SELECT count(*) AS n,
        |         sum(CASE WHEN NOT (l_quantity BETWEEN 1 AND 50) THEN 1 ELSE 0 END) AS v1,
        |         sum(CASE WHEN NOT (l_extendedprice > 0) THEN 1 ELSE 0 END) AS v2,
        |         sum(CASE WHEN NOT (l_returnflag IN ('A', 'N', 'R')) THEN 1 ELSE 0 END) AS v3,
        |         sum(CASE WHEN NOT (l_discount <= 0.05) THEN 1 ELSE 0 END) AS v4,
        |         sum(CASE WHEN NOT (l_shipdate IS NOT NULL) THEN 1 ELSE 0 END) AS v5
        |  FROM lineitem),
        |r AS (
        |  SELECT 'discount_le_5pct' AS rule_name, n, v4 AS n_violations, CAST(500000 AS BIGINT) AS tol_ppm FROM a
        |  UNION ALL SELECT 'flag_in_domain', n, v3, 0 FROM a
        |  UNION ALL SELECT 'price_positive', n, v2, 0 FROM a
        |  UNION ALL SELECT 'qty_in_range', n, v1, 0 FROM a
        |  UNION ALL SELECT 'shipdate_present', n, v5, 0 FROM a)
        |SELECT rule_name, CAST(n AS BIGINT) AS n_rows,
        |       CAST(n_violations AS BIGINT) AS n_violations,
        |       (1000000 * CAST(n_violations AS BIGINT)) // n AS viol_ppm,
        |       (1000000 * CAST(n_violations AS BIGINT)) // n <= tol_ppm AS passed
        |FROM r ORDER BY rule_name""".stripMargin
    ) { (s, d) =>
      // Declarative DATA EXPECTATIONS — the Deequ/dbt-test/Great-
      // Expectations gate a lake load runs before publishing, as an
      // ENGINE operator: rules are CONFIGURATION (name, SQL predicate,
      // tolerance ppm — the osm_layer_extract stance: styles compile to
      // Catalyst, they are not code), and ALL of them evaluate in ONE
      // fact scan — each rule is a codegen'd sum(CASE WHEN NOT pred)
      // inside a single partial+final HashAggregate, so checking 5 or
      // 500 rules costs one pass regardless (Deequ's own design
      // argument). The readout unpivots via stack() to one row per rule
      // with exact-integer violation ppm and a pass flag against the
      // rule's tolerance — discount_le_5pct deliberately FAILS on this
      // corpus (~50% violations) so both arms are exercised; the other
      // four pass at zero. At 100 TB this is the same one scan the
      // profile key costs; nothing shuffles but the 1-row aggregate.
      val rules = Seq(
        // (name, predicate the row must satisfy, tolerance ppm)
        ("qty_in_range", "l_quantity BETWEEN 1 AND 50", 0L),
        ("price_positive", "l_extendedprice > 0", 0L),
        ("flag_in_domain", "l_returnflag IN ('A', 'N', 'R')", 0L),
        ("discount_le_5pct", "l_discount <= 0.05", 500000L),
        ("shipdate_present", "l_shipdate IS NOT NULL", 0L))
      val aggs = rules.zipWithIndex.map { case ((_, pred, _), i) =>
        sum(when(!expr(pred), 1L).otherwise(0L)).as(s"v$i")
      }
      val counted = T.lineitem(s, d)
        .agg(count(lit(1)).as("n"), aggs: _*)
      val stackArgs = rules.zipWithIndex.map { case ((name, _, tol), i) =>
        s"'$name', v$i, CAST($tol AS BIGINT)"
      }.mkString(", ")
      counted.selectExpr("n",
          s"stack(${rules.size}, $stackArgs) AS (rule_name, n_violations, tol_ppm)")
        .select(col("rule_name"), col("n").as("n_rows"), col("n_violations"),
                expr("(1000000 * n_violations) DIV n").as("viol_ppm"),
                expr("(1000000 * n_violations) DIV n <= tol_ppm").as("passed"))
        .orderBy(col("rule_name"))
    },

    Q(
      "data_profile_columns",
      """WITH a AS (
        |  SELECT count(*) AS n_rows,
        |         count(o_orderstatus) AS nn1, count(DISTINCT o_orderstatus) AS nd1,
        |         CAST(min(o_orderstatus) AS VARCHAR) AS mn1, CAST(max(o_orderstatus) AS VARCHAR) AS mx1,
        |         count(o_orderpriority) AS nn2, count(DISTINCT o_orderpriority) AS nd2,
        |         CAST(min(o_orderpriority) AS VARCHAR) AS mn2, CAST(max(o_orderpriority) AS VARCHAR) AS mx2,
        |         count(o_custkey) AS nn3, count(DISTINCT o_custkey) AS nd3,
        |         CAST(min(o_custkey) AS VARCHAR) AS mn3, CAST(max(o_custkey) AS VARCHAR) AS mx3,
        |         count(o_totalprice) AS nn4, count(DISTINCT CAST(o_totalprice AS DECIMAL(18,2))) AS nd4,
        |         CAST(CAST(min(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR) AS mn4,
        |         CAST(CAST(max(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR) AS mx4
        |  FROM orders)
        |SELECT 'o_orderstatus' AS column_name, n_rows, nn1 AS n_nonnull, nd1 AS n_distinct, mn1 AS min_val, mx1 AS max_val FROM a
        |UNION ALL SELECT 'o_orderpriority', n_rows, nn2, nd2, mn2, mx2 FROM a
        |UNION ALL SELECT 'o_custkey', n_rows, nn3, nd3, mn3, mx3 FROM a
        |UNION ALL SELECT 'o_totalprice', n_rows, nn4, nd4, mn4, mx4 FROM a
        |ORDER BY column_name""".stripMargin
    ) { (s, d) =>
      // Per-column data PROFILE — the dbt-test / Deequ-style table
      // health report (completeness, cardinality, bounds) every lake
      // load gates on before publishing: one row per profiled column
      // with row count, non-null count, distinct count, and min/max as
      // canonical strings. TWO purpose-split aggregates (cross-joined
      // 1-row × 1-row): the count/distinct half carries only LONG
      // buffers, so the multi-DISTINCT rides RewriteDistinctAggregates'
      // single tagged Expand as a HASH aggregate; the min/max half has
      // string buffers (which force Spark's sort-based aggregate) but
      // NO distinct grouping keys, so it folds with zero Sort nodes.
      // Folding both into one agg looks cheaper but is strictly worse:
      // any string-buffered function demotes the WHOLE aggregate to
      // SortAggregate, which then SORTS the 5×-expanded distinct rows —
      // measured 2.2 s → 1.2 s at sf0.1 from the split alone, and at
      // 100 TB the avoided cost is a full expanded-table sort
      // (Round16OpsSpec pins the no-expanded-sort plan).
      // Doubles canonicalize through DECIMAL(18,2) before the string
      // cast so both engines print identical bounds.
      val counts = T.orders(s, d).agg(
        count(lit(1)).as("n_rows"),
        count(col("o_orderstatus")).as("nn1"),
        countDistinct(col("o_orderstatus")).as("nd1"),
        count(col("o_orderpriority")).as("nn2"),
        countDistinct(col("o_orderpriority")).as("nd2"),
        count(col("o_custkey")).as("nn3"),
        countDistinct(col("o_custkey")).as("nd3"),
        count(col("o_totalprice")).as("nn4"),
        countDistinct(col("o_totalprice").cast("decimal(18,2)")).as("nd4"))
      val bounds = T.orders(s, d).agg(
        min(col("o_orderstatus")).cast("string").as("mn1"),
        max(col("o_orderstatus")).cast("string").as("mx1"),
        min(col("o_orderpriority")).cast("string").as("mn2"),
        max(col("o_orderpriority")).cast("string").as("mx2"),
        min(col("o_custkey")).cast("string").as("mn3"),
        max(col("o_custkey")).cast("string").as("mx3"),
        min(col("o_totalprice")).cast("decimal(18,2)").cast("string").as("mn4"),
        max(col("o_totalprice")).cast("decimal(18,2)").cast("string").as("mx4"))
      counts.crossJoin(bounds).selectExpr(
          """stack(4,
            |  'o_orderstatus',   n_rows, nn1, nd1, mn1, mx1,
            |  'o_orderpriority', n_rows, nn2, nd2, mn2, mx2,
            |  'o_custkey',       n_rows, nn3, nd3, mn3, mx3,
            |  'o_totalprice',    n_rows, nn4, nd4, mn4, mx4)
            |AS (column_name, n_rows, n_nonnull, n_distinct, min_val, max_val)""".stripMargin)
        .orderBy(col("column_name"))
    },

    Q(
      "sample_class_balance",
      """WITH r AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |         CAST(row_number() OVER (PARTITION BY label
        |              ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS BIGINT) AS rk
        |  FROM embeddings),
        |m AS (
        |  SELECT CAST(min(cnt) AS BIGINT) AS m FROM (
        |    SELECT count(*) AS cnt FROM embeddings GROUP BY label))
        |SELECT label, rk, vec_id
        |FROM r, m WHERE rk <= m.m
        |ORDER BY label NULLS FIRST, rk""".stripMargin
    ) { (s, d) =>
      // Class-BALANCED downsample — sample_fixed_k's sibling where k is
      // not a constant but the MINORITY class size: every label keeps
      // exactly min-class-count rows, the standard majority-class
      // downsampling step before training a classifier on skewed labels
      // (keep-rate sampling can't guarantee equal classes; this does, by
      // construction). Selection is the same content-independent md5-of-
      // id ranking as sample_fixed_k — reproducible under retry and
      // repartitioning where rand() is not. The minority size arrives
      // as a ONE-ROW broadcast (count per label → global min), so the
      // threshold join costs nothing. Ranking runs on the NARROW id
      // table (two longs + a hash per row — at 100 TB you rank ids and
      // semi-join payloads back, never sort payload rows); class count
      // is bounded, so per-label rank state is one counter per class.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("label"))
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      val r = T.embeddings(s, d)
        .select(col("vec_id"), col("label").cast("long").as("label"))
        .withColumn("rk", row_number().over(w).cast("long"))
      val m = T.embeddings(s, d)
        .groupBy(col("label")).agg(count(lit(1)).as("cnt"))
        .agg(min(col("cnt")).as("m"))
      r.crossJoin(m)
        .where(col("rk") <= col("m"))
        .select(col("label"), col("rk"), col("vec_id"))
        .orderBy(col("label"), col("rk"))
    },

    Q(
      "text_rarity",
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |freq AS (
        |  SELECT t, count(*) AS f FROM tok GROUP BY t)
        |SELECT doc_id,
        |       CAST(count(*) AS BIGINT) AS n_tok,
        |       CAST(CAST(sum(f) AS BIGINT) AS DOUBLE) / count(*) AS mean_tok_freq
        |FROM tok JOIN freq USING (t)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      // Frequency-dictionary scoring — the cheap stand-in for LM-perplexity
      // quality filters: docs whose tokens are uniformly corpus-frequent
      // are boilerplate; rare-token-heavy docs are noise or treasure. The
      // pattern is the point at scale: pass 1 builds the corpus dictionary
      // (one narrow groupBy — O(vocab) result), pass 2 joins it back to
      // the token stream. The planner broadcasts the dictionary while
      // the vocab fits the threshold — the fact side never shuffles —
      // and takes a shuffle join when raw-web token-type counts blow
      // past it. Scores stay in exact integer sums until one
      // final double division.
      val tok = T.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      val freq = tok.groupBy(col("t")).agg(count(lit(1)).as("f"))
      tok.join(freq, "t")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"),
             (sum(col("f")).cast("double") / count(lit(1))).as("mean_tok_freq"))
        .orderBy(col("doc_id"))
    },

    Q(
      "text_bigram_lm",
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |b AS (
        |  SELECT doc_id, w[i] AS w1, w[i+1] AS w2
        |  FROM w, unnest(range(1, len(w))) AS t(i)),
        |cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM b GROUP BY 1, 2),
        |cu AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM cb GROUP BY 1)
        |SELECT doc_id,
        |       CAST(count(*) AS BIGINT) AS n_bigrams,
        |       CAST(CAST(sum((1000000 * cb.c12) // cu.c1) AS BIGINT) // count(*) AS BIGINT) AS score_ppm
        |FROM b JOIN cb USING (w1, w2) JOIN cu USING (w1)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      // In-corpus bigram language-model score — the next rung up from
      // `text_rarity` on the perplexity-filter ladder (CCNet/Gopher-style
      // quality gates rank docs by LM fit; an in-corpus bigram MLE is the
      // engine-native proxy): score = mean over the doc's bigram STREAM
      // (multiset, not set — repeats weigh) of P(w2|w1) in ppm, where
      // P = c(w1,w2)/c(w1,·) over the whole corpus. Predictable running
      // text scores high; token salad scores low. Same two-pass shape as
      // text_rarity at scale: pass 1 collapses the corpus to the bigram
      // count table (one narrow groupBy, O(vocab²)-bounded but
      // corpus-proportional in the limit → both model joins are
      // size-GATED broadcasts degrading to shuffle); the unigram table
      // aggregates the ALREADY-COLLAPSED bigram table (tfidf's df trick
      // — never a second pass over the corpus). Probabilities are exact
      // integer ppm ((10⁶·c12) DIV c1) and the doc mean is integer DIV —
      // no float anywhere, bit-identical cross-engine.
      val b = hashedBigramStream(s, d)
      val cb = b.groupBy(col("h1"), col("h2")).agg(count(lit(1)).as("c12"))
      val cu = cb.groupBy(col("h1")).agg(sum(col("c12")).as("c1"))
      b.join(graft.Gate.bcast(cb), Seq("h1", "h2"))
        .join(graft.Gate.bcast(cu), Seq("h1"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
             expr("sum((1000000 * c12) DIV c1) DIV count(1)").cast("long").as("score_ppm"))
        .orderBy(col("doc_id"))
    },

    Q(
      "text_perplexity",
      s"""WITH w AS (
         |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
         |  WHERE len(string_split(text, ' ')) >= 2),
         |b AS (
         |  SELECT doc_id, w[i] AS w1, w[i+1] AS w2
         |  FROM w, unnest(range(1, len(w))) AS t(i)),
         |cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM b GROUP BY 1, 2),
         |cu AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM cb GROUP BY 1),
         |lm AS (
         |  SELECT doc_id,
         |         CAST(round(${lnProbTpl("(CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE))")} * 1000.0) AS BIGINT) AS l
         |  FROM b JOIN cb USING (w1, w2) JOIN cu USING (w1))
         |SELECT doc_id,
         |       CAST(count(*) AS BIGINT) AS n_bigrams,
         |       CAST((-sum(l)) // count(*) AS BIGINT) AS nll_millinats
         |FROM lm GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      // TRUE (geometric-mean) bigram perplexity — the CCNet-style
      // log-space quality score that `text_bigram_lm`'s arithmetic-mean
      // ppm proxy deliberately avoided (mean of p overweights one lucky
      // bigram; mean of −ln p is the LM-filtering standard). The float
      // hazard is Σ ln p: double summation order differs across engines
      // and partitionings, so each bigram's ln P(w2|w1) is computed by
      // the SHARED bit-deterministic template [[lnProbTpl]] (range-
      // reduced atanh, same discipline as the Mercator ln) and rounded
      // to integer MILLINATS per bigram — magnitude ≤ ~2×10⁴, where ULP
      // ≈ 2e-12 makes a cross-engine round() flip a ≤1e-11/row event
      // (the r13 geodesic lesson: never round a double ≥1e9; this is 5
      // orders inside the safe zone). The doc score is then an exact
      // BIGINT mean: sum and DIV on non-negative operands, where Spark's
      // truncating DIV and DuckDB's flooring // agree. Scale shape is
      // text_bigram_lm's verbatim: corpus collapses once to the bigram
      // model (vocab²-bounded, size-GATED broadcasts degrading to
      // co-partitioned shuffle joins), the unigram table aggregates the
      // collapsed bigram table, scoring is map-side arithmetic.
      val b = hashedBigramStream(s, d)
      val cb = b.groupBy(col("h1"), col("h2")).agg(count(lit(1)).as("c12"))
      val cu = cb.groupBy(col("h1")).agg(sum(col("c12")).as("c1"))
      b.join(graft.Gate.bcast(cb), Seq("h1", "h2"))
        .join(graft.Gate.bcast(cu), Seq("h1"))
        .select(col("doc_id"),
          expr(s"CAST(round(${lnProbTpl("(CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE))")} * 1000.0) AS BIGINT)")
            .as("l"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
             expr("(-sum(l)) DIV count(1)").cast("long").as("nll_millinats"))
        .orderBy(col("doc_id"))
    },

    Q(
      "text_perplexity_interp",
      s"""WITH w AS (
         |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
         |  WHERE len(string_split(text, ' ')) >= 2),
         |tok AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
         |cw AS (SELECT t, CAST(count(*) AS BIGINT) AS cw FROM tok GROUP BY t),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok),
         |b AS (
         |  SELECT doc_id, w[i] AS w1, w[i+1] AS w2
         |  FROM w, unnest(range(1, len(w))) AS t(i)),
         |cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM b GROUP BY 1, 2),
         |cu AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM cb GROUP BY 1),
         |lm AS (
         |  SELECT doc_id,
         |         CAST(round(${lnProbTpl("(0.75 * (CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE)) + 0.25 * (CAST(cw AS DOUBLE) / CAST(n AS DOUBLE)))")} * 1000.0) AS BIGINT) AS l
         |  FROM b JOIN cb USING (w1, w2) JOIN cu USING (w1)
         |         JOIN cw ON cw.t = b.w2, nn)
         |SELECT doc_id,
         |       CAST(count(*) AS BIGINT) AS n_bigrams,
         |       CAST((-sum(l)) // count(*) AS BIGINT) AS nll_millinats
         |FROM lm GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      // INTERPOLATED (Jelinek–Mercer) bigram perplexity — the smoothing
      // `text_perplexity`'s raw MLE deliberately lacks: p(w₂|w₁) =
      // λ·c₁₂/c₁ + (1−λ)·c(w₂)/N with λ = 3/4 (dyadic, exact in
      // binary), the standard fix for the MLE's zero-probability cliff
      // on unseen continuations and the form every CCNet-class LM
      // filter actually deploys. Same float discipline: the mixed
      // probability is one shared IEEE expression text, its ln rides
      // [[lnProbTpl]], and each position rounds to integer millinats
      // BEFORE the per-doc sum. The w₂ unigram hash the pair stream
      // lacks comes from an IN-ROW ZIP of the two existing fused
      // expressions (unigram-hash sequence × bigram-pair array via
      // transform/element_at — struct assembly only, no hashing in the
      // lambda, no self-join of the token stream). Scale shape: corpus
      // collapses to the vocab²-bounded bigram and vocab-bounded
      // unigram models once, all size-gate-broadcast back; scoring is
      // map-side arithmetic plus one 1-row N cross-join.
      import graft.functions.{HashedBigramPairs, HashedWordGramsSeq}
      val staged = T.documents(s, d)
        .select(col("doc_id"),
                HashedWordGramsSeq(col("text"), 1).as("u"),
                HashedBigramPairs(col("text")).as("bp"))
      val uni = staged.select(explode(col("u")).as("h"))
      val cw = uni.groupBy(col("h")).agg(count(lit(1)).as("cw"))
      val nn = uni.agg(count(lit(1)).as("n"))
      val b = staged.where(size(col("bp")) > 0)
        .select(col("doc_id"), explode(expr(
          """transform(sequence(1, size(bp)), i ->
            |  struct(element_at(bp, i).h1 AS h1,
            |         element_at(u, i + 1) AS h2tok,
            |         element_at(bp, i).h2 AS hp))""".stripMargin)).as("t"))
        .select(col("doc_id"), col("t.h1").as("h1"),
                col("t.h2tok").as("h2tok"), col("t.hp").as("hp"))
      val cb = b.groupBy(col("hp")).agg(count(lit(1)).as("c12"))
      val cu = b.groupBy(col("h1")).agg(count(lit(1)).as("c1"))
      b.join(graft.Gate.bcast(cb), Seq("hp"))
        .join(graft.Gate.bcast(cu), Seq("h1"))
        .join(graft.Gate.bcast(cw.withColumnRenamed("h", "h2tok")), Seq("h2tok"))
        .crossJoin(nn)
        .select(col("doc_id"),
          expr(s"CAST(round(${lnProbTpl("(0.75 * (CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE)) + 0.25 * (CAST(cw AS DOUBLE) / CAST(n AS DOUBLE)))")} * 1000.0) AS BIGINT)")
            .as("l"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
             expr("(-sum(l)) DIV count(1)").cast("long").as("nll_millinats"))
        .orderBy(col("doc_id"))
    },

    Q(
      "text_perplexity_kn",
      s"""WITH w AS (
         |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
         |  WHERE len(string_split(text, ' ')) >= 2),
         |b AS (
         |  SELECT doc_id, w[i] AS w1, w[i+1] AS w2
         |  FROM w, unnest(range(1, len(w))) AS t(i)),
         |cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM b GROUP BY 1, 2),
         |cu AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM cb GROUP BY 1),
         |n1f AS (SELECT w1, CAST(count(*) AS BIGINT) AS n1f FROM cb GROUP BY 1),
         |n1b AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1b FROM cb GROUP BY 1),
         |tt AS (SELECT CAST(count(*) AS BIGINT) AS tt FROM cb),
         |lm AS (
         |  SELECT doc_id,
         |         CAST(round(${lnProbTpl("((CAST(c12 AS DOUBLE) - 0.75) / CAST(c1 AS DOUBLE) + (0.75 * CAST(n1f AS DOUBLE) / CAST(c1 AS DOUBLE)) * (CAST(n1b AS DOUBLE) / CAST(tt AS DOUBLE)))")} * 1000.0) AS BIGINT) AS l
         |  FROM b JOIN cb USING (w1, w2) JOIN cu USING (w1)
         |         JOIN n1f USING (w1) JOIN n1b USING (w2), tt)
         |SELECT doc_id,
         |       CAST(count(*) AS BIGINT) AS n_bigrams,
         |       CAST((-sum(l)) // count(*) AS BIGINT) AS nll_millinats
         |FROM lm GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      // KNESER-NEY bigram perplexity — the published-best n-gram
      // smoother (Kneser & Ney 1995; Chen & Goodman 1999's empirical
      // winner), completing the ladder above raw MLE (text_perplexity)
      // and Jelinek-Mercer (text_perplexity_interp): absolute
      // discounting with a CONTINUATION-count backoff, P(w2|w1) =
      // (c12 - D)/c1 + D*N1+(w1,.)/c1 * N1+(.,w2)/T with D = 3/4
      // (dyadic, exact in binary) - the insight being that "Francisco"
      // follows only "San", so its unigram backoff must count CONTEXTS,
      // not tokens. Only seen bigrams score (the same convention the
      // ladder's other rungs pin), so c12 >= 1 > D and the max(.,0)
      // clamp is algebraically dead; every P lands in (0,1] -
      // lnProbTpl's domain - and positions round to integer millinats
      // BEFORE the per-doc sum. Scale: the corpus collapses ONCE to the
      // vocab^2-bounded bigram model; the three smoothing statistics
      // (c1, N1+ forward, N1+ backward) are aggregates OF THE MODEL,
      // not the corpus, all broadcast back while they fit; T is a 1-row
      // cross-join. Scoring stays map-side.
      import graft.functions.{HashedBigramPairs, HashedWordGramsSeq}
      val staged = T.documents(s, d)
        .select(col("doc_id"),
                HashedWordGramsSeq(col("text"), 1).as("u"),
                HashedBigramPairs(col("text")).as("bp"))
      // r19 A/B (negative result): persisting this exploded position
      // stream (and the per-doc arrays in text_perplexity_interp)
      // measured a wash solo at sf0.1 (kn min 1.279 → 1.274) — the model
      // and probe copies of the subtree share one plan, ReuseExchange +
      // concurrent stages absorb the recompute, and the persist only
      // adds a cache-fill barrier. The recompute shape stands.
      val b = staged.where(size(col("bp")) > 0)
        .select(col("doc_id"), explode(expr(
          """transform(sequence(1, size(bp)), i ->
            |  struct(element_at(bp, i).h1 AS h1,
            |         element_at(u, i + 1) AS h2tok,
            |         element_at(bp, i).h2 AS hp))""".stripMargin)).as("t"))
        .select(col("doc_id"), col("t.h1").as("h1"),
                col("t.h2tok").as("h2tok"), col("t.hp").as("hp"))
      val cb = b.groupBy(col("hp"), col("h1"), col("h2tok"))
        .agg(count(lit(1)).as("c12"))
      // r20 opt (guide §2.4): cu (Σc12 by h1) and n1f (count by h1)
      // aggregated the model twice ON THE SAME KEY and probed the
      // stream twice — merged into one aggregate/broadcast/probe. The
      // concurrent-broadcast shape is otherwise kept: an r20 A/B that
      // scored the whole template on a chained cb⋈cu⋈n1b dimension
      // (one stream probe) measured kn 1.38 → 1.68 s solo min — the
      // serialized dimension-join chain costs more at bench scale than
      // per-occurrence evaluation saves. Reverted; see OPTIMIZATION_r20.
      val cf = cb.groupBy(col("h1"))
        .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1f"))
      val n1b = cb.groupBy(col("h2tok")).agg(count(lit(1)).as("n1b"))
      val tt = cb.agg(count(lit(1)).as("tt"))
      b.join(cb.select(col("hp"), col("c12")), Seq("hp"))
        .join(cf, Seq("h1"))
        .join(n1b, Seq("h2tok"))
        .crossJoin(tt)
        .select(col("doc_id"),
          expr(s"CAST(round(${lnProbTpl("((CAST(c12 AS DOUBLE) - 0.75) / CAST(c1 AS DOUBLE) + (0.75 * CAST(n1f AS DOUBLE) / CAST(c1 AS DOUBLE)) * (CAST(n1b AS DOUBLE) / CAST(tt AS DOUBLE)))")} * 1000.0) AS BIGINT)").as("l"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
             expr("(-sum(l)) DIV count(1)").cast("long").as("nll_millinats"))
        .orderBy(col("doc_id"))
    },

    Q(
      "text_pii_redact",
      """SELECT doc_id,
        |       regexp_replace(regexp_replace(regexp_replace(pii,
        |         '[a-zA-Z0-9._]+@[a-zA-Z0-9.]+', '<EMAIL>', 'g'),
        |         '[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+', '<IP>', 'g'),
        |         '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted,
        |       len(regexp_extract_all(pii, '[a-zA-Z0-9._]+@[a-zA-Z0-9.]+')) AS n_emails,
        |       len(regexp_extract_all(pii, '[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+')) AS n_ips
        |FROM (SELECT doc_id,
        |             substring(text, 1, 40) || ' mail u' || CAST(doc_id AS VARCHAR)
        |               || '@ex.com ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1 tel 555-'
        |               || CAST(1000 + doc_id % 9000 AS VARCHAR) AS pii
        |      FROM documents) t
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      // PII scrubbing — a mandatory pass of every web-scale training
      // corpus: email/IP/phone patterns replaced with typed placeholder
      // tokens, counts kept for auditing. Pure codegen'd projection
      // (regexp_replace replaces all matches in Spark; the oracle needs
      // DuckDB's explicit 'g' flag). PII is synthesized deterministically
      // onto each doc so the fixture actually exercises every pattern.
      val pii = concat(
        substring(col("text"), 1, 40),
        lit(" mail u"), col("doc_id").cast("string"),
        lit("@ex.com ip 10.0."), (col("doc_id") % 256).cast("string"),
        lit(".1 tel 555-"), (lit(1000) + col("doc_id") % 9000).cast("string"))
      T.documents(s, d)
        .withColumn("pii", pii)
        .select(col("doc_id"),
          regexp_replace(regexp_replace(regexp_replace(col("pii"),
            "[a-zA-Z0-9._]+@[a-zA-Z0-9.]+", "<EMAIL>"),
            "[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+", "<IP>"),
            "[0-9]{3}-[0-9]{4}", "<PHONE>").as("redacted"),
          regexp_count(col("pii"), lit("[a-zA-Z0-9._]+@[a-zA-Z0-9.]+")).cast("long").as("n_emails"),
          regexp_count(col("pii"), lit("[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+")).cast("long").as("n_ips"))
        .orderBy(col("doc_id"))
    },

    Q(
      "dedup_cdc_chunks",
      s"""WITH w AS (
         |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
         |  WHERE text IS NOT NULL),
         |tok AS (
         |  SELECT doc_id, w[i] AS tok, i
         |  FROM w, unnest(range(1, len(w) + 1)) AS t(i)),
         |b AS (
         |  SELECT doc_id, tok, i,
         |         CASE WHEN ${fpSql("tok")} % 16 = 0 THEN 1 ELSE 0 END AS bnd
         |  FROM tok),
         |cid AS (
         |  SELECT doc_id, tok, i,
         |         CAST(coalesce(sum(bnd) OVER (PARTITION BY doc_id ORDER BY i
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cid
         |  FROM b),
         |ch AS (
         |  SELECT doc_id, cid, string_agg(tok, ' ' ORDER BY i) AS chunk,
         |         CAST(count(*) AS BIGINT) AS n_tok
         |  FROM cid GROUP BY 1, 2),
         |sig AS (
         |  SELECT doc_id, cid, n_tok, CAST(${fpSql("chunk")} AS BIGINT) AS chunk_sig
         |  FROM ch)
         |SELECT chunk_sig,
         |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |       CAST(count(*) AS BIGINT) AS n_occ,
         |       CAST(min(n_tok) AS BIGINT) AS n_tok,
         |       CAST(min(doc_id) AS BIGINT) AS canonical_doc
         |FROM sig GROUP BY chunk_sig HAVING count(DISTINCT doc_id) >= 2
         |ORDER BY chunk_sig""".stripMargin
    ) { (s, d) =>
      // Content-defined chunking dedup (the LBFS/rsync device: Muthitacharoen
      // et al. 2001) - the SUB-document rung between dedup_exact (whole
      // doc) and text_span_dedup (fixed windows): chunk boundaries are
      // declared by the CONTENT itself (a token whose fingerprint is
      // ≡ 0 mod 16 ends its chunk, expected length 16 tokens — tuned so
      // the fixture's planted near-dups actually share whole chunks at
      // every scale; a crawl corpus would chunk coarser), so an
      // insertion early in a document shifts every fixed window but
      // leaves all LATER CDC chunks bit-identical - the property that
      // makes cross-crawl chunk-level dedup converge. The boundary
      // fingerprint and the chunk signature both ride the 131-polynomial
      // rolling hash (exact integers, mirrored in SQL by the fpSql
      // template - the sample_split discipline), so the report is
      // bit-identical in both engines. Scale shape: one token explode
      // (map-only), a per-doc running-sum window (millions of small
      // groups, embarrassingly parallel), ONE regroup to chunks, and the
      // duplicate report groups by chunk signature - the shuffle carries
      // chunk signatures, never the corpus text twice.
      val toks = T.documents(s, d)
        .where(col("text").isNotNull)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("i0", "tok")))
        .select(col("doc_id"), (col("i0") + 1).as("i"), col("tok"))
      val b = toks.withColumn("bnd",
        when(fpSpark("tok") % 16 === 0, 1).otherwise(0))
      val cid = b.withColumn("cid", coalesce(sum(col("bnd")).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("doc_id")).orderBy(col("i"))
            .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
          lit(0)).cast("long"))
      val ch = cid.groupBy(col("doc_id"), col("cid"))
        .agg(expr("array_join(transform(array_sort(collect_list(struct(i, tok))), p -> p.tok), ' ')")
               .as("chunk"),
             count(lit(1)).cast("long").as("n_tok"))
      ch.select(col("doc_id"), col("n_tok"), fpSpark("chunk").cast("long").as("chunk_sig"))
        .groupBy(col("chunk_sig"))
        .agg(countDistinct(col("doc_id")).cast("long").as("n_docs"),
             count(lit(1)).cast("long").as("n_occ"),
             min(col("n_tok")).cast("long").as("n_tok"),
             min(col("doc_id")).cast("long").as("canonical_doc"))
        .where(col("n_docs") >= 2)
        .orderBy(col("chunk_sig"))
    },

    Q(
      "dedup_url",
      """WITH u AS (
        |  SELECT doc_id,
        |         lower(lang || '.example.com') || '/docs/' || CAST(doc_id % 40 AS VARCHAR)
        |           AS canonical_url
        |  FROM documents)
        |SELECT canonical_url,
        |       min(doc_id) AS keeper_doc,
        |       count(*) - 1 AS n_dups
        |FROM u
        |GROUP BY canonical_url
        |ORDER BY canonical_url NULLS FIRST""".stripMargin
    ) { (s, d) =>
      // Provenance dedup by canonical URL — the cheapest, highest-yield
      // dedup pass of a web corpus (mirrors, tracking params, protocol
      // variants): canonicalize (lowercase host, strip scheme/query/
      // fragment), keep the lowest doc id per canonical URL. One hash
      // shuffle on the canonical key; the synthesized URL collides on
      // doc_id % 40 so real dup groups exist at fixture scale.
      val raw = concat(lit("https://"), upper(col("lang")), lit(".Example.com/docs/"),
        (col("doc_id") % 40).cast("string"),
        lit("?utm_source=x&ref="), col("n_chars").cast("string"))
      T.documents(s, d)
        .withColumn("url", raw)
        .withColumn("canonical_url",
          lower(regexp_extract(col("url"), "^[a-z]+://([^?#]+)", 1)))
        .groupBy(col("canonical_url"))
        .agg(min(col("doc_id")).as("keeper_doc"),
             (count(lit(1)) - 1).as("n_dups"))
        .orderBy(col("canonical_url"))
    },

    Q(
      "text_novelty",
      """WITH grams AS (
        |  SELECT doc_id,
        |         unnest(list_distinct(list_transform(
        |           range(1, greatest(len(string_split(text, ' ')) - 4, 0) + 1),
        |           i -> array_to_string(list_slice(string_split(text, ' '), i, i + 4), ' ')))) AS g
        |  FROM documents),
        |f AS (SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY g)
        |SELECT grams.doc_id,
        |       CAST(count(*) AS BIGINT) AS n_grams,
        |       CAST(sum(CASE WHEN f.first_doc = grams.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |       CAST((1000000 * sum(CASE WHEN f.first_doc = grams.doc_id THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS novelty_ppm
        |FROM grams JOIN f USING (g)
        |GROUP BY grams.doc_id
        |ORDER BY grams.doc_id""".stripMargin
    ) { (s, d) =>
      // Gram-level novelty score — the ingestion-order signal a
      // dedupe-aware curriculum ranks on (a doc whose 5-grams all first
      // appeared in EARLIER docs contributes nothing new even if no
      // single pair clears a dedup threshold; text_span_dedup flags the
      // spans, this scores the share): novelty = fraction of the doc's
      // distinct word-5-grams whose FIRST occurrence (min doc_id — the
      // dedup family's canonical order) is this doc, in exact integer
      // ppm. Scale shape: grams ride the fused sorted-distinct hasher;
      // the first-occurrence table is one narrow groupBy on the gram
      // key, then the probe joins grams back on the SAME key — the two
      // exchanges share the partitioning, and nothing touches the fact
      // twice. Docs under 5 tokens emit no grams and no row, both
      // engines alike.
      val grams = T.documents(s, d)
        .select(col("doc_id"), explode(graft.functions.HashedWordGrams(col("text"), 5)).as("g"))
      val first = grams.groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
      grams.join(first, "g")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_grams"),
             sum(when(col("first_doc") === col("doc_id"), 1).otherwise(0))
               .cast("long").as("n_novel"))
        .withColumn("novelty_ppm", expr("(1000000 * n_novel) DIV n_grams"))
        .orderBy(col("doc_id"))
    },

    Q(
      "text_contamination",
      """WITH grams AS (
        |  SELECT doc_id,
        |         unnest(list_distinct(list_transform(
        |           range(1, greatest(len(string_split(text, ' ')) - 4, 0) + 1),
        |           i -> array_to_string(list_slice(string_split(text, ' '), i, i + 4), ' ')))) AS g
        |  FROM documents),
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0)
        |SELECT doc_id, count(*) AS n_hit_grams
        |FROM grams JOIN bench USING (g)
        |WHERE doc_id % 97 <> 0
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      // Benchmark-contamination detection — before training, every corpus
      // is screened for eval-set leakage: any doc sharing a word-5-gram
      // with the benchmark set is flagged. The benchmark gram table is
      // benchmark-sized (small) → the planner broadcasts it; the corpus side
      // explodes grams but never shuffles for the probe (semi-probe via
      // inner join on the gram, then one partial+final count by doc).
      // Docs with doc_id % 97 = 0 stand in for the benchmark.
      // Grams travel as xxhash64 longs from the fused byte-scan hasher
      // (functions.HashedWordGrams — the interpreted split/slice/join
      // lambda chain never enters codegen): the join key is 8 bytes
      // instead of a ~30-char string, with the standard 2^-64 per-pair
      // collision bound (~5e-7 across bench×corpus here). The oracle
      // keeps raw strings — only per-doc hit counts are compared.
      val grams = T.documents(s, d).select(col("doc_id"),
        explode(graft.functions.HashedWordGrams(col("text"), 5)).as("g"))
      val bench = grams.where(col("doc_id") % 97 === 0).select(col("g")).distinct()
      grams.where(col("doc_id") % 97 =!= 0)
        .join(bench, "g")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_hit_grams"))
        .orderBy(col("doc_id"))
    },

    Q(
      "text_bloom_contamination",
      """WITH grams AS (
        |  SELECT doc_id,
        |         unnest(list_distinct(list_transform(
        |           range(1, greatest(len(string_split(text, ' ')) - 4, 0) + 1),
        |           i -> array_to_string(list_slice(string_split(text, ' '), i, i + 4), ' ')))) AS g
        |  FROM documents),
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0)
        |SELECT doc_id, count(*) AS n_hit_grams
        |FROM grams JOIN bench USING (g)
        |WHERE doc_id % 97 <> 0
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      // text_contamination's 100 TB path: a Bloom filter over the
      // benchmark gram set pre-screens the corpus BEFORE any join. The
      // bloom is aggregated distributed + merged to a fixed ~1.2 MB
      // bitmap (memory is (n, fpp)-bounded, NOT corpus-bounded),
      // broadcast once, and probed in a tight per-row JVM call — at
      // 100 TB the ~99% of grams that hit nothing never reach the
      // exchange, which is the difference between shuffling the corpus'
      // gram stream and shuffling only candidate hits. Bloom FPs are
      // killed by the exact semi-join behind it (no false NEGATIVES is
      // the bloom guarantee), so the result — and the oracle — is
      // bit-identical to text_contamination's exact join. Grams ride as
      // xxhash64 longs (same fused hasher + collision bound as
      // text_contamination). The probe is the codegen'd
      // functions.BloomMightContainLong expression (r15 item 5 de-UDF'd
      // the per-row Scala wrapper): the serialized ~1.2 MB bitmap rides
      // the expression tree once per stage and the probe stays inside
      // the whole-stage-codegen span over the gram scan.
      // persist the gram stream: the bloom BUILD is its own aggregation
      // pass over the bench grams, and without materialization that pass
      // re-tokenizes the whole corpus before the corpus-side probe scans
      // it again (measured ~25% of the key's cost back)
      val grams = graft.Caches.register(
        T.documents(s, d).select(col("doc_id"),
          explode(graft.functions.HashedWordGrams(col("text"), 5)).as("g"))
          .persist())
      val bench = grams.where(col("doc_id") % 97 === 0).select(col("g")).distinct()
      val corpus = grams.where(col("doc_id") % 97 =!= 0)
      // zero-row aggregation leaves the bloom's internal buffer null
      // (probing it NPEs), and an empty bench set screens nothing anyway
      // — so only interpose the bloom stage when there is one to build.
      // isEmpty is a limit-1 probe, trivial next to the bloom fold.
      val screened =
        if (bench.isEmpty) corpus
        else {
          // overfull bloom only raises FP rate (more exact-verify work,
          // same answer), so the capacity is a fixed budget, not a count()
          val bloom = bench.stat.bloomFilter("g", 1L << 20, 0.01)
          corpus.where(graft.functions.BloomMightContainLong(col("g"), bloom))
        }
      screened
        .join(bench, "g")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_hit_grams"))
        .orderBy(col("doc_id"))
    },

    Q(
      "sample_temperature",
      s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
         |m AS (SELECT min(n) AS mn FROM c),
         |th AS (SELECT lang, CAST(floor(10000 * sqrt(CAST(mn AS DOUBLE) / n)) AS BIGINT) AS threshold
         |       FROM c, m)
         |SELECT doc_id, lang, threshold
         |FROM documents JOIN th USING (lang)
         |WHERE ${fpSql("text")} % 10000 < threshold
         |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      // Temperature-based language rebalancing (the multilingual-corpus
      // counterpart of sample_stratified): keep-rate per lang ∝
      // share^(α−1) with α = 0.5, normalized so the rarest language keeps
      // 100% — i.e. threshold = ⌊10⁴·√(n_min/n_lang)⌋. α = 0.5 keeps the
      // whole chain inside IEEE-exact ops (divide, sqrt, multiply, floor),
      // so Spark and DuckDB agree bit-for-bit — a general pow(x, α) would
      // not be cross-engine exact. Keep-decisions key on the content
      // rolling hash (never rand()) → reproducible under repartitioning;
      // the per-lang threshold table is lang-count-sized → broadcast back,
      // the corpus never shuffles.
      val docs = T.documents(s, d)
      val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      val th = counts
        .crossJoin(counts.agg(min(col("n")).as("mn")))
        .select(col("lang"),
          floor(lit(10000) * sqrt(col("mn").cast("double") / col("n"))).as("threshold"))
      // bound: one row per lang
      docs.join(broadcast(th), "lang")
        .where(fpSpark("text") % 10000 < col("threshold"))
        .select(col("doc_id"), col("lang"), col("threshold"))
        .orderBy(col("doc_id"))
    },

    Q(
      "sample_domain_mix",
      s"""WITH t(lang, target_ppm) AS (VALUES
         |  ('en', 400000), ('de', 150000), ('es', 150000), ('fr', 150000), ('zh', 150000)),
         |d AS (SELECT doc_id, lang, ${fpSql("text")} % 1000000 AS h FROM documents),
         |c AS (SELECT lang, count(*) AS n_docs FROM d GROUP BY 1),
         |n AS (SELECT count(*) AS n_total FROM d),
         |r AS (SELECT c.lang, c.n_docs,
         |             least(1000000, (t.target_ppm * n.n_total) // c.n_docs) AS rate_ppm
         |      FROM c JOIN t USING (lang) CROSS JOIN n),
         |sm AS (SELECT d.lang, count(*) AS n_sampled
         |       FROM d JOIN r ON d.lang = r.lang AND d.h < r.rate_ppm GROUP BY 1)
         |SELECT r.lang, r.n_docs, r.rate_ppm, coalesce(sm.n_sampled, 0) AS n_sampled
         |FROM r LEFT JOIN sm ON r.lang = sm.lang
         |ORDER BY r.lang""".stripMargin
    ) { (s, d) =>
      // Mixture reweighting to a TARGET distribution (the DoReMi-style
      // data-mixing step every pretraining corpus goes through):
      // sample_temperature rebalances relative to observed shares; this
      // one hits declared per-domain token budgets (here: en 40%, others
      // 15% each). rate_ppm = min(10⁶, ⌊target·N/n_d⌋) — exact BIGINT
      // arithmetic end to end — and the admit decision keys on the
      // content rolling hash mod 10⁶ (never rand()): the SAME docs are
      // admitted on any engine, any partitioning, any retry. Cost shape:
      // one collapsed per-domain count, one scalar total, the rate table
      // is |domains|-sized → broadcast back onto the scan — the corpus
      // itself never shuffles, the final roll-up aggregates the
      // domain-keyed survivors.
      import s.implicits._
      val targets = Seq(("en", 400000L), ("de", 150000L), ("es", 150000L),
                        ("fr", 150000L), ("zh", 150000L)).toDF("lang", "target_ppm")
      val docs = T.documents(s, d)
        .select(col("doc_id"), col("lang"), (fpSpark("text") % 1000000).as("h"))
      val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      val rates = counts
        .crossJoin(docs.agg(count(lit(1)).as("n_total")))
        // the hint pins the join order (unhinted inner joins get reordered)
        .join(broadcast(targets), "lang") // bound: 5 rows
        .select(col("lang"), col("n_docs"),
          least(lit(1000000L), expr("(target_ppm * n_total) DIV n_docs")).as("rate_ppm"))
      val sampled = docs.join(Gate.bcast(rates), "lang")
        .where(col("h") < col("rate_ppm"))
        .groupBy(col("lang")).agg(count(lit(1)).as("n_sampled"))
      rates.join(sampled, Seq("lang"), "left")
        .select(col("lang"), col("n_docs"), col("rate_ppm"),
                coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
        .orderBy(col("lang"))
    },

    Q(
      "text_heavy_hitters",
      """SELECT t AS token, count(*) AS f
        |FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
        |GROUP BY t
        |ORDER BY f DESC, t
        |LIMIT 50""".stripMargin
    ) { (s, d) =>
      // Corpus heavy hitters — vocabulary/stopword mining, the input to
      // quality gates and tokenizer audits. One partial+final count
      // aggregate (the shuffle carries #distinct-tokens × #map-partitions
      // rows, not token occurrences) and the top-k fuses to
      // TakeOrderedAndProject — O(k) state per partition, never a global
      // sort. Tie-break on the token keeps the cut deterministic
      // cross-engine.
      T.documents(s, d)
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("f"))
        .orderBy(col("f").desc, col("token"))
        .limit(50)
    },

    Q(
      "tokenizer_oov_rate",
      """WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS t FROM documents),
        |vocab AS (
        |  SELECT t FROM (
        |    SELECT t, count(*) AS f FROM tok GROUP BY t
        |    ORDER BY f DESC, t LIMIT 10)),
        |j AS (
        |  SELECT tok.source,
        |         CASE WHEN vocab.t IS NULL THEN 1 ELSE 0 END AS oov
        |  FROM tok LEFT JOIN vocab ON tok.t = vocab.t)
        |SELECT source,
        |       count(*) AS n_tokens,
        |       CAST(sum(oov) AS BIGINT) AS n_oov,
        |       (1000000 * CAST(sum(oov) AS BIGINT)) // count(*) AS oov_ppm
        |FROM j GROUP BY source
        |ORDER BY source NULLS FIRST""".stripMargin
    ) { (s, d) =>
      // Vocabulary COVERAGE — the tokenizer-health readout next to
      // text_heavy_hitters' mining: fix a top-K corpus vocabulary
      // (count-desc, token tie-break — a deterministic cut) and report
      // each source slice's out-of-vocabulary token rate. A rising OOV
      // ppm on one source is how tokenizer drift/contamination shows up
      // operationally before perplexity moves. Two-pass dictionary
      // shape (text_rarity's discipline): pass 1 collapses the token
      // stream to #distinct-tokens counts (partial+final aggregate) and
      // TakeOrderedAndProject cuts K rows; pass 2 re-scans the stream
      // against the K-row vocab as a BROADCAST left join — membership
      // never shuffles token occurrences. OOV ppm is exact integer
      // division; everything on the wire is counts.
      val tok = T.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("t"))
      val vocab = tok.groupBy(col("t")).agg(count(lit(1)).as("f"))
        .orderBy(col("f").desc, col("t")).limit(10)
        .select(col("t").as("vt"))
      tok.join(vocab, col("t") === col("vt"), "left")
        .select(col("source"), when(col("vt").isNull, 1L).otherwise(0L).as("oov"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_tokens"), sum(col("oov")).as("n_oov"))
        .withColumn("oov_ppm", expr("(1000000 * n_oov) DIV n_tokens"))
        .orderBy(col("source"))
    },

    Q(
      "tokenizer_coverage_curve",
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS t FROM documents),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok),
        |top AS (
        |  SELECT t, CAST(count(*) AS BIGINT) AS f FROM tok GROUP BY t
        |  ORDER BY f DESC, t LIMIT 30),
        |r AS (SELECT f, row_number() OVER (ORDER BY f DESC, t) AS rk FROM top),
        |c AS (SELECT rk, CAST(sum(f) OVER (ORDER BY rk) AS BIGINT) AS cum FROM r)
        |SELECT c.rk AS vocab_k, c.cum AS covered_tokens,
        |       (1000000 * c.cum) // tot.n AS coverage_ppm
        |FROM c, tot
        |WHERE c.rk IN (1, 2, 5, 10, 20, 30)
        |ORDER BY vocab_k""".stripMargin
    ) { (s, d) =>
      // Vocabulary COVERAGE CURVE — the readout a tokenizer-budget
      // decision actually reads (next to tokenizer_oov_rate's fixed-K
      // slice): for growing vocabulary cutoffs k, what share of all
      // token OCCURRENCES the top-k types cover. The curve's knee is
      // where vocab growth stops paying. Two-pass dictionary shape:
      // pass 1 collapses the token stream to per-type counts
      // (partial+final hash agg) and TakeOrderedAndProject cuts the
      // top-30 — after the cut everything is a ≤30-row BOUNDED table,
      // so the rank + running-sum windows are single-partition by
      // RIGHT of boundedness (the event_cusum exception, argued: the
      // cut IS the bound). The occurrence total rides a 1-row global
      // agg cross-joined back. Exact integers end to end — counts,
      // cumulative counts, ppm by integer division.
      import org.apache.spark.sql.expressions.Window
      val tok = T.documents(s, d)
        .select(explode(split(col("text"), " ")).as("t"))
      val tot = tok.agg(count(lit(1)).as("n"))
      val top = tok.groupBy(col("t")).agg(count(lit(1)).as("f"))
        .orderBy(col("f").desc, col("t")).limit(30)
      top
        .withColumn("rk", row_number().over(Window.orderBy(col("f").desc, col("t"))))
        .withColumn("cum", sum(col("f")).over(
          Window.orderBy(col("rk")).rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .where(col("rk").isin(1, 2, 5, 10, 20, 30))
        .crossJoin(tot)
        .select(col("rk").cast("long").as("vocab_k"),
                col("cum").as("covered_tokens"),
                expr("(1000000 * cum) DIV n").as("coverage_ppm"))
        .orderBy(col("vocab_k"))
    },

    Q(
      "text_url_extract",
      """SELECT doc_id,
        |       regexp_extract(url, '^[a-z]+://([^/?]+)', 1) AS host,
        |       regexp_extract(url, '^[a-z]+://[^/?]+(/[^?]*)', 1) AS path,
        |       regexp_extract(url, '\?(.*)$', 1) AS query,
        |       regexp_extract(url, '^[a-z]+://[a-z]+\.([a-z]+\.[a-z]+)', 1) AS domain
        |FROM (SELECT doc_id,
        |             'https://' || lang || '.example.com/docs/' || CAST(doc_id AS VARCHAR)
        |               || '?ref=' || CAST(n_chars AS VARCHAR) AS url
        |      FROM documents) t
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      // URL parsing for provenance-based filtering/dedup (every web-scale
      // corpus pipeline groups by registered domain). Spark's native
      // parse_url is codegen'd; the synthetic URL column stands in for a
      // real crawl's metadata. The registrable-domain strip is the
      // cross-engine-checkable core of a public-suffix reduction.
      T.documents(s, d)
        .withColumn("url",
          concat(lit("https://"), col("lang"), lit(".example.com/docs/"),
                 col("doc_id").cast("string"), lit("?ref="), col("n_chars").cast("string")))
        .select(
          col("doc_id"),
          parse_url(col("url"), lit("HOST")).as("host"),
          parse_url(col("url"), lit("PATH")).as("path"),
          parse_url(col("url"), lit("QUERY")).as("query"),
          regexp_extract(parse_url(col("url"), lit("HOST")), "^[a-z]+\\.([a-z]+\\.[a-z]+)", 1)
            .as("domain"))
        .orderBy(col("doc_id"))
    },

    Q(
      "sample_split",
      s"""SELECT doc_id, lang,
         |       CASE WHEN ${fpSql("text")} % 100 < 80 THEN 'train'
         |            WHEN ${fpSql("text")} % 100 < 90 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM documents
         |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      // Deterministic train/val/test assignment (80/10/10) keyed on the
      // content rolling-hash — the split a training pipeline must be able
      // to REPRODUCE on any rebuild: re-partitioning, re-sharding, or a
      // different engine assigns every doc to the same split (rand()
      // would leak val docs into train on every retry). Pure scan-pushed
      // projection; the same content key also means exact dupes land in
      // the same split, so near-dup leakage across splits is bounded by
      // the dedup stage, not the splitter.
      val b = fpSpark("text") % 100
      T.documents(s, d)
        .withColumn("split",
          when(b < 80, "train").when(b < 90, "val").otherwise("test"))
        .select(col("doc_id"), col("lang"), col("split"))
        .orderBy(col("doc_id"))
    },

    Q(
      "sample_poisson_bootstrap",
      s"""WITH u AS (
         |  SELECT doc_id, ${fpSql("text")} % 1000000 AS um
         |  FROM documents WHERE text IS NOT NULL),
         |k AS (
         |  SELECT doc_id,
         |         CAST(CASE WHEN um < 367879 THEN 0
         |                   WHEN um < 735759 THEN 1
         |                   WHEN um < 919699 THEN 2
         |                   WHEN um < 981012 THEN 3
         |                   WHEN um < 996340 THEN 4
         |                   ELSE 5 END AS BIGINT) AS n_copies
         |  FROM u)
         |SELECT doc_id, n_copies, CAST(r.replica AS BIGINT) AS replica
         |FROM k, unnest(range(1, n_copies + 1)) AS r(replica)
         |WHERE n_copies > 0
         |ORDER BY doc_id, replica""".stripMargin
    ) { (s, d) =>
      // Poisson bootstrap / with-replacement epoch resampling — the
      // sampler rung `sample_split`'s caveat points at: splits and
      // reservoirs draw WITHOUT replacement, but bootstrap ensembles
      // and count-weighted epoch mixtures need each example replicated
      // Poisson(1) times (the standard distributed bootstrap — Chamandy
      // et al. 2012, Google's "Estimating uncertainty for massive data
      // streams": per-row independent Poisson counts need no global n,
      // so the draw is one scan). Determinized the repo way: the
      // content rolling-hash supplies the uniform (reproducible across
      // rebuilds/engines/partitionings; exact dupes replicate
      // identically), and the inverse-CDF ladder is EXACT INTEGER
      // micro-unit thresholds (⌊10⁶·P(K≤k)⌋ for λ=1: 367879, 735759,
      // 919699, 981012, 996340 — capped at 5, P(K>5) ≈ 6·10⁻⁴) — no
      // float anywhere, so both engines agree bit-for-bit by
      // construction. Plan: scan-parallel projection + a bounded ≤5×
      // generator fan-out, zero shuffles before the output sort; the
      // mean fan-out is 1, so the resampled epoch is corpus-sized.
      val um = fpSpark("text") % 1000000
      T.documents(s, d)
        .where(col("text").isNotNull)
        .select(col("doc_id"), um.as("um"))
        .withColumn("n_copies",
          when(col("um") < 367879, 0L).when(col("um") < 735759, 1L)
            .when(col("um") < 919699, 2L).when(col("um") < 981012, 3L)
            .when(col("um") < 996340, 4L).otherwise(5L))
        .where(col("n_copies") > 0)
        .select(col("doc_id"), col("n_copies"),
                explode(expr("sequence(1L, n_copies)")).as("replica"))
        .orderBy(col("doc_id"), col("replica"))
    },

    Q(
      "sample_neyman",
      """WITH s AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS nh,
        |         CAST(sum(n_chars) AS BIGINT) AS sh,
        |         CAST(sum(n_chars * n_chars) AS BIGINT) AS qh
        |  FROM documents
        |  WHERE lang IS NOT NULL AND n_chars IS NOT NULL
        |  GROUP BY 1),
        |w AS (SELECT lang, nh,
        |             CAST(round(1000000 * sqrt(CAST(nh * qh - sh * sh AS DOUBLE))) AS BIGINT) AS w_micro
        |      FROM s),
        |tot AS (SELECT CAST(sum(w_micro) AS BIGINT) AS wt FROM w),
        |base AS (SELECT lang, nh, w_micro,
        |                (200 * w_micro) // wt AS n_base,
        |                (200 * w_micro) % wt AS rem,
        |                wt
        |         FROM w, tot WHERE wt > 0),
        |r AS (SELECT lang, nh, w_micro, n_base, rem,
        |             row_number() OVER (ORDER BY rem DESC, lang) AS rk,
        |             (SELECT 200 - sum(n_base) FROM base) AS leftover
        |      FROM base)
        |SELECT lang, nh AS n_docs, w_micro,
        |       CAST(n_base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS n_alloc
        |FROM r ORDER BY lang""".stripMargin
    ) { (s, d) =>
      // Neyman-allocation stratified sampling (Neyman 1934) — the
      // OPTIMAL-variance budget split the proportional samplers can't
      // express: for a fixed total budget K the minimum-variance
      // estimator allocates nₕ ∝ Nₕ·σₕ, oversampling big AND noisy
      // strata (a high-variance web source earns budget a clean uniform
      // one doesn't). This key computes the allocation PLAN (K = 200
      // over language strata, σ over n_chars) — the part that needs the
      // whole corpus; drawing the rows afterwards is sample_fixed_k's
      // existing hash-rank device. Cross-engine determinism: Nₕ²σₕ² =
      // Nₕ·Σx² − (Σx)² is an EXACT BIGINT (population σ), so each
      // stratum's weight Nₕσₕ is ONE sqrt on identical operand bits
      // (at 100 TB the x² moment outgrows BIGINT — the ladder is
      // DECIMAL(38) or per-stratum Welford folds), rounded ONCE to
      // integer micros, so the total and every quota are pure integers;
      // the fractional seats go by LARGEST REMAINDER ((200·w) mod W,
      // ties by lang) so the allocations sum to exactly K by
      // construction — no float comparison anywhere downstream. Scale
      // shape: one corpus collapse to |strata| rows (count/sum/sum-sq
      // ride a single partial+final aggregate), then window + rank on
      // that k-bounded table; the 1-row total broadcasts.
      val strata = T.documents(s, d)
        .where(col("lang").isNotNull && col("n_chars").isNotNull)
        .groupBy(col("lang"))
        .agg(count(lit(1)).cast("long").as("nh"),
             sum(col("n_chars")).cast("long").as("sh"),
             sum(col("n_chars") * col("n_chars")).cast("long").as("qh"))
      val w = strata.selectExpr("lang", "nh",
        "CAST(round(1000000 * sqrt(CAST(nh * qh - sh * sh AS DOUBLE))) AS BIGINT) AS w_micro")
      val tot = w.agg(sum(col("w_micro")).cast("long").as("wt"))
      val base = w.crossJoin(tot).where(col("wt") > 0)
        .selectExpr("lang", "nh", "w_micro",
          "(200 * w_micro) DIV wt AS n_base", "(200 * w_micro) % wt AS rem")
      val leftover = base.agg((lit(200L) - sum(col("n_base"))).cast("long").as("leftover"))
      base.withColumn("rk",
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("rem").desc, col("lang"))))
        .crossJoin(leftover)
        .selectExpr("lang", "nh AS n_docs", "w_micro",
          "CAST(n_base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS n_alloc")
        .orderBy(col("lang"))
    },

    Q(
      "sample_weighted_reservoir",
      s"""WITH s0 AS (
         |  SELECT doc_id, lang, n_chars,
         |         CAST(${fpSql("text")} % 1000003 + 1 AS BIGINT) AS uraw
         |  FROM documents
         |  WHERE lang IS NOT NULL AND text IS NOT NULL AND n_chars > 0),
         |k AS (
         |  SELECT doc_id, lang, n_chars,
         |         -(${lnProbTpl("(CAST(uraw AS DOUBLE) / 1000004.0)")}) / CAST(n_chars AS DOUBLE) AS es_key
         |  FROM s0),
         |r AS (
         |  SELECT lang, doc_id, n_chars, es_key,
         |         row_number() OVER (PARTITION BY lang ORDER BY es_key, doc_id) AS rank
         |  FROM k)
         |SELECT lang, CAST(rank AS BIGINT) AS rank, doc_id,
         |       CAST(n_chars AS BIGINT) AS weight, round(es_key, 6) AS es_key
         |FROM r WHERE rank <= 20
         |ORDER BY lang, rank""".stripMargin
    ) { (s, d) =>
      // WEIGHTED reservoir sampling (Efraimidis & Spirakis 2006, the
      // A-ES exponential-key scheme) - the quality-weighted sampler the
      // unweighted sample_fixed_k cannot express: each doc draws key
      // u^(1/w) (equivalently minimizes -ln(u)/w) and the top-k keys
      // per language ARE a weighted-without-replacement sample, so a
      // doc's selection probability scales with its weight (n_chars
      // here, standing in for a quality score). DETERMINISTIC u: the
      // content rolling-hash folded into (0,1] as exact integers over
      // 1000004 - any rebuild, reshard, or engine re-draws the same
      // sample (the sample_split discipline); ln rides the shared
      // bit-deterministic template, so the key doubles are bit-identical
      // in both engines and the rank order cannot flap (doc_id breaks
      // exact ties). Scale shape: the exponential-key formulation is
      // exactly what makes weighted reservoirs MERGEABLE at 100 TB -
      // each partition keeps its k smallest keys and the merge keeps
      // the k smallest of the union (same shape as the sketch family);
      // the registered demo uses the |langs|-partition rank window over
      // the one scored pass, the same k-bounded readout the other
      // sample_* keys pin.
      val u = (fpSpark("text") % 1000003 + 1).cast("long")
      T.documents(s, d)
        .where(col("lang").isNotNull && col("text").isNotNull && col("n_chars") > 0)
        .select(col("doc_id"), col("lang"), col("n_chars"), u.as("uraw"))
        .selectExpr("doc_id", "lang", "n_chars",
          s"-(${lnProbTpl("(CAST(uraw AS DOUBLE) / 1000004.0)")}) / CAST(n_chars AS DOUBLE) AS es_key")
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("lang")).orderBy(col("es_key"), col("doc_id"))))
        .where(col("rank") <= 20)
        .select(col("lang"), col("rank").cast("long").as("rank"), col("doc_id"),
                col("n_chars").cast("long").as("weight"),
                round(col("es_key"), 6).as("es_key"))
        .orderBy(col("lang"), col("rank"))
    },

    Q(
      "text_bigram_topk",
      """WITH a AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
        |  WHERE len(string_split(lower(text), ' ')) >= 2),
        |g AS (
        |  SELECT unnest(list_transform(range(1, len(toks)),
        |                i -> toks[i] || ' ' || toks[i+1])) AS bigram
        |  FROM a)
        |SELECT bigram, count(*) AS f
        |FROM g GROUP BY 1
        |ORDER BY f DESC, bigram
        |LIMIT 25""".stripMargin
    ) { (s, d) =>
      // Top-25 word bigrams (collocation mining — the n>1 sibling of
      // `text_heavy_hitters`, input to tokenizer-merge and boilerplate
      // screens). The bigram stream is a per-row generator over the
      // token array (transform over 1-based element_at windows — no
      // join, no shuffle to form pairs), then one partial+final count
      // agg and a TakeOrderedAndProject top-k: the shuffle carries
      // #distinct-bigrams × #map-partitions rows and the cut is O(k)
      // per partition. Tie-break on the bigram keeps the LIMIT edge
      // deterministic cross-engine.
      T.documents(s, d)
        .select(split(lower(col("text")), " ").as("toks"))
        .where(size(col("toks")) >= 2)
        .select(explode(expr(
          """transform(sequence(1, size(toks) - 1),
             |  i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))""".stripMargin))
          .as("bigram"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("f"))
        .orderBy(col("f").desc, col("bigram"))
        .limit(25)
    },

    Q(
      "text_repetition",
      """WITH a AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
        |  WHERE len(string_split(lower(text), ' ')) >= 2),
        |g AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |                i -> toks[i] || ' ' || toks[i+1])) AS bigram
        |  FROM a),
        |c AS (
        |  SELECT doc_id, bigram, count(*) AS cnt FROM g GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
        |       CAST(max(cnt) AS BIGINT) AS top_cnt,
        |       CAST((100 * max(cnt)) // sum(cnt) AS BIGINT) AS top_pct
        |FROM c GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      // Per-doc repetition gate (the Gopher "top n-gram share" quality
      // signal — boilerplate and spam repeat their bigrams): share of
      // the doc's bigram mass held by its most frequent bigram, as an
      // exact integer percentage. Same generator pair-forming as
      // `text_bigram_topk`, but the roll-up keys on doc_id: one shuffle
      // to per-(doc, bigram) counts, then the doc-level max/sum reuses
      // that exchange (both hash doc_id first). Integer ⌊100·max/Σ⌋
      // keeps the gate threshold engine-exact.
      val pairs = T.documents(s, d)
        .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
        .where(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(expr(
          """transform(sequence(1, size(toks) - 1),
             |  i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))""".stripMargin))
          .as("bigram"))
      pairs.groupBy(col("doc_id"), col("bigram")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("doc_id"))
        .agg(sum(col("cnt")).as("n_bigrams"), max(col("cnt")).as("top_cnt"))
        .select(col("doc_id"), col("n_bigrams"), col("top_cnt"),
                expr("(100 * top_cnt) DIV n_bigrams").as("top_pct"))
        .orderBy(col("doc_id"))
    },

    Q(
      "text_tfidf_topk",
      """WITH tok AS (
        |  SELECT doc_id, t AS token
        |  FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS t
        |        FROM documents)
        |  WHERE t <> ''),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.token, tf.tf,
        |         tf.tf * ((1000000 * n.n_docs) // df.df) AS score
        |  FROM tf JOIN df ON tf.token = df.token CROSS JOIN n),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rn
        |  FROM scored)
        |SELECT doc_id, token, tf, score FROM ranked WHERE rn <= 3
        |ORDER BY doc_id, score DESC, token""".stripMargin
    ) { (s, d) =>
      // Top-3 TF-IDF terms per document — keyword extraction for corpus
      // browsing/routing. The idf is integer-scaled (⌊10⁶·N/df⌋) so the
      // whole score chain is exact BIGINT arithmetic: bit-identical
      // cross-engine AND under any partitioning — a float log-idf would
      // hash-drift on neither count. Cost shape at 100 TB: the token
      // stream shuffles once to per-(doc,token) counts; df is a second
      // aggregate OVER THE ALREADY-COLLAPSED tf table (vocabulary-sized
      // input, not token-stream-sized); the vocabulary table broadcasts
      // back onto tf while it fits, and the top-3 is a
      // doc-partitioned window on the same doc-keyed distribution.
      import org.apache.spark.sql.expressions.Window
      val docs = T.documents(s, d)
      val tok = docs
        .select(col("doc_id"), explode(split(lower(col("text")), "\\s+")).as("token"))
        .where(col("token") =!= "")
      // persist tf: df is derived FROM tf, and without materialization
      // Catalyst would re-tokenize the whole corpus for the df branch
      // (column pruning rewrites the shared subtree, defeating exchange
      // reuse) — at 100 TB that is a second full corpus scan. The cache
      // is part of this operator's contract, so it's registered with
      // graft.Caches: sweeping callers (Verify/Bench/specs) drain the
      // registry after materializing, instead of every composition
      // having to know to clearCache().
      val tf = graft.Caches.register(
        tok.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf")).persist())
      val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("token"))
      tf.join(df, "token")
        .crossJoin(n)
        .withColumn("score", col("tf") * expr("(1000000 * n_docs) DIV df"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("doc_id"), col("token"), col("tf"), col("score"))
        .orderBy(col("doc_id"), col("score").desc, col("token"))
    },

    Q(
      "text_keyword_rake",
      s"""WITH tok AS (
         |  SELECT doc_id, t.w AS token, t.i AS pos,
         |         CASE WHEN t.w IN ('the','a','of','and','to','is') THEN 1 ELSE 0 END AS stop
         |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w,
         |               generate_subscripts(string_split(lower(text), ' '), 1) AS i
         |        FROM documents WHERE text IS NOT NULL) t(doc_id, w, i)
         |  WHERE t.w <> ''),
         |seg0 AS (
         |  SELECT doc_id, token, pos, stop,
         |         CAST(sum(stop) OVER (PARTITION BY doc_id ORDER BY pos
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
         |  FROM tok),
         |seg AS (SELECT doc_id, token, pos, sid FROM seg0 WHERE stop = 0),
         |ph AS (
         |  SELECT doc_id, sid, string_agg(token, ' ' ORDER BY pos) AS phrase,
         |         CAST(count(*) AS BIGINT) AS plen
         |  FROM seg GROUP BY 1, 2),
         |wd AS (
         |  SELECT s.token, CAST(count(*) AS BIGINT) AS freq, CAST(sum(p.plen) AS BIGINT) AS deg
         |  FROM seg s JOIN ph p ON p.doc_id = s.doc_id AND p.sid = s.sid
         |  GROUP BY 1),
         |ws AS (
         |  SELECT token, CAST(${graft.operators.LlmOps.microRoundSql("1000000 * deg", "freq", "//")} AS BIGINT) AS micro
         |  FROM wd),
         |ps AS (
         |  SELECT s.doc_id, s.sid, CAST(sum(ws.micro) AS BIGINT) AS score_micro
         |  FROM seg s JOIN ws ON ws.token = s.token
         |  GROUP BY 1, 2),
         |agg AS (
         |  SELECT p.phrase, CAST(count(*) AS BIGINT) AS n_occurrences,
         |         CAST(max(ps.score_micro) AS BIGINT) AS score_micro
         |  FROM ph p JOIN ps ON ps.doc_id = p.doc_id AND ps.sid = p.sid
         |  GROUP BY 1)
         |SELECT phrase, n_occurrences, score_micro
         |FROM agg
         |ORDER BY score_micro DESC, phrase
         |LIMIT 20""".stripMargin
    ) { (s, d) =>
      // RAKE keyword extraction (Rose et al. 2010) — the PHRASE-level
      // companion of text_tfidf_topk's single-token keywords: candidate
      // phrases are maximal stopword-free token runs (the same en
      // function-word list text_lang_id votes with), each scored by
      // Σ_w deg(w)/freq(w) where deg counts co-occurring phrase slots —
      // multi-word terms outrank their parts, which is RAKE's point.
      // Exactness: deg/freq are corpus-exact BIGINTs; each word score
      // micro-rounds through [[LlmOps.microRoundSql]] BEFORE the
      // phrase sum so the sum is pure integer — order-free under any
      // partitioning AND midpoint-safe (the text_readability class);
      // identical phrases score identically by construction (max =
      // any). Scale: tokenization is scan-parallel; the segment window
      // partitions per doc (never corpus-wide); word stats collapse to
      // the vocabulary and broadcast back; the readout is a bounded
      // top-20 TakeOrdered.
      import org.apache.spark.sql.expressions.Window
      val stops = Seq("the", "a", "of", "and", "to", "is").map(w => s"'$w'").mkString(", ")
      val tok = T.documents(s, d)
        .where(col("text").isNotNull)
        .select(col("doc_id"),
                posexplode(split(lower(col("text")), " ")).as(Seq("pos", "token")))
        .where(col("token") =!= "")
        .withColumn("stop", expr(s"CASE WHEN token IN ($stops) THEN 1 ELSE 0 END"))
      // r19 A/B (negative result): persisting seg (+ph) measured 1.22 s
      // vs 1.00 s solo at sf0.1 — materializing the |tokens|-row columnar
      // cache costs more than re-running the cheap codegen'd tokenize +
      // per-doc window for the three consumers; the recompute stands.
      val seg = tok
        .withColumn("sid", sum(col("stop")).over(
          Window.partitionBy(col("doc_id")).orderBy(col("pos"))
            .rowsBetween(Window.unboundedPreceding, 0)).cast("long"))
        .where(col("stop") === 0)
        .select(col("doc_id"), col("token"), col("pos"), col("sid"))
      val ph = seg.groupBy(col("doc_id"), col("sid"))
        .agg(expr("array_join(transform(sort_array(collect_list(struct(pos, token))), p -> p.token), ' ')").as("phrase"),
             count(lit(1)).cast("long").as("plen"))
      val wd = seg.join(ph, Seq("doc_id", "sid"))
        .groupBy(col("token"))
        .agg(count(lit(1)).cast("long").as("freq"), sum(col("plen")).cast("long").as("deg"))
        .selectExpr("token",
          s"CAST(${graft.operators.LlmOps.microRoundSql("1000000 * deg", "freq", "DIV")} AS BIGINT) AS micro")
      val ps = seg.join(wd, Seq("token"))
        .groupBy(col("doc_id"), col("sid"))
        .agg(sum(col("micro")).cast("long").as("score_micro"))
      ph.join(ps, Seq("doc_id", "sid"))
        .groupBy(col("phrase"))
        .agg(count(lit(1)).cast("long").as("n_occurrences"),
             max(col("score_micro")).cast("long").as("score_micro"))
        .orderBy(col("score_micro").desc, col("phrase"))
        .limit(20)
        .select(col("phrase"), col("n_occurrences"), col("score_micro"))
    },

    Q(
      "graph_pagerank",
      """WITH e0 AS (
        |  SELECT source || '.example.com' AS src, lang || '.example.com' AS dst FROM documents
        |  UNION ALL
        |  SELECT lang || '.example.com', 'src' || CAST(n_chars % 20 AS VARCHAR) || '.example.com'
        |  FROM documents),
        |e AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM e0 GROUP BY 1, 2),
        |o AS (SELECT src, CAST(sum(w) AS BIGINT) AS outw FROM e GROUP BY 1),
        |h AS (SELECT src AS host FROM e UNION SELECT dst FROM e),
        |r0 AS (SELECT host, CAST(1000000 AS BIGINT) AS rank FROM h),
        |r1 AS (SELECT h.host,
        |              CAST(150000 + (850000 * coalesce(s.cs, 0)) // 1000000 AS BIGINT) AS rank
        |       FROM h LEFT JOIN (
        |         SELECT e.dst AS host, CAST(sum((r0.rank * e.w) // o.outw) AS BIGINT) AS cs
        |         FROM e JOIN o USING (src) JOIN r0 ON r0.host = e.src GROUP BY e.dst) s
        |       USING (host)),
        |r2 AS (SELECT h.host,
        |              CAST(150000 + (850000 * coalesce(s.cs, 0)) // 1000000 AS BIGINT) AS rank
        |       FROM h LEFT JOIN (
        |         SELECT e.dst AS host, CAST(sum((r1.rank * e.w) // o.outw) AS BIGINT) AS cs
        |         FROM e JOIN o USING (src) JOIN r1 ON r1.host = e.src GROUP BY e.dst) s
        |       USING (host)),
        |r3 AS (SELECT h.host,
        |              CAST(150000 + (850000 * coalesce(s.cs, 0)) // 1000000 AS BIGINT) AS rank
        |       FROM h LEFT JOIN (
        |         SELECT e.dst AS host, CAST(sum((r2.rank * e.w) // o.outw) AS BIGINT) AS cs
        |         FROM e JOIN o USING (src) JOIN r2 ON r2.host = e.src GROUP BY e.dst) s
        |       USING (host))
        |SELECT host, rank AS rank_ppm FROM r3 ORDER BY host NULLS FIRST""".stripMargin
    ) { (s, d) =>
      // Host-graph PageRank — the crawl-frontier/source-weighting
      // centrality every web-corpus curation stack keeps next to its
      // quality scores (Common Crawl publishes exactly this per host).
      // The synthetic link graph mirrors `text_url_extract`'s URL
      // scheme: each doc links its source host → its language host and
      // its language host → a content-derived host, weighted by
      // multiplicity. Three power iterations, UNROLLED into the plan
      // (fixed-depth, deterministic) with damping 0.85 in exact integer
      // ppm: contribution = (rank·w) DIV out-weight, next rank =
      // 150000 + (850000·Σ) DIV 1e6 — pure BIGINT on both engines (all
      // values non-negative, so Spark's truncating DIV ≡ DuckDB's
      // flooring //). Scale shape per iteration: the rank and out-degree
      // tables are |hosts|-sized (crawl hosts ~10⁷ rows — broadcastable
      // via the size gate, shuffle-join fallback beyond it) joined onto
      // the |edges| fact, then ONE shuffle collapsing contributions on
      // dst; the edge fact is re-read per iteration but never re-keyed —
      // at a real 100 TB deployment you'd persist edges bucketed by src
      // once and every iteration's join is then co-located.
      val docs = T.documents(s, d)
      val e1 = docs.select(concat(col("source"), lit(".example.com")).as("src"),
                           concat(col("lang"), lit(".example.com")).as("dst"))
      val e2 = docs.select(concat(col("lang"), lit(".example.com")).as("src"),
                           concat(lit("src"), (col("n_chars") % 20).cast("string"),
                                  lit(".example.com")).as("dst"))
      val edges = e1.union(e2).groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
      val outd = edges.groupBy(col("src")).agg(sum(col("w")).as("outw"))
      val hosts = edges.select(col("src").as("host"))
        .union(edges.select(col("dst").as("host"))).distinct()
      var r = hosts.select(col("host"), lit(1000000L).as("rank"))
      for (_ <- 1 to 3) {
        val contrib = edges
          .join(Gate.bcast(outd), Seq("src"))
          .join(Gate.bcast(r.select(col("host").as("src"), col("rank"))), Seq("src"))
          .select(col("dst").as("host"), expr("(rank * w) DIV outw").as("c"))
          .groupBy(col("host")).agg(sum(col("c")).as("cs"))
        r = hosts.join(contrib, Seq("host"), "left")
          .select(col("host"),
                  expr("150000L + (850000L * coalesce(cs, 0L)) DIV 1000000L").as("rank"))
      }
      r.select(col("host"), col("rank").as("rank_ppm")).orderBy(col("host"))
    },

    Q(
      "graph_triangle_count",
      """WITH e0 AS (
        |  SELECT doc_id % 50 AS a, (doc_id // 50) % 50 AS b FROM documents
        |  WHERE doc_id % 50 <> (doc_id // 50) % 50),
        |e AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM e0),
        |t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |      FROM e e1 JOIN e e2 ON e1.b = e2.a
        |                JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
        |SELECT node, CAST(count(*) AS BIGINT) AS n_tri
        |FROM (SELECT unnest([x, y, z]) AS node FROM t) u
        |GROUP BY node ORDER BY node""".stripMargin
    ) { (s, d) =>
      // Per-node triangle counting — the local-clustering-coefficient
      // numerator used to find tightly-knit communities (mirror rings,
      // template farms) in a provenance/co-occurrence graph. The planted
      // entity graph is doc-derived (node = doc_id residue class); real
      // input is any edge list. Exact and deterministic: canonicalize to
      // undirected a<b edges, count each triangle once as a<b<c via two
      // equi-joins (edge e1=(a,b) extends to c iff (b,c) and (a,c) are
      // edges), then one explode+groupBy spreads each triangle to its 3
      // corners. Scale shape: both joins are equi-joins on node keys —
      // shuffle-partitionable, never all-pairs; the classic skew guard
      // (orient each edge from its lower-degree endpoint before joining,
      // bounding per-key fanout by sqrt(|E|)) drops in as a degree-table
      // broadcast + re-orientation without changing the count.
      val und = T.documents(s, d)
        .select(expr("doc_id % 50").as("a"), expr("(doc_id DIV 50) % 50").as("b"))
        .where(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
        .distinct()
      val tri = und.as("e1")
        .join(und.as("e2"), col("e1.b") === col("e2.a"))
        .join(und.as("e3"), col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
        .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
      tri.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
        .orderBy(col("node"))
    },

    Q(
      "graph_assortativity",
      s"""WITH e0 AS (
        |  SELECT doc_id % 50 AS a, (doc_id // 50) % 50 AS b FROM documents
        |  WHERE doc_id % 50 <> (doc_id // 50) % 50),
        |eu AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM e0),
        |ed AS (SELECT a AS src, b AS dst FROM eu UNION ALL SELECT b, a FROM eu),
        |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS k FROM ed GROUP BY 1),
        |j AS (SELECT da.k AS js, db.k AS kd
        |      FROM ed JOIN deg da ON da.node = ed.src JOIN deg db ON db.node = ed.dst),
        |mm AS (SELECT CAST(count(*) AS BIGINT) AS m2,
        |              CAST(sum(js * kd) AS BIGINT) AS sjk,
        |              CAST(sum(js) AS BIGINT) AS sj,
        |              CAST(sum(js * js) AS BIGINT) AS sj2
        |       FROM j)
        |SELECT m2 // 2 AS m_edges,
        |       (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
        |       CAST(m2 * sjk - sj * sj AS BIGINT) AS num_int,
        |       CAST(m2 * sj2 - sj * sj AS BIGINT) AS den_int,
        |       CAST(${graft.operators.LlmOps.microRoundSql("1000000 * (m2 * sjk - sj * sj)", "m2 * sj2 - sj * sj", "//")} AS DOUBLE) / 1000000 AS assortativity
        |FROM mm WHERE m2 * sj2 - sj * sj > 0""".stripMargin
    ) { (s, d) =>
      // Degree assortativity (Newman 2002, the Pearson correlation of
      // endpoint degrees over edges) — the one-number structural
      // signature the graph family's other keys don't measure: social
      // graphs run positive (hubs befriend hubs), web/crawl and
      // biological graphs negative (hubs link leaves), and a corpus
      // provenance graph that FLIPS sign between snapshots has changed
      // generating process — a drift alarm at graph granularity. Same
      // planted undirected entity graph as graph_triangle_count.
      // Exact algebra: over the 2M DIRECTED edges, each endpoint-degree
      // pair (j, k) has integer moments — Σjk, Σj (= Σk by symmetry),
      // Σj² — and scaling Newman's r by (2M)² clears every division:
      // r = (2M·Σjk − (Σj)²) / (2M·Σj² − (Σj)²), a pure-BIGINT rational
      // read out through [[LlmOps.microRoundSql]] (the denominator is a
      // data-dependent square sum — the measured midpoint class).
      // Scale shape: the degree table is |V|-sized (≤ 50 nodes here,
      // broadcast onto the edge fact — two equi-joins, no all-pairs),
      // the moment fold is one partial+final aggregate to ONE row; the
      // zero-variance regular graph (den = 0, r undefined) is guarded
      // identically in both engines.
      val und = T.documents(s, d)
        .select(expr("doc_id % 50").as("a"), expr("(doc_id DIV 50) % 50").as("b"))
        .where(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
        .distinct()
      val ed = und.select(col("a").as("src"), col("b").as("dst"))
        .union(und.select(col("b").as("src"), col("a").as("dst")))
      val deg = ed.groupBy(col("src").as("node")).agg(count(lit(1)).cast("long").as("k"))
      val nNodes = deg.agg(count(lit(1)).cast("long").as("n_nodes"))
      def degAs(node: String, k: String) =
        // bound: node = doc_id % 50, so deg has at most 50 rows
        broadcast(deg.withColumnRenamed("node", node).withColumnRenamed("k", k))
      ed.join(degAs("sn", "js"), col("src") === col("sn"))
        .join(degAs("dn", "kd"), col("dst") === col("dn"))
        .agg(count(lit(1)).cast("long").as("m2"),
             sum(col("js") * col("kd")).cast("long").as("sjk"),
             sum(col("js")).cast("long").as("sj"),
             sum(col("js") * col("js")).cast("long").as("sj2"))
        .crossJoin(nNodes)
        .selectExpr("m2 DIV 2 AS m_edges", "n_nodes",
          "CAST(m2 * sjk - sj * sj AS BIGINT) AS num_int",
          "CAST(m2 * sj2 - sj * sj AS BIGINT) AS den_int",
          s"CAST(${graft.operators.LlmOps.microRoundSql("1000000 * (m2 * sjk - sj * sj)", "m2 * sj2 - sj * sj", "DIV")} AS DOUBLE) / 1000000 AS assortativity")
        .where(col("den_int") > 0)
    },

    Q(
      "graph_shortest_path",
      """WITH RECURSIVE e0 AS (
        |  SELECT doc_id % 50 AS a, (doc_id // 50) % 50 AS b FROM documents
        |  WHERE doc_id % 50 <> (doc_id // 50) % 50),
        |eu AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM e0),
        |e AS (SELECT a AS src, b AS dst FROM eu UNION ALL SELECT b, a FROM eu),
        |bfs(node, d) AS (
        |  SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        |  UNION
        |  SELECT e.dst, bfs.d + 1 FROM bfs JOIN e ON e.src = bfs.node
        |  WHERE bfs.d < 6)
        |SELECT node, CAST(min(d) AS BIGINT) AS dist
        |FROM bfs GROUP BY node ORDER BY node""".stripMargin
    ) { (s, d) =>
      // Single-source BFS shortest path (hop count), depth-bounded at 6 —
      // the reachability/radius primitive behind link-graph diagnostics
      // (how far does a crawl frontier or a dedup-cluster contagion
      // spread?). Same planted entity graph as graph_triangle_count,
      // symmetrized. Iterative-join BFS, UNROLLED at fixed depth: each
      // round joins the |V|-sized distance table onto the edge fact and
      // re-minimizes — the oracle is DuckDB's WITH RECURSIVE UNION
      // (duplicate-eliminating, so each (node, d) expands once; the d<6
      // bound makes the two fixed-point shapes provably identical). Scale
      // shape per round: dist is |V|-sized (broadcast while it fits,
      // shuffle beyond) onto shuffle-partitioned edges, ONE collapse on dst;
      // at real diameter you'd iterate frontier-delta-only with a
      // localCheckpoint per round (the dedup_clusters pattern) instead of
      // unrolling — the per-round plan is what this key pins.
      val und = T.documents(s, d)
        .select(expr("doc_id % 50").as("a"), expr("(doc_id DIV 50) % 50").as("b"))
        .where(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
        .distinct()
      // localCheckpoint, twice over (dedup_clusters' iterative pattern,
      // which the depth-bounded unroll must follow too): (1) the edge
      // table is |V|²-bounded but DERIVES from a corpus scan + distinct
      // — checkpointing makes that one pass instead of six; (2) each
      // round's dist checkpoints so round k+1 plans a fresh tiny join
      // instead of a k-deep nested-aggregate tree (a plain .persist()
      // here measured WORSE than recompute — InMemoryRelation scans
      // stacked 6 deep cost more than they save; truncating lineage is
      // the fix, not caching it)
      val edges = und.select(col("a").as("src"), col("b").as("dst"))
        .union(und.select(col("b").as("src"), col("a").as("dst"))).localCheckpoint()
      var dist = s.range(1).select(lit(0L).as("node"), lit(0L).as("d"))
      for (_ <- 1 to 6) {
        val next = edges.join(dist.withColumnRenamed("node", "src"), Seq("src"))
          .select(col("dst").as("node"), (col("d") + 1).as("d"))
        dist = dist.union(next).groupBy(col("node")).agg(min(col("d")).as("d"))
          .coalesce(1).localCheckpoint()
      }
      dist.select(col("node"), col("d").as("dist")).orderBy(col("node"))
    },

    Q(
      "graph_label_prop",
      """WITH e0 AS (
        |  SELECT doc_id % 100 AS a,
        |         ((doc_id % 100) // 10) * 10
        |           + ((doc_id % 100) % 10 + 1 + (doc_id // 100) % 9) % 10 AS b
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id % 100, (doc_id % 100 + 10) % 100
        |  FROM documents WHERE doc_id % 50 = 7),
        |eu AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM e0 WHERE a <> b),
        |e AS (SELECT a AS src, b AS dst FROM eu UNION ALL SELECT b, a FROM eu),
        |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM e),
        |v1 AS (SELECT e.dst AS node, l.lbl, CAST(count(*) AS BIGINT) AS c
        |       FROM e JOIN l0 l ON l.node = e.src GROUP BY 1, 2),
        |l1 AS (SELECT node, lbl FROM (
        |         SELECT node, lbl, row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
        |         FROM v1) t WHERE rn = 1),
        |v2 AS (SELECT e.dst AS node, l.lbl, CAST(count(*) AS BIGINT) AS c
        |       FROM e JOIN l1 l ON l.node = e.src GROUP BY 1, 2),
        |l2 AS (SELECT node, lbl FROM (
        |         SELECT node, lbl, row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
        |         FROM v2) t WHERE rn = 1),
        |v3 AS (SELECT e.dst AS node, l.lbl, CAST(count(*) AS BIGINT) AS c
        |       FROM e JOIN l2 l ON l.node = e.src GROUP BY 1, 2),
        |l3 AS (SELECT node, lbl FROM (
        |         SELECT node, lbl, row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
        |         FROM v3) t WHERE rn = 1)
        |SELECT node, CAST(lbl AS BIGINT) AS community
        |FROM l3 ORDER BY node""".stripMargin
    ) { (s, d) =>
      // Synchronous label propagation (Raghavan-Albert-Kumara 2007) —
      // the COMMUNITY sibling of the connectivity family: dedup_clusters
      // answers "which nodes are reachable" (min-label contraction),
      // LPA answers "which nodes are DENSELY knit" — each node adopts
      // its neighbors' most frequent label, so communities grow only
      // where edges concentrate. The published algorithm is
      // order-dependent (async updates, random tie-breaks); this is the
      // determinized variant a data pipeline needs: SYNCHRONOUS rounds
      // (every node updates from the same previous-round labels) with
      // the (count DESC, label ASC) tie-break, UNROLLED at 3 rounds —
      // fixed depth makes the result reproducible AND bounds sync-LPA's
      // known oscillation mode on bipartite-ish subgraphs. Per round:
      // the |V|-sized label table broadcasts (while it fits) onto the edge
      // fact, one (dst, lbl) collapse, argmax via max(struct) — no
      // window over corpus data; per-round localCheckpoint truncates
      // the 3-deep iterative lineage (the graph_shortest_path lesson).
      // The planted graph has real COMMUNITY structure (the entity graph
      // the BFS keys share collapsed to ONE label in 3 rounds — measured,
      // degenerate as an LPA exhibit): 10 dense intra-decade clusters
      // plus two weak bridges, so the expected readout is ~10 communities
      // with the bridges NOT merging their clusters — count-1 bridge
      // votes lose to intra-cluster majorities, which is exactly how LPA
      // differs from connected components (one component, ten
      // communities).
      val intra = T.documents(s, d)
        .select(expr("doc_id % 100").as("a"),
                expr("((doc_id % 100) DIV 10) * 10 + ((doc_id % 100) % 10 + 1 + (doc_id DIV 100) % 9) % 10").as("b"))
      val bridges = T.documents(s, d)
        .where(expr("doc_id % 50 = 7"))
        .select(expr("doc_id % 100").as("a"), expr("(doc_id % 100 + 10) % 100").as("b"))
      val und = intra.union(bridges)
        .where(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
        .distinct()
      val edges = und.select(col("a").as("src"), col("b").as("dst"))
        .union(und.select(col("b").as("src"), col("a").as("dst"))).localCheckpoint()
      var lbl = edges.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("lbl"))
      for (_ <- 1 to 3) {
        val votes = edges
          .join(lbl.withColumnRenamed("node", "src"), Seq("src"))
          .groupBy(col("dst").as("node"), col("lbl")).agg(count(lit(1)).as("c"))
        lbl = votes
          .groupBy(col("node"))
          .agg(max(struct(col("c"), (lit(0L) - col("lbl")).as("nl"))).as("m"))
          .select(col("node"), (lit(0L) - col("m.nl")).as("lbl"))
          .coalesce(1).localCheckpoint()
      }
      lbl.select(col("node"), col("lbl").cast("long").as("community"))
        .orderBy(col("node"))
    },

    Q(
      "graph_kcore",
      """WITH e0 AS (
        |  SELECT doc_id % 60 AS a,
        |         CASE WHEN doc_id % 60 < 10 THEN
        |                CASE (doc_id // 60) % 3
        |                  WHEN 0 THEN (doc_id % 60 + 1) % 10
        |                  WHEN 1 THEN (doc_id % 60 + 2) % 10
        |                  ELSE (doc_id % 60 + 3) % 10 END
        |              WHEN doc_id % 60 < 20 THEN 10 + (doc_id % 60 - 9) % 10
        |              WHEN doc_id % 60 < 30 THEN
        |                CASE WHEN (doc_id // 60) % 2 = 0 THEN 20 + (doc_id % 60 - 19) % 10
        |                     ELSE doc_id % 60 - 20 END
        |              ELSE doc_id % 60 - 20 END AS b
        |  FROM documents),
        |eu AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM e0 WHERE a <> b),
        |e AS (SELECT a AS src, b AS dst FROM eu UNION ALL SELECT b, a FROM eu),
        |n AS (SELECT DISTINCT src AS node FROM e),
        |d1 AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
        |r1 AS (SELECT node FROM d1 WHERE deg < 3),
        |a1 AS (SELECT node FROM n WHERE node NOT IN (SELECT node FROM r1)),
        |d2 AS (SELECT e.src AS node, CAST(count(*) AS BIGINT) AS deg FROM e
        |       WHERE e.src IN (SELECT node FROM a1) AND e.dst IN (SELECT node FROM a1)
        |       GROUP BY 1),
        |r2 AS (SELECT a1.node FROM a1 LEFT JOIN d2 ON d2.node = a1.node
        |       WHERE coalesce(d2.deg, 0) < 3),
        |a2 AS (SELECT node FROM a1 WHERE node NOT IN (SELECT node FROM r2)),
        |d3 AS (SELECT e.src AS node, CAST(count(*) AS BIGINT) AS deg FROM e
        |       WHERE e.src IN (SELECT node FROM a2) AND e.dst IN (SELECT node FROM a2)
        |       GROUP BY 1),
        |r3 AS (SELECT a2.node FROM a2 LEFT JOIN d3 ON d3.node = a2.node
        |       WHERE coalesce(d3.deg, 0) < 3)
        |SELECT n.node,
        |       CAST(CASE WHEN n.node IN (SELECT node FROM r1) THEN 1
        |                 WHEN n.node IN (SELECT node FROM r2) THEN 2
        |                 WHEN n.node IN (SELECT node FROM r3) THEN 3
        |                 ELSE 0 END AS BIGINT) AS peel_round
        |FROM n ORDER BY n.node""".stripMargin
    ) { (s, d) =>
      // k-core decomposition by iterative peeling (Seidman 1983;
      // Batagelj-Zaveršnik), k = 3, UNROLLED at 3 synchronous rounds —
      // the DENSITY-FLOOR sibling of the graph family: components say
      // "connected", LPA says "densely knit around a majority", the
      // 3-core says "every member keeps ≥ 3 live neighbors AFTER the
      // weak scaffolding peels away" — the crawl-graph/citation-spam
      // screen where peeling, not one degree cut, is the point (a node
      // of degree 3 dies in round 2 when its leaf-propped neighbors die
      // in round 1). The planted graph has a designed CASCADE, saturating
      // identically at every corpus scale: a 10-node dense core
      // (ring+chords, deg 7), a strong shell (ring+core+leaf, deg 4), a
      // WEAK shell (ring+leaf only, deg 3 — propped ABOVE the cut by its
      // leaves), and 30 periphery leaves. Round 1 peels the periphery
      // (deg ≤ 2); round 2 peels the weak shell whose degree FELL to 2
      // when its props died; round 3 removes nothing — the spec pins
      // that round-3 fixpoint against an unbounded driver peel, so the
      // unroll provably reports true 3-core membership on this graph.
      // Scale shape per round: one |V|-bounded semi-join of the edge
      // list against the broadcast alive set, one degree
      // collapse — never all-pairs; the LOUD-budget unbounded variant
      // at 100 TB is the bfsConverged loop-with-delta shape.
      val e0 = T.documents(s, d).selectExpr("doc_id % 60 AS a",
        """CASE WHEN doc_id % 60 < 10 THEN
          |       CASE (doc_id DIV 60) % 3
          |         WHEN 0 THEN (doc_id % 60 + 1) % 10
          |         WHEN 1 THEN (doc_id % 60 + 2) % 10
          |         ELSE (doc_id % 60 + 3) % 10 END
          |     WHEN doc_id % 60 < 20 THEN 10 + (doc_id % 60 - 9) % 10
          |     WHEN doc_id % 60 < 30 THEN
          |       CASE WHEN (doc_id DIV 60) % 2 = 0 THEN 20 + (doc_id % 60 - 19) % 10
          |            ELSE doc_id % 60 - 20 END
          |     ELSE doc_id % 60 - 20 END AS b""".stripMargin)
      val und = e0.where(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
        .distinct()
      val e = und.select(col("a").as("src"), col("b").as("dst"))
        .union(und.select(col("b").as("src"), col("a").as("dst")))
        .localCheckpoint()
      val nodes = e.select(col("src").as("node")).distinct()
      // A localCheckpoint'ed side carries no useful size estimate, so
      // neither the planner nor Gate.bcast broadcasts it (r19: FOUR
      // SortMergeJoins over ≤|V|-row tables).
      // bound: node = doc_id % 60, so every per-round side has ≤ 60 rows
      def small(df: org.apache.spark.sql.DataFrame) = broadcast(df)
      def peel(alive: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
        val al = small(alive)
        val deg = e.join(al.withColumnRenamed("node", "sn"), col("src") === col("sn"))
          .join(al.withColumnRenamed("node", "dn"), col("dst") === col("dn"))
          .groupBy(col("src").as("dnode")).agg(count(lit(1)).cast("long").as("deg"))
        alive.join(small(deg), col("node") === col("dnode"), "left")
          .where(coalesce(col("deg"), lit(0L)) < 3).select(col("node"))
      }
      val r1 = peel(nodes).localCheckpoint()
      val a1 = nodes.join(small(r1.withColumnRenamed("node", "rn")),
        col("node") === col("rn"), "left_anti").localCheckpoint()
      val r2 = peel(a1).localCheckpoint()
      val a2 = a1.join(small(r2.withColumnRenamed("node", "rn")),
        col("node") === col("rn"), "left_anti").localCheckpoint()
      val r3 = peel(a2).localCheckpoint()
      nodes.as("n")
        .join(small(r1.withColumnRenamed("node", "n1")), col("n.node") === col("n1"), "left")
        .join(small(r2.withColumnRenamed("node", "n2")), col("n.node") === col("n2"), "left")
        .join(small(r3.withColumnRenamed("node", "n3")), col("n.node") === col("n3"), "left")
        .select(col("n.node").as("node"),
                when(col("n1").isNotNull, 1L)
                  .when(col("n2").isNotNull, 2L)
                  .when(col("n3").isNotNull, 3L)
                  .otherwise(0L).as("peel_round"))
        .orderBy(col("node"))
    },

    Q(
      "shard_rendezvous",
      s"""WITH f AS (
         |  SELECT doc_id, CAST(${fpSql("text")} AS BIGINT) AS fp
         |  FROM documents WHERE text IS NOT NULL),
         |x AS (
         |  SELECT doc_id, fp, g.s,
         |         (fp * ((g.s + 1) * 2654435761 % 1000000007) + g.s) % 1000000007 AS score
         |  FROM f CROSS JOIN (SELECT unnest(range(0, 8)) AS s) g),
         |r AS (
         |  SELECT doc_id, s, score,
         |         row_number() OVER (PARTITION BY doc_id
         |                            ORDER BY score DESC, s) AS rn
         |  FROM x)
         |SELECT doc_id, CAST(s AS BIGINT) AS shard, CAST(score AS BIGINT) AS hrw_score
         |FROM r WHERE rn = 1
         |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      // Rendezvous (highest-random-weight) sharding - Thaler &
      // Ravishankar 1998, the consistent-placement scheme behind cache
      // rings and shard maps: each doc scores every shard with a
      // deterministic integer mix of (content fingerprint, shard id)
      // and lands on the argmax. THE property shard_balanced and a
      // plain hash-mod deal both lack: removing a shard remaps ONLY the
      // docs that lived on it (every other doc's argmax is untouched) -
      // Round18OpsSpec proves exactly that by recomputing the argmax
      // over 7 shards. Scores are pure BIGINT arithmetic over the
      // content rolling-hash (fp < 1e9, mixed with a Knuth multiplier
      // mod 1e9+7: products stay under 2^63 in both engines), so
      // assignment is bit-identical and rebuild-stable (the
      // sample_split discipline). Scale shape: map-only scoring + a
      // per-doc-keyed rank window (millions of 8-row groups - embarrassingly
      // parallel, no corpus-wide sort; at a larger shard count the 8-row
      // axis is still a broadcast literal).
      val f = T.documents(s, d)
        .where(col("text").isNotNull)
        .select(col("doc_id"), fpSpark("text").cast("long").as("fp"))
      val x = f.crossJoin(s.range(0, 8).select(col("id").as("s")))
        .withColumn("score",
          expr("(fp * ((s + 1) * 2654435761 % 1000000007) + s) % 1000000007"))
      x.withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("doc_id")).orderBy(col("score").desc, col("s"))))
        .where(col("rn") === 1)
        .select(col("doc_id"), col("s").cast("long").as("shard"),
                col("score").cast("long").as("hrw_score"))
        .orderBy(col("doc_id"))
    },

    Q(
      "shard_balanced",
      """WITH t AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, n_tokens,
        |         row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1 AS rk
        |  FROM t)
        |SELECT doc_id, n_tokens,
        |       CAST(CASE WHEN (rk // 8) % 2 = 0 THEN rk % 8 ELSE 7 - rk % 8 END AS BIGINT) AS shard
        |FROM r ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      // Token-balanced shard assignment — the write-side step a training
      // run needs between curation and the data loader: N output shards
      // whose TOKEN totals (not doc counts) come out near-equal, so no
      // loader rank finishes an epoch early. SERPENTINE deal on the
      // size-sorted rank (boustrophedon: band b of 8 deals forward when
      // b is even, backward when odd) — a plain rank-mod-8 deal hands
      // shard 0 the largest doc of EVERY band, a bias that compounds to
      // a ~2.5% spread on the fixture; alternating direction cancels it
      // per band PAIR (measured spread < 0.2%; hash-mod sharding
      // balances only in expectation). Still pure rank arithmetic. The
      // global rank comes from [[graft.GlobalRank]] — never a single-task
      // window.
      val t = T.documents(s, d).select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      GlobalRank(t, Seq(col("n_tokens").desc, col("doc_id").asc))
        .withColumn("rk", col("rank") - 1)
        .select(col("doc_id"), col("n_tokens"),
          expr("CASE WHEN (rk DIV 8) % 2 = 0 THEN rk % 8 ELSE 7 - rk % 8 END").as("shard"))
        .orderBy(col("doc_id"))
    },

    Q(
      "shuffle_epoch",
      """WITH k AS (
        |  SELECT doc_id, md5('epoch1:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
        |  FROM documents)
        |SELECT doc_id, shuffle_key,
        |       CAST(row_number() OVER (ORDER BY shuffle_key, doc_id) AS BIGINT) AS pos
        |FROM k ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      // Deterministic epoch shuffle — the global training-order
      // permutation every run needs and `rand()` cannot give (the
      // sample_* lesson: a partitioning-dependent RNG makes the epoch
      // unreproducible): key = md5 of a seed-prefixed doc id, position =
      // exact global rank under (key, doc_id). Reshuffling is free — a
      // new epoch is a new prefix, nothing re-reads state. Rank comes
      // from [[graft.GlobalRank]] (range-partitioned local running count
      // plus exact collected offsets), so no task ever sorts more than
      // ~1/P of the corpus; the md5 hex compares identically in both
      // engines (split_leakage_safe's cross-engine device).
      val k = T.documents(s, d).select(col("doc_id"),
        md5(concat(lit("epoch1:"), col("doc_id").cast("string"))).as("shuffle_key"))
      GlobalRank(k, Seq(col("shuffle_key").asc, col("doc_id").asc))
        .select(col("doc_id"), col("shuffle_key"), col("rank").as("pos"))
        .orderBy(col("doc_id"))
    },

    Q(
      "text_mtld",
      TrainingOps.mtldOracleSql
    ) { (s, d) =>
      // MTLD — Measure of Textual Lexical Diversity (McCarthy & Jarvis
      // 2010), the published length-robust standard the richness key's
      // hapax/Herdan readouts approximate: walk the token stream
      // keeping a running type-token ratio; each time TTR drops below
      // 0.72 a "factor" completes and the window resets; MTLD = tokens
      // per factor (long texts can't inflate it the way raw TTR
      // deflates). Genuinely SEQUENTIAL — and made cross-engine exact
      // by the PREV-OCCURRENCE trick: precompute each position's
      // previous same-token position with one lag() window, and "is
      // this a new type in the current factor window" becomes
      // prev < factor_start — the fold state collapses to three
      // SCALARS (start, types, factors), so Spark runs a higher-order
      // aggregate per doc (the event_kalman device) and DuckDB a
      // lockstep recursive CTE, with the threshold test in exact
      // integers (TTR < 0.72 ⟺ 25·types < 18·tokens) and the readout
      // N·7k/(7kF + 25(k−t)) a pure-BIGINT rational micro-rounded once
      // (k=0 and the all-distinct no-factor case handled explicitly —
      // NULL, identically, when the measure is undefined). Both passes
      // of the published measure run (backward = the same fold over
      // reversed positions with next-occurrence as prev). Scale shape:
      // one lag/lead window over the token stream (doc-partitioned),
      // one per-doc regroup, then map-side folds over ≤ doc-length
      // arrays — never a corpus-wide recursion.
      val base = T.documents(s, d).where(col("text").isNotNull)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"), col("tok")).orderBy(col("pos"))
      val occ = base
        .withColumn("prv", coalesce(lag(col("pos"), 1).over(w), lit(-1)))
        .withColumn("nxt", lead(col("pos"), 1).over(w))
      // backward items need n per doc before the regroup — compute prv/rpos first
      val withN = occ.withColumn("n",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))))
        .withColumn("rpos", col("n") - 1 - col("pos"))
        .withColumn("rprv",
          when(col("nxt").isNull, lit(-1L)).otherwise(col("n") - 1 - col("nxt")))
      val grouped = withN.groupBy(col("doc_id"))
        .agg(max(col("n")).cast("long").as("n"),
             sort_array(collect_list(struct(col("pos").cast("long").as("p"),
                                            col("prv").cast("long").as("v")))).as("fw"),
             sort_array(collect_list(struct(col("rpos").cast("long").as("p"),
                                            col("rprv").cast("long").as("v")))).as("bw"))
      val foldTpl =
        """aggregate(%s,
          |  named_struct('start', 0L, 't', 0L, 'f', 0L),
          |  (st, it) -> CASE
          |    WHEN 25L * (st.t + (CASE WHEN it.v < st.start THEN 1L ELSE 0L END))
          |         < 18L * (it.p - st.start + 1L)
          |    THEN named_struct('start', it.p + 1L, 't', 0L, 'f', st.f + 1L)
          |    ELSE named_struct('start', st.start,
          |                      't', st.t + (CASE WHEN it.v < st.start THEN 1L ELSE 0L END),
          |                      'f', st.f) END)""".stripMargin
      val readTpl =
        """CASE WHEN n - %1$s.start = 0
          |     THEN CAST(((2 * (1000000 * n) + %1$s.f) DIV (2 * %1$s.f)) AS DOUBLE) / 1000000
          |     WHEN 7 * (n - %1$s.start) * %1$s.f + 25 * ((n - %1$s.start) - %1$s.t) = 0
          |     THEN CAST(NULL AS DOUBLE)
          |     ELSE CAST(((2 * (1000000 * n * 7 * (n - %1$s.start))
          |                 + (7 * (n - %1$s.start) * %1$s.f + 25 * ((n - %1$s.start) - %1$s.t)))
          |                DIV (2 * (7 * (n - %1$s.start) * %1$s.f + 25 * ((n - %1$s.start) - %1$s.t))))
          |               AS DOUBLE) / 1000000 END""".stripMargin
      grouped
        .withColumn("sf_", expr(foldTpl.format("fw")))
        .withColumn("sb_", expr(foldTpl.format("bw")))
        .selectExpr("doc_id", "n AS n_tokens",
          s"${readTpl.format("sf_")} AS mtld_fwd",
          s"${readTpl.format("sb_")} AS mtld_bwd")
        .orderBy(col("doc_id"))
    },

    Q(
      "text_lexical_richness",
      s"""WITH t AS (
         |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
         |  WHERE source IS NOT NULL AND text IS NOT NULL),
         |c AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1, 2),
         |a AS (
         |  SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
         |         CAST(count(*) AS BIGINT) AS vocab,
         |         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax
         |  FROM c GROUP BY 1)
         |SELECT source, n_tokens, vocab, hapax,
         |       CAST((1000000 * hapax) // vocab AS BIGINT) AS hapax_ppm,
         |       round((${lnProbTpl("(1.0 / CAST(vocab AS DOUBLE))")}) / (${lnProbTpl("(1.0 / CAST(n_tokens AS DOUBLE))")}), 6) AS herdan_c
         |FROM a ORDER BY source""".stripMargin
    ) { (s, d) =>
      // Lexical-richness profile per source domain - the vocabulary-side
      // QA siblings of text_zipf_fit's frequency slope: hapax share
      // (singleton vocabulary fraction - boilerplate-heavy or
      // template-spun sources sit LOW, organic prose high) and Herdan's
      // C = ln V / ln N (Herdan 1960; Heaps' law exponent in disguise),
      // the size-robust type-token ratio the raw V/N is not. Exactness:
      // counts are exact BIGINTs off ONE (source, token) collapse;
      // hapax_ppm is integer floor arithmetic; ln V and ln N enter as
      // -ln(1/V), -ln(1/N) through the shared bit-deterministic template
      // (1/N stays above the ladder's 2^-32 floor through ~4e9 tokens -
      // a planet corpus extends the octave ladder, same discipline), and
      // the single IEEE division splices as identical text. Scale: the
      // corpus collapses once via the fused unigram hasher (the
      // text_source_divergence convention: hashed grams stand in for
      // string tokens, collision-free on the fixture vocabulary); the
      // richness readout is |sources| rows of arithmetic.
      val c = T.documents(s, d)
        .where(col("source").isNotNull && col("text").isNotNull)
        .select(col("source"),
          explode(graft.functions.HashedWordGramsSeq(col("text"), 1)).as("h"))
        .groupBy(col("source"), col("h")).agg(count(lit(1)).as("c"))
      c.groupBy(col("source"))
        .agg(sum(col("c")).cast("long").as("n_tokens"),
             count(lit(1)).cast("long").as("vocab"),
             sum(when(col("c") === 1, 1L).otherwise(0L)).cast("long").as("hapax"))
        .selectExpr("source", "n_tokens", "vocab", "hapax",
          "CAST((1000000 * hapax) DIV vocab AS BIGINT) AS hapax_ppm",
          s"round((${lnProbTpl("(1.0 / CAST(vocab AS DOUBLE))")}) / (${lnProbTpl("(1.0 / CAST(n_tokens AS DOUBLE))")}), 6) AS herdan_c")
        .orderBy(col("source"))
    },

    Q(
      "text_source_divergence",
      s"""WITH t AS (
         |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
         |c AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1, 2),
         |n AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1),
         |sp AS (SELECT a.source AS sa, b.source AS sb
         |       FROM n a JOIN n b ON a.source < b.source),
         |ga AS (SELECT sp.sa, sp.sb, c.tok, c.c AS ca FROM sp JOIN c ON c.source = sp.sa),
         |gb AS (SELECT sp.sa, sp.sb, c.tok, c.c AS cb FROM sp JOIN c ON c.source = sp.sb),
         |gg AS (
         |  SELECT coalesce(ga.sa, gb.sa) AS sa, coalesce(ga.sb, gb.sb) AS sb,
         |         coalesce(ga.tok, gb.tok) AS tok,
         |         coalesce(ga.ca, 0) AS ca, coalesce(gb.cb, 0) AS cb
         |  FROM ga FULL JOIN gb ON ga.sa = gb.sa AND ga.sb = gb.sb AND ga.tok = gb.tok),
         |f AS (
         |  SELECT gg.sa, gg.sb, gg.ca, gg.cb, na.n AS na, nb.n AS nb
         |  FROM gg JOIN n na ON na.source = gg.sa JOIN n nb ON nb.source = gg.sb),
         |m AS (
         |  SELECT sa, sb, na, nb,
         |         CAST(round(500000000.0 * (
         |           CASE WHEN ca > 0 THEN (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)) * (${lnProbTpl("(CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))")} - ${lnProbTpl("(((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)) + (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))) / 2.0)")}) ELSE 0.0 END +
         |           CASE WHEN cb > 0 THEN (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)) * (${lnProbTpl("(CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))")} - ${lnProbTpl("(((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)) + (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))) / 2.0)")}) ELSE 0.0 END)) AS BIGINT) AS term
         |  FROM f)
         |SELECT sa AS source_a, sb AS source_b,
         |       CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
         |       CAST(sum(term) AS BIGINT) AS jsd_nanonats
         |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    ) { (s, d) =>
      // Pairwise Jensen–Shannon divergence between source-domain unigram
      // distributions — the data-cartography readout behind mixture
      // design (which sources are near-duplicates of each other in
      // DISTRIBUTION, not document, space; JSD is KL's bounded symmetric
      // cousin, ≤ ln 2). Per (a, b): JSD = ½Σ p·(ln p − ln m) +
      // ½Σ q·(ln q − ln m), m = (p+q)/2 — every ln argument lives in
      // (0,1], the shared template [[lnProbTpl]]'s domain, and each
      // token's combined term rounds to integer NANOnats (terms are
      // O(p·ln2); micronats would zero them) before the sum, so the
      // total is an exact-integer chain over bit-identical IEEE terms.
      // Scale shape: the corpus collapses ONCE to the (source, token)
      // count table via the fused unigram hasher; everything pairwise
      // happens on that collapsed table (|sources|²/2 pair tags, a
      // full-outer hash join on (pair, token), broadcast totals) — the
      // fact table never joins itself.
      // checkpointed: n, the pair grid, and BOTH join sides read this
      // collapsed table — unmaterialized, every reference re-scans and
      // re-hashes the document fact (measured 5 live fact scans in the
      // executed plan; PlanSpec pins ≤1). localCheckpoint over persist:
      // the row-store materialization measured cheaper than the
      // columnar cache here, the graph_shortest_path lesson.
      val c = T.documents(s, d)
        .select(col("source"),
          explode(graft.functions.HashedWordGramsSeq(col("text"), 1)).as("h"))
        .groupBy(col("source"), col("h")).agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val n = c.groupBy(col("source")).agg(sum(col("c")).as("n"))
      val sp = n.select(col("source").as("sa"))
        .join(n.select(col("source").as("sb")), col("sa") < col("sb"))
      val p0 = "(CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))"
      val q0 = "(CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))"
      val m0 = s"((($p0) + ($q0)) / 2.0)"
      // ln p / ln q evaluate on the collapsed SIDES, leaving a single
      // template instance after the full-outer join: four spliced
      // 32-branch ladders in the join's codegen stage measured past
      // Janino's method-size ceiling (interpreted fallback); one is the
      // text_perplexity-proven size. Same template text on the same
      // doubles, so the IEEE dataflow — and the oracle match — is
      // unchanged.
      // r19 opt: the |pairs|-row grid rides BROADCAST onto the collapsed
      // table (the before-plan ran both attaches as SortMergeJoins), and
      // the full-outer join on (sa, sb, h) — two exchanges + sorts — is
      // re-expressed as a tagged union + one hash aggregation: each side
      // contributes at most one row per (pair, token), so max() over the
      // union reproduces the outer join's coalesce exactly (absent side
      // → NULL → the same CASE arm as before). One exchange, no sorts;
      // the ln templates still evaluate on the collapsed sides, so the
      // IEEE dataflow per row is unchanged.
      def nOf(side: String) =
        // bound: one row per source
        broadcast(n.select(col("source").as(s"s$side"), col("n").as(s"n$side")))
      val ga = graft.Gate.bcast(sp).join(c.withColumnRenamed("source", "sa"), Seq("sa"))
        .join(nOf("a"), Seq("sa"))
        .select(col("sa"), col("sb"), col("h"), col("c").as("ca"),
                expr(lnProbTpl("(CAST(c AS DOUBLE) / CAST(na AS DOUBLE))")).as("lnp"),
                lit(null).cast("long").as("cb"), lit(null).cast("double").as("lnq"))
      val gb = graft.Gate.bcast(sp).join(c.withColumnRenamed("source", "sb"), Seq("sb"))
        .join(nOf("b"), Seq("sb"))
        .select(col("sa"), col("sb"), col("h"), lit(null).cast("long").as("ca"),
                lit(null).cast("double").as("lnp"),
                col("c").as("cb"), expr(lnProbTpl("(CAST(c AS DOUBLE) / CAST(nb AS DOUBLE))")).as("lnq"))
      ga.unionByName(gb)
        .groupBy(col("sa"), col("sb"), col("h"))
        .agg(max(col("ca")).as("ca"), max(col("lnp")).as("lnp"),
             max(col("cb")).as("cb"), max(col("lnq")).as("lnq"))
        .na.fill(0L, Seq("ca", "cb"))
        .join(nOf("a"), Seq("sa"))
        .join(nOf("b"), Seq("sb"))
        .withColumn("lnm", expr(lnProbTpl(m0)))
        .withColumn("term", expr(
          s"CAST(round(500000000.0 * (" +
          s"CASE WHEN ca > 0 THEN $p0 * (lnp - lnm) ELSE 0.0 END + " +
          s"CASE WHEN cb > 0 THEN $q0 * (lnq - lnm) ELSE 0.0 END)) AS BIGINT)"))
        .groupBy(col("sa"), col("sb"))
        .agg(max(col("na")).cast("long").as("n_a"),
             max(col("nb")).cast("long").as("n_b"),
             sum(col("term")).cast("long").as("jsd_nanonats"))
        .select(col("sa").as("source_a"), col("sb").as("source_b"),
                col("n_a"), col("n_b"), col("jsd_nanonats"))
        .orderBy(col("source_a"), col("source_b"))
    },

    Q(
      "sample_curriculum",
      """WITH s AS (
        |  SELECT doc_id,
        |         (1000000 * len(list_filter(string_split(lower(text), ' '),
        |                        t -> list_contains(['the','a','of','and','to','is','in'], t))))
        |           // len(string_split(text, ' ')) AS score_ppm
        |  FROM documents),
        |r AS (SELECT doc_id, score_ppm,
        |             row_number() OVER (ORDER BY score_ppm DESC, doc_id) - 1 AS rk
        |      FROM s),
        |n AS (SELECT count(*) AS n FROM s)
        |SELECT doc_id, CAST(score_ppm AS BIGINT) AS score_ppm,
        |       CAST((rk * 10) // n AS BIGINT) AS stage
        |FROM r, n ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      // Curriculum staging — order the corpus easy-first for curriculum
      // training (Bengio et al.): stage 0 = the most natural-prose
      // decile, stage 9 = the noisiest, by the stopword-density proxy
      // (exact integer ppm — text_quality's stopword gate turned into a
      // rank key; no float score to drift). Deciles come from the exact
      // global rank, ntile's arithmetic applied directly
      // (stage = ⌊10·rk/n⌋ — sizes differ by ≤ 1 by construction), so
      // membership is deterministic under any partitioning/engine.
      // Scale shape: [[graft.GlobalRank]]'s two bounded exchanges, whose
      // per-row total is n; never a single-task window.
      val sc = T.documents(s, d)
        .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
        .withColumn("stop_hits",
          expr("size(filter(split(lower(text), ' '), t -> t IN ('the','a','of','and','to','is','in')))").cast("long"))
        .select(col("doc_id"), expr("(1000000 * stop_hits) DIV n_tokens").as("score_ppm"))
      GlobalRank(sc, Seq(col("score_ppm").desc, col("doc_id").asc))
        .select(col("doc_id"), col("score_ppm"),
          expr("((rank - 1) * 10) DIV total").as("stage"))
        .orderBy(col("doc_id"))
    },

    Q(
      "tokenizer_bpe_pairs",
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |p AS (
        |  SELECT substring(tok, i, 2) AS pair
        |  FROM tok, unnest(range(1, length(tok))) AS t(i)
        |  WHERE length(tok) >= 2)
        |SELECT pair, CAST(count(*) AS BIGINT) AS cnt
        |FROM p GROUP BY pair
        |ORDER BY cnt DESC, pair LIMIT 30""".stripMargin
    ) { (s, d) =>
      // BPE merge-candidate mining — the corpus-wide inner statistic of
      // byte-pair-encoding tokenizer training (Sennrich et al.: merge
      // the most frequent adjacent symbol pair, repeat): counts of every
      // adjacent character pair inside tokens, top 30 with a total
      // (count, pair) tie-break so the cut is deterministic. One
      // iteration is the engine's job — the merge LOOP is
      // plans.TokenizerBpeTrainJob re-running exactly this query over a
      // rewritten symbol stream. Scale shape: the pair stream is the
      // fused byte-scan [[graft.functions.CharPairCodes]] (one int per
      // pair — the transform-substring lambda it replaced ran
      // interpreted and allocated a 2-char string per position, the
      // SCALE.md interpreted-lambda rule), partial+final count on the
      // charset²-bounded INT key, TakeOrderedAndProject, and only the
      // 30 winners convert back to strings — the corpus never shuffles.
      T.documents(s, d)
        .select(explode(graft.functions.CharPairCodes(col("text"))).as("pc"))
        .groupBy(col("pc")).agg(count(lit(1)).as("cnt"))
        .select(expr("concat(char(pc DIV 256), char(pc % 256))").as("pair"), col("cnt"))
        .orderBy(col("cnt").desc, col("pair").asc)
        .limit(30)
    },

    Q(
      "tokenizer_cp_pairs",
      """WITH d AS (
        |  SELECT replace(replace(replace(text, 'a', 'ä'), 'e', 'é'), 't', '🎉') AS text
        |  FROM documents),
        |tok AS (SELECT unnest(string_split(text, ' ')) AS tok FROM d),
        |p AS (
        |  SELECT CAST(ascii(substring(tok, i, 1)) AS BIGINT) AS cp1,
        |         CAST(ascii(substring(tok, i + 1, 1)) AS BIGINT) AS cp2
        |  FROM tok, unnest(range(1, length(tok))) AS t(i)
        |  WHERE length(tok) >= 2)
        |SELECT cp1, cp2, CAST(count(*) AS BIGINT) AS cnt
        |FROM p GROUP BY 1, 2
        |ORDER BY cnt DESC, cp1, cp2 LIMIT 30""".stripMargin
    ) { (s, d) =>
      // UTF-8-SAFE BPE pair mining (VERDICT r16 #5) — the codepoint
      // sibling of tokenizer_bpe_pairs: the ASCII lane's loud abort on
      // byte ≥ 0x80 is correct but means a real multilingual corpus
      // can't run it, so this key mines the same adjacent-pair
      // statistic over Unicode scalar values. The fixture is ASCII, so
      // the multilingual corpus is DERIVED in-flight identically in
      // both engines (a→ä 2-byte, e→é 2-byte, t→🎉 4-byte
      // supplementary-plane — the case a Java char-pair iteration gets
      // wrong); nothing about the lane depends on the derivation. Pair
      // codes are EXACT 42-bit fuses ((cp1<<21)|cp2 — scalar values fit
      // 21 bits), not hashes, so DuckDB recomputes them from ascii()
      // code points and the top-30 cut compares as plain integers.
      // Scale shape identical to the ASCII lane: fused one-pass decode
      // ([[graft.functions.CodePointPairCodes]] walks raw UTF-8, throws
      // on malformed bytes), partial+final count on a bounded LONG key,
      // TakeOrderedAndProject — the corpus never shuffles.
      val derived = replace(replace(replace(col("text"),
        lit("a"), lit("ä")), lit("e"), lit("é")), lit("t"), lit("🎉"))
      T.documents(s, d)
        .select(explode(graft.functions.CodePointPairCodes(derived)).as("pc"))
        .groupBy(col("pc")).agg(count(lit(1)).as("cnt"))
        .select(expr("pc DIV 2097152").as("cp1"),
                expr("pc % 2097152").as("cp2"), col("cnt"))
        .orderBy(col("cnt").desc, col("cp1").asc, col("cp2").asc)
        .limit(30)
    },

    Q(
      "text_entropy",
      s"""WITH t AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |c AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1, 2),
         |n AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1),
         |l AS (
         |  SELECT c.doc_id, c.c, n.n,
         |         CAST(round(${lnProbTpl("(CAST(c.c AS DOUBLE) / CAST(n.n AS DOUBLE))")} * 1000.0) AS BIGINT) AS l
         |  FROM c JOIN n USING (doc_id))
         |SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tokens,
         |       CAST((-sum(c * l)) // max(n) AS BIGINT) AS entropy_millinats
         |FROM l GROUP BY doc_id ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      // Token-distribution Shannon entropy per document, in millinats —
      // the information-density quality gate between text_repetition's
      // single top-bigram share and text_perplexity's corpus LM: spam
      // and keyword-stuffed pages sit far below ln(n_tokens), natural
      // prose near it. Float discipline is text_perplexity's: each
      // distinct token's ln(c/n) goes through the SHARED bit-
      // deterministic template [[lnProbTpl]] and rounds to integer
      // millinats BEFORE the count-weighted sum, so H = (−Σ c·l) DIV n
      // is an exact-integer chain with no cross-engine summation-order
      // drift. Scale shape: the corpus collapses once to (doc, token)
      // counts via the fused unigram hasher; the n-rejoin is a window
      // over the already-collapsed per-doc vocab (bounded per doc), and
      // everything after is a per-doc aggregate.
      val c = T.documents(s, d)
        .select(col("doc_id"),
          explode(graft.functions.HashedWordGramsSeq(col("text"), 1)).as("h"))
        .groupBy(col("doc_id"), col("h")).agg(count(lit(1)).as("c"))
      c.withColumn("n", sum(col("c")).over(Window.partitionBy(col("doc_id"))))
        .withColumn("l", expr(
          s"CAST(round(${lnProbTpl("(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))")} * 1000.0) AS BIGINT)"))
        .groupBy(col("doc_id"))
        .agg(max(col("n")).as("n_tokens"),
             expr("CAST((-sum(c * l)) DIV max(n) AS BIGINT)").as("entropy_millinats"))
        .orderBy(col("doc_id"))
    },

    Q(
      "data_drift_psi",
      s"""WITH e AS (SELECT event_type, epoch_ms(ts) AS ms FROM events),
         |b AS (SELECT min(ms) AS lo, max(ms) AS hi FROM e),
         |t AS (
         |  SELECT event_type, (ms // 3600000) % 24 AS hr,
         |         CASE WHEN ms * 2 >= b.lo + b.hi THEN 1 ELSE 0 END AS late
         |  FROM e, b),
         |c AS (SELECT event_type, hr, late, CAST(count(*) AS BIGINT) AS c
         |      FROM t GROUP BY 1, 2, 3),
         |n AS (SELECT event_type, late, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1, 2),
         |g AS (SELECT event_type, hr
         |      FROM (SELECT DISTINCT event_type FROM e), unnest(range(0, 24)) AS r(hr)),
         |f AS (
         |  SELECT g.event_type, g.hr,
         |         coalesce(c0.c, 0) AS c0, coalesce(c1.c, 0) AS c1,
         |         coalesce(n0.n, 0) AS n0, coalesce(n1.n, 0) AS n1
         |  FROM g
         |  LEFT JOIN c c0 ON c0.event_type = g.event_type AND c0.hr = g.hr AND c0.late = 0
         |  LEFT JOIN c c1 ON c1.event_type = g.event_type AND c1.hr = g.hr AND c1.late = 1
         |  LEFT JOIN n n0 ON n0.event_type = g.event_type AND n0.late = 0
         |  LEFT JOIN n n1 ON n1.event_type = g.event_type AND n1.late = 1),
         |m AS (
         |  SELECT event_type, n0, n1,
         |         CAST(round(1000000.0 *
         |           ((CAST(c0 + 1 AS DOUBLE) / CAST(n0 + 24 AS DOUBLE)) - (CAST(c1 + 1 AS DOUBLE) / CAST(n1 + 24 AS DOUBLE))) *
         |           (${lnProbTpl("(CAST(c0 + 1 AS DOUBLE) / CAST(n0 + 24 AS DOUBLE))")} - ${lnProbTpl("(CAST(c1 + 1 AS DOUBLE) / CAST(n1 + 24 AS DOUBLE))")})) AS BIGINT) AS term
         |  FROM f)
         |SELECT event_type, CAST(max(n0) AS BIGINT) AS n_before, CAST(max(n1) AS BIGINT) AS n_after,
         |       CAST(sum(term) AS BIGINT) AS psi_micronats
         |FROM m GROUP BY event_type ORDER BY event_type NULLS FIRST""".stripMargin
    ) { (s, d) =>
      // Population-stability-index drift monitor — the data-quality
      // alarm a continuously-crawled corpus pipeline runs between
      // snapshots (PSI ≥ 0; credit-scoring folklore flags > 0.2):
      // per event type, compare the hour-of-day distribution of the
      // first half of the time range against the second half,
      // PSI = Σ_b (p_b − q_b)·ln(p_b/q_b) over the 24 buckets with
      // Laplace (+1) smoothing so empty buckets stay in ln's domain.
      // Float discipline: shares are single IEEE divisions of exact
      // integers, each ln rides [[lnProbTpl]] (ln p − ln q, both
      // arguments in (0,1]), and each bucket's term rounds to integer
      // MICROnats before the 24-term sum — no summation-order drift.
      // Scale shape: one bounded-key count off the scan (types×2×24),
      // a 1-row min/max bound broadcast-attached, then everything
      // downstream lives on the bounded grid.
      val ev = T.events(s, d).select(col("event_type"), unix_millis(col("ts")).as("ms"))
      val bounds = ev.agg(min(col("ms")).as("lo"), max(col("ms")).as("hi"))
      // r19 A/B (negative result): persisting this bounded count table
      // measured 0.83 s → 1.22 s solo at sf0.1 — the four consumers'
      // duplicate subtrees share one plan, so ReuseExchange + concurrent
      // stage scheduling make the recompute nearly free, while the
      // persist inserts a serializing cache-fill job. The single-plan
      // shape stands.
      val cnt = ev.crossJoin(bounds)
        .select(col("event_type"), expr("(ms DIV 3600000) % 24").as("hr"),
                (col("ms") * 2 >= col("lo") + col("hi")).cast("int").as("late"))
        .groupBy(col("event_type"), col("hr"), col("late")).agg(count(lit(1)).as("c"))
      val n = cnt.groupBy(col("event_type"), col("late")).agg(sum(col("c")).as("n"))
      def side(df: org.apache.spark.sql.DataFrame, late: Int, cols: (String, String)*) =
        // bound: one row per event type (× 24 hours for cnt)
        broadcast(df.where(col("late") === late)
          .select(col("event_type") +: cols.map { case (a, b) => col(a).as(b) }: _*))
      val grid = cnt.select(col("event_type")).distinct()
        .select(col("event_type"), explode(expr("sequence(0L, 23L)")).as("hr"))
      val p0 = "(CAST(c0 + 1 AS DOUBLE) / CAST(n0 + 24 AS DOUBLE))"
      val p1 = "(CAST(c1 + 1 AS DOUBLE) / CAST(n1 + 24 AS DOUBLE))"
      grid.join(side(cnt, 0, "hr" -> "hr", "c" -> "c0"), Seq("event_type", "hr"), "left")
        .join(side(cnt, 1, "hr" -> "hr", "c" -> "c1"), Seq("event_type", "hr"), "left")
        .join(side(n, 0, "n" -> "n0"), Seq("event_type"), "left")
        .join(side(n, 1, "n" -> "n1"), Seq("event_type"), "left")
        .na.fill(0L, Seq("c0", "c1", "n0", "n1"))
        .withColumn("term", expr(
          s"CAST(round(1000000.0 * ($p0 - $p1) * " +
          s"(${lnProbTpl(p0)} - ${lnProbTpl(p1)})) AS BIGINT)"))
        .groupBy(col("event_type"))
        .agg(max(col("n0")).cast("long").as("n_before"),
             max(col("n1")).cast("long").as("n_after"),
             sum(col("term")).cast("long").as("psi_micronats"))
        .orderBy(col("event_type"))
    },

    Q(
      "data_drift_ks",
      s"""WITH e AS (
        |  SELECT event_type, epoch_ms(ts) AS ms, CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT min(ms) AS lo, max(ms) AS hi FROM e),
        |t AS (SELECT event_type, cents,
        |             CASE WHEN ms * 2 >= b.lo + b.hi THEN 1 ELSE 0 END AS late
        |      FROM e, b),
        |c AS (SELECT event_type, cents,
        |             CAST(sum(CASE WHEN late = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d0,
        |             CAST(sum(late) AS BIGINT) AS d1
        |      FROM t GROUP BY 1, 2),
        |n AS (SELECT event_type, CAST(sum(d0) AS BIGINT) AS n0, CAST(sum(d1) AS BIGINT) AS n1
        |      FROM c GROUP BY 1),
        |cum AS (SELECT event_type, cents,
        |               CAST(sum(d0) OVER (PARTITION BY event_type ORDER BY cents
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c0,
        |               CAST(sum(d1) OVER (PARTITION BY event_type ORDER BY cents
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c1
        |        FROM c),
        |k AS (SELECT cum.event_type,
        |             CAST(max(abs(c0 * n.n1 - c1 * n.n0)) AS BIGINT) AS ks_num,
        |             CAST(max(n.n0) AS BIGINT) AS n_before, CAST(max(n.n1) AS BIGINT) AS n_after
        |      FROM cum JOIN n ON n.event_type = cum.event_type
        |        OR (n.event_type IS NULL AND cum.event_type IS NULL)
        |      GROUP BY 1)
         |SELECT event_type, n_before, n_after, ks_num,
         |       CAST(${graft.operators.LlmOps.microRoundSql("1000000 * ks_num", "n_before * n_after", "//")} AS DOUBLE) / 1000000 AS ks_stat
         |FROM k WHERE n_before > 0 AND n_after > 0
         |ORDER BY event_type NULLS FIRST""".stripMargin
    ) { (s, d) =>
      // Two-sample Kolmogorov-Smirnov drift monitor — data_drift_psi's
      // CONTINUOUS sibling: PSI needs a bucketing choice (24 hour bins)
      // and goes blind inside a bucket; KS compares the full empirical
      // CDFs of the metric (early half vs late half of the time range,
      // same split as PSI) and is the standard binning-free two-sample
      // test (Kolmogorov 1933, Smirnov 1939). EXACT integer algebra the
      // whole way: values enter as once-rounded cents, the ECDF gap at
      // every step is |c0·n1 − c1·n0| — a pure BIGINT whose max IS the
      // KS numerator, and even the readout D = ks_num/(n0·n1) avoids
      // IEEE round(…,6): a rational with denominator n0·n1 CAN land on
      // a 6-decimal midpoint (the text_readability measured class), so
      // the micro-unit is integer-rounded by [[LlmOps.microRoundSql]]
      // and the emitted double is micro/10⁶ — identical bits by
      // construction. Supremum-at-steps suffices: between observed
      // values both ECDFs are flat, so the max over the distinct-value
      // table is the true sup. Scale shape: one corpus collapse to the
      // (type, distinct cents) table with BOTH half-counts carried per
      // row, cumulative window + max over that COLLAPSED table — bounded
      // by the value domain (a monetary grid: ~10⁶ distinct cents),
      // never the event count; at widths beyond that the production
      // answer is the sketch ladder (per-slice KLL, max over the
      // quantile grid), which agg_kll_quantiles already provides.
      val ev = T.events(s, d).where(col("value").isNotNull)
        .select(col("event_type"), unix_millis(col("ts")).as("ms"),
                round(col("value") * 100).cast("long").as("cents"))
      val bounds = ev.agg(min(col("ms")).as("lo"), max(col("ms")).as("hi"))
      val c = ev.crossJoin(bounds)
        .select(col("event_type"), col("cents"),
                (col("ms") * 2 >= col("lo") + col("hi")).cast("int").as("late"))
        .groupBy(col("event_type"), col("cents"))
        .agg(sum(when(col("late") === 0, 1L).otherwise(0L)).as("d0"),
             sum(col("late").cast("long")).as("d1"))
      val n = c.groupBy(col("event_type"))
        .agg(sum(col("d0")).as("n0"), sum(col("d1")).as("n1"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("cents"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      c.select(col("event_type"), col("cents"),
               sum(col("d0")).over(w).as("c0"), sum(col("d1")).over(w).as("c1"))
        .as("cum")
        .join(n.as("nn"), col("cum.event_type") <=> col("nn.event_type"))
        .select(col("cum.event_type").as("event_type"), col("c0"), col("c1"),
                col("n0"), col("n1"))
        .groupBy(col("event_type"))
        .agg(max(abs(col("c0") * col("n1") - col("c1") * col("n0"))).cast("long").as("ks_num"),
             max(col("n0")).cast("long").as("n_before"),
             max(col("n1")).cast("long").as("n_after"))
        .where(col("n_before") > 0 && col("n_after") > 0)
        .selectExpr("event_type", "n_before", "n_after", "ks_num",
          s"CAST(${graft.operators.LlmOps.microRoundSql("1000000 * ks_num", "n_before * n_after", "DIV")} AS DOUBLE) / 1000000 AS ks_stat")
        .orderBy(col("event_type"))
    },

    Q(
      "data_drift_wasserstein",
      s"""WITH e AS (
        |  SELECT event_type, epoch_ms(ts) AS ms, CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT min(ms) AS lo, max(ms) AS hi FROM e),
        |t AS (SELECT event_type, cents,
        |             CASE WHEN ms * 2 >= b.lo + b.hi THEN 1 ELSE 0 END AS late
        |      FROM e, b),
        |c AS (SELECT event_type, cents,
        |             CAST(sum(CASE WHEN late = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d0,
        |             CAST(sum(late) AS BIGINT) AS d1
        |      FROM t GROUP BY 1, 2),
        |n AS (SELECT event_type, CAST(sum(d0) AS BIGINT) AS n0, CAST(sum(d1) AS BIGINT) AS n1
        |      FROM c GROUP BY 1),
        |cum AS (SELECT event_type, cents,
        |               CAST(sum(d0) OVER (PARTITION BY event_type ORDER BY cents
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c0,
        |               CAST(sum(d1) OVER (PARTITION BY event_type ORDER BY cents
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c1,
        |               CAST(coalesce(lead(cents) OVER (PARTITION BY event_type ORDER BY cents)
        |                 - cents, 0) AS BIGINT) AS width
        |        FROM c),
        |k AS (SELECT cum.event_type,
        |             CAST(sum(abs(c0 * n.n1 - c1 * n.n0) * width) AS BIGINT) AS w1_num,
        |             CAST(max(n.n0) AS BIGINT) AS n_before, CAST(max(n.n1) AS BIGINT) AS n_after
        |      FROM cum JOIN n ON n.event_type = cum.event_type
        |        OR (n.event_type IS NULL AND cum.event_type IS NULL)
        |      GROUP BY 1)
         |SELECT event_type, n_before, n_after, w1_num,
         |       CAST(${graft.operators.LlmOps.microRoundSql("1000000 * w1_num", "n_before * n_after", "//")} AS DOUBLE) / 1000000 AS w1_cents
         |FROM k WHERE n_before > 0 AND n_after > 0
         |ORDER BY event_type NULLS FIRST""".stripMargin
    ) { (s, d) =>
      // 1-D Wasserstein (earth-mover) drift — `data_drift_ks`'s
      // MAGNITUDE sibling. KS reports the worst single ECDF gap and is
      // deliberately insensitive to how LONG the gap persists along the
      // value axis; W₁ integrates it: on the real line
      // W₁ = ∫|F₀−F₁|dx (Vallender 1974), so a 1-cent shift of the
      // whole distribution scores 1 cent while KS saturates. Between
      // observed values both ECDFs are flat, so the integral is EXACTLY
      // Σᵢ |F₀−F₁|(xᵢ)·(xᵢ₊₁−xᵢ) over the distinct-cents grid — the
      // same one-collapse machinery as KS with one extra lead() for the
      // step width, and the numerator Σ|c0·n1−c1·n0|·width is a pure
      // BIGINT (the last grid row's lead is NULL → width 0, i.e. the
      // integral stops at the largest observed value, identically in
      // both engines via the same coalesce). Readout W₁ = num/(n0·n1)
      // in CENTS through [[LlmOps.microRoundSql]] — denominators of the
      // form n0·n1 are the measured midpoint class, so IEEE round(…,6)
      // is avoided by construction. Scale shape: identical to KS —
      // bounded by the monetary value domain, never event count; beyond
      // that domain the production answer is per-slice KLL quantile
      // grids, where the same sum over quantile steps approximates W₁
      // with the sketch's rank error.
      val ev = T.events(s, d).where(col("value").isNotNull)
        .select(col("event_type"), unix_millis(col("ts")).as("ms"),
                round(col("value") * 100).cast("long").as("cents"))
      val bounds = ev.agg(min(col("ms")).as("lo"), max(col("ms")).as("hi"))
      val c = ev.crossJoin(bounds)
        .select(col("event_type"), col("cents"),
                (col("ms") * 2 >= col("lo") + col("hi")).cast("int").as("late"))
        .groupBy(col("event_type"), col("cents"))
        .agg(sum(when(col("late") === 0, 1L).otherwise(0L)).as("d0"),
             sum(col("late").cast("long")).as("d1"))
      val n = c.groupBy(col("event_type"))
        .agg(sum(col("d0")).as("n0"), sum(col("d1")).as("n1"))
      val wSpec = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("cents"))
      val wCum = wSpec.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      c.select(col("event_type"), col("cents"),
               sum(col("d0")).over(wCum).as("c0"), sum(col("d1")).over(wCum).as("c1"),
               coalesce(lead(col("cents"), 1).over(wSpec) - col("cents"), lit(0L))
                 .cast("long").as("width"))
        .as("cum")
        .join(n.as("nn"), col("cum.event_type") <=> col("nn.event_type"))
        .select(col("cum.event_type").as("event_type"), col("c0"), col("c1"),
                col("width"), col("n0"), col("n1"))
        .groupBy(col("event_type"))
        .agg(sum(abs(col("c0") * col("n1") - col("c1") * col("n0")) * col("width"))
               .cast("long").as("w1_num"),
             max(col("n0")).cast("long").as("n_before"),
             max(col("n1")).cast("long").as("n_after"))
        .where(col("n_before") > 0 && col("n_after") > 0)
        .selectExpr("event_type", "n_before", "n_after", "w1_num",
          s"CAST(${graft.operators.LlmOps.microRoundSql("1000000 * w1_num", "n_before * n_after", "DIV")} AS DOUBLE) / 1000000 AS w1_cents")
        .orderBy(col("event_type"))
    },

    // Convergence-detected BFS (VERDICT r14 item 6) — the variant
    // `graph_shortest_path`'s scale note promises: UNBOUNDED depth via
    // frontier-delta iteration instead of a fixed unroll, stopping when
    // the frontier drains, with a LOUD iteration budget (a pathological
    // or adversarial graph aborts with the round count, never spins).
    // Same planted entity graph and source as the depth-6 key; at
    // fixture diameter the two agree node-for-node (Round15OpsSpec pins
    // that, plus exactness on a diameter-11 chain the unroll cannot
    // reach, plus the loud budget).
    //
    // ORACLED (r19): earlier rounds called the stopping rule "not a
    // fixed point SQL can state" — true of the RULE, but not of the
    // RESULT. On an UNWEIGHTED |V|-node graph every finite BFS distance
    // is < |V|, so a recursive CTE bounded at d < |V| (here 50, the
    // modulus that defines the node universe) provably reaches the same
    // fixed point the frontier-drain loop detects at runtime: both
    // compute min-hop distances, and the bound can never clip a true
    // distance. DuckDB's UNION-distinct keeps the CTE state ≤ |V|²
    // (node, d) pairs, so the oracle is cheap at every fixture scale.
    // (The WEIGHTED sibling `osm_route_dist_conv` stays smoke: its
    // state space is (node, real-valued path sum) — a hop bound of |V|
    // forces path enumeration, exponential in DuckDB.)
    Q(
      "graph_shortest_path_conv",
      """WITH RECURSIVE e0 AS (
        |  SELECT doc_id % 50 AS a, (doc_id // 50) % 50 AS b FROM documents
        |  WHERE doc_id % 50 <> (doc_id // 50) % 50),
        |eu AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM e0),
        |e AS (SELECT a AS src, b AS dst FROM eu UNION ALL SELECT b, a FROM eu),
        |bfs(node, d) AS (
        |  SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        |  UNION
        |  SELECT e.dst, bfs.d + 1 FROM bfs JOIN e ON e.src = bfs.node
        |  WHERE bfs.d < 50)
        |SELECT node, CAST(min(d) AS BIGINT) AS dist
        |FROM bfs GROUP BY node ORDER BY node""".stripMargin
    ) { (s, d) =>
      val und = T.documents(s, d)
        .select(expr("doc_id % 50").as("a"), expr("(doc_id DIV 50) % 50").as("b"))
        .where(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
        .distinct()
      val edges = und.select(col("a").as("src"), col("b").as("dst"))
        .union(und.select(col("b").as("src"), col("a").as("dst")))
      bfsConverged(edges, source = 0L)
        .select(col("node"), col("d").as("dist")).orderBy(col("node"))
    },

    Q(
      "text_zipf_fit",
      s"""WITH tok AS (
         |  SELECT unnest(string_split(text, ' ')) AS t FROM documents),
         |freq AS (SELECT t, CAST(count(*) AS BIGINT) AS f FROM tok GROUP BY t),
         |top AS (
         |  SELECT f, row_number() OVER (ORDER BY f DESC, t) AS rank
         |  FROM freq ORDER BY f DESC, t LIMIT 100),
         |lx AS (
         |  SELECT CAST(round(-(${lnProbTpl("(1.0 / CAST(rank AS DOUBLE))")}) * 1000.0) AS BIGINT) AS x,
         |         CAST(round(-(${lnProbTpl("(1.0 / CAST(f AS DOUBLE))")}) * 1000.0) AS BIGINT) AS y
         |  FROM top),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
         |             CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
         |             CAST(sum(x * x) AS BIGINT) AS sxx FROM lx)
         |SELECT n,
         |       round(CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope,
         |       round((CAST(sy AS DOUBLE) - (CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)) * sx) / (1000.0 * n), 6) AS intercept_nats
         |FROM m""".stripMargin
    ) { (s, d) =>
      // Zipf-law fit over the token frequency distribution — the corpus
      // "naturalness" diagnostic (natural language sits near slope −1;
      // template farms and token salad deviate; Zipf 1949, the standard
      // corpus-linguistics screen). OLS of ln f against ln rank over the
      // top-100 types: both logs go through the shared bit-deterministic
      // template as −ln(1/k) and round ONCE to integer millinats, so the
      // moment sums are exact BIGINTs and only the final slope/intercept
      // divisions are IEEE (identical spliced text — the cupedSelect
      // device). Tie safety: tokens tied in frequency may RANK
      // differently across engines (hash order vs word order), but tied
      // tokens share f, so the (rank, f) MULTISET — and every moment —
      // is tie-order-invariant, including at the top-100 cut. Scale:
      // one corpus collapse to the type table, a k-bounded TakeOrdered
      // cut, OLS over 100 rows.
      val freq = T.documents(s, d)
        .select(explode(split(col("text"), " ")).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("f"))
      val top = freq.orderBy(col("f").desc, col("t")).limit(100)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("f").desc, col("t"))))
      top.select(
          expr(s"CAST(round(-(${lnProbTpl("(1.0 / CAST(rank AS DOUBLE))")}) * 1000.0) AS BIGINT)").as("x"),
          expr(s"CAST(round(-(${lnProbTpl("(1.0 / CAST(f AS DOUBLE))")}) * 1000.0) AS BIGINT)").as("y"))
        .agg(count(lit(1)).cast("long").as("n"),
             sum(col("x")).cast("long").as("sx"),
             sum(col("y")).cast("long").as("sy"),
             sum(col("x") * col("y")).cast("long").as("sxy"),
             sum(col("x") * col("x")).cast("long").as("sxx"))
        .selectExpr("n",
          "round(CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope",
          "round((CAST(sy AS DOUBLE) - (CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)) * sx) / (1000.0 * n), 6) AS intercept_nats")
    },

    Q(
      "text_burstiness",
      s"""WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
        |  WHERE text IS NOT NULL),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents WHERE text IS NOT NULL),
        |tf AS (SELECT t, doc_id, CAST(count(*) AS BIGINT) AS f FROM tok GROUP BY 1, 2),
        |st AS (SELECT t, CAST(count(*) AS BIGINT) AS df,
        |              CAST(sum(f) AS BIGINT) AS tt, CAST(sum(f * f) AS BIGINT) AS q
        |       FROM tf GROUP BY 1),
        |top AS (SELECT t, df, tt, q FROM st ORDER BY tt DESC, t LIMIT 20)
        |SELECT t AS term, df AS n_docs_present, tt AS total_tf,
        |       CAST(${graft.operators.LlmOps.microRoundSql("1000000 * (nd.n * q - tt * tt)", "nd.n * tt", "//")} AS DOUBLE) / 1000000 AS vmr
        |FROM top, nd WHERE tt > 0
        |ORDER BY term""".stripMargin
    ) { (s, d) =>
      // Term burstiness — the variance-to-mean ratio (index of
      // dispersion) of per-doc term counts over the WHOLE corpus,
      // zeros included (Church & Gale 1995): function words arrive
      // ~Poisson (VMR ≈ 1); content and template terms are BURSTY
      // (VMR ≫ 1 — absent from most docs, repeated hard where they
      // appear). A corpus whose top terms all sit near 1 is token salad
      // — the complement of text_zipf_fit's rank-frequency screen, and
      // the statistic underlying topical-keyword extraction and Katz's
      // K-mixture. The zero-including moments never materialize zeros:
      // with n docs, Σtf over all docs = T and Σtf² only over PRESENT
      // docs, n²·Var = n·Σtf² − T² exactly, so VMR = (n·Σtf²−T²)/(n·T)
      // is a pure-BIGINT rational through [[LlmOps.microRoundSql]].
      // Scale shape: one token-stream collapse to (term, doc) counts,
      // one collapse to the term table, a k-bounded top-20 cut, 1-row
      // doc-count broadcast — the text_tfidf_topk shuffle budget.
      val docs = T.documents(s, d).where(col("text").isNotNull)
      val nd = docs.agg(count(lit(1)).cast("long").as("n"))
      val tf = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
        .groupBy(col("t"), col("doc_id")).agg(count(lit(1)).as("f"))
      val st = tf.groupBy(col("t"))
        .agg(count(lit(1)).cast("long").as("df"),
             sum(col("f")).cast("long").as("tt"),
             sum(col("f") * col("f")).cast("long").as("q"))
      st.orderBy(col("tt").desc, col("t")).limit(20)
        .crossJoin(nd)
        .where(col("tt") > 0)
        .selectExpr("t AS term", "df AS n_docs_present", "tt AS total_tf",
          s"CAST(${graft.operators.LlmOps.microRoundSql("1000000 * (n * q - tt * tt)", "n * tt", "DIV")} AS DOUBLE) / 1000000 AS vmr")
        .orderBy(col("term"))
    },

    Q(
      "text_quality_buckets",
      s"""WITH w AS (
         |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
         |  WHERE len(string_split(text, ' ')) >= 2),
         |b AS (
         |  SELECT doc_id, w[i] AS w1, w[i+1] AS w2
         |  FROM w, unnest(range(1, len(w))) AS t(i)),
         |cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM b GROUP BY 1, 2),
         |cu AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM cb GROUP BY 1),
         |lm AS (
         |  SELECT doc_id,
         |         CAST(round(${lnProbTpl("(CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE))")} * 1000.0) AS BIGINT) AS l
         |  FROM b JOIN cb USING (w1, w2) JOIN cu USING (w1)),
         |p AS (
         |  SELECT doc_id, CAST((-sum(l)) // count(*) AS BIGINT) AS nll
         |  FROM lm GROUP BY doc_id),
         |t AS (
         |  SELECT d.lang, d.n_chars, p.nll,
         |         ntile(3) OVER (PARTITION BY d.lang ORDER BY p.nll, p.doc_id) AS bucket
         |  FROM p JOIN documents d USING (doc_id)
         |  WHERE d.lang IS NOT NULL)
         |SELECT lang, CAST(bucket AS BIGINT) AS bucket,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |       CAST(min(nll) AS BIGINT) AS nll_lo,
         |       CAST(max(nll) AS BIGINT) AS nll_hi
         |FROM t GROUP BY lang, bucket
         |ORDER BY lang, bucket""".stripMargin
    ) { (s, d) =>
      // CCNet-style quality bucketing — the published head/middle/tail
      // recipe (Wenzek et al., "CCNet: Extracting High Quality
      // Monolingual Datasets from Web Crawl Data"): score every doc by
      // LM perplexity, split each LANGUAGE into terciles, and train on
      // the head. Scores are text_perplexity's exact nll_millinats
      // (shared bit-deterministic ln template, integer mean). The
      // tercile assignment is EXACT SQL NTILE semantics — but computed
      // WITHOUT the |langs|-partition window over the corpus-sized doc
      // table (the anti-pattern agg_weighted_median was cured of): the
      // per-lang rank comes from [[graft.GlobalRank]] with lang as its
      // group. doc_id breaks nll ties, so the rank (and hash) does not
      // depend on where the range boundaries fall.
      // r19 A/B (negative result): persisting the exploded bigram stream
      // here measured 2.20 s → 2.42 s in same-batch runs (a solo run
      // showed 1.94 s — solo timings flatter the persist because nothing
      // competes for the cache); the recompute stands.
      val b = hashedBigramStream(s, d)
      val cb = b.groupBy(col("h1"), col("h2")).agg(count(lit(1)).as("c12"))
      val cu = cb.groupBy(col("h1")).agg(sum(col("c12")).as("c1"))
      val nll = b.join(graft.Gate.bcast(cb), Seq("h1", "h2"))
        .join(graft.Gate.bcast(cu), Seq("h1"))
        .groupBy(col("doc_id"))
        .agg(expr(s"CAST((-sum(CAST(round(${lnProbTpl("(CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE))")} * 1000.0) AS BIGINT))) DIV count(1) AS BIGINT)").as("nll"))
      val scored = T.documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
        // no language id → no language bucket (CCNet drops them too, and
        // so does the oracle)
        .where(col("lang").isNotNull)
        .join(nll, Seq("doc_id")) // inner: <2-token docs score nothing (oracle's len≥2)
      GlobalRank(scored, Seq(col("nll"), col("doc_id")), by = Seq("lang"))
        .withColumn("bucket", GlobalRank.ntile(col("rank"), col("total"), 3))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
             sum(col("n_chars")).cast("long").as("sum_chars"),
             min(col("nll")).cast("long").as("nll_lo"),
             max(col("nll")).cast("long").as("nll_hi"))
        .orderBy(col("lang"), col("bucket"))
    },

    Q(
      "text_dsir_weight",
      s"""WITH w AS (
         |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
         |  WHERE len(string_split(text, ' ')) >= 2),
         |b AS (
         |  SELECT doc_id, w[i] AS w1, w[i+1] AS w2
         |  FROM w, unnest(range(1, len(w))) AS t(i)),
         |ca AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS ca FROM b GROUP BY 1, 2),
         |ce AS (SELECT b.w1, b.w2, CAST(count(*) AS BIGINT) AS ce
         |       FROM b JOIN documents d USING (doc_id)
         |       WHERE d.lang = 'en' GROUP BY 1, 2),
         |sc AS (SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(count(*) AS BIGINT) AS v FROM ca),
         |se AS (SELECT CAST(coalesce(sum(ce), 0) AS BIGINT) AS ne FROM ce),
         |dim AS (
         |  SELECT w1, w2,
         |         CAST(coalesce(ce, 0) + 1 AS DOUBLE) / CAST(ne + v AS DOUBLE) AS pe,
         |         CAST(ca + 1 AS DOUBLE) / CAST(na + v AS DOUBLE) AS pa
         |  FROM ca LEFT JOIN ce USING (w1, w2), sc, se),
         |dim2 AS (
         |  SELECT w1, w2, pe, pa,
         |         CASE WHEN pe <= pa THEN pe / pa ELSE pa / pe END AS t
         |  FROM dim),
         |sco AS (
         |  SELECT w1, w2,
         |         (CASE WHEN pe <= pa THEN 1 ELSE -1 END)
         |           * CAST(round(${lnProbTpl("t")} * 1000.0) AS BIGINT) AS l
         |  FROM dim2)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |       CAST(sum(l) AS BIGINT) AS dsir_millinats
         |FROM b JOIN sco USING (w1, w2)
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      // DSIR importance weighting (Xie et al., "Data Selection for
      // Language Models via Importance Resampling") — score every raw
      // doc by how target-like its n-gram distribution is:
      // weight = Σ_bigram [ln p_target(b) − ln p_raw(b)], here with the
      // English subset as the target domain and add-one smoothing over
      // the shared bigram vocabulary (so unseen-in-target bigrams pull
      // the weight down instead of −∞). Sampling ∝ exp(weight) is then
      // sample_temperature's job — this key is the scorer. Exactness:
      // ln(p_t/p_raw) folds to ONE shared-template call by ranging the
      // ratio into (0, 1] (t = min(pe/pa, pa/pe), sign restored after
      // the round — round is away-from-zero in both engines, so the
      // fold is symmetric); the per-doc score is an exact BIGINT sum of
      // per-bigram millinats. JIT-cliff discipline (ADVICE.md): the
      // template lands in a SCORE DIMENSION keyed by bigram — one
      // evaluation per DISTINCT bigram over the vocab²-bounded model
      // table, never per occurrence on the fact stream (the
      // osm_dwithin_count factor-dimension shape; the naive
      // two-template fact-stream splice measured 5044 B, over the 4000
      // audit budget — CodegenSizeSpec pins this key). Scale shape: two
      // corpus collapses (raw + target bigram tables, broadcast while
      // they fit), the dimension scoring pass, and one map-side
      // dimension join onto the bigram stream — never doc×vocab.
      val b = hashedBigramStream(s, d)
      val enDocs = T.documents(s, d).where(col("lang") === "en").select(col("doc_id"))
      val ca = b.groupBy(col("h2")).agg(count(lit(1)).as("ca"))
      val ce = b.join(enDocs, Seq("doc_id"))
        .groupBy(col("h2")).agg(count(lit(1)).as("ce"))
      val sc = ca.agg(sum(col("ca")).cast("long").as("na"), count(lit(1)).as("v"))
      val se = ce.agg(coalesce(sum(col("ce")), lit(0L)).cast("long").as("ne"))
      val sco = ca.join(ce, Seq("h2"), "left")
        .crossJoin(sc).crossJoin(se)
        .select(col("h2"),
          expr("CAST(coalesce(ce, 0) + 1 AS DOUBLE) / CAST(ne + v AS DOUBLE)").as("pe"),
          expr("CAST(ca + 1 AS DOUBLE) / CAST(na + v AS DOUBLE)").as("pa"))
        .withColumn("t", expr("CASE WHEN pe <= pa THEN pe / pa ELSE pa / pe END"))
        .select(col("h2"),
          expr(s"(CASE WHEN pe <= pa THEN 1 ELSE -1 END) * " +
               s"CAST(round(${lnProbTpl("t")} * 1000.0) AS BIGINT)").as("l"))
      b.join(sco, Seq("h2"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_bigrams"),
             sum(col("l")).cast("long").as("dsir_millinats"))
        .orderBy(col("doc_id"))
    }
  )

  /** Frontier-delta single-source BFS, iterated TO CONVERGENCE: each
    * round expands only the nodes first reached last round (the delta,
    * not the whole dist table), anti-joins out everything already
    * settled, and stops when the frontier is empty — the per-round
    * count IS the convergence test, one deliberately tiny action per
    * round. `localCheckpoint` after every round truncates lineage (the
    * dedup_clusters lesson: a k-deep iterative plan tree costs more
    * than the data it caches), so round k+1 plans a fresh join no
    * matter the depth. The round budget is a LOUD failure: exceeding it
    * throws with the live frontier size rather than silently spinning —
    * raise `maxRounds` consciously for a genuinely deep graph. Scale
    * shape per round: frontier broadcasts onto the shuffle-partitioned
    * edge fact while it fits the threshold (shuffle join beyond), one
    * distinct on dst, one anti-join against the |V|-sized dist table.
    */
  private[graft] def bfsConverged(edges: org.apache.spark.sql.DataFrame, source: Long,
                                  maxRounds: Int = 64): org.apache.spark.sql.DataFrame = {
    val s = edges.sparkSession
    val e = edges.localCheckpoint() // corpus-derived: scan once, not once per round
    var dist = s.range(1).select(lit(source).as("node"), lit(0L).as("d")).localCheckpoint()
    var frontier = dist.select(col("node"))
    var round = 0
    var live = 1L
    while (live > 0) {
      round += 1
      if (round > maxRounds)
        throw new IllegalStateException(
          s"bfsConverged: frontier still live ($live nodes) after $maxRounds rounds — " +
            "graph deeper than the budget; raise maxRounds explicitly")
      val reached = e.join(frontier.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node")).distinct()
      frontier = reached.join(dist, Seq("node"), "left_anti").localCheckpoint()
      live = frontier.count()
      if (live > 0)
        dist = dist.union(frontier.select(col("node"), lit(round.toLong).as("d")))
          .localCheckpoint()
    }
    dist
  }
}
