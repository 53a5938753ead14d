package graft.operators

import graft.{Det, Q, T}
import org.apache.spark.sql.functions._

/** SURVEY.md §2.A — scans, sources, sinks.
  *
  * Reference evidence: per-region PBF scan + `{region,subregion}` routing
  * (`/root/reference/osm_etl.py:20-28,54-55,71`), dump artifact hand-off
  * (`/root/reference/osm_etl.py:88-91`). At rest we are columnar parquet;
  * filters/projections below are written so Catalyst pushes them into the
  * scan (`PushedFilters`/`ReadSchema`) — at 100 TB that is the difference
  * between reading a column slice and reading the lake.
  */
object Scans {

  val all: Seq[Q] = Seq(
    Q(
      "scan_parquet",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber""".stripMargin
    ) { (s, d) =>
      // Projection prunes to 4 of 11 columns at the parquet reader.
      T.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    Q(
      "scan_pruned",
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE o_orderstatus = 'F' AND o_orderdate < TIMESTAMP '1997-01-01'
        |ORDER BY o_orderkey""".stripMargin
    ) { (s, d) =>
      // Predicate pushdown to the scan; on a partitioned lake the same
      // predicate lands in PartitionFilters (see osm_region_partition_write
      // for the partitioned layout + pruned re-read).
      T.orders(s, d)
        .where(col("o_orderstatus") === "F" &&
               col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    },

    Q(
      "scan_dpp",
      s"""WITH f AS (
         |  SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year, o_totalprice
         |  FROM orders),
         |dim AS (
         |  SELECT CAST(1993 + r_regionkey AS BIGINT) AS o_year
         |  FROM region WHERE r_name IN ('ASIA', 'EUROPE'))
         |SELECT f.o_year, count(*) AS n_orders,
         |       ${Det.sqlDsum("o_totalprice")} AS sum_price
         |FROM f JOIN dim ON f.o_year = dim.o_year
         |GROUP BY f.o_year
         |ORDER BY f.o_year""".stripMargin
    ) { (s, d) =>
      // DYNAMIC partition pruning — the runtime half of the pruning
      // story `scan_pruned` covers statically: the years to keep are
      // only known after FILTERING A DIM TABLE (the reference's
      // region-selection pattern, osm_etl.py:20-28, when the selection
      // lives in a config table instead of a literal), so no static
      // PartitionFilter can exist at plan time. Spark plans a
      // DynamicPruningExpression into the fact scan's PartitionFilters:
      // the dim's broadcast is REUSED as the pruning filter, and
      // non-matching partitions of the year-partitioned lake are never
      // even listed — at 100 TB, touching 2 of 7 year partitions is the
      // difference between a morning and a coffee break. The layout is
      // a one-time partitionBy(o_year) write (lake layout, not query
      // cost); the dim join stays a broadcast; Round16OpsSpec pins `dynamicpruning` present in the
      // scan's partition filters. Aggregates ride the exact-DECIMAL
      // recipe, so the hash is partitioning-independent.
      val root = graft.Scratch.layout(s, "dpp", d) { dir =>
        T.orders(s, d)
          .withColumn("o_year", year(col("o_orderdate")))
          .write.mode("overwrite").partitionBy("o_year").parquet(s"$dir/orders")
      }
      val dim = T.region(s, d)
        .where(col("r_name").isin("ASIA", "EUROPE"))
        .select((lit(1993) + col("r_regionkey")).cast("int").as("dim_year"))
      // declared schema (partition column included): no inference pass
      // over the lake, and an empty layout still yields the right shape
      s.read.schema(T.orders(s, d).schema.add("o_year", "int")).parquet(s"$root/orders")
        .join(dim, col("o_year") === col("dim_year"))
        .groupBy(col("o_year").cast("long").as("o_year"))
        .agg(count(lit(1)).as("n_orders"),
             Det.dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_year"))
    },

    Q(
      "sink_parquet",
      s"""SELECT CAST(year(o_orderdate) AS INT) AS order_year,
         |       count(*) AS n_orders,
         |       ${Det.sqlDsum("o_totalprice")} AS total_value
         |FROM orders
         |WHERE o_orderstatus = 'F'
         |GROUP BY order_year
         |ORDER BY order_year""".stripMargin
    ) { (s, d) =>
      // Partitioned columnar sink (the reference's dump artifact,
      // osm_etl.py:88-91) + partition-pruned re-read. partitionBy columns
      // become the lake layout; the re-read filter on o_orderstatus is a
      // PartitionFilter (no data files of other statuses are opened).
      val out = graft.Scratch.dir("sink_parquet", d)
      val staged = T.orders(s, d)
        .withColumn("order_year", year(col("o_orderdate")))
      // r19 opt: cluster by the partition columns before the write
      // (guide §6 / Iceberg's hash distribution-mode): without it every
      // scan task writes a file into every (status, year) dir — M×P tiny
      // files at scale, and serial dir-by-dir writing from the single
      // scan task locally. One exchange buys one file per partition and
      // parallel writers (measured 0.82 s → 0.59 s solo at sf0.1).
      staged.repartition(col("o_orderstatus"), col("order_year"))
        .write.mode("overwrite")
        .partitionBy("o_orderstatus", "order_year")
        .parquet(out)
      // explicit schema on re-read: an EMPTY partitioned write leaves no
      // files to infer from, and a fresh/filtered region being empty is
      // routine at scale — inference would crash the job
      s.read.schema(staged.schema).parquet(out)
        .where(col("o_orderstatus") === "F")
        .groupBy(col("order_year").cast("int").as("order_year"))
        .agg(count(lit(1)).as("n_orders"), Det.dsum(col("o_totalprice")).as("total_value"))
        .orderBy(col("order_year"))
    },

    Q(
      "source_csv",
      """SELECT n_nationkey, n_regionkey, n_name
        |FROM nation
        |ORDER BY n_nationkey""".stripMargin
    ) { (s, d) =>
      // Text-format ingest with a DECLARED schema (inference is a dev-only
      // convenience: at 100 TB schema inference is an extra full scan and
      // a type-drift hazard). Round-trips the dim through CSV; equality
      // with the parquet-backed oracle proves the reader path.
      val out = graft.Scratch.dir("source_csv", d)
      val src = T.nation(s, d).select(col("n_nationkey"), col("n_regionkey"), col("n_name"))
      src.write.mode("overwrite").option("header", "true").csv(out)
      s.read.schema(src.schema).option("header", "true").csv(out)
        .orderBy(col("n_nationkey"))
    },

    Q(
      "source_json",
      """SELECT r_regionkey, r_name
        |FROM region
        |ORDER BY r_regionkey""".stripMargin
    ) { (s, d) =>
      // JSON-lines ingest, declared schema (same stance as source_csv);
      // the format of config/metadata side-channels in the reference stack
      // (flex style configs are structured documents, README.md:93).
      val out = graft.Scratch.dir("source_json", d)
      val src = T.region(s, d).select(col("r_regionkey"), col("r_name"))
      src.write.mode("overwrite").json(out)
      s.read.schema(src.schema).json(out)
        .orderBy(col("r_regionkey"))
    },

    Q(
      "source_orc",
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n_items,
         |       ${Det.sqlDsum("l_extendedprice")} AS sum_price
         |FROM lineitem
         |WHERE l_quantity < 30
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin
    ) { (s, d) =>
      // ORC ingest — the OTHER columnar lake format a migrating user
      // brings (Hive-era lakes are ORC; interchange means reading both).
      // Round-trips the fact table through ORC once per (session,
      // dataset) — the write is lake layout, not query cost — then
      // proves the reader path end-to-end: the quantity predicate must
      // push into the ORC scan and the projection must prune the read
      // schema, exactly as on parquet (ORC carries the same min/max
      // stripe stats for data skipping).
      // Equality with the parquet-backed oracle proves the bytes.
      val root = graft.Scratch.layout(s, "orc", d) { dir =>
        T.lineitem(s, d).write.mode("overwrite").orc(s"$dir/lineitem")
      }
      s.read.schema(T.lineitem(s, d).schema).orc(s"$root/lineitem")
        .where(col("l_quantity") < 30)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_items"), Det.dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    Q(
      "source_xml",
      """SELECT s_suppkey, s_nationkey, s_name
        |FROM supplier
        |ORDER BY s_suppkey""".stripMargin
    ) { (s, d) =>
      // XML ingest (Spark 4 ships the donated spark-xml as a built-in
      // format) — the interchange format B2B/enterprise feeds still
      // arrive in. Same declared-schema round-trip discipline as
      // source_csv: write the dim as <supplier> rows once per (session,
      // dataset), read it back with an explicit schema (inference would
      // be an extra full pass at scale), prove equality against the
      // parquet-backed oracle. rowTag is the split unit: Spark's XML
      // reader parallelizes a file set by row element, so a 100 TB feed
      // lands as many files × many row tags, not one driver parse.
      val src = T.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"), col("s_name"))
      val root = graft.Scratch.layout(s, "xml", d) { dir =>
        src.write.mode("overwrite").option("rowTag", "supplier").xml(s"$dir/supplier")
      }
      s.read.schema(src.schema).option("rowTag", "supplier").xml(s"$root/supplier")
        .orderBy(col("s_suppkey"))
    },

    Q(
      "source_binaryfile",
      """SELECT doc_id,
        |       CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |       md5(text) AS content_md5
        |FROM documents WHERE doc_id % 25 = 0 AND text IS NOT NULL
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      // `binaryFile` ingest — how raw multimodal payloads (images,
      // audio, clips) actually enter a training pipeline: one opaque
      // file per asset, read as (path, length, content) rows with NO
      // parsing, the typed-metadata join happening downstream
      // (multimodal_struct's stage). Layout setup is one-time: the doc
      // subset lands as .bin files via foreachPartition (each task
      // writes its own rows — the object-store-put-per-asset shape, no
      // driver funnel). The read proves Spark's binary source
      // end-to-end: byte lengths and content
      // hashes must match the parquet-derived truth exactly, and
      // pathGlobFilter prunes foreign files at listing time.
      val root = graft.Scratch.layout(s, "binsrc", d) { dir =>
        T.documents(s, d).where(col("doc_id") % 25 === 0)
          // null payload = extraction failed upstream: no asset file
          // (NullInputSpec; the read side then simply lists fewer files)
          .where(col("text").isNotNull)
          .select(col("doc_id"), col("text"))
          .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
            rows.foreach { r =>
              java.nio.file.Files.write(
                java.nio.file.Paths.get(dir, s"doc_${r.getLong(0)}.bin"),
                r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
            }
          }
      }
      s.read.format("binaryFile").option("pathGlobFilter", "*.bin").load(root)
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.bin", 1).cast("long").as("doc_id"),
          col("length").as("n_bytes"),
          md5(col("content")).as("content_md5"))
        .orderBy(col("doc_id"))
    },

    Q(
      "sink_pbf",
      """SELECT p_partkey AS element_id, 'node' AS kind,
        |       CAST(p_size * 100 AS BIGINT) AS lon_c,
        |       CAST(round(p_retailprice * 100) AS BIGINT) AS lat_c,
        |       p_brand AS brand, CAST(0 AS BIGINT) AS n_refs
        |FROM part
        |UNION ALL
        |SELECT l_orderkey, 'way', NULL, NULL, NULL, count(*)
        |FROM lineitem GROUP BY l_orderkey
        |ORDER BY kind, element_id""".stripMargin
    ) { (s, d) =>
      // Distributed `.osm.pbf` WRITE — the sink half of the PBF story
      // (the DSv2 source reads geofabrik files; this writes them), and
      // the repo's custom-write-path extension demo: the sink DECLARES
      // its layout contract via RequiresDistributionAndOrdering
      // (kind asc, element_id asc), so Catalyst plans the range
      // exchange + sort and each task streams its ordered slice into
      // single-kind id-ascending blobs with tight [minId, maxId]
      // indexdata — N part files, zero cross-task coordination,
      // attempt-unique temp files renamed at job commit (exactly-once
      // under speculation; PbfSinkSpec drives abort directly). The
      // layout write is one-time; the oracled query is the READ-BACK —
      // node coords, a promoted tag, and way ref counts must round-trip
      // bit-exactly through the wire format against the parquet-derived
      // oracle.
      val root = graft.Scratch.layout(s, "pbfsink", d) { dir =>
        val nodes = T.part(s, d).select(
          col("p_partkey").as("element_id"), lit("node").as("kind"),
          (col("p_size").cast("long") * 100).as("lon_c"),
          round(col("p_retailprice") * 100).cast("long").as("lat_c"),
          // OSM semantics: a null tag VALUE is an absent tag, not a
          // null map entry (the PBF string table cannot encode null —
          // NullInputSpec caught the encoder assert)
          when(col("p_brand").isNotNull, map(lit("brand"), col("p_brand")))
            .otherwise(typedLit(Map.empty[String, String])).as("tags"),
          expr("CAST(array() AS ARRAY<BIGINT>)").as("refs"))
        val ways = T.lineitem(s, d)
          .groupBy(col("l_orderkey"))
          .agg(expr("transform(array_sort(collect_list(struct(l_linenumber, l_partkey))), x -> x.l_partkey)")
            .as("refs"))
          .select(col("l_orderkey").as("element_id"), lit("way").as("kind"),
            lit(null).cast("long").as("lon_c"), lit(null).cast("long").as("lat_c"),
            typedLit(Map.empty[String, String]).as("tags"), col("refs"))
        nodes.unionByName(ways)
          .write.format("graft.sources.OsmPbfSource")
          .option("path", s"$dir/out").mode("overwrite").save()
      }
      s.read.format("graft.sources.OsmPbfSource").option("path", s"$root/out").load()
        .select(col("element_id"), col("kind"), col("lon_c"), col("lat_c"),
                element_at(col("tags"), "brand").as("brand"),
                size(col("refs")).cast("long").as("n_refs"))
        .orderBy(col("kind"), col("element_id"))
    },

    Q(
      "source_dsv2",
      """SELECT i AS element_id,
        |       CASE CAST(i % 3 AS INT) WHEN 0 THEN 'node' WHEN 1 THEN 'way' ELSE 'relation' END AS kind,
        |       (i * 37) % 360000 - 180000 AS lon_c,
        |       (i * 61) % 180000 - 90000 AS lat_c
        |FROM range(0, 10000) t(i)
        |WHERE CAST(i % 3 AS INT) <> 2
        |ORDER BY element_id""".stripMargin
    ) { (s, _) =>
      // Custom DataSource V2 (graft.sources.OsmSyntheticSource): the
      // extension point a real PBF reader plugs into — TableProvider,
      // split planning, column-pruned PartitionReaders. The filter stays
      // a post-scan predicate here (the source pushes projections, not
      // filters) while the generator itself is split-parallel.
      s.read.format("graft.sources.OsmSyntheticSource")
        .option("rows", "10000").option("partitions", "8").load()
        .where(col("kind") =!= "relation")
        .orderBy(col("element_id"))
    },

    Q(
      "source_pbf_blocks",
      """SELECT i AS element_id,
        |       CASE CAST(i % 3 AS INT) WHEN 0 THEN 'node' WHEN 1 THEN 'way' ELSE 'relation' END AS kind,
        |       'n' || CAST(i % 97 AS VARCHAR) AS name,
        |       CASE WHEN i % 3 = 0 THEN (i * 37) % 360000 - 180000 END AS lon_c,
        |       CASE CAST(i % 3 AS INT) WHEN 0 THEN 0 WHEN 1 THEN i % 5 + 2 ELSE i % 4 + 1 END AS n_refs
        |FROM range(0, 10000) t(i)
        |WHERE i BETWEEN 2500 AND 7499
        |ORDER BY element_id""".stripMargin
    ) { (s, d) =>
      // REAL `.osm.pbf` ingest (graft.sources.OsmPbfSource over the
      // OsmPbf wire codec): BlobHeader/Blob framing, zlib-deflated
      // PrimitiveBlocks, per-blob string tables, delta/zigzag-packed
      // DenseNodes, Way refs, Relation memids — the reference's true
      // input format (osm_etl.py:54-55) decoded from actual protobuf
      // bytes behind the DSv2 extension point. The id BETWEEN predicate
      // is pushed into the scan and skips whole blobs via the
      // BlobHeader.indexdata [minId, maxId] ranges before any payload
      // I/O; leaving lat_c and the relation roles unprojected exercises
      // the O(1) length-prefix skip lanes of the protobuf decode. File
      // staged once per (session, dataset) (deterministic contents
      // shared with the oracle's formulas): nodes, then ways, then
      // relations, ids ascending within each kind — a real extract's
      // layout.
      import graft.sources.{OsmPbf, OsmSyntheticSource => Syn}
      val file = graft.Scratch.layout(s, "pbf", d) { dir =>
        def tags(i: Long) = Array("name" -> s"n${i % 97}")
        val nodes = (0L until 10000L).filter(_ % 3 == 0).iterator.map(i =>
          OsmPbf.Element.node(i, Syn.lonOf(i) * 1000000L, Syn.latOf(i) * 1000000L, tags(i)))
        val ways = (0L until 10000L).filter(_ % 3 == 1).iterator.map(i =>
          OsmPbf.Element.way(i, (1L to i % 5 + 2).map(j => i * 31 + j * 7).toArray, tags(i)))
        val rels = (0L until 10000L).filter(_ % 3 == 2).iterator.map(i =>
          OsmPbf.Element.relation(i, (1L to i % 4 + 1).map(j => i * 17 + j * 3).toArray, tags(i)))
        OsmPbf.write(s"$dir/elements.osm.pbf", nodes ++ ways ++ rels, blockSize = 1000)
      } + "/elements.osm.pbf"
      s.read.format("graft.sources.OsmPbfSource").option("path", file).load()
        .where(col("element_id").between(2500L, 7499L))
        .select(col("element_id"), col("kind"),
                element_at(col("tags"), "name").as("name"),
                col("lon_c"),
                size(col("refs")).cast("long").as("n_refs"))
        .orderBy(col("element_id"))
    },

    Q(
      "source_osc",
      """SELECT CASE CAST(s_suppkey % 3 AS INT) WHEN 0 THEN 'create' WHEN 1 THEN 'modify' ELSE 'delete' END AS op,
        |       'node' AS elem_type, s_suppkey AS id, s_suppkey % 5 + 1 AS version,
        |       CAST(round(s_acctbal * 100) AS BIGINT) AS lat7,
        |       CAST(s_nationkey AS BIGINT) * 1000000 + s_suppkey AS lon7,
        |       s_name AS name, CAST(0 AS BIGINT) AS n_refs, CAST(0 AS BIGINT) AS n_members
        |FROM supplier
        |UNION ALL
        |SELECT 'modify', 'way', 100000 + CAST(n_nationkey AS BIGINT), CAST(2 AS BIGINT),
        |       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), n_name,
        |       (SELECT count(*) FROM supplier WHERE s_nationkey = n_nationkey), CAST(0 AS BIGINT)
        |FROM nation
        |UNION ALL
        |SELECT 'delete', 'relation', 200000 + CAST(r_regionkey AS BIGINT), CAST(3 AS BIGINT),
        |       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), r_name, CAST(0 AS BIGINT),
        |       (SELECT count(*) FROM nation WHERE n_regionkey = r_regionkey)
        |FROM region
        |ORDER BY elem_type, id""".stripMargin
    ) { (s, d) =>
      // REAL `.osc` (osmChange XML) replication-diff ingest
      // (graft.sources.OsmChange) — the public diff feed whose weekly
      // cadence the reference's full reload stands in for
      // (osm_etl.py:13,45): create/modify/delete blocks, node lat/lon as
      // exact 1e-7-degree integers (BigDecimal-scaled, never through a
      // double), way <nd> refs, relation <member type/ref/role> triples.
      // Layout staged once per (session, dataset): every change class
      // and element kind, derived deterministically from the dim tables
      // so the DuckDB oracle can recompute the expected rows from
      // parquet — nodes from supplier (op cycles create/modify/delete),
      // ways from nation carrying that nation's suppliers as refs,
      // relation deletes from region carrying its nations as members.
      // Files are written ONE PER PARTITION via foreachPartition (the
      // sequence-file shape real feeds arrive in — file-granular
      // parallelism is the scan's 100 TB partitioning), odd partitions
      // gzipped: the reader's magic-byte gzip detection and multi-file
      // parallel parse are both on the oracled path.
      val root = oscRoot(s, d)
      graft.sources.OsmChange.read(s, root)
        .select(col("op"), col("elem_type"), col("id"), col("version"),
          col("lat7"), col("lon7"), element_at(col("tags"), "name").as("name"),
          size(col("nd_refs")).cast("long").as("n_refs"),
          size(col("members")).cast("long").as("n_members"))
        .orderBy(col("elem_type"), col("id"))
    },

    Q(
      "osm_changeset_stats",
      """WITH rows AS (
        |  SELECT CASE CAST(s_suppkey % 3 AS INT) WHEN 0 THEN 'create' WHEN 1 THEN 'modify' ELSE 'delete' END AS op,
        |         'node' AS elem_type, s_suppkey % 5 + 1 AS version,
        |         0 AS n_refs, 0 AS n_members
        |  FROM supplier
        |  UNION ALL
        |  SELECT 'modify', 'way', 2,
        |         (SELECT count(*) FROM supplier WHERE s_nationkey = n_nationkey), 0
        |  FROM nation
        |  UNION ALL
        |  SELECT 'delete', 'relation', 3, 0,
        |         (SELECT count(*) FROM nation WHERE n_regionkey = r_regionkey)
        |  FROM region)
        |SELECT op, elem_type, count(*) AS n_changes,
        |       CAST(sum(n_refs) AS BIGINT) AS total_refs,
        |       CAST(sum(n_members) AS BIGINT) AS total_members,
        |       CAST(max(version) AS BIGINT) AS max_version
        |FROM rows GROUP BY 1, 2
        |ORDER BY elem_type, op""".stripMargin
    ) { (s, d) =>
      // Replication-diff OPERATIONAL STATS — the per-(op, element-kind)
      // summary an apply job (`stream_osc_apply` / `OsmEtlJob
      // --incremental`) logs per batch and an operator alerts on (a
      // delete-heavy or way-only diff is how a bad upstream feed shows
      // up before the lake corrupts). Reads the REAL `.osc` layout
      // through the same StAX parser as `source_osc` (shared
      // `oscRoot` fixture — parse correctness is already oracled
      // there; this key oracles the AGGREGATE against the dim-table
      // derivation), then one bounded groupBy: op×kind is ≤ 9 keys, so
      // the aggregate is a partial+final hash agg whose shuffle
      // carries 9 rows no matter how large the weekly diff is.
      val root = oscRoot(s, d)
      graft.sources.OsmChange.read(s, root)
        .groupBy(col("op"), col("elem_type"))
        .agg(count(lit(1)).as("n_changes"),
             sum(size(col("nd_refs"))).cast("long").as("total_refs"),
             sum(size(col("members"))).cast("long").as("total_members"),
             max(col("version")).cast("long").as("max_version"))
        .orderBy(col("elem_type"), col("op"))
    },

    Q(
      "sink_jdbc",
      """SELECT n_nationkey, n_regionkey, n_name
        |FROM nation
        |ORDER BY n_nationkey""".stripMargin
    ) { (s, d) =>
      // Batched JDBC write to an RDBMS + read-back verify — the
      // reference's terminal act is loading PostGIS
      // (/root/reference/osm_etl.py:88-91, README.md:70). Embedded Derby
      // (ships with Spark) stands in for the server; the write path
      // (batched inserts, explicit DDL types — VARCHAR, not the dialect's
      // default CLOB) is the identical Spark surface PostGIS would use.
      val url = JdbcIO.freshEmbeddedDerby("derby_sink")
      val src = T.nation(s, d).select(col("n_nationkey"), col("n_regionkey"), col("n_name"))
      // a dim-sized write needs no fan-out; 100 TB fact loads raise
      // parallelism instead (each task opens its own connection)
      JdbcIO.writeTable(src.coalesce(2), url, "nation_sink",
        columnTypes = Some("n_name VARCHAR(64)"))
      JdbcIO.readTable(s, url, "nation_sink").orderBy(col("n_nationkey"))
    },

    Q(
      "source_jdbc",
      """SELECT c_custkey, c_nationkey, c_acctbal, c_mktsegment
        |FROM customer
        |ORDER BY c_custkey""".stripMargin
    ) { (s, d) =>
      // Parallel partitioned JDBC ingest: numPartitions=8 stripes on
      // c_custkey, so 8 tasks each pull a key range over their own
      // connection — without this, one executor drags the whole table
      // through a single connection (the 100 TB anti-pattern). Bounds
      // need not be tight: Spark leaves the first/last stripes unbounded,
      // so rows outside [0, 150000] still arrive, just unevenly — the
      // fixed bound covers custkey up to sf1 and stays correct beyond.
      val url = JdbcIO.freshEmbeddedDerby("derby_src")
      val src = T.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
      JdbcIO.writeTable(src.coalesce(2), url, "customer_src",
        columnTypes = Some("c_mktsegment VARCHAR(16)"))
      JdbcIO.readTable(s, url, "customer_src",
        partitionColumn = Some(("c_custkey", 0L, 150000L, 8)))
        .orderBy(col("c_custkey"))
    },

    Q(
      "scan_merge_schema",
      """SELECT o_orderkey, o_totalprice,
        |       CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END AS o_orderpriority
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin
    ) { (s, d) =>
      // Schema evolution on read: a lake accumulates file generations as
      // columns are added, and a scan must reconcile them without a
      // rewrite. Generation 1 (even keys) lacks o_orderpriority;
      // generation 2 (odd keys) carries it; `mergeSchema` unions the
      // footers and older files surface the new column as NULL — exactly
      // the CASE the oracle states. Merging is footer-metadata work at
      // planning time (per-file schemas union on the driver; data pages
      // are untouched), so the scan itself stays an ordinary columnar
      // read — at 100 TB you pay footer listing, not data rewrite.
      val out = graft.Scratch.dir("mergeschema", d)
      val o = T.orders(s, d)
      if (o.isEmpty) {
        // zero generations ⇒ nothing to infer from; the merged shape is
        // still well-defined — state it
        o.selectExpr("o_orderkey", "o_totalprice", "o_orderpriority").limit(0)
      } else {
        o.where(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_totalprice"))
          .write.mode("overwrite").parquet(s"$out/gen1")
        o.where(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
          .write.mode("overwrite").parquet(s"$out/gen2")
        s.read.option("mergeSchema", "true").parquet(s"$out/gen1", s"$out/gen2")
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
          .orderBy(col("o_orderkey"))
      }
    },

    Q(
      "sink_dynamic_overwrite",
      """SELECT o_orderstatus, count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
        |FROM orders
        |WHERE NOT (o_orderstatus = 'F' AND o_orderdate < TIMESTAMP '1998-01-01')
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin
    ) { (s, d) =>
      // Dynamic partition overwrite — THE idempotent-load primitive
      // behind the reference's weekly re-runs (osm_etl.py's per-region
      // reload): overwrite mode replaces ONLY the partitions present in
      // the incoming batch, leaving every other slice byte-untouched.
      // Here the full lake is laid down partitioned by status, then a
      // re-run ships only the F slice restricted to ≥1998 — after which
      // F reflects the re-run and O/P still hold the original rows (the
      // oracle's NOT(...) predicate). Static overwrite mode would have
      // dropped O and P entirely — the classic lost-data reload bug.
      // Set per-write via option (no session-conf mutation); at scale a
      // re-run's write cost is proportional to its own slice, never the
      // lake.
      val out = graft.Scratch.dir("dynover", d)
      val o = T.orders(s, d)
      o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
      o.where(col("o_orderstatus") === "F" &&
              col("o_orderdate") >= lit("1998-01-01").cast("timestamp"))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("o_orderstatus").parquet(out)
      s.read.schema(
          org.apache.spark.sql.types.StructType(o.schema.filter(f => f.name != "o_orderstatus"))
            .add("o_orderstatus", org.apache.spark.sql.types.StringType))
        .parquet(out)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
             (sum(col("o_totalprice").cast("decimal(18,2)")) * 100).cast("long").as("cents"))
        .orderBy(col("o_orderstatus"))
    }
  )

  /** One-time `.osc` fixture layout shared by `source_osc` and
    * `osm_changeset_stats`: every change class and element kind derived
    * deterministically from the dim tables so the DuckDB oracle
    * recomputes expectations from parquet; one file per partition via
    * foreachPartition, odd partitions gzipped so the reader's magic-byte
    * detection stays on the oracled path.
    */
  private def oscRoot(s: org.apache.spark.sql.SparkSession, d: String): String = {
    import s.implicits._
    graft.Scratch.layout(s, "osc", d) { dir =>
      val emptyMembers =
        expr("CAST(array() AS ARRAY<STRUCT<mtype:STRING, mref:BIGINT, mrole:STRING>>)")
      val nodes = T.supplier(s, d).select(
        expr("CASE CAST(s_suppkey % 3 AS INT) WHEN 0 THEN 'create' WHEN 1 THEN 'modify' ELSE 'delete' END").as("op"),
        lit("node").as("elem_type"), col("s_suppkey").as("id"),
        (col("s_suppkey") % 5 + 1).as("version"),
        lit("2024-07-25T00:00:00Z").as("ts"),
        expr("CAST(round(s_acctbal * 100) AS BIGINT)").as("lat7"),
        (col("s_nationkey").cast("long") * 1000000 + col("s_suppkey")).as("lon7"),
        map(lit("name"), col("s_name")).as("tags"),
        expr("CAST(array() AS ARRAY<BIGINT>)").as("nd_refs"),
        emptyMembers.as("members"))
      val ways = T.nation(s, d)
        .join(T.supplier(s, d).groupBy(col("s_nationkey"))
                .agg(expr("array_sort(collect_list(s_suppkey))").as("refs")),
              col("n_nationkey") === col("s_nationkey"), "left")
        .select(lit("modify").as("op"), lit("way").as("elem_type"),
          (col("n_nationkey").cast("long") + 100000).as("id"),
          lit(2L).as("version"), lit("").as("ts"),
          lit(null).cast("long").as("lat7"), lit(null).cast("long").as("lon7"),
          map(lit("name"), col("n_name")).as("tags"),
          coalesce(col("refs"), expr("CAST(array() AS ARRAY<BIGINT>)")).as("nd_refs"),
          emptyMembers.as("members"))
      val rels = T.region(s, d)
        .join(T.nation(s, d).groupBy(col("n_regionkey"))
                .agg(expr("""array_sort(collect_list(struct(
                            |  CAST('way' AS STRING) AS mtype,
                            |  CAST(n_nationkey AS BIGINT) + 100000 AS mref,
                            |  CAST('outer' AS STRING) AS mrole)))""".stripMargin).as("ms")),
              col("r_regionkey") === col("n_regionkey"), "left")
        .select(lit("delete").as("op"), lit("relation").as("elem_type"),
          (col("r_regionkey").cast("long") + 200000).as("id"),
          lit(3L).as("version"), lit("").as("ts"),
          lit(null).cast("long").as("lat7"), lit(null).cast("long").as("lon7"),
          map(lit("name"), col("r_name")).as("tags"),
          expr("CAST(array() AS ARRAY<BIGINT>)").as("nd_refs"),
          coalesce(col("ms"), emptyMembers).as("members"))
      nodes.unionByName(ways).unionByName(rels)
        .as[graft.sources.OsmChange.OscRow]
        .foreachPartition { (it: Iterator[graft.sources.OsmChange.OscRow]) =>
          val rows = it.toSeq
          if (rows.nonEmpty) {
            val pid = org.apache.spark.TaskContext.getPartitionId()
            val gz = pid % 2 == 1
            graft.sources.OsmChange.write(
              f"$dir%s/chunk_$pid%04d.osc" + (if (gz) ".gz" else ""), rows, gz)
          }
        }
    }
  }

}

/** JDBC source/sink surface (§2.A `source_jdbc`/`sink_jdbc`).
  *
  * The reference's terminal store is PostGIS loaded via pg_dump/psql
  * (`/root/reference/osm_etl.py:88-91`, `README.md:70`). The registered
  * queries above exercise this whole surface against embedded Derby
  * (shipped in /opt/spark/jars); against a real PostGIS the only change
  * is the URL.
  */
object JdbcIO {
  import org.apache.spark.sql.{DataFrame, SparkSession}

  /** Spark's built-in Derby dialect maps StringType → CLOB, so a NULL in
    * a string column is bound via setNull(CLOB) — which Derby rejects
    * against the VARCHAR columns our DDL pins create ("an attempt was
    * made to get a data value of type 'VARCHAR' from ... 'CLOB'"; caught
    * live by NullInputSpec). A real Postgres target has no such mismatch
    * — this wrapper fixes the OFFLINE stand-in only: StringType binds as
    * VARCHAR, everything else delegates to the built-in dialect captured
    * BEFORE registration (registered dialects take lookup precedence).
    * Registered once per JVM, lazily, from [[freshEmbeddedDerby]]. */
  private lazy val derbyVarcharDialect: Unit = {
    import org.apache.spark.sql.jdbc.{JdbcDialect, JdbcDialects, JdbcType}
    import org.apache.spark.sql.types.{DataType, StringType}
    val builtin = JdbcDialects.get("jdbc:derby:probe")
    JdbcDialects.registerDialect(new JdbcDialect {
      override def canHandle(url: String): Boolean = url.startsWith("jdbc:derby:")
      override def getJDBCType(dt: DataType): Option[JdbcType] = dt match {
        case StringType => Some(JdbcType("VARCHAR(4096)", java.sql.Types.VARCHAR))
        case _          => builtin.getJDBCType(dt)
      }
      override def getCatalystType(sqlType: Int, typeName: String, size: Int,
                                   md: org.apache.spark.sql.types.MetadataBuilder) =
        builtin.getCatalystType(sqlType, typeName, size, md)
      override def quoteIdentifier(colName: String): String =
        builtin.quoteIdentifier(colName)
      override def isCascadingTruncateTable(): Option[Boolean] =
        builtin.isCascadingTruncateTable()
    })
  }

  /** URL of a fresh single-JVM embedded Derby database (test/demo stand-in
    * for the reference's PostGIS server) in a new [[graft.Scratch.fresh]]
    * dir per call: repeated runs never see stale rows. */
  def freshEmbeddedDerby(tag: String): String = {
    derbyVarcharDialect // idempotent one-time registration
    val dir = graft.Scratch.fresh(tag)
    // keep Derby's log chatter out of cwd (it defaults to ./derby.log)
    System.setProperty("derby.stream.error.file", s"$dir/derby.log")
    s"jdbc:derby:$dir/db;create=true"
  }

  def readTable(spark: SparkSession, url: String, table: String,
                partitionColumn: Option[(String, Long, Long, Int)] = None,
                creds: Option[(String, String)] = None): DataFrame = {
    val r0 = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    val r = creds.fold(r0) { case (u, p) => r0.option("user", u).option("password", p) }
    // Parallel JDBC ingest: without partitioning, one executor drags the
    // whole table through a single connection.
    partitionColumn.fold(r) { case (c, lo, hi, n) =>
      r.option("partitionColumn", c).option("lowerBound", lo)
        .option("upperBound", hi).option("numPartitions", n)
    }.load()
  }

  /** Batched write; `columnTypes` overrides the dialect's default DDL
    * types on create (e.g. VARCHAR(n) where Derby would pick CLOB —
    * exactly how a PostGIS load pins geometry/text column types).
    * `overwrite = true` REPLACES the target table — with `truncate = true`
    * via TRUNCATE TABLE, which keeps the table's DDL, indexes (e.g. a GiST
    * on the geometry column), grants, and dependent views intact across
    * idempotent reloads; without it, drop + recreate (the reference's
    * dump-and-reload semantics). Default append preserves the original
    * sink behavior for incremental writers. `creds` ride the connection
    * properties, never the URL (a URL leaks through logs and plan dumps).
    */
  def writeTable(df: DataFrame, url: String, table: String, batchSize: Int = 10000,
                 columnTypes: Option[String] = None, overwrite: Boolean = false,
                 truncate: Boolean = false,
                 creds: Option[(String, String)] = None): Unit = {
    // Spark's JDBC truncate option only applies in overwrite mode; an
    // append+truncate call would silently no-op the truncate — reject it.
    require(overwrite || !truncate,
      "truncate=true requires overwrite=true (Spark's JDBC truncate only applies to overwrite)")
    val w0 = df.write.mode(if (overwrite) "overwrite" else "append").format("jdbc")
      .option("url", url).option("dbtable", table)
      .option("batchsize", batchSize)
      .option("truncate", truncate.toString)
    val w = creds.fold(w0) { case (u, p) => w0.option("user", u).option("password", p) }
    columnTypes.fold(w)(t => w.option("createTableColumnTypes", t)).save()
  }

  /** Plain SQL identifier (unquoted form, the shape `writeTable` creates):
    * anything else is rejected rather than interpolated into DDL/DML. */
  private val Ident = "^[A-Za-z_][A-Za-z0-9_]*$".r

  /** Driver-side `DELETE FROM table WHERE column = value` — the
    * slice-replace half of an idempotent partitioned load (delete the
    * stale slice, append the fresh rows). `table`/`column` must be plain
    * identifiers — validated against [[Ident]] before any SQL is built.
    * The table rides unquoted (Spark's JDBC writer creates `dbtable`
    * verbatim-unquoted, so the DB's own case folding applies); the column
    * rides ANSI-double-quoted, because the writer emits column DDL through
    * `dialect.quoteIdentifier` (JdbcSpec pins that contract) and an
    * unquoted name would case-fold past it. `value` rides a
    * PreparedStatement parameter, so external input (an Airflow-rendered
    * region or date) can never splice into the SQL. A missing target
    * table is fine (first-ever load: the subsequent append creates it).
    * Returns rows deleted. */
  /** The exact statement [[deleteSlice]] executes — factored out so the
    * grammar/golden lane (PgGrammarSpec → tools/pg_grammar_check.py) pins
    * the real emitted text, not a spec-side reconstruction. */
  def deleteSliceSql(table: String, column: String): String = {
    require(Ident.matches(table), s"not a plain SQL identifier: $table")
    require(Ident.matches(column), s"not a plain SQL identifier: $column")
    s"""DELETE FROM $table WHERE "$column" = ?"""
  }

  def deleteSlice(url: String, table: String, column: String, value: String,
                  creds: Option[(String, String)] = None): Int = {
    val stmt = deleteSliceSql(table, column)
    val props = new java.util.Properties()
    creds.foreach { case (u, p) => props.setProperty("user", u); props.setProperty("password", p) }
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      // the whole prepare+execute is fallible: Derby binds at prepare time
      try {
        val st = conn.prepareStatement(stmt)
        try { st.setString(1, value); st.executeUpdate() } finally st.close()
      } catch {
        // target does not exist (yet): table — Derby 42X05 / Postgres 42P01 /
        // MySQL 42S02 — or the user's default schema itself (Derby 42Y07,
        // auto-created by the first CREATE TABLE)
        case e: java.sql.SQLException
          if Set("42X05", "42P01", "42S02", "42Y07").contains(e.getSQLState) => 0
      }
    } finally conn.close()
  }
}
