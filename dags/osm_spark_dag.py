"""Example Airflow DAG: the reference pipeline's orchestration semantics
(`/root/reference/osm_etl.py`) driving THIS engine's Spark jobs.

The reference DAG boots a disposable PgOSM Flex container, runs one ETL
task per {region, subregion}, and dumps the resulting PostGIS database
(`osm_etl.py:57-91`). On this engine the per-region containers become
`spark-submit` invocations of `graft.plans.OsmEtlJob` — Spark's scheduler
owns intra-job parallelism, Airflow owns the weekly cadence, retries,
and cross-job dependencies (the sanctioned split: BASELINE.json
"Spark jobs orchestrated via Airflow").

Mapping to the reference, task for task:
  run_pgosm (container boot, osm_etl.py:57-66)  -> (not needed: no
      disposable database; the lake IS the output)
  etl_<subregion>_osm fan-out (osm_etl.py:69-85) -> one OsmEtlJob run per
      (region, subregion), same TaskGroup shape, parallelizable
  dump_osm_db_to_file (osm_etl.py:88-91)         -> load_postgis: the
      layer parquet is written straight to Postgres over JDBC
      (sink_jdbc path) -- no dump/reload hop
  schedule_interval='@weekly' + pgosm_date pin (osm_etl.py:13,45) are
      kept verbatim; the snapshot date flows through as a job argument.

Each task's `--master` (the `spark_master` Variable) decides where it runs:
the job mains configure no master of their own (`graft.Sessions`).

Docs-only artifact: this file is not executed by the test suite (Airflow
is not a dependency of the engine); it documents the deployment shape.
"""
from datetime import datetime, timedelta

from airflow import DAG
from airflow.operators.bash import BashOperator
from airflow.utils.task_group import TaskGroup
from airflow.models import Variable

SPARK_SUBMIT = "spark-submit --master {master} --class {cls} {jar}"
JAR = Variable.get("graft_engine_jar", "/opt/jobs/graft-engine.jar")
MASTER = Variable.get("spark_master", "yarn")
DATA_DIR = Variable.get("graft_data_dir", "/data/osm")
OUT_DIR = Variable.get("graft_out_dir", "/data/osm/lake")
PGOSM_DATE = "2024-07-25"  # snapshot pin, osm_etl.py:13

REGIONS = [
    # the reference's fan-out list, osm_etl.py:20-28
    {"region": "north-america/us", "subregion": "colorado"},
    {"region": "eu", "subregion": "spain"},
]

default_args = {
    "owner": "airflow",
    "depends_on_past": False,
    "retries": 2,  # per-task retry is Airflow's job, not Spark's
    "retry_delay": timedelta(minutes=5),
}

with DAG(
    dag_id="osm_spark_dag",
    default_args=default_args,
    description="OpenStreetMap ETL on the graft Spark engine",
    start_date=datetime(2024, 1, 1),
    schedule_interval="@weekly",  # osm_etl.py:45
    catchup=False,
    tags=["osm", "etl", "spark"],
) as dag:

    def submit(cls: str, *args: str) -> str:
        cmd = SPARK_SUBMIT.format(master=MASTER, cls=cls, jar=JAR)
        return cmd + " " + " ".join(args)

    # Per-region ETL fan-out (osm_etl.py:69-85): geometry assembly, layer
    # shredding, snapshot-partitioned lake write. Each task is one Spark
    # job; regions run in parallel under Airflow's concurrency limits.
    # Weekly FULL rebuild, mirroring the reference's schedule; an
    # operator running replication diffs instead appends
    #   --incremental={prev_snapshot_dir},{prev_lake_dir}
    # to reuse the previous lake and re-assemble only dirty elements
    # (proven row-identical to the full rebuild by OsmEtlJobSpec).
    with TaskGroup(group_id="etl_regions_osm") as etl_regions_osm:
        for r in REGIONS:
            sub = r["subregion"]
            BashOperator(
                task_id=f"etl_{sub}_osm",
                bash_command=submit(
                    "graft.plans.OsmEtlJob",
                    f"{DATA_DIR}/{r['region']}/{sub}",
                    f"{OUT_DIR}/{sub}",
                    PGOSM_DATE,
                ),
            )

    # Corpus curation over the same snapshot (the BASELINE.json
    # north_star extension surface: dedup, quality, packing).
    curate_corpus = BashOperator(
        task_id="curate_corpus",
        bash_command=submit(
            "graft.plans.CorpusCurationJob",
            DATA_DIR,
            f"{OUT_DIR}/corpus",
            PGOSM_DATE,
        ),
    )

    # Terminal load (osm_etl.py:88-91): instead of pg_dump + reload, the
    # assembled lake tables go straight to Postgres/PostGIS over JDBC via
    # graft.plans.PostgisLoadJob (batched writes, PostgresDialect DDL:
    # geometry WKB as BYTEA, ST_GeomFromWKB applied server-side). The
    # connection comes from an Airflow Connection exactly like the
    # reference's pgosm_postgres_conn (osm_etl.py:9-11), rendered as a
    # real JDBC URL (conn.get_uri() yields postgres://user:pass@..,
    # which Spark's driver manager does not recognize). Credentials NEVER
    # ride the URL (a URL leaks through task logs, the Spark UI, and plan
    # dumps): they flow through the task env as GRAFT_PG_USER /
    # GRAFT_PG_PASSWORD, which the job passes to JDBC as connection
    # properties.
    PG_JDBC_URL = (
        "jdbc:postgresql://"
        "{{ conn.pgosm_postgres_conn.host }}:{{ conn.pgosm_postgres_conn.port }}"
        "/{{ conn.pgosm_postgres_conn.schema }}"
    )
    PG_ENV = {
        "GRAFT_PG_USER": "{{ conn.pgosm_postgres_conn.login }}",
        "GRAFT_PG_PASSWORD": "{{ conn.pgosm_postgres_conn.password }}",
    }

    # One load per region, pointed at the per-region lake dir the ETL
    # fan-out actually wrote ({OUT_DIR}/{subregion} — NOT the bare
    # OUT_DIR, which holds no tables and would fail loudly). All regions
    # land in ONE set of unified tables (osm_ways, osm_relations, …) —
    # the reference's single-`osm`-database semantics (osm_etl.py:69-91).
    # Idempotency is per-region slice-replace: each row is stamped
    # load_region=<subregion>, and a (re)run deletes only its own slice
    # before appending, so an Airflow retry of one region never duplicates
    # rows or clobbers its siblings.
    with TaskGroup(group_id="load_postgis") as load_postgis:
        for r in REGIONS:
            sub = r["subregion"]
            BashOperator(
                task_id=f"load_{sub}_postgis",
                bash_command=submit(
                    "graft.plans.PostgisLoadJob",
                    f"{OUT_DIR}/{sub}",
                    f"'{PG_JDBC_URL}'",
                    sub,
                ),
                env=PG_ENV,
                append_env=True,
            )

    etl_regions_osm >> curate_corpus >> load_postgis
