"""Airflow shim for the graft Olist pipeline — orchestration parity
with the reference's nine DAGs (one per table + the gold job), each of
which ran eager pandas inside PythonOperators with /tmp handoffs.

Here Airflow only LAUNCHES Spark (BASELINE.json "spark_approach"):
one SparkSubmitOperator per pipeline stage, each invoking
`graft.tools.RunPipeline <stage>`. The ingest stage runs the eight
bronze→silver jobs one after another inside one application
(`IngestJob.runAll`); each is a parallel Spark job over all of its
table's files, so per-table Airflow tasks would add JVM start-ups, not
parallelism. The same three stages run scheduler-less in CI via
`orchestration/run_dag_ci.py` (plain spark-submit subprocesses against
a fixture bronze layer + embedded Derby as the TB_VENDAS mirror).

Not executed in this container (no Airflow installation) — an
orchestration artifact documenting the deployment shape.
"""
from datetime import datetime

from airflow import DAG
from airflow.providers.apache.spark.operators.spark_submit import (
    SparkSubmitOperator,
)

S3A_CONF = {
    "spark.hadoop.fs.s3a.endpoint": "{{ var.value.minio_endpoint }}",
    "spark.hadoop.fs.s3a.path.style.access": "true",
    "spark.sql.session.timeZone": "UTC",
}

with DAG(
    dag_id="graft_olist_pipeline",
    start_date=datetime(2024, 1, 1),
    schedule_interval="@once",  # parity with the reference's @once DAGs
    catchup=False,
) as dag:
    ingest = SparkSubmitOperator(
        task_id="bronze_to_silver",
        application="graft-assembly.jar",
        java_class="graft.tools.RunPipeline",
        application_args=["ingest", "s3a://bronze", "s3a://silver"],
        conf=S3A_CONF,
    )
    gold = SparkSubmitOperator(
        task_id="silver_to_gold",
        application="graft-assembly.jar",
        java_class="graft.tools.RunPipeline",
        application_args=[
            "gold", "s3a://silver", "s3a://gold",
            # Bucketed silver — the DEFAULT at-scale path since r18
            # (wins at every measured rung: the fact join is
            # exchange-free). The ingest task writes orders and
            # order_items bucketed+sorted on order_id and stamps them
            # (IngestJob.load); this task re-registers them from the
            # stamp and reads them in place, so no gold run re-writes
            # either fact table. Bare, the flag asks for the width the
            # ingest wrote at: the job's spark.sql.shuffle.partitions
            # (Spark's 200 on a cluster unless the job's conf sets it;
            # a local master's cores when unset). Set the
            # `silver_buckets` Airflow Variable to pin a width (gold
            # reads silver plain at a width the ingest did not write),
            # or 0 to fall back to the plain no-layout form.
            "{% set w = var.value.get('silver_buckets', '') %}"
            "--bucketed-silver{{ '=' ~ w if w else '' }}",
            "{{ var.value.mysql_jdbc_url }}", "TB_VENDAS",
        ],
        conf=S3A_CONF,
    )
    check = SparkSubmitOperator(
        task_id="gold_check",
        application="graft-assembly.jar",
        java_class="graft.tools.RunPipeline",
        application_args=[
            "check", "s3a://gold",
            "{{ var.value.mysql_jdbc_url }}", "TB_VENDAS",
        ],
        conf=S3A_CONF,
    )
    ingest >> gold >> check
