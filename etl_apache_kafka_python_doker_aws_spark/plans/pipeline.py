"""Reference-parity ETL pipeline — SURVEY.md §2.10 (D1-D4) + §3.

Reproduces the reference DAG's data semantics end-to-end
(/root/reference/dags/etl_dags.py:10-62):

  produce:  scan source table → project to the clientes shape with the
            decimal→double coercion (:17-25) → JSON wire (:15)
  consume:  parse wire (:32) → dedup by key (the *intent* of the sink's
            PRIMARY KEY, :37) → processed table (:46-49)
  upload:   re-scan processed → JSON export (:53-62)

minus its bugs: the unbounded consume loop (fixed: availableNow
termination), commit-per-row (fixed: batched writes), and
crash-on-duplicate (fixed: dropDuplicates pre-sink). The Airflow task DAG
(:103) becomes DataFrame lineage with explicit materialization barriers;
the @daily schedule (:77) becomes checkpointed incremental triggers.

The wire channel is pluggable: file-channel (hermetic, used in tests) or
Kafka (sources/connectors.py) — identical JSON format either way.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_apache_kafka_python_doker_aws_spark.sources.connectors import (
    read_wire_json,
    write_json_export,
    write_wire_json,
)

# The reference's table shape (/root/reference/dags/etl_dags.py:36-44,
# English variant /root/reference/README.md:149-159). Amounts are doubles on
# the wire — the reference coerces DECIMAL(10,2)→float at every boundary
# (/root/reference/dags/etl_dags.py:23-24,58).
CUSTOMERS_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("first_name", T.StringType()),
        T.StructField("last_name", T.StringType()),
        T.StructField("address", T.StringType()),
        T.StructField("phone_number", T.StringType()),
        T.StructField("savings_pesos", T.DoubleType()),
        T.StructField("savings_dollars", T.DoubleType()),
    ]
)


# English (README.md:149-159) and Spanish (dags/etl_dags.py:36-44) column
# names for the same 7-column shape — the reference ships both variants.
_SHAPE_COLS = {
    "en": (
        "id", "first_name", "last_name", "address",
        "phone_number", "savings_pesos", "savings_dollars",
    ),
    "es": (
        "id", "nombre", "apellido", "direccion",
        "telefono", "caja_ahorro_pesos", "caja_ahorro_dolares",
    ),
}


def to_customers_shape(customer: DataFrame, variant: str = "en") -> DataFrame:
    """Derive the reference's 7-column table from the fixture `customer`
    table (derivation per FIXTURES.md 'Reference-parity schema').
    variant='en' → README customers schema; 'es' → the DAG's clientes
    schema (/root/reference/dags/etl_dags.py:17-25) — same types, same
    wire semantics, translated names."""
    names = _SHAPE_COLS[variant]
    return customer.select(
        F.col("c_custkey").alias(names[0]),
        F.split(F.col("c_name"), "#").getItem(0).alias(names[1]),
        F.split(F.col("c_name"), "#").getItem(1).alias(names[2]),
        F.concat(F.col("c_name"), F.lit(" st.")).alias(names[3]),
        F.concat(F.lit("555-"), F.col("c_custkey").cast("string")).alias(names[4]),
        F.col("c_acctbal").cast("double").alias(names[5]),
        (F.col("c_acctbal") / 1000).cast("double").alias(names[6]),
    )


@dataclass
class PipelineResult:
    wire_path: str
    processed_path: str
    export_path: str
    processed: DataFrame
    exported: DataFrame
    #: per-stage observed metrics (df.observe — collected during the
    #: stage's own write action, zero extra passes over the data):
    #: {"produce": {"n_rows", "total_pesos"}, "consume": {...}}
    metrics: dict = field(default_factory=dict)


def run_reference_pipeline(
    spark: SparkSession,
    source: DataFrame,
    workdir: str,
    simulate_redelivery: bool = False,
) -> PipelineResult:
    """Run produce → consume → upload with materialization barriers
    between stages (D1), exactly as the Airflow DAG sequences its tasks
    (/root/reference/dags/etl_dags.py:103), returning every artifact.

    simulate_redelivery doubles the wire messages to prove the consume
    stage's dedup-by-key (D4) — the case that crashes the reference."""
    from etl_apache_kafka_python_doker_aws_spark.util import ensure_parallelism

    wire = os.path.join(workdir, "wire")
    processed_path = os.path.join(workdir, "processed")
    export_path = os.path.join(workdir, "export")

    # Single-partition sources (1-row-group parquet, broadcast crossJoins)
    # would run the whole produce stage — per-row JSON serialization, the
    # pipeline's CPU-heaviest step — on one core. One cheap round-robin
    # shuffle buys full-width execution; a many-file source at cluster
    # scale makes this a no-op (measured 1.55x -> 3x vs the reference
    # loop at 1.5M rows, bench_vs_reference.py).
    source = ensure_parallelism(source)

    # --- produce (S1→P1/P2→S3): project + coerce + JSON wire.
    # df.observe rides along with the stage's write action — row counts and
    # money totals come out of the same pass, the monitoring the
    # reference's fire-and-forget tasks never had.
    obs_produce = Observation("produce")
    shaped = to_customers_shape(source).observe(
        obs_produce,
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum(F.col("savings_pesos").cast("decimal(12,2)")), 2)
        .cast("double")
        .alias("total_pesos"),
    )
    write_wire_json(shaped, wire)
    if simulate_redelivery:
        dup = shaped.select(F.to_json(F.struct(*shaped.columns)).alias("value"))
        dup.write.mode("append").text(wire)

    # --- consume (S2→from_json→T5 dedup→S4): parse, dedup, land
    obs_consume = Observation("consume")
    parsed = read_wire_json(spark, wire, CUSTOMERS_WIRE_SCHEMA)
    deduped = parsed.dropDuplicates(["id"]).observe(
        obs_consume, F.count(F.lit(1)).alias("n_rows")
    )
    deduped.write.mode("overwrite").parquet(processed_path)

    # --- upload (S1 rescan→S5 export). The schema is the one just
    # written, so the re-read skips the footer-inference job.
    processed = spark.read.schema(deduped.schema).parquet(processed_path)
    write_json_export(processed, export_path, single_file=False)

    exported = spark.read.schema(CUSTOMERS_WIRE_SCHEMA).json(export_path)
    metrics = {"produce": obs_produce.get, "consume": obs_consume.get}
    return PipelineResult(
        wire, processed_path, export_path, processed, exported, metrics
    )


def run_reference_pipeline_streaming(
    spark: SparkSession, source: DataFrame, workdir: str
) -> DataFrame:
    """The consume stage as a real Structured Streaming job: file-source
    wire channel → from_json → watermarkless dedup → checkpointed
    foreachBatch parquet upsert, availableNow trigger. This is the
    'correct form of /root/reference/dags/etl_dags.py:46-49' (SURVEY.md
    §3.3): terminating, idempotent, batched."""
    wire = os.path.join(workdir, "wire_s")
    out = os.path.join(workdir, "processed_s")
    write_wire_json(to_customers_shape(source), wire)

    stream = (
        spark.readStream.schema(T.StructType([T.StructField("value", T.StringType())]))
        .text(wire)
        .select(F.from_json("value", CUSTOMERS_WIRE_SCHEMA).alias("m"))
        .select("m.*")
        .dropDuplicates(["id"])
    )

    def upsert(batch: DataFrame, epoch: int) -> None:
        # epoch-keyed overwrite: a replayed micro-batch (failure between
        # sink commit and checkpoint commit) rewrites its own directory
        # instead of appending duplicates — true idempotence, unlike the
        # reference's at-least-once insert
        batch.write.mode("overwrite").parquet(os.path.join(out, f"epoch={epoch}"))

    q = (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", os.path.join(workdir, "ckpt_consume"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out).drop("epoch")
