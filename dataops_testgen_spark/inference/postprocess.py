"""Profile post-processing pipeline, in reference order.

`/root/reference/testgen/commands/queries/profiling_query.py:163-177` runs:
datatype suggestions → functional datatypes → functional table types → PII →
CDE. ``apply_inference`` chains the same steps over the profile DataFrame and
returns it enriched with ``datatype_suggestion, functional_data_type,
functional_table_type, pii_flag, critical_data_element``.

The input is collected once; the chain, its cross-row rules included (window
expressions), is ONE plan over a single-partition LocalRelation — one Spark
job — collected back into a single-partition LocalRelation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from dataops_testgen_spark.inference.cde import flag_cde
from dataops_testgen_spark.inference.datatype_suggestion import add_datatype_suggestion
from dataops_testgen_spark.inference.functional_type import (
    infer_functional_datatypes,
    with_table_types,
)
from dataops_testgen_spark.inference.pii import flag_pii
from dataops_testgen_spark.profiling.profiler import PROFILE_SCHEMA
from dataops_testgen_spark.session import local_frame

# apply_inference's output: the profile columns, then the inference columns
# (the run store's profile_results rows)
INFERRED_SCHEMA = T.StructType([
    *PROFILE_SCHEMA.fields,
    T.StructField("functional_data_type", T.StringType()),
    T.StructField("datatype_suggestion", T.StringType()),
    T.StructField("functional_table_type", T.StringType()),
    T.StructField("pii_flag", T.StringType()),
    T.StructField("critical_data_element", T.BooleanType()),
])


def _local(df: DataFrame) -> DataFrame:
    # one partition: windows over it need no exchange, and a write of it
    # is one file
    return local_frame(df.sparkSession, df.collect(), df.schema).coalesce(1)


def apply_inference(
    profile: DataFrame,
    history: DataFrame | None = None,
    id_mask: str = "%id",
    sk_mask: str = "%_sk",
) -> DataFrame:
    df = add_datatype_suggestion(_local(profile))
    df = infer_functional_datatypes(df, id_mask=id_mask, sk_mask=sk_mask)
    df = with_table_types(
        df, None if history is None else _local(history.select(
            "table_name", "run_date", "record_ct", "functional_data_type")))
    df = flag_cde(flag_pii(df.drop("table_period", "table_type")))
    return local_frame(df.sparkSession, df.toArrow(), df.schema).coalesce(1)
