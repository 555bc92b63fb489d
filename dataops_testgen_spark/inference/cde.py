"""Critical-data-element flagging.

Reference: `/root/reference/testgen/template/profiling/cde_flagger_query.sql:1-34`
— a column is a CDE when >75% truly populated (excluding zero-length and
dummy/filled values) and its functional data type is appropriate to the
table's functional table type.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataops_testgen_spark.inference import helpers as H
from dataops_testgen_spark.session import memo


def flag_cde(profile_with_types: DataFrame) -> DataFrame:
    """profile DF with functional_data_type + functional_table_type → + critical_data_element."""
    def build():
        c = F.col
        fdt = c("functional_data_type")
        ftt = c("functional_table_type")
        pct_populated = F.round(
            100.0
            * (c("value_ct") - F.coalesce(c("zero_length_ct"), F.lit(0))
               - F.coalesce(c("filled_value_ct"), F.lit(0))).cast("double")
            / F.nullif(c("record_ct").cast("double"), F.lit(0.0)),
            0,
        )
        type_match = (
            (H.ilike(ftt, "%entity")
             & fdt.isin("Entity Name", "City", "State", "Zip", "Code", "Category"))
            | (H.ilike(ftt, "%domain") & fdt.isin("Category", "Code"))
            | (H.ilike(ftt, "%summary")
               & ((fdt == "Category") | H.ilike(fdt, "period%") | H.ilike(fdt, "measurement%")))
            | (H.ilike(ftt, "%transaction")
               & ((fdt == "Category") | H.ilike(fdt, "transactional date%")
                  | H.ilike(fdt, "measurement%")))
        )
        return F.coalesce((pct_populated > 75) & type_match, F.lit(False))

    # fixed profile-schema expression — one build per session
    return profile_with_types.withColumn(
        "critical_data_element",
        memo(profile_with_types.sparkSession, ("cde_flag",), build),
    )
