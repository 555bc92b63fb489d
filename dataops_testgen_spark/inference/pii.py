"""PII flagging over profile results.

Reference: `/root/reference/testgen/template/profiling/pii_flag.sql:1-133` —
two screening passes over A-type columns. The primary screen is name+shape
rules; the secondary screen only fires for tables that already have >1
primary-screen hit (table_pii_counts :77-81).

Flag format: ``<risk A|B|C>/<class NAME|DEMO|ID|CONTACT>/<subtype>``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dataops_testgen_spark.inference import helpers as H
from dataops_testgen_spark.session import memo


def _primary_flag(c) -> Column:
    p1 = F.trim(H.nth_pattern(c("top_patterns"), 1))
    p2 = F.trim(H.nth_pattern(c("top_patterns"), 2))
    name = F.lower(c("column_name"))
    fdt = c("functional_data_type")
    swift_re = r"(?i)^[A-Za-z]{6}[A-Za-z0-9]{2}N{0,3}$"
    return (
        F.when(fdt.isin("Person Full Name", "Person Given Name", "Person Last Name"),
               F.lit("B/NAME/Individual"))
        .when(name.rlike("(maiden|surname)"), F.lit("B/NAME/Individual"))
        .when((fdt == "Historical Date") & name.rlike("(dob|birth)"),
              F.lit("B/DEMO/Birthdate"))
        .when(name.rlike("(nationality|race|ethnicity|gender|sex|marital)"),
              F.lit("B/DEMO/Demographic"))
        .when(H.ilike(c("column_name"), "%med%record%"), F.lit("A/DEMO/Medical"))
        .when(name.rlike("(password|pwd|auth)"), F.lit("A/ID/Security"))
        .when(
            (c("max_length") < 10) & (c("avg_embedded_spaces") < 0.1)
            & (H.ilike(c("column_name"), "pin%") | H.ilike(c("column_name"), "%pin")),
            F.lit("A/ID/Security"),
        )
        .when((c("std_pattern_match") == "SSN") & name.rlike("(ss|soc|sec)"),
              F.lit("A/ID/SSN"))
        .when(
            p1.isin("NNNNNNNNN", "NNN-NN-NNNN", "NNN NN NNNN")
            & (F.substring(c("min_text"), 1, 1) == "9")
            & c("avg_length").between(8.8, 11.2) & name.rlike("(tax|tin|fed)"),
            F.lit("A/ID/Tax"),
        )
        .when(
            p1.isin("NNNNNNNNN", "ANNNNNNNN") & c("avg_length").between(8.8, 9.2)
            & name.rlike("(passp|pp)"),
            F.lit("A/ID/Passport"),
        )
        .when(
            (c("std_pattern_match") == "CREDIT_CARD")
            & name.rlike("(credit|card|cc|acct|account)"),
            F.lit("A/ID/Credit"),
        )
        .when(
            p1.rlike(swift_re) & p2.rlike(swift_re)
            & c("avg_length").between(7.8, 11.2) & name.rlike("(swift|bic)"),
            F.lit("A/ID/Bank"),
        )
        .when(
            (c("max_length") <= 34)
            & (F.upper(F.substring(p1, 1, 2)) == "AA")
            & (H.ilike(c("column_name"), "iban%") | H.ilike(c("column_name"), "%iban")),
            F.lit("A/ID/Bank"),
        )
        .when(c("avg_length").between(5, 20) & name.rlike("(bank|checking|saving|debit)"),
              F.lit("A/ID/Bank"))
        .when(
            (c("avg_embedded_spaces") < 0.5) & (c("avg_length") < 20)
            & (name.rlike("(dr|op).*lic") | name.rlike("(driver|license|operator)")),
            F.lit("A/ID/License"),
        )
        .when(name.isin("patient_id", "pat_id"), F.lit("A/ID/Medical"))
        .when(name == "member_id", F.lit("B/ID/Commercial"))
    )


def _secondary_flag(c) -> Column:
    p1 = F.trim(H.nth_pattern(c("top_patterns"), 1))
    name = F.lower(c("column_name"))
    fdt = c("functional_data_type")
    return (
        F.when(fdt == "Email", F.lit("B/CONTACT/Email"))
        .when(fdt.isin("Address", "City", "State", "Zip"), F.lit("B/CONTACT/Address"))
        .when(fdt == "Phone", F.lit("B/CONTACT/Phone"))
        .when(name.rlike("(insur|health|med|patient)"), F.lit("A/DEMO/Medical"))
        .when(
            name.rlike("(vehicle|vin|auto|car)") & c("avg_length").between(16, 18)
            & (c("max_length") < 20) & (p1 == "AAANAAAAANNNNNNNN"),
            F.lit("B/ID/Auto"),
        )
        .when(name.rlike("(voice|fingerprint|retina|auth|biometric|iris|face_recog)"),
              F.lit("A/ID/Security"))
        .when((name == "dna") | H.ilike(c("column_name"), "%\\_dna")
              | H.ilike(c("column_name"), "dna\\_%"), F.lit("A/DEMO/Demographic"))
        .when(
            H.ilike(c("column_name"), "%rout%") & c("avg_length").between(8.8, 11.2)
            & p1.isin("NNNNNNNNN", "NNNN-NNNN-N"),
            F.lit("C/ID/Bank"),
        )
        .when(name.rlike("(salary|income|wage)"), F.lit("B/DEMO/Financial"))
        .when(name.rlike("(user_id|userid)"), F.lit("C/ID/Security"))
    )


def flag_pii(profile_fdt: DataFrame) -> DataFrame:
    """profile DF with functional_data_type → + pii_flag."""
    c = F.col

    def build():
        primary = F.when(c("general_type") == "A", _primary_flag(c))
        # the secondary screen runs in tables with >1 primary hit
        hits = F.count(c("pii_flag")).over(Window.partitionBy("table_name"))
        secondary = F.when(
            c("pii_flag").isNull() & (c("general_type") == "A") & (hits > 1),
            _secondary_flag(c),
        ).otherwise(c("pii_flag"))
        return primary, secondary

    # both screens reference only fixed profile-schema names — built once
    # per session (session.memo), not once per profiled table
    primary, secondary = memo(profile_fdt.sparkSession, ("pii_flags",), build)
    return (profile_fdt.withColumn("pii_flag", primary)
            .withColumn("pii_flag", secondary))
