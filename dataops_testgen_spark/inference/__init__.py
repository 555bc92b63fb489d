"""Semantic inference over profile results (SURVEY §2.3, phase 4).

Re-expresses the reference's app-DB post-processing — datatype suggestions,
the functional-datatype rule cascade, functional table types, PII flagging,
and CDE flagging — as pure DataFrame transforms over the profile_results
DataFrame produced by ``profiling.profiler.profile_table``.

The profile DF is metadata-plane (one row per column), so the whole chain
runs as one plan over the driver's copy of it (``postprocess``); correctness
of the rule *ordering* (first-match-wins emulating the reference's UPDATE
cascade) is the hard part, not performance.
"""

from dataops_testgen_spark.inference.postprocess import apply_inference

__all__ = ["apply_inference"]
