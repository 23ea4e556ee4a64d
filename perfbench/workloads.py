"""The benchmark's workloads: which operations one pass runs, and how.

An operation is ``(kind, name)``:

- ``sink``: registry query ``name`` written through
  ``sources.sink.write_parquet`` and read back for the output check;
- ``spec``: the seeded spec document of template ``name``, run as
  ``spec.parse_spec`` -> ``plans.compile_pipeline`` -> ``write_parquet``
  and checked against the DuckDB SQL generated with it;
- ``collect``: registry query ``name`` collected into this process.

The lists are subsets of the registry families each workload stands
for, chosen so that one pass takes two to four seconds on a 4-core box
and a run (JVM start, set-ups, a checked warm pass, timed passes) stays
well under a minute. ``README.md`` gives the reasons and the sizing.
"""

from __future__ import annotations

WORKLOADS: dict[str, dict] = {
    # the reference's own job: spec compile, JVM joins and aggregations,
    # the parquet sink, TPC-H reads; no Python nodes
    "etl_spec": {
        "ops": [("sink", n) for n in (
            "spec_join_fold",
            "spec_nested_rollup",
            "union_fold",
        )] + [("spec", "mentor_report"), ("spec", "order_stats")]
        + [("collect", "q9_product_profit")],
    },
    # plan construction (tiers, eager collects) is about half of a pass;
    # the n-gram join shuffles; no Python nodes
    "llm_curation": {
        "ops": [("collect", n) for n in (
            "dedup_ngram_jaccard",
            "decontam_bloom",
            "pretraining_corpus",
        )],
    },
    # every operation runs rows through Arrow/pandas Python workers;
    # construction is a small share of a pass
    "multimodal_udf": {
        "ops": [("collect", n) for n in (
            "multimodal_decode",
            "multimodal_aac_pns",
            "text_winnowing",
        )],
    },
}


def registry_names() -> list[str]:
    """Every registry query whose output is checked against a committed digest."""
    return sorted({name for w in WORKLOADS.values() for kind, name in w["ops"]
                   if kind != "spec"})
