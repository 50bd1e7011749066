from sequenzo_spark.rollup.aggregates import (
    derive_distribution,
    derive_spell_stats,
    derive_transition_rates,
    merge_spells,
    merge_state_counts,
    merge_transitions,
)
from sequenzo_spark.rollup.cascade import run_cascade

__all__ = [
    "merge_state_counts",
    "merge_transitions",
    "merge_spells",
    "derive_distribution",
    "derive_transition_rates",
    "derive_spell_stats",
    "run_cascade",
]
