"""Statistical aggregate (``agg_``) operators, one module per topic:

- ``tests``: hypothesis tests (two-sample, k-sample, paired, contingency,
  multiple-comparison control).
- ``timeseries``: daily-series diagnostics (autocorrelation, trend,
  unit-root, spectral and changepoint statistics).
- ``models``: regression, classifier training and evaluation, causal
  estimators and survival analysis.
- ``distribution``: distribution fits, tails, inequality and dependence
  measures.
- ``kpis``: product and business KPIs (funnels, baskets, attribution,
  Markov journeys, segmentation).
- ``sketches``: mergeable sketches and population / vocabulary
  estimators.
"""
