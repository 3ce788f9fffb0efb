#!/bin/sh
# Full local verification: unit/integration tests and the perfbench
# smoke test, then the DuckDB oracle gate at BOTH sf0.01 and sf0.1
# (ulp-boundary flips are scale-dependent), with the --permute
# summation-order re-run at sf0.01, then the plan audit, then the
# timestamp-sensitive keys once more under a non-UTC host+JVM timezone
# (LTZ leakage probe).
set -e
cd "$(dirname "$0")/.."
python -m pytest tests/ -q
python -m pytest perfbench/test_smoke.py -q
python tools/check.py --permute
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/check.py
python tools/audit_plans.py
TZ=America/Denver SPARK_GRAFT_JAVA_TZ=America/Denver python tools/check.py \
    q_filter_daterange q_date_functions q_validation_join \
    q_tumbling_daily q_sliding_window q_session_window q_daily_series \
    q_lookback_join \
    q_rolling_active q_transitions q_gap_fill q_dedup_bursts q_retention \
    q_time_rollup \
    q_scd2 q_mode_daily q_twap q_period_over_period q_trend_slope q_ewma \
    q_conversion_lag q_attribution_linear q_streaks q_autocorr \
    q_seasonality q_cusum_change q_growth_accounting q_activity_histogram \
    q_interarrival q_fano q_peak_concurrency q_churn q_first_touch \
    q_interval_join q_running_distinct q_top_paths \
    q_drawdown q_median_gap \
    q_priority_lag q_top_supplier q_excess_shippers
# fixture-regeneration drift gate (NULLs, encodings, dupes — gating
# variants only fail on real engine divergence)
python tools/fuzz_fixtures.py
