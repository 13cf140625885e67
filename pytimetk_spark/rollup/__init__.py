from pytimetk_spark.rollup.compression import (
    decode_gorilla,
    decode_timestamps,
    encode_gorilla,
    encode_timestamps,
)
from pytimetk_spark.rollup.tiers import (
    TIER_FREQS,
    decode_tier_blocks,
    derived_stats,
    encode_tier_blocks,
    gap_fill_tier,
    rollup_raw_to_tier,
    rollup_tier_to_tier,
)
from pytimetk_spark.rollup.store import TierStore, run_rollup
from pytimetk_spark.rollup.retention import apply_retention
from pytimetk_spark.rollup.sketch import (
    distinct_estimates,
    rollup_distinct_tier,
    rollup_distinct_tier_to_tier,
    rollup_sketch_tier,
    rollup_sketch_tier_to_tier,
    sketch_quantiles,
)
