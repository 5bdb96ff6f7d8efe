"""Chunked-window parity (SURVEY.md §4 skew row): the per-(source,
chunk) centered MA with halos must equal the global-window operator on
the F2 fixture (chunk_buckets=64 on a ~10-year daily series puts many
frames across chunk edges)."""

import numpy as np

from drought_t_spark import synth
from drought_t_spark.config import EngineConfig
from drought_t_spark.operators.chunked import moving_avg_chunked
from drought_t_spark.operators.gapfill import gap_fill
from drought_t_spark.operators.smoothing import moving_avg
from drought_t_spark.plans.drought import series_to_tier


def test_moving_avg_chunked_parity(spark):
    tier = series_to_tier(spark.createDataFrame(synth.series_pdf()), ts_col="date")
    filled = gap_fill(tier, "day", EngineConfig(), value_cols=("value",)).persist()
    a = moving_avg(filled, 29).select("source", "bucket_start", "x_ma")
    b = moving_avg_chunked(filled, 29, "day", chunk_buckets=64).select(
        "source", "bucket_start", "x_ma"
    )
    pa = a.toPandas().sort_values(["source", "bucket_start"]).reset_index(drop=True)
    pb = b.toPandas().sort_values(["source", "bucket_start"]).reset_index(drop=True)
    assert len(pa) == len(pb)
    np.testing.assert_allclose(pa.x_ma, pb.x_ma, rtol=0, atol=1e-12)
