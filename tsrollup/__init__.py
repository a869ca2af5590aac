"""tsrollup — a PySpark-native time-series rollup + downsample + retention engine.

Built from scratch over tables of pre-tokenized training sequences
(``doc_id:string, tokens:array<int32>, n_tok:int32, source:string``), treating each
doc's token array as a regularly-sampled time-series signal (position index ==
timestamp, cf. reference ``experiments/timeseries_batch_generator.py:152-155``).

Semantics derive from ari-dasci/S-TSFE-DL (see SURVEY.md):
  * sliding/tumbling window features  ≙ Conv1D / pooling stacks
  * hierarchical 1m→1h→1d tier re-agg ≙ stacked pooling downsampling
  * gap-fill before windowing          ≙ filter_indices discontinuity exclusion
  * per-sequence global aggregates     ≙ GlobalAveragePooling1D / GlobalMaxPool1D

Architecture is Spark-first, not a port: declarative DataFrame plans wherever the
semantics allow, Arrow-batched NumPy maps and UDFs (mapInArrow / arrow_udf, see
``tsrollup.arrowbuf``) for the per-window math, zero per-row Python anywhere.
"""

from . import _zipcache

# every Python worker that unpickles a tsrollup function imports this package
_zipcache.install()

__version__ = "0.1.0"

TIERS = ("1m", "1h", "1d")

# Base tier "1m" = tumbling window of W0 token positions; "1h" = 60 base windows;
# "1d" = 24*60 base windows — mirrors the reference's stacked pooling design
# (three MaxPooling1D halvings at models_keras.py:59-63; five /3 stages at :1461-1467).
BASE_WINDOW = 64
TIER_FACTOR = {"1m": 1, "1h": 60, "1d": 60 * 24}

# rFFT band count for spectral summaries (SURVEY.md §2.9).
N_BANDS = 4
