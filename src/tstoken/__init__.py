"""tstoken — PySpark-native time-series rollup/downsample/retention engine
over tables of pre-tokenized training sequences, with PyCatcher-compatible
anomaly detection (reference: aseemanand/pycatcher, surveyed in SURVEY.md).

Layout (SURVEY.md §7.1):
    stats/      pure-NumPy statistical kernels (no Spark imports)
    rollup.py   1m/1h/1d continuous aggregates, tiers partitioned by source
    gapfill.py  calendar-spine densification
    detect.py   anomaly detectors (native DataFrame ops + grouped Arrow UDFs)
    compress.py Gorilla XOR + delta-of-delta block codecs
    retention.py, checkpoint.py, tableio.py, synth.py, compat.py
"""

__version__ = "0.1.0"
